"""End-to-end analysis facade (reference: analysis.py:41-49,
BatchProcessingAnalysis.analyze_batches).

One lazy DataFrame plan: enabled-time estimation -> batch discovery ->
waiting-time decomposition. The reference materializes between stages
(temp CSV + R subprocess); here nothing materializes until the caller's
action, so Catalyst sees the whole pipeline at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .config import Configuration
from .operators.checkpoints import data_barrier, own, release_held
from .operators.discovery import discover_batches
from .operators.enablement import add_enabled_times
from .operators.reporting import batch_report, render_report
from .operators.waiting_time import add_waiting_times


def analyze_batches(log: DataFrame, config: Configuration | None = None,
                    detect_case_level: bool = True) -> DataFrame:
    """Event log -> log + batch columns + WT decomposition (the *_WTs
    table of the reference, outputs/*_WTs.csv.gz).

    The result is backed by the discovery pipeline's eager
    localCheckpoint, and :func:`batch_report` / ``features_table``
    called on it register their staged frames with it. When a
    long-lived session is DONE with the frame, pass it to
    :func:`release_analysis` — repeated facade invocations otherwise
    each retain one checkpointed copy of the log until driver GC gets
    around to it (measured 2.7× slowdown on the second of two
    back-to-back 1M-event runs)."""
    config = config or Configuration()
    ids = config.log_ids
    if ids.enabled_time not in log.columns:
        log = add_enabled_times(log, ids)
    batched = discover_batches(log, config, detect_case_level=detect_case_level)
    return own(add_waiting_times(batched, config), batched)


def release_analysis(df: DataFrame) -> None:
    """Free the block-manager storage behind an :func:`analyze_batches`
    result: its discovery checkpoint and the report and features blocks
    staged on its behalf. Call ONLY once every action on the frame (and
    anything derived from it) has run — localCheckpointed blocks have no
    lineage to recompute from. Idempotent; a no-op for frames that
    :func:`analyze_batches` did not return."""
    release_held(df)


def waiting_time_report(log: DataFrame, config: Configuration | None = None) -> str:
    """Event log -> rendered text report (reference: main.py:23-25)."""
    config = config or Configuration()
    analyzed = analyze_batches(log, config)
    rows = batch_report(analyzed, config).collect()
    release_analysis(analyzed)
    return render_report(rows, config)


def corpus_feature_stage(docs: DataFrame) -> DataFrame:
    """ONE wide pass over a (doc_id, text, lang) corpus (guide-§8
    shape: derive every lightweight decision column once, never
    re-traverse the heavy payload): quality features + the language-id
    trigram array (``_tg``) + the exact-dedup content hash
    (``_chash``), lazily checkpointed so each downstream consumer
    reads the staged columns instead of re-executing the input plan.
    Before this staging, the corpus-filter composition ran FIVE full
    text passes (language-id's trigram subtree alone ran three times)
    for one logical pass. Feature values are byte-identical to the
    per-operator derivations by construction (same expressions).

    Deliberately NOT reused by the near-dedup branch of
    :func:`prepare_corpus` — that branch needs the raw text
    downstream, and a keep-text variant of this stage measured slower
    than its per-operator passes (tools/ab_neardedup.py)."""
    from pyspark.sql import functions as F

    from .operators import dedup as D
    from .operators import text_analysis as TA

    cols = TA.quality_columns("text")
    out_ = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        *[c.alias(n) for n, c in cols.items()],
        TA.char_trigrams(F.col("text")).alias("_tg"),
        F.md5(D.content_norm("text")).alias("_chash"),
    )
    return data_barrier(out_)


def prepare_corpus(docs: DataFrame, *, quality_min: float = 0.2,
                   tokens_min: int = 5, tokens_max: int = 10_000,
                   shard_tokens: int = 4096,
                   benchmark: DataFrame | None = None,
                   decontamination_n: int = 8,
                   near_dedup: bool = False) -> DataFrame:
    """Training-corpus preparation facade: exact-dedup keep-list →
    quality/token filter → [benchmark decontamination] → language
    attach → token-budget shard assignment — the operators composed the
    way q53 + q63 + q59 chain them, as one callable surface.

    ``benchmark`` (optional) drops documents sharing any exact
    ``decontamination_n``-gram with the eval set (operators/
    decontamination.py) — the GPT-3/PaLM contamination rule — before
    shard assignment, so shards stay contiguous after the drop.

    ``near_dedup=True`` widens the keep-list from exact duplicates to
    near-duplicate CLUSTERS: q52's edge set (exact ∪ n-gram Jaccard) →
    connected components → one canonical (longest) survivor per cluster
    (operators/graph.py:resolve_duplicates). Strictly a subset of the
    exact keep-list.

    Returns (doc_id, predicted_lang, n_tokens, quality_score, shard).
    One wide scan of the corpus; the dedup keep-list is a content-hash
    semi-join; shards come from a per-language running token sum.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from .operators import dedup as D
    from .operators import text_analysis as TA

    if near_dedup:
        # The near-dup keep-list needs the raw text downstream (n-gram
        # shingles, longest-variant preference), so stage the input
        # once and keep the operator composition unchanged. NOT folded
        # into corpus_feature_stage: measured (tools/ab_neardedup.py,
        # r11 close, four result-identical A/B boards) — a keep-text
        # wide stage (quality + _tg + _chash in one checkpoint) never
        # beat this shape beyond the host noise band and usually lost
        # (7.07–8.54 s here vs 7.32–8.97 s staged at sf0.1); each
        # operator's pass over the bare-text checkpoint computes
        # distinct work, and carrying staged arrays through the
        # edge/ngram/resolve scans costs what the merged passes save
        # (the q44-vectors finding).
        docs = data_barrier(docs)
        qual = TA.quality_features(docs).select(
            "doc_id", "n_tokens", "quality_score")
        pred = TA.language_id(docs).select("doc_id", "predicted_lang")
        from .operators.graph import resolve_duplicates

        edges = D.exact_pair_edges(docs).unionByName(
            D.ngram_jaccard_pairs(docs, n=5, df_max=10, threshold=0.5)
            .select("id_a", "id_b")
        )
        # Prefer the longest variant, derived from the text itself so
        # the facade needs only (doc_id, text, ...) — requiring a
        # precomputed n_chars column here was an undocumented schema
        # demand the exact-dedup path doesn't make.
        canon = (
            resolve_duplicates(
                docs.withColumn("_pref_len", F.length("text")),
                edges, prefer_col="_pref_len",
            )
            .filter(F.col("is_canonical") == 1)
            .select("doc_id")
        )
    else:
        staged = corpus_feature_stage(docs)
        qual = staged.select("doc_id", "n_tokens", "quality_score")
        pred = TA.language_id(staged, tg_col="_tg").select(
            "doc_id", "predicted_lang")
        canon = (
            D.exact_dedup(staged, hash_col="_chash")
            .filter(F.col("is_canonical") == 1).select("doc_id")
        )
    kept = (
        qual.filter(
            (F.col("quality_score") >= quality_min)
            & F.col("n_tokens").between(tokens_min, tokens_max)
        )
        .join(canon, "doc_id", "left_semi")
        .join(pred, "doc_id")
    )
    if benchmark is not None:
        from .operators.decontamination import decontaminate

        clean = (
            decontaminate(docs, benchmark, n=decontamination_n)
            .filter(F.col("contaminated") == 0)
            .select("doc_id")
        )
        kept = kept.join(clean, "doc_id", "left_semi")
    w = W.partitionBy("predicted_lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        kept.withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id", "predicted_lang", "n_tokens", "quality_score",
            F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(float(shard_tokens)))
            .cast("long").alias("shard"),
        )
    )


def prepare_web_corpus(docs: DataFrame, *, url_col: str = "url",
                       id_col: str = "doc_id",
                       order_col: str | None = None,
                       domain_quota: int | None = None,
                       blocklist: DataFrame | None = None,
                       psl_rules: DataFrame | None = None,
                       include_private: bool = True,
                       _reuse_derived: bool = False) -> DataFrame:
    """URL-governance facade (M154 + M161 composed end-to-end — the
    C4/CommonCrawl web-corpus discipline): RFC 3986 canonical-URL
    exact dedup → PSL registrable domain → [domain blocklist] →
    [per-domain quota].

    - **Dedup** keeps the LOWEST ``id_col`` row per canonical URL
      (lowercased scheme/host, default ports dropped, fragment
      dropped — functions/web.py), so ``HTTPS://Host:443/p`` and
      ``https://host/p`` are one document. Rows whose ``url_col`` is
      not scheme://-shaped canonicalize to NULL and are dropped (not
      web documents).
    - **Domain** is the FULL Public Suffix List registrable domain
      (functions/psl.py — github.io sub-sites are distinct domains);
      unregistrable hosts (IPv4, dotless, suffix-itself) keep a NULL
      domain: the blocklist never matches them and the quota groups
      them as one NULL bucket.
    - **Blocklist** drops whole registrable domains via the broadcast
      anti-join (operators/mixing.py).
    - **Quota** caps each domain at ``domain_quota`` docs by
      ``order_col`` (required with a quota), deterministic on
      ``id_col``, through the skew-governed two-phase top-k.

    Adds (canon_url, host, psl_domain) to the kept rows. Scale shape:
    one window exchange on canon_url, one distinct-host PSL broadcast
    join, one anti-join, and the bounded two-phase quota — no UDF, no
    driver loop (oracle-gated end to end by q172)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from .functions import psl as PSL
    from .functions import web as WEB
    from .operators import mixing as MX

    if domain_quota is not None and order_col is None:
        raise ValueError("domain_quota needs order_col — an "
                         "unordered per-domain cap is nondeterministic")
    if _reuse_derived and {"canon_url", "host"} <= set(docs.columns):
        # facade-internal hook (prepare_crawl_corpus): the caller
        # already derived canon_url/host with THESE functions and
        # semi-joined on canon_url — reusing the attribute lets the
        # dedup window inherit that exchange instead of recomputing a
        # fresh (provably-equal but unprovable-to-Catalyst) column
        # and shuffling the corpus a second time.
        base = docs.filter(F.col("canon_url").isNotNull())
    else:
        base = (
            docs.withColumn("canon_url",
                            WEB.url_canonicalize(F.col(url_col)))
            .withColumn("host", WEB.url_host(F.col(url_col)))
            .filter(F.col("canon_url").isNotNull())
        )
    w = W.partitionBy("canon_url").orderBy(F.asc(id_col))
    deduped = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    # The PSL mapping's distinct-host side derives from `deduped`
    # (NOT the pre-window `base`): the mapping branch then contains
    # the IDENTICAL canon_url exchange as the survivor branch, which
    # Catalyst collapses to a ReusedExchange — the window subtree's
    # shuffle runs once and both branches read it. Deriving from
    # `base` looks cheaper (no window) but builds a DIFFERENT subtree
    # that re-executes the whole input lineage: measured 11.0 s vs
    # 6.4 s on the 10x governance facade (tools/ab_webcorpus.py, r11).
    out = PSL.with_psl_registered_domain(
        deduped, "host", rules=psl_rules,
        include_private=include_private)
    if blocklist is not None:
        out = MX.domain_blocklist_filter(out, "psl_domain", blocklist)
    if domain_quota is not None:
        out = MX.domain_quota_topk(out, "psl_domain", domain_quota,
                                   order_col, id_col=id_col)
    return out


def prepare_crawl_corpus(docs: DataFrame, sitemaps: DataFrame,
                         robots: DataFrame, agent: str, *,
                         url_col: str = "url", id_col: str = "doc_id",
                         sitemap_payloads: DataFrame | None = None,
                         sitemap_max_depth: int = 3,
                         order_col: str | None = None,
                         domain_quota: int | None = None,
                         blocklist: DataFrame | None = None,
                         psl_rules: DataFrame | None = None,
                         include_private: bool = True) -> DataFrame:
    """Crawl-compliance facade (M166 — the composition a real crawl
    corpus hits first): sitemap-discovered URLs → RFC 9309 robots
    permission for ``agent`` → canonical keep-set →
    :func:`prepare_web_corpus` (canonical dedup → full-PSL domain →
    blocklist → skew-governed quota).

    - **Discovery**: ``sitemaps`` is the fetched sitemap corpus
      (domain, sitemap_xml). With ``sitemap_payloads`` (loc →
      fetched xml), ``<sitemapindex>`` entries expand through the
      bounded-depth loop (operators/sitemaps.py); otherwise index
      entries are ignored (the caller recurses).
    - **Permission**: each discovered URL is decided for ``agent``
      against the parsed ``robots`` corpus (domain, robots_txt),
      keyed on the URL's OWN host; group presence comes from the
      user-agent scan so rule-less named groups shield their agent
      (RFC 9309 §2.2.1). The match target is path plus
      ``'?' + query`` when a query exists — the de-facto reading
      (rules like ``/*?x=1$`` work); a URL whose host has no robots
      document is allowed.
    - **Keep-set**: docs survive when their CANONICAL URL equals a
      discovered-and-allowed URL's canonical form (RFC 3986
      canonicalization on both sides, so ``HTTPS://Host:443/p`` in
      the fetch log matches ``https://host/p`` in the sitemap).
    - **Governance**: survivors run the full
      :func:`prepare_web_corpus` discipline.

    Scale shape: the robots decision is the zero-URL-shuffle
    broadcast+HOF plan; the seed side shuffles once (distinct
    canonical keep-set); the corpus side derives canon_url/host ONCE,
    semi-joins on canon_url, and the downstream dedup window inherits
    that exchange (``_reuse_derived``) — one corpus shuffle for
    compliance + dedup combined, then the governance stages' own
    bounded exchanges. Oracle-gated end to end by q175, whose DuckDB
    twin recomputes every stage independently."""
    from pyspark.sql import functions as F

    from .functions import web as WEB
    from .operators import robots as RB
    from .operators import sitemaps as SM

    if sitemap_payloads is not None:
        seeds = SM.expand_sitemap_indexes(
            sitemaps, sitemap_payloads, max_depth=sitemap_max_depth)
    else:
        seeds = SM.parse_sitemaps(sitemaps).filter(
            F.col("kind") == "url")
    loc = F.col("loc")
    p, q = WEB.url_path(loc), WEB.url_query(loc)
    target = F.concat(
        F.when(p == "", "/").otherwise(p),
        F.when(q == "", "").otherwise(F.concat(F.lit("?"), q)))
    sd = seeds.select(
        "loc",
        WEB.url_host(loc).alias("_rb_host"),
        target.alias("_rb_path"),
    )
    # One robots parse: the policy table and the agent-presence table
    # both derive from the same staged group scan instead of each
    # re-running the explode + window over the robots corpus.
    grouped = RB._grouped_lines(robots, "domain", "robots_txt") \
        .localCheckpoint(eager=False)
    decided = RB.robots_allowed(
        sd, RB.parse_robots(robots, _grouped=grouped), agent,
        domain_col="_rb_host", path_col="_rb_path",
        agents=RB.parse_robots_agents(robots, _grouped=grouped))
    keep = (
        decided.filter(F.col("allowed"))
        .select(WEB.url_canonicalize(F.col("loc")).alias("canon_url"))
        .filter(F.col("canon_url").isNotNull())
        .distinct()
    )
    base = (
        docs.withColumn("canon_url",
                        WEB.url_canonicalize(F.col(url_col)))
        .withColumn("host", WEB.url_host(F.col(url_col)))
        .filter(F.col("canon_url").isNotNull())
        .join(keep, "canon_url", "left_semi")
    )
    return prepare_web_corpus(
        base, url_col=url_col, id_col=id_col, order_col=order_col,
        domain_quota=domain_quota, blocklist=blocklist,
        psl_rules=psl_rules, include_private=include_private,
        _reuse_derived=True)


def expand_frontier(pages: DataFrame, robots: DataFrame, agent: str, *,
                    html_col: str = "html", url_col: str = "url",
                    known: DataFrame | None = None) -> DataFrame:
    """Frontier expansion facade (M171 — the link-following discovery
    channel beside sitemap discovery M165/M166): fetched pages →
    out-links (M170 extraction + RFC 3986 resolution) → canonical
    http(s) URLs → RFC 9309 robots permission for ``agent`` →
    [minus the ``known`` set] → the next crawl wave, one row per NEW
    canonical URL with its in-link count (``n_refs`` — the classic
    frontier priority signal) and earliest referring page.

    - Non-web schemes (mailto:, javascript:, ftp://…) drop at the
      canonicalization gate (only http/https survive).
    - ``known`` is the already-fetched/queued registry (a frame with
      a ``canon_url`` column — e.g. the M163 URL registry); matched
      URLs never re-enter the frontier.
    - Self-links and duplicate hrefs collapse in the final groupBy.

    Scale shape: extraction/resolution/canonicalization are pure
    per-row projections on the pages table; the robots decision is
    the zero-shuffle broadcast+HOF plan; ONE exchange of the link
    rows (the groupBy on canon_url — the frontier's natural key) and
    an optional anti-join against ``known`` on the same key."""
    from pyspark.sql import functions as F

    from .functions import web as WEB
    from .operators import html as H
    from .operators import robots as RB

    links = H.extract_links(
        pages.select(url_col, html_col),
        html_col=html_col, base_col=url_col)
    # Stage the per-link RESOLUTION output, then the CANONICAL form,
    # as stored narrow columns. These Column helpers compose by
    # SUBSTITUTION: url_canonicalize(resolved) copies the whole
    # url_resolve tree into each of its ~8 regexp references, and the
    # scheme gate / host / path / query derivations copy the composed
    # tree again — without the two barriers each link row re-ran the
    # resolve pipeline a few hundred times (measured 14 s of
    # single-core CPU for 25k links at sf0.1, and multi-second driver
    # planning over the exploded expression tree; staged: sub-second).
    # Both staged frames are two short strings per link — linear,
    # narrow state, the §6.1d-r8-safe shape.
    links = links.select(F.col(url_col).alias("_src"), "resolved") \
        .localCheckpoint(eager=False)
    canon = WEB.url_canonicalize(F.col("resolved"))
    cand = (
        links.withColumn("canon_url", canon)
        .filter(F.col("canon_url").isNotNull()
                & WEB.url_scheme(F.col("canon_url"))
                .isin("http", "https"))
        .select("_src", "canon_url")
        .localCheckpoint(eager=False)
    )
    p = WEB.url_path(F.col("canon_url"))
    q = WEB.url_query(F.col("canon_url"))
    target = F.concat(
        F.when(p == "", "/").otherwise(p),
        F.when(q == "", "").otherwise(F.concat(F.lit("?"), q)))
    decided = RB.robots_allowed(
        cand.withColumn("_rb_host",
                        WEB.url_host(F.col("canon_url")))
        .withColumn("_rb_path", target),
        RB.parse_robots(robots), agent,
        domain_col="_rb_host", path_col="_rb_path",
        agents=RB.parse_robots_agents(robots))
    allowed = decided.filter(F.col("allowed")) \
        .select("_src", "canon_url")
    if known is not None:
        allowed = allowed.join(
            known.select("canon_url").distinct(),
            "canon_url", "left_anti")
    return allowed.groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.min("_src").alias("first_src"))


def build_training_set(docs: DataFrame, path: str, *,
                       benchmark: DataFrame | None = None,
                       seed: str = "train:0", num_shards: int = 64,
                       **prepare_kwargs) -> None:
    """The full training-data build, end to end: ``prepare_corpus``
    (dedup → quality/token gate → optional decontamination → language)
    → deterministic seeded shuffle → ordered shard directories on disk.

    Writes ``<path>/shard=<k>/`` parquet (sources/training_sink.py) with
    each kept document's text plus ``predicted_lang / n_tokens /
    quality_score / pos``; the (shard, pos) order is the reproducible
    training order for ``seed`` — rebuilding with the same inputs and
    seed yields byte-identical shards, a different seed a fresh epoch.

    Composition is pinned to the oracle-verified pieces in
    tests/test_pipeline_corpus.py: output rows must equal
    ``seeded_shuffle(docs ⋈ prepare_corpus keep-set)``.
    """
    from .operators.ordering import seeded_shuffle
    from .sources.training_sink import write_training_shards

    kept = prepare_corpus(docs, benchmark=benchmark, **prepare_kwargs).select(
        "doc_id", "predicted_lang", "n_tokens", "quality_score"
    )
    corpus = docs.select("doc_id", "text").join(kept, "doc_id")
    ordered = seeded_shuffle(corpus, seed, num_shards)
    write_training_shards(ordered, path)


def corpus_report(docs: DataFrame,
                  profile_cols: list[str] | None = None) -> DataFrame:
    """One-call corpus health report: the release-audit artifact a data
    team reads before shipping a new corpus drop. Unions three
    verified report families into one long (section, metric, value)
    frame:

    - ``census``  — per-column null/distinct/modal stats
      (operators/profiling.profile_columns, the q77 plan);
    - ``quality`` — corpus-level aggregates of the q47 quality scores
      (docs, mean score in millionths, token totals);
    - ``dedup``   — exact-duplicate exposure (docs vs distinct content
      hashes, the q40 keep-list arithmetic).

    All numbers are exact integers (counts / floor-millionths), so the
    report is engine-reproducible. Three scans of the corpus — the
    families need different explodes; a caller that wants one scan
    persists ``docs`` first (documented trade, same as the q53 chain).
    """
    from pyspark.sql import functions as F

    from .operators import dedup as D
    from .operators import text_analysis as TA
    from .operators.profiling import profile_columns

    cols = profile_cols if profile_cols is not None else ["lang", "source"]
    # ONE census plan, two metrics exploded per column row (a second
    # profile_columns call would be a second full scan).
    census = profile_columns(docs, cols).select(F.explode(F.array(
        F.struct(F.lit("census").alias("section"),
                 F.concat(F.lit("nulls:"), F.col("col_name")).alias("metric"),
                 F.col("n_nulls").cast("long").alias("value")),
        F.struct(F.lit("census").alias("section"),
                 F.concat(F.lit("distinct:"),
                          F.col("col_name")).alias("metric"),
                 F.col("n_distinct").cast("long").alias("value")),
    )).alias("_s")).select("_s.section", "_s.metric", "_s.value")
    # Quantize-then-sum (the M37/M81 convention): floor each row to
    # integer micros BEFORE aggregating, then integer-divide. A float
    # avg() is partition-order-dependent and can flip the floored micro
    # value across cluster layouts.
    q = TA.quality_features(docs).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("n_tokens").alias("_tok"),
        F.floor(
            F.sum(F.floor(F.col("quality_score") * F.lit(1e6)).cast("long"))
            / F.count(F.lit(1))
        ).cast("long").alias("_q"),
    )
    quality = q.select(F.explode(F.array(
        F.struct(F.lit("quality").alias("section"),
                 F.lit("n_docs").alias("metric"),
                 F.col("_n").cast("long").alias("value")),
        F.struct(F.lit("quality").alias("section"),
                 F.lit("total_tokens").alias("metric"),
                 F.col("_tok").cast("long").alias("value")),
        F.struct(F.lit("quality").alias("section"),
                 F.lit("mean_quality_micro").alias("metric"),
                 F.col("_q").alias("value")),
    )).alias("_s")).select("_s.section", "_s.metric", "_s.value")
    d = D.exact_dedup(docs).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("is_canonical").alias("_k"),
    )
    dedup = d.select(F.explode(F.array(
        F.struct(F.lit("dedup").alias("section"),
                 F.lit("n_docs").alias("metric"),
                 F.col("_n").cast("long").alias("value")),
        F.struct(F.lit("dedup").alias("section"),
                 F.lit("n_unique").alias("metric"),
                 F.col("_k").cast("long").alias("value")),
        F.struct(F.lit("dedup").alias("section"),
                 F.lit("n_exact_dups").alias("metric"),
                 (F.col("_n") - F.col("_k")).cast("long").alias("value")),
    )).alias("_s")).select("_s.section", "_s.metric", "_s.value")
    return census.unionByName(quality).unionByName(dedup)
