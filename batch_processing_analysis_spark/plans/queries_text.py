"""Training-data pipeline queries (M10; BASELINE.json north star):
dedup, similarity search, text analysis, multimodal plumbing over the
driver's ``documents`` / ``embeddings`` tables — each with a DuckDB
oracle twin built from the SAME deterministic primitives (md5-derived
60-bit hashes, order-stable double summation), so value hashes match
across engines.

Oracle-generation note: the repetitive SQL (8 minhash mins, 32 simhash
bit-votes) is produced by Python loops at import time — the SQL text is
long but the semantics are the loop, which mirrors the Spark builder
exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators import decontamination as DC
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import incremental as INC
from ..operators import mixing as MX
from ..operators import multimodal as M
from ..operators import ordering as ORD
from ..operators import search as SR
from ..operators import sketches as SK
from ..operators import similarity as S
from ..operators import text_analysis as TA
from ..functions import psl as PSL
from ..functions import web as WEB
from ..pipeline import prepare_web_corpus
from ..sources.tables import load_table
from .registry import query
from .session_cache import SessionCache

# ---------------------------------------------------------------------------
# Shared oracle fragments
# ---------------------------------------------------------------------------

HASH60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

TOKS_SQL = r"""
  toks AS (
    SELECT doc_id, lang, text,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
    FROM documents
  )
"""

SHINGLES_SQL = """
  sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))) AS s
    FROM toks WHERE len(tk) >= 3
  )
"""

# Double-hashing minhash (one md5 per shingle; h1/h2 = the two 60-bit
# halves, h2 masked to 56 bits — mirrors operators/dedup.py exactly).
MINHASH_SIGS_SQL = (
    "  shh AS (\n"
    "    SELECT doc_id,\n"
    "           CAST('0x' || substr(md5(shi), 1, 15) AS BIGINT) AS h1,\n"
    "           CAST('0x' || substr(md5(shi), 16, 15) AS BIGINT)"
    " & 72057594037927935 AS h2\n"
    "    FROM (SELECT doc_id, unnest(s) AS shi FROM sh)\n"
    "  ),\n"
    "  sigs AS (\n    SELECT doc_id, "
    + ", ".join(f"min(h1 + {h} * h2) AS sig{h}" for h in range(8))
    + "\n    FROM shh GROUP BY doc_id\n  )"
)

MINHASH_BANDS_SQL = (
    "  bands AS (\n"
    + "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, CAST(sig{2*b} AS VARCHAR) || '_' || "
        f"CAST(sig{2*b+1} AS VARCHAR) AS bkey FROM sigs"
        for b in range(4)
    )
    + "\n  ),\n"
    "  guarded AS (\n"
    "    SELECT doc_id, band, bkey FROM (\n"
    "      SELECT *, count(*) OVER (PARTITION BY band, bkey) AS _n FROM bands\n"
    "    ) WHERE _n <= 1000\n  )"
)

SIMHASH_VOTES = ", ".join(
    f"sum(2 * ((h >> {b}) & 1) - 1) AS v{b}" for b in range(32)
)
SIMHASH_SIG = " + ".join(
    f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(32)
)

# cosine over DOUBLE[] with the same evaluation order as the Spark side
# (sequential left fold) so doubles are bitwise identical.
COS = (
    "(list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y))))"
)


def _fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The test tables arrive as ONE parquet file -> one input split ->
    all per-row text/vector work on one core. Round-robin repartition to
    cluster width first (the shuffle is KBs; the compute it unlocks is
    the expensive part) — but ONLY when the scan is actually narrower
    than the cluster: at real scale inputs arrive as many files and the
    repartition would be a pointless full-corpus shuffle."""
    par = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= par:
        return df
    return df.repartition(par)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan_out(spark, load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan_out(spark, load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

@query(
    "q40_dedup_exact",
    r"""
    WITH h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
      FROM documents
    )
    SELECT doc_id, content_hash,
           count(*) OVER (PARTITION BY content_hash) AS cluster_size,
           CAST(doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS INT)
             AS is_canonical
    FROM h
    """,
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text (operators/dedup.py).

    Scale: one shuffle on the content hash; window stats reuse it."""
    return D.exact_dedup(_docs(spark, sf_dir))


@query(
    "q41_dedup_minhash_lsh",
    "WITH " + TOKS_SQL + ", " + SHINGLES_SQL + ",\n"
    + MINHASH_SIGS_SQL + ",\n" + MINHASH_BANDS_SQL + ",\n"
    + """
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM guarded a JOIN guarded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      )
    SELECT id_a, id_b,
           round(len(list_intersect(sa.s, sb.s)) * 1.0
                 / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE len(list_intersect(sa.s, sb.s)) * 1.0
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
    """,
)
def q41_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(H=8) + LSH(4 bands × 2 rows) near-dup pairs, verified by
    exact Jaccard ≥ 0.5 on 3-word shingle sets.

    Scale: candidate generation is the banded bucket join (skew-guarded)
    — never an n² comparison; verification touches candidates only."""
    docs = _docs(spark, sf_dir)
    # ONE flat (doc_id, shingle) row table feeds everything — signature
    # aggregation plus all three verification joins. Flat strings cache
    # cheaply (the old array<string> form cost ~10× more to materialize
    # than to recompute); persist so the tokenize+window pipeline runs
    # once across the four forks.
    sh = D.shingle_rows(docs).persist()
    sigs = D.minhash_signatures(docs, shingles=sh)
    pairs = D.lsh_candidate_pairs(sigs)
    out = (
        D.verify_jaccard_rows(pairs, sh)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    # Materialize the (tiny: O(near-dup pairs)) result eagerly so the
    # persisted intermediate can be dropped before returning — without
    # this every invocation leaks a cached table for the session's
    # lifetime. localCheckpoint also truncates the 4-fork lineage.
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    return out


@query(
    "q42_dedup_simhash",
    "WITH " + TOKS_SQL + ",\n"
    + f"""
      tokex AS (
        SELECT doc_id, {HASH60.format(x='tok')} AS h
        FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
      ),
      votes AS (SELECT doc_id, {SIMHASH_VOTES} FROM tokex GROUP BY doc_id),
      sigs AS (SELECT doc_id, {SIMHASH_SIG} AS sig FROM votes),
      bands AS (
    """
    + "\n    UNION ALL\n".join(
        f"    SELECT doc_id, sig, {k} AS band, (sig >> {8*k}) & 255 AS bkey FROM sigs"
        for k in range(4)
    )
    + """
      ),
      guarded AS (
        SELECT doc_id, sig, band, bkey FROM (
          SELECT *, count(*) OVER (PARTITION BY band, bkey) AS _n FROM bands
        ) WHERE _n <= 1000
      )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM guarded a JOIN guarded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 2
    """,
)
def q42_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit, tf-weighted) near-dup pairs: byte-banded
    candidates (bucket-population skew guard, like q41), Hamming ≤ 2
    verify. All bit arithmetic JVM-side (operators/dedup.py)."""
    sigs = D.simhash_signatures(_docs(spark, sf_dir))
    return D.simhash_pairs(sigs)


@query(
    "q43_dedup_ngram_jaccard",
    """
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(text) - 3),
                                          i -> text[i:i+4])) AS g
      FROM documents WHERE len(text) >= 5
    ),
    ex AS (SELECT doc_id, unnest(g) AS gr FROM grams),
    dfreq AS (SELECT gr, count(*) AS df FROM ex GROUP BY gr),
    rare AS (
      SELECT ex.doc_id, ex.gr FROM ex JOIN dfreq USING (gr)
      WHERE df BETWEEN 2 AND 10
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.gr = b.gr AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(len(list_intersect(ga.g, gb.g)) * 1.0
                 / len(list_distinct(list_concat(ga.g, gb.g))), 6) AS jaccard
    FROM cand
    JOIN grams ga ON ga.doc_id = id_a
    JOIN grams gb ON gb.doc_id = id_b
    WHERE len(list_intersect(ga.g, gb.g)) * 1.0
          / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.5
    """,
)
def q43_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard near-dup join with rare-gram blocking
    (df ∈ [2,10]) — candidates only through discriminative grams."""
    return (
        D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=5, df_max=10, threshold=0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


@query(
    "q52_dedup_components",
    r"""
    WITH RECURSIVE hx AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ch
      FROM documents
    ),
    epairs AS (
      SELECT id_a, id_b FROM (
        SELECT min(doc_id) OVER (PARTITION BY ch) AS id_a, doc_id AS id_b
        FROM hx
      ) WHERE id_a <> id_b
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(text) - 3),
                                          i -> text[i:i+4])) AS g
      FROM documents WHERE len(text) >= 5
    ),
    ex AS (SELECT doc_id, unnest(g) AS gr FROM grams),
    dfreq AS (SELECT gr, count(*) AS df FROM ex GROUP BY gr),
    rare AS (
      SELECT ex.doc_id, ex.gr FROM ex JOIN dfreq USING (gr)
      WHERE df BETWEEN 2 AND 10
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.gr = b.gr AND a.doc_id < b.doc_id
    ),
    npairs AS (
      SELECT id_a, id_b FROM cand
      JOIN grams ga ON ga.doc_id = id_a
      JOIN grams gb ON gb.doc_id = id_b
      WHERE len(list_intersect(ga.g, gb.g)) * 1.0
            / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.5
    ),
    allp AS (SELECT * FROM epairs UNION SELECT * FROM npairs),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM allp
      UNION SELECT id_b, id_a FROM allp
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
    ),
    comps AS (SELECT id AS doc_id, min(comp) AS component
              FROM reach GROUP BY id)
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS cluster_size
    FROM comps
    """,
)
def q52_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup *clusters*: union exact-duplicate edges with n-gram-Jaccard
    near-dup edges (q43's parameters), then label each document with its
    connected component (min reachable doc id) — the keep-one-per-cluster
    primitive of a dedup pipeline.

    Spark side: iterative min-label propagation + pointer jumping
    (operators/graph.py, O(log n) driver-coordinated supersteps, each a
    hash join/agg on node id). Oracle: recursive-CTE transitive closure
    — exponentially more work, viable only at oracle scale, which is the
    point of the distributed formulation."""
    cc = _doc_components(spark, sf_dir)
    w = W.partitionBy("component")
    return cc.withColumn("cluster_size", F.count(F.lit(1)).over(w))


# One CC-fixpoint execution per (session, sf_dir): q52 and q75 consume
# the SAME edge set (exact ∪ n-gram Jaccard) and the same component
# labels; the fixpoint's output is eager-localCheckpointed (lineage-
# free, block-cached) so both queries — and any facade — share one run
# instead of each re-propagating (the _DISC_CACHE precedent,
# plans/queries_eventlog.py).
_CC_CACHE = SessionCache()


def _doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        docs = _docs(spark, sf_dir)
        edges = D.exact_pair_edges(docs).unionByName(
            D.ngram_jaccard_pairs(docs, n=5, df_max=10, threshold=0.5)
            .select("id_a", "id_b")
        )
        cc = G.connected_components(docs.select("doc_id"), edges)
        return cc.localCheckpoint(eager=True)

    return _CC_CACHE.get(spark, (sf_dir,), build)


_NB_CACHE = SessionCache()


def _nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached NB seed-classifier scores (doc_id, n_tokens,
    score_micro, predicted) — four queries (q124/q134/q135/q139)
    consume the same scoring pipeline; stage it once per
    (application, sf_dir), the _doc_components / features-table
    precedent."""
    return _NB_CACHE.get(spark, (sf_dir,), lambda: TA.nb_class_scores(
        _docs(spark, sf_dir)).localCheckpoint(eager=True))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

EMB_SQL = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

# Hyperplane normals for SRP-LSH, generated ONCE and embedded in BOTH
# engines QUANTIZED to int64 (floor(w·2^20 + 0.5), mirroring
# similarity.SRP_Q): integer dot products are exact in any summation
# order, so the Spark side runs relationally (no fold-order contract)
# and still matches DuckDB bit-for-bit.
# 8 bands x 4 bits: banding recall ~0.75 at sim 0.4, ~0.9 at 0.6 (the
# testdata's near-dup range). At corpus scale widen num_bits/band_bits
# together (e.g. 128/16) so buckets stay small — plan shape unchanged.
_SRP_BITS, _SRP_BAND_BITS, _SRP_DIM = 32, 4, 64
_SRP_HP_SQL = (
    "hp AS (SELECT * FROM (VALUES "
    + ", ".join(
        "({}, [{}]::BIGINT[])".format(
            p,
            ", ".join(str(int(math.floor(x * S.SRP_Q + 0.5))) for x in plane),
        )
        for p, plane in enumerate(S.hyperplanes(_SRP_BITS, _SRP_DIM))
    )
    + ") AS t(p, w))"
)


@query(
    "q44_embedding_neardup",
    f"""
    WITH {EMB_SQL},
    {_SRP_HP_SQL},
    dots AS (
      SELECT e.vec_id, hp.p,
             list_reduce(list_transform(range(1, len(e.v) + 1),
                                        i -> CAST(floor(e.v[i] * {S.SRP_Q}.0 + 0.5)
                                                  AS BIGINT) * hp.w[i]),
                         (x, y) -> x + y) AS dot
      FROM e CROSS JOIN hp
    ),
    sigs AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM dots GROUP BY vec_id
    ),
    bands AS (
    """
    + "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {k} AS band, (sig >> {_SRP_BAND_BITS * k})"
        f" & {(1 << _SRP_BAND_BITS) - 1} AS bkey FROM sigs"
        for k in range(_SRP_BITS // _SRP_BAND_BITS)
    )
    + f"""
    ),
    guarded AS (
      SELECT vec_id, band, bkey FROM (
        SELECT *, count(*) OVER (PARTITION BY band, bkey) AS _n FROM bands
      ) WHERE _n <= 1000
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM guarded a JOIN guarded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round({COS.format(a='ea.v', b='eb.v')}, 6) AS sim
    FROM cand
    JOIN e ea ON ea.vec_id = id_a
    JOIN e eb ON eb.vec_id = id_b
    WHERE {COS.format(a='ea.v', b='eb.v')} >= 0.4
    """,
)
def q44_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH (SRP) banding with
    exact-cosine verification of candidates only — NO cross join in the
    plan (the former exact O(n²) variant survives as
    ``similarity.neardup_pairs``, the small-corpus oracle twin).

    Scale: candidate generation is a hash equi-join on (band, band-key)
    with a skew guard; at 10⁹ vectors widen num_bits/band_bits so
    buckets stay small — the plan shape is unchanged."""
    return S.srp_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.4,
        num_bits=_SRP_BITS, band_bits=_SRP_BAND_BITS, dim=_SRP_DIM,
    )


@query(
    "q45_ann_cosine_topk",
    f"""
    WITH {EMB_SQL},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {COS.format(a='q.qv', b='e.v')} AS sim
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
    FROM ranked WHERE rank <= 5
    """,
    primary=False,
)
def q45_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors — the
    exactness baseline for ANN (operators/similarity.py)."""
    embs = _embs(spark, sf_dir)
    return S.brute_force_topk(embs, embs.filter(F.col("vec_id") < 10), k=5)


@query(
    "q46_ann_ivf_topk",
    f"""
    WITH {EMB_SQL},
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {COS.format(a='e.v', b='cent.cv')} DESC, cent.centroid_id
               ) AS rn
        FROM e CROSS JOIN cent
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.query_id, q.qv, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {COS.format(a='q.qv', b='cent.cv')} DESC, cent.centroid_id
               ) AS rn
        FROM q CROSS JOIN cent
      ) WHERE rn <= 3
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {COS.format(a='p.qv', b='a.v')} AS sim
      FROM probes p JOIN assigned a USING (centroid_id)
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
    FROM ranked WHERE rank <= 5
    """,
)
def q46_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5: deterministic-subsample centroids (vec_id % 50 = 0),
    nprobe=3. The bucketed scale path — probes touch N·nprobe/C of the
    corpus instead of all of it."""
    embs = _embs(spark, sf_dir)
    return S.ivf_topk(embs, embs.filter(F.col("vec_id") < 10), k=5,
                      stride=50, nprobe=3)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "q47_text_quality",
    "WITH " + TOKS_SQL + r"""
    SELECT doc_id,
           len(tk) AS n_tokens,
           len(text) AS n_chars,
           round(list_reduce(list_transform(tk, x -> len(x)), (x, y) -> x + y)
                 * 1.0 / len(tk), 6) AS avg_token_len,
           round(len(regexp_replace(text, '[a-z0-9\s]', '', 'g')) * 1.0
                 / len(text), 6) AS punct_ratio,
           round(len(list_filter(tk, x -> x IN
                     ('a','the','of','and','in','to','is'))) * 1.0 / len(tk), 6)
             AS stopword_ratio,
           round(least(1.0, len(tk) / 100.0)
                 * (1.0 - len(regexp_replace(text, '[a-z0-9\s]', '', 'g')) * 1.0
                          / len(text))
                 * (1.0 - abs(len(list_filter(tk, x -> x IN
                        ('a','the','of','and','in','to','is'))) * 1.0 / len(tk)
                        - 0.25)), 6) AS quality_score
    FROM toks
    """,
)
def q47_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword features + composite
    score; purely narrow codegen expressions — zero shuffles."""
    return TA.quality_features(_docs(spark, sf_dir))


# Trigram-profile language-ID chain, shared by q48 and the composite
# corpus filter (q53): cov(doc_id, actual_lang, cand_lang, coverage).
LANGID_CTES = """
    tg AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(range(1, len(lower(text)) - 1),
                                  i -> lower(text)[i:i+2]))) AS tg
      FROM documents WHERE len(text) >= 3
    ),
    profile AS (
      SELECT lang AS cand_lang, tg FROM (
        SELECT lang, tg, count(*) AS n,
               row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tg) AS rn
        FROM tg GROUP BY lang, tg
      ) WHERE rn <= 20
    ),
    doc_n AS (
      SELECT doc_id, any_value(lang) AS actual_lang, count(DISTINCT tg) AS n_tg
      FROM tg GROUP BY doc_id
    ),
    hits AS (
      SELECT t.doc_id, p.cand_lang, count(*) AS n_hit
      FROM (SELECT DISTINCT doc_id, tg FROM tg) t JOIN profile p USING (tg)
      GROUP BY t.doc_id, p.cand_lang
    ),
    cov AS (
      SELECT dn.doc_id, dn.actual_lang,
             COALESCE(h.cand_lang, '??') AS cand_lang,
             COALESCE(h.n_hit * 1.0 / dn.n_tg, 0.0) AS coverage
      FROM doc_n dn LEFT JOIN hits h USING (doc_id)
    )
"""


@query(
    "q48_lang_id",
    "WITH " + LANGID_CTES + """
    SELECT doc_id, cand_lang AS predicted_lang, actual_lang,
           CAST(cand_lang = actual_lang AS INT) AS hit,
           round(coverage, 6) AS coverage
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY coverage DESC, cand_lang) AS rn
      FROM cov
    ) WHERE rn = 1
    """,
)
def q48_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via corpus-trained char-trigram profiles (top-20 per
    language, coverage argmax). Profile is tiny → broadcast back."""
    return TA.language_id(_docs(spark, sf_dir))


@query(
    "q49_token_count",
    r"""
    WITH """ + TOKS_SQL + r"""
    SELECT doc_id, len(tk) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens,
           octet_length(encode(text)) AS n_bytes
    FROM toks
    """,
)
def q49_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token accounting per document."""
    return TA.token_counts(_docs(spark, sf_dir))


@query(
    "q56_repetition_signals",
    "WITH " + TOKS_SQL + r""",
    g2 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                                           i -> tk[i] || ' ' || tk[i+1])) AS g
      FROM toks WHERE len(tk) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
      FROM toks WHERE len(tk) >= 3
    ),
    s2 AS (
      SELECT doc_id, sum(c) AS total, count(*) AS uniq, max(c) AS top
      FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
      GROUP BY doc_id
    ),
    s3 AS (
      SELECT doc_id, sum(c) AS total, count(*) AS uniq, max(c) AS top
      FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           round(COALESCE((s2.total - s2.uniq) * 1.0 / s2.total, 0.0), 6)
             AS dup_2gram_frac,
           round(COALESCE(s2.top * 1.0 / s2.total, 0.0), 6) AS top_2gram_frac,
           round(COALESCE((s3.total - s3.uniq) * 1.0 / s3.total, 0.0), 6)
             AS dup_3gram_frac,
           round(COALESCE(s3.top * 1.0 / s3.total, 0.0), 6) AS top_3gram_frac
    FROM toks t
    LEFT JOIN s2 USING (doc_id)
    LEFT JOIN s3 USING (doc_id)
    """,
)
def q56_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate and top-n-gram
    occurrence fractions for 2/3-grams per document
    (operators/text_analysis.py:repetition_signals)."""
    return TA.repetition_signals(_docs(spark, sf_dir))


@query(
    "q57_pattern_counts",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS n_emails,
           len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
           len(regexp_extract_all(text, '[0-9]{6,}')) AS n_digit_runs,
           round(COALESCE(len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                          / len(text), 0.0), 6) AS digit_frac
    FROM documents
    """,
)
def q57_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL/digit-run counts + digit fraction per document — the
    content-safety pattern pass (operators/text_analysis.py)."""
    return TA.pattern_counts(_docs(spark, sf_dir))


@query(
    "q60_winnowing_pairs",
    f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
      FROM documents WHERE len(text) >= 11
    ),
    gh AS (
      SELECT doc_id, i, {HASH60.format(x='text[i:i+7]')} AS h FROM pos
    ),
    wm AS (
      SELECT doc_id, i,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
             max(i) OVER (PARTITION BY doc_id) AS np
      FROM gh
    ),
    fps AS (SELECT DISTINCT doc_id, m AS fp FROM wm WHERE i <= np - 3),
    dfreq AS (SELECT fp, count(*) AS dfq FROM fps GROUP BY fp),
    rare AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN dfreq USING (fp)
      WHERE dfq BETWEEN 2 AND 20
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
    FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b HAVING count(*) >= 3
    """,
)
def q60_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style containment candidates: pairs sharing ≥3 winnowing
    fingerprints (k=8, window=4) under rare-fingerprint blocking
    (df ∈ [2,20]) — the plagiarism/containment near-dup family,
    relational end to end (operators/text_analysis.py)."""
    return TA.winnowing_overlap_pairs(_docs(spark, sf_dir))


@query(
    "q58_stratified_sample",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('corpus-sample' || chr(31) || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang, rn AS sample_rank
    FROM ranked
    WHERE rn <= greatest(CAST(ceil(n_lang * 0.2) AS BIGINT), 5)
    """,
)
def q58_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sampling: keep ~20% per language (floor 5) by
    ranking documents on a reproducible md5(seed, id) key — the balanced
    subsample every training pipeline draws, identical on every engine
    and rerun (the W7 determinism policy, unlike rand()).

    Scale: one shuffle on the stratum key; the per-stratum window
    reuses it. Skewed strata are fine — rank, don't collect."""
    docs = _docs(spark, sf_dir)
    w = W.partitionBy("lang").orderBy(
        F.md5(F.concat_ws("\x1f", F.lit("corpus-sample"),
                          F.col("doc_id").cast("string"))),
        "doc_id",
    )
    quota = F.greatest(
        F.ceil(F.count(F.lit(1)).over(W.partitionBy("lang")) * 0.2).cast("long"),
        F.lit(5).cast("long"),
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w))
        .withColumn("_quota", quota)
        .filter(F.col("sample_rank") <= F.col("_quota"))
        .drop("_quota")
    )


@query(
    "q59_token_shard_packing",
    "WITH " + TOKS_SQL + """
    , sized AS (
      SELECT doc_id, lang, len(tk) AS n_tokens,
             sum(len(tk)) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard
    FROM sized
    """,
)
def q59_token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: assign documents to ~4096-token
    training shards per language by cumulative token count in a
    deterministic (doc_id) order — the sequence-packing prepass that
    turns a filtered corpus into fixed-budget work units.

    Scale: one window shuffle on the stratum; the running sum is
    streaming (no buffering). A greedy bin-packer would need per-bin
    state; the cumulative-quotient form is the distributable
    equivalent, off by at most one document per boundary."""
    docs = _docs(spark, sf_dir)
    n_tok = F.size(TA.tokens(F.col("text")))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    sized = docs.select(
        "doc_id", "lang", n_tok.alias("n_tokens")
    ).withColumn("cum", F.sum("n_tokens").over(w))
    return sized.select(
        "doc_id", "lang", "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(4096.0))
        .cast("long").alias("shard"),
    )


@query(
    "q53_corpus_filter",
    "WITH " + TOKS_SQL + ",\n" + LANGID_CTES + r""",
    qual AS (
      SELECT doc_id,
             len(tk) AS n_tokens,
             round(least(1.0, len(tk) / 100.0)
                   * (1.0 - len(regexp_replace(text, '[a-z0-9\s]', '', 'g')) * 1.0
                            / len(text))
                   * (1.0 - abs(len(list_filter(tk, x -> x IN
                          ('a','the','of','and','in','to','is'))) * 1.0 / len(tk)
                          - 0.25)), 6) AS quality_score
      FROM toks
    ),
    pred AS (
      SELECT doc_id, cand_lang AS predicted_lang
      FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY coverage DESC, cand_lang) AS rn
        FROM cov
      ) WHERE rn = 1
    ),
    canon AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS c
        FROM documents
      ) WHERE doc_id = c
    )
    SELECT q.doc_id, p.predicted_lang, q.n_tokens, q.quality_score
    FROM qual q
    JOIN canon USING (doc_id)
    JOIN pred p USING (doc_id)
    WHERE q.quality_score >= 0.2 AND q.n_tokens BETWEEN 5 AND 10000
    """,
)
def q53_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-corpus filter — the operators composed the way
    a real data pipeline chains them: keep documents that are (a) the
    canonical row of their exact-duplicate cluster, (b) quality-scored
    >= 0.2, (c) 5..10000 tokens long; attach the predicted language.

    Scale: quality features are narrow codegen over the scan; the dedup
    keep-list is one content-hash shuffle semi-joined back; language ID
    broadcasts its tiny trigram profile. One wide input pass total —
    composition adds no extra scan of the corpus (the staged
    feature pass, pipeline.corpus_feature_stage, makes that literal:
    quality/trigrams/hash derive once into a lazy checkpoint)."""
    from ..pipeline import corpus_feature_stage

    staged = corpus_feature_stage(_docs(spark, sf_dir))
    qual = staged.select("doc_id", "n_tokens", "quality_score")
    pred = TA.language_id(staged, tg_col="_tg").select(
        "doc_id", "predicted_lang")
    canon = (
        D.exact_dedup(staged, hash_col="_chash")
        .filter(F.col("is_canonical") == 1).select("doc_id")
    )
    return (
        qual.filter(
            (F.col("quality_score") >= 0.2) & F.col("n_tokens").between(5, 10000)
        )
        .join(canon, "doc_id", "left_semi")
        .join(pred, "doc_id")
        .select("doc_id", "predicted_lang", "n_tokens", "quality_score")
    )


@query(
    "q50_fingerprint",
    f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(range(1, len(text) - 6),
                            i -> {HASH60.format(x='text[i:i+7]')}) AS hs
      FROM documents WHERE len(text) >= 11
    ),
    fp AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(range(1, len(hs) - 2),
                       i -> list_aggregate(hs[i:i+3], 'min')))) AS fps
      FROM h
    )
    SELECT doc_id, len(fps) AS n_fingerprints,
           md5(array_to_string(fps, ',')) AS fp_digest
    FROM fp
    """,
)
def q50_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=8 char-grams, window=4): rolling-hash
    minima per sliding window, digest of the distinct set."""
    return TA.winnowing_fingerprints(_docs(spark, sf_dir))


@query(
    "q51_multimodal_features",
    """
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
      FROM documents
    )
    SELECT doc_id, 'text' AS modality,
           nb AS n_bytes,
           CAST(COALESCE(list_aggregate(
                  list_transform(range(1, nb + 1),
                                 i -> CAST('0x' || substr(h, 2 * i - 1, 2) AS BIGINT)),
                  'sum'), 0) % 997 AS BIGINT) AS byte_checksum,
           64 AS feature_dim
    FROM hx
    """,
)
def q51_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → Arrow-batched
    mapInPandas feature extraction (operators/multimodal.py). Codec is
    a deterministic byte-level stand-in (real codecs absent here); the
    schema/batching/partitioning path is the real one."""
    return M.binary_features(_docs(spark, sf_dir))


@query(
    "q54_frame_sample",
    """
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
      FROM documents
    ),
    fr AS (
      SELECT doc_id, h, nb,
             unnest(range(0, CAST(ceil(nb / 32.0) AS BIGINT))) AS frame_index
      FROM hx
    )
    SELECT doc_id, frame_index,
           least(32, nb - frame_index * 32) AS frame_bytes,
           CAST(COALESCE(list_aggregate(
                  list_transform(range(1, least(32, nb - frame_index * 32) + 1),
                                 i -> CAST('0x' || substr(h, frame_index * 64
                                           + 2 * i - 1, 2) AS BIGINT)),
                  'sum'), 0) % 997 AS BIGINT) AS frame_checksum
    FROM fr WHERE frame_index % 2 = 0
    """,
    primary=False,
)
def q54_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (video-style 1→N extraction): payload split into
    32-byte frames, every 2nd kept, one row per sampled frame via
    Arrow-batched mapInPandas (operators/multimodal.py:sample_frames)."""
    return M.sample_frames(
        M.as_binary_payloads(_docs(spark, sf_dir)), frame_size=32, every_n=2
    )


@query(
    "q55_payload_resize",
    """
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
      FROM documents
    )
    SELECT doc_id, nb AS n_bytes,
           CAST(ceil(nb / 4.0) AS BIGINT) AS resized_bytes,
           CAST(COALESCE(list_aggregate(
                  list_transform(range(0, CAST(ceil(nb / 4.0) AS BIGINT)),
                                 i -> CAST('0x' || substr(h, 8 * i + 1, 2)
                                           AS BIGINT)),
                  'sum'), 0) % 997 AS BIGINT) AS resized_checksum
    FROM hx
    """,
    primary=False,
)
def q55_payload_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload resize (image-style shrink): byte-stride downsample by 4
    through the binary-in/binary-out mapInPandas path
    (operators/multimodal.py:resize_payload)."""
    return M.resize_payload(M.as_binary_payloads(_docs(spark, sf_dir)), factor=4)


@query(
    "q62_doc_chunking",
    "WITH " + TOKS_SQL + """
    , sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
    chunks AS (
      SELECT doc_id, tk, n,
             unnest(range(0, CASE WHEN n = 0 THEN 0
                                  WHEN n <= 64 THEN 1
                                  ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1
                             END)) AS chunk_id
      FROM sized
    )
    SELECT doc_id, chunk_id,
           array_to_string(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
             AS chunk_text,
           least(64, n - chunk_id * 48) AS chunk_n_tokens
    FROM chunks
    """,
    primary=False,
)
def q62_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, stride 48):
    the prepass that turns filtered documents into fixed-budget training
    samples; q59-style shard packing applies unchanged to the chunks.

    Scale: narrow per-row explode, fan-out ceil(n/stride), no shuffle.
    Secondary registry (the driver window holds the 50 family
    representatives); oracle-gated by tests/test_extra_queries.py."""
    return TA.chunk_documents(_docs(spark, sf_dir))


@query(
    "q63_decontaminate",
    r"""
    WITH toks8 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    bg AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')))) AS gram
      FROM toks8 WHERE doc_id % 20 = 0
    ),
    dg AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')))) AS gram
      FROM toks8 WHERE doc_id % 20 <> 0
    ),
    agg AS (
      SELECT dg.doc_id, count(*) AS n_grams, count(bg.gram) AS n_contaminated
      FROM dg LEFT JOIN bg USING (gram) GROUP BY dg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_grams, 0) AS n_grams,
           COALESCE(a.n_contaminated, 0) AS n_contaminated,
           round(COALESCE(a.n_contaminated, 0) * 1.0
                 / greatest(COALESCE(a.n_grams, 0), 1), 6)
             AS contamination_ratio,
           CASE WHEN COALESCE(a.n_contaminated, 0) > 0 THEN 1 ELSE 0 END
             AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
    LEFT JOIN agg a USING (doc_id)
    """,
    primary=False,
)
def q63_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / PaLM §6.1): flag
    corpus documents sharing an exact 8-token gram with the held-out
    benchmark slice (every 20th doc_id stands in for an eval set).

    Spark side: operators/decontamination.py — benchmark grams
    broadcast, corpus grams built in-row via transform/slice, one
    partial-aggregatable count per doc. Secondary registry; oracle-gated
    by tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return DC.decontaminate(corpus, bench, n=8)


@query(
    "q64_diversity_signals",
    r"""
    WITH toksd AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    tc AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(tk) AS tok FROM toksd)
      GROUP BY doc_id, tok
    ),
    ta AS (
      SELECT doc_id, sum(c) AS n, count(*) AS uq, sum(c * c) AS ss,
             max(c) AS mx
      FROM tc GROUP BY doc_id
    ),
    cr AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(lower(text)) + 1),
                                   i -> substr(lower(text), CAST(i AS INT), 1)))
               AS ch
      FROM documents
    ),
    cc2 AS (
      SELECT doc_id, ch, count(*) AS c FROM cr GROUP BY doc_id, ch
    ),
    ca AS (
      SELECT doc_id, sum(c) AS m, sum(c * c) AS css FROM cc2 GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(ta.n, 0) AS BIGINT) AS n_tokens,
           COALESCE(ta.uq, 0) AS n_distinct_tokens,
           CASE WHEN COALESCE(ta.n, 0) > 0
                THEN round(ta.uq * 1.0 / ta.n, 6) ELSE 0.0 END
             AS distinct_token_ratio,
           CASE WHEN COALESCE(ta.n, 0) > 0
                THEN round((ta.n * ta.n - ta.ss) * 1.0 / (ta.n * ta.n), 6)
                ELSE 0.0 END AS token_simpson,
           CASE WHEN COALESCE(ta.n, 0) > 0
                THEN round(ta.mx * 1.0 / ta.n, 6) ELSE 0.0 END
             AS top_token_share,
           CASE WHEN COALESCE(ca.m, 0) > 0
                THEN round((ca.m * ca.m - ca.css) * 1.0 / (ca.m * ca.m), 6)
                ELSE 0.0 END AS char_simpson
    FROM documents d
    LEFT JOIN ta USING (doc_id)
    LEFT JOIN ca USING (doc_id)
    """,
    primary=False,
)
def q64_diversity_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson lexical-diversity signals per document (token and
    character level) — the entropy-style degenerate-text filter of a
    training pipeline, expressed with exact integer sums so both
    engines agree bit-for-bit (operators/text_analysis.py:
    diversity_signals). Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.diversity_signals(_docs(spark, sf_dir))


@query(
    "q65_quantized_topk",
    f"""
    WITH {EMB_SQL},
    mx AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e
    ),
    qz AS (
      SELECT vec_id,
             CASE WHEN m > 0
                  THEN list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5)
                                                   AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
      FROM mx
    ),
    qs AS (
      SELECT vec_id, qv,
             list_aggregate(list_transform(qv, x -> x * x), 'sum') AS ss
      FROM qz
    ),
    q AS (SELECT vec_id AS query_id, qv AS qa, ss AS ssa
          FROM qs WHERE vec_id < 10),
    sims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CASE WHEN q.ssa > 0 AND c.ss > 0
                  THEN list_aggregate(
                         list_transform(range(1, len(q.qa) + 1),
                                        i -> q.qa[i] * c.qv[i]), 'sum') * 1.0
                       / (sqrt(q.ssa) * sqrt(c.ss))
                  ELSE 0.0 END AS sim
      FROM q JOIN qs c ON c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
    FROM ranked WHERE rank <= 5
    """,
    primary=False,
)
def q65_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) cosine top-5 — exact integer dot
    products over quantized codes, 4-8x less memory traffic than the
    float baseline q45 (operators/similarity.py:quantized_topk).
    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    embs = _embs(spark, sf_dir)
    return S.quantized_topk(embs, embs.filter(F.col("vec_id") < 10), k=5)


@query(
    "q67_bm25_topk",
    r"""
    WITH toksq AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    base AS (
      SELECT doc_id, len(tk) AS dl,
             list_filter(tk, t -> t IN ('merge', 'spark', 'window')) AS hits
      FROM toksq
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM (SELECT doc_id, dl, unnest(hits) AS term FROM base)
      GROUP BY doc_id, dl, term
    ),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
               * 1e6 + 0.5) AS BIGINT) AS micros
      FROM tf JOIN dft d USING (term) CROSS JOIN stats s
    )
    SELECT doc_id, count(*) AS n_hit_terms,
           CAST(sum(micros) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT 10
    """,
    primary=False,
)
def q67_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword top-10 for the query {merge, spark, window}
    (operators/search.py:bm25_topk) — the relational inverted-index
    lookup: postings filtered to query terms before any shuffle, df/N
    broadcast back, per-term contributions quantized to integer micros
    so the per-doc sum is exact in any engine/order.

    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    return SR.bm25_topk(_docs(spark, sf_dir), ["merge", "spark", "window"])


@query(
    "q68_incremental_merge",
    r"""
    WITH base AS (
      SELECT * FROM documents WHERE doc_id % 4 <> 0
    ),
    delta AS (
      SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
      FROM documents
    ),
    bh AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS content_hash
      FROM base
    ),
    dh AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS content_hash
      FROM delta
    ),
    canon AS (
      SELECT doc_id, content_hash FROM (
        SELECT doc_id, content_hash,
               min(doc_id) OVER (PARTITION BY content_hash) AS _c
        FROM dh
      ) WHERE doc_id = _c
    ),
    kept AS (
      SELECT d.doc_id, d.lang
      FROM delta d JOIN canon USING (doc_id)
      LEFT JOIN bh USING (content_hash)
      WHERE bh.content_hash IS NULL
    )
    SELECT doc_id, lang, 'base' AS origin FROM base
    UNION ALL
    SELECT doc_id, lang, 'delta' AS origin FROM kept
    """,
    primary=False,
)
def q68_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-dedup ingest (operators/incremental.py): base =
    docs with doc_id % 4 != 0; delta = the whole table re-keyed
    (+1 000 000). Delta rows survive iff canonical within delta AND
    content-hash unseen in base — base is touched only for its hash
    registry, never re-deduplicated.

    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    return INC.merge_exact_increment(base, delta).select(
        "doc_id", "lang", "origin"
    )


@query(
    "q69_seeded_shuffle",
    r"""
    WITH keyed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('train:0:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) AS k
      FROM documents
    )
    SELECT doc_id, CAST(k % 16 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY k % 16 ORDER BY k, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    """,
    primary=False,
)
def q69_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle (operators/ordering.py):
    seeded 60-bit-hash permutation, sharded mod 16 — reproducible
    across engines and epoch-parameterized by the seed string. No
    global sort: one shard shuffle + per-shard window.

    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    return ORD.seeded_shuffle(
        _docs(spark, sf_dir), "train:0", 16
    ).select("doc_id", "shard", "pos")


MIX_WEIGHTS = {f"src{i}": (2.0 if i % 2 == 0 else 1.0) for i in range(20)}

@query(
    "q70_source_mixing",
    r"""
    WITH """ + TOKS_SQL + r""",
    d AS (
      SELECT t.doc_id, doc.source, len(t.tk) AS n_tokens
      FROM toks t JOIN documents doc ON t.doc_id = doc.doc_id
    ),
    w(source, _budget) AS (
      VALUES ('src0', 1333.3333333333333),
        ('src1', 666.6666666666666),
        ('src10', 1333.3333333333333),
        ('src11', 666.6666666666666),
        ('src12', 1333.3333333333333),
        ('src13', 666.6666666666666),
        ('src14', 1333.3333333333333),
        ('src15', 666.6666666666666),
        ('src16', 1333.3333333333333),
        ('src17', 666.6666666666666),
        ('src18', 1333.3333333333333),
        ('src19', 666.6666666666666),
        ('src2', 1333.3333333333333),
        ('src3', 666.6666666666666),
        ('src4', 1333.3333333333333),
        ('src5', 666.6666666666666),
        ('src6', 1333.3333333333333),
        ('src7', 666.6666666666666),
        ('src8', 1333.3333333333333),
        ('src9', 666.6666666666666)
    ),
    keyed AS (
      SELECT d.*, w._budget,
             CAST('0x' || substr(md5('mix:0:' || CAST(d.doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) AS _k
      FROM d JOIN w USING (source)
    ),
    cum AS (
      SELECT doc_id, source, n_tokens, _budget,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY _k, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM keyed
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE (cum_tokens - n_tokens) < floor(_budget)
    """,
    primary=False,
)
def q70_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing (operators/mixing.py): even-numbered
    sources weighted 2x, 20k-token total budget, seeded-hash selection
    order — the GPT-3/LLaMA-style mixture materialized as one window
    pass. Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    sized = docs.select(
        "doc_id", "source", F.size(D.tokens(F.col("text"))).alias("n_tokens")
    )
    return MX.mix_sources(sized, MIX_WEIGHTS, 20000, seed="mix:0")


@query(
    "q72_unigram_logprob",
    "WITH " + TOKS_SQL + r""",
    occ AS (SELECT doc_id, unnest(tk) AS _t FROM toks),
    vocab AS (SELECT _t, count(*) AS _c FROM occ GROUP BY _t),
    tot AS (SELECT count(*) AS _totn FROM occ),
    q AS (
      SELECT _t,
             CAST(floor(-ln(_c * 1.0 / _totn) * 1e6 + 0.5) AS BIGINT) AS _qlp
      FROM vocab CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens, sum(_qlp) AS s
      FROM occ JOIN q USING (_t) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_tokens, 0) AS n_tokens,
           CAST(COALESCE(a.s, 0) AS BIGINT) AS sum_neglogp_micro,
           round(COALESCE(a.s * 1.0 / a.n_tokens / 1e6, 0.0), 6) AS avg_neglogp
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    primary=False,
)
def q72_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram cross-entropy per document (perplexity-proxy
    quality signal, operators/text_analysis.py:unigram_logprob) —
    vocabulary −ln p quantized once to integer micros so the per-doc
    sum is engine-exact. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.unigram_logprob(_docs(spark, sf_dir))


@query(
    "q71_context_packing",
    "WITH " + TOKS_SQL + r""",
    d AS (
      SELECT t.doc_id, doc.source, len(t.tk) AS n_tokens
      FROM toks t JOIN documents doc ON t.doc_id = doc.doc_id
    ),
    loc AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS lx
      FROM d
    ),
    tot AS (SELECT source, sum(n_tokens) AS st FROM d GROUP BY source),
    woff AS (
      SELECT source,
             COALESCE(sum(st) OVER (ORDER BY source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS o
      FROM tot
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((lx + o) / 256.0) AS BIGINT) AS ctx_id,
           CAST((lx + o) % 256 AS BIGINT) AS ctx_offset
    FROM loc JOIN woff USING (source)
    """,
    primary=False,
)
def q71_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk context packing into 256-token training
    contexts (operators/ordering.py:pack_contexts): two-phase global
    running sum — per-source window + broadcast prefix offsets — so no
    global sort exists. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    sized = docs.select(
        "doc_id", "source", F.size(D.tokens(F.col("text"))).alias("n_tokens")
    )
    return ORD.pack_contexts(sized, 256)


@query(
    "q73_dedup_segments",
    "WITH " + TOKS_SQL + r""",
    seg AS (
      SELECT doc_id,
             unnest(range(len(tk))) // 10 AS seg_idx,
             unnest(range(len(tk))) AS pos,
             unnest(tk) AS tok
      FROM toks WHERE len(tk) > 0
    ),
    segtext AS (
      SELECT doc_id, seg_idx, string_agg(tok, ' ' ORDER BY pos) AS seg_text
      FROM seg GROUP BY doc_id, seg_idx
    ),
    hashed AS (
      SELECT doc_id, seg_idx, seg_text,
             CAST('0x' || substr(md5(seg_text), 1, 15) AS BIGINT) AS h
      FROM segtext
    ),
    keep AS (
      SELECT doc_id, seg_idx, seg_text,
             row_number() OVER (PARTITION BY h
                                ORDER BY doc_id, seg_idx) AS rn
      FROM hashed
    ),
    counts AS (SELECT doc_id, count(*) AS n_seg FROM segtext GROUP BY doc_id),
    keptagg AS (
      SELECT doc_id,
             string_agg(seg_text, ' ' ORDER BY seg_idx) AS clean_text,
             count(*) AS n_kept
      FROM keep WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           COALESCE(c.n_seg, 0) AS n_seg,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM documents d
    LEFT JOIN counts c USING (doc_id)
    LEFT JOIN keptagg k USING (doc_id)
    """,
    primary=False,
)
def q73_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (operators/dedup.py:dedup_segments):
    10-token tiles, globally-first occurrence survives, documents
    reassembled in order — the bounded-granularity ExactSubstr pass
    (Lee et al. 2022). Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return D.dedup_segments(_docs(spark, sf_dir), width=10)


@query(
    "q74_semantic_dedup",
    f"""
    WITH {EMB_SQL},
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 50 = 0),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {COS.format(a='e.v', b='cent.cv')} DESC, cent.centroid_id
               ) AS rn
        FROM e CROSS JOIN cent
      ) WHERE rn = 1
    ),
    ok AS (
      SELECT centroid_id FROM assigned GROUP BY centroid_id
      HAVING count(*) <= 1000
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({COS.format(a='a.v', b='b.v')}, 6) AS sim
      FROM assigned a
      JOIN ok USING (centroid_id)
      JOIN assigned b USING (centroid_id)
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.3
    """,
)
def q74_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster semantic near-dup pairs
    (operators/similarity.py:semantic_dedup_pairs): stride centroids,
    cluster-size skew guard, rounded-cosine threshold 0.3
    (the synthetic vectors' p99 — they carry no true near-dups). Secondary
    registry; oracle-gated by tests/test_extra_queries.py."""
    return S.semantic_dedup_pairs(_embs(spark, sf_dir), threshold=0.3,
                                  stride=50, max_cluster=1000)


@query(
    "q75_dedup_resolution",
    r"""
    WITH RECURSIVE hx AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ch
      FROM documents
    ),
    epairs AS (
      SELECT id_a, id_b FROM (
        SELECT min(doc_id) OVER (PARTITION BY ch) AS id_a, doc_id AS id_b
        FROM hx
      ) WHERE id_a <> id_b
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(text) - 3),
                                          i -> text[i:i+4])) AS g
      FROM documents WHERE len(text) >= 5
    ),
    ex AS (SELECT doc_id, unnest(g) AS gr FROM grams),
    dfreq AS (SELECT gr, count(*) AS df FROM ex GROUP BY gr),
    rare AS (
      SELECT ex.doc_id, ex.gr FROM ex JOIN dfreq USING (gr)
      WHERE df BETWEEN 2 AND 10
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.gr = b.gr AND a.doc_id < b.doc_id
    ),
    npairs AS (
      SELECT id_a, id_b FROM cand
      JOIN grams ga ON ga.doc_id = id_a
      JOIN grams gb ON gb.doc_id = id_b
      WHERE len(list_intersect(ga.g, gb.g)) * 1.0
            / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.5
    ),
    allp AS (SELECT * FROM epairs UNION SELECT * FROM npairs),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM allp
      UNION SELECT id_b, id_a FROM allp
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
    ),
    comps AS (SELECT id AS doc_id, min(comp) AS component
              FROM reach GROUP BY id),
    ranked AS (
      SELECT c.doc_id, c.component,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM comps c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, component,
           CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_canonical
    FROM ranked
    """,
)
def q75_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution (operators/graph.py:
    resolve_duplicates): q52's edge set (exact ∪ n-gram near-dup) →
    connected components → ONE canonical survivor per cluster, keeping
    the LONGEST variant (n_chars, ties → min doc id). Shares q52's
    cached fixpoint run (_doc_components). Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    return G.resolve_duplicates(
        docs, prefer_col="n_chars",
        components=_doc_components(spark, sf_dir),
    )


@query(
    "q76_bigram_logprob",
    "WITH " + TOKS_SQL + r""",
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
             unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
      FROM toks WHERE len(tk) >= 2
    ),
    bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
    pc AS (SELECT w1, sum(cb) AS cp FROM bc GROUP BY w1),
    q AS (
      SELECT w1, w2,
             CAST(floor(-ln(cb * 1.0 / cp) * 1e6 + 0.5) AS BIGINT) AS qlp
      FROM bc JOIN pc USING (w1)
    ),
    agg AS (
      SELECT b.doc_id, count(*) AS n_bigrams, sum(q.qlp) AS s
      FROM big b JOIN q ON b.w1 = q.w1 AND b.w2 = q.w2
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           CAST(COALESCE(s, 0) AS BIGINT) AS sum_neglogp_micro,
           round(COALESCE(s * 1.0 / n_bigrams / 1e6, 0.0), 6) AS avg_neglogp
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    primary=False,
)
def q76_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram conditional cross-entropy per document
    (operators/text_analysis.py:bigram_logprob) — the perplexity-proxy
    quality signal one order up from q72's unigram. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return TA.bigram_logprob(_docs(spark, sf_dir))


@query(
    "q77_profile_columns",
    r"""
    WITH m AS (
      SELECT 'lang' AS col_name, lang AS value FROM documents
      UNION ALL SELECT 'source', source FROM documents
      UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
    ),
    totals AS (
      SELECT col_name, count(*) AS n_rows, count(value) AS n_nonnull
      FROM m GROUP BY col_name
    ),
    vc AS (
      SELECT col_name, value, count(*) AS c FROM m
      WHERE value IS NOT NULL GROUP BY col_name, value
    ),
    ranked AS (
      SELECT col_name, value, c,
             row_number() OVER (PARTITION BY col_name
                                ORDER BY c DESC, value) AS rn,
             count(*) OVER (PARTITION BY col_name) AS n_distinct
      FROM vc
    )
    SELECT t.col_name, t.n_rows,
           t.n_rows - t.n_nonnull AS n_nulls,
           COALESCE(r.n_distinct, 0) AS n_distinct,
           r.value AS top_value,
           COALESCE(r.c, 0) AS top_count
    FROM totals t LEFT JOIN ranked r
      ON t.col_name = r.col_name AND r.rn = 1
    """,
    primary=False,
)
def q77_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-plan column census over documents(lang, source, n_chars):
    null rate, exact distinct count, modal value per column
    (operators/profiling.py:profile_columns — single melt, argmax by
    min-struct, no per-column job loop). Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    from ..operators.profiling import profile_columns

    return profile_columns(_docs(spark, sf_dir), ["lang", "source", "n_chars"])


@query(
    "q78_quality_buckets",
    "WITH " + TOKS_SQL + r""",
    scored AS (
      SELECT doc_id, lang,
             round(least(1.0, len(tk) / 100.0)
                   * (1.0 - len(regexp_replace(text, '[a-z0-9\s]', '', 'g'))
                            * 1.0 / len(text))
                   * (1.0 - abs(len(list_filter(tk, x -> x IN
                          ('a','the','of','and','in','to','is'))) * 1.0
                          / len(tk) - 0.25)), 6) AS quality_score
      FROM toks
    )
    SELECT doc_id, lang, quality_score,
           ntile(10) OVER (PARTITION BY lang
                           ORDER BY quality_score, doc_id) AS bucket
    FROM scored
    """,
    primary=False,
)
def q78_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population quality deciles per language
    (operators/ordering.py:quality_buckets) — the curriculum binning
    step over q47's composite score, deterministic via the doc-id
    tiebreak. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    scored = TA.quality_features(docs).select("doc_id", "quality_score").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return ORD.quality_buckets(scored, 10).select(
        "doc_id", "lang", "quality_score", "bucket"
    )


@query(
    "q79_cdc_chunks",
    f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
      FROM documents WHERE len(text) >= 8
    ),
    cut AS (
      SELECT doc_id, i + 7 AS e FROM pos
      WHERE {HASH60.format(x='text[i:i+7]')} % 16 = 0
    ),
    allcuts AS (
      SELECT doc_id, e FROM cut
      UNION
      SELECT doc_id, len(text) AS e FROM documents WHERE len(text) > 0
    ),
    segs AS (
      SELECT doc_id, lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY e) AS s, e
      FROM allcuts
    )
    SELECT g.doc_id,
           CAST(row_number() OVER (PARTITION BY g.doc_id ORDER BY g.s) - 1
                AS INTEGER) AS seg_idx,
           d.text[g.s + 1:g.e] AS chunk,
           g.e - g.s AS chunk_len
    FROM segs g JOIN documents d USING (doc_id)
    WHERE g.e > g.s
    """,
    primary=False,
)
def q79_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/text_analysis.py:cdc_chunks):
    rolling 8-char-hash cut rule mod 16 — variable-size, shift-robust
    chunk boundaries; chunks concatenate back to the original text.
    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    return TA.cdc_chunks(_docs(spark, sf_dir), k=8, modulus=16)


@query(
    "q82_payload_neardup",
    f"""
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(h) - 6, 2),
                                   i -> h[i:i+7])) AS g
      FROM hx WHERE len(h) >= 8
    ),
    hashed AS (SELECT doc_id, {HASH60.format(x='g')} AS h FROM grams),
    votes AS (SELECT doc_id, {SIMHASH_VOTES} FROM hashed GROUP BY doc_id),
    sigs AS (SELECT doc_id, {SIMHASH_SIG} AS sig FROM votes),
    bands AS (
    """
    + "\n    UNION ALL\n".join(
        f"    SELECT doc_id, sig, {k} AS band, (sig >> {8*k}) & 255 AS bkey"
        " FROM sigs"
        for k in range(4)
    )
    + """
    ),
    guarded AS (
      SELECT doc_id, sig, band, bkey FROM (
        SELECT *, count(*) OVER (PARTITION BY band, bkey) AS _n FROM bands
      ) WHERE _n <= 1000
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM guarded a JOIN guarded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 2
    """,
    primary=False,
)
def q82_payload_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free binary-payload near-dup (operators/multimodal.py:
    payload_neardup_pairs): byte-aligned 4-byte-gram SimHash over raw
    blobs, byte-banded candidates with the bucket skew guard, Hamming
    ≤ 2 verify. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    media = M.as_binary_payloads(_docs(spark, sf_dir))
    return M.payload_neardup_pairs(media)


@query(
    "q88_corpus_diff",
    r"""
    WITH o AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ho
      FROM documents WHERE doc_id % 5 <> 0
    ),
    n AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN md5('edited:' || text)
                  ELSE md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             END AS hn
      FROM documents WHERE doc_id % 3 <> 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.ho IS NULL THEN 'added'
                WHEN n.hn IS NULL THEN 'removed'
                WHEN o.ho = n.hn THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n USING (doc_id)
    """,
    primary=False,
)
def q88_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/incremental.py:corpus_diff):
    old = docs∉5·k, new = docs∉3·k with every 7th text edited —
    exercises all four statuses. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    from ..operators.incremental import corpus_diff

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit("EDITED "), F.col("text")))
        .otherwise(F.col("text")).alias("text"),
    )
    return corpus_diff(old, new)


@query(
    "q91_profile_drift",
    r"""
    WITH m1 AS (
      SELECT 'lang' AS col_name, lang AS value FROM documents
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'source', source FROM documents WHERE doc_id % 2 = 0
    ),
    t1 AS (SELECT col_name, count(*) AS n_rows, count(value) AS nn
           FROM m1 GROUP BY col_name),
    v1 AS (SELECT col_name, value, count(*) AS c FROM m1
           WHERE value IS NOT NULL GROUP BY col_name, value),
    r1 AS (SELECT col_name, value, c,
                  row_number() OVER (PARTITION BY col_name
                                     ORDER BY c DESC, value) AS rn,
                  count(*) OVER (PARTITION BY col_name) AS nd
           FROM v1),
    p1 AS (SELECT t1.col_name, t1.n_rows, t1.n_rows - t1.nn AS n_nulls,
                  COALESCE(r1.nd, 0) AS n_distinct, r1.value AS top_value
           FROM t1 LEFT JOIN r1 ON t1.col_name = r1.col_name AND r1.rn = 1),
    m2 AS (
      SELECT 'lang' AS col_name, lang AS value FROM documents
      WHERE doc_id % 2 = 1
      UNION ALL
      SELECT 'source', source FROM documents WHERE doc_id % 2 = 1
    ),
    t2 AS (SELECT col_name, count(*) AS n_rows, count(value) AS nn
           FROM m2 GROUP BY col_name),
    v2 AS (SELECT col_name, value, count(*) AS c FROM m2
           WHERE value IS NOT NULL GROUP BY col_name, value),
    r2 AS (SELECT col_name, value, c,
                  row_number() OVER (PARTITION BY col_name
                                     ORDER BY c DESC, value) AS rn,
                  count(*) OVER (PARTITION BY col_name) AS nd
           FROM v2),
    p2 AS (SELECT t2.col_name, t2.n_rows, t2.n_rows - t2.nn AS n_nulls,
                  COALESCE(r2.nd, 0) AS n_distinct, r2.value AS top_value
           FROM t2 LEFT JOIN r2 ON t2.col_name = r2.col_name AND r2.rn = 1)
    SELECT COALESCE(p1.col_name, p2.col_name) AS col_name,
           CASE WHEN p1.n_rows IS NULL THEN 'added'
                WHEN p2.n_rows IS NULL THEN 'removed'
                ELSE 'common' END AS status,
           round(COALESCE(p2.n_nulls * 1.0 / p2.n_rows, 0.0)
                 - COALESCE(p1.n_nulls * 1.0 / p1.n_rows, 0.0), 6)
             AS null_rate_delta,
           round(CASE WHEN p1.n_distinct IS NOT NULL AND p1.n_distinct > 0
                      THEN COALESCE(p2.n_distinct, 0) * 1.0 / p1.n_distinct
                      ELSE 0.0 END, 6) AS distinct_ratio,
           CAST(COALESCE(p1.top_value <> p2.top_value,
                         p1.top_value IS NOT NULL
                         OR p2.top_value IS NOT NULL) AS INTEGER)
             AS modal_changed
    FROM p1 FULL OUTER JOIN p2 ON p1.col_name = p2.col_name
    """,
    primary=False,
)
def q91_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-census drift between two document snapshots (even vs odd
    doc ids) — null-rate delta, distinct ratio, modal change
    (operators/profiling.py:profile_drift over profile_columns).
    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    from ..operators.profiling import profile_columns, profile_drift

    docs = _docs(spark, sf_dir)
    p_old = profile_columns(docs.filter(F.col("doc_id") % 2 == 0),
                            ["lang", "source"])
    p_new = profile_columns(docs.filter(F.col("doc_id") % 2 == 1),
                            ["lang", "source"])
    return profile_drift(p_old, p_new)


@query(
    "q92_redact_pii",
    r"""
    WITH r AS (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+',
                   '<EMAIL>', 'g'),
                 'https?://[^\s]+', '<URL>', 'g'),
               '[0-9]{6,}', '<NUMBER>', 'g') AS text_red
      FROM documents
    )
    SELECT doc_id, text_red AS text,
           CAST(text <> text_red AS INTEGER) AS was_redacted
    FROM r
    """,
    primary=False,
)
def q92_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction transform (operators/privacy.py:redact_documents):
    emails/URLs/long digit runs replaced by placeholder tokens, fixed
    rule order, byte-identical in both engines (portable regex subset).
    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    from ..operators.privacy import redact_documents

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return redact_documents(docs)


_CMS_BUCKET = ("CAST('0x' || substr(md5(CAST(d AS VARCHAR) || chr(31) "
               "|| token), 1, 15) AS BIGINT) % 1024")

@query(
    "q93_cms_heavy_hitters",
    r"""
    WITH """ + TOKS_SQL + r""",
    tok AS (SELECT unnest(tk) AS token FROM toks),
    ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    sk AS (
      SELECT d, """ + _CMS_BUCKET + r""" AS bucket, count(*) AS c
      FROM tok CROSS JOIN ds GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT token FROM tok WHERE len(token) >= 8),
    qe AS (SELECT token, d, """ + _CMS_BUCKET + r""" AS bucket
           FROM cand CROSS JOIN ds),
    est AS (
      SELECT token, min(COALESCE(c, 0)) AS est
      FROM qe LEFT JOIN sk USING (d, bucket) GROUP BY token
    )
    SELECT token, est FROM est ORDER BY est DESC, token LIMIT 20
    """,
    primary=False,
)
def q93_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (operators/sketches.py): build a
    4×1024 counter grid over ALL corpus token occurrences, then
    point-query the long (≥8-char) vocabulary and keep the top 20
    estimates. The grid is what shuffles (≤4096 rows) — never the
    vocabulary. md5-derived buckets → the oracle reproduces every
    counter, so estimates match bit-for-bit. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    from ..operators.sketches import cms_estimate, cms_sketch

    toks = _docs(spark, sf_dir).select(
        F.explode(D.tokens(F.col("text"))).alias("token")
    )
    sketch = cms_sketch(toks, "token", depth=4, width=1024)
    cand = toks.filter(F.length("token") >= 8)
    est = cms_estimate(sketch, cand, "token", depth=4, width=1024)
    return est.orderBy(F.col("est").desc(), "token").limit(20)


@query(
    "q94_distinctive_terms",
    r"""
    WITH occ AS (
      SELECT g, doc_id, token FROM (
        SELECT source AS g, doc_id,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
      ) WHERE len(token) >= 4
    ),
    tf AS (SELECT g, token, count(*) AS tf FROM occ GROUP BY g, token),
    dfq AS (SELECT token, count(*) AS df FROM
              (SELECT DISTINCT doc_id, token FROM occ) GROUP BY token),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    idf AS (SELECT token, df,
                   CAST(floor(ln(n * 1.0 / df) * 1000000 + 0.5) AS BIGINT)
                     AS im
            FROM dfq CROSS JOIN nd),
    sc AS (SELECT g AS source, tf.token, tf.tf, idf.df,
                  tf.tf * idf.im AS score_micro
           FROM tf JOIN idf USING (token)),
    r AS (SELECT *, row_number() OVER (PARTITION BY source
                    ORDER BY score_micro DESC, token) AS rank
          FROM sc)
    SELECT source, token, tf, df, score_micro, rank FROM r WHERE rank <= 5
    """,
    primary=False,
)
def q94_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinguishing tokens by quantized tf·idf
    (operators/text_analysis.py:distinctive_terms): exact-integer
    scores, unique-key tiebreak, top 5 per source. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    return TA.distinctive_terms(docs, "source", top_k=5, min_token_len=4)


@query(
    "q95_validation_summary",
    r"""
    SELECT rule, count(*) AS n_rows,
           CAST(sum(ok) AS BIGINT) AS n_pass,
           CAST(count(*) - sum(ok) AS BIGINT) AS n_fail
    FROM (
      SELECT unnest([
        struct_pack(rule := 'text_present',
                    ok := CAST(COALESCE(text IS NOT NULL
                                        AND length(text) > 0, FALSE)
                               AS BIGINT)),
        struct_pack(rule := 'lang_known',
                    ok := CAST(COALESCE(lang IN ('en','de','fr','es','it'),
                                        FALSE) AS BIGINT)),
        struct_pack(rule := 'n_chars_consistent',
                    ok := CAST(COALESCE(n_chars = length(text), FALSE)
                               AS BIGINT)),
        struct_pack(rule := 'id_positive',
                    ok := CAST(COALESCE(doc_id >= 0, FALSE) AS BIGINT))
      ], recursive := true)
      FROM documents
    )
    GROUP BY rule
    """,
    primary=False,
)
def q95_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/validation.py): four
    row-local admission rules over documents, one-pass flags, unpivoted
    audit summary (rule, n_rows, n_pass, n_fail). NULL rule results
    count as failures in both engines. Secondary registry; oracle-gated
    by tests/test_extra_queries.py."""
    from ..operators.validation import validate, validation_summary

    docs = _docs(spark, sf_dir)
    flagged = validate(docs, {
        "text_present": F.col("text").isNotNull() & (F.length("text") > 0),
        "lang_known": F.col("lang").isin("en", "de", "fr", "es", "it"),
        "n_chars_consistent": F.col("n_chars") == F.length("text"),
        "id_positive": F.col("doc_id") >= 0,
    })
    return validation_summary(flagged)


@query(
    "q96_train_split",
    r"""
    WITH s AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5('s1' || chr(31) || source), 1, 15)
                  AS BIGINT) % 1000000 AS u
      FROM documents
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN u < 800000 THEN 'train'
                  WHEN u < 900000 THEN 'val'
                  ELSE 'test' END AS split,
             source
      FROM s
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
    FROM lab GROUP BY split
    """,
    primary=False,
)
def q96_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware seeded train/val/test split
    (operators/ordering.py:assign_splits): hash over the GROUP key
    (source) so correlated docs share a split; 80/10/10 integer-
    millionth bands. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    lab = ORD.assign_splits(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "s1",
        group_col="source",
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
    )


@query(
    "q97_distribution_drift",
    r"""
    WITH o AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 0),
    n AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 1),
    ho AS (
      SELECT CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0)
                                       / 200.0), 0), 19) AS INTEGER)
               AS bin, count(*) AS n_old
      FROM o WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    hn AS (
      SELECT CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0)
                                       / 200.0), 0), 19) AS INTEGER)
               AS bin, count(*) AS n_new
      FROM n WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT (SELECT count(n_chars) FROM o) AS toc,
                 (SELECT count(n_chars) FROM n) AS tnc)
    SELECT COALESCE(ho.bin, hn.bin) AS bin,
           COALESCE(n_old, 0) AS n_old,
           COALESCE(n_new, 0) AS n_new,
           CAST(CASE WHEN toc > 0
                THEN floor(COALESCE(n_old, 0) * 1000000.0 / toc)
                ELSE 0 END AS BIGINT) AS p_old_micro,
           CAST(CASE WHEN tnc > 0
                THEN floor(COALESCE(n_new, 0) * 1000000.0 / tnc)
                ELSE 0 END AS BIGINT) AS p_new_micro
    FROM ho FULL OUTER JOIN hn ON ho.bin = hn.bin CROSS JOIN t
    """,
    primary=False,
)
def q97_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin distribution drift of n_chars between the even and odd
    document snapshots (operators/profiling.py:distribution_drift):
    20 bins over [0, 4000), exact integer proportions in millionths.
    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    from ..operators.profiling import distribution_drift

    docs = _docs(spark, sf_dir)
    return distribution_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars", lo=0.0, hi=4000.0, n_bins=20,
    )


@query(
    "q98_rendezvous_shards",
    r"""
    WITH e AS (
      SELECT doc_id, s,
             CAST('0x' || substr(md5('hrw' || chr(31)
                  || CAST(s AS VARCHAR) || chr(31)
                  || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS w
      FROM documents CROSS JOIN (SELECT unnest(range(8)) AS s)
    ),
    a AS (SELECT doc_id, arg_max(s, w) AS shard FROM e GROUP BY doc_id)
    SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n_docs
    FROM a GROUP BY 1
    """,
    primary=False,
)
def q98_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) sharding occupancy
    (operators/ordering.py:rendezvous_shard): argmax over per-shard
    md5 weights — resharding n→n+1 moves only the stolen keys, unlike
    mod-n. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir).select("doc_id")
    return (
        ORD.rendezvous_shard(docs, 8)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_JL_DIMS = 8
_JL_HP_SQL = (
    "hp AS (SELECT * FROM (VALUES "
    + ", ".join(
        "({}, [{}]::BIGINT[])".format(
            p,
            ", ".join(str(int(math.floor(x * S.SRP_Q + 0.5))) for x in plane),
        )
        for p, plane in enumerate(S.hyperplanes(_JL_DIMS, 64, "jl"))
    )
    + ") AS t(p, w))"
)


@query(
    "q100_jl_projection",
    f"""
    WITH {EMB_SQL},
    {_JL_HP_SQL},
    dots AS (
      SELECT e.vec_id, hp.p,
             list_reduce(list_transform(range(1, len(e.v) + 1),
                                        i -> CAST(floor(e.v[i] * {S.SRP_Q}.0 + 0.5)
                                                  AS BIGINT) * hp.w[i]),
                         (x, y) -> x + y) AS dot
      FROM e CROSS JOIN hp
    )
    SELECT vec_id, CAST(p AS INTEGER) AS dim,
           CAST(dot AS BIGINT) AS component_q
    FROM dots
    """,
    primary=False,
)
def q100_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection of the embeddings table to 8
    exact-integer components (operators/similarity.py:
    project_embeddings, matmul strategy — the oracle transcribes the
    relational twin, equality-tested between strategies in
    tests/test_similarity_srp.py). Emitted as one scalar row per
    (vector, component): the driver's pandas canonicalizer cannot hash
    array cells (CORRECTNESS_r04 q100 `TypeError: unhashable type:
    'list'`), so windowed outputs must be scalar-typed — the array form
    stays available via project_embeddings itself. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    emb = _embs(spark, sf_dir)
    proj = S.project_embeddings(emb, out_dim=_JL_DIMS, dim=64, seed="jl")
    return proj.select(
        "vec_id", F.posexplode("proj_q").alias("dim", "component_q")
    )


@query(
    "q101_negative_samples",
    r"""
    WITH h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('neg' || chr(31)
                  || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM documents
    ),
    reps AS (SELECT b, min(doc_id) AS neg_id FROM h GROUP BY b),
    probes AS (
      SELECT doc_id AS anchor_id, i,
             CAST('0x' || substr(md5('neg' || chr(31)
                  || CAST(doc_id AS VARCHAR) || chr(31)
                  || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
    ),
    cl AS (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                    AS c
           FROM documents),
    p AS (SELECT anchor_id, neg_id, i FROM probes JOIN reps USING (b)
          WHERE anchor_id <> neg_id)
    SELECT p.anchor_id, p.neg_id, CAST(p.i AS INTEGER) AS i
    FROM p
    JOIN cl ca ON ca.doc_id = p.anchor_id
    JOIN cl cb ON cb.doc_id = p.neg_id
    WHERE ca.c <> cb.c
    """,
    primary=False,
)
def q101_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded contrastive negative sampling with exact-duplicate
    exclusion (operators/sampling.py:negative_samples): 3 hash-jump
    negatives per anchor from 64 bucket representatives; same-content
    pairs dropped. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    from ..operators.sampling import negative_samples

    docs = _docs(spark, sf_dir)
    clusters = docs.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
        .alias("cluster"),
    )
    return negative_samples(docs, k=3, n_buckets=64, clusters=clusters)


@query(
    "q102_dedup_weights",
    r"""
    WITH h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS content_hash
      FROM documents
    ),
    c AS (SELECT content_hash, count(*) AS cluster_size
          FROM h GROUP BY content_hash)
    SELECT h.doc_id, h.content_hash, c.cluster_size,
           CAST(floor(1000000.0 / c.cluster_size) AS BIGINT)
             AS weight_micro
    FROM h JOIN c USING (content_hash)
    """,
    primary=False,
)
def q102_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware soft-dedup weights
    (operators/dedup.py:dedup_weights): every doc kept, weighted
    1/cluster-size in exact integer micros. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return D.dedup_weights(_docs(spark, sf_dir))


@query(
    "q104_percentile_normalize",
    r"""
    WITH q AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(CASE WHEN n > 1
                THEN floor((r - 1) * 1000000.0 / (n - 1))
                ELSE 0 END AS BIGINT) AS pct_micro
    FROM q
    """,
    primary=False,
)
def q104_percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percentile normalization
    (operators/ordering.py:percentile_normalize) of n_chars — exact
    integer millionths, unique tiebreak, partitioned window (no global
    sort). Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return ORD.percentile_normalize(docs, "source", score_col="n_chars")


@query(
    "q105_novelty_signals",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(tk) >= 8
             THEN list_transform(range(1, len(tk) - 6),
                                 i -> array_to_string(tk[i:i+7], ' '))
             ELSE []::VARCHAR[] END)) AS gm
      FROM t
    ),
    d AS (SELECT gm, count(*) AS df FROM g GROUP BY gm),
    p AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_unique
      FROM g JOIN d USING (gm) GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           CAST(COALESCE(p.n_unique, 0) AS BIGINT) AS n_unique,
           CAST(CASE WHEN COALESCE(p.n_grams, 0) > 0
                THEN floor(p.n_unique * 1000000.0 / p.n_grams)
                ELSE 0 END AS BIGINT) AS novelty_micro
    FROM t LEFT JOIN p USING (doc_id)
    """,
    primary=False,
)
def q105_novelty_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-novelty score (operators/text_analysis.py:
    novelty_signals): share of each doc's distinct 8-grams that occur
    nowhere else — the template/boilerplate signal pair-based dedup
    misses. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.novelty_signals(_docs(spark, sf_dir), n=8)


@query(
    "q106_dedup_audit_by_source",
    r"""
    WITH h AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS content_hash
      FROM documents
    ),
    c AS (SELECT content_hash, min(doc_id) AS canon
          FROM h GROUP BY content_hash)
    SELECT h.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN h.doc_id = c.canon THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(floor(sum(CASE WHEN h.doc_id = c.canon THEN 1 ELSE 0 END)
                      * 1000000.0 / count(*)) AS BIGINT) AS retention_micro
    FROM h JOIN c USING (content_hash)
    GROUP BY h.source
    """,
    primary=False,
)
def q106_dedup_audit_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dedup audit: docs, survivors, retention rate in
    exact millionths — the "which upstream feed is mostly duplicates"
    report (operators/dedup.py:exact_dedup + one rollup). Secondary
    registry; oracle-gated by tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    dd = D.exact_dedup(docs).select("doc_id", "is_canonical")
    return (
        docs.select("doc_id", "source").join(dd, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_canonical").alias("n_kept"),
            F.floor(F.sum("is_canonical") * F.lit(1_000_000)
                    / F.count(F.lit(1))).cast("long")
            .alias("retention_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 additions: weighted sampling (M86), k-anonymity gate (M87)
# ---------------------------------------------------------------------------

@query(
    "q107_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(({HASH60.format(x="'ws:0' || chr(31) || CAST(doc_id AS VARCHAR)")} + 1.0)
                / 1152921504606846977.0) / n_chars AS k
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, n_chars, round(k, 9) AS sample_key
    FROM keyed ORDER BY k DESC, doc_id LIMIT 50
    """,
    primary=False,
)
def q107_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded weight-proportional sample (M86, A-Res — Efraimidis &
    Spiliopoulos 2006): 50 documents drawn with probability ∝ n_chars,
    deterministic via the md5 hash convention; plans as a distributed
    TakeOrderedAndProject, never a global sort. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    from ..operators.sampling import weighted_sample

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return weighted_sample(docs, k=50, weight_col="n_chars", seed="ws:0")


@query(
    "q108_k_anonymous_rollup",
    """
    WITH c AS (
      SELECT CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source,
             count(*) AS n_rows
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_rows FROM c WHERE n_rows >= 10
    UNION ALL
    SELECT '__suppressed__', '__suppressed__', CAST(sum(n_rows) AS BIGINT)
    FROM c WHERE n_rows < 10 HAVING count(*) > 0
    """,
    primary=False,
)
def q108_k_anonymous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity publication gate (M87): (lang, source) counts with
    every under-k combination folded into one __suppressed__ row so the
    rollup stays additive without exposing re-identifiable small
    groups. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    from ..operators.privacy import k_anonymize

    return k_anonymize(_docs(spark, sf_dir), ["lang", "source"], k=10)


@query(
    "q110_cross_source_dup_matrix",
    r"""
    WITH h AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS content_hash
      FROM documents
    ),
    c AS (SELECT content_hash, min(doc_id) AS canon
          FROM h GROUP BY content_hash),
    edges AS (
      SELECT c.canon AS id_a, h.doc_id AS id_b
      FROM h JOIN c USING (content_hash)
      WHERE h.doc_id <> c.canon
    ),
    lab AS (
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b
      FROM edges e
      JOIN h a ON a.doc_id = e.id_a
      JOIN h b ON b.doc_id = e.id_b
    )
    SELECT source_a, source_b, count(*) AS n_pairs
    FROM lab GROUP BY source_a, source_b
    """,
    primary=False,
)
def q110_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (operators/dedup.py:
    cross_source_dup_matrix, M89): exact-duplicate pairs rolled up to
    unordered (source, source) cells — which feeds mirror each other
    vs duplicate internally. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return D.cross_source_dup_matrix(_docs(spark, sf_dir))


@query(
    "q118_embedding_outliers",
    """
    WITH dims AS (SELECT CAST(range AS INTEGER) AS dim FROM range(64)),
    comp AS (
      SELECT vec_id, label, d.dim,
             CAST(floor(CAST(embedding[d.dim + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings, dims d
    ),
    cent AS (
      SELECT label, dim,
             CAST(floor(CAST(sum(xm) AS BIGINT) * 1.0 / count(*))
                  AS BIGINT) AS cm
      FROM comp GROUP BY label, dim
    ),
    d2 AS (
      SELECT c.vec_id, c.label,
             CAST(floor(sqrt(CAST(sum((c.xm - ct.cm) * (c.xm - ct.cm))
                                  AS BIGINT))) AS BIGINT) AS dist_micro
      FROM comp c JOIN cent ct ON c.label = ct.label AND c.dim = ct.dim
      GROUP BY c.vec_id, c.label
    ),
    mom AS (
      SELECT label, count(*) AS gn,
             CAST(sum(dist_micro) AS BIGINT) AS gs,
             sum(CAST(dist_micro AS HUGEINT) * dist_micro) AS gss
      FROM d2 GROUP BY label
    ),
    zz AS (
      SELECT d.label, d.vec_id, d.dist_micro,
             round(CASE WHEN sqrt(CAST(m.gn * m.gss
                                       - CAST(m.gs AS HUGEINT) * m.gs
                                       AS DOUBLE)) / m.gn > 0
                        THEN (d.dist_micro - CAST(m.gs AS DOUBLE) / m.gn)
                             / (sqrt(CAST(m.gn * m.gss
                                          - CAST(m.gs AS HUGEINT) * m.gs
                                          AS DOUBLE)) / m.gn)
                        ELSE 0.0 END, 6) AS z
      FROM d2 d JOIN mom m ON d.label = m.label
    ),
    ranked AS (
      SELECT label, vec_id, dist_micro, z,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist_micro DESC, vec_id) AS rank
      FROM zz
    )
    SELECT label, vec_id, dist_micro, z, rank FROM ranked WHERE rank <= 20
    """,
    primary=False,
)
def q118_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier detection (operators/similarity.py:
    embedding_outliers, M90): exact integer-micro centroids, z-scored
    centroid distances, top-20 per label. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return S.embedding_outliers(_embs(spark, sf_dir), k=20)


@query(
    "q119_source_overlap_sketch",
    r"""
    WITH h AS (
      SELECT source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ch
      FROM documents
    ),
    seeds AS (SELECT CAST(range AS INTEGER) AS seed FROM range(64)),
    hv AS (
      SELECT h.source, s.seed,
             CAST('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || h.ch),
                                 1, 15) AS BIGINT) AS hvv
      FROM h, seeds s
    ),
    sig AS (SELECT source, seed, min(hvv) AS mh FROM hv GROUP BY source, seed)
    SELECT a.source AS source_a, b.source AS source_b,
           64 AS k,
           CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           CAST(floor(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                      * 1000000.0 / 64) AS BIGINT) AS est_jaccard_micro
    FROM sig a JOIN sig b ON a.seed = b.seed AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    primary=False,
)
def q119_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash source-overlap estimate (operators/dedup.py:
    source_overlap_sketch, M91): 64-seed bottom-1 signatures per
    source over exact content hashes → pairwise estimated Jaccard of
    distinct-content sets — the sketch companion to q110's exact
    matrix. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return D.source_overlap_sketch(_docs(spark, sf_dir), k=64)


@query(
    "q120_temperature_mix_weights",
    """
    WITH per AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_size
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_size) AS BIGINT) AS t FROM per),
    scored AS (
      SELECT source, n_size,
             CAST(floor(n_size * 1000000.0 / t) AS BIGINT) AS p_micro,
             CAST(floor(pow(CAST(n_size AS DOUBLE) / t, 0.3) * 1000000.0)
                  AS BIGINT) AS pa
      FROM per, tot
    ),
    z AS (SELECT CAST(sum(pa) AS BIGINT) AS zz FROM scored)
    SELECT source, n_size, p_micro,
           CAST(floor(pa * 1000000.0 / zz) AS BIGINT) AS q_micro
    FROM scored, z
    """,
    primary=False,
)
def q120_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (operators/mixing.py:
    temperature_mix_weights, M92): q_s proportional to (n_s/N)^0.3 over per-source
    n_chars mass, all shares in exact integer micros. Secondary
    registry; oracle-gated by tests/test_extra_queries.py."""
    return MX.temperature_mix_weights(
        _docs(spark, sf_dir), alpha=0.3, size_col="n_chars"
    )


@query(
    "q121_epoch_plan",
    """
    WITH per AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_size
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_size) AS BIGINT) AS t FROM per),
    scored AS (
      SELECT source, n_size,
             CAST(floor(pow(CAST(n_size AS DOUBLE) / t, 0.3) * 1000000.0)
                  AS BIGINT) AS pa
      FROM per, tot
    ),
    z AS (SELECT CAST(sum(pa) AS BIGINT) AS zz FROM scored),
    w AS (
      SELECT source, n_size,
             CAST(floor(pa * 1000000.0 / zz) AS BIGINT) AS q_micro
      FROM scored, z
    ),
    plan AS (
      SELECT source, n_size, q_micro,
             CAST(floor(500000 * q_micro / 1000000.0) AS BIGINT)
               AS requested_tokens,
             CAST(floor(n_size * 4000000 / 1000000.0) AS BIGINT) AS cap
      FROM w
    )
    SELECT source, n_size, q_micro, requested_tokens,
           CAST(CASE WHEN n_size > 0
                     THEN floor(requested_tokens * 1000000.0 / n_size)
                END AS BIGINT) AS epochs_micro,
           least(requested_tokens, cap) AS granted_tokens,
           CAST(CASE WHEN requested_tokens > cap THEN 1 ELSE 0 END
                AS INTEGER) AS capped
    FROM plan
    """,
    primary=False,
)
def q121_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch/repetition plan (operators/mixing.py:
    epoch_plan, M93): a 500k-char budget allocated by alpha=0.3
    temperature weights, repetition capped at 4 epochs with capped
    sources flagged. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return MX.epoch_plan(_docs(spark, sf_dir), token_budget=500_000,
                         alpha=0.3, max_epochs_micro=4_000_000,
                         size_col="n_chars")


@query(
    "q123_vocab_coverage",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM freq
      ) WHERE rn <= 100
    ),
    per AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
           CAST(CASE WHEN COALESCE(p.n_tokens, 0) > 0
                     THEN floor(COALESCE(p.n_oov, 0) * 1000000.0 / p.n_tokens)
                     ELSE 0 END AS BIGINT) AS oov_micro
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    primary=False,
)
def q123_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV rate (operators/text_analysis.py:
    vocab_coverage, M94): top-100 corpus vocabulary (freq-desc,
    token-asc tiebreak), per-doc OOV occurrences and rate in integer
    micros. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.vocab_coverage(_docs(spark, sf_dir), vocab_size=100)


@query(
    "q124_nb_class_scores",
    r"""
    WITH lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
      FROM documents
    ),
    tok AS (
      SELECT doc_id, y,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM lab
    ),
    cnt AS (
      SELECT tok, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cn
      FROM tok GROUP BY tok
    ),
    st AS (
      SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    ),
    pr AS (
      SELECT CAST(sum(y) AS BIGINT) AS np, CAST(sum(1 - y) AS BIGINT) AS nn
      FROM lab
    ),
    w AS (
      SELECT tok,
             CAST(floor((ln((cp + 1.0) / (tp + v))
                         - ln((cn + 1.0) / (tn + v)))
                        * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM cnt, st
    ),
    agg AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w.w_micro) AS BIGINT) AS sw
      FROM tok t JOIN w ON t.tok = w.tok GROUP BY t.doc_id
    ),
    pm AS (
      SELECT CAST(floor((ln(np + 1.0) - ln(nn + 1.0)) * 1000000.0 + 0.5)
                  AS BIGINT) AS prior_micro
      FROM pr
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(pm.prior_micro + COALESCE(a.sw, 0) AS BIGINT) AS score_micro,
           CAST(CASE WHEN pm.prior_micro + COALESCE(a.sw, 0) >= 0
                     THEN 1 ELSE 0 END AS INTEGER) AS predicted
    FROM documents d LEFT JOIN agg a USING (doc_id), pm
    """,
    primary=False,
)
def q124_nb_class_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes seed-classifier scoring (operators/text_analysis.py:
    nb_class_scores, M95): add-one smoothed token log-odds quantized
    once to integer micros, per-doc exact-integer sums, positive seed =
    lang 'en'. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return _nb_scores(spark, sf_dir)


@query(
    "q125_source_jsd_matrix",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, tok
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM freq
            GROUP BY source),
    common AS (
      SELECT a.source AS ga, b.source AS gb,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(CAST(floor((
                  (a.c * 1.0 / ta.t)
                    * ln(2.0 * (a.c * 1.0 / ta.t)
                         / (a.c * 1.0 / ta.t + b.c * 1.0 / tb.t))
                + (b.c * 1.0 / tb.t)
                    * ln(2.0 * (b.c * 1.0 / tb.t)
                         / (a.c * 1.0 / ta.t + b.c * 1.0 / tb.t))
             ) / 2.0 * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_nano,
             CAST(sum(a.c) AS BIGINT) AS ca_sum,
             CAST(sum(b.c) AS BIGINT) AS cb_sum,
             min(ta.t) AS t_a, min(tb.t) AS t_b
      FROM freq a
      JOIN freq b ON a.tok = b.tok AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY a.source, b.source
    )
    SELECT p1.source AS group_a, p2.source AS group_b,
           CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common_tokens,
           CAST(CASE WHEN c.sum_nano IS NOT NULL
                THEN c.sum_nano
                     + CAST(floor(0.34657359027997264
                            * ((1.0 - c.ca_sum * 1.0 / c.t_a)
                               + (1.0 - c.cb_sum * 1.0 / c.t_b))
                            * 1000000000.0 + 0.5) AS BIGINT)
                ELSE 693147181 END AS BIGINT) AS jsd_nano
    FROM (SELECT DISTINCT source FROM documents) p1
    JOIN (SELECT DISTINCT source FROM documents) p2
      ON p1.source < p2.source
    LEFT JOIN common c ON c.ga = p1.source AND c.gb = p2.source
    """,
    primary=False,
)
def q125_source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source Jensen-Shannon divergence (operators/
    text_analysis.py:js_divergence_matrix, M96): per-token terms
    quantized once to integer nanos, closed-form non-overlap tail from
    exact count sums. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.js_divergence_matrix(_docs(spark, sf_dir))


@query(
    "q126_striped_pack_audit",
    r"""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC NULLS LAST, doc_id)
               AS rn
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars, CAST((rn - 1) % 16 AS INTEGER) AS bin
      FROM ranked
    ),
    per AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM assigned GROUP BY bin
    ),
    g AS (SELECT CAST(sum(total_chars) AS BIGINT) AS gt FROM per)
    SELECT bin, n_docs, total_chars,
           CAST(floor(total_chars * 16000000.0 / gt) AS BIGINT) AS load_micro
    FROM per, g
    """,
    primary=False,
)
def q126_striped_pack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Striped longest-first packing audit (operators/ordering.py:
    striped_pack, M97): banded two-phase global rank (no global sort)
    striped mod 16 bins; per-bin doc count, char mass and exact load
    share in micros — the oracle computes the same striping from a
    global row_number, so equality proves the banded rank IS the
    global (size desc, id) order. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    packed = ORD.striped_pack(docs, n_bins=16, size_col="n_chars")
    per = packed.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    gt = per.agg(F.sum("total_chars").alias("_gt"))
    return per.crossJoin(F.broadcast(gt)).select(
        "bin", "n_docs", "total_chars",
        F.floor(F.col("total_chars") * F.lit(16000000.0) / F.col("_gt"))
        .cast("long").alias("load_micro"),
    )


@query(
    "q127_dsir_weights",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             unnest(tk) AS g
      FROM toks
      UNION ALL
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i+1]))
      FROM toks WHERE len(tk) >= 2
    ),
    occ AS (
      SELECT doc_id, y,
             CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 1024 AS b
      FROM grams
    ),
    counts AS (
      SELECT b, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cn
      FROM occ GROUP BY b
    ),
    stats AS (
      SELECT CAST(sum(cp) AS BIGINT) AS tp,
             CAST(sum(cn) AS BIGINT) AS tn
      FROM counts
    ),
    w AS (
      SELECT b,
             CAST(floor((ln((cp + 1.0) / (tp + 1024.0))
                         - ln((cn + 1.0) / (tn + 1024.0)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lr
      FROM counts, stats
    ),
    agg AS (
      SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(w.lr) AS BIGINT) AS s
      FROM occ o JOIN w USING (b)
      GROUP BY o.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s, 0) AS BIGINT) AS logw_micro
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    primary=False,
)
def q127_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance log-weights (operators/
    text_analysis.py:dsir_importance_weights, M98): unigram+bigram
    occurrences hashed into 1024 buckets, Laplace-smoothed
    target-vs-raw log-ratios quantized once to integer micros, exact
    per-doc sums. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.dsir_importance_weights(_docs(spark, sf_dir))


@query(
    "q128_dup_span_audit",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    spans AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(
               unnest(list_transform(range(1, len(tk) - 3),
                                     i -> array_to_string(tk[i:i+4], ' ')))
             ), 1, 15) AS BIGINT) AS h
      FROM toks WHERE len(tk) >= 5
    ),
    dps AS (
      SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
      FROM spans GROUP BY h
    ),
    agg AS (
      SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_spans
      FROM spans s JOIN dps d USING (h)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(CASE WHEN COALESCE(n_spans, 0) > 0
                THEN floor(dup_spans * 1000000.0 / n_spans)
                ELSE 0 END AS BIGINT) AS dup_rate_micro
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    primary=False,
)
def q128_dup_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 5-token-span audit (operators/dedup.py:dup_span_stats,
    M99): per-doc fraction of span occurrences shared with any other
    document, on the 60-bit span hash. The oracle's list slice
    ``tk[i:i+4]`` is 1-based INCLUSIVE (5 elements) and range's upper
    bound is exclusive — together they enumerate exactly the
    ``len-4`` spans the Spark lead-window builds. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return D.dup_span_stats(_docs(spark, sf_dir), w=5)


@query(
    "q129_fertility_by_lang",
    r"""
    WITH per AS (
      SELECT lang,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS w,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS t,
             length(text) AS c
      FROM documents
    ),
    g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(w) AS BIGINT) AS n_words,
             CAST(sum(t) AS BIGINT) AS n_tokens,
             CAST(sum(c) AS BIGINT) AS n_chars
      FROM per GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_tokens, n_chars,
           CAST(CASE WHEN n_words > 0
                THEN floor(n_tokens * 1000000.0 / n_words)
                ELSE 0 END AS BIGINT) AS fertility_micro,
           CAST(CASE WHEN n_tokens > 0
                THEN floor(n_chars * 1000000.0 / n_tokens)
                ELSE 0 END AS BIGINT) AS chars_per_token_micro
    FROM g
    """,
    primary=False,
)
def q129_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language (operators/
    text_analysis.py:fertility_stats, M100): BPE-ish tokens per
    whitespace word and chars per token, both exact integer micros of
    per-group exact sums. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.fertility_stats(_docs(spark, sf_dir))


@query(
    "q130_split_leakage",
    r"""
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(text) - 3),
                                          i -> text[i:i+4])) AS g
      FROM documents WHERE len(text) >= 5
    ),
    ex AS (SELECT doc_id, unnest(g) AS gr FROM grams),
    dfreq AS (SELECT gr, count(*) AS df FROM ex GROUP BY gr),
    rare AS (
      SELECT ex.doc_id, ex.gr FROM ex JOIN dfreq USING (gr)
      WHERE df BETWEEN 2 AND 10
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.gr = b.gr AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN grams ga ON ga.doc_id = id_a
      JOIN grams gb ON gb.doc_id = id_b
      WHERE len(list_intersect(ga.g, gb.g)) * 1.0
            / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.5
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN u < 800000 THEN 'train'
                  WHEN u < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5('s1' || chr(31) || source), 1, 15)
                    AS BIGINT) % 1000000 AS u
        FROM documents
      )
    ),
    cls AS (
      SELECT least(a.split, b.split) AS split_lo,
             greatest(a.split, b.split) AS split_hi, id_a, id_b
      FROM pairs
      JOIN lab a ON a.doc_id = id_a
      JOIN lab b ON b.doc_id = id_b
    ),
    pc AS (
      SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs
      FROM cls GROUP BY 1, 2
    ),
    dc AS (
      SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_docs
      FROM (
        SELECT DISTINCT split_lo, split_hi, d FROM (
          SELECT split_lo, split_hi, id_a AS d FROM cls
          UNION ALL
          SELECT split_lo, split_hi, id_b FROM cls
        )
      ) GROUP BY 1, 2
    )
    SELECT pc.split_lo, pc.split_hi, n_pairs, n_docs
    FROM pc JOIN dc USING (split_lo, split_hi)
    """,
    primary=False,
)
def q130_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test near-dup leakage audit (operators/ordering.py:
    split_leakage_audit, M101): n-gram-Jaccard near-dup pairs classed
    by the split pair of the source-grouped 80/10/10 hash split —
    off-diagonal rows are eval contamination. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return ORD.split_leakage_audit(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1},
        "s1", group_col="source",
    )


@query(
    "q131_backoff_logprob",
    r"""
    WITH ltoks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    occ AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS m,
             unnest(tk) AS t
      FROM ltoks
    ),
    big AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS m,
             unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
             unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
      FROM ltoks WHERE len(tk) >= 2
    ),
    bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
      FROM big WHERE m = 1 GROUP BY w1, w2
    ),
    pc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cp FROM bc GROUP BY w1),
    qb AS (
      SELECT w1, w2,
             CAST(floor(-ln(cb * 1.0 / cp) * 1e6 + 0.5) AS BIGINT) AS q
      FROM bc JOIN pc USING (w1)
    ),
    uni AS (
      SELECT t, CAST(count(*) AS BIGINT) AS cu
      FROM occ WHERE m = 1 GROUP BY t
    ),
    nm AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uni),
    qu AS (
      SELECT t, CAST(floor(-ln(0.4 * cu / n) * 1e6 + 0.5) AS BIGINT) AS q
      FROM uni, nm
    ),
    qf AS (
      SELECT CAST(floor(-ln(0.4 / n) * 1e6 + 0.5) AS BIGINT) AS q FROM nm
    ),
    scored AS (
      SELECT b.doc_id,
             COALESCE(qb.q, qu.q, qf.q) AS q,
             CASE WHEN qb.q IS NOT NULL THEN 1 ELSE 0 END AS hit,
             CASE WHEN qb.q IS NULL AND qu.q IS NOT NULL
                  THEN 1 ELSE 0 END AS back,
             CASE WHEN qb.q IS NULL AND qu.q IS NULL
                  THEN 1 ELSE 0 END AS oov
      FROM big b
      LEFT JOIN qb ON b.w1 = qb.w1 AND b.w2 = qb.w2
      LEFT JOIN qu ON b.w2 = qu.t, qf
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(hit) AS BIGINT) AS n_hits,
             CAST(sum(back) AS BIGINT) AS n_backoffs,
             CAST(sum(oov) AS BIGINT) AS n_oov,
             CAST(sum(q) AS BIGINT) AS s
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(n_backoffs, 0) AS BIGINT) AS n_backoffs,
           CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
           CAST(COALESCE(s, 0) AS BIGINT) AS sum_neglogs_micro,
           CAST(CASE WHEN COALESCE(n_bigrams, 0) > 0
                THEN floor(s * 1.0 / n_bigrams) ELSE 0 END AS BIGINT)
             AS avg_neglogs_micro
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    primary=False,
)
def q131_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff cross-corpus scoring (operators/text_analysis.py:
    backoff_logprob, M102): bigram model trained on the lang='en'
    slice, every document scored with α=0.4 backoff to the unigram
    then an OOV floor; the hit/backoff/OOV counters audit model
    coverage. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.backoff_logprob(
        _docs(spark, sf_dir), F.col("lang") == F.lit("en"), alpha=0.4
    )


@query(
    "q132_pmi_collocations",
    r"""
    WITH ltoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    occ AS (SELECT doc_id, unnest(tk) AS t FROM ltoks),
    big AS (
      SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
             unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
      FROM ltoks WHERE len(tk) >= 2
    ),
    bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
      FROM big GROUP BY w1, w2
    ),
    uc AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM occ GROUP BY t),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS nb,
             (SELECT CAST(count(*) AS BIGINT) FROM occ) AS nt
    )
    SELECT w1, w2, cb AS n_pair,
           CAST(floor(ln((cb * 1.0 / nb)
                         / ((u1.cu * 1.0 / nt) * (u2.cu * 1.0 / nt)))
                      * 1e9 + 0.5) AS BIGINT) AS pmi_nano
    FROM bc
    JOIN uc u1 ON bc.w1 = u1.t
    JOIN uc u2 ON bc.w2 = u2.t, tot
    WHERE cb >= 5
    ORDER BY pmi_nano DESC, w1, w2
    LIMIT 100
    """,
    primary=False,
)
def q132_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI collocations (operators/text_analysis.py:
    pmi_collocations, M103): pointwise mutual information over corpus
    bigram/unigram counts, min pair count 5, integer-nano quantization,
    (pmi desc, w1, w2) deterministic top-k. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return TA.pmi_collocations(_docs(spark, sf_dir), min_count=5, k=100)


@query(
    "q133_lexical_richness",
    r"""
    WITH occ AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    tc AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS c
      FROM occ GROUP BY source, t
    ),
    g AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM tc GROUP BY source
    )
    SELECT source, n_tokens, vocab_size, n_hapax,
           CAST(CASE WHEN n_tokens > 0
                THEN floor(vocab_size * 1000000.0 / n_tokens)
                ELSE 0 END AS BIGINT) AS ttr_micro,
           CAST(CASE WHEN vocab_size > 0
                THEN floor(n_hapax * 1000000.0 / vocab_size)
                ELSE 0 END AS BIGINT) AS hapax_frac_micro
    FROM g
    """,
    primary=False,
)
def q133_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical richness (operators/text_analysis.py:
    lexical_richness, M104): vocabulary size, type-token ratio and
    hapax fraction from exact (source, token) counts, integer micros.
    Secondary registry; oracle-gated by tests/test_extra_queries.py."""
    return TA.lexical_richness(_docs(spark, sf_dir))


@query(
    "q134_score_calibration",
    r"""
    WITH lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
      FROM documents
    ),
    tok AS (
      SELECT doc_id, y,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM lab
    ),
    cnt AS (
      SELECT tok, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cn
      FROM tok GROUP BY tok
    ),
    st AS (
      SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    ),
    pr AS (
      SELECT CAST(sum(y) AS BIGINT) AS np, CAST(sum(1 - y) AS BIGINT) AS nn
      FROM lab
    ),
    w AS (
      SELECT tok,
             CAST(floor((ln((cp + 1.0) / (tp + v))
                         - ln((cn + 1.0) / (tn + v)))
                        * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM cnt, st
    ),
    agg AS (
      SELECT t.doc_id, CAST(sum(w.w_micro) AS BIGINT) AS sw
      FROM tok t JOIN w ON t.tok = w.tok GROUP BY t.doc_id
    ),
    pm AS (
      SELECT CAST(floor((ln(np + 1.0) - ln(nn + 1.0)) * 1000000.0 + 0.5)
                  AS BIGINT) AS prior_micro
      FROM pr
    ),
    sc AS (
      SELECT d.doc_id,
             CAST(pm.prior_micro + COALESCE(a.sw, 0) AS BIGINT) AS s,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents d LEFT JOIN agg a USING (doc_id), pm
    ),
    rk AS (
      SELECT doc_id, s, y,
             row_number() OVER (ORDER BY s, doc_id) - 1 AS r,
             count(*) OVER () AS n
      FROM sc
    )
    SELECT CAST(floor(r * 10 * 1.0 / n) AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(floor(sum(y) * 1000000.0 / count(*)) AS BIGINT)
             AS pos_rate_micro,
           CAST(min(s) AS BIGINT) AS min_score_micro,
           CAST(max(s) AS BIGINT) AS max_score_micro
    FROM rk GROUP BY 1
    """,
    primary=False,
)
def q134_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-decile calibration audit of the M95 seed classifier
    (operators/text_analysis.py:classifier_calibration, M105):
    equal-population bins by exact banded global rank (the
    striped_pack two-phase shape — no global sort), actual positive
    rate per bin. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return TA.classifier_calibration(
        _docs(spark, sf_dir), scored=_nb_scores(spark, sf_dir)
    )


@query(
    "q135_quality_funnel",
    r"""
    WITH lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
      FROM documents
    ),
    tok AS (
      SELECT doc_id, y,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM lab
    ),
    cnt AS (
      SELECT tok, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cn
      FROM tok GROUP BY tok
    ),
    st AS (
      SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    ),
    pr AS (
      SELECT CAST(sum(y) AS BIGINT) AS np, CAST(sum(1 - y) AS BIGINT) AS nn
      FROM lab
    ),
    w AS (
      SELECT tok,
             CAST(floor((ln((cp + 1.0) / (tp + v))
                         - ln((cn + 1.0) / (tn + v)))
                        * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM cnt, st
    ),
    agg AS (
      SELECT t.doc_id, CAST(sum(w.w_micro) AS BIGINT) AS sw
      FROM tok t JOIN w ON t.tok = w.tok GROUP BY t.doc_id
    ),
    pm AS (
      SELECT CAST(floor((ln(np + 1.0) - ln(nn + 1.0)) * 1000000.0 + 0.5)
                  AS BIGINT) AS prior_micro
      FROM pr
    ),
    ltk AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    f AS (
      SELECT d.doc_id,
             (d.n_chars BETWEEN 120 AND 2000) AS g1,
             (len(tk) >= 25) AS g2,
             (len(list_distinct(tk)) * 1000000 >= 400000 * len(tk)) AS g3,
             (pm.prior_micro + COALESCE(a.sw, 0) >= 0) AS g4
      FROM documents d
      JOIN ltk USING (doc_id)
      LEFT JOIN agg a USING (doc_id), pm
    ),
    a2 AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
               AS s2,
             CAST(sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s3,
             CAST(sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s4
      FROM f
    )
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'len_chars' AS stage, n0 AS n_in,
             s1 AS n_out, n0 - s1 AS n_dropped,
             CAST(CASE WHEN n0 > 0 THEN floor(s1 * 1000000.0 / n0)
                  ELSE 0 END AS BIGINT) AS pass_rate_micro
      FROM a2
      UNION ALL
      SELECT 1, 'min_words', s1, s2, s1 - s2,
             CAST(CASE WHEN s1 > 0 THEN floor(s2 * 1000000.0 / s1)
                  ELSE 0 END AS BIGINT)
      FROM a2
      UNION ALL
      SELECT 2, 'distinct_ratio', s2, s3, s2 - s3,
             CAST(CASE WHEN s2 > 0 THEN floor(s3 * 1000000.0 / s2)
                  ELSE 0 END AS BIGINT)
      FROM a2
      UNION ALL
      SELECT 3, 'nb_positive', s3, s4, s3 - s4,
             CAST(CASE WHEN s3 > 0 THEN floor(s4 * 1000000.0 / s3)
                  ELSE 0 END AS BIGINT)
      FROM a2
    )
    """,
    primary=False,
)
def q135_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-gate funnel (operators/validation.py:
    quality_funnel, M106): char-length band -> min word count ->
    distinct-token ratio -> NB-positive, each stage's survivor count
    from ONE scan + ONE 1-row aggregate. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    from ..operators import validation as V
    from ..operators.dedup import tokens as _tk

    docs = _docs(spark, sf_dir)
    nb = _nb_scores(spark, sf_dir).select("doc_id", "score_micro")
    joined = docs.join(nb, "doc_id")
    tk = _tk(F.col("text"))
    gates = [
        ("len_chars", F.col("n_chars").between(120, 2000)),
        ("min_words", F.size(tk) >= 25),
        ("distinct_ratio",
         F.size(F.array_distinct(tk)) * 1_000_000
         >= 400_000 * F.size(tk)),
        ("nb_positive", F.col("score_micro") >= 0),
    ]
    return V.quality_funnel(joined, gates)


@query(
    "q136_packing_efficiency",
    r"""
    WITH per AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n
      FROM documents
    ),
    per2 AS (
      SELECT source, n,
             CAST(floor((n + 511) * 1.0 / 512) AS BIGINT) AS cp
      FROM per
    ),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(sum(cp) AS BIGINT) AS padded_contexts
      FROM per2 GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           CAST(floor((total_tokens + 511) * 1.0 / 512) AS BIGINT)
             AS packed_contexts,
           CAST(floor((total_tokens + 511) * 1.0 / 512) AS BIGINT) * 512
             - total_tokens AS packed_waste,
           padded_contexts,
           padded_contexts * 512 - total_tokens AS padded_waste,
           CAST(CASE WHEN floor((total_tokens + 511) * 1.0 / 512) > 0
                THEN floor(total_tokens * 1000000.0
                           / (floor((total_tokens + 511) * 1.0 / 512)
                              * 512))
                ELSE 0 END AS BIGINT) AS packed_util_micro,
           CAST(CASE WHEN padded_contexts > 0
                THEN floor(total_tokens * 1000000.0
                           / (padded_contexts * 512))
                ELSE 0 END AS BIGINT) AS padded_util_micro
    FROM g
    """,
    primary=False,
)
def q136_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit at ctx_len=512 (operators/ordering.py:
    packing_efficiency, M107): concat-split packing vs pad-each-doc
    waste and utilization per source, exact integer counts. Secondary
    registry; oracle-gated by tests/test_extra_queries.py."""
    return ORD.packing_efficiency(_docs(spark, sf_dir), ctx_len=512)


@query(
    "q137_dup_cluster_sizes",
    r"""
    WITH RECURSIVE hx AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ch
      FROM documents
    ),
    epairs AS (
      SELECT id_a, id_b FROM (
        SELECT min(doc_id) OVER (PARTITION BY ch) AS id_a, doc_id AS id_b
        FROM hx
      ) WHERE id_a <> id_b
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(text) - 3),
                                          i -> text[i:i+4])) AS g
      FROM documents WHERE len(text) >= 5
    ),
    ex AS (SELECT doc_id, unnest(g) AS gr FROM grams),
    dfreq AS (SELECT gr, count(*) AS df FROM ex GROUP BY gr),
    rare AS (
      SELECT ex.doc_id, ex.gr FROM ex JOIN dfreq USING (gr)
      WHERE df BETWEEN 2 AND 10
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.gr = b.gr AND a.doc_id < b.doc_id
    ),
    npairs AS (
      SELECT id_a, id_b FROM cand
      JOIN grams ga ON ga.doc_id = id_a
      JOIN grams gb ON gb.doc_id = id_b
      WHERE len(list_intersect(ga.g, gb.g)) * 1.0
            / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.5
    ),
    allp AS (SELECT * FROM epairs UNION SELECT * FROM npairs),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM allp
      UNION SELECT id_b, id_a FROM allp
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
    ),
    comps AS (SELECT id AS doc_id, min(comp) AS component
              FROM reach GROUP BY id),
    cs AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comps GROUP BY component
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM cs GROUP BY cluster_size
    """,
    primary=False,
)
def q137_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (operators/graph.py:
    dup_cluster_sizes, M108) over q52/q75's exact+near-dup component
    labeling (shared cached fixpoint). Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return G.dup_cluster_sizes(_doc_components(spark, sf_dir))


@query(
    "q138_eval_quotas",
    r"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM c),
    qc AS (
      SELECT lang, n_docs,
             CAST(floor(n_docs * 100 * 1.0 / t.n) AS BIGINT) AS base,
             n_docs * 100
               - CAST(floor(n_docs * 100 * 1.0 / t.n) AS BIGINT) * t.n
               AS rem
      FROM c, t
    ),
    bs AS (SELECT CAST(sum(base) AS BIGINT) AS b FROM qc),
    q AS (
      SELECT lang, n_docs,
             CAST(base + CASE WHEN row_number()
                                   OVER (ORDER BY rem DESC, lang)
                              <= 100 - bs.b
                         THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM qc, bs
    ),
    keyed AS (
      SELECT lang, doc_id,
             CAST('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) AS h
      FROM documents
    ),
    sel AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
               AS rn
      FROM keyed
    ),
    agg AS (
      SELECT s.lang, CAST(count(*) AS BIGINT) AS n_selected,
             CAST(sum(s.doc_id) AS BIGINT) AS sel_id_sum
      FROM sel s JOIN q USING (lang)
      WHERE s.rn <= q.quota GROUP BY s.lang
    )
    SELECT q.lang, q.n_docs, q.quota,
           CAST(COALESCE(n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(sel_id_sum, 0) AS BIGINT) AS sel_id_sum
    FROM q LEFT JOIN agg USING (lang)
    """,
    primary=False,
)
def q138_eval_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder eval-set apportionment (operators/ordering.py:
    stratified_quotas, M109): 100 held-out slots split exactly
    proportionally across languages, members selected by seeded hash
    order, selected-id checksum per stratum. Secondary registry;
    oracle-gated by tests/test_extra_queries.py."""
    return ORD.stratified_quotas(_docs(spark, sf_dir), k=100,
                                 group_col="lang", seed="eval")


@query(
    "q139_rrf_fusion",
    r"""
    WITH ltk AS (
      SELECT doc_id, n_chars,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
      FROM documents
    ),
    tok AS (
      SELECT doc_id, y,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM lab
    ),
    cnt AS (
      SELECT tok, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cn
      FROM tok GROUP BY tok
    ),
    st AS (
      SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    ),
    pr AS (
      SELECT CAST(sum(y) AS BIGINT) AS np, CAST(sum(1 - y) AS BIGINT) AS nn
      FROM lab
    ),
    w AS (
      SELECT tok,
             CAST(floor((ln((cp + 1.0) / (tp + v))
                         - ln((cn + 1.0) / (tn + v)))
                        * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM cnt, st
    ),
    agg AS (
      SELECT t.doc_id, CAST(sum(w.w_micro) AS BIGINT) AS sw
      FROM tok t JOIN w ON t.tok = w.tok GROUP BY t.doc_id
    ),
    pm AS (
      SELECT CAST(floor((ln(np + 1.0) - ln(nn + 1.0)) * 1000000.0 + 0.5)
                  AS BIGINT) AS prior_micro
      FROM pr
    ),
    sig AS (
      SELECT l.doc_id,
             -(pm.prior_micro + COALESCE(a.sw, 0)) AS k_nb,
             -l.n_chars AS k_len,
             -(CAST(CASE WHEN len(tk) > 0
                    THEN floor(len(list_distinct(tk)) * 1000000.0
                               / len(tk))
                    ELSE 0 END AS BIGINT)) AS k_div
      FROM ltk l LEFT JOIN agg a USING (doc_id), pm
    ),
    rk AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY k_nb, doc_id) - 1 AS rank_nb,
             row_number() OVER (ORDER BY k_len, doc_id) - 1 AS rank_len,
             row_number() OVER (ORDER BY k_div, doc_id) - 1 AS rank_div
      FROM sig
    )
    SELECT doc_id,
           CAST(rank_nb AS BIGINT) AS rank_nb,
           CAST(rank_len AS BIGINT) AS rank_len,
           CAST(rank_div AS BIGINT) AS rank_div,
           CAST(floor(1000000000.0 / (60 + rank_nb + 1))
                + floor(1000000000.0 / (60 + rank_len + 1))
                + floor(1000000000.0 / (60 + rank_div + 1)) AS BIGINT)
             AS rrf_score
    FROM rk
    ORDER BY rrf_score DESC, doc_id
    LIMIT 100
    """,
    primary=False,
)
def q139_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of three quality signals (operators/
    ordering.py:rrf_fuse, M110): NB seed-classifier score, char
    length, distinct-token ratio — each negated so ascending rank =
    better, ranked by the banded two-phase global rank, fused with
    k=60, top-100. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    from ..operators.dedup import tokens as _tk

    docs = _docs(spark, sf_dir)
    nb = _nb_scores(spark, sf_dir).select("doc_id", "score_micro")
    tk = _tk(F.col("text"))
    sig = (
        docs.join(nb, "doc_id")
        .select(
            "doc_id",
            (-F.col("score_micro")).alias("k_nb"),
            (-F.col("n_chars")).cast("long").alias("k_len"),
            (-F.when(
                F.size(tk) > 0,
                F.floor(F.size(F.array_distinct(tk)).cast("long")
                        * F.lit(1_000_000) / F.size(tk)),
            ).otherwise(F.lit(0)).cast("long")).alias("k_div"),
        )
        .localCheckpoint(eager=False)
    )
    return ORD.rrf_fuse(
        sig, [("nb", "k_nb"), ("len", "k_len"), ("div", "k_div")],
        k_const=60, top_k=100,
    )


@query(
    "q140_ppjoin_exact",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    hrows AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(u.sg), 1, 15) AS BIGINT) AS h
      FROM sh, unnest(sh.s) AS u(sg)
    ),
    sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      FROM hrows GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS i
      FROM hrows a JOIN hrows b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(floor(i * 1000000.0 / (na.n + nb.n - i)) AS BIGINT)
             AS jac_micro
    FROM inter
    JOIN sz na ON na.doc_id = id_a
    JOIN sz nb ON nb.doc_id = id_b
    WHERE i * 100 >= 50 * (na.n + nb.n - i)
    """,
    primary=False,
)
def q140_ppjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-shingle Jaccard similarity self-join at threshold 0.5
    via prefix filtering (operators/dedup.py:ppjoin_pairs, M111) — the
    provably-complete counterpart to q41's LSH and q43's df-blocked
    join. The oracle is the UNFILTERED all-pairs shingle join: the
    prefix-filter theorem says both must produce identical pairs, so a
    pruning bug on either side of the prefix boundary shows up as a
    row-count mismatch. Driver window r5 via PRIMARY_ROTATION.
    The candidate-volume guard runs ON in production (measured bound:
    10.1k at sf0.01, 659k at sf0.1 — the 1e9 ceiling trips only on a
    vocabulary-degenerate corpus, VERDICT r5 task 2)."""
    return D.ppjoin_pairs(_docs(spark, sf_dir), t_pct=50, k=3,
                          max_candidates=1_000_000_000)


@query(
    "q141_token_heavy_hitters",
    r"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS item
      FROM documents
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
    SELECT item, CAST(count(*) AS BIGINT) AS n
    FROM tok, t
    GROUP BY item, t.total
    HAVING count(*) * 31 > t.total
    """,
    primary=False,
)
def q141_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over word-token occurrences — every token
    above 1/31 of all occurrences, with its EXACT count, computed by
    the two-pass Misra-Gries path (operators/sketches.py:
    exact_heavy_hitters, M112, k=30) instead of a full-vocabulary
    groupBy. The oracle IS the full-vocabulary groupBy
    (HAVING n·31 > total), so the sketch path must reproduce the
    naive plan's answer exactly. Driver window r5 via
    PRIMARY_ROTATION."""
    from ..operators import sketches as SK

    items = _docs(spark, sf_dir).select(
        F.explode(D.tokens(F.lower(F.col("text")))).alias("item")
    )
    return SK.exact_heavy_hitters(items, "item", k=30)


@query(
    "q142_unimax_plan",
    r"""
    WITH agg AS (
      SELECT source, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS n_size
      FROM documents GROUP BY source
    ),
    caps AS (
      SELECT source, n_size,
             CAST((n_size * 2000000) // 1000000 AS BIGINT) AS cap_tokens
      FROM agg
    ),
    rk AS (
      SELECT source, n_size, cap_tokens,
             CAST(row_number() OVER wrd AS BIGINT) AS rn,
             CAST(sum(cap_tokens) OVER
                  (wrd ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx,
             CAST(count(*) OVER () AS BIGINT) AS s
      FROM caps WINDOW wrd AS (ORDER BY cap_tokens, source)
    ),
    lv AS (
      SELECT *, CASE WHEN cap_tokens * (s - rn + 1) + pfx - cap_tokens
                          <= 280000 THEN 1 ELSE 0 END AS cap1
      FROM rk
    ),
    ag AS (
      SELECT *,
             CAST(sum(cap1) OVER () AS BIGINT) AS k,
             CAST(sum(CASE WHEN cap1 = 1 THEN cap_tokens ELSE 0 END)
                  OVER () AS BIGINT) AS pk
      FROM lv
    ),
    fin AS (
      SELECT source, n_size, cap_tokens, cap1,
             280000 - pk AS r, s - k AS m, rn - k AS urank
      FROM ag
    ),
    al AS (
      SELECT source, n_size, cap_tokens, cap1, r, m,
             CAST(CASE WHEN cap1 = 1 THEN cap_tokens
                  ELSE r // greatest(m, 1)
                       + CASE WHEN urank <= r % greatest(m, 1)
                              THEN 1 ELSE 0 END
                  END AS BIGINT) AS alloc_tokens
      FROM fin
    )
    SELECT source, n_size, cap_tokens, alloc_tokens,
           CAST(cap1 AS BIGINT) AS capped,
           CASE WHEN n_size > 0
                THEN CAST((alloc_tokens * 1000000) // n_size AS BIGINT)
           END AS epochs_micro,
           CAST(greatest(0, CASE WHEN m = 0 THEN r ELSE 0 END)
                AS BIGINT) AS short_tokens
    FROM al
    """,
    primary=False,
)
def q142_unimax_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax water-filling budget allocation (operators/mixing.py:
    unimax_plan, M113): a 280k-token budget over the per-source char
    mass at a 2-epoch repetition cap. The constants put several small
    sources AT their cap and leave the rest splitting the remainder,
    so both branches of the closed form are exercised (at sf0.001 the
    whole corpus caps below the budget, exercising the infeasible
    branch — covered by tests). Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    return MX.unimax_plan(_docs(spark, sf_dir), token_budget=280_000,
                          max_epochs_micro=2_000_000)


@query(
    "q143_edjoin_exact",
    r"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 10
    WHERE levenshtein(a.text, b.text) <= 10
    """,
    primary=False,
)
def q143_edjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance self-join at d=10 via PARTITION-based
    Pass-Join filtering (operators/dedup.py:edjoin_pairs, M114;
    re-architected in r7 from the q-gram prefix scheme — VERDICT r6
    task 2) — the fuzzy-dedup counterpart to q140's set-Jaccard
    PPJoin. The oracle is the UNFILTERED all-pairs levenshtein join,
    so a pruning bug in the chunk scheme, shift windows, or length
    routing surfaces as a missing pair. Chunk join keys are
    ≈len/(d+1)-char substrings (df ≈ 1 on natural text), which cured
    the one superlinear candidate bound in the engine: guard-measured
    bound 138k→6.2k at sf0.01 and 16.0M→142k at sf0.1 (a 112× cut),
    growth 116×→23× on the degenerate word-salad testdata and
    LINEAR (9.98× at 10×) on the Zipf-vocabulary fixture
    (SURVEY §6.1b-r7). ``q=8`` now only routes the short-string
    tiny bucket (cutoff q·d+q−1). The candidate-volume guard runs ON
    in production. Driver window r7 via PRIMARY_ROTATION."""
    return D.edjoin_pairs(_docs(spark, sf_dir), d=10, q=8,
                          max_candidates=5_000_000_000)


@query(
    "q144_embedding_gram",
    r"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (
      SELECT vec_id, CAST(u.p.i AS INTEGER) AS i,
             CAST(floor(u.p.x * 1000000 + 0.5) AS BIGINT) AS vq
      FROM e, unnest(list_transform(range(0, len(v)),
                     k -> struct_pack(i := k, x := v[k+1]))) AS u(p)
    )
    SELECT a.i AS i, b.i AS j, CAST(sum(a.vq * b.vq) AS BIGINT) AS s
    FROM q a JOIN q b USING (vec_id)
    WHERE a.i <= b.i
    GROUP BY a.i, b.i
    UNION ALL
    SELECT i, CAST(-1 AS INTEGER) AS j, CAST(sum(vq) AS BIGINT) AS s
    FROM q GROUP BY i
    UNION ALL
    SELECT CAST(-1 AS INTEGER), CAST(-1 AS INTEGER),
           CAST(count(*) AS BIGINT)
    FROM e WHERE v IS NOT NULL
    """,
    primary=False,
)
def q144_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact second-moment (Gram) accumulation over the
    embedding column (operators/linalg.py:gram_accumulate, M115 pass
    1): the d(d+1)/2 upper-triangle sums of quantized component
    products, plus the d column sums and the count — the one
    distributed pass PCA whitening needs. The int64 reduction is
    partitioning-independent, so the Arrow-batched matmul path must
    match the oracle's per-component join bit-for-bit. Secondary
    registry; oracle-gated by tests/test_extra_queries.py."""
    from ..operators import linalg as LA

    return LA.gram_accumulate(_embs(spark, sf_dir))


@query(
    "q145_bloom_membership",
    r"""
    WITH base AS (
      SELECT DISTINCT text FROM documents WHERE source < 'src5'
    ),
    delta AS (
      SELECT DISTINCT source, text FROM documents WHERE source >= 'src5'
    ),
    bits AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5('bloom:0' || chr(31)
                  || CAST(u.d AS VARCHAR) || chr(31) || text), 1, 15)
                  AS BIGINT) % 65536 AS bit
      FROM base, unnest(range(0, 5)) AS u(d)
    ),
    pos AS (
      SELECT source, text,
             CAST('0x' || substr(md5('bloom:0' || chr(31)
                  || CAST(u.d AS VARCHAR) || chr(31) || text), 1, 15)
                  AS BIGINT) % 65536 AS bit
      FROM delta, unnest(range(0, 5)) AS u(d)
    ),
    hits AS (
      SELECT source, text, count(b.bit) AS h
      FROM pos LEFT JOIN bits b USING (bit)
      GROUP BY source, text
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(CASE WHEN h = 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_maybe
    FROM hits GROUP BY source
    """,
    primary=False,
)
def q145_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate (operators/sketches.py:
    bloom_build/bloom_probe, M117): compress the src0-src4 half of the
    corpus into a 2¹⁶-bit filter, probe the src5+ half's distinct
    (source, text) pairs, and report per source how many probes come
    back possibly-present — the broadcast-sized incremental-dedup
    pre-gate. Bit positions are md5-derived, so the oracle rebuilds
    the identical filter. Secondary registry; oracle-gated by
    tests/test_extra_queries.py."""
    from ..operators import sketches as SK

    docs = _docs(spark, sf_dir)
    m_bits, k, seed = 65536, 5, "bloom:0"
    base = (docs.filter(F.col("source") < "src5")
            .select(F.col("text").alias("item")))
    delta = (docs.filter(F.col("source") >= "src5")
             .select("source", "text").distinct())
    filt = SK.bloom_build(base, "item", m_bits=m_bits, k=k, seed=seed)
    probes = SK.bloom_probe(
        delta.select(F.col("text").alias("item")).distinct(), filt,
        "item", m_bits=m_bits, k=k, seed=seed)
    return (
        delta.join(probes, delta["text"] == probes["item"])
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_probed"),
             F.sum("maybe").cast("long").alias("n_maybe"))
    )


@query(
    "q146_nfc_audit",
    r"""
    WITH n AS (
      SELECT doc_id, source, text, nfc_normalize(text) AS t
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN t <> text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(sum(length(text)) AS BIGINT) AS chars_before,
           CAST(sum(length(t)) AS BIGINT) AS chars_after
    FROM n GROUP BY source
    """,
    primary=False,
)
def q146_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit per source (operators/
    text_analysis.py:nfc_normalize_docs, M121): how many documents
    were not canonically composed and the char-count delta — CPython
    unicodedata vs DuckDB nfc_normalize, both UAX #15, compared
    char-for-char through the counts. Secondary registry; oracle-gated
    by tests/test_extra_queries.py."""
    docs = _docs(spark, sf_dir)
    out = TA.nfc_normalize_docs(docs)
    src = docs.select("doc_id", "source")
    return (
        out.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("changed").cast("long").alias("n_changed"),
             F.sum("n_chars_before").cast("long").alias("chars_before"),
             F.sum("n_chars_after").cast("long").alias("chars_after"))
    )


@query(
    "q147_ppjoin_increment",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    hrows AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(u.sg), 1, 15) AS BIGINT) AS h
      FROM sh, unnest(sh.s) AS u(sg)
    ),
    sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      FROM hrows GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS i
      FROM hrows a JOIN hrows b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(floor(i * 1000000.0 / (na.n + nb.n - i)) AS BIGINT)
             AS jac_micro
    FROM inter
    JOIN sz na ON na.doc_id = id_a
    JOIN sz nb ON nb.doc_id = id_b
    WHERE i * 100 >= 50 * (na.n + nb.n - i)
      AND (id_a % 2 = 1 OR id_b % 2 = 1)
    """,
    primary=False,
)
def q147_ppjoin_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental PPJoin (operators/incremental.py:
    ppjoin_increment_pairs, M122 — VERDICT r5 stretch 8): base = even
    doc_ids, delta = odd; every qualifying pair touching the delta,
    base x base never built. The oracle is the batch all-pairs shingle
    join on the UNION filtered to delta-touching pairs — the increment
    identity as a driver-checked row (the pytest identity test pins it
    against the batch operator too). Driver window r6 via
    PRIMARY_ROTATION."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    return INC.ppjoin_increment_pairs(base, delta, t_pct=50, k=3,
                                      max_candidates=1_000_000_000)


@query(
    "q148_token_entropy",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    tc AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, t
    ),
    n AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size
      FROM tc GROUP BY doc_id
    ),
    h AS (
      SELECT tc.doc_id,
             CAST(sum(CAST(floor(
               -(tc.c * 1.0 / n.n_tokens)
                 * ln(tc.c * 1.0 / n.n_tokens) * 1000000000.0 + 0.5)
               AS BIGINT)) AS BIGINT) AS entropy_nano
      FROM tc JOIN n USING (doc_id) GROUP BY tc.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(n.vocab_size, 0) AS BIGINT) AS vocab_size,
           CAST(COALESCE(h.entropy_nano, 0) AS BIGINT) AS entropy_nano,
           CAST(floor(exp(COALESCE(h.entropy_nano, 0) / 1000000000.0)
                      * 1000000.0 + 0.5) AS BIGINT)
             AS effective_vocab_micro
    FROM documents d
    LEFT JOIN n ON n.doc_id = d.doc_id
    LEFT JOIN h ON h.doc_id = d.doc_id
    """,
    primary=False,
)
def q148_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy + effective vocabulary
    (operators/text_analysis.py:token_entropy, M123): per-token terms
    quantized once to integer nanos (exact any-order sums), exp on the
    quantized sum only. Driver window r6 via PRIMARY_ROTATION."""
    return TA.token_entropy(_docs(spark, sf_dir))


@query(
    "q149_containment_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    hrows AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(u.sg), 1, 15) AS BIGINT) AS h
      FROM sh, unnest(sh.s) AS u(sg)
    ),
    sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      FROM hrows GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS i
      FROM hrows a JOIN hrows b ON a.h = b.h AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(floor(i * 1000000.0 / na.n) AS BIGINT) AS cont_micro
    FROM inter
    JOIN sz na ON na.doc_id = id_a
    WHERE i * 100 >= 80 * na.n
    """,
    primary=False,
)
def q149_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set containment self-join at c=0.8 (operators/
    dedup.py:containment_pairs, M124) — ordered pairs where id_a's
    3-shingle set is >=80% inside id_b's; the quote/subset-detection
    join Jaccard misses. Oracle = unfiltered all-pairs ORDERED shingle
    join, so a prefix-pruning bug surfaces as a missing pair. The
    candidate-volume guard runs ON. Driver window r6 via
    PRIMARY_ROTATION."""
    return D.containment_pairs(_docs(spark, sf_dir), c_pct=80, k=3,
                               max_candidates=1_000_000_000)


@query(
    "q150_centroid_cosine",
    """
    WITH dims AS (SELECT CAST(range AS INTEGER) AS dim FROM range(64)),
    comp AS (
      SELECT label, d.dim,
             CAST(floor(CAST(embedding[d.dim + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings, dims d
    ),
    cent AS (
      SELECT label, dim,
             CAST(floor(CAST(sum(xm) AS BIGINT) * 1.0 / count(*))
                  AS BIGINT) AS cm,
             count(*) AS n
      FROM comp GROUP BY label, dim
    ),
    norms AS (
      SELECT label, sum(CAST(cm AS HUGEINT) * cm) AS nrm,
             CAST(min(n) AS BIGINT) AS n_vecs
      FROM cent GROUP BY label
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(CAST(a.cm AS HUGEINT) * b.cm) AS dot
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b,
           na.n_vecs AS n_a, nb.n_vecs AS n_b,
           CAST(CASE WHEN na.nrm > 0 AND nb.nrm > 0
                THEN floor(CAST(d.dot AS DOUBLE)
                           / (sqrt(CAST(na.nrm AS DOUBLE))
                              * sqrt(CAST(nb.nrm AS DOUBLE)))
                           * 1000000.0 + 0.5)
                ELSE 0 END AS BIGINT) AS cos_micro
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    """,
    primary=False,
)
def q150_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids
    (operators/similarity.py:centroid_cosine_matrix, M125):
    integer-micro components, exact decimal(38,0)/HUGEINT dot and norm
    sums, one final float division. Driver window r6 via
    PRIMARY_ROTATION."""
    return S.centroid_cosine_matrix(_embs(spark, sf_dir))


@query(
    "q151_script_mix",
    r"""
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_chars,
           CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
                AS BIGINT) AS n_alpha,
           CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
                AS BIGINT) AS n_digit,
           CAST(length(t) - length(regexp_replace(t, '[ \t\n\r]', '', 'g'))
                AS BIGINT) AS n_space,
           CAST(length(t)
                - (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))
                - (length(t) - length(regexp_replace(t, '[0-9]', '', 'g')))
                - (length(t) - length(regexp_replace(t, '[ \t\n\r]', '', 'g')))
                - (length(t) - length(regexp_replace(t, '[^\x00-\x7F]', '', 'g')))
                AS BIGINT) AS n_punct,
           CAST(length(t) - length(regexp_replace(t, '[^\x00-\x7F]', '', 'g'))
                AS BIGINT) AS n_nonascii,
           CAST(CASE WHEN length(t) > 0
                THEN floor((length(t)
                            - length(regexp_replace(t, '[^\x00-\x7F]', '', 'g')))
                           * 1000000.0 / length(t))
                ELSE 0 END AS BIGINT) AS nonascii_micro
    FROM (SELECT doc_id, COALESCE(text, '') AS t FROM documents)
    """,
    primary=False,
)
def q151_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class composition audit (operators/
    text_analysis.py:script_mix, M126): ASCII letter/digit/space/punct
    and non-ASCII counts via pure regexp length arithmetic, identical
    in both dialects (DuckDB needs the 'g' flag; Spark replaces all by
    default). Driver window r6 via PRIMARY_ROTATION."""
    return TA.script_mix(_docs(spark, sf_dir))


@query(
    "q154_ks_drift",
    r"""
    WITH nn AS (
      SELECT source, n_chars AS v FROM documents
      WHERE n_chars IS NOT NULL
    ),
    counts AS (
      SELECT source, v, CAST(count(*) AS BIGINT) AS c
      FROM nn GROUP BY 1, 2
    ),
    vals AS (SELECT DISTINCT v FROM nn),
    grp AS (
      SELECT source, CAST(count(*) AS BIGINT) AS ng
      FROM nn GROUP BY source
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nn),
    grid AS (
      SELECT g.source, v.v, g.ng, COALESCE(c.c, 0) AS c
      FROM vals v CROSS JOIN grp g
      LEFT JOIN counts c ON c.source = g.source AND c.v = v.v
    ),
    cum AS (
      SELECT source, v, ng,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY v)
                  AS BIGINT) AS cg
      FROM grid
    ),
    callc AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS ca
      FROM (SELECT v, CAST(count(*) AS BIGINT) AS c FROM nn GROUP BY 1)
    ),
    scored AS (
      SELECT cum.source, cum.ng, t.n,
             abs(cum.cg * (t.n - cum.ng)
                 - (callc.ca - cum.cg) * cum.ng) AS num
      FROM cum JOIN callc ON callc.v = cum.v, tot t
    )
    SELECT source,
           CAST(ng AS BIGINT) AS n_group,
           CAST(n - ng AS BIGINT) AS n_rest,
           CAST(max(num) AS BIGINT) AS ks_num,
           CAST(ng * (n - ng) AS BIGINT) AS ks_denom,
           CAST(CASE WHEN ng * (n - ng) > 0
                THEN floor(max(num) * 1000000.0 / (ng * (n - ng)))
                ELSE 0 END AS BIGINT) AS ks_micro
    FROM scored GROUP BY source, ng, n
    """,
    primary=False,
)
def q154_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample KS statistic of each source's n_chars
    distribution vs the rest of the corpus (operators/
    events_analytics.py:ks_drift_by_group, M129): integer
    cross-multiplied CDFs, the supremum over pooled sample points, one
    final ratio. Oracle mirrors the operator's r7 NULL contract
    (NULL values excluded from counts AND grid — review finding: the
    testdata has no NULL n_chars, so the mismatch was latent).
    Driver window r6 via PRIMARY_ROTATION."""
    from ..operators.events_analytics import ks_drift_by_group

    return ks_drift_by_group(_docs(spark, sf_dir).select(
        "source", "n_chars"))


@query(
    "q155_novelty_attribution",
    r"""
    WITH t AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             CAST('0x' || substr(md5(u.gm), 1, 15) AS BIGINT) AS h
      FROM (
        SELECT source, unnest(list_distinct(
          CASE WHEN len(tk) >= 8
               THEN list_transform(range(1, len(tk) - 6),
                                   i -> array_to_string(tk[i:i+7], ' '))
               ELSE []::VARCHAR[] END)) AS gm
        FROM t
      ) u
    ),
    seen AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams_seen
      FROM g GROUP BY source
    ),
    firsts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams_first
      FROM (SELECT h, min(source) AS source FROM g GROUP BY h)
      GROUP BY source
    )
    SELECT s.source, s.n_grams_seen,
           CAST(COALESCE(f.n_grams_first, 0) AS BIGINT) AS n_grams_first,
           CAST(CASE WHEN s.n_grams_seen > 0
                THEN floor(COALESCE(f.n_grams_first, 0) * 1000000.0
                           / s.n_grams_seen)
                ELSE 0 END AS BIGINT) AS novelty_micro
    FROM seen s LEFT JOIN firsts f USING (source)
    """,
    primary=False,
)
def q155_novelty_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-order first-occurrence 8-gram attribution (operators/
    text_analysis.py:novelty_attribution, M133): every distinct gram
    charged to the first source in ascending key order — the marginal
    source-value signal. Driver window r6 via PRIMARY_ROTATION."""
    return TA.novelty_attribution(_docs(spark, sf_dir))


@query(
    "q156_weighted_median",
    r"""
    WITH pv AS (
      SELECT source, n_chars AS v,
             CAST(sum(n_chars) AS BIGINT) AS wsum,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, v,
             CAST(sum(wsum) OVER (PARTITION BY source ORDER BY v)
                  AS BIGINT) AS c
      FROM pv
    ),
    tot AS (
      SELECT source, CAST(sum(wsum) AS BIGINT) AS w,
             CAST(sum(n) AS BIGINT) AS n_rows
      FROM pv GROUP BY source
    )
    SELECT t.source, t.n_rows, t.w AS total_weight,
           CAST(min(c.v) AS BIGINT) AS wmedian
    FROM cum c JOIN tot t USING (source)
    WHERE c.c * 2 >= t.w
    GROUP BY t.source, t.n_rows, t.w
    """,
    primary=False,
)
def q156_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-mass-weighted median doc length per source
    (operators/ordering.py:weighted_median_by_group, M134): smallest v
    with 2·cum-weight ≥ total — integer comparisons only. Driver
    window r6 via PRIMARY_ROTATION."""
    return ORD.weighted_median_by_group(_docs(spark, sf_dir))


@query(
    "q157_zipf_slope",
    r"""
    WITH tc AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    cnt AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS c
      FROM tc GROUP BY source, t
    ),
    ranked AS (
      SELECT source, c,
             row_number() OVER (PARTITION BY source
                                ORDER BY c DESC, t) AS r
      FROM cnt
    ),
    q AS (
      SELECT source,
             CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS x,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS y
      FROM ranked
    ),
    mom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT)) AS sx,
             sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx
      FROM q GROUP BY source
    )
    SELECT source, n AS vocab_size,
           CAST(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE)
                           * 1000000.0 + 0.5)
                ELSE NULL END AS BIGINT) AS slope_micro
    FROM mom
    """,
    primary=False,
)
def q157_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf log-log OLS slope (operators/text_analysis.py:
    zipf_slope, M135): ln-rank/ln-count quantized once to micros,
    exact decimal(38,0)/HUGEINT moments, one float division. Driver
    window r6 via PRIMARY_ROTATION."""
    return TA.zipf_slope(_docs(spark, sf_dir))


# Fixed demo vocabulary for the M136 linear scorer: common tokens of
# the synthetic corpus plus two guaranteed-OOV entries (exercising the
# weight-0 path). Weights are md5-derived from the token (seeded_weights
# convention), reproduced in SQL below.
_LINEAR_VOCAB = [
    "key", "value", "table", "row", "batch", "spark", "fast", "slow",
    "merge", "sort", "window", "scan", "agg", "hash", "part", "line",
    "never-in-corpus-1", "never-in-corpus-2",
]


@query(
    "q160_linear_scores",
    r"""
    WITH vocab AS (
      SELECT u.t,
             (CAST('0x' || substr(md5('linear:0' || chr(31) || u.t),
                                  1, 15) AS BIGINT)
              % 2000000) - 1000000 AS w
      FROM unnest(['key', 'value', 'table', 'row', 'batch', 'spark',
                   'fast', 'slow', 'merge', 'sort', 'window', 'scan',
                   'agg', 'hash', 'part', 'line', 'never-in-corpus-1',
                   'never-in-corpus-2']) AS u(t)
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    per_doc AS (
      SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(COALESCE(v.w, 0)) AS BIGINT) AS wsum
      FROM tok LEFT JOIN vocab v ON v.t = tok.t
      GROUP BY tok.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.wsum, 0) + 250000 AS BIGINT) AS logit_micro,
           CAST(floor(1000000.0
                      / (1.0 + exp(-(COALESCE(p.wsum, 0) + 250000)
                                   / 1000000.0)) + 0.5) AS BIGINT)
             AS score_micro
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    primary=False,
)
def q160_linear_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-vocabulary linear text-classifier inference (operators/
    scoring.py, M136): the relational form of the Arrow-batched scorer
    (kernel ≡ relational equality-tested in tests/test_r6_ops.py);
    md5-seeded integer-micro weights the oracle recomputes in SQL,
    sigmoid on the exact quantized logit. Driver window r6 via
    PRIMARY_ROTATION."""
    from ..operators.scoring import linear_scores_relational, seeded_weights

    return linear_scores_relational(
        _docs(spark, sf_dir), seeded_weights(_LINEAR_VOCAB),
        bias_micro=250_000)


@query(
    "q161_embedding_dispersion",
    """
    WITH dims AS (SELECT CAST(range AS INTEGER) AS dim FROM range(64)),
    comp AS (
      SELECT vec_id, label, d.dim,
             CAST(floor(CAST(embedding[d.dim + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings, dims d
    ),
    norms AS (
      SELECT label, sum(nsq) AS s2, CAST(count(*) AS BIGINT) AS n_vecs
      FROM (SELECT vec_id, label,
                   sum(CAST(xm AS HUGEINT) * xm) AS nsq
            FROM comp GROUP BY vec_id, label)
      GROUP BY label
    ),
    dimsums AS (
      SELECT label, sum(CAST(sd AS HUGEINT) * sd) AS s1sq
      FROM (SELECT label, dim, CAST(sum(xm) AS HUGEINT) AS sd
            FROM comp GROUP BY label, dim)
      GROUP BY label
    )
    SELECT n.label, n.n_vecs,
           CAST(CASE WHEN n.n_vecs > 1
                THEN floor(sqrt(CAST(2 * n.n_vecs * n.s2 - 2 * d.s1sq
                                     AS DOUBLE)
                                / CAST(n.n_vecs * (n.n_vecs - 1)
                                       AS DOUBLE)) + 0.5)
                ELSE 0 END AS BIGINT) AS rms_pair_dist_micro
    FROM norms n JOIN dimsums d USING (label)
    """,
    primary=False,
)
def q161_embedding_dispersion(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-label mean pairwise embedding distance WITHOUT a pair stage
    (operators/similarity.py:embedding_dispersion, M140): the
    2n·S2 − 2·|S1|² identity on exact decimal moments. Driver window
    r6 via PRIMARY_ROTATION."""
    return S.embedding_dispersion(_embs(spark, sf_dir))


@query(
    "q162_jaccard_threshold_profile",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    hrows AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(u.sg), 1, 15) AS BIGINT) AS h
      FROM sh, unnest(sh.s) AS u(sg)
    ),
    sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      FROM hrows GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS i
      FROM hrows a JOIN hrows b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT CAST(floor(i * 1000000.0 / (na.n + nb.n - i)) AS BIGINT)
               AS jac_micro
      FROM inter
      JOIN sz na ON na.doc_id = id_a
      JOIN sz nb ON nb.doc_id = id_b
      WHERE i * 100 >= 50 * (na.n + nb.n - i)
    )
    SELECT CAST(least(floor(jac_micro / 100000), 9) * 100000 AS BIGINT)
             AS band_lo_micro,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(jac_micro) AS BIGINT) AS min_jac_micro,
           CAST(max(jac_micro) AS BIGINT) AS max_jac_micro
    FROM pairs GROUP BY 1
    """,
    primary=False,
)
def q162_jaccard_threshold_profile(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity table (operators/dedup.py:
    jaccard_threshold_profile, M141): one exact PPJoin at the t=0.5
    floor, 10%-wide Jaccard bands — oracle = banded all-pairs join.
    Driver window r6 via PRIMARY_ROTATION."""
    return D.jaccard_threshold_profile(
        _docs(spark, sf_dir), t_pct=50, k=3, band_pct=10,
        max_candidates=1_000_000_000)


@query(
    "q163_containment_increment",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    hrows AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(u.sg), 1, 15) AS BIGINT) AS h
      FROM sh, unnest(sh.s) AS u(sg)
    ),
    sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      FROM hrows GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS i
      FROM hrows a JOIN hrows b ON a.h = b.h AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(floor(i * 1000000.0 / na.n) AS BIGINT) AS cont_micro
    FROM inter
    JOIN sz na ON na.doc_id = id_a
    WHERE i * 100 >= 80 * na.n
      AND (id_a % 2 = 1 OR id_b % 2 = 1)
    """,
    primary=True,
)
def q163_containment_increment(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """EXACT incremental containment join (operators/incremental.py:
    containment_increment_pairs, M142 — VERDICT r6 task 3 family):
    base = even doc_ids, delta = odd; every ORDERED containment pair
    (c=0.8, k=3) touching the delta, base x base never built. The
    oracle is q149's batch all-pairs ordered shingle join on the
    UNION filtered to delta-touching pairs — the increment identity
    as a driver-checked row (tests/test_containment_increment.py also
    pins it against the batch operator and covers the
    published-bucketed-base variant). First driver window r7."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    return INC.containment_increment_pairs(base, delta, c_pct=80, k=3,
                                           max_candidates=1_000_000_000)


@query(
    "q164_ks_drift_quantized",
    r"""
    WITH nn AS (
      SELECT source,
             CAST(floor(n_chars / 50) * 50 AS BIGINT) AS v
      FROM documents WHERE n_chars IS NOT NULL
    ),
    counts AS (
      SELECT source, v, CAST(count(*) AS BIGINT) AS c
      FROM nn GROUP BY 1, 2
    ),
    vals AS (SELECT DISTINCT v FROM nn),
    grp AS (
      SELECT source, CAST(count(*) AS BIGINT) AS ng
      FROM nn GROUP BY source
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nn),
    grid AS (
      SELECT g.source, v.v, g.ng, COALESCE(c.c, 0) AS c
      FROM vals v CROSS JOIN grp g
      LEFT JOIN counts c ON c.source = g.source AND c.v = v.v
    ),
    cum AS (
      SELECT source, v, ng,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY v)
                  AS BIGINT) AS cg
      FROM grid
    ),
    callc AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS ca
      FROM (SELECT v, CAST(count(*) AS BIGINT) AS c FROM nn GROUP BY 1)
    ),
    scored AS (
      SELECT cum.source, cum.ng, t.n,
             abs(cum.cg * (t.n - cum.ng)
                 - (callc.ca - cum.cg) * cum.ng) AS num
      FROM cum JOIN callc ON callc.v = cum.v, tot t
    )
    SELECT source,
           CAST(ng AS BIGINT) AS n_group,
           CAST(n - ng AS BIGINT) AS n_rest,
           CAST(max(num) AS BIGINT) AS ks_num,
           CAST(ng * (n - ng) AS BIGINT) AS ks_denom,
           CAST(CASE WHEN ng * (n - ng) > 0
                THEN floor(max(num) * 1000000.0 / (ng * (n - ng)))
                ELSE 0 END AS BIGINT) AS ks_micro
    FROM scored GROUP BY source, ng, n
    """,
    primary=True,
)
def q164_ks_drift_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q154's exact KS drift with the r7 grid governor engaged
    (operators/events_analytics.py:ks_drift_by_group, VERDICT r6 task
    4): values quantized to width-50 buckets BEFORE the grid — the
    exact KS of the quantized variable, with the evaluation grid and
    its pooled cumulative window bounded by range/50 instead of raw
    value cardinality — and max_distinct as the loud-failure budget
    (trip/passthrough pinned by tests/test_ks_guard.py along with the
    NULL-exclusion contract). First driver window r7."""
    from ..operators.events_analytics import ks_drift_by_group

    return ks_drift_by_group(_docs(spark, sf_dir).select(
        "source", "n_chars"), quantize=50, max_distinct=100_000)


@query(
    "q165_edjoin_increment",
    r"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 10
    WHERE levenshtein(a.text, b.text) <= 10
      AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
    """,
    primary=True,
)
def q165_edjoin_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental edit-distance join (operators/incremental.py:
    edjoin_increment_pairs, M145): base = even doc_ids, delta = odd;
    every within-d=10 pair touching the delta via the Pass-Join
    decomposition (chunks(delta) vs substrings(union) plus
    chunks(base) vs substrings(delta)) — base x base never built,
    completing the incremental trio over the exact joins (Jaccard
    q147, containment q163, edit distance here). Oracle = q143's
    unfiltered all-pairs levenshtein restricted to delta-touching
    pairs. First driver window r7."""
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    return INC.edjoin_increment_pairs(base, delta, d=10, q=8,
                                      max_candidates=5_000_000_000)


@query(
    "q166_hll_census",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ),
    h AS (
      SELECT source,
             CAST('0x' || substr(md5('hll:0' || chr(31) || token), 1, 15)
                  AS BIGINT) AS hv
      FROM tok
    ),
    b AS (SELECT source, hv % 256 AS bucket, hv // 256 AS w FROM h),
    rho AS (
      SELECT source, bucket,
             CASE WHEN w = 0 THEN 53
                  ELSE 53 - length(bin(w)) END AS rho
      FROM b
    )
    SELECT source, bucket, CAST(max(rho) AS INTEGER) AS r
    FROM rho GROUP BY source, bucket
    """,
    primary=True,
)
def q166_hll_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token HLL register table (operators/
    sketches.py:hll_registers, M151 — Flajolet et al. 2007): the
    cardinality member of the sketch family as mergeable, publishable
    STATE. p=8 → ≤256 (bucket, r) rows per source regardless of
    vocabulary size; bucket = hash60 mod 256 over the low hash bits,
    r = max leftmost-1-bit rank of the remaining 52 bits — all
    integer arithmetic over the md5 hash60 convention, so the DuckDB
    twin rebuilds every register bit-for-bit. The ESTIMATE
    (hll_estimate: exact fixed-point harmonic denominator + linear
    counting) is accuracy-bracketed in tests/test_sketch_state.py;
    the driver-hashed artifact is the register state itself, because
    the state is what ships between ingest waves. First driver
    window r8."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.col("source"),
        F.explode(D.tokens(F.col("text"))).alias("token"),
    )
    return SK.hll_registers(toks, "token", p=8, seed="hll:0",
                            group_cols=("source",))


@query(
    "q167_log_hist_quantiles",
    r"""
    WITH h AS (
      SELECT source,
             CASE WHEN n_chars <= 0 THEN 0
                  ELSE CAST(floor(n_chars / power(2,
                              greatest(length(bin(n_chars)) - 5, 0)))
                            * power(2,
                              greatest(length(bin(n_chars)) - 5, 0))
                            AS BIGINT)
             END AS lo,
             count(*) AS cnt
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT source, lo, cnt,
             sum(cnt) OVER (PARTITION BY source ORDER BY lo) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM h
    ),
    p AS (SELECT unnest([50, 90, 99]) AS pct),
    f AS (
      SELECT source, pct, CAST(n AS BIGINT) AS n, lo
      FROM c CROSS JOIN p
      WHERE cum >= (pct * n + 99) // 100
    )
    SELECT source, pct, min(lo) AS q_lo, n
    FROM f GROUP BY source, pct, n
    """,
    primary=True,
)
def q167_log_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_chars p50/p90/p99 from the log-bucketed histogram
    (operators/sketches.py:log_histogram + hist_quantiles, M152 —
    HdrHistogram organization, DDSketch relative-error guarantee):
    the quantile member of the sketch family as mergeable state.
    s=4 → every bucket keeps the top 5 significant bits (lower bound
    ``lo`` = the bucket key, relative width ≤ 1/16), ≤ ~800 rows per
    source regardless of input size; rank ⌈pct·N/100⌉ is pure integer
    arithmetic and the cumulative window runs over histogram rows
    only. No logarithms anywhere — bucketing is length(bin(v)) bit
    arithmetic, identical in both dialects, where a float-log
    bucketer could flip boundary values. First driver window r8."""
    docs = _docs(spark, sf_dir)
    hist = SK.log_histogram(docs.select("source", "n_chars"),
                            "n_chars", s=4, group_cols=("source",))
    return SK.hist_quantiles(hist, (50, 90, 99), group_cols=("source",))


@query(
    "q168_hist_drift",
    r"""
    WITH bucketed AS (
      SELECT source, doc_id,
             CASE WHEN n_chars <= 0 THEN 0
                  ELSE CAST(floor(n_chars / power(2,
                              greatest(length(bin(n_chars)) - 5, 0)))
                            * power(2,
                              greatest(length(bin(n_chars)) - 5, 0))
                            AS BIGINT)
             END AS lo
      FROM documents WHERE n_chars IS NOT NULL
    ),
    ho AS (SELECT source, lo, count(*) AS n_old FROM bucketed
           WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    hn AS (SELECT source, lo, count(*) AS n_new FROM bucketed
           GROUP BY 1, 2),
    j AS (
      SELECT COALESCE(ho.source, hn.source) AS source,
             COALESCE(ho.lo, hn.lo) AS lo,
             COALESCE(n_old, 0) AS n_old,
             COALESCE(n_new, 0) AS n_new
      FROM ho FULL OUTER JOIN hn
        ON ho.source = hn.source AND ho.lo = hn.lo
    )
    SELECT source, lo, n_old, n_new,
           CAST(CASE WHEN sum(n_old) OVER (PARTITION BY source) > 0
                THEN floor(n_old * 1000000.0
                           / sum(n_old) OVER (PARTITION BY source))
                ELSE 0 END AS BIGINT) AS p_old_micro,
           CAST(CASE WHEN sum(n_new) OVER (PARTITION BY source) > 0
                THEN floor(n_new * 1000000.0
                           / sum(n_new) OVER (PARTITION BY source))
                ELSE 0 END AS BIGINT) AS p_new_micro
    FROM j
    """,
    primary=True,
)
def q168_hist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_chars distribution drift computed SKETCH-TO-SKETCH
    (operators/sketches.py:hist_drift, M153 — VERDICT r8 stretch 8):
    the M75 drift report (per-bucket counts reconciled full-outer,
    exact integer proportions in millionths) over two M152
    log-histogram snapshots — old = the even-doc_id half (day 1), new
    = the full corpus (day 2 = day 1 + delta) — with NO rescan of the
    old corpus in the state-fed production form
    (tests/test_sketch_state.py pins state ≡ rescan; the query runs
    the rescan form, which is the same operator on the same
    histograms). All-integer output; the log buckets are
    value-anchored so both engines bin identically by construction.
    First driver window r9."""
    docs = _docs(spark, sf_dir)
    old_hist = SK.log_histogram(
        docs.filter(F.col("doc_id") % 2 == 0).select("source", "n_chars"),
        "n_chars", s=4, group_cols=("source",))
    new_hist = SK.log_histogram(
        docs.select("source", "n_chars"),
        "n_chars", s=4, group_cols=("source",))
    return SK.hist_drift(old_hist, new_hist, group_cols=("source",))


@query(
    "q169_url_domain_census",
    r"""
    WITH u AS (
      SELECT
        (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS'
              WHEN doc_id % 3 = 1 THEN 'http' ELSE 'https' END)
        || '://'
        || (CASE WHEN doc_id % 17 = 0 THEN 'user:pw@' ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' || source || '.Example.CO.UK'
                 WHEN doc_id % 5 = 1 THEN source || '.example.com'
                 WHEN doc_id % 5 = 2 THEN 'cdn.' || source || '.example.com.au'
                 WHEN doc_id % 5 = 3 THEN '10.0.0.' || CAST(doc_id % 4 AS VARCHAR)
                 ELSE 'intra-' || source END)
        || (CASE WHEN doc_id % 11 = 0 THEN '.' ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN ':8080'
                 WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
        || (CASE WHEN doc_id % 4 = 0 THEN ''
                 ELSE '/Docs/' || CAST(doc_id % 10 AS VARCHAR) END)
        || (CASE WHEN doc_id % 6 = 0 THEN '?utm=1&ID=' || CAST(doc_id % 5 AS VARCHAR)
                 ELSE '' END)
        || (CASE WHEN doc_id % 9 = 0 THEN '#Sec-' || CAST(doc_id % 3 AS VARCHAR)
                 ELSE '' END) AS url
      FROM documents
    ),
    p AS (
      SELECT url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS q
      FROM u
    ),
    p2 AS (
      SELECT url, scheme, path, q,
        regexp_extract(auth, '^([^@]*@)', 1) AS userinfo,
        lower(regexp_replace(regexp_replace(auth, '^[^@]*@', ''),
                             ':([0-9]+)$', '')) AS host,
        (CASE WHEN regexp_extract(auth, ':([0-9]+)$', 1) <> ''
              THEN CAST(regexp_extract(auth, ':([0-9]+)$', 1) AS INT)
         END) AS port
      FROM p
    ),
    p3 AS (
      -- FQDN-root strip shared verbatim with functions/web.py
      -- registered_domain: one trailing dot comes off BEFORE the
      -- suffix/label matching, exactly as the Spark column does
      SELECT *, regexp_replace(host, '\.$', '') AS rhost FROM p2
    ),
    c AS (
      SELECT scheme, host, path,
        scheme || '://' || userinfo || host
        || (CASE WHEN port IS NOT NULL
                  AND NOT (scheme = 'http' AND port = 80)
                  AND NOT (scheme = 'https' AND port = 443)
                 THEN ':' || CAST(port AS VARCHAR) ELSE '' END)
        || (CASE WHEN path = '' THEN '/' ELSE path END)
        || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon,
        (CASE WHEN regexp_matches(rhost, '^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$')
                OR NOT contains(rhost, '.') THEN rhost
              WHEN regexp_matches(rhost, '\.(co\.uk|org\.uk|ac\.uk|gov\.uk|co\.jp|ne\.jp|or\.jp|com\.au|net\.au|org\.au|co\.nz|com\.br|com\.cn|com\.mx|co\.in|co\.kr|com\.sg|com\.tr|co\.za)$')
              THEN regexp_extract(rhost, '([^.]+\.[^.]+\.[^.]+)$', 1)
              ELSE regexp_extract(rhost, '([^.]+\.[^.]+)$', 1)
         END) AS domain
      FROM p3
    )
    SELECT domain, count(*) AS n_urls,
           count(DISTINCT host) AS n_hosts,
           count(DISTINCT path) AS n_paths,
           count(DISTINCT canon) AS n_canon,
           CAST(sum(CASE WHEN scheme = 'https' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_https
    FROM c GROUP BY domain
    """,
    primary=True,
)
def q169_url_domain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain census over a URL column
    (functions/web.py, M154): scheme/host/userinfo/port/path/query
    parsing, RFC 3986 canonicalization (lowercase scheme+host, default
    ports dropped, empty path -> '/', fragment dropped), and
    registrable-domain extraction (two-level public-suffix aware,
    IPv4/dotless passthrough) — the key primitives behind per-domain
    quotas, blocklists, and URL-level dedup in a web-scale corpus.

    The driver testdata has no URL column, so the query derives a
    deterministic one from (doc_id, source) — mixed-case schemes and
    hosts, userinfo, default AND non-default ports, empty paths,
    queries, fragments, co.uk/com.au suffixes, IPv4, dotless and
    FQDN-root trailing-dot hosts ('example.com.', stripped before
    domain matching in BOTH engines)
    — and BOTH engines parse the same derived strings with the same
    regexps (Java regex ∩ RE2 subset, shared verbatim from
    functions/web.py), so the oracle checks the parsing, not the
    construction. All-integer output. First driver window r9."""
    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.when(d % 3 == 0, "HTTPS").when(d % 3 == 1, "http")
        .otherwise("https"),
        F.lit("://"),
        F.when(d % 17 == 0, "user:pw@").otherwise(""),
        F.when(d % 5 == 0, F.concat(F.lit("WWW."), F.col("source"),
                                    F.lit(".Example.CO.UK")))
        .when(d % 5 == 1, F.concat(F.col("source"), F.lit(".example.com")))
        .when(d % 5 == 2, F.concat(F.lit("cdn."), F.col("source"),
                                   F.lit(".example.com.au")))
        .when(d % 5 == 3, F.concat(F.lit("10.0.0."),
                                   (d % 4).cast("string")))
        .otherwise(F.concat(F.lit("intra-"), F.col("source"))),
        F.when(d % 11 == 0, ".").otherwise(""),
        F.when(d % 7 == 0, ":8080").when(d % 2 == 0, ":443").otherwise(""),
        F.when(d % 4 == 0, "").otherwise(
            F.concat(F.lit("/Docs/"), (d % 10).cast("string"))),
        F.when(d % 6 == 0, F.concat(F.lit("?utm=1&ID="),
                                    (d % 5).cast("string"))).otherwise(""),
        F.when(d % 9 == 0, F.concat(F.lit("#Sec-"),
                                    (d % 3).cast("string"))).otherwise(""),
    )
    parsed = docs.select(
        WEB.url_scheme(url).alias("scheme"),
        WEB.url_host(url).alias("host"),
        WEB.url_path(url).alias("path"),
        WEB.url_canonicalize(url).alias("canon"),
    )
    return (
        parsed.withColumn("domain", WEB.registered_domain(F.col("host")))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
            F.countDistinct("path").alias("n_paths"),
            F.countDistinct("canon").alias("n_canon"),
            F.sum(F.when(F.col("scheme") == "https", 1).otherwise(0))
            .alias("n_https"),
        )
    )


# q170 oracle fragments: PQ/ADC with the module's exact-integer
# quantization (floor(x·2^20 + 0.5) → BIGINT) — dim 64, m=4 subspaces
# of 16 dims, ksub=8 stride-50 codewords, queries vec_id < 10, k=5.
_PQ_IDOT = ("list_reduce(list_transform(range(1, 17), "
            "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")
_PQ_D2 = ("list_reduce(list_transform(range(1, 17), "
          "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)")

_PQ_SQL = f"""
    WITH {EMB_SQL},
    eq AS (SELECT vec_id,
                  list_transform(v, x -> CAST(floor(x * 1048576.0 + 0.5)
                                              AS BIGINT)) AS vq
           FROM e),
    ss AS (SELECT unnest(range(4)) AS subspace),
    sub AS (SELECT vec_id, subspace,
                   vq[subspace * 16 + 1 : subspace * 16 + 16] AS sv
            FROM eq CROSS JOIN ss),
    cb AS (SELECT subspace, CAST(vec_id // 50 AS INT) AS code, sv AS cv,
                  {_PQ_IDOT.format(a='sv', b='sv')} AS cnsq
           FROM sub WHERE vec_id % 50 = 0 AND vec_id < 400),
    enc AS (
      SELECT vec_id, subspace, code FROM (
        SELECT sub.vec_id, sub.subspace, cb.code,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.subspace
                 ORDER BY {_PQ_D2.format(a='sub.sv', b='cb.cv')} ASC,
                          cb.code ASC) AS rn
        FROM sub JOIN cb USING (subspace)
      ) WHERE rn = 1
    ),
    qn AS (SELECT vec_id AS query_id,
                  list_reduce(list_transform(vq, x -> x * x),
                              (x, y) -> x + y) AS qnsq
           FROM eq WHERE vec_id < 10),
    lut AS (SELECT s.vec_id AS query_id, qn.qnsq, s.subspace, cb.code,
                   {_PQ_IDOT.format(a='s.sv', b='cb.cv')} AS pdot,
                   cb.cnsq
            FROM sub s JOIN qn ON s.vec_id = qn.query_id
            JOIN cb USING (subspace)),
    agg AS (
      SELECT l.query_id, enc.vec_id AS neighbor_id,
             sum(l.pdot) AS adc, sum(l.cnsq) AS cnsq_t,
             max(l.qnsq) AS qnsq
      FROM enc JOIN lut l ON enc.subspace = l.subspace
                         AND enc.code = l.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             round(adc / (sqrt(qnsq) * sqrt(cnsq_t)), 6) AS sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(adc / (sqrt(qnsq) * sqrt(cnsq_t)), 6) DESC,
                        neighbor_id) AS rank
      FROM agg WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
    """


@query(
    "q170_pq_adc_topk",
    _PQ_SQL,
    primary=True,
)
def q170_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (operators/similarity.py:
    pq_adc_topk, M156 — Jégou et al. TPAMI 2011): deterministic
    stride-50 codebooks (8 codewords x 4 subspaces of 16 dims),
    vectors encoded to 4 code ids (32x memory compression of the
    float64 form), queries scored through the per-query lookup table
    with EXACT int64 arithmetic (the SRP_Q quantization idiom), so
    codes, partial dots, and norms hash-match DuckDB bit-for-bit and
    only the final similarity is float (rounded 6dp, rank ordered on
    the ROUNDED value in both engines). First driver window r9."""
    embs = _embs(spark, sf_dir)
    return S.pq_adc_topk(embs, embs.filter(F.col("vec_id") < 10),
                         dim=64, m=4, ksub=8, stride=50, k=5)


# q171 oracle: the FULL publicsuffix.org algorithm re-derived in SQL
# from the SAME vendored data file (functions/psl.py:PSL_PATH) —
# rules parsed with string ops, wildcard/exception/longest-match
# resolution re-implemented independently, so the oracle checks the
# ALGORITHM, not a copied output table.
_PSL_HOST_SQL = """
      SELECT doc_id,
             (CASE WHEN doc_id % 13 = 0
                   THEN source || CAST(doc_id % 3 AS VARCHAR) || '.github.io'
              WHEN doc_id % 13 = 1 THEN 'www.' || source || '.co.uk'
              WHEN doc_id % 13 = 2 THEN source || '.blogspot.com'
              WHEN doc_id % 13 = 3
                   THEN 'shop' || CAST(doc_id % 2 AS VARCHAR) || '.foo.ck'
              WHEN doc_id % 13 = 4 THEN 'www.ck'
              WHEN doc_id % 13 = 5
                   THEN 'a' || CAST(doc_id % 2 AS VARCHAR) || '.city.kawasaki.jp'
              WHEN doc_id % 13 = 6
                   THEN 'b' || CAST(doc_id % 2 AS VARCHAR) || '.x.kawasaki.jp'
              WHEN doc_id % 13 = 7 THEN source || '.example.com'
              WHEN doc_id % 13 = 8 THEN '10.0.0.' || CAST(doc_id % 4 AS VARCHAR)
              WHEN doc_id % 13 = 9 THEN 'localhost'
              WHEN doc_id % 13 = 10 THEN 'github.io'
              WHEN doc_id % 13 = 11 THEN source || '.example.com.'
              ELSE 'x' || CAST(doc_id % 2 AS VARCHAR)
                   || '.s3.cn-north-1.amazonaws.com.cn' END) AS host
      FROM documents
"""

def _psl_host_col() -> "F.Column":
    """The q171/q172 host fixture (Spark twin of _PSL_HOST_SQL)."""
    d = F.col("doc_id")
    return (
        F.when(d % 13 == 0, F.concat(F.col("source"),
                                     (d % 3).cast("string"),
                                     F.lit(".github.io")))
        .when(d % 13 == 1, F.concat(F.lit("www."), F.col("source"),
                                    F.lit(".co.uk")))
        .when(d % 13 == 2, F.concat(F.col("source"),
                                    F.lit(".blogspot.com")))
        .when(d % 13 == 3, F.concat(F.lit("shop"), (d % 2).cast("string"),
                                    F.lit(".foo.ck")))
        .when(d % 13 == 4, F.lit("www.ck"))
        .when(d % 13 == 5, F.concat(F.lit("a"), (d % 2).cast("string"),
                                    F.lit(".city.kawasaki.jp")))
        .when(d % 13 == 6, F.concat(F.lit("b"), (d % 2).cast("string"),
                                    F.lit(".x.kawasaki.jp")))
        .when(d % 13 == 7, F.concat(F.col("source"),
                                    F.lit(".example.com")))
        .when(d % 13 == 8, F.concat(F.lit("10.0.0."),
                                    (d % 4).cast("string")))
        .when(d % 13 == 9, F.lit("localhost"))
        .when(d % 13 == 10, F.lit("github.io"))
        .when(d % 13 == 11, F.concat(F.col("source"),
                                     F.lit(".example.com.")))
        .otherwise(F.concat(F.lit("x"), (d % 2).cast("string"),
                            F.lit(".s3.cn-north-1.amazonaws.com.cn")))
    )


# CTE chain implementing the PSL resolution for a ``hu(host)`` CTE of
# distinct hosts — shared by q171 and the q172 governance facade.
_PSL_ALGO_CTES = f"""
    raw AS (
      SELECT trim(unnest(string_split(content, chr(10)))) AS line
      FROM read_text('{PSL.PSL_PATH}')
    ),
    toks AS (
      SELECT string_split(line, ' ')[1] AS l FROM raw
      WHERE line <> '' AND NOT starts_with(line, '//')
    ),
    rules AS (
      SELECT DISTINCT
        lower(CASE WHEN starts_with(l, '!') THEN substr(l, 2)
                   WHEN starts_with(l, '*.') THEN substr(l, 3)
                   ELSE l END) AS match_key,
        (CASE WHEN starts_with(l, '!') THEN 'exception'
              WHEN starts_with(l, '*.') THEN 'wildcard'
              ELSE 'normal' END) AS kind
      FROM toks
    ),
    rules2 AS (
      SELECT match_key, kind,
             len(string_split(match_key, '.')) AS key_labels
      FROM rules
    ),
    hn AS (
      SELECT host, rhost, string_split(rhost, '.') AS ls,
             len(string_split(rhost, '.')) AS n
      FROM (SELECT host, regexp_replace(host, '\\.$', '') AS rhost
            FROM hu)
    ),
    tails AS (
      SELECT host, n,
             array_to_string(list_slice(ls, n - k + 1, n), '.') AS tail
      FROM hn CROSS JOIN (SELECT unnest(range(1, 6)) AS k) ks
      WHERE k <= n
    ),
    m AS (
      SELECT t.host,
        max(CASE WHEN r.kind = 'exception'
                 THEN r.key_labels - 1 END) AS exc,
        max(CASE WHEN r.kind = 'normal' THEN r.key_labels END) AS nrm,
        max(CASE WHEN r.kind = 'wildcard' AND t.n >= r.key_labels + 1
                 THEN r.key_labels + 1 END) AS wld
      FROM tails t JOIN rules2 r ON t.tail = r.match_key
      GROUP BY 1
    ),
    ps AS (
      SELECT hn.host, hn.rhost, hn.ls, hn.n,
             coalesce(m.exc, greatest(coalesce(m.nrm, 1),
                                      coalesce(m.wld, 1))) AS ps
      FROM hn LEFT JOIN m ON hn.host = m.host
    ),
    dm AS (
      SELECT host,
        (CASE WHEN regexp_matches(rhost,
                     '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$') THEN NULL
              WHEN n >= ps + 1
              THEN array_to_string(list_slice(ls, n - ps, n), '.')
              ELSE NULL END) AS domain
      FROM ps
    )"""

_PSL_SQL = f"""
    WITH hosts0 AS ({_PSL_HOST_SQL}),
    hu AS (SELECT DISTINCT host FROM hosts0),
    {_PSL_ALGO_CTES}
    SELECT coalesce(dm.domain, '(unregistrable)') AS domain,
           count(*) AS n_urls,
           count(DISTINCT hosts0.host) AS n_hosts
    FROM hosts0 JOIN dm ON hosts0.host = dm.host
    GROUP BY 1
    """


@query(
    "q171_psl_registered_domain",
    _PSL_SQL,
    primary=True,
)
def q171_psl_registered_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain census under the FULL Public Suffix List
    (functions/psl.py, M161 — the real vendored publicsuffix.org
    snapshot, ~9.5k rules): exercises private-section suffixes
    (github.io / blogspot.com sub-sites SEPARATE instead of collapsing
    into one mega-domain), wildcard rules (*.ck, *.kawasaki.jp),
    exception rules (!www.ck, !city.kawasaki.jp), a 5-label private
    rule (s3.cn-north-1.amazonaws.com.cn), plain ICANN 2-level
    (co.uk), IPv4 / dotless / suffix-itself hosts (NULL →
    '(unregistrable)'), and the FQDN-root trailing dot. The DuckDB
    twin re-derives the rules from the SAME data file and re-runs the
    spec's wildcard/exception/longest-match resolution in SQL — both
    engines compute the algorithm independently. First driver window
    r10."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    hosts = docs.select(_psl_host_col().alias("host"))
    out = PSL.with_psl_registered_domain(hosts, "host", out_col="_dom")
    return (
        out.withColumn("domain",
                       F.coalesce(F.col("_dom"), F.lit("(unregistrable)")))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_urls"),
             F.countDistinct("host").alias("n_hosts"))
    )


# q172 oracle: the whole governance facade re-derived independently —
# RFC 3986 parse/canonicalize (the q169 regexps, shared verbatim),
# canonical-URL dedup, PSL resolution (_PSL_ALGO_CTES re-runs the
# spec's algorithm from the raw data file), blocklist anti-filter,
# per-domain quota top-k.
_GOV_SQL = f"""
    WITH hosts0 AS ({_PSL_HOST_SQL}),
    u AS (
      SELECT doc_id, host,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
        || '://' || host
        || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        || '/p/' || CAST(doc_id % 7 AS VARCHAR) AS url,
        (doc_id * 37) % 101 AS score
      FROM hosts0
    ),
    p AS (
      SELECT doc_id, score,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
          AS auth,
        regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
      FROM u
    ),
    p2 AS (
      SELECT doc_id, score, scheme, path,
        lower(regexp_replace(regexp_replace(auth, '^[^@]*@', ''),
                             ':([0-9]+)$', '')) AS host,
        (CASE WHEN regexp_extract(auth, ':([0-9]+)$', 1) <> ''
              THEN CAST(regexp_extract(auth, ':([0-9]+)$', 1) AS INT)
         END) AS port
      FROM p
    ),
    c AS (
      SELECT doc_id, score, host,
        scheme || '://' || host
        || (CASE WHEN port IS NOT NULL
                  AND NOT (scheme = 'http' AND port = 80)
                  AND NOT (scheme = 'https' AND port = 443)
                 THEN ':' || CAST(port AS VARCHAR) ELSE '' END)
        || (CASE WHEN path = '' THEN '/' ELSE path END) AS canon
      FROM p2 WHERE scheme <> ''
    ),
    dd AS (
      SELECT doc_id, score, host, canon FROM (
        SELECT *, row_number() OVER (PARTITION BY canon
                                     ORDER BY doc_id) AS rn
        FROM c) WHERE rn = 1
    ),
    hu AS (SELECT DISTINCT host FROM dd),
    {_PSL_ALGO_CTES},
    j AS (
      SELECT dd.doc_id, dd.canon, dd.score, dm.domain
      FROM dd JOIN dm ON dd.host = dm.host
    ),
    nb AS (
      SELECT * FROM j
      WHERE domain IS NULL OR domain NOT IN ('www.ck', 'example.com')
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY domain
                                   ORDER BY score DESC, doc_id) AS drn
      FROM nb
    )
    SELECT doc_id, canon AS canon_url,
           coalesce(domain, '(unregistrable)') AS domain, score
    FROM ranked WHERE drn <= 5
    """


@query(
    "q172_url_governance",
    _GOV_SQL,
    primary=True,
)
def q172_url_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-governance facade end to end (pipeline.prepare_web_corpus —
    M154 + M161 composed): canonical-URL exact dedup (HTTPS/:443
    variants collapse to one canonical form, lowest doc_id survives)
    → full-PSL registrable domain → domain blocklist (www.ck,
    example.com dropped) → per-domain quota top-5 by a deterministic
    integer score through the skew-governed two-phase top-k. The
    DuckDB twin recomputes every stage independently, including the
    PSL resolution from the raw vendored list. Doc-level output pins
    the exact survivor set. First driver window r10."""
    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.when(d % 2 == 0, "HTTPS").otherwise("https"),
        F.lit("://"), _psl_host_col(),
        F.when(d % 3 == 0, ":443").otherwise(""),
        F.lit("/p/"), (d % 7).cast("string"),
    )
    base = docs.select("doc_id", url.alias("url"),
                       ((d * 37) % 101).alias("score"))
    block = spark.createDataFrame([("www.ck",), ("example.com",)],
                                  "domain string")
    out = prepare_web_corpus(base, order_col="score", domain_quota=5,
                             blocklist=block)
    return out.select(
        "doc_id", "canon_url",
        F.coalesce(F.col("psl_domain"), F.lit("(unregistrable)"))
        .alias("domain"),
        "score",
    )


# q173 fixture: three robots.txt documents (multi-agent groups, *
# wildcards, $ anchors, empty-disallow, comments, a blanket
# Disallow: /) + one policy-free domain; the oracle re-implements the
# RFC 9309 parse (line split, comment strip, group scan via window
# functions) and decision (named-group selection, longest-match,
# allow-wins tie) entirely in SQL.
_ROBOTS_SITE0 = [
    "# governance demo",
    "User-agent: *",
    "Disallow: /private",
    "Allow: /private/ok",
    "",
    "User-agent: mybot",
    "User-agent: otherbot",
    "Disallow: /tmp/*",
    "Allow: /tmp/keep$",
    "Crawl-delay: 2",
    "Disallow:",
]
_ROBOTS_SITE1 = ["User-agent: *", "Disallow: /"]
_ROBOTS_SITE2 = ["User-agent: mybot", "Allow: /pub", "Disallow: /"]
# the allow-all idiom: mybot's named group EXISTS but has no rules
# (empty Disallow), so RFC 9309 shields mybot from the '*' disallows —
# group presence comes from the user-agent scan, not the rule rows
_ROBOTS_SITE4 = ["User-agent: mybot", "Disallow:", "",
                 "User-agent: *", "Disallow: /"]


def _sql_lines(lines: list[str]) -> str:
    quoted = ", ".join("'" + ln.replace("'", "''") + "'" for ln in lines)
    return f"concat_ws(chr(10), {quoted})"


_ROBOTS_SQL = f"""
    WITH robots AS (
      SELECT 'site0.com' AS domain, {_sql_lines(_ROBOTS_SITE0)} AS txt
      UNION ALL SELECT 'site1.com', {_sql_lines(_ROBOTS_SITE1)}
      UNION ALL SELECT 'site2.com', {_sql_lines(_ROBOTS_SITE2)}
      UNION ALL SELECT 'site4.com', {_sql_lines(_ROBOTS_SITE4)}
    ),
    urls AS (
      SELECT 'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain,
        (CASE WHEN doc_id % 6 = 0
              THEN '/private/' || CAST(doc_id % 5 AS VARCHAR)
         WHEN doc_id % 6 = 1
              THEN '/private/ok/' || CAST(doc_id % 3 AS VARCHAR)
         WHEN doc_id % 6 = 2 THEN '/tmp/' || CAST(doc_id % 7 AS VARCHAR)
         WHEN doc_id % 6 = 3 THEN '/tmp/keep'
         WHEN doc_id % 6 = 4 THEN '/pub/' || CAST(doc_id % 11 AS VARCHAR)
         ELSE '/' END) AS path
      FROM documents
    ),
    lines AS (
      SELECT domain, unnest(string_split(txt, chr(10))) AS raw,
             unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS ln
      FROM robots
    ),
    kv AS (
      SELECT domain, ln,
        lower(trim(regexp_extract(l, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(l, '^[^:]+:(.*)$', 1)) AS val
      FROM (SELECT domain, ln, trim(regexp_replace(raw, '#.*', ''))
                   AS l FROM lines)
      WHERE contains(l, ':')
        AND lower(trim(regexp_extract(l, '^([^:]+):', 1)))
            IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
    ),
    grouped AS (
      SELECT *, sum(gstart) OVER (PARTITION BY domain ORDER BY ln
                                  ROWS UNBOUNDED PRECEDING) AS gid
      FROM (
        SELECT *,
          (CASE WHEN is_ua AND NOT coalesce(lag(is_ua) OVER (
             PARTITION BY domain ORDER BY ln), FALSE)
           THEN 1 ELSE 0 END) AS gstart
        FROM (SELECT *, key = 'user-agent' AS is_ua FROM kv)
      )
    ),
    uas AS (
      SELECT domain, gid, lower(val) AS agent FROM grouped WHERE is_ua
    ),
    pol AS (
      SELECT r.domain, u.agent, r.key AS rule, r.val AS pattern,
        length(r.val) AS spec_len,
        '^' || regexp_replace(regexp_replace(regexp_replace(
            (CASE WHEN r.val LIKE '%$'
                  THEN substr(r.val, 1, length(r.val) - 1)
                  ELSE r.val END),
            '([.+?^(){{}}\\[\\]|\\\\])', '\\\\\\1', 'g'),
            '\\$', '\\\\$', 'g'),
            '\\*', '.*', 'g')
        || (CASE WHEN r.val LIKE '%$' THEN '$' ELSE '' END) AS regex
      FROM (SELECT domain, gid, key, val FROM grouped
            WHERE key IN ('allow', 'disallow') AND val <> ''
              AND gid > 0) r
      JOIN uas u ON r.domain = u.domain AND r.gid = u.gid
    ),
    -- presence from the USER-AGENT scan, not the rule rows: an empty
    -- named group (site4) still shields mybot from '*' (RFC 9309)
    named AS (SELECT DISTINCT domain FROM uas WHERE agent = 'mybot'),
    eff AS (
      SELECT p.domain, p.rule, p.spec_len, p.regex
      FROM pol p LEFT JOIN named n ON p.domain = n.domain
      WHERE (p.agent = 'mybot' AND n.domain IS NOT NULL)
         OR (p.agent = '*' AND n.domain IS NULL)
    ),
    up AS (SELECT DISTINCT domain, path FROM urls),
    best AS (
      SELECT domain, path, rule FROM (
        SELECT u.domain, u.path, e.rule,
          row_number() OVER (PARTITION BY u.domain, u.path
            ORDER BY e.spec_len DESC,
                     CASE WHEN e.rule = 'allow' THEN 1 ELSE 0 END DESC
          ) AS rn
        FROM up u JOIN eff e ON u.domain = e.domain
                            AND regexp_matches(u.path, e.regex)
      ) WHERE rn = 1
    ),
    dec AS (
      SELECT up.domain, up.path,
             coalesce(b.rule <> 'disallow', TRUE) AS allowed
      FROM up LEFT JOIN best b ON up.domain = b.domain
                              AND up.path = b.path
    )
    SELECT u.domain, d.allowed, count(*) AS n_urls,
           count(DISTINCT u.path) AS n_paths
    FROM urls u JOIN dec d ON u.domain = d.domain AND u.path = d.path
    GROUP BY 1, 2
    """


@query(
    "q173_robots_governance",
    _ROBOTS_SQL,
    primary=True,
)
def q173_robots_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt governance census (operators/robots.py, M164 —
    RFC 9309): parse a robots corpus (multi-agent groups, comments,
    empty-disallow, * wildcards, $ anchors, a blanket Disallow: /)
    into per-(domain, agent) policies with window-function group
    scanning, then decide each derived URL for agent 'mybot' under
    named-group selection + longest-match + allow-wins-tie, counting
    allowed/blocked URLs per domain (a policy-free domain pins the
    default-allow path; site4's rule-less named group pins the RFC
    empty-named-group precedence — presence from the UA scan, not the
    rule rows). The decision is the zero-URL-shuffle broadcast+HOF
    plan (r11 rewrite). The DuckDB twin re-implements the whole
    parse + pattern-translation + decision in SQL. First driver window
    r10."""
    from ..operators import robots as RB

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    robots_df = spark.createDataFrame(
        [("site0.com", "\n".join(_ROBOTS_SITE0)),
         ("site1.com", "\n".join(_ROBOTS_SITE1)),
         ("site2.com", "\n".join(_ROBOTS_SITE2)),
         ("site4.com", "\n".join(_ROBOTS_SITE4))],
        "domain string, robots_txt string")
    urls = docs.select(
        F.concat(F.lit("site"), (d % 5).cast("string"),
                 F.lit(".com")).alias("domain"),
        F.when(d % 6 == 0, F.concat(F.lit("/private/"),
                                    (d % 5).cast("string")))
        .when(d % 6 == 1, F.concat(F.lit("/private/ok/"),
                                   (d % 3).cast("string")))
        .when(d % 6 == 2, F.concat(F.lit("/tmp/"),
                                   (d % 7).cast("string")))
        .when(d % 6 == 3, F.lit("/tmp/keep"))
        .when(d % 6 == 4, F.concat(F.lit("/pub/"),
                                   (d % 11).cast("string")))
        .otherwise(F.lit("/")).alias("path"),
    )
    grouped = RB._grouped_lines(robots_df, "domain", "robots_txt") \
        .localCheckpoint(eager=False)
    pol = RB.parse_robots(robots_df, _grouped=grouped)
    uas = RB.parse_robots_agents(robots_df, _grouped=grouped)
    out = RB.robots_allowed(urls, pol, "mybot", agents=uas)
    return out.groupBy("domain", "allowed").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("path").alias("n_paths"))


# q174 fixture: per-domain sitemap XML AGGREGATED from document rows
# (fragment order is irrelevant — the parse explodes entries and the
# census is order-insensitive), three <urlset> domains with entity-
# escaped locs / optional lastmod / absent-priority defaults / a
# malformed priority, plus one <sitemapindex> domain. The oracle
# rebuilds the XML with string_agg and re-runs the same DOTALL
# regexp extraction + entity unescape + census in SQL.
_SITEMAP_SQL = r"""
    WITH frags AS (
      SELECT
        (CASE WHEN doc_id % 4 = 3 THEN 'idx.com'
              ELSE 'sm' || CAST(doc_id % 3 AS VARCHAR) || '.com'
         END) AS domain,
        (CASE WHEN doc_id % 4 = 3 THEN
            '<sitemap><loc>https://idx.com/shard-'
            || CAST(doc_id % 20 AS VARCHAR) || '.xml</loc>'
            || (CASE WHEN doc_id % 2 = 0
                     THEN '<lastmod>2024-02-0'
                          || CAST(doc_id % 9 + 1 AS VARCHAR)
                          || '</lastmod>' ELSE '' END)
            || '</sitemap>'
         ELSE
            (CASE WHEN doc_id % 13 = 0 THEN '<url data-x="1">'
                  ELSE '<url>' END)
            || '<loc>https://sm' || CAST(doc_id % 3 AS VARCHAR)
            || '.com/p?id=' || CAST(doc_id % 50 AS VARCHAR)
            || '&amp;src=' || CAST(doc_id % 7 AS VARCHAR) || '</loc>'
            || (CASE WHEN doc_id % 2 = 0
                     THEN '<lastmod>2024-01-0'
                          || CAST(doc_id % 9 + 1 AS VARCHAR)
                          || '</lastmod>' ELSE '' END)
            || (CASE WHEN doc_id % 5 = 0 THEN ''
                WHEN doc_id % 11 = 0 THEN '<priority>bogus</priority>'
                ELSE '<priority>0.' || CAST(doc_id % 9 + 1 AS VARCHAR)
                     || '</priority>' END)
            || '</url>'
         END) AS frag
      FROM documents
    ),
    xmls AS (
      SELECT domain,
        (CASE WHEN domain = 'idx.com'
              THEN '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                   || string_agg(frag, '') || '</sitemapindex>'
              ELSE '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                   || string_agg(frag, '') || '</urlset>'
         END) AS xml
      FROM frags GROUP BY domain
    ),
    blocks AS (
      SELECT domain, 'url' AS kind,
             unnest(regexp_extract_all(xml,
                    '(?s)<url(?:\s[^>]*)?>(.*?)</url>', 1))
               AS entry
      FROM xmls
      UNION ALL
      SELECT domain, 'sitemap',
             unnest(regexp_extract_all(xml,
                    '(?s)<sitemap(?:\s[^>]*)?>(.*?)</sitemap>', 1))
      FROM xmls
    ),
    parsed AS (
      SELECT domain, kind,
        replace(replace(replace(replace(replace(
          trim(regexp_extract(entry, '(?s)<loc>(.*?)</loc>', 1)),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&apos;', CHR(39)), '&amp;', '&') AS loc,
        trim(regexp_extract(entry, '(?s)<lastmod>(.*?)</lastmod>', 1))
          AS lastmod,
        (CASE WHEN regexp_extract(entry,
                '(?s)<priority>(.*?)</priority>', 1) <> ''
              THEN TRY_CAST(trim(regexp_extract(entry,
                   '(?s)<priority>(.*?)</priority>', 1)) AS DOUBLE)
              WHEN kind = 'url' THEN 0.5 END) AS priority
      FROM blocks
    )
    SELECT domain, kind, count(*) AS n_entries,
           count(DISTINCT loc) AS n_locs,
           CAST(sum(CASE WHEN lastmod <> '' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_lastmod,
           round(avg(priority), 6) AS avg_priority
    FROM parsed WHERE loc <> ''
    GROUP BY 1, 2
    """


@query(
    "q174_sitemap_census",
    _SITEMAP_SQL,
    primary=True,
)
def q174_sitemap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-corpus census (operators/sitemaps.py, M165 — the
    sitemaps.org 0.9 protocol): per-domain XML payloads (three
    <urlset> domains + one <sitemapindex>, aggregated from document
    rows so entry sets are engine-identical while order is free)
    parsed to URL/nested-sitemap rows — DOTALL block explode,
    entity-unescaped locs ('&amp;' in query strings), optional
    lastmod, spec-default 0.5 priority when the tag is absent, NULL
    for a malformed value — then counted per (domain, kind) with a
    6dp avg priority. The DuckDB twin rebuilds the same XML and
    re-runs extraction, unescape, and census in SQL. First driver
    window r10 (slot ceded by q38)."""
    from ..operators import sitemaps as SM

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    domain = F.when(d % 4 == 3, F.lit("idx.com")).otherwise(
        F.concat(F.lit("sm"), (d % 3).cast("string"), F.lit(".com")))
    frag = F.when(
        d % 4 == 3,
        F.concat(
            F.lit("<sitemap><loc>https://idx.com/shard-"),
            (d % 20).cast("string"), F.lit(".xml</loc>"),
            F.when(d % 2 == 0,
                   F.concat(F.lit("<lastmod>2024-02-0"),
                            (d % 9 + 1).cast("string"),
                            F.lit("</lastmod>"))).otherwise(""),
            F.lit("</sitemap>"),
        ),
    ).otherwise(
        F.concat(
            # attribute-bearing open tags pin the tolerant block
            # pattern (real sitemaps namespace the root and may
            # attribute entries)
            F.when(d % 13 == 0, F.lit('<url data-x="1">'))
            .otherwise(F.lit("<url>")),
            F.lit("<loc>https://sm"), (d % 3).cast("string"),
            F.lit(".com/p?id="), (d % 50).cast("string"),
            F.lit("&amp;src="), (d % 7).cast("string"),
            F.lit("</loc>"),
            F.when(d % 2 == 0,
                   F.concat(F.lit("<lastmod>2024-01-0"),
                            (d % 9 + 1).cast("string"),
                            F.lit("</lastmod>"))).otherwise(""),
            F.when(d % 5 == 0, F.lit(""))
            .when(d % 11 == 0, F.lit("<priority>bogus</priority>"))
            .otherwise(F.concat(F.lit("<priority>0."),
                                (d % 9 + 1).cast("string"),
                                F.lit("</priority>"))),
            F.lit("</url>"),
        )
    )
    xmls = (
        docs.select(domain.alias("domain"), frag.alias("frag"))
        .groupBy("domain")
        .agg(F.concat_ws("", F.collect_list("frag")).alias("body"))
        .select(
            "domain",
            F.when(F.col("domain") == "idx.com",
                   F.concat(F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                            F.col("body"), F.lit("</sitemapindex>")))
            .otherwise(F.concat(F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                                F.col("body"), F.lit("</urlset>")))
            .alias("sitemap_xml"),
        )
    )
    parsed = SM.parse_sitemaps(xmls)
    return parsed.groupBy("domain", "kind").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.countDistinct("loc").alias("n_locs"),
        F.sum(F.when(F.col("lastmod") != "", 1).otherwise(0))
        .alias("n_with_lastmod"),
        F.round(F.avg("priority"), 6).alias("avg_priority"),
    )


# q175 fixture: the crawl-compliance composition end to end — one
# sitemap document discovering URLs across four hosts (three co.uk
# sites + one github.io site), per-host robots.txt (prefix rules, a
# $-anchored allow, a query-string rule, a named mybot group, the
# rule-less-named-group allow-all idiom), fetched docs whose URLs are
# case/port VARIANTS of the discovered URLs plus undiscovered extras,
# then canonical dedup → PSL → blocklist → quota. The oracle
# recomputes every stage independently: sitemap seed set, RFC 9309
# parse + decision (presence from the UA scan), RFC 3986
# canonicalization with query preservation, PSL resolution from the
# raw vendored file, blocklist, two-phase quota.
_CRAWL_R0 = ["User-agent: *", "Disallow: /tmp/", "Allow: /tmp/ok$",
             "Disallow: /*?x=1$"]
_CRAWL_R1 = ["User-agent: mybot", "Disallow: /p/3*", "",
             "User-agent: *", "Disallow: /"]
_CRAWL_R2 = ["User-agent: mybot", "Disallow:", "",
             "User-agent: *", "Disallow: /"]

_CRAWL_SQL = f"""
    WITH b AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 4 = 0 THEN 'www.site0.co.uk'
              WHEN doc_id % 4 = 1 THEN 'www.site1.co.uk'
              WHEN doc_id % 4 = 2 THEN 'www.site2.co.uk'
              ELSE 'blocked.github.io' END) AS shost,
        (CASE WHEN doc_id % 5 = 0
              THEN '/tmp/a' || CAST(doc_id % 4 AS VARCHAR)
              WHEN doc_id % 5 = 1 THEN '/tmp/ok'
              WHEN doc_id % 5 = 2 THEN '/p/' || CAST(doc_id % 7 AS VARCHAR)
              WHEN doc_id % 5 = 3 THEN '/q'
              ELSE '/q?x=' || CAST(doc_id % 3 AS VARCHAR) END) AS spath
      FROM documents
    ),
    robots AS (
      SELECT 'www.site0.co.uk' AS domain, {_sql_lines(_CRAWL_R0)} AS txt
      UNION ALL SELECT 'www.site1.co.uk', {_sql_lines(_CRAWL_R1)}
      UNION ALL SELECT 'www.site2.co.uk', {_sql_lines(_CRAWL_R2)}
    ),
    rlines AS (
      SELECT domain, unnest(string_split(txt, chr(10))) AS raw,
             unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS ln
      FROM robots
    ),
    rkv AS (
      SELECT domain, ln,
        lower(trim(regexp_extract(l, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(l, '^[^:]+:(.*)$', 1)) AS val
      FROM (SELECT domain, ln, trim(regexp_replace(raw, '#.*', ''))
                   AS l FROM rlines)
      WHERE contains(l, ':')
        AND lower(trim(regexp_extract(l, '^([^:]+):', 1)))
            IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
    ),
    rgrouped AS (
      SELECT *, sum(gstart) OVER (PARTITION BY domain ORDER BY ln
                                  ROWS UNBOUNDED PRECEDING) AS gid
      FROM (
        SELECT *,
          (CASE WHEN is_ua AND NOT coalesce(lag(is_ua) OVER (
             PARTITION BY domain ORDER BY ln), FALSE)
           THEN 1 ELSE 0 END) AS gstart
        FROM (SELECT *, key = 'user-agent' AS is_ua FROM rkv)
      )
    ),
    ruas AS (
      SELECT domain, gid, lower(val) AS agent FROM rgrouped WHERE is_ua
    ),
    rpol AS (
      SELECT r.domain, u.agent, r.key AS rule, r.val AS pattern,
        length(r.val) AS spec_len,
        '^' || regexp_replace(regexp_replace(regexp_replace(
            (CASE WHEN r.val LIKE '%$'
                  THEN substr(r.val, 1, length(r.val) - 1)
                  ELSE r.val END),
            '([.+?^(){{}}\\[\\]|\\\\])', '\\\\\\1', 'g'),
            '\\$', '\\\\$', 'g'),
            '\\*', '.*', 'g')
        || (CASE WHEN r.val LIKE '%$' THEN '$' ELSE '' END) AS regex
      FROM (SELECT domain, gid, key, val FROM rgrouped
            WHERE key IN ('allow', 'disallow') AND val <> ''
              AND gid > 0) r
      JOIN ruas u ON r.domain = u.domain AND r.gid = u.gid
    ),
    -- presence from the USER-AGENT scan (site2's rule-less mybot
    -- group shields mybot from the '*' disallow-all)
    named AS (SELECT DISTINCT domain FROM ruas WHERE agent = 'mybot'),
    eff AS (
      SELECT p.domain, p.rule, p.spec_len, p.regex
      FROM rpol p LEFT JOIN named n ON p.domain = n.domain
      WHERE (p.agent = 'mybot' AND n.domain IS NOT NULL)
         OR (p.agent = '*' AND n.domain IS NULL)
    ),
    sp AS (SELECT DISTINCT shost, spath FROM b),
    rbest AS (
      SELECT shost, spath, rule FROM (
        SELECT s.shost, s.spath, e.rule,
          row_number() OVER (PARTITION BY s.shost, s.spath
            ORDER BY e.spec_len DESC,
                     CASE WHEN e.rule = 'allow' THEN 1 ELSE 0 END DESC
          ) AS rn
        FROM sp s JOIN eff e ON s.shost = e.domain
                            AND regexp_matches(s.spath, e.regex)
      ) WHERE rn = 1
    ),
    dec AS (
      SELECT sp.shost, sp.spath,
             coalesce(rb.rule <> 'disallow', TRUE) AS allowed
      FROM sp LEFT JOIN rbest rb ON sp.shost = rb.shost
                                AND sp.spath = rb.spath
    ),
    -- seed locs are constructed canonical (https, lowercase host, no
    -- port, non-empty path, query preserved), so canon(loc) = loc
    keepset AS (
      SELECT DISTINCT 'https://' || shost || spath AS canon
      FROM dec WHERE allowed
    ),
    docs0 AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
        || '://'
        || (CASE WHEN doc_id % 3 = 0 THEN upper(shost) ELSE shost END)
        || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        || (CASE WHEN doc_id % 11 = 0
                 THEN '/undiscovered/' || CAST(doc_id % 5 AS VARCHAR)
                 ELSE spath END) AS url,
        (doc_id * 37) % 101 AS score
      FROM b
    ),
    p AS (
      SELECT doc_id, score,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
          AS auth,
        regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS query
      FROM docs0
    ),
    p2 AS (
      SELECT doc_id, score, scheme, path, query,
        lower(regexp_replace(regexp_replace(auth, '^[^@]*@', ''),
                             ':([0-9]+)$', '')) AS host,
        (CASE WHEN regexp_extract(auth, ':([0-9]+)$', 1) <> ''
              THEN CAST(regexp_extract(auth, ':([0-9]+)$', 1) AS INT)
         END) AS port
      FROM p
    ),
    c AS (
      SELECT doc_id, score, host,
        scheme || '://' || host
        || (CASE WHEN port IS NOT NULL
                  AND NOT (scheme = 'http' AND port = 80)
                  AND NOT (scheme = 'https' AND port = 443)
                 THEN ':' || CAST(port AS VARCHAR) ELSE '' END)
        || (CASE WHEN path = '' THEN '/' ELSE path END)
        || (CASE WHEN query = '' THEN '' ELSE '?' || query END)
          AS canon
      FROM p2 WHERE scheme <> ''
    ),
    kept AS (
      SELECT c.* FROM c JOIN keepset k ON c.canon = k.canon
    ),
    dd AS (
      SELECT doc_id, score, host, canon FROM (
        SELECT *, row_number() OVER (PARTITION BY canon
                                     ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    ),
    hu AS (SELECT DISTINCT host FROM dd),
    {_PSL_ALGO_CTES},
    j AS (
      SELECT dd.doc_id, dd.canon, dd.score, dm.domain
      FROM dd JOIN dm ON dd.host = dm.host
    ),
    nb AS (
      SELECT * FROM j
      WHERE domain IS NULL OR domain NOT IN ('blocked.github.io')
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY domain
                                   ORDER BY score DESC, doc_id) AS drn
      FROM nb
    )
    SELECT doc_id, canon AS canon_url,
           coalesce(domain, '(unregistrable)') AS domain, score
    FROM ranked WHERE drn <= 4
    """


@query(
    "q175_crawl_compliance",
    _CRAWL_SQL,
    primary=True,
)
def q175_crawl_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance facade end to end
    (pipeline.prepare_crawl_corpus, M166 — sitemaps M165 → robots
    M164 → URL governance M162 composed): a sitemap corpus discovers
    URLs across four hosts; each is decided for agent 'mybot' under
    RFC 9309 (prefix rules, $-anchored allow, a query-string rule
    '/*?x=1$', a named group on site1, site2's rule-less named group
    = allow-all idiom, no robots at all on the github.io host);
    fetched docs survive only when their CANONICAL URL (HTTPS/:443/
    case variants collapse) matches a discovered-and-allowed seed,
    then flow through canonical dedup → full-PSL domain → blocklist
    (blocked.github.io) → per-domain quota top-4 by score. The DuckDB
    twin recomputes every stage independently, including the PSL
    resolution from the raw vendored list. New in r11 (never-green:
    must be in the r11 window)."""
    from ..pipeline import prepare_crawl_corpus

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    host = (
        F.when(d % 4 == 0, F.lit("www.site0.co.uk"))
        .when(d % 4 == 1, F.lit("www.site1.co.uk"))
        .when(d % 4 == 2, F.lit("www.site2.co.uk"))
        .otherwise(F.lit("blocked.github.io"))
    )
    spath = (
        F.when(d % 5 == 0, F.concat(F.lit("/tmp/a"),
                                    (d % 4).cast("string")))
        .when(d % 5 == 1, F.lit("/tmp/ok"))
        .when(d % 5 == 2, F.concat(F.lit("/p/"), (d % 7).cast("string")))
        .when(d % 5 == 3, F.lit("/q"))
        .otherwise(F.concat(F.lit("/q?x="), (d % 3).cast("string")))
    )
    loc = F.concat(F.lit("https://"), host, spath)
    sitemaps_df = (
        docs.select(F.concat(F.lit("<url><loc>"), loc,
                             F.lit("</loc></url>")).alias("frag"))
        .agg(F.concat_ws("", F.collect_list("frag")).alias("body"))
        .select(
            F.lit("seeds.example").alias("domain"),
            F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                F.col("body"), F.lit("</urlset>")).alias("sitemap_xml"),
        )
    )
    robots_df = spark.createDataFrame(
        [("www.site0.co.uk", "\n".join(_CRAWL_R0)),
         ("www.site1.co.uk", "\n".join(_CRAWL_R1)),
         ("www.site2.co.uk", "\n".join(_CRAWL_R2))],
        "domain string, robots_txt string")
    dpath = F.when(
        d % 11 == 0,
        F.concat(F.lit("/undiscovered/"), (d % 5).cast("string"))
    ).otherwise(spath)
    url = F.concat(
        F.when(d % 2 == 0, "HTTPS").otherwise("https"), F.lit("://"),
        F.when(d % 3 == 0, F.upper(host)).otherwise(host),
        F.when(d % 3 == 0, ":443").otherwise(""),
        dpath,
    )
    base = docs.select("doc_id", url.alias("url"),
                       ((d * 37) % 101).alias("score"))
    block = spark.createDataFrame([("blocked.github.io",)],
                                  "domain string")
    out = prepare_crawl_corpus(base, sitemaps_df, robots_df, "mybot",
                               order_col="score", domain_quota=4,
                               blocklist=block)
    return out.select(
        "doc_id", "canon_url",
        F.coalesce(F.col("psl_domain"), F.lit("(unregistrable)"))
        .alias("domain"),
        "score",
    )


# q176 fixture: crawl-delay politeness scheduling — five domains
# pinning every delay-resolution case: a '*' delay, a named override,
# a rule-less named group that SHADOWS the '*' delay down to the
# default (obey only your own group), a no-robots domain, and an
# agent named in two separate groups (delays do not merge in the
# file; the politest wins). The oracle re-runs the group scan,
# last-line-per-group delay, named shadowing, cross-group max, and
# the per-domain slot window in SQL.
_CD0 = ["User-agent: *", "Crawl-delay: 2", "Disallow: /x"]
_CD1 = ["User-agent: mybot", "Crawl-delay: 0.5", "",
        "User-agent: *", "Crawl-delay: 5"]
_CD2 = ["User-agent: mybot", "Disallow:", "",
        "User-agent: *", "Crawl-delay: 9"]
_CD4 = ["User-agent: mybot", "Crawl-delay: 3", "",
        "User-agent: other", "User-agent: mybot", "Crawl-delay: 4"]

_SCHED_SQL = f"""
    WITH robots AS (
      SELECT 'cd0.com' AS domain, {_sql_lines(_CD0)} AS txt
      UNION ALL SELECT 'cd1.com', {_sql_lines(_CD1)}
      UNION ALL SELECT 'cd2.com', {_sql_lines(_CD2)}
      UNION ALL SELECT 'cd4.com', {_sql_lines(_CD4)}
    ),
    rlines AS (
      SELECT domain, unnest(string_split(txt, chr(10))) AS raw,
             unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS ln
      FROM robots
    ),
    rkv AS (
      SELECT domain, ln,
        lower(trim(regexp_extract(l, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(l, '^[^:]+:(.*)$', 1)) AS val
      FROM (SELECT domain, ln, trim(regexp_replace(raw, '#.*', ''))
                   AS l FROM rlines)
      WHERE contains(l, ':')
        AND lower(trim(regexp_extract(l, '^([^:]+):', 1)))
            IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
    ),
    rgrouped AS (
      SELECT *, sum(gstart) OVER (PARTITION BY domain ORDER BY ln
                                  ROWS UNBOUNDED PRECEDING) AS gid
      FROM (
        SELECT *,
          (CASE WHEN is_ua AND NOT coalesce(lag(is_ua) OVER (
             PARTITION BY domain ORDER BY ln), FALSE)
           THEN 1 ELSE 0 END) AS gstart
        FROM (SELECT *, key = 'user-agent' AS is_ua FROM rkv)
      )
    ),
    ruas AS (
      SELECT domain, gid, lower(val) AS agent FROM rgrouped WHERE is_ua
    ),
    dlast AS (
      SELECT domain, gid, cds FROM (
        SELECT domain, gid, TRY_CAST(val AS DOUBLE) AS cds,
               row_number() OVER (PARTITION BY domain, gid
                                  ORDER BY ln DESC) AS rn
        FROM rgrouped
        WHERE key = 'crawl-delay' AND gid > 0
          AND TRY_CAST(val AS DOUBLE) IS NOT NULL
      ) WHERE rn = 1
    ),
    adelay AS (
      SELECT d.domain, u.agent, d.cds
      FROM dlast d JOIN ruas u ON d.domain = u.domain AND d.gid = u.gid
    ),
    named AS (SELECT DISTINCT domain FROM ruas WHERE agent = 'mybot'),
    eff AS (
      SELECT a.domain, max(a.cds) AS crawl_delay_s
      FROM adelay a LEFT JOIN named n ON a.domain = n.domain
      WHERE (a.agent = 'mybot' AND n.domain IS NOT NULL)
         OR (a.agent = '*' AND n.domain IS NULL)
      GROUP BY 1
    ),
    urls AS (
      SELECT doc_id,
        'cd' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain,
        '/u/' || CAST(doc_id % 50 AS VARCHAR) AS path,
        (doc_id * 13) % 97 AS score
      FROM documents
    ),
    sched AS (
      SELECT u.doc_id, u.domain,
        coalesce(e.crawl_delay_s, 1.0) AS crawl_delay_s,
        row_number() OVER (PARTITION BY u.domain
                           ORDER BY u.score, u.path, u.doc_id) - 1
          AS fetch_slot
      FROM urls u LEFT JOIN eff e ON u.domain = e.domain
    )
    SELECT doc_id, domain, crawl_delay_s, fetch_slot,
           round(fetch_slot * crawl_delay_s, 6) AS fetch_offset_s
    FROM sched
    """


@query(
    "q176_crawl_schedule",
    _SCHED_SQL,
    primary=True,
)
def q176_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduler (operators/robots.py:crawl_schedule, M167):
    per-domain fetch slots under the effective crawl-delay for agent
    'mybot' — '*' delay (cd0), named override 0.5s (cd1), a rule-less
    named group shadowing the '*' delay to the default (cd2), no
    robots at all (cd3 → default), and an agent named in two groups
    keeping the politest delay (cd4 → 4s). Slot order is
    (score, path, doc_id) within each domain; offset = slot × delay.
    The DuckDB twin re-runs the whole chain — group scan,
    last-line-per-group delay, named shadowing, cross-group max,
    window — independently. New in r11 (never-green: must be in the
    r11 window)."""
    from ..operators import robots as RB

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    robots_df = spark.createDataFrame(
        [("cd0.com", "\n".join(_CD0)), ("cd1.com", "\n".join(_CD1)),
         ("cd2.com", "\n".join(_CD2)), ("cd4.com", "\n".join(_CD4))],
        "domain string, robots_txt string")
    urls = docs.select(
        F.concat(F.lit("cd"), (d % 5).cast("string"),
                 F.lit(".com")).alias("domain"),
        F.concat(F.lit("/u/"), (d % 50).cast("string")).alias("path"),
        ((d * 13) % 97).alias("score"),
        "doc_id",
    )
    grouped = RB._grouped_lines(robots_df, "domain", "robots_txt") \
        .localCheckpoint(eager=False)
    out = RB.crawl_schedule(
        urls, RB.parse_crawl_delays(robots_df, _grouped=grouped),
        "MyBot", order_col="score",
        agents=RB.parse_robots_agents(robots_df, _grouped=grouped))
    return out.select(
        "doc_id", "domain", "crawl_delay_s", "fetch_slot",
        F.round(F.col("fetch_offset_s"), 6).alias("fetch_offset_s"))


# q177 fixture: recrawl staleness — corpus p0..p499 (duplicate fetches
# keep the newest) vs sitemap listings p100..p599 (duplicate listings
# keep the newest parseable lastmod) with every W3C-datetime form the
# operator supports: date-only, 'T'-separated with trailing Z, space-
# separated, absent, and malformed (try_cast NULL ⇒ no evidence of
# change ⇒ fresh). p0-p99 come out 'unlisted', p500-p599 'new', the
# overlap splits fresh/stale on the strict lastmod > fetched_at
# comparison. The oracle re-runs parsing, both dedup reductions, and
# the full-outer classification in SQL.
_RECRAWL_SQL = """
    WITH corpus AS (
      SELECT 'https://r.com/p' || CAST(doc_id % 500 AS VARCHAR)
               AS canon_url,
             TIMESTAMP '2024-01-01 00:00:00'
               + (doc_id % 40) * INTERVAL 1 DAY AS fetched_at
      FROM documents
    ),
    entries AS (
      SELECT 'https://r.com/p' || CAST(100 + doc_id % 500 AS VARCHAR)
               AS loc,
        (CASE WHEN doc_id % 7 = 0 THEN ''
              WHEN doc_id % 7 = 1
              THEN '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                                      2, '0')
              WHEN doc_id % 7 = 2 THEN '2024-01-15T12:00:00Z'
              WHEN doc_id % 7 = 3 THEN '2024-02-01 08:30:00'
              WHEN doc_id % 7 = 4 THEN 'not-a-date'
              WHEN doc_id % 7 = 5 THEN '2023-12-31'
              ELSE '2024-01-20T00:00:00' END) AS lastmod
      FROM documents
    ),
    lft AS (
      SELECT canon_url, max(fetched_at) AS fetched_at
      FROM corpus GROUP BY 1
    ),
    rgt AS (
      SELECT loc AS canon_url,
             max(TRY_CAST(replace(regexp_replace(trim(lastmod),
                 'Z$', ''), 'T', ' ') AS TIMESTAMP)) AS lastmod_ts,
             TRUE AS listed
      FROM entries WHERE loc <> '' GROUP BY 1
    ),
    merged AS (
      SELECT coalesce(l.canon_url, r.canon_url) AS canon_url,
             l.fetched_at, r.lastmod_ts, r.listed
      FROM lft l FULL OUTER JOIN rgt r ON l.canon_url = r.canon_url
    )
    SELECT canon_url,
      (CASE WHEN fetched_at IS NULL THEN 'new'
            WHEN listed IS NULL THEN 'unlisted'
            WHEN lastmod_ts IS NOT NULL AND lastmod_ts > fetched_at
            THEN 'stale' ELSE 'fresh' END) AS status,
      CAST(floor(epoch(lastmod_ts)) AS BIGINT) AS lastmod_epoch,
      CAST(floor(epoch(fetched_at)) AS BIGINT) AS fetched_epoch
    FROM merged
    """


@query(
    "q177_recrawl_status",
    _RECRAWL_SQL,
    primary=True,
)
def q177_recrawl_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl staleness planner (operators/sitemaps.py:recrawl_status,
    M168): full-outer classification of crawled canonical URLs vs
    current sitemap listings — new / stale / fresh / unlisted — under
    W3C-datetime lastmod parsing (date-only, T+Z, space-separated;
    malformed → NULL → fresh), newest-fetch and newest-lastmod dedup
    reductions on each side, and the strict lastmod > fetched_at
    staleness rule. The DuckDB twin recomputes parsing, reductions,
    and classification independently. New in r11 (never-green: must
    be in the r11 window)."""
    from ..operators import sitemaps as SM

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.select(
        F.concat(F.lit("https://r.com/p"),
                 (d % 500).cast("string")).alias("canon_url"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, doc_id % 40, 0, 0, 0)").alias("fetched_at"),
    )
    entries = docs.select(
        F.concat(F.lit("https://r.com/p"),
                 (d % 500 + 100).cast("string")).alias("loc"),
        F.when(d % 7 == 0, F.lit(""))
        .when(d % 7 == 1,
              F.concat(F.lit("2024-01-"),
                       F.lpad((d % 28 + 1).cast("string"), 2, "0")))
        .when(d % 7 == 2, F.lit("2024-01-15T12:00:00Z"))
        .when(d % 7 == 3, F.lit("2024-02-01 08:30:00"))
        .when(d % 7 == 4, F.lit("not-a-date"))
        .when(d % 7 == 5, F.lit("2023-12-31"))
        .otherwise(F.lit("2024-01-20T00:00:00")).alias("lastmod"),
    )
    out = SM.recrawl_status(corpus, entries)
    return out.select(
        "canon_url", "status",
        F.unix_timestamp("lastmod_ts").alias("lastmod_epoch"),
        F.unix_timestamp("fetched_at").alias("fetched_epoch"))


# q178 fixture: deterministic per-doc HTML (title/style/script blocks,
# conditional comment, entity-bearing paragraph, nbsp + <br> division)
# -> the full M169 text-extraction chain -> per-doc text + length.
# The oracle re-runs the IDENTICAL pattern chain (shared constants,
# RE2 ∩ Java subset — no backreferences) with DuckDB regexp_replace.
_HTML_SQL = r"""
    WITH h0 AS (
      SELECT doc_id,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        || '</title><style>p{x:1}</style>'
        || '<script>var a=1 && b<2;</script></head><body>'
        || '<h1>H' || CAST(doc_id % 7 AS VARCHAR) || '</h1>'
        || (CASE WHEN doc_id % 3 = 0
                 THEN '<!-- hidden ' || CAST(doc_id AS VARCHAR)
                      || ' -->' ELSE '' END)
        || '<p>Para &amp; ' || CAST(doc_id % 13 AS VARCHAR)
        || ' &lt;x&gt;</p>'
        || '<div>left&nbsp;right<br>next '
        || CAST(doc_id % 5 AS VARCHAR) || '</div>'
        || '</body></html>' AS html
      FROM documents
    ),
    t1 AS (SELECT doc_id, regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(html,
             '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
             '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
             '(?is)<noscript\b[^>]*>.*?</noscript\s*>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g') AS t FROM h0),
    t2 AS (SELECT doc_id, regexp_replace(t,
             '(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol|/blockquote|/section|/article|/title)\b[^>]*>',
             chr(10), 'g') AS t FROM t1),
    t3 AS (SELECT doc_id, regexp_replace(t,
             '(?s)</?[A-Za-z!][^>]*>', ' ', 'g') AS t FROM t2),
    t4 AS (SELECT doc_id,
             replace(replace(replace(replace(replace(replace(replace(
               t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&apos;', chr(39)), '&#39;', chr(39)),
               '&nbsp;', ' '), '&amp;', '&') AS t FROM t3),
    t5 AS (SELECT doc_id, regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(t,
             '[ ' || chr(9) || chr(13) || chr(12) || ']+', ' ', 'g'),
             ' ?' || chr(10) || ' ?', chr(10), 'g'),
             chr(10) || '+', chr(10), 'g'),
             '^[ ' || chr(10) || ']+|[ ' || chr(10) || ']+$', '', 'g')
             AS t FROM t4)
    SELECT doc_id, t AS text, length(t) AS n_chars FROM t5
    """


@query(
    "q178_html_to_text",
    _HTML_SQL,
    primary=True,
)
def q178_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → training text (operators/html.py:html_to_text, M169 —
    the crawl→corpus extraction step, C4's regex tier): script/style/
    noscript content dropped, comments dropped, block closers and
    <br> become newlines, tags strip, entities unescape (&amp; last),
    whitespace canonicalizes — full extracted text emitted per doc so
    the pin is byte-level. The DuckDB twin re-runs the identical
    pattern chain (module-level shared constants) in SQL. New in r11
    (never-green: must be in the r11 window)."""
    from ..operators import html as H

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    page = F.concat(
        F.lit("<html><head><title>Doc "), d.cast("string"),
        F.lit("</title><style>p{x:1}</style>"
              "<script>var a=1 && b<2;</script></head><body>"),
        F.lit("<h1>H"), (d % 7).cast("string"), F.lit("</h1>"),
        F.when(d % 3 == 0,
               F.concat(F.lit("<!-- hidden "), d.cast("string"),
                        F.lit(" -->"))).otherwise(""),
        F.lit("<p>Para &amp; "), (d % 13).cast("string"),
        F.lit(" &lt;x&gt;</p>"),
        F.lit("<div>left&nbsp;right<br>next "),
        (d % 5).cast("string"), F.lit("</div></body></html>"),
    )
    return docs.select(
        "doc_id",
        H.html_to_text(page).alias("text"),
    ).withColumn("n_chars", F.length("text"))


# q179 fixture: frontier expansion — eight anchors per doc covering
# double-quoted rooted, single-quoted relative-with-.. (entity &amp;
# in the query), bare-token, fragment-only, absolute, scheme-
# relative, query-only, and beyond-root ../../.. forms, resolved
# against a per-doc base URL. The oracle re-implements extraction
# (same anchor/href regexes) AND RFC 3986 resolution per form, with
# dot-segment removal as a bounded unrolled replace loop (the
# fixture's deepest chain is 3 '..' segments; the UNBOUNDED general
# case is pinned by the urljoin fuzz test in tests/test_web_functions
# — the Spark side's HOF fold needs no bound).
_LINKS_SQL = r"""
    WITH pages AS (
      SELECT doc_id,
        'http://s' || CAST(doc_id % 9 AS VARCHAR)
          || '.com/dir/sub/page.html' AS base,
        '<a href="/r/' || CAST(doc_id % 11 AS VARCHAR) || '">a</a>'
        || '<a class=''c'' href=''../up/' || CAST(doc_id % 4 AS VARCHAR)
          || '?a=1&amp;b=2''>b</a>'
        || '<a href=rel' || CAST(doc_id % 6 AS VARCHAR) || '.html>c</a>'
        || '<a href="#sec">d</a>'
        || '<a href="https://cdn' || CAST(doc_id % 3 AS VARCHAR)
          || '.example/x">e</a>'
        || '<a href="//mirror.example/m/' || CAST(doc_id % 2 AS VARCHAR)
          || '">f</a>'
        || '<a href="?p=' || CAST(doc_id % 5 AS VARCHAR) || '">g</a>'
        || '<a href="../../../deep">h</a>' AS html
      FROM documents
    ),
    tags AS (
      SELECT doc_id, base,
             unnest(regexp_extract_all(html, '(?is)<a\s[^>]*>'))
               AS a_tag
      FROM pages
    ),
    hrefs AS (
      SELECT doc_id, base,
        replace(replace(replace(replace(replace(replace(replace(
          trim(CASE
            WHEN regexp_extract(a_tag,
                 '(?is)\bhref\s*=\s*"([^"]*)"', 1) <> ''
            THEN regexp_extract(a_tag,
                 '(?is)\bhref\s*=\s*"([^"]*)"', 1)
            WHEN regexp_extract(a_tag,
                 '(?is)\bhref\s*=\s*''([^'']*)''', 1) <> ''
            THEN regexp_extract(a_tag,
                 '(?is)\bhref\s*=\s*''([^'']*)''', 1)
            ELSE regexp_extract(a_tag,
                 '(?is)\bhref\s*=\s*([^\s"''>]+)', 1) END),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&apos;', chr(39)), '&#39;', chr(39)),
          '&nbsp;', ' '), '&amp;', '&') AS href
      FROM tags
    ),
    parts AS (
      SELECT doc_id, base, href,
        regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)
          AS b_scheme,
        regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
          AS b_auth,
        regexp_extract(base,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS b_path,
        regexp_replace(href, '#.*$', '') AS ref_nf
      FROM hrefs WHERE href <> ''
    ),
    cases AS (
      SELECT doc_id, base, href, b_scheme, b_auth, b_path,
        regexp_extract(ref_nf, '^([^?]*)', 1) AS r_path,
        regexp_extract(ref_nf, '\?(.*)$', 1) AS r_query,
        ref_nf,
        b_scheme || '://' || b_auth AS prefix,
        regexp_extract(b_path, '^(.*/)', 1) AS base_dir
      FROM parts
    ),
    merged AS (
      SELECT *,
        (CASE WHEN ref_nf LIKE '/%' THEN r_path
              ELSE (CASE WHEN base_dir = '' THEN '/' ELSE base_dir END)
                   || r_path END) AS mp
      FROM cases
    ),
    -- bounded dot-segment removal: '/./' passes, then 3 rounds of
    -- seg/../ + leading /../ (fixture max chain = 3), trailing forms
    -- covered by the (/|$) alternation
    rds AS (
      SELECT *, regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(
          regexp_replace(mp, '/\.(/|$)', '/', 'g'),
          '/\.(/|$)', '/', 'g'),
          '/[^/]+/\.\.(/|$)', '/', 'g'),
          '^/\.\.(/|$)', '/', 'g'),
          '/[^/]+/\.\.(/|$)', '/', 'g'),
          '^/\.\.(/|$)', '/', 'g'),
          '/[^/]+/\.\.(/|$)', '/', 'g'),
          '^/\.\.(/|$)', '/', 'g'),
          '//+', '/', 'g') AS np
      FROM merged
    )
    SELECT doc_id, href,
      (CASE
        WHEN regexp_extract(ref_nf, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)
             <> '' THEN href
        WHEN ref_nf LIKE '//%' THEN b_scheme || ':' || ref_nf
        WHEN ref_nf = '' THEN prefix || b_path
        WHEN ref_nf LIKE '?%' THEN prefix || b_path || ref_nf
        ELSE prefix || np
             || (CASE WHEN r_query <> '' THEN '?' || r_query
                 ELSE '' END) END) AS resolved
    FROM rds
    """


@query(
    "q179_link_frontier",
    _LINKS_SQL,
    primary=True,
)
def q179_link_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link extraction + frontier expansion
    (operators/html.py:extract_links + functions/web.py:url_resolve,
    M170): eight href forms per doc — quoted/bare attributes, entity
    unescape in query strings, fragment-only (→ the base itself),
    absolute (verbatim), scheme-relative (inherits base scheme),
    query-only, relative and beyond-root '..' chains — resolved
    against per-doc base URLs; per-link rows pin every resolution
    byte-for-byte. The DuckDB twin re-implements extraction and
    RFC 3986 resolution independently (bounded unrolled dot-segment
    removal for this fixture; the general case is fuzz-pinned against
    stdlib urljoin in pytest). New in r11 (never-green: must be in
    the r11 window)."""
    from ..operators import html as H

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    html = F.concat(
        F.lit('<a href="/r/'), (d % 11).cast("string"), F.lit('">a</a>'),
        F.lit("<a class='c' href='../up/"), (d % 4).cast("string"),
        F.lit("?a=1&amp;b=2'>b</a>"),
        F.lit("<a href=rel"), (d % 6).cast("string"),
        F.lit(".html>c</a>"),
        F.lit('<a href="#sec">d</a>'),
        F.lit('<a href="https://cdn'), (d % 3).cast("string"),
        F.lit('.example/x">e</a>'),
        F.lit('<a href="//mirror.example/m/'), (d % 2).cast("string"),
        F.lit('">f</a>'),
        F.lit('<a href="?p='), (d % 5).cast("string"), F.lit('">g</a>'),
        F.lit('<a href="../../../deep">h</a>'),
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("http://s"), (d % 9).cast("string"),
                 F.lit(".com/dir/sub/page.html")).alias("base"),
        html.alias("html"),
    )
    out = H.extract_links(pages, html_col="html", base_col="base")
    return out.select("doc_id", "href", "resolved")


# q180 fixture: the link-following discovery channel end to end —
# five href forms per fetched page (relative, rooted-into-a-blocked
# prefix, absolute cross-host with an entity-escaped query, mailto
# (dropped at the web-scheme gate), and a '..' relative), resolved
# against per-page bases, robots-decided for 'mybot' (a '*'
# Disallow: /x/ on f0-f2, the allow-all empty named group on f3, no
# robots on the ext hosts), minus a known-URL registry, grouped to
# (canon_url, n_refs, first_src). The oracle re-implements
# extraction, resolution, the decision, the anti-join, and the
# rollup independently. Resolution outputs are constructed canonical
# (lowercase hosts, no ports, non-empty paths), so canon = resolved.
_FRONTIER_R0 = ["User-agent: *", "Disallow: /x/"]
_FRONTIER_R3 = ["User-agent: mybot", "Disallow:", "",
                "User-agent: *", "Disallow: /"]

_FRONTIER_SQL = f"""
    WITH pages AS (
      SELECT doc_id,
        'http://f' || CAST(doc_id % 6 AS VARCHAR) || '.com/d'
          || CAST(doc_id % 4 AS VARCHAR) || '/p'
          || CAST(doc_id % 20 AS VARCHAR) || '.html' AS url,
        '<a href="n' || CAST(doc_id % 8 AS VARCHAR) || '.html">a</a>'
        || '<a href="/x/' || CAST(doc_id % 5 AS VARCHAR) || '">b</a>'
        || '<a href="https://ext' || CAST(doc_id % 3 AS VARCHAR)
          || '.org/e?a=1&amp;b=' || CAST(doc_id % 4 AS VARCHAR)
          || '">c</a>'
        || '<a href="mailto:a@b.c">d</a>'
        || '<a href="../up' || CAST(doc_id % 2 AS VARCHAR)
          || '/q">e</a>' AS html
      FROM documents
    ),
    tags AS (
      SELECT doc_id, url,
             unnest(regexp_extract_all(html, '(?is)<a\\s[^>]*>'))
               AS a_tag
      FROM pages
    ),
    hrefs AS (
      SELECT doc_id, url,
        replace(trim(regexp_extract(a_tag,
          '(?is)\\bhref\\s*=\\s*"([^"]*)"', 1)), '&amp;', '&') AS href
      FROM tags
    ),
    parts AS (
      SELECT doc_id, url AS src, href,
        regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)
          AS b_scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
          AS b_auth,
        regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS b_path
      FROM hrefs WHERE href <> ''
    ),
    res AS (
      SELECT doc_id, src, href,
        (CASE
          WHEN regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)
               <> '' THEN href
          WHEN href LIKE '/%' THEN b_scheme || '://' || b_auth || href
          ELSE b_scheme || '://' || b_auth ||
            regexp_replace(regexp_replace(
              regexp_extract(b_path, '^(.*/)', 1) || href,
              '/[^/]+/\\.\\.(/|$)', '/', 'g'),
              '^/\\.\\.(/|$)', '/', 'g')
          END) AS resolved
      FROM parts
    ),
    cand AS (
      SELECT src, resolved AS canon_url,
        regexp_extract(resolved,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS chost,
        regexp_extract(resolved,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS cpath
      FROM res
      WHERE regexp_extract(resolved,
              '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) IN ('http', 'https')
    ),
    robots AS (
      SELECT 'f0.com' AS domain, {_sql_lines(_FRONTIER_R0)} AS txt
      UNION ALL SELECT 'f1.com', {_sql_lines(_FRONTIER_R0)}
      UNION ALL SELECT 'f2.com', {_sql_lines(_FRONTIER_R0)}
      UNION ALL SELECT 'f3.com', {_sql_lines(_FRONTIER_R3)}
    ),
    rlines AS (
      SELECT domain, unnest(string_split(txt, chr(10))) AS raw,
             unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS ln
      FROM robots
    ),
    rkv AS (
      SELECT domain, ln,
        lower(trim(regexp_extract(l, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(l, '^[^:]+:(.*)$', 1)) AS val
      FROM (SELECT domain, ln, trim(regexp_replace(raw, '#.*', ''))
                   AS l FROM rlines)
      WHERE contains(l, ':')
        AND lower(trim(regexp_extract(l, '^([^:]+):', 1)))
            IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
    ),
    rgrouped AS (
      SELECT *, sum(gstart) OVER (PARTITION BY domain ORDER BY ln
                                  ROWS UNBOUNDED PRECEDING) AS gid
      FROM (
        SELECT *,
          (CASE WHEN is_ua AND NOT coalesce(lag(is_ua) OVER (
             PARTITION BY domain ORDER BY ln), FALSE)
           THEN 1 ELSE 0 END) AS gstart
        FROM (SELECT *, key = 'user-agent' AS is_ua FROM rkv)
      )
    ),
    ruas AS (
      SELECT domain, gid, lower(val) AS agent FROM rgrouped WHERE is_ua
    ),
    rpol AS (
      SELECT r.domain, u.agent, r.key AS rule,
        length(r.val) AS spec_len,
        '^' || regexp_replace(regexp_replace(regexp_replace(
            (CASE WHEN r.val LIKE '%$'
                  THEN substr(r.val, 1, length(r.val) - 1)
                  ELSE r.val END),
            '([.+?^(){{}}\\[\\]|\\\\])', '\\\\\\1', 'g'),
            '\\$', '\\\\$', 'g'),
            '\\*', '.*', 'g')
        || (CASE WHEN r.val LIKE '%$' THEN '$' ELSE '' END) AS regex
      FROM (SELECT domain, gid, key, val FROM rgrouped
            WHERE key IN ('allow', 'disallow') AND val <> ''
              AND gid > 0) r
      JOIN ruas u ON r.domain = u.domain AND r.gid = u.gid
    ),
    named AS (SELECT DISTINCT domain FROM ruas WHERE agent = 'mybot'),
    eff AS (
      SELECT p.domain, p.rule, p.spec_len, p.regex
      FROM rpol p LEFT JOIN named n ON p.domain = n.domain
      WHERE (p.agent = 'mybot' AND n.domain IS NOT NULL)
         OR (p.agent = '*' AND n.domain IS NULL)
    ),
    up AS (SELECT DISTINCT chost, cpath FROM cand),
    rbest AS (
      SELECT chost, cpath, rule FROM (
        SELECT u.chost, u.cpath, e.rule,
          row_number() OVER (PARTITION BY u.chost, u.cpath
            ORDER BY e.spec_len DESC,
                     CASE WHEN e.rule = 'allow' THEN 1 ELSE 0 END DESC
          ) AS rn
        FROM up u JOIN eff e ON u.chost = e.domain
                            AND regexp_matches(u.cpath, e.regex)
      ) WHERE rn = 1
    ),
    dec AS (
      SELECT up.chost, up.cpath,
             coalesce(rb.rule <> 'disallow', TRUE) AS allowed
      FROM up LEFT JOIN rbest rb ON up.chost = rb.chost
                                AND up.cpath = rb.cpath
    ),
    known AS (
      SELECT DISTINCT 'http://f' || CAST(doc_id % 6 AS VARCHAR)
        || '.com/d' || CAST(doc_id % 4 AS VARCHAR) || '/n'
        || CAST(doc_id % 8 AS VARCHAR) || '.html' AS canon_url
      FROM documents WHERE doc_id % 8 < 3
    )
    SELECT c.canon_url, count(*) AS n_refs, min(c.src) AS first_src
    FROM cand c
    JOIN dec d ON c.chost = d.chost AND c.cpath = d.cpath
    LEFT JOIN known k ON c.canon_url = k.canon_url
    WHERE d.allowed AND k.canon_url IS NULL
    GROUP BY 1
    """


@query(
    "q180_frontier_expansion",
    _FRONTIER_SQL,
    primary=True,
)
def q180_frontier_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-following frontier expansion end to end
    (pipeline.expand_frontier, M171 — M170 links → RFC 3986
    resolution → web-scheme gate → M164 robots decision → known-set
    anti-join → in-link rollup): relative/rooted/absolute/mailto/
    dotdot hrefs per fetched page, '*' Disallow: /x/ on three hosts,
    the allow-all empty named group on f3, no robots on the external
    hosts, and a known-URL registry excluding already-queued
    relative targets. Output rows pin every surviving frontier URL
    with its reference count and earliest referrer. The DuckDB twin
    re-implements every stage independently. New in r11 (never-green:
    must be in the r11 window)."""
    from ..pipeline import expand_frontier

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    html = F.concat(
        F.lit('<a href="n'), (d % 8).cast("string"),
        F.lit('.html">a</a>'),
        F.lit('<a href="/x/'), (d % 5).cast("string"), F.lit('">b</a>'),
        F.lit('<a href="https://ext'), (d % 3).cast("string"),
        F.lit(".org/e?a=1&amp;b="), (d % 4).cast("string"),
        F.lit('">c</a>'),
        F.lit('<a href="mailto:a@b.c">d</a>'),
        F.lit('<a href="../up'), (d % 2).cast("string"),
        F.lit('/q">e</a>'),
    )
    # The doc_id-pruned parquet scan is a single ~3 KB input split, and
    # everything downstream of it is narrow (the operator's zero-shuffle
    # design), so without this spread the whole extraction → resolution
    # → decision chain runs in ONE task (measured 14 s single-task CPU
    # at sf0.1). A real pages table arrives in many scan partitions;
    # spreading the synthetic fixture the same way is result-identical.
    pages = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        F.concat(F.lit("http://f"), (d % 6).cast("string"),
                 F.lit(".com/d"), (d % 4).cast("string"),
                 F.lit("/p"), (d % 20).cast("string"),
                 F.lit(".html")).alias("url"),
        html.alias("html"),
    )
    robots_df = spark.createDataFrame(
        [("f0.com", "\n".join(_FRONTIER_R0)),
         ("f1.com", "\n".join(_FRONTIER_R0)),
         ("f2.com", "\n".join(_FRONTIER_R0)),
         ("f3.com", "\n".join(_FRONTIER_R3))],
        "domain string, robots_txt string")
    known = docs.filter(d % 8 < 3).select(
        F.concat(F.lit("http://f"), (d % 6).cast("string"),
                 F.lit(".com/d"), (d % 4).cast("string"),
                 F.lit("/n"), (d % 8).cast("string"),
                 F.lit(".html")).alias("canon_url")).distinct()
    out = expand_frontier(pages, robots_df, "mybot", known=known)
    return out.select("canon_url", "n_refs", "first_src")


# q181 fixture: WARC record strings built from document rows — one
# warcinfo per 10 docs, responses otherwise (varying target URIs,
# W3C dates, 200/301/404 statuses, HTML bodies; Content-Length
# COMPUTED from the constructed HTTP message in both engines) — run
# through the M172 field parser and emitted per record. The oracle
# rebuilds the same strings and re-runs the identical header/block
# regexes in SQL.
_WARC_SQL = r"""
    WITH built AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 10 = 0 THEN 'warcinfo'
              ELSE 'response' END) AS wtype,
        (CASE WHEN doc_id % 10 = 0 THEN ''
              ELSE 'http://w' || CAST(doc_id % 7 AS VARCHAR)
                   || '.com/p/' || CAST(doc_id % 50 AS VARCHAR)
         END) AS uri,
        '2024-01-' || lpad(CAST(doc_id % 25 + 2 AS VARCHAR), 2, '0')
          || 'T0' || CAST(doc_id % 9 AS VARCHAR) || ':30:00Z' AS wdate,
        (CASE WHEN doc_id % 11 = 0 THEN 404
              WHEN doc_id % 5 = 0 THEN 301 ELSE 200 END) AS status,
        '<html>doc ' || CAST(doc_id AS VARCHAR) || '</html>' AS body
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, wtype, uri, wdate,
        (CASE WHEN wtype = 'warcinfo'
              THEN 'software: test' || chr(13) || chr(10)
              ELSE 'HTTP/1.1 ' || CAST(status AS VARCHAR) || ' X'
                   || chr(13) || chr(10) || 'Content-Type: text/html'
                   || chr(13) || chr(10) || chr(13) || chr(10) || body
         END) AS block
      FROM built
    ),
    recs AS (
      SELECT doc_id,
        'WARC/1.0' || chr(13) || chr(10)
        || 'WARC-Type: ' || wtype || chr(13) || chr(10)
        || (CASE WHEN uri <> ''
                 THEN 'WARC-Target-URI: ' || uri || chr(13) || chr(10)
                 ELSE '' END)
        || 'WARC-Date: ' || wdate || chr(13) || chr(10)
        || 'Content-Length: ' || CAST(length(block) AS VARCHAR)
        || chr(13) || chr(10) || chr(13) || chr(10)
        || block AS record
      FROM blocks
    ),
    parsed AS (
      SELECT doc_id,
        regexp_extract(record, '^WARC/([0-9.]+)', 1) AS warc_version,
        lower(regexp_extract(hd, '(?im)^WARC-Type: *([^' || chr(13)
          || chr(10) || ']*)', 1)) AS warc_type,
        regexp_extract(hd, '(?im)^WARC-Target-URI: *([^' || chr(13)
          || chr(10) || ']*)', 1) AS target_uri,
        TRY_CAST(replace(regexp_replace(trim(
          regexp_extract(hd, '(?im)^WARC-Date: *([^' || chr(13)
            || chr(10) || ']*)', 1)), 'Z$', ''), 'T', ' ')
          AS TIMESTAMP) AS warc_date_ts,
        TRY_CAST(regexp_extract(hd, '(?im)^Content-Length: *([^'
          || chr(13) || chr(10) || ']*)', 1) AS BIGINT)
          AS content_length,
        (CASE WHEN starts_with(blk, 'HTTP/')
              THEN TRY_CAST(regexp_extract(blk,
                   '(?s)^HTTP/[0-9.]+ +([0-9]{3})', 1) AS INT)
         END) AS http_status,
        (CASE WHEN starts_with(blk, 'HTTP/')
              THEN regexp_extract(blk, '(?s)^HTTP/.*?' || chr(13)
                   || chr(10) || chr(13) || chr(10) || '(.*)$', 1)
              ELSE blk END) AS payload
      FROM (
        SELECT doc_id, record,
          regexp_extract(record, '(?s)^(.*?)' || chr(13) || chr(10)
            || chr(13) || chr(10), 1) AS hd,
          regexp_extract(record, '(?s)' || chr(13) || chr(10)
            || chr(13) || chr(10) || '(.*)$', 1) AS blk
        FROM recs
      )
    )
    SELECT doc_id, warc_version, warc_type, target_uri,
           CAST(floor(epoch(warc_date_ts)) AS BIGINT) AS warc_epoch,
           content_length, http_status, payload
    FROM parsed
    """


@query(
    "q181_warc_parse",
    _WARC_SQL,
    primary=True,
)
def q181_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record parsing (sources/warc.py:parse_warc_fields, M172 —
    ISO 28500, the CommonCrawl interchange format): warcinfo +
    response records with computed Content-Length, case-insensitive
    header extraction, W3C date parsing, nested HTTP message split
    (status line + headers + payload), non-HTTP blocks passing
    through whole. Per-record rows pin every field byte-for-byte; the
    DuckDB twin rebuilds the same record strings and re-runs the
    identical regexes. The binary framing layer (gzip members,
    Content-Length record splitting) is pytest-verified
    (tests/test_warc.py) — file IO is not SQL-expressible. New in r11
    (never-green: must be in the r11 window)."""
    from ..sources import warc as WR

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    crlf = "\r\n"
    wtype = F.when(d % 10 == 0, "warcinfo").otherwise("response")
    uri = F.when(d % 10 == 0, F.lit("")).otherwise(
        F.concat(F.lit("http://w"), (d % 7).cast("string"),
                 F.lit(".com/p/"), (d % 50).cast("string")))
    wdate = F.concat(F.lit("2024-01-"),
                     F.lpad((d % 25 + 2).cast("string"), 2, "0"),
                     F.lit("T0"), (d % 9).cast("string"),
                     F.lit(":30:00Z"))
    status = (F.when(d % 11 == 0, 404)
              .when(d % 5 == 0, 301).otherwise(200))
    body = F.concat(F.lit("<html>doc "), d.cast("string"),
                    F.lit("</html>"))
    block = F.when(
        wtype == "warcinfo", F.lit("software: test" + crlf)
    ).otherwise(F.concat(
        F.lit("HTTP/1.1 "), status.cast("string"), F.lit(" X" + crlf),
        F.lit("Content-Type: text/html" + crlf + crlf), body))
    record = F.concat(
        F.lit("WARC/1.0" + crlf),
        F.lit("WARC-Type: "), wtype, F.lit(crlf),
        F.when(uri != "", F.concat(F.lit("WARC-Target-URI: "), uri,
                                   F.lit(crlf))).otherwise(""),
        F.lit("WARC-Date: "), wdate, F.lit(crlf),
        F.lit("Content-Length: "),
        F.length(block).cast("string"), F.lit(crlf + crlf), block)
    recs = docs.select("doc_id", record.alias("record"))
    out = WR.parse_warc_fields(recs)
    return out.select(
        "doc_id", "warc_version", "warc_type", "target_uri",
        F.unix_timestamp("warc_date_ts").alias("warc_epoch"),
        "content_length", "http_status", "payload")


# q182 fixture: per-doc page heads exercising every html_meta variant
# — entity-bearing titles, both charset declaration forms, meta
# description in both attribute orders / quote styles / absent, the
# robots directive set incl. the 'noindexing' token trap, canonical
# links in both attribute orders / absent. The oracle rebuilds the
# same pages and re-runs the identical patterns (dollar-quoted so the
# mixed-quote regexes stay verbatim).
_META_SQL = r"""
    WITH pages AS (
      SELECT doc_id,
        '<html><head><title>Doc &amp; ' || CAST(doc_id % 9 AS VARCHAR)
        || '</title>'
        || (CASE WHEN doc_id % 2 = 0 THEN '<meta charset="utf-8">'
            ELSE '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
            END)
        || (CASE WHEN doc_id % 3 = 0
            THEN '<meta content=''d' || CAST(doc_id % 7 AS VARCHAR)
                 || ' desc'' name=''description''>'
            WHEN doc_id % 3 = 1
            THEN '<meta name="description" content="plain &quot;d'
                 || CAST(doc_id % 7 AS VARCHAR) || '&quot;">'
            ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0
            THEN '<meta name="robots" content="noindex">'
            WHEN doc_id % 5 = 1
            THEN '<meta content=''noindex, nofollow'' name=''ROBOTS''>'
            WHEN doc_id % 5 = 2
            THEN '<meta name="robots" content="index, follow">'
            WHEN doc_id % 5 = 3
            THEN '<meta name="robots" content="noindexing,nofollow">'
            ELSE '' END)
        || (CASE WHEN doc_id % 4 = 0
            THEN '<link rel="canonical" href="https://c.com/p?a=1&amp;b='
                 || CAST(doc_id % 6 AS VARCHAR) || '">'
            WHEN doc_id % 4 = 1
            THEN '<link href="https://c.com/q/' || CAST(doc_id % 6 AS VARCHAR)
                 || '" rel="canonical">'
            ELSE '' END)
        || '</head><body>x</body></html>' AS html
      FROM documents
    ),
    ex AS (
      SELECT doc_id, html,
        regexp_extract(html, '(?is)<title[^>]*>(.*?)</title\s*>', 1)
          AS raw_title,
        (CASE WHEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']description["'][^>]*content\s*=\s*"([^"]*)"$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']description["'][^>]*content\s*=\s*"([^"]*)"$$, 1)
          WHEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']description["'][^>]*content\s*=\s*'([^']*)'$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']description["'][^>]*content\s*=\s*'([^']*)'$$, 1)
          WHEN regexp_extract(html,
            $$(?is)<meta\s[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*["']description["']$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<meta\s[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*["']description["']$$, 1)
          ELSE regexp_extract(html,
            $$(?is)<meta\s[^>]*content\s*=\s*'([^']*)'[^>]*name\s*=\s*["']description["']$$, 1)
          END) AS raw_desc,
        (CASE WHEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']robots["'][^>]*content\s*=\s*"([^"]*)"$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']robots["'][^>]*content\s*=\s*"([^"]*)"$$, 1)
          WHEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']robots["'][^>]*content\s*=\s*'([^']*)'$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<meta\s[^>]*name\s*=\s*["']robots["'][^>]*content\s*=\s*'([^']*)'$$, 1)
          WHEN regexp_extract(html,
            $$(?is)<meta\s[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*["']robots["']$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<meta\s[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*["']robots["']$$, 1)
          ELSE regexp_extract(html,
            $$(?is)<meta\s[^>]*content\s*=\s*'([^']*)'[^>]*name\s*=\s*["']robots["']$$, 1)
          END) AS raw_robots,
        (CASE WHEN regexp_extract(html,
            $$(?is)<link\s[^>]*rel\s*=\s*["']canonical["'][^>]*href\s*=\s*"([^"]*)"$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<link\s[^>]*rel\s*=\s*["']canonical["'][^>]*href\s*=\s*"([^"]*)"$$, 1)
          WHEN regexp_extract(html,
            $$(?is)<link\s[^>]*rel\s*=\s*["']canonical["'][^>]*href\s*=\s*'([^']*)'$$, 1) <> ''
          THEN regexp_extract(html,
            $$(?is)<link\s[^>]*rel\s*=\s*["']canonical["'][^>]*href\s*=\s*'([^']*)'$$, 1)
          ELSE regexp_extract(html,
            $$(?is)<link\s[^>]*href\s*=\s*"([^"]*)"[^>]*rel\s*=\s*["']canonical["']$$, 1)
          END) AS raw_canon,
        lower(regexp_extract(html,
          $$(?is)<meta\s[^>]*charset\s*=\s*["']?([A-Za-z0-9_-]+)$$, 1))
          AS charset
      FROM pages
    ),
    un AS (
      SELECT doc_id,
        replace(replace(replace(replace(replace(replace(replace(
          trim(regexp_replace(raw_title, '\s+', ' ', 'g')),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&apos;', chr(39)), '&#39;', chr(39)), '&nbsp;', ' '),
          '&amp;', '&') AS title,
        replace(replace(replace(replace(replace(replace(replace(
          trim(raw_desc),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&apos;', chr(39)), '&#39;', chr(39)), '&nbsp;', ' '),
          '&amp;', '&') AS meta_description,
        replace(replace(replace(replace(replace(replace(replace(
          trim(raw_canon),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&apos;', chr(39)), '&#39;', chr(39)), '&nbsp;', ' '),
          '&amp;', '&') AS canonical_url,
        lower(trim(raw_robots)) AS meta_robots,
        charset
      FROM ex
    )
    SELECT doc_id, title, meta_description, canonical_url, meta_robots,
      regexp_matches(meta_robots, '(^|[,\s])noindex($|[,\s])')
        AS noindex,
      regexp_matches(meta_robots, '(^|[,\s])nofollow($|[,\s])')
        AS nofollow,
      charset
    FROM un
    """


@query(
    "q182_html_meta",
    _META_SQL,
    primary=True,
)
def q182_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-metadata extraction (operators/html.py:html_meta, M173 —
    the in-page compliance half beside robots.txt: noindex exclusion,
    canonical dedup hints): entity-bearing titles, both charset
    declaration forms, meta description and robots directives in both
    attribute orders / quote styles / absent (incl. the 'noindexing'
    token trap that must NOT match noindex), canonical links in both
    attribute orders. Per-doc rows pin every field; the DuckDB twin
    rebuilds the pages and re-runs the identical patterns. New in r11
    (never-green: must be in the r11 window)."""
    from ..operators import html as H

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    page = F.concat(
        F.lit("<html><head><title>Doc &amp; "), (d % 9).cast("string"),
        F.lit("</title>"),
        F.when(d % 2 == 0, F.lit('<meta charset="utf-8">'))
        .otherwise(F.lit('<meta http-equiv="Content-Type" '
                         'content="text/html; charset=ISO-8859-1">')),
        F.when(d % 3 == 0,
               F.concat(F.lit("<meta content='d"),
                        (d % 7).cast("string"),
                        F.lit(" desc' name='description'>")))
        .when(d % 3 == 1,
              F.concat(F.lit('<meta name="description" '
                             'content="plain &quot;d'),
                       (d % 7).cast("string"), F.lit('&quot;">')))
        .otherwise(""),
        F.when(d % 5 == 0,
               F.lit('<meta name="robots" content="noindex">'))
        .when(d % 5 == 1,
              F.lit("<meta content='noindex, nofollow' "
                    "name='ROBOTS'>"))
        .when(d % 5 == 2,
              F.lit('<meta name="robots" content="index, follow">'))
        .when(d % 5 == 3,
              F.lit('<meta name="robots" '
                    'content="noindexing,nofollow">'))
        .otherwise(""),
        F.when(d % 4 == 0,
               F.concat(F.lit('<link rel="canonical" '
                              'href="https://c.com/p?a=1&amp;b='),
                        (d % 6).cast("string"), F.lit('">')))
        .when(d % 4 == 1,
              F.concat(F.lit('<link href="https://c.com/q/'),
                       (d % 6).cast("string"),
                       F.lit('" rel="canonical">')))
        .otherwise(""),
        F.lit("</head><body>x</body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    return H.html_meta(pages).drop("html")
