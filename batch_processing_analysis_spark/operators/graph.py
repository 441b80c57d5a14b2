"""Connected components over near-duplicate pair graphs.

Dedup at corpus scale needs *clusters*, not pairs: the near-dup
operators (operators/dedup.py) emit edges (id_a, id_b); a training-data
pipeline keeps one canonical document per connected component. The
reference has no graph operators (it is a process-mining pipeline), so
this is an M10 scale extension like the dedup family itself.

Algorithm: iterative min-label propagation with pointer jumping — the
standard Pregel-style CC (GraphX/GraphFrames do the same shape):

1. every node starts labeled with itself;
2. **propagate**: each node takes the min label over itself and its
   neighbors (one shuffle: edge-join + groupBy on node id);
3. **pointer-jump**: each node re-labels to its label's label
   (one self-join on label == id), halving label-chain depth;
4. repeat until no label changes.

Plain propagation needs O(diameter) supersteps; the pointer jump makes
the combined loop converge in O(log n) — near-dup components are
shallow (typical diameter 2-4), so 2-3 supersteps in practice.

Driver coordination: iterative fixpoints are the one place a driver
loop is the *correct* distributed shape (same as GraphX Pregel) — each
superstep is a fully distributed join/agg; the driver only evaluates a
scalar convergence count. Each iteration is eager-localCheckpointed so
lineage stays flat (without it, iteration k re-executes iterations
1..k-1 at every action — exponential re-analysis).

Scale notes (100 TB): state is one (id, comp) row per node — orders of
magnitude smaller than the corpus; every superstep is hash-partitioned
on node id. Skewed mega-components (one comp label on many rows) don't
skew the propagate step, which shuffles on *node* id, never on comp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import data_barrier, release


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every node, where component = min node id
    reachable through ``edges`` (undirected); isolated nodes map to
    themselves. ``nodes`` must contain ``id_col`` (other columns are
    ignored); ``edges`` rows are unordered pairs.

    Deterministic: the fixpoint of min-propagation is unique, so the
    result is independent of partitioning and iteration interleaving.
    """
    sym = data_barrier(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
        .unionByName(
            edges.select(F.col(dst_col).alias("_src"), F.col(src_col).alias("_dst"))
        )
        .distinct(),
        eager=True,
    )
    # Supersteps only carry nodes that touch an edge: near-dup graphs
    # are sparse (most of the corpus is isolated), so iterating over the
    # full node set would shuffle mostly-fixed self-labels every round.
    # Isolated nodes join back as their own component at the end.
    # Init folds the first propagation in for free: label(v) =
    # min(v, neighbors(v)) is one groupBy on the edge table — the same
    # shuffle a bare self-label init plus one round would have cost.
    labels = data_barrier(
        sym.groupBy("_src")
        .agg(F.min("_dst").alias("_mn"))
        .select(F.col("_src").alias("_id"),
                F.least("_src", "_mn").alias("_comp")),
        eager=True,
    )
    # Labels are non-increasing under both steps, so the label SUM is a
    # strictly decreasing progress measure: fixpoint ⟺ sum unchanged.
    # (A tiny agg per round instead of a join-and-count.)
    prev_sum = labels.agg(F.sum("_comp")).first()[0]

    for _ in range(max_iterations):
        # Propagate: min over own label and every neighbor's label.
        nbr = (
            sym.join(labels, sym["_dst"] == labels["_id"])
            .select(F.col("_src").alias("_id"), "_comp")
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("_id")
            .agg(F.min("_comp").alias("_comp"))
        )
        # Pointer jump: follow the label one hop (comp <- comp's comp).
        jump = labels.select(
            F.col("_id").alias("_jid"), F.col("_comp").alias("_jcomp")
        )
        # Lazy checkpoint + the convergence aggregate as the action:
        # materialization and the label-sum scan fuse into ONE job per
        # superstep (eager + separate agg ran two).
        new = data_barrier(
            new.join(jump, new["_comp"] == jump["_jid"], "left")
            .select("_id", F.coalesce("_jcomp", "_comp").alias("_comp"))
        )
        new_sum = new.agg(F.sum("_comp")).first()[0]
        # The new frame is materialized and lineage-free; the previous
        # superstep's label blocks can never be read again (r2 advice:
        # without this a K-round fixpoint retains K label-table copies).
        release(labels)
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum

    # The returned plan reads only the FINAL label table; the edge
    # table served the loop alone and its blocks can go now.
    release(sym)
    return (
        nodes.select(F.col(id_col)).distinct()
        .join(labels.withColumnRenamed("_id", id_col), id_col, "left")
        .select(id_col, F.coalesce("_comp", F.col(id_col)).alias("component"))
    )


def resolve_duplicates(docs: DataFrame, pairs: DataFrame | None = None,
                       id_col: str = "doc_id",
                       prefer_col: str | None = None,
                       src_col: str = "id_a",
                       dst_col: str = "id_b",
                       components: DataFrame | None = None) -> DataFrame:
    """Collapse near-duplicate PAIRS into a per-document verdict — the
    step every dedup family here feeds into: candidate pairs (MinHash /
    SimHash / n-gram / SRP / SemDeDup) → connected components → ONE
    canonical survivor per component.

    Returns ``(id_col, component, is_canonical)`` for EVERY document:
    isolated docs are their own (kept) component. The canonical choice
    is deterministic — max ``prefer_col`` (e.g. ``n_chars`` to keep the
    longest variant), ties and the default broken by min doc id — so
    re-runs and engines agree.

    ``keep = resolve_duplicates(...).filter("is_canonical = 1")`` is
    the semi-join keep-list shape ``prepare_corpus`` consumes.

    Scale (100 TB): component state is one row per doc; the canonical
    argmin is a partial-aggregatable ``min(struct)`` per component (no
    per-component window sort — a mega-component of boilerplate docs
    must not become one hot sorted partition).

    ``components`` (optional) supplies a precomputed ``(id, component)``
    frame — e.g. one shared fixpoint run serving several consumers —
    skipping the internal :func:`connected_components` call.
    """
    comp = (
        components
        if components is not None
        else connected_components(docs.select(id_col), pairs, id_col,
                                  src_col, dst_col)
    )
    if prefer_col is None:
        ranked = comp.select(
            id_col, "component",
            F.struct(F.col(id_col).alias("_i")).alias("_key"),
        )
    else:
        pref = docs.select(id_col, F.col(prefer_col).alias("_p"))
        ranked = comp.join(pref, id_col).select(
            id_col, "component",
            F.struct((-F.col("_p")).alias("_np"),
                     F.col(id_col).alias("_i")).alias("_key"),
        )
    best = ranked.groupBy("component").agg(F.min("_key").alias("_best"))
    return (
        ranked.join(best, "component")
        .select(
            F.col(id_col), F.col("component"),
            F.when(F.col("_key") == F.col("_best"), F.lit(1))
            .otherwise(F.lit(0)).alias("is_canonical"),
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping_pct: int = 85,
    n_iterations: int = 10,
    nodes: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """PageRank (Page et al. 1999) over a directed link graph —
    the graph-quality signal of web-corpus curation (link-authority
    weighting of crawl domains before sampling training data).

    Returns ``(id, rank_micros)``: rank in integer micros, total
    initial mass = 10⁶ per node. **All arithmetic is integer** —
    contribution = ``(damping_pct · rank) // (100 · out_degree)``
    (floor), new rank = ``(100 − damping_pct)·10⁴ + Σ contributions``
    — so cross-partition sums are order-independent and the result is
    bit-identical on any cluster layout (the float power iteration is
    not; see plans/registry.py determinism rules). Dangling-node mass
    is dropped, not redistributed (the pyspark PageRank example's
    simplification; ranks are relative weights here, not a strict
    probability distribution — documented contract).

    Fixed ``n_iterations`` (default 10), no float convergence test:
    deterministic output beats adaptive stopping for a data-pipeline
    signal. Each superstep is one edge-join + one groupBy on dst —
    hash-partitioned on node id, state one row per node; supersteps are
    localCheckpointed and the previous round's blocks released
    (operators/checkpoints.py), so K rounds hold ONE rank-table copy.
    """
    sym_nodes = (
        edges.select(F.col(src_col).alias("_id"))
        .unionByName(edges.select(F.col(dst_col).alias("_id")))
    )
    if nodes is not None:
        sym_nodes = sym_nodes.unionByName(
            nodes.select(F.col(id_col).alias("_id"))
        )
    node_ids = data_barrier(sym_nodes.distinct(), eager=True)

    deg = edges.groupBy(F.col(src_col).alias("_src")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    ed = data_barrier(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
        .join(deg, "_src"),
        eager=True,
    )

    base = F.lit((100 - damping_pct) * 10_000).cast("long")
    ranks = node_ids.select("_id", F.lit(1_000_000).cast("long").alias("_r"))
    for i in range(n_iterations):
        contrib = (
            ed.join(ranks, ed["_src"] == ranks["_id"])
            .select(
                F.col("_dst").alias("_id"),
                F.floor(F.lit(damping_pct) * F.col("_r")
                        / (F.lit(100) * F.col("_deg"))).alias("_c"),
            )
            .groupBy("_id")
            .agg(F.sum("_c").alias("_in"))
        )
        new = (
            node_ids.join(contrib, "_id", "left")
            .select("_id",
                    (base + F.coalesce("_in", F.lit(0))).alias("_r"))
        )
        new = data_barrier(new, eager=True)
        if i:  # round 0 read the unstaged seed ranks
            release(ranks)
        ranks = new

    release(node_ids, ed)
    return ranks.select(F.col("_id").alias(id_col),
                        F.col("_r").alias("rank_micros"))


def dup_cluster_sizes(components: DataFrame,
                      comp_col: str = "component") -> DataFrame:
    """Duplicate-cluster size histogram (M108): from a components
    labeling (:func:`connected_components` / the resolve_duplicates
    edge set) report ``(cluster_size, n_clusters, n_docs)`` — the
    corpus-health distribution behind every dedup report ("how much
    mass sits in giant clusters"; the cluster-size tail drives both
    the dedup savings estimate and the skew risk of any
    cluster-keyed stage).

    Scale: two partial-aggregatable counts (per component, then per
    size); output is ≤ max-cluster-size rows.
    """
    sizes = components.groupBy(comp_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
