"""Embedding similarity search (M10 scale extensions).

Operators over an ``embeddings(vec_id, embedding array<float>, label)``
table:

- **cosine brute-force top-k**: the exactness baseline. Query set ×
  corpus cross join with the dot product evaluated by JVM higher-order
  functions (``zip_with`` + ``aggregate``) — no Python in the hot path.
- **IVF (inverted-file) top-k**: the scale path. Corpus vectors are
  assigned to their nearest centroid once (a broadcast join — the
  centroid table is tiny); each query probes only its ``nprobe``
  nearest centroids' buckets, turning O(|Q|·N) into
  O(|Q|·N·nprobe/C). Centroid selection here is a deterministic
  subsample (every ``stride``-th vector) so results are reproducible
  and oracle-checkable; swapping in k-means centroids changes recall,
  not the plan shape.
- **embedding near-dup pairs, exact**: all pairs above a cosine
  threshold via an O(n²) self-join — the SMALL-CORPUS baseline and
  oracle twin only; never run this at corpus scale.
- **embedding near-dup pairs, hyperplane LSH (SRP)**: the scale path.
  Sign-of-dot-product against P seeded random hyperplanes (Charikar
  2002 signed random projections) gives a P-bit signature whose bit
  agreement estimates 1 − θ/π; banding the signature (reusing the
  SimHash band/bucket/skew-guard machinery from ``dedup.py``) yields
  candidate pairs from bucket joins — O(Σ bucket²), never n² — which
  are then verified with EXACT cosine. Hyperplane components are
  md5-derived doubles generated once at plan-build time and embedded
  as literals in both engines, so signatures are bit-reproducible.

Arithmetic notes: float inputs are cast to double BEFORE any multiply,
and sums run sequentially in array order (``F.aggregate``) — bitwise
identical to the DuckDB oracle's ``list_reduce`` over ``::DOUBLE[]``,
so rounded values hash-match across engines.

Scale (100 TB): the corpus side stays partitioned; only queries and
centroids broadcast. At 10⁹ vectors the IVF bucket assignment is a
narrow map (broadcast centroids), and the probe join shuffles queries
(small) to bucket partitions (large) — never the reverse.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from .checkpoints import data_barrier

# SRP quantization scale: components/weights become floor(x·Q + 0.5) as
# int64, making hyperplane dot products exact integer sums (see
# srp_signatures). 2^20 keeps |dot| < 2^53 even for |x| ≤ 100, dim 64.
SRP_Q = 1 << 20


def _dot(a: Column, b: Column) -> Column:
    # zip_with null-pads the SHORTER array; coalescing each side to 0
    # makes a ragged dot product truncate to the overlapping length
    # (null-padded products would null the whole sum). Identical for
    # equal-length arrays — the oracle-verified hot paths.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.coalesce(x, F.lit(0.0))
                   * F.coalesce(y, F.lit(0.0))),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                              lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """cos(a, b) with order-stable double arithmetic."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Plan: broadcast(queries) × corpus → per-query window top-k. The
    window partitions by query id, so ranking never shuffles the corpus
    twice; ties break on neighbor id for determinism.
    """
    corpus = _as_double(corpus, vec_col)
    queries = _as_double(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def quantize_embeddings(corpus: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization (the standard
    scalar-quantized ANN storage layout, e.g. FAISS ``SQ8``):
    ``scale = max|v| / 127``, ``q_i = round(v_i / scale)`` ∈ [−127,127].

    Returns ``(id_col, qvec array<bigint>, scale double)`` — 4-8×
    smaller at rest than float vectors (stored as int8 in a real sink;
    bigint here keeps downstream integer dot products overflow-free in
    one type). Zero vectors quantize to all-0 with ``scale = 0``.

    Determinism: only IEEE-correctly-rounded ops (`*`, `/`, `floor`),
    so any SQL oracle reproduces the codes bit-for-bit — no float
    accumulation anywhere.
    """
    corpus = _as_double(corpus, vec_col)
    v = F.col(vec_col)
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(
        m > 0,
        F.transform(
            v, lambda x: F.floor(x * F.lit(127.0) / m + F.lit(0.5)).cast("long")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    scale = F.when(m > 0, m / F.lit(127.0)).otherwise(F.lit(0.0))
    return corpus.select(F.col(id_col), q.alias("qvec"), scale.alias("scale"))


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors over int8-quantized vectors — the memory
    path of a scalar-quantized ANN index: integer dot products (exact,
    order-free) with per-vector norms from the quantized codes.

    Same schema and conventions as :func:`brute_force_topk`
    (self-matches excluded, ties → neighbor id); ``sim`` is the
    quantized cosine, which approximates the float cosine to ~1e-3 at
    8 bits (recall measured in tests/test_similarity_srp.py).

    Scale: queries broadcast; the corpus is scanned once with 4-8×
    less memory traffic than the float path. Composes with
    :func:`ivf_topk`'s bucket probing unchanged (quantize after
    assignment).
    """
    qc = quantize_embeddings(corpus, id_col, vec_col)
    qq = quantize_embeddings(queries, id_col, vec_col)

    def ss(col: Column) -> Column:
        return F.aggregate(
            F.transform(col, lambda x: x * x),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        )

    q = qq.select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("_qa"),
        ss(F.col("qvec")).alias("_ssa"),
    )
    c = qc.select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("_ca"),
        ss(F.col("qvec")).alias("_ssb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qa"), F.col("_ca"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.when(
                (F.col("_ssa") > 0) & (F.col("_ssb") > 0),
                dot / (F.sqrt(F.col("_ssa")) * F.sqrt(F.col("_ssb"))),
            ).otherwise(F.lit(0.0)).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               cent_id: str = "centroid_id",
               strategy: str = "hof") -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    ties → min centroid id). Centroids broadcast; one narrow pass.

    ``strategy="hof"`` (default) scores candidates with JVM
    higher-order-function folds — the oracle-checkable determinism
    witness (the DuckDB twin sums the same doubles in the same order).
    ``strategy="matmul"`` is the scale path (the SRP precedent): one
    float64 numpy matmul per Arrow batch against the broadcast
    unit-normalized centroid matrix — N·K FLOPs with a BLAS constant
    instead of N·K array folds, zero shuffle. Caveat: matmul
    summation order differs at the ulp level, so an EXACT cosine tie
    between distinct centroids could in principle resolve differently;
    equality on real data is asserted in tests/test_similarity_srp.py
    and the hof path remains the oracle twin.

    Two scale properties of this pass, both load-bearing at K ∝ N
    (stride centroids):

    - the argmax is a partial-aggregatable ``min(struct(-cos, id))``
      per vector, NOT a row_number window: the broadcast join explodes
      N·K candidate rows, and a window would shuffle and sort all of
      them, while the struct-min combines map-side so the exchange
      carries one row per VECTOR regardless of K. The struct holds
      PRIMITIVES only — the vector rides back via an equi-join on the
      id afterwards; carrying the array inside the aggregation buffer
      forced an object-based (non-Tungsten) aggregate whose repeated
      runs measured 18 → 44 → 66 s on the 10× blow-up (heap churn),
      vs a stable ~6 s for the primitive form. (A zero-norm side is
      ``try_divide``-coalesced to +inf so the candidate LOSES — under
      ANSI mode a plain division would raise, and the old desc-window
      ranked the NaN first, i.e. a degenerate centroid would capture
      every vector. A zero-norm VECTOR ties all candidates at +inf and
      resolves to the min centroid id, same as the matmul path.)
    - norms are hoisted OUT of the N·K candidate rows: ``cosine()``
      would re-aggregate norm(v) for each of the K candidates (and
      norm(c) for each of the N), so each candidate row ran three
      array folds instead of one dot product. The hoisted norms are
      the same double VALUES, so every cosine — and the oracle hash —
      is bit-identical. Measured 20 → 10 s on the 10×-embeddings
      assignment stage.
    """
    if strategy == "matmul":
        return _ivf_assign_matmul(corpus, centroids, id_col, vec_col,
                                  cent_id)
    if strategy != "hof":
        raise ValueError(f"unknown ivf_assign strategy: {strategy!r}")
    c = centroids.select(
        F.col(cent_id), F.col(vec_col).alias("_centv"),
        _norm(F.col(vec_col)).alias("_cnorm"),
    )
    vn = corpus.withColumn("_vnorm", _norm(F.col(vec_col)))
    cand = vn.join(F.broadcast(c)).select(
        F.col(id_col),
        F.struct(
            F.coalesce(
                F.try_divide(
                    -_dot(F.col(vec_col), F.col("_centv")),
                    F.col("_vnorm") * F.col("_cnorm"),
                ),
                F.lit(float("inf")),
            ).alias("_ncs"),
            F.col(cent_id).alias("_cid"),
        ).alias("_cand"),
    )
    best = cand.groupBy(id_col).agg(F.min("_cand").alias("_b"))
    return corpus.select(id_col, vec_col).join(best, id_col).select(
        id_col, vec_col, F.col("_b._cid").alias(cent_id)
    )


def _ivf_assign_matmul(corpus: DataFrame, centroids: DataFrame,
                       id_col: str, vec_col: str,
                       cent_id: str) -> DataFrame:
    """Arrow-batched nearest-centroid kernel: the centroid table is
    collected once (K·dim doubles — ~50 MB even at SemDeDup's LAION
    K=100k/dim=64, broadcast-sized by construction), unit-normalized
    on the driver, and each Arrow batch of vectors runs ONE float64
    matmul X_unit @ C_unit.T followed by an argmax. Ties and
    zero-norm vectors both resolve to the MIN centroid id (np.argmax
    returns the first maximum and rows are sorted by id), matching the
    hof path's min-struct tie-break. Degenerate CENTROIDS (zero-norm
    or any non-finite component) are masked to −inf before the argmax
    so they can never capture a vector — mirroring the hof path, where
    their NaN cosine loses every comparison (ADVICE r4: np.argmax
    treats NaN as the maximum, and a raw 0 score would beat all-
    negative real cosines). If EVERY centroid is degenerate the argmax
    falls back to the min centroid id, again like the hof tie-break.
    Ragged batches group by vector length, as in the SRP kernel.
    """
    rows = sorted(
        (r[0], r[1]) for r in centroids.select(cent_id, vec_col).collect()
    )
    if not rows:
        raise ValueError("ivf_assign: empty centroid table")
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    dim = max(len(r[1] or []) for r in rows)
    C = np.zeros((len(rows), dim), dtype=np.float64)
    for i, (_, v) in enumerate(rows):
        if v:
            C[i, : len(v)] = np.asarray(v, dtype=np.float64)
    finite_rows = np.isfinite(C).all(axis=1)
    C[~finite_rows] = 0.0  # keep the matmul NaN-free
    norms = np.linalg.norm(C, axis=1)
    ok = finite_rows & (norms > 0)  # degenerate centroids masked below
    C[ok] = C[ok] / norms[ok, None]

    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        T.StructField(cent_id, T.LongType()),
    ])

    def _assign(batches):
        for pdf in batches:
            vs = pdf[vec_col]
            best = np.zeros(len(vs), dtype=np.int64)
            lengths = vs.map(lambda v: 0 if v is None else len(v)).to_numpy()
            for ln in np.unique(lengths):
                idx = np.nonzero(lengths == ln)[0]
                if ln == 0:
                    best[idx] = cids[0]  # all scores 0 -> min cid
                    continue
                X = np.stack(vs.iloc[idx].to_numpy()).astype(np.float64)
                xn = np.linalg.norm(X, axis=1)  # full-length norm, like hof
                xnz = xn > 0
                X[xnz] = X[xnz] / xn[xnz, None]
                # Ragged dot truncates to the overlapping length on BOTH
                # sides (a vector LONGER than the centroid dim sliced the
                # centroids only and crashed the matmul before).
                if ln < dim:
                    scores = X @ C[:, :ln].T
                elif ln > dim:
                    scores = X[:, :dim] @ C.T
                else:
                    scores = X @ C.T
                # degenerate centroids and NaN scores (non-finite
                # vector components) lose every comparison, as in the
                # hof path; all-(-inf) rows argmax to 0 → min cid
                scores[:, ~ok] = -np.inf
                scores = np.where(np.isnan(scores), -np.inf, scores)
                best[idx] = cids[np.argmax(scores, axis=1)]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                vec_col: vs,
                cent_id: best,
            })

    return (
        _as_double(corpus, vec_col)
        .select(id_col, vec_col)
        .mapInPandas(_assign, out_schema)
    )


def kmeans_centroids(corpus: DataFrame, n_clusters: int, seed: int = 42,
                     max_iter: int = 20, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Seeded k-means|| centroids (pyspark.ml) as an IVF centroid table
    (centroid_id, vec). Recall-stronger than the deterministic-stride
    subsample on clustered data (the stride picks arbitrary points; the
    fit picks density modes) at the cost of one training job. Same
    plan shape downstream — only the centroid TABLE changes.

    Seeded ⇒ reproducible on a fixed layout, but float reduction order
    can vary across cluster topologies — so this feeds the recall-
    graded path, while the stride variant stays the oracle-checkable
    default (q46).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = _as_double(corpus, vec_col).select(
        array_to_vector(F.col(vec_col)).alias("features")
    )
    model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter).fit(vecs)
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        f"centroid_id long, {vec_col} array<double>",
    )
    return cents


def _resolve_centroids(corpus: DataFrame, centroids: DataFrame | None,
                       stride: int, id_col: str,
                       vec_col: str) -> DataFrame:
    """Shared centroid-table default (the q46 convention): every
    ``stride``-th corpus vector when no table is supplied; otherwise
    normalize the caller's (centroid_id, vec) to double arrays."""
    if centroids is None:
        return corpus.filter(F.col(id_col) % stride == 0).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col))
    return _as_double(centroids, vec_col).select(
        "centroid_id", F.col(vec_col))


def _probe_topn(qc: DataFrame, nprobe: int, keep: list) -> DataFrame:
    """Per-query nprobe nearest centroids from scored (query_id,
    centroid_id, _cs, ...) rows — the probe-selection stage shared by
    the IVF, IVF-PQ, and residual-IVFADC paths (deterministic
    centroid_id tiebreak)."""
    wq = W.partitionBy("query_id").orderBy(F.desc("_cs"),
                                           F.asc("centroid_id"))
    return (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(*keep)
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             stride: int = 50, nprobe: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k: centroid table → bucket assignment →
    probe the ``nprobe`` nearest buckets per query → exact cosine
    within probed buckets → top-k.

    ``centroids=None`` takes every ``stride``-th corpus vector —
    deterministic, engine-portable, the oracle-checked default (q46).
    Pass :func:`kmeans_centroids` output for the recall-stronger
    trained variant; the plan shape is identical either way.

    Same output schema as :func:`brute_force_topk`; recall < 1 by
    construction (that is the accuracy/cost dial).
    """
    corpus = _as_double(corpus, vec_col)
    queries = _as_double(queries, vec_col)
    centroids = _resolve_centroids(corpus, centroids, stride, id_col,
                                   vec_col)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    return _ivf_probe(assigned, centroids, queries, k, nprobe, id_col,
                      vec_col)


def _ivf_probe(assigned: DataFrame, centroids: DataFrame,
               queries: DataFrame, k: int, nprobe: int, id_col: str,
               vec_col: str) -> DataFrame:
    """Probe stage shared by :func:`ivf_topk` (inline assignment) and
    :func:`ivf_topk_from_index` (published assignment): per query the
    ``nprobe`` nearest centroids, exact cosine within probed buckets,
    top-k. ``assigned`` carries (id, vec, centroid_id)."""
    # per query: nprobe nearest centroids
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    qc = q.join(F.broadcast(centroids.withColumnRenamed(vec_col, "_centv"))).select(
        "query_id", "_qv", "centroid_id",
        cosine(F.col("_qv"), F.col("_centv")).alias("_cs"),
    )
    probes = _probe_topn(qc, nprobe, ["query_id", "_qv", "centroid_id"])

    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("_qv"), F.col(vec_col)).alias("sim"),
        )
        # a vector can reach a query through one bucket only (unique
        # assignment), so no distinct needed before ranking
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def publish_ivf_index(spark, corpus: DataFrame, table_prefix: str,
                      stride: int = 50,
                      centroids: DataFrame | None = None,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      num_buckets: int = 16,
                      path_root: str | None = None) -> None:
    """Persist the IVF index state (M150 — VERDICT r7 stretch 8) so
    repeated top-k probes skip the assignment pass entirely: the
    N·K nearest-centroid scoring — the dominant cost of
    :func:`ivf_topk`, paid per CALL there — runs once at publish time,
    the M131/M146 pattern applied to ANN. Two tables:

    - ``{prefix}_centroids`` (centroid_id, vec): the (broadcast-sized)
      centroid table, exactly as the inline path would derive it —
      every ``stride``-th corpus vector, or a caller-supplied table
      (e.g. :func:`kmeans_centroids`).
    - ``{prefix}_assigned`` (id, vec, centroid_id) BUCKETED by
      ``centroid_id``: the full assignment. Probe joins broadcast the
      tiny probe list, so bucketing is not about the probe Exchange —
      it pre-clusters each inverted list's rows so bucket-local scans
      and any centroid-keyed aggregation (bucket-size maintenance,
      re-balance audits) plan exchange-free.

    Probes against the published index return BIT-IDENTICAL rows to
    the inline operator with the same centroids (pinned by
    tests/test_similarity_srp.py) — publishing moves work, never
    answers.
    """
    from ..sources.bucketed import write_bucketed

    corpus = _as_double(corpus, vec_col)
    centroids = _resolve_centroids(corpus, centroids, stride, id_col,
                                   vec_col)
    cent_name = f"{table_prefix}_centroids"
    w = centroids.write.mode("overwrite").format("parquet")
    if path_root:
        w = w.option("path", f"{path_root}/{cent_name}")
    w.saveAsTable(cent_name)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    write_bucketed(
        assigned, f"{table_prefix}_assigned", "centroid_id",
        num_buckets,
        path=(f"{path_root}/{table_prefix}_assigned" if path_root
              else None))


def ivf_topk_from_index(spark, queries: DataFrame, table_prefix: str,
                        k: int = 5, nprobe: int = 3,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """IVF top-k against a :func:`publish_ivf_index` index: identical
    output to :func:`ivf_topk` with the same centroids, but the plan
    contains NO assignment stage — the corpus side is one scan of the
    published inverted lists (relative plan assertion in
    tests/test_similarity_srp.py). This is the repeated-probe shape a
    serving/eval loop runs: publish once per corpus refresh, probe per
    query batch."""
    from ..sources.bucketed import load_bucketed

    centroids = spark.table(f"{table_prefix}_centroids")
    assigned = load_bucketed(spark, f"{table_prefix}_assigned")
    return _ivf_probe(assigned, centroids, _as_double(queries, vec_col),
                      k, nprobe, id_col, vec_col)


def hyperplanes(num_bits: int, dim: int, seed: str = "srp") -> list[list[float]]:
    """``num_bits`` hyperplane normals in R^dim with md5-derived
    components uniform in [-1, 1) — deterministic, engine-independent
    (the same literals are embedded in the Spark plan and the DuckDB
    oracle SQL). Uniform-cube normals are isotropic enough for SRP;
    what matters for LSH quality is independence across planes, which
    the per-(plane, dim) hash gives."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}_{p}_{d}".encode()).hexdigest()[:15], 16)
            / float(1 << 60) * 2.0 - 1.0
            for d in range(dim)
        ]
        for p in range(num_bits)
    ]


def _quantized_planes(num_bits: int, dim: int, seed: str) -> list[list[int]]:
    """Plane weights through floor(w·Q + 0.5) as int64 — the shared
    quantization of both signature strategies and the DuckDB oracle."""
    return [
        [int(math.floor(w * SRP_Q + 0.5)) for w in plane]
        for plane in hyperplanes(num_bits, dim, seed)
    ]


def srp_signatures(corpus: DataFrame, num_bits: int = 32, dim: int = 64,
                   seed: str = "srp", id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   strategy: str = "matmul") -> DataFrame:
    """P-bit signed-random-projection signature per vector: bit p is 1
    iff dot(v, plane_p) > 0 (ties → 0). P(bit match) = 1 − θ/π for
    angle θ, so Hamming distance estimates angular distance.

    Quantized-integer projections make the two strategies AND the
    DuckDB oracle agree bit-for-bit: vector components and plane
    weights both map through floor(x·Q + 0.5) to int64, so every dot
    product is an EXACT integer sum — independent of summation order
    (|x·Q| ≤ 2²⁰ ⇒ products ≤ 2⁴⁰, dim-64 sums ≤ 2⁴⁶ — no overflow).
    Quantization error 2⁻²⁰ per component only perturbs which side of
    a hyperplane near-orthogonal vectors fall on — an LSH recall
    epsilon, not a correctness concern (verification recomputes exact
    cosine on candidates).

    ``strategy="matmul"`` (default, the scale path): one Arrow-batched
    pandas UDF computing an int64 numpy matmul per ~10k-row batch —
    a narrow per-row map, zero shuffles, no intermediate blow-up.
    ``strategy="relational"`` (the oracle twin): posexplode +
    broadcast plane join + partial-aggregated sum — pure codegen and
    SQL-transcribable, but materializes N·dim·P intermediate rows
    (the r2 bench's single most expensive stage); kept as the
    cross-engine determinism witness and equality-tested against
    matmul in tests/test_similarity_srp.py.

    Rows with an empty/zero-length vector get signature 0 in BOTH
    strategies (every dot product is an empty sum = 0, no bit set).
    ``dim`` must be ≥ the vector length (components beyond it are
    simply never read)."""
    corpus = _as_double(corpus, vec_col)
    planes_q = _quantized_planes(num_bits, dim, seed)
    if strategy == "matmul":
        sig_col = _srp_sig_matmul_udf(planes_q)(F.col(vec_col))
        return corpus.select(F.col(id_col), F.col(vec_col),
                             sig_col.alias("srp_sig"))
    if strategy != "relational":
        raise ValueError(f"unknown srp strategy: {strategy!r}")

    spark = corpus.sparkSession
    # Planes are DATA (a 2 048-row broadcast), not code: P giant fold
    # expressions cost ~15 s of Catalyst analysis per query build at
    # P=32/dim=64 (the literal-tree trap).
    planes = spark.createDataFrame(
        [
            (p, i, wq)
            for p, plane in enumerate(planes_q)
            for i, wq in enumerate(plane)
        ],
        "p int, i int, wq long",
    )
    qv = corpus.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
    ).select(
        id_col, "i",
        F.floor(F.col("x") * F.lit(float(SRP_Q)) + F.lit(0.5))
        .cast("long").alias("xq"),
    )
    sig = (
        qv.join(F.broadcast(planes), "i")
        .groupBy(id_col, "p")
        .agg(F.sum(F.col("xq") * F.col("wq")).alias("dq"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("dq") > 0,
                       # 2^p via pow (exact in doubles for p < 53)
                       F.pow(F.lit(2.0), F.col("p")).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("srp_sig")
        )
    )
    # Left join + coalesce: posexplode yields no rows for empty vectors,
    # but they are still documents — they keep signature 0 (r2 advice:
    # the old inner join silently dropped them).
    return corpus.join(sig, id_col, "left").select(
        id_col, vec_col,
        F.coalesce("srp_sig", F.lit(0).cast("long")).alias("srp_sig"),
    )


def _srp_sig_matmul_udf(planes_q: list[list[int]]):
    """Arrow-batched signature kernel: quantize the batch, one int64
    matmul against the (P × dim) plane matrix, pack sign bits.

    Exact integer arithmetic (see srp_signatures) ⇒ bit-identical to
    the relational path and the DuckDB oracle regardless of batching.
    Ragged batches (vectors of different lengths, incl. empty) are
    grouped by length so each group is one dense matmul.
    """
    wq = np.array(planes_q, dtype=np.int64)  # P × dim
    powers = (np.int64(1) << np.arange(wq.shape[0], dtype=np.int64))

    @F.pandas_udf("long")
    def _sig(vs: pd.Series) -> pd.Series:
        out = np.zeros(len(vs), dtype=np.int64)
        lengths = vs.map(lambda v: 0 if v is None else len(v)).to_numpy()
        for ln in np.unique(lengths):
            idx = np.nonzero(lengths == ln)[0]
            if ln == 0:
                continue  # empty vector: all dots are empty sums -> 0
            x = np.stack(vs.iloc[idx].to_numpy())  # n × ln, float64
            xq = np.floor(x * SRP_Q + 0.5).astype(np.int64)
            dots = xq @ wq[:, :ln].T  # n × P, exact int64
            out[idx] = ((dots > 0) * powers).sum(axis=1)
        return pd.Series(out)

    return _sig


def srp_neardup_pairs(corpus: DataFrame, threshold: float,
                      num_bits: int = 32, band_bits: int = 8,
                      max_bucket: int = 1000, dim: int = 64,
                      seed: str = "srp", id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      strategy: str = "matmul") -> DataFrame:
    """Near-dup pairs (exact cosine ≥ threshold) with SRP-LSH candidate
    generation — the scale-safe replacement for :func:`neardup_pairs`.

    Pipeline: signatures → band explode (``num_bits/band_bits`` bands)
    → bucket self-join on (band, band-key) with the ``max_bucket`` skew
    guard → exact-cosine verify on candidates only. The plan contains
    NO cross join: the candidate join is a hash equi-join, and recall
    is the banding curve 1 − (1 − (1 − θ/π)^band_bits)^n_bands
    (≈0.95+ for sim ≥ 0.8 at 32/8; raise num_bits and band_bits
    together at corpus scale so buckets stay small)."""
    # One signature pass, reused by BOTH band sides of the bucket
    # self-join: checkpoint only the narrow (id, srp_sig) projection —
    # the q44 plan previously carried TWO ArrowEvalPython nodes (the
    # signature kernel ran once per join side;
    # plans/r11/q44_*_before.txt). Checkpointing the vectors too was
    # measured SLOWER (4.2 s vs 3.6 s at sf0.1: array serialization
    # into the block manager outweighs a column-pruned rescan), so the
    # verify sides keep reading the corpus directly.
    sigs = (
        srp_signatures(corpus, num_bits, dim, seed, id_col, vec_col,
                       strategy=strategy)
        .select(F.col(id_col), F.col("srp_sig"))
        .localCheckpoint(eager=False)
    )
    n_bands = num_bits // band_bits
    mask = (1 << band_bits) - 1
    band_structs = [
        F.struct(
            F.lit(k).alias("band"),
            F.shiftright(F.col("srp_sig"), k * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("bkey"),
        )
        for k in range(n_bands)
    ]
    bands = (
        sigs.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("_bb"))
        .select(id_col, F.col("_bb.band").alias("band"), F.col("_bb.bkey").alias("bkey"))
    )
    pop = W.partitionBy("band", "bkey")
    bands = bands.withColumn("_n", F.count(F.lit(1)).over(pop)).filter(
        F.col("_n") <= max_bucket
    ).drop("_n")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # Norms are hoisted into the per-vector projections: inlining
    # cosine() would re-fold norm(_va)/norm(_vb) for every CANDIDATE
    # PAIR (3 array folds per pair instead of 1; the same hoist cut
    # the q74 pair stage 12.9 → 8.1 s at 10× — here the candidate
    # join+distinct dominates, but the fold saving grows with dim).
    # Same double values, so the oracle hash is unchanged.
    vecs = _as_double(corpus, vec_col)
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
                     _norm(F.col(vec_col)).alias("_na"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
                     _norm(F.col(vec_col)).alias("_nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            (_dot(F.col("_va"), F.col("_vb"))
             / (F.col("_na") * F.col("_nb"))).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def neardup_pairs(corpus: DataFrame, threshold: float,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All vector pairs with cosine ≥ threshold (exact, id_a < id_b).

    O(n²) self-join — small-corpus baseline / oracle twin ONLY. The
    registered query path is :func:`srp_neardup_pairs`."""
    corpus = _as_double(corpus, vec_col)
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def semantic_dedup_pairs(corpus: DataFrame, threshold: float = 0.9,
                         stride: int = 50, max_cluster: int = 1000,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         centroids: DataFrame | None = None,
                         assign_strategy: str = "hof") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication" — public method):
    cluster the embedding space, then compare ONLY within-cluster pairs
    and emit those with cosine ≥ ``threshold``. Catches paraphrases and
    near-translations that lexical dedup (MinHash/SimHash) misses.

    ``centroids=None`` uses the deterministic stride subsample (the
    engine-portable, oracle-checked default, as in :func:`ivf_topk`);
    pass :func:`kmeans_centroids` output for the recall-stronger
    trained variant — identical plan shape either way.

    Returns ``(id_a, id_b, sim)`` with ``id_a < id_b``; ``sim`` is the
    exact cosine rounded to 6 dp, and the threshold is applied to the
    ROUNDED value so the cut is engine-portable at the boundary.

    Scale (100 TB): all-pairs work is O(Σ cluster²), not O(n²) —
    the centroid count is the dial (SemDeDup used ~100k clusters for
    LAION-scale). Clusters whose population exceeds ``max_cluster``
    are dropped before the self-join (the same skew guard as every LSH
    family here, mirrored in the oracle): one degenerate cluster must
    not produce a quadratic pair blow-up. Centroids broadcast;
    the only wide exchange is the equi-join on ``centroid_id``.
    """
    corpus = _as_double(corpus, vec_col)
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) % stride == 0).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col)
        )
    else:
        centroids = _as_double(centroids, vec_col).select(
            "centroid_id", F.col(vec_col)
        )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col,
                          strategy=assign_strategy)
    ok = (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_cluster)
        .select("centroid_id")
    )
    guarded = assigned.join(ok, "centroid_id")
    # Norms hoisted per SIDE so each within-cluster pair folds only the
    # dot product (the srp_neardup_pairs verify-stage lesson; same
    # double values, oracle-hash-identical).
    a = guarded.select(
        "centroid_id", F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"), _norm(F.col(vec_col)).alias("_na"),
    )
    b = guarded.select(
        "centroid_id", F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"), _norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semantic_increment_pairs(base: DataFrame, delta: DataFrame,
                             threshold: float = 0.9, stride: int = 50,
                             max_cluster: int = 1000,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             centroids: DataFrame | None = None) -> DataFrame:
    """SemDeDup pairs INTRODUCED by a delta batch: every within-cluster
    pair with cosine ≥ ``threshold`` and at least one side in
    ``delta`` — the embedding-space twin of
    operators/incremental.lsh_increment_pairs, for periodically
    refreshed corpora where re-running the base×base comparison per
    ingest is the quadratic trap.

    The centroid table must be FIXED across ingests (stride over the
    base, or a trained table passed in) — re-fitting centroids per
    delta would silently reassign base vectors and change which pairs
    are comparable. Identity (tests/test_similarity_srp.py): with the
    cluster-size guard evaluated over base ∪ delta, this equals
    ``semantic_dedup_pairs(base ∪ delta)`` minus its base-internal
    pairs. Ids must be globally unique across base and delta.

    Scale: base contributes its (id, centroid, vec) assignment — at
    production scale a stored table, not a re-scan; the join is
    delta-assignments ⋈ union-assignments on ``centroid_id``.
    """
    base = _as_double(base, vec_col)
    delta = _as_double(delta, vec_col)
    if centroids is None:
        centroids = base.filter(F.col(id_col) % stride == 0).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col)
        )
    else:
        centroids = _as_double(centroids, vec_col).select(
            "centroid_id", F.col(vec_col)
        )
    ab = ivf_assign(base, centroids, id_col, vec_col)
    ad = ivf_assign(delta, centroids, id_col, vec_col)
    alla = ab.unionByName(ad)
    ok = (
        alla.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_cluster)
        .select("centroid_id")
    )
    d = ad.join(ok, "centroid_id").select(
        "centroid_id", F.col(id_col).alias("_di"), F.col(vec_col).alias("_dv")
    )
    u = alla.join(ok, "centroid_id").select(
        "centroid_id", F.col(id_col).alias("_ui"), F.col(vec_col).alias("_uv")
    )
    return (
        d.join(u, "centroid_id")
        .filter(F.col("_di") != F.col("_ui"))
        .select(
            F.least("_di", "_ui").alias("id_a"),
            F.greatest("_di", "_ui").alias("id_b"),
            F.round(cosine(F.col("_dv"), F.col("_uv")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def project_embeddings(corpus: DataFrame, out_dim: int = 8, dim: int = 64,
                       seed: str = "jl", id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       strategy: str = "matmul") -> DataFrame:
    """Johnson-Lindenstrauss random projection (M79): reduce
    ``dim``-wide embeddings to ``out_dim`` integer components —
    the standard pre-ANN shrink (project once, then run IVF/LSH over
    vectors an order of magnitude narrower; JL: pairwise distances
    survive within ε for out_dim = O(ln n / ε²)).

    Same exact-integer contract as srp_signatures: components and the
    seeded plane weights both quantize through floor(x·Q + 0.5), so
    each projected component is an EXACT int64 dot product —
    engine/order/batching independent (components scale by Q² ≈ 2⁴⁰;
    downstream cosine is scale-invariant). ``strategy="matmul"`` is
    the scale path (one Arrow-batched int64 matmul per ~10k rows,
    zero shuffles); ``"relational"`` is the SQL-transcribable oracle
    twin, equality-tested in tests/test_similarity_srp.py. Empty
    vectors project to the zero vector in both.
    """
    corpus = _as_double(corpus, vec_col)
    planes_q = _quantized_planes(out_dim, dim, seed)
    if strategy == "matmul":
        wq = np.array(planes_q, dtype=np.int64)  # out_dim × dim

        @F.pandas_udf("array<long>")
        def _proj(vs: pd.Series) -> pd.Series:
            out = [None] * len(vs)
            lengths = vs.map(lambda v: 0 if v is None else len(v)).to_numpy()
            zero = [0] * wq.shape[0]
            for ln in np.unique(lengths):
                idx = np.nonzero(lengths == ln)[0]
                if ln == 0:
                    for j in idx:
                        out[j] = list(zero)
                    continue
                x = np.stack(vs.iloc[idx].to_numpy())
                xq = np.floor(x * SRP_Q + 0.5).astype(np.int64)
                dots = xq @ wq[:, :ln].T  # n × out_dim, exact int64
                for j, row in zip(idx, dots):
                    out[j] = [int(v) for v in row]
            return pd.Series(out)

        return corpus.select(F.col(id_col), F.col(vec_col),
                             _proj(F.col(vec_col)).alias("proj_q"))
    if strategy != "relational":
        raise ValueError(f"unknown projection strategy: {strategy!r}")

    spark = corpus.sparkSession
    planes = spark.createDataFrame(
        [(p, i, wq_) for p, plane in enumerate(planes_q)
         for i, wq_ in enumerate(plane)],
        "p int, i int, wq long",
    )
    qv = corpus.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
    ).select(
        id_col, "i",
        F.floor(F.col("x") * F.lit(float(SRP_Q)) + F.lit(0.5))
        .cast("long").alias("xq"),
    )
    proj = (
        qv.join(F.broadcast(planes), "i")
        .groupBy(id_col, "p")
        .agg(F.sum(F.col("xq") * F.col("wq")).alias("dq"))
        .groupBy(id_col)
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("p", "dq"))),
            lambda s: s["dq"],
        ).alias("proj_q"))
    )
    zeros = F.array(*[F.lit(0).cast("long") for _ in range(out_dim)])
    return corpus.join(proj, id_col, "left").select(
        id_col, vec_col, F.coalesce("proj_q", zeros).alias("proj_q")
    )


def embedding_outliers(corpus: DataFrame, k: int = 20,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Per-group embedding outlier detection (M90): each vector's
    Euclidean distance to its group centroid, z-scored within the
    group, top-``k`` most anomalous vectors per group — the standard
    training-data hygiene pass that surfaces mislabeled / corrupt /
    off-distribution embeddings before they enter a corpus.

    Every moment is an EXACT integer sum over integer-micro quantized
    components (``floor(x·1e6)``), so the result is bit-identical
    regardless of partition or aggregation order and a DuckDB oracle
    can reproduce it (the determinism convention of plans/registry.py):

    1. component rows ``(id, label, dim, xm)`` — one ``posexplode``;
    2. centroid ``cm[label, dim] = floor(Σ xm / n)`` — integer sums,
       one partial-aggregated shuffle on (label, dim);
    3. ``dist_micro = floor(sqrt(Σ (xm − cm)²))`` per vector — the
       centroid table is |labels|·dim rows, broadcast back;
    4. group moments of ``dist_micro`` with the sum of squares held in
       ``decimal(38,0)`` (Spark ``sum(long)`` overflows silently;
       DuckDB's HUGEINT is exact — both cast to double only at the
       final z); ``z = (d − mean)/std`` rounded to 6 dp, 0.0 for a
       zero-variance group;
    5. rank by the exact integer ``dist_micro`` (desc, id tiebreak) —
       identical ordering to z within a group, no float comparisons.

    Scale: shuffles are (label, dim) → (id) → (label); the centroid
    and moments tables are group-sized and broadcast. Exactness bound:
    component sums stay under 2⁶³ up to ~10¹¹ vectors per group.
    """
    comp = corpus.select(
        F.col(id_col), F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("_dim", "_x"),
    ).select(
        id_col, label_col, "_dim",
        F.floor(F.col("_x").cast("double") * F.lit(1e6))
        .cast("long").alias("_xm"),
    )
    cent = comp.groupBy(label_col, "_dim").agg(
        F.sum("_xm").alias("_s"), F.count(F.lit(1)).alias("_n")
    ).select(
        label_col, "_dim",
        F.floor(F.col("_s") / F.col("_n")).cast("long").alias("_cm"),
    )
    d2 = (
        comp.join(F.broadcast(cent), [label_col, "_dim"])
        .select(id_col, label_col,
                ((F.col("_xm") - F.col("_cm"))
                 * (F.col("_xm") - F.col("_cm"))).alias("_dd"))
        .groupBy(id_col, label_col)
        .agg(F.sum("_dd").alias("_d2"))
        .select(id_col, label_col,
                F.floor(F.sqrt(F.col("_d2"))).cast("long")
                .alias("dist_micro"))
    )
    # ``d2`` feeds both the group moments and the scoring join —
    # unstaged, each reference re-runs the explode/centroid/distance
    # pipeline. The staged frame is one row per vector (id, label,
    # dist_micro).
    d2 = data_barrier(d2)
    mom = d2.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("_gn"),
        F.sum("dist_micro").alias("_gs"),
        F.sum(F.col("dist_micro").cast("decimal(38,0)")
              * F.col("dist_micro")).alias("_gss"),
    )
    n = F.col("_gn")
    var_num = (n.cast("decimal(38,0)") * F.col("_gss")
               - F.col("_gs").cast("decimal(38,0)")
               * F.col("_gs")).cast("double")
    mean = F.col("_gs").cast("double") / n
    std = F.sqrt(var_num) / n
    scored = d2.join(F.broadcast(mom), label_col).select(
        label_col, id_col, "dist_micro",
        F.round(
            F.when(std > 0,
                   (F.col("dist_micro") - mean) / std)
            .otherwise(F.lit(0.0)), 6
        ).alias("z"),
    )
    w = W.partitionBy(label_col).orderBy(
        F.col("dist_micro").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(label_col, id_col, "dist_micro", "z", "rank")
    )


def centroid_cosine_matrix(corpus: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           label_col: str = "label") -> DataFrame:
    """Pairwise cosine similarity between per-group embedding
    centroids (M125) — "how close do two labels/sources live in
    embedding space", the embedding-space complement of M96's
    token-distribution JSD matrix. Near-collinear centroids flag
    redundant sources to a mixing plan; a centroid drifting away from
    its historical twin flags distribution shift (the standard
    centroid reading from the SemDeDup/clustered-dedup line, public).

    Determinism (the M90 convention): components quantize ONCE to
    integer micros, centroids are exact integer sums with a floor
    divide, and every dot/norm accumulates integers in
    ``decimal(38,0)`` — the one float op is the final
    ``dot/(‖a‖·‖b‖)``, identical in any engine; output quantizes to
    ``cos_micro = floor(cos·1e6 + 0.5)``. Zero-norm centroids report
    0.

    Returns one row per unordered label pair:
    ``(label_a, label_b, n_a, n_b, cos_micro)``.

    Scale: one (label, dim) partial-aggregated shuffle builds the
    centroid table (|labels|·dim rows); everything after runs on that
    aggregate-bounded frame (the pair join is |labels|²·dim/2 rows of
    integer arithmetic). No Python, no windows.
    """
    comp = corpus.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("_dim", "_x"),
    ).select(
        label_col, "_dim",
        F.floor(F.col("_x").cast("double") * F.lit(1e6))
        .cast("long").alias("_xm"),
    )
    cent = comp.groupBy(label_col, "_dim").agg(
        F.sum("_xm").alias("_s"), F.count(F.lit(1)).alias("_n")
    ).select(
        label_col, "_dim",
        F.floor(F.col("_s") / F.col("_n")).cast("long").alias("_cm"),
        F.col("_n"),
    )
    dec = "decimal(38,0)"
    norms = cent.groupBy(label_col).agg(
        F.sum(F.col("_cm").cast(dec) * F.col("_cm")).alias("_nrm"),
        F.first("_n").alias("n_vecs"),
    )
    a = cent.select(F.col(label_col).alias("label_a"), "_dim",
                    F.col("_cm").alias("_ca"))
    b = cent.select(F.col(label_col).alias("label_b"), "_dim",
                    F.col("_cm").alias("_cb"))
    dots = (
        a.join(b, "_dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("_ca").cast(dec) * F.col("_cb")).alias("_dot"))
    )
    na = norms.select(F.col(label_col).alias("label_a"),
                      F.col("_nrm").alias("_na"),
                      F.col("n_vecs").alias("n_a"))
    nb = norms.select(F.col(label_col).alias("label_b"),
                      F.col("_nrm").alias("_nb"),
                      F.col("n_vecs").alias("n_b"))
    cos = (F.col("_dot").cast("double")
           / (F.sqrt(F.col("_na").cast("double"))
              * F.sqrt(F.col("_nb").cast("double"))))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a", "label_b", "n_a", "n_b",
            F.when((F.col("_na") > 0) & (F.col("_nb") > 0),
                   F.floor(cos * F.lit(1_000_000) + F.lit(0.5)))
            .otherwise(F.lit(0)).cast("long").alias("cos_micro"),
        )
    )


def mmr_select(corpus: DataFrame, query_vec: list[float], k: int = 10,
               lambda_pct: int = 70, id_col: str = "vec_id",
               vec_col: str = "embedding") -> list[dict]:
    """Maximal Marginal Relevance selection (M137; Carbonell &
    Goldstein 1998, public): pick ``k`` vectors one at a time
    maximizing ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` — relevance to
    the query balanced against redundancy with what's already picked.
    The retrieval-side complement of M132's coverage greedy: top-k
    WITHOUT returning k near-copies of the best hit.

    Determinism (the M90/M125 convention): components quantize once to
    integer micros; rel and sim are cosines of the quantized integer
    vectors — exact decimal dot/norm sums, one float division each —
    quantized to ``*_micro`` longs before the argmax, ties → smallest
    id; ``lambda_pct`` is an integer percent so the MMR objective
    ``λ·rel − (100−λ)·maxsim`` stays in exact integer micros.

    Objective variant — CLAMPED redundancy (deliberate; ADVICE r6):
    the running ``maxsim_micro`` is floored at 0 every round
    (``max(0, max_{s∈S} sim(d, s))``), not just for the empty picked
    set. Candidates anti-correlated with everything picked score as
    redundancy 0 — similarity to picks is only ever a PENALTY, never a
    bonus — where textbook MMR would let a negative max-sim ADD to the
    score and bias selection toward antipodal vectors. For dedup-aware
    retrieval the hinge is the behavior we want (an opposite-direction
    document is not "extra relevant", it is merely non-redundant); the
    float32-faithful Python replay test pins the clamped objective.

    Iterative BY NATURE (each pick changes every candidate's
    redundancy term): k driver-coordinated rounds like M132/M46/M68 —
    each round ONE distributed max-sim update against the single
    just-picked vector (a broadcast 1-row join, no pairwise stage) and
    a 1-row argmax collect. State per candidate is one running
    ``maxsim_micro`` column, checkpointed per round.

    Returns a list of ``{rank, id, rel_micro, maxsim_micro,
    mmr_micro}`` (driver-sized: k rows).
    """
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0 <= lambda_pct <= 100:
        raise ValueError(f"lambda_pct must be in [0, 100], got "
                         f"{lambda_pct}")
    spark = corpus.sparkSession
    dim = len(query_vec)
    qm = [math.floor(float(x) * 1e6) for x in query_vec]
    qnorm = math.sqrt(sum(float(x) * x for x in qm))

    comp = corpus.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_x"),
    ).select(
        "_id", "_dim",
        F.floor(F.col("_x").cast("double") * F.lit(1e6))
        .cast("long").alias("_xm"),
    )
    qdf = spark.createDataFrame(
        [(d, int(qm[d])) for d in range(dim)], "_dim int, _qm long"
    )
    dec = "decimal(38,0)"
    base = (
        comp.join(F.broadcast(qdf), "_dim")
        .groupBy("_id")
        .agg(F.sum(F.col("_xm").cast(dec) * F.col("_qm")).alias("_dot"),
             F.sum(F.col("_xm").cast(dec) * F.col("_xm")).alias("_nrm"))
        .select(
            "_id",
            F.when(F.col("_nrm") > 0,
                   F.floor(F.col("_dot").cast("double")
                           / (F.sqrt(F.col("_nrm").cast("double"))
                              * F.lit(qnorm)) * F.lit(1e6)
                           + F.lit(0.5)))
            .otherwise(F.lit(0)).cast("long").alias("rel_micro"),
            F.col("_nrm"),
        )
        .localCheckpoint(eager=True)
    )
    comp = comp.localCheckpoint(eager=True)
    # running state: candidate → current max similarity to the picked set
    state = base.select(
        "_id", "rel_micro", "_nrm",
        F.lit(-(10 ** 9)).cast("long").alias("maxsim_micro"),
    ).localCheckpoint(eager=True)
    picks: list[dict] = []
    lam, lam_c = lambda_pct, 100 - lambda_pct
    for rank in range(1, k + 1):
        # maxsim of an empty set is 0 by convention
        eff_maxsim = (F.greatest(F.col("maxsim_micro"), F.lit(0))
                      if rank == 1 else F.col("maxsim_micro"))
        mmr = (F.lit(lam) * F.col("rel_micro")
               - F.lit(lam_c) * eff_maxsim)
        best = (
            state.select("_id", "rel_micro", "maxsim_micro",
                         mmr.alias("_mmr"))
            .orderBy(F.col("_mmr").desc(), "_id")
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        picks.append({
            "rank": rank, "id": row["_id"],
            "rel_micro": int(row["rel_micro"]),
            "maxsim_micro": int(max(row["maxsim_micro"], 0)),
            "mmr_micro": int(row["_mmr"]),
        })
        if rank == k:
            break
        picked_comp = comp.filter(F.col("_id") == row["_id"]).select(
            "_dim", F.col("_xm").alias("_pm"))
        picked_nrm = [r["_nrm"] for r in
                      base.filter(F.col("_id") == row["_id"])
                      .select("_nrm").collect()]
        pnorm = math.sqrt(float(picked_nrm[0])) if picked_nrm else 0.0
        sim_new = (
            comp.join(F.broadcast(picked_comp), "_dim")
            .groupBy("_id")
            .agg(F.sum(F.col("_xm").cast(dec) * F.col("_pm"))
                 .alias("_dot"))
        )
        state = (
            state.filter(F.col("_id") != row["_id"])
            .join(sim_new, "_id", "left")
            .select(
                "_id", "rel_micro", "_nrm",
                F.greatest(
                    F.greatest(F.col("maxsim_micro"), F.lit(0)),
                    F.when(
                        (F.col("_nrm") > 0) & F.col("_dot").isNotNull()
                        & (F.lit(pnorm) > 0),
                        F.floor(F.col("_dot").cast("double")
                                / (F.sqrt(F.col("_nrm").cast("double"))
                                   * F.lit(pnorm)) * F.lit(1e6)
                                + F.lit(0.5)).cast("long"))
                    .otherwise(F.lit(0).cast("long")),
                ).alias("maxsim_micro"),
            )
            .localCheckpoint(eager=True)
        )
    return picks


def embedding_dispersion(corpus: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         label_col: str = "label") -> DataFrame:
    """Per-group mean pairwise embedding distance WITHOUT a pair stage
    (M140): the identity Σ_{i,j}‖x_i − x_j‖² = 2n·Σ‖x‖² − 2‖Σx‖²
    turns the O(n²) "how spread out is this group" question into two
    exact moments — Σ of per-vector squared norms and the per-dim
    component sums — so group diversity/collapse monitoring (mode
    collapse in synthetic data, a feed going monotone) costs one
    aggregation pass at any scale. Standard algebra (the variance
    trace identity), no sampling, no pairs.

    Determinism: components quantize once to integer micros; both
    moments accumulate in ``decimal(38,0)`` (HUGEINT twin); the mean
    squared pair distance over ORDERED pairs is the exact rational
    (2n·S₂ − 2·‖S₁‖²)/(n(n−1)), and the output
    ``rms_pair_dist_micro = floor(√mean + 0.5)`` is one float sqrt on
    the exact parts. Singleton groups report 0.

    Returns ``(label, n_vecs, rms_pair_dist_micro)``.

    Scale: one (label, dim) partial-agg shuffle + one (label, vector)
    norm pass; everything downstream is |labels|-row arithmetic.
    """
    comp = corpus.select(
        F.col(id_col), F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("_dim", "_x"),
    ).select(
        id_col, label_col, "_dim",
        F.floor(F.col("_x").cast("double") * F.lit(1e6))
        .cast("long").alias("_xm"),
    )
    dec = "decimal(38,0)"
    # S2 = Σ over vectors of ‖x‖² (exact)
    norms = (
        comp.groupBy(id_col, label_col)
        .agg(F.sum(F.col("_xm").cast(dec) * F.col("_xm")).alias("_nsq"))
        .groupBy(label_col)
        .agg(F.sum("_nsq").alias("_s2"),
             F.count(F.lit(1)).alias("n_vecs"))
    )
    # ‖S1‖² from per-dim component sums (exact)
    dimsums = (
        comp.groupBy(label_col, "_dim")
        .agg(F.sum(F.col("_xm").cast(dec)).alias("_sd"))
        .groupBy(label_col)
        .agg(F.sum(F.col("_sd") * F.col("_sd")).alias("_s1sq"))
    )
    n = F.col("n_vecs").cast(dec)
    num = (F.lit(2).cast(dec) * n * F.col("_s2")
           - F.lit(2).cast(dec) * F.col("_s1sq")).cast("double")
    den = (F.col("n_vecs") * (F.col("n_vecs") - 1)).cast("double")
    return norms.join(dimsums, label_col).select(
        F.col(label_col),
        F.col("n_vecs").cast("long"),
        F.when(F.col("n_vecs") > 1,
               F.floor(F.sqrt(num / den) + F.lit(0.5)))
        .otherwise(F.lit(0)).cast("long").alias("rms_pair_dist_micro"),
    )


# ---------------------------------------------------------------------------
# Product quantization (M156): PQ codebooks, encoding, ADC top-k
# ---------------------------------------------------------------------------
# Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
# Search" (IEEE TPAMI 2011). The memory side of the 100 TB ANN story:
# a d-dim float vector (d·4 bytes) compresses to m subspace code ids
# (m bytes at ksub ≤ 256) — 32× at d=64, m=8 — and queries score
# candidates with Asymmetric Distance Computation (ADC): one
# (query × codebook) lookup table of m·ksub partial dots, then each
# candidate's similarity is a SUM of m table entries keyed by its
# codes. Everything here follows the engine's integer-quantization
# idiom (SRP_Q): vectors quantize through floor(x·2^20 + 0.5) as
# int64, so every dot/norm/distance is an EXACT integer — bitwise
# reproducible in any summation order, hash-matchable in DuckDB — and
# only the final similarity division is float (rounded 6dp).
#
# Codebook selection mirrors the IVF convention (q46): deterministic
# stride subsample (codeword j of every subspace = vector
# id == j·stride), oracle-checkable in SQL; a trained (k-means)
# codebook drops in as a DataFrame with the same schema and changes
# recall, not the plan. ADC scoring is the brute-force-over-codes
# baseline (every query scores every candidate — the compression is
# memory/IO, not candidate pruning); compose with the IVF bucket
# machinery (IVF-PQ) to prune candidates at corpus scale.


def quantize_vec(col: Column) -> Column:
    """array<double> → array<long> via floor(x·SRP_Q + 0.5) — the
    module's shared exact-integer embedding."""
    return F.transform(
        col, lambda x: F.floor(x * F.lit(float(SRP_Q)) + F.lit(0.5))
        .cast("long"))


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def _int_nsq(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def _subspace_slices(vec: Column, dim: int, m: int) -> Column:
    dsub = dim // m
    return F.array(*[F.slice(vec, s * dsub + 1, dsub) for s in range(m)])


def pq_codebooks(corpus: DataFrame, dim: int, m: int = 4, ksub: int = 8,
                 stride: int = 50, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 offset: int = 0) -> DataFrame:
    """Deterministic PQ codebooks (subspace, code, cvq array<long>,
    cnsq long): codeword ``j`` of every subspace is the quantized
    sub-vector of corpus id ``offset + j·stride`` (the q46 stride
    convention — assumes the testdata's dense id space; arbitrary-id
    corpora pass a trained codebook with this schema instead).
    ``offset`` matters when the input is a RESIDUAL table whose
    centroid rows are zero by construction (ivfpq_residual_topk):
    sampling offset-shifted ids keeps the codebook off the degenerate
    all-zero codewords. No window, no join: filter + arithmetic code
    assignment + one posexplode."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    base = _as_double(corpus, vec_col).filter(
        (F.col(id_col) >= offset)
        & ((F.col(id_col) - offset) % stride == 0)
        & (F.col(id_col) - offset < ksub * stride))
    return (
        base.select(
            ((F.col(id_col) - offset) / stride).cast("int").alias("code"),
            quantize_vec(F.col(vec_col)).alias("_vq"))
        .select("code",
                F.posexplode(_subspace_slices(F.col("_vq"), dim, m))
                .alias("subspace", "cvq"))
        .select("subspace", "code", "cvq",
                _int_nsq(F.col("cvq")).alias("cnsq"))
    )


def pq_encode(corpus: DataFrame, codebooks: DataFrame, dim: int,
              m: int = 4, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every corpus vector as its per-subspace nearest-codeword
    ids → (id, codes array<int>). The N·ksub·m assignment runs as a
    vectorized int64 Arrow kernel (codebooks collected driver-side —
    m·ksub rows, broadcast in the task closure); integer L2² distances
    are exact, so ties break on the lowest code id in BOTH engines
    (np.argmin first-index ≡ ORDER BY dist, code)."""
    dsub = dim // m
    rows = codebooks.select("subspace", "code", "cvq").collect()
    # argmin runs ONLY over codes that exist per subspace (sorted, so
    # first-index ties still resolve to the lowest code id): a zero-
    # filled dense array would silently assign gap codes with no
    # codebook row, and the ADC inner join would then drop that
    # subspace's contribution from the similarity sums
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r["subspace"], []).append((r["code"], r["cvq"]))
    missing = [s for s in range(m) if not by_sub.get(s)]
    if missing:
        raise ValueError(f"codebooks have no codewords for subspaces "
                         f"{missing}")
    code_ids = {}
    C = {}
    for s, entries in by_sub.items():
        entries.sort()
        code_ids[s] = np.array([c for c, _ in entries], dtype=np.int32)
        C[s] = np.array([v for _, v in entries], dtype=np.int64)
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])
    scale = float(SRP_Q)

    def _enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            Xq = np.floor(X * scale + 0.5).astype(np.int64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                Xs = Xq[:, s * dsub:(s + 1) * dsub]
                # ||x-c||^2 = ||x||^2 - 2xC^T + ||c||^2: one int64
                # matmul and a batch x ksub temp, instead of the
                # batch x ksub x dsub broadcast-difference cube
                # (~dsub x the memory — hundreds of MB per task at
                # production ksub). Exact integer arithmetic either
                # way, so argmin ties still break on the lowest code.
                d2 = ((Xs * Xs).sum(axis=1)[:, None]
                      - 2 * (Xs @ C[s].T)
                      + (C[s] * C[s]).sum(axis=1)[None, :])
                codes[:, s] = code_ids[s][np.argmin(d2, axis=1)]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "codes": list(codes)})

    return (
        _as_double(corpus, vec_col)
        .select(id_col, vec_col)
        .mapInPandas(_enc, out_schema)
    )


def _pq_adc(encoded: DataFrame, codebooks: DataFrame, queries: DataFrame,
            dim: int, m: int, k: int, id_col: str,
            vec_col: str) -> DataFrame:
    """ADC top-k core shared by :func:`pq_adc_topk` (inline encoding)
    and :func:`pq_topk_from_index` (published codes): LUT = queries ⋈
    broadcast codebooks (|Q|·m·ksub rows of exact-integer partial
    dots), candidates = exploded codes ⋈ broadcast LUT on
    (subspace, code), similarity = Σ partial dots (exact int64 sum —
    order-free) over ‖q‖·‖x̂‖, top-k per query with id tiebreak."""
    lut = _pq_lut(queries, codebooks, dim, m, id_col, vec_col)
    enc = encoded.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"))
    cand = enc.join(F.broadcast(lut), ["subspace", "code"])
    return _adc_rank(cand, k)


def pq_adc_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                m: int = 4, ksub: int = 8, stride: int = 50, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                codebooks: DataFrame | None = None) -> DataFrame:
    """PQ/ADC approximate top-k (query_id, neighbor_id, rank, sim) —
    same output shape as :func:`brute_force_topk`/:func:`ivf_topk`;
    recall < 1 is the memory dial (m·log2(ksub) bits per vector)."""
    if codebooks is None:
        codebooks = pq_codebooks(corpus, dim, m, ksub, stride, id_col,
                                 vec_col)
    enc = pq_encode(corpus, codebooks, dim, m, id_col, vec_col)
    return _pq_adc(enc, codebooks, queries, dim, m, k, id_col, vec_col)


def publish_pq_index(spark, corpus: DataFrame, table_prefix: str,
                     dim: int, m: int = 4, ksub: int = 8,
                     stride: int = 50, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     path_root: str | None = None) -> None:
    """Persist PQ state (the M150 pattern applied to quantization):
    ``{prefix}_codebooks`` (subspace, code, cvq, cnsq) and
    ``{prefix}_codes`` (id, codes) — the N·ksub·m encode pass runs
    ONCE at publish; probes replay ADC joins over the (32×-smaller)
    code table with no Python stage and no re-encode. Probes return
    BIT-IDENTICAL rows to the inline operator (tests/test_pq.py)."""
    cb = pq_codebooks(corpus, dim, m, ksub, stride, id_col, vec_col)
    w = cb.write.mode("overwrite").format("parquet")
    if path_root:
        w = w.option("path", f"{path_root}/{table_prefix}_codebooks")
    w.saveAsTable(f"{table_prefix}_codebooks")
    spark_cb = spark.table(f"{table_prefix}_codebooks")
    codes = pq_encode(corpus, spark_cb, dim, m, id_col, vec_col)
    w2 = codes.write.mode("overwrite").format("parquet")
    if path_root:
        w2 = w2.option("path", f"{path_root}/{table_prefix}_codes")
    w2.saveAsTable(f"{table_prefix}_codes")


def pq_topk_from_index(spark, queries: DataFrame, table_prefix: str,
                       dim: int, m: int = 4, k: int = 5,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """ADC top-k against :func:`publish_pq_index` state: identical
    rows to :func:`pq_adc_topk` with the same codebooks, but the plan
    is pure scans + joins — no mapInPandas encode stage (asserted in
    tests/test_pq.py)."""
    cb = spark.table(f"{table_prefix}_codebooks")
    codes = spark.table(f"{table_prefix}_codes")
    return _pq_adc(codes, cb, queries, dim, m, k, id_col, vec_col)


def pq_codebooks_kmeans(corpus: DataFrame, dim: int, m: int = 4,
                        ksub: int = 16, seed: int = 42, iters: int = 25,
                        sample_limit: int = 100_000,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Trained PQ codebooks: seeded driver-side Lloyd iterations per
    subspace over a sampled collect (codebook training is a
    constant-size problem — ``sample_limit`` rows bound driver memory
    regardless of corpus size; the full-corpus ENCODE stays
    distributed). Same schema as :func:`pq_codebooks`, so it drops
    into every PQ entry point; like :func:`kmeans_centroids`, seeded ⇒
    reproducible on a fixed layout, so it feeds the recall-graded path
    while the stride variant stays the oracle-checked default."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    X = np.array(
        [np.asarray(r[vec_col], dtype=np.float64)
         for r in _as_double(corpus, vec_col)
         .select(vec_col).limit(sample_limit).collect()])
    rng = np.random.RandomState(seed)
    rows = []
    for s in range(m):
        data = X[:, s * dsub:(s + 1) * dsub]
        C = data[rng.choice(len(data), min(ksub, len(data)),
                            replace=False)].copy()
        for _ in range(iters):
            d2 = ((data[:, None, :] - C[None]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(C)):
                members = data[assign == j]
                if len(members):  # empty cluster keeps its centroid
                    C[j] = members.mean(axis=0)
        Cq = np.floor(C * float(SRP_Q) + 0.5).astype(np.int64)
        rows += [(s, j, [int(v) for v in Cq[j]],
                  int((Cq[j] * Cq[j]).sum())) for j in range(len(Cq))]
    return corpus.sparkSession.createDataFrame(
        rows, "subspace int, code int, cvq array<long>, cnsq long")


def pq_topk_rerank(corpus: DataFrame, queries: DataFrame, dim: int,
                   m: int = 4, ksub: int = 8, stride: int = 50,
                   k: int = 5, shortlist: int = 50,
                   codebooks: DataFrame | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """The production PQ shape: ADC shortlists ``shortlist``
    candidates per query from the compressed codes (the 32×-smaller
    scan), then ONLY those |Q|·shortlist pairs are re-scored with
    exact cosine against full-precision vectors and re-ranked to
    top-k. Raw 32-bit ADC ranks coarsely on high-entropy embeddings
    (recall@5 ≈ 0.15 on the test fixture); shortlist+rerank recovers
    ≈ 0.76 at R=50 (tests/test_pq.py) while the full-precision fetch
    stays proportional to |Q|·R, never N."""
    short = pq_adc_topk(corpus, queries, dim, m, ksub, stride,
                        k=shortlist, id_col=id_col, vec_col=vec_col,
                        codebooks=codebooks)
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    sims = (
        # the |Q|·R pair list broadcasts onto the corpus scan — the
        # big side never shuffles for the refine stage
        c.join(F.broadcast(short.select("query_id", "neighbor_id")
                           .join(F.broadcast(q), "query_id")),
               "neighbor_id")
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
                .alias("sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"),
                                          F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def pq_codes_increment(spark, delta: DataFrame, table_prefix: str,
                       dim: int, m: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> None:
    """Maintain a :func:`publish_pq_index` incrementally: encode ONLY
    the delta vectors against the PUBLISHED (frozen) codebooks and
    append to ``{prefix}_codes`` — work is |delta|·ksub·m, never a
    corpus re-encode, completing the publish/increment symmetry the
    exact joins (M131/M142/M146) and sketches (M151/M152) follow.

    Codebooks stay frozen by design: that is how production PQ indexes
    evolve (re-training codebooks invalidates every stored code, so it
    is a REPUBLISH, not an increment; codebook drift is observable via
    the M153-style census over reconstruction error if needed).

    The disjoint-id contract is POLICED (the incremental.py
    convention): a delta id already present in the published codes
    would duplicate rows and corrupt every subsequent ADC ranking, so
    it raises ``OverlappingIdsError`` naming the remediation."""
    from .incremental import _check_disjoint_ids

    codes_tbl = f"{table_prefix}_codes"
    existing = spark.table(codes_tbl)
    _check_disjoint_ids(existing, delta, id_col,
                        f"pq_codes_increment({table_prefix})")
    cb = spark.table(f"{table_prefix}_codebooks")
    pq_encode(delta, cb, dim, m, id_col, vec_col) \
        .write.mode("append").format("parquet").saveAsTable(codes_tbl)


def _pq_lut(queries: DataFrame, codebooks: DataFrame, dim: int, m: int,
            id_col: str, vec_col: str) -> DataFrame:
    """Per-query ADC lookup table (query_id, _qnsq, subspace, code,
    _pdot, cnsq) — |Q|·m·ksub rows of exact-integer partial dots,
    shared by :func:`_pq_adc` (full scan) and :func:`ivfpq_topk`
    (bucket-pruned scan)."""
    qd = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col)).alias("_qq"))
    qsub = (
        qd.withColumn("_qnsq", _int_nsq(F.col("_qq")))
        .select("query_id", "_qnsq",
                F.posexplode(_subspace_slices(F.col("_qq"), dim, m))
                .alias("subspace", "_qsv"))
    )
    return qsub.join(F.broadcast(codebooks), "subspace").select(
        "query_id", "_qnsq", "subspace",
        F.col("code").cast("int").alias("code"),
        _int_dot(F.col("_qsv"), F.col("cvq")).alias("_pdot"),
        "cnsq")


def _adc_rank(cand: DataFrame, k: int) -> DataFrame:
    """Shared ADC aggregation + ranking over candidate rows
    (query_id, neighbor_id, _pdot, cnsq, _qnsq)."""
    agg = (
        cand.groupBy("query_id", "neighbor_id")
        .agg(F.sum("_pdot").alias("_adc"),
             F.sum("cnsq").alias("_cnsq"),
             F.max("_qnsq").alias("_qnsq"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(
            F.col("_adc")
            / (F.sqrt(F.col("_qnsq")) * F.sqrt(F.col("_cnsq"))), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"),
                                          F.asc("neighbor_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, dim: int,
               m: int = 4, ksub: int = 8, stride: int = 50, k: int = 5,
               nprobe: int = 3, cent_stride: int = 50,
               codebooks: DataFrame | None = None,
               centroids: DataFrame | None = None,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ top-k (Jégou et al. TPAMI 2011 §IV, the FAISS IVFADC
    architecture, here WITHOUT residual encoding — codes quantize the
    raw vectors, so with ``nprobe`` ≥ the centroid count this is
    bit-identical to :func:`pq_adc_topk`, pinned in tests/test_pq.py):
    the coarse quantizer (IVF bucket assignment) prunes each query's
    candidate set to ``nprobe`` inverted lists, and ONLY those
    buckets' compressed codes are ADC-scored — candidates per query
    drop from N to ~N·nprobe/C while the scan stays in the 32×-smaller
    code domain. This is the compute×memory composition that serves
    10⁹-vector corpora: IVF alone still reads full-precision vectors,
    PQ alone still scores all N codes. Compose with exact re-ranking
    of the shortlist (:func:`pq_topk_rerank`'s refine stage) when
    serving quality matters."""
    corpus = _as_double(corpus, vec_col)
    queries_d = _as_double(queries, vec_col)
    centroids = _resolve_centroids(corpus, centroids, cent_stride,
                                   id_col, vec_col)
    if codebooks is None:
        codebooks = pq_codebooks(corpus, dim, m, ksub, stride, id_col,
                                 vec_col)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col), "centroid_id")
    enc = pq_encode(corpus, codebooks, dim, m, id_col, vec_col)
    bucketed_codes = enc.join(assigned, id_col)

    # per query: nprobe nearest centroids (the q46 probe stage)
    q = queries_d.select(F.col(id_col).alias("query_id"),
                         F.col(vec_col).alias("_qv"))
    qc = q.join(F.broadcast(
        centroids.withColumnRenamed(vec_col, "_centv"))).select(
        "query_id", "centroid_id",
        cosine(F.col("_qv"), F.col("_centv")).alias("_cs"))
    probes = _probe_topn(qc, nprobe, ["query_id", "centroid_id"])

    pruned = bucketed_codes.join(F.broadcast(probes), "centroid_id")
    lut = _pq_lut(queries_d, codebooks, dim, m, id_col, vec_col)
    cand = (
        pruned.select("query_id", F.col(id_col).alias("neighbor_id"),
                      F.posexplode("codes").alias("subspace", "code"))
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
    )
    return _adc_rank(cand, k)


def ivfpq_residual_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                        m: int = 4, ksub: int = 8, stride: int = 50,
                        k: int = 5, nprobe: int = 3,
                        cent_stride: int = 50,
                        codebooks: DataFrame | None = None,
                        centroids: DataFrame | None = None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """True IVFADC (Jégou et al. TPAMI 2011 §IV): PQ encodes the
    RESIDUAL ``x − centroid(x)`` — residuals are smaller and more
    isotropic than raw vectors, so the same m·log2(ksub) bits carry
    more precision (recall ≥ the raw-vector variant on clustered data,
    measured in tests/test_pq.py). Scoring decomposes exactly in the
    integer domain:

        dot(q, x̂)  = dot(q, c) + Σ_s LUT[s, code_s]
        ‖x̂‖²       = ‖c‖² + 2·Σ_s cross[c, s, code_s] + Σ_s ‖cw‖²

    where ``cross`` is the (centroid × codeword) dot table — C·m·ksub
    rows, precomputed once, broadcast-sized for any sane C — so every
    term is an EXACT int64 sum (the SRP_Q idiom) and only the final
    cosine divides in float. Default codebooks: stride-sampled
    RESIDUALS (deterministic); pass :func:`pq_codebooks_kmeans` output
    trained on residuals for the recall-graded path."""
    corpus = _as_double(corpus, vec_col)
    queries_d = _as_double(queries, vec_col)
    centroids = _resolve_centroids(corpus, centroids, cent_stride,
                                   id_col, vec_col)

    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    cent_named = centroids.withColumnRenamed(vec_col, "_centv")
    residuals = (
        assigned.join(F.broadcast(cent_named), "centroid_id")
        .select(id_col, "centroid_id",
                F.zip_with(F.col(vec_col), F.col("_centv"),
                           lambda x, y: x - y).alias(vec_col))
    )
    if codebooks is None:
        # offset past the centroid rows: ids ≡ 0 (mod cent_stride) have
        # ZERO residuals by construction — sampling them yields an
        # all-zero degenerate codebook (every code collapses to c)
        codebooks = pq_codebooks(residuals, dim, m, ksub, stride,
                                 id_col, vec_col,
                                 offset=max(1, cent_stride // 2))

    enc = pq_encode(residuals, codebooks, dim, m, id_col, vec_col)
    bucketed_codes = enc.join(
        residuals.select(id_col, "centroid_id"), id_col)
    return _ivfpq_residual_score(bucketed_codes, codebooks, centroids,
                                 queries_d, dim, m, k, nprobe, id_col,
                                 vec_col)


def _ivfpq_residual_score(bucketed_codes: DataFrame,
                          codebooks: DataFrame, centroids: DataFrame,
                          queries_d: DataFrame, dim: int, m: int,
                          k: int, nprobe: int, id_col: str,
                          vec_col: str) -> DataFrame:
    """Probe + ADC decomposition stage of residual IVFADC, shared by
    the inline operator and :func:`ivfpq_topk_from_index`. The small
    integer tables (quantized centroids, norms, the C·m·ksub
    centroid×codeword cross dots) rebuild here in codegen — they are
    trivial next to the N-proportional assignment and encode stages,
    which the published-index path skips entirely."""
    cent_named = centroids.withColumnRenamed(vec_col, "_centv")
    # integer-exact centroid tables: norms and the centroid×codeword
    # cross dots (C·m·ksub rows)
    cq = cent_named.select(
        "centroid_id", quantize_vec(F.col("_centv")).alias("_cq"))
    cnorm = cq.select("centroid_id", _int_nsq(F.col("_cq")).alias("_cnsq2"))
    csub = cq.select(
        "centroid_id",
        F.posexplode(_subspace_slices(F.col("_cq"), dim, m))
        .alias("subspace", "_csv"))
    cross = csub.join(F.broadcast(codebooks), "subspace").select(
        "centroid_id", "subspace",
        F.col("code").cast("int").alias("code"),
        _int_dot(F.col("_csv"), F.col("cvq")).alias("_cross"),
        F.col("cnsq").alias("_cwnsq"))

    # per query: nprobe nearest centroids + the exact dot(q, c) term
    q = queries_d.select(F.col(id_col).alias("query_id"),
                         F.col(vec_col).alias("_qv"),
                         quantize_vec(F.col(vec_col)).alias("_qq"))
    qc = q.join(F.broadcast(cq.join(F.broadcast(cent_named),
                                    "centroid_id"))).select(
        "query_id", "centroid_id",
        cosine(F.col("_qv"), F.col("_centv")).alias("_cs"),
        _int_dot(F.col("_qq"), F.col("_cq")).alias("_qdotc"),
        _int_nsq(F.col("_qq")).alias("_qnsq"))
    probes = _probe_topn(qc, nprobe,
                         ["query_id", "centroid_id", "_qdotc", "_qnsq"])

    # residual LUT: the query side of ADC does NOT subtract the
    # centroid (the decomposition above already carries dot(q, c))
    lut = _pq_lut(queries_d, codebooks, dim, m, id_col, vec_col) \
        .drop("_qnsq", "cnsq")

    pruned = bucketed_codes.join(F.broadcast(probes), "centroid_id")
    cand = (
        pruned.select("query_id", "centroid_id", "_qdotc", "_qnsq",
                      F.col(id_col).alias("neighbor_id"),
                      F.posexplode("codes").alias("subspace", "code"))
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .join(F.broadcast(cross), ["centroid_id", "subspace", "code"])
    )
    agg = (
        cand.groupBy("query_id", "neighbor_id", "centroid_id")
        .agg(F.sum("_pdot").alias("_rdot"),
             F.sum("_cross").alias("_xcross"),
             F.sum("_cwnsq").alias("_rnsq"),
             F.max("_qdotc").alias("_qdotc"),
             F.max("_qnsq").alias("_qnsq"))
        .join(F.broadcast(cnorm), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_adc", F.col("_qdotc") + F.col("_rdot"))
        .withColumn("_xnsq", F.col("_cnsq2") + 2 * F.col("_xcross")
                    + F.col("_rnsq"))
        .withColumn("sim", F.when(
            F.col("_xnsq") > 0,
            F.round(F.col("_adc") / (F.sqrt(F.col("_qnsq"))
                                     * F.sqrt(F.col("_xnsq"))), 6)))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"),
                                          F.asc("neighbor_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def publish_ivfpq_index(spark, corpus: DataFrame, table_prefix: str,
                        dim: int, m: int = 4, ksub: int = 8,
                        stride: int = 50, cent_stride: int = 50,
                        codebooks: DataFrame | None = None,
                        centroids: DataFrame | None = None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        path_root: str | None = None) -> None:
    """Persist residual-IVFADC state (the M150/M156 publish pattern on
    the strongest ANN variant): ``{prefix}_centroids``,
    ``{prefix}_codebooks`` (residual codewords), and
    ``{prefix}_codes`` (id, centroid_id, codes). The two
    N-proportional stages — coarse assignment (N·C cosine) and
    residual encode (N·ksub·m) — run ONCE here; probes replay with no
    Python stage and no re-encode (bit-identity + plan pinned in
    tests/test_pq.py). The tiny C·m·ksub cross table rebuilds in
    codegen per probe, so it needs no storage."""
    corpus = _as_double(corpus, vec_col)
    centroids = _resolve_centroids(corpus, centroids, cent_stride,
                                   id_col, vec_col)

    def _save(df: DataFrame, name: str) -> DataFrame:
        w = df.write.mode("overwrite").format("parquet")
        if path_root:
            w = w.option("path", f"{path_root}/{name}")
        w.saveAsTable(name)
        return spark.table(name)

    centroids = _save(centroids, f"{table_prefix}_centroids")
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    cent_named = centroids.withColumnRenamed(vec_col, "_centv")
    residuals = (
        assigned.join(F.broadcast(cent_named), "centroid_id")
        .select(id_col, "centroid_id",
                F.zip_with(F.col(vec_col), F.col("_centv"),
                           lambda x, y: x - y).alias(vec_col))
    )
    if codebooks is None:
        codebooks = pq_codebooks(residuals, dim, m, ksub, stride,
                                 id_col, vec_col,
                                 offset=max(1, cent_stride // 2))
    codebooks = _save(codebooks, f"{table_prefix}_codebooks")
    codes = pq_encode(residuals, codebooks, dim, m, id_col,
                      vec_col).join(
        residuals.select(id_col, "centroid_id"), id_col)
    _save(codes, f"{table_prefix}_codes")


def ivfpq_topk_from_index(spark, queries: DataFrame, table_prefix: str,
                          dim: int, m: int = 4, k: int = 5,
                          nprobe: int = 3, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Residual-IVFADC top-k against :func:`publish_ivfpq_index`
    state: identical rows to :func:`ivfpq_residual_topk` with the same
    centroids/codebooks, but the plan is pure scans + joins — no
    assignment, no mapInPandas encode."""
    return _ivfpq_residual_score(
        spark.table(f"{table_prefix}_codes"),
        spark.table(f"{table_prefix}_codebooks"),
        spark.table(f"{table_prefix}_centroids"),
        _as_double(queries, vec_col), dim, m, k, nprobe, id_col,
        vec_col)
