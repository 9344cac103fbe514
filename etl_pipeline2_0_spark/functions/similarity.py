"""Embedding similarity search (ANN) over an ``array<float>`` column.

Two tiers, per the scale brief:

- **Brute-force cosine top-k** (``cosine_topk``): the exact baseline.
  Queries are broadcast (a query set is small by definition); the corpus
  side streams — one narrow pass over the corpus per batch of queries, no
  corpus shuffle.  Top-k per query via a window partitioned by query id.
  The dot product is a codegen'd ``aggregate(zip_with(...))`` — no Python.
- **LSH-bucketed search** (``rp_lsh_topk``): random-hyperplane signatures
  with *deterministic* pseudo-random planes (xxhash64-derived coefficients,
  so results are reproducible and oracle-checkable without sharing RNG
  state).  Signatures are banded into (band, bucket) keys; candidates come
  from an equi-join on the bucket keys (pigeonhole-lossless w.r.t. the
  bit-match filter), then exact cosine re-ranks candidates only.  At
  100 TB this turns a full corpus scan per query into a bucket probe.

Norms are precomputed once per side; embeddings ride the plan as arrays
(columnar Parquet → Arrow-free native path).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline2_0_spark.operators.partitioning import reuse


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision (sequential, deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Output: (query_id, neighbor_id, cosine_sim, rank), excluding self-pairs.
    Ties broken by neighbor id for cross-engine determinism.

    Norms are precomputed ONCE per side (a narrow projection each), so the
    per-pair work of the |queries|×|corpus| score is just the dot product —
    the norm HOF re-evaluated per pair was ~2/3 of the pair cost.  Bit-
    identical to inline ``cosine``: the norm expression is unchanged, only
    evaluated once.

    For LARGE query sets, use :func:`cosine_topk_blocked` — identical
    output, vectorized per-block matmul scoring (r17 measurement: the
    JVM path wins below ~10⁵ scored pairs, where the blocked path's two
    block shuffles + Arrow worker startup dominate; above that the
    matmul wins by an order of magnitude).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def cosine_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blocks: int = 16,
) -> DataFrame:
    """``cosine_topk`` with the scoring as the shared block-cogrouped
    numpy matmul (r17 optimization, guide §4.2): the corpus side keyed
    by pmod(xxhash64(id), blocks), the bounded query set replicated per
    block — the same "queries ride along, corpus streams" economics as
    the broadcast crossJoin, expressed as an equi-shuffle feeding one
    matmul per block instead of a zip_with+aggregate fold per pair.
    Output identical to ``cosine_topk`` (0 round-6 mismatches over the
    full sf0.1 pair set, tools/bench_dot_kernel.py); preferable once the
    scored pair volume clears ~10⁵ (label_noise_matrix: 5.4 s → 1.3 s).
    Preconditions: integral ids and dense non-null vectors — see
    ``_block_cosine_pairs``.
    """
    sa = corpus.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).alias("blk"),
    )
    tb = queries.select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("_v"),
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("blk"),
    )
    scored = (
        _block_cosine_pairs(sa, tb)
        .select(
            F.col("tgt_id").alias("query_id"),
            F.col("src_id").alias("neighbor_id"),
            F.col("cos").alias("cosine_sim"),
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    topk=None,
) -> DataFrame:
    """k-NN label vote: each query's label is the majority label of its
    ``k`` exact cosine neighbors (ties → most votes, then smallest non-NULL
    label; NULL labels lose ties on every engine — Spark's default
    nulls-first asc would diverge from an ANSI ``ORDER BY ... ASC`` twin)
    — the standard nearest-neighbor weak-supervision / label-propagation
    primitive for probing training-data label quality.

    ``topk`` swaps the neighbor source without forking the vote: pass a
    prebuilt (query_id, neighbor_id, ...) DataFrame, or a callable with
    the ``cosine_topk`` signature (e.g. ``ivf_topk`` / ``rp_lsh_topk`` —
    possibly ``functools.partial``-bound for their extra knobs); ``None``
    uses exact ``cosine_topk``.

    Output: (query_id, pred_label, votes).

    Scale: ``cosine_topk`` is the existing guarded broadcast-scored shape;
    the label attach joins the tiny (#queries × k) top-k frame against the
    corpus's (id, label) projection — AQE broadcasts the top-k side — and
    the vote is a (#queries × ≤k)-row aggregate + per-query top-1 window.
    At corpus scale pass ``topk=ivf_topk`` (partition-pruned probe) or
    ``topk=rp_lsh_topk`` (bucket probe); the voting stages are unchanged.
    """
    if topk is None:
        topk_df = cosine_topk(corpus, queries, k=k, vec_col=vec_col, id_col=id_col)
    elif callable(topk):
        topk_df = topk(corpus, queries, k=k, vec_col=vec_col, id_col=id_col)
    else:
        topk_df = topk
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nbr_label")
    )
    votes = (
        topk_df.select("query_id", "neighbor_id")
        .join(labels, "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nbr_label").asc_nulls_last()
    )
    return (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "query_id",
            F.col("nbr_label").cast("bigint").alias("pred_label"),
            "votes",
        )
    )


# ------------------------------------------------ random-projection LSH ----

# Hyperplane coefficients are md5-derived so they're reproducible on ANY
# engine with md5 (this is what makes rp_lsh_topk DuckDB-oracle-able):
#   coeff(p, i) = (int(md5(f"{p}:{i}")[:15 hex], 16) % 2000003) / 1000001.5 - 1
# precomputed driver-side with hashlib (bit-identical to SQL md5 — same
# digest, same 60-bit prefix, same IEEE double ops) and embedded as LITERAL
# arrays, so the per-row work is `planes` codegen'd multiply-add folds with
# NO per-row hashing.  The ANSI twin recomputes coeff(p, i) inline.
_RP_MAX_DIM = 256


def _rp_plane_coeffs(planes: int, max_dim: int = _RP_MAX_DIM):
    import hashlib

    out = []
    for p in range(planes):
        row = []
        for i in range(max_dim):
            h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:15], 16)
            row.append((h % 2000003) / 1000001.5 - 1.0)
        out.append(row)
    return out


# Driver-side construction and plan-analysis cost matters: ``F.lit`` on a
# 256-double list costs ~130 ms in per-element py4j round-trips, and a
# 16-plane signature needed 16 of them PER CALL — measured 7.2 s of pure
# DataFrame-build time on q_ann_lsh_topk before this was fixed.  The planes
# are therefore ONE nested ``array(array(...), ...)`` SQL expr (parsed
# JVM-side in a single call; ``repr(x) + "D"`` round-trips IEEE doubles
# exactly) and the signature is ONE ``transform`` over it instead of 16
# separate aggregate subtrees — which also halves fresh-plan analysis time
# (measured 0.65 s → 0.35 s per build+run; signatures bit-identical).
# Cached per (planes, max_dim): unresolved expression trees, reusable
# across DataFrames for the life of the gateway JVM.
_RP_LIT_CACHE: dict = {}


def _rp_planes_2d_col(planes: int, max_dim: int = _RP_MAX_DIM):
    key = (planes, max_dim)
    if key not in _RP_LIT_CACHE:
        rows = ",".join(
            "array(" + ",".join(repr(x) + "D" for x in row) + ")"
            for row in _rp_plane_coeffs(planes, max_dim)
        )
        _RP_LIT_CACHE[key] = F.expr(f"array({rows})")
    return _RP_LIT_CACHE[key]


def rp_signature(vec: Column, planes: int = 16, max_dim: int = _RP_MAX_DIM) -> Column:
    """Sign-bit array of projections onto ``planes`` deterministic
    hyperplanes (md5-derived literal coefficients — see above; vectors up
    to ``max_dim`` dims, the literal rows are sliced to the vector length)."""
    planes_2d = _rp_planes_2d_col(planes, max_dim)
    return F.transform(
        planes_2d,
        lambda row: (
            F.aggregate(
                F.zip_with(
                    vec,
                    F.slice(row, F.lit(1), F.size(vec)),
                    lambda x, c: x.cast("double") * c,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("int"),
    )


def _band_bounds(planes: int, num_bands: int) -> list[tuple[int, int]]:
    """Partition ``planes`` bit positions into ``num_bands`` contiguous
    near-equal slices; returns 1-based (start, length) pairs for F.slice."""
    base, extra = divmod(planes, num_bands)
    bounds, start = [], 1
    for b in range(num_bands):
        length = base + (1 if b < extra else 0)
        bounds.append((start, length))
        start += length
    return bounds


def sig_bands(sig: Column, planes: int, num_bands: int) -> Column:
    """Hash each contiguous band of a sign-bit signature to one bucket key.

    Pigeonhole guarantee: two signatures differing in at most
    ``num_bands - 1`` bit positions agree on at least one whole band, so an
    equi-join on (band index, bucket hash) recalls EVERY pair within that
    Hamming radius — banding changes the plan (bucket probe instead of
    all-pairs), never the result set.
    """
    return F.array(
        *[
            F.xxhash64(
                F.lit(i),
                F.concat_ws(
                    ",",
                    F.transform(F.slice(sig, start, length), lambda x: x.cast("string")),
                ),
            )
            for i, (start, length) in enumerate(_band_bounds(planes, num_bands))
        ]
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 16,
    min_bit_matches: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates agree with the query on ≥
    ``min_bit_matches`` of ``planes`` sign bits, then exact cosine re-rank.

    Plan shape (the LSH point): both sides band their signature into
    ``planes - min_bit_matches + 1`` buckets and candidates come from an
    EQUI-JOIN on (band index, bucket hash) — a hash-partitioned bucket
    probe, not a corpus×queries cross join.  The pigeonhole principle makes
    the banding lossless w.r.t. the bit-match filter (see ``sig_bands``),
    so the result is identical to the brute filter while the scan touches
    only colliding buckets.  The exact ``bit_matches`` test then drops
    collision-only candidates, and exact cosine re-ranks the survivors.
    """
    num_bands = planes - min_bit_matches + 1
    # Norms ride the narrow projections (computed once per row, not per
    # candidate pair in the re-rank — bit-identical, evaluated once).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        rp_signature(F.col(vec_col), planes).alias("q_sig"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        rp_signature(F.col(vec_col), planes).alias("c_sig"),
    )
    q_bands = q.select(
        "query_id",
        "q_vec",
        "q_norm",
        "q_sig",
        F.posexplode(sig_bands(F.col("q_sig"), planes, num_bands)).alias(
            "band", "bucket"
        ),
    )
    c_bands = c.select(
        "neighbor_id",
        "c_vec",
        "c_norm",
        "c_sig",
        F.posexplode(sig_bands(F.col("c_sig"), planes, num_bands)).alias(
            "band", "bucket"
        ),
    )
    matches = F.aggregate(
        F.zip_with("q_sig", "c_sig", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    scored = (
        c_bands.join(F.broadcast(q_bands), ["band", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            "q_vec", "c_vec", "q_norm", "c_norm", "q_sig", "c_sig",
        )
        .distinct()
        .withColumn("bit_matches", matches)
        .where(F.col("bit_matches") >= min_bit_matches)
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def _train_centroids(c: DataFrame, n_centroids: int, refine_iters: int,
                     train_budget: int):
    """Lloyd-refined unit-norm centroids from a bounded deterministic sample.

    ``c`` must carry (neighbor_id, c_vec).  The ``train_budget`` rows with
    smallest ``xxhash64(id)`` (a distributed TakeOrdered — one narrow pass,
    bounded result at ANY corpus size, reproducible without RNG state) are
    collected and refined on the driver in numpy; see ``ivf_topk`` for why
    sample-trained coarse quantizers are the standard scale move."""
    import numpy as np

    # Bounded deterministic sample: TakeOrderedAndProject, never a full sort.
    sample_rows = (
        c.withColumn("__h", F.xxhash64("neighbor_id"))
        .orderBy("__h")
        .limit(max(train_budget, n_centroids))
        .select("__h", "c_vec")
        .collect()
    )
    if not sample_rows:  # empty corpus: no training data, no centroids
        return np.zeros((0, 0))
    X = np.asarray([r["c_vec"] for r in sample_rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    cents = X[:n_centroids].copy()  # seeds: smallest-hash rows, hash order
    for _ in range(refine_iters):
        Cn = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-30
        )
        # argmax returns the FIRST max → ties break to the smaller
        # centroid id, matching the (sim, -cid) struct-max convention.
        labels = np.argmax(Xn @ Cn.T, axis=1)
        for j in range(len(cents)):
            members = X[labels == j]
            if len(members):  # empty cluster keeps its previous centroid
                cents[j] = members.mean(axis=0)
    return cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)


def _nearest_centroid_udf(cents_unit):
    """Arrow-batched nearest-centroid assignment (1-based cluster ids).

    A NARROW projection — no crossJoin, no shuffle: one numpy matmul per
    Arrow batch against the tiny unit-centroid matrix.  (A pure-expression
    HOF formulation was measured 7× slower; see ``ivf_topk``.)"""
    import numpy as np

    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def _nearest(batch: pd.Series) -> pd.Series:
        if len(batch) == 0:
            return pd.Series([], dtype="int32")
        M = np.asarray(batch.tolist(), dtype=np.float64)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
        # argmax takes the FIRST max → ties break to the smaller centroid
        # id, matching the training loop and the (sim, -cid) convention.
        return pd.Series(np.argmax(Mn @ cents_unit.T, axis=1) + 1).astype("int32")

    return _nearest


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    refine_iters: int = 1,
    train_budget: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings with a sample-trained coarse quantizer, then drop any
    vector whose cluster contains a LOWER-id neighbor with cosine ≥
    ``threshold`` (min-id keeper — deterministic, same convention as
    ``embedding_near_duplicates``).

    Output: (vec_id, cluster, keep) for every input vector.

    Scale shape: centroid training is a bounded TakeOrdered sample + driver
    Lloyd (see ``_train_centroids``); assignment is one narrow Arrow pass;
    the near-dup probe is an EQUI-join on cluster id — pairwise work is
    confined within clusters, never corpus×corpus.  At 100 TB you raise
    ``n_centroids`` with corpus size (SemDeDup uses ~√N clusters) so
    per-cluster candidate sets stay bounded, and materialize the assignment
    as a partition column so the self-join co-locates without a re-shuffle.
    """
    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    cents_unit = _train_centroids(c, n_centroids, refine_iters, train_budget)
    assigned = c.withColumn(
        "cluster", _nearest_centroid_udf(cents_unit)("c_vec")
    ).select(
        F.col("neighbor_id").alias("vec_id"), F.col("c_vec").alias("v"), "cluster"
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        norm(F.col("v")).alias("na"),
        "cluster",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        norm(F.col("v")).alias("nb"),
        "cluster",
    )
    dropped = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__drop", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("__drop").isNull().alias("keep"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iters: int = 1,
    train_budget: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the coarse-quantized scale path.

    1. **Centroid training on a bounded sample**: the ``train_budget`` rows
       with smallest ``xxhash64(id)`` (a distributed TakeOrdered — one
       narrow pass, bounded result at ANY corpus size, reproducible without
       RNG state) are collected and Lloyd-refined on the driver in numpy.
       Training a coarse quantizer on a fixed-size sample is the standard
       k-means scale move (FAISS/ScaNN do exactly this): at 100 TB you
       cannot afford ``refine_iters`` full corpus passes just to place a
       handful of centroids, and centroid quality saturates long before
       full-corpus coverage.  The driver-side work is
       O(train_budget × n_centroids × dim) floats — milliseconds — and the
       result is ``n_centroids`` rows, re-entered as a literal frame.
    2. **Assignment**: every corpus vector gets its nearest centroid from an
       Arrow-batched pandas UDF — a single numpy matmul against the tiny
       unit-centroid matrix per batch.  No crossJoin, no groupBy, no
       shuffle: assignment is a NARROW projection (embarrassingly
       parallel), and the whole query makes exactly ONE full corpus pass.
       (A pure-expression formulation — HOF dot products against literal
       centroid arrays — was measured 7× slower: Catalyst interprets
       nested higher-order functions per element, while the Arrow batch
       path runs at numpy speed.)
    3. **Probes**: each query keeps its ``n_probe`` nearest centroids
       (broadcast cross-score + window — the query side is small by
       definition).
    4. **Search**: probes equi-join the assignment on cluster id — the scan
       is pruned to ~``n_probe/n_centroids`` of the corpus — then exact
       cosine re-ranks.

    At 100 TB the assignment is a one-off materialization (write the
    cluster id as a partition column) and searches touch only probed
    partitions; here it is expressed inline over the same frame.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents_unit = _train_centroids(c, n_centroids, refine_iters, train_budget)
    assigned = c.withColumn(
        "cluster", _nearest_centroid_udf(cents_unit)("c_vec")
    ).withColumn("c_norm", norm(F.col("c_vec")))
    centroids = corpus.sparkSession.createDataFrame(
        [(j + 1, [float(v) for v in cents_unit[j]]) for j in range(len(cents_unit))],
        "centroid_id INT, cent_vec ARRAY<FLOAT>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    # Query side is small by definition: broadcast cross-score + window.
    # cent_vec is unit-norm, so dot/|q| ≡ cosine; ranking needs no |q| at
    # all (constant per query), but keep cosine for readability — the cost
    # is |queries| × n_centroids, trivial.
    q_scored = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "q_vec",
        "q_norm",
        "centroid_id",
        cosine(F.col("q_vec"), F.col("cent_vec")).alias("cent_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cent_sim").desc(), F.col("centroid_id")
    )
    probes = (
        q_scored.withColumn("p", F.row_number().over(wq))
        .where(F.col("p") <= n_probe)
        .select(
            "query_id", "q_vec", "q_norm", F.col("centroid_id").alias("cluster")
        )
    )
    # Re-rank: norms precomputed per side (c_norm rides the assignment,
    # q_norm the probes) — per-candidate work is the dot product alone,
    # bit-identical to inline cosine.
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def portable_centroids(c: DataFrame, n_centroids: int) -> DataFrame:
    """The md5-portable coarse-quantizer seeds: the ``n_centroids`` corpus
    vectors with the smallest md5-hex15(id) (ties by id), numbered 1..n in
    hash order.  ``c`` carries (neighbor_id, c_vec).  TakeOrdered
    (orderBy+limit — no full sort materialization), then a row_number over
    the already-bounded n_centroids-row frame."""
    hh = F.conv(
        F.substring(F.md5(F.col("neighbor_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    seeds = c.withColumn("_hh", hh).orderBy("_hh", "neighbor_id").limit(n_centroids)
    w_seed = Window.orderBy("_hh", "neighbor_id")
    return seeds.select(
        F.row_number().over(w_seed).alias("centroid_id"),
        F.col("c_vec").alias("cent_vec"),
    )


def portable_assign(c: DataFrame, cents: DataFrame) -> DataFrame:
    """Relational nearest-centroid assignment: crossJoin the broadcast
    centroid frame, keep each vector's argmax-cosine centroid (6dp-rounded
    sim, centroid-id tiebreak).  Output: (neighbor_id, c_vec, cluster,
    c_norm).  Shared by ``ivf_topk_portable`` and the embedding drift
    monitor (``plans.llm_ops.q_embedding_drift_psi``)."""
    assign_scored = c.crossJoin(F.broadcast(cents)).select(
        "neighbor_id",
        "c_vec",
        "centroid_id",
        F.round(cosine(F.col("c_vec"), F.col("cent_vec")), 6).alias("sim"),
    )
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    return (
        assign_scored.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select(
            "neighbor_id",
            "c_vec",
            F.col("centroid_id").alias("cluster"),
            norm(F.col("c_vec")).alias("c_norm"),
        )
    )


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blocked: bool = False,
) -> DataFrame:
    """IVF top-k under a PORTABLE, fully-relational construction — the
    md5-portability move (rp_lsh planes, MinHash/SimHash hash families)
    applied to the IVF coarse quantizer, so the WHOLE pipeline
    (seed → assign → probe → re-rank) carries an exact ANSI-SQL twin.

    Construction differences vs the fast-path ``ivf_topk``:
    - **Centroids are corpus vectors**: the ``n_centroids`` rows with the
      smallest md5-hex15(id) hash (ties by id), numbered 1..n in hash
      order — a deterministic hash-sample, no Lloyd refinement (Lloyd's
      driver-side numpy loop is exactly the non-ANSI part).  IVF-flat
      with sampled centers is a legitimate coarse quantizer; recall at
      the same (n_centroids, n_probe) is measured by
      ``ann_ivf_recall_portable`` and floor-pinned in tests.
    - **Assignment is relational**: each corpus vector crossJoins the
      broadcast ``n_centroids``-row frame and keeps its argmax-cosine
      centroid via a per-vector window (6dp-rounded sim, centroid-id
      tiebreak — the cross-engine determinism discipline).  The fast
      path's Arrow matmul stays the production assignment; this shape is
      the oracle-checkable twin, still one corpus pass and a narrow
      shuffle of (id, sim) pairs.

    Output: (query_id, neighbor_id, cosine_sim, rnk), self-pairs excluded.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(c, n_centroids)
    assigned = portable_assign(c, cents)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    probe_scored = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_vec",
        "q_norm",
        "centroid_id",
        F.round(cosine(F.col("q_vec"), F.col("cent_vec")), 6).alias("sim"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    probes = (
        probe_scored.withColumn("p", F.row_number().over(w_probe))
        .where(F.col("p") <= n_probe)
        .select(
            "query_id", "q_vec", "q_norm", F.col("centroid_id").alias("cluster")
        )
    )
    if blocked:
        # r17 optimization (guide §4.2): when the query set is large
        # (ann_hubness probes with queries == corpus: ~1M candidate
        # pairs at sf0.1) the candidate scoring runs as the cogrouped
        # per-cluster numpy matmul instead of the per-pair HOF fold —
        # same cluster equi-key, identical round-6 values; the HOF path
        # stays the default for the small-query rows where two block
        # shuffles + Arrow startup outweigh the kernel win.
        scored = (
            _block_cosine_pairs(
                assigned.select(
                    F.col("neighbor_id").alias("src_id"),
                    F.col("c_vec").alias("_v"),
                    "cluster",
                ),
                probes.select(
                    F.col("query_id").alias("tgt_id"),
                    F.col("q_vec").alias("_v"),
                    "cluster",
                ),
                key="cluster",
            )
            .select(
                F.col("tgt_id").alias("query_id"),
                F.col("src_id").alias("neighbor_id"),
                F.col("cos").alias("cosine_sim"),
            )
            .where(F.col("query_id") != F.col("neighbor_id"))
        )
    else:
        scored = (
            assigned.join(F.broadcast(probes), "cluster")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    dot(F.col("q_vec"), F.col("c_vec"))
                    / (F.col("q_norm") * F.col("c_norm")),
                    6,
                ).alias("cosine_sim"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def ann_probe_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    probe_budgets: "tuple[int, ...]" = (1, 2, 4, 8),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The IVF probe-count TUNING curve — recall@k and candidate volume
    per n_probe, the standard knob an IVF deployment sweeps (the faiss
    nprobe trade-off, public literature): more probed clusters = more
    candidates scored = higher recall at linearly higher cost.  The
    sizing-curve companion to ``ann_ivf_recall_portable``'s single
    operating point, built on the same portable md5 quantizer so the
    whole sweep carries an exact ANSI twin.

    ONE scoring pass at max(probe_budgets): every candidate carries the
    probe rank ``p`` of its cluster for its query; each budget P then
    re-ranks the ``p <= P`` subset (a literal fan-out — no re-scoring).
    Recall is against the exact cosine top-k truth (self-excluded on
    both sides).

    Output: (n_probe, n_queries, n_candidates, avg_candidates, n_hits,
    recall_at_k), one row per budget, ordered; ratios are exact
    integer divisions.

    Scale: assignment/probing are passes against the broadcast centroid
    frame; candidate scoring is the cluster equi-join at the LARGEST
    budget only; the per-budget re-rank windows partition by (budget,
    query) over each query's bounded candidate list.  The exact-truth
    side is the quality-metric convention: at corpus scale the query
    set is a sample (here the bench query slice).
    """
    max_p = max(probe_budgets)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(c, n_centroids)
    assigned = portable_assign(c, cents)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    probe_scored = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_vec",
        "q_norm",
        "centroid_id",
        F.round(cosine(F.col("q_vec"), F.col("cent_vec")), 6).alias("sim"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    probes = (
        probe_scored.withColumn("p", F.row_number().over(w_probe))
        .where(F.col("p") <= max_p)
        .select(
            "query_id",
            "q_vec",
            "q_norm",
            "p",
            F.col("centroid_id").alias("cluster"),
        )
    )
    cand = (
        assigned.join(F.broadcast(probes), "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "p",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    budgets = F.array(*[F.lit(int(b)).cast("int") for b in probe_budgets])
    swept = cand.select(
        "query_id",
        "neighbor_id",
        "p",
        "cosine_sim",
        F.explode(budgets).alias("n_probe"),
    ).where(F.col("p") <= F.col("n_probe"))
    w_rank = Window.partitionBy("n_probe", "query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    topk = swept.withColumn("rnk", F.row_number().over(w_rank)).where(
        F.col("rnk") <= k
    )
    truth = cosine_topk(corpus, queries, k=k, vec_col=vec_col, id_col=id_col)
    exact = truth.select("query_id", "neighbor_id")
    nq = queries.count()
    hits = (
        topk.join(exact, ["query_id", "neighbor_id"])
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    vol = swept.groupBy("n_probe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    return (
        vol.join(hits, "n_probe", "left")
        .na.fill({"n_hits": 0})
        .select(
            "n_probe",
            F.lit(nq).cast("bigint").alias("n_queries"),
            "n_candidates",
            (F.col("n_candidates") / F.lit(nq)).alias("avg_candidates"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits") / F.lit(float(k * nq))).alias("recall_at_k"),
        )
        .orderBy("n_probe")
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int = 16,
    min_bit_matches: int = 14,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_blocks: int = 16,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Plan shape (``min_bit_matches ≥ 1``, the scale path): the RP signature
    is banded into ``planes - min_bit_matches + 1`` (band, bucket) keys and
    candidate pairs come from a bucket SELF-EQUI-JOIN — a hash shuffle on
    small band keys, no all-pairs theta join anywhere (plan-shape test
    asserts no BroadcastNestedLoopJoin / CartesianProduct).  Pigeonhole
    makes the banding lossless for the ``min_bit_matches`` filter
    (``sig_bands``), so the output is IDENTICAL to the quadratic
    formulation: every pair with ≥ min_bit_matches agreeing sign bits
    shares at least one whole band.  The exact bit-match test then drops
    collision-only candidates and exact cosine verifies the survivors.

    ``min_bit_matches ≤ 0`` is EXACT mode (every pair scored — required by
    the DuckDB oracle twin): the pair space is inherently O(n²), but the
    enumeration is expressed as a salted equi-join — one side keyed by
    ``pmod(xxhash64(id), exact_blocks)``, the other replicated across all
    block values — so the plan is a distributed hash join over
    ``exact_blocks`` keys (parallel, spill-safe), never a
    BroadcastNestedLoopJoin.

    Output canonical (id_a < id_b).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if min_bit_matches <= 0:
        # Exact mode never consults the signature — don't build it (the
        # plane-literal construction is cached but not free).
        # Norms precomputed once per side — per-pair work is the dot alone
        # (bit-identical: same norm expression, evaluated once not O(n²)×).
        ea = base.select(
            F.col("id").alias("id_a"),
            F.col("vec").alias("vec_a"),
            norm(F.col("vec")).alias("norm_a"),
            F.pmod(F.xxhash64("id"), F.lit(exact_blocks)).alias("blk"),
        )
        eb = base.select(
            F.col("id").alias("id_b"),
            F.col("vec").alias("vec_b"),
            norm(F.col("vec")).alias("norm_b"),
            F.explode(F.sequence(F.lit(0), F.lit(exact_blocks - 1))).alias("blk"),
        )
        return (
            ea.join(eb.hint("shuffle_hash"), "blk")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine_sim",
                F.round(
                    dot(F.col("vec_a"), F.col("vec_b"))
                    / (F.col("norm_a") * F.col("norm_b")),
                    6,
                ),
            )
            .where(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim")
        )
    num_bands = planes - min_bit_matches + 1
    sigs = base.withColumn("sig", rp_signature(F.col("vec"), planes))
    banded = sigs.select(
        "id",
        F.posexplode(sig_bands(F.col("sig"), planes, num_bands)).alias(
            "band", "bucket"
        ),
    )
    ba, bb = banded.alias("ba"), banded.alias("bb")
    candidates = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bucket") == F.col("bb.bucket"))
            & (F.col("ba.id") < F.col("bb.id")),
        )
        .select(F.col("ba.id").alias("id_a"), F.col("bb.id").alias("id_b"))
        .distinct()
    )
    a = sigs.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        norm(F.col("vec")).alias("norm_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sigs.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        norm(F.col("vec")).alias("norm_b"),
        F.col("sig").alias("sig_b"),
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("bit_matches", matches)
        .where(F.col("bit_matches") >= min_bit_matches)
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ),
        )
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


# --------------------------------------------------- product quantization ----


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via three inner products (reuses the codegen'd
    fold; no intermediate difference array)."""
    return dot(a, a) + dot(b, b) - 2 * dot(a, b)


def _l2sq_unrolled(a: Column, b: Column, d: int) -> Column:
    """``l2sq`` with the three dots unrolled to explicit element
    arithmetic for a KNOWN short dimension ``d`` — pure whole-stage
    codegen, no interpreted higher-order-function fold.  The add chains
    are left-to-right, matching ``F.aggregate``'s fold order, so results
    are bit-identical to ``l2sq``."""

    def _dot(x: Column, y: Column) -> Column:
        acc = x.getItem(0).cast("double") * y.getItem(0).cast("double")
        for j in range(1, d):
            acc = acc + x.getItem(j).cast("double") * y.getItem(j).cast("double")
        return acc

    return _dot(a, a) + _dot(b, b) - 2 * _dot(a, b)


def pq_codebook(
    corpus: DataFrame,
    n_subspaces: int = 16,
    n_codes: int = 64,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Portable product-quantization codebook (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector space splits
    into ``n_subspaces`` contiguous slices; each subspace's ``n_codes``
    codewords are the slices of the SAME md5-hash-sampled seed rows the
    portable IVF uses for centroids — deterministic, engine-reproducible,
    no Lloyd loop (the recall metric carries the quality burden, the same
    trade ``ivf_topk_portable`` documents).

    Output: (m, code, cw) — subspace 1..M, code 1..n_codes, codeword
    slice; M·n_codes rows total, always broadcastable.
    """
    d_sub = dim // n_subspaces
    hh = F.conv(
        F.substring(F.md5(F.col("_sid").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    seeds = (
        corpus.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
        .withColumn("_hh", hh)
        .orderBy("_hh", "_sid")
        .limit(n_codes)
    )
    w_seed = Window.orderBy("_hh", "_sid")
    coded = seeds.select(
        F.row_number().over(w_seed).alias("code"), F.col("_v")
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("_v", (m - 1) * d_sub + 1, d_sub).alias("cw"),
            )
            for m in range(1, n_subspaces + 1)
        ]
    )
    return coded.select("code", F.explode(slices).alias("s")).select(
        F.col("s.m").alias("m"), "code", F.col("s.cw").alias("cw")
    )


def _subvectors(df: DataFrame, n_subspaces: int, dim: int, vec_col: str,
                id_col: str, out_id: str) -> DataFrame:
    d_sub = dim // n_subspaces
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(vec_col, (m - 1) * d_sub + 1, d_sub).alias("sub"),
            )
            for m in range(1, n_subspaces + 1)
        ]
    )
    return df.select(
        F.col(id_col).alias(out_id), F.explode(slices).alias("s")
    ).select(out_id, F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    n_subspaces: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every corpus vector as ``n_subspaces`` one-byte-ish codes:
    per subspace, the argmin-L2 codeword (6dp-rounded distance, code
    tiebreak — the cross-engine determinism discipline).

    One corpus pass: subspace explode → broadcast codebook join → the
    argmin as ``min(struct(d, code))`` — a HASH aggregate whose map-side
    partial combine collapses the N·M·n_codes candidate rows to N·M
    groups before any exchange (the lexicographic struct-min IS the
    d-then-code tiebreak; a row_number window here would sort the full
    candidate stream instead).  At 100 TB the codes table is the point:
    M small ints per vector instead of the float array — the classic
    ~64× memory compression that makes billion-vector ANN feasible.

    Output: (vec_id, m, code).
    """
    d_sub = dim // n_subspaces
    sub = _subvectors(corpus, n_subspaces, dim, vec_col, id_col, "vec_id")
    # The distance runs on EVERY (vector, subspace, codeword) candidate
    # row — the one genuinely hot expression in PQ.  An F.aggregate fold
    # is interpreted per element (no codegen for HOF lambdas); unrolling
    # the short subvector dots into plain arithmetic keeps the whole
    # stage in codegen (measured ~3× on the encode at sf0.1).  The
    # left-to-right add chain reproduces the fold's association order, so
    # values stay bit-identical to l2sq (the 6dp-rounded twin contract).
    dist = _l2sq_unrolled(F.col("sub"), F.col("cw"), d_sub)
    scored = sub.join(F.broadcast(codebook), "m").select(
        "vec_id",
        "m",
        F.struct(F.round(dist, 6).alias("d"), "code").alias("dc"),
    )
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 16,
    n_codes: int = 64,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes its distance to every codeword (a Q·M·n_codes-row table —
    bounded by the query set, broadcast), then the corpus CODES join that
    table on (m, code) and sum their M partial distances — the scan never
    touches the original vectors, which is the entire scale story of PQ.

    Approximates L2 nearest neighbors (PQ's native metric);
    ``ann_pq_recall`` measures fidelity against the exact L2 top-k.

    Output: (query_id, neighbor_id, adc_dist, rnk), self-pairs excluded.
    """
    # The bounded (n_subspaces·n_codes-row) codebook feeds BOTH the
    # corpus encode and the query distance table; without a barrier the
    # codeword-sampling corpus pass runs twice per action (r17
    # optimization, guide §2.4).
    cb = reuse(pq_codebook(
        corpus, n_subspaces, n_codes, dim, vec_col, id_col
    ))
    codes = pq_encode(corpus, cb, n_subspaces, dim, vec_col, id_col)
    qsub = _subvectors(queries, n_subspaces, dim, vec_col, id_col, "query_id")
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "code",
        F.round(l2sq(F.col("sub"), F.col("cw")), 6).alias("pd"),
    )
    scored = (
        codes.join(F.broadcast(dtab), ["m", "code"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= k
    )


def prototypicality(
    corpus: DataFrame,
    n_centroids: int = 16,
    drop_frac: float = 0.2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """D4-style prototype pruning (Tirumala et al. 2023, "D4: Improving
    LLM Pretraining via Document De-Duplication and Diversification"):
    after SemDeDup removes near-duplicates, the documents CLOSEST to
    their cluster centroid are the redundant "easy" mass — D4 drops the
    most prototypical fraction of every cluster to diversify the corpus.

    Relational form under the repo's md5-portable IVF construction
    (``portable_centroids``): assign each vector to its argmax-cosine
    centroid, rank within cluster by similarity to the centroid
    (6dp-rounded, id tiebreak; rank 1 = most prototypical), and keep a
    row iff its rank percentile exceeds ``drop_frac``.

    Output: (vec_id, cluster, proto_sim, proto_rank, cluster_size,
    proto_pct, keep).

    Scale shape: one broadcast crossJoin against the n_centroids-row
    frame (the corpus never self-joins), one per-vector argmax window,
    one per-cluster ranking window — both partitioned, never global.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(c, n_centroids)
    scored = c.crossJoin(F.broadcast(cents)).select(
        F.col("neighbor_id").alias("vec_id"),
        "centroid_id",
        F.round(cosine(F.col("c_vec"), F.col("cent_vec")), 6).alias("sim"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    assigned = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("centroid_id").alias("cluster"), "sim")
    )
    w_rank = Window.partitionBy("cluster").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    w_size = Window.partitionBy("cluster")
    ranked = assigned.select(
        "vec_id",
        "cluster",
        F.col("sim").alias("proto_sim"),
        F.row_number().over(w_rank).cast("int").alias("proto_rank"),
        F.count(F.lit(1)).over(w_size).cast("bigint").alias("cluster_size"),
    )
    pct = F.round(
        F.col("proto_rank") / F.col("cluster_size").cast("double"), 6
    )
    return ranked.select(
        "*",
        pct.alias("proto_pct"),
        (pct > drop_frac).alias("keep"),
    )


def kcenter_coreset(
    corpus: DataFrame,
    k: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal — the classic 2-approximation for k-center, the standard
    diversity-sampling baseline for training-data subset selection):
    seed with the md5-smallest id, then repeatedly add the point whose
    cosine distance to its NEAREST selected center is largest.

    Deterministic cross-engine: distances are 6dp-rounded before every
    min/argmax, ties break by id, and each step EXCLUDES already-picked
    ids (so exact-duplicate points can never re-pick a center).  Output:
    (rnk, vec_id, sel_dist) — sel_dist is the point's distance to the
    centers chosen before it (the coverage radius the selection had just
    before adding it; 0.0 for the seed).

    Scale shape: k−1 bounded iterations, each ONE corpus pass — the new
    center broadcasts (1 row), min_dist updates map-side, the argmax is
    a TakeOrdered (orderBy+limit(1), never a full sort) — with a
    ``reuse`` barrier per step so plans stay flat (the BPE loop
    discipline).  k is a constant (coreset sizes are human-chosen);
    corpus size only enters through the per-pass scan.
    """
    seed_h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    pts = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    seed = (
        pts.withColumn("_hh", seed_h)
        .orderBy("_hh", "vec_id")
        .limit(1)
        .select("vec_id", "v")
    )
    picked = seed.select(
        F.lit(1).alias("rnk"), "vec_id", F.lit(0.0).alias("sel_dist")
    )
    center = seed.select(
        F.col("vec_id").alias("_cid"), F.col("v").alias("_cv")
    )
    state = reuse(
        pts.crossJoin(F.broadcast(center))
        .where(F.col("vec_id") != F.col("_cid"))
        .select(
            "vec_id",
            "v",
            F.round(1 - cosine(F.col("v"), F.col("_cv")), 6).alias("md"),
        )
    )
    out = picked
    for rnk in range(2, k + 1):
        nxt = reuse(
            state.orderBy(F.col("md").desc(), "vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias("_cid"),
                F.col("v").alias("_cv"),
                F.col("md").alias("_cmd"),
            )
        )
        out = out.unionByName(
            nxt.select(
                F.lit(rnk).alias("rnk"),
                F.col("_cid").alias("vec_id"),
                F.col("_cmd").alias("sel_dist"),
            )
        )
        state = reuse(
            state.crossJoin(F.broadcast(nxt))
            .where(F.col("vec_id") != F.col("_cid"))
            .select(
                "vec_id",
                "v",
                F.least(
                    F.col("md"),
                    F.round(1 - cosine(F.col("v"), F.col("_cv")), 6),
                ).alias("md"),
            )
        )
    return out


def mmr_select(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 6,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998 —
    the classic relevance-vs-redundancy re-ranker, used verbatim for
    diverse few-shot / RAG example selection): greedily pick k items
    maximizing

        MMR(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s),

    where rel is cosine similarity to the single-row ``query`` frame and
    sim is candidate-candidate cosine.  λ=1 degenerates to pure top-k
    relevance, λ=0 to pure anti-redundancy; the k-center coreset is the
    relevance-free cousin (it maximizes distance-to-selected with no
    query).

    Deterministic cross-engine: rel/sim/score round to 6 dp before every
    comparison, ties break by id ascending, picked ids are excluded.
    Output: (rnk, vec_id, relevance, score) — score is the MMR objective
    at pick time (= λ·rel for the rnk-1 seed).

    Scale shape: identical to ``kcenter_coreset`` — k−1 bounded
    iterations, each one corpus pass with a 1-row broadcast of the new
    pick, running max-sim updated map-side, argmax via orderBy+limit(1)
    (TakeOrdered), a ``reuse`` barrier per step keeping plans flat.
    """
    lam = float(lam)
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    q = query.select(F.col(vec_col).alias("_qv")).limit(1)
    pts = reuse(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            F.round(cosine(F.col("v"), F.col("_qv")), 6).alias("rel"),
        )
    )
    seed = reuse(
        pts.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select("vec_id", "v", "rel")
    )
    out = seed.select(
        F.lit(1).alias("rnk"),
        "vec_id",
        F.col("rel").alias("relevance"),
        F.round(F.lit(lam) * F.col("rel"), 6).alias("score"),
    )
    center = seed.select(F.col("vec_id").alias("_cid"), F.col("v").alias("_cv"))
    state = reuse(
        pts.crossJoin(F.broadcast(center))
        .where(F.col("vec_id") != F.col("_cid"))
        .select(
            "vec_id",
            "v",
            "rel",
            F.round(cosine(F.col("v"), F.col("_cv")), 6).alias("ms"),
        )
    )
    for rnk in range(2, k + 1):
        scored = state.select(
            "vec_id",
            "v",
            "rel",
            "ms",
            F.round(
                F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("ms"), 6
            ).alias("score"),
        )
        nxt = reuse(
            scored.orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias("_cid"),
                F.col("v").alias("_cv"),
                F.col("rel").alias("_crel"),
                F.col("score").alias("_cscore"),
            )
        )
        out = out.unionByName(
            nxt.select(
                F.lit(rnk).alias("rnk"),
                F.col("_cid").alias("vec_id"),
                F.col("_crel").alias("relevance"),
                F.col("_cscore").alias("score"),
            )
        )
        state = reuse(
            state.crossJoin(F.broadcast(nxt))
            .where(F.col("vec_id") != F.col("_cid"))
            .select(
                "vec_id",
                "v",
                "rel",
                F.greatest(
                    F.col("ms"),
                    F.round(cosine(F.col("v"), F.col("_cv")), 6),
                ).alias("ms"),
            )
        )
    return out


def _block_cosine_pairs(
    sa: DataFrame, tb: DataFrame, key: str = "blk"
) -> DataFrame:
    """All cross-side cosine pairs within each ``key`` group, scored by
    one numpy matmul per cogrouped group (Arrow path — guide §4.2:
    batches to vectorized native code, never per-pair JVM HOF folds).

    Inputs carry (src_id|tgt_id, _v, ``key``); output (src_id, tgt_id,
    cos) with cos = round(dot/(|s|·|t|), 6) in double precision — the
    same expression the JVM fold computed; the summation-order
    difference is below the 6 dp rounding (0 mismatches over the full
    sf0.1 pair set, tools/bench_dot_kernel.py; the boundary-distance
    assertion lives in tests/test_r18_optimizations.py).

    Preconditions (advisor r17): the id columns must be integral (the
    Arrow output schema declares bigint — a string-id caller must map
    ids first) and the vectors non-null, equal-length arrays (np.stack
    raises on ragged/null rows where the JVM fold yielded NULL cosine).
    Every current caller (bitext modes, cosine_topk_blocked, blocked
    IVF) satisfies both by construction: ids are generated bigints and
    the embeddings table is dense.
    """
    import pandas as pd

    def _score(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if left.empty or right.empty:
            return pd.DataFrame(
                {
                    "src_id": pd.Series([], dtype="int64"),
                    "tgt_id": pd.Series([], dtype="int64"),
                    "cos": pd.Series([], dtype="float64"),
                }
            )
        s = np.stack(left["_v"].to_numpy()).astype(np.float64)
        t = np.stack(right["_v"].to_numpy()).astype(np.float64)
        sn = np.sqrt(np.einsum("ij,ij->i", s, s))
        tn = np.sqrt(np.einsum("ij,ij->i", t, t))
        cos = np.round((s @ t.T) / np.outer(sn, tn), 6)
        return pd.DataFrame(
            {
                "src_id": np.repeat(left["src_id"].to_numpy(), len(right)),
                "tgt_id": np.tile(right["tgt_id"].to_numpy(), len(left)),
                "cos": cos.ravel(),
            }
        )

    return (
        sa.groupBy(key)
        .cogroup(tb.groupBy(key))
        .applyInPandas(_score, "src_id bigint, tgt_id bigint, cos double")
    )


def _bitext_margin_from_pairs(
    pairs: DataFrame, k: int, margin_threshold: float
) -> DataFrame:
    """Artetxe–Schwenk margin scoring over a scored candidate-pair frame
    ``(src_id, tgt_id, cos)`` — factored out of ``bitext_mine`` so the
    exact all-pairs oracle mode and the ANN-fed scale mode share ONE
    arithmetic path (verdict-r12: the margin math was fused to the exact
    join, leaving the operator without a 100 TB configuration).

    ``pairs`` must carry 6dp-rounded cosines and be cheap to consume
    three times (both kNN means + the per-source argmax) — every caller
    puts the pair table behind a ``reuse`` barrier before handing it over.
    """
    from pyspark.sql.window import Window

    w_s = Window.partitionBy("src_id").orderBy(
        F.col("cos").desc(), F.col("tgt_id").asc()
    )
    w_t = Window.partitionBy("tgt_id").orderBy(
        F.col("cos").desc(), F.col("src_id").asc()
    )
    # The kNN means stay UNROUNDED: a mean of k six-dp values lands on
    # quarter-steps of the 7th decimal, so rounding it at 6 dp sits
    # exactly on a half boundary about half the time — where Spark
    # (HALF_UP on the true double) and DuckDB (x*1e6 can round UP to the
    # .5 before its half-away round) disagree.  Only the final margin
    # rounds (advisor-class lesson, caught by the sf0.001 parity).
    # r18 optimization (guide §2.4 — reuse one sorted exchange): the
    # per-source kNN mean and the per-source argmax both rank by w_s;
    # ONE row_number pass over the pair table keeps the top-k per
    # source (bounded: ≤ |src|·k rows), is cut, and serves both — the
    # second full sort+window execution over the pair table drops out.
    # rn == 1 ⊆ rn <= max(k, 1), so cand is unchanged for every k; ms
    # re-filters rn <= k and stays empty for k < 1 exactly as the
    # two-pass form made it.
    top_s = reuse(pairs.withColumn("_rn", F.row_number().over(w_s)).where(
        F.col("_rn") <= max(k, 1)
    ))
    ms = (
        top_s.where(F.col("_rn") <= k)
        .groupBy("src_id")
        .agg(F.avg("cos").alias("_ms"))
    )
    mt = (
        pairs.withColumn("_rn", F.row_number().over(w_t))
        .where(F.col("_rn") <= k)
        .groupBy("tgt_id")
        .agg(F.avg("cos").alias("_mt"))
    )
    cand = (
        top_s.where(F.col("_rn") == 1)
        .drop("_rn")
    )
    margin = F.round(
        F.col("cos") / ((F.col("_ms") + F.col("_mt")) / 2.0), 6
    )
    return (
        cand.join(F.broadcast(ms), "src_id")
        .join(F.broadcast(mt), "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.col("cos").alias("cosine_sim"),
            margin.alias("margin"),
        )
        .where(F.col("margin") >= margin_threshold)
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_blocks: int = 16,
    method: str = "exact",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
    LASER/CCMatrix recipe behind most mined parallel corpora): for each
    source embedding, take its best-cosine target and keep the pair when
    the RATIO margin

        margin(x, y) = cos(x, y) / ((ms(x) + mt(y)) / 2)

    clears ``margin_threshold``, where ms/mt are each side's mean cosine
    to its k nearest neighbors on the OTHER side — the normalization
    that kills hub sentences which are "close to everything".

    ``method="exact"`` (the oracle formulation): all cross-side pairs
    are scored, enumerated as the repo's salted-block equi-join (one
    side keyed by pmod(xxhash64(id), blocks), the other replicated per
    block) — a distributed, spill-safe hash join, never a nested-loop
    cartesian; block choice cannot affect the output.  O(|src|·|tgt|)
    by definition — the ground truth, not the scale path.

    ``method="ivf"`` (the 100 TB configuration): the candidate pair
    space comes from the portable IVF coarse quantizer instead —
    centroids hash-sampled from the TARGET side
    (``portable_centroids``), both sides assigned to their home
    cluster, and each side probing its ``n_probe`` nearest centroids;
    candidates are the union of (src-probes ⋈ tgt-homes) and
    (src-homes ⋈ tgt-probes) on cluster id — cluster-scoped EQUI-joins
    that scan ~n_probe/n_centroids of the cross space, never the full
    product.  The same margin arithmetic then scores the candidates
    (kNN means are computed over the candidate set, the standard
    ANN-kNN estimate).  Mined-pair recall vs the exact path is measured
    by ``bitext_mine_recall`` — the ann_recall/ann_ivf_recall template.

    Output: (src_id, tgt_id, cosine_sim, margin) for pairs clearing the
    threshold; ties in the per-source argmax break by target id.
    """
    from pyspark.sql.window import Window

    if method == "exact":
        # r17 optimization (guide §4.2, the worked-example §8.3 shape):
        # the salted-BLOCK pair enumeration is unchanged — src keyed by
        # pmod(xxhash64(id), blocks), tgt replicated per block, the pair
        # space partitioned by the SAME equi-key — but the per-block
        # scoring runs as ONE vectorized numpy matmul per cogrouped
        # block instead of the per-pair zip_with+aggregate fold, whose
        # intermediate-array allocation per pair was the dominant cost
        # of the query (kernel microbench at sf0.1: 2.19 s HOF vs 0.3 s
        # matmul over the same 1M-pair frame; tools/bench_dot_kernel.py,
        # 0/1M round-6 mismatches).  Spill-safety and block-choice
        # independence are unchanged: each task holds one block's
        # vectors, exactly what the shuffled-hash join's build side held.
        sa = src.select(
            F.col(id_col).alias("src_id"),
            F.col(vec_col).alias("_v"),
            F.pmod(
                F.xxhash64(F.col(id_col)), F.lit(exact_blocks)
            ).alias("blk"),
        )
        tb = tgt.select(
            F.col(id_col).alias("tgt_id"),
            F.col(vec_col).alias("_v"),
            F.explode(
                F.sequence(F.lit(0), F.lit(exact_blocks - 1))
            ).alias("blk"),
        )
        # pairs feed three consumers (both kNN means + the argmax) —
        # one barrier materializes the scored pair table once
        pairs = reuse(_block_cosine_pairs(sa, tb))
        return _bitext_margin_from_pairs(pairs, k, margin_threshold)
    if method != "ivf":
        raise ValueError(f"unknown bitext_mine method: {method!r}")

    s_c = src.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    t_c = tgt.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    # One md5-portable centroid set, trained on the searched (target)
    # side — src/tgt keyspaces may overlap, so a union-trained sampler
    # could tie (hash, id) on two different vectors.
    cents = portable_centroids(t_c, n_centroids)

    def _probes(side_c, out_id):
        scored = side_c.crossJoin(F.broadcast(cents)).select(
            F.col("neighbor_id").alias(out_id),
            F.col("c_vec").alias("_v"),
            "centroid_id",
            F.round(cosine(F.col("c_vec"), F.col("cent_vec")), 6).alias(
                "sim"
            ),
        )
        w = Window.partitionBy(out_id).orderBy(
            F.col("sim").desc(), F.col("centroid_id")
        )
        return (
            scored.withColumn("_p", F.row_number().over(w))
            .where(F.col("_p") <= n_probe)
            .select(out_id, "_v", F.col("centroid_id").alias("cluster"))
        )

    def _homes(side_c, out_id):
        return portable_assign(side_c, cents).select(
            F.col("neighbor_id").alias(out_id),
            F.col("c_vec").alias("_v"),
            "cluster",
        )

    # Symmetric coverage: a pair is a candidate when either member's
    # probe set reaches the other's home cluster — each direction stays
    # a cluster-keyed equi-shuffle, scored since r17 by the cogrouped
    # per-cluster numpy matmul (guide §4.2) instead of the per-pair JVM
    # fold; identical (src, tgt, cos) rows from the two directions
    # collapse in the distinct (the matmul computes the same double for
    # the same pair in either direction).
    dir_st = _block_cosine_pairs(
        _probes(s_c, "src_id"), _homes(t_c, "tgt_id"), key="cluster"
    )
    dir_ts = _block_cosine_pairs(
        _homes(s_c, "src_id"), _probes(t_c, "tgt_id"), key="cluster"
    )
    pairs = reuse(dir_st.unionByName(dir_ts).distinct())
    return _bitext_margin_from_pairs(pairs, k, margin_threshold)


def bitext_mine_recall(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_blocks: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Mined-pair recall of the ANN(IVF)-fed bitext path against the
    exact all-pairs path — the measured-quality metric that licenses
    ``bitext_mine(method="ivf")`` as the 100 TB configuration (the
    ann_recall / ann_ivf_recall_portable template applied to mining).

    Output (one row): n_exact, n_ann, n_common, recall — where recall =
    n_common / n_exact (1.0 when the exact path mines nothing).
    """
    exact = bitext_mine(
        src, tgt, k=k, margin_threshold=margin_threshold,
        vec_col=vec_col, id_col=id_col, exact_blocks=exact_blocks,
        method="exact",
    ).select("src_id", "tgt_id", F.lit(1).alias("_in_e"))
    ann = bitext_mine(
        src, tgt, k=k, margin_threshold=margin_threshold,
        vec_col=vec_col, id_col=id_col, method="ivf",
        n_centroids=n_centroids, n_probe=n_probe,
    ).select("src_id", "tgt_id", F.lit(1).alias("_in_a"))
    full = exact.join(ann, ["src_id", "tgt_id"], "full_outer")
    return (
        full.agg(
            F.coalesce(F.sum("_in_e"), F.lit(0))
            .cast("bigint").alias("n_exact"),
            F.coalesce(F.sum("_in_a"), F.lit(0))
            .cast("bigint").alias("n_ann"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_in_e").isNotNull()
                        & F.col("_in_a").isNotNull(),
                        1,
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("n_common"),
        )
        .select(
            "n_exact",
            "n_ann",
            "n_common",
            F.round(
                F.when(F.col("n_exact") == 0, F.lit(1.0)).otherwise(
                    F.col("n_common") / F.col("n_exact")
                ),
                6,
            ).alias("recall"),
        )
    )


def semdedup_eps_curve(
    corpus: DataFrame,
    n_centroids: int = 16,
    eps_values: "tuple[float, ...]" = (0.7, 0.8, 0.9, 0.95),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup threshold SIZING curve (Abbas et al. 2023 pick eps by
    sweeping — this is that sweep as one query): per candidate cosine
    threshold, how many vectors the cluster-scoped keep-lowest-id rule
    would drop, from ONE pair pass — the sixth measured sizing curve
    next to bloom_fpr / cms_error / lsh_geometry / cdc_dedup /
    contamination_ngram.  Fully oracled via the portable md5 coarse
    quantizer (:func:`portable_centroids` / :func:`portable_assign` —
    the same construction ``cluster_profile`` / ``prototypicality``
    prove), unlike the xxhash fast-path ``semantic_dedup`` it sizes.

    A vector is dropped at eps iff some SAME-CLUSTER lower-id vector
    has 6dp-rounded cosine ≥ eps (SemDeDup's keep-one-per-ball rule,
    cluster-scoped exactly like the production op).  The sweep needs
    only each vector's MAX cosine against lower-id cluster-mates — one
    max aggregate, then |eps| conditional sums over the single summary
    row.

    Output: (eps, n_vecs, n_dropped, n_kept, drop_rate), one row per
    eps, ordered; drop_rate is the exact-ratio double.

    Scale: assignment is one corpus pass against the broadcast
    ≤``n_centroids`` frame; the pair space is the cluster-scoped
    equi-join (never all-pairs across clusters — the SemDeDup point);
    the per-vector max is a map-side-combined aggregate; the eps sweep
    is literal fan-out over ONE summary row.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(c, n_centroids)
    assigned = reuse(portable_assign(c, cents).select(
        "neighbor_id", "c_vec", "cluster"
    ))
    a = assigned.select(
        F.col("neighbor_id").alias("id_a"),
        F.col("c_vec").alias("va"),
        "cluster",
    )
    b = assigned.select(
        F.col("neighbor_id").alias("id_b"),
        F.col("c_vec").alias("vb"),
        "cluster",
    )
    # shuffle-hash, not sort-merge: sorting a 16-value cluster key buys
    # nothing, and the hash join streams the bigger side
    best = (
        a.join(b.hint("shuffle_hash"), "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cs"),
        )
        .groupBy("id_b")
        .agg(F.max("cs").alias("mx"))
    )
    tot = assigned.agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    sums = best.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("mx") >= F.lit(float(e)), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"d{i}")
            for i, e in enumerate(eps_values)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(float(e)).alias("eps"), F.col(f"d{i}").alias("nd")
            )
            for i, e in enumerate(eps_values)
        ]
    )
    return (
        tot.crossJoin(F.broadcast(sums))
        .select("n_vecs", F.explode(rows).alias("r"))
        .select(
            F.col("r.eps").alias("eps"),
            "n_vecs",
            F.col("r.nd").alias("n_dropped"),
            (F.col("n_vecs") - F.col("r.nd")).alias("n_kept"),
            (F.col("r.nd") / F.col("n_vecs")).alias("drop_rate"),
        )
        .orderBy("eps")
    )


def semantic_decontam(
    train: DataFrame,
    bench: DataFrame,
    n_centroids: int = 16,
    eps_values: "tuple[float, ...]" = (0.90, 0.95, 0.99),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space decontamination sweep: per candidate cosine
    threshold, how many TRAIN vectors sit within eps of some BENCHMARK
    vector — the paraphrase-robust leg of the decontamination family
    (contamination_check / bloom_contamination / minhash_decontam catch
    lexical overlap; a paraphrased benchmark leak shares almost no
    n-grams but stays near-identical in embedding space — the published
    train-test-overlap practice for semantic leakage).

    A train vector is contaminated at eps iff some SAME-CLUSTER
    benchmark vector has 6dp-rounded cosine >= eps — cluster-scoped via
    the portable md5 coarse quantizer exactly like
    :func:`semdedup_eps_curve` (centroids seeded from train UNION
    bench so both sides quantize consistently).

    Output: (eps, n_train, n_bench, n_contaminated, contamination_rate),
    one row per eps, ordered; the rate is the exact-ratio double.

    Scale: centroid seeding is a TakeOrdered over the union; assignment
    is one pass per side against the broadcast centroid frame; the
    candidate space is the cluster-scoped train x bench equi-join (the
    benchmark side is tiny in production — broadcast it); the per-train
    max is map-side combined; the eps sweep is literal fan-out over ONE
    summary row.  Never an all-pairs cross product.
    """
    t = train.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    b = bench.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(t.unionByName(b), n_centroids)
    ta = portable_assign(t, cents).select(
        F.col("neighbor_id").alias("id_t"),
        F.col("c_vec").alias("vt"),
        "cluster",
    )
    ba = portable_assign(b, cents).select(
        F.col("neighbor_id").alias("id_b"),
        F.col("c_vec").alias("vb"),
        "cluster",
    )
    best = (
        ta.join(ba.hint("shuffle_hash"), "cluster")
        .select(
            "id_t",
            F.round(cosine(F.col("vt"), F.col("vb")), 6).alias("cs"),
        )
        .groupBy("id_t")
        .agg(F.max("cs").alias("mx"))
    )
    tot = t.agg(F.count(F.lit(1)).cast("bigint").alias("n_train")).crossJoin(
        F.broadcast(
            b.agg(F.count(F.lit(1)).cast("bigint").alias("n_bench"))
        )
    )
    sums = best.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("mx") >= F.lit(float(e)), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"d{i}")
            for i, e in enumerate(eps_values)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(float(e)).alias("eps"), F.col(f"d{i}").alias("nc")
            )
            for i, e in enumerate(eps_values)
        ]
    )
    return (
        tot.crossJoin(F.broadcast(sums))
        .select("n_train", "n_bench", F.explode(rows).alias("r"))
        .select(
            F.col("r.eps").alias("eps"),
            "n_train",
            "n_bench",
            F.col("r.nc").alias("n_contaminated"),
            (F.col("r.nc") / F.col("n_train")).alias("contamination_rate"),
        )
        .orderBy("eps")
    )


def embed_norm_hist(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-VECTOR norm histogram — the normalization-drift DQ gate read
    before any cosine-space operator (an unnormalized batch silently
    skews every cosine score; a zero vector breaks it): vectors bucket
    by squared L2 norm in hundredths, zero vectors land in their own
    bucket 0 sentinel row.  The per-vector complement of
    ``embed_dim_stats`` (per-dimension) and ``embed_quantize``'s range
    accounting.

    Exactness: values quantize to micro-unit BIGINTs; the squared norm
    ``Σu²`` is an exact integer (order-free), the bucket is exact
    integer division ``Σu² div 10¹⁰`` (= ‖x‖² in hundredths), and every
    emitted number is an integer count or an exact small-integer ratio
    — the DuckDB twin matches without tolerance.

    Output: (bucket, sq_norm_lo, n_vectors, min_sq_u, max_sq_u, share),
    ordered by bucket; ``sq_norm_lo`` = bucket/100 (the bin's lower
    edge in ‖x‖² units), min/max the exact micro²-unit extremes inside
    the bin.

    Scale: ONE narrow projection (per-row array fold, no explode) into
    a map-side-combined aggregate over the bounded bucket key; the
    1-row total broadcasts back for the share.  No window, no join.
    """
    u = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(1_000_000.0)).cast(
            "bigint"
        ),
    )
    squ = F.aggregate(
        u, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    b = (
        df.select(squ.alias("sq"))
        .select(F.expr("sq DIV 10000000000").alias("bucket"), "sq")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.min("sq").alias("min_sq_u"),
            F.max("sq").alias("max_sq_u"),
        )
    )
    tot = b.agg(F.sum("n_vectors").alias("_t"))
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            (F.col("bucket") / F.lit(100.0)).alias("sq_norm_lo"),
            "n_vectors",
            "min_sq_u",
            "max_sq_u",
            (F.col("n_vectors") / F.col("_t")).alias("share"),
        )
        .orderBy("bucket")
    )


def embed_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the standard 4× storage/IO cut for billion-vector stores (the
    scheme faiss's ScalarQuantizer QT_8bit and most vector DBs apply):
    scale = max|x| / 127, code_i = round(x_i / scale) ∈ [−127, 127],
    dequant = code · scale.

    Emitted per vector alongside the codes: the scale and the exact
    reconstruction error (relative L2), so a pipeline can gate on
    quantization loss before swapping the fp32 column out.  Zero
    vectors quantize to all-zero codes with scale 0 (error 0 by
    convention — nothing to lose).

    Scale shape: a pure narrow projection (transform/aggregate lambdas,
    JVM-side) — no shuffle; at 100 TB this runs at scan speed and the
    output parquet is ~4× smaller, which is the point.

    Output: (id, dim, scale, codes array<int>, rel_err).
    """
    v = F.col("_v")
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (mx / F.lit(127.0)).alias("scale")
    # Cast to double FIRST: the source column is array<float>, and a
    # float32 x*x inside the error fold diverges from the double-typed
    # oracle at ~1e-5 — well above the 6 dp gate.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select("id", "_v", F.size("_v").alias("dim"), scale)
    codes = F.when(F.col("scale") == 0.0,
                   F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.round(x / F.col("scale")).cast("int")
        )
    )
    quant = base.withColumn("codes", codes)
    dq = F.zip_with(
        F.col("_v"), F.col("codes"),
        lambda x, c: x - c.cast("double") * F.col("scale"),
    )
    num = F.aggregate(dq, F.lit(0.0), lambda a, x: a + x * x)
    den = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    # rel_err computes in its OWN projection: putting it in the same
    # select as the rounded `scale` alias makes Spark's lateral-column-
    # alias resolution bind the error term's `scale` reference to the
    # ROUNDED output column — a silent 1e-5-scale drift vs the oracle.
    scored = quant.withColumn(
        "rel_err",
        F.round(
            F.when(den == 0.0, F.lit(0.0)).otherwise(
                F.sqrt(num) / F.sqrt(den)
            ),
            6,
        ),
    )
    # Emit the UNROUNDED scale (advisor-r12): rounding to 6 dp made the
    # emitted scale diverge from the one the codes were computed with
    # (~1% hidden reconstruction error for low-norm/high-dim vectors)
    # and collapsed any max|x| < ~6e-5 onto the 0.0 zero-vector
    # sentinel, making dequantization impossible.  The scale is a
    # single IEEE division on an exactly-converted double, so it is
    # bitwise reproducible cross-engine without rounding; consumers
    # dequantize with exactly the emitted value.
    return scored.select("id", "dim", "scale", "codes", "rel_err")


def ann_hubness(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    top_hubs: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hubness audit of an ANN index (Radovanović et al. 2010): in high
    dimensions the k-occurrence distribution N_k (how many top-k lists
    each database vector appears in) grows heavy-tailed — a few "hub"
    vectors crowd everyone's neighbor lists while "antihubs" are never
    retrieved.  For retrieval training data this is the failure mode
    where one boilerplate passage becomes every query's neighbor, so the
    audit belongs next to the index, not after the damage.

    Runs the PORTABLE IVF path (:func:`ivf_topk_portable`, so the whole
    audit carries an exact SQL twin) for every query, counts occurrences
    per retrieved database vector, and reports the ``top_hubs`` worst
    offenders plus corpus-level context on every row:

    - ``n_occ`` / ``occ_share``: this hub's share of ALL retrieved slots;
    - ``n_lists``: total retrieved slots (≤ k·|queries|);
    - ``antihub_frac``: fraction of database vectors retrieved by NO
      query — the silent dead zone of the index.

    Output: (``id_col``, n_occ, occ_share, n_lists, antihub_frac, rnk),
    ``top_hubs`` rows ordered by (n_occ desc, id).

    Scale: the IVF probe join is cluster-scoped (never all-pairs); the
    occurrence count is one hash aggregate over top-k rows (k·|queries|,
    corpus-independent); the summary collapses to a broadcast single row
    and the final top-hub window ranks only distinct retrieved vectors.
    """
    # The bounded (≤ k·|queries|-row) top-k frame feeds TWO consumers
    # (occurrence count + the n_lists/antihub summary); without a
    # barrier the whole IVF probe join executes twice per action (r17
    # optimization, guide §2.4).
    topk = reuse(ivf_topk_portable(
        corpus, queries, k=k, n_centroids=n_centroids, n_probe=n_probe,
        vec_col=vec_col, id_col=id_col, blocked=True,
    ))
    occ = topk.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )
    summary = (
        topk.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
            F.countDistinct("neighbor_id").alias("_n_hit"),
        )
        .crossJoin(corpus.agg(F.count(F.lit(1)).alias("_n_db")))
        .select(
            "n_lists",
            F.round(
                (F.col("_n_db") - F.col("_n_hit")) / F.col("_n_db"), 6
            ).alias("antihub_frac"),
        )
    )
    # Global top-k via TakeOrdered (orderBy+limit → distributed partial
    # top-k per partition, never a single-partition sort of the full
    # occurrence table); the ranking window then runs over ≤ top_hubs
    # rows, so its empty partitionBy is bounded by construction.
    hubs = occ.orderBy(F.col("n_occ").desc(), F.col("neighbor_id")).limit(
        top_hubs
    )
    w = Window.orderBy(F.col("n_occ").desc(), F.col("neighbor_id"))
    return (
        hubs.withColumn("rnk", F.row_number().over(w))
        .crossJoin(F.broadcast(summary))
        .select(
            F.col("neighbor_id").alias(id_col),
            "n_occ",
            F.round(F.col("n_occ") / F.col("n_lists"), 6).alias("occ_share"),
            "n_lists",
            "antihub_frac",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def cluster_profile(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space corpus composition (the cluster-level analysis
    behind SemDeDup/DCLM-style curation): assign every vector to its
    nearest portable centroid (:func:`portable_centroids` /
    :func:`portable_assign` — the md5-portable coarse quantizer, so the
    whole profile carries an exact SQL twin) and report, per cluster,
    its share of the corpus and its label makeup — the table that shows
    whether one topic/domain dominates a cluster (a dedup or rebalance
    target) before any selection runs.

    Output: (cluster_id, n_vecs, share, top_label, top_label_share,
    n_labels), one row per non-empty cluster; top_label ties break to
    the smallest label.

    Scale: the assignment is one corpus pass against the broadcast
    ≤``n_centroids``-row frame (per-vector argmax window keyed by the
    vector id — full parallelism); the label rollup is two bounded hash
    aggregates (cluster×label, then cluster) plus a per-cluster ranking
    window over ≤|labels| rows, and the corpus total rides a broadcast
    single row.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(c, n_centroids)
    assigned = portable_assign(c, cents).select("neighbor_id", "cluster")
    lab = assigned.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("label"),
        ),
        "neighbor_id",
    )
    counts = lab.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per = counts.groupBy("cluster").agg(
        F.sum("cnt").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("cnt").desc(), F.col("label")
    )
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("top_label"),
                F.col("cnt").alias("_top_cnt"))
    )
    tot = corpus.agg(F.count(F.lit(1)).alias("_n_total"))
    return (
        per.join(top, "cluster")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster").alias("cluster_id"),
            "n_vecs",
            F.round(F.col("n_vecs") / F.col("_n_total"), 6).alias("share"),
            F.col("top_label").cast("int").alias("top_label"),
            F.round(F.col("_top_cnt") / F.col("n_vecs"), 6).alias(
                "top_label_share"
            ),
            "n_labels",
        )
    )


def contrastive_triplets(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-triplet mining for embedding-model training (the public
    in-batch / ANN hard-negative recipe, e.g. FaceNet semi-hard mining
    and the sentence-transformers ANN-mined variant): for each anchor,
    the POSITIVE is its highest-cosine same-label neighbor and the
    NEGATIVE its highest-cosine different-label neighbor — the "hardest"
    negative, the one a contrastive loss learns most from — both mined
    from the portable-IVF candidate set (cluster-scoped equi-joins, the
    bitext_mine discipline: never the cross product).

    Anchors whose probe set lacks a same-label or different-label
    candidate emit nothing (no fallback scan — at scale the fix is more
    probes, not a corpus pass).  margin = pos_sim - neg_sim; negative
    margins are real signal (a different-label vector closer than every
    same-label one) and are kept.

    Output: (anchor_id, anchor_label, positive_id, pos_sim, negative_id,
    neg_sim, margin), one row per surviving anchor.

    Scale: candidate generation is the shared portable-IVF shape
    (broadcast centroids -> per-vector argmax assignment -> probe
    equi-join on cluster); the triplet pick is ONE hash aggregate per
    anchor carrying two conditional max-structs (map-side combined) —
    no window over candidates, no join after scoring.  Ties break to the
    smaller neighbor id via max(struct(sim, -id)) — the cross-engine
    determinism discipline (sims 6dp-rounded before compare).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(c, n_centroids)
    assigned = portable_assign(c, cents).join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("n_label"),
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.col(label_col).alias("q_label"),
    )
    probe_scored = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_vec",
        "q_norm",
        "q_label",
        "centroid_id",
        F.round(cosine(F.col("q_vec"), F.col("cent_vec")), 6).alias("sim"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    probes = (
        probe_scored.withColumn("p", F.row_number().over(w_probe))
        .where(F.col("p") <= n_probe)
        .select(
            "query_id",
            "q_vec",
            "q_norm",
            "q_label",
            F.col("centroid_id").alias("cluster"),
        )
    )
    # r17 optimization (guide §4.2): the ~1M-pair candidate scoring runs
    # as the cogrouped per-cluster numpy matmul (same cluster equi-key,
    # identical round-6 values); the two label attachments re-join the
    # scored pair stream against broadcast (id, label) projections.
    scored_pairs = _block_cosine_pairs(
        assigned.select(
            F.col("neighbor_id").alias("src_id"),
            F.col("c_vec").alias("_v"),
            "cluster",
        ),
        probes.select(
            F.col("query_id").alias("tgt_id"),
            F.col("q_vec").alias("_v"),
            "cluster",
        ),
        key="cluster",
    )
    q_labels = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("q_label")
    )
    n_labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    cand = (
        scored_pairs.select(
            F.col("tgt_id").alias("query_id"),
            F.col("src_id").alias("neighbor_id"),
            F.col("cos").alias("sim"),
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q_labels), "query_id")
        .join(F.broadcast(n_labels), "neighbor_id")
    )
    pick = F.struct(F.col("sim"), (-F.col("neighbor_id")).alias("_nid"))
    agg = cand.groupBy("query_id", "q_label").agg(
        F.max(F.when(F.col("n_label") == F.col("q_label"), pick)).alias("_p"),
        F.max(F.when(F.col("n_label") != F.col("q_label"), pick)).alias("_n"),
    )
    return (
        agg.where(F.col("_p").isNotNull() & F.col("_n").isNotNull())
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("q_label").alias("anchor_label"),
            (-F.col("_p._nid")).alias("positive_id"),
            F.col("_p.sim").alias("pos_sim"),
            (-F.col("_n._nid")).alias("negative_id"),
            F.col("_n.sim").alias("neg_sim"),
            F.round(F.col("_p.sim") - F.col("_n.sim"), 6).alias("margin"),
        )
    )


def embed_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension embedding diagnostics: mean, population variance,
    and each dimension's share of total variance — the table that
    detects dead coordinates (no signal to quantize) and dominant ones
    (whiten or rotate before cosine), read before ``embed_quantize`` /
    PQ codebook decisions.

    Cross-engine determinism (the grpo_advantage discipline, pushed one
    level up): values quantize to exact micro-unit BIGINTs and the
    per-dim sums Σu and Σu² are integer aggregates (order-independent,
    double-exact at any realistic n since Σu² needs < 53 bits long after
    the corpus outgrows one machine — documented bound below).  The
    variance numerator ``n·Σu² − (Σu)²`` is then computed in DOUBLE
    arithmetic with a FIXED op order — IEEE ops are correctly rounded,
    so identical expressions give bit-identical results in any engine —
    deliberately NOT in exact decimal: past 2^53 the two engines' big-
    integer→double conversions can disagree by one ULP (observed at
    sf0.1), while same-order double arithmetic cannot.  The total-
    variance denominator folds the 64 per-dim numerators in CANONICAL
    (value-sorted) order via an explicit list reduction on both sides —
    a plain SUM over doubles would be partial-aggregation-order-
    dependent.  Hash-matchable without tolerance, no rounding anywhere.

    Output: (dim, n_vectors, mean, variance, var_share), one row per
    coordinate, dim 0-based.

    Scale: ONE posexplode pass (|corpus|·d narrow rows, map-side
    combined into d partial sums per task) and a d-row broadcast of the
    total — corpus-independent after the first aggregate.  Σu² stays
    inside BIGINT (and double-exact) up to ~10⁶ vectors per dimension at
    |x| ≤ ~2; beyond that, re-scale the quantization grid or shard the
    sum — the op-order contract is unaffected.
    """
    u = (
        df.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .select(
            "dim",
            F.round(F.col("x").cast("double") * F.lit(1_000_000.0))
            .cast("bigint")
            .alias("u"),
        )
    )
    s = u.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("u").alias("su"),
        F.sum(F.col("u") * F.col("u")).alias("sq"),
    )
    # double(n)*double(sq) - double(su)*double(su): fixed-order IEEE ops
    # over exact integer inputs -> bit-identical in any engine.
    num = (
        F.col("n").cast("double") * F.col("sq").cast("double")
        - F.col("su").cast("double") * F.col("su").cast("double")
    )
    # The bounded d-row frame feeds BOTH the output and the total fold:
    # the barrier stops the two consumers re-running the corpus pass
    # (the lsh_geometry_sweep discipline).
    sd = reuse(s.select("dim", "n", "su", num.alias("_num")))
    tot = sd.agg(
        F.aggregate(
            F.array_sort(F.collect_list("_num")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_tot")
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.col("n").alias("n_vectors"),
            (F.col("su") / F.col("n") / F.lit(1_000_000.0)).alias("mean"),
            (
                F.col("_num")
                / (F.col("n") * F.col("n")).cast("double")
                / F.lit(1_000_000_000_000.0)
            ).alias("variance"),
            (F.col("_num") / F.col("_tot")).alias("var_share"),
        )
    )


def embed_pca_top(
    corpus: DataFrame,
    dims: int = 64,
    n_iter: int = 6,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal direction of the embedding cloud by POWER ITERATION,
    expressed relationally (the kcenter/BPE bounded-loop discipline) and
    fully oracled — the off-diagonal complement of ``embed_dim_stats``:
    per-dim variance says which coordinates carry signal; the top
    eigenvector says which DIRECTION dominates (anisotropy: the thing
    whitening removes before cosine retrieval, cf. the all-but-the-top
    postprocessing of Mu & Viswanath 2018).

    Construction (every step exact-integer, hence engine-portable):
    vectors quantize to 1e-5-grid BIGINTs; the iterate ``p`` lives on a
    ~1e3 integer grid.  One iteration = one corpus pass: ``d_r = q_r·p``
    (fixed-order array fold, exact BIGINT), then ``w = Σ_r q_r·d_r``
    (per-dim DECIMAL-exact sums), then L∞ renormalization back to the
    ~1e3 grid via exact integer division (truncated-toward-zero on both
    engines — Spark ``div`` ≡ sign·(abs // g)).  No float enters the
    loop, so ``n_iter`` steps are bit-reproducible anywhere.

    Reported: per-dim ``loading`` (unit-norm iterate, exact ints →
    deterministic doubles) plus the iterate's Rayleigh quotient as
    ``eigenvalue`` (a lower bound on λ_max, tight when the spectrum has
    a dominant gap) and ``var_share_top`` = eigenvalue / total variance
    — both 6dp (their >2^53 exact sums convert to double once; rounding
    absorbs the engines' 1-ULP conversion divergence, the
    embed_dim_stats lesson).

    Output: (dim, loading, eigenvalue, var_share_top), ``dims`` rows —
    the two scalars repeat per row (report-table convention).

    Scale: ``n_iter`` bounded iterations, each ONE corpus pass (the
    1-row iterate broadcasts; the per-dim aggregate is map-side
    combined), with a ``reuse`` barrier per step so plans stay flat.
    Exactness bounds: Σ|q·d| per dim needs < 10^38 — safe past 10^15
    vectors; the corpus enters each pass only through the scan.
    """
    e = reuse(corpus.select(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(100_000.0)).cast(
                "bigint"
            ),
        ).alias("q")
    ))

    def matvec(p_row: DataFrame) -> DataFrame:
        """One corpus pass: d_r = q_r·p (exact), w_i = Σ_r q_ri·d_r."""
        scored = e.crossJoin(F.broadcast(p_row)).select(
            "q",
            F.aggregate(
                F.zip_with(F.col("q"), F.col("p"), lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
        return (
            scored.select(F.posexplode("q").alias("dim", "u"), "d")
            .groupBy("dim")
            .agg(
                F.sum((F.col("u") * F.col("d")).cast("decimal(25,0)")).alias(
                    "w"
                )
            )
        )

    p_row = e.sparkSession.range(1).select(
        F.array(*[F.lit(1000).cast("bigint") for _ in range(dims)]).alias("p")
    )
    for _ in range(n_iter):
        w = reuse(matvec(p_row))
        g = w.agg(
            F.greatest(
                F.expr("max(abs(w)) div 1000").cast("bigint"), F.lit(1)
            ).alias("g")
        )
        p_row = reuse(
            w.crossJoin(F.broadcast(g))
            .select(
                "dim",
                (
                    F.signum(F.col("w")).cast("bigint")
                    * F.expr(
                        "cast(abs(w) as decimal(25,0))"
                        " div cast(g as decimal(25,0))"
                    )
                ).alias("p"),
            )
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "p"))),
                    lambda s: s["p"],
                ).alias("p")
            )
        )

    pp_row = p_row.select(
        "p",
        F.greatest(
            F.aggregate(
                F.zip_with(F.col("p"), F.col("p"), lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
            F.lit(1),
        ).alias("pp"),
    )
    d_final = e.crossJoin(F.broadcast(pp_row)).select(
        "q",
        F.aggregate(
            F.zip_with(F.col("q"), F.col("p"), lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    ray = d_final.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.col("d").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)")
        ).alias("d2"),
        F.sum("d").alias("d1"),
    )
    # total variance in the same 1e-5-grid units (the embed_dim_stats
    # fixed-order-double + canonical-sorted-fold discipline)
    s = (
        e.select(F.posexplode("q").alias("dim", "u"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("u").alias("su"),
            F.sum(F.col("u") * F.col("u")).alias("sq"),
        )
    )
    tv = s.select(
        (
            F.col("n").cast("double") * F.col("sq").cast("double")
            - F.col("su").cast("double") * F.col("su").cast("double")
        ).alias("num")
    ).agg(
        F.aggregate(
            F.array_sort(F.collect_list("num")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("tot")
    )
    rq = (F.col("d2").cast("double") / F.col("n")
          - (F.col("d1") / F.col("n")) * (F.col("d1") / F.col("n"))) / F.col(
        "pp"
    )
    loadings = pp_row.select(
        F.posexplode("p").alias("dim", "pv"), F.col("pp")
    )
    return (
        loadings.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(tv))
        .select(
            F.col("dim").cast("int").alias("dim"),
            (F.col("pv") / F.sqrt(F.col("pp").cast("double"))).alias(
                "loading"
            ),
            F.round(rq / F.lit(10_000_000_000.0), 6).alias("eigenvalue"),
            F.round(
                rq
                / (
                    F.col("tot")
                    / (F.col("n").cast("double") * F.col("n").cast("double"))
                ),
                6,
            ).alias("var_share_top"),
        )
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    per_cluster: int = 8,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced subsampling (the DCLM / SemDeDup-rebalance
    recipe): assign every vector to its nearest portable centroid, then
    keep at most ``per_cluster`` vectors per cluster by a DETERMINISTIC
    hash order (md5-hex15 of the id — the engine-portable "random"
    draw used across the split/shard family).  Equalizing cluster mass
    de-biases an embedding-clustered corpus toward its long tail —
    the rebalance read off ``cluster_profile``'s dominance table.

    Output: (vec_id, cluster, rnk), rnk ∈ [1, per_cluster] in hash
    order — re-running with a larger ``per_cluster`` EXTENDS each
    cluster's keep set without reshuffling it (hash order is stable),
    the property quota samplers need for incremental growth.

    Scale: one corpus pass for assignment (broadcast centroid cross +
    per-vector argmax), then ONE shuffle on the cluster key feeding a
    per-cluster rank window (candidates stream through; state = one
    running counter per cluster).  No collect, no global sort.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    cents = portable_centroids(c, n_centroids)
    assigned = portable_assign(c, cents).select("neighbor_id", "cluster")
    hh = F.conv(
        F.substring(F.md5(F.col("neighbor_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("cluster").orderBy(F.col("_hh"), F.col("neighbor_id"))
    return (
        assigned.withColumn("_hh", hh)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= per_cluster)
        .select(
            F.col("neighbor_id").alias(id_col),
            F.col("cluster"),
            F.col("rnk"),
        )
    )


def matryoshka_curve(
    emb: DataFrame,
    dims: "tuple[int, ...]" = (8, 16, 32, 64),
    strides: "tuple[int, ...]" = (1, 7, 31),
    eps_micro: int = 50_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding truncation-dimension sizing curve (Matryoshka
    Representation Learning, Kusupati et al. 2022 — public literature):
    how much cosine fidelity survives keeping only the first ``d``
    coordinates, for each candidate ``d``, measured on a deterministic
    pair sample — the table read before shrinking a billion-vector
    store 8x by storing prefixes.

    Pair sample: anchor ``i`` pairs with ``i + s`` for each stride in
    ``strides`` (ids that exist; one equi-join, no randomness).  For
    each pair and each ``d``: ``cos_d`` over the length-``d`` prefixes
    (in-order double fold; zero-norm prefix scores 0 by convention) vs
    the full-dim ``cos`` at ``max(dims)``.

    Exactness: the per-pair error quantizes to micro-unit BIGINTs
    (``round(|cos_d − cos_full|·10⁶)``) so every sum/count is an exact
    integer (order-free); means/rates are single divisions of those
    integers.  Top-1 agreement: per anchor, whether the nearest of its
    sampled candidates under ``cos_d`` is the nearest under the full
    cosine (``min_by`` over the (−cos, stride) struct key — ties to the
    smaller stride; the DuckDB twin expresses the same winner as a
    ROW_NUMBER window, same values).

    Output, one row per candidate dim (ordered):
      (dim, n_pairs, sum_abs_err_micro, max_abs_err_micro,
       mean_abs_err, n_within_eps, frac_within_eps,
       n_anchors, n_top1_agree, top1_agree_rate)

    Scale: ONE id-shifted equi-join builds the pair sample (shuffle ∝
    |strides|·N, never N²); every cosine is a per-row prefix fold (no
    vector explode) kept WIDE per pair, so the whole curve is a single
    consumer chain: one per-anchor aggregate (every per-dim error
    partial AND both argmax winners in the same groupBy — no window,
    no self-join, no recompute), a bounded |dims|-entry fan-out, and a
    final |dims|-group aggregate.  The ELEVENTH measured sizing curve.
    """
    dims = tuple(sorted(int(d) for d in dims))
    full = dims[-1]

    def _cos_d(av, bv, d):
        sa, sb = F.slice(av, 1, d), F.slice(bv, 1, d)
        na, nb = norm(sa), norm(sb)
        return F.when(
            (na > F.lit(0.0)) & (nb > F.lit(0.0)), dot(sa, sb) / (na * nb)
        ).otherwise(F.lit(0.0))

    left = (
        emb.select(F.col(id_col).alias("aid"), F.col(vec_col).alias("av"))
        .select(
            "aid",
            "av",
            F.explode(
                F.array(*[F.lit(int(s)) for s in strides])
            ).alias("stride"),
        )
        .withColumn("bid", F.col("aid") + F.col("stride"))
    )
    right = emb.select(
        F.col(id_col).alias("bid"), F.col(vec_col).alias("bv")
    )
    wide = left.join(right, "bid").select(
        "aid",
        "stride",
        *[
            _cos_d(F.col("av"), F.col("bv"), d).alias(f"cos_{d}")
            for d in dims
        ],
    )
    for d in dims:
        wide = wide.withColumn(
            f"em_{d}",
            F.round(
                F.abs(F.col(f"cos_{d}") - F.col(f"cos_{full}"))
                * F.lit(1_000_000.0)
            ).cast("bigint"),
        )

    def _best(d):
        # argmax cos_d, ties to the smaller stride (struct key compares
        # lexicographically; −cos is exact double negation)
        return F.min_by(
            "stride",
            F.struct(
                (-F.col(f"cos_{d}")).alias("nc"),
                F.col("stride").alias("s"),
            ),
        ).alias(f"best_{d}")

    per_anchor = wide.groupBy("aid").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        *[F.sum(f"em_{d}").alias(f"sum_{d}") for d in dims],
        *[F.max(f"em_{d}").alias(f"max_{d}") for d in dims],
        *[
            F.sum(
                (F.col(f"em_{d}") <= F.lit(int(eps_micro))).cast("bigint")
            ).alias(f"win_{d}")
            for d in dims
        ],
        *[_best(d) for d in dims],
    )
    fan = per_anchor.select(
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(d)).alias("dim"),
                        F.col(f"sum_{d}").alias("s"),
                        F.col(f"max_{d}").alias("m"),
                        F.col(f"win_{d}").alias("w"),
                        (F.col(f"best_{d}") == F.col(f"best_{full}"))
                        .cast("bigint")
                        .alias("agree"),
                    )
                    for d in dims
                ]
            )
        ).alias("e"),
    ).select("cnt", "e.dim", "e.s", "e.m", "e.w", "e.agree")
    out = fan.groupBy("dim").agg(
        F.sum("cnt").alias("n_pairs"),
        F.sum("s").alias("sum_abs_err_micro"),
        F.max("m").alias("max_abs_err_micro"),
        F.sum("w").alias("n_within_eps"),
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum("agree").alias("n_top1_agree"),
    )
    return out.select(
        F.col("dim").cast("int").alias("dim"),
        "n_pairs",
        "sum_abs_err_micro",
        "max_abs_err_micro",
        F.round(
            F.col("sum_abs_err_micro")
            / F.lit(1_000_000.0)
            / F.col("n_pairs"),
            6,
        ).alias("mean_abs_err"),
        "n_within_eps",
        F.round(F.col("n_within_eps") / F.col("n_pairs"), 6).alias(
            "frac_within_eps"
        ),
        "n_anchors",
        "n_top1_agree",
        F.round(F.col("n_top1_agree") / F.col("n_anchors"), 6).alias(
            "top1_agree_rate"
        ),
    ).orderBy("dim")


def label_noise_matrix(
    corpus: DataFrame,
    queries: "DataFrame | None" = None,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    topk=None,
) -> DataFrame:
    """Class-conditional label-noise matrix (the confident-learning
    count matrix of Northcutt et al. 2021, with the k-NN vote as the
    out-of-sample predictor — the standard embedding-space label-error
    screen): cross-tabulate each query's GIVEN label against the
    majority label of its ``k`` exact cosine neighbors.  Off-diagonal
    mass marks suspected annotation errors class-by-class — which pair
    of classes leaks into which — not just a single accuracy number
    (``knn_accuracy``).

    ``queries`` defaults to the whole corpus (leave-one-out: the vote
    already excludes self-pairs); pass a subsample for the estimator
    form at scale.  ``topk`` forwards to ``knn_label_vote`` (swap in
    ``ivf_topk`` for the partition-pruned probe at corpus scale).

    Output: (given_label, pred_label, n, n_given, rate, is_offdiag),
    ordered; ``rate`` = n / n_given (row-conditional P(pred|given)).
    Every cell is an integer count; rate is one exact division.

    Scale: the vote is ``knn_label_vote``'s shape (guarded broadcast-
    scored exact top-k, or the pruned ANN probe via ``topk``); the
    cross-tab is a ≤|classes|²-row aggregate; the row totals rejoin as
    a BROADCAST.
    """
    q = queries if queries is not None else corpus
    pred = knn_label_vote(
        corpus, q, k=k, vec_col=vec_col, id_col=id_col,
        label_col=label_col, topk=topk,
    )
    truth = q.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("bigint").alias("given_label"),
    )
    # The ≤|classes|²-row matrix feeds the row-total aggregate AND the
    # final join; without a barrier the whole kNN-vote subtree (the
    # expensive broadcast-scored top-k) executes twice per action (r17
    # optimization, guide §2.4).
    mat = reuse(
        pred.join(truth, "query_id")
        .groupBy("given_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = mat.groupBy("given_label").agg(
        F.sum("n").alias("n_given")
    )
    return (
        mat.join(F.broadcast(totals), "given_label")
        .select(
            "given_label",
            "pred_label",
            "n",
            "n_given",
            F.round(F.col("n") * F.lit(1.0) / F.col("n_given"), 6).alias(
                "rate"
            ),
            (F.col("given_label") != F.col("pred_label")).alias(
                "is_offdiag"
            ),
        )
        .orderBy("given_label", "pred_label")
    )
