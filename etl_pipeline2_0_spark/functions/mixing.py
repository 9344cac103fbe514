"""Dataset composition ops for training-data pipelines: deterministic
source mixing and token-budget sequence packing.

Both are pure DataFrame compositions — no UDFs, no collects — and both are
deterministic (hash thresholds / stable orderings), so re-running a 100 TB
job reproduces the same sample and the same packs bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline2_0_spark.functions.text import token_count
from etl_pipeline2_0_spark.operators.partitioning import reuse

# 16^15: the md5-prefix sample space.  A rate r maps to the threshold
# floor(r * 16^15); comparing the first 15 hex chars of md5(key) against
# that threshold keeps ~r of the rows, deterministically.
_HEX15_SPACE = 16**15


def rate_to_units(rate: float, unit: int) -> int:
    """Integer threshold for an md5-mod-``unit`` rate gate, rounded to
    the nearest unit (advisor-r12: truncation made 0.29 select at 28%
    in ``fim_transform`` and at 289999/1e6 in ``span_corrupt``).  The
    DuckDB twins embed literals from this same computation."""
    return int(round(float(rate) * unit))


def _md5_below_rate(key: Column, rate: Column) -> Column:
    """Deterministic per-row Bernoulli(rate) via md5 prefix comparison.

    Both sides are rendered as 16-char hex strings so the comparison is
    plain string ordering, portable to any engine with md5 + hex
    (DuckDB's ``to_hex`` mirrors Spark's ``hex``).  rate=1.0 becomes
    '1000000000000000', lexicographically above every '0'||md5-prefix, so
    full-keep is exact.
    """
    thr = F.lpad(
        F.lower(F.hex(F.floor(rate * F.lit(_HEX15_SPACE)).cast("bigint"))),
        16,
        "0",
    )
    return F.concat(F.lit("0"), F.substring(F.md5(key), 1, 15)) < thr


def mix_sources(
    docs: DataFrame,
    weights: dict[str, float],
    total_rows: int,
    key_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic dataset mixing: downsample each group so the output
    approximates ``total_rows`` rows distributed as ``weights`` (the
    "sample English at 50%, code at 10%…" pretraining-mix op).

    Per group g: rate_g = min(1, weights[g] * total_rows / n_g), then a
    deterministic md5-threshold Bernoulli per row.  Groups absent from
    ``weights`` get weight 0 (dropped) — an explicit mix is a whitelist.

    Scale: one tiny groupBy-count on the mix key (broadcast back onto the
    corpus — the key cardinality is #sources, not #docs), then a single
    narrow filter pass.  No shuffle of the corpus itself, no sort, no
    state; the output is a strict row subset so downstream pruning always
    applies.
    """
    counts = docs.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_group"))
    pairs = [p for kv in weights.items() for p in (F.lit(kv[0]), F.lit(kv[1]))]
    wmap = F.create_map(*pairs)
    rate = F.least(
        F.lit(1.0),
        F.coalesce(wmap[F.col(key_col)], F.lit(0.0))
        * F.lit(float(total_rows))
        / F.col("n_group"),
    )
    key = F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(key_col))
    return (
        docs.join(F.broadcast(counts), key_col)
        .withColumn("keep_rate", F.round(rate, 6))
        .where(_md5_below_rate(key, rate))
        .select(id_col, key_col, "keep_rate")
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment: every doc
    gets ``shuffle_rank`` = 60-bit md5 hash of (id, salt) and ``shard_id``
    = rank % ``n_shards`` — the standard reproducible "global shuffle"
    before training export (hash order is a uniform pseudorandom
    permutation, bit-identical on every run and engine; change ``salt``
    to draw a fresh permutation).

    Composes with the rest of the export pipeline: ``mix_sources`` →
    ``pack_sequences`` → ``shuffle_shards`` → ``write_shards(...,
    order_cols=["shuffle_rank"])``.

    Scale: the assignment itself is a narrow projection — NO shuffle; the
    one corpus shuffle happens only when a writer partitions by
    ``shard_id``, which is exactly the shuffle a sharded export needs
    anyway.  The hex15 hash is portable (Spark ``conv(_,16,10)`` ≡ DuckDB
    ``CAST('0x'||_ AS BIGINT)``), so the op is ANSI-oracle-checkable.
    """
    key = F.concat(F.col(id_col).cast("string"), F.lit(":"), F.lit(salt))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
    return docs.withColumn("shuffle_rank", h).withColumn(
        "shard_id", (F.col("shuffle_rank") % F.lit(n_shards)).cast("int")
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    partition_cols: "list[str] | None" = None,
    bucket_width: int = 1 << 20,
    bucket_expr: "Column | None" = None,
) -> DataFrame:
    """Streaming sequence packing: assign documents (in stable ``id_col``
    order within each pack key) to consecutive packs of ~``budget_tokens``
    whitespace tokens — the pretraining "pack documents into fixed-size
    training sequences" op, in its standard streaming-order approximation
    (a pack may overflow by at most one document; no bin-packing search).

    pack_id = floor(exclusive-prefix-sum(tokens) / budget), computed as a
    TWO-LEVEL prefix sum so no partition of the doc-row shuffle ever
    contains a whole source:

      1. docs get a bucket from a monotone function of ``id_col``
         (``floor(id / bucket_width)`` for numeric ids, a string prefix
         otherwise, or a caller-supplied ``bucket_expr``);
      2. the within-bucket exclusive prefix sum runs in a window keyed by
         (key..., bucket) — ≤ ``bucket_width`` rows per task;
      3. per-bucket token totals are cumulated into exclusive bucket
         offsets by a window over the bucket LIST (#buckets rows, not
         #docs) and broadcast back;
      4. prev = bucket_offset + within_bucket_prev, locally per row.

    The result is bit-identical to the single-window formulation for any
    ``bucket_width`` (monotone bucketing preserves the global id order,
    and the offsets restore the cross-bucket carry), so the ANSI-SQL
    oracle stays the plain one-window form.

    ``partition_cols`` overrides the pack key (default ``[source_col]``)
    for callers that pack per (source, shard) or similar.  Returns one
    row per (key..., pack).

    Scale: the doc rows shuffle twice (the bucketed window + the final
    pack aggregate, both map-side combinable); the only per-key-serial
    work is the bucket-offset window over #buckets rows.  Size
    ``bucket_width`` so #docs/bucket_width stays broadcastable (the
    default 2^20 puts a trillion-doc corpus at ~10^6 bucket rows).
    """
    keys, packed = _assign_packs(
        docs, budget_tokens, text_col, id_col, source_col,
        partition_cols, bucket_width, bucket_expr,
    )
    return packed.groupBy(*keys, "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def _assign_packs(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str,
    id_col: str,
    source_col: str,
    partition_cols: "list[str] | None",
    bucket_width: int,
    bucket_expr: "Column | None",
    tokens_expr: "Column | None" = None,
):
    """The per-doc pack assignment shared by ``pack_sequences`` (stats)
    and ``pack_texts`` (materialized sequences): returns (keys, frame with
    keys + id + n_tokens + pack_id).  ``tokens_expr`` overrides the
    whitespace ``token_count`` of ``text_col`` when the pack unit's cost
    is precomputed (``chat_pack`` packs whole conversations)."""
    keys = list(partition_cols) if partition_cols else [source_col]
    if bucket_expr is not None:
        bucket = bucket_expr
    else:
        from pyspark.sql.types import NumericType

        if isinstance(docs.schema[id_col].dataType, NumericType):
            # NULL ids sort first under orderBy; the sentinel bucket must
            # sort before every real bucket, including ones from negative
            # ids (floor of a negative id / width is negative too).
            bucket = F.coalesce(
                F.floor(F.col(id_col) / F.lit(bucket_width)).cast("bigint"),
                F.lit(-(1 << 62)),
            )
        else:
            # A fixed-length character prefix is monotone under
            # lexicographic order; '' sorts before every non-empty prefix.
            bucket = F.coalesce(
                F.substring(F.col(id_col).cast("string"), 1, 8), F.lit("")
            )
    n_tokens = (
        tokens_expr if tokens_expr is not None
        else token_count(F.col(text_col))
    )
    toks = docs.select(
        *keys,
        F.col(id_col),
        n_tokens.cast("bigint").alias("n_tokens"),
    ).withColumn("_bucket", bucket)

    # Level 1: within-bucket exclusive prefix sum.  The shuffle key is
    # (key..., bucket), so one task holds at most one bucket — never a
    # whole source.
    wb = (
        Window.partitionBy(*keys, "_bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = toks.withColumn(
        "_local_prev", F.coalesce(F.sum("n_tokens").over(wb), F.lit(0))
    )

    # Level 2: exclusive bucket offsets — a window over the bucket list
    # (#buckets rows), broadcast back onto the doc rows.
    btot = toks.groupBy(*keys, "_bucket").agg(F.sum("n_tokens").alias("_b_tokens"))
    wo = (
        Window.partitionBy(*keys)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = btot.select(
        *keys,
        "_bucket",
        F.coalesce(F.sum("_b_tokens").over(wo), F.lit(0)).alias("_b_off"),
    )

    # NULL-safe equi-join: a plain name-list join drops NULL-keyed groups
    # (e.g. docs with a NULL source), diverging from the window form and
    # the oracle's PARTITION BY, which both keep NULL partitions.  <=> is
    # still a hash-joinable equi-key, so the broadcast plan is unchanged.
    offs_r = offs.select(
        *[F.col(k).alias(f"_r_{k}") for k in keys],
        F.col("_bucket").alias("_r_bucket"),
        "_b_off",
    )
    cond = F.col("_bucket").eqNullSafe(F.col("_r_bucket"))
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_r_{k}"))
    prev = F.col("_b_off") + F.col("_local_prev")
    packed = (
        local.join(F.broadcast(offs_r), cond)
        .drop("_r_bucket", *[f"_r_{k}" for k in keys])
        .withColumn("pack_id", F.floor(prev / F.lit(budget_tokens)).cast("bigint"))
    )
    return keys, packed


def pack_texts(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    partition_cols: "list[str] | None" = None,
    bucket_width: int = 1 << 20,
    bucket_expr: "Column | None" = None,
    separator: str = " ",
) -> DataFrame:
    """Materialized sequence packing: the same assignment as
    ``pack_sequences`` (identical two-level prefix sum, identical pack
    ids) but emitting the TRAINING SEQUENCES — each pack's documents
    concatenated in ``id_col`` order with ``separator`` — plus the stats.

    Output: (key..., pack_id, n_docs, pack_tokens, seq_text).

    Scale: document text joins back on the id key ONCE (the assignment
    frame carries only ids+counts through its windows, so bodies never
    ride the prefix-sum shuffles); the concat is a per-pack aggregate of
    an id-sorted struct list — packs are ~``budget_tokens`` tokens by
    construction, so no group is unbounded.
    """
    keys, packed = _assign_packs(
        docs, budget_tokens, text_col, id_col, source_col,
        partition_cols, bucket_width, bucket_expr,
    )
    bodies = docs.select(F.col(id_col), F.col(text_col).alias("_body"))
    return (
        packed.select(*keys, id_col, "n_tokens", "pack_id")
        .join(bodies, id_col)
        .groupBy(*keys, "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(id_col, "_body"))),
                    lambda x: x["_body"],
                ),
                separator,
            ).alias("seq_text"),
        )
    )


def curriculum_buckets(
    df: DataFrame,
    score_col: Column,
    id_col: str = "doc_id",
    n_buckets: int = 10,
):
    """Curriculum bucketing WITHOUT a global sort: assign each row to a
    difficulty bucket (0 = easiest … n_buckets-1) by its score's position
    among the corpus's interpolated quantile thresholds.

    Curriculum learning orders training data easy→hard; a global sort of
    100 TB is the one plan you never want.  Instead the n_buckets-1
    thresholds reduce to ONE broadcastable row (exact interpolated
    percentile — same cross-engine definition as ``quantile_filter``), and
    assignment is a narrow per-row count of thresholds ≤ score.  Downstream
    the bucket id becomes a write-time partition column, and within-bucket
    order comes from ``shuffle_shards``' hash rank — no corpus sort ever.

    A row AT a threshold goes to the upper bucket (``score >= t``).  NULL
    scores land in bucket 0 (comparisons with NULL count no thresholds),
    as does everything when the corpus has NO non-NULL scores (the
    thresholds themselves are NULL then — coalesced to 0).

    Output: (id, score, bucket).
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    thr = df.select(
        F.percentile(score_col, F.array(*[F.lit(p) for p in probs])).alias("thrs")
    )
    scored = df.select(F.col(id_col), score_col.alias("score"))
    return scored.crossJoin(F.broadcast(thr)).select(
        F.col(id_col),
        "score",
        F.coalesce(
            F.size(F.filter(F.col("thrs"), lambda t: F.col("score") >= t)),
            F.lit(0),
        ).cast("int").alias("bucket"),
    )


def split_thresholds(weights: "dict[str, float]") -> "list[tuple[str, str]]":
    """(name, 16-hex-char upper bound) per split, cumulative in dict order.

    Shared by ``assign_splits`` and its ANSI twin so both engines compare
    against bit-identical literals (the boundary is ``floor(cum · 16^15)``
    rendered as zero-padded hex, the same space ``_md5_below_rate`` uses).
    The last split's bound is forced to ``'1' + 15×'0'`` — above every
    ``'0'``-prefixed hash — so rounding never drops the tail row.
    """
    total = sum(weights.values())
    out, cum = [], 0.0
    names = list(weights)
    for name in names:
        cum += weights[name] / total
        bound = "1" + "0" * 15 if name == names[-1] else f"{int(cum * _HEX15_SPACE):016x}"
        out.append((name, bound))
    return out


def assign_splits(
    df: DataFrame,
    weights: "dict[str, float] | None" = None,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test split assignment: each row lands in
    exactly one named split with probability proportional to its weight,
    decided by the md5 of (id, salt) — the standard reproducible dataset
    split (same row → same split on every run, every engine, any
    partitioning; change ``salt`` to redraw).

    ``weights`` default to {train: 0.9, val: 0.05, test: 0.05}; dict order
    defines the hash-interval layout, and weights are normalized, so
    {a: 2, b: 1, c: 1} works too.  Rows are assigned, never dropped —
    the splits partition the input exactly.

    Output: input rows + a ``split`` column (narrow projection, NO shuffle;
    a write partitioned by ``split`` performs the one real shuffle).
    """
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    h = F.concat(
        F.lit("0"),
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.lit(salt))),
            1,
            15,
        ),
    )
    # CASE WHEN h < t1 THEN s1 WHEN h < t2 THEN s2 ... ELSE s_last END:
    # ascending bounds, first match wins — identical evaluation order in
    # the ANSI twin.
    pairs = split_thresholds(weights)
    expr = None
    for name, bound in pairs[:-1]:
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(pairs[-1][0]) if expr is None else expr.otherwise(pairs[-1][0])
    return df.withColumn("split", expr)


def interleave_key(
    docs: DataFrame,
    weights: "dict[str, float]",
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic ratio-faithful dataset interleaving: every row gets an
    ``ileave_key`` such that reading rows in key order yields the sources
    interleaved at their weights (a weight-2 source appears twice as often
    per unit of key space) — the HuggingFace ``interleave_datasets``
    semantics, as a sortable key instead of an iterator.

    Per row: ``rank`` = its md5-hash order position within its source
    (dense 1..n_source, the shuffle_shards permutation), and
    ``ileave_key = rank / weight(source)`` — source s's k-th row lands at
    k/w_s, so by position t each source has contributed ~t·w_s rows.
    Unknown sources get the minimum weight (appear, but last).

    Scale: the within-source rank is a TWO-LEVEL row number (the
    ``pack_sequences`` prefix-sum scheme on the hash axis): rows bucket by
    the hash's top bits (monotone in h, so order is preserved), the
    row_number windows over (source, bucket) — one bucket per task, never
    a whole source — and per-bucket counts cumulate into exclusive rank
    offsets over the #buckets-row list, broadcast back.  Bit-identical to
    the one-window rank, so the ANSI oracle stays the plain form.  The
    global order itself is never materialized: downstream writers
    ``sortWithinPartitions`` on the key (the write_shards contract),
    never a global sort.

    Output: input rows + (ileave_key DOUBLE, src_rank).
    """
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col(id_col).cast("string"), F.lit(":"), F.lit(salt))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    base = docs.withColumn("_h", h).withColumn(
        "_ibucket", F.shiftrightunsigned(F.col("_h"), 44)
    )
    w_local = Window.partitionBy(key_col, "_ibucket").orderBy(
        "_h", F.col(id_col)
    )
    local = base.withColumn("_local_rank", F.row_number().over(w_local))
    bcnt = base.groupBy(key_col, "_ibucket").agg(
        F.count(F.lit(1)).alias("_bn")
    )
    w_off = (
        Window.partitionBy(key_col)
        .orderBy("_ibucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bcnt.select(
        F.col(key_col).alias("_r_key"),
        F.col("_ibucket").alias("_r_ibucket"),
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_rank_off"),
    )
    cond = F.col("_ibucket").eqNullSafe(F.col("_r_ibucket")) & F.col(
        key_col
    ).eqNullSafe(F.col("_r_key"))
    min_w = min(weights.values())
    pairs = [p for kv in weights.items() for p in (F.lit(kv[0]), F.lit(kv[1]))]
    wmap = F.create_map(*pairs)
    weight = F.coalesce(wmap[F.col(key_col)], F.lit(float(min_w)))
    return (
        local.join(F.broadcast(offs), cond)
        .withColumn(
            # bigint: a source past ~2.1B rows (plausible at 100 TB) would
            # overflow int32 and corrupt both src_rank and the interleave
            # order (r8 advisor finding).
            "src_rank",
            (F.col("_rank_off") + F.col("_local_rank")).cast("bigint"),
        )
        .withColumn("ileave_key", F.round(F.col("src_rank") / weight, 6))
        .drop("_h", "_ibucket", "_local_rank", "_r_key", "_r_ibucket", "_rank_off")
    )


def temperature_mix_weights(
    docs: DataFrame,
    alpha: float = 0.5,
    group_col: str = "source",
    text_col: str = "text",
    epoch_docs: int = 10_000,
) -> DataFrame:
    """Temperature-based source sampling weights (the mT5/XLM-R multilingual
    mixing rule, public): w_i = n_i^α / Σ_j n_j^α over per-source token
    masses.  α=1 reproduces natural proportions; α→0 flattens toward
    uniform — the standard knob for up-sampling low-resource sources
    without a hand-tuned mix table (``mix_sources`` then consumes the
    weights).

    Output: (source, n_tokens, weight, expected_docs) — weight rounded to
    6dp, expected_docs = floor(epoch_docs · w_i) for a target epoch size.

    Scale: one map-side-combinable aggregate to #sources rows; the
    normalization is a broadcast crossJoin of a 1-row sum.  NULL-source
    docs group under the NULL key like any other (groupBy is null-safe).
    """
    sizes = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.sum(token_count(F.col(text_col))).cast("bigint").alias("n_tokens")
    )
    powered = sizes.select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))).alias("_p"),
    )
    total = powered.agg(F.sum("_p").alias("_tot"))
    return (
        powered.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("_p") / F.col("_tot"), 6).alias("weight"),
            F.floor(F.lit(int(epoch_docs)) * F.col("_p") / F.col("_tot"))
            .cast("bigint")
            .alias("expected_docs"),
        )
    )


# ------------------------------------------------------- DSIR selection ----


def _ngrams_of(toks: Column, k: int) -> Column:
    """All (non-distinct) k-grams over an ALREADY-MATERIALIZED token array
    column — occurrence counts matter for importance estimation, so unlike
    ``dedup.token_shingles`` duplicates are KEPT.  Fewer than k tokens
    yields an empty array (ANSI guard: sequence(1,0) runs backwards).

    ``toks`` must be a plain column reference, never the tokenizer
    expression itself: a lambda body re-evaluates its subexpressions per
    element, so an inlined regex tokenizer here goes O(tokens²) per doc —
    the minhash_signatures trap; measured 3.4× end-to-end on DSIR
    featurization at sf0.1."""
    n = F.size(toks)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
) -> DataFrame:
    """DSIR featurization (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): every unigram and bigram hashed
    into ``num_buckets`` buckets; one output row per OCCURRENCE.

    The bucket hash is the repo's portable md5-hex15 scheme, so the DuckDB
    twin reproduces bucket ids exactly.  Tokenization runs ONCE per doc
    (its own projection — the n-gram lambda sees a column reference;
    CollapseProject keeps the split because the alias is multiply
    referenced).  Output: (doc_id, bucket).
    """
    tokd = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\W+"),
            lambda t: F.length(t) > 0,
        ).alias("_toks"),
    )
    c = F.col("_toks")
    return tokd.select(
        "doc_id",
        F.explode(F.concat(_ngrams_of(c, 1), _ngrams_of(c, 2))).alias("_g"),
    ).select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10).cast("bigint"),
            F.lit(num_buckets),
        ).alias("bucket"),
    )


def dsir_log_weights(
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-document DSIR importance log-weight: how much more likely the
    doc's hashed-n-gram features are under the TARGET distribution than
    under the raw-corpus distribution,

        log w(x) = Σ_features [ log p_target(b) − log p_raw(b) ],

    with add-``smoothing`` estimates over ``num_buckets`` buckets.  Docs
    scoring high look like the target domain; feeding the weights to
    ``dsir_gumbel_sample`` reproduces the paper's importance resampling.

    Scale shape: two bounded aggregates (≤ num_buckets rows each) build
    the log-ratio table, which BROADCASTS back onto one exploded corpus
    pass — no shuffle wider than the per-doc sum, corpus-size-linear.
    Zero-token docs have no features and drop out (weight log 1 = 0 with
    no evidence — emit them via a left join downstream if needed).

    Output: (doc_id, n_features, log_weight).
    """
    # feats feeds the raw marginal AND the scoring join; the compact
    # (doc_id, bucket) rows materialize once instead of re-running the
    # explode+md5 corpus pass per consumer.
    feats = reuse(hashed_ngram_features(df, text_col, id_col, num_buckets))
    tfeats = hashed_ngram_features(target_df, text_col, id_col, num_buckets)
    # Side-tagged union → ONE map-side-combinable aggregate builds both
    # marginals (a full-outer join of the two count tables would compile
    # to a SortMergeJoin and re-derive the corpus aggregate per consumer).
    dist = (
        feats.select(
            "bucket", F.lit(1).alias("is_raw"), F.lit(0).alias("is_tgt")
        )
        .unionAll(
            tfeats.select(
                "bucket", F.lit(0).alias("is_raw"), F.lit(1).alias("is_tgt")
            )
        )
        .groupBy("bucket")
        .agg(F.sum("is_raw").alias("c_raw"), F.sum("is_tgt").alias("c_tgt"))
    )
    # dist is ≤ num_buckets rows but feeds two consumers (totals + ratio);
    # the barrier materializes the corpus aggregate exactly once, so
    # the whole job is two corpus passes: build the ratio table, score.
    dist = reuse(dist)
    totals = dist.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    a = float(smoothing)
    b = float(num_buckets)
    ratio = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("c_tgt") + a) / (F.col("t_tgt") + a * b))
            - F.log((F.col("c_raw") + a) / (F.col("t_raw") + a * b))
        ).alias("log_ratio"),
    )
    return (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.round(F.sum("log_ratio"), 6).alias("log_weight"),
        )
    )


def dsir_gumbel_sample(
    df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    smoothing: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """DSIR's importance RESAMPLING step: k docs sampled without
    replacement with probability ∝ exp(log_weight), via the Gumbel-top-k
    trick — rank by log_weight + Gumbel noise and keep the top k.

    The Gumbel draw is deterministic-portable: u = (md5-hex15(id:salt)+1)
    / (16^15+2) ∈ (0,1), g = −ln(−ln u) — same row, same draw, any
    engine, any partitioning; change ``salt`` to redraw.  The top-k is a
    bounded TakeOrdered, never a global sort.

    Output: (doc_id, log_weight, sample_key), the k selected docs.
    """
    w = dsir_log_weights(
        df, target_df, text_col, id_col, num_buckets, smoothing
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.lit(salt))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_HEX15_SPACE) + 2.0)
    return (
        w.select(
            "doc_id",
            "log_weight",
            F.round(F.col("log_weight") - F.log(-F.log(u)), 6).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(int(k))
    )


def doremi_weights(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    steps: int = 10,
    eta: float = 1.0,
    smooth: float = 0.01,
    prefix_len: int = 200,
) -> DataFrame:
    """Domain reweighting via exponentiated-gradient ascent — the DoReMi
    update (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up
    Language Model Pretraining"), static-proxy variant: the per-domain
    excess loss is measured ONCE from the corpus's own char-bigram LM
    (the CCNet perplexity proxy, ``text.char_bigram_lm_scores``) instead
    of being re-estimated by a proxy model each step,

        excess(d) = max(0, L(d) − min_d' L(d'))          (clipped, §3.1)
        w ← (1−smooth) · normalize(w · exp(η·excess)) + smooth/D,

    iterated ``steps`` times from uniform.  High-perplexity (hard)
    domains gain weight, the uniform-smoothing term keeps every domain
    sampled — the paper's Group-DRO shape with its per-step clipping and
    smoothing intact.

    Scale shape: ONE corpus scoring pass (two passes inside the LM
    build), then one tiny aggregate to D = #domains rows; the EG loop
    runs on that D-row frame (crossJoin-agg normalizers, never a global
    window), so iteration cost is independent of corpus size — the BPE
    broadcast-loop discipline.  Nothing is collected.

    Returns (domain, loss, excess, weight) rounded to 6 dp; weights sum
    to 1 up to rounding.
    """
    from etl_pipeline2_0_spark.functions import text as _text

    scored = _text.char_bigram_lm_scores(df, text_col, id_col, prefix_len)
    # bounded ≤|domains|-row frame consumed by the stream side AND
    # the min/count broadcast — without a barrier the whole
    # char-bigram LM chain executes twice per action (r17
    # optimization, guide §2.4)
    dom = reuse(
        df.select(F.col(id_col).alias("doc_id"), F.col(domain_col).alias("domain"))
        .join(scored, "doc_id")
        .groupBy("domain")
        .agg(F.avg(-F.col("avg_logp")).alias("loss"))
    )
    base = dom.crossJoin(
        F.broadcast(
            dom.agg(
                F.min("loss").alias("_mn"),
                F.count(F.lit(1)).cast("double").alias("_nd"),
            )
        )
    ).select(
        "domain",
        "loss",
        F.greatest(F.col("loss") - F.col("_mn"), F.lit(0.0)).alias("excess"),
        "_nd",
    )
    # The boost factor is static across steps (static proxy ⇒ exp() runs
    # once; the loop is pure rational arithmetic — engine-portable).
    base = reuse(base.withColumn(
        "boost", F.exp(F.lit(float(eta)) * F.col("excess"))
    ))
    w = base.withColumn("w", F.lit(1.0) / F.col("_nd"))
    s = float(smooth)
    for _ in range(int(steps)):
        # Per-step lineage barrier (the BPE-loop discipline): without it
        # each step's normalizer nests the whole prior tree, and the
        # 10-deep plan costs ~10 s in planning/overhead at sf0.1
        # (measured); with it the loop is `steps` trivial D-row jobs.
        w = reuse(w)
        z = w.agg(F.sum(F.col("w") * F.col("boost")).alias("_z"))
        w = (
            w.crossJoin(F.broadcast(z))
            .withColumn(
                "w",
                F.lit(1.0 - s) * F.col("w") * F.col("boost") / F.col("_z")
                + F.lit(s) / F.col("_nd"),
            )
            .drop("_z")
        )
    return w.select(
        "domain",
        F.round("loss", 6).alias("loss"),
        F.round("excess", 6).alias("excess"),
        F.round("w", 6).alias("weight"),
    )


def pack_efficiency(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Packing-efficiency audit over ``pack_sequences``: per source, how
    well the streaming packer fills its ``budget_tokens`` sequences —
    the number a pipeline owner watches before paying for a smarter
    (bin-packing) packer.  Fill = pack_tokens / budget; the LAST pack of
    a source is usually a partial fill and streaming packs may overflow
    by at most one document, so both tails are reported:

      (source, n_packs, total_tokens, avg_fill, p10_fill, p90_fill,
       overflow_frac, underfill_tokens)

    where ``underfill_tokens`` sums max(0, budget − pack_tokens) —
    tokens of padding a trainer would burn at this packing.

    Scale: one aggregate over pack_sequences' per-pack output (already
    ≪ corpus rows); exact per-source percentiles over pack counts, not
    docs.  Rounded to 6 dp for the engine-parity contract.
    """
    packs = pack_sequences(
        docs, budget_tokens, text_col, id_col, source_col,
        bucket_width=bucket_width,
    )
    fill = F.col("pack_tokens") / F.lit(float(budget_tokens))
    return (
        packs.withColumn("fill", fill)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_packs"),
            F.sum("pack_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("fill"), 6).alias("avg_fill"),
            F.round(F.percentile("fill", 0.1), 6).alias("p10_fill"),
            F.round(F.percentile("fill", 0.9), 6).alias("p90_fill"),
            F.round(
                F.avg(F.when(F.col("fill") > 1.0, 1.0).otherwise(0.0)), 6
            ).alias("overflow_frac"),
            F.sum(
                F.greatest(
                    F.lit(budget_tokens) - F.col("pack_tokens"), F.lit(0)
                )
            ).cast("bigint").alias("underfill_tokens"),
        )
    )


def unimax_allocation(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    budget_frac: float = 1.0,
    epoch_cap: float = 2.0,
) -> DataFrame:
    """UniMax sampling (Chung et al. 2023, "UniMax: Fairer and More
    Effective Language Sampling for Large-Scale Multilingual Pretraining"):
    allocate a total token budget across groups (languages/domains) as
    uniformly as possible, capping every group at ``epoch_cap`` epochs of
    its own data.  The paper's sequential greedy loop has a closed
    waterfilling form: sort groups by cap ascending; group i is capped iff
    cap_i · (slots remaining) ≤ budget remaining, and capped groups form a
    PREFIX of that order (caps ascending ⇒ once the uniform share drops
    below a cap it stays below every later cap), so the cut index k is the
    first violation minus one and every group past k gets the equal share
    (B − Σ_{i≤k} cap_i) / (L − k).

    Budget is ``budget_frac`` × total corpus tokens (whitespace words, the
    ``token_count`` class).  Output, one row per group:
    (``group_col``, n_tokens, cap_tokens, alloc_tokens, epochs, capped),
    doubles rounded to 6dp.

    Scale shape: one narrow projection + hash aggregate collapses the
    corpus to ONE ROW PER GROUP (map-side combine; the shuffle carries
    per-partition partials).  Everything after — the global-order window,
    the two scalar aggregates, the broadcast joins — runs on that
    group-count-sized relation (languages/domains: at most thousands of
    rows at 100 TB), so the single-partition window is bounded by
    construction, never by data volume.  All double arithmetic is
    fixed-order (window ordered by (cap, group)), so the DuckDB twin
    reproduces bit-identical flags and allocations.
    """
    ws_toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[ \t\n\r\x0B\x0C]+"),
        lambda x: F.length(x) > 0,
    )
    per = (
        df.select(F.col(group_col).alias("grp"), F.size(ws_toks).alias("nt"))
        .groupBy("grp")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    tot = per.agg(
        F.sum("n_tokens").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("int").alias("_L"),
    )
    w = Window.orderBy("cap_tokens", "grp")
    staged = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "grp",
            "n_tokens",
            "_L",
            (F.lit(float(epoch_cap)) * F.col("n_tokens")).alias("cap_tokens"),
            (F.lit(float(budget_frac)) * F.col("_total")).alias("_B"),
        )
        .select(
            "*",
            F.row_number().over(w).alias("_idx"),
            F.coalesce(
                F.sum("cap_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            ).alias("_cum_before"),
        )
        .select(
            "*",
            (
                F.col("cap_tokens") * (F.col("_L") - F.col("_idx") + 1)
                <= F.col("_B") - F.col("_cum_before")
            ).alias("_flag"),
        )
    )
    # First violation index; NULL means every group is capped (budget
    # exceeds epoch_cap × corpus).  Flags past the first violation are
    # meaningless (their _cum_before includes uncapped rows) and ignored.
    cut = staged.agg(
        F.min(F.when(~F.col("_flag"), F.col("_idx"))).alias("_f")
    )
    staged2 = staged.crossJoin(F.broadcast(cut))
    spent = staged2.agg(
        F.sum(
            F.when(
                F.col("_f").isNull() | (F.col("_idx") < F.col("_f")),
                F.col("cap_tokens"),
            ).otherwise(0.0)
        ).alias("_spent"),
        F.sum(
            F.when(
                F.col("_f").isNotNull() & (F.col("_idx") >= F.col("_f")),
                1,
            ).otherwise(0)
        ).cast("int").alias("_n_uncapped"),
    )
    capped = F.col("_f").isNull() | (F.col("_idx") < F.col("_f"))
    share = F.when(
        F.col("_n_uncapped") > 0,
        (F.col("_B") - F.col("_spent")) / F.col("_n_uncapped"),
    ).otherwise(F.lit(0.0))
    alloc = F.when(capped, F.col("cap_tokens")).otherwise(share)
    return (
        staged2.crossJoin(F.broadcast(spent))
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            F.round("cap_tokens", 6).alias("cap_tokens"),
            F.round(alloc, 6).alias("alloc_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0, alloc / F.col("n_tokens")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("epochs"),
            capped.alias("capped"),
        )
    )


def data_budget_plan(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    epochs: float = 4.0,
    r_star: float = 15.4,
) -> DataFrame:
    """Data-constrained scaling planner (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): repeating a corpus past
    one epoch yields exponentially diminishing value, with fitted decay
    constant R*_D ≈ 15.4 repeat-epochs.  For each group with U unique
    tokens trained for E epochs, the effective (loss-equivalent fresh)
    token count is

        D' = min(E, 1)·U  +  U · R* · (1 − exp(−max(E − 1, 0) / R*))

    so E = 1 gives exactly U, and E → ∞ saturates at U·(1 + R*).
    Output: (``group_col``, n_tokens, requested_tokens, effective_tokens,
    efficiency = D'/D), 6dp-rounded.

    Scale shape: one hash aggregate collapses the corpus to a row per
    group (map-side combined); the formula is a pure projection after.
    """
    ws_toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[ \t\n\r\x0B\x0C]+"),
        lambda x: F.length(x) > 0,
    )
    per = (
        df.select(F.col(group_col).alias("grp"), F.size(ws_toks).alias("nt"))
        .groupBy("grp")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    u = F.col("n_tokens").cast("double")
    e = F.lit(float(epochs))
    rs = F.lit(float(r_star))
    requested = e * u
    effective = F.least(e, F.lit(1.0)) * u + u * rs * (
        F.lit(1.0) - F.exp(-F.greatest(e - 1, F.lit(0.0)) / rs)
    )
    return per.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        F.round(requested, 6).alias("requested_tokens"),
        F.round(effective, 6).alias("effective_tokens"),
        F.round(
            F.when(requested > 0, effective / requested).otherwise(F.lit(0.0)),
            6,
        ).alias("efficiency"),
    )


def stratified_sample(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    quota: int = 50,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum quota sample: within each group, keep
    the ``quota`` rows with the smallest md5(id:salt) — a reproducible
    uniform draw (the repo's md5-threshold convention), exactly
    replayable in SQL.  Strata smaller than the quota are kept whole.

    Output: (``group_col``, ``id_col``, rnk) with rnk ∈ [1, quota].

    Scale shape: one shuffle by group + a per-group ranking window.  The
    window partitions by the stratum key, so parallelism is the number
    of strata; heavily-skewed strata rank more rows but carry no state
    beyond the running counter.
    """
    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    )
    w = Window.partitionBy("grp").orderBy("_key", id_col)
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col),
            key.alias("_key"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= quota)
        .select(
            F.col("grp").alias(group_col),
            id_col,
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def domain_concentration(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-concentration dashboard row: how unevenly the token mass is
    spread over domains.  One output row with the standard concentration
    measures over per-group token shares p_i:
      - ``hhi``: Herfindahl–Hirschman index Σ p_i² (1/n uniform → 1.0
        monopoly),
      - ``entropy`` (nats) and ``effective_groups`` = exp(H) — the
        "equivalent number of equally-sized domains",
      - ``gini``: (2 Σ i·p_(i) − (n+1)) / n over ascending-sorted shares,
      - ``top_share``: the largest single domain's share.
    All 6dp-rounded; the DuckDB twin replays the sort-rank Gini exactly.

    Scale shape: one hash aggregate to a row per group, one bounded
    window over that group-sized relation, one final scalar aggregate.
    """
    ws_toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[ \t\n\r\x0B\x0C]+"),
        lambda x: F.length(x) > 0,
    )
    per = (
        df.select(F.col(group_col).alias("grp"), F.size(ws_toks).alias("nt"))
        .groupBy("grp")
        .agg(F.sum("nt").cast("double").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").alias("_total"))
    shared = per.crossJoin(F.broadcast(tot)).select(
        "grp", (F.col("n_tokens") / F.col("_total")).alias("p")
    )
    w = Window.orderBy("p", "grp")
    ranked = shared.select(
        "p", F.row_number().over(w).cast("double").alias("i")
    )
    n = F.count(F.lit(1)).cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.round(F.sum(F.col("p") * F.col("p")), 6).alias("hhi"),
        F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"),
        F.round(F.exp(-F.sum(F.col("p") * F.log("p"))), 6).alias(
            "effective_groups"
        ),
        F.round(
            (2 * F.sum(F.col("i") * F.col("p")) - (n + 1)) / n, 6
        ).alias("gini"),
        F.round(F.max("p"), 6).alias("top_share"),
    )


def span_corrupt(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    density: float = 0.05,
    max_span: int = 3,
    salt: str = "",
) -> DataFrame:
    """T5-style span-corruption example construction (Raffel et al. 2020
    §3.1.4 — the denoising objective behind T5/UL2 pretraining): replace
    deterministic token spans with ordered sentinels, emitting the
    (inputs, targets) pair a seq2seq trainer consumes,

        inputs:  "tok tok <extra_id_0> tok <extra_id_1> tok …"
        targets: "<extra_id_0> dropped toks <extra_id_1> … <extra_id_N>"

    Span placement is hash-deterministic (the repo's md5 scheme, never
    rand() — retried tasks and the DuckDB twin reproduce it exactly):
    token i starts a span when md5(doc:i:s:salt) mod 1e6 < density·1e6,
    with length 1 + md5(doc:i:l:salt) mod ``max_span``; overlapping or
    adjacent-by-coverage spans MERGE into one sentinel, exactly like the
    paper's implementation.

    Scale shape: one tokenize + posexplode per doc (pre-partitioned by
    id so every downstream window — coverage lookback, span ordinal,
    reassembly — shares ONE exchange), windows are doc-partitioned
    (never global), and the reassembly is a per-doc ordered string_agg.
    Whitespace tokenization (``token_count`` semantics) keeps raw
    tokens; sentinels follow the T5 vocabulary convention.

    Output: (doc_id, n_tokens, n_spans, inputs, targets); docs with zero
    tokens are dropped (no example to build).
    """
    from pyspark.sql.window import Window

    thr = rate_to_units(density, 1_000_000)
    tokd = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.col(text_col), r"[ \t\n\r\x0B\x0C]+"),
            lambda t: F.length(t) > 0,
        ).alias("_toks"),
    ).where(F.size("_toks") > 0)
    tokd = tokd.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    rows = tokd.select(
        "doc_id", F.posexplode("_toks").alias("pos", "tok")
    ).select(
        "doc_id", (F.col("pos") + 1).alias("pos"), "tok"
    )

    def _h(tag):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("pos").cast("string"),
                        F.lit(tag),
                        F.lit(salt),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")

    marked = rows.select(
        "doc_id",
        "pos",
        "tok",
        (F.pmod(_h("s"), F.lit(1_000_000)) < thr).alias("is_start"),
        (F.lit(1) + F.pmod(_h("l"), F.lit(int(max_span))))
        .cast("int")
        .alias("span_len"),
    )
    w_cov = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(int(max_span) - 1), 0)
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    covered = (
        F.max(
            F.when(F.col("is_start"), F.col("pos") + F.col("span_len"))
        ).over(w_cov)
        > F.col("pos")
    )
    c = marked.withColumn("covered", F.coalesce(covered, F.lit(False)))
    c = c.withColumn(
        "new_span",
        F.col("covered")
        & ~F.coalesce(F.lag("covered", 1).over(w_ord), F.lit(False)),
    ).withColumn(
        "span_k",
        (F.sum(F.col("new_span").cast("int")).over(w_ord) - 1).cast("int"),
    )
    sentinel = lambda k: F.concat(  # noqa: E731
        F.lit("<extra_id_"), k.cast("string"), F.lit(">")
    )
    pieces = c.select(
        "doc_id",
        "pos",
        "new_span",
        F.when(~F.col("covered"), F.col("tok"))
        .when(F.col("new_span"), sentinel(F.col("span_k")))
        .alias("p_in"),
        F.when(
            F.col("new_span"),
            F.concat(sentinel(F.col("span_k")), F.lit(" "), F.col("tok")),
        )
        .when(F.col("covered"), F.col("tok"))
        .alias("p_tg"),
    )

    def _joined(col):
        return F.array_join(
            F.filter(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col(col)))
                    ),
                    lambda x: x[col],
                ),
                lambda x: x.isNotNull(),
            ),
            " ",
        )

    agg = pieces.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("new_span").cast("int")).cast("bigint").alias("n_spans"),
        _joined("p_in").alias("inputs"),
        _joined("p_tg").alias("_tg"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "inputs",
        F.when(F.col("n_spans") == 0, F.lit("")).otherwise(
            F.concat(F.col("_tg"), F.lit(" "), sentinel(F.col("n_spans")))
        ).alias("targets"),
    )


def fim_transform(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fim_rate: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Fill-in-the-middle example construction (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle" — the
    FIM transformation applied to a deterministic fraction of docs in
    code/text pretraining mixes): split the document at two hash-chosen
    character cuts into (prefix, middle, suffix) and emit the re-ordered
    sequence with sentinel tags,

        PSM: <PRE> prefix <SUF> suffix <MID> middle
        SPM: <SUF> suffix <PRE> prefix <MID> middle

    mode chosen 50/50 by hash (the paper's joint PSM+SPM training).
    Docs outside the ``fim_rate`` fraction (or shorter than 3 chars)
    pass through with mode 'none' — exactly the rate semantics of
    production FIM mixes.  All choices are md5-deterministic (doc id +
    ``salt``): retried tasks and the DuckDB twin reproduce the examples
    bit-for-bit.

    Scale shape: a single narrow projection — no shuffle, no explode;
    runs at scan speed like the Gopher battery.

    Output: (doc_id, mode, n_chars, fim_text).
    """
    thr = rate_to_units(fim_rate, 100)

    def _h(tag):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col(id_col).cast("string"),
                        F.lit(tag),
                        F.lit(salt),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")

    L = F.length(text_col)
    do_fim = (F.pmod(_h("fim"), F.lit(100)) < thr) & (L >= 3)
    c1 = (F.lit(1) + F.pmod(_h("c1"), L)).cast("int")
    c2 = (F.lit(1) + F.pmod(_h("c2"), L)).cast("int")
    lo, hi = F.least(c1, c2), F.greatest(c1, c2)
    t = F.col(text_col)
    prefix = t.substr(F.lit(1), lo - 1)
    middle = t.substr(lo, hi - lo)
    suffix = t.substr(hi, L - hi + 1)
    spm = F.pmod(_h("mode"), F.lit(2)) == 1
    psm_text = F.concat(
        F.lit("<PRE>"), prefix, F.lit("<SUF>"), suffix, F.lit("<MID>"), middle
    )
    spm_text = F.concat(
        F.lit("<SUF>"), suffix, F.lit("<PRE>"), prefix, F.lit("<MID>"), middle
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(~do_fim, F.lit("none"))
        .when(spm, F.lit("spm"))
        .otherwise(F.lit("psm"))
        .alias("mode"),
        L.cast("bigint").alias("n_chars"),
        F.when(~do_fim, t)
        .when(spm, spm_text)
        .otherwise(psm_text)
        .alias("fim_text"),
    )


def ul2_mix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
    r_density: float = 0.15,
    r_span: int = 3,
    x_density: float = 0.5,
    x_span: int = 8,
) -> DataFrame:
    """UL2 mixture-of-denoisers example construction (Tay et al. 2022,
    "UL2: Unifying Language Learning Paradigms" — the R/X/S denoiser mix
    behind UL2/PaLM-2-style pretraining): each document is
    hash-assigned one paradigm,

      R (regular):   T5 span corruption at ``r_density``/``r_span``,
      X (extreme):   heavy corruption at ``x_density``/``x_span``,
      S (sequential): prefix-LM — a hash-chosen cut inside the middle
                      half of the token stream; inputs = prefix,
                      targets = continuation,

    with the paper's paradigm token ([R]/[X]/[S]) prepended to inputs.
    Everything is md5-deterministic (doc id + ``salt``): retried tasks
    and the DuckDB twin reproduce the mix bit-for-bit.

    Composition contract: R and X are exactly ``span_corrupt`` on the
    mode-filtered slices (same thresholds, same merge semantics), so the
    splice-back reconstruction invariant holds per paradigm; S keeps
    prefix + ' ' + targets == the whitespace-normalized token stream.
    Docs with zero tokens are dropped (no example); S additionally needs
    ≥ 2 tokens (a non-empty prefix AND continuation).

    Scale shape: the mode gate is a narrow projection; R/X inherit
    span_corrupt's one-exchange shape on their slices; S is one
    tokenize + two array slices — no shuffle at all.  The union is
    partition-local.

    Output: (doc_id, denoiser, n_tokens, n_spans, inputs, targets);
    n_spans is 0 for the S paradigm.
    """
    def _h(tag):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col(id_col).cast("string"),
                        F.lit(tag),
                        F.lit(salt),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")

    base = df.withColumn("_ul2m", _h("ul2") % 3)

    def _branded(out, token, name):
        return out.select(
            "doc_id",
            F.lit(name).alias("denoiser"),
            "n_tokens",
            "n_spans",
            F.concat(F.lit(token + " "), F.col("inputs")).alias("inputs"),
            "targets",
        )

    r_out = _branded(
        span_corrupt(
            base.where(F.col("_ul2m") == 0), text_col, id_col,
            r_density, r_span, salt,
        ),
        "[R]", "r",
    )
    x_out = _branded(
        span_corrupt(
            base.where(F.col("_ul2m") == 1), text_col, id_col,
            x_density, x_span, salt,
        ),
        "[X]", "x",
    )
    tokd = (
        base.where(F.col("_ul2m") == 2)
        .select(
            F.col(id_col).alias("doc_id"),
            F.filter(
                F.split(F.col(text_col), r"[ \t\n\r\x0B\x0C]+"),
                lambda t: F.length(t) > 0,
            ).alias("_toks"),
            _h("cut").alias("_hc"),
        )
        .where(F.size("_toks") >= 2)
    )
    n = F.size("_toks")
    lo = F.greatest(F.lit(1), F.floor(n / 4)).cast("int")
    cut = (lo + F.pmod(F.col("_hc"), F.greatest(n - 2 * lo + 1, F.lit(1)))
           ).cast("int")
    s_out = tokd.select(
        "doc_id",
        F.lit("s").alias("denoiser"),
        n.cast("bigint").alias("n_tokens"),
        F.lit(0).cast("bigint").alias("n_spans"),
        F.concat(
            F.lit("[S] "), F.array_join(F.slice(F.col("_toks"), 1, cut), " ")
        ).alias("inputs"),
        F.array_join(
            F.slice(F.col("_toks"), cut + 1, n - cut), " "
        ).alias("targets"),
    )
    return r_out.unionByName(x_out).unionByName(s_out)


def sft_pack(
    df: DataFrame,
    budget_tokens: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Instruction-tuning (SFT) sequence packing with LOSS-MASK
    accounting: each document becomes one (prompt, response) example by
    a hash-deterministic cut inside the middle half of its token stream
    (the ``ul2_mix`` S-denoiser split — a fully-oracled stand-in for
    real instruction/response pairs), examples pack into
    ~``budget_tokens`` sequences per source in stable id order
    (``pack_sequences`` semantics), and every pack reports how many of
    its tokens are response (loss-bearing) vs prompt (masked) — the
    number an SFT trainer's loss masking actually budgets by.  Packs
    whose loss fraction collapses (prompt-heavy data) are the standard
    reason SFT runs waste step budget; this makes that visible per
    pack.

    Docs with < 2 tokens are dropped BEFORE packing (an example needs a
    non-empty prompt AND response), so pack space is never spent on
    empty examples.

    Scale shape: the cut is a narrow projection; pack assignment is the
    shared two-level bucketed prefix sum (``_assign_packs`` — no
    partition ever holds a whole source); the mask accounting rides the
    same per-pack aggregate.  One id-keyed join of two narrow frames.

    Output: (source, pack_id, n_examples, pack_tokens, prompt_tokens,
    response_tokens, loss_frac rounded 6 dp).
    """
    toks = F.filter(
        F.split(F.col(text_col), r"[ \t\n\r\x0B\x0C]+"),
        lambda t: F.length(t) > 0,
    )
    filtered = df.where(F.size(toks) >= 2)
    hc = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col(id_col).cast("string"),
                    F.lit("cut"), F.lit(salt),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    n = F.size(toks)
    lo = F.greatest(F.lit(1), F.floor(n / 4)).cast("int")
    n_prompt = (lo + F.pmod(hc, F.greatest(n - 2 * lo + 1, F.lit(1)))).cast(
        "int"
    )
    exf = filtered.select(F.col(id_col), n_prompt.alias("_np"))
    keys, packed = _assign_packs(
        filtered, budget_tokens, text_col, id_col, source_col,
        None, bucket_width, None,
    )
    return (
        packed.join(exf, id_col)
        .groupBy(*keys, "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_examples"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.sum("_np").cast("bigint").alias("prompt_tokens"),
            F.sum(F.col("n_tokens") - F.col("_np"))
            .cast("bigint")
            .alias("response_tokens"),
            F.round(
                F.sum(F.col("n_tokens") - F.col("_np"))
                / F.sum("n_tokens"),
                6,
            ).alias("loss_frac"),
        )
    )


def _chat_turns(df, turns_per_conv, text_col, id_col, source_col):
    """Shared turn table for the chat family: conversation id (fixed-size
    id blocks — deterministic, engine-portable), per-conversation turn
    index in id order, alternating roles (odd = user, even = assistant,
    user first), whitespace token count per turn."""
    turn = df.select(
        F.col(source_col),
        F.col(id_col),
        F.floor(F.col(id_col) / turns_per_conv).cast("bigint").alias(
            "conv_id"
        ),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
        token_count(F.coalesce(F.col(text_col), F.lit("")))
        .cast("bigint")
        .alias("_nt"),
    )
    w = Window.partitionBy("conv_id").orderBy(id_col)
    return turn.withColumn(
        "turn_idx", F.row_number().over(w).cast("int")
    ).withColumn(
        "_is_user", F.col("turn_idx") % 2 == 1
    )


def chat_assemble(
    df: DataFrame,
    turns_per_conv: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Multi-turn conversation assembly — the instruction-data shape next
    to ``sft_pack``/``dpo_pairs`` (single-turn) the r13 verdict called
    out: group turns by conversation id, order by turn index, render the
    role-tagged sequence, and account the per-role loss mask.

    The corpus plays the turn pool: consecutive fixed-size id blocks
    form a conversation (``conv_id = floor(id / turns_per_conv)`` — a
    deterministic, fully-oracled stand-in for a real conversation key),
    turns order by id, roles alternate user-first.  Rendering prepends
    one role tag per turn (``<|user|>`` / ``<|assistant|>``, 1 token
    each); the loss mask follows chat-SFT convention — assistant TEXT
    tokens bear loss, user tokens and ALL role tags are masked.

    Output, one row per conversation: (conv_id, source = first turn's
    source, n_turns, conv_tokens, masked_tokens, loss_tokens, rendered).
    ``masked + loss = conv_tokens`` by construction (property-tested).

    Scale: one narrow projection, one shuffle on conv_id (bounded
    groups of ``turns_per_conv`` rows — never a per-source window); the
    ordered render is an in-group array sort over ≤ turns_per_conv
    elements.
    """
    t = _chat_turns(df, turns_per_conv, text_col, id_col, source_col)
    tag = F.when(F.col("_is_user"), F.lit("<|user|>")).otherwise(
        F.lit("<|assistant|>")
    )
    tagged = F.concat(
        tag,
        F.when(
            F.length("_text") > 0, F.concat(F.lit(" "), F.col("_text"))
        ).otherwise(F.lit("")),
    )
    return (
        t.select(
            "conv_id",
            "turn_idx",
            F.col(source_col),
            "_nt",
            "_is_user",
            tagged.alias("_tagged"),
        )
        .groupBy("conv_id")
        .agg(
            F.min(
                F.when(F.col("turn_idx") == 1, F.col(source_col))
            ).alias(source_col),
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.sum(F.col("_nt") + 1).cast("bigint").alias("conv_tokens"),
            F.sum(
                F.when(F.col("_is_user"), F.col("_nt") + 1).otherwise(
                    F.lit(1)
                )
            )
            .cast("bigint")
            .alias("masked_tokens"),
            F.sum(
                F.when(~F.col("_is_user"), F.col("_nt")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("loss_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "_tagged"))
                    ),
                    lambda s: s["_tagged"],
                ),
                " ",
            ).alias("rendered"),
        )
        .select(
            "conv_id", source_col, "n_turns", "conv_tokens",
            "masked_tokens", "loss_tokens", "rendered",
        )
    )


def chat_pack(
    df: DataFrame,
    turns_per_conv: int = 4,
    budget_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Pack assembled conversations under a token budget with loss-mask
    accounting — ``sft_pack``'s multi-turn sibling.  Conversations are
    NEVER split across packs (the unit of packing is the whole rendered
    conversation, role tags included); packs fill per source in conv-id
    order under ``pack_sequences`` semantics via the shared two-level
    bucketed prefix sum.

    Output: (source, pack_id, n_conversations, n_turns, pack_tokens,
    masked_tokens, loss_tokens, loss_frac 6dp).  ``masked + loss =
    pack_tokens``; a pack's ``loss_frac`` is what a chat-SFT trainer's
    step actually optimizes — prompt-heavy conversation mixes collapse
    it, and this makes that visible per pack.

    Scale: conversation assembly is one bounded-group shuffle
    (``chat_assemble``); pack assignment reuses ``_assign_packs`` with
    the precomputed conversation cost (no partition ever holds a whole
    source); the mask accounting rides the same per-pack aggregate
    through one conv-id-keyed join of two narrow frames.
    """
    conv = reuse(chat_assemble(
        df, turns_per_conv, text_col, id_col, source_col
    ))
    keys, packed = _assign_packs(
        conv.select(source_col, "conv_id", "conv_tokens"),
        budget_tokens,
        None,
        "conv_id",
        source_col,
        None,
        bucket_width,
        None,
        tokens_expr=F.col("conv_tokens"),
    )
    masks = conv.select(
        "conv_id", "n_turns", "masked_tokens", "loss_tokens"
    )
    return (
        packed.join(masks, "conv_id")
        .groupBy(*keys, "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversations"),
            F.sum("n_turns").cast("bigint").alias("n_turns"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.sum("masked_tokens").cast("bigint").alias("masked_tokens"),
            F.sum("loss_tokens").cast("bigint").alias("loss_tokens"),
            F.round(
                F.sum("loss_tokens") / F.sum("n_tokens"), 6
            ).alias("loss_frac"),
        )
    )


def _candidate_score(df, text_col, id_col, score_col):
    """Shared candidate scoring for the preference-data family
    (``dpo_pairs``, ``best_of_n``): ``score_col`` verbatim when given,
    else lexical diversity (distinct whitespace tokens / tokens, 6dp).
    Returns (projected frame, score Column over it)."""
    if score_col is None:
        # Materialize the token array in its own projection: the score
        # references it three times, and a multiply-referenced alias
        # survives CollapseProject — inlining the split into the CASE
        # would re-split every row 3× (the lambda-inlining lesson).
        toked = df.select(
            F.col(id_col),
            F.filter(
                F.split(
                    F.coalesce(F.col(text_col), F.lit("")),
                    r"[ \t\n\r\x0B\x0C]+",
                ),
                lambda x: F.length(x) > 0,
            ).alias("_toks"),
        )
        score = F.when(
            F.size("_toks") > 0,
            F.round(F.size(F.array_distinct("_toks")) / F.size("_toks"), 6),
        ).otherwise(F.lit(0.0))
    else:
        toked = df.select(F.col(id_col), F.col(score_col))
        score = F.col(score_col).cast("double")
    return toked, score


def dpo_pairs(
    df: DataFrame,
    n_groups: int = 64,
    min_margin: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: "str | None" = None,
) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training (the
    public best-vs-worst recipe: given several candidate responses per
    prompt and a scalar quality score, the pair is the argmax and argmin
    of the score, kept only when the score gap is informative).

    The corpus plays the candidate pool: documents sharing
    ``id mod n_groups`` form one pseudo-prompt group (real pipelines
    group by prompt id — swap the expression).  Each candidate's score is
    ``score_col`` if given, else lexical diversity (distinct whitespace
    tokens / tokens, 6dp — the cheap quality proxy used across the
    quality family).  Per group: chosen = highest score (ties → highest
    id), rejected = lowest score (ties → lowest id); groups with fewer
    than two candidates, a zero-size score gap below ``min_margin``, or
    chosen == rejected emit nothing.

    Output: (group_id, chosen_id, rejected_id, chosen_score,
    rejected_score, margin, n_candidates).

    Scale: ONE hash aggregate — the argmax/argmin ride a single
    ``max(struct)``/``min(struct)`` pair with map-side partial
    aggregation, so the shuffle carries two structs per group, never the
    candidates.  No window, no join, no skew surface beyond group
    cardinality (``n_groups`` is caller-chosen; real prompt ids shard
    naturally).
    """
    toked, score = _candidate_score(df, text_col, id_col, score_col)
    base = toked.select(
        F.pmod(F.col(id_col), F.lit(n_groups)).cast("int").alias("group_id"),
        F.col(id_col).alias("_id"),
        score.alias("_score"),
    )
    agg = base.groupBy("group_id").agg(
        F.max(F.struct(F.col("_score"), F.col("_id"))).alias("_ch"),
        F.min(F.struct(F.col("_score"), F.col("_id"))).alias("_rj"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
    )
    return (
        agg.where(F.col("n_candidates") >= 2)
        .select(
            "group_id",
            F.col("_ch._id").alias("chosen_id"),
            F.col("_rj._id").alias("rejected_id"),
            F.col("_ch._score").alias("chosen_score"),
            F.col("_rj._score").alias("rejected_score"),
            F.round(F.col("_ch._score") - F.col("_rj._score"), 6).alias(
                "margin"
            ),
            "n_candidates",
        )
        .where(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("margin") >= F.lit(float(min_margin)))
        )
    )


def best_of_n(
    df: DataFrame,
    n: int = 2,
    n_groups: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: "str | None" = None,
) -> DataFrame:
    """Rejection-sampling selection (the public best-of-N / RSFT recipe,
    e.g. Llama-2's iterative rejection sampling): per pseudo-prompt
    group, keep the ``n`` highest-scoring candidates.  Groups and scores
    follow :func:`dpo_pairs` exactly (``id mod n_groups`` groups,
    ``score_col`` or lexical diversity), so a curation run can mine
    best-of-N SFT data and DPO pairs from ONE scored pool with
    guaranteed-consistent rankings.

    Output: (group_id, ``id_col``, score, rnk), rnk ∈ [1, n] ordered by
    (score desc, id desc) — the id tiebreak matches dpo_pairs' chosen
    side, so rnk 1 here IS dpo_pairs' chosen candidate.

    Scale: one shuffle on the group key + a per-group ranking window
    (parallelism = group count, state = running counter); candidates
    stream through the window, nothing group-sized materializes.
    """
    toked, score = _candidate_score(df, text_col, id_col, score_col)
    base = toked.select(
        F.pmod(F.col(id_col), F.lit(n_groups)).cast("int").alias("group_id"),
        F.col(id_col),
        score.alias("score"),
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("score").desc(), F.col(id_col).desc()
    )
    return (
        base.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= n)
    )


def best_of_n_curve(
    df: DataFrame,
    ns: "tuple[int, ...]" = (1, 2, 4, 8),
    n_groups: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: "str | None" = None,
) -> DataFrame:
    """The inference-scaling curve for rejection sampling — what
    best-of-N actually BUYS at each N (the test-time-compute curve the
    public best-of-N / RSFT literature plots): per pseudo-prompt group,
    the best reward among the FIRST N candidates in deterministic
    md5-arrival order, averaged over groups, for each N in ``ns``.
    Groups and scores follow :func:`dpo_pairs` / :func:`best_of_n`
    exactly, so the curve prices the same pool those ops select from;
    read it to pick N before paying for generation.

    "First N" uses md5(id) order — a deterministic stand-in for arrival
    order (taking the TOP-N-by-score at each N would make every point
    the max and flatten the curve).  Only groups with ≥ max(ns)
    candidates contribute, so every point averages the SAME group set
    (otherwise larger N would silently reweight toward bigger groups).

    Cross-engine determinism: rewards quantize to exact micro-unit
    BIGINTs; per-group best-of-first-N is an integer MAX; the mean is
    one exact integer sum over groups divided by the group count — a
    fixed two-division sequence, bit-identical in any engine.

    Output: (n_samples, n_groups, mean_best_reward), one row per N.

    Scale: one shuffle on the group key + ONE per-group ranking window
    (candidates stream through a running counter), then a |ns|-column
    conditional-max aggregate per group and a single bounded summary
    row fanned out by literals.  Pseudo-groups are ``id mod n_groups``
    (skew-free by construction); real prompt ids shard naturally.
    """
    toked, score = _candidate_score(df, text_col, id_col, score_col)
    base = toked.select(
        F.pmod(F.col(id_col), F.lit(n_groups)).cast("int").alias("group_id"),
        F.col(id_col),
        F.round(score * F.lit(1_000_000.0)).cast("bigint").alias("_u"),
        F.md5(F.col(id_col).cast("string")).alias("_ok"),
    )
    w = Window.partitionBy("group_id").orderBy("_ok", id_col)
    ranked = base.withColumn("ra", F.row_number().over(w))
    per = ranked.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.max(F.when(F.col("ra") <= int(N), F.col("_u"))).alias(f"m{N}")
            for N in ns
        ],
    )
    top = max(int(N) for N in ns)
    el = per.where(F.col("n") >= top).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        *[F.sum(f"m{N}").cast("bigint").alias(f"s{N}") for N in ns],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(int(N)).cast("int").alias("n_samples"),
                F.col(f"s{N}").alias("su"),
            )
            for N in ns
        ]
    )
    return (
        el.select("k", F.explode(rows).alias("r"))
        .select(
            F.col("r.n_samples").alias("n_samples"),
            F.col("k").alias("n_groups"),
            (F.col("r.su") / F.col("k") / F.lit(1_000_000.0)).alias(
                "mean_best_reward"
            ),
        )
        .orderBy("n_samples")
    )


def grpo_advantage(
    df: DataFrame,
    n_groups: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: "str | None" = None,
) -> DataFrame:
    """Group-relative advantage normalization (the public GRPO recipe,
    Shao et al. 2024 "DeepSeekMath"): given N sampled candidates per
    prompt with scalar rewards, each candidate's advantage is its reward
    z-scored WITHIN its group — (r - mean)/std over the group plays the
    baseline, no learned value model.  Groups and rewards follow
    :func:`dpo_pairs` / :func:`best_of_n` exactly (``id mod n_groups``
    pseudo-prompt groups, ``score_col`` or 6dp lexical diversity), so one
    scored candidate pool yields all three RL-data products — DPO pairs,
    best-of-N keeps, and GRPO advantages — with consistent rankings.

    Groups with fewer than two candidates or ZERO reward variance emit
    nothing (a constant-reward group carries no learning signal; its
    advantages would be 0/0).  The zero-variance test is the exact
    integer identity ``n·Σu² == (Σu)²`` over micro-unit rewards — no
    float epsilon — computed in DECIMAL(38,0) so it cannot overflow
    (the BIGINT form would wrap at ~3·10³ candidates per group; Spark
    ANSI and DuckDB would both raise).

    Cross-engine determinism: rewards are 6dp-rounded, so ``u =
    round(r·1e6)`` is an exact BIGINT; group sums Σu and Σu² are integer
    aggregates (engine-order-independent), and every double the output
    carries (mean, std, advantage) is derived from those integers by a
    fixed op sequence — bit-identical in any IEEE-754 engine, which is
    what lets the DuckDB twin hash-match without tolerance.  The
    variance numerator ``n·Σu² − (Σu)²`` follows the
    :func:`~etl_pipeline2_0_spark.functions.similarity.embed_dim_stats`
    discipline: the EMITTED value is computed in DOUBLE with a fixed op
    order (``double(n)·double(Σu²) − double(Σu)·double(Σu)``) —
    identical IEEE expressions are bit-identical in any engine at any
    magnitude, whereas an exact big-integer numerator converted to
    double can differ by 1 ULP between engines past 2⁵³ — while the
    POSITIVITY test runs on the exact DECIMAL form (plus the same
    double expression, so a degenerate group whose double numerator
    cancels to ≤0 is dropped identically on both engines rather than
    reaching ``sqrt``).  The outputs
    are emitted UNROUNDED (the embed_quantize lesson): re-rounding a
    deterministic double at 6dp re-introduces midpoint hazards — ``Σu/n``
    lands on an exact decimal .5 whenever n | 2·Σu (HALF_UP engines and
    binary-value engines then disagree) — while the raw double is already
    engine-exact.

    Output: (group_id, ``id_col``, reward, group_mean, group_std,
    advantage, n_candidates) — one row per surviving candidate.

    Scale: ONE hash aggregate on the group key (map-side-combined integer
    sums, shuffle carries three numbers per group), then the per-candidate
    normalization is a BROADCAST join of the ≤``n_groups``-row stats frame
    back onto the scored pool — candidates never shuffle.  Σu² fits BIGINT
    up to ~9·10⁶ candidates per group at 6dp rewards ≤ 1.0 (the decimal
    positivity test and double numerator have no bound of their own);
    larger pools shard by real prompt id long before that.
    """
    toked, score = _candidate_score(df, text_col, id_col, score_col)
    base = toked.select(
        F.pmod(F.col(id_col), F.lit(n_groups)).cast("int").alias("group_id"),
        F.col(id_col),
        F.round(score * F.lit(1_000_000.0)).cast("bigint").alias("_u"),
    )
    stats = base.groupBy("group_id").agg(
        F.sum("_u").alias("_su"),
        F.sum(F.col("_u") * F.col("_u")).alias("_sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
    )
    n = F.col("n_candidates")
    # Positivity test on the EXACT decimal numerator (n·Σu² − (Σu)² in
    # DECIMAL(38,0) cannot overflow below ~10¹³ candidates/group); the
    # EMITTED numerator is the same quantity in fixed-order DOUBLE ops —
    # bit-identical cross-engine at any magnitude (see docstring).
    var_num_exact = (
        n.cast("decimal(38,0)") * F.col("_sq").cast("decimal(38,0)")
        - F.col("_su").cast("decimal(38,0)") * F.col("_su").cast("decimal(38,0)")
    )
    var_num = (
        n.cast("double") * F.col("_sq").cast("double")
        - F.col("_su").cast("double") * F.col("_su").cast("double")
    )
    std_u = F.sqrt(var_num / (n * n).cast("double"))
    mean_u = F.col("_su") / n
    return (
        base.join(F.broadcast(stats), "group_id")
        .where((n >= 2) & (var_num_exact > 0) & (var_num > 0))
        .select(
            "group_id",
            F.col(id_col),
            (F.col("_u") / F.lit(1_000_000.0)).alias("reward"),
            (mean_u / F.lit(1_000_000.0)).alias("group_mean"),
            (std_u / F.lit(1_000_000.0)).alias("group_std"),
            ((F.col("_u") - mean_u) / std_u).alias("advantage"),
            "n_candidates",
        )
    )


def epoch_decay_curve(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    epochs: "tuple[float, ...]" = (1.0, 2.0, 4.0, 8.0, 16.0),
    r_star: float = 15.4,
) -> DataFrame:
    """The data-constrained scaling CURVE (:func:`data_budget_plan`'s
    formula swept over repeat counts): per group, the effective
    (loss-equivalent fresh) token count at each epoch count in
    ``epochs`` — the table that answers "how many more epochs are still
    worth compute" for every source at once, instead of one fixed plan.

    Output: (``group_col``, epochs, n_tokens, requested_tokens,
    effective_tokens, efficiency), |groups|·|epochs| rows.

    Scale: ONE corpus aggregate (the same map-side-combined token count
    data_budget_plan does); the sweep explodes a ≤|epochs|-element
    literal array over the ≤|groups|-row aggregate — corpus-independent
    after the first pass.
    """
    ws_toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[ \t\n\r\x0B\x0C]+"),
        lambda x: F.length(x) > 0,
    )
    per = (
        df.select(F.col(group_col).alias("grp"), F.size(ws_toks).alias("nt"))
        .groupBy("grp")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    swept = per.select(
        "grp",
        "n_tokens",
        F.explode(
            F.array(*[F.lit(float(e)) for e in epochs])
        ).alias("epochs"),
    )
    u = F.col("n_tokens").cast("double")
    e = F.col("epochs")
    rs = F.lit(float(r_star))
    requested = e * u
    effective = F.least(e, F.lit(1.0)) * u + u * rs * (
        F.lit(1.0) - F.exp(-F.greatest(e - 1, F.lit(0.0)) / rs)
    )
    return swept.select(
        F.col("grp").alias(group_col),
        "epochs",
        "n_tokens",
        F.round(requested, 6).alias("requested_tokens"),
        F.round(effective, 6).alias("effective_tokens"),
        F.round(
            F.when(requested > 0, effective / requested).otherwise(F.lit(0.0)),
            6,
        ).alias("efficiency"),
    )


def chat_lint(
    turns: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-data validity report — the DQ gate run before
    ``chat_assemble``/``chat_pack`` touch a vendor drop: per
    conversation, the five structural contracts chat-SFT training
    assumes, rolled up as one row per check.

    Checks (each counts CONVERSATIONS failing it):
    - ``not_user_first``: first turn's role is not ``user``;
    - ``not_assistant_last``: last turn's role is not ``assistant``;
    - ``role_repeat``: two consecutive turns share a role (broken
      alternation — the mask renderer would fuse turns);
    - ``empty_turn``: any turn whose text is whitespace-only;
    - ``single_turn``: fewer than two turns (no (prompt, response) pair).

    Output: (check, n_fail, n_conversations, fail_rate) — fail_rate
    UNROUNDED (exact-integer division, the house determinism ladder).

    Scale: ONE shuffle on the conversation key into a bounded per-conv
    aggregate (roles collect into a ≤turns-length array; the
    consecutive-repeat test is an array zip against its own shift, no
    window); the check sweep explodes a 5-element literal over the
    conv-grain flags.  No join, no collect.
    """
    t = turns.select(
        F.col(conv_col).alias("_c"),
        F.col(turn_col).alias("_i"),
        F.col(role_col).alias("_r"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )
    per = t.groupBy("_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_r"))),
            lambda s: s["_r"],
        ).alias("roles"),
        F.max(F.when(F.length(F.trim(F.col("_t"))) == 0, 1).otherwise(0)).alias(
            "has_empty"
        ),
    )
    roles = F.col("roles")
    flags = per.select(
        F.when(F.element_at(roles, 1) != F.lit("user"), 1)
        .otherwise(0)
        .alias("not_user_first"),
        F.when(F.element_at(roles, -1) != F.lit("assistant"), 1)
        .otherwise(0)
        .alias("not_assistant_last"),
        F.when(
            F.exists(
                F.zip_with(
                    roles,
                    F.slice(roles, 2, F.greatest(F.size(roles) - 1, F.lit(1))),
                    lambda a, b: a == b,
                ),
                lambda x: x,
            ),
            1,
        )
        .otherwise(0)
        .alias("role_repeat"),
        F.col("has_empty").alias("empty_turn"),
        F.when(F.col("n_turns") < 2, 1).otherwise(0).alias("single_turn"),
    )
    checks = [
        "not_user_first",
        "not_assistant_last",
        "role_repeat",
        "empty_turn",
        "single_turn",
    ]
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversations"),
        *[F.sum(c).cast("bigint").alias(c) for c in checks],
    )
    sweep = F.explode(
        F.array(
            *[
                F.struct(F.lit(c).alias("check"), F.col(c).alias("n_fail"))
                for c in checks
            ]
        )
    ).alias("s")
    return agg.select(sweep, F.col("n_conversations")).select(
        F.col("s.check").alias("check"),
        F.col("s.n_fail").alias("n_fail"),
        "n_conversations",
        (
            F.col("s.n_fail")
            / F.greatest(F.col("n_conversations"), F.lit(1))
        ).alias("fail_rate"),
    )


def pack_waste_curve(
    df: DataFrame,
    budgets: "tuple[int, ...]" = (256, 512, 1024, 2048),
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Context-length SIZING curve for sequence packing — what each
    candidate training context costs in padding and straddle at THIS
    corpus's length distribution, from ONE prefix-sum pass: the table a
    context-length decision reads next to ``pack_efficiency`` (one
    budget, per-source detail).  The ninth measured sizing curve.

    The streaming packer's assignment is ``pack_id = prev div budget``
    over the SAME exclusive prefix sum for every budget, so the sweep
    shares one two-level prefix-sum pass (the ``pack_sequences``
    machinery) and differs only in a floor division — |budgets| bounded
    per-pack aggregates over one checkpointed per-doc frame.

    Output per budget: (budget_tokens, n_packs, total_tokens,
    underfill_tokens — padding a trainer burns at this context,
    overflow_tokens — tokens past the boundary in straddling packs,
    fill_rate = total/(n_packs·budget)).  Every number is an exact
    integer or one exact-integer ratio — tolerance-free oracle.

    Scale: one doc-row shuffle for the bucketed prefix sum plus
    |budgets| map-side-combined pack aggregates over the checkpointed
    frame; nothing corpus-sized is held per budget.
    """
    _, packed = _assign_packs(
        df, int(budgets[0]), text_col, id_col, source_col,
        None, bucket_width, None,
    )
    base = reuse(packed.select(
        F.col(source_col).alias("_src"),
        (F.col("_b_off") + F.col("_local_prev")).alias("_prev"),
        "n_tokens",
    ))
    out = None
    for B in budgets:
        B = int(B)
        per_pack = (
            base.select(
                "_src",
                F.floor(F.col("_prev") / F.lit(B)).alias("_pack"),
                "n_tokens",
            )
            .groupBy("_src", "_pack")
            .agg(F.sum("n_tokens").cast("bigint").alias("pt"))
        )
        row = per_pack.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_packs"),
            F.sum("pt").cast("bigint").alias("total_tokens"),
            F.sum(F.greatest(F.lit(B) - F.col("pt"), F.lit(0)))
            .cast("bigint")
            .alias("underfill_tokens"),
            F.sum(F.greatest(F.col("pt") - F.lit(B), F.lit(0)))
            .cast("bigint")
            .alias("overflow_tokens"),
        ).select(
            F.lit(B).cast("int").alias("budget_tokens"),
            "n_packs",
            "total_tokens",
            "underfill_tokens",
            "overflow_tokens",
            (
                F.col("total_tokens")
                / (F.col("n_packs") * F.lit(B)).cast("double")
            ).alias("fill_rate"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("budget_tokens")


def anneal_mix_plan(
    df: DataFrame,
    budget_tokens: int = 1_000_000,
    anneal_pct: int = 10,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Two-phase data-mix allocation — the public "annealing" /
    midtraining recipe (MiniCPM's two-stage schedule; Llama 3 reports
    the same shape: upweight high-quality sources in the final few
    percent of training): the MAIN phase spends ``100-anneal_pct``% of
    ``budget_tokens`` proportionally to each source's token mass; the
    ANNEAL phase spends the rest only on HIGH-QUALITY sources
    (per-source mean quality ≥ the corpus mean), again
    token-proportional within the qualifying set.

    Quality here is the exact-integer proxy ``1000·distinct_words div
    words`` per doc (lexical-diversity per-mille — the
    :func:`~etl_pipeline2_0_spark.functions.text.filter_ablation`
    diversity axis); the HQ test cross-multiplies exact DECIMAL sums
    (``su_s·n_tot ≥ su_tot·n_s`` — no float mean comparison, no
    overflow), and every allocation is integer arithmetic
    (``phase_budget·n_tokens div Σ n_tokens``), so the oracle is
    tolerance-free.  Allocation products need ``budget·max(n_tokens) <
    2⁶³`` — at the default 10⁶ budget that is ~10¹² source tokens;
    scale the budget units (plan in Mtokens) long before that.

    Output: (``group_col``, n_docs, n_tokens, mean_quality_pm,
    is_high_quality, main_tokens, anneal_tokens, total_tokens), ordered
    by group; mean_quality_pm is the exact-ratio double (per-mille).

    Scale: ONE corpus pass (two integer stats per doc, map-side
    combined per source), then all allocation happens on the
    ≤|sources|-row frame with two broadcast 1-row totals.  No window,
    no join against the corpus.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\W+"), lambda t: F.length(t) > 0
    )
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        F.size(toks).cast("bigint").alias("nw"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("nd"),
    ).select(
        "grp",
        "nw",
        F.expr("CASE WHEN nw > 0 THEN (1000 * nd) DIV nw ELSE 0 END").alias(
            "q_pm"
        ),
    )
    # The bounded ≤|sources| frame feeds four consumers (totals, flags,
    # HQ-token sum, output) — the barrier stops each from
    # re-running the corpus pass (the lsh_geometry_sweep discipline).
    per = reuse(per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nw").cast("bigint").alias("n_tokens"),
        F.sum("q_pm").cast("bigint").alias("su"),
    ))
    tot = per.agg(
        F.sum("n_tokens").cast("bigint").alias("t_tokens"),
        F.sum("su").cast("bigint").alias("t_su"),
        F.sum("n_docs").cast("bigint").alias("t_docs"),
    )
    B = int(budget_tokens)
    main_budget = B * (100 - int(anneal_pct)) // 100
    anneal_budget = B - main_budget
    hq = (
        F.col("su").cast("decimal(38,0)") * F.col("t_docs").cast("decimal(38,0)")
        >= F.col("t_su").cast("decimal(38,0)") * F.col("n_docs").cast("decimal(38,0)")
    )
    flagged = per.crossJoin(F.broadcast(tot)).withColumn("hq", hq)
    hq_tot = flagged.agg(
        F.coalesce(
            F.sum(F.when(F.col("hq"), F.col("n_tokens")).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("hq_tokens")
    )
    return (
        flagged.crossJoin(F.broadcast(hq_tot))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_tokens",
            (F.col("su") / F.col("n_docs")).alias("mean_quality_pm"),
            F.col("hq").alias("is_high_quality"),
            F.expr(f"({main_budget} * n_tokens) DIV t_tokens").alias(
                "main_tokens"
            ),
            F.expr(
                f"CASE WHEN hq AND hq_tokens > 0 "
                f"THEN ({anneal_budget} * n_tokens) DIV hq_tokens "
                f"ELSE CAST(0 AS BIGINT) END"
            ).alias("anneal_tokens"),
        )
        .withColumn(
            "total_tokens", F.col("main_tokens") + F.col("anneal_tokens")
        )
        .orderBy(group_col)
    )


def priority_sample(
    df,
    weight_col,
    k: int = 32,
    id_col: str = "doc_id",
    salt: str = "",
):
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007): a
    deterministic weighted sample WITHOUT replacement with the DLT
    unbiased subset-sum estimator — the weighted counterpart of
    ``hash_sample`` (heavy documents enter the sample with probability
    ∝ weight; the estimator reweights survivors so any subset-sum is
    unbiased).

    Portability: u_i = (md5-hex15(id‖':'‖salt) + 1) / 2^60 — the
    repo-standard 60-bit md5 uniform — and the priority q_i = w_i / u_i
    is ONE IEEE double division, so the sample and estimator are
    bit-identical cross-engine (no transcendental in the hot path,
    unlike exponential-race A-ES sampling).

    The top-k priorities are the sample; tau = the (k+1)-th priority
    (0 when the corpus fits entirely); est_weight = max(w_i, tau) is
    the DLT per-item estimator (sum of est_weight over the sample
    estimates the corpus total weight, exactly when tau = 0).

    Output: (rank, id, weight, priority, est_weight), rank 1..k by
    priority desc (id tiebreak).

    Scale: one narrow projection (hash + two divisions), then
    TakeOrdered for the bounded top-(k+1) — never a global sort; the
    rank window and the tau aggregate run over that ≤k+1-row frame;
    tau rejoins via a broadcast 1-row cross.
    """
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col(id_col).cast("string"), F.lit(salt)
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)) / F.lit(float(2**60))
    w = F.col(weight_col).cast("double")
    scored = df.select(
        F.col(id_col),
        w.alias("weight"),
        (w / u).alias("priority"),
    )
    top = scored.orderBy(
        F.col("priority").desc(), F.col(id_col)
    ).limit(k + 1)
    # bounded-frame window (≤ k+1 rows post-limit) — the
    # portable_centroids exception class
    win = Window.orderBy(F.col("priority").desc(), F.col(id_col))
    ranked = top.withColumn("rank", F.row_number().over(win))
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rank") == k + 1, F.col("priority"))),
            F.lit(0.0),
        ).alias("tau")
    )
    return (
        ranked.where(F.col("rank") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            "rank",
            id_col,
            "weight",
            "priority",
            F.greatest(F.col("weight"), F.col("tau")).alias("est_weight"),
        )
        .orderBy("rank")
    )


def priority_sample_curve(
    df,
    weight_col,
    ks: "tuple[int, ...]" = (8, 16, 32, 64),
    id_col: str = "doc_id",
    salt: str = "",
):
    """Sample-size SIZING sweep for :func:`priority_sample` — the tenth
    measured sizing curve (bloom_fpr / cms_error / lsh_geometry /
    cdc_dedup / contamination_ngram / semdedup_eps / vocab_oov /
    bpe_fertility / pack_waste): per candidate k, the DLT total-weight
    estimate Σ max(w_i, tau_k) over the top-k sample against the exact
    corpus total — the table a pipeline reads before choosing how many
    weighted exemplars to keep.

    Exactness: every k shares ONE scored pass and ONE bounded
    top-(max k + 1) frame; per-item estimates enter the sum as
    micro-unit integers (``CAST(ROUND(max(w, tau)·10^6) AS BIGINT)`` —
    rounding identical doubles is identical cross-engine, and integer
    sums are aggregation-order-free, sidestepping the float-sum
    reassociation hazard); rel_err is one exact division at the end.

    Output: (k, n_sampled, tau, est_total_u, true_total, rel_err),
    one row per k, ordered.  ``tau = 0`` (and rel_err from the exact
    sample sum) whenever k covers the corpus.

    Scale: the corpus is touched twice (the scored TakeOrdered pass —
    materialized once behind a ``reuse`` barrier because two consumers
    read it — plus the exact total aggregate); every sweep
    computation runs on the ≤(max k + 1)-row frame; taus and the true
    total rejoin via broadcast 1-row crosses.
    """
    max_k = max(int(k) for k in ks)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col(id_col).cast("string"), F.lit(salt)
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)) / F.lit(float(2**60))
    w = F.col(weight_col).cast("double")
    scored = df.select(
        F.col(id_col),
        w.alias("weight"),
        (w / u).alias("priority"),
    )
    top = scored.orderBy(
        F.col("priority").desc(), F.col(id_col)
    ).limit(max_k + 1)
    win = Window.orderBy(F.col("priority").desc(), F.col(id_col))
    # ranked feeds two consumers (taus + the estimate sums); the barrier
    # keeps the scored corpus pass to one.
    ranked = reuse(top.withColumn("rank", F.row_number().over(win)).select(
        "rank", "weight", "priority"
    ))
    taus = ranked.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(F.col("rank") == int(k) + 1, F.col("priority"))
                ),
                F.lit(0.0),
            ).alias(f"tau{k}")
            for k in ks
        ]
    )
    est = (
        ranked.crossJoin(F.broadcast(taus))
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("rank") <= int(k),
                            F.round(
                                F.greatest(
                                    F.col("weight"), F.col(f"tau{k}")
                                )
                                * F.lit(1000000.0)
                            ).cast("bigint"),
                        )
                    ),
                    F.lit(0).cast("bigint"),
                ).alias(f"est{k}")
                for k in ks
            ],
            *[
                F.coalesce(
                    F.sum(F.when(F.col("rank") <= int(k), 1)), F.lit(0)
                )
                .cast("bigint")
                .alias(f"n{k}")
                for k in ks
            ],
            *[F.max(f"tau{k}").alias(f"t{k}") for k in ks],
        )
    )
    tot = df.agg(
        F.sum(F.col(weight_col).cast("bigint"))
        .cast("bigint")
        .alias("true_total")
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(int(k)).cast("int").alias("k"),
                F.col(f"n{k}").alias("n_sampled"),
                F.col(f"t{k}").alias("tau"),
                F.col(f"est{k}").alias("est_total_u"),
            )
            for k in ks
        ]
    )
    return (
        est.crossJoin(F.broadcast(tot))
        .select("true_total", F.explode(rows).alias("r"))
        .select(
            F.col("r.k").alias("k"),
            F.col("r.n_sampled").alias("n_sampled"),
            F.col("r.tau").alias("tau"),
            F.col("r.est_total_u").alias("est_total_u"),
            "true_total",
            (
                (
                    F.col("r.est_total_u")
                    - F.col("true_total") * F.lit(1000000)
                )
                / (F.col("true_total") * F.lit(1000000.0))
            ).alias("rel_err"),
        )
        .orderBy("k")
    )


def temperature_mix_curve(
    docs: DataFrame,
    alphas: "tuple[float, ...]" = (0.2, 0.3, 0.5, 0.7, 1.0),
    group_col: str = "source",
    text_col: str = "text",
    mass_col: "str | None" = None,
) -> DataFrame:
    """Temperature-sweep sizing table for source mixing (the knob
    behind ``temperature_mix_weights`` — mT5 §3.1 / XLM-R §3.1 pick α
    by exactly this tradeoff): for each candidate α, how flat the mix
    gets vs how hard the smallest sources are up-sampled.  Read off
    the α where effective-source count is acceptable BEFORE the
    up-sample factor starts memorizing the tail.

    Per α (one row): the min/max source weight, the effective source
    count 1/Σwᵢ² (inverse Simpson — participation-ratio diversity),
    and the maximum up-sample factor max_i(wᵢ/naturalᵢ) vs the α=1
    natural mix.

    Exactness: weights quantize to micro-unit BIGINTs after the single
    p/Σp division, so Σwᵢ² is an exact integer and the effective count
    and up-sample ratios are single divisions of exact integers (the
    pow/Σ convention is ``temperature_mix_weights``'s proven one).

    Output: (alpha, n_sources, min_weight, max_weight, eff_sources,
    max_upsample), ordered by alpha.

    ``mass_col`` overrides the default token-count mass with any
    precomputed per-row mass (the registry row uses it to plant a
    deterministic power-law source skew — the fixture corpus's 20
    near-equal sources would otherwise make every α read ~uniform).

    Scale: ONE map-side-combinable token-mass aggregate to #sources
    rows; the α fan-out is a literal array over that bounded table;
    every per-α reduction is over ≤ #sources rows.  The TWELFTH
    measured sizing curve.
    """
    alphas = tuple(float(a) for a in alphas)
    mass = (
        F.col(mass_col) if mass_col is not None
        else token_count(F.col(text_col))
    )
    sizes = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.sum(mass).cast("bigint").alias("n_tokens")
    )
    fan = sizes.select(
        "source",
        "n_tokens",
        F.explode(
            F.array(*[F.lit(a) for a in alphas])
        ).alias("alpha"),
    ).withColumn(
        "_p", F.pow(F.col("n_tokens").cast("double"), F.col("alpha"))
    )
    tot = fan.groupBy("alpha").agg(F.sum("_p").alias("_tot"))
    w = (
        fan.join(F.broadcast(tot), "alpha")
        .withColumn(
            "w_u",
            F.round(F.col("_p") / F.col("_tot") * F.lit(1_000_000.0))
            .cast("bigint"),
        )
    )
    nat = (
        w.where(F.col("alpha") == F.lit(1.0))
        .select("source", F.col("w_u").alias("nat_u"))
    )
    joined = w.join(F.broadcast(nat), "source")
    return (
        joined.groupBy("alpha")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.round(F.min("w_u") / F.lit(1_000_000.0), 6).alias(
                "min_weight"
            ),
            F.round(F.max("w_u") / F.lit(1_000_000.0), 6).alias(
                "max_weight"
            ),
            F.round(
                F.lit(1_000_000_000_000.0) / F.sum(F.col("w_u") * F.col("w_u")),
                6,
            ).alias("eff_sources"),
            F.round(
                F.max(F.col("w_u") * F.lit(1.0) / F.col("nat_u")), 6
            ).alias("max_upsample"),
        )
        .orderBy("alpha")
    )


def needle_insert(
    docs: DataFrame,
    needle: str = "The special magic number is 4242424.",
    depths: "tuple[int, ...]" = (0, 25, 50, 75, 100),
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Needle-in-a-haystack long-context eval construction (the public
    NIAH protocol: splice a retrievable fact into a context at fixed
    depth fractions, then probe recall per depth): one output row per
    (document, depth), the needle's whitespace tokens inserted at token
    position floor(depth/100 * n).  Depth 0 prepends, 100 appends.

    Deterministic string surgery — same doc + needle + depth gives the
    same context on any engine or partitioning; docs shorter than
    ``min_tokens`` are skipped (no meaningful depth resolution).

    Output: (doc_id, depth_pct, insert_pos, n_tokens, text_with_needle)
    where n_tokens counts the ORIGINAL document tokens (the context
    length axis of the NIAH grid).

    Scale: a narrow per-row transform — whitespace-split once, explode
    the |depths|-element literal, two ``slice`` calls and a join — NO
    shuffle, no Python; output is |depths| x input rows.  Rows inherit
    the input partitioning for the downstream eval runner.
    """
    needle_toks = [t for t in needle.split(" ") if t]
    tokd = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.col(text_col), r"[ \t\n\r\x0B\x0C]+"),
            lambda t: F.length(t) > 0,
        ).alias("_toks"),
    ).withColumn("_n", F.size("_toks")).where(F.col("_n") >= min_tokens)
    depths_arr = F.array(*[F.lit(int(d)).cast("int") for d in depths])
    placed = tokd.select(
        "doc_id",
        "_toks",
        "_n",
        F.explode(depths_arr).alias("depth_pct"),
    ).withColumn(
        "insert_pos",
        F.floor(F.col("depth_pct") * F.col("_n") / 100).cast("int"),
    )
    needle_arr = F.array(*[F.lit(t) for t in needle_toks])
    spliced = F.concat(
        F.slice(F.col("_toks"), 1, F.col("insert_pos")),
        needle_arr,
        F.slice(
            F.col("_toks"),
            F.col("insert_pos") + 1,
            F.col("_n") - F.col("insert_pos"),
        ),
    )
    return placed.select(
        "doc_id",
        "depth_pct",
        "insert_pos",
        F.col("_n").cast("bigint").alias("n_tokens"),
        F.array_join(spliced, " ").alias("text_with_needle"),
    )
