"""Distributed frequency sketches.

Count-min sketch (Cormode & Muthukrishnan 2005): fixed ``depth × width``
memory regardless of stream size, one-sided error (estimates never
undercount).  The corpus use-case here is heavy-hitter detection — the
boilerplate shingles/tokens whose doc-frequency caps protect the dedup
joins (``max_doc_freq`` / ``max_bucket_size``) can be found from a
sketch pass without materializing the full exact aggregate.

The hash family is the repo's portable md5-hex15 scheme (row-salted), so
every estimate carries an exact DuckDB twin.  The HLL counterpart
(distinct counting) lives in ``plans.relational_ext.q_hll_accuracy``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline2_0_spark.operators.partitioning import reuse


def _cms_bucket(item: Column, row: Column, width: int) -> Column:
    """Row-salted portable bucket: md5-hex15(row ':' item) mod width."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(row.cast("string"), F.lit(":"), item)), 1, 15
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(width),
    )


def cms_sketch(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build the count-min table from an OCCURRENCE frame (one row per
    occurrence).  Each occurrence increments one bucket per hash row.

    One explode (×depth) + one map-side-combinable aggregate down to at
    most ``depth × width`` rows — the whole sketch always fits in a
    broadcast, which is the point: at 100 TB the exact per-item aggregate
    shuffles billions of keys; the sketch shuffles ≤ d·w.

    Output: (row, bucket, cnt).
    """
    rows = F.sequence(F.lit(0), F.lit(depth - 1))
    return (
        items.select(
            F.col(item_col).alias("_it"), F.explode(rows).alias("row")
        )
        .select("row", _cms_bucket(F.col("_it"), F.col("row"), width).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate each candidate item's occurrence count: min over
    the ``depth`` bucket counters it hashes into (collisions only ADD, so
    ``cms_est ≥`` the true count — the classic one-sided guarantee,
    property-pinned in tests).

    ``sketch`` (≤ d·w rows) broadcasts; candidates stay distributed.
    Output: (item, cms_est).
    """
    rows = F.sequence(F.lit(0), F.lit(depth - 1))
    probes = candidates.select(
        F.col(item_col).alias("item"), F.explode(rows).alias("row")
    ).select(
        "item", "row", _cms_bucket(F.col("item"), F.col("row"), width).alias("bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("item")
        .agg(F.min("cnt").alias("cms_est"))
    )


def bloom_build(
    items: DataFrame,
    item_col: str = "item",
    num_hashes: int = 4,
    num_bits: int = 4096,
) -> DataFrame:
    """Build a Bloom filter as a RELATION: the distinct set-bit positions
    of ``num_hashes`` row-salted md5 hashes per item (≤ ``num_bits`` rows,
    always broadcastable).  The classic membership sketch for
    decontamination at scale — the eval set's filter ships to every
    executor instead of the eval set itself.

    Output: (bit,).
    """
    rows = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return (
        items.select(F.col(item_col).alias("_it"), F.explode(rows).alias("row"))
        .select(_cms_bucket(F.col("_it"), F.col("row"), num_bits).alias("bit"))
        .distinct()
    )


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    item_col: str = "item",
    num_hashes: int = 4,
    num_bits: int = 4096,
) -> DataFrame:
    """Probe each candidate against the filter: ``maybe_present`` iff ALL
    ``num_hashes`` of its bit positions are set.  One-sided like every
    Bloom filter — false positives possible (rate ~(1-e^{-kn/m})^k),
    false negatives IMPOSSIBLE (property-pinned in tests).

    The filter broadcasts; candidates stay distributed — the probe is a
    broadcast semi-style join + per-item count, corpus-size-linear.

    Output: (item, maybe_present).
    """
    rows = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    probes = candidates.select(
        F.col(item_col).alias("item"), F.explode(rows).alias("row")
    ).select("item", _cms_bucket(F.col("item"), F.col("row"), num_bits).alias("bit"))
    hits = (
        probes.join(F.broadcast(bloom), "bit")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("_n_set"))
    )
    return (
        candidates.select(F.col(item_col).alias("item"))
        .distinct()
        .join(hits, "item", "left")
        .select(
            "item",
            (F.coalesce(F.col("_n_set"), F.lit(0)) == num_hashes).alias(
                "maybe_present"
            ),
        )
    )


def cms_estimate_map_side(
    df: DataFrame,
    item: Column,
    sketch: DataFrame,
    depth: int = 4,
    width: int = 256,
    out_col: str = "cms_est",
) -> DataFrame:
    """Attach a CMS frequency estimate to EVERY row of ``df`` with zero
    per-key shuffle: the ≤ depth·width sketch is reshaped to ONE row
    holding a map<hash_row, map<bucket, cnt>>, broadcast, and probed with
    pure column expressions (min over the depth bucket lookups).

    This is the form the dedup doc-freq caps need at 100 TB: the exact
    cap computes a per-key aggregate over billions of shingle keys (a
    full shuffle of the shingle table); this adds one bounded aggregate
    (the sketch build) plus a broadcast — the probed table never moves.
    Same one-sided guarantee as ``cms_estimate``: collisions only ADD,
    so ``out_col`` ≥ the true occurrence count for every row.
    """
    one = (
        sketch.groupBy("row")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "cnt"))
            ).alias("m")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("row", "m"))
            ).alias("__cms")
        )
    )
    lookups = [
        F.coalesce(
            F.try_element_at(
                F.try_element_at(F.col("__cms"), F.lit(r)),
                _cms_bucket(item, F.lit(r), width),
            ),
            F.lit(0),
        )
        for r in range(depth)
    ]
    est = lookups[0] if depth == 1 else F.least(*lookups)
    return (
        df.crossJoin(F.broadcast(one))
        .withColumn(out_col, est)
        .drop("__cms")
    )


def hist_sketch(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Fixed-width histogram sketch: (bin, cnt) over ``n_bins`` equal
    bins on [lo, hi), values outside clamped to the edge bins.  The
    fixed-memory, trivially MERGEABLE (sum cnt by bin) alternative to an
    exact percentile aggregate — the quantile member of the sketch
    family (CMS for frequency, Bloom for membership, HLL for
    cardinality).  NULL values are dropped.

    Scale: one narrow projection + hash aggregate to ≤ n_bins rows
    (map-side combined); merging streams/partitions is a bin-wise sum.
    """
    w = (hi - lo) / n_bins
    b = F.floor((F.col(value_col).cast("double") - lo) / w).cast("int")
    binned = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.where(F.col(value_col).isNotNull())
        .select(binned.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def hist_quantiles(
    sketch: DataFrame,
    lo: float,
    hi: float,
    n_bins: int = 128,
    qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Quantile estimates from a ``hist_sketch``: for each q, walk the
    cumulative bin counts to the first bin where cum ≥ q·N and
    interpolate linearly inside it.  Estimation error is bounded by one
    bin width for in-range data (pinned by test).

    Output: (q, estimate), 6dp-rounded.  All windows run on the
    ≤ n_bins-row sketch relation — bounded by construction.
    """
    from pyspark.sql.window import Window

    w = (hi - lo) / n_bins
    tot = sketch.agg(F.sum("cnt").cast("double").alias("_n"))
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        sketch.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("cnt").over(wcum).cast("double"))
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
    )
    qdf = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    hits = (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("cum") >= F.col("q") * F.col("_n"))
    )
    w_first = Window.partitionBy("q").orderBy("bin")
    first = (
        hits.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") == 1)
    )
    frac = (F.col("q") * F.col("_n") - F.col("cum_before")) / F.col("cnt")
    return first.select(
        "q",
        F.round(F.lit(lo) + (F.col("bin") + frac) * F.lit(w), 6).alias(
            "estimate"
        ),
    )


def bloom_fpr_curve(
    candidates: DataFrame,
    truth_items: DataFrame,
    item_col: str = "item",
    num_hashes: int = 4,
    widths: "tuple[int, ...]" = (1024, 2048, 4096, 8192),
) -> DataFrame:
    """Measured Bloom sizing table: for each filter width, probe the
    SAME candidate set against a filter built from the SAME truth set
    and report the realized false-positive rate and fill ratio — the
    table that sizes the decontamination prefilter before a 100 TB run
    (theory gives ~(1-e^{-kn/m})^k; this measures it on the actual key
    distribution, where clustering and the integer-hash family make
    theory an approximation).

    Output: (num_bits, n_candidates, n_true_present, n_flagged,
    n_false_pos, fpr, n_bits_set, fill_ratio), one row per width;
    ``fpr`` = false positives over true negatives.  False negatives are
    impossible by construction (property-pinned on bloom_probe), so
    n_flagged ≥ n_true_present on every row.

    Scale: truth and candidates are each materialized ONCE (distinct +
    ``reuse`` barrier) and re-probed per width; every per-width pass is
    the bloom_build/bloom_probe broadcast shape (≤ num_bits-row filter
    relation, candidates never move), and each width contributes one
    aggregated row — the output is |widths| rows regardless of corpus
    size.
    """
    cand = reuse(
        candidates.select(F.col(item_col).alias("item"))
        .distinct()
    )
    truth = reuse(
        truth_items.select(F.col(item_col).alias("item"))
        .distinct()
    )
    truth_flag = truth.withColumn("_t", F.lit(1))
    out = None
    for m in widths:
        bits = bloom_build(truth, "item", num_hashes, m)
        flagged = bloom_probe(cand, bits, "item", num_hashes, m)
        lab = flagged.join(truth_flag, "item", "left")
        row = (
            lab.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                F.sum(F.coalesce(F.col("_t"), F.lit(0)))
                .cast("bigint")
                .alias("n_true_present"),
                F.sum(F.when(F.col("maybe_present"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_flagged"),
                F.sum(
                    F.when(
                        F.col("maybe_present") & F.col("_t").isNull(), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("n_false_pos"),
            )
            .crossJoin(
                F.broadcast(
                    bits.agg(
                        F.count(F.lit(1)).cast("bigint").alias("n_bits_set")
                    )
                )
            )
            .select(
                F.lit(m).cast("int").alias("num_bits"),
                "n_candidates",
                "n_true_present",
                "n_flagged",
                "n_false_pos",
                F.round(
                    F.col("n_false_pos")
                    / F.greatest(
                        F.col("n_candidates") - F.col("n_true_present"),
                        F.lit(1),
                    ),
                    6,
                ).alias("fpr"),
                "n_bits_set",
                F.round(F.col("n_bits_set") / F.lit(float(m)), 6).alias(
                    "fill_ratio"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def cms_error_curve(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    widths: "tuple[int, ...]" = (64, 256, 1024),
) -> DataFrame:
    """Measured count-min sizing table: the realized overestimate
    distribution at each sketch width, over EVERY distinct key — the
    companion of :func:`bloom_fpr_curve` for the frequency sketch that
    feeds the dedup doc-freq caps (theory bounds the error by
    ~2N/width w.h.p.; this measures it on the actual key/frequency
    distribution, where Zipfian heavy hitters dominate collisions).

    Output: (width, n_keys, n_exact, mean_err, max_err), one row per
    width; ``n_exact`` counts keys whose estimate equals their true
    count, errors are (est − true) ≥ 0 (one-sided by construction).

    Scale: ONE occurrence pass produces the exact (key, count) table;
    each width's sketch is then built from THAT table (a size-s key
    hashing to a bucket adds s — identical arithmetic to streaming the
    occurrences, proven by the shared bucket hash), so the sweep costs
    |vocab|·depth rows per width, not corpus·depth, and the estimate
    probe joins sketch cells at (row, bucket) grain.
    """
    exact = reuse(
        items.select(F.col(item_col).alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    )
    rows = F.sequence(F.lit(0), F.lit(depth - 1))
    out = None
    for m in widths:
        th = exact.select(
            "item", "true_cnt", F.explode(rows).alias("row")
        ).select(
            "item",
            "true_cnt",
            "row",
            _cms_bucket(F.col("item"), F.col("row"), m).alias("bucket"),
        )
        cells = th.groupBy("row", "bucket").agg(
            F.sum("true_cnt").cast("bigint").alias("cnt")
        )
        est = (
            th.join(cells, ["row", "bucket"])
            .groupBy("item", "true_cnt")
            .agg(F.min("cnt").cast("bigint").alias("cms_est"))
        )
        row_df = est.agg(
            F.lit(m).cast("int").alias("width"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(
                F.when(F.col("cms_est") == F.col("true_cnt"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_exact"),
            F.round(
                F.sum(F.col("cms_est") - F.col("true_cnt"))
                / F.greatest(F.count(F.lit(1)), F.lit(1)),
                6,
            ).alias("mean_err"),
            F.max(F.col("cms_est") - F.col("true_cnt"))
            .cast("bigint")
            .alias("max_err"),
        )
        out = row_df if out is None else out.unionByName(row_df)
    return out
