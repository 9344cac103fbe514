"""Data-quality / observability primitives shared by the batch queries
(plans/llm_ops.py DQ battery) and the streaming monitors.

The first resident is the PSI drift metric, extracted from the oracled
``corpus_drift_psi`` query so a ``foreachBatch`` monitor can reuse the
exact same computation against a reference corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline2_0_spark.functions.text import token_count
from etl_pipeline2_0_spark.operators.partitioning import reuse


def length_bins(df: DataFrame, group_col: str = "source",
                text_col: str = "text", bin_width: int = 8,
                max_bin: int = 15) -> DataFrame:
    """(group, bin) rows: fixed-width token-count bins, top bin clamped."""
    tc = token_count(F.col(text_col))
    return df.select(
        F.col(group_col).alias("source"),
        F.least(F.floor(tc / bin_width), F.lit(max_bin)).cast("int").alias("bin"),
    )


def corpus_drift_psi(
    snap_a: DataFrame,
    snap_b: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    bin_width: int = 8,
    max_bin: int = 15,
) -> DataFrame:
    """Population Stability Index of the per-group token-count distribution
    between two corpus snapshots (the standard ML-monitoring drift metric;
    rule of thumb: <0.1 stable, 0.1-0.25 moderate, >0.25 major shift).

    PSI = Σ_bins (q - p) · ln(q / p) with Laplace-smoothed bin shares
    p = (c_a + 0.5) / (n_a + 0.5·K), q likewise, K = bins observed for
    the group (smoothing keeps empty-on-one-side bins finite).

    Output: (source, psi, n_bins).

    Scale: both snapshots reduce to (group, bin) counts in ONE conditional
    aggregate over the tagged union; per-group totals are a tiny
    broadcast; the PSI sum runs over ≤ K rows per group.
    """
    a = length_bins(snap_a, group_col, text_col, bin_width, max_bin)
    b = length_bins(snap_b, group_col, text_col, bin_width, max_bin)
    return psi_from_bins(a, b)


def psi_from_bins(bins_a: DataFrame, bins_b: DataFrame) -> DataFrame:
    """PSI over PRE-BINNED observations: both inputs are (source, bin)
    rows, one per observation — the binning-agnostic core shared by the
    token-length drift (``corpus_drift_psi``) and the embedding-space
    drift (``plans.llm_ops.q_embedding_drift_psi``, which bins by IVF
    cluster assignment).  Same smoothing, output and scale shape as
    ``corpus_drift_psi``."""
    a = bins_a.select("source", "bin").withColumn("snap", F.lit("a"))
    b = bins_b.select("source", "bin").withColumn("snap", F.lit("b"))
    counts = (
        a.unionByName(b)
        .groupBy("source", "bin")
        .agg(
            F.sum(F.when(F.col("snap") == "a", 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("snap") == "b", 1).otherwise(0)).alias("cb"),
        )
    )
    totals = counts.groupBy("source").agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("k_bins"),
    )
    p = (F.col("ca") + 0.5) / (F.col("na") + 0.5 * F.col("k_bins"))
    q = (F.col("cb") + 0.5) / (F.col("nb") + 0.5 * F.col("k_bins"))
    return (
        counts.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.round(F.sum((q - p) * F.log(q / p)), 6).alias("psi"),
            F.max("k_bins").cast("bigint").alias("n_bins"),
        )
    )


def domain_quality_rollup(
    df: DataFrame,
    text_col: str = "text",
    domain_col: str = "source",
    dup_rate_max: float = 0.2,
) -> DataFrame:
    """Per-domain curation dashboard (the RefinedWeb/FineWeb move of
    filtering at DOMAIN granularity, not just per-doc: a domain whose
    aggregate quality is poor or whose content is mostly self-copies gets
    dropped wholesale before per-doc filters ever run): per ``domain_col``
    group, document/token volume, mean composite quality, exact-dup rate
    (1 − distinct text hashes / docs), and a ``flagged`` verdict — quality
    below the cross-domain MEDIAN or dup rate above ``dup_rate_max``.

    The median is computed over the per-domain aggregate rows (one row
    per domain), so "flagged" always marks the weaker half on quality —
    a relative gate, which is how production domain triage works (review
    the worst cohort first), plus the absolute dup-rate tripwire.

    Scale shape: one corpus pass into a per-domain hash aggregate
    (map-side combinable: count, sum, avg, count-distinct via the hash);
    the domain table (thousands of rows at web scale) then self-joins
    against its own 1-row median aggregate via broadcast.  No window over
    the corpus, no second scan.

    Output: (source, n_docs, n_tokens, avg_quality, dup_rate, flagged).
    """
    from etl_pipeline2_0_spark.functions.text import quality_score

    per_dom = reuse(  # feeds the median AND the verdict
        df.select(
            F.col(domain_col).alias("source"),
            token_count(F.col(text_col)).alias("_tc"),
            quality_score(F.col(text_col)).alias("_q"),
            F.md5(F.col(text_col)).alias("_h"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_tc").cast("bigint").alias("n_tokens"),
            F.round(F.avg("_q"), 6).alias("avg_quality"),
            F.round(
                1.0 - F.countDistinct("_h") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )
    med = per_dom.agg(
        F.percentile("avg_quality", 0.5).alias("_med")
    )
    return per_dom.crossJoin(F.broadcast(med)).select(
        "source",
        "n_docs",
        "n_tokens",
        "avg_quality",
        "dup_rate",
        (
            (F.col("avg_quality") < F.col("_med"))
            | (F.col("dup_rate") > F.lit(float(dup_rate_max)))
        ).alias("flagged"),
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Datasheet-style corpus report card ("Datasheets for Datasets",
    Gebru et al. 2021 — the summary table a released training corpus
    ships with): one tidy (section, metric, scope, value) frame covering
    volume, token-length distribution, exact-duplication, language mix,
    per-source share, and mean heuristic quality — the numbers every
    dataset card's "composition" section reports, from the corpus
    itself.

    All values are DOUBLE (counts included) so the frame is one uniform
    relation; per-doc quality stays UNROUNDED into the mean (the r12
    half-boundary lesson — only the final aggregate rounds).

    Scale shape: ONE narrow projection of the corpus materializes behind
    a ``reuse`` barrier, then four bounded aggregates (corpus-wide, by
    source, by language, token percentiles) union partition-locally.
    Nothing corpus-sized shuffles except the three small grouped
    aggregates; the percentile runs as one pass.

    Output: (section, metric, scope, value), value rounded 6 dp.
    """
    from etl_pipeline2_0_spark.functions.text import (
        lang_id,
        punct_ratio,
        stopword_ratio,
        token_count,
    )

    t = F.col(text_col)
    quality_unrounded = (
        F.least(token_count(t) / F.lit(100.0), F.lit(1.0))
        + F.least(stopword_ratio(t) * 4, F.lit(1.0))
        + (F.lit(1.0) - F.least(punct_ratio(t) * 4, F.lit(1.0)))
    ) / 3
    base = reuse(df.select(
        F.col(source_col).alias("src"),
        lang_id(t).alias("lang"),
        token_count(t).alias("tc"),
        F.length(t).alias("nc"),
        F.md5(t).alias("h"),
        quality_unrounded.alias("q"),
    ))

    def _row(section, metric, scope, value):
        return [F.lit(section).alias("section"), F.lit(metric).alias("metric"),
                scope.alias("scope") if hasattr(scope, "alias")
                else F.lit(scope).alias("scope"), value.alias("value")]

    corpus = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("tc").cast("double").alias("_tok"),
        F.sum("nc").cast("double").alias("_chr"),
        F.round(F.avg("tc"), 6).alias("_avg_tc"),
        F.round(
            F.lit(1.0) - F.count_distinct(F.col("h")) / F.count(F.lit(1)),
            6,
        ).alias("_dup"),
        F.round(F.avg("q"), 6).alias("_q"),
        F.round(F.percentile(F.col("tc"), F.lit(0.25)), 6).alias("_p25"),
        F.round(F.percentile(F.col("tc"), F.lit(0.5)), 6).alias("_p50"),
        F.round(F.percentile(F.col("tc"), F.lit(0.75)), 6).alias("_p75"),
        F.round(F.percentile(F.col("tc"), F.lit(0.95)), 6).alias("_p95"),
    )
    corpus_rows = None
    for metric, colname, section in [
        ("n_docs", "_n", "volume"),
        ("n_tokens", "_tok", "volume"),
        ("n_chars", "_chr", "volume"),
        ("mean_doc_tokens", "_avg_tc", "length"),
        ("p25_tokens", "_p25", "length"),
        ("p50_tokens", "_p50", "length"),
        ("p75_tokens", "_p75", "length"),
        ("p95_tokens", "_p95", "length"),
        ("exact_dup_rate", "_dup", "dedup"),
        ("mean_quality", "_q", "quality"),
    ]:
        r = corpus.select(*_row(section, metric, "corpus", F.col(colname)))
        corpus_rows = r if corpus_rows is None else corpus_rows.unionByName(r)

    # W1 discipline: the corpus total joins back as a 1-row broadcast
    # (crossJoin-agg), never a driver-side count or a global window.
    tot = base.agg(F.count(F.lit(1)).cast("double").alias("_tot"))
    by_source = (
        base.groupBy("src").agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(F.broadcast(tot))
        .select(*_row(
            "volume", "doc_share", F.col("src"),
            F.round(F.col("_n") / F.col("_tot"), 6),
        ))
    )
    by_lang = (
        base.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
        .crossJoin(F.broadcast(tot))
        .select(*_row(
            "language", "doc_share", F.col("lang"),
            F.round(F.col("_n") / F.col("_tot"), 6),
        ))
    )
    return corpus_rows.unionByName(by_source).unionByName(by_lang)


def kanon_audit(
    df: DataFrame,
    quasi_cols: "tuple[str, ...]" = ("lang", "source"),
    bucket_col: str = "n_chars",
    bucket_width: int = 256,
    ks: "tuple[int, ...]" = (2, 5, 10, 20),
) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (Sweeney 2002): rows that
    share a combination of ``quasi_cols`` plus the ``bucket_width``-wide
    ``bucket_col`` bucket form one equivalence class; a class smaller
    than k means its members are re-identifiable by that attribute
    combination alone.  The privacy-side complement of the PII family
    (``pii_redact`` scrubs direct identifiers; this measures the residual
    quasi-identifier risk a release reviewer signs off on).

    Output: one row per k in ``ks`` — (k, n_classes, classes_below_k,
    rows_below_k, pct_rows_below) where pct is the re-identifiable row
    fraction at that k, emitted UNROUNDED (an exact-integer ratio via a
    fixed op sequence is already engine-deterministic; re-rounding would
    re-introduce midpoint hazards).  n_classes / total rows repeat
    across rows (the report-table convention, cf. ``dataset_card``).

    Scale: ONE corpus aggregate to the equivalence-class grain (map-side
    combined count on the quasi-key; the shuffle carries one long per
    class), then the k sweep explodes a ≤|ks|-element literal over the
    bounded class frame — corpus-independent after the first pass.  No
    window, no join, no collect.
    """
    cls = (
        df.groupBy(
            *[F.col(c) for c in quasi_cols],
            F.floor(F.col(bucket_col) / F.lit(bucket_width)).alias("_bkt"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("_s"))
    )
    ks_arr = F.array(*[F.lit(int(k)).cast("int") for k in ks])
    return (
        cls.select(F.col("_s"), F.explode(ks_arr).alias("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("_s") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("classes_below_k"),
            F.sum(
                F.when(F.col("_s") < F.col("k"), F.col("_s")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_below_k"),
            # Unrounded on purpose (the grpo_advantage midpoint lesson):
            # one division of two exact integer sums is already
            # bit-identical cross-engine; re-rounding could land on a
            # decimal midpoint where HALF_UP engines diverge.
            (
                F.sum(
                    F.when(F.col("_s") < F.col("k"), F.col("_s")).otherwise(0)
                )
                / F.greatest(F.sum("_s"), F.lit(1))
            ).alias("pct_rows_below"),
        )
    )


def ldiversity_audit(
    df: DataFrame,
    quasi_cols: "tuple[str, ...]" = ("source",),
    bucket_col: str = "n_chars",
    bucket_width: int = 256,
    sensitive_col: str = "lang",
    ls: "tuple[int, ...]" = (2, 3, 5),
) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007) — the
    attribute-disclosure complement of :func:`kanon_audit`: a
    k-anonymous equivalence class whose members all share ONE sensitive
    value still discloses that value for everyone in it.  Classes are
    the ``quasi_cols`` plus the ``bucket_width``-wide ``bucket_col``
    bucket; a class with fewer than l DISTINCT ``sensitive_col`` values
    fails l-diversity.

    Output: one row per l in ``ls`` — (l, n_classes, classes_below_l,
    rows_below_l, pct_rows_below), pct emitted UNROUNDED (exact-integer
    ratio, same convention as kanon_audit).

    Scale: ONE corpus aggregate to the class grain (the distinct count
    is exact — a two-level hash aggregate on (quasi, sensitive) then
    (quasi); the shuffle carries one row per observed pair), then the l
    sweep explodes a |ls|-element literal over the bounded class frame.
    No window, no join, no collect.
    """
    cls = (
        df.groupBy(
            *[F.col(c) for c in quasi_cols],
            F.floor(F.col(bucket_col) / F.lit(bucket_width)).alias("_bkt"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_s"),
            F.countDistinct(F.col(sensitive_col)).cast("bigint").alias("_l"),
        )
    )
    ls_arr = F.array(*[F.lit(int(l)).cast("int") for l in ls])
    return (
        cls.select(F.col("_s"), F.col("_l"), F.explode(ls_arr).alias("l"))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("_l") < F.col("l"), 1).otherwise(0))
            .cast("bigint")
            .alias("classes_below_l"),
            F.sum(
                F.when(F.col("_l") < F.col("l"), F.col("_s")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_below_l"),
            (
                F.sum(
                    F.when(F.col("_l") < F.col("l"), F.col("_s")).otherwise(0)
                )
                / F.greatest(F.sum("_s"), F.lit(1))
            ).alias("pct_rows_below"),
        )
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: "tuple[str, ...]" = ("source",),
    bucket_col: str = "n_chars",
    bucket_width: int = 256,
    sensitive_col: str = "lang",
    ts: "tuple[tuple[int, int], ...]" = ((1, 10), (1, 5), (3, 10), (1, 2)),
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    leg of the release-privacy tripod: :func:`kanon_audit` measures
    class SIZE, :func:`ldiversity_audit` class VALUE COUNT; this
    measures class value SKEW.  A k-anonymous, l-diverse class whose
    sensitive distribution is far from the corpus-wide one still leaks
    (the 2007 paper's salary example): an equivalence class satisfies
    t-closeness iff the Earth Mover's Distance between its
    ``sensitive_col`` distribution and the global distribution is <= t.
    For a categorical attribute under unit ground distance EMD is the
    total variation distance, TVD = 1/2 * sum_v |p_v - q_v|.

    Exactness: each class's TVD is carried as an exact INTEGER ratio
    num/den with den = 2*s*G (s = class size, G = corpus size):
    |c_v/s - g_v/G| = |c_v*G - g_v*s| / (s*G), and sensitive values
    absent from the class contribute their full global mass, so
    num = sum_observed |c_v*G - g_v*s| + (G - sum_observed g_v) * s.
    The t verdict is the integer cross-multiplication
    ``num * t_den > den * t_num`` — no float threshold anywhere, so the
    DuckDB twin is tolerance-free.  Each t in ``ts`` is a rational
    (t_num, t_den) pair.  (At 1e9+-row corpora ``den*t_den`` nears the
    BIGINT edge — divide num/den by gcd per class or audit a stratified
    sample; the verdict stays exact either way.)

    Output: one row per t — (t, n_classes, classes_above_t,
    rows_above_t, pct_rows_above, max_tvd); pct is the leaking row
    fraction, emitted UNROUNDED (one division of exact integer sums,
    the kanon_audit convention); max_tvd repeats across rows (report-
    table convention) and is the single division num/den maximised
    order-free over classes.

    Scale: ONE corpus aggregate to the (class, sensitive-value) cell
    grain (map-side combined; the shuffle carries one long per observed
    cell).  Everything after runs on the bounded cell frame: the global
    distribution folds to a 1-row broadcast (map + total), classes
    re-aggregate with an order-free integer fold over the per-class
    cell list, and the t sweep explodes a |ts|-element literal.  The
    cell frame sits behind a ``reuse`` barrier so the global-distribution
    branch reads it instead of re-scanning the corpus.  No window, no
    corpus-side join, no collect.
    """
    cells = reuse(
        df.groupBy(
            *[F.col(c) for c in quasi_cols],
            F.floor(F.col(bucket_col) / F.lit(bucket_width)).alias("_bkt"),
            F.col(sensitive_col).alias("_sv"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    # Global sensitive distribution as ONE broadcast row: value->count
    # map plus the corpus total.  Bounded by |distinct sensitive values|.
    glob = (
        cells.groupBy("_sv")
        .agg(F.sum("_c").cast("bigint").alias("_g"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_sv"), F.col("_g")))
            ).alias("_gmap"),
            F.sum("_g").cast("bigint").alias("_G"),
        )
    )
    zero = F.lit(0).cast("bigint")
    cls = (
        cells.groupBy(*[F.col(c) for c in quasi_cols], F.col("_bkt"))
        .agg(
            F.sum("_c").cast("bigint").alias("_s"),
            F.collect_list(F.struct(F.col("_sv"), F.col("_c"))).alias(
                "_obs"
            ),
        )
        .crossJoin(F.broadcast(glob))
        # Order-free integer folds over the per-class cell list (sums of
        # BIGINTs — collect_list order cannot change the result).
        .withColumn(
            "_num_obs",
            F.aggregate(
                "_obs",
                zero,
                lambda acc, x: acc
                + F.abs(
                    x["_c"] * F.col("_G")
                    - F.element_at(F.col("_gmap"), x["_sv"]) * F.col("_s")
                ),
            ),
        )
        .withColumn(
            "_g_obs",
            F.aggregate(
                "_obs",
                zero,
                lambda acc, x: acc
                + F.element_at(F.col("_gmap"), x["_sv"]),
            ),
        )
        .select(
            F.col("_s"),
            (
                F.col("_num_obs")
                + (F.col("_G") - F.col("_g_obs")) * F.col("_s")
            ).alias("_num"),
            (F.lit(2).cast("bigint") * F.col("_s") * F.col("_G")).alias(
                "_den"
            ),
        )
    )
    ts_arr = F.array(
        *[
            F.struct(
                F.lit(int(tn)).cast("bigint").alias("tn"),
                F.lit(int(td)).cast("bigint").alias("td"),
            )
            for tn, td in ts
        ]
    )
    above = F.col("_num") * F.col("td") > F.col("_den") * F.col("tn")
    return (
        cls.select(
            F.col("_s"), F.col("_num"), F.col("_den"),
            F.explode(ts_arr).alias("_t"),
        )
        .select("_s", "_num", "_den", F.col("_t.tn").alias("tn"),
                F.col("_t.td").alias("td"))
        .groupBy("tn", "td")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(F.when(above, 1).otherwise(0))
            .cast("bigint")
            .alias("classes_above_t"),
            F.sum(F.when(above, F.col("_s")).otherwise(0))
            .cast("bigint")
            .alias("rows_above_t"),
            (
                F.sum(F.when(above, F.col("_s")).otherwise(0))
                / F.greatest(F.sum("_s"), F.lit(1))
            ).alias("pct_rows_above"),
            F.max(
                F.col("_num").cast("double") / F.col("_den").cast("double")
            ).alias("max_tvd"),
        )
        .select(
            (F.col("tn").cast("double") / F.col("td").cast("double")).alias(
                "t"
            ),
            "n_classes",
            "classes_above_t",
            "rows_above_t",
            "pct_rows_above",
            "max_tvd",
        )
    )
