"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, each designed shuffle-minimal for the 100 TB case:

- **Exact** (``exact_dedup`` / ``duplicate_groups``): md5-keyed.  One hash
  shuffle on the digest (never the full text — 32-byte keys keep exchange
  volume tiny); min-id winner per group via a partitioned window.
- **N-gram Jaccard** (``jaccard_pairs``): relational token-join form —
  explode distinct shingles, self-join on shingle, count intersections,
  derive Jaccard.  No cross join anywhere; the join key is the shingle, so
  co-occurrence does the candidate pruning.  Fully SQL-expressible (DuckDB
  oracle).
- **MinHash + LSH** (``minhash_signatures`` / ``lsh_candidate_pairs`` /
  ``minhash_near_duplicates``): xxhash64-based signatures computed natively
  per row (no shuffle), banded into buckets, candidates from equi-joins on
  (band, bucket-hash) — the classic shingle→minhash→band→bucket-join at
  Spark scale — then verified with exact Jaccard on the candidate pairs
  only.
- **SimHash** (``simhash64``): 64-bit signature via a vectorized pandas UDF
  (numpy bit-ops over Arrow batches — the per-bit accumulation is the one
  place native higher-order functions would be slower than Arrow); near-dup
  pairs by Hamming distance ≤ k over band-blocked candidates.
- **Embedding cosine** (``embedding_near_duplicates``): see
  ``functions.similarity`` for the cosine machinery; near-dup = pairs above
  a cosine threshold among bucketed candidates.

All pair outputs are canonicalized ``id_a < id_b``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline2_0_spark.functions import sketches
from etl_pipeline2_0_spark.operators.partitioning import (
    ensure_min_parallelism,
    reuse,
)

# ---------------------------------------------------------------- exact ----


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact-content group.

    The shuffle key is the md5 digest; the window is partitioned by digest so
    no single-partition collapse occurs regardless of corpus size.
    """
    digest = F.md5(F.col(text_col)).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col))
    return (
        df.select(F.col(id_col), F.col(text_col), digest)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups with more than one exact copy: (content_hash, dup_count, min id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(F.col(id_col)).alias("keeper_id"),
        )
        .where(F.col("dup_count") > 1)
    )


# ------------------------------------------------------------- shingles ----


def token_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined) of a lowercased text.

    Documents with fewer than k tokens yield an EMPTY array (no degenerate
    whole-text shingle) — this mirrors the LEAD-based shingling of the
    DuckDB oracle twins (SQL_NGRAM_JACCARD, SQL_CONTAMINATION_CHECK), which
    drop NULL-padded rows, and avoids spurious ''-shingle matches between
    token-less documents.
    """
    toks = F.filter(F.split(F.lower(col), r"\W+"), lambda t: F.length(t) > 0)
    n = F.size(toks)
    # Shingles build by zipping the token array against its own k-1
    # shifts: zip_with evaluates each ARRAY argument once per row, where
    # the earlier transform-over-sequence form re-evaluated the tokenizer
    # expression per position (the lambda-inlining trap — O(tokens²) per
    # doc; values proven identical, ~1.3× on shingle-heavy queries at
    # sf0.1).  zip_with pads the shorter side with nulls, concat
    # propagates them, and the null filter drops exactly the k-1 tail
    # slots — so <k-token docs still yield the empty array.
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, n + 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(F.filter(acc, lambda x: x.isNotNull()))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    freq_source: str = "exact",
    cms_depth: int = 4,
    cms_width: int = 65536,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    Relational form: explode shingles → self-join on shingle → per-pair
    intersection counts → Jaccard from |A|+|B|-|A∩B|.  The shingle join key
    prunes the quadratic pair space to co-occurring docs only; skew on very
    common shingles is handled by AQE skew-join splitting.

    ``max_doc_freq`` (same knob as ``jaccard_pairs_incremental``): drop
    shingles appearing in more than that many docs from BOTH the join and
    the size aggregates — Jaccard over the capped shingle universe.  A
    boilerplate shingle with doc-freq d contributes d²/2 self-join rows
    while carrying no near-dup signal; AQE skew splitting rebalances the
    tasks but not the pair-count asymptotics, so at corpus scale pass a
    cap (None preserves the exact-Jaccard default and the ANSI oracle).

    ``freq_source`` picks how the cap measures doc-frequency:
      - ``"exact"`` (default): per-key aggregate + anti-join — exact, but
        at 100 TB that aggregate shuffles billions of shingle keys.
      - ``"cms"``: a count-min sketch (``cms_depth`` × ``cms_width``)
        replaces the exact aggregate; the shingle table is probed
        MAP-SIDE against the broadcast sketch (sketches.py
        cms_estimate_map_side), so the only added shuffle is the bounded
        ≤ d·w sketch build.  One-sided error: estimates only overcount,
        so the dropped-key set is a SUPERSET of the exact cap's — the
        sketch can over-prune boilerplate, never under-prune (direction
        property-pinned in tests; inflation bounded by ~e·N/width).
    """
    # Join key is the 8-byte shingle HASH, not the shingle string — the
    # self-join exchange then carries (id, long) rows instead of full
    # shingle text (~10× smaller at scale).  Counts are identical modulo
    # 64-bit collisions (~n²/2⁶⁵ — negligible at any realistic corpus).
    shingled = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(token_shingles(F.col(text_col), k)).alias("shingle"),
        )
        .select("id", F.xxhash64("shingle").alias("shingle_h"))
    )
    # The (id, hash) shingle index feeds three consumers (both self-join
    # sides + the size aggregate); without a barrier the tokenizer runs
    # three times per action.  The barrier keeps the compact 16-byte rows
    # once — the inline version of the "write the shingle index, probe
    # it" production shape the incremental variant documents.
    shingled = reuse(shingled)
    if max_doc_freq is not None:
        if freq_source == "cms":
            key = F.col("shingle_h").cast("string")
            sk = sketches.cms_sketch(
                shingled.select(key.alias("item")), "item", cms_depth, cms_width
            )
            shingled = (
                sketches.cms_estimate_map_side(
                    shingled, key, sk, cms_depth, cms_width, out_col="__est"
                )
                .where(F.col("__est") <= max_doc_freq)
                .drop("__est")
            )
        else:
            hot = (
                shingled.groupBy("shingle_h")
                .agg(F.count(F.lit(1)).alias("df_"))
                .where(F.col("df_") > max_doc_freq)
                .select("shingle_h")
            )
            shingled = shingled.join(hot, "shingle_h", "left_anti")
    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def jaccard_pairs_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Incremental dedup: exact n-gram Jaccard of every NEW document against
    the EXISTING corpus — the standard production shape (each crawl batch is
    checked against the already-deduped corpus, never corpus×corpus again).

    Output: (new_id, corpus_id, jaccard) for pairs ≥ ``threshold``.

    Scale shape: both sides explode to (id, shingle-hash) rows and meet in
    ONE cross-frame equi-join on the 8-byte hash — work is proportional to
    shingles the new batch actually shares, not |new|×|corpus|.  At 100 TB
    the corpus side is a materialized shingle index (written bucketed by
    ``shingle_h`` via sinks.bucketing so each batch probe co-locates
    without reshuffling the corpus); here it is expressed inline over the
    same frames.  ``max_doc_freq`` drops shingles appearing in more than
    that many corpus docs — boilerplate carries no near-dup signal but
    dominates join fan-out (same skew argument as LSH bucket caps).
    """

    def _shingles(df: DataFrame, out_id: str) -> DataFrame:
        return (
            ensure_min_parallelism(df)
            .select(
                F.col(id_col).alias(out_id),
                F.explode(token_shingles(F.col(text_col), k)).alias("shingle"),
            )
            .select(out_id, F.xxhash64("shingle").alias("shingle_h"))
        )

    # Tokenize each side exactly once: both shingle frames feed 2-3
    # consumers (doc-freq filter, size aggregate, the probe join), so
    # without a barrier the explode+hash re-runs per consumer.  Same
    # shingle-index materialization as jaccard_pairs.
    new_sh = reuse(_shingles(new_df, "new_id"))
    corp_sh = reuse(_shingles(corpus_df, "corpus_id"))
    if max_doc_freq is not None:
        hot = (
            corp_sh.groupBy("shingle_h")
            .agg(F.count(F.lit(1)).alias("df_"))
            .where(F.col("df_") > max_doc_freq)
            .select("shingle_h")
        )
        corp_sh = corp_sh.join(hot, "shingle_h", "left_anti")
        new_sh = new_sh.join(hot, "shingle_h", "left_anti")
    new_sizes = new_sh.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_new"))
    corp_sizes = corp_sh.groupBy("corpus_id").agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    inter = (
        new_sh.join(corp_sh, "shingle_h")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(new_sizes, "new_id")
        .join(corp_sizes, "corpus_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_new") + F.col("n_corpus") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


# -------------------------------------------------------- MinHash + LSH ----


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    portable: bool = False,
) -> DataFrame:
    """Per-document MinHash signature: ``sig[j] = min over shingles of
    hash_j(shingle)``, with ``hash_j(s) = xxhash64(xxhash64(s), j)`` so the
    string is hashed once and each permutation re-hashes only the 8-byte
    digest.

    ``portable=True`` swaps the hash family for the md5-hex15 scheme every
    SQL engine reproduces (``hash_j(s) = int(md5(j ':' md5(s)[:15])[:15],
    16)`` — the shingle is still md5'd once, each permutation re-hashes the
    15-char digest prefix), trading hash speed for a full ANSI oracle twin
    — the same portability trade ``rp_lsh_topk`` made for its planes.

    Shape matters here: explode → one base hash per shingle → ``groupBy(id)``
    with ``num_hashes`` MIN aggregates.  Tokenization runs exactly once per
    document, the map-side partial MINs combine before the exchange (the
    shuffle carries ``num_hashes`` longs per doc, never shingles), and the
    aggregate is a plan barrier: downstream banding projections can't be
    collapsed into (and thus re-inline/recompute) the tokenizer — stacking
    ``transform`` lambdas over the shingle expression re-evaluates it per
    lambda, which profiled ~100× slower at sf0.1.
    """
    exploded = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(token_shingles(F.col(text_col), k)).alias("shingle"),
    )
    if portable:
        shingle_rows = exploded.select(
            "id", F.substring(F.md5("shingle"), 1, 15).alias("h")
        )
        aggs = [
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), F.col("h"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("bigint")
            ).alias(f"s{j}")
            for j in range(num_hashes)
        ]
    else:
        shingle_rows = exploded.select("id", F.xxhash64("shingle").alias("h"))
        aggs = [
            F.min(F.xxhash64(F.col("h"), F.lit(j))).alias(f"s{j}")
            for j in range(num_hashes)
        ]
    return (
        shingle_rows.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"s{j}" for j in range(num_hashes)]).alias("signature"))
    )


def _banded_self_join(
    banded: DataFrame,
    keys: list[str],
    salt: int | None,
    extra: dict[str, str] | None = None,
) -> DataFrame:
    """Canonical-pair self-join on band keys, shared by the MinHash band
    join and the pigeonhole Hamming join.  ``salt`` spreads a hot band key
    over ``salt`` reducers without changing the output: the left side
    derives a deterministic salt from its id (never rand() — retried tasks
    must reproduce it), the right side replicates once per salt value, and
    (keys + salt) becomes the join key, so each qualifying pair meets
    exactly once — at the left row's salt.  ``extra`` carries additional
    output columns as {alias: "side.col"}."""
    from etl_pipeline2_0_spark.operators.skew import _salt_of

    left, right = banded, banded
    join_keys = list(keys)
    if salt:
        left = banded.withColumn("__salt", _salt_of(F.col("id"), salt))
        right = banded.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("__salt", F.col("__salt").cast("int"))
        join_keys.append("__salt")
    a, b = left.alias("a"), right.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for k in join_keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    cols = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")] + [
        F.col(src).alias(name) for name, src in (extra or {}).items()
    ]
    return a.join(b, cond).select(*cols).distinct()


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
    salt: int | str | None = None,
    bucket_freq_source: str = "exact",
    cms_depth: int = 4,
    cms_width: int = 65536,
    auto_salt_target_rows: int = 200_000,
) -> DataFrame:
    """Band the signatures and equi-join on (band, bucket hash).
    ``portable=True`` hashes each band slice with md5 (ANSI-reproducible)
    instead of xxhash64; the join shape is identical.

    Each band's slice hashes to one bucket key; docs colliding in ANY band
    become candidates.  The join is a plain equi-join → hash shuffle on
    small (band, bucket) keys; output is distinct canonical pairs.

    ``max_bucket_size`` is the skew guard for the 100 TB case: a bucket of n
    docs yields n·(n-1)/2 pairs, so one boilerplate-heavy bucket can go
    quadratic.  Buckets over the cap are dropped before the self-join
    (standard production-LSH move — such buckets carry near-universal
    content, not near-duplicate signal).  Pass ``None`` to disable.

    ``salt`` spreads SURVIVING hot buckets (legitimate near-dup clusters
    just under the cap — e.g. a template that dodges the doc-freq guard)
    over ``salt`` reducers: the left side takes a deterministic salt from
    its id, the right side replicates once per salt value, and the join
    key grows to (band, bucket, salt) — every qualifying pair still meets
    exactly once (at the left row's salt), so the output is IDENTICAL to
    the unsalted join (pinned by tests/test_scale_ops.py), only the
    shuffle layout changes.  Cost: ``salt``× replication of the banded
    frame's right side — use single digits, and only when bucket-size
    telemetry shows concentration.  ``salt="auto"`` derives the factor
    from that telemetry itself (see ``_auto_band_salt``): the top
    surviving bucket size — read from the CMS sketch when one is built,
    else one exact aggregate — divided by ``auto_salt_target_rows``,
    clamped to [1, 16]; 1 means unsalted.

    ``bucket_freq_source="cms"`` measures bucket sizes with a count-min
    sketch instead of the exact per-bucket window count: the banded table
    is probed MAP-SIDE against the broadcast ≤ cms_depth·cms_width
    sketch, removing the (band, bucket) shuffle the window needs — at
    100 TB the banded table then moves only once (into the self-join).
    One-sided: estimated sizes only overcount, so the sketch cap drops a
    SUPERSET of the exact cap's buckets (never under-prunes; direction
    pinned in tests).
    """
    def _bucket(b):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        return F.md5(joined) if portable else F.xxhash64(joined)

    banded = signatures.select(
        "id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _bucket)
        ).alias("band", "bucket"),
    )
    sk = None
    if max_bucket_size is not None:
        if bucket_freq_source == "cms":
            key = F.concat_ws(":", F.col("band").cast("string"),
                              F.col("bucket").cast("string"))
            sk = reuse(sketches.cms_sketch(  # feeds the probe AND auto-salt
                banded.select(key.alias("item")), "item", cms_depth, cms_width
            ))
            banded = (
                sketches.cms_estimate_map_side(
                    banded, key, sk, cms_depth, cms_width, out_col="__est"
                )
                .where(F.col("__est") <= max_bucket_size)
                .drop("__est")
            )
        else:
            wb = Window.partitionBy("band", "bucket")
            banded = (
                banded.withColumn("__bucket_n", F.count(F.lit(1)).over(wb))
                .where(F.col("__bucket_n") <= max_bucket_size)
                .drop("__bucket_n")
            )
    if salt == "auto":
        salt = _auto_band_salt(
            banded, sk, max_bucket_size, auto_salt_target_rows
        )
    return _banded_self_join(banded, ["band", "bucket"], salt)


def _auto_band_salt(
    banded: DataFrame,
    sketch: DataFrame | None,
    max_bucket_size: int | None,
    target_rows: int,
) -> int | None:
    """Derive the band-join salt from measured bucket concentration
    (r10 verdict item 7): salt = ceil(top surviving bucket size /
    ``target_rows``), clamped to [1, 16]; 1 → None (unsalted).

    The top-size estimate is the cheapest sound one available:
      - with a CMS ``sketch``, min over hash rows of the row's max cell —
        every bucket's true size is ≤ its cell in EVERY row, so this
        upper-bounds the hottest bucket from ≤ d·w rows (no corpus pass);
      - otherwise one exact (band,bucket) count aggregate (same shuffle
        class the exact cap's window already pays).
    A cap bounds surviving sizes too, so the estimate is min'd with it.
    Over-estimates only over-salt (layout, never output — salted ≡
    unsalted is pinned in tests/test_scale_ops.py).
    """
    if sketch is not None:
        top = (
            sketch.groupBy("row")
            .agg(F.max("cnt").alias("mx"))
            .agg(F.min("mx"))
            .first()[0]
        )
    else:
        top = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .first()[0]
        )
    if top is None:
        return None
    if max_bucket_size is not None:
        top = min(int(top), int(max_bucket_size))
    salt = max(1, min(16, -(-int(top) // int(target_rows))))
    return None if salt == 1 else salt


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
    band_salt: int | str | None = None,
    bucket_freq_source: str = "exact",
) -> DataFrame:
    """Full shingle→minhash→band→bucket-join→verify pipeline.
    ``portable=True`` uses the md5 hash family end-to-end (see
    ``minhash_signatures``), making the WHOLE pipeline ANSI-oracle-able.

    LSH prunes candidates; exact Jaccard on the candidates only (semi-joined
    back to the shingle table) removes false positives, so the output is
    exact-above-threshold among LSH-recalled pairs.

    Band geometry picks the recall/cost point: collision probability is
    1-(1-J^r)^b for r = num_hashes/bands rows per band.  The defaults
    (32 hashes, 8 bands of 4) put the S-curve knee near J≈0.6; 16 bands of
    2 moves it to J≈0.25 with ~99% recall at J=0.5 while pairs at the
    corpus noise floor (J≈0.01) collide with probability ~3e-3.
    """
    sigs = minhash_signatures(df, text_col, id_col, k, num_hashes, portable)
    # The candidate pair list feeds BOTH the verify join and the semi-join
    # prune below; Catalyst does not reuse the exchange across the two
    # consumers (column pruning diverges), so without a barrier the whole
    # shingle→minhash→band subtree executes twice per action (profiled
    # ~1.9× on the full pipeline at sf0.1).
    candidates = reuse(lsh_candidate_pairs(
        sigs, bands, num_hashes // bands, max_bucket_size, portable,
        band_salt, bucket_freq_source,
    ))
    return minhash_verify_candidates(
        df, candidates, text_col, id_col, k, threshold
    )


def minhash_verify_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of an LSH candidate pair list — the
    tail of ``minhash_near_duplicates``, exposed so metric queries that
    need BOTH the candidate stream and its verified subset (e.g. the
    band-efficiency row) can share ONE candidate subtree instead of
    re-running signatures+banding per consumer (r17 optimization,
    guide §2.4).

    Verify-side pruning: only docs that appear in some candidate pair need
    their shingle set materialized.  The semi-join runs BEFORE the
    tokenizer, so at scale the re-shingling cost is O(candidates), not
    O(corpus) — LSH typically recalls a tiny fraction of docs.
    """
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .union(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    shingled = (
        ensure_min_parallelism(df)
        .join(cand_ids, F.col(id_col) == cand_ids["id"], "left_semi")
        .select(
            F.col(id_col).alias("id"),
            token_shingles(F.col(text_col), k).alias("shingles"),
        )
    )
    sa = shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


# ------------------------------------------------------------- winnowing ----


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 20,
    portable_hash: bool = False,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    substring-level copy detection (any shared run of ≥ k+window-1 chars
    leaves ≥1 shared fingerprint).

    ``portable_hash`` swaps the gram hash from xxhash64 (fastest, JVM
    whole-stage codegen) to the first 16 hex chars of md5 — identical in
    every engine with an md5(), which makes the full pipeline (and its
    fingerprints) reproducible outside Spark for cross-engine audits.
    Winnowing only needs *a* consistent total order on hashes; min over
    the fixed-length hex string is that order.

    Relational shape mirrors ``jaccard_pairs``: explode fingerprints,
    equi-join on the 8-byte fingerprint, count per pair.  The fingerprint
    stream is ~2/(window+1) of k-grams, so the exchange is a fraction of
    corpus bytes.

    ``max_doc_freq`` drops fingerprints present in more than that many
    documents before the self-join — boilerplate k-grams ("the and…")
    carry no copy signal but a fingerprint in n docs joins into n²/2
    pairs; the cap is the same skew guard as LSH's ``max_bucket_size``.
    """
    # Row-based winnowing (vs. the array form in functions.text): explode
    # the k-gram hashes ONCE, then the sliding-window min is a per-doc
    # partitioned window function.  Stacking array lambdas would re-inline
    # the gram-hash computation into every window slice (no CSE across
    # higher-order lambdas — same pathology as the MinHash signature
    # stacking), turning O(n·w) into O(n²·k) per document.
    def gram_hash(i):
        gram = F.substring(F.col(text_col), F.lit(0) + i, k)
        if portable_hash:
            return F.substring(F.md5(gram), 1, 16)
        return F.xxhash64(gram)

    gram_hashes = F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.length(F.col(text_col)) - F.lit(k - 1), F.lit(1)),
        ),
        gram_hash,
    )
    grams = (
        ensure_min_parallelism(df)
        .where(F.length(F.col(text_col)) >= k)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(gram_hashes).alias("pos", "h"),
        )
    )
    wmin = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    )
    wcnt = Window.partitionBy("id")
    fps = (
        grams.select(
            "id",
            "pos",
            F.min("h").over(wmin).alias("fp"),
            F.count(F.lit(1)).over(wcnt).alias("n_grams"),
        )
        .where(F.col("pos") <= F.greatest(F.col("n_grams") - window, F.lit(0)))
        .select("id", "fp")
        .distinct()
    )
    if max_doc_freq is not None:
        wf = Window.partitionBy("fp")
        fps = (
            fps.withColumn("__df", F.count(F.lit(1)).over(wf))
            .where(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )


# -------------------------------------------------------------- SimHash ----


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched pandas UDF.

    numpy unpacks each token hash into 64 bits and accumulates ±1 per bit
    position across tokens — work that per-bit native expressions would do
    64× slower, so this is the justified vectorized-UDF path.  Token hashes
    come from xxhash64 *natively* first, so the UDF only does bit math.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(hash_arrays: pd.Series) -> pd.Series:
        import numpy as np

        out = np.zeros(len(hash_arrays), dtype=np.int64)
        for i, hashes in enumerate(hash_arrays):
            if hashes is None or len(hashes) == 0:
                continue
            h = np.asarray(hashes, dtype=np.uint64)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
            counts = (2 * bits - 1).sum(axis=0)
            sig = np.uint64(0)
            for b in np.nonzero(counts > 0)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(sig)
        return pd.Series(out)

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\W+"), lambda t: F.length(t) > 0
    )
    token_hashes = F.transform(F.array_distinct(toks), lambda t: F.xxhash64(t))
    return ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), _simhash(token_hashes).alias("simhash")
    )


def hamming_pairs(
    sigs: DataFrame,
    id_col: str = "id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    blocks: int = 4,
    salt: int | None = None,
) -> DataFrame:
    """Pairs of 64-bit signatures within Hamming distance ``max_hamming``.

    Pigeonhole blocking: split the 64-bit signature into ``blocks`` chunks;
    any pair within distance ``max_hamming < blocks`` must agree on ≥1 chunk,
    so candidates come from equi-joins on (chunk index, chunk value) — no
    cross join — then exact popcount verification.  Shared by SimHash text
    near-dup and pHash image near-dup.

    ``salt`` spreads a hot (chunk index, chunk value) key — e.g. a chunk
    that is all-zeros across a templated corpus slice — over ``salt``
    reducers via the shared salted self-join; output is identical to the
    unsalted join (see ``_banded_self_join``).

    ``max_hamming < blocks`` is a hard precondition, enforced here: with
    ``max_hamming >= blocks`` a pair's differing bits can straddle every
    chunk and the candidate join silently misses it (a recall gap the r8
    advisor caught in an earlier caller).  Callers needing larger radii
    must raise ``blocks`` (candidate buckets shrink to ``64 // blocks``
    bits — watch degenerate-bucket sizes) rather than silently degrade.
    """
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole exactness requires max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks})"
        )
    bits_per = 64 // blocks
    base = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("sig"), b * bits_per).bitwiseAND(
                F.lit((1 << bits_per) - 1)
            )
            for b in range(blocks)
        ]
    )
    chunked = base.select(
        "id",
        "sig",
        F.posexplode(chunks).alias("chunk_idx", "chunk_val"),
    )
    candidates = _banded_self_join(
        chunked,
        ["chunk_idx", "chunk_val"],
        salt,
        extra={"sh_a": "a.sig", "sh_b": "b.sig"},
    )
    return (
        candidates.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_estimator_error(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash Jaccard-ESTIMATOR calibration table — the third leg of
    the LSH quality tripod: ``minhash_recall``/``minhash_precision``
    measure the banded BLOCKING, ``lsh_geometry_sweep`` prices its
    geometry; this measures the ESTIMATOR itself — how far the
    signature-agreement fraction (matches/H, the unbiased MinHash
    estimate of J, Broder 1997) sits from the exact Jaccard, per exact-J
    decile.  The table that answers "how many hashes do I need before
    trusting est-J as the dedup score" — the H-sizing complement of the
    bloom/cms/cdc sizing curves.

    Output: (j_bin, n_pairs, within_1, within_2, within_4) — for pairs
    sharing ≥1 shingle with exact J ≥ 0.1, binned by ``j_bin =
    (10·|∩|) div |∪|`` (decile of exact J; J = 1 lands in bin 10), with
    counts of pairs whose estimator error stays within 1, 2, and 4
    hash-agreements of exact (``|err| ≤ t/H``).  EVERY emitted number is
    an integer computed from exact integer comparisons — ``|err| ≤ t/H
    ⟺ |matches·|∪| − H·|∩|| ≤ t·|∪|`` — no float anywhere, so the
    DuckDB twin matches without tolerance and the counts are
    aggregation-order-independent.

    Scale: the pair space is the jaccard_pairs shingle-hash self-join
    (metric rows run on the bounded sample per the recall-metric
    convention; production corpora would add the doc-freq cap);
    signatures join back on the id equi-key, matches is one
    ``zip_with`` projection — no window, no cartesian.
    """
    base = reuse(
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(token_shingles(F.col(text_col), k)).alias("shingle"),
        )
        .select("id", F.xxhash64("shingle").alias("h"))
    )
    sizes = base.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = base.alias("a"), base.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    scored = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a", "id_b", "nc",
            (F.col("na") + F.col("nb") - F.col("nc")).alias("un"),
        )
        .where(F.lit(10) * F.col("nc") >= F.col("un"))
    )
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, k=k,
        num_hashes=num_hashes, portable=True,
    )
    m = (
        scored.join(
            sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sa")),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sb")),
            "id_b",
        )
        .select(
            "nc",
            "un",
            F.size(
                F.filter(
                    F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
                    lambda v: v,
                )
            )
            .cast("bigint")
            .alias("matches"),
        )
    )
    H = int(num_hashes)
    dev = F.abs(F.col("matches") * F.col("un") - F.lit(H) * F.col("nc"))
    within = [
        F.sum(F.when(dev <= F.lit(t) * F.col("un"), 1).otherwise(0))
        .cast("bigint")
        .alias(f"within_{t}")
        for t in (1, 2, 4)
    ]
    return (
        m.select(
            F.expr("CAST((10 * nc) DIV un AS INT)").alias("j_bin"),
            "matches", "nc", "un",
        )
        .groupBy("j_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"), *within)
        .orderBy("j_bin")
    )


def hamming_recall(
    sigs: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    max_hamming: int = 3,
    blocks: int = 4,
    sig_bits: int = 64,
    exact_blocks: int = 16,
) -> DataFrame:
    """Measured recall + candidate-efficiency of the pigeonhole chunk
    equi-join (:func:`hamming_pairs`) against EXACT all-pairs Hamming
    ground truth over the same signature table — the quality row the
    SimHash/pHash/audio-fingerprint near-dup family shares.  The
    pigeonhole theorem guarantees recall 1.0 whenever ``max_hamming <
    blocks``; this MEASURES that the implementation actually delivers it
    (the r8 advisor found a caller silently violating the precondition —
    this row is the standing regression detector for that bug class),
    and prices the guarantee via candidate volume per true pair.

    ``sig_bits`` is the signature's EFFECTIVE width (bits above it are
    identically zero): chunks tile ``sig_bits`` rather than the full 64,
    because a chunk lying wholly in the constant-zero region matches
    every pair — candidates silently degrade to the cross product (a
    47-bit dHash under 64-bit chunking has two such chunks).
    Exactness is unaffected: bits ≥ ``sig_bits`` agree on every pair by
    construction, so ≤``max_hamming`` differing bits still leave ≥1 of
    the ``blocks`` chunks identical.

    Output (one row): (n_items, n_true_pairs, n_candidate_pairs,
    n_pairs_found, recall, candidates_per_true).  recall =
    found/true (NULL when no true pairs); candidates_per_true =
    distinct pre-verification candidates per true pair (the
    band-efficiency convention); both emitted UNROUNDED.

    Scale: the exact truth side is the metric's POINT and is all-pairs
    by definition — at 100 TB it runs on the bounded metric sample (the
    established recall-metric convention), distributed as the salted-
    block shuffle-hash equi-join ``bitext_mine`` uses, never a single-
    partition cross.  The candidate side is the production pigeonhole
    equi-join itself.
    """
    base = reuse(
        sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
        .where(F.col("sig").isNotNull())
    )
    # exact truth: salted-block all-pairs (a carries blk = hash(id)%B;
    # b explodes every blk) — a shuffle-hash equi-join on blk spreads
    # the quadratic work over exact_blocks reducers
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(exact_blocks)).alias("blk"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.explode(F.sequence(F.lit(0), F.lit(exact_blocks - 1))).alias("blk"),
    )
    truth = (
        a.join(b.hint("shuffle_hash"), "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            <= max_hamming
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    )
    # candidate side: the production pigeonhole chunk equi-join, with
    # the pre-verification pair volume kept visible
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole exactness requires max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks})"
        )
    if sig_bits % blocks != 0 or not 0 < sig_bits <= 64:
        raise ValueError(
            f"sig_bits must be a multiple of blocks in (0, 64] "
            f"(got sig_bits={sig_bits}, blocks={blocks})"
        )
    bits_per = sig_bits // blocks
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("sig"), i * bits_per).bitwiseAND(
                F.lit((1 << bits_per) - 1)
            )
            for i in range(blocks)
        ]
    )
    chunked = base.select(
        "id", "sig", F.posexplode(chunks).alias("chunk_idx", "chunk_val")
    )
    ca, cb = chunked.alias("ca"), chunked.alias("cb")
    cand = (
        ca.join(
            cb,
            (F.col("ca.chunk_idx") == F.col("cb.chunk_idx"))
            & (F.col("ca.chunk_val") == F.col("cb.chunk_val"))
            & (F.col("ca.id") < F.col("cb.id")),
        )
        .select(
            F.col("ca.id").alias("id_a"),
            F.col("cb.id").alias("id_b"),
            F.col("ca.sig").alias("sig_a"),
            F.col("cb.sig").alias("sig_b"),
        )
        .distinct()
    )
    cm = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        F.sum(
            F.when(
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                <= max_hamming,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pairs_found"),
    )
    n = base.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    return (
        n.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(cm))
        .select(
            "n_items",
            "n_true_pairs",
            "n_candidate_pairs",
            "n_pairs_found",
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_pairs_found") / F.col("n_true_pairs"),
            ).alias("recall"),
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_candidate_pairs") / F.col("n_true_pairs"),
            ).alias("candidates_per_true"),
        )
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    band_salt: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``
    (pigeonhole chunk equi-join — see ``hamming_pairs``)."""
    return hamming_pairs(
        simhash64(df, text_col, id_col),
        id_col="id",
        sig_col="simhash",
        max_hamming=max_hamming,
        blocks=blocks,
        salt=band_salt,
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components of an undirected pair graph — the step that
    turns near-duplicate PAIRS into duplicate CLUSTERS (keep one doc per
    component).  Output: (node, component) with component = the minimum
    node id in the component — fully deterministic.

    Algorithm: iterative min-label propagation.  Each round every node
    takes the minimum label among itself and its neighbors (one equi-join
    on the edge list + one groupBy-min); convergence when no label
    changes, bounded by ``max_iterations``.  Rounds needed = graph
    diameter — dedup graphs are small bushes around a few hubs, so this
    converges in a handful of rounds.

    Scale notes: each iteration is hash-partitioned joins on node ids (no
    broadcast of anything corpus-sized), and ``localCheckpoint`` truncates
    the lineage each round so the plan does not grow exponentially with
    iterations (on a cluster use ``spark.sparkContext.setCheckpointDir`` +
    ``checkpoint`` for fault-tolerant truncation; for web-scale or
    long-chain graphs use :func:`connected_components_star`, which needs
    only O(log diameter) rounds).
    """
    und = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        # Materialize ONCE: the edge list is re-joined every round, and its
        # upstream (pair generation) is typically the most expensive subtree
        # in the whole computation — without this it re-executes per round.
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # Labels only ever DECREASE (min semilattice), so Σlabel strictly drops
    # until the fixpoint — an unchanged sum certifies convergence with one
    # cheap aggregate per round instead of an old⋈new comparison join.
    # ``_UNSET`` (not a real sum) skips a dedicated init-sum job: round 1's
    # sum can never spuriously equal it except on the empty graph, where
    # None == None converging immediately is exactly right.
    _UNSET = object()
    prev_sum: object = _UNSET
    converged = False
    for _ in range(max_iterations):
        nbr = und.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        labels = (
            labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # Labels were still moving when the budget ran out: returning here
        # would silently mis-cluster (and diverge from the recursive-CTE
        # oracle, which always reaches the exact fixpoint).  A component
        # chain longer than ``max_iterations`` hops is the only way to get
        # here — raise rather than hand back wrong clusters.
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the budget); raise "
            "max_iterations or pre-contract the graph"
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — converges in **O(log diameter)** rounds where
    min-label propagation (:func:`connected_components`) needs O(diameter).

    Same contract as :func:`connected_components`: (node, component) with
    component = the minimum node id, deterministic; raises on iteration
    exhaustion.  Use this variant for graphs that may contain long chains
    (e.g. transitive near-dup runs in boilerplate-heavy corpora); the
    min-label variant stays the default because dedup graphs are normally
    shallow and its per-round cost is one join instead of two star steps.

    Each step is a groupBy-min over the (directed) neighbor lists plus a
    projection — hash-partitioned on node id, nothing corpus-sized on the
    driver or broadcast; ``localCheckpoint`` truncates lineage per round.
    """

    def _large_star(e: DataFrame) -> DataFrame:
        # Γ(u) over both directions; connect strictly-larger neighbors to
        # m = min(Γ(u) ∪ {u}).
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("mn"))
        return (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mn"), F.col("u")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # Orient larger→smaller, then connect u and all its small neighbors
        # to m = min(Γ⁻(u)); (m itself stays the center).
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        joined = directed.join(mins, "u")
        relinked = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_links = mins.select("u", F.col("m").alias("v"))
        return (
            relinked.union(self_links)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    # Materialize the (typically expensive) upstream pair generation ONCE;
    # nodes and the working edge set both derive from this checkpoint.
    base = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Node universe BEFORE dropping self-loops: an (x, x) edge contributes
    # the singleton component {x}, same as the min-label variant.
    nodes = (
        base.select(F.col("u").alias("node"))
        .union(base.select(F.col("v").alias("node")))
        .distinct()
    )
    cur = base.where(F.col("u") != F.col("v")).localCheckpoint(eager=True)
    _UNSET = object()
    prev_sig: object = _UNSET
    converged = False
    for _ in range(max_iterations):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        # Cheap equality certificate for the edge SET: count + sum of a
        # 64-bit edge hash (collision odds ~2⁻⁶⁴ per round — negligible).
        sig = tuple(
            cur.agg(
                F.count(F.lit(1)),
                # decimal(38) sum: a long-typed Σ of 64-bit hashes overflows
                # (ANSI mode raises); decimal is exact at any edge count.
                F.sum(F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")),
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iterations} rounds; raise max_iterations"
        )
    # Fixpoint edges form stars centered at component minima: u → center v.
    centers = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return nodes.join(centers, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def contamination_check(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_containment: float = 0.0,
) -> DataFrame:
    """Benchmark decontamination: per eval document, the fraction of its
    k-token shingles that appear ANYWHERE in the training corpus.

    Containment (not Jaccard) is the right measure here — a short eval
    doc fully embedded in one long training doc has low Jaccard but
    containment 1.0, and that's exactly the leak being hunted.

    Scale: the corpus side collapses to its DISTINCT shingle set before
    the join (one dedup shuffle over corpus shingles, the dominant cost);
    the eval side is tiny by construction, so the match join broadcasts.
    Emits every eval doc (left join) so "no overlap" is an auditable 0.0,
    filtered by ``min_containment`` only if asked.
    """
    corpus_sh = (
        ensure_min_parallelism(corpus)
        .select(F.explode(token_shingles(F.col(text_col), k)).alias("shingle"))
        .distinct()
    )
    eval_sh = eval_set.select(
        F.col(id_col).alias("eval_id"),
        F.explode(token_shingles(F.col(text_col), k)).alias("shingle"),
    )
    flagged = eval_sh.join(
        corpus_sh.withColumn("in_corpus", F.lit(1)), "shingle", "left"
    )
    return (
        flagged.groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("in_corpus"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(
                F.sum(F.coalesce(F.col("in_corpus"), F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def _word_spans(
    docs: DataFrame, text_col: str, id_col: str, k_words: int
) -> DataFrame:
    """(id, span_id, span_text) — consecutive ``k_words``-word spans per doc.

    One narrow projection: ``split`` + ``sequence``/``transform``/``slice``
    + a single ``explode``.  No word-level explode, no shuffle.  NULL text
    is coalesced to '' first, so empty and NULL docs alike yield one empty
    span and every document survives into the output.
    """
    w = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_spans = F.greatest(F.ceil(F.size(w) / F.lit(k_words)), F.lit(1)).cast("int")
    return (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_spans - 1),
                    lambda s: F.struct(
                        s.alias("span_id"),
                        F.array_join(
                            F.slice(w, s * k_words + 1, k_words), " "
                        ).alias("span_text"),
                    ),
                )
            ).alias("sp"),
        )
        .select(id_col, "sp.span_id", "sp.span_text")
    )


def dedup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_words: int = 3,
    max_doc_freq: int = 5,
) -> DataFrame:
    """Corpus-level span dedup (the C4 / RefinedWeb "repeated span removal"
    op): split each document into consecutive ``k_words``-word spans, drop
    every span whose exact text occurs in more than ``max_doc_freq``
    DISTINCT documents (boilerplate: headers, navigation, license blurbs),
    and reassemble the surviving spans in document order.

    Differs from the doc-level dedups above: the unit of removal is a span
    INSIDE an otherwise-unique document, so unique documents still lose
    their boilerplate segments.

    Scale design (100 TB):
      - Span construction is one narrow projection — ``split`` +
        ``sequence``/``transform``/``slice`` + a single ``explode`` — no
        word-level explode, no per-word shuffle.
      - The only shuffles are (a) the span-frequency aggregate and (b) the
        span→frequency equi-join, both keyed on span text, a
        high-cardinality key AQE handles; nothing is collected.
      - Reassembly is one groupBy(doc) with ``array_sort`` over
        (span_id, text) structs — the per-doc span count is bounded by
        doc length / k, so state per group is small.

    Returns (doc_id, n_spans, n_dropped, kept_text).
    """
    spans = _word_spans(docs, text_col, id_col, k_words)
    freq = spans.groupBy("span_text").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    flagged = spans.join(freq, "span_text")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("df") > max_doc_freq).cast("bigint")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("df") <= max_doc_freq,
                                F.struct("span_id", "span_text"),
                            )
                        )
                    ),
                    lambda x: x["span_text"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )


def dedup_spans_intra(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_words: int = 2,
) -> DataFrame:
    """Intra-document span dedup: within each document, keep only the FIRST
    occurrence of every ``k_words``-word span (repeated-content trimming —
    the within-page complement of corpus-level ``dedup_spans``; hits
    scraped pages whose template repeats nav/footer blocks).

    Scale design: span construction is the same narrow pass as
    ``dedup_spans``; dedup itself is groupBy(doc, span) -> MIN(position),
    then one groupBy(doc) reassembly — both shuffles are doc-keyed, so
    partitioning is inherited between the two aggregations and no
    corpus-wide state exists at all (embarrassingly doc-parallel).

    Returns (doc_id, n_spans, n_unique, dedup_text).
    """
    spans = _word_spans(docs, text_col, id_col, k_words)
    first = spans.groupBy(id_col, "span_text").agg(
        F.min("span_id").alias("first_id"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    return (
        first.groupBy(id_col)
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_spans"),
            F.count(F.lit(1)).alias("n_unique"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("first_id", "span_text"))),
                    lambda x: x["span_text"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def snapshot_diff(
    snap_a: DataFrame,
    snap_b: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff: classify every document id across two corpus
    versions as ``added`` (only in B), ``removed`` (only in A), ``changed``
    (both, different content hash) or ``unchanged`` — the crawl-over-crawl
    delta report every recurring ingestion pipeline runs before deciding
    what to re-process.

    Content equality is md5 of the content column (NULL content hashes as
    the empty string, so NULL == '' — byte-level distinction would need a
    sentinel both engines render identically).  Rows whose ``id_col`` is
    NULL never match across sides (SQL join semantics) and therefore
    surface as added/removed — ids are assumed non-NULL.

    Output: (id, status, hash_a, hash_b).

    Scale: each side reduces to a narrow (id, hash) projection — the md5
    runs next to the scan, so the full-outer shuffle moves 2 small columns,
    never document bodies — and the single full-outer equi-join on the id
    is exactly the co-partitioned plan a 100 TB snapshot pair wants
    (bucketed snapshots join with zero shuffle).  Downstream re-processing
    consumes the ``added``/``changed`` subset, a strict row filter.
    """
    ha = snap_a.select(
        F.col(id_col).alias("_id_a"),
        F.md5(F.coalesce(F.col(content_col), F.lit(""))).alias("hash_a"),
    )
    hb = snap_b.select(
        F.col(id_col).alias("_id_b"),
        F.md5(F.coalesce(F.col(content_col), F.lit(""))).alias("hash_b"),
    )
    return ha.join(hb, ha["_id_a"] == hb["_id_b"], "full_outer").select(
        F.coalesce(F.col("_id_a"), F.col("_id_b")).alias(id_col),
        F.when(F.col("_id_a").isNull(), F.lit("added"))
        .when(F.col("_id_b").isNull(), F.lit("removed"))
        .when(F.col("hash_a") != F.col("hash_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        "hash_a",
        "hash_b",
    )


def simhash60_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash from the md5-hex15 hash family, entirely in native
    expressions — the ANSI-portable sibling of ``simhash64`` (whose
    xxhash64+numpy path stays the fast production hasher).

    One token explode feeds ONE hash aggregate with 60 ±1-vote SUMs (map-
    side combinable, integer therefore order-independent); the signature
    assembles from the vote signs as a sum of power-of-two literals.  Every
    step (md5, hex→int, shift/and, conditional sum) exists verbatim in any
    SQL engine, so the whole near-dup pipeline over it is oracle-checkable.
    """
    from etl_pipeline2_0_spark.functions.text import tokens

    toks = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    base = toks.select("id", h.alias("h"))
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned("h", j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(60)
    ]
    sig = None
    for j in range(60):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return (
        base.groupBy("id")
        .agg(*votes)
        .select("id", sig.cast("bigint").alias("simhash"))
    )


def dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    score: Column | None = None,
) -> DataFrame:
    """Quality-aware near-dup canonicalization: cluster near-duplicates
    (n-gram Jaccard pairs → connected components) and keep the BEST member
    of each cluster by ``score`` — default: token count, the standard
    "keep the longest copy" curation heuristic — instead of the arbitrary
    min-id keeper of ``exact_dedup``/``dedup_canonical``.  Ties break to
    the smaller id so the keeper is deterministic cross-engine.

    Output: (doc_id, component, n_tokens, keep) for EVERY input doc —
    singletons are their own component and always kept; downstream
    filters ``keep`` for the curated corpus, or audits the dropped rows.

    Scale shape: reuses the guarded jaccard/components machinery (shingle
    equi-join, iterative min-label propagation); scoring is a narrow
    projection; the keeper argmax windows per component (cluster-sized
    partitions, never the corpus).
    """
    from etl_pipeline2_0_spark.functions.text import token_count

    score_col = score if score is not None else token_count(F.col(text_col))
    pairs = jaccard_pairs(df, text_col=text_col, id_col=id_col, k=k,
                          threshold=threshold)
    comp = connected_components(pairs)
    scored = df.select(
        F.col(id_col).alias("doc_id"), score_col.alias("n_tokens")
    )
    full = scored.join(
        comp.select(F.col("node").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "n_tokens",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    return full.withColumn("keep", F.row_number().over(w) == 1)


# ------------------------------------------------- exact substring dedup ----


def dedup_substrings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): remove every token covered by a
    ``k``-token run whose exact text also occurs in ANOTHER document.
    Any cross-document duplicated substring of >= k tokens is a chain of
    duplicated k-grams, so marking the k-gram hits and erasing their
    covered positions removes exactly the paper's targets (all copies,
    not all-but-one) — the distributed k-gram formulation of the paper's
    suffix-array scan.  One-sided approximation: a position whose k-gram
    matches doc A on the left words and doc B on the right words is also
    erased ("chimera" overlap), i.e. removal is a superset of the
    single-source definition — the conservative direction for training
    data.

    Differs from ``dedup_spans``: spans are FIXED k-word tiles dropped
    only when boilerplate-frequent (df > cap); this erases at token
    granularity from the first shared token, at df >= 2, so a passage
    pasted into just two documents is scrubbed from both.

    Scale design (100 TB):
      - tokens/k-grams are narrow projections off ONE whitespace split
        (materialized alias — no re-split per expression, no regex in a
        per-element lambda);
      - duplicated-gram detection is one groupBy(gram-text) with an
        early ``count_distinct(id)`` — the same shuffle class as
        ``dedup_spans``'s frequency pass, AQE-skew-safe;
      - covered positions come from ``explode(sequence(s, s+k-1))`` +
        distinct, and the erase is a LEFT ANTI equi-join on
        (doc, position) — linear, never a per-position array scan;
      - reassembly is one groupBy(doc) of bounded per-doc state.
    Nothing is collected; no window spans the corpus.

    Returns (doc_id, n_tokens, n_removed, kept_text) for EVERY input doc
    (fully-erased docs surface with kept_text = '').
    """
    w = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[ \t\n\r\x0B\x0C]+"),
        lambda t: F.length(t) > 0,
    )
    base = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), w.alias("toks")
    )
    base = reuse(base)  # feeds grams, positions, output
    n = F.size(F.col("toks"))
    # Start positions 1..n-k+1 (ANSI guard: sequence() runs BACKWARDS on an
    # empty range, so short docs take the empty-array branch).
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.alias("s"),
                    F.array_join(F.slice(F.col("toks"), s, k), " ").alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.s", "g.gram")
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("gdf"))
        .where(F.col("gdf") >= 2)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select("doc_id", F.explode(F.sequence(F.col("s"), F.col("s") + F.lit(k - 1))).alias("pos"))
        .distinct()
    )
    tok_rows = base.select(
        "doc_id", F.posexplode(F.col("toks")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    kept = (
        tok_rows.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("bigint").alias("n_removed"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1,
    min_line_chars: int = 10,
) -> DataFrame:
    """Exact LINE-level dedup (the MassiveText / RefinedWeb curation
    step; Rae et al. 2021 §A1.2 "repeated lines", Penedo et al. 2023):
    a line whose exact text occurs in more than ``max_doc_freq`` DISTINCT
    documents is boilerplate (nav bars, cookie banners, license headers)
    and is removed from EVERY document; surviving lines are reassembled
    in original order.  Lines shorter than ``min_line_chars`` after
    trimming never count as boilerplate (blank lines and one-word
    headings would otherwise erase each other corpus-wide).

    Differs from the rest of the dedup battery: ``dedup_exact`` keys on
    whole docs, ``dedup_spans``/``dedup_substrings`` on k-TOKEN windows
    crossing line breaks — this is the newline-delimited unit the
    published corpus pipelines treat as its own pass.

    Scale design (100 TB):
      - the line table is one narrow projection off a single
        ``split(text, '\\n')`` (posexplode keeps reassembly order);
      - boilerplate detection is a groupBy on the 8-byte ``xxhash64`` of
        the line (never the line string — the exchange carries longs)
        with an early ``count_distinct(doc)``, the dedup_spans shuffle
        class, AQE-skew-safe;
      - removal is a LEFT ANTI equi-join on the hash, applied only to
        dup-eligible lines; ineligible lines bypass the join entirely;
      - reassembly is one groupBy(doc) of bounded per-doc state; docs
        whose every line is boilerplate surface with text '' (count
        columns make the attrition auditable).  Nothing is collected.

    Returns (doc_id, n_lines, n_dropped, text) for EVERY input doc.
    """
    lines = (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n")
            ).alias("pos", "line"),
        )
        .withColumn(
            "eligible", F.length(F.trim(F.col("line"))) >= min_line_chars
        )
        .withColumn("line_h", F.xxhash64("line"))
    )
    # lines feeds the frequency aggregate AND the reassembly join; the
    # barrier materializes the split exactly once.
    lines = reuse(lines)
    hot = (
        lines.where("eligible")
        .groupBy("line_h")
        .agg(F.count_distinct("doc_id").alias("ldf"))
        .where(F.col("ldf") > max_doc_freq)
        .select("line_h")
    )
    kept = lines.join(hot, "line_h", "left_anti")
    out = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return totals.join(out, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_dropped"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    other: DataFrame = None,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist``, by PassJoin
    partitioning (Li, Deng & Feng 2011, "PASS-JOIN: A Partition-based
    Method for Similarity Joins" — public): split every string into
    d+1 contiguous chunks; if ed(a, b) ≤ d then at least one chunk of a
    occurs VERBATIM in b, on a's length grid, within ±d of its canonical
    position.  Candidates therefore come from an EQUI-JOIN of
    (chunk_idx, grid_length, piece) keys — chunks on one side, the
    bounded (2d+1)² window of partner-grid substrings on the other —
    and every candidate is verified with the native ``levenshtein``
    (exact, not approximate: output ≡ the brute-force O(n²) join,
    pinned by test).

    Strings shorter than d+1 characters are excluded from the CHUNKED
    side (no d+1-way partition exists) — in self-join mode that means
    both sides, since every string must be partitionable; in cross mode
    short LEFT strings are recovered by a brute-force residual join
    (bounded: left length ≤ d ⇒ right length ≤ 2d), so no cross pair
    is lost (advisor-r12 fix).  Pairs are canonical (id_a < id_b) with
    the verified distance.

    Scale shape: per string, d+1 chunk keys and ≤ (d+1)(2d+1)² window
    keys (75 at d=2) — linear explode, hash-partitionable equi-join,
    never an all-pairs product; the verification join touches only
    surviving candidates.

    With ``other`` set this becomes a cross-table FUZZY JOIN: chunks
    come from ``df`` (left), window substrings from ``other`` (right) —
    partitioning either member of a within-d pair satisfies the
    pigeonhole theorem, so one orientation covers every pair.  Output
    ids are then (left id, right id) uncanonicalized, and equal ids are
    kept (the two tables are distinct keyspaces).
    """
    from itertools import product

    m = max_dist + 1

    def _prep(frame, min_len=True):
        out = frame.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("s"),
            F.length(text_col).alias("L"),
        )
        return out.where(F.col("L") >= m) if min_len else out

    cross = other is not None
    s = _prep(df)
    # Only the CHUNKED side needs the d+1-way partition to exist
    # (pigeonhole partitions one member of each pair); in cross mode the
    # right side keeps its short strings — their window substrings are
    # bounded by the subs WHERE clauses, so e.g. left "abc" vs right "a"
    # at d=2 is found (advisor-r11 fix: filtering both sides silently
    # dropped pairs whose right string was shorter than d+1).
    s_right = _prep(other, min_len=False) if cross else s

    def _gstart(i, lp):
        # 1-based start of chunk i on a length-lp grid
        return F.floor((i - 1) * lp / m).cast("int") + 1

    def _glen(i, lp):
        return (F.floor(i * lp / m) - F.floor((i - 1) * lp / m)).cast("int")

    idx = F.explode(
        F.array(*[F.lit(i) for i in range(1, m + 1)])
    ).alias("i")
    chunks = s.select("id", "s", "L", idx).select(
        F.col("id").alias("id_a"),
        F.col("i"),
        F.col("L").alias("grid_len"),
        F.col("s").substr(_gstart(F.col("i"), F.col("L")),
                          _glen(F.col("i"), F.col("L"))).alias("piece"),
    )
    combos = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("i"), F.lit(dl).alias("dl"),
                F.lit(dq).alias("dq"),
            )
            for i, dl, dq in product(
                range(1, m + 1),
                range(-max_dist, max_dist + 1),
                range(-max_dist, max_dist + 1),
            )
        ])
    ).alias("c")
    lp = F.col("L") + F.col("c.dl")
    q = _gstart(F.col("c.i"), lp) + F.col("c.dq")
    ln = _glen(F.col("c.i"), lp)
    subs = (
        s_right.select("id", "s", "L", combos)
        .where(
            (lp >= m) & (ln >= 1) & (q >= 1) & (q + ln - 1 <= F.col("L"))
        )
        .select(
            F.col("id").alias("id_b"),
            F.col("c.i").alias("i"),
            lp.cast("bigint").alias("grid_len"),
            F.col("s").substr(q, ln).alias("piece"),
        )
    )
    cand = chunks.join(subs, ["i", "grid_len", "piece"])
    if cross:
        cand = cand.select("id_a", "id_b").distinct()
    else:
        cand = (
            cand.where(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
    a = s.select(F.col("id").alias("id_a"), F.col("s").alias("_sa"),
                 F.col("L").alias("_la"))
    b = s_right.select(F.col("id").alias("id_b"), F.col("s").alias("_sb"),
                       F.col("L").alias("_lb"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .where(
            (F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
            & (F.levenshtein("_sa", "_sb") <= max_dist)
        )
        .select(
            "id_a", "id_b",
            F.levenshtein("_sa", "_sb").cast("int").alias("dist"),
        )
    )
    if not cross:
        return verified
    # advisor-r12: in cross mode the pigeonhole partition only covers
    # pairs whose LEFT member is chunkable, so left strings shorter
    # than d+1 chars were silently dropped (e.g. df "a" vs other "abc"
    # at d=2).  Brute-force the residual: a left string of length ≤ d
    # can only pair with right strings of length ≤ 2d, so both slices
    # are bounded by construction (broadcast + length-band condition —
    # a BNLJ over trivially short strings, never the full corpora).
    # Disjoint from `verified` (which requires left L ≥ d+1), so a
    # plain union, no dedup needed.
    short = (
        _prep(df, min_len=False)
        .where(F.col("L") < m)
        .select(F.col("id").alias("id_a"), F.col("s").alias("_sa"),
                F.col("L").alias("_la"))
    )
    resid = (
        F.broadcast(short)
        .join(
            s_right.where(F.col("L") <= 2 * max_dist).select(
                F.col("id").alias("id_b"), F.col("s").alias("_sb"),
                F.col("L").alias("_lb"),
            ),
            F.abs(F.col("_la") - F.col("_lb")) <= F.lit(max_dist),
        )
        .where(F.levenshtein("_sa", "_sb") <= max_dist)
        .select(
            "id_a", "id_b",
            F.levenshtein("_sa", "_sb").cast("int").alias("dist"),
        )
    )
    return verified.unionByName(resid)


def minhash_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """Cross-corpus NEAR-DUP decontamination: every (train, eval) pair
    whose shingle Jaccard ≥ ``threshold``, found by banded MinHash LSH
    BETWEEN the two corpora — the fuzzy complement of the exact
    ``contamination_check`` (verbatim n-gram containment) and the
    cross-table cousin of ``minhash_near_duplicates``.  This is the
    GPT-3/Llama decontamination shape: drop from TRAIN anything
    near-duplicating an eval/benchmark doc, where paraphrase-level edits
    defeat exact matching.

    Both sides sign with the SAME hash family and band geometry, so a
    within-threshold pair collides in some band with the usual
    1-(1-J^r)^b probability; candidates come from an EQUI-JOIN of train
    bands against eval bands (never an all-pairs product), then exact
    Jaccard verifies each candidate (output is exact-above-threshold
    among LSH-recalled pairs).

    ``max_bucket_size`` caps (band, bucket) membership counted across
    BOTH sides — a boilerplate bucket hot on either side would otherwise
    go quadratic in the cross join (same production-LSH guard as the
    self-join path).

    Scale shape: the eval/benchmark side is typically tiny (thousands of
    docs vs billions) — its banded table broadcasts, making the candidate
    join map-side; verification re-shingles only docs appearing in a
    candidate (semi-join pruned), so the train corpus is scanned once for
    signatures and once (candidate-pruned) for verification.

    Output: (eval_id, train_id, jaccard).
    """
    rows_per_band = num_hashes // bands

    def _band(sig):
        def _bucket(b):
            joined = F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.col("signature"), b * rows_per_band + 1, rows_per_band
                    ),
                    lambda x: x.cast("string"),
                ),
            )
            return F.md5(joined) if portable else F.xxhash64(joined)

        return sig.select(
            "id",
            F.posexplode(
                F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _bucket)
            ).alias("band", "bucket"),
        )

    bt = _band(
        minhash_signatures(train_df, text_col, id_col, k, num_hashes, portable)
    )
    be = _band(
        minhash_signatures(eval_df, text_col, id_col, k, num_hashes, portable)
    )
    if max_bucket_size is not None:
        # each banded side feeds the union-side hot count AND its own
        # anti-join — without a barrier both shingle→minhash signature
        # passes execute twice per action (r17 optimization, guide §2.4)
        bt = reuse(bt)
        be = reuse(be)
        # One union-side count per (band, bucket); hot keys leave BOTH
        # sides.  The count table is (band, bucket)-keyed and small — it
        # broadcasts into two anti-joins.
        hot = (
            bt.select("band", "bucket")
            .unionAll(be.select("band", "bucket"))
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bn"))
            .where(F.col("bn") > max_bucket_size)
            .select("band", "bucket")
        )
        bt = bt.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
        be = be.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    # cand feeds the verify join AND both semi-join prunes — barrier it
    # (same rationale as minhash_near_duplicates).
    cand = reuse(
        bt.select("band", "bucket", F.col("id").alias("train_id"))
        .join(
            be.select("band", "bucket", F.col("id").alias("eval_id")),
            ["band", "bucket"],
        )
        .select("eval_id", "train_id")
        .distinct()
    )

    def _shingled(frame, ids, out_id):
        return (
            ensure_min_parallelism(frame)
            .join(ids, F.col(id_col) == ids["id"], "left_semi")
            .select(
                F.col(id_col).alias(out_id),
                token_shingles(F.col(text_col), k).alias(f"_sh_{out_id}"),
            )
        )

    st = _shingled(
        train_df, cand.select(F.col("train_id").alias("id")).distinct(),
        "train_id",
    )
    se = _shingled(
        eval_df, cand.select(F.col("eval_id").alias("id")).distinct(),
        "eval_id",
    )
    return (
        cand.join(st, "train_id")
        .join(se, "eval_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_sh_train_id", "_sh_eval_id"))
                / F.size(F.array_union("_sh_train_id", "_sh_eval_id")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("eval_id", "train_id", "jaccard")
    )


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Soft deduplication: DOWNWEIGHT near-duplicates instead of dropping
    them (the reweighting alternative to hard dedup discussed around
    SoftDedup, He et al. 2024, and the D4/FineWeb ablations: duplicates
    carry signal, so train on every copy at sampling weight 1/cluster).

    ``pairs`` is any near-duplicate pair frame (Jaccard, MinHash-verified,
    SimHash, embedding) with ``src_col``/``dst_col`` endpoints drawn from
    ``df[id_col]``.  Pairs become clusters via
    :func:`connected_components`; every document in a cluster of size s
    gets sampling weight 1/s, documents in no cluster keep weight 1.

    Because each size-s cluster contributes exactly s·(1/s) = 1 to the
    total weight, the corpus' effective size under the weighting is the
    INTEGER ``n_clusters + n_unclustered`` — emitted per row as
    ``n_effective`` / ``effective_frac`` (one exact int division, no
    float fold), the number that says how much unique corpus mass
    survives: hard dedup would keep exactly ``n_effective`` documents.

    Output: (``id_col``, cluster_size, weight, n_effective,
    effective_frac), one row per input document.

    Scale: the label-propagation rounds dominate and are hash-partitioned
    equi-joins on node ids (see :func:`connected_components`); the
    per-doc weight assignment is ONE left equi-join of the corpus against
    the (node, cluster_size) relation — proportional to cluster members,
    not pairs — and the three corpus-level counters collapse to a
    broadcast single row.
    """
    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    csizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    doc_cluster = comp.join(csizes, "component").select(
        F.col("node"), "cluster_size"
    )
    stats = (
        df.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(
            comp.agg(
                F.count(F.lit(1)).alias("n_members"),
                F.countDistinct("component").alias("n_clusters"),
            )
        )
        .select(
            "n_docs",
            (F.col("n_docs") - F.col("n_members") + F.col("n_clusters"))
            .cast("bigint")
            .alias("n_effective"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(doc_cluster, F.col(id_col) == F.col("node"), "left")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("bigint")
            .alias("cluster_size"),
            F.round(
                F.lit(1.0) / F.coalesce(F.col("cluster_size"), F.lit(1)), 6
            ).alias("weight"),
            "n_effective",
            F.round(F.col("n_effective") / F.col("n_docs"), 6).alias(
                "effective_frac"
            ),
        )
    )


def dedup_manifest(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Deletion lineage for a layered exact → near dedup run: every
    document the run would DROP, with the keeper it collapses into and
    the layer that caught it — the audit/reproducibility artifact a
    production curation pipeline ships next to the deduped corpus (and
    the table that answers "why is doc X missing?" without replaying
    the run).

    Layering mirrors real pipelines: exact (md5) dedup first — cheap,
    catches byte-identical copies — then n-gram-Jaccard connected
    components over the exact SURVIVORS, so a doc never appears twice
    and near-dup compute never touches rows exact dedup already
    removed.  Keepers: min id per content hash (exact), min id per
    component (near) — both the family convention.  An exact keeper
    that the near layer then drops is RESOLVED through its component
    (doc 2 ≡ doc 1 ≈ doc 0 manifests as 2→0, 1→0), so keeper_id is
    always a final survivor and "where did doc X go" is one lookup,
    never a chain walk — the property suite generates exactly these
    chained corpora.

    Output: (dropped_id, keeper_id, reason ∈ {'exact', 'near'}).

    Scale: the exact layer is one digest-partitioned window (shuffle key
    = 32-byte hash, never text); the near layer inherits the banded
    jaccard/component machinery on the surviving subset; the union is
    append-only.  The manifest is proportional to DROPPED docs — tiny
    next to the corpus — and replays deterministically, so it can be
    regenerated per snapshot and diffed.
    """
    hashed = df.select(
        F.col(id_col),
        F.col(text_col),
        F.md5(F.col(text_col)).alias("_h"),
    ).withColumn(
        "_keeper", F.min(F.col(id_col)).over(Window.partitionBy("_h"))
    )
    exact_drop = hashed.where(F.col(id_col) != F.col("_keeper")).select(
        F.col(id_col).alias("dropped_id"),
        F.col("_keeper").alias("_exact_keeper"),
    )
    survivors = hashed.where(F.col(id_col) == F.col("_keeper")).select(
        id_col, text_col
    )
    pairs = jaccard_pairs(
        survivors, text_col=text_col, id_col=id_col, k=k,
        threshold=threshold,
    )
    comp = connected_components(pairs)
    # Resolve exact keepers the near layer itself drops: the final home
    # of an exact dup is its keeper's component (left join — keepers in
    # no component resolve to themselves).
    exact_resolved = (
        exact_drop.join(
            comp.select(
                F.col("node").alias("_exact_keeper"),
                F.col("component").alias("_final"),
            ),
            "_exact_keeper",
            "left",
        )
        .select(
            "dropped_id",
            F.coalesce(F.col("_final"), F.col("_exact_keeper")).alias(
                "keeper_id"
            ),
            F.lit("exact").alias("reason"),
        )
    )
    near_drop = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("dropped_id"),
        F.col("component").alias("keeper_id"),
        F.lit("near").alias("reason"),
    )
    return exact_resolved.unionByName(near_drop)


def jaccard_histogram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_jaccard: float = 0.1,
    max_doc_freq: "int | None" = None,
) -> DataFrame:
    """Similarity histogram over the candidate-pair stream: how many
    pairs land in each 0.1-wide Jaccard bin at or above ``min_jaccard``
    — the curve a threshold decision reads BEFORE committing a dedup
    run (a cliff between bins = a safe threshold; mass piled against
    the chosen cut = deletions that flip on tiny wording changes).

    Binning: ``floor(round(j*10, 6)) / 10`` — the inner round snaps
    IEEE near-misses (0.3·10 = 2.9999…) onto the bin edge identically
    in Spark and DuckDB; a 6dp-rounded Jaccard can sit below an edge by
    at most 5e-7, which the snap absorbs.

    Output: (bin_lo, n_pairs), bin_lo ∈ {0.1, …, 1.0}, only non-empty
    bins.

    Scale: the pair stream is :func:`jaccard_pairs` (shingle equi-join,
    doc-freq-cappable); the histogram is one tiny hash aggregate on top
    — ≤10 groups, map-side combined.
    """
    pairs = jaccard_pairs(
        df, text_col=text_col, id_col=id_col, k=k,
        threshold=min_jaccard, max_doc_freq=max_doc_freq,
    )
    bin_lo = F.floor(F.round(F.col("jaccard") * 10, 6)) / F.lit(10.0)
    return (
        pairs.groupBy(bin_lo.alias("bin_lo"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def corpus_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_shingle_freq: "int | None" = None,
) -> DataFrame:
    """Cross-source content-overlap matrix: for every pair of sources,
    how many distinct k-token shingles they share, and what fraction of
    each side's shingle vocabulary that is — the inter-source
    duplication estimate a mixing/dedup decision reads BEFORE combining
    corpora (two crawls with 40% containment will mostly dedup into
    each other; two disjoint sources won't).

    Output: (group_a, group_b, n_common, containment_a = common/|A|,
    containment_b = common/|B|, jaccard), one row per unordered source
    pair that shares at least one shingle, group_a < group_b.

    Scale: shingles collapse to DISTINCT (group, shingle) rows first
    (one hash aggregate — the corpus never self-joins at token grain);
    the pair join is an equi-join ON SHINGLE between group-vocabulary
    relations, and ``max_shingle_freq`` drops shingles present in more
    than that many groups (degenerate boilerplate shared by everyone
    adds no pair information but multiplies join output — the same cap
    discipline as the doc-freq caps).  Per-group vocabulary sizes ride
    a broadcast ≤|groups|-row relation.
    """
    # The distinct vocabulary feeds THREE consumers (sizes + both sides
    # of the pair equi-join); without a barrier each consumer re-runs
    # the corpus explode+distinct (r17 optimization, guide §2.4).
    sh = reuse(
        df.select(
            F.col(group_col).alias("grp"),
            token_shingles(F.col(text_col), k).alias("_shs"),
        )
        .select("grp", F.explode("_shs").alias("shingle"))
        .distinct()
    )
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("gf"))
            .where(F.col("gf") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("grp").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("grp").alias("group_a"), "shingle")
    b = sh.select(F.col("grp").alias("group_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = F.broadcast(
        sizes.select(F.col("grp").alias("group_a"), F.col("n_sh").alias("n_a"))
    )
    sb = F.broadcast(
        sizes.select(F.col("grp").alias("group_b"), F.col("n_sh").alias("n_b"))
    )
    return (
        inter.join(sa, "group_a")
        .join(sb, "group_b")
        .select(
            "group_a",
            "group_b",
            "n_common",
            F.round(F.col("n_common") / F.col("n_a"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_common") / F.col("n_b"), 6).alias(
                "containment_b"
            ),
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def lsh_geometry_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    geometries: "tuple[tuple[int, int], ...]" = ((8, 2), (4, 4), (2, 8)),
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band-geometry tuning table: at a FIXED signature budget
    (``num_hashes``), measure every (bands × rows_per_band) split's
    candidate volume, recall, and candidate-stream precision against
    the exact-Jaccard truth — the table that picks LSH geometry before
    a 100 TB run (more bands = higher recall AND more candidates; the
    S-curve says where; this measures it on the actual similarity
    distribution).

    Output: (bands, rows_per_band, n_candidates, n_true_pairs, n_found,
    recall, efficiency = n_found / n_candidates), one row per geometry.

    Scale: the expensive inputs are computed ONCE — the signature table
    (one corpus pass) and the exact truth (the metric's ground-truth
    cost, run on a sample at scale) sit behind ``reuse`` barriers; each
    geometry re-bands the SIGNATURES (|corpus|·bands rows, no
    re-shingling) through the capped banded equi-join, and contributes
    one aggregated row.
    """
    # Over-budget geometries would F.slice past the signature length and
    # silently band truncated/empty slices (wrong rows, engine-divergent
    # vs the generated twin) — fail loudly instead.
    for bands, rpb in geometries:
        if bands * rpb > num_hashes:
            raise ValueError(
                f"geometry ({bands}x{rpb}) exceeds the signature budget "
                f"num_hashes={num_hashes}"
            )
    sigs = reuse(minhash_signatures(
        df, text_col, id_col, k, num_hashes, portable=True
    ))
    truth = reuse(
        jaccard_pairs(df, text_col, id_col, k, threshold)
        .select("id_a", "id_b")
    )
    n_true = F.broadcast(
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    )
    out = None
    for bands, rpb in geometries:
        cand = reuse(
            lsh_candidate_pairs(
                sigs, bands, rpb, max_bucket, portable=True
            )
            .select("id_a", "id_b")
        )
        row = (
            cand.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidates")
            )
            .crossJoin(n_true)
            .crossJoin(
                F.broadcast(
                    cand.join(truth, ["id_a", "id_b"], "semi").agg(
                        F.count(F.lit(1)).cast("bigint").alias("n_found")
                    )
                )
            )
            .select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(rpb).cast("int").alias("rows_per_band"),
                "n_candidates",
                "n_true_pairs",
                "n_found",
                F.round(
                    F.col("n_found")
                    / F.greatest(F.col("n_true_pairs"), F.lit(1)),
                    6,
                ).alias("recall"),
                F.round(
                    F.col("n_found")
                    / F.greatest(F.col("n_candidates"), F.lit(1)),
                    6,
                ).alias("efficiency"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def cdc_dedup_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    mask_bits: "tuple[int, ...]" = (4, 5, 6),
) -> DataFrame:
    """Content-defined-chunking dedup sizing table (the FastCDC/rsync
    family, Xia et al. 2016 — the storage-level dedup used by backup and
    corpus-snapshot systems): a chunk boundary falls AFTER character i
    whenever the rolling window-gram hash ending at i satisfies
    ``hash % 2**b == 0``, so boundaries depend only on local CONTENT —
    insert a byte early in a document and every later chunk is unchanged,
    which is exactly what makes chunk-level dedup robust where
    fixed-width blocking is not.  One row per ``b`` in ``mask_bits``:
    realized chunk count, unique-chunk count, total vs unique characters,
    the dedup ratio, and the mean chunk length — the measured table that
    picks the mask width (expected chunk ≈ 2**b chars), next to
    bloom_fpr_curve / cms_error_curve in the sizing-curve family.

    Construction notes:
    - No min/max chunk clamps: FastCDC's clamps make boundary i depend on
      boundary i-1 (a sequential scan — the non-relational part); the
      pure content-local rule parallelizes exactly and keeps every
      boundary decision independent.  Tiny chunks simply show up in the
      measured table (that is the curve's point).
    - The gram hash is md5-hex15 (the portable-hash discipline), so the
      DuckDB twin reproduces every boundary bit-for-bit.
    - Power-of-two masks NEST (``2**4 | 2**6``), so one gram pass feeds
      every width: grams are pre-filtered by the most permissive mask
      (~``1/2**min(mask_bits)`` survive) before the width fan-out.

    Output: (mask_bits, expected_chunk_chars, n_chunks, n_unique_chunks,
    total_chars, unique_chars, dedup_ratio, mean_chunk_len).  Ratios are
    emitted UNROUNDED (single divisions of exact integer sums — the
    grpo_advantage determinism note).

    Scale: the gram stream is one narrow map-side pass (id, pos, hash) —
    never shuffled; cut offsets (~corpus_chars/2**min_b rows) aggregate
    per (doc, width) into bounded offset arrays; chunk hashes are
    computed MAP-SIDE so the dedup aggregate shuffles 16-byte digests +
    lengths, never chunk text.  Per-doc state is O(doc length) — the
    same bound every shingle operator already carries.
    """
    d = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        )
        .withColumn("n", F.length("t"))
    )

    def gram_hash(i):
        return F.conv(
            F.substring(F.md5(F.substring(F.col("t"), F.lit(0) + i, window)), 1, 15),
            16,
            10,
        ).cast("bigint")

    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.col("n") - F.lit(window - 1)), gram_hash
    )
    grams = d.where(F.col("n") >= window).select(
        "id", "n", F.posexplode(gram_hashes).alias("p", "h")
    )
    min_mask = 2 ** min(mask_bits)
    # pos is 0-based -> the gram ends at 1-based offset p + window; a cut
    # at the very end would leave an empty final chunk, so off < n.
    cand = (
        grams.where(F.pmod(F.col("h"), F.lit(min_mask)) == 0)
        .select("id", (F.col("p") + F.lit(window)).alias("off"), "h", "n")
        .where(F.col("off") < F.col("n"))
    )
    specs = F.array(
        *[
            F.struct(
                F.lit(int(b)).alias("b"),
                F.lit(2 ** int(b)).cast("bigint").alias("mask"),
            )
            for b in mask_bits
        ]
    )
    cuts = (
        cand.select("id", "off", "h", F.explode(specs).alias("s"))
        .where(F.pmod(F.col("h"), F.col("s.mask")) == 0)
        .select("id", F.col("s.b").alias("b"), "off")
    )
    offs = cuts.groupBy("id", "b").agg(
        F.array_sort(F.collect_list("off")).alias("offs")
    )
    widths = F.explode(F.array(*[F.lit(int(b)) for b in mask_bits])).alias("b")
    seg = (
        d.select("id", "t", "n", widths)
        .join(offs, ["id", "b"], "left")
        .withColumn("offs", F.coalesce(F.col("offs"), F.array().cast("array<int>")))
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(F.col("offs"), lambda o: o + 1))
    ends = F.concat(F.col("offs"), F.array(F.col("n")))
    chunks = (
        seg.select(
            "b",
            "t",
            F.explode(F.arrays_zip(starts.alias("s"), ends.alias("e"))).alias("z"),
        )
        .select(
            "b",
            F.substring(
                F.col("t"), F.col("z.s"), F.col("z.e") - F.col("z.s") + F.lit(1)
            ).alias("chunk"),
        )
        .where(F.length("chunk") > 0)
        .select(
            "b",
            F.md5(F.col("chunk")).alias("ch"),
            F.length("chunk").cast("bigint").alias("clen"),
        )
    )
    # Total AND unique stats from ONE aggregation chain (duplicates of a
    # chunk share its length, so total = Σ count·len over the unique
    # grain): a two-branch tot/unq join would recompute the whole chunk
    # pipeline — two extra corpus scans for nothing.
    stats = (
        chunks.groupBy("b", "ch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_dups"),
            F.min("clen").alias("clen"),
        )
        .groupBy("b")
        .agg(
            F.sum("_dups").cast("bigint").alias("n_chunks"),
            F.sum(F.col("_dups") * F.col("clen")).cast("bigint").alias(
                "total_chars"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_unique_chunks"),
            F.sum("clen").cast("bigint").alias("unique_chars"),
        )
    )
    return stats.select(
        F.col("b").cast("int").alias("mask_bits"),
        F.pow(F.lit(2.0), F.col("b")).cast("bigint").alias("expected_chunk_chars"),
        "n_chunks",
        "n_unique_chunks",
        "total_chars",
        "unique_chars",
        (F.col("total_chars") / F.col("unique_chars")).alias("dedup_ratio"),
        (F.col("total_chars") / F.col("n_chunks")).alias("mean_chunk_len"),
    )


def rouge_screen(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.7,
    max_doc_freq: "int | None" = 50,
    freq_source: str = "exact",
    cms_depth: int = 4,
    cms_width: int = 65536,
) -> DataFrame:
    """Self-instruct-style instruction dedup screen (Wang et al. 2022
    §3.3, the public recipe every synthetic-instruction pipeline runs):
    a new example is kept only if its maximum n-gram RECALL against any
    EARLIER accepted example stays below ``threshold``.  Recall — shared
    distinct n-grams over the NEW doc's n-grams — is the asymmetric
    overlap that catches a short instruction embedded in a longer pool
    item, which symmetric Jaccard dilutes; the "earlier" pool is the
    smaller-id side (real pipelines use arrival order — swap the
    predicate).

    Sequential-acceptance caveat (documented, deliberate): the true
    self-instruct loop screens against earlier ACCEPTED items only; this
    relational form screens against ALL earlier items — strictly more
    conservative (an item rejected for overlap can only raise, never
    lower, a later item's max recall against the accepted set it proxies
    for).  Exact sequential semantics would serialize the corpus.

    Output: (``id_col``, n_ngrams, match_id, max_recall, keep) — one row
    per input doc; docs with no earlier overlap carry max_recall 0.0 and
    a NULL match_id.  max_recall is emitted UNROUNDED: dyadic ratios
    like 1/128 terminate exactly on a 6dp midpoint where HALF_UP engines
    and binary-rounding engines disagree (the grpo_advantage hazard,
    observed class), while the single int/int division is bit-identical.

    Scale: the jaccard_pairs discipline — distinct (doc, 8-byte
    n-gram-hash) rows, a doc-frequency cap (``max_doc_freq``) dropping
    boilerplate n-grams before the self-equi-join (an n-gram in f docs
    joins into O(f²) pairs), one pair-grain aggregate, one argmax
    max-struct aggregate per new doc.  No window over pairs, no
    cartesian.  ``freq_source`` picks how the cap measures
    doc-frequency, exactly as in :func:`jaccard_pairs`: ``"exact"``
    (default — an exact per-key count, a full shuffle of the n-gram-hash
    table, which keeps the ANSI oracle exact) or ``"cms"`` — a
    ``cms_depth``×``cms_width`` count-min sketch probed MAP-SIDE against
    the broadcast sketch, so the only added shuffle is the bounded
    sketch build; one-sided error (estimates only overcount → the
    sketch can over-PRUNE boilerplate, never under-prune; cap ≡ exact
    whenever every estimate stays ≤ the cap — property-pinned in
    tests).  At 100 TB the screen wants ``"cms"``; the recall
    denominator (``n_ngrams``) is computed before the cap either way.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    sh = base.select(
        "id", F.explode(token_shingles(F.col("t"), n)).alias("s")
    ).select("id", F.xxhash64("s").alias("h"))
    counts = sh.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ngrams")
    )
    if max_doc_freq is not None:
        if freq_source == "cms":
            key = F.col("h").cast("string")
            sk = sketches.cms_sketch(
                sh.select(key.alias("item")), "item", cms_depth, cms_width
            )
            sh = (
                sketches.cms_estimate_map_side(
                    sh, key, sk, cms_depth, cms_width, out_col="__est"
                )
                .where(F.col("__est") <= max_doc_freq)
                .drop("__est")
            )
        else:
            wf = Window.partitionBy("h")
            sh = (
                sh.withColumn("__df", F.count(F.lit(1)).over(wf))
                .where(F.col("__df") <= max_doc_freq)
                .drop("__df")
            )
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") > F.col("b.id")))
        .groupBy(F.col("a.id").alias("id"), F.col("b.id").alias("pool_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    best = (
        shared.join(counts, "id")
        .select(
            "id",
            "pool_id",
            (F.col("shared") / F.col("n_ngrams")).alias("recall"),
        )
        .groupBy("id")
        .agg(F.max(F.struct(F.col("recall"), (-F.col("pool_id")).alias("_m"))).alias("_b"))
    )
    return (
        base.select("id")
        .join(counts, "id", "left")
        .join(best, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("bigint").alias(
                "n_ngrams"
            ),
            (-F.col("_b._m")).alias("match_id"),
            F.coalesce(F.col("_b.recall"), F.lit(0.0)).alias("max_recall"),
            (
                F.coalesce(F.col("_b.recall"), F.lit(0.0))
                < F.lit(float(threshold))
            ).alias("keep"),
        )
    )


def contamination_ngram_curve(
    corpus: DataFrame,
    benchmark: DataFrame,
    ns: "tuple[int, ...]" = (8, 13, 20),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Measured n-gram decontamination curve — the published sweep that
    picks the match length (GPT-3 used 13-gram collisions; PaLM/Llama
    variants use 8-20): for each n, how many corpus documents share at
    least one verbatim n-token gram with the benchmark, and how many
    benchmark grams exist at that n.  Short n over-flags (common
    phrases); long n under-flags (misses near-verbatim leaks); this
    table is the evidence the threshold choice cites, next to
    bloom_fpr_curve / cms_error_curve in the sizing-curve family.

    Output: (n, n_benchmark_ngrams, n_docs, n_contaminated,
    contamination_rate) — one row per n; rate UNROUNDED (exact-integer
    division).

    Scale: both sides tokenize ONCE (the materialized token array is
    multi-referenced across the per-n zip chains — the CollapseProject
    discipline); all ns ride ONE tagged (n, hash) relation each side, so
    the flagging is a single semi equi-join on (n, 8-byte hash) — never
    one scan per n.  The benchmark side is distinct-gram grain
    (benchmark-sized, the broadcast side at real scale).
    """
    def tagged_grams(df: DataFrame, out_id: "str | None") -> DataFrame:
        # All ns fan out inside ONE projection (tagged structs, one
        # explode) — a per-n union would duplicate the scan+tokenize
        # subtree per branch (no CSE across Union; measured 3 scans).
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), r"\W+"),
            lambda t: F.length(t) > 0,
        )
        base = df.select(
            *( [F.col(id_col).alias("id")] if out_id else [] ),
            toks.alias("_toks"),
        )
        ntok = F.size(F.col("_toks"))
        arrs = []
        for n in ns:
            acc = F.col("_toks")
            for j in range(1, n):
                acc = F.zip_with(
                    acc,
                    F.slice(F.col("_toks"), j + 1, ntok + 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            sh = F.array_distinct(F.filter(acc, lambda x: x.isNotNull()))
            # bind n via a factory — a two-parameter lambda would make
            # PySpark's transform pass the ELEMENT INDEX as the second arg
            def _tag(_n):
                return lambda x: F.struct(
                    F.lit(_n).cast("int").alias("n"), x.alias("s")
                )

            arrs.append(F.transform(sh, _tag(int(n))))
        return base.select(
            *( [F.col("id")] if out_id else [] ),
            F.explode(F.concat(*arrs)).alias("z"),
        ).select(
            *( [F.col("id")] if out_id else [] ),
            F.col("z.n").alias("n"),
            F.xxhash64(F.col("z.s")).alias("h"),
        )

    bench_sh = tagged_grams(benchmark, None).distinct()
    corpus_sh = tagged_grams(corpus, "id")
    flagged = (
        corpus_sh.join(bench_sh, ["n", "h"], "semi")
        .select("n", "id")
        .distinct()
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
    )
    bench_counts = bench_sh.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_benchmark_ngrams")
    )
    n_docs = corpus.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    ns_frame = corpus.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(int(n)).cast("int") for n in ns])).alias("n")
    )
    return (
        ns_frame.join(bench_counts, "n", "left")
        .join(flagged, "n", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "n",
            F.coalesce(F.col("n_benchmark_ngrams"), F.lit(0))
            .cast("bigint")
            .alias("n_benchmark_ngrams"),
            "n_docs",
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            (
                F.coalesce(F.col("n_contaminated"), F.lit(0))
                / F.greatest(F.col("n_docs"), F.lit(1))
            ).alias("contamination_rate"),
        )
    )


def cross_source_dedup_matrix(
    df,
    text_col: str = "text",
    source_col: str = "source",
):
    """Where exact duplication concentrates, source × source — the
    triage table a curation team reads before deciding WHICH feed to
    dedup first (intra-source boilerplate vs cross-source mirroring
    need different fixes; the n-gram-level counterpart is
    ``corpus_overlap``, this is the exact-hash level).

    For every unordered source pair (a ≤ b): the number of exact-dup
    content groups with copies in both (for a = b: groups with ≥2
    copies inside the source), and the total cross pair count
    (n_a·n_b off-diagonal, C(n_a,2) on the diagonal).

    Output: (src_a, src_b, n_dup_groups, n_dup_pairs), ordered.

    Scale: the shuffle carries (content_hash, source) with map-side
    combine — 32-byte digests + a low-cardinality source, never
    documents; the pair expansion is a self-equi-join on the hash of
    the ≤|groups|·|sources| aggregate (dup groups only — the non-dup
    mass is filtered before the join).
    """
    gs = (
        df.select(
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("h"),
            F.col(source_col).alias("src"),
        )
        .groupBy("h", "src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = gs.groupBy("h").agg(F.sum("n").alias("n_tot"))
    # dup_gs feeds three consumers (both join sides + the diagonal)
    dup_gs = reuse(gs.join(tot.where(F.col("n_tot") >= 2).select("h"), "h"))
    a = dup_gs.select(
        "h", F.col("src").alias("src_a"), F.col("n").alias("na")
    )
    b = dup_gs.select(
        "h", F.col("src").alias("src_b"), F.col("n").alias("nb")
    )
    cross = (
        a.join(b, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_groups"),
            F.sum(F.col("na") * F.col("nb"))
            .cast("bigint")
            .alias("n_dup_pairs"),
        )
    )
    diag = (
        dup_gs.where(F.col("n") >= 2)
        .groupBy(F.col("src").alias("src_a"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_groups"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("bigint")
            .alias("n_dup_pairs"),
        )
        .select(
            "src_a", F.col("src_a").alias("src_b"),
            "n_dup_groups", "n_dup_pairs",
        )
    )
    return cross.unionByName(diag).orderBy("src_a", "src_b")
