"""Retrieval primitives for RAG / corpus-search pipelines: context-window
document chunking and BM25 ranked retrieval.

Both are pure DataFrame compositions (no UDFs, no collects) with exact
ANSI-SQL semantics, so they carry full DuckDB oracle twins.  Chunking is the
"split documents into overlapping context windows" step every RAG indexer
and long-document trainer runs before embedding; BM25 is the standard
lexical ranking function (Robertson/Sparck Jones — public literature) and
doubles as the lexical half of a hybrid retriever next to the ANN family in
``functions/similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline2_0_spark.functions.text import tokens
from etl_pipeline2_0_spark.operators.partitioning import reuse


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking: split each document into chunks of
    ``chunk_tokens`` word tokens, consecutive chunks overlapping by
    ``overlap_tokens`` (stride = chunk - overlap).

    Chunk starts are 0, stride, 2·stride, … up to the last start < n_tokens,
    so every token lands in ≥1 chunk and the final chunk may be short (a
    tail shorter than the overlap still gets its own chunk — the standard
    sliding-window convention; deterministic either way).  Documents with
    NULL/empty text produce zero chunks.

    Output: (id, chunk_id, start_token, n_tokens, chunk_text), chunk_id
    0-based in document order.

    Scale: a narrow per-row transform — tokenize, ``sequence`` the starts,
    ``posexplode``, ``slice`` — with NO shuffle and no Python; output size
    is input size × (1 + overlap fraction).  Chunk rows inherit the input
    partitioning, so a downstream embed/index stage starts co-located.
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    base = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .where(F.col("_n") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    return (
        base.select(
            id_col,
            "_toks",
            F.posexplode(starts).alias("chunk_id", "start_token"),
        )
        .withColumn(
            "_ctoks", F.slice("_toks", F.col("start_token") + 1, chunk_tokens)
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.col("start_token").cast("bigint").alias("start_token"),
            F.size("_ctoks").cast("bigint").alias("n_tokens"),
            F.array_join("_ctoks", " ").alias("chunk_text"),
        )
    )


def tokenized_base(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The shared (id, _toks, dl) corpus projection every lexical ranker
    starts from.  Exposed so multi-ranker queries can tokenize the
    corpus ONCE (r17 optimization, guide §2.4): bm25_topk,
    ql_dirichlet_topk and the RM3 passes each rebuilt this projection —
    the RM3 chain alone re-ran the regex tokenizer five times per
    action."""
    return docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).withColumn("dl", F.size("_toks"))


def bm25_postings(
    base: DataFrame, term_set: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The pruned postings table ``(id, term, tf, dl)`` every lexical
    ranker scores from: corpus tokens exploded, immediately semi-joined
    against the BROADCAST term set, aggregated per (doc, term).
    Exposed so multi-ranker queries can build it ONCE (r18
    optimization, guide §2.4): ``bm25_topk`` and ``ql_dirichlet_topk``
    construct byte-identical postings from the same ``base`` and term
    set, and the relevance-truth grade of ``q_retrieval_ndcg_rm3`` is a
    re-aggregation of the same table — without sharing, each consumer
    re-runs the corpus explode+join+aggregate per action."""
    return (
        base.select(id_col, "dl", F.explode("_toks").alias("term"))
        .join(F.broadcast(term_set), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: "list[tuple[int, list[str]]] | DataFrame",
    top_k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: "DataFrame | None" = None,
    postings: "DataFrame | None" = None,
) -> DataFrame:
    """BM25 ranked retrieval: score every document against each query's
    terms and keep the ``top_k`` per query.

    Okapi BM25 (public literature):

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        s(t, d) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    summed over the query's distinct terms; ties broken by doc id.
    ``queries`` is a list of (query_id, [term, ...]) or an equivalent
    (query_id, term) DataFrame; terms are matched against the same
    lowercased ``\\W+`` tokenization as the TF-IDF family.  If the
    DataFrame form carries a ``weight`` column, each term's
    contribution is scaled by it (the weighted-query form RM3
    expansion needs); without one, every term weighs 1.  N and avgdl
    count EVERY corpus row including zero-token documents (they are
    corpus members; dl=0 simply never matches a term) — pre-filter empties
    upstream if the other convention is wanted.

    Output: (query_id, id, score, rnk).

    Scale: the corpus explodes to term rows but is immediately semi-joined
    against the BROADCAST query-term set — only rows whose term appears in
    some query survive to the (id, term) aggregate, so the shuffle is
    proportional to matching postings, not corpus tokens.  The document
    length rides the posting rows (it is functionally dependent on the doc
    key — ``first(dl)`` in the same aggregate), so no separate length join
    touches the corpus; N and avgdl reduce to ONE broadcast row from a
    count-only pass (column pruning keeps it to per-row token counting).
    Scoring then touches only the pruned postings — Spark reuses the
    postings exchange for the df(term) aggregate — and the final top-k
    window partitions by query over ≤ #matching docs rows per query.
    """
    spark = docs.sparkSession
    if isinstance(queries, DataFrame):
        qterms = queries
    else:
        rows = [(qid, t) for qid, terms in queries for t in terms]
        qterms = spark.createDataFrame(rows, "query_id int, term string")
    qterms = qterms.distinct()
    term_set = qterms.select("term").distinct()

    if base is None:
        base = tokenized_base(docs, text_col, id_col)
    if postings is None:
        postings = bm25_postings(base, term_set, id_col)
    else:
        # a caller-shared postings table may cover a SUPERSET of this
        # ranker's terms (e.g. one table for several query sets) — prune
        # to this query set so df(term) and the scoring join see exactly
        # what the self-built table would have held
        postings = postings.join(F.broadcast(term_set), "term", "semi")
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = idf * tf_part
    if "weight" in qterms.columns:
        contrib = F.col("weight") * contrib
    scored = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    top_k: int = 5,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher, SIGIR'09 — public
    literature): fuse N rankers' (query_id, id, rnk) lists into one ranking
    by ``score = Σ_rankers 1/(rrf_k + rnk)``, ties by id.

    Rank-based fusion needs no score calibration, so it composes rankers
    with incomparable scores — e.g. BM25 (unbounded) with cosine ([-1, 1]).
    A doc absent from a ranker's list simply contributes nothing.

    Scale: a union of the (already small) per-query top lists, one
    (query, id) aggregate, one per-query window — all proportional to
    #queries × Σ list sizes, never to the corpus.
    """
    pick = [
        r.select("query_id", F.col(id_col), F.col("rnk")) for r in rankings
    ]
    allr = pick[0]
    for r in pick[1:]:
        allr = allr.unionByName(r)
    fused = allr.groupBy("query_id", id_col).agg(
        F.round(F.sum(1.0 / (F.lit(rrf_k) + F.col("rnk"))), 6).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col(id_col)
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
    )


def similar_docs_rrf(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = 8,
    top_m_terms: int = 5,
    k_each: int = 10,
    top_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    semantic: "DataFrame | None" = None,
) -> DataFrame:
    """Hybrid "more-like-this" search: for each query document, fuse a
    LEXICAL ranking (BM25 over the query doc's ``top_m_terms``
    highest-tf terms) with a SEMANTIC ranking (exact cosine over its
    embedding) via Reciprocal Rank Fusion — the standard hybrid-retriever
    composition.

    Query docs are ids < ``n_queries`` (present in both tables).  The
    lexical ranks are computed over the full corpus (the query doc itself
    ranks, typically first); the query doc is dropped at fusion, so its
    slot leaves a deterministic rank gap — same convention both engines.

    Output: (query_id, doc_id, rrf_score, rnk).

    Scale: the term-profile build touches only ``n_queries`` docs; both
    component rankings are the guarded shapes (broadcast-pruned postings /
    broadcast-query cosine); fusion is rank-arithmetic over tiny top
    lists.  Swap the exact cosine for ``ivf_topk``/``rp_lsh_topk`` at
    corpus scale — RRF only consumes ranks.
    """
    from etl_pipeline2_0_spark.functions.similarity import cosine_topk

    qdocs = docs.where(F.col(id_col) < n_queries)
    tf = (
        qdocs.select(
            F.col(id_col).alias("query_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("tf").desc(), "term")
    qterms = (
        tf.withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= top_m_terms)
        .select("query_id", "term")
    )
    lexical = bm25_topk(
        docs, qterms, top_k=k_each, text_col=text_col, id_col=id_col
    ).where(F.col("query_id") != F.col(id_col))
    # r18 opt-in hook (guide §2.4): a caller that already ranked the
    # SAME semantic side (e.g. a grader whose truth table is this exact
    # cosine_topk call) hands it in via ``semantic`` and the cosine
    # subtree runs once per action instead of twice — a pure CPU
    # reduction for a contended cluster.  Deliberately NOT used by
    # q_rrf_ndcg locally: the cut serializes what idle cores ran
    # concurrently (A/B measured 0.95-0.97x twice — the r17 barrier
    # lesson), so the duplicate stays the local wall-clock optimum.
    # The caller is responsible for passing a ranking over the same
    # embeddings / n_queries / k_each; results are byte-identical.
    if semantic is None:
        semantic = cosine_topk(
            emb, emb.where(F.col(vec_id_col) < n_queries), k=k_each,
            id_col=vec_id_col,
        )
    semantic = semantic.withColumnRenamed("neighbor_id", id_col)
    return rrf_fuse([lexical, semantic], top_k=top_k, id_col=id_col)


def phrase_match(
    df: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase retrieval over positional postings: documents where the
    tokens of ``phrase`` appear ADJACENT and in order, with the occurrence
    count — the positional-index primitive term retrieval (bm25_topk)
    cannot express.

    Output: (doc_id, n_occurrences), docs with ≥1 occurrence.

    Relational shape: one positional explode (doc, pos, tok); each phrase
    term keeps only ITS postings (a strict filter, so the joins see
    term-frequency-sized sides, not the corpus); terms then chain-join on
    (doc, pos offset) — k-1 equi-joins for a k-token phrase, the standard
    positional-index intersection.  At 100 TB the postings would be a
    materialized table bucketed by term, making each phrase query a
    term-pruned scan + co-located position joins; here they are derived
    inline from the same expression.
    """
    if len(phrase) < 2:
        raise ValueError("phrase_match needs at least 2 tokens")
    postings = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    matched = postings.where(F.col("tok") == phrase[0].lower()).select(
        "doc_id", F.col("pos").alias("p0")
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = postings.where(F.col("tok") == term.lower()).select(
            F.col("doc_id").alias("d_i"), F.col("pos").alias("p_i")
        )
        matched = matched.join(
            nxt,
            (F.col("doc_id") == F.col("d_i"))
            & (F.col("p_i") == F.col("p0") + i),
        ).select("doc_id", "p0")
    return (
        matched.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )


def sentence_chunk(
    docs: DataFrame,
    budget_tokens: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-BOUNDARY chunking for RAG indexing: split each document
    into sentences, then greedily pack consecutive sentences into chunks
    of ~``budget_tokens`` whitespace tokens — the semantic-chunking
    alternative to the fixed sliding window (``chunk_documents``), which
    can cut mid-sentence.  A sentence longer than the budget gets its own
    chunk (never split — sentence integrity is the point).

    Sentence splitting is the portable regex ``[^.!?]+[.!?]*`` (runs of
    non-terminators plus their trailing terminators) — NO lookbehind, so
    Java regex (Spark) and RE2 (the DuckDB twin) agree byte-for-byte.
    Assignment is the streaming rule chunk_id = floor(exclusive-prefix-
    sum(tokens)/budget) — the per-doc cousin of ``pack_sequences``.

    Scale shape: one posexplode + doc-partitioned window + per-(doc,
    chunk) aggregate — all on the same doc_id clustering, one exchange.

    Output: (doc_id, chunk_id, n_sentences, n_tokens, chunk_text).
    """
    from etl_pipeline2_0_spark.functions.text import token_count
    from pyspark.sql.window import Window

    sents = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.transform(
                    F.regexp_extract_all(
                        F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), 0
                    ),
                    lambda s: F.trim(s),
                ),
                lambda s: F.length(s) > 0,
            )
        ).alias("pos", "sent"),
    ).withColumn("n_tok", token_count(F.col("sent")))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = sents.withColumn(
        "chunk_id",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0))
            / F.lit(int(budget_tokens))
        ).cast("int"),
    )
    return assigned.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                lambda x: x["sent"],
            ),
            " ",
        ).alias("chunk_text"),
    )


def crop_pairs(
    docs: DataFrame,
    crop_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Contrastive positive-pair mining by random cropping (the
    Contriever / ICT recipe: two crops of the same document form a
    positive pair for dense-retriever pretraining): per document, two
    md5-deterministic ``crop_tokens``-token windows, emitted with their
    overlap so downstream filtering can enforce view diversity (pairs
    with near-total overlap teach nothing).

    Docs with fewer than ``crop_tokens`` tokens are skipped (no full
    crop exists).  Deterministic: same doc + salt → same pair, on any
    engine or partitioning.

    Scale shape: a single narrow projection over the token array — no
    shuffle, no explode (crops come from ``slice`` on the materialized
    array); the BM25-mined hard negatives (``retrieval_pairs``) complete
    the training triple.

    Output: (doc_id, a_start, b_start, overlap_tokens, crop_a, crop_b).
    """
    k = int(crop_tokens)
    tokd = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.col(text_col), r"[ \t\n\r\x0B\x0C]+"),
            lambda t: F.length(t) > 0,
        ).alias("_toks"),
    ).where(F.size("_toks") >= k)

    def _h(tag):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
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

    span = F.size("_toks") - F.lit(k) + 1
    a = (F.lit(1) + F.pmod(_h("a"), span)).cast("int")
    b = (F.lit(1) + F.pmod(_h("b"), span)).cast("int")
    sel = tokd.select(
        "doc_id", "_toks", a.alias("a_start"), b.alias("b_start")
    )
    overlap = F.greatest(
        F.lit(0),
        F.least(F.col("a_start"), F.col("b_start"))
        + F.lit(k)
        - F.greatest(F.col("a_start"), F.col("b_start")),
    )
    return sel.select(
        "doc_id",
        "a_start",
        "b_start",
        overlap.cast("int").alias("overlap_tokens"),
        F.array_join(F.slice("_toks", F.col("a_start"), F.lit(k)), " ").alias(
            "crop_a"
        ),
        F.array_join(F.slice("_toks", F.col("b_start"), F.lit(k)), " ").alias(
            "crop_b"
        ),
    )


def ranking_quality(
    ranking: DataFrame,
    relevance: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    gain: str = "exp",
) -> DataFrame:
    """nDCG@k and MRR@k of a ranked retrieval against a graded relevance
    truth — the measured ranking-quality row for the retrieval family,
    mirroring the recall rows every other approximate family carries
    (ann_recall / minhash_recall / bitext_recall).

    Standard definitions (Järvelin & Kekäläinen 2002 — public
    literature), with both published gain conventions:

        DCG@k  = Σ_{r=1..k} (2^rel(d_r) − 1) / log2(r + 1)   (gain="exp")
        DCG@k  = Σ_{r=1..k} rel(d_r) / log2(r + 1)           (gain="linear",
                 the original Järvelin & Kekäläinen form — use it when
                 grades are unbounded counts, where 2^rel would overflow
                 the measurement into an argmax)
        nDCG@k = DCG@k / IDCG@k   (ideal = truth sorted rel desc, id asc)
        MRR@k  = 1 / rank of the first rel>0 result (0 if none in top k)

    Inputs: ``ranking`` = (query_id, doc_id, rnk) with dense per-query
    ranks (extra columns ignored); ``relevance`` = (query_id, doc_id,
    rel) graded ≥ 0, pairs absent ⇒ rel 0.  One output row per query id
    present in EITHER input: (query_id, n_relevant, ndcg, mrr) — a
    query with no relevant docs scores 0/0-by-convention (ndcg 0,
    mrr 0), one with no ranking rows scores 0.

    Scale: every aggregate is per-query over ≤ k ranking rows or the
    truth's relevant pairs — proportional to #queries × list sizes,
    never the corpus; the two half-frames meet in one broadcast-sized
    full-outer join on query id.
    """
    r = ranking.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_d"),
        F.col("rnk"),
    ).where(F.col("rnk") <= k)
    t = relevance.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_d"),
        F.col("rel").cast("double").alias("rel"),
    )
    if gain not in ("exp", "linear"):
        raise ValueError(f"gain must be 'exp' or 'linear', got {gain!r}")

    def _gain(rank_col):
        num = (
            (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
            if gain == "exp"
            else F.col("rel")
        )
        return num / F.log2(rank_col + 1.0)

    dcg = (
        r.join(t, ["_q", "_d"], "left")
        .na.fill({"rel": 0.0})
        .groupBy("_q")
        .agg(
            F.sum(_gain(F.col("rnk"))).alias("dcg"),
            F.min(F.when(F.col("rel") > 0, F.col("rnk"))).alias("_frr"),
        )
    )
    wi = Window.partitionBy("_q").orderBy(F.col("rel").desc(), F.col("_d"))
    ideal = (
        t.where(F.col("rel") > 0)
        .withColumn("irnk", F.row_number().over(wi))
    )
    idcg = ideal.groupBy("_q").agg(
        F.sum(F.when(F.col("irnk") <= k, _gain(F.col("irnk")))).alias("idcg"),
        F.count(F.lit(1)).alias("n_relevant"),
    )
    out = dcg.join(idcg, "_q", "full_outer")
    return out.select(
        F.col("_q").alias(query_col),
        F.coalesce(F.col("n_relevant"), F.lit(0)).alias("n_relevant"),
        F.round(
            F.when(
                F.col("idcg") > 0,
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("_frr"), F.lit(0.0)), 6
        ).alias("mrr"),
    )


def rm3_expansion_terms(
    docs: DataFrame,
    queries: "list[tuple[int, list[str]]] | DataFrame",
    fb_k: int = 5,
    fb_terms: int = 8,
    alpha: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: "DataFrame | None" = None,
    first_pass: "DataFrame | None" = None,
    postings: "DataFrame | None" = None,
) -> DataFrame:
    """RM3 pseudo-relevance-feedback expansion terms (Lavrenko & Croft
    2001 relevance models; the RM3 interpolation of Abdul-Jaleel et al.
    2004 — public literature): run BM25, treat each query's top
    ``fb_k`` docs as pseudo-relevant, estimate a feedback term model
    from them, interpolate with the original query model, and keep the
    top ``fb_terms`` terms per query.

        P(t|R)  ∝ Σ_{d∈fb(q)} (tf(t,d)/dl(d)) · (score(d)/Σscore)
        w(t)    = α·P(t|Q) + (1−α)·P(t|R),  P(t|Q) = 1/|terms(q)|

    Exactness: first-pass scores are round-6 doubles, so they quantize
    losslessly to micro-unit BIGINTs — Σscore is an exact integer sum
    (order-free) and every per-posting contribution is a single
    deterministic double expression quantized to NANO-unit BIGINTs
    before the (query, term) sum.  The ranking key is an integer:
    cross-engine ties are impossible to get wrong.

    Output: (query_id, term, w_nano, rnk), rnk 1..fb_terms by w_nano
    desc (term tiebreak).

    Scale: the feedback doc set is ≤ #queries·fb_k rows — it BROADCASTS
    into the corpus to pull full postings for just those docs (the only
    corpus-sized pass beyond the first BM25 run); everything after is
    proportional to feedback-doc tokens.  The per-query windows run on
    bounded frames.
    """
    spark = docs.sparkSession
    if isinstance(queries, DataFrame):
        qterms = queries.select("query_id", "term").distinct()
    else:
        rows = [(qid, t) for qid, terms in queries for t in terms]
        qterms = spark.createDataFrame(
            rows, "query_id int, term string"
        ).distinct()

    if base is None:
        base = tokenized_base(docs, text_col, id_col)
    # r18 optimization (guide §2.4 — remove duplicate passes outright):
    # a caller that already ran the IDENTICAL first-pass ranking (same
    # corpus/queries/k1/b and top_k == fb_k — q_retrieval_ndcg_rm3's
    # plain bm25 ranker is exactly RM3's feedback retrieval) hands it
    # in via ``first_pass`` and the whole first BM25 pass drops out of
    # this chain.  The caller is responsible for the equality of those
    # parameters; results are byte-identical by construction.
    if first_pass is None:
        first_pass = bm25_topk(
            docs, qterms, top_k=fb_k, k1=k1, b=b,
            text_col=text_col, id_col=id_col, base=base,
            postings=postings,
        )
    # bounded (#queries x fb_k rows); feeds ssum AND the feedback-
    # postings probe — without the cut each consumer re-runs the
    # whole first BM25 pass
    first = reuse(first_pass.select(
        "query_id",
        F.col(id_col),
        F.round(F.col("score") * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("score_micro"),
    ))
    ssum = first.groupBy("query_id").agg(
        F.sum("score_micro").alias("ssum_micro")
    )
    fb = first.join(F.broadcast(ssum), "query_id")

    fb_postings = (
        base.join(F.broadcast(fb), id_col)
        .select(
            "query_id", id_col, "dl", "score_micro", "ssum_micro",
            F.explode("_toks").alias("term"),
        )
        .groupBy("query_id", id_col, "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.first("dl").alias("dl"),
            F.first("score_micro").alias("score_micro"),
            F.first("ssum_micro").alias("ssum_micro"),
        )
    )
    contrib_nano = F.round(
        F.lit(1.0 - alpha)
        * (F.col("tf") * F.lit(1.0) / F.col("dl"))
        * (F.col("score_micro") * F.lit(1.0) / F.col("ssum_micro"))
        * F.lit(1_000_000_000.0)
    ).cast("bigint")
    p_rel = fb_postings.groupBy("query_id", "term").agg(
        F.sum(contrib_nano).alias("rel_nano")
    )

    n_q = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n_q")
    )
    p_q = qterms.join(F.broadcast(n_q), "query_id").select(
        "query_id",
        "term",
        F.round(F.lit(alpha) * F.lit(1_000_000_000.0) / F.col("_n_q"))
        .cast("bigint")
        .alias("orig_nano"),
    )
    merged = (
        p_rel.join(p_q, ["query_id", "term"], "full")
        .select(
            "query_id",
            "term",
            (
                F.coalesce(F.col("orig_nano"), F.lit(0))
                + F.coalesce(F.col("rel_nano"), F.lit(0))
            ).alias("w_nano"),
        )
        # a zero-weight term (possible at the α extremes after nano
        # rounding) contributes nothing to the second pass — it must
        # not consume an fb_terms slot (at α=1 the expansion then
        # reduces EXACTLY to the original query terms)
        .where(F.col("w_nano") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("w_nano").desc(), F.col("term")
    )
    return (
        merged.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= fb_terms)
        .select("query_id", "term", "w_nano", "rnk")
    )


def bm25_rm3_topk(
    docs: DataFrame,
    queries: "list[tuple[int, list[str]]] | DataFrame",
    fb_k: int = 5,
    fb_terms: int = 8,
    alpha: float = 0.5,
    top_k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: "DataFrame | None" = None,
    first_pass: "DataFrame | None" = None,
    postings: "DataFrame | None" = None,
) -> DataFrame:
    """BM25 + RM3 re-retrieval: score the corpus against each query's
    ``rm3_expansion_terms`` (weights = nano-units/10⁹), the standard
    two-pass pseudo-relevance-feedback ranker.  Same output shape as
    ``bm25_topk``: (query_id, id, score, rnk).

    Scale: two BM25 passes + one feedback-doc pass; the expansion
    table (≤ #queries·fb_terms rows) broadcasts exactly like a literal
    query set, so the second pass has the first pass's shape.  The
    bounded expansion table sits behind a ``reuse`` barrier — the
    second pass consumes it in several places, and without the cut each
    consumer would re-run the whole first-pass + feedback chain
    (measured 24 corpus scans without the barrier vs 9 with it).
    """
    if base is None:
        # ONE tokenized-corpus projection for the first pass, the
        # feedback-postings probe AND the second pass (r17 optimization,
        # guide §2.4: the chain re-ran the regex tokenizer five times).
        base = reuse(tokenized_base(docs, text_col, id_col))
    exp = reuse(rm3_expansion_terms(
        docs, queries, fb_k=fb_k, fb_terms=fb_terms, alpha=alpha,
        k1=k1, b=b, text_col=text_col, id_col=id_col,
        base=base, first_pass=first_pass, postings=postings,
    ).select(
        "query_id",
        "term",
        (F.col("w_nano") / F.lit(1_000_000_000.0)).alias("weight"),
    ))
    return bm25_topk(
        docs, exp, top_k=top_k, k1=k1, b=b,
        text_col=text_col, id_col=id_col, base=base,
    )


def ql_dirichlet_topk(
    docs: DataFrame,
    queries: "list[tuple[int, list[str]]] | DataFrame",
    top_k: int = 5,
    mu: float = 300.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: "DataFrame | None" = None,
    postings: "DataFrame | None" = None,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty 2001 — public literature), the classic language-model
    alternative to BM25:

        score(q, d) = Σ_{t∈q∩d} ln(1 + tf(t,d)/(μ·P(t|C)))
                      + |q| · ln(μ/(dl + μ))

    the standard sparse decomposition of Σ_{t∈q} ln((tf + μ·P(t|C)) /
    (dl + μ)) — the first sum runs over MATCHING postings only, the
    second is a per-doc length prior.  P(t|C) = cf(t)/|C| is the
    collection unigram.  Candidates are docs matching ≥ 1 query term
    (the usual inverted-index convention); ties break by doc id.

    Output: (query_id, id, score, rnk) — ``bm25_topk``'s shape, so the
    two rankers drop into ``rrf_fuse`` together.

    Scale: identical to BM25's — the corpus explodes to term rows but
    is immediately semi-joined against the BROADCAST query-term set,
    so the shuffle is ∝ matching postings; cf(t) aggregates over those
    same pruned postings; |C| reduces to ONE broadcast row from a
    count-only pass; the final top-k window partitions by query over
    the candidate set.
    """
    spark = docs.sparkSession
    if isinstance(queries, DataFrame):
        qterms = queries.select("query_id", "term").distinct()
    else:
        rows = [(qid, t) for qid, terms in queries for t in terms]
        qterms = spark.createDataFrame(
            rows, "query_id int, term string"
        ).distinct()
    term_set = qterms.select("term").distinct()
    n_q = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_q")
    )

    if base is None:
        base = tokenized_base(docs, text_col, id_col)
    tot = base.agg(
        F.sum("dl").cast("bigint").alias("c_tokens")
    )
    if postings is None:
        postings = bm25_postings(base, term_set, id_col)
    else:
        # same superset-pruning contract as bm25_topk's shared postings
        postings = postings.join(F.broadcast(term_set), "term", "semi")
    cf = postings.groupBy("term").agg(
        F.sum("tf").cast("bigint").alias("cf")
    )
    match_part = F.log(
        F.lit(1.0)
        + F.col("tf")
        / (F.lit(mu) * (F.col("cf") * F.lit(1.0) / F.col("c_tokens")))
    )
    scored = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("query_id", id_col)
        .agg(
            F.sum(match_part).alias("_m"),
            F.first("dl").alias("dl"),
        )
        .join(F.broadcast(n_q), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(
                F.col("_m")
                + F.col("n_q")
                * F.log(F.lit(mu) / (F.col("dl") + F.lit(mu))),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
    )
