"""Full-text retrieval primitives: inverted index + BM25 ranking.

The index side of a web-scale corpus engine (the query side of the same
coin as pipeline/text.py's TF-IDF term extraction): build posting lists
per term, then rank documents against a broadcast query set with BM25.

Scale shape (10^10 docs, 10^6-term vocabulary):

* tokenization / term-frequency is ONE explode + ONE map-side-combined
  (term, doc) aggregation — the exchange carries distinct (term, doc)
  pairs, never raw token occurrences;
* posting lists aggregate per term (one term-keyed shuffle); heads are
  bounded with ``slice`` so a stop-word's posting list never materializes
  unbounded in one task's output row;
* BM25 scoring touches only the terms present in the (tiny, broadcast)
  query set — the corpus-side term table is semi-join-pruned before the
  shuffle, so cost scales with matching postings, not vocabulary;
* per-term score contributions are snapped to an integer 1e-9 grid
  (``round(contrib * 1e9) AS BIGINT``) BEFORE summation, making the
  per-document score an exact integer sum — invariant to partitioning and
  float summation order, hence reproducible across engines and cluster
  layouts (same determinism trick as pipeline/text.py's rational TF-IDF
  ranking).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark.session import literal_frame

__all__ = [
    "tokenize",
    "inverted_index",
    "bm25_topk",
    "kneser_ney_bigrams",
    "dirichlet_ql_topk",
]


def tokenize(docs: DataFrame, key_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(key, token) rows: lowercase, split on non-letter runs, drop empties.
    Matches the tokenizer used across pipeline/text.py so index and
    quality stages agree on term boundaries."""
    return docs.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("token"),
    )


def inverted_index(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    head_k: int = 5,
) -> DataFrame:
    """Posting-list table: one row per term with document frequency
    ``df``, collection frequency ``cf``, and the head of the posting list
    (top ``head_k`` documents by (tf DESC, key ASC), rendered as a
    ``key:tf`` CSV string so the row stays bounded and hashable).

    Plan: explode -> map-side-combined (term, key) counts -> one
    term-keyed aggregation. The full posting list exists only inside the
    aggregation buffer of its term's task; only the bounded head leaves.
    """
    tf = tokenize(docs, key_col, text_col).groupBy("token", "key").agg(
        F.count("*").alias("tf")
    )
    # ascending struct sort == (tf desc, key asc) via negated tf
    entry = F.struct((-F.col("tf")).alias("ntf"), F.col("key").alias("key"))
    return tf.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.array_sort(F.collect_list(entry)), 1, head_k),
                lambda s: F.concat_ws(
                    ":",
                    s.getField("key").cast("string"),
                    (-s.getField("ntf")).cast("string"),
                ),
            ),
        ).alias("postings_head"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents per query under BM25 (Robertson/Sparck Jones;
    the ATIRE/Lucene ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` variant,
    which is non-negative for every df).

    ``queries`` is a small literal list of (query_id, text) — it becomes
    broadcast filters, never a shuffled table. Corpus stats (N, total
    token count -> avgdl) ride a broadcast 1-row frame. Per-(doc, term)
    contributions are snapped to the 1e-9 integer grid before the
    per-document sum, so scores are EXACT integers (``score_e9``):
    ordering and cross-engine comparison never depend on float summation
    order. Rank ties break on the document key.
    """
    toks = tokenize(docs, key_col, text_col)
    qterms = sorted(
        {
            (qid, t)
            for qid, text in queries
            for t in text.lower().split()
            if t
        }
    )
    spark = docs.sparkSession
    qdf = literal_frame(spark, qterms, "query_id long, token string")

    dl = toks.groupBy("key").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
    )
    # prune corpus terms to the query vocabulary BEFORE any aggregation
    term_set = sorted({t for _, t in qterms})
    hits = toks.where(F.col("token").isin(term_set))
    tf = hits.groupBy("key", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))

    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(F.broadcast(qdf), "token")
        .join(dl, "key")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tfn = (F.col("tf").cast("double") * (k1 + 1.0)) / (
        F.col("tf").cast("double")
        + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
    )
    contrib_e9 = F.round(idf * tfn * 1e9, 0).cast("long")
    per_doc = scored.groupBy("query_id", "key").agg(
        F.sum(contrib_e9).alias("score_e9")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score_e9"), "key")
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "key", "score_e9")
    )


def kneser_ney_bigrams(
    docs: DataFrame,
    discount: float = 0.75,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities over the corpus.

    The LM-quality workhorse one step past add-one smoothing (KenLM's
    default family): absolute discounting with a continuation-count
    backoff, so P(w2|w1) credits how many DISTINCT contexts w2 appears
    in, not how often —

        P_KN(w2|w1) = max(c(w1 w2) - d, 0) / c(w1 .)
                      + d * N1+(w1 .) / c(w1 .) * N1+(. w2) / B

    with c(w1 .) = total bigrams starting w1, N1+(w1 .) = distinct
    continuations of w1, N1+(. w2) = distinct left contexts of w2, and
    B = total distinct bigram types (the continuation-unigram
    denominator).

    Every sufficient statistic is an exact BIGINT aggregate (counts and
    distinct counts over the bigram table); the probability is one
    fixed-order double expression, so the DuckDB oracle matches to the
    ulp. Plan: one arrays_zip bigram explode -> one (w1,w2) agg, from
    which c1/N1f derive by a second keyed agg and N1b/B by a third —
    three map-side-combined shuffles total, no windows over raw tokens.

    Returns (w1, w2, c12, c1, n1f, n1b, p_kn) for every distinct bigram.
    """
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
        lambda t: F.length(t) > 0,
    )
    d = docs.select(F.col(key_col).alias("key"), arr.alias("w")).where(
        F.size("w") >= 2
    )
    n = F.size("w")
    bg = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, n - 1).alias("w1"),
                F.slice("w", 2, n - 1).alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    left = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1f")
    )
    right = c12.groupBy("w2").agg(F.count("*").alias("n1b"))
    btypes = c12.agg(F.count("*").alias("b_types"))
    dd = F.lit(float(discount))
    p = (
        F.greatest(F.col("c12").cast("double") - dd, F.lit(0.0))
        / F.col("c1").cast("double")
        + dd
        * F.col("n1f").cast("double")
        / F.col("c1").cast("double")
        * F.col("n1b").cast("double")
        / F.col("b_types").cast("double")
    )
    return (
        c12.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "w1", "w2", "c12", "c1", "n1f", "n1b",
            F.round(p, 12).alias("p_kn"),
        )
    )


def dirichlet_ql_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    mu: float = 300.0,
) -> DataFrame:
    """Top-``k`` documents per query under the Dirichlet-smoothed query-
    likelihood language model (Zhai & Lafferty) — the other classic
    lexical ranker next to BM25, and the stronger one on short queries:

        score(q, d) = Σ_{t ∈ q} ln( (tf_d(t) + μ·P(t|C)) / (dl_d + μ) )

    with collection model P(t|C) = ctf(t) / total_tokens. Unlike BM25,
    terms ABSENT from a document still contribute (the μ·P(t|C) prior
    shrinks with document length), so candidates = documents matching at
    least one query term are crossed with the query's full (tiny,
    literal) term list and zero-tf terms are filled in via a left join.

    Determinism: each per-(doc, term) log contribution snaps to the 1e-9
    integer grid BEFORE the per-document sum (the same trick as
    ``bm25_topk``), so scores are exact BIGINTs and rank order is
    invariant to partitioning and float summation order. Rank ties break
    on the document key.

    Scale shape: the corpus term table is pruned to the query vocabulary
    before any aggregation; collection stats ride broadcast 1-row /
    vocabulary-sized frames; the candidate × query-term grid is bounded
    by |candidates| · |query terms|.
    """
    from pyspark.sql import Window

    toks = tokenize(docs, key_col, text_col)
    qterms = sorted(
        {(qid, t) for qid, text in queries for t in text.lower().split() if t}
    )
    spark = docs.sparkSession
    qdf = literal_frame(spark, qterms, "query_id long, token string")
    term_set = sorted({t for _, t in qterms})

    dl = toks.groupBy("key").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.sum("dl").alias("total_tokens"))
    hits = toks.where(F.col("token").isin(term_set))
    tf = hits.groupBy("key", "token").agg(F.count("*").alias("tf"))
    ctf = hits.groupBy("token").agg(F.count("*").alias("ctf"))

    cand = (
        tf.join(F.broadcast(qdf), "token").select("query_id", "key").distinct()
    )
    grid = (
        cand.join(F.broadcast(qdf), "query_id")
        .join(tf, ["key", "token"], "left")
        .join(F.broadcast(ctf), "token")
        .join(dl, "key")
        .crossJoin(F.broadcast(stats))
    )
    tf0 = F.coalesce(F.col("tf"), F.lit(0)).cast("double")
    p_c = F.col("ctf").cast("double") / F.col("total_tokens").cast("double")
    contrib = F.log(
        (tf0 + F.lit(float(mu)) * p_c)
        / (F.col("dl").cast("double") + F.lit(float(mu)))
    )
    contrib_e9 = F.round(contrib * 1e9, 0).cast("long")
    per_doc = grid.groupBy("query_id", "key").agg(
        F.sum(contrib_e9).alias("score_e9")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e9"), "key")
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", F.col("rank").cast("int").alias("rank"), "key", "score_e9"
        )
    )
