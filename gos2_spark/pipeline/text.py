"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

Everything here is NATIVE column expressions (codegen; no Python in the hot
path) — string ops, regexes, array algebra — so the full 100-TB corpus pass
is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal stopword profiles for the n-gram/stopword language heuristic.
# Deterministic and tiny by design (a real run would load larger profiles).
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"],
    "es": ["el", "la", "de", "que", "los", "las", "por", "con", "una", "para"],
    "pt": ["o", "a", "de", "que", "os", "das", "por", "com", "uma", "para"],
    "ja": ["no", "wa", "ni", "wo", "ga", "desu", "shite", "kara", "made", "koto"],
}

_BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col: Column) -> Column:
    """Whitespace tokens."""
    return F.split(F.trim(text_col), r"\s+")


def token_count(text_col: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    return F.when(F.trim(text_col) == "", F.lit(0)).otherwise(F.size(tokens(text_col)))


def bpe_ish_token_count(text_col: Column) -> Column:
    """Sub-word-ish token count: letter runs + digit runs + punctuation
    (a cheap deterministic stand-in for a BPE tokenizer's length)."""
    return F.size(F.regexp_extract_all(text_col, F.lit(_BPE_ISH_RE), 0))


def language_id(text_col: Column) -> Column:
    """Stopword-profile language guess: lowercased token set is intersected
    with each profile; highest hit-count wins ('und' = undetermined on tie-0).
    Pure array algebra — one pass, no UDF."""
    toks = F.array_distinct(F.split(F.lower(F.trim(text_col)), r"[^a-z]+"))
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))))
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    # first language (alphabetical) achieving the max — deterministic
    for lang, s in reversed(scores):
        guess = F.when(s == best, F.lit(lang)).otherwise(guess)
    return F.when(best > 0, guess).otherwise(F.lit("und"))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality signals: lengths, ratios, stopword fraction.

    Columns: n_chars, n_tokens, mean_token_len, punct_ratio, digit_ratio,
    upper_ratio, stopword_ratio, quality_score (0..1 heuristic).
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.length(F.regexp_replace(t, r"[^\p{Punct}]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    toks_lower = F.split(F.lower(F.trim(t)), r"\s+")
    n_stop = F.size(F.filter(toks_lower, lambda x: F.array_contains(en_stop, x)))

    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_toks = F.greatest(n_tokens, F.lit(1)).cast("double")
    punct_ratio = n_punct / safe_chars
    digit_ratio = n_digit / safe_chars
    upper_ratio = n_upper / safe_chars
    stop_ratio = n_stop / safe_toks
    mean_tok = safe_chars / safe_toks

    # heuristic quality: long enough, not punctuation/digit soup, some
    # stopwords, plausible mean token length
    score = (
        F.least(n_tokens.cast("double") / 20.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(digit_ratio * 4.0, F.lit(1.0))) * 0.2
        + F.least(stop_ratio * 3.0, F.lit(1.0)) * 0.2
        + F.when((mean_tok >= 3.0) & (mean_tok <= 10.0), 0.1).otherwise(0.0)
    )
    return docs.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(mean_tok, 6).alias("q_mean_token_len"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(digit_ratio, 6).alias("q_digit_ratio"),
        F.round(upper_ratio, 6).alias("q_upper_ratio"),
        F.round(stop_ratio, 6).alias("q_stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def fingerprint(text_col: Column, k: int = 7, window: int = 4) -> Column:
    """Winnowing document fingerprint: k-gram rolling hashes -> sliding-window
    minima -> distinct sorted array<long>.

    transform over an index sequence + array_min slices — native end to end.
    Robust to small edits (the standard winnowing selection property).
    """
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n_grams - 1, F.lit(0))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))),
    )
    n_windows = F.greatest(n_grams - (window - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(n_windows - 1, F.lit(0))),
        lambda i: F.array_min(F.slice(grams, i + 1, window)),
    )
    return F.when(
        n_windows > 0, F.array_sort(F.array_distinct(mins))
    ).otherwise(F.when(n_grams > 0, F.array_sort(F.array_distinct(grams))).otherwise(F.array().cast("array<bigint>")))


# PII patterns, applied in this order (email first so its local part can't
# be re-matched as a phone/number). Kept to the Java-regex / RE2 common
# subset (no lookaround, no backreferences) so the same pattern runs on any
# engine a pipeline pairs this with.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone numbers; count each category.

    Adds ``n_email`` / ``n_ipv4`` / ``n_phone`` (match counts, taken on the
    text as it stands when that pattern runs, so categories never
    double-count one span), ``{text_col}_scrubbed``, and ``chars_redacted``
    (original length minus scrubbed length plus replacement-token chars —
    i.e. how many original characters were removed).

    Pure codegen ``regexp_count`` + ``regexp_replace`` chain: at corpus
    scale this is a zero-shuffle scan-stage gate, same as the quality
    features above.
    """
    out = docs
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, repl)
        counts.append((f"n_{name}", len(repl)))
    scrubbed = f"{text_col}_scrubbed"
    out = out.withColumn(scrubbed, cur)
    repl_chars = sum(
        F.col(c) * n_repl for c, n_repl in counts
    )
    return out.withColumn(
        "chars_redacted",
        (F.length(F.col(text_col)) - F.length(F.col(scrubbed)) + repl_chars)
        .cast("long"),
    )


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array — i.e. the
    max multiplicity — via a single O(n) fold (no explode, no shuffle)."""
    acc = F.aggregate(
        sorted_arr,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
    )
    return acc["best"]


def _dup_char_count(sorted_arr: Column) -> Column:
    """Chars in repeat occurrences (2nd+ copy of each value) of a sorted
    array — the Gopher 'fraction of characters in duplicate lines' numerator."""
    acc = F.aggregate(
        sorted_arr,
        F.struct(F.lit("").alias("prev"), F.lit(0).cast("long").alias("dup")),
        lambda a, x: F.struct(
            x.alias("prev"),
            (a["dup"] + F.when(x == a["prev"], F.length(x)).otherwise(F.lit(0))).alias("dup"),
        ),
    )
    return acc["dup"]


def repetition_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, one row per input row:

      * ``dup_line_frac``      — 1 - distinct_lines / lines
      * ``dup_line_char_frac`` — chars in 2nd+ copies of a line / line chars
      * ``top_bigram_frac``    — occurrences of the most frequent word
                                 bigram / total bigrams

    All three are pure per-row array folds (array_sort + aggregate) inside
    whole-stage codegen: at 10^12 docs this adds ZERO shuffles — it runs in
    the same scan stage as everything else. Degenerate docs (no lines / <2
    words) get 0.0 fractions.
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda s: F.length(F.trim(s)) > 0)
    n_lines = F.size(lines)
    sorted_lines = F.array_sort(lines)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(n_words - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n_words - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    n_bigrams = F.size(bigrams)
    total_line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    return docs.withColumns(
        {
            "dup_line_frac": F.when(
                n_lines > 0,
                1.0 - F.size(F.array_distinct(lines)) / n_lines.cast("double"),
            ).otherwise(0.0),
            "dup_line_char_frac": F.when(
                total_line_chars > 0,
                _dup_char_count(sorted_lines) / total_line_chars.cast("double"),
            ).otherwise(0.0),
            "top_bigram_frac": F.when(
                n_bigrams > 0,
                _max_run_length(F.array_sort(bigrams)) / n_bigrams.cast("double"),
            ).otherwise(0.0),
        }
    )


def tfidf_top_terms(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms: (key, rk, term, tf, df, tfidf).

    Ranking uses the RATIONAL weight tf*(N+1)/(df+1): with integer tf/df/N
    the IEEE division is correctly rounded and two distinct rationals at
    corpus scale differ by far more than an ulp, so the ordering is
    bit-identical across engines — ranking by the classic log weight
    would hinge on last-ulp differences between libm implementations.
    The reported ``tfidf`` column is the classic smoothed log weight
    tf*(ln((N+1)/(df+1))+1), rounded. Ties break on term ascending.

    Scale shape: explode -> (doc, term) map-side-combined count (one
    shuffle), document frequency as a second agg over that intermediate
    (one shuffle on term, AQE-broadcast when the vocab is small), one
    doc-keyed window for top-k. N is a driver scalar (one count action).
    """
    n_docs = docs.count()
    toks = tokens(F.col(text_col))
    terms = docs.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.when(F.trim(F.col(text_col)) == "", F.array().cast("array<string>"))
            .otherwise(F.transform(toks, F.lower))
        ).alias("term"),
    )
    tf = terms.groupBy("key", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    j = tf.join(df_, "term")
    rank_w = (F.col("tf") * (n_docs + 1)) / (F.col("df") + 1)
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(
        rank_w.desc(), F.col("term").asc()
    )
    tfidf = F.round(
        F.col("tf") * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1),
        6,
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .select("key", "rk", "term", "tf", "df", tfidf.alias("tfidf"))
    )


def char_entropy(text_col: Column, alphabet: str = "abcdefghijklmnopqrstuvwxyz") -> Column:
    """Shannon entropy (nats) of a document's character distribution over a
    FIXED alphabet — the classic char-level quality gate (gibberish and
    keyword-stuffed pages sit at the entropy extremes).

    Deliberately formulated as H = ln(N) - (1/N) * sum_i c_i*ln(c_i) with an
    EXPLICIT left-to-right per-letter expression chain instead of an
    explode+groupBy: per-letter counts are exact integers and the float
    summation order is fixed (alphabet order), so the value is reproducible
    bit-for-bit in any engine — and the whole thing is one codegen
    projection per row with zero shuffles, which is exactly what a
    10^12-page quality scan wants. Characters outside the alphabet are
    ignored (N counts alphabet hits only). Empty-alphabet docs -> 0.0.
    """
    low = F.lower(text_col)
    counts = [
        (F.length(low) - F.length(F.replace(low, F.lit(ch), F.lit(""))))
        for ch in alphabet
    ]
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    s = None
    for c in counts:
        term = F.when(
            c > 0, c.cast("double") * F.log(c.cast("double"))
        ).otherwise(F.lit(0.0))
        s = term if s is None else s + term
    total_d = total.cast("double")
    return F.when(
        total > 0, F.log(total_d) - s / total_d
    ).otherwise(F.lit(0.0))


def zipf_top_tokens(
    docs: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Corpus-level Zipf table: the top_k lowercased alpha tokens with
    global rank, occurrence count, and cumulative corpus share —
    (rank, token, n_occurrences, cum_frac).

    All ranking inputs are exact integers (ties break on token asc) and the
    cumulative sum runs over BIGINTs, so the output is engine-reproducible
    with no float-order hazard; cum_frac is a single exact-int division per
    row. Scale shape: explode -> map-side-combined token count (ONE
    data-sized shuffle, O(vocab) rows out), a DISTRIBUTED top-k via
    orderBy().limit() (TakeOrderedAndProject — per-partition heaps, never a
    single-partition window over the 10^8-term vocab), then rank/cum
    windows over just the k surviving rows plus a single-row corpus total
    broadcast back.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n_occurrences"))
    total = counts.agg(F.sum("n_occurrences").alias("_total"))
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(top_k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn("_cum", F.sum("n_occurrences").over(cum))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "n_occurrences",
            F.round(F.col("_cum").cast("double") / F.col("_total").cast("double"), 9).alias(
                "cum_frac"
            ),
        )
    )


def rake_keywords(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) per document, fully
    native: candidate phrases are maximal stopword-free token runs,
    word score = degree/frequency within the document, phrase score =
    position-ordered fold-sum of member word scores (one op order, so
    cross-engine ranking is exact), top_k phrases per doc by
    (score desc, phrase asc).

    Plan: one posexplode + one cumulative-sum window assigns run ids,
    then two map-side-combinable aggs (per-run length, per-word
    freq/degree) and one doc-keyed window for the final rank — no UDFs,
    no joins wider than the token table. ``stopwords`` defaults to the
    engine's tiny deterministic English profile (LANG_PROFILES['en']);
    production runs pass a real list.
    """
    from pyspark.sql import Window

    stop = stopwords if stopwords is not None else LANG_PROFILES["en"]
    key = F.col(key_col)
    toks = docs.select(
        key.alias("key"),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    w = Window.partitionBy("key").orderBy("pos")
    toks = toks.withColumn(
        "rid",
        F.sum(F.col("tok").isin(stop).cast("int")).over(w),
    ).where(~F.col("tok").isin(stop))
    plen = toks.groupBy("key", "rid").agg(F.count("*").alias("wlen"))
    ws = (
        toks.join(plen, ["key", "rid"])
        .groupBy("key", "tok")
        .agg(F.count("*").alias("freq"), F.sum("wlen").alias("deg"))
        .withColumn(
            "wscore",
            F.col("deg").cast("double") / F.col("freq").cast("double"),
        )
    )
    phr = (
        toks.join(ws.select("key", "tok", "wscore"), ["key", "tok"])
        .groupBy("key", "rid")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "tok", "wscore"))
            ).alias("arr")
        )
        .select(
            "key",
            F.concat_ws(
                " ", F.transform("arr", lambda x: x.getField("tok"))
            ).alias("phrase"),
            F.aggregate(
                "arr",
                F.lit(0.0),
                lambda acc, x: acc + x.getField("wscore"),
            ).alias("pscore"),
        )
    )
    ded = phr.groupBy("key", "phrase").agg(
        F.count("*").alias("n_occur"), F.min("pscore").alias("score")
    )
    rk = Window.partitionBy("key").orderBy(F.desc("score"), "phrase")
    return (
        ded.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("key").alias(key_col),
            "rank",
            "phrase",
            "n_occur",
            F.round("score", 6).alias("score"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 5,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    token ``n``-grams whose corpus-wide FIRST occurrence (minimum key —
    ingestion order when keys are assigned in crawl order) is this
    document — the 'how much new text does this page add' signal that
    complements duplicate-span coverage (spans.py measures repeats,
    novelty measures firsts).

    Plan: explode to distinct (key, gram) pairs (map-side combined);
    ``n_grams`` is a straight per-key count of that frame, and
    ``n_novel`` per key is the number of grams whose gram-keyed
    ``min(key)`` IS that key — i.e. a count over the (one row per
    distinct gram) first-seen aggregate grouped by its winner. The two
    per-key aggregates (both <= one row per document) meet in one final
    left join — the full gram table is never joined back against the
    first-seen table, which removed the dominant gram-scale shuffle
    join of the previous plan. At 100 TB the gram string is replaced by
    its xxhash64 (8 bytes) exactly as in spans.py — the value-level
    oracle keeps plain strings so every gram is replayable.

    Output: (key, n_grams, n_novel, novelty_rate) over documents with at
    least one n-gram (shorter documents drop, same as spans.py).
    """
    from ..spark.functions import widen_to_parallelism

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
        lambda t: F.length(t) > 0,
    )
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    # widen first: the tokenize + n-gram explode multiplies each doc into
    # hundreds of rows BEFORE the first exchange — from a one-row-group
    # parquet scan that whole stage would run on a single core
    grams = widen_to_parallelism(docs).select(
        F.col(key_col).alias("key"),
        F.explode(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ).alias("gram"),
    ).distinct()
    counts = grams.groupBy("key").agg(F.count("*").alias("n_grams"))
    novel = (
        grams.groupBy("gram")
        .agg(F.min("key").alias("key"))
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    per_doc = counts.join(novel, "key", "left").select(
        "key",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
    )
    return per_doc.select(
        "key",
        "n_grams",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"), 9
        ).alias("novelty_rate"),
    )
