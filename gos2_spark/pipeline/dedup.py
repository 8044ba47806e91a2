"""Deduplication at training-data scale: exact, MinHash-LSH, SimHash, Jaccard.

Design rules for 100-TB inputs:
- shingling/hashing stays NATIVE (xxhash64, transform, aggregate — all
  codegen; strings never cross the Python channel);
- candidate generation is banded LSH: equality joins on (band, band_hash)
  keys — plain hash shuffles, no pairwise blowup outside buckets;
- verification (Jaccard / Hamming) runs only on bucket-collision pairs;
- duplicate-group resolution is iterative min-label propagation (no
  driver-side union-find over billions of edges).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 31-bit Mersenne prime: keeps a*s + b under 2^62 (ANSI-safe int64 math)
_MERSENNE = (1 << 31) - 1


def exact_dedup(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep the smallest key per identical text (md5 grouping).

    Returns (keep_id, dup_count, content_hash).
    """
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(key_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingle_hashes(text_col, n: int = 5):
    """Word n-gram shingles -> array<long> hashes, fully native.

    tokens -> sliding n-grams via transform over an index sequence ->
    xxhash64 of each joined n-gram. Codegen end to end.
    """
    toks = F.split(F.trim(text_col), r"\s+")
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    return F.when(
        count > 0,
        F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n)))),
    ).otherwise(F.array(F.xxhash64(text_col)))


def minhash_signature(shingles_col, num_perm: int = 64, seed: int = 42):
    """num_perm MinHash values via (a*s + b) mod p over the shingle array.

    Single ``aggregate`` traversal carrying an array<num_perm> of running
    minima, updated per shingle with ``zip_with`` against the constant
    (a, b) table — native, no UDF. The (a, b) constants are derived
    deterministically from the seed; the per-permutation arithmetic
    (``pmod(a * pmod(s, p) + b, p)``) is bit-identical to evaluating each
    permutation independently, so signatures match the earlier
    one-``array_min``-per-permutation formulation exactly.

    Why one pass: ``shingles_col`` is usually an inline expression
    (tokenize -> n-gram -> xxhash64). Referencing it once per permutation
    re-evaluates that tokenization num_perm times per row inside
    interpreted higher-order functions (no CSE there) — at 64 perms that
    was ~64x redundant string work, the CPU hot spot of every MinHash
    query. Here the shingle expression appears exactly once.
    """
    import random

    rnd = random.Random(seed)
    pairs = [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_perm)
    ]
    p = F.lit(_MERSENNE)
    consts = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in pairs
    ])
    return F.aggregate(
        shingles_col,
        F.array_repeat(p.cast("long"), num_perm),
        lambda acc, s: F.zip_with(
            acc,
            consts,
            lambda m, c: F.least(
                m, F.pmod(c["a"] * F.pmod(s, p) + c["b"], p)
            ),
        ),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
) -> DataFrame:
    """Near-duplicate candidate pairs (key_a < key_b) via banded MinHash-LSH.

    rows/band = num_perm // bands; two docs collide if any band's row-slice
    hashes equal. Returns (key_a, key_b, est_jaccard) where est_jaccard is
    the fraction of equal signature positions.

    The signature projection is the CPU hot spot (num_perm modmul passes
    over every shingle — ~10^5 ops per kilobyte of text), so it must not
    inherit a narrow scan layout: when the input exposes fewer partitions
    than the cluster has slots (one fat parquet file, a coalesced
    upstream), the text is first redistributed round-robin; already-wide
    inputs skip the exchange (shuffling 100 TB of raw text for no
    parallelism gain would dominate the job).
    """
    from ..spark.functions import widen_to_parallelism

    rows_per_band = num_perm // bands
    narrow = widen_to_parallelism(
        docs.select(F.col(key_col).alias("key"), F.col(text_col).alias("_txt")),
        min_bytes=0,
    )
    sig = narrow.select(
        "key",
        minhash_signature(shingle_hashes(F.col("_txt"), shingle_n), num_perm).alias("sig"),
    )
    banded = sig.select(
        "key",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ":", *[F.element_at("sig", b * rows_per_band + r + 1)
                                   for r in range(rows_per_band)]
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bh"),
    ).select("key", "sig", "bh.band", "bh.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(num_perm)
    )
    return pairs.select("key_a", "key_b", est.alias("est_jaccard"))


def minhash_dedup_groups(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    max_iterations: int = 10,
) -> DataFrame:
    """(key, group_key) assignment: connected components over accepted
    candidate pairs, delegated to ``pipeline.graph.connected_components``
    (neighbor-min + pointer-doubling rounds, O(log diameter) shuffles;
    reliable checkpoint per round when the SparkContext has a checkpoint
    dir, localCheckpoint otherwise — see that docstring for the full
    lineage/durability story)."""
    from gos2_spark.pipeline.graph import connected_components

    pairs = minhash_lsh_candidates(
        docs, key_col, text_col, num_perm, bands, shingle_n
    ).where(F.col("est_jaccard") >= threshold)
    comps = connected_components(
        docs.select(F.col(key_col).alias("key")),
        pairs,
        max_iterations=max_iterations,
    )
    return comps.select("key", F.col("component").alias("group_key"))


def ngram_jaccard(
    docs_a: DataFrame, docs_b: DataFrame | None = None,
    key_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 3, candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification tier).

    If ``candidates`` (key_a, key_b) is None, uses MinHash-LSH to generate
    them first; never computes all-pairs.
    """
    if candidates is None:
        candidates = minhash_lsh_candidates(
            docs_a, key_col, text_col, shingle_n=shingle_n
        ).select("key_a", "key_b")
    sh = docs_a.select(
        F.col(key_col).alias("key"),
        F.array_distinct(shingle_hashes(F.col(text_col), shingle_n)).alias("sh"),
    )
    out = (
        candidates.join(sh.withColumnRenamed("key", "key_a").withColumnRenamed("sh", "sh_a"), "key_a")
        .join(sh.withColumnRenamed("key", "key_b").withColumnRenamed("sh", "sh_b"), "key_b")
        .select(
            "key_a", "key_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return out


# --- SimHash ----------------------------------------------------------------

def simhash(docs: DataFrame, key_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc from token hashes — vectorized pandas UDF.

    Token hashing stays native (xxhash64 array); the bit-vote accumulation
    runs in numpy over the flattened ragged arrays (np.add.reduceat), never
    per-row Python.
    """
    from pyspark.sql.types import LongType

    from ..spark.functions import pandas_udf

    @pandas_udf(LongType())
    def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.uint64)
        lengths = np.array([len(h) for h in hashes], dtype=np.int64)
        if lengths.sum() == 0:
            return pd.Series(out.view(np.int64))
        flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in hashes]).view(np.uint64)
        # bit matrix votes: (total_tokens, 64) of +-1, summed per doc
        bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
        votes = bits * 2 - 1
        offsets = np.zeros(len(hashes), dtype=np.int64)
        np.cumsum(lengths[:-1], out=offsets[1:])
        nonempty = lengths > 0
        sums = np.zeros((len(hashes), 64), dtype=np.int64)
        sums[nonempty] = np.add.reduceat(votes, offsets[nonempty], axis=0)[: nonempty.sum()]
        # note: reduceat with duplicate offsets (empty docs) handled by mask
        sig = (sums > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
        out = sig.sum(axis=1, dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return docs.select(
        F.col(key_col).alias("key"),
        _simhash_from_hashes(hashes).alias("simhash"),
    )


def _simhash_tables(max_hamming: int, n_blocks: int | None) -> list[list[int]]:
    """Band layout for the multi-table SimHash scheme (Manku et al.,
    "Detecting Near-Duplicates for Web Crawling", WWW'07): split the 64
    bits into ``n_blocks`` blocks; if two signatures differ in at most
    ``max_hamming`` bits then at least ``n_blocks - max_hamming`` blocks
    are identical, so keying one table per (n_blocks - max_hamming)-block
    combination catches every qualifying pair. Wider combined keys =
    exponentially smaller buckets than single-chunk banding (the old 4 x
    16-bit scheme caps at 65,536 buckets per band — quadratic per-bucket
    self-joins at web scale).

    Returns the list of block-index combinations (one per table)."""
    import itertools

    k = max_hamming
    if n_blocks is None:
        # 6 blocks for the standard k<=3 -> C(6,3)=20 tables with ~32-bit
        # keys; degrade gracefully for looser thresholds (fewer key bits,
        # the bucket cap then bounds the damage)
        n_blocks = 6 if k <= 3 else min(k + 2, 16) if k <= 14 else k + 1
    if n_blocks <= k:
        n_blocks = k + 1
    keep = n_blocks - k
    return [list(c) for c in itertools.combinations(range(n_blocks), keep)]


def simhash_candidates(
    docs: DataFrame, key_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, n_blocks: int | None = None,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash, multi-table banded (see
    ``_simhash_tables``): any-table key equality catches all pairs with
    Hamming distance <= ``max_hamming``; collisions verify exact Hamming
    via bit_count. Returns (key_a, key_b, hamming).

    ``bucket_cap`` bounds the quadratic per-bucket self-join: buckets
    holding more than ``bucket_cap`` rows (i.e. > cap near-identical
    documents sharing ~32 signature bits) are dropped from the candidate
    join and logged — candidate count stays O(n_tables * rows * cap)
    regardless of skew. Over-full buckets are by construction clusters of
    near-identical documents; route those through exact dedup
    (``dedup_exact``) or a per-cluster representative instead of pair
    enumeration. ``bucket_cap=None`` disables the cap."""
    tables = _simhash_tables(max_hamming, n_blocks)
    nb = max(max(c) for c in tables) + 1
    base, rem = divmod(64, nb)
    widths = [base + 1 if i < rem else base for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]

    def table_key(combo: list[int]):
        """Concatenate the combo's block values into one BIGINT key."""
        expr = F.lit(0).cast("long")
        shift = 0
        for bi in combo:
            block = F.shiftright("simhash", offsets[bi]).bitwiseAND(
                F.lit((1 << widths[bi]) - 1)
            )
            expr = expr.bitwiseOR(F.shiftleft(block, shift))
            shift += widths[bi]
        return expr

    sh = simhash(docs, key_col, text_col)
    keys = sh.select(
        "key", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("tbl"), table_key(c).alias("tbl_key")
            )
            for t, c in enumerate(tables)
        ])).alias("kv"),
    ).select("key", "simhash", "kv.tbl", "kv.tbl_key")

    if bucket_cap is not None:
        over = (
            keys.groupBy("tbl", "tbl_key")
            .agg(F.count("*").alias("_bsz"))
            .where(F.col("_bsz") > bucket_cap)
        )
        stats = over.agg(
            F.count("*").alias("n"), F.max("_bsz").alias("mx")
        ).collect()[0]
        if stats["n"]:
            import logging

            logging.getLogger(__name__).warning(
                "simhash_candidates: dropped %d over-full buckets "
                "(cap=%d, largest=%d rows) from the candidate join; "
                "their members are near-identical clusters — handle via "
                "exact dedup.", stats["n"], bucket_cap, stats["mx"],
            )
            keys = keys.join(
                F.broadcast(over.select("tbl", "tbl_key")),
                ["tbl", "tbl_key"], "left_anti",
            )

    a, b = keys.alias("a"), keys.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.tbl_key") == F.col("b.tbl_key"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.select("key_a", "key_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def line_dedup(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
    min_line_chars: int = 1,
) -> DataFrame:
    """CCNet-style line-level dedup: drop every line whose normalized form
    appears in more than ``max_occurrences`` documents corpus-wide
    (boilerplate nav bars, cookie banners, footers), then reassemble each
    document from its surviving lines in original order.

    Returns (key, text, n_lines, n_kept) with text rebuilt from kept lines —
    one row per INPUT document: a doc whose every line is dropped (all
    under ``min_line_chars``, or all over-quota) comes back as
    (key, '', n_lines, 0) rather than vanishing. ``n_lines`` counts the
    lines that entered dedup, i.e. excludes sub-``min_line_chars`` lines.

    Scale shape: explode lines -> count per line-hash (map-side combine: the
    shuffle carries one row per DISTINCT line per task, not per occurrence)
    -> the over-quota hash set is joined back. That join is keyed by the
    line hash, NOT broadcast, because at 10^12 pages the distinct-dup-line
    set is itself huge; Spark sorts both sides on the same hash so the
    reassembly groupBy(key) is the only page-keyed shuffle.
    """
    lines = (
        docs.select(
            F.col(key_col).alias("key"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .where(F.length(F.trim(F.col("line"))) >= min_line_chars)
        .withColumn("line_hash", F.xxhash64(F.trim(F.col("line"))))
    )
    # count DISTINCT docs per line (a line repeated inside one doc is not
    # corpus boilerplate), partial-agg friendly via two-level groupBy
    line_docs = lines.select("line_hash", "key").distinct()
    over_quota = (
        line_docs.groupBy("line_hash")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > max_occurrences)
        .select("line_hash")
    )
    # LEFT join (not anti) so dropped lines still reach the per-doc
    # aggregation as a flag: ONE page-keyed shuffle rebuilds the doc AND
    # counts totals, instead of anti-join + a second totals join.
    flagged = lines.join(
        over_quota.withColumn("_dup", F.lit(True)), "line_hash", "left"
    )
    keep = F.col("_dup").isNull()
    rebuilt = flagged.groupBy("key").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line"), keep.alias("keep")))
                    ),
                    lambda s: s["keep"],
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count("*").alias("n_lines"),
        F.sum(keep.cast("long")).alias("n_kept"),
    )
    # docs with ZERO qualifying lines never reach the explode — left-join
    # the aggregate back so every input doc yields a row (empty rebuild).
    # The join key is the doc key on both sides, so Catalyst co-partitions
    # it with the groupBy above: no extra exchange on the big side.
    return docs.select(F.col(key_col).alias("key")).join(
        rebuilt, "key", "left"
    ).select(
        "key",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


def jaccard_join(
    docs: DataFrame,
    threshold: float,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs whose distinct-
    token Jaccard >= ``threshold`` — (key_a, key_b, inter, union, jaccard).
    The exact complement to the MinHash/SimHash approximate paths above:
    use those to dedup at corpus scale, this to verify/calibrate them or
    to run moderate-cardinality joins with zero false negatives/positives.

    Scale shape (PPJoin-style prefix filtering, Xiao et al. WWW'08):
    a pair with Jaccard >= t must share at least one token among each
    doc's first ``L - ceil(t*L) + 1`` tokens under a GLOBAL token order.
    We order by (document frequency asc, token) — rare-first, so prefix
    buckets are the SMALLEST buckets — and crucially need no global rank
    materialization: ordering happens inside a per-document window, and
    candidate generation is an equi-join on the prefix token. Verification
    is one (pair, token) join + exact integer |A∩B| / |A∪B|. Every stage
    is a keyed shuffle; nothing is all-pairs.

    The (key, token) frame feeds five plan branches (sizes, document
    frequencies, the ordered prefix window, and both verification
    sides); without materialization each branch re-runs the regex
    tokenize + explode over the raw text. It is checkpointed eagerly
    once — tokenize once, read five times (the knn_join_df precedent;
    blocks are freed by the ContextCleaner when the caller drops the
    result). At deployment scale this is the 'write the token table
    once' step of any staged dedup pipeline.
    """
    from pyspark.sql import Window

    from .graph import _default_materialize

    # NOT widened: measured at the 50k-doc scale the post-tokenize
    # aggregations dominate and the extra exchange cost ~0.75s for no
    # parallel gain (unlike containment_join, whose window + multi-join
    # consumers inherit the checkpoint layout and need the width)
    mat = _default_materialize(docs.sparkSession)
    toks = mat(docs.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
                    lambda t: F.length(t) > 0,
                )
            )
        ).alias("token"),
    ))
    sizes = toks.groupBy("key").agg(F.count("*").alias("sz"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    ordered = toks.join(dfreq, "token").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("key").orderBy("df", "token")
        ),
    )
    with_sz = ordered.join(sizes, "key")
    prefix = with_sz.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("key", "token")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .where(F.col("a.key") < F.col("b.key"))
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .distinct()
    )
    ta = toks.select(F.col("key").alias("key_a"), "token")
    tb = toks.select(F.col("key").alias("key_b"), "token")
    inter = (
        cand.join(ta, "key_a")
        .join(tb, ["key_b", "token"])
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("key").alias("key_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("key").alias("key_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "key_a")
        .join(sb, "key_b")
        .select(
            "key_a",
            "key_b",
            "inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).alias("union"),
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def edit_distance_pairs(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    title_len: int = 12,
    prefix_len: int = 2,
    max_dist: int = 4,
    bucket_cap: int | None = 5000,
) -> DataFrame:
    """Levenshtein similarity self-join over a normalized title prefix:
    pairs (key_a, key_b, edit_dist) with edit_dist <= ``max_dist`` on
    ``lower(substring(text, 1, title_len))``.

    Blocking makes the join scale: candidates share the first
    ``prefix_len`` characters AND differ in title length by at most
    ``max_dist`` (a true Levenshtein lower bound, so the length predicate
    loses nothing). The distance itself runs JVM-side via the
    threshold-banded ``levenshtein(l, r, max_dist)`` (Ukkonen band, cost
    O(len * max_dist) instead of O(len^2), returns -1 past the bound so
    over-distance candidates exit without completing the DP).
    Prefix blocking intentionally trades recall for scale on edits inside
    the first ``prefix_len`` chars — the standard title-dedup contract;
    compose with :func:`simhash_candidates` when full-text recall
    matters. ``bucket_cap`` drops degenerate blocks (> cap rows sharing a
    prefix, i.e. boilerplate titles) from the quadratic join, same
    contract as ``simhash_candidates``; cap=None disables.

    Caveat: Spark's levenshtein counts Unicode code points while DuckDB's
    counts bytes — identical on ASCII titles, so normalize non-ASCII out
    before comparing engines.

    The DP runs over DISTINCT titles, not documents: titles repeat
    heavily in a crawl corpus (4x at the 50k-doc scale measured), so the
    quadratic blocked join shrinks by the square of the duplication
    factor (measured 41.7M doc-pair -> 3.5M title-pair DP evaluations);
    doc keys are re-attached to the surviving title pairs by two
    broadcast joins afterwards. Equal-title pairs (distance 0 by
    definition) come from a separate title-equality self-join and never
    enter the DP at all. The output pair set is identical: a doc pair
    (a, b) with a < b maps to exactly one unordered title pair (its two
    titles, or the shared title when equal), and the distance is a
    function of the titles alone.
    """
    from ..spark.functions import widen_to_parallelism
    from .graph import _broadcast_bounded, _truncate

    # one checkpoint, materialized by its row count: the narrow (key,
    # title, blk) frame feeds the over-full-block scan, its anti-join, the
    # distinct-title build and the key-expansion sides — scan the corpus
    # once (see jaccard_join's note). Widen first: a single-row-group
    # parquet scan arrives as ONE partition, which would pin every
    # downstream probe to one core.
    t = docs.select(
        F.col(key_col).alias("key"),
        F.lower(F.substring(text_col, 1, title_len)).alias("title"),
    ).withColumn("blk", F.substring("title", 1, prefix_len))
    t = _truncate(widen_to_parallelism(t, min_bytes=0))
    # every broadcast side below has at most this many rows
    n_t = t.count()
    if bucket_cap is not None:
        over = (
            t.groupBy("blk")
            .agg(F.count("*").alias("_bsz"))
            .where(F.col("_bsz") > bucket_cap)
        )
        n_over = over.limit(1).count()
        if n_over:
            import logging

            logging.getLogger(__name__).warning(
                "edit_distance_pairs: dropping over-full prefix blocks "
                "(cap=%d) from the candidate join; boilerplate titles "
                "belong in exact dedup.", bucket_cap,
            )
            t = t.join(F.broadcast(over.select("blk")), "blk", "left_anti")
    # distinct titles per block: the DP side (bounded by the title
    # vocabulary)
    d = t.select("blk", "title").distinct()
    da, db = d.alias("da"), d.alias("db")
    dist = F.levenshtein(F.col("da.title"), F.col("db.title"), max_dist)
    tp = (
        da.join(
            _broadcast_bounded(db, n_t),
            (F.col("da.blk") == F.col("db.blk"))
            & (F.col("da.title") < F.col("db.title"))
            & (
                F.abs(F.length("da.title") - F.length("db.title"))
                <= F.lit(max_dist)
            ),
        )
        .select(
            F.col("da.title").alias("_ta"),
            F.col("db.title").alias("_tb"),
            dist.alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )
    # key expansion: every (doc of title_a) x (doc of title_b), ordered
    ka = t.select(F.col("title").alias("_ta"), F.col("key").alias("_ka"))
    kb = t.select(F.col("title").alias("_tb"), F.col("key").alias("_kb"))
    cross = (
        tp.join(_broadcast_bounded(ka, n_t), "_ta")
        .join(_broadcast_bounded(kb, n_t), "_tb")
        .select(
            F.least("_ka", "_kb").alias("key_a"),
            F.greatest("_ka", "_kb").alias("key_b"),
            "edit_dist",
        )
    )
    # equal-title doc pairs: distance 0 by definition, no DP needed
    within = (
        t.alias("x")
        .join(
            _broadcast_bounded(t.select("title", "key").alias("y"), n_t),
            (F.col("x.title") == F.col("y.title"))
            & (F.col("x.key") < F.col("y.key")),
        )
        .select(
            F.col("x.key").alias("key_a"),
            F.col("y.key").alias("key_b"),
            F.lit(0).cast("int").alias("edit_dist"),
        )
    )
    return cross.union(within)


def cosine_tf_join(
    docs: DataFrame,
    threshold: float,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT TF-weighted cosine self-join: all document pairs with
    cos(tf_a, tf_b) >= ``threshold`` — (key_a, key_b, dot, cosine).

    Determinism: term frequencies and the pair dot product are exact
    BIGINT aggregations (order-independent); norms and the final cosine
    are fixed-order float functions of those ints, so the value is
    reproducible across engines (the DuckDB oracle replays it).

    Scale shape: one (key, token) TF table, candidate pairs via the
    inverted-index equi-join on the token (never all-pairs — only pairs
    sharing a token meet, and the dot product aggregates map-side), then
    one join against the per-doc norms. Cosine has no Jaccard-style exact
    prefix bound over raw TFs, so at corpus scale this exact join is for
    COHORTS (calibration, within-cluster verification); the corpus-scale
    near-dup path is the banded embedding/MinHash family above.
    """
    # one eager checkpoint: the TF table feeds three branches (norms and
    # both join sides) — tokenize + aggregate once (see jaccard_join;
    # same measured no-widen decision)
    tf = docs.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("tok"),
    ).groupBy("key", "tok").agg(F.count("*").alias("tf"))
    from .graph import _default_materialize

    tf = _default_materialize(docs.sparkSession)(tf)
    norms = tf.groupBy("key").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("norm")
    )
    a = tf.select(
        F.col("key").alias("key_a"), F.col("tok"), F.col("tf").alias("tf_a")
    )
    b = tf.select(
        F.col("key").alias("key_b"), F.col("tok"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "tok")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("key").alias("key_a"), F.col("norm").alias("_na"))
    nb = norms.select(F.col("key").alias("key_b"), F.col("norm").alias("_nb"))
    return (
        dots.join(na, "key_a")
        .join(nb, "key_b")
        .withColumn(
            "cosine", F.col("dot").cast("double") / (F.col("_na") * F.col("_nb"))
        )
        .where(F.col("cosine") >= threshold)
        .select("key_a", "key_b", "dot", "cosine")
    )


def containment_join(
    docs: DataFrame,
    threshold: float,
    key_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int | None = None,
) -> DataFrame:
    """EXACT asymmetric containment join: all DIRECTED pairs (a, b),
    a != b, with |tokens(a) & tokens(b)| / |tokens(a)| >= ``threshold``
    — 'how much of A is inside B', the doc-in-doc / quote / boilerplate
    detector that Jaccard misses when B is much larger than A (resemblance
    dilutes, containment doesn't; Broder's two-sided shingle framing).

    Prefix filtering on the PROBE side only (the containment adaptation
    of the PPJoin rule): if C(a, b) >= t then a shares at least
    ceil(t*|a|) tokens with b, so at least one of a's first
    |a| - ceil(t*|a|) + 1 tokens under the GLOBAL rare-first order
    appears in b — candidates are a-prefix tokens equi-joined against
    ALL of b's tokens, never all-pairs. Zero false negatives (the oracle
    certifies against the unfiltered join); verification is one
    (pair, token) join + exact integer counts.

    With ``shingle_k`` set, the unit of containment is the distinct
    k-token shingle (Broder's framing) instead of the unigram — far more
    discriminative on small vocabularies, and the form substring-reuse
    detection actually wants.

    Output: (key_a, key_b, inter, sz_a, containment) — key_a is the
    contained (query) side.
    """
    from pyspark.sql import Window

    from ..spark.functions import widen_to_parallelism

    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
        lambda t: F.length(t) > 0,
    )
    if shingle_k:
        k = int(shingle_k)
        arr = F.transform(
            F.sequence(F.lit(1), F.size(arr) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(arr, i, k)),
        )
    # one eager checkpoint: the shingle build (regex split + k-token
    # concat per position) feeds five plan branches — tokenize once,
    # read five times (see jaccard_join's note). Widened first: a
    # one-row-group scan would otherwise tokenize AND checkpoint on one
    # core, and the checkpoint preserves that single partition for every
    # downstream branch.
    from .graph import _default_materialize

    toks = _default_materialize(docs.sparkSession)(
        widen_to_parallelism(docs).select(
            F.col(key_col).alias("key"),
            F.explode(F.array_distinct(arr)).alias("token"),
        )
    )
    sizes = toks.groupBy("key").agg(F.count("*").alias("sz"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    ordered = toks.join(dfreq, "token").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("key").orderBy("df", "token")
        ),
    )
    with_sz = ordered.join(sizes, "key")
    prefix = with_sz.where(
        F.col("pos")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("key", "token")
    tb = toks.select(F.col("key").alias("key_b"), "token")
    cand = (
        prefix.alias("a")
        .join(tb, "token")
        .where(F.col("a.key") != F.col("key_b"))
        .select(F.col("a.key").alias("key_a"), "key_b")
        .distinct()
    )
    ta = toks.select(F.col("key").alias("key_a"), "token")
    inter = (
        cand.join(ta, "key_a")
        .join(tb, ["key_b", "token"])
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("key").alias("key_a"), F.col("sz").alias("sz_a"))
    out = inter.join(sa, "key_a").select(
        "key_a",
        "key_b",
        "inter",
        "sz_a",
        F.round(
            F.col("inter").cast("double") / F.col("sz_a").cast("double"), 9
        ).alias("containment"),
    )
    return out.where(
        F.col("inter").cast("double")
        >= F.lit(float(threshold)) * F.col("sz_a").cast("double")
    )
