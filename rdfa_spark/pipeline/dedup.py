"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), MinHash-LSH near-dup with n-gram Jaccard
verification, SimHash — md5/portable hashing throughout.  Exact dedup
and SimHash are Spark built-ins; the MinHash path reuses the Arrow
signature kernel and LSH join of rdfa_spark.pipeline.linking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import cap_blocks
from .linking import lsh_candidate_pairs, minhash_signatures


def exact_duplicate_groups(df: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groups with >1 member.
    Map-side partial agg keeps the shuffle to (hash, count) pairs."""
    return (df.select(F.md5(F.col(text_col)).alias("fingerprint"),
                      F.col(id_col))
            .groupBy("fingerprint")
            .agg(F.count("*").alias("n_dups"),
                 F.min(id_col).alias("keeper"))
            .filter(F.col("n_dups") > 1))


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the smallest id per exact-content group (deterministic)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# Shingle-set Jaccard at or above which a MinHash candidate pair is a
# near-duplicate (the DuckDB oracle reads it too).
JACCARD_THRESHOLD = 0.5


def minhash_dedup_pairs(df: DataFrame, id_col: str,
                        text_col: str) -> DataFrame:
    """Scale path: LSH blocking, then exact n-gram Jaccard verification
    on the candidate pairs only (never all-pairs).  Returns
    (id_a, id_b, jaccard) with jaccard >= ``JACCARD_THRESHOLD``, read
    at call time; the shingles, hashes and bands are ``linking``'s
    ``SHINGLE_N``, ``NUM_HASHES`` and ``LSH_BANDS``.

    One Arrow kernel pass produces both the minhash signatures (for
    the banded LSH join) and the distinct shingle sets (for the
    verification); the combined table is materialized once
    (localCheckpoint — at cluster scale, the persisted signature
    table).  Jaccard is a set computation (array_intersect /
    array_union sizes), so the kernel's shingle order does not matter.
    ``result.dropped_blocks`` is the LSH candidates' bucket-cap
    report (``cap_blocks``).
    """
    sig_sh = minhash_signatures(df, id_col, text_col,
                                with_shingle_col=True) \
        .localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(df, id_col, text_col,
                                sig=sig_sh.select(id_col, "minhash"))
    sh = sig_sh.select(id_col, "shingles")
    pairs = (cands.join(sh.toDF("id_a", "sh_a"), "id_a")
             .join(sh.toDF("id_b", "sh_b"), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = (pairs.select("id_a", "id_b", (inter / union).alias("jaccard"))
           .filter(F.col("jaccard") >= JACCARD_THRESHOLD))
    out.dropped_blocks = cands.dropped_blocks
    return out


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash as a 64-char bit string in ``simhash``:
    per-token md5-derived bit vectors, majority vote per bit.  Pure
    built-ins (no Python in the hot path); the bit-string
    representation is engine-portable (the DuckDB oracle can
    reproduce it with the same md5 math)."""
    toks = F.array_distinct(
        F.split(F.lower(F.col(text_col)), r"\s+"))

    def tok_bits(t):
        # 64 bits from md5: two 8-hex-digit halves -> bin(), lpad
        h = F.md5(t)
        hi = F.lpad(F.bin(F.conv(F.substring(h, 1, 8), 16, 10)
                          .cast("long")), 32, "0")
        lo = F.lpad(F.bin(F.conv(F.substring(h, 9, 8), 16, 10)
                          .cast("long")), 32, "0")
        # split with a lookahead keeps a trailing "" (limit -1);
        # slice to exactly the 64 bit characters
        chars = F.slice(F.split(F.concat(hi, lo), "(?!^)"), 1, 64)
        return F.transform(chars, lambda c: F.when(c == "1", 1)
                           .otherwise(-1))

    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(acc, tok_bits(t),
                                  lambda a, b: a + b))
    bits = F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, "1").otherwise("0")),
        "")
    return df.withColumn("simhash", bits)


# SimHash blocking word width (4 words of the 64-bit signature), and
# the Hamming distance at or below which a pair is a near-duplicate;
# the DuckDB oracle's ``_dedup_simhash_sql`` reads both.
BLOCK_BITS = 16
MAX_HAMMING = 3


def simhash_near_dup_pairs(df: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """SimHash near-dup: block on each 16-bit word of the signature (a
    pair within Hamming distance 3 must agree on at least one of 4
    words — pigeonhole), then keep the candidates within Hamming
    distance ``MAX_HAMMING``, read at call time.  Join is an
    equi-join on (word_id, word) — shuffled hash join with AQE skew
    handling.

    Word-block membership is capped (``cap_blocks``; identical-content
    clusters share every block).  ``result.dropped_blocks`` is
    (word_id, word, n_members) for every block over the cap."""
    sh = simhash64(df, id_col, text_col).select(id_col, "simhash")
    n_words = 64 // BLOCK_BITS
    words = F.expr(
        f"transform(sequence(0, {n_words - 1}), w -> struct("
        f"w as word_id, substring(simhash, w * {BLOCK_BITS} + 1, "
        f"{BLOCK_BITS}) as word))")
    blocked = sh.select(id_col, "simhash",
                        F.explode(words).alias("b")) \
                .select(id_col, "simhash", "b.word_id", "b.word")
    blocked, dropped = cap_blocks(blocked, ["word_id", "word"])
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (a.join(b, ["word_id", "word"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b"))
            .distinct())
    hamming = F.expr("size(filter(zip_with(split(sh_a, '(?!^)'), "
                     "split(sh_b, '(?!^)'), (x, y) -> x <> y), "
                     "d -> d))")
    out = (cand.select("id_a", "id_b", hamming.alias("hamming"))
           .filter(F.col("hamming") <= MAX_HAMMING))
    out.dropped_blocks = dropped
    return out


# The training-corpus filter's operating point (the DuckDB oracle's
# ``filter_corpus_sql`` reads both): minimum quality score (per mille)
# and the language allowlist.
MIN_SCORE_PM = 500
LANGUAGES = ("en", "unknown")


def filter_corpus(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Composed training-corpus filter: quality gate (``q_score_pm``
    at least ``MIN_SCORE_PM``) -> language allowlist (``LANGUAGES``)
    -> exact dedup, as one DataFrame pipeline; both constants are read
    at call time.

    The three stages compose into a single plan: the quality columns
    are pure projections (whole-stage codegen), the language filter
    runs the Arrow lang-ID kernel only on quality survivors (filter
    pushdown ahead of the expensive stage) and appends ``lang_pred``
    to them in the same pass (one scan of ``df``, no join back), and
    exact dedup is the one shuffle, keyed on the md5 fingerprint of
    the survivors only.
    Returns the surviving rows of ``df`` with the quality and
    ``lang_pred`` columns attached.
    """
    from ..functions.text import with_language_id, with_quality_score

    scored = with_quality_score(df, text_col)
    kept = (with_language_id(
        scored.filter(F.col("q_score_pm") >= MIN_SCORE_PM), text_col)
        .filter(F.col("lang_pred").isin(*LANGUAGES)))
    return dedup_exact(kept, id_col, text_col)
