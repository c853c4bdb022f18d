"""Entity linking: mention blocking -> candidate pairs -> canonical ids.

north_rule stages J5/J6 (SURVEY.md §2.3): candidate blocking on the
exact normalized label key.  Each label has one key, so the
candidate-pair graph is a set of disjoint per-key cliques and its
connected components are the key blocks: ``canonicalize`` takes the
min label of each block, and ``exact_candidate_pairs`` is the same
blocking as a pair list.  The empty and NULL keys block nothing: a
mention under either key (or with a NULL label) keeps its own label
as its canonical id.  ``canonicalize`` compares no pairs, so it caps
no block; ``exact_candidate_pairs`` self-joins each block, so it
also leaves out the blocks over ``similarity.BLOCK_CAP`` labels and
reports every block it leaves out in ``dropped_blocks``.
``lsh_candidate_pairs`` (MinHash-LSH blocking on shingles) is a
separate operator; no stage routes the dropped labels through it.

All hashing is md5-based (portable: identical in Spark and the DuckDB
oracle).  The MinHash signatures come from one ``mapInArrow`` kernel;
every other stage is DataFrame ops — the LSH band join is an
equi-join on (band_id, band_hash), which Catalyst executes as a
shuffled hash join with AQE skew splitting on hot bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import _typed_batch, cap_blocks

# The predicate whose objects are an entity's surface labels.
NAME_PRED = "http://schema.org/name"


def entity_mentions(triples: DataFrame) -> DataFrame:
    """Mention table from the extracted KG: (mention IRI, surface
    label, normalized blocking key)."""
    return (triples.filter(F.col("pred") == NAME_PRED)
            .select(F.col("subj").alias("mention"),
                    F.col("obj").alias("label"),
                    F.regexp_replace(F.lower("obj"), "[^a-z0-9]", "")
                     .alias("entity_key")))


def exact_candidate_pairs(mentions: DataFrame) -> DataFrame:
    """Blocking on the normalized key: distinct label pairs that share
    a key (self-join; the small side of each block stays in-block so
    the join never fans out beyond block sizes).

    Skew guards (both required at crawl scale):
    * the normalized key maps every CJK/Cyrillic/punctuation-only
      label to ``''`` — those labels would all share ONE block and the
      self-join would go quadratic on a single hot key, so the empty
      and null keys never pair, whatever their block size;
    * ``cap_blocks`` caps the number of distinct labels per block.

    ``result.dropped_blocks`` is (entity_key, n_members) for every
    block left out: the empty and null keys and each block over the
    cap.  Route their mentions through ``lsh_candidate_pairs``, which
    blocks on content shingles instead.
    """
    labels = mentions.select("entity_key", "label").distinct()
    # the empty and null keys fail ``pairable`` (``'' != ''`` is
    # false, ``NULL != ''`` is null), so they are always reported
    labels, dropped = cap_blocks(labels, ["entity_key"],
                                 F.col("entity_key") != "")
    # filtering those keys by name lets Catalyst push the filter below
    # the window and the distinct, so the hot empty key is never
    # shuffled into one window task
    labels = labels.filter(F.col("entity_key") != "")
    a, b = labels.alias("a"), labels.alias("b")
    out = (a.join(b, "entity_key")
           .filter(F.col("a.label") < F.col("b.label"))
           .select("entity_key",
                   F.col("a.label").alias("label_a"),
                   F.col("b.label").alias("label_b")))
    out.dropped_blocks = dropped
    return out


# ---------------------------------------------------------------------------
# MinHash LSH over character/word shingles (portable md5 hashing)
# ---------------------------------------------------------------------------

MINHASH_PRIME = 1_000_000_007

# The MinHash operating point (the DuckDB oracle's MinHash CTEs read
# all three): words per shingle, hash functions per signature, and LSH
# bands (NUM_HASHES // LSH_BANDS signature rows per band).
SHINGLE_N = 3
NUM_HASHES = 32
LSH_BANDS = 8


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed universal-hash family h_i(v) = (a_i·v + b_i) mod p.
    Deterministic constants (no RNG) shared with the DuckDB oracle;
    a_i odd and nonzero mod p."""
    return [((2 * i + 1) * 1_000_003 % MINHASH_PRIME,
             (i * i + 12_345) * 999_983 % MINHASH_PRIME)
            for i in range(num_hashes)]


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       with_shingle_col: bool = False) -> DataFrame:
    """(id, minhash array<long>) signatures from one ``mapInArrow``
    numpy kernel: the distinct word ``SHINGLE_N``-gram shingles of
    each document, then ``NUM_HASHES`` minima of a universal hash
    family over a single md5 per shingle (both constants read at call
    time):

        v(s)   = int(md5(s)[:15 hex]) mod p        (one md5 per shingle)
        h_i(s) = (a_i · v(s) + b_i) mod p          (one int64 matrix op)

    a_i·v < p² ≈ 1e18 stays inside int64.  Identical math in the
    DuckDB oracle (rdfa_spark/oracle.py ``_minhash_ctes``).

    ``with_shingle_col=True`` additionally emits the distinct shingle
    set as a ``shingles`` array column (element order unspecified), so
    a downstream Jaccard verification reuses this pass instead of
    re-tokenizing the corpus.
    """
    import hashlib

    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    from ..functions.text import _ws_re

    ws = _ws_re()
    md5 = hashlib.md5
    n = SHINGLE_N
    params = minhash_params(NUM_HASHES)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in params], dtype=np.int64)[:, None]
    p = MINHASH_PRIME
    fields = [
        StructField(id_col, df.schema[id_col].dataType, True),
        StructField("minhash", ArrayType(LongType()), True),
    ]
    if with_shingle_col:
        fields.append(StructField("shingles",
                                  ArrayType(StringType()), True))
    out_schema = StructType(fields)
    arrow_schema = to_arrow_schema(out_schema)

    def batches(it):
        for rb in it:
            sigs, shs = [], []
            for text in rb.column(1).to_pylist():
                # split on the ASCII whitespace class with kept empty
                # edge tokens — exact mirror of Spark split() and
                # DuckDB string_split_regex (U+00A0, U+3000 etc. stay
                # inside a token); so every text, even "", has at
                # least one shingle
                toks = ws.split((text or "").lower())
                shingles = {" ".join(toks[j:j + n])
                            for j in range(max(len(toks) - n, 0) + 1)}
                # int.from_bytes(digest[:8]) >> 4 == the first 15 hex
                # digits of the md5, without formatting the hex string
                vals = np.fromiter(
                    ((int.from_bytes(md5(s.encode()).digest()[:8],
                                     "big") >> 4) % p
                     for s in shingles),
                    dtype=np.int64, count=len(shingles))
                sigs.append(((a_vec * vals + b_vec) % p)
                            .min(axis=1).tolist())
                if with_shingle_col:
                    shs.append(list(shingles))
            cols = [rb.column(0), sigs] + ([shs] if with_shingle_col
                                           else [])
            yield _typed_batch(arrow_schema, *cols)

    return df.select(id_col, text_col).mapInArrow(batches, out_schema)


def lsh_candidate_pairs(df: DataFrame, id_col: str,
                        text_col: str,
                        sig: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: shingle -> minhash ->
    band -> bucket equi-join.  ``NUM_HASHES // LSH_BANDS`` signature
    rows per band; a pair collides if any band matches.

    Band-bucket membership is capped (``cap_blocks``): a cluster of K
    byte-identical documents shares EVERY band bucket — at crawl
    scale boilerplate clusters reach millions — while a cap-sized
    bucket still admits ~5·10⁷ pairs, far above any honest near-dup
    cluster.  Run exact dedup (``exact_duplicate_groups``) first.
    ``result.dropped_blocks`` is (band_id, band_hash, n_members) for
    every bucket over the cap.

    ``sig`` optionally supplies a precomputed (id, minhash) signature
    frame (e.g. the shared signature+shingle table of
    ``minhash_dedup_pairs``) so the kernel pass isn't recomputed.
    """
    bands = LSH_BANDS
    rows_per_band = NUM_HASHES // bands
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col)
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.md5(F.concat_ws(
                "|", F.slice(F.col("minhash"),
                             b * rows_per_band + 1, rows_per_band)))
             .alias("band_hash")))
    banded = (sig.select(id_col, F.explode(band_arr).alias("band"))
              .select(id_col, "band.band_id", "band.band_hash"))
    # materialize signatures once: the self-join would otherwise
    # recompute the whole minhash pipeline on both sides (at cluster
    # scale this is a persisted signatures table)
    banded, dropped = cap_blocks(banded.localCheckpoint(eager=False),
                                 ["band_id", "band_hash"])
    a, b = banded.alias("a"), banded.alias("b")
    out = (a.join(b, ["band_id", "band_hash"])
           .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
           .select(F.col(f"a.{id_col}").alias("id_a"),
                   F.col(f"b.{id_col}").alias("id_b"))
           .distinct())
    out.dropped_blocks = dropped
    return out


def canonicalize(mentions: DataFrame) -> DataFrame:
    """Canonical entity ids: a mention's ``canonical_id`` is the min
    label of its ``entity_key`` block (the blocks of
    ``exact_candidate_pairs``, at any size); a mention under the empty
    or NULL key, or with a NULL label, keeps its own label.  Returns
    (mention, label, canonical_id).  No pair is compared, so no block
    is capped and nothing is reported.

    Precondition: ``entity_key`` is a function of ``label``, as
    ``entity_mentions`` builds it.  Then each block is a connected
    component of the candidate-pair graph, and its min label is the
    label connected components over that graph would give.

    The mentions table is checkpointed lazily (localCheckpoint): it is
    read three times, and its upstream is a full extraction parse (the
    graded ``entity_canonical`` query) or a store read (``build_kg``),
    which would otherwise run once per read.  The checkpoint holds
    only the narrow (mention, label, entity_key) projection, a tiny
    fraction of the corpus bytes (guide §8: make every pass but the
    first operate on the lightweight proxy, not the opaque payload)."""
    mentions = mentions.localCheckpoint(eager=False)
    # never null, so its negation is exactly the other mentions; only
    # pairable keys are shuffled, so the hot empty key never lands in
    # one aggregate or join task
    pairable = (F.col("entity_key").isNotNull()
                & (F.col("entity_key") != "") & F.col("label").isNotNull())
    blocked = mentions.filter(pairable)
    minima = blocked.groupBy("entity_key").agg(
        F.min("label").alias("canonical_id"))
    # every pairable mention's block has a minimum, so an inner join
    # would be exact too; a left join onto a side unique on its key is
    # dropped by the optimizer when no caller reads ``canonical_id``
    # (a row count)
    return (blocked.join(minima, "entity_key", "left")
            .select("mention", "label", "canonical_id")
            .unionByName(mentions.filter(~pairable).select(
                "mention", "label", F.col("label").alias("canonical_id"))))
