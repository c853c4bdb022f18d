"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Queries pair the Spark-first implementation (rdfa_spark package) with
an ANSI-SQL oracle; extraction queries are checkable in SQL because
pages are rendered deterministically from the documents table
(rdfa_spark/pages.py + rdfa_spark/oracle.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rdfa_spark import oracle  # noqa: E402
from rdfa_spark.extract import (extract_errors,  # noqa: E402
                                extract_text_df, extract_triples,
                                opengraph, opengraph_collect)
from rdfa_spark.functions.similarity import cosine_topk  # noqa: E402
from rdfa_spark.functions.text import (with_fingerprint,  # noqa: E402
                                       with_language_id,
                                       with_quality_score,
                                       with_token_count)
from rdfa_spark.pages import load_pages  # noqa: E402
from rdfa_spark.pipeline.cc import connected_components  # noqa: E402
from rdfa_spark.pipeline.dedup import (  # noqa: E402
    exact_duplicate_groups)
from rdfa_spark.pipeline.linking import (canonicalize,  # noqa: E402
                                         entity_mentions,
                                         lsh_candidate_pairs,
                                         minhash_signatures)

_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship rdfa_spark to the executors (addPyFile) so the extraction
    UDFs import it regardless of the driver's cwd/sys.path — the
    driver may build the SparkSession anywhere."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    from scripts.make_pyfiles import main as make_zip
    try:
        spark.sparkContext.addPyFile(make_zip())
    except Exception:
        pass  # already added in this context (e.g. spark-submit)
    _SHIPPED.add(key)


def _wrap(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)
    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single small parquet file = one input split; compute-heavy
    # operators (minhash, simhash) need explicit spread
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(spark.sparkContext.defaultParallelism * 2))


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_triples(load_pages(spark, sf_dir))


def q_rdfa_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG extraction: the headline operator (SURVEY.md §2.2)."""
    return _triples(spark, sf_dir).select(
        "url", "subj", "pred", "obj", "obj_is_literal",
        "obj_datatype", "obj_lang")


def q_rdfa_triples_stream(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """§2.8 incremental crawl extraction as a GRADED query: the same
    zero-shuffle scan -> mapInArrow chain run as a Structured
    Streaming job (file source, availableNow, multiple micro-batches),
    checked against the SAME DuckDB oracle as the batch
    ``rdfa_triples`` query — batch/stream parity is the oracle.
    Extraction is stateless per url, so ``extract_triples`` runs on
    the streaming frame unchanged and exactly-once comes from the
    sink commit log + deterministic per-url output (reference is
    batch-only, Parser.pm:489-544).  Each micro-batch is WIDE: a
    file-source micro-batch's task parallelism equals its file count,
    so one file per trigger would serialize extraction into
    single-task batches — here (and in a real incremental deployment)
    ``maxFilesPerTrigger`` is sized to the executor-core count."""
    import os
    import shutil
    import tempfile
    import time as _time

    pages = load_pages(spark, sf_dir).select("url", "html")
    src = tempfile.mkdtemp(prefix="extract_stream_")
    # files-per-trigger = tasks-per-batch, so width is sized to the
    # session's cores; the pages table is already spread across
    # 2x-parallelism partitions by load_pages, so writing it as-is
    # yields full-width micro-batches with NO extra repartition
    # shuffle (r7: the old repartition(3*width) paid a second
    # exchange of every html blob just to force a third trigger)
    width = max(1, min(spark.sparkContext.defaultParallelism, 32))
    pages.write.mode("overwrite").parquet(src)
    name = (f"extract_stream_{os.getpid()}_"
            f"{int(_time.time() * 1000) % 10**9}")
    stream = (spark.readStream.schema("url string, html binary")
              .option("maxFilesPerTrigger", width).parquet(src))
    q = (extract_triples(stream)
         .writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    try:
        # availableNow terminates on its own; a False return means
        # the host stalled past the budget — grading a mid-stream
        # memory table would be nondeterministic, so fail loudly
        if not q.awaitTermination(300):
            raise RuntimeError(
                "extract_stream did not drain within 300s")
    finally:
        q.stop()                            # no-op if terminated
        shutil.rmtree(src, ignore_errors=True)
    return spark.table(name).select(        # memory sink holds
        "url", "subj", "pred", "obj", "obj_is_literal",  # results
        "obj_datatype", "obj_lang")


def q_rdfa_og_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 opengraph query (Parser.pm:259-328)."""
    return opengraph(_triples(spark, sf_dir), "title")


def q_rdfa_pred_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 aggregation over the triple table."""
    return (_triples(spark, sf_dir)
            .groupBy("pred").agg(F.count("*").alias("n_triples")))


def q_rdfa_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 byte-identical text extraction per url."""
    return extract_text_df(load_pages(spark, sf_dir)).select(
        "url", "text")


def q_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 model sink as a GRADED query: the KG pipeline's own store
    (``ResumableExtraction``, one batch) written and read back, checked
    against the SAME triples oracle — the persistence layer must be
    lossless (types, NULLs, unicode) and the oracle proves it end-to-end."""
    import shutil
    import tempfile

    from rdfa_spark.pipeline.materialize import ResumableExtraction

    out = tempfile.mkdtemp(prefix="model_sink_")
    run = ResumableExtraction(spark, out, n_batches=1)
    run.run(load_pages(spark, sf_dir))
    back = run.triples().select(
        "url", "subj", "pred", "obj", "obj_is_literal",
        "obj_datatype", "obj_lang").localCheckpoint(eager=True)
    shutil.rmtree(out, ignore_errors=True)  # rows live in the
    return back                             # checkpoint now


def q_entity_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-linking stage 1: mention table with normalized keys."""
    return entity_mentions(_triples(spark, sf_dir))


def q_rdfa_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/A6 processor-graph error rollup (Parser.pm:469-487)."""
    errs = extract_errors(load_pages(spark, sf_dir))
    return (errs.groupBy("level", "code")
            .agg(F.count("*").alias("n")))


def q_og_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 opengraph collect (Parser.pm:282-319)."""
    return opengraph_collect(_triples(spark, sf_dir))


def q_entity_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_rule canonicalization: each mention's canonical id is the
    min label of its exact-key block (rdfa_spark/pipeline/linking.py)."""
    mentions = entity_mentions(_triples(spark, sf_dir))
    return canonicalize(mentions)


def q_cc_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 connected components (large-star/small-star) on the
    deterministic chain graph over doc_ids."""
    docs = _documents(spark, sf_dir)
    edges = (docs.filter(F.col("doc_id") % 10 != 0)
             .select(F.col("doc_id").cast("string").alias("src"),
                     (F.col("doc_id") - 1).cast("string").alias("dst")))
    return connected_components(edges)


def q_cc_hot_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 with EXPLICIT skew salting (connected_components_salted,
    cc.py): four hot hubs 'h0'..'h3', one per doc_id%4 class,
    spoke-connected to every doc in the class — hub degree N/4 far
    exceeds max_degree=64, so each hub is split into 8 salted
    replicas (rewired by the other endpoint's hash, chained back)
    before the star rounds; replicas are stripped from the
    labeling.  Intra-class chain edges mix cold
    edges into the same run.  Components are exactly the residue
    classes (oracle: groupBy-min over doc_id%4)."""
    from rdfa_spark.pipeline.cc import connected_components_salted
    docs = _documents(spark, sf_dir).select("doc_id")
    spokes = docs.select(
        F.concat(F.lit("h"),
                 (F.col("doc_id") % 4).cast("string")).alias("src"),
        F.col("doc_id").cast("string").alias("dst"))
    chains = (docs.filter(F.col("doc_id") % 40 >= 4)
              .select(F.col("doc_id").cast("string").alias("src"),
                      (F.col("doc_id") - 4).cast("string")
                      .alias("dst")))
    return connected_components_salted(spokes.union(chains),
                                       max_degree=64, n_salts=8)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_token_count(_documents(spark, sf_dir), "text")
    return d.select("doc_id",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.length("text").cast("bigint").alias("n_chars"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_fingerprint(_documents(spark, sf_dir), "text") \
        .select("doc_id", "fingerprint")


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language-ID (Cavnar-Trenkle profiles; handles
    zh/ja/ko): the numpy kernel of `with_language_id` over
    mapInArrow, mirrored by the profile table in
    oracle.langid_sql()."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return with_language_id(docs).select("doc_id", "lang_pred")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_quality_score(_documents(spark, sf_dir), "text") \
        .select("doc_id", "q_n_chars", "q_n_tokens",
                "q_mean_token_len_pm", "q_stopword_pm", "q_alpha_pm")


def q_filter_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-corpus filter (quality gate -> language
    allowlist -> exact dedup) as ONE fused plan — the pipeline a
    100 TB pretraining run actually executes, end-to-end
    DuckDB-mirrored (oracle.filter_corpus_sql)."""
    from rdfa_spark.pipeline.dedup import filter_corpus
    kept = filter_corpus(_documents(spark, sf_dir), "doc_id", "text")
    return kept.select("doc_id", "lang_pred",
                       F.col("q_score_pm").cast("bigint")
                        .alias("q_score_pm"))


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived dedup corpus: originals + exact/perturbed copies
    (mirrored in oracle.DUP_CORPUS_CTE)."""
    docs = _documents(spark, sf_dir)
    orig = docs.select(F.col("doc_id").alias("id"), "text")
    copy = docs.select(
        (F.col("doc_id") + 100000).alias("id"),
        F.when(F.col("doc_id") % 5 == 0, F.col("text"))
         .otherwise(F.concat(F.col("text"), F.lit(" extra")))
         .alias("text"))
    return orig.unionByName(copy)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicate_groups(_dup_corpus(spark, sf_dir),
                                  "id", "text")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup end-to-end: 64-bit signatures, pigeonhole
    16-bit word blocking, Hamming verify on candidates only —
    mirrored by oracle._dedup_simhash_sql."""
    from rdfa_spark.pipeline.dedup import simhash_near_dup_pairs
    pairs = simhash_near_dup_pairs(_dup_corpus(spark, sf_dir), "id", "text")
    return pairs.select("id_a", "id_b",
                        F.col("hamming").cast("bigint")
                         .alias("hamming"))


def q_bgp_article(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive BGP over the extracted KG (rdfa_spark.query.bgp):
    three triple patterns, two subjects joined through the shared ?o
    variable; constant terms push down into the triple scan —
    mirrored by oracle.BGP_ARTICLE_SQL."""
    from rdfa_spark.oracle import DC, RDF, SCHEMA
    from rdfa_spark.query import bgp
    # three triple patterns scan the triple table independently;
    # materialize the extraction once (localCheckpoint) so the parse
    # pass runs 1x, not once per pattern — at corpus scale the BGP
    # engine reads a persisted triple store for the same reason
    t = _triples(spark, sf_dir).localCheckpoint(eager=False)
    out = bgp(t, [("?m", RDF + "type", SCHEMA + "Article"),
                  ("?m", DC + "relation", "?o"),
                  ("?o", DC + "title", "?title")])
    return out.select("m", "o", "title")


def q_nt_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 serialization sink as a graded query: N-Triples lines from
    the extracted KG, pure column expressions (whole-stage codegen) —
    mirrored by oracle.NT_LINES_SQL with the identical escaping
    chain."""
    from rdfa_spark.sinks import ntriples_lines
    return ntriples_lines(_triples(spark, sf_dir))


def q_ttl_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 Turtle sink as a graded query: prefix-compressed triple
    lines (longest-prefix pname match, conservative PN_LOCAL gate) —
    mirrored by oracle.turtle_lines_sql() generated from the SAME
    DEFAULT_PREFIXES table."""
    from rdfa_spark.sinks import turtle_lines
    return turtle_lines(_triples(spark, sf_dir))


def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer token counts (lookahead-free GPT-2-style
    regex, JVM-side regexp_extract_all) — mirrored by
    oracle.TOKEN_BPE_SQL with the identical pattern."""
    from rdfa_spark.functions.text import with_bpe_token_count
    return with_bpe_token_count(_documents(spark, sf_dir), "text") \
        .select("doc_id", F.col("n_bpe_tokens").cast("bigint")
                .alias("n_bpe_tokens"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup pipeline: minhash -> banded LSH candidates
    -> exact 3-gram Jaccard verification on candidates only (never
    all-pairs); mirrored end-to-end by oracle._dedup_minhash_sql."""
    from rdfa_spark.pipeline.dedup import minhash_dedup_pairs
    pairs = minhash_dedup_pairs(_dup_corpus(spark, sf_dir), "id", "text")
    return pairs.select(
        "id_a", "id_b",
        F.floor(F.col("jaccard") * 1000).cast("bigint")
         .alias("jaccard_pm"))


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(_documents(spark, sf_dir), "doc_id", "text")
    return sig.select(
        "doc_id",
        F.md5(F.concat_ws("|", "minhash")).alias("signature"))


def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_candidate_pairs(_documents(spark, sf_dir), "doc_id", "text")
    return pairs.select(F.col("id_a"), F.col("id_b"))


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function sessionization over the events stream table
    (30-minute inactivity gap)."""
    from pyspark.sql import Window
    # ts is TIMESTAMP_NTZ; epoch seconds must be tz-independent to
    # match DuckDB's epoch(), so pin the session tz for the NTZ->LTZ
    # cast regardless of how the caller built the session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp_ltz").cast("long").alias("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(F.lag("sec").over(w).isNull()
               | ((F.col("sec") - F.lag("sec").over(w)) > 1800),
               F.lit(1)).otherwise(F.lit(0)))
    sess = gaps.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("sec").alias("start_sec"),
                 F.max("sec").alias("end_sec"))
            .select("user_id",
                    F.col("session_id").cast("bigint")
                     .alias("session_id"),
                    "n_events", "start_sec", "end_sec"))


def q_event_sessions_stream(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """§2.8 stateful streaming as a GRADED query: the
    applyInPandasWithState sessionizer replayed over the bounded
    events table via Structured Streaming (availableNow: one data
    micro-batch, then the timeout-only batch that closes every open
    session — see the layout note below), checked against the SAME DuckDB
    oracle as the batch window-function query — batch/stream parity
    is the oracle.  Sentinel far-future events (user_id -1) advance
    the watermark so every open session closes via event-time
    timeout; they are filtered from the result.

    The stateful shuffle width is set to 16 for the stream (and
    restored after): each micro-batch pays state-store open/commit
    per shuffle partition, so a stateful query's parallelism should
    be sized to its active-key state volume, not inherited from the
    relational default — at 64 partitions the same replay measures
    ~2x the wall with identical output (state here is O(active
    users), a few thousand keys; r7 A/B at sf0.1 on the one-data-
    batch layout: 16 -> 2.1-3.8 s, 32 -> 2.4-2.9 s, 64 -> 3.8-4.1 s).

    r7 layout (measured 16-25 s -> 2-4 s at sf0.1, output
    hash-identical): the watermark-pusher files are one-row parquets
    written driver-side (no Spark job each), trigger order is pinned
    by explicit strictly-increasing mtimes (os.utime) instead of
    1.05 s sleeps, and ``maxFilesPerTrigger`` is dropped so the
    replay is ONE data micro-batch — events and the far-future
    sentinels land together (the sentinel is its own group key, so
    other users' state folds identically), the post-batch watermark
    jumps past every session's (end + gap), and Spark's stateful
    shouldRunAnotherBatch schedules the final timeout-only batch
    that closes and emits every open session (verified identical to
    the batch oracle at sf0.001/0.01/0.1, and per-batch state-store
    commits drop from 3x to 2x per partition)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from rdfa_spark.streaming.stateful import sessionize_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp_ltz").alias("ts"))
    max_sec = ev.agg(F.max(F.col("ts").cast("long"))).first()[0]
    src = tempfile.mkdtemp(prefix="sess_stream_")

    ev.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    import pyarrow as pa
    import pyarrow.parquet as pq
    for i, days in enumerate((10, 20)):   # watermark pushers
        d = f"{src}/f{2 + i}"
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({
            "user_id": pa.array([-1], pa.int64()),
            "event_id": pa.array([i], pa.int64()),
            "ts": pa.array([(max_sec + days * 86400) * 1_000_000],
                           pa.timestamp("us", tz="UTC")),
        }), f"{d}/data.parquet")
    # strictly-increasing mtimes pin the file source's
    # (timestamp, path) discovery order deterministically
    now = _time.time()
    for k, sub in enumerate(sorted(os.listdir(src))):
        dd = os.path.join(src, sub)
        for fn in os.listdir(dd):
            if not fn.startswith(("_", ".")):
                os.utime(os.path.join(dd, fn),
                         (now - 30 + 10 * k, now - 30 + 10 * k))

    name = f"sess_stream_{os.getpid()}_{int(_time.time() * 1000) % 10**9}"
    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp")
              .parquet(f"{src}/*"))
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (sessionize_stream(stream)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        try:
            # availableNow terminates on its own; a False return
            # means the host stalled past the budget — grading a
            # mid-stream memory table would be nondeterministic
            if not q.awaitTermination(300):
                raise RuntimeError(
                    "sess_stream did not drain within 300s")
        finally:
            q.stop()                        # no-op if terminated
            shutil.rmtree(src, ignore_errors=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
    return (spark.table(name)               # memory sink holds
            .filter(F.col("user_id") >= 0)  # the results now
            .select("user_id", "session_id", "n_events",
                    "start_sec", "end_sec"))


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join + agg over the TPC-H-ish tables; broadcast dims,
    exact decimal arithmetic so shuffle order can't perturb values."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa
    li, orders = rd("lineitem"), rd("orders")
    cust, nation = rd("customer"), rd("nation")
    term = (F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("n_items"),
                 F.floor(F.sum(term) * 100).cast("bigint")
                  .alias("revenue_cents")))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    top = cosine_topk(emb, queries)
    return top.select("query_id",
                      F.col("rank").cast("bigint").alias("rank"),
                      "neighbor_id",
                      F.round("score", 4).alias("score"))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH-bucketed self-join)
    over a deterministically doubled corpus."""
    from rdfa_spark.functions.similarity import (embedding_dim,
                                                 embedding_near_dup_pairs)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    both = emb.select("vec_id", "embedding").unionByName(
        emb.select((F.col("vec_id") + 10000).alias("vec_id"),
                   "embedding"))
    # 2 bands x 2^10 buckets: expected bucket size N/1024 — at the
    # bench's 20k-vector doubled corpus ~20 per bucket, so the
    # per-band self-join stays near-linear; identical vectors collide
    # in every band regardless of plane count (oracle unchanged)
    dim = embedding_dim(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_dup_pairs(both, planes_per_band=10, dim=dim)
    return pairs.select("id_a", "id_b",
                        F.round("score", 4).alias("score"))


def q_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit signatures (md5-derived bit votes; mirrored
    bit-for-bit by oracle.SIMHASH_SIGNATURE_SQL)."""
    from rdfa_spark.pipeline.dedup import simhash64
    return simhash64(_documents(spark, sf_dir), "doc_id", "text") \
        .select("doc_id", "simhash")


def q_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass extraction: triples + errors + text from ONE parse
    per page (kind discriminator 't'/'e'/'x'); replaces three
    independent parse passes in a pipeline that wants all outputs."""
    from rdfa_spark.extract import extract_all
    allx = extract_all(load_pages(spark, sf_dir))
    return allx.select("url", "kind", "subj", "pred", "obj",
                       "obj_is_literal", "obj_datatype", "obj_lang",
                       "code", "text", "n_triples")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN — items scored only against the queries
    probing their bucket (deterministic md5-derived plane signs),
    multi-probe (signature + 1..3-bit flips) so every query can reach
    k candidates; mirrored exactly by oracle._lsh_topk_sql."""
    from rdfa_spark.functions.similarity import lsh_cosine_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    # operating point and its recall: similarity.LSH_PLANES
    top = lsh_cosine_topk(emb, queries)
    return top.select("query_id",
                      F.col("rank").cast("bigint").alias("rank"),
                      "neighbor_id",
                      F.round("score", 4).alias("score"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — the scale path (argmax cell assignment + nprobe
    rerank in one scoring kernel); deterministic by construction
    (farthest-first seeding over an md5-ordered sample, no RNG), so
    fully SQL-mirrorable (oracle._ivf_topk_sql unrolls the traversal)."""
    from rdfa_spark.functions.similarity import ivf_cosine_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    # operating point and its recall: similarity.IVF_NPROBE
    top = ivf_cosine_topk(emb, queries)
    return top.select("query_id",
                      F.col("rank").cast("bigint").alias("rank"),
                      "neighbor_id",
                      F.round("score", 4).alias("score"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: extract the KG from
    synthesized pages and run the opengraph query over it."""
    _ensure_shipped(spark)
    return q_rdfa_og_title(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _wrap(v) for k, v in _raw_queries().items()}


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rdfa_triples": q_rdfa_triples,
        "rdfa_triples_stream": q_rdfa_triples_stream,
        "model_roundtrip": q_model_roundtrip,
        "rdfa_og_title": q_rdfa_og_title,
        "rdfa_pred_counts": q_rdfa_pred_counts,
        "rdfa_text": q_rdfa_text,
        "entity_mentions": q_entity_mentions,
        "rdfa_errors": q_rdfa_errors,
        "extract_all": q_extract_all,
        "og_collect": q_og_collect,
        "entity_canonical": q_entity_canonical,
        "cc_chain": q_cc_chain,
        "cc_hot_hub": q_cc_hot_hub,
        "token_stats": q_token_stats,
        "doc_fingerprint": q_fingerprint,
        "language_id": q_language_id,
        "quality_score": q_quality,
        "dedup_exact": q_dedup_exact,
        "dedup_simhash": q_dedup_simhash,
        "token_bpe": q_token_bpe,
        "bgp_article": q_bgp_article,
        "nt_lines": q_nt_lines,
        "ttl_lines": q_ttl_lines,
        "dedup_minhash": q_dedup_minhash,
        "minhash_signature": q_minhash_signature,
        "minhash_band_pairs": q_minhash_band_pairs,
        "ann_topk": q_ann_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "event_sessions": q_event_sessions,
        "event_sessions_stream": q_event_sessions_stream,
        "revenue_by_nation": q_revenue_by_nation,
        "embedding_near_dup": q_embedding_near_dup,
        "simhash_signature": q_simhash_signature,
        "filter_corpus": q_filter_corpus,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rdfa_triples": oracle.RDFA_TRIPLES_SQL,
        "rdfa_triples_stream": oracle.RDFA_TRIPLES_SQL,
        "model_roundtrip": oracle.RDFA_TRIPLES_SQL,
        "rdfa_og_title": oracle.RDFA_OG_TITLE_SQL,
        "rdfa_pred_counts": oracle.RDFA_PRED_COUNTS_SQL,
        "rdfa_text": oracle.RDFA_TEXT_SQL,
        "entity_mentions": oracle.ENTITY_MENTIONS_SQL,
        "rdfa_errors": oracle.RDFA_ERRORS_SQL,
        "extract_all": oracle.EXTRACT_ALL_SQL,
        "og_collect": oracle.OG_COLLECT_SQL,
        "entity_canonical": oracle.ENTITY_CANONICAL_SQL,
        "cc_chain": oracle.CC_CHAIN_SQL,
        "cc_hot_hub": oracle.CC_HOT_HUB_SQL,
        "token_stats": oracle.TOKEN_STATS_SQL,
        "doc_fingerprint": oracle.FINGERPRINT_SQL,
        "language_id": oracle.langid_sql(),
        "quality_score": oracle.quality_sql(),
        "dedup_exact": oracle.DEDUP_EXACT_SQL,
        "dedup_simhash": oracle._dedup_simhash_sql(),
        "token_bpe": oracle.TOKEN_BPE_SQL,
        "bgp_article": oracle.BGP_ARTICLE_SQL,
        "nt_lines": oracle.NT_LINES_SQL,
        "ttl_lines": oracle.turtle_lines_sql(),
        "dedup_minhash": oracle._dedup_minhash_sql(),
        "minhash_signature": oracle.minhash_signature_sql(),
        "minhash_band_pairs": oracle.minhash_band_pairs_sql(),
        "ann_topk": oracle.ann_topk_sql(),
        "ann_ivf_topk": oracle._ivf_topk_sql(),
        "ann_lsh_topk": oracle._lsh_topk_sql(),
        "simhash_signature": oracle.SIMHASH_SIGNATURE_SQL,
        "event_sessions": oracle.EVENT_SESSIONS_SQL,
        "event_sessions_stream": oracle.EVENT_SESSIONS_SQL,
        "revenue_by_nation": oracle.REVENUE_BY_NATION_SQL,
        "embedding_near_dup": oracle.EMBEDDING_NEAR_DUP_SQL,
        "filter_corpus": oracle.filter_corpus_sql(),
    }
