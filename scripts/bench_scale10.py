#!/usr/bin/env python
"""Scale rehearsal (VERDICT r3 #5): run the five shuffle-heavy graded
queries at 1x and 10x input on the same session and report wall-time
ratios.  A plan that survives 100 TB must grow near-linearly here —
any query growing >15x at 10x data indicates a super-linear stage.

Replication is deterministic and yields DISTINCT content (offset ids,
per-replica text suffix / embedding jitter): a real 10x crawl has 10x
distinct documents, not 10 identical copies — identical copies would
inflate LSH buckets quadratically and measure output explosion, not
operator scaling.

Run:  python scripts/bench_scale10.py          # both scales
      SPARK_GRAFT_SCALES="1 4" python scripts/bench_scale10.py
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALES = [int(s) for s in
          os.environ.get("SPARK_GRAFT_SCALES", "1 10").split()]
OFFSET = 1_000_000   # multiple of 10: keeps the chain-graph decades


def docs_at(spark, scale):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if scale > 1:
        rep = F.explode(F.sequence(F.lit(0), F.lit(scale - 1)))
        docs = (docs.withColumn("rep", rep)
                .select((F.col("doc_id")
                         + F.col("rep") * OFFSET).alias("doc_id"),
                        # salt EVERY token: replicas must be mutually
                        # DISSIMILAR documents (a 10x crawl has 10x
                        # distinct docs), or LSH pair output grows
                        # quadratically in scale and the rehearsal
                        # measures output explosion, not scaling
                        F.when(F.col("rep") == 0, F.col("text"))
                         .otherwise(F.regexp_replace(
                             "text", " ",
                             F.concat(F.lit(" q"),
                                      F.col("rep").cast("string"),
                                      F.lit("x"),
                                      F.pmod(F.col("doc_id"), 997)
                                       .cast("string"),
                                      F.lit(" "))))
                        .alias("text"),
                        "lang", "source"))
    docs = docs.repartition(2 * CPUS)
    return docs.localCheckpoint(eager=True)   # exclude synthesis


def emb_at(spark, scale):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    if scale > 1:
        rep = F.explode(F.sequence(F.lit(0), F.lit(scale - 1)))
        emb = (emb.withColumn("rep", rep)
               .select((F.col("vec_id")
                        + F.col("rep") * OFFSET).alias("vec_id"),
                       # O(1)-magnitude deterministic jitter: replica
                       # vectors are genuinely different points, so
                       # the 0.999-cosine pair structure stays linear
                       F.transform(
                           "embedding",
                           lambda x, i: F.when(
                               F.col("rep") == 0, x).otherwise(
                               x + F.sin(F.col("vec_id") * 1.7
                                         + i.cast("double") * 0.37
                                         + F.col("rep") * 2.1)))
                       .alias("embedding")))
    emb = emb.repartition(2 * CPUS)
    return emb.localCheckpoint(eager=True)


def skew_rehearsal():
    """Hot-node CC above the local-finish threshold: a 250k-edge
    graph whose hub has degree 200k (the giant-component star
    pattern AQE can't re-plan inside an iterative loop).  Compares
    the plain distributed loop vs explicit hot-node salting; both
    must produce the identical labeling."""
    from pyspark.sql import functions as FF

    from rdfa_spark.pipeline.cc import (connected_components,
                                        connected_components_salted)
    from rdfa_spark.session import get_spark

    spark = get_spark("bench_skew", cpus=CPUS,
                      shuffle_partitions=2 * CPUS)
    hub = spark.range(200_000).select(
        FF.lit("hub").alias("src"),
        FF.concat(FF.lit("s"), FF.lpad(FF.col("id").cast("string"),
                                       7, "0")).alias("dst"))
    chain = spark.range(50_000).select(
        FF.concat(FF.lit("c"), FF.lpad(FF.col("id").cast("string"),
                                       7, "0")).alias("src"),
        FF.concat(FF.lit("c"), FF.lpad((FF.col("id") + 1)
                                       .cast("string"),
                                       7, "0")).alias("dst"))
    edges = hub.unionByName(chain).repartition(2 * CPUS) \
        .localCheckpoint(eager=True)
    n_edges = edges.count()

    t0 = time.time()
    plain = connected_components(edges).localCheckpoint(eager=True)
    t_plain = round(time.time() - t0, 2)
    n_plain = plain.count()
    t0 = time.time()
    salted = connected_components_salted(edges, max_degree=50_000,
                                         n_salts=16) \
        .localCheckpoint(eager=True)
    t_salted = round(time.time() - t0, 2)
    n_salted = salted.count()
    mismatch = (plain.alias("p")
                .join(salted.alias("s"), "node", "full")
                .filter((FF.col("p.component") !=
                         FF.col("s.component"))
                        | FF.col("p.component").isNull()
                        | FF.col("s.component").isNull())
                .count())
    print(json.dumps({
        "metric": "skew_rehearsal", "n_edges": n_edges,
        "hub_degree": 200_000,
        "plain_sec": t_plain, "salted_sec": t_salted,
        "labels_plain": n_plain, "labels_salted": n_salted,
        "label_mismatches": mismatch}))
    spark.stop()


def main():
    from rdfa_spark.extract import extract_all, extract_triples
    from rdfa_spark.functions.similarity import (embedding_dim,
                                                 embedding_near_dup_pairs)
    from rdfa_spark.pages import load_pages
    from rdfa_spark.pipeline.cc import connected_components
    from rdfa_spark.pipeline.dedup import minhash_dedup_pairs
    from rdfa_spark.pipeline.linking import (canonicalize,
                                             entity_mentions,
                                             lsh_candidate_pairs)
    from rdfa_spark.session import get_spark

    spark = get_spark("bench_scale10", cpus=CPUS,
                      shuffle_partitions=2 * CPUS)
    import pandas as pd

    def _warm(it):
        import rdfa_spark.core  # noqa: F401
        for _ in it:
            yield pd.DataFrame({"x": [1]})

    spark.range(0, 4 * CPUS, 1, 4 * CPUS) \
         .mapInPandas(_warm, "x long").count()
    dim = embedding_dim(f"{SF_DIR}/embeddings.parquet")
    results = {}
    for scale in SCALES:
        docs = docs_at(spark, scale)
        emb = emb_at(spark, scale)
        pages = load_pages(spark, SF_DIR, replicate=scale,
                           partitions=4 * CPUS) \
            .localCheckpoint(eager=True)
        n_docs, n_emb, n_pages = docs.count(), emb.count(), \
            pages.count()

        def t(fn):
            # best-of-2: the first run absorbs JIT/codegen warmup,
            # which would otherwise bias whichever scale runs first
            best, n = None, 0
            for _ in range(2):
                t0 = time.time()
                n = fn()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 2), n

        r = {}
        # the corpus-sized stage at 100 TB: extraction itself must be
        # ~linear in pages (it's a zero-shuffle scan -> mapInArrow,
        # so a super-linear draw here would expose batch/memory
        # issues the plan audit can't see)
        r["extract_triples"] = t(
            lambda: extract_triples(pages).count())
        r["extract_all"] = t(lambda: extract_all(pages).count())
        r["entity_canonical"], rows = t(lambda: canonicalize(
            entity_mentions(extract_triples(pages))).count()), None
        edges = (docs.filter(F.col("doc_id") % 10 != 0)
                 .select(F.col("doc_id").cast("string").alias("src"),
                         (F.col("doc_id") - 1).cast("string")
                         .alias("dst")))
        r["cc_chain"] = t(lambda: connected_components(edges).count())
        r["dedup_minhash"] = t(lambda: minhash_dedup_pairs(
            docs.select(F.col("doc_id").alias("id"), "text"),
            "id", "text").count())
        r["minhash_band_pairs"] = t(lambda: lsh_candidate_pairs(
            docs, "doc_id", "text").count())
        # the documented scale knob: planes_per_band grows with
        # log2(N) so expected bucket size (N / 2^planes) stays
        # constant and the per-bucket self-join stays linear
        import math
        planes = 10 + max(0, round(math.log2(scale)))
        r["embedding_near_dup"] = t(lambda: embedding_near_dup_pairs(
            emb, planes_per_band=planes, dim=dim).count())
        results[scale] = {
            "n_docs": n_docs, "n_emb": n_emb, "n_pages": n_pages,
            "sec": {k: (v[0] if isinstance(v, tuple) else v)
                    for k, v in r.items()},
            "rows": {k: (v[1] if isinstance(v, tuple) else None)
                     for k, v in r.items()},
        }
        print(f"# scale {scale}x: {results[scale]}", file=sys.stderr)
    if len(SCALES) == 2:
        a, b = SCALES
        ratios = {k: round(results[b]["sec"][k]
                           / max(results[a]["sec"][k], 0.01), 1)
                  for k in results[a]["sec"]}
    else:
        ratios = {}
    print(json.dumps({"metric": "scale_rehearsal",
                      "scales": SCALES, "results": results,
                      "wall_ratio": ratios}))
    spark.stop()


if __name__ == "__main__":
    if "--skew" in sys.argv:
        skew_rehearsal()
    else:
        main()
