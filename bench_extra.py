#!/usr/bin/env python
"""Round-7 optimization harness (bench.py is FROZEN for measurement;
this file carries the extra instrumentation the optimization guide
§1 asks for: per-query isolation with the noop sink, plan capture,
repeatable single-query timing).

    python bench_extra.py time  [--repeats N] [--noop] [q ...]
    python bench_extra.py plan  [--tag before] [q ...]

`plan` writes plans/r07/<q>_<tag>.txt and exits with status 1,
before starting Spark, if any of those files already exists.

Timing methodology mirrors bench.py's query phase exactly (same
session confs, same worker warmup, same `.count()` action) so numbers
are comparable with BENCH_r*.json; `--noop` switches the action to
`write.format("noop")` which computes every column (guide §1.4).
`time` also records each repeat's Spark job and stage counts (its
own job group) and the CPU-seconds its Python workers spent; run it
at `SPARK_GRAFT_CPUS=$(nproc)` on a box with fewer than 32 cores.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

PRIMARY = ["rdfa_triples", "extract_all", "rdfa_og_title",
           "rdfa_pred_counts", "entity_canonical", "cc_chain",
           "cc_hot_hub", "dedup_exact", "minhash_band_pairs",
           "language_id", "quality_score", "ann_topk",
           "event_sessions", "revenue_by_nation",
           "embedding_near_dup", "simhash_signature", "filter_corpus"]
SECONDARY = ["token_stats", "doc_fingerprint", "token_bpe",
             "minhash_signature", "og_collect", "rdfa_text",
             "entity_mentions", "rdfa_errors", "ann_ivf_topk",
             "ann_lsh_topk", "bgp_article", "ttl_lines", "nt_lines",
             "model_roundtrip", "dedup_minhash", "rdfa_triples_stream",
             "event_sessions_stream"]


def _session():
    import __spark_entry__ as entry_mod
    from rdfa_spark.session import get_spark

    spark = get_spark("bench_extra", cpus=CPUS,
                      shuffle_partitions=2 * CPUS)
    import pandas as pd

    def _warm(it):
        import rdfa_spark.core  # noqa: F401
        for _ in it:
            yield pd.DataFrame({"x": [1]})

    spark.range(0, 4 * CPUS, 1, 4 * CPUS) \
         .mapInPandas(_warm, "x long").count()
    return spark, entry_mod.queries()


def cmd_time(names: list[str], repeats: int, noop: bool) -> None:
    """Time each query ``repeats`` times; every repeat runs under its
    own Spark job group, so its job and stage counts are read back
    from ``statusTracker()`` as kgbench's traced spans read theirs.
    ``python_cpu_s`` is the CPU time of the Python processes below
    this driver (the PySpark daemon and its workers) over the repeat."""
    from kgbench.probe import job_counts, python_cpu

    spark, queries = _session()
    sc = spark.sparkContext
    out: dict[str, list[float]] = {}
    counts: dict[str, list[dict]] = {}
    try:
        for name in names:
            runs, shape = [], []
            for i in range(repeats):
                group = f"q:{name}:{i}"
                sc.setJobGroup(group, f"q:{name}", False)
                py0 = python_cpu(os.getpid())
                t0 = time.time()
                df = queries[name](spark, SF_DIR)
                if noop:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                runs.append(round(time.time() - t0, 3))
                py_cpu = round(python_cpu(os.getpid()) - py0, 2)
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setJobDescription(None)
                c = job_counts(sc, [group])
                shape.append({"jobs": c["jobs"], "stages": c["stages"],
                              "python_cpu_s": py_cpu})
            out[name], counts[name] = runs, shape
            print(f"# {name}: {runs} {shape}", file=sys.stderr)
    finally:
        spark.stop()
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "noop": noop,
                      "queries": out, "counts": counts}))


PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plans", "r07")


def cmd_plan(names: list[str], tag: str, dest: str = PLAN_DIR) -> None:
    """Write each query's formatted plan to ``<dest>/<q>_<tag>.txt``.
    Refuses (exit status 1, before Spark starts) if any of those files
    exists, so committed plan records are never overwritten."""
    taken = [p for p in (os.path.join(dest, f"{name}_{tag}.txt")
                         for name in names) if os.path.exists(p)]
    if taken:
        for path in taken:
            print(f"# exists, not overwriting: {path}", file=sys.stderr)
        raise SystemExit(1)
    spark, queries = _session()
    os.makedirs(dest, exist_ok=True)
    try:
        for name in names:
            if name.endswith("_stream") or name == "model_roundtrip":
                # side-effecting queries (streaming replay / write+
                # read-back): explain on the returned frame only
                # describes the final read; skip unless asked alone
                print(f"# {name}: plan capture runs the query "
                      f"(side effects) — capturing returned frame",
                      file=sys.stderr)
            df = queries[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(dest, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"# wrote {path}", file=sys.stderr)
    finally:
        spark.stop()


def main() -> None:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return
    cmd, rest = args[0], args[1:]
    repeats, noop, tag = 1, False, "before"
    names: list[str] = []
    i = 0
    while i < len(rest):
        a = rest[i]
        if a == "--repeats":
            repeats = int(rest[i + 1]); i += 2
        elif a == "--noop":
            noop = True; i += 1
        elif a == "--tag":
            tag = rest[i + 1]; i += 2
        elif a == "--primary":
            names.extend(PRIMARY); i += 1
        elif a == "--secondary":
            names.extend(SECONDARY); i += 1
        else:
            names.append(a); i += 1
    if not names:
        names = PRIMARY + SECONDARY
    if cmd == "time":
        cmd_time(names, repeats, noop)
    elif cmd == "plan":
        cmd_plan(names, tag)
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
