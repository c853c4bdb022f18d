#!/usr/bin/env python3
"""KG-pipeline benchmark: one workload per process, driven through
``rdfa_spark``'s public functions at ``local[nproc]``.

    python3 kgbench/run.py --workload crawl_extract --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a source checkout.  The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced pass.  The line
before it (``# info``) records the source digest, ``nproc``, the host
steal share during the timed section and the failure breakdown.
Scratch files live under ``.kgbench_work/`` in the checkout, cleared
at start and removed at exit; a traced run also leaves its spans in
``.kgbench_spans.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
SPANS = os.path.join(ROOT, ".kgbench_spans.jsonl")

# pages, schema:Person mentions per page, planted entities, huge
# pages (one per input file), input partitions (one parquet file each)
# and shuffle partitions
WORKLOADS = {
    "crawl_extract": dict(pages=4000, persons=(1, 1), entities=2000,
                          huge=8, files=8, shuffle=8),
    "kg_build": dict(pages=400, persons=(6, 20), entities=1500,
                     huge=0, files=4, shuffle=4),
}
# Measured in one process, a job's first repetition runs 2.5-3.5x its
# steady time and the second about 1.15x: both are set-up.
WARMUP_REPS = 2
MIN_REPS = 3
CORE_SAMPLE = 300       # pages timed single-process in the trace


def fail(msg: str) -> None:
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest() -> str:
    """Digest of the package sources (a checkout need not be a git
    repository)."""
    h = hashlib.sha1()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "rdfa_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def isolate_io() -> None:
    """Point the temp and scratch paths of Spark, the JVM and Python
    at the work directory, before the JVM starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "out", "input", "events"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # read by both the launcher JVM and the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    import tempfile
    tempfile.tempdir = None


def build() -> str:
    """Package the checkout's sources the way spark-submit ships them,
    with scripts/make_pyfiles.py, and move the zip under WORK."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(ROOT, "scripts", "make_pyfiles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    dist = os.path.join(ROOT, "dist")
    had_dist = os.path.isdir(dist)
    zip_path = os.path.join(WORK, "rdfa_spark.zip")
    shutil.move(mod.main(), zip_path)
    if not had_dist:
        os.rmdir(dist)
    return zip_path


def start_spark(nproc: int, shuffle: int, traced: bool):
    from rdfa_spark.session import get_spark
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # one input split per page file, whatever its size
        "spark.sql.files.maxPartitionBytes": str(1 << 30),
        "spark.sql.files.openCostInBytes": str(2 << 30),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(WORK, "events"),
                     "spark.eventLog.compress": "false"})
    spark = get_spark("kgbench", cpus=nproc,
                      shuffle_partitions=shuffle,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def generate(spark, workload: str, seed: int):
    from kgbench import gen
    from kgbench.stages import Inputs

    w = WORKLOADS[workload]
    rng = random.Random(seed)
    ents = gen.make_entities(rng, w["entities"])
    pages = gen.make_pages(seed, w["pages"], w["persons"], ents, rng,
                           w["huge"])
    pdir = os.path.join(WORK, "input", "pages")
    gen.write_pages(pages, pdir, w["files"])
    df = spark.read.parquet(pdir)
    if df.rdd.getNumPartitions() != w["files"]:
        fail("input partition count is not pinned")
    return Inputs(df, pages)


def new_ctx(spark, inputs, name: str, traced=False):
    from kgbench.stages import Ctx, clear
    out = os.path.join(WORK, "out", name)
    clear(out)
    return Ctx(spark, inputs, out, traced)


def one_rep(spark, inputs, workload: str, name: str, me: int):
    """Run the job once under job group ``name``; returns (ctx, wall s,
    cpu s of the JVM and Python workers, host steal share)."""
    from kgbench import probe
    from kgbench.stages import count_parse_failed, run_job
    c = new_ctx(spark, inputs, name)
    spark.sparkContext.setJobGroup(name, name, False)
    cpu0 = sum(probe.descendants(me).values())
    host0 = probe.cpu_times()
    t0 = time.perf_counter()
    run_job(c, workload)
    dt = time.perf_counter() - t0
    steal = probe.steal_share(host0, probe.cpu_times())
    cpu = sum(probe.descendants(me).values()) - cpu0
    if workload == "kg_build":          # untimed, in its own job group
        spark.sparkContext.setJobGroup(name + ".check", "check", False)
        count_parse_failed(c)
    return c, dt, cpu, steal


def core_sample(planted, n: int) -> dict:
    """``dom.parse_markup`` and ``Walker.consume`` timed single-process
    over the first ``n`` pages; the walk must emit the planted
    triples."""
    from collections import Counter

    from rdfa_spark.core.dom import parse_markup
    from rdfa_spark.core.walk import Walker
    from rdfa_spark.extract import detect_config

    n = min(n, planted.n_pages)
    parse = walk = 0.0
    n_trip = n_bytes = bad = 0
    for i in range(n):
        url, html = planted.rows["url"][i], planted.rows["html"][i]
        cfg = detect_config(html)
        t0 = time.perf_counter()
        doc = parse_markup(html, cfg.dom_parser)
        t1 = time.perf_counter()
        w = Walker(doc, url, cfg).consume()
        t2 = time.perf_counter()
        parse += t1 - t0
        walk += t2 - t1
        n_trip += len(w.triples)
        n_bytes += len(html)
        got = Counter((url, t.subj, t.pred, t.obj, t.is_literal,
                       t.datatype, t.lang) for t in w.triples)
        bad += got != Counter(planted.triples[i])
    return {"parse_us": parse / n * 1e6, "walk_us": walk / n * 1e6,
            "triples": n_trip / n, "bytes": n_bytes / n, "bad": bad,
            "seconds": parse + walk}


def measure(args) -> tuple[dict, dict]:
    from kgbench import probe

    nproc = os.cpu_count() or 1
    me = os.getpid()
    zip_path = build()
    t_start = time.perf_counter()
    spark = start_spark(nproc, WORKLOADS[args.workload]["shuffle"],
                        bool(args.trace))
    try:
        spark.sparkContext.addPyFile(zip_path)
        t_gen = time.perf_counter()
        inputs = generate(spark, args.workload, args.seed)
        t_warm = time.perf_counter()
        warm = [one_rep(spark, inputs, args.workload, f"warm{r}", me)
                for r in range(WARMUP_REPS)]
        ctxs = [r[0] for r in warm]
        t_timed = time.perf_counter()
        setup = {"session.start_s": t_gen - t_start,
                 "setup.generate_s": t_warm - t_gen,
                 "setup.warmup_s": t_timed - t_warm}

        # the traced run times one untraced rep to set its spans against
        reps = 1 if args.trace else MIN_REPS
        steal0 = probe.cpu_times()
        walls, cpus, steals, groups = [], [], [], []
        while len(walls) < reps or not args.trace and (
                time.perf_counter() - t_timed < args.seconds):
            g = f"rep{len(walls)}"
            c, dt, cpu, st = one_rep(spark, inputs, args.workload, g, me)
            ctxs.append(c)
            walls.append(dt)
            cpus.append(cpu)
            steals.append(st)
            groups.append(g)
        if args.workload == "kg_build":
            # the full-store scan and the resume run once per run, on
            # the last repetition's store
            from kgbench.stages import store_checks
            spark.sparkContext.setJobGroup("store.check", "check", False)
            store_checks(ctxs[-1])
        steal = probe.steal_share(steal0, probe.cpu_times())
        job_s = statistics.median(walls)
        counts = probe.job_counts(spark.sparkContext, groups)
        failures = [f for c in ctxs for f in c.failures]
        parse_failed = sum(c.parse_failures for c in ctxs[len(warm):])
        n_pages = inputs.planted.n_pages
        if args.trace:
            from kgbench.trace import add_shuffle, ledger
            core = core_sample(inputs.planted, CORE_SAMPLE)
            if core["bad"]:
                failures.append(f"core walk: {core['bad']} pages differ")
            c = new_ctx(spark, inputs, "ledger", traced=True)
            metrics, tracer, spans = ledger(spark, c, args.workload,
                                            job_s, setup, me, core)
            failures += c.failures
        else:
            metrics = {
                "setup_s": (t_timed - t_start, "s"),
                "job_s": (job_s, "s"),
                "pages_per_s": (n_pages / job_s, "1/s"),
                "triples_per_s": (inputs.planted.n_triples / job_s, "1/s"),
                "cpu_s": (statistics.median(cpus), "s"),
                "worker_peak_rss_mb": (probe.worker_peak_rss_mb(me), "MB"),
            }
    finally:
        stop_spark(spark)
    if args.trace:
        add_shuffle(metrics, spans, os.path.join(WORK, "events"))
        tracer.dump(SPANS)
    info = {"workload": args.workload, "seed": args.seed,
            "source": source_digest(), "nproc": nproc,
            "steal_share": round(steal, 4),
            "warm_walls": [round(r[1], 4) for r in warm],
            "walls": [round(w, 4) for w in walls],
            "cpus": [round(c, 2) for c in cpus],
            "steals": [round(st, 4) for st in steals],
            "pages": n_pages * len(walls), "parse_failed": parse_failed,
            "tasks": counts["tasks"],
            "failed_tasks": counts["failed_tasks"],
            "jobs_per_rep": counts["jobs"] / len(walls),
            "failures": failures[:5],
            **{k: round(v, 3) for k, v in setup.items()}}
    result = {
        "correct": not failures,
        "attempted": n_pages * len(walls) + counts["tasks"],
        "failed": parse_failed + counts["failed_tasks"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}
    return info, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("rdfa_spark/__init__.py", "scripts/make_pyfiles.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout")
    sys.path.insert(0, ROOT)
    isolate_io()
    try:
        info, result = measure(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("# info " + json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
