"""The traced pass: every ledger stage inside its own span, outputs
materialized between stages, then per-layer metrics from the spans,
the job-group counters, /proc and the event log."""

from __future__ import annotations

import os
import uuid

from kgbench import probe
from kgbench.stages import JOBS, LEDGER, STAGES, check_stored


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def ledger(spark, c, workload: str, untraced_job_s: float,
           setup: dict, me: int, core: dict):
    """Walk ``LEDGER`` on ``c`` (a traced context); returns the
    per-layer metrics, the tracer and its spans by name (for shuffle
    bytes, read after the session stops)."""
    tracer = probe.Tracer(spark.sparkContext, uuid.uuid4().hex[:8])
    root = tracer.start(f"ledger.{workload}")
    for name in LEDGER:
        py0 = probe.python_cpu(me)
        sp = tracer.start(name)
        STAGES[name](c)
        py1 = probe.python_cpu(me)
        tracer.stop(sp)
        sp.counts["python_cpu_s"] = py1 - py0
        sp.counts.update(c.counts)
        c.counts.clear()
        # counts read outside the span, from materialized outputs
        if name == "materialize.read":
            check_stored(c)
        elif name == "materialize.run":
            (sp.counts["files"],
             sp.counts["bytes"]) = _dir_size(c.run.triples_dir)
        elif name == "linking.exact_pairs":
            sp.counts["pairs"] = c.pairs.count()
        elif name == "linking.lsh_pairs":
            sp.counts["pairs"] = c.lsh_pairs.count()
        elif name == "cc.components":
            sp.counts["edges_in"] = c.pairs.count()
    tracer.stop(root)

    s = {sp.name: sp for sp in tracer.spans}

    def sec(name):
        return s[name].seconds

    def cnt(name, key):
        return s[name].counts[key]

    linking = ("linking.mentions", "linking.exact_pairs",
               "linking.lsh_pairs")
    traced_job = sum(sec(n) for n in JOBS[workload])
    m = {
        "core.parse_us_per_page": (core["parse_us"], "us"),
        "core.walk_us_per_page": (core["walk_us"], "us"),
        "core.triples_per_page": (core["triples"], "count"),
        "core.bytes_per_page": (core["bytes"], "B"),
        "extract.arrow_passthrough_s": (sec("extract.passthrough"), "s"),
        "extract.triples_stage_s": (sec("extract.triples"), "s"),
        "extract.all_stage_s": (sec("extract.all"), "s"),
        "extract.errors_stage_s": (sec("extract.errors"), "s"),
        "extract.rows_out": (cnt("extract.triples", "rows_out"), "count"),
        "extract.parse_failures": (
            cnt("extract.triples", "parse_failures")
            + cnt("extract.all", "parse_failed_rows"), "count"),
        "extract.tasks": (cnt("extract.triples", "tasks"), "count"),
        "extract.python_cpu_s": (
            cnt("extract.triples", "python_cpu_s"), "s"),
        "materialize.run_s": (sec("materialize.run"), "s"),
        "materialize.write_s": (sec("materialize.write"), "s"),
        "materialize.resume_s": (sec("materialize.resume"), "s"),
        "materialize.files_written": (
            cnt("materialize.run", "files"), "count"),
        "materialize.bytes_written": (
            cnt("materialize.run", "bytes"), "B"),
        "materialize.jobs": (cnt("materialize.run", "jobs"), "count"),
        "materialize.stages": (cnt("materialize.run", "stages"), "count"),
        "linking.mentions_s": (sec("linking.mentions"), "s"),
        "linking.exact_pairs_s": (sec("linking.exact_pairs"), "s"),
        "linking.lsh_pairs_s": (sec("linking.lsh_pairs"), "s"),
        "linking.pairs_out": (cnt("linking.exact_pairs", "pairs")
                              + cnt("linking.lsh_pairs", "pairs"),
                              "count"),
        "linking.jobs": (sum(cnt(n, "jobs") for n in linking), "count"),
        "cc.components_s": (sec("cc.components"), "s"),
        "cc.jobs": (cnt("cc.components", "jobs"), "count"),
        "cc.stages": (cnt("cc.components", "stages"), "count"),
        "cc.edges_in": (cnt("cc.components", "edges_in"), "count"),
        "cc.components_out": (cnt("entities.count", "entities"), "count"),
        "session.start_s": (setup["session.start_s"], "s"),
        "setup.generate_s": (setup["setup.generate_s"], "s"),
        "setup.warmup_s": (setup["setup.warmup_s"], "s"),
        "core.sample_s": (core["seconds"], "s"),
        "trace.job_s": (traced_job, "s"),
        "trace.untraced_job_s": (untraced_job_s, "s"),
        "trace.overhead_s": (traced_job - untraced_job_s, "s"),
    }
    return m, tracer, s


def add_shuffle(m: dict, spans: dict, event_dir: str) -> None:
    """Shuffle bytes written per span, from the event log of the
    stopped session."""
    by_group = probe.shuffle_write_by_group(event_dir)

    def write(name):
        return by_group.get(spans[name].group, 0)

    m["materialize.shuffle_write_bytes"] = (write("materialize.run"), "B")
    m["linking.shuffle_bytes"] = (
        sum(write(n) for n in ("linking.mentions", "linking.exact_pairs",
                               "linking.lsh_pairs")), "B")
