"""Traced mode: each engine layer timed alone, from outside the engine.

After the warm-up pass and one traced full pass, every layer's public
function runs as its own Spark job on the same input, under a job
description named after the layer. Wall time comes from the benchmark's own spans around each call;
CPU, GC, shuffle, spill and bytes written are Spark's task metrics,
summed per job description from the run's JSON event log. Each layer
call builds on the ones before it (scan, then annotate, then explode,
...), so a layer's own cost is its time minus the previous rung's.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def trace_conf(work: str) -> dict:
    """Session conf of traced mode: the event log is the source of the
    per-layer task metrics."""
    d = os.path.join(work, "eventlog")
    os.makedirs(d)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{d}",
            "spark.eventLog.compress": "false"}


class Tracer:
    """Spans (name, start, end, parent) kept in memory; times are
    seconds since the process started."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


def task_metrics(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Spark task metrics summed per job description."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a rolling log: a directory of events_* files
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if desc is None or not m:
                        continue
                    acc = out[desc]
                    acc["cpu_s"] += m["Executor CPU Time"] / 1e9
                    acc["gc_s"] += m["JVM GC Time"] / 1e3
                    acc["shuffle_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    acc["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
                    acc["write_mb"] += m["Output Metrics"]["Bytes Written"] / 2**20
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """utime+stime of every process under the JVM (the pyspark daemon
    and its workers), including exited workers the daemon has reaped."""
    stats = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                stats[int(d)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, ValueError):
            continue
    tree = {jvm_pid}
    grown = True
    while grown:
        kids = {p for p, st in stats.items() if int(st[1]) in tree} - tree
        tree |= kids
        grown = bool(kids)
    tree.discard(jvm_pid)
    return sum(sum(int(x) for x in stats[p][11:15]) for p in tree) / os.sysconf("SC_CLK_TCK")


def run_traced(bench, t_process: float, record: dict) -> dict:
    from pyspark.sql import functions as F

    from themis_spark.operators import constraints as C
    from themis_spark.operators import validate as V
    from themis_spark.operators.stats import column_stats
    from themis_spark.plans.compiler import compile_plan
    from themis_spark.sources.tableio import ParquetTable

    spark, table, inputs = bench.spark, bench.table, bench.inputs
    sc = spark.sparkContext
    tr = Tracer(t_process)
    m: dict[str, float] = {"session.start_s": bench.session_start_s}
    walls: dict[str, float] = {}

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def layer(name: str, fn):
        sc.setJobDescription(name)
        try:
            with tr.span(name) as rec:
                out = fn()
        finally:
            sc.setJobDescription(None)
        walls[name] = tr.wall(rec)
        return out

    with tr.span("traced_run"):
        with tr.span("warmup.pass"):
            bench.warm_up()
        # the same place on the JVM's warm-up curve as the first timed
        # pass of --trace 0, so the two docs/s differ by the tracing overhead
        cpu0 = worker_cpu_s(bench.jvm_pid)
        with tr.span("full_pass"):
            out, res, wall = bench.one_pass("traced")
        m["python_workers.cpu_s"] = worker_cpu_s(bench.jvm_pid) - cpu0
        m["trace.full_pass_docs_per_s"] = inputs.n_rows / wall
        m["operators.validate.violation_rows"] = res.violation_rows
        for k, v in res.stage_secs.items():
            m[f"runner.stage.{k}_s"] = v
        bench.verify(out, res)
        schema = table.read(partitions=[]).schema
        with tr.span("plans.compile") as rec:
            plan = compile_plan(inputs.schema, schema)
        m["plans.compile_s"] = tr.wall(rec)
        m["plans.native_checks"] = len(plan.checks)
        m["plans.arrow_specs"] = len(plan.arrow_specs)
        m["plans.variant_columns"] = len(plan.variant_sources)

        df = table.read(partitions=bench.parts)
        keep = ["url", "part_id"]
        ann = V.annotate(df, plan, keep=keep, defer_residual=True)
        viol = V.violations_df(ann, "url", "part_id", "bench")
        with tr.span("operators.validate.plan") as rec:
            viol._jdf.queryExecution().executedPlan()
        m["operators.validate.plan_s"] = tr.wall(rec)
        floor = []
        for _ in range(3):
            with tr.span("dispatch_floor") as rec:
                noop(table.read(partitions=[]))
            floor.append(tr.wall(rec))
        m["dispatch_floor_s"] = statistics.median(floor)

        needed = sorted(plan.columns_needed | set(keep))
        layer("sources.scan", lambda: noop(df.select(*needed)))
        layer("operators.validate.annotate", lambda: noop(ann))
        layer("operators.validate.explode", lambda: noop(viol))
        sink = ParquetTable(spark, os.path.join(bench.work, "layer-sink"), "batch")
        layer("operators.validate.sink", lambda: sink.overwrite_partitions(
            viol.withColumn("batch", F.lit("b0"))))
        residual = V.residual_violations_df(df, plan, "url", "part_id", "bench")
        layer("operators.validate.residual",
              lambda: noop(residual) if residual is not None else None)
        gate = plan.residual_gate()
        # a projection, not a filter: a filter would re-parse the JSON
        # per Variant probe (see validate.residual_violations_df)
        m["operators.validate.residual_rows"] = (
            plan.prepare(df).select(F.sum(F.when(gate, 1).otherwise(0))).first()[0] or 0
            if gate is not None else 0)

        stats_cols = ["url", "text", "lang", "warc_ts"] if "text" in df.columns else ["url"]
        layer("operators.stats.column_stats", lambda: column_stats(
            df, stats_cols, "part_id", [], "bench").collect())
        full = table.read()
        dups = layer("operators.constraints.unique",
                     lambda: C.duplicate_keys_hashed(full, "url").collect())
        m["operators.constraints.duplicate_keys"] = len(dups)
        m["operators.constraints.orphans"] = layer(
            "operators.constraints.ref",
            lambda: C.referential_violations(bench.links, "src_url", full, "url").count())

    _check_counts(bench, m)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tm = task_metrics(os.path.join(bench.work, "eventlog"))
    floor = m["dispatch_floor_s"]
    wanted = {
        "sources.scan": ("cpu_s",),
        "operators.validate.annotate": ("cpu_s", "gc_s"),
        "operators.validate.explode": ("cpu_s",),
        "operators.validate.sink": ("write_mb",),
        "operators.validate.residual": ("cpu_s",),
        "operators.stats.column_stats": ("cpu_s", "shuffle_mb"),
        "operators.constraints.unique": ("shuffle_mb", "spill_mb"),
        "operators.constraints.ref": ("shuffle_mb",),
    }
    for name, keys in wanted.items():
        m[f"{name}.wall_s"] = walls[name]
        m[f"{name}.floor_x"] = walls[name] / floor
        for k in keys:
            m[f"{name}.{k}"] = tm.get(name, {}).get(k, 0.0)
    record.update(spans=tr.spans, task_metrics=tm)
    return {"attempted": 1, "failed": 0,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}}


def _check_counts(bench, m: dict) -> None:
    """Counts the layers produced against the generator's."""
    inp = bench.inputs
    want = {
        "operators.validate.violation_rows": sum(inp.expected.values()),
        "operators.validate.residual_rows": inp.residual_rows,
        "operators.constraints.duplicate_keys": inp.duplicate_keys,
        "operators.constraints.orphans": inp.orphans,
    }
    for k, v in want.items():
        if m[k] != v:
            bench.errors.append(f"{k} {m[k]} != generated {v}")


def unit_of(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("docs_per_s"):
        return "docs/s"
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix == "floor_x":
        return "x"
    return "count"
