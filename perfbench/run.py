#!/usr/bin/env python3
"""Benchmark of the full ``themis_spark.runner.run_validation`` pass.

    python3 perfbench/run.py --workload crawl_clean --seed 1 --seconds 15 --trace 0

Run from the repository root. One process generates the workload's
inputs from ``--seed``, starts one ``local[4]`` Spark driver JVM, warms
the pass up, times whole ``run_validation`` passes for ``--seconds``,
checks the last pass's outputs against answers computed without the
engine, and prints one JSON object as the last line of stdout. With
``--trace 1`` it measures the layers one at a time instead (layers.py).
Everything else (Spark logs, progress, facts) goes to stderr and to
``.bench_data/perfbench/``. See README.md.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """Seconds since this process started (``/proc`` start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: perf_counter reading at process start: setup_s counts from here
T_PROCESS = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data", "perfbench")

MASTER = "local[4]"
DRIVER_MEMORY = "2g"
#: untimed passes before the timed window, and the fewest timed passes
WARMUP = 2
MIN_TIMED = 3
#: rows per run sampled for the jsonschema cross-check
SAMPLE_ROWS = 800

UNITS = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def host_probe() -> float:
    """Fixed single-thread integer work, in Mops/s (a reference fact,
    not a metric: it shows how busy the shared host was)."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i % 7
    return round(2.0 / (time.perf_counter() - t), 2)


def git_rev() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def children_of(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def prepare_env(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and return the session's extra Spark conf."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # SPARK_LOCAL_DIRS wins over spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the spark-submit launcher JVM: no hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # pyspark workers unpickle closures that import themis_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and its python workers,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = children_of(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)


def run_config(workload: str, schema: dict, out_dir: str, links):
    from themis_spark.runner import RunConfig

    stats = ["url", "text", "lang", "warc_ts"]
    extra = {
        "crawl_clean": dict(stats_columns=stats, unique_keys=["url"],
                            fk=(links, "src_url", "url")),
        "crawl_dirty": dict(stats_columns=stats, partitions_per_batch=2),
        "json_deep": {},
    }[workload]
    return RunConfig(schema=schema, out_dir=out_dir, run_id="bench", **extra)


class Bench:
    """One run: inputs, session, passes and checks of one workload."""

    def __init__(self, workload: str, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.facts: dict = {"workload": workload, "seed": seed}
        self.errors: list[str] = []
        #: violation-set digests of every pass of the run
        self.digests: set[str] = set()
        self.spark = None

    # -- setup --------------------------------------------------------------
    def generate(self) -> float:
        import gen

        t = time.perf_counter()
        self.inputs = gen.generate(self.workload, self.seed)
        self.paths = gen.write(self.inputs, os.path.join(self.work, "input"))
        return time.perf_counter() - t

    def start(self, conf: dict) -> None:
        t = time.perf_counter()
        from themis_spark.session import get_spark

        self.spark = get_spark(master=MASTER, extra_conf=conf)
        self.session_start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("WARN")
        self.jvm_pid = int(self.spark.sparkContext._jvm
                           .java.lang.ProcessHandle.current().pid())

    def open(self) -> None:
        """Table open, compile_plan and Catalyst planning of the fused
        violations frame (forced, nothing executes)."""
        from themis_spark.operators import validate as V
        from themis_spark.plans.compiler import compile_plan
        from themis_spark.sources.tableio import ParquetTable

        self.table = ParquetTable(self.spark, self.paths["pages"], "part_id")
        self.links = self.spark.read.parquet(self.paths["links"])
        self.parts = self.table.list_partitions()
        df = self.table.read(partitions=self.parts)
        plan = compile_plan(self.inputs.schema, df.schema)
        ann = V.annotate(df, plan, keep=["url", "part_id"], defer_residual=True)
        V.violations_df(ann, "url", "part_id", "bench")._jdf.queryExecution().executedPlan()

    # -- passes ---------------------------------------------------------------
    def one_pass(self, label: str):
        """One run_validation call into a fresh output directory; the
        digest of what it wrote is taken after the clock stops."""
        import check
        from themis_spark.runner import run_validation

        out = os.path.join(self.work, f"out-{label}")
        cfg = run_config(self.workload, self.inputs.schema, out, self.links)
        t = time.perf_counter()
        res = run_validation(self.spark, self.table, cfg)
        wall = time.perf_counter() - t
        self.digests.add(check.violation_digest(
            check.read_table(os.path.join(out, "violations"))))
        return out, res, wall

    def warm_up(self) -> list[float]:
        walls = []
        for k in range(WARMUP):
            out, _, wall = self.one_pass(f"w{k}")
            shutil.rmtree(out)
            walls.append(wall)
        return walls

    def timed(self, seconds: float) -> tuple[list[float], str, object]:
        walls: list[float] = []
        last = None
        t0 = time.perf_counter()
        while len(walls) < MIN_TIMED or time.perf_counter() - t0 < seconds:
            out, res, wall = self.one_pass(f"t{len(walls)}")
            walls.append(wall)
            if last is not None:
                shutil.rmtree(last[0])
            last = (out, res)
        return walls, last[0], last[1]

    # -- checks ---------------------------------------------------------------
    def verify(self, out: str, res) -> None:
        import check
        from pyspark.sql import functions as F

        viol = check.read_table(os.path.join(out, "violations"))
        full = self.table.read()
        spark_rows = full.count()
        dups = orphans = None
        constraints = self.workload == "crawl_clean"
        if constraints:
            dups = full.groupBy("url").count().where(F.col("count") > 1).count()
            pages = full.select(F.col("url").alias("page_url"))
            orphans = self.links.join(
                pages, self.links["src_url"] == pages["page_url"], "left_anti").count()
        self.errors += check.check_planted(viol, self.inputs, constraints,
                                           dups, orphans)
        rows = check.sample_rows(self.inputs.pages, self.seed, SAMPLE_ROWS)
        self.errors += check.check_sample(viol, rows, self.inputs.schema)
        self.errors += check.check_properties(
            res, self.inputs.n_rows, spark_rows, out, viol, self.parts, "bench")
        if len(self.digests) != 1:
            self.errors.append(f"the passes of this run wrote {len(self.digests)} "
                               f"different violation sets")


def parse_args(argv: list[str]) -> argparse.Namespace:
    import gen

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def missing_program() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, "themis_spark", "runner.py")):
        return f"no themis_spark package under {ROOT}: run from a full checkout"
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return "pyspark is not importable"
    return None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    reason = missing_program()
    if reason:
        log(reason)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(DATA, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=DATA)
    bench = Bench(args.workload, args.seed, work)
    record: dict = {"facts": bench.facts}
    try:
        gen_s = bench.generate()
        conf = prepare_env(work)
        if args.trace:
            import layers

            conf.update(layers.trace_conf(work))
        bench.start(conf)
        bench.open()
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        import pyarrow

        bench.facts.update({
            "nproc": os.cpu_count(), "master": MASTER, "rows": bench.inputs.n_rows,
            "gen_s": round(gen_s, 3), "session_start_s": round(bench.session_start_s, 3),
            "spark": bench.spark.version,
            "java": bench.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "pyarrow": pyarrow.__version__, "git_rev": git_rev(),
        })
        bench.facts["probe_before_mops"] = host_probe()
        if args.trace:
            result = layers.run_traced(bench, T_PROCESS, record)
        else:
            result = run_end_to_end(bench, args.seconds, setup_s, record)
        bench.facts["probe_after_mops"] = host_probe()
    finally:
        try:
            if bench.spark is not None:
                stop_spark(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for e in bench.errors:
        log(f"CHECK FAILED: {e}")
    result["correct"] = not bench.errors
    record.update(result=result, errors=bench.errors)
    record["wall_s"] = time.perf_counter() - T_PROCESS
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(DATA, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    line = {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": result["metrics"]}
    return emit(line)


def run_end_to_end(bench: Bench, seconds: float, setup_s: float, record: dict) -> dict:
    warm = bench.warm_up()
    walls, out, res = bench.timed(seconds)
    bench.verify(out, res)
    peak = vm_hwm_mb(bench.jvm_pid)
    n = bench.inputs.n_rows
    record.update(warmup_s=warm, pass_s=walls, stage_secs=res.stage_secs)
    values = {
        # median pass: a pass that stalls for seconds on the shared
        # host's driver side moves it little
        "docs_per_s": n / statistics.median(walls),
        "setup_s": setup_s,
        "peak_rss_mb": peak,
    }
    return {"attempted": len(walls), "failed": 0,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}}


#: stdout as the process started; fd 1 itself points at stderr while
#: the run is on, so nothing Spark or its children print lands on stdout
_STDOUT = None


def emit(line: dict) -> int:
    sys.stdout.flush()
    os.dup2(_STDOUT, 1)
    print(json.dumps(line), flush=True)
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally that stops Spark


if __name__ == "__main__":
    import signal

    signal.signal(signal.SIGTERM, _terminate)
    _STDOUT = os.dup(1)
    os.dup2(2, 1)
    sys.exit(main(sys.argv[1:]))
