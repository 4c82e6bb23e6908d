"""End-to-end checkpointed validation runs (reference EP2', SURVEY §3.2).

A run over a partitioned pages table produces four output tables
(FIXTURES.md §2): violations, verdicts, metrics, lineage. Work is
partition-granular and idempotently resumable:

1. list input partitions; anti-set against lineage rows marked 'done'
   → remaining work set (partition-pruned scan — only those directories
   are read, SURVEY 2(b).1). The input table is opened ONCE per call;
   the compiled plan, each batch's pruned scan and the global
   constraints all read from that one listing;
2. run the fused validate+stats pass over the remaining partitions in
   batches of ``partitions_per_batch`` (one Spark job per batch, NOT per
   partition — per-partition jobs would be a driver-side loop that can't
   scale); each batch's outputs land via dynamic partition overwrite
   (idempotent replace, the Parquet stand-in for Iceberg
   overwritePartitions), then lineage rows commit. The verdicts' row and
   violation counts per partition ride the write job's Observation
   (batches of ≤64 partitions); a stats job runs only for the
   ``stats_columns`` asked for, and a bigger batch takes its row counts
   from that job and its violation counts from the written sink;
2a. rows past the Variant unroll depth (the residual, validated whole by
   the Arrow validator) are handled per plan. If the main projection
   already calls Python (an RE2 pattern check or an ungated Arrow spec,
   ``CompiledPlan.main_calls_python``), the residual is FOLDED into it.
   Otherwise the main pass stays Python-free and its write job counts the
   gated rows; the residual job runs only when that count is > 0 (else it
   is SKIPPED) and APPENDS into the batch's violations directory after the
   main overwrite, before the lineage commit. ``RunResult.residual_rows``
   is that count, summed over batches, on either arm;
3. a killed run re-executes at most one uncommitted batch; committed
   partitions are never re-validated (tested by tests/test_resume.py).

Cross-partition constraints (uniqueness, referential, drift,
text-invariant) run after the per-partition pass over the full table —
they are global by nature and are recorded in the verdicts under
partition_id='__global__'.

Per-stage wall-clock is recorded in RunResult.stage_secs (BASELINE.md
protocol step 5) so scaling regressions are attributable to
scan+validate vs constraint shuffles vs sink commits; compile time is
RunResult.compile_s.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from themis_spark.operators import validate as V
from themis_spark.operators import constraints as C
from themis_spark.operators.stats import HistSpec, column_stats
from themis_spark.plans.compiler import CompiledPlan, compile_plan
from themis_spark.sources.tableio import ParquetTable


@dataclass
class RunConfig:
    schema: dict
    out_dir: str
    run_id: str = "r0"
    key_col: str = "url"
    partition_col: str = "part_id"
    stats_columns: list[str] = field(default_factory=list)
    hist_specs: list[HistSpec] = field(default_factory=list)
    unique_keys: list[str] = field(default_factory=list)
    #: uniqueness plan: "hashed" (8-byte-hash shuffle + broadcast
    #: candidate semi-join — the mostly-unique web regime),
    #: "hashed-shuffle" (same but no broadcast hint: dup-HEAVY tables
    #: whose candidate set would blow the broadcast limit), or
    #: "grouped" (plain one-shuffle groupBy — optimal when most keys
    #: are duplicated anyway)
    unique_plan: str = "hashed"
    fk: tuple[DataFrame, str, str] | None = None  # (child_df, child_key, parent_key)
    #: reference extraction for the per-row text invariant (BASELINE.json
    #: input_hint: byte-identical extracted text per url) — None disables
    text_invariant_ref: DataFrame | None = None
    partitions_per_batch: int | None = None  # None = all remaining in one job
    max_batches: int | None = None  # tests: stop early to simulate a kill


@dataclass
class RunResult:
    run_id: str
    partitions_done: list
    partitions_skipped: list
    rows: int
    violation_rows: int
    global_violations: int
    #: per-stage wall seconds: validate_sink / stats / verdict_commit /
    #: constraints — the attribution record for scaling analysis
    stage_secs: dict = field(default_factory=dict)
    #: seconds this call spent in compile_plan (kept out of stage_secs)
    compile_s: float = 0.0
    #: rows past the Variant unroll depth, which the Arrow validator
    #: checked whole (the residual path), counted on the write job
    residual_rows: int = 0


def _lineage_table(spark: SparkSession, cfg: RunConfig) -> ParquetTable:
    return ParquetTable(spark, f"{cfg.out_dir}/lineage", "part_id")


# ---------------------------------------------------------------------------
# driver-side metadata commits. Verdicts / lineage / metrics are TINY
# (rows = partitions, or partitions × stat columns) and fully known on the
# driver after the distributed aggregations — writing them through a Spark
# job costs a full dispatch round-trip per table per batch, which at small
# batch sizes is the single worst serial fraction (measured: the commit
# stage INVERTED scaling, 2 s at 1 executor → 5-6 s at 4, pure multi-JVM
# job overhead). Iceberg's own design makes the same move: data files are
# written distributed, metadata commits are driver-side. On object storage
# the same writes go through the storage client; with a real Iceberg
# catalog, writeTo().overwritePartitions() does it natively.
# ---------------------------------------------------------------------------


def _overwrite_partition_local(table_dir: str, partition_col: str,
                               partition_value, batch: pa.Table) -> None:
    """Replace one partition directory with one pyarrow-written file —
    same layout Spark's dynamic partition overwrite produces (partition
    dir-encoded, column absent from the file), same idempotent-replace
    semantics (write tmp → atomic rename)."""
    pdir = os.path.join(table_dir, f"{partition_col}={partition_value}")
    os.makedirs(pdir, exist_ok=True)
    for old in os.listdir(pdir):
        if not old.startswith("."):
            os.remove(os.path.join(pdir, old))
    tmp = os.path.join(pdir, ".part-0.parquet.tmp")
    pq.write_table(batch, tmp)
    os.replace(tmp, os.path.join(pdir, "part-0.parquet"))


def _append_file_local(table_dir: str, batch: pa.Table) -> None:
    os.makedirs(table_dir, exist_ok=True)
    name = f"part-{time.time_ns()}-{os.getpid()}.parquet"
    tmp = os.path.join(table_dir, f".{name}.tmp")
    pq.write_table(batch, tmp)
    os.replace(tmp, os.path.join(table_dir, name))


_VERDICT_ARROW = pa.schema([
    ("run_id", pa.string()), ("partition_id", pa.string()),
    ("rows", pa.int64()),
    ("violation_rows", pa.int64()), ("passed", pa.bool_()),
])
_LINEAGE_ARROW = pa.schema([
    ("run_id", pa.string()), ("part_id", pa.int32()), ("status", pa.string()),
    ("started_ts", pa.float64()), ("finished_ts", pa.float64()),
    # the violations directory this partition's rows were committed
    # under — lets a resume distinguish committed batch dirs from stale
    # ones left by a killed run with a DIFFERENT partitions_per_batch
    ("batch_label", pa.string()),
])
_METRICS_ARROW = pa.schema([
    ("run_id", pa.string()), ("partition_id", pa.string()),
    ("column", pa.string()),
    ("cnt", pa.int64()), ("nulls", pa.int64()),
    ("min_v", pa.string()), ("max_v", pa.string()),
    ("hll_sketch", pa.binary()), ("histogram", pa.list_(pa.int64())),
    ("hist_lo", pa.float64()), ("hist_hi", pa.float64()),
])


def completed_partitions(spark: SparkSession, cfg: RunConfig) -> set:
    t = _lineage_table(spark, cfg)
    if not t.exists():
        return set()
    rows = (
        t.read()
        .where((F.col("status") == "done") & (F.col("run_id") == cfg.run_id))
        .select("part_id")
        .distinct()
        .collect()
    )
    return {r["part_id"] for r in rows}


def _clean_stale_violation_batches(spark: SparkSession, cfg: RunConfig) -> list[str]:
    """Remove batch directories no committed lineage row points at, in
    ALL batch-partitioned sinks (violations, verdicts, metrics). A run
    killed before its lineage commit leaves its batch dirs behind; a
    resume with the SAME partitions_per_batch overwrites them, but a
    resume with different batch geometry writes different labels and
    the stale dirs' rows would double-count. Lineage is the source of
    truth: uncommitted dirs are garbage by definition (their batch
    re-runs idempotently). Returns the removed labels."""
    import shutil

    dirs = [os.path.join(cfg.out_dir, d)
            for d in ("violations", "verdicts", "metrics")]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return []
    t = _lineage_table(spark, cfg)
    committed: set[str] = set()
    if t.exists():
        lin = t.read()
        if "batch_label" in lin.columns:
            committed = {
                r["batch_label"]
                for r in lin.where(F.col("status") == "done")
                .select("batch_label").distinct().collect()
                if r["batch_label"] is not None
            }
        else:
            return []  # pre-label lineage: can't attribute dirs — keep all
    removed = []
    for table_dir in dirs:
        for d in os.listdir(table_dir):
            if not d.startswith("batch="):
                continue
            label = d.split("=", 1)[1]
            if label == "__global__" or label in committed:
                continue  # __global__ is rewritten by every run
            shutil.rmtree(os.path.join(table_dir, d))
            removed.append(label)
    return sorted(set(removed))


def _per_partition_sums(part: Column, batch: list, value: Column,
                        tag: str = "p") -> list[Column]:
    """One conditional sum of ``value`` per batch partition, aliased
    ``<tag><partition>`` — Observation aggregates (NULL when no row
    matched)."""
    return [F.sum(F.when(part == str(p), value)).alias(f"{tag}{p}") for p in batch]


def run_validation(spark: SparkSession, table: ParquetTable, cfg: RunConfig) -> RunResult:
    all_parts = table.list_partitions()
    done = completed_partitions(spark, cfg)
    remaining = [p for p in all_parts if p not in done]
    _clean_stale_violation_batches(spark, cfg)

    # one listing + schema inference for the whole call: the batches
    # prune it with the same partition predicate table.read(partitions)
    # builds, and the global constraints scan it whole
    base = table.read()
    t0 = time.perf_counter()
    plan: CompiledPlan = compile_plan(cfg.schema, base.schema)
    compile_s = time.perf_counter() - t0

    batch_size = cfg.partitions_per_batch or max(len(remaining), 1)
    batches = [remaining[i : i + batch_size] for i in range(0, len(remaining), batch_size)]
    if cfg.max_batches is not None:
        batches = batches[: cfg.max_batches]

    # violations are partitioned by BATCH, not by input partition: the
    # unit of idempotent replace is the retry unit (one batch = one job),
    # so a re-run overwrites exactly its own directory — and the write
    # needs no clustering shuffle. partition_id stays a data column.
    # verdicts/metrics share the violations' batch-dir layout: ONE
    # driver-side arrow write per batch per table (partition_id stays a
    # data column). The r3 form wrote one file PER PARTITION per batch
    # from the driver — at 10⁵ Iceberg partitions that serializes the
    # commit stage on the driver; per-batch it is O(batches), and the
    # resume/cleanup story is already label-based.
    viol_t = ParquetTable(spark, f"{cfg.out_dir}/violations", "batch")
    verd_t = ParquetTable(spark, f"{cfg.out_dir}/verdicts", "batch")
    metr_t = ParquetTable(spark, f"{cfg.out_dir}/metrics", "batch")
    lin_t = _lineage_table(spark, cfg)

    stage = {"validate_sink": 0.0, "stats": 0.0, "verdict_commit": 0.0,
             "constraints": 0.0}
    total_rows = total_viol = total_residual = 0
    # where the deep-recursion residue (rows past the Variant unroll) is
    # validated, chosen once per plan: FOLD it into the main projection
    # when that projection already runs Python (the gated UDF joins the
    # ArrowEvalPython node that runs anyway), else keep the main pass
    # Python-free and run the residual job only for batches whose write
    # job counted gated rows
    gated = plan.residual_gate() is not None
    fold = gated and plan.main_calls_python
    done_now: list = []
    for batch in batches:
        started = time.time()
        df = base.filter(F.col(table.partition_col).isin(batch))
        annotated = V.annotate(df, plan, keep=[cfg.key_col, cfg.partition_col],
                               defer_residual=not fold)
        # ONE Observation on the annotated frame carries every count the
        # write job owes, so they cost zero extra jobs (no .persist(), no
        # count re-run), observed upstream of the explode so they see
        # every source row once. For batches of ≤64 partitions (the
        # interpreted conditional-agg count stays bounded; bigger batches
        # count the written sink instead): per-partition sum(n_violations)
        # — the rows the explode below writes — and, when no stats job
        # runs, the per-partition row counts the verdicts need. Plus the
        # gated-row count.
        observed = len(batch) <= 64
        count_rows = observed and not cfg.stats_columns
        part_s = (F.col(cfg.partition_col).cast("string")
                  if cfg.partition_col in annotated.columns else F.lit("0"))
        aggs = []
        if observed:
            aggs += _per_partition_sums(part_s, batch, F.col("n_violations"))
        if count_rows:
            aggs += _per_partition_sums(part_s, batch, F.lit(1), tag="r")
        if gated:
            aggs.append(F.sum("_residual_row").alias("residual_rows"))
        obs = None
        if aggs:
            obs = Observation()
            annotated = annotated.observe(obs, *aggs)

        # scan 1 (the only pass that runs the compiled validators):
        # violations write MAP-SIDE straight from the scan tasks into the
        # batch's sink directory — no shuffle barrier inside the validate
        # stage. A/B at 8M rows measured clustering them onto
        # partition_id first within noise (~2% of rows violate).
        t0 = time.time()
        viol = V.violations_df(annotated, cfg.key_col, cfg.partition_col, cfg.run_id)
        batch_label = f"b{batch[0]}" if batch else "b_empty"
        viol = viol.withColumn("batch", F.lit(batch_label))
        viol_t.overwrite_partitions(viol)
        got = obs.get if obs is not None else {}
        n_residual = int(got.get("residual_rows") or 0)
        viol_per_part = ({str(p): int(got[f"p{p}"] or 0) for p in batch}
                         if observed else None)
        if n_residual and not fold:
            # the deferred residue: its own column-pruned job, appended
            # into the same batch directory. A kill between the two writes
            # leaves the batch uncommitted; its re-run's overwrite above
            # clears the directory, so no row is counted twice.
            res = V.residual_violations_df(df, plan, cfg.key_col,
                                           cfg.partition_col, cfg.run_id)
            res = res.withColumn("batch", F.lit(batch_label))
            if observed:
                res_obs = Observation()
                res = res.observe(res_obs, *_per_partition_sums(
                    F.col("partition_id"), batch, F.lit(1)))
            viol_t.append(res)
            if observed:
                for p in batch:
                    viol_per_part[str(p)] += int(res_obs.get[f"p{p}"] or 0)
        stage["validate_sink"] += time.time() - t0

        # stats: the standalone per-partition aggregation job (scan 2,
        # pure codegen), run only for the stats columns asked for or for
        # a batch too big to count its rows on the write job. A partition
        # with no rows stays out of the verdicts either way.
        t0 = time.time()
        if count_rows:
            rows_per_part = {str(p): int(got[f"r{p}"]) for p in batch
                             if got[f"r{p}"] is not None}
        else:
            stats_cols = cfg.stats_columns or [cfg.key_col]
            metrics_rows = column_stats(df, stats_cols, cfg.partition_col,
                                        cfg.hist_specs, cfg.run_id).collect()
            rows_per_part = {
                r["partition_id"]: int(r["cnt"]) + int(r["nulls"])
                for r in metrics_rows if r["column"] == stats_cols[0]
            }
        stage["stats"] += time.time() - t0

        t0 = time.time()
        if cfg.stats_columns:
            tbl = pa.Table.from_pylist([
                {
                    "run_id": r["run_id"],
                    "partition_id": str(r["partition_id"]),
                    "column": r["column"],
                    "cnt": int(r["cnt"]), "nulls": int(r["nulls"]),
                    "min_v": r["min_v"], "max_v": r["max_v"],
                    "hll_sketch": (bytes(r["hll_sketch"])
                                   if r["hll_sketch"] is not None else None),
                    "histogram": (list(r["histogram"])
                                  if r["histogram"] is not None else None),
                    "hist_lo": r["hist_lo"], "hist_hi": r["hist_hi"],
                }
                for r in metrics_rows
            ], schema=_METRICS_ARROW)
            _overwrite_partition_local(metr_t.path, "batch", batch_label, tbl)

        # fallback for huge batches: aggregate the written sink (main and
        # residual rows alike — parquet footer counts, still no cache of
        # the exploded frame)
        if viol_per_part is None:
            viol_per_part = {
                str(r["partition_id"]): int(r["n"])
                for r in viol_t.read(partitions=[batch_label])
                .groupBy("partition_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        _overwrite_partition_local(
            verd_t.path, "batch", batch_label,
            pa.Table.from_pylist(
                [{"run_id": cfg.run_id, "partition_id": str(pid),
                  "rows": n, "violation_rows": viol_per_part.get(pid, 0),
                  "passed": viol_per_part.get(pid, 0) == 0}
                 for pid, n in sorted(rows_per_part.items())],
                schema=_VERDICT_ARROW))
        total_rows += sum(rows_per_part.values())
        total_viol += sum(viol_per_part.values())
        total_residual += n_residual
        # lineage commit LAST: a kill before this line leaves the batch
        # uncommitted and it re-runs idempotently (outputs are overwritten
        # per-partition, so the retry converges to the same bytes)
        _append_file_local(lin_t.path, pa.Table.from_pylist(
            [{"run_id": cfg.run_id, "part_id": int(p), "status": "done",
              "started_ts": started, "finished_ts": time.time(),
              "batch_label": batch_label}
             for p in batch],
            schema=_LINEAGE_ARROW))
        stage["verdict_commit"] += time.time() - t0
        done_now.extend(batch)

    # ---- global constraints (cross-partition by nature)
    t0 = time.time()
    global_viol = 0
    if (done_now or done) and (cfg.unique_keys or cfg.fk is not None
                               or cfg.text_invariant_ref is not None):
        gv: list[DataFrame] = []
        for key in cfg.unique_keys:
            # hash-compressed two-stage plan: the big exchange carries
            # 8-byte xxhash64(key) rows instead of key strings; exact
            # re-count over the candidate set (see
            # constraints.duplicate_keys_hashed; cfg.unique_plan picks
            # the dup-heavy-safe variants)
            if cfg.unique_plan == "grouped":
                dups = C.duplicate_keys(base, key)
            else:
                dups = C.duplicate_keys_hashed(
                    base, key,
                    broadcast_candidates=(cfg.unique_plan == "hashed"))
            gv.append(
                dups.select(
                    F.col(key).cast("string").alias("url"),
                    F.lit("0").alias("partition_id"),
                    F.lit(cfg.run_id).alias("run_id"),
                    F.lit("unique").alias("keyword"),
                    F.lit(f"$.{key}").alias("instance_path"),
                    F.lit(f"#/constraints/unique/{key}").alias("schema_path"),
                    F.concat(F.lit("count="), F.col("cnt").cast("string")).alias("detail"),
                )
            )
        if cfg.fk is not None:
            # deliberately a second column-pruned scan of the parent, not
            # a reuse of the uniqueness aggregation: sharing would require
            # persisting the distinct parent keyset, which at 10¹² ~unique
            # urls is O(table) cache — two cheap scans beat one impossible
            # cache. Spark shares nothing across actions without persist.
            child, ck, pk = cfg.fk
            gv.append(C.referential_violations(child, ck, base, pk, run_id=cfg.run_id))
        if cfg.text_invariant_ref is not None:
            gv.append(C.invariant_violations(base, cfg.text_invariant_ref,
                                             key=cfg.key_col, run_id=cfg.run_id))
        allg = gv[0]
        for g in gv[1:]:
            allg = allg.unionByName(g)
        allg = (allg.withColumn("partition_id", F.lit("__global__"))
                .withColumn("batch", F.lit("__global__")).repartition(1))
        # write once; the count comes from the written parquet footers
        # (metadata-only scan) instead of a cache + count + write trio
        viol_t.overwrite_partitions(allg)
        global_viol = viol_t.read(partitions=["__global__"]).count()
    stage["constraints"] = time.time() - t0

    return RunResult(
        run_id=cfg.run_id,
        partitions_done=done_now,
        partitions_skipped=sorted(done),
        rows=total_rows,
        violation_rows=total_viol,
        global_violations=global_viol,
        stage_secs={k: round(v, 3) for k, v in stage.items()},
        compile_s=round(compile_s, 3),
        residual_rows=total_residual,
    )
