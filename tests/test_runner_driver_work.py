"""Driver-side work of one run_validation call: the input table is
listed once however many batches and constraints read it, a run without
stats columns counts its rows on the write job instead of a stats job,
and the engine's session builds Columns without recording Python call
sites."""

import pytest

from themis_spark import runner
from themis_spark.runner import RunConfig, run_validation
from themis_spark.sources.pages import PAGES_SCHEMA_JSON, write_pages_dataset
from themis_spark.sources.tableio import ParquetTable

N = 2_000


@pytest.fixture()
def table(spark, tmpdir_path):
    write_pages_dataset(spark, f"{tmpdir_path}/data", N, n_partitions=2)
    return ParquetTable(spark, f"{tmpdir_path}/data/pages", "part_id")


@pytest.fixture()
def input_reads(monkeypatch, table):
    """Records every ParquetTable.read of the input table."""
    calls = []
    real = ParquetTable.read

    def counting(self, partitions=None):
        if self.path == table.path:
            calls.append(partitions)
        return real(self, partitions)

    monkeypatch.setattr(ParquetTable, "read", counting)
    return calls


def _violations(spark, out_dir):
    return spark.read.parquet(f"{out_dir}/violations").drop("batch")


def test_one_listing_per_call(spark, tmpdir_path, table, input_reads):
    one = run_validation(spark, table, RunConfig(
        schema=PAGES_SCHEMA_JSON, out_dir=f"{tmpdir_path}/a", run_id="r1",
        stats_columns=["url"], unique_keys=["url"]))
    assert input_reads == [None]
    batched = run_validation(spark, table, RunConfig(
        schema=PAGES_SCHEMA_JSON, out_dir=f"{tmpdir_path}/b", run_id="r1",
        stats_columns=["url"], unique_keys=["url"], partitions_per_batch=1))
    assert input_reads == [None, None]
    assert len(batched.partitions_done) == 2
    assert one.compile_s > 0 and batched.compile_s > 0
    assert set(batched.stage_secs) == {"validate_sink", "stats",
                                       "verdict_commit", "constraints"}
    assert (batched.rows, batched.violation_rows, batched.global_violations) == \
        (one.rows, one.violation_rows, one.global_violations)
    a, b = _violations(spark, f"{tmpdir_path}/a"), _violations(spark, f"{tmpdir_path}/b")
    assert a.count() == one.violation_rows + one.global_violations
    assert one.global_violations > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_no_constraints_no_global_block(spark, tmpdir_path, table, input_reads):
    res = run_validation(spark, table, RunConfig(
        schema=PAGES_SCHEMA_JSON, out_dir=f"{tmpdir_path}/a", run_id="r1",
        stats_columns=["url"]))
    assert input_reads == [None]
    assert res.global_violations == 0
    assert _violations(spark, f"{tmpdir_path}/a").where(
        "partition_id = '__global__'").count() == 0


@pytest.fixture()
def stats_jobs(monkeypatch):
    """Records the column lists of the runner's column_stats jobs."""
    calls = []
    real = runner.column_stats

    def counting(df, columns, *a, **kw):
        calls.append(list(columns))
        return real(df, columns, *a, **kw)

    monkeypatch.setattr(runner, "column_stats", counting)
    return calls


def _verdicts(spark, out_dir):
    return sorted(tuple(r) for r in
                  spark.read.parquet(f"{out_dir}/verdicts").drop("batch").collect())


def test_rows_ride_the_write_job(spark, tmpdir_path, table, stats_jobs):
    """No stats columns and ≤64 partitions a batch: no stats job, and the
    same verdicts and row count as a run whose stats job counts them."""
    bare = run_validation(spark, table, RunConfig(
        schema=PAGES_SCHEMA_JSON, out_dir=f"{tmpdir_path}/a", run_id="r1",
        partitions_per_batch=1))
    assert stats_jobs == []
    stats = run_validation(spark, table, RunConfig(
        schema=PAGES_SCHEMA_JSON, out_dir=f"{tmpdir_path}/b", run_id="r1",
        stats_columns=["url"], partitions_per_batch=1))
    assert stats_jobs == [["url"], ["url"]]
    assert bare.rows == stats.rows == N
    assert bare.violation_rows == stats.violation_rows > 0
    assert _verdicts(spark, f"{tmpdir_path}/a") == _verdicts(spark, f"{tmpdir_path}/b")
    assert len(_verdicts(spark, f"{tmpdir_path}/a")) == 2


def test_huge_batch_counts_rows_on_a_stats_job(spark, tmpdir_path, stats_jobs):
    """A batch of more than 64 partitions still takes its row counts from
    a stats job, with the same verdicts as batches of ≤64."""
    n_parts = 66
    path = f"{tmpdir_path}/wide"
    spark.createDataFrame(
        [(f"http://x/{i}" if i % 5 == 0 else f"https://x/{i}", i % n_parts)
         for i in range(3 * n_parts)],
        "url string, part_id int").write.partitionBy("part_id").parquet(path)
    wide = ParquetTable(spark, path, "part_id")
    schema = {"type": "object", "required": ["url"],
              "properties": {"url": {"type": "string", "pattern": "^https://"}}}
    huge = run_validation(spark, wide, RunConfig(
        schema=schema, out_dir=f"{tmpdir_path}/h", run_id="r1"))
    assert stats_jobs == [["url"]]
    small = run_validation(spark, wide, RunConfig(
        schema=schema, out_dir=f"{tmpdir_path}/s", run_id="r1",
        partitions_per_batch=33))
    assert stats_jobs == [["url"]]
    assert (huge.rows, huge.violation_rows) == (small.rows, small.violation_rows) \
        == (3 * n_parts, sum(i % 5 == 0 for i in range(3 * n_parts)))
    verdicts = _verdicts(spark, f"{tmpdir_path}/h")
    assert verdicts == _verdicts(spark, f"{tmpdir_path}/s")
    assert len(verdicts) == n_parts


def test_engine_session_records_no_call_sites(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
