"""Driver-side work of one run_validation call: the input table is
listed once however many batches and constraints read it, and the
engine's session builds Columns without recording Python call sites."""

import pytest

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


def test_engine_session_records_no_call_sites(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
