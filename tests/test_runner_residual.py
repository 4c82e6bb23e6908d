"""Where run_validation validates the deep-recursion residue (rows past
the Variant unroll depth): folded into the main projection when that
projection already calls Python, else a separate residual job that runs
only when the main write job counted gated rows and appends into the
batch's violations directory. Both arms must give the same violation
triples, verdicts and RunResult counts as each other and as the Python
closure validator, and a kill between the two writes must resume to a
clean run's outputs."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from themis_spark.operators import validate as V
from themis_spark.plans.compiler import CompiledPlan, compile_plan
from themis_spark.plans.pyvalidator import compile_python_validator
from themis_spark.runner import RunConfig, run_validation
from themis_spark.sources.tableio import ParquetTable

SCHEMA = {
    "id": "rr",
    "type": "object",
    "required": ["url"],
    "properties": {
        "url": {"type": "string", "pattern": "^https://"},
        "doc": {"$ref": "#/definitions/node"},
    },
    "definitions": {
        "node": {
            "type": "object",
            "required": ["id"],
            "properties": {
                "id": {"type": "integer", "minimum": 0},
                "child": {"$ref": "#/definitions/node"},
            },
        }
    },
}
#: the runner's Variant unroll depth: a chain of this many child links or
#: more trips the deep guard (checked in test_gate_is_chain_depth)
GATED_DEPTH = 4
N_PARTS = 66  # > 64: one batch of all of them takes the sink-count fallback
ROWS_PER_PART = 2


def _chain(depth: int, bad_at: int | None, missing_at: int | None) -> str:
    node = None
    for lvl in reversed(range(depth + 1)):
        n = {} if lvl == missing_at else {"id": -1 if lvl == bad_at else lvl}
        if node is not None:
            n["child"] = node
        node = n
    return json.dumps(node)


def _rows():
    """(url, part_id, doc, chain depth). Every partition holds a gated
    row, so every batch needs the residual."""
    out = []
    for i in range(N_PARTS * ROWS_PER_PART):
        part = i % N_PARTS
        depth = GATED_DEPTH + i % 3 if i < N_PARTS else i % GATED_DEPTH
        bad = depth if i % 3 == 0 else None
        missing = 1 if i % 5 == 0 and depth >= 1 else None
        url = f"http://x/{i}" if i % 7 == 0 else f"https://x/{i}"
        doc = None if i % 11 == 0 else _chain(depth, bad, missing)
        out.append((url, part, doc, depth))
    return out


ROWS = _rows()


def _expected() -> set:
    validator = compile_python_validator(SCHEMA)
    out = set()
    for url, part, doc, _ in ROWS:
        row = {"url": url} if doc is None else {"url": url, "doc": json.loads(doc)}
        for v in validator.validate(row, "$"):
            out.add((url, str(part), v.keyword, v.instance_path, v.schema_path))
    return out


def _n_gated() -> int:
    return sum(doc is not None and depth >= GATED_DEPTH
               for _, _, doc, depth in ROWS)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("residual") / "pages")
    df = spark.createDataFrame([r[:3] for r in ROWS],
                               "url string, part_id int, doc string")
    df.write.partitionBy("part_id").parquet(path)
    return ParquetTable(spark, path, "part_id")


@pytest.fixture()
def fold(monkeypatch):
    """Force the fold arm on a Python-free plan."""
    monkeypatch.setattr(CompiledPlan, "main_calls_python",
                        property(lambda self: True))


@pytest.fixture()
def residual_jobs(monkeypatch):
    calls = []
    real = V.residual_violations_df

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(V, "residual_violations_df", counting)
    return calls


def _run(spark, table, out_dir, **kw):
    return run_validation(spark, table, RunConfig(
        schema=SCHEMA, out_dir=out_dir, run_id="r1", **kw))


def _triples(spark, out_dir) -> set:
    return {
        (r["url"], r["partition_id"], r["keyword"], r["instance_path"],
         r["schema_path"])
        for r in spark.read.parquet(f"{out_dir}/violations").collect()
    }


def _verdicts(spark, out_dir) -> set:
    return {tuple(r) for r in spark.read.parquet(f"{out_dir}/verdicts")
            .drop("batch").collect()}


def _counts(res) -> tuple:
    return res.rows, res.violation_rows, res.residual_rows


def test_gate_is_chain_depth(spark, table):
    df = table.read()
    plan = compile_plan(SCHEMA, df.schema)
    assert not plan.main_calls_python
    n = plan.prepare(df).select(
        F.sum(plan.residual_gate().cast("int"))).first()[0]
    assert n == _n_gated() > 0


def test_skip_arm_equals_fold_arm_and_python(spark, tmpdir_path, table,
                                             residual_jobs, monkeypatch):
    want = _expected()
    n_viol = len(want)
    assert n_viol > 0
    skip = _run(spark, table, f"{tmpdir_path}/skip", partitions_per_batch=33)
    assert len(residual_jobs) == 2  # one per batch: each has gated rows
    monkeypatch.setattr(CompiledPlan, "main_calls_python",
                        property(lambda self: True))
    folded = _run(spark, table, f"{tmpdir_path}/fold", partitions_per_batch=33)
    assert len(residual_jobs) == 2  # the fold arm runs no residual job

    assert _triples(spark, f"{tmpdir_path}/skip") == want
    assert _triples(spark, f"{tmpdir_path}/fold") == want
    assert _verdicts(spark, f"{tmpdir_path}/skip") == \
        _verdicts(spark, f"{tmpdir_path}/fold")
    assert _counts(skip) == _counts(folded) == (len(ROWS), n_viol, _n_gated())


@pytest.mark.parametrize("arm", ["skip", "fold"])
def test_huge_batch_counts_the_sink(spark, tmpdir_path, table, arm, request):
    """One batch of more than 64 partitions takes the sink-count
    fallback and gives the same counts and verdicts."""
    if arm == "fold":
        request.getfixturevalue("fold")
    small = _run(spark, table, f"{tmpdir_path}/small", partitions_per_batch=33)
    huge = _run(spark, table, f"{tmpdir_path}/huge")
    assert len(huge.partitions_done) == N_PARTS > 64
    assert _counts(huge) == _counts(small) == \
        (len(ROWS), len(_expected()), _n_gated())
    assert _triples(spark, f"{tmpdir_path}/huge") == _expected()
    assert _verdicts(spark, f"{tmpdir_path}/huge") == \
        _verdicts(spark, f"{tmpdir_path}/small")


def test_kill_between_the_two_writes_resumes_clean(spark, tmpdir_path, table,
                                                    monkeypatch):
    clean = _run(spark, table, f"{tmpdir_path}/clean", partitions_per_batch=33)

    real = ParquetTable.append
    calls = []

    def append_dies_once(self, df, partitioned=True):
        calls.append(self.path)
        if len(calls) == 2:  # the second batch's residual append
            raise RuntimeError("killed between the main write and the residual")
        return real(self, df, partitioned)

    monkeypatch.setattr(ParquetTable, "append", append_dies_once)
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, table, f"{tmpdir_path}/killed", partitions_per_batch=33)
    resumed = _run(spark, table, f"{tmpdir_path}/killed", partitions_per_batch=33)
    assert len(calls) == 3
    assert len(resumed.partitions_skipped) == 33
    assert len(resumed.partitions_done) == 33

    for out in ("violations", "verdicts"):
        a = spark.read.parquet(f"{tmpdir_path}/killed/{out}")
        b = spark.read.parquet(f"{tmpdir_path}/clean/{out}")
        assert a.count() == b.count(), out
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, out
    assert spark.read.parquet(f"{tmpdir_path}/killed/violations").count() == \
        clean.violation_rows


def test_clean_batch_runs_no_residual_job(spark, tmpdir_path, residual_jobs):
    """A run with no gated row skips the residual job entirely."""
    shallow = [r[:3] for r in ROWS if r[2] is None or r[3] < GATED_DEPTH]
    path = f"{tmpdir_path}/shallow"
    spark.createDataFrame(shallow, "url string, part_id int, doc string") \
        .write.partitionBy("part_id").parquet(path)
    res = run_validation(spark, ParquetTable(spark, path, "part_id"), RunConfig(
        schema=SCHEMA, out_dir=f"{tmpdir_path}/out", run_id="r1"))
    assert residual_jobs == []
    assert res.residual_rows == 0
    assert res.rows == len(shallow) == len(ROWS) - _n_gated()
    assert res.violation_rows == len(_triples(spark, f"{tmpdir_path}/out")) > 0


def test_python_main_pass_folds_the_residual(spark, tmpdir_path, residual_jobs):
    """A plan whose main projection already runs an RE2 check folds the
    residual in: no residual job, the same triples as pyvalidator."""
    schema = json.loads(json.dumps(SCHEMA))
    schema["properties"]["path"] = {"type": "string",
                                    "pattern": "^/(?P<sec>[a-z]+)/"}
    rows = [(u, p, d, "/ok/" if i % 4 else "/BAD/")
            for i, (u, p, d, _) in enumerate(ROWS[:40])]
    path = f"{tmpdir_path}/pages"
    spark.createDataFrame(rows, "url string, part_id int, doc string, path string") \
        .write.partitionBy("part_id").parquet(path)
    table = ParquetTable(spark, path, "part_id")
    plan = compile_plan(schema, table.read().schema)
    assert plan.main_calls_python and plan.residual_gate() is not None
    # the folded validator's output joins the fused projection without a
    # CodegenFallback expression: every Project stays in whole-stage codegen
    folded = V.violations_df(V.annotate(table.read(), plan, keep=["url", "part_id"]))
    physical = folded._jdf.queryExecution().executedPlan().toString()
    projects = [ln.lstrip(" +-:") for ln in physical.splitlines() if "Project [" in ln]
    assert projects and all(p.startswith("*(") for p in projects), physical
    res = run_validation(spark, table, RunConfig(
        schema=schema, out_dir=f"{tmpdir_path}/out", run_id="r1"))
    assert residual_jobs == []

    validator = compile_python_validator(schema)
    want = set()
    for url, part, doc, p in rows:
        row = {"url": url, "path": p}
        if doc is not None:
            row["doc"] = json.loads(doc)
        for v in validator.validate(row, "$"):
            want.add((url, str(part), v.keyword, v.instance_path, v.schema_path))
    assert _triples(spark, f"{tmpdir_path}/out") == want
    assert res.violation_rows == len(want)
    assert res.residual_rows == sum(d is not None and depth >= GATED_DEPTH
                                    for _, _, d, depth in ROWS[:40]) > 0


def test_tier_is_recorded_at_compile_time(spark):
    from pyspark.sql import types as T

    fields = T.StructType([T.StructField("s", T.StringType()),
                           T.StructField("n", T.LongType())])
    native = compile_plan({"properties": {"s": {"pattern": "^a"},
                                          "n": {"minimum": 0}}}, fields)
    assert not native.main_calls_python
    assert {c.tier for c in native.checks} == {"native"}
    re2 = compile_plan({"properties": {"s": {"pattern": "(?P<x>a)"}}}, fields)
    assert re2.main_calls_python
    # an enum of any size is one native In
    big_enum = compile_plan(
        {"properties": {"s": {"enum": [f"m{i}" for i in range(1500)]}}}, fields)
    assert not big_enum.main_calls_python
    # a composed check inherits the tier of its parts
    nested = compile_plan({"properties": {"s": {"anyOf": [
        {"pattern": "(?P<x>a)"}, {"maxLength": 2}]}}}, fields)
    assert [c.tier for c in nested.checks] == ["arrow"]
    root_branch = compile_plan({"anyOf": [
        {"properties": {"s": {"pattern": "(?P<x>a)"}}}, {"required": ["n"]}]},
        fields)
    assert [c.tier for c in root_branch.checks] == ["arrow"]
    # an ungated Arrow spec (typed column past the native set) counts too
    wrapper = compile_plan({"properties": {"s": {"pattern": "(?P<x>a)(?P=x)"}}},
                           fields)
    assert wrapper.arrow_specs and wrapper.main_calls_python
