"""defaults projection, broadcast-set enum, apply_defaults."""

from pyspark.sql import functions as F

from themis_spark.plans.compiler import (
    compile_plan, defaults_projection, semi_join_filter,
)
from themis_spark.plans.pyvalidator import apply_defaults


def test_defaults_projection_native(spark):
    schema = {
        "type": "object",
        "properties": {
            "lang": {"type": "string", "default": "en"},
            "n": {"type": "integer", "minimum": 0, "default": 0},
        },
    }
    df = spark.createDataFrame([("fr", 3), (None, None)], "lang string, n long")
    out = df.select(*defaults_projection(schema, df.columns)).collect()
    assert out[0]["lang"] == "fr" and out[0]["n"] == 3
    assert out[1]["lang"] == "en" and out[1]["n"] == 0
    # defaults applied BEFORE validation → no violations on the filled frame
    filled = df.select(*defaults_projection(schema, df.columns))
    plan = compile_plan(schema, filled.schema)
    assert plan.prepare(filled).select(F.size(plan.violations_col()).alias("n")).agg(F.sum("n")).first()[0] == 0


def test_apply_defaults_python():
    schema = {
        "properties": {
            "a": {"default": 1},
            "b": {"properties": {"c": {"default": "x"}}},
        }
    }
    out = apply_defaults(schema, {"b": {}})
    assert out == {"a": 1, "b": {"c": "x"}}
    src = {"b": {}}
    apply_defaults(schema, src)
    assert src == {"b": {}}  # input never mutated


def test_semi_join_filter_broadcast(spark):
    df = spark.createDataFrame([(i, f"k{i % 5}") for i in range(100)], "id long, k string")
    allowed = spark.createDataFrame([("k0",), ("k1",)], "v string")
    out = semi_join_filter(df, "k", allowed, "v")
    assert out.count() == 40
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_enum_broadcast_hash_set_regime(spark):
    """Round-5 (BASELINE.json north star: 'enum via broadcast hash
    sets'): enum sets above ENUM_LITERAL_MAX compile to a vectorized
    pyarrow.compute is_in probe against a closure-shipped hash set —
    same verdicts as the literal isin, NULL = pass, plan carries
    ArrowEvalPython (vectorized) and no wrapper spec."""
    from themis_spark.plans.vector_checks import ENUM_LITERAL_MAX

    members = [f"m{i:06d}" for i in range(0, 2 * ENUM_LITERAL_MAX + 10, 2)]
    schema = {"type": "object",
              "properties": {"v": {"type": "string", "enum": members}}}
    df = spark.createDataFrame(
        [("m000002",), ("m000003",), ("m002048",), ("nope",), (None,)],
        "v string")
    plan = compile_plan(schema, df.schema)
    assert not plan.arrow_specs
    rows = {r["v"]: r["n"] for r in df.select(
        "v", F.size(plan.violations_col()).alias("n")).collect()}
    assert rows == {"m000002": 0, "m000003": 1, "m002048": 0,
                    "nope": 1, None: 0}
    pstr = df.select(plan.violations_col().alias("v")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in pstr and "BatchEvalPython" not in pstr


def test_enum_small_sets_stay_literal(spark):
    """At or below the threshold the plan must remain fully native (no
    Python stage at all) — the fast path is untouched."""
    schema = {"type": "object",
              "properties": {"v": {"type": "string",
                                   "enum": ["a", "b", "c"]}}}
    df = spark.createDataFrame([("a",), ("x",)], "v string")
    plan = compile_plan(schema, df.schema)
    pstr = df.select(plan.violations_col().alias("v")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in pstr
    got = {r["v"]: r["n"] for r in df.select(
        "v", F.size(plan.violations_col()).alias("n")).collect()}
    assert got == {"a": 0, "x": 1}


def _max_isin_literals(plan) -> int:
    """Longest literal list of any ``in(value, lit, ...)`` node in the
    plan's columns (Spark prints an isin as that call form)."""
    import re

    text = " ".join(c._jc.toString() for c in
                    [ch.predicate for ch in plan.checks] + plan.variant_arrays)
    longest = 0
    for m in re.finditer(r"\bin\(", text):
        depth, args, quoted = 1, 1, False
        for ch in text[m.end():]:
            if ch == "'":
                quoted = not quoted
            elif quoted:
                continue
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                args += 1
        longest = max(longest, args - 1)
    return longest


def test_no_plan_inlines_an_enum_past_the_literal_limit(spark):
    """ENUM_LITERAL_MAX bounds string enums in element lambdas as it does
    at column level: an items / additionalItems / map-value enum past it
    leaves the native tier (same verdicts) instead of inlining 1500
    literals."""
    from themis_spark.plans.vector_checks import ENUM_LITERAL_MAX

    big = [f"m{i:05d}" for i in range(1500)]
    small = big[:ENUM_LITERAL_MAX]
    df = spark.createDataFrame(
        [(["m00001", "m01499"], ["x", "m00002"], {"k": "m00003"}),
         (["m00001", "nope"], ["x", "nope"], {"k": "nope"}),
         (None, None, None)],
        "tags array<string>, tup array<string>, attrs map<string,string>")

    def schema(members):
        return {"type": "object", "properties": {
            "tags": {"type": "array", "items": {"type": "string", "enum": members}},
            "tup": {"type": "array", "items": [{"type": "string"}],
                    "additionalItems": {"enum": members}},
            "attrs": {"type": "object",
                      "additionalProperties": {"type": "string", "enum": members}},
        }}

    assert _max_isin_literals(compile_plan(schema(small), df.schema)) == ENUM_LITERAL_MAX
    plan = compile_plan(schema(big), df.schema)
    assert _max_isin_literals(plan) <= ENUM_LITERAL_MAX
    got = [sorted(r["v"]) for r in df.select(F.transform(
        plan.violations_col(), lambda v: v["keyword"]).alias("v")).collect()]
    assert got == [[], ["enum", "enum", "enum"], []]


def test_root_branch_keeps_an_enum_past_the_literal_limit(spark):
    """A root anyOf branch has no Arrow fallback: an items enum past
    ENUM_LITERAL_MAX there still compiles, as an inline isin."""
    big = [f"m{i:05d}" for i in range(1500)]
    schema = {"anyOf": [{"properties": {
        "tags": {"type": "array", "items": {"enum": big}}}}]}
    df = spark.createDataFrame(
        [(["m00001", "m01499"],), (["m00001", "nope"],), (None,)],
        "tags array<string>")
    plan = compile_plan(schema, df.schema)
    assert not plan.arrow_specs
    assert _max_isin_literals(plan) == len(big)
    got = [sorted(r["v"]) for r in df.select(F.transform(
        plan.violations_col(), lambda v: v["keyword"]).alias("v")).collect()]
    assert got == [[], ["anyOf"], []]
