"""Round-2 fail-closed compile contract (VERDICT r1 item 1): compile_plan
must NEVER silently drop a keyword. Every live repro from the round-1
verdict either produces checks, produces a complete Arrow wrapper spec,
or raises UnsupportedSchemaError."""

import json
import re

import pytest
from pyspark.sql import functions as F

from themis_spark.plans.compiler import (
    UnsupportedSchemaError,
    compile_plan,
)
from themis_spark.plans.pyvalidator import (
    _GLOBAL_FORMATS,
    compile_python_validator,
    register_format,
)


def _verdicts(spark, df, schema, **kw):
    plan = compile_plan(schema, df.schema, **kw)
    rows = plan.prepare(df).select(
        (F.size(plan.violations_col()) == 0).alias("ok")).collect()
    return [r["ok"] for r in rows], plan


@pytest.mark.spark
def test_anyof_on_long_column_native(spark):
    df = spark.createDataFrame([(1,), (5,), (15,), (None,)], "n long")
    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {"n": {"anyOf": [{"minimum": 10}, {"maximum": 2}]}},
    })
    assert plan.checks and not plan.arrow_specs, "anyOf must compile natively"
    assert ok == [True, False, True, True]


@pytest.mark.spark
def test_oneof_not_allof_on_long_column(spark):
    df = spark.createDataFrame([(1,), (5,), (15,), (None,)], "n long")
    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {"n": {"oneOf": [{"minimum": 10}, {"multipleOf": 5}]}},
    })
    assert not plan.arrow_specs
    assert ok == [False, True, False, True]

    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"n": {"not": {"minimum": 10}}},
    })
    assert ok == [True, True, False, True]

    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {"n": {"allOf": [{"minimum": 2}, {"maximum": 10}]}},
    })
    # inner triples, one per failing branch keyword
    assert ok == [False, True, False, True]
    kws = {c.keyword for c in plan.checks}
    assert {"minimum", "maximum"} <= kws


@pytest.mark.spark
def test_tuple_items_additional_items_on_typed_array(spark):
    df = spark.createDataFrame(
        [([1, 50, 3],), ([1],), ([1, 2, 3, 4],), ([99, 2, 3],), (None,)],
        "a array<long>")
    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {
            "a": {"items": [{"maximum": 10}, {"minimum": 5}],
                  "additionalItems": {"maximum": 3}},
        },
    })
    assert plan.checks and not plan.arrow_specs, \
        "tuple items must compile on typed arrays (r1: silently dropped)"
    assert ok == [True, True, False, False, True]

    # additionalItems: false → size bound
    ok, _ = _verdicts(spark, df, {
        "type": "object",
        "properties": {"a": {"items": [{}, {}], "additionalItems": False}},
    })
    assert ok == [False, True, False, False, True]


@pytest.mark.spark
def test_root_dependencies_property_and_schema_form(spark):
    df = spark.createDataFrame(
        [("s", None), ("s", 5), (None, None)], "source string, n_chars long")
    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {"source": {}, "n_chars": {}},
        "dependencies": {"source": ["n_chars"]},
    })
    assert plan.checks, "root dependencies must compile (r1: ignored entirely)"
    assert ok == [False, True, True]

    ok, _ = _verdicts(spark, df, {
        "type": "object",
        "properties": {"source": {}},
        "dependencies": {"source": {"properties": {"n_chars": {"minimum": 10}}}},
    })
    assert ok == [True, False, True]


@pytest.mark.spark
def test_unknown_root_keyword_raises(spark):
    df = spark.createDataFrame([(1,)], "n long")
    with pytest.raises(UnsupportedSchemaError):
        compile_plan({"type": "object", "unknownKeyword": 1}, df.schema)


@pytest.mark.spark
def test_pattern_dialect_routes_off_the_jvm_tier(spark):
    """Python-only regex syntax would raise PatternSyntaxException on
    EXECUTORS under rlike (round-1 ADVICE) — it must route off the JVM
    tier and still validate correctly. Since round 5 there are TWO
    fallback tiers: backref-free ``(?P<g>…)`` groups stay a vectorized
    Column check on the RE2/pyarrow tier (no wrapper spec), while true
    backrefs — beyond RE2 — take the per-value Arrow wrapper."""
    df = spark.createDataFrame([("abab",), ("zz",), (None,)], "s string")
    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"s": {"pattern": "(?P<g>ab)+"}},
    })
    # RE2-safe: vectorized check, no per-value wrapper
    assert plan.checks and not plan.arrow_specs
    assert ok == [True, False, True]

    df2 = spark.createDataFrame([("abab",), ("abba",), (None,)], "s string")
    ok2, plan2 = _verdicts(spark, df2, {
        "type": "object",
        "properties": {"s": {"pattern": "^(?P<g>ab)(?P=g)$"}},
    })
    # backref: only the Python tier can take it
    assert plan2.arrow_specs and not plan2.checks
    assert ok2 == [True, False, True]


@pytest.mark.spark
def test_unicode_class_pattern_matches_python_semantics(spark):
    r"""\w is ASCII in Java but Unicode in Python re; the (?U) triage
    keeps the native path aligned with the Python ground truth."""
    df = spark.createDataFrame([("héllo",), ("x y",)], "s string")
    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"s": {"pattern": r"^\w+$"}},
    })
    assert not plan.arrow_specs, "shorthand classes stay native via (?U)"
    assert ok == [True, False]  # Python re: ^\w+$ matches 'héllo'


@pytest.mark.spark
def test_enum_complex_members_fall_back(spark):
    df = spark.createDataFrame([([1, 2],), ([3],)], "a array<long>")
    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"a": {"enum": [[1, 2], [9]]}},
    })
    assert plan.arrow_specs, "deep-equality enum needs the Arrow wrapper"
    assert ok == [True, False]


@pytest.mark.spark
def test_map_value_schema_never_silently_dropped(spark):
    # _value_lambda used to return None for unsupported value schemas and
    # the map compile silently skipped them (r1 verdict item 1)
    df = spark.createDataFrame(
        [({"k": "2020-01-01T00:00:00Z"},), ({"k": "nope"},)],
        "m map<string,string>")
    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {"m": {"properties": {"k": {"format": "date-time"}}}},
    })
    assert ok == [True, False]


@pytest.mark.spark
def test_custom_format_routes_to_arrow(spark):
    register_format("even-len", lambda v: len(v) % 2 == 0)
    try:
        df = spark.createDataFrame([("ab",), ("abc",)], "s string")
        ok, plan = _verdicts(spark, df, {
            "type": "object", "properties": {"s": {"format": "even-len"}},
        })
        assert plan.arrow_specs, "registered custom format must run (Arrow)"
        assert ok == [True, False]
    finally:
        _GLOBAL_FORMATS.pop("even-len", None)


@pytest.mark.spark
@pytest.mark.parametrize("reached_by", ["properties", "patternProperties",
                                        "additionalProperties"])
def test_arrow_wrapper_reports_the_column_schema_path(spark, reached_by):
    """A typed column on the Arrow wrapper reports the schema path of the
    keyword that reached it, as pyvalidator over the whole row does."""
    sub = {"format": "even-len"}
    schema = {"type": "object", reached_by: (
        sub if reached_by == "additionalProperties"
        else {"s_1" if reached_by == "properties" else "^s_": sub})}
    register_format("even-len", lambda v: len(v) % 2 == 0)
    try:
        df = spark.createDataFrame([("ab",), ("abc",), (None,)], "s_1 string")
        plan = compile_plan(schema, df.schema)
        assert plan.arrow_specs
        got = [{tuple(v)[:3] for v in r["vs"]} for r in plan.prepare(df).select(
            plan.violations_col().alias("vs")).collect()]
        validator = compile_python_validator(schema)
        want = [{(v.keyword, v.instance_path, v.schema_path)
                 for v in validator.validate({} if s is None else {"s_1": s}, "$")}
                for s in ("ab", "abc", None)]
        assert got == want and want[1]
    finally:
        _GLOBAL_FORMATS.pop("even-len", None)


@pytest.mark.spark
def test_native_ipv6_format(spark):
    df = spark.createDataFrame(
        [("::1",), ("12345::",), ("fuzzy",), ("64:ff9b::1.2.3.4",), (None,)],
        "ip string")
    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"ip": {"format": "ipv6"}},
    })
    assert not plan.arrow_specs, "ipv6 is native since round 2"
    assert ok == [True, False, False, True, True]


@pytest.mark.spark
def test_integer_type_on_double_column_floor_semantics(spark):
    """draft-4: 1.0 IS an integer — 'integer' over a fractional column is
    a runtime floor check, not a constant violation."""
    df = spark.createDataFrame([(1.0,), (1.5,), (None,)], "x double")
    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"x": {"type": "integer"}},
    })
    assert not plan.arrow_specs
    assert ok == [True, False, True]


@pytest.mark.spark
def test_enum_members_do_not_cross_type_match(spark):
    """draft-4 deep equality: "1" != 1 and true != 1 — isin must not let
    Spark's implicit casts match across JSON type families."""
    df = spark.createDataFrame([("1",), ("a",)], "s string")
    ok, _ = _verdicts(spark, df, {
        "type": "object", "properties": {"s": {"enum": [1, "a"]}},
    })
    assert ok == [False, True]  # string "1" does not match number 1

    dfn = spark.createDataFrame([(1,), (2,)], "n long")
    ok, _ = _verdicts(spark, dfn, {
        "type": "object", "properties": {"n": {"enum": ["1", 2, True]}},
    })
    assert ok == [False, True]  # 1 matches neither "1" nor true


@pytest.mark.spark
def test_string_keywords_on_timestamp_column(spark):
    # explicit cast keeps rlike/length legal under ANSI mode
    df = spark.createDataFrame(
        [("2024-03-01 10:00:00",), ("1999-01-01 00:00:00",)], "t string"
    ).select(F.col("t").cast("timestamp").alias("t"))
    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"t": {"pattern": "^2024", "minLength": 10}},
    })
    assert not plan.arrow_specs
    assert ok == [True, False]


@pytest.mark.spark
@pytest.mark.parametrize("ddl", ["timestamp", "date"])
def test_enum_on_timestamp_and_date_columns_reads_canonical_text(spark, ddl):
    """enum reads a Timestamp or Date column as its canonical text, like
    every other string keyword: no member is cast to the column's type
    (which fails the whole job on "nope"), and the canonical-form member
    matches."""
    canon = "2020-01-01 00:00:00" if ddl == "timestamp" else "2020-01-01"
    df = spark.createDataFrame(
        [("2020-01-01",), ("2021-06-01",), (None,)], "t string"
    ).select(F.col("t").cast(ddl).alias("t"))
    ok, plan = _verdicts(spark, df, {
        "type": "object", "properties": {"t": {"enum": [canon, "nope"]}},
    })
    assert not plan.arrow_specs
    assert ok == [True, False, True]


#: accessor → (DDL of column x, a value holding 1e30 and a clean value,
#: the schema of x)
HUGE_MULTIPLE = {
    "typed_column": ("double", (1e30, 4.0), {"multipleOf": 2}),
    "typed_column_fraction": ("double", (1e30, 4.5), {"multipleOf": 0.5}),
    "array_element": ("array<double>", ([1.5, 1e30], [1.5]),
                      {"items": {"multipleOf": 0.5}}),
    "variant_node": ("string", (json.dumps({"v": 1e30}), '{"v": 2.5}'),
                     {"type": "object", "properties": {"v": {"multipleOf": 0.5}}}),
}


@pytest.mark.spark
@pytest.mark.parametrize("case", sorted(HUGE_MULTIPLE))
def test_multiple_of_a_huge_number_is_a_violation(spark, case):
    """1e30 overflows the exact decimal modulus of multipleOf. The job
    must finish, and the value is no multiple, as in pyvalidator, whose
    Decimal arithmetic overflows on it too."""
    ddl, values, sub = HUGE_MULTIPLE[case]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(values + (None,))],
                               f"rid int, x {ddl}")
    schema = {"type": "object", "properties": {"x": sub}}
    plan = compile_plan(schema, df.schema)
    assert not plan.arrow_specs
    got = {(r["rid"], v["keyword"], v["instance_path"], v["schema_path"])
           for r in plan.prepare(df).select(
               "rid", plan.violations_col().alias("vs")).collect()
           for v in r["vs"]}
    validator = compile_python_validator(schema)
    want = {(i, v.keyword, re.sub(r"\[\d+\]$", "", v.instance_path), v.schema_path)
            for i, x in enumerate(values)
            for v in validator.validate(
                {"x": json.loads(x) if ddl == "string" else x}, "$")}
    assert got == want and {rid for rid, *_ in want} == {0}


@pytest.mark.spark
def test_root_additional_properties_false(spark):
    df = spark.createDataFrame([("a", None), ("a", "x")], "k string, extra string")
    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {"k": {}},
        "additionalProperties": False,
    })
    assert ok == [True, False]


@pytest.mark.spark
def test_root_combinators_over_columns(spark):
    df = spark.createDataFrame(
        [("a", 1), (None, 100), (None, None)], "s string, n long")
    ok, plan = _verdicts(spark, df, {
        "type": "object",
        "properties": {"s": {}, "n": {}},
        "anyOf": [{"required": ["s"]}, {"properties": {"n": {"minimum": 50}}}],
    })
    assert ok == [True, True, True]  # third row: n absent → branch 2 vacuous
    ok, _ = _verdicts(spark, df, {
        "type": "object",
        "properties": {"s": {}, "n": {}},
        "not": {"required": ["s", "n"]},
    })
    assert ok == [False, True, True]