"""defaults projection, enum membership, apply_defaults."""

import json
import math
import re

import pytest
from pyspark.sql import functions as F

from themis_spark.plans.compiler import compile_plan, defaults_projection
from themis_spark.plans.pyvalidator import apply_defaults, compile_python_validator


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


#: members that need escaping in SQL text or JSON, or are outside the BMP
ODD = ["a'b", "c\\d", "e\x00f", "g\nh", "\U0001F600i"]


def _strs(n):
    return ODD + [f"m{i:05d}" for i in range(n - len(ODD))]


def _doubles(n):
    # 2**70 fits no long, no double holds 2**53 + 1 exactly, and NaN
    # equals nothing in pyvalidator
    return [i + 0.5 for i in range(n - 5)] + [7, 2 ** 70, 2 ** 53 + 1,
                                              math.inf, math.nan]


def _mixed(n):
    return _strs(n - 5) + [4, 2.5, True, None, 1e300]


def _typed(prop):
    return lambda members: {"type": "object", "properties": prop(members)}


def _at_container(kw, ip, sp):
    """An element check reports once per keyword, at its container."""
    return kw, re.match(r"\$\.\w+", ip).group(), sp


#: accessor → (table DDL, schema of the members, member list of size n,
#: rows as {column: value} where a missing column is SQL NULL, and the
#: native tier's view of a pyvalidator triple where the two differ)
ENUM_CASES = {
    "string_column": (
        "s string", _typed(lambda m: {"s": {"type": "string", "enum": m}}), _strs,
        [{"s": v} for v in ODD + ["m01494", "m01495", "nope"]] + [{}], None),
    "bigint_column": (
        "n bigint", _typed(lambda m: {"n": {"enum": m}}),
        lambda n: [2 * i for i in range(n)],
        [{"n": 4}, {"n": 2998}, {"n": 5}, {"n": -2}, {"n": 2 ** 40}, {}], None),
    "double_column": (
        "x double", _typed(lambda m: {"x": {"type": "number", "enum": m}}), _doubles,
        [{"x": 1.5}, {"x": 7.0}, {"x": 1.25}, {"x": float(2 ** 70)},
         {"x": float(2 ** 53)}, {"x": math.inf}, {"x": math.nan}, {}], None),
    "variant_property": (
        "meta string",
        _typed(lambda m: {"meta": {"type": "object",
                                   "properties": {"host": {"enum": m}}}}),
        _mixed,
        [{"meta": json.dumps({"host": v})}
         for v in ODD + ["m01489", "nope", 4, 4.0, 5, 2.5, True, False, 1, None, 1e300]]
        + [{"meta": "{}"}, {}], None),
    "items": (
        "tags array<string>",
        _typed(lambda m: {"tags": {"type": "array", "items": {"enum": m}}}), _strs,
        [{"tags": ODD + ["m01494"]}, {"tags": ["m00001", "nope"]},
         {"tags": ["m00001", None]}, {}], _at_container),
    "additional_items": (
        "tup array<string>",
        _typed(lambda m: {"tup": {"type": "array", "items": [{"type": "string"}],
                                  "additionalItems": {"enum": m}}}), _strs,
        [{"tup": ["x", "m00002", "g\nh"]}, {"tup": ["x", "nope", "nope"]},
         {"tup": ["nope"]}, {}], _at_container),
    "map_values": (
        "attrs map<string,string>",
        _typed(lambda m: {"attrs": {"type": "object",
                                    "properties": {"k": {"enum": m}},
                                    "additionalProperties": {"enum": m}}}), _strs,
        [{"attrs": {"k": "m00003", "j": "a'b"}}, {"attrs": {"k": "nope"}},
         {"attrs": {"k": "m00003", "j": "nope"}}, {}],
        # a failing undeclared value is one additionalProperties violation
        lambda kw, ip, sp: ((kw, ip, sp) if ip == "$.attrs.k" else
                            ("additionalProperties", "$.attrs",
                             sp.removesuffix("/enum")))),
    "root_anyof_branch": (
        "tags array<string>",
        lambda m: {"anyOf": [{"properties": {
            "tags": {"type": "array", "items": {"enum": m}}}}]}, _strs,
        [{"tags": ["m00001", "e\x00f"]}, {"tags": ["m00001", "nope"]}, {}], None),
}


@pytest.mark.parametrize("case", sorted(ENUM_CASES))
def test_enum_membership_is_one_native_in(spark, monkeypatch, case):
    """Every schema-literal membership test compiles to one native ``In``
    (``InSet`` past 10 members) on every accessor: the same violation
    triples as pyvalidator for a 1,500-member enum, no Python in the
    plan, and compile round trips that do not grow with the members."""
    ddl, schema_of, members_of, rows, native_view = ENUM_CASES[case]
    cols = [c.split()[0] for c in ddl.split(", ")]
    df = spark.createDataFrame(
        [(i, *(r.get(c) for c in cols)) for i, r in enumerate(rows)],
        f"rid int, {ddl}")
    schema = schema_of(members_of(1500))
    plan = compile_plan(schema, df.schema)
    assert not plan.arrow_specs
    annotated = plan.prepare(df).select(
        "rid", F.explode(plan.violations_col()).alias("v"))
    assert "EvalPython" not in annotated._jdf.queryExecution().executedPlan().toString()
    got = {(r["rid"], r["v"]["keyword"], r["v"]["instance_path"], r["v"]["schema_path"])
           for r in annotated.collect()}
    validator = compile_python_validator(schema)
    want = {(i, *(native_view or (lambda *t: t))(*v))
            for i, r in enumerate(rows)
            for v in validator.validate(
                {c: json.loads(x) if c == "meta" else x for c, x in r.items()}, "$")}
    assert got == want and want

    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    calls = [0]
    send = client.send_command

    def counting(command, *args, **kwargs):
        # py4j frees dead proxies ("m" commands) from a background thread
        calls[0] += not command.startswith("m\n")
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def round_trips(n):
        calls[0] = 0
        compile_plan(schema_of(members_of(n)), df.schema)
        return calls[0]

    round_trips(30)  # warm-up
    assert abs(round_trips(3000) - round_trips(30)) <= 8


def test_out_of_range_integer_enum_member(spark):
    """An integer member no bigint can hold is dropped at compile time:
    it equals no value of the column."""
    schema = {"type": "object", "properties": {"n": {"enum": [2 ** 70, 5]}}}
    df = spark.createDataFrame([(5,), (6,)], "n bigint")
    plan = compile_plan(schema, df.schema)
    got = {(r["n"], v["keyword"], v["instance_path"], v["schema_path"])
           for r in df.select("n", plan.violations_col().alias("vs")).collect()
           for v in r["vs"]}
    validator = compile_python_validator(schema)
    want = {(n, v.keyword, v.instance_path, v.schema_path)
            for n in (5, 6) for v in validator.validate({"n": n}, "$")}
    assert got == want and len(want) == 1
