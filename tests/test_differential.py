"""Differential testing: the NATIVE Column compile path must agree with
the ground-truth Python validator (plans/pyvalidator.py) on typed rows.

Hypothesis generates random typed rows + keyword parameters; both paths
validate the same data; verdict sets must match exactly. This pins the
tricky typed-table semantics (SQL NULL = absent; value keywords pass on
absent; draft-4 numeric edge cases) against the conformance-tested core.
"""

import copy
import json
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from themis_spark.plans.compiler import compile_plan
from themis_spark.plans.pyvalidator import compile_python_validator

TEXT = st.one_of(st.none(), st.text(alphabet="abxy ", max_size=12))
NUM = st.one_of(st.none(), st.integers(min_value=-50, max_value=50))

ROWS = st.lists(st.tuples(TEXT, NUM, TEXT), min_size=1, max_size=12)

SCHEMAS = st.fixed_dictionaries(
    {
        "type": st.just("object"),
        "required": st.lists(st.sampled_from(["s", "n", "t"]), max_size=3, unique=True),
        "properties": st.fixed_dictionaries(
            {
                "s": st.fixed_dictionaries(
                    {"type": st.just("string")},
                    optional={
                        "minLength": st.integers(0, 6),
                        "maxLength": st.integers(2, 10),
                        "pattern": st.sampled_from(["^a", "b$", "x"]),
                        "enum": st.lists(st.sampled_from(["a", "ab", "xy", "b"]), min_size=1, max_size=3),
                    },
                ),
                "n": st.fixed_dictionaries(
                    {"type": st.just("integer")},
                    optional={
                        "minimum": st.integers(-20, 20),
                        "maximum": st.integers(-20, 20),
                        "exclusiveMinimum": st.booleans(),
                        "exclusiveMaximum": st.booleans(),
                        "multipleOf": st.integers(1, 7),
                    },
                ),
            }
        ),
    }
)


def _python_verdict(schema: dict, row: tuple) -> bool:
    """Ground truth: a typed row as a JSON object, SQL NULL = absent."""
    doc = {}
    for k, v in zip(["s", "n", "t"], row):
        if v is not None:
            doc[k] = v
    v = compile_python_validator(schema)
    return v.is_valid(doc)


@pytest.mark.spark
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(rows=ROWS, schema=SCHEMAS)
def test_native_path_matches_python_core(spark, rows, schema):
    # exclusive bounds without the bound itself are meaningless in draft-4
    props = schema["properties"]
    if "exclusiveMinimum" in props["n"] and "minimum" not in props["n"]:
        props["n"].pop("exclusiveMinimum")
    if "exclusiveMaximum" in props["n"] and "maximum" not in props["n"]:
        props["n"].pop("exclusiveMaximum")

    df = spark.createDataFrame(rows, "s string, n long, t string")
    plan = compile_plan(schema, df.schema)
    got = [
        r["ok"]
        for r in plan.prepare(df).select((F.size(plan.violations_col()) == 0).alias("ok")).collect()
    ]
    want = [_python_verdict(schema, row) for row in rows]
    assert got == want, f"schema={json.dumps(schema)} rows={rows}"


# ---- combinators on typed columns (round-2: native anyOf/oneOf/not/allOf)

_BRANCH = st.one_of(
    st.fixed_dictionaries({}, optional={
        "minimum": st.integers(-20, 20),
        "maximum": st.integers(-20, 20),
        "multipleOf": st.integers(1, 7),
        "enum": st.lists(st.integers(-5, 5), min_size=1, max_size=3),
    }),
    st.fixed_dictionaries({"type": st.just("string")}),
)

_COMB_SCHEMAS = st.fixed_dictionaries({
    "type": st.just("object"),
    "properties": st.fixed_dictionaries({
        "n": st.one_of(
            st.fixed_dictionaries({"anyOf": st.lists(_BRANCH, min_size=1, max_size=3)}),
            st.fixed_dictionaries({"oneOf": st.lists(_BRANCH, min_size=1, max_size=3)}),
            st.fixed_dictionaries({"allOf": st.lists(_BRANCH, min_size=1, max_size=3)}),
            st.fixed_dictionaries({"not": _BRANCH}),
        ),
    }),
})


@pytest.mark.spark
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(rows=ROWS, schema=_COMB_SCHEMAS)
def test_native_combinators_match_python_core(spark, rows, schema):
    df = spark.createDataFrame(rows, "s string, n long, t string")
    plan = compile_plan(schema, df.schema)
    assert not plan.arrow_specs, "combinators over longs must stay native"
    got = [
        r["ok"]
        for r in plan.prepare(df).select((F.size(plan.violations_col()) == 0).alias("ok")).collect()
    ]
    want = [_python_verdict(schema, row) for row in rows]
    assert got == want, f"schema={json.dumps(schema)} rows={rows}"


# ---- one keyword table, every accessor: the scalar schemas above applied
# to array elements, map values and Variant properties

#: per row: up to three strings and up to three integers, None = JSON null
_VALUE_ROWS = st.lists(
    st.tuples(st.lists(TEXT, max_size=3), st.lists(NUM, max_size=3)),
    min_size=1, max_size=8)


def _scalar_subs(schema: dict) -> tuple[dict, dict]:
    """The generated string and integer subschemas, with an exclusive
    bound dropped where its bound is missing (meaningless in draft-4)."""
    s, n = schema["properties"]["s"], schema["properties"]["n"]
    for excl, bound in (("exclusiveMinimum", "minimum"), ("exclusiveMaximum", "maximum")):
        if bound not in n:
            n.pop(excl, None)
    return s, n


def _layout(accessor: str, s: dict, n: dict, rows: list):
    """(column DDL, table schema, Spark rows, JSON documents) placing the
    strings under ``s`` and the integers under ``n`` through ``accessor``."""
    if accessor == "array_element":
        props = {"a": {"type": "array", "items": s}, "b": {"type": "array", "items": n}}
        docs = [{"a": ss, "b": ns} for ss, ns in rows]
        return "a array<string>, b array<bigint>", props, [(d["a"], d["b"]) for d in docs], docs
    if accessor == "map_value":
        props = {"a": {"type": "object", "additionalProperties": s},
                 "b": {"type": "object", "additionalProperties": n}}
        docs = [{"a": {f"k{i}": x for i, x in enumerate(ss)},
                 "b": {f"k{i}": x for i, x in enumerate(ns)}} for ss, ns in rows]
        return ("a map<string,string>, b map<string,bigint>", props,
                [(d["a"], d["b"]) for d in docs], docs)
    # a copy per property: pyvalidator memoizes a compiled node by its
    # id(), so one shared dict would report the first property's path
    keys = [f"s{i}" for i in range(3)] + [f"n{i}" for i in range(3)]
    props = {"j": {"type": "object", "properties": {
        k: copy.deepcopy(s if k[0] == "s" else n) for k in keys}}}
    docs = [{"j": {**{f"s{i}": x for i, x in enumerate(ss)},
                   **{f"n{i}": x for i, x in enumerate(ns)}}} for ss, ns in rows]
    return "j string", props, [(json.dumps(d["j"]),) for d in docs], docs


@pytest.mark.spark
@pytest.mark.parametrize("accessor", ["array_element", "map_value", "variant_property"])
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(rows=_VALUE_ROWS, schema=SCHEMAS)
def test_scalar_keywords_match_python_core_on_every_accessor(spark, accessor, rows, schema):
    """The scalar schemas of ``test_native_path_matches_python_core``,
    where NULL is JSON null: every row's verdict matches pyvalidator's.
    Array elements and Variant properties also match triple for triple;
    an element triple names the array (one per array and keyword), so
    pyvalidator's per-index paths are mapped to it. A map value failing
    ``additionalProperties`` reports that keyword at the map."""
    s, n = _scalar_subs(schema)
    ddl, props, data, docs = _layout(accessor, s, n, rows)
    table = {"type": "object", "properties": props}
    df = spark.createDataFrame([(i, *r) for i, r in enumerate(data)], f"rid int, {ddl}")
    plan = compile_plan(table, df.schema)
    assert not plan.arrow_specs, "scalar keywords must stay native on every accessor"
    got = {r["rid"]: {(v["keyword"], v["instance_path"], v["schema_path"]) for v in r["vs"]}
           for r in plan.prepare(df).select("rid", plan.violations_col().alias("vs")).collect()}
    validator = compile_python_validator(table)
    want = {i: {(v.keyword, re.sub(r"\[\d+\]$", "", v.instance_path), v.schema_path)
                for v in validator.validate(doc, "$")}
            for i, doc in enumerate(docs)}
    ctx = f"schema={json.dumps(table)} rows={rows}"
    assert {i: not vs for i, vs in got.items()} == {i: not vs for i, vs in want.items()}, ctx
    if accessor != "map_value":
        assert got == want, ctx
