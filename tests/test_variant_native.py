"""Differential tests: bounded-unroll native Variant validation must agree
with the Python closure validator (the semantic ground truth) triple for
triple — including rows deeper than the unroll that route through the
gated Arrow residue."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from themis_spark.plans.compiler import compile_plan
from themis_spark.plans.parser import parse_schema
from themis_spark.plans.pyvalidator import compile_python_validator
from themis_spark.plans.variant_native import try_compile_variant_native

META_SCHEMA = {
    "id": "pages",
    "type": "object",
    "properties": {
        "url": {"type": "string"},
        "meta": {"$ref": "#/definitions/meta"},
    },
    "definitions": {
        "meta": {
            "type": "object",
            "required": ["tags"],
            "properties": {
                "tags": {
                    "type": "array",
                    "items": {"type": "string"},
                    "uniqueItems": True,
                    "maxItems": 5,
                },
                "score": {"type": "number", "minimum": 0, "maximum": 1},
                "label": {"type": "string", "minLength": 2, "pattern": "^[a-z]+$"},
                "kind": {"enum": ["page", "post", 3, True, None]},
                "parent": {"$ref": "#/definitions/meta"},
            },
        }
    },
}

DOCS = [
    None,                                                      # absent
    '{"tags": ["a", "b"]}',                                    # clean
    '{"tags": ["a", "a"]}',                                    # dup tags
    '{"tags": ["a", 1]}',                                      # bad element type
    '{"tags": "nope"}',                                        # tags not array
    '{"tags": [1, 1.0]}',                                      # numeric deep-equal dup
    '{"tags": ["a","b","c","d","e","f"]}',                     # maxItems
    '{}',                                                      # required tags missing
    '{"tags": null}',                                          # JSON null present
    'null',                                                    # root JSON null
    '[1, 2]',                                                  # root array
    'not json at all',                                         # malformed
    '{"tags": [], "score": -0.5}',                             # minimum
    '{"tags": [], "score": 2}',                                # maximum
    '{"tags": [], "score": "high"}',                           # wrong type passes bounds
    '{"tags": [], "label": "x"}',                              # minLength
    '{"tags": [], "label": "XYZ"}',                            # pattern
    '{"tags": [], "kind": "page"}',                            # enum ok
    '{"tags": [], "kind": "other"}',                           # enum fail
    '{"tags": [], "kind": 3.0}',                               # enum numeric equal
    '{"tags": [], "kind": 3}',
    '{"tags": [], "kind": true}',                              # enum bool
    '{"tags": [], "kind": 1}',                                 # 1 != true in draft-4
    '{"tags": [], "kind": null}',                              # enum null member
    '{"tags": [], "parent": {"tags": ["x"]}}',                 # depth 1
    '{"tags": [], "parent": {"tags": ["x","x"]}}',             # nested dup
    '{"tags": [], "parent": {"parent": {"tags": []}}}',        # missing nested required
    # depth 4 (beyond unroll=3) → Arrow residue; deep violation inside
    '{"tags": [], "parent": {"tags": [], "parent": {"tags": [], "parent": '
    '{"tags": [], "parent": {"tags": ["d","d"]}}}}}',
    # depth 5, clean
    '{"tags": [], "parent": {"tags": [], "parent": {"tags": [], "parent": '
    '{"tags": [], "parent": {"tags": [], "parent": {"tags": []}}}}}}',
]


def _expected(validator, docs):
    out = set()
    for i, raw in enumerate(docs):
        if raw is None:
            continue
        try:
            doc = json.loads(raw)
        except ValueError:
            out.add((i, "type", "$.meta", "pages#"))
            continue
        for v in validator.validate(doc, "$.meta"):
            out.add((i, v.keyword, v.instance_path, v.schema_path))
    return out


def _actual(spark, unroll):
    rows = [(i, raw) for i, raw in enumerate(DOCS)]
    df = spark.createDataFrame(rows, "row_id int, meta string")
    plan = compile_plan(META_SCHEMA, df.schema, variant_unroll_depth=unroll)
    ann = plan.prepare(df).select("row_id", plan.violations_col().alias("violations"))
    got = set()
    for r in ann.select("row_id", F.explode("violations").alias("v")).collect():
        got.add((r["row_id"], r["v"]["keyword"], r["v"]["instance_path"], r["v"]["schema_path"]))
    return got, plan


@pytest.mark.spark
def test_variant_native_matches_python(spark):
    registry, root = parse_schema(META_SCHEMA)
    validator = compile_python_validator(
        META_SCHEMA["properties"]["meta"], registry=registry, base_uri=root
    )
    expected = _expected(validator, DOCS)

    got, plan = _actual(spark, unroll=3)
    assert plan.variant_arrays, "native variant compile should engage"
    assert plan.arrow_specs and plan.arrow_specs[0].gate is not None, \
        "cyclic schema must leave a gated Arrow residue"
    assert got == expected

    # full-Arrow reference run (unroll disabled) must agree too
    got0, plan0 = _actual(spark, unroll=0)
    assert not plan0.variant_arrays and plan0.arrow_specs[0].gate is None
    assert got0 == expected


@pytest.mark.spark
def test_unsupported_keywords_fall_back(spark):
    # patternProperties over unknown-shape JSON needs key iteration →
    # still Arrow-only (combinators are native since round 2)
    schema = {
        "id": "s",
        "type": "object",
        "properties": {
            "meta": {"type": "object", "patternProperties": {"^x": {"type": "string"}}}
        },
    }
    df = spark.createDataFrame([('{"x1": 1}',)], "meta string")
    plan = compile_plan(schema, df.schema)
    assert not plan.variant_arrays
    assert len(plan.arrow_specs) == 1 and plan.arrow_specs[0].gate is None


COMBINATOR_META = {
    "id": "comb",
    "type": "object",
    "properties": {
        "meta": {
            "type": "object",
            "properties": {
                # anyOf: short string OR big number
                "a": {"anyOf": [{"type": "string", "maxLength": 3},
                                {"type": "number", "minimum": 100}]},
                # oneOf: exactly one of (multiple of 3, multiple of 5)
                "b": {"oneOf": [{"multipleOf": 3}, {"multipleOf": 5}]},
                # not: anything but the literal 'no'
                "c": {"not": {"enum": ["no"]}},
                # allOf: conjunction emits INNER triples
                "d": {"allOf": [{"minimum": 0}, {"maximum": 10}]},
            },
            "dependencies": {
                "a": ["b"],                       # property form
                "c": {"required": ["d"]},          # schema form
            },
        }
    },
}

COMBINATOR_DOCS = [
    '{"a": "ok", "b": 3}',                 # all fine
    '{"a": "toolong", "b": 5}',            # anyOf fail
    '{"a": 500, "b": 9}',                  # anyOf ok via number branch
    '{"b": 15}',                           # oneOf fail (both branches)
    '{"b": 7}',                            # oneOf fail (neither)
    '{"c": "no", "d": 5}',                 # not fail
    '{"c": "yes", "d": 5}',                # ok
    '{"d": -1}',                           # allOf inner minimum fail
    '{"d": 11}',                           # allOf inner maximum fail
    '{"a": "x"}',                          # dependencies property fail (no b)
    '{"c": "hi"}',                         # dependencies schema fail (no d)
    '{}',                                  # vacuous
    '{"a": null}',                         # JSON-null a: fails both anyOf branches
]


@pytest.mark.spark
def test_variant_native_combinators_match_python(spark):
    """anyOf/oneOf/not/allOf + dependencies compile NATIVELY on the
    variant path (no Arrow spec) and agree with the Python ground truth
    triple for triple (round-1 verdict items 1-2)."""
    registry, root = parse_schema(COMBINATOR_META)
    validator = compile_python_validator(
        COMBINATOR_META["properties"]["meta"], registry=registry, base_uri=root
    )
    expected = _expected(validator, COMBINATOR_DOCS)

    rows = [(i, raw) for i, raw in enumerate(COMBINATOR_DOCS)]
    df = spark.createDataFrame(rows, "row_id int, meta string")
    plan = compile_plan(COMBINATOR_META, df.schema)
    assert plan.variant_arrays, "combinators must compile natively"
    assert not plan.arrow_specs, "no Arrow fallback for combinator schemas"
    got = set()
    ann = plan.prepare(df).select("row_id", plan.violations_col().alias("violations"))
    for r in ann.select("row_id", F.explode("violations").alias("v")).collect():
        got.add((r["row_id"], r["v"]["keyword"], r["v"]["instance_path"], r["v"]["schema_path"]))
    assert got == expected


@pytest.mark.spark
def test_acyclic_variant_schema_has_no_residue(spark):
    schema = {
        "id": "s",
        "type": "object",
        "properties": {
            "meta": {
                "type": "object",
                "required": ["a"],
                "properties": {"a": {"type": "integer", "minimum": 0}},
            }
        },
    }
    df = spark.createDataFrame(
        [('{"a": 1}',), ('{"a": -2}',), ('{"a": 1.5}',), ('{"b": 1}',), ('{"a": 2.0}',)],
        "meta string",
    )
    plan = compile_plan(schema, df.schema)
    assert plan.variant_arrays and not plan.arrow_specs, \
        "acyclic supported schema: fully native, zero Python"
    n = plan.prepare(df).select(F.size(plan.violations_col()).alias("n")).collect()
    assert [r["n"] for r in n] == [0, 1, 1, 1, 0]


@pytest.mark.spark
def test_deferred_residual_union_equals_inline(spark):
    from themis_spark.operators import validate as V

    rows = [(i, raw) for i, raw in enumerate(DOCS)]
    df = spark.createDataFrame(rows, "row_id int, meta string")
    plan = compile_plan(META_SCHEMA, df.schema, variant_unroll_depth=3)

    inline = V.annotate(df, plan, keep=["row_id"])
    want = {
        (r["url"], r["keyword"], r["instance_path"], r["schema_path"])
        for r in V.violations_df(inline, key_col="row_id", partition_col=None).collect()
    }

    deferred = V.annotate(df, plan, keep=["row_id"], defer_residual=True)
    got_df = V.violations_df(deferred, key_col="row_id", partition_col=None)
    res = V.residual_violations_df(df, plan, key_col="row_id", partition_col=None)
    assert res is not None
    got = {
        (r["url"], r["keyword"], r["instance_path"], r["schema_path"])
        for r in got_df.unionByName(res).collect()
    }
    assert got == want and got  # non-empty, identical


#: json_deep's node shape: a cyclic ``child`` with four properties
NODE_SCHEMA = {
    "id": "docs",
    "type": "object",
    "properties": {"doc": {"$ref": "#/definitions/node"}},
    "definitions": {
        "node": {
            "type": "object",
            "required": ["id", "kind"],
            "properties": {
                "id": {"type": "integer", "minimum": 0, "maximum": 1000000},
                "kind": {"pattern": "^[a-z]+"},
                "tags": {"uniqueItems": True},
                "child": {"$ref": "#/definitions/node"},
            },
        }
    },
}


@pytest.mark.spark
@pytest.mark.parametrize("fold", [True, False])
def test_residual_gate_occurs_once_per_consumer(spark, fold):
    """The deep guard gates a column's checks once, not once per check:
    its frontier probe occurs once in each consumer of the annotated
    plan — the violations gate, ``_residual_row`` and, when folded, the
    gated UDF input — and nowhere else."""
    from themis_spark.operators import validate as V

    df = spark.createDataFrame([("u", '{"id": 1, "kind": "a"}')],
                               "url string, doc string")
    plan = compile_plan(NODE_SCHEMA, df.schema, variant_unroll_depth=3)
    ann = V.annotate(df, plan, keep=["url"], defer_residual=not fold)
    analyzed = ann._jdf.queryExecution().analyzed().toString()
    probes = len(re.findall(r"\$\.child\.child\.child\.child(?![.\w])", analyzed))
    assert probes == (3 if fold else 2), probes
