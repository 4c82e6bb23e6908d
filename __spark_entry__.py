"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: compile the documents schema, run the fused
validation pass on sf0.001, return the violation rows.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2 (draft-4 keyword checks, stats, constraints, dedup,
similarity, text analysis, multimodal decode, web/pipeline ops). EVERY
query has a DuckDB oracle: hashes/fingerprints use the portable
md5-based 60-bit hash (themis_spark.functions.hashing) so DuckDB
replays MinHash/SimHash signatures exactly; hyperplanes/centroids/
weights enter as literals or init-only derivations both engines
re-compute; iterative ops (PageRank, duplicate clusters) use integer
or recursive-CTE replays. Ops whose OUTPUT bytes aren't portable (HLL
sketch internals) assert oracle-checkable claims about them instead
(exact count + estimate-within-bound). Checkpoint/resume and streaming
are covered by tests/ (kill-and-resume, batch-boundary contracts).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from themis_spark.functions import hashing
from themis_spark.operators import constraints as C
from themis_spark.operators import dedup as D
from themis_spark.operators import multimodal as M
from themis_spark.operators import similarity as S
from themis_spark.operators import stats as ST2
from themis_spark.operators import sessions as SS
from themis_spark.operators import layout as LY
from themis_spark.operators import text as X
from themis_spark.operators import pii as PII
from themis_spark.operators import web as WB
from themis_spark.operators import validate as V
from themis_spark.plans.compiler import compile_plan

# Flagship schema over the driver's `documents` table — exercises the
# pinned keyword set (type, enum, pattern, required + bounds).
DOCS_SCHEMA = {
    "id": "documents",
    "type": "object",
    "required": ["doc_id", "text", "lang"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 50, "maxLength": 20000},
        "lang": {"enum": ["en", "zh", "es", "de", "fr"]},
        "source": {"type": "string", "pattern": "^src[0-9]+$"},
        "n_chars": {"type": "integer", "minimum": 1},
    },
}

LANGS5 = ["en", "zh", "es", "de", "fr"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fused validation pass over sf0.001 documents."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    plan = compile_plan(DOCS_SCHEMA, docs.schema)
    ann = V.annotate(docs, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_validate_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    plan = compile_plan(DOCS_SCHEMA, docs.schema)
    ann = V.annotate(docs, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


def q_kw_pattern(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", F.regexp_like("text", F.lit("join")).cast("int").alias("ok")
    )


def q_kw_enum(spark, sf):
    return _t(spark, sf, "events").select(
        "event_id",
        F.col("event_type").isin("error", "signup", "purchase").cast("int").alias("ok"),
    )


def q_kw_pattern_re2(spark, sf):
    # round 5 (BASELINE.json north star: "regex via pyarrow.compute"):
    # a pattern Java REJECTS — (?P<> named group + \A/\Z anchors —
    # through the REAL compiled plan, evaluated vectorized on the RE2
    # tier. DuckDB's regexp engine is also RE2, so the oracle replays
    # the verdict through the same engine family (\Z spelled \z there,
    # the same translation regex_triage applies).
    from themis_spark import compile_plan

    d = _t(spark, sf, "documents")
    digits = F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0")
    code = (
        F.when(F.col("doc_id") % 11 == 5, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 3 == 0, F.concat(F.lit("ab-"), digits))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("Ab-"), digits))
        .otherwise(F.concat(F.lit("ab-"), digits, F.lit("9")))
    )
    frame = d.select("doc_id", code.alias("code"))
    plan = compile_plan(
        {"type": "object", "properties": {"code": {
            "type": "string",
            "pattern": r"\A(?P<cc>[a-z]{2})-[0-9]{3}\Z"}}},
        frame.schema)
    return frame.select("doc_id", F.size(plan.violations_col())
                        .alias("n_viol"))


def q_kw_enum_broadcast(spark, sf):
    # north star: "enum via broadcast hash sets": a 15,000-member enum
    # compiles to one native In, which Catalyst turns into an InSet (a
    # hash set shipped with each task); membership is a parity formula,
    # so the oracle restates it without the list
    from themis_spark import compile_plan

    members = [f"item_{i:05d}" for i in range(0, 30000, 2)]
    o = _t(spark, sf, "orders")
    item = F.concat(F.lit("item_"), F.lpad(
        (F.col("o_orderkey") % 30000).cast("string"), 5, "0"))
    frame = o.select("o_orderkey", item.alias("item"))
    plan = compile_plan(
        {"type": "object",
         "properties": {"item": {"type": "string", "enum": members}}},
        frame.schema)
    return frame.select("o_orderkey", F.size(plan.violations_col())
                        .alias("n_viol"))


def q_kw_required(spark, sf):
    d = _t(spark, sf, "documents")
    return d.agg(
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("text_nulls"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("lang_nulls"),
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0)).alias("source_nulls"),
    )


def q_kw_range(spark, sf):
    return _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        ((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50)).cast("int").alias("ok"),
    )


def q_kw_length(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", (F.length("text") >= 100).cast("int").alias("ok")
    )


def q_kw_multipleof(spark, sf):
    return _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.pmod("l_partkey", F.lit(5)) == 0).cast("int").alias("ok"),
    )


def q_kw_uniqueitems(spark, sf):
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    return _t(spark, sf, "documents").select(
        "doc_id",
        (F.size(F.array_distinct(toks)) == F.size(toks)).cast("int").alias("all_unique"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def q_kw_json(spark, sf):
    return _t(spark, sf, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# anyOf/oneOf/not over typed columns — compiled natively by compile_plan
# (round-1 verdict item 1 "Done =" criterion: kw_combinators oracle green)
COMB_SCHEMA = {
    "id": "lineitem_checks",
    "type": "object",
    "properties": {
        "l_quantity": {"anyOf": [{"maximum": 10}, {"minimum": 40}]},
        "l_linenumber": {"oneOf": [{"multipleOf": 2}, {"multipleOf": 3}]},
        "l_returnflag": {"not": {"enum": ["R"]}},
    },
}


def q_kw_combinators(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "rid", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    plan = compile_plan(COMB_SCHEMA, li.schema)
    ann = V.annotate(li, plan, keep=["rid"])
    return V.violations_df(ann, key_col="rid", partition_col=None).drop("detail")


def q_kw_dependencies(spark, sf):
    # root-level cross-column dependency (verdict item 9); the driver
    # corpus is violation-free, so NULLs are planted deterministically
    d = _t(spark, sf, "documents").withColumn(
        "n_chars",
        F.when(F.pmod("doc_id", F.lit(31)) == 0, F.lit(None).cast("long"))
        .otherwise(F.col("n_chars")))
    schema = {"id": "docs_dep", "type": "object",
              "properties": {"source": {}, "n_chars": {}},
              "dependencies": {"source": ["n_chars"]}}
    plan = compile_plan(schema, d.schema)
    ann = V.annotate(d, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


# $ref into definitions, draft-4 built-in formats (ipv4/email), and
# tuple-form items + additionalItems — all compiled on TYPED columns
# (round-1 verdict: these rows were pytest-only; the oracle re-derives
# validity from the row constructions, so it checks the engine's regex /
# positional semantics, not just regex-vs-same-regex).
REF_FMT_ITEMS_SCHEMA = {
    "id": "kw_extra",
    "type": "object",
    "definitions": {"bounded": {"minimum": 10}},
    "properties": {
        "ip": {"format": "ipv4"},
        "contact": {"format": "email"},
        "host": {"format": "hostname"},
        "link": {"format": "uri"},
        "dt": {"format": "date-time"},
        "ip6": {"format": "ipv6"},
        "pair": {"items": [{"type": "string", "maxLength": 2},
                           {"enum": ["x", "y"]}],
                 "additionalItems": False},
        "n_chars": {"$ref": "#/definitions/bounded"},
    },
}


def q_kw_ref_format_items(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id").withColumn(
        "ip",
        F.when(F.col("doc_id") % 3 == 0, F.lit("999.1.1.1"))
        .otherwise(F.concat(F.pmod("doc_id", F.lit(256)).cast("string"),
                            F.lit(".0.0.1"))),
    ).withColumn(
        "contact",
        F.when(F.col("doc_id") % 5 == 0, F.lit("not-an-email"))
        .otherwise(F.concat(F.lit("u"), F.col("doc_id").cast("string"),
                            F.lit("@example.com"))),
    ).withColumn(
        "pair",
        F.when(F.col("doc_id") % 7 == 0,
               F.array(F.lit("abc"), F.lit("z"), F.lit("q")))
        .otherwise(F.array(F.lit("ab"), F.lit("x"))),
    ).withColumn("n_chars", F.pmod("doc_id", F.lit(40)).cast("long"))
    did = F.col("doc_id").cast("string")
    d = (
        d.withColumn(
            "host",
            F.when(F.col("doc_id") % 11 == 0, F.lit("-bad-.example.com"))
            .otherwise(F.concat(F.lit("w"), did, F.lit(".example.com"))))
        .withColumn(
            "link",
            F.when(F.col("doc_id") % 13 == 0, F.lit("no-scheme-here"))
            .otherwise(F.concat(F.lit("https://example.com/"), did)))
        .withColumn(
            "dt",
            # regex-shaped but unparseable: exercises the try_to_timestamp
            # component of the native date-time check, not just the regex
            F.when(F.col("doc_id") % 17 == 0, F.lit("2024-13-45T99:99:99Z"))
            .otherwise(F.lit("2024-06-01T12:30:00Z")))
        .withColumn(
            "ip6",
            F.when(F.col("doc_id") % 23 == 0, F.lit("12345::1"))
            .otherwise(F.concat(F.lit("2001:db8::"),
                                F.pmod("doc_id", F.lit(9999)).cast("string"))))
    )
    plan = compile_plan(REF_FMT_ITEMS_SCHEMA, d.schema)
    ann = V.annotate(d, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


# allOf on a typed column, schema-form items over ArrayType, and
# SCHEMA-form dependencies at the table root (property-form is
# kw_dependencies) — the remaining pytest-only combinator rows.
ALLOF_ITEMS_DEPS_SCHEMA = {
    "id": "kw_extra2",
    "type": "object",
    "properties": {
        "vals": {"items": {"minimum": 0}, "maxItems": 2, "minItems": 1},
        "score": {"allOf": [{"minimum": 5}, {"maximum": 100}]},
    },
    "dependencies": {"source": {"properties": {"score": {"maximum": 110}}}},
}


def q_kw_allof_items_deps(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "source").withColumn(
        "vals",
        F.array((F.pmod("doc_id", F.lit(11)) - 1).cast("long"),
                F.lit(3).cast("long")),
    ).withColumn("score", F.pmod("doc_id", F.lit(120)).cast("long"))
    plan = compile_plan(ALLOF_ITEMS_DEPS_SCHEMA, d.schema)
    ann = V.annotate(d, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


# map-native patternProperties / additionalProperties / max-minProperties
# plus max/minItems VIOLATION detection (kw_allof_items_deps compiles the
# item-count keywords but its arrays never violate them).
PROPS_COUNT_SCHEMA = {
    "id": "kw_extra3",
    "type": "object",
    "properties": {
        "m": {"patternProperties": {"^k": {"minimum": 0}},
              "additionalProperties": False,
              "maxProperties": 3, "minProperties": 1},
        "vals": {"maxItems": 2, "minItems": 1},
    },
}


def q_kw_props_items_counts(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id")
    v = (F.pmod("doc_id", F.lit(9)) - 1).cast("long")
    empty_map = F.map_from_arrays(F.array().cast("array<string>"),
                                  F.array().cast("array<long>"))
    d = d.withColumn(
        "m",
        F.when(F.col("doc_id") % 4 == 0,
               F.create_map(F.lit("k1"), v,
                            F.lit("x9"), F.lit(1).cast("long"),
                            F.lit("k2"), F.lit(2).cast("long"),
                            F.lit("k3"), F.lit(3).cast("long")))
        .when(F.col("doc_id") % 19 == 0, empty_map)
        .otherwise(F.create_map(F.lit("k1"), v)),
    ).withColumn(
        "vals",
        F.when(F.col("doc_id") % 13 == 0,
               F.array(F.lit(1).cast("long"), F.lit(2).cast("long"),
                       F.lit(3).cast("long")))
        .when(F.col("doc_id") % 17 == 0, F.array().cast("array<long>"))
        .otherwise(F.array(F.lit(1).cast("long"), F.lit(2).cast("long"))),
    )
    plan = compile_plan(PROPS_COUNT_SCHEMA, d.schema)
    ann = V.annotate(d, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


def q_kw_defaults(spark, sf):
    # native `default` insertion (Themis enable_defaults): nulls planted
    # deterministically, filled by the defaults projection pre-validation
    from themis_spark.plans.compiler import defaults_projection

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    d = d.withColumn(
        "lang", F.when(F.col("doc_id") % 6 == 0, F.lit(None).cast("string"))
                 .otherwise(F.col("lang"))
    ).withColumn(
        "n_chars", F.when(F.col("doc_id") % 10 == 0, F.lit(None).cast("long"))
                    .otherwise(F.col("n_chars")))
    schema = {"id": "docs_defaults", "type": "object",
              "properties": {"lang": {"default": "und"},
                             "n_chars": {"default": 0}}}
    return d.select(*defaults_projection(schema, d.columns))


def q_kw_custom_format(spark, sf):
    # registerFormat extension point (Themis EP3): a custom format is a
    # Python callable, so it compiles to the ARROW path — this oracle
    # exercises the vectorized fallback end-to-end, not the native regex
    from themis_spark.plans.pyvalidator import register_format

    register_format("even-len", lambda s: len(s) % 2 == 0)
    d = _t(spark, sf, "documents").select("doc_id").withColumn(
        "code", F.concat(F.lit("c"), F.col("doc_id").cast("string")))
    schema = {"id": "fmt_custom", "type": "object",
              "properties": {"code": {"format": "even-len"}}}
    plan = compile_plan(schema, d.schema)
    ann = V.annotate(d, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


CYCLE_SCHEMA = {
    "id": "cyc",
    "type": "object",
    "definitions": {"node": {"type": "object",
                             "properties": {"val": {"minimum": 0},
                                            "next": {"$ref": "#/definitions/node"}}}},
    "properties": {"chain": {"$ref": "#/definitions/node"}},
}


def q_kw_ref_cycle(spark, sf):
    # CYCLIC $ref over a dynamic-JSON column — the binding-spec keyword
    # ("$ref resolution with cycle detection", BASELINE.json north_star):
    # a linked-list schema validated at every materialized depth
    d = _t(spark, sf, "documents").select("doc_id")
    v1 = (F.pmod("doc_id", F.lit(5)) - 1).cast("long")
    v2 = (F.pmod("doc_id", F.lit(7)) - 1).cast("long")
    v3 = (F.pmod("doc_id", F.lit(11)) - 1).cast("long")
    depth = F.pmod("doc_id", F.lit(3))
    lvl3 = F.when(depth >= 2, F.struct(v3.alias("val")))
    lvl2 = F.when(depth >= 1, F.struct(v2.alias("val"), lvl3.alias("next")))
    d = d.withColumn("chain", F.to_json(F.struct(v1.alias("val"), lvl2.alias("next"))))
    plan = compile_plan(CYCLE_SCHEMA, d.schema)
    ann = V.annotate(d, plan, keep=["doc_id"])
    return V.violations_df(ann, key_col="doc_id", partition_col=None).drop("detail")


def q_kw_ref_registry(spark, sf):
    # multi-schema registry: a $ref from the page schema into a separately
    # registered common schema, resolved on the TABLE path via the facade
    from themis_spark.api import validator

    common = {"id": "common",
              "definitions": {"pos": {"minimum": 1},
                              "short": {"maxLength": 12}}}
    page = {"id": "page", "type": "object",
            "properties": {"n_chars": {"$ref": "common#/definitions/pos"},
                           "lang": {"$ref": "common#/definitions/short"}}}
    v = validator([page, common])
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url"), "lang",
        F.when(F.col("doc_id") % 8 == 0, F.lit(0).cast("long"))
        .otherwise(F.col("n_chars")).alias("n_chars"))
    return v.validate_table(d, "page").drop("detail")


def _curation_rules():
    return [
        ("min_len", F.length("text") >= 100),
        ("lang_known", F.col("lang").isin(*LANGS5)),
        ("source_ok", F.regexp_like("source", F.lit(r"^src[0-9]+$"))),
        ("max_len", F.length("text") <= 20000),
    ]


def q_text_filter_funnel(spark, sf):
    return X.filter_funnel(_t(spark, sf, "documents"), _curation_rules())


def q_text_filtered(spark, sf):
    return X.apply_filters(_t(spark, sf, "documents"),
                           _curation_rules()).select("doc_id")


def q_validate_verdicts(spark, sf):
    # per-partition pass/fail verdict — the north rule's second output
    # contract beside the violation rows; lang stands in for the Iceberg
    # partition key at sandbox scale
    docs = _t(spark, sf, "documents")
    plan = compile_plan(DOCS_SCHEMA, docs.schema)
    ann = V.annotate(docs, plan, keep=["doc_id", "lang"])
    return V.verdicts_df(ann, partition_col="lang")


def q_stat_basic(spark, sf):
    return _t(spark, sf, "lineitem").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.min("l_extendedprice"), 4).alias("min_p"),
        F.round(F.max("l_extendedprice"), 4).alias("max_p"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_p"),
    )


def q_stat_hist(spark, sf):
    lo, hi, n = 0.0, 600000.0, 20
    v = F.col("o_totalprice")
    w = (hi - lo) / n
    bucket = (
        F.when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(n + 1))
        .otherwise((F.floor((v - lo) / F.lit(w)) + 1).cast("int"))
    )
    return (
        _t(spark, sf, "orders")
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_stat_distinct(spark, sf):
    return _t(spark, sf, "lineitem").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def q_con_unique(spark, sf):
    return C.duplicate_keys(_t(spark, sf, "events"), "user_id").select(
        "user_id", F.col("cnt").alias("cnt")
    )


def q_con_unique_salted(spark, sf):
    return C.duplicate_keys(_t(spark, sf, "events"), "user_id", salted=True).select(
        "user_id", F.col("cnt").alias("cnt")
    )


def q_con_ref(spark, sf):
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    parents = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return C.referential_orphans(orders, "o_custkey", parents, "c_custkey").select(
        "o_orderkey", "o_custkey"
    )


def _urlish(spark, sf):
    # mostly-unique url-like string key (the regime duplicate_keys_hashed
    # targets: long strings, ~1% duplicate rate — every 97th doc collides
    # on one planted canonical url)
    d = _t(spark, sf, "documents")
    return d.select(
        F.when(F.col("doc_id") % 97 == 0,
               F.lit("https://dup.example.com/p/0"))
        .otherwise(F.concat(
            F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string")))
        .alias("url"))


def q_con_unique_hashed(spark, sf):
    # hash-compressed two-stage uniqueness (8-byte shuffle rows + exact
    # re-count over the broadcast candidate set) on the MOSTLY-UNIQUE
    # url regime its contract targets (the r3 bench ran it on the
    # dup-heavy events table, the variant's own anti-recommendation)
    return C.duplicate_keys_hashed(_urlish(spark, sf), "url").select(
        "url", "cnt"
    )


def q_con_unique_auto(spark, sf):
    # probe-and-pick: HLL dup-rate probe routes the dup-heavy events
    # table to the grouped plan (plan shape asserted in pytest)
    return C.duplicate_keys_auto(_t(spark, sf, "events"), "user_id").select(
        "user_id", "cnt"
    )


def q_con_text_invariant(spark, sf):
    # byte-identical-extracted-text invariant (BASELINE.json input_hint):
    # reference = same table with a deterministic planted corruption
    d = _t(spark, sf, "documents")
    ref = d.select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(97)) == 0, F.concat("text", F.lit("X")))
        .otherwise(F.col("text")).alias("text"),
    )
    return C.invariant_violations(d, ref, key="doc_id", text="text").drop("detail")


def q_con_dup_window(spark, sf):
    w = Window.partitionBy("user_id")
    return _t(spark, sf, "events").select(
        "event_id", F.count(F.lit(1)).over(w).alias("user_events")
    )


def q_dedup_exact(spark, sf):
    # the documents corpus has no full-text dups at small sf; dedup on a
    # 5-token prefix digest exercises the same plan with non-empty groups
    d = _t(spark, sf, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, 5))
    return (
        d.select(F.md5(prefix).alias("digest"), F.col("doc_id").alias("member"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("group_size"), F.min("member").alias("keep_key"))
        .where(F.col("group_size") > 1)
    )


def q_dedup_minhash(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return D.minhash_signatures(d, num_hashes=4, shingle_n=3)


def q_dedup_simhash(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return d.select("doc_id", D.simhash_col(F.col("text"), 16).alias("simhash"))


def q_dedup_jaccard(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 60)
    return D.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.05)


def q_dedup_containment(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 60)
    return D.ngram_containment_pairs(d, shingle_n=3, threshold=0.1)


def q_text_tokens(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id",
        X.token_count_col("text").alias("n_tokens"),
        X.bpe_ish_token_count_col("text").alias("n_bpe_ish"),
    )


def q_text_langid(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", X.language_id_col("text").alias("lang_guess")
    )


def q_text_quality(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", X.quality_score_col("text").alias("quality")
    )


def q_text_extract(spark, sf):
    # end-to-end per-row invariant: build page bytes, extract, compare —
    # extraction must reproduce the text byte-identically
    d = _t(spark, sf, "documents")
    html = F.encode(F.concat(
        F.lit("<html><head><title>t</title></head><body><p>"),
        F.col("text"), F.lit("</p></body></html>")), "UTF-8")
    ext = X.extracted_text_col(html)
    return d.select(
        "doc_id",
        F.sha2(ext, 256).alias("extracted_sha"),
        (ext == F.col("text")).alias("invariant_ok"),
    )


def q_text_fingerprint(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", X.fingerprint_col("text").alias("fp")
    )


def q_text_gopher(spark, sf):
    # Gopher-style quality-rule bundle (SURVEY §2 LLM-pipeline ops):
    # word-count/mean-word-length bands, symbol + alpha-word ratios,
    # stopword presence, and the conjunction flag
    return X.gopher_quality_df(_t(spark, sf, "documents"))


def q_text_repetition(spark, sf):
    # repetition filters: duplicate token / 2-gram / 3-gram fractions
    return X.repetition_df(_t(spark, sf, "documents"))


def q_dedup_decontaminate(spark, sf):
    # benchmark decontamination: docs sharing any token 8-gram with the
    # "eval set" (deterministic 4% sample by key — benchmark ⊆ corpus,
    # so every bench doc self-reports and near-dups of bench docs hit)
    d = _t(spark, sf, "documents")
    bench = d.where(F.pmod("doc_id", F.lit(25)) == 0)
    return D.contamination_hits(d, bench, shingle_n=8)


def q_dedup_bloom(spark, sf):
    # Bloom-filter decontamination: same corpus split as
    # dedup_decontaminate, but membership goes through the 2^20-bit
    # portable-hash Bloom array — false positives (deterministic, same
    # md5 math both engines) are PART of the compared output.
    d = _t(spark, sf, "documents")
    bench = d.where(F.pmod("doc_id", F.lit(25)) == 0)
    words = D.bloom_filter_build(bench, shingle_n=8, m_bits=1 << 20,
                                 n_hashes=4)
    return D.bloom_contamination_hits(d, words, shingle_n=8, n_hashes=4)


def _bloom_sql(m_bits: int = 1 << 20, n_hashes: int = 4) -> str:
    from themis_spark.operators.dedup import _BLOOM_SEED0

    seeds = ", ".join(str(_BLOOM_SEED0 + i) for i in range(n_hashes))
    ph = _H.format(x="CAST(k AS VARCHAR) || ':' || s")
    return f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id,
          CASE WHEN len(toks) < 8 THEN []::VARCHAR[]
               ELSE list_distinct(list_transform(range(1, len(toks)-6),
                 i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]
                   ||' '||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]))
               END AS sh FROM t),
        g AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        seeds AS (SELECT unnest([{seeds}]) AS k),
        bpos AS (SELECT DISTINCT ({ph}) % {m_bits} AS p
                 FROM g CROSS JOIN seeds WHERE doc_id % 25 = 0),
        dp AS (SELECT doc_id, s, ({ph}) % {m_bits} AS p
               FROM g CROSS JOIN seeds),
        hit AS (SELECT doc_id, s, count(*) AS nin
                FROM dp JOIN bpos USING (p) GROUP BY doc_id, s),
        flags AS (SELECT doc_id, count(*) AS n_flagged
                  FROM hit WHERE nin = {n_hashes} GROUP BY doc_id),
        ng AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id)
        SELECT ng.doc_id, ng.n_grams, flags.n_flagged
        FROM ng JOIN flags USING (doc_id)
        WHERE flags.n_flagged > 0"""


def q_web_crawl_budget(spark, sf):
    # per-host crawl budgets: rank-proportional shares in integer long
    # arithmetic, politeness caps from per-host delays (even hids get
    # explicit delays, odd fall back to the 1.0 s default).
    d = _t(spark, sf, "documents").select("doc_id")
    hosts = d.select((F.col("doc_id") % 6).alias("hid")).distinct()
    hostname = F.concat(F.lit("h"), F.col("hid").cast("string"),
                        F.lit(".example.com"))
    ranks = hosts.select(hostname.alias("host"),
                         ((F.col("hid") + 1) * 100).alias("rank"))
    delays = hosts.where(F.col("hid") % 2 == 0).select(
        hostname.alias("host"),
        ((F.col("hid") % 3) + 1).cast("double").alias("crawl_delay"))
    return WB.crawl_budgets(ranks, delays, horizon_s=3600,
                            total_budget=5000, max_budget=1500)


_CRAWL_BUDGET_SQL = """
    WITH hid AS (SELECT DISTINCT doc_id % 6 AS hid FROM documents),
    r AS (SELECT hid, 'h' || hid::VARCHAR || '.example.com' AS host,
                 (hid + 1) * 100 AS rank,
                 CASE WHEN hid % 2 = 0 THEN ((hid % 3) + 1)::DOUBLE
                      ELSE 1.0 END AS delay
          FROM hid),
    t AS (SELECT CAST(sum(rank) AS BIGINT) AS tot FROM r)
    SELECT host,
           CAST(floor(3600.0 / greatest(delay, 0.001)) AS BIGINT)
             AS politeness_cap,
           CAST((5000 * rank) // tot AS BIGINT) AS share,
           least(CAST(floor(3600.0 / greatest(delay, 0.001)) AS BIGINT),
                 CAST((5000 * rank) // tot AS BIGINT),
                 1500::BIGINT) AS budget
    FROM r CROSS JOIN t"""


def q_web_frontier(spark, sf):
    # prioritized frontier under per-host budgets: top-budget urls per
    # host by a deterministic priority, rank window + broadcast budgets.
    d = _t(spark, sf, "documents").select("doc_id")
    hid = (F.col("doc_id") % 6).cast("string")
    pages = d.select(
        F.concat(F.lit("https://h"), hid, F.lit(".example.com/p"),
                 F.col("doc_id").cast("string")).alias("url"),
        ((F.col("doc_id") * 7) % 101).alias("priority"))
    budgets = (d.select((F.col("doc_id") % 6).alias("hid")).distinct()
               .select(F.concat(F.lit("h"), F.col("hid").cast("string"),
                                F.lit(".example.com")).alias("host"),
                       ((F.col("hid") % 4) + 2).alias("budget")))
    return WB.crawl_frontier(pages, budgets)


_FRONTIER_SQL = """
    WITH p AS (SELECT
        'h' || (doc_id % 6)::VARCHAR || '.example.com' AS host,
        'https://h' || (doc_id % 6)::VARCHAR || '.example.com/p'
          || doc_id::VARCHAR AS url,
        (doc_id * 7) % 101 AS priority
      FROM documents),
    b AS (SELECT DISTINCT doc_id % 6 AS hid FROM documents),
    bb AS (SELECT 'h' || hid::VARCHAR || '.example.com' AS host,
                  (hid % 4) + 2 AS budget FROM b),
    r AS (SELECT host, url, priority,
                 row_number() OVER (PARTITION BY host
                                    ORDER BY priority DESC, url ASC) AS rank
          FROM p)
    SELECT r.host, r.url, r.priority, r.rank
    FROM r JOIN bb USING (host) WHERE r.rank <= bb.budget"""


def q_text_charset(spark, sf):
    # charset sniff + per-row decode over payloads synthesized in four
    # regimes: plain utf-8, meta-declared latin-1 (with a real é), BOM
    # utf-16be, BOM utf-8. decoded_md5 proves the decode restored the
    # exact original string in every regime.
    from themis_spark.operators.text import _BOM_UTF8, with_decoded_text

    d = _t(spark, sf, "documents").select("doc_id", "text")
    s = F.col("text")
    r = F.col("doc_id") % 4
    payload = (
        F.when(r == 0, F.encode(s, "UTF-8"))
        .when(r == 1, F.encode(
            F.concat(F.lit('<meta charset="iso-8859-1">'), s, F.lit("é")),
            "ISO-8859-1"))
        .when(r == 2, F.encode(s, "UTF-16"))
        .otherwise(F.concat(F.lit(_BOM_UTF8), F.encode(s, "UTF-8")))
    )
    pages = d.select("doc_id", payload.alias("html"))
    out = with_decoded_text(pages)
    return out.select(
        "doc_id", "charset", F.md5("decoded_text").alias("decoded_md5"))


_CHARSET_SQL = """
    SELECT doc_id,
      CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
           WHEN 2 THEN 'utf-16be' ELSE 'utf-8' END AS charset,
      md5(CASE doc_id % 4
            WHEN 1 THEN '<meta charset="iso-8859-1">' || text || 'é'
            ELSE text END) AS decoded_md5
    FROM documents"""


def q_stat_topk(spark, sf):
    # heavy hitters: top-10 most frequent l_partkey values (skew probe)
    from themis_spark.operators.stats import frequent_values

    return frequent_values(_t(spark, sf, "lineitem"), "l_partkey", k=10)


def _ppm_media(spark, sf, limit=200):
    # deterministic P6 payloads built NATIVELY (header + constant fill,
    # dims/fill char derived from doc_id) — real bytes for the real
    # decode kernels, replayable by the DuckDB oracle via the same
    # formula
    d = _t(spark, sf, "documents").where(F.col("doc_id") < limit)
    w = (F.col("doc_id") % 13 + 4).cast("int")
    h = (F.col("doc_id") % 7 + 3).cast("int")
    fill = F.repeat(F.char(F.col("doc_id") % 26 + 97), w * h * 3)
    payload = F.encode(
        F.concat(F.format_string("P6\n%d %d\n255\n", w, h), fill), "UTF-8")
    return d.select("doc_id", payload.alias("payload"))


def q_mm_decode(spark, sf):
    # REAL image decode (builtin numpy PPM codec, no fake): metadata
    # must match the construction formula bit-for-bit
    return M.extract_media_meta(_ppm_media(spark, sf),
                                deterministic_fake=False)


def _png_media(spark, sf, limit=64):
    # real COMPRESSED payloads: constant-fill images PNG-encoded with
    # the stdlib codec, row filters cycling 0-4 so every unfilter path
    # runs; dims/fill reuse _ppm_media's doc_id formulas, so the decoded
    # pixels are formula-replayable by the DuckDB oracle even though
    # the zlib payload bytes themselves are not SQL-expressible
    import numpy as np

    from themis_spark.functions import imagecodec as IC

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 13 + 4, doc_id % 7 + 3
        img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
        payload = IC.encode_png(
            img, row_filters=[(doc_id + i) % 5 for i in range(3)])
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _jpeg_media(spark, sf, limit=64):
    # real ENTROPY-CODED payloads: constant-fill images JPEG-encoded
    # with all-ones quant tables — the regime where baseline JPEG is
    # EXACTLY lossless (constant block → integer DC only, every step
    # integer-preserving), so the decoded pixels are formula-replayable
    # by the DuckDB oracle even though the Huffman bytes are not
    # SQL-expressible. Layouts alternate 4:4:4 / 4:2:0 (constant chroma
    # averages to itself) and every third payload carries restart
    # markers, so subsampled upsampling + RST resync both run.
    import numpy as np

    from themis_spark.functions import jpegcodec as JC

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 13 + 4, doc_id % 7 + 3
        img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
        payload = JC.encode_jpeg_baseline(
            img, subsampling="420" if doc_id % 2 else "444",
            restart_interval=2 if doc_id % 3 == 0 else 0)
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _avi_media(spark, sf, limit=40):
    # MJPG AVI clips in the exactly-lossless regime: constant-fill
    # frames + all-ones quant tables, so each sampled frame's pixel sha
    # replays from the fill formula even though the RIFF/Huffman bytes
    # are not SQL-expressible. Layouts alternate 4:4:4 / 4:2:0 and every
    # third clip carries restart markers.
    import numpy as np

    from themis_spark.functions import avicodec as AV

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 6 + 4, doc_id % 4 + 3
        n = doc_id % 5 + 2
        frames = [np.full((h, w, 3), 97 + (doc_id + 2 * i) % 26,
                          dtype=np.uint8) for i in range(n)]
        payload = AV.encode_avi_mjpeg(
            frames, fps=10, subsampling="420" if doc_id % 2 else "444",
            restart_interval=2 if doc_id % 3 == 0 else 0)
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_video_frames(spark, sf):
    # real video frame sampling: walk the movi chunk index, entropy-
    # decode only every 2nd frame's JPEG, one row per sampled frame
    return M.frame_sample(_avi_media(spark, sf), every_n=2)


def _exif_media(spark, sf, limit=40):
    # constant-fill JPEGs with a spliced APP1 Exif orientation tag
    # rotating through all 8 values: the corrected pixel sha replays
    # from the fill formula (rotations of a constant are the constant)
    # while the display dims prove the transpose for orientations 5-8
    import numpy as np

    from themis_spark.functions import jpegcodec as JC

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 9 + 4, doc_id % 5 + 3
        img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
        payload = JC.insert_exif_orientation(
            JC.encode_jpeg_baseline(img), doc_id % 8 + 1)
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_exif(spark, sf):
    # EXIF-aware decode: orientation tag parsed from APP1/TIFF IFD0,
    # pixels normalized upright, display dims + corrected-pixel sha
    return M.oriented_decode(_exif_media(spark, sf))


def q_mm_decode_jpeg(spark, sf):
    # baseline JPEG (pure-stdlib huffman + IDCT) → resize → P6
    # re-encode: the pixel sha replays bit-exactly from the fill formula
    out = M.resize_images(_jpeg_media(spark, sf), target=(5, 4))
    return out.select("doc_id", F.sha2("resized", 256).alias("resized_sha"),
                      "out_w", "out_h", "src_format")


def _jpeg_progressive_media(spark, sf, limit=48):
    # progressive (SOF2) payloads in the same exactly-lossless regime
    # as _jpeg_media: constant fill + all-ones quant tables, so decoded
    # pixels replay from the fill formula. The scan scripts rotate
    # through successive-approximation (default), spectral-selection-
    # only, and restart-marker variants so every Annex-G decode path
    # (DC/AC first + refinement, EOB runs, RST resync) runs under Spark.
    import numpy as np

    from themis_spark.functions import jpegprogressive as JP

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 13 + 4, doc_id % 7 + 3
        img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
        payload = JP.encode_jpeg_progressive(
            img, subsampling="420" if doc_id % 2 else "444",
            scans=(JP.spectral_only_script(3) if doc_id % 4 == 1 else None),
            restart_interval=2 if doc_id % 3 == 0 else 0)
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_decode_jpeg_prog(spark, sf):
    # progressive JPEG (T.81 Annex G: successive approximation + EOB
    # runs) → resize → P6 re-encode; sha replays from the fill formula
    out = M.resize_images(_jpeg_progressive_media(spark, sf), target=(5, 4))
    return out.select("doc_id", F.sha2("resized", 256).alias("resized_sha"),
                      "out_w", "out_h", "src_format")


def _gif_media(spark, sf, limit=64):
    # real LZW-coded payloads: constant-fill images GIF-encoded with the
    # stdlib codec (GIF is lossless, so decoded pixels ARE the fill
    # formula), interlace on every third payload so the deinterlace
    # path runs under Spark; dims/fill reuse _ppm_media's doc_id formulas
    import numpy as np

    from themis_spark.functions import gifcodec as GC

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 13 + 4, doc_id % 7 + 3
        img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
        payload = GC.encode_gif(img, interlace=(doc_id % 3 == 0))
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_decode_gif(spark, sf):
    # GIF (stdlib LZW + palette + optional interlace) → resize → P6
    # re-encode: the pixel sha replays bit-exactly from the fill formula
    out = M.resize_images(_gif_media(spark, sf), target=(5, 4))
    return out.select("doc_id", F.sha2("resized", 256).alias("resized_sha"),
                      "out_w", "out_h", "src_format")


def q_mm_decode_png(spark, sf):
    # PNG (zlib inflate + scanline unfilter) → resize → P6 re-encode:
    # the pixel sha replays bit-exactly from the fill formula
    out = M.resize_images(_png_media(spark, sf), target=(5, 4))
    return out.select("doc_id", F.sha2("resized", 256).alias("resized_sha"),
                      "out_w", "out_h", "src_format")


_WEBP_MODES = ("literal", "lz77", "lz77_plain", "cache", "subtract_green",
               "predictor", "color", "palette")


def _webp_media(spark, sf, limit=64):
    # real VP8L payloads: constant-fill images encoded with the fixture
    # writer, the MODE cycling by doc_id so every decoder path (LZ77
    # map + plain distances, color cache, all four transforms incl.
    # palette bundling) runs under Spark; VP8L is lossless, so decoded
    # pixels ARE the fill formula — dims/fill reuse _ppm_media's rules
    import numpy as np

    from themis_spark.functions import webpcodec as WC

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 13 + 4, doc_id % 7 + 3
        img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
        payload = WC.encode_webp_vp8l(img, mode=_WEBP_MODES[doc_id % 8])
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_decode_webp(spark, sf):
    # WebP VP8L (pure-stdlib lossless bitstream: prefix codes, LZ77,
    # color cache, all four transforms) → resize → P6 re-encode; the
    # pixel sha replays bit-exactly from the fill formula
    out = M.resize_images(_webp_media(spark, sf), target=(5, 4))
    return out.select("doc_id", F.sha2("resized", 256).alias("resized_sha"),
                      "out_w", "out_h", "src_format")


def _webp_meta_media(spark, sf, limit=60):
    # the metadata tier across all three container variants: VP8L
    # stream header, VP8X extended canvas, and a lossy VP8 keyframe
    # header (dims readable; full decode refuses — exactly what a real
    # crawl's lossy WebPs look like to this engine)
    import numpy as np

    from themis_spark.functions import webpcodec as WC

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 13 + 4, doc_id % 7 + 3
        if doc_id % 3 == 0:
            img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
            payload = WC.encode_webp_vp8l(img)
        elif doc_id % 3 == 1:
            img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
            payload = WC.encode_webp_vp8x(WC.encode_webp_vp8l(img), w, h)
        else:
            payload = WC.encode_vp8_lossy_stub(w, h)
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_meta_webp(spark, sf):
    # REAL header walk (deterministic_fake=False): dims for every WebP
    # variant without entropy decode — the 100 TB metadata fast path
    return M.extract_media_meta(
        _webp_meta_media(spark, sf), deterministic_fake=False,
        fields=("format", "width", "height", "n_frames"))


def q_mm_resize(spark, sf):
    # REAL resize kernel: decode → nearest-neighbor → re-encode; the
    # constant-fill output is formula-replayable (sha of header+fill)
    out = M.resize_images(_ppm_media(spark, sf), target=(5, 4))
    return out.select("doc_id", F.sha2("resized", 256).alias("resized_sha"),
                      "out_w", "out_h", "src_format")


def q_ann_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    q = F.broadcast(queries.select(F.col("vec_id").alias("query_key"), F.col("embedding").alias("q_vec")))
    c = emb.select(F.col("vec_id").alias("neighbor_key"), F.col("embedding").alias("c_vec"))
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_key") != F.col("query_key"))
        .select("query_key", "neighbor_key",
                F.round(S.cosine_col(F.col("q_vec"), F.col("c_vec")), 4).alias("cosine"))
    )
    w = Window.partitionBy("query_key").orderBy(F.col("cosine").desc(), F.col("neighbor_key").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 10)


def _mixed_media(spark, sf, limit=60):
    # mixed REAL payloads for the decode-backed metadata path:
    # doc_id%3==0 baseline JPEG (decodable), ==1 a progressive SOF2
    # header-only stream (dims readable from the frame header; full
    # decode refuses — exactly what a real crawl's progressive JPEGs
    # look like to this engine), ==2 PNG. Dims derive from doc_id
    # formulas so the DuckDB oracle can state them independently.
    import struct as _s

    import numpy as np

    from themis_spark.functions import imagecodec as IC
    from themis_spark.functions import jpegcodec as JC

    rows = []
    for doc_id in range(limit):
        w, h = doc_id % 13 + 4, doc_id % 7 + 3
        if doc_id % 3 == 0:
            img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
            payload = JC.encode_jpeg_baseline(img)
        elif doc_id % 3 == 1:
            seg = _s.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
            payload = (b"\xff\xd8\xff\xc2" + _s.pack(">H", len(seg) + 2)
                       + seg + b"\xff\xd9")
        else:
            img = np.full((h, w, 3), 97 + doc_id % 26, dtype=np.uint8)
            payload = IC.encode_png(img)
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_meta_dims(spark, sf):
    # REAL header decode (deterministic_fake=False): format + dims via
    # the builtin codecs, incl. SOF2 progressive headers (jpeg_dims)
    return M.extract_media_meta(
        _mixed_media(spark, sf), deterministic_fake=False,
        fields=("format", "width", "height", "n_frames"))


def _gradient_media(spark, sf, limit=64):
    # gradient-fill P6 payloads built NATIVELY for the perceptual-hash
    # kernels: v(x,y) = 32 + (ax·x + ay·y) % 56, params derived from the
    # GROUP id (doc_id // 4) so each group of 4 shares one gradient, and
    # a per-variant bump of 11·(doc_id % 4) on the (0,0) corner pixel
    # plants near-duplicates (within-group dhash hamming <= 2). All
    # integer/ASCII, so the DuckDB oracle states the decoded grayscale
    # directly from this formula without parsing the payload.
    d = _t(spark, sf, "documents").where(F.col("doc_id") < limit)
    did = F.col("doc_id")
    gid = F.floor(did / 4).cast("long")
    w = (gid % 9 + 8).cast("int")
    h = (gid % 5 + 8).cast("int")
    ax = (gid % 5 + 3).cast("long")
    ay = (gid % 3 + 5).cast("long")
    idx = F.sequence(F.lit(0), (w * h - 1).cast("int"))

    def v(i):
        x = i % w
        y = F.floor(i / w).cast("long")
        base = F.lit(32) + (ax * x + ay * y) % 56
        bump = F.when((x == 0) & (y == 0), 11 * (did % 4)).otherwise(F.lit(0))
        return (base + bump).cast("int")

    fill = F.array_join(F.transform(idx, lambda i: F.repeat(F.char(v(i)), 3)), "")
    payload = F.encode(
        F.concat(F.format_string("P6\n%d %d\n255\n", w, h), fill), "UTF-8")
    return d.select("doc_id", payload.alias("payload"))


def q_mm_phash(spark, sf):
    # REAL decode → aHash/dHash (integer-exact kernels); the oracle
    # recomputes both hashes from the gradient formula alone
    return M.perceptual_hashes(_gradient_media(spark, sf),
                               methods=("ahash", "dhash"))


def q_mm_image_neardup(spark, sf):
    # perceptual near-dup: dHash + banded Hamming blocking (exact recall
    # for hamming <= 3 under 64/16 banding) — the oracle replays the
    # hashes from the formula and self-joins all pairs
    return M.image_near_duplicates(_gradient_media(spark, sf),
                                   method="dhash", max_hamming=3)


def _wav_media(spark, sf, limit=48):
    # real 16-bit PCM WAV payloads, hand-packed so the planted integer
    # samples survive exactly (encode_wav's float scaling is lossy by
    # design): sawtooth v_i = ((a·i) % p) - p//2 with params from the
    # GROUP id (doc_id // 4), plus a per-variant +3·(doc_id % 4) bump on
    # frame 0 only (n is a multiple of 65, so frame membership is
    # exact) — within-group clips differ in <= 1 energy-profile bit.
    # The DuckDB oracle restates frame energies from this formula.
    import struct as _s

    import numpy as np

    rows = []
    for doc_id in range(limit):
        gid = doc_id // 4
        n = 650 + 65 * (gid % 5)
        a = 3 + gid % 7
        pp = 50 + gid % 13
        i = np.arange(n, dtype=np.int64)
        v = (a * i) % pp - pp // 2
        v[: n // 65] += 3 * (doc_id % 4)
        data = v.astype("<i2").tobytes()
        fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        payload = (b"RIFF"
                   + (4 + 8 + len(fmt) + 8 + len(data)).to_bytes(4, "little")
                   + b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
                   + b"data" + len(data).to_bytes(4, "little") + data)
        rows.append((doc_id, bytearray(payload)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def q_mm_audio_hash(spark, sf):
    # REAL WAV decode → integer-exact energy-profile fingerprint
    return M.audio_fingerprints(_wav_media(spark, sf))


def q_mm_audio_neardup(spark, sf):
    # fingerprint + banded Hamming blocking; oracle brute-forces all
    # pairs from the formula-derived hashes (exact-recall check)
    return M.audio_near_duplicates(_wav_media(spark, sf), max_hamming=3)


def q_mm_meta(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    media = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    # hash/size only → pure native columns (no ArrowEvalPython in the
    # plan — asserted by tests/test_physical_plans.py)
    return M.extract_media_meta(media, fields=("n_bytes", "sha256")).select(
        "doc_id", "n_bytes", F.col("sha256").alias("sha")
    )


def q_dedup_lsh_candidates(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return D.lsh_candidate_pairs(d, num_hashes=12, bands=6)


def q_dedup_simhash_neardup(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    return D.simhash_near_duplicates(d, bits=16, max_hamming=3, block_bits=8)


def q_dedup_clusters(spark, sf):
    # pairs → transitive closure: the keep-one dedup resolution step
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    pairs = D.simhash_near_duplicates(d, bits=16, max_hamming=3, block_bits=8)
    return D.duplicate_clusters(pairs)


def q_ann_embedding_neardup(spark, sf):
    emb = _t(spark, sf, "embeddings").where(F.col("vec_id") < 500)
    return S.embedding_near_duplicates(emb, threshold=0.15, n_planes=4)


def q_drift_ks(spark, sf):
    # split one table into two halves by key parity and measure
    # distribution drift of o_totalprice between them (near-zero KS) —
    # the engine's baseline-vs-run comparison on mergeable histograms
    from themis_spark.operators.constraints import drift_check
    from themis_spark.operators.stats import HistSpec, column_stats

    orders = _t(spark, sf, "orders")
    spec = [HistSpec("o_totalprice", 0.0, 600000.0, 20)]
    a = column_stats(orders.where(F.pmod("o_orderkey", F.lit(2)) == 0),
                     ["o_totalprice"], None, spec, "a")
    b = column_stats(orders.where(F.pmod("o_orderkey", F.lit(2)) == 1),
                     ["o_totalprice"], None, spec, "b")
    r = drift_check(a, b, "o_totalprice", threshold=0.1)
    return spark.createDataFrame(
        [(r["column"], float(round(r["ks"], 6)), bool(r["drifted"]))],
        "column string, ks double, drifted boolean",
    )


def q_drift_psi(spark, sf):
    # same parity-split as drift_ks, PSI metric (SURVEY 2(b).5 — the
    # second standard drift statistic; mergeable histograms, driver-side
    # O(nbins) formula)
    from themis_spark.operators.constraints import drift_check
    from themis_spark.operators.stats import HistSpec, column_stats

    orders = _t(spark, sf, "orders")
    spec = [HistSpec("o_totalprice", 0.0, 600000.0, 20)]
    a = column_stats(orders.where(F.pmod("o_orderkey", F.lit(2)) == 0),
                     ["o_totalprice"], None, spec, "a")
    b = column_stats(orders.where(F.pmod("o_orderkey", F.lit(2)) == 1),
                     ["o_totalprice"], None, spec, "b")
    r = drift_check(a, b, "o_totalprice", threshold=0.25, metric="psi")
    return spark.createDataFrame(
        [(r["column"], float(round(r["psi"], 6)), bool(r["drifted"]))],
        "column string, psi double, drifted boolean",
    )


def q_stat_quantiles(spark, sf):
    # mergeable GK quantile sketch (percentile_approx) checked against
    # the EXACT interpolated percentile: exact values hash-match DuckDB
    # quantile_cont; the sketch's answer must land within its declared
    # rank bound (±n/accuracy ranks → between the exact quantiles at
    # p∓1e-4 for accuracy=10k)
    from themis_spark.operators.stats import quantile_stats

    li = _t(spark, sf, "lineitem")
    probs = [0.25, 0.5, 0.75, 0.95]
    approx = quantile_stats(li, "l_extendedprice", probs, accuracy=10_000)
    eps = 1.0 / 10_000
    exact = li.agg(
        *[F.expr(f"percentile(l_extendedprice, {p})").alias(f"e{i}")
          for i, p in enumerate(probs)],
        *[F.expr(f"percentile(l_extendedprice, {max(p - eps, 0.0)})").alias(f"lo{i}")
          for i, p in enumerate(probs)],
        *[F.expr(f"percentile(l_extendedprice, {min(p + eps, 1.0)})").alias(f"hi{i}")
          for i, p in enumerate(probs)],
    )
    rows = exact.crossJoin(approx.select("p", "value"))
    checks = None
    for i, p in enumerate(probs):
        c = F.when(
            F.col("p") == p,
            F.struct(
                F.round(F.col(f"e{i}"), 4).alias("exact_value"),
                F.col("value").between(F.col(f"lo{i}"), F.col(f"hi{i}"))
                .alias("approx_within_bound"),
            ),
        )
        checks = c if checks is None else F.coalesce(checks, c)
    return rows.select(
        F.lit("l_extendedprice").alias("column"),
        "p",
        checks.getField("exact_value").alias("exact_value"),
        checks.getField("approx_within_bound").alias("approx_within_bound"),
    )


def q_ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return S.lsh_ann_topk(emb, emb.where(F.col("vec_id") < 5), k=10, n_planes=4)


def q_ann_ivf(spark, sf):
    # IVF coarse-quantizer ANN: deterministic init-only centroids (first
    # 16 vectors) so DuckDB can re-derive the identical index from the
    # same table — no literals needed, the whole pipeline replays in SQL
    emb = _t(spark, sf, "embeddings")
    cents = emb.where(F.col("vec_id") < 16)
    return S.ivf_topk(emb, emb.where(F.col("vec_id") < 5),
                      centroids=cents, n_probe=4, k=10)


def q_ann_pq_codes(spark, sf):
    # product-quantization code frame (Jégou et al. 2011): the compact
    # index a 100 TB corpus materializes — M=8 sub-codes + one rounded
    # norm per row, 32× lighter than the raw floats at rank time.
    # Codebooks are deterministic init-only (sub-slices of the first 16
    # vectors) so DuckDB re-derives the identical index from the table.
    # Codes surface as a '-'-joined string: the compare layer hashes
    # column text, and array renderings differ across engines.
    emb = _t(spark, sf, "embeddings")
    cbs = S.train_pq_codebooks(emb, n_sub=8, k=16, dim=64)
    return S.pq_encode(emb, codebooks=cbs).select(
        "vec_id",
        F.concat_ws("-", F.transform(F.col("codes"),
                                     lambda c: c.cast("string"))).alias("codes"),
        "norm",
    )


def q_ann_ivfpq(spark, sf):
    # IVF+PQ (FAISS-IVFADC plan shape): coarse cells prune candidates,
    # integer ADC over PQ codes ranks them — raw vectors never reach the
    # rank stage. Same deterministic init-only index as ann_ivf /
    # ann_pq_codes, so the whole pipeline replays in SQL. This is the
    # END-TO-END oracle row; the bench times the three phases separately
    # (ann_ivfpq_train/encode/query — round-4 verdict item 3: a
    # regression in any one phase was invisible inside the 12 s total).
    emb = _t(spark, sf, "embeddings")
    cbs = S.train_pq_codebooks(emb, n_sub=8, k=16, dim=64)
    return S.ivfpq_topk(emb, emb.where(F.col("vec_id") < 5), k=10,
                        centroids=emb.where(F.col("vec_id") < 16),
                        codebooks=cbs, n_probe=4)


# Train-once cache for the PQ phase-split entries: codebooks + collected
# coarse centroids per sf dir. Training is deterministic (init-only), so
# cached reuse cannot change any result — it only keeps the train phase
# out of the encode/query timed windows.
_PQ_CACHE: dict = {}


def _pq_trained(spark, sf):
    got = _PQ_CACHE.get(sf)
    if got is None:
        emb = _t(spark, sf, "embeddings")
        cbs = S.train_pq_codebooks(emb, n_sub=8, k=16, dim=64)
        cents = S.collect_centroids(emb.where(F.col("vec_id") < 16))
        got = _PQ_CACHE[sf] = (cbs, cents)
    return got


def q_ann_ivfpq_train(spark, sf):
    # the TRAIN phase timed in isolation: codebook construction is
    # driver-side collect jobs over the first-k rows. Output = the
    # codebook tensor flattened to (m, code, pos, val) rows so the
    # oracle replays the deterministic init rule exactly.
    emb = _t(spark, sf, "embeddings")
    cbs = S.train_pq_codebooks(emb, n_sub=8, k=16, dim=64)
    rows = [(m, c, p, round(float(v), 6))
            for m, cb in enumerate(cbs)
            for c, vec in enumerate(cb)
            for p, v in enumerate(vec)]
    return spark.createDataFrame(
        rows, "m int, code int, pos int, val double")


def q_ann_ivfpq_encode(spark, sf):
    # the ENCODE phase with the trained index cached: map-side code
    # assignment + norm only — same deterministic codebooks as
    # ann_pq_codes, so the same SQL replays the output
    cbs, _ = _pq_trained(spark, sf)
    emb = _t(spark, sf, "embeddings")
    return S.pq_encode(emb, codebooks=cbs).select(
        "vec_id",
        F.concat_ws("-", F.transform(F.col("codes"),
                                     lambda c: c.cast("string"))).alias("codes"),
        "norm",
    )


def q_ann_ivfpq_query(spark, sf):
    # the QUERY phase with the trained index cached: IVF probe join +
    # integer-ADC rank — same output as the end-to-end ann_ivfpq row
    cbs, cents = _pq_trained(spark, sf)
    emb = _t(spark, sf, "embeddings")
    return S.ivfpq_topk(emb, emb.where(F.col("vec_id") < 5), k=10,
                        centroids=cents, codebooks=cbs, n_probe=4)


def q_stat_hll(spark, sf):
    # sketch BYTES aren't oracle-replayable; the oracle-checkable claims
    # are (a) the exact distinct count and (b) the HLL estimate landing
    # within ±2% of it (round-1 verdict item 4)
    li = _t(spark, sf, "lineitem")
    exact = F.countDistinct("l_partkey")
    est = F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey"))
    return li.agg(
        exact.alias("exact_parts"),
        ((F.abs(est - exact) / exact) <= 0.02).alias("within_2pct"),
    )


# Deterministic URL synthesis from the documents table (the driver's
# tables carry no URL column): host varies by doc_id and source, the
# registered domain cycles over 3 values, path depth and query params
# vary by residue — every branch of the URL parser gets exercised, and
# the DuckDB oracle rebuilds the identical URLs from the same columns.
def _urls(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", "n_chars", "lang",
        F.concat(
            F.lit("https://w"), (F.col("doc_id") % 5).cast("string"),
            F.lit("."), F.col("source"),
            F.lit(".example"), (F.col("doc_id") % 3).cast("string"), F.lit(".com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/"))
             .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("/"), F.col("lang")))
             .otherwise(F.concat(F.lit("/"), F.col("lang"), F.lit("/a/b"))),
            F.when(F.col("doc_id") % 2 == 0, F.lit("?id=1&ref=rss")).otherwise(F.lit("")),
        ).alias("url"),
    ).where(F.col("source").isNotNull())


def q_web_url_features(spark, sf):
    return _urls(spark, sf).select("doc_id", *WB.url_features_cols("url"))


def q_web_domain_stats(spark, sf):
    return WB.domain_stats(_urls(spark, sf), "url", n_chars="n_chars", lang="lang")


# Chunked "lines" (3-token windows) stand in for newline-split lines —
# the driver's documents table is single-line word soup; the operator
# itself splits on the separator, so the query materializes a multi-line
# text first and the oracle rebuilds the same chunks.
def _chunked_docs(spark, sf, chunk: int = 3):
    # groups of `chunk` tokens per line via two O(len) regex passes —
    # the transform(sequence, slice) form re-splits the text per chunk
    # position (no CSE inside HOF lambdas; see text.grams_zip)
    d = _t(spark, sf, "documents").where(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    norm = F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
    group = " ".join([r"\S+"] * chunk)
    chunked = F.regexp_replace(norm, f"({group}) ", "$1\n")
    return d.select("doc_id", chunked.alias("text"))


def q_dedup_common_lines(spark, sf):
    return D.common_line_hashes(_chunked_docs(spark, sf), min_docs=3)


def q_dedup_line_cleaned(spark, sf):
    docs = _chunked_docs(spark, sf)
    common = D.common_line_hashes(docs, min_docs=3)
    cleaned = D.remove_common_lines(docs, common)
    return cleaned.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"), "n_lines", "n_removed")


def q_web_top_pages(spark, sf):
    # distinct urls first: synthesized urls can collide, and grouped
    # top-k tie-breaks on url — dedup makes the ranking fully
    # deterministic for the oracle replay
    u = _urls(spark, sf).groupBy("url").agg(F.max("n_chars").alias("n_chars"))
    return WB.top_pages_per_domain(u, "url", "n_chars", k=3)


def q_stat_suggest_constraints(spark, sf):
    return ST2.suggest_constraints(
        _t(spark, sf, "documents"),
        ["doc_id", "lang", "source", "n_chars"], exact=True)


def q_infer_profile(spark, sf):
    # schema inference over a dynamic JSON column synthesized from typed
    # columns (to_json drops null fields, so presence varies with the
    # underlying nulls — exactly the draft-4 `required` discovery case)
    from themis_spark.plans import infer as I

    d = _t(spark, sf, "documents")
    j = d.select(F.to_json(F.struct(
        F.col("doc_id"),
        F.col("lang"),
        F.struct(F.col("n_chars").alias("n"), F.col("source").alias("src")).alias("meta"),
    )).alias("props"))
    return I.json_path_profile(j, "props")


def q_stat_stratified_sample(spark, sf):
    d = _t(spark, sf, "documents")
    return ST2.stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.2, "fr": 0.1},
        key="doc_id", seed=42,
    ).select("doc_id", "lang")


# Deterministic PII injection — the driver's documents table is clean
# word soup, so the query plants every PII kind on residue-selected rows
# (derived column, no external data) and the oracle rebuilds the same
# strings before running the same detection regexes.
def _pii_docs(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                        F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-010-1234"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.lit(" host 10.0."), (F.col("doc_id") % 250).cast("string"),
                        F.lit(".1"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" ssn 123-45-6789"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 19 == 0, F.lit(" card 4111 1111 1111 1111"))
         .otherwise(F.lit("")),
    )
    return d.select("doc_id", injected.alias("text"))


def q_text_pii(spark, sf):
    return PII.pii_flags(_pii_docs(spark, sf), keep=["doc_id"])


def q_text_pii_redact(spark, sf):
    return PII.redact(_pii_docs(spark, sf)).select(
        "doc_id", F.md5("clean_text").alias("clean_md5"), "n_redacted")


# Messy URL synthesis for canonicalization: uppercase scheme+host,
# default and non-default ports, trailing slashes, tracking params and
# fragments all vary by doc_id residue so every canonicalization rule
# fires; the oracle rebuilds identical raw URLs from the same columns.
def _messy_urls(spark, sf):
    d = _t(spark, sf, "documents").where(
        F.col("source").isNotNull() & F.col("lang").isNotNull())
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.lit("W"), (F.col("doc_id") % 5).cast("string"),
        F.lit("."), F.col("source"), F.lit(".example.com"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443"))
         .when(F.col("doc_id") % 4 == 1, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/"), F.col("lang"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("?utm_source=rss&id="), (F.col("doc_id") % 10).cast("string")))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return d.select("doc_id", url.alias("url"))


def q_web_canonical(spark, sf):
    u = _messy_urls(spark, sf)
    return u.select("doc_id", WB.canonical_url_col("url").alias("canonical_url"))


def q_web_canonical_dupes(spark, sf):
    return WB.canonical_duplicates(_messy_urls(spark, sf), "url")


def q_stat_outliers(spark, sf):
    # planted heavy tail: every 97th doc's length ×50 — Tukey fences per
    # language, exact percentile (oracle-replayable via quantile_cont)
    d = _t(spark, sf, "documents").where(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
    v = F.when(F.col("doc_id") % 97 == 0, F.col("n_chars") * 50).otherwise(
        F.col("n_chars")).cast("double")
    return ST2.outlier_stats(
        d.select("lang", v.alias("v")), "v", by=["lang"], exact=True)


def q_dedup_lsh_verified(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return D.lsh_verified_pairs(d, num_hashes=12, bands=6, threshold=0.3)


def q_event_sessions(spark, sf):
    # gap-based sessionization rollup over the events table; integer-
    # microsecond bounds keep boundaries exact for the DuckDB replay
    return SS.session_stats(
        _t(spark, sf, "events"), user="user_id", ts="ts",
        gap_minutes=30, event_type="event_type")


def q_text_vocab(spark, sf):
    return X.vocabulary(_t(spark, sf, "documents"), k=100)


def q_text_unigram(spark, sf):
    # corpus-self-trained unigram LM quality score (KenLM-perplexity proxy)
    return X.unigram_logprob(_t(spark, sf, "documents"))


MIX_PARTS = {"en": 5, "de": 3, "fr": 2}
MIX_BUDGET = 1_000_000


def q_stat_mixture_plan(spark, sf):
    return ST2.mixture_plan(
        _t(spark, sf, "documents"), "lang", MIX_PARTS, MIX_BUDGET,
        size_col="n_chars")


def q_stat_mixture_take(spark, sf):
    d = _t(spark, sf, "documents")
    plan = ST2.mixture_plan(d, "lang", MIX_PARTS, MIX_BUDGET,
                            size_col="n_chars")
    return ST2.mixture_take(d, plan, "lang", "doc_id").select("doc_id", "lang")


def q_text_vocab_drift(spark, sf):
    # last-crawl vs this-crawl proxy: even/odd doc_id slices
    d = _t(spark, sf, "documents")
    return X.vocab_drift(d.where(F.col("doc_id") % 2 == 0),
                         d.where(F.col("doc_id") % 2 == 1), k=50)


CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_event_funnel(spark, sf):
    return SS.funnel(_t(spark, sf, "events"),
                     ["view", "click", "purchase"])


def q_stat_corr(spark, sf):
    return ST2.correlation_matrix(_t(spark, sf, "lineitem"), CORR_COLS)


def q_stat_clip(spark, sf):
    # winsorize the same planted heavy tail as stat_outliers (every 97th
    # doc's length x50) into per-language Tukey fences
    d = _t(spark, sf, "documents").where(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
    v = F.when(F.col("doc_id") % 97 == 0, F.col("n_chars") * 50).otherwise(
        F.col("n_chars")).cast("double")
    out = ST2.clip_outliers(
        d.select("doc_id", "lang", v.alias("v")), "v", by=["lang"],
        exact=True)
    return out.select(
        "doc_id", "lang", F.round("v_clipped", 6).alias("v_clipped"),
        "v_was_clipped")


def q_stat_skew(spark, sf):
    return ST2.key_skew_report(_t(spark, sf, "events"), "user_id", k=10)


def q_con_fd(spark, sf):
    return C.fd_violations(_t(spark, sf, "documents"), "source", "lang")


def q_ann_centroids(spark, sf):
    return S.centroid_components(_t(spark, sf, "embeddings"), by="label")


def q_ann_centroid_stats(spark, sf):
    return S.centroid_cosine_stats(_t(spark, sf, "embeddings"), by="label")


# Deterministic dirt for the repair pass: every 7th doc's n_chars is an
# uncoercible string, every 5th doc's lang is missing; bounds 100..400
# sit inside the corpus range so clamping demonstrably fires.
REPAIR_SCHEMA = {
    "id": "repair_docs", "type": "object",
    "properties": {
        "n_chars": {"type": "integer", "minimum": 100, "maximum": 400},
        "lang": {"type": "string", "default": "en"},
    },
}


def _dirty_docs(spark, sf):
    d = _t(spark, sf, "documents")
    n_str = F.when(F.col("doc_id") % 7 == 0, F.lit("oops")) \
             .otherwise(F.col("n_chars").cast("string"))
    lang = F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string")) \
            .otherwise(F.col("lang"))
    return d.select("doc_id", n_str.alias("n_chars"), lang.alias("lang"))


def q_repair_table(spark, sf):
    from themis_spark.operators.repair import repair_table

    return repair_table(_dirty_docs(spark, sf), REPAIR_SCHEMA, clamp=True)


def q_repair_report(spark, sf):
    from themis_spark.operators.repair import repair_report

    return repair_report(_dirty_docs(spark, sf), REPAIR_SCHEMA, clamp=True)


def q_text_tfidf(spark, sf):
    return X.tfidf_top_terms(_t(spark, sf, "documents"), k=3)


def q_stat_group_sample(spark, sf):
    return ST2.group_sample(
        _t(spark, sf, "documents"), "lang", 20, "doc_id"
    ).select("doc_id", "lang")


def q_dedup_cross_corpus(spark, sf):
    # two-corpus near-dup: even doc_ids are the "existing corpus", odd
    # the "incoming crawl" — deterministic split of the driver table
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 400)
    left = d.where(F.col("doc_id") % 2 == 0)
    right = d.where(F.col("doc_id") % 2 == 1)
    return D.cross_corpus_duplicates(left, right, num_hashes=12, bands=6,
                                     threshold=0.3)


def q_dedup_against(spark, sf):
    # the incoming-crawl filter: odd doc_ids (the "new crawl") that do
    # NOT near-duplicate any even doc (the "existing corpus")
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 400)
    left = d.where(F.col("doc_id") % 2 == 1)
    right = d.where(F.col("doc_id") % 2 == 0)
    return D.dedup_against(left, right, num_hashes=12, bands=6,
                           threshold=0.3).select("doc_id", "lang")


def q_temporal_asof(spark, sf):
    # attribute each click to the user's most recent prior view (right
    # side pre-aggregated to unique (user, ts) so the match is total-
    # ordered and the DuckDB ASOF JOIN replays it exactly)
    from themis_spark.operators import temporal as T

    e = _t(spark, sf, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = (e.where(F.col("event_type") == "view")
             .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    return T.asof_join(clicks, views, on="user_id").select(
        "event_id", "user_id", "value_r", "matched_ts_us")


def q_temporal_range(spark, sf):
    from themis_spark.operators import temporal as T

    d = _t(spark, sf, "documents").where(F.col("n_chars").isNotNull())
    bands = spark.createDataFrame(
        [(0, 200, "xs"), (200, 500, "s"), (500, 2000, "m"),
         (2000, 10**9, "l")],
        "lo long, hi long, band string")
    return T.range_join(d.select("doc_id", "n_chars"), bands, "n_chars",
                        bucket_width=256).select("doc_id", "band")


def q_events_hourly(spark, sf):
    from themis_spark.operators import temporal as T

    return T.tumbling_agg(
        _t(spark, sf, "events"), by=["event_type"],
        aggs=[F.round(F.sum("value"), 4).alias("sum_value")])


def q_infer_profile_diff(spark, sf):
    # schema drift between two producer versions derived from the same
    # typed columns: v2 drops `meta`, adds `flag`, and ships n_chars as
    # a string — exercising removed/added/type_changed/unchanged
    from themis_spark.plans.infer import json_path_profile, profile_diff

    d = _t(spark, sf, "documents")
    base = json_path_profile(d.select(F.to_json(F.struct(
        F.col("doc_id"), F.col("lang"), F.col("n_chars"),
        F.struct(F.col("source").alias("src")).alias("meta"),
    )).alias("j")), "j")
    cur = json_path_profile(d.select(F.to_json(F.struct(
        F.col("doc_id"), F.col("lang"),
        F.col("n_chars").cast("string").alias("n_chars"),
        F.lit(True).alias("flag"),
    )).alias("j")), "j")
    return profile_diff(base, cur)


def q_stat_pack_offsets(spark, sf):
    # concat-and-chunk sequence packing over real token counts: 64
    # independent packing streams keyed by the portable hash
    toks = _t(spark, sf, "documents").select(
        "doc_id", X.token_count_col("text").cast("long").alias("n_tokens"))
    return ST2.pack_offsets(toks, ctx_len=512, buckets=64)


def q_stat_pack_summary(spark, sf):
    toks = _t(spark, sf, "documents").select(
        "doc_id", X.token_count_col("text").cast("long").alias("n_tokens"))
    return ST2.pack_summary(toks, ctx_len=512, buckets=64)


def q_text_classifier(spark, sf):
    # hashed bag-of-words linear classifier inference (dyadic weights ->
    # exact fold; logit/label are the oracle-checked outputs, the
    # sigmoid score is monotone in them and exp() isn't bit-specified)
    return X.classifier_scores(
        _t(spark, sf, "documents"),
        weights=X.hashed_weights(256), bias=-0.05,
    ).select("doc_id", "n_tokens", "logit", "label")


def q_pipeline_curate(spark, sf):
    # the composed end-to-end curation recipe (pipeline.curate): scan
    # rules -> classifier -> exact dedup -> LSH near-dup -> packing
    # summary; the oracle replays every stage with the SAME SQL its
    # standalone oracle uses, composed into one query
    from themis_spark.pipeline import CurationConfig, curate

    cfg = CurationConfig(classifier_weights=X.hashed_weights(256),
                         classifier_bias=0.0)
    return curate(_t(spark, sf, "documents"), cfg)["packing"]


def q_text_classifier_join(spark, sf):
    # the broadcast-weight-table model path (real fastText-scale models)
    # on the same 256-dim dyadic weights: exact-sum parity means the
    # SAME oracle SQL pins both paths
    return X.classifier_scores_join(
        _t(spark, sf, "documents"),
        X.weights_table(spark, 256), dim=256, bias=-0.05,
    ).select("doc_id", "n_tokens", "logit", "label")


def q_ann_semdedup(spark, sf):
    # SemDeDup: init-only centroids (first 32 vectors) so DuckDB
    # re-derives the identical cells from the same table; more cells =
    # smaller in-cell pair fronts (the knob that keeps the quadratic
    # step bounded as the corpus grows)
    emb = _t(spark, sf, "embeddings")
    cents = emb.where(F.col("vec_id") < 32)
    return S.semantic_duplicates(emb, centroids=cents, threshold=0.2)


def q_ann_semdedup_keep(spark, sf):
    emb = _t(spark, sf, "embeddings")
    cents = emb.where(F.col("vec_id") < 32)
    return S.semdedup_keep(emb, centroids=cents, threshold=0.2)


def q_web_latest_revision(spark, sf):
    # crawl-snapshot consolidation over synthesized re-crawls: urls
    # collide across doc_ids (mod-residue hosts/paths) and the tracking
    # param makes raw variants of one canonical form; fetch order is a
    # deterministic doc_id scramble
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://w"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/p"), (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("?ref=rss"))
             .otherwise(F.lit("")),
        ).alias("url"),
        ((F.col("doc_id") * 7919) % 100000).alias("fetched_at"),
    )
    return WB.latest_revisions(d, key="doc_id").select(
        "doc_id", "canonical_url", "n_revisions")


def q_stat_rank_buckets(spark, sf):
    # exact quality deciles over document length — the curriculum /
    # mixture-binning shape (deterministic (value, key) total order)
    d = _t(spark, sf, "documents").select("doc_id", "n_chars")
    return ST2.rank_buckets(d, "n_chars", n=10)


# fixed English merge list: the oracle cannot retrain, so the APPLICATION
# operator is what this query checks (training is pytest-covered; real
# deployments train once on a sample and ship the merges as config)
BPE_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
              ("an", "d"), ("o", "n"), ("r", "e"), ("in", "g"), ("o", "u")]


def q_text_bpe(spark, sf):
    toks = X.bpe_tokenize_col("text", BPE_MERGES)
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.size(toks).alias("n_bpe"),
        F.md5(F.concat_ws("\x1e", toks)).alias("toks_md5"),
    )


def q_text_bpe_arrow(spark, sf):
    # the PRODUCTION-regime Arrow kernel on the same merge list — the
    # oracle (the same chained-replace SQL as text_bpe) pins the
    # kernel's bit-parity with the native path cross-engine
    out = X.bpe_tokenize_arrow(_t(spark, sf, "documents"), BPE_MERGES)
    return out.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("int").alias("n_bpe"),
        F.md5(F.concat_ws("\x1e", F.col("tokens"))).alias("toks_md5"),
    )


def q_validate_dispatch(spark, sf):
    # per-ROW schema dispatch (reference registry semantics at table
    # scale): thirds of the corpus validate against different registered
    # schemas; the remaining third carries an unknown id and must
    # surface as the synthetic $dispatch triple, not vanish
    import themis_spark as T

    d = _t(spark, sf, "documents").withColumn(
        "schema_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("dlong"))
         .when(F.col("doc_id") % 3 == 1, F.lit("dshort"))
         .otherwise(F.lit("dmystery")))
    v = T.validator([
        {"id": "dlong", "type": "object",
         "properties": {"n_chars": {"type": "integer", "minimum": 500}}},
        {"id": "dshort", "type": "object",
         "properties": {"n_chars": {"type": "integer", "maximum": 800}}},
    ])
    return v.validate_table_dispatch(d, key_col="doc_id").select(
        "url", "keyword", "instance_path", "schema_path", "schema_id")


def q_stat_entropy(spark, sf):
    # value-distribution entropy of the lang column (profiling signal)
    return ST2.value_entropy(_t(spark, sf, "documents"), "lang")


def q_ann_recall(spark, sf):
    # recall@10 of the IVF index vs brute-force exact search — built on
    # the SAME two query definitions as ann_cosine_topk / ann_ivf, so
    # the evaluation inherits their verified cross-engine semantics
    return S.recall_at_k(q_ann_cosine_topk(spark, sf),
                         q_ann_ivf(spark, sf), k=10)


def q_web_blocklist(spark, sf):
    # URL blocklist curation over the synthesized crawl URLs: one host
    # suffix (hits src3 hosts at every w* subdomain) + one path prefix
    # (hits the /de language paths) — exercises label-boundary host
    # matching and literal path prefixes in one scan
    return WB.blocklist_filter(
        _urls(spark, sf),
        host_suffixes=["src3.example0.com"],
        path_prefixes=["/de"],
    ).select("doc_id", "url", "blocked")


def q_web_pagerank(spark, sf):
    # fixed-point PageRank over a deterministic synthetic link graph;
    # integer arithmetic makes the result partitioning-insensitive and
    # SQL-replayable. The two out-link maps are deliberately
    # NON-bijective (squares and floor-thirds mod n) so indegrees — and
    # therefore ranks — genuinely vary: a regular graph is a PageRank
    # fixed point and would let a broken operator pass unnoticed.
    d = _t(spark, sf, "documents").select("doc_id")
    n = d.count()  # tiny driver-side job; the graph is synthesized, not read
    third = ((F.col("doc_id") - F.col("doc_id") % 3) / 3).cast("long")
    edges = d.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % n).alias("dst"),
    ).union(d.select(
        F.col("doc_id").alias("src"),
        (third % n).alias("dst"),
    ))
    return WB.pagerank(edges, iters=3)


def q_web_hits(spark, sf):
    # HITS hubs/authorities over the same synthetic non-bijective graph
    # as web_pagerank; 2 integer iterations, unnormalized (exact).
    d = _t(spark, sf, "documents").select("doc_id")
    n = d.count()
    third = ((F.col("doc_id") - F.col("doc_id") % 3) / 3).cast("long")
    edges = d.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % n).alias("dst"),
    ).union(d.select(
        F.col("doc_id").alias("src"),
        (third % n).alias("dst"),
    ))
    return WB.hits(edges, iters=2)


def _hits_sql(iters: int = 2) -> str:
    ctes = ["""
    n AS (SELECT count(*) AS cnt FROM documents),
    edges AS (
      SELECT doc_id AS src,
             (doc_id * doc_id + 1) % (SELECT cnt FROM n) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id AS src, (doc_id // 3) % (SELECT cnt FROM n) AS dst
      FROM documents),
    nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    h0 AS (SELECT node, 1::BIGINT AS hub FROM nodes)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
    a{i} AS (SELECT e.dst AS node, sum(h.hub)::BIGINT AS auth
           FROM edges e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst)""")
        ctes.append(f"""
    h{i} AS (SELECT e.src AS node, sum(a.auth)::BIGINT AS hub
           FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src)""")
    return ("WITH " + ",".join(ctes) + f"""
    SELECT nodes.node, coalesce(h{iters}.hub, 0) AS hub,
           coalesce(a{iters}.auth, 0) AS auth
    FROM nodes LEFT JOIN h{iters} ON nodes.node = h{iters}.node
    LEFT JOIN a{iters} ON nodes.node = a{iters}.node""")


def q_web_sitemaps(spark, sf):
    # parse_sitemaps over per-doc synthesized XML: every doc a <url>
    # block (lastmod on every 3rd), every 7th doc also a sitemap-index
    # block, every 11th a loc-less block that must be dropped.
    d = _t(spark, sf, "documents").select("doc_id")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"),
                    F.lit(".example.com"))
    loc = F.concat(F.lit("https://"), host, F.lit("/page/"),
                   F.col("doc_id").cast("string"))
    lastmod = F.concat(
        F.lit("2026-01-"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"))
    url_block = F.concat(
        F.lit("<url><loc> "), loc, F.lit(" </loc>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("<lastmod>"), lastmod, F.lit("</lastmod>")))
        .otherwise(F.lit("")),
        F.lit("</url>"))
    sm_block = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("<sitemap><loc>https://"), host, F.lit("/child"),
                 F.col("doc_id").cast("string"),
                 F.lit(".xml</loc></sitemap>"))).otherwise(F.lit(""))
    bad_block = F.when(F.col("doc_id") % 11 == 0,
                       F.lit("<url><lastmod>x</lastmod></url>")) \
        .otherwise(F.lit(""))
    xml = F.concat(F.lit("<urlset>"), url_block, sm_block, bad_block,
                   F.lit("</urlset>"))
    pages = d.select(host.alias("host"), xml.alias("sitemap_xml"))
    return WB.parse_sitemaps(pages)


_SITEMAPS_SQL = """
    WITH d AS (SELECT doc_id,
                 'h' || (doc_id % 5)::VARCHAR || '.example.com' AS host
               FROM documents),
    u AS (SELECT host, 'url' AS kind,
            'https://' || host || '/page/' || doc_id::VARCHAR AS loc,
            CASE WHEN doc_id % 3 = 0
                 THEN '2026-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')
                 ELSE NULL END AS lastmod
          FROM d),
    s AS (SELECT host, 'sitemap' AS kind,
            'https://' || host || '/child' || doc_id::VARCHAR || '.xml' AS loc,
            CAST(NULL AS VARCHAR) AS lastmod
          FROM d WHERE doc_id % 7 = 0)
    SELECT * FROM u UNION ALL SELECT * FROM s"""


def q_web_robots_directives(spark, sf):
    # robots_directives over synthesized per-host robots bodies: a '*'
    # group with crawl-delay + a host-level sitemap line + a second
    # two-agent group sharing one crawl-delay.
    hosts = (_t(spark, sf, "documents")
             .select((F.col("doc_id") % 6).alias("hid")).distinct())
    h = F.col("hid").cast("string")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private\nCrawl-delay: "),
        (F.col("hid") + 5).cast("string"),
        F.lit("\nSitemap: https://h"), h, F.lit(".example.com/s.xml\n"),
        F.lit("User-agent: alphabot\nUser-agent: betabot\nCrawl-delay: 0."),
        h, F.lit("\n"))
    df = hosts.select(
        F.concat(F.lit("h"), h, F.lit(".example.com")).alias("host"),
        body.alias("robots_txt"))
    return WB.robots_directives(df)


_ROBOTS_DIRECTIVES_SQL = """
    WITH hid AS (SELECT DISTINCT doc_id % 6 AS hid FROM documents),
    h AS (SELECT hid, 'h' || hid::VARCHAR || '.example.com' AS host FROM hid)
    SELECT host, '*' AS agent, 'sitemap' AS directive,
           'https://h' || hid::VARCHAR || '.example.com/s.xml' AS value
    FROM h
    UNION ALL
    SELECT host, '*', 'crawl-delay', (hid + 5)::VARCHAR FROM h
    UNION ALL
    SELECT host, agent, 'crawl-delay', '0.' || hid::VARCHAR
    FROM h CROSS JOIN (SELECT unnest(['alphabot', 'betabot']) AS agent)"""


def q_web_anchor_text(spark, sf):
    # extract_anchors over synthesized markup (nested tags inside the
    # second anchor exercise the tag-strip) → anchor_text_index top-3.
    d = _t(spark, sf, "documents").select("doc_id")
    t1 = ((F.col("doc_id") * F.col("doc_id") + 1) % 40).cast("string")
    t2 = ((F.col("doc_id") * 3 + 2) % 40).cast("string")
    html = F.concat(
        F.lit('<p>x</p><a href="https://t'), t1,
        F.lit('.example.com/p" rel="x">site '),
        (F.col("doc_id") % 7).cast("string"), F.lit("</a>"),
        F.lit('<a href="https://t'), t2, F.lit('.example.com/p">read '),
        F.lit("<b>more</b> "), (F.col("doc_id") % 5).cast("string"),
        F.lit("</a>"),
        F.when(F.col("doc_id") % 9 == 0,
               F.lit('<a href="https://img.example.com/i">'
                     '<img src="i.png"></a>')).otherwise(F.lit("")))
    pages = d.select(F.col("doc_id").cast("string").alias("url"),
                     html.alias("html"))
    anchors = WB.extract_anchors(pages)
    return WB.anchor_text_index(anchors, k=3)


_ANCHOR_TEXT_SQL = """
    WITH a AS (
      SELECT 'https://t' || ((doc_id * doc_id + 1) % 40)::VARCHAR
               || '.example.com/p' AS link,
             'site ' || (doc_id % 7)::VARCHAR AS anchor
      FROM documents
      UNION ALL
      SELECT 'https://t' || ((doc_id * 3 + 2) % 40)::VARCHAR
               || '.example.com/p',
             'read more ' || (doc_id % 5)::VARCHAR
      FROM documents),
    c AS (SELECT link, anchor, count(*) AS n FROM a GROUP BY 1, 2),
    r AS (SELECT link, anchor, n,
                 row_number() OVER (PARTITION BY link
                                    ORDER BY n DESC, anchor ASC) AS rank
          FROM c)
    SELECT link, anchor, n, rank FROM r WHERE rank <= 3"""


# Exact-substring dedup (Lee et al. 2021 window-hash form): the driver's
# documents table is non-repeating word soup, so the query plants
# duplication deterministically — shared boilerplate on residue-selected
# rows (>= window tokens so internal windows collide corpus-wide) — and
# the oracle rebuilds the identical strings before replaying the same
# window-hash + gaps-and-islands plan.
_SUBSTR_BOILER = ("terms of service apply all rights reserved "
                  "contact support team today")
_SUBSTR_PROMO = ("subscribe to our newsletter for weekly updates "
                 "and exclusive member offers")


def _substr_docs(spark, sf):
    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    injected = F.concat_ws(
        " ", F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(_SUBSTR_BOILER)),
        F.when(F.col("doc_id") % 7 == 0, F.lit(_SUBSTR_PROMO)),
        F.when(F.col("doc_id") % 11 == 0, F.lit(_SUBSTR_PROMO)),
    )
    return d.select("doc_id", injected.alias("text"))


def q_text_langid_join(spark, sf):
    d = _t(spark, sf, "documents")
    return X.language_id_join(d, X.language_model_table(spark))


def q_con_monotonic(spark, sf):
    # per-user event sequence ordered by the unique event_id (total
    # order — deterministic lag in both engines); flags value drops
    return C.monotonic_violations(
        _t(spark, sf, "events"), key="user_id", order="event_id",
        column="value", direction="non_decreasing")


# Snapshot diff: two crawl snapshots synthesized from `documents` by
# residue selection — doc_id % 10 == 0 rows exist only in OLD (removed),
# doc_id % 7 == 0 only in NEW (added), doc_id % 3 == 0 changed content;
# digests are the portable 60-bit text hash with NULL text coalesced.
def q_web_snapshot_diff(spark, sf):
    d = _t(spark, sf, "documents")
    dig = hashing.hash60(F.coalesce(F.col("text"), F.lit("<null>")))
    old = (d.where(F.col("doc_id") % 7 != 0)
           .select("doc_id", dig.alias("content_digest")))
    new = (d.where(F.col("doc_id") % 10 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 3 == 0,
                          hashing.hash60(F.concat_ws(
                              "|", F.coalesce(F.col("text"), F.lit("<null>")),
                              F.lit("v2"))))
                   .otherwise(dig).alias("content_digest")))
    return WB.snapshot_diff(old, new, key="doc_id")


def q_dedup_substring_stats(spark, sf):
    return D.duplicate_substring_stats(_substr_docs(spark, sf), window=8)


def q_text_bigram(spark, sf):
    return X.bigram_logprob(_t(spark, sf, "documents"))


# Fixed literal unigram vocabulary (the BPE_MERGES convention: the
# APPLICATION mechanics are under test; training determinism has its
# own pytest). Distinct lp values avoid score ties beyond the DP's
# own tie rule.
UNIGRAM_VOCAB = (
    [(c, -11_000_000 - i * 1000)
     for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")]
    + [(str(d), -12_000_000 - d * 1000) for d in range(10)]
    + [("the", -3_400_000), ("in", -5_100_000), ("er", -5_200_000),
       ("an", -5_300_000), ("on", -5_400_000), ("at", -5_500_000),
       ("en", -5_600_000), ("re", -5_700_000), ("ing", -5_800_000),
       ("ion", -5_900_000), ("es", -6_000_000), ("or", -6_100_000),
       ("ti", -6_200_000), ("st", -6_300_000), ("ar", -6_400_000),
       ("te", -6_500_000), ("data", -6_600_000), ("row", -6_700_000),
       ("jo", -6_800_000), ("ta", -6_900_000)]
)


def q_ann_project(spark, sf):
    # Johnson–Lindenstrauss random projection 64 -> 16: flat (pos, val)
    # rows so the compare is scalar-typed; planes are the same seeded
    # literals the oracle embeds
    emb = _t(spark, sf, "embeddings")
    return S.project_embeddings(emb, out_dim=16, dim=64, seed=7)


def _ann_project_sql(out_dim: int = 16, dim: int = 64, seed: int = 7) -> str:
    import math

    from themis_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, out_dim, seed)
    scale = repr(1.0 / math.sqrt(out_dim))
    cols = []
    for i, p in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in p)
        cols.append(
            f"round(list_dot_product(embedding::DOUBLE[], "
            f"[{lits}]::DOUBLE[]) * {scale}, 6)")
    arr = "[" + ", ".join(cols) + "]"
    return f"""
    WITH p AS (SELECT vec_id, {arr} AS proj FROM embeddings),
    e AS (SELECT vec_id, unnest(range(1, {out_dim} + 1)) AS i, proj FROM p)
    SELECT vec_id, (i - 1)::INT AS pos, proj[i] AS val FROM e
    """


def q_web_url_templates(spark, sf):
    # URL template mining over id-ful synthetic paths: numeric item
    # ids collapse to {n}, hex user ids to {h}, static paths survive
    # verbatim — three generators per host
    d = _t(spark, sf, "documents")
    hexid = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12)
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("/item/"),
                        ((F.col("doc_id") * 7919) % 100000).cast("string"),
                        F.lit("/view")))
         .when(F.col("doc_id") % 3 == 1,
               F.concat(F.lit("/u/"), hexid, F.lit("/profile")))
         .otherwise(F.lit("/static/about")))
    return WB.url_templates(d.select(url.alias("url")))


def q_text_sentences(spark, sf):
    # sentence segmentation: plant terminators into the single-line
    # corpus text so real boundaries exist (every 4th doc keeps its
    # terminator-free text to exercise the one-sentence path)
    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    planted = F.when(
        F.col("doc_id") % 4 != 0,
        F.regexp_replace(F.col("text"), r"(\w+ \w+ \w+ \w+ \w+) ", "$1. "),
    ).otherwise(F.col("text"))
    return X.sentence_spans(d.select("doc_id", planted.alias("text")))


def q_text_collocations(spark, sf):
    return X.collocations(_t(spark, sf, "documents"), min_count=5, k=50)


def q_stat_heavy_hitters(spark, sf):
    # bounded-memory Misra-Gries heavy hitters. The candidate SET is
    # partition-order dependent, so the oracle checks only the PROVABLE
    # part of the contract: tokens engineered to exceed the error bound
    # (three 'heavy' tokens at ~N/10 each vs terr <= floor(N/17)) must
    # be present, with lower <= exact <= upper, and the summed error
    # must respect the Misra-Gries bound.
    ev = _t(spark, sf, "events")
    tok = F.when(F.col("user_id") % 10 < 3,
                 F.concat(F.lit("heavy_"),
                          (F.col("user_id") % 3).cast("string"))) \
        .otherwise(F.concat(F.lit("tail_"), F.col("user_id").cast("string")))
    src = ev.select(tok.alias("token"))
    hh = ST2.heavy_hitters_mg(src, "token", n_counters=16)
    exact = src.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    n_total = src.agg(F.count(F.lit(1)).alias("__n"))
    terr = hh.agg(F.max(F.col("upper") - F.col("lower")).alias("__terr"))
    return (
        exact.where(F.col("token").startswith("heavy_"))
        .join(hh, "token", "left")
        .crossJoin(F.broadcast(n_total)).crossJoin(F.broadcast(terr))
        .select(
            "token", "exact",
            F.col("lower").isNotNull().alias("in_candidates"),
            ((F.col("lower") <= F.col("exact"))
             & (F.col("exact") <= F.col("upper"))).alias("bounds_ok"),
            (F.col("__terr") <= F.floor(F.col("__n") / 17))
            .alias("err_within_bound"),
        )
    )


def q_text_unigram_viterbi(spark, sf):
    # unigram-LM (SentencePiece-family) Viterbi tokenization under the
    # literal vocab: exact integer optimum score + piece count per doc.
    # The oracle unrolls the DP to word positions <= 16, so both
    # engines filter to docs whose words all fit (identical predicate).
    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    wmax = F.array_max(F.transform(toks, lambda w: F.length(w)))
    ok = d.where(F.coalesce(wmax, F.lit(0)) <= 16)
    out = X.unigram_tokenize_arrow(ok, UNIGRAM_VOCAB)
    return out.select("doc_id", "n_pieces", "score_micro")


def q_stat_hll_overlap(spark, sf):
    # sketch-based distinct overlap of two corpus halves: the estimates
    # aren't oracle-replayable (sketch internals), so — stat_hll's
    # convention — the checkable claims are the exact counts plus the
    # estimates landing within tolerance (5% sets, 10% for the
    # inclusion-exclusion intersection)
    o = _t(spark, sf, "orders")
    a = o.where(F.col("o_orderkey") % 2 == 0)
    b = o.where(F.col("o_orderkey") % 2 == 1)
    est = ST2.hll_set_overlap(a, b, "o_custkey")
    ex = o.agg(
        F.count_distinct(F.when(F.col("o_orderkey") % 2 == 0,
                                F.col("o_custkey"))).alias("xa"),
        F.count_distinct(F.when(F.col("o_orderkey") % 2 == 1,
                                F.col("o_custkey"))).alias("xb"),
        F.count_distinct("o_custkey").alias("xu"),
    )

    def ok(est_c, exact_c, tol):
        return (F.abs(est_c - exact_c) <= tol * exact_c)

    return est.crossJoin(F.broadcast(ex)).select(
        F.col("xa").alias("exact_a"), F.col("xb").alias("exact_b"),
        F.col("xu").alias("exact_union"),
        (F.col("xa") + F.col("xb") - F.col("xu")).alias("exact_intersection"),
        ok(F.col("est_a"), F.col("xa"), 0.05).alias("a_ok"),
        ok(F.col("est_b"), F.col("xb"), 0.05).alias("b_ok"),
        ok(F.col("est_union"), F.col("xu"), 0.05).alias("union_ok"),
        ok(F.col("est_intersection"),
           F.col("xa") + F.col("xb") - F.col("xu"), 0.10)
        .alias("intersect_ok"),
    )


def q_repair_mojibake(spark, sf):
    # mojibake repair: odd rows are mangled NATIVELY (utf-8 bytes
    # misdecoded as latin-1 — encode/decode in-plan, always valid),
    # even rows stay clean; repair must restore the former byte-exactly
    # and pass the latter through untouched. The oracle only needs
    # md5(original) — the whole mangle+repair round trip happens Spark-
    # side, which is exactly the claim under test.
    from themis_spark.operators import repair as RP

    d = _t(spark, sf, "documents").where(F.col("text").isNotNull())
    suffix = " — it’s a café “fine” €5"
    orig = F.concat(F.col("text"), F.lit(suffix))
    mangled = F.when(F.col("doc_id") % 2 == 1,
                     F.decode(F.encode(orig, "UTF-8"), "ISO-8859-1")) \
        .otherwise(orig)
    base = d.select("doc_id", orig.alias("orig"), mangled.alias("mangled"))
    return base.select(
        "doc_id",
        RP.mojibake_detected_col("mangled").alias("detected"),
        F.md5(RP.mojibake_repair_col("mangled")).alias("repaired_md5"),
        F.md5(F.col("orig")).alias("orig_md5"),
        (RP.mojibake_repair_col("mangled") == F.col("orig")).alias("restored"),
    )


def q_layout_zorder(spark, sf):
    # Morton z-values + fixed-width bucket over two join/filter keys —
    # the write-side clustering that makes min/max zone maps prune on
    # BOTH columns at once at 100 TB
    return LY.zorder_frame(_t(spark, sf, "orders"),
                           ["o_custkey", "o_orderkey"],
                           bits=8, n_buckets=16) \
        .select("o_orderkey", "zval", "zbucket")


def q_layout_zorder_stats(spark, sf):
    # layout audit: per-bucket counts + per-column zone-map ranges
    return LY.zorder_bucket_stats(_t(spark, sf, "orders"),
                                  ["o_custkey", "o_orderkey"],
                                  bits=8, n_buckets=16)


def q_layout_compaction(spark, sf):
    # compaction planning over a file-stats frame synthesized from the
    # documents table (path = zero-padded id, size = n_chars)
    d = _t(spark, sf, "documents").select(
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("path"),
        F.col("n_chars").cast("long").alias("n_bytes"))
    return LY.compaction_plan(d, target_bytes=50000)


def q_text_dsir(spark, sf):
    # DSIR importance weights: hashed unigram+bigram log-likelihood
    # ratio of the English subcorpus (target) vs the full corpus (raw)
    d = _t(spark, sf, "documents")
    return X.dsir_weights(d, d.where(F.col("lang") == "en"))


def q_text_dsir_take(spark, sf):
    d = _t(spark, sf, "documents")
    return X.dsir_take(d, d.where(F.col("lang") == "en"), k=20)


def q_text_dsir_sample(spark, sf):
    # Gumbel-top-k resampling ∝ exp(weight): hash-derived noise, so the
    # 'random' sample is deterministic and SQL-replayable
    d = _t(spark, sf, "documents")
    return X.dsir_sample(d, d.where(F.col("lang") == "en"), k=20)


def q_text_script(spark, sf):
    # per-script char counts + dominant script; the corpus is Latin, so
    # plant deterministic Cyrillic/CJK/Arabic suffixes on residue rows
    # to exercise every range and the tie/zero ('und') branches
    d = _t(spark, sf, "documents")
    extra = (F.when(F.col("doc_id") % 11 == 0, F.lit(" привет мир"))
             .when(F.col("doc_id") % 11 == 1, F.lit(" 训练数据管道"))
             .when(F.col("doc_id") % 11 == 2, F.lit(" بيانات التدريب"))
             .when(F.col("doc_id") % 11 == 3, F.lit("데이터 파이프라인"))
             .otherwise(F.lit("")))
    mixed = d.select("doc_id", F.concat(F.col("text"), extra).alias("text"))
    return X.script_profile(mixed)


def q_text_chunks(spark, sf):
    # context-window layout: 32-token chunks, stride 24 (8-token overlap)
    return X.chunk_spans(_t(spark, sf, "documents"), size=32, stride=24)


# page synthesis for the main-content oracle: nav (pure links), an h1
# (kept), the doc text in <p> (kept when >= 3 words), an ad div (link-
# dense — dropped) and a short footer (dropped); script/style subtrees
# carry decoy markup that must not leak into blocks
_MC_PRE = ('<html><head><script>var a="<p>x</p>";</script>'
           '<style>p{color:red}</style></head>'
           '<body><nav><a href="/">Home</a> <a href="/about">About</a>'
           ' <a href="/c">Contact</a></nav>'
           '<h1>Page title words here</h1><p>')
_MC_POST = ('</p><div class="ads"><a href="s">click</a>'
            ' <a href="t">win now</a></div>'
            '<footer>copyright foo</footer></body></html>')


def q_text_main_content(spark, sf):
    # jusText-lite boilerplate removal, end to end on synthesized pages
    d = _t(spark, sf, "documents")
    html = F.encode(
        F.concat(F.lit(_MC_PRE), F.col("text"), F.lit(_MC_POST)), "UTF-8")
    return X.main_content(d.select("doc_id", html.alias("html")))


def q_web_host_graph(spark, sf):
    # pages with synthesized markup: two absolute outlinks at
    # deterministic host residues, one relative href (dropped — no
    # host) and one self-link (dropped by drop_self); exercises the
    # binary→string cast + regexp_extract_all + single-agg path
    u = _urls(spark, sf)
    own_host = WB.host_col(F.col("url"))
    l1 = F.concat(F.lit("https://h"), (F.col("doc_id") * 7 % 50).cast("string"),
                  F.lit(".example.com/p"))
    l2 = F.concat(F.lit("https://h"),
                  ((F.col("doc_id") * 13 + 1) % 50).cast("string"),
                  F.lit(".example.com/q"))
    html = F.concat(
        F.lit('<html><a href="'), l1,
        F.lit('">x</a><p><a href="'), l2,
        F.lit('"></a><a href="/rel">r</a><a href="https://'), own_host,
        F.lit('/self"></a></html>')).cast("binary")
    pages = u.select("url", html.alias("html"))
    return WB.host_graph(WB.extract_links(pages, key="url", html="html"))


def q_web_revision_intervals(spark, sf):
    # events as a revision stream: user_id = the page key, ts = fetch
    # time, event_type = the content digest (changes over time, repeats
    # collapse into versions)
    ev = _t(spark, sf, "events")
    out = WB.revision_intervals(ev, key="user_id", ts="ts",
                                digest="event_type")
    return out.select(
        "user_id", "version", "digest", "valid_from", "valid_to",
        "n_revisions")


def q_pipeline_incremental_validate(spark, sf):
    # two crawl snapshots from `documents` by residue selection (same
    # trick as web_snapshot_diff): %10 rows removed in NEW, %7 rows
    # absent from OLD (added), %3 rows' text changed; digest covers the
    # changed column, all other columns identical by construction —
    # output must equal validating the whole new snapshot directly.
    from themis_spark.pipeline import incremental_validate

    d = _t(spark, sf, "documents")
    mod = F.when(F.col("doc_id") % 3 == 0,
                 F.concat(F.col("text"), F.lit("|v2"))) \
           .otherwise(F.col("text"))
    new = d.where(F.col("doc_id") % 10 != 0).withColumn("text", mod)
    old = d.where(F.col("doc_id") % 7 != 0)

    def dig():
        return hashing.hash60(F.coalesce(F.col("text"), F.lit("<null>")))

    old_digests = old.select(F.col("doc_id"), dig().alias("content_digest"))
    plan_old = compile_plan(DOCS_SCHEMA, old.schema)
    old_verdicts = old.select(
        "doc_id", F.size(plan_old.violations_col()).alias("n_violations"))
    plan_new = compile_plan(DOCS_SCHEMA, new.schema)
    return incremental_validate(new, old_digests, old_verdicts, plan_new,
                                key="doc_id", digest=dig())


def q_web_host_mirrors(spark, sf):
    # 6 hosts × 40 content groups by residue: hosts of equal parity
    # share every even/odd digest reachable under the doc count, hosts
    # of opposite parity share none (gcd(6,40)=2) — a planted mirror
    # structure both engines derive from the same arithmetic
    d = _t(spark, sf, "documents")
    pages = d.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 6).cast("string"),
                 F.lit(".example.com/p"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") % 40).alias("content_digest"))
    return WB.host_mirrors(pages, min_shared=3)


def q_web_robots_verdicts(spark, sf):
    # synthetic robots corpus over 7 hosts: every host publishes
    # '*' rules (Disallow /a/, Allow /a/b — longest-prefix + allow
    # tie-break — plus RFC 9309 wildcard rules /*?sid= and /*.pdf$),
    # even hosts ALSO publish a ccbot-specific group (Disallow /c +
    # the /*.pdf$ wildcard) which, per REP, REPLACES the '*' group for
    # ccbot; the oracle derives the expected verdicts independently, so
    # the parser (comments, consecutive UA lines, empty Disallow
    # dropped), the wildcard compile, and the enforcement are all
    # checked end to end.
    d = _t(spark, sf, "documents")
    hid = F.col("doc_id") % 7
    host = F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.com"))
    m = F.col("doc_id") % 6
    path = (
        F.when(m == 0, F.lit("/a/x"))
        .when(m == 1, F.lit("/a/b/y"))
        .when(m == 2, F.lit("/c/z"))
        .when(m == 3, F.lit("/ok"))
        .when(m == 4, F.lit("/p?sid=42"))
        .otherwise(F.lit("/file.pdf")))
    pages = d.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url"))
    body = F.concat(
        F.lit("# synthetic robots\nUser-Agent: *\nDisallow: /a/\n"
              "Allow: /a/b\nDisallow: /*?sid=\nDisallow: /*.pdf$\n"
              "Disallow:\n"),
        F.when(F.col("hid") % 2 == 0,
               F.lit("User-agent: ccbot\nDisallow: /c\n"
                     "Disallow: /*.pdf$\n"
                     "User-agent: extra\nDisallow: /\n"))
        .otherwise(F.lit("")))
    robots = d.select(hid.alias("hid")).distinct().select(
        F.concat(F.lit("h"), F.col("hid").cast("string"),
                 F.lit(".example.com")).alias("host"),
        body.alias("robots_txt"))
    rules = WB.parse_robots(robots)
    return WB.robots_verdicts(pages, rules, key="doc_id", agent="ccbot")


# Batch form of the streaming drift monitor (streaming/drift_stream.py):
# the SAME code path the stream runs (no watermark applied on batch
# frames), so the oracle checks the stream's bucket + PSI arithmetic.
_WHIST_REF = [0, 2000, 2000, 2000, 2000, 2000, 0]  # reference bucket counts


def _whist(spark, sf):
    from themis_spark.operators.stats import HistSpec
    from themis_spark.streaming.drift_stream import windowed_histogram_stream

    spec = HistSpec("value", lo=0.0, hi=500.0, nbins=5)
    ev = _t(spark, sf, "events").where(F.col("ts").isNotNull())
    return spec, ev, windowed_histogram_stream(ev, spec, ts_col="ts",
                                               window="1 day")


def q_stat_windowed_hist(spark, sf):
    _, _, h = _whist(spark, sf)
    return h.select(
        F.col("window_start").cast("timestamp").cast("long")
        .alias("window_start"),
        F.col("n"),
        *[F.element_at("hist", i + 1).alias(f"b{i}") for i in range(7)])


def q_drift_psi_windowed(spark, sf):
    from themis_spark.streaming.drift_stream import psi_drift_stream

    spec, ev, _ = _whist(spark, sf)
    out = psi_drift_stream(ev, spec, _WHIST_REF, ts_col="ts",
                           window="1 day", threshold=0.25)
    return out.select(
        F.col("window_start").cast("timestamp").cast("long")
        .alias("window_start"),
        F.col("n"), F.round("psi", 6).alias("psi"), F.col("drifted"))


def q_dedup_substring_spans(spark, sf):
    spans = D.duplicate_substring_spans(_substr_docs(spark, sf), window=8)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_windows")


def q_dedup_substring_removed(spark, sf):
    rem = D.remove_duplicate_substrings(_substr_docs(spark, sf), window=8)
    return rem.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"),
        "n_tokens", "n_removed")


# Ranked retrieval: BM25 top-k over the documents corpus for a fixed
# probe-query set drawn from the synthetic vocabulary. The oracle
# replays tokenization, tf/df/dl/avgdl, the Lucene-form idf, and the
# rank window verbatim (round 6, ties on doc_id — total order).
_BM25_QUERIES = [
    (0, "spark join window"),
    (1, "merge sort table"),
    (2, "customer data stream"),
    (3, "hash agg batch query"),
]


def q_search_bm25(spark, sf):
    from themis_spark.operators import retrieval as R

    docs = _t(spark, sf, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return R.bm25_topk(docs, qs, k=5)


def _bm25_sql(k: int = 5, k1: float = 1.2, b: float = 0.75) -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    return f"""
        WITH q(query_id, query) AS (VALUES {vals}),
        tok AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> len(x) > 0)) AS token
          FROM documents WHERE text IS NOT NULL),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        meta AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM dl),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        qtok AS (
          SELECT query_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(trim(query)), '\\s+'),
                   x -> len(x) > 0)) AS token
          FROM q),
        qt AS (SELECT DISTINCT query_id, token FROM qtok),
        part AS (
          SELECT qt.query_id, tf.doc_id,
                 ln(1.0 + (meta.n_docs::DOUBLE - dfreq.df + 0.5)
                          / (dfreq.df + 0.5))
                 * (tf.tf::DOUBLE * ({k1} + 1.0)
                    / (tf.tf::DOUBLE
                       + {k1} * (1.0 - {b}
                                 + {b} * dl.dl::DOUBLE / meta.avgdl))) AS p
          FROM tf
          JOIN dl ON tf.doc_id = dl.doc_id
          JOIN qt ON tf.token = qt.token
          JOIN dfreq ON tf.token = dfreq.token
          CROSS JOIN meta),
        scored AS (SELECT query_id, doc_id, round(sum(p), 6) AS score
                   FROM part GROUP BY 1, 2),
        ranked AS (SELECT query_id, doc_id, score,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC,
                                                      doc_id ASC) AS rank
                   FROM scored)
        SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {k}"""


def q_search_postings(spark, sf):
    from themis_spark.operators import retrieval as R

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return R.term_postings(docs, ["spark", "customer", "window"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_documents": q_validate_documents,
        "kw_pattern": q_kw_pattern,
        "kw_pattern_re2": q_kw_pattern_re2,
        "kw_enum": q_kw_enum,
        "kw_enum_broadcast": q_kw_enum_broadcast,
        "kw_required": q_kw_required,
        "kw_range": q_kw_range,
        "kw_length": q_kw_length,
        "kw_multipleof": q_kw_multipleof,
        "kw_uniqueitems": q_kw_uniqueitems,
        "kw_json": q_kw_json,
        "kw_combinators": q_kw_combinators,
        "kw_dependencies": q_kw_dependencies,
        "kw_ref_format_items": q_kw_ref_format_items,
        "kw_allof_items_deps": q_kw_allof_items_deps,
        "kw_props_items_counts": q_kw_props_items_counts,
        "validate_verdicts": q_validate_verdicts,
        "kw_defaults": q_kw_defaults,
        "kw_custom_format": q_kw_custom_format,
        "kw_ref_cycle": q_kw_ref_cycle,
        "kw_ref_registry": q_kw_ref_registry,
        "text_filter_funnel": q_text_filter_funnel,
        "text_filtered": q_text_filtered,
        "stat_basic": q_stat_basic,
        "stat_hist": q_stat_hist,
        "stat_distinct": q_stat_distinct,
        "stat_hll": q_stat_hll,
        "con_unique": q_con_unique,
        "con_unique_salted": q_con_unique_salted,
        "con_unique_hashed": q_con_unique_hashed,
        "con_unique_auto": q_con_unique_auto,
        "con_ref": q_con_ref,
        "con_dup_window": q_con_dup_window,
        "con_text_invariant": q_con_text_invariant,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_lsh_candidates": q_dedup_lsh_candidates,
        "dedup_simhash_neardup": q_dedup_simhash_neardup,
        "dedup_clusters": q_dedup_clusters,
        "text_tokens": q_text_tokens,
        "text_langid": q_text_langid,
        "text_quality": q_text_quality,
        "text_fingerprint": q_text_fingerprint,
        "text_extract": q_text_extract,
        "text_gopher": q_text_gopher,
        "text_repetition": q_text_repetition,
        "dedup_decontaminate": q_dedup_decontaminate,
        "stat_topk": q_stat_topk,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_pq_codes": q_ann_pq_codes,
        "ann_ivfpq": q_ann_ivfpq,
        "ann_ivfpq_train": q_ann_ivfpq_train,
        "ann_ivfpq_encode": q_ann_ivfpq_encode,
        "ann_ivfpq_query": q_ann_ivfpq_query,
        "ann_embedding_neardup": q_ann_embedding_neardup,
        "drift_ks": q_drift_ks,
        "drift_psi": q_drift_psi,
        "stat_quantiles": q_stat_quantiles,
        "mm_meta": q_mm_meta,
        "mm_meta_dims": q_mm_meta_dims,
        "mm_decode": q_mm_decode,
        "mm_resize": q_mm_resize,
        "web_url_features": q_web_url_features,
        "web_domain_stats": q_web_domain_stats,
        "dedup_common_lines": q_dedup_common_lines,
        "dedup_line_cleaned": q_dedup_line_cleaned,
        "stat_stratified_sample": q_stat_stratified_sample,
        "infer_json_profile": q_infer_profile,
        "web_top_pages": q_web_top_pages,
        "stat_suggest_constraints": q_stat_suggest_constraints,
        "text_pii": q_text_pii,
        "text_pii_redact": q_text_pii_redact,
        "web_canonical": q_web_canonical,
        "web_canonical_dupes": q_web_canonical_dupes,
        "stat_outliers": q_stat_outliers,
        "dedup_lsh_verified": q_dedup_lsh_verified,
        "event_sessions": q_event_sessions,
        "text_vocab": q_text_vocab,
        "text_unigram": q_text_unigram,
        "stat_mixture_plan": q_stat_mixture_plan,
        "stat_mixture_take": q_stat_mixture_take,
        "infer_profile_diff": q_infer_profile_diff,
        "temporal_asof": q_temporal_asof,
        "temporal_range": q_temporal_range,
        "events_hourly": q_events_hourly,
        "dedup_cross_corpus": q_dedup_cross_corpus,
        "stat_group_sample": q_stat_group_sample,
        "text_tfidf": q_text_tfidf,
        "repair_table": q_repair_table,
        "repair_report": q_repair_report,
        "ann_centroids": q_ann_centroids,
        "ann_centroid_stats": q_ann_centroid_stats,
        "con_fd": q_con_fd,
        "stat_skew": q_stat_skew,
        "text_vocab_drift": q_text_vocab_drift,
        "stat_corr": q_stat_corr,
        "stat_clip": q_stat_clip,
        "event_funnel": q_event_funnel,
        "dedup_containment": q_dedup_containment,
        "dedup_against": q_dedup_against,
        "stat_pack_offsets": q_stat_pack_offsets,
        "stat_pack_summary": q_stat_pack_summary,
        "text_classifier": q_text_classifier,
        "ann_semdedup": q_ann_semdedup,
        "ann_semdedup_keep": q_ann_semdedup_keep,
        "web_latest_revision": q_web_latest_revision,
        "web_pagerank": q_web_pagerank,
        "web_blocklist": q_web_blocklist,
        "ann_recall": q_ann_recall,
        "stat_rank_buckets": q_stat_rank_buckets,
        "stat_entropy": q_stat_entropy,
        "validate_dispatch": q_validate_dispatch,
        "text_bpe": q_text_bpe,
        "text_bpe_arrow": q_text_bpe_arrow,
        "text_classifier_join": q_text_classifier_join,
        "mm_decode_png": q_mm_decode_png,
        "mm_decode_jpeg": q_mm_decode_jpeg,
        "mm_video_frames": q_mm_video_frames,
        "mm_exif": q_mm_exif,
        "mm_decode_jpeg_prog": q_mm_decode_jpeg_prog,
        "pipeline_curate": q_pipeline_curate,
        "dedup_substring_spans": q_dedup_substring_spans,
        "dedup_substring_removed": q_dedup_substring_removed,
        "text_langid_join": q_text_langid_join,
        "dedup_substring_stats": q_dedup_substring_stats,
        "text_bigram": q_text_bigram,
        "ann_project": q_ann_project,
        "web_url_templates": q_web_url_templates,
        "text_sentences": q_text_sentences,
        "text_collocations": q_text_collocations,
        "stat_heavy_hitters": q_stat_heavy_hitters,
        "text_unigram_viterbi": q_text_unigram_viterbi,
        "stat_hll_overlap": q_stat_hll_overlap,
        "repair_mojibake": q_repair_mojibake,
        "layout_zorder": q_layout_zorder,
        "layout_zorder_stats": q_layout_zorder_stats,
        "layout_compaction": q_layout_compaction,
        "text_dsir": q_text_dsir,
        "text_dsir_take": q_text_dsir_take,
        "text_dsir_sample": q_text_dsir_sample,
        "web_snapshot_diff": q_web_snapshot_diff,
        "con_monotonic": q_con_monotonic,
        "stat_windowed_hist": q_stat_windowed_hist,
        "drift_psi_windowed": q_drift_psi_windowed,
        "web_host_graph": q_web_host_graph,
        "web_revision_intervals": q_web_revision_intervals,
        "pipeline_incremental_validate": q_pipeline_incremental_validate,
        "web_robots_verdicts": q_web_robots_verdicts,
        "web_host_mirrors": q_web_host_mirrors,
        "text_script": q_text_script,
        "text_chunks": q_text_chunks,
        "text_main_content": q_text_main_content,
        "mm_phash": q_mm_phash,
        "mm_image_neardup": q_mm_image_neardup,
        "mm_audio_hash": q_mm_audio_hash,
        "mm_audio_neardup": q_mm_audio_neardup,
        "mm_decode_gif": q_mm_decode_gif,
        "mm_decode_webp": q_mm_decode_webp,
        "mm_meta_webp": q_mm_meta_webp,
        "search_bm25": q_search_bm25,
        "search_postings": q_search_postings,
        "dedup_bloom": q_dedup_bloom,
        "web_hits": q_web_hits,
        "web_sitemaps": q_web_sitemaps,
        "web_robots_directives": q_web_robots_directives,
        "web_anchor_text": q_web_anchor_text,
        "text_charset": q_text_charset,
        "web_crawl_budget": q_web_crawl_budget,
        "web_frontier": q_web_frontier,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_H = "('0x'||substr(md5({x}),1,15))::BIGINT"  # portable hash60
_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_SHINGLES3 = (
    "list_distinct(list_transform(range(1, greatest(len({t})-2,0)+1),"
    " i -> {t}[i]||' '||{t}[i+1]||' '||{t}[i+2]))"
).format(t="toks")


def _minhash_sql(num_hashes: int, limit: int = 100,
                 src: str | None = None) -> str:
    # universal affine family over 2^31-1: ONE md5 per shingle, each
    # permutation i = (a_i*base + b_i) % P — mirrors dedup.py exactly
    # (all intermediates < 2^62, exact in 64-bit on both engines).
    # ``src`` overrides the source relation (a prior CTE name) so
    # composed pipelines (pipeline_curate) reuse the same replay.
    P = hashing.MERSENNE_P
    mins = ", ".join(
        f"list_min(list_transform(hb, h -> (h*{a} + {b}) % {P}))"
        f" AS minhash_{i}"
        for i, (a, b) in
        ((i, hashing.affine_params(i)) for i in range(num_hashes))
    )
    base = _H.format(x="s")
    rel = src if src is not None else f"documents WHERE doc_id < {limit}"
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM {rel}),
    s AS (SELECT doc_id, {_SHINGLES3} AS sh FROM t),
    bh AS (SELECT doc_id, list_transform(sh, s -> ({base}) % {P}) AS hb FROM s)
    SELECT doc_id, {mins} FROM bh
    """


def _lsh_candidates_sql(num_hashes: int = 12, bands: int = 6,
                        limit: int = 200, cap: int = 64) -> str:
    """Exact DuckDB replay of lsh_candidate_pairs: portable minhashes →
    md5-hash60 band buckets → bucket-size cap (QUALIFY window) → self
    equi-join."""
    rpb = num_hashes // bands
    band_selects = []
    for b in range(bands):
        concat = "||'|'||".join(
            f"minhash_{b * rpb + r}::VARCHAR" for r in range(rpb))
        bh = _H.format(x=f"({concat})")
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {bh} AS bh FROM m "
            f"WHERE minhash_0 IS NOT NULL")
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
    WITH m AS ({_minhash_sql(num_hashes, limit)}),
    bands AS ({bands_sql}),
    capped AS (SELECT * FROM bands
               QUALIFY count(*) OVER (PARTITION BY band, bh) <= {cap})
    SELECT DISTINCT a.doc_id AS a_key, b.doc_id AS b_key
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """


def _simhash_sql(bits: int = 16, limit: int = 100) -> str:
    h = _H.format(x="t")
    parts = []
    for b in range(bits):
        parts.append(
            f"(CASE WHEN 2*list_sum(list_transform(th, h -> (h >> {b}) & 1)) > len(th)"
            f" THEN {1 << b} ELSE 0 END)"
        )
    total = " + ".join(parts)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < {limit}),
    s AS (SELECT doc_id, list_transform(toks, t -> {h}) AS th FROM t)
    SELECT doc_id, ({total})::BIGINT AS simhash FROM s
    """


def _simhash_neardup_sql(bits: int = 16, max_hamming: int = 3,
                         block_bits: int = 8, limit: int = 300,
                         cap: int = 256) -> str:
    mask = (1 << bits) - 1
    rots = ", ".join(str(r) for r in range(0, bits, block_bits))
    return f"""
    WITH sig AS ({_simhash_sql(bits, limit)}),
    blocks AS (
      SELECT doc_id, simhash, r.rot,
             ((simhash << r.rot) & {mask}) >> {bits - block_bits} AS blk
      FROM sig, (SELECT unnest([{rots}]) AS rot) r),
    capped AS (SELECT * FROM blocks
               QUALIFY count(*) OVER (PARTITION BY rot, blk) <= {cap}),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_key, b.doc_id AS b_key,
             a.simhash AS a_sh, b.simhash AS b_sh
      FROM capped a JOIN capped b
        ON a.rot = b.rot AND a.blk = b.blk AND a.doc_id < b.doc_id)
    SELECT a_key, b_key, bit_count(xor(a_sh, b_sh))::INT AS hamming
    FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= {max_hamming}
    """


def _dedup_clusters_sql() -> str:
    """Connected components over the SimHash near-dup pairs: label
    propagation's fixed point == min label over the transitive closure,
    which DuckDB computes exactly with a recursive CTE (edges are
    symmetrized, so reachability is component membership)."""
    return f"""
    WITH RECURSIVE p AS (
      SELECT a_key, b_key FROM ({_simhash_neardup_sql(16, 3, 8, 300, 256)})
    ),
    edges AS (
      SELECT a_key AS s, b_key AS d FROM p
      UNION SELECT b_key, a_key FROM p
    ),
    reach(node, label) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS member, min(label) AS cluster FROM reach GROUP BY node
    """


def _lsh_code_sql(planes, vec: str = "embedding") -> str:
    """LSH code expression from the SAME seeded hyperplanes the Spark
    plan compiled in (emitted as SQL literals — round-1 verdict item 4)."""
    terms = []
    for i, p in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in p)
        terms.append(
            f"(CASE WHEN list_dot_product({vec}::DOUBLE[], [{lits}]::DOUBLE[]) > 0 "
            f"THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def _ann_lsh_sql(n_planes: int = 4, k: int = 10, n_queries: int = 5) -> str:
    from themis_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes, 42)
    code = _lsh_code_sql(planes)
    probes = ", ".join(["code"] + [f"xor(code, {1 << i})" for i in range(n_planes)])
    return f"""
    WITH c AS (SELECT vec_id, embedding, {code} AS code FROM embeddings),
    q AS (SELECT vec_id AS query_key, embedding AS q_vec, code
          FROM c WHERE vec_id < {n_queries}),
    probes AS (SELECT query_key, q_vec, unnest([{probes}]) AS code FROM q),
    scored AS (
      SELECT p.query_key, cc.vec_id AS neighbor_key,
             round(list_cosine_similarity(p.q_vec::DOUBLE[], cc.embedding::DOUBLE[]), 6) AS cosine
      FROM c cc JOIN probes p USING (code)
      WHERE cc.vec_id <> p.query_key),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_key
                ORDER BY cosine DESC, neighbor_key ASC) AS rank
      FROM scored)
    SELECT query_key, neighbor_key, cosine, rank FROM ranked WHERE rank <= {k}
    """


def _ann_neardup_sql(n_planes: int = 4, threshold: float = 0.15,
                     limit: int = 500) -> str:
    from themis_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes, 42)
    code = _lsh_code_sql(planes)
    probes = ", ".join(["code"] + [f"xor(code, {1 << i})" for i in range(n_planes)])
    return f"""
    WITH c AS (SELECT vec_id, embedding, {code} AS code
               FROM embeddings WHERE vec_id < {limit}),
    a AS (SELECT vec_id, embedding, unnest([{probes}]) AS code FROM c)
    SELECT a.vec_id AS a_key, b.vec_id AS b_key,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM a JOIN c b USING (code)
    WHERE a.vec_id < b.vec_id
      AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {threshold}
    """


def _ann_ivf_sql(n_cells: int = 16, n_probe: int = 4, k: int = 10,
                 n_queries: int = 5) -> str:
    # replays ivf_topk with init-only centroids: same round-to-6dp sims,
    # same first-on-tie (lowest cell) argmax / probe ranking
    return f"""
    WITH cent AS (SELECT vec_id AS cell_ix, embedding::DOUBLE[] AS c_vec
                  FROM embeddings WHERE vec_id < {n_cells}),
    sims AS (SELECT e.vec_id, ct.cell_ix,
                    round(list_cosine_similarity(e.embedding::DOUBLE[], ct.c_vec), 6) AS sim
             FROM embeddings e, cent ct),
    assign AS (SELECT vec_id, cell_ix AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cell_ix ASC) AS rn FROM sims) s
               WHERE rn = 1),
    probes AS (SELECT vec_id AS query_key, cell_ix AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cell_ix ASC) AS rn FROM sims
                 WHERE vec_id < {n_queries}) s
               WHERE rn <= {n_probe}),
    scored AS (SELECT p.query_key, a.vec_id AS neighbor_key,
                      round(list_cosine_similarity(
                        q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
               FROM probes p JOIN assign a USING (cell)
               JOIN embeddings q ON q.vec_id = p.query_key
               JOIN embeddings c ON c.vec_id = a.vec_id
               WHERE a.vec_id <> p.query_key),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY query_key
                         ORDER BY cosine DESC, neighbor_key ASC) AS rank
               FROM scored)
    SELECT query_key, neighbor_key, cosine, rank FROM ranked WHERE rank <= {k}
    """


# PQ index CTEs shared by the ann_pq_codes / ann_ivfpq oracles: replay
# train_pq_codebooks init (sub-slices of the first k rows), the rounded
# L2 assignment with first-on-tie (lowest code), and the per-row norm.
# list_distance mirrors similarity._sub_sqdist_col's round(sqrt(Σd²),6).
def _pq_index_sql(n_sub: int = 8, k: int = 16, dim: int = 64) -> str:
    d = dim // n_sub
    return f"""
    init AS (SELECT vec_id AS code, embedding FROM embeddings
             WHERE vec_id < {k}),
    sub AS (SELECT t.m, init.code,
                   list_slice(init.embedding, t.m*{d}+1, t.m*{d}+{d})::DOUBLE[] AS c
            FROM init, range(0, {n_sub}) t(m)),
    dists AS (SELECT e.vec_id, s.m, s.code,
                     round(list_distance(
                       list_slice(e.embedding, s.m*{d}+1, s.m*{d}+{d})::DOUBLE[],
                       s.c), 6) AS dst
              FROM embeddings e, sub s),
    codes AS (SELECT vec_id, m, code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, m
                          ORDER BY dst ASC, code ASC) AS rn
                FROM dists) rr WHERE rn = 1),
    norms AS (SELECT vec_id,
                     round(sqrt(list_inner_product(embedding::DOUBLE[],
                                                   embedding::DOUBLE[])), 6) AS nrm
              FROM embeddings)"""


def _ann_pq_codes_sql(n_sub: int = 8, k: int = 16, dim: int = 64) -> str:
    return f"""
    WITH {_pq_index_sql(n_sub, k, dim)},
    agg AS (SELECT vec_id,
                   array_to_string(list(code ORDER BY m), '-') AS codes
            FROM codes GROUP BY vec_id)
    SELECT a.vec_id, a.codes, n.nrm AS norm
    FROM agg a JOIN norms n USING (vec_id)
    """


def _ann_ivfpq_sql(n_cells: int = 16, n_probe: int = 4, k: int = 10,
                   n_queries: int = 5, n_sub: int = 8, n_codes: int = 16,
                   dim: int = 64) -> str:
    # ivf assignment/probing identical to _ann_ivf_sql; ranking replays
    # the integer ADC: LUT entries round-scaled to BIGINT micro-units,
    # summed exactly, one float divide by the stored rounded norms
    d = dim // n_sub
    return f"""
    WITH cent AS (SELECT vec_id AS cell_ix, embedding::DOUBLE[] AS c_vec
                  FROM embeddings WHERE vec_id < {n_cells}),
    sims AS (SELECT e.vec_id, ct.cell_ix,
                    round(list_cosine_similarity(e.embedding::DOUBLE[], ct.c_vec), 6) AS sim
             FROM embeddings e, cent ct),
    assign AS (SELECT vec_id, cell_ix AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cell_ix ASC) AS rn FROM sims) s
               WHERE rn = 1),
    probes AS (SELECT vec_id AS query_key, cell_ix AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cell_ix ASC) AS rn FROM sims
                 WHERE vec_id < {n_queries}) s
               WHERE rn <= {n_probe}),
    {_pq_index_sql(n_sub, n_codes, dim)},
    lut AS (SELECT q.vec_id AS query_key, s.m, s.code,
                   round(list_inner_product(
                     list_slice(q.embedding, s.m*{d}+1, s.m*{d}+{d})::DOUBLE[],
                     s.c) * 1000000)::BIGINT AS t
            FROM embeddings q, sub s WHERE q.vec_id < {n_queries}),
    adc AS (SELECT l.query_key, c.vec_id AS neighbor_key, sum(l.t) AS adot
            FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
            GROUP BY 1, 2),
    cand AS (SELECT p.query_key, a.vec_id AS neighbor_key
             FROM probes p JOIN assign a USING (cell)
             WHERE a.vec_id <> p.query_key),
    scored AS (SELECT cd.query_key, cd.neighbor_key,
                      round(adc.adot / 1000000.0 / (qn.nrm * cn.nrm), 6) AS score
               FROM cand cd
               JOIN adc ON adc.query_key = cd.query_key
                       AND adc.neighbor_key = cd.neighbor_key
               JOIN norms qn ON qn.vec_id = cd.query_key
               JOIN norms cn ON cn.vec_id = cd.neighbor_key),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY query_key
                         ORDER BY score DESC, neighbor_key ASC) AS rank
               FROM scored)
    SELECT query_key, neighbor_key, score, rank FROM ranked WHERE rank <= {k}
    """


# Unigram-Viterbi replay: relational DP over the word lattice. Edges =
# (j -> i) substring-in-vocab (or single-char unk); the DP unrolls word
# positions 1..W as generated CTEs, each keeping the per-(doc, word)
# argmax under the EXACT tie rule the kernel uses (score DESC, pieces
# ASC, j ASC = longest piece last). Integer micro-unit scores sum
# exactly on both engines.
def _unigram_viterbi_sql(W: int = 16, L: int = 6) -> str:
    from themis_spark.operators.text import UNIGRAM_UNK_LP

    vocab_rows = ", ".join(f"('{p}', {lp}::BIGINT)" for p, lp in UNIGRAM_VOCAB)
    head = f"""
    WITH docs AS (
      SELECT doc_id, list_filter(
        string_split_regex(trim(lower(text)), '\\s+'),
        x -> length(x) > 0) AS words
      FROM documents WHERE text IS NOT NULL),
    okdocs AS (SELECT * FROM docs
      WHERE len(words) = 0
         OR list_max(list_transform(words, w -> length(w))) <= {W}),
    w0 AS (SELECT doc_id, unnest(range(1, len(words) + 1)) AS wi, words
           FROM okdocs),
    w AS MATERIALIZED (SELECT doc_id, wi::INT AS wi, words[wi] AS wrd
                       FROM w0),
    vocab(piece, lp) AS (VALUES {vocab_rows}),
    pos AS (SELECT doc_id, wi, wrd,
                   unnest(range(1, length(wrd) + 1)) AS i FROM w),
    je AS (SELECT doc_id, wi, wrd, i,
                  unnest(range(greatest(i - {L}, 0), i)) AS j FROM pos),
    edges AS MATERIALIZED (
      SELECT e.doc_id, e.wi, e.i, e.j,
             coalesce(v.lp, {UNIGRAM_UNK_LP}::BIGINT) AS lp
      FROM (SELECT *, substr(wrd, j + 1, (i - j)::INT) AS piece FROM je) e
      LEFT JOIN vocab v ON v.piece = e.piece
      WHERE v.lp IS NOT NULL OR e.i - e.j = 1),
    b0 AS MATERIALIZED (SELECT DISTINCT doc_id, wi, 0 AS i,
                        0::BIGINT AS score, 0 AS n FROM w)"""
    parts = []
    prev = "b0"
    for k in range(1, W + 1):
        parts.append(f"""
    c{k} AS (SELECT a.doc_id, a.wi, {k} AS i,
                    a.score + e.lp AS score, a.n + 1 AS n,
                    row_number() OVER (PARTITION BY a.doc_id, a.wi
                        ORDER BY a.score + e.lp DESC, a.n + 1 ASC,
                                 e.j ASC) AS rn
             FROM {prev} a JOIN edges e
               ON e.doc_id = a.doc_id AND e.wi = a.wi
              AND e.j = a.i AND e.i = {k}),
    b{k} AS MATERIALIZED (
        SELECT doc_id, wi, i, score, n FROM c{k} WHERE rn = 1
        UNION ALL SELECT * FROM {prev})""")
        prev = f"b{k}"
    tail = f""",
    final AS (SELECT b.doc_id, b.wi, b.score, b.n
              FROM {prev} b JOIN w
                ON w.doc_id = b.doc_id AND w.wi = b.wi
              WHERE b.i = length(w.wrd)),
    agg AS (SELECT doc_id, sum(n) AS np, sum(score) AS sc
            FROM final GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.np, 0)::INT AS n_pieces,
           coalesce(a.sc, 0)::BIGINT AS score_micro
    FROM okdocs d LEFT JOIN agg a USING (doc_id)"""
    return head + "," + ",".join(parts) + tail


# Z-order replay: exact-integer min/max normalization, explicit
# bit-interleave terms (generated like _lsh_code_sql), floor-binned
# buckets. Division is double but its numerator < 2^53, so floor ==
# integer division on both engines (layout.normalized_rank_col).
def _zorder_core_sql(bits: int = 8, n_buckets: int = 16) -> str:
    scale = 1 << bits

    def interleave(r: str, i: int, n: int = 2) -> str:
        return " + ".join(f"(((({r}) >> {b}) & 1) << {b * n + i})"
                          for b in range(bits))

    return f"""
    b AS (SELECT min(o_custkey) AS mn0, max(o_custkey) AS mx0,
                 min(o_orderkey) AS mn1, max(o_orderkey) AS mx1
          FROM orders),
    r AS (SELECT o_orderkey, o_custkey,
                 floor((o_custkey - mn0) * {scale} / (mx0 - mn0 + 1))::BIGINT AS r0,
                 floor((o_orderkey - mn1) * {scale} / (mx1 - mn1 + 1))::BIGINT AS r1
          FROM orders, b),
    z AS (SELECT o_orderkey, o_custkey,
                 ({interleave('r0', 0)} + {interleave('r1', 1)})::BIGINT AS zval
          FROM r),
    zb AS (SELECT o_orderkey, o_custkey, zval,
                  floor(zval * {n_buckets} / {1 << (2 * bits)})::BIGINT AS zbucket
           FROM z)"""


def _layout_zorder_sql(bits: int = 8, n_buckets: int = 16) -> str:
    return f"WITH {_zorder_core_sql(bits, n_buckets)}" \
           " SELECT o_orderkey, zval, zbucket FROM zb"


def _layout_zorder_stats_sql(bits: int = 8, n_buckets: int = 16) -> str:
    return f"""WITH {_zorder_core_sql(bits, n_buckets)}
    SELECT zbucket, count(*) AS n_rows,
           min(o_custkey) AS min_o_custkey, max(o_custkey) AS max_o_custkey,
           min(o_orderkey) AS min_o_orderkey, max(o_orderkey) AS max_o_orderkey
    FROM zb GROUP BY zbucket"""


_LAYOUT_COMPACTION_SQL = """
    WITH f AS (SELECT lpad(doc_id::VARCHAR, 6, '0') AS path,
                      n_chars::BIGINT AS n_bytes FROM documents),
    c AS (SELECT path, n_bytes,
                 sum(n_bytes) OVER (ORDER BY path
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
          FROM f),
    g AS (SELECT path, n_bytes,
                 greatest(floor((csum - 1) / 50000), 0)::BIGINT
                   AS compact_group FROM c)
    SELECT g.path, g.n_bytes, g.compact_group, t.group_bytes
    FROM g JOIN (SELECT compact_group, sum(n_bytes)::BIGINT AS group_bytes
                 FROM g GROUP BY 1) t USING (compact_group)"""


# DSIR replay: same unigram+bigram stream (lower/trim/\s+ split, grams
# joined with one space, empties dropped), hash60 % 1024 buckets,
# add-one-smoothed cross-multiplied ratio with every factor cast DOUBLE
# (identical IEEE op order), ln round-scaled to BIGINT micro-units so
# the per-doc sum is exact integer arithmetic on both engines.
_DSIR_WEIGHTS_SQL = r"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents WHERE text IS NOT NULL
    ), grams AS (
        SELECT doc_id, lang, g.gram AS gram
        FROM toks, unnest(list_concat(tk,
             CASE WHEN len(tk) >= 2
                  THEN list_transform(range(1, len(tk)),
                                      i -> tk[i] || ' ' || tk[i+1])
                  ELSE [] END)) AS g(gram)
        WHERE length(g.gram) > 0
    ), rawb AS (
        SELECT doc_id, ('0x'||substr(md5(gram),1,15))::BIGINT % 1024 AS bucket
        FROM grams
    ), tgtb AS (
        SELECT ('0x'||substr(md5(gram),1,15))::BIGINT % 1024 AS bucket
        FROM grams WHERE lang = 'en'
    ), rb AS (SELECT bucket, count(*) AS cr FROM rawb GROUP BY bucket),
    tb AS (SELECT bucket, count(*) AS ct FROM tgtb GROUP BY bucket),
    tr AS (SELECT count(*) AS t FROM rawb),
    tt AS (SELECT count(*) AS t FROM tgtb),
    lr AS (
        SELECT rb.bucket,
               round(ln(((coalesce(tb.ct, 0) + 1)::DOUBLE * (tr.t + 1024)::DOUBLE)
                      / ((tt.t + 1024)::DOUBLE * (rb.cr + 1)::DOUBLE))
                     * 1000000)::BIGINT AS lr
        FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN tr CROSS JOIN tt
    ), agg AS (
        SELECT rawb.doc_id, count(*) AS n_grams, sum(lr.lr) AS w
        FROM rawb JOIN lr USING (bucket) GROUP BY rawb.doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_grams, 0) AS n_grams,
           round(coalesce(a.w, 0) / 1000000.0, 6) AS dsir_weight
    FROM documents d LEFT JOIN agg a USING (doc_id)"""

_DSIR_TAKE_SQL = f"""
    SELECT * FROM ({_DSIR_WEIGHTS_SQL})
    ORDER BY dsir_weight DESC, doc_id ASC LIMIT 20"""

# hash60_seeded(doc_id, 42) -> uniform in (0,1) -> Gumbel noise; key =
# weight/tau + g, tau = 1.0
_DSIR_SAMPLE_SQL = f"""
    SELECT doc_id, n_grams, dsir_weight,
           round(dsir_weight / 1.0 +
                 -ln(-ln((('0x'||substr(md5('42:' || doc_id), 1, 15))::BIGINT
                          + 0.5) / 1152921504606846976.0)), 6) AS sample_key
    FROM ({_DSIR_WEIGHTS_SQL})
    ORDER BY sample_key DESC, doc_id ASC LIMIT 20"""


def _drift_ks_sql(lo: float = 0.0, hi: float = 600000.0, n: int = 20,
                  threshold: float = 0.1) -> str:
    w = (hi - lo) / n
    bucket = (f"CASE WHEN o_totalprice < {lo} THEN 0 "
              f"WHEN o_totalprice >= {hi} THEN {n + 1} "
              f"ELSE (floor((o_totalprice - {lo}) / {w}) + 1)::INT END")
    return f"""
    WITH ha AS (SELECT {bucket} AS bucket, count(*) AS c FROM orders
                WHERE o_orderkey % 2 = 0 GROUP BY 1),
    hb AS (SELECT {bucket} AS bucket, count(*) AS c FROM orders
           WHERE o_orderkey % 2 = 1 GROUP BY 1),
    allb AS (SELECT range AS bucket FROM range(0, {n + 2})),
    j AS (SELECT allb.bucket, coalesce(ha.c, 0) AS ca, coalesce(hb.c, 0) AS cb
          FROM allb LEFT JOIN ha USING (bucket) LEFT JOIN hb USING (bucket)),
    cdf AS (SELECT bucket,
                   sum(ca) OVER (ORDER BY bucket) / (SELECT sum(ca) FROM j)::DOUBLE AS fa,
                   sum(cb) OVER (ORDER BY bucket) / (SELECT sum(cb) FROM j)::DOUBLE AS fb
            FROM j)
    SELECT 'o_totalprice' AS column, round(max(abs(fa - fb)), 6) AS ks,
           max(abs(fa - fb)) > {threshold} AS drifted
    FROM cdf
    """


def _drift_psi_sql(lo: float = 0.0, hi: float = 600000.0, n: int = 20,
                   threshold: float = 0.25, eps: float = 1e-6) -> str:
    w = (hi - lo) / n
    bucket = (f"CASE WHEN o_totalprice < {lo} THEN 0 "
              f"WHEN o_totalprice >= {hi} THEN {n + 1} "
              f"ELSE (floor((o_totalprice - {lo}) / {w}) + 1)::INT END")
    return f"""
    WITH ha AS (SELECT {bucket} AS bucket, count(*) AS c FROM orders
                WHERE o_orderkey % 2 = 0 GROUP BY 1),
    hb AS (SELECT {bucket} AS bucket, count(*) AS c FROM orders
           WHERE o_orderkey % 2 = 1 GROUP BY 1),
    allb AS (SELECT range AS bucket FROM range(0, {n + 2})),
    j AS (SELECT allb.bucket,
                 greatest(coalesce(ha.c, 0) / (SELECT sum(c) FROM ha)::DOUBLE, {eps}) AS pa,
                 greatest(coalesce(hb.c, 0) / (SELECT sum(c) FROM hb)::DOUBLE, {eps}) AS pb
          FROM allb LEFT JOIN ha USING (bucket) LEFT JOIN hb USING (bucket))
    SELECT 'o_totalprice' AS column,
           round(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
           sum((pa - pb) * ln(pa / pb)) > {threshold} AS drifted
    FROM j
    """


def _validate_documents_sql() -> str:
    base = "CAST(doc_id AS BIGINT) AS url, '0' AS partition_id, 'r0' AS run_id"
    rows = [
        f"""SELECT {base}, 'required' AS keyword, '$.text' AS instance_path,
            'documents#/properties/text/required' AS schema_path
            FROM documents WHERE text IS NULL""",
        f"""SELECT {base}, 'required', '$.lang',
            'documents#/properties/lang/required'
            FROM documents WHERE lang IS NULL""",
        f"""SELECT {base}, 'required', '$.doc_id',
            'documents#/properties/doc_id/required'
            FROM documents WHERE doc_id IS NULL""",
        f"""SELECT {base}, 'minimum', '$.doc_id',
            'documents#/properties/doc_id/minimum'
            FROM documents WHERE doc_id IS NOT NULL AND doc_id < 0""",
        f"""SELECT {base}, 'minLength', '$.text',
            'documents#/properties/text/minLength'
            FROM documents WHERE text IS NOT NULL AND length(text) < 50""",
        f"""SELECT {base}, 'maxLength', '$.text',
            'documents#/properties/text/maxLength'
            FROM documents WHERE text IS NOT NULL AND length(text) > 20000""",
        f"""SELECT {base}, 'enum', '$.lang',
            'documents#/properties/lang/enum'
            FROM documents WHERE lang IS NOT NULL
            AND lang NOT IN ('en','zh','es','de','fr')""",
        f"""SELECT {base}, 'pattern', '$.source',
            'documents#/properties/source/pattern'
            FROM documents WHERE source IS NOT NULL
            AND NOT regexp_matches(source, '^src[0-9]+$')""",
        f"""SELECT {base}, 'minimum', '$.n_chars',
            'documents#/properties/n_chars/minimum'
            FROM documents WHERE n_chars IS NOT NULL AND n_chars < 1""",
    ]
    return " UNION ALL ".join(rows)


_STOP = {k: v for k, v in X.LANG_STOPWORDS.items()}


def _langid_sql() -> str:
    score = {
        lang: f"len(list_intersect(list_distinct(toks), {words!r}))".replace("'", "'")
        for lang, words in _STOP.items()
    }
    scores_sql = ", ".join(
        f"len(list_intersect(list_distinct(toks), [{', '.join(repr(w) for w in words)}])) AS s_{lang}"
        for lang, words in _STOP.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in _STOP) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = m AND m > 0 THEN '{lang}'" for lang in _STOP
    ) + " ELSE 'und' END"
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {scores_sql} FROM t),
    m AS (SELECT doc_id, *, {best} AS m FROM s)
    SELECT doc_id, {case} AS lang_guess FROM m
    """


def _quality_sql() -> str:
    en = ", ".join(repr(w) for w in _STOP["en"])
    return f"""
    WITH t AS (
      SELECT doc_id, text,
        length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_toks,
        len(list_intersect(list_distinct({_TOKS}), [{en}])) AS stop
      FROM documents
    )
    SELECT doc_id, round(
      (CASE WHEN n_chars BETWEEN 200 AND 20000 THEN 1 ELSE 0 END) * 0.25
      + (CASE WHEN n_chars / greatest(n_toks, 1) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END) * 0.25
      + least(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE / greatest(n_chars, 1), 1.0) * 0.25
      + least(stop::DOUBLE / 5.0, 1.0) * 0.25, 6) AS quality
    FROM t
    """


# URL synthesis + parse, replayed: same construction as _urls(), same
# regexes as operators/web.py (RE2-safe by design)
_URLS_CTE = """
    u AS (SELECT doc_id, n_chars, lang,
        'https://w' || (doc_id % 5)::VARCHAR || '.' || source
        || '.example' || (doc_id % 3)::VARCHAR || '.com'
        || CASE WHEN doc_id % 3 = 0 THEN '/'
                WHEN doc_id % 3 = 1 THEN '/' || lang
                ELSE '/' || lang || '/a/b' END
        || CASE WHEN doc_id % 2 = 0 THEN '?id=1&ref=rss' ELSE '' END AS url
      FROM documents WHERE source IS NOT NULL),
    g AS (SELECT doc_id, n_chars, lang, url,
        regexp_extract(url, '^([a-z][a-z0-9+.-]*):', 1) AS scheme,
        regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host,
        regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
        regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM u),
    gg AS (SELECT *, string_split(host, '.') AS hl FROM g)
"""

_URL_FEATURES_SQL = f"""
    WITH {_URLS_CTE}
    SELECT doc_id, scheme, host,
      CASE WHEN len(hl) >= 2 THEN hl[len(hl)-1] || '.' || hl[len(hl)]
           ELSE hl[1] END AS registered_domain,
      hl[len(hl)] AS tld,
      len(list_filter(string_split(path, '/'), x -> length(x) > 0)) AS path_depth,
      len(list_filter(string_split(q, '&'), x -> length(x) > 0)) AS n_query_params
    FROM gg"""

_DOMAIN_STATS_SQL = f"""
    WITH {_URLS_CTE}
    SELECT CASE WHEN len(hl) >= 2 THEN hl[len(hl)-1] || '.' || hl[len(hl)]
                ELSE hl[1] END AS registered_domain,
           count(*) AS n_pages,
           count(DISTINCT host) AS n_hosts,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT lang) AS n_langs
    FROM gg GROUP BY 1"""

# 3-token chunk "lines" + per-document DISTINCT line hashes — mirrors
# _chunked_docs() + dedup.lines_col()/common_line_hashes() exactly
_CHUNK_CTE = """
    t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
          FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
    c AS (SELECT doc_id,
            list_filter(list_transform(
              list_transform(range(1, ((len(toks)+2)//3)::INT + 1),
                i -> array_to_string(toks[((i-1)*3+1):((i-1)*3+3)], ' ')),
              x -> trim(x)), x -> length(x) > 0) AS ls
          FROM t),
    l AS (SELECT DISTINCT doc_id, unnest(ls) AS line FROM c),
    h AS (SELECT ('0x'||substr(md5(line),1,15))::BIGINT AS line_hash FROM l),
    common AS (SELECT line_hash, count(*) AS n_docs FROM h
               GROUP BY 1 HAVING count(*) >= 3)
"""

_COMMON_LINES_SQL = f"WITH {_CHUNK_CTE} SELECT line_hash, n_docs FROM common"

_LINE_CLEANED_SQL = f"""
    WITH {_CHUNK_CTE},
    e AS (SELECT doc_id, unnest(ls) AS line,
                 unnest(range(1, len(ls)+1)) AS pos FROM c),
    kept AS (SELECT doc_id, pos, line FROM e
             WHERE ('0x'||substr(md5(line),1,15))::BIGINT NOT IN
                   (SELECT line_hash FROM common)),
    agg AS (SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text,
                   count(*) AS n_kept FROM kept GROUP BY doc_id)
    SELECT c.doc_id, md5(coalesce(agg.clean_text, '')) AS clean_md5,
           len(c.ls) AS n_lines,
           len(c.ls) - coalesce(agg.n_kept, 0) AS n_removed
    FROM c LEFT JOIN agg ON c.doc_id = agg.doc_id"""

_TOP_PAGES_SQL = f"""
    WITH {_URLS_CTE},
    uu AS (SELECT url,
             CASE WHEN len(hl) >= 2 THEN hl[len(hl)-1] || '.' || hl[len(hl)]
                  ELSE hl[1] END AS registered_domain,
             max(n_chars) AS n_chars
           FROM gg GROUP BY 1, 2),
    r AS (SELECT registered_domain, url, n_chars,
            row_number() OVER (PARTITION BY registered_domain
                               ORDER BY n_chars DESC, url ASC) AS rank
          FROM uu)
    SELECT registered_domain, url, n_chars, rank FROM r WHERE rank <= 3"""


def _suggest_sql(cols: list[str], enum_max: int = 20) -> str:
    parts = []
    for c in cols:
        parts.append(f"""
            SELECT '{c}' AS column, count(*) AS n_rows,
                   count(*) - count({c}) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct,
                   min({c})::VARCHAR AS min_v, max({c})::VARCHAR AS max_v,
                   (count(*) - count({c})) = 0 AS not_null_candidate,
                   (count({c}) > 0 AND count(DISTINCT {c}) >= count({c}))
                     AS unique_candidate,
                   (count(DISTINCT {c}) > 0 AND count(DISTINCT {c}) <= {enum_max})
                     AS enum_candidate
            FROM documents""")
    return " UNION ALL ".join(parts)


_STRATIFIED_SQL = """
    SELECT doc_id, lang FROM documents
    WHERE ('0x'||substr(md5('42:' || doc_id::VARCHAR),1,15))::BIGINT % 1000000
          < CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2
                           WHEN 'fr' THEN 0.1 ELSE 0.0 END * 1000000 AS BIGINT)"""


def _pii_inject_sql() -> str:
    """Rebuild _pii_docs' injected text byte-for-byte in DuckDB."""
    return """SELECT doc_id, text
      || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id::VARCHAR || '@mail.example.com' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ' call 555-010-1234' ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' || (doc_id % 250)::VARCHAR || '.1' ELSE '' END
      || CASE WHEN doc_id % 17 = 0 THEN ' ssn 123-45-6789' ELSE '' END
      || CASE WHEN doc_id % 19 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END AS text
      FROM documents WHERE text IS NOT NULL"""


def _pii_counts_sql() -> str:
    # patterns come from the live PII_PATTERNS dict, so operator and
    # oracle can never drift; all patterns are RE2-safe by contract
    from themis_spark.operators.pii import PII_PATTERNS

    counts = ", ".join(
        f"len(regexp_extract_all(text, '{p}')) AS n_{k}"
        for k, p in PII_PATTERNS.items())
    anyp = " OR ".join(
        f"len(regexp_extract_all(text, '{p}')) > 0" for p in PII_PATTERNS.values())
    return f"WITH d AS ({_pii_inject_sql()}) SELECT doc_id, {counts}, ({anyp}) AS has_pii FROM d"


def _pii_redact_sql() -> str:
    from themis_spark.operators.pii import PII_PATTERNS

    expr = "text"
    for k, p in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{p}', '<{k.upper()}>', 'g')"
    total = " + ".join(
        f"len(regexp_extract_all(text, '{p}'))" for p in PII_PATTERNS.values())
    return (f"WITH d AS ({_pii_inject_sql()}) "
            f"SELECT doc_id, md5({expr}) AS clean_md5, ({total}) AS n_redacted FROM d")


_MESSY_URL_SQL = """SELECT doc_id,
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
  || 'W' || (doc_id % 5)::VARCHAR || '.' || source || '.example.com'
  || (CASE WHEN doc_id % 4 = 0 THEN ':443' WHEN doc_id % 4 = 1 THEN ':8443' ELSE '' END)
  || '/' || lang
  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=rss&id=' || (doc_id % 10)::VARCHAR ELSE '' END)
  || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL"""

# DuckDB replay of web.canonical_url_col, step for step (RE2 patterns,
# \\1-style replacement backrefs, list_filter for the tracking params)
_CANONICAL_SQL = rf"""
  WITH u0 AS ({_MESSY_URL_SQL}),
  u1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u0),
  u2 AS (SELECT doc_id,
           lower(regexp_extract(u, '^((?i)[a-z][a-z0-9+.-]*://[^/?#]*)', 1))
           || substr(u, length(regexp_extract(u, '^((?i)[a-z][a-z0-9+.-]*://[^/?#]*)', 1)) + 1) AS u
         FROM u1),
  u3 AS (SELECT doc_id,
           regexp_replace(
             regexp_replace(u, '^(http://[^/:?#]*):80($|[/?#])', '\1\2'),
             '^(https://[^/:?#]*):443($|[/?#])', '\1\2') AS u
         FROM u2),
  u4 AS (SELECT doc_id,
           regexp_replace(regexp_replace(u, '\?.*$', ''), '/$', '') AS base,
           regexp_extract(u, '\?(.*)$', 1) AS q
         FROM u3),
  u5 AS (SELECT doc_id, base,
           array_to_string(list_filter(str_split(q, '&'),
             x -> len(x) > 0 AND NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=')), '&') AS nq
         FROM u4)
  SELECT doc_id,
         CASE WHEN len(nq) > 0 THEN base || '?' || nq ELSE base END AS canonical_url
  FROM u5"""

_CANONICAL_DUPES_SQL = f"""
  WITH c AS ({_CANONICAL_SQL}),
  raw AS ({_MESSY_URL_SQL})
  SELECT c.canonical_url,
         count(DISTINCT raw.url) AS n_variants,
         count(*) AS n_rows
  FROM c JOIN raw USING (doc_id)
  GROUP BY c.canonical_url HAVING count(*) >= 2"""

_OUTLIERS_SQL = """
  WITH d AS (SELECT lang,
               (CASE WHEN doc_id % 97 = 0 THEN n_chars * 50 ELSE n_chars END)::DOUBLE AS v
             FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
  b AS (SELECT lang, quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3
        FROM d GROUP BY lang),
  f AS (SELECT lang, q1, q3, q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi FROM b)
  SELECT f.lang, q1, q3, lo, hi,
         sum(CASE WHEN v < lo THEN 1 ELSE 0 END)::BIGINT AS n_low,
         sum(CASE WHEN v > hi THEN 1 ELSE 0 END)::BIGINT AS n_high,
         sum(CASE WHEN v < lo OR v > hi THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
         count(v) AS n_rows
  FROM d JOIN f USING (lang)
  GROUP BY f.lang, q1, q3, lo, hi"""


def _lsh_verified_sql(num_hashes: int = 12, bands: int = 6,
                      limit: int = 200, cap: int = 64,
                      threshold: float = 0.3) -> str:
    """dedup_lsh_verified oracle: the candidate CTE from
    _lsh_candidates_sql plus a signature re-join and the per-component
    agreement estimate (sum of per-column CASE matches / num_hashes)."""
    rpb = num_hashes // bands
    band_selects = []
    for b in range(bands):
        concat = "||'|'||".join(
            f"minhash_{b * rpb + r}::VARCHAR" for r in range(rpb))
        bh = _H.format(x=f"({concat})")
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {bh} AS bh FROM m "
            f"WHERE minhash_0 IS NOT NULL")
    bands_sql = " UNION ALL ".join(band_selects)
    matches = " + ".join(
        f"(CASE WHEN sa.minhash_{i} = sb.minhash_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes))
    return f"""
    WITH m AS ({_minhash_sql(num_hashes, limit)}),
    bands AS ({bands_sql}),
    capped AS (SELECT * FROM bands
               QUALIFY count(*) OVER (PARTITION BY band, bh) <= {cap}),
    cand AS (SELECT DISTINCT a.doc_id AS a_key, b.doc_id AS b_key
             FROM capped a JOIN capped b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
    SELECT a_key, b_key,
           round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
    FROM cand
    JOIN m sa ON sa.doc_id = a_key
    JOIN m sb ON sb.doc_id = b_key
    WHERE round(({matches}) / {float(num_hashes)}, 6) >= {threshold}
    """


def _curate_sql(num_hashes: int = 12, bands: int = 6, cap: int = 64,
                threshold: float = 0.5, ctx_len: int = 2048,
                buckets: int = 64, dim: int = 256,
                bias: float = 0.0) -> str:
    """Full pipeline.curate() replay — every stage's SQL is the SAME
    replay its standalone oracle uses, composed: scan rules (token band
    + rounded Gopher symbol/alpha ratios) → hashed-linear classifier
    label → exact dedup (keep min key per normalized-text md5 group) →
    MinHash-LSH verified near-dup (drop b-side) → per-bucket packing
    summary of the survivors."""
    rpb = num_hashes // bands
    band_selects = []
    for b in range(bands):
        concat = "||'|'||".join(
            f"minhash_{b * rpb + r}::VARCHAR" for r in range(rpb))
        bh = _H.format(x=f"({concat})")
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {bh} AS bh FROM m "
            f"WHERE minhash_0 IS NOT NULL")
    bands_sql = " UNION ALL ".join(band_selects)
    matches = " + ".join(
        f"(CASE WHEN sa.minhash_{i} = sb.minhash_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes))
    tok_count = ("CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0 "
                 "ELSE len(regexp_split_to_array(trim(text), '\\s+')) "
                 "END::BIGINT")
    hkey = _H.format(x="doc_id::VARCHAR")
    return f"""
    WITH base AS (SELECT doc_id, text, {tok_count} AS n_tok,
                         {_TOKS} AS toksl FROM documents),
    gq AS (SELECT doc_id, text, n_tok,
        round(((length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3.0)
              / greatest(n_tok, 1), 6) AS sym,
        round(len(list_filter(toksl, x -> regexp_matches(x, '[a-z]')))::DOUBLE
              / greatest(n_tok, 1), 6) AS alpha,
        list_filter(toksl, x -> length(x) > 0) AS ctoks
        FROM base),
    kept0 AS (SELECT doc_id, text, n_tok, ctoks FROM gq
        WHERE coalesce(n_tok BETWEEN 10 AND 100000, FALSE)
          AND coalesce(sym <= 0.1, FALSE)
          AND coalesce(alpha >= 0.8, FALSE)),
    clf AS (SELECT doc_id, text, n_tok,
        coalesce(list_sum(list_transform(ctoks, x ->
            ({_weights_sql_list(dim)})[
                (('0x' || substr(md5(x), 1, 15))::BIGINT % {dim})::INT + 1
            ])), 0.0) AS wsum, len(ctoks) AS cn FROM kept0),
    kept_clf AS (SELECT doc_id, text, n_tok FROM clf
        WHERE ({bias} + CASE WHEN cn > 0 THEN wsum / cn ELSE 0 END) > 0),
    dig AS (SELECT doc_id, text, n_tok,
        md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS digest
        FROM kept_clf),
    kept1 AS (SELECT doc_id, text, n_tok FROM dig
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY digest)),
    m AS ({_minhash_sql(num_hashes, 0, src="kept1")}),
    bandrows AS ({bands_sql}),
    capped AS (SELECT * FROM bandrows
               QUALIFY count(*) OVER (PARTITION BY band, bh) <= {cap}),
    cand AS (SELECT DISTINCT a.doc_id AS a_key, b.doc_id AS b_key
             FROM capped a JOIN capped b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    near_losers AS (SELECT DISTINCT b_key FROM cand
        JOIN m sa ON sa.doc_id = cand.a_key
        JOIN m sb ON sb.doc_id = cand.b_key
        WHERE round(({matches}) / {float(num_hashes)}, 6) >= {threshold}),
    survivors AS (SELECT k.doc_id, k.n_tok FROM kept1 k
        LEFT JOIN near_losers v ON v.b_key = k.doc_id
        WHERE v.b_key IS NULL),
    p AS (SELECT ({hkey} % {buckets})::INT AS bucket, n_tok FROM survivors),
    agg AS (SELECT bucket, count(*) AS n_docs,
                   sum(n_tok)::BIGINT AS total_tokens FROM p GROUP BY bucket),
    ch AS (SELECT bucket, n_docs, total_tokens,
        (CASE WHEN total_tokens > 0 THEN
            ((total_tokens + {ctx_len - 1})
             - (total_tokens + {ctx_len - 1}) % {ctx_len}) / {ctx_len}
         ELSE 0 END)::BIGINT AS n_chunks FROM agg)
    SELECT bucket, n_docs, total_tokens, n_chunks,
           (n_chunks * {ctx_len} - total_tokens)::BIGINT AS tail_waste_tokens
    FROM ch
    """


def _cross_corpus_sql(num_hashes: int = 12, bands: int = 6,
                      limit: int = 400, cap: int = 64,
                      threshold: float = 0.3,
                      left_parity: int = 0) -> str:
    """dedup_cross_corpus oracle: same signature/band pipeline as
    _lsh_verified_sql, but the candidate join is left-bands × right-
    bands (parity split) — never within a side."""
    rpb = num_hashes // bands
    band_selects = []
    for b in range(bands):
        concat = "||'|'||".join(
            f"minhash_{b * rpb + r}::VARCHAR" for r in range(rpb))
        bh = _H.format(x=f"({concat})")
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {bh} AS bh FROM m "
            f"WHERE minhash_0 IS NOT NULL")
    bands_sql = " UNION ALL ".join(band_selects)
    matches = " + ".join(
        f"(CASE WHEN sa.minhash_{i} = sb.minhash_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes))
    return f"""
    WITH m AS ({_minhash_sql(num_hashes, limit)}),
    bands AS ({bands_sql}),
    lcap AS (SELECT * FROM bands WHERE doc_id % 2 = {left_parity}
             QUALIFY count(*) OVER (PARTITION BY band, bh) <= {cap}),
    rcap AS (SELECT * FROM bands WHERE doc_id % 2 = {1 - left_parity}
             QUALIFY count(*) OVER (PARTITION BY band, bh) <= {cap}),
    cand AS (SELECT DISTINCT l.doc_id AS a_key, r.doc_id AS b_key
             FROM lcap l JOIN rcap r ON l.band = r.band AND l.bh = r.bh)
    SELECT a_key, b_key,
           round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
    FROM cand
    JOIN m sa ON sa.doc_id = a_key
    JOIN m sb ON sb.doc_id = b_key
    WHERE round(({matches}) / {float(num_hashes)}, 6) >= {threshold}
    """


# Gap-based sessionization replay: same two-window formulation (lag to
# flag starts, running sum to number sessions) in exact integer
# microseconds, same (ts, event_id) tie-break as the Spark operator.
_SESSIONS_SQL = """
    WITH flagged AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT user_id, event_type, us,
               CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(us) AS start_us,
           max(us) AS end_us,
           max(us) - min(us) AS duration_us,
           count(DISTINCT event_type) AS n_event_types
    FROM numbered
    GROUP BY user_id, session_seq"""

# Corpus vocabulary replay: identical whitespace tokenization, tf/df
# aggregation, and (tf DESC, token ASC) total order for the top-k cut.
_VOCAB_SQL = """
    WITH toks AS (
        SELECT doc_id, t.token AS token
        FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
        WHERE text IS NOT NULL AND length(t.token) > 0
    )
    SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM toks GROUP BY token
    ORDER BY tf DESC, token ASC LIMIT 100"""


# Embedding-audit replays: element-wise centroid means via parallel
# unnest/generate_subscripts, then per-row cosine against the (6 dp
# rounded) centroid — identical rounding on both engines.
_CENTROID_E = """
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS val
        FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL"""

_CENTROID_COMP_SQL = f"""
    WITH e AS ({_CENTROID_E})
    SELECT label, pos, round(avg(val), 6) AS m, count(*) AS n
    FROM e GROUP BY label, pos"""

_CENTROID_STATS_SQL = f"""
    WITH e AS ({_CENTROID_E}),
    comp AS (SELECT label, pos, round(avg(val), 6) AS m
             FROM e GROUP BY label, pos),
    cent AS (SELECT label, list(m ORDER BY pos) AS centroid
             FROM comp GROUP BY label),
    rc AS (SELECT emb.label,
                  round(list_cosine_similarity(
                      emb.embedding::DOUBLE[], c.centroid), 6) AS c6
           FROM embeddings emb JOIN cent c USING (label)
           WHERE emb.embedding IS NOT NULL)
    SELECT label, count(*) AS n,
           round(avg(c6), 6) AS mean_cos, min(c6) AS min_cos
    FROM rc GROUP BY label"""


# Repair replay: identical dirt synthesis, TRY_CAST coercion, default
# fill, and bound clamping (NULL comparisons fall through to the value
# in both engines' CASE semantics).
_DIRTY_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'oops'
                    ELSE CAST(n_chars AS VARCHAR) END AS n_chars,
               CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang
        FROM documents"""

_REPAIR_TABLE_SQL = f"""
    WITH dirty AS ({_DIRTY_SQL}),
    cast_ AS (SELECT doc_id, TRY_CAST(n_chars AS BIGINT) AS c, lang FROM dirty)
    SELECT doc_id,
           CASE WHEN c < 100 THEN 100
                WHEN c > 400 THEN 400 ELSE c END AS n_chars,
           coalesce(lang, 'en') AS lang
    FROM cast_"""

_REPAIR_REPORT_SQL = f"""
    WITH dirty AS ({_DIRTY_SQL}),
    cast_ AS (SELECT doc_id, n_chars AS raw, TRY_CAST(n_chars AS BIGINT) AS c,
                     lang FROM dirty)
    SELECT 'n_chars' AS column, 'coerced' AS remedy,
           count(*) FILTER (raw IS NOT NULL AND c IS NOT NULL) AS n FROM cast_
    UNION ALL SELECT 'n_chars', 'uncoercible',
           count(*) FILTER (raw IS NOT NULL AND c IS NULL) FROM cast_
    UNION ALL SELECT 'n_chars', 'clamped_lo',
           count(*) FILTER (c < 100) FROM cast_
    UNION ALL SELECT 'n_chars', 'clamped_hi',
           count(*) FILTER (c > 400) FROM cast_
    UNION ALL SELECT 'lang', 'defaulted',
           count(*) FILTER (lang IS NULL) FROM cast_"""


# TF-IDF replay: same tokenization, tf·ln(N/df) scoring, and
# (score DESC, token ASC) total order for the per-doc top-k.
_TFIDF_SQL = """
    WITH toks AS (
        SELECT doc_id, t.token AS token
        FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
        WHERE text IS NOT NULL AND length(t.token) > 0
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
    ), dfq AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    ), nd AS (
        SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf
    ), scored AS (
        SELECT doc_id, token, round(tf * ln(n / df), 6) AS score
        FROM tf JOIN dfq USING (token) CROSS JOIN nd
    )
    SELECT doc_id, token, score, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
        FROM scored) t
    WHERE rank <= 3"""


# Group-sample replay: identical portable-hash ranking inside each
# group, ties on the key — a total order, so the k-cut is exact.
_GROUP_SAMPLE_SQL = """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5('0:' ||
                             CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                            doc_id ASC) AS rn
        FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL
    ) t WHERE rn <= 20"""


# Funnel replay: the greedy fold ("first next-step event after the
# previous reach, strictly later") equals k chained min-after-previous
# aggregations — u1 = first view, u2 = first click > u1, u3 = first
# purchase > u2.
_FUNNEL_SQL = """
    WITH base AS (
        SELECT DISTINCT user_id FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IN ('view', 'click', 'purchase')
    ), t1 AS (
        SELECT user_id, min(epoch_us(ts)) AS u1 FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL
          AND ts IS NOT NULL
        GROUP BY user_id
    ), t2 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS u2
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.u1
        GROUP BY e.user_id
    ), t3 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS u3
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.u2
        GROUP BY e.user_id
    )
    SELECT b.user_id,
           CASE WHEN u3 IS NOT NULL THEN 3
                WHEN u2 IS NOT NULL THEN 2
                WHEN u1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
           u1 AS reach_1_us, u2 AS reach_2_us, u3 AS reach_3_us
    FROM base b
    LEFT JOIN t1 USING (user_id)
    LEFT JOIN t2 USING (user_id)
    LEFT JOIN t3 USING (user_id)"""


# Vocab-drift replay: same tokenization, same top-k cut on the base
# slice, same eps-floored PSI contribution.
_VOCAB_DRIFT_SQL = """
    WITH bt AS (
        SELECT t.token AS token
        FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
        WHERE text IS NOT NULL AND length(t.token) > 0 AND doc_id % 2 = 0
    ), ct AS (
        SELECT t.token AS token
        FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
        WHERE text IS NOT NULL AND length(t.token) > 0 AND doc_id % 2 = 1
    ), vb AS (
        SELECT token, count(*) AS tf FROM bt GROUP BY token
        ORDER BY tf DESC, token ASC LIMIT 50
    ), tc AS (
        SELECT token, count(*) AS tf_cur FROM ct GROUP BY token
    ), nb AS (SELECT CAST(sum(tf) AS DOUBLE) AS nbt FROM vb),
    nc AS (SELECT CAST(sum(tf_cur) AS DOUBLE) AS nct FROM tc)
    SELECT token,
           round(tf / nbt, 6) AS p_base,
           round(greatest(coalesce(tf_cur, 0) / nct, 1e-9), 6) AS p_cur,
           round((tf / nbt - greatest(coalesce(tf_cur, 0) / nct, 1e-9))
                 * ln((tf / nbt)
                      / greatest(coalesce(tf_cur, 0) / nct, 1e-9)), 6)
               AS psi_contrib
    FROM vb LEFT JOIN tc USING (token), nb, nc"""


# Unigram LM replay: same tokenization, ln(count/total) scored per doc;
# avg rounded to 6 dp to absorb float summation-order differences.
_UNIGRAM_SQL = """
    WITH toks AS (
        SELECT doc_id, t.token AS token
        FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
        WHERE text IS NOT NULL AND length(t.token) > 0
    ), vocab AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln(cnt) - ln(total)), 6) AS mean_logprob
    FROM toks JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY doc_id"""

# Mixture plan replay: all-integer arithmetic (targets by floor division
# of parts, rates in ppm by floor division on BIGINT) — bit-exact.
_MIX_CASE = "(CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 3 ELSE 2 END)"
_MIX_PLAN_SQL = f"""
    WITH avail AS (
        SELECT lang, CAST(sum(n_chars) AS BIGINT) AS avail
        FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY lang
    ), t AS (
        SELECT lang, avail,
               CAST(1000000 * {_MIX_CASE} // 10 AS BIGINT) AS target
        FROM avail
    )
    SELECT lang, avail, target,
           least(1000000, CAST(target * 1000000 // avail AS BIGINT)) AS rate_ppm
    FROM t"""

_MIX_TAKE_SQL = f"""
    WITH plan AS ({_MIX_PLAN_SQL})
    SELECT d.doc_id, d.lang
    FROM documents d JOIN plan p ON d.lang = p.lang
    WHERE ('0x' || substr(md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000 < p.rate_ppm"""

# As-of replay: DuckDB's native ASOF LEFT JOIN (backward, inclusive) —
# the right side is pre-aggregated to unique (user, ts) in both engines
# so the "latest prior view" is well-defined.
_ASOF_SQL = """
    WITH l AS (
        SELECT event_id, user_id, epoch_us(ts) AS us
        FROM events WHERE event_type = 'click'
    ), r AS (
        SELECT user_id, epoch_us(ts) AS us, max(value) AS value
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, epoch_us(ts)
    )
    SELECT l.event_id, l.user_id, r.value AS value_r,
           r.us AS matched_ts_us
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us"""

_RANGE_SQL = """
    WITH bands(lo, hi, band) AS (VALUES
        (0, 200, 'xs'), (200, 500, 's'), (500, 2000, 'm'),
        (2000, 1000000000, 'l'))
    SELECT doc_id, band
    FROM documents JOIN bands ON n_chars >= lo AND n_chars < hi
    WHERE n_chars IS NOT NULL"""

# Tumbling-window replay: hour buckets are midnight-aligned in both
# engines (Spark window origin 1970, DuckDB time_bucket origin 2000 —
# identical for whole-hour widths).
_HOURLY_SQL = """
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
           event_type, count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2"""

# Profile-diff replay: expected drift rows recomputed from the typed
# base columns (to_json omits nulls -> presence = count(col)).
_PROFILE_DIFF_SQL = """
    SELECT '$' AS path, 'unchanged' AS status,
           'object' AS base_jtype, 'object' AS cur_jtype,
           count(*) AS base_present, count(*) AS cur_present FROM documents
    UNION ALL SELECT '$.doc_id', 'unchanged', 'integer', 'integer',
           count(doc_id), count(doc_id) FROM documents
    UNION ALL SELECT '$.lang', 'unchanged', 'string', 'string',
           count(lang), count(lang) FROM documents
    UNION ALL SELECT '$.n_chars', 'type_changed', 'integer', 'string',
           count(n_chars), count(n_chars) FROM documents
    UNION ALL SELECT '$.meta', 'removed', 'object', CAST(NULL AS VARCHAR),
           count(*), CAST(NULL AS BIGINT) FROM documents
    UNION ALL SELECT '$.meta.src', 'removed', 'string', CAST(NULL AS VARCHAR),
           count(source), CAST(NULL AS BIGINT) FROM documents
    UNION ALL SELECT '$.flag', 'added', CAST(NULL AS VARCHAR), 'boolean',
           CAST(NULL AS BIGINT), count(*) FROM documents"""


def _weights_sql_list(dim: int) -> str:
    """The hashed_weights(dim) vector as a DuckDB list literal. Every
    weight is a dyadic rational (exact binary fraction), so repr() is a
    round-trip-exact decimal and the SQL parse lands on the identical
    float64 — weight sums then match Spark bit-for-bit regardless of
    summation order."""
    from themis_spark.operators.text import hashed_weights

    return "[" + ", ".join(repr(w) for w in hashed_weights(dim)) + "]"


# Exact brute-force top-k (the ann_cosine_topk oracle), shared with the
# recall@k evaluation oracle so reference semantics stay identical.
_ANN_EXACT_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_key, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_key, c.vec_id AS neighbor_key,
             round(list_cosine_similarity(q.q_vec, c.embedding::DOUBLE[]), 4) AS cosine
      FROM embeddings c, q WHERE c.vec_id <> q.query_key),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_key
                ORDER BY cosine DESC, neighbor_key ASC) AS rank
      FROM scored)
    SELECT query_key, neighbor_key, cosine, rank FROM ranked WHERE rank <= 10"""


def _ann_recall_sql(k: int = 10) -> str:
    """recall@k of the IVF index against exact search — both sides are
    the EXACT oracle queries of ann_cosine_topk / ann_ivf, wrapped as
    subqueries, so the evaluation replays whatever those two replay."""
    return f"""
    WITH ref AS (SELECT query_key, neighbor_key, rank
                 FROM ({_ANN_EXACT_TOPK_SQL})),
    cand AS (SELECT query_key, neighbor_key, rank
             FROM ({_ann_ivf_sql(16, 4, 10, 5)})),
    r AS (SELECT query_key, neighbor_key FROM ref WHERE rank <= {k}),
    c AS (SELECT query_key, neighbor_key FROM cand WHERE rank <= {k}),
    hits AS (SELECT r.query_key, count(*) AS n_hit
             FROM r JOIN c USING (query_key, neighbor_key)
             GROUP BY 1),
    totals AS (SELECT query_key, count(*) AS n_ref FROM r GROUP BY 1)
    SELECT t.query_key, t.n_ref, coalesce(h.n_hit, 0) AS n_hit,
           round(coalesce(h.n_hit, 0) / t.n_ref, 6) AS recall
    FROM totals t LEFT JOIN hits h USING (query_key)"""


# Shared SemDeDup cell assignment: init-only centroids (first 32 vectors),
# sims rounded to 6dp before the argmax, ties -> lowest cell — the exact
# contract of similarity.ivf_cell_col.
_SEMDEDUP_ASSIGN_SQL = """
    WITH cent AS (SELECT vec_id AS cell_ix, embedding::DOUBLE[] AS c_vec
                  FROM embeddings WHERE vec_id < 32),
    sims AS (SELECT e.vec_id, ct.cell_ix,
                    round(list_cosine_similarity(
                        e.embedding::DOUBLE[], ct.c_vec), 6) AS sim
             FROM embeddings e, cent ct),
    assign AS (SELECT vec_id, cell_ix::INT AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cell_ix ASC) AS rn FROM sims) s
               WHERE rn = 1)
"""


def _pagerank_sql(iters: int = 3, scale: int = 10**6,
                  num: int = 85, den: int = 100) -> str:
    """Replays web.pagerank over the synthesized two-out-link graph:
    the same integer base, per-edge floor divisions, and integer sums —
    unrolled one CTE per iteration."""
    base = (scale * (den - num)) // den
    ctes = [f"""
    n AS (SELECT count(*) AS cnt FROM documents),
    edges AS (
      SELECT doc_id AS src,
             (doc_id * doc_id + 1) % (SELECT cnt FROM n) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id AS src, (doc_id // 3) % (SELECT cnt FROM n) AS dst
      FROM documents),
    nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    r0 AS (SELECT node, {scale}::BIGINT AS rank FROM nodes)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
    r{i} AS (SELECT nodes.node,
           ({base} + coalesce(sum((r.rank * {num}) // (d.outdeg * {den})), 0))::BIGINT
           AS rank
           FROM nodes
           LEFT JOIN edges e ON e.dst = nodes.node
           LEFT JOIN deg d ON d.src = e.src
           LEFT JOIN r{i - 1} r ON r.node = e.src
           GROUP BY nodes.node)""")
    return ("WITH " + ",".join(ctes)
            + f" SELECT node, rank FROM r{iters}")


def _bpe_sql() -> str:
    """Replays bpe_tokenize_col: double-separator char expansion, one
    literal replace() per merge (inner-halves pattern), split + filter.
    replace() is left-to-right non-overlapping in both engines."""
    sep, s2 = "chr(31)", "chr(31) || chr(31)"
    expr = f"{s2} || regexp_replace(w, '(.)', '\\1' || {s2}, 'g')"
    for a, b in BPE_MERGES:
        pat = f"{sep} || '{a}' || {s2} || '{b}' || {sep}"
        rep = f"{sep} || '{a}{b}' || {sep}"
        expr = f"replace({expr}, {pat}, {rep})"
    tok_list = (f"list_filter(string_split({expr}, chr(31)), "
                "x -> length(x) > 0)")
    return f"""
    WITH w AS (SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS words
         FROM documents WHERE text IS NOT NULL),
    t AS (SELECT doc_id,
         flatten(list_transform(words, w -> {tok_list})) AS toks
         FROM w)
    SELECT doc_id, len(toks) AS n_bpe,
           md5(array_to_string(toks, chr(30))) AS toks_md5
    FROM t"""


# Shared packing layout: portable 60-bit bucket hash of the doc_id string,
# prefix sum over (bucket, doc_id) order — all BIGINT, exact.
_PACK_BASE_SQL = """
    WITH t AS (SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT
         AS n_tokens,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 64)::INT
         AS bucket
         FROM documents),
    p AS (SELECT doc_id, bucket, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         AS start_tok FROM t)
"""


# Exact-substring dedup replay: rebuild the boilerplate-injected docs,
# hash every 8-token window with the portable 60-bit hash, then classic
# gaps-and-islands (lag + running sum) — same-length windows chain iff
# pos - prev_pos <= window, mirroring dedup._merge_window_spans exactly.
_SUBSTR_CTE = f"""
    sd AS (SELECT doc_id, concat_ws(' ', text,
             CASE WHEN doc_id % 5 = 0 THEN '{_SUBSTR_BOILER}' END,
             CASE WHEN doc_id % 7 = 0 THEN '{_SUBSTR_PROMO}' END,
             CASE WHEN doc_id % 11 = 0 THEN '{_SUBSTR_PROMO}' END) AS text
           FROM documents WHERE text IS NOT NULL),
    st AS (SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
           FROM sd),
    swh AS (SELECT doc_id,
              unnest(range(0, greatest(len(toks) - 7, 0))) AS pos,
              unnest(list_transform(range(0, greatest(len(toks) - 7, 0)),
                i -> ('0x'||substr(md5(array_to_string(toks[(i+1):(i+8)], ' ')),1,15))::BIGINT)) AS whash
            FROM st),
    sdup AS (SELECT whash FROM swh GROUP BY whash HAVING count(*) >= 2)"""

_SUBSTR_SPANS_SQL = f"""
    WITH {_SUBSTR_CTE},
    hits AS (SELECT doc_id, pos FROM swh
             WHERE whash IN (SELECT whash FROM sdup)),
    isl AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER w IS NULL
                     OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    grp AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl)
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           count(*) AS n_windows
    FROM grp GROUP BY doc_id, g"""

_SUBSTR_REMOVED_SQL = f"""
    WITH {_SUBSTR_CTE},
    stc AS (SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
           FROM sd),
    hits AS (SELECT swh.doc_id, swh.pos, swh.whash FROM swh
             WHERE whash IN (SELECT whash FROM sdup)),
    ownd AS (SELECT doc_id, pos,
               row_number() OVER (PARTITION BY whash
                                  ORDER BY doc_id, pos) AS rn
             FROM hits),
    nonown AS (SELECT doc_id, pos FROM ownd WHERE rn > 1),
    isl AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER w IS NULL
                     OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
            FROM nonown WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    grp AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl),
    cov AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
            FROM grp GROUP BY doc_id, g),
    tp AS (SELECT doc_id, unnest(toks) AS tok,
                  unnest(range(0, len(toks))) AS ti FROM stc),
    kept AS (SELECT tp.doc_id, tp.ti, tp.tok FROM tp
             WHERE NOT EXISTS (SELECT 1 FROM cov
                               WHERE cov.doc_id = tp.doc_id
                                 AND tp.ti BETWEEN cov.s AND cov.e)),
    agg AS (SELECT doc_id,
                   array_to_string(list(tok ORDER BY ti), ' ') AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT st.doc_id, md5(coalesce(agg.clean_text, '')) AS clean_md5,
           CAST(len(st.toks) AS BIGINT) AS n_tokens,
           CAST(len(st.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
    FROM st LEFT JOIN agg USING (doc_id)"""


_SUBSTR_STATS_SQL = f"""
    WITH {_SUBSTR_CTE},
    hits AS (SELECT doc_id, pos FROM swh
             WHERE whash IN (SELECT whash FROM sdup)),
    isl AS (SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER w IS NULL
                     OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    grp AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl),
    sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM grp GROUP BY doc_id, g),
    pd AS (SELECT doc_id, sum(e - s + 1) AS dup_tokens FROM sp GROUP BY doc_id)
    SELECT st.doc_id, CAST(len(st.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(CASE WHEN len(st.toks) > 0
                      THEN CAST(coalesce(pd.dup_tokens, 0) AS DOUBLE)
                           / len(st.toks)
                      ELSE 0.0 END, 6) AS dup_fraction
    FROM st LEFT JOIN pd USING (doc_id)"""

_SNAPSHOT_DIFF_SQL = """
    WITH d AS (SELECT doc_id, coalesce(text, '<null>') AS t FROM documents),
    old AS (SELECT doc_id, ('0x'||substr(md5(t),1,15))::BIGINT AS od
            FROM d WHERE doc_id % 7 != 0),
    new AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0
                   THEN ('0x'||substr(md5(t || '|v2'),1,15))::BIGINT
                   ELSE ('0x'||substr(md5(t),1,15))::BIGINT END AS nd
            FROM d WHERE doc_id % 10 != 0)
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN od != nd THEN 'changed' ELSE 'unchanged' END AS status,
           od AS old_digest, nd AS new_digest
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id"""

# Bigram conditional logprob replay: filter empty tokens FIRST, re-rank,
# then adjacent self-join — matching the Spark side's filtered zip_with.
_BIGRAM_SQL = """
    WITH tk AS (SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM documents WHERE text IS NOT NULL),
    ex AS (SELECT doc_id, unnest(toks) AS tok,
                  unnest(range(1, len(toks) + 1)) AS i FROM tk),
    ft AS (SELECT doc_id, tok,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS j
           FROM ex WHERE length(tok) > 0),
    pr AS (SELECT a.doc_id, a.tok AS prev, b.tok AS cur
           FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND b.j = a.j + 1),
    bc AS (SELECT prev, cur, count(*) AS bcnt FROM pr GROUP BY 1, 2),
    uc AS (SELECT prev, count(*) AS ucnt FROM pr GROUP BY 1),
    sc AS (SELECT doc_id, count(*) AS n_bigrams,
                  round(avg(ln(bcnt) - ln(ucnt)), 6) AS mean_logprob
           FROM pr JOIN bc USING (prev, cur) JOIN uc USING (prev)
           GROUP BY doc_id)
    SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
           coalesce(sc.mean_logprob, 0.0) AS mean_logprob
    FROM documents d LEFT JOIN sc USING (doc_id)"""


_HOST_RE_SQL = "^[a-z][a-z0-9+.-]*://([^/?#:]+)"

_HOST_GRAPH_SQL = f"""
    WITH {{urls}},
    pg AS (SELECT url,
        '<html><a href="https://h' || ((doc_id * 7) % 50)::VARCHAR
        || '.example.com/p">x</a><p><a href="https://h'
        || ((doc_id * 13 + 1) % 50)::VARCHAR
        || '.example.com/q"></a><a href="/rel">r</a><a href="https://'
        || regexp_extract(url, '{_HOST_RE_SQL}', 1)
        || '/self"></a></html>' AS html
      FROM u),
    lk AS (SELECT url,
             unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS link
           FROM pg),
    e AS (SELECT regexp_extract(url, '{_HOST_RE_SQL}', 1) AS src_host,
                 regexp_extract(link, '{_HOST_RE_SQL}', 1) AS dst_host
          FROM lk)
    SELECT src_host, dst_host, count(*) AS n_links FROM e
    WHERE src_host != '' AND dst_host != '' AND src_host != dst_host
    GROUP BY src_host, dst_host"""

_REVISION_INTERVALS_SQL = """
    WITH m AS (SELECT user_id, ts, event_type,
          CASE WHEN row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_type) = 1 THEN 1
               WHEN event_type IS NOT DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_type)
               THEN 0 ELSE 1 END AS chg
        FROM events),
    v AS (SELECT user_id, ts, event_type,
            sum(chg) OVER (PARTITION BY user_id
                           ORDER BY ts, event_type) AS version
          FROM m),
    a AS (SELECT user_id, version, max(event_type) AS digest,
            min(ts) AS valid_from, count(*) AS n_revisions
          FROM v GROUP BY user_id, version)
    SELECT user_id, CAST(version AS BIGINT) AS version, digest, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY version) AS valid_to,
           n_revisions
    FROM a"""

# n_violations = the same 9 DOCS_SCHEMA conditions as the
# validate_documents oracle, applied directly to the NEW snapshot —
# the incremental path must be indistinguishable from full revalidation
_INCR_VALIDATE_SQL = """
    WITH nw AS (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN text || '|v2' ELSE text END AS text,
          lang, source, n_chars
        FROM documents WHERE doc_id % 10 != 0)
    SELECT doc_id,
      CAST((CASE WHEN text IS NULL THEN 1 ELSE 0 END)
         + (CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
         + (CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
         + (CASE WHEN doc_id IS NOT NULL AND doc_id < 0 THEN 1 ELSE 0 END)
         + (CASE WHEN text IS NOT NULL AND length(text) < 50
                 THEN 1 ELSE 0 END)
         + (CASE WHEN text IS NOT NULL AND length(text) > 20000
                 THEN 1 ELSE 0 END)
         + (CASE WHEN lang IS NOT NULL
                  AND lang NOT IN ('en','zh','es','de','fr')
                 THEN 1 ELSE 0 END)
         + (CASE WHEN source IS NOT NULL
                  AND NOT regexp_matches(source, '^src[0-9]+$')
                 THEN 1 ELSE 0 END)
         + (CASE WHEN n_chars IS NOT NULL AND n_chars < 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      (doc_id % 7 = 0 OR (doc_id % 3 = 0 AND text IS NOT NULL))
        AS revalidated
    FROM nw"""

# Independently-derived expected robots verdicts (no parser replay —
# the synthetic bodies are a known function of host parity, so the
# oracle states the REP outcome directly: even hosts' ccbot-specific
# group (Disallow /c, Disallow /*.pdf$) REPLACES '*'; odd hosts use
# the '*' group (Disallow /a/, Allow /a/b, Disallow /*?sid=,
# Disallow /*.pdf$) with longest-pattern precedence and allow-on-tie;
# no matching rule = allowed with NULL match columns. Path cases by
# doc_id % 6: /a/x, /a/b/y, /c/z, /ok, /p?sid=42, /file.pdf.
_ROBOTS_SQL = """
    SELECT doc_id,
      CASE WHEN (doc_id % 7) % 2 = 0
           THEN doc_id % 6 IN (2, 5)
           ELSE doc_id % 6 IN (0, 4, 5) END AS robots_blocked,
      CASE WHEN (doc_id % 7) % 2 = 0 AND doc_id % 6 IN (2, 5)
             THEN 'disallow'
           WHEN (doc_id % 7) % 2 = 1 AND doc_id % 6 IN (0, 4, 5)
             THEN 'disallow'
           WHEN (doc_id % 7) % 2 = 1 AND doc_id % 6 = 1 THEN 'allow'
           END AS matched_directive,
      CASE WHEN (doc_id % 7) % 2 = 0 AND doc_id % 6 = 2 THEN '/c'
           WHEN (doc_id % 7) % 2 = 0 AND doc_id % 6 = 5 THEN '/*.pdf$'
           WHEN (doc_id % 7) % 2 = 1 AND doc_id % 6 = 0 THEN '/a/'
           WHEN (doc_id % 7) % 2 = 1 AND doc_id % 6 = 1 THEN '/a/b'
           WHEN (doc_id % 7) % 2 = 1 AND doc_id % 6 = 4 THEN '/*?sid='
           WHEN (doc_id % 7) % 2 = 1 AND doc_id % 6 = 5 THEN '/*.pdf$'
           END AS matched_prefix
    FROM documents"""

_WHIST_CTE = """
    e AS (SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS ws,
                 CASE WHEN value IS NULL THEN NULL
                      WHEN value < 0.0 THEN 0
                      WHEN value >= 500.0 THEN 6
                      ELSE CAST(floor(value/100.0) AS INT) + 1 END AS b
          FROM events WHERE ts IS NOT NULL),
    h AS (SELECT ws AS window_start,
          """ + ", ".join(
    f"CAST(sum(CASE WHEN b={i} THEN 1 ELSE 0 END) AS BIGINT) AS b{i}"
    for i in range(7)) + """
          FROM e GROUP BY ws)"""

_WHIST_SQL = f"""
    WITH {_WHIST_CTE}
    SELECT window_start, {' + '.join(f'b{i}' for i in range(7))} AS n,
           {', '.join(f'b{i}' for i in range(7))}
    FROM h"""


def _psi_windowed_sql() -> str:
    """PSI replay with the SAME reference proportions + eps flooring +
    left-assoc term order as psi_drift_stream (round-6 kills ulp-level
    libm ln differences between engines)."""
    tb = float(sum(_WHIST_REF))
    terms = []
    for i, c in enumerate(_WHIST_REF):
        pb = repr(max(c / tb, 1e-6))
        pa = f"greatest(b{i} / nn, 1e-6)"
        terms.append(f"(({pa}) - {pb}) * ln(({pa}) / {pb})")
    psi = " + ".join(terms)
    return f"""
    WITH {_WHIST_CTE},
    p AS (SELECT window_start,
                 {' + '.join(f'b{i}' for i in range(7))} AS n,
                 CAST({' + '.join(f'b{i}' for i in range(7))} AS DOUBLE)
                   AS nn,
                 {', '.join(f'b{i}' for i in range(7))}
          FROM h)
    SELECT window_start, n, round({psi}, 6) AS psi,
           ({psi}) > 0.25 AS drifted
    FROM p"""


def _langid_join_sql() -> str:
    """Model-based language-ID replay: the model VALUES are generated
    from the SAME Python list the Spark table is built from, so both
    engines score the identical (token, lang, weight) rows; integer-
    valued weights make the per-doc sums order-independent."""
    rows = ", ".join(f"('{t}', '{lang}', {w})"
                     for t, lang, w in X.demo_language_model())
    return f"""
    WITH model(token, lang, weight) AS (SELECT * FROM (VALUES {rows})),
    toks AS (SELECT doc_id, t.token AS token
             FROM documents,
                  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
             WHERE text IS NOT NULL AND length(t.token) > 0),
    sc AS (SELECT doc_id, lang, sum(weight) AS score
           FROM toks JOIN model USING (token) GROUP BY doc_id, lang),
    best AS (SELECT doc_id, lang, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rn
             FROM sc)
    SELECT d.doc_id, coalesce(b.lang, 'und') AS lang,
           round(coalesce(b.score, 0.0), 6) AS score
    FROM documents d
    LEFT JOIN (SELECT doc_id, lang, score FROM best WHERE rn = 1) b
           USING (doc_id)"""


def _script_sql() -> str:
    # generated from the SAME SCRIPT_RANGES table the operator compiles
    # from, so the two engines test identical code-point ranges; the
    # planted suffixes replay the q_text_script residue construction
    ranges = X.SCRIPT_RANGES
    cnt = ("(length(text) - length(regexp_replace(text, '[{cls}]', '', 'g')))"
           "::BIGINT")
    count_cols = ",\n              ".join(
        cnt.format(cls=cls) + f" AS n_{name}" for name, cls in ranges)
    total = " + ".join(f"n_{name}" for name, _ in ranges)
    best = "greatest(" + ", ".join(f"n_{name}" for name, _ in ranges) + ")"
    dom = "'und'"
    for name, _ in reversed(ranges):
        dom = (f"CASE WHEN {best} > 0 AND n_{name} = {best} "
               f"THEN '{name}' ELSE {dom} END")
    return f"""
        WITH m AS (SELECT doc_id, text ||
              CASE WHEN doc_id % 11 = 0 THEN ' привет мир'
                   WHEN doc_id % 11 = 1 THEN ' 训练数据管道'
                   WHEN doc_id % 11 = 2 THEN ' بيانات التدريب'
                   WHEN doc_id % 11 = 3 THEN '데이터 파이프라인'
                   ELSE '' END AS text FROM documents),
        c AS (SELECT doc_id, {count_cols} FROM m)
        SELECT doc_id, {', '.join('n_' + n for n, _ in ranges)},
               ({total})::BIGINT AS n_script_chars, {dom} AS dominant_script
        FROM c"""


_CHUNKS_SQL = """
    WITH t AS (SELECT doc_id,
        CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
             ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
        FROM documents),
    s AS (SELECT doc_id, toks, len(toks) AS n,
                 unnest(range(0, len(toks), 24)) AS start
          FROM t WHERE len(toks) > 0)
    SELECT doc_id, (start // 24)::BIGINT AS chunk_id,
           start::BIGINT AS token_start,
           least(start + 32, n)::BIGINT AS token_end,
           (least(start + 32, n) - start)::BIGINT AS n_chunk_tokens,
           array_to_string(toks[start + 1 : least(start + 32, n)], ' ')
             AS chunk_text
    FROM s"""


def _main_content_sql() -> str:
    # replays the jusText-lite pipeline over the SAME synthesized pages:
    # body → script/style strip → block split → per-block word/anchor
    # counts → integer link-density keep rule. NULL traps: DuckDB's
    # regexp_extract_all returns NULL (not []) inside the lambda when a
    # block has no anchors — coalesce before counting, or anchor-free
    # blocks silently drop out of `kept`.
    block_split = (
        r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|table|tr|td|th|section|article"
        r"|aside|main|header|footer|nav|blockquote|form)[^>]*>")
    strip = ("trim(regexp_replace(regexp_replace({x}, '<[^>]+>', ' ', 'g'),"
             " '\\s+', ' ', 'g'))")
    words = ("CASE WHEN length({t}) = 0 THEN 0"
             " ELSE len(regexp_split_to_array({t}, '\\s+')) END")
    anchors = ("coalesce(array_to_string(regexp_extract_all("
               "x, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')")
    pre = _MC_PRE.replace("'", "''")
    post = _MC_POST.replace("'", "''")
    return f"""
        WITH h AS (SELECT doc_id, '{pre}' || text || '{post}' AS page
                   FROM documents),
        b AS (SELECT doc_id,
            regexp_split_to_array(
              regexp_replace(regexp_replace(
                regexp_extract(page, '(?s)<body[^>]*>(.*)</body>', 1),
                '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '{block_split}') AS blocks FROM h),
        s AS (SELECT doc_id, list_transform(blocks, x -> struct_pack(
                t := {strip.format(x='x')},
                a := {strip.format(x=anchors)})) AS raw FROM b),
        w AS (SELECT doc_id, list_transform(raw, x -> struct_pack(
                t := x.t, w := {words.format(t='x.t')},
                aw := {words.format(t='x.a')})) AS scored FROM s),
        k AS (SELECT doc_id,
              list_filter(scored, x -> x.w > 0) AS nonempty,
              list_filter(scored, x -> x.w > 0 AND x.w >= 3
                          AND x.aw * 100 <= 34 * x.w) AS kept FROM w)
        SELECT doc_id,
          coalesce(array_to_string(list_transform(kept, x -> x.t), ' '), '')
            AS main_text,
          coalesce(len(nonempty), 0)::BIGINT AS n_blocks,
          coalesce(len(kept), 0)::BIGINT AS n_kept,
          (coalesce(list_sum(list_transform(nonempty, x -> x.w)), 0)
           - coalesce(list_sum(list_transform(kept, x -> x.w)), 0))::BIGINT
            AS n_boiler_words
        FROM k"""


def _gradient_hash_cte() -> str:
    # recomputes the _gradient_media grayscale from its construction
    # formula (constant-channel pixels gray to exactly v under BT.601
    # floor division), then replays the aHash/dHash kernels: nearest-
    # neighbor sample index = x*W//grid, strict > compares, bit i at
    # grid position (x, y) = (i%8, i//8). HUGEINT accumulates bit 63
    # (BIGINT << 63 overflows in DuckDB); signed conversion at the end.
    def g(sx: str, sy: str) -> str:
        return (f"32 + ((ax * ({sx}) + ay * ({sy})) % 56)"
                f" + CASE WHEN ({sx}) = 0 AND ({sy}) = 0"
                f" THEN 11 * (doc_id % 4) ELSE 0 END")

    return f"""
        p AS (SELECT doc_id, doc_id // 4 AS gid FROM documents
              WHERE doc_id < 64),
        q AS (SELECT doc_id, 8 + gid % 9 AS W, 8 + gid % 5 AS H,
                     3 + gid % 5 AS ax, 5 + gid % 3 AS ay FROM p),
        c AS (SELECT doc_id, W, H, ax, ay, i, i % 8 AS x, i // 8 AS y
              FROM (SELECT *, unnest(range(64)) AS i FROM q)),
        dh AS (SELECT doc_id,
                sum(CASE WHEN ({g("((x+1) * W) // 9", "(y * H) // 8")})
                          > ({g("(x * W) // 9", "(y * H) // 8")})
                    THEN 1::HUGEINT << i ELSE 0::HUGEINT END) AS s
               FROM c GROUP BY doc_id),
        av AS (SELECT doc_id, i,
                ({g("(x * W) // 8", "(y * H) // 8")}) AS gval FROM c),
        at AS (SELECT doc_id, sum(gval) AS total FROM av GROUP BY doc_id),
        ah AS (SELECT av.doc_id,
                sum(CASE WHEN gval * 64 > total
                    THEN 1::HUGEINT << i ELSE 0::HUGEINT END) AS s
               FROM av JOIN at ON av.doc_id = at.doc_id
               GROUP BY av.doc_id),
        hashes AS (SELECT dh.doc_id,
          (CASE WHEN ah.s >= 9223372036854775808::HUGEINT
                THEN ah.s - 18446744073709551616::HUGEINT ELSE ah.s
           END)::BIGINT AS ahash,
          (CASE WHEN dh.s >= 9223372036854775808::HUGEINT
                THEN dh.s - 18446744073709551616::HUGEINT ELSE dh.s
           END)::BIGINT AS dhash
         FROM dh JOIN ah ON dh.doc_id = ah.doc_id)"""


_SIGNED64 = ("(CASE WHEN {s} >= 9223372036854775808::HUGEINT "
             "THEN {s} - 18446744073709551616::HUGEINT ELSE {s} END)::BIGINT")


def _audio_hash_cte() -> str:
    # restates _wav_media's sawtooth + frame-0 bump, sums |PCM| per
    # 65th-span (span of sample i = i*65//n, n a multiple of 65), and
    # replays the energy-profile dHash bit by bit
    return f"""
        p AS (SELECT doc_id, doc_id // 4 AS gid FROM documents
              WHERE doc_id < 48),
        q AS (SELECT doc_id, 650 + 65 * (gid % 5) AS n,
                     3 + gid % 7 AS a, 50 + gid % 13 AS pp FROM p),
        s AS (SELECT doc_id, n, a, pp, unnest(range(n)) AS i FROM q),
        v AS (SELECT doc_id, (i * 65) // n AS j,
                abs(((a * i) % pp) - pp // 2
                    + CASE WHEN i < n // 65 THEN 3 * (doc_id % 4)
                      ELSE 0 END) AS av
              FROM s),
        e AS (SELECT doc_id, j, sum(av) AS ej FROM v GROUP BY doc_id, j),
        t AS (SELECT l.doc_id,
                CASE WHEN r.ej > l.ej THEN 1::HUGEINT << l.j
                     ELSE 0::HUGEINT END AS term
              FROM e l JOIN e r ON l.doc_id = r.doc_id AND r.j = l.j + 1),
        hashes AS (SELECT doc_id,
                {_SIGNED64.format(s='sum(term)')} AS audio_hash
              FROM t GROUP BY doc_id)"""


def _mm_audio_hash_sql() -> str:
    return f"WITH {_audio_hash_cte()}\n" \
           "SELECT doc_id, audio_hash FROM hashes"


def _mm_audio_neardup_sql() -> str:
    return f"""WITH {_audio_hash_cte()}
        SELECT a.doc_id AS a_key, b.doc_id AS b_key,
               bit_count(xor(a.audio_hash, b.audio_hash))::INT AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.audio_hash, b.audio_hash)) <= 3"""


def _mm_phash_sql() -> str:
    return f"WITH {_gradient_hash_cte()}\n" \
           "SELECT doc_id, ahash, dhash FROM hashes"


def _mm_image_neardup_sql() -> str:
    # ground truth for the banded-blocking plan: ALL pairs within
    # hamming 3 by brute force over the formula-derived hashes (the
    # banding's pigeonhole recall guarantee says the sets must be equal)
    return f"""WITH {_gradient_hash_cte()}
        SELECT a.doc_id AS a_key, b.doc_id AS b_key,
               bit_count(xor(a.dhash, b.dhash))::INT AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3"""


def oracle_sql() -> dict[str, str]:
    lo, hi, n, w = 0.0, 600000.0, 20, 30000.0
    return {
        "validate_documents": _validate_documents_sql(),
        # per-lang verdict replay: per-row violation count re-derived from
        # the same DOCS_SCHEMA conditions as the violations oracle
        "validate_verdicts": """
            WITH v AS (SELECT lang,
                (CASE WHEN text IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN doc_id IS NOT NULL AND doc_id < 0 THEN 1 ELSE 0 END)
              + (CASE WHEN text IS NOT NULL AND length(text) < 50 THEN 1 ELSE 0 END)
              + (CASE WHEN text IS NOT NULL AND length(text) > 20000 THEN 1 ELSE 0 END)
              + (CASE WHEN lang IS NOT NULL
                      AND lang NOT IN ('en','zh','es','de','fr') THEN 1 ELSE 0 END)
              + (CASE WHEN source IS NOT NULL
                      AND NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars IS NOT NULL AND n_chars < 1 THEN 1 ELSE 0 END)
                AS nv FROM documents)
            SELECT lang AS partition_id, 'r0' AS run_id,
                   count(*) AS "rows", CAST(sum(nv) AS BIGINT) AS violation_rows,
                   CAST(sum(nv) AS BIGINT) = 0 AS passed
            FROM v GROUP BY lang""",
        "kw_pattern": "SELECT doc_id, CASE WHEN regexp_matches(text, 'join') THEN 1 ELSE 0 END AS ok FROM documents",
        "kw_enum": "SELECT event_id, CASE WHEN event_type IN ('error','signup','purchase') THEN 1 ELSE 0 END AS ok FROM events",
        "kw_pattern_re2": r"""
            WITH f AS (SELECT doc_id,
                 CASE WHEN doc_id % 11 = 5 THEN NULL
                      WHEN doc_id % 3 = 0 THEN 'ab-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                      WHEN doc_id % 3 = 1 THEN 'Ab-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                      ELSE 'ab-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '9'
                 END AS code
               FROM documents)
            SELECT doc_id,
                   CASE WHEN code IS NULL THEN 0
                        WHEN regexp_matches(code, '\A(?P<cc>[a-z]{2})-[0-9]{3}\z')
                        THEN 0 ELSE 1 END AS n_viol
            FROM f""",
        "kw_enum_broadcast": """
            SELECT o_orderkey,
                   CASE WHEN (o_orderkey % 30000) % 2 = 0 THEN 0 ELSE 1 END
                     AS n_viol
            FROM orders""",
        "kw_required": """SELECT count(*) - count(text) AS text_nulls,
                          count(*) - count(lang) AS lang_nulls,
                          count(*) - count(source) AS source_nulls FROM documents""",
        "kw_range": """SELECT l_orderkey, l_linenumber,
                       CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END AS ok
                       FROM lineitem""",
        "kw_length": "SELECT doc_id, CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END AS ok FROM documents",
        "kw_multipleof": """SELECT l_orderkey, l_linenumber,
                            CASE WHEN l_partkey % 5 = 0 THEN 1 ELSE 0 END AS ok FROM lineitem""",
        "kw_uniqueitems": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
            SELECT doc_id,
              CASE WHEN len(list_distinct(toks)) = len(toks) THEN 1 ELSE 0 END AS all_unique,
              len(list_distinct(toks)) AS n_distinct_tokens
            FROM t""",
        "kw_json": "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
        "kw_combinators": """
            WITH li AS (SELECT l_orderkey * 10 + l_linenumber AS rid, * FROM lineitem)
            SELECT rid AS url, '0' AS partition_id, 'r0' AS run_id,
                   'anyOf' AS keyword, '$.l_quantity' AS instance_path,
                   'lineitem_checks#/properties/l_quantity/anyOf' AS schema_path
            FROM li WHERE l_quantity IS NOT NULL
              AND NOT (l_quantity <= 10 OR l_quantity >= 40)
            UNION ALL
            SELECT rid, '0', 'r0', 'oneOf', '$.l_linenumber',
                   'lineitem_checks#/properties/l_linenumber/oneOf'
            FROM li WHERE l_linenumber IS NOT NULL
              AND (CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE 0 END
                   + CASE WHEN l_linenumber % 3 = 0 THEN 1 ELSE 0 END) <> 1
            UNION ALL
            SELECT rid, '0', 'r0', 'not', '$.l_returnflag',
                   'lineitem_checks#/properties/l_returnflag/not'
            FROM li WHERE l_returnflag = 'R'""",
        "kw_dependencies": """
            WITH d AS (SELECT doc_id, source,
                              CASE WHEN doc_id % 31 = 0 THEN NULL ELSE n_chars END AS n_chars
                       FROM documents)
            SELECT doc_id AS url, '0' AS partition_id, 'r0' AS run_id,
                   'dependencies' AS keyword, '$.n_chars' AS instance_path,
                   'docs_dep#/dependencies' AS schema_path
            FROM d WHERE source IS NOT NULL AND n_chars IS NULL""",
        "text_filter_funnel": """
            WITH f AS (SELECT CASE
                WHEN NOT coalesce(length(text) >= 100, FALSE) THEN 0
                WHEN NOT coalesce(lang IN ('en','zh','es','de','fr'), FALSE) THEN 1
                WHEN NOT coalesce(regexp_matches(source, '^src[0-9]+$'), FALSE) THEN 2
                WHEN NOT coalesce(length(text) <= 20000, FALSE) THEN 3
                ELSE -1 END AS ff FROM documents),
            c AS (SELECT ff, count(*) AS n FROM f GROUP BY ff),
            s(stage, rule) AS (VALUES (0, 'min_len'), (1, 'lang_known'),
                                      (2, 'source_ok'), (3, 'max_len')),
            j AS (SELECT s.stage, s.rule, coalesce(c.n, 0) AS n_dropped
                  FROM s LEFT JOIN c ON c.ff = s.stage)
            SELECT j.stage, j.rule,
                   CAST((SELECT count(*) FROM documents)
                        - coalesce(sum(n_dropped) OVER (ORDER BY j.stage
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_in,
                   CAST(n_dropped AS BIGINT) AS n_dropped,
                   CAST((SELECT count(*) FROM documents)
                        - sum(n_dropped) OVER (ORDER BY j.stage) AS BIGINT) AS n_out
            FROM j""",
        "text_filtered": """
            SELECT doc_id FROM documents
            WHERE coalesce(length(text) >= 100, FALSE)
              AND coalesce(lang IN ('en','zh','es','de','fr'), FALSE)
              AND coalesce(regexp_matches(source, '^src[0-9]+$'), FALSE)
              AND coalesce(length(text) <= 20000, FALSE)""",
        "kw_ref_registry": """
            SELECT doc_id AS url, '0' AS partition_id, 'r0' AS run_id,
                   'minimum' AS keyword, '$.n_chars' AS instance_path,
                   'common#/definitions/pos/minimum' AS schema_path
            FROM documents
            WHERE (CASE WHEN doc_id % 8 = 0 THEN 0 ELSE n_chars END) < 1
              AND (CASE WHEN doc_id % 8 = 0 THEN 0 ELSE n_chars END) IS NOT NULL""",
        "kw_ref_cycle": """
            SELECT doc_id AS url, '0' AS partition_id, 'r0' AS run_id,
                   'minimum' AS keyword, '$.chain.val' AS instance_path,
                   'cyc#/definitions/node/properties/val/minimum' AS schema_path
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'minimum', '$.chain.next.val',
                   'cyc#/definitions/node/properties/val/minimum'
            FROM documents WHERE doc_id % 7 = 0 AND doc_id % 3 <> 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'minimum', '$.chain.next.next.val',
                   'cyc#/definitions/node/properties/val/minimum'
            FROM documents WHERE doc_id % 11 = 0 AND doc_id % 3 = 2""",
        "kw_custom_format": """
            SELECT doc_id AS url, '0' AS partition_id, 'r0' AS run_id,
                   'format' AS keyword, '$.code' AS instance_path,
                   'fmt_custom#/properties/code/format' AS schema_path
            FROM documents
            WHERE length('c' || CAST(doc_id AS VARCHAR)) % 2 = 1""",
        "kw_defaults": """
            SELECT doc_id,
                   coalesce(CASE WHEN doc_id % 6 = 0 THEN NULL ELSE lang END,
                            'und') AS lang,
                   coalesce(CASE WHEN doc_id % 10 = 0 THEN NULL ELSE n_chars END,
                            0) AS n_chars
            FROM documents""",
        # validity is re-derived from the row constructions (doc_id mod
        # classes), NOT by running the engine's regexes in DuckDB — so the
        # oracle checks the ipv4/email semantics, not regex-vs-itself
        "kw_ref_format_items": """
            SELECT doc_id AS url, '0' AS partition_id, 'r0' AS run_id,
                   'format' AS keyword, '$.ip' AS instance_path,
                   'kw_extra#/properties/ip/format' AS schema_path
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'format', '$.contact',
                   'kw_extra#/properties/contact/format'
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'format', '$.host',
                   'kw_extra#/properties/host/format'
            FROM documents WHERE doc_id % 11 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'format', '$.link',
                   'kw_extra#/properties/link/format'
            FROM documents WHERE doc_id % 13 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'format', '$.dt',
                   'kw_extra#/properties/dt/format'
            FROM documents WHERE doc_id % 17 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'format', '$.ip6',
                   'kw_extra#/properties/ip6/format'
            FROM documents WHERE doc_id % 23 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'maxLength', '$.pair[0]',
                   'kw_extra#/properties/pair/items/0/maxLength'
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'enum', '$.pair[1]',
                   'kw_extra#/properties/pair/items/1/enum'
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'additionalItems', '$.pair',
                   'kw_extra#/properties/pair/additionalItems'
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'minimum', '$.n_chars',
                   'kw_extra#/definitions/bounded/minimum'
            FROM documents WHERE doc_id % 40 < 10""",
        "kw_allof_items_deps": """
            SELECT doc_id AS url, '0' AS partition_id, 'r0' AS run_id,
                   'minimum' AS keyword, '$.vals' AS instance_path,
                   'kw_extra2#/properties/vals/items/minimum' AS schema_path
            FROM documents WHERE doc_id % 11 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'minimum', '$.score',
                   'kw_extra2#/properties/score/allOf/0/minimum'
            FROM documents WHERE doc_id % 120 < 5
            UNION ALL
            SELECT doc_id, '0', 'r0', 'maximum', '$.score',
                   'kw_extra2#/properties/score/allOf/1/maximum'
            FROM documents WHERE doc_id % 120 > 100
            UNION ALL
            SELECT doc_id, '0', 'r0', 'maximum', '$.score',
                   'kw_extra2#/dependencies/source/properties/score/maximum'
            FROM documents WHERE doc_id % 120 > 110 AND source IS NOT NULL""",
        "kw_props_items_counts": """
            SELECT doc_id AS url, '0' AS partition_id, 'r0' AS run_id,
                   'additionalProperties' AS keyword, '$.m' AS instance_path,
                   'kw_extra3#/properties/m/additionalProperties' AS schema_path
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'maxProperties', '$.m',
                   'kw_extra3#/properties/m/maxProperties'
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'minProperties', '$.m',
                   'kw_extra3#/properties/m/minProperties'
            FROM documents WHERE doc_id % 19 = 0 AND doc_id % 4 <> 0
            UNION ALL
            -- %9=0 rows diverted to the empty-map branch have no k1 key
            SELECT doc_id, '0', 'r0', 'patternProperties', '$.m',
                   'kw_extra3#/properties/m/patternProperties/^k'
            FROM documents WHERE doc_id % 9 = 0
              AND NOT (doc_id % 19 = 0 AND doc_id % 4 <> 0)
            UNION ALL
            SELECT doc_id, '0', 'r0', 'maxItems', '$.vals',
                   'kw_extra3#/properties/vals/maxItems'
            FROM documents WHERE doc_id % 13 = 0
            UNION ALL
            SELECT doc_id, '0', 'r0', 'minItems', '$.vals',
                   'kw_extra3#/properties/vals/minItems'
            FROM documents WHERE doc_id % 17 = 0 AND doc_id % 13 <> 0""",
        "stat_basic": """SELECT count(*) AS cnt, round(min(l_extendedprice), 4) AS min_p,
                         round(max(l_extendedprice), 4) AS max_p,
                         round(sum(l_extendedprice), 2) AS sum_p FROM lineitem""",
        "stat_hist": f"""
            WITH b AS (SELECT CASE WHEN o_totalprice < {lo} THEN 0
                              WHEN o_totalprice >= {hi} THEN {n + 1}
                              ELSE (floor((o_totalprice - {lo}) / {w}) + 1)::INT END AS bucket
                       FROM orders)
            SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket""",
        "stat_distinct": """SELECT count(DISTINCT l_partkey) AS n_parts,
                            count(DISTINCT l_suppkey) AS n_supps FROM lineitem""",
        "con_unique": """SELECT user_id, count(*) AS cnt FROM events
                         GROUP BY user_id HAVING count(*) > 1""",
        "con_unique_salted": """SELECT user_id, count(*) AS cnt FROM events
                                GROUP BY user_id HAVING count(*) > 1""",
        "con_unique_hashed": """
            WITH u AS (SELECT CASE WHEN doc_id % 97 = 0
                         THEN 'https://dup.example.com/p/0'
                         ELSE 'https://h' || (doc_id % 40)::VARCHAR
                              || '.example.com/p/' || doc_id::VARCHAR
                       END AS url FROM documents)
            SELECT url, count(*) AS cnt FROM u
            GROUP BY url HAVING count(*) > 1""",
        "con_unique_auto": """SELECT user_id, count(*) AS cnt FROM events
                              GROUP BY user_id HAVING count(*) > 1""",
        "con_text_invariant": """
            SELECT CAST(doc_id AS VARCHAR) AS url, '0' AS partition_id,
                   'r0' AS run_id, 'text_invariant' AS keyword,
                   '$.text' AS instance_path,
                   'pages#/constraints/text_invariant/doc_id' AS schema_path
            FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL""",
        "con_ref": """SELECT o_orderkey, o_custkey FROM orders o
                      WHERE NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_mktsegment = 'BUILDING'
                                        AND c.c_custkey = o.o_custkey)""",
        "con_dup_window": """SELECT event_id, count(*) OVER (PARTITION BY user_id) AS user_events
                             FROM events""",
        "dedup_exact": f"""
            WITH t AS (SELECT doc_id,
                md5(array_to_string((regexp_split_to_array(lower(trim(text)), '\\s+'))[1:5], ' ')) AS digest
              FROM documents)
            SELECT digest, count(*) AS group_size, min(doc_id) AS keep_key
            FROM t GROUP BY digest HAVING count(*) > 1""",
        "dedup_minhash": _minhash_sql(4),
        "dedup_simhash": _simhash_sql(16),
        "dedup_jaccard": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 60),
            s AS (SELECT doc_id, {_SHINGLES3} AS sh FROM t),
            sized AS (SELECT doc_id, sh, len(sh) AS nsh FROM s WHERE len(sh) > 0),
            inv AS (SELECT doc_id, nsh, unnest(sh) AS shingle FROM sized),
            inter AS (
              SELECT a.doc_id AS a_key, b.doc_id AS b_key, a.nsh AS a_n, b.nsh AS b_n,
                     count(*) AS inter
              FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
            SELECT a_key, b_key,
                   round(inter::DOUBLE / (a_n + b_n - inter), 6) AS jaccard
            FROM inter WHERE inter::DOUBLE / (a_n + b_n - inter) >= 0.05""",
        "dedup_containment": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 60),
            s AS (SELECT doc_id, {_SHINGLES3} AS sh FROM t),
            sized AS (SELECT doc_id, sh, len(sh) AS nsh FROM s WHERE len(sh) > 0),
            inv AS (SELECT doc_id, nsh, unnest(sh) AS shingle FROM sized),
            inter AS (
              SELECT a.doc_id AS a_key, b.doc_id AS b_key, a.nsh AS a_n, b.nsh AS b_n,
                     count(*) AS inter
              FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
            SELECT a_key, b_key, a_n, b_n,
                   round(inter::DOUBLE / least(a_n, b_n), 6) AS containment
            FROM inter WHERE inter::DOUBLE / least(a_n, b_n) >= 0.1""",
        "text_tokens": f"""
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
              len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_ish
            FROM documents""",
        "text_langid": _langid_sql(),
        "text_quality": _quality_sql(),
        "text_fingerprint": """SELECT doc_id,
            md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp FROM documents""",
        "text_extract": """
            WITH h AS (SELECT doc_id, text,
                   '<html><head><title>t</title></head><body><p>' || text
                   || '</p></body></html>' AS page FROM documents),
            e AS (SELECT doc_id, text,
                   trim(regexp_replace(regexp_replace(
                     regexp_extract(page, '(?s)<body[^>]*>(.*)</body>', 1),
                     '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS ext FROM h)
            SELECT doc_id, sha256(ext) AS extracted_sha,
                   ext = text AS invariant_ok FROM e""",
        "text_gopher": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
            m AS (SELECT doc_id, text, toks,
              CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_words
              FROM t),
            v AS (SELECT doc_id, toks, n_words,
              greatest(n_words, 1) AS nd,
              list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                / greatest(n_words, 1) AS mwl,
              ((length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3.0)
                / greatest(n_words, 1) AS sym,
              len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
                / greatest(n_words, 1) AS alpha,
              len(list_intersect(list_distinct(toks),
                ['the','of','and','to','in','is','that','it','was','for'])) AS stop_hits
              FROM m)
            SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
              round(sym, 6) AS symbol_ratio, round(alpha, 6) AS alpha_word_ratio,
              stop_hits AS stopword_hits,
              (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
               AND sym <= 0.1 AND alpha >= 0.8 AND stop_hits >= 2)::INT AS gopher_pass
            FROM v""",
        "text_repetition": f"""
            WITH t AS (SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE {_TOKS} END AS toks FROM documents),
            g AS (SELECT doc_id, toks,
              CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, len(toks)),
                        i -> toks[i]||' '||toks[i+1]) END AS g2,
              CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, len(toks)-1),
                        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) END AS g3
              FROM t)
            SELECT doc_id,
              round(CASE WHEN len(toks) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(toks))::DOUBLE/len(toks) END, 6)
                AS dup_word_frac,
              round(CASE WHEN len(g2) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(g2))::DOUBLE/len(g2) END, 6)
                AS dup_2gram_frac,
              round(CASE WHEN len(g3) = 0 THEN 0.0
                ELSE 1.0 - len(list_distinct(g3))::DOUBLE/len(g3) END, 6)
                AS dup_3gram_frac
            FROM g""",
        "dedup_decontaminate": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            s AS (SELECT doc_id,
              CASE WHEN len(toks) < 8 THEN []::VARCHAR[]
                   ELSE list_distinct(list_transform(range(1, len(toks)-6),
                     i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]
                       ||' '||toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7]))
                   END AS sh FROM t),
            d AS (SELECT doc_id, {_H.format(x='s')} AS h
                  FROM (SELECT doc_id, unnest(sh) AS s FROM s)),
            b AS (SELECT DISTINCT h FROM d WHERE doc_id % 25 = 0)
            SELECT d.doc_id, count(*) AS n_contaminated
            FROM d JOIN b USING (h) GROUP BY d.doc_id""",
        "stat_topk": """
            WITH c AS (SELECT l_partkey AS value, count(*) AS cnt
                       FROM lineitem GROUP BY 1),
            r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, value ASC)
                       AS rank FROM c)
            SELECT 'l_partkey' AS column, rank, value::VARCHAR AS value, cnt
            FROM r WHERE rank <= 10""",
        "ann_cosine_topk": _ANN_EXACT_TOPK_SQL,
        "mm_meta_dims": """
            SELECT doc_id,
              CASE WHEN doc_id % 3 = 2 THEN 'png' ELSE 'jpeg' END AS format,
              CAST(doc_id % 13 + 4 AS INT) AS width,
              CAST(doc_id % 7 + 3 AS INT) AS height,
              CAST(1 AS INT) AS n_frames
            FROM range(60) t(doc_id)""",
        "mm_meta": """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                      sha256(text) AS sha FROM documents WHERE doc_id < 200""",
        "mm_decode": """
            WITH t AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
                       chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 200),
            p AS (SELECT doc_id, w, h,
                  'P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10)
                  || repeat(c, (w*h*3)::INT) AS payload FROM t)
            SELECT doc_id, octet_length(encode(payload)) AS n_bytes,
                   sha256(payload) AS sha256, 'ppm' AS format,
                   w AS width, h AS height, 1 AS n_frames FROM p""",
        "mm_decode_png": """
            WITH t AS (SELECT doc_id, chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 64)
            SELECT doc_id,
                   sha256('P6' || chr(10) || '5 4' || chr(10) || '255' || chr(10)
                          || repeat(c, 60)) AS resized_sha,
                   5 AS out_w, 4 AS out_h, 'png' AS src_format FROM t""",
        "mm_decode_jpeg": """
            WITH t AS (SELECT doc_id, chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 64)
            SELECT doc_id,
                   sha256('P6' || chr(10) || '5 4' || chr(10) || '255' || chr(10)
                          || repeat(c, 60)) AS resized_sha,
                   5 AS out_w, 4 AS out_h, 'jpeg' AS src_format FROM t""",
        "mm_exif": """
            WITH t AS (SELECT doc_id, doc_id % 8 + 1 AS o,
                              doc_id % 9 + 4 AS w, doc_id % 5 + 3 AS h,
                              chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 40)
            SELECT doc_id, o::INT AS orientation,
                   (CASE WHEN o >= 5 THEN h ELSE w END)::INT AS width,
                   (CASE WHEN o >= 5 THEN w ELSE h END)::INT AS height,
                   sha256(repeat(c, (w * h * 3)::INT)) AS pixel_sha
            FROM t""",
        "mm_video_frames": """
            WITH t AS (SELECT doc_id FROM documents WHERE doc_id < 40),
            g AS (SELECT doc_id, unnest(range(0, doc_id % 5 + 2)) AS i
                  FROM t),
            f AS (SELECT doc_id, i FROM g WHERE i % 2 = 0)
            SELECT doc_id, i::INT AS frame_idx,
                   (doc_id % 6 + 4)::INT AS width,
                   (doc_id % 4 + 3)::INT AS height,
                   sha256(repeat(chr((97 + (doc_id + 2 * i) % 26)::INT),
                                 ((doc_id % 6 + 4) * (doc_id % 4 + 3) * 3)::INT))
                       AS frame_sha
            FROM f""",
        "mm_decode_jpeg_prog": """
            WITH t AS (SELECT doc_id, chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 48)
            SELECT doc_id,
                   sha256('P6' || chr(10) || '5 4' || chr(10) || '255' || chr(10)
                          || repeat(c, 60)) AS resized_sha,
                   5 AS out_w, 4 AS out_h, 'jpeg' AS src_format FROM t""",
        "mm_resize": """
            WITH t AS (SELECT doc_id, chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 200)
            SELECT doc_id,
                   sha256('P6' || chr(10) || '5 4' || chr(10) || '255' || chr(10)
                          || repeat(c, 60)) AS resized_sha,
                   5 AS out_w, 4 AS out_h, 'ppm' AS src_format FROM t""",
        "stat_hll": """SELECT count(DISTINCT l_partkey) AS exact_parts,
                       true AS within_2pct FROM lineitem""",
        "dedup_lsh_candidates": _lsh_candidates_sql(12, 6, 200, 64),
        "dedup_simhash_neardup": _simhash_neardup_sql(16, 3, 8, 300, 256),
        "dedup_clusters": _dedup_clusters_sql(),
        "ann_lsh": _ann_lsh_sql(4, 10, 5),
        "ann_ivf": _ann_ivf_sql(16, 4, 10, 5),
        "ann_pq_codes": _ann_pq_codes_sql(8, 16, 64),
        "ann_ivfpq": _ann_ivfpq_sql(16, 4, 10, 5, 8, 16, 64),
        # phase-split rows: train replays the deterministic init rule
        # (codebooks[m][code] = sub-slice m of the code-th row by
        # vec_id); encode/query reuse the end-to-end SQL — the cached
        # index is the same deterministic one, so outputs are identical
        "ann_ivfpq_train": """
            WITH r AS (SELECT embedding,
                              row_number() OVER (ORDER BY vec_id) - 1
                                AS code
                       FROM embeddings ORDER BY vec_id LIMIT 16),
            i AS (SELECT unnest(range(0, 64)) AS idx)
            SELECT (idx // 8)::INT AS m, code::INT AS code,
                   (idx % 8)::INT AS pos,
                   round(embedding[idx + 1]::DOUBLE, 6) AS val
            FROM r CROSS JOIN i""",
        "ann_ivfpq_encode": _ann_pq_codes_sql(8, 16, 64),
        "ann_ivfpq_query": _ann_ivfpq_sql(16, 4, 10, 5, 8, 16, 64),
        "ann_embedding_neardup": _ann_neardup_sql(4, 0.15, 500),
        "drift_ks": _drift_ks_sql(),
        "drift_psi": _drift_psi_sql(),
        "stat_quantiles": " UNION ALL ".join(
            f"""SELECT 'l_extendedprice' AS column, {p} AS p,
                round(quantile_cont(l_extendedprice, {p}), 4) AS exact_value,
                true AS approx_within_bound FROM lineitem"""
            for p in (0.25, 0.5, 0.75, 0.95)
        ),
        "web_url_features": _URL_FEATURES_SQL,
        "web_domain_stats": _DOMAIN_STATS_SQL,
        "dedup_common_lines": _COMMON_LINES_SQL,
        "dedup_line_cleaned": _LINE_CLEANED_SQL,
        "stat_stratified_sample": _STRATIFIED_SQL,
        # expected inference profile recomputed from the base columns
        # (to_json omits nulls -> presence = count(col); no JSON nulls)
        "infer_json_profile": """
            SELECT '$' AS path, 'object' AS jtype, count(*) AS n_present,
                   CAST(0 AS BIGINT) AS n_null FROM documents
            UNION ALL SELECT '$.doc_id', 'integer', count(doc_id), 0 FROM documents
            UNION ALL SELECT '$.lang', 'string', count(lang), 0 FROM documents
            UNION ALL SELECT '$.meta', 'object', count(*), 0 FROM documents
            UNION ALL SELECT '$.meta.n', 'integer', count(n_chars), 0 FROM documents
            UNION ALL SELECT '$.meta.src', 'string', count(source), 0 FROM documents""",
        "text_pii": _pii_counts_sql(),
        "text_pii_redact": _pii_redact_sql(),
        "web_canonical": _CANONICAL_SQL,
        "web_canonical_dupes": _CANONICAL_DUPES_SQL,
        "stat_outliers": _OUTLIERS_SQL,
        "dedup_lsh_verified": _lsh_verified_sql(12, 6, 200, 64, 0.3),
        "web_top_pages": _TOP_PAGES_SQL,
        "stat_suggest_constraints": _suggest_sql(
            ["doc_id", "lang", "source", "n_chars"]),
        "event_sessions": _SESSIONS_SQL,
        "text_vocab": _VOCAB_SQL,
        "text_unigram": _UNIGRAM_SQL,
        "stat_mixture_plan": _MIX_PLAN_SQL,
        "stat_mixture_take": _MIX_TAKE_SQL,
        "infer_profile_diff": _PROFILE_DIFF_SQL,
        "temporal_asof": _ASOF_SQL,
        "temporal_range": _RANGE_SQL,
        "events_hourly": _HOURLY_SQL,
        "dedup_cross_corpus": _cross_corpus_sql(12, 6, 400, 64, 0.3),
        "dedup_against": f"""
            WITH hits AS ({_cross_corpus_sql(12, 6, 400, 64, 0.3,
                                             left_parity=1)})
            SELECT d.doc_id, d.lang FROM documents d
            WHERE d.doc_id < 400 AND d.doc_id % 2 = 1
              AND d.doc_id NOT IN (SELECT a_key FROM hits)""",
        "stat_group_sample": _GROUP_SAMPLE_SQL,
        "text_tfidf": _TFIDF_SQL,
        "repair_table": _REPAIR_TABLE_SQL,
        "repair_report": _REPAIR_REPORT_SQL,
        "ann_centroids": _CENTROID_COMP_SQL,
        "ann_centroid_stats": _CENTROID_STATS_SQL,
        "con_fd": """
            SELECT source, count(DISTINCT lang) AS n_rhs, count(*) AS n_rows
            FROM documents WHERE source IS NOT NULL
            GROUP BY source HAVING count(DISTINCT lang) > 1""",
        # floor() mirrors Spark's cast-to-long truncation (both compute
        # the share as IEEE double first, so the floors agree)
        "stat_skew": """
            WITH counts AS (
                SELECT user_id, count(*) AS cnt FROM events
                WHERE user_id IS NOT NULL GROUP BY user_id
            ), tot AS (
                SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                       count(*) AS n_keys FROM counts
            ), tk AS (
                SELECT max(cnt) AS max_cnt,
                       CAST(sum(cnt) AS BIGINT) AS topk_cnt
                FROM (SELECT user_id, cnt FROM counts
                      ORDER BY cnt DESC, user_id ASC LIMIT 10)
            )
            SELECT n_rows, n_keys, max_cnt,
                   CAST(floor(max_cnt * 1000000 / n_rows) AS BIGINT)
                       AS top1_share_ppm,
                   CAST(floor(topk_cnt * 1000000 / n_rows) AS BIGINT)
                       AS topk_share_ppm
            FROM tot, tk""",
        "text_vocab_drift": _VOCAB_DRIFT_SQL,
        "event_funnel": _FUNNEL_SQL,
        "stat_clip": """
            WITH d AS (
                SELECT doc_id, lang,
                       CAST(CASE WHEN doc_id % 97 = 0 THEN n_chars * 50
                            ELSE n_chars END AS DOUBLE) AS v
                FROM documents
                WHERE lang IS NOT NULL AND n_chars IS NOT NULL
            ), b AS (
                SELECT lang, quantile_cont(v, 0.25) AS q1,
                       quantile_cont(v, 0.75) AS q3
                FROM d GROUP BY lang
            ), f AS (
                SELECT lang, q1 - 1.5 * (q3 - q1) AS lo,
                       q3 + 1.5 * (q3 - q1) AS hi FROM b
            )
            SELECT d.doc_id, d.lang,
                   round(least(greatest(v, lo), hi), 6) AS v_clipped,
                   (v < lo OR v > hi) AS v_was_clipped
            FROM d JOIN f USING (lang)""",
        "stat_corr": " UNION ALL ".join(
            f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
                round(corr({a}, {b}), 6) AS corr FROM lineitem"""
            for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
        ),
        # integer-exact packing replay: same portable bucket hash, same
        # (bucket, doc_id) layout order, floor-division via // on BIGINT
        "stat_pack_offsets": _PACK_BASE_SQL + """
            SELECT doc_id, bucket, n_tokens, start_tok,
                   CASE WHEN n_tokens > 0 THEN start_tok // 512 END AS first_chunk,
                   CASE WHEN n_tokens > 0
                        THEN (start_tok + n_tokens - 1) // 512
                             - start_tok // 512 + 1
                        ELSE 0 END AS n_chunks
            FROM p""",
        "stat_pack_summary": _PACK_BASE_SQL + """
            , g AS (SELECT bucket, count(*) AS n_docs,
                           sum(n_tokens)::BIGINT AS total_tokens FROM p GROUP BY 1)
            SELECT bucket, n_docs, total_tokens,
                   CASE WHEN total_tokens > 0
                        THEN (total_tokens + 511) // 512 ELSE 0 END AS n_chunks,
                   CASE WHEN total_tokens > 0
                        THEN (total_tokens + 511) // 512 ELSE 0 END * 512
                   - total_tokens AS tail_waste_tokens
            FROM g""",
        "text_classifier": f"""
            WITH t AS (SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> length(x) > 0) AS toks
                 FROM documents WHERE text IS NOT NULL),
            s AS (SELECT doc_id, len(toks) AS n_tokens,
                 coalesce(list_sum(list_transform(toks, x ->
                     ({_weights_sql_list(256)})[
                         (('0x' || substr(md5(x), 1, 15))::BIGINT % 256)::INT + 1
                     ])), 0.0) AS wsum
                 FROM t)
            SELECT doc_id, n_tokens,
                   round(-0.05 + CASE WHEN n_tokens > 0
                                      THEN wsum / n_tokens ELSE 0 END, 6) AS logit,
                   (-0.05 + CASE WHEN n_tokens > 0
                                 THEN wsum / n_tokens ELSE 0 END) > 0 AS label
            FROM s""",
        "text_classifier_join": f"""
            WITH t AS (SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> length(x) > 0) AS toks
                 FROM documents WHERE text IS NOT NULL),
            s AS (SELECT doc_id, len(toks) AS n_tokens,
                 coalesce(list_sum(list_transform(toks, x ->
                     ({_weights_sql_list(256)})[
                         (('0x' || substr(md5(x), 1, 15))::BIGINT % 256)::INT + 1
                     ])), 0.0) AS wsum
                 FROM t)
            SELECT doc_id, n_tokens,
                   round(-0.05 + CASE WHEN n_tokens > 0
                                      THEN wsum / n_tokens ELSE 0 END, 6) AS logit,
                   (-0.05 + CASE WHEN n_tokens > 0
                                 THEN wsum / n_tokens ELSE 0 END) > 0 AS label
            FROM s""",
        "ann_semdedup": _SEMDEDUP_ASSIGN_SQL + """
            SELECT a.vec_id AS a_key, b.vec_id AS b_key, a.cell,
                   round(list_cosine_similarity(
                       ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cosine
            FROM assign a JOIN assign b USING (cell)
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE a.vec_id < b.vec_id
              AND round(list_cosine_similarity(
                      ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= 0.2""",
        "ann_semdedup_keep": _SEMDEDUP_ASSIGN_SQL + """
            , drops AS (
              SELECT DISTINCT b.vec_id AS k
              FROM assign a JOIN assign b USING (cell)
              JOIN embeddings ea ON ea.vec_id = a.vec_id
              JOIN embeddings eb ON eb.vec_id = b.vec_id
              WHERE a.vec_id < b.vec_id
                AND round(list_cosine_similarity(
                        ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= 0.2)
            SELECT vec_id, vec_id NOT IN (SELECT k FROM drops) AS keep
            FROM embeddings""",
        # the synthesized urls only differ by the ?ref=rss tracking param
        # (already lowercase, no ports/fragments/trailing slash), so THIS
        # query's canonicalization reduces to stripping it; the full
        # canonical contract is oracle-covered by web_canonical
        # 3 unrolled fixed-point iterations: BIGINT floor division (//)
        # and integer sums replay Spark's arithmetic bit-for-bit
        "web_pagerank": _pagerank_sql(iters=3),
        "text_bpe": _bpe_sql(),
        "text_bpe_arrow": _bpe_sql(),
        "pipeline_curate": _curate_sql(),
        "dedup_substring_spans": _SUBSTR_SPANS_SQL,
        "dedup_substring_removed": _SUBSTR_REMOVED_SQL,
        "text_langid_join": _langid_join_sql(),
        "dedup_substring_stats": _SUBSTR_STATS_SQL,
        "text_bigram": _BIGRAM_SQL,
        "ann_project": _ann_project_sql(16, 64, 7),
        "web_url_templates": r"""
            WITH u AS (SELECT doc_id,
                 'https://h' || (doc_id % 7) || '.example.com' ||
                 CASE WHEN doc_id % 3 = 0
                      THEN '/item/' || (doc_id * 7919 % 100000) || '/view'
                      WHEN doc_id % 3 = 1
                      THEN '/u/' || substr(md5(doc_id::VARCHAR), 1, 12)
                           || '/profile'
                      ELSE '/static/about' END AS url
               FROM documents),
            g AS (SELECT url,
                 regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)
                   AS host,
                 coalesce(nullif(regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), ''), '/')
                   AS path
               FROM u),
            t AS (SELECT host,
                 regexp_replace(regexp_replace(path, '[0-9a-fA-F]{8,}', '{h}',
                                               'g'),
                                '[0-9]+', '{n}', 'g') AS template, url
               FROM g)
            SELECT host, template, count(*) AS n_urls,
                   count(DISTINCT url) AS n_distinct, min(url) AS example
            FROM t GROUP BY 1, 2""",
        "text_sentences": r"""
            WITH d AS (SELECT doc_id,
                 CASE WHEN doc_id % 4 != 0
                      THEN regexp_replace(text,
                           '(\w+ \w+ \w+ \w+ \w+) ', '\1. ', 'g')
                      ELSE text END AS t
               FROM documents WHERE text IS NOT NULL),
            m AS (SELECT doc_id,
                 string_split(regexp_replace(t, '([.!?])\s+',
                                             '\1' || chr(31), 'g'),
                              chr(31)) AS arr
               FROM d),
            e AS (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS i, arr
                  FROM m),
            s AS (SELECT doc_id, (i - 1)::INT AS sent_idx,
                         arr[i] AS sentence FROM e)
            SELECT doc_id, sent_idx, sentence,
                   len(string_split_regex(trim(sentence), '\s+'))::INT
                     AS n_words
            FROM s WHERE length(trim(sentence)) > 0""",
        "text_collocations": r"""
            WITH toks AS (SELECT
                 string_split_regex(trim(lower(text)), '\s+') AS tk
               FROM documents WHERE text IS NOT NULL),
            uni AS (SELECT w, count(*) AS c FROM (
                      SELECT unnest(tk) AS w FROM toks) z
                    WHERE length(w) > 0 GROUP BY w),
            bi_all AS (SELECT a, b, count(*) AS c_ab FROM (
                     SELECT tk[i] AS a, tk[i + 1] AS b FROM (
                       SELECT tk, unnest(range(1, len(tk))) AS i
                       FROM toks WHERE len(tk) >= 2) z) zz
                   WHERE length(a) > 0 AND length(b) > 0
                   GROUP BY a, b),
            bi AS (SELECT * FROM bi_all WHERE c_ab >= 5),
            nt AS (SELECT sum(c) AS n FROM uni),
            nb AS (SELECT sum(c_ab) AS n FROM bi_all),
            j AS (SELECT bi.a, bi.b, bi.c_ab,
                    round(ln((bi.c_ab::DOUBLE * nt.n::DOUBLE * nt.n::DOUBLE)
                           / (nb.n::DOUBLE * ua.c::DOUBLE * ub.c::DOUBLE)),
                          6) AS pmi
                  FROM bi JOIN uni ua ON ua.w = bi.a
                  JOIN uni ub ON ub.w = bi.b
                  CROSS JOIN nt CROSS JOIN nb)
            SELECT a, b, c_ab, pmi FROM j
            ORDER BY pmi DESC, a ASC, b ASC LIMIT 50""",
        "stat_heavy_hitters": """
            WITH src AS (
              SELECT CASE WHEN user_id % 10 < 3
                          THEN 'heavy_' || (user_id % 3)
                          ELSE 'tail_' || user_id END AS token
              FROM events),
            ex AS (SELECT token, count(*) AS exact FROM src GROUP BY token)
            SELECT token, exact, true AS in_candidates, true AS bounds_ok,
                   true AS err_within_bound
            FROM ex WHERE token LIKE 'heavy_%'""",
        "text_unigram_viterbi": _unigram_viterbi_sql(16, 6),
        "stat_hll_overlap": """
            WITH x AS (
              SELECT count(DISTINCT CASE WHEN o_orderkey % 2 = 0
                                         THEN o_custkey END) AS xa,
                     count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                                         THEN o_custkey END) AS xb,
                     count(DISTINCT o_custkey) AS xu
              FROM orders)
            SELECT xa AS exact_a, xb AS exact_b, xu AS exact_union,
                   xa + xb - xu AS exact_intersection,
                   true AS a_ok, true AS b_ok, true AS union_ok,
                   true AS intersect_ok
            FROM x""",
        "repair_mojibake": """
            WITH t AS (SELECT doc_id,
                              text || ' — it’s a café “fine” €5' AS orig
                       FROM documents WHERE text IS NOT NULL)
            SELECT doc_id, doc_id % 2 = 1 AS detected,
                   md5(orig) AS repaired_md5, md5(orig) AS orig_md5,
                   true AS restored
            FROM t""",
        "layout_zorder": _layout_zorder_sql(8, 16),
        "layout_zorder_stats": _layout_zorder_stats_sql(8, 16),
        "layout_compaction": _LAYOUT_COMPACTION_SQL,
        "text_dsir": _DSIR_WEIGHTS_SQL,
        "text_dsir_take": _DSIR_TAKE_SQL,
        "text_dsir_sample": _DSIR_SAMPLE_SQL,
        "web_snapshot_diff": _SNAPSHOT_DIFF_SQL,
        "stat_windowed_hist": _WHIST_SQL,
        "drift_psi_windowed": _psi_windowed_sql(),
        "web_host_graph": _HOST_GRAPH_SQL.format(urls=_URLS_CTE),
        "web_revision_intervals": _REVISION_INTERVALS_SQL,
        "pipeline_incremental_validate": _INCR_VALIDATE_SQL,
        "web_robots_verdicts": _ROBOTS_SQL,
        "web_host_mirrors": """
            WITH ph AS (SELECT DISTINCT
                          'h' || (doc_id % 6)::VARCHAR || '.example.com'
                            AS host,
                          doc_id % 40 AS dig
                        FROM documents),
            c AS (SELECT dig, count(*) AS n FROM ph GROUP BY dig),
            p AS (SELECT a.dig, a.host AS ha, b.host AS hb
                  FROM ph a JOIN ph b ON a.dig = b.dig AND a.host < b.host
                  WHERE a.dig IN (SELECT dig FROM c
                                  WHERE n BETWEEN 2 AND 16))
            SELECT ha AS host_a, hb AS host_b,
                   count(*) AS shared_digests
            FROM p GROUP BY ha, hb HAVING count(*) >= 3""",
        "con_monotonic": """
            WITH s AS (SELECT user_id, event_id,
                         lag(value) OVER (PARTITION BY user_id
                                          ORDER BY event_id) AS prev_value,
                         value
                       FROM events)
            SELECT user_id, event_id, prev_value, value
            FROM s WHERE value < prev_value""",
        "validate_dispatch": """
            WITH d AS (SELECT doc_id, n_chars,
                 CASE WHEN doc_id % 3 = 0 THEN 'dlong'
                      WHEN doc_id % 3 = 1 THEN 'dshort'
                      ELSE 'dmystery' END AS sid FROM documents)
            SELECT CAST(doc_id AS BIGINT) AS url, 'minimum' AS keyword,
                   '$.n_chars' AS instance_path,
                   'dlong#/properties/n_chars/minimum' AS schema_path,
                   'dlong' AS schema_id
            FROM d WHERE sid = 'dlong' AND n_chars IS NOT NULL AND n_chars < 500
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), 'maximum', '$.n_chars',
                   'dshort#/properties/n_chars/maximum', 'dshort'
            FROM d WHERE sid = 'dshort' AND n_chars IS NOT NULL AND n_chars > 800
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), '$dispatch', '$', '$', 'dmystery'
            FROM d WHERE sid = 'dmystery'""",
        "ann_recall": _ann_recall_sql(10),
        "stat_rank_buckets": """
            SELECT doc_id, n_chars,
                   ntile(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS bucket
            FROM documents""",
        # H = ln(n) - sum(c*ln c)/n (same single-agg identity); normalized
        # divides the ALREADY-rounded entropy, matching Spark exactly
        "stat_entropy": """
            WITH c AS (SELECT lang AS v, count(*) AS cnt FROM documents
                       WHERE lang IS NOT NULL GROUP BY 1),
            a AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*) AS n_distinct,
                         sum(cnt * ln(cnt::DOUBLE)) AS clnc FROM c),
            e AS (SELECT n_rows, n_distinct,
                         round(ln(n_rows::DOUBLE) - clnc / n_rows, 6) AS ent
                  FROM a)
            SELECT 'lang' AS column, n_rows, n_distinct, ent AS entropy_nats,
                   CASE WHEN n_distinct > 1
                        THEN round(ent / ln(n_distinct::DOUBLE), 6)
                        ELSE 0.0 END AS normalized
            FROM e""",
        # the oracle derives blocked from the URL-GENERATING columns (the
        # semantic ground truth): host ends with .src3.example0.com iff
        # source='src3' and doc_id%3=0; path starts with /de iff lang='de'
        # and the path branch is taken (doc_id%3 != 0) — an independent
        # derivation, not a replay of the Spark-side host/path parsing
        "web_blocklist": """
            SELECT doc_id,
                'https://w' || (doc_id % 5)::VARCHAR || '.' || source
                || '.example' || (doc_id % 3)::VARCHAR || '.com'
                || CASE WHEN doc_id % 3 = 0 THEN '/'
                        WHEN doc_id % 3 = 1 THEN '/' || lang
                        ELSE '/' || lang || '/a/b' END
                || CASE WHEN doc_id % 2 = 0 THEN '?id=1&ref=rss' ELSE '' END
                AS url,
                (doc_id % 3 = 0 AND source = 'src3')
                OR (doc_id % 3 <> 0 AND lang = 'de') AS blocked
            FROM documents WHERE source IS NOT NULL""",
        "web_latest_revision": """
            WITH u AS (SELECT doc_id,
                 'https://w' || (doc_id % 5) || '.example.com/p' || (doc_id % 7)
                 AS canonical_url,
                 (doc_id * 7919) % 100000 AS fetched_at FROM documents),
            r AS (SELECT doc_id, canonical_url,
                 row_number() OVER (PARTITION BY canonical_url
                                    ORDER BY fetched_at DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY canonical_url) AS n_revisions
                 FROM u)
            SELECT doc_id, canonical_url, n_revisions FROM r WHERE rn = 1""",
        "text_script": _script_sql(),
        "text_chunks": _CHUNKS_SQL,
        "text_main_content": _main_content_sql(),
        "mm_phash": _mm_phash_sql(),
        "mm_image_neardup": _mm_image_neardup_sql(),
        "mm_audio_hash": _mm_audio_hash_sql(),
        "mm_audio_neardup": _mm_audio_neardup_sql(),
        "mm_decode_gif": """
            WITH t AS (SELECT doc_id, chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 64)
            SELECT doc_id,
                   sha256('P6' || chr(10) || '5 4' || chr(10) || '255' || chr(10)
                          || repeat(c, 60)) AS resized_sha,
                   5 AS out_w, 4 AS out_h, 'gif' AS src_format FROM t""",
        "mm_decode_webp": """
            WITH t AS (SELECT doc_id, chr((97 + doc_id % 26)::INT) AS c
                       FROM documents WHERE doc_id < 64)
            SELECT doc_id,
                   sha256('P6' || chr(10) || '5 4' || chr(10) || '255' || chr(10)
                          || repeat(c, 60)) AS resized_sha,
                   5 AS out_w, 4 AS out_h, 'webp' AS src_format FROM t""",
        "mm_meta_webp": """
            SELECT doc_id, 'webp' AS format,
                   CAST(doc_id % 13 + 4 AS INT) AS width,
                   CAST(doc_id % 7 + 3 AS INT) AS height,
                   CAST(1 AS INT) AS n_frames
            FROM range(60) t(doc_id)""",
        "search_bm25": _bm25_sql(),
        "dedup_bloom": _bloom_sql(),
        "web_hits": _hits_sql(),
        "web_sitemaps": _SITEMAPS_SQL,
        "web_robots_directives": _ROBOTS_DIRECTIVES_SQL,
        "web_anchor_text": _ANCHOR_TEXT_SQL,
        "text_charset": _CHARSET_SQL,
        "web_crawl_budget": _CRAWL_BUDGET_SQL,
        "web_frontier": _FRONTIER_SQL,
        "search_postings": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> len(x) > 0)) AS token
              FROM documents WHERE text IS NOT NULL AND doc_id < 200)
            SELECT token, doc_id, count(*) AS tf FROM tok
            WHERE token IN ('spark', 'customer', 'window')
            GROUP BY token, doc_id""",
    }
