"""Compile a draft-4 schema against a typed Spark table into a fused plan.

Split per SURVEY.md §2(a): every keyword that is expressible as a native
Spark ``Column`` predicate compiles to one (Catalyst whole-stage codegen —
the Spark analogue of the reference's AOT schema→JS codegen in
playlyfe/themis src/themis.js); anything dynamic (nested JSON columns,
cyclic $refs, unknown shapes) falls back to a vectorized Arrow batch
validator built on plans/pyvalidator.py.

ONE KEYWORD TABLE: ``_scalar_keywords`` is the only definition of the
scalar keywords (type, enum, pattern, lengths, format, bounds,
multipleOf, item counts) for every native tier. It reads the instance
through an accessor: ``_TypedValue`` here, which answers from the Spark
type at compile time, and ``variant_native._VariantValue``, which answers
with Variant probes. Typed columns, struct fields, array elements and map
values (``_compile_sub``) and Variant nodes (``variant_native.walk``) all
emit their checks from it.

FAIL-CLOSED CONTRACT (round-1 verdict item 1): ``compile_plan`` never
silently drops a keyword. The native compiler (``_compile_sub``) either
expresses EVERY keyword of a subschema or raises ``_NotNative``; the
caller then routes the whole column through one of two complete paths:

* dynamic JSON string columns → Variant-native bounded unroll
  (plans/variant_native.py) or the Arrow JSON validator;
* any other typed column → an Arrow WRAPPER spec: the value is
  re-serialized per row via ``to_json(struct(col))`` and validated by the
  compiled Python closure validator of the column's subschema — exact
  draft-4 semantics, correct (keyword, instance_path, schema_path)
  triples, no silent under-validation.

Anything the engine cannot express even that way (root-level combinators
whose branches exceed the native set) raises ``UnsupportedSchemaError``
at compile time — a validator that silently passes invalid rows is worse
than one that refuses to compile.

Typed-table null contract (SURVEY.md §7.3), kept by the code that emits
the checks, never by the table: SQL NULL in a typed column or struct
field means the JSON property is ABSENT. Hence `required` fails on NULL,
while every value keyword passes on it. INSIDE typed arrays and map
values (``_compile_sub(json_null=True)``) NULL is JSON null instead:
`type` and `enum` judge it (it passes only "null" and a null member),
every other keyword passes it.
"""

from __future__ import annotations

import json
import operator
import re
from dataclasses import dataclass, field, replace
from functools import cache, cached_property, reduce
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from themis_spark.plans.parser import SchemaRegistry, parse_schema
from themis_spark.plans.pyvalidator import (
    _GLOBAL_FORMATS,
    BUILTIN_FORMATS,
    PyValidator,
    compile_python_validator,
    join_path,
)
from themis_spark.plans import vector_checks
from themis_spark.plans.regex_triage import (
    java_safe_pattern,
    python_pattern,
    re2_safe_pattern,
)

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}
_NUMERIC = _INTEGRAL + (T.FloatType, T.DoubleType, T.DecimalType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)
_STRINGLIKE = (T.StringType, T.TimestampType, T.DateType)

#: inert draft-4 annotations — never produce runtime checks
_ANNOTATIONS = {"id", "title", "description", "definitions", "default"}

#: the keywords of the scalar keyword table (``_scalar_keywords``)
SCALAR_KEYWORDS = frozenset({
    "type", "enum", "pattern", "minLength", "maxLength", "format",
    "minimum", "exclusiveMinimum", "maximum", "exclusiveMaximum",
    "multipleOf", "minItems", "maxItems",
})
_COMBINATORS = {"allOf", "anyOf", "oneOf", "not"}
#: keywords each tier compiles by how it holds an array / an object
_ARRAY_KEYWORDS = {"items", "additionalItems", "uniqueItems"}
_OBJECT_KEYWORDS = {
    "properties", "patternProperties", "additionalProperties",
    "required", "minProperties", "maxProperties", "dependencies",
}

#: keywords that, on a StringType column, flag the column as a DYNAMIC
#: JSON document (json.loads interpretation) rather than a plain string
_JSON_CONTAINER_KEYWORDS = _ARRAY_KEYWORDS | _OBJECT_KEYWORDS | {"minItems", "maxItems"}


class UnsupportedSchemaError(Exception):
    """The schema cannot be compiled against this table at all — raised at
    compile time instead of silently under-validating (fail-closed)."""


class _NotNative(Exception):
    """Internal: this subschema exceeds the native Column set for the
    column's type; the caller must fall back to a complete path."""


@dataclass
class ColumnCheck:
    """One compiled keyword check over one column — the unit that becomes a
    violation row (keyword, instance_path, schema_path) on failure."""

    keyword: str
    instance_path: str
    schema_path: str
    predicate: Column  # True/NULL = pass, False = violation
    detail: Column
    column: str
    #: "native": the predicate runs inside the JVM; "arrow": it calls the
    #: RE2 pattern's pandas UDF, so a projection holding it already runs
    #: Python workers. Checks composed from others inherit "arrow" when
    #: any part has it (``_joint_tier``).
    tier: str = "native"


@dataclass
class ArrowColumnSpec:
    """A column validated on the vectorized Arrow path.

    ``payload`` (optional): expression producing the JSON payload the
    Python validator parses. None = the column itself is the JSON string
    (dynamic-JSON columns); otherwise a ``to_json(struct(col))`` wrapper
    for typed columns whose subschema exceeds the native set.

    ``gate`` (optional): only rows satisfying it carry real payloads into
    the Python batch — the UDF input is NULLed otherwise (hybrid
    native/Arrow execution: the Arrow pass handles just the residue the
    bounded-unroll native compile couldn't express, see
    plans/variant_native.py)."""

    column: str
    validator: PyValidator
    instance_prefix: str
    gate: Column | None = None
    payload: Column | None = None

    def payload_col(self) -> Column:
        return self.payload if self.payload is not None else F.col(self.column)


@dataclass
class CompiledPlan:
    """Driver-side compile artifact (reference EP1 analogue): reusable
    across runs, never shipped as data — only its Column trees and the
    pickled batch validators travel to executors."""

    checks: list[ColumnCheck] = field(default_factory=list)
    arrow_specs: list[ArrowColumnSpec] = field(default_factory=list)
    #: pre-assembled array<violation> columns from the bounded-unroll
    #: native Variant compiler (plans/variant_native.py)
    variant_arrays: list[Column] = field(default_factory=list)
    #: parsed-variant projection aliases: alias -> source column. The
    #: variant checks reference these aliases so the JSON string parses
    #: ONCE per row (materialized VariantType column) instead of once per
    #: probe — callers run ``prepare(df)`` before selecting violations.
    variant_sources: dict = field(default_factory=dict)
    root_uri: str = ""
    columns_needed: set[str] = field(default_factory=set)
    #: StringType columns force-treated as serialized JSON documents
    _json_columns: frozenset = frozenset()

    def prepare(self, df):
        """Attach the parsed-variant columns the compiled checks expect.
        No-op for plans without native variant checks."""
        if not self.variant_sources:
            return df
        return df.withColumns(
            {alias: F.try_parse_json(F.col(src))
             for alias, src in self.variant_sources.items()}
        )

    # -- violation assembly (SURVEY 2(a).27) --------------------------------
    def violation_elements(self) -> list[Column]:
        """One 0-or-1-element array per check. Concatenating these beats
        array_compact(array(...)): array_compact rewrites to a
        higher-order filter, which is CodegenFallback — ONE of those in
        the projection knocks the whole fused pass out of whole-stage
        codegen (measured ~3× slower, interpreted + no subexpr reuse)."""
        empty = F.array().cast(VIOLATION_ARRAY_TYPE)
        els = []
        for c in self.checks:
            failed = ~F.coalesce(c.predicate, F.lit(False))
            els.append(
                F.when(
                    failed,
                    F.array(
                        F.struct(
                            F.lit(c.keyword).alias("keyword"),
                            F.lit(c.instance_path).alias("instance_path"),
                            F.lit(c.schema_path).alias("schema_path"),
                            c.detail.alias("detail"),
                        )
                    ),
                ).otherwise(empty)
            )
        return els

    def native_violations_col(self) -> Column:
        els = self.violation_elements()
        if not els:
            return F.lit([]).cast(VIOLATION_ARRAY_TYPE)
        return F.concat(*els)

    def violations_col(self, include_gated_arrow: bool = True) -> Column:
        """Full violations array: native checks ++ Arrow-path checks,
        composed in ONE select (single fused pass per partition).

        ``include_gated_arrow=False`` omits the gate-guarded Arrow specs
        (the deep-recursion residue): callers then validate the rows
        ``residual_gate()`` selects in a separate job, so a main scan
        without other Python never launches Python workers on clean
        data (see operators.validate.annotate)."""
        col = self.native_violations_col()
        for arr in self.variant_arrays:
            col = F.concat(col, arr)
        for spec in self.arrow_specs:
            if spec.gate is not None and not include_gated_arrow:
                continue
            from themis_spark.plans.arrow_validators import (
                decode_violations,
                violations_pandas_udf,
            )

            udf = violations_pandas_udf(spec.validator, spec.instance_prefix)
            payload = (
                F.when(spec.gate, spec.payload_col())
                if spec.gate is not None
                else spec.payload_col()
            )
            col = F.concat(col, decode_violations(udf(payload)))
        return col

    @property
    def main_calls_python(self) -> bool:
        """Does the main projection (``violations_col(False)``) already
        call Python: an Arrow-tier check or an ungated Arrow spec? Read
        from the tiers compile recorded, never from the Column trees."""
        return (any(c.tier == "arrow" for c in self.checks)
                or any(s.gate is None for s in self.arrow_specs))

    def residual_gate(self) -> Column | None:
        """Row predicate selecting the Arrow residue (rows deeper than
        the variant unroll); None when no gated spec exists."""
        gates = [s.gate for s in self.arrow_specs if s.gate is not None]
        if not gates:
            return None
        out = F.coalesce(gates[0], F.lit(False))
        for g in gates[1:]:
            out = out | F.coalesce(g, F.lit(False))
        return out


VIOLATION_STRUCT_TYPE = T.StructType(
    [
        T.StructField("keyword", T.StringType()),
        T.StructField("instance_path", T.StringType()),
        T.StructField("schema_path", T.StringType()),
        T.StructField("detail", T.StringType()),
    ]
)
VIOLATION_ARRAY_TYPE = T.ArrayType(VIOLATION_STRUCT_TYPE)


#: the Spark types whose values always have each JSON type
_JSON_TYPES = {
    "string": _STRINGLIKE, "integer": _INTEGRAL, "number": _NUMERIC,
    "boolean": (T.BooleanType,), "array": (T.ArrayType,),
    "object": (T.StructType, T.MapType),
}


def _detail(col: Column) -> Column:
    return F.substring(col.cast("string"), 1, 64)


def _enum_numbers(nums: list, dt: T.DataType | None) -> list:
    """The numeric enum members a value of Spark type ``dt`` can equal, as
    literals of that type. Members of the other JSON types never come
    here: ``In`` would cast across type families, and the spec says
    ``"1"`` ≠ ``1`` and ``true`` ≠ ``1``."""
    bits = _INT_BITS.get(type(dt))
    if bits:
        # an integer outside the column's range equals none of its
        # values, and as a literal it would overflow the column type
        return [m for m in nums if not isinstance(m, int)
                or -(1 << bits - 1) <= m < 1 << bits - 1]
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # a double equals an integer only if it holds it exactly, and
        # NaN equals nothing
        return [float(m) for m in nums if _exact_double(m)]
    return nums


def _exact_double(m) -> bool:
    try:
        return float(m) == m
    except OverflowError:
        return False


def member_of(col: Column, members: list) -> Column:
    """``col IN (members)`` as one native Catalyst ``In`` (optimized to
    ``InSet``, a hash set shipped with each task, past 10 members). The
    member list crosses py4j as one JSON string, so building the Column
    costs a constant number of round trips where ``Column.isin`` costs
    about four per member. Works on lambda variables too. An empty list
    matches nothing."""
    if not members:
        return F.lit(False)
    jvm = SparkContext._active_spark_context._jvm  # noqa: SLF001
    jackson = jvm.com.fasterxml.jackson
    # json.dumps writes a non-finite float as a bare NaN or Infinity
    mapper = jackson.databind.ObjectMapper().configure(
        getattr(jackson.core, "JsonParser$Feature").ALLOW_NON_NUMERIC_NUMBERS, True)
    jlist = mapper.readValue(json.dumps(members),
                             jvm.java.lang.Class.forName("java.util.List"))
    return Column(col._jc.isInCollection(jlist))  # noqa: SLF001


def _str_ops_col(col: Column, dt: T.DataType) -> Column:
    """String-keyword operand: Timestamp/Date columns compare as their
    canonical string form — EXPLICIT cast (ANSI mode rejects the implicit
    timestamp→string coercion rlike/length would need)."""
    return col if isinstance(dt, T.StringType) else col.cast("string")


def _joint_tier(tiers) -> str:
    """Tier of a check composed from parts of the given tiers."""
    return "arrow" if "arrow" in tiers else "native"


def _and_all(preds: list[Column]) -> Column:
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


def _or_all(preds: list[Column]) -> Column:
    if not preds:
        return F.lit(False)
    return reduce(lambda a, b: a | b, preds)


# Java-regex format table (draft-4 validation §7 built-ins minus date-time,
# which combines a strict ISO regex with try_to_timestamp). These align
# with the Python table in pyvalidator.py for well-formed inputs; the
# (documented) native-vs-Python divergence is exotic-but-syntactically-odd
# strings only (e.g. ipaddress module quirks).
_IPV4_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
_IPV4_RE = rf"^({_IPV4_OCTET}\.){{3}}{_IPV4_OCTET}$"
_H16 = "[0-9A-Fa-f]{1,4}"
_IPV6_RE = (
    "^("
    f"({_H16}:){{7}}{_H16}"
    f"|({_H16}:){{1,7}}:"
    f"|({_H16}:){{1,6}}(:{_H16}){{1}}"
    f"|({_H16}:){{1,5}}(:{_H16}){{1,2}}"
    f"|({_H16}:){{1,4}}(:{_H16}){{1,3}}"
    f"|({_H16}:){{1,3}}(:{_H16}){{1,4}}"
    f"|({_H16}:){{1,2}}(:{_H16}){{1,5}}"
    f"|{_H16}:(:{_H16}){{1,6}}"
    f"|:((:{_H16}){{1,7}}|:)"
    f"|({_H16}:){{1,6}}{_IPV4_OCTET}(\\.{_IPV4_OCTET}){{3}}"
    f"|({_H16}:){{1,5}}:{_IPV4_OCTET}(\\.{_IPV4_OCTET}){{3}}"
    f"|::(({_H16}:){{0,5}})?{_IPV4_OCTET}(\\.{_IPV4_OCTET}){{3}}"
    ")(%[^%]+)?$"  # RFC 4007 zone id — python ipaddress accepts it
)
_FORMAT_REGEX = {
    "email": r"^[^@\s]+@[^@\s]+\.[^@\s]+$",
    "hostname": r"^[a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?(\.[a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)*$",
    "ipv4": _IPV4_RE,
    "ipv6": _IPV6_RE,
    "uri": r"^[a-zA-Z][a-zA-Z0-9+.-]*:",
}
_DATETIME_NATIVE_RE = (
    r"^\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)


# ---------------------------------------------------------------------------
# the scalar keyword table: one definition per keyword for every native tier
# ---------------------------------------------------------------------------

# A condition is a Column, or a Python bool when compile time decides it:
# these fold the constants so that a guard which always holds emits nothing.

def _and(a: Column | bool, b: Column | bool) -> Column | bool:
    if a is False or b is False:
        return False
    if a is True:
        return b
    return a if b is True else a & b


def _or(a: Column | bool, b: Column | bool) -> Column | bool:
    if a is True or b is True:
        return True
    if a is False:
        return b
    return a if b is False else a | b


def _not(a: Column | bool) -> Column | bool:
    return (not a) if isinstance(a, bool) else ~a


class _TypedValue:
    """The table's accessor over a typed Spark value ``v`` of type ``dt``.
    It answers from the Spark type at compile time, so a guard is a Python
    constant. Where NULL is JSON null (``json_null``), ``v IS NOT NULL``
    joins every guard but that of "null"; elsewhere a NULL value is absent
    and the emitter passes it before any check."""

    def __init__(self, v: Column, dt: T.DataType, json_null: bool):
        self.v, self.dt, self.json_null = v, dt, json_null

    @cached_property
    def present(self) -> Column | bool:
        return self.v.isNotNull() if self.json_null else True

    @cached_property
    def text(self) -> Column:
        return _str_ops_col(self.v, self.dt)

    def string(self, cast: bool = True) -> tuple:
        """(guard, text). With ``cast`` a Timestamp or Date value reads as
        its canonical text; without it only a StringType value counts."""
        if isinstance(self.dt, _STRINGLIKE if cast else T.StringType):
            return self.present, self.text
        return False, None

    def number(self) -> tuple:
        """(guard, value, the value's Spark type)."""
        if isinstance(self.dt, _NUMERIC):
            return self.present, self.v, self.dt
        return False, None, None

    def boolean(self) -> tuple:
        if isinstance(self.dt, T.BooleanType):
            return self.present, self.v
        return False, None

    def array_size(self) -> tuple:
        if isinstance(self.dt, T.ArrayType):
            return self.present, F.size(self.v)
        return False, None

    def has_type(self, t: str) -> Column | bool:
        if t == "null":
            return self.v.isNull() if self.json_null else False
        if isinstance(self.dt, _JSON_TYPES.get(t, ())):
            return self.present
        if t == "integer" and isinstance(self.dt, _FRACTIONAL):
            # draft-4: 1.0 IS an integer — a fractional value can be one
            return _and(self.present, self.v == F.floor(self.v))
        return False


def _scalar_keywords(node: dict, value) -> list[tuple[str, str, Column | bool, str]]:
    """``(keyword, schema-path leaf, fail condition, tier)`` for each
    scalar keyword of ``node``: the one definition of these keywords for
    every native tier. ``value`` is the tier's accessor (``_TypedValue``
    or ``variant_native._VariantValue``). It answers four questions: is it
    a string and what is its text, is it a number (or boolean) and what is
    its value, is it an array and what is its size, does it have JSON
    type *t*. A fail condition holds only for a value that fails; a
    keyword that cannot fail on this value yields nothing. The tier is
    "native", or "arrow" for the RE2 pattern predicate, which calls
    Python: the emitter decides where that may run. Raises _NotNative
    for what no native tier expresses."""
    out: list[tuple[str, str, Column | bool, str]] = []

    def add(keyword: str, leaf: str, fail: Column | bool, tier: str = "native"):
        if fail is not False:
            out.append((keyword, leaf, fail, tier))

    if "type" in node:
        types = node["type"] if isinstance(node["type"], list) else [node["type"]]
        add("type", "type", _not(reduce(_or, map(value.has_type, types), False)))

    if "enum" in node:
        members = node["enum"]
        if any(isinstance(m, (list, dict)) for m in members):
            raise _NotNative("non-scalar enum members need deep equality")
        strs = [m for m in members if isinstance(m, str)]
        nums = [m for m in members
                if isinstance(m, (int, float)) and not isinstance(m, bool)]
        bools = [m for m in members if isinstance(m, bool)]
        match = False
        if strs:
            match = _or(match, _member(value.string(), strs))
        if nums:
            guard, num, dt = value.number()
            match = _or(match, _member((guard, num), _enum_numbers(nums, dt)))
        if bools:
            match = _or(match, _member(value.boolean(), bools))
        if any(m is None for m in members):
            match = _or(match, value.has_type("null"))
        add("enum", "enum", _not(match))

    if "pattern" in node:
        guard, text = value.string()
        if guard is not False:
            jp = java_safe_pattern(node["pattern"])
            if jp is not None:
                add("pattern", "pattern", _and(guard, ~text.rlike(jp)))
            else:
                # middle tier (BASELINE.json north star: "regex via
                # pyarrow.compute"): Java-incompatible but RE2-safe
                # patterns evaluate vectorized in Arrow C++ — only the
                # residue (backrefs, lookaround, unicode shorthands)
                # falls through to the per-value Python path
                r2 = re2_safe_pattern(node["pattern"])
                if r2 is None:
                    raise _NotNative(f"pattern dialect: {node['pattern']!r}")
                matcher = vector_checks.re2_pattern_predicate(r2)
                add("pattern", "pattern", _and(guard, ~matcher(text)), "arrow")
    for kw, too_far in (("minLength", operator.lt), ("maxLength", operator.gt)):
        if kw in node:
            guard, text = value.string()
            if guard is not False:
                add(kw, kw, _and(guard, too_far(F.length(text), node[kw])))
    if "format" in node:
        # a real string only: a Timestamp or Date read as text is none
        guard, text = value.string(cast=False)
        if guard is not False:
            add("format", "format", _and(guard, _not(_format_ok(node["format"], text))))

    for bound, excl_kw, below, at_or_below in (
            ("minimum", "exclusiveMinimum", operator.lt, operator.le),
            ("maximum", "exclusiveMaximum", operator.gt, operator.ge)):
        # an exclusive modifier without its bound is inert
        if bound in node:
            guard, num, _ = value.number()
            if guard is not False:
                excl = bool(node.get(excl_kw, False))
                add(excl_kw if excl else bound, bound,
                    _and(guard, (at_or_below if excl else below)(num, node[bound])))
    if "multipleOf" in node:
        guard, num, dt = value.number()
        if guard is not False:
            add("multipleOf", "multipleOf",
                _and(guard, _not_multiple(num, dt, node["multipleOf"])))

    for kw, too_far in (("minItems", operator.lt), ("maxItems", operator.gt)):
        if kw in node:
            guard, size = value.array_size()
            if guard is not False:
                add(kw, kw, _and(guard, too_far(size, node[kw])))
    return out


def _member(answer: tuple, members: list) -> Column | bool:
    """``guard AND value IN members`` for an accessor's (guard, value)."""
    guard, v = answer
    if guard is False or not members:
        return False
    return _and(guard, member_of(v, members))


def _format_ok(fmt: str, text: Column) -> Column | bool:
    """A string's native format check. An unknown format passes (draft-4
    SHOULD: ignored, as in pyvalidator)."""
    if fmt in _GLOBAL_FORMATS:
        raise _NotNative(f"custom format {fmt!r} runs on the Arrow path")
    if fmt == "date-time":
        return text.rlike(_DATETIME_NATIVE_RE) & F.try_to_timestamp(text).isNotNull()
    if fmt in _FORMAT_REGEX:
        return text.rlike(_FORMAT_REGEX[fmt])
    if fmt in BUILTIN_FORMATS:
        raise _NotNative(f"builtin format {fmt!r} has no native regex")
    return True


def _not_multiple(num: Column, dt: T.DataType, n) -> Column:
    if isinstance(n, int) and isinstance(dt, _INTEGRAL):
        return F.pmod(num, F.lit(n)) != 0
    # exact decimal modulus defeats binary-float noise. A value the
    # decimal cannot hold (try_cast gives NULL) is no multiple, as in
    # pyvalidator, whose Decimal arithmetic overflows on it
    scale = max(len(str(n).split(".")[-1]) if "." in str(n) else 0, 6)
    dec = T.DecimalType(38, scale + 6)
    return F.coalesce(F.pmod(num.try_cast(dec), F.lit(n).cast(dec)) != 0, F.lit(True))


# ---------------------------------------------------------------------------
# the universal native subschema compiler
# ---------------------------------------------------------------------------


def _compile_sub(
    col: Column,
    node: Any,
    dt: T.DataType,
    spath: str,
    ipath: str,
    colname: str,
    reg: SchemaRegistry,
    base: str,
    stack: tuple = (),
    json_null: bool = False,
) -> list[ColumnCheck]:
    """Compile ``node`` applied to the value ``col`` of Spark type ``dt``.

    COMPLETE or raises _NotNative — never drops a keyword (fail-closed).
    The null contract is the caller's. By default NULL means ABSENT
    (columns, struct fields) and every check passes on it. With
    ``json_null`` (array elements, map values) NULL is JSON null, which
    the table's accessor hands to `type` and `enum`; the value may then
    be a lambda variable, so only the scalar keywords and the
    combinators compile, all on the native tier."""
    if not isinstance(node, dict) or not node:
        return []
    if "$ref" in node:
        # draft-4: $ref siblings are ignored
        sub, nb, canon = reg.resolve(node["$ref"], base)
        if id(sub) in stack:
            raise _NotNative("cyclic $ref on typed column")
        return _compile_sub(col, sub, dt, canon, ipath, colname, reg, nb,
                            stack + (id(sub),), json_null)

    # array (object) keywords are vacuous on a typed value that is no
    # array (object), but a StringType column could hold JSON:
    # compile_plan routes those to the dynamic path before calling us
    handled = _ANNOTATIONS | SCALAR_KEYWORDS | _COMBINATORS
    if not isinstance(dt, T.StringType):
        if not (json_null and isinstance(dt, T.ArrayType)):
            handled |= _ARRAY_KEYWORDS
        if not (json_null and isinstance(dt, (T.StructType, T.MapType))):
            handled |= _OBJECT_KEYWORDS
    extra = set(node) - handled
    if extra:
        raise _NotNative(f"keywords {sorted(extra)} on {dt.simpleString()}")

    out: list[ColumnCheck] = []
    absent = cache(col.isNull)
    detail = cache(lambda: _detail(col))

    def add(keyword: str, ok: Column | bool, leaf: str | None = None,
            tier: str = "native") -> None:
        if ok is True:
            return
        pred = ok if json_null else _or(absent(), ok)
        out.append(ColumnCheck(
            keyword, ipath, f"{spath}/{leaf or keyword}",
            F.lit(False) if pred is False else pred, detail(), colname, tier))

    for kw, leaf, fail, tier in _scalar_keywords(node, _TypedValue(col, dt, json_null)):
        if json_null and tier != "native":
            raise _NotNative(f"{kw} on the {tier} tier cannot run in a lambda")
        add(kw, _not(fail), leaf, tier)

    if isinstance(dt, T.ArrayType) and not json_null:
        el_dt = dt.elementType

        def each_element(arr: Column, sub: Any, sp: str) -> list[ColumnCheck]:
            """The checks of element schema ``sub``, each passing when no
            element of ``arr`` fails it: one violation per array and
            keyword, at the array path. pyspark gives every lambda a fresh
            variable, so each check's ``forall`` compiles ``sub`` again
            over its own; the first element names the checks."""
            def checks_of(x: Column) -> list[ColumnCheck]:
                return _compile_sub(x, sub, el_dt, sp, ipath, colname, reg,
                                    base, stack, json_null=True)

            return [replace(c, predicate=absent() | F.forall(arr, _nth_ok(checks_of, i)),
                            detail=detail())
                    for i, c in enumerate(checks_of(F.get(arr, 0)))]

        if node.get("uniqueItems") is True:
            add("uniqueItems", F.size(F.array_distinct(col)) == F.size(col))
        items = node.get("items")
        if isinstance(items, dict):
            out.extend(each_element(col, items, f"{spath}/items"))
        elif isinstance(items, list):
            # per-index paths are static only on the tuple form
            for i, isub in enumerate(items):
                within = F.size(col) > i
                for c in _compile_sub(F.get(col, i), isub, el_dt, f"{spath}/items/{i}",
                                      f"{ipath}[{i}]", colname, reg, base, stack,
                                      json_null=True):
                    out.append(replace(c, predicate=absent() | ~within
                                       | F.coalesce(c.predicate, F.lit(True))))
            addl = node.get("additionalItems", True)
            if addl is False:
                add("additionalItems", F.size(col) <= len(items))
            elif isinstance(addl, dict):
                extras = F.slice(col, len(items) + 1,
                                 F.greatest(F.size(col) - len(items), F.lit(0)))
                out.extend(each_element(extras, addl, f"{spath}/additionalItems"))

    if isinstance(dt, T.StructType) and not json_null:
        out.extend(_compile_struct(col, node, dt, spath, ipath, colname,
                                   reg, base, stack))
    elif isinstance(dt, T.MapType) and not json_null:
        out.extend(_compile_map(col, node, dt, spath, ipath, colname,
                                reg, base, stack))

    # ---- combinators (any type) ---------------------------------------------
    for i, b in enumerate(node.get("allOf", ())):
        out.extend(_compile_sub(col, b, dt, f"{spath}/allOf/{i}", ipath,
                                colname, reg, base, stack, json_null))

    def branch(b: Any, sp: str) -> tuple[Column, str]:
        return _valid_pred(col, b, dt, sp, ipath, colname, reg, base, stack, json_null)

    if "anyOf" in node:
        bs = [branch(b, f"{spath}/anyOf/{i}") for i, b in enumerate(node["anyOf"])]
        add("anyOf", _or_all([p for p, _ in bs]), tier=_joint_tier([t for _, t in bs]))
    if "oneOf" in node:
        bs = [branch(b, f"{spath}/oneOf/{i}") for i, b in enumerate(node["oneOf"])]
        hits = sum((p.cast("int") for p, _ in bs), F.lit(0))
        add("oneOf", hits == 1, tier=_joint_tier([t for _, t in bs]))
    if "not" in node:
        p, tier = branch(node["not"], f"{spath}/not")
        add("not", ~p, tier=tier)
    return out


def _nth_ok(checks_of: Callable[[Column], list[ColumnCheck]], i: int):
    """``x -> check i of checks_of(x) passes``, a strictly SINGLE-parameter
    lambda: pyspark binds a second lambda parameter to the array index."""
    def ok(x: Column) -> Column:
        return F.coalesce(checks_of(x)[i].predicate, F.lit(True))

    return ok


def _valid_pred(col, node, dt, spath, ipath, colname, reg, base,
                stack, json_null=False) -> tuple[Column, str]:
    """'value satisfies node' as one Column (three-valued-safe): the
    conjunction of the compiled checks with NULL coerced to pass, and
    the joint tier of those checks."""
    checks = _compile_sub(col, node, dt, spath, ipath, colname, reg, base,
                          stack, json_null)
    return (_and_all([F.coalesce(c.predicate, F.lit(True)) for c in checks]),
            _joint_tier([c.tier for c in checks]))


def _compile_struct(col, node, dt: T.StructType, spath, ipath, colname,
                    reg, base, stack) -> list[ColumnCheck]:
    """Object keywords over a typed StructType column (SURVEY 2(a).13):
    checks address nested fields via getField — still pure Column
    expressions, still one codegen stage. A NULL parent struct means the
    object is absent, so every nested check passes."""
    out: list[ColumnCheck] = []
    fields = {f.name: f.dataType for f in dt.fields}
    parent_absent = col.isNull()
    req = list(node.get("required", []) or [])
    props = node.get("properties", {}) or {}
    pat_props = node.get("patternProperties", {}) or {}

    for k in req:
        if k in fields:
            out.append(ColumnCheck(
                "required", f"{ipath}.{k}", f"{spath}/required",
                parent_absent | col.getField(k).isNotNull(),
                F.lit("<absent>"), colname))
        else:
            out.append(ColumnCheck(
                "required", f"{ipath}.{k}", f"{spath}/required",
                parent_absent, F.lit("<missing field>"), colname))

    for k, ksub in props.items():
        if k not in fields:
            continue
        out.extend(_compile_sub(col.getField(k), ksub, fields[k],
                                f"{spath}/properties/{k}", f"{ipath}.{k}",
                                colname, reg, base, stack))
    for rx, psub in pat_props.items():
        try:
            crx = re.compile(python_pattern(rx))
        except re.error as exc:
            raise _NotNative(f"bad patternProperties regex {rx!r}") from exc
        for k in fields:
            if crx.search(k):
                out.extend(_compile_sub(col.getField(k), psub, fields[k],
                                        f"{spath}/patternProperties/{rx}",
                                        f"{ipath}.{k}", colname, reg, base, stack))

    addl = node.get("additionalProperties", True)
    declared = set(props)
    pat_res = [re.compile(python_pattern(rx)) for rx in pat_props]
    if addl is not True:
        for k in fields:
            if k in declared or any(crx.search(k) for crx in pat_res):
                continue
            if addl is False:
                out.append(ColumnCheck(
                    "additionalProperties", f"{ipath}.{k}",
                    f"{spath}/additionalProperties",
                    parent_absent | col.getField(k).isNull(),
                    F.lit("<extra key>"), colname))
            else:
                out.extend(_compile_sub(col.getField(k), addl, fields[k],
                                        f"{spath}/additionalProperties",
                                        f"{ipath}.{k}", colname, reg, base, stack))

    if "maxProperties" in node or "minProperties" in node:
        present = sum(
            (F.when(col.getField(f.name).isNotNull(), 1).otherwise(0)
             for f in dt.fields),
            F.lit(0),
        )
        if "maxProperties" in node:
            out.append(ColumnCheck("maxProperties", ipath, f"{spath}/maxProperties",
                                   parent_absent | (present <= node["maxProperties"]),
                                   present.cast("string"), colname))
        if "minProperties" in node:
            out.append(ColumnCheck("minProperties", ipath, f"{spath}/minProperties",
                                   parent_absent | (present >= node["minProperties"]),
                                   present.cast("string"), colname))

    for k, dep in (node.get("dependencies") or {}).items():
        trigger = (col.getField(k).isNotNull() if k in fields else F.lit(False))
        if isinstance(dep, dict):
            sub_checks = _compile_sub(col, dep, dt, f"{spath}/dependencies/{k}",
                                      ipath, colname, reg, base, stack)
            for c in sub_checks:
                out.append(ColumnCheck(
                    c.keyword, c.instance_path, c.schema_path,
                    ~trigger | F.coalesce(c.predicate, F.lit(True)),
                    c.detail, colname, c.tier))
        else:
            dl = [dep] if isinstance(dep, str) else list(dep)
            for dk in dl:
                dk_present = (col.getField(dk).isNotNull()
                              if dk in fields else F.lit(False))
                out.append(ColumnCheck(
                    "dependencies", f"{ipath}.{dk}", f"{spath}/dependencies",
                    parent_absent | ~trigger | dk_present,
                    F.lit("<dependency>"), colname))
    return out


def _compile_map(col, node, dt: T.MapType, spath, ipath, colname,
                 reg, base, stack) -> list[ColumnCheck]:
    """Object keywords over open-key MapType columns (SURVEY 2(a).12/14/15)
    via higher-order functions — map_contains_key / size / forall."""
    out: list[ColumnCheck] = []
    absent = col.isNull()
    v_dt = dt.valueType

    def value_ok(v: Column, sub: Any, sp: str) -> Column:
        """A map value satisfies ``sub``, where NULL is JSON null."""
        return _valid_pred(v, sub, v_dt, sp, ipath, colname, reg, base, stack,
                           json_null=True)[0]

    for k in node.get("required", []) or []:
        out.append(ColumnCheck("required", f"{ipath}.{k}", f"{spath}/required",
                               absent | F.map_contains_key(col, F.lit(k)),
                               F.lit("<absent>"), colname))
    if "minProperties" in node:
        out.append(ColumnCheck("minProperties", ipath, f"{spath}/minProperties",
                               absent | (F.size(col) >= node["minProperties"]),
                               F.size(col).cast("string"), colname))
    if "maxProperties" in node:
        out.append(ColumnCheck("maxProperties", ipath, f"{spath}/maxProperties",
                               absent | (F.size(col) <= node["maxProperties"]),
                               F.size(col).cast("string"), colname))

    declared = set(node.get("properties", {}) or {})
    pat_specs = node.get("patternProperties", {}) or {}
    for rx in pat_specs:
        if java_safe_pattern(rx) is None:
            raise _NotNative(f"patternProperties regex dialect {rx!r}")
    addl = node.get("additionalProperties", True)
    if addl is False:
        allowed_keys = sorted(declared)
        pat_list = [java_safe_pattern(rx) for rx in pat_specs]

        def _covered(k):  # MUST stay single-parameter (pyspark HOF arity)
            p = member_of(k, allowed_keys)
            for rx in pat_list:
                p = p | k.rlike(rx)
            return p

        out.append(ColumnCheck("additionalProperties", ipath,
                               f"{spath}/additionalProperties",
                               absent | F.forall(F.map_keys(col), _covered),
                               F.lit("<extra key>"), colname))
    elif isinstance(addl, dict):
        allowed_keys = sorted(declared)
        pat_list = [java_safe_pattern(rx) for rx in pat_specs]
        ak, pl = allowed_keys, pat_list

        def _extra_ok(e):  # MUST stay single-parameter (pyspark HOF arity)
            k = e.getField("key")
            known = member_of(k, ak)
            for rx in pl:
                known = known | k.rlike(rx)
            return F.when(known, F.lit(True)).otherwise(
                value_ok(e.getField("value"), addl, f"{spath}/additionalProperties"))

        out.append(ColumnCheck("additionalProperties", ipath,
                               f"{spath}/additionalProperties",
                               absent | F.forall(F.map_entries(col), _extra_ok),
                               F.lit("<extra value>"), colname))

    # properties / patternProperties value checks (full scalar keyword set,
    # fail-closed: anything richer raises _NotNative → Arrow wrapper)
    for k, vsub in (node.get("properties", {}) or {}).items():
        has_k = F.map_contains_key(col, F.lit(k))
        for c in _compile_sub(F.element_at(col, F.lit(k)), vsub, v_dt,
                              f"{spath}/properties/{k}", f"{ipath}.{k}", colname,
                              reg, base, stack, json_null=True):
            out.append(replace(c, predicate=absent | ~has_k
                               | F.coalesce(c.predicate, F.lit(True))))
    for rx, vsub in pat_specs.items():
        if not isinstance(vsub, dict) or not vsub:
            continue

        def _mk_entry_ok(jrx, vsub, sp):
            def entry_ok(e):  # single-parameter (pyspark HOF arity)
                return F.when(e.getField("key").rlike(jrx),
                              value_ok(e.getField("value"), vsub, sp)).otherwise(F.lit(True))
            return entry_ok

        entry_ok = _mk_entry_ok(java_safe_pattern(rx), vsub,
                                f"{spath}/patternProperties/{rx}")
        out.append(ColumnCheck(
            "patternProperties", ipath, f"{spath}/patternProperties/{rx}",
            absent | F.forall(F.map_entries(col), entry_ok),
            F.lit("<pattern value>"), colname))

    for k, dep in (node.get("dependencies") or {}).items():
        trigger = F.coalesce(F.map_contains_key(col, F.lit(k)), F.lit(False))
        if isinstance(dep, dict):
            # _compile_sub, not _compile_map: the dep schema gets the full
            # fail-closed keyword check, not just the object subset
            sub_checks = _compile_sub(col, dep, dt, f"{spath}/dependencies/{k}",
                                      ipath, colname, reg, base, stack)
            for c in sub_checks:
                out.append(ColumnCheck(
                    c.keyword, c.instance_path, c.schema_path,
                    ~trigger | F.coalesce(c.predicate, F.lit(True)),
                    c.detail, colname, c.tier))
        else:
            dl = [dep] if isinstance(dep, str) else list(dep)
            for dk in dl:
                out.append(ColumnCheck(
                    "dependencies", f"{ipath}.{dk}", f"{spath}/dependencies",
                    absent | ~trigger | F.map_contains_key(col, F.lit(dk)),
                    F.lit("<dependency>"), colname))
    return out


# ---------------------------------------------------------------------------
# dynamic-JSON detection & Arrow wrapper fallback
# ---------------------------------------------------------------------------


def _string_is_dynamic(sub: Any, reg: SchemaRegistry, base: str,
                       stack: tuple = ()) -> bool:
    """Does this subschema, applied to a StringType column, demand JSON
    interpretation (the column holds a serialized document)? Container
    keywords or container types anywhere reachable say yes; plain string
    scalars stay on the raw-string contract."""
    if not isinstance(sub, dict):
        return False
    if "$ref" in sub:
        try:
            target, nb, _ = reg.resolve(sub["$ref"], base)
        except Exception:
            return True  # unresolvable here → let the dynamic path report
        if id(target) in stack:
            return True  # cyclic → dynamic by definition
        return _string_is_dynamic(target, reg, nb, stack + (id(target),))
    if set(sub) & _JSON_CONTAINER_KEYWORDS:
        return True
    types = sub.get("type")
    if types is not None:
        tlist = types if isinstance(types, list) else [types]
        if any(t in ("object", "array") for t in tlist):
            return True
    if any(isinstance(m, (list, dict)) for m in sub.get("enum", []) or []):
        return True
    for comb in ("allOf", "anyOf", "oneOf"):
        for b in sub.get(comb, []) or []:
            if _string_is_dynamic(b, reg, base, stack):
                return True
    if "not" in sub and _string_is_dynamic(sub["not"], reg, base, stack):
        return True
    return False


def _arrow_wrapper_spec(name: str, sub: Any, reg: SchemaRegistry,
                        root_uri: str, spath: str) -> ArrowColumnSpec:
    """Complete fallback for a typed column whose subschema exceeds the
    native set: serialize the single value per row (``to_json(struct)``,
    still vectorized JVM-side) and run the compiled Python closure
    validator on the Arrow path, with the column's own schema path
    ``spath`` (a column reached through patternProperties or
    additionalProperties reports it, as pyvalidator over the row does).
    A NULL column serializes to ``{}`` (ignoreNullFields), i.e. ABSENT,
    preserving the typed null contract."""
    inner = compile_python_validator(sub, registry=reg, base_uri=root_uri,
                                     schema_path=spath)

    def check(doc: dict, ipath: str, out: list) -> None:
        if name in doc:
            out.extend(inner.validate(doc[name], ipath))

    payload = F.to_json(F.struct(F.col(name).alias(name)))
    return ArrowColumnSpec(column=name, validator=PyValidator(check, sub, inner.root_uri),
                           instance_prefix=join_path("$", name), payload=payload)


# ---------------------------------------------------------------------------
# defaults / enum-as-table helpers (SURVEY 2(a).26, 2(a).2)
# ---------------------------------------------------------------------------


def defaults_projection(schema: dict, df_columns: list[str]) -> list[Column]:
    """Native `default` insertion (reference: Themis enable_defaults,
    SURVEY 2(a).26): a coalesce projection emitted BEFORE the validation
    pass. Ours never mutates the input table — callers select these
    columns into a derived frame."""
    out: list[Column] = []
    props = schema.get("properties", {}) or {}
    for name in df_columns:
        sub = props.get(name)
        if isinstance(sub, dict) and "default" in sub:
            out.append(F.coalesce(F.col(name), F.lit(sub["default"])).alias(name))
        else:
            out.append(F.col(name))
    return out


# ---------------------------------------------------------------------------
# table-level compile (reference EP1 analogue)
# ---------------------------------------------------------------------------

_ROOT_KEYWORDS = ({"type", "properties", "required", "dependencies",
                   "patternProperties", "additionalProperties",
                   "minProperties", "maxProperties",
                   "allOf", "anyOf", "oneOf", "not"} | _ANNOTATIONS)


def compile_plan(
    schema: dict,
    table_schema: T.StructType,
    registry: SchemaRegistry | None = None,
    variant_unroll_depth: int = 3,
    json_columns: set | frozenset | None = None,
) -> CompiledPlan:
    """Compile a root object schema against a typed table's StructType.

    Each top-level property maps to a column. Native-expressible
    subschemas become Column checks; dynamic JSON string columns go to
    the Variant-native/Arrow path; every other inexpressible subschema
    gets a complete Arrow wrapper spec (fail-closed — see module
    docstring). Unsupported ROOT keywords raise UnsupportedSchemaError.

    ``json_columns``: StringType columns to ALWAYS treat as serialized
    JSON documents. By default a string column is treated as a plain
    string value unless its subschema mentions container keywords/types
    (``_string_is_dynamic``) — a column holding e.g. ``"30"`` that must
    validate as the NUMBER 30 is ambiguous and needs this declaration.
    """
    registry, root_uri = parse_schema(schema, registry)
    if schema.get("type") not in (None, "object"):
        raise ValueError("table-level compile expects a root object schema")

    unknown_root = set(schema) - _ROOT_KEYWORDS
    if unknown_root:
        raise UnsupportedSchemaError(
            f"root keywords {sorted(unknown_root)} are not supported over "
            f"typed tables (fail-closed; wrap the dynamic part in a JSON column)")

    plan = CompiledPlan(root_uri=root_uri)
    fields = {f.name: f.dataType for f in table_schema.fields}
    plan._json_columns = frozenset(json_columns or ())
    _compile_object_level(schema, f"{root_uri}#", plan, fields, registry,
                          root_uri, variant_unroll_depth)
    return plan


def _compile_object_level(node: dict, spath: str, plan: CompiledPlan,
                          fields: dict, registry: SchemaRegistry,
                          root_uri: str, unroll: int) -> None:
    """One object level of the ROOT schema applied to table columns.
    Recurses for root allOf branches; anyOf/oneOf/not compose natively
    via row predicates."""
    required = set(node.get("required", []) or [])
    props: dict[str, Any] = dict(node.get("properties", {}) or {})
    for name in sorted(required - set(props)):
        props[name] = {}

    for name, sub in props.items():
        _compile_column(name, sub, name in required, spath, plan, fields,
                        registry, root_uri, unroll)

    # patternProperties at root: compile-time name matching over columns
    for rx, psub in (node.get("patternProperties") or {}).items():
        try:
            crx = re.compile(python_pattern(rx))
        except re.error as exc:
            raise UnsupportedSchemaError(f"bad root patternProperties {rx!r}") from exc
        for name in fields:
            if crx.search(name) and name not in props:
                _compile_column(name, psub, False,
                                spath, plan, fields, registry, root_uri, unroll,
                                spath_leaf=f"patternProperties/{rx}")

    # additionalProperties at root: undeclared columns must be absent /
    # match the additional schema (a typed table CAN have extra columns —
    # they must be NULL for additionalProperties=false rows to validate)
    addl = node.get("additionalProperties", True)
    if addl is not True:
        pat_res = [re.compile(python_pattern(rx))
                   for rx in (node.get("patternProperties") or {})]
        for name in fields:
            if name in props or any(crx.search(name) for crx in pat_res):
                continue
            if addl is False:
                plan.checks.append(ColumnCheck(
                    "additionalProperties", f"$.{name}",
                    f"{spath}/additionalProperties",
                    F.col(name).isNull(), F.lit("<extra column>"), name))
                plan.columns_needed.add(name)
            else:
                _compile_column(name, addl, False, spath, plan, fields,
                                registry, root_uri, unroll,
                                spath_leaf="additionalProperties")

    if "minProperties" in node or "maxProperties" in node:
        present = sum((F.when(F.col(c).isNotNull(), 1).otherwise(0)
                       for c in fields), F.lit(0))
        plan.columns_needed.update(fields)
        if "minProperties" in node:
            plan.checks.append(ColumnCheck(
                "minProperties", "$", f"{spath}/minProperties",
                present >= node["minProperties"], present.cast("string"), "*"))
        if "maxProperties" in node:
            plan.checks.append(ColumnCheck(
                "maxProperties", "$", f"{spath}/maxProperties",
                present <= node["maxProperties"], present.cast("string"), "*"))

    # dependencies at root (round-1 verdict item 9): cross-column presence
    # and gated schema-form checks — native F.when logic
    for k, dep in (node.get("dependencies") or {}).items():
        trigger = (F.col(k).isNotNull() if k in fields else F.lit(False))
        if k in fields:
            plan.columns_needed.add(k)
        if isinstance(dep, dict):
            branch_checks = _root_branch_checks(dep, f"{spath}/dependencies/{k}",
                                                fields, registry, root_uri, plan)
            for c in branch_checks:
                plan.checks.append(ColumnCheck(
                    c.keyword, c.instance_path, c.schema_path,
                    ~trigger | F.coalesce(c.predicate, F.lit(True)),
                    c.detail, c.column, c.tier))
        else:
            dl = [dep] if isinstance(dep, str) else list(dep)
            for dk in dl:
                dk_present = F.col(dk).isNotNull() if dk in fields else F.lit(False)
                if dk in fields:
                    plan.columns_needed.add(dk)
                plan.checks.append(ColumnCheck(
                    "dependencies", f"$.{dk}", f"{spath}/dependencies",
                    ~trigger | dk_present, F.lit("<dependency>"), k))

    # root combinators over typed columns (round-1 verdict items 1–2)
    if "allOf" in node:
        for i, b in enumerate(node["allOf"]):
            if not isinstance(b, dict):
                continue
            unknown = set(b) - _ROOT_KEYWORDS
            if unknown:
                raise UnsupportedSchemaError(
                    f"root allOf branch keywords {sorted(unknown)} unsupported")
            _compile_object_level(b, f"{spath}/allOf/{i}", plan, fields,
                                  registry, root_uri, unroll)
    for comb in ("anyOf", "oneOf"):
        if comb in node:
            preds, tiers = [], []
            for i, b in enumerate(node[comb]):
                checks = _root_branch_checks(b, f"{spath}/{comb}/{i}", fields,
                                             registry, root_uri, plan)
                preds.append(_and_all(
                    [F.coalesce(c.predicate, F.lit(True)) for c in checks]))
                tiers += [c.tier for c in checks]
            pred = _or_all(preds) if comb == "anyOf" else (
                sum((p.cast("int") for p in preds), F.lit(0)) == 1)
            plan.checks.append(ColumnCheck(
                comb, "$", f"{spath}/{comb}", pred, F.lit(f"<{comb}>"), "*",
                _joint_tier(tiers)))
    if "not" in node:
        checks = _root_branch_checks(node["not"], f"{spath}/not", fields,
                                     registry, root_uri, plan)
        p = _and_all([F.coalesce(c.predicate, F.lit(True)) for c in checks])
        plan.checks.append(ColumnCheck(
            "not", "$", f"{spath}/not", ~p, F.lit("<not>"), "*",
            _joint_tier([c.tier for c in checks])))


def _root_branch_checks(branch: Any, spath: str, fields: dict,
                        registry: SchemaRegistry, root_uri: str,
                        plan: CompiledPlan) -> list[ColumnCheck]:
    """Native checks for a root combinator/dependency branch (an object
    schema over table columns). Fail-closed: anything the native path
    can't express raises UnsupportedSchemaError — a branch predicate
    cannot be partially evaluated."""
    if not isinstance(branch, dict):
        return []
    allowed = {"required", "properties", "dependencies", "type"} | _ANNOTATIONS
    unknown = set(branch) - allowed
    if unknown:
        raise UnsupportedSchemaError(
            f"root branch keywords {sorted(unknown)} not natively expressible "
            f"over typed columns at {spath}")
    out: list[ColumnCheck] = []
    for name in branch.get("required", []) or []:
        pred = F.col(name).isNotNull() if name in fields else F.lit(False)
        if name in fields:
            plan.columns_needed.add(name)
        out.append(ColumnCheck("required", f"$.{name}", f"{spath}/required",
                               pred, F.lit("<absent>"), name))
    for name, sub in (branch.get("properties") or {}).items():
        if name not in fields:
            continue
        plan.columns_needed.add(name)
        try:
            out.extend(_compile_sub(F.col(name), sub, fields[name],
                                    f"{spath}/properties/{name}", f"$.{name}",
                                    name, registry, root_uri))
        except _NotNative as exc:
            raise UnsupportedSchemaError(
                f"root branch property {name!r} at {spath}: {exc}") from exc
    for k, dep in (branch.get("dependencies") or {}).items():
        trigger = F.col(k).isNotNull() if k in fields else F.lit(False)
        if not isinstance(dep, dict):
            dl = [dep] if isinstance(dep, str) else list(dep)
            for dk in dl:
                dk_present = F.col(dk).isNotNull() if dk in fields else F.lit(False)
                out.append(ColumnCheck("dependencies", f"$.{dk}",
                                       f"{spath}/dependencies",
                                       ~trigger | dk_present,
                                       F.lit("<dependency>"), k))
        else:
            raise UnsupportedSchemaError(
                f"schema-form dependencies inside a root branch at {spath}")
    return out


def _compile_column(name: str, sub: Any, is_required: bool, spath_base: str,
                    plan: CompiledPlan, fields: dict,
                    registry: SchemaRegistry, root_uri: str, unroll: int,
                    spath_leaf: str | None = None) -> None:
    """Dispatch one (column, subschema) pair to the right compile path."""
    spath = f"{spath_base}/{spath_leaf}" if spath_leaf else f"{spath_base}/properties/{name}"
    if name not in fields:
        if is_required:
            # column missing entirely: constant violation
            plan.checks.append(
                ColumnCheck("required", f"$.{name}", f"{spath}/required",
                            F.lit(False), F.lit("<missing column>"), name))
        return
    dt = fields[name]
    plan.columns_needed.add(name)

    if is_required:
        # presence: SQL NULL == absent (typed-table contract)
        plan.checks.append(
            ColumnCheck("required", f"$.{name}", f"{spath}/required",
                        F.col(name).isNotNull(), F.lit("<absent>"), name))

    if not isinstance(sub, dict) or not sub:
        return

    # dynamic JSON string column? → Variant-native bounded unroll, else the
    # full Arrow JSON path (cyclic $refs via compiled-closure recursion,
    # deep equality, ECMA regex, combinators over unknown shapes).
    forced_json = name in getattr(plan, "_json_columns", ())
    if isinstance(dt, T.StringType) and (
            forced_json or _string_is_dynamic(sub, registry, root_uri)):
        from themis_spark.plans.variant_native import try_compile_variant_native

        # the alias doubles as the error message: selecting
        # violations_col() on a frame that skipped plan.prepare(df)
        # fails analysis with this name spelled out in the exception
        valias = f"__variant_{name}__run_plan_prepare_first"
        vn = (
            try_compile_variant_native(
                name, sub, registry, root_uri, unroll,
                parsed=F.col(valias), schema_path=spath,
            )
            if unroll > 0
            else None
        )
        if vn is not None:
            plan.variant_sources[valias] = name
            plan.variant_arrays.append(vn.violations_array)
        if vn is None or vn.deep_guard is not None:
            # the whole column, or the rows past the unroll (gated)
            validator = compile_python_validator(
                sub, registry=registry, base_uri=root_uri, schema_path=spath)
            plan.arrow_specs.append(ArrowColumnSpec(
                name, validator, f"$.{name}",
                gate=None if vn is None else vn.deep_guard))
        return

    # typed column: try the complete native compile; on _NotNative fall
    # back to the Arrow wrapper (never silently under-validate)
    try:
        plan.checks.extend(
            _compile_sub(F.col(name), sub, dt, spath, f"$.{name}", name,
                         registry, root_uri)
        )
    except _NotNative:
        plan.arrow_specs.append(_arrow_wrapper_spec(name, sub, registry, root_uri, spath))
