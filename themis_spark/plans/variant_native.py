"""Bounded native unrolling of dynamic-JSON validation over VariantType.

The generic engine routes dynamic JSON-string columns (cyclic ``$ref``,
unknown shapes) to the vectorized Arrow/pandas validator. That is
semantically complete but pays the JVM↔Python boundary for EVERY row —
at 10¹²-document scale the dominant cost of the whole pass. This module
compiles the COMMON CASE natively instead:

* the column parses once via ``try_parse_json`` into a Variant;
* every keyword check on every reachable subschema node becomes a pure
  Column expression over ``variant_get``/``schema_of_variant`` probes
  (whole-stage codegen, zero Python);
* combinators (``allOf``/``anyOf``/``oneOf``/``not``) and
  ``dependencies`` compile natively: ``allOf`` and schema-form
  dependencies recurse with a guard (inner triples match the Python
  validator exactly); ``anyOf``/``oneOf``/``not`` compose per-branch
  validity predicates with three-valued-logic wrapping
  (``coalesce(p, …)`` before negation — SURVEY.md 2(a).23);
* a cyclic ``$ref`` is UNROLLED ``unroll_depth`` levels; rows whose data
  actually recurses deeper trip a native *deep guard*
  (``variant_get(v, '$.parent.parent.parent') IS NOT NULL``) — those
  rare rows are routed, alone, through the Arrow validator (the UDF
  input is NULLed for shallow rows, so the Python side sees real work
  only for the residue);
* native checks are gated OFF for deep rows so the two paths never
  double-report.

Reference parity: playlyfe/themis compiles cyclic $refs into mutually
recursive generated JS functions (src/themis.js); data depth drives
recursion there exactly as it drives path probes here, and the violation
triples (keyword, instance path, schema path) match the Python
validator's output byte-for-byte — tests/test_variant_native.py proves
the two paths agree on randomized documents.

Type discrimination uses ``schema_of_variant`` (draft-4 type model:
``1.0`` IS an integer), never lenient casts — ``try_variant_get(...,
'string')`` would happily coerce numbers. Pattern dialect triage happens
at COMPILE time (plans/regex_triage.py): Java-incompatible or
Unicode-divergent patterns bail the column out to the Arrow path instead
of aborting executors or silently diverging from the Python ground truth
(round-1 ADVICE). Known remaining divergence: double-precision numeric
compares for ``multipleOf`` above 2⁵³ (documented).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from themis_spark.plans.compiler import member_of
from themis_spark.plans.parser import SchemaRegistry
from themis_spark.plans.regex_triage import java_safe_pattern

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

#: keywords this compiler can express natively; anything else → full Arrow
_SUPPORTED = {
    "type", "enum", "pattern", "minLength", "maxLength",
    "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
    "multipleOf", "minItems", "maxItems", "uniqueItems", "items",
    "required", "properties", "$ref",
    "allOf", "anyOf", "oneOf", "not", "dependencies",
    # inert annotations
    "id", "definitions", "title", "description", "default",
}

#: subset allowed inside anyOf/oneOf/not branch PREDICATES — keywords that
#: would need the Arrow residual (deep uniqueItems, per-index items) can't
#: be deferred from inside a branch, so their presence bails the column out
_PRED_SUPPORTED = _SUPPORTED - {"uniqueItems", "items"}


class _Unsupported(Exception):
    pass


@dataclass
class VariantNativePlan:
    """Result of a successful native compile of one JSON-string column."""

    violations_array: Column          # array<violation struct>, deep-gated
    deep_guard: Column | None         # rows needing the Arrow residue
    frontier_paths: list[str]         # variant paths beyond the unroll


def _viol(keyword: str, ipath: Column | str, spath: str) -> Column:
    ip = F.lit(ipath) if isinstance(ipath, str) else ipath
    return F.struct(
        F.lit(keyword).alias("keyword"),
        ip.alias("instance_path"),
        F.lit(spath).alias("schema_path"),
        F.lit(None).cast("string").alias("detail"),
    )


def _num_sov(s: Column) -> Column:
    return (s == "BIGINT") | (s == "DOUBLE") | F.startswith(s, F.lit("DECIMAL"))


def _type_pred(tname: str, s: Column, d: Column) -> Column:
    if tname == "string":
        return s == "STRING"
    if tname == "boolean":
        return s == "BOOLEAN"
    if tname == "object":
        return F.startswith(s, F.lit("OBJECT"))
    if tname == "array":
        return F.startswith(s, F.lit("ARRAY"))
    if tname == "null":
        return s == "VOID"
    if tname == "number":
        return _num_sov(s)
    if tname == "integer":
        return (s == "BIGINT") | (_num_sov(s) & (d == F.floor(d)))
    raise _Unsupported(f"unknown type {tname!r}")


def try_compile_variant_native(
    colname: str,
    subschema: dict,
    registry: SchemaRegistry,
    base_uri: str,
    unroll_depth: int = 3,
    parsed: Column | None = None,
) -> VariantNativePlan | None:
    """Compile ``subschema`` over JSON-string column ``colname`` into
    native Variant checks, or return None when any reachable keyword
    falls outside the supported set (caller then uses the full Arrow
    path).

    ``parsed``: a pre-materialized ``try_parse_json(colname)`` column
    (see CompiledPlan.prepare). Without it every probe would re-parse the
    JSON string — measured 4× slower than the Python path it replaces."""
    raw = F.col(colname)
    v = F.try_parse_json(raw) if parsed is None else parsed
    root_ipath = f"$.{colname}"

    cond_checks: list[tuple[Column, Column]] = []  # (fail_cond, viol struct)
    residual_conds: list[Column] = []              # rows the Arrow path must own
    frontier: list[str] = []

    def node_at(vpath: str) -> Column:
        return v if vpath == "$" else F.variant_get(v, vpath, "variant")

    def _child(vpath: str, k: str) -> str:
        return f"$.{k}" if vpath == "$" else f"{vpath}.{k}"

    # -- shared per-node scalar keyword fail-conditions ---------------------
    # (kw, fail_cond_without_present_guard, ipath, spath) — used by walk()
    # to emit violation triples and by _node_valid() to build branch
    # predicates from the SAME logic (no semantic drift between the two).
    def _scalar_fails(node: dict, nd: Column, ipath: str, spath: str):
        s = F.schema_of_variant(nd)
        d = F.try_variant_get(nd, "$", "double")
        sval = F.try_variant_get(nd, "$", "string")
        is_str, is_num = s == "STRING", _num_sov(s)
        is_arr = F.startswith(s, F.lit("ARRAY"))
        arrv = F.try_variant_get(nd, "$", "array<variant>")
        out: list[tuple[str, Column, str, str]] = []

        if "type" in node:
            types = node["type"] if isinstance(node["type"], list) else [node["type"]]
            ok = reduce(lambda a, b: a | b, [_type_pred(t, s, d) for t in types])
            out.append(("type", ~ok, ipath, f"{spath}/type"))

        if "enum" in node:
            members = node["enum"]
            if not all(m is None or isinstance(m, (str, int, float, bool)) for m in members):
                raise _Unsupported("non-scalar enum members")
            strs = [m for m in members if isinstance(m, str)]
            nums = [float(m) for m in members
                    if isinstance(m, (int, float)) and not isinstance(m, bool)]
            bools = [m for m in members if isinstance(m, bool)]
            match = F.lit(False)
            if strs:
                match = match | (is_str & member_of(sval, strs))
            if nums:
                match = match | (is_num & member_of(d, nums))
            if bools:
                bv = F.try_variant_get(nd, "$", "boolean")
                match = match | ((s == "BOOLEAN") & member_of(bv, bools))
            if any(m is None for m in members):
                match = match | (s == "VOID")
            out.append(("enum", ~match, ipath, f"{spath}/enum"))

        if "pattern" in node:
            jp = java_safe_pattern(node["pattern"])
            if jp is None:
                raise _Unsupported(f"pattern dialect {node['pattern']!r}")
            out.append(("pattern", is_str & ~sval.rlike(jp),
                        ipath, f"{spath}/pattern"))
        if "minLength" in node:
            out.append(("minLength", is_str & (F.length(sval) < node["minLength"]),
                        ipath, f"{spath}/minLength"))
        if "maxLength" in node:
            out.append(("maxLength", is_str & (F.length(sval) > node["maxLength"]),
                        ipath, f"{spath}/maxLength"))

        if "minimum" in node:
            excl = bool(node.get("exclusiveMinimum", False))
            bad = (d <= node["minimum"]) if excl else (d < node["minimum"])
            out.append(("exclusiveMinimum" if excl else "minimum",
                        is_num & bad, ipath, f"{spath}/minimum"))
        if "maximum" in node:
            excl = bool(node.get("exclusiveMaximum", False))
            bad = (d >= node["maximum"]) if excl else (d > node["maximum"])
            out.append(("exclusiveMaximum" if excl else "maximum",
                        is_num & bad, ipath, f"{spath}/maximum"))
        if "multipleOf" in node:
            n = node["multipleOf"]
            if isinstance(n, int):
                bad = F.pmod(d, F.lit(float(n))) != 0
            else:
                from pyspark.sql import types as T

                dec = T.DecimalType(38, 12)
                bad = F.pmod(d.cast(dec), F.lit(n).cast(dec)) != 0
            out.append(("multipleOf", is_num & bad, ipath, f"{spath}/multipleOf"))

        if "minItems" in node:
            out.append(("minItems", is_arr & (F.size(arrv) < node["minItems"]),
                        ipath, f"{spath}/minItems"))
        if "maxItems" in node:
            out.append(("maxItems", is_arr & (F.size(arrv) > node["maxItems"]),
                        ipath, f"{spath}/maxItems"))
        return out

    # -- branch validity predicate (anyOf/oneOf/not/dependencies-schema) ----
    def _node_valid(node, vpath: str, base: str, stack: tuple, budget: int) -> Column:
        """'instance value at vpath satisfies node' as one Column. Raises
        _Unsupported for anything that would need the Arrow residual —
        a branch predicate cannot be partially deferred."""
        if not isinstance(node, dict):
            return F.lit(True)
        if "$ref" in node:
            sub, new_base, canon = registry.resolve(node["$ref"], base)
            if id(sub) in stack:
                # a branch PREDICATE cannot defer deep rows to the Arrow
                # residual (walk()'s frontier mechanism) — an unrolled
                # prefix would silently validate data that recurses
                # deeper, so cyclic refs bail the whole column to Arrow
                raise _Unsupported("cyclic $ref inside a combinator branch")
            return _node_valid(sub, vpath, new_base, stack + (id(sub),), budget)
        extra = set(node) - _PRED_SUPPORTED
        if extra:
            raise _Unsupported(f"branch keywords {sorted(extra)}")

        nd = node_at(vpath)
        present = nd.isNotNull()
        s = F.schema_of_variant(nd)
        is_obj = F.startswith(s, F.lit("OBJECT"))
        preds: list[Column] = []
        for _kw, fail, _ip, _sp in _scalar_fails(node, nd, "$", "#"):
            preds.append(~F.coalesce(present & fail, F.lit(False)))

        for k in node.get("required", []) or []:
            if not _IDENT_RE.match(k):
                raise _Unsupported(f"non-identifier key {k!r}")
            missing = F.variant_get(v, _child(vpath, k), "variant").isNull()
            preds.append(~F.coalesce(present & is_obj & missing, F.lit(False)))

        for k, sub in (node.get("properties") or {}).items():
            if not _IDENT_RE.match(k):
                raise _Unsupported(f"non-identifier key {k!r}")
            preds.append(_node_valid(sub, _child(vpath, k), base, stack, budget))

        for k, dep in (node.get("dependencies") or {}).items():
            if not _IDENT_RE.match(k):
                raise _Unsupported(f"non-identifier key {k!r}")
            k_present = F.variant_get(v, _child(vpath, k), "variant").isNotNull()
            trigger = F.coalesce(present & is_obj & k_present, F.lit(False))
            if isinstance(dep, dict):
                preds.append(~trigger | _node_valid(dep, vpath, base, stack, budget))
            else:
                dl = [dep] if isinstance(dep, str) else list(dep)
                for dk in dl:
                    dk_present = F.variant_get(v, _child(vpath, dk), "variant").isNotNull()
                    preds.append(~trigger | F.coalesce(dk_present, F.lit(False)))

        if "allOf" in node:
            for b in node["allOf"]:
                preds.append(_node_valid(b, vpath, base, stack, budget))
        if "anyOf" in node:
            preds.append(reduce(lambda a, c: a | c,
                                [_node_valid(b, vpath, base, stack, budget)
                                 for b in node["anyOf"]]))
        if "oneOf" in node:
            hits = sum((_node_valid(b, vpath, base, stack, budget).cast("int")
                        for b in node["oneOf"]), F.lit(0))
            preds.append(hits == 1)
        if "not" in node:
            preds.append(~F.coalesce(
                _node_valid(node["not"], vpath, base, stack, budget), F.lit(True)))

        if not preds:
            return F.lit(True)
        result = reduce(lambda a, b: a & F.coalesce(b, F.lit(True)),
                        preds, F.lit(True))
        # absent value: draft-4 keywords apply only to present values —
        # without this, an absent node would fail oneOf (every branch
        # vacuously valid → hits == n_branches != 1)
        return ~F.coalesce(present, F.lit(False)) | result

    def walk(node, vpath: str, ipath: str, spath: str, base: str,
             stack: tuple, budget: int, guard: Column | None = None) -> None:
        """Emit violation triples for ``node`` at ``vpath``. ``guard``
        (schema-form dependencies) is ANDed into every emitted condition."""
        if not isinstance(node, dict):
            return
        if "$ref" in node:
            sub, new_base, canon = registry.resolve(node["$ref"], base)
            if id(sub) in stack:
                if budget == 0:
                    frontier.append(vpath)
                    return
                budget -= 1
            walk(sub, vpath, ipath, canon, new_base, stack + (id(sub),), budget, guard)
            return
        extra = set(node) - _SUPPORTED
        if extra:
            raise _Unsupported(f"keywords {sorted(extra)}")

        nd = node_at(vpath)
        present = nd.isNotNull()
        s = F.schema_of_variant(nd)
        is_arr = F.startswith(s, F.lit("ARRAY"))
        is_obj = F.startswith(s, F.lit("OBJECT"))
        arrv = F.try_variant_get(nd, "$", "array<variant>")

        def add(kw: str, fail: Column, ip, sp: str) -> None:
            cond = present & F.coalesce(fail, F.lit(False))
            if guard is not None:
                cond = F.coalesce(guard, F.lit(False)) & cond
            cond_checks.append((cond, _viol(kw, ip, sp)))

        for kw, fail, ip, sp in _scalar_fails(node, nd, ipath, spath):
            add(kw, fail, ip, sp)

        # Array-content keywords WITHOUT higher-order functions: HOF
        # lambdas are CodegenFallback in Spark, and one of them in the
        # projection knocks the whole fused pass out of whole-stage
        # codegen (measured 3-4× slower, interpreted + no CSE). The
        # element type promoted by schema_of_variant classifies the
        # common homogeneous-scalar arrays natively; genuinely
        # heterogeneous/nested arrays join the residual gate and get
        # exact (per-index) treatment from the Arrow validator.
        _num_arr = (
            (s == "ARRAY<BIGINT>") | (s == "ARRAY<DOUBLE>")
            | F.startswith(s, F.lit("ARRAY<DECIMAL"))
        )
        arr_s = F.try_variant_get(nd, "$", "array<string>")

        if node.get("uniqueItems") is True:
            def _dup(a: Column) -> Column:
                return F.size(F.array_distinct(a)) != F.size(a)

            dup_cond = (
                F.when(s == "ARRAY<STRING>", _dup(arr_s))
                # draft-4 numeric equality (1 == 1.0): compare as double;
                # divergence above 2^53 documented in the module docstring
                .when(_num_arr, _dup(F.try_variant_get(nd, "$", "array<double>")))
                .when(s == "ARRAY<BOOLEAN>", _dup(F.try_variant_get(nd, "$", "array<boolean>")))
                .when(s == "ARRAY<VOID>", F.size(arrv) > 1)  # nulls deep-equal
                .otherwise(F.lit(False))
            )
            add("uniqueItems", is_arr & dup_cond, ipath, f"{spath}/uniqueItems")
            complex_arr = (
                is_arr & ~(s == "ARRAY<STRING>") & ~_num_arr
                & ~(s == "ARRAY<BOOLEAN>") & ~(s == "ARRAY<VOID>")
            )
            residual_conds.append(present & complex_arr & (F.size(arrv) > 1))

        if "items" in node:
            items = node["items"]
            if not (isinstance(items, dict) and set(items) <= {"type"}):
                raise _Unsupported("items beyond a bare type check")
            if "type" in items:
                itypes = items["type"] if isinstance(items["type"], list) else [items["type"]]
                fam = F.lit(False)
                if "string" in itypes:
                    fam = fam | (s == "ARRAY<STRING>")
                if "integer" in itypes or "number" in itypes:
                    # integer-only: BIGINT provably ok; DECIMAL/DOUBLE
                    # arrays may still be all fraction-free → residual
                    fam = fam | (s == "ARRAY<BIGINT>")
                if "number" in itypes:
                    fam = fam | (s == "ARRAY<DOUBLE>") | F.startswith(s, F.lit("ARRAY<DECIMAL"))
                if "boolean" in itypes:
                    fam = fam | (s == "ARRAY<BOOLEAN>")
                if "object" in itypes:
                    fam = fam | F.startswith(s, F.lit("ARRAY<OBJECT"))
                if "array" in itypes:
                    fam = fam | F.startswith(s, F.lit("ARRAY<ARRAY"))
                null_ok = "null" in itypes
                # sov promotes over nulls: ARRAY<STRING> may hide null
                # elements — any cast keeps them null; sort_array puts
                # nulls first, F.get is out-of-bounds-safe under ANSI
                # (array_compact would be a CodegenFallback HOF)
                has_null = (F.size(arr_s) > 0) & F.get(F.sort_array(arr_s), 0).isNull()
                empty_arr = F.size(arrv) == 0
                ok = (
                    empty_arr
                    | ((s == "ARRAY<VOID>") & F.lit(null_ok))
                    | (fam & (F.lit(null_ok) | ~has_null))
                )
                # any not-provably-ok array → residual: the Arrow path
                # emits the exact per-index violation triples
                residual_conds.append(present & is_arr & ~ok)

        for k in node.get("required", []) or []:
            if not _IDENT_RE.match(k):
                raise _Unsupported(f"non-identifier key {k!r}")
            missing = F.variant_get(v, _child(vpath, k), "variant").isNull()
            add("required", is_obj & missing, f"{ipath}.{k}", f"{spath}/required")

        for k, sub in (node.get("properties") or {}).items():
            if not _IDENT_RE.match(k):
                raise _Unsupported(f"non-identifier key {k!r}")
            walk(sub, _child(vpath, k), f"{ipath}.{k}",
                 f"{spath}/properties/{k}", base, stack, budget, guard)

        # dependencies (SURVEY 2(a).18–19): property form emits the exact
        # pyvalidator triple; schema form recurses with a guard so INNER
        # triples match the Python path byte-for-byte
        for k, dep in (node.get("dependencies") or {}).items():
            if not _IDENT_RE.match(k):
                raise _Unsupported(f"non-identifier key {k!r}")
            k_present = F.variant_get(v, _child(vpath, k), "variant").isNotNull()
            trigger = is_obj & k_present
            if isinstance(dep, dict):
                dep_guard = trigger if guard is None else (
                    F.coalesce(guard, F.lit(False)) & trigger)
                walk(dep, vpath, ipath, f"{spath}/dependencies/{k}", base,
                     stack, budget, dep_guard)
            else:
                dl = [dep] if isinstance(dep, str) else list(dep)
                for dk in dl:
                    if not _IDENT_RE.match(dk):
                        raise _Unsupported(f"non-identifier key {dk!r}")
                    dk_missing = F.variant_get(v, _child(vpath, dk), "variant").isNull()
                    add("dependencies", trigger & dk_missing,
                        f"{ipath}.{dk}", f"{spath}/dependencies")

        # combinators (round-1 verdict item 2). allOf recurses (inner
        # triples, like the reference's generated sub-calls); the others
        # compose branch predicates with coalesce() against SQL
        # three-valued logic before negation/counting.
        if "allOf" in node:
            for i, b in enumerate(node["allOf"]):
                walk(b, vpath, ipath, f"{spath}/allOf/{i}", base, stack, budget, guard)
        if "anyOf" in node:
            ok = reduce(lambda a, c: a | c,
                        [F.coalesce(_node_valid(b, vpath, base, stack, budget), F.lit(True))
                         for b in node["anyOf"]])
            add("anyOf", ~ok, ipath, f"{spath}/anyOf")
        if "oneOf" in node:
            hits = sum((F.coalesce(_node_valid(b, vpath, base, stack, budget),
                                   F.lit(True)).cast("int")
                        for b in node["oneOf"]), F.lit(0))
            add("oneOf", hits != 1, ipath, f"{spath}/oneOf")
        if "not" in node:
            valid = F.coalesce(_node_valid(node["not"], vpath, base, stack, budget),
                               F.lit(True))
            add("not", valid, ipath, f"{spath}/not")

    try:
        walk(subschema, "$", root_ipath, _initial_spath(subschema, registry, base_uri),
             base_uri, (), unroll_depth)
    except _Unsupported:
        return None

    guards = [node_at(p).isNotNull() for p in frontier]
    guards += [F.coalesce(c, F.lit(False)) for c in residual_conds]
    deep = reduce(lambda a, b: a | b, guards) if guards else None

    # malformed JSON: raw text present but unparseable — same triple the
    # Arrow batch validator emits for json.loads failures.
    # concat-of-singletons, NOT array_compact(array(...)) — array_compact
    # is a higher-order filter under the hood (CodegenFallback) and would
    # de-codegen the entire fused projection.
    from themis_spark.plans.compiler import VIOLATION_ARRAY_TYPE

    empty = F.array().cast(VIOLATION_ARRAY_TYPE)
    malformed = raw.isNotNull() & v.isNull()
    parts = [F.when(malformed, F.array(_viol("type", root_ipath, f"{base_uri}#"))).otherwise(empty)]
    for cond, viol in cond_checks:
        gated = cond if deep is None else (cond & ~deep)
        parts.append(F.when(gated, F.array(viol)).otherwise(empty))
    out = parts[0] if len(parts) == 1 else F.concat(*parts)
    return VariantNativePlan(out, deep, frontier)


def _initial_spath(subschema: dict, registry: SchemaRegistry, base_uri: str) -> str:
    # the walk replaces this immediately on a $ref node; for inline
    # subschemas the compiler passes the canonical property path instead
    return f"{base_uri}#"
