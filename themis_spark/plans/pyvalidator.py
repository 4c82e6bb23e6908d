"""Compile a JSON Schema draft-4 into Python validator closures.

This is the engine's ground-truth semantic core and the payload of the
vectorized Arrow batch path (see arrow_validators.py): schemas compile
AHEAD OF TIME, once, on the driver — exactly the reference's design
(playlyfe/themis src/themis.js compiles each (sub)schema into a generated
JS function; $ref sites become direct function calls so cyclic refs are
plain recursion). Here each (sub)schema compiles to a closure; $ref sites
resolve to the referenced closure through a late-binding slot, so cycles
terminate on data depth just like the reference's generated recursion.

Violations carry the reference-compatible triple
(keyword, instance_path, schema_path) — BASELINE.json north_star contract.

Draft-4 semantics follow the public specs (json-schema-validation
draft-fge-00); see SURVEY.md §2(a) for the keyword-by-keyword mapping and
§7.3 for the pinned edge cases (1.0 is a valid "integer"; enum/uniqueItems
use numeric-but-not-boolean deep equality; string length counts code
points; exclusiveMaximum/Minimum are boolean modifiers).
"""

from __future__ import annotations

import ipaddress
import re
from decimal import Decimal, InvalidOperation
from typing import Any, Callable, NamedTuple

from themis_spark.plans.parser import SchemaRegistry, parse_schema
from themis_spark.plans.regex_triage import python_pattern


class Violation(NamedTuple):
    keyword: str
    instance_path: str
    schema_path: str


# ---------------------------------------------------------------- type model

_TYPE_CHECKS: dict[str, Callable[[Any], bool]] = {
    "null": lambda v: v is None,
    "boolean": lambda v: isinstance(v, bool),
    # draft-4: a number with a zero fractional part is a valid "integer"
    "integer": lambda v: (isinstance(v, int) and not isinstance(v, bool))
    or (isinstance(v, float) and v.is_integer()),
    "number": lambda v: isinstance(v, (int, float)) and not isinstance(v, bool),
    "string": lambda v: isinstance(v, str),
    "array": lambda v: isinstance(v, list),
    "object": lambda v: isinstance(v, dict),
}


def check_type(value: Any, type_name: str) -> bool:
    fn = _TYPE_CHECKS.get(type_name)
    return bool(fn and fn(value))


def deep_equal(a: Any, b: Any) -> bool:
    """Draft-4 structural equality: 1 == 1.0 numerically, but true != 1."""
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b
    if isinstance(a, dict):
        return (
            isinstance(b, dict)
            and a.keys() == b.keys()
            and all(deep_equal(v, b[k]) for k, v in a.items())
        )
    if isinstance(a, list):
        return (
            isinstance(b, list)
            and len(a) == len(b)
            and all(deep_equal(x, y) for x, y in zip(a, b))
        )
    return type(a) is type(b) and a == b


def _is_multiple(value: float, divisor: float) -> bool:
    # Exact decimal arithmetic sidesteps binary-float noise
    # (0.0075 / 0.0001 must be a multiple).
    try:
        return (Decimal(str(value)) % Decimal(str(divisor))) == 0
    except (InvalidOperation, ZeroDivisionError):
        return False


# ------------------------------------------------------------------- formats

_DATETIME_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)
_EMAIL_RE = re.compile(r"^[^@\s]+@[^@\s]+\.[^@\s]+$")
_HOSTNAME_RE = re.compile(
    r"^(?=.{1,253}$)[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?"
    r"(?:\.[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)*$"
)
_URI_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")


def _format_datetime(v: str) -> bool:
    if not _DATETIME_RE.match(v):
        return False
    from datetime import datetime

    try:
        datetime.fromisoformat(v.replace("Z", "+00:00").replace("z", "+00:00"))
        return True
    except ValueError:
        return False


def _format_ipv4(v: str) -> bool:
    try:
        ipaddress.IPv4Address(v)
        return True
    except ValueError:
        return False


def _format_ipv6(v: str) -> bool:
    try:
        ipaddress.IPv6Address(v)
        return True
    except ValueError:
        return False


#: Built-in draft-4 formats (validation §7). Extend via register_format —
#: the reference's Themis.registerFormat(name, fn) extension point.
BUILTIN_FORMATS: dict[str, Callable[[str], bool]] = {
    "date-time": _format_datetime,
    "email": lambda v: bool(_EMAIL_RE.match(v)),
    "hostname": lambda v: bool(_HOSTNAME_RE.match(v)),
    "ipv4": _format_ipv4,
    "ipv6": _format_ipv6,
    "uri": lambda v: bool(_URI_RE.match(v)),
}

_GLOBAL_FORMATS: dict[str, Callable[[str], bool]] = {}


def register_format(name: str, fn: Callable[[str], bool]) -> None:
    """Install a custom string-format predicate (reference EP3)."""
    _GLOBAL_FORMATS[name] = fn


# ------------------------------------------------------------------ compiler

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def join_path(parent: str, key: Any) -> str:
    if isinstance(key, int):
        return f"{parent}[{key}]"
    if _IDENT_RE.match(str(key)):
        return f"{parent}.{key}"
    return f"{parent}[{str(key)!r}]"


CheckFn = Callable[[Any, str, list], None]  # (value, instance_path, out)


class PyValidator:
    """A compiled draft-4 validator for one registered schema."""

    def __init__(self, fn: CheckFn, schema: Any, root_uri: str):
        self._fn = fn
        self.schema = schema
        self.root_uri = root_uri

    def validate(self, value: Any, instance_path: str = "$") -> list[Violation]:
        out: list[Violation] = []
        self._fn(value, instance_path, out)
        return out

    def is_valid(self, value: Any) -> bool:
        return not self.validate(value)


def compile_python_validator(
    schema: Any,
    registry: SchemaRegistry | None = None,
    formats: dict[str, Callable[[str], bool]] | None = None,
    validate_formats: bool = True,
    base_uri: str | None = None,
    schema_path: str | None = None,
) -> PyValidator:
    """Compile ``schema`` to a validator. When ``base_uri`` is given the
    schema is treated as a subschema of an already-registered document and
    its $refs resolve in that document's scope (used by the table compiler
    to spin off Arrow validators for nested JSON columns). ``schema_path``
    is where ``schema`` sits in that document (default: its root,
    ``{root_uri}#``); violation schema paths extend it."""
    if base_uri is not None:
        if registry is None:
            raise ValueError("base_uri requires a registry")
        root_uri = base_uri
    else:
        registry, root_uri = parse_schema(schema, registry)
    fmt_table = dict(BUILTIN_FORMATS)
    fmt_table.update(_GLOBAL_FORMATS)
    if formats:
        fmt_table.update(formats)

    # late-binding memo: (id(schema_node), base_uri) -> trampoline closure.
    # Inserting the trampoline BEFORE compiling children is what makes
    # cyclic $refs terminate — the reference achieves the same by emitting
    # named functions that call each other (src/themis.js codegen).
    memo: dict[tuple[int, str], CheckFn] = {}

    def compile_node(node: Any, spath: str, base_uri: str) -> CheckFn:
        key = (id(node), base_uri)
        if key in memo:
            return memo[key]
        slot: dict[str, CheckFn] = {}

        def trampoline(value: Any, ipath: str, out: list) -> None:
            slot["fn"](value, ipath, out)

        memo[key] = trampoline
        slot["fn"] = _compile_body(node, spath, base_uri)
        return trampoline

    def _compile_body(node: Any, spath: str, base_uri: str) -> CheckFn:
        if not isinstance(node, dict):
            # draft-4 has no boolean schemas; tolerate `true`/{} as accept-all
            return lambda value, ipath, out: None

        # draft-4 §: when $ref is present, sibling keywords are ignored
        if "$ref" in node:
            sub, new_base, _canon = registry.resolve(node["$ref"], base_uri)
            return compile_node(sub, _canon_path(registry, node["$ref"], base_uri), new_base)

        checks: list[CheckFn] = []
        add = checks.append

        declared = node.get("id")
        if isinstance(declared, str) and declared:
            import urllib.parse as _up

            base_uri = _up.urljoin(base_uri, declared)

        # ---- type
        if "type" in node:
            types = node["type"] if isinstance(node["type"], list) else [node["type"]]
            tfns = [_TYPE_CHECKS[t] for t in types if t in _TYPE_CHECKS]
            tpath = f"{spath}/type"

            def c_type(value, ipath, out, tfns=tfns, tpath=tpath):
                if not any(f(value) for f in tfns):
                    out.append(Violation("type", ipath, tpath))

            add(c_type)

        # ---- enum
        if "enum" in node:
            members = node["enum"]
            epath = f"{spath}/enum"
            scalar = all(isinstance(m, (str, int, float)) and not isinstance(m, bool) or m is None or isinstance(m, bool) for m in members)
            simple = {m for m in members if isinstance(m, (str,)) }
            def c_enum(value, ipath, out, members=members, epath=epath, simple=simple):
                if isinstance(value, str) and value in simple:
                    return
                if not any(deep_equal(value, m) for m in members):
                    out.append(Violation("enum", ipath, epath))

            add(c_enum)

        # ---- numeric keywords
        if "multipleOf" in node:
            n = node["multipleOf"]
            mpath = f"{spath}/multipleOf"

            def c_mult(value, ipath, out, n=n, mpath=mpath):
                if isinstance(value, (int, float)) and not isinstance(value, bool):
                    if not _is_multiple(value, n):
                        out.append(Violation("multipleOf", ipath, mpath))

            add(c_mult)

        if "maximum" in node:
            m = node["maximum"]
            excl = bool(node.get("exclusiveMaximum", False))
            mpath = f"{spath}/maximum"

            def c_max(value, ipath, out, m=m, excl=excl, mpath=mpath):
                if isinstance(value, (int, float)) and not isinstance(value, bool):
                    if (value >= m) if excl else (value > m):
                        kw = "exclusiveMaximum" if excl else "maximum"
                        out.append(Violation(kw, ipath, mpath))

            add(c_max)

        if "minimum" in node:
            m = node["minimum"]
            excl = bool(node.get("exclusiveMinimum", False))
            mpath = f"{spath}/minimum"

            def c_min(value, ipath, out, m=m, excl=excl, mpath=mpath):
                if isinstance(value, (int, float)) and not isinstance(value, bool):
                    if (value <= m) if excl else (value < m):
                        kw = "exclusiveMinimum" if excl else "minimum"
                        out.append(Violation(kw, ipath, mpath))

            add(c_min)

        # ---- string keywords (length in code points: Python len == spec)
        if "maxLength" in node:
            n = node["maxLength"]
            p = f"{spath}/maxLength"
            add(lambda value, ipath, out, n=n, p=p: out.append(Violation("maxLength", ipath, p))
                if isinstance(value, str) and len(value) > n else None)
        if "minLength" in node:
            n = node["minLength"]
            p = f"{spath}/minLength"
            add(lambda value, ipath, out, n=n, p=p: out.append(Violation("minLength", ipath, p))
                if isinstance(value, str) and len(value) < n else None)
        if "pattern" in node:
            # ECMA-262 'search' semantics: unanchored — re.search;
            # python_pattern translates ECMA named groups/backrefs
            rx = re.compile(python_pattern(node["pattern"]))
            p = f"{spath}/pattern"
            add(lambda value, ipath, out, rx=rx, p=p: out.append(Violation("pattern", ipath, p))
                if isinstance(value, str) and not rx.search(value) else None)

        if validate_formats and "format" in node:
            fmt = node["format"]
            fn = fmt_table.get(fmt)
            if fn is not None:
                p = f"{spath}/format"
                add(lambda value, ipath, out, fn=fn, p=p: out.append(Violation("format", ipath, p))
                    if isinstance(value, str) and not fn(value) else None)

        # ---- array keywords
        if "maxItems" in node:
            n = node["maxItems"]
            p = f"{spath}/maxItems"
            add(lambda value, ipath, out, n=n, p=p: out.append(Violation("maxItems", ipath, p))
                if isinstance(value, list) and len(value) > n else None)
        if "minItems" in node:
            n = node["minItems"]
            p = f"{spath}/minItems"
            add(lambda value, ipath, out, n=n, p=p: out.append(Violation("minItems", ipath, p))
                if isinstance(value, list) and len(value) < n else None)
        if node.get("uniqueItems") is True:
            p = f"{spath}/uniqueItems"

            def c_uniq(value, ipath, out, p=p):
                if isinstance(value, list):
                    for i in range(len(value)):
                        for j in range(i + 1, len(value)):
                            if deep_equal(value[i], value[j]):
                                out.append(Violation("uniqueItems", ipath, p))
                                return

            add(c_uniq)

        if "items" in node:
            items = node["items"]
            if isinstance(items, dict):
                sub = compile_node(items, f"{spath}/items", base_uri)

                def c_items(value, ipath, out, sub=sub):
                    if isinstance(value, list):
                        for i, el in enumerate(value):
                            sub(el, join_path(ipath, i), out)

                add(c_items)
            elif isinstance(items, list):
                subs = [
                    compile_node(s, f"{spath}/items/{i}", base_uri)
                    for i, s in enumerate(items)
                ]
                addl = node.get("additionalItems", True)
                addl_sub = (
                    compile_node(addl, f"{spath}/additionalItems", base_uri)
                    if isinstance(addl, dict)
                    else None
                )
                ap = f"{spath}/additionalItems"

                def c_tuple(value, ipath, out, subs=subs, addl=addl, addl_sub=addl_sub, ap=ap):
                    if not isinstance(value, list):
                        return
                    for i, el in enumerate(value):
                        if i < len(subs):
                            subs[i](el, join_path(ipath, i), out)
                        elif addl is False:
                            out.append(Violation("additionalItems", ipath, ap))
                            return
                        elif addl_sub is not None:
                            addl_sub(el, join_path(ipath, i), out)

                add(c_tuple)

        # ---- object keywords
        if "maxProperties" in node:
            n = node["maxProperties"]
            p = f"{spath}/maxProperties"
            add(lambda value, ipath, out, n=n, p=p: out.append(Violation("maxProperties", ipath, p))
                if isinstance(value, dict) and len(value) > n else None)
        if "minProperties" in node:
            n = node["minProperties"]
            p = f"{spath}/minProperties"
            add(lambda value, ipath, out, n=n, p=p: out.append(Violation("minProperties", ipath, p))
                if isinstance(value, dict) and len(value) < n else None)
        if "required" in node:
            req = list(node["required"])
            p = f"{spath}/required"

            def c_req(value, ipath, out, req=req, p=p):
                if isinstance(value, dict):
                    for k in req:
                        if k not in value:
                            out.append(Violation("required", join_path(ipath, k), p))

            add(c_req)

        props = node.get("properties")
        pat_props = node.get("patternProperties")
        addl_props = node.get("additionalProperties", True)
        if props or pat_props or addl_props is not True:
            prop_subs = {
                k: compile_node(s, f"{spath}/properties/{k}", base_uri)
                for k, s in (props or {}).items()
            }
            pat_subs = [
                (re.compile(python_pattern(rx)),
                 compile_node(s, f"{spath}/patternProperties/{rx}", base_uri))
                for rx, s in (pat_props or {}).items()
            ]
            addl_sub = (
                compile_node(addl_props, f"{spath}/additionalProperties", base_uri)
                if isinstance(addl_props, dict)
                else None
            )
            ap = f"{spath}/additionalProperties"

            def c_props(value, ipath, out, prop_subs=prop_subs, pat_subs=pat_subs,
                        addl_props=addl_props, addl_sub=addl_sub, ap=ap):
                if not isinstance(value, dict):
                    return
                for k, v in value.items():
                    kpath = join_path(ipath, k)
                    matched = False
                    if k in prop_subs:
                        matched = True
                        prop_subs[k](v, kpath, out)
                    for rx, sub in pat_subs:
                        if rx.search(k):
                            matched = True
                            sub(v, kpath, out)
                    if not matched:
                        if addl_props is False:
                            out.append(Violation("additionalProperties", kpath, ap))
                        elif addl_sub is not None:
                            addl_sub(v, kpath, out)

            add(c_props)

        if "dependencies" in node:
            deps = []
            for k, d in node["dependencies"].items():
                if isinstance(d, dict):
                    deps.append((k, "schema", compile_node(d, f"{spath}/dependencies/{k}", base_uri)))
                else:
                    dl = [d] if isinstance(d, str) else list(d)
                    deps.append((k, "props", dl))
            dp = f"{spath}/dependencies"

            def c_deps(value, ipath, out, deps=deps, dp=dp):
                if not isinstance(value, dict):
                    return
                for k, kind, payload in deps:
                    if k not in value:
                        continue
                    if kind == "schema":
                        payload(value, ipath, out)
                    else:
                        for dk in payload:
                            if dk not in value:
                                out.append(Violation("dependencies", join_path(ipath, dk), dp))

            add(c_deps)

        # ---- combinators
        if "allOf" in node:
            subs = [
                compile_node(s, f"{spath}/allOf/{i}", base_uri)
                for i, s in enumerate(node["allOf"])
            ]

            def c_all(value, ipath, out, subs=subs):
                for sub in subs:
                    sub(value, ipath, out)

            add(c_all)

        if "anyOf" in node:
            subs = [
                compile_node(s, f"{spath}/anyOf/{i}", base_uri)
                for i, s in enumerate(node["anyOf"])
            ]
            p = f"{spath}/anyOf"

            def c_any(value, ipath, out, subs=subs, p=p):
                for sub in subs:
                    probe: list = []
                    sub(value, ipath, probe)
                    if not probe:
                        return
                out.append(Violation("anyOf", ipath, p))

            add(c_any)

        if "oneOf" in node:
            subs = [
                compile_node(s, f"{spath}/oneOf/{i}", base_uri)
                for i, s in enumerate(node["oneOf"])
            ]
            p = f"{spath}/oneOf"

            def c_one(value, ipath, out, subs=subs, p=p):
                hits = 0
                for sub in subs:
                    probe: list = []
                    sub(value, ipath, probe)
                    if not probe:
                        hits += 1
                        if hits > 1:
                            break
                if hits != 1:
                    out.append(Violation("oneOf", ipath, p))

            add(c_one)

        if "not" in node:
            sub = compile_node(node["not"], f"{spath}/not", base_uri)
            p = f"{spath}/not"

            def c_not(value, ipath, out, sub=sub, p=p):
                probe: list = []
                sub(value, ipath, probe)
                if not probe:
                    out.append(Violation("not", ipath, p))

            add(c_not)

        def run_all(value: Any, ipath: str, out: list, checks=checks) -> None:
            for c in checks:
                c(value, ipath, out)

        return run_all

    def _canon_path(reg: SchemaRegistry, ref: str, base: str) -> str:
        try:
            _, _, canon = reg.resolve(ref, base)
            return canon
        except Exception:
            return ref

    root_fn = compile_node(schema, schema_path or f"{root_uri}#", root_uri)
    return PyValidator(root_fn, schema, root_uri)


def apply_defaults(schema: Any, value: Any, registry: SchemaRegistry | None = None) -> Any:
    """Return a copy of ``value`` with absent object properties filled from
    schema ``default``s (the reference's enable_defaults option — ours never
    mutates the input; SURVEY.md 2(a).26)."""
    registry, _ = parse_schema(schema, registry)

    def walk(node: Any, v: Any, seen: frozenset) -> Any:
        if not isinstance(node, dict) or id(node) in seen:
            return v
        seen = seen | {id(node)}
        if "$ref" in node:
            sub, _, _ = registry.resolve(node["$ref"], "")
            return walk(sub, v, seen)
        if isinstance(v, dict):
            result = dict(v)
            for k, sub in (node.get("properties") or {}).items():
                if k not in result and isinstance(sub, dict) and "default" in sub:
                    result[k] = sub["default"]
                elif k in result:
                    result[k] = walk(sub, result[k], seen)
            return result
        if isinstance(v, list) and isinstance(node.get("items"), dict):
            return [walk(node["items"], el, seen) for el in v]
        return v

    return walk(schema, value, frozenset())
