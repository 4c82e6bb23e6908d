"""Regex dialect triage for the native compile paths (SURVEY.md §7.3.3).

Schema ``pattern`` strings are ECMA-262; the engine's ground truth
(plans/pyvalidator.py) evaluates them with Python ``re`` (Unicode
semantics); the native Column paths evaluate them with Java regex via
``rlike``. The dialects diverge in four load-bearing ways (round-1 ADVICE):

1. Python/ECMA-valid syntax that Java rejects — e.g. ``(?P<g>ab)+`` —
   raises ``PatternSyntaxException`` on EXECUTORS at runtime, aborting
   the whole job long after compile succeeded.
2. ``\\d``/``\\w``/``\\b``/``\\s`` default to ASCII classes in Java but
   Unicode in Python ``re`` — silent divergence on non-ASCII input.
3. Java's ``$`` and ``.`` know five line terminators, Python's only
   ``\\n`` — aligned by the ``(?d)`` (UNIX_LINES) prefix.
4. Inside a character class Java reads ``&&`` as intersection and a
   nested ``[`` as union; Python reads both literally. Such patterns
   never take the Java tier.

``java_safe_pattern`` is the compile-time bail-out both native paths
share: it returns a Java pattern aligned with Python semantics for the
supported subset, or None, in which case the caller must route the check
through the Arrow/Python path (plans/compiler.py falls back to an Arrow
wrapper spec; plans/variant_native.py raises ``_Unsupported``).
"""

from __future__ import annotations

import re

# Python-only syntax: Java-invalid (named groups/backrefs in Python
# spelling) or differently interpreted (comments). Conservative substring
# checks — false positives just mean the Arrow path runs, never a wrong
# answer.
_PY_ONLY_TOKENS = ("(?P<", "(?P=", "(?#", r"\A", r"\Z")

# Predefined classes whose Java defaults are ASCII-only; prefixing the
# pattern with (?U) (UNICODE_CHARACTER_CLASS) aligns them with Python re.
_CLASS_SHORTHAND = re.compile(r"\\[dwbsDWBS]")

# ECMA-262 named groups `(?<name>...)` and backrefs `\k<name>`: Java
# accepts the ECMA spelling natively; Python `re` requires `(?P<name>`
# / `(?P=name)`. The `[A-Za-z_]` first char keeps lookbehinds `(?<=`
# `(?<!` out of the match.
_ECMA_NAMED_GROUP = re.compile(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>")
_ECMA_NAMED_BACKREF = re.compile(r"\\k<([A-Za-z_][A-Za-z0-9_]*)>")


def python_pattern(pattern: str) -> str:
    """Python-``re`` form of an ECMA-262 schema pattern: translates the
    ECMA named-group/backref spellings Python rejects. Every Python
    compile site of a schema ``pattern`` (the Arrow ground-truth path,
    patternProperties key matching) must go through this, or a
    conformant schema like ``(?<y>\\d{4})-\\k<y>`` fails to compile."""
    out = _ECMA_NAMED_GROUP.sub(r"(?P<\1>", pattern)
    return _ECMA_NAMED_BACKREF.sub(r"(?P=\1)", out)


def _jvm_pattern_compiles(pattern: str) -> bool | None:
    """Driver-side java.util.regex.Pattern.compile probe. Returns None
    when no JVM is reachable (plan built before a SparkSession exists) —
    callers then rely on the token heuristics alone. The JVM comes from
    the active SparkContext: ``SparkSession.getActiveSession()`` is None
    on a Python thread other than the session's."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is None:
        return None
    try:
        sc._jvm.java.util.regex.Pattern.compile(pattern)  # noqa: SLF001
        return True
    except Exception:  # PySpark converts the Java exception to its own
        return False


# RE2 (the engine behind pyarrow.compute's regex kernels) is the middle
# tier BASELINE.json's north star names ("regex via pyarrow.compute"):
# vectorized C++ evaluation for patterns Java rejects but RE2 accepts
# with Python-equivalent semantics. RE2 has NO backrefs or lookaround,
# and its \d/\w/\s/\b classes are ASCII where Python's are Unicode — all
# of those must stay off this tier (conservative: a miss just means the
# per-value Python path runs, never a wrong answer).
_RE2_UNSUPPORTED = ("(?P=", "(?#", "(?=", "(?!", "(?<=", "(?<!",
                    r"\b", r"\B", r"\k<")
_NUMERIC_BACKREF = re.compile(r"\\[1-9]")


# an inline flag group that turns on MULTILINE, where Python's ``$``
# matches before every ``\n``
_MULTILINE_FLAG = re.compile(r"\(\?[a-zA-Z-]*m")


def _tokens(pattern: str):
    """Yield ``(i, token, in_class)`` for each token of a Python
    pattern: an escape pair such as ``\\$`` or one character.
    ``in_class`` says whether the token lies inside a character class:
    the ``[`` that opens a class does not, the ``]`` that closes it
    does. A ``]`` right after ``[`` or ``[^`` is a literal member, as in
    Python."""
    i, n, cls_start = 0, len(pattern), None
    while i < n:
        tok = pattern[i:i + 2] if pattern[i] == "\\" else pattern[i]
        yield i, tok, cls_start is not None
        if cls_start is not None:
            if tok == "]" and i > cls_start:
                cls_start = None
        elif tok == "[":
            cls_start = i + 1 + (pattern[i + 1:i + 2] == "^")
        i += len(tok)


def _translate_anchors(pattern: str) -> str | None:
    """RE2 spelling of Python's end anchors, or None when a ``$`` has no
    translation here.

    Python's ``\\Z`` (absolute end) is RE2's ``\\z``. Python's ``$``
    also matches before one trailing ``\\n``, RE2's only at the absolute
    end: a ``$`` that ends the pattern or a top-level alternative
    becomes ``\\n?\\z`` (nothing follows it, so the verdict is the
    same); a ``$`` anywhere else, or under a multi-line flag, gives
    None. Escape and class state are walked (:func:`_tokens`), so
    ``\\\\Z``, ``\\$`` and ``[$]`` stay literal."""
    out: list[str] = []
    depth = 0
    for i, tok, in_class in _tokens(pattern):
        if tok == "\\Z":
            tok = "\\z"
        elif not in_class:
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif tok == "$":
                if (depth or pattern[i + 1:i + 2] not in ("", "|")
                        or _MULTILINE_FLAG.search(pattern)):
                    return None
                tok = "\\n?\\z"
        out.append(tok)
    return "".join(out)


def _java_class_operators(pattern: str) -> bool:
    """Does a character class of ``pattern`` hold ``&&`` or an unescaped
    ``[``? Java reads them as class intersection and union (``[a&&b]``
    matches nothing, ``[a[bc]]`` is one class); Python and RE2 read them
    as literal members."""
    return any(in_class and (tok == "[" or pattern.startswith("&&", i))
               for i, tok, in_class in _tokens(pattern))


def re2_safe_pattern(pattern: str) -> str | None:
    """RE2 form of an ECMA/Python schema pattern, or None when the
    pattern must take the per-value Python path. Only called for
    patterns :func:`java_safe_pattern` already rejected — the tier
    order is Java-native → RE2/Arrow → Python.

    Accepted here: Python-spelling named groups ``(?P<g>…)`` (RE2
    supports the spelling natively, same semantics without backrefs)
    and the ``\\A``/``\\Z``/``$`` anchors (see
    :func:`_translate_anchors`). Rejected: backrefs, comments,
    lookaround, word boundaries, the ASCII-vs-Unicode class shorthands,
    a ``[:`` inside a class (RE2 reads ``[[:alpha:]]`` as a POSIX
    class, Python as the members ``[:alph`` and a literal ``]``), and a
    ``$`` that is not final. A final probe compiles the
    candidate through pyarrow.compute itself (authoritative — catches
    anything RE2 rejects that the token checks missed)."""
    if _CLASS_SHORTHAND.search(pattern):
        return None
    if any(tok in pattern for tok in _RE2_UNSUPPORTED):
        return None
    if _NUMERIC_BACKREF.search(pattern):
        return None
    if any(in_class and pattern.startswith("[:", i)
           for i, _, in_class in _tokens(pattern)):
        return None
    try:
        # the Python ground truth must accept it in ITS dialect
        re.compile(python_pattern(pattern))
    except re.error:
        return None
    out = _translate_anchors(pattern)
    if out is None:
        return None
    try:
        import pyarrow as pa
        import pyarrow.compute as pc

        pc.match_substring_regex(pa.array([], type=pa.string()), pattern=out)
    except Exception:
        return None
    return out


def java_safe_pattern(pattern: str) -> str | None:
    """Java-regex form of an ECMA/Python schema pattern, or None when the
    pattern must take the Python (Arrow) path.

    The returned pattern carries a leading ``(?d)`` (UNIX_LINES): Java's ``$``
    and ``.`` otherwise treat ``\\r``, ``\\u0085``, ``\\u2028`` and
    ``\\u2029`` as line terminators too, while Python's treat only
    ``\\n`` (``^abc$`` would accept ``"abc\\r"``, ``^a.b$`` reject
    ``"a\\rb"``). It may also carry ``(?U)`` so Java's
    ``\\d``/``\\w``/``\\b`` match Python's Unicode-aware classes.
    """
    if any(tok in pattern for tok in _PY_ONLY_TOKENS):
        return None
    try:
        # ground truth must accept it too — in ITS dialect: the Python
        # side compiles the ECMA→Python translation, so ECMA named
        # groups (Java-native spelling) stay on the native path
        re.compile(python_pattern(pattern))
    except re.error:
        return None
    if _java_class_operators(pattern):
        return None
    out = "(?d)" + pattern
    if _CLASS_SHORTHAND.search(pattern):
        out = "(?U)" + out
    if _jvm_pattern_compiles(out) is False:
        return None
    return out
