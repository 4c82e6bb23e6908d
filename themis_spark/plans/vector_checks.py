"""Vectorized Arrow-compute pattern predicate — the north star's "regex
via pyarrow.compute" (BASELINE.json) batch mechanism.

:func:`re2_pattern_predicate` is the MIDDLE tier between JVM-native
Column expressions and the per-value Python validator closures: pattern
evaluation through ``pyarrow.compute.match_substring_regex`` (RE2,
vectorized C++ over the Arrow batch; regex_triage.re2_safe_pattern gates
which patterns may take it with Python-equivalent semantics). Enum
membership needs no such tier: ``compiler.member_of`` builds one native
``In``, which Catalyst turns into ``InSet`` — the north star's
"broadcast hash set", shipped with each task.

The predicate is a plain ``Column -> Column`` factory producing a boolean
``pandas_udf`` column, so it composes with the native checks inside
``_compile_sub`` exactly like an ``rlike`` predicate would — same
violation assembly, same three-valued NULL convention (NULL in → NULL
out → pass). It is only ever attached at plain-column contexts
(top-level columns, struct fields) — never inside higher-order-function
lambdas, where Spark forbids Python UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def re2_pattern_predicate(pattern: str):
    """``col -> boolean Column``: unanchored RE2 search (ECMA 'pattern'
    semantics), vectorized via pyarrow.compute. NULL propagates."""
    @F.pandas_udf("boolean")
    def _match(s: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.Array.from_pandas(s, type=pa.string())
        return pc.match_substring_regex(arr, pattern=pattern).to_pandas()

    def build(col: Column) -> Column:
        return _match(col)

    return build
