"""Vectorized Arrow/pandas batch validators — the engine's "A" path.

Everything native Columns can't express (cyclic $refs, deep JSON equality,
ECMA-regex-only patterns, unknown-shape objects) runs here: a compiled
Python closure validator (plans/pyvalidator.py — the analogue of the
reference's generated JS functions in playlyfe/themis src/themis.js)
applied over Arrow record batches via ``pandas_udf``. Data crosses the
JVM↔Python boundary once per batch, never per row (BASELINE.json
input_hint: vectorized pandas/Arrow UDFs, no per-row Python UDFs).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from themis_spark.plans.compiler import VIOLATION_ARRAY_TYPE
from themis_spark.plans.pyvalidator import PyValidator


def violations_pandas_udf(validator: PyValidator, instance_prefix: str = "$"):
    """Build an Arrow-batched UDF: JSON-string column → array<violation>
    (NULL = no violations). Wrap it in :func:`decode_violations`.

    The UDF returns the violation structs themselves, so the JVM side
    needs no decode beyond a ``coalesce``. Splitting a delimited string
    back into structs would need ``transform``, a higher-order function:
    it is CodegenFallback and takes the whole fused projection around it
    out of whole-stage codegen. Only rows with violations build Python
    structs.

    The validator closure tree is compiled ONCE on the driver and
    cloudpickled to executors; regexes inside it are pre-compiled
    (reference parity: Themis precompiles RegExp objects at codegen time).
    """
    validate = validator.validate
    malformed = [{"keyword": "type", "instance_path": instance_prefix,
                  "schema_path": f"{validator.root_uri}#", "detail": None}]

    def _batch(series: pd.Series) -> pd.Series:
        out = []
        for raw in series:
            if raw is None:
                out.append(None)  # absent — presence is `required`'s job
                continue
            try:
                doc = json.loads(raw) if isinstance(raw, str) else raw
            except (ValueError, TypeError):
                out.append(malformed)
                continue
            vs = validate(doc, instance_prefix)
            out.append(
                [{"keyword": v.keyword, "instance_path": v.instance_path,
                  "schema_path": v.schema_path, "detail": None} for v in vs]
                or None
            )
        return pd.Series(out)

    return pandas_udf(_batch, VIOLATION_ARRAY_TYPE)


def decode_violations(violations: Column) -> Column:
    """The UDF's NULL (no violations) → empty array<violation>."""
    return F.coalesce(violations, F.array().cast(VIOLATION_ARRAY_TYPE))
