"""The fused per-partition validate pass (SURVEY.md 2(b).2).

One ``select`` computes every compiled keyword check (native Column trees
→ whole-stage codegen) plus the Arrow-path validators, producing a single
``violations`` array column per row. Violation detail rows, per-partition
verdicts, and column stats all derive from that one annotated frame — the
pass itself is shuffle-free by construction; only the tiny verdict/stats
aggregations exchange data.

Reference parity: the single-pass collect-all-errors walk of
playlyfe/themis (src/themis.js generated validators push every failing
keyword into one report), lifted from one document to one table partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from themis_spark.plans.compiler import CompiledPlan


def annotate(
    df: DataFrame,
    plan: CompiledPlan,
    keep: list[str] | None = None,
    defer_residual: bool = False,
) -> DataFrame:
    """Project the input down to what's needed (column pruning — never
    drag ``html`` binary through the pass unless a check reads it) and
    attach the fused ``violations`` array + ``n_violations``.

    The deep-recursion residue (rows past the Variant unroll depth, see
    ``CompiledPlan.residual_gate``) is validated one of two ways:

    * ``defer_residual=False`` folds it in: the gated Arrow validator
      rides this projection, so the frame is complete. The runner takes
      this arm when the projection already calls Python
      (``plan.main_calls_python``): the UDF joins the ArrowEvalPython
      node that runs anyway, with no second scan or JSON parse.
    * ``defer_residual=True`` keeps it OUT (no Python workers in the
      main scan); the caller owes :func:`residual_violations_df` rows for
      the gated rows. The runner takes this arm for Python-free plans and
      runs that job only when some row of the batch is gated.

    Whenever the plan has a gate, the frame also carries ``_residual_row``
    (1 for a gated row, else 0), on both arms, so one aggregate over the
    write job counts the rows on the residual path."""
    passthrough = [c for c in (keep or df.columns) if c in df.columns]
    # prepare(): materialize try_parse_json once per dynamic-JSON column —
    # the variant-native checks then probe the parsed binary instead of
    # re-parsing the string per keyword
    cols = [
        *passthrough,
        plan.violations_col(include_gated_arrow=not defer_residual).alias("violations"),
    ]
    gate = plan.residual_gate()
    if gate is not None:
        cols.append(gate.cast("int").alias("_residual_row"))
        if defer_residual:
            # marker: this frame's n_violations EXCLUDES the deep-recursion
            # residue — verdicts_df refuses it so callers can't silently
            # compute passed=true for partitions whose only violations are
            # in the residual (round-1 ADVICE). The runner adds the
            # residual job's counts instead.
            cols.append(F.lit(True).alias("_residual_deferred"))
    out = plan.prepare(df).select(*cols)
    return out.withColumn("n_violations", F.size("violations"))


def violations_df(
    annotated: DataFrame,
    key_col: str = "url",
    partition_col: str | None = "part_id",
    run_id: str = "r0",
) -> DataFrame:
    """Explode the violations array into the reference-contract rows
    (url, partition_id, run_id, keyword, instance_path, schema_path,
    detail) — FIXTURES.md §2."""
    cols = [F.col(key_col).alias("url")]
    if partition_col and partition_col in annotated.columns:
        cols.append(F.col(partition_col).cast("string").alias("partition_id"))
    else:
        cols.append(F.lit("0").alias("partition_id"))
    # no pre-filter on n_violations: explode() already drops empty arrays,
    # and a filter would force a second evaluation of the (expensive)
    # violations expression — one ArrowEvalPython + one codegen pass total
    return (
        annotated.select(*cols, F.explode("violations").alias("v"))
        .select(
            "url",
            "partition_id",
            F.lit(run_id).alias("run_id"),
            F.col("v.keyword").alias("keyword"),
            F.col("v.instance_path").alias("instance_path"),
            F.col("v.schema_path").alias("schema_path"),
            F.col("v.detail").alias("detail"),
        )
    )


def residual_violations_df(
    df: DataFrame,
    plan: CompiledPlan,
    key_col: str = "url",
    partition_col: str | None = "part_id",
    run_id: str = "r0",
) -> DataFrame | None:
    """Violation rows for the deep-recursion residue: rows whose dynamic
    JSON exceeds the variant unroll depth, validated WHOLE by the Arrow
    batch validator (native checks are deep-gated off, so these rows and
    those of ``annotate(defer_residual=True)`` never double-report).

    Runs as its own job over a column-pruned scan (JSON column + keys
    only — never text/html) so the main pass stays Python-free. The
    runner runs it only for a Python-free plan and only when the main
    write job counted gated rows (``_residual_row``); it then appends
    these rows into the batch's violations directory after the main
    overwrite and before the lineage commit. The gate is evaluated
    INSIDE the projection — ``when(gate, payload)`` NULLs
    the UDF input for shallow rows — and deliberately NOT as a
    ``.filter(gate)``: Spark's predicate pushdown inlines the gate's
    aliased ``try_parse_json`` into a Filter node, and FilterExec codegen
    has no subexpression elimination, so every variant probe re-parses
    the JSON per row (measured 64 s vs 7 s for the SAME gate on 8M rows
    at 16 cores). Projections keep CSE; explode drops the empties.
    Returns None when the plan has no gated residue."""
    gate = plan.residual_gate()
    if gate is None:
        return None
    from themis_spark.plans.arrow_validators import (
        decode_violations,
        violations_pandas_udf,
    )

    deep = plan.prepare(df)
    arr = None
    for spec in plan.arrow_specs:
        if spec.gate is None:
            continue
        udf = violations_pandas_udf(spec.validator, spec.instance_prefix)
        piece = decode_violations(udf(F.when(spec.gate, spec.payload_col())))
        arr = piece if arr is None else F.concat(arr, piece)
    cols = [F.col(key_col).alias("url")]
    if partition_col and partition_col in df.columns:
        cols.append(F.col(partition_col).cast("string").alias("partition_id"))
    else:
        cols.append(F.lit("0").alias("partition_id"))
    return (
        deep.select(*cols, F.explode(arr).alias("v"))
        .select(
            "url",
            "partition_id",
            F.lit(run_id).alias("run_id"),
            F.col("v.keyword").alias("keyword"),
            F.col("v.instance_path").alias("instance_path"),
            F.col("v.schema_path").alias("schema_path"),
            F.col("v.detail").alias("detail"),
        )
    )


def verdicts_df(
    annotated: DataFrame,
    partition_col: str | None = "part_id",
    run_id: str = "r0",
) -> DataFrame:
    """Per-partition pass/fail verdict (FIXTURES.md §2): partial+final
    hash agg, one tiny exchange.

    Refuses frames produced by ``annotate(defer_residual=True)`` when the
    plan actually had a residual gate: their n_violations excludes the
    deep-recursion rows, so a verdict from them could claim passed=true
    for a partition whose only violations are in the residual."""
    if "_residual_deferred" in annotated.columns:
        raise ValueError(
            "annotate(defer_residual=True) produced this frame and the plan "
            "has a gated Arrow residue: its violation counts are incomplete. "
            "Add the counts of residual_violations_df() rows instead "
            "(see runner.run_validation).")
    part: Column = (
        F.col(partition_col).cast("string")
        if partition_col and partition_col in annotated.columns
        else F.lit("0")
    )
    return (
        annotated.groupBy(part.alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_violations").alias("violation_rows"),
        )
        .select(
            "partition_id",
            F.lit(run_id).alias("run_id"),
            "rows",
            "violation_rows",
            (F.col("violation_rows") == 0).alias("passed"),
        )
    )
