"""Per-column statistics, fused into one aggregation pass (SURVEY 2(b).3–5).

Everything is a single ``groupBy(partition_id).agg(...)`` — Catalyst
splits it into partial (map-side) + final aggregation automatically, so
at 1000 executors each partition contributes one tiny partial row and the
exchange is negligible. Histograms use FIXED equi-width buckets compiled
into conditional-sum expressions (pure codegen, no extra shuffle, no
second scan) so they stay mergeable across partitions and across resumed
runs. Distinct counts use HLL sketches (mergeable binary state).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class HistSpec:
    column: str
    lo: float
    hi: float
    nbins: int = 20


_HLL_OK = (T.StringType, T.IntegerType, T.LongType, T.BinaryType)


def _hist_array(col: Column, spec: HistSpec) -> Column:
    """Equi-width histogram as nbins+2 conditional sums (bucket 0 =
    underflow, nbins+1 = overflow) — width_bucket semantics, expressed so
    the whole histogram rides in the same hash-agg as min/max/count.
    The column is cast to double first so timestamps histogram on epoch
    seconds and non-numeric values fall into no bucket (NULL)."""
    col = col.cast("double")
    w = (spec.hi - spec.lo) / spec.nbins
    bucket = F.when(col.isNull(), F.lit(None)).when(col < spec.lo, F.lit(0)).when(
        col >= spec.hi, F.lit(spec.nbins + 1)
    ).otherwise((F.floor((col - spec.lo) / F.lit(w)) + 1).cast("int"))
    return F.array(
        *[
            F.coalesce(F.sum(F.when(bucket == i, 1).otherwise(0)), F.lit(0)).cast("long")
            for i in range(spec.nbins + 2)
        ]
    )


def column_stats(
    df: DataFrame,
    columns: list[str],
    partition_col: str | None = "part_id",
    hist_specs: list[HistSpec] | None = None,
    run_id: str = "r0",
    with_hll: bool = True,
) -> DataFrame:
    """One-pass per-partition stats → long-format metrics rows
    (FIXTURES.md §2 metrics schema)."""
    hist_by_col = {h.column: h for h in (hist_specs or [])}
    dtypes = dict(df.dtypes)
    part: Column = (
        F.col(partition_col).cast("string")
        if partition_col and partition_col in df.columns
        else F.lit("0")
    )

    aggs: list[Column] = []
    for c in columns:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}__cnt"))
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"))
        aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
        field = df.schema[c].dataType
        if with_hll and isinstance(field, _HLL_OK):
            aggs.append(F.hll_sketch_agg(col).alias(f"{c}__hll"))
        else:
            aggs.append(F.lit(None).cast("binary").alias(f"{c}__hll"))
        if c in hist_by_col:
            spec = hist_by_col[c]
            aggs.append(_hist_array(col, spec).alias(f"{c}__hist"))
            aggs.append(F.lit(float(spec.lo)).alias(f"{c}__hist_lo"))
            aggs.append(F.lit(float(spec.hi)).alias(f"{c}__hist_hi"))
        else:
            aggs.append(F.lit(None).cast("array<long>").alias(f"{c}__hist"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__hist_lo"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__hist_hi"))

    wide = df.groupBy(part.alias("partition_id")).agg(*aggs)

    # wide → long: one struct per column, exploded. The agg result is a
    # handful of rows (one per partition), so this reshape is free.
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__cnt").alias("cnt"),
            F.col(f"{c}__nulls").alias("nulls"),
            F.col(f"{c}__min").alias("min_v"),
            F.col(f"{c}__max").alias("max_v"),
            F.col(f"{c}__hll").alias("hll_sketch"),
            F.col(f"{c}__hist").alias("histogram"),
            F.col(f"{c}__hist_lo").alias("hist_lo"),
            F.col(f"{c}__hist_hi").alias("hist_hi"),
        )
        for c in columns
    ]
    return (
        wide.select("partition_id", F.explode(F.array(*structs)).alias("m"))
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "m.column", "m.cnt", "m.nulls", "m.min_v", "m.max_v",
            "m.hll_sketch", "m.histogram", "m.hist_lo", "m.hist_hi",
        )
    )


def distinct_estimate(metrics: DataFrame, column: str) -> int:
    """Merge per-partition HLL sketches → one distinct estimate. Sketches
    are mergeable across partitions AND across resumed runs (they're
    stored in the metrics table as binary state)."""
    row = (
        metrics.where((F.col("column") == column) & F.col("hll_sketch").isNotNull())
        .agg(F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias("est"))
        .first()
    )
    return int(row["est"]) if row and row["est"] is not None else 0


def merge_histograms(metrics: DataFrame, column: str) -> list[int]:
    """Sum per-partition histogram arrays element-wise (driver-side on the
    tiny metrics frame)."""
    rows = (
        metrics.where((F.col("column") == column) & F.col("histogram").isNotNull())
        .select("histogram")
        .collect()
    )
    if not rows:
        return []
    acc = [0] * len(rows[0]["histogram"])
    for r in rows:
        for i, v in enumerate(r["histogram"]):
            acc[i] += v
    return acc


def _check_comparable(hist_a, hist_b, ta, tb, metric: str) -> None:
    """Incomparable histograms must RAISE, not report stat 0.0: a
    drift monitor that silently answers 'no drift' on a bucket-layout
    mismatch (e.g. baseline nbins=20 vs current nbins=30 after a
    HistSpec change) or on an empty side is a false-negative machine."""
    if len(hist_a) != len(hist_b):
        raise ValueError(
            f"{metric}: histogram layouts differ ({len(hist_a)} vs "
            f"{len(hist_b)} buckets) — recompute both sides with the "
            "same HistSpec before comparing")
    if ta == 0 or tb == 0:
        raise ValueError(f"{metric}: empty histogram side (totals {ta}, {tb})")


def psi_statistic(hist_a: list[int], hist_b: list[int], eps: float = 1e-6) -> float:
    """Population Stability Index between two equi-width histograms with
    the same bucket layout: Σ (p_a − p_b)·ln(p_a/p_b). Conventional
    read: <0.1 stable, 0.1–0.25 moderate shift, >0.25 drifted. Zero
    proportions are floored at ``eps`` (standard smoothing) so empty
    buckets contribute finitely. O(nbins), driver-side — like
    ks_statistic, the bucket counting already happened distributed and
    only O(nbins) numbers ever cross the wire."""
    import math

    ta, tb = sum(hist_a), sum(hist_b)
    _check_comparable(hist_a, hist_b, ta, tb, "psi")
    psi = 0.0
    for a, b in zip(hist_a, hist_b):
        pa = max(a / ta, eps)
        pb = max(b / tb, eps)
        psi += (pa - pb) * math.log(pa / pb)
    return psi


def quantile_stats(
    df: DataFrame,
    column: str,
    probabilities: list[float] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Approximate quantiles per column via Spark's built-in
    percentile_approx (Greenwald-Khanna sketch: mergeable partial state,
    rank error ≤ rows/accuracy — the 10¹²-row plan is one partial+final
    agg, no sort, no shuffle beyond one tiny exchange). Returns one row
    per probability with the approx value AND the sketch's error bound
    so callers can size ``accuracy`` for their tolerance."""
    probabilities = probabilities or [0.25, 0.5, 0.75, 0.95]
    agg = df.agg(
        F.percentile_approx(
            F.col(column), F.array(*[F.lit(p) for p in probabilities]),
            F.lit(accuracy)
        ).alias("qs"),
        F.count(F.col(column)).alias("n"),
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(float(p)) for p in probabilities]).alias("p"),
        F.col("qs").alias("value"),
    )
    return agg.select(
        F.lit(column).alias("column"),
        F.explode(pairs).alias("z"),
        (F.col("n") / F.lit(accuracy)).alias("max_rank_error"),
    ).select(
        "column",
        F.col("z.p").alias("p"),
        F.col("z.value").cast("double").alias("value"),
        "max_rank_error",
    )


def frequent_values(df: DataFrame, column: str, k: int = 10) -> DataFrame:
    """Top-k most frequent values of a column (heavy hitters) — the
    profiling companion to the null/distinct stats: skew diagnosis (which
    url/lang values dominate) and enum discovery both read this.

    Plan: partial+final hash agg on the value (Catalyst splits the
    two phases automatically) → distributed top-k via orderBy+limit,
    which Spark executes as TakeOrderedAndProject (each task keeps a
    k-row heap; the driver merges #partitions × k rows — no global
    sort materializes even at 10¹² rows / high cardinality). The rank
    window runs on the ≤k surviving rows only. Ties break on value
    ascending so the result is deterministic and oracle-replayable.
    """
    from pyspark.sql.window import Window

    counts = (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("value"))
        .limit(k)
    )
    # constant partition key over the ≤k-row frame: F.lit(0) (and cnt*0)
    # get constant-FOLDED out of the partition spec, leaving a
    # partition-less WindowExec + its warning; pmod(cnt, 1) evaluates to
    # the same single partition but survives folding, so the plan
    # carries a real (≤k-row) hash exchange instead of a global window
    w = (Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1)))
         .orderBy(F.desc("cnt"), F.asc("value")))
    return counts.select(
        F.lit(column).alias("column"),
        F.row_number().over(w).alias("rank"),
        F.col("value").cast("string").alias("value"),
        "cnt",
    )


def ks_statistic(hist_a: list[int], hist_b: list[int]) -> float:
    """Two-sample KS statistic between two equi-width histograms with the
    same bucket layout: max |CDF_a − CDF_b|. O(nbins), driver-side —
    the heavy lifting (bucket counting) already happened distributed."""
    ta, tb = sum(hist_a), sum(hist_b)
    _check_comparable(hist_a, hist_b, ta, tb, "ks")
    ca = cb = 0.0
    worst = 0.0
    for a, b in zip(hist_a, hist_b):
        ca += a / ta
        cb += b / tb
        worst = max(worst, abs(ca - cb))
    return worst


def stratified_sample(
    df: DataFrame,
    strata: str,
    rates: dict[str, float],
    key: str,
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sampling (e.g. per-language quotas when
    mixing a training corpus): keep a row iff the portable seeded hash of
    its key falls under the stratum's rate.

    Map-side only — a scan-stage filter, zero shuffle, no rand(): the
    same (key, seed) always samples the same way, so checkpoint-resumed
    runs and the DuckDB oracle reproduce the sample exactly
    (``hash60_seeded`` replays as ``('0x'||substr(md5(seed||':'||key),1,15))::BIGINT``).
    Rates are applied at 1e-6 granularity.
    """
    from themis_spark.functions.hashing import hash60_seeded

    bucket = F.pmod(hash60_seeded(F.col(key), seed), F.lit(1_000_000))
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata) == value, F.lit(float(r))).otherwise(rate)
    return df.where(bucket < (rate * 1_000_000.0).cast("long"))


def group_sample(
    df: DataFrame,
    by: str,
    k: int,
    key: str,
    seed: int = 0,
) -> DataFrame:
    """Exactly ``min(k, group size)`` rows per group, deterministically:
    rank rows inside each group by the portable seeded hash of their
    key (ties broken by the key itself — a total order) and keep the
    first k. The fixed-size counterpart of rate-based sampling
    (:func:`stratified_sample`): eval-set construction, per-language
    spot-check samples, debugging slices.

    No ``rand()`` — the same (key, seed) always selects the same rows,
    so resumed runs and the DuckDB oracle reproduce the sample exactly.
    ONE exchange on the group key; Spark's rank-limit pushdown
    (WindowGroupLimit) prunes each task to its local top-k BEFORE the
    shuffle, so the exchange carries O(tasks×k) rows per group, not
    the whole corpus.
    """
    from pyspark.sql.window import Window

    from themis_spark.functions.hashing import hash60_seeded

    w = Window.partitionBy(by).orderBy(
        hash60_seeded(F.col(key), seed).asc(), F.col(key).asc())
    return (
        df.where(F.col(by).isNotNull() & F.col(key).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def mixture_plan(
    df: DataFrame,
    strata: str,
    parts: dict[str, int],
    budget: int,
    size_col: str | None = None,
) -> DataFrame:
    """Training-mixture planning: given integer mixture ``parts`` (e.g.
    ``{"en": 5, "de": 3, "fr": 2}``) and a total ``budget`` (rows, or
    ``size_col`` units such as chars/tokens), compute per-stratum
    availability, target, and the deterministic sampling rate that
    :func:`mixture_take` applies.

    All arithmetic is integer (targets via ``budget*part//total_parts``,
    rates in ppm via decimal floor-division) so the plan is exact and
    bit-identical in the DuckDB oracle — no float rounding can move a
    row across the sample boundary. Rates cap at 1e6 ppm: a stratum
    with less data than its target contributes everything it has
    (callers detect shortfall via ``target > avail``).

    ONE aggregation on the strata key (map-side combined; #groups =
    #languages/sources, tiny) — the plan output is one row per stratum.
    """
    total_parts = sum(parts.values())
    if total_parts <= 0:
        raise ValueError("parts must sum to a positive integer")
    size = F.lit(1) if size_col is None else F.col(size_col)
    avail = (
        df.where(F.col(strata).isin(*parts.keys()))
        .groupBy(strata)
        .agg(F.sum(size).cast("long").alias("avail"))
    )
    part = F.lit(0)
    for value, p in sorted(parts.items()):
        part = F.when(F.col(strata) == value, F.lit(int(p))).otherwise(part)
    target = F.floor(F.lit(int(budget)).cast("decimal(38,0)") * part
                     / F.lit(int(total_parts))).cast("long")
    rate = F.least(
        F.lit(1_000_000).cast("long"),
        F.floor(F.col("target").cast("decimal(38,0)") * 1_000_000
                / F.col("avail")).cast("long"),
    )
    return (
        avail.withColumn("target", target)
        .withColumn("rate_ppm", rate)
        .select(strata, "avail", "target", "rate_ppm")
    )


def mixture_take(
    df: DataFrame,
    plan: DataFrame,
    strata: str,
    key: str,
    seed: int = 0,
) -> DataFrame:
    """Apply a :func:`mixture_plan`: keep a row iff the portable seeded
    hash of its key falls under its stratum's ``rate_ppm``.

    The plan is one row per stratum — broadcast join, so the take is a
    scan-stage filter with zero shuffle of the corpus, deterministic
    across reruns/resumes (no ``rand()``), and DuckDB-replayable via
    the md5-based hash.
    """
    from themis_spark.functions.hashing import hash60_seeded

    bucket = F.pmod(hash60_seeded(F.col(key), seed), F.lit(1_000_000))
    return (
        df.join(F.broadcast(plan.select(strata, "rate_ppm")), strata)
        .where(bucket < F.col("rate_ppm"))
        .drop("rate_ppm")
    )


def suggest_constraints(
    df: DataFrame,
    columns: list[str],
    enum_max_distinct: int = 20,
    exact: bool = False,
) -> DataFrame:
    """Constraint DISCOVERY over typed columns — the table-level
    complement of plans/infer.py's schema inference: one aggregation pass
    profiles each column and flags which engine checks it would support,
    as ``(column, n_rows, n_nulls, n_distinct, min_v, max_v,
    not_null_candidate, unique_candidate, enum_candidate)``.

    * ``not_null_candidate`` — zero nulls ⇒ draft-4 ``required``.
    * ``unique_candidate`` — distinct count equals non-null count ⇒ feed
      to constraints.duplicate_keys as a uniqueness key.
    * ``enum_candidate`` — ≤ ``enum_max_distinct`` distinct values ⇒
      draft-4 ``enum`` (fetch the actual values with a follow-up
      ``frequent_values`` call, bounded by the same threshold).

    ``exact=False`` (default) estimates distinct counts with the
    mergeable HLL sketch — the only scale-sane choice at 10¹² rows, with
    ±2% error, so the uniqueness flag compares against a 2% band.
    ``exact=True`` uses a real distinct aggregation (oracle-replayable;
    fine at test scale). Either way: ONE job, partial+final aggregation,
    a single result row crossing the wire.
    """
    aggs: list[Column] = []
    for c in columns:
        col = F.col(c)
        aggs.append(F.count(F.lit(1)).alias(f"{c}__n"))
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        if exact:
            aggs.append(F.countDistinct(col).alias(f"{c}__nd"))
        else:
            aggs.append(
                F.hll_sketch_estimate(F.hll_sketch_agg(col.cast("string")))
                .alias(f"{c}__nd"))
        aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
    wide = df.agg(*aggs)

    tol = 1.0 if exact else 0.98  # HLL ±2% band for the uniqueness flag
    structs = []
    for c in columns:
        n, nulls, nd = F.col(f"{c}__n"), F.col(f"{c}__nulls"), F.col(f"{c}__nd")
        structs.append(F.struct(
            F.lit(c).alias("column"),
            n.alias("n_rows"),
            nulls.alias("n_nulls"),
            nd.cast("long").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_v"),
            F.col(f"{c}__max").alias("max_v"),
            (nulls == 0).alias("not_null_candidate"),
            ((n - nulls > 0) & (nd >= tol * (n - nulls))).alias("unique_candidate"),
            ((nd > 0) & (nd <= enum_max_distinct)).alias("enum_candidate"),
        ))
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def outlier_bounds(
    df: DataFrame,
    column: str,
    by: list[str] | None = None,
    k: float = 1.5,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Tukey-fence outlier bounds for a numeric column, optionally per
    group: ``(by..., q1, q3, lo, hi)`` with ``lo = q1 − k·IQR`` and
    ``hi = q3 + k·IQR``.

    ``exact=False`` (default, the 10¹²-row path) uses the mergeable
    Greenwald-Khanna sketch (percentile_approx): partial+final agg, no
    sort. ``exact=True`` uses the exact interpolated percentile — it
    buffers each group's values in the agg state, so reserve it for
    test scale or low-cardinality groups; DuckDB's ``quantile_cont``
    replays it exactly (both interpolate at rank (n−1)·p), which is what
    the oracle gate uses.
    """
    probs = F.array(F.lit(0.25), F.lit(0.75))
    q = (
        F.percentile(F.col(column), probs) if exact
        else F.percentile_approx(F.col(column), probs, F.lit(accuracy))
    ).alias("q")
    grouped = df.groupBy(*(by or []))
    iqr = F.col("q3") - F.col("q1")
    return (
        grouped.agg(q)
        .select(
            *(by or []),
            F.col("q")[0].cast("double").alias("q1"),
            F.col("q")[1].cast("double").alias("q3"),
        )
        .select(
            "*",
            (F.col("q1") - k * iqr).alias("lo"),
            (F.col("q3") + k * iqr).alias("hi"),
        )
    )


def clip_outliers(
    df: DataFrame,
    column: str,
    by: list[str] | None = None,
    k: float = 1.5,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Winsorize: clamp ``column`` into its (optionally per-group) Tukey
    fences — the standard heavy-tail taming step before averaging or
    model fitting. Adds ``<column>_clipped`` and ``<column>_was_clipped``
    next to the original (never mutates it — same contract as the
    repair pass).

    The bounds frame from :func:`outlier_bounds` is O(groups) and
    broadcasts; the corpus never shuffles (bounds are the only
    aggregation — the clip itself is a scan-stage projection after the
    broadcast join).
    """
    bounds = outlier_bounds(df, column, by, k, exact, accuracy).select(
        *(by or []), "lo", "hi")
    j = (df.join(F.broadcast(bounds), by) if by
         else df.join(F.broadcast(bounds)))
    c = F.col(column).cast("double")
    # explicit NULL guard: Spark's greatest/least SKIP nulls, so an
    # unguarded clamp would rewrite NULL values to the lower fence
    clipped = F.when(
        c.isNotNull(), F.least(F.greatest(c, F.col("lo")), F.col("hi")))
    return j.select(
        *df.columns,
        clipped.alias(f"{column}_clipped"),
        (c.isNotNull() & ((c < F.col("lo")) | (c > F.col("hi"))))
        .alias(f"{column}_was_clipped"),
    )


def outlier_stats(
    df: DataFrame,
    column: str,
    by: list[str] | None = None,
    k: float = 1.5,
    exact: bool = False,
) -> DataFrame:
    """Per-group outlier report: ``(by..., q1, q3, lo, hi, n_low,
    n_high, n_outliers, n_rows)``.

    Two aggregations over the scan plus one broadcast join: the bounds
    frame is O(groups) rows (tiny), so Spark broadcasts it and the
    second pass stays shuffle-free on the fact side — the right plan at
    any scale. No driver-side collect.
    """
    bounds = outlier_bounds(df, column, by=by, k=k, exact=exact)
    joined = (
        df.join(F.broadcast(bounds), on=by, how="inner") if by
        else df.crossJoin(F.broadcast(bounds))
    )
    c = F.col(column)
    return joined.groupBy(*(by or []), "q1", "q3", "lo", "hi").agg(
        F.sum((c < F.col("lo")).cast("long")).alias("n_low"),
        F.sum((c > F.col("hi")).cast("long")).alias("n_high"),
        F.sum(((c < F.col("lo")) | (c > F.col("hi"))).cast("long")).alias("n_outliers"),
        F.count(c).alias("n_rows"),
    )


def outlier_rows(
    df: DataFrame,
    column: str,
    key: str,
    by: list[str] | None = None,
    k: float = 1.5,
    exact: bool = False,
) -> DataFrame:
    """The offending rows themselves: ``(key, by..., value, lo, hi)``
    for every row outside the Tukey fences — the violation-row analogue
    of the engine's constraint checks, same broadcast-join shape as
    ``outlier_stats``."""
    bounds = outlier_bounds(df, column, by=by, k=k, exact=exact)
    joined = (
        df.join(F.broadcast(bounds), on=by, how="inner") if by
        else df.crossJoin(F.broadcast(bounds))
    )
    c = F.col(column)
    return joined.where((c < F.col("lo")) | (c > F.col("hi"))).select(
        F.col(key), *(by or []), c.cast("double").alias("value"), "lo", "hi"
    )


def key_skew_report(df: DataFrame, key: str, k: int = 10) -> DataFrame:
    """Join/agg-key skew diagnostics: one row — ``(n_rows, n_keys,
    max_cnt, top1_share_ppm, topk_share_ppm)`` — quantifying how much
    of the table the hottest key(s) hold. The operational pre-check
    behind every salting/broadcast decision in this engine (uniqueness
    salting, LSH bucket caps, AQE skew joins): a top1_share in the
    percents means a plain shuffle on this key will straggle.

    Plan shape: per-key counts (map-side combined — the exchange
    carries one row per key), then two tiny rollups over that frame:
    global totals, and the k largest counts via orderBy+limit (executed
    as ``TakeOrderedAndProject`` — per-task k-row heaps, no global
    sort) reduced to one row and broadcast back. Shares are integer
    ppm (truncated) — exact, oracle-replayable.
    """
    counts = (
        df.where(F.col(key).isNotNull())
        .groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    )
    # bounded top-k: sort_array over collect_list would be O(n_keys) per
    # row-group; instead take the k largest via a global sort limited to
    # k rows (TakeOrderedAndProject — per-task heaps) and cross join the
    # tiny result back with the global totals
    topk = counts.orderBy(F.desc("cnt"), F.asc(key)).limit(k).agg(
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("topk_cnt"),
    )
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return totals.join(F.broadcast(topk)).select(
        "n_rows", "n_keys", "max_cnt",
        (F.col("max_cnt") * 1_000_000 / F.col("n_rows"))
        .cast("long").alias("top1_share_ppm"),
        (F.col("topk_cnt") * 1_000_000 / F.col("n_rows"))
        .cast("long").alias("topk_share_ppm"),
    )


def correlation_matrix(df: DataFrame, columns: list[str],
                       round_to: int = 6) -> DataFrame:
    """Pairwise Pearson correlations over numeric columns —
    ``(col_a, col_b, corr)`` for every a < b pair — the standard
    profiling step before feature selection / redundancy pruning.

    ONE aggregation computes all |cols|·(|cols|−1)/2 coefficients
    (``F.corr`` partials combine map-side: each pair contributes six
    running sums, so the exchange is one tiny row regardless of table
    size); the wide single row reshapes to rows via ``stack``. Rounded
    so the DuckDB oracle replays despite summation order.
    """
    pairs = [(a, b) for i, a in enumerate(columns) for b in columns[i + 1:]]
    if not pairs:
        raise ValueError("need at least two columns")
    aggs = [
        F.round(F.corr(F.col(a).cast("double"), F.col(b).cast("double")),
                round_to).alias(f"c{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs))
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (col_a, col_b, corr)")


# ------------------------------------------------------- sequence packing

def pack_offsets(df: DataFrame, key: str = "doc_id",
                 tokens: str | Column = "n_tokens",
                 ctx_len: int = 2048, buckets: int = 64) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining layout):
    documents are laid out end-to-end in a deterministic global order
    and cut into fixed ``ctx_len``-token training chunks; each document
    gets its token-offset placement — ``(key, bucket, n_tokens,
    start_tok, first_chunk, n_chunks)`` where ``n_chunks`` counts the
    training chunks the document touches.

    The layout order is (portable-hash bucket, key): each bucket is an
    independent packing stream, so the ONLY exchange is the bucket
    repartition and each stream's prefix sum is a linear within-
    partition window scan — at 10¹² documents pick buckets ≈ a few ×
    cores and every stream stays embarrassingly parallel, while a
    single global stream would serialize the cumsum. The deterministic
    (hash, key) order makes packing resume-safe and exactly replayable
    (same property as stratified_sample); the arithmetic is integer
    sums plus an exactly-divisible division (the `(c - c%ctx)/ctx`
    floor), exact while a bucket stream's total tokens stays below 2⁵³
    — at 10¹² docs × 2k tokens that bound needs only ≥ a few hundred
    buckets, which the parallelism guidance above already demands.

    Zero-token documents occupy no chunk (``n_chunks = 0``); documents
    longer than ``ctx_len`` span multiple chunks (they get split at
    chunk boundaries by the downstream loader, the standard concat-
    then-chunk semantics — no padding, fill ratio 1 by construction).
    """
    from pyspark.sql.window import Window

    from themis_spark.functions.hashing import hash60

    # NULL token counts (e.g. token_count_col over NULL text) pack as 0
    # tokens — occupying no chunk — so both engines agree by construction
    tok = F.coalesce(
        (F.col(tokens) if isinstance(tokens, str) else tokens).cast("long"),
        F.lit(0))
    base = df.select(
        F.col(key),
        F.pmod(hash60(F.col(key)), F.lit(buckets)).cast("int").alias("bucket"),
        tok.alias("n_tokens"),
    )
    w = (Window.partitionBy("bucket").orderBy(key)
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    placed = base.select(
        key, "bucket", "n_tokens", start.alias("start_tok"))
    end_last = F.col("start_tok") + F.col("n_tokens") - 1  # last occupied slot
    chunk_of = lambda c: ((c - F.pmod(c, F.lit(ctx_len))) / ctx_len).cast("long")  # noqa: E731
    return placed.select(
        key, "bucket", "n_tokens", "start_tok",
        F.when(F.col("n_tokens") > 0, chunk_of(F.col("start_tok")))
         .otherwise(F.lit(None).cast("long")).alias("first_chunk"),
        F.when(F.col("n_tokens") > 0,
               chunk_of(end_last) - chunk_of(F.col("start_tok")) + 1)
         .otherwise(F.lit(0)).alias("n_chunks"),
    )


def pack_summary(df: DataFrame, key: str = "doc_id",
                 tokens: str | Column = "n_tokens",
                 ctx_len: int = 2048, buckets: int = 64) -> DataFrame:
    """Per-bucket packing report over :func:`pack_offsets`'s layout:
    ``(bucket, n_docs, total_tokens, n_chunks, tail_waste_tokens)`` —
    ``n_chunks = ceil(total/ctx_len)`` full training chunks per stream
    and the tokens lost padding each stream's final partial chunk (the
    ONLY padding in concat-and-chunk). One partial+final aggregation on
    the bucket id — the exchange carries ``buckets`` counter rows."""
    from themis_spark.functions.hashing import hash60

    tok = F.coalesce(  # NULL counts pack as 0 tokens (matches pack_offsets)
        (F.col(tokens) if isinstance(tokens, str) else tokens).cast("long"),
        F.lit(0))
    per = df.select(
        F.pmod(hash60(F.col(key)), F.lit(buckets)).cast("int").alias("bucket"),
        tok.alias("__t"),
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t").alias("total_tokens"),
    )
    chunks = F.when(
        F.col("total_tokens") > 0,
        ((F.col("total_tokens") + ctx_len - 1)
         - F.pmod(F.col("total_tokens") + ctx_len - 1, F.lit(ctx_len)))
        / ctx_len,
    ).otherwise(F.lit(0)).cast("long")
    return per.select(
        "bucket", "n_docs", "total_tokens",
        chunks.alias("n_chunks"),
        (chunks * ctx_len - F.col("total_tokens")).alias("tail_waste_tokens"),
    )


def rank_buckets(df: DataFrame, column: str, n: int = 10,
                 key: str = "doc_id", partitions: int | None = None) -> DataFrame:
    """Percentile-rank bucketing: append ``bucket`` = the row's n-tile
    (1..n) under the total order (column, key) — the
    curriculum/mixture-binning step (\"train on the top quality decile
    first\", \"sample uniformly per perplexity decile\"). The key
    tiebreak makes the assignment deterministic and oracle-replayable;
    SQL-standard NTILE semantics (remainder rows go to the lowest
    buckets) on both engines.

    DISTRIBUTED exact n-tiles — deliberately NOT
    ``ntile(n).over(Window.orderBy(...))``: a partition-less window
    moves every row to ONE task (Spark logs ``WindowExec: No Partition
    Defined``), which serializes at web scale. Instead, two passes over
    a range-partitioned sort:

    1. ``repartitionByRange(P, column, key)`` + ``sortWithinPartitions``
       — the one (parallel, split-bound-sampled) exchange exact
       n-tiles genuinely need; ``monotonically_increasing_id`` then
       encodes (partition, local offset in sorted order). The sorted
       frame is lazily ``localCheckpoint``-ed so the two jobs below
       read one materialization (identical ids) and the lineage stays
       flat.
    2. A per-partition count job (O(P) rows to the driver) turns local
       offsets into the global rank by prefix-sum offsets, re-attached
       with a broadcast join; the bucket is pure integer arithmetic on
       the rank (remainder rows to the lowest buckets, exactly SQL
       NTILE). All divisions are exact-multiple double divisions —
       bit-exact below 2⁵³ rows.

    Every stage is partition-parallel; the only single-point work is
    the O(P)-row offset collect. For runs that only need approximate
    deciles, cut on `quantile_stats` bounds with a scan-stage CASE —
    this operator is the exact form. Calling it triggers the count job
    immediately (two-pass by nature, like the IVF trainer).
    """
    sess = df.sparkSession
    P = int(partitions
            or sess.conf.get("spark.sql.shuffle.partitions", "200"))
    mask = (1 << 33) - 1  # monotonically_increasing_id: pid<<33 | offset
    srt = (
        df.repartitionByRange(P, F.col(column).asc(), F.col(key).asc())
        .sortWithinPartitions(F.col(column).asc(), F.col(key).asc())
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    pid = F.shiftright(F.col("__mid"), 33)
    local = F.col("__mid").bitwiseAND(F.lit(mask))
    counts = sorted(
        srt.groupBy(pid.alias("__pid")).agg(F.count(F.lit(1)).alias("__c"))
        .collect(),
        key=lambda r: r["__pid"],
    )
    m = sum(r["__c"] for r in counts)
    offsets, acc = [], 0
    for r in counts:
        offsets.append((int(r["__pid"]), acc))
        acc += r["__c"]
    off_df = sess.createDataFrame(offsets or [(0, 0)],
                                  "__pid long, __off long")

    def idiv(a, b):  # exact ⌊a/b⌋ for non-negative a and literal b > 0
        return ((a - F.pmod(a, F.lit(b))) / b).cast("long")

    rank = F.col("__off") + local + 1  # 1-based global rank
    base, rem = (m // n, m % n) if m else (0, 0)
    if base == 0:  # fewer rows than buckets: one row per leading bucket
        bucket = rank
    else:
        head = rem * (base + 1)
        bucket = F.when(rank <= F.lit(head),
                        F.lit(1) + idiv(rank - 1, base + 1)) \
                  .otherwise(F.lit(rem + 1) + idiv(rank - F.lit(head) - 1,
                                                   base))
    return (
        srt.join(F.broadcast(off_df), pid == F.col("__pid"), "left")
        .select(*df.columns, bucket.cast("int").alias("bucket"))
    )


def value_entropy(df: DataFrame, column: str, round_to: int = 6) -> DataFrame:
    """Shannon entropy of a column's value distribution — one row
    ``(column, n_rows, n_distinct, entropy_nats, normalized)`` where
    ``normalized = entropy / ln(n_distinct)`` (1.0 = uniform, → 0 =
    near-constant). The profiling companion to key_skew_report: entropy
    summarizes the WHOLE distribution where top-k shares summarize the
    head — near-zero entropy flags dead columns, 1.0 on an id-like
    column flags a key masquerading as a feature.

    NULLs are excluded (they are the null-count stat's job). Plan: one
    per-value count aggregation (map-side combined — exchange O(distinct
    values)) and one scalar rollup computing ``-Σ (c/n)·ln(c/n)`` from
    the count frame; nothing corpus-scale shuffles twice. Rounded so
    the DuckDB oracle replays despite float summation order.
    """
    counts = (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # -Σ (c/n)·ln(c/n) = ln(n) - Σ c·ln(c) / n : one aggregation over
    # the count frame, no second pass and no window — n enters as the
    # same aggregate's sum
    agg = counts.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("__clnc"),
    )
    ent = F.round(
        F.log(F.col("n_rows").cast("double"))
        - F.col("__clnc") / F.col("n_rows"), round_to)
    return agg.select(
        F.lit(column).alias("column"),
        "n_rows", "n_distinct",
        ent.alias("entropy_nats"),
        F.when(F.col("n_distinct") > 1,
               F.round(ent / F.log(F.col("n_distinct").cast("double")),
                       round_to))
        .otherwise(F.lit(0.0)).alias("normalized"),
    )


def hll_set_overlap(a: DataFrame, b: DataFrame, col: str) -> DataFrame:
    """Distinct-set overlap of ``col`` across two frames from MERGED HLL
    sketches + inclusion-exclusion — one row: ``(est_a, est_b,
    est_union, est_intersection, jaccard_est)``.

    The cross-corpus audit primitive ("how many url hosts does this
    crawl share with last month's?"): each side reduces map-side to ONE
    mergeable sketch (exchange carries sketch bytes, never keys), the
    union is ``hll_union`` on the two one-row frames (broadcast — a
    2×1-row join), and |A∩B| = |A|+|B|-|A∪B|. Estimates are integer
    counts; ``jaccard_est`` rounds to 6 dp. At 10¹² rows per side this
    plan's exchanges total two sketch payloads (~KBs) — the exact
    alternative is a full distinct-union shuffle of both corpora.

    Caveats (documented, inherent): inclusion-exclusion differences of
    ~1.6%-relative-error estimates lose precision when the true
    intersection is small relative to the sets — the raw difference can
    even go NEGATIVE, so ``est_intersection`` is clamped at 0; gate
    downstream logic on ``jaccard_est`` magnitude, not tiny absolute
    intersections. Two EMPTY inputs give ``est_union = 0``; Jaccard of
    two empty sets is defined here as 0.0 (guarded division — Spark's
    non-ANSI ``/`` would otherwise emit a null row).
    """
    sa = a.agg(F.hll_sketch_agg(F.col(col)).alias("sk_a"))
    sb = b.agg(F.hll_sketch_agg(F.col(col)).alias("sk_b"))
    est_a = F.hll_sketch_estimate(F.col("sk_a"))
    est_b = F.hll_sketch_estimate(F.col("sk_b"))
    est_u = F.hll_sketch_estimate(F.hll_union(F.col("sk_a"), F.col("sk_b")))
    inter = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0))
    return (
        sa.crossJoin(F.broadcast(sb))
        .select(est_a.alias("est_a"), est_b.alias("est_b"),
                est_u.alias("est_union"))
        .select(
            "est_a", "est_b", "est_union",
            inter.alias("est_intersection"),
            F.when(F.col("est_union") > 0,
                   F.round(inter / F.col("est_union"), 6))
            .otherwise(F.lit(0.0)).alias("jaccard_est"),
        )
    )


# ------------------------------------------- heavy hitters (Misra-Gries)
#
# Bounded-memory frequent-items summary (Misra & Gries 1982; the
# mergeable-summaries framing is Agarwal et al. 2012, PODS — public).
# The scale story: exact top-k token counting at 10^10+ distinct keys
# shuffles the full (token, count) space; a per-partition Misra-Gries
# summary of k' counters reduces each partition to k' rows with a
# PROVABLE guarantee — every token with true frequency > N/(k'+1)
# survives the union of summaries, and each summary's undercount is at
# most its partition's err_p = floor(n_p/(k'+1)). The exchange carries
# O(partitions * k') candidate rows, never the distinct-key space.


def heavy_hitters_mg(df: DataFrame, col: str, n_counters: int = 64) -> DataFrame:
    """Per-partition Misra-Gries summaries, merged: ``(token, lower,
    upper)`` where ``lower`` = summed surviving counters (a guaranteed
    UNDER-count of the true frequency) and ``upper = lower +
    sum_p(err_p)`` with ``err_p`` the partition's decrement
    passes (a pass costs any one token at most one count). Guarantee: every token with true frequency > sum_p(err_p)
    appears in the output; sum_p(err_p) <= N/(n_counters+1). Each
    partition also emits ONE null-token marker row carrying its err_p,
    so the global error budget sums exactly (two partitions with equal
    err must not collapse). Deterministic for a fixed file layout:
    parquet row order is stable and eviction touches all-or-only-ones.
    """
    import pandas as _pd

    part_schema = "token string, cnt long, err long"

    def summarize(batches):
        counters: dict[str, int] = {}
        err = 0
        for pdf in batches:
            for v in pdf[col]:
                if v is None:
                    continue
                t = str(v)
                if t in counters:
                    counters[t] += 1
                elif len(counters) < n_counters:
                    counters[t] = 1
                else:
                    # classic MG step: decrement every counter, drop the
                    # incoming count — destroys exactly n_counters+1
                    # occurrences per pass, hence err_p <= n_p/(k+1)
                    err += 1
                    for x in list(counters):
                        counters[x] -= 1
                        if counters[x] == 0:
                            del counters[x]
        toks = list(counters) + [None]
        yield _pd.DataFrame({"token": toks,
                             "cnt": list(counters.values()) + [0],
                             "err": [0] * len(counters) + [err]})

    parts = df.select(F.col(col).cast("string").alias(col)) \
        .mapInPandas(summarize, part_schema)
    lowers = parts.where(F.col("token").isNotNull()) \
        .groupBy("token").agg(F.sum("cnt").alias("lower"))
    total_err = parts.where(F.col("token").isNull()) \
        .agg(F.sum("err").alias("__terr"))
    return lowers.crossJoin(F.broadcast(total_err)).select(
        "token", "lower", (F.col("lower") + F.col("__terr")).alias("upper"))
