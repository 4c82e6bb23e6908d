"""Round-2 additions: PSI drift, quantile sketch, streaming dedup."""

import math

import pytest
from pyspark.sql import functions as F

from themis_spark.operators.stats import (
    HistSpec,
    column_stats,
    psi_statistic,
    quantile_stats,
)


def test_psi_statistic_identical_is_zero():
    h = [10, 20, 30, 40]
    assert psi_statistic(h, h) == pytest.approx(0.0)


def test_psi_statistic_matches_hand_formula():
    a, b = [50, 50, 0], [25, 70, 5]
    eps = 1e-6
    expect = 0.0
    for x, y in zip(a, b):
        pa, pb = max(x / 100, eps), max(y / 100, eps)
        expect += (pa - pb) * math.log(pa / pb)
    assert psi_statistic(a, b) == pytest.approx(expect)
    assert psi_statistic(a, b) > 0


def test_psi_statistic_empty_and_mismatched_raise():
    # incomparable inputs must raise, not silently report "no drift"
    with pytest.raises(ValueError, match="layouts differ"):
        psi_statistic([1, 2], [1, 2, 3])
    with pytest.raises(ValueError, match="empty"):
        psi_statistic([0, 0], [1, 1])  # ta == 0
    from themis_spark.operators.stats import ks_statistic
    with pytest.raises(ValueError, match="layouts differ"):
        ks_statistic([1, 2], [1, 2, 3])


def test_drift_check_psi_detects_shift(spark):
    from themis_spark.operators.constraints import drift_check

    spec = [HistSpec("v", 0.0, 100.0, 10)]
    now = spark.range(1000).select((F.col("id") % 50).cast("double").alias("v"))
    base = spark.range(1000).select((50 + F.col("id") % 50).cast("double").alias("v"))
    m_now = column_stats(now, ["v"], None, spec, "now")
    m_base = column_stats(base, ["v"], None, spec, "base")
    r = drift_check(m_now, m_base, "v", threshold=0.25, metric="psi")
    assert r["metric"] == "psi" and r["drifted"] and r["psi"] > 0.25
    same = drift_check(m_now, m_now, "v", threshold=0.25, metric="psi")
    assert not same["drifted"] and same["psi"] == pytest.approx(0.0)
    with pytest.raises(ValueError):
        drift_check(m_now, m_base, "v", metric="chi2")


def test_quantile_stats_exact_at_high_accuracy(spark):
    df = spark.range(1, 1002).select(F.col("id").cast("double").alias("x"))
    out = quantile_stats(df, "x", [0.25, 0.5, 0.75], accuracy=100_000)
    rows = {r["p"]: r for r in out.collect()}
    # GK with accuracy >> n returns an exact element at the quantile rank
    assert rows[0.5]["value"] == pytest.approx(501.0)
    assert rows[0.25]["value"] == pytest.approx(251.0, abs=1.0)
    assert rows[0.75]["value"] == pytest.approx(751.0, abs=1.0)
    for r in rows.values():
        assert r["column"] == "x"
        assert r["max_rank_error"] == pytest.approx(1001 / 100_000)


def test_exact_dedup_stream_drops_recrawls(spark, tmpdir_path):
    from themis_spark.sources.pages import generate_pages
    from themis_spark.streaming.dedup_stream import (
        exact_dedup_stream,
        seen_key_counts_stream,
        with_content_digest,
    )

    pages = generate_pages(spark, 3000, n_partitions=4)
    pages.write.mode("overwrite").parquet(f"{tmpdir_path}/din")
    n_distinct = with_content_digest(pages).select("digest").distinct().count()
    assert n_distinct < 3000  # generator plants ~0.5% byte-identical re-crawls

    stream = spark.readStream.schema(pages.schema).parquet(f"{tmpdir_path}/din")
    # 60-day watermark >> the synthetic crawl's time spread: every
    # re-crawl lands inside the horizon and must drop
    deduped = exact_dedup_stream(stream, ts_col="warc_ts", watermark="60 days")
    q = (deduped.writeStream.format("memory").queryName("dd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    kept = spark.sql("select digest from dd").collect()
    assert len(kept) == n_distinct
    assert len({r["digest"] for r in kept}) == n_distinct

    # monitoring variant: windowed per-digest counts flag exactly the
    # re-crawled digests
    # complete mode: append would hold windows open until the watermark
    # passes them, which an availableNow batch over historical data
    # never reaches
    counts = seen_key_counts_stream(stream, ts_col="warc_ts",
                                    window="365 days", watermark="730 days")
    q2 = (counts.writeStream.format("memory").queryName("ddc")
          .outputMode("complete").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    flagged = spark.sql("select digest, cnt from ddc").collect()
    assert all(r["cnt"] > 1 for r in flagged)
    batch_dups = (
        with_content_digest(pages).groupBy("digest")
        .agg(F.count(F.lit(1)).alias("c")).where("c > 1").count()
    )
    # windows can split a digest's occurrences, so flagged ≤ batch dups
    assert 0 < len(flagged) <= batch_dups


def test_rank_buckets_exact_ntiles(spark):
    from themis_spark.operators.stats import rank_buckets

    df = spark.range(10).select(F.col("id").alias("doc_id"),
                                (F.col("id") % 5).alias("score"))
    out = rank_buckets(df, "score", n=4)
    rows = sorted(out.collect(), key=lambda r: (r["score"], r["doc_id"]))
    # 10 rows into 4 tiles: sizes 3,3,2,2 in (score, key) order
    got = [r["bucket"] for r in rows]
    assert got == [1, 1, 1, 2, 2, 2, 3, 3, 4, 4]


def test_value_entropy_hand_values(spark):
    import math

    from themis_spark.operators.stats import value_entropy

    # 4 uniform values -> H = ln 4, normalized 1.0
    df = spark.range(8).select((F.col("id") % 4).alias("x"))
    r = value_entropy(df, "x").collect()[0]
    assert r["n_rows"] == 8 and r["n_distinct"] == 4
    assert abs(r["entropy_nats"] - round(math.log(4), 6)) < 1e-9
    assert abs(r["normalized"] - 1.0) < 1e-5
    # constant column -> entropy 0, normalized 0
    c = spark.range(5).select(F.lit("k").alias("x"))
    rc = value_entropy(c, "x").collect()[0]
    assert rc["entropy_nats"] == 0.0 and rc["normalized"] == 0.0
    # skewed 7:1 -> H = ln8 - (7 ln7)/8
    s = spark.range(8).select((F.col("id") == 0).cast("int").alias("x"))
    rs = value_entropy(s, "x").collect()[0]
    expect = math.log(8) - (7 * math.log(7)) / 8
    assert abs(rs["entropy_nats"] - round(expect, 6)) < 1e-9
