"""Unit tests for operators/sketches.py (deterministic HyperLogLog).

Accuracy and rank edge cases on small frames; the
sf0.01 bit-parity vs the DuckDB register replay runs through the
driver contract (query ``hll_users``).
"""

from pyspark.sql import functions as F

from osm2lanes_spark.operators.sketches import hll_distinct, hll_sketch


def test_hll_accuracy_linear_counting(spark):
    """5k distinct longs at p=12 sit in the linear-counting regime:
    the estimate lands within 5% of truth."""
    df = spark.range(5000).select((F.col("id") * 7 + 3).alias("v"))
    est = hll_distinct(df, "v", p=12).collect()[0]["est_distinct"]
    assert abs(est - 5000) / 5000 < 0.05, est


def test_hll_accuracy_raw_regime(spark):
    """200k distinct values overflow linear counting at p=12 (raw HLL
    regime, σ≈1.6%): estimate within 6%."""
    df = spark.range(200_000).select(F.col("id").alias("v"))
    est = hll_distinct(df, "v", p=12).collect()[0]["est_distinct"]
    assert abs(est - 200_000) / 200_000 < 0.06, est


def test_hll_grouped_and_nulls(spark):
    """Per-group sketches are independent; NULL values are ignored
    (COUNT DISTINCT semantics); a group of one NULL row vanishes."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", 9), ("b", None),
         ("c", None)],
        "g string, v int")
    out = {r["g"]: (r["n_registers"], r["est_distinct"])
           for r in hll_distinct(df, "v", by=["g"], p=12).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"][0] == 2          # two registers set for 2 distinct
    assert out["b"][0] == 1
    # linear counting is near-exact at this scale
    assert round(out["a"][1]) == 2
    assert round(out["b"][1]) == 1


def test_hll_rank_string_scan_edges(spark):
    """The hex-scan rank: plant words with known leading-zero shapes
    through the public sketch by checking rank bounds — every rank is
    in [1, 33] and registers are in [0, 2^p)."""
    df = spark.range(20_000).select(F.col("id").alias("v"))
    sk = hll_sketch(df, "v", p=8).collect()
    assert all(0 <= r["register"] < 256 for r in sk)
    assert all(1 <= r["rank"] <= 33 for r in sk)
    # p=8 with 20k values: every register is hit
    assert len(sk) == 256


def test_cms_never_underestimates(spark):
    """The Count-Min guarantee: est ≥ true for every key; with a wide
    sketch over a small vocabulary the estimates are exact."""
    from osm2lanes_spark.operators.sketches import cms_build, cms_lookup

    df = spark.range(10_000).select(
        (F.col("id") % 97).cast("string").alias("v"))
    exact = {r["v"]: r["n"] for r in
             df.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    cms = cms_build(df, "v", width=2048, depth=4)
    probes = df.select("v").distinct()
    got = {r["v"]: r["est_count"] for r in
           cms_lookup(cms, probes, "v", width=2048, depth=4).collect()}
    assert set(got) == set(exact)
    assert all(got[k] >= exact[k] for k in exact)
    # 97 keys in 2048 buckets × 4 rows: collisions in every row are
    # vanishingly unlikely — exact recovery
    assert got == exact


def test_cms_narrow_overestimates_only(spark):
    """Force collisions (width 16): estimates still never drop below
    truth, and absent keys read the colliding mass, never negative."""
    from osm2lanes_spark.operators.sketches import cms_build, cms_lookup

    df = spark.range(5_000).select(
        (F.col("id") % 300).cast("string").alias("v"))
    cms = cms_build(df, "v", width=16, depth=3)
    probes = spark.createDataFrame(
        [("0",), ("1",), ("totally_absent",)], "v string")
    got = {r["v"]: r["est_count"] for r in
           cms_lookup(cms, probes, "v", width=16, depth=3).collect()}
    assert got["0"] >= 17 and got["1"] >= 17     # ceil(5000/300)
    assert got["totally_absent"] >= 0


# ---------------------------------------------------------------------------
# Dyadic quantile sketch
# ---------------------------------------------------------------------------

def test_qsketch_bins_hard_bounded(spark):
    """However many distinct values go in, a group's sketch holds at
    most 65 rows (64-bit bit-length classes + the <=0 bin)."""
    from osm2lanes_spark.operators.sketches import qsketch_build

    df = spark.range(100_000).select(
        (F.col("id") * 2654435761 % (2 ** 40)).alias("v"))
    assert qsketch_build(df, "v").count() <= 65


def test_qsketch_quantile_within_dyadic_bound(spark):
    """Estimates land in the true quantile's dyadic bin: relative
    error strictly below 2x (and exact at the extremes of a bin)."""
    import numpy as np

    from osm2lanes_spark.operators.sketches import (qsketch_build,
                                                    qsketch_quantile)

    vals = [(i * i) % 50_021 + 1 for i in range(20_000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = qsketch_build(df, "v")
    out = {r["q_label"]: r["q_est"]
           for r in qsketch_quantile(
               sk, [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]
           ).collect()}
    s = np.sort(np.array(vals))
    for label, num, den in [("p50", 1, 2), ("p90", 9, 10),
                            ("p99", 99, 100)]:
        target = -(-num * len(s) // den)  # ceil, 1-based
        truth = int(s[target - 1])
        assert truth / 2 < out[label] < truth * 2, (label, out[label], truth)


def test_qsketch_zero_and_negative_values(spark):
    """v <= 0 lands in bin 0 and interpolates between its extremes."""
    from osm2lanes_spark.operators.sketches import (qsketch_build,
                                                    qsketch_quantile)

    df = spark.createDataFrame([(-5,), (0,), (0,), (3,)], "v long")
    sk = qsketch_build(df, "v").collect()
    assert {r["bin"] for r in sk} == {0, 2}
    b0 = next(r for r in sk if r["bin"] == 0)
    assert (b0["n"], b0["vmin"], b0["vmax"]) == (3, -5, 0)
    df2 = spark.createDataFrame([(-5,), (0,), (0,), (3,)], "v long")
    from osm2lanes_spark.operators.sketches import qsketch_build as qb
    est = {r["q_label"]: r["q_est"]
           for r in qsketch_quantile(qb(df2, "v"), [("p50", 1, 2)]).collect()}
    assert -5 <= est["p50"] <= 0


def test_qsketch_grouped(spark):
    from osm2lanes_spark.operators.sketches import (qsketch_build,
                                                    qsketch_quantile)

    rows = [("a", v) for v in range(1, 101)] + [("b", 7)] * 10
    df = spark.createDataFrame(rows, "g string, v long")
    sk = qsketch_build(df, "v", by=["g"])
    out = {(r["g"], r["q_label"]): r["q_est"]
           for r in qsketch_quantile(sk, [("p50", 1, 2)], by=["g"]).collect()}
    assert out[("b", "p50")] == 7
    assert 25 <= out[("a", "p50")] <= 100
