"""Engine-portable sketches as plain tables: a deterministic HyperLogLog,
a Count-Min sketch and a dyadic quantile sketch.

Spark ships ``approx_count_distinct`` (a JVM HLL++), but its register
hashing is engine-private: the sketch can't be replayed by another
engine, persisted as a plain table, or merged with sketches built
elsewhere. This module builds the classic Flajolet HyperLogLog
[Flajolet et al. 2007, "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm"] out of engine-portable primitives —
md5 register/rank derivation, a groupBy max, exact dyadic harmonic
sums — so the SAME bits come out of Spark, DuckDB, or anything else
with md5 and CASE.

Why it matters at 100 TB: the sketch is a first-class TABLE of at most
``2^p`` rows per group (4096 at the default p=12) that is

* **mergeable by plain SQL** — the union of two sketches regrouped on
  (by…, register) with ``max(rank)`` is the sketch of the union
  (Count-Min re-sums ``cnt``; the quantile sketch re-sums ``n`` and
  re-takes ``vmin``/``vmax``), so day-level sketches roll up to
  month/all-time without touching raw data;
* **shuffle-capped** — the register groupBy partial-combines map-side,
  so the exchange carries at most ``2^p × partitions`` rows no matter
  how many billions of input rows;
* **replayable** — every hash is ``md5("hll:<seed>:" + value)``; the
  DuckDB oracle reproduces registers, ranks, harmonic sum and estimate
  bit-for-bit (the harmonic sum is a sum of dyadic rationals spanning
  2^-33..2^0 over ≤2^p terms — exactly representable in a double at
  every intermediate, hence independent of partition order).

Rank extraction avoids ``log``/bit-scan builtins (not cross-engine
deterministic): the md5 hex string itself is scanned — leading-zero
hex chars × 4 plus a 16-way CASE on the first non-zero digit.

Reference parity note: the reference engine (a-b-street/osm2lanes) has
no sketch counterpart — this is engine-side infrastructure mandated by
the training-pipeline brief (novel sketches as first-class operators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hex32(s: Column) -> Column:
    """First 8 md5 hex chars as a 32-bit integer (the repo's standard
    cross-engine hash idiom — replayed in DuckDB via strpos)."""
    return F.conv(F.substring(s, 1, 8), 16, 10).cast("long")


def _rank_from_hex(whex: Column) -> Column:
    """Leading-zero-bit rank of the 32-bit word spelled by an 8-char
    hex string: 4×(leading zero hex chars) + zeros within the first
    non-zero digit + 1; 33 when the word is zero. Pure string/CASE —
    identical semantics in every engine."""
    stripped = F.regexp_replace(whex, "^0*", "")
    z = F.lit(8) - F.length(stripped)
    first = F.substring(stripped, 1, 1)
    in_digit = (F.when(first == "1", 3)
                .when(first.isin("2", "3"), 2)
                .when(first.isin("4", "5", "6", "7"), 1)
                .otherwise(0))
    return (F.when(F.length(stripped) == 0, F.lit(33))
            .otherwise(z * 4 + in_digit + 1)).cast("int")


def hll_sketch(df: DataFrame, value_col: str, by: list[str] | None = None,
               p: int = 12, seed: int = 0) -> DataFrame:
    """Build per-group HLL registers: ``by… , register:int, rank:int``
    with ``rank = max`` over the group's values hashing to that
    register. At most ``2^p`` register rows per group regardless of
    input size; the only shuffle is the map-side-combined max groupBy
    on (by…, register). NULL values are ignored (SQL COUNT DISTINCT
    semantics)."""
    by = list(by or [])
    m = 1 << p
    h = F.md5(F.concat(F.lit(f"hll:{seed}:"),
                       F.col(value_col).cast("string")))
    return (df.where(F.col(value_col).isNotNull())
            .select(*by,
                    (_hex32(h) % m).cast("int").alias("register"),
                    _rank_from_hex(F.substring(h, 9, 8)).alias("__rank"))
            .groupBy(*by, "register")
            .agg(F.max("__rank").alias("rank")))


def hll_estimate(sketch: DataFrame, by: list[str] | None = None,
                 p: int = 12, decimals: int = 3) -> DataFrame:
    """Finish a sketch into ``by… , n_registers:int, est_distinct``.

    raw = alpha·m² / (Σ 2^-rank + (m − n_set)·2⁰); the small-range
    branch applies linear counting ``m·ln(m/V)`` when raw ≤ 2.5m and
    zero registers remain (the standard HLL regime switch). All inputs
    to the division are bit-exact across engines (dyadic sums); the
    single ln() is libm-dependent at the last ulp, hence the rounded
    output (a boundary flip needs the true value within 1 ulp of a
    0.5·10^-decimals edge)."""
    by = list(by or [])
    m = 1 << p
    # literal arithmetic, never a Python-precomputed float, so the
    # oracle SQL can spell the SAME expression and get the SAME double
    alpha_m2 = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m) * m * m
    agg = (sketch.groupBy(*by)
           .agg(F.count("register").alias("n_registers"),
                F.sum(F.pow(F.lit(2.0), -F.col("rank"))).alias("__h")))
    denom = F.col("__h") + (m - F.col("n_registers"))
    raw = alpha_m2 / denom
    v = (m - F.col("n_registers")).cast("double")
    est = F.when((raw <= 2.5 * m) & (v > 0),
                 m * F.log(m / v)).otherwise(raw)
    return (agg.select(*by, "n_registers",
                       F.round(est, decimals).alias("est_distinct")))


def hll_distinct(df: DataFrame, value_col: str,
                 by: list[str] | None = None, p: int = 12,
                 seed: int = 0, decimals: int = 3) -> DataFrame:
    """One-shot approximate COUNT(DISTINCT value) per group:
    sketch → estimate. Standard error ≈ 1.04/√(2^p) (~1.6% at p=12)
    in the HLL regime; near-exact in the linear-counting regime."""
    return hll_estimate(hll_sketch(df, value_col, by, p, seed),
                        by, p, decimals)


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------

def cms_build(df: DataFrame, value_col: str, by: list[str] | None = None,
              width: int = 2048, depth: int = 4,
              seed: int = 0) -> DataFrame:
    """Count-Min sketch [Cormode & Muthukrishnan 2005] per group:
    ``by… , row:int, bucket:int, cnt:long`` — the frequency complement
    of the HLL cardinality sketch and the Bloom membership filter.
    Row ``j``'s bucket for a value is ``md5("cms:<seed>:<j>:" + value)
    mod width`` — pure integer arithmetic end to end, so the sketch
    (and every estimate read from it) is bit-exact in any engine.

    Scale shape: explode ``depth`` rows per input value, ONE
    map-side-combined sum groupBy — the exchange carries at most
    ``depth × width`` rows per input partition regardless of input
    size, and the finished sketch is ≤ depth×width rows per group
    (4×2048 ≈ 8k at the defaults). NULL values are ignored.
    """
    by = list(by or [])
    js = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    h = F.md5(F.concat(F.lit(f"cms:{seed}:"), F.col("row").cast("string"),
                       F.lit(":"), F.col(value_col).cast("string")))
    return (df.where(F.col(value_col).isNotNull())
            .select(*by, F.col(value_col), js)
            .select(*by, "row",
                    (_hex32(h) % width).cast("int").alias("bucket"))
            .groupBy(*by, "row", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_lookup(cms: DataFrame, probes: DataFrame, value_col: str,
               by: list[str] | None = None, width: int = 2048,
               depth: int = 4, seed: int = 0) -> DataFrame:
    """Point-query a ``cms_build`` sketch for each probe value:
    ``by… , value_col, est_count`` where ``est_count = min over rows``
    of the value's counter (0 when a counter row is absent). The CMS
    guarantee: ``est_count ≥ true count`` always, with overshoot
    bounded by e·N/width at probability 1−e^−depth.

    Scale shape: the sketch is ≤ depth×width rows — broadcast to the
    probes, so arbitrarily many probes are answered with zero shuffle
    beyond their own min groupBy (map-side combined, ``depth`` rows
    per probe)."""
    from pyspark.sql.functions import broadcast

    by = list(by or [])
    js = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    h = F.md5(F.concat(F.lit(f"cms:{seed}:"), F.col("row").cast("string"),
                       F.lit(":"), F.col(value_col).cast("string")))
    pr = (probes.select(*by, F.col(value_col), js)
          .select(*by, F.col(value_col), "row",
                  (_hex32(h) % width).cast("int").alias("bucket")))
    keys = by + ["row", "bucket"]
    joined = pr.join(broadcast(cms), keys, "left")
    return (joined.groupBy(*by, value_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est_count")))


# ---------------------------------------------------------------------------
# Dyadic quantile sketch
# ---------------------------------------------------------------------------

def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division for non-negative longs (same construction
    as operators/graph.py): ``(a - a % b) / b`` has an integer quotient,
    so the double division is exact below 2^53."""
    a = a.cast("long")
    b = b.cast("long")
    return ((a - a % b) / b).cast("long")


def _dyadic_bin(v: Column) -> Column:
    """Dyadic bin id of a long: 0 for v <= 0, else the bit length —
    spelled as ``length(bin(v))`` because both Spark and DuckDB render
    the minimal binary string, whereas log2/floor round differently at
    exact powers of two."""
    return (F.when(v <= 0, F.lit(0))
            .otherwise(F.length(F.bin(v)))).cast("int")


def qsketch_build(df: DataFrame, value_col: str,
                  by: list[str] | None = None) -> DataFrame:
    """Build a mergeable dyadic quantile sketch over an integer column:
    one row per (group, bin) holding ``n`` (count), ``vmin``/``vmax``
    (the bin's observed extremes). Bins are base-2 magnitude classes
    (bit length of the value; ≤ 65 of them for any 64-bit long), so the
    sketch is a HARD-bounded plain table — unlike a distinct-value
    histogram its size never tracks cardinality.

    Completes the repo's engine-portable sketch family (Bloom /
    HyperLogLog / Count-Min): like them it is

    * **mergeable** — a union regrouped on (by…, bin) with sum(n),
      min(vmin), max(vmax) is exactly the sketch of the union;
    * **shuffle-capped** — the groupBy partial-combines map-side to at
      most 65 rows per group per partition;
    * **replayable** — binning, counting and the quantile estimator are
      pure integer arithmetic any engine reproduces bit-for-bit.

    Estimator error: a quantile estimate lands inside the true value's
    dyadic bin, linearly interpolated between the bin's observed
    extremes — relative error ≤ 2× worst case, far less on smooth data.
    """
    by = list(by or [])
    v = F.col(value_col).cast("long")
    return (df.select(*by, v.alias("__v"), _dyadic_bin(v).alias("bin"))
            .groupBy(*by, "bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("__v").alias("vmin"),
                 F.max("__v").alias("vmax")))


def qsketch_quantile(sketch: DataFrame,
                     quantiles: list[tuple[str, int, int]],
                     by: list[str] | None = None) -> DataFrame:
    """Read quantiles out of a sketch: for each group and each
    ``(label, num, den)`` fraction, returns ``by… , q_label, q_est``.

    The target rank is ``ceil(num·n_total/den)`` (1-based); the answer
    bin is the first whose cumulative count reaches it; the estimate
    interpolates integer-linearly between the bin's observed extremes:
    ``vmin + (vmax-vmin)·(offset-1) div max(n-1, 1)``. Every step is
    64-bit integer arithmetic — the DuckDB oracle replays it exactly.

    Scale shape: the cumulative window runs over ≤ 65 bin rows per
    group (single-partition for ``by=None`` — bounded by the bin count,
    NOT by data cardinality, unlike a raw value histogram); the
    quantile list rides a broadcast cross join.
    """
    by = list(by or [])
    from pyspark.sql import Window

    w_cum = (Window.partitionBy(*by).orderBy("bin")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = Window.partitionBy(*by)
    cum = (sketch
           .withColumn("cum", F.sum("n").over(w_cum))
           .withColumn("n_total", F.sum("n").over(w_tot)))
    spark = sketch.sparkSession
    qdf = spark.createDataFrame(quantiles,
                                "q_label string, q_num long, q_den long")
    j = cum.crossJoin(F.broadcast(qdf))
    target = _idiv(F.col("q_num") * F.col("n_total") + F.col("q_den")
                   - F.lit(1), F.col("q_den"))
    j = j.withColumn("target", target).where(F.col("cum") >= F.col("target"))
    w_pick = Window.partitionBy(*by, "q_label").orderBy("bin")
    offset = F.col("target") - (F.col("cum") - F.col("n"))
    est = (F.col("vmin")
           + _idiv((F.col("vmax") - F.col("vmin")) * (offset - F.lit(1)),
                   F.greatest(F.col("n") - F.lit(1), F.lit(1))))
    return (j.withColumn("__rn", F.row_number().over(w_pick))
            .where(F.col("__rn") == 1)
            .select(*by, "q_label", est.alias("q_est")))
