"""Temporal operators: as-of join and sessionization.

Two shapes every event/telemetry pipeline needs and Spark SQL lacks as
built-ins (reference analogue: the locale join of SURVEY §2.4 J1-J2 is
an *as-of in space*; these are the time-axis counterparts the
engine's event table consumers ask for).

``asof_join`` — for each left row, the single most recent right row at
or before (``backward``) / the earliest at or after (``forward``) the
left timestamp, per key. A naive formulation is a range theta-join
(quadratic); the scalable formulation used here is the classic
union-window:

1. tag both sides, union on (key, ts, side, right-payload), left
   payload carried through (right columns NULL on left rows and vice
   versa) — no second join-back shuffle;
2. one hash shuffle on the key feeds a per-key sort by
   (ts, side, tiebreak) where right rows sort BEFORE left rows at an
   equal timestamp (ties match: ``l.ts >= r.ts``);
3. ``last(payload, ignorenulls=True)`` over rows UNBOUNDED PRECEDING
   propagates the latest right payload to every left row;
4. filter back to left rows; an optional ``tolerance`` (seconds) nulls
   matches older than ``l.ts - tolerance``.

Cost at 100 TB: ONE hash exchange on the key plus the per-key window
sort — the same shuffle the equivalent equi-join would pay, with no
range-join blowup. Skew: with the default ``bucket_seconds=None`` a
single hot key serializes into one window task (inherent to per-key
ordering). Passing ``bucket_seconds`` activates the skew-safe
formulation: both sides are split on (key, floor(ts/bucket)), the
"carry-in" match for each left bucket (the latest right row in any
EARLIER bucket) is computed by a *bucket-level* as-of join over the
tiny per-(key, bucket) last-right table — the same two-level
global/local decomposition as the packing operator's distributed
prefix sum — and injected as a sentinel row that sorts before
everything in its bucket. The final window partitions by
(key, bucket), so a hot key's work spreads across time buckets;
output is identical to the unbucketed path (property-tested).

``sessionize`` — gap-based session ids: lag over the per-key time
order, flag gaps larger than ``gap``, running sum of flags. Same
single-shuffle shape. Timestamp arithmetic is integer microseconds
(``unix_micros`` ↔ DuckDB ``epoch_us``) so oracles reproduce it
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_MATCH_TS = "__asof_ts"

# Measured plain-vs-skew-safe crossover (BENCH/BASELINE.md, "Round-5
# temporal skew A/B", at 8M rows / 90% skew): below ~1M rows on the
# hottest key the plain per-key window wins; above it the distributed
# formulations pay off. ``auto`` modes default to plain under this
# estimate.
AUTO_HOT_KEY_CROSSOVER = 1_000_000


def _probe_hot_key(df: DataFrame, keys: list, fraction: float,
                   seed: int = 7) -> int:
    """Estimated row count of the hottest key: a Bernoulli ``fraction``
    sample of the key column(s) only (column-pruned scan), one
    partial-combined per-key count, max, scaled back by 1/fraction.
    Cost: one narrow pass over the key column — the same pattern as
    minhash's ``verify='auto'`` input probe. Returns 0 on an empty
    sample (tiny inputs: the plain path is right anyway)."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"probe fraction outside (0, 1]: {fraction}")
    sampled = df.select(*keys).sample(fraction=fraction, seed=seed)
    row = (sampled.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
           .agg(F.max("__c").alias("__hot")).first())
    hot = row["__hot"]
    return 0 if hot is None else int(hot / fraction)


def _micros(col: Column) -> Column:
    """Integer epoch-microseconds of a timestamp. ``unix_micros`` only
    accepts TIMESTAMP; parquet columns are commonly TIMESTAMP_NTZ, and
    with the session timezone pinned to UTC the cast is the identity on
    the wall clock, so this works for both types."""
    return F.unix_micros(col.cast("timestamp"))


def asof_join(left: DataFrame, right: DataFrame, on: str | list[str],
              ts: str = "ts", right_ts: str | None = None,
              direction: str = "backward",
              tolerance_seconds: float | None = None,
              tiebreak: str | None = None,
              bucket_seconds: float | str | None = None,
              auto_threshold_rows: int = AUTO_HOT_KEY_CROSSOVER,
              auto_probe_fraction: float = 0.01) -> DataFrame:
    """As-of join ``left`` to the nearest ``right`` row per key.

    Parameters
    ----------
    on : key column(s), present on both sides.
    ts / right_ts : timestamp columns (``right_ts`` defaults to ``ts``).
    direction : ``backward`` (latest right with ``r.ts <= l.ts``, the
        default, ties match) or ``forward`` (earliest with
        ``r.ts >= l.ts``).
    tolerance_seconds : if set, matches further than this from the left
        timestamp come back NULL (the row is kept — left-join shape).
    tiebreak : optional right column ordering duplicates at one
        (key, ts); the greatest wins. Without it, duplicate right
        timestamps within a key pick the physically-last row —
        nondeterministic, so pass one whenever (key, ts) is not unique.
    bucket_seconds : if set, the skew-safe formulation (module
        docstring): the final window partitions by (key,
        floor(ts/bucket)), so a hot key spreads across time buckets
        instead of serializing onto one task; carry-in state flows
        through a bucket-granularity as-of join over the tiny
        per-(key, bucket) extreme-row table. Identical output.
        Timestamps must be non-null on both sides (carry sentinels use
        NULL ordering internally). Pass the string ``"auto"`` to decide
        from a cheap sampled hot-key probe over both sides' key columns:
        plain below ``auto_threshold_rows`` estimated rows on the
        hottest key (the measured crossover), else a bucket width chosen
        so the hottest (key, bucket) group lands well under it.
    auto_threshold_rows / auto_probe_fraction : tuning for
        ``bucket_seconds="auto"`` — the plain/bucketed crossover (rows
        on the hottest key) and the Bernoulli probe fraction.

    Returns the left schema plus every non-key right column (collisions
    with a left name raise) — NULL where nothing matched.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or ts
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    if isinstance(bucket_seconds, str):
        if bucket_seconds != "auto":
            raise ValueError(
                f"bucket_seconds must be a number, None or 'auto': "
                f"{bucket_seconds!r}")
        bucket_seconds = _auto_bucket_seconds(
            left, right, keys, ts, right_ts,
            auto_threshold_rows, auto_probe_fraction)

    payload = [c for c in right.columns if c not in keys and c != right_ts]
    clash = [c for c in payload if c in left.columns]
    if clash:
        raise ValueError(
            f"right payload column(s) {clash} collide with left schema; "
            "rename before asof_join")

    # Right rows must be visible to an equal-timestamp left row: sort
    # them first (side 0) for backward, last for forward (where the
    # window looks FOLLOWING via a descending sort instead).
    tb = (F.col(tiebreak) if tiebreak is not None
          else F.lit(0))
    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias(_SIDE),
        F.lit(None).cast("long").alias("__tb"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c)
          for c in payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(_MATCH_TS),
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias(ts),
        F.lit(0).alias(_SIDE),
        tb.cast("long").alias("__tb"),
        *[F.col(c) for c in payload],
        F.col(right_ts).alias(_MATCH_TS),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys and c != ts],
    ).select(l_tagged.columns)  # align column order for the union

    part_keys = list(keys)
    if bucket_seconds is not None:
        bucket_us = int(round(bucket_seconds * 1_000_000))
        if bucket_us < 1:
            raise ValueError(f"bucket_seconds too small: {bucket_seconds}")
        bkt = F.floor(_micros(F.col(ts)) / F.lit(bucket_us))
        l_tagged = l_tagged.withColumn("__bkt", bkt)
        r_tagged = r_tagged.withColumn("__bkt", bkt)
        carry = _carry_rows(l_tagged, r_tagged, left, keys, ts,
                            payload, direction)
        unioned = (l_tagged.unionByName(r_tagged)
                   .unionByName(carry))
        part_keys = keys + ["__bkt"]
    else:
        unioned = l_tagged.unionByName(r_tagged)

    asc = direction == "backward"
    # Cumulative last() means the LAST-scanned duplicate wins; ascending
    # tiebreak makes that the greatest, for either direction. Carry
    # sentinels ride on a NULL timestamp, which must sort FIRST under
    # both directions (nulls_first explicitly — desc defaults to
    # nulls_last).
    order = [F.col(ts).asc_nulls_first() if asc
             else F.col(ts).desc_nulls_first(),
             F.col(_SIDE).asc(),
             F.col("__tb").asc()]
    w = (Window.partitionBy(*part_keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = unioned.select(
        *[c for c in unioned.columns if c not in payload
          and c not in (_MATCH_TS,)],
        *[F.last(F.col(c), ignorenulls=True).over(w).alias(c)
          for c in payload],
        F.last(F.col(_MATCH_TS), ignorenulls=True).over(w).alias(_MATCH_TS),
    ).where(F.col(_SIDE) == 1)

    if tolerance_seconds is not None:
        tol_us = int(round(tolerance_seconds * 1_000_000))
        delta = (_micros(F.col(ts)) - _micros(F.col(_MATCH_TS)))
        if direction == "forward":
            delta = -delta
        in_tol = F.col(_MATCH_TS).isNotNull() & (delta <= F.lit(tol_us))
        filled = filled.select(
            *[c for c in filled.columns if c not in payload
              and c != _MATCH_TS],
            *[F.when(in_tol, F.col(c)).alias(c) for c in payload],
            F.when(in_tol, F.col(_MATCH_TS)).alias(_MATCH_TS),
        )

    out_ts = _MATCH_TS
    return (filled
            .withColumnRenamed(out_ts, "asof_" + right_ts)
            .drop(_SIDE, "__tb", "__bkt"))


def _auto_bucket_seconds(left: DataFrame, right: DataFrame, keys: list,
                         ts: str, right_ts: str, threshold: int,
                         fraction: float, seed: int = 7) -> float | None:
    """Resolve ``bucket_seconds="auto"``: one Bernoulli sample over the
    union of both sides' (key, ts) columns feeds a per-key count (max →
    hot-key estimate) and the global time span. Below ``threshold``
    estimated hot-key rows — or with a degenerate span — returns None
    (the plain path: below the measured crossover its single window
    beats the bucketed stitches). Otherwise picks the bucket width that
    puts the hottest (key, bucket) group at ~threshold/4 rows under a
    uniform-in-time assumption, so a hot key spreads across enough
    buckets to parallelize without exploding the carry table."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"probe fraction outside (0, 1]: {fraction}")
    both = (left.select(*keys, F.col(ts).alias("__ats"))
            .unionByName(right.select(*keys,
                                      F.col(right_ts).alias("__ats"))))
    row = (both.sample(fraction=fraction, seed=seed)
           .groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"),
                               F.min(_micros(F.col("__ats"))).alias("__mn"),
                               F.max(_micros(F.col("__ats"))).alias("__mx"))
           .agg(F.max("__c").alias("__hot"),
                F.min("__mn").alias("__mn"),
                F.max("__mx").alias("__mx"))
           .first())
    if row["__hot"] is None or row["__mn"] is None:
        return None
    hot_est = int(row["__hot"] / fraction)
    span_seconds = (row["__mx"] - row["__mn"]) / 1_000_000
    if hot_est < threshold or span_seconds <= 0:
        return None
    n_buckets = max(2, -(-hot_est // max(1, threshold // 4)))  # ceil div
    return max(1e-6, span_seconds / n_buckets)


def _carry_rows(l_tagged: DataFrame, r_tagged: DataFrame, left: DataFrame,
                keys: list, ts: str, payload: list,
                direction: str) -> DataFrame:
    """One sentinel row per (key, left-bucket): the right row a left row
    at the very start (backward) / end (forward) of the bucket would
    match — i.e. the latest right row in any EARLIER bucket (resp.
    earliest in any LATER one).

    Computed without touching full data twice: a row_number picks each
    (key, right-bucket)'s extreme right row (the only row of that bucket
    that can ever carry), and a *bucket-granularity* recursive
    :func:`asof_join` (default unbucketed path) matches left buckets to
    those extremes on the bucket index. That table has one row per
    (key, occupied bucket) — bounded by time-span/bucket, not by row
    count — so its per-key window is safe even for the hot key that
    motivated bucketing. Shaped exactly like ``l_tagged``: left payload
    NULL, side -1, ``ts`` NULL (sorts first in its bucket's window)."""
    backward = direction == "backward"
    # the bucket's extreme right row: last-scanned under the main
    # window's order within its own bucket (greatest (ts, tb) for
    # backward; least ts then greatest tb for forward)
    pick = Window.partitionBy(*keys, "__bkt").orderBy(
        F.col(ts).desc() if backward else F.col(ts).asc(),
        F.col("__tb").desc())
    rext = (r_tagged.withColumn("__rn", F.row_number().over(pick))
            .where(F.col("__rn") == 1)
            .select(*keys, F.col("__bkt").alias("__rbkt"),
                    *[F.col(c).alias(f"__c{i}")
                      for i, c in enumerate(payload)],
                    F.col(_MATCH_TS).alias("__carry_ts"),
                    F.col("__tb").alias("__carry_tb")))
    # "__lbkt", not "__bkt": the recursive call drops a "__bkt" column
    # from ITS output (it is this function's own internal name)
    lbuck = (l_tagged.select(*keys, F.col("__bkt").alias("__lbkt"))
             .distinct()
             .withColumn("__q", F.col("__lbkt")
                         + F.lit(-1 if backward else 1)))
    m = asof_join(lbuck, rext, on=keys, ts="__q", right_ts="__rbkt",
                  direction=direction)
    matched = m.where(F.col("__carry_ts").isNotNull())
    cols = []
    for c in left.columns:
        if c in keys:
            cols.append(F.col(c))
        else:
            cols.append(F.lit(None).cast(left.schema[c].dataType).alias(c))
    cols += [F.lit(-1).alias(_SIDE),
             F.col("__carry_tb").alias("__tb"),
             *[F.col(f"__c{i}").alias(c) for i, c in enumerate(payload)],
             F.col("__carry_ts").alias(_MATCH_TS),
             F.col("__lbkt").alias("__bkt")]
    return matched.select(*cols)


def sessionize(df: DataFrame, key: str = "user_id", ts: str = "ts",
               gap_seconds: float = 1800.0,
               tiebreak: str | None = None,
               out: str = "session_id",
               scale_safe: bool | str = False,
               num_partitions: int | None = None,
               auto_threshold_rows: int = AUTO_HOT_KEY_CROSSOVER,
               auto_probe_fraction: float = 0.01) -> DataFrame:
    """Assign gap-based session ids per key.

    A new session starts at the first event of a key and whenever the
    gap to the previous event exceeds ``gap_seconds`` (strictly).
    ``out`` is a 1-based BIGINT dense within each key. Integer-
    microsecond arithmetic so external systems (and the DuckDB oracle)
    reproduce boundaries exactly.

    Default path: one hash shuffle on the key, per-key lag + running-sum
    windows — a hot key serializes into one window task. With
    ``scale_safe=True`` the hot-key caveat is gone: session ids are a
    prefix COUNT of gap flags, so the operator reuses the packing
    operator's range-partitioned two-pass decomposition
    (:mod:`osm2lanes_spark.operators.packing`): repartitionByRange
    (key, ts, tiebreak) gives ~equal partitions under ANY key skew; the
    lag crosses partition borders through a tiny per-(partition, key)
    last-timestamp table; the flag prefix sum crosses them through the
    same table's flag subtotals — two broadcast-sized stitches, no
    per-key task anywhere. Output is identical (property-tested).

    ``scale_safe="auto"`` decides from a cheap sampled hot-key probe
    (one column-pruned pass over ``key``): the plain path below
    ``auto_threshold_rows`` estimated rows on the hottest key (the
    measured crossover — BENCH/BASELINE.md, round 5), the distributed path
    above it.
    """
    gap_us = int(round(gap_seconds * 1_000_000))
    if isinstance(scale_safe, str):
        if scale_safe != "auto":
            raise ValueError(
                f"scale_safe must be a bool or 'auto': {scale_safe!r}")
        scale_safe = (_probe_hot_key(df, [key], auto_probe_fraction)
                      >= auto_threshold_rows)
    order = [F.col(ts).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    if scale_safe:
        return _sessionize_distributed(df, key, ts, gap_us, tiebreak,
                                       out, num_partitions)
    w = Window.partitionBy(key).orderBy(*order)
    prev_us = F.lag(_micros(F.col(ts))).over(w)
    new_sess = F.when(
        prev_us.isNull()
        | ((_micros(F.col(ts)) - prev_us) > F.lit(gap_us)),
        F.lit(1)).otherwise(F.lit(0))
    running = (Window.partitionBy(key).orderBy(*order)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(out, F.sum(new_sess).over(running).cast("long"))


def _sessionize_distributed(df: DataFrame, key: str, ts: str, gap_us: int,
                            tiebreak: str | None, out: str,
                            num_partitions: int | None) -> DataFrame:
    """Range-partitioned sessionize: no per-key window task.

    0. SLIM projection first (VERDICT r05 #2, mirroring
       ``packing.py``'s r04 fix): the session id is a function of the
       distinct (key, ts[, tiebreak]) sort keys alone — rows that share
       the full sort key share a session (their gap is zero), so the
       payload never has to ride the shuffle/checkpoint. The distinct
       also makes the final join-back cardinality-exact: every input
       row matches exactly ONE slim row. On a wide 100 TB events table
       this checkpoints three columns, not the relation.
    1. repartitionByRange on (key, ts[, tiebreak]) and stamp the
       partition id — partitions are ~equal-sized regardless of key
       skew, and ascending pid order == ascending (key, ts) order.
       localCheckpoint pins the relation: the per-row branch and the
       two subtotal branches must agree on partition ids (re-executed
       range shuffles re-sample their boundaries — the packing
       operator's measured pitfall).
    2. local lag per (__pid, key); each partition's FIRST row of a key
       takes its predecessor timestamp from the tiny per-(pid, key)
       aggregate table, lag'd over ascending pid within the key and
       broadcast back. Gap flags are then exact everywhere.
    3. session id = inclusive prefix COUNT of flags = local running
       count + the broadcast running total of earlier partitions' flag
       counts — the same two-pass prefix sum as step 2, reusing one
       subtotal table for both stitches.
    4. join ``out`` back onto the untouched input on the null-safe
       (key, ts[, tiebreak]) equality — the price of checkpointing only
       the slim projection (same trade as ``packing._join_back``).
    """
    reserved = {"__pid", "__mic", "__prev", "__flag", "__loc", out}
    clash = sorted(reserved.intersection(df.columns))
    if clash:
        raise ValueError(f"column(s) {clash} already exist in the input "
                         "— rename them (out= and __-prefixed internals "
                         "are reserved)")
    slim_cols = [key, ts] + ([tiebreak] if tiebreak is not None else [])
    slim = df.select(*slim_cols).dropDuplicates(slim_cols)
    range_cols = [F.col(key), F.col(ts).asc()]
    order = [F.col(ts).asc()]
    if tiebreak is not None:
        range_cols.append(F.col(tiebreak).asc())
        order.append(F.col(tiebreak).asc())
    ranged = (slim.repartitionByRange(num_partitions, *range_cols)
              if num_partitions else slim.repartitionByRange(*range_cols))
    ranged = (ranged.withColumn("__pid", F.spark_partition_id())
              .withColumn("__mic", _micros(F.col(ts)))
              .localCheckpoint(eager=False))

    w_local = Window.partitionBy("__pid", key).orderBy(*order)
    prev_local = F.lag("__mic").over(w_local)
    flag_if = lambda prev: F.when(  # noqa: E731
        prev.isNull() | ((F.col("__mic") - prev) > F.lit(gap_us)),
        F.lit(1)).otherwise(F.lit(0))

    # tiny table: one row per (partition, key) — O(#partitions + #keys)
    # rows. __last stitches the lag; __flags stitches the prefix count.
    # Local flags must be projected BEFORE the aggregate (a window
    # function cannot appear inside agg()).
    local_flagged = ranged.withColumn("__loc", flag_if(prev_local))
    sub = (local_flagged
           .groupBy("__pid", key)
           .agg(F.max("__mic").alias("__last"),
                F.min("__mic").alias("__first_mic"),
                F.sum("__loc").alias("__locsum")))
    # __locsum is WRONG for the prefix stitch by exactly the boundary
    # row: the first row of a (pid, key) group flags 1 locally (its lag
    # is NULL) even when the true predecessor (previous pid's last
    # event) is within the gap. True flag count of a group =
    # local count - 1 + boundary_flag(prev pid's __last) — the boundary
    # flag depends only on the PREDECESSOR partition's last timestamp,
    # never on that partition's own stitching, so the fix composes
    # exactly.
    w_key = Window.partitionBy(key).orderBy(F.col("__pid").asc())
    prev_last = F.lag("__last").over(w_key)
    boundary_flag = F.when(
        prev_last.isNull()
        | ((F.col("__first_mic") - prev_last) > F.lit(gap_us)),
        F.lit(1)).otherwise(F.lit(0))
    fixed = sub.select(
        F.col("__pid").alias("__p_pid"),
        F.col(key).alias("__p_key"),
        prev_last.alias("__prev_last"),
        (F.col("__locsum") - 1 + boundary_flag).alias("__flags"))
    fixed = fixed.withColumn(
        "__flags_before",
        F.coalesce(
            F.sum("__flags").over(
                Window.partitionBy("__p_key").orderBy(F.col("__p_pid").asc())
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))

    cond = (F.col("__pid") == F.col("__p_pid")) \
        & F.col(key).eqNullSafe(F.col("__p_key"))
    joined = ranged.join(F.broadcast(fixed), cond)
    prev_mic = F.coalesce(F.lag("__mic").over(w_local),
                          F.col("__prev_last"))
    flag = flag_if(prev_mic)
    w_run = (Window.partitionBy("__pid", key).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    session = (F.sum(flag).over(w_run) + F.col("__flags_before"))
    slim_out = (joined
                .withColumn(out, session.cast("long"))
                .select(*[F.col(c).alias(f"__jb_{c}") for c in slim_cols],
                        F.col(out)))
    back = df[slim_cols[0]].eqNullSafe(F.col(f"__jb_{slim_cols[0]}"))
    for c in slim_cols[1:]:
        back = back & df[c].eqNullSafe(F.col(f"__jb_{c}"))
    return df.join(slim_out, back).select(*df.columns, out)


# ---------------------------------------------------------------------------
# Rolling time-range window aggregates
# ---------------------------------------------------------------------------

def rolling_stats(df: DataFrame, key: str = "user_id", ts: str = "ts",
                  value_col: str = "value",
                  window_seconds: int = 3600) -> DataFrame:
    """Per-row trailing time-range aggregates: for every event, the count
    and sum of ``value_col`` over the key's events in the last
    ``window_seconds`` (inclusive of the current row and of timestamp
    peers — RANGE frame semantics, identical in Spark and ANSI SQL).

    The moving-average / rate-limiter shape of event analytics: one hash
    shuffle on the key, then a per-key sort with an O(1)-per-row sliding
    RANGE frame — no self-join, no explode. Timestamps are compared in
    integer microseconds (``unix_micros`` ↔ DuckDB ``epoch_us``); the
    sum runs over ``decimal(18,6)`` so partial-aggregation order cannot
    perturb the result (exact arithmetic, engine-independent — the dsir
    float-boundary discipline applied to SUM) and is surfaced as a
    rounded double.

    At 100 TB: cost equals the equivalent groupBy shuffle. A pathological
    hot key serializes into one window task — the inherent per-key
    ordering bound; mitigation is the sessionize/asof bucket
    decomposition, which applies unchanged here if a production key is
    hot enough to need it (the events corpus is uniform).
    """
    us = _micros(F.col(ts))
    w = (Window.partitionBy(key).orderBy(us)
         .rangeBetween(-window_seconds * 1_000_000, 0))
    dec = F.col(value_col).cast("decimal(18,6)")
    return (df.withColumn("n_win", F.count(F.lit(1)).over(w))
            .withColumn("sum_win",
                        F.round(F.sum(dec).over(w).cast("double"), 6)))


# ---------------------------------------------------------------------------
# Ordered-step conversion funnel
# ---------------------------------------------------------------------------

def window_funnel(df: DataFrame, steps: list[str], key: str = "user_id",
                  ts: str = "ts", type_col: str = "event_type",
                  horizon_seconds: int | None = None) -> DataFrame:
    """Conversion-funnel depth per key: how far each key progresses
    through ``steps`` in order, under GREEDY EARLIEST-CHAIN semantics —
    t1 = the key's earliest step-1 event; t_{i+1} = the earliest
    step-(i+1) event at or after t_i; the chain counts while every
    matched step lies within ``horizon_seconds`` of t1 (None = no
    horizon). Deterministic by construction (minima only — no
    ClickHouse-style sliding restarts, which are order-dependent and not
    SQL-replayable). Returns ``(key, funnel_depth, t_first)`` with depth
    0 for keys that never reach step 1 but appear in the input.

    Scale shape: one conditional-aggregation groupBy per step over a
    filtered column-pruned pass — k tiny shuffles on the key (k = number
    of steps, a constant), never a per-key sorted window or a collected
    event array, so a hot key partial-aggregates map-side like any
    groupBy. Timestamps compare as integer microseconds.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    us = _micros(F.col(ts))
    ev = (df.where(F.col(type_col).isin(list(steps)))
          .select(F.col(key), F.col(type_col).alias("_t"), us.alias("_us")))
    # earliest step-1 per key
    cur = (ev.where(F.col("_t") == steps[0])
           .groupBy(key).agg(F.min("_us").alias("_ts1"))
           .withColumn("_prev", F.col("_ts1")))
    for i, step in enumerate(steps[1:], start=2):
        nxt = (ev.where(F.col("_t") == step)
               .join(cur.select(key, "_ts1", "_prev"), key)
               .where(F.col("_us") >= F.col("_prev"))
               .groupBy(key).agg(F.min("_us").alias("_nxt")))
        cur = (cur.join(nxt, key, "left")
               .withColumn(f"_ts{i}", F.col("_nxt")).drop("_nxt")
               .withColumn("_prev", F.coalesce(F.col(f"_ts{i}"),
                                               F.col("_prev"))))
    depth = F.lit(0)
    for i in range(1, len(steps) + 1):
        hit = F.col(f"_ts{i}").isNotNull()
        if horizon_seconds is not None and i > 1:
            hit = hit & (F.col(f"_ts{i}")
                         <= F.col("_ts1") + horizon_seconds * 1_000_000)
        # depth = longest PREFIX of in-horizon hits
        depth = F.when(hit & (depth >= i - 1), F.lit(i)).otherwise(depth)
    keys = df.select(key).distinct()
    return (keys.join(cur, key, "left")
            .withColumn("funnel_depth", depth.cast("int"))
            .withColumn("t_first", F.col("_ts1"))
            .select(key, "funnel_depth", "t_first"))


# ---------------------------------------------------------------------------
# Retention cohorts
# ---------------------------------------------------------------------------

def retention_cohorts(df: DataFrame, key: str = "user_id", ts: str = "ts",
                      bucket_seconds: int = 7 * 86400) -> DataFrame:
    """Cohort retention triangle: assign every key to the time bucket of
    its FIRST event (the cohort), then count distinct keys active at
    each bucket offset — ``(cohort, offset, n_active)`` where offset 0
    is the cohort bucket itself. Buckets are
    ``floor(epoch_us / (bucket_seconds * 1e6))`` — fixed epoch-aligned
    integer arithmetic, bit-identical in any engine.

    Scale shape: first-seen is one map-side-combined min groupBy on the
    key; it joins back onto the (key, bucket)-distinct activity relation
    by key (hash join — both sides already shuffled on the key, and the
    distinct collapses each key's events map-side first); the triangle
    is a count on (cohort, offset). No windows, no per-key ordering.
    """
    us = _micros(F.col(ts))
    bucket = F.floor(us / F.lit(bucket_seconds * 1_000_000)).cast("long")
    act = df.select(F.col(key), bucket.alias("_b")).distinct()
    first = act.groupBy(key).agg(F.min("_b").alias("cohort"))
    return (act.join(first, key)
            .groupBy("cohort", (F.col("_b") - F.col("cohort")).alias("offset"))
            .agg(F.count(F.lit(1)).alias("n_active")))


# ---------------------------------------------------------------------------
# Interval (overlap) join
# ---------------------------------------------------------------------------

def interval_join(left: DataFrame, right: DataFrame,
                  l_start: str, l_end: str, r_start: str, r_end: str,
                  by: list[str] | None = None,
                  bucket: int | None = None,
                  suffix: str = "_r") -> DataFrame:
    """Inner join on closed-interval overlap: emit every (left, right)
    pair with ``l_start <= r_end AND r_start <= l_end`` (plus equality
    on the optional ``by`` keys). Start/end columns must be numeric
    (cast timestamps to ``unix_micros`` first — integer microseconds
    keep every comparison engine-exact); rows with NULL or inverted
    (start > end) intervals are dropped on both sides.

    Spark SQL has no interval-overlap join: the naive predicate is a
    theta-join Catalyst executes as BroadcastNestedLoop / cartesian —
    O(|L|·|R|) per key group. With ``bucket`` (the scale path) the time
    axis is decomposed into fixed width-``bucket`` cells: each interval
    explodes to the cells it covers, the join becomes an EQUI-join on
    (by…, cell) — one ordinary hash shuffle each side, SMJ/SHJ, AQE
    skew-splittable — and a pair overlapping several shared cells is
    kept exactly once WITHOUT a distinct shuffle: only in its canonical
    cell ``floor(max(l_start, r_start) / bucket)``, which both
    intervals provably cover (max(start) ≤ min(end) for overlapping
    pairs). Cost scales with overlaps per cell, not pairs per key:
    pick ``bucket`` near the typical interval length so each interval
    explodes to O(1) cells.

    With ``bucket=None`` the plain conditional join is emitted
    (correct, broadcast-viable for a small right side — the oracle
    shape, not the 100 TB shape).

    Output: all left columns, then right columns (``by`` keys emitted
    once; right column names colliding with left ones get ``suffix``).
    """
    by = list(by or [])

    def _clean(df, s, e):
        return df.where(F.col(s).isNotNull() & F.col(e).isNotNull()
                        & (F.col(s) <= F.col(e)))

    lf = _clean(left, l_start, l_end)
    rf = _clean(right, r_start, r_end)
    rmap = {}   # output name -> source name on the right
    for c in rf.columns:
        if c in by:
            continue
        rmap[c + suffix if c in lf.columns else c] = c
    if bucket is None:
        la, ra = lf.alias("__l"), rf.alias("__r")
        cond = ((F.col(f"__l.{l_start}") <= F.col(f"__r.{r_end}"))
                & (F.col(f"__r.{r_start}") <= F.col(f"__l.{l_end}")))
        for k in by:
            cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
        joined = la.join(ra, cond, "inner")
        return joined.select(
            *[F.col(f"__l.{c}") for c in lf.columns],
            *[F.col(f"__r.{s}").alias(o) for o, s in rmap.items()])

    cell = lambda c: F.floor(F.col(c) / F.lit(bucket)).cast("long")  # noqa: E731
    le = (lf.withColumn("__cell", F.explode(
              F.sequence(cell(l_start), cell(l_end)))).alias("__l"))
    re_ = (rf.withColumn("__cell", F.explode(
              F.sequence(cell(r_start), cell(r_end)))).alias("__r"))
    cond = F.col("__l.__cell") == F.col("__r.__cell")
    for k in by:
        cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
    canonical = (F.floor(F.greatest(F.col(f"__l.{l_start}"),
                                    F.col(f"__r.{r_start}"))
                         / F.lit(bucket)).cast("long")
                 == F.col("__l.__cell"))
    joined = (le.join(re_, cond, "inner")
              .where((F.col(f"__l.{l_start}") <= F.col(f"__r.{r_end}"))
                     & (F.col(f"__r.{r_start}") <= F.col(f"__l.{l_end}"))
                     & canonical))
    return joined.select(
        *[F.col(f"__l.{c}") for c in lf.columns],
        *[F.col(f"__r.{s}").alias(o) for o, s in rmap.items()])


# ---------------------------------------------------------------------------
# SCD2 history builder
# ---------------------------------------------------------------------------

def scd2_build(df: DataFrame, key: str, ts: str, attrs: list[str],
               tiebreak: str | None = None) -> DataFrame:
    """Collapse a change log into a slowly-changing-dimension type-2
    history: one row per (key, attribute-state run) with
    ``valid_from_us`` / ``valid_to_us`` microsecond validity bounds
    (valid_to NULL on the current row) and ``is_current``. Consecutive
    rows with identical ``attrs`` merge into one validity interval
    (NULL-safe struct comparison); intervals are half-open
    ``[from, to)``, so a point-in-time lookup is exactly an
    ``asof_join`` against ``valid_from_us``.

    ``tiebreak`` orders same-timestamp changes deterministically —
    REQUIRED whenever (key, ts) is not unique, or the run-length
    dedup would be partition-order-dependent.

    Scale shape: one hash shuffle on the key feeds both windows (lag
    for change detection, lead for interval close — same partitioning
    and ordering, so the sort is paid once and Catalyst reuses the
    exchange). A pathological hot key serializes into one window task —
    the inherent per-key ordering bound, with the sessionize bucket
    decomposition available if a production key needs it.
    """
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    state = F.struct(*[F.col(a) for a in attrs])
    changed = ~state.eqNullSafe(F.lag(state).over(w))
    us = _micros(F.col(ts)) if dict(df.dtypes)[ts].startswith("timestamp") \
        else F.col(ts).cast("long")
    chg = (df
           .withColumn("__us", us)
           .withColumn("__chg", changed)
           .where(F.col("__chg")))
    order2 = [F.col("__us")] + ([F.col(tiebreak)] if tiebreak else [])
    w2 = Window.partitionBy(key).orderBy(*order2)
    return (chg.select(
        F.col(key), *[F.col(a) for a in attrs],
        F.col("__us").alias("valid_from_us"),
        F.lead("__us").over(w2).alias("valid_to_us"))
        .withColumn("is_current", F.col("valid_to_us").isNull()))


def densify_counts(df: DataFrame, ts_col: str = "ts",
                   by_col: "str | None" = None,
                   bucket_seconds: int = 3600) -> DataFrame:
    """Gap-filled (densified) time-series counts: one row per
    ``(bucket, by)`` combination over the OBSERVED global time range
    and key set, with absent combinations emitted as zero — the
    dashboard/alerting shape where a missing bucket must read 0, not
    vanish (a silent scrape outage looks exactly like a missing row).

    Returns ``(bucket_ts, <by_col>, n)`` with ``bucket_ts`` the bucket
    start timestamp (integer-microsecond arithmetic — engine-exact).

    100 TB shape: the count aggregate partial-combines map-side into
    ≤ |buckets|·|keys| rows; the dense grid is built from a 1-row
    bounds aggregate × the distinct key list (both tiny — its size is
    set by the TIME SPAN and key cardinality, never the row count; the
    grid cross join is declared and bounded) and joins the counts as
    the BUILD side. The raw data is scanned once.
    """
    if bucket_seconds < 1:
        raise ValueError(
            f"bucket_seconds must be >= 1, got {bucket_seconds}")
    step = F.lit(bucket_seconds * 1_000_000).cast("long")
    bkt = (F.floor(_micros(F.col(ts_col)) / step)).cast("long")
    keys = [by_col] if by_col else []
    data = df.where(F.col(ts_col).isNotNull())
    counts = (data.withColumn("__bkt", bkt)
              .groupBy("__bkt", *keys)
              .agg(F.count(F.lit(1)).alias("n")))
    bounds = data.agg(F.min(bkt).alias("__lo"), F.max(bkt).alias("__hi"))
    grid = (bounds.select(F.explode(F.sequence("__lo", "__hi"))
                          .alias("__bkt")))
    if by_col:
        grid = grid.crossJoin(data.select(by_col).distinct())
    return (grid.join(counts, on=["__bkt", *keys], how="left")
            .select(F.timestamp_micros(F.col("__bkt")
                                       * step).alias("bucket_ts"),
                    *keys,
                    F.coalesce(F.col("n"), F.lit(0)).alias("n")))
