"""Deterministic dataset sampling / splitting for training pipelines.

At 100 TB a train/val/test split must be (a) a pure function of the row
id — re-runs, backfills and late-arriving shards land in the same split
with no coordination — and (b) computable inside whole-stage codegen.
``hash_split`` derives a uniform [0, 1) variate from the md5 of the id
(md5 rather than xxhash64 so an external system — or the DuckDB oracle —
can reproduce assignments bit-for-bit) and thresholds it by the
cumulative weights.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_uniform(id_col: Column) -> Column:
    """Deterministic uniform [0, 1) from an id: the first 8 md5 hex chars
    as a 32-bit integer over 2^32. JVM-side, reproducible anywhere."""
    return (F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
            .cast("double") / F.lit(float(1 << 32)))


def hash_split(df: DataFrame, id_col: str = "doc_id",
               splits: dict[str, float] | None = None,
               out: str = "split") -> DataFrame:
    """Assign every row a split label by deterministic id hash.

    ``splits`` maps label → weight (normalized internally); iteration
    order fixes the threshold order, so pass an explicit dict. Default
    80/10/10 train/val/test.
    """
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(splits.values())
    u = hash_uniform(F.col(id_col))
    expr = None
    acc = 0.0
    labels = list(splits)
    for name in labels[:-1]:
        acc += splits[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(labels[-1]) if expr is None
            else expr.otherwise(labels[-1]))
    return df.withColumn(out, expr)


def mixture_sample(df: DataFrame, rates: dict[str, float],
                   source_col: str = "source", id_col: str = "doc_id",
                   seed: int = 0, default_rate: float = 1.0,
                   copy_col: str = "mix_copy") -> DataFrame:
    """Deterministic per-source mixture sampling with fractional repeats.

    The standard step between curation and packing in an LLM training
    pipeline: each source gets a target rate — ``0.5`` keeps half its
    rows, ``2.25`` emits every row twice plus a 25 % chance of a third
    copy (epoch weighting). A row of rate ``r`` is emitted
    ``floor(r) + Bernoulli(frac(r))`` times, the Bernoulli drawn from
    the md5-uniform of ``(id, seed)`` — the same pure-function-of-id
    property as :func:`hash_split` (re-runs and late shards agree with
    no coordination), but *seeded*, so mixture decisions are independent
    of split assignment. ``copy_col`` is the 0-based copy index
    (distinguishes repeats downstream, e.g. for pack shuffling).

    Entirely JVM-side: a literal CASE for the rate, one md5, one
    ``explode(sequence)`` — no shuffle, no Python; rows with zero copies
    vanish via the empty-array explode. Sources absent from ``rates``
    get ``default_rate``.
    """
    for s, r in rates.items():
        if r < 0:
            raise ValueError(f"negative rate {r} for source {s!r}")
    if default_rate < 0:
        raise ValueError(f"negative default_rate {default_rate}")
    if copy_col in df.columns:
        raise ValueError(f"column {copy_col!r} already exists in the input")
    rate = None
    for s in rates:  # insertion order — deterministic CASE chain
        cond = F.col(source_col) == F.lit(s)
        r = F.lit(float(rates[s]))
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = (F.lit(float(default_rate)) if rate is None
            else rate.otherwise(F.lit(float(default_rate))))
    u = hash_uniform(F.concat(F.col(id_col).cast("string"),
                              F.lit(f":{seed}")))
    copies = (F.floor(rate).cast("long")
              + (u < (rate - F.floor(rate))).cast("long"))
    seq = (F.when(copies > F.lit(0),
                  F.sequence(F.lit(0).cast("long"), copies - F.lit(1)))
           .otherwise(F.array().cast("array<long>")))
    return df.withColumn(copy_col, F.explode(seq))


def stratified_sample(df: DataFrame, n: int, strata_col: str = "source",
                      id_col: str = "doc_id", seed: int = 0,
                      prefilter: bool = True,
                      _margin: float | None = None) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, deterministically.

    Rows are ranked within each stratum by the seeded md5-uniform of the
    id (ties broken by the id itself), and the first ``n`` win — a pure
    function of (id, seed), so the same eval subset falls out of any
    engine, any re-run, any shard arrival order.

    Scale shape: the naive formulation is one ``row_number`` window per
    stratum — a hot stratum (90 % of a crawl under one source) sorts on
    ONE task. With ``prefilter=True`` (default) the operator first
    aggregates per-stratum counts (tiny table, broadcast back) and keeps
    only rows with ``u <= (n + 6*sqrt(n) + 12) / count`` before the
    window — the expected survivor set is ~``n`` per stratum regardless
    of stratum size, so the window sorts thousands of rows, not
    billions. The margin makes undershoot astronomically unlikely
    (< exp(-12) per stratum by a Chernoff bound), but exactness is never
    left to chance: strata whose survivor count came up short of
    ``min(n, count)`` are re-run unfiltered and unioned in (a second
    tiny job touching only the unlucky strata; almost always empty).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    reserved = {"__u", "__rn", "__s", "__cnt", "__thr", "__got",
                "__g_s", "__short_s"}
    clash = sorted(reserved.intersection(df.columns))
    if clash:
        raise ValueError(f"column(s) {clash} already exist in the input "
                         "— the __-prefixed internals are reserved")
    u = hash_uniform(F.concat(F.col(id_col).cast("string"),
                              F.lit(f":{seed}"))).alias("__u")
    w = (Window.partitionBy(strata_col)
         .orderBy(F.col("__u").asc(), F.col(id_col).asc()))

    def top_n(frame: DataFrame) -> DataFrame:
        return (frame.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= n).drop("__rn", "__u"))

    hashed = df.withColumn("__u", u)
    if not prefilter:
        return top_n(hashed)
    counts = (df.groupBy(strata_col)
              .agg(F.count(F.lit(1)).alias("__cnt")))
    margin = float(n + 6.0 * math.sqrt(n) + 12.0) if _margin is None \
        else float(_margin)  # test hook: force the undershoot fallback
    thresh = F.least(F.lit(1.0), F.lit(margin) / F.col("__cnt"))
    keyed = counts.select(
        F.col(strata_col).alias("__s"),
        F.col("__cnt"), thresh.alias("__thr"))
    cand = (hashed.join(F.broadcast(keyed),
                        F.col(strata_col).eqNullSafe(F.col("__s")))
            .where(F.col("__u") <= F.col("__thr")))
    picked = top_n(cand.drop("__s", "__cnt", "__thr"))
    # exactness check: any stratum whose candidate pool undershot
    # min(n, count) re-runs unfiltered (almost always no stratum does).
    # LEFT join from the counts table so a stratum with an EMPTY
    # candidate pool (absent from cand entirely) is also caught
    got = (cand.groupBy(F.col("__s").alias("__g_s"))
           .agg(F.count(F.lit(1)).alias("__got")))
    short = (keyed.join(got, F.col("__s").eqNullSafe(F.col("__g_s")),
                        "left")
             .where(F.coalesce(F.col("__got"), F.lit(0))
                    < F.least(F.lit(n), F.col("__cnt")))
             .select(F.col("__s").alias("__short_s")))
    short_rows = [r["__short_s"] for r in short.collect()]
    if not short_rows:
        return picked
    # NULL is a legal stratum: isin() yields NULL for a NULL column, so
    # coalesce to keep non-short NULL-strata rows under the negation
    non_null = [s for s in short_rows if s is not None]
    is_short = (F.coalesce(F.col(strata_col).isin(non_null), F.lit(False))
                if non_null else F.lit(False))
    if None in short_rows:
        is_short = is_short | F.col(strata_col).isNull()
    return (picked.where(~is_short)
            .unionByName(top_n(hashed.where(is_short))))


# ---------------------------------------------------------------------------
# Per-key row caps (RefinedWeb-style domain caps)
# ---------------------------------------------------------------------------

def cap_per_key(df: DataFrame, key_col: str, cap: int,
                order_col: str = "doc_id", out: str = "kept",
                scale_safe: bool = False) -> DataFrame:
    """Keep at most ``cap`` rows per ``key_col`` group, deterministic
    under ``order_col`` (the RefinedWeb/Gopher "at most N documents per
    domain" curation cap; order by a quality key to keep the best N; no
    reference counterpart — engine-side operator). ``order_col`` must
    be non-null and unique within each key.

    Returns df.* + boolean ``out`` (rank within key < ``cap``).

    Scale shape: the default is one per-key window (rank = row_number)
    — per-key task footprint, the right plan while no key exceeds ~1M
    rows (the temporal crossover). ``scale_safe=True`` switches to the
    packing two-pass prefix COUNT over a range-partitioned slim (key,
    order) projection — no per-key task at any skew, same answer (the
    asof/sessionize `scale_safe` pattern; see
    :func:`~osm2lanes_spark.operators.packing.select_to_budget`).
    """
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    if out in df.columns:
        raise ValueError(f"output column {out!r} already exists in the "
                         "input — pass a different out=")
    if not scale_safe:
        w = Window.partitionBy(key_col).orderBy(F.col(order_col).asc())
        return df.withColumn(out, F.row_number().over(w) <= F.lit(cap))

    from .packing import _join_back, _ranged, _two_pass_prefix
    slim = (df.select(key_col, F.col(order_col).alias("__ord"))
            .withColumn("__one", F.lit(1).cast("long")))
    ranged = _ranged(slim, "__ord", [key_col], None) \
        .localCheckpoint(eager=False)
    pre = _two_pass_prefix(ranged, "__one", "__ord", [key_col])
    flagged = pre.withColumn(out, F.col("__pre") < F.lit(cap))
    return _join_back(df, flagged, order_col, [key_col], out)


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def _grams(text: Column, ns: tuple[int, ...]) -> Column:
    """The DSIR feature grams of ``text`` as one ``array<string>`` —
    lowercased word n-grams for each n in ``ns`` concatenated (Xie et
    al. 2023 §3 uses hashed unigrams + bigrams). Bucketing happens
    AFTER the explode on the flat gram column (whole-stage codegen),
    not inside a per-element lambda (interpreted HOF path)."""
    from .profiling import ngrams

    arrs = [ngrams(text, n) for n in ns]
    return F.concat(*arrs) if len(arrs) > 1 else arrs[0]


def _gram_bucket_rows(df: DataFrame, text_col: str, ns: tuple[int, ...],
                      n_buckets: int, seed: int, *ids) -> DataFrame:
    """One (``*ids``, ``__bkt``) row per gram instance: explode the gram
    strings, then md5-bucket the flat column
    (:func:`~osm2lanes_spark.operators.text.token_bucket` — any engine
    with md5 replays the features bit-for-bit)."""
    from .text import token_bucket
    from ..util import spread as _sp

    # spread first: the gram explode + md5 bucketing otherwise runs
    # inside the (often single-task) scan stage — guide §2.5; no-op at
    # real scale where input partitions exceed the session parallelism
    return (_sp(df, text_col)
            .select(*ids, F.explode(_grams(F.col(text_col), ns))
                    .alias("__gram"))
            .select(*ids, token_bucket(F.col("__gram"), n_buckets, seed)
                    .alias("__bkt")))


def _bucket_counts(df: DataFrame, text_col: str, ns: tuple[int, ...],
                   n_buckets: int, seed: int, cnt: str) -> DataFrame:
    """(``__bkt``, ``cnt``) hashed-gram bucket counts of a corpus — one
    map-side-combined shuffle whose output is bounded by ``n_buckets``
    rows regardless of corpus size."""
    return (_gram_bucket_rows(df, text_col, ns, n_buckets, seed)
            .groupBy("__bkt").agg(F.count(F.lit(1)).alias(cnt)))


def _dsir_logw_slim(df: DataFrame, target: DataFrame, text_col: str,
                    id_col: str, ns: tuple[int, ...], n_buckets: int,
                    seed: int, alpha: float) -> DataFrame:
    """One (``__ds_id``, ``__ds_logw``) row per ``df`` row: its DSIR log
    importance weight against the ``target`` corpus (Data Selection via
    Importance Resampling, Xie et al. 2023, NeurIPS)::

        logw(doc) = sum over hashed-gram instances g of
                    ln p_target(bucket(g)) - ln q_raw(bucket(g))

    Both distributions are add-``alpha``-smoothed bucket frequencies over
    ``n_buckets`` hashing-trick features (lowercased word n-grams for each
    n in ``ns``): ``p(b) = (count_b + alpha) / (total + alpha *
    n_buckets)``. The raw distribution q is fit on ``df`` itself; buckets
    unseen in either corpus fall out of the same formula at ``count = 0``.
    ``__ds_logw`` is NULL for NULL text and 0.0 for token-less text.

    Scale shape: the two fits are ONE map-side-combined bucket-count
    shuffle each, bounded by ``n_buckets`` rows; the log-ratio table (a
    full outer join of the two counts plus a 1-row totals broadcast) is
    broadcast to the scoring join, so the per-row work is the gram
    explode, a broadcast hash join and one map-side-combined per-doc sum.
    The relation is slim (no wide join back), so :func:`dsir_resample`
    checkpoints it once for both its threshold and its flag. ``id_col``
    must be unique and non-null."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive ints, got {ns}")

    qcnt = _bucket_counts(df, text_col, ns, n_buckets, seed, "__cq")
    pcnt = _bucket_counts(target, text_col, ns, n_buckets, seed, "__cp")
    totals = F.broadcast(
        qcnt.agg(F.sum("__cq").alias("__tq")).crossJoin(
            pcnt.agg(F.sum("__cp").alias("__tp"))))
    b = float(n_buckets)
    ratio = (qcnt.join(pcnt, "__bkt", "full_outer")
             .crossJoin(totals)
             .select(
                 "__bkt",
                 (F.log(F.coalesce(F.col("__cp"), F.lit(0)) + F.lit(alpha))
                  - F.log(F.coalesce(F.col("__tp"), F.lit(0))
                          + F.lit(alpha * b))
                  - F.log(F.coalesce(F.col("__cq"), F.lit(0))
                          + F.lit(alpha))
                  + F.log(F.coalesce(F.col("__tq"), F.lit(0))
                          + F.lit(alpha * b))).alias("__lr")))

    grams = _gram_bucket_rows(df, text_col, ns, n_buckets, seed,
                              F.col(id_col))
    per_doc = (grams.join(F.broadcast(ratio), "__bkt", "left")
               .groupBy(id_col)
               .agg(F.sum("__lr").alias("__logw"))
               .select(F.col(id_col).alias("__pd_id"), "__logw"))
    ids = df.select(F.col(id_col).alias("__ds_id"),
                    F.col(text_col).isNotNull().alias("__has_text"))
    return (ids.join(per_doc, ids["__ds_id"] == F.col("__pd_id"), "left")
            .select("__ds_id",
                    F.when(F.col("__has_text"),
                           F.coalesce(F.col("__logw"), F.lit(0.0)))
                    .alias("__ds_logw")))


def dsir_resample(df: DataFrame, target: DataFrame, k: int,
                  text_col: str = "text", id_col: str = "doc_id",
                  ns: tuple[int, ...] = (1, 2),
                  n_buckets: int = 1 << 16, seed: int = 0,
                  alpha: float = 1.0, key_decimals: int = 6,
                  out: str = "selected") -> DataFrame:
    """Gumbel-top-k importance resampling: flag the ``k`` documents of
    ``df`` DSIR would select for the ``target`` domain. Sampling
    without replacement proportional-to-weight is exactly "add
    independent Gumbel noise to each log weight and take the top k"
    (the Gumbel-top-k trick; public result), and the Gumbel here is a
    pure function of the doc id — ``g = -ln(-ln(u))`` with ``u`` the
    md5 uniform of ``'g:<seed>:<id>'`` shifted to the open interval —
    so re-runs, backfills and external engines reproduce the exact
    selection. Returns df.* + ``dsir_logw`` + ``dsir_key`` + boolean
    ``out``; NULL-text rows carry NULL key and are never selected.

    Scale shape: the score pipeline runs ONCE — the slim (id, logw, key)
    relation is localCheckpointed (3 narrow columns, the
    packing/sessionize footprint discipline) and feeds both the
    threshold and the flag, instead of Catalyst recomputing the fits
    for each branch. The threshold is the k-th largest key — computed
    by ``TakeOrderedAndProject`` (every task keeps its local top-k, the
    driver merges k·tasks rows) aggregated to ONE row and broadcast
    back; no global sort, no single-partition window.

    Selection ranks on the key QUANTIZED to ``key_decimals`` (default
    6) with ``id_col`` as the tie-break: the raw key is a float sum
    whose partition-order jitter (~1e-13) could flip the rank-k
    boundary between otherwise-identical runs or engines; quantizing
    makes the chosen set a pure function of the data while the
    continuous Gumbel key keeps real ties measure-zero. ``dsir_key``
    still returns the raw key.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    reserved = {"dsir_logw", "dsir_key", out}
    clash = sorted(reserved.intersection(df.columns))
    if clash:
        raise ValueError(f"output column(s) {clash} already exist in "
                         "the input — rename them or pass a different "
                         "out=")
    u = ((F.conv(F.substring(
            F.md5(F.concat(F.lit(f"g:{seed}:"),
                           F.col("__ds_id").cast("string"))), 1, 8),
            16, 10).cast("double") + F.lit(0.5))
         / F.lit(float(1 << 32)))
    keyed = (_dsir_logw_slim(df, target, text_col, id_col, ns,
                             n_buckets, seed, alpha)
             .withColumn("__ds_key", F.col("__ds_logw") - F.log(-F.log(u)))
             .withColumn("__k6", F.round(F.col("__ds_key"), key_decimals))
             .localCheckpoint(eager=False))
    # the k-th row of the (key6 desc, id asc) ranking == the lexicographic
    # max of (-key6, id) over the top-k — one struct agg, always 1 row
    # (NULL fields when k = 0 or no candidates → nothing selected)
    thresh = F.broadcast(
        keyed.where(F.col("__k6").isNotNull())
        .orderBy(F.col("__k6").desc(), F.col("__ds_id").asc()).limit(k)
        .agg(F.max(F.struct((-F.col("__k6")).alias("nk"),
                            F.col("__ds_id").alias("kid"))).alias("__th"))
        .select((-F.col("__th.nk")).alias("__kth6"),
                F.col("__th.kid").alias("__kid")))
    flagged = (keyed.crossJoin(thresh)
               .select("__ds_id",
                       F.col("__ds_logw").alias("dsir_logw"),
                       F.col("__ds_key").alias("dsir_key"),
                       F.coalesce(
                           (F.col("__k6") > F.col("__kth6"))
                           | ((F.col("__k6") == F.col("__kth6"))
                              & (F.col("__ds_id") <= F.col("__kid"))),
                           F.lit(False)).alias(out)))
    return (df.join(flagged, df[id_col] == F.col("__ds_id"), "left")
            .drop("__ds_id"))


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id", seed: int = 0,
                    key_decimals: int = 6,
                    out: str = "selected") -> DataFrame:
    """Deterministic weight-proportional sampling WITHOUT replacement:
    flag the ``k`` rows a Gumbel-top-k draw selects with probability
    proportional to ``weight_col`` (Efraimidis & Spirakis 2006 /
    Gumbel-top-k — public results). The noise is a pure function of
    the id (``g = -ln(-ln(u))``, ``u`` the md5 uniform of
    ``'w:<seed>:<id>'`` shifted into the open interval), so re-runs,
    backfills and other engines reproduce the exact selection. Rows
    with NULL or non-positive weight are never selected (their key is
    NULL). Returns df.* + ``sample_key`` + boolean ``out``.

    Scale shape (the dsir_resample discipline): the k-th key is found
    by TakeOrderedAndProject — per-task top-k, driver merge of k·tasks
    rows, never a global sort or single-partition window — aggregated
    to one row and broadcast back. Selection ranks on the key
    QUANTIZED to ``key_decimals`` with the id as tie-break, so the
    chosen set is a pure function of the data (float-boundary
    discipline; raw keys differing at the last ulp cannot flip the
    boundary).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    reserved = {"sample_key", out}
    clash = sorted(reserved.intersection(df.columns))
    if clash:
        raise ValueError(f"output column(s) {clash} already exist in "
                         "the input — rename them or pass a different "
                         "out=")
    u = ((F.conv(F.substring(
            F.md5(F.concat(F.lit(f"w:{seed}:"),
                           F.col(id_col).cast("string"))), 1, 8),
            16, 10).cast("double") + F.lit(0.5))
         / F.lit(float(1 << 32)))
    key = F.when(F.col(weight_col) > 0,
                 F.log(F.col(weight_col).cast("double"))
                 - F.log(-F.log(u)))
    keyed = (df.select(F.col(id_col).alias("__ws_id"), key.alias("__ws_key"))
             .withColumn("__k6", F.round(F.col("__ws_key"), key_decimals))
             .localCheckpoint(eager=False))
    thresh = F.broadcast(
        keyed.where(F.col("__k6").isNotNull())
        .orderBy(F.col("__k6").desc(), F.col("__ws_id").asc()).limit(k)
        .agg(F.max(F.struct((-F.col("__k6")).alias("nk"),
                            F.col("__ws_id").alias("kid"))).alias("__th"))
        .select((-F.col("__th.nk")).alias("__kth6"),
                F.col("__th.kid").alias("__kid")))
    flagged = (keyed.crossJoin(thresh)
               .select("__ws_id",
                       F.col("__ws_key").alias("sample_key"),
                       F.coalesce(
                           (F.col("__k6") > F.col("__kth6"))
                           | ((F.col("__k6") == F.col("__kth6"))
                              & (F.col("__ws_id") <= F.col("__kid"))),
                           F.lit(False)).alias(out)))
    return df.join(flagged, df[id_col] == F.col("__ws_id"), "left") \
             .drop("__ws_id")
