"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale shape (the point at 100 TB):
- *exact*: one shuffle on the 16-byte fingerprint, map-side combine;
- *MinHash/LSH*: signatures are computed JVM-side with higher-order
  functions (shingle → H salted xxhash64 minima), candidates come from a
  self-equi-join on (band, band_hash) — only colliding bands shuffle
  together, never the full cross product; verification (exact Jaccard /
  cosine) runs only on candidate pairs;
- *SimHash*: 64-bit signature via per-bit votes, banded the same way;
- pair outputs are canonicalized (left < right) so downstream grouping is
  deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import normalized, tokens


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     keep: "str | Column" = "min_id") -> DataFrame:
    """Mark exact duplicates (normalized text).

    Returns (id, fingerprint, survivor_id, is_duplicate). ``keep`` picks
    the per-group survivor — the same policies as
    :func:`dedup_clusters` (VERDICT r04 #7, API parity):

    - ``"min_id"`` (default): the minimum member id;
    - ``"longest"``: the longest RAW ``text_col`` (group members share
      the same *normalized* text, so this keeps the best-formatted
      variant; ties → min id);
    - any :class:`Column`: a score over df's columns, highest wins
      (ties → min id).

    Same scale shape for every policy: one fingerprint shuffle, one
    window pass — the ordering expression changes, the plan does not.
    """
    reserved = {"fingerprint", "survivor_id", "is_duplicate"}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"exact_duplicates output column(s) {sorted(clash)} already "
            "exist in the input — rename them before calling")
    if isinstance(keep, str) and keep == "min_id":
        order = [F.col(id_col).asc()]
    elif isinstance(keep, str):
        if keep != "longest":
            raise ValueError(f"unknown keep policy: {keep!r} "
                             "(expected 'min_id', 'longest', or a Column)")
        order = [F.length(F.col(text_col)).desc(), F.col(id_col).asc()]
    else:
        order = [keep.desc(), F.col(id_col).asc()]
    fp = F.md5(normalized(F.col(text_col)))
    w = Window.partitionBy("fingerprint").orderBy(*order)
    return (df.withColumn("fingerprint", fp)
            .withColumn("survivor_id", F.first(id_col).over(w))
            .withColumn("is_duplicate", F.col(id_col) != F.col("survivor_id"))
            .select(F.col(id_col), "fingerprint", "survivor_id",
                    "is_duplicate"))


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                keep: "str | Column" = "min_id") -> DataFrame:
    """Keep one row per normalized-text group (survivor per ``keep`` —
    min-id by default)."""
    marked = exact_duplicates(df, id_col, text_col, keep)
    survivors = marked.where(~F.col("is_duplicate")).select(id_col)
    return df.join(survivors, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH banding
# ---------------------------------------------------------------------------

# Word 3-grams: the shingle of every MinHash and Jaccard operator here.
SHINGLE_N = 3

# MinHash signature: 32 salted hashes, banded 8 × 4 for the LSH join.
MINHASH_HASHES, MINHASH_BANDS = 32, 8


def word_shingles(text: Column) -> Column:
    """Distinct word ``SHINGLE_N``-grams of the normalized text (JVM-side).

    Built by ``zip_with`` over shifted token arrays instead of
    ``transform(sequence, i -> concat_ws(slice(toks, i, n)))``: the
    per-index ``slice`` allocates an array per gram under interpreted HOF
    eval — the zip_with chain measures ~4x faster on the bench corpus with
    byte-identical output (round-2 profiling)."""
    n = SHINGLE_N
    toks = F.split(normalized(text), " ")
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        grams = F.zip_with(grams, shifted,
                           lambda a, b: F.concat_ws(" ", a, b))
    grams = F.slice(grams, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks))))


from ..util import spread as _spread  # shared single-file-scan guard
from ..util import _input_bytes, _is_bare_scan  # moved to util (r07)


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))




def minhash_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            threshold: float = 0.6, verify: str = "auto",
                            min_rescan_bytes: int = 4 << 30) -> DataFrame:
    """Near-duplicate pairs via MinHash banding (``MINHASH_HASHES``
    hashes in ``MINHASH_BANDS`` bands), verified by exact Jaccard.

    Returns (left_id, right_id, jaccard) with left < right, jaccard ≥
    threshold. Only band-colliding pairs are ever joined.

    Scale shape: signatures come from ``explode(shingles) → groupBy(id)``
    with one ``min(xxhash64(salt_i, shingle))`` per hash — each shingle is
    hashed exactly H times with map-side partial aggregation, and the
    aggregation is an optimizer barrier, so nothing re-inlines the shingle
    expression (a naive nested-expression formulation explodes
    combinatorially under CollapseProject).

    ``verify`` picks how candidates are re-shingled for the exact check:

    - ``'rescan'``: join candidates against the full re-shingled corpus.
      Measured fastest on small/medium corpora (round-2 A/B at sf0.1) —
      the extra jobs of the alternative cost more than the re-shingle.
    - ``'candidate_first'``: eagerly checkpoint the candidate pairs,
      broadcast the distinct candidate ids, and semi-join the corpus
      BEFORE shingling — the verify pass shingles only candidate docs.
      The right shape when the corpus scan/shingle dominates (the 100 TB
      regime) and candidates ≪ corpus.
    - ``'auto'`` (default): ``'candidate_first'`` when the input is a
      BARE file scan (no filters/joins upstream — otherwise the file
      size would over-estimate the corpus and the row count would run
      the upstream pipeline as an extra job) of at least
      ``min_rescan_bytes`` (default 4 GiB) AND the candidate ids number
      under a quarter of the corpus rows; ``'rescan'`` otherwise.
      Derived inputs always rescan — pass ``verify='candidate_first'``
      explicitly when you know candidates ≪ corpus.
    """
    if verify not in ("auto", "rescan", "candidate_first"):
        raise ValueError(f"unknown verify mode: {verify!r}")
    rows = MINHASH_HASHES // MINHASH_BANDS
    # 'auto' on a small or derived input always resolves to 'rescan'
    # (the candidate_first probe below only runs for big bare scans) —
    # resolve it NOW so the rescan path can materialize the shingle
    # relation once: it otherwise evaluates three times (signature pass
    # + both verify sides; measured 2 × ~30 core-s of duplicated
    # shingling at sf1.0). candidate_first keeps the lazy relation —
    # checkpointing a 100 TB corpus' shingles would be a full extra
    # write for a pass that reads it once.
    if verify == "auto":
        nbytes = _input_bytes(df) if _is_bare_scan(df) else None
        if nbytes is None or nbytes < min_rescan_bytes:
            verify = "rescan"
    sh = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col)).alias("shingles"))
    if verify == "rescan":
        sh = sh.localCheckpoint(eager=True)
    sig = (sh.select("id", F.explode("shingles").alias("shingle"))
           .groupBy("id")
           .agg(*[F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
                  for i in range(MINHASH_HASHES)]))
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
                .alias("band_hash"))
            for b in range(MINHASH_BANDS)
        ])).alias("bb")).select("id", "bb.band", "bb.band_hash")
    left = banded.select(F.col("id").alias("left_id"), "band", "band_hash")
    right = banded.select(F.col("id").alias("right_id"), "band", "band_hash")
    cand = (left.join(right, ["band", "band_hash"])
            .where(F.col("left_id") < F.col("right_id"))
            .select("left_id", "right_id")
            .dropDuplicates(["left_id", "right_id"]))

    checkpointed = False
    if verify == "auto":
        # still-auto here means a big bare scan (small/derived inputs
        # resolved to 'rescan' above): worth one candidate
        # materialization + a footer-only row count to decide
        verify = "rescan"
        cand = cand.localCheckpoint(eager=True)
        checkpointed = True
        n_ids = (cand.select(F.col("left_id").alias("id"))
                 .union(cand.select(F.col("right_id")))
                 .distinct().count())
        if n_ids * 4 <= df.count():
            verify = "candidate_first"

    if verify == "candidate_first":
        # truncate the LSH lineage so the verify stage never re-runs it
        if not checkpointed:
            cand = cand.localCheckpoint(eager=True)
        ids = (cand.select(F.col("left_id").alias(id_col))
               .union(cand.select(F.col("right_id"))).distinct())
        sh_v = (_spread(df.join(F.broadcast(ids), id_col, "left_semi"),
                        id_col)
                .select(F.col(id_col).alias("id"),
                        word_shingles(F.col(text_col)).alias("shingles")))
    else:
        sh_v = sh
    # exact-Jaccard verification only on candidates
    lsh = sh_v.select(F.col("id").alias("left_id"),
                      F.col("shingles").alias("lsh"))
    rsh = sh_v.select(F.col("id").alias("right_id"),
                      F.col("shingles").alias("rsh"))
    return (cand.join(lsh, "left_id").join(rsh, "right_id")
            .withColumn("jaccard", F.round(jaccard(F.col("lsh"), F.col("rsh")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("left_id", "right_id", "jaccard"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over *all* pairs (the small-data oracle path;
    LSH above is the scale path with identical verification semantics)."""
    s = df.select(F.col(id_col).alias("id"),
                  word_shingles(F.col(text_col)).alias("sh"))
    l = s.select(F.col("id").alias("left_id"), F.col("sh").alias("lsh"))
    r = s.select(F.col("id").alias("right_id"), F.col("sh").alias("rsh"))
    return (l.crossJoin(r).where(F.col("left_id") < F.col("right_id"))
            .withColumn("jaccard", F.round(jaccard(F.col("lsh"), F.col("rsh")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("left_id", "right_id", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """(id, sim) 64-bit SimHash of each doc's token set, all JVM-side.

    Per-bit vote: for each of 64 bits, sum ±1 over distinct-token hashes;
    bit set when the vote is positive. Tokens are exploded and the votes
    are 64 ``sum`` aggregates — map-side combine, aggregation barrier (no
    expression re-inlining), one shuffle keyed by id.

    ``hash_fn``: 'xxhash64' (default — cheapest, the 100 TB path) or
    'md5' (two 32-bit halves of md5 hex — byte-identical to a DuckDB
    replica, so the whole SimHash pipeline becomes oracle-checkable).
    """
    toks = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(
            F.split(normalized(F.col(text_col)), " "))).alias("tok"))
    if hash_fn == "md5":
        h = F.md5(F.col("tok"))
        lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
        hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        hashed = toks.withColumn("_lo", lo).withColumn("_hi", hi)

        def bit_set(b: int):
            col = F.col("_lo") if b < 32 else F.col("_hi")
            return col.bitwiseAND(F.lit(1 << (b % 32)).cast("long")) != 0
    else:
        hashed = toks.withColumn("_h", F.xxhash64("tok"))

        def bit_set(b: int):
            return F.col("_h").bitwiseAND(
                F.shiftleft(F.lit(1).cast("long"), b)) != 0

    votes = hashed.groupBy("id").agg(*[
        F.sum(F.when(bit_set(b), 1).otherwise(-1)).alias(f"v{b}")
        for b in range(64)
    ])
    from functools import reduce

    bits = [
        F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b))
        .otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    sim = reduce(lambda a, c: a.bitwiseOR(c), bits)
    return votes.select("id", sim.alias("sim"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 7,
                  bands: int = 8, hash_fn: str = "xxhash64",
                  allow_partial: bool = False) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via banding.

    By pigeonhole, a pair differing in at most ``bands - 1`` bits must
    share at least one band — so with the defaults (8 bands of 8 bits,
    max_hamming 7) the banded output EXACTLY equals a brute-force hamming
    join; precision is always exact via the popcount verify. When the
    requested radius exceeds the guarantee of the requested band count,
    the band count is AUTO-WIDENED to the smallest divisor of 64 whose
    guarantee (bands - 1) covers ``max_hamming`` — the result stays
    provably exact. Widening stops at 16 bands (radius 15): beyond
    that, 1-2-bit bands have a 2-4-value domain, so the "only colliding
    bands co-shuffle" property degenerates into an all-pairs product
    (32 bands of 2 bits ≈ N²/4 candidate rows per band — round-4
    review); radii above 15 therefore RAISE unless
    ``allow_partial=True`` keeps the requested band count with partial
    recall (precision is always exact; recall measured in tests).
    Radius 15 is already past useful near-dup territory on 64-bit
    SimHash — unrelated docs sit at hamming ≈ 32 ± 4.
    """
    assert 64 % bands == 0, "bands must divide 64"
    if max_hamming > bands - 1 and not allow_partial:
        widened = next((b for b in (1, 2, 4, 8, 16)
                        if b > bands and b - 1 >= max_hamming), None)
        if widened is None:
            raise ValueError(
                f"max_hamming={max_hamming} exceeds the exact-banding "
                "cap (15, at 16 bands of 4 bits — wider banding "
                "degenerates toward an all-pairs join); pass "
                "allow_partial=True to keep partial recall at the "
                "requested band count")
        bands = widened
    width = 64 // bands
    mask = (1 << width) - 1
    sig = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
    banded = sig.select(
        "id", "sim",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned(F.col("sim"), width * b)
                     .bitwiseAND(F.lit(mask).cast("long")).alias("band_val"))
            for b in range(bands)
        ])).alias("bb")).select("id", "sim", "bb.band", "bb.band_val")
    l = banded.select(F.col("id").alias("left_id"), F.col("sim").alias("lsim"),
                      "band", "band_val")
    r = banded.select(F.col("id").alias("right_id"), F.col("sim").alias("rsim"),
                      "band", "band_val")
    return (l.join(r, ["band", "band_val"])
            .where(F.col("left_id") < F.col("right_id"))
            .dropDuplicates(["left_id", "right_id"])
            .withColumn("hamming", F.bit_count(F.col("lsim").bitwiseXOR(F.col("rsim"))))
            .where(F.col("hamming") <= max_hamming)
            .select("left_id", "right_id", "hamming"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (random-hyperplane LSH)
# ---------------------------------------------------------------------------

def embedding_near_dup(df: DataFrame, dim: int = 16, planes: int = 16,
                       bands: int = 4, threshold: float = 0.95) -> DataFrame:
    """Near-duplicate ``embedding`` vectors (keyed by ``vec_id``) by
    cosine ≥ threshold.

    Deterministic hyperplanes (fixed-seed), sign-bit sketch banded into
    ``bands`` buckets; candidates verified with exact cosine — the same
    bucket-join shape as MinHash, so it scales identically.

    The sketch is a numpy matmul over Arrow batches (V @ H.T >= 0) — a
    numeric kernel, not 16 nested JVM expressions (which would re-inline
    the unit-vector expression per plane under CollapseProject).
    """
    rng = np.random.default_rng(12345)  # fixed seed → deterministic planes
    hp = rng.standard_normal((planes, dim))
    per_band = planes // bands

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sketch_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (N, dim)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        bits = ((m / norms) @ hp.T >= 0).astype(np.uint8)  # (N, planes)
        out = []
        for row in bits:
            out.append(["".join(map(str, row[b * per_band:(b + 1) * per_band]))
                        for b in range(bands)])
        return pd.Series(out)

    # zero-norm guard matching the numpy sketch kernel: all-zero embeddings
    # become the zero vector (cosine 0 — excluded by threshold) instead of
    # null/NaN silently vanishing from results. The norm is hoisted into
    # its own column — inside the transform lambda the aggregate would be
    # re-evaluated per element (O(d^2)/vector under interpreted HOF eval).
    from .similarity import with_unit

    sig = (with_unit(_spread(df, "vec_id"), "embedding", "unit")
           .select(F.col("vec_id").alias("id"), "unit",
                   F.posexplode(sketch_udf(F.col("embedding")))
                   .alias("band", "band_val"))
           .select("id", "unit", "band", "band_val"))
    l = sig.select(F.col("id").alias("left_id"), F.col("unit").alias("lu"),
                   "band", "band_val")
    r = sig.select(F.col("id").alias("right_id"), F.col("unit").alias("ru"),
                   "band", "band_val")
    cos = F.aggregate(F.zip_with(F.col("lu"), F.col("ru"), lambda a, b: a * b),
                      F.lit(0.0), lambda a, x: a + x)
    return (l.join(r, ["band", "band_val"])
            .where(F.col("left_id") < F.col("right_id"))
            .dropDuplicates(["left_id", "right_id"])
            .withColumn("cosine", F.round(cos, 6))
            .where(F.col("cosine") >= threshold)
            .select("left_id", "right_id", "cosine"))


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, left: str = "left_id",
                         right: str = "right_id",
                         max_iter: int = 50,
                         symmetric: bool = False) -> DataFrame:
    """Group near-duplicate pairs into clusters: (id, component) for every
    id appearing in ``pairs``, where ``component`` is the minimum member
    id — the canonical dedup survivor key.

    Shape (the 100 TB story): min-label propagation (hash-to-min) with
    pointer jumping. Each round is one equi-join (edges ⋈ labels) plus a
    map-side-combined min-aggregate, followed by a label-of-label
    shortcut join — the pointer doubling makes convergence logarithmic in
    the longest path (a 2^50-diameter graph would be needed to exhaust
    ``max_iter=50``), not linear as plain propagation would be on chain
    graphs. Round results are localCheckpoint'ed so lineage stays flat.
    Convergence is detected by an exact change-join between consecutive
    rounds' checkpointed label leaves (rounds stop when no label moved) —
    id-type-agnostic, so string doc ids work; a numeric witness (e.g.
    sum of label ids) would require casting ids, which crashes under ANSI
    mode and silently nulls out otherwise (ADVICE r03). No driver-side
    graph, no collect. A non-converged exit RAISES rather than returning
    silently split components.
    """
    from ..util import tracked_checkpoint, unpersist_blocks

    spark = pairs.sparkSession
    # materialize the pair source ONCE before mirroring: the union's two
    # branches otherwise each evaluate the full upstream pipeline (e.g.
    # the whole MinHash LSH — measured 2× its cost in one job)
    p, p_ids = tracked_checkpoint(
        pairs.select(F.col(left).alias("a"), F.col(right).alias("b")))
    # ``symmetric=True`` declares the input already contains BOTH
    # directions of every edge with no duplicates (the dbscan ε-graph
    # shape) — the mirror union + dropDuplicates would shuffle 2× the
    # edges just to come back to the same relation, so skip it. (A
    # pre-repartition by the join key would NOT help here: a
    # localCheckpoint leaf does not carry output partitioning in
    # Spark 4.1 — verified — so the per-round join re-exchanges
    # regardless.)
    if symmetric:
        e, e_ids = p, p_ids
    else:
        e, e_ids = tracked_checkpoint(
            p.unionByName(p.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
            .dropDuplicates(["a", "b"]))
        unpersist_blocks(spark, p_ids)  # e materialized; p superseded
    labels, labels_ids = tracked_checkpoint(
        e.select(F.col("a").alias("id")).distinct()
        .select("id", F.col("id").alias("comp")))
    # the label table is node-bounded while e is edge-bounded, and a
    # checkpoint leaf carries no partitioning (Spark 4.1) so the edge
    # relation re-shuffles EVERY round under the planner's sort-merge
    # choice. Broadcast the labels per round ONLY when that buys
    # something: labels fit the broadcast cap AND the graph is dense
    # enough (avg degree ≥ 8) that the avoided per-round edge exchange
    # dominates the per-round broadcast build (A/B at sf1.0: the dense
    # dbscan ε-graph gains ~25%, the sparse near-dup pair graph loses —
    # both counts are metadata-cheap jobs over checkpointed leaves).
    from .graph import _bc_if_small
    n_nodes = labels.count()
    dense = e.count() >= 8 * max(1, n_nodes)
    if not dense:
        n_nodes = 1 << 62  # past any cap → _bc_if_small passes through
    for _ in range(max_iter):
        nbr = (e.join(_bc_if_small(
                   labels.select(F.col("id").alias("__lb_id"),
                                 F.col("comp").alias("comp")), n_nodes),
                   e.b == F.col("__lb_id"))
               .select(F.col("a").alias("id"), "comp"))
        # checkpoint BEFORE the pointer-jump self-join: hopping a plan
        # that still contains the union/agg trips Spark's Union constraint
        # rewrite on the duplicated attributes; a LogicalRDD leaf self-
        # joins cleanly (and the blocks are wanted for the next round
        # anyway)
        prop, prop_ids = tracked_checkpoint(
            labels.unionByName(nbr)
            .groupBy("id").agg(F.min("comp").alias("comp")))
        # pointer jumping: follow the label's own label (comp is always a
        # node id, so the lookup is the same labels relation). Five
        # compressions per round: each halves remaining label-chain
        # length, so path-shaped graphs (geographic chains — the dbscan
        # ε-graph) converge in ~log_{2^jumps} rounds instead of ~log₂;
        # measured on a 2048-node path: 12 rounds → 5 at 3 jumps, and
        # the r07 A/B at both bench sizes prefers 5 jumps (each ROUND
        # costs fixed driver-sequential jobs — checkpoint + change-join
        # — that dominate the in-plan jump joins on label tables). Each
        # extra jump is one node-keyed self-join of the (small) labels
        # relation per round; halving the round count halves the count
        # of edge-relation joins — the expensive side at scale.
        cur = prop
        for _ in range(5):
            lookup = cur.select(F.col("id").alias("_cid"),
                                F.col("comp").alias("_ccomp"))
            cur = (cur.join(_bc_if_small(lookup, n_nodes),
                            cur.comp == F.col("_cid"), "left")
                   .select(cur.id,
                           F.least(cur.comp,
                                   F.coalesce(F.col("_ccomp"), cur.comp))
                           .alias("comp")))
        prev, prev_ids = labels, labels_ids
        labels, labels_ids = tracked_checkpoint(cur)
        # the new round's labels are materialized: prop's blocks are
        # superseded immediately (VERDICT r04 #5 — without the explicit
        # frees, every round's label table sat in block storage until
        # the plan was GC'd; on a 100 TB corpus that is rounds × corpus)
        unpersist_blocks(spark, prop_ids)
        # exact fixpoint test over the two checkpointed leaves: labels
        # only ever decrease, so "no label changed" == converged; the
        # equality join works for string ids where any numeric witness
        # would need a cast (CAST_INVALID_INPUT under ANSI, silent NULL
        # == NULL false-convergence otherwise — ADVICE r03 high)
        changed = (labels.join(_bc_if_small(
                       prev.select(F.col("id").alias("__pid"),
                                   F.col("comp").alias("__pcomp")),
                       n_nodes),
                               labels.id == F.col("__pid"))
                   .where(F.col("comp") != F.col("__pcomp")))
        converged = changed.isEmpty()
        unpersist_blocks(spark, prev_ids)  # change-join consumed prev
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(with pointer jumping this needs a path of length "
            f"> 2^{max_iter}) — raising instead of returning split "
            "components")
    # the returned plan reads only the final labels leaf — the edge
    # table's blocks are no longer reachable from it
    unpersist_blocks(spark, e_ids)
    return labels.select("id", F.col("comp").alias("component"))


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   keep: "str | Column" = "min_id",
                   text_col: str = "text") -> DataFrame:
    """Full-corpus cluster assignment over the ``(left_id, right_id)``
    near-duplicate ``pairs``: every row of ``df`` gets a
    ``component`` (its near-dup cluster's min id; singletons map to
    themselves) and ``is_duplicate`` (member of a cluster, not its
    survivor). The standard keep-one-per-cluster filter is then
    ``~is_duplicate``.

    ``keep`` picks the per-cluster survivor (VERDICT r03 #4):

    - ``"min_id"`` (default): the minimum member id — the component key
      itself; output schema is df.* + (component, is_duplicate).
    - ``"longest"``: the member with the longest ``text_col`` (ties
      broken by min id) — the usual "keep the best doc" policy.
    - any :class:`Column`: a score expression over df's columns; the
      member with the HIGHEST score survives (ties broken by min id).

    Non-default policies add a ``survivor_id`` column (the kept member's
    id) and define ``is_duplicate`` against it; one extra window over the
    same (component)-keyed shuffle, no new join.
    """
    # the outputs (and the internal join key) must not collide with input
    # columns — an input already carrying "component" would make the
    # post-join F.col("component") ambiguous and resolve unpredictably
    reserved = {"component", "is_duplicate"}
    if not (isinstance(keep, str) and keep == "min_id"):
        reserved.add("survivor_id")
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"dedup_clusters output column(s) {sorted(clash)} already exist "
            "in the input — rename them before calling")
    # rename the component table's key so an id_col literally named "id"
    # can't collide (drop("id") would remove BOTH columns)
    comp = (connected_components(pairs)
            .withColumnRenamed("id", "__cc_id"))
    joined = (df.join(comp, df[id_col] == comp.__cc_id, "left")
              .drop("__cc_id"))
    component = F.coalesce(F.col("component"), F.col(id_col))
    out = joined.withColumn("component", component)
    if isinstance(keep, str) and keep == "min_id":
        return out.withColumn("is_duplicate",
                              F.col(id_col) != F.col("component"))
    if isinstance(keep, str):
        if keep != "longest":
            raise ValueError(f"unknown keep policy: {keep!r} "
                             "(expected 'min_id', 'longest', or a Column)")
        score = F.length(F.col(text_col))
    else:
        score = keep
    w = (Window.partitionBy("component")
         .orderBy(score.desc(), F.col(id_col).asc()))
    return (out
            .withColumn("survivor_id", F.first(id_col).over(w))
            .withColumn("is_duplicate",
                        F.col(id_col) != F.col("survivor_id")))


# ---------------------------------------------------------------------------
# Cross-document line/paragraph dedup (C4 / RefinedWeb boilerplate removal)
# ---------------------------------------------------------------------------

def line_dedup(df: DataFrame, min_docs: int = 2,
               min_line_chars: int = 1, sep: str = "\n",
               broadcast_fingerprints: bool = True) -> DataFrame:
    """Remove lines (or paragraphs — ``sep="\\n\\n"``) whose normalized
    form occurs in at least ``min_docs`` DISTINCT documents: the
    C4/RefinedWeb curation step that strips navbars, cookie banners,
    copyright footers and other cross-site boilerplate the document-level
    dedups cannot see (no reference counterpart — engine-side operator;
    cf. Raffel et al. 2020 §2.2, Penedo et al. 2023 §3.3).

    A line is a removal *candidate* only when its normalized form
    (:func:`~osm2lanes_spark.operators.text.normalized` — lowercase,
    collapsed whitespace) has at least ``min_line_chars`` characters, so
    blank separator lines survive by default. ``doc_id`` must be unique
    (document granularity). NULL ``text`` passes through as NULL.

    Returns df.* + ``clean_text`` (text rebuilt from surviving lines in
    original order, ``""`` when everything was boilerplate) +
    ``n_lines`` + ``n_removed_lines``.

    Scale shape at 100 TB: the only full-text passes are the line
    explode (narrow) and the two join-backs. Document frequencies are a
    ``(id, fingerprint) distinct`` + one count — both map-side combined,
    so a fingerprint appearing a billion times (the hot navbar) is
    combined hardest, and the shuffle carries distinct fingerprints, not
    occurrences. The ≥``min_docs`` fingerprint set joins back broadcast
    by default (boilerplate vocabularies are small); pass
    ``broadcast_fingerprints=False`` for a hash join when it is not —
    the probe side carries no ordering requirement, so AQE's skew-join
    split handles hot fingerprints. Reconstruction is one
    (id)-keyed aggregate over surviving lines; the final stitch joins
    the rebuilt text back to the untouched input by id.
    """
    import re as _re

    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if min_line_chars < 1:
        raise ValueError(
            f"min_line_chars must be >= 1, got {min_line_chars}")
    reserved = {"clean_text", "n_lines", "n_removed_lines"}
    clash = sorted(reserved.intersection(df.columns))
    if clash:
        raise ValueError(f"output column(s) {clash} already exist in the "
                         "input — rename them")
    split_pat = _re.escape(sep)

    lines = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), split_pat))
        .alias("__pos", "__line"))
    lines = lines.withColumn("__norm", normalized(F.col("__line")))

    common = (lines
              .where(F.length("__norm") >= min_line_chars)
              .select("doc_id", "__norm").distinct()
              .groupBy("__norm")
              .agg(F.count(F.lit(1)).alias("__docs"))
              .where(F.col("__docs") >= min_docs)
              .select("__norm"))
    if broadcast_fingerprints:
        common = F.broadcast(common)
    # a sub-min_line_chars norm can never be in `common` (candidacy is a
    # function of the norm itself), so a bare left-anti join keeps
    # exactly the surviving lines
    kept = lines.join(common, "__norm", "left_anti")

    rebuilt = (kept
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("__n_kept"),
                    F.concat_ws(
                        sep,
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("__pos"), F.col("__line")))),
                            lambda s: s["__line"])).alias("__rebuilt"))
               .select(F.col("doc_id").alias("__ld_id"),
                       "__n_kept", "__rebuilt"))

    n_lines = F.when(F.col("text").isNotNull(),
                     F.size(F.split(F.col("text"), split_pat)))
    return (df.join(rebuilt, df["doc_id"] == F.col("__ld_id"), "left")
            .withColumn("n_lines", n_lines)
            .withColumn("n_removed_lines",
                        n_lines - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .withColumn("clean_text",
                        F.when(F.col("text").isNotNull(),
                               F.coalesce(F.col("__rebuilt"), F.lit(""))))
            .drop("__ld_id", "__n_kept", "__rebuilt"))


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (Lee et al. 2022 style)
# ---------------------------------------------------------------------------

def duplicate_spans(df: DataFrame, k: int = 8, min_docs: int = 2,
                    broadcast_fingerprints: bool = True) -> DataFrame:
    """Find maximal ``text`` token spans whose every ``k``-token window
    occurs in at least ``min_docs`` DISTINCT documents — the
    exact-substring dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), at whitespace-token granularity
    instead of the paper's byte-level suffix array (no reference
    counterpart — engine-side operator).

    Every document contributes one rolling window per token position
    (``n_tokens - k + 1`` windows); a window is *flagged* when its
    fingerprint appears in >= ``min_docs`` distinct documents; flagged
    window positions are merged per document into maximal spans (two
    flagged windows at positions ``p < q`` merge iff ``q - p <= k``,
    i.e. iff their covered token intervals ``[p, p+k-1]`` and
    ``[q, q+k-1]`` overlap or touch — a span is exactly one connected
    run of duplicated-window coverage).

    Returns one row per span: (``doc_id``, ``span_start``, ``span_end``
    — 0-based inclusive token positions — ``n_windows``), all counts as
    BIGINT. Documents with fewer than ``k`` tokens contribute nothing.

    Scale shape at 100 TB: windows are built JVM-side
    (transform/slice/xxhash64 over the token array — narrow); the
    document-frequency pass shuffles DISTINCT (doc, fingerprint) 8-byte
    hashes with map-side combine, so the hot boilerplate gram combines
    hardest and the shuffle carries distinct grams, not occurrences.
    The >= ``min_docs`` fingerprint set joins back broadcast by default
    (duplicated-gram vocabularies are small relative to the corpus);
    ``broadcast_fingerprints=False`` switches to a hash join whose probe
    side has no ordering requirement, so AQE's skew split handles hot
    grams. Span merging is one per-document window — bounded by the
    document's own flagged-window count, the natural unit of work.
    Fingerprint equality stands in for string equality (64-bit xxhash64
    collisions are negligible at corpus scale — same assumption as the
    MinHash band join).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")

    toks = tokens(F.col("text"))
    # spread before the O(n_tokens · k) rolling-window build: fused into
    # a single-task scan it runs single-threaded (guide §2.5); no-op at
    # real scale
    base = (_spread(df, "doc_id", barrier=True)
            .select(F.col("doc_id"), toks.alias("__toks"))
            .withColumn("__n", F.size("__toks"))
            .where(F.col("__n") >= k))
    # window starts are 0-based; slice() is 1-based, so window i covers
    # tokens [i, i+k-1] 0-based == slice(toks, i+1, k)
    wins = base.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - k + 1),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("__toks"), i, k)))))
        .alias("__pos", "__fp"))

    flagged = (wins
               .select("doc_id", "__fp").distinct()
               .groupBy("__fp")
               .agg(F.count(F.lit(1)).alias("__docs"))
               .where(F.col("__docs") >= min_docs)
               .select("__fp"))
    if broadcast_fingerprints:
        flagged = F.broadcast(flagged)
    hits = wins.join(flagged, "__fp").select("doc_id", "__pos")

    w = Window.partitionBy("doc_id").orderBy("__pos")
    brk = F.when(
        F.col("__pos") - F.lag("__pos").over(w) > F.lit(k),
        F.lit(1)).otherwise(F.lit(0))
    grouped = (hits
               .withColumn("__brk", brk)
               .withColumn("__grp", F.sum("__brk").over(
                   w.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))))
    return (grouped
            .groupBy("doc_id", "__grp")
            .agg(F.min("__pos").cast("bigint").alias("span_start"),
                 (F.max("__pos") + k - 1).cast("bigint").alias("span_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .drop("__grp"))


def strip_duplicate_spans(df: DataFrame, k: int = 8) -> DataFrame:
    """Remove every :func:`duplicate_spans` span (``k``-token windows in
    at least 2 documents) from each ``doc_id``'s ``text``,
    rebuilding each document from its surviving tokens (single-space
    joined — span removal is defined at token granularity, so original
    inter-token whitespace inside a document is normalized; documents
    with no flagged span pass through verbatim).

    Returns df.* + ``clean_text`` + ``n_tokens`` + ``n_removed_tokens``.

    Scale shape: :func:`duplicate_spans`'s passes plus one explode of
    covered positions (bounded by span length <= document length) and
    one (id, pos) anti-join + per-document rebuild aggregate — the
    line_dedup reconstruction pattern.
    """
    reserved = {"clean_text", "n_tokens", "n_removed_tokens"}
    clash = sorted(reserved.intersection(df.columns))
    if clash:
        raise ValueError(f"output column(s) {clash} already exist in the "
                         "input — rename them")

    spans = duplicate_spans(df, k=k)
    # only flagged documents are rebuilt; everything else passes
    # through verbatim (original whitespace intact)
    flagged_docs = (spans
                    .groupBy("doc_id")
                    .agg(F.sum(F.col("span_end") - F.col("span_start") + 1)
                         .alias("__n_covered"))
                    .select(F.col("doc_id").alias("__ds_id"), "__n_covered"))
    covered = spans.select(
        F.col("doc_id"),
        F.explode(F.sequence("span_start", "span_end")).alias("__pos"))

    toks = (df
            .join(flagged_docs, df["doc_id"] == F.col("__ds_id"), "left_semi")
            .select(
                F.col("doc_id"),
                F.posexplode(tokens(F.col("text")))
                .alias("__pos", "__tok"))
            .withColumn("__pos", F.col("__pos").cast("bigint")))
    kept = toks.join(covered, ["doc_id", "__pos"], "left_anti")
    rebuilt = (kept
               .groupBy("doc_id")
               .agg(F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("__pos"), F.col("__tok")))),
                        lambda s: s["__tok"])).alias("__rebuilt"))
               .select(F.col("doc_id").alias("__rb_id"), "__rebuilt"))

    n_tokens = F.when(F.col("text").isNotNull(),
                      F.size(tokens(F.col("text"))))
    return (df.join(flagged_docs, df["doc_id"] == F.col("__ds_id"), "left")
            .join(rebuilt, df["doc_id"] == F.col("__rb_id"), "left")
            .withColumn("n_tokens", n_tokens)
            .withColumn("n_removed_tokens",
                        F.when(n_tokens.isNull(), F.lit(None))
                        .otherwise(F.coalesce(F.col("__n_covered"),
                                              F.lit(0))))
            .withColumn("clean_text",
                        F.when(F.col("text").isNull(), F.lit(None))
                        .when(F.col("__n_covered").isNull(), F.col("text"))
                        .otherwise(F.coalesce(F.col("__rebuilt"),
                                              F.lit(""))))
            .drop("__ds_id", "__rb_id", "__n_covered", "__rebuilt"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-prune (Abbas et al. 2023)
# ---------------------------------------------------------------------------

def semantic_dedup(df: DataFrame, centroids: DataFrame,
                   threshold: float = 0.95) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering the ``(vec_id, embedding)`` rows against the
    ``(centroid_id, centroid)`` rows, then pruning near-duplicates
    WITHIN each cluster only — the trick that turns the O(n^2)
    all-pairs cosine scan into O(sum c_i^2), bounded by the cluster
    sizes.

    Stages (all narrow or single-key shuffles):

    1. *assign*: broadcast the k centroids onto the corpus, argmax cosine
       per row (quantized to 9 decimals + centroid-id tie-break — the
       engine-stable boundary discipline). One broadcast nested loop,
       NO shuffle: k is small by construction.
    2. *intra-cluster pairs*: self-join on the cluster id — the only
       shuffle, keyed by cluster. A row is a duplicate iff some
       SMALLER-id row in the same cluster has cosine >= ``threshold``
       (quantized to 6 decimals): the deterministic keep-lowest-id
       policy, same as the LSH dedup survivors.
    3. *flag*: broadcast-or-hash semi-join of duplicate ids back onto
       the corpus -> ``keep`` boolean; no row is dropped, callers filter.

    Cosines are computed as dot(a,b)/(norm_a*norm_b) with the norms
    hoisted into per-row columns — one O(d) pass per row, and the exact
    arithmetic shape the DuckDB oracle replays (list_dot_product /
    (sqrt(..)*sqrt(..))), so the quantized comparisons are bit-stable
    across engines.

    At 100 TB: the assign stage is a broadcast map; the pair stage
    shuffles each cluster to one task — a hot cluster (skew) is bounded
    by raising k (more, smaller clusters), the knob the paper itself
    turns. ``centroids`` normally comes from ``similarity.kmeans_fit``;
    any deterministic (centroid_id, centroid) relation works.
    """
    norm = lambda v: F.sqrt(F.aggregate(  # noqa: E731 — local expr builder
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x))
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x)

    rows = (_spread(df, "vec_id")
            .select(F.col("vec_id"), F.col("embedding").alias("_v"))
            .withColumn("_nv", norm(F.col("_v"))))
    cent = F.broadcast(
        centroids.select(F.col("centroid_id").alias("_cid"),
                         F.col("centroid").alias("_cv"))
        .withColumn("_nc", norm(F.col("_cv"))))

    cos_c = F.round(dot(F.col("_v"), F.col("_cv"))
                    / (F.col("_nv") * F.col("_nc")), 9)
    w = Window.partitionBy("vec_id").orderBy(F.col("_cos").desc(),
                                           F.col("_cid").asc())
    assigned = (rows.crossJoin(cent)
                .withColumn("_cos", cos_c)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("vec_id", F.col("_cid").alias("cluster_id"),
                        "_v", "_nv"))

    l = assigned.select(F.col("vec_id").alias("_lid"), "cluster_id",
                        F.col("_v").alias("_lv"), F.col("_nv").alias("_ln"))
    r = assigned.select(F.col("vec_id").alias("_rid"), "cluster_id",
                        F.col("_v").alias("_rv"), F.col("_nv").alias("_rn2"))
    pair_cos = F.round(dot(F.col("_lv"), F.col("_rv"))
                       / (F.col("_ln") * F.col("_rn2")), 6)
    dups = (l.join(r, "cluster_id")
            .where(F.col("_lid") < F.col("_rid"))
            .where(pair_cos >= F.lit(threshold))
            .select(F.col("_rid").alias("_dup_id"))
            .distinct())

    return (assigned
            .join(dups, assigned["vec_id"] == F.col("_dup_id"), "left")
            .withColumn("keep", F.col("_dup_id").isNull())
            .select("vec_id", "cluster_id", "keep"))


# ---------------------------------------------------------------------------
# Blocked edit-distance similarity join (entity resolution)
# ---------------------------------------------------------------------------

def _even_segment(L: Column, i: int, k: int) -> "tuple[Column, Column]":
    """1-based start and length of segment ``i`` (0-based) of a
    length-``L`` string split into ``k`` near-even contiguous segments:
    ``start = floor(i*L/k) + 1``, ``len = floor((i+1)*L/k) - floor(i*L/k)``.
    Exact integer arithmetic (the graph.py _idiv idiom)."""
    def idiv(a: Column) -> Column:
        return ((a - a % k) / k).cast("int")
    start = idiv(F.lit(i) * L) + 1
    length = idiv(F.lit(i + 1) * L) - idiv(F.lit(i) * L)
    return start, length


def edit_distance_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        block_by: "tuple[str, ...]" = (),
                        threshold: int = 2,
                        method: str = "segment") -> DataFrame:
    """Blocked Levenshtein similarity self-join (record linkage).

    Returns canonical pairs ``(id_a, id_b, distance)`` with
    ``id_a < id_b`` and ``levenshtein(text_a, text_b) <= threshold``,
    restricted to rows sharing every ``block_by`` column — the standard
    entity-resolution blocking scheme (Fellegi–Sunter): the quadratic
    term is bounded by the largest block, never the table.

    ``method`` picks the within-block strategy (both return the SAME
    result set — equivalence pinned in tests):

    - ``"segment"`` (default, the 100 TB path): PassJoin-style
      pigeonhole filtering (Li/Deng/Feng, VLDB 2011 — public
      knowledge). Every string is split into ``threshold + 1``
      near-even segments; if ``ed(a, b) <= t``, at least one of
      ``a``'s segments survives untouched and appears VERBATIM in
      ``b``, shifted by at most ``t`` positions. So candidates come
      from an ordinary hash EQUI-join of segment keys against a
      bounded enumeration of partner-aligned substrings
      (``(2t+1)·(t+1)·(2t+1)`` keys per row, constant at plan time) —
      within-block cost scales with true matches, not block².
      Strings shorter than ``2t + 1`` fall back to a tiny all-pairs
      pool per block (any partner of such a string is itself short).
    - ``"band"``: plain within-block pairing with the length-band
      prune (edit distance is lower-bounded by the length gap) — the
      quadratic baseline the segment path is verified against; also
      the all-pairs oracle flavor when ``block_by=()``.

    All codegen (JVM ``levenshtein`` verifies candidates only), no
    Python, no cross product outside the declared short-string pool.
    """
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0, got {threshold}")
    if method not in ("segment", "band"):
        raise ValueError(f"method must be 'segment' or 'band', got {method!r}")
    blocks = list(block_by)
    if method == "band":
        # Spread BOTH sides before the block join: the pair fan-out is
        # |block|² while the input is tiny (a single-row-group parquet
        # file scans as ONE task), so without this the entire quadratic
        # explosion runs on one core regardless of cluster width
        # (guide §2.5/§6.1 — measured 512 s single-threaded vs ~8 s
        # spread at the driver's sf1.0). Whichever side the planner
        # builds, the probe side is then partitioned to the session's
        # parallelism; at real scale the inputs already exceed it and
        # spread() is a no-op.
        sp = _spread(df, id_col)
        a = sp.select(*blocks, F.col(id_col).alias("id_a"),
                      F.col(text_col).alias("__text_a"))
        b = sp.select(*blocks, F.col(id_col).alias("id_b"),
                      F.col(text_col).alias("__text_b"))
        joined = ((a.join(b, on=blocks) if blocks else a.crossJoin(b))
                  .where(F.col("id_a") < F.col("id_b"))
                  .where(F.abs(F.length("__text_a") - F.length("__text_b"))
                         <= F.lit(threshold)))
        # Banded levenshtein (guide §4.1 — prefer the cheaper builtin):
        # the threshold form early-abandons at O(t·n) per pair instead
        # of the full O(n²) DP and returns -1 past the bound — for
        # surviving pairs the value is the exact distance, so results
        # are bit-identical.
        return (joined
                .withColumn("distance",
                            F.levenshtein("__text_a", "__text_b",
                                          threshold))
                .where(F.col("distance") >= 0)
                .select("id_a", "id_b", "distance"))

    t, k = threshold, threshold + 1
    # spread before the segment/probe explodes: same single-file-scan
    # guard as the band path (no-op once input partitions ≥ parallelism)
    base = _spread(df, id_col).select(
        *blocks, F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        F.length(text_col).alias("__len"))

    # --- segment side: the k segments of each long-enough string
    seg_structs = []
    for i in range(k):
        st, ln = _even_segment(F.col("__len"), i, k)
        seg_structs.append(F.struct(
            F.lit(i).alias("i"), F.col("__len").alias("l"),
            F.substring(F.col("__text"), st, ln).alias("seg")))
    segside = (base.where(F.col("__len") >= k)
               .select(*blocks, F.col("__id").alias("__sid"), "__len",
                       F.explode(F.array(*seg_structs)).alias("__k"))
               .select(*blocks, "__sid",
                       F.col("__k.i").alias("__i"),
                       F.col("__k.l").alias("__l"),
                       F.col("__k.seg").alias("__seg")))

    # --- probe side: substrings aligned to every possible partner
    # length l ∈ [len−t, len+t], segment i, shift d ∈ [−t, t] (the
    # untouched segment moves by at most the net edits before it)
    probe_structs = []
    for dl in range(-t, t + 1):
        L = F.col("__len") + dl
        for i in range(k):
            st, ln = _even_segment(L, i, k)
            for d in range(-t, t + 1):
                s2 = st + d
                valid = ((L >= k) & (ln >= 1) & (s2 >= 1)
                         & (s2 + ln - 1 <= F.col("__len")))
                probe_structs.append(F.when(valid, F.struct(
                    F.lit(i).alias("i"), L.alias("l"),
                    F.substring(F.col("__text"), s2, ln).alias("seg"))))
    probeside = (base
                 .select(*blocks, F.col("__id").alias("__oid"),
                         F.explode(F.array_distinct(
                             F.array(*probe_structs))).alias("__k"))
                 .where(F.col("__k").isNotNull())
                 .select(*blocks, "__oid",
                         F.col("__k.i").alias("__i"),
                         F.col("__k.l").alias("__l"),
                         F.col("__k.seg").alias("__seg")))

    cand = (segside.join(probeside,
                         blocks + ["__i", "__l", "__seg"])
            .where(F.col("__sid") != F.col("__oid"))
            .select(F.least("__sid", "__oid").alias("id_a"),
                    F.greatest("__sid", "__oid").alias("id_b")))

    # --- short-string pool: any partner of a string shorter than k is
    # itself shorter than 2t+1 — a bounded all-pairs per block
    shorts = base.where(F.col("__len") <= 2 * t)
    sa = shorts.select(*blocks, F.col("__id").alias("id_a"))
    sb = shorts.select(*blocks, F.col("__id").alias("id_b"))
    short_cand = ((sa.join(sb, on=blocks) if blocks
                   else sa.crossJoin(sb))
                  .where(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b"))

    ta = df.select(F.col(id_col).alias("id_a"),
                   F.col(text_col).alias("__text_a"))
    tb = df.select(F.col(id_col).alias("id_b"),
                   F.col(text_col).alias("__text_b"))
    return (cand.unionByName(short_cand).distinct()
            .join(ta, "id_a").join(tb, "id_b")
            # banded levenshtein: early-abandon at O(t·n), -1 past the
            # bound; exact distance for survivors (same result set)
            .withColumn("distance",
                        F.levenshtein("__text_a", "__text_b", t))
            .where(F.col("distance") >= 0)
            .select("id_a", "id_b", "distance"))


def jaccard_prefix_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard similarity self-join via PREFIX FILTERING — the
    scale path for :func:`ngram_jaccard_pairs` (which is the declared
    all-pairs baseline). Same result set, no cross product.

    Prefix principle (Chaudhuri/Ganti/Kaushik SSJoin 2006, Xiao et al.
    PPJoin 2008 — public knowledge): order every set by one canonical
    global token order; if J(A, B) >= t then A and B must share at
    least one token within their first ``|s| - ceil(t*|s|) + 1``
    tokens. The canonical order used here is (global frequency asc,
    token asc) — rare-first, which minimizes candidate fan-out — and
    is materialized WITHOUT a global rank: each doc sorts its own
    (freq, tok) structs, so no global row_number/sort ever runs.

    Plan at 100 TB: one explode + map-side-combined token-frequency
    aggregate; one hash join back on the token (no ordering — AQE skew
    split applies to stopword-grade shingles); one per-doc aggregate
    (state bounded by the doc's own shingle count); the candidate join
    keys on PREFIX tokens only (rare by construction) with the
    length-ratio filter ``min >= t*max`` pruning before the distinct;
    exact Jaccard verifies candidates only. Every exchange keys on
    tokens or ids — never a pair enumeration of the corpus.

    The prefix length rounds conservatively long (``ceil(t*|s|)`` is
    computed as ``ceil(t*|s| - 1e-9)`` so float error can only ADD
    candidates, never drop a true pair).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # spread first (single-file-scan guard): the shingle build, explode
    # and every downstream join inherit the scan's task count otherwise.
    # Shingles are immediately FINGERPRINTED to xxhash64 longs: every
    # downstream exchange, hash probe and the final set intersection
    # then works on 8-byte keys instead of ~20-char strings (measured
    # ~3× on the candidate/verify stage at sf1.0 — guide §2.3 narrower
    # types). 64-bit fingerprint equality stands in for string equality
    # — the same corpus-scale assumption the MinHash band join and
    # duplicate_spans already ship with; set sizes and intersections
    # (and hence the returned jaccard values) are unchanged absent a
    # collision.
    s = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.array_sort(F.transform(
            word_shingles(F.col(text_col)),
            lambda t: F.xxhash64(t))).alias("sh"))
    # materialize once: s feeds the frequency pass AND both verify
    # sides; prefix (below) feeds both candidate sides — without the
    # cuts each appearance re-runs the whole shingle pipeline
    # (measured 2 × ~65 core-s of duplicated subtree at sf1.0)
    s = s.localCheckpoint(eager=True)
    toks = s.select("id", F.explode("sh").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    docs = (toks.join(freq, "tok")
            .groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("freq", "tok")))
                 .alias("__order"),
                 F.count(F.lit(1)).alias("__sz")))
    plen = (F.col("__sz")
            - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9))
            + 1).cast("int")
    prefix = (docs
              .select("id", "__sz",
                      F.posexplode(F.slice("__order", F.lit(1), plen))
                      .alias("__i0", "__p"))
              # a frequency-1 token exists in exactly one doc — it can
              # never produce a candidate PAIR, and on shingle inputs
              # most tokens are unique: dropping them prunes the
              # candidate join to the genuinely shared vocabulary
              .where(F.col("__p.freq") > 1)
              .select("id", "__sz",
                      (F.col("__i0") + 1).alias("__pos"),
                      F.col("__p.tok").alias("tok"))
              .localCheckpoint(eager=True))
    a = prefix.select(F.col("id").alias("left_id"),
                      F.col("__sz").alias("__sza"),
                      F.col("__pos").alias("__pa"), "tok")
    b = prefix.select(F.col("id").alias("right_id"),
                      F.col("__sz").alias("__szb"),
                      F.col("__pos").alias("__pb"), "tok")
    # PPJoin positional filter (Xiao et al. 2008 §3.2): a true pair's
    # FIRST shared token in the canonical order sits at positions
    # (pa, pb) with all other shared tokens after it on both sides, so
    # overlap <= 1 + min(sza - pa, szb - pb); J >= t requires overlap
    # >= ceil(t/(1+t)·(sza+szb)) (rounded DOWN by an epsilon so float
    # error can only keep extra candidates). Rows generated by a later
    # shared token may be pruned — the first-token row survives, and
    # the distinct() collapses them anyway. On dense low-entropy
    # vocabularies (this corpus's 30-word worst case) the d² fan-out
    # comes from the more-frequent late-prefix tokens — exactly the
    # rows this bound removes before the distinct (guide §2.3).
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("__sza") + F.col("__szb")) - F.lit(1e-9))
    cand = (a.join(b, "tok")
            .where(F.col("left_id") < F.col("right_id"))
            .where(F.least("__sza", "__szb")
                   >= F.lit(threshold) * F.greatest("__sza", "__szb"))
            .where(F.lit(1) + F.least(F.col("__sza") - F.col("__pa"),
                                      F.col("__szb") - F.col("__pb"))
                   >= alpha)
            .select("left_id", "right_id"))
    lsh = s.select(F.col("id").alias("left_id"), F.col("sh").alias("__lsh"))
    rsh = s.select(F.col("id").alias("right_id"), F.col("sh").alias("__rsh"))
    # verify FIRST, dedup after: a pair occurs once per shared prefix
    # token (~1.03× duplication measured), so verifying duplicates costs
    # ~3% extra intersections, while deduping first costs a hash
    # aggregate keyed on ~19M candidate pairs — orders more state than
    # the post-verify distinct over the (rare) surviving pairs
    # (guide §2.3: aggregate the small thing). jaccard is a pure
    # function of the pair, so duplicates collapse to identical rows.
    return (cand.join(lsh, "left_id").join(rsh, "right_id")
            .withColumn("jaccard",
                        F.round(jaccard(F.col("__lsh"), F.col("__rsh")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("left_id", "right_id", "jaccard")
            .distinct())
