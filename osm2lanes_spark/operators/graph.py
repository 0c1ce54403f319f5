"""Iterative link-graph analytics: engine-portable PageRank.

Why it exists: domain/page authority is a standard quality signal in
web-corpus curation (a rank-weighted sampling or filtering pass needs
PageRank over the link graph), and iterative fixpoint computation is
the one relational shape the rest of the repo didn't exercise yet —
every other operator is a single DAG. This module shows the Spark-first
pattern for bounded-iteration algorithms: a ``for`` loop over
DataFrame joins where each iteration is ONE edge join + ONE
map-side-combined sum shuffle, the two scalar side-inputs (node count,
dangling mass) ride broadcast 1-row cross joins, and lineage can be
truncated per iteration for deep runs.

Determinism / oracle story: the textbook formulation sums doubles,
whose partition-order noise compounds across iterations and breaks
cross-engine value-hash parity (see the repo's dsir lesson). Instead
ranks are kept as **scaled BIGINTs** (``PAGERANK_SCALE`` = 1e12) and
every step — the initial ``scale div N``, the per-edge ``rank div outdeg``
contribution, the damping ``num*(in + dangling_share) div den`` — is
exact integer arithmetic, identical in any engine with 64-bit integer
division (non-negative operands, so trunc-vs-floor division semantics
never diverge). The DuckDB oracle unrolls the same recurrence as
chained CTEs and matches bit-for-bit.

100 TB shape: edges / degrees / ranks all hash-partition by node key;
per iteration the plan is one equi-join on ``src`` (ranks and
out-degrees pre-joined once, outside the loop) plus one partial-
aggregated ``groupBy(dst)``; the dangling-mass total is a 1-row
aggregate broadcast back — no driver-side loop over rows, no global
sort, no per-key window. Every ``src``/``dst`` edge relation is read
by those column names. ``truncate_lineage`` localCheckpoints the
(node, rank) pair each round so a deep run does not grow an unbounded
plan; it defaults on past 6 iterations, where Catalyst planning time
on the self-referencing tree otherwise dominates the job.

Reference parity note: the reference engine (a-b-street/osm2lanes) has
no graph counterpart — this is engine-side infrastructure mandated by
the training-pipeline brief (quality signals over web-scale corpora).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import _cap_leaf_stats

# Iterative operators join a node-bounded table (ranks, labels, BFS
# frontier, SSSP distances) onto the edge relation every round. The
# planner picks a sort-merge join from the checkpointed leaves' default
# stats, which re-shuffles ALL edges per round — a localCheckpoint leaf
# carries no partitioning in Spark 4.1, so nothing is ever reused.
# Broadcasting the node-bounded side instead makes each round one
# map-side hash join + one partial-combined aggregate (guide §3.1).
# The count() guard keeps it honest at scale: past this many rows the
# node table goes back to the planner's shuffle path (the count is a
# metadata-cheap job over an already-checkpointed leaf).
_BROADCAST_NODE_ROWS = 2_000_000


def _bc_if_small(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= _BROADCAST_NODE_ROWS else df


# PageRank's fixed point: ranks scaled by 1e12, damping 17/20 = 0.85.
PAGERANK_SCALE = 10 ** 12
DAMPING_NUM, DAMPING_DEN = 17, 20


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division for non-negative longs (also the quantile
    sketch's, ``operators/sketches.py``).

    ``(a - a % b) / b`` divides two exactly-representable integers with
    an integer quotient, so the double division is exact and the cast
    back to long is lossless while operands stay < 2^53 (PageRank's:
    scale 1e12 × damping numerator 17 ≈ 1.7e13).
    """
    a = a.cast("long")
    b = b.cast("long")
    return ((a - a % b) / b).cast("long")


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    truncate_lineage: bool | None = None,
) -> DataFrame:
    """PageRank over ``(src, dst)`` ``edges`` in scaled-integer arithmetic.

    Returns a DataFrame ``(node, rank)`` where ``rank`` is the scaled
    BIGINT score (divide by ``PAGERANK_SCALE`` for the probability).
    Damping is the rational ``DAMPING_NUM/DAMPING_DEN`` (17/20 = 0.85).
    Mass from dangling nodes (no out-edges) is redistributed uniformly
    each iteration, as in the original formulation.

    Recurrence (all integer ops)::

        r0(v)   = scale div N
        base    = (scale*(den-num) div den) div N
        share_t = (sum of r_t over dangling nodes) div N
        r_{t+1}(v) = base + num*(sum_{u->v} r_t(u) div outdeg(u)
                              + share_t) div den
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if truncate_lineage is None:
        # each un-truncated round grows the self-referencing plan tree;
        # past ~4 rounds re-planning/re-evaluating it loses to the
        # per-round materialization cost (measured at sf0.1: 5
        # iterations run ~25% faster truncated even with cached edges)
        truncate_lineage = iterations > 4
    # the edge relation (and everything derived from it) is read EVERY
    # round — without the checkpoints, an upstream edge build (e.g. a
    # fact-fact join + distinct) re-executes per iteration. On a real
    # cluster this is `.persist()` of the adjacency table.
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    deg = (edges.groupBy(F.col("src").alias("node"))
           .agg(F.count(F.lit(1)).alias("outdeg")))
    n_row = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))

    # Pre-join the static out-degree onto the edge list once; every
    # iteration then needs only the rank join + the dst-sum shuffle.
    edged = edges.join(deg.withColumnRenamed("node", "src"), "src")
    nodes = nodes.localCheckpoint(eager=True)
    deg = deg.localCheckpoint(eager=True)
    edged = edged.localCheckpoint(eager=True)

    ranks = (nodes.crossJoin(F.broadcast(n_row))
             .select("node", _idiv(F.lit(PAGERANK_SCALE), F.col("n_nodes"))
                     .alias("rank")))
    base = _idiv(_idiv(F.lit(PAGERANK_SCALE * (DAMPING_DEN - DAMPING_NUM)),
                       F.lit(DAMPING_DEN)), F.col("n_nodes"))

    # NOTE (examined, deliberately unchanged — guide §1.2): an explicit
    # per-round broadcast of the rank/degree tables was A/B'd at sf1.0
    # and is a wash — the checkpointed leaves carry accurate sizeInBytes,
    # so the planner already broadcasts the node-bounded side when it
    # fits; forcing it only added per-round count/broadcast-build jobs.
    for _ in range(iterations):
        incoming = (edged
                    .join(ranks.withColumnRenamed("node", "src"), "src")
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum(_idiv(F.col("rank"), F.col("outdeg")))
                         .alias("inc")))
        dangling = (ranks.join(deg, "node", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0))
                         .alias("dangling_mass")))
        ranks = (nodes
                 .join(incoming, "node", "left_outer")
                 .crossJoin(F.broadcast(dangling))
                 .crossJoin(F.broadcast(n_row))
                 .select(
                     "node",
                     (base + _idiv(
                         F.lit(DAMPING_NUM)
                         * (F.coalesce(F.col("inc"), F.lit(0))
                            + _idiv(F.col("dangling_mass"),
                                    F.col("n_nodes"))),
                         F.lit(DAMPING_DEN))).alias("rank")))
        if truncate_lineage:
            # _cap_leaf_stats: each round's plan multiplies the previous
            # leaf's stored sizeInBytes into itself twice (rank join +
            # dangling agg) — bit-length doubles per round, so deep runs
            # would OOM the stats visitor without the cap (util.py)
            ranks = _cap_leaf_stats(ranks.localCheckpoint(eager=True))
    return ranks


def bfs_distances(edges: DataFrame, sources: DataFrame,
                  max_hops: int = 3, directed: bool = True) -> DataFrame:
    """Bounded-hop BFS over ``(src, dst)`` ``edges``: minimum hop
    distance (0..``max_hops``) from any seed in ``sources`` (a
    one-column DataFrame of ``node``) to every reachable node.
    Unreached nodes are absent from the result.

    The k-hop-neighbourhood primitive (entity expansion, blast-radius
    queries, feature generation over link graphs). Each round is one
    equi-join of the FRONTIER (not the full reached set) onto the
    cached adjacency plus a min-agg and an anti-join against reached —
    the textbook frontier BFS expressed relationally; rounds
    localCheckpoint so deep runs keep a flat plan (driver-side loop,
    like :func:`pagerank`). All-integer, engine-exact; the DuckDB
    oracle replays it as a bounded recursive CTE.

    100 TB shape: the adjacency localCheckpoints once; per round the
    only full-size exchanges key on the node id (join + min-agg +
    anti-join), and the frontier shrinks monotonically. ``directed=
    False`` unions the reversed edges before caching.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
    if not directed:
        e = e.unionByName(edges.select(F.col("dst").alias("__s"),
                                       F.col("src").alias("__d")))
    e = e.distinct().localCheckpoint(eager=True)
    reached = (sources.select("node").distinct()
               .withColumn("dist", F.lit(0))
               .localCheckpoint(eager=True))
    frontier = reached
    for hop in range(1, max_hops + 1):
        # examined, deliberately unchanged: forcing frontier/reached
        # broadcasts was A/B'd at sf1.0 and measured slightly WORSE
        # (extra count + broadcast-build jobs per hop; the planner
        # already broadcasts the small frontier from its leaf stats)
        nxt = (frontier.join(e, frontier["node"] == e["__s"])
               .select(F.col("__d").alias("node"))
               .distinct()
               .join(reached.select("node"), "node", "left_anti")
               .withColumn("dist", F.lit(hop)))
        nxt = _cap_leaf_stats(nxt.localCheckpoint(eager=True))
        frontier = nxt
        # same compounding shape as pagerank's rank loop — capped
        reached = _cap_leaf_stats(
            reached.unionByName(nxt).localCheckpoint(eager=True))
    return reached


def weighted_sssp(edges: DataFrame, sources: DataFrame,
                  max_hops: int = 4) -> DataFrame:
    """Bounded-hop single-source shortest paths (Bellman-Ford rounds)
    over ``(src, dst, w)`` ``edges``: minimum path weight over
    ≤``max_hops`` edges from any seed in ``sources`` (one ``node``
    column) to every reachable node.

    Weights must be non-negative INTEGERS (cents, scaled costs) — sums
    stay exact 64-bit arithmetic, so the result is bit-identical in any
    engine and the DuckDB oracle can unroll the same recurrence as
    chained CTEs (the pagerank idiom; a path-enumerating recursive CTE
    would blow up combinatorially on dense graphs).

    Each round is ONE equi-join of the current distance table onto the
    cached adjacency plus one map-side-combined min-aggregate — the
    relational relaxation step. Rounds localCheckpoint with capped leaf
    stats (the same compounding shape as the pagerank loop). 100 TB
    shape: distances and edges hash-partition on the node key; no
    windows, no driver-side state.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col("src").alias("__s"), F.col("dst").alias("__d"),
                     F.col("w").cast("long").alias("__w"))
    e = e.groupBy("__s", "__d").agg(F.min("__w").alias("__w"))
    e = _cap_leaf_stats(e.localCheckpoint(eager=True))
    dist = (sources.select("node").distinct()
            .withColumn("dist", F.lit(0).cast("long")))
    dist = _cap_leaf_stats(dist.localCheckpoint(eager=True))
    for _ in range(max_hops):
        # examined, deliberately unchanged: a forced broadcast of the
        # distance table was A/B'd at sf1.0 and is a wash — the
        # checkpointed leaf's stats already let the planner broadcast it
        relaxed = (dist.join(e, dist["node"] == e["__s"])
                   .select(F.col("__d").alias("node"),
                           (F.col("dist") + F.col("__w")).alias("dist")))
        dist = (dist.unionByName(relaxed)
                .groupBy("node").agg(F.min("dist").alias("dist")))
        dist = _cap_leaf_stats(dist.localCheckpoint(eager=True))
    return dist


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Triangles per lowest-id vertex: ``(src, dst)`` edges canonicalize
    to a < b (direction and duplicates collapse), and each triangle
    {a<b<c} is found exactly once by joining its two wedge edges
    (a,b)-(b,c) with the closing edge (a,c).

    The a<b<c orientation is the classic enumeration-dedup trick: every
    triangle has exactly one vertex ordering, so no post-hoc /6 division
    and no double counting. Two hash equi-joins + one map-side-combined
    count — the joins key on vertex ids, AQE splits hub vertices. (The
    degree-ordering refinement — orient edges low-degree → high-degree —
    drops wedge fan-out to O(m^1.5) on power-law graphs; the id
    orientation keeps the oracle replay trivial and is exact either
    way.)
    """
    canon = (edges.select(F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))
             .where(F.col("a") < F.col("b"))
             .distinct())
    canon = _cap_leaf_stats(canon.localCheckpoint(eager=True))
    ab = canon
    # SHUFFLE_HASH on the wedge and closing joins (guide §3.1): the
    # edge relation is either broadcast (serial relation build at the
    # 1M-edge scale) or sort-merge joined (two 9M-row sorts at the
    # sf1.0 scale); a shuffled hash join needs neither — per-partition
    # build is |edges|/partitions rows, and AQE still skew-splits SHJ
    # partitions for hub vertices (r07 A/B at sf1.0, per-JVM warm
    # trials: 29-31 -> 25-28 s end-to-end).
    bc = (canon.select(F.col("a").alias("b2"), F.col("b").alias("c"))
          .hint("SHUFFLE_HASH"))
    ac = (canon.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
          .hint("SHUFFLE_HASH"))
    wedges = ab.join(bc, ab["b"] == bc["b2"]).select("a", "b", "c")

    # Bloom pre-filter on the closing edge (guide §3.2): the wedge set
    # is the quadratic term (sum over b of in(b)·out(b) — ~40× the edge
    # count on the co-purchase graph), and shuffling every wedge into
    # the closing-edge join dominates the leg. A packed-63-bit-word
    # Bloom over the canonical edge keys (the profiling.bloom_build
    # layout, xxhash64-hashed — this is an internal pre-filter, so no
    # cross-engine replay constraint) drops the ~97% of wedges with no
    # closing edge BEFORE the exchange; false positives are removed by
    # the exact join that follows, so the result is unchanged. Sizing:
    # ~15 bits/edge at k=2 (fpp ≈ 2%), capped so the broadcast word
    # table stays ≤ ~2M rows; the count() is a cheap job over the
    # already-materialized checkpoint.
    n_edges = canon.count()
    m_bits = 1 << max(16, min(27, int(15 * max(1, n_edges)).bit_length()))
    probes = 2

    if n_edges < 2_000_000:
        # small graph: the filter build (two edge passes + the word
        # aggregate + a broadcast) costs more than the wedge shuffle it
        # saves (measured +1.5 s on the sf0.1 leg); go straight to the
        # exact join
        tri = wedges.join(ac, (wedges["a"] == ac["a3"])
                          & (wedges["c"] == ac["c3"])).select("a", "b", "c")
        return (tri.groupBy("a")
                .agg(F.count(F.lit(1)).alias("n_triangles")))

    def _pos(x: Column, y: Column, j: int) -> Column:
        return F.pmod(F.xxhash64(F.lit(j), x, y), F.lit(m_bits))

    build = None
    for j in range(probes):
        pos = _pos(F.col("a"), F.col("b"), j)
        part = canon.select(
            (pos - pos % 63).alias("__p0"),
            F.pow(F.lit(2.0), (pos % 63).cast("int"))
            .cast("long").alias("__mask"))
        build = part if build is None else build.unionByName(part)
    words = F.broadcast(
        build.select((F.col("__p0") / 63).cast("long").alias("__w"),
                     "__mask")
        .groupBy("__w").agg(F.bit_or("__mask").alias("__bits")))

    maybe = wedges
    keep = F.lit(True)
    for j in range(probes):
        pos = _pos(F.col("a"), F.col("c"), j)
        maybe = (maybe
                 .withColumn(f"__wd{j}", (pos - pos % 63))
                 .withColumn(f"__mk{j}",
                             F.pow(F.lit(2.0), (pos % 63).cast("int"))
                             .cast("long"))
                 .join(words.select(F.col("__w").alias(f"__w{j}"),
                                    F.col("__bits").alias(f"__b{j}")),
                       (F.col(f"__wd{j}") / 63).cast("long")
                       == F.col(f"__w{j}"), "left"))
        keep = keep & (F.col(f"__b{j}").isNotNull()
                       & (F.col(f"__b{j}").bitwiseAND(F.col(f"__mk{j}"))
                          == F.col(f"__mk{j}")))
    maybe = maybe.where(keep).select("a", "b", "c")

    tri = maybe.join(ac, (maybe["a"] == ac["a3"])
                     & (maybe["c"] == ac["c3"])).select("a", "b", "c")
    return (tri.groupBy("a")
            .agg(F.count(F.lit(1)).alias("n_triangles")))
