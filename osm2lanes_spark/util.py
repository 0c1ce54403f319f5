"""Shared plan-shape helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, key_col: str, barrier: bool = False,
           min_bytes: int = 0) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    arrives in fewer partitions.

    A single small parquet file (one row group) scans as ONE task, which
    serializes every downstream JVM pipeline — interpreted HOFs, Python
    stages, window functions — onto one core (round-2 profiling: the
    whole MinHash signature pass ran single-threaded at sf0.1). No-op
    shape at scale: big inputs already exceed default parallelism, so the
    extra shuffle only ever touches small inputs.

    ``barrier=True`` additionally pins the spread with a LAZY
    localCheckpoint so Catalyst cannot push later filters back below
    the repartition. Without it, a filter on a derived heavy column
    (``where(size(tokens(text)) >= 5)``) is substituted into the scan
    side — the expensive expression then runs TWICE (pushed filter +
    projection) with the first pass on the un-spread single task
    (measured: the curation gate chain, 10 core-s on 2 tasks at sf1.0).
    Only meaningful (and only applied) when the spread actually
    repartitions, i.e. for small inputs — the checkpoint blocks are
    bounded by that small slice and live until session GC.

    ``min_bytes`` (0 = off) skips the spread for bare file scans SMALLER
    than this, for call sites whose downstream work is roughly LINEAR in
    input bytes (token/gram explodes, expansion ≲100×): there the
    single-task work on a tiny file finishes faster than the exchange it
    would take to parallelize it (measured: +0.3-0.6 s per leg at
    sf0.1). Pair-explosive sites (block², prefix-token d², cell-ring ×
    density) must NOT set it — their work is quadratic-ish in rows, so
    even a 300 KB input wants spreading (the 512 s fuzzy_names case).
    Derived (non-bare-scan) inputs of unknown size are always spread.
    """
    if min_bytes > 0 and _is_bare_scan(df):
        nbytes = _input_bytes(df)
        if nbytes is not None and nbytes < min_bytes:
            return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        out = df.repartition(target, F.col(key_col))
        return out.localCheckpoint(eager=False) if barrier else out
    return df


def _persistent_rdd_ids(sc) -> set:
    """Ids of currently persisted RDDs (includes localCheckpoint blocks,
    which ``DataFrame.unpersist`` cannot release — it only uncaches
    ``persist()`` entries through the cache manager)."""
    it = sc._jsc.getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def tracked_checkpoint(df: DataFrame) -> "tuple[DataFrame, set]":
    """Eagerly localCheckpoint ``df`` and return the checkpointed frame
    plus the set of RDD ids its blocks landed under, so an iterative
    operator (pointer jumping, label propagation) can free superseded
    rounds with :func:`unpersist_blocks` instead of letting every round's
    table sit in block storage until the plan is GC'd (VERDICT r04 #5).

    The id set is computed as a before/after diff of the context's
    persistent-RDD registry — the only handle PySpark exposes for a
    localCheckpoint's storage. Caveat: a concurrent thread checkpointing
    in the same SparkContext inside this window would be swept into the
    diff; iterative operators run their rounds sequentially on one
    thread, so the diff is exact there.
    """
    sc = df.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=True)
    ids = _persistent_rdd_ids(sc) - before
    return _cap_leaf_stats(out), ids


# A LogicalRDD's stored sizeInBytes past this bit-length can only be a
# compounding artifact, never a real size (2^256 bytes ≫ all storage).
_MAX_STAT_BITS = 256


def _cap_leaf_stats(out: DataFrame) -> DataFrame:
    """Strip a checkpointed leaf's stored statistics once they explode.

    ``Dataset.localCheckpoint`` copies the *optimized plan's computed*
    ``sizeInBytes`` into the new ``LogicalRDD`` (so one checkpoint keeps
    broadcast decisions working — desirable). But an iterative operator
    that self-joins each round's checkpoint makes that stored BigInt
    SQUARE every round: bit-length doubles per round, and by round ~22
    the stats visitor is multiplying 30M-bit integers — minutes of
    driver CPU inside ``SizeInBytesOnlyStatsPlanVisitor``, then a heap
    OOM in ``BigInteger.multiply`` (observed on dbscan's path-shaped
    ε-graph at sf0.01; cliquey dedup graphs converge too early to show
    it). Plans stay flat — the *stat* compounds.

    Fix: when the stored stat exceeds any physically possible size,
    rebuild the frame from the already-materialized ``RDD[InternalRow]``
    (same blocks — the tracked ids stay valid) via
    ``internalCreateDataFrame``, whose fresh ``LogicalRDD`` carries
    default stats (``spark.sql.defaultSizeInBytes``). Below the
    threshold the checkpointed frame passes through untouched, keeping
    its accurate stats (and stored output partitioning) for the common
    non-explosive case. Guarded: any py4j/private-API drift (e.g. Spark
    Connect) falls back to the plain checkpoint.
    """
    try:
        je = out._jdf.queryExecution()
        # py4j materializes the scala BigInt as a Python int
        if int(je.optimizedPlan().stats().sizeInBytes()) \
                .bit_length() <= _MAX_STAT_BITS:
            return out
        spark = out.sparkSession
        fresh = spark._jsparkSession.internalCreateDataFrame(
            je.toRdd(), out._jdf.schema(), False)
        return DataFrame(fresh, spark)
    except Exception:
        return out


def unpersist_blocks(spark, ids) -> None:
    """Release, without waiting, the block storage behind RDD ids captured
    by :func:`tracked_checkpoint`. Ids already gone are skipped."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        r = jmap.get(i)
        if r is not None:
            r.unpersist(False)


def _is_bare_scan(df: DataFrame) -> bool:
    """True iff the optimized plan is just a file relation (possibly under
    Projects) — no Filter/Join/Aggregate/Generate. Only then do the input
    files' byte size and the footer-backed ``count()`` honestly describe
    the DataFrame (a filtered/derived input can report the unfiltered
    files while a count would run its whole upstream pipeline —
    ADVICE r03)."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while node.getClass().getSimpleName() == "Project":
            if node.children().size() != 1:
                return False
            node = node.children().apply(0)
        return (node.children().size() == 0
                and "Relation" in node.getClass().getSimpleName())
    except Exception:
        return False


def _input_bytes(df: DataFrame):
    """Total bytes of the DataFrame's input files (None when not a simple
    file scan). Metadata only — no Spark job. Goes through the Hadoop
    FileSystem API so s3a://, hdfs://, gs:// etc. resolve too — a
    local-only stat would silently disable the large-corpus verify gate
    exactly where it matters (round-3 review)."""
    import os as _os

    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        jvm = df.sparkSession._jvm
        hconf = df.sparkSession._jsc.hadoopConfiguration()
        for p in files:
            local = p.removeprefix("file:")
            if _os.path.exists(local):  # fast path, no JVM round-trip
                total += _os.path.getsize(local)
            else:
                path = jvm.org.apache.hadoop.fs.Path(p)
                total += path.getFileSystem(hconf).getFileStatus(path).getLen()
        return total
    except Exception:
        return None
