"""Change-data-capture operators: MERGE INTO upserts and change-log
compaction — the table-maintenance half of a lakehouse pipeline
(snapshots in ``io/snapshots.py`` give the storage side; these give the
relational semantics, engine-portable and oracle-checkable).

Reference parity note: the reference engine (a-b-street/osm2lanes) has
no table-maintenance counterpart — engine-side infrastructure mandated
by the training-pipeline brief (corpora are continuously patched:
takedowns, re-crawls, label fixes).

100 TB shape: both operators are ONE hash shuffle per side on the
merge key (or a broadcast when the change batch is small — the common
case: daily deltas vs a petabyte base); latest-wins compaction is a
per-key window over the CHANGE LOG only, never the base table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame,
                 keys: "list[str] | tuple[str, ...]",
                 delete_col: "str | None" = None,
                 broadcast_source: bool = False) -> DataFrame:
    """``MERGE INTO target USING source ON keys`` with the standard
    three arms: matched → source row wins (update), matched with
    ``delete_col`` true → row dropped, unmatched source → insert,
    unmatched target → kept unchanged.

    ``target`` and ``source`` must share the key columns and any
    payload columns to be updated; payload columns present in only one
    side pass through (nulls on the other arm). Set
    ``broadcast_source=True`` when the change batch is dim-sized —
    the merge then never shuffles the base table.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    if delete_col is not None and delete_col not in source.columns:
        raise ValueError(f"delete_col {delete_col!r} not in source")
    payload_t = [c for c in target.columns if c not in keys]
    payload_s = [c for c in source.columns
                 if c not in keys and c != delete_col]
    # Rename every payload column per side BEFORE the join (never
    # dataframe-qualified refs: a source derived FROM the target — the
    # normal CDC case — makes t[c]/s[c] ambiguous self-join refs). The
    # __in_s tag makes "matched" decidable even when every source
    # payload column is legitimately null.
    t = target.select(*keys,
                      *[F.col(c).alias(f"__t_{c}") for c in payload_t])
    s_cols = [F.col(c).alias(f"__s_{c}") for c in payload_s]
    if delete_col is not None:
        s_cols.append(F.col(delete_col).alias("__s_del"))
    s = source.select(*keys, *s_cols, F.lit(True).alias("__in_s"))
    if broadcast_source:
        s = F.broadcast(s)
    joined = t.join(s, on=keys, how="full_outer")
    if delete_col is not None:
        joined = joined.where(
            ~F.coalesce(F.col("__s_del"), F.lit(False)))
    out_cols: list[Column] = [F.col(k) for k in keys]
    for c in payload_s:  # source wins on matched rows
        if c in payload_t:
            out_cols.append(
                F.when(F.col("__in_s").isNotNull(), F.col(f"__s_{c}"))
                .otherwise(F.col(f"__t_{c}")).alias(c))
        else:
            out_cols.append(F.col(f"__s_{c}").alias(c))
    for c in payload_t:
        if c not in payload_s:
            out_cols.append(F.col(f"__t_{c}").alias(c))
    return joined.select(*out_cols)


def compact_cdc_log(log: DataFrame,
                    keys: "list[str] | tuple[str, ...]",
                    order_col: str) -> DataFrame:
    """Latest-wins compaction of an insert/update/delete change log:
    keep each key's highest-``order_col`` row, drop keys whose final
    ``op`` is the delete ``"D"``. Ties on ``order_col`` break by
    preferring the delete (the conservative read of an ambiguous log)
    then by ``op`` descending for determinism.

    One window over the (high-cardinality) key shuffle of the LOG —
    the base table is never touched; apply the survivors with
    :func:`merge_upsert`.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(),
        (F.col("op") == "D").cast("int").desc(),
        F.col("op").desc())
    return (log.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .where(F.col("op") != "D")
            .drop("__rn"))
