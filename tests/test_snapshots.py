"""Snapshot-table semantics: commits, incremental diff scans, overwrite."""

from __future__ import annotations

import pytest

from osm2lanes_spark.io.snapshots import SnapshotTable

pytestmark = pytest.mark.checkpoint


def test_append_and_diff(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.current_snapshot_id() is None
    t.commit(spark.range(0, 100).toDF("id"))
    s1 = t.current_snapshot_id()
    t.commit(spark.range(100, 150).toDF("id"))
    assert t.read(spark).count() == 150
    # incremental scan sees only rows after s1
    diff = t.read_diff(spark, s1)
    ids = sorted(r["id"] for r in diff.collect())
    assert ids[0] == 100 and len(ids) == 50
    assert t.read_diff(spark, t.current_snapshot_id()).count() == 0


def test_overwrite_supersedes(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl2"))
    t.commit(spark.range(10).toDF("id"))
    t.commit(spark.range(5).toDF("id"), mode="overwrite")
    assert t.read(spark).count() == 5
    t.commit(spark.range(100, 103).toDF("id"))
    assert t.read(spark).count() == 8


def test_resume_idempotent(spark, tmp_path):
    """A crashed write (snapshot dir present, manifest absent) is invisible."""
    t = SnapshotTable(str(tmp_path / "tbl3"))
    t.commit(spark.range(10).toDF("id"))
    # simulate a crash: data written but no manifest entry
    spark.range(999).toDF("id").write.parquet(str(tmp_path / "tbl3" / "snap-99"))
    assert t.read(spark).count() == 10
    assert t.current_snapshot_id() == 1


def test_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tt"))
    t.commit(spark.range(10).toDF("id"))
    s1 = t.current_snapshot_id()
    t.commit(spark.range(10, 30).toDF("id"))
    s2 = t.current_snapshot_id()
    t.commit(spark.range(5).toDF("id"), mode="overwrite")
    assert t.read_at(spark, s1).count() == 10
    assert t.read_at(spark, s2).count() == 30
    assert t.read(spark).count() == 5


def test_concurrent_commits_none_lost(spark, tmp_path):
    """Two committers racing must both land (ADVICE r01 #4: the old
    read-modify-write silently dropped the first commit)."""
    import threading

    from osm2lanes_spark.io.snapshots import SnapshotTable

    table = SnapshotTable(str(tmp_path / "race"))
    df = spark.range(5)
    errs = []

    def commit():
        try:
            table.commit(df, mode="append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=commit) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    snaps = table.snapshots()
    assert [s["id"] for s in snaps] == [1, 2, 3, 4]
    assert table.read(spark).count() == 20  # all four appends visible


def test_expire_snapshots(spark, tmp_path):
    """expire_snapshots(keep_last=N) (VERDICT r03 #8): retained ids keep
    read_at; expired ids raise; append dirs inside the live chain stay on
    disk (their rows are part of every newer state) while dirs behind an
    overwrite boundary are deleted; read_diff refuses to cross a deleted
    directory."""
    import os

    import pytest

    t = SnapshotTable(str(tmp_path / "exp"))
    t.commit(spark.range(10).toDF("id"))                       # 1 append
    t.commit(spark.range(10, 20).toDF("id"))                   # 2 append
    t.commit(spark.range(5).toDF("id"), mode="overwrite")      # 3 overwrite
    t.commit(spark.range(100, 103).toDF("id"))                 # 4 append
    t.commit(spark.range(103, 104).toDF("id"))                 # 5 append
    res = t.expire_snapshots(keep_last=2)
    assert res["expired"] == [1, 2, 3]
    # snaps 1+2 sit behind the overwrite → unreachable → dirs deleted;
    # snap 3 (the overwrite) is the base of every retained state → kept
    assert sorted(res["deleted_dirs"]) == ["snap-1", "snap-2"]
    assert not os.path.exists(str(tmp_path / "exp" / "snap-1"))
    assert os.path.exists(str(tmp_path / "exp" / "snap-3"))
    # current state intact, retained time travel intact
    assert t.read(spark).count() == 9
    assert t.read_at(spark, 4).count() == 8
    assert t.read_at(spark, 5).count() == 9
    for gone in (1, 2, 3):
        with pytest.raises(FileNotFoundError):
            t.read_at(spark, gone)
    # diff within the retained range works; crossing a deleted dir raises
    assert t.read_diff(spark, 4).count() == 1
    with pytest.raises(FileNotFoundError):
        t.read_diff(spark, 1)
    # idempotent + commits keep working with monotone ids
    assert t.expire_snapshots(keep_last=2)["expired"] == []
    e = t.commit(spark.range(200, 202).toDF("id"))
    assert e["id"] == 6
    assert t.read(spark).count() == 11


def test_expire_reclaims_previously_retained_dirs(spark, tmp_path):
    """A dir retained by an earlier expiry because a live chain still
    reached it (an append under the current overwrite base) must be
    reconsidered on the NEXT expiry once a later overwrite makes it
    unreachable — skipping already-expired manifest entries leaked such
    directories permanently (ADVICE r04)."""
    import os

    t = SnapshotTable(str(tmp_path / "reclaim"))
    t.commit(spark.range(10).toDF("id"), mode="overwrite")  # 1 base
    t.commit(spark.range(10, 15).toDF("id"))                # 2 append
    res = t.expire_snapshots(keep_last=1)
    # snap 1 is expired but its dir is the retained state's base → kept
    assert res["expired"] == [1] and res["deleted_dirs"] == []
    assert os.path.exists(str(tmp_path / "reclaim" / "snap-1"))
    # a later overwrite supersedes the whole old chain
    t.commit(spark.range(3).toDF("id"), mode="overwrite")   # 3
    res2 = t.expire_snapshots(keep_last=1)
    # the already-expired snap 1's dir is now unreachable → reclaimed
    assert sorted(res2["deleted_dirs"]) == ["snap-1", "snap-2"]
    assert not os.path.exists(str(tmp_path / "reclaim" / "snap-1"))
    assert not os.path.exists(str(tmp_path / "reclaim" / "snap-2"))
    assert t.read(spark).count() == 3


def test_expire_concurrent_with_commits(spark, tmp_path):
    """Expiry serializes with committers under the same flock: racing
    appends and an expire never lose a landed commit or corrupt the
    manifest."""
    import threading

    t = SnapshotTable(str(tmp_path / "expr"))
    for i in range(4):
        t.commit(spark.range(i * 10, i * 10 + 10).toDF("id"))
    df = spark.range(1000, 1005).toDF("id")
    errs = []

    def committer():
        try:
            for _ in range(2):
                t.commit(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def expirer():
        try:
            for _ in range(3):
                t.expire_snapshots(keep_last=2)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=f)
               for f in (committer, committer, expirer)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    snaps = t.snapshots()
    assert [s["id"] for s in snaps] == list(range(1, 9))
    # every append's rows are still in the current state (append dirs are
    # never deleted — no overwrite boundary exists)
    assert t.read(spark).count() == 4 * 10 + 4 * 5


def test_write_table_adapter_fallback(spark, tmp_path):
    """write_table/read_table/read_table_diff route to the parquet
    stand-in when no Iceberg jar is present (the call-site adapter a jar
    drop-in would flip to writeTo/format('iceberg'))."""
    from osm2lanes_spark.io.snapshots import (have_iceberg, read_table,
                                              read_table_diff, write_table)

    assert not have_iceberg(spark)  # this container ships no Iceberg jar
    target = str(tmp_path / "adapter")
    e1 = write_table(spark.range(3), target, mode="append")
    e2 = write_table(spark.range(3, 7), target, mode="append")
    assert (e1["id"], e2["id"]) == (1, 2)
    assert read_table(spark, target).count() == 7
    assert read_table_diff(spark, target, e1["id"]).count() == 4


def test_commit_lock_crash_safe(spark, tmp_path):
    """The manifest commit lock is a kernel flock: a crashed committer
    (fds closed without an explicit unlock) releases it automatically, so
    there is no stale-lock heuristic — and no expiry race — at all
    (ADVICE r02 #2, hardened after the round-3 review showed every
    unlink/rename expiry protocol admits a double-entry window)."""
    import fcntl
    import os

    table = SnapshotTable(str(tmp_path / "t"))
    lock = os.path.join(table.path, "_commit.lock")
    # a "crashed" committer: acquired, then fd closed without unlocking
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)
    os.close(fd)  # kernel releases the lock here
    # a live holder DOES block a second acquisition
    fd2 = os.open(lock, os.O_CREAT | os.O_WRONLY)
    fcntl.flock(fd2, fcntl.LOCK_EX)
    fd3 = os.open(lock, os.O_CREAT | os.O_WRONLY)
    import pytest as _pytest
    with _pytest.raises(OSError):
        fcntl.flock(fd3, fcntl.LOCK_EX | fcntl.LOCK_NB)
    os.close(fd3)
    os.close(fd2)
    # and a commit succeeds after the "crash"
    df = spark.range(3).withColumnRenamed("id", "v")
    entry = table.commit(df, lock_timeout=5.0)
    assert entry["rows"] == 3


def test_compact_rewrites_small_files(spark, tmp_path):
    from osm2lanes_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    # 6 fragmented appends, several files each
    for i in range(6):
        t.commit(spark.range(i * 100, (i + 1) * 100).repartition(4),
                 mode="append")
    before_rows = sorted(r["id"] for r in t.read(spark).collect())
    pre_id = t.current_snapshot_id()
    info = t.compact(spark, target_file_bytes=1 << 30)  # everything → 1 file
    assert info["files_before"] >= 24
    assert info["files_after"] == 1
    # contents identical, readers see the compacted state
    assert sorted(r["id"] for r in t.read(spark).collect()) == before_rows
    # history intact: time travel to the pre-compaction state still works
    assert sorted(r["id"] for r in
                  t.read_at(spark, pre_id).collect()) == before_rows
    # incremental readers see the rewrite as one overwrite snapshot
    assert t.current_snapshot_id() == info["id"]


def test_conditional_commit_detects_concurrent_append(spark, tmp_path):
    """ADVICE r06 #2: an overwrite computed from a stale state must not
    silently supersede a concurrent append — the expected-snapshot-id
    check under the commit lock raises instead."""
    import pytest

    from osm2lanes_spark.io.snapshots import (ConcurrentCommitError,
                                              SnapshotTable)

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.range(100), mode="append")
    base = t.current_snapshot_id()
    state = t.read(spark)
    # a concurrent append lands between the read and the commit
    t.commit(spark.range(100, 150), mode="append")
    n_dirs_before = sum(1 for d in (tmp_path / "tbl").iterdir()
                        if d.is_dir())
    with pytest.raises(ConcurrentCommitError):
        t.commit(state.repartition(1), mode="overwrite",
                 expected_snapshot_id=base)
    # the failed commit's data dir was cleaned up, no rows were lost
    n_dirs_after = sum(1 for d in (tmp_path / "tbl").iterdir()
                       if d.is_dir())
    assert n_dirs_after == n_dirs_before
    assert t.read(spark).count() == 150
    # rebasing onto the advanced state commits fine
    rebased = t.current_snapshot_id()
    t.commit(t.read(spark).repartition(1), mode="overwrite",
             expected_snapshot_id=rebased)
    assert t.read(spark).count() == 150


def test_compact_passes_conditional_commit(spark, tmp_path):
    """compact() commits conditionally on the state it read — the happy
    path still works end to end."""
    from osm2lanes_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    for i in range(3):
        t.commit(spark.range(i * 10, (i + 1) * 10).repartition(2),
                 mode="append")
    info = t.compact(spark, target_file_bytes=1 << 30)
    assert info["files_after"] == 1
    assert t.read(spark).count() == 30
