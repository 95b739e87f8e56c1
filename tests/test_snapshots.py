"""Snapshot table format: time-travel reads, copy-on-write delete
(untouched files carried BY REFERENCE, byte-identical; stats-pruned
files never rewritten), atomic optimistic commits (conflict fails loud,
no lost updates), lineage history."""
import json
import os

import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark.sources import snapshots as SN
from tests.conftest import count_jobs


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 2 + 1).alias("val"))


def test_time_travel_and_cow(tmp_path, spark):
    p = str(tmp_path / "t")
    SN.create_table(p, key_col="doc_id")
    v1 = SN.append(_mk(spark, 0, 100).repartitionByRange(4, "doc_id"), p)
    v2 = SN.append(_mk(spark, 100, 200).repartitionByRange(4, "doc_id"),
                   p)
    # delete a range that touches ONLY the second append's files
    v3 = SN.delete_range(spark, p, 150, 159)
    assert (v1, v2, v3) == (1, 2, 3)
    # snapshot contents are exact at every version
    assert sorted(r.doc_id for r in SN.read_snapshot(spark, p, 1)
                  .collect()) == list(range(100))
    assert sorted(r.doc_id for r in SN.read_snapshot(spark, p, 2)
                  .collect()) == list(range(200))
    got3 = sorted(r.doc_id for r in SN.read_snapshot(spark, p, 3)
                  .collect())
    assert got3 == [i for i in range(200) if not 150 <= i <= 159]
    # current == v3
    assert sorted(r.doc_id for r in SN.read_snapshot(spark, p)
                  .collect()) == got3
    # COW: every v1 file is carried by reference into v3 (stats say the
    # delete range can't touch them), byte-identical on disk
    f1, f3 = SN.snapshot_files(p, 1), SN.snapshot_files(p, 3)
    assert f1 <= f3
    # and v2's touched files were rewritten, not mutated: v2 still reads
    # the full 200 rows after the delete (immutability)
    assert SN.read_snapshot(spark, p, 2).count() == 200
    # history lineage
    h = SN.history(p)
    assert [x["op"] for x in h] == ["create", "append", "append",
                                    "delete_range"]
    assert [x["n_rows"] for x in h] == [0, 100, 200, 190]


def test_repeat_snapshot_read_runs_no_jobs(tmp_path, spark):
    p = str(tmp_path / "t")
    SN.create_table(p, key_col="doc_id")
    SN.append(_mk(spark, 0, 100).repartitionByRange(4, "doc_id"), p)
    jobs, first = count_jobs(spark, lambda: SN.read_snapshot(spark, p, 1))
    assert jobs == 1                 # the one schema-inference job
    jobs, again = count_jobs(spark, lambda: SN.read_snapshot(spark, p, 1))
    assert jobs == 0                 # data files never change: schema reused
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_stats_pruning_counts(tmp_path, spark):
    p = str(tmp_path / "t")
    SN.create_table(p, key_col="doc_id")
    SN.append(_mk(spark, 0, 400).repartitionByRange(8, "doc_id"), p)
    before = SN.snapshot_files(p, 1)
    SN.delete_range(spark, p, 390, 399)  # hits only the last file(s)
    after = SN.snapshot_files(p, 2)
    carried = before & after
    # most range-partitioned files carried untouched
    assert len(carried) >= len(before) - 2
    assert SN.read_snapshot(spark, p, 2).count() == 390


def test_compact_layout_only(tmp_path, spark):
    p = str(tmp_path / "t")
    SN.create_table(p, key_col="doc_id")
    for lo in range(0, 300, 20):  # 15 fragmenting appends
        SN.append(_mk(spark, lo, lo + 20), p)
    before = SN.read_snapshot(spark, p).collect()
    n_before = len(SN.snapshot_files(p, 15))
    v = SN.compact(spark, p, target_files=4)
    assert v == 16
    # logical content byte-identical, physical files collapsed
    after = SN.read_snapshot(spark, p).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert len(SN.snapshot_files(p, 16)) <= 4 < n_before
    # compaction shares NO files with its parent (full rewrite) but
    # the parent still reads (old files intact until expiry)
    assert not (SN.snapshot_files(p, 15) & SN.snapshot_files(p, 16))
    assert SN.read_snapshot(spark, p, 15).count() == 300
    assert SN.history(p)[-1]["op"] == "compact"
    # empty-table compact fails loud
    pe = str(tmp_path / "e")
    SN.create_table(pe, key_col="doc_id")
    with pytest.raises(ValueError, match="empty"):
        SN.compact(spark, pe, 2)


def test_expire_snapshots(tmp_path, spark):
    p = str(tmp_path / "t")
    SN.create_table(p, key_col="doc_id")
    SN.append(_mk(spark, 0, 100).repartitionByRange(4, "doc_id"), p)
    SN.append(_mk(spark, 100, 200).repartitionByRange(4, "doc_id"), p)
    SN.delete_range(spark, p, 150, 159)   # v3
    SN.compact(spark, p, target_files=2)  # v4 — full rewrite
    v3_files = SN.snapshot_files(p, 3)
    # keep v3 onward: every v3 file stays live; only files referenced
    # EXCLUSIVELY below v3 die (the ones delete_range rewrote)
    deleted = set(SN.expire_snapshots(p, keep_from=3))
    assert deleted == (SN.snapshot_files(p, 2) - v3_files)
    for fn in v3_files | SN.snapshot_files(p, 4):
        assert os.path.exists(os.path.join(p, "data", fn))
    for fn in deleted:
        assert not os.path.exists(os.path.join(p, "data", fn))
    # live versions still read exactly; expired ones fail loud
    assert SN.read_snapshot(spark, p, 3).count() == 190
    assert SN.read_snapshot(spark, p, 4).count() == 190
    for v in (1, 2):
        with pytest.raises(ValueError, match="expired"):
            SN.read_snapshot(spark, p, v)
    # lineage survives expiry (tombstoned manifests keep history shape)
    assert [x["op"] for x in SN.history(p)] == [
        "create", "append", "append", "delete_range", "compact"]
    # idempotent re-expire deletes nothing new; bad keep_from fails
    assert SN.expire_snapshots(p, keep_from=3) == []
    with pytest.raises(ValueError, match="outside"):
        SN.expire_snapshots(p, keep_from=99)


def test_commit_conflict_fails_loud(tmp_path, spark):
    p = str(tmp_path / "t")
    SN.create_table(p, key_col="doc_id")
    SN.append(_mk(spark, 0, 10), p)
    # simulate a concurrent committer racing past us: manifest built
    # against v1 while CURRENT moves to v2
    m = dict(json.load(open(os.path.join(p, "meta", "v1.json"))))
    SN.append(_mk(spark, 10, 20), p)  # someone else commits v2
    with pytest.raises(ValueError, match="conflict"):
        SN._commit(p, {"parent": 1, "op": "append",
                       "key_col": "doc_id", "files": m["files"]})
    # delete-everything leaves an empty snapshot that fails loud on read
    SN.delete_range(spark, p, 0, 100)
    with pytest.raises(ValueError, match="empty"):
        SN.read_snapshot(spark, p)
    with pytest.raises(ValueError, match="exists"):
        SN.create_table(p, key_col="doc_id")
