"""Snapshot-versioned table format: the Iceberg-metadata analog of the
engine's table tier (tables.py is the physical layout; this is the
catalog layer the north-star pipeline checkpoints against — atomic
commits, time travel, copy-on-write row deletes, per-file stats
pruning, lineage history).

Layout on disk (all public-knowledge Iceberg/Delta mechanics, from
scratch):

    table/
      data/<uuid>.parquet          immutable data files
      meta/v{N}.json               manifest: op, parent, file list with
                                   per-file rows + key min/max (read
                                   from the parquet FOOTER, no data IO)
      meta/CURRENT                 text: the committed version number
                                   (os.replace -> atomic pointer swap)

Semantics:
  * ``append`` writes new files and a manifest carrying the parent's
    files BY REFERENCE — O(new data) IO regardless of table size.
  * ``delete_range`` is COPY-ON-WRITE: only files whose footer
    [min, max] on the key column intersects the delete interval are
    rewritten; every other file is carried by reference untouched —
    the Iceberg property that makes row deletes on a 100 TB table
    proportional to the touched partitions, not the table.
  * ``read_snapshot(version=N)`` plans exactly the manifest's file
    list — time travel is a metadata lookup, zero data movement.
  * Commits are optimistic: the manifest records its parent; if
    CURRENT moved since the operation started, the commit fails loud
    (no lost updates) rather than last-writer-wins.

Reference parity: the reference's slick tier mutates PostGIS tables
(insert/delete, PostgisSpec.scala:133-140); at the target scale those
semantics live in a table FORMAT, which is what this module supplies.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotrellis_contrib_spark.sources import tables


def _meta(path: str) -> str:
    return os.path.join(path, "meta")


def _data(path: str) -> str:
    return os.path.join(path, "data")


def current_version(path: str) -> int:
    with open(os.path.join(_meta(path), "CURRENT")) as f:
        return int(f.read().strip())


def _manifest(path: str, version: int) -> dict:
    with open(os.path.join(_meta(path), f"v{version}.json")) as f:
        return json.load(f)


def _commit(path: str, manifest: dict) -> int:
    """Atomic optimistic commit: vN+1 written, CURRENT swapped via
    os.replace; fails loud if another writer advanced CURRENT past the
    manifest's parent in the meantime."""
    meta = _meta(path)
    cur = current_version(path)
    if cur != manifest["parent"]:
        raise ValueError(
            f"snapshot commit conflict: table at v{cur}, operation "
            f"started from v{manifest['parent']} — retry on the new "
            "snapshot")
    v = cur + 1
    manifest["version"] = v
    mpath = os.path.join(meta, f"v{v}.json")
    if os.path.exists(mpath):
        raise ValueError(f"snapshot commit conflict: v{v} already "
                         "written by a concurrent committer")
    tmp = mpath + f".tmp{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, mpath)
    ctmp = os.path.join(meta, f"CURRENT.tmp{uuid.uuid4().hex[:8]}")
    with open(ctmp, "w") as f:
        f.write(str(v))
    os.replace(ctmp, os.path.join(meta, "CURRENT"))
    return v


def _file_stats(fpath: str, key_col: str) -> dict:
    """Rows + key min/max from the parquet FOOTER (row-group stats) —
    no data pages touched; these are the stats Iceberg manifests carry
    and the delete planner prunes on."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    kmin = kmax = None
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == key_col:
            idx = i
            break
    if idx is None:
        raise ValueError(f"key column {key_col!r} not in {fpath}")
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            raise ValueError(f"missing parquet stats for {key_col!r} "
                             f"in {fpath}")
        kmin = st.min if kmin is None else min(kmin, st.min)
        kmax = st.max if kmax is None else max(kmax, st.max)
    return {"name": os.path.basename(fpath), "rows": md.num_rows,
            "min": kmin, "max": kmax}


def _write_files(df: DataFrame, path: str, key_col: str) -> list[dict]:
    """Write df as immutable uniquely-named data files; returns their
    manifest entries (footer stats)."""
    staging = os.path.join(path, f"__stage_{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(staging)
    entries = []
    os.makedirs(_data(path), exist_ok=True)
    for fn in sorted(os.listdir(staging)):
        if not fn.endswith(".parquet"):
            continue
        dst = f"{uuid.uuid4().hex}.parquet"
        os.replace(os.path.join(staging, fn),
                   os.path.join(_data(path), dst))
        st = _file_stats(os.path.join(_data(path), dst), key_col)
        st["name"] = dst
        entries.append(st)
    shutil.rmtree(staging)
    return entries


def create_table(path: str, key_col: str) -> None:
    """Initialize an empty snapshot table at v0."""
    os.makedirs(_meta(path), exist_ok=True)
    os.makedirs(_data(path), exist_ok=True)
    mpath = os.path.join(_meta(path), "v0.json")
    if os.path.exists(mpath):
        raise ValueError(f"snapshot table already exists at {path}")
    with open(mpath, "w") as f:
        json.dump({"version": 0, "parent": None, "op": "create",
                   "key_col": key_col, "files": []}, f)
    with open(os.path.join(_meta(path), "CURRENT"), "w") as f:
        f.write("0")


def append(df: DataFrame, path: str) -> int:
    """Append-commit: parent files by reference + the new files."""
    base = current_version(path)
    m = _manifest(path, base)
    entries = _write_files(df, path, m["key_col"])
    return _commit(path, {"parent": base, "op": "append",
                          "key_col": m["key_col"],
                          "files": m["files"] + entries})


def delete_range(spark: SparkSession, path: str, lo, hi) -> int:
    """Copy-on-write delete of rows with key_col in [lo, hi]: manifests
    files whose footer [min, max] misses the interval are carried BY
    REFERENCE (zero IO); intersecting files are rewritten filtered.
    Returns the new version."""
    base = current_version(path)
    m = _manifest(path, base)
    key = m["key_col"]
    keep, rewrite = [], []
    for e in m["files"]:
        if e["max"] < lo or e["min"] > hi:
            keep.append(e)
        else:
            rewrite.append(e)
    new_entries = []
    if rewrite:
        paths = [os.path.join(_data(path), e["name"]) for e in rewrite]
        kept = tables.read_parquet(spark, *paths).filter(
            ~F.col(key).between(F.lit(lo), F.lit(hi)))
        if kept.limit(1).count():
            new_entries = _write_files(kept, path, key)
    return _commit(path, {"parent": base, "op": "delete_range",
                          "key_col": key, "range": [lo, hi],
                          "files": keep + new_entries})


def read_snapshot(spark: SparkSession, path: str,
                  version: int | None = None) -> DataFrame:
    """Time-travel read: plan exactly the manifest's file list (empty
    snapshot -> empty DataFrame is a caller error surface; manifests
    always exist for committed versions — missing version fails loud)."""
    v = current_version(path) if version is None else int(version)
    m = _manifest(path, v)
    if m.get("expired"):
        raise ValueError(f"snapshot v{v} is expired "
                         "(expire_snapshots dropped its files)")
    if not m["files"]:
        raise ValueError(f"snapshot v{v} is empty")
    return tables.read_parquet(
        spark, *[os.path.join(_data(path), e["name"]) for e in m["files"]])


def compact(spark: SparkSession, path: str,
            target_files: int = 8) -> int:
    """Small-file compaction: rewrite the CURRENT snapshot's data into
    ``target_files`` key-range-partitioned files and commit the new
    manifest — the LOGICAL content is unchanged (pytest-pinned), only
    the physical layout. Older snapshots keep referencing the old
    files until :func:`expire_snapshots` drops them."""
    base = current_version(path)
    m = _manifest(path, base)
    key = m["key_col"]
    if not m["files"]:
        raise ValueError("compact: snapshot is empty")
    df = tables.read_parquet(
        spark, *[os.path.join(_data(path), e["name"]) for e in m["files"]])
    df = df.repartitionByRange(int(target_files), key) \
           .sortWithinPartitions(key)
    entries = _write_files(df, path, key)
    return _commit(path, {"parent": base, "op": "compact",
                          "key_col": key, "files": entries})


def expire_snapshots(path: str, keep_from: int) -> list[str]:
    """Expire history older than version ``keep_from``: data files no
    longer referenced by ANY version >= keep_from are deleted from
    disk (the Iceberg expire-snapshots/vacuum pair); their manifests
    stay as tombstoned lineage but reads below keep_from fail loud.
    Returns the deleted file names."""
    cur = current_version(path)
    if not 0 <= int(keep_from) <= cur:
        raise ValueError(f"keep_from={keep_from} outside 0..{cur}")
    live: set[str] = set()
    for v in range(int(keep_from), cur + 1):
        live |= {e["name"] for e in _manifest(path, v)["files"]}
    deleted = []
    for v in range(int(keep_from)):
        m = _manifest(path, v)
        for e in m["files"]:
            if e["name"] not in live:
                fp = os.path.join(_data(path), e["name"])
                if os.path.exists(fp):
                    os.remove(fp)
                    deleted.append(e["name"])
        m["expired"] = True
        tmp = os.path.join(_meta(path), f"v{v}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(_meta(path), f"v{v}.json"))
    return deleted


def history(path: str) -> list[dict]:
    """Lineage: (version, op, n_files, n_rows) for v0..CURRENT."""
    out = []
    for v in range(current_version(path) + 1):
        m = _manifest(path, v)
        out.append({"version": v, "op": m["op"],
                    "n_files": len(m["files"]),
                    "n_rows": sum(e["rows"] for e in m["files"])})
    return out


def snapshot_files(path: str, version: int) -> set[str]:
    """Data-file names a snapshot references (COW-evidence surface)."""
    return {e["name"] for e in _manifest(path, version)["files"]}
