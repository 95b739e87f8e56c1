"""Checkpoint / resume with per-partition watermarks, lineage and metrics.

BASELINE.json north_star: "every stage checkpoints per-partition watermarks to
Iceberg metadata tables so a killed job resumes with exact lineage and emits
per-partition row/byte/time metrics". The reference has no equivalent (batch
windowed reads only, SURVEY.md §2.8) — this is engine-new.

Design (storage-agnostic; parquet layout stands in for an Iceberg catalog,
swap ``MetadataStore`` for a real catalog on a cluster — SURVEY.md §7):

  - Work is split into deterministic BUCKETS by arithmetic on a key column
    (``cell_id % n_buckets`` style — engine-owned math, never Spark-internal
    hashing, so bucket membership is stable across runs/versions/cluster
    sizes).
  - A stage writes its output partitioned by bucket (dir-per-bucket =
    partition-pruned reads downstream), processing buckets in batches; after
    each batch commits it APPENDS watermark rows
    (job_id, stage, bucket, rows, bytes, ms, max_key, committed_at).
  - Resume = read committed buckets, skip them, process the rest. A bucket is
    either fully committed (output dir + watermark row) or not committed at
    all — torn batches leave data files but no watermark, and are rewritten
    (dir overwrite) on resume, so resume == fresh run, exactly.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WATERMARK_SCHEMA = ("job_id string, stage string, bucket int, rows bigint, "
                    "bytes bigint, ms bigint, max_key string, committed_at timestamp")


class MetadataStore:
    """Append-only watermark/metrics table (parquet dir layout)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "_metadata", "watermarks")

    def committed(self, job_id: str, stage: str) -> list[int]:
        try:
            df = self.spark.read.parquet(self.path)
        except Exception:
            return []
        return [r.bucket for r in
                df.filter((F.col("job_id") == job_id) & (F.col("stage") == stage))
                  .select("bucket").distinct().collect()]

    def append(self, rows: list[dict]) -> None:
        df = self.spark.createDataFrame(
            [(r["job_id"], r["stage"], r["bucket"], r["rows"], r["bytes"],
              r["ms"], r["max_key"], None) for r in rows],
            WATERMARK_SCHEMA,
        ).withColumn("committed_at", F.current_timestamp())
        df.coalesce(1).write.mode("append").parquet(self.path)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.path)


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(base, f))
    return total


def run_stage(spark: SparkSession, df: DataFrame, *, output_root: str,
              job_id: str, stage: str, key_col: str,
              n_buckets: int = 16, batch_size: int = 4,
              fail_after_batches: int | None = None,
              persist_input: bool = True) -> str:
    """Execute ``df`` as a checkpointed stage.

    The input is bucketed by ``pmod(xxhash-free arithmetic key, n_buckets)``
    — here simply ``abs(key) % n_buckets`` for numeric keys or a char-sum for
    strings (deterministic engine math). Each batch of buckets is one Spark
    job writing ``output_root/stage/bucket=<b>/``; its watermark row carries
    rows / bytes / wall ms / max(key) lineage.

    ``fail_after_batches`` simulates a kill for resume tests.
    Returns the stage output path. Re-invoking with the same ids resumes.
    """
    out_path = os.path.join(output_root, stage)
    store = MetadataStore(spark, output_root)

    key = F.col(key_col)
    # pmod, not abs+%: Spark abs(Int/Long.MinValue) stays negative, which
    # would yield a bucket no batch filter or watermark covers (silent drop)
    bucket = F.pmod(F.hash(key.cast("string")) if df.schema[key_col].dataType.typeName() == "string"
                    else key.cast("long"), F.lit(n_buckets))
    # NOTE on determinism: for string keys we fall back to Spark's hash() —
    # stable within a Spark major version; numeric keys use pure arithmetic.
    work = df.withColumn("_bucket", bucket.cast("int"))
    # Each batch filters the SAME upstream plan; without materialization the
    # whole pipeline recomputes per batch (and once more for the stats pass).
    # Locally we persist; on a real deployment the stage INPUT is a
    # bucket-partitioned table, so the per-batch filter becomes partition
    # pruning and no recompute/persist is needed.
    if persist_input:
        work = work.persist()

    done = set(store.committed(job_id, stage))
    todo = [b for b in range(n_buckets) if b not in done]

    batches = [todo[i:i + batch_size] for i in range(0, len(todo), batch_size)]
    try:
        for bi, batch in enumerate(batches):
            if fail_after_batches is not None and bi >= fail_after_batches:
                raise RuntimeError(f"simulated failure before batch {bi} of stage {stage}")
            t0 = time.time()
            part = work.filter(F.col("_bucket").isin(batch))
            # per-bucket lineage metrics in the same pass family as the write
            stats = {r["_bucket"]: r for r in
                     part.groupBy("_bucket")
                         .agg(F.count("*").alias("rows"), F.max(key.cast("string")).alias("max_key"))
                         .collect()}
            part.write.partitionBy("_bucket").mode("overwrite") \
                .option("partitionOverwriteMode", "dynamic").parquet(out_path)
            ms = int((time.time() - t0) * 1000)
            wm = []
            for b in batch:
                r = stats.get(b)
                wm.append({
                    "job_id": job_id, "stage": stage, "bucket": b,
                    "rows": int(r["rows"]) if r else 0,
                    "bytes": _dir_bytes(os.path.join(out_path, f"_bucket={b}")) if r else 0,
                    "ms": ms, "max_key": str(r["max_key"]) if r else None,
                })
            store.append(wm)
    finally:
        # also on a raise: a cached input left behind would be reused
        # silently by a same-session resume
        if persist_input:
            work.unpersist()
    return out_path


def read_stage(spark: SparkSession, output_root: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_root, stage)).drop("_bucket")
