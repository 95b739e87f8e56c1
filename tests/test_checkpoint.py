"""Checkpoint/resume: killed job resumes with exact lineage; resume == fresh."""

import tempfile

import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark.plans import checkpoint as cp


@pytest.fixture()
def data(spark):
    return spark.range(10_000).select(
        F.col("id").alias("cell_id"),
        (F.col("id") % 977).alias("payload"),
    )


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_fresh_run_and_metrics(spark, data):
    with tempfile.TemporaryDirectory() as root:
        out = cp.run_stage(spark, data, output_root=root, job_id="j1",
                           stage="s1", key_col="cell_id", n_buckets=8, batch_size=3)
        got = cp.read_stage(spark, root, "s1")
        assert _collect_sorted(got) == _collect_sorted(data)
        m = cp.MetadataStore(spark, root).metrics().toPandas()
        assert set(m.bucket) == set(range(8))            # every bucket committed
        assert m.rows.sum() == 10_000                     # row lineage adds up
        assert (m.bytes > 0).all() and (m.ms >= 0).all()  # byte/time metrics
        assert m.max_key.notna().all()
        assert out.endswith("s1")


def test_kill_then_resume_equals_fresh(spark, data):
    with tempfile.TemporaryDirectory() as root_killed, \
         tempfile.TemporaryDirectory() as root_fresh:
        with pytest.raises(RuntimeError, match="simulated failure"):
            cp.run_stage(spark, data, output_root=root_killed, job_id="j1",
                         stage="s1", key_col="cell_id", n_buckets=8,
                         batch_size=2, fail_after_batches=2)
        store = cp.MetadataStore(spark, root_killed)
        committed_before = set(store.committed("j1", "s1"))
        assert 0 < len(committed_before) < 8  # partially committed

        # resume: only the remaining buckets are processed
        cp.run_stage(spark, data, output_root=root_killed, job_id="j1",
                     stage="s1", key_col="cell_id", n_buckets=8, batch_size=2)
        resumed = cp.read_stage(spark, root_killed, "s1")

        cp.run_stage(spark, data, output_root=root_fresh, job_id="j1",
                     stage="s1", key_col="cell_id", n_buckets=8, batch_size=8)
        fresh = cp.read_stage(spark, root_fresh, "s1")
        assert _collect_sorted(resumed) == _collect_sorted(fresh)

        # committed buckets were NOT reprocessed (watermark rows are unique)
        m = store.metrics().toPandas()
        assert m.groupby("bucket").size().max() == 1


def test_killed_stage_releases_its_persisted_input(spark, data):
    # a raise must not leave the stage input cached: a same-session resume
    # would silently reuse it
    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persisted()
    with tempfile.TemporaryDirectory() as root:
        with pytest.raises(RuntimeError, match="simulated failure"):
            cp.run_stage(spark, data, output_root=root, job_id="j1",
                         stage="s1", key_col="cell_id", n_buckets=8,
                         batch_size=2, fail_after_batches=2)
    assert n_persisted() == before


def test_resume_noop_when_complete(spark, data):
    with tempfile.TemporaryDirectory() as root:
        cp.run_stage(spark, data, output_root=root, job_id="j1", stage="s1",
                     key_col="cell_id", n_buckets=4, batch_size=4)
        m1 = cp.MetadataStore(spark, root).metrics().count()
        cp.run_stage(spark, data, output_root=root, job_id="j1", stage="s1",
                     key_col="cell_id", n_buckets=4, batch_size=4)
        m2 = cp.MetadataStore(spark, root).metrics().count()
        assert m1 == m2  # nothing re-done


def test_string_key_bucketing(spark):
    df = spark.range(1000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        F.col("id").alias("v"))
    with tempfile.TemporaryDirectory() as root:
        cp.run_stage(spark, df, output_root=root, job_id="j2", stage="s2",
                     key_col="doc_id", n_buckets=4, batch_size=2)
        got = cp.read_stage(spark, root, "s2")
        assert got.count() == 1000
