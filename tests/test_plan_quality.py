"""Physical-plan guards: the scale properties the engine is designed around
must be visible in the executed plan (SURVEY.md §4, BENCH.md checklist).
These catch regressions like a Python UDF sneaking into a hot path or a
dimension join losing its broadcast."""

import re

import pytest

import __spark_entry__ as entrymod
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import spatial_join as sj
from geotrellis_contrib_spark.operators import tiling
from tests.conftest import SF_SMALL

HOT_QUERIES = ["cell_encode", "tile_assign", "pip_join", "distance_join",
               "knn", "zonal_stats", "rasterize", "mosaic_merge",
               "windows_read", "raster_summary", "text_features",
               "dedup_exact", "minhash_sigs", "simhash", "pricing_summary",
               "sessionize", "embed_topk", "embed_lsh_buckets"]

BROADCAST_QUERIES = ["pip_join", "knn", "windows_read", "zonal_stats", "embed_topk"]


def _plan(spark, name):
    df = entrymod.queries()[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", HOT_QUERIES)
def test_no_python_in_hot_path(spark, name):
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    assert "ArrowEvalPython" not in plan, f"{name}: unexpected Arrow UDF in hot path"
    assert "FlatMapGroupsInPandas" not in plan, f"{name}: unexpected grouped-map stage"


@pytest.mark.parametrize("name", BROADCAST_QUERIES)
def test_dimension_side_broadcast(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"{name}: dimension join is not broadcast")


def test_scan_column_pruning(spark):
    plan = _plan(spark, "cell_encode")
    # the documents scan must read ONLY doc_id (anchors derive from it)
    assert "struct<doc_id:bigint>" in plan.replace(" ", ""), plan[-500:]


def test_single_long_join_keys(spark):
    # spatial joins key on the packed cell (one bigint), never (col,row) pairs
    for name in ("pip_join", "distance_join", "knn"):
        plan = _plan(spark, name)
        joins = [seg for seg in plan.split("\n") if "HashJoin" in seg]
        assert joins, f"{name}: no hash join found"
        assert all("cell" in j for j in joins), f"{name}: join not on cell key"


def test_mosaic_merge_partial_aggregates(spark):
    # the merge must be a declarative aggregate (map-side partial agg), not
    # a row_number window (full shuffle+sort of the tile table)
    plan = _plan(spark, "mosaic_merge")
    assert "Window" not in plan, "mosaic_merge regressed to a window"
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "partial_min" in plan or "partial min" in plan.lower() or plan.count("Aggregate") >= 2, (
        "no partial aggregation stage visible")


def test_salted_join_stays_shuffled(spark):
    # broadcast_dim=False is a caller assertion the dim is too big: AQE must
    # not demote the salted large-large join to broadcast on small inputs
    plan = _plan(spark, "pip_join_salted")
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[-800:]


def test_topk_windows_shuffle_scalars_only(spark):
    # the embed re-rank windows must not carry embedding arrays through
    # their sort: the window operates on (query_id, vec_id, cos) scalars
    plan = _plan(spark, "embed_topk")
    win = [seg for seg in plan.split("\n") if "Window" in seg or "windowspecdefinition" in seg]
    assert win, "no rank window found"
    assert not any("array<" in w for w in win), "embedding arrays in the rank window"


def test_lsh_candidate_join_shuffles_scalars_only(spark):
    # the multi-table candidate self-join must move (vec_id, tkey) scalars,
    # never the 64-float embedding arrays
    plan = _plan(spark, "embed_near_pairs")
    joins = [seg for seg in plan.split("\n")
             if "HashJoin" in seg and "tkey" in seg]
    assert joins, "no bucket-key join found"
    assert not any("array<" in j for j in joins), "arrays in the candidate join"


def test_lsh_codegen_not_disabled(spark):
    # the 48-plane bucket computation must stay inside whole-stage codegen
    # (a too-large expression silently falls back to interpreted eval);
    # WholeStageCodegen spans print as *(n) prefixes
    plan = _plan(spark, "embed_lsh_buckets")
    assert "*(1)" in plan, "no whole-stage codegen span in the bucket stage"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_exact_no_python_no_cartesian(spark):
    plan = _plan(spark, "knn_exact")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, "exact kNN fell back to a cross join"


def test_ivf_centroid_broadcast_is_bounded(spark):
    # fixed centroid budget: centroid selection is a TakeOrdered (limit) —
    # since r6 it is collected once at build time (constant K rows) and
    # closed over the Arrow assignment maps, so the boundedness lives in
    # select_centroids' own plan; the topk plan must show the two pure
    # Arrow maps (assignment + probes — no K-way fan-out, no groupBy) and
    # the probes broadcast join
    from geotrellis_contrib_spark.operators import similarity as sim
    cent_plan = sim.select_centroids(
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet"), 64) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in cent_plan, \
        "centroid selection not a bounded TakeOrdered"
    plan = _plan(spark, "embed_ivf_topk")
    assert plan.count("MapInPandas") == 2, \
        "IVF assignment/probes are not the two pure Arrow maps"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_fanout_probe_side_parallelism(spark):
    # broadcast-join parallelism floor (round 4): the kNN / cosine probe
    # sides must carry >= defaultParallelism partitions even when the
    # source is a single parquet split — the 1000x join fan-out otherwise
    # runs in 1-2 tasks (measured 272s at sf1.0)
    # (the post-join partition count is AQE-coalesced on tiny data, so the
    # observable invariant is the ROUND-ROBIN exchange feeding the join)
    for name in ("knn", "embed_topk"):
        plan = _plan(spark, name)
        assert "RoundRobinPartitioning" in plan, (
            f"{name}: probe side not spread before the fan-out join")
    # and the guard itself is a no-op on an already-parallel input
    from geotrellis_contrib_spark.util import ensure_min_parallelism
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, target * 2)
    assert ensure_min_parallelism(wide) is wide


def test_pip_wkb_coarse_join_broadcast_on_cell(spark):
    # arbitrary-polygon PIP: the exploded cover-cell side must broadcast
    # and the coarse join must ride the single-long cell key; Python
    # appears ONLY as the Arrow refine (pip_wkb) + the tiny polygon-side
    # encoders, never row-at-a-time
    plan = _plan(spark, "pip_join_wkb")
    assert "BatchEvalPython" not in plan, "row-at-a-time Python in pip_join_wkb"
    joins = [seg for seg in plan.split("\n") if "BroadcastHashJoin" in seg]
    assert joins, "cover join is not broadcast"
    assert all("cell" in j for j in joins), "coarse join not on the cell key"


def test_stream_totals_state_partitions_restored(spark):
    # the stateful gate floors spark.sql.shuffle.partitions in-stream and
    # MUST restore the session value afterwards
    before = spark.conf.get("spark.sql.shuffle.partitions")
    entrymod.queries()["stream_totals"](spark, SF_SMALL).count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_line_burn_pure_jvm_traversal(spark):
    """rasterize_lines' supercover is declared in Column algebra: no
    Python of any kind in the plan, and the window partitioned (never a
    global sort)."""
    plan = _plan(spark, "line_burn")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan
    assert "Generate explode" in plan  # the two bounded explodes
    # the lead() window is partitioned by line_id, not global
    assert "windowspecdefinition(" in plan.lower()


def test_raster_mask_zero_shuffle(spark):
    """mask_tiles is a closed-over-dimension narrow map: the engine side
    (before the checksum union) has NO exchange and NO join."""
    from geotrellis_contrib_spark import corpus
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    boxes = spark.createDataFrame([(-76.5, 48.2, -74.8, 52.9)],
                                  "xmin double, ymin double, "
                                  "xmax double, ymax double")
    out = px.mask_tiles(tiles, boxes, tile_size=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "mask_tiles must not shuffle"
    assert "Join" not in plan, "mask_tiles must not join"


def test_spacetime_layout_broadcast_locate_join(spark):
    """The events->anchors locate join is broadcast (dimension side) and
    the z3 rank window is bucket-partitioned (no global sort)."""
    plan = _plan(spark, "spacetime_layout")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


SEVENTH_WAVE_PURE_JVM = ["hilbert_layout", "repetition_signals",
                         "span_dedup", "bpe_counts", "funnel",
                         "cohort_retention", "twap", "events_rollup",
                         "events_pivot", "gini", "triangle_count",
                         "quadtree", "hull_diameter"]


@pytest.mark.parametrize("name", SEVENTH_WAVE_PURE_JVM)
def test_seventh_wave_no_python_nodes(spark, name):
    # every analytics/layout operator of the seventh wave stays JVM-side
    # end to end (hull_diameter's hull build is grouped-Arrow by design;
    # everything else has NO Python at all)
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
    assert "ArrowEvalPython" not in plan, f"{name}: scalar Arrow UDF"
    if name != "hull_diameter":
        assert "FlatMapGroupsInPandas" not in plan \
            and "MapInPandas" not in plan, f"{name}: Python stage"


def test_hilbert_layout_zero_join(spark):
    # the staged xy2d projections are narrow: no join, exactly the
    # window's exchange in the whole plan
    plan = _plan(spark, "hilbert_layout")
    assert "Join" not in plan
    # and CollapseProject must NOT have exploded the stage chain: the
    # plan string stays far below the 2^10-term blowup size
    assert len(plan) < 200_000, len(plan)


def test_quadtree_single_count_shuffle(spark):
    # one (zoom, cell) aggregate + the same-key join back + the final
    # per-id struct-min: no Python, bounded explode visible
    plan = _plan(spark, "quadtree")
    assert "Generate explode" in plan or "Explode" in plan
    assert "Python" not in plan


def test_corpus_pipeline_builds_spans_and_parses_geo_once(spark):
    # the flagship chain's corpus layer: exploding the span struct array
    # lets Catalyst infer size(spans) > 0 and push it under the projection
    # that builds the array (every doc's spans built twice), and a join
    # guard lon/lat IS NOT NULL pushed under the parse splits and casts
    # every geo text twice
    boxes = spark.createDataFrame(
        [("hot", -74.25, 40.45, -73.75, 40.95)],
        "poly_id string, xmin double, ymin double, xmax double, ymax double")
    hits = sj.pip_join_boxes(corpus.extract_anchors(corpus.synth_docs(spark, 2000)),
                             boxes, zoom=6)
    plan = hits._jdf.queryExecution().optimizedPlan().toString()
    assert "size(" not in plan, "inferred size() filter rebuilds the span array"
    assert not re.search(r"explode\(spans#\d+\)", plan), "Generate over the span struct"
    assert plan.count("split(") == 1, "geo text split more than once"
    assert plan.count("cast(element_at(") == 2, "lon/lat cast more than once each"
    # the plan string cannot show a stage that janino fails to compile:
    # run the chain to its per-tile counts (codegen fallback is off in the
    # test session, so such a stage raises instead of running interpreted)
    tiles = tiling.assign_tiles(hits, [12])
    tiles.groupBy("poly_id", "zoom", "col", "row").count() \
        .write.format("noop").mode("overwrite").save()
