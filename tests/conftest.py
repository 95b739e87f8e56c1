import os
import struct
import sys
import uuid
import zlib

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from geotrellis_contrib_spark.session import get_session

    # a WholeStageCodegen stage that janino cannot compile raises instead
    # of silently running interpreted
    s = get_session(app_name="gcs-tests", cores=4, shuffle_partitions=8,
                    extra_conf={"spark.sql.codegen.fallback": "false"})
    yield s
    s.stop()


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group and return (jobs, result):
    the number of Spark jobs it started — its driver syncs plus the
    stage jobs adaptive execution submits for them."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def decode_png_rgba(payload: bytes) -> np.ndarray:
    """Filter-0 8-bit RGBA PNG -> int64 HxWx4 (``render.encode_png_rgba``
    output; anything else raises)."""
    payload = bytes(payload)
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG byte stream")
    pos, idat = 8, b""
    w = h = bitdepth = color = None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos:pos + 4])
        tag = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, bitdepth, color, _c, _f, _i = struct.unpack(">IIBBBBB",
                                                              data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if bitdepth != 8 or color != 6:
        raise ValueError("only 8-bit RGBA supported")
    raw = zlib.decompress(idat)
    stride = w * 4 + 1
    out = np.empty((h, w, 4), dtype=np.uint8)
    for r in range(h):
        if raw[r * stride] != 0:
            raise ValueError("only filter-0 scanlines supported")
        out[r] = np.frombuffer(raw[r * stride + 1:(r + 1) * stride],
                               dtype=np.uint8).reshape(w, 4)
    return out.astype(np.int64)


ITERATE_LOG = "geotrellis_contrib_spark.plans.iterate"


def sync_probes(caplog, op):
    """The probe values of operator ``op``'s syncs, in order, from the
    per-sync records of ``plans.iterate.fixpoint`` (the test must first
    run ``caplog.set_level(logging.INFO, logger=ITERATE_LOG)``)."""
    return [r.probe for r in caplog.records if getattr(r, "op", None) == op]


def assemble_window(rows, bounds) -> np.ndarray:
    """Stitch ``pixels.read_window`` output rows (one source+band) into a
    single array over ``bounds`` (NaN where no tile)."""
    from geotrellis_contrib_spark.operators.pixels import DTYPES

    cmin, rmin, cmax, rmax = bounds
    out = np.full((rmax - rmin + 1, cmax - cmin + 1), np.nan)
    for r in rows:
        dtype = r.asDict()["dtype"]  # Row attribute access would hit Row.dtype
        arr = np.frombuffer(r.px, dtype=DTYPES[dtype]).reshape(r.h, r.w)
        out[r.px_row_min - rmin: r.px_row_min - rmin + r.h,
            r.px_col_min - cmin: r.px_col_min - cmin + r.w] = arr
    return out


def assemble_target(rows, target) -> np.ndarray:
    """Overlay ``pixels.reproject_to_grid`` output rows (one source+band)
    onto the full target grid: NaN where no tile owned the pixel; later
    rows never overwrite earlier non-NaN values (the outputs partition the
    grid, so order is irrelevant)."""
    from geotrellis_contrib_spark.operators.pixels import DTYPES

    out = np.full((target.rows, target.cols), np.nan)
    for r in rows:
        dtype = r.asDict()["dtype"]
        win = np.frombuffer(r.px, dtype=DTYPES[dtype]).reshape(r.h, r.w)
        view = out[r.px_row_min: r.px_row_min + r.h,
                   r.px_col_min: r.px_col_min + r.w]
        m = ~np.isnan(win)
        view[m] = win[m]
    return out


def replay_tiles(rows, kernel, ddl: str):
    """``pixels.map_tiles`` without Spark: ``rows`` (dicts whose ``px``, if
    any, is an array) as ONE pandas batch through the driver's own batch
    body, ``pixels.tile_batch``, with the output columns of the flat DDL."""
    import pandas as pd

    from geotrellis_contrib_spark.operators import pixels as px

    pdf = pd.DataFrame([{**r, "dtype": r["px"].dtype.name, "px": px.pack(r["px"])}
                        if "px" in r else r for r in rows])
    return px.tile_batch(pdf, kernel, [f.split()[0] for f in ddl.split(",")])


def replay_stacks(rows, keys, kernel, ddl: str):
    """``pixels.stack_tiles`` without Spark: ``rows`` (dicts whose ``px`` is
    an array) grouped on ``keys`` in pandas, each group through the
    driver's own group body, ``pixels.stack_group``, with the output
    columns of the flat DDL."""
    import pandas as pd

    from geotrellis_contrib_spark.operators import pixels as px

    keys = list(keys)
    names = [f.split()[0] for f in ddl.split(",")]
    pdf = pd.DataFrame([{**r, "dtype": r["px"].dtype.name, "px": px.pack(r["px"])}
                        for r in rows])
    parts = [px.stack_group(g if isinstance(g, tuple) else (g,), grp, kernel, keys, names)
             for g, grp in pdf.groupby(keys, sort=True)]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=names)


def replay_scenes(rows, t: int, max_px: int, kernel, ddl: str):
    """``focal.scene_tiles`` without Spark: ``rows`` (dicts whose ``px`` is
    an array) grouped on (source_id, band) in pandas, each group through
    the driver's own group body, ``focal.scene_group``, with the output
    columns of the flat DDL."""
    import pandas as pd

    from geotrellis_contrib_spark.operators import focal as fo
    from geotrellis_contrib_spark.operators import pixels as px

    names = [f.split()[0] for f in ddl.split(",")]
    pdf = pd.DataFrame([{**r, "dtype": r["px"].dtype.name, "px": px.pack(r["px"])}
                        for r in rows])
    parts = [fo.scene_group(grp, t, max_px, kernel, names)
             for _, grp in pdf.groupby(["source_id", "band"], sort=True)]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=names)
