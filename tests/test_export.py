"""Export adapters (S8/S9/C10): dense assembly, latitude flip, filename
scheme, payload round-trip; melt step."""

from __future__ import annotations

import datetime as dt
import io

import numpy as np
import pytest
from pyspark.sql import functions as F

from oco3_data_transformer_spark.schemas import STORE_SLICE
from oco3_data_transformer_spark.sinks import export

DAY = dt.datetime(2024, 3, 1)


def test_export_dense_payload_and_latitude_flip(spark):
    # 3x4 mesh, only 3 cells present (mask survivors)
    rows = [
        ("oco3", "t1", "post", DAY, 0, 0, "xco2", 1.0),   # bottom-left
        ("oco3", "t1", "post", DAY, 2, 3, "xco2", 2.0),   # top-right
        ("oco3", "t1", "post", DAY, 1, 1, "xco2", 3.0),
    ]
    df = spark.createDataFrame(rows, STORE_SLICE)
    out = export.export_slices(df, lat_res=3, lon_res=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r.filename == "oco3_t1_20240301T000000Z_post_xco2.npy"
    assert (r.height, r.width, r.n_valid) == (3, 4, 3)
    arr = np.load(io.BytesIO(r.payload))
    assert arr.shape == (3, 4)
    # latitude DESCENDING: lat_idx=2 (top) is row 0 after the flip
    assert arr[0, 3] == 2.0
    assert arr[2, 0] == 1.0
    assert arr[1, 1] == 3.0
    assert np.isnan(arr).sum() == 9


def test_export_one_row_per_slice(spark):
    rows = [
        ("oco3", "t1", "pre", DAY, 0, 0, "xco2", 1.0),
        ("oco3", "t1", "post", DAY, 0, 0, "xco2", 1.0),
        ("oco3", "t2", "pre", DAY, 0, 0, "xco2", 1.0),
        ("oco3", "t1", "pre", DAY, 0, 0, "xco2_uncertainty", 0.1),
    ]
    df = spark.createDataFrame(rows, STORE_SLICE)
    out = export.export_slices(df, lat_res=2, lon_res=2)
    assert out.count() == 4


def test_export_per_target_bounds(spark):
    """Each slice is georeferenced with ITS target's bbox (half-pixel-
    expanded edge bounds), not a hardcoded global extent; targets without a
    bbox row fall back to the global mesh bbox."""
    rows = [
        ("oco3", "t1", "post", DAY, 0, 0, "xco2", 1.0),
        ("oco3", "nobox", "post", DAY, 0, 0, "xco2", 2.0),
    ]
    df = spark.createDataFrame(rows, STORE_SLICE)
    bboxes = spark.createDataFrame(
        [("t1", 10.0, 40.0, 12.0, 41.0)],
        "target_id string, min_lon double, min_lat double, "
        "max_lon double, max_lat double",
    )
    out = {
        r.target_id: r
        for r in export.export_slices(
            df, lat_res=3, lon_res=5, target_bboxes=bboxes
        ).collect()
    }
    # t1: centers span lon 10..12 over 5 cells (rx=0.25), lat 40..41 over
    # 3 cells (ry=0.25) -> edges expand half a pixel each side
    t1 = out["t1"]
    assert (t1.min_lon, t1.min_lat, t1.max_lon, t1.max_lat) == (
        9.75, 39.75, 12.25, 41.25
    )
    # unmatched target: global cell-center bbox expanded by half a pixel
    nb = out["nobox"]
    assert nb.min_lon == pytest.approx(-180.0 - 360.0 / (2 * 4))
    assert nb.max_lat == pytest.approx(90.0 + 180.0 / (2 * 2))


def test_melt_values(spark):
    df = spark.createDataFrame(
        [{"k": 1, "xco2": 400.0, "unc": 0.5}]
    )
    out = export.melt_values(df, ["xco2", "unc"], ["k"]).collect()
    got = {(r.variable, r.value) for r in out}
    assert got == {("xco2", 400.0), ("unc", 0.5)}
