"""Gridding kernel (G1-G3) golden tests: the numpy 'nearest' gridder vs a
naive per-cell argmin, fallback semantics, and the Spark grouped-map operator
end-to-end (ref processors/OCO3SamProcessor.py:66-214, fallback :153-159)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oco3_data_transformer_spark.operators import grid as G


def test_make_mesh_endpoint_inclusive_float32():
    lons, lats = G.make_mesh(-1.0, 10.0, 1.0, 12.0, 5, 3)
    np.testing.assert_allclose(lons, np.linspace(-1, 1, 5, dtype=np.float32))
    np.testing.assert_allclose(lats, np.linspace(10, 12, 3, dtype=np.float32))
    assert lons.dtype == np.float32


def test_nearest_matches_naive():
    rng = np.random.default_rng(11)
    plon = rng.uniform(-5, 5, 40)
    plat = rng.uniform(-5, 5, 40)
    vals = rng.normal(size=40)
    mlon, mlat = G.make_mesh(-5, -5, 5, 5, 13, 9)
    got = G.nearest_gridder(plon, plat, vals, mlon, mlat)
    for yi, y in enumerate(mlat.astype(np.float64)):
        for xi, x in enumerate(mlon.astype(np.float64)):
            d2 = (plon - x) ** 2 + (plat - y) ** 2
            assert got[yi, xi] == vals[np.argmin(d2)]


def test_nan_values_excluded():
    plon = np.array([0.0, 1.0])
    plat = np.array([0.0, 0.0])
    vals = np.array([np.nan, 7.0])
    mlon, mlat = G.make_mesh(0, 0, 1, 0.0, 2, 1)
    got = G.grid_points(plon, plat, vals, mlon, mlat, "nearest")
    assert (got == 7.0).all()  # NaN point never wins


def test_all_nan_region_yields_nan_grid():
    got = G.grid_points(
        np.array([0.0]), np.array([0.0]), np.array([np.nan]),
        np.linspace(0, 1, 4), np.linspace(0, 1, 4), "nearest",
    )
    assert np.isnan(got).all()


def test_linear_fallback_below_min_points():
    # 3 points < MIN_POINTS_FOR_LINEAR -> 'nearest' result regardless of scipy
    plon = np.array([0.0, 1.0, 0.0])
    plat = np.array([0.0, 0.0, 1.0])
    vals = np.array([1.0, 2.0, 3.0])
    mlon, mlat = G.make_mesh(0, 0, 1, 1, 3, 3)
    got = G.grid_points(plon, plat, vals, mlon, mlat, "linear")
    expect = G.nearest_gridder(plon, plat, vals, mlon, mlat)
    np.testing.assert_array_equal(got, expect)


def test_cubic_without_scipy_runs_bezier_fallback():
    # 'cubic' runs the numpy Clough-Tocher kernel (no scipy needed), which
    # must reproduce an affine field exactly, like every method
    plon = np.array([0.0, 2.0, 0.0, 2.0, 1.0])
    plat = np.array([0.0, 0.0, 2.0, 2.0, 1.0])
    vals = 1.0 + 2.0 * plon - 3.0 * plat
    mlon, mlat = G.make_mesh(0, 0, 2, 2, 3, 3)
    got = G.grid_points(plon, plat, vals, mlon, mlat, "cubic")
    glon, glat = np.meshgrid(mlon.astype(np.float64), mlat.astype(np.float64))
    np.testing.assert_allclose(got, 1.0 + 2.0 * glon - 3.0 * glat, atol=1e-6)


def test_linear_executes_without_scipy():
    # collinear-free 2-D cloud with affine values: the piecewise-linear
    # interpolant must reproduce the plane exactly inside the hull
    rng = np.random.default_rng(7)
    plon = rng.uniform(0, 4, 40)
    plat = rng.uniform(0, 4, 40)
    vals = 2.0 + 3.0 * plon - 0.5 * plat
    mlon, mlat = G.make_mesh(1, 1, 3, 3, 5, 5)  # interior mesh: inside hull
    got = G.grid_points(plon, plat, vals, mlon, mlat, "linear")
    glon, glat = np.meshgrid(mlon.astype(np.float64), mlat.astype(np.float64))
    np.testing.assert_allclose(got, 2.0 + 3.0 * glon - 0.5 * glat, atol=1e-9)


def test_linear_nan_outside_hull():
    # points confined to [0,1]^2; mesh extends to 3 -> outside cells NaN
    plon = np.array([0.0, 1.0, 0.0, 1.0, 0.5])
    plat = np.array([0.0, 0.0, 1.0, 1.0, 0.5])
    vals = np.ones(5)
    mlon, mlat = G.make_mesh(0, 0, 3, 3, 7, 7)
    got = G.grid_points(plon, plat, vals, mlon, mlat, "linear")
    glon, glat = np.meshgrid(mlon.astype(np.float64), mlat.astype(np.float64))
    outside = (glon > 1.0 + 1e-9) | (glat > 1.0 + 1e-9)
    assert np.isnan(got[outside]).all()
    assert np.allclose(got[~outside], 1.0)


def test_grid_regions_spark_operator(spark):
    rows = []
    for region, (lo, hi, v) in {"r1": (0.0, 1.0, 5.0), "r2": (10.0, 11.0, 9.0)}.items():
        for i in range(6):
            rows.append(
                {
                    "region": region,
                    "longitude": lo + (hi - lo) * i / 5.0,
                    "latitude": lo + (hi - lo) * i / 5.0,
                    "xco2": v + i,
                    "min_lon": lo, "min_lat": lo, "max_lon": hi, "max_lat": hi,
                }
            )
    df = spark.createDataFrame(rows)
    out = G.grid_regions(
        df, ["region", "min_lon", "min_lat", "max_lon", "max_lat"], ["xco2"],
        lon_res=4, lat_res=4, method="nearest",
        bbox_cols=("min_lon", "min_lat", "max_lon", "max_lat"),
    )
    pdf = out.toPandas()
    assert len(pdf) == 2 * 4 * 4  # one full mesh per region
    r1 = pdf[pdf.region == "r1"]
    # corner cell (0,0) is nearest to the first point -> value 5.0
    corner = r1[(r1.lat_idx == 0) & (r1.lon_idx == 0)].xco2.iloc[0]
    assert corner == 5.0
    top = r1[(r1.lat_idx == 3) & (r1.lon_idx == 3)].xco2.iloc[0]
    assert top == 10.0
    # per-region meshes span their own bbox
    assert r1.lon.min() == pytest.approx(0.0) and r1.lon.max() == pytest.approx(1.0)


def test_grid_regions_first_writer_wins(spark):
    """``winner_cols`` stamps each kept cell with the first-ranked footprint
    that hits it. Regions 10 and 2 share a cell: 2 wins (numeric order; the
    string order would pick '10'). The ringless region-1 row sits on the
    same cell but is never a footprint. Cells no footprint hits are
    dropped. The mesh is the global one (no ``bbox_cols``): 10° cells."""

    def row(rid, target, lon, lat, xco2, ring=True):
        sq = ([lon - 2, lon + 2, lon + 2, lon - 2], [lat - 2, lat - 2, lat + 2, lat + 2])
        return ("d", "g1", 4, rid, target, lon, lat, xco2, *(sq if ring else (None, None)))

    df = spark.createDataFrame(
        [row(10, "ten", 20.0, 10.0, 1.0), row(2, "two", 20.0, 10.0, 2.0),
         row(1, "ringless", 20.0, 10.0, 3.0, ring=False), row(5, "five", -60.0, 30.0, 4.0)],
        "day string, granule string, mode int, region_id long, target_id string, "
        "longitude double, latitude double, xco2 double, "
        "vertex_longitude array<float>, vertex_latitude array<float>",
    )
    out = G.grid_regions(
        df, ["day"], ["xco2"], lon_res=37, lat_res=19, mask_keys=["day"],
        winner_cols=["granule", "mode", "region_id", "target_id"],
    )
    assert out.columns[-4:] == ["granule", "mode", "region_id", "target_id"]
    got = {(r.lat_idx, r.lon_idx): (r.lon, r.lat, r.region_id, r.target_id, r.mode)
           for r in out.collect()}
    assert got == {
        (10, 20): (20.0, 10.0, 2, "two", 4),
        (12, 12): (-60.0, 30.0, 5, "five", 4),
    }
    assert out.filter(F.col("region_id") == 5).first().xco2 == 4.0


def test_grid_regions_multivar_shared_triangulation_matches_per_column(spark):
    """The multi-variable linear fast path (one triangulation per finite-
    mask group) must be bit-identical to gridding each column alone."""
    rng = np.random.default_rng(31)
    n = 60
    rows = []
    for i in range(n):
        rows.append((
            "r1",
            float(rng.uniform(0, 10)), float(rng.uniform(0, 10)),
            float(rng.normal()),            # v1: no NaNs
            float("nan") if i % 7 == 0 else float(rng.normal()),  # v2
        ))
    df = spark.createDataFrame(
        rows, "region string, longitude double, latitude double, v1 double, v2 double"
    )
    both = G.grid_regions(
        df, ["region"], ["v1", "v2"], lon_res=6, lat_res=6, method="linear"
    ).toPandas().sort_values(["lat_idx", "lon_idx"]).reset_index(drop=True)
    singles = {}
    for c in ("v1", "v2"):
        singles[c] = G.grid_regions(
            df, ["region"], [c], lon_res=6, lat_res=6, method="linear"
        ).toPandas().sort_values(["lat_idx", "lon_idx"]).reset_index(drop=True)
    for c in ("v1", "v2"):
        np.testing.assert_array_equal(
            both[c].to_numpy(), singles[c][c].to_numpy()
        )
