"""Goldens for the gridding kernel (G1) and the container codecs, plus
library differentials that skip cleanly while scipy, rasterio or
xarray+h5netcdf are absent and check our own numpy code against them the
moment they appear — no code change needed.

The linear/cubic goldens use a planar field v = 2 + 3·lon − lat: a
piecewise-linear or Clough-Tocher interpolant reproduces a plane exactly
regardless of the Delaunay triangulation it picks, so the expected values
are analytic, not snapshots of one library version.
"""

from __future__ import annotations

import io

import numpy as np
import pytest

from oco3_data_transformer_spark.operators import grid as G


def _planar_cloud():
    rng = np.random.default_rng(11)
    lon = rng.uniform(0, 10, 40)
    lat = rng.uniform(0, 10, 40)
    # ensure the mesh corners sit inside the hull so nothing is NaN-masked
    lon = np.concatenate([lon, [0, 10, 0, 10]])
    lat = np.concatenate([lat, [0, 0, 10, 10]])
    v = 2.0 + 3.0 * lon - lat
    return lon, lat, v


@pytest.mark.parametrize("method", ["linear", "cubic"])
def test_gridding_reproduces_plane(method):
    # both run on the numpy Delaunay kernels (operators/interp.py)
    lon, lat, v = _planar_cloud()
    mesh_lon, mesh_lat = G.make_mesh(0.0, 0.0, 10.0, 10.0, 9, 7)
    out = G.grid_points(lon, lat, v, mesh_lon, mesh_lat, method=method)
    glon, glat = np.meshgrid(mesh_lon.astype(np.float64), mesh_lat.astype(np.float64))
    expect = 2.0 + 3.0 * glon - glat
    assert out.shape == (7, 9)
    assert np.allclose(out, expect, atol=1e-6), f"{method} deviates from plane"


def test_cubic_matches_scipy_clough_tocher_nonaffine():
    """Direct differential (activates when scipy appears): the numpy
    reduced-CT element with Nielson gradients vs
    scipy.interpolate.CloughTocher2DInterpolator on a NON-affine field.
    Since round 9 the element uses scipy's exact interpnd formulas
    (Powell's affine-invariant g=-1/2 reduction — NOT the
    edge-perpendicular one, which ADVICE r8 proved diverges from scipy
    on non-affine data), so values must agree to gradient-iteration
    tolerance; in general position the Delaunay triangulation is
    unique, so the patches live on the same triangles."""
    scipy_interp = pytest.importorskip("scipy.interpolate")
    from oco3_data_transformer_spark.operators import interp as I

    rng = np.random.default_rng(42)
    pts = rng.uniform(0, 4, size=(60, 2))
    v = np.sin(pts[:, 0]) * np.cos(0.7 * pts[:, 1]) + 0.1 * pts[:, 0] ** 2
    q = rng.uniform(0.5, 3.5, size=(400, 2))
    want = scipy_interp.CloughTocher2DInterpolator(pts, v)(q)
    got = I.cubic_interpolate(pts, v, q[:, 0], q[:, 1])
    assert np.isfinite(want).all() and np.isfinite(got).all()
    np.testing.assert_allclose(got, want, atol=1e-4, rtol=1e-4)


def test_gridding_nan_outside_hull():
    # points confined to the lower-left quadrant; far corner is outside hull
    lon = np.array([0.0, 4.0, 0.0, 4.0, 2.0])
    lat = np.array([0.0, 0.0, 4.0, 4.0, 2.0])
    v = np.ones(5)
    mesh_lon, mesh_lat = G.make_mesh(0.0, 0.0, 10.0, 10.0, 6, 6)
    out = G.grid_points(lon, lat, v, mesh_lon, mesh_lat, method="linear")
    assert np.isnan(out[-1, -1])  # (10, 10) outside convex hull -> NaN fill
    assert out[0, 0] == pytest.approx(1.0)


def test_linear_falls_back_to_nearest_below_min_points():
    # G3 semantics are library-independent: < 4 points -> nearest, even with
    # scipy present (ref processors/OCO3SamProcessor.py:153-159)
    lon = np.array([0.0, 10.0, 0.0])
    lat = np.array([0.0, 0.0, 10.0])
    v = np.array([1.0, 2.0, 3.0])
    mesh_lon, mesh_lat = G.make_mesh(0.0, 0.0, 10.0, 10.0, 3, 3)
    out = G.grid_points(lon, lat, v, mesh_lon, mesh_lat, method="linear")
    assert not np.isnan(out).any()  # nearest never NaNs inside the bbox
    assert out[0, 0] == 1.0 and out[0, 2] == 2.0 and out[2, 0] == 3.0


def test_geotiff_encode_golden():
    """Differential (activates when rasterio appears): GDAL reads our
    pure-numpy GeoTIFF writer's bytes."""
    rasterio = pytest.importorskip("rasterio")
    from oco3_data_transformer_spark.sinks.containers import write_geotiff

    arr = np.arange(12, dtype=np.float64).reshape(3, 4)
    arr[1, 2] = np.nan
    payload = write_geotiff(arr, bounds=(0.0, 0.0, 4.0, 3.0))
    with rasterio.io.MemoryFile(payload) as mem, mem.open() as ds:
        assert ds.crs.to_string() == "EPSG:4326"
        back = ds.read(1)
        assert back.shape == (3, 4)
        assert back[0, 0] == 0.0 and np.isnan(back[1, 2])
        # row 0 is the TOP of the bbox (caller pre-flipped latitude)
        assert ds.transform * (0, 0) == (0.0, 3.0)


def test_netcdf_decode_golden(tmp_path):
    xr = pytest.importorskip("xarray")
    pytest.importorskip("h5netcdf")
    from oco3_data_transformer_spark.sources.granules import decode_netcdf

    n = 5
    ds = xr.Dataset(
        {
            "xco2": ("sounding", np.array([400.0, -999999.0, 402.0, 403.0, 404.0])),
            "sounding_idx": ("sounding", np.arange(n, dtype=np.int64)),
            "vertex_latitude": (
                ("sounding", "vertices"),
                np.arange(n * 4, dtype=np.float32).reshape(n, 4),
            ),
            "ignored_var": ("sounding", np.zeros(n)),
        }
    )
    ds["xco2"].encoding["_FillValue"] = -999999.0
    f = tmp_path / "g.nc4"
    ds.to_netcdf(f, engine="h5netcdf")

    out = decode_netcdf(
        f.read_bytes(), ["xco2", "sounding_idx", "vertex_latitude"]
    )
    # projection pushdown: unselected variables never materialize
    assert set(out.columns) == {"xco2", "sounding_idx", "vertex_latitude"}
    # mask_and_scale: fill value -> NaN
    assert np.isnan(out["xco2"].iloc[1]) and out["xco2"].iloc[0] == 400.0
    # 2-D vertex corners arrive as per-row arrays
    assert list(out["vertex_latitude"].iloc[2]) == [8.0, 9.0, 10.0, 11.0]


def test_hdf5lite_reads_real_h5netcdf_files(tmp_path):
    """Differential activation golden: the pure-numpy HDF5 subset reader
    (sources/hdf5lite.py) against a file written by the REAL library the
    reference uses. Round-trip + spec goldens (tests/test_hdf5lite.py)
    cover the codec wheel-free; this pins it to libhdf5's actual output
    the moment the wheel appears."""
    xr = pytest.importorskip("xarray")
    pytest.importorskip("h5netcdf")
    from oco3_data_transformer_spark.sources import hdf5lite as H

    n = 7
    vals = np.array([400.0, -999999.0, 402.0, 403.0, 404.0, 405.0, 406.0])
    ds = xr.Dataset(
        {
            "xco2": ("sounding", vals),
            "sounding_idx": ("sounding", np.arange(n, dtype=np.int64)),
        }
    )
    f = tmp_path / "g.nc4"
    # netCDF4 default settings (superblock v0, old-style group); also try
    # the compressed shape (chunked + shuffle + deflate)
    ds.to_netcdf(f, engine="h5netcdf")
    arrays, _ = H.read_hdf5(f.read_bytes(), ["xco2", "sounding_idx"])
    np.testing.assert_array_equal(arrays["xco2"], vals)
    np.testing.assert_array_equal(arrays["sounding_idx"], np.arange(n))
    ds.to_netcdf(
        f, engine="h5netcdf",
        encoding={"xco2": {"zlib": True, "shuffle": True, "chunksizes": (3,)}},
    )
    arrays, _ = H.read_hdf5(f.read_bytes(), ["xco2"])
    np.testing.assert_array_equal(arrays["xco2"], vals)
