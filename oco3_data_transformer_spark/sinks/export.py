"""Dense-raster export adapters (S8/S9 + C10): long-format store rows →
per-slice dense 2-D arrays, serialized per (mission, target, qf, time,
variable) slice.

The reference writes CoG GeoTIFF per slice with latitude flipped descending
and names ``{mission}_{target}_{ts}_{filtered}_{var}.tif``
(ref writers/CoGWriter.py:42-248, flip :153-161) and zlib-9 NetCDF
(ref writers/NetCDFWriter.py:26-61) through rioxarray/xarray. Here the
container bytes come from the pure-numpy format writers in
sinks/containers.py (tiled deflate GeoTIFF with COG layout, NetCDF classic,
zlib NetCDF4), whatever libraries are importable; the default ``'npy'``
encoder serializes the dense array as a portable ``.npy`` byte payload.

Spark-side plumbing: one ``applyInPandas`` group per slice, densification
from sparse long rows with NaN fill, deterministic latitude-descending row
order, output as a binary column the caller sinks wherever (object store
via foreachPartition, a BLOB table, a manifest parquet).
"""

from __future__ import annotations

import io

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .containers import write_geotiff, write_netcdf3, write_netcdf4

SLICE_COLS = ["mission", "target_id", "qf", "time", "variable"]

# mesh bbox of the global grid — CELL-CENTER extents (ref utils/XI.py:86-87)
GLOBAL_BBOX = (-180.0, -90.0, 180.0, 90.0)

EXPORT_SCHEMA = T.StructType(
    [
        T.StructField("mission", T.StringType()),
        T.StructField("target_id", T.StringType()),
        T.StructField("qf", T.StringType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("variable", T.StringType()),
        T.StructField("filename", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("n_valid", T.LongType()),
        # georeference EDGE bounds of the raster (half a pixel beyond the
        # cell-center mesh extents, the rioxarray convention — ref
        # writers/CoGWriter.py:172 data.rio.to_raster derives the transform
        # from the slice's own lat/lon coords, NOT a global constant)
        T.StructField("min_lon", T.DoubleType()),
        T.StructField("min_lat", T.DoubleType()),
        T.StructField("max_lon", T.DoubleType()),
        T.StructField("max_lat", T.DoubleType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _npy_bytes(arr: np.ndarray) -> bytes:
    buf = io.BytesIO()
    np.save(buf, arr, allow_pickle=False)
    return buf.getvalue()


_SLICE_ENCODERS = {
    "npy": (lambda arr, bounds: _npy_bytes(arr), ".npy"),
    "geotiff": (write_geotiff, ".tif"),
    "netcdf": (lambda arr, bounds: write_netcdf3(arr, bounds=bounds), ".nc"),
    "netcdf4": (lambda arr, bounds: write_netcdf4(arr, bounds=bounds), ".nc"),
}


def export_slices(
    store_rows: DataFrame,
    lat_res: int,
    lon_res: int,
    fmt: str = "npy",
    target_bboxes: DataFrame | None = None,
    global_bbox: tuple[float, float, float, float] = GLOBAL_BBOX,
) -> DataFrame:
    """Assemble every (mission, target, qf, time, variable) slice into a
    dense (lat_res, lon_res) float64 array — NaN where the mask dropped the
    cell — with rows ordered latitude-DESCENDING (C10, ref
    writers/CoGWriter.py:153-161), and emit filename + georeference bounds +
    binary payload.

    ``target_bboxes``: optional (target_id, min_lon, min_lat, max_lon,
    max_lat) dim frame — the same J1 target table the gridding step used —
    broadcast onto the slices so each raster is georeferenced with ITS grid's
    extent, not a global constant (the reference derives the transform from
    the dataset's own lat/lon coords, ref writers/CoGWriter.py:172). Slices
    without a bbox row fall back to ``global_bbox``. Bboxes are CELL-CENTER
    mesh extents (operators.grid.make_mesh endpoint-inclusive linspace); the
    emitted bounds are the half-pixel-expanded EDGE bounds rioxarray derives
    from center coords.

    One Arrow-batched group per slice; slices are independent, so export
    parallelism is the number of slices. ``fmt='npy'`` is the portable
    payload; 'geotiff'/'netcdf'/'netcdf4' emit real container bytes from
    the pure-numpy format writers in sinks/containers.py (tiled deflate
    GeoTIFF with COG layout; NetCDF classic; zlib NetCDF4).
    """
    encoder, ext = _SLICE_ENCODERS[fmt]

    bbox_cols = ["__bb_min_lon", "__bb_min_lat", "__bb_max_lon", "__bb_max_lat"]
    if target_bboxes is not None:
        bb = F.broadcast(
            target_bboxes.select(
                "target_id",
                *[
                    F.col(c).cast("double").alias(a)
                    for c, a in zip(
                        ["min_lon", "min_lat", "max_lon", "max_lat"], bbox_cols
                    )
                ],
            )
        )
        store_rows = store_rows.join(bb, on="target_id", how="left")
    else:
        for c in bbox_cols:
            store_rows = store_rows.withColumn(c, F.lit(None).cast("double"))

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        head = pdf.iloc[0]
        arr = np.full((lat_res, lon_res), np.nan)
        arr[pdf["lat_idx"].to_numpy(), pdf["lon_idx"].to_numpy()] = pdf[
            "value"
        ].to_numpy(dtype=np.float64)
        arr = arr[::-1, :]  # latitude descending (C10)
        ts = pd.Timestamp(head["time"]).strftime("%Y%m%dT%H%M%SZ")
        fname = (
            f"{head['mission']}_{head['target_id']}_{ts}_"
            f"{head['qf']}_{head['variable']}{ext}"
        )
        if pd.notna(head["__bb_min_lon"]):
            c_min_lon, c_min_lat = head["__bb_min_lon"], head["__bb_min_lat"]
            c_max_lon, c_max_lat = head["__bb_max_lon"], head["__bb_max_lat"]
        else:
            c_min_lon, c_min_lat, c_max_lon, c_max_lat = global_bbox
        # cell-center extents -> edge bounds (half-pixel expansion)
        rx = (c_max_lon - c_min_lon) / (2 * max(lon_res - 1, 1))
        ry = (c_max_lat - c_min_lat) / (2 * max(lat_res - 1, 1))
        bounds = (c_min_lon - rx, c_min_lat - ry, c_max_lon + rx, c_max_lat + ry)
        return pd.DataFrame(
            [
                {
                    "mission": head["mission"],
                    "target_id": head["target_id"],
                    "qf": head["qf"],
                    "time": head["time"],
                    "variable": head["variable"],
                    "filename": fname,
                    "height": lat_res,
                    "width": lon_res,
                    "n_valid": int(pdf["value"].notna().sum()),
                    "min_lon": bounds[0],
                    "min_lat": bounds[1],
                    "max_lon": bounds[2],
                    "max_lat": bounds[3],
                    "payload": encoder(arr, bounds),
                }
            ]
        )

    return store_rows.groupBy(*SLICE_COLS).applyInPandas(assemble, EXPORT_SCHEMA)


def melt_values(gridded: DataFrame, value_cols: list[str], id_cols: list[str]) -> DataFrame:
    """Wide gridded rows → long (variable, value) store rows (the stack step
    before export/append)."""
    pairs = F.create_map(
        *[x for c in value_cols for x in (F.lit(c), F.col(c))]
    )
    exploded = gridded.select(*id_cols, F.explode(pairs).alias("variable", "value"))
    return exploded
