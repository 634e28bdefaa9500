"""Granule sources (S1/S2/S4, SURVEY.md §2.1): NetCDF-like mission granule
files → sounding DataFrames.

The reference opens each granule with h5netcdf, projects the configured
variable groups, eagerly loads them, and normalizes fill values to NaN
(ref readers/GranuleReader.py:45-155); S3 objects are fetched with MD5 +
content-length verification (ref :157-236); batch inputs arrive as
validated YAML file lists (ref runconfig.py:106-114, main.py:102-123).

Spark-first design:
  - file listing is a ``binaryFile`` scan (or a work-item DataFrame for
    pre-signed paths): Spark distributes the *files*, one decode task per
    granule — the analog of the reference's granule thread pool, minus the
    pool (S2's integrity/download concerns are the s3a committer's job).
  - decode is ``mapInPandas`` with a pluggable per-format decoder; column
    projection (F1) is passed INTO the decoder so only requested variables
    are materialized (the reference's projection pushdown,
    ref readers/GranuleReader.py:115-117).
  - the NetCDF decoder is wheel-free end-to-end: classic CDF-1/CDF-2/CDF-5
    through sinks/containers.py, NetCDF4/HDF5 through the pure-numpy
    subset reader in sources/hdf5lite.py, whatever libraries are
    importable; the 'npz' decoder (numpy archives, one array per
    variable — structurally a NetCDF group) remains the harness workhorse.
"""

from __future__ import annotations

import io
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FILL_VALUE_DEFAULT = -999999.0  # normalized to NaN on decode (ref GranuleReader _FillValue)


def decode_npz(payload: bytes, variables: list[str] | None) -> pd.DataFrame:
    """Decode a .npz granule: each entry is a 1-D array column over the
    sounding dimension (2-D entries become array columns, e.g. vertex
    corners). Float fill values are normalized to NaN
    (ref readers/GranuleReader.py:151-153 mask_and_scale)."""
    with np.load(io.BytesIO(payload)) as z:
        names = [n for n in z.files if variables is None or n in variables]
        cols = {}
        for n in names:
            arr = z[n]
            if arr.dtype.kind == "f":
                arr = np.where(arr == FILL_VALUE_DEFAULT, np.nan, arr)
            if arr.ndim == 1:
                cols[n] = arr
            elif arr.ndim == 2:
                cols[n] = list(arr)
            else:
                raise ValueError(f"variable {n}: ndim {arr.ndim} unsupported")
    return pd.DataFrame(cols)


def decode_netcdf(
    payload: bytes, variables: list[str] | None, group: str | None = None
) -> pd.DataFrame:
    """NetCDF granule decode (ref readers/GranuleReader.py:45-155: open →
    project variables → mask_and_scale fill→NaN). NetCDF *classic*
    (CDF-1/CDF-2/CDF-5, magic ``CDF\\x0{1,2,5}``) decodes wheel-free through the
    pure-numpy reader in sinks/containers.py; NetCDF4/HDF5 files go
    through the pure-numpy HDF5 subset reader (sources/hdf5lite.py —
    superblock v0, old-style root group, numeric datasets, contiguous or
    chunked+shuffle+deflate: the standard netCDF4 on-disk shape).
    ``_FillValue``/``scale_factor``/``add_offset`` attributes are applied,
    the reference's mask_and_scale behavior."""
    if payload[:3] == b"CDF" and payload[3] in (1, 2, 5):
        from ..sinks.containers import read_netcdf3

        data = read_netcdf3(payload)
        cols = {}
        for n, v in data.items():
            if n == "_dims" or (variables is not None and n not in variables):
                continue
            v = v.astype(np.float64)  # native-endian for Arrow
            cols[n] = v if v.ndim == 1 else list(v)
        return pd.DataFrame(cols)
    from . import hdf5lite

    arrays, attrs = hdf5lite.read_hdf5(payload, variables)
    if group is not None:  # netCDF variable-group selection (ref :115)
        pre = group.strip("/") + "/"
        arrays = {
            k[len(pre):]: v for k, v in arrays.items() if k.startswith(pre)
        }
        attrs = {
            k[len(pre):]: v for k, v in attrs.items() if k.startswith(pre)
        }
    else:  # flatten: leaf names, root-level winning on collision
        arrays = {k.rsplit("/", 1)[-1]: v for k, v in sorted(
            arrays.items(), key=lambda kv: kv[0].count("/"), reverse=True
        )}
        attrs = {k.rsplit("/", 1)[-1]: v for k, v in sorted(
            attrs.items(), key=lambda kv: kv[0].count("/"), reverse=True
        )}
    cols = {}
    for n, arr in arrays.items():
        # full mask_and_scale, as xarray applies it (CF packed
        # data: unpacked = packed * scale_factor + add_offset, fill
        # masked on the PACKED value first).  Integer variables are
        # promoted to float64 whenever any of these attrs is present
        # — the common satellite int16+scale_factor encoding must not
        # silently decode to raw packed integers on this path.
        a_at = attrs.get(n, {})
        fv = a_at.get("_FillValue")
        sf = a_at.get("scale_factor")
        ao = a_at.get("add_offset")
        packed = (fv is not None) or (sf is not None) or (ao is not None)
        if arr.dtype.kind == "f" or packed:
            raw = arr
            arr = arr.astype(np.float64, copy=True)
            if fv is not None:
                fill = float(np.asarray(fv).ravel()[0])
                arr = np.where(arr == fill, np.nan, arr)
            elif raw.dtype.kind == "f":
                # floats with no explicit fill: the conventional
                # default fill still masks (xarray behavior)
                arr = np.where(arr == FILL_VALUE_DEFAULT, np.nan, arr)
            if sf is not None or ao is not None:
                scale = float(np.asarray(sf).ravel()[0]) if sf is not None else 1.0
                offset = float(np.asarray(ao).ravel()[0]) if ao is not None else 0.0
                arr = arr * scale + offset
        cols[n] = arr if arr.ndim == 1 else list(arr)
    return pd.DataFrame(cols)


DECODERS: dict[str, Callable[[bytes, list[str] | None], pd.DataFrame]] = {
    "npz": decode_npz,
    "nc4": decode_netcdf,
}


def read_granules(
    spark: SparkSession,
    path_glob: str | list[str],
    schema: T.StructType,
    fmt: str = "npz",
    variables: list[str] | None = None,
) -> DataFrame:
    """S1: distributed granule scan → sounding rows.

    ``schema`` is the projected output schema (must include ``granule``,
    the source-file identity column the segmentation partitions on).
    ``variables`` defaults to the schema's columns — the F1 projection
    pushdown: the decoder never materializes unselected variables.

    Scale: one file = one Arrow batch stream; `binaryFile` splits the
    *listing* across executors, decode is embarrassingly parallel, and no
    shuffle happens until the first keyed operator downstream.
    """
    decoder = DECODERS[fmt]
    out_cols = [f.name for f in schema.fields]
    wanted = variables or [c for c in out_cols if c != "granule"]

    paths = [path_glob] if isinstance(path_glob, str) else list(path_glob)
    files = spark.read.format("binaryFile").load(paths).select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                cols = decoder(row.content, wanted)
                cols["granule"] = row.path.rsplit("/", 1)[-1]
                missing = [c for c in out_cols if c not in cols.columns]
                for c in missing:
                    cols[c] = None
                yield cols[out_cols]

    return files.mapInPandas(run, schema)


def file_list_input(spark: SparkSession, entries: list[dict]) -> DataFrame:
    """S4: validated batch file-list input → work-item DataFrame
    (ref runconfig.py:106-114; schema check main.py:102-123). Each entry:
    ``{path, mission[, day]}``; bad entries raise ValueError (the
    reference's reject path)."""
    for e in entries:
        if not isinstance(e.get("path"), str) or not isinstance(e.get("mission"), str):
            raise ValueError(f"invalid file-list entry: {e!r}")
    rows = [(e["path"], e["mission"], e.get("day")) for e in entries]
    return spark.createDataFrame(rows, "path string, mission string, day string")
