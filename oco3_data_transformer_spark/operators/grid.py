"""Gridding / interpolation operators G1-G7 (SURVEY.md §2.5) — the core
transform of the reference pipeline.

The reference interpolates each region's point soundings onto a fixed
lon×lat mesh with ``scipy.interpolate.griddata`` (ref
processors/OCO3SamProcessor.py:66-214: mesh 106-109, interp 161-182), with a
fallback to 'nearest' when a region has < 4 points (ref :153-159).

Spark-first design:
  - the kernel is a grouped map (``repartition`` + ``mapInPandas``) — one
    group per (day, region), Arrow-batched, numpy-vectorized inside. Regions are
    independent, so the operator scales linearly with executors; there is no
    cross-region communication at all.
  - 'nearest' is implemented exactly in numpy (argmin of squared Euclidean
    distance in lon/lat space, matching scipy's KD-tree result up to ties).
  - 'linear' runs a pure-numpy Delaunay + barycentric kernel
    (operators/interp.py) that reproduces scipy.griddata(method='linear')
    semantics; 'cubic' runs the pure-numpy implementation of scipy's
    Clough-Tocher element (Powell's affine-invariant reduction,
    interp.cubic_griddata). There is one code path per method, whatever
    libraries are importable.
  - the footprint mask (G6/J4) runs inside the same kernel, in both
    modes: the rows are partitioned on the mask key ((qf, region) for
    target mode, (qf, day) for global mode), each mask group's footprint
    rings are stacked once, and every grid sub-group's cells are tested
    against them (bbox prefilter + the exact numpy box×polygon predicate,
    operators/geometry.py) — the reference's interpolate-then-mask loop
    (ref :66-307), with no spatial join.
  - first-writer-wins rasterization (G7) rides on the same test: each kept
    cell carries the columns of the first-ranked footprint that hits it,
    with the explicit deterministic region order the reference gets
    implicitly from its Python loop
    (ref processors/OCO3SamGlobalProcessor.py:330-339).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MIN_POINTS_FOR_LINEAR = 4  # ref processors/OCO3SamProcessor.py:153-159

GLOBAL_BBOX = (-180.0, -90.0, 180.0, 90.0)  # ref utils/XI.py:86-87


def make_mesh(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float,
    lon_res: int, lat_res: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Cell-center coordinate vectors of the target mesh (float32), matching
    the reference's ``np.mgrid[min:max:res*1j]`` endpoint-inclusive linspace
    (ref processors/OCO3SamProcessor.py:106-109)."""
    lons = np.linspace(min_lon, max_lon, lon_res, dtype=np.float32)
    lats = np.linspace(min_lat, max_lat, lat_res, dtype=np.float32)
    return lons, lats


def nearest_gridder(
    pts_lon: np.ndarray, pts_lat: np.ndarray, values: np.ndarray,
    mesh_lon: np.ndarray, mesh_lat: np.ndarray,
) -> np.ndarray:
    """Exact 'nearest' interpolation: for every mesh cell the value of the
    Euclidean-nearest point (lon/lat plane). Returns (n_lat, n_lon)."""
    glon, glat = np.meshgrid(mesh_lon.astype(np.float64), mesh_lat.astype(np.float64))
    # (cells, points) squared distance; chunk cells to bound memory
    flat_lon = glon.ravel()
    flat_lat = glat.ravel()
    out = np.empty(flat_lon.shape[0], dtype=np.float64)
    chunk = max(1, 2_000_000 // max(1, len(pts_lon)))
    for s in range(0, len(flat_lon), chunk):
        e = s + chunk
        d2 = (flat_lon[s:e, None] - pts_lon[None, :]) ** 2 + (
            flat_lat[s:e, None] - pts_lat[None, :]
        ) ** 2
        out[s:e] = values[np.argmin(d2, axis=1)]
    return out.reshape(glat.shape)


def grid_points(
    pts_lon: np.ndarray, pts_lat: np.ndarray, values: np.ndarray,
    mesh_lon: np.ndarray, mesh_lat: np.ndarray,
    method: str = "nearest",
) -> np.ndarray:
    """G1 kernel with G3 fallback semantics: linear/cubic need >= 4 points
    else 'nearest' (ref processors/OCO3SamProcessor.py:153-159). NaN fill
    outside the convex hull for linear/cubic (scipy semantics)."""
    good = ~np.isnan(values)
    pts_lon, pts_lat, values = pts_lon[good], pts_lat[good], values[good]
    if len(values) == 0:
        return np.full((len(mesh_lat), len(mesh_lon)), np.nan)
    eff = method
    if method in ("linear", "cubic") and len(values) < MIN_POINTS_FOR_LINEAR:
        eff = "nearest"
    if eff == "cubic":
        from .interp import cubic_griddata

        return cubic_griddata(pts_lon, pts_lat, values, mesh_lon, mesh_lat)
    if eff == "linear":
        from .interp import linear_griddata

        return linear_griddata(pts_lon, pts_lat, values, mesh_lon, mesh_lat)
    return nearest_gridder(pts_lon, pts_lat, values, mesh_lon, mesh_lat)


def grid_regions(
    soundings: DataFrame,
    region_keys: list[str],
    value_cols: list[str],
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    lon_res: int = 40,
    lat_res: int = 40,
    method: str = "nearest",
    bbox_cols: tuple[str, str, str, str] | None = None,
    mask_keys: list[str] | None = None,
    mask_scale: float = 1.0,
    winner_cols: list[str] | None = None,
) -> DataFrame:
    """G1/G2 as a grouped-map operator: one kernel invocation per region,
    emitting long-format grid rows (region keys..., lat_idx, lon_idx,
    lat, lon, <value_col>... interpolated).

    ``bbox_cols``: per-row target bbox columns (min_lon, min_lat, max_lon,
    max_lat) from the J1 broadcast join; when None the global mesh bbox is
    used (G2, ref processors/OCO3SamGlobalProcessor.py:67-205).

    ``mask_keys`` (a subset of ``region_keys``): G6/J4 footprint mask. Only
    the cells whose box intersects at least one footprint of the rows
    sharing their mask key are kept — footprints are the rows'
    ``vertex_longitude``/``vertex_latitude`` rings scaled about their
    centroids by ``mask_scale`` (ref processors/OCO3SamProcessor.py:234-307);
    rows without a ring have none. A cell's box is its mesh step:
    half-sizes (max − min) / (2·max(res − 1, 1)). The bbox prefilter uses
    the unscaled footprint extents, the exact test the scaled rings. A
    region straddling UTC midnight grids as one group per day, each masked
    by the footprints of both days.

    ``winner_cols`` (with ``mask_keys``): G7 first-writer-wins. Each kept
    cell also carries these columns from the first footprint that hits it,
    the footprints ranked by a stable sort on the same columns — typed, so
    a numeric region id orders numerically (2 before 10). The ranking never
    reorders the group's rows, whose order decides the gridder's ties.

    Scale: groups are independent; Spark hashes the partition keys (the
    mask key when masking, else the region keys) into
    ``spark.sql.shuffle.partitions`` partitions — an explicit count, which
    AQE does not coalesce, so the kernel stage runs on every core. Mesh
    size × variables bounds each group's output (lat_res·lon_res rows), so
    task memory is deterministic.

    r10: the fan-out is ``repartition(keys) + mapInPandas`` with an
    in-partition pandas groupby, NOT ``applyInPandas`` — identical group
    row-sets through the identical per-group kernel, but one Arrow
    round-trip per PARTITION instead of one serialized python call per
    group (the q42 pipeline grids 9,022 ~112-row regions at the sf1
    fixture; applyInPandas' per-group overhead was ~1.8 ms × groups =
    the dominant share of its 16 s gridding stage). Batches are
    concatenated per partition before grouping so a group can never
    straddle an Arrow batch boundary.
    """
    key_fields = [soundings.schema[k] for k in region_keys]
    out_schema = T.StructType(
        [*key_fields,
         T.StructField("lat_idx", T.IntegerType()),
         T.StructField("lon_idx", T.IntegerType()),
         T.StructField("lat", T.FloatType()),
         T.StructField("lon", T.FloatType()),
         *[T.StructField(c, T.DoubleType()) for c in value_cols]]
    )
    grid_names = out_schema.fieldNames()
    for c in winner_cols or []:
        out_schema.add(c, soundings.schema[c].dataType)

    def bbox_of(pdf: pd.DataFrame) -> tuple:
        if bbox_cols is None:
            return GLOBAL_BBOX
        b = pdf.iloc[0]
        return (b[bbox_cols[0]], b[bbox_cols[1]], b[bbox_cols[2]], b[bbox_cols[3]])

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        bbox = bbox_of(pdf)
        mesh_lon, mesh_lat = make_mesh(bbox[0], bbox[1], bbox[2], bbox[3], lon_res, lat_res)
        plon = pdf[lon_col].to_numpy(dtype=np.float64)
        plat = pdf[lat_col].to_numpy(dtype=np.float64)
        lat_idx, lon_idx = np.meshgrid(
            np.arange(lat_res, dtype=np.int32), np.arange(lon_res, dtype=np.int32),
            indexing="ij",
        )
        out = {
            "lat_idx": lat_idx.ravel(),
            "lon_idx": lon_idx.ravel(),
            "lat": np.repeat(mesh_lat, lon_res),
            "lon": np.tile(mesh_lon, lat_res),
        }
        for k in region_keys:
            out[k] = np.repeat(pdf[k].iloc[0], lat_res * lon_res)
        if method in ("linear", "cubic") and len(value_cols) > 1:
            # multi-variable fast path: columns sharing a finite-mask share
            # ONE triangulation + mesh point-location (the pipeline grids
            # 2-3 science variables per region; re-triangulating per
            # column doubles the kernel cost for nothing)
            from .interp import TriangulatedField

            vals_by_col = {
                c: pdf[c].to_numpy(dtype=np.float64) for c in value_cols
            }
            masks: dict[bytes, list[str]] = {}
            for c, v in vals_by_col.items():
                masks.setdefault((~np.isnan(v)).tobytes(), []).append(c)
            glon, glat = np.meshgrid(
                mesh_lon.astype(np.float64), mesh_lat.astype(np.float64)
            )
            for mkey, cols in masks.items():
                good = np.frombuffer(mkey, dtype=bool)
                n_good = int(good.sum())
                if n_good < MIN_POINTS_FOR_LINEAR:
                    for c in cols:  # per-column fallback semantics
                        out[c] = grid_points(
                            plon, plat, vals_by_col[c], mesh_lon, mesh_lat,
                            method,
                        ).ravel()
                    continue
                tf = TriangulatedField(plon[good], plat[good])
                if not tf.ok:  # degenerate cloud → grid_points semantics
                    for c in cols:
                        out[c] = grid_points(
                            plon, plat, vals_by_col[c], mesh_lon, mesh_lat,
                            method,
                        ).ravel()
                    continue
                tf.locate(glon.ravel(), glat.ravel())
                fn = tf.linear if method == "linear" else tf.cubic
                for c in cols:
                    out[c] = fn(vals_by_col[c][good])
        else:
            for c in value_cols:
                vals = pdf[c].to_numpy(dtype=np.float64)
                out[c] = grid_points(
                    plon, plat, vals, mesh_lon, mesh_lat, method
                ).ravel()
        return pd.DataFrame(out)[grid_names]

    # looked up when the plan is built, so a wrapped predicate (the
    # benchmark's counters) is the one the tasks run
    from .geometry import boxes_intersect_polygons, scale_footprint

    div_lon = 2 * max(lon_res - 1, 1)
    div_lat = 2 * max(lat_res - 1, 1)

    def masked(pdf_all):
        for _, m in pdf_all.groupby(list(mask_keys), sort=False):
            rings = _footprint_rings(
                m["vertex_longitude"], m["vertex_latitude"], mask_scale, scale_footprint
            )
            if rings is None:
                continue  # no footprint: every cell is masked out
            if winner_cols:
                rings = _ranked(rings, m[winner_cols])
            for _, g in m.groupby(list(region_keys), sort=False):
                cells = fit(g)
                bbox = bbox_of(g)
                first = _cells_hit(
                    cells["lon"].to_numpy(), cells["lat"].to_numpy(),
                    (bbox[2] - bbox[0]) / div_lon, (bbox[3] - bbox[1]) / div_lat,
                    rings, boxes_intersect_polygons,
                )
                keep = first >= 0
                cells = cells[keep]
                if winner_cols:
                    won = m.iloc[rings[0][first[keep]]]
                    cells = cells.assign(**{c: won[c].to_numpy() for c in winner_cols})
                yield cells

    def fit_partition(batches):
        frames = [b for b in batches if len(b)]
        if not frames:
            return
        pdf_all = pd.concat(frames, ignore_index=True)
        if mask_keys is not None:
            yield from masked(pdf_all)
            return
        for _, g in pdf_all.groupby(list(region_keys), sort=False):
            yield fit(g)

    n_parts = int(soundings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return soundings.repartition(n_parts, *(mask_keys or region_keys)).mapInPandas(
        fit_partition, out_schema
    )


def _footprint_rings(v_lon: pd.Series, v_lat: pd.Series, scale: float, scale_footprint):
    """One mask group's footprints: the positions of the rows that have a
    ring, their unscaled ring extents (the bbox prefilter's bounds; NaN
    vertices ignored, as Spark's array_min/max ignore nulls) and their
    float64 rings scaled by ``scale``. Rows without a ring have no
    footprint."""
    ok = (v_lon.notna() & v_lat.notna()).to_numpy()
    if not ok.any():
        return None
    pos = np.flatnonzero(ok)
    px = np.stack(v_lon.to_numpy()[ok]).astype(np.float64)
    py = np.stack(v_lat.to_numpy()[ok]).astype(np.float64)
    extents = (np.fmin.reduce(px, axis=1), np.fmax.reduce(px, axis=1),
               np.fmin.reduce(py, axis=1), np.fmax.reduce(py, axis=1))
    if scale != 1.0:
        px, py = scale_footprint(px, py, scale)
    return pos, extents, px, py


def _ranked(rings, keys: pd.DataFrame):
    """``rings`` reordered by a stable sort of the ringed rows' ``keys``, so
    a footprint's index is its first-writer rank."""
    pos, extents, px, py = rings
    order = keys.iloc[pos].reset_index(drop=True).sort_values(
        list(keys.columns), kind="stable").index.to_numpy()
    return pos[order], tuple(e[order] for e in extents), px[order], py[order]


def _cells_hit(lon, lat, half_lon, half_lat, rings, intersects) -> np.ndarray:
    """Per cell: the index of the first footprint in ``rings`` whose ring
    intersects the cell's box, or −1 when none does. A bbox prefilter
    selects the (cell, footprint) pairs, then ``intersects``
    (geometry.boxes_intersect_polygons) tests each pair exactly. The
    candidate matrix is chunked over cells to bound memory."""
    _, (f_x0, f_x1, f_y0, f_y1), px, py = rings
    none = len(f_x0)
    first = np.full(len(lon), none)
    lo = lon.astype(np.float64)
    la = lat.astype(np.float64)
    x0, x1, y0, y1 = lo - half_lon, lo + half_lon, la - half_lat, la + half_lat
    step = max(1, 2_000_000 // none)
    for s in range(0, len(lo), step):
        e = s + step
        ci, fi = np.nonzero(
            (x0[s:e, None] <= f_x1) & (x1[s:e, None] >= f_x0)
            & (y0[s:e, None] <= f_y1) & (y1[s:e, None] >= f_y0)
        )
        if len(ci) == 0:
            continue
        ci += s
        hit = intersects(x0[ci], y0[ci], x1[ci], y1[ci], px[fi], py[fi])
        np.minimum.at(first, ci[hit], fi[hit])
    first[first == none] = -1
    return first
