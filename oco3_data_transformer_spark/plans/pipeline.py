"""The mission pipeline: read → segment → QF split → target join → grid →
mask — the reference's ``process_input`` path (ref main.py:138-645,
processors/OCO3SamProcessor.py:330-544) as one declarative DataFrame plan.

Differences from the reference that are architecture, not semantics:
  - thread pools (granule pool / write pool / backup pool) disappear —
    granules and regions are partitions;
  - the backup/verify/repair machinery is replaced by the sink's idempotent
    MERGE-style append (sinks/store.py);
  - pre/post-QF dual output is two branches of one cached frame, not two
    passes over the files;
  - the footprint mask runs inside the grid kernel: one ``MapInPandas``
    grids each region (global mode: each day) and masks its cells to the
    footprints (operators/grid.grid_regions), where the reference loops
    over targets doing the same; in global mode the same kernel stamps each
    kept pixel with its first-writing region. ``store.append``
    materializes its input once, so a day's kernels run once per append.

The decoded soundings and the region rows are cached, so the granules are
decoded once however many passes read them. The cache lives until the
enclosing :func:`cached_rows` scope exits; main.run_batch, the orchestrator
and the streaming ingest close one per write.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import grid as grid_ops
from ..operators import joins as join_ops
from ..operators import sessionize as sess_ops
from ..operators.aggregates import region_centroid_extent
from ..operators.filters import (
    MISSING_TARGET_IDS,
    OPERATION_MODE_SAM,
    OPERATION_MODE_TARGET,
    SIF_MODE_SAM,
)


# Frames the pipelines persist inside the current cached_rows() scope. A
# context variable, not shared module state: scopes nest, and each thread
# (a streaming foreachBatch callback, a concurrent writer) sees only its own.
_SCOPE: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "cached_rows", default=None
)


@contextlib.contextmanager
def cached_rows():
    """Scope for the row frames the mission pipelines cache: each one
    persisted while the block runs is unpersisted when it exits. Build the
    slices and write them inside the block; outside any scope the cache
    stays until the caller clears it."""
    token = _SCOPE.set([])
    try:
        yield
    finally:
        for df in _SCOPE.get():
            df.unpersist()
        _SCOPE.reset(token)


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    held = _SCOPE.get()
    if held is not None:
        held.append(df)
    return df


def segment_oco3(soundings: DataFrame, margin: int = 2) -> DataFrame:
    """§2.4 both passes (SAM then Target) for CO2 missions; returns the
    combined region table with a ``mode`` column. Region ids are unique per
    (granule, mode)."""
    sam = sess_ops.detect_regions(
        soundings, ["granule"], "sounding_idx", "operation_mode",
        OPERATION_MODE_SAM, "target_id", margin=margin,
    ).withColumn("mode", F.lit(int(OPERATION_MODE_SAM)))
    tgt = sess_ops.detect_regions(
        soundings, ["granule"], "sounding_idx", "operation_mode",
        OPERATION_MODE_TARGET, "target_id", margin=margin,
    ).withColumn("mode", F.lit(int(OPERATION_MODE_TARGET)))
    return sam.unionByName(tgt)


def segment_sif(soundings_with_target: DataFrame, margin: int = 2) -> DataFrame:
    """SIF segmentation: SAM(3) and Target(2) passes with the 'none'
    tolerance and inclusive merge margin
    (ref processors/OCO3SifProcessor.py:368-477)."""
    out = None
    for mode in (SIF_MODE_SAM, OPERATION_MODE_TARGET):
        part = sess_ops.detect_regions(
            soundings_with_target, ["granule"], "sounding_idx", "MeasurementMode",
            mode, "target_id", margin=margin, merge_inclusive=True, none_id="none",
        ).withColumn("mode", F.lit(int(mode)))
        out = part if out is None else out.unionByName(part)
    return out


def process_oco3_granules(
    soundings: DataFrame,
    targets: DataFrame,
    lon_res: int = 40,
    lat_res: int = 40,
    method: str = "nearest",
    value_cols: list[str] | None = None,
    mask_scale: float = 1.0,
) -> DataFrame:
    """Target-focused OCO-3 pipeline (§3.1 steps 3-5) producing the
    long-format gridded store rows for both QF branches.

    Output: (mission, granule, mode, region_id, target_id, qf, time,
    lat_idx, lon_idx, lat, lon, <value>...) — masked to footprints.
    """
    value_cols = value_cols or ["xco2", "xco2_uncertainty"]

    # §2.4 segmentation + row membership (swallowed gap rows included).
    # The region's resolved target id and mode pass ride along on the rows;
    # a row's own (possibly off-mode, swallowed) values are superseded.
    # Both segmentation passes and the row assignment read the soundings:
    # decode them once.
    soundings = _persist(soundings)
    regions = segment_oco3(soundings)
    regions = regions.filter(~F.col("target_id").isin(*MISSING_TARGET_IDS))  # F5
    rows = sess_ops.assign_rows_to_regions(
        soundings.drop("target_id", "target_name"), regions,
        ["granule"], "sounding_idx", carry_cols=["mode", "target_id"],
    )
    return _target_focused_tail(
        rows, targets, good=F.col("xco2_quality_flag") == 0,
        value_cols=value_cols, lon_res=lon_res, lat_res=lat_res,
        method=method, mask_scale=mask_scale, mission="oco3",
    )


def _target_focused_tail(
    rows: DataFrame,
    targets: DataFrame,
    good,
    value_cols: list[str],
    lon_res: int,
    lat_res: int,
    method: str,
    mask_scale: float,
    mission: str,
) -> DataFrame:
    """Shared §3.1 steps 3-5 tail for all target-focused missions:
    J1 target join → pre/post QF split → per-region grid → footprint mask.
    ``rows`` must carry: granule, mode, region_id, target_id, time,
    latitude, longitude, vertex_latitude, vertex_longitude, value cols."""
    # J1: broadcast target-dimension join; unknown targets drop the region
    rows = join_ops.target_lookup(rows, targets, "target_id")

    # F3/F4: pre/post QF split from one cached frame. A post-QF region is
    # one with >= 1 good row, which every region of the filtered rows has.
    rows = _persist(rows)
    region_cols = ["granule", "mode", "region_id"]
    pre = rows.withColumn("qf", F.lit("pre"))
    post = rows.filter(good).withColumn("qf", F.lit("post"))
    both = pre.unionByName(post)

    # day of granule = event time (C1 analog; fixtures carry `time` directly)
    both = both.withColumn("time", F.date_trunc("DAY", F.col("time")))

    # G1 + G6/J4: per (qf, region, day) gridding onto the target bbox mesh,
    # masked in the same kernel to the footprints of the (qf, region)
    bbox = ["min_lon", "min_lat", "max_lon", "max_lat"]
    gridded = grid_ops.grid_regions(
        both, ["qf", *region_cols, "target_id", "time", *bbox], value_cols,
        lon_col="longitude", lat_col="latitude",
        lon_res=lon_res, lat_res=lat_res, method=method,
        bbox_cols=tuple(bbox), mask_keys=["qf", *region_cols], mask_scale=mask_scale,
    )
    return gridded.withColumn("mission", F.lit(mission)).drop(*bbox)


def process_sif_granules(
    soundings: DataFrame,
    sequences: DataFrame,
    targets: DataFrame,
    lon_res: int = 40,
    lat_res: int = 40,
    method: str = "nearest",
    mask_scale: float = 1.0,
) -> DataFrame:
    """Target-focused SIF pipeline: J3 sequence-id target resolution + 1990
    epoch (C3) → SIF segmentation (SAM=3, inclusive margin, 'none'
    tolerance) → QF good = flag ∈ {0,1} → grid Daily_SIF_757nm → mask
    (ref processors/OCO3SifProcessor.py end-to-end)."""
    resolved = _persist(resolve_sif_targets(soundings, sequences))
    regions = segment_sif(resolved)
    regions = regions.filter(F.col("target_id") != "none")  # target-focused
    rows = sess_ops.assign_rows_to_regions(
        resolved.drop("target_id"), regions,
        ["granule"], "sounding_idx", carry_cols=["mode", "target_id"],
    )
    rows = rows.select(
        "granule", "sounding_idx", "mode", "region_id", "target_id", "time",
        F.col("Latitude").alias("latitude"),
        F.col("Longitude").alias("longitude"),
        F.col("Latitude_Corners").alias("vertex_latitude"),
        F.col("Longitude_Corners").alias("vertex_longitude"),
        F.col("Quality_Flag"),
        F.col("Daily_SIF_757nm"),
    )
    return _target_focused_tail(
        rows, targets, good=F.col("Quality_Flag").isin(0, 1),
        value_cols=["Daily_SIF_757nm"], lon_res=lon_res, lat_res=lat_res,
        method=method, mask_scale=mask_scale, mission="oco3_sif",
    )


def process_oco2_granules(
    soundings: DataFrame,
    targets: DataFrame,
    lon_res: int = 40,
    lat_res: int = 40,
    method: str = "nearest",
    value_cols: list[str] | None = None,
    mask_scale: float = 1.0,
) -> DataFrame:
    """Target-focused OCO-2 pipeline: Target-mode-only segmentation, J2
    nearest-centroid target association with bbox-intersects guard, then the
    shared QF/grid/mask tail (ref processors/OCO2Processor.py end-to-end).
    OCO-2 carries xco2_x2019 as an extra science variable."""
    value_cols = value_cols or ["xco2", "xco2_uncertainty", "xco2_x2019"]
    soundings = _persist(soundings)
    rows = _oco2_region_rows(soundings)
    assoc = _nearest_target(rows, targets).select("granule", "region_id", "target_id")
    # broadcast: the streamed rows keep their order, which decides the
    # gridder's nearest-neighbour ties
    rows = rows.join(F.broadcast(assoc), ["granule", "region_id"], "inner").withColumn(
        "mode", F.lit(int(OPERATION_MODE_TARGET))
    )
    return _target_focused_tail(
        rows, targets.drop("centroid_lon", "centroid_lat"),
        good=F.col("xco2_quality_flag") == 0,
        value_cols=value_cols, lon_res=lon_res, lat_res=lat_res,
        method=method, mask_scale=mask_scale, mission="oco2",
    )


def process_oco3_global(
    soundings: DataFrame,
    lon_res: int = 72,
    lat_res: int = 36,
    method: str = "nearest",
    value_cols: list[str] | None = None,
    mask_scale: float = 1.0,
) -> DataFrame:
    """Global-mode pipeline (ref processors/OCO3SamGlobalProcessor.py:67-625):
    all regions of a day interpolate onto ONE shared global mesh, masked to
    the union of footprints, with target metadata rasterized first-wins (G7).

    Output long rows: (qf, time, lat_idx, lon_idx, lat, lon, <value>...,
    target_id, target_type, operation_mode) — metadata fill is null outside
    any footprint-claimed pixel (the reference uses −1 codes at encode time,
    ref :721-728; the sink applies encoding).

    Scale: the grid kernel groups by (qf, day) — one group per day per QF
    branch, gridded, masked and rasterized in one task, so the global mesh
    never exists densely outside it.
    """
    from ..functions.scalar import determine_id_type

    value_cols = value_cols or ["xco2", "xco2_uncertainty"]

    soundings = _persist(soundings)
    regions = segment_oco3(soundings)  # keeps 'Missing' targets: global mode
    rows = sess_ops.assign_rows_to_regions(
        soundings.drop("target_id", "target_name"), regions,
        ["granule"], "sounding_idx", carry_cols=["mode", "target_id"],
    )
    rows = _persist(rows)
    good = F.col("xco2_quality_flag") == 0
    pre = rows.withColumn("qf", F.lit("pre"))
    post = rows.filter(good).withColumn("qf", F.lit("post"))
    both = pre.unionByName(post).withColumn("time", F.date_trunc("DAY", F.col("time")))
    both = both.withColumn("target_type", determine_id_type(F.col("target_id")))

    # G2 + G6/G7: one grid fit per (qf, day) over the shared global mesh,
    # masked in the same kernel to the footprints of the (qf, day); each
    # kept pixel carries the metadata of its first-writing region, ordered
    # on the typed (granule, mode, region_id) — region 2 before 10, the
    # reference's loop order
    gridded = grid_ops.grid_regions(
        both, ["qf", "time"], value_cols,
        lon_col="longitude", lat_col="latitude",
        lon_res=lon_res, lat_res=lat_res, method=method,
        mask_keys=["qf", "time"], mask_scale=mask_scale,
        winner_cols=["granule", "mode", "region_id", "target_id", "target_type"],
    )
    return gridded.select(
        "qf", "time", "lat_idx", "lon_idx", "lat", "lon", *value_cols,
        "target_id", "target_type", F.col("mode").alias("operation_mode"),
    )


def densify_missing_day(
    spark_template: DataFrame, day, value_cols: list[str]
) -> DataFrame:
    """G9: synthesize an all-null grid for a mission-day with no data
    (ref processors/Processor.py:51-76, OCO3SamGlobalProcessor.py:639-718) so
    day-aligned unions stay rectangular. ``spark_template``: (qf, lat_idx,
    lon_idx, lat, lon) cells."""
    out = spark_template.withColumn("time", F.lit(day).cast("timestamp"))
    for c in value_cols:
        out = out.withColumn(c, F.lit(None).cast("double"))
    return (
        out.withColumn("target_id", F.lit(None).cast("string"))
        .withColumn("target_type", F.lit(None).cast("tinyint"))
        .withColumn("operation_mode", F.lit(None).cast("int"))
    )


def associate_oco2_regions(
    soundings: DataFrame, targets: DataFrame
) -> DataFrame:
    """J2 (OCO-2): segment Target-mode runs (no target id in the data), then
    associate each region with the nearest target centroid, keeping it only
    if the region bbox intersects the target bbox
    (ref processors/OCO2Processor.py:353-435)."""
    return _nearest_target(_oco2_region_rows(soundings), targets)


def _oco2_region_rows(soundings: DataFrame) -> DataFrame:
    """The OCO-2 soundings with their Target-mode region. OCO-2 carries no
    target id, so runs split only on mode gaps: a constant run key makes
    every contiguous Target-mode stretch one region."""
    regions = sess_ops.detect_regions(
        soundings.withColumn("__const", F.lit("run")),
        ["granule"], "sounding_idx", "operation_mode",
        OPERATION_MODE_TARGET, "__const", margin=2,
    ).drop("__const", "n_runs")
    return sess_ops.assign_rows_to_regions(soundings, regions, ["granule"], "sounding_idx")


def _nearest_target(rows: DataFrame, targets: DataFrame) -> DataFrame:
    """J2 on assigned region rows: per (granule, region_id) the nearest
    target centroid, kept if the region extent meets the target bbox."""
    stats = region_centroid_extent(rows, ["granule", "region_id"], "latitude", "longitude")
    t = targets.select(
        F.col("target_id"), F.col("centroid_lat").alias("t_lat"),
        F.col("centroid_lon").alias("t_lon"),
        F.col("min_lon").alias("t_min_lon"), F.col("min_lat").alias("t_min_lat"),
        F.col("max_lon").alias("t_max_lon"), F.col("max_lat").alias("t_max_lat"),
    )
    nearest = join_ops.nearest_centroid(
        stats, t, ["granule", "region_id"], "lat_c", "lon_c", "t_lat", "t_lon"
    )
    # bbox-intersects guard (ref :427-429): region extent must overlap
    return nearest.filter(
        (F.col("min_lon") <= F.col("t_max_lon"))
        & (F.col("max_lon") >= F.col("t_min_lon"))
        & (F.col("min_lat") <= F.col("t_max_lat"))
        & (F.col("max_lat") >= F.col("t_min_lat"))
    ).select("granule", "region_id", "target_id", "lat_c", "lon_c", "n")


def resolve_sif_targets(
    soundings: DataFrame, sequences: DataFrame
) -> DataFrame:
    """J3: SIF sequence-index target resolution then time from the 1990
    epoch (C3) — prerequisites of segment_sif."""
    from ..functions.scalar import sif_timestamp

    out = join_ops.sequence_index_join(soundings, sequences)
    return out.withColumn("time", sif_timestamp(F.col("delta_time")))
