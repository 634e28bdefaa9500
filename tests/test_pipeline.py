"""End-to-end mission-pipeline tests (§3.1 steps 3-5) on synthetic
FIXTURES.md-shaped granules: read → segment → QF split → target join → grid
→ mask, plus the OCO-2 nearest-centroid association and SIF target
resolution paths."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from oco3_data_transformer_spark.plans import pipeline as P
from oco3_data_transformer_spark.schemas import (
    SIF_SEQUENCES,
    SOUNDINGS_OCO2,
    SOUNDINGS_OCO3,
    SOUNDINGS_SIF,
    TARGETS_OCO2,
    TARGETS_OCO3,
)

DAY = dt.datetime(2024, 3, 1)


def _sounding(i, mode, target, qf=0, lat=10.0, lon=20.0, xco2=400.0):
    d = 0.01
    return (
        "oco3_LtCO2_240301_B11000_1.nc4", i, 1000 + i, DAY,
        lat, lon,
        [lat - d, lat - d, lat + d, lat + d],
        [lon - d, lon + d, lon + d, lon - d],
        mode, target, f"name-{target}", qf, xco2, 0.5,
    )


@pytest.fixture(scope="module")
def oco3_frames(spark):
    rows = []
    i = 0
    # region A: SAM run, all-good QF, inside target bbox
    for k in range(8):
        rows.append(_sounding(i, 4, "fossil0001", 0, 10.0 + k * 0.02, 20.0 + k * 0.02))
        i += 1
    # one-row interruption (gap merges, margin=2)
    rows.append(_sounding(i, 0, "Missing", 0, 10.1, 20.1)); i += 1
    for k in range(4):
        rows.append(_sounding(i, 4, "fossil0001", 0, 10.15 + k * 0.02, 20.15 + k * 0.02))
        i += 1
    # region B: Target-mode run with ZERO good soundings (dropped post-QF)
    for k in range(5):
        rows.append(_sounding(i, 2, "volcano0002", 1, -5.0 + k * 0.02, 30.0 + k * 0.02))
        i += 1
    # region C: SAM run with unknown target (dropped by J1 inner join)
    for k in range(4):
        rows.append(_sounding(i, 4, "ghost9999", 0, 0.0 + k * 0.02, 0.0 + k * 0.02))
        i += 1
    soundings = spark.createDataFrame(rows, SOUNDINGS_OCO3)
    targets = spark.createDataFrame(
        [
            ("fossil0001", "Fossil One", 19.9, 9.9, 20.5, 10.5),
            ("volcano0002", "Volcano Two", 29.9, -5.2, 30.3, -4.8),
        ],
        TARGETS_OCO3,
    )
    return soundings, targets


def test_oco3_pipeline_end_to_end(spark, oco3_frames):
    soundings, targets = oco3_frames
    out = P.process_oco3_granules(
        soundings, targets, lon_res=8, lat_res=8, method="nearest"
    ).persist()

    combos = {
        (r.qf, r.target_id, r.mode)
        for r in out.select("qf", "target_id", "mode").distinct().collect()
    }
    # unknown target gone entirely; zero-good region only in 'pre'
    assert ("pre", "fossil0001", 4) in combos
    assert ("post", "fossil0001", 4) in combos
    assert ("pre", "volcano0002", 2) in combos
    assert ("post", "volcano0002", 2) not in combos
    assert not any(t == "ghost9999" for _, t, _ in combos)

    # gap-merge produced ONE fossil region spanning the interruption
    fossil_regions = (
        out.filter((F.col("target_id") == "fossil0001") & (F.col("qf") == "pre"))
        .select("region_id").distinct().count()
    )
    assert fossil_regions == 1

    # mask keeps a strict, non-empty subset of the 8x8 mesh
    n_cells = (
        out.filter((F.col("target_id") == "fossil0001") & (F.col("qf") == "pre"))
        .count()
    )
    assert 0 < n_cells < 8 * 8

    # gridded values come from the region's soundings
    vals = {
        r.xco2
        for r in out.filter(F.col("target_id") == "fossil0001").select("xco2").collect()
    }
    assert vals <= {400.0}

    # time is the granule-day midnight (C1/C2 semantics)
    times = {r.time for r in out.select("time").distinct().collect()}
    assert times == {DAY}
    out.unpersist()


def test_mask_scaling_widens_footprints(spark, oco3_frames):
    """mask-scaling inflates footprints about their centroids (clamped to
    [1, 1.5], ref processors/OCO3SamProcessor.py:234-235): a scaled run
    must mask at least as many cells as the unscaled one."""
    soundings, targets = oco3_frames
    base = P.process_oco3_granules(soundings, targets, lon_res=8, lat_res=8).count()
    scaled = P.process_oco3_granules(
        soundings, targets, lon_res=8, lat_res=8, mask_scale=1.5
    ).count()
    assert scaled >= base


def test_oco2_association(spark):
    rows = []
    i = 0
    for k in range(6):  # Target-mode run near (10, 20)
        rows.append(
            (
                "oco2_LtCO2_240301_B11000_1.nc4", i, 2000 + i, DAY,
                10.0 + k * 0.02, 20.0 + k * 0.02,
                [9.99, 9.99, 10.01, 10.01], [19.99, 20.01, 20.01, 19.99],
                2, 0, 400.0, 0.5, 401.0,
            )
        )
        i += 1
    for k in range(4):  # second run far away, near (-40, 100)
        rows.append(
            (
                "oco2_LtCO2_240301_B11000_1.nc4", i + 3, 2100 + i, DAY,
                -40.0 + k * 0.02, 100.0 + k * 0.02,
                [-40.01, -40.01, -39.99, -39.99], [99.99, 100.01, 100.01, 99.99],
                2, 0, 410.0, 0.5, 411.0,
            )
        )
        i += 1
    soundings = spark.createDataFrame(rows, SOUNDINGS_OCO2)
    targets = spark.createDataFrame(
        [
            # nearest to run 1 AND intersecting its extent -> kept
            ("t_near", "Near", 20.05, 10.05, 19.9, 9.9, 20.3, 10.3),
            # nearest to run 2 but bbox does NOT intersect -> dropped
            ("t_far", "Far", 100.05, -40.05, 120.0, -50.0, 121.0, -49.0),
        ],
        TARGETS_OCO2,
    )
    got = P.associate_oco2_regions(soundings, targets).collect()
    assert [(r.target_id, r.n) for r in got] == [("t_near", 6)]


def test_sif_target_resolution_and_epoch(spark):
    # delta_time 0 == 1990-01-01T00:00:00Z (ref OCO3SifProcessor.py:66)
    rows = [
        ("g1", 0, 0.0, 1.0, 2.0, [0.9, 0.9, 1.1, 1.1], [1.9, 2.1, 2.1, 1.9], 3, 0, 0, 1.5),
        ("g1", 1, 86400.0, 1.0, 2.0, [0.9, 0.9, 1.1, 1.1], [1.9, 2.1, 2.1, 1.9], 3, 1, -1, 1.6),
    ]
    soundings = spark.createDataFrame(rows, SOUNDINGS_SIF)
    seqs = spark.createDataFrame([("g1", 0, "sif_atto", "ATTO Tower")], SIF_SEQUENCES)
    out = P.resolve_sif_targets(soundings, seqs).orderBy("sounding_idx").collect()
    assert out[0].target_id == "sif_atto"
    assert out[1].target_id == "none"  # -1 sentinel
    assert out[0].time == dt.datetime(1990, 1, 1, 0, 0)
    assert out[1].time == dt.datetime(1990, 1, 2, 0, 0)


def test_sif_full_pipeline(spark):
    def r(i, mode, seq_idx, qf=0, lat=1.0, lon=2.0):
        d = 0.02
        return ("g1", i, float(i * 60), lat, lon,
                [lat - d, lat - d, lat + d, lat + d],
                [lon - d, lon + d, lon + d, lon - d], mode, qf, seq_idx, 1.5 + i)

    rows = (
        [r(i, 3, 0) for i in range(6)]            # SAM run -> sif_atto
        + [r(i, 3, -1, lat=5.0, lon=6.0) for i in range(6, 10)]  # 'none' run, dropped
        + [r(i, 3, 1, qf=2, lat=1.0, lon=2.0) for i in range(10, 14)]  # all-bad QF run
    )
    soundings = spark.createDataFrame(rows, SOUNDINGS_SIF)
    seqs = spark.createDataFrame(
        [("g1", 0, "sif_atto", "ATTO"), ("g1", 1, "sif_mead", "Mead")], SIF_SEQUENCES
    )
    targets = spark.createDataFrame(
        [("sif_atto", "ATTO", 1.9, 0.9, 2.1, 1.1), ("sif_mead", "Mead", 1.9, 0.9, 2.1, 1.1)],
        TARGETS_OCO3,
    )
    out = P.process_sif_granules(soundings, seqs, targets, lon_res=5, lat_res=5).persist()
    combos = {(r.qf, r.target_id) for r in out.select("qf", "target_id").distinct().collect()}
    assert ("pre", "sif_atto") in combos and ("post", "sif_atto") in combos
    assert ("pre", "sif_mead") in combos        # bad-QF region still in pre
    assert ("post", "sif_mead") not in combos   # flag=2 everywhere -> dropped post
    assert not any(t == "none" for _, t in combos)
    assert {r.mission for r in out.select("mission").distinct().collect()} == {"oco3_sif"}
    # SIF epoch: delta_time 0 -> 1990-01-01 day
    assert {r.time for r in out.select("time").distinct().collect()} == {
        dt.datetime(1990, 1, 1)
    }
    out.unpersist()


def test_oco2_full_pipeline(spark):
    rows = []
    for k in range(6):  # Target-mode run near (10, 20)
        rows.append(
            ("g1", k, 2000 + k, DAY, 10.0 + k * 0.02, 20.0 + k * 0.02,
             [9.99, 9.99, 10.01, 10.01], [19.99, 20.01, 20.01, 19.99],
             2, 0 if k < 4 else 1, 400.0, 0.5, 401.0)
        )
    soundings = spark.createDataFrame(rows, SOUNDINGS_OCO2)
    targets = spark.createDataFrame(
        [("t_near", "Near", 20.05, 10.05, 19.9, 9.9, 20.3, 10.3)], TARGETS_OCO2
    )
    out = P.process_oco2_granules(soundings, targets, lon_res=5, lat_res=5).persist()
    assert {r.mission for r in out.select("mission").distinct().collect()} == {"oco2"}
    assert {r.target_id for r in out.select("target_id").distinct().collect()} == {"t_near"}
    assert {r.qf for r in out.select("qf").distinct().collect()} == {"pre", "post"}
    # all three science vars gridded
    assert {"xco2", "xco2_uncertainty", "xco2_x2019"} <= set(out.columns)
    out.unpersist()


def test_sif_segmentation_none_and_inclusive_margin(spark):
    def r(i, mode, seq_idx):
        return ("g1", i, float(i), 1.0, 2.0, [0.9, 0.9, 1.1, 1.1],
                [1.9, 2.1, 2.1, 1.9], mode, 0, seq_idx, 1.5)

    rows = (
        [r(i, 3, 0) for i in range(3)]          # SAM run, target sif_atto
        + [r(3, 3, -1)]                          # 'none' inside the run
        + [r(i, 3, 0) for i in range(4, 6)]      # same target resumes
        + [r(i, 0, -1) for i in range(6, 8)]     # 2-row off-mode gap
        + [r(i, 3, 0) for i in range(8, 10)]     # merges (inclusive <= 2)
    )
    soundings = spark.createDataFrame(rows, SOUNDINGS_SIF)
    seqs = spark.createDataFrame([("g1", 0, "sif_atto", "ATTO")], SIF_SEQUENCES)
    resolved = P.resolve_sif_targets(soundings, seqs)
    regions = P.segment_sif(resolved).collect()
    sam = [x for x in regions if x.mode == 3]
    assert len(sam) == 1
    assert (sam[0].target_id, sam[0].start_idx, sam[0].stop_excl) == ("sif_atto", 0, 10)


def _square(cx, cy, h=0.2):
    return [cx - h, cx + h, cx + h, cx - h], [cy - h, cy - h, cy + h, cy + h]


def _diamond(cx, cy, r=0.3):
    return [cx - r, cx, cx + r, cx], [cy, cy - r, cy, cy + r]


@pytest.mark.parametrize(
    "case, scale",
    [pytest.param(case, scale, id=case + ("-scaled" if scale > 1.0 else ""))
     for scale in (1.0, 1.3) for case in ("midnight", "overlap")],
)
def test_mask_matches_semi_join_form(spark, case, scale):
    """grid_regions with ``mask_keys`` masks each grid group inside the
    kernel; it must give exactly the rows of the unmasked grid whose cell
    box meets at least one scaled footprint ring of its mask group, tested
    here pair by pair with no prefilter, with no duplicates.

    midnight: one region whose soundings straddle UTC midnight grids as two
    groups with the same (qf, granule, mode, region_id), each masked by the
    footprints of both days. overlap: cells hit by several footprints. The
    diamond's box overlaps cell (0, 0), but only its 1.3x scaled ring
    reaches it: the prefilter takes the unscaled extents, the exact test
    the scaled ring."""
    import numpy as np

    from oco3_data_transformer_spark.operators import geometry
    from oco3_data_transformer_spark.operators import grid as G

    region = ["qf", "granule", "mode", "region_id"]
    group = [*region, "target_id", "time", "min_lon", "min_lat", "max_lon", "max_lat"]
    days = [DAY, DAY + dt.timedelta(days=1)] if case == "midnight" else [DAY]
    # (region_id, day, footprint ring); the sounding sits at its centre
    fps = [(0, 0, _square(1.0, 1.0)), (0, -1, _square(2.5, 2.5)),
           (0, 0, _diamond(0.68, 0.68)), (1, 0, _square(3.0, 0.0)),
           (1, -1, _square(3.0, 0.0))]
    if case == "overlap":
        fps += [(0, 0, _square(1.1, 0.9)), (0, 0, _square(0.9, 1.1)),
                (0, 0, _square(2.45, 2.55))]
    soundings = spark.createDataFrame(
        [("post", "g1", 4, rid, "fossil0001", days[d], 0.0, 0.0, 3.0, 3.0,
          sum(v_lon) / 4, sum(v_lat) / 4, 400.0 + 10 * k, v_lon, v_lat)
         for k, (rid, d, (v_lon, v_lat)) in enumerate(fps)],
        "qf string, granule string, mode int, region_id long, target_id string, "
        "time timestamp, min_lon double, min_lat double, max_lon double, max_lat double, "
        "longitude double, latitude double, xco2 double, "
        "vertex_longitude array<float>, vertex_latitude array<float>",
    )
    # a 4 x 4 mesh over bbox (0, 0, 3, 3): cell centres on integers, half 0.5
    kw = dict(lon_res=4, lat_res=4, bbox_cols=("min_lon", "min_lat", "max_lon", "max_lat"))
    new = G.grid_regions(soundings, group, ["xco2"], mask_keys=region, mask_scale=scale, **kw)
    gridded = G.grid_regions(soundings, group, ["xco2"], **kw)
    rings: dict[tuple, list] = {}
    for r in soundings.collect():
        rings.setdefault(tuple(r[k] for k in region), []).append(
            (r.vertex_longitude, r.vertex_latitude))
    want = []
    for r in gridded.collect():  # every cell box against every ring, half 0.5
        px, py = (np.array(v, dtype=np.float64) for v in zip(*rings[tuple(r[k] for k in region)]))
        if scale != 1.0:
            px, py = geometry.scale_footprint(px, py, scale)
        n = len(px)
        box = [np.full(n, float(c)) for c in (r.lon - 0.5, r.lat - 0.5, r.lon + 0.5, r.lat + 0.5)]
        if geometry.boxes_intersect_polygons(*box, px, py).any():
            want.append(tuple(r))

    got = sorted(tuple(r) for r in new.collect())
    want = sorted(want)
    assert got == want
    assert len(got) == len(set(got)) == new.dropDuplicates([*group, "lat_idx", "lon_idx"]).count()
    cells = {(r[3], r[5], r[10], r[11]) for r in got}
    rid0 = [(1, 1), (2, 2), (2, 3), (3, 2), (3, 3), (0, 1), (1, 0)]
    if scale > 1.0:
        rid0.append((0, 0))
    assert cells == {
        (rid, day, i, j)
        for day in days
        for rid, ij in [(0, rid0), (1, [(0, 3)])]
        for i, j in ij
    }
