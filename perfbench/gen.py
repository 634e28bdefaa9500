"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``(seed, day)``: the same seed
always yields byte-identical granules, targets and catalog tables.

Granule days plant the segmentation and filtering edge cases the
pipelines must get right, and :func:`expected_slice_keys` is the
closed-form oracle for which ``(mission, target_id, qf, day, variable)``
slices a day must produce:

* ``gap1``  - two runs of one target split by 1 off-mode sounding.  CO2
  merges (``gap < 2``), so this is one region; SIF merges too.
* ``gap2``  - two runs of one target split by 2 off-mode soundings.  CO2
  does NOT merge (two regions, planted in disjoint halves of the target
  box so their masked cells never collide); SIF merges (``gap <= 2``).
* ``unknown`` - a target id absent from the targets file (OCO-3, SIF) or
  a region far from every target box (OCO-2): no slices.
* ``missing`` - OCO-3 ``Missing`` target id: no slices.
* ``nogood`` - no good-QF sounding: ``pre`` slices only.
* ``fewgood`` - 2 good-QF soundings (< 4, the linear kernel falls back to
  nearest): ``pre`` and ``post``.
* ``emptyvar`` - OCO-3 ``xco2_uncertainty`` all fill value: that
  variable's slices are dropped as empty, the others stay.
* ``nonepre`` - SIF run whose first soundings carry SequencesIndex -1
  (``none``): adopted by the named run.
* ``allnone`` - SIF run of only ``none`` ids: no slices.

Each mission observes a target at most once per day (``gap2`` aside, whose
halves are disjoint), so store contents do not depend on which duplicate
a keep-first dedup happens to keep.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

N_TARGETS = 48
BOX_HALF = 0.25  # target boxes are 0.5 x 0.5 degrees
FOOT_HALF = 0.02  # footprint half-size in degrees
FOOT_TURN = np.radians(20.0)
FILL = -999999.0
OFF_MODE = 0
CO2_SAM, CO2_TARGET, SIF_SAM = 4, 2, 3
GAP = 4  # off-mode soundings between unrelated regions (no merge anywhere)
EPOCH_DAY = dt.date(2024, 3, 1)
SIF_EPOCH = dt.datetime(1990, 1, 1)

VALUE_COLS = {
    "oco3": ["xco2", "xco2_uncertainty"],
    "oco2": ["xco2", "xco2_uncertainty", "xco2_x2019"],
    "oco3_sif": ["Daily_SIF_757nm"],
}
MISSIONS = ("oco3", "oco2", "oco3_sif")


def target_ids() -> list[str]:
    return [f"fossil{i + 1:04d}" for i in range(N_TARGETS)]


def target_center(i: int) -> tuple[float, float]:
    """Targets sit on an 8 x 6 lattice, 8 degrees apart: every region's
    nearest centroid is its own target."""
    return -110.0 + 8.0 * (i % 8), 5.0 + 8.0 * (i // 8)


def targets_json(mission: str) -> dict:
    out = {}
    for i, tid in enumerate(target_ids()):
        lon, lat = target_center(i)
        meta = {
            "name": f"Target {i + 1}",
            "bbox": {
                "min_lon": lon - BOX_HALF, "min_lat": lat - BOX_HALF,
                "max_lon": lon + BOX_HALF, "max_lat": lat + BOX_HALF,
            },
        }
        if mission == "oco2":
            meta["centroid_wkt"] = f"POINT ({lon} {lat})"
        out[tid] = meta
    return out


def write_targets(root: str) -> dict[str, str]:
    """Targets files for the run config (SIF reuses the OCO-3 file)."""
    os.makedirs(root, exist_ok=True)
    paths = {}
    for m in ("oco3", "oco2"):
        paths[m] = os.path.join(root, f"targets_{m}.json")
        with open(paths[m], "w") as f:
            json.dump(targets_json(m), f)
    return paths


@dataclass
class Region:
    """One planted region and what it should produce."""

    mission: str
    case: str
    target: str | None  # expected resolved target id (None: dropped)
    n_good: int  # good-QF soundings (0: no post-QF slices)


@dataclass
class Granule:
    mission: str
    name: str
    day: dt.date
    arrays: dict
    regions: list[Region] = field(default_factory=list)

    @property
    def soundings(self) -> int:
        return len(self.arrays["sounding_idx"])


def day_of(d: int) -> dt.date:
    return EPOCH_DAY + dt.timedelta(days=d)


def _lattice(rng, lon0, lat0, n, half_w, half_h):
    """n jittered points filling a box centred on (lon0, lat0)."""
    side = int(np.ceil(np.sqrt(n)))
    gx, gy = np.meshgrid(np.linspace(-1, 1, side), np.linspace(-1, 1, side))
    gx, gy = gx.ravel()[:n], gy.ravel()[:n]
    jit = rng.uniform(-0.15, 0.15, size=(2, n))
    return lon0 + (gx + jit[0]) * half_w * 0.8, lat0 + (gy + jit[1]) * half_h * 0.8


class _Sequence:
    """Accumulates one granule's sounding sequence, region by region."""

    def __init__(self, rng, mission):
        self.rng, self.mission = rng, mission
        self.cols: dict[str, list] = {
            k: [] for k in ("lon", "lat", "mode", "tid", "good", "x", "unc", "seq")
        }
        self.regions: list[Region] = []

    def gap(self, k, lon, lat):
        for _ in range(k):
            self._row(lon, lat, OFF_MODE, "Missing", True, 400.0, 0.5, -1)

    def _row(self, lon, lat, mode, tid, good, x, unc, seq):
        c = self.cols
        c["lon"].append(lon)
        c["lat"].append(lat)
        c["mode"].append(mode)
        c["tid"].append(tid)
        c["good"].append(good)
        c["x"].append(x)
        c["unc"].append(unc)
        c["seq"].append(seq)

    def run(self, lon0, lat0, n, mode, tid, n_good=None, half=None,
            empty_unc=False, seq=-1, none_prefix=0):
        """Append one run of n mode-``mode`` soundings; ``half`` puts it in
        the west (-1) or east (+1) half of the box."""
        hw = BOX_HALF
        if half is not None:
            lon0, hw = lon0 + half * BOX_HALF / 2, BOX_HALF / 3
        lon, lat = _lattice(self.rng, lon0, lat0, n, hw, BOX_HALF)
        n_good = n if n_good is None else n_good
        good = np.zeros(n, bool)
        good[self.rng.choice(n, size=n_good, replace=False)] = True
        x = 405.0 + 3.0 * np.sin(lon * 7.0) + np.cos(lat * 5.0) + self.rng.normal(0, 0.3, n)
        unc = np.full(n, FILL) if empty_unc else 0.4 + self.rng.uniform(0, 0.2, n)
        for i in range(n):
            s = -1 if i < none_prefix else seq
            self._row(lon[i], lat[i], mode, tid, bool(good[i]), x[i], unc[i], s)

    def plant(self, region: Region):
        self.regions.append(region)


def make_day(seed: int, d: int, root: str, per_granule: int = 6,
             granules: int = 2, n: int = 36,
             missions: tuple[str, ...] = MISSIONS, slot: int = 0,
             plants: int | None = None,
             targets: list[int] | None = None) -> list[Granule]:
    """Write day d's npz granules under ``root``; return their manifests.

    Each mission gets ``granules`` granules, each holding ``per_granule``
    regular regions; the planted cases ride on granule 0 (``plants``
    keeps only that many of them, rotating with ``slot``).  Slots of one
    day draw disjoint targets, so a later slot (a late granule) never
    re-observes a target of an earlier one; ``targets`` (lattice indices)
    overrides the draw.
    """
    os.makedirs(root, exist_ok=True)
    order_rng = np.random.default_rng([seed, d])
    orders = {m: [int(i) for i in order_rng.permutation(N_TARGETS)] for m in MISSIONS}
    rng = np.random.default_rng([seed, d, slot])
    out = []
    for m in missions:
        planted = _plants(m)
        if plants is not None:
            k = ((d + slot) * plants) % len(planted)
            planted = (planted[k:] + planted[:k])[:plants]
        out.extend(_mission_day(rng, m, d, orders[m], per_granule, granules, n,
                                root, planted, slot, targets))
    return out


def _plants(mission: str) -> list[str]:
    if mission == "oco3":
        return ["gap1", "gap2", "nogood", "fewgood", "emptyvar", "unknown", "missing"]
    if mission == "oco2":
        return ["gap1", "gap2", "nogood", "fewgood", "unknown"]
    return ["gap1", "gap2", "nonepre", "nogood", "fewgood", "unknown", "allnone"]


def _mission_day(rng, m, d, order, per_granule, granules, n, root, plants, slot,
                 targets=None):
    day = day_of(d)
    ids = target_ids()
    # targets with a real region: plants that resolve to a target first
    resolving = [p for p in plants if p not in ("unknown", "missing", "allnone")]
    need = len(resolving) + per_granule * granules
    if targets is None and need * (slot + 1) > N_TARGETS - 1:
        raise ValueError(f"{need} targets needed per {m} slot, {N_TARGETS} exist")
    pool = iter(targets if targets is not None else order[need * slot:need * (slot + 1)])
    tag = {"oco3": "oco3_LtCO2", "oco2": "oco2_LtCO2", "oco3_sif": "oco3_LtSIF"}[m]
    sam = {"oco3": CO2_SAM, "oco2": CO2_TARGET, "oco3_sif": SIF_SAM}[m]
    granules_out = []
    for g in range(granules):
        b = _Sequence(rng, m)
        seqs: list[str] = []

        def seq_of(tid):
            if tid not in seqs:
                seqs.append(tid)
            return seqs.index(tid)

        b.gap(GAP, 0.0, 0.0)
        cases = (plants if g == 0 else []) + ["regular"] * per_granule
        for case in cases:
            if case == "unknown" and m == "oco2":
                ti, lon0, lat0 = None, 150.0, -40.0  # far from every box
            elif case in ("unknown", "missing", "allnone"):
                ti = None
                lon0, lat0 = target_center(order[-1])
            else:
                ti = next(pool)
                lon0, lat0 = target_center(ti)
            tid = ids[ti] if ti is not None else None
            mode = sam if case != "regular" or m == "oco2" or rng.random() < 0.5 else CO2_TARGET
            src_tid = {"unknown": "fossil0999", "missing": "Missing", "allnone": "none"}.get(case, tid)
            seq = seq_of(src_tid) if (m == "oco3_sif" and case != "allnone") else -1
            n_good = {"nogood": 0, "fewgood": 2}.get(case)
            if n_good is None:
                n_good = int(round(n * 0.7))
            if case in ("gap1", "gap2"):
                k = 1 if case == "gap1" else 2
                merges = m == "oco3_sif" or k == 1
                half = (None, None) if merges else (-1, 1)
                h = n // 2
                b.run(lon0, lat0, h, mode, src_tid, n_good=int(h * 0.7), half=half[0], seq=seq)
                b.gap(k, lon0, lat0)
                b.run(lon0, lat0, n - h, mode, src_tid, n_good=int((n - h) * 0.7),
                      half=half[1], seq=seq)
                b.plant(Region(m, case, tid, 1))
            else:
                b.run(lon0, lat0, n, mode, src_tid, n_good=n_good,
                      empty_unc=(case == "emptyvar"), seq=seq,
                      none_prefix=6 if case == "nonepre" else 0)
                keep = case not in ("unknown", "missing", "allnone")
                b.plant(Region(m, case, tid if keep else None, n_good))
            b.gap(GAP, lon0, lat0)
        name = f"{tag}_{day:%y%m%d}_B{d:05d}_{slot}{g}.npz"
        arrays = _arrays(m, b, day, d, slot * 10 + g, seqs)
        np.savez(os.path.join(root, name), **arrays)
        granules_out.append(Granule(m, name, day, arrays, b.regions))
    return granules_out


def _arrays(m, b: _Sequence, day, d, g, seqs) -> dict:
    c = b.cols
    n = len(c["lon"])
    lon = np.asarray(c["lon"], np.float64)
    lat = np.asarray(c["lat"], np.float64)
    # footprints: squares turned by FOOT_TURN, so the exact polygon refine
    # rejects some of the cells the bounding-box prefilter lets through
    cos, sin = np.cos(FOOT_TURN), np.sin(FOOT_TURN)
    dx = FOOT_HALF * np.array([-1.0, 1.0, 1.0, -1.0])
    dy = FOOT_HALF * np.array([-1.0, -1.0, 1.0, 1.0])
    vlon = lon[:, None] + (cos * dx - sin * dy)[None, :]
    vlat = lat[:, None] + (sin * dx + cos * dy)[None, :]
    good = np.asarray(c["good"])
    x = np.asarray(c["x"])
    idx = np.arange(n, dtype=np.int64)
    if m == "oco3_sif":
        secs = (dt.datetime.combine(day, dt.time()) - SIF_EPOCH).total_seconds()
        return dict(
            sounding_idx=idx,
            delta_time=np.full(n, secs + 3600.0),
            Latitude=lat.astype(np.float32),
            Longitude=lon.astype(np.float32),
            Latitude_Corners=vlat.astype(np.float32),
            Longitude_Corners=vlon.astype(np.float32),
            MeasurementMode=np.asarray(c["mode"], np.int8),
            Quality_Flag=np.where(good, idx % 2, 2).astype(np.int8),
            SequencesIndex=np.asarray(c["seq"], np.int32),
            Daily_SIF_757nm=(x - 404.0) / 3.0,
            seq_idx=np.arange(len(seqs), dtype=np.int32),
            SequencesId=np.asarray(seqs),
            SequencesName=np.asarray([f"name {s}" for s in seqs]),
        )
    out = dict(
        sounding_idx=idx,
        sounding_id=idx + (d * 10 + g) * 1_000_000,
        time=np.full(n, np.datetime64(day.isoformat(), "us")),
        latitude=lat.astype(np.float32),
        longitude=lon.astype(np.float32),
        vertex_latitude=vlat.astype(np.float32),
        vertex_longitude=vlon.astype(np.float32),
        operation_mode=np.asarray(c["mode"], np.int8),
        xco2_quality_flag=(~good).astype(np.int8),
        xco2=x,
        xco2_uncertainty=np.asarray(c["unc"]),
    )
    if m == "oco3":
        out["target_id"] = np.asarray(c["tid"])
        out["target_name"] = np.asarray([f"name {t}" for t in c["tid"]])
    else:
        out["xco2_x2019"] = x + 0.25
    return out


def expected_slice_keys(granules: list[Granule]) -> set[tuple]:
    """Closed-form oracle: the (mission, target_id, qf, day, variable)
    slice keys the pipelines must store for these granules."""
    keys = set()
    for g in granules:
        for r in g.regions:
            if r.target is None:
                continue
            for v in VALUE_COLS[r.mission]:
                if r.case == "emptyvar" and v == "xco2_uncertainty":
                    continue
                qfs = ["pre"] + (["post"] if r.n_good > 0 else [])
                for qf in qfs:
                    keys.add((r.mission, r.target, qf, g.day, v))
    return keys

