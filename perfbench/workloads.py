"""The benchmark workloads.  Each is a closed loop of operations against
the package's public entry points:

* ``daily_ingest``  - one ``main.run_batch`` per day of OCO-3 npz granules
  (``linear`` gridding), appending to one store.  Its traced run also
  drains one streaming micro-batch into that store (:class:`LateBatch`).
* ``catalog_queries`` - see :mod:`perfbench.catalog`.

A workload prepares its inputs from the seed (untimed), runs one untimed
warm-up operation, then the harness times ``op`` in a loop and checks
outputs with ``verify`` (per operation) and ``final_check`` (once).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from oco3_data_transformer_spark import main as batch_main
from oco3_data_transformer_spark.config import RunConfig
from oco3_data_transformer_spark.operators.filters import drop_empty_slices
from oco3_data_transformer_spark.plans import pipeline as pipe
from oco3_data_transformer_spark.schemas import (
    SOUNDINGS_OCO2,
    SOUNDINGS_OCO3,
    STORE_SLICE,
)
from oco3_data_transformer_spark.sinks import export as export_ops
from oco3_data_transformer_spark.sinks import store as store_ops
from oco3_data_transformer_spark.sinks import zarr_store
from oco3_data_transformer_spark.streaming import ingest

from perfbench import gen

SLICE_COLS = ["mission", "target_id", "qf", "time", "variable"]
ID_COLS = ["mission", "target_id", "qf", "time", "lat_idx", "lon_idx"]


class Workload:
    """Interface the harness drives (see :func:`perfbench.harness.run_window`)."""

    MIN_OPS = 1
    TRACE_BASE = True  # a traced run first times untraced operations as its baseline

    def __init__(self, spark, seed: int, work: str, trace: bool = False):
        self.spark, self.seed, self.work, self.trace = spark, seed, work, trace

    def prepare(self) -> dict:
        return {}

    def warmup(self) -> None:
        raise NotImplementedError

    def next_input(self, i: int):
        raise NotImplementedError

    def op(self, inp):
        raise NotImplementedError

    def traced_op(self, inp, tracer):
        raise NotImplementedError

    def verify(self, inp, out) -> list[str]:
        return []

    def units(self, inp) -> int:
        return 1

    def key(self, inp) -> str:
        """Which of the pass's operations ``inp`` is."""
        return "op"

    def pass_done(self, i: int) -> bool:
        return True

    def traced_extra(self, tracer) -> int:
        """Extra traced operations before the traced window; returns how
        many ran."""
        return 0

    def final_check(self) -> list[str]:
        return []

    def detail(self) -> dict:
        return {}

    def layer_metrics(self, tracer) -> dict:
        return tracer.layer_metrics(self.pass_size())

    def pass_size(self) -> int:
        return 1


def _slice_keys(spark, path: str) -> set[tuple]:
    rows = (
        spark.read.parquet(path)
        .select("mission", "target_id", "qf", F.to_date("time").alias("d"), "variable")
        .distinct()
        .collect()
    )
    return {tuple(r) for r in rows}


def seed_store(spark, path: str, seed: int, days: tuple[int, ...], skip: str) -> set[tuple]:
    """Prior days already in the store, in the store's partition layout:
    every target (but ``skip`` on the last day), both QF levels, a 3 x 3
    patch of cells per variable.  Returns their slice keys."""
    rng = np.random.default_rng([seed, 99])
    rows = [("oco3", tid, qf, dt.datetime.combine(gen.day_of(d), dt.time()), la, lo, v,
             float(405.0 + rng.normal(0, 1)) if v == "xco2" else float(rng.uniform(0.4, 0.6)))
            for d in days for tid in gen.target_ids() if not (tid == skip and d == days[-1])
            for qf in ("pre", "post")
            for v in gen.VALUE_COLS["oco3"] for la in range(3) for lo in range(3)]
    (spark.createDataFrame(rows, STORE_SLICE).withColumn("day", F.to_date("time"))
     .write.partitionBy(*store_ops.PARTITION_COLS).parquet(path))
    return {(m, t, q, time_.date(), v) for m, t, q, time_, _, _, v, _ in rows}


class DailyIngest(Workload):
    """One ``run_batch`` per day into one store."""

    GRID = 12
    PER_GRANULE = 10
    GRANULES = 2
    MISSIONS = ("oco3",)
    # The store's prior days: the streaming micro-batch's late granule is
    # for the second, the late target's Zarr stores start from the first.
    SEED_DAYS = (500, 501)
    # A day takes ~25 s on 4 cores whatever its size, so a run times one.
    # The traced run has no untraced baseline day either: its overhead is
    # taken against the traced day's own run_batch steps.
    TRACE_BASE = False

    def prepare(self):
        self.targets = gen.write_targets(os.path.join(self.work, "targets"))
        self.store = os.path.join(self.work, "store")
        self.rep = os.path.join(self.work, "rep")
        self.done: list[dict] = []
        self.late: LateBatch | None = None
        ids = gen.target_ids()
        self.late_target = ids[np.random.default_rng([self.seed, 5]).integers(len(ids))]
        self.seed_keys = seed_store(self.spark, self.store, self.seed, self.SEED_DAYS,
                                    self.late_target)
        return {"targets": gen.N_TARGETS, "grid": self.GRID, "method": "linear",
                "granules_per_mission_day": self.GRANULES}

    def _day(self, d: int) -> dict:
        root = os.path.join(self.work, f"day{d}")
        granules = gen.make_day(self.seed, d, root, per_granule=self.PER_GRANULE,
                                granules=self.GRANULES, missions=self.MISSIONS)
        cfg = RunConfig(
            store_path=self.store,
            input_files=[{"path": os.path.join(root, g.name), "mission": g.mission}
                         for g in granules],
            grid_lat_res=self.GRID, grid_lon_res=self.GRID, grid_method="linear",
            targets=dict(self.targets),
        )
        return {"d": d, "granules": granules, "cfg": cfg}

    def warmup(self):
        """The first timed day's slices, computed once and written in the
        store's layout to a scratch path: a rep whose store.checksum the
        timed day must reproduce.  The store already holds prior days, so
        the timed append takes the existing-key anti-join path.  A traced
        run warms up with its streaming micro-batch instead."""
        if self.trace:
            return
        day = self._day(0)
        paths = [e["path"] for e in day["cfg"].input_files]
        (batch_main.mission_slices(self.spark, day["cfg"], "oco3", paths)
         .withColumn("day", F.to_date("time"))
         .write.partitionBy(*store_ops.PARTITION_COLS).parquet(self.rep))

    def next_input(self, i):
        return self._day(i)

    def op(self, inp):
        return batch_main.run_batch(self.spark, inp["cfg"])

    def traced_op(self, inp, tracer):
        return tracer.traced_day(self, inp)

    def traced_extra(self, tracer):
        self.late = LateBatch(self)
        t0 = time.perf_counter()
        self.late.prepare()
        self.late.detail["prepare_s"] = time.perf_counter() - t0
        tracer.traced_batch(self.late)
        return 1

    def verify(self, inp, report):
        self.done.append(inp)
        problems = []
        if report["verify"]["duplicate_keys"]:
            problems.append(f"day {inp['d']}: {report['verify']['duplicate_keys']} duplicate keys")
        for m in self.MISSIONS:
            if not report["missions"].get(m, {}).get("rows_appended"):
                problems.append(f"day {inp['d']}: no {m} rows appended")
        return problems

    def units(self, inp):
        return sum(g.soundings for g in inp["granules"])

    def final_check(self):
        problems = []
        v = store_ops.verify(self.spark, self.store)
        if v["duplicate_keys"]:
            problems.append(f"store: {v['duplicate_keys']} duplicate slice keys")
        granules = [g for x in self.done for g in x["granules"]]
        if self.late is not None:
            granules += self.late.ready
        want = gen.expected_slice_keys(granules) | self.seed_keys
        got = _slice_keys(self.spark, self.store)
        if got != want:
            problems.append(f"slice keys: {len(got - want)} unexpected, {len(want - got)} missing, "
                            f"e.g. {sorted(got ^ want)[:3]}")
        problems.extend(self._value_ranges(granules))
        if self.late is not None:
            problems.extend(self.late.problems)
        if not self.trace:
            problems.extend(self._rep_checksum())
        return problems

    def _value_ranges(self, granules) -> list[str]:
        """Linear and nearest gridding interpolate within the inputs, so
        every stored value of a day lies in the range of that day's
        sounding values of its variable."""
        lim: dict[tuple, tuple[float, float]] = {}
        for g in granules:
            for v in gen.VALUE_COLS[g.mission]:
                a = np.asarray(g.arrays[v], np.float64)
                a = a[a != gen.FILL]
                if a.size:
                    lo, hi = lim.get((g.day, v), (np.inf, -np.inf))
                    lim[(g.day, v)] = (min(lo, a.min()), max(hi, a.max()))
        rows = (self.spark.read.parquet(self.store)
                .filter(~F.col("day").isin([gen.day_of(d) for d in self.SEED_DAYS]))
                .groupBy(F.col("day").alias("d"), "variable")
                .agg(F.min("value").alias("lo"), F.max("value").alias("hi"),
                     F.count("value").alias("n")).collect())
        bad = [(r.d, r.variable, r.lo, r.hi) for r in rows
               if (r.d, r.variable) not in lim or not r.n
               or r.lo < lim[(r.d, r.variable)][0] - 1e-9
               or r.hi > lim[(r.d, r.variable)][1] + 1e-9]
        return [f"stored values outside their day's input range: {bad[:3]}"] if bad else []

    def _rep_checksum(self) -> list[str]:
        """The first timed day's rows in the store and the warm-up's rep of
        them must have the same store.checksum."""
        spark = self.spark
        stored = os.path.join(self.work, "stored_day")
        rows = spark.read.parquet(self.store).filter(
            F.col("day") == F.lit(gen.day_of(self.done[0]["d"])))
        rows.write.partitionBy(*store_ops.PARTITION_COLS).parquet(stored)
        digests = [store_ops.checksum(spark, p) for p in (stored, self.rep)]
        if digests[0] != digests[1]:
            return [f"day {self.done[0]['d']}: store.checksum {digests[0]}, "
                    f"{digests[1]} for the warm-up's rep of the day"]
        return []

    def detail(self):
        out = {"days": len(self.done)}
        if self.late is not None:
            out["late_batch"] = self.late.detail
        return out


# --- streaming ---------------------------------------------------------------

# Drop files carry the CO2 missions' columns (a superset of both schemas);
# each mission pipeline selects its own.
_ARROW = {
    "granule": pa.string(), "mission": pa.string(), "sounding_idx": pa.int64(),
    "sounding_id": pa.int64(), "time": pa.timestamp("us"),
    "latitude": pa.float32(), "longitude": pa.float32(),
    "vertex_latitude": pa.list_(pa.float32()), "vertex_longitude": pa.list_(pa.float32()),
    "operation_mode": pa.int8(), "target_id": pa.string(), "target_name": pa.string(),
    "xco2_quality_flag": pa.int8(), "xco2": pa.float64(), "xco2_uncertainty": pa.float64(),
    "xco2_x2019": pa.float64(),
}
ARROW_SCHEMA = pa.schema(list(_ARROW.items()))


def _spark_schema():
    from pyspark.sql import types as T

    fields = {f.name: f for s in (SOUNDINGS_OCO3, SOUNDINGS_OCO2) for f in s.fields}
    fields["mission"] = T.StructField("mission", T.StringType())
    return T.StructType([fields[n] for n in _ARROW])


def granule_table(g: gen.Granule) -> pa.Table:
    """One generated CO2 granule as drop rows."""
    n = g.soundings
    cols = {k: v for k, v in g.arrays.items() if k in _ARROW}
    for k in ("vertex_latitude", "vertex_longitude"):
        cols[k] = list(cols[k])
    cols["granule"] = [g.name] * n
    cols["mission"] = [g.mission] * n
    return pa.table({k: cols.get(k, [None] * n) for k in _ARROW}, schema=ARROW_SCHEMA)


class LateBatch:
    """One ``streaming.ingest.start_ingest`` micro-batch (``availableNow``)
    into the daily store, with rollup and the Zarr mirror on and
    ``nearest`` gridding.  The drop file holds

    * a late OCO-3 granule for the store's last committed day, observing
      a target the day did not have: the ``store.merge`` repair path;
    * an OCO-2 granule for a day OCO-3 never delivers: held back by the
      completeness check (expected missions: OCO-3);
    * poison rows (no granule id): dead-lettered.

    The late target's Zarr stores already hold an earlier day, so the
    mirror takes ``append_zarr``'s time-append path.  The batch runs before
    the traced day and is the traced run's warm-up.
    """

    POISON_ROWS = 3
    DEFERRED_DAY = 2000

    def __init__(self, wl: DailyIngest):
        self.wl, self.spark, self.target = wl, wl.spark, wl.late_target
        self.earlier, self.day = wl.SEED_DAYS
        self.problems: list[str] = []
        self.detail: dict = {}

    def prepare(self) -> None:
        wl, spark = self.wl, self.spark
        p = lambda *a: os.path.join(wl.work, "stream", *a)  # noqa: E731
        self.cfg = ingest.IngestConfig(
            input_dir=p("drop"), store_path=wl.store, ledger_path=p("ledger"),
            dead_letter_path=p("dead"), checkpoint_dir=p("ckpt"),
            rollup_path=p("rollup"), zarr_mirror_path=p("zarr"),
            zarr_lat_res=wl.GRID, zarr_lon_res=wl.GRID, expected_missions=("oco3",),
        )
        os.makedirs(self.cfg.input_dir)
        os.makedirs(self.cfg.zarr_mirror_path)
        root = p("granules")
        late = gen.make_day(wl.seed, self.day, root, per_granule=1, granules=1,
                            missions=("oco3",), slot=1, plants=0,
                            targets=[gen.target_ids().index(self.target)])
        held = gen.make_day(wl.seed, self.DEFERRED_DAY, root, per_granule=1, granules=1,
                            missions=("oco2",), plants=0)
        self.ready, self.held = late, held
        table = pa.concat_tables([granule_table(g) for g in late + held])
        bad = table.slice(0, self.POISON_ROWS).set_column(
            0, "granule", pa.nulls(self.POISON_ROWS, pa.string()))
        self.table = pa.concat_tables([table, bad])
        self.schema = _spark_schema()
        self.tdim = batch_main.load_targets(spark, wl.targets["oco3"], "oco3").cache()
        self.transform = ingest.mission_dispatch({"oco3": self.slices})
        # the committed days, as the stream's ledger would hold them
        done = [(gen.day_of(d), "oco3", f"seed{d}") for d in wl.SEED_DAYS]
        (spark.createDataFrame(done, "day date, mission string, granule string")
         .withColumn("batch_id", F.lit(-1)).withColumn("processed_at", F.current_timestamp())
         .write.parquet(self.cfg.ledger_path))
        # the late target's mirror stores, holding the earlier day
        rows = spark.read.parquet(wl.store).filter(
            (F.col("target_id") == self.target)
            & (F.col("day") == F.lit(gen.day_of(self.earlier))))
        for qf in ("pre", "post"):
            zarr_store.export_zarr(
                rows.filter(F.col("qf") == qf).select(*[f.name for f in STORE_SLICE]),
                os.path.join(self.cfg.zarr_mirror_path, f"oco3_{self.target}_{qf}.zarr"),
                wl.GRID, wl.GRID, chunk_t=self.cfg.zarr_chunk_t, bbox=self.cfg.zarr_bbox)
        self.rows_before = spark.read.parquet(wl.store).count()

    def slices(self, rows):
        """The OCO-3 pipeline over stream rows, as ``main.mission_slices``
        runs it over granule files."""
        s = rows.select(*[f.name for f in SOUNDINGS_OCO3.fields])
        g = pipe.process_oco3_granules(s, self.tdim, lon_res=self.wl.GRID,
                                       lat_res=self.wl.GRID, method="nearest")
        out = export_ops.melt_values(g, gen.VALUE_COLS["oco3"], ID_COLS)
        return drop_empty_slices(out, SLICE_COLS, ["value"])

    def drain(self) -> float:
        """Publish the drop file atomically and drain the stream; seconds
        from the drop to the end of its micro-batch (the ledger write is
        the batch's last step)."""
        tmp = os.path.join(self.cfg.input_dir, ".drop.parquet")
        pq.write_table(self.table, tmp)
        t0 = time.perf_counter()
        os.rename(tmp, os.path.join(self.cfg.input_dir, "drop.parquet"))
        q = ingest.start_ingest(self.spark, self.cfg, self.schema, self.transform)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return time.perf_counter() - t0

    def check(self) -> dict:
        """Check the batch's outputs (outside its timed span); returns the
        counts the traced run reports."""
        spark, cfg = self.spark, self.cfg
        # merge kept the day's other rows and added exactly the one-shot
        # batch of the late rows
        raw = spark.read.schema(self.schema).parquet(cfg.input_dir)
        names = [g.name for g in self.ready]
        ref = self.transform(raw.filter(F.col("granule").isin(names)))
        want = _rows(ref)
        got = _rows(spark.read.parquet(cfg.store_path).filter(
            (F.col("target_id") == self.target)
            & (F.col("day") == F.lit(gen.day_of(self.day)))))
        if got != want:
            self.problems.append(f"late rows: store holds {len(got)}, a one-shot batch "
                                 f"of the same rows gives {len(want)}")
        total = spark.read.parquet(cfg.store_path).count()
        if total != self.rows_before + len(want):
            self.problems.append(f"merge: store has {total} rows, want "
                                 f"{self.rows_before} + {len(want)}")
        ledger = [tuple(r) for r in spark.read.parquet(cfg.ledger_path)
                  .filter(F.col("batch_id") >= 0).select("mission", "granule").collect()]
        if sorted(ledger) != sorted((g.mission, g.name) for g in self.ready):
            self.problems.append(f"ledger: batch rows {ledger}, want each ready granule once")
        dead = spark.read.parquet(cfg.dead_letter_path).count()
        if dead != self.POISON_ROWS:
            self.problems.append(f"dead letters: {dead} rows, {self.POISON_ROWS} planted")
        for name in sorted(os.listdir(cfg.zarr_mirror_path)):
            v = zarr_store.verify_zarr(os.path.join(cfg.zarr_mirror_path, name))
            if not v["ok"]:
                self.problems.append(f"zarr {name}: {v}")
        days = {g.day for g in self.ready + self.held}
        ledger_days = {r.day for r in spark.read.parquet(cfg.ledger_path)
                       .filter(F.col("batch_id") >= 0).select("day").distinct().collect()}
        self.detail.update(target=self.target, late_rows=len(want), dead_letters=dead,
                           problems=self.problems)
        return {"ingest.deferred_days": len(days - ledger_days),
                "ingest.dead_letter_rows": dead}


def _rows(df) -> list[tuple]:
    return sorted(
        (r.mission, r.target_id, r.qf, r.time, r.lat_idx, r.lon_idx, r.variable,
         None if r.value is None else round(r.value, 9))
        for r in df.select(*[f.name for f in STORE_SLICE]).collect()
    )


def workloads() -> dict:
    from perfbench.catalog import CatalogQueries

    return {"daily_ingest": DailyIngest, "catalog_queries": CatalogQueries}
