"""The traced run: spans, per-layer decomposition and Spark counters.

A span records its name, start, end, parent span and run id, and holds
the status-store counters of the jobs that finished inside it (snapshot
at span end, because the stores keep only ~1000 entries).  Each span sets
a Spark job group named after itself.  Spans stay in memory and land in
the detail file once, at the end of the run.

Layers are lazy, so wrapping them only times the DataFrame build.  The
traced ingest operation therefore captures each layer's output frame
while the pipeline is built (by wrapping the layer's public function from
outside the package) and then forces each prefix to the ``noop`` sink
with the cache cleared: read -> segment -> assign -> joins -> grid ->
grid+mask -> slices.  A layer's self time is the difference between
consecutive cumulative prefix times; row counts of the segment, grid and
slices prefixes ride on those writes as observed metrics, and the mask
UDF's counters are read around the mask prefix alone (one execution of
it).  The store append then runs as in the untraced operation.

The streaming micro-batch runs its sinks eagerly inside ``foreachBatch``,
so there wrapping their public functions times them directly.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from oco3_data_transformer_spark import main as batch_main
from oco3_data_transformer_spark.operators import geometry
from oco3_data_transformer_spark.operators import grid as grid_ops
from oco3_data_transformer_spark.operators import joins as join_ops
from oco3_data_transformer_spark.operators import sessionize as sess_ops
from oco3_data_transformer_spark.plans import pipeline as pipe
from oco3_data_transformer_spark.sinks import export as export_ops
from oco3_data_transformer_spark.sinks import store as store_ops
from oco3_data_transformer_spark.sinks import zarr_store
from oco3_data_transformer_spark.sinks.adapter import StorageConflictError
from oco3_data_transformer_spark.sources import granules as granule_src
from oco3_data_transformer_spark.streaming import ingest

from perfbench.catalog import FAMILIES
from perfbench.status import COUNTERS, StatusReader, task_skew

PREFIXES = ("read", "segment", "assign", "joins", "grid", "mask", "slices")

# (name, unit) of every per-layer metric a traced run reports.
PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.decode_s", "s"), ("sources.granules", "count"),
    ("sources.soundings", "count"), ("sources.bytes_in", "bytes"),
    ("sessionize.self_s", "s"), ("sessionize.regions", "count"),
    ("joins.self_s", "s"), ("joins.regions_kept", "ratio"),
    ("grid.self_s", "s"), ("grid.groups", "count"), ("grid.points", "count"),
    ("grid.cells", "count"), ("grid.kernel_runs", "count"),
    ("grid.task_skew", "ratio"), ("grid.parallelism", "ratio"),
    ("mask.self_s", "s"), ("mask.pairs_tested", "count"),
    ("mask.cells_kept", "ratio"), ("mask.udf_runs", "count"),
    ("slices.self_s", "s"), ("slices.rows", "count"),
    ("store.append_s", "s"), ("store.merge_s", "s"), ("store.rollup_s", "s"),
    ("store.rows_written", "count"),
    ("store.bytes_written", "bytes"), ("store.files_written", "count"),
    ("store.conflict_retries", "count"), ("store.input_execs_per_write", "count"),
    ("zarr.write_s", "s"), ("zarr.chunks_written", "count"), ("zarr.bytes_written", "bytes"),
    ("ingest.batches", "count"), ("ingest.batch_s", "s"), ("ingest.deferred_days", "count"),
    ("ingest.dead_letter_rows", "count"), ("ingest.repair_batches", "count"),
    *[(f"catalog.{fam}_s", "s") for fam in FAMILIES],
    *[(f"catalog.{q}.{part}_s", "s") for qs in FAMILIES.values() for q in qs
      for part in ("build", "exec")],
    *[(f"spark.{c}", "bytes" if c.endswith("bytes") else "s" if c.endswith("_s") else "count")
      for c in COUNTERS],
    ("trace.overhead", "ratio"),
]

KERNEL = "fit_partition("  # the grid kernel's node in a physical plan


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark, self.run_id = spark, run_id
        self.sc = spark.sparkContext
        self.reader = StatusReader(spark)
        self.cores = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.ops: list[dict] = []  # per traced operation: layer -> value
        self.late: dict = {}  # the streaming micro-batch's layer values

    def _charge(self, rec: dict, tasks: bool = False):
        """Add the jobs finished since the last charge to ``rec``: each job
        lands in exactly one span, the innermost open one."""
        snap = self.reader.delta(tasks=tasks)
        for c, v in snap.counters.items():
            rec["spark"][c] += v
        rec["kernel_execs"] += snap.count_plans(KERNEL)
        return snap

    @contextlib.contextmanager
    def span(self, name: str, tasks: bool = False):
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self._charge(parent)
        else:
            self.reader.mark()
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None,
               "spark": {c: 0 for c in COUNTERS}, "kernel_execs": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{self.run_id}/{rec['id']}", name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            snap = self._charge(rec, tasks=tasks)
            if tasks:
                rec["task_skew"] = task_skew(snap.task_s)
                wall = rec["end"] - rec["start"]
                rec["parallelism"] = sum(snap.task_s) / (wall * self.cores) if wall else 0.0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def force(self, name: str, df, obs: Observation | None = None) -> dict:
        self.spark.catalog.clearCache()
        if obs is not None:
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        with self.span(name, tasks=True) as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec

    def op_counters(self, first_span: int) -> dict:
        """Spark counters of every span since ``first_span``."""
        return {c: sum(rec["spark"][c] for rec in self.spans[first_span:]) for c in COUNTERS}

    # --- ingest -----------------------------------------------------------

    @contextlib.contextmanager
    def capture(self):
        """Wrap the layers' public functions; record the frames the
        pipeline builds (last call wins) and the mask kernel's counters."""
        got: dict = {}
        acc = {k: self.sc.accumulator(0) for k in ("pairs", "kept", "calls")}
        orig = {}

        def patch(mod, name, fn):
            orig[(mod, name)] = getattr(mod, name)
            setattr(mod, name, fn(getattr(mod, name)))

        def keep(key, arg=None):
            def wrap(f):
                def inner(*a, **k):
                    out = f(*a, **k)
                    got[key] = out
                    if arg is not None:
                        got[key + "_in"] = a[arg]
                    return out
                return inner
            return wrap

        def counted(f):
            pairs, kept, calls = acc["pairs"], acc["kept"], acc["calls"]

            def inner(*a, **k):
                out = f(*a, **k)
                pairs.add(len(out))
                kept.add(int(out.sum()))
                calls.add(1)
                return out
            return inner

        def first(f):  # SIF reads twice (soundings, then sequences)
            def inner(*a, **k):
                out = f(*a, **k)
                got.setdefault("read", out)
                return out
            return inner

        patch(granule_src, "read_granules", first)
        patch(sess_ops, "assign_rows_to_regions", keep("assign", arg=1))
        patch(join_ops, "target_lookup", keep("joins"))
        patch(grid_ops, "grid_regions", keep("grid", arg=0))
        for fn in ("process_oco3_granules", "process_oco2_granules", "process_sif_granules"):
            patch(pipe, fn, keep("mask"))
        patch(export_ops, "melt_values", keep("melt"))
        patch(geometry, "boxes_intersect_polygons", counted)
        try:
            yield got, acc
        finally:
            for (mod, name), f in orig.items():
                setattr(mod, name, f)

    def traced_day(self, wl, inp) -> dict:
        """run_batch for one day, decomposed into forced layer prefixes."""
        spark, cfg = self.spark, inp["cfg"]
        first = len(self.spans)
        m: dict = {}
        retries = {"n": 0}
        adapter = store_ops.DEFAULT_ADAPTER

        def counting(f):
            def inner(*a, **k):
                try:
                    return f(*a, **k)
                except StorageConflictError:
                    retries["n"] += 1
                    raise
            return inner

        report: dict = {}
        with self.span("day") as day:
            by_mission: dict[str, list[str]] = {}
            for e in cfg.input_files:
                by_mission.setdefault(e["mission"], []).append(e["path"])
            for mission, paths in by_mission.items():
                with self.capture() as (got, acc):
                    with self.span(f"{mission}.build"):
                        slices = batch_main.mission_slices(spark, cfg, mission, paths)
                got["slices"] = slices
                got["segment"] = got["assign_in"]
                obs = {p: Observation(f"{p}-{len(self.spans)}")
                       for p in ("segment", "grid", "slices")}
                recs = {}
                for p in PREFIXES:
                    before = {k: a.value for k, a in acc.items()}
                    recs[p] = self.force(p, got[p], obs.get(p))
                    if p == "mask":  # one execution of the mask UDF's plan
                        mask = {k: a.value - before[k] for k, a in acc.items()}
                t = {p: self.wall(r) for p, r in recs.items()}
                with self.span(f"{mission}.counts"):
                    keys = ["granule", "mode", "region_id"]
                    points, kept, groups = got["grid_in"].agg(
                        F.count(F.lit(1)), F.count_distinct(*keys),
                        F.count_distinct(*keys, "qf")).first()
                self.spark.catalog.clearCache()
                files0, bytes0 = _tree_size(cfg.store_path)
                adapter.append = counting(adapter.append)
                try:
                    with self.span(f"{mission}.store.append") as app:
                        written = store_ops.append(spark, slices, cfg.store_path)
                finally:
                    del adapter.append
                files1, bytes1 = _tree_size(cfg.store_path)
                prev = 0.0
                for p in PREFIXES:
                    m[f"{p}.self"] = m.get(f"{p}.self", 0.0) + max(0.0, t[p] - prev)
                    prev = t[p]
                for k, v in {
                    "sources.granules": len(paths),
                    "sources.soundings": sum(g.soundings for g in inp["granules"]
                                             if g.mission == mission),
                    "sources.bytes_in": sum(os.path.getsize(p) for p in paths),
                    "sessionize.regions": obs["segment"].get["rows"],
                    "regions_kept": kept, "grid.groups": groups, "grid.points": points,
                    "grid.cells": obs["grid"].get["rows"],
                    "mask.pairs_tested": mask["pairs"], "mask.kept": mask["kept"],
                    "mask.udf_runs": mask["calls"],
                    "slices.rows": obs["slices"].get["rows"], "store.append_s": self.wall(app),
                    "store.rows_written": written,
                    "store.bytes_written": bytes1 - bytes0,
                    "store.files_written": files1 - files0,
                    "store.conflict_retries": retries["n"],
                    "store.input_execs_per_write": app["kernel_execs"],
                }.items():
                    m[k] = m.get(k, 0) + v
                m["grid.task_skew"] = recs["grid"]["task_skew"]
                m["grid.parallelism"] = recs["grid"]["parallelism"]
                report[mission] = {"rows_appended": written}
            with self.span("store.verify"):
                verify = store_ops.verify(spark, cfg.store_path)
            with self.span("store.attrs"):
                store_ops.write_attrs(spark, cfg.store_path, {"grid_method": cfg.grid_method})
        m["grid.kernel_runs"] = sum(r.get("kernel_execs", 0) for r in self.spans[first:]
                                    if r["name"].endswith("store.append"))
        out = {
            "sources.decode_s": m["read.self"],
            "sessionize.self_s": m["segment.self"] + m["assign.self"],
            "joins.self_s": m["joins.self"],
            "joins.regions_kept": m["regions_kept"] / max(1, m["sessionize.regions"]),
            "grid.self_s": m["grid.self"],
            "mask.self_s": m["mask.self"],
            "mask.cells_kept": m["mask.kept"] / max(1, m["mask.pairs_tested"]),
            "slices.self_s": m["slices.self"],
        }
        out.update({k: v for k, v in m.items() if "." in k and not k.endswith(".self")
                    and k not in ("mask.kept",)})
        out.update({f"spark.{k}": v for k, v in self.op_counters(first).items()})
        out["latency_s"] = self.wall(day)
        # what the untraced run_batch executes: build, append, verify, attrs
        out["untraced_s"] = sum(self.wall(r) for r in self.spans[first:] if r["name"].endswith(
            (".build", ".store.append", "store.verify", "store.attrs")))
        self.ops.append(out)
        return {"missions": report, "verify": verify}

    # --- streaming --------------------------------------------------------

    def traced_batch(self, late) -> None:
        """One streaming micro-batch (:class:`perfbench.workloads.LateBatch`)."""
        first = len(self.spans)
        spent: dict[str, float] = {}
        batches: list[float] = []
        orig = {}

        def timed(mod, name, key):
            f = orig[(mod, name)] = getattr(mod, name)

            def inner(*a, **k):
                t0 = time.perf_counter()
                try:
                    return f(*a, **k)
                finally:
                    spent[key] = spent.get(key, 0.0) + time.perf_counter() - t0
            setattr(mod, name, inner)

        def per_batch(make):
            def wrapped(*a, **k):
                process = make(*a, **k)

                def inner(batch, batch_id):
                    t0 = time.perf_counter()
                    try:
                        return process(batch, batch_id)
                    finally:
                        batches.append(time.perf_counter() - t0)
                return inner
            return wrapped

        timed(store_ops, "merge", "store.merge_s")
        timed(store_ops, "rollup_refresh", "store.rollup_s")
        timed(zarr_store, "append_zarr", "zarr.write_s")
        timed(zarr_store, "export_zarr", "zarr.write_s")
        orig[(ingest, "make_batch_processor")] = ingest.make_batch_processor
        ingest.make_batch_processor = per_batch(ingest.make_batch_processor)
        files0, bytes0 = _tree_size(late.cfg.zarr_mirror_path)
        try:
            with self.span("late.batch") as rec:
                latency = late.drain()
        finally:
            for (mod, name), f in orig.items():
                setattr(mod, name, f)
        files1, bytes1 = _tree_size(late.cfg.zarr_mirror_path)
        out = {k: spent.get(k, 0.0) for k in
               ("store.merge_s", "store.rollup_s", "zarr.write_s")}
        out.update({
            "zarr.chunks_written": files1 - files0, "zarr.bytes_written": bytes1 - bytes0,
            "ingest.batches": len(batches), "ingest.batch_s": sum(batches),
            "ingest.repair_batches": int("store.merge_s" in spent),
            "late.latency_s": latency,
        })
        out.update({f"spark.late.{k}": v for k, v in self.op_counters(first).items()})
        with self.span("late.check"):
            out.update(late.check())
        self.late = out

    # --- catalog ----------------------------------------------------------

    def traced_query(self, wl, q) -> None:
        from oco3_data_transformer_spark.catalog import REGISTRY

        from perfbench.catalog import query_name

        first = len(self.spans)
        with self.span(f"catalog.{q}") as rec:
            with self.span(f"catalog.{q}.build") as b:
                df = REGISTRY[query_name(q)].fn(self.spark, wl.sf_dir)
            with self.span(f"catalog.{q}.exec", tasks=True) as e:
                df.write.format("noop").mode("overwrite").save()
        out = {f"catalog.{q}.build_s": self.wall(b), f"catalog.{q}.exec_s": self.wall(e),
               "query": q, "latency_s": self.wall(rec)}
        out.update({f"spark.{k}": v for k, v in self.op_counters(first).items()})
        self.ops.append(out)

    # --- summary ----------------------------------------------------------

    def layer_metrics(self, pass_size: int = 1) -> dict:
        """Median over traced operations of each layer metric; Spark
        counters and catalog family sums are per pass."""
        keys = {k for op in self.ops for k in op
                if k not in ("query", "latency_s", "untraced_s")}
        out = {}
        for k in keys:
            vals = [op[k] for op in self.ops if k in op]
            if k.startswith("spark."):
                out[k] = sum(vals) * pass_size / len(self.ops)
            else:
                out[k] = statistics.median(vals)
        out.update(self.late)
        for fam, qs in FAMILIES.items():
            per_q = [out[f"catalog.{q}.build_s"] + out[f"catalog.{q}.exec_s"]
                     for q in qs if f"catalog.{q}.build_s" in out]
            if per_q:
                out[f"catalog.{fam}_s"] = sum(per_q)
        return out

