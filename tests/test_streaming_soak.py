"""Whole-DAG streaming soak (VERDICT r05 item 4): granule stream →
session-window region detection → grid kernel → store append/merge →
monthly rollup, PLUS a k-mins sketch sink over the same drop dir — the
stream is KILLED at every barrier of the foreachBatch handler (before the
transform, after the store append, after the late-data merge, after the
rollup refresh — i.e. work committed but ledger not) and resumed from the
checkpoint each time. Done = the final store, rollup, and sketch estimate
are equal to a one-shot BATCH run of the identical operators over the same
raw rows — whole-DAG replay convergence, not per-sink recovery.

The kill points compose with the per-sink crash and replay tests
(test_sketch_stream's kill-between-renames, test_dedup_stream's admission
replay): those prove each sink's own replay story; this proves the story
holds when the sinks hang off ONE pipeline whose ledger commit is the last
barrier. A killed batch must also leave nothing cached behind.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oco3_data_transformer_spark.operators import grid as grid_ops
from oco3_data_transformer_spark.sinks import store
from oco3_data_transformer_spark.streaming import ingest
from oco3_data_transformer_spark.streaming import sketch_stream
from oco3_data_transformer_spark.streaming.sessionize_stream import sessionize_stream

RAW_SCHEMA = T.StructType(
    [
        T.StructField("granule", T.StringType()),
        T.StructField("mission", T.StringType()),
        T.StructField("sounding_idx", T.LongType()),
        T.StructField("target_id", T.StringType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("xco2", T.DoubleType()),
    ]
)

D1 = dt.datetime(2024, 3, 1)
D2 = dt.datetime(2024, 3, 2)
GRID_RES = 4
SESSION_KEYS = ("granule", "mission", "target_id")


def _granule_rows(granule, day, target, t_off_s, n=6):
    """One granule: a single session (2 s cadence, < the 10 s gap) of n
    soundings for one target, offset ``t_off_s`` into the day so distinct
    granules never share a session_start (region identity = start time)."""
    return [
        (
            granule,
            "oco3",
            i,
            target,
            day + dt.timedelta(seconds=t_off_s + 2 * i),
            10.0 + i,
            20.0 + 3 * i,
            400.0 + t_off_s + i,
        )
        for i in range(n)
    ]


def _transform(rows):
    """The real operator composition: session-window region detection →
    per-region nearest-grid kernel → melt to STORE_SLICE rows. Sessions are
    keyed per granule, so the result is identical whether rows arrive in
    one batch or many — the property the soak's final equality relies on."""
    sess = sessionize_stream(rows, gap="10 seconds", key_cols=SESSION_KEYS)
    cond = (
        (F.col("s.granule") == F.col("r.granule"))
        & (F.col("s.mission") == F.col("r.mission"))
        & (F.col("s.target_id") == F.col("r.target_id"))
        & (F.col("s.time") >= F.col("r.session_start"))
        & (F.col("s.time") < F.col("r.session_end"))
    )
    assigned = rows.alias("s").join(sess.alias("r"), cond).select(
        F.col("s.mission").alias("mission"),
        F.col("s.target_id").alias("target_id"),
        F.col("r.session_start").alias("region_start"),
        F.col("s.latitude").alias("latitude"),
        F.col("s.longitude").alias("longitude"),
        F.col("s.xco2").alias("xco2"),
    )
    gridded = grid_ops.grid_regions(
        assigned,
        ["mission", "target_id", "region_start"],
        ["xco2"],
        lon_res=GRID_RES,
        lat_res=GRID_RES,
        method="nearest",
    )
    return gridded.select(
        "mission",
        "target_id",
        F.lit("pre").alias("qf"),
        F.col("region_start").alias("time"),
        "lat_idx",
        "lon_idx",
        F.lit("xco2").alias("variable"),
        F.col("xco2").alias("value"),
    )


@pytest.fixture()
def cfg(tmp_path):
    return ingest.IngestConfig(
        input_dir=str(tmp_path / "drop"),
        store_path=str(tmp_path / "store"),
        ledger_path=str(tmp_path / "ledger"),
        dead_letter_path=str(tmp_path / "dead"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        expected_missions=("oco3",),
        rollup_path=str(tmp_path / "rollup"),
    )


def _drop(spark, cfg, rows):
    spark.createDataFrame(rows, RAW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(cfg.input_dir)


def _drain(spark, cfg, transform, max_restarts=6):
    """Run the availableNow stream to completion, restarting from the
    checkpoint after every injected kill. Returns the restart count."""
    restarts = 0
    while True:
        q = ingest.start_ingest(spark, cfg, RAW_SCHEMA, transform, available_now=True)
        try:
            q.awaitTermination(180)
            return restarts
        except Exception as e:  # the injected kill surfaces here
            assert "soak-kill" in str(e), f"unexpected stream failure: {e}"
            restarts += 1
            assert restarts <= max_restarts, "kill bombs never drained"


def test_whole_dag_replay_convergence(spark, cfg, tmp_path, monkeypatch):
    spark.catalog.clearCache()
    armed: set[str] = set()

    def bomb_after(name, fn):
        def inner(*a, **k):
            out = fn(*a, **k)
            if name in armed:  # crash AFTER the barrier's work committed
                armed.discard(name)
                raise RuntimeError(f"soak-kill:{name}")
            return out

        return inner

    monkeypatch.setattr(
        ingest.store_ops, "append", bomb_after("append", store.append)
    )
    monkeypatch.setattr(ingest.store_ops, "merge", bomb_after("merge", store.merge))
    monkeypatch.setattr(
        ingest.store_ops,
        "rollup_refresh",
        bomb_after("rollup", store.rollup_refresh),
    )

    def killable_transform(rows):
        if "transform" in armed:  # crash BEFORE any work
            armed.discard("transform")
            raise RuntimeError("soak-kill:transform")
        return _transform(rows)

    # ---- phase 1: two day-1 granules; kill at transform, append, rollup
    _drop(spark, cfg, _granule_rows("g1", D1, "tA", 0))
    _drop(spark, cfg, _granule_rows("g2", D1, "tB", 300))
    armed.update({"transform", "append", "rollup"})
    restarts = _drain(spark, cfg, killable_transform)
    assert restarts == 3 and not armed  # every bomb fired exactly once

    # ---- phase 2: a day-2 granule AND a late day-1 granule (repair path);
    # kill after the merge committed but before the ledger
    _drop(spark, cfg, _granule_rows("g3", D2, "tA", 0))
    _drop(spark, cfg, _granule_rows("g4", D1, "tA", 600))
    armed.add("merge")
    restarts = _drain(spark, cfg, killable_transform)
    assert restarts == 1 and not armed
    # every batch, killed or not, released the rows it cached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # ---- sketch sink over the same drop dir: its own query + checkpoint,
    # killed (query stopped) between batches and resumed
    sk_path = str(tmp_path / "sketch")

    def run_sketch(files_per_trigger):
        q = (
            spark.readStream.schema(RAW_SCHEMA)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(cfg.input_dir)
            .writeStream.foreachBatch(
                sketch_stream.kmins_sink(sk_path, ["mission"], "granule")
            )
            .option("checkpointLocation", str(tmp_path / "sk_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        return q

    q = run_sketch(1)
    # kill after the first micro-batch lands, then resume to drain the rest
    import time

    for _ in range(600):
        if q.recentProgress:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    run_sketch(1).awaitTermination(180)

    # ---- batch reference: the IDENTICAL operators over all raw rows in
    # one shot, against fresh paths
    raw = spark.read.schema(RAW_SCHEMA).parquet(cfg.input_dir)
    ref_store = str(tmp_path / "ref_store")
    ref_rollup = str(tmp_path / "ref_rollup")
    slices = _transform(raw)
    store.append(spark, slices, ref_store)
    store.rollup_refresh(spark, ref_store, ref_rollup)

    def rows_of(path):
        return sorted(
            (
                r.mission, r.target_id, r.qf, r.time, r.lat_idx, r.lon_idx,
                r.variable, round(r.value, 9),
            )
            for r in spark.read.parquet(path).collect()
        )

    assert rows_of(cfg.store_path) == rows_of(ref_store)
    assert len(rows_of(cfg.store_path)) == 4 * GRID_RES * GRID_RES  # 4 regions

    def rollup_rows(path):
        return sorted(
            tuple(r) for r in store.rollup_monthly(spark, path).collect()
        )

    assert rollup_rows(cfg.rollup_path) == rollup_rows(ref_rollup)

    # sketch estimate converged to the batch estimate over the same rows
    from oco3_data_transformer_spark.operators.sketch import (
        kmins_estimate_col,
        kmins_sketch,
    )

    got = {
        r.mission: r[1]
        for r in sketch_stream.read_estimates(spark, sk_path, ["mission"]).collect()
    }
    want = {
        r.mission: r[1]
        for r in kmins_sketch(raw, ["mission"], F.col("granule"))
        .select("mission", kmins_estimate_col())
        .collect()
    }
    assert got == want

    # the ledger recorded every granule exactly once despite the replays
    ledger = spark.read.parquet(cfg.ledger_path)
    per_granule = (
        ledger.groupBy("granule").agg(F.countDistinct("batch_id").alias("n")).collect()
    )
    assert {r.granule for r in per_granule} == {"g1", "g2", "g3", "g4"}
