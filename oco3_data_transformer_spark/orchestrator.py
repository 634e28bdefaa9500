"""Incremental deploy orchestrator — the engine analog of the reference's
CMR-driven deploy loop (ref tools/deploy/run.py:485-862, stac_filter
:217-334): catalog search → availability classification → tail hold-back →
new/changed-day routing → store write → ledger update.

Composition of existing primitives, no new physics:
  - availability classification = F10 gap/date-range status (catalog q09
    shape): PRESENT / EXPECTED_ABSENT (outside the mission's data range or
    inside a known gap) / ABSENT;
  - hold-back = the reference's *tail* rule (ref run.py:291-305): find the
    LATEST day where no expected collection is ABSENT and process every day
    up to it — an earlier incomplete day is processed anyway, because a
    later complete day proves the missing granule is not merely late;
  - routing (ref run.py:311-331): a day absent from the ledger appends; a
    ledger day whose granule set changed re-stages ALL of the day's
    granules and day-scope-overwrites (store.upsert — the partition wipe is
    correct here precisely because the full day is re-staged);
  - ledger = (day, mission, granule) Parquet control table, written only
    after a successful store write (ref run.py:828-854).

All planning tables (features, availability, ledger) are control-plane
metadata — thousands of rows for years of mission data — so the
collect()s that drive routing are driver-side by design; the data-plane
(sounding rows → slices → store) stays fully distributed.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans import pipeline as pipe
from .sinks import store as store_ops

FEATURES_SCHEMA = "granule string, mission string, day date"


@dataclass
class DeployConfig:
    store_path: str
    ledger_path: str
    missions: tuple[str, ...] = ("oco3", "oco2", "oco3_sif")
    # mission -> (first day with data, last day with data); outside ->
    # EXPECTED_ABSENT (ref run.py:278-285 DATE_RANGES)
    date_ranges: dict = field(default_factory=dict)
    # (mission, start_day, end_day) inclusive known gaps (ref run.py:86-98)
    known_gaps: tuple = ()
    # optional continuous aggregate: refresh the monthly rollup for the
    # months each cycle's writes invalidated (sinks/store.rollup_refresh)
    rollup_path: str | None = None


def classify_availability(
    spark: SparkSession, features: DataFrame, cfg: DeployConfig
) -> DataFrame:
    """(day, mission, status) over the full calendar spanned by the search
    results — F10 classification (ref run.py:257-285)."""
    span = features.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = span.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    missions = spark.createDataFrame([(m,) for m in cfg.missions], ["mission"])
    grid = cal.crossJoin(F.broadcast(missions))
    present = features.select("day", "mission").distinct().withColumn("__p", F.lit(1))
    out = grid.join(present, ["day", "mission"], "left")

    expected_absent = F.lit(False)
    for m, (lo, hi) in (cfg.date_ranges or {}).items():
        expected_absent = expected_absent | (
            (F.col("mission") == m)
            & ~F.col("day").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
        )
    for m, lo, hi in cfg.known_gaps:
        expected_absent = expected_absent | (
            (F.col("mission") == m)
            & F.col("day").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
        )
    status = (
        F.when(F.col("__p").isNotNull(), "PRESENT")
        .when(expected_absent, "EXPECTED_ABSENT")
        .otherwise("ABSENT")
    )
    return out.select("day", "mission", status.alias("status"))


def holdback_watermark(availability: DataFrame):
    """The reference's tail hold-back (ref run.py:291-305): the latest day
    where no mission is ABSENT. Returns that day (or None — nothing is
    confirmed complete). Every day <= watermark is processable."""
    per_day = availability.groupBy("day").agg(
        F.max((F.col("status") == "ABSENT").cast("int")).alias("has_absent")
    )
    row = (
        per_day.filter(F.col("has_absent") == 0)
        .agg(F.max("day").alias("wm"))
        .collect()[0]
    )
    return row["wm"]


def read_ledger(spark: SparkSession, cfg: DeployConfig) -> DataFrame:
    if store_ops.store_exists(spark, cfg.ledger_path):
        return spark.read.parquet(cfg.ledger_path).select("day", "mission", "granule")
    return spark.createDataFrame([], FEATURES_SCHEMA)


def plan_work(
    features: DataFrame, ledger: DataFrame, watermark
) -> tuple[list, list]:
    """Split processable days into (append_days, repair_days) — ref
    run.py:311-331: unseen day → append; ledger day whose granule set
    CHANGED in any way (new granule, or a previously-processed granule no
    longer in the catalog — the reference compares key sets, not just
    additions) → repair (the full day re-stages). Unchanged days drop out.
    Ledger days outside the current search window are never touched."""
    if watermark is None:
        return [], []
    eligible = features.filter(F.col("day") <= F.lit(watermark))
    led = ledger.withColumn("__known", F.lit(1))
    tagged = eligible.join(led, ["day", "mission", "granule"], "left")
    per_day = tagged.groupBy("day").agg(
        F.max(F.col("__known").isNull().cast("int")).alias("has_new"),
    )
    # days (within the search window) whose ledger rows vanished from the
    # catalog — a granule revocation also changes the set
    removed = (
        ledger.join(eligible.select("day").distinct(), "day", "left_semi")
        .join(eligible, ["day", "mission", "granule"], "left_anti")
        .select("day").distinct().withColumn("__removed", F.lit(1))
    )
    day_seen = ledger.select("day").distinct().withColumn("__seen", F.lit(1))
    per_day = per_day.join(day_seen, "day", "left").join(removed, "day", "left")
    rows = (
        per_day.filter((F.col("has_new") == 1) | F.col("__removed").isNotNull())
        .select("day", "__seen").collect()
    )
    append_days = sorted(r["day"] for r in rows if r["__seen"] is None)
    repair_days = sorted(r["day"] for r in rows if r["__seen"] is not None)
    return append_days, repair_days


def run_deploy(
    spark: SparkSession,
    features: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    cfg: DeployConfig,
) -> dict:
    """One deploy cycle. ``features``: the catalog-search result
    (granule, mission, day) — the CMR/STAC stub; ``transform``: maps the
    selected feature rows to STORE_SLICE rows (granule read + mission
    pipeline + melt), exactly like the streaming ingest's transform.
    Returns a report dict; the ledger is updated only after the store write
    succeeds."""
    availability = classify_availability(spark, features, cfg)
    wm = holdback_watermark(availability)
    ledger = read_ledger(spark, cfg)
    append_days, repair_days = plan_work(features, ledger, wm)
    report = {
        "watermark": str(wm) if wm else None,
        "append_days": [str(d) for d in append_days],
        "repair_days": [str(d) for d in repair_days],
        "rows_appended": 0,
        "rows_repaired": 0,
    }
    if not append_days and not repair_days:
        return report

    # each write releases the rows its transform's pipelines cached
    if append_days:
        batch = features.filter(F.col("day").isin(append_days))
        with pipe.cached_rows():
            slices = transform(batch)
            report["rows_appended"] = store_ops.append(spark, slices, cfg.store_path)
    if repair_days:
        # re-stage ALL granules of the repaired days (the reference re-adds
        # previously processed collections, ref run.py:315-331) so the
        # partition-scoped overwrite rebuilds the complete day
        batch = features.filter(F.col("day").isin(repair_days))
        with pipe.cached_rows():
            report["rows_repaired"] = store_ops.upsert(spark, transform(batch), cfg.store_path)

    done_days = [*append_days, *repair_days]
    new_ledger = (
        features.filter(F.col("day").isin(done_days))
        .select("mission", "granule", "day")
        .distinct()
        .withColumn("processed_at", F.current_timestamp())
    )
    # day-partitioned dynamic overwrite: each processed day replaces ONLY
    # its own ledger partition (repair days swap in the new granule set,
    # append days add a partition). No read-modify-rewrite of the whole
    # ledger — and a mid-write failure can clobber at most the partitions
    # being written, never the untouched history.
    (
        new_ledger.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(cfg.ledger_path)
    )
    if cfg.rollup_path is not None:
        touched = (
            spark.read.parquet(cfg.store_path)
            .select("mission", "qf", "day")
            .distinct()
            .filter(F.col("day").isin(done_days))
        )
        store_ops.rollup_refresh(spark, cfg.store_path, cfg.rollup_path, touched)

    # A7: refresh store-level coverage attrs after a successful cycle
    report["attrs"] = store_ops.write_attrs(spark, cfg.store_path)
    return report


def granule_transform(run_cfg, fmt: str = "npz") -> Callable[[DataFrame], DataFrame]:
    """Transform factory for :func:`run_deploy` over REAL granule files:
    feature rows carry the granule *path* in ``granule``; the returned
    callable groups paths by mission, runs each mission's pipeline
    (main.mission_slices: read → segment/QF/grid/mask → melt), and unions
    the slices. The path list per cycle is control-plane metadata."""
    from .main import mission_slices

    def transform(batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        rows = batch.select("granule", "mission").distinct().collect()
        by_mission: dict[str, list[str]] = {}
        for r in rows:
            by_mission.setdefault(r.mission, []).append(r.granule)
        out: DataFrame | None = None
        for mission, paths in sorted(by_mission.items()):
            s = mission_slices(spark, run_cfg, mission, paths, fmt)
            out = s if out is None else out.unionByName(s)
        assert out is not None
        return out

    return transform


def features_from_catalog(spark: SparkSession, entries: list[dict]) -> DataFrame:
    """Catalog-search stub → feature table: validated {path, mission} entries
    (S4 file_list_input) with the data-day parsed from the granule filename
    (C1, ref processors/Processor.py:79-83)."""
    from .functions.scalar import granule_date
    from .sources.granules import file_list_input

    files = file_list_input(spark, entries)
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return files.select(
        F.col("path").alias("granule"),
        "mission",
        F.coalesce(F.to_date("day"), granule_date(fname)).alias("day"),
    )


def deploy_main(argv: list[str] | None = None) -> int:
    """CLI: one incremental deploy cycle over a granule catalog file.

        python -m oco3_data_transformer_spark.orchestrator \\
            -i run-config.yaml --catalog catalog.json [--ledger PATH]

    ``catalog.json``: list of {path, mission[, day]} — the CMR/STAC search
    result analog. The ledger defaults to ``<store_path>_ledger``.
    """
    import argparse
    import json

    from .config import RunConfig
    from .session import get_spark

    ap = argparse.ArgumentParser(description="Run one incremental deploy cycle")
    ap.add_argument("-i", "--input", required=True, help="run-config YAML path")
    ap.add_argument("--catalog", required=True, help="granule catalog JSON path")
    ap.add_argument("--ledger", default=None, help="ledger parquet path")
    ap.add_argument("--format", default="npz", help="granule format (npz|nc4)")
    args = ap.parse_args(argv)
    run_cfg = RunConfig.parse_file(args.input)
    with open(args.catalog) as f:
        entries = json.load(f)
    spark = get_spark("oco-spark-deploy", shuffle_partitions=run_cfg.shuffle_partitions)
    feats = features_from_catalog(spark, entries)
    missions = tuple(sorted({e["mission"] for e in entries}))
    cfg = DeployConfig(
        store_path=run_cfg.store_path,
        ledger_path=args.ledger or f"{run_cfg.store_path}_ledger",
        missions=missions,
    )
    report = run_deploy(spark, feats, granule_transform(run_cfg, args.format), cfg)
    print(json.dumps(report, default=str))
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(deploy_main())
