"""Batch entry point: the engine analog of the reference's
``python main.py -i run-config.yaml`` (ref main.py:806-861 parse,
:138-645 process_inputs → merge → sink).

One declarative flow replaces the reference's granule/backup/write thread
pools: granules are partitions, the pre/post-QF branches are one plan, the
sink append is idempotent (no backup/verify/repair machinery), and export
is an optional second action over the written store.

    python -m oco3_data_transformer_spark.main -i run-config.yaml
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import RunConfig
from .operators.filters import drop_empty_slices
from .plans import pipeline as pipe
from .schemas import (
    SIF_SEQUENCES,
    SOUNDINGS_OCO2,
    SOUNDINGS_OCO3,
    SOUNDINGS_SIF,
    TARGETS_OCO3,
    TARGETS_OCO2,
)
from .sinks import export as export_ops
from .sinks import store as store_ops
from .sources import granules as granule_src

SOUNDING_SCHEMAS = {
    "oco3": SOUNDINGS_OCO3,
    "oco2": SOUNDINGS_OCO2,
    "oco3_sif": SOUNDINGS_SIF,
}

VALUE_COLS = {
    "oco3": ["xco2", "xco2_uncertainty"],
    "oco2": ["xco2", "xco2_uncertainty", "xco2_x2019"],
    "oco3_sif": ["Daily_SIF_757nm"],
}


def _centroid_lonlat(tid: str, meta: dict) -> tuple[float, float]:
    """OCO-2 target centroid: the reference's JSON carries it as
    ``centroid_wkt`` "POINT (lon lat)" (ref readers/TargetInfo.py:387,
    targets_oco2-pub.json); a plain ``centroid: {lon, lat}`` dict is accepted
    as a fallback. A target with neither is a config error — silently null
    centroids would void every nearest-centroid association downstream."""
    wkt = meta.get("centroid_wkt")
    if wkt:
        try:
            inner = wkt[wkt.index("(") + 1 : wkt.rindex(")")].split()
            return float(inner[0]), float(inner[1])
        except (ValueError, IndexError) as e:
            raise ValueError(f"target {tid}: malformed centroid_wkt {wkt!r}") from e
    c = meta.get("centroid") or {}
    if c.get("lon") is not None and c.get("lat") is not None:
        return float(c["lon"]), float(c["lat"])
    raise ValueError(f"target {tid}: OCO-2 target needs centroid_wkt or centroid")


def load_targets(spark: SparkSession, path: str, mission: str) -> DataFrame:
    """Target dimension from the reference's JSON layout
    (ref README.md:377-420: {target_id: {name, bbox{...}}}; OCO-2 adds a
    centroid)."""
    raw = json.load(open(path))
    rows = []
    for tid, meta in raw.items():
        bbox = meta.get("bbox") or {}
        base = (
            tid, meta.get("name", tid),
            bbox.get("min_lon"), bbox.get("min_lat"),
            bbox.get("max_lon"), bbox.get("max_lat"),
        )
        if mission == "oco2":
            lon, lat = _centroid_lonlat(tid, meta)
            rows.append((tid, base[1], lon, lat, *base[2:]))
        else:
            rows.append(base)
    schema = TARGETS_OCO2 if mission == "oco2" else TARGETS_OCO3
    return spark.createDataFrame(rows, schema)


def mission_slices(
    spark: SparkSession, cfg: RunConfig, mission: str, paths: list[str],
    fmt: str = "npz",
) -> DataFrame:
    """One mission's granule paths → STORE_SLICE rows: read → mission
    pipeline → melt → (drop-empty). Shared by the batch CLI and the deploy
    orchestrator's transform."""
    schema = SOUNDING_SCHEMAS[mission]
    soundings = granule_src.read_granules(spark, paths, schema, fmt=fmt)
    needs_targets = not (mission == "oco3" and cfg.global_mode)
    # SIF has no own target file in the reference; it reuses the OCO-3
    # targets JSON (ref sample-run-config.yaml target-file keys)
    tpath = cfg.targets.get(mission) or cfg.targets.get("oco3")
    if needs_targets and not tpath:
        raise ValueError(f"target-file.{mission} required for target-focused run")
    targets = load_targets(spark, tpath, mission) if needs_targets else None
    value_cols = [
        v for v in (cfg.variables.get(mission) or VALUE_COLS[mission])
        if v in [f.name for f in schema.fields]
    ] or VALUE_COLS[mission]

    if mission == "oco3":
        if cfg.global_mode:
            gridded = pipe.process_oco3_global(
                soundings, lon_res=cfg.grid_lon_res, lat_res=cfg.grid_lat_res,
                method=cfg.grid_method, value_cols=value_cols,
                mask_scale=cfg.mask_scale,
            ).withColumn("mission", F.lit("oco3")).withColumn(
                "target_id", F.coalesce(F.col("target_id"), F.lit("global"))
            )
        else:
            gridded = pipe.process_oco3_granules(
                soundings, targets, lon_res=cfg.grid_lon_res,
                lat_res=cfg.grid_lat_res, method=cfg.grid_method,
                value_cols=value_cols, mask_scale=cfg.mask_scale,
            )
    elif mission == "oco2":
        gridded = pipe.process_oco2_granules(
            soundings, targets, lon_res=cfg.grid_lon_res,
            lat_res=cfg.grid_lat_res, method=cfg.grid_method,
            value_cols=value_cols, mask_scale=cfg.mask_scale,
        )
    else:  # oco3_sif: the sequence dim rides in the same granule file
        # (the reference reads it from a sibling NetCDF group); a second
        # projected read pulls just the sequence arrays (F1 pushdown
        # means neither read materializes the other's variables)
        sequences = granule_src.read_granules(spark, paths, SIF_SEQUENCES, fmt=fmt)
        gridded = pipe.process_sif_granules(
            soundings, sequences, targets, lon_res=cfg.grid_lon_res,
            lat_res=cfg.grid_lat_res, method=cfg.grid_method,
            mask_scale=cfg.mask_scale,
        )

    id_cols = ["mission", "target_id", "qf", "time", "lat_idx", "lon_idx"]
    slices = export_ops.melt_values(gridded, value_cols, id_cols)
    if cfg.drop_empty:  # F7: drop all-null (target, qf, day, variable) slices
        slices = drop_empty_slices(
            slices, ["mission", "target_id", "qf", "time", "variable"], ["value"]
        )
    return slices


def run_batch(spark: SparkSession, cfg: RunConfig, fmt: str = "npz") -> dict:
    """Execute one batch run: read per-mission granules → pipeline → melt →
    (drop-empty) → idempotent store append → optional dense export.
    Returns a small report dict (rows appended per mission, verify result).
    """
    report: dict = {"missions": {}}
    by_mission: dict[str, list[str]] = {}
    for e in cfg.input_files:
        by_mission.setdefault(e["mission"], []).append(e["path"])

    for mission, paths in by_mission.items():
        # the pipeline's cached rows are released once the append has
        # materialized the slices
        with pipe.cached_rows():
            slices = mission_slices(spark, cfg, mission, paths, fmt)
            appended = store_ops.append(spark, slices, cfg.store_path)
        report["missions"][mission] = {"rows_appended": appended}

    report["verify"] = store_ops.verify(spark, cfg.store_path)
    # A7: persist store-level attrs (coverage + run metadata) on every write,
    # the reference's Zarr-attr maintenance (ref writers/ZarrWriter.py:140-167);
    # the coverage is verify's, so the store is scanned once
    report["attrs"] = store_ops.write_attrs(
        spark, cfg.store_path,
        {
            "grid_lat_res": cfg.grid_lat_res, "grid_lon_res": cfg.grid_lon_res,
            "grid_method": cfg.grid_method,
            **{f"naming_{k}": v for k, v in cfg.naming.items()},
            **{f"title_{k}": v for k, v in cfg.title.items()},
        },
        cov=report["verify"],
    )
    if cfg.export_path:
        # georeference each raster with ITS target's grid bbox (global
        # slices fall back to the global mesh bbox inside export_slices)
        bboxes = None
        tframes = [
            load_targets(spark, path, mission)
            .select("target_id", "min_lon", "min_lat", "max_lon", "max_lat")
            for mission, path in cfg.targets.items()
        ]
        if tframes:
            bboxes = tframes[0]
            for t in tframes[1:]:
                bboxes = bboxes.unionByName(t)
            bboxes = bboxes.dropDuplicates(["target_id"])
        out = export_ops.export_slices(
            spark.read.parquet(cfg.store_path),
            lat_res=cfg.grid_lat_res, lon_res=cfg.grid_lon_res,
            target_bboxes=bboxes,
        )
        out.write.mode("overwrite").parquet(cfg.export_path)
        report["exported_slices"] = spark.read.parquet(cfg.export_path).count()
    return report


def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    ap = argparse.ArgumentParser(description="Run one batch pipeline")
    ap.add_argument("-i", "--input", required=True, help="run-config YAML path")
    ap.add_argument("--format", default="npz", help="granule format (npz|nc4)")
    args = ap.parse_args(argv)
    cfg = RunConfig.parse_file(args.input)
    spark = get_spark("oco-spark-batch", shuffle_partitions=cfg.shuffle_partitions)
    report = run_batch(spark, cfg, fmt=args.format)
    print(json.dumps(report, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
