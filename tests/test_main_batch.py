"""Full batch run: run-config YAML + npz granules + targets JSON ->
run_batch -> partitioned store (verified) -> dense export manifest.
The engine analog of `python main.py -i run-config.yaml`."""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pytest

from oco3_data_transformer_spark.config import RunConfig
from oco3_data_transformer_spark.main import load_targets, run_batch
from oco3_data_transformer_spark.sinks import store as store_ops

DAY_EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()


def _write_granule(path, n=12):
    lat = np.linspace(10.0, 10.4, n)
    lon = np.linspace(20.0, 20.4, n)
    d = 0.03
    np.savez(
        path,
        sounding_idx=np.arange(n, dtype=np.int64),
        sounding_id=np.arange(n, dtype=np.int64) + 1000,
        time=np.full(n, np.datetime64("2024-03-01T00:00:00", "us")),
        latitude=lat.astype(np.float32),
        longitude=lon.astype(np.float32),
        vertex_latitude=np.stack([lat - d, lat - d, lat + d, lat + d], 1).astype(np.float32),
        vertex_longitude=np.stack([lon - d, lon + d, lon + d, lon - d], 1).astype(np.float32),
        operation_mode=np.full(n, 4, dtype=np.int8),
        xco2_quality_flag=(np.arange(n) % 3 == 0).astype(np.int8),
        xco2=np.linspace(400, 401, n),
        xco2_uncertainty=np.full(n, 0.5),
    )


@pytest.fixture()
def batch_env(tmp_path):
    _write_granule(tmp_path / "oco3_LtCO2_240301_B11000_1.npz")
    targets = {
        "fossil0001": {
            "name": "Fossil One",
            "bbox": {"min_lon": 19.9, "min_lat": 9.9, "max_lon": 20.6, "max_lat": 10.6},
        }
    }
    (tmp_path / "targets.json").write_text(json.dumps(targets))
    cfg_text = f"""
output:
  local: {tmp_path}/store
  drop-empty: true
  naming: {{pre_qf: pre_root, post_qf: post_root}}
  cog:
    output: {{local: {tmp_path}/export}}
input:
  files:
    - {tmp_path}/oco3_LtCO2_240301_B11000_1.npz
grid: {{latitude: 6, longitude: 6, method: nearest}}
target-file: {{oco3: {tmp_path}/targets.json}}
"""
    (tmp_path / "cfg.yaml").write_text(cfg_text)
    return tmp_path


def test_oco2_targets_centroid_wkt(spark, tmp_path):
    # the reference's OCO-2 target JSON carries centroid_wkt "POINT (lon lat)"
    # (ref TargetInfo.py:387); a centroid dict is the fallback; neither raises
    targets = {
        "fossil0001": {
            "name": "WKT One",
            "bbox": {"min_lon": 1.0, "min_lat": 2.0, "max_lon": 3.0, "max_lat": 4.0},
            "centroid_wkt": "POINT (-118.25 34.05)",
        },
        "fossil0002": {
            "name": "Dict Two",
            "bbox": {"min_lon": 1.0, "min_lat": 2.0, "max_lon": 3.0, "max_lat": 4.0},
            "centroid": {"lon": 5.5, "lat": -6.5},
        },
    }
    p = tmp_path / "t.json"
    p.write_text(json.dumps(targets))
    rows = {r.target_id: r for r in load_targets(spark, str(p), "oco2").collect()}
    assert (rows["fossil0001"].centroid_lon, rows["fossil0001"].centroid_lat) == (-118.25, 34.05)
    assert (rows["fossil0002"].centroid_lon, rows["fossil0002"].centroid_lat) == (5.5, -6.5)

    targets["fossil0003"] = {"name": "No Centroid", "bbox": {}}
    p.write_text(json.dumps(targets))
    with pytest.raises(ValueError, match="fossil0003"):
        load_targets(spark, str(p), "oco2")


def test_batch_run_end_to_end(spark, batch_env):
    cfg = RunConfig.parse_file(str(batch_env / "cfg.yaml"))

    # The granule's target_id/target_name are absent in the npz -> the npz
    # decoder nulls them; OCO-3 segmentation needs target_id, so load
    # targets and verify the dimension loader separately first.
    tdf = load_targets(spark, str(batch_env / "targets.json"), "oco3")
    assert tdf.collect()[0].target_id == "fossil0001"

    # patch granule: segmentation needs per-sounding target ids; rewrite the
    # npz with them included (string arrays round-trip through np.savez)
    import numpy as np
    g = batch_env / "oco3_LtCO2_240301_B11000_1.npz"
    with np.load(g) as z:
        data = {k: z[k] for k in z.files}
    n = len(data["sounding_idx"])
    data["target_id"] = np.array(["fossil0001"] * n)
    data["target_name"] = np.array(["Fossil One"] * n)
    np.savez(g, **data)

    spark.catalog.clearCache()
    report = run_batch(spark, cfg)
    assert report["missions"]["oco3"]["rows_appended"] > 0
    assert report["verify"]["duplicate_keys"] == 0
    assert report["exported_slices"] > 0
    # the pipeline's cached rows are released once the append is written:
    # a long-lived session does not pin one more cached frame per run
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    stored = spark.read.parquet(f"{batch_env}/store")
    assert {r.qf for r in stored.select("qf").distinct().collect()} == {"pre", "post"}
    assert {r.variable for r in stored.select("variable").distinct().collect()} == {
        "xco2", "xco2_uncertainty"
    }

    # idempotence: the same batch again appends nothing
    report2 = run_batch(spark, cfg)
    assert report2["missions"]["oco3"]["rows_appended"] == 0


def _write_sif_granule(path, n=8):
    lat = np.linspace(10.0, 10.3, n)
    lon = np.linspace(20.0, 20.3, n)
    d = 0.03
    np.savez(
        path,
        sounding_idx=np.arange(n, dtype=np.int64),
        delta_time=np.full(n, 1_078_099_200.0),  # 2024-03-01 from 1990 epoch
        Latitude=lat.astype(np.float32),
        Longitude=lon.astype(np.float32),
        Latitude_Corners=np.stack([lat - d, lat - d, lat + d, lat + d], 1).astype(np.float32),
        Longitude_Corners=np.stack([lon - d, lon + d, lon + d, lon - d], 1).astype(np.float32),
        MeasurementMode=np.full(n, 3, dtype=np.int8),
        Quality_Flag=np.zeros(n, dtype=np.int8),
        SequencesIndex=np.zeros(n, dtype=np.int32),
        Daily_SIF_757nm=np.linspace(1.0, 2.0, n),
        # sequence dim arrays (different length: projected reads keep them apart)
        seq_idx=np.array([0], dtype=np.int32),
        SequencesId=np.array(["fossil0001"]),
        SequencesName=np.array(["Fossil One"]),
    )


def test_batch_run_sif(spark, batch_env):
    _write_sif_granule(batch_env / "oco3_LtSIF_240301_B11000_1.npz")
    cfg_text = f"""
output:
  local: {batch_env}/store_sif
  naming: {{pre_qf: pre_root, post_qf: post_root}}
input:
  files:
    - {{path: {batch_env}/oco3_LtSIF_240301_B11000_1.npz, mission: oco3_sif}}
grid: {{latitude: 6, longitude: 6, method: nearest}}
target-file: {{oco3: {batch_env}/targets.json}}
"""
    cfg = RunConfig.parse(cfg_text)
    report = run_batch(spark, cfg)
    assert report["missions"]["oco3_sif"]["rows_appended"] > 0
    stored = spark.read.parquet(f"{batch_env}/store_sif")
    assert {r.mission for r in stored.select("mission").distinct().collect()} == {"oco3_sif"}
    assert {r.variable for r in stored.select("variable").distinct().collect()} == {
        "Daily_SIF_757nm"
    }
    assert {r.target_id for r in stored.select("target_id").distinct().collect()} == {
        "fossil0001"
    }
    # SIF 1990-epoch day resolution
    times = {r.time for r in stored.select("time").distinct().collect()}
    assert times == {dt.datetime(2024, 3, 1)}
