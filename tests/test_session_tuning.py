"""tune_for_input policy (session.py): small inputs get reduced shuffle
width + AQE off (the measured local-floor fix, scripts/floor_matrix.py);
inputs at/above SMALL_INPUT_BYTES keep the untouched cluster defaults —
the property that makes the tuner safe to ship (it can never trade
100 TB robustness for microbench latency)."""

from __future__ import annotations

from oco3_data_transformer_spark import session as sess_mod
from oco3_data_transformer_spark.session import (
    DEFAULT_SHUFFLE_PARTITIONS,
    tune_for_input,
)


def test_small_input_reduces_width_and_disables_aqe(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    applied = tune_for_input(spark, [p])
    assert applied["spark.sql.adaptive.enabled"] == "false"
    # floor 8, cap = the session default; the cap binds when it is below 8
    width = int(applied["spark.sql.shuffle.partitions"])
    assert min(8, DEFAULT_SHUFFLE_PARTITIONS) <= width <= DEFAULT_SHUFFLE_PARTITIONS
    # scan fan-out: small inputs also shrink the split size so the map
    # side uses the cores (PERF.md r7)
    assert int(applied["spark.sql.files.maxPartitionBytes"]) == 4 << 20
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # restore for other tests sharing the session
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))


def test_large_input_keeps_cluster_defaults(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    # make the written bytes count as "large" without writing a GiB
    monkeypatch.setattr(sess_mod, "SMALL_INPUT_BYTES", 1)
    applied = tune_for_input(spark, [p])
    assert applied["spark.sql.adaptive.enabled"] == "true"
    assert int(applied["spark.sql.shuffle.partitions"]) == DEFAULT_SHUFFLE_PARTITIONS
    # splits are parallelism-aware (r10, q10 decomposition): tiny "large"
    # input -> the 16 MiB floor; the 128 MiB cluster default is the cap
    assert int(applied["spark.sql.files.maxPartitionBytes"]) == 16 << 20


def test_large_input_split_sizing_is_parallelism_aware(spark, tmp_path, monkeypatch):
    """~2 task waves per core between the 16 MiB floor and the canonical
    128 MiB cap — at cluster scale total//(2*cores) exceeds the cap, so
    the tuning reduces to the default there (no scale trade-off).
    Exercised through the real code path by inflating the measured byte
    total via a padded sparse file next to the parquet."""
    p = str(tmp_path / "t2.parquet")
    spark.range(100).write.parquet(p)
    monkeypatch.setattr(sess_mod, "SMALL_INPUT_BYTES", 1)
    cores = max(1, spark.sparkContext.defaultParallelism)

    pad = tmp_path / "pad.bin"
    target_total = (1 << 40)  # cluster-scale total -> cap binds
    with open(pad, "wb") as fh:
        fh.seek(target_total - 1)
        fh.write(b"\0")
    applied = tune_for_input(spark, [p, str(pad)])
    assert int(applied["spark.sql.files.maxPartitionBytes"]) == 128 << 20

    mid_total = 4096 << 20  # 4 GiB: between floor and cap on a 32-core box
    with open(pad, "wb") as fh:
        fh.seek(mid_total - 1)
        fh.write(b"\0")
    applied = tune_for_input(spark, [p, str(pad)])
    want = max(16 << 20, min(128 << 20, mid_total // (2 * cores)))
    got = int(applied["spark.sql.files.maxPartitionBytes"])
    assert abs(got - want) <= 1 << 20  # parquet's few KiB shift the total
    # restore session defaults for later tests
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))


def test_missing_paths_count_as_empty(spark, tmp_path):
    applied = tune_for_input(spark, [str(tmp_path / "absent.parquet")])
    assert applied["spark.sql.adaptive.enabled"] == "false"
    assert int(applied["spark.sql.shuffle.partitions"]) == min(8, DEFAULT_SHUFFLE_PARTITIONS)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))


def test_small_input_width_is_capped_by_a_session_default_below_8(spark, tmp_path, monkeypatch):
    """On a box with fewer than 8 cores the session default is the cap:
    the small-input branch never widens the shuffle past the width a
    >= 1 GiB input keeps."""
    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    monkeypatch.setattr(sess_mod, "DEFAULT_SHUFFLE_PARTITIONS", 4)
    applied = tune_for_input(spark, [p])
    assert applied["spark.sql.adaptive.enabled"] == "false"
    assert int(applied["spark.sql.shuffle.partitions"]) == 4
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))


def test_repeated_queries_compile_no_class_twice(spark):
    """A session that repeats its work compiles each generated class once.
    q42 and q119 together compile more classes (76 + 80) than Spark's
    default 100-entry codegen cache holds, so at that default every repeat
    recompiled them all; get_spark sizes the cache to the working set."""
    from __spark_entry__ import SMOKE_SF_DIR as sf
    from oco3_data_transformer_spark.catalog import REGISTRY
    from oco3_data_transformer_spark.sources.registry import TABLES

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    names = ["q42_oco3_pipeline", "q119_neardup_graph_triangles"]

    def run_all() -> int:
        before = compiled.getCount()
        for name in names:
            REGISTRY[name].fn(spark, sf).write.format("noop").mode("overwrite").save()
        return compiled.getCount() - before

    restore = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
    )}
    try:
        tune_for_input(spark, [f"{sf}/{t}.parquet" for t in TABLES])
        run_all()
        assert run_all() == 0
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
