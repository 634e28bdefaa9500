"""SparkSession construction with scale-aware defaults.

The reference pipeline is a single 16 vCPU / 120 GiB node with hand-tuned
thread pools and a semaphore memory guard (BASELINE.md). Here all of that is
delegated to Spark: AQE re-plans at runtime (skew joins, coalesced shuffle
partitions), Arrow accelerates the few pandas-UDF kernels, and shuffle
partition counts are sized by config rather than hard-coded pools.
The engine's work is recurring (the same daily plan every day, the same
catalog pass after pass, in one long-lived session), so the generated-code
cache is sized to hold every class that work compiles: a repeated
operation reuses its compiled classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "oco3-data-transformer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for 100 TB-scale behavior, verified locally:
      - AQE on: runtime shuffle-partition coalescing + skew-join splitting
        replaces the reference's fixed thread pools and INTERP semaphore.
      - Arrow on: the gridding kernel (repartition + mapInPandas) transfers
        columnar batches, not pickled rows.
      - parquet zstd: matches the reference's Blosc-9/zlib-9 stance
        (ref writers/ZarrWriter.py:205) with a splittable columnar format.
      - codegen cache of 4096 classes: Spark's default LRU of 100 is smaller
        than every recurring working set here, so each repeat recompiled
        (Janino) and re-JITted all of its classes; 4096 keeps them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64 MB broadcast ceiling (default 10 MB is conservative for
        # multi-GB executors): mid-size dimensions (e.g. orders at bench
        # scale) broadcast instead of shuffling the fact side. Still
        # size-gated — AQE applies it to RUNTIME-measured sizes, so a
        # genuinely large table never broadcasts at 100 TB.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (e.g. events.ts) is read as long nanos and
        # converted to a proper timestamp in sources/registry.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache (static conf: builder only). The default
        # 100-entry LRU thrashes on every recurring working set: one OCO-3
        # run_batch day compiles ~100 classes, one perfbench catalog pass
        # 183, the whole 132-query catalog 1,803. At 100 a repeat
        # compiles them all again; at 4096 it compiles ~0, for
        # ~15 MB more Metaspace and ~16 MB more code heap after a
        # whole-catalog pass.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


# Below this input size the per-stage scheduling floor, not throughput,
# dominates local-mode latency; above it the cluster defaults (AQE on,
# full shuffle width) win and MUST stay on (skew-join splitting, runtime
# coalescing). 1 GiB ~= the point where sf-scaled measurements showed the
# defaults matching or beating the reduced-width configs (PERF.md).
SMALL_INPUT_BYTES = 1 << 30
_PARTITION_TARGET_BYTES = 8 << 20


def tune_for_input(spark, paths: list[str] | str) -> dict[str, str]:
    """Scale-aware session tuning for SMALL inputs (runtime-settable confs).

    Local-mode Spark pays a fixed per-stage scheduling cost; with toy
    inputs (a few MB per table) the default 32-way shuffle width plus
    AQE's stage-by-stage re-planning is pure latency — measured at sf0.1
    it is ~25% of the 14-query headline total (scripts/floor_matrix.py:
    8.67 s baseline -> 6.31 s at 8 partitions / AQE off; the same setting
    is neutral-to-better at the 10x fixture and NOT applied at >=1 GiB).
    This helper sizes ``spark.sql.shuffle.partitions`` to the measured
    input (one ~8 MiB partition target, floor 8, cap = the session
    default; the cap binds over the floor, so a session default below 8
    is the width) and disables AQE only under :data:`SMALL_INPUT_BYTES`.
    Inputs at or above the threshold get the untouched cluster defaults —
    at 100 TB this function is a no-op by construction, so nothing here
    trades scale robustness for microbenchmark latency.

    Returns the conf dict it applied (useful for logging / restoring).
    """
    if isinstance(paths, str):
        paths = [paths]
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(hconf)
        if fs.exists(jpath):
            total += fs.getContentSummary(jpath).getLength()
    if total >= SMALL_INPUT_BYTES:
        # Large inputs keep cluster-default shuffle width + AQE, but the
        # SPLIT size is still sized to the box: a single ~1 GiB fact
        # table at the 128 MiB default is only ~9 scan tasks, so every
        # pipelined stage rooted at that scan (scan -> broadcast-probe ->
        # partial agg) runs on 9 of the 32 cores. Targeting ~2 waves of
        # tasks per core (floor 16 MiB, cap 128 MiB) saturates the box:
        # q10's sf10 leg measured 2.63 s @128 MiB -> 2.28 s @<=64 MiB,
        # flat below (r10 decomposition, scripts/floor_split_q10.py).
        # At cluster scale `total // (2*cores)` exceeds the 128 MiB cap,
        # so this reduces to the canonical default there — no scale
        # trade-off.
        cores = max(1, spark.sparkContext.defaultParallelism)
        split = max(16 << 20, min(128 << 20, total // (2 * cores)))
        applied = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
            "spark.sql.files.maxPartitionBytes": str(int(split)),
        }
    else:
        parts = min(DEFAULT_SHUFFLE_PARTITIONS, max(8, total // _PARTITION_TARGET_BYTES))
        applied = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(int(parts)),
            # Scan fan-out: at the default 128 MiB split size a toy table
            # is 1-3 splits, so the MAP side (scan + partial agg + grouped-
            # map kernels) runs on 1-3 of the 32 cores — the dual of the
            # shuffle-width problem this helper already fixes. 4 MiB keeps
            # small scans parallel (measured: sf1 floor-query set -22%,
            # sf0.1 -14%, PERF.md r7); at >= 1 GiB the natural split count
            # already saturates the cores and the default is restored.
            "spark.sql.files.maxPartitionBytes": str(4 << 20),
        }
    for k, v in applied.items():
        spark.conf.set(k, v)
    return applied
