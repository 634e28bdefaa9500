"""The gridded time-series store (S6/S7/S10, SURVEY.md §2.1) as partitioned
Parquet with idempotent-append / upsert / verify semantics.

The reference appends to Zarr along ``time`` and then *verifies* the store
(monotonic time, no duplicate slices) with auto-sort/dedup/rewrite plus a
backup/restore machinery around every write (ref writers/ZarrWriter.py:82-408,
utils/ZarrUtils.py:115-344, tools/repair/repair.py:65-312). A columnar table
store makes most of that machinery unnecessary:

  - rows are long-format ``(mission, target_id, qf, time, lat_idx, lon_idx,
    variable, value)`` slices (schemas.STORE_SLICE);
  - *append* is idempotent: slices whose key already exists are anti-joined
    away first (the reference's keep-first duplicate semantics, ref
    writers/ZarrWriter.py:374-378 ``drop_duplicates(keep='first')``);
  - *upsert* replaces whole slice-partitions via dynamic partition overwrite
    (the late-data "repair" path, ref tools/deploy/run.py:315-331) — an
    ACID-table MERGE on a Delta/Iceberg catalog in production, expressed
    here over plain Parquet partitions;
  - *verify* reports (and repair rewrites) the invariants the reference
    enforces post-append; sort order is irrelevant to a relational store, so
    only duplicate keys are a real defect.

Partition layout ``(mission, qf, date(time))`` keeps time-range queries
partition-pruned (F8) and makes upsert touch only the affected days —
at 100 TB each day×mission×qf partition is rewritten independently, no
store-wide lock or backup copy.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import scalar as scalar_fns
from .adapter import ParquetStorageAdapter, StorageAdapter, StorageConflictError

# The identity of one stored raster cell (ref ZarrWriter dedups on `time`
# alone because one store holds one mission×target×qf; the unified table
# carries them as columns).
SLICE_KEY = ["mission", "target_id", "qf", "time", "lat_idx", "lon_idx", "variable"]
PARTITION_COLS = ["mission", "qf", "day"]

# Every physical table operation routes through the adapter seam
# (sinks/adapter.py): swap in DeltaStorageAdapter (or any StorageAdapter)
# per-call or process-wide for an ACID table format — the store logic
# above the seam is format-agnostic and tested against a fake adapter.
DEFAULT_ADAPTER: StorageAdapter = ParquetStorageAdapter()


def _adapter(adapter: StorageAdapter | None) -> StorageAdapter:
    return adapter if adapter is not None else DEFAULT_ADAPTER


def _with_day(df: DataFrame) -> DataFrame:
    return df.withColumn("day", F.to_date("time"))


# Optimistic-concurrency retries for ACID adapters: a StorageConflictError
# means another writer committed between this cycle's read and its write,
# so the WHOLE read-compute-write cycle re-runs (re-reading picks up the
# conflicting commit's rows — a write-only retry would drop them). Bounded:
# the format serializes commits, so each retry observes a strictly newer
# version and livelock needs CONFLICT_RETRIES concurrent committers in a row.
CONFLICT_RETRIES = 3


def _retry_conflicts(cycle):
    for attempt in range(CONFLICT_RETRIES + 1):
        try:
            return cycle()
        except StorageConflictError:
            if attempt == CONFLICT_RETRIES:
                raise


def store_exists(
    spark: SparkSession, path: str, adapter: StorageAdapter | None = None
) -> bool:
    return _adapter(adapter).exists(spark, path)


def append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    adapter: StorageAdapter | None = None,
) -> int:
    """Idempotent append: drop incoming rows whose slice key is already
    present (keep-first, ref writers/ZarrWriter.py:374-378), then append.
    Returns the number of rows written.

    The existing-key anti-join reads only the partitions the incoming batch
    touches (partition filter on day/mission/qf), not the whole store.

    The incoming rows are materialized once (``localCheckpoint``) before
    their three consumers — the touched-day frame, the anti-join and the
    count-then-write — so ``df``'s plan (for a mission pipeline: the
    masked grid kernel) executes exactly once per call. The anti-joined
    rows are materialized as well, so the count and the write share one
    store scan.

    The check-then-write pair runs inside the adapter's per-path write
    lock: two racing appends otherwise both pass the duplicate check
    before either writes (and plain Parquet's commit staging is not even
    append-vs-append safe). See sinks/adapter.py for the concurrency
    contract per format.
    """
    a = _adapter(adapter)

    def cycle() -> int:
        with a.write_lock(path):
            new = _with_day(df.dropDuplicates(SLICE_KEY)).localCheckpoint(eager=True)
            if a.exists(spark, path):
                existing = a.read(spark, path)
                # restrict the anti-join to the touched days via a broadcast
                # semi-join on the distinct-day frame: dynamic partition pruning
                # skips the untouched store partitions, and a backfill spanning
                # thousands of days never materializes a thousands-literal IN list
                days = F.broadcast(new.select("day").distinct())
                existing = existing.join(days, on="day", how="left_semi").select(*SLICE_KEY)
                # materialized too: the count and the write then share one
                # scan of the store and one anti-join
                deduped = new.join(existing, on=SLICE_KEY, how="left_anti").localCheckpoint(
                    eager=True
                )
            else:
                deduped = new
            n = deduped.count()
            if n:
                a.append(deduped, path, PARTITION_COLS)
            return n

    return _retry_conflicts(cycle)


def upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    adapter: StorageAdapter | None = None,
) -> int:
    """Late-data repair path: replace every (mission, qf, day) partition the
    batch touches with the batch's rows for it (ref tools/deploy/run.py:315-331
    — a new granule for an already-processed day reprocesses that day).
    Dynamic partition overwrite = partition-scoped MERGE.
    Returns the number of rows written (so repair-only cycles report their
    rewrite volume, not 0). The batch is materialized once, like
    :func:`append`'s, so the count and the overwrite share one execution."""
    a = _adapter(adapter)

    def cycle() -> int:
        with a.write_lock(path):
            new = _with_day(df.dropDuplicates(SLICE_KEY)).localCheckpoint(eager=True)
            n = new.count()
            a.overwrite_partitions(new, path, PARTITION_COLS)
            return n

    return _retry_conflicts(cycle)


def merge(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    adapter: StorageAdapter | None = None,
) -> None:
    """True partition-scoped MERGE for the late-data repair path: in every
    (mission, qf, day) partition the batch touches, batch rows replace
    matching slice keys and all *other* existing rows of the partition are
    kept. Plain :func:`upsert` wipes the partition to exactly the batch's
    rows — correct only when the caller re-stages the full day (the
    reference's orchestrator does, ref tools/deploy/run.py:315-331); this
    variant is safe when the batch carries just the late granule's slices.

    The batch rows are materialized once (``localCheckpoint``) before their
    three consumers — the touched partitions, the anti-join and the union —
    so ``df``'s plan executes once per call, as in :func:`append`. The merged
    rows are localCheckpoint-ed before the overwrite so the write does not
    lazily re-read the files it is replacing."""
    a = _adapter(adapter)

    def cycle() -> None:
        with a.write_lock(path):
            new = _with_day(df.dropDuplicates(SLICE_KEY)).localCheckpoint(eager=True)
            if a.exists(spark, path):
                existing = a.read(spark, path)
                touched = new.select(*PARTITION_COLS).distinct()
                kept = (
                    existing.join(F.broadcast(touched), on=PARTITION_COLS, how="left_semi")
                    .join(new.select(*SLICE_KEY), on=SLICE_KEY, how="left_anti")
                )
                new = new.unionByName(kept).localCheckpoint(eager=True)
            a.overwrite_partitions(new, path, PARTITION_COLS)

    _retry_conflicts(cycle)


def verify(
    spark: SparkSession, path: str, adapter: StorageAdapter | None = None
) -> dict:
    """S7: post-append invariants — no duplicate slice keys, per-store time
    coverage (A7). Returns a report dict (the reference logs + auto-repairs;
    ref writers/ZarrWriter.py:328-408)."""
    df = _adapter(adapter).read(spark, path)
    dupes = (
        df.groupBy(*SLICE_KEY).agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    cov = df.agg(
        F.min("time").alias("start"), F.max("time").alias("end"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0]
    return {
        "duplicate_keys": dupes.count(),
        "coverage_start": cov["start"],
        "coverage_end": cov["end"],
        "rows": cov["rows"],
    }


def repair(
    spark: SparkSession, path: str, adapter: StorageAdapter | None = None
) -> int:
    """Dedup-rewrite repair (replaces backup/restore S10): keep one row per
    slice key (deterministic min value — the reference keeps the first
    written; Parquet row order is not a contract, so pick by value), rewrite
    only the affected partitions."""
    a = _adapter(adapter)

    def cycle() -> int:
        with a.write_lock(path):
            df = a.read(spark, path)
            bad_days = (
                df.groupBy(*PARTITION_COLS).agg(F.count(F.lit(1)).alias("n"))
                .join(
                    df.dropDuplicates(SLICE_KEY).groupBy(*PARTITION_COLS)
                    .agg(F.count(F.lit(1)).alias("m")),
                    on=PARTITION_COLS,
                )
                .filter(F.col("n") > F.col("m"))
                .select(*PARTITION_COLS)
            )
            # keep-first as a min_by hash aggregate instead of a sort-based
            # row_number: map-side partial combine, no per-partition sort, and
            # the shuffle carries one row per slice key instead of every
            # duplicate (same swap as catalog q25, VERDICT r06 item 1).
            # Ordering key: value asc with NULLs last — encode as
            # (value IS NULL, value) so struct comparison matches
            # asc_nulls_last semantics.
            rest = [c for c in df.columns if c not in SLICE_KEY]
            first = F.min_by(
                F.struct(*rest),
                F.struct(F.col("value").isNull().alias("__vnull"), F.col("value")),
            ).alias("__first")
            fixed = (
                df.join(F.broadcast(bad_days), on=PARTITION_COLS, how="left_semi")
                .groupBy(*SLICE_KEY)
                .agg(first)
                .select(*SLICE_KEY, *[F.col(f"__first.{c}").alias(c) for c in rest])
                .select(*df.columns)
            )
            n = fixed.count()
            if n:
                a.overwrite_partitions(fixed, path, PARTITION_COLS)
            return n

    return _retry_conflicts(cycle)


def compact(
    spark: SparkSession, path: str, max_files_per_partition: int = 1
) -> int:
    """Maintenance: rewrite partitions fragmented by incremental appends
    into ``max_files_per_partition`` files each (the columnar analog of the
    reference's Zarr consolidation/rechunk passes, ref
    tools/climatology/main.py:373-486 rechunk, utils/ZarrUtils.py:115-205).

    Only partitions that are actually fragmented are rewritten (dynamic
    partition overwrite); untouched partitions keep their files — at 100 TB
    a nightly compaction touches just the recently-appended days. Returns
    the number of partitions rewritten.

    File-layout maintenance is Parquet-physical by nature (ACID formats
    replace this whole function with OPTIMIZE / rewrite_data_files), so it
    deliberately sits BELOW the adapter seam."""
    df = spark.read.parquet(path)
    frag = (
        df.select(*PARTITION_COLS, F.input_file_name().alias("__f"))
        .groupBy(*PARTITION_COLS)
        .agg(F.countDistinct("__f").alias("__nf"))
        .filter(F.col("__nf") > max_files_per_partition)
        .select(*PARTITION_COLS)
    )
    n_parts = frag.count()
    if n_parts:
        rows = df.join(F.broadcast(frag), on=PARTITION_COLS, how="left_semi")
        # salt splits one partition's rows across max_files tasks; each task
        # writes one file per partition value it holds, so the rewrite
        # yields exactly <= max_files files per partition
        salted = rows.withColumn(
            "__salt", F.pmod(F.xxhash64(*SLICE_KEY), F.lit(max_files_per_partition))
        )
        (
            salted.repartition(
                n_parts * max_files_per_partition, *PARTITION_COLS, "__salt"
            )
            .drop("__salt")
            .localCheckpoint(eager=True)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PARTITION_COLS)
            .parquet(path)
        )
    return n_parts


def cluster_spatial(
    spark: SparkSession, path: str, bits: int = 8
) -> int:
    """Maintenance: Z-order clustering rewrite. Rows within each partition
    are rewritten sorted by the Morton key of (lat_idx, lon_idx), so
    parquet row-group min/max statistics on the grid indexes become
    selective for spatial range reads (bbox subsetting F8/J1: a reader
    filtering lat_idx/lon_idx ranges skips most row groups instead of
    scanning the day). The columnar analog of the reference's spatial
    chunking choice (ref writers/ZarrWriter.py:49 chunks lat 250 x lon 250
    x time 5 -- its chunk GRID is exactly what makes bbox reads cheap in
    Zarr; Z-ordering gets the same effect in a single parquet sort order).

    Rewrites every partition (a layout pass, like Delta's OPTIMIZE
    ZORDER); run it on recently-appended days via upsert-style scoping if
    the store is large. Returns the number of partitions rewritten.

    Fault model: the clustered copy is written to a STAGING directory
    (source files untouched — plain fault-tolerant lineage, no
    localCheckpoint materialization of the whole store) and then swapped
    in via two directory renames. An executor loss mid-write just retries
    tasks; a crash before the swap leaves the store untouched with a
    stale staging dir that the next run deletes; the only non-atomic
    window is between the two renames, during which the full original
    still exists at the ``.__zorder_old`` path."""
    df = spark.read.parquet(path)
    parts = df.select(*PARTITION_COLS).distinct()
    n_parts = parts.count()
    if not n_parts:
        return 0

    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    src = HPath(path)
    fs = src.getFileSystem(conf)
    staging_str = path.rstrip("/") + ".__zorder_staging"
    old_str = path.rstrip("/") + ".__zorder_old"
    staging, old = HPath(staging_str), HPath(old_str)
    for stale in (staging, old):
        if fs.exists(stale):
            fs.delete(stale, True)

    z = scalar_fns.morton_key(F.col("lat_idx"), F.col("lon_idx"), bits)
    (
        df.withColumn("__z", z)
        .repartition(n_parts, *PARTITION_COLS)
        .sortWithinPartitions(*PARTITION_COLS, "__z")
        .drop("__z")
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .parquet(staging_str)
    )
    # carry the attrs sidecar byte-for-byte, then swap
    attrs = HPath(src, _ATTRS_FILE)
    if fs.exists(attrs):
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, attrs, fs, HPath(staging, _ATTRS_FILE), False, conf
        )
    fs.rename(src, old)
    fs.rename(staging, src)
    fs.delete(old, True)
    return n_parts


def coverage(spark: SparkSession, path: str) -> dict:
    """A7 store coverage attrs."""
    row = (
        spark.read.parquet(path)
        .agg(F.min("time").alias("s"), F.max("time").alias("e"))
        .collect()[0]
    )
    return {"coverage_start": row["s"], "coverage_end": row["e"]}


_ATTRS_FILE = "_store_attrs.json"


def write_attrs(
    spark: SparkSession, path: str, extra: dict | None = None,
    cov: dict | None = None,
) -> dict:
    """A7: persist store-level attributes — time coverage plus caller
    metadata (title, grid resolution, QF naming) — the reference maintains
    these as Zarr attrs on every write (ref writers/ZarrWriter.py:140-167);
    here they live in a ``_store_attrs.json`` sidecar next to the
    partitions (underscore prefix → ignored by parquet readers).

    ``cov``: the store's coverage when the caller already has it (a
    :func:`verify` report carries it); otherwise the store is scanned."""
    import json

    if cov is None:
        cov = coverage(spark, path)
    attrs = {k: str(cov[k]) for k in ("coverage_start", "coverage_end")}
    attrs["updated_at"] = dt.datetime.now(dt.timezone.utc).isoformat()
    attrs.update({k: v for k, v in (extra or {}).items()})
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path, _ATTRS_FILE)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    out.write(bytearray(json.dumps(attrs, indent=2).encode()))
    out.close()
    return attrs


def read_attrs(spark: SparkSession, path: str) -> dict | None:
    import json

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path, _ATTRS_FILE)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = bytes(
            sc._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode())


def checksum(spark: SparkSession, path: str, buckets: int = 256) -> str:
    """S12: deterministic whole-store digest — a two-level Merkle fold
    (the reference folds per-file digests the same way,
    ref tools/zarrChecksum/checksum.py:142-189).

    Level 1 buckets every row digest by its own leading bits (content-derived,
    so the result is invariant to how the data is partitioned on disk or in
    the shuffle), sorts within the bucket, and folds to one md5 per bucket.
    Level 2 folds the ``buckets`` bucket digests in bucket order. No stage
    materializes more than ~rows/buckets digests in one aggregation buffer —
    unlike a single global ``collect_list``, which would pull every row digest
    of a 100 TB store into one task. Size ``buckets`` ~ rows/1e6 at scale.
    """
    df = spark.read.parquet(path)
    row_digest = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)]))
    level1 = (
        df.select(row_digest.alias("d"))
        # bucket id = first 16 bits of the row's own md5 → content-derived
        .withColumn("b", (F.conv(F.substring("d", 1, 4), 16, 10).cast("long") % buckets))
        .groupBy("b")
        .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("d")))).alias("bd"))
    )
    out = level1.agg(
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("b", "bd"))), lambda s: s["bd"]
                ),
            )
        ).alias("digest")
    )
    return out.collect()[0]["digest"]


# ---------------------------------------------------------------------------
# Continuous aggregate (incremental rollup maintenance)
# ---------------------------------------------------------------------------
#
# The reference's climatology tool (A1/A2, ref tools/climatology/main.py:
# 183-329) recomputes temporal means from the full store on every run. A
# table store can maintain the monthly aggregate *incrementally*: writes
# invalidate the (mission, qf, month) groups they touch, and a refresh
# recomputes exactly those groups from the partition-pruned facts — the
# hypertable "continuous aggregate" pattern. The rollup stores PARTIAL
# aggregates (sum/count, not mean) so coarser consolidations (A2
# month-of-year across years) re-merge rollup rows without ever re-reading
# facts. Sums accumulate in DECIMAL, so a refresh is bit-identical however
# the underlying scan is partitioned — incremental and full refreshes can
# be compared with exact equality.

ROLLUP_GROUP = ["mission", "target_id", "qf", "variable", "month"]
ROLLUP_PARTITION_COLS = ["mission", "qf", "month"]
_SUM_DEC = "decimal(30,10)"


def _rollup_aggregate(facts: DataFrame) -> DataFrame:
    return (
        facts.withColumn("month", F.trunc(F.col("day"), "month"))
        .groupBy(*ROLLUP_GROUP)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.col("value").cast(_SUM_DEC)).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count_distinct("day").alias("n_days"),
        )
    )


def rollup_refresh(
    spark: SparkSession,
    store_path: str,
    rollup_path: str,
    touched_days: DataFrame | None = None,
) -> int:
    """Refresh the monthly continuous aggregate.

    ``touched_days`` — a (mission, qf, day) frame of the partitions a write
    just touched (what :func:`append`/:func:`upsert`/:func:`merge` batches
    know row-locally) — scopes the refresh to the invalidated months only:
    the month set expands to its day spans, and the facts scan is a
    broadcast semi-join on (mission, qf, day), so dynamic partition pruning
    reads only those store partitions. With ``touched_days=None`` the whole
    rollup is rebuilt. Either way the write is a dynamic partition
    overwrite of the affected (mission, qf, month) rollup partitions —
    untouched months keep their files.

    Note: a month that loses ALL its rows to an external deletion keeps a
    stale rollup partition until a full refresh; the store's own write
    paths never empty a partition, so incremental refresh is exact for
    them (the model test replays random write histories to prove it).
    Returns the number of rollup rows written.
    """
    facts = spark.read.parquet(store_path)
    if touched_days is not None:
        month_days = (
            touched_days.select(
                "mission", "qf", F.trunc(F.col("day"), "month").alias("month")
            )
            .distinct()
            .select(
                "mission",
                "qf",
                F.explode(
                    F.sequence(F.col("month"), F.last_day("month"))
                ).alias("day"),
            )
        )
        facts = facts.join(
            F.broadcast(month_days), on=["mission", "qf", "day"], how="left_semi"
        )
    agg = _rollup_aggregate(facts)
    n = agg.count()
    if n or touched_days is None:
        (
            agg.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*ROLLUP_PARTITION_COLS)
            .parquet(rollup_path)
        )
    return n


def touched_days_of(df: DataFrame) -> DataFrame:
    """The (mission, qf, day) partitions a batch touches — the invalidation
    set to hand :func:`rollup_refresh` after a write of ``df``."""
    return _with_day(df).select("mission", "qf", "day").distinct()


def rollup_monthly(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Finalized monthly climatology served from the rollup (A1 shape):
    mean = sum/count materializes only at read time; no fact rows are
    touched."""
    r = spark.read.parquet(rollup_path)
    return r.select(
        *ROLLUP_GROUP,
        "n_obs",
        "n_days",
        (F.col("sum_value") / F.col("n_obs")).cast("double").alias("mean_value"),
        "min_value",
        "max_value",
    )


def rollup_month_of_year(spark: SparkSession, rollup_path: str) -> DataFrame:
    """A2 month-of-year consolidation ACROSS years, computed purely by
    re-merging rollup partials (sums add, counts add, min/max fold) —
    the payoff of storing partial aggregates: the consolidation never
    reads facts (ref tools/climatology/main.py:281-329)."""
    r = spark.read.parquet(rollup_path)
    return (
        r.groupBy("mission", "target_id", "qf", "variable", F.month("month").alias("moy"))
        .agg(
            F.sum("n_obs").alias("n_obs"),
            F.sum("n_days").alias("n_days"),
            (F.sum("sum_value") / F.sum("n_obs")).cast("double").alias("mean_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
