"""Storage-adapter seam for the gridded store (S6/S7/S10).

Every physical table operation the store performs — existence probe, read,
append, dynamic-partition overwrite — goes through ONE adapter object, so
the table format is swappable without touching the store's logic
(MIGRATION.md's "Delta/Iceberg swap in transparently", now a tested seam:
tests/test_store_adapter.py drives the full append/merge/verify/repair
surface through a recording fake and races concurrent writers).

Two adapters ship:

  - :class:`ParquetStorageAdapter` (default) — plain partitioned Parquet,
    exactly the store's historical behavior. Parquet has NO commit
    protocol for concurrent writers: two simultaneous append jobs share
    the ``_temporary`` staging dir (first committer to finish deletes the
    other's in-flight task files) and the idempotent-append's
    check-then-write is not atomic. The adapter therefore serializes
    writes per path with an in-process lock — sufficient for the
    single-driver orchestrator this engine runs under (the reference is
    likewise single-writer: its ZarrWriter takes a store-wide lock via
    backup/verify cycles, ref writers/ZarrWriter.py:82-139). MULTI-driver
    concurrency is exactly what the ACID formats exist for; that is the
    documented boundary of this adapter, not a gap in it.
  - :class:`DeltaStorageAdapter` — Delta Lake, import-gated on the
    ``delta`` package (absent in this sandbox). Same call surface; its
    optimistic-concurrency commit log makes the per-path lock unnecessary
    across processes, so ``supports_concurrent_writers`` is True and the
    store's verify/repair safety net becomes a no-op check rather than a
    correctness requirement.
"""

from __future__ import annotations

import threading
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


class StorageConflictError(RuntimeError):
    """Another writer committed between this operation's read and its
    write (an optimistic-concurrency conflict — Delta's
    Concurrent*Exception family). The caller must re-run the WHOLE
    read-compute-write cycle, not just the write: the conflicting commit
    may contain rows the recompute has to observe (a blind write retry
    would silently drop them). sinks/store.py's mutators do exactly that
    (bounded retries); convergence is guaranteed because the format
    serializes commits, so each retry observes a strictly newer table
    version."""


def _delta_conflict_types() -> tuple:
    """Delta's retryable optimistic-concurrency exception classes
    (public API: delta.exceptions). Resolved lazily so the adapter module
    imports without the package."""
    from delta import exceptions as dex

    names = (
        "ConcurrentWriteException",
        "ConcurrentAppendException",
        "ConcurrentDeleteReadException",
        "ConcurrentDeleteDeleteException",
        "ConcurrentTransactionException",
        "MetadataChangedException",
        "ProtocolChangedException",
    )
    return tuple(getattr(dex, n) for n in names if hasattr(dex, n))


class StorageAdapter:
    """Interface: the five primitives the store needs from a table format."""

    #: True when the format's commit protocol makes simultaneous writers
    #: from DIFFERENT processes safe (ACID formats). When False the
    #: adapter must still make same-process writers safe (write_lock).
    supports_concurrent_writers = False

    def exists(self, spark: SparkSession, path: str) -> bool:
        raise NotImplementedError

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        raise NotImplementedError

    def append(self, df: DataFrame, path: str, partition_cols: list[str]) -> None:
        raise NotImplementedError

    def overwrite_partitions(
        self, df: DataFrame, path: str, partition_cols: list[str]
    ) -> None:
        """Replace exactly the partitions present in ``df`` (dynamic
        partition overwrite — the partition-scoped MERGE primitive)."""
        raise NotImplementedError

    @contextmanager
    def write_lock(self, path: str):
        """Critical section for one logical store mutation (the
        check-then-write of an idempotent append, a merge's
        read-union-overwrite). Formats without multi-writer commit
        protocols serialize here; ACID formats may yield immediately."""
        yield


_PATH_LOCKS: dict[str, threading.Lock] = defaultdict(threading.Lock)
_PATH_LOCKS_GUARD = threading.Lock()


def _lock_for(path: str) -> threading.Lock:
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS[path]


class ParquetStorageAdapter(StorageAdapter):
    """Partitioned Parquet + in-process per-path write serialization."""

    supports_concurrent_writers = False

    def exists(self, spark: SparkSession, path: str) -> bool:
        # Explicit filesystem probe (same fix as streaming/dedup_stream.py:110):
        # exists() guards DESTRUCTIVE decisions — merge() treats False as
        # "store absent" and dynamic-overwrites partitions with only the
        # batch rows — so only a genuinely-absent path may return False.
        # A broad try/except around a read would turn any transient FS or
        # permission error into silent data loss; fs.exists lets real read
        # errors propagate and the caller retry.
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(path)

    def append(self, df: DataFrame, path: str, partition_cols: list[str]) -> None:
        df.write.mode("append").partitionBy(*partition_cols).parquet(path)

    def overwrite_partitions(
        self, df: DataFrame, path: str, partition_cols: list[str]
    ) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    @contextmanager
    def write_lock(self, path: str):
        with _lock_for(path):
            yield


class DeltaStorageAdapter(StorageAdapter):
    """Delta Lake: ACID commit log -> true concurrent-writer safety.

    Import-gated: constructing it without the ``delta`` package raises
    NotImplementedError (no delta wheel is installed here; the body is the
    real implementation)."""

    supports_concurrent_writers = True

    def __init__(self) -> None:
        try:
            import delta  # noqa: F401
        except ImportError as e:  # pragma: no cover - env-gated
            raise NotImplementedError(
                "DeltaStorageAdapter requires the 'delta-spark' package and a "
                "session built with configure_spark_with_delta_pip"
            ) from e

    def exists(self, spark: SparkSession, path: str) -> bool:
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(spark, path)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.format("delta").load(path)

    def append(self, df, path, partition_cols):
        try:
            df.write.format("delta").mode("append").partitionBy(
                *partition_cols
            ).save(path)
        except _delta_conflict_types() as e:
            raise StorageConflictError(str(e)) from e

    def overwrite_partitions(self, df, path, partition_cols):
        try:
            (
                df.write.format("delta")
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_cols)
                .save(path)
            )
        except _delta_conflict_types() as e:
            raise StorageConflictError(str(e)) from e
