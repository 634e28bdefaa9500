#!/usr/bin/env python3
"""The benchmark's own self-tests.  Run from the repository root:

    python3 perfbench/selftest.py

* the status-store reader on a known two-stage job;
* generator determinism per seed (granules and catalog tables);
* the slice-key oracle against a real ``run_batch`` on a tiny day with
  all three missions (so the OCO-2 and SIF plants are checked too).

Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import numpy as np


def check_status_reader(spark) -> None:
    from pyspark.sql import functions as F

    from perfbench.status import StatusReader

    reader = StatusReader(spark)
    (spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()
     .write.format("noop").mode("overwrite").save())
    snap = reader.delta(tasks=True)
    c = snap.counters
    assert c["sql_execs"] == 1, c
    assert c["stages"] == 2, c  # map side + reduce side
    assert c["tasks"] >= 5 and len(snap.task_s) == c["tasks"], c
    assert c["shuffle_write_bytes"] > 0 and c["shuffle_read_bytes"] > 0, c
    assert snap.plans and "HashAggregate" in snap.plans[0]
    assert reader.delta().counters["jobs"] == 0  # nothing new since the delta


def check_determinism(tmp: str) -> None:
    from perfbench import gen
    from perfbench.catalog import make_tables

    def day(seed, sub):
        gs = gen.make_day(seed, 3, os.path.join(tmp, sub), per_granule=2, granules=1)
        return {g.name: g.arrays for g in gs}

    a, b, c = day(5, "a"), day(5, "b"), day(6, "c")
    assert a.keys() == b.keys()
    for name in a:
        for k in a[name]:
            assert np.array_equal(a[name][k], b[name][k]), (name, k)
    assert any(not np.array_equal(a[n]["latitude" if "LtSIF" not in n else "Latitude"],
                                  c[n]["latitude" if "LtSIF" not in n else "Latitude"])
               for n in a if n in c) or a.keys() != c.keys()
    import pyarrow.parquet as pq

    make_tables(5, os.path.join(tmp, "t1"), scale=1)
    make_tables(5, os.path.join(tmp, "t2"), scale=1)
    for t in ("lineitem", "documents", "embeddings"):
        assert pq.read_table(os.path.join(tmp, "t1", f"{t}.parquet")).equals(
            pq.read_table(os.path.join(tmp, "t2", f"{t}.parquet"))), t


def check_oracle(spark, tmp: str) -> None:
    from oco3_data_transformer_spark.config import RunConfig
    from oco3_data_transformer_spark.main import run_batch

    from perfbench import gen
    from perfbench.workloads import _slice_keys

    targets = gen.write_targets(os.path.join(tmp, "targets"))
    root = os.path.join(tmp, "tiny")
    granules = gen.make_day(1, 0, root, per_granule=1, granules=1)
    cfg = RunConfig(
        store_path=os.path.join(tmp, "store"),
        input_files=[{"path": os.path.join(root, g.name), "mission": g.mission}
                     for g in granules],
        grid_lat_res=8, grid_lon_res=8, grid_method="linear", targets=targets,
    )
    report = run_batch(spark, cfg)
    assert report["verify"]["duplicate_keys"] == 0, report
    want = gen.expected_slice_keys(granules)
    got = _slice_keys(spark, cfg.store_path)
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])
    assert {k[0] for k in want} == set(gen.MISSIONS)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    from perfbench import harness

    os.makedirs(os.path.join(root, ".bench_work"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(root, ".bench_work"))
    harness.configure_env(root, os.path.join(tmp, "tmp"))
    spark = None
    try:
        check_determinism(tmp)
        print("generator determinism: ok")
        spark = harness.start_session()
        check_status_reader(spark)
        print("status-store reader: ok")
        check_oracle(spark, tmp)
        print("slice-key oracle: ok")
    finally:
        harness.shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
