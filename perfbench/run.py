#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads (see ``perfbench/spec.json``):
``daily_ingest``, ``catalog_queries``.

Each run starts the Spark session several times and warms up once
(``setup_s``), then drives the workload in a closed loop for ``--seconds``,
checks every output against its oracle outside the timed region, and
prints one JSON object as the last line of standard output.  With
``--trace 1`` the run traces one pass (``daily_ingest`` then also drains
one streaming micro-batch) and the result carries the per-layer metrics
instead of the end-to-end ones.  A detail file with all
samples, tail percentiles, provenance and spans is written under
``.bench_out/``.

Exits non-zero without a result line if the package is not importable or
any correctness check fails.
"""

from __future__ import annotations

import argparse
import os
import sys

PACKAGE = "oco3_data_transformer_spark"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import harness

    return harness.main(root, args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
