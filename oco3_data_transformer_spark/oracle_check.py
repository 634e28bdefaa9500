"""Self-check harness replicating the driver's DuckDB-oracle comparison:
row count, column names, and an order-insensitive value comparison of every
catalog query against its oracle SQL. Used by tests/test_oracle_parity.py
and runnable standalone:

    python -m oco3_data_transformer_spark.oracle_check [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from .catalog import REGISTRY
from .sources.registry import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "␀"
    if isinstance(v, float):
        # 6-dp absolute canon below 1e9; above it that is FINER than one
        # accumulated double ulp (ulp(2.8e11) ~ 6e-5, and a 60M-term
        # parallel sum reorders low bits run-to-run in BOTH engines), so
        # equality there demanded bit-identical accumulation order and
        # held only by luck (q01 at the 100x fixture: spark
        # 283913704431.00 vs duck ...30.99, 4e-14 relative). 12
        # significant digits is the relative canon: mathematically-equal
        # sums in any partition order agree, anything >= 1e-12 relative
        # apart still fails.
        if abs(v) >= 1e9:
            return f"{v:.12g}"
        return f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        # pandas renders DATE columns from DuckDB as midnight datetime64 while
        # Spark yields datetime.date objects; normalize midnights to the date
        # string so both sides canonicalize identically.
        if v.time() == pd.Timestamp(0).time() and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat()
    return str(v)


# Unit separator between a row's canonical cells: one str per row is a
# fraction of a tuple of per-cell strs (~500 bytes per row), and both
# engines' row lists are held at once for the comparison.
_SEP = "\x1f"


def canonical_rows(df: pd.DataFrame) -> list[str]:
    """The frame's rows, each one string of its canonical cells in sorted
    column order, sorted."""
    cols = sorted(df.columns)
    out = [_SEP.join([_canon_cell(v) for v in row]) for row in df[cols].itertuples(index=False)]
    out.sort()
    return out


# Non-vacuous parity floor (VERDICT r06 item 6): every registry query is
# known non-empty at the driver's sf0.01 gate (verified: CORRECTNESS_SELF
# has zero 0-row entries), so a 0-row "match" there means BOTH engines
# built an empty relation — agreement that proves nothing (q81 passed
# vacuously at sf0.001 for a round). At >= NONEMPTY_SF a 0-row result
# FAILS; below it, it is annotated "vacuous": true so lane output stays
# legible without punishing legitimately-tiny fixtures.
NONEMPTY_SF = 0.01


def _sf_of(sf_dir: str) -> float | None:
    """Parse the scale factor out of a .../sfX.Y path tail (None if the
    fixture doesn't follow the sf-dir naming, e.g. .bench_data/sf1)."""
    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    if tail.startswith("sf"):
        try:
            return float(tail[2:])
        except ValueError:
            return None
    return None


def compare_query(
    spark: SparkSession, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str
) -> dict:
    qd = REGISTRY[name]
    sdf = qd.fn(spark, sf_dir).toPandas()
    n_spark = len(sdf)
    res = {"name": name, "rows": n_spark, "oracle": qd.sql is not None}
    if n_spark == 0:
        sf = _sf_of(sf_dir)
        if sf is not None and sf >= NONEMPTY_SF:
            res["match"] = False
            res["why"] = (
                f"vacuous: 0 rows at sf{sf} where every registry query is "
                "declared non-empty (empty==empty proves nothing)"
            )
            return res
        res["vacuous"] = True
    if qd.sql is None:
        res["match"] = True
        return res
    # Hold one engine's frame at a time: the Spark rows are canonicalized
    # and the frame dropped before DuckDB's result is fetched, and DuckDB's
    # frame is dropped once its rows are canonicalized (at the 100x
    # fixture both frames plus both row lists peaked near 9 GB).
    cols_s = sorted(sdf.columns)
    rs = canonical_rows(sdf)
    del sdf
    ddf = con.execute(qd.sql).fetchdf()
    n_duck = len(ddf)
    res["oracle_rows"] = n_duck
    cols_d = sorted(ddf.columns)
    if cols_s != cols_d:
        res["match"] = False
        res["why"] = f"columns {cols_s} != {cols_d}"
        return res
    if n_spark != n_duck:
        res["match"] = False
        res["why"] = f"rowcount {n_spark} != {n_duck}"
        return res
    rd = canonical_rows(ddf)
    del ddf
    if rs != rd:
        diffs = [(tuple(a.split(_SEP)), tuple(b.split(_SEP)))
                 for a, b in zip(rs, rd) if a != b][:3]
        res["match"] = False
        res["why"] = f"values differ, first diffs: {diffs}"
        return res
    res["match"] = True
    return res


# Named query groups for --only (CI lanes): each round's NEW queries get a
# group so a fresh operator can't land without a fast parity run covering
# exactly its rows (VERDICT r05 item 8). Usage: --only @round6
QUERY_GROUPS: dict[str, list[str]] = {
    "round6": [
        "q126_grid_linear_kernel",
        "q129_repeated_window_spans",
        "q127_length_percentiles_approx",
        "q128_price_percentiles_approx",
        # round-6 kernel/plan changes to pre-existing queries, re-gated here
        "q117_transition_pagerank",
        "q124_seed_expansion_ppr",
        "q122_prefix_filter_simjoin",
    ],
    "round7": [
        "q130_grid_cubic_kernel",
        # round-7 plan/kernel changes to pre-existing queries, re-gated here
        "q25_dedup_keep_first",
        "q126_grid_linear_kernel",
        "q127_length_percentiles_approx",
        "q128_price_percentiles_approx",
        "q129_repeated_window_spans",
        "q117_transition_pagerank",
        "q124_seed_expansion_ppr",
    ],
    "round8": [
        "q131_zarr_roundtrip",
        "q132_codec_roundtrip_contract",
        # round-8 kernel change: cubic is now the reduced Clough-Tocher
        # element — re-gate the gridding contracts
        "q126_grid_linear_kernel",
        "q130_grid_cubic_kernel",
        "q41_grid_kernel",
        # round-8 plan changes to pre-existing queries, re-gated here:
        # climatology_spans rewrote to a day-level pre-aggregate
        "q20_climatology_monthly",
        "q21_month_of_year",
        "q47_climatology_seasonal",
    ],
    "round9": [
        # round-9 kernel change: the cubic element is now Powell's
        # affine-invariant g=-1/2 reduction (scipy's exact interpnd
        # formulas — ADVICE r8 high found the round-8 edge-perpendicular
        # element was NOT scipy's); _locate pair expansion chunked for
        # bounded memory (bit-identical) — re-gate the gridding contracts
        "q126_grid_linear_kernel",
        "q130_grid_cubic_kernel",
        "q41_grid_kernel",
        # webp encoder data pass vectorized + PIL fallback hardened —
        # re-gate the codec contracts
        "q132_codec_roundtrip_contract",
        # q131 now writes the reference's blosc chunk codec — re-gate
        "q131_zarr_roundtrip",
        # the six formerly rows-only queries gained contract oracles
        # (VERDICT r08 item 4) — gate them here so n_oracled stays 132
        "q42_oco3_pipeline",
        "q43_image_features",
        "q44_oco3_global_raster",
        "q53_audio_features",
        "q94_bpe_train",
        "q112_bpe_apply",
    ],
    # Correctness at the k=100 fixture (.bench_data/sf10): every family
    # whose DuckDB oracle is non-quadratic and tractable there — the
    # dedup-pair oracles (q31/q32/q33) are quadratic in DuckDB runtime and
    # stay verified at the 10x fixture; the token/sketch aggregates
    # (q106/q108/...) already cost ~45 s in DuckDB at 10x. Run:
    #   python -m ...oracle_check .bench_data/sf10 --only @scale100 \
    #          --out CORRECTNESS_SELF_SF10.json
    "scale100": [
        "q01_pricing_summary",
        "q02_filter_pushdown_revenue",
        "q10_broadcast_dim_join",
        "q13_range_refine_join",
        "q17_sessionize_islands",
        "q18_sessionize_gap_merge",
        "q20_climatology_monthly",
        "q25_dedup_keep_first",
        "q34_knn_bruteforce",
        "q40_ivf_knn",
        "q41_grid_kernel",
        "q38_token_stats",
        "q63_hash_split",
        "q117_transition_pagerank",
        "q126_grid_linear_kernel",
        "q127_length_percentiles_approx",
        "q128_price_percentiles_approx",
        "q129_repeated_window_spans",
        "q130_grid_cubic_kernel",
        # VERDICT r09 item 3: the six r9 contract oracles are linear,
        # closed-form recomputations — cheap at every fixture, so they
        # ride the 100x lane too
        "q42_oco3_pipeline",
        "q43_image_features",
        "q44_oco3_global_raster",
        "q53_audio_features",
        "q94_bpe_train",
        "q112_bpe_apply",
    ],
    "round10": [
        # round-10 re-gates: codec-alternation fix in the multimodal
        # generators (both decode legs now exercised within the sampled
        # residue class — ADVICE r9)
        "q43_image_features",
        "q53_audio_features",
        # blosc decode extended (lz4/zlib/zstd + bitshuffle); encode path
        # unchanged — re-gate the container round-trip anyway
        "q131_zarr_roundtrip",
        "q132_codec_roundtrip_contract",
        # parallelism-aware split sizing (session.tune_for_input) touches
        # every scan — re-gate the scan-heavy headline set
        "q01_pricing_summary",
        "q02_filter_pushdown_revenue",
        "q10_broadcast_dim_join",
        "q20_climatology_monthly",
        # optimization-round restructures (OPTIMIZATION_r10.md batches
        # 5-11): triangle broadcast regime, array verifies, size carry,
        # dangling-mass-from-ranks, tokenize spread, window-count front
        # end, min_by argmax, SRP Gram pre-filter, pre-sliced PQ sql
        # kernel, dense bloom bits, CC union-find regime
        "q119_neardup_graph_triangles",
        "q121_neardup_graph_communities",
        "q122_prefix_filter_simjoin",
        "q123_neardup_graph_kcore",
        "q124_seed_expansion_ppr",
        "q125_semantic_cluster_profile",
        "q117_transition_pagerank",
        "q31_ngram_jaccard_neardup",
        "q96_containment_pairs",
        "q106_kmins_distinct",
        "q107_countmin_heavy",
        "q108_bigram_perplexity",
        "q111_sketch_setops",
        "q67_pmi_bigrams",
        "q90_bpe_pair_stats",
        "q46_srp_lsh_neardup",
        "q109_pq_encode",
        "q114_bloom_semijoin",
        "q45_dedup_groups",
        "q51_dedup_filtered_corpus",
        "q52_dedup_groups_star",
        "q110_pq_adc_knn",
        "q115_ivfpq_knn",
        "q116_ann_recall",
        # batches 12-14: gridding fan-out + Delaunay micro-opts, 1-D
        # nearest binary-search kernel, token-hash window keying
        "q41_grid_kernel",
        "q42_oco3_pipeline",
        "q44_oco3_global_raster",
        "q126_grid_linear_kernel",
        "q130_grid_cubic_kernel",
        "q11_nearest_centroid_assoc",
        "q129_repeated_window_spans",
        # second optimization session: estimate-kernel carry restructure,
        # simhash expr-built aggregates (plan-identical, build-time only)
        "q62_minhash_estimate",
        "q33_simhash_neardup",
    ],
    "graph": [
        "q117_transition_pagerank",
        "q119_neardup_graph_triangles",
        "q120_mutual_knn_graph",
        "q121_neardup_graph_communities",
        "q123_neardup_graph_kcore",
        "q124_seed_expansion_ppr",
        "q125_semantic_cluster_profile",
    ],
}


def _resolve_only(only: str) -> list[str]:
    """Expand ``--only`` entries: ``@group`` names splice their member
    list; plain names pass through (dedup preserves order)."""
    names: list[str] = []
    for tok in only.split(","):
        tok = tok.strip()
        members = QUERY_GROUPS.get(tok[1:]) if tok.startswith("@") else None
        if tok.startswith("@") and members is None:
            raise SystemExit(
                f"unknown query group {tok!r}; groups: "
                f"{sorted(QUERY_GROUPS)}"
            )
        for n in members if members is not None else [tok]:
            if n not in names:
                names.append(n)
    return names


def main(
    sf_dir: str = "/root/testdata/sf0.01",
    only: str | None = None,
    out_path: str | None = None,
) -> int:
    """Run the parity gate; when checking the FULL catalog, also write a
    machine-readable per-query artifact (default ``CORRECTNESS_SELF.json``
    in the cwd) — the driver's hard gate covers a frozen 50-query subset,
    so this self-report is how the other half of the catalog's status
    stays legible round over round."""
    import json

    from .session import get_spark

    spark = get_spark("oracle-check")
    con = duck_connection(sf_dir)
    failed, results = [], []
    names = _resolve_only(only) if only else list(REGISTRY)
    # Reject unknown names up front instead of recording them as failures:
    # a typo'd --only once serialized a misfired run (n_match 0,
    # failed=['none']) as if it were a real parity result (ADVICE r04).
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(
            f"unknown quer{'y' if len(unknown) == 1 else 'ies'} {unknown}; "
            f"valid names are the {len(REGISTRY)} REGISTRY keys (q01_... etc.)"
        )
    for name in names:
        try:
            res = compare_query(spark, con, name, sf_dir)
        except Exception as e:  # surface per-query failures, keep going
            res = {"name": name, "match": False, "why": f"{type(e).__name__}: {e}"}
        status = "OK " if res.get("match") else "FAIL"
        print(f"{status} {name} rows={res.get('rows')} {res.get('why', '')}"[:300], flush=True)
        results.append(res)
        if not res.get("match"):
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} queries match")
    if failed:
        print("failed:", failed)
    if out_path is None and only is None:
        out_path = "CORRECTNESS_SELF.json"
    if out_path:
        # provenance: record the git HEAD the artifact was generated at so
        # scripts/check_artifact_freshness.py can prove no code-touching
        # commit postdates it (VERDICT r07 item 4 — the r7 artifacts
        # predated a revert by four commits and coverage held only by
        # accident of the lane runs)
        import subprocess
        import time as _time

        try:
            head = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                capture_output=True,
                text=True,
            ).stdout.strip() or None
        except OSError:
            head = None
        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "head": head,
                    "generated_at": _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
                    "n_queries": len(names),
                    "n_oracled": sum(1 for r in results if r.get("oracle")),
                    "n_match": len(names) - len(failed),
                    "failed": failed,
                    "queries": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {out_path}")
    return 1 if failed else 0


def _cli() -> int:
    import argparse

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    p.add_argument("--only", default=None, help="comma-separated query names; @group expands a QUERY_GROUPS lane (e.g. @round6)")
    p.add_argument("--out", default=None, help="artifact path (default: "
                   "CORRECTNESS_SELF.json for full-catalog runs, none otherwise)")
    a = p.parse_args()
    return main(a.sf_dir, a.only, a.out)


if __name__ == "__main__":
    sys.exit(_cli())
