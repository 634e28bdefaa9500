"""``catalog_queries``: a fixed list of ``catalog.REGISTRY`` queries, five
families, over seeded synthetic tables shaped like the TPC-H-style fixture
the catalog is written against (``sources/registry.py`` TABLES).

The session is tuned with ``session.tune_for_input`` for the generated
tables.  The untimed warm-up is the correctness pass: every query's rows
are hash-compared with its DuckDB oracle (``oracle_check.compare_query``)
and must be non-empty.  Timed operations then build each query and
execute it to the ``noop`` sink, in a seed-permuted order, whole passes
only and at least ``MIN_PASSES`` of them: each query's latency is its
median over the passes, so one pass slowed by the host (or by the JIT
still compiling, in the first) does not set it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oco3_data_transformer_spark.catalog import REGISTRY
from oco3_data_transformer_spark.oracle_check import compare_query, duck_connection
from oco3_data_transformer_spark.session import tune_for_input
from oco3_data_transformer_spark.sources.registry import TABLES

from perfbench.workloads import Workload

# One or two queries per family, taken from the families' full lists in
# spec.json: a run's fixed cost is the DuckDB oracle pass, about 5 s per
# query on 4 cores.  Ids resolve to REGISTRY names by their ``qNN_`` prefix.
FAMILIES = {
    "scan": ["q01", "q10"],
    "dedup": ["q32"],
    "graph": ["q119"],
    "vector": ["q40"],
    "grid": ["q126"],
}

VOCAB = ("the fast key order sort table scan merge part window small hash join "
         "batch stream spark dup group query row data slow filter customer line "
         "value agg column a big vector").split()


def query_name(qid: str) -> str:
    (name,) = [n for n in REGISTRY if n.split("_")[0] == qid]
    return name


def make_tables(seed: int, root: str, scale: int = 2) -> dict:
    """Write the ten catalog tables under ``root``; ``scale`` multiplies
    the fact-table sizes (1 ~ 6k lineitem rows)."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(root, exist_ok=True)
    n_cust, n_part, n_supp = 150 * scale, 200 * scale, 10 * scale
    n_ord, n_li, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_doc, n_emb = 300, 300
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD",
                                    "AUTOMOBILE"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = ["blue", "new", "cold", "hot", "red", "small", "large", "green"]
    noun = ["rod", "gear", "anvil", "widget", "bolt", "nut", "spring", "valve"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 200 * 0.1, 2)})
    day0 = np.datetime64("1995-01-01")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 450000, n_ord), 2),
        "o_orderdate": (day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    # Prices are multiples of 8 and discounts of 1/32, so every discounted
    # price, and every sum of them in q01/q10's round(sum(...), 2), is an
    # exact multiple of 1/4: Spark and DuckDB, which sum in different
    # orders, get the same sum, and it is never on a half cent.
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li) / 8) * 8,
        "l_discount": rng.integers(0, 4, n_li) / 32,
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (day0 + rng.integers(0, 2500, n_li).astype("timedelta64[D]"))
        .astype("datetime64[us]")})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(ts0 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 15 * scale, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for n in rng.integers(10, 100, n_doc):
        if texts and rng.random() < 0.3:  # a near-duplicate of an earlier document
            toks = texts[int(rng.integers(len(texts)))].split()
            for k in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[k] = rng.choice(VOCAB)
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(n))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name in TABLES:
        pq.write_table(t[name], os.path.join(root, f"{name}.parquet"))
    return {k: v.num_rows for k, v in t.items()}


class CatalogQueries(Workload):
    """One operation = build one query and execute it to ``noop``."""

    SCALE = 2
    MIN_PASSES = 3

    def prepare(self):
        self.sf_dir = os.path.join(self.work, "tables")
        rows = make_tables(self.seed, self.sf_dir, self.SCALE)
        self.conf = tune_for_input(self.spark, [self.sf_dir])
        ids = [q for fam in FAMILIES.values() for q in fam]
        order = np.random.default_rng([self.seed, 11]).permutation(len(ids))
        self.order = [ids[k] for k in order]
        self.MIN_OPS = self.MIN_PASSES * len(self.order)
        self.timings: dict[str, list[tuple[float, float]]] = {q: [] for q in ids}
        return {"rows": rows, "tune_for_input": self.conf, "order": self.order}

    def warmup(self):
        """The correctness pass: every query against its DuckDB oracle."""
        con = duck_connection(self.sf_dir)
        self.oracle = {}
        for q in self.order:
            t0 = time.perf_counter()
            self.oracle[q] = compare_query(self.spark, con, query_name(q), self.sf_dir)
            self.oracle[q]["check_s"] = time.perf_counter() - t0
        con.close()

    def next_input(self, i):
        return self.order[i % len(self.order)]

    def key(self, q):
        return q

    def pass_done(self, i):
        return i % len(self.order) == 0

    def op(self, q):
        t0 = time.perf_counter()
        df = REGISTRY[query_name(q)].fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        self.timings[q].append((t1 - t0, time.perf_counter() - t1))

    def traced_op(self, q, tracer):
        tracer.traced_query(self, q)

    def pass_size(self):
        return len(self.order)

    def final_check(self):
        return [f"{q}: {r.get('why') or ('0 rows' if not r['rows'] else '')}"
                for q, r in self.oracle.items() if not r.get("match") or not r["rows"]]

    def family_s(self) -> dict[str, float]:
        """Per family: the sum over its queries of each query's median
        build+execute latency."""
        out = {}
        for fam, qs in FAMILIES.items():
            out[fam] = sum(float(np.median([b + e for b, e in self.timings[q]]))
                           for q in qs if self.timings[q])
        return out

    def detail(self):
        return {"family_s": self.family_s(),
                "oracle": {q: {k: r.get(k) for k in ("rows", "oracle_rows", "match", "check_s")}
                           for q, r in self.oracle.items()},
                "timings": self.timings}
