"""Deterministic, mergeable sketch operators (cardinality / frequency).

At 100 TB, exact ``count(distinct)`` and exact per-key frequency tables are
the two aggregations most likely to dominate a pipeline: both shuffle every
distinct key. Sketches replace them with FIXED-SIZE state that combines
map-side, so the shuffle moves kilobytes per group instead of the key set.
Spark ships HLL (``approx_count_distinct``) and a quantile sketch
(``percentile_approx``), but neither is reproducible against another engine.
These sketches are built from the repo's portable hash family
(``functions/hashing.py``) so every estimate is *bit-identical* between
Spark and the DuckDB oracle — the same property that makes MinHash/SimHash
here oracle-checkable rather than "approximately similar".

Two families:

- **k-mins cardinality** (Flajolet-Martin / Cohen lineage): k independent
  permutations of one base hash, per-group ``min`` of each. State is k
  int64s per group, ``min`` combines map-side and merges associatively —
  the textbook distributed-sketch contract. Estimator: each min/p is the
  minimum of n uniforms ~ Beta(1, n), E[min/p] = 1/(n+1), so
  n-hat = k*p / sum(min_i) - 1 with stderr ~ 1/sqrt(k).

- **count-min frequency** (Cormode-Muthukrishnan): depth d x width w counter
  grid; key k increments cell (i, h_i(k) % w) for each of d rows; the
  estimate is the MIN over the d cells (always an over-estimate, biased by
  collisions, bounded by 2n/w with prob 1-2^-d). The grid is d*w rows
  REGARDLESS of corpus size — it reduces map-side to d*w partials per
  partition and broadcasts for the estimate join.

The reference has no sketch layer (it materializes exact per-day coverage
counts, ref writers/ZarrWriter.py attrs); this is part of the
training-data-pipeline surface the Spark engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing

# 28-bit base-hash domain upper bound is the MinHash prime (values of the
# permutation h_i(x) = (a*x + b) mod p are uniform on [0, p)).
_P = hashing.MINHASH_PRIME
KMINS_K = len(hashing.KMINS_SEEDS)  # 64 -> ~12.5% stderr


def kmins_distinct(
    df: DataFrame, group_cols: list[str], value_col: Column, k: int = KMINS_K
) -> DataFrame:
    """Per-group distinct-count estimate via the k-mins sketch.

    ``value_col`` is hashed once (one md5 per value); each of the ``k``
    committed permutations takes a plain ``min`` aggregate. The whole
    sketch is one map-side-combined hash aggregate: per-partition state is
    ``k`` longs per group, and partition merge is elementwise min —
    nothing key-proportional ever crosses the shuffle (contrast exact
    ``count(distinct)``, which shuffles every distinct value).

    Emits ``est_distinct`` (double, rounded 2dp). The integer sum of mins
    is formed exactly in int64 (k * p < 2^35) and divided ONCE, so the
    estimate is bit-identical in any IEEE-754 engine regardless of
    aggregation order.
    """
    sketched = kmins_sketch(df, group_cols, value_col, k)
    return sketched.select(*group_cols, kmins_estimate_col(k))


def kmins_sketch(
    df: DataFrame, group_cols: list[str], value_col: Column, k: int = KMINS_K
) -> DataFrame:
    """The raw per-group sketch: columns ``__m0..__m{k-1}``.

    Exposed separately because the min-vector IS the mergeable state:
    elementwise ``least`` of two groups' vectors is exactly the sketch of
    their union (set-operation estimates, streaming maintenance —
    streaming/sketch_stream.py persists precisely this table).
    """
    # the k permutation mins are built as SQL strings (one parse each)
    # over a named projection of the value — identical aggregate
    # expressions, ~10x less Py4J build chatter than composed Columns
    hashed = df.select(*group_cols, value_col.alias("__kv"))
    base = hashing.portable_hash28_spark_sql("__kv")
    mins = [
        F.expr(f"min({hashing.kmins_value_spark_sql(base, i)})").alias(f"__m{i}")
        for i in range(k)
    ]
    return hashed.groupBy(*group_cols).agg(*mins)


def kmins_estimate_col(k: int = KMINS_K) -> Column:
    """Estimator column over a sketch's ``__m*`` columns (alias
    ``est_distinct``). E[sum(m_i)] = k*p/(n+1)  =>  n-hat = k*p/sum - 1;
    the int64 min-sum is exact, ONE double division, bit-identical in any
    IEEE-754 engine regardless of aggregation order."""
    msum = " + ".join(f"__m{i}" for i in range(k))
    return F.expr(
        f"round(CAST({int(k) * _P} AS DOUBLE) / ({msum}) - 1, 2)"
    ).alias("est_distinct")


def kmins_sketch_sql(
    table_expr: str, group_cols: list[str], value_expr: str, k: int = KMINS_K
) -> str:
    """DuckDB SQL for the raw per-group sketch (columns ``__m0..__m{k-1}``),
    bit-identical to :func:`kmins_sketch`."""
    base = hashing.portable_hash28_sql(value_expr)
    mins = ", ".join(
        f"min({hashing.kmins_value_sql('__b', i)}) AS __m{i}" for i in range(k)
    )
    gcols = ", ".join(group_cols)
    return f"""
    SELECT {gcols}, {mins}
    FROM (SELECT {gcols}, {base} AS __b FROM {table_expr})
    GROUP BY {gcols}
    """


def kmins_estimate_sql(k: int = KMINS_K) -> str:
    """DuckDB estimator expression over a sketch's ``__m*`` columns."""
    msum = " + ".join(f"__m{i}" for i in range(k))
    return f"round({float(k) * _P} / ({msum}) - 1, 2)"


def kmins_distinct_sql(
    table_expr: str, group_cols: list[str], value_expr: str, k: int = KMINS_K
) -> str:
    """DuckDB SQL producing bit-identical output to :func:`kmins_distinct`."""
    gcols = ", ".join(group_cols)
    return f"""
    SELECT {gcols}, {kmins_estimate_sql(k)} AS est_distinct
    FROM ({kmins_sketch_sql(table_expr, group_cols, value_expr, k)})
    """


def countmin_build(
    df: DataFrame,
    key_col: Column,
    depth: int = 4,
    width: int = 2048,
    weight_col: Column | None = None,
) -> DataFrame:
    """Build a count-min sketch table: ``(d, bucket, cnt)``, d*width rows max.

    One map-side-combined aggregate on (d, bucket): each partition reduces
    its keys to <= d*width partial counters before the exchange, so the
    shuffle is O(d*width) per partition — independent of corpus size. The
    d row-hashes reuse the committed MinHash permutations, so the oracle
    builds the identical grid.

    ``weight_col``: build from PRE-AGGREGATED (key, count) rows — cnt
    becomes ``sum(weight)`` instead of ``count(*)``, which is
    value-identical to building from the raw stream but hashes each
    distinct key once (r10: lets a caller that already owns a per-key
    count aggregate feed the grid from that same exchange instead of
    re-scanning the corpus).
    """
    base = hashing.portable_hash28(key_col)
    cols = [
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        (hashing.minhash_value(base, i) % width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell")
    ]
    if weight_col is not None:
        cols.append(weight_col.alias("__w"))
    rows = df.select(*cols)
    agg = (
        F.sum("__w") if weight_col is not None else F.count(F.lit(1))
    ).alias("cnt")
    return rows.groupBy("cell.d", "cell.bucket").agg(agg)


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    carry: list[str] | None = None,
) -> DataFrame:
    """Point-estimate frequencies for ``keys`` from a built sketch.

    The key row expands to its d cells, LEFT-equi-joins the sketch on
    (d, bucket) — the sketch side is d*width rows, so Spark broadcasts it —
    and takes ``min(cnt)`` per key with an absent cell counting as 0: the
    count-min estimate (>= true count always; > only under collisions).
    The left join matters for keys OUTSIDE the sketched corpus: one empty
    cell proves a count of 0, so such probes estimate exactly 0 instead of
    inheriting collision mass from their non-empty cells.

    ``carry``: extra ``keys`` columns (constant per key) passed through to
    the output — a caller comparing estimates against per-key truth it
    already owns rides this aggregate instead of re-joining ``keys``
    afterwards, which would re-evaluate the keys subtree (r10).
    """
    carry = carry or []
    base = hashing.portable_hash28(F.col(key_col))
    cells = keys.select(
        key_col,
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        (hashing.minhash_value(base, i) % width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(key_col, *carry, "cell.d", "cell.bucket")
    return (
        cells.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce("cnt", F.lit(0))).alias("est_cnt"),
            *[F.min(c).alias(c) for c in carry],
        )
    )


def histogram_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: Column,
    bin_width: int,
    n_bins: int,
) -> DataFrame:
    """Fixed-bin histogram sketch: ``(group, bin, cnt)`` with at most
    ``n_bins`` rows per group (the last bin absorbs the tail).

    The deterministic analog of a t-digest: bounded mergeable state
    (merge = per-bin addition) supporting quantile estimates without the
    global sort exact percentiles need. Production trades the fixed grid
    for t-digest's adaptive centroids (Spark's ``percentile_approx``);
    the fixed grid is what stays bit-identical cross-engine.
    One map-side-combined aggregate — each partition reduces to <= n_bins
    partials per group before the exchange.
    """
    bin_col = F.least(
        F.floor(value_col / bin_width).cast("int"), F.lit(n_bins - 1)
    )
    return (
        df.select(*group_cols, bin_col.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantile(
    hist: DataFrame, group_cols: list[str], q: float, bin_width: int
) -> DataFrame:
    """Per-group quantile estimate from a histogram sketch: locate the bin
    where the cumulative count crosses ``q * N`` and interpolate linearly
    inside it. One window pass over the (group-count x n_bins)-sized
    sketch — never over the data. Emits ``est_q`` (double, 4dp; every
    step is integer-derived so the estimate is bit-identical
    cross-engine)."""
    w = Window.partitionBy(*group_cols).orderBy("bin")
    cum = F.sum("cnt").over(w)
    total = F.sum("cnt").over(Window.partitionBy(*group_cols))
    target = F.lit(q) * total
    ranked = hist.select(
        *group_cols,
        "bin",
        "cnt",
        cum.alias("cum"),
        (cum - F.col("cnt")).alias("cum_before"),
        target.alias("target"),
    ).filter(F.col("cum") >= F.col("target"))
    pick = Window.partitionBy(*group_cols).orderBy("bin")
    first = ranked.withColumn("rn", F.row_number().over(pick)).filter(
        F.col("rn") == 1
    )
    est = (
        F.col("bin") * bin_width
        + (F.col("target") - F.col("cum_before")) / F.col("cnt") * bin_width
    )
    return first.select(*group_cols, F.round(est, 4).alias("est_q"))


def histogram_quantile_sql(
    hist_expr: str, group_cols: list[str], q: float, bin_width: int
) -> str:
    """DuckDB SQL mirroring :func:`histogram_quantile` over a histogram
    CTE/table with columns ``(group..., bin, cnt)``."""
    gcols = ", ".join(group_cols)
    return f"""
    SELECT {gcols}, round(bin * {bin_width}
        + (target - cum_before) / cnt * {bin_width}, 4) AS est_q
    FROM (
        SELECT {gcols}, bin, cnt, cum, cum - cnt AS cum_before, target,
               row_number() OVER (PARTITION BY {gcols} ORDER BY bin) AS rn
        FROM (
            SELECT {gcols}, bin, cnt,
                   sum(cnt) OVER (PARTITION BY {gcols} ORDER BY bin) AS cum,
                   {q} * sum(cnt) OVER (PARTITION BY {gcols}) AS target
            FROM {hist_expr})
        WHERE cum >= target)
    WHERE rn = 1
    """


def bloom_build(
    df: DataFrame, key_col: Column, n_bits: int = 4096, n_hashes: int = 3
) -> DataFrame:
    """Build a Bloom bit set as a DISTINCT-bucket table (<= n_bits rows).

    Each key sets ``n_hashes`` bits via the committed permutations — the
    same membership structure Spark's runtime bloom-filter join injection
    builds internally, exposed as a data operator so a 100 TB probe side
    can be pre-pruned against a small build side with NO shuffle of the
    probe (see :func:`bloom_membership`). Map-side combined: partitions
    reduce to <= n_bits rows before the exchange.
    """
    base = hashing.portable_hash28(key_col)
    bits = df.select(
        F.explode(
            F.array(
                *[
                    (hashing.minhash_value(base, i) % n_bits)
                    for i in range(n_hashes)
                ]
            )
        ).alias("bit")
    )
    return bits.distinct()


def bloom_membership(
    probe: DataFrame,
    bloom_bits: DataFrame,
    key_col: Column,
    n_bits: int = 4096,
    n_hashes: int = 3,
) -> DataFrame:
    """Row-local Bloom membership test for ``probe``: returns the probe
    DataFrame cross-joined with the (single-row, broadcast) collected bit
    set plus a ``bloom_pass`` boolean column.

    The probe side is NEVER shuffled or joined per-row: the bit set
    collapses to one array row (<= n_bits ints), broadcasts, and the test
    is ``array_contains`` on each of the key's n_hashes bits — a scan-local
    projection, the shape that makes Bloom pruning free at 100 TB.
    May pass false positives (bounded by the usual (1-e^{-kn/m})^k), never
    false negatives.
    """
    # densify ONCE into a positionally-indexed boolean array (r10):
    # array_contains on the sparse bit list is a linear scan of up to
    # n_bits elements PER CHECK PER ROW (3 x 4096 comparisons per probe
    # row — 18e9 at the sf1 fixture, measured 4.2 s); element_at on the
    # dense array is O(1). One 1-row transform at build, same booleans.
    bitset = bloom_bits.agg(F.collect_set("bit").alias("__bits"))
    dense = bitset.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda i: F.array_contains(F.col("__bits"), i.cast("long")),
        ).alias("__dense")
    )
    base = hashing.portable_hash28(key_col)
    checks = [
        F.element_at(
            F.col("__dense"),
            (hashing.minhash_value(base, i) % n_bits).cast("int") + 1,
        )
        for i in range(n_hashes)
    ]
    passed = checks[0]
    for c in checks[1:]:
        passed = passed & c
    return probe.crossJoin(F.broadcast(dense)).withColumn(
        "bloom_pass", passed
    ).drop("__dense")
