"""Join operators J1-J3, J5 and J7 (SURVEY.md §2.3), plus the salted,
as-of and binned interval-overlap joins.

Physical-strategy stance for 100 TB:
  - dimension lookups broadcast (J1, J2's target side, J3's sequence side);
  - the footprint mask (J4) is not a join: it runs inside the grid kernel
    (operators/grid.grid_regions), bbox prefilter then exact geometry;
  - the day-completeness hold-back (J6) is ``streaming.ingest.complete_days``
    and catalog q15;
  - day-alignment (J5) and diff (J7) are full-outer equi-joins on low-card
    keys — map-side with AQE coalescing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def target_lookup(
    df: DataFrame, targets: DataFrame, target_col: str = "target_id"
) -> DataFrame:
    """J1: equi-join soundings/regions to the target dimension; unknown
    targets are dropped (inner-join semantics, logged by the reference —
    ref processors/OCO3SamProcessor.py:70-78,475-476)."""
    return df.join(F.broadcast(targets), on=target_col, how="inner")


def nearest_centroid(
    regions: DataFrame,
    targets: DataFrame,
    region_key: list[str],
    rlat: str = "lat_c",
    rlon: str = "lon_c",
    tlat: str = "t_lat",
    tlon: str = "t_lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """J2 (OCO-2): associate each region with the target whose centroid is
    nearest (Euclidean in degrees) to the region's mean lat/lon
    (ref processors/OCO2Processor.py:400-435).

    Broadcast cross join (targets are a few hundred rows) + rank-1 window —
    the KNN-join pattern. The caller then applies the bbox-intersects guard
    (ref :427-429) on the surviving pair.

    ``tiebreak``: target column ordering equal-distance candidates (the
    reference's np.argmin is first-index-wins over its target list; pass the
    column that carries that order — by default the first target column)."""
    tiebreak = tiebreak or targets.columns[0]
    dist2 = (F.col(rlat) - F.col(tlat)) ** 2 + (F.col(rlon) - F.col(tlon)) ** 2
    paired = regions.crossJoin(F.broadcast(targets)).withColumn("__d2", dist2)
    w = Window.partitionBy(*region_key).orderBy("__d2", tiebreak)
    return paired.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1).drop(
        "__rk", "__d2"
    )


# At or below this many DISTINCT values the 1-D nearest join runs as a
# sorted binary-search kernel against driver-collected arrays (~24 B/value
# → ~100 MB at the gate, the node_broadcast_limit sizing). Above it the
# cross+rank-1 reference shape runs unchanged.
VALUE_BROADCAST_LIMIT = 4_000_000


def nearest_value_1d(
    probes: DataFrame,
    values: DataFrame,
    probe_key: str,
    probe_val: str,
    value_key: str,
    value_val: str,
    carry: tuple[str, ...] = (),
    kernel: str = "arrow",
    value_broadcast_limit: int = VALUE_BROADCAST_LIMIT,
) -> DataFrame:
    """J2, 1-D scalar form: attach to each probe row the value-side row
    whose ``value_val`` is nearest to ``probe_val`` — winner defined
    exactly as the rank-1 window over (abs-dist asc, ``value_key`` asc),
    the same argmin-first-index contract as :func:`nearest_centroid`.
    Returns probes.* + winner's ``value_key`` + ``carry`` + raw ``__dist``.

    ``kernel='arrow'`` (default): a 1-D nearest neighbor needs no pair
    expansion — sort the distinct values once, ``np.searchsorted`` each
    probe batch against the driver-collected (value, min-key, carry)
    arrays, and compare the two bracketing candidates. O(n log m) with
    zero joins and zero shuffles, vs the O(n·m) cross product. Winner
    equivalence: group value rows by distinct ``value_val`` v — all share
    dist d(v), so the group's lexicographic-min (d, key) carries the
    group's min key (``min_by``); float dist d(v)=fl(|c−v|) is monotone
    on each side of c, so the global argmin over (d, key) is decided
    between the two bracketing distinct values — plus, in principle, a
    contiguous run of further values whose REAL dists differ but whose
    FLOAT dists collide (gap < 1 ulp of the magnitude); the kernel
    checks the second neighbor on each side and falls back to an exact
    scalar run-expansion for any row where it ties, so the selection is
    exact for arbitrary doubles, not just well-spaced ones.

    ``kernel='sql'``: the broadcast cross + rank-1 window reference shape
    (kept as the differential-testing reference and as the regime above
    ``value_broadcast_limit`` distinct values, where arrays must not
    collect)."""
    if kernel != "sql" and values.count() <= value_broadcast_limit:
        return _nearest_value_1d_arrow(
            probes, values, probe_val, value_key, value_val, carry
        )
    sel = values.select(value_key, value_val, *carry)
    paired = probes.crossJoin(F.broadcast(sel)).withColumn(
        "__dist", F.abs(F.col(probe_val) - F.col(value_val))
    )
    w = Window.partitionBy(probe_key).orderBy("__dist", value_key)
    return (
        paired.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", value_val)
    )


def _nearest_value_1d_arrow(
    probes: DataFrame,
    values: DataFrame,
    probe_val: str,
    value_key: str,
    value_val: str,
    carry: tuple[str, ...],
) -> DataFrame:
    import numpy as np
    import pandas as pd

    # Winner within each distinct value: all rows of the group share the
    # same dist, so rank-1's (dist, key) tie-break reduces to min(key).
    win = (
        values.groupBy(value_val)
        .agg(F.min_by(F.struct(value_key, *carry), F.col(value_key)).alias("__w"))
        .select(value_val, "__w.*")
        .toPandas()
        .sort_values(value_val, kind="mergesort")
    )
    vals = win[value_val].to_numpy(dtype=np.float64)
    keys = win[value_key].to_numpy()
    carry_arrays = {c: win[c].to_numpy() for c in carry}
    b = probes.sparkSession.sparkContext.broadcast((vals, keys, carry_arrays))

    fields = [f"{f.name} {f.dataType.simpleString()}" for f in probes.schema.fields]
    vschema = {f.name: f.dataType.simpleString() for f in values.schema.fields}
    fields.append(f"{value_key} {vschema[value_key]}")
    fields.extend(f"{c} {vschema[c]}" for c in carry)
    fields.append("__dist double")
    out_schema = ", ".join(fields)

    def _winner_runs(c, vals, keys, j, d):
        """Exact scalar fallback for a probe whose float dist ties beyond
        the bracketing neighbor: expand the contiguous equal-dist runs on
        both sides and return the min-key winner's INDEX (so carry columns
        follow the same row)."""
        best_i = j
        i = j - 1
        while i >= 0 and abs(c - vals[i]) == d:
            if keys[i] < keys[best_i]:
                best_i = i
            i -= 1
        i = j + 1
        while i < len(vals) and abs(c - vals[i]) == d:
            if keys[i] < keys[best_i]:
                best_i = i
            i += 1
        return best_i

    def kernel_fn(batches, _pv=probe_val, _vk=value_key, _carry=carry):
        vals, keys, carry_arrays = b.value
        n = len(vals)
        if n == 0:  # empty value side: cross join semantics → no rows
            return
        for pdf in batches:
            if not len(pdf):
                continue
            c = pdf[_pv].to_numpy(dtype=np.float64)
            idx = np.searchsorted(vals, c)
            lo = np.clip(idx - 1, 0, n - 1)
            hi = np.clip(idx, 0, n - 1)
            d_lo = np.where(idx > 0, np.abs(c - vals[lo]), np.inf)
            d_hi = np.where(idx < n, np.abs(c - vals[hi]), np.inf)
            # NaN probes: every dist is NaN — SQL ordering treats NaN as
            # equal, so rank-1 degrades to min(key) over ALL values.
            nan_mask = np.isnan(c)
            take_hi = (d_hi < d_lo) | ((d_hi == d_lo) & (keys[hi] < keys[lo]))
            wi = np.where(take_hi, hi, lo)
            dist = np.where(take_hi, d_hi, d_lo)
            wkey = keys[wi]
            # second-neighbor float-collision check (see docstring): only
            # rows where the NEXT value out ties the winning dist need the
            # exact run expansion.
            lo2 = np.clip(wi - 1, 0, n - 1)
            hi2 = np.clip(wi + 1, 0, n - 1)
            coll = ((wi - 1 >= 0) & (np.abs(c - vals[lo2]) == dist)) | (
                (wi + 1 < n) & (np.abs(c - vals[hi2]) == dist)
            )
            coll &= ~nan_mask
            for r in np.flatnonzero(coll):
                wi[r] = _winner_runs(c[r], vals, keys, int(wi[r]), dist[r])
                wkey[r] = keys[wi[r]]
            if nan_mask.any():
                kmin = int(np.argmin(keys))
                wi = np.where(nan_mask, kmin, wi)
                wkey = np.where(nan_mask, keys[kmin], wkey)
                dist = np.where(nan_mask, np.nan, dist)
            out = pdf.copy()
            out[_vk] = wkey
            for cc in _carry:
                out[cc] = carry_arrays[cc][wi]
            out["__dist"] = dist
            yield out

    return probes.mapInPandas(kernel_fn, out_schema)


def sequence_index_join(
    df: DataFrame,
    sequences: DataFrame,
    granule_col: str = "granule",
    index_col: str = "SequencesIndex",
    seq_idx_col: str = "seq_idx",
    id_col: str = "SequencesId",
    none_value: str = "none",
) -> DataFrame:
    """J3 (SIF): positional index join ``target = SequencesId[SequencesIndex]``
    with −1 → 'none' (ref processors/OCO3SifProcessor.py:363-366).

    The sequence dim is per-granule and tiny → broadcast left join +
    ``coalesce`` for the −1 sentinel.
    """
    seq = F.broadcast(
        sequences.select(
            F.col(granule_col), F.col(seq_idx_col), F.col(id_col).alias("__seq_id")
        )
    )
    out = df.join(
        seq,
        on=[
            df[granule_col] == seq[granule_col],
            F.col(index_col) == F.col(seq_idx_col),
        ],
        how="left",
    ).drop(seq[granule_col]).drop(seq_idx_col)
    return out.withColumn("target_id", F.coalesce(F.col("__seq_id"), F.lit(none_value))).drop(
        "__seq_id"
    )


def day_alignment(
    per_mission: dict[str, DataFrame], day_col: str = "day"
) -> DataFrame:
    """J5: align per-mission daily frames on the data-day; missing missions
    yield null columns to be densified by the caller (G9)
    (ref main.py:242-320, tools/deploy/run.py:566-580)."""
    out: DataFrame | None = None
    for name, df in per_mission.items():
        renamed = df.select(
            F.col(day_col),
            *[F.col(c).alias(f"{name}_{c}") for c in df.columns if c != day_col],
        )
        out = renamed if out is None else out.join(renamed, on=day_col, how="full_outer")
    assert out is not None
    return out


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: salt the big side's key with a random
    bucket, replicate the small side across all buckets, join on
    (key, salt). Use when ONE key dominates (AQE skew-join splits partitions
    but can't split a single hot build-side key group); results are
    identical to a plain join on ``key``.

    At 100 TB the canonical use is a fact table whose foreign key has a few
    pathological hot values (e.g. the 'none' target id): salting spreads a
    hot key's rows over ``salt_buckets`` tasks at the cost of replicating
    the (small) other side ``salt_buckets``×.
    """
    salted_big = big.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    buckets = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    salted_small = skewed_small.withColumn("__salt", buckets)
    out = salted_big.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    value_cols: list[str],
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for every left row, the single right row nearest in time
    within the same key — the time-series join relational engines ship
    natively (DuckDB ASOF JOIN) and Spark lacks as a built-in.
    ``direction``: 'backward' (greatest right_time <= left_time, the ASOF
    default), 'forward' (smallest right_time >= left_time), or 'nearest'
    (closer of the two; ties prefer backward — pandas merge_asof
    semantics). Equal timestamps always match.

    Implemented as the scalable union-sort form, NOT a per-left-row range
    join: tag and union both sides, then one window pass per key carries
    the nearest right payload onto each left row (``last``/``first`` with
    ignorenulls over half-open frames). One shuffle + one sort on
    (key, time) regardless of how many right rows precede each left row —
    where a naive range join explodes as left × matching-right.
    ``tolerance_seconds`` nulls matches farther than the window.

    Returns all left columns plus each value column (right's payload) and
    ``__matched_time``. Right rows must be unique per (key, time) — ties
    there would make any engine's choice arbitrary; pre-aggregate first.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(direction)
    payload_t = F.struct(
        F.col(right_time).alias("__mt"),
        *[F.col(c).alias(c) for c in value_cols],
    )
    r2 = (
        right.select(*on, F.col(right_time).alias("__t"), payload_t.alias("__rv"))
        .withColumn("__is_left", F.lit(False))
    )
    l2 = (
        left.withColumn("__t", F.col(left_time))
        .withColumn("__rv", F.lit(None).cast(r2.schema["__rv"].dataType))
        .withColumn("__is_left", F.lit(True))
    )
    u = l2.unionByName(r2, allowMissingColumns=True)
    rv = F.when(~F.col("__is_left"), F.col("__rv"))
    # tie handling: a simultaneous right row must fall INSIDE the frame, so
    # the backward pass sorts rights before lefts at equal timestamps and
    # the forward pass sorts lefts first — two in-partition sort orders over
    # ONE exchange (same partitioning; Spark adds a sort, not a shuffle)
    wb = Window.partitionBy(*on).orderBy("__t", "__is_left")
    wf = Window.partitionBy(*on).orderBy("__t", F.desc("__is_left"))
    back = F.last(rv, ignorenulls=True).over(
        wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = F.first(rv, ignorenulls=True).over(
        wf.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # fractional seconds: cast(double) keeps sub-second precision, where
    # unix_timestamp truncates to whole seconds and would misroute 'nearest'
    # (and quantize the tolerance) on sub-second data
    gap = lambda m: F.abs(  # noqa: E731 - seconds between left time and match
        F.col("__t").cast("double") - m["__mt"].cast("double")
    )
    if direction == "backward":
        match = back
    elif direction == "forward":
        match = fwd
    else:
        match = (
            F.when(back.isNull(), fwd)
            .when(fwd.isNull(), back)
            .when(gap(fwd) < gap(back), fwd)
            .otherwise(back)  # ties prefer backward (pandas)
        )
    out = u.withColumn("__m", match).filter(F.col("__is_left"))
    m = F.col("__m")
    if tolerance_seconds is not None:
        m = F.when(gap(F.col("__m")) <= tolerance_seconds, F.col("__m"))
    return out.select(
        *left.columns,
        *[m[c].alias(c) for c in value_cols],
        m["__mt"].alias("__matched_time"),
    )


def sync_diff(
    local: DataFrame,
    remote: DataFrame,
    key_col: str = "key",
    size_col: str = "size",
    mtime_col: str = "mtime",
) -> DataFrame:
    """J7: incremental-sync plan — full outer join on relative key; classify
    upload-new / upload-changed / delete-orphan / unchanged
    (ref tools/s3Sync/sync.py:87-165)."""
    l = local.select(
        F.col(key_col).alias("key"),
        F.col(size_col).alias("l_size"),
        F.col(mtime_col).alias("l_mtime"),
    )
    r = remote.select(
        F.col(key_col).alias("key"),
        F.col(size_col).alias("r_size"),
        F.col(mtime_col).alias("r_mtime"),
    )
    joined = l.join(r, on="key", how="full_outer")
    action = (
        F.when(F.col("r_size").isNull(), "upload_new")
        .when(F.col("l_size").isNull(), "delete_orphan")
        .when(
            (F.col("l_size") != F.col("r_size")) | (F.col("l_mtime") > F.col("r_mtime")),
            "upload_changed",
        )
        .otherwise("unchanged")
    )
    return joined.withColumn("action", action)


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    bin_s: int = 3600,
    prefix_a: str = "a_",
    prefix_b: str = "b_",
) -> DataFrame:
    """Interval-overlap join (``a.start <= b.end AND b.start <= a.end``,
    closed intervals) in the shuffle-scalable *binned* form: each interval
    explodes to the fixed ``bin_s``-second time bins it spans, the join is
    an equi-join on the bin, and the exact overlap predicate refines in-task
    — the generalization of the reference's coarse-bbox-then-exact spatial
    join (J4, ref processors/OCO3SamProcessor.py:253-295) to 1-D time.

    A naive theta-join is a cartesian product per key (Spark would emit
    BroadcastNestedLoopJoin — unusable when both sides are large); the
    binned form shuffles both sides once on the bin key, so cost tracks
    bins-spanned x bin occupancy. Pick ``bin_s`` near the typical interval
    length: long intervals span many bins (duplication), short bins pack
    many intervals (per-bin quadratic refine).

    Pairs overlapping in several bins are emitted ONCE without any
    dropDuplicates shuffle: a pair is kept only in the bin containing the
    overlap's start (``greatest(a.start, b.start)``) — both intervals span
    that bin by construction, so exactly one bin keeps it.

    All columns of ``a``/``b`` are carried, renamed with the prefixes.
    """
    us = 1_000_000
    bin_len = bin_s * us

    def prep(df: DataFrame, prefix: str, s: str, e: str):
        out = df.select(*[F.col(c).alias(prefix + c) for c in df.columns])
        s2, e2 = prefix + s, prefix + e
        out = (
            out.withColumn("__s_us", F.unix_micros(F.col(s2).cast("timestamp")))
            .withColumn("__e_us", F.unix_micros(F.col(e2).cast("timestamp")))
            .withColumn(
                "__bin",
                F.explode(
                    F.sequence(
                        F.expr(f"__s_us div {bin_len}"),
                        F.expr(f"__e_us div {bin_len}"),
                    )
                ),
            )
        )
        return out

    A = prep(a, prefix_a, a_start, a_end).withColumnsRenamed(
        {"__s_us": "__as", "__e_us": "__ae"}
    )
    B = prep(b, prefix_b, b_start, b_end).withColumnsRenamed(
        {"__s_us": "__bs", "__e_us": "__be"}
    )
    overlap = (F.col("__as") <= F.col("__be")) & (F.col("__bs") <= F.col("__ae"))
    first_bin = F.col("__bin") == F.expr(
        f"greatest(__as, __bs) div {bin_len}"
    )
    return (
        A.join(B, "__bin")
        .filter(overlap & first_bin)
        .drop("__bin", "__as", "__ae", "__bs", "__be")
    )
