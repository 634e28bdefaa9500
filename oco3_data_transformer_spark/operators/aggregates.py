"""Aggregation operators A1-A9 (SURVEY.md §2.6).

All map onto Spark's partial+final hash aggregation — no custom UDAFs. The
climatology module (``plans/climatology.py``) composes A1/A2 into the full
tool; the primitives live here for reuse and oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def climatology_spans(
    df: DataFrame,
    time_col: str,
    value_cols: list[str],
    freq: str = "month",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """A1: temporal mean per period — monthly/annual climatology
    (ref tools/climatology/main.py:183-250): per span, ``mean`` (skipna, the
    SQL default) of each science var, a ``valid_count`` of non-null member
    slices, and ``n_days`` distinct days in span.

    ``freq``: 'month' | 'year' | 'season'. Seasons follow the reference's
    day-20 rule (ref tools/climatology/main.py:194-209): boundaries sit at
    day 20 of the months divisible by 3 (Mar/Jun/Sep/Dec), so a season runs
    e.g. Mar 21 – Jun 20 and is labeled by its canonical start date
    (make_date(y, {3,6,9,12}, 21); dates up to Mar 20 belong to the season
    starting Dec 21 of the *previous* year). The reference labels its first,
    possibly partial, slice by the dataset start date — a driver artifact of
    its slicing loop; here labels are data-independent.

    Plan shape (the 100 TB property): two plain hash aggregates — a day-level
    pre-aggregate (span is a pure function of the calendar day, so grouping by
    day first loses nothing) followed by a span-level final. The single-level
    formulation with ``countDistinct(date)`` made Catalyst plan an Expand that
    duplicates every scanned row (one copy for the distinct path, one for the
    plain aggregates) and shuffle the doubled partials; here the shuffle
    carries one row per (keys, day) and no Expand exists. ``mean`` is
    sum/count — the same expression ``avg`` lowers to, re-associated at day
    granularity (partial aggregation already makes float sum order
    nondeterministic, so this changes no contract).
    """
    keys = list(extra_keys or [])
    t = F.col(time_col)
    day = F.col("_clim_day")
    if freq == "month":
        span = F.date_trunc("month", day)
    elif freq == "year":
        span = F.date_trunc("year", day)
    elif freq == "season":
        m, d = F.month(day), F.dayofmonth(day)
        # roll day >= 21 of a season-final month into the next quarter;
        # quarter index 0 (Jan-Mar<=20) belongs to Dec 21 of the prior year
        rolled = m + F.when((m % 3 == 0) & (d >= 21), 1).otherwise(0)
        qi = F.floor((rolled - 1) / 3).cast("int")
        span = F.make_date(
            F.year(day) - F.when(qi == 0, 1).otherwise(0),
            F.when(qi == 0, 12).otherwise(qi * 3).cast("int"),
            F.lit(21),
        )
    else:
        raise ValueError(freq)
    day_aggs: list[Column] = []
    final_aggs: list[Column] = []
    post: list[Column] = []
    for c in value_cols:
        day_aggs.append(F.sum(c).alias(f"{c}_sum"))
        day_aggs.append(F.count(c).alias(f"{c}_valid_count"))
        final_aggs.append(F.sum(f"{c}_sum").alias(f"{c}_sum"))
        final_aggs.append(
            F.sum(f"{c}_valid_count").cast("long").alias(f"{c}_valid_count")
        )
        post.append(
            (F.col(f"{c}_sum") / F.col(f"{c}_valid_count")).alias(f"{c}_mean")
        )
    # a day whose values are all null still counts toward n_days (the
    # reference counts slices present, not slices with data); null time
    # rows form a null-day group whose count(day) is 0 — matching the
    # old countDistinct's null exclusion
    final_aggs.append(F.count("_clim_day").alias("n_days"))
    per_day = (
        df.withColumn("_clim_day", t.cast("date"))
        .groupBy(*keys, "_clim_day")
        .agg(*day_aggs)
    )
    out = per_day.withColumn("span", span).groupBy(*keys, "span").agg(*final_aggs)
    cols: list[Column] = [F.col(k) for k in keys] + [F.col("span")]
    for i, c in enumerate(value_cols):
        cols += [post[i], F.col(f"{c}_sum"), F.col(f"{c}_valid_count")]
    return out.select(*cols, F.col("n_days"))


def month_of_year_consolidation(
    spans: DataFrame,
    span_col: str = "span",
    mean_cols: list[str] | None = None,
    count_cols: list[str] | None = None,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """A2: consolidate monthly slices across years by calendar month
    (ref tools/climatology/main.py:281-329): re-mean the means, sum the
    counts, map the span to year 1970."""
    keys = list(extra_keys or [])
    out = spans.withColumn("month", F.month(span_col))
    aggs: list[Column] = []
    for c in mean_cols or []:
        aggs.append(F.avg(c).alias(c))
    for c in count_cols or []:
        aggs.append(F.sum(c).alias(c))
    out = out.groupBy(*keys, "month").agg(*aggs)
    return out.withColumn(
        "span", F.make_date(F.lit(1970), F.col("month"), F.lit(1))
    )


def region_centroid_extent(
    df: DataFrame, region_cols: list[str], lat: str, lon: str
) -> DataFrame:
    """A4: region centroid + bbox (ref processors/OCO2Processor.py:405-413)."""
    return df.groupBy(*region_cols).agg(
        F.avg(lat).alias("lat_c"),
        F.avg(lon).alias("lon_c"),
        F.min(lat).alias("min_lat"),
        F.max(lat).alias("max_lat"),
        F.min(lon).alias("min_lon"),
        F.max(lon).alias("max_lon"),
        F.count(F.lit(1)).alias("n"),
    )


def rollup_totals(
    df: DataFrame, key_cols: list[str], aggs: list[Column]
) -> DataFrame:
    """A6: per-key sums plus an 'all' grand-total row — the reference appends
    a literal total row (ref tools/bbox-tools/targetsStats.py:209-240); here
    it's ``rollup`` so Spark computes it in one pass."""
    return df.rollup(*key_cols).agg(*aggs)


def coverage_attrs(df: DataFrame, time_col: str) -> DataFrame:
    """A7: min/max time coverage maintained on append
    (ref writers/ZarrWriter.py:140-167)."""
    return df.agg(
        F.min(time_col).alias("coverage_start"),
        F.max(time_col).alias("coverage_end"),
        F.count(F.lit(1)).alias("n_rows"),
    )
