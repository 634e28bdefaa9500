"""Filter / predicate operators F3, F4 and F7-F9 (SURVEY.md §2.2).

All are plain ``filter``/semi-join formulations so Catalyst pushes them into
the scan (verify with ``.explain``: ``PushedFilters`` on the parquet scan).
The mode (F2), quality-flag (F3) and missing-target (F5) predicates are
inlined in ``plans/pipeline.py``, which takes their codes from here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Mode codes, ref processors/OCO3SamProcessor.py:37-38 (CO2) and
# processors/OCO3SifProcessor.py:37-38 (SIF SAM=3).
OPERATION_MODE_TARGET = 2
OPERATION_MODE_SAM = 4
SIF_MODE_SAM = 3

MISSING_TARGET_IDS = ("Missing", "missing")  # ref processors/OCO3SamProcessor.py:441-445


def drop_regions_without_good(
    df: DataFrame, region_cols: list[str], good: Column
) -> DataFrame:
    """F3 region-drop: a region with zero good soundings is dropped entirely
    from the post-QF branch (ref processors/OCO3SamProcessor.py:455-464).

    Left-semi join against the qualifying region keys — a map-side broadcast
    at typical region cardinality, no fact-table shuffle.
    """
    good_regions = df.filter(good).select(*region_cols).distinct()
    return df.join(F.broadcast(good_regions), on=region_cols, how="left_semi")


def pre_post_split(df: DataFrame, good: Column) -> tuple[DataFrame, DataFrame]:
    """F4: every region is emitted twice — unfiltered ('pre') and
    QF-filtered ('post') (ref main.py:374-418). Caller should ``persist``
    the input if both branches are consumed in one job."""
    return df, df.filter(good)


def drop_empty_slices(
    df: DataFrame, slice_cols: list[str], value_cols: list[str]
) -> DataFrame:
    """F7: drop output slices whose science variables are all-NaN/null
    (ref utils/dataset_utils.py:21-26, config 'drop-empty' README.md:336-345).

    One ``count(value) over (partition by slice_cols)`` window filter: the
    input executes once, where a join against an aggregate of itself would
    run the input's plan on both sides.
    """
    w = Window.partitionBy(*slice_cols)
    n = sum((F.count(F.col(c)).over(w) for c in value_cols), F.lit(0))
    return df.withColumn("__n_values", n).filter(F.col("__n_values") > 0).drop("__n_values")


def time_range(df: DataFrame, time_col: str, start, end) -> DataFrame:
    """F8: climatology-style time subset (ref tools/climatology/main.py:177-221)
    — with ``partitionBy(time)`` storage this is partition pruning."""
    return df.filter(F.col(time_col).between(start, end))


def limit_days(df: DataFrame, day_col: str, n: int) -> DataFrame:
    """F9: cap the number of (ordered) distinct data-days staged per run
    (ref tools/deploy/run.py:596-603)."""
    days = df.select(day_col).distinct().orderBy(day_col).limit(n)
    return df.join(F.broadcast(days), on=day_col, how="left_semi")
