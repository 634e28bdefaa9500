"""Scalar functions C1-C11 from the reference (SURVEY.md §2.9), as built-in
column expressions.

Citations into /root/reference:
  C1  filename → date        processors/Processor.py:79-83
  C2  date components → ts   processors/OCO3SamProcessor.py:84
  C3  SIF 1990-epoch time    processors/OCO3SifProcessor.py:66,93-95
  C4  extract_id             targets/TargetInfo.py:128-146
  C5  determine_id_type      targets/TargetInfo.py:149-154
  C9  ISO-8601 formatting    writers/ZarrWriter.py:48,131
  C10 latitude flip          writers/CoGWriter.py:153-161 (sink-side orderBy)
  C11 md5                    tools/zarrChecksum/checksum.py:51-74
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SIF_EPOCH_1990 = 631152000  # seconds from 1970-01-01 to 1990-01-01 UTC

# target-type codes, ref targets/TargetInfo.py:17-27 (int8 encoding) and
# prefix dispatch :149-154
TARGET_TYPE_CODES = {"fossil": 0, "ecostress": 1, "sif": 2, "volcano": 3, "tccon": 4}
TARGET_TYPE_OTHER = 5


def granule_date(filename: Column) -> Column:
    """C1: ``oco3_LtCO2_YYMMDD_...`` → date (split on '_', index 2, %y%m%d).

    Ref processors/Processor.py:79-83 and tools/deploy/run.py:208-214.
    The century pivot is strptime's (00-68 → 2000s, 69-99 → 1900s) — Java's
    ``yy`` pattern would pivot at 2000, so the pivot is made explicit.
    """
    d = F.split(filename, "_").getItem(2)
    yy = F.substring(d, 1, 2).cast("int")
    year = F.when(yy < 69, yy + 2000).otherwise(yy + 1900)
    return F.make_date(year, F.substring(d, 3, 2).cast("int"), F.substring(d, 5, 2).cast("int"))


def timestamp_from_components(date_vec: Column) -> Column:
    """C2: CO2 granule date-component vector
    ``[year, month, day, hour, minute, second(, microsecond)]`` → UTC
    timestamp — the reference's ``datetime(*date[0])``
    (ref processors/OCO3SamProcessor.py:84). A missing 7th element counts
    as 0 microseconds."""
    secs = (
        date_vec.getItem(5).cast("double")
        # get() (not getItem) tolerates a missing 7th element -> null -> 0 µs
        + F.coalesce(F.get(date_vec, 6).cast("double"), F.lit(0.0)) / 1e6
    )
    return F.make_timestamp(
        date_vec.getItem(0).cast("int"),
        date_vec.getItem(1).cast("int"),
        date_vec.getItem(2).cast("int"),
        date_vec.getItem(3).cast("int"),
        date_vec.getItem(4).cast("int"),
        secs.cast("decimal(16,6)"),
    )


def sif_timestamp(delta_time: Column) -> Column:
    """C3: SIF Delta_Time (seconds since 1990-01-01) → timestamp."""
    return F.timestamp_seconds(delta_time + F.lit(SIF_EPOCH_1990))


def extract_id_num(target_id: Column) -> Column:
    """C4: trailing-digits id extraction; non-matching → null.

    Ref targets/TargetInfo.py:128-146 (regex branch; the ECOSTRESS/SIF
    name→int lookup tables are handled by the broadcast dimension join J1
    instead of a 95-entry CASE).
    """
    digits = F.regexp_extract(target_id, r"(\d+)$", 1)
    return F.when(digits == "", None).otherwise(digits.cast("int"))


def extract_id_num_sql(expr: str) -> str:
    return (
        f"CASE WHEN regexp_extract({expr}, '([0-9]+)$', 1) = '' THEN NULL "
        f"ELSE CAST(regexp_extract({expr}, '([0-9]+)$', 1) AS INT) END"
    )


def determine_id_type(target_id: Column) -> Column:
    """C5: prefix → int8 type code; unknown prefix → OTHER."""
    expr: Column = F.lit(TARGET_TYPE_OTHER)
    for prefix, code in reversed(list(TARGET_TYPE_CODES.items())):
        expr = F.when(F.lower(target_id).startswith(prefix), F.lit(code)).otherwise(expr)
    return expr.cast("tinyint")


def determine_id_type_sql(expr: str) -> str:
    sql = str(TARGET_TYPE_OTHER)
    for prefix, code in reversed(list(TARGET_TYPE_CODES.items())):
        sql = f"CASE WHEN starts_with(lower({expr}), '{prefix}') THEN {code} ELSE {sql} END"
    return f"CAST({sql} AS TINYINT)"


def iso8601(ts: Column) -> Column:
    """C9: ISO-8601 UTC second-resolution formatting."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def morton_key(lat_idx: Column, lon_idx: Column, bits: int = 8) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of two grid
    indexes — lat bit i lands at position 2i+1, lon bit i at 2i. Pure
    integer floor-div/mod arithmetic so the identical expression runs on
    any SQL engine (:func:`morton_key_sql`) and stays inside whole-stage
    codegen here. Rows close on the 2-D grid get close keys, which is what
    makes min/max row-group statistics selective for spatial range reads
    (the lakehouse Z-ORDER clustering idea applied to the store's
    lat_idx/lon_idx raster coordinates)."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        lat_bit = F.shiftright(lat_idx.cast("long"), i).bitwiseAND(F.lit(1))
        lon_bit = F.shiftright(lon_idx.cast("long"), i).bitwiseAND(F.lit(1))
        out = out + lat_bit * F.lit(2 ** (2 * i + 1)) + lon_bit * F.lit(2 ** (2 * i))
    return out


def morton_key_sql(lat_expr: str, lon_expr: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(
            f"((CAST({lat_expr} AS BIGINT) // {2**i}) % 2) * {2 ** (2 * i + 1)}"
        )
        terms.append(
            f"((CAST({lon_expr} AS BIGINT) // {2**i}) % 2) * {2 ** (2 * i)}"
        )
    return "(" + " + ".join(terms) + ")"
