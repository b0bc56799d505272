"""FormatConsistency re-imagined (reference QualityControl.py:2176-2529).

The reference's check/fix call 12 private helpers that were never written
(SURVEY.md §2.10.2); the intended pattern taxonomy is documented at
:2204-2210 (date, datetime, phone, email, address, ip, custom) and golden
behavior in tests/test_format_consistency.py:22-23,41-42,51-52. This
module implements those semantics natively: pattern predicates are Java
regex columns (codegen), standardization is regexp_extract recomposition.

Phone golden: '123-456-7890' / '(123) 456-7890' -> '+1-123-456-7890';
'invalid_phone' -> dropped/null (tests/test_format_consistency.py:51-52).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java-regex pattern bank (anchored full-match predicates)
FORMAT_PATTERNS: dict[str, str] = {
    "date": r"^\d{4}-\d{2}-\d{2}$",
    "datetime": r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(:\d{2})?$",
    "phone": r"^(\+1[-. ])?(\(\d{3}\)\s?|\d{3}[-.])\d{3}[-.]\d{4}$",
    "email": r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$",
    "ip": r"^(\d{1,3}\.){3}\d{1,3}$",
    "zip": r"^\d{5}(-\d{4})?$",
}


def matches_format(col: Column, fmt: str, custom_pattern: str | None = None) -> Column:
    pattern = custom_pattern if fmt == "custom" else FORMAT_PATTERNS[fmt]
    return col.rlike(pattern)


def check(df: DataFrame, col: str, fmt: str, custom_pattern: str | None = None) -> DataFrame:
    """One-row report: total / valid / invalid / invalid_percentage
    (golden: 4 dates with 3 invalid -> invalid_format_count=3,
    tests/test_format_consistency.py:22-23)."""
    c = F.col(col)
    ok = matches_format(c, fmt, custom_pattern) & c.isNotNull()
    return df.agg(
        F.count(F.lit(1)).alias("total_count"),
        F.sum(ok.cast("long")).alias("valid_count"),
        F.sum((~ok | c.isNull()).cast("long")).alias("invalid_format_count"),
        F.round(
            F.sum((~ok | c.isNull()).cast("long")) * 100.0 / F.count(F.lit(1)), 6
        ).alias("invalid_percentage"),
    )


def standardize_phone(df: DataFrame, col: str) -> DataFrame:
    """fix(strategy='standardize') for phones: any valid US form ->
    +1-XXX-XXX-YYYY; invalid -> NULL (reference golden :51-52)."""
    c = F.col(col)
    digits = F.regexp_replace(c, r"[^0-9]", "")
    ten = F.when(
        (F.length(digits) == 11) & digits.startswith("1"), F.substring(digits, 2, 10)
    ).otherwise(digits)
    valid = matches_format(c, "phone")
    return df.withColumn(
        col,
        F.when(
            valid,
            F.concat(
                F.lit("+1-"),
                F.substring(ten, 1, 3),
                F.lit("-"),
                F.substring(ten, 4, 3),
                F.lit("-"),
                F.substring(ten, 7, 4),
            ),
        ).otherwise(F.lit(None).cast("string")),
    )


def standardize_date(df: DataFrame, col: str) -> DataFrame:
    """Dates in any of the reference's exemplar forms -> ISO yyyy-MM-dd
    (try_to_timestamp cascade; unparseable -> NULL)."""
    c = F.col(col)
    parsed = F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(c, F.lit("MM/dd/yyyy")),
        F.try_to_timestamp(c, F.lit("dd-MM-yyyy")),
        F.try_to_timestamp(c, F.lit("yyyy.MM.dd")),
    )
    return df.withColumn(col, F.date_format(parsed, "yyyy-MM-dd"))


def parse_address(df: DataFrame, col: str) -> DataFrame:
    """fix(strategy='parse') for 'street, city, ST zip' (reference golden
    street/city/state/zip columns, tests/test_format_consistency.py:64-67)."""
    c = F.col(col)
    return (
        df.withColumn("street", F.trim(F.regexp_extract(c, r"^([^,]+),", 1)))
        .withColumn("city", F.trim(F.regexp_extract(c, r",\s*([^,]+),", 1)))
        .withColumn("state", F.regexp_extract(c, r",\s*([A-Z]{2})\s+\d{5}", 1))
        .withColumn("zip", F.regexp_extract(c, r"(\d{5}(-\d{4})?)\s*$", 1))
    )


def scrub_invalid(df: DataFrame, col: str, fmt: str, custom_pattern: str | None = None) -> DataFrame:
    """fix(strategy='scrub'): drop rows whose value fails the format
    (reference golden: 'invalid_phone' gone, :52)."""
    return df.filter(matches_format(F.col(col), fmt, custom_pattern))


def parse_datetime(
    df: DataFrame, col: str, output_columns: tuple[str, str] = ("date", "time")
) -> DataFrame:
    """parse_components(format_type='datetime') (reference
    QualityControl.py:2481-2529 — which only emits F.lit(None)
    placeholder columns): split a datetime string into date + time
    component columns via a try_to_timestamp cascade; unparseable rows
    get NULL components. Pure projection, no shuffle."""
    c = F.col(col)
    parsed = F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("MM/dd/yyyy HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("MM/dd/yyyy HH:mm")),
    )
    d_col, t_col = output_columns
    return df.withColumn(d_col, F.date_format(parsed, "yyyy-MM-dd")).withColumn(
        t_col, F.date_format(parsed, "HH:mm:ss")
    )
