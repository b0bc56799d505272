"""RangeValidity re-imagined (reference QualityControl.py:642-1051).

Inherited semantics: cap/remove/flag strategies (:923-970), IQR k=1.5
(:680, :778-782), stats block (:754-762). All fixes are lazy column
algebra; the stats/IQR pass is one aggregation whose results feed the
rule pass as literals (two-pass design per SURVEY.md §7.2 —
corpus-relative thresholds computed once, broadcast as constants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stats(df: DataFrame, col: str) -> DataFrame:
    """min/max/mean/stddev/median/q1/q3 in ONE select (A3, :754-762).

    Uses SQL `percentile` (exact) so a DuckDB oracle can reproduce values
    bit-for-bit; at 100 TB swap for percentile_approx via the `approx` arg
    of iqr_bounds.
    """
    c = F.col(col)
    return df.agg(
        F.min(c).alias("min_value"),
        F.max(c).alias("max_value"),
        F.avg(c).alias("mean_value"),
        F.stddev(c).alias("stddev_value"),
        F.expr(f"percentile({col}, 0.5)").alias("median_value"),
        F.expr(f"percentile({col}, 0.25)").alias("q1"),
        F.expr(f"percentile({col}, 0.75)").alias("q3"),
    )


def iqr_bounds(
    df: DataFrame, col: str, k: float = 1.5, approx: bool = False
) -> tuple[float, float]:
    """IQR outlier bounds, k=1.5 inherited from :680. One job."""
    fn = "percentile_approx" if approx else "percentile"
    row = df.agg(
        F.expr(f"{fn}({col}, 0.25)").alias("q1"),
        F.expr(f"{fn}({col}, 0.75)").alias("q3"),
    ).first()
    iqr = row["q3"] - row["q1"]
    return row["q1"] - k * iqr, row["q3"] + k * iqr


def cap(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """strategy='cap' (:923-929) via least/greatest — branch-free codegen."""
    c = F.col(col)
    return df.withColumn(col, F.least(F.greatest(c, F.lit(lo)), F.lit(hi)))


def remove(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """strategy='remove' (:931-946): keep lo <= x <= hi (nulls dropped too,
    matching reference filter semantics)."""
    c = F.col(col)
    return df.filter((c >= F.lit(lo)) & (c <= F.lit(hi)))


def flag(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """strategy='flag' (:955-970): adds _below_min/_above_max/_outlier."""
    c = F.col(col)
    below = (c < F.lit(lo)).cast("int")
    above = (c > F.lit(hi)).cast("int")
    return (
        df.withColumn(f"{col}_below_min", below)
        .withColumn(f"{col}_above_max", above)
        .withColumn(f"{col}_outlier", F.greatest(below, above))
    )


def custom_rule(df: DataFrame, rule: str) -> DataFrame:
    """P8 (:786-787): arbitrary SQL predicate."""
    return df.filter(F.expr(rule))


def log_transform(col_name: str) -> Column:
    """strategy='transform' log leg (:950): golden log(1000)=6.907755."""
    return F.log(F.col(col_name))


def suggest_boundaries(
    df: DataFrame,
    columns: str | list[str],
    method: str = "statistical",
    domain_rules: dict[str, dict] | None = None,
    approx: bool = True,
) -> dict[str, dict[str, float]]:
    """Boundary suggestion (reference QualityControl.py:974-1051):
    'statistical' = 1%/99% percentiles, 'percentile' = 5%/95%, 'domain' =
    caller-provided rules passed through.

    Spark-first correction: the reference loops one percentile job +
    collect PER COLUMN (:1028-1044); here all columns aggregate in ONE
    job (a single 1-row collect — the only driver-side data). `approx`
    uses percentile_approx (t-digest sketch, the 100 TB shape); False
    uses exact SQL percentile for oracle parity on small data."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    if method == "domain":
        rules = domain_rules or {}
        return {c: dict(rules[c]) for c in cols if c in rules}
    if method == "statistical":
        lo_p, hi_p = 0.01, 0.99
    elif method == "percentile":
        lo_p, hi_p = 0.05, 0.95
    else:
        raise ValueError(
            f"method must be statistical/percentile/domain, got {method!r}"
        )
    fn = "percentile_approx" if approx else "percentile"
    row = df.agg(
        *[
            F.expr(f"{fn}({c}, array({lo_p}, {hi_p}))").alias(c)
            for c in cols
        ]
    ).first()
    return {
        c: {"min": row[c][0], "max": row[c][1]}
        for c in cols
        if row[c] is not None
    }
