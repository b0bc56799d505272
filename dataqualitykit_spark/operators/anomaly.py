"""StatisticalAnomaly re-imagined (reference QualityControl.py:2532-3238).

Every window here is PARTITIONED — the reference's global Window.orderBy
(:3095, :3101, :2676) collapses to one task and cannot scale (SURVEY.md
§2.5 ⚠). Z-score constants inherited: k=3.0 default (:2932). Driver-side
scipy/statsmodels blocks (:2657-2672, :2900-2920) are out of scope per
SURVEY §2.9 U10.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zscore_flags(
    df: DataFrame, col: str, threshold: float = 3.0, group_by: list[str] | None = None
) -> DataFrame:
    """|x - mean| / stddev > threshold flag (W8, :2989-2993).

    Global stats come from ONE aggregation cross-joined back as literals
    (broadcast of a 1-row frame — no collect, plan stays lazy). With
    group_by, stats are per group via partial+final hash agg + broadcast-
    friendly join on the group key.
    """
    c = F.col(col)
    if group_by:
        stats = df.groupBy(*group_by).agg(
            F.avg(c).alias("_mean"), F.stddev(c).alias("_std")
        )
        joined = df.join(F.broadcast(stats), group_by, "left")
    else:
        stats = df.agg(F.avg(c).alias("_mean"), F.stddev(c).alias("_std"))
        joined = df.crossJoin(F.broadcast(stats))
    z = F.when(
        F.col("_std").isNotNull() & (F.col("_std") > 0),
        F.abs(c - F.col("_mean")) / F.col("_std"),
    ).otherwise(F.lit(0.0))
    return joined.withColumn("zscore", z).withColumn(
        "is_outlier", F.col("zscore") > F.lit(threshold)
    ).drop("_mean", "_std")


def remove_outliers_zscore(
    df: DataFrame, col: str, threshold: float = 3.0
) -> DataFrame:
    """zscore strategy='remove' (:3020-3030) without the anti-join — a
    plain filter over the flagged frame (golden: [1,2,3,100,5..10] with
    k=2.0 drops 100, tests/test_statistical_anomaly.py:44-46)."""
    flagged = zscore_flags(df, col, threshold)
    return flagged.filter(~F.col("is_outlier")).drop("zscore", "is_outlier")


def moving_average(
    df: DataFrame,
    col: str,
    order_col: str,
    windows: list[int] = (3, 5),
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Trailing moving averages (W3, :3100-3105) — ma_{k} columns.

    partition_by REQUIRED at scale; defaults to unpartitioned only for
    small fixtures (mirrors the reference golden ma_3/ma_5 test)."""
    w = Window.orderBy(order_col)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(order_col)
    out = df
    for k in windows:
        out = out.withColumn(
            f"ma_{k}", F.avg(col).over(w.rowsBetween(-(k - 1), 0))
        )
    return out


def forward_fill(
    df: DataFrame,
    col: str,
    order_col: str,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """W6 corrected (:2890-2892 references an undefined time_column):
    last non-null over unbounded-preceding frame."""
    w = Window.orderBy(order_col)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(order_col)
    return df.withColumn(
        f"{col}_ffill",
        F.last(col, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def lag_tolerance_breach(
    df: DataFrame,
    col: str,
    order_col,
    tolerance: float = 0.0,
    partition_by: list[str] | None = None,
    kind: str = "numeric",
) -> DataFrame:
    """W2 (:1876-1890), all three reference legs:

    - kind='numeric'     |x - lag(x)| > tolerance
    - kind='temporal'    |datediff(x, lag(x))| > tolerance days (:1889)
    - kind='categorical' x != lag(x)  (:1885-1887, tolerance ignored)

    order_col may be a column name or a list of names/Columns (composite
    total order pins ties so the flag is deterministic under shuffle).
    """
    order = order_col if isinstance(order_col, list) else [order_col]
    w = Window.orderBy(*order)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order)
    prev = F.lag(col).over(w)
    if kind == "numeric":
        breach = F.abs(F.col(col) - prev) > F.lit(tolerance)
    elif kind == "temporal":
        breach = F.abs(F.datediff(F.col(col), prev)) > F.lit(tolerance)
    elif kind == "categorical":
        breach = F.col(col) != prev
    else:
        raise ValueError(f"kind must be numeric/temporal/categorical, got {kind!r}")
    # coalesce catches BOTH null legs: prev NULL (first row of a partition)
    # and current-value NULL (breach expr null-propagates) — the output is
    # always a real boolean, mirroring the oracle's coalesce(..., FALSE)
    return df.withColumn(
        "tolerance_breach",
        F.coalesce(breach, F.lit(False)),
    )


def weighted_moving_average(
    df: DataFrame,
    col: str,
    order_col,
    weights: list[float],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """W4 corrected (reference :3092-3099 passes F.lit(np.array) — invalid):
    linear-weighted trailing MA as a lag composition, wma = sum(w_i *
    lag(x, k-1-i)) / sum(w); NULL until the frame is full (first k-1 rows).

    order_col may be a name or list of names/Columns (composite tie-break)."""
    order = order_col if isinstance(order_col, list) else [order_col]
    w = Window.orderBy(*order)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order)
    k = len(weights)
    total = sum(weights)
    expr = None
    for i, wt in enumerate(weights):
        term = F.lag(col, k - 1 - i).over(w) * F.lit(wt)
        expr = term if expr is None else expr + term
    return df.withColumn(f"wma_{k}", expr / F.lit(total))


def centered_moving_average(
    df: DataFrame,
    col: str,
    order_col: str,
    k: int = 3,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """W5 (:3107-3111): centered frame [-(k//2), +(k//2)] directly instead
    of the reference's trailing-MA-then-lead shift."""
    w = Window.orderBy(order_col)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(order_col)
    half = k // 2
    return df.withColumn(
        f"cma_{k}", F.avg(col).over(w.rowsBetween(-half, half))
    )


def impute(
    df: DataFrame, cols: list[str], strategy: str = "mean"
) -> DataFrame:
    """A13 (:283-285): mean/median imputation via pyspark.ml.feature.Imputer."""
    from pyspark.ml.feature import Imputer

    model = Imputer(
        strategy=strategy, inputCols=cols, outputCols=cols
    ).fit(df)
    return model.transform(df)


def cusum_changepoints(
    metric_rows: list[float], threshold: float = 5.0, drift: float = 0.0
) -> list[int]:
    """CUSUM over a per-batch metrics series (SURVEY §7.0 deferred stage:
    driver-side over the TINY aggregate metrics table — the one place
    driver-side compute is fine). Returns indices where the cumulative
    positive or negative deviation from the running mean exceeds
    threshold * stddev."""
    n = len(metric_rows)
    if n < 3:
        return []
    # in-control target calibrated on an initial window (standard CUSUM),
    # not the global mean — a level shift would otherwise contaminate the
    # target and fire inside the pre-shift segment
    calib = min(n, max(5, n // 10))
    target = sum(metric_rows[:calib]) / calib
    mean = sum(metric_rows) / n
    var = sum((x - mean) ** 2 for x in metric_rows) / max(n - 1, 1)
    std = var**0.5
    if std == 0:
        return []
    limit = threshold * std
    pos = neg = 0.0
    out = []
    for i, x in enumerate(metric_rows):
        pos = max(0.0, pos + (x - target - drift))
        neg = min(0.0, neg + (x - target + drift))
        if pos > limit or -neg > limit:
            out.append(i)
            pos = neg = 0.0
    return out


def distribution_moments(
    df: DataFrame, col: str, group_by: list[str] | None = None
) -> DataFrame:
    """A4/A12 (:2640-2646, :2682-2691): mean/stddev/skewness/kurtosis,
    optionally per segment."""
    c = F.col(col)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg(c).alias("mean_value"),
        F.stddev(c).alias("stddev_value"),
        F.skewness(c).alias("skewness_value"),
        F.kurtosis(c).alias("kurtosis_value"),
    ]
    return df.groupBy(*group_by).agg(*aggs) if group_by else df.agg(*aggs)


def _ewma_block_rows(alpha: float) -> int:
    """Largest block size keeping (1-alpha)^(-o) under ~1e120 so the
    rebased partial sums can never overflow a double regardless of
    partition length (the carry weight q = (1-alpha)^B is then <= 1e-120,
    which also makes every >=2-blocks-back carry term provably below
    double precision — see ewma_smooth)."""
    import math

    decay = 1.0 - alpha
    if decay <= 0.0:
        return 8
    b = int(120.0 / -math.log10(decay)) if decay < 1.0 else 8192
    return max(8, min(b, 8192))


def ewma_smooth(
    df: DataFrame,
    col: str,
    order_col,
    alpha: float = 0.5,
    partition_by: list[str] | None = None,
    out_col: str | None = None,
    block_rows: int | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average, y_0 = x_0 and
    y_t = alpha*x_t + (1-alpha)*y_{t-1} (pandas ewm(adjust=False)).

    The reference *intends* this op but is broken there —
    QualityControl.py:2888 passes F.expr('ewma'), a nonexistent SQL
    function. Re-expressed as exact window algebra via the closed form
    y_t = sum_{i<=t} g_i * (1-alpha)^(t-i), g_0 = x_0, g_i = alpha*x_i.

    Scale design: the naive separable form u_i = g_i * (1-alpha)^(-i)
    overflows doubles once a partition exceeds ~1e3-1e4 rows, so the
    scan is SEGMENTED: rows are cut into blocks of B = block_rows
    (auto-sized from alpha so (1-alpha)^(-B) <= ~1e120), exponents are
    rebased per block, and the cross-block carry is a single term
    q * U_{b-1} with q = (1-alpha)^B — every block >= 2 back carries
    weight <= q <= 1e-120 relative and is provably below double
    precision, so one carry term is EXACT to ulp. Two exchanges
    (hash(partition) + hash(partition, block)), zero driver state,
    unbounded partition length.

    NULL inputs carry the previous smoothed value forward (the fold
    skips them — pandas ignore_na=True); rows before the first non-null
    emit NULL. partition_by is REQUIRED at scale (a global orderBy
    collapses to one task); it defaults to None only for small fixtures.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    out_col = out_col or f"ewma_{col}"
    x = F.col(col)
    if alpha >= 1.0:
        return df.withColumn(out_col, x.cast("double"))
    decay = 1.0 - alpha
    B = int(block_rows) if block_rows else _ewma_block_rows(alpha)
    order = order_col if isinstance(order_col, list) else [order_col]

    w_pre = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    if partition_by:
        w_pre = (
            Window.partitionBy(*partition_by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    # idx = 0-based index among NON-NULL rows; a NULL row inherits the
    # index of the last non-null before it, so the final scale emits the
    # carried-forward smoothed value for free
    idx = F.count(x).over(w_pre) - F.lit(1)
    g = F.when(idx == 0, x).otherwise(F.lit(alpha) * x)  # NULL x => NULL g
    stage1 = df.withColumn("_ewma_idx", idx).withColumn(
        "_ewma_b", F.floor(F.col("_ewma_idx") / B)
    )
    o = F.col("_ewma_idx") - F.col("_ewma_b") * B
    stage1 = stage1.withColumn(
        "_ewma_u", g * F.pow(F.lit(decay), -o.cast("double"))
    )

    # within-block prefix sum (rebased exponents stay <= decay^-(B-1))
    pk = list(partition_by) if partition_by else []
    w_blk = (
        Window.partitionBy(*pk, "_ewma_b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # prior blocks' full rebased sums U_{b-j} via RANGE frames on the
    # block id, folded with weights q^j (q = decay^B). Dropping blocks
    # >= J back leaves relative error ~ q^(J-1) * decay, so J is sized
    # from q to keep that below double precision: at the auto block size
    # q <= ~1e-120 and J is 1-2; a small explicit block_rows needs more
    # terms (each is one extra window function over the SAME sort).
    import math as _math

    q = float(decay) ** B
    neg_log10_q = -_math.log10(q) if q > 0.0 else 400.0
    n_carry = 1 + _math.ceil(18.0 / max(neg_log10_q, 1e-9))
    if n_carry > 32:
        raise ValueError(
            f"block_rows={B} is too small for alpha={alpha}: the carry "
            f"would need {n_carry} terms; use block_rows >= "
            f"{_ewma_block_rows(alpha)} (the auto size)"
        )

    def _prev_block_sum(j: int):
        w_prev = (
            Window.partitionBy(*pk)
            .orderBy(F.col("_ewma_b"))
            .rangeBetween(-j, -j)
            if pk
            else Window.orderBy(F.col("_ewma_b")).rangeBetween(-j, -j)
        )
        return F.coalesce(F.sum("_ewma_u").over(w_prev), F.lit(0.0))

    ws = F.sum("_ewma_u").over(w_blk)
    carry = None
    for j in range(1, n_carry + 1):
        term = F.lit(q**j) * _prev_block_sum(j)
        carry = term if carry is None else carry + term
    y = F.pow(F.lit(decay), o.cast("double")) * (ws + carry)
    return (
        stage1.withColumn(
            out_col, F.when(F.col("_ewma_idx") >= 0, y)
        )
        .drop("_ewma_idx", "_ewma_b", "_ewma_u")
    )


def py_ewma(xs: list[float | None], alpha: float) -> list[float | None]:
    """Pure-python mirror of ewma_smooth for goldens: exact recurrence,
    NULLs carry the previous value, leading NULLs stay None."""
    y = None
    out = []
    for x in xs:
        if x is not None:
            y = x if y is None else alpha * x + (1.0 - alpha) * y
        out.append(y)
    return out


def linear_interpolate(
    df: DataFrame,
    col: str,
    order_col,
    partition_by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Linear interpolation of NULL runs between the nearest non-null
    neighbours in row-position space (pandas interpolate(method='linear')
    on interior NaNs): x = prev + (next - prev) * (pos - prev_pos) /
    (next_pos - prev_pos). Leading and trailing NULL runs stay NULL
    (no extrapolation — symmetric, unlike pandas' forward-fill tail).

    The reference *intends* this op but is broken there —
    QualityControl.py:2899 passes F.expr('linear_interpolate'), a
    nonexistent SQL function. One exchange: four frame functions over a
    single partitioned sort (last/first ignorenulls over the
    unbounded-preceding / current-to-unbounded-following frames).
    partition_by REQUIRED at scale."""
    out_col = out_col or f"{col}_interp"
    order = order_col if isinstance(order_col, list) else [order_col]
    base = Window.orderBy(*order)
    if partition_by:
        base = Window.partitionBy(*partition_by).orderBy(*order)
    w_pre = base.rowsBetween(Window.unboundedPreceding, 0)
    w_post = base.rowsBetween(0, Window.unboundedFollowing)
    x = F.col(col)
    rn = F.row_number().over(base)
    marked = F.when(x.isNotNull(), rn)
    out = (
        df.withColumn("_li_rn", rn)
        .withColumn("_li_pv", F.last(x, ignorenulls=True).over(w_pre))
        .withColumn("_li_pr", F.last(marked, ignorenulls=True).over(w_pre))
        .withColumn("_li_nv", F.first(x, ignorenulls=True).over(w_post))
        .withColumn("_li_nr", F.first(marked, ignorenulls=True).over(w_post))
    )
    frac = (F.col("_li_rn") - F.col("_li_pr")) / (
        F.col("_li_nr") - F.col("_li_pr")
    )
    interp = F.when(x.isNotNull(), x.cast("double")).otherwise(
        F.col("_li_pv") + (F.col("_li_nv") - F.col("_li_pv")) * frac
    )
    return out.withColumn(out_col, interp).drop(
        "_li_rn", "_li_pv", "_li_pr", "_li_nv", "_li_nr"
    )


def py_linear_interpolate(
    xs: list[float | None],
) -> list[float | None]:
    """Pure-python mirror of linear_interpolate for goldens."""
    out: list[float | None] = list(xs)
    known = [i for i, x in enumerate(xs) if x is not None]
    for a, b in zip(known, known[1:]):
        for i in range(a + 1, b):
            out[i] = xs[a] + (xs[b] - xs[a]) * (i - a) / (b - a)
    return out


def kmeans_distance_outliers(
    df: DataFrame,
    cols: list[str],
    k: int = 4,
    threshold: float | None = None,
    fit_df: DataFrame | None = None,
    seed: int = 7,
) -> DataFrame:
    """Clustering-based outlier flag (reference QualityControl.py:3001-3012
    silently substitutes BisectingKMeans for 'isolation_forest' and has no
    DBSCAN): distance to the assigned KMeans centroid, flagged when it
    exceeds `threshold` (absolute) or mean + 3*stddev of the distances
    (adaptive default).

    Fit on `fit_df` when given (the anomaly-detection shape: train on a
    clean/reference corpus, score everything — also what makes planted
    far-away outliers provably flaggable, since they cannot steal a
    centroid), else on `df` itself. The model is k centroids broadcast
    inside the transform — scoring is a zero-shuffle projection; the fit
    is pyspark.ml's distributed Lloyd (tree-aggregated partial sums, no
    driver-side data). Adds `centroid_dist` (double) and `is_outlier`.
    Rows with a NULL feature get NULL dist / False flag."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    asm = VectorAssembler(
        inputCols=list(cols), outputCol="_km_features", handleInvalid="skip"
    )
    train = asm.transform((fit_df if fit_df is not None else df).na.drop(subset=cols))
    model = KMeans(
        k=k, seed=seed, featuresCol="_km_features", predictionCol="_km_cluster"
    ).fit(train)
    centers = [[float(v) for v in c] for c in model.clusterCenters()]

    # score as pure column algebra over the broadcast literal centroids —
    # no ml transform (which would row-at-a-time UDF the distance), no
    # shuffle, codegen-friendly
    def dist_to(center: list[float]):
        s = None
        for c, mu in zip(cols, center):
            d = F.col(c).cast("double") - F.lit(mu)
            term = d * d
            s = term if s is None else s + term
        return F.sqrt(s)

    dist = F.least(*[dist_to(c) for c in centers]) if len(centers) > 1 else dist_to(centers[0])
    out = df.withColumn("centroid_dist", dist)
    if threshold is None:
        stats = out.agg(
            F.avg("centroid_dist").alias("_m"), F.stddev("centroid_dist").alias("_s")
        )
        out = out.crossJoin(F.broadcast(stats))
        flag = F.col("centroid_dist") > F.col("_m") + F.lit(3.0) * F.coalesce(
            F.col("_s"), F.lit(0.0)
        )
        return out.withColumn(
            "is_outlier", F.coalesce(flag, F.lit(False))
        ).drop("_m", "_s")
    return out.withColumn(
        "is_outlier",
        F.coalesce(F.col("centroid_dist") > F.lit(float(threshold)), F.lit(False)),
    )


def flag_for_investigation(
    df: DataFrame,
    col: str,
    order_col,
    methods: list[str],
    thresholds: dict[str, float],
    partition_by: list[str] | None = None,
    min_confidence: float = 0.8,
    alpha: float = 0.5,
    k: int = 4,
    keep_all: bool = False,
) -> DataFrame:
    """Ensemble anomaly flag (reference QualityControl.py:3115-3238):
    each detection method adds its inherited confidence weight —
    'statistical' z-score +0.5, 'pattern' neighborhood deviation +0.3,
    'forecast' one-step-ahead smoothing error +0.2, 'clustering'
    centroid distance +0.1 — and rows meeting min_confidence are
    returned (keep_all=True keeps every row with its score instead,
    mirroring the pre-filter frame).

    Spark-first corrections: the reference's forecast leg collects the
    whole column to the driver for statsmodels Holt-Winters and then
    passes `F.array(forecast.tolist())` (a type error); here the
    forecast is the distributed one-step-ahead EWMA (lag of ewma_smooth,
    alpha dyadic by default). Its clustering leg flags cluster INDEX == 1
    from a different DataFrame's column (unresolvable and meaningless —
    cluster ids are arbitrary); here it is distance-to-centroid via
    kmeans_distance_outliers' literal-centroid algebra. Windows are
    partitioned (partition_by REQUIRED at scale)."""
    order = order_col if isinstance(order_col, list) else [order_col]
    w = Window.orderBy(*order)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order)
    out = df
    conf = F.lit(0.0)
    x = F.col(col)
    if "statistical" in methods:
        out = zscore_flags(out, col, thresholds["statistical"]).withColumnRenamed(
            "is_outlier", "_stat_flag"
        )
        conf = conf + F.when(F.col("_stat_flag"), 0.5).otherwise(0.0)
    if "pattern" in methods:
        dev = F.abs(x - F.avg(col).over(w.rowsBetween(-1, 1)))
        out = out.withColumn("_pat_dev", dev)
        conf = conf + F.when(
            F.coalesce(F.col("_pat_dev") > thresholds["pattern"], F.lit(False)),
            0.3,
        ).otherwise(0.0)
    if "forecast" in methods:
        out = ewma_smooth(
            out, col, order_col, alpha=alpha, partition_by=partition_by,
            out_col="_fc_ewma",
        )
        out = out.withColumn(
            "_fc_err", F.abs(x - F.lag("_fc_ewma").over(w))
        )
        conf = conf + F.when(
            F.coalesce(F.col("_fc_err") > thresholds["forecast"], F.lit(False)),
            0.2,
        ).otherwise(0.0)
    if "clustering" in methods:
        out = kmeans_distance_outliers(
            out, [col], k=k, threshold=thresholds["clustering"]
        ).withColumnRenamed("is_outlier", "_km_flag")
        conf = conf + F.when(F.col("_km_flag"), 0.1).otherwise(0.0)
    out = out.withColumn("investigation_confidence", F.round(conf, 6)).drop(
        "_stat_flag", "_pat_dev", "_fc_ewma", "_fc_err", "_km_flag",
        "zscore", "centroid_dist",
    )
    if keep_all:
        return out
    return out.filter(F.col("investigation_confidence") >= F.lit(min_confidence))


def mad_outliers(
    df: DataFrame, col: str, threshold: float = 3.5
) -> DataFrame:
    """Robust outlier flag via the modified z-score (Iglewicz-Hoaglin):
    m = 0.6745 * (x - median) / MAD, MAD = median(|x - median|), flag
    |m| > threshold (3.5 standard). Unlike zscore_flags, a single
    extreme value cannot inflate the spread estimate and mask itself.

    Complements the reference's mean/stddev-only statistical leg
    (QualityControl.py:2989-2993 — it has no robust variant). Exact SQL
    `percentile` so the DuckDB oracle (quantile_cont) reproduces values;
    two tiny aggregations cross-joined back as broadcast literals — the
    plan stays lazy, no driver collect. A zero MAD (majority-constant
    column) flags only values different from the median."""
    c = F.col(col)
    med = df.agg(F.expr(f"percentile({col}, 0.5)").alias("_med"))
    with_med = df.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.expr("percentile(abs(" + col + " - _med), 0.5)").alias("_mad")
    )
    out = with_med.crossJoin(F.broadcast(mad))
    mz = F.lit(0.6745) * (c - F.col("_med")) / F.col("_mad")
    flag = F.when(
        F.col("_mad") > 0, F.abs(mz) > F.lit(threshold)
    ).otherwise(c != F.col("_med"))
    return (
        out.withColumn(
            "modified_zscore",
            F.when(F.col("_mad") > 0, mz).otherwise(F.lit(None)),
        )
        .withColumn("is_outlier", F.coalesce(flag, F.lit(False)))
        .drop("_med", "_mad")
    )


def savgol_coefficients(window_length: int, polyorder: int) -> list[float]:
    """Savitzky-Golay smoothing coefficients (Savitzky & Golay 1964) for
    a centered window, computed EXACTLY over rationals (Fraction Gaussian
    elimination on the normal equations — no BLAS, no platform variance)
    and converted to floats at the very end. savgol_filter's c, mode-free:
    smoothing a degree<=polyorder polynomial reproduces it exactly.

    The classic cases fall out: (5, 2) -> [-3, 12, 17, 12, -3]/35,
    (7, 2) -> [-2, 3, 6, 7, 6, 3, -2]/21."""
    from fractions import Fraction

    if window_length % 2 != 1 or window_length < 3:
        raise ValueError(f"window_length must be odd >= 3, got {window_length}")
    if not 0 <= polyorder < window_length:
        raise ValueError(
            f"polyorder must be in [0, window_length), got {polyorder}"
        )
    h = window_length // 2
    xs = list(range(-h, h + 1))
    m = polyorder + 1
    # normal matrix N = A^T A and target rows: solve N beta = A^T e_i per
    # sample i; coefficient c_i = beta_0 (the fitted value at x=0)
    n_mat = [
        [Fraction(sum(x ** (r + c) for x in xs)) for c in range(m)]
        for r in range(m)
    ]
    coeffs = []
    for x in xs:
        rhs = [Fraction(x**r) for r in range(m)]
        a = [row[:] + [rhs[r]] for r, row in enumerate(n_mat)]
        for col_i in range(m):  # exact Gaussian elimination, no pivoting
            piv = next(r for r in range(col_i, m) if a[r][col_i] != 0)
            a[col_i], a[piv] = a[piv], a[col_i]
            inv = a[col_i][col_i]
            a[col_i] = [v / inv for v in a[col_i]]
            for r in range(m):
                if r != col_i and a[r][col_i] != 0:
                    f = a[r][col_i]
                    a[r] = [v - f * p for v, p in zip(a[r], a[col_i])]
        coeffs.append(float(a[0][m]))
    return coeffs


def savgol_smooth(
    df: DataFrame,
    col: str,
    order_col,
    window_length: int = 5,
    polyorder: int = 2,
    partition_by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Savitzky-Golay smoothing — the reference's scipy.signal dependency
    (QualityControl.py U10 family, driver-side) re-expressed as pure
    window algebra: S-G is a FIXED-coefficient centered FIR filter, so
    the smoothed value is a lead/lag composition with plan-literal
    weights (the weighted_moving_average idiom) — zero UDF, one window,
    whole-stage codegen.

    Edge rows (fewer than window_length//2 neighbors on either side)
    emit NULL — the composition NULL-propagates — instead of scipy's
    mode='interp' polynomial edge fit; documented deviation, the
    interior matches the textbook filter. The term fold is left-to-right
    sequential, so an SQL twin written in the same order is the
    identical IEEE sequence."""
    out_col = out_col or f"savgol_{col}"
    cs = savgol_coefficients(window_length, polyorder)
    return _centered_fir(df, col, order_col, cs, partition_by, out_col)


def _centered_fir(
    df: DataFrame,
    col: str,
    order_col,
    coeffs: list[float],
    partition_by: list[str] | None,
    out_col: str,
) -> DataFrame:
    """Apply an odd-length centered FIR filter as a lead/lag composition
    with plan-literal weights over ONE window — zero UDF, whole-stage
    codegen, NULL at the edges. Left-to-right term fold so an SQL twin
    written in the same order is the identical IEEE sequence."""
    h = len(coeffs) // 2
    order = order_col if isinstance(order_col, list) else [order_col]
    w = Window.orderBy(*order)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order)
    x = F.col(col).cast("double")
    expr = None
    for off, c in zip(range(-h, h + 1), coeffs):
        if off < 0:
            v = F.lag(x, -off).over(w)
        elif off > 0:
            v = F.lead(x, off).over(w)
        else:
            v = x
        term = v * F.lit(c)
        expr = term if expr is None else expr + term
    return df.withColumn(out_col, expr)


def lowess_coefficients(half_window: int) -> list[float]:
    """Normalized tricube kernel weights over row offsets -h..h,
    computed EXACTLY over rationals and converted to floats at the end:

        w_k = (1 - (|k| / (h+1))^3)^3,   then w_k / sum(w)

    The h+1 denominator keeps the extreme offsets at positive weight
    (classic LOWESS scales by the distance to the furthest point, which
    zeroes it out — wasteful in a fixed row window)."""
    from fractions import Fraction

    if half_window < 1:
        raise ValueError(f"half_window must be >= 1, got {half_window}")
    h = half_window
    raw = [
        (1 - (Fraction(abs(k), h + 1)) ** 3) ** 3 for k in range(-h, h + 1)
    ]
    total = sum(raw)
    return [float(w / total) for w in raw]


def lowess_smooth(
    df: DataFrame,
    col: str,
    order_col,
    half_window: int = 5,
    partition_by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """LOWESS smoothing (Cleveland 1979), degree-1, fixed symmetric ROW
    window, no robustness iterations — the last scipy/statsmodels U10
    leg re-expressed as window algebra. For a SYMMETRIC design the
    local linear fit's slope term is orthogonal to the intercept
    (sum w_k * k = 0), so the fitted value at the center collapses to
    the tricube-weighted mean — a FIXED-coefficient centered FIR, the
    savgol_smooth machinery with a different (exact-rational) weight
    vector. Zero UDF, one window, whole-stage codegen; smoothing a
    constant or linear series reproduces it exactly in the interior.

    Documented deviations from statsmodels.lowess: bandwidth is
    2*half_window+1 ROWS (not frac*n — frac*n makes every coefficient
    depend on a corpus-wide count and, at 10^12 rows, a near-global
    window); edge rows emit NULL instead of the asymmetric edge fit;
    no robustifying reweight passes (they need K sequential full
    passes; compose this op K times on residuals if needed)."""
    out_col = out_col or f"lowess_{col}"
    cs = lowess_coefficients(half_window)
    return _centered_fir(df, col, order_col, cs, partition_by, out_col)


def kalman_smooth(
    df: DataFrame,
    col: str,
    order_col,
    q_over_r: float = 0.5,
    partition_by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Steady-state Kalman filter for the local-level model — the
    reference's U10 'kalman' intent without scipy/statsmodels: for the
    random-walk-plus-noise model (state variance Q, observation variance
    R) the Kalman gain converges to the fixed point K = s/(s+1) with
    s = (q + sqrt(q^2 + 4q))/2, q = Q/R (Harvey 1989, the
    steady-state solution of the Riccati recursion), and the filter
    IS an EWMA with alpha = K. Delegates to ewma_smooth — the exact
    segmented scan, unbounded partitions, zero driver state.

    The startup transient differs from a full Kalman recursion (which
    begins at a diffuse prior and converges to K geometrically); after
    burn-in the two are identical. q_over_r=0.5 gives K = 0.5 exactly
    in floating point (s = (0.5 + sqrt(2.25))/2 = 1 — every step dyadic),
    the oracle-stable default."""
    if q_over_r <= 0:
        raise ValueError(f"q_over_r must be > 0, got {q_over_r}")
    s = (q_over_r + math.sqrt(q_over_r * q_over_r + 4.0 * q_over_r)) / 2.0
    k_gain = s / (s + 1.0)
    return ewma_smooth(
        df,
        col,
        order_col,
        alpha=k_gain,
        partition_by=partition_by,
        out_col=out_col or f"kalman_{col}",
    )
