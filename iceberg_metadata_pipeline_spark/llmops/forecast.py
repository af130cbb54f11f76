"""Per-group model fitting via applyInPandas (SURVEY.md §2.B UDF surface:
the reference ships Prophet in the Superset image for BI-side forecasting,
Dockerfile.superset:32-41 — engine-side, the same pattern is a grouped
pandas UDF fitting one model per key).

The kernel here is a closed-form least-squares linear trend per
event_type over hourly buckets (deterministic, no solver) — the seam a
real deployment swaps for Prophet/ARIMA per key. Tests assert the fit
against exact rational least squares (1e-9), and forecast_trend_per_type
carries a full value oracle (_TREND_ORACLE).

Scale notes: groupBy().applyInPandas ships each key's rows to one task —
the pattern holds while per-key data fits a task (hours × years is
thousands of points; fine). Millions of tiny models → this exact shape;
one huge key → pre-aggregate (as here, to hourly buckets) first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_metadata_pipeline_spark.queries import query, sql_query
from iceberg_metadata_pipeline_spark.session import load_tables

TREND_SCHEMA = (
    "event_type string, n_points long, slope double, intercept double, "
    "forecast_next double"
)


def fit_linear_trend_per_group(hourly: DataFrame) -> DataFrame:
    """hourly: (event_type, bucket_idx long, y double, y_micro long) →
    one fitted trend row per event_type with the next-bucket forecast.

    Round 10 — EXACT kernel, full oracle: the least-squares sums run in
    unbounded Python INTEGERS over (bucket_idx, y·10⁶) — y is an exact
    decimal(38,6) upstream, so y_micro is lossless — and the only
    floating-point steps are the final divisions, written in the same
    operation order the SQL oracle uses (slope = double(num)/double(den·10⁶);
    intercept = (double(sy)/10⁶ − slope·double(sx))/double(n)). Both
    engines correctly round each step once → bit-identical, which is
    what upgraded forecast_trend_per_type from rows-only to a full
    value oracle while KEEPING the applyInPandas per-group-model
    pattern."""
    import pandas as pd

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        xs = [int(v) for v in pdf["bucket_idx"]]
        ys = [int(v) for v in pdf["y_micro"]]
        n = len(xs)
        sx = sum(xs)
        sxx = sum(x * x for x in xs)
        sy = sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        den = (n * sxx - sx * sx) * 1_000_000
        slope = 0.0 if den == 0 else float(n * sxy - sx * sy) / float(den)
        intercept = (float(sy) / 1.0e6 - slope * float(sx)) / float(n)
        nxt = slope * float(max(xs) + 1) + intercept
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_points": [n],
                "slope": [slope],
                "intercept": [intercept],
                "forecast_next": [nxt],
            }
        )

    return hourly.groupBy("event_type").applyInPandas(fit, TREND_SCHEMA)


def hourly_event_values(events: DataFrame) -> DataFrame:
    """Pre-aggregate to hourly buckets (keeps any one key's series small —
    the guard that makes per-key fitting scale)."""
    origin = F.lit("1995-01-01 00:00:00").cast("timestamp")
    return (
        events.groupBy(
            "event_type",
            F.floor(
                (F.unix_timestamp("ts") - F.unix_timestamp(origin)) / 3600
            ).alias("bucket_idx"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("y"),
            # lossless integer form of y (scale-6 decimal × 10⁶) — the
            # exact-kernel input that makes the trend fit oracle-able
            (F.sum(F.col("value").cast("decimal(38,6)")) * 1_000_000)
            .cast("long")
            .alias("y_micro"),
        )
    )


_TREND_ORACLE = """
WITH hourly AS (
  SELECT event_type,
    CAST(FLOOR((epoch(CAST(ts AS TIMESTAMP))
                - epoch(TIMESTAMP '1995-01-01 00:00:00')) / 3600) AS BIGINT) AS x,
    CAST(SUM(CAST(value AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS ym
  FROM events GROUP BY event_type,
    CAST(FLOOR((epoch(CAST(ts AS TIMESTAMP))
                - epoch(TIMESTAMP '1995-01-01 00:00:00')) / 3600) AS BIGINT)
), m AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
    CAST(SUM(CAST(ym AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(38,0)) * ym) AS DECIMAL(38,0)) AS sxy,
    MAX(x) AS mx
  FROM hourly GROUP BY event_type
), f AS (
  SELECT event_type, n,
    CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0.0E0 AS DOUBLE)
         ELSE CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST((n * sxx - sx * sx) * 1000000 AS DOUBLE) END AS slope,
    sx, sy, mx
  FROM m
), g AS (
  SELECT event_type, n, slope,
    (CAST(sy AS DOUBLE) / 1.0E6 - slope * CAST(sx AS DOUBLE))
      / CAST(n AS DOUBLE) AS intercept,
    mx
  FROM f
)
SELECT event_type, n AS n_points,
  ROUND(slope, 6) AS slope,
  ROUND(intercept, 6) AS intercept,
  ROUND(slope * CAST(mx + 1 AS DOUBLE) + intercept, 6) AS forecast_next
FROM g ORDER BY event_type
"""


@query("forecast_trend_per_type", _TREND_ORACLE)
def forecast_trend_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → hourly series per type → per-group least-squares trend
    (applyInPandas). Round 10: full value oracle — see
    fit_linear_trend_per_group for the exact-integer kernel contract."""
    events = load_tables(spark, sf_dir)["events"]
    trends = fit_linear_trend_per_group(hourly_event_values(events))
    return trends.select(
        "event_type",
        "n_points",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("forecast_next", 6).alias("forecast_next"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Holt-Winters (additive, fixed alpha=beta=gamma=1/2, season m=4) — the
# "real seasonal kernel" upgrade of the forecasting seam (r4 VERDICT #7).
# Same proof technique as the exact EWMA: the smoothing recurrence is a
# deterministic sequential chain, so mirroring the EXACT floating-point
# operation order between the pandas kernel and an unrolled SQL oracle
# makes the doubles bit-identical across engines — a full value oracle
# for an applyInPandas model fit, not a rows-only check.
# ---------------------------------------------------------------------------

HW_SCHEMA = (
    "event_type string, level double, trend double, forecast_next double"
)

_HW_N = 12   # dense series length (days 0..11 of the events fixture)
_HW_M = 4    # season period


def fit_holt_winters_per_group(daily: DataFrame) -> DataFrame:
    """daily: (event_type, b long in [0,_HW_N), y double, DENSE) → one row
    per event_type: smoothed level/trend after the last step and the
    one-step-ahead forecast level + trend + season[(n) % m].

    Recurrences (additive Holt-Winters, alpha=beta=gamma=1/2):
      L_t = 0.5*(y_t - s_{t%m}) + 0.5*(L + T)
      T_t = 0.5*(L_t - L) + 0.5*T
      s_{t%m} = 0.5*(y_t - L_t) + 0.5*s_{t%m}
    init: L = mean(y_0..3); T = (sum(y_4..7) - sum(y_0..3))/16;
    s_i = y_i - L. Expression shapes below MUST stay in lockstep with
    _hw_oracle_sql() — that identity is what makes the oracle exact."""
    import pandas as pd

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("b")
        y = pdf["y"].to_list()
        assert len(y) == _HW_N, f"series must be dense ({len(y)} != {_HW_N})"
        L = (y[0] + y[1] + y[2] + y[3]) / 4.0
        T = ((y[4] + y[5] + y[6] + y[7]) - (y[0] + y[1] + y[2] + y[3])) / 16.0
        s = [y[i] - L for i in range(_HW_M)]
        for t in range(_HW_M, _HW_N):
            i = t % _HW_M
            L_new = 0.5 * (y[t] - s[i]) + 0.5 * (L + T)
            T_new = 0.5 * (L_new - L) + 0.5 * T
            s[i] = 0.5 * (y[t] - L_new) + 0.5 * s[i]
            L, T = L_new, T_new
        fc = L + T + s[_HW_N % _HW_M]
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "level": [L],
                "trend": [T],
                "forecast_next": [fc],
            }
        )

    return daily.groupBy("event_type").applyInPandas(fit, HW_SCHEMA)


def daily_event_values_dense(events: DataFrame, n: int = _HW_N) -> DataFrame:
    """(event_type, b, y) for days 0..n-1 since 2024-01-01, zero-filled —
    the dense spine both the kernel and the oracle require (missing
    buckets would shift every recurrence index after them)."""
    epoch0 = F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    daily = (
        events.select(
            "event_type",
            # floor, not cast('long'): double-division truncates toward
            # zero, so an event up to 24h BEFORE the epoch would land in
            # day 0 while the oracle's ts >= epoch filter excludes it
            F.floor((F.unix_timestamp("ts") - epoch0) / F.lit(86400)).alias("b"),
            "value",
        )
        .where((F.col("b") >= 0) & (F.col("b") < n))
        .groupBy("event_type", "b")
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("y"))
    )
    # spine over event types WITH data in the window (the oracle groups the
    # filtered rows, so a type absent from days 0..n-1 must yield no row,
    # not an all-zero series)
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(
            events.sparkSession.range(n).select(F.col("id").alias("b"))
        ))
    )
    return spine.join(daily, ["event_type", "b"], "left").select(
        "event_type", "b", F.coalesce("y", F.lit(0.0)).alias("y")
    )


def _hw_oracle_sql() -> str:
    """Unrolled relational Holt-Winters: pivot the 12 daily values into
    explicit columns (no aggregate-order ambiguity), then one CTE per
    smoothing step t=4..11 — each a scalar expression copied shape-for-
    shape from fit_holt_winters_per_group's kernel."""
    pivots = ",\n    ".join(
        f"COALESCE(MAX(CASE WHEN b = {i} THEN y END), 0.0) AS y{i}"
        for i in range(_HW_N)
    )
    head = f"""
WITH daily AS (
  SELECT event_type,
         (epoch_us(ts) // 1000000 - epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000) // 86400 AS b,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
  GROUP BY 1, 2
),
piv AS (
  SELECT event_type,
    {pivots}
  FROM daily WHERE b BETWEEN 0 AND {_HW_N - 1} GROUP BY event_type
),
s3 AS (
  SELECT event_type, y4, y5, y6, y7, y8, y9, y10, y11,
    (y0 + y1 + y2 + y3) / 4.0 AS L,
    ((y4 + y5 + y6 + y7) - (y0 + y1 + y2 + y3)) / 16.0 AS T,
    y0 - (y0 + y1 + y2 + y3) / 4.0 AS s0,
    y1 - (y0 + y1 + y2 + y3) / 4.0 AS s1,
    y2 - (y0 + y1 + y2 + y3) / 4.0 AS s2,
    y3 - (y0 + y1 + y2 + y3) / 4.0 AS s3
  FROM piv
)"""
    steps = []
    for t in range(_HW_M, _HW_N):
        i = t % _HW_M
        keep_s = ", ".join(f"s{j}" for j in range(_HW_M) if j != i)
        keep_y = ", ".join(f"y{u}" for u in range(t + 1, _HW_N))
        cols = ", ".join(c for c in (keep_y, keep_s) if c)
        steps.append(
            f""",
s{t} AS (
  SELECT event_type, {cols},
    0.5 * (y{t} - s{i}) + 0.5 * (L + T) AS L,
    0.5 * ((0.5 * (y{t} - s{i}) + 0.5 * (L + T)) - L) + 0.5 * T AS T,
    0.5 * (y{t} - (0.5 * (y{t} - s{i}) + 0.5 * (L + T))) + 0.5 * s{i} AS s{i}
  FROM s{t - 1}
)"""
        )
    tail = f"""
SELECT event_type,
  ROUND(L, 6) AS level,
  ROUND(T, 6) AS trend,
  ROUND(L + T + s{_HW_N % _HW_M}, 6) AS forecast_next
FROM s{_HW_N - 1}
ORDER BY event_type"""
    return head + "".join(steps) + tail


@query("forecast_holt_winters_seasonal", _hw_oracle_sql())
def forecast_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type additive Holt-Winters over the first 12 days of events —
    the applyInPandas per-group model-fitting seam, ORACLE-BACKED via the
    unrolled recurrence (see _hw_oracle_sql)."""
    events = load_tables(spark, sf_dir)["events"]
    fits = fit_holt_winters_per_group(daily_event_values_dense(events))
    return fits.select(
        "event_type",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_next", 6).alias("forecast_next"),
    ).orderBy("event_type")


# --- EWMA (round 10): the sequential-fold oracle pattern -------------------

# Exponentially weighted moving average over per-event-type DAILY event
# counts — and the first SEQUENTIAL recurrence served with a full
# DuckDB oracle. The trick: y_t = α·x_t + (1−α)·y_{t−1} with y_1 = x_1
# is exactly a left fold whose initial value is the first element —
# which is list_reduce's native semantics in DuckDB — over the
# DAY-ORDERED value list; Spark replays the identical fold with
# reduce() seeded by element_at(arr, 1). Counts are exact integers and
# the fold arithmetic is the same expression text in both engines, so
# every intermediate is bit-identical; no rounding needed.
#
# Scale: per-type daily counts are one hash aggregate; each type's fold
# runs over its bounded day list (calendar-bounded, the ACF posture).
_EWMA_STEP = "0.3E0 * CAST(x AS DOUBLE) + 0.7E0 * a"

_EWMA_SPARK = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), folded AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_days,
    transform(array_sort(collect_list(struct(d, x))), e -> e.x) AS xs
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
  reduce(
    slice(xs, 2, CAST(n_days AS INT) - 1),
    CAST(element_at(xs, 1) AS DOUBLE),
    (a, x) -> {_EWMA_STEP}
  ) AS ewma
FROM folded
ORDER BY event_type
"""

_EWMA_DUCK = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), folded AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_days,
    list(CAST(x AS DOUBLE) ORDER BY d) AS xs
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
  list_reduce(xs, (a, x) -> {_EWMA_STEP}) AS ewma
FROM folded
ORDER BY event_type
"""


@query("forecast_ewma_daily", _EWMA_DUCK)
def forecast_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_EWMA_SPARK)


# NOTE (round 10): Holt's linear method was attempted with the same
# fold-with-first-element-init trick using a STRUCT state, but DuckDB
# 1.0's list_reduce evaluates later struct fields against a MUTATED
# accumulator ((a,e) -> {'l': a.l+e.l, 'b': a.b+a.l} over
# [(10,0),(20,0),(30,0)] returns b=70, correct fold gives 40) — so
# list_reduce cannot carry coupled state. Round 11 closes the gap a
# different way (below): UNROLL the fixed-horizon recurrence into a
# generated chain of projection CTEs whose text is IDENTICAL in both
# engines — every step is the same IEEE double expression evaluated in
# the same order, so the oracle is exact with no folds involved.


def _holt_linear_sql(n: int = 12) -> str:
    """Holt's linear method (alpha=beta=1/2) over each event type's
    first ``n`` daily counts, UNROLLED: the coupled recurrence
        l_t = 0.5*x_t + 0.5*(l_{t-1} + b_{t-1})
        b_t = 0.5*(l_t - l_{t-1}) + 0.5*b_{t-1}     (l_1=x_1, b_1=x_2-x_1)
    becomes 2(n-1) chained projection CTEs over a 1-row-per-type pivot.
    The SAME string runs on Spark and DuckDB (ANSI subset), so every
    intermediate double is bit-identical — the round-11 answer to the
    DuckDB list_reduce struct-mutation bug that blocks fold-encoded
    coupled state.

    Scale: ONE hash aggregate per (type, day) then one per type (the
    n-day pivot); the CTE chain is pure per-row projection — no
    shuffles, no windows over rows, bounded by the calendar horizon."""
    xs = ", ".join(
        f"MAX(CASE WHEN r = {i} THEN x END) AS x{i}" for i in range(1, n + 1)
    )
    ctes = [
        """daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)""",
        """ranked AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS r
  FROM daily
)""",
        f"""piv AS (
  SELECT event_type, {xs}
  FROM ranked WHERE r <= {n} GROUP BY event_type
)""",
        "s1 AS (SELECT *, x1 AS l1, x2 - x1 AS b1 FROM piv)",
    ]
    for t in range(2, n + 1):
        p = t - 1
        src = "s1" if t == 2 else f"t{p}"
        ctes.append(
            f"s{t} AS (SELECT *, 0.5E0 * x{t} + 0.5E0 * (l{p} + b{p}) "
            f"AS l{t} FROM {src})"
        )
        ctes.append(
            f"t{t} AS (SELECT *, 0.5E0 * (l{t} - l{p}) + 0.5E0 * b{p} "
            f"AS b{t} FROM s{t})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT event_type, l{n} AS level, b{n} AS trend,
       l{n} + b{n} AS forecast_next
FROM t{n}
ORDER BY event_type
"""
    )


sql_query("forecast_holt_linear_daily", _holt_linear_sql())


# seasonal profile (round 10 wave 3): multiplicative month-of-year
# indices over order revenue — index_m = mean(monthly revenue of
# calendar month m) / mean(all monthly revenues). Monthly revenues are
# exact decimal sums converted once to double; the cross-month double
# sums (per-calendar-month and overall) fold in SORTED order so the
# addition order matches the oracle bit-for-bit; the index is a fixed
# double formula. One hash aggregate per month bucket then a 12-row
# reduce — map-combinable anywhere.
_SEASONAL_TEMPLATE = """
WITH monthly AS (
  SELECT substring(CAST(o_orderdate AS STRING), 1, 7) AS ym,
         CAST(substring(CAST(o_orderdate AS STRING), 6, 2) AS INT) AS m,
         (CAST(CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(38,6)))) AS BIGINT) AS DOUBLE)
          + CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                 - FLOOR(SUM(CAST(o_totalprice AS DECIMAL(38,6)))) AS DOUBLE)) AS rev
  FROM orders
  GROUP BY substring(CAST(o_orderdate AS STRING), 1, 7),
           CAST(substring(CAST(o_orderdate AS STRING), 6, 2) AS INT)
), per_m AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_m, {FOLD_REV} AS s_m
  FROM monthly GROUP BY m
), tot AS (
  SELECT CAST(SUM(n_m) AS BIGINT) AS n_all, {FOLD_SM} AS s_all FROM per_m
)
SELECT m AS month, n_m AS n_years,
  (s_m / CAST(n_m AS DOUBLE)) / (s_all / CAST(n_all AS DOUBLE))
    AS seasonal_index
FROM per_m CROSS JOIN tot
ORDER BY m
"""


sql_query(
    "forecast_seasonal_indices",
    _SEASONAL_TEMPLATE.replace(
        "{FOLD_REV}",
        "reduce(array_sort(collect_list(rev)),"
        " CAST(0.0E0 AS DOUBLE), (a, x) -> a + x)",
    ).replace(
        "{FOLD_SM}",
        "reduce(array_sort(collect_list(s_m)),"
        " CAST(0.0E0 AS DOUBLE), (a, x) -> a + x)",
    ),
    oracle=_SEASONAL_TEMPLATE.replace(
        "{FOLD_REV}", "list_reduce(list_sort(list(rev)), (a, x) -> a + x)"
    ).replace(
        "{FOLD_SM}", "list_reduce(list_sort(list(s_m)), (a, x) -> a + x)"
    ),
)


# Classical MA decomposition, weekday seasonality (round 11): trend =
# centered 7-day moving average over the daily count series (exact
# integer sum / 7.0 — one rational double per day), seasonal component
# = per-weekday mean of the detrended values. Weekday = day-number mod
# 7 (pure integers, no date-function dialects); the per-weekday means
# fold in SORTED order (≤ calendar/7 terms each), so every double is
# bit-identical. The additive-decomposition first step every
# monitoring pipeline runs before anomaly thresholds.
_DECOMP_TEMPLATE = """
WITH daily AS (
  SELECT {DAYNUM} AS dn, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY {DAYNUM}
), ma AS (
  SELECT dn, x,
    CAST(SUM(x) OVER (ORDER BY dn ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         AS DOUBLE) / 7.0E0 AS trend,
    CAST(COUNT(*) OVER (ORDER BY dn ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         AS BIGINT) AS win_n
  FROM daily
), detr AS (
  SELECT dn % 7 AS weekday, CAST(x AS DOUBLE) - trend AS resid
  FROM ma WHERE win_n = 7
)
SELECT weekday,
  CAST(COUNT(*) AS BIGINT) AS n_days,
  {FOLD} / CAST(COUNT(*) AS DOUBLE) AS seasonal
FROM detr GROUP BY weekday
ORDER BY weekday
"""


def _decomp_sql(engine: str) -> str:
    if engine == "spark":
        return _DECOMP_TEMPLATE.replace(
            "{DAYNUM}", "datediff(CAST(ts AS DATE), DATE '2020-01-01')"
        ).replace(
            "{FOLD}",
            "reduce(array_sort(collect_list(resid)),"
            " CAST(0.0E0 AS DOUBLE), (a, x) -> a + x)",
        )
    return _DECOMP_TEMPLATE.replace(
        "{DAYNUM}", "datediff('day', DATE '2020-01-01', CAST(ts AS DATE))"
    ).replace(
        "{FOLD}", "list_reduce(list_sort(list(resid)), (a, x) -> a + x)"
    )


sql_query(
    "forecast_ma_decomposition_daily",
    _decomp_sql("spark"),
    oracle=_decomp_sql("duck"),
)
