"""Datetime / timestamp operators + time-windowed aggregates.

Reference parity: data_transformer/datetime.py (conversions :126-547,
timeUnits_extraction :550, arithmetic/flags :624-1718, aggregator :1721,
window_aggregator :1824, lagged_ts :1933).

All pure Catalyst expressions — the reference's UDFs (dateutil parse :338,
leap-year :1665) are replaced by built-ins.  Window aggregates partition by
the caller's id columns: at 100 TB the partition key spreads state across
executors; an empty partitionBy (global ordered window) is refused.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.utils import ensure_list, local_frame

_FACTORS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}

TIME_UNITS = {
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
    "dayofmonth": F.dayofmonth,
    "dayofweek": F.dayofweek,
    "dayofyear": F.dayofyear,
    "weekofyear": F.weekofyear,
    "month": F.month,
    "quarter": F.quarter,
    "year": F.year,
}


def _append(idf: DataFrame, new_cols: dict[str, Column], output_mode: str = "append") -> DataFrame:
    if output_mode == "append":
        return idf.select(*idf.columns, *[c.alias(n) for n, c in new_cols.items()])
    raise ValueError("datetime ops are append-only; rename/drop afterwards")


def timestamp_to_unix(idf: DataFrame, list_of_cols, precision: str = "s") -> DataFrame:
    """Timestamp → epoch seconds/ms (reference: datetime.py:126-198)."""
    cols = ensure_list(list_of_cols)
    factor = 1000 if precision == "ms" else 1
    return _append(
        idf,
        {
            f"{c}_unix": (F.col(c).cast("double") * factor).cast("long")
            for c in cols
        },
    )


def unix_to_timestamp(idf: DataFrame, list_of_cols, precision: str = "s") -> DataFrame:
    """Epoch → timestamp (reference: datetime.py:200-269)."""
    cols = ensure_list(list_of_cols)
    div = 1000.0 if precision == "ms" else 1.0
    return _append(
        idf,
        {f"{c}_ts": F.to_timestamp(F.col(c) / div) for c in cols},
    )


def timezone_conversion(
    idf: DataFrame, list_of_cols, given_tz: str, output_tz: str
) -> DataFrame:
    """tz → tz (reference: datetime.py:272-336)."""
    cols = ensure_list(list_of_cols)
    return _append(
        idf,
        {
            f"{c}_tz": F.from_utc_timestamp(F.to_utc_timestamp(F.col(c), given_tz), output_tz)
            for c in cols
        },
    )


def string_to_timestamp(
    idf: DataFrame, list_of_cols, input_format: str = "yyyy-MM-dd HH:mm:ss"
) -> DataFrame:
    """Parse strings with an explicit format (reference: datetime.py:338-412;
    their dateutil UDF becomes F.to_timestamp(c, fmt))."""
    cols = ensure_list(list_of_cols)
    return _append(
        idf, {f"{c}_ts": F.to_timestamp(F.col(c), input_format) for c in cols}
    )


def timestamp_to_string(
    idf: DataFrame, list_of_cols, output_format: str = "yyyy-MM-dd HH:mm:ss"
) -> DataFrame:
    """Format timestamps (reference: datetime.py:414-478)."""
    cols = ensure_list(list_of_cols)
    return _append(
        idf, {f"{c}_str": F.date_format(F.col(c), output_format) for c in cols}
    )


def dateformat_conversion(
    idf: DataFrame,
    list_of_cols,
    input_format: str = "yyyy-MM-dd HH:mm:ss",
    output_format: str = "yyyy-MM-dd",
    output_mode: str = "replace",
) -> DataFrame:
    """Re-render date/time strings from one format to another in a single
    expression (reference: datetime.py:480-548 dateformat_conversion —
    their parse+strftime UDF pair becomes date_format(to_timestamp(c))).

    output_mode='replace' rewrites the column in place; 'append' adds
    ``{col}_fmt``."""
    cols = ensure_list(list_of_cols)
    exprs = {
        (c if output_mode == "replace" else f"{c}_fmt"): F.date_format(
            F.to_timestamp(F.col(c).cast("string"), input_format), output_format
        )
        for c in cols
    }
    if output_mode == "replace":
        return idf.select(
            *[exprs[c] .alias(c) if c in exprs else F.col(c) for c in idf.columns]
        )
    return _append(idf, exprs)


def time_units_extraction(idf: DataFrame, list_of_cols, units="all") -> DataFrame:
    """Extract hour/minute/.../year component columns
    (reference: datetime.py:550-621, getattr(F, unit) :614-616)."""
    cols = ensure_list(list_of_cols)
    units = list(TIME_UNITS) if units == "all" else ensure_list(units)
    bad = [u for u in units if u not in TIME_UNITS]
    if bad:
        raise ValueError(f"unknown time units {bad}; allowed {list(TIME_UNITS)}")
    new = {}
    for c in cols:
        for u in units:
            new[f"{c}_{u}"] = TIME_UNITS[u](F.col(c))
    return _append(idf, new)


def time_diff(idf: DataFrame, ts1: str, ts2: str, unit: str = "second") -> DataFrame:
    """|ts2 − ts1| in the given unit (reference: datetime.py:624-694)."""
    if unit not in _FACTORS:
        raise ValueError(f"unit must be one of {list(_FACTORS)}")
    d = F.abs(F.col(ts2).cast("double") - F.col(ts1).cast("double")) / _FACTORS[unit]
    return _append(idf, {f"{ts1}_{ts2}_diff": d})


def time_elapsed(idf: DataFrame, list_of_cols, unit: str = "day") -> DataFrame:
    """Time since each timestamp vs now (reference: datetime.py:696-768).
    Non-deterministic by nature (current_timestamp)."""
    cols = ensure_list(list_of_cols)
    f = _FACTORS[unit]
    return _append(
        idf,
        {
            f"{c}_elapsed": (
                F.current_timestamp().cast("double") - F.col(c).cast("double")
            )
            / f
            for c in cols
        },
    )


def adding_time_units(idf: DataFrame, list_of_cols, unit: str, unit_value: int) -> DataFrame:
    """ts + N units via INTERVAL arithmetic (reference: datetime.py:771-827)."""
    cols = ensure_list(list_of_cols)
    return _append(
        idf,
        {
            f"{c}_adjusted": F.col(c) + F.expr(f"INTERVAL {int(unit_value)} {unit}")
            for c in cols
        },
    )


def timestamp_comparison(
    idf: DataFrame,
    list_of_cols,
    comparison_type: str = "greater_than",
    comparison_value: str = "1970-01-01 00:00:00",
) -> DataFrame:
    """Flag rows vs a base timestamp (reference: datetime.py:829-921)."""
    cols = ensure_list(list_of_cols)
    base = F.to_timestamp(F.lit(comparison_value))
    ops = {
        "greater_than": lambda c: c > base,
        "less_than": lambda c: c < base,
        "greaterThan_equalTo": lambda c: c >= base,
        "lessThan_equalTo": lambda c: c <= base,
    }
    if comparison_type not in ops:
        raise ValueError(f"comparison_type must be one of {list(ops)}")
    return _append(
        idf,
        {
            f"{c}_compared": ops[comparison_type](F.col(c)).cast("int")
            for c in cols
        },
    )


# ---- calendar boundaries & flags (reference: datetime.py:923-1718) ---------- #
def start_of_month(idf, list_of_cols):
    return _append(idf, {f"{c}_monthStart": F.trunc(F.col(c), "month") for c in ensure_list(list_of_cols)})


def end_of_month(idf, list_of_cols):
    return _append(idf, {f"{c}_monthEnd": F.last_day(F.col(c)) for c in ensure_list(list_of_cols)})


def is_month_start(idf, list_of_cols):
    return _append(idf, {f"{c}_isMonthStart": (F.dayofmonth(F.col(c)) == 1).cast("int") for c in ensure_list(list_of_cols)})


def is_month_end(idf, list_of_cols):
    return _append(
        idf,
        {f"{c}_isMonthEnd": (F.to_date(F.col(c)) == F.last_day(F.col(c))).cast("int") for c in ensure_list(list_of_cols)},
    )


def start_of_year(idf, list_of_cols):
    return _append(idf, {f"{c}_yearStart": F.trunc(F.col(c), "year") for c in ensure_list(list_of_cols)})


def end_of_year(idf, list_of_cols):
    return _append(
        idf,
        {
            f"{c}_yearEnd": F.to_date(
                F.concat_ws("-", F.year(F.col(c)), F.lit("12"), F.lit("31"))
            )
            for c in ensure_list(list_of_cols)
        },
    )


def is_year_start(idf, list_of_cols):
    return _append(idf, {f"{c}_isYearStart": ((F.dayofyear(F.col(c))) == 1).cast("int") for c in ensure_list(list_of_cols)})


def is_year_end(idf, list_of_cols):
    return _append(
        idf,
        {f"{c}_isYearEnd": ((F.month(F.col(c)) == 12) & (F.dayofmonth(F.col(c)) == 31)).cast("int") for c in ensure_list(list_of_cols)},
    )


def start_of_quarter(idf, list_of_cols):
    return _append(idf, {f"{c}_quarterStart": F.to_date(F.date_trunc("quarter", F.col(c))) for c in ensure_list(list_of_cols)})


def end_of_quarter(idf, list_of_cols):
    return _append(
        idf,
        {
            f"{c}_quarterEnd": F.date_sub(
                F.to_date(F.date_trunc("quarter", F.col(c)) + F.expr("INTERVAL 3 MONTH")), 1
            )
            for c in ensure_list(list_of_cols)
        },
    )


def is_quarter_start(idf, list_of_cols):
    return _append(
        idf,
        {f"{c}_isQuarterStart": (F.to_date(F.col(c)) == F.to_date(F.date_trunc("quarter", F.col(c)))).cast("int") for c in ensure_list(list_of_cols)},
    )


def is_quarter_end(idf, list_of_cols):
    return _append(
        idf,
        {
            f"{c}_isQuarterEnd": (
                F.to_date(F.col(c))
                == F.date_sub(F.to_date(F.date_trunc("quarter", F.col(c)) + F.expr("INTERVAL 3 MONTH")), 1)
            ).cast("int")
            for c in ensure_list(list_of_cols)
        },
    )


def is_year_first_half(idf, list_of_cols):
    return _append(idf, {f"{c}_isFirstHalf": F.month(F.col(c)).isin(list(range(1, 7))).cast("int") for c in ensure_list(list_of_cols)})


def is_selected_hour(idf, list_of_cols, start_hour: int, end_hour: int):
    hours = (
        list(range(start_hour, end_hour + 1))
        if start_hour <= end_hour
        else list(range(start_hour, 24)) + list(range(0, end_hour + 1))
    )
    return _append(idf, {f"{c}_isSelectedHour": F.hour(F.col(c)).isin(hours).cast("int") for c in ensure_list(list_of_cols)})


def is_leap_year(idf, list_of_cols):
    """Calendar expression instead of the reference's UDF (datetime.py:1665)."""
    def leap(c):
        y = F.year(F.col(c))
        return (((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)).cast("int")

    return _append(idf, {f"{c}_isLeapYear": leap(c) for c in ensure_list(list_of_cols)})


def is_weekend(idf, list_of_cols):
    """Saturday/Sunday flag (Spark dayofweek: 1=Sunday, 7=Saturday;
    reference: datetime.py:1711-1712)."""
    return _append(idf, {f"{c}_isWeekend": F.dayofweek(F.col(c)).isin([1, 7]).cast("int") for c in ensure_list(list_of_cols)})


# ---- aggregates over time -------------------------------------------------- #
_AGG_FNS = {
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "mean": F.mean,
    "median": lambda c: F.expr(f"percentile(`{c}`, 0.5)") if isinstance(c, str) else F.expr("percentile(x, 0.5)"),
    "stddev": F.stddev,
    "countDistinct": F.count_distinct,
    "sumDistinct": F.sum_distinct,
    "collect_list": F.collect_list,
    "collect_set": F.collect_set,
}


def aggregator(
    idf: DataFrame,
    list_of_cols,
    list_of_aggs,
    time_col: str,
    granularity_format: str = "yyyy-MM-dd",
) -> DataFrame:
    """groupBy(time bucket) + per-column aggregations
    (reference: datetime.py:1721-1821).  One hash-agg shuffle keyed by the
    bucket — partial aggregation handles the fan-in at scale."""
    cols, aggs = ensure_list(list_of_cols), ensure_list(list_of_aggs)
    bucket = F.date_format(F.col(time_col), granularity_format).alias(time_col)
    exprs = []
    for c in cols:
        for a in aggs:
            if a not in _AGG_FNS:
                raise ValueError(f"unknown agg {a!r}")
            if a == "median":
                exprs.append(F.expr(f"percentile(`{c}`, 0.5)").alias(f"{c}_median"))
            else:
                exprs.append(_AGG_FNS[a](c).alias(f"{c}_{a}"))
    return idf.groupBy(bucket).agg(*exprs)


def window_aggregator(
    idf: DataFrame,
    list_of_cols,
    list_of_aggs,
    order_col: str,
    window_type: str = "expanding",
    window_size: int = 10,
    partition_col: str | None = None,
    tie_breaker_col: str | None = None,
) -> DataFrame:
    """Expanding / rolling window aggregates ordered by a timestamp
    (reference: datetime.py:1824-1930).

    A partition column is REQUIRED (the reference allows a global ordered
    window — a single-partition bottleneck at scale, SURVEY §4).  Ordering
    adds a tie-breaker column for determinism.
    """
    if not partition_col:
        raise ValueError(
            "window_aggregator requires partition_col: a global ordered window "
            "serializes onto one task at scale"
        )
    cols, aggs = ensure_list(list_of_cols), ensure_list(list_of_aggs)
    order = [F.col(order_col).asc()]
    if tie_breaker_col:
        order.append(F.col(tie_breaker_col).asc())
    base = Window.partitionBy(partition_col).orderBy(*order)
    if window_type == "expanding":
        w = base.rowsBetween(Window.unboundedPreceding, 0)
    elif window_type == "rolling":
        w = base.rowsBetween(-(int(window_size) - 1), 0)
    else:
        raise ValueError("window_type must be expanding|rolling")
    out = [F.col(c) for c in idf.columns]
    for c in cols:
        for a in aggs:
            if a == "median":
                raise ValueError("median not supported over row windows; use percentile on groups")
            out.append(_AGG_FNS[a](c).over(w).alias(f"{c}_{a}_w"))
    return idf.select(*out)


def lagged_ts(
    idf: DataFrame,
    list_of_cols,
    lag: int = 1,
    output_type: str = "ts",
    partition_col: str | None = None,
    order_col: str | None = None,
    tie_breaker_col: str | None = None,
) -> DataFrame:
    """Lag-k column (+ optional diff vs lag)
    (reference: datetime.py:1933-2012).  Partitioned window required."""
    if not partition_col:
        raise ValueError("lagged_ts requires partition_col (single-partition hazard)")
    cols = ensure_list(list_of_cols)
    new = {}
    for c in cols:
        oc = order_col or c
        order = [F.col(oc).asc()]
        if tie_breaker_col:
            order.append(F.col(tie_breaker_col).asc())
        w = Window.partitionBy(partition_col).orderBy(*order)
        lag_col = F.lag(F.col(c), lag).over(w)
        new[f"{c}_lag{lag}"] = lag_col
        if output_type == "ts_diff":
            new[f"{c}_lag{lag}_diff"] = (
                F.col(c).cast("double") - lag_col.cast("double")
            )
    return _append(idf, new)


def time_weighted_avg(
    idf: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Time-weighted average per group under step ("last observation
    carried forward") interpolation: each value holds from its own
    timestamp to the next observation, so
    TWA = Σ value_i·(t_{i+1} − t_i) / (t_last − t_first) — the correct
    average for irregularly sampled gauges (billing, telemetry), where
    the arithmetic mean over-weights bursts of samples.

    One keyed window (lead) + one keyed aggregation; groups with fewer
    than two observations have no interval and report null.
    [group, n_obs, span_seconds, twa, plain_avg].

    Arithmetic is DECIMAL(18,6) end-to-end: float Σ(v·dt) is
    summation-order-dependent, and at sf1 (10× observations per group)
    a partial-sum reorder landed a twa within 1 ulp of a round-half
    boundary, flipping the 6th decimal between engines.  Decimal sums
    are associative — partition-order- and engine-invariant — so the
    rounded result is bit-stable at any scale (value quantized at 1e-6,
    well inside the contract's 6-decimal rounding).

    Magnitude bound (explicit, FAIL-FAST): |value| must be < 1e12 —
    decimal(18,6) holds 12 integer digits, and the v·dt product is only
    exactly representable (precision 37, scale 12 ≤ 38) at 18-digit
    operands, so widening would trade silent product rounding for the
    overflow.  A value at or beyond the bound raises at execution time
    (in-plan check, no extra pass) instead of the non-ANSI cast's silent
    NULL, which would drop the row from both averages.  Interval deltas
    are physically bounded (1e12 seconds ≈ 31,000 years) and need no
    guard.

    Simultaneous observations (tied timestamps — real at scale: the
    sf10 decade's 10M-event table carries 1.7M tied (group, ts) pairs
    with distinct values, and ORDER BY ts alone let each engine hand
    the forward interval to a different tied row, r10 e2e finding):
    ties order by value ascending with nulls first, so the LARGEST
    value at a tied instant is the one carried forward to the next
    distinct timestamp — a defined, total, engine-invariant convention
    (rows tying on both ts and value are interchangeable in the v·dt
    sum, so the result is deterministic even though the order isn't
    total over such rows).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(ts_col).asc(), F.col(value_col).asc_nulls_first()
    )
    v_dbl = F.col(value_col).cast("double")
    # NaN passes through like NULL (the decimal cast nulls it and the
    # row drops from both averages, matching pre-guard behavior) — the
    # magnitude fail-fast is for genuine overflow only, where "rescale"
    # is actionable advice; for NaN it would misdiagnose the input
    v_checked = F.when(
        v_dbl.isNull() | F.isnan(v_dbl) | (F.abs(v_dbl) < F.lit(1e12)), v_dbl
    ).otherwise(
        F.raise_error(
            F.format_string(
                "time_weighted_avg: |%s|=%s exceeds the exact decimal(18,6) "
                "bound of 1e12; rescale the value column first",
                F.lit(value_col),
                v_dbl,
            )
        ).cast("double")
    )
    stepped = idf.select(
        F.col(group_col),
        F.col(ts_col),
        v_checked.cast("decimal(18,6)").alias("__v__"),
        # fractional-second intervals: timestamp->double keeps the
        # microseconds (unix_timestamp truncates and skews short gaps);
        # the intermediate cast makes TIMESTAMP_NTZ inputs castable too
        (
            F.lead(ts_col).over(w).cast("timestamp").cast("double")
            - F.col(ts_col).cast("timestamp").cast("double")
        ).cast("decimal(18,6)").alias("__dt__"),
    )
    span = F.sum("__dt__")
    return stepped.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(span, 0).cast("long").alias("span_seconds"),
        F.round(
            F.when(span > 0, F.sum(F.col("__v__") * F.col("__dt__")) / span), 6
        ).cast("double").alias("twa"),
        F.round(
            F.sum("__v__") / F.count(F.lit(1)).cast("decimal(18,0)"), 6
        ).cast("double").alias("plain_avg"),
    )


def cusum_changepoints(
    idf: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    target: float,
    drift: float = 0.0,
    threshold: float = 5.0,
    tiebreak_cols=(),
) -> DataFrame:
    """Distributed CUSUM change-point detection per group: the classic
    recursion  s⁺_i = max(0, s⁺_{i-1} + (x_i − target − drift))  looks
    sequential, but it has a closed window form —

        c_i  = Σ_{k≤i} d_k              (running sum of deviations)
        s⁺_i = c_i − min(0, min_{j≤i} c_j)

    (the running sum minus its own running minimum clamped at 0), and
    symmetrically s⁻ with max — so both one-sided CUSUM statistics
    compute with TWO ordered windows per group, no recursion, no UDF,
    no sequential pass.  Rows where either statistic exceeds
    ``threshold`` are flagged.

    Returns [group, ts, value, cusum_pos, cusum_neg, flagged(int)].
    """
    from pyspark.sql import Window

    from anovos_spark.core.utils import ensure_list

    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in ensure_list(tiebreak_cols)
    ]
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = F.col(value_col).cast("double")
    d_pos = x - F.lit(float(target)) - F.lit(float(drift))
    d_neg = x - F.lit(float(target)) + F.lit(float(drift))
    c_pos = F.sum(d_pos).over(w)
    c_neg = F.sum(d_neg).over(w)
    tb = ensure_list(tiebreak_cols)
    base = idf.select(
        F.col(group_col),
        F.col(ts_col),
        *[F.col(c) for c in tb],
        x.alias("value"),
        c_pos.alias("__cp__"),
        c_neg.alias("__cn__"),
    )
    w2 = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s_pos = F.col("__cp__") - F.least(F.lit(0.0), F.min("__cp__").over(w2))
    s_neg = -(F.col("__cn__") - F.greatest(F.lit(0.0), F.max("__cn__").over(w2)))
    return base.select(
        group_col,
        ts_col,
        *ensure_list(tiebreak_cols),
        "value",
        F.round(s_pos, 6).alias("cusum_pos"),
        F.round(s_neg, 6).alias("cusum_neg"),
        # flag on the ROUNDED statistic (the one reported): the raw
        # running sum carries ~1e-12 float-association noise, and a value
        # sitting exactly on the threshold would flip with it
        (
            (F.round(s_pos, 6) > F.lit(float(threshold)))
            | (F.round(s_neg, 6) > F.lit(float(threshold)))
        ).cast("int").alias("flagged"),
    )


def benford_check(
    idf: DataFrame,
    list_of_cols,
) -> DataFrame:
    """Benford's-law screen (audit/fraud heuristic): the first significant
    digit of naturally occurring magnitudes follows P(d) = log10(1 + 1/d);
    strong deviation flags fabricated or constrained data.  One melt +
    one aggregation for all columns → [attribute, digit, n, observed_frac,
    expected_frac, chi2_term]; sum chi2_term per attribute against the
    χ²(8) critical value downstream.

    First digit extraction is arithmetic — floor(v / 10^floor(log10 v))
    — which stays inside whole-stage codegen (the previous
    format_number+regexp string path cost ~3× on wide scans); a ±1-ulp
    log10 across a power-of-10 boundary can only yield 0 or 10, both
    clamped back to the true digit (9 and 1).  Zeros/nulls are excluded
    (they carry no leading digit).
    """
    import math

    from anovos_spark.core.utils import ensure_list

    cols = ensure_list(list_of_cols)
    stacked = None
    for c in cols:
        v = F.abs(F.col(c).cast("double"))
        d = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
        digit = F.when(d == 10, 1).when(d == 0, 9).otherwise(d)
        part = idf.where(v > 0).select(
            F.lit(c).alias("attribute"), digit.alias("digit")
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    counts = stacked.where(F.col("digit").between(1, 9)).groupBy(
        "attribute", "digit"
    ).agg(F.count(F.lit(1)).alias("n"))
    # a digit with ZERO observations must still emit its row: its χ² term
    # is tot·P(d), and dropping it silently under-counts the statistic
    # (same empty-group class as the funnel step fix)
    full = local_frame(
        idf.sparkSession,
        [(c, d) for c in cols for d in range(1, 10)],
        schema="attribute string, digit int",
    )
    counts = full.join(counts, ["attribute", "digit"], "left_outer").select(
        "attribute", "digit",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
    )
    from pyspark.sql import Window

    tot = F.sum("n").over(Window.partitionBy("attribute"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs = F.col("n") / tot
    return (
        counts.select(
            "attribute",
            "digit",
            "n",
            F.round(obs, 6).alias("observed_frac"),
            F.round(expected, 6).alias("expected_frac"),
            F.round(
                tot * (obs - expected) * (obs - expected) / expected, 6
            ).alias("chi2_term"),
            tot.alias("__tot__"),
        )
        # an attribute whose values are ALL null/zero has no leading
        # digits at all — emitting 9 rows of 0/0-null statistics would
        # make downstream chi2 sums silently treat the nulls as 0, so
        # such attributes are absent entirely (pre-grid behavior)
        .where(F.col("__tot__") > 0)
        .drop("__tot__")
    )
