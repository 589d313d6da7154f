"""Timeseries auto-detection & analysis.

Reference parity: data_ingest/ts_auto_detection.py (regex_date_time_parser
:51-552, ts_loop_cols_pre :554-620, ts_preprocess :622-761) and
data_analyzer/ts_analyzer.py (daypart_cat :52, ts_processed_feats :87,
ts_eligiblity_check :160-257, ts_viz_data :259-550).

Design change (SURVEY §7.7): the reference classifies datetime strings with
a ~500-line regex grammar inside a UDF.  Here detection is a FORMAT VOTE:
for each candidate column, try a fixed battery of `to_timestamp(c, fmt)`
expressions and measure parse-success rates in ONE aggregation pass; the
winning format (success ≥ threshold) is used to convert.  Same outcome,
pure Catalyst, no UDF, one job for all columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.utils import ensure_list, local_frame

# candidate formats, ordered by specificity (first winning format is used;
# covers the reference grammar's length-{4,6,8,10,13} families)
CANDIDATE_FORMATS = [
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "dd-MM-yyyy HH:mm:ss",
    "dd-MM-yyyy",
    "dd/MM/yyyy HH:mm:ss",
    "dd/MM/yyyy",
    "MM-dd-yyyy",
    "MM/dd/yyyy",
    "yyyyMMdd",
    "yyyyMMddHHmmss",
    "yyyy-MM",
    "yyyyMM",
]


def ts_candidate_columns(idf: DataFrame) -> list[str]:
    """Columns worth probing: strings plus integer columns whose values look
    like yyyymmdd / epoch (reference: ts_auto_detection.py:554-620)."""
    cands = []
    for name, dtype in idf.dtypes:
        if dtype == "string" or dtype in ("int", "bigint", "long"):
            cands.append(name)
        elif dtype in ("timestamp", "date"):
            cands.append(name)
    return cands


def ts_format_vote(
    idf: DataFrame,
    list_of_cols=None,
    formats: list[str] | None = None,
    success_threshold: float = 0.8,
    sample_size: int = 10_000,
    seed: int = 42,
) -> dict[str, str]:
    """Detect the datetime format of each candidate column by parse-rate
    vote — ONE aggregation job over all (column, format) pairs.

    The vote runs on a bounded seeded sample: failed parse attempts are
    exception-driven in the JVM (~10 µs each), so a full scan of
    N rows × F formats is pathological at scale, and a format decision
    never needs more than a few thousand examples.

    Returns {col: fmt} for columns where some format parses ≥ threshold of
    non-null values ('native' for already-temporal columns).
    """
    formats = formats or CANDIDATE_FORMATS
    cols = ensure_list(list_of_cols) if list_of_cols else ts_candidate_columns(idf)
    dtypes = dict(idf.dtypes)

    total = idf.count()
    if total > sample_size:
        idf = idf.sample(False, sample_size / total, seed)
    idf = idf.localCheckpoint(eager=False)  # sample feeds 2 jobs

    result: dict[str, str] = {}
    cand_cols = [c for c in cols if dtypes.get(c) not in ("timestamp", "date")]
    for c in cols:
        if dtypes.get(c) in ("timestamp", "date"):
            result[c] = "native"
    if not cand_cols:
        return result

    # Pass 1 (cheap): observed string-length set per column.  Every
    # candidate format renders at a fixed width (quotes stripped), so a
    # format can only win on a column whose values actually have that
    # length — each column then probes ~2-4 formats instead of all 16.
    # try_to_timestamp failures are JVM-exception-driven (~10 µs each), so
    # pruning doomed probes is what cuts the wall-clock (19 s → ~4 s on
    # the 8-column events battery), and columns matching NO format length
    # (free-text, decimals) skip pass 2 entirely.
    fmt_len = {fmt: len(fmt.replace("'", "")) for fmt in formats}
    len_aggs = []
    for c in cand_cols:
        s = F.col(c).cast("string")
        len_aggs.append(F.collect_set(F.length(s)).alias(f"{c}__lens"))
        len_aggs.append(F.count(s).alias(f"{c}__nn"))
    lrow = idf.agg(*len_aggs).collect()[0]

    aggs = []
    probes: dict[str, list[str]] = {}
    for c in cand_cols:
        lens = set(lrow[f"{c}__lens"] or [])
        cand_formats = [fmt for fmt in formats if fmt_len[fmt] in lens]
        if not cand_formats or not lrow[f"{c}__nn"]:
            continue
        probes[c] = cand_formats
        s = F.col(c).cast("string")
        for i, fmt in enumerate(cand_formats):
            aggs.append(F.count(F.try_to_timestamp(s, F.lit(fmt))).alias(f"{c}__f{i}"))
    if not aggs:
        return result
    row = idf.agg(*aggs).collect()[0]
    for c, cand_formats in probes.items():
        nn = lrow[f"{c}__nn"]
        for i, fmt in enumerate(cand_formats):
            if (row[f"{c}__f{i}"] or 0) >= success_threshold * nn:
                result[c] = fmt
                break
    return result


def ts_preprocess(
    idf: DataFrame, detected: dict[str, str] | None = None
) -> tuple[DataFrame, dict[str, str]]:
    """Convert every detected datetime column to TimestampType
    (reference: ts_auto_detection.py:622-761).  Returns (odf, formats)."""
    detected = detected or ts_format_vote(idf)
    odf = idf
    for c, fmt in detected.items():
        if fmt == "native":
            continue
        odf = odf.withColumn(
            c, F.try_to_timestamp(F.col(c).cast("string"), F.lit(fmt))
        )
    return odf, detected


def daypart_cat(hour_col) -> F.Column:
    """Hour → daypart bucket (reference: ts_analyzer.py:52-84) — F.when
    chain instead of the reference's UDF."""
    h = F.col(hour_col) if isinstance(hour_col, str) else hour_col
    return (
        F.when((h >= 4) & (h < 7), "early_hours")
        .when((h >= 7) & (h < 10), "morning")
        .when((h >= 10) & (h < 14), "late_morning")
        .when((h >= 14) & (h < 17), "afternoon")
        .when((h >= 17) & (h < 20), "evening")
        .otherwise("night")
    )


def ts_processed_feats(idf: DataFrame, ts_col: str) -> DataFrame:
    """All time units + date + daypart + weekend flag
    (reference: ts_analyzer.py:87-158)."""
    from anovos_spark.operators.datetime_ops import time_units_extraction

    odf = time_units_extraction(idf, [ts_col])
    return odf.select(
        *odf.columns,
        F.to_date(F.col(ts_col)).alias(f"{ts_col}_date"),
        daypart_cat(f"{ts_col}_hour").alias(f"{ts_col}_daypart"),
        F.dayofweek(F.col(ts_col)).isin([1, 7]).cast("int").alias(f"{ts_col}_weekend"),
    )


def ts_eligibility_check(
    idf: DataFrame, ts_col: str, id_col: str | None = None
) -> DataFrame:
    """Regularity metrics for a timestamp column: lag-1 day-gap mean /
    stddev / coefficient-of-variation, span, distinct dates
    (reference: ts_analyzer.py:160-257).  [metric, value] frame.

    Gap stats run over per-id windows when id_col is given (partitioned —
    no global window)."""
    d = F.to_date(F.col(ts_col))
    if id_col:
        w = Window.partitionBy(id_col).orderBy(d)
    else:
        # date-level gaps: aggregate to distinct dates first (bounded size),
        # then a single-partition window over dates is safe
        w = Window.orderBy("d")
    if id_col:
        gaps = idf.select(
            F.datediff(d, F.lag(d, 1).over(w)).alias("gap")
        ).where(F.col("gap").isNotNull())
    else:
        dates = idf.select(d.alias("d")).distinct()
        gaps = dates.select(
            F.datediff(F.col("d"), F.lag("d", 1).over(w)).alias("gap")
        ).where(F.col("gap").isNotNull())
    agg = idf.agg(
        F.count_distinct(d).alias("n_dates"),
        F.min(d).alias("min_date"),
        F.max(d).alias("max_date"),
    ).collect()[0]
    g = gaps.agg(
        F.round(F.mean("gap"), 6).alias("gap_mean"),
        F.round(F.stddev("gap"), 6).alias("gap_stddev"),
    ).collect()[0]
    cov = (
        round(g["gap_stddev"] / g["gap_mean"], 6)
        if g["gap_mean"] and g["gap_stddev"] is not None
        else None
    )
    spark = idf.sparkSession
    empty = agg["min_date"] is None or agg["max_date"] is None
    data = [
        ("n_dates", float(agg["n_dates"] or 0)),
        ("span_days",
         None if empty else float((agg["max_date"] - agg["min_date"]).days)),
        ("gap_mean", g["gap_mean"]),
        ("gap_stddev", g["gap_stddev"]),
        ("gap_cov", cov),
    ]
    return local_frame(spark, data, schema="metric string, value double")


def ts_analyzer(
    idf: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Aggregates per (date, hour, daypart, weekend) for reporting
    (reference: ts_viz_data / ts_analyzer, ts_analyzer.py:259-550) —
    one groupBy per granularity, union-ed long."""
    from anovos_spark.core.utils import union_by_name

    feats = ts_processed_feats(idf, ts_col)
    frames = []
    for key, alias in [
        (F.col(f"{ts_col}_date").cast("string"), "date"),
        (F.col(f"{ts_col}_hour").cast("string"), "hour"),
        (F.col(f"{ts_col}_daypart"), "daypart"),
        (F.col(f"{ts_col}_weekend").cast("string"), "weekend"),
    ]:
        frames.append(
            feats.groupBy(key.alias("key"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.mean(value_col), 6).alias("value_mean"),
            )
            .withColumn("granularity", F.lit(alias))
        )
    return union_by_name(frames).select("granularity", "key", "n_rows", "value_mean")


def seasonal_decompose(
    idf: DataFrame,
    ts_col: str,
    value_col: str,
    period: int,
    grain: str = "day",
) -> DataFrame:
    """Classical additive seasonal decomposition of the per-grain mean
    series: observed = trend + seasonal + resid (reference: ts_analyzer.py
    runs statsmodels.seasonal_decompose on small aggregates — same
    algorithm re-implemented: centered moving-average trend, by-phase
    seasonal means, both driver-side numpy on the aggregated series).

    The DATA-SIZED work (grain aggregation) is one distributed groupBy;
    only the tiny per-grain series (#days/#hours rows) reaches the driver.
    Returns [idx, grain_key, observed, trend, seasonal, resid] ordered by
    time; trend/resid are null in the half-window edges, like statsmodels.
    """
    import numpy as np

    truncs = {"day": "dd", "hour": "hour", "week": "week", "month": "mon"}
    if grain not in truncs:
        raise ValueError(f"grain must be one of {sorted(truncs)}")
    series = (
        idf.groupBy(F.date_trunc(truncs[grain], F.col(ts_col)).alias("k"))
        .agg(F.mean(value_col).alias("v"))
        .orderBy("k")
        .collect()
    )
    if len(series) < 2 * period:
        raise ValueError(f"need >= 2 periods of data ({2*period} {grain}s), got {len(series)}")
    obs = np.array([r["v"] for r in series], dtype=float)
    n = len(obs)
    half = period // 2
    trend = np.full(n, np.nan)
    if period % 2 == 0:
        # centered MA with half-weights at both ends (statsmodels convention)
        w = np.ones(period + 1)
        w[0] = w[-1] = 0.5
        w /= period
        for i in range(half, n - half):
            trend[i] = float(np.dot(obs[i - half : i + half + 1], w))
    else:
        for i in range(half, n - half):
            trend[i] = float(obs[i - half : i + half + 1].mean())
    detrended = obs - trend
    seasonal_means = np.array(
        [np.nanmean(detrended[p::period]) for p in range(period)]
    )
    seasonal_means -= seasonal_means.mean()  # center so Σ seasonal = 0
    seasonal = np.array([seasonal_means[i % period] for i in range(n)])
    resid = obs - trend - seasonal
    spark = idf.sparkSession
    rows = [
        (
            i,
            str(series[i]["k"]),
            round(float(obs[i]), 6),
            None if np.isnan(trend[i]) else round(float(trend[i]), 6),
            round(float(seasonal[i]), 6),
            None if np.isnan(resid[i]) else round(float(resid[i]), 6),
        )
        for i in range(n)
    ]
    return local_frame(
        spark,
        rows,
        schema="idx int, grain_key string, observed double, trend double, "
        "seasonal double, resid double",
    )
