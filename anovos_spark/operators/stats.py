"""Descriptive statistics generators.

Reference parity: stats_generator.py (global_summary, missingCount,
nonzeroCount, mode, central tendency, uniqueCount, cardinality, dispersion,
percentiles, shape — reference: data_analyzer/stats_generator.py:33-1011).

Architecture difference vs the reference (deliberate, for 100 TB):
- ONE wide aggregation job computes every per-column metric in a single
  pass (partial aggregation map-side, no shuffle beyond the final reduce),
  then a driver-cheap `stack` reshapes the 1-row wide result into the
  long ``[attribute, metric...]`` stats frame.  The reference instead runs
  `df.summary()` + transposes and per-column jobs (e.g. mode_computation
  loops per column, stats_generator.py:386-401) — O(cols) jobs.
- Mode is batched: melt discrete columns → one groupBy(attribute, value)
  → window top-1, i.e. one shuffle for ALL columns.
- Exact vs approx is an explicit knob: ``exact=True`` uses
  `percentile`/`count_distinct` (oracle-comparable); ``exact=False`` uses
  `percentile_approx(err)`/`approx_count_distinct(rsd)` — the scale path
  (reference defaults: relativeError 0.01, rsd 0.05; stats_generator.py:566,
  quality_checker.py:847).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.typing import discrete_columns, resolve_columns
from anovos_spark.core.utils import fan_out, local_frame, melt


def _stack_wide_row(
    wide: DataFrame, cols: list[str], metrics: list[str], types: dict | None = None
) -> DataFrame:
    """Reshape a 1-row frame with ``{col}__{metric}`` columns into the long
    ``[attribute, *metrics]`` stats frame. Runs on a 1-row frame → free.

    ``types`` maps metric → SQL type; metrics default to double (stack
    requires a uniform type per output column across all input columns).
    """
    types = types or {}

    def _val(c: str, m: str) -> str:
        t = types.get(m, "double")
        return f"cast(`{c}__{m}` as {t})"

    tuples = ", ".join(
        "'{c}', {vals}".format(c=c, vals=", ".join(_val(c, m) for m in metrics))
        for c in cols
    )
    expr = f"stack({len(cols)}, {tuples}) as (attribute, {', '.join(metrics)})"
    return wide.select(F.expr(expr))


def global_summary(idf: DataFrame) -> DataFrame:
    """[metric, value] overview: rows/cols counts + type split
    (reference: stats_generator.py:33-113)."""
    spark = idf.sparkSession
    from anovos_spark.core.typing import attribute_type_segregation

    num_cols, cat_cols, other_cols = attribute_type_segregation(idf)
    rows = idf.count()
    data = [
        ("rows_count", str(rows)),
        ("columns_count", str(len(idf.columns))),
        ("numcols_count", str(len(num_cols))),
        ("catcols_count", str(len(cat_cols))),
        ("othercols_count", str(len(other_cols))),
    ]
    return local_frame(spark, data, schema="metric string, value string")


def missing_count(idf: DataFrame, list_of_cols="all", drop_cols=()) -> DataFrame:
    """[attribute, missing_count, missing_pct] — single pass
    (reference: stats_generator.py:116-176; their summary()+transpose is
    replaced by one agg of isNull sums)."""
    cols = resolve_columns(idf, list_of_cols, drop_cols)
    aggs = [F.count(F.lit(1)).alias("__total__")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__missing_count")
        )
    wide = idf.agg(*aggs)
    for c in cols:
        wide = wide.withColumn(
            f"{c}__missing_pct",
            F.round(F.try_divide(F.col(f"{c}__missing_count"), F.col("__total__")), 6),
        )
    return _stack_wide_row(wide, cols, ["missing_count", "missing_pct"], {"missing_count": "long"})


def nonzero_count(idf: DataFrame, list_of_cols="all", drop_cols=()) -> DataFrame:
    """[attribute, nonzero_count, nonzero_pct] for numeric cols
    (reference: stats_generator.py:179-248 uses RDD MLlib colStats — replaced
    with a pure Catalyst conditional count)."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    aggs = [F.count(F.lit(1)).alias("__total__")]
    for c in cols:
        aggs.append(
            F.count(F.when(F.col(c) != 0, F.lit(1))).alias(f"{c}__nonzero_count")
        )
    wide = idf.agg(*aggs)
    for c in cols:
        wide = wide.withColumn(
            f"{c}__nonzero_pct",
            F.round(F.try_divide(F.col(f"{c}__nonzero_count"), F.col("__total__")), 6),
        )
    return _stack_wide_row(wide, cols, ["nonzero_count", "nonzero_pct"], {"nonzero_count": "long"})


def mode_computation(idf: DataFrame, list_of_cols="all", drop_cols=()) -> DataFrame:
    """[attribute, mode, mode_rows] top-1 value per discrete column.

    Batched: melt → ONE groupBy(attribute, value) → window top-1, versus the
    reference's per-column groupBy/orderBy/limit(1) jobs
    (stats_generator.py:328-421).  Tie-break is deterministic: highest count,
    then lexicographically smallest value (the reference picks randomly,
    stats_generator.py:358 — divergence documented).
    """
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="discrete")
    long_df = melt(idf.select(cols), [], cols, "attribute", "value")
    counts = (
        long_df.where(F.col("value").isNotNull())
        .groupBy("attribute", "value")
        .agg(F.count(F.lit(1)).alias("mode_rows"))
    )
    w = Window.partitionBy("attribute").orderBy(
        F.col("mode_rows").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .select(F.col("attribute"), F.col("value").alias("mode"), "mode_rows")
    )


def unique_count(
    idf: DataFrame, list_of_cols="all", drop_cols=(), exact: bool = False, rsd: float = 0.05
) -> DataFrame:
    """[attribute, unique_values] distinct counts, exact or HLL++ approx
    (reference: stats_generator.py:529-620)."""
    cols = resolve_columns(idf, list_of_cols, drop_cols)
    aggs = [
        (
            F.count_distinct(F.col(c)) if exact else F.approx_count_distinct(F.col(c), rsd)
        ).alias(f"{c}__unique_values")
        for c in cols
    ]
    # exact: count_distinct plans an Expand — fan_out earns its exchange.
    # approx: HLL maintenance is cheap; the exchange costs more than it
    # saves at bench SFs (measured on the cardinality twin) — unfanned.
    src = fan_out(idf.select(*cols)) if exact else idf.select(*cols)
    return _stack_wide_row(src.agg(*aggs), cols, ["unique_values"], {"unique_values": "long"})


def measures_of_cardinality(
    idf: DataFrame, list_of_cols="all", drop_cols=(), exact: bool = False
) -> DataFrame:
    """[attribute, unique_values, IDness] where IDness = distinct/non-null
    (reference: stats_generator.py:623-733) — one pass, no join."""
    cols = resolve_columns(idf, list_of_cols, drop_cols)
    aggs = []
    for c in cols:
        cnt = F.count_distinct(F.col(c)) if exact else F.approx_count_distinct(F.col(c))
        aggs.append(cnt.alias(f"{c}__unique_values"))
        aggs.append(F.count(F.col(c)).alias(f"{c}__nonnull"))
    # exact: count_distinct plans an 11-way Expand — fan_out earns its
    # exchange.  approx: HLL registers are cheap to maintain; measured at
    # sf0.1 the exchange costs more than it saves (1.02 → 1.48 s) — unfanned.
    wide = (fan_out(idf.select(*cols)) if exact else idf.select(*cols)).agg(*aggs)
    for c in cols:
        wide = wide.withColumn(
            f"{c}__IDness",
            F.round(F.try_divide(F.col(f"{c}__unique_values"), F.col(f"{c}__nonnull")), 6),
        )
    return _stack_wide_row(wide, cols, ["unique_values", "IDness"], {"unique_values": "long"})


def measures_of_counts(idf: DataFrame, list_of_cols="all", drop_cols=()) -> DataFrame:
    """[attribute, fill_count, fill_pct, missing_count, missing_pct]
    (reference: stats_generator.py:116-176 composite)."""
    cols = resolve_columns(idf, list_of_cols, drop_cols)
    aggs = [F.count(F.lit(1)).alias("__total__")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}__fill_count"))
    wide = idf.agg(*aggs)
    for c in cols:
        wide = (
            wide.withColumn(
                f"{c}__fill_pct", F.round(F.try_divide(F.col(f"{c}__fill_count"), F.col("__total__")), 6)
            )
            .withColumn(
                f"{c}__missing_count", F.col("__total__") - F.col(f"{c}__fill_count")
            )
            .withColumn(
                f"{c}__missing_pct",
                F.round(1.0 - F.try_divide(F.col(f"{c}__fill_count"), F.col("__total__")), 6),
            )
        )
    return _stack_wide_row(
        wide,
        cols,
        ["fill_count", "fill_pct", "missing_count", "missing_pct"],
        {"fill_count": "long", "missing_count": "long"},
    )


def measures_of_central_tendency(
    idf: DataFrame, list_of_cols="all", drop_cols=(), exact: bool = False
) -> DataFrame:
    """[attribute, mean, median, mode, mode_pct]
    (reference: stats_generator.py:424-526).

    mean/median in one agg pass over numeric cols; mode via the batched
    mode_computation; joined on the tiny stats frames (broadcast).
    """
    num_cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    disc_cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="discrete")

    median_fn = (
        (lambda c: F.expr(f"percentile(`{c}`, 0.5)"))
        if exact
        else (lambda c: F.expr(f"percentile_approx(`{c}`, 0.5, 100)"))
    )
    # exact mode: mean from a decimal-exact sum — the result is independent of
    # partition/summation order, so it hash-matches the DuckDB oracle at any
    # parallelism (double sums differ in the last ulps per partitioning).
    # decimal(38,6): per-value rounding identical to decimal(18,6) (same scale)
    # so oracle-compatible, but representable domain extends to |x| < 1e32 —
    # a decimal(18,6) cast silently nulls values >= 1e12 out of the sum.
    # Domain limit (documented): scale-6 truncation; sub-1e-6 fractions lose
    # precision relative to a double sum.
    mean_fn = (
        (
            lambda c: F.when(
                F.max(F.abs(F.col(c))) < F.lit(1e31),
                F.expr(f"cast(try_sum(try_cast(`{c}` as decimal(38,6))) as double)"),
            ).otherwise(F.sum(F.col(c).cast("double")))
            / F.count(F.col(c))
        )
        if exact
        else (lambda c: F.mean(c))
    )
    aggs = [F.count(F.lit(1)).alias("__total__")]
    for c in num_cols:
        aggs.append(F.round(mean_fn(c), 6).alias(f"{c}__mean"))
        aggs.append(F.round(median_fn(c), 6).alias(f"{c}__median"))
    for c in disc_cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nonnull"))
    src = idf.select(*dict.fromkeys(num_cols + disc_cols))
    # fan out in both modes: the percentile_approx median sketch makes the
    # agg an ObjectHashAggregate (no whole-stage codegen), and at bench SFs
    # the scan collapses to ~one real task.  The approx path's F.mean is a
    # double sum whose ulps shift with partitioning — approx mode is the
    # production/bench posture, not the oracle gate (exact mode keeps its
    # decimal order-independent mean).  No-op at real scale.
    wide = fan_out(src).agg(*aggs)

    parts = []
    if num_cols:
        parts.append(_stack_wide_row(wide, num_cols, ["mean", "median"]))
    base = parts[0] if parts else None

    if disc_cols:
        nonnull = _stack_wide_row(wide, disc_cols, ["nonnull"], {"nonnull": "long"})
        modes = mode_computation(idf, disc_cols).join(
            F.broadcast(nonnull), "attribute", "inner"
        )
        modes = modes.select(
            "attribute",
            F.col("mode").cast("string").alias("mode"),
            F.round(F.col("mode_rows") / F.col("nonnull"), 6).alias("mode_pct"),
        )
        if base is not None:
            return base.join(modes, "attribute", "full_outer")
        return modes
    return base


def measures_of_dispersion(
    idf: DataFrame, list_of_cols="all", drop_cols=(), exact: bool = False
) -> DataFrame:
    """[attribute, stddev, variance, cov, IQR, range] for numeric cols
    (reference: stats_generator.py:736-829) — one agg pass."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    # ONE quantile sketch per column (array of probabilities), not one per
    # (column, quantile) — sketch maintenance is the dominant cost
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else ", 100"
    aggs = []
    for c in cols:
        aggs.append(F.expr(f"{fn}(`{c}`, array(0.25, 0.75){acc})").alias(f"{c}__qs"))
        if exact:
            # decimal-exact s1/s2 → partition-order-independent variance:
            # var = (s2 − s1²/n)/(n−1) evaluated in double, byte-identical
            # to the oracle's same expression over the same exact sums.
            # s1 cast widened to decimal(38,6) (same scale-6 rounding, domain
            # to 1e32).  s2 must square, so it stays decimal(18,6) — values
            # with |x| >= 1e12 would null out of it silently; the variance
            # expression below therefore falls back to plain double sums
            # whenever min/max (computed in this same pass) leave the safe
            # domain.  Double-sum path loses bit-exact order independence but
            # is numerically correct; the decimal path is the default.
            aggs += [
                F.expr(f"cast(try_sum(try_cast(`{c}` as decimal(38,6))) as double)").alias(f"{c}__s1"),
                F.expr(
                    f"cast(try_sum(try_cast(`{c}` as decimal(18,6)) * try_cast(`{c}` as decimal(18,6))) as double)"
                ).alias(f"{c}__s2"),
                F.count(F.col(c)).cast("double").alias(f"{c}__n"),
                F.sum(F.col(c).cast("double")).alias(f"{c}__s1d"),
                F.sum(F.col(c).cast("double") * F.col(c).cast("double")).alias(f"{c}__s2d"),
            ]
        else:
            aggs += [
                F.stddev(c).alias(f"{c}__sd_"),
                F.variance(c).alias(f"{c}__var_"),
                F.mean(c).alias(f"{c}__mean"),
            ]
        aggs += [
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    # fan out in both modes: one percentile sketch per column already makes
    # this an ObjectHashAggregate (interpreted), and the parquet row-group
    # layout at bench SFs leaves the scan ~single-task (measured 2.4 s →
    # 1.2 s at sf0.1 with the fan-out).  percentile_approx's GK sketch merge
    # changes values only within its accuracy contract and only in approx
    # (non-oracle) mode; exact percentile is partition-order independent.
    wide = fan_out(idf.select(*cols)).agg(*aggs)
    for c in cols:
        if exact:
            safe = (F.abs(F.col(f"{c}__min")) < F.lit(1e12)) & (
                F.abs(F.col(f"{c}__max")) < F.lit(1e12)
            )
            s1 = F.when(safe, F.col(f"{c}__s1")).otherwise(F.col(f"{c}__s1d"))
            s2 = F.when(safe, F.col(f"{c}__s2")).otherwise(F.col(f"{c}__s2d"))
            var = (s2 - s1 * s1 / F.col(f"{c}__n")) / (F.col(f"{c}__n") - 1)
            sd = F.sqrt(var)
            mean = s1 / F.col(f"{c}__n")
        else:
            var = F.col(f"{c}__var_")
            sd = F.col(f"{c}__sd_")
            mean = F.col(f"{c}__mean")
        wide = (
            wide.withColumn(f"{c}__stddev", F.round(sd, 6))
            .withColumn(f"{c}__variance", F.round(var, 6))
            .withColumn(f"{c}__cov", F.round(sd / mean, 6))
            .withColumn(
                f"{c}__IQR",
                F.round(F.col(f"{c}__qs")[1] - F.col(f"{c}__qs")[0], 6),
            )
            .withColumn(f"{c}__range", F.round(F.col(f"{c}__max") - F.col(f"{c}__min"), 6))
        )
    return _stack_wide_row(wide, cols, ["stddev", "variance", "cov", "IQR", "range"])


PERCENTILES = [0.0, 0.01, 0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95, 0.99, 1.0]
_PCT_NAMES = ["min", "1%", "5%", "10%", "25%", "50%", "75%", "90%", "95%", "99%", "max"]


def measures_of_percentiles(
    idf: DataFrame, list_of_cols="all", drop_cols=(), exact: bool = False
) -> DataFrame:
    """[attribute, min, 1%, 5%, 10%, 25%, 50%, 75%, 90%, 95%, 99%, max]
    (reference: stats_generator.py:832-916) — one agg pass, array percentile."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    pcts = "array(" + ", ".join(str(p) for p in PERCENTILES[1:-1]) + ")"
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
        fn = "percentile" if exact else "percentile_approx"
        acc = "" if exact else ", 100"
        aggs.append(F.expr(f"{fn}(`{c}`, {pcts}{acc})").alias(f"{c}__pcts"))
    # fan out in both modes (see measures_of_dispersion: the sketch agg is
    # interpreted and ~single-task at bench SFs; no-op at real scale)
    wide = fan_out(idf.select(*cols)).agg(*aggs)
    for c in cols:
        for i, name in enumerate(_PCT_NAMES):
            if name == "min":
                src = F.col(f"{c}__min")
            elif name == "max":
                src = F.col(f"{c}__max")
            else:
                src = F.col(f"{c}__pcts")[i - 1]
            wide = wide.withColumn(f"{c}__pct_{name.replace('%', '')}", F.round(src, 6))
    metric_names = [f"pct_{n.replace('%', '')}" for n in _PCT_NAMES]
    return _stack_wide_row(wide, cols, metric_names)


def measures_of_shape(idf: DataFrame, list_of_cols="all", drop_cols=()) -> DataFrame:
    """[attribute, skewness, kurtosis] all columns in one pass
    (reference: stats_generator.py:919-1011).  Spark semantics: population
    skewness g1 and excess kurtosis (m4/m2² − 3)."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    aggs = []
    for c in cols:
        aggs.append(F.round(F.skewness(c), 6).alias(f"{c}__skewness"))
        aggs.append(F.round(F.kurtosis(c), 6).alias(f"{c}__kurtosis"))
    return _stack_wide_row(idf.agg(*aggs), cols, ["skewness", "kurtosis"])


def key_skew_report(
    idf: DataFrame, list_of_cols="all", drop_cols=(), top_k: int = 3
) -> DataFrame:
    """Join/shuffle-key skew diagnosis per candidate key column →
    [attribute, n_keys, n_rows, max_rows, avg_rows, skew_ratio,
    top1_share] (no reference analogue — this is the pre-flight check
    for the salted-join / AQE-skew decisions SCALE.md describes: a
    skew_ratio of 50 means the hottest key's partition does 50× the
    average work, the straggler profile that decides between a plain
    shuffle join, AQE skew split, and ingest.salted_join).

    Shape: melt once, ONE (attribute, value) aggregation, one per-
    attribute rollup — 2 shuffles for ALL columns (same battery pattern
    as mode/IV/IG), never a per-column job loop.
    """
    from anovos_spark.core.utils import melt

    cols = resolve_columns(idf, list_of_cols, drop_cols)
    long_df = melt(
        idf.select(*[F.col(c).cast("string").alias(c) for c in cols]),
        [],
        cols,
        "attribute",
        "value",
    )
    per_key = long_df.groupBy("attribute", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rollup = per_key.groupBy("attribute").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_rows"),
        F.round(F.avg("cnt"), 6).alias("avg_rows"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_ratio"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top1_share"),
    )
    # the top_k hottest keys per attribute as a CSV string (the values a
    # salting/AQE decision actually needs to see) — partial top-k per
    # partition via the rank window, never a global sort
    from pyspark.sql import Window

    w = Window.partitionBy("attribute").orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    hot = (
        per_key.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= int(top_k))
        .groupBy("attribute")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn__", "value"))
                    ),
                    lambda s: s["value"],
                ),
            ).alias("top_keys")
        )
    )
    return rollup.join(hot, "attribute", "left_outer")


def grouped_summary(
    idf: DataFrame,
    group_cols,
    list_of_cols="all",
    drop_cols=(),
    exact: bool = False,
) -> DataFrame:
    """Segmented numeric profile — the per-group analysis pass the
    reference lacks (its whole battery is whole-table): one groupBy
    aggregation computes every column's [n, n_missing, mean, stddev,
    vmin, vmax] per segment, melted to long form
    [*group_cols, attribute, n, n_missing, mean, stddev, vmin, vmax].

    Scale: ONE keyed shuffle for all columns together (map-side partial
    aggregation), output is |groups| x |columns| rows — never a
    per-column job loop.  exact=True switches the mean/variance sums to
    the decimal-exact s1/s2 construction (partition-order-independent,
    bit-identical to the oracle's same algebra — measures_of_dispersion's
    technique); the default double sums are the production path.
    """
    from anovos_spark.core.utils import ensure_list

    group_cols = ensure_list(group_cols)
    cols = resolve_columns(
        idf, list_of_cols, [*ensure_list(drop_cols), *group_cols],
        restrict_to="numerical",
    )
    aggs = [F.count(F.lit(1)).alias("__rows__")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}__n"))
        if exact:
            aggs += [
                F.expr(
                    f"cast(try_sum(try_cast(`{c}` as decimal(38,6))) as double)"
                ).alias(f"{c}__s1"),
                F.expr(
                    f"cast(try_sum(try_cast(`{c}` as decimal(18,6)) * "
                    f"try_cast(`{c}` as decimal(18,6))) as double)"
                ).alias(f"{c}__s2"),
            ]
        else:
            aggs += [
                F.sum(F.col(c).cast("double")).alias(f"{c}__s1"),
                F.sum(F.col(c).cast("double") * F.col(c).cast("double")).alias(
                    f"{c}__s2"
                ),
            ]
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"{c}__min"),
            F.max(F.col(c).cast("double")).alias(f"{c}__max"),
        ]
    wide = idf.groupBy(*group_cols).agg(*aggs)

    def metrics(c):
        n = F.col(f"{c}__n").cast("double")
        s1, s2 = F.col(f"{c}__s1"), F.col(f"{c}__s2")
        var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
        return F.struct(
            F.lit(c).alias("attribute"),
            F.col(f"{c}__n").alias("n"),
            (F.col("__rows__") - F.col(f"{c}__n")).cast("long").alias("n_missing"),
            F.round(s1 / n, 6).alias("mean"),
            F.round(F.when(n > 1, F.sqrt(var)), 6).alias("stddev"),
            F.col(f"{c}__min").alias("vmin"),
            F.col(f"{c}__max").alias("vmax"),
        )

    melted = wide.select(
        *group_cols, F.explode(F.array(*[metrics(c) for c in cols])).alias("m")
    )
    return melted.select(*group_cols, "m.*")


def measures_of_robustness(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    exact: bool = False,
    outlier_z: float = 3.0,
) -> DataFrame:
    """Robust dispersion battery: [attribute, median, mad, mad_scaled,
    robust_outliers] — MAD = median(|x − median|), mad_scaled =
    1.4826·MAD (the Gaussian-consistent sigma estimate), and the count
    of |x − median| > outlier_z · mad_scaled.  Unlike stddev-based
    screens, one wild value cannot inflate its own cutoff (50%
    breakdown point vs 0%).

    THREE aggregation jobs total for ALL columns together (medians →
    MADs over the learned medians → outlier counts), never a per-column
    loop; each pass is one wide agg with map-side partials.  exact=True
    uses exact percentile (the oracle gate); default approx
    (percentile_approx acc 100 — the production posture)."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else ", 100"

    # exact only: this battery makes SEVERAL passes over src (median, MAD,
    # robust-z), and in approx mode each pass would re-pay the fan_out
    # exchange for a light 1-sketch-per-column agg (measured 1.80 → 2.93 s
    # at sf0.1 when fanned); exact percentile is the heavy sort-based path
    # where the fan-out earns its exchanges.
    src = fan_out(idf.select(*cols)) if exact else idf.select(*cols)
    med_row = src.agg(
        *[F.expr(f"{fn}(`{c}`, 0.5{acc})").alias(c) for c in cols]
    ).collect()[0]
    med = {c: med_row[c] for c in cols}

    # all-null columns have median None — interpolating None into the SQL
    # would generate abs(`c` - None) and fail analysis; emit a null row
    live = [c for c in cols if med[c] is not None]
    mad = {c: None for c in cols}
    if live:
        mad_row = src.agg(
            *[
                F.expr(f"{fn}(abs(`{c}` - {med[c]!r}), 0.5{acc})").alias(c)
                for c in live
            ]
        ).collect()[0]
        mad.update({c: mad_row[c] for c in live})

    out_row = src.agg(
        *[
            F.count(
                F.when(
                    F.abs(F.col(c) - F.lit(med[c]))
                    > F.lit(float(outlier_z) * 1.4826 * (mad[c] or 0.0)),
                    1,
                )
            ).alias(c)
            for c in cols
        ]
    ).collect()[0]

    data = [
        (
            c,
            round(float(med[c]), 6) if med[c] is not None else None,
            round(float(mad[c]), 6) if mad[c] is not None else None,
            round(1.4826 * float(mad[c]), 6) if mad[c] is not None else None,
            int(out_row[c]),
        )
        for c in cols
    ]
    return local_frame(
        idf.sparkSession,
        data,
        schema="attribute string, median double, mad double, "
        "mad_scaled double, robust_outliers long",
    )
