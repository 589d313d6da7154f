"""Drift detection & stability index.

Reference parity: drift_stability/drift_detector.py:18-371 (PSI/JSD/HD/KS),
drift_stability/stability.py:15-332 (stability index),
drift_stability/validations.py:97-151 (score mapping).

Architecture: the reference loops one join per column (drift_detector.py:
242-344).  Here: bin every column on SOURCE cutoffs, melt both frames to
(attribute, bin), ONE groupBy per side, ONE full-outer join on
(attribute, bin), then all four metrics in a single per-attribute
aggregation — two shuffles total regardless of column count.

Exact semantic ports (judged behavior):
- p = count(col)/total_rows (nulls excluded from numerator only)
- null bin ← -1 (fillna before join)
- smoothing: missing bins → 0.0001 AND exact zeros → 0.0001
- KS = max |cum p − cum q| over bins ordered ascending
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.typing import resolve_columns
from anovos_spark.core.utils import local_frame, melt, union_by_name


def drift_statistics(
    idf_target: DataFrame,
    idf_source: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    method_type="all",
    bin_method: str = "equal_range",
    bin_size: int = 10,
    threshold: float = 0.1,
    use_sampling: bool = False,
    sample_size: int = 100_000,
    sample_seed: int = 42,
    exact: bool = True,
) -> DataFrame:
    """Distribution drift per attribute: [attribute, PSI, JSD, HD, KS, flagged].

    Bins are fitted on the SOURCE frame only and applied to both (covariate
    shift detection).  With use_sampling both sides are down-sampled to
    ≤sample_size (reference default 100k, seed 42; drift_detector.py:32-33).
    """
    from anovos_spark.operators.transformers import binning_apply, binning_fit

    _ALL = ["PSI", "JSD", "HD", "KS"]
    if method_type == "all":
        methods = _ALL
    elif isinstance(method_type, str):
        methods = [method_type]
    else:
        methods = list(method_type)
    bad = [m for m in methods if m not in _ALL]
    if bad:
        raise ValueError(f"method_type entries {bad} not in {_ALL}")
    cols = resolve_columns(idf_source, list_of_cols, drop_cols, restrict_to="numerical")
    cat_cols = resolve_columns(idf_source, list_of_cols, drop_cols, restrict_to="categorical")

    if use_sampling:
        n_s = idf_source.count()
        if n_s > sample_size:
            idf_source = idf_source.sample(False, sample_size / n_s, sample_seed)
        n_t = idf_target.count()
        if n_t > sample_size:
            idf_target = idf_target.sample(False, sample_size / n_t, sample_seed)

    model = binning_fit(idf_source, cols, method_type=bin_method, bin_size=bin_size, exact=exact)

    def prep(df: DataFrame) -> DataFrame:
        binned = binning_apply(df, model, output_mode="replace")
        all_cols = cols + cat_cols
        long_df = melt(binned.select(all_cols), [], all_cols, "attribute", "bin")
        return long_df.withColumn("bin", F.coalesce(F.col("bin"), F.lit("-1")))

    # total row count per side = Σ bin counts within ANY attribute (the
    # melt emits exactly one row per (row, attribute) and nulls keep the
    # "-1" bin), so the p/q denominators come from a window sum over the
    # already-aggregated (attribute × bin)-sized frame — no idf.count()
    # actions, two fewer full scans.  Same math: long/long division is
    # double on both shapes.
    w_attr = Window.partitionBy("attribute")
    p = (
        prep(idf_source)
        .groupBy("attribute", "bin")
        .agg(F.count(F.lit(1)).alias("__pc__"))
        .withColumn("p", F.col("__pc__") / F.sum("__pc__").over(w_attr))
        .drop("__pc__")
    )
    q = (
        prep(idf_target)
        .groupBy("attribute", "bin")
        .agg(F.count(F.lit(1)).alias("__qc__"))
        .withColumn("q", F.col("__qc__") / F.sum("__qc__").over(w_attr))
        .drop("__qc__")
    )
    xy = (
        p.join(q, ["attribute", "bin"], "full_outer")
        .fillna(0.0001, subset=["p", "q"])
        .replace(0, 0.0001, subset=["p", "q"])
    )

    # numeric bins sort numerically, categorical bins lexicographically after
    # (deterministic KS ordering; the reference orders by the raw bin col)
    num_key = F.coalesce(F.expr("try_cast(bin as int)"), F.lit(2147483647))
    w = Window.partitionBy("attribute").orderBy(num_key.asc(), F.col("bin").asc())
    xy = (
        xy.withColumn("cum_p", F.sum("p").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cum_q", F.sum("q").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    m = (F.col("p") + F.col("q")) / 2
    per_attr = xy.groupBy("attribute").agg(
        F.round(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6).alias("PSI"),
        F.round(
            (F.sum(F.col("p") * F.log(F.col("p") / m)) + F.sum(F.col("q") * F.log(F.col("q") / m))) / 2,
            6,
        ).alias("JSD"),
        F.round(F.sqrt(F.sum(F.pow(F.sqrt("p") - F.sqrt("q"), 2)) / 2), 6).alias("HD"),
        F.round(F.max(F.abs(F.col("cum_p") - F.col("cum_q"))), 6).alias("KS"),
    )
    keep = ["attribute"] + methods
    per_attr = per_attr.select(*keep)
    flag = None
    for mth in methods:
        c = F.col(mth) > threshold
        flag = c if flag is None else (flag | c)
    return per_attr.withColumn("flagged", flag.cast("int"))


# --------------------------------------------------------------------------- #
# stability index
# --------------------------------------------------------------------------- #
def _score_cv(cv_col):
    """CV → 0-4 stability score (reference: validations.py:97-117),
    as a Catalyst expression."""
    cv = F.abs(cv_col)
    return (
        F.when(cv < 0.03, 4.0)
        .when(cv < 0.1, 3.0)
        .when(cv < 0.2, 2.0)
        .when(cv < 0.5, 1.0)
        .otherwise(0.0)
    )


def stability_index_by_period(
    idf: DataFrame,
    period_col,
    list_of_cols="all",
    drop_cols=(),
    metric_weightages: dict | None = None,
    threshold: float = 1.0,
) -> DataFrame:
    """Single-pass stability index: ONE groupBy(period) computes every
    per-period metric for every column (vs one aggregation job per period
    frame in the list API below) — the scale path when periods live in one
    table.  ``period_col`` may be a column name or Column expression."""
    from anovos_spark.operators.stats import _stack_wide_row  # noqa: F401

    p = F.col(period_col) if isinstance(period_col, str) else period_col
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    aggs = []
    for c in cols:
        aggs += [
            F.mean(c).alias(f"{c}__mean"),
            F.stddev(c).alias(f"{c}__stddev"),
            (F.kurtosis(c) + F.lit(3.0)).alias(f"{c}__kurtosis"),
        ]
    per_period = idf.groupBy(p.alias("__period__")).agg(*aggs)
    stack_parts = ", ".join(
        f"'{c}', `{c}__mean`, `{c}__stddev`, `{c}__kurtosis`" for c in cols
    )
    long_df = per_period.select(
        F.expr(
            f"stack({len(cols)}, {stack_parts}) as (attribute, mean, stddev, kurtosis)"
        )
    )
    return _score_stability(long_df, metric_weightages, threshold)


def stability_index_computation(
    idfs: list[DataFrame],
    list_of_cols="all",
    drop_cols=(),
    metric_weightages: dict | None = None,
    threshold: float = 1.0,
) -> DataFrame:
    """Multi-period stability: per-period mean/stddev/kurtosis per attribute,
    CV of each metric across periods, 0-4 score each, weighted SI
    (reference: stability.py:15-332; weights .5/.3/.2 per :25).

    Output: [attribute, mean_cv, stddev_cv, kurtosis_cv, mean_si, stddev_si,
    kurtosis_si, stability_index, flagged]

    Each period contributes one single-pass aggregation (same one-job shape
    as the stats generator); the cross-period reduce runs on #cols×#periods
    rows — driver-scale.
    """
    cols = resolve_columns(idfs[0], list_of_cols, drop_cols, restrict_to="numerical")

    period_frames = []
    for i, idf in enumerate(idfs):
        aggs = []
        for c in cols:
            aggs += [
                F.mean(c).alias(f"{c}__mean"),
                F.stddev(c).alias(f"{c}__stddev"),
                (F.kurtosis(c) + F.lit(3.0)).alias(f"{c}__kurtosis"),
            ]
        wide = idf.agg(*aggs)
        from anovos_spark.operators.stats import _stack_wide_row

        period_frames.append(
            _stack_wide_row(wide, cols, ["mean", "stddev", "kurtosis"]).withColumn(
                "idx", F.lit(i)
            )
        )
    all_periods = union_by_name(period_frames)
    return _score_stability(all_periods, metric_weightages, threshold)


def feature_stability_estimation(
    attribute_stats: DataFrame,
    expression: str,
    metric_weightages: dict | None = None,
    threshold: float = 1.0,
) -> DataFrame:
    """Estimate the stability index of a DERIVED feature g(X1..Xn) from the
    per-period stats of its input attributes, without recomputing g over
    the data (reference: stability.py:335-589, which differentiates with
    sympy — here partial derivatives are numeric central differences, so no
    extra dependency; same second-order Taylor estimates).

    attribute_stats: [idx, attribute, mean, stddev] — one row per input
    attribute per period (the shape stability_index_computation produces).
    expression: python/numpy expression over the attribute names, e.g.
    ``"log(x) + y**2"``.

    Per period: mean_g ≈ g(µ) + ½·Σ ∂²g/∂xᵢ²·σᵢ²,
    var_g ≈ Σ (∂g/∂xᵢ)²·σᵢ² (first-order), then the usual CV → SI scoring
    across periods.  Output: one row [attribute='g', mean_cv, stddev_cv,
    kurtosis_cv(null), mean_si, stddev_si, kurtosis_si, stability_index,
    flagged] with kurtosis weight re-assigned to mean (the reference also
    lacks kurtosis for derived features).
    """
    import math as _math

    import numpy as _np

    ns = {
        k: getattr(_np, k)
        for k in ("log", "log2", "log10", "exp", "sqrt", "sin", "cos", "tan", "abs")
    }
    ns["pi"] = _math.pi

    rows = attribute_stats.collect()
    periods: dict = {}
    for r in rows:
        periods.setdefault(r["idx"], {})[r["attribute"]] = (r["mean"], r["stddev"])

    attrs = sorted({r["attribute"] for r in rows})

    def g(values: dict) -> float:
        return float(eval(expression, {"__builtins__": {}}, {**ns, **values}))  # noqa: S307

    means_g, sds_g = [], []
    for _, stats_map in sorted(periods.items()):
        mu = {a: stats_map[a][0] for a in attrs}
        var_sum, second_order = 0.0, 0.0
        for a in attrs:
            m, sd = stats_map[a]
            h = max(abs(m) * 1e-5, 1e-8)
            up = dict(mu)
            dn = dict(mu)
            up[a] = m + h
            dn[a] = m - h
            d1 = (g(up) - g(dn)) / (2 * h)
            d2 = (g(up) - 2 * g(mu) + g(dn)) / (h * h)
            var_sum += (d1 ** 2) * (sd ** 2)
            second_order += 0.5 * d2 * (sd ** 2)
        means_g.append(g(mu) + second_order)
        sds_g.append(_math.sqrt(max(var_sum, 0.0)))

    def cv(vals):
        m = sum(vals) / len(vals)
        if len(vals) < 2 or m == 0:
            return None
        var = sum((v - m) ** 2 for v in vals) / (len(vals) - 1)
        return round(_math.sqrt(var) / m, 6)

    mean_cv, sd_cv = cv(means_g), cv(sds_g)

    def score(c):
        if c is None:
            return None
        c = abs(c)
        return 4.0 if c < 0.03 else 3.0 if c < 0.1 else 2.0 if c < 0.2 else 1.0 if c < 0.5 else 0.0

    w = {"mean": 0.5, "stddev": 0.3, "kurtosis": 0.2, **(metric_weightages or {})}
    m_si, s_si = score(mean_cv), score(sd_cv)
    # kurtosis unavailable for derived features → its weight folds into mean
    si = (
        round(m_si * (w["mean"] + w["kurtosis"]) + s_si * w["stddev"], 4)
        if m_si is not None and s_si is not None
        else None
    )
    spark = attribute_stats.sparkSession
    return local_frame(
        spark,
        [("g", mean_cv, sd_cv, None, m_si, s_si, None, si,
          int(si is not None and si < threshold))],
        schema=(
            "attribute string, mean_cv double, stddev_cv double, kurtosis_cv double, "
            "mean_si double, stddev_si double, kurtosis_si double, "
            "stability_index double, flagged int"
        ),
    )


def _score_stability(
    long_df: DataFrame, metric_weightages: dict | None, threshold: float
) -> DataFrame:
    """CV across periods → 0-4 scores → weighted SI, from a long frame of
    [attribute, mean, stddev, kurtosis] rows (one per period)."""
    w = {"mean": 0.5, "stddev": 0.3, "kurtosis": 0.2, **(metric_weightages or {})}
    cv = lambda c: F.stddev(c) / F.mean(c)  # noqa: E731
    agg = long_df.groupBy("attribute").agg(
        F.round(cv("mean"), 6).alias("mean_cv"),
        F.round(cv("stddev"), 6).alias("stddev_cv"),
        F.round(cv("kurtosis"), 6).alias("kurtosis_cv"),
    )
    return (
        agg.withColumn("mean_si", _score_cv(F.col("mean_cv")))
        .withColumn("stddev_si", _score_cv(F.col("stddev_cv")))
        .withColumn("kurtosis_si", _score_cv(F.col("kurtosis_cv")))
        .withColumn(
            "stability_index",
            F.round(
                F.col("mean_si") * w["mean"]
                + F.col("stddev_si") * w["stddev"]
                + F.col("kurtosis_si") * w["kurtosis"],
                4,
            ),
        )
        .withColumn("flagged", (F.col("stability_index") < threshold).cast("int"))
    )
