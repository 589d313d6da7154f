"""Quality-check operators: detect + treat, each returning ``(odf, stats_df)``.

Reference parity: quality_checker.py (duplicate_detection :49, nullRows :152,
nullColumns :286, outlier_detection :550, IDness :1048, biasedness :1185,
invalidEntries :1342).

Architecture (Spark-first):
- Every detection is a pure Catalyst expression — no Python UDFs (the
  reference uses a row UDF for null counting :248-251 and an ArrayType UDF
  for invalid entries :1540-1611; both are rebuilt as column expressions so
  whole-stage codegen applies and 100 TB scans stay JVM-side).
- Outlier fitting runs on a bounded seeded sample (reference default
  1M rows, seed 11; quality_checker.py:569,833); application is an
  F.when clip — fully pushdown-friendly.
"""

from __future__ import annotations

import functools
import operator as pyop
import string

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anovos_spark.core.typing import resolve_columns
from anovos_spark.core.utils import fan_out, local_frame, melt


# --------------------------------------------------------------------------- #
# duplicates
# --------------------------------------------------------------------------- #
def duplicate_detection(
    idf: DataFrame, list_of_cols="all", drop_cols=(), treatment: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Detect (and optionally drop) duplicate rows over a column subset
    (reference: quality_checker.py:49-149).

    stats: [metric, value] with total/unique/duplicate row counts.
    Treatment uses dropDuplicates — at scale one hash shuffle on the subset,
    same as the reference's groupBy(cols).count().drop (quality_checker.py:122).
    """
    cols = resolve_columns(idf, list_of_cols, drop_cols)
    spark = idf.sparkSession
    agg = idf.groupBy(*cols).agg(F.count(F.lit(1)).alias("__cnt__")).agg(
        F.count(F.lit(1)).alias("unique_rows"),
        F.sum("__cnt__").alias("total_rows"),
    )
    r = agg.collect()[0]
    total = int(r["total_rows"] or 0)
    uniq = int(r["unique_rows"] or 0)
    stats = local_frame(
        spark,
        [
            ("rows_count", total),
            ("unique_rows_count", uniq),
            ("duplicate_rows", total - uniq),
        ],
        schema="metric string, value long",
    )
    odf = idf.dropDuplicates(cols) if treatment else idf
    return odf, stats


# --------------------------------------------------------------------------- #
# null rows / null columns
# --------------------------------------------------------------------------- #
def _null_count_expr(cols: list[str]):
    return functools.reduce(
        pyop.add, [F.col(c).isNull().cast("int") for c in cols], F.lit(0)
    )


def null_rows_detection(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    treatment: bool = False,
    treatment_threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame]:
    """Per-row null-column fraction vs threshold
    (reference: quality_checker.py:152-283; their Python UDF count of Nones
    is replaced with a sum of isNull casts — pure codegen).

    stats: [null_cols_count, row_count, row_pct, flagged]
    """
    cols = resolve_columns(idf, list_of_cols, drop_cols)
    n = len(cols)
    with_cnt = idf.withColumn("__nulls__", _null_count_expr(cols))
    total = idf.count()
    stats = (
        with_cnt.groupBy("__nulls__")
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(
            F.col("__nulls__").cast("long").alias("null_cols_count"),
            F.col("row_count").cast("long"),
            F.round(F.col("row_count") / F.lit(total), 6).alias("row_pct"),
            (F.col("__nulls__") >= F.lit(treatment_threshold * n)).cast("int").alias("flagged"),
        )
    )
    odf = idf
    if treatment:
        odf = with_cnt.where(
            F.col("__nulls__") < F.lit(treatment_threshold * n)
        ).drop("__nulls__")
    return odf, stats


def null_columns_detection(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    treatment: bool = False,
    treatment_method: str = "row_removal",
    treatment_threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Per-column missing stats + treatment: row_removal (dropna on flagged
    cols) or column_removal (drop cols above threshold)
    (reference: quality_checker.py:286-547; MMM/model imputation lives in
    transformers.imputation_MMM and is dispatched by the pipeline layer)."""
    from anovos_spark.operators.stats import missing_count

    cols = resolve_columns(idf, list_of_cols, drop_cols)
    stats = missing_count(idf, cols)
    odf = idf
    if treatment:
        flagged = [
            r["attribute"]
            for r in stats.where(F.col("missing_pct") > treatment_threshold).collect()
        ]
        if treatment_method == "column_removal":
            odf = idf.drop(*flagged)
        elif treatment_method == "row_removal":
            with_null = [
                r["attribute"] for r in stats.where(F.col("missing_count") > 0).collect()
            ]
            odf = idf.dropna(subset=[c for c in with_null if c not in flagged] or None)
        else:
            raise ValueError(f"unknown treatment_method {treatment_method!r}")
    return odf, stats


# --------------------------------------------------------------------------- #
# outliers
# --------------------------------------------------------------------------- #
def outlier_fit(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    detection_configs: dict | None = None,
    min_validation: int = 2,
    sample_size: int = 1_000_000,
    seed: int = 11,
    exact: bool = False,
) -> dict[str, tuple[float | None, float | None]]:
    """Fit per-column (lower, upper) outlier bounds by 3-method voting
    (reference: quality_checker.py:550-1045).

    Methods: pctile [p_low, p_high], stddev mean±kσ, IQR q1−k·IQR / q3+k·IQR.
    A point is an outlier if ≥ min_validation methods flag it, which reduces
    to threshold bounds: lower = min_validation-th largest candidate lower
    bound, upper = min_validation-th smallest candidate upper bound
    (semantics of quality_checker.py:893-906).
    Columns with p_low == p_high quantiles (near-constant) are skipped
    (reference behavior for skewed cols) → bounds (None, None).

    ONE aggregation job fits every column.  With exact=False quantiles use
    percentile_approx(0.01-equivalent accuracy) on a ≤sample_size sample.
    """
    cfg = {
        "pctile_lower": 0.05,
        "pctile_upper": 0.95,
        "stdev_k": 3.0,
        "iqr_k": 1.5,
        **(detection_configs or {}),
    }
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    fit_df = idf
    if not exact:
        total = idf.count()
        if total > sample_size:
            fit_df = idf.sample(False, sample_size / total, seed)

    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else ", 100"
    pts = f"array({cfg['pctile_lower']}, {cfg['pctile_upper']}, 0.25, 0.75){acc}"
    aggs = []
    for c in cols:
        aggs += [
            F.mean(c).alias(f"{c}__mean"),
            F.stddev(c).alias(f"{c}__sd"),
            # one sketch per column instead of one per (column, quantile)
            F.expr(f"{fn}(`{c}`, {pts})").alias(f"{c}__qs"),
        ]
    # approx mode: fan the fit agg out — the percentile sketch makes it an
    # interpreted ObjectHashAggregate and the bench-SF parquet scan is
    # ~single-task (no-op at real scale).  Exact mode stays unfanned: its
    # mean/stddev are double sums whose ulps depend on partitioning, and
    # exact is the oracle-gated path.
    src = fit_df if exact else fan_out(fit_df.select(*cols))
    row = src.agg(*aggs).collect()[0]

    bounds: dict[str, tuple[float | None, float | None]] = {}
    k = min_validation
    for c in cols:
        qs = row[f"{c}__qs"] or [None, None, None, None]
        pl, pu, c_q1, c_q3 = qs[0], qs[1], qs[2], qs[3]
        if pl is None or pu is None or pl == pu:
            bounds[c] = (None, None)
            continue
        mean, sd = row[f"{c}__mean"], row[f"{c}__sd"] or 0.0
        q1, q3 = c_q1, c_q3
        iqr = q3 - q1
        lowers = sorted(
            [pl, mean - cfg["stdev_k"] * sd, q1 - cfg["iqr_k"] * iqr], reverse=True
        )
        uppers = sorted([pu, mean + cfg["stdev_k"] * sd, q3 + cfg["iqr_k"] * iqr])
        bounds[c] = (lowers[k - 1], uppers[k - 1])
    return bounds


def outlier_detection(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    detection_side: str = "both",
    detection_configs: dict | None = None,
    min_validation: int = 2,
    treatment: bool = False,
    treatment_method: str = "value_replacement",
    pre_computed_bounds: dict | None = None,
    sample_size: int = 1_000_000,
    seed: int = 11,
    exact: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Detect/treat outliers per numeric column
    (reference: quality_checker.py:550-1045).

    stats: [attribute, lower_outliers, upper_outliers]
    treatment: value_replacement (clip), null_replacement, row_removal —
    all pure F.when expressions (the reference's pandas_udf flagger
    :937-961 is unnecessary).
    """
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    bounds = pre_computed_bounds or outlier_fit(
        idf, cols, (), detection_configs, min_validation, sample_size, seed, exact
    )

    spark = idf.sparkSession
    aggs = []
    for c in cols:
        lb, ub = bounds[c]
        lo = (
            F.sum((F.col(c) < F.lit(lb)).cast("long")) if lb is not None and detection_side in ("both", "lower") else F.lit(0)
        )
        hi = (
            F.sum((F.col(c) > F.lit(ub)).cast("long")) if ub is not None and detection_side in ("both", "upper") else F.lit(0)
        )
        aggs += [lo.alias(f"{c}__lower_outliers"), hi.alias(f"{c}__upper_outliers")]
    row = idf.agg(*aggs).collect()[0]
    stats = local_frame(
        spark,
        [
            (c, int(row[f"{c}__lower_outliers"] or 0), int(row[f"{c}__upper_outliers"] or 0))
            for c in cols
        ],
        schema="attribute string, lower_outliers long, upper_outliers long",
    )

    odf = idf
    if treatment:
        if treatment_method == "value_replacement":
            exprs = []
            for c in idf.columns:
                if c in cols and bounds.get(c, (None, None)) != (None, None):
                    lb, ub = bounds[c]
                    e = F.col(c)
                    if ub is not None and detection_side in ("both", "upper"):
                        e = F.when(F.col(c) > F.lit(ub), F.lit(ub)).otherwise(e)
                    if lb is not None and detection_side in ("both", "lower"):
                        e = F.when(F.col(c) < F.lit(lb), F.lit(lb)).otherwise(e)
                    exprs.append(e.alias(c))
                else:
                    exprs.append(F.col(c))
            odf = idf.select(*exprs)
        elif treatment_method == "null_replacement":
            exprs = []
            for c in idf.columns:
                if c in cols and bounds.get(c, (None, None)) != (None, None):
                    lb, ub = bounds[c]
                    cond = F.lit(False)
                    if ub is not None and detection_side in ("both", "upper"):
                        cond = cond | (F.col(c) > F.lit(ub))
                    if lb is not None and detection_side in ("both", "lower"):
                        cond = cond | (F.col(c) < F.lit(lb))
                    exprs.append(F.when(cond, F.lit(None)).otherwise(F.col(c)).alias(c))
                else:
                    exprs.append(F.col(c))
            odf = idf.select(*exprs)
        elif treatment_method == "row_removal":
            conds = []
            for c in cols:
                lb, ub = bounds.get(c, (None, None))
                if ub is not None and detection_side in ("both", "upper"):
                    conds.append((F.col(c) <= F.lit(ub)) | F.col(c).isNull())
                if lb is not None and detection_side in ("both", "lower"):
                    conds.append((F.col(c) >= F.lit(lb)) | F.col(c).isNull())
            if conds:
                odf = idf.where(functools.reduce(pyop.and_, conds))
        else:
            raise ValueError(f"unknown treatment_method {treatment_method!r}")
    return odf, stats


# --------------------------------------------------------------------------- #
# IDness / biasedness
# --------------------------------------------------------------------------- #
def idness_detection(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    treatment: bool = False,
    treatment_threshold: float = 0.8,
    exact: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Flag (and optionally drop) columns whose distinct/non-null ratio ≥
    threshold (reference: quality_checker.py:1048-1182).

    stats: [attribute, unique_values, IDness, flagged]
    """
    from anovos_spark.operators.stats import measures_of_cardinality

    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="discrete")
    card = measures_of_cardinality(idf, cols, exact=exact)
    stats = card.select(
        "attribute",
        "unique_values",
        "IDness",
        (F.col("IDness") >= F.lit(treatment_threshold)).cast("int").alias("flagged"),
    )
    odf = idf
    if treatment:
        flagged = [r["attribute"] for r in stats.where(F.col("flagged") == 1).collect()]
        odf = idf.drop(*flagged)
    return odf, stats


def biasedness_detection(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    treatment: bool = False,
    treatment_threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame]:
    """Flag (and optionally drop) columns whose mode covers ≥ threshold of
    non-null rows (reference: quality_checker.py:1185-1339).

    stats: [attribute, mode, mode_pct, flagged]
    """
    from anovos_spark.operators.stats import measures_of_central_tendency

    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="discrete")
    ct = measures_of_central_tendency(idf, cols)
    stats = ct.where(F.col("mode").isNotNull()).select(
        "attribute",
        "mode",
        "mode_pct",
        (F.col("mode_pct") >= F.lit(treatment_threshold)).cast("int").alias("flagged"),
    )
    odf = idf
    if treatment:
        flagged = [r["attribute"] for r in stats.where(F.col("flagged") == 1).collect()]
        odf = idf.drop(*flagged)
    return odf, stats


# --------------------------------------------------------------------------- #
# invalid entries
# --------------------------------------------------------------------------- #
NULL_SYNONYMS = [
    "",
    " ",
    "nan",
    "none",
    "null",
    "na",
    "inf",
    "n/a",
    "not defined",
    "undefined",
    "blank",
]

# RE2-safe equivalents of the reference's backreference regexes (DuckDB's
# RE2 has no backrefs, and staying backref-free keeps Spark/oracle parity):
# ≥3 repeated alnum chars as a whole word  (reference: \b([a-zA-Z0-9])\1\1+\b,
# quality_checker.py:1554)
_REPEAT_RE = r"\b(" + "|".join(f"{ch}{{3,}}" for ch in string.ascii_lowercase + string.digits) + r")\b"
# ≥3 consecutive ascending ordinals as a substring of a word (reference
# charcode walk, quality_checker.py:1559-1568) — expanded to triple alternation
_seqs = [string.ascii_lowercase[i : i + 3] for i in range(24)] + [
    string.digits[i : i + 3] for i in range(8)
]
_CONSEC_RE = r"(" + "|".join(_seqs) + r")"
_SPECIAL_RE = r"^[^a-z0-9\s]+$"
# ONE combined alternation per column: the four rule families (null-synonym
# vocabulary, special-chars-only, ≥3 repeats, ordinal runs) fire in a
# single regex-engine pass instead of isin + 3 rlike evaluations per value
# — same union semantics, measured ~2× on the detection battery.
_INVALID_RE = (
    r"^(" + "|".join(s for s in NULL_SYNONYMS if s.strip() or s == "") + r")$"
    + "|" + _SPECIAL_RE
    + "|" + _REPEAT_RE
    + "|" + _CONSEC_RE
)


def invalid_entries_detection(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    treatment: bool = False,
    treatment_method: str = "null_replacement",
) -> tuple[DataFrame, DataFrame]:
    """Detect invalid entries in discrete columns: null-synonym vocabulary,
    special-chars-only values, ≥3 repeated chars, ≥3 consecutive ordinal
    chars (reference: quality_checker.py:1342-1711).

    stats: [attribute, invalid_count, invalid_pct].  Detection is one agg
    pass of rlike expressions (the reference uses a persisted ArrayType UDF
    over all columns, :1540-1613 — pure Catalyst here).
    """
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="discrete")

    def invalid_cond(c: str):
        v = F.lower(F.trim(F.col(c).cast("string")))
        return v.rlike(_INVALID_RE)

    aggs = [F.count(F.lit(1)).alias("__total__")]
    for c in cols:
        aggs.append(
            F.sum(
                (F.col(c).isNotNull() & invalid_cond(c)).cast("long")
            ).alias(f"{c}__invalid_count")
        )
    wide = idf.agg(*aggs)
    for c in cols:
        wide = wide.withColumn(
            f"{c}__invalid_pct",
            F.round(F.col(f"{c}__invalid_count") / F.col("__total__"), 6),
        )
    from anovos_spark.operators.stats import _stack_wide_row

    stats = _stack_wide_row(
        wide, cols, ["invalid_count", "invalid_pct"], {"invalid_count": "long"}
    )

    odf = idf
    if treatment:
        if treatment_method != "null_replacement":
            raise ValueError("only null_replacement treatment implemented")
        exprs = []
        for c in idf.columns:
            if c in cols:
                exprs.append(
                    F.when(invalid_cond(c), F.lit(None)).otherwise(F.col(c)).alias(c)
                )
            else:
                exprs.append(F.col(c))
        odf = idf.select(*exprs)
    return odf, stats
