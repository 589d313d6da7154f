"""Association / target evaluators: correlation, IV, IG.

Reference parity: association_evaluator.py (correlation_matrix :38-139,
IV_calculation :253-424, IG_calculation :427-586).  Variable clustering
(VarClusHi port) is tracked separately.

Architecture: the reference loops one Spark job per attribute for IV/IG
(association_evaluator.py:365-411, 540-573 — an O(cols) job anti-pattern,
SURVEY §4).  Here both are batched: bin numeric attrs, melt everything to
(attribute, value, label), ONE groupBy(attribute, value) then per-attribute
window totals — a single shuffle for the whole battery.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.typing import resolve_columns
from anovos_spark.core.utils import local_frame, melt


def correlation_matrix(
    idf: DataFrame, list_of_cols="all", drop_cols=(), wide_threshold: int = 50
) -> DataFrame:
    """Pairwise Pearson correlations, long format [attribute1, attribute2, corr]
    (reference: association_evaluator.py:38-139 uses VectorAssembler +
    ml.stat.Correlation — replaced by F.corr pairs in ONE aggregation job,
    which also skips the NaN-prone assemble/drop step).

    Above ``wide_threshold`` columns the battery switches to
    ``ml.stat.Correlation`` (one vectorized co-moment pass): the pairwise
    expression count grows O(p²) and past ~50 columns (≥1,225 co-moment
    expressions) codegen compile time and the single giant aggregate
    dominate, while the ml path computes the same Gram accumulation in
    one Breeze-backed pass.  Rows with any null are dropped on the ml
    path (its documented semantics), matching the reference's
    assemble/drop behavior; the F.corr path handles nulls pairwise."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    from anovos_spark.core.utils import fan_out

    if len(cols) > wide_threshold:
        from pyspark.ml.functions import array_to_vector
        from pyspark.ml.stat import Correlation

        vecs = fan_out(
            idf.select(cols).dropna()
        ).select(
            array_to_vector(F.array(*[F.col(c).cast("double") for c in cols])).alias(
                "__v__"
            )
        )
        m = Correlation.corr(vecs, "__v__").head()[0].toArray()
        data = []
        for i, a in enumerate(cols):
            for j, b in enumerate(cols):
                v = float(m[i][j])
                data.append((a, b, 1.0 if i == j else round(v, 6)))
        return local_frame(
            idf.sparkSession, data, "attribute1 string, attribute2 string, corr double"
        )

    pairs = list(itertools.combinations(cols, 2))
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"{a}|{b}") for a, b in pairs
    ]
    row = fan_out(idf.select(*cols)).agg(*aggs).collect()[0] if aggs else {}
    data = [(c, c, 1.0) for c in cols]
    for a, b in pairs:
        v = row[f"{a}|{b}"]
        data.append((a, b, v))
        data.append((b, a, v))
    return local_frame(
        idf.sparkSession, data, "attribute1 string, attribute2 string, corr double"
    )


def _encoded_long(
    idf: DataFrame,
    list_of_cols,
    drop_cols,
    label_col: str,
    event_label,
    bin_method: str,
    bin_size: int,
    exact: bool,
) -> DataFrame:
    """Shared IV/IG preprocessing: bin numeric attrs, keep discrete as-is,
    melt to (attribute, value, y)."""
    from anovos_spark.operators.transformers import binning_apply, binning_fit

    cols = resolve_columns(idf, list_of_cols, drop_cols)
    cols = [c for c in cols if c != label_col]
    num_cols = resolve_columns(idf, cols, restrict_to="numerical")
    cat_cols = [c for c in cols if c not in num_cols]

    df = idf
    if num_cols:
        model = binning_fit(df, num_cols, method_type=bin_method, bin_size=bin_size, exact=exact)
        df = binning_apply(df, model, output_mode="replace")
    y = (F.col(label_col) == F.lit(event_label)).cast("int")
    df = df.withColumn("__y__", y)
    return melt(
        df.select(num_cols + cat_cols + ["__y__"]),
        ["__y__"],
        num_cols + cat_cols,
        "attribute",
        "value",
    )


def iv_calculation(
    idf: DataFrame,
    label_col: str,
    event_label=1,
    list_of_cols="all",
    drop_cols=(),
    bin_method: str = "equal_frequency",
    bin_size: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Information Value per attribute vs a binary label
    (reference: association_evaluator.py:253-424).

    Semantics ported exactly: woe = ln(nonevent_pcr/event_pcr); when a bin
    is pure the 0.5-smoothed ratio is used (reference :391-403);
    iv = Σ woe·(nonevent_pcr − event_pcr).  Output [attribute, iv] round 6.
    """
    long_df = _encoded_long(
        idf, list_of_cols, drop_cols, label_col, event_label, bin_method, bin_size, exact
    )
    agg = long_df.groupBy("attribute", "value").agg(
        F.sum(F.lit(1) - F.col("__y__")).alias("label_0"),
        F.sum("__y__").alias("label_1"),
    )
    w = Window.partitionBy("attribute")
    agg = (
        agg.withColumn("l0_tot", F.sum("label_0").over(w))
        .withColumn("l1_tot", F.sum("label_1").over(w))
        # try_divide: a label class that never occurs must yield null IV,
        # not an ANSI division-by-zero error
        .withColumn("event_pcr", F.try_divide(F.col("label_1"), F.col("l1_tot")))
        .withColumn("nonevent_pcr", F.try_divide(F.col("label_0"), F.col("l0_tot")))
        .withColumn(
            "woe",
            F.when(
                (F.col("nonevent_pcr") != 0) & (F.col("event_pcr") != 0),
                F.log(F.col("nonevent_pcr") / F.col("event_pcr")),
            ).otherwise(
                F.log(
                    F.try_divide(
                        F.try_divide(F.col("label_0") + 0.5, F.col("l0_tot")),
                        F.try_divide(F.col("label_1") + 0.5, F.col("l1_tot")),
                    )
                )
            ),
        )
        .withColumn("iv_single", F.col("woe") * (F.col("nonevent_pcr") - F.col("event_pcr")))
    )
    return (
        agg.groupBy("attribute")
        .agg(F.round(F.sum("iv_single"), 6).alias("iv"))
    )


def ig_calculation(
    idf: DataFrame,
    label_col: str,
    event_label=1,
    list_of_cols="all",
    drop_cols=(),
    bin_method: str = "equal_frequency",
    bin_size: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Information Gain per attribute (entropy decomposition, log2)
    (reference: association_evaluator.py:427-586).  Pure bins contribute 0
    (the reference's log2(0)→null→sum-skip has the same numeric effect).
    Output [attribute, ig] round 6."""
    long_df = _encoded_long(
        idf, list_of_cols, drop_cols, label_col, event_label, bin_method, bin_size, exact
    )
    total = idf.agg(
        F.avg((F.col(label_col) == F.lit(event_label)).cast("double")).alias("p")
    ).collect()[0]["p"]
    if total is None or total in (0.0, 1.0):
        # None: zero rows — entropy 0 lets the empty frame flow through
        total_entropy = 0.0
    else:
        import math

        total_entropy = -(total * math.log2(total) + (1 - total) * math.log2(1 - total))

    agg = long_df.groupBy("attribute", "value").agg(
        F.sum("__y__").alias("event_count"),
        F.count(F.lit(1)).alias("total_count"),
    )
    w = Window.partitionBy("attribute")
    p = F.col("event_count") / F.col("total_count")
    seg = F.col("total_count") / F.sum("total_count").over(w)
    agg = agg.withColumn(
        "entropy",
        F.when(
            (p > 0) & (p < 1),
            -seg * (p * F.log2(p) + (F.lit(1) - p) * F.log2(F.lit(1) - p)),
        ).otherwise(F.lit(0.0)),
    )
    return (
        agg.groupBy("attribute")
        .agg(F.round(F.lit(total_entropy) - F.sum("entropy"), 6).alias("ig"))
    )
