"""Report chart-frame computations — the ENGINE side of the reference's
data_report module, with the plotting layer deliberately out of scope.

Reference parity: data_report/report_preprocessing.py —
plot_frequency :200 (per-value counts + share), plot_outlier :260
(sampled box/violin stats), plot_eventRate :303 (per-value event rate),
plot_comparative_drift :370 (per-bin source-vs-target share + % diff).
Each reference function ends in a plotly figure; here each returns the
DataFrame a chart renderer (or anything else) would consume.

Scale notes: every frame ends in a groupBy whose cardinality is the
attribute's value/bin count (bounded — these feed charts), so the global
window computing shares runs over a tiny grouped frame, never the raw
rows.  plot_outlier samples like the reference (500k default) because a
box plot never needs more.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.utils import local_frame


def frequency_frame(idf: DataFrame, col: str) -> DataFrame:
    """[<col>, count, count_pct] per value, like plot_frequency's frame
    (report_preprocessing.py:220-236) — nulls kept as a 'Missing' row."""
    grouped = (
        idf.select(F.coalesce(F.col(col).cast("string"), F.lit("Missing")).alias(col))
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("count"))
    )
    # window over the grouped frame only (≤ cardinality rows)
    total = Window.partitionBy()
    return grouped.withColumn(
        "count_pct", F.round(100.0 * F.col("count") / F.sum("count").over(total), 6)
    )


def event_rate_frame(
    idf: DataFrame, col: str, label_col: str, event_label=1
) -> DataFrame:
    """[<col>, n_event, n_nonevent, event_rate] per value
    (report_preprocessing.py:303-346: groupBy + pivot(label) + rate).
    The pivot is replaced by two conditional sums — same result, half the
    shuffle."""
    y = (F.col(label_col) == F.lit(event_label)).cast("long")
    grouped = (
        idf.select(
            F.coalesce(F.col(col).cast("string"), F.lit("Missing")).alias(col),
            y.alias("__y__"),
        )
        .groupBy(col)
        .agg(
            F.sum("__y__").alias("n_event"),
            F.sum(F.lit(1) - F.col("__y__")).alias("n_nonevent"),
        )
    )
    return grouped.withColumn(
        "event_rate",
        F.round(
            100.0 * F.col("n_event") / (F.col("n_event") + F.col("n_nonevent")), 6
        ),
    )


def outlier_frame(
    idf: DataFrame,
    list_of_cols,
    sample_size: int = 500_000,
    seed: int = 42,
    exact: bool = True,
) -> DataFrame:
    """Box/violin statistics per numeric column: [attribute, q1, median,
    q3, lower_whisker, upper_whisker, n_outliers]
    (report_preprocessing.py:260-300 ships the raw sampled column to
    pandas for px.violin; the chart only needs these seven numbers, so we
    compute them in ONE aggregation and never move row data).

    Whiskers at 1.5·IQR (Tukey); n_outliers counts points beyond them.
    Sampling mirrors the reference default (500k, seed 0→42);
    ``sample_size=None`` disables sampling entirely (exact over all
    rows — what a differential oracle should replay)."""
    from anovos_spark.core.typing import resolve_columns
    from anovos_spark.core.utils import ensure_list

    cols = resolve_columns(idf, ensure_list(list_of_cols), (), restrict_to="numerical")
    if sample_size is not None:
        total = idf.count()
        if total > sample_size:
            idf = idf.sample(False, sample_size / total, seed)
            idf = idf.localCheckpoint(eager=False)  # feeds 2 jobs
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else ", 100"
    q_aggs = [
        F.expr(f"{fn}(`{c}`, array(0.25, 0.5, 0.75){acc})").alias(c) for c in cols
    ]
    qrow = idf.agg(*q_aggs).collect()[0]
    rows = []
    out_aggs = []
    for c in cols:
        qs = qrow[c]
        if qs is None:
            continue
        q1, med, q3 = qs
        iqr = q3 - q1
        lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        rows.append((c, q1, med, q3, lo, hi))
        out_aggs.append(
            F.sum(((F.col(c) < lo) | (F.col(c) > hi)).cast("long")).alias(c)
        )
    orow = idf.agg(*out_aggs).collect()[0] if out_aggs else {}
    spark = idf.sparkSession
    return local_frame(
        spark,
        [
            (
                c,
                round(float(q1), 6),
                round(float(med), 6),
                round(float(q3), 6),
                round(float(lo), 6),
                round(float(hi), 6),
                int(orow[c] or 0),
            )
            for (c, q1, med, q3, lo, hi) in rows
        ],
        schema="attribute string, q1 double, median double, q3 double, "
        "lower_whisker double, upper_whisker double, n_outliers long",
    )


def comparative_drift_frame(
    idf_target: DataFrame, idf_source: DataFrame, col: str
) -> DataFrame:
    """[<col>, countpct_source, countpct_target, pct_diff] per value
    (report_preprocessing.py:370-430): each side's per-value share of its
    own total, full-outer joined, missing → 0, % difference of target vs
    source.  Two groupBys + one join on the tiny grouped frames."""

    def share(df: DataFrame, alias: str) -> DataFrame:
        n = df.count()
        return (
            df.select(
                F.coalesce(F.col(col).cast("string"), F.lit("Missing")).alias(col)
            )
            .groupBy(col)
            .agg(F.round(F.count(F.lit(1)) / F.lit(n), 6).alias(alias))
        )

    t = share(idf_target, "countpct_target")
    s = share(idf_source, "countpct_source")
    joined = t.join(s, col, "full_outer").fillna(
        0.0, subset=["countpct_source", "countpct_target"]
    )
    return joined.withColumn(
        "pct_diff",
        F.round(
            (
                F.try_divide(F.col("countpct_target"), F.col("countpct_source"))
                - 1.0
            )
            * 100.0,
            6,
        ),
    )


def violin_frame(
    idf: DataFrame,
    list_of_cols,
    n_bins: int = 24,
    sample_size: int = 500_000,
    seed: int = 42,
) -> DataFrame:
    """Per-attribute binned density for violin rendering: [attribute,
    bin, bin_lo, bin_hi, density] with density normalized to the
    attribute's modal bin (max = 1.0).

    The reference ships the raw sampled column to pandas for px.violin
    (report_preprocessing.py:260-300); a violin silhouette only needs
    ~two dozen histogram heights, so this computes them engine-side:
    one agg for per-attribute min/max, then melt → fixed-width bucket →
    groupBy(attribute, bin).  Output is n_cols × n_bins rows —
    driver-sized at any data scale.  Sampling mirrors outlier_frame
    (500k default): a silhouette never needs more; ``sample_size=None``
    disables sampling (exact — what a differential oracle should
    replay)."""
    from anovos_spark.core.typing import resolve_columns
    from anovos_spark.core.utils import ensure_list

    cols = resolve_columns(idf, ensure_list(list_of_cols), (), restrict_to="numerical")
    if not cols:
        spark = idf.sparkSession
        return local_frame(
            spark, [], "attribute string, bin int, bin_lo double, bin_hi double, density double"
        )
    if sample_size is not None:
        total = idf.count()
        if total > sample_size:
            idf = idf.sample(False, sample_size / total, seed)
            idf = idf.localCheckpoint(eager=False)  # feeds 2 jobs
    def _clean(c):
        # Spark orders NaN above every double, so an unguarded max()
        # returns NaN and poisons the whole span
        v = F.col(c).cast("double")
        return F.when(~F.isnan(v), v)

    mm_row = idf.agg(
        *[F.min(_clean(c)).alias(f"mn_{c}") for c in cols],
        *[F.max(_clean(c)).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    spans = {
        c: (mm_row[f"mn_{c}"], mm_row[f"mx_{c}"])
        for c in cols
        if mm_row[f"mn_{c}"] is not None and mm_row[f"mx_{c}"] is not None
    }
    if not spans:
        spark = idf.sparkSession
        return local_frame(
            spark, [], "attribute string, bin int, bin_lo double, bin_hi double, density double"
        )
    # melt only the usable columns; bin in the same expression (min/max
    # are literals by now, so the whole pass is one narrow scan + one
    # bounded groupBy — no join back)
    structs = []
    for c, (mn, mx) in spans.items():
        width = (mx - mn) or 1.0
        b = F.least(
            F.lit(n_bins - 1),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(width) * n_bins),
        ).cast("int")
        structs.append(
            F.struct(
                F.lit(c).alias("attribute"),
                F.when(
                    F.col(c).isNotNull() & ~F.isnan(F.col(c).cast("double")), b
                ).alias("bin"),
            )
        )
    long = (
        idf.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.attribute", "s.bin")
        .where(F.col("bin").isNotNull())
    )
    counts = long.groupBy("attribute", "bin").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("attribute")  # over n_cols × n_bins rows only
    mn_lit = F.create_map(
        *[x for c, (mn, mx) in spans.items() for x in (F.lit(c), F.lit(float(mn)))]
    )
    wd_lit = F.create_map(
        *[
            x
            for c, (mn, mx) in spans.items()
            for x in (F.lit(c), F.lit(float((mx - mn) or 1.0)))
        ]
    )
    return (
        counts.withColumn("density", F.round(F.col("n") / F.max("n").over(w), 6))
        .withColumn(
            "bin_lo",
            F.round(
                mn_lit[F.col("attribute")]
                + F.col("bin") * wd_lit[F.col("attribute")] / n_bins,
                6,
            ),
        )
        .withColumn(
            "bin_hi",
            F.round(
                mn_lit[F.col("attribute")]
                + (F.col("bin") + 1) * wd_lit[F.col("attribute")] / n_bins,
                6,
            ),
        )
        .select("attribute", "bin", "bin_lo", "bin_hi", "density")
    )
