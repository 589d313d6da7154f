"""Ingest ETL row/column operators.

Reference parity: select/delete/rename/recast/concatenate/join/sample
(reference: data_ingest/data_ingest.py:119-367, data_ingest/data_sampling.py:8-149).
All pure DataFrame transformations — Catalyst prunes/pushes through them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anovos_spark.core.utils import ensure_list, local_frame, pairwise_reduce

JOIN_TYPES = {"inner", "full", "left", "right", "left_semi", "left_anti", "cross", "outer"}


def select_column(idf: DataFrame, list_of_cols) -> DataFrame:
    """Projection (reference: data_ingest.py:239-274)."""
    return idf.select(*ensure_list(list_of_cols))


def delete_column(idf: DataFrame, list_of_cols) -> DataFrame:
    """Anti-projection (reference: data_ingest.py:201-236)."""
    return idf.drop(*ensure_list(list_of_cols))


def rename_column(idf: DataFrame, list_of_cols, list_of_newcols) -> DataFrame:
    """Positional rename (reference: data_ingest.py:277-319)."""
    olds, news = ensure_list(list_of_cols), ensure_list(list_of_newcols)
    if len(olds) != len(news):
        raise ValueError("rename_column: old/new lists differ in length")
    mapping = dict(zip(olds, news))
    return idf.select(*[F.col(c).alias(mapping.get(c, c)) for c in idf.columns])


def recast_column(idf: DataFrame, list_of_cols, list_of_dtypes) -> DataFrame:
    """Cast a list of columns (reference: data_ingest.py:322-367).

    Single select (one projection node) instead of chained withColumn.
    """
    cols, dtypes = ensure_list(list_of_cols), ensure_list(list_of_dtypes)
    if len(cols) != len(dtypes):
        raise ValueError("recast_column: cols/dtypes lists differ in length")
    mapping = dict(zip(cols, dtypes))

    def cast(c: str):
        # 'timestamp_nanos': nanosecond-precision source column.  Older
        # Sparks (nanosAsLong conf) deliver raw nano longs — truncate to
        # micros, the same truncation DuckDB applies loading nanos.
        # Spark >= 4.1 reads TIMESTAMP(NANOS) parquet natively as
        # TIMESTAMP_NTZ (already micro-truncated) — just cast.
        if mapping[c] == "timestamp_nanos":
            if isinstance(idf.schema[c].dataType, T.LongType):
                return F.timestamp_micros(F.expr(f"`{c}` div 1000")).alias(c)
            return F.col(c).cast("timestamp").alias(c)
        return F.col(c).cast(mapping[c]).alias(c)

    return idf.select(
        *[cast(c) if c in mapping else F.col(c) for c in idf.columns]
    )


def concatenate_dataset(*idfs: DataFrame, method_type: str = "name") -> DataFrame:
    """Multi-frame union by position or by name with a balanced tree
    (reference: data_ingest.py:119-152)."""
    if method_type == "name":
        base_cols = idfs[0].columns
        frames = [df.select(*base_cols) for df in idfs]
    else:
        frames = list(idfs)
    return pairwise_reduce(DataFrame.union, frames)


def join_dataset(
    *idfs: DataFrame,
    join_cols,
    join_type: str = "inner",
    broadcast_smaller: bool = False,
) -> DataFrame:
    """N-way equi-join on shared key columns, balanced pairwise tree
    (reference: data_ingest.py:155-198).

    At scale: Catalyst/AQE picks broadcast vs sort-merge per pair; pass
    broadcast_smaller=True to force-broadcast every right side when the
    caller knows the dims are small (cuts N-1 shuffles to 0).
    """
    join_cols = ensure_list(join_cols)
    if join_type not in JOIN_TYPES:
        raise ValueError(f"join_type must be one of {sorted(JOIN_TYPES)}")

    def _join(a: DataFrame, b: DataFrame) -> DataFrame:
        right = F.broadcast(b) if broadcast_smaller else b
        return a.join(right, join_cols, join_type)

    return pairwise_reduce(_join, list(idfs))


def join_dataset_auto(
    left: DataFrame,
    right: DataFrame,
    join_cols,
    join_type: str = "inner",
    skew_threshold: float = 50.0,
    salt_buckets: int = 16,
    sample_fraction: float | None = None,
    broadcast_smaller: bool = False,
):
    """Skew-aware join: consult ``key_skew_report`` on the left side's
    composite join key and pick the physical strategy — the pre-flight
    advisor SCALE.md describes, wired as one call (and as the YAML
    pipeline's ``join_dataset: {skew: auto}`` mode).

    If the hottest key does more than ``skew_threshold``× the average
    key's work (the straggler profile AQE's skew split often can't fix
    when one key exceeds a whole partition), the join runs salted;
    otherwise the plain Catalyst/AQE join.  ``sample_fraction`` bounds
    the probe's cost on huge inputs (skew ratios of hot keys survive
    uniform sampling).  Salting supports inner/left; other join types
    always take the plain path.

    Returns ``(odf, decision)`` where decision carries the skew report
    row plus the chosen strategy, so pipelines can log the reasoning.
    """
    from anovos_spark.operators.stats import key_skew_report

    join_cols = ensure_list(join_cols)
    probe = left.select(
        F.concat_ws(
            "\x01", *[F.col(c).cast("string") for c in join_cols]
        ).alias("__joinkey__")
    )
    if sample_fraction:
        probe = probe.sample(fraction=float(sample_fraction), seed=42)
    rows = key_skew_report(probe, ["__joinkey__"]).collect()
    rep = rows[0].asDict() if rows else {}
    ratio = rep.get("skew_ratio")
    saltable = join_type in ("inner", "left")
    decision = dict(rep)
    if ratio is not None and ratio > skew_threshold and saltable:
        decision["strategy"] = f"salted[{salt_buckets}]"
        return salted_join(left, right, join_cols, join_type, salt_buckets), decision
    decision["strategy"] = "plain"
    return (
        join_dataset(
            left,
            right,
            join_cols=join_cols,
            join_type=join_type,
            broadcast_smaller=broadcast_smaller,
        ),
        decision,
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    join_cols,
    join_type: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side's key with a random
    bucket and explode the small side across all buckets, so one hot key
    spreads over ``salt_buckets`` tasks instead of one straggler.

    Use when AQE's skew-join splitting isn't enough (e.g. a single key
    holding >> one partition's worth of rows).  The small side is
    replicated ×salt_buckets — keep it dimension-sized.
    """
    join_cols = ensure_list(join_cols)
    if join_type not in ("inner", "left"):
        raise ValueError("salted_join supports inner|left")
    salted_big = big.withColumn(
        "__salt__", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    salted_small = small.withColumn(
        "__salt__", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(salted_small, join_cols + ["__salt__"], join_type)
    return out.drop("__salt__")


def data_sample(
    idf: DataFrame,
    strata_cols=None,
    fraction: float = 0.1,
    method_type: str = "random",
    stratified_type: str = "population",
    seed: int = 12,
    strata_counts: dict | None = None,
) -> DataFrame:
    """Random or stratified sampling
    (reference: data_ingest/data_sampling.py:8-149; seed 12 per :20).

    ``stratified_type='population'`` is proportionate allocation: every
    stratum sampled at ``fraction``.  ``'balanced'`` is the reference's
    optimum-allocation mode (data_sampling.py:58-63, 128-146): each
    stratum's fraction becomes ``fraction * smallest_count /
    stratum_count``, so every stratum yields the SAME expected sample
    size (``fraction × |smallest stratum|``).

    Both modes use sampleBy on a concatenated strata key — one bounded
    groupBy count (strata are dimension-sized by contract) plus one
    sampling scan, no per-stratum jobs.

    ``strata_counts``: precomputed ``{strata key: row count}`` map keyed
    exactly like the internal ``concat_ws(\\u0001, casts)`` key.  Callers
    that already aggregated the strata (e.g. to derive validation bands)
    pass it to skip this function's own groupBy-collect pass; same
    counts => the identical sample.
    """
    if method_type == "random":
        return idf.sample(withReplacement=False, fraction=fraction, seed=seed)
    if stratified_type not in ("population", "balanced"):
        raise ValueError("stratified_type must be 'population' or 'balanced'")
    strata_cols = ensure_list(strata_cols)
    if not strata_cols:
        raise ValueError("stratified sampling requires strata_cols")
    keyed = idf.withColumn(
        "__strata__", F.concat_ws("\u0001", *[F.col(c).cast("string") for c in strata_cols])
    )
    counts = strata_counts if strata_counts is not None else {
        r["__strata__"]: r["n"]
        for r in keyed.groupBy("__strata__").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if stratified_type == "balanced":
        smallest = min(counts.values())
        fractions = {s: min(1.0, fraction * smallest / n) for s, n in counts.items()}
    else:
        fractions = {s: fraction for s in counts}
    return keyed.sampleBy("__strata__", fractions, seed=seed).drop("__strata__")


def hash_split(
    idf: DataFrame,
    on_cols,
    fractions: dict,
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic content-stable train/val/test assignment — the
    training-pipeline split (no reference analogue; data_sampling.py only
    draws one random sample).

    Each row's fold is a pure function of its key(s) and the seed:
    ``substring(md5(key || '#' || seed), 1, 4)`` compared against
    cumulative hex thresholds (4 hex digits = 65536 buckets, so realized
    fractions are within 1/65536 of the request).  Properties that matter
    at scale:

    - zero shuffles, zero state: a projection inside the scan's codegen
      stage; re-running on different cluster sizes, partitionings, or
      engines gives identical assignments (lexicographic compare of
      fixed-length lowercase hex == numeric compare, and md5 is
      bit-stable everywhere — the expression is portable SQL, which is
      what the DuckDB oracle checks).
    - leakage-safe grouping for free: pass the GROUP key (e.g. the
      near-dup component id from dedup_components) as ``on_cols`` and
      every member lands in the same fold.
    - adding a fold re-slices thresholds but keeps earlier boundaries
      stable only if appended — document order matters, dict order is
      the fold order.
    """
    fracs = list(fractions.items())
    if not fracs or abs(sum(f for _, f in fracs) - 1.0) > 1e-9:
        raise ValueError("fractions must be a non-empty dict summing to 1.0")
    on_cols = ensure_list(on_cols)
    key = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in on_cols], F.lit(f"#{seed}")
    )
    bucket = F.substring(F.md5(key), 1, 4)
    expr = None
    cum = 0.0
    for name, frac in fracs[:-1]:
        cum += frac
        thr = format(int(cum * 65536), "04x")
        cond = bucket < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = fracs[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return idf.withColumn(split_col, expr)


def attribute_type_recommendation(
    idf: DataFrame,
    cardinality_threshold: int = 20,
    numeric_parse_rate: float = 0.95,
    exact: bool = False,
) -> DataFrame:
    """Recommend semantic-type flips per column
    (reference: data_ingest/data_ingest.py:370-533).

    [attribute, current_type, recommended_type, distinct_count,
    numeric_rate] — a numeric column with <= cardinality_threshold distinct
    values reads as categorical (it is an encoded label); a string column
    whose non-null values parse as numbers at >= numeric_parse_rate reads
    as numerical.  ONE aggregation pass for all columns; distinct counts
    use HLL++ unless exact=True.
    """
    from anovos_spark.core.typing import attribute_type_segregation

    num_cols, cat_cols, _ = attribute_type_segregation(idf)
    aggs = []
    for c in num_cols:
        cnt = F.count_distinct(F.col(c)) if exact else F.approx_count_distinct(F.col(c))
        aggs.append(cnt.alias(f"{c}__distinct"))
    for c in cat_cols:
        castable = F.count(F.when(F.col(c).try_cast("double").isNotNull(), 1))
        aggs.append(
            F.round(F.try_divide(castable, F.count(F.col(c))), 6).alias(f"{c}__numrate")
        )
    if not aggs:
        return local_frame(
            idf.sparkSession,
            [],
            schema="attribute string, current_type string, recommended_type string, "
            "distinct_count long, numeric_rate double",
        )
    from anovos_spark.core.utils import fan_out

    # heavy in both modes (exact: 8-way Expand for multi-distinct; approx:
    # 8 HLL sketches) and partition-order independent in both (HLL register
    # maxes merge commutatively) — fan out unconditionally
    src = fan_out(idf.select(*dict.fromkeys(num_cols + cat_cols)))
    row = src.agg(*aggs).collect()[0]
    data = []
    for c in num_cols:
        d = row[f"{c}__distinct"]
        rec = "categorical" if d is not None and d <= cardinality_threshold else "numerical"
        data.append((c, "numerical", rec, d, None))
    for c in cat_cols:
        r = row[f"{c}__numrate"]
        rec = "numerical" if r is not None and r >= numeric_parse_rate else "categorical"
        data.append((c, "categorical", rec, None, r))
    return local_frame(
        idf.sparkSession,
        data,
        schema="attribute string, current_type string, recommended_type string, "
        "distinct_count long, numeric_rate double",
    )


def cap_per_group(
    idf: DataFrame,
    group_cols,
    id_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-group row cap: keep at most ``k`` rows per group,
    chosen by md5(id || seed) order — the domain-balancing step of a
    training pipeline (cap documents per source/domain so no single
    crawl dominates), reproducible across engines/cluster sizes because
    the 'random' order is a pure hash of the row id (same construction
    as hash_split; a seeded rand() would depend on partitioning).

    One window per group key; group sizes are data-dependent, so for
    pathological single-group skew pre-split the group key upstream.
    """
    from pyspark.sql.window import Window

    group_cols = ensure_list(group_cols)
    order = F.md5(
        F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed)))
    )
    w = Window.partitionBy(*group_cols).orderBy(order.asc(), F.col(id_col).asc())
    return (
        idf.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def temperature_sample(
    idf: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.7,
    target_total: int | None = None,
    seed: int = 42,
    max_literal_groups: int = 10_000,
) -> DataFrame:
    """Temperature-based group rebalancing: sample group g with expected
    size proportional to ``n_g ** alpha`` (alpha < 1 upweights small
    groups — the standard multilingual/source-balancing scheme).

    Deterministic: a row survives iff its md5-hash fraction is below its
    group's keep-rate, so the sample is identical on any cluster size or
    engine (same construction as hash_split), and expected sizes follow
    the temperature law with per-row independence — no shuffle of the
    data at all.

    Two keep-rate delivery paths, picked by cardinality:
    - ≤ ``max_literal_groups`` groups (one bounded collect): rates ride
      in as a literal CASE — zero joins, stays in the scan's codegen.
    - above that (e.g. 1M web domains): collecting 1M counts and
      compiling a 1M-branch CASE would melt the driver, so the rates are
      computed IN-PLAN (per-group count + group-count-sized global
      window for the normalizing sums) and broadcast-joined back —
      one BroadcastHashJoin, data never shuffles.

    target_total defaults to the input row count (pure rebalancing);
    rates cap at 1 (small groups can't be upsampled without replacement
    — callers repeat epochs for that)."""
    frac = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col(id_col).cast("string"), F.lit(str(seed))
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    counts_df = idf.groupBy(F.col(group_col).alias("__g__")).agg(
        F.count(F.lit(1)).alias("__n__")
    )
    # limit(k+1) tells us whether the full set fits without a count job:
    # if it returned ≤ k rows, that IS the complete group list
    rows = counts_df.limit(max_literal_groups + 1).collect()
    if len(rows) <= max_literal_groups:
        counts = {r["__g__"]: r["__n__"] for r in rows}
        if not counts:
            return idf
        total = sum(counts.values())
        target = total if target_total is None else int(target_total)
        weight = {g: n**alpha for g, n in counts.items()}
        wsum = sum(weight.values())
        rate = {
            g: min(1.0, (weight[g] / wsum) * target / counts[g]) for g in counts
        }
        expr = None
        for g, r in rate.items():
            cond = F.col(group_col) == F.lit(g)
            expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
        expr = expr.otherwise(F.lit(0.0))
        return idf.where(frac < expr)
    # scale path — in-plan rates, broadcast-joined.  The empty-partition
    # window runs over the GROUP-COUNT-sized frame (bounded metadata, not
    # the data frame), the one shape where a global window is acceptable.
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    n_d = F.col("__n__").cast("double")
    wsum = F.sum(F.pow(n_d, F.lit(float(alpha)))).over(w)
    total = F.sum("__n__").over(w).cast("double")
    target = F.lit(float(target_total)) if target_total is not None else total
    rates = counts_df.select(
        "__g__",
        F.least(
            F.lit(1.0), F.pow(n_d, F.lit(float(alpha))) / wsum * target / n_d
        ).alias("__rate__"),
    )
    # plain equality: null-group rows drop out, matching the literal-CASE
    # path (null never satisfies `group == lit(g)` so it falls to rate 0)
    joined = idf.join(
        F.broadcast(rates), idf[group_col] == rates["__g__"], "inner"
    )
    return joined.where(frac < F.col("__rate__")).drop("__g__", "__rate__")


def token_budget_sample(
    idf: DataFrame,
    group_col: str,
    id_col: str,
    token_col: str,
    budget: int,
    seed: int = 42,
) -> DataFrame:
    """Per-group token-budget cap: walk each group's rows in a
    deterministic md5(id||seed) order and keep rows while the running
    token total stays within ``budget`` (the first row that would
    overflow — and everything after it in that group — is dropped, so a
    kept set never exceeds the budget).

    This is the token-denominated sibling of cap_per_group: training
    mixtures are budgeted in tokens, not documents, so capping a crawl
    at "2B tokens of src X" needs the cumulative sum, not a row count.

    Deterministic and engine-portable (pure-hash order, same
    construction as hash_split) — the DuckDB oracle replays the
    identical window arithmetic.  One window per group key: a single
    keyed shuffle, running sum computed streaming within each partition
    (ROWS UNBOUNDED PRECEDING — no frame re-scan).  Group sizes are
    data-dependent; for a pathologically dominant group pre-split the
    key upstream (same caveat as cap_per_group).
    """
    from pyspark.sql.window import Window

    order = F.md5(
        F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed)))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(order.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        idf.withColumn("__cum__", F.sum(F.col(token_col)).over(w))
        .where(F.col("__cum__") <= F.lit(int(budget)))
        .drop("__cum__")
    )


def mixture_plan(
    idf: DataFrame,
    group_col: str,
    token_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """Training-mixture planning: given target token proportions per
    group (language/source/domain), compute — entirely in-plan — the
    per-group sampling rate that realizes the target mixture at the
    maximum feasible volume without upsampling:

        T* = min over targeted groups of (available_g / target_g)
        rate_g = target_g * T* / available_g      (the binding group gets 1.0)

    Returns one row per group: [group, n_docs, tokens, natural_frac,
    target_frac, rate, planned_tokens].  Groups absent from ``targets``
    report rate 0 (excluded from the mix but still inventoried).

    Scale: one group-keyed aggregation over the corpus; the min/sum
    windows then run over the GROUP-COUNT-sized result (bounded
    metadata, the acceptable global-window shape — same posture as
    temperature_sample's scale path).  Feed the rates to
    hash-fraction filtering (temperature_sample's frac construction)
    to materialize the mixture.
    """
    from pyspark.sql.window import Window

    if not targets:
        raise ValueError("targets must be a non-empty dict of group -> fraction")
    if abs(sum(targets.values()) - 1.0) > 1e-9:
        raise ValueError("target fractions must sum to 1.0")

    g = idf.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(token_col)).cast("bigint").alias("tokens"),
    )
    tmap = F.create_map(
        *[x for k, v in targets.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    g = g.withColumn(
        "target_frac", F.coalesce(tmap[F.col(group_col)], F.lit(0.0))
    )
    w = Window.partitionBy()
    tstar = F.min(
        F.when(
            F.col("target_frac") > 0,
            F.col("tokens").cast("double") / F.col("target_frac"),
        )
    ).over(w)
    total = F.sum("tokens").over(w).cast("double")
    return g.select(
        group_col,
        "n_docs",
        "tokens",
        F.round(F.col("tokens") / total, 6).alias("natural_frac"),
        F.round("target_frac", 6).alias("target_frac"),
        F.round(
            F.when(
                F.col("target_frac") > 0,
                F.least(
                    F.lit(1.0),
                    F.col("target_frac") * tstar / F.col("tokens"),
                ),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("rate"),
        F.floor(F.col("target_frac") * tstar).cast("long").alias("planned_tokens"),
    )


def weighted_sample_k(
    idf: DataFrame,
    weight_col: str,
    k: int,
    by=None,
    id_col: str = None,
    seed: int = 42,
) -> DataFrame:
    """Exactly-k weighted sampling without replacement per group
    (Efraimidis-Spirakis A-ES): each row draws the key u^(1/w) from its
    deterministic hash fraction u and weight w; the k largest keys per
    group are a correct weighted sample.  Deterministic and
    engine-portable (u is the md5 fraction construction shared with
    hash_split/temperature_sample), so the DuckDB oracle replays the
    identical arithmetic.

    One window per group (top-k); rows with non-positive or null
    weights never get sampled.  by=None samples globally, routed through
    orderBy(key).limit(k) — Spark executes that as partial top-k per
    partition (TakeOrderedAndProject), so even the global path never
    funnels the data into one task the way a global window would.
    """
    from pyspark.sql.window import Window

    if id_col is None:
        raise ValueError("id_col is required (the deterministic draw keys on it)")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed)))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(None))
    scored = idf.withColumn("__aes__", key).where(F.col("__aes__").isNotNull())
    if by is None:
        # global: partial top-k per partition via sort+limit — no
        # single-partition window
        return scored.orderBy(F.col("__aes__").desc(), F.col(id_col).asc()).limit(
            int(k)
        ).drop("__aes__")
    by = ensure_list(by)
    win = Window.partitionBy(*by).orderBy(
        F.col("__aes__").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(win))
        .where(F.col("__rn__") <= int(k))
        .drop("__aes__", "__rn__")
    )
