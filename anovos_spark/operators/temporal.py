"""Temporal joins: as-of (point-in-time) join and interval range join.

Neither exists in the reference (its join surface is equi-join only,
data_ingest/data_ingest.py:322-367); both are standard requirements of a
training-data pipeline (point-in-time-correct feature joins, event-to-
session attribution), so they are implemented here Spark-first:

- ``asof_join``: the union-window formulation — tag both sides, union,
  and take ``last(value, ignorenulls)`` over a ``(by, ts)``-ordered
  window.  ONE shuffle on the key, no join at all, no row explosion;
  every engine-native as-of (pandas.merge_asof, DuckDB ASOF JOIN,
  QuestDB) computes exactly this merge order.  A naive Spark
  translation (theta-join ``l.ts >= r.ts`` + row_number) plans a
  BroadcastNestedLoopJoin — O(|L|x|R|) per key — which this avoids
  structurally.

- ``range_join``: interval containment via bucketing — intervals are
  exploded onto a fixed time grid (one row per covered bucket), points
  map to exactly one bucket, and the match becomes an EQUI-join on
  (key, bucket) plus a residual containment filter.  Because a point
  owns exactly one bucket and an interval appears at most once per
  bucket, no duplicate pairs are produced and no distinct is needed.
  Same trick Databricks' range-join optimization applies internally.

Both scale: shuffle volume is O(|L| + |R| * avg_buckets_per_interval),
all joins hash-partitionable, skew handled by AQE like any equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anovos_spark.core.utils import ensure_list, local_frame


# Atomic types Spark cannot sort (DATATYPE_MISMATCH.INVALID_ORDERING_TYPE):
# maps, calendar intervals, and variants.  VariantType is absent from older
# Spark builds, hence the getattr guard.
_UNORDERABLE_ATOMIC = tuple(
    t
    for t in (
        T.MapType,
        getattr(T, "CalendarIntervalType", None),
        getattr(T, "VariantType", None),
    )
    if t is not None
)


def _orderable(dt) -> bool:
    """Spark sort-orderability of a data type: maps, calendar intervals and
    variants are not orderable; arrays/structs are orderable iff their
    element/field types are."""
    if isinstance(dt, _UNORDERABLE_ATOMIC):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by=None,
    right_cols=None,
    tolerance=None,
    direction: str = "backward",
    suffix: str = "_matched",
    on_tie=None,
) -> DataFrame:
    """Point-in-time join: for each left row, attach the right row with
    the greatest ``on`` <= left's ``on`` (direction='backward', inclusive),
    or the least ``on`` >= left's (direction='forward'), per ``by`` key.

    Parameters
    ----------
    on : ordering column name, present in both frames (timestamp or numeric).
    by : equality key column(s) present in both frames (optional but
        recommended — without it the window is global and is refused,
        same policy as window_aggregator).
    right_cols : right columns to attach (default: all non-key columns).
        Attached as ``<col><suffix>``; the matched ordering value is
        always attached as ``<on><suffix>``.
    tolerance : max allowed |left.on - right.on| as a Spark interval/
        numeric expression or SQL string (e.g. "INTERVAL 1 HOUR"); rows
        whose nearest match is farther than this get nulls instead.
    direction : 'backward' (default) or 'forward'.
    on_tie : tie policy when several right rows share the same (by, on)
        value — REAL at scale (the sf10 events table holds 1.7M tied
        (user, ts) pairs), where an undefined pick is engine-arbitrary
        and partition-order-dependent.  ``("max", col)`` / ``("min", col)``
        (or the string forms ``"max:col"`` / ``"min:col"``) make the
        right row with the largest/smallest ``col`` win the tie — a
        total, engine-invariant convention.  Null ``col`` loses ties in
        both modes.  **The default changed in 0.12** (breaking): ``None``
        now means the CANONICAL policy — tied right rows are ordered by
        their attached-payload tuple (sort-orderable columns only, in
        ``right_cols`` order, nulls first) and the greatest wins — so the
        default pick is deterministic and engine-invariant instead of the
        pre-0.12 partition-order-dependent arbitrary pick.  Rows tying on
        every orderable payload column are interchangeable — identical
        output either way — unless they differ only in an UNORDERABLE
        column (a map, calendar interval, or variant — 0.13 widened the
        exclusion beyond maps, since Spark refuses to sort any of these);
        that residual case keeps the arbitrary pick.

    The matched right row survives ATOMICALLY: all attached columns
    (including ``<on><suffix>``) come from the single winning row, so a
    null payload column in the winner stays null — it is never backfilled
    from a losing tied row or an older right row (pre-0.12 filled each
    column independently with ignorenulls, which could emit a chimera of
    several right rows when payloads held nulls).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    tie_mode = tie_col = None
    if on_tie is not None:
        if isinstance(on_tie, str) and ":" in on_tie:
            tie_mode, tie_col = on_tie.split(":", 1)
        elif isinstance(on_tie, (tuple, list)) and len(on_tie) == 2:
            tie_mode, tie_col = on_tie
        if tie_mode not in ("max", "min") or not tie_col:
            raise ValueError(
                "on_tie must be ('max'|'min', <right column>) or 'max:col'/'min:col'"
                f" (got {on_tie!r})"
            )
        if tie_col not in right.columns:
            raise ValueError(f"on_tie column {tie_col!r} not in right frame")
    by = ensure_list(by) if by is not None else []
    if not by:
        raise ValueError(
            "asof_join without 'by' keys needs a single global ordered window "
            "(one task at scale); supply at least one key column"
        )
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in set(by) | {on}]
    else:
        right_cols = ensure_list(right_cols)

    out_map = {c: f"{c}{suffix}" for c in right_cols}
    matched_on = f"{on}{suffix}"
    if matched_on == on:  # empty suffix: keep the matched ts distinguishable
        matched_on = f"{on}_matched"
    clash = [c for c in out_map.values() if c in left.columns]
    if clash:
        raise ValueError(
            f"asof_join: right columns {clash} collide with left columns; "
            "rename upstream or use a non-empty suffix"
        )

    # Union schema: by + on + __side__ + left payload + __rrow__ (the
    # right row as ONE struct — matched atomically, never field-by-field).
    left_payload = [c for c in left.columns if c not in set(by) | {on}]
    rrow_type = T.StructType(
        [T.StructField(matched_on, right.schema[on].dataType)]
        + [T.StructField(out_map[c], right.schema[c].dataType) for c in right_cols]
    )
    # Canonical tie order: the attached payload tuple itself.  When every
    # attached column is sort-orderable the __rrow__ struct doubles as the
    # key (zero extra shuffle bytes — its leading matched_on field is
    # constant among tied rows, so the payload decides); with unorderable
    # columns (maps) in play, a slim struct of the orderable subset rides
    # along instead.
    orderable_cols = [c for c in right_cols if _orderable(right.schema[c].dataType)]
    canon_inline = len(orderable_cols) == len(right_cols)
    tie2_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in orderable_cols]
    )
    tie_l, tie_r = [], []
    if tie_mode:
        tie_l.append(F.lit(None).cast(right.schema[tie_col].dataType).alias("__tie__"))
        tie_r.append(F.col(tie_col).alias("__tie__"))
    if orderable_cols and not canon_inline:
        tie_l.append(F.lit(None).cast(tie2_type).alias("__tie2__"))
        tie_r.append(
            F.struct(*[F.col(c).alias(c) for c in orderable_cols]).alias("__tie2__")
        )
    l_tagged = left.select(
        *by,
        F.col(on).alias("__on__"),
        F.lit(1).alias("__side__"),
        *tie_l,
        *[F.col(c) for c in left_payload],
        F.lit(None).cast(rrow_type).alias("__rrow__"),
    )
    r_tagged = right.select(
        *by,
        F.col(on).alias("__on__"),
        F.lit(0).alias("__side__"),
        *tie_r,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        F.struct(
            F.col(on).alias(matched_on),
            *[F.col(c).alias(out_map[c]) for c in right_cols],
        ).alias("__rrow__"),
    )
    unioned = l_tagged.unionByName(r_tagged)

    from pyspark.sql.window import Window

    # hidden tie keys: right rows carry them, left rows null (left rows
    # never compete in a tie — __side__ separates them first).  Explicit
    # policy first ('max' sorts the winner LAST so the cumulative last()
    # picks it; 'min' mirrors via desc; nulls sort first => a null tie
    # key loses unless all tied are null), then the canonical payload
    # order as the total tie-break (asc, greatest wins).
    tie_keys = []
    if tie_mode == "max":
        tie_keys.append(F.col("__tie__").asc_nulls_first())
    elif tie_mode == "min":
        tie_keys.append(F.col("__tie__").desc_nulls_first())
    if orderable_cols:
        canon = F.col("__rrow__") if canon_inline else F.col("__tie2__")
        tie_keys.append(canon.asc_nulls_first())
    if direction == "backward":
        # right rows sort BEFORE left rows at equal ts => inclusive <=
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("__on__").asc(), F.col("__side__").asc(), *tie_keys)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("__on__").desc(), F.col("__side__").asc(), *tie_keys)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    # ONE last() over the struct: the winning right row survives whole —
    # its null payload columns stay null instead of being backfilled from
    # a losing tied row or an older right row.
    filled = unioned.select(
        *by,
        "__on__",
        "__side__",
        *left_payload,
        F.last("__rrow__", ignorenulls=True).over(w).alias("__m__"),
    ).where(F.col("__side__") == 1)
    filled = filled.select(
        *by,
        "__on__",
        *left_payload,
        F.col("__m__").getField(matched_on).alias(matched_on),
        *[F.col("__m__").getField(out_map[c]).alias(out_map[c]) for c in right_cols],
    )

    if tolerance is not None:
        tol = F.expr(tolerance) if isinstance(tolerance, str) else tolerance
        if direction == "backward":
            ok = F.col("__on__") - F.col(matched_on) <= tol
        else:
            ok = F.col(matched_on) - F.col("__on__") <= tol
        filled = filled.select(
            *by,
            "__on__",
            *left_payload,
            *[
                F.when(ok, F.col(c)).alias(c)
                for c in [matched_on] + [out_map[c] for c in right_cols]
            ],
        )
    return filled.select(
        *by,
        F.col("__on__").alias(on),
        *left_payload,
        matched_on,
        *[out_map[c] for c in right_cols],
    )


def auto_bucket_seconds(
    intervals: DataFrame, start_col: str, end_col: str
) -> int:
    """Default grid width for the interval-bucketing joins: the p99
    interval length (minute-rounded, one scalar agg) instead of the max
    — a single year-long outlier among minute-long intervals must not
    set a degenerate one-bucket grid that crowds every point into the
    same join key.  Longer-than-p99 intervals simply explode onto more
    grid rows (the explode IS the pre-split: total exploded rows ≈
    interval mass / bucket, bounded by the p99 choice for 99% of rows);
    a floor of max_len/10,000 keeps any SINGLE interval's explode under
    10k rows so one extreme outlier cannot build a huge sequence array.
    """
    dur = F.unix_timestamp(F.col(end_col)) - F.unix_timestamp(F.col(start_col))
    row = intervals.agg(
        F.max(dur).alias("mx"),
        F.percentile_approx(dur, F.lit(0.99), F.lit(1000)).alias("p99"),
    ).collect()[0]
    mx = int(row["mx"] or 60)
    p99 = int(row["p99"] if row["p99"] is not None else mx)
    minute_rounded = -(-max(p99, 60) // 60) * 60
    return max(60, minute_rounded, -(-mx // 10_000))


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    by=None,
    bucket_seconds: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join point rows to every interval row containing them
    (``start <= point <= end``), optionally also matching on ``by`` keys.

    Spark plans a raw inequality join as BroadcastNestedLoopJoin — the
    O(N*M) scale-killer.  Here intervals are exploded onto a fixed grid
    of ``bucket_seconds``-wide buckets and points hash to their single
    bucket, so the physical plan is a plain equi-join on
    (by..., bucket) followed by the exact containment filter.

    ``bucket_seconds`` defaults to the P99 interval length
    (auto_bucket_seconds, one scalar agg): 99% of intervals explode to
    ≤ 2 grid rows, and a skewed tail (a few year-long intervals among
    minutes) explodes onto more rows instead of setting a degenerate
    one-bucket grid that would crowd every point into the same join
    key.  Pass it explicitly only to tune the grid further.

    ``how='inner'`` keeps matched pairs; ``'left'`` keeps unmatched
    points with null interval columns.
    """
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    by = ensure_list(by) if by is not None else []

    if bucket_seconds is None:
        bucket_seconds = auto_bucket_seconds(intervals, start_col, end_col)

    p_bucket = (F.unix_timestamp(F.col(point_col)) / F.lit(bucket_seconds)).cast("long")
    i_lo = (F.unix_timestamp(F.col(start_col)) / F.lit(bucket_seconds)).cast("long")
    i_hi = (F.unix_timestamp(F.col(end_col)) / F.lit(bucket_seconds)).cast("long")

    pts = points.withColumn("__bucket__", p_bucket)
    ivs = intervals.withColumn("__bucket__", F.explode(F.sequence(i_lo, i_hi)))

    keys = by + ["__bucket__"]
    contained = (F.col(point_col) >= F.col(start_col)) & (
        F.col(point_col) <= F.col(end_col)
    )
    if how == "inner":
        return pts.join(ivs, on=keys, how="inner").where(contained).drop("__bucket__")
    # left: inner-match first (cheap), then reattach unmatched points via
    # anti-join — still all equi-joins.  The anti-join compares every
    # point column with NULL-SAFE equality (<=>): plain `on=pts.columns`
    # equality would make a matched row containing a null payload value
    # fail to match itself and be emitted twice (once matched, once as a
    # fabricated unmatched row).  EqualNullSafe keys still plan as a hash
    # equi-join.
    matched = pts.join(ivs, on=keys, how="inner").where(contained)
    m_pts = matched.select(*pts.columns).distinct().alias("__m__")
    p_al = pts.alias("__p__")
    anti_cond = None
    for c in pts.columns:
        eq = F.col(f"__p__.{c}").eqNullSafe(F.col(f"__m__.{c}"))
        anti_cond = eq if anti_cond is None else anti_cond & eq
    unmatched = p_al.join(m_pts, on=anti_cond, how="left_anti")
    for c in ivs.columns:
        if c not in unmatched.columns:
            unmatched = unmatched.withColumn(c, F.lit(None).cast(ivs.schema[c].dataType))
    return matched.unionByName(unmatched.select(*matched.columns)).drop("__bucket__")


def sessionize(
    idf: DataFrame,
    ts_col: str,
    user_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch sessionization: events of a user strictly closer than
    ``gap_seconds`` merge into one session (a gap >= the threshold opens
    a new one — session_window's convention) → [user, session_id, session_start,
    session_end, n_events].  The batch face of
    streaming/ops.sessionize (session_window) — proven equivalent
    semantics via the shared lag+cumsum oracle.

    Classic closed form, one window partition per user: a session opens
    where the gap from the previous event exceeds the threshold
    (lag + comparison), session index = running sum of opens, then one
    aggregation on (user, session index).  Two user-keyed shuffles total,
    no iteration, no state."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).cast("timestamp"))
    # timestamp-then-double keeps fractional seconds: unix_timestamp
    # TRUNCATES, which shifted 1799.x-second gaps to 1800 and opened
    # phantom sessions (caught by the sf0.1 cross-scale differential vs
    # session_window).  The intermediate cast('timestamp') keeps string /
    # date ts columns working — a bare cast('double') on those yields
    # null gaps and a silent session-per-event.
    ts_sec = F.col(ts_col).cast("timestamp").cast("double")
    gap = ts_sec - F.lag(ts_sec, 1).over(w)
    opens = F.when(gap.isNull() | (gap >= gap_seconds), 1).otherwise(0)
    tagged = idf.select(
        F.col(user_col),
        F.col(ts_col),
        F.sum(opens).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__sidx__"),
    )
    return tagged.groupBy(user_col, "__sidx__").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        F.col(user_col),
        F.concat_ws("-", F.col(user_col).cast("string"), F.col("__sidx__").cast("string")).alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
    )


def scd2_from_changes(
    idf: DataFrame,
    key_cols,
    attr_cols,
    ts_col: str,
    tiebreak_cols=(),
    history: DataFrame | None = None,
) -> DataFrame:
    """Build / extend a slowly-changing-dimension (type 2) history from a
    change stream: per key, consecutive rows with identical tracked
    attributes collapse into one version; each version carries
    [valid_from, valid_to, is_current] with valid_to = the next
    version's start (null while current).

    With ``history`` (an existing SCD2 frame with the same columns),
    its CLOSED rows pass through untouched and each key's OPEN row seeds
    the timeline, so a no-op update doesn't open a spurious version and
    the superseded open row closes at the first real change — the
    incremental warehouse-merge pattern, expressed as two windows
    (change-detect lag + closing lead) and a union: no MERGE statement,
    no driver loop, one keyed shuffle.

    Determinism: ties on ``ts_col`` break by ``tiebreak_cols`` (pass the
    event id); attribute equality compares null-safely via a fingerprint
    over all attr_cols.
    """
    from pyspark.sql import Window

    key_cols = ensure_list(key_cols)
    attr_cols = ensure_list(attr_cols)
    tiebreak_cols = ensure_list(tiebreak_cols)

    fp = F.md5(
        F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
                for c in attr_cols
            ],
        )
    )
    updates = idf.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("__ts__"),
        *[F.col(c).alias(f"__tb_{c}__") for c in tiebreak_cols],
        fp.alias("__fp__"),
        F.lit(0).alias("__seed__"),
    )
    closed = None
    if history is not None:
        closed = history.where(~F.col("is_current"))
        opens = history.where(F.col("is_current")).select(
            *key_cols,
            *attr_cols,
            F.col("valid_from").alias("__ts__"),
            *[
                F.lit(None).cast(idf.schema[c].dataType).alias(f"__tb_{c}__")
                for c in tiebreak_cols
            ],
            fp.alias("__fp__"),
            F.lit(1).alias("__seed__"),
        )
        updates = opens.unionByName(updates)

    order = [F.col("__ts__").asc(), F.col("__seed__").desc()] + [
        F.col(f"__tb_{c}__").asc_nulls_first() for c in tiebreak_cols
    ]
    from pyspark.sql import Window as _W

    w = _W.partitionBy(*key_cols).orderBy(*order)
    changes = updates.withColumn("__prev__", F.lag("__fp__").over(w)).where(
        F.col("__prev__").isNull() | (F.col("__prev__") != F.col("__fp__"))
    )
    versions = changes.select(
        *key_cols,
        *attr_cols,
        F.col("__ts__").alias("valid_from"),
        F.lead("__ts__").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())
    if closed is not None:
        versions = closed.select(*versions.columns).unionByName(versions)
    return versions


def funnel(
    idf: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps,
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered funnel analysis: for each user, step k counts only if an
    event of ``steps[k]`` occurs STRICTLY AFTER that user's step-k-1
    completion time (earliest-completion semantics: each step takes its
    minimum qualifying timestamp).  ``within_seconds`` additionally
    requires every step to land within that span of the user's step-0
    time.  Returns [step_idx, step, n_users, conversion] with conversion
    relative to step 0.

    Scale: k-1 keyed equi-joins on the user id (one per funnel edge),
    each preceded by an event-type filter that pushes to the scan — no
    windows over the raw event stream, no per-user collect.  The final
    per-step counts aggregate a frame of |steps| rows.
    """
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    ev = idf.select(
        F.col(user_col).alias("__u__"),
        F.col(type_col).alias("__t__"),
        F.col(ts_col).alias("__ts__"),
    )
    cur = (
        ev.where(F.col("__t__") == steps[0])
        .groupBy("__u__")
        .agg(F.min("__ts__").alias("t0"))
        .withColumn("__prev__", F.col("t0"))
    )
    stage_users = [cur.select("__u__")]
    for i, step in enumerate(steps[1:], start=1):
        nxt = ev.where(F.col("__t__") == step).join(cur, "__u__")
        cond = F.col("__ts__") > F.col("__prev__")
        if within_seconds is not None:
            cond = cond & (
                F.col("__ts__")
                <= F.col("t0") + F.expr(f"INTERVAL {int(within_seconds)} SECOND")
            )
        cur = (
            nxt.where(cond)
            .groupBy("__u__")
            .agg(F.min("__ts__").alias("__prev__"), F.first("t0").alias("t0"))
        )
        stage_users.append(cur.select("__u__"))
    from functools import reduce

    tagged = reduce(
        lambda a, b: a.unionByName(b),
        [
            df.select(F.lit(i).alias("step_idx"), F.lit(s).alias("step"), "__u__")
            for i, (s, df) in enumerate(zip(steps, stage_users))
        ],
    )
    counts = tagged.groupBy("step_idx", "step").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    # a step nobody reaches must still appear with n_users = 0 (groupBy
    # alone silently drops it — the funnel contract is one row PER STEP)
    step_frame = local_frame(
        idf.sparkSession,
        list(enumerate(steps)), schema="step_idx int, step string"
    )
    counts = step_frame.join(counts, ["step_idx", "step"], "left_outer").select(
        "step_idx", "step",
        F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
    )
    from pyspark.sql import Window

    base = F.first("n_users").over(
        Window.partitionBy().orderBy("step_idx").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return counts.select(
        "step_idx", "step", "n_users",
        F.when(base > 0, F.round(F.col("n_users") / base, 6))
        .otherwise(F.lit(0.0)).alias("conversion"),
    )


def cohort_retention(
    idf: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Classic cohort retention: users grouped by their FIRST-activity
    period (the cohort), counted in every later period they return →
    [cohort, period_idx, n_users, retention] with retention relative to
    the cohort's size at period 0.

    Scale: one groupBy(user) for the cohort assignment, one
    groupBy(cohort, period) for the matrix — two keyed shuffles total;
    the per-user join rides the same user-keyed partitioning.
    """
    trunc = {"week": "week", "month": "month", "day": "day"}[period]
    ev = idf.select(
        F.col(user_col).alias("__u__"),
        F.date_trunc(trunc, F.col(ts_col)).alias("__p__"),
    )
    first = ev.groupBy("__u__").agg(F.min("__p__").alias("cohort"))
    joined = ev.join(first, "__u__")
    if period in ("week", "day"):
        # datediff on DATEs, not unix-second division: under a
        # DST-observing session timezone two week-truncated timestamps can
        # be 604800-3600 s apart, and int truncation would misbucket
        days = F.datediff(
            F.col("__p__").cast("date"), F.col("cohort").cast("date")
        )
        pidx = (days / (7 if period == "week" else 1)).cast("int")
    else:  # calendar months
        pidx = (
            (F.year("__p__") - F.year("cohort")) * 12
            + (F.month("__p__") - F.month("cohort"))
        ).cast("int")
    cells = (
        joined.select("__u__", F.col("cohort").cast("date").alias("cohort"),
                      pidx.alias("period_idx"))
        .distinct()
        .groupBy("cohort", "period_idx")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    from pyspark.sql import Window

    base = F.first("n_users").over(
        Window.partitionBy("cohort").orderBy("period_idx").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return cells.select(
        "cohort", "period_idx", "n_users",
        F.round(F.col("n_users") / base, 6).alias("retention"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    by=None,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Interval × interval overlap join: every (left, right) pair with
    ``l_start <= r_end AND r_start <= l_end`` (and equal ``by`` keys) —
    the genomics/billing/shift-overlap shape Spark would otherwise plan
    as a BroadcastNestedLoopJoin.

    Both sides explode onto the fixed ``bucket_seconds`` grid and meet
    in a plain equi-join on (by..., bucket).  An overlapping pair shares
    every bucket in [max(lo_a, lo_b), min(hi_a, hi_b)]; emitting it only
    at that range's FIRST bucket (bucket == greatest of the two floors)
    yields each pair exactly once — no DISTINCT over payload columns.

    bucket_seconds defaults to the larger of the two sides' P99
    interval lengths (auto_bucket_seconds per side): 99% of intervals
    explode to ≤ 2 grid rows, and a skewed tail explodes onto more
    rows instead of setting a degenerate one-bucket grid.
    """
    by = ensure_list(by) if by is not None else []
    if bucket_seconds is None:
        bucket_seconds = max(
            auto_bucket_seconds(left, l_start, l_end),
            auto_bucket_seconds(right, r_start, r_end),
        )

    def grid(df, s, e):
        lo = (F.unix_timestamp(F.col(s)) / F.lit(bucket_seconds)).cast("long")
        hi = (F.unix_timestamp(F.col(e)) / F.lit(bucket_seconds)).cast("long")
        return df.withColumn("__lo__", lo).withColumn(
            "__bucket__", F.explode(F.sequence(lo, hi))
        )

    a = grid(left, l_start, l_end).alias("a")
    b = grid(right, r_start, r_end).alias("b")
    keys = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in by] + [
        F.col("a.__bucket__") == F.col("b.__bucket__")
    ]
    overlap = (F.col(f"a.{l_start}") <= F.col(f"b.{r_end}")) & (
        F.col(f"b.{r_start}") <= F.col(f"a.{l_end}")
    )
    first_shared = F.col("a.__bucket__") == F.greatest(
        F.col("a.__lo__"), F.col("b.__lo__")
    )
    joined = a.join(b, on=keys, how="inner").where(overlap & first_shared)
    l_cols = [F.col(f"a.{c}") for c in left.columns]
    r_cols = [
        F.col(f"b.{c}").alias(c if c not in left.columns else f"{c}_r")
        for c in right.columns
    ]
    return joined.select(*l_cols, *r_cols)


def merge_intervals(
    idf: DataFrame,
    key_cols,
    start_col: str,
    end_col: str,
    min_gap_seconds: int = 0,
) -> DataFrame:
    """Gaps-and-islands interval merge per key: overlapping (or
    within-``min_gap_seconds``) intervals coalesce into one —
    [*keys, start, end, n_merged] — the standard coverage primitive
    (machine uptime, on-call shifts, ad exposure windows).

    Pure window algebra: order by start within key, a new island opens
    where the start exceeds the running max of prior ends (+ gap), and
    a cumulative sum of the open flags labels islands — one keyed
    shuffle, no self-join, no recursion.  The running max handles the
    containment case a lag(end) comparison gets wrong (a short interval
    inside a long one must not split the island).
    """
    from pyspark.sql import Window

    keys = ensure_list(key_cols)
    w = Window.partitionBy(*keys).orderBy(
        F.col(start_col).asc(), F.col(end_col).asc()
    )
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prev_max_end.isNull()
        | (
            F.col(start_col).cast("double")
            > prev_max_end.cast("double") + F.lit(float(min_gap_seconds))
        ),
        1,
    ).otherwise(0)
    tagged = idf.withColumn(
        "__island__",
        F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return tagged.groupBy(*keys, "__island__").agg(
        F.min(start_col).alias(start_col),
        F.max(end_col).alias(end_col),
        F.count(F.lit(1)).alias("n_merged"),
    ).drop("__island__")


def interval_coverage(
    idf: DataFrame,
    key_cols,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Total covered time per key, overlaps counted ONCE:
    [*keys, n_intervals, n_islands, covered_seconds] — merge_intervals
    followed by one aggregation (uptime/SLA arithmetic that a plain
    sum(end - start) gets wrong whenever intervals overlap)."""
    keys = ensure_list(key_cols)
    merged = merge_intervals(idf, keys, start_col, end_col)
    return merged.groupBy(*keys).agg(
        F.sum("n_merged").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.round(
            F.sum(
                F.col(end_col).cast("double") - F.col(start_col).cast("double")
            ),
            3,
        ).alias("covered_seconds"),
    )
