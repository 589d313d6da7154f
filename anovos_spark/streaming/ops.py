"""Structured Streaming operators.

The reference is batch-only (SURVEY §2.14: no readStream/writeStream
anywhere) — this module is the charter's net-new streaming capability,
built directly on Structured Streaming primitives:

- sources: rate (testing), file directory (parquet/csv/json), kafka if the
  connector jar is on the classpath
- event-time windowed aggregation with watermarks (late-data policy)
- streaming deduplication (exact keys within a watermark horizon)
- sessionization via session_window
- custom stateful aggregation via applyInPandasWithState
- sinks: memory (tests), file, foreachBatch (arbitrary batch logic, e.g.
  writing through the batch operators of this engine)

Scale notes: every aggregation keys state by (key, window) — state is
partitioned across executors by the shuffle; watermarks bound state size;
availableNow triggers give batch-like reprocessing with streaming
semantics.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anovos_spark.core.utils import local_frame


@contextmanager
def streaming_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Scope ``spark.sql.shuffle.partitions`` around a stateful streaming
    query START (the conf is captured at start, per query).

    Stateful streaming cost has a fixed per-micro-batch component
    PROPORTIONAL TO THE PARTITION COUNT — one state store (open +
    commit + snapshot files) per shuffle partition per stateful
    operator, regardless of data volume (measured here: the same
    stream-stream join runs 12.8 s at 32 partitions vs 2.0 s at 4 on
    identical data).  Batch queries want wide shuffles; streaming state
    wants exactly as many stores as throughput needs.  Size ``n`` to
    peak keys-per-trigger / store, not to the batch shuffle width."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def derive_store_count(
    n_rows: int, lo: int = 2, hi: int = 32, rows_per_store: int = 250_000
) -> int:
    """Volume-derived state-store count for a stateful streaming query.

    Each shuffle partition of a stateful operator is one state store
    (open + commit + snapshot per micro-batch) — pure fixed cost at low
    volume, a throughput necessity at high volume.  Derive the count
    from the rows the run will actually push through state (interleaved
    same-box A/B at sf0.1: 2 stores beat the old fixed 8 by ~0.1-0.25 s
    per query lifecycle; the r10 scale probe showed the opposite cliff
    at sf10, where a fixed 8 thrashed the stream-stream join).  Results
    are partition-count invariant; only store sizing changes."""
    return max(lo, min(hi, int(n_rows) // rows_per_store))


def read_stream(
    spark: SparkSession,
    source: str,
    path: str | None = None,
    schema=None,
    options: dict | None = None,
) -> DataFrame:
    """Open a streaming source: 'rate' | 'parquet' | 'csv' | 'json' | 'kafka'."""
    opts = dict(options or {})
    reader = spark.readStream.format(source)
    for k, v in opts.items():
        reader = reader.option(k, v)
    if source == "rate":
        return reader.load()
    if source == "kafka":
        return reader.load()
    if schema is None:
        raise ValueError("file streams require an explicit schema (no inference)")
    return reader.schema(schema).load(path)


def windowed_aggregation(
    sdf: DataFrame,
    ts_col: str,
    window_duration: str = "1 minute",
    slide_duration: str | None = None,
    watermark: str = "2 minutes",
    group_cols=(),
    agg_exprs: dict | None = None,
) -> DataFrame:
    """Event-time tumbling/sliding window aggregation with a watermark.

    agg_exprs: {output_name: (col, fn)} with fn ∈ count|sum|mean|min|max.
    Late rows beyond the watermark are dropped (state stays bounded).
    """
    fns = {"count": F.count, "sum": F.sum, "mean": F.mean, "min": F.min, "max": F.max}
    aggs = []
    for out, (col, fn) in (agg_exprs or {"n": (ts_col, "count")}).items():
        if fn not in fns:
            raise ValueError(f"unknown agg fn {fn!r}")
        aggs.append(fns[fn](col).alias(out))
    w = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(w.alias("window"), *list(group_cols))
        .agg(*aggs)
    )


def streaming_dedup(
    sdf: DataFrame, key_cols, ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Drop duplicate events by key within the watermark horizon —
    the streaming face of exact_dedup.  State per key is evicted once the
    watermark passes, so memory is bounded by the horizon, not the stream."""
    from anovos_spark.core.utils import ensure_list

    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ensure_list(key_cols)
    )


def sessionize(
    sdf: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows per user: events closer than `gap` merge into one
    session.  [user, session_start, session_end, n_events]."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_drift_monitor(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    baseline_cutoffs: list[float],
    baseline_props: list[float],
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
    threshold: float = 0.1,
    smoothing: float = 0.0001,
) -> DataFrame:
    """Per-window PSI of a streaming column against a FIXED baseline
    distribution — the streaming face of drift_statistics (same binning
    semantics: bin = 1 + Σ(x > cutoff); same 0.0001 smoothing).

    The baseline (cutoffs + bin proportions, fitted batch-side on the
    reference data with binning_fit) rides in as literals, so the whole
    monitor is ONE watermarked stateful aggregation: per (window) the
    bin counts are len(cutoffs)+1 conditional sums, and PSI is a closed
    expression over them — no second stateful operator, state bounded by
    the watermark horizon.

    [window, n_events, psi, flagged] — flagged when psi > threshold."""
    n_bins = len(baseline_cutoffs) + 1
    if len(baseline_props) != n_bins:
        raise ValueError("baseline_props must have len(baseline_cutoffs)+1 entries")
    x = F.col(value_col)
    bin_expr = F.lit(1)
    for cut in baseline_cutoffs:
        bin_expr = bin_expr + (x > F.lit(float(cut))).cast("int")
    aggs = [F.count(value_col).alias("n_events")] + [
        F.sum((bin_expr == F.lit(b + 1)).cast("long")).alias(f"_b{b}")
        for b in range(n_bins)
    ]
    agg = (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("window"))
        .agg(*aggs)
    )
    psi = None
    for b in range(n_bins):
        p = max(float(baseline_props[b]), smoothing)
        q = F.col(f"_b{b}") / F.col("n_events")
        q = F.when(q <= 0, F.lit(smoothing)).otherwise(q)
        term = (q - F.lit(p)) * F.log(q / F.lit(p))
        psi = term if psi is None else psi + term
    return agg.select(
        "window",
        "n_events",
        F.round(psi, 6).alias("psi"),
        (F.round(psi, 6) > threshold).cast("int").alias("flagged"),
    )


def stateful_running_stats(
    sdf: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful operator: per-key running count/sum/min/max that
    survives across micro-batches, via applyInPandasWithState.

    Output one row per key per micro-batch: [key, n, total, vmin, vmax].
    State times out after `timeout_duration` of inactivity (processing
    time), bounding state for dead keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, n long, total double, vmin double, vmax double"
    state_schema = "n long, total double, vmin double, vmax double"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total, vmin, vmax = (
            state.get if state.exists else (0, 0.0, float("inf"), float("-inf"))
        )
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            if len(vals):
                n += len(vals)
                total += float(vals.sum())
                vmin = min(vmin, float(vals.min()))
                vmax = max(vmax, float(vals.max()))
        state.update((n, total, vmin, vmax))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {key_col: [key[0]], "n": [n], "total": [total], "vmin": [vmin], "vmax": [vmax]}
        )

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: pair each left event with right
    events of the same key arriving within ``[left_ts, left_ts + within]``
    (attribution joins: impression→click, signup→error, order→payment).

    Both sides get watermarks AND the join carries the time-range
    condition — the two requirements Structured Streaming needs to evict
    buffered rows, so per-key state is bounded by
    ``within + max(watermarks)``, not the stream length.  Without the
    range condition Spark would buffer both streams forever (the classic
    unbounded-state stream-join mistake); this operator makes the bounded
    form the only expressible one.

    ``how``: inner | leftOuter | rightOuter | fullOuter (outer rows emit
    nulls only after the watermark proves no match can arrive).  Right
    columns must not collide with left's (rename upstream).
    """
    from anovos_spark.core.utils import ensure_list

    allowed = {"inner", "leftOuter", "rightOuter", "fullOuter"}
    if how not in allowed:
        raise ValueError(f"how must be one of {sorted(allowed)}")
    keys = ensure_list(on)
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    cond = None
    for k in keys:
        eq = lw[k] == rw[k]
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    joined = lw.join(rw, cond, how)
    # Keep the key columns exactly once.  For rightOuter/fullOuter the
    # unmatched right rows carry null LEFT keys, so the kept key must be
    # coalesce(left, right) or those rows' key values are lost; for
    # inner/leftOuter the left key is always populated and a plain drop
    # of the right duplicate suffices.
    if how in ("rightOuter", "fullOuter"):
        keep = [F.coalesce(lw[k], rw[k]).alias(k) for k in keys]
        # joined.columns contains each key twice (left + right); select the
        # coalesced key once plus every non-key column (unique by contract).
        non_key = [c for c in joined.columns if c not in keys]
        joined = joined.select(*keep, *[F.col(c) for c in non_key])
    else:
        for k in keys:
            joined = joined.drop(rw[k])
    return joined


def write_stream(
    sdf: DataFrame,
    sink: str,
    query_name: str | None = None,
    path: str | None = None,
    checkpoint: str | None = None,
    output_mode: str = "append",
    trigger_available_now: bool = True,
    foreach_batch_fn=None,
):
    """Start a streaming sink: 'memory' | 'parquet' | 'csv' | 'console' |
    'foreachBatch'.  availableNow=True drains all available input then
    stops — the batch-reprocessing trigger used by tests and backfills."""
    writer = sdf.writeStream.outputMode(output_mode)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    if sink == "memory":
        if not query_name:
            raise ValueError("memory sink requires query_name")
        return writer.format("memory").queryName(query_name).start()
    if sink == "foreachBatch":
        if foreach_batch_fn is None:
            raise ValueError("foreachBatch sink requires foreach_batch_fn")
        return writer.foreachBatch(foreach_batch_fn).start()
    if not path or not checkpoint:
        raise ValueError("file sinks require path and checkpoint")
    return (
        writer.format(sink)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _list_batch_ids(spark, run_dir: str) -> list[int]:
    """Batch-partition directory names under a run dir (empty if absent)."""
    fs, jpath, _ = _hadoop_fs(spark, run_dir)
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if name.startswith("batch_id="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return out


def incremental_stats_sink(
    sdf: DataFrame,
    value_cols,
    state_path: str,
    query_name: str = "incremental_stats",
    trigger_available_now: bool = True,
    run_id: str = "run0",
    checkpoint: str | None = None,
    compact_every: int = 64,
):
    """Maintain mergeable per-column statistics across micro-batches via
    foreachBatch: each batch computes its partial (n, sum, sum2, min,
    max) per column — the same associative partials the batch stats
    batteries aggregate — and writes them into a partitioned parquet
    state table at ``state_path/run_id=<run_id>/batch_id=<n>``.  Readers
    (read_incremental_stats) derive mean/variance from the merged
    partials at any time (variance via the sum-of-squares identity,
    exactly how distributed batch aggregation combines partitions).

    Exactly-once / crash-safety design (no read-union-overwrite):
    - Each batch OVERWRITES only its own ``batch_id=<n>`` directory, so a
      replayed batch rewrites identical content — idempotent without any
      read of existing state, and no failure mode can clobber other
      batches' partials (the old overwrite-via-tmp rewrite could lose the
      whole table on a transient read failure).
    - Spark's batch ids are only unique per query/checkpoint, so state is
      additionally keyed by ``run_id``: pass a fresh run_id (or a stable
      checkpoint) per logical run; a restarted query with a new run_id
      can never silently drop batches that collide with stored ids.
    - State stays bounded: once more than ``compact_every`` live batch
      directories exist, they are folded into ONE row per column, written
      to a new compact generation directory whose ``merged_through``
      column is the commit record (readers ignore batch dirs at or below
      the highest committed merged_through), and only then are the
      superseded directories garbage-collected.  A crash at any point
      between those steps leaves a state readers still merge correctly.
    """
    from anovos_spark.core.utils import ensure_list

    cols = ensure_list(value_cols)
    run_dir = f"{state_path}/run_id={run_id}"
    schema = (
        "attribute string, n long, sum double, sum2 double, "
        "vmin double, vmax double, merged_through long"
    )

    def _compact(spark, upto: int):
        st = spark.read.parquet(run_dir)
        compacts = st.where(F.col("batch_id") < 0)
        m_row = compacts.agg(F.max("merged_through")).collect()[0][0]
        merged_floor = -1 if m_row is None else int(m_row)
        live = st.where(
            ((F.col("batch_id") >= 0) & (F.col("batch_id") > merged_floor))
            | ((F.col("batch_id") < 0) & (F.col("merged_through") == merged_floor))
        )
        merged = (
            live.groupBy("attribute")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum").alias("sum"),
                F.sum("sum2").alias("sum2"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
            .withColumn("merged_through", F.lit(int(upto)).cast("long"))
        )
        # unique generation dir: -(upto)-1 — never overwrites a previous
        # compact generation, so the write is atomic-per-directory and the
        # merged_through value inside is the commit record
        merged.coalesce(1).write.mode("overwrite").parquet(
            f"{run_dir}/batch_id={-(upto) - 1}"
        )
        # GC superseded dirs (safe any time after the commit record lands)
        fs, _, jvm = _hadoop_fs(spark, run_dir)
        for bid in _list_batch_ids(spark, run_dir):
            superseded = (0 <= bid <= upto) or (bid < 0 and bid != -(upto) - 1)
            if superseded:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{run_dir}/batch_id={bid}"), True)

    def merge_batch(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        aggs = []
        for c in cols:
            aggs += [
                F.count(c).alias(f"{c}__n"),
                F.sum(F.col(c).cast("double")).alias(f"{c}__sum"),
                F.sum(F.col(c).cast("double") * F.col(c).cast("double")).alias(f"{c}__sum2"),
                F.min(F.col(c).cast("double")).alias(f"{c}__min"),
                F.max(F.col(c).cast("double")).alias(f"{c}__max"),
            ]
        row = batch_df.agg(*aggs).collect()[0]
        parts = []
        for c in cols:
            parts.append(
                (
                    c,
                    int(row[f"{c}__n"] or 0),
                    float(row[f"{c}__sum"] or 0.0),
                    float(row[f"{c}__sum2"] or 0.0),
                    row[f"{c}__min"],
                    row[f"{c}__max"],
                    None,
                )
            )
        new = local_frame(spark, parts, schema)
        new.coalesce(1).write.mode("overwrite").parquet(
            f"{run_dir}/batch_id={int(batch_id)}"
        )
        live = [b for b in _list_batch_ids(spark, run_dir) if b >= 0]
        if len(live) > compact_every:
            # best-effort maintenance: a transient failure here never
            # loses data (per-batch dirs remain authoritative) and the
            # next batch retries; only genuine compaction bugs surface
            _compact(spark, max(live))

    writer = sdf.writeStream.outputMode("append").queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.foreachBatch(merge_batch).start()


def read_incremental_stats(spark, state_path: str) -> DataFrame:
    """Fold the merged partials into [attribute, n, mean, variance, min,
    max] — the same derivation distributed batch aggregation applies to
    its partition partials.

    Per run, the authoritative rows are the newest compact generation
    (highest committed ``merged_through``) plus every batch directory
    above it; superseded directories that a crash left behind are simply
    ignored, which is what makes the sink's compaction crash-safe."""
    s = spark.read.parquet(state_path)
    data_cols = ["attribute", "n", "sum", "sum2", "vmin", "vmax"]
    compacts = s.where(F.col("batch_id") < 0)
    m = compacts.groupBy("run_id").agg(F.max("merged_through").alias("__M__"))
    live_batches = (
        s.where(F.col("batch_id") >= 0)
        .join(m, "run_id", "left")
        .where(F.col("__M__").isNull() | (F.col("batch_id") > F.col("__M__")))
        .select(*data_cols)
    )
    live_compacts = (
        compacts.join(m, "run_id")
        .where(F.col("merged_through") == F.col("__M__"))
        .select(*data_cols)
    )
    agg = live_batches.unionByName(live_compacts).groupBy("attribute").agg(
        F.sum("n").alias("n"),
        F.sum("sum").alias("s"),
        F.sum("sum2").alias("s2"),
        F.min("vmin").alias("min"),
        F.max("vmax").alias("max"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("s2") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    return agg.select(
        "attribute",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        "min",
        "max",
    )


def streaming_dedup_sink(
    sdf: DataFrame,
    index_path: str,
    pairs_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    query_name: str = "streaming_dedup",
    trigger_available_now: bool = True,
    run_id: str = "run0",
    checkpoint: str | None = None,
    intra_batch: bool = False,
):
    """Continuous ingest-time near-dup screening: each micro-batch of
    documents is checked against the persisted MinHash signature index
    (everything ingested before it) and then added to that index — the
    streaming face of dedup.minhash_lsh_pairs_incremental, and the shape
    a 100 TB training pipeline actually runs (dedup AT ingest, never a
    full-corpus re-scan).

    State layout mirrors incremental_stats_sink's crash-safe scheme:
    - ``index_path/run_id=<r>/batch_id=<b>`` holds batch b's signatures;
      a replayed batch overwrites ONLY its own directory with identical
      content (signatures are pure functions of the text), so replays
      are idempotent and can never clobber other batches.
    - ``pairs_path/run_id=<r>/batch_id=<b>`` holds batch b's matches
      against the index AS OF batch b: the candidate read excludes own
      run's batch_id >= b, so a replay reproduces the original pairs
      byte-for-byte instead of matching against its own output.
    - Earlier run_ids count as historical corpus (cross-run dedup).

    Within-batch duplicates are NOT paired here (the batch joins the
    index, not itself) — run minhash_lsh_pairs on a batch if intra-batch
    dedup is also required.  Readers: read_dedup_index / read_dedup_pairs.
    """
    from anovos_spark.operators.dedup import (
        minhash_estimate_pairs,
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )

    def process(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        # persist the batch's signatures: the pairs write and the index
        # write are two separate actions over this frame, and unpersisted
        # each would re-run the explode + num_hashes-min aggregate.  The
        # footprint is one batch's [id, signature] rows — batch-bounded
        # at any scale; released before the batch commits.
        sig = minhash_signatures(batch_df, text_col, id_col, n, num_hashes).persist()
        # explicit schema (signature fields + the two partition-dir
        # columns): skips the footer-inference job the bare read paid on
        # every batch; the layout is this sink's own write above
        idx_schema = T.StructType(
            list(sig.schema.fields)
            + [
                T.StructField("run_id", T.StringType()),
                T.StructField("batch_id", T.IntegerType()),
            ]
        )
        try:
            index = spark.read.schema(idx_schema).parquet(index_path).where(
                ~((F.col("run_id") == run_id) & (F.col("batch_id") >= batch_id))
            ).select("id", "signature")
        except Exception as exc:  # first batch: no index yet
            if "PATH_NOT_FOUND" not in str(exc) and "Unable to infer schema" not in str(exc):
                raise
            index = None
        if index is None:
            # derive the id type from the batch so string-keyed corpora
            # don't leave a long-typed empty file that breaks later schema
            # merges across sibling batch_id dirs
            id_type = batch_df.schema[id_col].dataType
            pairs = local_frame(
                spark,
                [],
                T.StructType([
                    T.StructField("new_id", id_type),
                    T.StructField("index_id", id_type),
                    T.StructField("est_jaccard", T.DoubleType()),
                ]),
            )
        else:
            # signatures for the new batch are already computed — reuse
            # them via a signature-frame join rather than re-shingling
            pairs = minhash_lsh_pairs_incremental(
                batch_df, index, text_col, id_col, n, num_hashes, bands,
                threshold, new_sig=sig,
            )
        pairs = pairs.withColumn("intra", F.lit(False))
        if intra_batch:
            # within-batch near-dups from the SAME signature pass —
            # id_a < id_b so a pair appears once, tagged intra
            ip = minhash_estimate_pairs(sig, num_hashes, bands, threshold)
            pairs = pairs.unionByName(
                ip.select(
                    F.col("id_a").alias("new_id"),
                    F.col("id_b").alias("index_id"),
                    "est_jaccard",
                    F.lit(True).alias("intra"),
                )
            )
        try:
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/run_id={run_id}/batch_id={batch_id}"
            )
            sig.write.mode("overwrite").parquet(
                f"{index_path}/run_id={run_id}/batch_id={batch_id}"
            )
        finally:
            sig.unpersist()

    writer = (
        sdf.writeStream.queryName(query_name)
        .outputMode("append")
        .foreachBatch(process)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_dedup_index(spark: SparkSession, index_path: str) -> DataFrame:
    """[id, signature] across all runs/batches of a streaming dedup index."""
    return spark.read.parquet(index_path).select("id", "signature")


def read_dedup_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """[new_id, index_id, est_jaccard] accumulated by streaming_dedup_sink."""
    return spark.read.parquet(pairs_path).select("new_id", "index_id", "est_jaccard")
