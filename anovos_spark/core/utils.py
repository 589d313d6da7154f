"""Shared frame utilities: melt, transpose, pairwise reduce, local frames.

Reference parity: flatten_dataframe / transpose_dataframe / pairwise_reduce
(reference: shared/utils.py:6-45, 113-132), rebuilt on modern primitives
(`stack` expression instead of create_map+explode — one codegen stage, no
map materialization).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ensure_list(x) -> list:
    if x is None:
        return []
    if isinstance(x, str):
        return [c.strip() for c in x.split("|") if c.strip()]
    return list(x)


def melt(
    df: DataFrame,
    id_vars: list[str],
    value_vars: list[str],
    var_name: str = "attribute",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long unpivot via a single `stack` expression.

    All value columns are cast to a common type (string if mixed, else the
    widest numeric).  Equivalent to the reference's create_map+explode melt
    (shared/utils.py:21-24) but stays in one whole-stage-codegen span.
    """
    dtypes = dict(df.dtypes)
    vtypes = {dtypes[c] for c in value_vars}
    target = vtypes.pop() if len(vtypes) == 1 else "string"
    n = len(value_vars)
    pairs = ", ".join(f"'{c}', cast(`{c}` as {target})" for c in value_vars)
    stack_expr = f"stack({n}, {pairs}) as ({var_name}, {value_name})"
    return df.select(*id_vars, F.expr(stack_expr))


def transpose(df: DataFrame, fixed_col: str) -> DataFrame:
    """Long → wide: melt all non-fixed columns then pivot on fixed_col
    (reference: shared/utils.py:28-45)."""
    value_vars = [c for c in df.columns if c != fixed_col]
    long_df = melt(df, [fixed_col], value_vars, "key", "value")
    return long_df.groupBy("key").pivot(fixed_col).agg(F.first("value"))


def pairwise_reduce(op, items: list):
    """Reduce a list with a balanced (log-depth) tree instead of left-deep.

    Keeps many-way unions/joins from building a deep skewed plan
    (reference: shared/utils.py:113-132).
    """
    items = list(items)
    if not items:
        raise ValueError("pairwise_reduce over empty list")
    while len(items) > 1:
        nxt = []
        for i in range(0, len(items) - 1, 2):
            nxt.append(op(items[i], items[i + 1]))
        if len(items) % 2 == 1:
            nxt.append(items[-1])
        items = nxt
    return items[0]


def union_by_name(dfs: list[DataFrame]) -> DataFrame:
    """Balanced multi-frame unionByName (replaces the reference's
    sc.union([df.rdd ...]) pattern, stats_generator.py:403-414)."""
    return pairwise_reduce(lambda a, b: a.unionByName(b, allowMissingColumns=False), dfs)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side Python rows as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans a ``LogicalRDD`` over a
    PythonRDD: every action on the frame starts ``defaultParallelism``
    Python-worker tasks (~0.2 s of CPU each on a 4-core box, against ~3 ms
    for a JVM task) just to unpickle a few rows, and the plan carries no
    size statistics, so a join against it is never planned as a
    broadcast.  An Arrow table crosses to the JVM once, at construction,
    and lands as a ``LocalRelation`` with real statistics — whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set.

    ``rows`` are tuples (or lists / Rows) in ``schema`` order; ``schema``
    is a ``StructType`` or a DDL string.  Columns are built with one
    ``pa.array`` each, never through pandas, so NaN and null stay
    distinct.  Top-level timestamp and date values go through Spark's own
    ``toInternal``, so a naive datetime means what it means to
    ``createDataFrame(<list>)``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    struct = schema if isinstance(schema, T.StructType) else T._parse_datatype_string(schema)
    if not isinstance(struct, T.StructType):
        raise ValueError(f"local_frame needs a struct schema, got {schema!r}")
    rows = list(rows)
    width = len(struct.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(
                f"local_frame: row {r!r} has {len(r)} values, schema has {width} fields"
            )
    columns = list(zip(*rows)) if rows else [()] * width
    arrays = []
    for f, values in zip(struct.fields, columns):
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            physical = pa.int32() if isinstance(f.dataType, T.DateType) else pa.int64()
            internal = [None if v is None else f.dataType.toInternal(v) for v in values]
            arrays.append(pa.array(internal, physical).cast(to_arrow_type(f.dataType)))
        else:
            arrays.append(pa.array(values, to_arrow_type(f.dataType)))
    table = pa.Table.from_arrays(arrays, names=struct.names)
    return spark.createDataFrame(table, schema=struct)


def fan_out(df: DataFrame) -> DataFrame:
    """Hash-repartition up to the session's default parallelism when the
    plan arrives with FEWER partitions than cores.  The key is a synthetic
    per-row hash, ``xxhash64(monotonically_increasing_id())``, so even
    fully identical rows spread evenly and no local sort is paid (see the
    comment at the repartition below).

    Why: a table small enough to sit in one parquet row group scans as ONE
    task, so a wide aggregation (30 corr pairs, a full stats battery, exact
    percentiles) runs single-core no matter how many executors exist; a
    narrow ~10 MB shuffle buys back full parallelism.  At real scale the
    scan already has >= cores partitions and this is an exact no-op — so it
    is safe to leave in 100 TB paths (it never ADDS a shuffle there).  Use
    it only in front of compute-heavy per-row or per-partition work (exact
    percentiles, exact distincts, wide co-moment batteries): the probe is
    free but the extra exchange costs ~1 s of first-run codegen, which a
    cheap sketch-based aggregation never earns back.

    It is also what sizes the engine's Arrow stages (``mapInPandas`` GEMMs):
    the stage gets one task per core, picked from the input's size and the
    core count, never a caller-chosen partition count that would run a
    100-row stage in several waves of Python-worker tasks.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        # Catalyst's logical size estimate: no RDD conversion, no job.
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_pb = int(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
            .rstrip("b")
        )
        est_partitions = max(1, size // max_pb)
    except Exception:
        size = 0
        est_partitions = df.rdd.getNumPartitions()
    # Fire only when the frame is BOTH under-parallel and cheap to move:
    # 1. under-parallel by at least 2x (`*2` hysteresis — the estimate is a
    #    rounded proxy for the real split count, and near the boundary the
    #    gain cannot repay the exchange);
    # 2. small enough that the shuffle is bounded at ~8 MB/core of
    #    estimated bytes.  The size cap is what makes this safe at scale:
    #    a data-sized frame near the parallelism boundary previously got
    #    shuffled wholesale (sf10's 60M-row numeric projection estimated
    #    4 splits on 32 cores and the unconditional `< par` fan cost
    #    29-53 s vs 11-27 s unfanned), while every genuinely small frame —
    #    the one-row-group bench tables, a 38 MB document corpus feeding
    #    compute-heavy shingling — stays well under the cap.  At 100 TB
    #    every data-sized projection exceeds the cap, so this can no
    #    longer add a data-sized shuffle anywhere.
    if est_partitions * 2 <= par and size <= 8 * 1024 * 1024 * par:
        # Hash-repartition on a per-row synthetic key instead of keyless
        # round-robin: every keyless repartition(n) first pays a LOCAL SORT
        # of its input (spark.sql.execution.sortBeforeRepartition, needed so
        # retried round-robin tasks reproduce the same row→partition map) —
        # measured 0.93 s vs 0.60-0.66 s for the hash form on the sf0.1
        # 600k-row battery scan, with 18.5k-19.1k rows/partition balance.
        # monotonically_increasing_id (partition index << 33 | row index)
        # spreads even fully-identical rows (a value-hash would send a
        # degenerate identical-doc corpus to ONE partition) and is
        # deterministic under task retry for the frames fan_out fronts:
        # every call site fans a narrow projection/filter of a (re-read-
        # stable) file scan, where row order per input split is fixed.
        return df.repartition(par, F.xxhash64(F.monotonically_increasing_id()))
    return df
