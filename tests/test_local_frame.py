"""local_frame: driver-side Python rows become a JVM LocalRelation that
holds the same values createDataFrame(<list>) would, with or without the
session's Arrow setting."""

import datetime as dt
import math

import pytest

from anovos_spark.core.utils import local_frame
from tests.plan_guard import python_row_leaves

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(params=["false", "true"])
def arrow(spark, request):
    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, request.param)
    yield request.param
    spark.conf.set(ARROW, before)


def test_local_frame_is_local_relation(spark, arrow):
    df = local_frame(spark, [("a", 1), ("b", 2)], "k string, v int")
    plan = _optimized(df)
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan
    assert not python_row_leaves(df)
    # the plan guard the pipeline tests use does flag the list path
    assert python_row_leaves(spark.createDataFrame([("a", 1)], "k string, v int"))
    # real size statistics, not spark.sql.defaultSizeInBytes
    assert int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) < 1024
    assert sorted(df.collect()) == [("a", 1), ("b", 2)]


def test_local_frame_nan_and_null_stay_distinct(spark, arrow):
    df = local_frame(
        spark, [("nan", float("nan")), ("null", None), ("one", 1.0)], "k string, v double"
    )
    got = {r["k"]: r["v"] for r in df.collect()}
    assert math.isnan(got["nan"])
    assert got["null"] is None
    assert got["one"] == 1.0
    counts = df.selectExpr(
        "count_if(isnan(v)) AS n_nan", "count_if(v IS NULL) AS n_null"
    ).collect()[0]
    assert (counts["n_nan"], counts["n_null"]) == (1, 1)


def test_local_frame_empty_rows_keep_schema(spark):
    ddl = "attribute string, bin int, bin_lo double, density double"
    df = local_frame(spark, [], ddl)
    assert df.count() == 0
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert _optimized(df).startswith("LocalRelation")


def test_local_frame_array_and_nested_columns(spark):
    ddl = (
        "cell int, centroid array<double>, pt struct<x: double, tag: string>, "
        "m map<string, bigint>, tags array<string>"
    )
    rows = [
        (0, [0.5, float("nan"), -1.0], (1.5, "a"), {"n": 3}, ["x", None]),
        (1, [], None, None, None),
        (2, None, (None, None), {}, []),
    ]
    got = sorted(local_frame(spark, rows, ddl).collect(), key=lambda r: r["cell"])
    want = sorted(spark.createDataFrame(rows, ddl).collect(), key=lambda r: r["cell"])
    assert got[0]["centroid"][0] == 0.5 and math.isnan(got[0]["centroid"][1])
    assert got[0]["pt"]["tag"] == "a" and got[0]["m"] == {"n": 3}
    # NaN != NaN, so compare everything but the first centroid
    assert [r.asDict() for r in got[1:]] == [r.asDict() for r in want[1:]]
    assert got[0]["tags"] == want[0]["tags"] and got[0]["pt"] == want[0]["pt"]


def test_local_frame_timestamps_and_dates_match_list_path(spark):
    ddl = "ts timestamp, d date, ntz timestamp_ntz"
    rows = [
        (dt.datetime(2024, 3, 10, 1, 30, 0, 123456), dt.date(2024, 1, 2),
         dt.datetime(2024, 3, 10, 1, 30)),
        (dt.datetime(2024, 3, 10, 12, 0, tzinfo=dt.timezone.utc), dt.date(1960, 5, 5),
         dt.datetime(1969, 12, 31, 23, 59, 59, 5)),
        (None, None, None),
    ]
    as_text = "string(ts) AS ts", "string(d) AS d", "string(ntz) AS ntz"
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.collect() == want.collect()
    assert got.selectExpr(*as_text).collect() == want.selectExpr(*as_text).collect()


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 fields"):
        local_frame(spark, [("a", 1), ("b",)], "k string, v int")


def test_engine_builds_no_frames_from_python_rows():
    """Every createDataFrame call in the engine is local_frame's own, or the
    one that passes a pandas frame (dedup's component relabel)."""
    import ast
    import collections
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "anovos_spark"
    calls = collections.Counter()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                calls[path.relative_to(root).as_posix()] += 1
    assert calls == {"core/utils.py": 1, "operators/dedup.py": 1}
