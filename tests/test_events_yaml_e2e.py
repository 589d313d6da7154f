"""Round-trip of examples/events_pipeline.yaml at sf0.1: run the FULL
YAML config through run_pipeline, then differential-check the produced
stage frames against the registry's DuckDB oracle SQL on the same
parquet — the YAML surface cannot drift from the operator surface (or
from the oracles) without this failing.

The stage parameters in the YAML are the registry queries' parameters,
so the oracle SQL for funnel_analysis / cohort_retention /
time_weighted_avg / scd2_versions applies verbatim; frames are
normalized the way ``tools/run_registry.py --check oracle`` normalizes
(columns sorted by name, rows sorted, floats rounded to 6)."""

import math
import os

import duckdb
import pytest

# default sf0.1; point SPARK_GRAFT_E2E_SF_DIR at .scaledata/sf1 to run the
# same full-pipeline differential at 6M rows (pinned as E2E_SF1_r09.txt)
SF01 = os.environ.get("SPARK_GRAFT_E2E_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
YAML_PATH = os.path.join(ROOT, "examples", "events_pipeline.yaml")


def _norm(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = []
    for _, r in df_pandas[cols].iterrows():
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(None if math.isnan(v) else round(v, 6))
            else:
                vals.append(v)
        rows.append(tuple(vals))
    return cols, sorted(rows, key=lambda t: tuple((x is None, str(x)) for x in t))


@pytest.fixture(scope="module")
def events_result(spark):
    yaml = pytest.importorskip("yaml")
    with open(YAML_PATH) as fh:
        cfg = yaml.safe_load(fh)
    cfg["input_dataset"]["read"]["file_path"] = f"{SF01}/events.parquet"
    from anovos_spark.plans.pipeline import run_pipeline

    return run_pipeline(spark, cfg)


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    path = f"{SF01}/events.parquet"
    if os.path.isdir(path):  # Spark-written dirs (e.g. .scaledata/sf1)
        path += "/*.parquet"
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    return con


def _compare(spark_df, con, sql):
    scols, srows = _norm(spark_df.toPandas())
    ocols, orows = _norm(con.execute(sql).fetchdf())
    assert scols == ocols
    assert len(srows) == len(orows)
    for a, b in zip(srows, orows):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (a, b)
            else:
                assert str(x) == str(y), (a, b)


def test_yaml_funnel_matches_oracle(events_result, oracle_con):
    from anovos_spark.oracles import registry

    frame = events_result.stats.get("main", "funnel")
    _compare(frame, oracle_con, registry()["funnel_analysis"])


def test_yaml_cohort_matches_oracle(events_result, oracle_con):
    from pyspark.sql import functions as F

    from anovos_spark.oracles import registry

    frame = events_result.stats.get("main", "cohort_retention").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "period_idx", "n_users", "retention",
    )
    _compare(frame, oracle_con, registry()["cohort_retention"])


def test_yaml_twa_matches_oracle(events_result, oracle_con):
    from anovos_spark.oracles import registry

    frame = events_result.stats.get("main", "time_weighted_avg")
    _compare(frame, oracle_con, registry()["time_weighted_avg"])


def test_yaml_scd2_matches_oracle(events_result, oracle_con):
    from pyspark.sql import functions as F

    from anovos_spark.oracles import registry

    frame = events_result.stats.get("main", "scd2").select(
        "user_id", "event_type", "valid_from",
        F.coalesce(
            "valid_to", F.lit("2200-01-01 00:00:00").cast("timestamp")
        ).alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )
    _compare(frame, oracle_con, registry()["scd2_versions"])


def test_yaml_constraints_report(events_result, oracle_con):
    rep = {r["rule_idx"]: r for r in
           events_result.stats.get("main", "constraints").collect()}
    assert len(rep) == 3
    # replay the three rules in DuckDB
    nulls, dups, outside = oracle_con.execute(
        """
        SELECT
          (SELECT count(*) FROM events WHERE event_id IS NULL),
          (SELECT count(*) FROM (
             SELECT event_id FROM events GROUP BY 1 HAVING count(*) > 1)),
          (SELECT count(*) FROM events WHERE event_type NOT IN
             ('signup', 'click', 'view', 'error', 'purchase'))
        """
    ).fetchone()
    assert rep[0]["passed"] == int(nulls == 0)
    assert rep[1]["passed"] == int(dups == 0)
    assert rep[2]["passed"] == int(outside == 0)


def test_yaml_frames_are_jvm_local(events_result):
    """No stats frame of the events run replays Python rows through a
    Python worker: the constraints report and the funnel's step frame are
    LocalRelations (the funnel joins its step frame to the counts)."""
    from tests.plan_guard import python_row_leaves

    frames = events_result.stats._cache
    assert {("main", "funnel"), ("main", "constraints")} <= set(frames)
    for key, df in frames.items():
        assert not python_row_leaves(df), key
