import os

import pytest
from pyspark.sql import functions as F

from anovos_spark.plans.feature_export import add_timestamp_columns, export_feature_defs
from anovos_spark.plans.pipeline import run_pipeline
from anovos_spark.plans.report import basic_report
from anovos_spark.plans.stats_store import StatsStore
from tests.plan_guard import python_row_leaves


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out_parquet")
    config = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/lineitem.parquet", "file_type": "parquet"},
            "select_columns": [
                "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
                "l_returnflag",
            ],
            "rename_columns": {"l_returnflag": "flag"},
            "recast_columns": {"l_quantity": "double"},
        },
        "quality_checker": {
            "duplicate_detection": {"treatment": False},
        },
        "stats_generator": {"metrics": ["measures_of_counts", "measures_of_dispersion"]},
        "transformers": {
            "z_standardization": {"list_of_cols": ["l_extendedprice"]},
            "feature_transformation": {"list_of_cols": ["l_quantity"], "method_type": "sqrt"},
        },
        "write_main": {"file_path": out, "file_type": "parquet", "mode": "overwrite"},
    }
    res = run_pipeline(spark, config)
    assert res.df is not None
    assert "flag" in res.df.columns
    assert "quality.duplicate_detection" in res.timings
    assert res.stats.get("main", "measures_of_counts") is not None
    written = spark.read.parquet(out)
    assert written.count() == res.df.count()
    # z-scaled column has ~0 mean
    assert abs(written.agg(F.avg("l_extendedprice")).collect()[0][0]) < 1e-6


def test_pipeline_yaml_roundtrip(spark, sf_dir, tmp_path):
    import yaml

    cfg_path = str(tmp_path / "cfg.yaml")
    cfg = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/orders.parquet", "file_type": "parquet"},
        },
        "stats_generator": {"metrics": ["global_summary"]},
    }
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    res = run_pipeline(spark, cfg_path)
    assert res.df.count() > 0
    assert res.stats.get("main", "global_summary") is not None


def test_pipeline_example_yaml(spark, tmp_path):
    """The checked-in examples/pipeline.yaml runs end to end, exercising
    quality treatment, stats, association, drift, transformers, write."""
    import yaml

    with open(os.path.join(os.path.dirname(__file__), "..", "examples", "pipeline.yaml")) as fh:
        cfg = yaml.safe_load(fh)
    cfg["write_main"]["file_path"] = str(tmp_path / "out")
    # keep the test quick: the sf0.001 tables
    cfg["input_dataset"]["read"]["file_path"] = "/root/testdata/sf0.001/lineitem.parquet"
    res = run_pipeline(spark, cfg)
    assert res.df.count() > 0
    assert res.stats.get("main", "correlation_matrix") is not None
    drift = res.stats.get("main", "drift_statistics")
    assert {r["attribute"] for r in drift.collect()} == {"l_quantity", "l_extendedprice"}
    assert "drift.statistics" in res.timings and "association.correlation_matrix" in res.timings
    # round-2 stages: varclus + all four report chart frames
    vc = res.stats.get("main", "variable_clustering")
    assert vc is not None and vc.count() == 4
    for frame in ("frequency_frame", "event_rate_frame", "outlier_frame",
                  "comparative_drift_frame"):
        f = res.stats.get("main", frame)
        assert f is not None and f.count() > 0
    assert spark.read.parquet(cfg["write_main"]["file_path"]).count() == res.df.count()


def test_pipeline_timeseries_stage(spark):
    cfg = {
        "input_dataset": {
            "read": {
                "file_path": "/root/testdata/sf0.001/events.parquet",
                "file_type": "parquet",
                "file_configs": {"nanos_as_long": True},
            },
            "recast_columns": {"ts": "timestamp_nanos"},
        },
        "timeseries_analyzer": {"ts_col": "ts"},
    }
    res = run_pipeline(spark, cfg)
    elig = res.stats.get("main", "ts_eligibility")
    assert elig is not None and elig.count() > 0
    assert "timeseries.eligibility" in res.timings


def test_stats_store_cache_and_persist(spark, tmp_path):
    store = StatsStore(spark, str(tmp_path / "stats"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.createDataFrame([("a", 1)], "attribute string, v int")

    store.get_or_compute("ds1", "counts", compute)
    store.get_or_compute("ds1", "counts", compute)
    assert calls["n"] == 1  # memoized
    # a fresh store reads the persisted copy instead of recomputing
    store2 = StatsStore(spark, str(tmp_path / "stats"))
    df = store2.get_or_compute("ds1", "counts", compute)
    assert calls["n"] == 1
    assert df.collect()[0]["attribute"] == "a"


def test_basic_report(spark, sf_dir):
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    battery = basic_report(od, label_col="o_orderstatus", event_label="F")
    assert "global_summary" in battery
    assert "iv_calculation" in battery
    assert battery["measures_of_counts"].count() == len(od.columns)


def test_report_bundle_reference_tree(spark, sf_dir, tmp_path):
    from anovos_spark.plans.report import report_bundle

    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "report_stats")
    written = report_bundle(
        od,
        out,
        label_col="o_orderstatus",
        event_label="F",
        skip_corr_matrix=False,
        invalid_entries_cols=["o_orderpriority"],
    )
    # the reference's exact file stems (basic_report_generation.py:199-200:
    # one <func.__name__>.csv per section, camelCase preserved)
    expected = {
        "global_summary", "measures_of_counts", "measures_of_centralTendency",
        "measures_of_cardinality", "measures_of_dispersion",
        "measures_of_percentiles", "measures_of_shape",
        "duplicate_detection", "nullRows_detection", "nullColumns_detection",
        "outlier_detection", "IDness_detection", "biasedness_detection",
        "invalidEntries_detection", "IV_calculation", "IG_calculation",
        "correlation_matrix",
    }
    assert expected <= set(written)
    import csv

    for stem in expected:
        path = os.path.join(out, f"{stem}.csv")
        assert os.path.isfile(path), stem
        with open(path) as fh:
            header = next(csv.reader(fh))
        assert header, stem  # non-empty single plain CSV, not a part-dir


def test_feature_export(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.0, "x")], "uid bigint, score double, seg string")
    stamped = add_timestamp_columns(df)
    assert "event_timestamp" in stamped.columns
    path = export_feature_defs(
        stamped, "uid", "customer_features", "/data/feat.parquet", str(tmp_path)
    )
    src = open(path).read()
    assert 'Field(name="score", dtype=Float64)' in src
    assert 'join_keys=["uid"]' in src
    assert "FeatureView(" in src
    compile(src, path, "exec")  # generated file is valid python


def test_historical_features_point_in_time(spark):
    import datetime as dt

    from anovos_spark.plans.feature_export import historical_features

    def ts(d, h=0):
        return dt.datetime(2024, 1, d, h)

    feats = spark.createDataFrame(
        [
            ("u1", ts(1), 100.0),
            ("u1", ts(5), 150.0),
            ("u2", ts(3), 70.0),
        ],
        ["user_id", "event_timestamp", "balance"],
    )
    entities = spark.createDataFrame(
        [
            ("u1", ts(4)),   # sees the day-1 value, not the future day-5 one
            ("u1", ts(6)),   # sees day-5
            ("u2", ts(2)),   # before any feature row -> null
        ],
        ["user_id", "event_timestamp"],
    )
    out = {
        (r["user_id"], r["event_timestamp"]): r["balance"]
        for r in historical_features(entities, feats, "user_id").collect()
    }
    assert out[("u1", ts(4))] == 100.0   # no feature leakage from the future
    assert out[("u1", ts(6))] == 150.0
    assert out[("u2", ts(2))] is None
    # ttl bounds staleness
    out_ttl = {
        (r["user_id"], r["event_timestamp"]): r["balance"]
        for r in historical_features(
            entities, feats, "user_id", ttl="INTERVAL 1 DAY"
        ).collect()
    }
    assert out_ttl[("u1", ts(4))] is None  # 3 days stale > 1 day ttl
    assert out_ttl[("u1", ts(6))] == 150.0


def test_feature_explorer_catalog(spark):
    from anovos_spark.operators.featrec import (
        list_all_industry,
        list_all_pair,
        list_all_usecase,
        list_feature_by_industry,
        list_feature_by_usecase,
    )

    inds = [r["industry"] for r in list_all_industry(spark).collect()]
    assert "finance" in inds and inds == sorted(inds)
    ucs = [r["usecase"] for r in list_all_usecase(spark).collect()]
    assert "churn prediction" in ucs
    pairs = list_all_pair(spark).collect()
    assert ("finance", "credit scoring") in {(r["industry"], r["usecase"]) for r in pairs}
    fin = list_feature_by_industry(spark, " Finance ").collect()
    assert all(r["industry"] == "finance" for r in fin) and len(fin) >= 3
    churn = list_feature_by_usecase(spark, "churn prediction").collect()
    assert {r["industry"] for r in churn} == {"tech", "telecom"}


def test_pipeline_text_stages(spark, sf_dir):
    cfg = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/documents.parquet", "file_type": "parquet"}
        },
        "text_pipeline": {
            "normalize_text": {"text_col": "text"},
            "pii_redact": {"text_col": "text", "id_col": "doc_id"},
            "dedup": {
                "id_col": "doc_id",
                "quality_col": "n_chars",
                "threshold": 0.7,
            },
            "cap_per_group": {
                "group_cols": "source",
                "id_col": "doc_id",
                "k": 20,
            },
            "temperature_sample": {
                "group_col": "source",
                "id_col": "doc_id",
                "alpha": 0.7,
            },
            "hash_split": {
                "on_cols": "doc_id",
                "fractions": {"train": 0.9, "test": 0.1},
            },
            "repetition_stats": {"text_col": "text", "id_col": "doc_id"},
            "vocabulary": {"text_col": "text", "top_k": 50},
            "contamination_check": {
                "benchmark_read": {
                    "file_path": f"{sf_dir}/documents.parquet",
                    "file_type": "parquet",
                },
                "text_col": "text",
                "id_col": "doc_id",
            },
        },
    }
    res = run_pipeline(spark, cfg)
    assert "split" in res.df.columns and "n_redactions" in res.df.columns
    n_docs = res.df.count()
    assert 0 < n_docs <= 500  # dedup + caps only ever shrink
    caps = res.df.groupBy("source").count().agg(F.max("count")).collect()[0][0]
    assert caps <= 20
    assert set(res.stats.get("main", "vocabulary").columns) == {"token", "count", "doc_freq"}
    rep = res.stats.get("main", "repetition_stats")
    assert "top_gram_frac" in rep.columns
    # benchmark == corpus, so every doc is fully contaminated
    cont = res.stats.get("main", "contamination_check")
    row = cont.agg(F.min("contamination_frac")).collect()[0][0]
    assert row == 1.0


def test_pipeline_skew_auto_join(spark, tmp_path):
    # skewed fact: one key holds 90% of rows -> skew:auto must salt
    fact = spark.range(0, 5000).select(
        F.when(F.col("id") < 4500, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    fp, dp = str(tmp_path / "fact"), str(tmp_path / "dim")
    fact.write.parquet(fp)
    dim.write.parquet(dp)
    config = {
        "input_dataset": {"read": {"file_path": fp, "file_type": "parquet"}},
        "join_dataset": {
            "read": {"file_path": dp, "file_type": "parquet"},
            "join_cols": "k",
            "join_type": "inner",
            "skew": {"mode": "auto", "threshold": 50, "salt_buckets": 8},
        },
    }
    res = run_pipeline(spark, config)
    assert res.join_decision["strategy"] == "salted[8]"
    assert res.join_decision["skew_ratio"] > 50
    # salted plan: the join key set includes the salt column
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "__salt__" in plan
    assert res.df.count() == 5000
    # uniform key -> plain join, no salt in plan
    uni = spark.range(0, 5000).select(F.col("id").alias("k"), F.col("id").alias("payload"))
    up = str(tmp_path / "uni")
    uni.write.parquet(up)
    config["input_dataset"]["read"]["file_path"] = up
    res2 = run_pipeline(spark, config)
    assert res2.join_decision["strategy"] == "plain"
    assert "__salt__" not in res2.df._jdf.queryExecution().executedPlan().toString()
    assert res2.df.count() == 5000


def test_anovos_report_html(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from anovos_spark.plans.report_html import anovos_report

    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("label", (F.col("o_orderstatus") == "F").cast("int"))
        # hostile value: must render escaped everywhere (tables, chart
        # labels, SVG tooltips) — the report embeds one engine-authored
        # script block, so escaping is the injection barrier
        .withColumn("probe", F.lit("<script>alert(1)</script>"))
    )
    source = od.where(F.col("o_orderkey") % 2 == 0)   # drift comparison side
    from anovos_spark.operators.drift import stability_index_computation

    stability = stability_index_computation(
        [od.where(F.col("o_orderkey") % 3 == i) for i in range(3)],
        list_of_cols=["o_totalprice", "o_custkey"],
    )
    dest = anovos_report(
        od, str(tmp_path / "html_report"), label_col="label", source_df=source,
        drift_frames={"Stability index": stability},
        stability_period_frames=[
            od.where(F.col("o_orderkey") % 3 == i) for i in range(3)
        ],
    )
    assert dest.endswith("ml_anovos_report.html")
    txt = open(dest).read()
    for needle in [
        "Executive Summary",
        "Descriptive Statistics",
        "Quality Check",
        "Attribute Associations",
        "<svg",          # charts render without any plotting dependency
        "o_totalprice",  # a real attribute row made it into the tables
    ]:
        assert needle in txt
    # exactly ONE script block (the engine's own interactivity: tabs,
    # sortable headers, table filters); data values are escaped, so the
    # hostile probe value can never become a second one
    assert txt.count("<script>") == 1
    assert "<script>alert" not in txt
    assert "&lt;script&gt;alert(1)&lt;/script&gt;" in txt
    # interactivity wiring present: SVG hover tooltips + filter inputs
    assert "<title>" in txt and 'class="tfilter"' in txt
    # r5 chart inventory (reference charts_to_objects parity): per-attribute
    # frequency + event-rate bars for each low-cardinality attribute, one
    # box panel over the numerics, comparative drift per attribute, plus
    # the summary/IV charts — orders has 3 low-card string attrs
    # (status, priority, probe), so >= 3+3+1+3+2 SVGs
    n_cat = 3
    assert txt.count("<svg") >= 3 * n_cat + 1 + 2
    for needle in [
        "Frequency — o_orderstatus",
        "Event rate — o_orderpriority",
        "Outlier profile",
        "Distribution drift — o_orderstatus",
    ]:
        assert needle in txt
    # r7 plotly-grade upgrades: TRUE violin silhouettes (mirrored density
    # polygons from violin_frame, not box stand-ins) and the drift-metric
    # summary chart (grouped PSI/JSD/HD/KS bars with threshold marker) —
    # both pure stdlib SVG
    assert 'class="violin"' in txt                 # density polygon rendered
    assert "Outlier profile (violin" in txt
    assert 'class="drift-summary"' in txt          # drift overview chart
    assert "Drift metric summary" in txt
    assert 'class="drift-threshold"' in txt        # decision line drawn
    # correlation heatmap (reference px.imshow association panel)
    assert 'class="corr-heatmap"' in txt
    assert 'class="corr-cell"' in txt
    # indicator gauges (reference go.Indicator panels): per-attribute
    # stability-index gauges from the passed stability frame + the
    # drifted-feature counter above the drift summary
    assert 'class="gauge"' in txt
    assert 'class="gauge-row"' in txt
    assert "attributes drifted" in txt
    assert txt.count('class="gauge"') >= 3   # 2 stability attrs + counter
    assert "Stability index" in txt          # the frame's table rendered too
    # stability trend lines (reference go.Scatter mean/stddev per period)
    assert 'class="trend"' in txt
    assert "Stability trends across periods" in txt
    assert "<polyline" in txt


def test_anovos_report_plotly_gate(spark, sf_dir, tmp_path, monkeypatch):
    """ANOVOS_SPARK_PLOTLY=1 renders the three headline charts as
    plotly.js figure embeds from the SAME frame set the SVG path uses;
    =0 (and unset, in this plotly-less env) keeps stdlib SVG.  The
    injection barrier must hold on both paths."""
    import json as _json
    import re as _re

    from pyspark.sql import functions as F

    from anovos_spark.plans.report_html import anovos_report

    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("label", (F.col("o_orderstatus") == "F").cast("int"))
        .withColumn("probe", F.lit("</script><script>alert(1)</script>"))
    )
    source = od.where(F.col("o_orderkey") % 2 == 0)

    monkeypatch.setenv("ANOVOS_SPARK_PLOTLY", "1")
    dest = anovos_report(
        od, str(tmp_path / "plotly_report"), label_col="label", source_df=source,
        stability_period_frames=[
            od.where(F.col("o_orderkey") % 3 == i) for i in range(3)
        ],
    )
    txt = open(dest).read()
    # EVERY chart type became a figure embed; no SVG chart remains
    assert txt.count('class="plotly-fig') >= 8
    for css in ("violin-panel", "corr-heatmap", "drift-summary", "bars",
                "paired-bars", "gauge", "trend"):
        assert f'class="plotly-fig {css}"' in txt, css
    assert "<svg" not in txt               # fully plotly-rendered report
    assert "cdn.plot.ly" in txt            # loader present exactly once
    assert txt.count("Plotly.newPlot") == 1
    # figures are valid JSON with the expected trace types
    payloads = _re.findall(
        r'<script type="application/json">(.*?)</script>', txt, _re.S
    )
    types = set()
    for p in payloads:
        fig = _json.loads(p.replace("<\\/", "</"))
        types |= {t.get("type") for t in fig["data"]}
    assert {"box", "heatmap", "bar", "indicator"} <= types
    # hostile value can't close the JSON script block or start a new one
    assert "</script><script>alert" not in txt

    monkeypatch.setenv("ANOVOS_SPARK_PLOTLY", "0")
    dest2 = anovos_report(
        od, str(tmp_path / "svg_report"), label_col="label", source_df=source
    )
    txt2 = open(dest2).read()
    assert 'class="plotly-fig' not in txt2 and "cdn.plot.ly" not in txt2
    assert 'class="violin"' in txt2 and 'class="corr-heatmap"' in txt2
    assert 'class="drift-summary"' in txt2


def test_pipeline_training_data_stages(spark, sf_dir, tmp_path):
    index_path = str(tmp_path / "mh_index")
    cfg = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/documents.parquet", "file_type": "parquet"}
        },
        "text_pipeline": {
            "boilerplate_removal": {
                "text_col": "text",
                "id_col": "doc_id",
                "min_doc_frac": 0.5,
            },
            "token_budget_sample": {
                "group_col": "source",
                "id_col": "doc_id",
                "token_col": "n_chars",
                "budget": 2000,
            },
            "mixture_plan": {
                "group_col": "lang",
                "token_col": "n_chars",
                "targets": {"en": 0.5, "de": 0.2, "es": 0.1, "fr": 0.1, "zh": 0.1},
            },
            "incremental_dedup": {
                "index_path": index_path,
                "id_col": "doc_id",
                "threshold": 0.5,
            },
        },
    }
    res = run_pipeline(spark, cfg)
    budgets = res.df.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
    assert all(r["t"] <= 2000 for r in budgets)
    mp = res.stats.get("main", "mixture_plan")
    assert {"rate", "planned_tokens"} <= set(mp.columns)
    # first run bootstraps the index: no pairs, index populated
    assert res.stats.get("main", "incremental_dedup_pairs").count() == 0
    n_index = spark.read.parquet(index_path).count()
    assert n_index == res.df.count()
    # re-ingesting the SAME ids: the id-inequality guard suppresses
    # self-matches, so only the corpus's own cross-id near-dups surface
    res2 = run_pipeline(spark, cfg)
    p2 = res2.stats.get("main", "incremental_dedup_pairs").collect()
    assert all(r["new_id"] != r["index_id"] and r["est_jaccard"] >= 0.5 for r in p2)
    assert len(p2) < 0.1 * res2.df.count()
    # a genuinely new batch (same text, shifted ids) hits its sources
    shifted = str(tmp_path / "shifted.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    ).write.parquet(shifted)
    cfg3 = dict(cfg)
    cfg3["input_dataset"] = {
        "read": {"file_path": shifted, "file_type": "parquet"}
    }
    indexed = {
        r["id"] for r in spark.read.parquet(index_path).select("id").collect()
    }
    res3 = run_pipeline(spark, cfg3)
    pairs = res3.stats.get("main", "incremental_dedup_pairs").collect()
    # every run-3 survivor whose SOURCE doc made it into the index must
    # surface that source as an exact-signature match
    survivors = {r["doc_id"] for r in res3.df.select("doc_id").collect()}
    expected = {(s, s - 1000000) for s in survivors if s - 1000000 in indexed}
    exact = {(r["new_id"], r["index_id"]) for r in pairs if r["est_jaccard"] == 1.0}
    assert expected and expected <= exact


def test_pipeline_rejects_unknown_stage_keys(spark, sf_dir):
    import pytest as _p

    base = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/documents.parquet", "file_type": "parquet"}
        }
    }
    with _p.raises(ValueError, match="unknown text_pipeline stage"):
        run_pipeline(spark, {**base, "text_pipeline": {"boilerplate_removel": {}}})
    with _p.raises(ValueError, match="unknown report_frames stage"):
        run_pipeline(spark, {**base, "report_frames": {"frequencyy": {"col": "lang"}}})


def test_pipeline_constraints_gate(spark, sf_dir):
    import pytest as _p

    base = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/orders.parquet", "file_type": "parquet"}
        },
        "constraints": {
            "rules": [
                {"type": "not_null", "col": "o_orderkey"},
                {"type": "in_range", "col": "o_totalprice", "min": 0, "max": 100},
            ],
            "fail_on_violation": True,
        },
    }
    with _p.raises(RuntimeError, match="data-contract violation"):
        run_pipeline(spark, base)
    # soft mode records the report instead of failing
    base["constraints"]["fail_on_violation"] = False
    res = run_pipeline(spark, base)
    rep = {r["rule_idx"]: r["passed"] for r in
           res.stats.get("main", "constraints").collect()}
    assert rep == {0: 1, 1: 0}


def test_pipeline_events_stages(spark, sf_dir):
    cfg = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/events.parquet", "file_type": "parquet"}
        },
        "events_pipeline": {
            "funnel": {
                "user_col": "user_id", "type_col": "event_type",
                "ts_col": "ts", "steps": ["signup", "click", "purchase"],
            },
            "cohort_retention": {
                "user_col": "user_id", "ts_col": "ts", "period": "week",
            },
            "scd2": {
                "key_cols": "user_id", "attr_cols": "event_type",
                "ts_col": "ts", "tiebreak_cols": "event_id",
            },
            "time_weighted_avg": {
                "group_col": "user_id", "ts_col": "ts", "value_col": "value",
            },
            "cusum": {
                "group_col": "user_id", "ts_col": "ts", "value_col": "value",
                "target": 50.0, "threshold": 200.0,
                "tiebreak_cols": "event_id",
            },
        },
    }
    res = run_pipeline(spark, cfg)
    assert res.stats.get("main", "funnel").count() == 3
    assert res.stats.get("main", "cohort_retention").count() >= 1
    assert {"valid_from", "valid_to", "is_current"} <= set(
        res.stats.get("main", "scd2").columns
    )
    assert "twa" in res.stats.get("main", "time_weighted_avg").columns
    assert "flagged" in res.stats.get("main", "cusum").columns
    import pytest as _p

    cfg["events_pipeline"] = {"funnell": {}}
    with _p.raises(ValueError, match="unknown events_pipeline stage"):
        run_pipeline(spark, cfg)



def test_pipeline_frames_are_jvm_local(spark, sf_dir):
    """Every stats frame and quality report a profile run registers is
    planned without Python-worker input: the report frames the engine
    builds from collected statistics are LocalRelations."""
    num = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    cfg = {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/lineitem.parquet", "file_type": "parquet"},
            "select_columns": ["l_orderkey", *num, "l_returnflag"],
        },
        "quality_checker": {
            "outlier_detection": {
                "list_of_cols": num, "treatment": True,
                "treatment_method": "value_replacement",
            },
        },
        "stats_generator": {"metrics": ["measures_of_counts"]},
        "association_evaluator": {"correlation_matrix": {"list_of_cols": num}},
        "variable_clustering": {"list_of_cols": num},
        "report_frames": {"frequency": {"col": "l_returnflag"}},
    }
    res = run_pipeline(spark, cfg)
    frames = {f"stats.{name}": df for (_, name), df in res.stats._cache.items()}
    frames.update({f"quality.{n}": df for n, df in res.quality_reports.items()})
    assert {"stats.correlation_matrix", "stats.variable_clustering",
            "quality.outlier_detection"} <= set(frames)
    for name, df in frames.items():
        assert not python_row_leaves(df), name
    for name in ("stats.correlation_matrix", "quality.outlier_detection"):
        plan = frames[name]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), (name, plan)

def test_text_pipeline_example_yaml(spark, tmp_path):
    """The checked-in examples/text_pipeline.yaml runs end to end — every
    stage name it references must have a live handler (the
    interval_coverage regression class) and the mutating chain must
    produce a non-empty fold-split corpus."""
    import yaml

    with open(os.path.join(os.path.dirname(__file__), "..", "examples",
                           "text_pipeline.yaml")) as fh:
        cfg = yaml.safe_load(fh)
    cfg["input_dataset"]["read"]["file_path"] = "/root/testdata/sf0.001/documents.parquet"
    cfg["text_pipeline"]["incremental_dedup"]["index_path"] = str(tmp_path / "mh_index")
    cfg["text_pipeline"]["contamination_check"]["benchmark_read"]["file_path"] = (
        "/root/testdata/sf0.001/documents.parquet"
    )
    res = run_pipeline(spark, cfg)
    out = res.df
    assert out.count() > 0
    assert "split" in out.columns  # hash_split ran last in the mutating chain
    # analytical frames landed in the stats store
    for frame in ("incremental_dedup_pairs", "mixture_plan", "repetition_stats",
                  "vocabulary", "contamination_check"):
        assert res.stats.get("main", frame) is not None, frame
    # contamination against itself: every doc is contaminated (frac 1.0)
    cont = res.stats.get("main", "contamination_check")
    assert cont.where("contamination_frac >= 0.99").count() == cont.count()


def test_pipeline_interval_coverage_stage(spark, tmp_path):
    # interval_coverage is a valid _EVENT_STAGES name, so it must actually
    # run (a validated-but-unhandled stage would silently do nothing)
    import datetime as dt

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    iv = spark.createDataFrame(
        [("a", T(0), T(2)), ("a", T(1), T(3)), ("a", T(5), T(6))],
        "k string, start_ts timestamp, end_ts timestamp",
    )
    src = str(tmp_path / "intervals")
    iv.write.parquet(src)
    cfg = {
        "input_dataset": {
            "read": {"file_path": src, "file_type": "parquet"}
        },
        "events_pipeline": {
            "interval_coverage": {
                "key_cols": "k", "start_col": "start_ts", "end_col": "end_ts",
            },
        },
    }
    res = run_pipeline(spark, cfg)
    row = res.stats.get("main", "interval_coverage").collect()[0]
    # [0,3) merged + [5,6) -> 4 h covered in 2 islands from 3 intervals
    assert row["k"] == "a" and row["n_intervals"] == 3
    assert row["n_islands"] == 2 and row["covered_seconds"] == 4 * 3600.0


def test_plotly_loader_supply_chain(tmp_path, monkeypatch):
    """r9 ADVICE: explicit opt-in gate, SRI pin via env, inline vendoring
    via env, and gauge fmt parity between renderers."""
    from anovos_spark.plans import report_plotly as RP

    # gate: unset and 0 are SVG; 1 forces plotly; auto sniffs the import
    monkeypatch.delenv("ANOVOS_SPARK_PLOTLY", raising=False)
    assert RP.plotly_enabled() is False
    monkeypatch.setenv("ANOVOS_SPARK_PLOTLY", "1")
    assert RP.plotly_enabled() is True
    monkeypatch.setenv("ANOVOS_SPARK_PLOTLY", "auto")
    try:
        import plotly  # noqa: F401

        assert RP.plotly_enabled() is True
    except ImportError:
        assert RP.plotly_enabled() is False

    # CDN tag: crossorigin always; integrity only when the env pins it
    monkeypatch.delenv("ANOVOS_SPARK_PLOTLY_JS", raising=False)
    monkeypatch.delenv("ANOVOS_SPARK_PLOTLY_SRI", raising=False)
    tag = RP.loader_script()
    assert 'crossorigin="anonymous"' in tag and "integrity=" not in tag
    monkeypatch.setenv("ANOVOS_SPARK_PLOTLY_SRI", "sha384-TEST")
    assert 'integrity="sha384-TEST"' in RP.loader_script()

    # vendoring: local file inlines, closes-safe, no CDN reference
    js = tmp_path / "plotly.min.js"
    js.write_text("window.Plotly={newPlot:function(){}};//</script>x")
    monkeypatch.setenv("ANOVOS_SPARK_PLOTLY_JS", str(js))
    inlined = RP.loader_script()
    assert "cdn.plot.ly" not in inlined
    assert "window.Plotly" in inlined
    assert "//<\\/script>x" in inlined  # escaped, can't close the block

    # gauge fmt maps onto number.valueformat ('{:.0f}' -> '.0f')
    fig = RP.plotly_gauge(3.0, 10.0, [(0.0, 10.0, "#ccc")], "t", fmt="{:.0f}")
    assert fig["data"][0]["number"]["valueformat"] == ".0f"
    fig2 = RP.plotly_gauge(3.0, 10.0, [(0.0, 10.0, "#ccc")], "t")
    assert fig2["data"][0]["number"]["valueformat"] == ".2f"
