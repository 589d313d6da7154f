"""A repeated pipeline run reuses the generated code of the first.

Spark caches Janino-compiled classes by generated source, in an LRU sized
by the static conf ``spark.sql.codegen.cache.maxEntries``.  The engine's
``DEFAULT_CONF`` sizes it above one profile pass; at Spark's default of 100
a second run of the same config recompiles most of its classes.  The test
also catches an operator that puts per-run values into generated code
(an unseeded ``rand()``, a timestamp literal, a fresh temp path): its
classes would differ, and compile, on every run.
"""

from anovos_spark.plans.pipeline import run_pipeline
from anovos_spark.plans.stats_store import StatsStore

NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _profile_config(sf_dir, baseline, out):
    return {
        "input_dataset": {
            "read": {"file_path": f"{sf_dir}/lineitem.parquet", "file_type": "parquet"},
            "select_columns": ["l_orderkey", *NUM, "l_returnflag", "l_linestatus"],
            "recast_columns": {"l_quantity": "double"},
        },
        "quality_checker": {
            "outlier_detection": {
                "list_of_cols": NUM,
                "treatment": True,
                "treatment_method": "value_replacement",
            },
        },
        "stats_generator": {"metrics": ["measures_of_counts"]},
        "transformers": {"z_standardization": {"list_of_cols": ["l_extendedprice"]}},
        "association_evaluator": {"correlation_matrix": {"list_of_cols": NUM}},
        "variable_clustering": {"list_of_cols": NUM},
        "report_frames": {"frequency": {"col": "l_returnflag"}},
        "drift_detector": {
            "baseline_read": {"file_path": baseline, "file_type": "parquet"},
            "list_of_cols": ["l_quantity", "l_extendedprice"],
            "bin_size": 10,
        },
        "write_main": {"file_path": out, "file_type": "parquet", "mode": "overwrite"},
    }


def _run_and_collect(spark, config):
    """Run the pipeline and collect every frame it registered."""
    names = []

    class Store(StatsStore):
        def put(self, dataset_key, stat_name, df, persist=True):
            names.append(stat_name)
            return super().put(dataset_key, stat_name, df, persist)

    res = run_pipeline(spark, config, Store(spark))
    frames = {n: res.stats.get("main", n).collect() for n in names}
    frames.update({f"quality.{n}": f.collect() for n, f in res.quality_reports.items()})
    spark.catalog.clearCache()
    return frames


def test_second_pipeline_run_compiles_nothing(spark, sf_dir, tmp_path):
    baseline = str(tmp_path / "baseline")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").where("l_orderkey % 3 = 0").write.parquet(
        baseline
    )
    config = _profile_config(sf_dir, baseline, str(tmp_path / "out"))
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    count = compiles.METRIC_COMPILATION_TIME().getCount

    first = _run_and_collect(spark, config)
    before = count()
    second = _run_and_collect(spark, config)
    assert count() - before == 0
    assert second.keys() == first.keys()
    assert "correlation_matrix" in first and "drift_statistics" in first
