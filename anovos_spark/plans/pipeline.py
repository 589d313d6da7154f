"""YAML-driven pipeline runner.

Reference parity: main.py + workflow.py:148-871 — sections execute in
config order against a single evolving DataFrame.  Differences:
- lineage truncation between mutating stages uses localCheckpoint()
  instead of write+re-read (workflow.py:64-88) unless the stage asks for a
  materialized artifact;
- stats stages register their outputs in a StatsStore instead of loose CSV
  files (workflow.py:91-145);
- per-stage wall-time is recorded like the reference's timeit pairs
  (workflow.py:241-243).

Config shape (yaml):

    input_dataset:
      read: {file_path: ..., file_type: parquet}
      select_columns: [a, b, c]          # optional
      rename_columns: {a: a2}            # optional
      recast_columns: {b: double}        # optional
    quality_checker:
      duplicate_detection: {treatment: true, list_of_cols: all}
      outlier_detection: {treatment: true, treatment_method: value_replacement}
    stats_generator:
      metrics: [global_summary, measures_of_counts, ...]
    transformers:
      attribute_binning: {list_of_cols: [x], bin_size: 10}
      z_standardization: {list_of_cols: all}
    write_main: {file_path: ..., file_type: parquet, mode: overwrite}
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None

from anovos_spark.core.utils import local_frame
from anovos_spark.plans.stats_store import StatsStore

STATS_FNS = {
    "global_summary": "global_summary",
    "measures_of_counts": "measures_of_counts",
    "missing_count": "missing_count",
    "nonzero_count": "nonzero_count",
    "measures_of_central_tendency": "measures_of_central_tendency",
    "unique_count": "unique_count",
    "measures_of_cardinality": "measures_of_cardinality",
    "measures_of_dispersion": "measures_of_dispersion",
    "measures_of_percentiles": "measures_of_percentiles",
    "measures_of_shape": "measures_of_shape",
}

QUALITY_FNS = {
    "duplicate_detection",
    "null_rows_detection",
    "null_columns_detection",
    "outlier_detection",
    "idness_detection",
    "biasedness_detection",
    "invalid_entries_detection",
}

TRANSFORMER_FNS = {
    "attribute_binning",
    "z_standardization",
    "iqr_standardization",
    "normalization",
    "imputation_MMM",
    "feature_transformation",
    "expression_parser",
    "one_hot_encoding",
}


class PipelineResult:
    def __init__(self):
        self.df: DataFrame | None = None
        self.stats = None
        self.timings: dict[str, float] = {}
        self.quality_reports: dict[str, DataFrame] = {}
        self.join_decision: dict | None = None


def run_pipeline(
    spark: SparkSession, config: dict | str, stats_store: StatsStore | None = None
) -> PipelineResult:
    """Execute a pipeline config (dict or path to YAML)."""
    from anovos_spark.core.session import require_spark_version

    require_spark_version(spark)  # loud, not a mid-query AnalysisException
    if isinstance(config, str):
        if yaml is None:
            raise RuntimeError("pyyaml not available; pass a dict config")
        with open(config) as fh:
            config = yaml.safe_load(fh)

    from anovos_spark.operators import ingest, quality, stats, transformers
    from anovos_spark.sources.io import read_dataset, write_dataset

    result = PipelineResult()
    result.stats = stats_store or StatsStore(spark)
    df: DataFrame | None = None

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        result.timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # ---- input + ETL -------------------------------------------------- #
    inp = config.get("input_dataset", {})
    if inp:
        rd = inp["read"]
        df = timed("read", lambda: read_dataset(spark, **rd))
        if "select_columns" in inp:
            df = ingest.select_column(df, inp["select_columns"])
        if "delete_columns" in inp:
            df = ingest.delete_column(df, inp["delete_columns"])
        if "rename_columns" in inp:
            m = inp["rename_columns"]
            df = ingest.rename_column(df, list(m), list(m.values()))
        if "recast_columns" in inp:
            m = inp["recast_columns"]
            df = ingest.recast_column(df, list(m), list(m.values()))

    # ---- join / concatenate ------------------------------------------- #
    if "join_dataset" in config:
        jc = dict(config["join_dataset"])
        other = read_dataset(spark, **jc.pop("read"))
        skew = jc.get("skew")
        if skew:  # 'auto' or {mode: auto, threshold: .., salt_buckets: ..}
            opts = dict(skew) if isinstance(skew, dict) else {}

            def _auto_join():
                odf, decision = ingest.join_dataset_auto(
                    df,
                    other,
                    join_cols=jc["join_cols"],
                    join_type=jc.get("join_type", "inner"),
                    skew_threshold=float(opts.get("threshold", 50.0)),
                    salt_buckets=int(opts.get("salt_buckets", 16)),
                    sample_fraction=opts.get("sample_fraction"),
                    broadcast_smaller=jc.get("broadcast", False),
                )
                result.join_decision = decision
                return odf

            df = timed("join", _auto_join)
        else:
            df = timed(
                "join",
                lambda: ingest.join_dataset(
                    df,
                    other,
                    join_cols=jc["join_cols"],
                    join_type=jc.get("join_type", "inner"),
                    broadcast_smaller=jc.get("broadcast", False),
                ),
            )

    # ---- quality checker (mutating) ----------------------------------- #
    for name, kwargs in (config.get("quality_checker") or {}).items():
        if name not in QUALITY_FNS:
            raise ValueError(f"unknown quality check {name!r}")
        fn = getattr(quality, name)

        def stage(fn=fn, kwargs=kwargs):
            return fn(df, **(kwargs or {}))

        odf, qstats = timed(f"quality.{name}", stage)
        result.quality_reports[name] = qstats
        df = odf
    if config.get("quality_checker"):
        df = df.localCheckpoint(eager=False)

    # ---- stats battery ------------------------------------------------ #
    sg = config.get("stats_generator") or {}
    for metric in sg.get("metrics", []):
        if metric not in STATS_FNS:
            raise ValueError(f"unknown stats metric {metric!r}")
        fn = getattr(stats, STATS_FNS[metric])
        frame = timed(f"stats.{metric}", lambda fn=fn: fn(df))
        result.stats.put("main", metric, frame, persist=False)

    # ---- declarative data contracts ------------------------------------ #
    if "constraints" in config:
        from anovos_spark.operators.constraints import validate_constraints

        cc = dict(config["constraints"])
        refs = {
            name: read_dataset(spark, **spec)
            for name, spec in (cc.pop("refs", None) or {}).items()
        }
        fail_on_violation = cc.pop("fail_on_violation", False)
        report = timed(
            "constraints.validate",
            lambda: validate_constraints(df, cc["rules"], refs),
        )
        result.stats.put("main", "constraints", report, persist=False)
        if fail_on_violation:
            bad = [
                f"{r['rule_type']}({r['attribute']}) observed={r['observed']}"
                for r in report.collect()
                if not r["passed"]
            ]
            if bad:
                raise RuntimeError(
                    "data-contract violation(s): " + "; ".join(bad)
                )

    # ---- segmented profiling (analytical) ----------------------------- #
    if "grouped_summary" in config:
        gs = dict(config["grouped_summary"])
        frame = timed(
            "stats.grouped_summary", lambda: stats.grouped_summary(df, **gs)
        )
        result.stats.put("main", "grouped_summary", frame, persist=False)

    # ---- transformers (mutating) -------------------------------------- #
    for name, kwargs in (config.get("transformers") or {}).items():
        if name not in TRANSFORMER_FNS:
            raise ValueError(f"unknown transformer {name!r}")
        fn = getattr(transformers, name)

        def stage(fn=fn, kwargs=kwargs):
            out = fn(df, **(kwargs or {}))
            return out[0] if isinstance(out, tuple) else out

        df = timed(f"transform.{name}", stage)

    # ---- association evaluator (analytical, non-mutating) -------------- #
    assoc_fns = {"correlation_matrix", "iv_calculation", "ig_calculation"}
    for name, kwargs in (config.get("association_evaluator") or {}).items():
        if name not in assoc_fns:
            raise ValueError(f"unknown association evaluator {name!r}")
        from anovos_spark.operators import association

        fn = getattr(association, name)
        frame = timed(
            f"association.{name}", lambda fn=fn, kwargs=kwargs: fn(df, **(kwargs or {}))
        )
        result.stats.put("main", name, frame, persist=False)

    # ---- variable clustering (analytical) ------------------------------ #
    if "variable_clustering" in config:
        from anovos_spark.operators.varclus import variable_clustering

        vc = dict(config["variable_clustering"] or {})
        frame = timed("varclus", lambda: variable_clustering(df, **vc))
        result.stats.put("main", "variable_clustering", frame, persist=False)

    # ---- timeseries analyzer (analytical) ------------------------------ #
    if "timeseries_analyzer" in config:
        from anovos_spark.operators.timeseries import (
            ts_eligibility_check,
            ts_preprocess,
        )

        tc = dict(config["timeseries_analyzer"] or {})
        ts_col = tc.pop("ts_col", None)
        if ts_col is None:
            df, detected = ts_preprocess(df)
            ts_col = next((c for c, f in detected.items()), None)
        if ts_col is not None:
            frame = timed(
                "timeseries.eligibility",
                lambda: ts_eligibility_check(df, ts_col, **tc),
            )
            result.stats.put("main", "ts_eligibility", frame, persist=False)

    # ---- report chart frames (analytical) ------------------------------ #
    rf = config.get("report_frames") or {}
    _RF_STAGES = {"frequency", "event_rate", "outlier", "comparative_drift"}
    if set(rf) - _RF_STAGES:
        raise ValueError(
            f"unknown report_frames stage(s) {sorted(set(rf) - _RF_STAGES)}; "
            f"valid: {sorted(_RF_STAGES)}"
        )
    if rf:
        from anovos_spark.plans import report_frames as RF

        if "frequency" in rf:
            frame = timed(
                "report.frequency",
                lambda: RF.frequency_frame(df, rf["frequency"]["col"]),
            )
            result.stats.put("main", "frequency_frame", frame, persist=False)
        if "event_rate" in rf:
            er = rf["event_rate"]
            frame = timed(
                "report.event_rate",
                lambda: RF.event_rate_frame(
                    df, er["col"], er["label_col"], er.get("event_label", 1)
                ),
            )
            result.stats.put("main", "event_rate_frame", frame, persist=False)
        if "outlier" in rf:
            frame = timed(
                "report.outlier",
                lambda: RF.outlier_frame(df, rf["outlier"]["list_of_cols"]),
            )
            result.stats.put("main", "outlier_frame", frame, persist=False)
        if "comparative_drift" in rf:
            cd = dict(rf["comparative_drift"])
            base = read_dataset(spark, **cd.pop("baseline_read"))
            frame = timed(
                "report.comparative_drift",
                lambda: RF.comparative_drift_frame(df, base, cd["col"]),
            )
            result.stats.put("main", "comparative_drift_frame", frame, persist=False)

    # ---- drift vs a baseline dataset (analytical) ----------------------- #
    if "drift_detector" in config:
        from anovos_spark.operators.drift import drift_statistics

        dc = dict(config["drift_detector"])
        # the baseline dataset is the SOURCE (bins fit there); the
        # pipeline's current frame is the TARGET being checked for drift
        base = read_dataset(spark, **dc.pop("baseline_read"))
        frame = timed("drift.statistics", lambda: drift_statistics(df, base, **dc))
        result.stats.put("main", "drift_statistics", frame, persist=False)

    # ---- text / training-data pipeline stages --------------------------- #
    tp = config.get("text_pipeline") or {}
    _TEXT_STAGES = {
        "normalize_text", "pii_redact", "dedup", "boilerplate_removal",
        "cap_per_group", "token_budget_sample", "mixture_plan",
        "incremental_dedup", "temperature_sample", "hash_split",
        "heavy_hitters", "repetition_stats", "vocabulary", "ngram_counts",
        "contamination_check", "chunk_documents",
    }
    unknown = set(tp) - _TEXT_STAGES
    if unknown:
        # a typo'd stage must fail loudly, not silently skip a pipeline step
        raise ValueError(
            f"unknown text_pipeline stage(s) {sorted(unknown)}; "
            f"valid: {sorted(_TEXT_STAGES)}"
        )
    if tp:
        from anovos_spark.operators import text as TX
        from anovos_spark.operators.ingest import (
            cap_per_group,
            hash_split,
            temperature_sample,
        )

        if "normalize_text" in tp:  # mutating
            kw = dict(tp["normalize_text"] or {})
            df = timed("text.normalize", lambda: TX.normalize_text(df, **kw))
        if "pii_redact" in tp:  # mutating
            kw = dict(tp["pii_redact"] or {})
            df = timed("text.pii_redact", lambda: TX.pii_redact(df, **kw))
        if "dedup" in tp:  # mutating: detect -> components -> keep survivors
            from anovos_spark.operators.dedup import (
                apply_dedup,
                near_dup_components,
                ngram_jaccard_pairs,
            )

            kw = dict(tp["dedup"])
            id_col = kw.pop("id_col", "doc_id")
            quality_col = kw.pop("quality_col", None)

            def dedup_stage():
                pairs = ngram_jaccard_pairs(df, **kw)
                comp = near_dup_components(pairs)
                return apply_dedup(df, comp, id_col, quality_col).drop(
                    "component", "group_size"
                )

            df = timed("text.dedup", dedup_stage)
        if "boilerplate_removal" in tp:  # mutating: cross-doc line dedup
            kw = dict(tp["boilerplate_removal"])
            df = timed(
                "text.boilerplate_removal",
                lambda: TX.boilerplate_removal(df, **kw).drop(
                    "n_lines", "removed_lines", "kept_chars", "clean_md5"
                ),
            )
        if "cap_per_group" in tp:  # mutating: domain balancing
            kw = dict(tp["cap_per_group"])
            df = timed("text.cap_per_group", lambda: cap_per_group(df, **kw))
        if "token_budget_sample" in tp:  # mutating: token-denominated cap
            from anovos_spark.operators.ingest import token_budget_sample

            kw = dict(tp["token_budget_sample"])
            df = timed(
                "text.token_budget_sample", lambda: token_budget_sample(df, **kw)
            )
        if "mixture_plan" in tp:  # analytical: target-mixture rates
            from anovos_spark.operators.ingest import mixture_plan

            kw = dict(tp["mixture_plan"])
            frame = timed("text.mixture_plan", lambda: mixture_plan(df, **kw))
            result.stats.put("main", "mixture_plan", frame, persist=False)
        if "incremental_dedup" in tp:  # analytical + index maintenance
            from anovos_spark.operators.dedup import (
                minhash_index_update,
                minhash_lsh_pairs_incremental,
            )

            kw = dict(tp["incremental_dedup"])
            index_path = kw.pop("index_path")
            update_index = kw.pop("update_index", True)

            def incdedup_stage():
                try:
                    index = spark.read.parquet(index_path)
                except Exception:
                    index = None
                if index is not None:
                    # materialize BEFORE the index append below: the pairs
                    # plan lists index files lazily at execution, and must
                    # not see this batch's own signatures
                    pairs = minhash_lsh_pairs_incremental(
                        df, index, **kw
                    ).localCheckpoint(eager=True)
                else:
                    from pyspark.sql import types as T

                    id_type = df.schema[kw.get("id_col", "doc_id")].dataType
                    pairs = local_frame(
                        spark,
                        [],
                        T.StructType([
                            T.StructField("new_id", id_type),
                            T.StructField("index_id", id_type),
                            T.StructField("est_jaccard", T.DoubleType()),
                        ]),
                    )
                sig_kw = {
                    k: v for k, v in kw.items()
                    if k in ("text_col", "id_col", "n", "num_hashes")
                }
                if update_index:
                    new_sig = minhash_index_update(None, df, **sig_kw)
                    new_sig.write.mode("append").parquet(index_path)
                return pairs

            frame = timed("text.incremental_dedup", incdedup_stage)
            result.stats.put("main", "incremental_dedup_pairs", frame, persist=False)
        if "temperature_sample" in tp:  # mutating: source rebalancing
            kw = dict(tp["temperature_sample"])
            df = timed(
                "text.temperature_sample", lambda: temperature_sample(df, **kw)
            )
        if "hash_split" in tp:  # mutating (adds the fold column)
            kw = dict(tp["hash_split"])
            df = timed("text.hash_split", lambda: hash_split(df, **kw))
        if "heavy_hitters" in tp:  # analytical: exact frequent tokens
            from pyspark.sql import functions as F

            from anovos_spark.operators.sketches import heavy_hitters
            from anovos_spark.operators.text import tokens as _tokens

            kw = dict(tp["heavy_hitters"])
            text_col = kw.pop("text_col", "text")

            def hh_stage():
                tok = df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
                return heavy_hitters(tok, "token", **kw)

            frame = timed("text.heavy_hitters", hh_stage)
            result.stats.put("main", "heavy_hitters", frame, persist=False)
        if "repetition_stats" in tp:  # analytical
            kw = dict(tp["repetition_stats"] or {})
            frame = timed(
                "text.repetition_stats", lambda: TX.repetition_stats(df, **kw)
            )
            result.stats.put("main", "repetition_stats", frame, persist=False)
        if "vocabulary" in tp:  # analytical
            kw = dict(tp["vocabulary"] or {})
            frame = timed("text.vocabulary", lambda: TX.vocabulary(df, **kw))
            result.stats.put("main", "vocabulary", frame, persist=False)
        if "ngram_counts" in tp:  # analytical
            kw = dict(tp["ngram_counts"] or {})
            frame = timed("text.ngram_counts", lambda: TX.ngram_counts(df, **kw))
            result.stats.put("main", "ngram_counts", frame, persist=False)
        if "contamination_check" in tp:  # analytical, needs a benchmark read
            kw = dict(tp["contamination_check"])
            bench = read_dataset(spark, **kw.pop("benchmark_read"))
            frame = timed(
                "text.contamination_check",
                lambda: TX.contamination_check(df, bench, **kw),
            )
            result.stats.put("main", "contamination_check", frame, persist=False)
        # chunking LAST: it renames text -> chunk_text, so every analytical
        # text stage above must see the document grain
        if "chunk_documents" in tp:  # mutating: RAG-prep fan-out
            kw = dict(tp["chunk_documents"])
            df = timed("text.chunk_documents", lambda: TX.chunk_documents(df, **kw))

    # ---- event analytics (analytical; df is the event stream) ----------- #
    ep = config.get("events_pipeline") or {}
    _EVENT_STAGES = {
        "funnel", "cohort_retention", "scd2", "time_weighted_avg",
        "cusum", "sessionize", "interval_coverage",
    }
    if set(ep) - _EVENT_STAGES:
        raise ValueError(
            f"unknown events_pipeline stage(s) {sorted(set(ep) - _EVENT_STAGES)}; "
            f"valid: {sorted(_EVENT_STAGES)}"
        )
    if ep:
        from anovos_spark.operators import temporal as TP
        from anovos_spark.operators.datetime_ops import (
            cusum_changepoints,
            time_weighted_avg,
        )

        if "funnel" in ep:
            kw = dict(ep["funnel"])
            frame = timed("events.funnel", lambda: TP.funnel(df, **kw))
            result.stats.put("main", "funnel", frame, persist=False)
        if "cohort_retention" in ep:
            kw = dict(ep["cohort_retention"])
            frame = timed(
                "events.cohort", lambda: TP.cohort_retention(df, **kw)
            )
            result.stats.put("main", "cohort_retention", frame, persist=False)
        if "scd2" in ep:
            kw = dict(ep["scd2"])
            frame = timed(
                "events.scd2", lambda: TP.scd2_from_changes(df, **kw)
            )
            result.stats.put("main", "scd2", frame, persist=False)
        if "time_weighted_avg" in ep:
            kw = dict(ep["time_weighted_avg"])
            frame = timed("events.twa", lambda: time_weighted_avg(df, **kw))
            result.stats.put("main", "time_weighted_avg", frame, persist=False)
        if "cusum" in ep:
            kw = dict(ep["cusum"])
            frame = timed("events.cusum", lambda: cusum_changepoints(df, **kw))
            result.stats.put("main", "cusum", frame, persist=False)
        if "sessionize" in ep:
            kw = dict(ep["sessionize"])
            frame = timed("events.sessionize", lambda: TP.sessionize(df, **kw))
            result.stats.put("main", "sessions", frame, persist=False)
        if "interval_coverage" in ep:
            kw = dict(ep["interval_coverage"])
            frame = timed(
                "events.interval_coverage",
                lambda: TP.interval_coverage(df, **kw),
            )
            result.stats.put("main", "interval_coverage", frame, persist=False)

    # ---- reference-layout report artifact tree -------------------------- #
    if "report_bundle" in config:
        from anovos_spark.plans.report import report_bundle

        rb = dict(config["report_bundle"])
        timed("report.bundle", lambda: report_bundle(df, **rb))

    # ---- self-contained HTML report (reference: ml_anovos_report.html) -- #
    if "report_html" in config:
        from anovos_spark.plans.report_html import anovos_report

        rh = dict(config["report_html"])
        out_dir = rh.pop("output_path")
        timed("report.html", lambda: anovos_report(df, out_dir, **rh))

    # ---- output -------------------------------------------------------- #
    if "write_main" in config:
        wm = dict(config["write_main"])
        path = wm.pop("file_path")
        ftype = wm.pop("file_type", "parquet")
        timed(
            "write",
            lambda: write_dataset(df, path, ftype, file_configs=wm or {"mode": "overwrite"}),
        )

    result.df = df
    return result
