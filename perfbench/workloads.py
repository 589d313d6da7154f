"""The workloads, each a list of operations over generated inputs.

An operation is one call through a public entry point —
``plans.pipeline.run_pipeline`` for a YAML-shaped config, or one
``anovos_spark.queries`` registry query — whose outputs are collected to
pandas inside the timed region.  ``Op.run`` returns ``{output name:
pandas frame}``; checking happens after the pass, outside the timing.

Every call goes through a module attribute at call time (``pipeline.
run_pipeline``, ``queries.registry()[name]``) so that the traced run's
wrappers see it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd


@dataclass
class Op:
    name: str
    layer: str  # the span the benchmark opens around the call
    run: Callable[[], dict[str, pd.DataFrame]]
    oracle: bool = False  # first-pass result is checked against DuckDB
    # outputs written to disk: {output name: parquet path}, read back
    # after the pass, outside the timing
    files: dict[str, str] = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    why: str
    ops: Callable[["Context"], list[Op]]
    prepare: Callable[["Context"], None] = lambda ctx: None
    reset: Callable[["Context"], None] = lambda ctx: None
    # directories the workload writes; their size is sources.io.output_mb
    outputs: Callable[["Context"], list[str]] = lambda ctx: []


@dataclass
class Context:
    spark: object
    data: str  # generated inputs (read-only)
    work: str  # this run's mutable state: write targets, index, scratch


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _query_op(ctx: Context, name: str) -> Op:
    def run():
        from anovos_spark import queries

        return {name: queries.registry()[name](ctx.spark, ctx.data).toPandas()}

    return Op(name, "queries", run, oracle=True)


def _pipeline_op(ctx: Context, name: str, config: dict, write_to: str | None) -> Op:
    """Run ``config`` through ``run_pipeline`` and collect every frame it
    registered, every quality report and, when it writes one, the main
    output (read back after the pass)."""

    def run():
        from anovos_spark.plans import pipeline
        from anovos_spark.plans.stats_store import StatsStore

        class Store(StatsStore):
            def put(self, dataset_key, stat_name, df, persist=True):
                names.append(stat_name)
                return super().put(dataset_key, stat_name, df, persist)

        names: list[str] = []
        res = pipeline.run_pipeline(ctx.spark, config, Store(ctx.spark))
        out = {n: res.stats.get("main", n).toPandas() for n in names}
        for n, frame in res.quality_reports.items():
            out[f"quality.{n}"] = frame.toPandas()
        return out

    return Op(name, "plans.pipeline", run, files={"main": write_to} if write_to else {})


# ---- profile_ml --------------------------------------------------------- #
def _profile_config(ctx: Context) -> dict:
    num = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    base = {"file_path": f"{ctx.data}/baseline.parquet", "file_type": "parquet"}
    return {
        "input_dataset": {
            "read": {"file_path": f"{ctx.data}/lineitem.parquet", "file_type": "parquet"},
            "select_columns": ["l_orderkey", *num, "l_returnflag", "l_linestatus"],
            "recast_columns": {"l_quantity": "double"},
        },
        "quality_checker": {
            "outlier_detection": {
                "list_of_cols": num,
                "treatment": True,
                "treatment_method": "value_replacement",
            },
        },
        "stats_generator": {"metrics": ["measures_of_counts"]},
        "transformers": {"z_standardization": {"list_of_cols": ["l_extendedprice"]}},
        "association_evaluator": {"correlation_matrix": {"list_of_cols": num}},
        "variable_clustering": {"list_of_cols": num},
        "report_frames": {"frequency": {"col": "l_returnflag"}},
        "drift_detector": {
            "baseline_read": base,
            "list_of_cols": ["l_quantity", "l_extendedprice"],
            "bin_size": 10,
        },
        "write_main": {
            "file_path": f"{ctx.work}/profile_out",
            "file_type": "parquet",
            "mode": "overwrite",
        },
    }


# one fit-heavy query per broadcast-GEMM copy: KNN distances
# (transformers_ml), the embedded feature recommender (featrec), brute
# top-k and near-dup pairs (similarity)
ML_QUERIES = [
    "knn_imputation",
    "feature_recommender_gemm",
    "ann_cosine_topk",
    "embedding_near_dup",
]


def _profile_ml_ops(ctx: Context) -> list[Op]:
    profile = _pipeline_op(ctx, "profile_yaml", _profile_config(ctx), f"{ctx.work}/profile_out")
    return [profile] + [_query_op(ctx, q) for q in ML_QUERIES]


# ---- text_events -------------------------------------------------------- #
def _text_config(ctx: Context) -> dict:
    return {
        "input_dataset": {
            "read": {"file_path": f"{ctx.data}/documents.parquet", "file_type": "parquet"},
        },
        "text_pipeline": {
            "normalize_text": {"text_col": "text"},
            "pii_redact": {"text_col": "text", "id_col": "doc_id"},
            "incremental_dedup": {
                "index_path": f"{ctx.work}/mh_index", "id_col": "doc_id", "threshold": 0.5,
            },
        },
        "write_main": {
            "file_path": f"{ctx.work}/text_out",
            "file_type": "parquet",
            "mode": "overwrite",
        },
    }


def _events_config(ctx: Context) -> dict:
    return {
        "input_dataset": {
            "read": {"file_path": f"{ctx.data}/events.parquet", "file_type": "parquet"},
        },
        "events_pipeline": {
            "funnel": {
                "user_col": "user_id", "type_col": "event_type", "ts_col": "ts",
                "steps": ["signup", "click", "purchase"], "within_seconds": 86400,
            },
        },
        "constraints": {
            "rules": [
                {"type": "not_null", "col": "event_id"},
                {"type": "unique", "col": "event_id"},
                {"type": "in_set", "col": "event_type",
                 "values": ["signup", "click", "view", "error", "purchase"]},
            ],
            "fail_on_violation": False,
        },
    }


def _text_events_ops(ctx: Context) -> list[Op]:
    return [
        _pipeline_op(ctx, "text_yaml", _text_config(ctx), f"{ctx.work}/text_out"),
        _pipeline_op(ctx, "events_yaml", _events_config(ctx), None),
        # replays the micro-batch files into a watermarked window aggregate
        _query_op(ctx, "streaming_window_agg"),
    ]


def _text_events_prepare(ctx: Context) -> None:
    """Build the seeded pre-built signature index once; every pass starts
    from a copy of it."""
    from anovos_spark.operators.dedup import minhash_index_update

    prior = ctx.spark.read.parquet(f"{ctx.data}/index_docs.parquet")
    minhash_index_update(None, prior).write.parquet(f"{ctx.work}/mh_index_template")


def _text_events_reset(ctx: Context) -> None:
    """Without this, a pass would screen against the previous pass's index
    and replay into the previous pass's streaming checkpoints."""
    for d in ("text_out", "mh_index", "scratch"):
        _rmtree(f"{ctx.work}/{d}")
    shutil.copytree(f"{ctx.work}/mh_index_template", f"{ctx.work}/mh_index")
    os.makedirs(f"{ctx.work}/scratch")


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "profile_ml",
            "anovos core YAML profile (scan/aggregate bound, one write) plus one "
            "fit-heavy registry query per broadcast-GEMM copy (Arrow workers, "
            "driver fits)",
            _profile_ml_ops,
            reset=lambda ctx: _rmtree(f"{ctx.work}/profile_out"),
            outputs=lambda ctx: [f"{ctx.work}/profile_out"],
        ),
        Workload(
            "text_events",
            "text YAML screening against a pre-built index (writes index and "
            "output), events YAML and a file-stream window aggregate",
            _text_events_ops,
            prepare=_text_events_prepare,
            reset=_text_events_reset,
            outputs=lambda ctx: [f"{ctx.work}/text_out", f"{ctx.work}/mh_index"],
        ),
    ]
}
