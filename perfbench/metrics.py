"""Turn measured passes into the benchmark's metrics.

End-to-end metrics (``--trace 0``) come from untraced passes; per-layer
metrics (``--trace 1``) from the traced passes of the same run, plus
engine-wide counters taken on the untraced passes so that tracing cannot
distort them.  ``END_TO_END`` and ``per_layer_names()`` list both sets
with their units; the self-tests check ``BENCHMARK.json`` against them.
"""

from __future__ import annotations

import statistics

from spans import LAYERS, QUERY_LAYER, function_self_s, layer_metrics

MB = 1 << 20
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "rows_per_s": "rows/s",
}
LAYER_UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "shuffle_write_mb": "MB",
    "py_worker_cpu_s": "s",
}
ENGINE = {
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.spill_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.stages_skipped_frac": "ratio",
    "spark.gc_s": "s",
    "spark.jit_ms": "ms",
    "spark.codegen_compiles": "count",
}


def per_layer_names() -> dict[str, str]:
    out = {"core.session.wall_s": "s"}
    for layer in (*LAYERS[1:], QUERY_LAYER):
        for key, unit in LAYER_UNITS.items():
            out[f"{layer}.{key}"] = unit
    out.update(ENGINE)
    out.update({
        "sources.io.output_mb": "MB",
        "trace.overhead_frac": "ratio",
        "failed_op_frac": "ratio",
        "pass.driver_s": "s",
        # demoted from end to end: it varies by more than a tenth between
        # runs of one workload (how many Python workers are alive at peak)
        "peak_rss_mb": "MB",
    })
    return out


class PassCounters:
    """Wraps a pass with the counters a run needs: Spark jobs and JVM
    counters when a ``SparkProbe`` is given, spans and the worker-CPU
    timeline when a recorder and sampler are given."""

    def __init__(self, probe=None):
        self.probe = probe

    def measure(self, run_pass, recorder=None, sampler=None) -> dict:
        before = None
        if self.probe is not None:
            before = (self.probe.last_job_id(), self.probe.jvm_counters())
        if sampler is not None:
            sampler.sample()
            mark = len(sampler.cpu_timeline)
        seconds, start, end = run_pass()
        rec = {"seconds": seconds, "start": start, "end": end}
        if before is not None:
            rec["jobs"] = self.probe.jobs_after(before[0])
            after = self.probe.jvm_counters()
            rec["jvm"] = {k: after[k] - before[1][k] for k in after}
        if recorder is not None:
            sampler.sample()
            rec["spans"] = recorder.take()
            rec["cpu"] = sampler.cpu_timeline[max(0, mark - 1):]
        return rec


def _engine(rec: dict) -> dict[str, float]:
    jobs = rec["jobs"]
    stages = sum(j["stages"] for j in jobs)
    return {
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "spark.spill_mb": sum(j["spill_bytes"] for j in jobs) / MB,
        "spark.shuffle_fetch_wait_s": sum(j["fetch_wait_ms"] for j in jobs) / 1e3,
        "spark.stages_skipped_frac": (
            sum(j["skipped_stages"] for j in jobs) / stages if stages else 0.0
        ),
        "spark.gc_s": rec["jvm"]["gc_ms"] / 1e3,
    }


def _median_dicts(dicts: list[dict]) -> dict:
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in dicts[0]}


def traced_layers(traced: list[dict]) -> tuple[dict[str, float], float, dict]:
    """Mean per-layer metrics over the traced passes, the largest gap
    between a pass's wall time and its self times plus pass.driver_s, and
    the mean self time of the costliest functions."""
    sums: dict[str, float] = {}
    funcs: dict[str, float] = {}
    worst_gap = 0.0
    for rec in traced:
        for k, v in function_self_s(rec["spans"]).items():
            funcs[k] = funcs.get(k, 0.0) + v / len(traced)
        per = layer_metrics(rec["spans"], rec["jobs"], rec["cpu"], rec["start"], rec["end"])
        accounted = sum(m["self_s"] for k, m in per.items() if k != "pass")
        worst_gap = max(
            worst_gap,
            abs(per["pass"]["wall_s"] - accounted - per["pass"]["driver_s"]),
        )
        for layer, m in per.items():
            for key, v in m.items():
                sums[f"{layer}.{key}"] = sums.get(f"{layer}.{key}", 0.0) + v
    top = dict(sorted(funcs.items(), key=lambda kv: -kv[1])[:20])
    return {k: v / len(traced) for k, v in sums.items()}, worst_gap, top


def report(*, trace, rows, setup_s, setup_spans, cold, warm, traced, peak_rss,
           output_bytes, attempted, failed) -> dict:
    warm_s = statistics.median(p["seconds"] for p in warm)
    detail = {"samples": {"setup_s": 1, "cold_pass_s": 1, "warm_pass_s": len(warm),
                          "rows_per_s": len(warm)}}
    if not trace:
        values = {
            "setup_s": setup_s,
            "cold_pass_s": cold["seconds"],
            "warm_pass_s": warm_s,
            "rows_per_s": rows / warm_s,
        }
        units = END_TO_END
    else:
        units = per_layer_names()
        layers, gap, top = traced_layers(traced)
        values = {k: layers.get(k, 0.0) for k in units}
        values["core.session.wall_s"] = sum(
            s.duration for s in setup_spans if s.layer == "core.session" and s.parent is None
        )
        values.update(_median_dicts([_engine(p) for p in warm]))
        values["spark.jit_ms"] = cold["jvm"]["jit_ms"]
        values["spark.codegen_compiles"] = cold["jvm"]["codegen_compiles"]
        values["sources.io.output_mb"] = output_bytes / MB
        traced_s = statistics.median(p["seconds"] for p in traced)
        values["trace.overhead_frac"] = traced_s / warm_s - 1.0
        values["failed_op_frac"] = failed / attempted
        values["peak_rss_mb"] = peak_rss / MB
        detail["samples"] = {"layers": len(traced), "engine": len(warm)}
        detail["accounting_gap_s"] = gap
        detail["top_self_s"] = top
        detail["warm_pass_s"] = warm_s
        detail["traced_pass_s"] = traced_s
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        "detail": detail,
    }

