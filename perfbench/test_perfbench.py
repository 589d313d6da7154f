"""Self-tests for the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start one benchmark process per workload and trace mode,
about a minute each; deselect them with ``-k "not smoke"``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from checks import compare, digest  # noqa: E402
from spans import Span, layer_metrics, self_segments  # noqa: E402


def _tables(path: str) -> dict[str, pd.DataFrame]:
    out = {}
    for entry in sorted(os.listdir(path)):
        if entry.endswith(".parquet"):
            out[entry] = pd.read_parquet(os.path.join(path, entry))
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = _tables(gen.ensure_inputs(str(tmp_path / "a"), workload, 7))
    b = _tables(gen.ensure_inputs(str(tmp_path / "b"), workload, 7))
    c = _tables(gen.ensure_inputs(str(tmp_path / "c"), workload, 8))
    assert a.keys() == b.keys() == c.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert any(digest(a[n]) != digest(c[n]) for n in a)
    # row counts are the workload's, not the seed's
    assert {n: len(f) for n, f in a.items()} == {n: len(f) for n, f in c.items()}


def test_event_batches_split_at_seeded_points(tmp_path):
    def cuts(seed):
        d = gen.ensure_inputs(str(tmp_path / str(seed)), "text_events", seed)
        parts = sorted(os.listdir(os.path.join(d, "events.parquet")))
        return [len(pd.read_parquet(os.path.join(d, "events.parquet", p))) for p in parts]

    assert len(cuts(1)) == 8 and sum(cuts(1)) == gen.SIZES["text_events"]["events"]
    assert cuts(1) != cuts(2)


def _frame(rng, n=200):
    return pd.DataFrame({
        "k": rng.integers(0, 20, n),
        "x": rng.standard_normal(n),
        "s": rng.choice(["a", "b", None], n),
    })


def test_digest_ignores_row_order_and_partitioning():
    rng = np.random.default_rng(0)
    df = _frame(rng)
    shuffled = df.sample(frac=1.0, random_state=3).reset_index(drop=True)
    # reassembling per-partition results in another order, as a different
    # partition count does, only reorders rows
    parts = [df.iloc[i::7] for i in range(7)]
    repartitioned = pd.concat(parts[::-1], ignore_index=True)
    assert digest(df) == digest(shuffled) == digest(repartitioned)
    assert digest(df[["x", "k", "s"]]) == digest(df)


def test_smoke_digest_is_the_same_for_any_spark_partition_count():
    from anovos_spark.core.session import get_session

    spark = get_session(master="local[2]")
    try:
        df = spark.createDataFrame(_frame(np.random.default_rng(1)))
        want = digest(df.toPandas())
        for n in (1, 3, 8):
            assert digest(df.repartition(n).toPandas()) == want
    finally:
        spark.stop()


def test_digest_rounds_to_six_decimals_and_sees_changes():
    df = pd.DataFrame({"x": [0.1 + 0.2, -0.0, float("nan")]})
    same = pd.DataFrame({"x": [0.3, 0.0, None]})
    assert digest(df) == digest(same)
    assert digest(df) != digest(pd.DataFrame({"x": [0.300002, 0.0, None]}))
    assert compare(df, same) is None
    assert compare(df, same.iloc[:2]) is not None


def test_self_time_arithmetic_on_a_synthetic_tree():
    # root(0..10, pipeline) > a(1..4, stats) > b(2..3, stats)
    #                       > c(5..9, drift)
    spans = [
        Span("plans.pipeline", "run", 0.0, 10.0, None, [1, 3]),
        Span("operators.stats", "a", 1.0, 4.0, 0, [2]),
        Span("operators.stats", "b", 2.0, 3.0, 1, []),
        Span("operators.drift", "c", 5.0, 9.0, 0, []),
    ]
    segs = self_segments(spans)
    assert sum(b - a for a, b, _ in segs) == pytest.approx(10.0)
    jobs = [
        {"start": 2.5, "end": 3.5, "shuffle_write_bytes": 2e6},  # in b, spills into a
        {"start": 6.0, "end": 7.0, "shuffle_write_bytes": 0},  # in c
    ]
    cpu = [(0.0, 0.0), (10.0, 5.0)]  # 0.5 CPU-s per second, everywhere
    m = layer_metrics(spans, jobs, cpu, -1.0, 11.0)
    assert m["plans.pipeline"]["wall_s"] == pytest.approx(10.0)
    assert m["plans.pipeline"]["self_s"] == pytest.approx(3.0)  # 0-1, 4-5, 9-10
    # nested same-layer spans count once in wall time, fully in self time
    assert m["operators.stats"]["wall_s"] == pytest.approx(3.0)
    assert m["operators.stats"]["self_s"] == pytest.approx(3.0)
    assert m["operators.drift"]["self_s"] == pytest.approx(4.0)
    # job 1 runs 2.5-3.5, job 2 runs 6-7
    assert m["operators.stats"]["driver_s"] == pytest.approx(2.0)
    assert m["operators.drift"]["driver_s"] == pytest.approx(3.0)
    assert m["operators.stats"]["jobs"] == 1
    assert m["operators.stats"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["operators.drift"]["py_worker_cpu_s"] == pytest.approx(2.0)
    # outside every span: -1..0 and 10..11
    assert m["pass"]["driver_s"] == pytest.approx(2.0)
    selfs = sum(v["self_s"] for k, v in m.items() if k != "pass")
    assert selfs + m["pass"]["driver_s"] == pytest.approx(m["pass"]["wall_s"])


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench, {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def test_benchmark_json_matches_the_reported_names():
    from metrics import END_TO_END, per_layer_names
    from workloads import WORKLOADS

    bench, declared = _declared()
    assert declared[0] == END_TO_END
    assert declared[1] == per_layer_names()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_smoke_pass_emits_every_metric(workload, trace):
    _, declared = _declared()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == declared[trace]
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
