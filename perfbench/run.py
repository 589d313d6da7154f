"""anovos_spark benchmark: seeded workloads through the engine's public
entry points, with end-to-end metrics (``--trace 0``) or per-layer
metrics from an outside-in traced run (``--trace 1``).

    python3 perfbench/run.py --workload profile_ml --seed 1 --seconds 1 --trace 0

Run from the repository root.  One process, one ``local[nproc]`` session,
one workload pass at a time (closed loop, a single client):

1. generate (or reuse) the seed's inputs — untimed;
2. setup: ``core.session.get_session`` with the overrides in
   ``profile.json``, a trivial action and a Python-worker round trip;
3. the cold pass; a wait until the JIT compiler is idle; then warm passes
   until ``--seconds`` have elapsed (at least two; one in a traced run).  Each pass resets the
   workload's mutable state first and checks every output after: the
   first pass against the DuckDB oracles, every later pass against the
   first pass's digests;
4. with ``--trace 1``, as many warm passes again with every layer
   module's public functions wrapped (see ``spans.py``).

Everything the run writes stays under ``perfbench/_work``.  The last line
of stdout is the result object; the line before it holds the details
(samples per metric, per-pass times, settings, failures).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def load_profile() -> dict:
    with open(os.path.join(HERE, "profile.json")) as fh:
        return json.load(fh)


def session_settings(profile: dict) -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024  # MemTotal, kB
    driver_mb = int(min(
        profile["driver_memory_max_mb"],
        max(profile["driver_memory_min_mb"], mem_mb * profile["driver_memory_frac"]),
    ))
    conf = {k: v.format(nproc=nproc) for k, v in profile["extra_conf"].items()}
    conf["spark.driver.memory"] = f"{driver_mb}m"
    return {"master": profile["master"].format(nproc=nproc), "extra_conf": conf,
            "nproc": nproc, "env": profile["env"]}


def isolate_env(run_dir: str) -> None:
    """Keep every file the run, the JVM and the workers write under
    ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["ANOVOS_SPARK_SCRATCH"] = os.path.join(run_dir, "scratch")
    # the JVM ignores TMPDIR; -UsePerfData stops its /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def setup(settings: dict):
    """Session, first trivial action, Python worker pool ready."""
    from anovos_spark.core import session

    spark = session.get_session(
        app_name="anovos_spark-perfbench",
        master=settings["master"],
        extra_conf=settings["extra_conf"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    def noop(batches):  # nested, so it is pickled by value for the workers
        yield from batches

    n = settings["nproc"]
    spark.range(0, n, 1, n).mapInPandas(noop, schema="id long").count()
    return spark


def teardown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited."""
    deadline = time.time() + timeout
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class Runner:
    """Runs passes of one workload and checks their outputs."""

    def __init__(self, workload, ctx, recorder, oracle):
        self.workload = workload
        self.ctx = ctx
        self.recorder = recorder
        self.oracle = oracle
        self.ops = workload.ops(ctx)
        self.first: dict[str, dict[str, str]] = {}  # op -> output -> digest
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_seconds: dict[str, list[float]] = {}

    def run_pass(self) -> tuple[float, float, float]:
        """One pass; returns (seconds, start epoch, end epoch)."""
        self.ctx.spark.catalog.clearCache()
        self.workload.reset(self.ctx)
        results = []
        e0, t0 = time.time(), time.perf_counter()
        for op in self.ops:
            t_op = time.perf_counter()
            try:
                results.append((op, self.recorder.call(op.layer, op.name, op.run), None))
            except Exception:  # a failed operation is counted, not fatal
                results.append((op, None, traceback.format_exc(limit=3)))
            self.op_seconds.setdefault(op.name, []).append(time.perf_counter() - t_op)
        seconds, e1 = time.perf_counter() - t0, time.time()

        for op, outputs, err in results:
            expected = self.first.get(op.name)
            n = len(expected) if expected else 1
            if err is None:
                try:
                    self._check(op, outputs, expected)
                    continue
                except Exception:  # e.g. a write target that is missing
                    err = traceback.format_exc(limit=3)
            self.attempted += n
            self._fail(n, f"{op.name}: {err}")
        return seconds, e0, e1

    def _check(self, op, outputs: dict, expected: dict | None) -> None:
        """The first pass's outputs must match their DuckDB oracles, every
        later pass's outputs the first pass's digests."""
        from checks import digest
        import pandas as pd

        for name, path in op.files.items():
            outputs[name] = pd.read_parquet(path)
        digests = {k: digest(v) for k, v in outputs.items()}
        self.attempted += len(expected or digests)
        if expected is None:
            self.first[op.name] = digests
            for name, pdf in outputs.items() if op.oracle else ():
                try:
                    why = self.oracle.check(name, pdf)
                except Exception as e:  # the oracle SQL itself failed
                    why = f"oracle error: {e}"
                if why:
                    self._fail(1, f"{op.name}/{name}: oracle mismatch: {why}")
            return
        for name, want in expected.items():
            if digests.get(name) != want:
                self._fail(1, f"{op.name}/{name}: differs from the first pass")

    def _fail(self, n: int, why: str) -> None:
        self.failed += n
        self.failures.append(why[-2000:])


def warm_loop(run_pass, seconds: float, min_passes: int) -> list:
    """``min_passes`` passes, then more until ``seconds`` have elapsed."""
    out = []
    t0 = time.perf_counter()
    while len(out) < min_passes or time.perf_counter() - t0 < seconds:
        out.append(run_pass())
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    marks = [("start", time.perf_counter())]

    sys.path[:0] = [HERE, ROOT]
    try:
        import anovos_spark  # noqa: F401  the engine must be in the checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    import metrics
    from probes import ProcSampler, SparkProbe, descendants
    from spans import Recorder
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    profile = load_profile()
    settings = session_settings(profile)
    os.environ.update(settings["env"])

    data = gen.ensure_inputs(WORK, args.workload, args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate_env(run_dir)
    marks.append(("inputs", time.perf_counter()))

    recorder = Recorder()
    if args.trace:
        recorder.install(("core.session",))
        recorder.active = True
    spark = None
    try:
        # /proc polling costs CPU, so only the traced run samples
        sampler = ProcSampler() if args.trace else None
        with sampler or contextlib.nullcontext():
            t0 = time.perf_counter()
            spark = setup(settings)
            setup_s = time.perf_counter() - t0
            setup_spans = recorder.take()
            recorder.active = False
            marks.append(("setup", time.perf_counter()))

            ctx = Context(spark, data, run_dir)
            workload.prepare(ctx)
            from checks import Oracle

            oracle = Oracle(data)
            marks.append(("prepare", time.perf_counter()))
            runner = Runner(workload, ctx, recorder, oracle)
            probe = SparkProbe(spark)
            counters = metrics.PassCounters(probe if args.trace else None)
            cold = counters.measure(runner.run_pass)
            jit_settle_s = probe.settle_jit()
            # warm passes keep speeding up for several passes while the JIT
            # compiles, so the median of two is steadier than the first
            # alone; the traced run reports no end-to-end metric and keeps
            # to one untraced and one traced pass to stay short
            min_passes = 1 if args.trace else 2
            warm = warm_loop(
                lambda: counters.measure(runner.run_pass), args.seconds, min_passes
            )
            output_bytes = sum(dir_bytes(p) for p in workload.outputs(ctx))

            traced = []
            if args.trace:
                recorder.install()
                recorder.active = True
                sampler.recording = True
                probe.settle_jit()
                traced = warm_loop(
                    lambda: counters.measure(runner.run_pass, recorder, sampler),
                    args.seconds,
                    min_passes,
                )
                recorder.active = False
            oracle.close()
            peak_rss = sampler.peak_rss if sampler else 0
            marks.append(("passes", time.perf_counter()))
    finally:
        if spark is not None:
            children = descendants(os.getpid())
            teardown(spark)
            wait_gone(children)
        shutil.rmtree(run_dir, ignore_errors=True)
    marks.append(("teardown", time.perf_counter()))

    result = metrics.report(
        trace=bool(args.trace),
        rows=gen.input_rows(args.workload),
        setup_s=setup_s,
        setup_spans=setup_spans,
        cold=cold,
        warm=warm,
        traced=traced,
        peak_rss=peak_rss,
        output_bytes=output_bytes,
        attempted=runner.attempted,
        failed=runner.failed,
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "session": settings,
        "passes": {
            "cold_s": cold["seconds"],
            "warm_s": [p["seconds"] for p in warm],
            "traced_s": [p["seconds"] for p in traced],
        },
        "op_seconds": runner.op_seconds,
        "phase_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "jit_settle_s": jit_settle_s,
        "failures": runner.failures,
        **result.pop("detail"),
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
