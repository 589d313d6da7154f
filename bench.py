"""Benchmark runner: times every registry query at $SPARK_GRAFT_SF_DIR.

Each query runs TWICE (catalog cache cleared between runs) and the MIN is
reported: a single cold sequential pass lets one noisy scheduler slot
dominate round-over-round comparison (BASELINE.md documents a migrating
±30-40 s band); per-query minima isolate engine cost.

Output contract (driver-parseable):
- stdout ends with a compact JSON summary line
  {"metric": "total_query_sec", "value": N, "unit": "sec", "sf": ...,
   "n_queries": N, "n_errors": N, "timing": "min_of_2",
   "queries_file": "BENCH_DETAIL.json"}
  and, immediately BEFORE it, one full JSON line that additionally inlines
  the per-query map ("queries": {name: sec, ...}).  Two lines because the
  driver demonstrably parses only a 2,000-char stdout tail: BENCH_r01.json
  (inline-only) is parsed=null — its ~5 KB line was truncated mid-map —
  while every later round's compact line parses.  177 entries cannot fit
  in 2,000 chars, so the full line satisfies a full-stdout reader and the
  compact line (last, and alone well inside the tail) keeps the total
  parseable by the tail reader; a tail reader scanning backwards finds the
  compact line first and never sees the truncated head of the full one.
- BENCH_DETAIL.json (repo root, or $SPARK_GRAFT_BENCH_DETAIL): the full
  per-query map {name: {"run1": s, "run2": s, "min": s}} plus the totals.
"""

from __future__ import annotations

import json
import os
import sys
import time

os_environ_default = ("ANOVOS_EXACT_STATS", "0")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def box_state(sf_dir: str) -> dict:
    """Cheap cache-state marker: 'cache churn' adjudications of a slow
    run should be MEASURED, not inferred from the totals.  Records the
    page-cache numbers from /proc/meminfo plus the observed sequential
    read rate of up to 256 MB of the lineitem table — multiple GB/s when
    testdata sits in the page cache (warm box), storage-rate when the
    cache was churned by other work.  The probe reads bytes the bench is
    about to read anyway, so it costs <1 s and perturbs nothing."""
    state: dict = {}
    try:
        keep = {"MemTotal", "MemAvailable", "Cached", "Buffers", "Dirty"}
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, _, rest = line.partition(":")
                if k in keep:
                    state[f"meminfo_{k.lower()}_kb"] = int(rest.split()[0])
    except OSError:
        pass
    try:
        p = os.path.join(sf_dir, "lineitem.parquet")
        files = (
            sorted(
                os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
            )
            if os.path.isdir(p)
            else [p]
        )
        budget, read = 256 * 1024 * 1024, 0
        t0 = time.perf_counter()
        for f in files:
            with open(f, "rb", buffering=0) as fh:
                while read < budget:
                    chunk = fh.read(8 * 1024 * 1024)
                    if not chunk:
                        break
                    read += len(chunk)
            if read >= budget:
                break
        dt = time.perf_counter() - t0
        state["probe_read_mb"] = round(read / 1024 / 1024, 1)
        state["probe_read_mbps"] = round(read / 1024 / 1024 / dt, 1) if dt > 0 else None
    except OSError:
        pass
    return state


def main():
    os.environ.setdefault(*os_environ_default)
    # pin BLAS threading before numpy/Spark start: python workers fork from
    # this process, and 32 workers × 32 OpenBLAS threads would thrash
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # cache-state marker BEFORE Spark warms anything
    box = box_state(sf_dir)

    from pyspark.sql import SparkSession

    from anovos_spark.core.session import DEFAULT_CONF

    codegen_cache = "spark.sql.codegen.cache.maxEntries"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("anovos_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # engine session default (core/session.py DEFAULT_CONF) the bench
        # session had never applied: Arrow-backed toPandas/createDataFrame.
        # The fit-sample pulls in the imputation/autoencoder operators are
        # driver transfers the guide (§6) puts at 10x+ — measured here:
        # 600k-row 2-col toPandas 2.1-3.3 s pickled vs 0.21 s Arrow.
        # Timing methodology (min_of_2, count() action, clearCache)
        # unchanged; this only aligns the session with the engine's own
        # declared defaults.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # engine session default: the generated-class cache size (static,
        # so it must be set here, when the SparkContext is created)
        .config(codegen_cache, DEFAULT_CONF[codegen_cache])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from anovos_spark.queries import registry, table

    # warm the session so the first timed query doesn't absorb startup cost:
    # JVM init + file index (scan), and the Python/Arrow worker pool — the
    # first pandas stage in a session forks one worker per core and imports
    # pandas/numpy in each; that's session bootstrap, not query cost
    table(spark, sf_dir, "lineitem").count()
    import pandas as _pd

    def _noop(it):
        for b in it:
            yield b

    spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
        _noop, schema="id long"
    ).count()

    detail = {}
    n_errors = 0
    for name, fn in registry().items():
        runs = []
        for _ in range(max(runs_per_query, 1)):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.count()
                runs.append(round(time.perf_counter() - t0, 3))
            except Exception as e:
                runs.append(None)
                print(f"bench error {name}: {e}", file=sys.stderr)
            # queries cache what they internally reuse and hand back a lazy
            # result; drop those pinned blocks so the next run/query starts
            # from cold storage and nothing squeezes execution memory
            spark.catalog.clearCache()
        ok = [r for r in runs if r is not None]
        if not ok:
            n_errors += 1
        detail[name] = {
            **{f"run{i + 1}": r for i, r in enumerate(runs)},
            "min": min(ok) if ok else None,
        }

    total = round(sum(d["min"] for d in detail.values()
                      if d["min"] is not None), 3)
    summary = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(detail),
        "n_registry": len(registry()),
        "n_errors": n_errors,
        "timing": f"min_of_{max(runs_per_query, 1)}",
        "queries_file": os.path.basename(detail_path),
        "probe_read_mbps": box.get("probe_read_mbps"),
    }
    with open(detail_path, "w") as fh:
        json.dump(
            {**summary,
             "box_state": box,
             "queries": {k: v["min"] for k, v in detail.items()},
             "runs": detail},
            fh, indent=1, sort_keys=True,
        )
        fh.write("\n")
    # full line first (per-query map inline, for any full-stdout reader),
    # compact line LAST: the final line must fit whole inside the
    # 2,000-char tail the driver keeps — see the module docstring
    print(json.dumps({**summary,
                      "queries": {k: v["min"] for k, v in detail.items()}},
                     separators=(",", ":")))
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
