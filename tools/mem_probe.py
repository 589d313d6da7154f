"""Worker/driver memory gauge for the bounded-by-contract paths
(VERDICT r9 item #6: the sf10 GEMM OOM was caught by a crash, not a
gauge — this makes the next memory regression show up as a number).

Probed paths, each at its documented contract cap:
- exact near-dup GEMM at the 200k-vector quarantine (the r9 OOM site,
  now ~64 MB score-block chunked);
- near_dup_components driver union-find at small_graph_threshold
  (2M doubled edges collected via Arrow);
- brute_force_topk at the 10k-query broadcast cap (r10: per-chunk
  partial top-k + 64 MB chunking — found by this probe's first draft:
  the unreduced pair stream was 2e9 rows).
- feature_recommender_match_embedded at the 10k-feature broadcast cap,
  each Python worker fed one 10k-row Arrow batch of synthesized 64-d
  attribute vectors (an unchunked score block is 10k × 10k × 8 B =
  800 MB per worker, plus its np.round copy).

Measurement: a sampler thread polls /proc every 0.25 s during each path
and records peak RSS for (a) this driver python process, (b) the local
Spark JVM, (c) each pyspark python worker (max single + total).  Peaks
are per-path windows, so a later path can't inherit an earlier high-water
mark.  Budgets are stated in the probe and asserted; exit 1 on breach.

Usage: python tools/mem_probe.py [sf_dir] [out_json]
(defaults: .scaledata/sf10 — falls back to /root/testdata/sf0.1 when
the scale dir is absent — and MEM_PROBE_r{MEM_PROBE_ROUND}.json)
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, ".")

GB = 1024 ** 3

# stated budgets (bytes); breaching any fails the probe
BUDGETS = {
    "exact_gemm_200k": {
        "driver_py_gb": 6.0,   # 200k collected Rows + numpy copies
        "jvm_gb": 24.0,
        "worker_single_gb": 2.0,  # broadcast corpus ~0.1 GB + 64 MB blocks
    },
    "closure_2m_edges": {
        "driver_py_gb": 6.0,   # 2M-edge Arrow frame + union-find dicts
        "jvm_gb": 24.0,
        "worker_single_gb": 2.0,
    },
    "brute_topk_10k_queries": {
        "driver_py_gb": 6.0,
        "jvm_gb": 24.0,
        "worker_single_gb": 2.0,  # 64 MB score chunks + top-k selection
    },
    "featrec_embedded_10k_features": {
        "driver_py_gb": 6.0,
        "jvm_gb": 24.0,
        "worker_single_gb": 1.0,  # 64 MB score chunks + one Arrow batch
    },
}


def _proc_rss(pid: str) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            rss_pages = int(fh.read().split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        return rss_pages * os.sysconf("SC_PAGE_SIZE"), cmd
    except (OSError, IndexError, ValueError):
        return 0, ""


class Sampler:
    def __init__(self):
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self.reset()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def reset(self):
        with getattr(self, "_lock", threading.Lock()):
            self.peaks = {
                "driver_py": 0, "jvm": 0,
                "worker_single": 0, "worker_total": 0,
            }

    def snapshot(self) -> dict:
        with self._lock:
            return {k: round(v / GB, 3) for k, v in self.peaks.items()}

    def stop(self):
        self._stop.set()
        self._t.join(timeout=5)

    def _run(self):
        me = str(os.getpid())
        while not self._stop.is_set():
            driver = _proc_rss(me)[0]
            jvm = 0
            workers = []
            for pid in os.listdir("/proc"):
                if not pid.isdigit() or pid == me:
                    continue
                rss, cmd = _proc_rss(pid)
                if not rss:
                    continue
                if "java" in cmd and "spark" in cmd.lower():
                    jvm = max(jvm, rss)
                elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                    workers.append(rss)
            with self._lock:
                p = self.peaks
                p["driver_py"] = max(p["driver_py"], driver)
                p["jvm"] = max(p["jvm"], jvm)
                if workers:
                    p["worker_single"] = max(p["worker_single"], max(workers))
                    p["worker_total"] = max(p["worker_total"], sum(workers))
            time.sleep(0.25)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else (
        ".scaledata/sf10" if os.path.isdir(".scaledata/sf10")
        else "/root/testdata/sf0.1"
    )
    rnd = os.environ.get("MEM_PROBE_ROUND", "10")
    out_json = sys.argv[2] if len(sys.argv) > 2 else f"MEM_PROBE_r{rnd}.json"

    from bench import usable_cpus
    from pyspark.sql import functions as F

    from anovos_spark.core.session import get_session

    cpus = usable_cpus()
    spark = get_session("anovos_spark-mem-probe", master=f"local[{cpus}]", extra_conf={
        "spark.sql.shuffle.partitions": str(2 * int(cpus)),
        "spark.ui.enabled": "false",
        # 12g, not 20g (VERDICT r10 item #7): a JVM's RSS grows toward
        # Xmx under allocation load before GC bothers compacting, so the
        # r10 "21.8 GB peak vs 24 budget = 91%" was mostly configured-heap
        # artifact, not workload need.  Pinning the heap to 12g turns the
        # probe into a REAL claim: every contract-capped path completes
        # inside a 12g JVM, peak RSS ~13 GB, >= 45% headroom against the
        # 24 GB budget — and a future breach means the workload genuinely
        # outgrew the heap, not that GC got lazy.
        "spark.driver.memory": "12g",
    })
    spark.sparkContext.setLogLevel("ERROR")

    from anovos_spark.operators.dedup import near_dup_components
    from anovos_spark.operators.featrec import feature_recommender_match_embedded
    from anovos_spark.operators.similarity import (
        brute_force_topk, embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_emb = emb.count()
    sampler = Sampler()
    results: dict = {"sf_dir": sf_dir, "corpus_rows": n_emb, "paths": {}}

    def run(tag, fn):
        sampler.reset()
        t0 = time.perf_counter()
        n_rows = fn()
        sec = round(time.perf_counter() - t0, 1)
        time.sleep(0.6)  # let the sampler catch the tail
        peaks = sampler.snapshot()
        budget = BUDGETS[tag]
        breaches = []
        if peaks["driver_py"] > budget["driver_py_gb"]:
            breaches.append("driver_py")
        if peaks["jvm"] > budget["jvm_gb"]:
            breaches.append("jvm")
        if peaks["worker_single"] > budget["worker_single_gb"]:
            breaches.append("worker_single")
        results["paths"][tag] = {
            "rows_out": n_rows, "sec": sec, "peak_gb": peaks,
            "budget_gb": budget, "breaches": breaches,
            "ok": not breaches,
        }
        print(f"{tag}: {n_rows} rows in {sec}s, peaks {peaks} "
              f"-> {'OK' if not breaches else 'BREACH ' + str(breaches)}")

    # 1. exact near-dup GEMM at the quarantine cap
    cap = min(n_emb, 200_000)
    corpus = emb.orderBy("vec_id").limit(cap) if n_emb > cap else emb
    run("exact_gemm_200k",
        lambda: embedding_near_dup_pairs(corpus, threshold=0.45).count())

    # 2. driver union-find at small_graph_threshold: a synthetic pair
    # list whose DOUBLED distinct edge list is exactly 2M rows
    # (1M undirected chain pairs), ids spread over a wide range
    pairs = (
        spark.range(0, 1_000_000)
        .select(
            (F.col("id") * 7919).alias("id_a"),
            (F.col("id") * 7919 + 7919).alias("id_b"),
        )
    )
    run("closure_2m_edges",
        lambda: near_dup_components(pairs).count())

    # 3. brute-force top-k at the 10k-query broadcast cap
    qs = emb.orderBy("vec_id").limit(10_000)
    run("brute_topk_10k_queries",
        lambda: brute_force_topk(corpus, qs, k=5).count())

    # 4. embedded recommender at the 10k-feature cap: one range partition
    # of 10k attributes per core, so each worker's Arrow batch is 10k rows
    # (spark.sql.execution.arrow.maxRecordsPerBatch); min_score=0.5 keeps
    # the survivors of 64-d random vectors few, so the gauge reads the
    # score block, not the output
    def synth(n, parts, seed):
        return spark.range(0, n, 1, parts).select(
            "id", F.array(*[F.randn(seed + j) for j in range(64)]).alias("emb")
        )

    par = spark.sparkContext.defaultParallelism
    attrs = synth(par * 10_000, par, 1).select(
        F.concat(F.lit("attr_"), "id").alias("attribute"), "emb"
    )
    feats = synth(10_000, 1, 1000).select(
        F.concat(F.lit("feat_"), "id").alias("feature_name"),
        F.lit("synthetic").alias("industry"), F.lit("probe").alias("usecase"), "emb",
    )
    run("featrec_embedded_10k_features",
        lambda: feature_recommender_match_embedded(
            attrs, feats, attr_emb_col="emb", corpus_emb_col="emb",
            top_k=2, min_score=0.5,
        ).count())

    sampler.stop()
    results["ok"] = all(p["ok"] for p in results["paths"].values())
    with open(out_json, "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"ok": results["ok"], "out": out_json}))
    spark.stop()
    sys.exit(0 if results["ok"] else 1)


if __name__ == "__main__":
    main()
