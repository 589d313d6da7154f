"""Planted-pair recall differential for embedding_near_dup_pairs at scale
(VERDICT r9 item #3): the O(N²) DuckDB replay is infeasible at sf10
(4e10 pairs), so the sf10 line for this operator was an execution pin.
This probe restores ORACLE-GRADE evidence with closed-form ground truth:

- plant K vector pairs at EXACTLY cos = τ + 0.05 (positives) and K at
  EXACTLY cos = τ − 0.05 (negatives), constructed by Gram-Schmidt:
  planted = |v|·(c·u + s·w) with u = v/|v|, w ⊥ u unit, c the target
  cosine, s = √(1−c²) — cos(planted, v) = c to float32 precision
  (64-dim dot error ~1e-6 ≪ the 0.05 margin);
- run the real operator over base ∪ planted and assert 100% recall on
  planted positives and ZERO planted negatives.

Both algorithm paths are probed at full corpus size:
- exact GEMM path at τ = 0.45 (the sf10 query's own threshold; corpus
  trimmed by |planted| largest ids so the ≤200k quarantine holds),
- LSH path at τ = 0.70 with positives at cos 0.995 (the true near-dup
  regime; per-pair analytic miss ≈ 7e-6 at 8×8 geometry, and the seeded
  hyperplanes make the outcome deterministic) and negatives at 0.60.

The plants are an additive OVERLAY, not a mutation of the generated
embeddings.parquet: rewriting the sf10 corpus would silently invalidate
every previously pinned embedding-family number (r9's 2,035,274-pair
execution pin, the bench timings, the sf10 differential) — the overlay
gives identical recall evidence while keeping the corpus comparable
across rounds.

Usage: python tools/planted_neardup_probe.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np

sys.path.insert(0, ".")

K = 100
ID_BASE = 10**12  # planted ids live far above any generated vec_id


def make_planted(sources, target_cos: float, id_start: int, seed: int):
    """Rows (vec_id, embedding, label) at exactly target_cos from each
    source vector, via Gram-Schmidt against a seeded random direction."""
    rng = np.random.default_rng(seed)
    out = []
    c = float(target_cos)
    s = float(np.sqrt(1.0 - c * c))
    for i, (src_id, vec) in enumerate(sources):
        v = np.asarray(vec, dtype="float64")
        nv = float(np.linalg.norm(v))
        u = v / nv
        r = rng.standard_normal(v.shape[0])
        w = r - (r @ u) * u
        w /= np.linalg.norm(w)
        planted = nv * (c * u + s * w)
        out.append((id_start + i, [float(x) for x in planted], -1))
    return out


def run_path(spark, emb, sources, threshold, pos_cos, neg_cos, id_start,
             tag, trim_to=None):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    from anovos_spark.operators.similarity import embedding_near_dup_pairs

    pos_src = sources[:K]
    neg_src = sources[K:2 * K]
    pos = make_planted(pos_src, pos_cos, id_start, seed=7)
    neg = make_planted(neg_src, neg_cos, id_start + K, seed=11)
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    planted_df = spark.createDataFrame(pos + neg, schema)

    corpus = emb
    if trim_to is not None:
        # drop the largest generated ids so |corpus ∪ planted| stays
        # inside the exact path's ≤200k quarantine; planted sources are
        # the SMALLEST ids, so no planted pair loses its source
        n_base = trim_to - len(pos) - len(neg)
        corpus = emb.orderBy("vec_id").limit(n_base)
    corpus = corpus.unionByName(planted_df)

    t0 = time.perf_counter()
    pairs = embedding_near_dup_pairs(corpus, threshold=threshold)
    hits = {
        (r["id_a"], r["id_b"])
        for r in pairs.where(F.col("id_b") >= ID_BASE).collect()
    }
    sec = round(time.perf_counter() - t0, 1)

    want_pos = {(sid, id_start + i) for i, (sid, _) in enumerate(pos_src)}
    want_neg = {(sid, id_start + K + i) for i, (sid, _) in enumerate(neg_src)}
    found_pos = sorted(want_pos & hits)
    found_neg = sorted(want_neg & hits)
    res = {
        "threshold": threshold,
        "planted_cos_pos": pos_cos,
        "planted_cos_neg": neg_cos,
        "planted_pos": len(want_pos),
        "recalled_pos": len(found_pos),
        "planted_neg": len(want_neg),
        "false_neg_hits": len(found_neg),
        "sec": sec,
        "ok": len(found_pos) == len(want_pos) and not found_neg,
    }
    miss = sorted(want_pos - hits)
    if miss:
        res["missed_pos_pairs"] = miss[:10]
    if found_neg:
        res["leaked_neg_pairs"] = found_neg[:10]
    print(f"{tag}: recall {res['recalled_pos']}/{res['planted_pos']}, "
          f"negatives {res['false_neg_hits']}/0 expected, {sec}s "
          f"-> {'OK' if res['ok'] else 'FAIL'}")
    return res


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scaledata/sf10"
    out_json = sys.argv[2] if len(sys.argv) > 2 else None

    from bench import usable_cpus

    from anovos_spark.core.session import get_session

    cpus = usable_cpus()
    spark = get_session("anovos_spark-planted-neardup", master=f"local[{cpus}]",
                        extra_conf={"spark.sql.shuffle.partitions": str(2 * int(cpus)),
                                    "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_total = emb.count()
    # deterministic source pool: smallest ids with usable geometry
    from pyspark.sql import functions as F
    pool = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("embedding").isNotNull())
        .orderBy("vec_id").limit(6 * K).collect()
        if np.linalg.norm(np.asarray(r["embedding"], dtype="float64")) > 1e-9
    ]
    assert len(pool) >= 4 * K, f"source pool too small: {len(pool)}"

    results = {
        "sf_dir": sf_dir,
        "corpus_rows": n_total,
        "k_per_class": K,
        "exact_gemm": run_path(
            spark, emb, pool[: 2 * K], threshold=0.45,
            pos_cos=0.50, neg_cos=0.40,
            id_start=ID_BASE, tag="exact_gemm(tau=0.45)",
            trim_to=min(n_total, 200_000),
        ),
        "lsh": run_path(
            spark, emb, pool[2 * K: 4 * K], threshold=0.70,
            pos_cos=0.995, neg_cos=0.60,
            id_start=ID_BASE + 10**6, tag="lsh(tau=0.70)",
        ),
    }
    results["ok"] = results["exact_gemm"]["ok"] and results["lsh"]["ok"]
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(results, fh, indent=1)
            fh.write("\n")
    print(json.dumps({k: v for k, v in results.items()
                      if k in ("sf_dir", "corpus_rows", "ok")}))
    spark.stop()
    sys.exit(0 if results["ok"] else 1)


if __name__ == "__main__":
    main()
