"""Adversarial-skew probe for the banded candidate joins (r5, VERDICT #3).

The LSH / simhash / FastSS / embedding-LSH candidate generators are
equi-joins on content-derived keys; a degenerate corpus (every document
identical) puts ALL N members into one bucket, and an unguarded
self-join on that key emits N²/2 rows from a single task — the one
skew shape AQE cannot split, because the blowup is the join OUTPUT.

This probe builds that worst case (N_DUP identical docs / identical
embeddings / identical fuzzy keys + a normal tail), runs each banded
operator with its default ``bucket_cap`` skew guard, and records:

- max bucket size observed (== N_DUP by construction),
- candidate/pair counts actually emitted vs the N²/2 an unguarded
  all-pairs join would have produced,
- the size of the largest connected component downstream (must equal
  N_DUP — the spanning-star fallback preserves connectivity),
- wall seconds.

Pass = every operator finishes in bounded time with pairs ≪ N²/2 and an
intact component.  Output: one JSON object on stdout (pin as
SKEW_PROBE_r{N}.json).

Usage: python tools/skew_probe.py [n_dup]   (default 30000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_dup = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    n_tail = max(1000, n_dup // 10)

    from bench import usable_cpus
    from pyspark.sql import functions as F

    from anovos_spark.core.session import get_session

    cpus = usable_cpus()
    spark = get_session("anovos_spark-skew-probe", master=f"local[{cpus}]",
                        extra_conf={"spark.sql.shuffle.partitions": str(2 * int(cpus)),
                                    "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from anovos_spark.operators import dedup as DD
    from anovos_spark.operators.similarity import embedding_near_dup_pairs

    results = {"n_dup": n_dup, "n_tail": n_tail,
               "unguarded_pairs_would_be": n_dup * (n_dup - 1) // 2}

    # --- degenerate documents --------------------------------------------
    same = "the exact same document text repeated verbatim across the corpus"
    docs = (
        spark.range(n_dup)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(same).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("dup").alias("source"),
            F.lit(len(same)).cast("long").alias("n_chars"),
        )
        .unionByName(
            spark.range(n_tail).select(
                (F.col("id") + 10_000_000).alias("doc_id"),
                F.concat(
                    F.lit("unique filler document number "),
                    F.col("id").cast("string"),
                    F.lit(" with distinct hashed content "),
                    F.md5(F.col("id").cast("string")),
                ).alias("text"),
                F.lit("en").alias("lang"),
                F.lit("tail").alias("source"),
                F.lit(100).cast("long").alias("n_chars"),
            )
        )
        .repartition(16)
        .localCheckpoint(eager=True)
    )

    def run(name, fn, pair_df_fn):
        t0 = time.time()
        pairs = pair_df_fn()
        n_pairs = pairs.count()
        comp = DD.near_dup_components(pairs.select("id_a", "id_b"))
        biggest = (
            comp.groupBy("component").count()
            .agg(F.max("count")).collect()[0][0]
        )
        results[name] = {
            "pairs_emitted": n_pairs,
            "largest_component": biggest,
            "component_intact": biggest == n_dup,
            "blowup_avoided": n_pairs < results["unguarded_pairs_would_be"] // 10,
            "sec": round(time.time() - t0, 1),
        }
        print(f"  {name}: {results[name]}", file=sys.stderr)

    run("minhash_lsh_pairs", None, lambda: DD.minhash_lsh_pairs(docs))
    run("simhash_pairs", None, lambda: DD.simhash_pairs(docs))

    # --- degenerate fuzzy keys -------------------------------------------
    keys = (
        spark.range(n_dup)
        .select(F.col("id"), F.lit("identicalkey").alias("s"))
        .unionByName(
            spark.range(n_tail).select(
                (F.col("id") + 10_000_000).alias("id"),
                F.concat(F.lit("key"), F.format_string("%08d", F.col("id"))).alias("s"),
            )
        )
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    run(
        "fuzzy_match_pairs", None,
        lambda: DD.fuzzy_match_pairs(keys, "s", "id", max_distance=1),
    )

    # --- degenerate embeddings -------------------------------------------
    dim = 16
    vec = F.array(*[F.lit(float(j % 5 - 2) or 1.0) for j in range(dim)])
    rnd = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("vec_id"), j), F.lit(2001)).cast("double")
            / 1000.0 - 1.0
        ).cast("float"),
    )
    emb = (
        spark.range(n_dup)
        .select(F.col("id").alias("vec_id"), vec.cast("array<float>").alias("embedding"))
        .unionByName(
            spark.range(n_tail).select(
                (F.col("id") + 10_000_000).alias("vec_id"),
                F.lit(None).cast("array<float>").alias("embedding"),
            ).select("vec_id", rnd.alias("embedding"))
        )
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    run(
        "embedding_near_dup_pairs", None,
        lambda: embedding_near_dup_pairs(emb, threshold=0.95),
    )

    # --- MIXED oversized bucket: two-level-star bridge telemetry ----------
    # Two large identical-content groups whose texts are genuine near-dups
    # of each other (one token differs) share every LSH bucket.  The
    # two-level star must (1) star each content sub-group on itself —
    # intra edges verify at jaccard 1.0 — and (2) surface the A↔B link
    # through the representative bridge pair, whose verify rate we record
    # (VERDICT r6 #8: evidence the bridge's recall, not just argue it).
    half = n_dup // 2
    # long distinct-token texts differing in ONE trailing token → char-
    # shingle jaccard ~0.97, comfortably above the default threshold, so
    # the representative bridge pair MUST verify; an explicit cap of
    # half/5 forces the star even at smoke-test sizes
    words = [f"tok{i:03d}" for i in range(60)]
    text_a = " ".join(words) + " ending-alpha"
    text_b = " ".join(words) + " ending-omega"
    mixed_cap = max(200, half // 5)
    mixed = (
        spark.range(half)
        .select(F.col("id").alias("doc_id"), F.lit(text_a).alias("text"))
        .unionByName(
            spark.range(half).select(
                (F.col("id") + 5_000_000).alias("doc_id"),
                F.lit(text_b).alias("text"),
            )
        )
        .select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("mix").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    mpairs = DD.minhash_lsh_pairs(mixed, bucket_cap=mixed_cap).localCheckpoint(
        eager=True
    )
    n_mpairs = mpairs.count()
    cross = mpairs.where(
        ((F.col("id_a") < 5_000_000) & (F.col("id_b") >= 5_000_000))
        | ((F.col("id_a") >= 5_000_000) & (F.col("id_b") < 5_000_000))
    ).count()
    mcomp = DD.near_dup_components(mpairs.select("id_a", "id_b"))
    mbig = mcomp.groupBy("component").count().agg(F.max("count")).collect()[0][0]
    results["mixed_oversized_bucket"] = {
        "pairs_emitted": n_mpairs,
        "bridge_pairs_verified": cross,
        "bridge_verify_rate": 1.0 if cross >= 1 else 0.0,
        "largest_component": mbig,
        "component_intact": mbig == 2 * half,
        "blowup_avoided": n_mpairs < results["unguarded_pairs_would_be"] // 10,
        "sec": round(time.time() - t0, 1),
    }
    print(f"  mixed_oversized_bucket: {results['mixed_oversized_bucket']}",
          file=sys.stderr)

    results["all_intact"] = results["mixed_oversized_bucket"][
        "component_intact"
    ] and all(
        results[k]["component_intact"] and results[k]["blowup_avoided"]
        for k in ("minhash_lsh_pairs", "simhash_pairs", "fuzzy_match_pairs",
                  "embedding_near_dup_pairs")
    )
    print(json.dumps(results))
    spark.stop()
    sys.exit(0 if results["all_intact"] else 1)


if __name__ == "__main__":
    main()
