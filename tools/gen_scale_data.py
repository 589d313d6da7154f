"""Generate a synthetic ~sf1 dataset dir for 100x scale probing.

documents/embeddings scale 10x from sf0.1 (so 100x vs sf0.01, the probe's
lo side); every other table symlinks to its sf0.1 parquet.  Generation is
deterministic (pure hash functions of ids — no rand()), replica structure
chosen to stress the dedup/similarity families realistically:

- replica 0 keeps the original row (the sf0.1 corpus embeds unchanged);
- replicas 1-2 are NEAR-DUPS: original text with a short appended marker
  (high Jaccard -> minhash/simhash/LSH candidate groups of bounded size 3);
- replicas 3-9 are DISTINCT content: every word rehashes through md5 with
  the replica index, so token sets are disjoint across replicas and no
  spurious near-dup mass appears.

Embeddings mirror that: replicas 1-2 jitter each coordinate slightly
(cosine ~0.999 -> real near-neighbor structure), 3-9 re-randomize via a
coordinate hash (uncorrelated).

Usage: python tools/gen_scale_data.py [out_dir] [src_dir] [key_stride]
  default: out=.scaledata/sf1, src=/root/testdata/sf0.1, stride=10_000_000
  sf10 (one more decade, ~60M lineitem / 500k docs):
    python tools/gen_scale_data.py .scaledata/sf10 .scaledata/sf1 100000000
  The stride must exceed the max key in src (sf1 keys top out just under
  100M because sf1 itself used stride 10M on sub-1M sf0.1 keys).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Dimensions stay fixed (TPC-H dims grow sub-linearly with SF anyway);
# fact tables (orders/lineitem/events) are replicated 10x with remapped
# keys and deterministic value jitter so group cardinalities really grow.
DIM_TABLES = ["region", "nation", "customer", "supplier", "part"]


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scaledata", "sf1",
    )
    SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    FACT_SHIFT = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000_000
    os.makedirs(out_dir, exist_ok=True)

    from bench import usable_cpus
    from pyspark.sql import functions as F

    from anovos_spark.core.session import get_session

    # the 10x fan-out of a 6M-row src needs real heap (sf10 OOMed at 1g):
    # get_session sizes it from the box
    cpus = usable_cpus()
    spark = get_session("anovos_spark-gen-scale-data", master=f"local[{cpus}]",
                        extra_conf={"spark.sql.shuffle.partitions": str(2 * int(cpus)),
                                    "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    reps = spark.range(10).select(F.col("id").cast("int").alias("rep"))
    d = docs.crossJoin(reps)  # 10 replicas per doc — deliberate fan-out
    mutated_words = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.substring(
                F.md5(F.concat(w, F.lit("#"), F.col("rep").cast("string"))), 1, 7
            ),
        ),
        " ",
    )
    new_text = (
        F.when(F.col("rep") == 0, F.col("text"))
        .when(
            F.col("rep") <= 2,
            F.concat(
                F.col("text"),
                F.lit(" nearrep"),
                F.col("rep").cast("string"),
                F.lit("x"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(mutated_words)
    )
    out_docs = d.select(
        (F.col("doc_id") + F.col("rep").cast("long") * F.lit(FACT_SHIFT)).alias(
            "doc_id"
        ),
        new_text.alias("text"),
        "lang",
        "source",
        F.length(new_text).cast("long").alias("n_chars"),
    )
    out_docs.repartition(8).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    e = emb.crossJoin(reps)
    # deterministic per-coordinate perturbation in [-1, 1]
    def coord_hash(i):
        return (
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.col("rep"), i), F.lit(20001)
            ).cast("double")
            / 10000.0
            - 1.0
        )

    jittered = F.zip_with(
        F.col("embedding"),
        F.transform(F.col("embedding"), lambda x, i: coord_hash(i)),
        lambda x, h: (x + h * F.lit(0.02)).cast("float"),
    )
    rehashed = F.transform(F.col("embedding"), lambda x, i: coord_hash(i).cast("float"))
    new_vec = (
        F.when(F.col("rep") == 0, F.col("embedding"))
        .when(F.col("rep") <= 2, jittered)
        .otherwise(rehashed)
    )
    out_emb = e.select(
        (F.col("vec_id") + F.col("rep").cast("long") * F.lit(FACT_SHIFT)).alias(
            "vec_id"
        ),
        new_vec.alias("embedding"),
        "label",
    )
    out_emb.repartition(8).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    # --- fact tables: real 10x replication with remapped keys ------------
    def jitter(*cols, span=2001, scale=1.0):
        """Deterministic value in [-scale, +scale] from a hash of cols+rep."""
        return (
            F.pmod(F.xxhash64(*cols, F.col("rep")), F.lit(span)).cast("double")
            / ((span - 1) / 2.0)
            - 1.0
        ) * F.lit(scale)

    orders = spark.read.parquet(f"{SRC}/orders.parquet").crossJoin(reps)
    out_orders = orders.select(
        (F.col("o_orderkey") + F.col("rep").cast("long") * FACT_SHIFT).alias(
            "o_orderkey"
        ),
        "o_custkey",
        "o_orderstatus",
        F.round(
            F.col("o_totalprice")
            * (1.0 + jitter(F.col("o_orderkey"), scale=0.05)),
            2,
        ).alias("o_totalprice"),
        F.timestamp_add("DAY", F.col("rep"), F.col("o_orderdate")).alias(
            "o_orderdate"
        ),
        "o_orderpriority",
    )
    out_orders.repartition(16).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )

    li = spark.read.parquet(f"{SRC}/lineitem.parquet").crossJoin(reps)
    out_li = li.select(
        (F.col("l_orderkey") + F.col("rep").cast("long") * FACT_SHIFT).alias(
            "l_orderkey"
        ),
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        # keep quantity integral (1..50-ish) but vary it across replicas
        F.greatest(
            F.lit(1.0),
            F.round(
                F.col("l_quantity")
                + F.pmod(
                    F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber"),
                               F.col("rep")),
                    F.lit(7),
                ).cast("double")
                - 3.0,
                0,
            ),
        ).alias("l_quantity"),
        F.round(
            F.col("l_extendedprice")
            * (1.0 + jitter(F.col("l_orderkey"), F.col("l_linenumber"),
                            scale=0.05)),
            2,
        ).alias("l_extendedprice"),
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.timestamp_add("DAY", F.col("rep"), F.col("l_shipdate")).alias(
            "l_shipdate"
        ),
    )
    out_li.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )

    ev = spark.read.parquet(f"{SRC}/events.parquet").crossJoin(reps)
    out_ev = ev.select(
        (F.col("event_id") + F.col("rep").cast("long") * FACT_SHIFT).alias(
            "event_id"
        ),
        F.timestamp_add("SECOND", F.col("rep") * 17, F.col("ts")).alias("ts"),
        "user_id",
        "event_type",
        F.round(
            F.col("value") * (1.0 + jitter(F.col("event_id"), scale=0.1)), 4
        ).alias("value"),
        "props",
    )
    out_ev.repartition(8).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )

    for t in DIM_TABLES:
        link = f"{out_dir}/{t}.parquet"
        if not os.path.exists(link):
            # resolve through src symlinks (sf10's src sf1 is itself linked)
            os.symlink(os.path.realpath(f"{SRC}/{t}.parquet"), link)

    for t in ("documents", "embeddings", "orders", "lineitem", "events"):
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"{t}: {n} rows")
    spark.stop()


if __name__ == "__main__":
    main()
