"""Physical-plan audit: verify the plans we'd want at 100 TB.

Checks, per representative query:
- parquet scans carry PushedFilters / pruned ReadSchema (column pruning)
- small dimension joins are BroadcastHashJoin, not SortMergeJoin
- aggregations show partial_ (map-side) aggregation
- no CartesianProduct or row-at-a-time PythonUDF in expression-only paths

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE shows WholeStageCodegen spans only in the finalized plan
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


# module paths whose `udf` attribute builds a row-at-a-time Python UDF
_UDF_MODULES = {"pyspark.sql.functions", "pyspark.sql"}


def _find_row_udf_calls(path: str) -> list[int]:
    """AST lint: line numbers of calls/decorators that resolve to
    pyspark.sql.functions.udf (row-at-a-time).  pandas_udf is allowed.

    Resolves three binding shapes:
      - `from pyspark.sql.functions import udf [as alias]` → Name call
      - `import pyspark.sql.functions [as F]` → F.udf attribute call
      - `from pyspark.sql import functions [as F]` → F.udf attribute call
    Comment/docstring text can't trigger (it never parses to a Call), and
    aliased imports can't hide (the alias table is followed).
    """
    import ast

    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    udf_names: set[str] = set()      # names bound directly to udf
    fn_mod_aliases: set[str] = set() # aliases of the functions module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in _UDF_MODULES:
            for a in node.names:
                if a.name == "udf":
                    udf_names.add(a.asname or a.name)
                elif node.module == "pyspark.sql" and a.name == "functions":
                    fn_mod_aliases.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name == "pyspark.sql.functions":
                    fn_mod_aliases.add(a.asname or a.name.split(".")[0])

    def is_udf_ref(expr: ast.expr) -> bool:
        if isinstance(expr, ast.Name):
            return expr.id in udf_names
        if isinstance(expr, ast.Attribute) and expr.attr == "udf":
            base = expr.value
            return isinstance(base, ast.Name) and base.id in fn_mod_aliases
        return False

    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and is_udf_ref(node.func):
            sites.append(node.lineno)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for dec in node.decorator_list:
                target = dec.func if isinstance(dec, ast.Call) else dec
                if is_udf_ref(target):
                    sites.append(dec.lineno)
    return sorted(set(sites))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bench import usable_cpus
    from pyspark.sql import functions as F

    from anovos_spark.core.session import get_session

    cpus = usable_cpus()
    spark = get_session("anovos_spark-plan-audit", master=f"local[{cpus}]",
                        extra_conf={"spark.sql.shuffle.partitions": str(2 * int(cpus)),
                                    "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    import anovos_spark.queries as Q

    failures = []

    def check(name, cond, detail=""):
        print(("PASS " if cond else "FAIL ") + name + (f"  [{detail}]" if detail and not cond else ""))
        if not cond:
            failures.append(name)

    # 1. filter pushdown + column pruning on a filtered projection
    li = Q.table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-01")
    q1 = Q.q1_pricing_summary(spark, sf_dir)
    p = plan_of(q1, execute=True)
    check("q1: parquet filter pushdown", "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p, p[:400])
    check("q1: column pruning (no l_orderkey in scan)", "l_orderkey" not in p.split("ReadSchema")[-1])
    check("q1: partial aggregation", "partial_" in p)
    check("q1: whole-stage codegen", "WholeStageCodegen" in p or "*(" in p)

    # 2. broadcast join on dims
    j = Q.q_join_enrich(spark, sf_dir)
    p = plan_of(j)
    check("join_enrich: broadcast hash join", "BroadcastHashJoin" in p)
    check("join_enrich: no cartesian", "CartesianProduct" not in p)

    # 3. stats battery: single aggregation, no python
    s = Q.q_dispersion(spark, sf_dir)
    p = plan_of(s)
    check("dispersion: no python UDF", "BatchEvalPython" not in p and "PythonUDF" not in p)
    check("dispersion: partial agg", "partial_" in p or "ObjectHashAggregate" in p or "SortAggregate" in p)

    # 4. quality battery expression-only
    o = Q.q_invalid_entries(spark, sf_dir)
    p = plan_of(o)
    check("invalid_entries: no python UDF", "BatchEvalPython" not in p)

    # 5. dedup: candidates via equi-joins (shuffled hash/sort-merge ok), no cartesian
    d = Q.q_minhash_lsh(spark, sf_dir)
    p = plan_of(d)
    check("minhash: no cartesian", "CartesianProduct" not in p)

    # 6. ANN brute force: corpus never shuffles before scoring — the query
    # block rides in an explicit sc.broadcast into the Arrow GEMM stage, so
    # the plan is scan → MapInPandas → rank window (no join at all)
    a = Q.q_ann_cosine(spark, sf_dir)
    p = plan_of(a)
    check("ann: Arrow GEMM scoring stage", "MapInPandas" in p)
    check("ann: no join/cartesian in scoring", "CartesianProduct" not in p and "SortMergeJoin" not in p)

    # 6b. simhash pairs: banded candidates are a hash-partitionable
    # equi-join — the OR-of-halves predicate used to plan a BNLJ (O(N²))
    from anovos_spark.operators.dedup import simhash_pairs

    docs = Q.table(spark, sf_dir, "documents")
    p = plan_of(simhash_pairs(docs))
    check("simhash_pairs: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    check("simhash_pairs: no cartesian", "CartesianProduct" not in p)

    # 7. reverse geocoding: pure projection — zero shuffle, zero UDF
    from anovos_spark.operators.geospatial import reverse_geocoding

    cu = Q.table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 170 - 85.0).alias("lat"),
        (F.col("c_custkey") % 360 - 180.0).alias("lon"),
    )
    p = plan_of(reverse_geocoding(cu, "lat", "lon"))
    check("reverse_geocoding: no shuffle", "Exchange" not in p)
    check("reverse_geocoding: no python UDF", "BatchEvalPython" not in p)

    # 8. rollup: single Expand-based aggregation (grouping sets share scan)
    p = plan_of(Q.q_rollup_revenue(spark, sf_dir))
    check("rollup: expand operator", "Expand" in p)
    check("rollup: partial agg", "partial_" in p)

    # 9. sql window top-k: partitioned window, no global single-partition sort
    p = plan_of(Q.q_sql_window_topk(spark, sf_dir))
    check("sql_window: hash-partitioned window", "hashpartitioning(o_custkey" in p)
    check("sql_window: no singlePartition exchange", "SinglePartition" not in p)

    # 10. as-of join: union-window — ZERO join nodes, one hash exchange
    p = plan_of(Q.q_asof_join_events(spark, sf_dir))
    check("asof_join: zero join nodes", "Join" not in p)
    check("asof_join: hash-partitioned window", "hashpartitioning(user_id" in p)

    # 11. range join: bucketed equi-join — hash join, never nested-loop
    p = plan_of(Q.q_range_join_events(spark, sf_dir))
    check("range_join: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    check("range_join: no cartesian", "CartesianProduct" not in p)
    check("range_join: hash join on bucket", "HashJoin" in p)

    # 12. hash_split + pii_redact: pure projections — no exchange, no UDF
    p = plan_of(Q.q_hash_split(spark, sf_dir))
    check("hash_split: partial agg only exchange", p.count("Exchange") <= 2)
    check("hash_split: no python UDF", "BatchEvalPython" not in p)
    p = plan_of(Q.q_pii_redaction(spark, sf_dir))
    check("pii_redact: no exchange", "Exchange" not in p)
    check("pii_redact: no python UDF", "BatchEvalPython" not in p)

    # 13. vocabulary / contamination: wordcount shape — partial agg, no
    # cartesian; contamination's gram join must hash-partition
    p = plan_of(Q.q_vocabulary(spark, sf_dir))
    check("vocabulary: partial aggregation", "partial_" in p)
    check("vocabulary: no cartesian", "CartesianProduct" not in p)
    p = plan_of(Q.q_contamination_check(spark, sf_dir))
    check("contamination: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    check("contamination: no cartesian", "CartesianProduct" not in p)

    # 14. boilerplate_removal: the frequent-line membership test must be a
    # BROADCAST join (the corpus line table never shuffles for it); no UDF
    p = plan_of(Q.q_boilerplate_removal(spark, sf_dir))
    check("boilerplate: broadcast membership join", "BroadcastHashJoin" in p)
    check("boilerplate: no cartesian", "CartesianProduct" not in p)
    check("boilerplate: no python UDF", "BatchEvalPython" not in p)

    # 15. token_budget_sample: ONE keyed window (partitioned by group), no
    # global all-to-one window
    p = plan_of(Q.q_token_budget_sample(spark, sf_dir))
    check("token_budget: no global window", "SinglePartition" not in p.split("Window")[0][-400:] if "Window" in p else True)
    check("token_budget: partial agg", "partial_" in p)

    # 16. mixture_plan: the corpus aggregation is partial (map-side); the
    # global window runs over the group-count frame AFTER the agg only
    p = plan_of(Q.q_mixture_plan(spark, sf_dir))
    check("mixture_plan: partial aggregation", "partial_" in p)

    # 17. feature_recommender: token joins broadcast (corpus + idf are tiny)
    p = plan_of(Q.q_feature_recommender(spark, sf_dir))
    check("featrec: broadcast token joins", "BroadcastHashJoin" in p)
    check("featrec: no cartesian", "CartesianProduct" not in p)

    # 18. chunk_documents: chunk fan-out inside the scan projection — no
    # exchange, no UDF (the explode is a Generate node, not a shuffle)
    p = plan_of(Q.q_chunk_documents(spark, sf_dir))
    check("chunk_documents: no exchange", "Exchange" not in p)
    check("chunk_documents: no python UDF", "BatchEvalPython" not in p)

    # 19. quantize_embeddings: array expressions at scan speed; the
    # round-trip joins broadcast (both sides re-derive from one scan)
    p = plan_of(Q.q_quantize_embeddings(spark, sf_dir))
    check("quantize: no python UDF", "BatchEvalPython" not in p)
    check("quantize: no cartesian", "CartesianProduct" not in p)

    # 20. heavy_hitters: candidate recount joins BROADCAST (the candidate
    # set is bounded by capacity x partitions, never the key space)
    p = plan_of(Q.q_heavy_hitters(spark, sf_dir))
    check("heavy_hitters: broadcast candidate join", "BroadcastHashJoin" in p)
    check("heavy_hitters: partial agg", "partial_" in p)

    # 21. scd2: two keyed windows — hash-partitioned, never SinglePartition
    p = plan_of(Q.q_scd2_versions(spark, sf_dir))
    check("scd2: no global window", "SinglePartition" not in p)
    check("scd2: no python UDF", "BatchEvalPython" not in p)

    # 22. incremental dedup: banded candidate join is a hash equi-join
    p = plan_of(Q.q_minhash_incremental(spark, sf_dir))
    check("minhash_incremental: no cartesian", "CartesianProduct" not in p)
    check("minhash_incremental: no nested-loop join", "BroadcastNestedLoopJoin" not in p)

    # 23. grouped_summary: ONE keyed aggregation for all columns (a single
    # Exchange pair), partial agg, no per-column jobs
    p = plan_of(Q.q_grouped_summary(spark, sf_dir))
    check("grouped_summary: partial agg", "partial_" in p)
    check("grouped_summary: single shuffle", p.count("Exchange") <= 2)

    # 24. funnel/cohort: user-keyed hash joins and aggs only
    p = plan_of(Q.q_funnel(spark, sf_dir))
    check("funnel: no cartesian", "CartesianProduct" not in p)
    check("funnel: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    p = plan_of(Q.q_cohort_retention(spark, sf_dir))
    check("cohort: no cartesian", "CartesianProduct" not in p)
    check("cohort: partial agg", "partial_" in p)

    # 25. fuzzy_match: deletion-variant candidates are a hash equi-join;
    # verify joins stay hash joins — never a cartesian/BNLJ
    p = plan_of(Q.q_fuzzy_match(spark, sf_dir))
    check("fuzzy_match: no cartesian", "CartesianProduct" not in p)
    check("fuzzy_match: no nested-loop join", "BroadcastNestedLoopJoin" not in p)

    # 26. constraints: scalar rules in ONE aggregation (<= one Exchange
    # pair before the collect), referential as anti-join
    p = plan_of(Q.q_validate_constraints(spark, sf_dir))
    check("constraints: local-result frame", "Scan ExistingRDD" in p or "LocalTableScan" in p)

    # 27. spatial_join: grid equi-join + expression ray cast — no UDF,
    # no nested loop over the polygon set
    p = plan_of(Q.q_spatial_join(spark, sf_dir))
    check("spatial_join: no python UDF", "BatchEvalPython" not in p)
    check("spatial_join: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    check("spatial_join: no cartesian", "CartesianProduct" not in p)

    # 28. CUSUM/TWA: keyed windows only
    p = plan_of(Q.q_cusum_changepoints(spark, sf_dir))
    check("cusum: no global window", "SinglePartition" not in p)
    p = plan_of(Q.q_time_weighted_avg(spark, sf_dir))
    check("twa: no global window", "SinglePartition" not in p)
    check("twa: partial agg", "partial_" in p)

    # 29. spatial_join how='left': matched + anti-join path stays
    # equi-join-only (the naive formulation would BNLJ the polygons)
    from anovos_spark.operators.geospatial import spatial_join

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 30.0, 30.0)], "pid int, lat double, lon double"
    )
    polys = spark.createDataFrame(
        [(100, [(10.0, 0.0), (0.0, 10.0), (-10.0, 0.0), (0.0, -10.0)])],
        "poly_id int, vertices array<struct<lat:double,lon:double>>",
    )
    p = plan_of(spatial_join(pts, polys, "lat", "lon", how="left"))
    check("spatial_join left: no nested-loop join", "BroadcastNestedLoopJoin" not in p)
    check("spatial_join left: no cartesian", "CartesianProduct" not in p)

    # 30. geo_density_clusters: the point-labeling join against the
    # 9-cell halo must broadcast (driver holds only DENSE cells)
    from anovos_spark.operators.geospatial import geo_density_clusters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("value") / 10).alias("lat"), (F.col("value") / 7).alias("lon")
    )
    odf, _ = geo_density_clusters(ev, "lat", "lon", eps_km=200.0, min_samples=5)
    p = plan_of(odf)
    check("density_clusters: halo join broadcasts", "BroadcastHashJoin" in p)
    check("density_clusters: no cartesian", "CartesianProduct" not in p)

    # 31. knn_imputation_exact: only the dirty slice crosses Arrow; the
    # clean slice stays JVM-side (union of scan + mapInPandas branch)
    p = plan_of(Q.q_knn_imputation_exact(spark, sf_dir))
    check("knn_exact: partial agg", "partial_" in p)
    check("knn_exact: no cartesian", "CartesianProduct" not in p)

    # 32. feature_recommender_gemm: corpus broadcast + Arrow GEMM — the
    # scorer must not shuffle the attribute side into a join
    p = plan_of(Q.q_feature_recommender_gemm(spark, sf_dir))
    check("featrec_gemm: no cartesian", "CartesianProduct" not in p)
    check("featrec_gemm: no sort-merge join", "SortMergeJoin" not in p)

    # 33. violin_frame (r7): melt → bucket → one bounded groupBy, all
    # expression-side — the density window runs over n_cols × n_bins
    # rows, never the data
    p = plan_of(Q.q_violin_frame(spark, sf_dir))
    check("violin_frame: no python UDF", "BatchEvalPython" not in p and "PythonUDF" not in p)
    check("violin_frame: partial agg", "partial_" in p)
    check("violin_frame: no cartesian", "CartesianProduct" not in p)

    # 34. audio_decode (r7): the codec IS the Arrow stage (mapInPandas by
    # design); there must be no join/shuffle around it
    p = plan_of(Q.q_audio_decode(spark, sf_dir))
    check("audio_decode: Arrow codec stage", "MapInPandas" in p)
    check("audio_decode: no join", "Join" not in p and "CartesianProduct" not in p)

    # 35. engine-wide: ZERO row-at-a-time Python UDFs anywhere in the
    # package source (r9: location_in_polygon was the last one — now the
    # expression ray cast).  Arrow-batched pandas_udf/mapInPandas/
    # applyInPandas stay allowed; this pins the BatchEvalPython class out
    # of existence at the source level, not just per-sampled-plan.
    # ADVICE r9: lint via the ast module instead of a text regex — a
    # regex false-positives on 'udf(' inside comments/docstrings and
    # false-negatives on 'from pyspark.sql.functions import udf as _u'.
    import anovos_spark as _pkg

    pkg_root = os.path.dirname(_pkg.__file__)
    row_udf_sites = []
    for root, _dirs, files in os.walk(pkg_root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            row_udf_sites.extend(
                f"{fn}:{ln}" for ln in _find_row_udf_calls(path)
            )
    check("engine-wide: zero row-at-a-time Python UDFs in source",
          not row_udf_sites, str(row_udf_sites))

    print(f"\n{'ALL CLEAR' if not failures else f'{len(failures)} audit failures: {failures}'}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
