"""Similarity search over embedding columns (array<float>).

Two paths, same contract:
- brute_force_topk: exact cosine top-k via join + window — the baseline and
  the oracle-checkable truth.  O(Q·N) dot products; at 100 TB use it only
  for small Q against a broadcast query set (which is exactly how it's
  written: the query side is broadcast, the corpus side never shuffles).
- lsh_topk: random-hyperplane LSH — sign-bit sketch → bucket join → exact
  re-rank inside buckets.  Recall < 1, shuffle O(N·tables); the scale path.

Dot products run as F.aggregate/F.zip_with over the array — JVM-side over
primitive arrays, no Python.  (Measured at dim 64: the HOF aggregate beats
a fully-unrolled getItem chain ~3× — element_at re-checks bounds/null per
term, and the 64-deep Add tree defeats codegen fusion; don't "optimize"
this into flat arithmetic.)  Floats are cast to double before multiply so
the sequential fold is deterministic and matches the DuckDB oracle
bit-for-bit.  Norms are computed once per row, never per pair; pair-dedup
happens AFTER scoring so distincts shuffle narrow (id, id, sim) rows, not
embedding vectors; and the exact O(N²) path repartitions its streamed side
so the nested-loop join uses every core instead of the scan's single
parquet partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anovos_spark.core.utils import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_const(a: Column, coeffs: list[float]) -> Column:
    """Dot of an array column with a constant vector.  The literal array is
    constant-folded once by Catalyst; the fold itself is the same
    primitive-array aggregate as _dot.  (Measured: the HOF aggregate beats a
    64-term unrolled getItem chain ~3× — element_at re-checks bounds/null
    per term while the lambda fold iterates the primitive array directly.)"""
    return _dot(a, F.array(*[F.lit(v) for v in coeffs]))


def _norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(_dot(a, b), _norm2(a) * _norm2(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    [query_id, neighbor_id, cos_sim, rank] — self-matches excluded; ties
    broken by neighbor id asc on the 6-decimal-rounded similarity (so
    ranking is reproducible across engines).

    Scoring runs as one numpy GEMM per ~64 MB corpus chunk against the
    collected-and-broadcast query block (queries are small by contract) —
    per-pair HOF folds stay out of the hot path (interpreted eval, no
    codegen, megamorphic drift in aged sessions).  The corpus never
    shuffles, and each chunk emits only its PARTIAL TOP-K per query
    (stable-sorted under the global (cos DESC, id ASC) order, so the
    cross-chunk rank window sees a superset of the true top-k): the
    shuffle is O(k·queries·chunks), never O(corpus·queries) — at the
    documented caps (200k corpus × 10k queries) the unreduced pair
    stream would be 2e9 rows (r10 mem-probe finding)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from anovos_spark.core.utils import fan_out

    # null vectors carry no geometry — excluded on both sides
    corpus = corpus.where(F.col(vec_col).isNotNull())
    queries = queries.where(F.col(vec_col).isNotNull())
    q_rows = queries.select(id_col, vec_col).collect()
    if len(q_rows) > 10_000:
        raise ValueError(
            "brute-force top-k broadcasts the query side; keep it <= 10k "
            "vectors (use lsh_bucket_topk / ivf_topk for large query sets)"
        )
    if not q_rows:
        raise ValueError(
            "brute-force top-k needs at least one non-null query vector "
            "(query side collected empty)"
        )
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([r[1] for r in q_rows], dtype="float64")
    Qn = np.sqrt((Q * Q).sum(axis=1))
    Qn[Qn == 0] = np.inf
    Qz = Q / Qn[:, None]
    sc = corpus.sparkSession.sparkContext
    b_q = sc.broadcast((qids, Qz))
    id_dtype = dict(corpus.dtypes)[id_col]

    kk = int(k)

    def score_blocks(batches):
        qids_b, Qz_b = b_q.value
        nq = len(qids_b)
        # chunk the corpus rows so the score block S stays ~64 MB
        # regardless of query count (10k queries × an unchunked 10k-row
        # Arrow batch was an 800 MB matrix per python worker — the same
        # class as the sf10 near-dup GEMM OOM, r9)
        chunk = max(1, 8_000_000 // max(nq, 1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # id-ascending within the chunk + a STABLE sort below makes
            # the per-chunk selection order exactly the global ranking
            # order (cos_sim DESC, neighbor_id ASC)
            pdf = pdf.sort_values(id_col, kind="stable")
            C_all = np.array(list(pdf[vec_col]), dtype="float64")
            cid_all = pdf[id_col].to_numpy()
            for lo in range(0, len(pdf), chunk):
                C = C_all[lo:lo + chunk]
                cid = cid_all[lo:lo + chunk]
                Cn = np.sqrt((C * C).sum(axis=1))
                Cn[Cn == 0] = np.inf
                S = np.round((C / Cn[:, None]) @ Qz_b.T, 6)  # (rows, nq)
                S[cid[:, None] == qids_b[None, :]] = -np.inf  # self-matches
                # per-chunk partial top-k: every GLOBAL top-k neighbor of
                # a query is among that query's k best within its chunk
                # under the same total order, so emitting k rows per
                # (query, chunk) — instead of all rows×nq pairs — loses
                # nothing and keeps the shuffle O(k·nq·chunks), not O(N·nq)
                take = min(kk, S.shape[0])
                top = np.argsort(-S, axis=0, kind="stable")[:take]  # (take, nq)
                qi = np.broadcast_to(np.arange(nq), (take, nq))
                sel = S[top, qi]
                keep = np.isfinite(sel)
                yield pd.DataFrame(
                    {
                        "query_id": qids_b[qi[keep]],
                        "neighbor_id": cid[top[keep]],
                        "cos_sim": sel[keep],
                    }
                )

    scored = fan_out(corpus.select(id_col, vec_col)).mapInPandas(
        score_blocks,
        schema=f"query_id {id_dtype}, neighbor_id {id_dtype}, cos_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    exact="auto",
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: [id_a, id_b, cos_sim] with
    id_a < id_b and cos_sim ≥ threshold.

    exact='auto' (default) picks the algorithm by threshold:

    - threshold ≥ 0.7 → random-hyperplane LSH candidates → exact cosine
      verify; shuffle O(N·tables).  At cos 0.9 the per-bit sign-agreement
      probability is 1−θ/π ≈ 0.86, so 8-bit×8-table retention ≈ 0.98 with
      strong pruning of random pairs (2⁻⁸ per table).
    - threshold < 0.7 → blocked exact all-pairs.  This is deliberate, not a
      fallback: at low thresholds sign-LSH CANNOT prune.  For a pair at
      exactly cos τ=0.45, per-bit agreement is 0.65 vs 0.5 for random
      pairs; any (bits, tables) with per-pair miss ≤ 1e-3 generates ≥ N²
      candidate pairs — i.e. more scoring work than brute force, plus the
      sketch cost.  Measured on the 2k-vector sf0.1 corpus: LSH(4,16) took
      28s warm AND missed 2/144 true pairs; blocked exact took 2.4s.  No
      sublinear method guarantees recall in this low-contrast regime, so
      the honest scale posture for low-τ near-dup is a partitioned exact
      join (and a higher threshold if the corpus allows it).

    exact=True/False forces a path explicitly."""
    from pyspark.sql import functions as F

    if exact == "auto":
        exact = threshold < 0.7

    # null vectors carry no geometry — excluded before either path
    corpus = corpus.where(F.col(vec_col).isNotNull())
    c1 = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm2(F.col(vec_col)).alias("na"),
    )
    c2 = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm2(F.col(vec_col)).alias("nb"),
    )

    def score() -> Column:
        return F.round(
            F.try_divide(
                _dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
            ),
            6,
        )

    if exact:
        # The O(N²) baseline as a BLOCK MATMUL, not a nested-loop join of
        # per-pair expressions: higher-order-function folds don't join
        # whole-stage codegen (interpreted eval goes megamorphic in long
        # sessions — measured 12s→29s drift for the same plan), while one
        # numpy GEMM per Arrow batch scores a 2k×2k corpus in
        # milliseconds.  The corpus rides to executors once as a
        # broadcast (guarded — this path is small-N by contract); each
        # batch computes S = Az·Bzᵀ and emits only surviving pairs, so
        # nothing quadratic is ever shuffled.
        import numpy as np
        import pandas as pd

        from anovos_spark.core.utils import fan_out

        rows = corpus.select(id_col, vec_col).collect()
        rows = [r for r in rows if r[1] is not None]
        n = len(rows)
        if n > 200_000:
            raise ValueError(
                f"exact near-dup is quadratic and quarantined to <=200k vectors "
                f"(got {n}); use exact=False (threshold >= 0.7) or raise the "
                "threshold so LSH can prune"
            )
        id_dtype = dict(corpus.dtypes)[id_col]
        ids = np.array([r[0] for r in rows])
        B = np.array([r[1] for r in rows], dtype="float64")
        Bn = np.sqrt((B * B).sum(axis=1))
        Bn[Bn == 0] = np.inf
        Bz = B / Bn[:, None]
        sc = corpus.sparkSession.sparkContext
        b_corpus = sc.broadcast((ids, Bz))

        # chunk the Arrow batch so the score block S stays ~64 MB no
        # matter how large the broadcast corpus is: an UNchunked
        # batch_rows × n matrix is 10k × 200k × 8 B = 16 GB per python
        # worker — the sf10 differential OOM-killed workers at exactly
        # the documented 200k quarantine cap before this fix
        chunk = max(1, 8_000_000 // max(n, 1))

        def score_blocks(batches):
            ids_b, Bz_b = b_corpus.value
            for pdf in batches:
                A_all = np.array(list(pdf[vec_col]), dtype="float64")
                if len(A_all) == 0:
                    continue
                aid_all = pdf[id_col].to_numpy()
                for lo in range(0, len(A_all), chunk):
                    A = A_all[lo:lo + chunk]
                    An = np.sqrt((A * A).sum(axis=1))
                    An[An == 0] = np.inf
                    Az = A / An[:, None]
                    S = Az @ Bz_b.T
                    np.round(S, 6, out=S)
                    aid = aid_all[lo:lo + chunk]
                    keep = (S >= threshold) & (aid[:, None] < ids_b[None, :])
                    ai, bi = np.nonzero(keep)
                    yield pd.DataFrame(
                        {
                            "id_a": aid[ai],
                            "id_b": ids_b[bi],
                            "cos_sim": S[ai, bi],
                        }
                    )

        return fan_out(corpus.select(id_col, vec_col)).mapInPandas(
            score_blocks,
            schema=f"id_a {id_dtype}, id_b {id_dtype}, cos_sim double",
        )
    else:
        from anovos_spark.core.utils import fan_out

        # sketching is compute-heavy per row (bits×tables literal-array
        # dots): fan the scan out so it doesn't run single-task when the
        # corpus arrives as one parquet row group
        c1, c2 = fan_out(c1), fan_out(c2)
        first_vec = corpus.select(vec_col).first()
        if first_vec is None or first_vec[0] is None:
            raise ValueError(
                "embedding_near_dup_pairs: corpus is empty (nothing to index)"
            )
        dim = len(first_vec[0])
        planes = {
            (t, b): _hyperplane(dim, seed, t, b)
            for t in range(n_tables)
            for b in range(n_bits)
        }

        def sketch(df, id_alias, v_alias, n_alias):
            rows = []
            for t in range(n_tables):
                bits = None
                for b in range(n_bits):
                    bit = (_dot_const(F.col(v_alias), planes[(t, b)]) > 0).cast("int")
                    bits = bit if bits is None else bits * 2 + bit
                rows.append(F.struct(F.lit(t).alias("t"), bits.alias("bk")))
            return df.select(
                id_alias, v_alias, n_alias, F.explode(F.array(*rows)).alias("tb")
            ).select(id_alias, v_alias, n_alias, "tb.t", "tb.bk")

        sa = sketch(c1, "id_a", "va", "na")
        sb = sketch(c2, "id_b", "vb", "nb")
        # skew guard (same contract as dedup's banded joins): a sketch
        # bucket over bucket_cap members — N identical embeddings land in
        # one (table, bucket) key — would emit N²/2 pairs from one join
        # task; such buckets emit a min-id spanning STAR instead
        # (connectivity-equivalent for near-dup grouping).  Only sa needs
        # the filter: sb rows in oversized buckets then find no partner.
        chain_scored = None
        if bucket_cap is not None:
            from anovos_spark.operators.dedup import _cap_buckets, _chain_pairs

            sa, over = _cap_buckets(sa, ["t", "bk"], bucket_cap)
            chain = _chain_pairs(over, ["t", "bk"], "id_a", payload=["va", "na"])
            chain_scored = chain.select(
                "id_a",
                "id_b",
                F.round(
                    F.try_divide(
                        _dot(F.col("va_a"), F.col("va_b")),
                        F.col("na_a") * F.col("na_b"),
                    ),
                    6,
                ).alias("cos_sim"),
            )
        pairs = (
            sa.join(sb, ["t", "bk"])
            .where(F.col("id_a") < F.col("id_b"))
        )
        # score BEFORE dedup so the distinct shuffles 3 narrow columns, not
        # the embedding vectors (same (id_a,id_b) always scores identically)
        scored = pairs.select("id_a", "id_b", score().alias("cos_sim"))
        if chain_scored is not None:
            scored = scored.unionByName(chain_scored)
        scored = scored.distinct()
    return scored.where(F.col("cos_sim") >= threshold)


def _hyperplane(dim: int, seed: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a counter-based
    LCG — reproducible anywhere, no RNG state."""
    vals = []
    x = (seed * 6364136223846793005 + (table * 97 + bit) * 1442695040888963407) % (2**63)
    for _ in range(dim):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        vals.append(((x >> 16) % 2000001) / 1000000.0 - 1.0)  # [-1, 1]
    return vals


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH ANN: sign sketches → bucket equi-join →
    exact cosine re-rank within candidates.

    [query_id, neighbor_id, cos_sim, rank].  Recall is approximate; the
    candidate join is an equi-join on (table, bucket) so shuffle volume is
    O(N·tables) regardless of corpus size.

    Sketching runs as ONE numpy matmul per Arrow batch (X · P for all
    tables×bits planes at once) instead of tables×bits interpreted HOF
    folds per row — HOF expressions never enter codegen and their
    interpreted eval degrades 2-3× in aged sessions (same root cause as
    the exact near-dup rewrite; measured ~8 s → ~1 s at sf0.1)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from anovos_spark.core.utils import fan_out

    # null vectors carry no geometry — excluded before sketching
    corpus = corpus.where(F.col(vec_col).isNotNull())
    queries = queries.where(F.col(vec_col).isNotNull())
    first_vec = corpus.select(vec_col).first()
    if first_vec is None or first_vec[0] is None:
        raise ValueError("lsh_bucket_topk: corpus is empty (nothing to index)")
    dim = len(first_vec[0])
    # (dim, tables·bits) plane matrix; column t*n_bits+b = plane (t, b)
    P = np.array(
        [_hyperplane(dim, seed, t, b) for t in range(n_tables) for b in range(n_bits)],
        dtype="float64",
    ).T
    weights = np.array([2 ** (n_bits - 1 - b) for b in range(n_bits)], dtype="int64")
    id_dtype = dict(corpus.dtypes)[id_col]
    vec_dtype = dict(corpus.dtypes)[vec_col]

    def sketch(df: DataFrame, id_alias: str) -> DataFrame:
        def run(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf[vec_col]), dtype="float64")
                signs = (X @ P) > 0  # (rows, tables·bits)
                buckets = signs.reshape(len(X), n_tables, n_bits) @ weights
                norms = np.sqrt((X * X).sum(axis=1))
                out = pd.DataFrame(
                    {
                        id_alias: pdf[id_col].to_numpy().repeat(n_tables),
                        f"{id_alias}_v": [v for v in pdf[vec_col] for _ in range(n_tables)],
                        f"{id_alias}_n": norms.repeat(n_tables),
                        "table": np.tile(np.arange(n_tables), len(X)),
                        "bucket": buckets.reshape(-1),
                    }
                )
                yield out

        return fan_out(df.select(id_col, vec_col)).mapInPandas(
            run,
            schema=f"{id_alias} {id_dtype}, {id_alias}_v {vec_dtype}, "
            f"{id_alias}_n double, table int, bucket long",
        )

    cs = sketch(corpus, "neighbor_id")
    qs = sketch(queries, "query_id")
    cand = cs.join(F.broadcast(qs), ["table", "bucket"]).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    # score BEFORE dedup: the distinct then shuffles narrow (id, id, sim)
    # rows instead of the embedding vectors
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.try_divide(
                _dot(F.col("query_id_v"), F.col("neighbor_id_v")),
                F.col("query_id_n") * F.col("neighbor_id_n"),
            ),
            6,
        ).alias("cos_sim"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into
    ``n_centroids`` cells, then each query exactly re-ranks only the vectors
    in its ``n_probe`` nearest cells.

    [query_id, neighbor_id, cos_sim, rank] — same contract as
    brute_force_topk / lsh_bucket_topk; recall < 1 when a true neighbor
    lives outside the probed cells.

    Scale shape: the KMeans fit is Spark ML (distributed); cell assignment
    is one projection; centroids are tiny and ride into the query-side
    probe expression as literals (reverse_geocoding-style top-n over an
    array of structs — no shuffle); the candidate join is an equi-join on
    cell id, so shuffle volume is O(N + Q·n_probe·cell_size) — never the
    O(Q·N) of brute force."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    # null vectors carry no geometry — excluded (KMeans.fit dies on them)
    corpus = corpus.where(F.col(vec_col).isNotNull())
    queries = queries.where(F.col(vec_col).isNotNull())
    corp = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm2(F.col(vec_col)).alias("cn"),
        array_to_vector(F.col(vec_col)).alias("__v__"),
    )
    km = KMeans(k=n_centroids, seed=seed, featuresCol="__v__", predictionCol="cell")
    # fit on the vector column ALONE: KMeans caches and iterates over its
    # input, so the id / raw-array / norm columns would ride every
    # iteration for nothing.  Same vectors, same seed => identical model.
    model = km.fit(corp.select("__v__"))
    corp_cells = model.transform(corp).select("neighbor_id", "cv", "cn", "cell")

    centroids = [list(map(float, c)) for c in model.clusterCenters()]

    def probe_cells(vc):
        # squared L2 distance to each centroid; ||c||² folded to a literal
        cands = F.array(
            *[
                F.struct(
                    (
                        F.lit(float(sum(x * x for x in cen)))
                        - 2.0 * _dot_const(vc, cen)
                    ).alias("d"),
                    F.lit(i).alias("cell"),
                )
                for i, cen in enumerate(centroids)
            ]
        )
        return F.slice(F.array_sort(cands), 1, min(n_probe, len(centroids)))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm2(F.col(vec_col)).alias("qn"),
        F.explode(probe_cells(F.col(vec_col)).getField("cell")).alias("cell"),
    )
    cand = corp_cells.join(F.broadcast(q), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.try_divide(_dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
) -> None:
    """Persist an IVF index: fit the coarse quantizer ONCE and write
    ``{path}/centroids`` (cell → centroid) plus ``{path}/vectors``
    partitioned by cell — so queries never re-fit KMeans (the per-call
    fit in ivf_topk is fine for one-shots, unaffordable when the same
    100 TB corpus serves many query batches).

    The cell-partitioned layout means a query batch's probed cells
    become a partition-pruning filter at scan time: a batch probing 4 of
    1024 cells reads ~4/1024 of the index bytes."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # null vectors carry no geometry — excluded (KMeans.fit dies on them)
    corpus = corpus.where(F.col(vec_col).isNotNull())
    corp = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm2(F.col(vec_col)).alias("cn"),
        array_to_vector(F.col(vec_col)).alias("__v__"),
    )
    km = KMeans(k=n_centroids, seed=seed, featuresCol="__v__", predictionCol="cell")
    # fit on the vector column ALONE: KMeans caches and iterates over its
    # input, so the id / raw-array / norm columns would ride every
    # iteration for nothing.  Same vectors, same seed => identical model.
    model = km.fit(corp.select("__v__"))
    spark = corpus.sparkSession
    cent_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    local_frame(spark, cent_rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    model.transform(corp).select("neighbor_id", "cv", "cn", "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/vectors")


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    prune_partitions: bool = True,
) -> DataFrame:
    """Probe a persisted IVF index (see ivf_build_index) — same
    [query_id, neighbor_id, cos_sim, rank] contract as ivf_topk.

    ``prune_partitions=True`` collects the query batch's probed cell set
    (≤ Q × n_probe ints) and pushes it as a partition filter on the
    vectors scan — correct because only probed cells can produce
    candidates; turn it off for huge streaming query loads where the
    probed set approaches all cells anyway."""
    from pyspark.sql import Window

    centroids_df = spark.read.parquet(f"{path}/centroids").orderBy("cell")
    centroids = [list(map(float, r["centroid"])) for r in centroids_df.collect()]

    def probe_cells(vc):
        cands = F.array(
            *[
                F.struct(
                    (
                        F.lit(float(sum(x * x for x in cen)))
                        - 2.0 * _dot_const(vc, cen)
                    ).alias("d"),
                    F.lit(i).alias("cell"),
                )
                for i, cen in enumerate(centroids)
            ]
        )
        return F.slice(F.array_sort(cands), 1, min(n_probe, len(centroids)))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm2(F.col(vec_col)).alias("qn"),
        F.explode(probe_cells(F.col(vec_col)).getField("cell")).alias("cell"),
    )
    vectors = spark.read.parquet(f"{path}/vectors")
    if prune_partitions:
        probed = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
        vectors = vectors.where(F.col("cell").isin(probed))
    cand = vectors.join(F.broadcast(q), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.try_divide(_dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def quantize_embeddings(
    idf: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    out_col: str = "qvec",
) -> DataFrame:
    """Symmetric per-vector scalar quantization for ANN serving:
    scale = max|v| / (2^(bits-1) - 1), q_i = round(v_i / scale) — float32
    embeddings become int8 at 4× memory reduction (the standard first
    step before an IVF/LSH index has to hold 100 TB of vectors), with
    the per-vector scale kept for dequantization (v̂_i = q_i · scale,
    max error scale/2).

    Pure array expressions (transform + array_max), scan-speed, no UDF;
    zero vectors quantize to all-zero with scale 0.  Returns the input
    columns minus ``vec_col`` plus [qvec array<int>, scale double]
    (``id_col`` is accepted for signature symmetry and passes through
    untouched, like every non-vector column)."""
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = maxabs / F.lit(qmax)
    q = F.when(
        maxabs > 0,
        F.transform(v, lambda x: F.round(x.cast("double") / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    other = [c for c in idf.columns if c != vec_col]
    return idf.select(*other, q.alias(out_col), scale.alias("scale"))


def dequantize_embeddings(
    idf: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of quantize_embeddings: v̂_i = q_i · scale (double array)."""
    q = F.col(qvec_col)
    rec = F.transform(q, lambda x: x.cast("double") * F.col(scale_col))
    other = [c for c in idf.columns if c not in (qvec_col, scale_col)]
    return idf.select(*other, rec.alias(out_col))
