"""Similarity search over embedding columns (array<float>).

Every search returns [query_id, neighbor_id, cos_sim, rank] (near-dup:
[id_a, id_b, cos_sim]), with cos_sim rounded to 6 decimals and ranks
ordered by (cos_sim DESC, neighbor_id ASC):

- brute_force_topk: exact top-k — the oracle-checkable truth.  The query
  set (≤10k) is the broadcast side of the block-cosine GEMM kernel
  (core.gemm.block_cosine), the corpus streams through it, and a rank
  window picks each query's top k from per-chunk partial top-k rows.
- embedding_near_dup_pairs: exact all-pairs on the same kernel (threshold
  cut, id_a < id_b) at low thresholds; random-hyperplane LSH sign
  sketches → bucket join → exact re-score at high ones.
- lsh_bucket_topk: numpy sign sketches per Arrow batch → (table, bucket)
  equi-join → exact re-score of the candidates; recall < 1, shuffle
  O(N·tables).
- ivf_topk / ivf_build_index / ivf_query_index: KMeans cells, each query
  re-scores only its n_probe nearest cells; recall < 1.
- quantize_embeddings / dequantize_embeddings: per-vector int8 scaling.

Candidate re-scoring after the LSH and IVF joins, and the LSH near-dup
sketches, are JVM-side F.aggregate/F.zip_with folds over the arrays — no
Python.  (Measured at dim 64: the HOF aggregate beats a fully-unrolled
getItem chain ~3× — element_at re-checks bounds/null per term, and the
64-deep Add tree defeats codegen fusion.)  Floats are cast to double
before multiply so the sequential fold is deterministic and matches the
DuckDB oracle bit-for-bit.  Norms are computed once per row, never per
pair, and pairs are scored BEFORE any distinct so the shuffle carries
narrow (id, id, sim) rows, not embedding vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anovos_spark.core.gemm import block_cosine, top_k_by
from anovos_spark.core.utils import fan_out, local_frame


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


def _cos6(a: str, b: str, na: str, nb: str) -> Column:
    """round(cos, 6) of array columns ``a``, ``b`` with precomputed norms."""
    return F.round(F.try_divide(_dot(F.col(a), F.col(b)), F.col(na) * F.col(nb)), 6)


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

    The query side (≤10k by contract) is the broadcast side of
    ``core.gemm.block_cosine``; the corpus streams and never shuffles.
    Each score chunk emits only its PARTIAL TOP-K per query under the
    global (cos DESC, id ASC) order — every global top-k neighbor is among
    its query's k best within its own chunk — so the rank window shuffles
    O(k·queries·chunks) rows, never O(corpus·queries): at the caps
    (200k corpus × 10k queries) the unreduced pair stream would be 2e9
    rows (r10 mem-probe finding)."""
    import numpy as np

    kk = int(k)

    def partial_top_k(S, nid, qid):
        S[nid[:, None] == qid[None, :]] = -np.inf  # self-matches
        # id-ascending rows + a STABLE sort on the score make the
        # selection order exactly the global ranking order
        by_id = np.argsort(nid, kind="stable")
        top = by_id[np.argsort(-S[by_id], axis=0, kind="stable")[:kk]]
        qi = np.broadcast_to(np.arange(S.shape[1]), top.shape)
        keep = np.isfinite(S[top, qi])
        return top[keep], qi[keep]

    # null vectors carry no geometry — excluded on both sides
    scored = block_cosine(
        corpus.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("embedding")
        ),
        queries.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).cast(dict(corpus.dtypes)[id_col]).alias("query_id"),
            F.col(vec_col).alias("embedding"),
        ),
        partial_top_k,
        score_col="cos_sim",
        cap=10_000,
        over_cap="brute-force top-k broadcasts the query side; keep it <= 10k "
        "vectors (use lsh_bucket_topk / ivf_topk for large query sets)",
        empty="brute-force top-k needs at least one non-null query vector "
        "(query side collected empty)",
    )
    return top_k_by(
        scored.select("query_id", "neighbor_id", "cos_sim"),
        "query_id", "cos_sim", "neighbor_id", k,
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
    if exact == "auto":
        exact = threshold < 0.7

    # null vectors carry no geometry — excluded before either path
    corpus = corpus.where(F.col(vec_col).isNotNull())
    if exact:
        # The O(N²) baseline as a block GEMM (core.gemm.block_cosine), not
        # a nested-loop join of per-pair expressions: higher-order-function
        # folds don't join whole-stage codegen (interpreted eval goes
        # megamorphic in long sessions — measured 12s→29s drift for the
        # same plan), while the GEMM scores a 2k×2k corpus in
        # milliseconds.  The corpus is also the broadcast side (guarded —
        # this path is small-N by contract), and only surviving pairs
        # leave a chunk, so nothing quadratic is ever shuffled.
        import numpy as np

        return block_cosine(
            corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("embedding")),
            corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("embedding")),
            lambda S, a, b: np.nonzero((S >= threshold) & (a[:, None] < b[None, :])),
            score_col="cos_sim",
            cap=200_000,
            over_cap="exact near-dup is quadratic and quarantined to <=200k vectors "
            "(got {n}); use exact=False (threshold >= 0.7) or raise the "
            "threshold so LSH can prune",
            empty="embedding_near_dup_pairs: corpus is empty (nothing to index)",
        )
    # sketching is compute-heavy per row (bits×tables literal-array dots):
    # fan the scan out so it doesn't run single-task when the corpus
    # arrives as one parquet row group
    c1 = fan_out(corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm2(F.col(vec_col)).alias("na"),
    ))
    c2 = fan_out(corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm2(F.col(vec_col)).alias("nb"),
    ))
    first_vec = corpus.select(vec_col).first()
    if first_vec is None or first_vec[0] is None:
        raise ValueError("embedding_near_dup_pairs: corpus is empty (nothing to index)")
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
    # skew guard (same contract as dedup's banded joins): a sketch bucket
    # over bucket_cap members — N identical embeddings land in one (table,
    # bucket) key — would emit N²/2 pairs from one join task; such buckets
    # emit a min-id spanning STAR instead (connectivity-equivalent for
    # near-dup grouping).  Only sa needs the filter: sb rows in oversized
    # buckets then find no partner.
    chain_scored = None
    if bucket_cap is not None:
        from anovos_spark.operators.dedup import _cap_buckets, _chain_pairs

        sa, over = _cap_buckets(sa, ["t", "bk"], bucket_cap)
        chain = _chain_pairs(over, ["t", "bk"], "id_a", payload=["va", "na"])
        chain_scored = chain.select(
            "id_a", "id_b", _cos6("va_a", "va_b", "na_a", "na_b").alias("cos_sim")
        )
    pairs = sa.join(sb, ["t", "bk"]).where(F.col("id_a") < F.col("id_b"))
    # score BEFORE dedup so the distinct shuffles 3 narrow columns, not the
    # embedding vectors (same (id_a,id_b) always scores identically)
    scored = pairs.select("id_a", "id_b", _cos6("va", "vb", "na", "nb").alias("cos_sim"))
    if chain_scored is not None:
        scored = scored.unionByName(chain_scored)
    return scored.distinct().where(F.col("cos_sim") >= threshold)


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
        _cos6("query_id_v", "neighbor_id_v", "query_id_n", "neighbor_id_n").alias("cos_sim"),
    ).distinct()
    return top_k_by(scored, "query_id", "cos_sim", "neighbor_id", k)


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
        "query_id", "neighbor_id", _cos6("qv", "cv", "qn", "cn").alias("cos_sim")
    )
    return top_k_by(scored, "query_id", "cos_sim", "neighbor_id", k)


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
        "query_id", "neighbor_id", _cos6("qv", "cv", "qn", "cn").alias("cos_sim")
    )
    return top_k_by(scored, "query_id", "cos_sim", "neighbor_id", k)


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
