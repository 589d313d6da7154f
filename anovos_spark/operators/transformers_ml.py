"""ML-assisted transformers: latent features, model-based imputation,
monotonic binning, Box-Cox.

Reference parity: transformers.py (monotonic_binning :294-425,
imputation_sklearn :1677-2019, imputation_matrixFactorization :2022-2257,
auto_imputation :2260-2521, PCA_latentFeatures :2915-3168,
boxcox_transformation :3327-3486, autoencoder_latentFeatures :2524-2912 —
the Keras autoencoder is re-implemented in pure numpy, same architecture).

Scale posture (same as the reference): fits run on bounded seeded samples
(sklearn-style KNN 10k :1689, boxcox grid on a sample), scoring is
distributed via Arrow pandas_udf; ALS/PCA use Spark ML (fully distributed).
The reference's sklearn dependency is replaced with pure-numpy math inside
the pandas UDF — same algorithm, no extra dependency.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anovos_spark.core.typing import resolve_columns
from anovos_spark.core.utils import local_frame


# --------------------------------------------------------------------------- #
# PCA latent features
# --------------------------------------------------------------------------- #
def pca_latent_features(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    explained_variance_cutoff: float = 0.95,
    standardize: bool = True,
    output_mode: str = "append",
) -> tuple[DataFrame, dict]:
    """PCA with k = min components reaching the explained-variance cutoff
    (reference: transformers.py:2915-3168).  Distributed fit via
    ml.feature.PCA; latent columns extracted with vector_to_array (the
    reference uses an RDD round-trip, :723-728-style — avoided)."""
    from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    vec = VectorAssembler(inputCols=cols, outputCol="__feat__", handleInvalid="skip")
    df = vec.transform(idf)
    if df.isEmpty():
        raise ValueError(
            "pca_latent_features: no rows to fit on (empty input, or every "
            "row dropped by handleInvalid='skip')"
        )
    feat_col = "__feat__"
    if standardize:
        scaler = StandardScaler(
            inputCol="__feat__", outputCol="__scaled__", withMean=True, withStd=True
        ).fit(df)
        df = scaler.transform(df)
        feat_col = "__scaled__"
    model = PCA(k=len(cols), inputCol=feat_col, outputCol="__pca__").fit(df)
    ev = list(model.explainedVariance)
    cum, k = 0.0, len(cols)
    for i, v in enumerate(ev):
        cum += v
        if cum >= explained_variance_cutoff:
            k = i + 1
            break
    out = model.transform(df)
    arr = vector_to_array(F.col("__pca__"))
    keep = list(idf.columns) if output_mode == "append" else []
    odf = out.select(
        *keep, *[arr[i].alias(f"latent_{i}") for i in range(k)]
    )
    return odf, {"k": k, "explained_variance": ev[:k], "columns": cols}


# --------------------------------------------------------------------------- #
# ALS matrix-factorization imputation
# --------------------------------------------------------------------------- #
def imputation_als(
    idf: DataFrame,
    id_col: str,
    list_of_cols="all",
    drop_cols=(),
    rank: int = 10,
    max_iter: int = 20,
    reg_param: float = 0.01,
    seed: int = 42,
    output_mode: str = "replace",
) -> DataFrame:
    """Impute missing numeric cells via ALS matrix factorization
    (reference: transformers.py:2022-2257, ALS params :2186-2194).

    Melt observed cells to (id, attr_idx, value), fit ALS, predict the
    missing cells, pivot back and coalesce.  ``output_mode='append'``
    keeps the original columns and adds ``{col}_imputed``; 'replace'
    overwrites in place (the transformers.py convention).  Differences vs reference:
    a user-supplied natural ``id_col`` keys the rows (the reference builds
    a global row_number over an unpartitioned window — single-task at
    scale, SURVEY §4), and values are z-scaled per attribute before
    factorization so one attribute's magnitude can't dominate the loss.
    """
    from pyspark.ml.recommendation import ALS

    from anovos_spark.core.utils import melt

    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    cols = [c for c in cols if c != id_col]
    # per-attribute scaling params + id range check (one agg).  Spark ALS
    # requires int32 user ids; a silent cast would corrupt 64-bit keys
    # (TPC-H orderkeys overflow int32 around sf 700), so refuse loudly —
    # a global long→int remap would itself be a full shuffle + join at
    # 100 TB, which the caller should opt into by supplying an int-range id.
    aggs = [F.min(id_col).alias("__id_min"), F.max(id_col).alias("__id_max")]
    for c in cols:
        aggs += [F.mean(c).alias(f"{c}__mu"), F.stddev(c).alias(f"{c}__sd")]
    row = idf.agg(*aggs).collect()[0]
    if row["__id_min"] is not None and (
        int(row["__id_min"]) < -(2**31) or int(row["__id_max"]) >= 2**31
    ):
        raise ValueError(
            f"imputation_als: id_col '{id_col}' range "
            f"[{row['__id_min']}, {row['__id_max']}] exceeds int32 (Spark ALS "
            "requirement). Provide an int-range id (e.g. a pre-assigned "
            "surrogate key) instead of relying on a lossy cast."
        )
    scale = {
        c: (row[f"{c}__mu"] or 0.0, row[f"{c}__sd"] if row[f"{c}__sd"] else 1.0)
        for c in cols
    }

    scaled = idf.select(
        F.col(id_col),
        *[
            ((F.col(c) - F.lit(scale[c][0])) / F.lit(scale[c][1])).alias(c)
            for c in cols
        ],
    )
    long_df = melt(scaled, [id_col], cols, "attribute", "value")
    attr_idx = {c: i for i, c in enumerate(cols)}
    idx_expr = F.create_map(
        *[x for c, i in attr_idx.items() for x in (F.lit(c), F.lit(i))]
    )
    long_df = long_df.withColumn("item", idx_expr[F.col("attribute")].cast("int"))
    observed = long_df.where(F.col("value").isNotNull()).select(
        F.col(id_col).cast("int").alias("user"), "item", F.col("value").cast("float").alias("rating")
    )
    # ALS iterates 20×; without a checkpoint dir its internal RDD lineage
    # (and the serialized task graph) deepens every iteration — in long
    # sessions that has produced StackOverflowError during task
    # deserialization.  checkpointInterval=10 (ALS default) truncates it,
    # but only if a checkpoint dir exists.
    if observed.isEmpty():
        raise ValueError(
            "imputation_als: no observed cells to factorize (empty input "
            "or every value null)"
        )
    sc = idf.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir("/tmp/anovos_spark_checkpoints")
    als = ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        seed=seed,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    ).fit(observed)

    missing = long_df.where(F.col("value").isNull()).select(
        F.col(id_col).cast("int").alias("user"), "item"
    )
    preds = als.transform(missing)
    filled = preds.groupBy("user").pivot("item", list(attr_idx.values())).agg(
        F.first("prediction")
    )
    renamed = filled.select(
        F.col("user").alias("__join_id__"),
        *[
            F.col(str(i)).alias(f"__pred_{c}__")
            for c, i in attr_idx.items()
            if str(i) in filled.columns
        ],
    )
    joined = idf.join(
        renamed, idf[id_col].cast("int") == renamed["__join_id__"], "left_outer"
    )
    if output_mode not in ("replace", "append"):
        raise ValueError(f"output_mode must be replace|append, got {output_mode!r}")
    exprs = []
    for c in idf.columns:
        if c in cols and f"__pred_{c}__" in joined.columns:
            mu, sd = scale[c]
            restored = F.col(f"__pred_{c}__").cast("double") * F.lit(sd) + F.lit(mu)
            filled_c = F.coalesce(F.col(c), restored)
            if output_mode == "append":
                exprs.append(F.col(c))
                exprs.append(filled_c.alias(f"{c}_imputed"))
            else:
                exprs.append(filled_c.alias(c))
        else:
            exprs.append(F.col(c))
    return joined.select(*exprs)


# --------------------------------------------------------------------------- #
# KNN imputation (numpy-in-pandas_udf; replaces the reference's sklearn dep)
# --------------------------------------------------------------------------- #
def imputation_knn(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    k: int = 5,
    sample_size: int = 10_000,
    seed: int = 42,
    fit_frac: float | None = None,
) -> DataFrame:
    """KNN imputation: fit = a bounded seeded sample of complete rows
    pulled to the driver and broadcast; score = Arrow-batched mapInPandas
    computing k-nearest (euclidean over observed dims, z-scaled) means
    (reference: transformers.py:1677-2019, sample 10k :1689; sklearn
    KNNImputer replaced by the same math in numpy).

    ``fit_frac``: the seeded Bernoulli sampling fraction for the fit
    sample.  Default None derives it as ``min(1, sample_size/count)``,
    which costs one count() pass over the input; callers that already
    know the row count (or know by construction that the frame is within
    the fit budget, i.e. frac would be 1.0) pass it explicitly and skip
    that pass.  Same seed + same frac => the identical sample either way."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    if fit_frac is not None:
        frac = fit_frac
    else:
        total = idf.count()
        frac = min(1.0, sample_size / total) if total else 1.0
    sample_pd = (
        idf.select(cols).dropna().sample(False, frac, seed).limit(sample_size).toPandas()
    )
    if sample_pd.empty:
        raise ValueError("no complete rows to fit KNN imputation")
    ref = sample_pd[cols].to_numpy(dtype="float64")
    mu = ref.mean(axis=0)
    sd = ref.std(axis=0)
    sd[sd == 0] = 1.0
    ref_z = (ref - mu) / sd

    spark = idf.sparkSession
    b_ref = spark.sparkContext.broadcast((ref, ref_z, mu, sd))
    schema = idf.schema
    col_idx = {c: i for i, c in enumerate(cols)}

    def score(batches):
        ref_, ref_z_, mu_, sd_ = b_ref.value
        kk = min(k, len(ref_))
        for pdf in batches:
            X = pdf[cols].to_numpy(dtype="float64")
            nan_mask = np.isnan(X)
            any_nan = nan_mask.any(axis=1)
            if any_nan.any():
                Xz = (X - mu_) / sd_
                # vectorize per distinct nan-pattern: one chunked distance
                # matrix per pattern instead of a python loop per row
                patterns = {}
                for r in np.where(any_nan)[0]:
                    patterns.setdefault(nan_mask[r].tobytes(), []).append(r)
                for pat, rows in patterns.items():
                    mask = np.frombuffer(pat, dtype=bool)
                    obs = ~mask
                    rows = np.asarray(rows)
                    if not obs.any():
                        X[np.ix_(rows, np.where(mask)[0])] = mu_[mask]
                        continue
                    # squared-distance via BLAS: ‖a‖² + ‖b‖² − 2·a·bᵀ — one
                    # matmul per chunk, no (rows × refs × dims) tensor.
                    # Chunk 128 keeps the (chunk × refs) distance matrix
                    # ~10 MB and cache-resident; at 512 rows the 41 MB
                    # matrix thrashes the L3 shared by all executor-core
                    # workers (measured 30× slower with 32 concurrent).
                    R = ref_z_[:, obs]
                    r_sq = (R * R).sum(axis=1)
                    for start in range(0, len(rows), 128):
                        chunk = rows[start : start + 128]
                        A = Xz[chunk][:, obs]
                        d = (A * A).sum(axis=1)[:, None] + r_sq[None, :] - 2.0 * (A @ R.T)
                        # tie policy: average over ALL refs tied at the
                        # k-th distance boundary (d <= k-th smallest), not
                        # an arbitrary argpartition pick — duplicate (obs)
                        # tuples in the fit sample otherwise make the fill
                        # depend on partition order.  Mirrors the DuckDB
                        # oracle's rank()<=k selection exactly.
                        if kk < d.shape[1]:
                            dk = np.partition(d, kk - 1, axis=1)[:, kk - 1 : kk]
                            sel = d <= dk
                        else:
                            sel = np.ones_like(d, dtype=bool)
                        cnt = sel.sum(axis=1, keepdims=True).astype("float64")
                        fill = (sel.astype("float64") @ ref_[:, mask]) / cnt
                        X[np.ix_(chunk, np.where(mask)[0])] = fill
                for c, i in col_idx.items():
                    pdf[c] = X[:, i]
            yield pdf

    # only rows that actually contain a null cross the Arrow boundary — at
    # a typical few-% null rate this keeps ~all of the scan JVM-side
    import functools
    import operator as pyop

    has_null = functools.reduce(pyop.or_, [F.col(c).isNull() for c in cols])
    dirty = idf.where(has_null)
    # fan the (few-%) dirty rows across all cores before Arrow scoring —
    # the filter inherits the scan's partitioning, which for a single
    # parquet file caps the python workers at a handful of tasks
    # (fan_out probes the Catalyst size estimate — no RDD conversion job)
    from anovos_spark.core.utils import fan_out

    dirty = fan_out(dirty)
    dirty = dirty.mapInPandas(score, schema=schema)
    clean = idf.where(~has_null)
    return clean.unionByName(dirty)


# --------------------------------------------------------------------------- #
# regression (iterative) imputation
# --------------------------------------------------------------------------- #
def imputation_regression(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    sample_size: int = 10_000,
    ridge: float = 1e-6,
    seed: int = 42,
    fit_frac: float | None = None,
) -> DataFrame:
    """Regression imputation: fill each missing cell with its conditional
    mean given the row's observed columns (reference: transformers.py:
    1677-2019 imputation_sklearn(method_type='regression') — sklearn's
    IterativeImputer round-robin-regresses each column on the others until
    convergence; for linear regressors that fixed point IS the Gaussian
    conditional mean  μ_M + Σ_MO·Σ_OO⁻¹·(x_O − μ_O), which we compute
    directly from a (μ, Σ) fit, so scoring needs no iteration).

    Scale shape: fit = one bounded seeded sample of complete rows to the
    driver (reference samples 10k too, :1689) → (μ, Σ) broadcast; score =
    Arrow-batched mapInPandas over ONLY the rows containing nulls, one
    small Σ_OO solve per distinct null-pattern per batch (patterns ≤ 2^cols
    but in practice a handful), everything else a matmul.  The clean-row
    majority never crosses the Arrow boundary.

    ``fit_frac`` as in :func:`imputation_knn`: pass the known sampling
    fraction (1.0 when the frame is within the fit budget by construction)
    to skip the count() pass that would otherwise derive it."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    if fit_frac is not None:
        frac = fit_frac
    else:
        total = idf.count()
        frac = min(1.0, sample_size / total) if total else 1.0
    sample_pd = (
        idf.select(cols).dropna().sample(False, frac, seed).limit(sample_size).toPandas()
    )
    if len(sample_pd) < len(cols) + 2:
        raise ValueError("not enough complete rows to fit regression imputation")
    ref = sample_pd[cols].to_numpy(dtype="float64")
    mu = ref.mean(axis=0)
    cov = np.cov(ref, rowvar=False)
    cov = np.atleast_2d(cov) + ridge * np.eye(len(cols))

    spark = idf.sparkSession
    b_fit = spark.sparkContext.broadcast((mu, cov))
    schema = idf.schema
    col_idx = {c: i for i, c in enumerate(cols)}

    def score(batches):
        mu_, cov_ = b_fit.value
        for pdf in batches:
            X = pdf[cols].to_numpy(dtype="float64")
            nan_mask = np.isnan(X)
            any_nan = nan_mask.any(axis=1)
            if any_nan.any():
                patterns = {}
                for r in np.where(any_nan)[0]:
                    patterns.setdefault(nan_mask[r].tobytes(), []).append(r)
                for pat, rows in patterns.items():
                    miss = np.frombuffer(pat, dtype=bool)
                    obs = ~miss
                    rows = np.asarray(rows)
                    if not obs.any():
                        X[np.ix_(rows, np.where(miss)[0])] = mu_[miss]
                        continue
                    # conditional mean: μ_M + Σ_MO Σ_OO⁻¹ (x_O − μ_O)
                    s_oo = cov_[np.ix_(obs, obs)]
                    s_mo = cov_[np.ix_(miss, obs)]
                    beta = np.linalg.solve(s_oo, s_mo.T)  # (|O|, |M|)
                    dev = X[np.ix_(rows, np.where(obs)[0])] - mu_[obs]
                    fill = mu_[miss] + dev @ beta
                    X[np.ix_(rows, np.where(miss)[0])] = fill
                for c, i in col_idx.items():
                    pdf[c] = X[:, i]
            yield pdf

    import functools
    import operator as pyop

    from anovos_spark.core.utils import fan_out

    has_null = functools.reduce(pyop.or_, [F.col(c).isNull() for c in cols])
    dirty = fan_out(idf.where(has_null)).mapInPandas(score, schema=schema)
    clean = idf.where(~has_null)
    return clean.unionByName(dirty)


# --------------------------------------------------------------------------- #
# auto imputation bake-off
# --------------------------------------------------------------------------- #
def auto_imputation(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    null_pct: float = 0.15,
    sample_size: int = 20_000,
    seed: int = 42,
) -> tuple[str, DataFrame]:
    """Pick the best imputer by injecting nulls into a clean sample and
    comparing Σ(RMSE/mean) across methods (reference: transformers.py:
    2260-2521 runs the same bake-off over its full method set).
    Candidates: MMM-mean, MMM-median, KNN, regression, ALS — the
    reference's five families.  Returns (winner_name, scores_df
    [method, score])."""
    from pyspark.sql import Window

    from anovos_spark.operators.transformers import imputation_MMM

    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    total = idf.count()
    frac = min(1.0, sample_size / total) if total else 1.0
    clean = idf.select(cols).dropna().sample(False, frac, seed)
    # int-range contiguous row id: ALS requires int32 ids, so the raw
    # monotonically_increasing_id (partition<<33 | row) won't do.  The
    # global row_number window is single-task but runs on the bounded
    # ≤sample_size bake-off sample only — never the full frame.
    clean = clean.withColumn("__mid__", F.monotonically_increasing_id())
    clean = clean.withColumn(
        "__rid__",
        F.row_number().over(Window.orderBy("__mid__")).cast("int"),
    ).drop("__mid__")
    clean.persist()

    corrupted = clean
    for i, c in enumerate(cols):
        # deterministic pseudo-random mask from the row id
        mask = (F.abs(F.hash(F.col("__rid__"), F.lit(i))) % 100) < int(null_pct * 100)
        corrupted = corrupted.withColumn(
            c, F.when(mask, F.lit(None)).otherwise(F.col(c))
        )
    corrupted.persist()

    stats_row = clean.agg(
        F.count(F.lit(1)).alias("__n__"),
        *[F.avg(F.abs(F.col(c))).alias(c) for c in cols],
    ).collect()[0]
    truth_means = {c: stats_row[c] for c in cols}
    # bake-off sample size, measured once here off the persisted frame —
    # the knn/regression candidates take it as fit_frac instead of each
    # re-counting the same ≤sample_size frame
    n_bake = stats_row["__n__"]
    bake_frac = min(1.0, 5000 / n_bake) if n_bake else 1.0

    def rmse_score(imputed: DataFrame) -> float:
        joined = clean.alias("t").join(imputed.alias("i"), "__rid__")
        aggs = []
        for c in cols:
            aggs.append(
                F.sqrt(F.avg(F.pow(F.col(f"t.{c}") - F.col(f"i.{c}"), 2))).alias(c)
            )
        row = joined.agg(*aggs).collect()[0]
        return sum(
            (row[c] or 0.0) / truth_means[c] for c in cols if truth_means[c]
        )

    candidates = {
        "mmm_mean": lambda: imputation_MMM(corrupted, cols, method_type="mean")[0],
        "mmm_median": lambda: imputation_MMM(corrupted, cols, method_type="median")[0],
        "knn": lambda: imputation_knn(
            corrupted, cols, sample_size=5000, seed=seed, fit_frac=bake_frac
        ),
        "regression": lambda: imputation_regression(
            corrupted, cols, sample_size=5000, seed=seed, fit_frac=bake_frac
        ),
        "als": lambda: imputation_als(
            corrupted, "__rid__", cols, max_iter=10, seed=seed
        ),
    }
    # the five candidates are independent job chains over the same two
    # persisted ≤sample_size frames — run them through a driver-side
    # thread pool so the scheduler overlaps their (tiny) stages and the
    # bake-off costs max(candidate) wall time instead of the sum.
    # Results are the same deterministic scores; only submission order
    # changes.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(candidates)) as pool:
        futures = {
            name: pool.submit(lambda f=fn: rmse_score(f()))
            for name, fn in candidates.items()
        }
        scores = {name: fut.result() for name, fut in futures.items()}
    winner = min(scores, key=scores.get)
    spark = idf.sparkSession
    scores_df = local_frame(spark, sorted(scores.items()), "method string, score double")
    clean.unpersist()
    corrupted.unpersist()
    return winner, scores_df


# --------------------------------------------------------------------------- #
# monotonic binning
# --------------------------------------------------------------------------- #
def monotonic_binning(
    idf: DataFrame,
    label_col: str,
    event_label=1,
    list_of_cols="all",
    drop_cols=(),
    max_bins: int = 20,
    min_bins: int = 2,
    output_mode: str = "replace",
    exact: bool = True,
) -> tuple[DataFrame, dict]:
    """Shrink bin count until the per-bin event rate is monotonic in the
    bin index (|Spearman| == 1), else fall back to max_bins
    (reference: transformers.py:294-425 — their per-trial toPandas +
    scipy.spearmanr loop is replaced by TWO total Spark jobs: one exact
    percentile agg over the union grid {i/n}, one melt+groupBy over fine
    buckets whose (count, Σy) lets the driver evaluate every (column, n)
    candidate by merging buckets — all 19 trials, zero extra jobs)."""
    from fractions import Fraction

    from anovos_spark.core.utils import melt
    from anovos_spark.operators.transformers import binning_apply

    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    cols = [c for c in cols if c != label_col]
    y = (F.col(label_col) == F.lit(event_label)).cast("double")

    # ---- job 1: ONE exact-percentile agg over the union fraction grid.
    # Every candidate bin count n needs quantiles {i/n}; their union over
    # n ∈ [min_bins, max_bins] is ~200 fractions, so all 19 trial fits
    # collapse into a single aggregation (the iterative version re-fit
    # quantiles once per trial → 19 sequential jobs).
    fracs = sorted(
        {Fraction(i, n) for n in range(min_bins, max_bins + 1) for i in range(1, n)}
    )
    frac_vals = [float(f) for f in fracs]
    arr = "array(" + ", ".join(repr(v) for v in frac_vals) + ")"
    # exact=False is the production/scale posture (same contract as the
    # stats module): percentile_approx's mergeable sketch replaces the
    # sort-based exact percentile, trading ~1e-3 quantile error — far
    # below a bin boundary's worth — for a single streaming pass.
    fn, acc = ("percentile", "") if exact else ("percentile_approx", ", 1000")
    aggs = [F.expr(f"{fn}(`{c}`, {arr}{acc})").alias(c) for c in cols]
    qrow = idf.agg(*aggs).collect()[0]
    quantiles = {c: list(qrow[c] or []) for c in cols}  # frac index → value

    usable = [c for c in cols if len(quantiles[c]) == len(fracs)]

    # ---- job 2: ONE melt + groupBy over FINE buckets.  Fine cutoffs =
    # all grid quantile values, so every candidate n's bins are exact
    # merges of fine buckets; per-bucket (count, Σy) lets the driver
    # evaluate every (column, n) pair with zero further Spark jobs.
    fine_model = {
        c: {"method": "equal_frequency", "bin_size": len(fracs) + 1,
            "cutoffs": quantiles[c]}
        for c in usable
    }
    chosen: dict[str, dict] = {}
    if usable:
        binned = binning_apply(idf.withColumn("__y__", y), fine_model)
        long_df = melt(
            binned.select(usable + ["__y__"]), ["__y__"], usable, "attribute", "bin"
        )
        stats = (
            long_df.dropna(subset=["bin"])
            .groupBy("attribute", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("__y__").alias("sy"))
            .collect()
        )
        buckets: dict[str, dict[int, tuple[int, float]]] = {}
        for r in stats:
            buckets.setdefault(r["attribute"], {})[int(r["bin"])] = (r["cnt"], r["sy"])

        frac_index = {f: i for i, f in enumerate(fracs)}
        for c in usable:
            fine = buckets.get(c, {})
            if not fine:
                continue
            cuts_all = quantiles[c]
            for n_bins in range(max_bins, min_bins - 1, -1):
                cand_vals = [cuts_all[frac_index[Fraction(i, n_bins)]] for i in range(1, n_bins)]
                # rows in fine bucket b satisfy x > exactly (b-1) fine
                # cutoffs; x > v  ⟺  b-1 ≥ #{fine cutoffs ≤ v}
                c_le = [sum(1 for fc in cuts_all if fc <= v) for v in cand_vals]
                merged: dict[int, tuple[int, float]] = {}
                for b, (cnt, sy) in fine.items():
                    cand_bin = 1 + sum(1 for t in c_le if (b - 1) >= t)
                    pc, ps = merged.get(cand_bin, (0, 0.0))
                    merged[cand_bin] = (pc + cnt, ps + sy)
                if len(merged) < 2:
                    continue
                rates = [merged[b][1] / merged[b][0] for b in sorted(merged)]
                # |spearman| == 1 ⟺ rates strictly monotonic; test that
                # directly — corrcoef returns 0.99999... for a perfect
                # ordering and an exact == 1.0 silently never fires
                mono = all(b > a for a, b in zip(rates, rates[1:])) or all(
                    b < a for a, b in zip(rates, rates[1:])
                )
                if mono:
                    chosen[c] = {
                        "method": "equal_frequency",
                        "bin_size": n_bins,
                        "cutoffs": cand_vals,
                    }
                    break
    # fall back to max_bins for columns never monotonic
    for c in cols:
        if c not in chosen:
            cuts = quantiles.get(c, [])
            frac_index = {f: i for i, f in enumerate(fracs)}
            cand = (
                [cuts[frac_index[Fraction(i, max_bins)]] for i in range(1, max_bins)]
                if len(cuts) == len(fracs)
                else []
            )
            chosen[c] = {
                "method": "equal_frequency",
                "bin_size": max_bins,
                "cutoffs": cand,
            }
    odf = binning_apply(idf, chosen, output_mode)
    return odf, chosen


# --------------------------------------------------------------------------- #
# Box-Cox
# --------------------------------------------------------------------------- #
BOXCOX_LAMBDAS = [0, 1, -1, 0.5, -0.5, 2, -2, 0.25, -0.25, 3, -3, 4, -4, 5, -5]


def _ks_normality(x: np.ndarray, presorted: bool = False) -> float:
    """KS statistic of x against N(mean(x), std(x)) — numpy port of the
    reference's mllib KolmogorovSmirnovTest (transformers.py:3430-3439)."""
    if not presorted:
        x = np.sort(x[np.isfinite(x)])
    n = len(x)
    if n < 3:
        return 1.0
    mu, sd = x.mean(), x.std(ddof=1)
    if sd == 0:
        return 1.0
    z = (x - mu) / sd
    cdf = 0.5 * (1 + np.vectorize(math.erf)(z / math.sqrt(2)))
    d_plus = (np.arange(1, n + 1) / n - cdf).max()
    d_minus = (cdf - np.arange(0, n) / n).max()
    return max(d_plus, d_minus)


def boxcox_transformation(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    sample_size: int = 10_000,
    seed: int = 42,
    output_mode: str = "replace",
) -> tuple[DataFrame, dict]:
    """Pick λ from the reference grid minimizing the KS distance to
    normality on a bounded sample, then apply x^λ (λ≠0) or ln x (λ=0)
    (reference: transformers.py:3327-3486).  Only strictly-positive columns
    are transformed (power/log domain)."""
    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    total = idf.count()
    frac = min(1.0, sample_size / total) if total else 1.0
    pdf = idf.select(cols).sample(False, frac, seed).limit(sample_size).toPandas()

    lambdas: dict[str, float] = {}
    for c in cols:
        x = pdf[c].to_numpy(dtype="float64")
        x = x[np.isfinite(x)]
        if len(x) == 0 or (x <= 0).any():
            continue  # out of Box-Cox domain
        # sort ONCE: x^λ (x>0) is monotone — increasing for λ>0 and ln,
        # decreasing for λ<0 — so each candidate's sorted transform is the
        # transformed sorted array (reversed when λ<0); saves 14 sorts of
        # the sample per column
        xs = np.sort(x)
        best_lmb, best_ks = None, None
        for lmb in BOXCOX_LAMBDAS:
            t = np.log(xs) if lmb == 0 else np.power(xs, lmb)
            if lmb < 0:
                t = t[::-1]
            ks = _ks_normality(t, presorted=True)
            if best_ks is None or ks < best_ks:
                best_lmb, best_ks = lmb, ks
        lambdas[c] = best_lmb

    exprs = {}
    for c, lmb in lambdas.items():
        exprs[c] = F.log(F.col(c)) if lmb == 0 else F.pow(F.col(c), F.lit(float(lmb)))
    from anovos_spark.operators.transformers import _out

    return _out(idf, exprs, output_mode, "_boxcox"), lambdas


def autoencoder_latent_features(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    reduction_params: float = 0.5,
    sample_size: int = 500_000,
    epochs: int = 100,
    batch_size: int = 256,
    learning_rate: float = 1e-2,
    seed: int = 42,
    output_mode: str = "append",
) -> tuple[DataFrame, dict]:
    """Nonlinear latent features from a single-bottleneck MLP autoencoder.

    The reference (transformers.py:2524-2912) fits a Keras encoder/decoder on
    a <=500k driver sample and scores distributed via pandas_udf.  TensorFlow
    isn't in this environment, so the same architecture is re-implemented in
    pure numpy: encoder ``tanh(X·W1+b1)`` to a bottleneck of
    ``ceil(reduction_params*d)`` units (or exactly ``reduction_params`` if it
    is an int >= 1), linear decoder, MSE loss, Adam.  Inputs are standardized
    with sample moments; nulls fill to the (standardized) mean.

    Scale posture — identical to the reference: the FIT is a bounded seeded
    driver sample (transformers.py:2532); the SCORE is distributed via an
    Arrow pandas_udf whose tiny weight matrices ride along in the closure
    (auto-broadcast), so scoring is a single no-shuffle map over the data.
    """
    from pyspark.sql.types import ArrayType, DoubleType

    cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    d = len(cols)
    k = int(reduction_params) if reduction_params >= 1 else max(1, math.ceil(d * reduction_params))

    total = idf.count()
    frac = min(1.0, sample_size / max(total, 1))
    pdf = (
        idf.select(cols).dropna().sample(False, frac, seed).limit(sample_size).toPandas()
    )
    if pdf.empty:
        raise ValueError(
            "autoencoder_latent_features: no complete rows to fit on"
        )
    X = pdf.to_numpy(dtype=np.float64)
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd[sd == 0] = 1.0
    X = (X - mu) / sd

    rng = np.random.default_rng(seed)
    W1 = rng.normal(0, math.sqrt(1.0 / d), (d, k))
    b1 = np.zeros(k)
    W2 = rng.normal(0, math.sqrt(1.0 / k), (k, d))
    b2 = np.zeros(d)
    params = [W1, b1, W2, b2]
    m_t = [np.zeros_like(p) for p in params]
    v_t = [np.zeros_like(p) for p in params]
    beta1, beta2, eps = 0.9, 0.999, 1e-8
    step = 0
    n = X.shape[0]
    for _ in range(epochs):
        perm = rng.permutation(n)
        for start in range(0, n, batch_size):
            xb = X[perm[start : start + batch_size]]
            if len(xb) == 0:
                continue
            h = np.tanh(xb @ params[0] + params[1])
            out = h @ params[2] + params[3]
            err = (out - xb) / len(xb)  # d(MSE/2)/d(out)
            g_W2 = h.T @ err
            g_b2 = err.sum(axis=0)
            dh = (err @ params[2].T) * (1 - h * h)
            g_W1 = xb.T @ dh
            g_b1 = dh.sum(axis=0)
            step += 1
            for i, g in enumerate((g_W1, g_b1, g_W2, g_b2)):
                m_t[i] = beta1 * m_t[i] + (1 - beta1) * g
                v_t[i] = beta2 * v_t[i] + (1 - beta2) * g * g
                mhat = m_t[i] / (1 - beta1**step)
                vhat = v_t[i] / (1 - beta2**step)
                params[i] -= learning_rate * mhat / (np.sqrt(vhat) + eps)

    h_full = np.tanh(X @ params[0] + params[1])
    recon = h_full @ params[2] + params[3]
    train_mse = float(((recon - X) ** 2).mean())

    W1f, b1f = params[0], params[1]

    @F.pandas_udf(ArrayType(DoubleType()))
    def encode(*series: pd.Series) -> pd.Series:
        xm = np.column_stack([s.to_numpy(dtype=np.float64) for s in series])
        xm = (xm - mu) / sd
        xm = np.nan_to_num(xm, nan=0.0, posinf=0.0, neginf=0.0)
        z = np.tanh(xm @ W1f + b1f)
        return pd.Series(list(z))

    lat = encode(*[F.col(c) for c in cols])
    keep = list(idf.columns) if output_mode == "append" else []
    odf = idf.select(*keep, *[lat[i].alias(f"latent_{i}") for i in range(k)])
    model = {
        "columns": cols,
        "k": k,
        "train_mse": train_mse,
        "W1": params[0].tolist(),
        "b1": params[1].tolist(),
        "W2": params[2].tolist(),
        "b2": params[3].tolist(),
        "mu": mu.tolist(),
        "sd": sd.tolist(),
    }
    return odf, model
