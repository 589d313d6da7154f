"""Variable clustering (VarClusHi-style divisive PCA clustering).

Reference parity: association_evaluator.variable_clustering
(association_evaluator.py:142-250) + association_eval_varclus.py:11-450,
itself a port of the VarClusHi package (public PyPI project implementing
SAS PROC VARCLUS semantics).

Split of labor (same as the reference): the only data-sized computation is
the correlation matrix — computed here in ONE Spark aggregation of
pairwise F.corr (the reference assembles vectors and calls
RowMatrix.computeCovariance, :84); everything after runs on the driver on
a p×p numpy matrix (p = #columns, driver-scale by definition).

Algorithm (PROC VARCLUS, maxeigval2 criterion):
1. start with all variables in one cluster;
2. find the cluster whose 2nd principal-component eigenvalue exceeds
   ``maxeigval2`` (default 1.0); split it by the rotated first two PCs —
   each variable goes to the component it correlates with more strongly;
3. repeat until every cluster's 2nd eigenvalue ≤ maxeigval2;
4. output per variable: cluster id, RS_own (R² with own cluster's PC1),
   RS_next (max R² with any other cluster's PC1), and
   RS_Ratio = (1 − RS_own)/(1 − RS_next).

Preprocessing matches the reference: label-encode categoricals + MMM-impute
nulls (association_evaluator.py:229-234).
"""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anovos_spark.core.typing import resolve_columns
from anovos_spark.core.utils import local_frame


def _correlation_matrix_np(idf: DataFrame, cols: list[str]) -> np.ndarray:
    """p×p Pearson correlation matrix from ONE Spark aggregation."""
    pairs = list(itertools.combinations(range(len(cols)), 2))
    aggs = [F.corr(cols[i], cols[j]).alias(f"c_{i}_{j}") for i, j in pairs]
    row = idf.agg(*aggs).collect()[0] if aggs else {}
    p = len(cols)
    m = np.eye(p)
    for i, j in pairs:
        v = row[f"c_{i}_{j}"]
        m[i, j] = m[j, i] = 0.0 if v is None else v
    return m


def _pc_loadings(corr: np.ndarray, idx: list[int], n_comp: int = 2):
    """Eigen-decomposition of the sub-correlation-matrix; returns
    (eigvals desc, loadings[p, n_comp]).  Conventions for degenerate
    clusters match the reference's correig (association_eval_varclus.py:
    128-133): 1 variable → eigvals [1, 0]; empty → [0, 0]."""
    if len(idx) == 0:
        return np.zeros(max(n_comp, 1)), np.zeros((0, n_comp))
    if len(idx) == 1:
        w = np.zeros(max(n_comp, 1))
        w[0] = 1.0
        v = np.zeros((1, n_comp))
        v[0, 0] = 1.0
        return w, v
    sub = corr[np.ix_(idx, idx)]
    w, v = np.linalg.eigh(sub)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    return w, v[:, :n_comp]


def _quartimax(L: np.ndarray, max_iter: int = 100, tol: float = 1e-8):
    """Raw quartimax rotation (orthomax with γ=0): find the orthogonal R
    maximizing Σ loadings⁴ via the standard SVD iteration (public
    algorithm; the reference uses factor_analyzer's Rotator with
    method='quartimax', association_eval_varclus.py:323)."""
    p, k = L.shape
    if k < 2:
        return L
    R = np.eye(k)
    d = 0.0
    for _ in range(max_iter):
        Lr = L @ R
        u, s, vt = np.linalg.svd(L.T @ (Lr**3))
        R = u @ vt
        d_new = float(np.sum(s))
        if d_new <= d * (1 + tol):
            break
        d = d_new
    return L @ R


def _explained_variance(corr: np.ndarray, *cluster_lists) -> float:
    """Σ first-eigenvalue over clusters (reference _calc_tot_var)."""
    tot = 0.0
    for idx in cluster_lists:
        if not idx:
            continue
        w, _ = _pc_loadings(corr, idx, 1)
        tot += float(w[0])
    return tot


def _search_phase(corr: np.ndarray, clus1: list[int], clus2: list[int]):
    """Greedy hill-climb (reference _reassign, :176-231): move each
    variable to the other cluster whenever that raises the total explained
    variance, recomputing components after every accepted move; sweep
    until a full pass makes no improvement."""
    fin1, fin2 = list(clus1), list(clus2)
    check_var = max_var = _explained_variance(corr, fin1, fin2)
    while True:
        for v in list(fin1) + list(fin2):
            n1, n2 = list(fin1), list(fin2)
            if v in n1:
                n1.remove(v)
                n2.append(v)
            else:
                n2.remove(v)
                n1.append(v)
            new_var = _explained_variance(corr, n1, n2)
            if new_var > check_var:
                check_var = new_var
                fin1, fin2 = n1, n2
        if max_var == check_var:
            break
        max_var = check_var
    return fin1, fin2


def variable_clustering(
    idf: DataFrame,
    list_of_cols="all",
    drop_cols=(),
    maxeigval2: float = 1.0,
    max_clusters: int = 20,
    sample_size: int = 1_000_000,
    seed: int = 42,
) -> DataFrame:
    """[cluster, attribute, RS_ratio] variable clustering.

    Categorical columns are label-encoded and nulls median-imputed before
    correlation (reference preprocessing, association_evaluator.py:229-234).
    """
    from anovos_spark.operators.transformers import (
        imputation_MMM,
        label_encoding_apply,
        label_encoding_fit,
    )

    num_cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="numerical")
    cat_cols = resolve_columns(idf, list_of_cols, drop_cols, restrict_to="categorical")
    # Sample FIRST, on the raw input: the count is then a parquet
    # metadata-only scan and the encode/median-impute passes run over at
    # most sample_size rows instead of the full frame (the reference's own
    # correlation_matrix samples before preprocessing for the same reason,
    # association_evaluator.py:108-115; <= sample_size inputs are
    # bit-identical to the old order).  Encoding fit on the sample covers
    # every row it will be applied to, so no category is ever unseen.
    base = idf.select(num_cols + cat_cols)
    total = idf.count()
    if total > sample_size:
        base = base.sample(False, sample_size / total, seed)
    # fan out ONCE before the persist: the three fit passes below (encoding
    # counts, exact-median impute, the p² co-moment agg) all aggregate the
    # cached frame, and a bench-SF parquet scan materializes ~one real
    # partition — which the persist would otherwise pin, serializing every
    # pass.  One narrow shuffle paid once; no-op at real scale.  Placed
    # AFTER the seeded sample so the realized sample is unchanged, and the
    # fits are order-independent (integer counts, exact percentile) except
    # corr's double sums, whose ulps the invariant-contract oracle absorbs.
    from anovos_spark.core.utils import fan_out

    base = fan_out(base)
    base.persist()
    df = base
    if cat_cols:
        enc = label_encoding_fit(df, cat_cols)
        df = label_encoding_apply(df, enc)
    cols = num_cols + [c for c in cat_cols if c in df.columns]
    # fit the exact-median impute ONLY for columns that actually contain
    # nulls: the null census is one cheap codegen'd aggregation over the
    # persisted sample, while each fitted median pays the melt → groupBy →
    # window-cumsum exact-percentile chain.  Imputing a null-free column
    # is the identity, so the skip is value-identical; clean inputs (the
    # common production case, and every bench table) skip the whole chain.
    df = df.select(cols)
    nc = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    ).collect()[0]
    null_cols = [c for c in cols if (nc[c] or 0) > 0]
    if null_cols:
        df, _ = imputation_MMM(df, null_cols, method_type="median")
    corr = _correlation_matrix_np(df, cols)
    base.unpersist()

    # ---- divisive clustering on the driver ---------------------------- #
    # PROC VARCLUS fidelity (association_eval_varclus.py:267-384):
    # 1. pick the cluster with the largest 2nd eigenvalue (> maxeigval2);
    # 2. quartimax-rotate its first two eigenvectors, then NCS-assign each
    #    variable to the rotated component it correlates with harder
    #    (corr(feat, comp_i) = rvec_i·C[:,feat] / σ_i, σ_i² = (RᵀCR)_ii);
    # 3. search phase: greedy per-variable reassignment maximizing total
    #    explained variance, recomputing after each accepted move.
    clusters: list[list[int]] = [list(range(len(cols)))]
    while len(clusters) < max_clusters:
        best_i, best_ev2 = None, maxeigval2
        for i, idx in enumerate(clusters):
            if len(idx) < 2:
                continue
            w, _ = _pc_loadings(corr, idx)
            if len(w) > 1 and w[1] > best_ev2:
                best_i, best_ev2 = i, w[1]
        if best_i is None:
            break
        idx = clusters.pop(best_i)
        _, load = _pc_loadings(corr, idx)
        rload = _quartimax(load)
        sub = corr[np.ix_(idx, idx)]
        comb_sigma = np.sqrt(np.clip(np.diag(rload.T @ sub @ rload), 1e-12, None))
        g1, g2 = [], []
        for k, v in enumerate(idx):
            c1 = float(np.dot(rload[:, 0], sub[:, k])) / comb_sigma[0]
            c2 = float(np.dot(rload[:, 1], sub[:, k])) / comb_sigma[1]
            (g1 if abs(c1) > abs(c2) else g2).append(v)
        if not g1 or not g2:
            # rotation put everything on one component: fall back to a
            # loadings split so the search phase has two sides to improve
            g1 = [v for k, v in enumerate(idx) if rload[k, 0] >= 0]
            g2 = [v for k, v in enumerate(idx) if rload[k, 0] < 0]
        if not g1 or not g2:
            clusters.append(idx)
            break
        g1, g2 = _search_phase(corr, g1, g2)
        if not g1 or not g2:
            clusters.append(g1 or g2)
        else:
            clusters += [g1, g2]

    # ---- RS ratios ----------------------------------------------------- #
    # R²(var, cluster PC1) = (Σ_j load1_j · corr[var, j])² / eigval1
    def pc1(idx):
        w, v = _pc_loadings(corr, idx, 1)
        return w[0], v[:, 0]

    pcs = [pc1(idx) for idx in clusters]
    rows = []
    for ci, idx in enumerate(clusters):
        for v in idx:
            rs = []
            for cj, (w1, load) in enumerate(pcs):
                jdx = clusters[cj]
                num = float(np.dot(load, corr[v, jdx])) ** 2
                r2 = num / w1 if w1 > 0 else 0.0
                rs.append(min(r2, 1.0))
            rs_own = rs[ci]
            rs_next = max((r for j, r in enumerate(rs) if j != ci), default=0.0)
            denom = 1.0 - rs_next
            ratio = (1.0 - rs_own) / denom if denom > 1e-12 else float("inf")
            rows.append(
                (
                    ci,
                    cols[v],
                    round(float(rs_own), 6),
                    round(float(rs_next), 6),
                    round(float(ratio), 6),
                )
            )

    spark = idf.sparkSession
    return local_frame(
        spark,
        rows,
        schema="cluster int, attribute string, RS_own double, RS_NC double, RS_ratio double",
    )
