"""Feature explorer — browse the feature-recommender corpus by industry
and use case (reference: feature_recommender/feature_explorer.py:23-318).

The reference operates on a driver-side pandas corpus with
sentence-transformer fuzzy matching of the industry/usecase inputs; here
the corpus is a DataFrame (default: featrec.DEFAULT_CORPUS) and the
whole browse path is declarative Spark — distinct/filter/window — so it
works unchanged whether the corpus has 20 rows or 20 million (a corpus
mined from usage logs).  Input normalization matches the reference
(lowercase, strip, non-alphanumeric → space); ``semantic=True``
resolves a non-exact input to the closest corpus value by trigram
overlap instead of the reference's sentence-transformer cosine (same
contract, dependency-free — the model-dir gate in featrec.py documents
how to plug the real model).

Ranking contract (list_feature_by_*): the reference sorts by the
popularity count of the companion column (feature_explorer.py:181-225,
groupby-transform count, descending) with unspecified tie order; here
ties break deterministically by (count DESC, companion ASC,
feature_name ASC) so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_COLS = ("feature_name", "industry", "usecase", "description")


def _default_corpus(spark) -> DataFrame:
    from anovos_spark.operators.featrec import _corpus_df

    return _corpus_df(spark)


def _normalize(s: str) -> str:
    import re

    return re.sub(r"[^a-z0-9 ]+", " ", str(s).lower().strip()).strip()


def _resolve(corpus_df: DataFrame, col: str, value: str, semantic: bool) -> str:
    """Exact normalized match first; with semantic=True an inexact input
    resolves to the corpus value with the highest character-trigram
    overlap (collected values are the DISTINCT industries/usecases — a
    bounded domain, not the corpus rows)."""
    if not isinstance(value, str):
        raise TypeError(f"invalid input for {col}: {value!r}")
    norm = _normalize(value)
    domain = [
        r[0]
        for r in corpus_df.select(col).distinct().collect()
        if r[0] is not None
    ]
    by_norm = {_normalize(d): d for d in domain}
    if norm in by_norm:
        return by_norm[norm]
    if not semantic:
        raise ValueError(f"{col} {value!r} not found in corpus")

    def grams(s: str) -> set:
        s = f"  {s}  "
        return {s[i : i + 3] for i in range(len(s) - 2)}

    g = grams(norm)
    best, best_j = None, -1.0
    for dn, orig in sorted(by_norm.items()):
        dg = grams(dn)
        j = len(g & dg) / max(1, len(g | dg))
        if j > best_j:
            best, best_j = orig, j
    if best is None:
        raise ValueError(f"corpus has no {col} values")
    return best


def list_all_industry(corpus_df: DataFrame) -> DataFrame:
    """[industry] — every industry in the corpus (reference
    feature_explorer.py:23-33)."""
    return corpus_df.select("industry").where(
        F.col("industry").isNotNull()
    ).distinct()


def list_all_usecase(corpus_df: DataFrame) -> DataFrame:
    """[usecase] — every use case in the corpus (reference :36-46)."""
    return corpus_df.select("usecase").where(
        F.col("usecase").isNotNull()
    ).distinct()


def list_all_pair(corpus_df: DataFrame) -> DataFrame:
    """[industry, usecase] distinct pairs (reference :49-58)."""
    return corpus_df.select("industry", "usecase").distinct()


def list_usecase_by_industry(
    corpus_df: DataFrame, industry: str, semantic: bool = True
) -> DataFrame:
    """[usecase] for one (fuzzily resolved) industry (reference :139-158)."""
    ind = _resolve(corpus_df, "industry", industry, semantic)
    return (
        corpus_df.where(F.col("industry") == ind).select("usecase").distinct()
    )


def list_industry_by_usecase(
    corpus_df: DataFrame, usecase: str, semantic: bool = True
) -> DataFrame:
    """[industry] for one (fuzzily resolved) usecase (reference :160-179)."""
    uc = _resolve(corpus_df, "usecase", usecase, semantic)
    return (
        corpus_df.where(F.col("usecase") == uc).select("industry").distinct()
    )


def _ranked(filtered: DataFrame, companion: str, num_of_feat) -> DataFrame:
    cnt_w = Window.partitionBy(companion)
    rank_w = Window.orderBy(
        F.col("__cnt__").desc(), F.col(companion).asc(),
        F.col("feature_name").asc(), F.col("description").asc(),
    )
    odf = (
        filtered.dropDuplicates(list(_COLS))
        .withColumn("__cnt__", F.count(F.lit(1)).over(cnt_w))
        .withColumn("__rk__", F.row_number().over(rank_w))
    )
    if num_of_feat != "all":
        if not isinstance(num_of_feat, int) or num_of_feat < 0:
            raise TypeError("num_of_feat must be a non-negative int or 'all'")
        odf = odf.where(F.col("__rk__") <= num_of_feat)
    return odf.select(*_COLS, F.col("__rk__").alias("feat_rank"))


def list_feature_by_industry(
    corpus_df: DataFrame,
    industry: str,
    num_of_feat=100,
    semantic: bool = True,
) -> DataFrame:
    """Features of one industry ranked by their usecase's popularity
    within it (reference :181-225) →
    [feature_name, industry, usecase, description, feat_rank].

    The global rank window runs on the single-industry slice — bounded
    by that industry's corpus rows, not the corpus."""
    ind = _resolve(corpus_df, "industry", industry, semantic)
    return _ranked(
        corpus_df.where(F.col("industry") == ind), "usecase", num_of_feat
    )


def list_feature_by_usecase(
    corpus_df: DataFrame,
    usecase: str,
    num_of_feat=100,
    semantic: bool = True,
) -> DataFrame:
    """Features of one usecase ranked by their industry's popularity
    within it (reference :226-270)."""
    uc = _resolve(corpus_df, "usecase", usecase, semantic)
    return _ranked(
        corpus_df.where(F.col("usecase") == uc), "industry", num_of_feat
    )


def list_feature_by_pair(
    corpus_df: DataFrame,
    industry: str,
    usecase: str,
    num_of_feat=100,
    semantic: bool = True,
) -> DataFrame:
    """Features of one (industry, usecase) pair (reference :272-318);
    rank is deterministic feature_name order within the pair."""
    ind = _resolve(corpus_df, "industry", industry, semantic)
    uc = _resolve(corpus_df, "usecase", usecase, semantic)
    filtered = corpus_df.where(
        (F.col("industry") == ind) & (F.col("usecase") == uc)
    )
    return _ranked(filtered, "usecase", num_of_feat)
