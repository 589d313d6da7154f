"""Block-cosine GEMM: the one kernel behind every broadcast cosine scorer.

Brute top-k (``similarity.brute_force_topk``), exact near-dup
(``similarity.embedding_near_dup_pairs``, exact path) and the embedded
recommender (``featrec.feature_recommender_match_embedded``) all score a
streamed side of any size against a small side that fits in a broadcast.
They differ only in which ``(row, col)`` pairs of the score matrix they
keep, so that rule is the one thing a caller passes in.

The full score matrix is never materialized: each Arrow batch is scored
in row chunks sized on the driver so that one chunk's float64 ``S`` stays
within ``SCORE_BLOCK_BYTES``.  Unchunked, one 10k-row batch against the
200k-vector near-dup cap is a 16 GB matrix per Python worker (the sf10
worker OOM), and against a 10k-row broadcast side 800 MB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anovos_spark.core.utils import fan_out

# bytes of float64 score block per chunk (rows × broadcast side)
SCORE_BLOCK_BYTES = 64_000_000


def block_cosine(
    stream: DataFrame,
    side: DataFrame,
    select,
    score_col: str,
    cap: int,
    over_cap: str,
    empty: str,
) -> DataFrame:
    """Cosine-score every ``stream`` row against every ``side`` row and
    keep the pairs ``select`` picks.

    Both frames are key columns plus an ``embedding`` array column; the
    first key column of each is its id.  Output: the stream keys, the side
    keys, then ``score_col`` = round(cos, 6) of each kept pair (a zero
    vector scores 0 against everything).

    ``side`` is collected — ``ValueError(over_cap.format(n=rows))`` past
    ``cap`` rows, ``ValueError(empty)`` when it has none — unit-normalized
    and broadcast.  ``stream`` runs through ``fan_out(...).mapInPandas``,
    one GEMM per row chunk, and ``select(S, stream_ids, side_ids)`` returns
    the kept ``(row, col)`` index arrays of that chunk's ``S``.  It runs in
    the Python worker, so it must be a closure (not a module-level
    function) to keep the worker from importing this package.  It may
    overwrite ``S`` entries it does not keep."""
    import numpy as np
    import pandas as pd

    def unit(X):
        n = np.sqrt((X * X).sum(axis=1))
        n[n == 0] = np.inf
        return X / n[:, None]

    rows = side.collect()
    if len(rows) > cap:
        raise ValueError(over_cap.format(n=len(rows)))
    if not rows:
        raise ValueError(empty)
    side_cols = [c for c in side.columns if c != "embedding"]
    own_cols = [c for c in stream.columns if c != "embedding"]
    keys = [np.array([r[c] for r in rows]) for c in side_cols]
    Bz = unit(np.array([r["embedding"] for r in rows], dtype="float64"))
    b_side = side.sparkSession.sparkContext.broadcast((keys, Bz))
    chunk = max(1, SCORE_BLOCK_BYTES // (8 * len(rows)))
    dtypes = {**dict(side.dtypes), **dict(stream.dtypes)}
    schema = ", ".join(
        [f"{c} {dtypes[c]}" for c in own_cols + side_cols] + [f"{score_col} double"]
    )

    def score_blocks(batches):
        keys_b, Bz_b = b_side.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A_all = np.array(list(pdf["embedding"]), dtype="float64")
            own_all = [pdf[c].to_numpy() for c in own_cols]
            for lo in range(0, len(A_all), chunk):
                S = unit(A_all[lo:lo + chunk]) @ Bz_b.T
                np.round(S, 6, out=S)
                own = [k[lo:lo + chunk] for k in own_all]
                ri, ci = select(S, own[0], keys_b[0])
                out = {c: k[ri] for c, k in zip(own_cols, own)}
                out.update({c: k[ci] for c, k in zip(side_cols, keys_b)})
                out[score_col] = S[ri, ci]
                yield pd.DataFrame(out)

    return fan_out(stream).mapInPandas(score_blocks, schema=schema)


def top_k_by(df: DataFrame, part: str, score: str, tie: str, k: int) -> DataFrame:
    """Each ``part`` group's ``k`` best rows under (``score`` DESC, ``tie``
    ASC), numbered 1..k in a ``rank`` column."""
    w = Window.partitionBy(part).orderBy(F.col(score).desc(), F.col(tie).asc())
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
