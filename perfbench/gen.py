"""Seeded input generator for the benchmark.

Every table is synthesized from ``numpy.random.default_rng(seed)`` with the
schemas of the engine's TPC-H-ish test tables (lineitem, embeddings,
documents, events), so the registry queries and their DuckDB
oracles run unchanged over the generated directory.  The same seed always
gives byte-identical parquet files; another seed changes row order, values,
the drifted baseline, which documents are near-dup replicas and where the
event stream is cut into micro-batch files.  Row counts depend only on the
workload, never on the seed, so ``rows_per_s`` compares across seeds.

Generated inputs are cached per (seed, workload) under the benchmark's
work directory; generation runs before any timed region.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, per workload (the stated input of ``rows_per_s``)
SIZES = {
    "profile_ml": {"lineitem": 10_000, "baseline": 5_000, "embeddings": 500},
    "text_events": {"documents": 1_000, "index_docs": 400, "events": 6_000},
}

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.15, 0.13, 0.14]
EVENT_TYPES = ["signup", "click", "view", "error", "purchase"]
BOILERPLATE = [
    "subscribe to our newsletter for more updates",
    "all rights reserved by the publisher",
]


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path)


def lineitem(rng: np.random.Generator, n: int, drift: float = 0.0) -> pd.DataFrame:
    """TPC-H lineitem shape; ``drift`` > 0 skews quantity and price up."""
    qty = rng.integers(1, 51, n).astype("float64")
    if drift:
        shift = rng.random(n) < drift
        qty = np.where(shift, np.minimum(50.0, qty + rng.integers(5, 20, n)), qty)
    price = np.round(qty * rng.uniform(900.0, 2100.0 * (1 + drift), n), 2)
    days = rng.integers(0, 2500, n)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, max(1, n // 4), n).astype("int64"),
        "l_partkey": rng.integers(0, 2000, n).astype("int64"),
        "l_suppkey": rng.integers(0, 100, n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": (
            np.datetime64("1995-01-02") + days.astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    x = rng.standard_normal((n, dim)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(x),
        "label": rng.integers(0, 10, n).astype("int32"),
    })


def _sentence(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS, int(rng.integers(lo, hi))))


def documents(
    rng: np.random.Generator, n: int, id_base: int = 0, replica_frac: float = 0.2
) -> pd.DataFrame:
    """Multi-line documents.  A seeded ``replica_frac`` of them are
    near-duplicates (one word changed) of an earlier document, some lines
    are shared boilerplate, and a few carry an email or phone number."""
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < replica_frac:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
            continue
        lines = [_sentence(rng, 8, 30) for _ in range(int(rng.integers(1, 4)))]
        if rng.random() < 0.6:
            lines.append(BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        if rng.random() < 0.1:
            lines.append(f"contact user{int(rng.integers(0, 999))}@example.com")
        if rng.random() < 0.05:
            lines.append(f"call +1 555 {int(rng.integers(100, 999))} 0199")
        texts.append("\n".join(lines))
    return pd.DataFrame({
        "doc_id": np.arange(id_base, id_base + n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def events(rng: np.random.Generator, n: int, users: int = 150) -> pd.DataFrame:
    gaps = rng.exponential(30 * 86400 / n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6
    ).astype("int64").astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _write_batches(rng: np.random.Generator, df: pd.DataFrame, path: str, k: int) -> None:
    """Write ``df`` as a directory of ``k`` parquet files split at seeded
    cut points — the micro-batch layout a file stream source replays."""
    os.makedirs(path)
    cuts = np.sort(rng.choice(np.arange(1, len(df)), k - 1, replace=False))
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, len(df)])):
        _write(df.iloc[a:b], os.path.join(path, f"part-{i:05d}.parquet"))


def _generate(workload: str, seed: int, out: str) -> None:
    # one stream per workload, so adding a workload never shifts another's
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    size = SIZES[workload]
    os.makedirs(out)
    if workload == "profile_ml":
        _write(lineitem(rng, size["lineitem"]), f"{out}/lineitem.parquet")
        drift = float(rng.uniform(0.2, 0.4))
        _write(lineitem(rng, size["baseline"], drift), f"{out}/baseline.parquet")
        _write(embeddings(rng, size["embeddings"]), f"{out}/embeddings.parquet")
    elif workload == "text_events":
        docs = documents(rng, size["documents"])
        _write(docs, f"{out}/documents.parquet")
        # the pre-built index covers an earlier corpus; a seeded quarter of
        # it repeats documents of this batch, so the screen finds matches
        prior = documents(rng, size["index_docs"], id_base=10_000_000)
        take = rng.choice(len(docs), len(prior) // 4, replace=False)
        prior.loc[: len(take) - 1, "text"] = docs["text"].to_numpy()[take]
        _write(prior, f"{out}/index_docs.parquet")
        _write_batches(rng, events(rng, size["events"]), f"{out}/events.parquet", 8)
    else:
        raise ValueError(f"unknown workload {workload!r}")


def input_rows(workload: str) -> int:
    return sum(SIZES[workload].values())


def ensure_inputs(work_dir: str, workload: str, seed: int) -> str:
    """Return the directory holding ``workload``'s inputs for ``seed``,
    generating it first when it is not cached yet."""
    out = os.path.join(work_dir, "inputs", f"{workload}-{seed}")
    if os.path.isdir(out):  # renamed into place only once complete
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _generate(workload, seed, tmp)
    os.rename(tmp, out)
    return out
