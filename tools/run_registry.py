"""Run registry queries under one data mutation and one check.

    python tools/run_registry.py --sf DIR [--sf DIR] [--data MUTATION]
        [--check CHECK] [--runs N] [--out DIR] [query ...]

Every query in ``queries.registry()``, or only the named ones, runs in one
engine session (``core.session.get_session`` on ``local[$SPARK_GRAFT_CPUS]``),
and the catalog cache is cleared after every run of a query.  Each query
prints one line:

    OK    name: detail    the check passed
    LOUD  name: error     a mutated input was refused with a ValueError (a pass)
    SKIP  name: reason    nothing to compare: no oracle, or a by-design variant
    FAIL  name: detail    the query ran and its result is wrong
    CRASH name: error     the query raised

then a summary line.  The exit code is 1 on any FAIL or CRASH.

``--data`` is applied to each ``--sf`` dir, into a temporary dir:

- ``none``: the tables as they are;
- ``empty``: zero-row copies with the schemas kept;
- ``nulls``: ~30% of every non-key column nulled by a hash mask;
- ``adversarial_text``: the documents table replaced by pathological texts.

Under any mutation but ``none`` a ValueError is a loud pass: a degenerate
input may be refused with a clear message, clean data may not.

``--check``:

- ``oracle``: the rows match the DuckDB oracle, floats rounded to 6 dp on
  both sides and then compared with ``isclose(1e-9)``;
- ``count``: the query runs to a count;
- ``invariance``: the same rows at 16 and at 5 shuffle partitions;
- ``time``: warm min-of-``--runs`` seconds per ``--sf`` dir; with two dirs,
  also the second/first ratio;
- ``jobs``: the Spark jobs the query schedules (a diff of the status
  store's ``jobsList``);
- ``explain``: ``explain("formatted")`` written to ``--out DIR/<name>.txt``.

``oracle``, ``count`` and ``invariance`` run exact statistics
(``ANOVOS_EXACT_STATS=1``); ``time``, ``jobs`` and ``explain`` run the
approximate production path.
"""

from __future__ import annotations

import argparse
import io
import json
import math
import os
import sys
import tempfile
import time
from contextlib import redirect_stdout

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import usable_cpus, warm_up  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# join keys / primary ids / partition-ish columns stay non-null under --data nulls
KEEP = {
    "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey", "c_nationkey",
    "s_suppkey", "s_nationkey", "p_partkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "event_id", "user_id", "ts", "doc_id", "vec_id",
}

PATHOLOGICAL_TEXTS = [
    "",                                      # empty
    "   \t  \n   ",                          # whitespace only
    "x" * 1_000_000,                         # 1 MB single token, single line
    "word " * 200_000,                       # 1 MB of one repeated token
    "line\n" * 100_000,                      # 100k identical lines
    "\n".join(f"unique line {i}" for i in range(50_000)),  # 50k lines
    "a",                                     # single char
    "naïve café Zürich — ünïcödé",           # accents
    "日本語のテキストです。中文文本。한국어 텍스트.",  # CJK
    "🚀🔥💯 emoji 🎉🎊 everywhere 🌍🌎🌏",       # emoji
    "tab\tseparated\tfields\there",
    "null\x00byte",                          # embedded NUL
    '{"json": "looking", "doc": [1,2,3]}',
    "<html><body>markup &amp; entities</body></html>",
    "e = mc^2; ∑ ∫ ∂ √ ≤ ≥ ≠ π",              # math symbols
]

# Spark's Bernoulli sampler is seeded per partition, so the realized sample
# changes with the partition count; its oracle is statistical
VARIANT_BY_DESIGN = {"data_sample"}

EXACT_CHECKS = {"oracle", "count", "invariance"}
SHUFFLE = "spark.sql.shuffle.partitions"


class Mismatch(Exception):
    """The query ran, and its result is wrong."""


class Skip(Exception):
    """There is nothing to compare the query's result against."""


def pathological_docs():
    """The pathological texts, boilerplate shared by ten docs (for
    boilerplate_removal) and thirty plain docs so samplers and statistics
    have mass, as (doc_id, text, lang, source, n_chars) rows."""
    docs = [(t, "adv") for t in PATHOLOGICAL_TEXTS]
    docs += [(f"COPYRIGHT NOTICE\nbody text {i} differs here\nCOPYRIGHT NOTICE", "adv")
             for i in range(10)]
    docs += [(f"regular document number {i} with some plain text content "
              f"and a few repeated repeated words", f"s{i % 3}") for i in range(30)]
    return [(i, t, "en", src, len(t)) for i, (t, src) in enumerate(docs)]


def null_heavy(df):
    from pyspark.sql import functions as F

    def masked(f):
        mask = F.pmod(F.xxhash64(F.lit(f.name), F.monotonically_increasing_id()), F.lit(10)) < 3
        return F.when(mask, F.lit(None).cast(f.dataType)).otherwise(F.col(f.name)).alias(f.name)

    return df.select(*[F.col(f.name) if f.name in KEEP else masked(f) for f in df.schema.fields])


def mutate(spark, sf_dir: str, data: str, tmp: str) -> str:
    """The dir the queries read: ``sf_dir`` itself, or a mutated copy."""
    if data == "none":
        return sf_dir
    from anovos_spark.core.utils import local_frame

    out = tempfile.mkdtemp(dir=tmp)
    for t in TABLES:
        src, dst = f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet"
        if data == "adversarial_text":
            if t != "documents":
                os.symlink(src, dst)
                continue
            df = local_frame(spark, pathological_docs(),
                             "doc_id long, text string, lang string, source string, n_chars long")
        elif data == "empty":
            df = spark.read.parquet(src).limit(0)
        else:
            df = null_heavy(spark.read.parquet(src))
        df.coalesce(1).write.parquet(dst)
    return out


def act(spark, query, sf_dir: str, action):
    """One run: build the query, apply ``action`` to it, then drop what the
    query cached.  Returns the action's result and the build+action
    seconds."""
    t0 = time.perf_counter()
    try:
        out = action(query(spark, sf_dir))
        return out, time.perf_counter() - t0
    finally:
        spark.catalog.clearCache()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, np.ndarray):  # an array column through Arrow's toPandas
        v = v.tolist()
    if isinstance(v, list):
        return tuple(v)
    return v


def normalized(cols, rows):
    """``rows`` (cells in ``cols`` order) with each cell normalized, sorted."""
    rows = [tuple(norm_cell(v) for v in r) for r in rows]
    return cols, sorted(rows, key=lambda t: tuple((x is None, str(x)) for x in t))


def pandas_rows(pdf):
    cols = sorted(pdf.columns)
    return normalized(cols, (r for _, r in pdf[cols].iterrows()))


def oracle_db(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are dirs of part files; DuckDB needs the glob
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def check_oracle(spark, args, name, query):
    from anovos_spark import oracles

    got, _ = act(spark, query, args.dirs[0], lambda df: df.toPandas())
    sql = oracles.registry().get(name)
    if sql is None:
        raise Skip(f"no oracle (rows-only check) rows={len(got)}")
    scols, srows = pandas_rows(got)
    ocols, orows = pandas_rows(args.db.execute(sql).fetchdf())
    if scols != ocols:
        raise Mismatch(f"schema\n  spark : {scols}\n  oracle: {ocols}")
    if len(srows) != len(orows):
        raise Mismatch(f"rowcount spark={len(srows)} oracle={len(orows)}")

    def same(x, y):
        if isinstance(x, float) and isinstance(y, float):
            return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
        return x == y

    bad = [(i, a, b) for i, (a, b) in enumerate(zip(srows, orows))
           if not all(same(x, y) for x, y in zip(a, b))]
    if bad:
        raise Mismatch(f"{len(bad)} row mismatches; first 3:" + "".join(
            f"\n  row {i}\n   spark : {a}\n   oracle: {b}" for i, a, b in bad[:3]))
    return f"{len(srows)} rows"


def check_count(spark, args, name, query):
    return f"{act(spark, query, args.dirs[0], lambda df: df.count())[0]} rows"


def check_invariance(spark, args, name, query):
    def collected(df):
        cols = sorted(df.columns)
        return normalized(cols, df.select(*cols).collect())

    before = spark.conf.get(SHUFFLE)
    try:
        results = []
        for n in ("16", "5"):
            spark.conf.set(SHUFFLE, n)
            results.append(act(spark, query, args.dirs[0], collected)[0])
    finally:
        spark.conf.set(SHUFFLE, before)
    (a_cols, a_rows), (b_cols, b_rows) = results
    same = a_cols == b_cols and a_rows == b_rows
    if name in VARIANT_BY_DESIGN:
        raise Skip(f"partition-seeded by design (same={same})")
    if not same:
        diff = [x for x in a_rows if x not in b_rows][:2]
        raise Mismatch(f"16-part vs 5-part rows differ ({len(a_rows)} vs "
                       f"{len(b_rows)}); sample only-in-16: {diff}")
    return f"{len(a_rows)} rows"


def check_time(spark, args, name, query):
    best = [round(min(act(spark, query, d, lambda df: df.count())[1]
                      for _ in range(args.runs)), 3) for d in args.dirs]
    rec = {"min": best}
    if len(best) == 2:
        rec["ratio"] = round(best[1] / best[0], 2) if best[0] else None
    return json.dumps(rec)


def check_jobs(spark, args, name, query):
    store = spark.sparkContext._jsc.sc().statusStore()
    j0 = store.jobsList(None).size()
    _, sec = act(spark, query, args.dirs[0], lambda df: df.count())
    return json.dumps({"jobs": store.jobsList(None).size() - j0, "sec": round(sec, 3)})


def check_explain(spark, args, name, query):
    def formatted(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    text, _ = act(spark, query, args.dirs[0], formatted)
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"{name}.txt")
    with open(path, "w") as fh:
        fh.write(f"# {name} @ {args.dirs[0]}\n{text}")
    return f"wrote {path} ({len(text)} chars)"


CHECKS = {"oracle": check_oracle, "count": check_count, "invariance": check_invariance,
          "time": check_time, "jobs": check_jobs, "explain": check_explain}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", action="append", required=True, metavar="DIR",
                   help="sf data dir; a second one turns --check time into scale ratios")
    p.add_argument("--data", choices=["none", "empty", "nulls", "adversarial_text"], default="none")
    p.add_argument("--check", choices=list(CHECKS), default="count")
    p.add_argument("--runs", type=int, default=2, help="timed runs per query (--check time)")
    p.add_argument("--out", metavar="DIR", help="where --check explain writes the plans")
    p.add_argument("queries", nargs="*", help="query names (default: the whole registry)")
    args = p.parse_args(argv)
    if len(args.sf) > (2 if args.check == "time" else 1):
        p.error("only --check time takes two --sf dirs")
    if args.check == "explain" and not args.out:
        p.error("--check explain needs --out DIR")
    return args


def run(spark, argv) -> int:
    """Run the registry sweep ``argv`` describes in ``spark``; the exit code."""
    args = parse_args(argv)
    os.environ["ANOVOS_EXACT_STATS"] = "1" if args.check in EXACT_CHECKS else "0"
    from anovos_spark import queries

    reg = queries.registry()
    names = args.queries or list(reg)
    check = CHECKS[args.check]
    loud_ok = (ValueError,) if args.data != "none" else ()
    crashes, mismatches = [], []
    with tempfile.TemporaryDirectory(prefix="anovos_registry_") as tmp:
        args.dirs = [mutate(spark, d, args.data, tmp) for d in args.sf]
        if args.check in ("time", "jobs"):
            warm_up(spark, args.dirs[0])
        if args.check == "oracle":
            args.db = oracle_db(args.dirs[0])
        for name in names:
            try:
                print(f"OK    {name}: {check(spark, args, name, reg[name])}", flush=True)
            except Skip as e:
                print(f"SKIP  {name}: {e}", flush=True)
            except Mismatch as e:
                mismatches.append(name)
                print(f"FAIL  {name}: {e}", flush=True)
            except loud_ok as e:
                print(f"LOUD  {name}: {type(e).__name__}: {str(e)[:120]}", flush=True)
            except Exception as e:  # an unknown query name lands here too
                crashes.append(name)
                print(f"CRASH {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)

    failed = len(crashes) + len(mismatches)
    print(f"\n{len(names) - failed}/{len(names)} pass --check {args.check} on "
          f"--data {args.data}; crashes: {crashes}; mismatches: {mismatches}")
    return 1 if failed else 0


def main() -> None:
    # python workers fork from this process, and the queries' driver-side
    # fits load numpy here: one BLAS thread each, or n_cores² threads thrash
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    from anovos_spark.core.session import get_session

    n = usable_cpus()
    spark = get_session("anovos_spark-run-registry", master=f"local[{n}]",
                        extra_conf={SHUFFLE: n, "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rc = run(spark, sys.argv[1:])
    finally:
        spark.stop()
    sys.exit(rc)


if __name__ == "__main__":
    main()
