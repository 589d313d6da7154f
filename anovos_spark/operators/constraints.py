"""Declarative data-quality constraints (deequ/Great-Expectations-shaped):
a rule list validates in ONE aggregation pass plus one anti-join per
referential rule, returning an auditable long-format report.

The reference's quality checker computes statistics and treats rows;
production pipelines additionally need CONTRACT checks — "this column is
never null", "these keys exist in that dimension" — evaluated cheaply and
uniformly so a scheduler can gate downstream jobs on the result.  Every
scalar rule compiles into the same wide aggregation (map-side partials,
one shuffle regardless of rule count); referential rules add one
broadcast-or-shuffle anti-join each.

Rule shapes (dicts):
    {"type": "not_null",   "col": c, "max_missing_frac": 0.0}
    {"type": "unique",     "col": c}
    {"type": "in_range",   "col": c, "min": lo, "max": hi,
     "max_violation_frac": 0.0}
    {"type": "in_set",     "col": c, "values": [...],
     "max_violation_frac": 0.0}
    {"type": "row_count",  "min": lo, "max": hi}
    {"type": "referential","col": c, "ref": <name>, "ref_col": rc,
     "max_violation_frac": 0.0}   # ref resolved via ref_frames
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anovos_spark.core.utils import local_frame

_REPORT_SCHEMA = (
    "rule_idx int, rule_type string, attribute string, "
    "observed double, threshold double, passed int"
)


def validate_constraints(
    idf: DataFrame,
    rules: list[dict],
    ref_frames: dict[str, DataFrame] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Evaluate ``rules`` against ``idf`` → [rule_idx, rule_type,
    attribute, observed, threshold, passed].

    ``observed`` is the measured violation fraction (or the row count
    for row_count rules) rounded to 6; ``passed`` is 1 iff observed is
    within the rule's threshold.  exact=False switches unique checks to
    HLL distinct counts (production posture; the gate uses exact).
    """
    ref_frames = ref_frames or {}
    aggs = [F.count(F.lit(1)).alias("__rows__")]
    for i, r in enumerate(rules):
        t = r["type"]
        if t == "not_null":
            aggs.append(F.count(F.col(r["col"])).alias(f"r{i}__nonnull"))
        elif t == "unique":
            cnt = (
                F.count_distinct(F.col(r["col"]))
                if exact
                else F.approx_count_distinct(F.col(r["col"]))
            )
            aggs += [
                cnt.alias(f"r{i}__distinct"),
                F.count(F.col(r["col"])).alias(f"r{i}__nonnull"),
            ]
        elif t == "in_range":
            viol = (F.col(r["col"]) < F.lit(r["min"])) | (
                F.col(r["col"]) > F.lit(r["max"])
            )
            aggs += [
                F.count(F.when(viol, 1)).alias(f"r{i}__viol"),
                F.count(F.col(r["col"])).alias(f"r{i}__nonnull"),
            ]
        elif t == "in_set":
            viol = ~F.col(r["col"]).isin(list(r["values"]))
            aggs += [
                F.count(F.when(viol, 1)).alias(f"r{i}__viol"),
                F.count(F.col(r["col"])).alias(f"r{i}__nonnull"),
            ]
        elif t == "row_count":
            pass  # __rows__ covers it
        elif t == "referential":
            pass  # anti-join below
        else:
            raise ValueError(f"unknown constraint type {t!r}")

    row = idf.agg(*aggs).collect()[0]
    n_rows = row["__rows__"]

    # referential rules: counted distinctly on the child side (a missing
    # key is one violation however often it occurs — matches deequ's
    # referential-integrity semantics).  ONE action per rule: a left
    # OUTER join + aggregate computes total distinct child keys AND the
    # unmatched count together — the previous anti-join count + separate
    # child.count() ran two actions and computed the child distinct
    # twice.  Identical numbers: the ref side is distinct, so the left
    # join preserves child multiplicity 1:1 and count(match-marker)
    # equals the anti-join's complement.
    ref_viol: dict[int, tuple[int, int]] = {}
    for i, r in enumerate(rules):
        if r["type"] != "referential":
            continue
        ref_df = ref_frames[r["ref"]]
        child = idf.select(F.col(r["col"]).alias("__k__")).where(
            F.col("__k__").isNotNull()
        ).distinct()
        ref_keys = (
            ref_df.select(F.col(r["ref_col"]).alias("__k__"))
            .distinct()
            .withColumn("__m__", F.lit(1))
        )
        rrow = (
            child.join(ref_keys, "__k__", "left_outer")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count("__m__").alias("matched"),
            )
            .collect()[0]
        )
        ref_viol[i] = (rrow["total"] - rrow["matched"], rrow["total"])

    report = []
    for i, r in enumerate(rules):
        t = r["type"]
        if t == "not_null":
            thr = float(r.get("max_missing_frac", 0.0))
            obs = (n_rows - row[f"r{i}__nonnull"]) / n_rows if n_rows else 0.0
            passed = obs <= thr
            attr = r["col"]
        elif t == "unique":
            nn = row[f"r{i}__nonnull"]
            obs = (nn - row[f"r{i}__distinct"]) / nn if nn else 0.0
            thr = float(r.get("max_dup_frac", 0.0))
            passed = obs <= thr
            attr = r["col"]
        elif t in ("in_range", "in_set"):
            nn = row[f"r{i}__nonnull"]
            obs = row[f"r{i}__viol"] / nn if nn else 0.0
            thr = float(r.get("max_violation_frac", 0.0))
            passed = obs <= thr
            attr = r["col"]
        elif t == "row_count":
            obs, thr = float(n_rows), float(r.get("min", 0))
            passed = r.get("min", 0) <= n_rows <= r.get("max", float("inf"))
            attr = "*"
        else:  # referential
            miss, total = ref_viol[i]
            obs = miss / total if total else 0.0
            thr = float(r.get("max_violation_frac", 0.0))
            passed = obs <= thr
            attr = r["col"]
        report.append((i, t, attr, round(float(obs), 6), thr, int(passed)))
    return local_frame(idf.sparkSession, report, schema=_REPORT_SCHEMA)
