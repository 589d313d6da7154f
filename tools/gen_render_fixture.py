"""Generate the two report variants (stdlib SVG + plotly.js) into
.render_check/ for a real-browser render verification (r8 verdict
stretch item).

    python tools/gen_render_fixture.py [sf_dir]

Writes:
    .render_check/svg/ml_anovos_report.html     (default renderer)
    .render_check/plotly/ml_anovos_report.html  (ANOVOS_SPARK_PLOTLY=1)

The browser pass (tools/render_check notes / RENDER_CHECK_r*.json)
then asserts: SVG variant — every chart section produced real <svg>
nodes, zero console errors; plotly variant — every .plotly-fig div
carries parseable figure JSON with data+layout, and the loader script
hydrates each div (verified against a recording Plotly stub, since this
environment has no network for the CDN build — the stub records
newPlot(div, data, layout) calls and the check asserts one per div).
"""
from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def build(spark, sf_dir: str, out_dir: str) -> str:
    from pyspark.sql import functions as F

    from anovos_spark.operators.drift import stability_index_computation
    from anovos_spark.plans.report_html import anovos_report

    od = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("label", (F.col("o_orderstatus") == "F").cast("int"))
    )
    source = od.where(F.col("o_orderkey") % 2 == 0)
    stability = stability_index_computation(
        [od.where(F.col("o_orderkey") % 3 == i) for i in range(3)],
        list_of_cols=["o_totalprice", "o_custkey"],
    )
    return anovos_report(
        od, out_dir, label_col="label", source_df=source,
        drift_frames={"Stability index": stability},
        stability_period_frames=[
            od.where(F.col("o_orderkey") % 3 == i) for i in range(3)
        ],
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bench import usable_cpus

    from anovos_spark.core.session import get_session

    cpus = usable_cpus()
    spark = get_session("anovos_spark-render-fixture", master=f"local[{cpus}]",
                        extra_conf={"spark.sql.shuffle.partitions": cpus,
                                    "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    base = os.path.join(ROOT, ".render_check")
    os.environ["ANOVOS_SPARK_PLOTLY"] = "0"
    print(build(spark, sf_dir, os.path.join(base, "svg")))
    os.environ["ANOVOS_SPARK_PLOTLY"] = "1"
    print(build(spark, sf_dir, os.path.join(base, "plotly")))
    spark.stop()


if __name__ == "__main__":
    main()
