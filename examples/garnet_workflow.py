"""End-to-end petrology workflow — the reference README's garnet example
on Spark (ref ``docs/notebooks/walkthrough.ipynb``)::

    python examples/garnet_workflow.py [analyses.csv|analyses.parquet]

Loads an analysis table (defaults to the bundled
``petropandas_spark/data/minerals.parquet``, the reference's
``minerals.csv`` fixture), selects the garnets, converts to
12-oxygen APFU with Droop Fe³⁺, allocates sites, computes Locock
end-members, and prints per-sample means — every step a lazy Spark
plan; nothing executes until the final ``show``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import petropandas_spark  # noqa: E402
from petropandas_spark import minerals  # noqa: E402
from petropandas_spark.io import read_analyses  # noqa: E402

BUNDLED = os.path.join(os.path.dirname(petropandas_spark.__file__), "data",
                       "minerals.parquet")


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else BUNDLED
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("garnet-workflow")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    pf = read_analyses(spark, path)                      # S1 + P1 clean
    grt = pf.select_rows("Garnet", on="Mineral")         # P5 row select
    em = grt.end_members(minerals.GARNET)                # U5+V4+M3+E1
    em.df.select("Analysis_ID", "Prp", "Alm", "Sps", "Grs").show(5)

    # grouped oxide means of the raw analyses (A2)
    grt.mean(groupby="Mineral").df.show()


if __name__ == "__main__":
    main()
