"""Dump .explain('formatted') for named driver queries to files.

Usage: python tools/dump_plan.py <out_dir> <suffix> <query> [query ...]

Writes <out_dir>/<query>_<suffix>.txt. Queries run at
$SPARK_GRAFT_SF_DIR (default sf0.1); pseudo-queries of bench.py
(v11_knn_shuffle_cover, flagship_bal@sf0.001, tile_bal_8x8) supported.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# local Spark workers import the engine via PYTHONPATH, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main():
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from balrog_spark import corpus, joins, raster
    from balrog_spark.driver_queries import (all_queries, boxes_with_wkt,
                                             derived_points)
    from balrog_spark.session import get_spark

    spark = get_spark(app="dump-plan", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    for name in names:
        if name == "v11_knn_shuffle_cover":
            p = derived_points(spark, sf_dir).select(
                F.col("addr_id").cast("string").alias("addr_id"), "x", "y")
            b = boxes_with_wkt(spark, sf_dir).select(
                F.format_string("%06d", F.col("veg_id")).alias("veg_id"),
                "bal_number", "wkt")
            df = joins.knn_join(p, b, max_ring=16, broadcast_cover=False)
        elif name == "flagship_bal":
            df = queries["flagship_bal"](spark, "/root/testdata/sf0.001")
        elif name == "tile_bal_8x8":
            df = raster.bal_tiles(corpus.spark_tiles(spark, 8, 8), fdi=80)
        else:
            df = queries[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        txt = spark._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(path, "w") as fh:
            fh.write(txt)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
