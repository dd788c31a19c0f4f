"""Developer-side isolation bench (guide §1.4): times an arbitrary subset of
the headline queries with the same session/warm-up/noop-sink methodology as
bench.py, without touching the frozen bench.py. Usage:

    python bench_extra.py [query ...]        # default: the full headline set

Extra pseudo-queries: ``v11_knn_shuffle_cover``, ``flagship_bal``,
``tile_bal_8x8`` (same definitions as bench.py). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# local Spark workers import the engine via PYTHONPATH, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from bench import HEADLINE  # noqa: E402  (after the sys.path insert)

DEFAULT = HEADLINE + ["v11_knn_shuffle_cover", "flagship_bal",
                      "flagship_veg_factors", "tile_bal_8x8"]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = sys.argv[1:] or DEFAULT

    from pyspark.sql import functions as F

    from balrog_spark import corpus, joins, raster
    from balrog_spark.driver_queries import (all_queries, boxes_with_wkt,
                                             derived_points)
    from balrog_spark.session import get_spark

    spark = get_spark(app="balrog-bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    timings = {}

    spark.read.parquet(f"{sf_dir}/region.parquet") \
        .write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(int(cpus)).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long") \
        .write.format("noop").mode("overwrite").save()

    t_all0 = time.time()
    for name in names:
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        if name == "v11_knn_shuffle_cover":
            p = derived_points(spark, sf_dir).select(
                F.col("addr_id").cast("string").alias("addr_id"), "x", "y")
            b = boxes_with_wkt(spark, sf_dir).select(
                F.format_string("%06d", F.col("veg_id")).alias("veg_id"),
                "bal_number", "wkt")
            joins.knn_join(p, b, max_ring=16, broadcast_cover=False) \
                .write.format("noop").mode("overwrite").save()
        elif name == "flagship_bal":
            import __spark_entry__ as entrymod
            entrymod.entry(spark).count()
        elif name == "tile_bal_8x8":
            tiles = corpus.spark_tiles(spark, 8, 8).cache()
            tiles.count()
            t0 = time.time()
            raster.bal_tiles(tiles, fdi=80).write.format("noop") \
                .mode("overwrite").save()
        else:
            queries[name](spark, sf_dir) \
                .write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({
        "metric": "bench_extra_sec",
        "value": round(time.time() - t_all0, 3),
        "unit": "sec", "queries": timings,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
