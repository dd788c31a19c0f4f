"""Zonal stats do not depend on how the raster was cut into TILES rows.

The 2x2 corpus world's DEM and vegetation layers are stitched into one
mosaic per layer and re-cut into square tiles of 32, 64 and 128 px
(``tile_x' = x0' / tile side``, so a 32-px cut has ``tile_x' = 2 tile_x +
i``; the 128-px cut is a single tile spanning several cells of the zonal
join grid). Every cut must give the same per-address BAL factors, checked
against perfbench's whole-mosaic oracle, and the same polygon-zone stats.
"""

import numpy as np
import pandas as pd
import pytest

from balrog_spark import corpus, geometry, pipeline, vegfactors, zonal
from balrog_spark.schema import TILES
from perfbench import checks

NX, NY = 2, 2
CUTS = (32, 64, 128)


def recut(tiles: pd.DataFrame, px: int) -> pd.DataFrame:
    """Every layer of a full rectangular tile grid, re-cut into
    ``px``-pixel square tiles on the same pixel grid."""
    rows = []
    for layer in sorted(tiles.layer.unique()):
        m = checks.mosaic(tiles, layer)
        side = px * m.pixel_m
        n_r, n_c = m.arr.shape
        assert n_r % px == 0 and n_c % px == 0
        for r in range(0, n_r, px):
            for c in range(0, n_c, px):
                x0 = m.x0 + c * m.pixel_m
                y0 = m.y_top - (r + px) * m.pixel_m
                rows.append({
                    "media_ref": f"{layer}/{px}/{r}/{c}", "layer": layer,
                    "tile_x": int(round(x0 / side)),
                    "tile_y": int(round(y0 / side)),
                    "x0": x0, "y0": y0, "pixel_m": m.pixel_m,
                    "nrows": px, "ncols": px,
                    "data": m.arr[r:r + px, c:c + px].astype(np.float32)
                    .ravel()})
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def world(spark):
    coords = [(tx, ty) for tx in range(NX) for ty in range(NY)]
    tiles = corpus.tiles_pdf(coords)
    return {"docs": spark.createDataFrame(corpus.documents_pdf(coords))
            .cache(),
            "tiles": tiles,
            "addrs": corpus.addresses_pdf(coords),
            "vegs": corpus.veg_polygons_pdf(coords),
            "sa": checks.slope_aspect_mosaic(tiles)}


def _tiles_df(spark, world, px):
    return spark.createDataFrame(recut(world["tiles"], px), schema=TILES)


@pytest.mark.parametrize("px", CUTS)
def test_address_bal_factors_on_every_cut(spark, world, px):
    out = pipeline.address_bal_factors(
        spark, world["docs"], _tiles_df(spark, world, px),
        buffer_m=checks.RADIUS_M).toPandas()
    assert checks.check_address_bal(out, world["addrs"], world["vegs"],
                                    world["sa"], 0) == []


def _clip_zones(spark, world) -> pd.DataFrame:
    """The workload's polygon zones (every address buffer clipped by each
    vegetation polygon it meets) plus hand-made zones on cut edges: one
    across the corner all four corpus tiles share, a sliver along the
    x = TILE_M edge, one on the world's NW corner and one off the world
    (the -9999 sentinel)."""
    pts = spark.createDataFrame(world["addrs"][["addr_id", "x", "y"]])
    vegs = spark.createDataFrame(world["vegs"][["veg_id", "bal_number",
                                                "wkt"]])
    vf = vegfactors.veg_factors(pts, vegs, checks.RADIUS_M,
                                checks.QUAD_SEGS).toPandas()
    zones = [(f"{r.addr_id}|{r.veg_id}|{r.part_idx}", r.clip_wkt)
             for r in vf.itertuples()]
    t, top = corpus.TILE_M, NY * corpus.TILE_M
    zones += [
        ("corner", f"POLYGON (({t - 90} {t - 70}, {t + 80} {t - 60}, "
                   f"{t + 10} {t + 95}, {t - 90} {t - 70}))"),
        ("sliver", f"POLYGON (({t - 30} 200, {t + 30} 200, "
                   f"{t + 30} 1400, {t - 30} 1400, {t - 30} 200))"),
        ("nw", f"POLYGON ((-40 {top - 60}, 60 {top - 60}, 60 {top + 40}, "
               f"-40 {top + 40}, -40 {top - 60}))"),
        ("off", "POLYGON ((9000 9000, 9100 9000, 9100 9100, 9000 9100, "
                "9000 9000))")]
    rows = []
    for zid, wkt in zones:
        ring = np.concatenate([p[0] for p in geometry.parse_wkt_polys(wkt)])
        rows.append((zid, wkt, ring[:, 0].min(), ring[:, 1].min(),
                     ring[:, 0].max(), ring[:, 1].max()))
    return pd.DataFrame(rows, columns=["zone_id", "wkt", "xmin", "ymin",
                                       "xmax", "ymax"])


def test_zonal_stats_poly_same_on_every_cut(spark, world):
    zones = spark.createDataFrame(_clip_zones(spark, world))
    specs = {"dem": {"circular": False}, "veg": {"circular": False}}
    runs = {px: zonal.zonal_stats_poly(zones, _tiles_df(spark, world, px),
                                       specs).toPandas()
            .sort_values("zone_id").reset_index(drop=True)
            for px in CUTS}
    base = runs[corpus.TILE_N]
    assert (base.dem_pixel_count > 0).sum() >= 8
    assert base.set_index("zone_id").loc["off", "dem_pixel_count"] == -9999
    for px in CUTS:
        pd.testing.assert_frame_equal(runs[px], base, obj=f"{px}-px cut")
