"""End-to-end parity: the tiled Spark BAL pipeline vs a single global-array
computation with the (golden-anchored) kernels."""

import numpy as np
import pytest
from numpy.testing import assert_array_equal

from balrog_spark import corpus, kernels, raster
from balrog_spark.constants import ASPECT_REMAP, slope_remap

NX, NY = 3, 3
FDI = 80


def global_arrays(nx, ny):
    """Assemble the whole-AOI dem/veg arrays exactly as the tiles tile it
    (row 0 = north edge of the top tile row)."""
    n = corpus.TILE_N
    dem = np.zeros((ny * n, nx * n))
    veg = np.zeros_like(dem)
    for tx in range(nx):
        for ty in range(ny):
            d, v = corpus.tile_arrays(tx, ty)
            r0 = (ny - 1 - ty) * n
            dem[r0:r0 + n, tx * n:(tx + 1) * n] = d
            veg[r0:r0 + n, tx * n:(tx + 1) * n] = v
    return dem, veg


def global_bal(nx, ny, fdi=FDI):
    dem, veg_raw = global_arrays(nx, ny)
    slope_deg, aspect_deg = kernels.cal_slope_aspect_vec(
        dem, corpus.PIXEL_M, corpus.PIXEL_M)
    veg_r = kernels.reclassify_vec(veg_raw, corpus.VEG_REMAP)
    aspect_r = kernels.reclassify_vec(aspect_deg, ASPECT_REMAP)
    slope_r = kernels.reclassify_vec(slope_deg, slope_remap(90.0))
    return kernels.bal_all_directions(
        veg_r.astype(float), slope_r.astype(float), aspect_r.astype(float),
        corpus.PIXEL_M, fdi)


@pytest.fixture(scope="module")
def bal_result(spark):
    tiles = corpus.spark_tiles(spark, NX, NY)
    out = raster.bal_tiles(tiles, fdi=FDI).collect()
    return {(r.tile_x, r.tile_y): r for r in out}


def test_bal_tiles_match_global_computation(spark, bal_result,
                                            tiny_arrow_batches):
    n = corpus.TILE_N
    expected = global_bal(NX, NY)
    # 7-row Arrow batches: a tile's strips straddle batch boundaries
    with tiny_arrow_batches():
        tiny = raster.bal_tiles(corpus.spark_tiles(spark, NX, NY),
                                fdi=FDI).collect()
    assert {(r.tile_x, r.tile_y): r for r in tiny} == bal_result
    assert len(bal_result) == NX * NY
    for (tx, ty), row in bal_result.items():
        r0 = (NY - 1 - ty) * n
        for d in ("w", "e", "n", "s", "nw", "ne", "se", "sw", "max"):
            got = np.asarray(getattr(row, f"bal_{d}"),
                             dtype=np.float32).reshape(n, n)
            exp = expected[d][r0:r0 + n, tx * n:(tx + 1) * n] \
                .astype(np.float32)
            assert_array_equal(got, exp,
                               err_msg=f"tile ({tx},{ty}) dir {d}")


def test_bal_tiles_single_tile_aoi(spark):
    # a lone tile is its own AOI: boundaries behave like Gen-1 raster edges
    tiles = corpus.spark_tiles(spark, 1, 1)
    out = raster.bal_tiles(tiles, fdi=50).collect()
    assert len(out) == 1
    expected = global_bal(1, 1, fdi=50)
    got = np.asarray(out[0].bal_max, dtype=np.float32).reshape(
        corpus.TILE_N, corpus.TILE_N)
    assert_array_equal(got, expected["max"].astype(np.float32))


def test_bal_max_tiles_matches_per_fdi_global(spark):
    tiles = corpus.spark_tiles(spark, 2, 2)
    out = raster.bal_max_tiles(tiles, fdis=(100, 50)).collect()
    assert len(out) == 2 * 2 * 2
    n = corpus.TILE_N
    for fdi in (100, 50):
        exp = global_bal(2, 2, fdi=fdi)["max"].astype(np.float32)
        for r in out:
            if r.fdi != fdi:
                continue
            r0 = (2 - 1 - r.tile_y) * n
            got = np.asarray(r.bal_max, dtype=np.float32).reshape(n, n)
            assert_array_equal(
                got, exp[r0:r0 + n, r.tile_x * n:(r.tile_x + 1) * n],
                err_msg=f"tile ({r.tile_x},{r.tile_y}) fdi {fdi}")


def test_reclassify_tiles_roundtrip(spark):
    tiles = corpus.spark_tiles(spark, 1, 1)
    out = raster.reclassify_tiles(tiles, corpus.VEG_REMAP, layer="veg") \
        .collect()
    assert len(out) == 1
    got = np.asarray(out[0].data, dtype=np.float64).reshape(
        corpus.TILE_N, corpus.TILE_N)
    _, veg_raw = corpus.tile_arrays(0, 0)
    exp = kernels.reclassify_vec(veg_raw, corpus.VEG_REMAP)
    assert_array_equal(got, exp.astype(np.float64))


def test_address_bal_raster_serving_exact_match(spark):
    """The north-rule match metric: every address's tile assignment and
    served BAL equals the reference (global-array) computation — 100%."""
    from balrog_spark import docparse, pipeline

    nx = ny = 2
    docs = corpus.spark_documents(spark, nx, ny)
    tiles = corpus.spark_tiles(spark, nx, ny)
    bal_max = raster.bal_max_tiles(tiles, fdis=(100, 80, 50, 40))
    addrs = docparse.addresses_from_documents(docs)
    served = pipeline.address_bal_from_rasters(addrs, bal_max).toPandas()
    assert len(served) == nx * ny * 5

    n = corpus.TILE_N
    expected = {fdi: global_bal(nx, ny, fdi=fdi)["max"]
                for fdi in (100, 80, 50, 40)}
    apdf = addrs.toPandas().set_index("addr_id")
    matches = 0
    for r in served.itertuples():
        a = apdf.loc[r.addr_id]
        tx = int(a.x // corpus.TILE_M)
        ty = int(a.y // corpus.TILE_M)
        assert (r.tile_x, r.tile_y) == (tx, ty), "tile assignment"
        gcol = tx * n + r.pix_col
        grow = (ny - 1 - ty) * n + r.pix_row
        exp = np.float32(expected[int(a.fdi)][grow, gcol])
        assert np.float32(r.bal) == exp, (r.addr_id, r.bal, float(exp))
        matches += 1
    assert matches == len(served)  # 100% BAL + tile-assignment match rate


def test_find_aoi_explicit_extent_branch(spark):
    """find_aoi's explicit-extent branch (reference bal.py:233-256
    get_extent_mask): 'xmin ymin xmax ymax ...' -> that box, one row."""
    import pandas as pd
    from balrog_spark import raster as raster_mod
    tiles = spark.createDataFrame(pd.DataFrame([
        {"layer": "dem", "tile_x": 0, "tile_y": 0, "x0": 0.0, "y0": 0.0,
         "pixel_m": 25.0, "nrows": 64, "ncols": 64}]))
    got = raster_mod.find_aoi_mask(
        tiles, "343000 5850000 347000 5852000 343000 5850000").toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert (r.xmin, r.ymin, r.xmax, r.ymax) == (
        343000.0, 5850000.0, 347000.0, 5852000.0)


def test_find_aoi_keywords_share_branch(spark):
    """DEFAULT / MAXOF / MINOF all take the footprint-intersection branch
    (reference quirk, bal.py:304)."""
    import pandas as pd
    from balrog_spark import raster as raster_mod
    rows = []
    for layer, keys in (("dem", [(0, 0), (1, 0)]),
                        ("veg", [(1, 0), (2, 0)])):
        for tx, ty in keys:
            rows.append({"layer": layer, "tile_x": tx, "tile_y": ty,
                         "x0": tx * 1600.0, "y0": ty * 1600.0,
                         "pixel_m": 25.0, "nrows": 64, "ncols": 64})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    outs = [raster_mod.find_aoi_mask(tiles, kw).toPandas()
            for kw in ("DEFAULT", "MAXOF", "MINOF")]
    for got in outs:
        assert len(got) == 1
        assert (got.iloc[0].tile_x, got.iloc[0].tile_y) == (1, 0)


def test_pyramid_levels_block_means(spark):
    """S11 overview pyramid: every level is the block mean of the level
    below; pixel size doubles per level."""
    import numpy as np
    from balrog_spark import corpus, raster as raster_mod
    tiles = corpus.spark_tiles(spark, 1, 1).filter("layer = 'dem'")
    pyr = raster_mod.build_pyramid(tiles, levels=2).toPandas()
    assert sorted(pyr.level.unique()) == [0, 1, 2]
    by = {int(r.level): r for r in pyr.itertuples()}
    base = np.asarray(by[0].data, dtype=np.float64).reshape(
        by[0].nrows, by[0].ncols)
    l1 = np.asarray(by[1].data, dtype=np.float64).reshape(
        by[1].nrows, by[1].ncols)
    assert by[1].pixel_m == by[0].pixel_m * 2
    assert by[2].pixel_m == by[0].pixel_m * 4
    n, m = l1.shape
    blocks = base[:n * 2, :m * 2].reshape(n, 2, m, 2)
    valid = blocks != -99.0
    cnt = valid.sum(axis=(1, 3))
    s = np.where(valid, blocks, 0.0).sum(axis=(1, 3))
    exp = np.where(cnt > 0, s / np.maximum(cnt, 1), -99.0)
    assert np.allclose(np.where(exp == -99.0, -99.0, exp), l1,
                       atol=1e-4)


def test_extent_mask_matches_reference_expected_shapefile(spark):
    """The explicit-extent branch reproduces the reference's published
    expect_mask.shp polygon (its test_find_aoi 4th case / test_get_extent
    _mask: extent '343000 5850000 347000 5852000' -> box mask). The
    published shapefile carries arcpy's ~1.2e-4 snap offset; corners
    must agree within that tolerance."""
    import os
    import pandas as pd
    from balrog_spark import geometry, raster as raster_mod
    from tests.shp_reader import read_shp_records
    shp = "/root/reference/tests/test_data/reference/expect_mask.shp"
    if not os.path.exists(shp):
        import pytest as _pytest
        _pytest.skip("reference test_data not present")
    tiles = spark.createDataFrame(pd.DataFrame([
        {"layer": "dem", "tile_x": 0, "tile_y": 0, "x0": 0.0, "y0": 0.0,
         "pixel_m": 25.0, "nrows": 64, "ncols": 64}]))
    got = raster_mod.find_aoi_mask(
        tiles, "343000 5850000 347000 5852000").toPandas().iloc[0]
    exp = read_shp_records(shp)
    ring = geometry.parse_wkt_polys(exp[0][2])[0][0]
    xmin, ymin, xmax, ymax = geometry.bbox(ring)
    assert abs(got.xmin - xmin) < 1e-3
    assert abs(got.ymin - ymin) < 1e-3
    assert abs(got.xmax - xmax) < 1e-3
    assert abs(got.ymax - ymax) < 1e-3


def test_point_sample_out_of_extent_is_null(spark):
    """Regression: a point inside a tile's GRID cell but outside its DATA
    extent (short edge tile) produced a negative row index, and a negative
    element_at silently read a pixel from the END of the array. Out-of-
    extent samples must be null."""
    from balrog_spark import raster as R

    # tile cell is 100x100 m, but the stored raster is only 2 rows x 3 cols
    # of 10 m pixels anchored at (0, 0): data extent x in [0,30), y in [0,20)
    data = [float(v) for v in [1, 2, 3,
                               4, 5, 6]]
    tiles = spark.createDataFrame(
        [("t", "dem", 0, 0, 0.0, 0.0, 10.0, 2, 3, data)],
        "media_ref string, layer string, tile_x int, tile_y int, "
        "x0 double, y0 double, pixel_m double, nrows int, ncols int, "
        "data array<float>")
    pts = spark.createDataFrame(
        [("in00", 5.0, 5.0),     # row 1, col 0 -> 4
         ("in21", 25.0, 15.0),   # row 0, col 2 -> 3
         ("oob_x", 55.0, 5.0),   # inside cell, east of data extent
         ("oob_y", 5.0, 75.0)],  # inside cell, north of data extent
        "pid string, x double, y double")
    got = {r.pid: r.value
           for r in R.sample_tiles_at_points(pts, tiles, 100.0).collect()}
    assert got["in00"] == 4.0 and got["in21"] == 3.0
    assert got["oob_x"] is None and got["oob_y"] is None


def test_ragged_edge_tile_halo_exact(spark):
    """Tiles narrower than the halo (a raster whose width is not a
    multiple of the tile size) must assemble halo-exactly: a full
    neighbour's 13-px strip used to overwrite a 5-px tile's core (and
    corner strips crashed on broadcast); strips now clip to the
    target's band and anchor at the shared boundary."""
    import pandas as pd

    from balrog_spark.schema import TILES

    rng = np.random.RandomState(7)
    px = 25.0
    n, wa, wb = 64, 64, 5
    dem_a = rng.uniform(100, 200, size=(n, wa))
    dem_b = rng.uniform(100, 200, size=(n, wb))
    mosaic = np.hstack([dem_a, dem_b])

    def row(tx, arr, x0):
        return {"media_ref": f"dem/{tx}/0", "layer": "dem",
                "tile_x": tx, "tile_y": 0, "x0": x0, "y0": 0.0,
                "pixel_m": px, "nrows": arr.shape[0],
                "ncols": arr.shape[1],
                "data": arr.astype(np.float32).ravel().tolist()}

    tiles = spark.createDataFrame(
        pd.DataFrame([row(0, dem_a, 0.0), row(1, dem_b, wa * px)]),
        schema=TILES)
    out = raster.slope_aspect_tiles(tiles, classify=False).collect()
    slope_g, aspect_g = kernels.cal_slope_aspect_vec(
        mosaic.astype(np.float32).astype(np.float64), px, px)
    crops = {0: (0, wa), 1: (wa, wa + wb)}
    for r in out:
        c0, c1 = crops[r.tile_x]
        exp = {"slope": slope_g, "aspect": aspect_g}[r.layer][:, c0:c1]
        got = np.asarray(r.data, dtype=np.float64).reshape(
            r.nrows, r.ncols)
        assert_array_equal(got.astype(np.float32),
                           exp.astype(np.float32),
                           err_msg=f"tile {r.tile_x} {r.layer}")
