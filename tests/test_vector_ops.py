"""Vector operator module (buffer/explode/validity/subdivide)."""

import numpy as np
import pytest
from numpy.testing import assert_allclose

from balrog_spark import geometry, vector


def _polys_df(spark):
    rows = [
        {"veg_id": "a", "bal_number": 1,
         "wkt": "MULTIPOLYGON (((0 0, 100 0, 100 100, 0 100, 0 0)), "
                "((500 500, 600 500, 600 600, 500 600, 500 500)))"},
        {"veg_id": "b", "bal_number": 1,
         "wkt": "POLYGON ((1000 1000, 1200 1000, 1200 1150, 1000 1150, "
                "1000 1000))"},
        {"veg_id": "c", "bal_number": 2,
         "wkt": "POLYGON ((300 300, 340 300, 340 340, 300 340, 300 300))"},
        {"veg_id": "d", "bal_number": 3,
         "wkt": "POLYGON ((50 50, 50 50, 50 50, 50 50))"},  # degenerate
    ]
    return spark.createDataFrame(rows)


def test_explode_multipolygon(spark):
    out = vector.explode_multipolygon(_polys_df(spark)).toPandas()
    a = out[out.veg_id == "a"]
    assert len(a) == 2
    assert sorted(a.area_m2) == [10000.0, 10000.0]
    assert len(out[out.veg_id == "b"]) == 1


def test_validity_flags(spark):
    out = vector.validity_flags(_polys_df(spark)).toPandas() \
        .set_index("veg_id").is_valid.to_dict()
    assert out == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_buffer_points(spark):
    pts = spark.createDataFrame(
        [{"addr_id": "p1", "x": 100.0, "y": 200.0}])
    out = vector.buffer_points(pts, 50.0, quad_segs=8).collect()
    ring = geometry.parse_wkt(out[0].wkt)[0]
    assert len(ring) == 33  # 32 vertices + closure
    d = np.hypot(ring[:, 0] - 100.0, ring[:, 1] - 200.0)
    assert_allclose(d, 50.0, rtol=1e-6)


def test_subdivide_preserves_area(spark):
    out = vector.subdivide(_polys_df(spark).filter("veg_id = 'b'"),
                           cell_m=100.0).toPandas()
    # 200 x 150 rect split on a 100 m grid -> 2x2 cells
    assert len(out) == 4
    assert_allclose(out.piece_area.sum(), 200.0 * 150.0)


def test_extract_by_mask_and_regrid(spark):
    import numpy as np
    from numpy.testing import assert_allclose
    from balrog_spark import corpus, raster

    tiles = corpus.spark_tiles(spark, 1, 1).filter("layer = 'dem'")
    # mask: a box covering the tile's south-west quarter
    mask = "POLYGON ((0 0, 800.25 0, 800.25 800.25, 0 800.25, 0 0))"
    out = raster.extract_by_mask_tiles(tiles, mask).collect()
    assert len(out) == 1
    n = corpus.TILE_N
    arr = np.asarray(out[0].data, dtype=np.float64).reshape(n, n)
    dem, _ = corpus.tile_arrays(0, 0)
    # pixel centres with x < 800.25 and y < 800.25: cols 0..31, rows 32..63
    exp = np.full((n, n), -99.0)
    exp[32:, :32] = dem[32:, :32]
    assert_allclose(arr, exp)

    rg = raster.regrid_tiles(tiles, factor=2).collect()[0]
    assert rg.nrows == n // 2 and rg.pixel_m == 50.0
    coarse = np.asarray(rg.data, dtype=np.float64).reshape(n // 2, n // 2)
    blocks = dem.reshape(n // 2, 2, n // 2, 2).transpose(0, 2, 1, 3) \
        .reshape(n // 2, n // 2, 4)
    valid = blocks != -99.0
    cnt = valid.sum(2)
    exp2 = np.where(cnt > 0,
                    np.where(valid, blocks, 0).sum(2) / np.maximum(cnt, 1),
                    -99.0)
    assert_allclose(coarse, exp2)


def test_introspect_counts(spark):
    import pandas as pd
    from balrog_spark import vector
    rows = [
        {"veg_id": "a", "wkt": "POINT (1 2)"},
        {"veg_id": "b",
         "wkt": "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"},
        {"veg_id": "c",
         "wkt": "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), "
                "(2 2, 3 2, 3 3, 2 3, 2 2))"},
        {"veg_id": "d",
         "wkt": "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
                "((9 9, 12 9, 12 12, 9 12, 9 9)))"},
    ]
    got = vector.introspect(spark.createDataFrame(pd.DataFrame(rows))) \
        .toPandas().set_index("veg_id")
    assert tuple(got.loc["a"]) == ("POINT", 1, 0, 1)
    assert tuple(got.loc["b"]) == ("POLYGON", 1, 1, 5)
    assert tuple(got.loc["c"]) == ("POLYGON", 1, 2, 10)
    assert tuple(got.loc["d"]) == ("MULTIPOLYGON", 2, 2, 10)


def test_make_valid_repairs_bowtie_and_dups(spark):
    import pandas as pd
    from balrog_spark import vector
    rows = [
        # bowtie: corner-swapped square -> two triangles of 25 each
        {"veg_id": "bow",
         "wkt": "POLYGON ((0 0, 10 0, 0 10, 10 10, 0 0))"},
        # duplicate-vertex box: valid after dedup, area preserved
        {"veg_id": "dup",
         "wkt": "POLYGON ((0 0, 0 0, 10 0, 10 10, 10 10, 0 10, 0 0))"},
        # degenerate line: repaired away
        {"veg_id": "line", "wkt": "POLYGON ((0 0, 5 0, 10 0, 0 0))"},
    ]
    got = vector.make_valid(spark.createDataFrame(pd.DataFrame(rows))) \
        .toPandas().set_index("veg_id")
    assert got.loc["bow"].was_valid == 0
    assert got.loc["bow"].n_parts == 2
    assert got.loc["bow"].area_m2 == pytest.approx(50.0)
    assert "MULTIPOLYGON" in got.loc["bow"].wkt
    assert got.loc["dup"].was_valid == 1
    assert got.loc["dup"].n_parts == 1
    assert got.loc["dup"].area_m2 == pytest.approx(100.0)
    assert got.loc["line"].n_parts == 0
    assert got.loc["line"].wkt is None


def test_make_valid_pentagram_filled_union_area(spark):
    import numpy as np
    import pandas as pd
    from balrog_spark import geometry, vector
    ang = np.pi / 2 + np.arange(5) * 4 * np.pi / 5
    star = np.stack([np.cos(ang), np.sin(ang)], axis=1) * 10
    wkt = geometry.polygon_wkt(star)
    got = vector.make_valid(spark.createDataFrame(
        pd.DataFrame([{"veg_id": "star", "wkt": wkt}]))).toPandas()
    # filled-star area (winding>=2 centre counted once) vs rasterized fill
    xs = np.linspace(-10, 10, 1500)
    X, Y = np.meshgrid(xs, xs)
    filled = np.zeros(X.size, dtype=bool)
    for p in geometry.make_valid_ring(star):
        filled |= geometry.points_in_ring(X.ravel(), Y.ravel(), p)
    est = filled.mean() * 400
    assert got.area_m2[0] == pytest.approx(est, rel=0.01)
