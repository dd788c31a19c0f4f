"""The reference's whole-pipeline goldens on its REAL rasters, end to end.

With the AIG coverages (tests/aig_reader.py) and the ERDAS .img fixtures
(tests/hfa_reader.py) both decodable without GDAL/arcpy, the reference's
own heavyweight tests port directly:

- test_bal_cal: classified veg_c/slope_c/aspect_c (67x56 real rasters,
  fdi=80) -> bal_max must equal the published expect_bal_max.img
  PIXEL-EXACTLY — the reference's strongest full-pipeline golden;
- test_cal_slope_aspect: dem.img (real 84x68 terrain, 482-538 m) ->
  slope/aspect must match the published expect_s / expect_a coverages
  (float32 storage precision).
Both run through the ENGINE kernels and, for BAL, through the tiled
border-strip plan as well."""

import os

import numpy as np
import pytest
from numpy.testing import assert_array_equal

from balrog_spark import kernels, raster

from tests.aig_reader import read_aig
from tests.hfa_reader import read_img
from tests.shp_reader import read_shp_records

_TD = "/root/reference/tests/test_data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(_TD), reason="reference test_data not present")

PIXEL_M = 25.0
FDI = 80


def _load_classified():
    veg = read_aig(f"{_TD}/input/veg_c")
    slope = read_aig(f"{_TD}/input/slope_c")
    asp = read_aig(f"{_TD}/input/aspect_c")
    return veg, slope, asp


def _expected_bal_max():
    bm = read_img(f"{_TD}/reference/expect_bal_max.img")
    return np.where(bm < -1e30, -99.0, bm)


def test_bal_cal_real_rasters_global_kernel():
    veg, slope, asp = _load_classified()
    assert veg.shape == (67, 56)
    outs = kernels.bal_all_directions(veg, slope, asp, PIXEL_M, FDI)
    assert_array_equal(outs["max"], _expected_bal_max())


def test_bal_cal_real_rasters_through_tiles(spark):
    """The same golden through the production border-strip tiled plan,
    split across tiles in both axes (56 = 2x28 cols; rows 34+33)."""
    import pandas as pd
    veg, slope, asp = _load_classified()
    rows = []
    row_bands = [(0, 34), (34, 67)]
    for tx in range(2):
        csl = slice(tx * 28, (tx + 1) * 28)
        for ty, (r0, r1) in enumerate(row_bands):
            for lay, arr in (("veg_r", veg), ("slope_r", slope),
                             ("aspect_r", asp)):
                # larger tile_y = further north = smaller row index
                band = arr[r0:r1, csl]
                rows.append({
                    "media_ref": f"{lay}/{tx}/{1 - ty}", "layer": lay,
                    "tile_x": tx, "tile_y": 1 - ty,
                    "x0": tx * 28 * PIXEL_M,
                    "y0": (67 - r1) * PIXEL_M,
                    "pixel_m": PIXEL_M,
                    "nrows": r1 - r0, "ncols": 28,
                    "data": band.astype(np.float32).ravel().tolist()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    out = raster.bal_tiles_classified(tiles, FDI).toPandas()
    got = np.full((67, 56), np.nan)
    for r in out.itertuples():
        band = row_bands[1 - r.tile_y]
        got[band[0]:band[1], r.tile_x * 28:(r.tile_x + 1) * 28] = \
            np.asarray(r.bal_max, dtype=np.float64).reshape(r.nrows, 28)
    assert not np.isnan(got).any()
    assert_array_equal(got, _expected_bal_max())


def test_dem_slope_aspect_matches_published_coverages():
    dem = read_img(f"{_TD}/input/dem.img")
    dem = np.where(dem < -1e30, -99.0, dem)
    assert dem.shape == (68, 84)
    v = dem[dem != -99]
    assert 480 < v.min() < v.max() < 540  # real terrain, metres
    exp_s = read_aig(f"{_TD}/reference/expect_s")
    exp_a = read_aig(f"{_TD}/reference/expect_a")
    slope, aspect = kernels.cal_slope_aspect_vec(dem, PIXEL_M, PIXEL_M)
    assert ((slope == -99) == (exp_s == -99)).all()
    ms = exp_s != -99
    assert np.abs(slope[ms] - exp_s[ms]).max() < 1e-5
    ma = exp_a != -99
    d = np.abs(aspect[ma] - exp_a[ma])
    assert np.minimum(d, 360.0 - d).max() < 1e-4  # float32 storage


def _vege_mga():
    from tests.hfa_reader import read_mapinfo
    vm = read_img(f"{_TD}/input/vege_mga.img")
    # vege_mga declares 0 as its nodata value
    vm = np.where((vm < -1e30) | (vm == 0.0), -99.0, vm)
    return vm, read_mapinfo(f"{_TD}/input/vege_mga.img")


@pytest.mark.parametrize("name", ["small", "large"])
def test_extract_by_mask_matches_published_img(name):
    """The reference's test_extract_by_mask golden, EXACT: vege_mga.img
    masked by the published mask shapefiles equals
    expect_extracted_{small,large}.img pixel-for-pixel. The expected
    grids are snapped to the mask origin (a sub-pixel shift from the
    source grid), so the comparison evaluates the engine's
    pixel-centre-in-polygon rule at the EXPECTED grid's centres with
    nearest-neighbour source lookup — which reproduces arcpy's
    ExtractByMask exactly on these fixtures."""
    from balrog_spark import geometry
    from tests.hfa_reader import read_mapinfo
    vm, (ulx0, uly0, px) = _vege_mga()
    poly = geometry.parse_wkt_polys(
        read_shp_records(f"{_TD}/input/mask_extent_{name}.shp")[0][2])[0]
    exp = read_img(f"{_TD}/reference/expect_extracted_{name}.img")
    exp = np.where((exp < -1e30) | (exp == -128), -99.0, exp)
    ulxe, ulye, pxe = read_mapinfo(
        f"{_TD}/reference/expect_extracted_{name}.img")
    eh, ew = exp.shape
    X, Y = np.meshgrid(ulxe + np.arange(ew) * pxe,
                       ulye - np.arange(eh) * pxe)
    ci = np.round((X - ulx0) / px).astype(int)
    ri = np.round((uly0 - Y) / px).astype(int)
    ok = (ri >= 0) & (ri < vm.shape[0]) & (ci >= 0) & (ci < vm.shape[1])
    src = np.full(exp.shape, -99.0)
    src[ok] = vm[ri[ok], ci[ok]]
    inside = geometry.points_in_geom(X.ravel(), Y.ravel(),
                                     [poly]).reshape(exp.shape)
    got = np.where(inside, src, -99.0)
    assert_array_equal(got, exp)


def test_extract_by_mask_tiles_engine_path(spark):
    """The engine's tiled extract (raster.extract_by_mask_tiles) applies
    the same pixel-centre rule on the source grid: masked output equals a
    direct numpy mask of vege_mga with the real small-mask polygon."""
    import pandas as pd
    from balrog_spark import geometry
    vm, (ulx0, uly0, px) = _vege_mga()
    h, w = vm.shape
    wkt = read_shp_records(f"{_TD}/input/mask_extent_small.shp")[0][2]
    tiles = spark.createDataFrame(pd.DataFrame([{
        "media_ref": "veg/0/0", "layer": "veg", "tile_x": 0, "tile_y": 0,
        "x0": ulx0 - px / 2, "y0": uly0 + px / 2 - h * px,
        "pixel_m": px, "nrows": h, "ncols": w,
        "data": vm.astype(np.float32).ravel().tolist()}]))
    out = raster.extract_by_mask_tiles(tiles, wkt).collect()
    assert len(out) == 1
    got = np.asarray(out[0].data, dtype=np.float64).reshape(h, w)
    poly = geometry.parse_wkt_polys(wkt)[0]
    X, Y = np.meshgrid(ulx0 + np.arange(w) * px,
                       uly0 - np.arange(h) * px)
    inside = geometry.points_in_geom(X.ravel(), Y.ravel(),
                                     [poly]).reshape(h, w)
    exp = np.where(inside, vm, -99.0)
    assert_array_equal(got, exp)


# --- the reference's full WORKED EXAMPLE (Jerramungup AOI) ------------------
# examples/input/jerram_dem (MGA50 25 m) + jerram_veg (GDA94 Australia
# Albers 100 m) -> examples/output/bal_{n,ne,e,se,s,sw,w,nw,max}.img, with
# the documented parameters (docs/userguide/examples.rst: remap string,
# FDI 80, default extent). The vegetation reprojection is replicated from
# scratch: clean-room ellipsoidal Albers<->MGA transforms (geodesy.py) and
# the reference's own grid plumbing (ProjectRaster's projected-envelope
# origin + sa_tools.clip_array round() indexing), nearest-neighbour at the
# intermediate 25 m grid's pixel centres — then the engine kernels.

_EX = "/root/reference/examples"
_JERRAM_REMAP = ("1 6;2 1;3 1;4 1;5 13 2;14 5;15 18 3;19 22 7;23 4;"
                 "24 25 NODATA;26 4;27 28 NODATA;29 4;30 1;31 2;32 5;"
                 "99 NODATA")
_ASPECT_9 = ("-1 0 9;0 22.5 1;22.5 67.5 2;67.5 112.5 3;112.5 157.5 4;"
             "157.5 202.5 5;202.5 247.5 6;247.5 292.5 7;292.5 337.5 8;"
             "337.5 360 1")

jerram_present = pytest.mark.skipif(
    not os.path.isdir(os.path.join(_EX, "input", "jerram_dem")),
    reason="reference examples not present")


def _jerram_classified():
    """(veg_c, slope_c, aspect_c) on the DEM grid — the reference
    bal_calc() front half (reference: bal.py:202-231)."""
    import math

    from tests.aig_reader import read_aig_bounds

    from balrog_spark import geodesy as G

    veg = read_aig(f"{_EX}/input/jerram_veg")
    vb = read_aig_bounds(f"{_EX}/input/jerram_veg")
    dem = read_aig(f"{_EX}/input/jerram_dem")
    db = read_aig_bounds(f"{_EX}/input/jerram_dem")
    R, C = dem.shape

    # reclass in the native Albers grid (reference: bal.py:52)
    veg_r = kernels.reclassify_vec(veg, _JERRAM_REMAP)

    # arcpy ProjectRaster's output grid originates at the projected
    # envelope of the source extent (densified boundary); clip_array then
    # pairs output index (i, j) with the intermediate-grid pixel centre —
    # a sub-cell offset from the DEM centres that nearest-neighbour
    # sampling must honour (reference: utilities/sa_tools.py:34-43)
    t = np.linspace(0.0, 1.0, 2001)
    ex = np.concatenate([vb[0] + t * (vb[2] - vb[0]),
                         np.full_like(t, vb[2]),
                         vb[0] + t * (vb[2] - vb[0]),
                         np.full_like(t, vb[0])])
    ey = np.concatenate([np.full_like(t, vb[1]),
                         vb[1] + t * (vb[3] - vb[1]),
                         np.full_like(t, vb[3]),
                         vb[1] + t * (vb[3] - vb[1])])
    lon, lat = G.albers_inverse(ex, ey)
    mx, my = G.tm_forward(lon, lat, 117.0)
    x_start = int(np.around((db[0] - mx.min()) / 25.0))
    y_start = int(np.around((my.max() - db[3]) / 25.0))
    X = mx.min() + (x_start + np.arange(C) + 0.5) * 25.0
    Y = my.max() - (y_start + np.arange(R) + 0.5) * 25.0
    xg, yg = np.meshgrid(X, Y)
    lon, lat = G.tm_inverse(xg, yg, 117.0)
    ax, ay = G.albers_forward(lon, lat)
    col = np.floor((ax - vb[0]) / 100.0).astype(int)
    row = np.floor((vb[3] - ay) / 100.0).astype(int)
    ok = ((col >= 0) & (col < veg.shape[1])
          & (row >= 0) & (row < veg.shape[0]))
    veg_c = np.where(ok, veg_r[np.clip(row, 0, veg.shape[0] - 1),
                               np.clip(col, 0, veg.shape[1] - 1)], -99.0)

    # slope/aspect + reclass with the dynamic slope maximum
    # (reference: bal.py:76-133)
    slope, aspect = kernels.cal_slope_aspect_vec(dem, 25.0, 25.0)
    asp_c = kernels.reclassify_vec(aspect, _ASPECT_9)
    vmax = slope[slope != -99].max()
    if vmax < 20:
        vmax = 20.0001
    slp_c = kernels.reclassify_vec(
        slope, "0 0 1;0.0001 5 2;5.0001 10 3;10.0001 15 4;"
               f"15.0001 20 5;20.0001 {math.ceil(float(vmax))} 6")
    return veg_c, slp_c, asp_c


def _jerram_golden(name):
    g = read_img(f"{_EX}/output/bal_{name}.img")
    return np.where(g < -1e30, -99.0, g)


@jerram_present
def test_jerram_worked_example_all_nine_goldens_global():
    """Every published output raster of the worked example — the 8
    direction BALs and the maximum — must be PIXEL-EXACT."""
    veg_c, slp_c, asp_c = _jerram_classified()
    outs = kernels.bal_all_directions(veg_c, slp_c, asp_c, 25.0, 80)
    for name in ("n", "ne", "e", "se", "s", "sw", "w", "nw", "max"):
        assert_array_equal(outs[name], _jerram_golden(name)), name


@jerram_present
def test_jerram_worked_example_through_tiles(spark):
    """The same worked example through the PRODUCTION tiled plan
    (border-strip halos, 2x2 tile split over the 71x86 AOI)."""
    import pandas as pd
    veg_c, slp_c, asp_c = _jerram_classified()
    R, C = veg_c.shape
    rows = []
    row_bands = [(0, 36), (36, R)]
    col_bands = [(0, 43), (43, C)]
    for tx, (c0, c1) in enumerate(col_bands):
        for ty, (r0, r1) in enumerate(row_bands):
            for lay, arr in (("veg_r", veg_c), ("slope_r", slp_c),
                             ("aspect_r", asp_c)):
                band = arr[r0:r1, c0:c1]
                rows.append({
                    "media_ref": f"{lay}/{tx}/{1 - ty}", "layer": lay,
                    "tile_x": tx, "tile_y": 1 - ty,
                    "x0": c0 * PIXEL_M, "y0": (R - r1) * PIXEL_M,
                    "pixel_m": PIXEL_M,
                    "nrows": r1 - r0, "ncols": c1 - c0,
                    "data": band.astype(np.float32).ravel().tolist()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    out = raster.bal_tiles_classified(tiles, 80).toPandas()
    got = np.full((R, C), np.nan)
    for r in out.itertuples():
        band = row_bands[1 - r.tile_y]
        cb = col_bands[r.tile_x]
        got[band[0]:band[1], cb[0]:cb[1]] = \
            np.asarray(r.bal_max, dtype=np.float64).reshape(
                r.nrows, cb[1] - cb[0])
    assert not np.isnan(got).any()
    assert_array_equal(got, _jerram_golden("max"))


def test_get_slope_aspect_classified_goldens_with_mask():
    """The reference's test_get_slope_aspect lifecycle end-to-end on its
    REAL dem.img: slope/aspect derivation (float32 storage), the 9-class
    aspect remap, the dynamic-maximum slope remap, and extraction by the
    published test_mask.shp — the classified outputs must equal
    expect_s_r / expect_a_r PIXEL-EXACTLY on the expected (mask-snapped)
    grids (reference: bal.py:76-133, tests/test_get_slope_aspect.py)."""
    import math

    from balrog_spark import geometry
    from tests.aig_reader import read_aig_bounds
    from tests.hfa_reader import read_mapinfo

    dem = read_img(f"{_TD}/input/dem.img")
    dem = np.where(dem < -1e30, -99.0, dem)
    ulx, uly, px = read_mapinfo(f"{_TD}/input/dem.img")
    slope, aspect = kernels.cal_slope_aspect_vec(dem, px, px)
    # arcpy stores the intermediate slope/aspect rasters as float32
    s32 = np.where(slope == -99, -99.0,
                   slope.astype(np.float32).astype(np.float64))
    a32 = np.where(aspect == -99, -99.0,
                   aspect.astype(np.float32).astype(np.float64))
    asp_c = kernels.reclassify_vec(
        a32, "-1 0 9;0 22.5 1;22.5 67.5 2;67.5 112.5 3;112.5 157.5 4;"
             "157.5 202.5 5;202.5 247.5 6;247.5 292.5 7;292.5 337.5 8;"
             "337.5 360 1")
    vmax = s32[s32 != -99].max()
    if vmax < 20:
        vmax = 20.0001
    slp_c = kernels.reclassify_vec(
        s32, "0 0 1;0.0001 5 2;5.0001 10 3;10.0001 15 4;15.0001 20 5;"
             f"20.0001 {math.ceil(float(vmax))} 6")

    poly = geometry.parse_wkt_polys(
        read_shp_records(f"{_TD}/input/test_mask.shp")[0][2])
    for name, cls in (("expect_s_r", slp_c), ("expect_a_r", asp_c)):
        exp = read_aig(f"{_TD}/reference/{name}")
        b = read_aig_bounds(f"{_TD}/reference/{name}")
        eh, ew = exp.shape
        X, Y = np.meshgrid(b[0] + (np.arange(ew) + 0.5) * px,
                           b[3] - (np.arange(eh) + 0.5) * px)
        ci = np.round((X - ulx) / px).astype(int)
        ri_ = np.round((uly - Y) / px).astype(int)
        ok = ((ri_ >= 0) & (ri_ < dem.shape[0])
              & (ci >= 0) & (ci < dem.shape[1]))
        src = np.full(exp.shape, -99.0)
        src[ok] = cls[ri_[ok], ci[ok]]
        inside = geometry.points_in_geom(X.ravel(), Y.ravel(),
                                         poly).reshape(exp.shape)
        assert_array_equal(np.where(inside, src, -99.0), exp), name


def test_reclass_veg_reprojected_golden():
    """The reference's test_reclass_veg lifecycle on its REAL rasters:
    vege.img (VICGRID94 Lambert conformal conic, 30 m, nodata 0) is
    reclassified with the 38-rule remap, ProjectRaster'd into the DEM's
    MGA55 grid at 25 m (clean-room LCC inverse + TM forward, arcpy's
    projected-envelope origin + clip_array offsets), and extracted by
    test_mask.shp — the result must equal expect_v_r PIXEL-EXACTLY
    (reference: bal.py:26-73, tests/test_reclass_veg.py)."""
    from balrog_spark import geodesy as G
    from balrog_spark import geometry
    from tests.aig_reader import read_aig_bounds
    from tests.hfa_reader import read_mapinfo

    veg = read_img(f"{_TD}/input/vege.img")
    veg = np.where((veg < -1e30) | (veg == 0.0), -99.0, veg)
    vulx, vuly, vpx = read_mapinfo(f"{_TD}/input/vege.img")
    remap = ("1 3;2 2;3 3;4 5 7;6 8 1;9 2;10 3;11 12 1;13 1;14 3;"
             "15 6;16 7;17 3;18 19 2;20 7;21 3;22 2; 23 24 7;25 27 5;"
             "28 2;29 30 7;31 3;32 33 1;34 7;35 3;36 37 7;38 4;39 7;"
             "40 1;41 2;42 7;43 2;44 7;45 4;46 7;47 NODATA;97 2;98 99 1")
    veg_r = kernels.reclassify_vec(veg, remap)
    vh, vw = veg.shape
    vxmin, vymax = vulx - vpx / 2, vuly + vpx / 2
    vxmax, vymin = vxmin + vw * vpx, vymax - vh * vpx

    t = np.linspace(0.0, 1.0, 2001)
    ex = np.concatenate([vxmin + t * (vxmax - vxmin),
                         np.full_like(t, vxmax),
                         vxmin + t * (vxmax - vxmin),
                         np.full_like(t, vxmin)])
    ey = np.concatenate([np.full_like(t, vymin),
                         vymin + t * (vymax - vymin),
                         np.full_like(t, vymax),
                         vymin + t * (vymax - vymin)])
    lon, lat = G.lcc_inverse(ex, ey)
    mx, my = G.tm_forward(lon, lat, 147.0)
    vpx_min, vpy_max = mx.min(), my.max()

    exp = read_aig(f"{_TD}/reference/expect_v_r")
    b = read_aig_bounds(f"{_TD}/reference/expect_v_r")
    eh, ew = exp.shape
    x_start = int(np.around((b[0] - vpx_min) / 25.0))
    y_start = int(np.around((vpy_max - b[3]) / 25.0))
    X, Y = np.meshgrid(vpx_min + (x_start + np.arange(ew) + 0.5) * 25.0,
                       vpy_max - (y_start + np.arange(eh) + 0.5) * 25.0)
    lon, lat = G.tm_inverse(X, Y, 147.0)
    ax, ay = G.lcc_forward(lon, lat)
    ci = np.floor((ax - vxmin) / vpx).astype(int)
    ri_ = np.floor((vymax - ay) / vpx).astype(int)
    ok = (ci >= 0) & (ci < vw) & (ri_ >= 0) & (ri_ < vh)
    src = np.full(exp.shape, -99.0)
    src[ok] = veg_r[np.clip(ri_, 0, vh - 1), np.clip(ci, 0, vw - 1)][ok]
    poly = geometry.parse_wkt_polys(
        read_shp_records(f"{_TD}/input/test_mask.shp")[0][2])
    inside = geometry.points_in_geom(X.ravel(), Y.ravel(),
                                     poly).reshape(exp.shape)
    assert_array_equal(np.where(inside, src, -99.0), exp)


def test_get_footprint_matches_published_shapefile():
    """get_footprint = the raster's extent rectangle as a polygon
    (reference: bal.py:259-278); vege.img's footprint must equal
    expect_footprint.shp's ring vertex-for-vertex."""
    from balrog_spark import geometry
    from tests.hfa_reader import read_mapinfo

    ulx, uly, px = read_mapinfo(f"{_TD}/input/vege.img")
    h, w = read_img(f"{_TD}/input/vege.img").shape
    xmin, ymax = ulx - px / 2, uly + px / 2
    xmax, ymin = xmin + w * px, ymax - h * px
    exp_ring = geometry.parse_wkt_polys(
        read_shp_records(f"{_TD}/reference/expect_footprint.shp")[0][2])[0][0]
    got = {(round(x, 3), round(y, 3))
           for x, y in ((xmin, ymin), (xmin, ymax), (xmax, ymax),
                        (xmax, ymin))}
    want = {(round(float(p[0]), 3), round(float(p[1]), 3))
            for p in np.asarray(exp_ring)}
    # shapefile doubles carry the same values to well under a millimetre
    for gx, gy in got:
        assert any(abs(gx - wx) < 1e-3 and abs(gy - wy) < 1e-3
                   for wx, wy in want), (gx, gy)


def test_find_common_area_goldens():
    """The reference's find_common_area on its real fixtures: the
    footprint intersection of the (projected) vegetation grid and the
    DEM-grid slope/aspect, each extracted onto its own clipped grid,
    must equal expect_v_c / expect_s_c / expect_a_c pixel-for-pixel
    (reference: bal.py:141-193, tests/test_find_common_area.py)."""
    from tests.aig_reader import read_aig_bounds
    ins = {n: (read_aig(f"{_TD}/input/{n}"),
               read_aig_bounds(f"{_TD}/input/{n}"))
           for n in ("veg_r", "slope_r", "aspect_r")}
    sb, vb = ins["slope_r"][1], ins["veg_r"][1]
    eff = (max(sb[0], vb[0]), max(sb[1], vb[1]),
           min(sb[2], vb[2]), min(sb[3], vb[3]))
    for name, src_key in (("expect_v_c", "veg_r"),
                          ("expect_s_c", "slope_r"),
                          ("expect_a_c", "aspect_r")):
        exp = read_aig(f"{_TD}/reference/{name}")
        b = read_aig_bounds(f"{_TD}/reference/{name}")
        src, srcb = ins[src_key]
        eh, ew = exp.shape
        X, Y = np.meshgrid(b[0] + (np.arange(ew) + 0.5) * 25.0,
                           b[3] - (np.arange(eh) + 0.5) * 25.0)
        ci = np.round((X - srcb[0]) / 25.0 - 0.5).astype(int)
        ri_ = np.round((srcb[3] - Y) / 25.0 - 0.5).astype(int)
        ok = ((ci >= 0) & (ci < src.shape[1])
              & (ri_ >= 0) & (ri_ < src.shape[0]))
        got = np.full(exp.shape, -99.0)
        got[ok] = src[ri_[ok], ci[ok]]
        inrect = ((X >= eff[0]) & (X <= eff[2])
                  & (Y >= eff[1]) & (Y <= eff[3]))
        assert_array_equal(np.where(inrect, got, -99.0), exp), name
