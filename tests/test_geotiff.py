"""Tiled GeoTIFF source — the reference's COG access pattern without
GDAL: driver-side IFD parse + manifest pruning, executor-side byte-range
decode (reference stores layers as COG mosaics,
01_mosaic_and_transform_images_in_one_go.py:251-253, and reads them by
windowed range requests, 02_get_slope_from_buffer.py:204-206)."""

import io
import struct
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from balrog_spark import corpus, geotiff, raster

NX, NY = 2, 2


def _dem_mosaic():
    """Corpus DEM tiles assembled into one (NY*64, NX*64) array, row 0
    north — the national-mosaic layout the reference uses."""
    n = corpus.TILE_N
    out = np.zeros((NY * n, NX * n), np.float32)
    for tx in range(NX):
        for ty in range(NY):
            dem, _ = corpus.tile_arrays(tx, ty)
            r0 = (NY - 1 - ty) * n
            out[r0:r0 + n, tx * n:(tx + 1) * n] = dem
    return out


@pytest.fixture(scope="module")
def dem_tif(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gt") / "dem.tif")
    mosaic = _dem_mosaic()
    with open(path, "wb") as f:
        f.write(geotiff.encode_geotiff(
            mosaic, x0=0.0, y_top=NY * corpus.TILE_M,
            pixel_m=corpus.PIXEL_M, tile=corpus.TILE_N, compression=5,
            nodata=-99))
    return path, mosaic


def test_roundtrip_compressions_byteorders():
    rng = np.random.default_rng(3)
    arr = (rng.random((100, 130)) * 900 - 100).astype(np.float32)
    for comp in (1, 5, 32773):
        for bo in ("<", ">"):
            b = geotiff.encode_geotiff(arr, 500.0, 9000.0, 25.0, tile=48,
                                       compression=comp, bo=bo)
            out, wx, ty = geotiff.read_window(io.BytesIO(b), -1e9, -1e9,
                                              1e9, 1e9)
            assert np.array_equal(out, arr), (comp, bo)
            assert (wx, ty) == (500.0, 9000.0)


def test_windowed_read_touches_only_window_bytes():
    """The COG promise: a small window reads the IFD plus that window's
    tile ranges, nothing else."""
    rng = np.random.default_rng(4)
    src = rng.random((640, 640)).astype(np.float32)
    big = geotiff.encode_geotiff(src, 0.0, 16000.0, 25.0, tile=64)

    class Counting(io.BytesIO):
        bytes_read = 0

        def read(self, n=-1):
            d = super().read(n)
            Counting.bytes_read = self.bytes_read = \
                self.bytes_read + len(d)
            return d

    f = Counting(big)
    out, wx, ty = geotiff.read_window(f, 100.0, 15000.0, 200.0, 15100.0)
    assert out.shape == (64, 64)
    assert np.array_equal(out, src[:64, :64])
    assert f.bytes_read < len(big) * 0.05

    # empty window: no tile bytes at all
    f2 = Counting(big)
    f2.bytes_read = 0
    Counting.bytes_read = 0
    out, _, _ = geotiff.read_window(f2, -5000.0, -5000.0, -4000.0,
                                    -4000.0)
    assert out.size == 0 and f2.bytes_read < 4096


def test_geotiff_tiles_matches_corpus(spark, dem_tif):
    """The Spark source reproduces the engine's own tile rows bit-exact:
    same grid indices, origins and float32 pixels as corpus.spark_tiles."""
    path, _ = dem_tif
    got = geotiff.geotiff_tiles(spark, path, "dem").toPandas() \
        .set_index(["tile_x", "tile_y"]).sort_index()
    want = corpus.spark_tiles(spark, NX, NY, layers=("dem",)) \
        .filter(F.col("layer") == "dem").toPandas() \
        .set_index(["tile_x", "tile_y"]).sort_index()
    assert list(got.index) == list(want.index)
    for key in got.index:
        g, w = got.loc[key], want.loc[key]
        assert (g.x0, g.y0, g.pixel_m, g.nrows, g.ncols) \
            == (w.x0, w.y0, w.pixel_m, w.nrows, w.ncols)
        assert np.array_equal(np.array(g.data, np.float32),
                              np.array(w.data, np.float32)), key


def test_geotiff_tiles_bbox_prunes_manifest(spark, dem_tif):
    path, _ = dem_tif
    t = corpus.TILE_M
    one = geotiff.geotiff_tiles(spark, path, "dem",
                                bbox=(10.0, 10.0, t - 10.0, t - 10.0))
    rows = one.collect()
    assert len(rows) == 1
    assert (rows[0].tile_x, rows[0].tile_y) == (0, 0)


def test_geotiff_nodata_remap(spark, tmp_path):
    arr = np.full((64, 64), 7.0, np.float32)
    arr[0, :4] = -32768.0
    path = str(tmp_path / "nd.tif")
    with open(path, "wb") as f:
        f.write(geotiff.encode_geotiff(arr, 0.0, 64 * 25.0, 25.0,
                                       nodata=-32768))
    row = geotiff.geotiff_tiles(spark, path, "dem").collect()[0]
    data = np.array(row.data, np.float32).reshape(64, 64)
    assert (data[0, :4] == -99.0).all() and (data[1:] == 7.0).all()


def test_geotiff_feeds_slope_aspect(spark, dem_tif):
    """End-to-end: GeoTIFF-ingested DEM through the production halo
    slope/aspect path equals the same op over corpus tiles."""
    path, _ = dem_tif
    gt = geotiff.geotiff_tiles(spark, path, "dem")
    ct = corpus.spark_tiles(spark, NX, NY, layers=("dem",)) \
        .filter(F.col("layer") == "dem")
    a = raster.slope_aspect_tiles(gt, classify=False).toPandas() \
        .sort_values(["layer", "tile_x", "tile_y"]).reset_index(drop=True)
    b = raster.slope_aspect_tiles(ct, classify=False).toPandas() \
        .sort_values(["layer", "tile_x", "tile_y"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    for i in range(len(a)):
        assert np.array_equal(np.array(a.loc[i].data, np.float32),
                              np.array(b.loc[i].data, np.float32))


def test_refusals():
    rng = np.random.default_rng(6)
    arr = rng.random((16, 16)).astype(np.float32)
    b = bytearray(geotiff.encode_geotiff(arr, 0, 400, 25.0, tile=16))
    with pytest.raises(ValueError, match="not a TIFF"):
        geotiff.read_info(io.BytesIO(b"nope" + bytes(b)))
    # a strip TIFF (no tile tags) is refused by this source
    from balrog_spark import tiffcodec
    strip = tiffcodec.encode_tiff(np.zeros((8, 8), np.uint8))
    with pytest.raises(ValueError, match="tiled GeoTIFF"):
        geotiff.read_info(io.BytesIO(strip))


def test_granule_sink_roundtrip(spark, dem_tif, tmp_path):
    """Executor-written GeoTIFF granules (the COG sink) roundtrip: every
    engine tile is recoverable bit-exact from the written granule files,
    and the returned manifest (not pixels) is what reaches the driver."""
    ct = corpus.spark_tiles(spark, NX, NY, layers=("dem",)) \
        .filter(F.col("layer") == "dem")
    man = geotiff.write_geotiff_granules(
        ct, str(tmp_path / "g"), granule_tiles=2).toPandas()
    assert len(man) == 1 and man.iloc[0].n_tiles == NX * NY
    assert os.path.exists(man.iloc[0].path)

    back = geotiff.geotiff_tiles(spark, man.iloc[0].path, "dem") \
        .toPandas().set_index(["x0", "y0"]).sort_index()
    want = ct.toPandas().set_index(["x0", "y0"]).sort_index()
    assert list(back.index) == list(want.index)
    for key in back.index:
        assert np.array_equal(
            np.array(back.loc[key].data, np.float32),
            np.array(want.loc[key].data, np.float32)), key

    # granule_tiles=1: one file per engine tile, 4 manifest rows with
    # disjoint bboxes
    man4 = geotiff.write_geotiff_granules(
        ct, str(tmp_path / "g4"), granule_tiles=1).toPandas() \
        .sort_values(["gx", "gy"]).reset_index(drop=True)
    assert len(man4) == NX * NY and (man4.n_tiles == 1).all()
    assert len({(r.x0, r.y0) for r in man4.itertuples()}) == NX * NY
    for r in man4.itertuples():
        with open(r.path, "rb") as f:
            arr, wx, ty = geotiff.read_window(f, -1e9, -1e9, 1e9, 1e9)
        assert (wx, ty) == (r.x0, r.y1) and arr.shape == (64, 64)


def test_bigtiff_roundtrip_and_spark_source(spark, tmp_path):
    """BigTIFF (version 43, 8-byte offsets): what a real >4 GB national
    COG mosaic must be — classic TIFF's u32 offsets cap at 4 GB. Same
    reader, same Spark source."""
    rng = np.random.default_rng(8)
    arr = (rng.random((96, 160)) * 700 - 50).astype(np.float32)
    for bo in ("<", ">"):
        b = geotiff.encode_geotiff(arr, 2000.0, 7000.0, 25.0, tile=32,
                                   compression=5, bo=bo, bigtiff=True)
        assert struct.unpack(bo + "H", b[2:4])[0] == 43
        out, wx, ty = geotiff.read_window(io.BytesIO(b), -1e9, -1e9,
                                          1e9, 1e9)
        assert np.array_equal(out, arr) and (wx, ty) == (2000.0, 7000.0)

    path = str(tmp_path / "big.tif")
    mosaic = _dem_mosaic()
    with open(path, "wb") as f:
        f.write(geotiff.encode_geotiff(
            mosaic, 0.0, NY * corpus.TILE_M, corpus.PIXEL_M,
            tile=corpus.TILE_N, bigtiff=True))
    got = geotiff.geotiff_tiles(spark, path, "dem").toPandas() \
        .sort_values(["tile_x", "tile_y"]).reset_index(drop=True)
    assert len(got) == NX * NY
    n = corpus.TILE_N
    for r in got.itertuples():
        dem, _ = corpus.tile_arrays(int(r.tile_x), int(r.tile_y))
        assert np.array_equal(
            np.array(r.data, np.float32).reshape(n, n),
            dem.astype(np.float32))


def test_cog_overviews(spark, tmp_path):
    """The 'O' in COG: chained reduced-resolution IFDs. A zoomed-out
    read touches the overview's bytes, not the full-res tiles; the Spark
    source serves any level as engine tiles with scaled pixel_m."""
    rng = np.random.default_rng(12)
    arr = (rng.random((256, 256)) * 800).astype(np.float32)
    path = str(tmp_path / "ov.tif")
    with open(path, "wb") as f:
        f.write(geotiff.encode_geotiff(arr, 0.0, 256 * 25.0, 25.0,
                                       tile=64, compression=5,
                                       nodata=-99, overviews=2))
    with open(path, "rb") as f:
        assert geotiff.num_levels(f) == 3
        full, _, _ = geotiff.read_window(f, -1e9, -1e9, 1e9, 1e9)
        assert np.array_equal(full, arr)
        ov1, _, _ = geotiff.read_window(f, -1e9, -1e9, 1e9, 1e9, level=1)
        assert np.array_equal(ov1, geotiff._downsample2(arr, -99))
        i1 = geotiff.read_info(f, level=1)
        assert i1.pixel_x == 50.0 and (i1.width, i1.height) == (128, 128)
        with pytest.raises(ValueError, match="overview"):
            geotiff.read_info(f, level=9)

    # whole-raster read at level 2 costs far fewer bytes than level 0
    data = open(path, "rb").read()

    class Counting(io.BytesIO):
        def __init__(self, payload):
            super().__init__(payload)
            self.n = 0

        def read(self, k=-1):
            d = super().read(k)
            self.n += len(d)
            return d

    f0, f2 = Counting(data), Counting(data)
    geotiff.read_window(f0, -1e9, -1e9, 1e9, 1e9, level=0)
    geotiff.read_window(f2, -1e9, -1e9, 1e9, 1e9, level=2)
    assert f2.n < f0.n / 8

    # Spark source at level 1: engine tiles with pixel_m=50, mosaic
    # reassembles to the downsample
    rows = geotiff.geotiff_tiles(spark, path, "dem", level=1).collect()
    assert all(r.pixel_m == 50.0 for r in rows)
    n = 64
    mosaic = np.full((128, 128), np.nan, np.float32)
    for r in rows:
        c0 = int(round(r.x0 / (50.0)))
        r_top = 128 - int(round(r.y0 / 50.0)) - r.nrows
        mosaic[r_top:r_top + r.nrows, c0:c0 + r.ncols] = \
            np.array(r.data, np.float32).reshape(r.nrows, r.ncols)
    assert np.array_equal(mosaic, geotiff._downsample2(arr, -99))


def test_granule_sink_with_overviews(spark, tmp_path):
    ct = corpus.spark_tiles(spark, NX, NY, layers=("dem",)) \
        .filter(F.col("layer") == "dem")
    man = geotiff.write_geotiff_granules(
        ct, str(tmp_path / "cog"), granule_tiles=2,
        overviews=2).toPandas()
    with open(man.iloc[0].path, "rb") as f:
        assert geotiff.num_levels(f) == 3
        i1 = geotiff.read_info(f, level=1)
        assert i1.pixel_x == 2 * corpus.PIXEL_M


def test_geokey_crs_roundtrip():
    """CRS GeoKeys survive encode->read_info for the EPSG-int form, all
    three user-defined param-dict forms, overview levels, and both
    byte orders; files without a CRS stay crs=None."""
    arr = np.arange(64, dtype=np.float32).reshape(8, 8)
    dicts = [
        {"proj": "tm", "lon0": 147.0, "lat0": 0.0, "k0": 0.9996,
         "fe": 500000.0, "fn": 10000000.0},
        {"proj": "albers", "lat1": -18.0, "lat2": -36.0, "lon0": 132.0,
         "lat0": 0.0, "fe": 0.0, "fn": 0.0},
        {"proj": "lcc", "lat1": -36.0, "lat2": -38.0, "lon0": 145.0,
         "lat0": -37.0, "fe": 2500000.0, "fn": 2500000.0},
    ]
    for bo in ("<", ">"):
        for crs in [28355, 3577, *dicts]:
            enc = geotiff.encode_geotiff(arr, 0.0, 80.0, 10.0, tile=4,
                                         bo=bo, overviews=1, crs=crs)
            for level in (0, 1):
                info = geotiff.read_info(io.BytesIO(enc), level=level)
                assert info.crs == crs, (bo, crs, level)
        enc = geotiff.encode_geotiff(arr, 0.0, 80.0, 10.0, tile=4, bo=bo)
        assert geotiff.read_info(io.BytesIO(enc)).crs is None


def test_reprojection_from_file_carried_crs():
    """Reproject using ONLY the CRS read back from the file: the
    projected coords must equal calling the geodesy projection with the
    explicit parameters (bit-identical — same code path, params carried
    through GeoDoubleParams f8s)."""
    from balrog_spark import geodesy

    arr = np.zeros((4, 4), dtype=np.float32)
    vicgrid = {"proj": "lcc", "lat1": -36.0, "lat2": -38.0,
               "lon0": 145.0, "lat0": -37.0,
               "fe": 2500000.0, "fn": 2500000.0}
    enc = geotiff.encode_geotiff(arr, 2490000.0, 2420000.0, 100.0,
                                 tile=4, crs=vicgrid)
    info = geotiff.read_info(io.BytesIO(enc))
    fwd, inv = geodesy.projector_for_crs(info.crs)
    lon, lat = np.array([145.5, 146.2]), np.array([-37.4, -36.9])
    gx, gy = fwd(lon, lat)
    ex, ey = geodesy.lcc_forward(lon, lat, **{k: v for k, v in
                                              vicgrid.items()
                                              if k != "proj"})
    assert np.array_equal(gx, ex) and np.array_equal(gy, ey)
    blon, blat = inv(gx, gy)
    assert np.allclose(blon, lon, atol=1e-9)
    assert np.allclose(blat, lat, atol=1e-9)
    # EPSG registry: MGA55 int code resolves to TM lon0=147
    enc = geotiff.encode_geotiff(arr, 300000.0, 6000000.0, 100.0,
                                 tile=4, crs=28355)
    info = geotiff.read_info(io.BytesIO(enc))
    assert info.crs == 28355
    fwd, _ = geodesy.projector_for_crs(info.crs)
    gx, gy = fwd(np.array([147.0]), np.array([-37.0]))
    ex, ey = geodesy.tm_forward(np.array([147.0]), np.array([-37.0]),
                                lon0=147.0)
    assert np.array_equal(gx, ex) and np.array_equal(gy, ey)
    with pytest.raises(ValueError, match="registry"):
        geodesy.projector_for_crs(999999)


def test_granule_sink_carries_crs(spark, dem_tif, tmp_path):
    from balrog_spark import geodesy

    tiles = geotiff.geotiff_tiles(spark, dem_tif[0], layer="dem")
    man = geotiff.write_geotiff_granules(
        tiles, str(tmp_path / "gran"), granule_tiles=2,
        crs=3577).toPandas()
    assert len(man) > 0
    with open(man.path.iloc[0], "rb") as f:
        info = geotiff.read_info(f)
    assert info.crs == 3577
    fwd, _ = geodesy.projector_for_crs(info.crs)
    x, y = fwd(np.array([132.0]), np.array([0.0]))
    assert abs(float(x)) < 1e-6 and abs(float(y)) < 1e-6


def test_full_bal_chain_from_geotiff(spark, dem_tif):
    """Switchability: the ENTIRE per-address BAL factors chain (kNN +
    zonal medians + AS 3959 lookup) produces identical rows whether the
    DEM arrives from the engine's tile store or from a user's GeoTIFF
    mosaic — bring your COGs, run the analytic unchanged."""
    from balrog_spark import pipeline

    path, _ = dem_tif
    docs = corpus.spark_documents(spark, NX, NY)
    gt = geotiff.geotiff_tiles(spark, path, "dem")
    ct = corpus.spark_tiles(spark, NX, NY, layers=("dem",)) \
        .filter(F.col("layer") == "dem")
    a = pipeline.address_bal_factors(spark, docs, gt).toPandas() \
        .sort_values("addr_id").reset_index(drop=True)
    b = pipeline.address_bal_factors(spark, docs, ct).toPandas() \
        .sort_values("addr_id").reset_index(drop=True)
    assert len(a) == len(b) > 0
    import pandas as pd
    pd.testing.assert_frame_equal(a, b)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 70), w=st.integers(1, 70),
    tile=st.sampled_from([8, 16, 33]),
    comp=st.sampled_from([1, 5, 32773]),
    bo=st.sampled_from(["<", ">"]),
    bigtiff=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_geotiff_roundtrip_property(h, w, tile, comp, bo, bigtiff, seed):
    """Any (dims, tile size, compression, byte order, container) combo
    roundtrips bit-exact, including non-multiple-of-tile edges."""
    rng = np.random.default_rng(seed)
    arr = (rng.random((h, w)) * 1000 - 200).astype(np.float32)
    b = geotiff.encode_geotiff(arr, -500.0, 12345.0, 25.0, tile=tile,
                               compression=comp, bo=bo, bigtiff=bigtiff)
    out, wx, ty = geotiff.read_window(io.BytesIO(b), -1e12, -1e12,
                                      1e12, 1e12)
    assert np.array_equal(out, arr)
    assert (wx, ty) == (-500.0, 12345.0)


def test_raster_bal_from_geotiff_both_layers(spark, tmp_path):
    """Switchability for the tiled raster pipeline too: DEM and
    vegetation both ingested from GeoTIFF mosaics (veg as uint8, the
    natural storage for a classified layer) give bit-identical BAL-max
    tiles to the corpus path."""
    n = corpus.TILE_N
    dem_m = _dem_mosaic()
    veg_m = np.zeros_like(dem_m)
    for tx in range(NX):
        for ty in range(NY):
            _, veg = corpus.tile_arrays(tx, ty)
            veg_m[(NY - 1 - ty) * n:(NY - ty) * n,
                  tx * n:(tx + 1) * n] = veg
    # classified veg stores as uint8: nodata (-99) becomes the u8
    # sentinel 255 + the GDAL nodata tag, and the source's nodata remap
    # restores the engine's -99 on ingest
    assert (veg_m == np.round(veg_m)).all()
    assert set(np.unique(veg_m)) <= set(range(0, 255)) | {-99.0}
    veg_u8 = np.where(veg_m == -99.0, 255.0, veg_m).astype(np.uint8)
    dem_p = str(tmp_path / "dem.tif")
    veg_p = str(tmp_path / "veg.tif")
    with open(dem_p, "wb") as f:
        f.write(geotiff.encode_geotiff(dem_m, 0.0, NY * corpus.TILE_M,
                                       corpus.PIXEL_M, tile=n,
                                       compression=5))
    with open(veg_p, "wb") as f:
        f.write(geotiff.encode_geotiff(veg_u8, 0.0,
                                       NY * corpus.TILE_M,
                                       corpus.PIXEL_M, tile=n,
                                       compression=5, nodata=255))
    gt = geotiff.geotiff_tiles(spark, dem_p, "dem").unionByName(
        geotiff.geotiff_tiles(spark, veg_p, "veg"))
    ct = corpus.spark_tiles(spark, NX, NY)
    a = raster.bal_max_tiles(gt).toPandas() \
        .sort_values(["fdi", "tile_x", "tile_y"]).reset_index(drop=True)
    b = raster.bal_max_tiles(ct).toPandas() \
        .sort_values(["fdi", "tile_x", "tile_y"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    for i in range(len(a)):
        assert np.array_equal(np.array(a.loc[i].bal_max, np.float32),
                              np.array(b.loc[i].bal_max, np.float32)), i


def test_granule_sink_edge_tiles_group_correctly(spark, tmp_path):
    """Regression: raster-edge tiles carry smaller nrows/ncols, and
    quantizing granule ids by each row's own dims filed them into the
    wrong granule. Spans must come from the layer-wide max dims — the
    full mosaic must survive a source->sink->source roundtrip."""
    rng = np.random.default_rng(31)
    mosaic = (rng.random((130, 200)) * 300).astype(np.float32)
    src = str(tmp_path / "src.tif")
    with open(src, "wb") as f:
        f.write(geotiff.encode_geotiff(mosaic, 0.0, 130 * 25.0, 25.0,
                                       tile=64, nodata=-99))
    tiles = geotiff.geotiff_tiles(spark, src, "dem")
    # edge tiles really are partial
    dims = {(r.nrows, r.ncols) for r in tiles.collect()}
    assert (64, 64) in dims and any(d != (64, 64) for d in dims)

    man = geotiff.write_geotiff_granules(
        tiles, str(tmp_path / "g"), granule_tiles=2).toPandas()
    # reassemble the world from the granules and compare where defined
    out = np.full((130 * 2, 200 * 2), np.nan, np.float32)  # oversized
    for r in man.itertuples():
        with open(r.path, "rb") as f:
            arr, wx, ty = geotiff.read_window(f, -1e9, -1e9, 1e9, 1e9)
        c0 = int(round(wx / 25.0))
        r0 = int(round((130 * 25.0 - ty) / 25.0))
        h, w = arr.shape
        if r0 < 0:  # granule extends above the mosaic top (padding)
            arr = arr[-r0:]
            h += r0
            r0 = 0
        out[r0:r0 + h, c0:c0 + w] = arr
    filled = out[:130, :200]
    ok = filled != -99.0
    assert np.array_equal(filled[ok], mosaic[ok])
    assert ok.all(), "every source pixel must come back"
