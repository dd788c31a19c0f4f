"""Spatial joins + zonal stats vs brute-force numpy oracles, and the
document span-sequence round-trip invariant."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from balrog_spark import (corpus, docparse, geometry, joins, kernels,
                          pipeline, raster, zonal)
from balrog_spark.schema import TILES
from perfbench import checks

NX, NY = 2, 2


@pytest.fixture(scope="module")
def corpus_dfs(spark):
    docs = corpus.spark_documents(spark, NX, NY)
    tiles = corpus.spark_tiles(spark, NX, NY).cache()
    return docs.cache(), tiles


@pytest.fixture(scope="module")
def flat(corpus_dfs):
    docs, _ = corpus_dfs
    addrs = docparse.addresses_from_documents(docs).toPandas()
    vegs = docparse.veg_from_documents(docs).toPandas()
    return addrs, vegs


def brute_force_nearest(addrs: pd.DataFrame, vegs: pd.DataFrame):
    rings = {r.veg_id: geometry.parse_wkt(r.wkt)[0] for r in
             vegs.itertuples()}
    out = {}
    for a in addrs.itertuples():
        best = None
        for v in vegs.itertuples():
            ring = rings[v.veg_id]
            d, _, _ = geometry.points_to_ring_distance(
                np.array([a.x]), np.array([a.y]), ring)
            inside = geometry.points_in_ring(np.array([a.x]),
                                             np.array([a.y]), ring)[0]
            dist = 0.0 if inside else float(d[0])
            key = (dist, v.veg_id)
            if best is None or key < best[0]:
                best = (key, v.veg_id, dist)
        out[a.addr_id] = (best[1], best[2])
    return out


def test_span_sequence_roundtrip(corpus_dfs):
    docs, _ = corpus_dfs
    spans = docparse.explode_spans(docs)
    rebuilt = docparse.reassemble_documents(spans)
    orig = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in r.spans] for r in docs.collect()}
    back = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in r.spans] for r in rebuilt.collect()}
    assert orig == back


def test_parse_counts(corpus_dfs, flat):
    _, tiles = corpus_dfs
    addrs, vegs = flat
    assert len(addrs) == NX * NY * 5
    assert len(vegs) > 0
    assert tiles.count() == NX * NY * 2


def test_pip_join_matches_bruteforce(corpus_dfs, flat):
    docs, _ = corpus_dfs
    addrs, vegs = flat
    got = joins.pip_join(
        docparse.addresses_from_documents(docs).select("addr_id", "x", "y"),
        docparse.veg_from_documents(docs)).toPandas()
    exp = set()
    for v in vegs.itertuples():
        ring = geometry.parse_wkt(v.wkt)[0]
        inside = geometry.points_in_ring(addrs.x.values, addrs.y.values,
                                         ring)
        for aid in addrs.addr_id.values[inside]:
            exp.add((aid, v.veg_id))
    assert set(zip(got.addr_id, got.veg_id)) == exp


def test_dwithin_join_matches_bruteforce(corpus_dfs, flat):
    docs, _ = corpus_dfs
    addrs, vegs = flat
    radius = 300.0
    got = joins.dwithin_join(
        docparse.addresses_from_documents(docs).select("addr_id", "x", "y"),
        docparse.veg_from_documents(docs), radius).toPandas()
    exp = set()
    for v in vegs.itertuples():
        ring = geometry.parse_wkt(v.wkt)[0]
        d, _, _ = geometry.points_to_ring_distance(addrs.x.values,
                                                   addrs.y.values, ring)
        inside = geometry.points_in_ring(addrs.x.values, addrs.y.values,
                                         ring)
        ok = np.where(inside, 0.0, d) <= radius
        for aid in addrs.addr_id.values[ok]:
            exp.add((aid, v.veg_id))
    assert set(zip(got.addr_id, got.veg_id)) == exp


def test_knn_join_matches_bruteforce(corpus_dfs, flat):
    docs, _ = corpus_dfs
    addrs, vegs = flat
    got = joins.knn_join(
        docparse.addresses_from_documents(docs).select("addr_id", "x", "y"),
        docparse.veg_from_documents(docs)).toPandas()
    assert len(got) == len(addrs)
    exp = brute_force_nearest(addrs, vegs)
    for r in got.itertuples():
        ev, ed = exp[r.addr_id]
        assert r.veg_id == ev, f"{r.addr_id}: {r.veg_id} != {ev}"
        assert abs(r.distance_m - ed) < 1e-9


def brute_force_topk(addrs: pd.DataFrame, vegs: pd.DataFrame, k: int):
    rings = {v.veg_id: geometry.parse_wkt(v.wkt)[0]
             for v in vegs.itertuples()}
    out = {}
    for a in addrs.itertuples():
        scored = []
        for v in vegs.itertuples():
            ring = rings[v.veg_id]
            d, _, _ = geometry.points_to_ring_distance(
                np.array([a.x]), np.array([a.y]), ring)
            inside = geometry.points_in_ring(np.array([a.x]),
                                             np.array([a.y]), ring)[0]
            scored.append((0.0 if inside else float(d[0]), v.veg_id))
        scored.sort()
        out[a.addr_id] = scored[:k]
    return out


def _assert_topk(got: pd.DataFrame, exp: dict):
    assert set(got.addr_id) == set(exp)
    for aid, grp in got.groupby("addr_id"):
        grp = grp.sort_values("nn_rank")
        want = exp[aid]
        assert list(grp.nn_rank) == list(range(1, len(want) + 1)), aid
        assert list(grp.veg_id) == [v for _, v in want], aid
        assert np.allclose(grp.distance_m.values,
                           [d for d, _ in want], atol=1e-9), aid


def test_knn_topk_matches_bruteforce(corpus_dfs, flat):
    docs, _ = corpus_dfs
    addrs, vegs = flat
    got = joins.knn_join(
        docparse.addresses_from_documents(docs).select("addr_id", "x", "y"),
        docparse.veg_from_documents(docs), k=3).toPandas()
    _assert_topk(got, brute_force_topk(addrs, vegs, 3))


def test_knn_topk_exact_at_tiny_ring_budget(corpus_dfs, flat):
    """max_ring=1 forces the clamped ring-doubling straggler path with
    k>1: the k-th-best bound must gate resolution there too."""
    docs, _ = corpus_dfs
    addrs, vegs = flat
    got = joins.knn_join(
        docparse.addresses_from_documents(docs).select("addr_id", "x", "y"),
        docparse.veg_from_documents(docs), max_ring=1, k=3).toPandas()
    _assert_topk(got, brute_force_topk(addrs, vegs, 3))


def test_knn_topk_tiebreak_and_k_above_poly_count(spark):
    """Two polygons exactly equidistant order by veg_id asc; k larger
    than the polygon count returns every polygon, ranked."""
    pts = spark.createDataFrame(pd.DataFrame(
        {"addr_id": ["a1"], "x": [1000.0], "y": [1000.0]}))

    def box(x0, y0, x1, y1):
        return (f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                f"{x0} {y1}, {x0} {y0}))")

    polys = spark.createDataFrame(pd.DataFrame({
        "veg_id": ["0001", "0002", "0003"],
        "bal_number": [1, 2, 3],
        "wkt": [box(1010, 995, 1020, 1005),     # right, d=10
                box(980, 995, 990, 1005),       # left, d=10 (tie)
                box(995, 1015, 1005, 1025)]}))  # above, d=15
    got = joins.knn_join(pts, polys, k=5).toPandas() \
        .sort_values("nn_rank")
    assert list(got.nn_rank) == [1, 2, 3]
    assert list(got.veg_id) == ["0001", "0002", "0003"]
    assert np.allclose(got.distance_m, [10.0, 10.0, 15.0])
    # k=1 output contract unchanged: no rank column
    k1 = joins.knn_join(pts, polys)
    assert "nn_rank" not in k1.columns
    one = k1.toPandas()
    assert len(one) == 1 and one.veg_id.iloc[0] == "0001"


def test_zonal_stats_matches_bruteforce(spark, corpus_dfs, flat):
    docs, tiles = corpus_dfs
    addrs, _ = flat
    radius = 100.0
    pts = docparse.addresses_from_documents(docs).select("addr_id", "x", "y")
    dem_tiles = tiles.filter(F.col("layer") == "dem")
    got = zonal.zonal_stats(pts, dem_tiles, radius).toPandas() \
        .set_index("addr_id")

    # oracle: global pixel grid
    n = corpus.TILE_N
    for a in addrs.itertuples():
        vals = []
        for tx in range(NX):
            for ty in range(NY):
                dem, _ = corpus.tile_arrays(tx, ty)
                xs = tx * corpus.TILE_M + (np.arange(n) + 0.5) * corpus.PIXEL_M
                ys = ty * corpus.TILE_M + (n - np.arange(n) - 0.5) \
                    * corpus.PIXEL_M
                mask = ((xs[None, :] - a.x) ** 2
                        + (ys[:, None] - a.y) ** 2) <= radius ** 2
                v = dem[mask]
                vals.append(v[v != -99.0])
        flat_vals = np.concatenate(vals)
        exp = kernels.zonal_stats_1d(flat_vals)
        row = got.loc[a.addr_id]
        for k, col in (("min", "stat_min"), ("max", "stat_max"),
                       ("avg", "stat_avg"), ("std", "stat_std"),
                       ("med", "stat_med"), ("pixel_count", "pixel_count")):
            assert row[col] == exp[k], f"{a.addr_id} {k}"


def test_address_bal_factors_end_to_end(spark, corpus_dfs, flat):
    """Every address's row against perfbench's independent oracle: an
    exhaustive nearest-polygon scan, whole-mosaic slope/aspect medians
    and reference_impl.bal_esti."""
    docs, tiles = corpus_dfs
    addrs, vegs = flat
    out = pipeline.address_bal_factors(spark, docs, tiles,
                                       buffer_m=checks.RADIUS_M).toPandas()
    assert len(out) == NX * NY * 5
    assert checks.check_address_bal(
        out, addrs, vegs, checks.slope_aspect_mosaic(tiles.toPandas()),
        0) == []
    assert set(out.bal.unique()) <= {-99.0, 12.5, 19.0, 29.0, 40.0, 100.0,
                                     200.0}
    # verify the JVM-side classify_bal against the numpy kernel row-by-row
    for r in out.itertuples():
        exp = float(kernels.bal_esti_vec(
            np.array([float(r.bal_number)]), np.array([r.distance_m]),
            np.array([float(r.eff_slope_code)]), int(r.fdi))[0])
        assert r.bal == exp, f"{r.addr_id}: {r.bal} != {exp}"


def test_zonal_sentinel_for_tile_less_address(spark, corpus_dfs):
    """An address whose buffer touches no stored tile must yield the
    reference's -9999 sentinel row, not silently disappear."""
    import pandas as pd
    _, tiles = corpus_dfs
    dem = tiles.filter(F.col("layer") == "dem")
    pts = spark.createDataFrame(pd.DataFrame({
        "addr_id": ["inworld", "nowhere"],
        "x": [500.0, 99999.0], "y": [500.0, 99999.0]}))
    got = zonal.zonal_stats(pts, dem, 100.0).toPandas() \
        .set_index("addr_id")
    assert set(got.index) == {"inworld", "nowhere"}
    assert got.loc["nowhere"].stat_med == -9999
    assert got.loc["nowhere"].pixel_count == -9999
    assert got.loc["inworld"].pixel_count > 0


def test_zonal_batching_matches_per_address_semantics(spark, corpus_dfs,
                                                      tiny_arrow_batches):
    """Tiny batch cells (many groups), one huge batch cell (single
    group) and 1-row Arrow batches must produce identical stats —
    batching is pure plumbing."""
    docs, tiles = corpus_dfs
    dem = tiles.filter(F.col("layer") == "dem")
    pts = docparse.addresses_from_documents(docs).select("addr_id", "x", "y")

    def run(radius_m, batch_m):
        return zonal.zonal_stats(pts, dem, radius_m, batch_m=batch_m) \
            .toPandas().sort_values("addr_id").reset_index(drop=True)

    import pandas as pd
    pd.testing.assert_frame_equal(run(100.0, 64.0), run(100.0, 1e9))
    # 900 m buffers span several tiles, so with 1-row Arrow batches
    # every address's rows straddle batch boundaries
    a = run(900.0, 64.0)
    with tiny_arrow_batches(rows=1):
        c = run(900.0, 64.0)
    pd.testing.assert_frame_equal(a, c)


def test_knn_join_exact_at_tiny_ring_budget(corpus_dfs, flat):
    """max_ring=1 starves the ring expansion, forcing most points through
    the bounded exact straggler pass — the result must still equal the
    brute force (and hence the default-budget run) exactly."""
    docs, _ = corpus_dfs
    addrs, vegs = flat
    got = joins.knn_join(
        docparse.addresses_from_documents(docs).select("addr_id", "x", "y"),
        docparse.veg_from_documents(docs), max_ring=1).toPandas()
    assert len(got) == len(addrs)
    exp = brute_force_nearest(addrs, vegs)
    for r in got.itertuples():
        ev, ed = exp[r.addr_id]
        assert r.veg_id == ev and abs(r.distance_m - ed) < 1e-9


def _mosaic_stats(m, arr, x, y, radius, touched=False, circular=False):
    """Zonal stats of ``arr`` (a whole-mosaic layer of ``m``) over the
    pixels of the buffer around (x, y): centre in the circle, or with
    ``touched`` every pixel whose square meets it."""
    half = m.pixel_m / 2.0 if touched else 0.0

    def inside(xs, ys):
        dx = np.maximum(np.abs(xs - x) - half, 0.0)
        dy = np.maximum(np.abs(ys - y) - half, 0.0)
        return dx ** 2 + dy ** 2 <= radius ** 2

    return kernels.zonal_stats_1d(
        m.values(arr, x - radius, x + radius, y - radius, y + radius,
                 inside), circular=circular)


ORDER_FREE = ("min", "max", "med", "pixel_count")


def test_zonal_multi_edges_match_mosaic(spark):
    """Multi-layer buffer stats on random addresses plus tile-boundary
    and out-of-coverage corners equal the whole-mosaic slope/aspect
    stats (perfbench.checks): the tile join and the window crop lose no
    pixel at tile edges."""
    import random

    tiles = corpus.tiles_pdf([(tx, ty) for tx in range(3)
                              for ty in range(3)], layers=("dem",))
    m, slope, aspect = checks.slope_aspect_mosaic(tiles)
    sa = raster.slope_aspect_tiles(spark.createDataFrame(tiles,
                                                         schema=TILES),
                                   classify=False)
    rng = random.Random(7)
    world = 3 * corpus.TILE_M
    rows = [(f"{i:05d}", rng.uniform(0, world), rng.uniform(0, world))
            for i in range(120)]
    rows += [("edge1", float(corpus.TILE_M), float(corpus.TILE_M)),
             ("edge2", 2 * corpus.TILE_M - 0.5, 0.5),
             ("edge3", 0.0, world),            # NW corner of coverage
             ("out1", world + 5000.0, 100.0)]  # sentinel path
    pts = spark.createDataFrame(rows, "addr_id string, x double, y double")
    specs = {"slope": {"circular": False}, "aspect": {"circular": True}}
    got = zonal.zonal_stats_multi(pts, sa, 100.0, specs).toPandas() \
        .set_index("addr_id")
    assert len(got) == len(rows)
    for addr, x, y in rows:
        for lay, arr in (("slope", slope), ("aspect", aspect)):
            exp = _mosaic_stats(m, arr, x, y, 100.0,
                                circular=specs[lay]["circular"])
            for k in ORDER_FREE:
                assert got.loc[addr, f"{lay}_{k}"] == exp[k], \
                    f"{addr} {lay}_{k}"
    assert got.loc["out1", "slope_med"] == -9999


def test_zonal_touched_rule_supersets_centre(spark):
    """all_touched zonal: the touched pixel set must contain the centre
    set for every address (a square intersecting the circle whenever its
    centre is inside), strictly more on buffers that graze pixel edges,
    and both rules must equal the whole-mosaic stats."""
    tiles = corpus.tiles_pdf([(0, 0), (0, 1), (1, 0), (1, 1)],
                             layers=("dem",))
    m = checks.mosaic(tiles, "dem")
    dem = spark.createDataFrame(tiles, schema=TILES)
    rng = __import__("random").Random(3)
    world = 2 * corpus.TILE_M
    rows = [(f"{i:04d}", rng.uniform(0, world), rng.uniform(0, world))
            for i in range(60)]
    pts = spark.createDataFrame(rows, "addr_id string, x double, y double")
    c = zonal.zonal_stats(pts, dem, 100.0).toPandas() \
        .set_index("addr_id").sort_index()
    t = zonal.zonal_stats(pts, dem, 100.0, include="touched").toPandas() \
        .set_index("addr_id").sort_index()
    both = c.join(t, lsuffix="_c", rsuffix="_t")
    live = both[both.pixel_count_c > 0]
    assert (live.pixel_count_t >= live.pixel_count_c).all()
    assert (live.pixel_count_t > live.pixel_count_c).any()
    assert (live.stat_min_t <= live.stat_min_c).all()
    assert (live.stat_max_t >= live.stat_max_c).all()
    for addr, x, y in rows:
        for got, touched in ((c, False), (t, True)):
            exp = _mosaic_stats(m, m.arr, x, y, 100.0, touched=touched)
            for k, col in (("min", "stat_min"), ("max", "stat_max"),
                           ("med", "stat_med"),
                           ("pixel_count", "pixel_count")):
                assert got.loc[addr, col] == exp[k], f"{addr} {col}"


def test_polygon_cover_refuses_clipped_padded(spark):
    """A clipped cover is PIP-only: pad-band cells clip to nothing, so
    a distance join over it silently loses matches — refuse loudly."""
    polys = spark.createDataFrame(pd.DataFrame({
        "veg_id": ["A"], "bal_number": [29],
        "wkt": ["POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"]}))
    with pytest.raises(ValueError, match="PIP-only"):
        joins.polygon_cover(polys, pad_m=150.0, clip=True).count()


def test_null_bal_number_survives_cover_and_refine(spark):
    """A malformed source token parses to NULL bal_number; the cover
    build and every refine UDF must carry it as null — not crash on
    int(NaN), not corrupt it to INT64_MIN."""
    polys = spark.createDataFrame(pd.DataFrame({
        "veg_id": ["A", "B"],
        "bal_number": pd.array([29, None], dtype="Int64"),
        "wkt": ["POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))",
                "POLYGON ((200 0, 300 0, 300 100, 200 100, 200 0))"]}))
    pts = spark.createDataFrame(pd.DataFrame({
        "addr_id": ["a", "b"], "x": [50.0, 250.0], "y": [50.0, 50.0]}))
    got = joins.pip_join(pts, polys).orderBy("addr_id").toPandas()
    assert list(got.addr_id) == ["a", "b"]
    assert got.bal_number.iloc[0] == 29
    assert pd.isna(got.bal_number.iloc[1])
    knn = joins.knn_join(pts, polys).orderBy("addr_id").toPandas()
    assert pd.isna(knn.set_index("veg_id").bal_number.loc["B"])


def test_knn_rejects_nonpositive_max_ring(spark):
    pts = spark.createDataFrame(pd.DataFrame({
        "addr_id": ["a"], "x": [0.0], "y": [0.0]}))
    polys = spark.createDataFrame(pd.DataFrame({
        "veg_id": ["A"], "bal_number": [1],
        "wkt": ["POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"]}))
    with pytest.raises(ValueError, match="max_ring"):
        joins.knn_join(pts, polys, max_ring=0)
