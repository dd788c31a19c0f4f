"""Interior-ring (hole) geometry + non-broadcast cover join paths.

Holes: real NVIS vegetation polygons are holed (reference:
data_prep/vegetation/03_explode_multipolygons_and_classify.sql:5-9); a point
inside a hole must NOT PIP-match and distances must measure to hole rings.

Cover strategy: pip/dwithin/knn must produce identical results with the cover
broadcast (small layers) and shuffle-joined (9.4M-polygon scale path, with
the PIP cover cell-clipped so per-cell bytes stay bounded).
"""

import numpy as np
import pandas as pd
import pytest

from balrog_spark import geometry, joins


def _holed_wkt(cx, cy, hw, hh, hx, hy):
    ext = [(cx - hw, cy - hh), (cx + hw, cy - hh), (cx + hw, cy + hh),
           (cx - hw, cy + hh), (cx - hw, cy - hh)]
    hole = [(cx - hx, cy - hy), (cx + hx, cy - hy), (cx + hx, cy + hy),
            (cx - hx, cy + hy), (cx - hx, cy - hy)]
    def ring(r):
        return "(" + ", ".join(f"{x} {y}" for x, y in r) + ")"
    return f"POLYGON ({ring(ext)}, {ring(hole)})"


def test_parse_wkt_polys_keeps_holes():
    w = _holed_wkt(0, 0, 10, 10, 4, 4)
    polys = geometry.parse_wkt_polys(w)
    assert len(polys) == 1 and len(polys[0]) == 2
    assert geometry.polygon_area(polys[0]) == pytest.approx(400 - 64)
    # exterior-only compat view
    assert len(geometry.parse_wkt(w)) == 1


def test_multipolygon_with_holes_roundtrip():
    polys = [
        [np.array([[0., 0.], [10., 0.], [10., 10.], [0., 10.]]),
         np.array([[2., 2.], [4., 2.], [4., 4.], [2., 4.]])],
        [np.array([[20., 0.], [30., 0.], [30., 10.], [20., 10.]])],
    ]
    w = geometry.multipolygon_wkt_polys(polys)
    back = geometry.parse_wkt_polys(w)
    assert len(back) == 2
    assert len(back[0]) == 2 and len(back[1]) == 1
    assert geometry.polygon_area(back[0]) == pytest.approx(96)


def test_points_in_polygon_even_odd():
    poly = geometry.parse_wkt_polys(_holed_wkt(0, 0, 10, 10, 4, 4))[0]
    px = np.array([0.0, 6.0, 11.0, 3.9, 4.1])
    py = np.array([0.0, 0.0, 0.0, 0.0, 0.0])
    got = geometry.points_in_polygon(px, py, poly)
    # centre is inside the hole -> outside; 6 is between rings -> inside
    assert got.tolist() == [False, True, False, False, True]


def test_polygon_distance_counts_hole_rings():
    poly = geometry.parse_wkt_polys(_holed_wkt(0, 0, 10, 10, 4, 4))[0]
    px = np.array([0.0, 6.0, 13.0])
    py = np.array([0.0, 0.0, 0.0])
    d, nx, ny = geometry.points_to_polygon_distance(px, py, poly)
    # centre: nearest boundary is the hole ring at 4
    assert d[0] == pytest.approx(4.0)
    # between rings: min(dist-to-hole=2, dist-to-ext=4) = 2
    assert d[1] == pytest.approx(2.0)
    assert d[2] == pytest.approx(3.0)


def _rng_points(n, lo, hi, seed):
    rng = np.random.default_rng(seed)
    return rng.uniform(lo, hi, size=(n, 2))


def test_holed_pip_dwithin_bruteforce_spark(spark):
    rng = np.random.default_rng(7)
    polys = []
    for i in range(6):
        cx, cy = rng.uniform(100, 900, 2)
        hw, hh = rng.uniform(40, 120, 2)
        hx, hy = hw * 0.5, hh * 0.5
        polys.append({"veg_id": f"{i:03d}", "bal_number": i + 1,
                      "wkt": _holed_wkt(cx, cy, hw, hh, hx, hy),
                      "geom": [cx, cy, hw, hh, hx, hy]})
    pts = _rng_points(400, 0, 1000, 11)
    pdf_pts = pd.DataFrame({"addr_id": [f"{i:04d}" for i in range(len(pts))],
                            "x": pts[:, 0], "y": pts[:, 1]})
    sp = spark.createDataFrame(pdf_pts)
    sv = spark.createDataFrame(
        pd.DataFrame([{k: p[k] for k in ("veg_id", "bal_number", "wkt")}
                      for p in polys]))

    def brute(radius=None):
        exp = set()
        for p in polys:
            cx, cy, hw, hh, hx, hy = p["geom"]
            dx = np.abs(pts[:, 0] - cx)
            dy = np.abs(pts[:, 1] - cy)
            in_ext = (dx < hw) & (dy < hh)
            in_hole = (dx < hx) & (dy < hy)
            inside = in_ext & ~in_hole
            if radius is None:
                for aid in pdf_pts.addr_id.values[inside]:
                    exp.add((aid, p["veg_id"]))
            else:
                d_out = np.hypot(np.maximum(dx - hw, 0),
                                 np.maximum(dy - hh, 0))
                d_hole = np.minimum(hx - dx, hy - dy)
                d = np.where(inside, 0.0, np.where(in_hole, d_hole, d_out))
                for aid in pdf_pts.addr_id.values[d <= radius]:
                    exp.add((aid, p["veg_id"]))
        return exp

    for bc in (True, False):
        got = joins.pip_join(sp, sv, broadcast_cover=bc).toPandas()
        assert set(zip(got.addr_id, got.veg_id)) == brute(), f"bc={bc}"
        got = joins.dwithin_join(sp, sv, 80.0, broadcast_cover=bc).toPandas()
        assert set(zip(got.addr_id, got.veg_id)) == brute(80.0), f"bc={bc}"


def test_knn_broadcast_vs_shuffle_identical(spark):
    rng = np.random.default_rng(3)
    polys = []
    for i in range(5):
        cx, cy = rng.uniform(200, 1800, 2)
        hw, hh = rng.uniform(30, 90, 2)
        polys.append({"veg_id": f"{i:03d}", "bal_number": i + 1,
                      "wkt": _holed_wkt(cx, cy, hw, hh, hw / 2, hh / 2)})
    pts = _rng_points(120, 0, 2000, 5)
    sp = spark.createDataFrame(
        pd.DataFrame({"addr_id": [f"{i:04d}" for i in range(len(pts))],
                      "x": pts[:, 0], "y": pts[:, 1]}))
    sv = spark.createDataFrame(pd.DataFrame(polys))
    a = joins.knn_join(sp, sv, broadcast_cover=True).toPandas() \
        .sort_values("addr_id").reset_index(drop=True)
    b = joins.knn_join(sp, sv, broadcast_cover=False).toPandas() \
        .sort_values("addr_id").reset_index(drop=True)
    assert len(a) == len(pts)
    pd.testing.assert_frame_equal(a, b)


def test_clipped_cover_pip_matches_full_cover(spark):
    """The cell-clipped (scale-path) cover must agree with the full-WKT
    broadcast cover on a polygon that spans many cells."""
    big = _holed_wkt(500, 500, 450, 450, 200, 200)  # spans 3x3 cells at 400m
    sv = spark.createDataFrame(
        pd.DataFrame([{"veg_id": "big", "bal_number": 1, "wkt": big}]))
    pts = _rng_points(500, 0, 1000, 17)
    sp = spark.createDataFrame(
        pd.DataFrame({"addr_id": [f"{i:04d}" for i in range(len(pts))],
                      "x": pts[:, 0], "y": pts[:, 1]}))
    a = joins.pip_join(sp, sv, broadcast_cover=True).toPandas()
    b = joins.pip_join(sp, sv, broadcast_cover=False).toPandas()
    assert set(a.addr_id) == set(b.addr_id)
    dx = np.abs(pts[:, 0] - 500)
    dy = np.abs(pts[:, 1] - 500)
    exp = ((dx < 450) & (dy < 450)) & ~((dx < 200) & (dy < 200))
    assert set(a.addr_id) == {f"{i:04d}" for i in np.nonzero(exp)[0]}


def _box_wkt(x1, y1, x2, y2):
    return (f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, "
            f"{x1} {y2}, {x1} {y1}))")


def _rect_nearest(pts, boxes):
    """Expected nearest box per point: exact rectangle distance."""
    exp = {}
    for i, (px, py) in enumerate(pts):
        best = None
        for b in boxes:
            dx = max(b["x1"] - px, 0.0, px - b["x2"])
            dy = max(b["y1"] - py, 0.0, py - b["y2"])
            d = float(np.hypot(dx, dy))
            key = (d, b["veg_id"])
            if best is None or key < best:
                best = key
        exp[f"{i:04d}"] = best
    return exp


def _far_fixture(spark):
    """Vegetation clustered in one corner, addresses ~10 km away: every
    point starves a max_ring=1 budget and lands in the straggler machinery
    (ring doubling needs ~5 rounds at 400 m cells before anything is in
    range)."""
    boxes = []
    rng = np.random.default_rng(11)
    for i in range(6):
        x1, y1 = rng.uniform(0, 600, 2)
        w, h = rng.uniform(40, 160, 2)
        boxes.append({"veg_id": f"{i:03d}", "bal_number": i + 1,
                      "x1": x1, "y1": y1, "x2": x1 + w, "y2": y1 + h})
    pts = np.column_stack([rng.uniform(9_000, 11_000, 25),
                           rng.uniform(9_000, 11_000, 25)])
    sp = spark.createDataFrame(pd.DataFrame(
        {"addr_id": [f"{i:04d}" for i in range(len(pts))],
         "x": pts[:, 0], "y": pts[:, 1]}))
    sv = spark.createDataFrame(pd.DataFrame(
        [{"veg_id": b["veg_id"], "bal_number": b["bal_number"],
          "wkt": _box_wkt(b["x1"], b["y1"], b["x2"], b["y2"])}
         for b in boxes]))
    return sp, sv, _rect_nearest(pts, boxes)


def test_knn_straggler_ring_doubling_resolves_far_points(spark, monkeypatch):
    """Verdict corner: ring exhaustion on a NON-broadcast cover must not
    broadcast the polygon set. With the direct-pass threshold pinned to 0
    the engine may ONLY use column-generated ring doubling — it must still
    terminate and match the exact rectangle-distance answer. At k=3 every
    point stays pending until the ring reaches the farthest cover corner,
    which resolves them all: rows equal the direct run's."""
    sp, sv, exp = _far_fixture(spark)
    direct3 = joins.knn_join(sp, sv, k=3).toPandas()
    monkeypatch.setattr(joins, "STRAGGLER_DIRECT_MAX", 0)
    got = joins.knn_join(sp, sv, max_ring=1,
                         broadcast_cover=False).toPandas()
    assert len(got) == len(exp)
    for r in got.itertuples():
        ed, ev = exp[r.addr_id]
        assert r.veg_id == ev and abs(r.distance_m - ed) < 1e-9

    got3 = joins.knn_join(sp, sv, max_ring=1, broadcast_cover=False,
                          k=3).toPandas()
    assert len(direct3) == 3 * len(exp)

    def canon(df):
        return df.sort_values(["addr_id", "nn_rank"]).reset_index(drop=True)

    pd.testing.assert_frame_equal(canon(got3), canon(direct3))


def test_knn_straggler_cross_pass_broadcasts_points_not_polygons(spark):
    """The final exact pass cross-joins with the POINT side broadcast and
    polygon partitions streamed (never a full-polygon broadcast). Forced
    here by max_ring=1 + far points + a shuffle cover."""
    sp, sv, exp = _far_fixture(spark)
    got = joins.knn_join(sp, sv, max_ring=1,
                         broadcast_cover=False).toPandas()
    assert len(got) == len(exp)
    for r in got.itertuples():
        ed, ev = exp[r.addr_id]
        assert r.veg_id == ev and abs(r.distance_m - ed) < 1e-9


def test_knn_doubling_annulus_clamped_to_cover_bbox(spark):
    """Verdict corner: the ring-doubling annulus must be clamped to the
    cover's cell bbox — a point 100k cells from a 3x3-cell cover at
    r=131072 would otherwise generate ~5e10 offset rows; clamped it may
    generate at most the 3x3 cover window."""
    # one point at cell (0, 0); cover bbox three cells wide starting
    # 100_000 cells east
    cell_id = (0 + (1 << 19)) * (1 << 20) + (0 + (1 << 19))
    pts = spark.createDataFrame(
        [("p0", 0.5, 0.5, cell_id)], "addr_id string, x double, y double, "
        "cell_id long")

    class B:
        gx0 = (1 << 19) + 100_000
        gx1 = (1 << 19) + 100_002
        gy0 = (1 << 19)
        gy1 = (1 << 19) + 2

    r, prev = 131072, 65536
    ann = joins._clamped_annulus(pts, r, prev, B).toPandas()
    assert len(ann) == 9  # the whole 3x3 cover window, nothing more
    exp = {(0 + (1 << 19) + 100_000 + dx) * (1 << 20) + (1 << 19) + dy
           for dx in range(3) for dy in range(3)}
    assert set(ann.probe_cell) == exp
    # annulus filter still applies: offsets at or inside prev are excluded
    B2 = type("B2", (), {"gx0": (1 << 19), "gx1": (1 << 19) + 2,
                         "gy0": (1 << 19), "gy1": (1 << 19) + 2})
    near = joins._clamped_annulus(pts, r, prev, B2).toPandas()
    assert len(near) == 0  # everything within prev -> filtered out


def test_knn_empty_cover_returns_empty(spark):
    sp, _, _ = _far_fixture(spark)
    sv = spark.createDataFrame(
        [], "veg_id string, bal_number long, wkt string")
    assert joins.knn_join(sp, sv, max_ring=1).count() == 0


def test_broadcast_threshold_is_byte_based(spark, monkeypatch):
    """Verdict corner: the auto broadcast decision must estimate BYTES
    (rows x mean WKT length), not rows — a cover far under the row cap but
    over the byte cap must take the shuffle path, and that path must agree
    with the forced-broadcast result."""
    rng = np.random.default_rng(5)
    polys = []
    for i in range(8):
        cx, cy = rng.uniform(200, 1800, 2)
        # ~200-vertex ring -> several KB of WKT per row
        ang = np.linspace(0, 2 * np.pi, 201)[:-1]
        rad = 60 + 10 * np.sin(5 * ang)
        ring = ", ".join(f"{cx + rad[k] * np.cos(ang[k]):.6f} "
                         f"{cy + rad[k] * np.sin(ang[k]):.6f}"
                         for k in range(len(ang)))
        first = ring.split(",")[0].strip()
        polys.append({"veg_id": f"{i:03d}", "bal_number": i + 1,
                      "wkt": f"POLYGON (({ring}, {first}))"})
    sv = spark.createDataFrame(pd.DataFrame(polys))
    pts = _rng_points(80, 0, 2000, 9)
    sp = spark.createDataFrame(pd.DataFrame(
        {"addr_id": [f"{i:04d}" for i in range(len(pts))],
         "x": pts[:, 0], "y": pts[:, 1]}))

    cover = joins.polygon_cover(sv)
    assert joins._probe_cover(cover)[1]  # default caps: fits fine
    monkeypatch.setattr(joins, "AUTO_BROADCAST_MAX_COVER_BYTES", 16_000)
    assert not joins._probe_cover(cover)[1]  # rows alone said yes
    # auto now routes to the shuffle/clipped path; results identical
    a = joins.pip_join(sp, sv).toPandas()
    b = joins.pip_join(sp, sv, broadcast_cover=True).toPandas()
    assert set(zip(a.addr_id, a.veg_id)) == set(zip(b.addr_id, b.veg_id))
    d1 = joins.dwithin_join(sp, sv, 120.0).toPandas()
    d2 = joins.dwithin_join(sp, sv, 120.0, broadcast_cover=True).toPandas()
    assert set(zip(d1.addr_id, d1.veg_id)) == set(zip(d2.addr_id, d2.veg_id))
