"""All-intersecting-polygons BAL factors (the reference's full Auto BAL
Assessment fan-out): ONE OUTPUT ROW PER (address buffer ∩ vegetation
polygon part), not just the k=1 nearest polygon.

Reference lifecycle (data_prep/vegetation/xx_fiona_testing.py:133-150):
buffer the address point, filter vegetation by the buffer, clip each
intersecting polygon to the buffer (``buffer.intersection(veg_geom)``),
explode MultiPolygon fallout, then per clipped polygon
(xx_fiona_testing.py:203-221): nearest-point distance + azimuth + evidence
LineString, and per-polygon zonal median aspect/slope. Output schema
mirrors data_prep/vegetation/05_create_tables.sql:7-18 (gid, bal_number,
area_m2, azimuth, distance_m, aspect, slope, geom, line_geom).

Engine shape (Spark-first):

1. candidate pairs via the dwithin cover equi-join (radius-padded cell
   cover, broadcast or shuffle by byte estimate — joins._join_cover);
2. ONE mapInPandas pass per candidate batch does the geometry: convex
   Sutherland-Hodgman clip of every polygon part (+holes) against the
   address's buffer polygon (geometry.clip_polys_to_convex), exact area,
   nearest point / distance / azimuth / line WKT, clip WKT + bbox columns;
3. per-clip zonal medians run through zonal.zonal_stats_poly — the bbox
   columns keep its tile join and window crop in codegen, the shuffle
   ships cropped windows only.

Distance semantics follow shapely nearest_points on the CLIPPED geometry:
0 (and azimuth 0, degenerate line) when the address point lies inside the
clipped polygon — the reference's documented behaviour
(xx_fiona_testing.py:216 "will return distance, bearing = 0 when
coordinates are in vegetation").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from . import cells, geometry, joins

VEG_FACTORS_SCHEMA = StructType([
    StructField("addr_id", StringType(), False),
    StructField("veg_id", StringType(), False),
    StructField("bal_number", LongType(), True),
    StructField("part_idx", LongType(), False),
    StructField("area_m2", DoubleType(), False),
    StructField("distance_m", DoubleType(), False),
    StructField("azimuth_deg", DoubleType(), False),
    StructField("near_x", DoubleType(), False),
    StructField("near_y", DoubleType(), False),
    StructField("xmin", DoubleType(), False),
    StructField("ymin", DoubleType(), False),
    StructField("xmax", DoubleType(), False),
    StructField("ymax", DoubleType(), False),
    StructField("clip_wkt", StringType(), False),
    StructField("line_wkt", StringType(), False),
])


def veg_factors(points: DataFrame, polys: DataFrame,
                radius_m: float = 100.0,
                quad_segs: int = 4,
                broadcast_cover: bool | None = None) -> DataFrame:
    """One row per (point buffer ∩ polygon part) with clip geometry, exact
    clipped area, nearest-point distance/azimuth and the evidence
    LineString. ``points``: (addr_id, x, y); ``polys``: (veg_id,
    bal_number, wkt). Pairs whose clip is empty produce no row (the
    reference's fiona filter is bbox-based and its intersection may be
    empty; only real intersections reach the output table).

    The buffer is the engine's quad_segs-per-quadrant polygonal circle
    (geometry.buffer_point), the same construction as the reference's
    st_buffer(geography, r, 4) buffers (reference:
    data_prep/gnaf/create_buffered_points.sql:10).

    MultiPolygon fallout: one row per SOURCE part whose clip is non-empty
    (part_idx). Clip exactness: convex hole-free parts take the
    Sutherland-Hodgman fast path (exact for convex subjects); concave or
    holed parts dispatch to the exact slab clip
    (geometry.clip_polys_general), so a disconnected intersection emits
    a correct MULTIPOLYGON clip with exact area and distance — one row
    per source part either way."""
    cover = joins._join_cover(polys, cells.DEFAULT_CELL_M,
                              broadcast_cover, pad_m=radius_m)[0]
    cand = joins._spread(joins.with_cell(points)).join(cover, "cell_id")
    cols = [f.name for f in VEG_FACTORS_SCHEMA]

    # nearest-point reuse bound: a source-part nearest point STRICTLY
    # inside the buffer polygon's inradius is on the clip's boundary too,
    # so the vectorized per-part distance IS the clip distance there; only
    # the thin annulus band [inradius, radius] needs the exact per-piece
    # fallback
    inradius = radius_m * float(np.cos(np.pi / (4 * max(quad_segs, 1)))) \
        - 1e-9

    def refine(batches):
        for pdf in batches:
            out = {c: [] for c in cols}
            for wkt, grp in pdf.groupby("wkt", sort=False):
                parts = joins._geom_of(wkt)
                xs, ys = grp.x.values, grp.y.values
                addr = grp.addr_id.values
                vid = grp.veg_id.values
                bal = grp.bal_number.values
                # per-part geometry VECTORIZED over the whole candidate
                # group (the padded cover join admits ~cell_m-scale
                # neighbours; only true within-radius pairs can clip
                # non-empty since the buffer polygon is inscribed in the
                # radius circle): the per-pair Python clip below then runs
                # only on real intersections
                pre = []
                keep = np.zeros(len(grp), dtype=bool)
                # convexity is a property of the PART, not the pair —
                # decide the clip dispatch once per part, never inside
                # the per-point loop
                part_convex = [
                    len(rings) == 1 and geometry.ring_is_convex(rings[0])
                    for rings in parts]
                for rings in parts:
                    d, nx, ny = geometry.points_to_polygon_distance(
                        xs, ys, rings)
                    ins = geometry.points_in_polygon(xs, ys, rings)
                    pre.append((d, nx, ny, ins))
                    keep |= ins | (d <= radius_m)
                for k in np.nonzero(keep)[0]:
                    x, y = float(xs[k]), float(ys[k])
                    buf = geometry.buffer_point(x, y, radius_m, quad_segs)
                    for pi, rings in enumerate(parts):
                        d_p, nx_p, ny_p, ins_p = pre[pi]
                        if not ins_p[k] and d_p[k] > radius_m:
                            continue  # this part cannot reach the buffer
                        # SH is exact only for CONVEX subjects (convex ∩
                        # convex stays one convex piece); a concave or
                        # holed part whose buffer intersection is
                        # disconnected would get bridged wrong by SH, so
                        # those dispatch to the exact slab clip
                        if part_convex[pi]:
                            pieces = geometry.clip_polys_to_convex(
                                [rings], buf)
                        else:
                            pieces = geometry.clip_polys_general(
                                [rings], [[buf]])
                        if not pieces:
                            continue
                        area = sum(geometry.polygon_area(p)
                                   for p in pieces)
                        if area <= 0.0:
                            continue
                        if ins_p[k]:
                            d, nx, ny, az = 0.0, x, y, 0.0
                        elif d_p[k] < inradius:
                            d, nx, ny = float(d_p[k]), float(nx_p[k]), \
                                float(ny_p[k])
                            az = float(geometry.azimuth_deg(x, y, nx, ny))
                        else:  # annulus band: exact distance to the clip
                            dd, nxa, nya = \
                                geometry.points_to_geom_distance(
                                    np.array([x]), np.array([y]), pieces)
                            d, nx, ny = float(dd[0]), float(nxa[0]), \
                                float(nya[0])
                            az = float(geometry.azimuth_deg(x, y, nx, ny))
                        boxes = [geometry.bbox(p[0]) for p in pieces]
                        bx0 = min(b[0] for b in boxes)
                        by0 = min(b[1] for b in boxes)
                        bx1 = max(b[2] for b in boxes)
                        by1 = max(b[3] for b in boxes)
                        out["addr_id"].append(addr[k])
                        out["veg_id"].append(vid[k])
                        b = bal[k]
                        out["bal_number"].append(
                            None if b is None or pd.isna(b)
                            else int(b))
                        out["part_idx"].append(pi)
                        out["area_m2"].append(area)
                        out["distance_m"].append(d)
                        out["azimuth_deg"].append(az)
                        out["near_x"].append(nx)
                        out["near_y"].append(ny)
                        out["xmin"].append(bx0)
                        out["ymin"].append(by0)
                        out["xmax"].append(bx1)
                        out["ymax"].append(by1)
                        out["clip_wkt"].append(
                            geometry.polygon_wkt_rings(pieces[0])
                            if len(pieces) == 1 else
                            geometry.multipolygon_wkt_polys(pieces))
                        out["line_wkt"].append(
                            "LINESTRING (%.6f %.6f, %.6f %.6f)"
                            % (x, y, nx, ny))
            yield pd.DataFrame(
                {c: (pd.array(v, dtype="Int64")
                     if c == "bal_number" else v)
                 for c, v in out.items()}, columns=cols)

    return cand.mapInPandas(refine, schema=VEG_FACTORS_SCHEMA)
