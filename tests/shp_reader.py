"""Minimal Esri shapefile (.shp) reader — TEST USE ONLY.

Decodes the reference repository's published vector fixtures (masks,
extents and footprints under tests/test_data) so its raster goldens can
be asserted without arcpy/GDAL. The format is publicly documented (Esri
Shapefile Technical Description): a 100-byte big-endian header, then
records of (record number, content length) big-endian + little-endian
shape payloads. Point (1), PolyLine (3) and Polygon (5) are implemented —
the types the fixtures use; anything else raises loudly. Polygon ring
roles follow the spec: clockwise rings are exteriors, counter-clockwise
rings are holes of the preceding exterior.
"""

from __future__ import annotations

import struct

import numpy as np

from balrog_spark import geometry

SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5


def _ring_is_cw(ring: np.ndarray) -> bool:
    x, y = ring[:, 0], ring[:, 1]
    return (np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) < 0


def read_shp_records(path: str):
    """Parse a .shp file -> list of (shape_id, geom_type, wkt)."""
    with open(path, "rb") as f:
        data = f.read()
    if struct.unpack(">i", data[:4])[0] != 9994:
        raise ValueError("not a shapefile")
    file_len = struct.unpack(">i", data[24:28])[0] * 2
    out = []
    p = 100
    while p + 8 <= file_len:
        recno, clen = struct.unpack(">ii", data[p:p + 8])
        p += 8
        body = data[p:p + clen * 2]
        p += clen * 2
        stype = struct.unpack("<i", body[:4])[0]
        if stype == 0:  # null shape
            continue
        if stype == SHAPE_POINT:
            x, y = struct.unpack("<2d", body[4:20])
            out.append((recno, "POINT", f"POINT ({x} {y})"))
            continue
        if stype not in (SHAPE_POLYLINE, SHAPE_POLYGON):
            raise NotImplementedError(f"shape type {stype}")
        nparts, npoints = struct.unpack("<2i", body[36:44])
        parts = struct.unpack(f"<{nparts}i", body[44:44 + 4 * nparts])
        pts = np.frombuffer(body, dtype="<f8",
                            count=npoints * 2,
                            offset=44 + 4 * nparts).reshape(npoints, 2)
        rings = [pts[parts[i]:(parts[i + 1] if i + 1 < nparts
                               else npoints)].copy()
                 for i in range(nparts)]
        if stype == SHAPE_POLYLINE:
            body_w = ", ".join(
                "(" + ", ".join(f"{x} {y}" for x, y in r) + ")"
                for r in rings)
            out.append((recno, "MULTILINESTRING",
                        f"MULTILINESTRING ({body_w})"))
            continue
        # polygon: CW rings are exteriors, CCW rings holes of the current
        # exterior (Esri winding convention)
        polys = []
        for r in rings:
            if _ring_is_cw(r) or not polys:
                polys.append([r])
            else:
                polys[-1].append(r)
        if len(polys) == 1:
            wkt = geometry.polygon_wkt_rings(polys[0])
            gt = "POLYGON"
        else:
            wkt = geometry.multipolygon_wkt_polys(polys)
            gt = "MULTIPOLYGON"
        out.append((recno, gt, wkt))
    return out
