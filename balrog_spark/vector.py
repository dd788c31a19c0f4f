"""Vector operators (Gen-2 surface): buffer, explode, validity, subdivide,
dissolve.

All operators take/return WKT string columns (the reference's interchange
format, reference: data_prep/vegetation/04_merge_geometries.py:149,217) and
run batched numpy geometry inside mapInPandas/applyInPandas — no per-row
Python outside the Arrow batches, no GEOS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from . import cells, geometry


def buffer_points(points: DataFrame, radius_m: float, quad_segs: int = 4,
                  id_col: str = "addr_id") -> DataFrame:
    """V1 point buffers: (id, wkt) circular polygons, quad_segs per quadrant
    (reference: data_prep/gnaf/create_buffered_points.sql:10)."""
    schema = StructType([StructField("addr_id", StringType(), False),
                         StructField("wkt", StringType(), False)])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=["addr_id", "wkt"])
                continue
            rings = geometry.buffer_points_vec(pdf.x.values, pdf.y.values,
                                               radius_m, quad_segs)
            yield pd.DataFrame({
                "addr_id": pdf[id_col].astype(str).values,
                "wkt": [geometry.polygon_wkt(r) for r in rings]})

    return points.mapInPandas(gen, schema=schema)


def buffer_points_geodesic(points: DataFrame, radius_m: float,
                           quad_segs: int = 4,
                           id_col: str = "addr_id") -> DataFrame:
    """V1 geography buffers: per-point GEODESIC circle vertices via the
    spherical direct problem — the st_buffer(geography, r, quad_segs)
    analogue (reference: data_prep/gnaf/create_buffered_points.sql:10
    buffers geography, not planar). Input columns (id, lon, lat) degrees;
    output one row per vertex (addr_id, vtx, lon, lat) so downstream ops
    stay columnar."""
    from . import geodesy
    n = max(int(quad_segs) * 4, 4)
    schema = StructType([
        StructField("addr_id", StringType(), False),
        StructField("vtx", IntegerType(), False),
        StructField("lon", DoubleType(), False),
        StructField("lat", DoubleType(), False)])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=[f.name for f in schema])
                continue
            ids = np.repeat(pdf[id_col].astype(str).values, n)
            vtx = np.tile(np.arange(n, dtype=np.int32), len(pdf))
            lon0 = np.repeat(pdf.lon.values, n)
            lat0 = np.repeat(pdf.lat.values, n)
            bearings = np.tile(360.0 * np.arange(n) / n, len(pdf))
            lon2, lat2 = geodesy.spherical_destination(
                lon0, lat0, bearings, radius_m)
            yield pd.DataFrame({"addr_id": ids, "vtx": vtx,
                                "lon": lon2, "lat": lat2})

    return points.mapInPandas(gen, schema=schema)


def explode_multipolygon(polys: DataFrame, id_col: str = "veg_id",
                         wkt_col: str = "wkt") -> DataFrame:
    """V2 multipolygon explode + V7 per-part area (reference:
    data_prep/vegetation/03_explode_multipolygons_and_classify.sql:5-9)."""
    schema = StructType([
        StructField("veg_id", StringType(), False),
        StructField("part_idx", IntegerType(), False),
        StructField("part_wkt", StringType(), False),
        StructField("area_m2", DoubleType(), False)])

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                for i, rings in enumerate(
                        geometry.parse_wkt_polys(getattr(r, wkt_col))):
                    rows.append({
                        "veg_id": str(getattr(r, id_col)), "part_idx": i,
                        "part_wkt": geometry.polygon_wkt_rings(rings),
                        "area_m2": geometry.polygon_area(rings)})
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return polys.mapInPandas(gen, schema=schema)


def validity_flags(polys: DataFrame, id_col: str = "veg_id",
                   wkt_col: str = "wkt") -> DataFrame:
    """V3 validity check (>=3 distinct vertices, non-zero area — the
    engine's st_isvalid stand-in, reference: 03_explode...sql:17-18)."""
    schema = StructType([StructField("veg_id", StringType(), False),
                         StructField("is_valid", IntegerType(), False)])

    def gen(batches):
        for pdf in batches:
            rows = [{"veg_id": str(getattr(r, id_col)),
                     "is_valid": int(all(
                         geometry.ring_is_valid(g)
                         for poly in
                         geometry.parse_wkt_polys(getattr(r, wkt_col))
                         for g in poly))}
                    for r in pdf.itertuples()]
            yield pd.DataFrame(rows, columns=["veg_id", "is_valid"])

    return polys.mapInPandas(gen, schema=schema)


def subdivide(polys: DataFrame, cell_m: float = cells.DEFAULT_CELL_M,
              id_col: str = "veg_id", wkt_col: str = "wkt") -> DataFrame:
    """V8 polygon subdivision along grid-cell boundaries — bounds per-row
    UDF cost and kills polygon-size skew (the engine's st_subdivide,
    reference: 03_explode...sql:66-75)."""
    schema = StructType([
        StructField("veg_id", StringType(), False),
        StructField("cell_id", LongType(), False),
        StructField("piece_wkt", StringType(), False),
        StructField("piece_area", DoubleType(), False)])

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                for rings in geometry.parse_wkt_polys(getattr(r, wkt_col)):
                    xmin, ymin, xmax, ymax = geometry.bbox(rings[0])
                    gx0 = int(np.floor(xmin / cell_m))
                    gx1 = int(np.floor(xmax / cell_m))
                    gy0 = int(np.floor(ymin / cell_m))
                    gy1 = int(np.floor(ymax / cell_m))
                    for gx in range(gx0, gx1 + 1):
                        for gy in range(gy0, gy1 + 1):
                            ext = geometry.clip_ring_to_box(
                                rings[0], gx * cell_m, gy * cell_m,
                                (gx + 1) * cell_m, (gy + 1) * cell_m)
                            if len(ext) < 3:
                                continue
                            piece = [ext]
                            for hole in rings[1:]:
                                hp = geometry.clip_ring_to_box(
                                    hole, gx * cell_m, gy * cell_m,
                                    (gx + 1) * cell_m, (gy + 1) * cell_m)
                                if len(hp) >= 3 \
                                        and geometry.ring_area(hp) > 0:
                                    piece.append(hp)
                            a = geometry.polygon_area(piece)
                            if a > 0:
                                rows.append({
                                    "veg_id": str(getattr(r, id_col)),
                                    "cell_id": int(cells.pack(gx, gy)),
                                    "piece_wkt":
                                        geometry.polygon_wkt_rings(piece),
                                    "piece_area": a})
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return polys.mapInPandas(gen, schema=schema)


def introspect(polys: DataFrame, id_col: str = "veg_id",
               wkt_col: str = "wkt") -> DataFrame:
    """V4 geometry introspection — st_geometrytype / st_numgeometries /
    st_npoints / ring count as PURE COLUMN string math over canonical WKT
    (no UDF; identical SQL runs on the oracle). Reference usage:
    data_prep/vegetation/03_explode_multipolygons_and_classify.sql:16,25.

    Counting contract (canonical ``", "``-separated WKT):
      n_geoms  = 1, or for MULTIPOLYGON 1 + occurrences of ``)), ((``;
      n_rings  = opening parens - 1 (POLYGON), - 1 - n_geoms (MULTI),
                 0 for POINT;
      n_points = commas + 1 (listed vertices incl. the closing vertex:
                 every ring/geometry separator costs exactly the comma a
                 vertex boundary would), POINT = 1.
    """
    w = F.col(wkt_col)
    gtype = F.upper(F.regexp_extract(w, r"^\s*([A-Za-z]+)", 1))
    n_open = F.length(w) - F.length(F.regexp_replace(w, r"\(", ""))
    n_commas = F.length(w) - F.length(F.regexp_replace(w, ",", ""))
    n_geoms = F.when(
        gtype == "MULTIPOLYGON",
        (F.length(w) - F.length(F.replace(w, F.lit(")), ((")))) / 6 + 1
    ).otherwise(F.lit(1)).cast("long")
    # parens: POLYGON -> 1 + n_rings; MULTIPOLYGON -> 1 + n_geoms + n_rings
    n_rings = F.when(gtype == "POINT", F.lit(0)) \
        .when(gtype == "MULTIPOLYGON", n_open - 1 - n_geoms) \
        .otherwise(n_open - 1).cast("long")
    n_points = (n_commas + 1).cast("long")
    return polys.select(
        F.col(id_col).alias("veg_id"),
        gtype.alias("geom_type"),
        n_geoms.alias("n_geoms"),
        n_rings.alias("n_rings"),
        n_points.alias("n_points"))


def make_valid(polys: DataFrame, id_col: str = "veg_id",
               wkt_col: str = "wkt") -> DataFrame:
    """V3 repair (st_makevalid): drop duplicate vertices, split
    self-crossing rings into simple parts, report the repaired geometry.
    ``area_m2`` is the area of the UNION of repaired parts (the 'filled'
    make_valid semantics — winding >= 2 regions counted once), holes of the
    source polygon subtracted. Output: (veg_id, was_valid, n_parts,
    area_m2, wkt|NULL-when-empty)."""
    schema = StructType([
        StructField("veg_id", StringType(), False),
        StructField("was_valid", IntegerType(), False),
        StructField("n_parts", IntegerType(), False),
        StructField("area_m2", DoubleType(), False),
        StructField("wkt", StringType(), True)])

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                src = geometry.parse_wkt_polys(getattr(r, wkt_col))
                was_valid = int(all(
                    geometry.ring_is_valid(g)
                    and geometry._first_self_intersection(
                        geometry._dedup_ring(np.asarray(g))) is None
                    for poly in src for g in poly))
                fixed = []   # repaired exterior parts
                holes = []   # repaired holes (subtracted from the union)
                for poly in src:
                    fixed.extend([p] for p in
                                 geometry.make_valid_ring(poly[0]))
                    for h in poly[1:]:
                        holes.extend([p] for p in
                                     geometry.make_valid_ring(h))
                area = geometry.union_area(fixed) if fixed else 0.0
                if holes:
                    area -= geometry.union_area(holes)
                rows.append({
                    "veg_id": str(getattr(r, id_col)),
                    "was_valid": was_valid,
                    "n_parts": len(fixed),
                    "area_m2": area,
                    "wkt": geometry.multipolygon_wkt_polys(fixed)
                    if fixed else None})
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return polys.mapInPandas(gen, schema=schema)


def dissolve_union(polys: DataFrame, class_col: str = "bal_number",
                   cell_m: float = 1600.0, id_col: str = "veg_id",
                   wkt_col: str = "wkt") -> DataFrame:
    """TRUE geometric dissolve (st_union semantics): per-class area of the
    UNION of possibly-overlapping polygons, vs the naive part-sum
    (reference: 03_explode_multipolygons_and_classify.sql:36-58 st_union,
    04_merge_geometries.py:129-205).

    Plan shape (partial/final, one shuffle each):
      1. clip every polygon to grid cells (bounded per-piece size — V8);
      2. per (class, cell): exact union area of the cell's pieces via the
         slab sweep (:func:`geometry.union_area`) — cells partition the
         plane, so union area decomposes exactly across cells;
      3. per class: sum cell partials.
    Output: (bal_number, n_src, union_area_m2, naive_area_m2);
    union < naive exactly where inputs overlap.
    """
    src = polys.select(F.col(class_col).alias("cls_tag"),
                       F.col(id_col).alias(id_col),
                       F.col(wkt_col).alias("wkt")) \
        .withColumn("veg_id",
                    F.concat_ws("|", F.col("cls_tag").cast("string"),
                                F.col(id_col).cast("string")))
    # single-file parquet scans are 1 partition; the clip UDF must not run
    # on one core
    npart = polys.sparkSession.sparkContext.defaultParallelism
    pieces = subdivide(src.repartition(npart, "veg_id"), cell_m=cell_m)
    split = F.split(F.col("veg_id"), r"\|")
    pieces = pieces.select(
        split.getItem(0).cast("long").alias("cls"),
        split.getItem(1).alias("src_id"),
        "cell_id", "piece_wkt", "piece_area")

    part_schema = StructType([
        StructField("cls", LongType(), False),
        StructField("cell_id", LongType(), False),
        StructField("ua", DoubleType(), False),
        StructField("na", DoubleType(), False)])

    # batch (cls, cell) groups by 8x8-cell supercells — applyInPandas pays
    # ~ms per GROUP in Arrow stream overhead (and AQE may coalesce the tiny
    # shuffle onto one task), so per-cell groups don't amortize; cells are
    # iterated inside the batch
    def cell_union(key, pdf):
        rows = []
        for (cls, cell), grp in pdf.groupby(["cls", "cell_id"],
                                            sort=False):
            polys_rings = [geometry.parse_wkt_polys(w)[0]
                           for w in grp.piece_wkt.values]
            rows.append({
                "cls": int(cls), "cell_id": int(cell),
                "ua": geometry.union_area(polys_rings),
                "na": float(grp.piece_area.sum())})
        return pd.DataFrame(rows, columns=[f.name for f in part_schema])

    scx = F.floor(F.col("cell_id") / F.lit((1 << 20) * 8))
    scy = F.floor(F.pmod(F.col("cell_id"), F.lit(1 << 20)) / F.lit(8))
    partials = pieces.groupBy(
        "cls", scx.alias("_sx"), scy.alias("_sy")
    ).applyInPandas(cell_union, schema=part_schema)
    # n_src from the INPUT side (one cheap aggregate) — deriving it from
    # `pieces` would re-execute the whole subdivide UDF a second time
    srcs = polys.groupBy(F.col(class_col).cast("long").alias("cls")).agg(
        F.countDistinct(id_col).alias("n_src"))
    return (partials.groupBy("cls")
            .agg(F.sum("ua").alias("union_area_m2"),
                 F.sum("na").alias("naive_area_m2"))
            .join(srcs, "cls")
            .select(F.col("cls").alias("bal_number"), "n_src",
                    "union_area_m2", "naive_area_m2"))
