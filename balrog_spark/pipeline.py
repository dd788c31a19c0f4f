"""The per-address BAL classification pipeline — the engine's flagship query.

Shape follows the reference's "Auto BAL Assessment" lifecycle (reference:
data_prep/vegetation/xx_fiona_testing.py:88-172):

    documents -> parse spans -> addresses + vegetation polygons + tile refs
    addresses -> kNN nearest vegetation (distance + bearing)
    addresses -> zonal median slope / aspect (degrees) in the 100 m buffer
    -> effective slope class (downslope only when the terrain's aspect faces
       the vegetation, else the AS 3959 upslope/flat table)
    -> BAL severity via the AS 3959 lookup (broadcast join, pure column ops)

Everything after the kNN/zonal UDF stages is JVM-side: the AS 3959 tables are
broadcast as a 256-row DataFrame and the distance-class bucketing is a CASE
chain — so the classification hot path is whole-stage-codegen'd, exactly the
kind of lookup the reference does per-pixel in Python
(reference: calculate_bal.py:248-297).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import docparse, joins, raster, zonal
from .constants import (BALVAL, FDI_VALUES, NODATA, SLOPE_CODES, THRESH,
                        VEG_CODES, slope_remap, ASPECT_REMAP)

_BIG = 1.0e18  # stand-in for +inf thresholds (never reached by real dists)


def bal_lookup_pdf() -> pd.DataFrame:
    """The dense AS 3959 lookup flattened to rows:
    (fdi, slope_code, veg_code, t1..t4, b1..b5)."""
    rows = []
    for fi, fdi in enumerate(FDI_VALUES):
        for si, s in enumerate(SLOPE_CODES):
            for vi, v in enumerate(VEG_CODES):
                th = [float(t) if np.isfinite(t) else _BIG
                      for t in THRESH[fi, si, vi]]
                bv = [float(b) for b in BALVAL[fi, si, vi]]
                rows.append({"fdi": fdi, "slope_code": int(s),
                             "veg_code": int(v),
                             "t1": th[0], "t2": th[1], "t3": th[2],
                             "t4": th[3],
                             "b1": bv[0], "b2": bv[1], "b3": bv[2],
                             "b4": bv[3], "b5": bv[4]})
    return pd.DataFrame(rows)


# one AS 3959 lookup DataFrame per SparkSession: the 256-row
# createDataFrame costs a driver->JVM roundtrip per call, and chains like
# the directional scan classify four distances back to back
_LK_CACHE: dict = {}


def _bal_lookup_df(spark: SparkSession) -> DataFrame:
    df = _LK_CACHE.get(spark)
    if df is None:
        pdf = bal_lookup_pdf().rename(columns=lambda c: f"lk_{c}")
        df = spark.createDataFrame(pdf)
        _LK_CACHE[spark] = df
    return df


_LK_COLS = ("fdi", "slope_code", "veg_code", "t1", "t2", "t3", "t4",
            "b1", "b2", "b3", "b4", "b5")


def _bal_expr(d, fdi_col: str, veg_col: str):
    """The BAL value expression over a row already joined to the lk_*
    lookup columns: distance-class bucketing, unmatched-lookup fallback
    and the grassland >50 m rule (shared by the single- and
    multi-distance classifiers so they cannot drift)."""
    dist_class = (F.lit(1)
                  + F.when(d >= F.col("lk_t1"), 1).otherwise(0)
                  + F.when(d >= F.col("lk_t2"), 1).otherwise(0)
                  + F.when(d >= F.col("lk_t3"), 1).otherwise(0)
                  + F.when(d >= F.col("lk_t4"), 1).otherwise(0))
    bal = (F.when(dist_class == 1, F.col("lk_b1"))
           .when(dist_class == 2, F.col("lk_b2"))
           .when(dist_class == 3, F.col("lk_b3"))
           .when(dist_class == 4, F.col("lk_b4"))
           .otherwise(F.col("lk_b5")))
    # unmatched lookup (unknown codes) and the grassland >50 m rule
    bal = F.coalesce(bal, F.lit(float(NODATA)))
    return F.when((F.col(fdi_col) != 50) & (F.col(veg_col) == 7)
                  & (d >= 50.0), F.lit(float(NODATA))).otherwise(bal)


def _join_lookup(df: DataFrame, spark: SparkSession, fdi_col: str,
                 slope_col: str, veg_col: str) -> DataFrame:
    return df.join(
        F.broadcast(_bal_lookup_df(spark)),
        (F.col(fdi_col) == F.col("lk_fdi"))
        & (F.col(slope_col) == F.col("lk_slope_code"))
        & (F.col(veg_col) == F.col("lk_veg_code")),
        "left",
    )


def classify_bal(df: DataFrame, spark: SparkSession,
                 fdi_col: str = "fdi", slope_col: str = "slope_code",
                 veg_col: str = "veg_code", dist_col: str = "distance_m",
                 out_col: str = "bal") -> DataFrame:
    """Column-level bal_esti (R9/R10): broadcast-join the AS 3959 lookup and
    bucket the distance with a CASE chain. Value-identical to
    kernels.bal_esti_vec (asserted in tests)."""
    j = _join_lookup(df, spark, fdi_col, slope_col, veg_col)
    bal = _bal_expr(F.col(dist_col), fdi_col, veg_col)
    return j.withColumn(out_col, bal).drop(
        *[f"lk_{c}" for c in _LK_COLS])


def classify_bal_multi(df: DataFrame, spark: SparkSession, dists: dict,
                       fdi_col: str = "fdi", slope_col: str = "slope_code",
                       veg_col: str = "veg_code") -> DataFrame:
    """Fixed-distance BAL columns (``dists``: out_col -> distance in
    metres) off ONE broadcast lookup join — value-identical to chaining
    classify_bal once per distance (same joined row, same _bal_expr),
    but the directional scan's four preceding-cell distances no longer
    plan four separate broadcast joins (measured: most of that query's
    wall was driver-side planning of the repeated join chain)."""
    j = _join_lookup(df, spark, fdi_col, slope_col, veg_col)
    for out_col, dist in dists.items():
        j = j.withColumn(out_col,
                         _bal_expr(F.lit(float(dist)), fdi_col, veg_col))
    return j.drop(*[f"lk_{c}" for c in _LK_COLS])


def _parse_remap(remap: str):
    rules = []
    for a_map in remap.split(";"):
        parts = a_map.lstrip().split(" ")
        if len(parts) == 2:
            start, end, new = float(parts[0]), float(parts[0]), parts[1]
        else:
            start, end, new = float(parts[0]), float(parts[1]), parts[2]
        end += 0.0001
        rules.append((start, end,
                      float(NODATA) if new == "NODATA" else float(int(new))))
    return rules


def composed_remap_intervals(remap: str):
    """Pre-compose the sequential reclassify DSL into a flat piecewise map
    over the ORIGINAL value domain.

    The DSL mutates in place, so later ranges can re-remap earlier outputs
    (reference: sa_tools.py:172-194). But the final value is constant within
    any interval of the original domain bounded by consecutive range
    endpoints: trace one representative per interval through the sequential
    rules and emit (lo, hi, final) pieces; untouched intervals keep identity.
    This keeps the Spark expression tree LINEAR in the number of ranges
    (naive when/otherwise folding is exponential)."""
    rules = _parse_remap(remap)
    bps = sorted({b for s, e, _ in rules for b in (s, e)})
    edges = [-np.inf] + bps + [np.inf]
    pieces = []
    for lo, hi in zip(edges[:-1], edges[1:]):
        if lo == hi:
            continue
        if np.isinf(lo):
            rep = hi - 1.0
        elif np.isinf(hi):
            rep = lo  # interval [last_bp, inf): representative at the edge
        else:
            rep = (lo + hi) / 2.0
        c = rep
        hit = False
        for s, e, nv in rules:
            if s <= c < e:
                c = nv
                hit = True
        if hit:
            pieces.append((lo, hi, c))
    return pieces


def address_bal_from_rasters(addresses: DataFrame,
                             bal_max: DataFrame) -> DataFrame:
    """Serve per-address BAL from precomputed multi-FDI bal_max tiles
    (raster.bal_max_tiles): address -> tile assignment -> pixel lookup, all
    pure column math + one equi-join on (tile, fdi). This is the
    'tile assignment + BAL match' surface of the north rule: the raster
    answer each address reads (reference reads bal_max.img at the address
    pixel, calculate_bal.py:84-87).

    Output: (addr_id, fdi, tile_x, tile_y, pix_row, pix_col, bal).
    """
    t = bal_max.select(
        "tile_x", "tile_y", "fdi", "x0", "y0", "pixel_m", "nrows", "ncols",
        "bal_max")
    tile_w = F.col("ncols") * F.col("pixel_m")
    a = addresses.select("addr_id", "x", "y", F.col("fdi").alias("a_fdi"))
    j = a.join(t, (F.col("a_fdi") == F.col("fdi"))
               & (F.col("x") >= F.col("x0"))
               & (F.col("x") < F.col("x0") + tile_w)
               & (F.col("y") >= F.col("y0"))
               & (F.col("y") < F.col("y0")
                  + F.col("nrows") * F.col("pixel_m")))
    col_i = F.floor((F.col("x") - F.col("x0")) / F.col("pixel_m")) \
        .cast("int")
    row_i = (F.col("nrows") - 1
             - F.floor((F.col("y") - F.col("y0")) / F.col("pixel_m"))
             ).cast("int")
    return j.select(
        "addr_id", "fdi", "tile_x", "tile_y",
        row_i.alias("pix_row"), col_i.alias("pix_col"),
        F.element_at("bal_max",
                     (row_i * F.col("ncols") + col_i + 1).cast("int"))
        .cast("double").alias("bal"))


def remap_column(col, remap: str):
    """Scalar-column twin of the reclassify DSL (R1), value-identical to the
    array kernel: flat when-chain over the composed piecewise map, identity
    fall-through, int truncation like ``astype(int)``."""
    pieces = composed_remap_intervals(remap)
    expr = None
    for lo, hi, val in pieces:
        cond = ((col >= F.lit(lo)) if not np.isinf(lo) else F.lit(True)) \
            & ((col < F.lit(hi)) if not np.isinf(hi) else F.lit(True))
        expr = F.when(cond, F.lit(val)) if expr is None \
            else expr.when(cond, F.lit(val))
    expr = col if expr is None else expr.otherwise(col)
    return expr.cast("int")


def direction_class(azimuth_col):
    """Bearing (deg, (-180,180] clockwise from north) -> 8-sector compass
    class with the reference's coding (n=1..nw=8,
    reference: utilities/value_lookup.py:15-23)."""
    sector = F.round(azimuth_col / F.lit(45.0)).cast("int")
    return (F.pmod(sector, F.lit(8)) + F.lit(1)).cast("int")


def address_bal_factors(spark: SparkSession, documents: DataFrame,
                        tiles: DataFrame, buffer_m: float = 100.0
                        ) -> DataFrame:
    """documents + tiles -> one BAL-factors row per address:
    (addr_id, fdi, veg_id, bal_number, distance_m, azimuth_deg,
    slope_med_deg, aspect_med_deg, slope_class, aspect_class, dir_class,
    eff_slope_code, bal)."""
    addrs = docparse.addresses_from_documents(documents)
    vegs = docparse.veg_from_documents(documents)

    knn = joins.knn_join(addrs.select("addr_id", "x", "y"), vegs)

    sa = raster.slope_aspect_tiles(tiles, classify=False)
    pts = addrs.select("addr_id", "x", "y")
    z = zonal.zonal_stats_multi(
        pts, sa, buffer_m,
        {"slope": {"circular": False}, "aspect": {"circular": True}}) \
        .select("addr_id",
                F.col("slope_med").alias("slope_med_deg"),
                F.col("aspect_med").alias("aspect_med_deg"))

    f = addrs.join(knn, "addr_id").join(z, "addr_id", "left")

    slope_cls = remap_column(F.col("slope_med_deg").cast("double"),
                             slope_remap(90.0))
    aspect_cls = remap_column(F.col("aspect_med_deg").cast("double"),
                              ASPECT_REMAP)
    f = (f.withColumn("slope_class",
                      F.when(F.col("slope_med_deg").isNull()
                             | (F.col("slope_med_deg") == -9999),
                             F.lit(-99)).otherwise(slope_cls))
         .withColumn("aspect_class",
                     F.when(F.col("aspect_med_deg").isNull()
                            | (F.col("aspect_med_deg") == -9999),
                            F.lit(-99)).otherwise(aspect_cls))
         .withColumn("dir_class", direction_class(F.col("azimuth_deg"))))
    # downslope tables apply only when the terrain falls toward the
    # vegetation (aspect faces the fire direction); otherwise upslope/flat
    f = f.withColumn(
        "eff_slope_code",
        F.when(F.col("slope_class") == -99, F.lit(-99))
        .when(F.col("aspect_class") == F.col("dir_class"),
              F.col("slope_class"))
        .otherwise(F.lit(-1)))

    out = classify_bal(f.withColumn("veg_code", F.col("bal_number")),
                       spark, fdi_col="fdi", slope_col="eff_slope_code",
                       veg_col="veg_code", dist_col="distance_m")
    return out.select(
        "addr_id", "fdi", "veg_id", "bal_number", "distance_m",
        "azimuth_deg", "slope_med_deg", "aspect_med_deg", "slope_class",
        "aspect_class", "dir_class", "eff_slope_code", "bal")
