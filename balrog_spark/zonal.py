"""Windowed raster zonal statistics (A1/A2) over the tile store.

Reference shape: buffer each address, mask the raster with the buffer, stats
over surviving pixels (reference: testing/02_get_slope_from_buffer.py:219-251).
Engine shape: a pure-column tile-range join (buffer bbox -> tile_x/tile_y
sequence, exploded JVM-side) followed by ONE grouped Python stage
(session.map_key_groups): the (address, tile) rows are clustered on a
coarse spatial cell (``batch_m``, default 2 tiles) over an exchange pinned
at ``defaultParallelism`` partitions, and one Python call per partition
iterates runs of whole cells — the same plan raster._per_tile_apply uses.
``batch_m`` only sets the clustering cell, not the number of Python calls:
a call per address (14M at reference scale) or per cell would pay a UDF
call and a pandas/Arrow round trip per group.

Sentinel contract: the tile join is a LEFT join, so an address whose buffer
touches no stored tile still yields a row with the reference's -9999
sentinel stats instead of silently disappearing.

Pixel inclusion rule: default is pixel *centre* within the buffer circle
(the engine contract, what the DuckDB oracles of a1/a2/flagship use).
``include='touched'`` switches to the reference's rasterio/arcpy
``all_touched=True`` rule — every pixel whose square intersects the circle
(exact circle-vs-rectangle test) — for parity runs against
reference-computed stats; it has its own gate oracle (a1_zonal_touched).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from . import geometry, kernels
from .constants import NODATA
from .joins import _geom_of   # shared worker-global WKT-parse cache
from .corpus import TILE_M
from .session import map_key_groups

ZONAL_OUT = StructType([
    StructField("addr_id", StringType(), False),
    StructField("buffer_size_m", DoubleType(), False),
    StructField("stat_min", IntegerType(), False),
    StructField("stat_max", IntegerType(), False),
    StructField("stat_avg", IntegerType(), False),
    StructField("stat_std", IntegerType(), False),
    StructField("stat_med", IntegerType(), False),
    StructField("pixel_count", IntegerType(), False),
])

# address-batch cell side (~2x2 tiles): the clustering cell of the
# grouped stage — whole cells stay in one Python call, so addresses that
# share tiles share a run; fine enough that small AOIs still spread over
# every partition (batching must not throttle parallelism)
DEFAULT_BATCH_M = 2 * TILE_M


def tiles_for_buffers(points: DataFrame, tiles: DataFrame,
                      radius_m: float, tile_m: float = TILE_M,
                      crop: bool = True) -> DataFrame:
    """LEFT-join each point to every tile its buffer bbox touches —
    sequence + explode keeps the fan-out in codegen; the join is a plain
    equi-join that AQE can broadcast when the tile side is small. Points
    whose candidate tiles are absent keep a null-tile row (sentinel path).

    ``crop=True`` (default) immediately slices each joined tile's ``data``
    down to the point's buffer-bbox window (see _crop_to_buffer_window):
    the (address x tile) rows that cross the downstream batch-groupBy
    shuffle then carry ~(2r/pixel)^2 values instead of the full tile^2 —
    at 14M addresses x 64^2..256^2-pixel tiles that is the difference
    between shuffling hundreds of GB and a few GB. ``crop=False`` keeps
    the full tiles (measurement / debugging only)."""
    pts = points.select(
        "addr_id", "x", "y",
        F.explode(F.sequence(
            F.floor((F.col("x") - radius_m) / tile_m),
            F.floor((F.col("x") + radius_m) / tile_m))).alias("tx"))
    pts = pts.select(
        "addr_id", "x", "y", "tx",
        F.explode(F.sequence(
            F.floor((F.col("y") - radius_m) / tile_m),
            F.floor((F.col("y") + radius_m) / tile_m))).alias("ty"))
    pts = pts.select(
        "addr_id", "x", "y",
        F.col("tx").cast("int").alias("tile_x"),
        F.col("ty").cast("int").alias("tile_y"))
    n = pts.sparkSession.sparkContext.defaultParallelism
    # spread the probe side: broadcast tile joins keep its partitioning
    joined = pts.repartition(n, "addr_id") \
        .join(tiles, ["tile_x", "tile_y"], "left")
    return _crop_to_buffer_window(joined, radius_m) if crop else joined


def _crop_to_buffer_window(joined: DataFrame, radius_m: float) -> DataFrame:
    """Buffer-circle special case of :func:`_crop_to_window`: the window is
    the point's x/y +- radius bbox."""
    r = F.lit(float(radius_m))
    return _crop_to_window(joined, F.col("x") - r, F.col("x") + r,
                           F.col("y") - r, F.col("y") + r)


def _crop_to_window(joined: DataFrame, xlo, xhi, ylo, yhi) -> DataFrame:
    """Project each (zone, tile) row's ``data`` array down to the
    sub-window of pixels whose centres can possibly fall inside the
    [xlo, xhi] x [ylo, yhi] bbox (column expressions) — PURE column
    expressions (sequence/transform/slice/flatten, all codegen), no UDF,
    evaluated BEFORE the batch-cell groupBy so the shuffle ships windows,
    not tiles.

    The window is deliberately one pixel generous on every side (floor-1 /
    ceil+1): correctness never depends on the bounds because the exact
    inclusion mask (centre-in-circle / centre-in-polygon) is re-applied
    downstream on the cropped tile's own x0/y0/nrows/ncols, which this
    projection rewrites to describe the window. Left-join miss rows (null
    tile) pass through null; a degenerate window yields an EMPTY tile
    (nrows=ncols=0), which downstream treats as zero surviving pixels."""
    px = F.col("pixel_m")
    n_, m_ = F.col("nrows"), F.col("ncols")
    # pixel-centre column/row ranges intersecting the bbox, clamped to the
    # tile (data row 0 is the NORTH edge: y of row i is
    # y0 + (nrows - i - 0.5) * pixel_m)
    c0 = F.greatest(F.lit(0),
                    (F.floor((xlo - F.col("x0")) / px) - 1)
                    .cast("int"))
    c1 = F.least(m_, (F.ceil((xhi - F.col("x0")) / px) + 1)
                 .cast("int"))
    r0 = F.greatest(F.lit(0),
                    (F.floor(n_ - (yhi - F.col("y0")) / px) - 1)
                    .cast("int"))
    r1 = F.least(n_, (F.ceil(n_ - (ylo - F.col("y0")) / px) + 1)
                 .cast("int"))
    width = c1 - c0

    def row_slice(rr):
        return F.slice(F.col("data"), rr * m_ + c0 + F.lit(1), width)

    data_t = joined.schema["data"].dataType
    valid = F.col("data").isNotNull() & (r1 > r0) & (c1 > c0)
    window = F.flatten(F.transform(F.sequence(r0, r1 - 1), row_slice))
    cropped = F.when(valid, window).otherwise(
        F.when(F.col("data").isNotNull(), F.array().cast(data_t)))
    zero_if_empty = lambda col: F.when(  # noqa: E731
        valid, col).otherwise(
        F.when(F.col("data").isNotNull(), F.lit(0)).cast("int"))
    passthrough = [c for c in joined.columns
                   if c not in ("data", "nrows", "ncols", "x0", "y0")]
    return joined.select(
        *passthrough,
        cropped.alias("data"),
        zero_if_empty(r1 - r0).alias("nrows"),
        zero_if_empty(width).alias("ncols"),
        (F.col("x0") + c0.cast("double") * px).alias("x0"),
        (F.col("y0") + (n_ - r1).cast("double") * px).alias("y0"))


_EMPTY = np.array([], dtype=np.float64)


def _segment_values(group: pd.DataFrame, key_of_row: np.ndarray,
                    radius_m: float, include: str) -> dict:
    """Vectorized window extraction for a WHOLE batch: one concatenate +
    one mask over every (address, tile) row's cropped window instead of
    per-address pandas groupby + per-row numpy (the former hot loop).
    Returns {segment key: float64 values}, each segment's values in
    exactly the order the per-row path produced (row order within the
    group, raster order within a row, nodata dropped) — the stats stay
    bit-identical because zonal_stats_1d still runs per address on the
    identical arrays."""
    valid = group["data"].notna().to_numpy() & (key_of_row >= 0)
    if not valid.any():
        return {}
    g = group.loc[valid]
    keys = key_of_row[valid]
    arrs = [np.asarray(d, dtype=np.float64) for d in g["data"].to_numpy()]
    lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
    total = int(lens.sum())
    if total == 0:
        return {}
    flat = np.concatenate(arrs)

    def rep(col, dt=np.float64):
        return np.repeat(g[col].to_numpy(dt), lens)

    m_e = rep("ncols", np.int64)
    n_e = rep("nrows", np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    idx = np.arange(total) - np.repeat(offs, lens)
    r_i = idx // m_e
    c_i = idx % m_e
    px_e = rep("pixel_m")
    xs = rep("x0") + (c_i + 0.5) * px_e
    ys = rep("y0") + (n_e - r_i - 0.5) * px_e
    xa, ya = rep("x"), rep("y")
    if include == "touched":
        dx = np.maximum(np.abs(xs - xa) - px_e / 2.0, 0.0)
        dy = np.maximum(np.abs(ys - ya) - px_e / 2.0, 0.0)
        keep = dx ** 2 + dy ** 2 <= radius_m ** 2
    else:
        keep = (xs - xa) ** 2 + (ys - ya) ** 2 <= radius_m ** 2
    keep &= flat != NODATA
    kv = flat[keep]
    kk = np.repeat(keys, lens)[keep]
    order = np.argsort(kk, kind="stable")
    sv, sk = kv[order], kk[order]
    uk, starts = np.unique(sk, return_index=True)
    return dict(zip(uk.tolist(), np.split(sv, starts[1:])))


def _batched(joined: DataFrame, cx, cy, per_batch, out_schema,
             batch_m: float) -> DataFrame:
    """Cluster the (zone, tile) rows on the ``batch_m`` cell of each
    zone's anchor point (``cx``, ``cy`` column expressions; every row of
    a zone shares it) and run ``per_batch(pandas_frame)`` over runs of
    whole cells, one Python call per partition (session.map_key_groups).
    ``per_batch`` must handle any number of zones; it returns a pandas
    frame with the columns of ``out_schema``."""
    cell = F.lit(float(batch_m))
    keyed = joined.withColumn("_bx", F.floor(cx / cell)) \
        .withColumn("_by", F.floor(cy / cell))
    pa_schema = to_arrow_schema(out_schema)

    def run(tbl: pa.Table) -> pa.Table:
        return pa.Table.from_pandas(per_batch(tbl.to_pandas()),
                                    schema=pa_schema, preserve_index=False)

    return map_key_groups(keyed, ["_bx", "_by"], run, out_schema)


def zonal_stats(points: DataFrame, tiles: DataFrame, radius_m: float,
                batch_m: float = DEFAULT_BATCH_M,
                crop: bool = True, tile_m: float = TILE_M,
                include: str = "centre") -> DataFrame:
    """Per-point stats of one raster layer within a circular buffer.
    ``tile_m`` must match the tile grid of ``tiles`` (world metres per
    tile side); ``include`` picks the pixel inclusion rule: 'centre' (engine
    contract) keeps pixels whose CENTRE lies in the circle;
    'touched' keeps every pixel whose SQUARE intersects it —
    rasterio/arcpy all_touched=True, the reference's rule
    (testing/02_get_slope_from_buffer.py:219), exact
    circle-vs-square (distance from centre to the pixel rectangle
    <= radius; implemented in _segment_values). The crop window's one-pixel margin already covers the
    half-pixel the touched rule can add, so both rules ride the slim
    shuffle."""
    joined = tiles_for_buffers(points, tiles, radius_m, tile_m=tile_m,
                               crop=crop)

    def stats(group: pd.DataFrame):
        codes, uniq = pd.factorize(group["addr_id"], sort=False)
        segs = _segment_values(group, codes, radius_m, include)
        rows = []
        for ai, addr_id in enumerate(uniq):
            s = kernels.zonal_stats_1d(segs.get(ai, _EMPTY))
            rows.append({
                "addr_id": addr_id, "buffer_size_m": float(radius_m),
                "stat_min": s["min"], "stat_max": s["max"],
                "stat_avg": s["avg"], "stat_std": s["std"],
                "stat_med": s["med"], "pixel_count": s["pixel_count"],
            })
        return pd.DataFrame(rows, columns=[f.name for f in ZONAL_OUT])

    return _batched(joined, F.col("x"), F.col("y"), stats, ZONAL_OUT,
                    batch_m)


def zonal_stats_multi(points: DataFrame, tiles: DataFrame, radius_m: float,
                      layer_specs: dict,
                      batch_m: float = DEFAULT_BATCH_M,
                      crop: bool = True, tile_m: float = TILE_M
                      ) -> DataFrame:
    """Multi-layer zonal stats in ONE shuffle: ``layer_specs`` maps layer
    name -> {"circular": bool}; output has one column group per layer
    (<layer>_min .. <layer>_pixel_count). Halves the join/groupBy cost of
    running slope and aspect separately — the dominant fixed cost of the
    per-address pipeline."""
    layers = sorted(layer_specs)
    joined = tiles_for_buffers(points, tiles, radius_m, tile_m=tile_m,
                               crop=crop)

    fields = [StructField("addr_id", StringType(), False),
              StructField("buffer_size_m", DoubleType(), False)]
    for lay in layers:
        for stat in ("min", "max", "avg", "std", "med", "pixel_count"):
            fields.append(StructField(f"{lay}_{stat}", IntegerType(),
                                      False))
    out_schema = StructType(fields)

    lay_code = {lay: i for i, lay in enumerate(layers)}
    L = len(layers)

    def stats(group: pd.DataFrame):
        codes, uniq = pd.factorize(group["addr_id"], sort=False)
        lcodes = group["layer"].map(lay_code).fillna(-1).to_numpy(np.int64)
        key_of_row = np.where(lcodes >= 0, codes * L + lcodes, -1)
        segs = _segment_values(group, key_of_row, radius_m, "centre")
        rows = []
        for ai, addr_id in enumerate(uniq):
            row = {"addr_id": addr_id, "buffer_size_m": float(radius_m)}
            for li, lay in enumerate(layers):
                s = kernels.zonal_stats_1d(
                    segs.get(ai * L + li, _EMPTY),
                    circular=layer_specs[lay].get("circular", False))
                for stat in ("min", "max", "avg", "std", "med",
                             "pixel_count"):
                    row[f"{lay}_{stat}"] = s[stat]
            rows.append(row)
        return pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return _batched(joined, F.col("x"), F.col("y"), stats, out_schema,
                    batch_m)


def zonal_stats_poly(zones: DataFrame, tiles: DataFrame, layer_specs: dict,
                     batch_m: float = DEFAULT_BATCH_M,
                     tile_m: float = TILE_M) -> DataFrame:
    """Zonal stats over ARBITRARY polygon zones (A1 generalized): ``zones``
    is (zone_id, wkt, xmin, ymin, xmax, ymax) — the bbox columns keep the
    tile-range join and the window crop in pure codegen; the exact
    pixel-centre-in-polygon mask (holes/even-odd) runs vectorized inside
    the grouped Python stage. This is the per-clipped-vegetation-polygon
    median step of the reference's Auto BAL Assessment (reference:
    data_prep/vegetation/xx_fiona_testing.py:218-221 get_raster_values
    per clipped veg geom), where :func:`zonal_stats` covers its circular
    per-address buffer twin.

    Same scale shape as zonal_stats: the shuffle ships bbox-cropped
    windows (never whole tiles), one Python call per partition over runs
    of whole batch cells (keyed on the zone's bbox centre), sentinel row
    for zones touching no stored tile."""
    layers = sorted(layer_specs)
    n_par = zones.sparkSession.sparkContext.defaultParallelism
    base = ["zone_id", "wkt", "xmin", "ymin", "xmax", "ymax"]
    z = zones.select(
        *base,
        F.explode(F.sequence(
            F.floor(F.col("xmin") / F.lit(float(tile_m))),
            F.floor(F.col("xmax") / F.lit(float(tile_m))))).alias("tx"))
    z = z.select(
        *base, "tx",
        F.explode(F.sequence(
            F.floor(F.col("ymin") / F.lit(float(tile_m))),
            F.floor(F.col("ymax") / F.lit(float(tile_m))))).alias("ty"))
    z = z.select(*base,
                 F.col("tx").cast("int").alias("tile_x"),
                 F.col("ty").cast("int").alias("tile_y"))
    joined = z.repartition(n_par, "zone_id") \
        .join(tiles, ["tile_x", "tile_y"], "left")
    joined = _crop_to_window(joined, F.col("xmin"), F.col("xmax"),
                             F.col("ymin"), F.col("ymax"))

    fields = [StructField("zone_id", StringType(), False)]
    for lay in layers:
        for stat in ("min", "max", "avg", "std", "med", "pixel_count"):
            fields.append(StructField(f"{lay}_{stat}", IntegerType(),
                                      False))
    out_schema = StructType(fields)

    def stats(group: pd.DataFrame):
        vals: dict = {}
        seen: dict = {}
        for r in group.itertuples():
            seen.setdefault(r.zone_id, r.wkt)
            if r.data is None or (np.isscalar(r.nrows)
                                  and pd.isna(r.nrows)):
                continue
            n, m = int(r.nrows), int(r.ncols)
            if n == 0 or m == 0:
                continue
            arr = np.asarray(r.data, dtype=np.float64).reshape(n, m)
            px = float(r.pixel_m)
            xs = r.x0 + (np.arange(m) + 0.5) * px
            ys = r.y0 + (n - np.arange(n) - 0.5) * px
            gx = np.broadcast_to(xs[None, :], (n, m)).ravel()
            gy = np.broadcast_to(ys[:, None], (n, m)).ravel()
            inside = geometry.points_in_geom(gx, gy, _geom_of(r.wkt))
            v = arr.ravel()[inside]
            v = v[v != NODATA]
            if v.size:
                vals.setdefault((r.zone_id, r.layer), []).append(v)
        rows = []
        for zone_id in seen:
            row = {"zone_id": zone_id}
            for lay in layers:
                chunks = vals.get((zone_id, lay))
                s = kernels.zonal_stats_1d(
                    np.concatenate(chunks) if chunks else _EMPTY,
                    circular=layer_specs[lay].get("circular", False))
                for stat in ("min", "max", "avg", "std", "med",
                             "pixel_count"):
                    row[f"{lay}_{stat}"] = s[stat]
            rows.append(row)
        return pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return _batched(joined, (F.col("xmin") + F.col("xmax")) / 2.0,
                    (F.col("ymin") + F.col("ymax")) / 2.0, stats,
                    out_schema, batch_m)
