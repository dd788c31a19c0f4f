"""Windowed raster zonal statistics (A1/A2) over the tile store.

Reference shape: buffer each address, mask the raster with the buffer, stats
over surviving pixels (reference: testing/02_get_slope_from_buffer.py:219-251).
Engine shape: a pure-column zone->tile join followed by ONE grouped
Python stage (session.map_key_groups). The join reads each TILES row's
extent from the row itself (x0, y0, nrows, ncols, pixel_m; not its
grid indices), so any uniform cut of a raster gives the same stats; it
meets zones on a fixed internal grid and crops each tile to the zone's
bbox window before the shuffle (_zone_tiles). The (zone, tile) rows are
then clustered on a coarse spatial cell (``batch_m``, default 2 corpus
tiles) over an exchange pinned at ``defaultParallelism`` partitions, and
one Python call per partition iterates runs of whole cells — the same
plan raster._per_tile_apply uses. ``batch_m`` only sets the clustering
cell, not the number of Python calls: a call per address (14M at
reference scale) or per cell would pay a UDF call and a pandas/Arrow
round trip per group.

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


# side of the fixed grid on which zones meet tile rows: both sides explode
# onto the cells their extents touch and equi-join on the cell. Any side
# yields the same pairs; this one puts each corpus tile in one cell
_JOIN_M = TILE_M


def _sql_double(v: float) -> str:
    return f"{float(v)!r}D"


# The join and crop expressions below are SQL text, not Column algebra:
# each Column operator is one py4j round trip (~1 ms on a 4-vCPU box),
# and built from operators the join and crop took ~0.1 s of driver time
# per zonal call; one F.expr / selectExpr string is one round trip.

def _zone_tiles(zones: DataFrame, tiles: DataFrame, key: str,
                xlo: str, xhi: str, ylo: str, yhi: str) -> DataFrame:
    """LEFT-join each zone to every tile row whose extent overlaps the
    zone's closed bbox [xlo, xhi] x [ylo, yhi] (SQL expressions over
    ``zones``' columns), each tile's ``data`` cropped to the bbox window
    (:func:`_crop_to_window`). The output has ``zones``' columns plus
    the tile's ``layer``, ``pixel_m`` and cropped
    ``data``/``nrows``/``ncols``/``x0``/``y0``.

    A row's extent is its own half-open [x0, x0 + ncols * pixel_m) x
    [y0, y0 + nrows * pixel_m), so any cut of the raster joins the same
    pixels and no caller states a tile size. Zone bboxes and tile extents
    explode onto the ``_JOIN_M`` cells they touch and meet in an
    equi-join on the cell that AQE can broadcast. A pair that shares
    several cells is kept only in the cell holding the lower-left corner
    of bbox ∩ extent, so it appears once with no dedupe. The zones are
    spread over ``defaultParallelism`` partitions on ``key`` (a broadcast
    tile join keeps that partitioning); a zone whose bbox overlaps no
    tile keeps null-tile rows (the -9999 sentinel path)."""
    g = _sql_double(_JOIN_M)

    def cells(side, x_first, x_last, y_first, y_last):
        # the cell rectangle as (_<side>x, _<side>y) rows, in one
        # generator (a select takes one)
        return (f"inline(flatten(transform(sequence({x_first}, {x_last}), "
                f"cx -> transform(sequence({y_first}, {y_last}), "
                f"cy -> named_struct('_{side}x', cx, '_{side}y', cy)))))")

    x1, y1 = "(x0 + ncols * pixel_m)", "(y0 + nrows * pixel_m)"
    n = zones.sparkSession.sparkContext.defaultParallelism
    z = zones.selectExpr(
        "*", cells("z", f"floor(({xlo}) / {g})", f"floor(({xhi}) / {g})",
                   f"floor(({ylo}) / {g})", f"floor(({yhi}) / {g})")) \
        .repartition(n, key)
    # half-open extents: a tile ending on a cell edge stays out of the
    # next cell
    t = tiles.selectExpr(
        "layer", "x0", "y0", "pixel_m", "nrows", "ncols", "data",
        cells("t", f"floor(x0 / {g})", f"ceil({x1} / {g}) - 1",
              f"floor(y0 / {g})", f"ceil({y1} / {g}) - 1"))
    on = F.expr(
        f"_zx = _tx AND _zy = _ty"
        f" AND ({xlo}) < {x1} AND ({xhi}) >= x0"
        f" AND ({ylo}) < {y1} AND ({yhi}) >= y0"
        f" AND floor(greatest({xlo}, x0) / {g}) = _zx"
        f" AND floor(greatest({ylo}, y0) / {g}) = _zy")
    return _crop_to_window(z.join(t, on, "left"),
                           [*zones.columns, "layer", "pixel_m"],
                           xlo, xhi, ylo, yhi)


def _tiles_for_buffers(points: DataFrame, tiles: DataFrame,
                       radius_m: float) -> DataFrame:
    """:func:`_zone_tiles` for circles: each point's zone is its x/y +-
    radius bbox."""
    r = _sql_double(radius_m)
    return _zone_tiles(points.select("addr_id", "x", "y"), tiles, "addr_id",
                       f"x - {r}", f"x + {r}", f"y - {r}", f"y + {r}")


def _crop_to_window(joined: DataFrame, keep: list, xlo: str, xhi: str,
                    ylo: str, yhi: str) -> DataFrame:
    """Select ``keep`` plus each (zone, tile) row's ``data`` array cut
    down to the sub-window of pixels whose centres can possibly fall
    inside the [xlo, xhi] x [ylo, yhi] bbox (SQL expressions) — pure
    column expressions (sequence/transform/slice/flatten), no UDF,
    evaluated BEFORE the batch-cell groupBy so the shuffle ships windows,
    not tiles.

    The window is deliberately one pixel generous on every side (floor-1 /
    ceil+1): correctness never depends on the bounds because the exact
    inclusion mask (centre-in-circle / centre-in-polygon) is re-applied
    downstream on the cropped tile's own x0/y0/nrows/ncols, which this
    projection rewrites to describe the window. Left-join miss rows (null
    tile) pass through null; a degenerate window yields an EMPTY tile
    (nrows=ncols=0), which downstream treats as zero surviving pixels."""
    # pixel-centre column/row ranges intersecting the bbox, clamped to the
    # tile (data row 0 is the NORTH edge: y of row i is
    # y0 + (nrows - i - 0.5) * pixel_m)
    c0 = f"greatest(0, CAST(floor((({xlo}) - x0) / pixel_m) - 1 AS INT))"
    c1 = f"least(ncols, CAST(ceil((({xhi}) - x0) / pixel_m) + 1 AS INT))"
    r0 = (f"greatest(0, CAST(floor(nrows - (({yhi}) - y0) / pixel_m) - 1"
          f" AS INT))")
    r1 = (f"least(nrows, CAST(ceil(nrows - (({ylo}) - y0) / pixel_m) + 1"
          f" AS INT))")
    width = f"({c1} - {c0})"
    valid = f"data IS NOT NULL AND {r1} > {r0} AND {c1} > {c0}"
    window = (f"flatten(transform(sequence({r0}, {r1} - 1), "
              f"rr -> slice(data, rr * ncols + {c0} + 1, {width})))")

    def if_valid(col, empty):
        return (f"CASE WHEN {valid} THEN {col} "
                f"WHEN data IS NOT NULL THEN {empty} END")

    # slice(data, 1, 0): an empty array of data's own type
    return joined.selectExpr(
        *keep,
        f"{if_valid(window, 'slice(data, 1, 0)')} AS data",
        f"{if_valid(f'{r1} - {r0}', '0')} AS nrows",
        f"{if_valid(width, '0')} AS ncols",
        f"x0 + CAST({c0} AS DOUBLE) * pixel_m AS x0",
        f"y0 + CAST(nrows - {r1} AS DOUBLE) * pixel_m AS y0")


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


def _batched(joined: DataFrame, cx: str, cy: str, per_batch, out_schema,
             batch_m: float) -> DataFrame:
    """Cluster the (zone, tile) rows on the ``batch_m`` cell of each
    zone's anchor point (``cx``, ``cy`` SQL expressions; every row of
    a zone shares it) and run ``per_batch(pandas_frame)`` over runs of
    whole cells, one Python call per partition (session.map_key_groups).
    ``per_batch`` must handle any number of zones; it returns a pandas
    frame with the columns of ``out_schema``."""
    cell = _sql_double(batch_m)
    keyed = joined.selectExpr("*", f"floor(({cx}) / {cell}) AS _bx",
                              f"floor(({cy}) / {cell}) AS _by")
    pa_schema = to_arrow_schema(out_schema)

    def run(tbl: pa.Table) -> pa.Table:
        return pa.Table.from_pandas(per_batch(tbl.to_pandas()),
                                    schema=pa_schema, preserve_index=False)

    return map_key_groups(keyed, ["_bx", "_by"], run, out_schema)


def zonal_stats(points: DataFrame, tiles: DataFrame, radius_m: float,
                batch_m: float = DEFAULT_BATCH_M,
                include: str = "centre") -> DataFrame:
    """Per-point stats of one raster layer within a circular buffer.
    ``include`` picks the pixel inclusion rule: 'centre' (engine
    contract) keeps pixels whose CENTRE lies in the circle;
    'touched' keeps every pixel whose SQUARE intersects it —
    rasterio/arcpy all_touched=True, the reference's rule
    (testing/02_get_slope_from_buffer.py:219), exact
    circle-vs-square (distance from centre to the pixel rectangle
    <= radius; implemented in _segment_values). The crop window's
    one-pixel margin already covers the half-pixel the touched rule can
    add, so both rules ride the slim shuffle."""
    joined = _tiles_for_buffers(points, tiles, radius_m)

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

    return _batched(joined, "x", "y", stats, ZONAL_OUT, batch_m)


def zonal_stats_multi(points: DataFrame, tiles: DataFrame, radius_m: float,
                      layer_specs: dict,
                      batch_m: float = DEFAULT_BATCH_M) -> DataFrame:
    """Multi-layer zonal stats in ONE shuffle: ``layer_specs`` maps layer
    name -> {"circular": bool}; output has one column group per layer
    (<layer>_min .. <layer>_pixel_count). Halves the join/groupBy cost of
    running slope and aspect separately — the dominant fixed cost of the
    per-address pipeline."""
    layers = sorted(layer_specs)
    joined = _tiles_for_buffers(points, tiles, radius_m)

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

    return _batched(joined, "x", "y", stats, out_schema, batch_m)


def zonal_stats_poly(zones: DataFrame, tiles: DataFrame, layer_specs: dict,
                     batch_m: float = DEFAULT_BATCH_M) -> DataFrame:
    """Zonal stats over ARBITRARY polygon zones (A1 generalized): ``zones``
    is (zone_id, wkt, xmin, ymin, xmax, ymax) — the bbox columns keep the
    zone->tile join and the window crop in pure column expressions; the exact
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
    joined = _zone_tiles(
        zones.select("zone_id", "wkt", "xmin", "ymin", "xmax", "ymax"),
        tiles, "zone_id", "xmin", "xmax", "ymin", "ymax")

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

    return _batched(joined, "(xmin + xmax) / 2.0D", "(ymin + ymax) / 2.0D",
                    stats, out_schema, batch_m)
