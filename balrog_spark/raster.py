"""Tiled raster operators — the Gen-1 BAL pipeline as one Spark DAG.

The reference computes slope/aspect, reclassification, and the 8-direction
BAL scan over a single in-memory AOI raster (reference: bal.py:202-230,
calculate_bal.py:21-101). Here the AOI is a set of fixed-size tiles in a
DataFrame; cross-tile dependencies are satisfied by a *border-strip fan-out*:

    tiles --mapInArrow--> 9 contribution rows each (self + 8 border strips,
                          only the <=halo-wide slices a neighbour needs)
         --repartition(n, tile) + sort--> mapInArrow, one Python call per
                          partition over runs of whole tiles
                          (session.map_key_groups): assemble padded
                          array, run the vectorized kernel chain, emit
                          core results

One shuffle total, inflated only by ~(1 + 4*halo/tile_n) (~1.1x at the
256-px production tile size). The data plane is Arrow-native end to end:
list-array value buffers are sliced as numpy views (no per-row pandas
objects), which is what keeps the scan memory-bandwidth-bound on the kernel
rather than on serialization.

Exactness contract: a core cell's BAL matches the reference's whole-AOI
computation whenever halo >= scan_width + 1 + (longest nodata run near a
tile border); AOI edges are reproduced by cropping absent halo sides so the
one-sided gradient behaviour at array edges lines up (verified end-to-end in
tests/test_raster_pipeline.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from . import kernels
from .constants import ASPECT_REMAP, NODATA, slope_remap
from .corpus import VEG_REMAP
from .session import map_key_groups

# default halo: scan width 4 (ceil(100/25)) + 1 gradient px + 8 px worst-case
# nodata run in the synthetic corpus
DEFAULT_HALO = 13

_CONTRIB_DDL = ("tile_x INT, tile_y INT, ox INT, oy INT, layer STRING, "
                "x0 BIGINT, y0 BIGINT, pixel_mm BIGINT, nrows INT, "
                "ncols INT, srows INT, scols INT, data ARRAY<FLOAT>")

_BAL_DIRS = ("w", "e", "n", "s", "nw", "ne", "se", "sw", "max")
_BAL_DDL = ("tile_x INT, tile_y INT, x0 DOUBLE, y0 DOUBLE, pixel_m DOUBLE, "
            "nrows INT, ncols INT, " + ", ".join(
                f"bal_{d} ARRAY<FLOAT>" for d in _BAL_DIRS))

_PA_CONTRIB = pa.schema([
    ("tile_x", pa.int32()), ("tile_y", pa.int32()),
    ("ox", pa.int32()), ("oy", pa.int32()), ("layer", pa.string()),
    ("x0", pa.int64()), ("y0", pa.int64()), ("pixel_mm", pa.int64()),
    ("nrows", pa.int32()), ("ncols", pa.int32()),
    ("srows", pa.int32()), ("scols", pa.int32()),
    ("data", pa.list_(pa.float32())),
])


def _list_views(batch_or_table, name: str):
    """(values_np_float32, offsets_np) zero-copy views of a list<float32>
    column."""
    col = batch_or_table.column(name)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    values = col.values.to_numpy(zero_copy_only=False)
    offsets = col.offsets.to_numpy()
    return values, offsets


def _float_list_array(arrays):
    """pa list<float32> column from a list of float32 numpy arrays."""
    if arrays:
        flat = np.concatenate([a.ravel() for a in arrays])
    else:
        flat = np.array([], dtype=np.float32)
    offsets = np.zeros(len(arrays) + 1, dtype=np.int32)
    if arrays:
        np.cumsum([a.size for a in arrays], out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                    pa.array(flat, type=pa.float32()))


def emit_border_strips(tiles: DataFrame, halo: int = DEFAULT_HALO
                       ) -> DataFrame:
    """Fan each tile out to itself + 8 neighbours, shipping only the border
    slice the neighbour's halo needs. Arrow-native: list-value buffers are
    sliced as numpy views, one output record batch per input batch."""

    def gen(batches):
        for b in batches:
            nr = b.column("nrows").to_numpy()
            nc = b.column("ncols").to_numpy()
            txs = b.column("tile_x").to_numpy()
            tys = b.column("tile_y").to_numpy()
            x0s = b.column("x0").to_numpy()
            y0s = b.column("y0").to_numpy()
            pxs = b.column("pixel_m").to_numpy()
            layers = b.column("layer").to_pylist()
            values, offsets = _list_views(b, "data")

            o_tx, o_ty, o_ox, o_oy, o_layer = [], [], [], [], []
            o_x0, o_y0, o_pmm = [], [], []
            o_nr, o_nc, o_sr, o_sc, o_data = [], [], [], [], []
            for i in range(b.num_rows):
                n, m = int(nr[i]), int(nc[i])
                h = min(halo, n, m)
                arr = values[offsets[i]:offsets[i + 1]].reshape(n, m)
                for ox in (-1, 0, 1):
                    rs = slice(None) if ox == 0 else (
                        slice(m - h, m) if ox == -1 else slice(0, h))
                    for oy in (-1, 0, 1):
                        cs = slice(None) if oy == 0 else (
                            slice(n - h, n) if oy == 1 else slice(0, h))
                        strip = arr[cs, rs]
                        o_tx.append(int(txs[i]) - ox)
                        o_ty.append(int(tys[i]) - oy)
                        o_ox.append(ox)
                        o_oy.append(oy)
                        o_layer.append(layers[i])
                        o_x0.append(int(round(x0s[i] * 1000)))
                        o_y0.append(int(round(y0s[i] * 1000)))
                        o_pmm.append(int(round(pxs[i] * 1000)))
                        o_nr.append(n)
                        o_nc.append(m)
                        o_sr.append(strip.shape[0])
                        o_sc.append(strip.shape[1])
                        o_data.append(np.ascontiguousarray(strip))
            yield pa.RecordBatch.from_arrays([
                pa.array(o_tx, pa.int32()), pa.array(o_ty, pa.int32()),
                pa.array(o_ox, pa.int32()), pa.array(o_oy, pa.int32()),
                pa.array(o_layer, pa.string()),
                pa.array(o_x0, pa.int64()), pa.array(o_y0, pa.int64()),
                pa.array(o_pmm, pa.int64()),
                pa.array(o_nr, pa.int32()), pa.array(o_nc, pa.int32()),
                pa.array(o_sr, pa.int32()), pa.array(o_sc, pa.int32()),
                _float_list_array(o_data),
            ], schema=_PA_CONTRIB)

    return tiles.mapInArrow(gen, schema=_CONTRIB_DDL)


def _assemble_arrow(tbl: pa.Table, layer: str, halo: int):
    """Rebuild (padded_array, present_mask, meta) for one tile group from
    its Arrow strips; absent cells are nodata (-99) and not-present."""
    layers = tbl.column("layer").to_pylist()
    idx = [i for i, l in enumerate(layers) if l == layer]
    if not idx:
        return None
    oxs = tbl.column("ox").to_numpy()
    oys = tbl.column("oy").to_numpy()
    nrs = tbl.column("nrows").to_numpy()
    ncs = tbl.column("ncols").to_numpy()
    srs = tbl.column("srows").to_numpy()
    scs = tbl.column("scols").to_numpy()
    values, offsets = _list_views(tbl, "data")

    self_i = next((i for i in idx if oxs[i] == 0 and oys[i] == 0), None)
    if self_i is None:
        return None
    n, m = int(nrs[self_i]), int(ncs[self_i])
    h = min(halo, n, m)
    pad = np.full((n + 2 * h, m + 2 * h), NODATA, dtype=np.float64)
    present = np.zeros_like(pad, dtype=bool)
    for i in idx:
        block = values[offsets[i]:offsets[i + 1]] \
            .reshape(int(srs[i]), int(scs[i]))
        # clip each axis to THIS tile's halo band and anchor at the
        # core boundary: a neighbour sizes its strip by ITS OWN halo
        # (min(halo, its dims)), which differs at ragged edges — the
        # rows/cols adjacent to the shared boundary are the ones that
        # belong in the band; a same-size strip is unchanged, an
        # oversized one must not bleed into the core, an undersized
        # one leaves the far band absent (not-present)
        if oys[i] == 1:            # from the tile above: bottom rows
            tr = min(h, block.shape[0])
            block = block[-tr:]
            rows0 = h - tr
        elif oys[i] == 0:
            rows0 = h
        else:                      # from the tile below: top rows
            block = block[:min(h, block.shape[0])]
            rows0 = h + n
        if oxs[i] == -1:           # from the west: its EAST columns
            tc = min(h, block.shape[1])
            block = block[:, -tc:]
            cols0 = h - tc
        elif oxs[i] == 0:
            cols0 = h
        else:                      # from the east: its WEST columns
            block = block[:, :min(h, block.shape[1])]
            cols0 = h + m
        pad[rows0:rows0 + block.shape[0],
            cols0:cols0 + block.shape[1]] = block
        present[rows0:rows0 + block.shape[0],
                cols0:cols0 + block.shape[1]] = True
    meta = {"nrows": n, "ncols": m, "halo": h,
            "x0": int(tbl.column("x0")[self_i].as_py()) / 1000.0,
            "y0": int(tbl.column("y0")[self_i].as_py()) / 1000.0,
            "pixel_m": int(tbl.column("pixel_mm")[self_i].as_py()) / 1000.0}
    return pad, present, meta


def _crop_absent_sides(arrays, present, h, n, m):
    """Drop halo rows/cols on sides with no neighbour so array edges coincide
    with AOI edges (matches np.gradient's one-sided differences there)."""
    top = 0 if present[:h, h:h + m].any() else h
    bot = present.shape[0] if present[h + n:, h:h + m].any() \
        else present.shape[0] - h
    left = 0 if present[h:h + n, :h].any() else h
    right = present.shape[1] if present[h:h + n, h + m:].any() \
        else present.shape[1] - h
    sl = (slice(top, bot), slice(left, right))
    return [a[sl] for a in arrays], present[sl], h - top, h - left



def _per_tile_apply(contribs: DataFrame, per_tile_fn, ddl: str) -> DataFrame:
    """Key the contributions on the tile and run ``per_tile_fn`` once per
    tile, with one Python call per partition (session.map_key_groups).

    Each call gets runs of whole tiles sorted by (tile_x, tile_y), so a
    tile's strips are one contiguous slice of the run. Neighbour halos
    work because every strip already carries its target tile id.
    """

    def compute(tbl: pa.Table):
        txs = tbl.column("tile_x").to_numpy()
        tys = tbl.column("tile_y").to_numpy()
        cuts = np.flatnonzero((np.diff(txs) != 0) | (np.diff(tys) != 0)) + 1
        bounds = [0, *cuts.tolist(), tbl.num_rows]
        out = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            t = per_tile_fn(int(txs[a]), int(tys[a]), tbl.slice(a, b - a))
            if t is not None:
                out.append(t)
        return pa.concat_tables(out) if out else None

    return map_key_groups(contribs, ["tile_x", "tile_y"], compute, ddl)


_PA_BAL = pa.schema(
    [("tile_x", pa.int32()), ("tile_y", pa.int32()),
     ("x0", pa.float64()), ("y0", pa.float64()),
     ("pixel_m", pa.float64()), ("nrows", pa.int32()),
     ("ncols", pa.int32())]
    + [(f"bal_{d}", pa.list_(pa.float32()))
       for d in ("w", "e", "n", "s", "nw", "ne", "se", "sw", "max")])


def bal_tiles(tiles: DataFrame, fdi: int) -> DataFrame:
    """The full Gen-1 pipeline per tile: veg reclass -> slope/aspect ->
    aspect/slope reclass -> 8-direction scan -> max
    (reference: bal.py:202-230 + calculate_bal.py:21-101), emitting 9 BAL
    arrays per tile.

    The slope remap's top class ends at 90 deg: the reference's
    data-dependent bound (reference: bal.py:110-120) gives identical
    classes, because arctan slopes never exceed 90 deg and earlier remap
    classes (1..6) lie below every range start.
    """
    contribs = emit_border_strips(tiles)
    aspect_remap_s = ASPECT_REMAP
    slope_remap_s = slope_remap(90.0)

    def per_tile(tx: int, ty: int, tbl: pa.Table):
        dem = _assemble_arrow(tbl, "dem", DEFAULT_HALO)
        veg = _assemble_arrow(tbl, "veg", DEFAULT_HALO)
        if dem is None or veg is None:
            return None
        dem_pad, present, meta = dem
        veg_pad, _, _ = veg
        n, m, h = meta["nrows"], meta["ncols"], meta["halo"]
        (dem_c, veg_c), present_c, core_r, core_c = _crop_absent_sides(
            [dem_pad, veg_pad], present, h, n, m)

        slope_deg, aspect_deg = kernels.cal_slope_aspect_vec(
            dem_c, meta["pixel_m"], meta["pixel_m"])
        veg_r = kernels.reclassify_vec(veg_c, VEG_REMAP)
        aspect_r = kernels.reclassify_vec(aspect_deg, aspect_remap_s)
        slope_r = kernels.reclassify_vec(slope_deg, slope_remap_s)

        outs = kernels.bal_all_directions(
            veg_r.astype(np.float64), slope_r.astype(np.float64),
            aspect_r.astype(np.float64), meta["pixel_m"], fdi,
            present=present_c)
        sl = (slice(core_r, core_r + n), slice(core_c, core_c + m))
        cols = [pa.array([tx], pa.int32()), pa.array([ty], pa.int32()),
                pa.array([meta["x0"]], pa.float64()),
                pa.array([meta["y0"]], pa.float64()),
                pa.array([meta["pixel_m"]], pa.float64()),
                pa.array([n], pa.int32()), pa.array([m], pa.int32())]
        for d in _BAL_DIRS:
            cols.append(_float_list_array(
                [outs[d][sl].astype(np.float32)]))
        return pa.Table.from_arrays(cols, schema=_PA_BAL)

    return _per_tile_apply(contribs, per_tile, _BAL_DDL)


def bal_tiles_classified(tiles: DataFrame, fdi: int) -> DataFrame:
    """BAL from PRE-CLASSIFIED veg/slope/aspect tile layers ('veg_r',
    'slope_r', 'aspect_r') — the reference's ``bal_cal`` entry point takes
    exactly these classified rasters (reference: calculate_bal.py:21-101,
    tests/test_scenario.py:40-77), so scenario-style inputs skip the
    DEM-derivation stage. Same border-strip halo plan as
    :func:`bal_tiles`."""
    contribs = emit_border_strips(tiles)

    def per_tile(tx: int, ty: int, tbl: pa.Table):
        got = [_assemble_arrow(tbl, lay, DEFAULT_HALO)
               for lay in ("veg_r", "slope_r", "aspect_r")]
        if any(g is None for g in got):
            return None
        (veg_pad, present, meta), (slope_pad, _, _), (aspect_pad, _, _) = got
        n, m, h = meta["nrows"], meta["ncols"], meta["halo"]
        arrs, present_c, core_r, core_c = _crop_absent_sides(
            [veg_pad, slope_pad, aspect_pad], present, h, n, m)
        veg_c, slope_c, aspect_c = arrs
        outs = kernels.bal_all_directions(
            veg_c, slope_c, aspect_c, meta["pixel_m"], fdi,
            present=present_c)
        sl = (slice(core_r, core_r + n), slice(core_c, core_c + m))
        cols = [pa.array([tx], pa.int32()), pa.array([ty], pa.int32()),
                pa.array([meta["x0"]], pa.float64()),
                pa.array([meta["y0"]], pa.float64()),
                pa.array([meta["pixel_m"]], pa.float64()),
                pa.array([n], pa.int32()), pa.array([m], pa.int32())]
        for d in _BAL_DIRS:
            cols.append(_float_list_array(
                [outs[d][sl].astype(np.float32)]))
        return pa.Table.from_arrays(cols, schema=_PA_BAL)

    return _per_tile_apply(contribs, per_tile, _BAL_DDL)


_PA_BAL_MAX = pa.schema([
    ("tile_x", pa.int32()), ("tile_y", pa.int32()), ("fdi", pa.int32()),
    ("x0", pa.float64()), ("y0", pa.float64()), ("pixel_m", pa.float64()),
    ("nrows", pa.int32()), ("ncols", pa.int32()),
    ("bal_max", pa.list_(pa.float32()))])

_BAL_MAX_DDL = ("tile_x INT, tile_y INT, fdi INT, x0 DOUBLE, y0 DOUBLE, "
                "pixel_m DOUBLE, nrows INT, ncols INT, "
                "bal_max ARRAY<FLOAT>")


def bal_max_tiles(tiles: DataFrame, fdis=(100, 80, 50, 40)) -> DataFrame:
    """Multi-FDI serving variant: one bal_max layer per FDI per tile, all
    four AS 3959 FDI values computed in a single pass (slope/aspect and
    reclassification amortized across FDIs). This is the precompute that
    lets per-address queries with heterogeneous FDIs read a raster answer
    directly; the reference runs its whole pipeline once per FDI input
    (reference: bal.py:345-350)."""
    contribs = emit_border_strips(tiles)
    aspect_remap_s = ASPECT_REMAP
    slope_remap_s = slope_remap(90.0)
    fdis = tuple(int(f) for f in fdis)

    def per_tile(tx: int, ty: int, tbl: pa.Table):
        dem = _assemble_arrow(tbl, "dem", DEFAULT_HALO)
        veg = _assemble_arrow(tbl, "veg", DEFAULT_HALO)
        if dem is None or veg is None:
            return None
        dem_pad, present, meta = dem
        veg_pad, _, _ = veg
        n, m, h = meta["nrows"], meta["ncols"], meta["halo"]
        (dem_c, veg_c), present_c, core_r, core_c = _crop_absent_sides(
            [dem_pad, veg_pad], present, h, n, m)
        slope_deg, aspect_deg = kernels.cal_slope_aspect_vec(
            dem_c, meta["pixel_m"], meta["pixel_m"])
        veg_r = kernels.reclassify_vec(veg_c, VEG_REMAP).astype(np.float64)
        aspect_r = kernels.reclassify_vec(aspect_deg, aspect_remap_s) \
            .astype(np.float64)
        slope_r = kernels.reclassify_vec(slope_deg, slope_remap_s) \
            .astype(np.float64)
        sl = (slice(core_r, core_r + n), slice(core_c, core_c + m))
        maxes = []
        for fdi in fdis:
            outs = kernels.bal_all_directions(
                veg_r, slope_r, aspect_r, meta["pixel_m"], fdi,
                present=present_c)
            maxes.append(outs["max"][sl].astype(np.float32))
        k = len(fdis)
        return pa.Table.from_arrays([
            pa.array([tx] * k, pa.int32()),
            pa.array([ty] * k, pa.int32()),
            pa.array(list(fdis), pa.int32()),
            pa.array([meta["x0"]] * k, pa.float64()),
            pa.array([meta["y0"]] * k, pa.float64()),
            pa.array([meta["pixel_m"]] * k, pa.float64()),
            pa.array([n] * k, pa.int32()), pa.array([m] * k, pa.int32()),
            _float_list_array(maxes),
        ], schema=_PA_BAL_MAX)

    return _per_tile_apply(contribs, per_tile, _BAL_MAX_DDL)


def slope_aspect_tiles(tiles: DataFrame, halo: int = DEFAULT_HALO,
                       classify: bool = True) -> DataFrame:
    """Derive slope/aspect tile layers from DEM tiles (R4 + R5/R6), halo-
    exact like :func:`bal_tiles`. Emits two rows per tile with
    layer 'slope_r'/'aspect_r' (classified) or 'slope'/'aspect' (degrees),
    same TILES schema (reference: bal.py:76-143 get_slope_aspect)."""
    dem = tiles.filter(F.col("layer") == "dem")
    contribs = emit_border_strips(dem, halo)
    aspect_remap_s = ASPECT_REMAP
    slope_remap_s = slope_remap(90.0)

    pa_tiles = pa.schema([
        ("media_ref", pa.string()), ("layer", pa.string()),
        ("tile_x", pa.int32()), ("tile_y", pa.int32()),
        ("x0", pa.float64()), ("y0", pa.float64()),
        ("pixel_m", pa.float64()), ("nrows", pa.int32()),
        ("ncols", pa.int32()), ("data", pa.list_(pa.float32()))])

    def per_tile(tx: int, ty: int, tbl: pa.Table):
        got = _assemble_arrow(tbl, "dem", halo)
        if got is None:
            return None
        dem_pad, present, meta = got
        n, m, h = meta["nrows"], meta["ncols"], meta["halo"]
        (dem_c,), present_c, core_r, core_c = _crop_absent_sides(
            [dem_pad], present, h, n, m)
        slope_deg, aspect_deg = kernels.cal_slope_aspect_vec(
            dem_c, meta["pixel_m"], meta["pixel_m"])
        if classify:
            slope_out = kernels.reclassify_vec(slope_deg, slope_remap_s)
            aspect_out = kernels.reclassify_vec(aspect_deg, aspect_remap_s)
            names = ("slope_r", "aspect_r")
        else:
            slope_out, aspect_out = slope_deg, aspect_deg
            names = ("slope", "aspect")
        sl = (slice(core_r, core_r + n), slice(core_c, core_c + m))
        return pa.Table.from_arrays([
            pa.array([f"{names[0]}/{tx}/{ty}", f"{names[1]}/{tx}/{ty}"]),
            pa.array(list(names)),
            pa.array([tx, tx], pa.int32()), pa.array([ty, ty], pa.int32()),
            pa.array([meta["x0"]] * 2, pa.float64()),
            pa.array([meta["y0"]] * 2, pa.float64()),
            pa.array([meta["pixel_m"]] * 2, pa.float64()),
            pa.array([n, n], pa.int32()), pa.array([m, m], pa.int32()),
            _float_list_array([slope_out[sl].astype(np.float32),
                               aspect_out[sl].astype(np.float32)]),
        ], schema=pa_tiles)

    ddl = ("media_ref STRING, layer STRING, tile_x INT, tile_y INT, "
           "x0 DOUBLE, y0 DOUBLE, pixel_m DOUBLE, nrows INT, ncols INT, "
           "data ARRAY<FLOAT>")
    return _per_tile_apply(contribs, per_tile, ddl)


def build_pyramid(tiles: DataFrame, levels: int = 3,
                  factor: int = 2) -> DataFrame:
    """S11 overview pyramid: union of ``levels`` block-mean downsamples
    (level 0 = source, level k at pixel_m * factor^k) — the COG-overview
    analogue built per tile with no global raster (reference builds
    raster pyramids during mosaic,
    data_prep/images/ga_5m/01_mosaic...py:245-266). Output adds a
    ``level`` column; each level is produced by regridding the PREVIOUS
    one, so total extra work is a geometric series (~1/3 of the base)."""
    out = tiles.withColumn("level", F.lit(0))
    cur = tiles
    for lv in range(1, levels + 1):
        cur = regrid_tiles(cur, factor=factor)
        out = out.unionByName(cur.withColumn("level", F.lit(lv)))
    return out


def find_aoi_mask(tiles: DataFrame, extent: str | None = None,
                  dem_layer: str = "dem",
                  veg_layer: str = "veg") -> DataFrame:
    """The reference's find_aoi (bal.py:281-323): a keyword extent —
    DEFAULT, MAXOF or MINOF, which all take the SAME branch in the
    reference (bal.py:304, a preserved quirk) — returns the intersection
    of the DEM and vegetation footprints; an explicit ``"xmin ymin xmax
    ymax ..."`` string returns that box (get_extent_mask, bal.py:233-256).

    Footprints here are the union of tile rectangles per layer
    (RasterDomain analogue), so the intersection is the per-tile rectangle
    overlap of tiles present in BOTH layers — one equi-join on the tile
    key, no geometry UDF. Output: (tile_x, tile_y, xmin, ymin, xmax, ymax);
    the explicit-extent branch yields one row with a null tile key.
    """
    if extent is not None and str(extent).strip() not in (
            "DEFAULT", "MAXOF", "MINOF"):
        vals = [float(v) for v in str(extent).split()[:4]]
        spark = tiles.sparkSession
        row = spark.createDataFrame(
            [(None, None, vals[0], vals[1], vals[2], vals[3])],
            "tile_x INT, tile_y INT, xmin DOUBLE, ymin DOUBLE, "
            "xmax DOUBLE, ymax DOUBLE")
        return row

    def rects(layer):
        return (tiles.filter(F.col("layer") == layer)
                .select("tile_x", "tile_y",
                        F.col("x0").alias("rx0"), F.col("y0").alias("ry0"),
                        (F.col("x0") + F.col("ncols") * F.col("pixel_m"))
                        .alias("rx1"),
                        (F.col("y0") + F.col("nrows") * F.col("pixel_m"))
                        .alias("ry1")))

    d = rects(dem_layer)
    v = rects(veg_layer).withColumnsRenamed(
        {"rx0": "vx0", "ry0": "vy0", "rx1": "vx1", "ry1": "vy1"})
    j = d.join(v, ["tile_x", "tile_y"])
    return j.select(
        "tile_x", "tile_y",
        F.greatest("rx0", "vx0").alias("xmin"),
        F.greatest("ry0", "vy0").alias("ymin"),
        F.least("rx1", "vx1").alias("xmax"),
        F.least("ry1", "vy1").alias("ymax")) \
        .filter((F.col("xmax") > F.col("xmin"))
                & (F.col("ymax") > F.col("ymin")))


def reclassify_tiles(tiles: DataFrame, remap: str,
                     layer: str | None = None) -> DataFrame:
    """Standalone R1 reclassify over tile arrays (same row schema out)."""
    out_schema = tiles.schema

    def gen(batches):
        for pdf in batches:
            keep = pdf if layer is None else pdf[pdf.layer == layer]
            rows = []
            for r in keep.itertuples():
                arr = np.asarray(r.data, dtype=np.float64)
                rows.append({
                    "media_ref": r.media_ref, "layer": r.layer,
                    "tile_x": r.tile_x, "tile_y": r.tile_y,
                    "x0": r.x0, "y0": r.y0, "pixel_m": r.pixel_m,
                    "nrows": r.nrows, "ncols": r.ncols,
                    "data": kernels.reclassify_vec(arr, remap)
                    .astype(np.float32),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return tiles.mapInPandas(gen, schema=out_schema)


def extract_by_mask_tiles(tiles: DataFrame, mask_wkt: str,
                          layer: str | None = None) -> DataFrame:
    """R3 extract_by_mask: rasterize a polygon mask at each tile's grid and
    nodata-out cells outside it (reference: sa_tools.py:48-136). The
    pixel-inclusion rule is pixel-centre-in-polygon (the engine's
    rasterization contract); tiles whose bbox misses the mask are pruned
    JVM-side before any UDF runs (partition-pruning analogue of the
    reference's effective-extent clamp, sa_tools.py:86-108)."""
    from . import geometry
    ring = geometry.parse_wkt(mask_wkt)[0]
    xmin, ymin, xmax, ymax = geometry.bbox(ring)

    src = tiles if layer is None else tiles.filter(F.col("layer") == layer)
    # bbox prune: tile extent [x0, x0 + ncols*px) x [y0, y0 + nrows*px)
    src = src.filter(
        (F.col("x0") < xmax)
        & (F.col("x0") + F.col("ncols") * F.col("pixel_m") > xmin)
        & (F.col("y0") < ymax)
        & (F.col("y0") + F.col("nrows") * F.col("pixel_m") > ymin))
    out_schema = src.schema

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                n, m = int(r.nrows), int(r.ncols)
                arr = np.asarray(r.data, dtype=np.float64).reshape(n, m)
                px = float(r.pixel_m)
                xs = r.x0 + (np.arange(m) + 0.5) * px
                ys = r.y0 + (n - np.arange(n) - 0.5) * px
                xg, yg = np.meshgrid(xs, ys)
                inside = geometry.points_in_ring(
                    xg.ravel(), yg.ravel(), ring).reshape(n, m)
                rows.append({
                    "media_ref": r.media_ref, "layer": r.layer,
                    "tile_x": r.tile_x, "tile_y": r.tile_y,
                    "x0": r.x0, "y0": r.y0, "pixel_m": r.pixel_m,
                    "nrows": n, "ncols": m,
                    "data": np.where(inside, arr, NODATA)
                    .astype(np.float32).ravel()})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return src.mapInPandas(gen, schema=out_schema)


def regrid_tiles(tiles: DataFrame, factor: int = 2) -> DataFrame:
    """S10 re-grid: resample each tile to a coarser grid by block-mean
    (nodata-aware) — the mosaic/warp analogue done per tile, no global
    raster (reference: data_prep/images/ga_5m/01_mosaic...py:245-266).
    Output tiles keep their origin with pixel_m * factor."""
    out_schema = tiles.schema

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                n, m = int(r.nrows), int(r.ncols)
                f2 = factor
                nn, mm = n // f2, m // f2
                arr = np.asarray(r.data, dtype=np.float64).reshape(n, m)
                blocks = arr[:nn * f2, :mm * f2] \
                    .reshape(nn, f2, mm, f2).transpose(0, 2, 1, 3) \
                    .reshape(nn, mm, f2 * f2)
                valid = blocks != NODATA
                cnt = valid.sum(axis=2)
                s = np.where(valid, blocks, 0.0).sum(axis=2)
                out = np.where(cnt > 0, s / np.maximum(cnt, 1), NODATA)
                rows.append({
                    "media_ref": r.media_ref, "layer": r.layer,
                    "tile_x": r.tile_x, "tile_y": r.tile_y,
                    "x0": r.x0, "y0": r.y0,
                    "pixel_m": r.pixel_m * f2,
                    "nrows": nn, "ncols": mm,
                    "data": out.astype(np.float32).ravel()})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return tiles.mapInPandas(gen, schema=out_schema)


# ---------------------------------------------------------------------------
# raster -> vector polygonization (the north star's "vegetation-class
# raster -> vector polygonization"; reference ingests pre-vectorized NVIS
# shapefiles via ogr2ogr — data_prep/vegetation/xx_import_nvis_polygons.sh —
# so this is the GDAL polygonize step of that prep expressed Spark-first)

def polygonize_tiles(tiles: DataFrame) -> DataFrame:
    """Stage 1 of polygonize: per-tile horizontal runs of constant class in
    GLOBAL integer pixel indices. All pixel-volume work happens here,
    vectorized per tile with no shuffle; output rows are RUNS (one per
    maximal same-class row segment inside a tile), typically orders of
    magnitude fewer than pixels.

    Global indices need no global reference: gcol = x0/pixel_m + col,
    grow counts from the SOUTH (grow = y0/pixel_m + (nrows-1 - local_row),
    data row 0 being the northernmost), assuming tiles are aligned to the
    pixel grid (they are: tile origins are integer multiples of the pixel
    size). Class values are read as rounded int64 (classified rasters)."""
    schema = StructType([
        StructField("v", LongType(), False),
        StructField("grow", LongType(), False),
        StructField("gcol0", LongType(), False),
        StructField("gcol1", LongType(), False),
        StructField("pixel_m", DoubleType(), False),
    ])

    def gen(batches):
        for pdf in batches:
            out = {"v": [], "grow": [], "gcol0": [], "gcol1": [],
                   "pixel_m": []}
            for r in pdf.itertuples():
                n, m = int(r.nrows), int(r.ncols)
                px = float(r.pixel_m)
                vals = np.rint(np.asarray(r.data, dtype=np.float64)
                               .reshape(n, m)).astype(np.int64)
                # run starts: col 0 of each row, plus every value change
                start = np.ones((n, m), dtype=bool)
                start[:, 1:] = vals[:, 1:] != vals[:, :-1]
                s = np.flatnonzero(start.ravel())
                e = np.append(s[1:], n * m) - 1   # runs never span rows
                x_off = int(round(float(r.x0) / px))
                y_off = int(round(float(r.y0) / px))
                out["v"].extend(vals.ravel()[s])
                out["grow"].extend(y_off + (n - 1 - s // m))
                out["gcol0"].extend(x_off + s % m)
                out["gcol1"].extend(x_off + e % m)
                out["pixel_m"].extend([px] * len(s))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(gen, schema=schema)


def polygonize_rects(runs: DataFrame) -> DataFrame:
    """Stage 2: merge runs into maximal rectangles with two gaps-and-islands
    window passes over RUN records — (1) stitch horizontally-adjacent runs
    across tile borders (partition by row+class, order by column), (2)
    coalesce vertically-adjacent identical runs (partition by class+column
    extent, order by row). Shuffled bytes are proportional to runs, not
    pixels, so the pass stays cheap at any raster volume; the result is a
    deterministic exact rectilinear decomposition per class (the standard
    maximal-run/vertical-stacking rule, same as the SQL oracle)."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("grow", "v").orderBy("gcol0")
    brk1 = F.when(
        F.col("gcol0") - F.lag("gcol1").over(w1) == 1, 0).otherwise(1)
    hm = (runs
          .withColumn("_isl", F.sum(brk1).over(
              w1.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("v", "grow", "_isl")
          .agg(F.min("gcol0").alias("gcol0"), F.max("gcol1").alias("gcol1"),
               F.min("pixel_m").alias("pixel_m"))
          .drop("_isl"))
    w2 = Window.partitionBy("v", "gcol0", "gcol1").orderBy("grow")
    brk2 = F.when(F.col("grow") - F.lag("grow").over(w2) == 1, 0).otherwise(1)
    rects = (hm
             .withColumn("_isl", F.sum(brk2).over(
                 w2.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy("v", "gcol0", "gcol1", "_isl")
             .agg(F.min("grow").alias("grow0"), F.max("grow").alias("grow1"),
                  F.min("pixel_m").alias("pixel_m")))
    n_px = ((F.col("gcol1") - F.col("gcol0") + 1)
            * (F.col("grow1") - F.col("grow0") + 1))
    return rects.select(
        F.col("v").alias("class_val"), "grow0", "grow1", "gcol0", "gcol1",
        "pixel_m", n_px.cast("long").alias("n_pixels"),
        (n_px * F.col("pixel_m") * F.col("pixel_m")).alias("area_m2"))


def polygonize_wkt(rects: DataFrame) -> DataFrame:
    """Rectangles -> polygon WKT in world metres, as a pure column
    expression (JVM-side; one row per rectangle piece). Downstream
    vector ops consume these directly — e.g. vector.dissolve_union over
    (class_val, wkt) reproduces per-class region areas exactly."""
    px = F.col("pixel_m") if "pixel_m" in rects.columns else F.lit(1.0)
    x0 = F.col("gcol0") * px
    x1 = (F.col("gcol1") + 1) * px
    y0 = F.col("grow0") * px
    y1 = (F.col("grow1") + 1) * px
    wkt = F.format_string(
        "POLYGON ((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f))",
        x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)
    return rects.withColumn("wkt", wkt)


_NID_OFF = 1 << 30
_NID_SHIFT = 1 << 31


def rect_nid():
    """Node-id Column for a polygonize rect: (grow0, gcol0) packed into
    one int64 with 31 bits + offset headroom per axis. Consumers joining
    back to :func:`polygonize_components` output must use THIS expression.
    (The earlier 21-bit pack collided once a grid exceeded 2^21 columns
    — a 1 m national mosaic — or had a negative origin, silently fusing
    unrelated components.)"""
    return ((F.col("grow0") + F.lit(_NID_OFF)) * F.lit(_NID_SHIFT)
            + F.col("gcol0") + F.lit(_NID_OFF))


def polygonize_components(rects: DataFrame, max_rounds: int = 20
                          ) -> DataFrame:
    """Connected-component labelling over the rectangle adjacency graph —
    the GDAL-polygonize feature-identity semantics (one label per
    4-connected same-class region). Spark-first shape:

    - node id = grow0 * 2^21 + gcol0 (rect top-left pixel — unique because
      rects are disjoint);
    - edges via two EQUI-joins on the shared boundary row/column (a.grow0
      == b.grow1 + 1, resp. a.gcol0 == b.gcol1 + 1, both keyed with the
      class) followed by an overlap filter — no inequality join;
    - iterative min-label propagation with pointer-jumping path
      compression (label <- min(label, neighbours' labels); then
      label <- label[label] repeated to fixpoint — each hop halves the
      label-forest height, so convergence is ~log(diameter) rounds
      rather than diameter), a stats-resetting localCheckpoint per step
      (session.local_checkpoint_fresh — a plain localCheckpoint lets the
      self-joins square the Catalyst size estimate every round until the
      driver stalls in BigInteger math), stop when no label changes.

    Returns (nid, class_val, component) — component = min node id of the
    region, deterministic."""
    from .session import local_checkpoint_fresh

    spark = rects.sparkSession
    # materialize the node set once: it feeds both sides of two adjacency
    # joins and the initial labels, which would otherwise each re-execute
    # the whole polygonize pipeline
    nodes = rects.select(
        rect_nid().alias("nid"),
        "class_val", "grow0", "grow1", "gcol0", "gcol1") \
        .localCheckpoint(eager=True)

    a, b = [nodes.alias(s) for s in "ab"]
    pair = [F.col("a.nid").alias("u"), F.col("b.nid").alias("v_")]
    vert = a.join(
        b, (F.col("a.class_val") == F.col("b.class_val"))
        & (F.col("a.grow0") == F.col("b.grow1") + 1)
        & (F.col("a.gcol0") <= F.col("b.gcol1"))
        & (F.col("b.gcol0") <= F.col("a.gcol1"))).select(*pair)
    horiz = a.join(
        b, (F.col("a.class_val") == F.col("b.class_val"))
        & (F.col("a.gcol0") == F.col("b.gcol1") + 1)
        & (F.col("a.grow0") <= F.col("b.grow1"))
        & (F.col("b.grow0") <= F.col("a.grow1"))).select(*pair)
    half = vert.unionByName(horiz)
    edges = half.unionByName(
        half.select(F.col("v_").alias("u"), F.col("u").alias("v_"))) \
        .localCheckpoint(eager=True)

    labels = nodes.select("nid", "class_val",
                          F.col("nid").alias("label"))
    for _ in range(max_rounds):
        # gather the min neighbour label per node
        nb = (edges.join(labels.select(F.col("nid").alias("v_"),
                                       F.col("label").alias("nb_label")),
                         "v_")
              .groupBy("u").agg(F.min("nb_label").alias("nb_min")))
        stepped = local_checkpoint_fresh(
            labels.select("nid", "class_val",
                          F.col("label").alias("old"))
            .join(nb, F.col("nid") == nb.u, "left")
            .select("nid", "class_val", "old",
                    F.least("old", F.coalesce("nb_min", "old"))
                    .alias("label")))
        # star contraction: each old label tree learns its members' best
        # newly-discovered min — this is what keeps the round count
        # logarithmic in component diameter (edge hops alone move the
        # min O(1) edges per round regardless of compression)
        treemin = stepped.groupBy("old").agg(F.min("label").alias("tm"))
        stepped = local_checkpoint_fresh(
            stepped.join(treemin, "old")
            .select("nid", "class_val",
                    F.least("label", "tm").alias("label")))
        # pointer jumping: label <- label(label) to fixpoint — O(log d)
        # hops on |V| label rows, never edges
        for _ in range(16):
            compressed = local_checkpoint_fresh(
                stepped.alias("s")
                .join(stepped.select(F.col("nid").alias("label"),
                                     F.col("label").alias("ll"))
                      .alias("t"), "label", "left")
                .select("nid", "class_val",
                        F.least("label", F.coalesce("ll", "label"))
                        .alias("label")))
            hop_changed = (compressed.alias("n")
                           .join(stepped.alias("o"), "nid")
                           .filter(F.col("n.label") != F.col("o.label"))
                           .limit(1).count())
            stepped = compressed
            if hop_changed == 0:
                break
        changed = (stepped.alias("n")
                   .join(labels.alias("o"), "nid")
                   .filter(F.col("n.label") != F.col("o.label")).limit(1)
                   .count())
        labels = stepped
        if changed == 0:
            break
    return labels.select("nid", "class_val",
                         F.col("label").alias("component"))


def sample_tiles_at_points(points: DataFrame, tiles: DataFrame,
                           tile_w_m: float, tile_h_m: float | None = None,
                           x="x", y="y") -> DataFrame:
    """Point sampling (the "raster value at this address" primitive,
    reference: testing/xx_get_elevation_aspect_slope.py point lookups) as
    PURE column math: tile ids from point coordinates -> equi-join on
    (tile_x, tile_y) -> pixel index arithmetic -> ``element_at`` on the
    tile's data array. No UDF, no explode — the whole operator stays
    inside whole-stage codegen, and the join broadcasts or hash-partitions
    like any other equi-join. Data row 0 is the tile's northernmost row
    (the engine's tile convention)."""
    if tile_h_m is None:
        tile_h_m = tile_w_m
    pts = points.withColumn(
        "tile_x", F.floor(F.col(x) / F.lit(tile_w_m)).cast("int")) \
        .withColumn("tile_y",
                    F.floor(F.col(y) / F.lit(tile_h_m)).cast("int"))
    j = pts.join(tiles, ["tile_x", "tile_y"])
    col_i = F.floor((F.col(x) - F.col("x0")) / F.col("pixel_m"))
    row_i = (F.col("nrows") - 1
             - F.floor((F.col(y) - F.col("y0")) / F.col("pixel_m")))
    idx = (row_i * F.col("ncols") + col_i + 1).cast("int")  # 1-based
    # bounds guard: a point inside the tile's GRID cell but outside its
    # DATA extent (short tile at a layer edge) must sample null — a
    # negative element_at index silently reads from the END of the array
    value = F.when(
        row_i.between(F.lit(0), F.col("nrows") - 1)
        & col_i.between(F.lit(0), F.col("ncols") - 1),
        F.element_at("data", idx))
    return j.select(*points.columns, "layer", value.alias("value"))
