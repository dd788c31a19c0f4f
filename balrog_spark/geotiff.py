"""Tiled GeoTIFF source/sink — the reference's raster store, Spark-first.

The reference keeps each national layer (DEM/slope/aspect/veg) as one
Cloud-Optimised GeoTIFF mosaic and reads it by windowed range requests
(reference: data_prep/images/ga_5m/01_mosaic_and_transform_images_in_one_go.py:251-253
`gdal.Warp(... "-of COG")`; testing/02_get_slope_from_buffer.py:50,204-206
windowed reads from S3). This module reproduces that access pattern with
no GDAL: the DRIVER reads only the few-KB IFD (header walk = the COG
header request), builds a tile manifest with byte ranges, prunes it to
the requested window, and EXECUTORS pread + decode only their tiles (the
range requests). At 100 TB that is the only shape that works — a scan
never touches bytes outside the window, and decode parallelism is the
tile manifest, not file count.

Format scope (clean-room from the public TIFF 6.0 + GeoTIFF 1.1
structure): tiled layout (TileWidth/TileLength/TileOffsets/
TileByteCounts), float32 and uint8 single-band samples, none/PackBits/
LZW compression (codecs shared with tiffcodec), II and MM byte order,
ModelPixelScale + ModelTiepoint georeferencing, GDAL-style ASCII nodata
tag. Encoder emits the same subset so tests roundtrip with no external
data.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as SqlWindow
from pyspark.sql import functions as F

from . import tiffcodec
from .schema import TILES

# tag ids (TIFF 6.0 §8 + GeoTIFF 1.1 §7; GDAL_NODATA is GDAL's published
# ASCII tag)
_W, _H = 256, 257
_BITS, _COMP, _PHOTO = 258, 259, 262
_SPP, _PLANAR = 277, 284
_TILE_W, _TILE_H, _TILE_OFF, _TILE_CNT = 322, 323, 324, 325
_SAMPLE_FORMAT = 339
_MODEL_PIXEL_SCALE, _MODEL_TIEPOINT = 33550, 33922
_GEO_KEY_DIR = 34735
_GEO_DOUBLES = 34736
_GDAL_NODATA = 42113

# GeoKey ids (GeoTIFF 1.1 §6-7) and coordinate-transform codes for the
# projections the engine's geodesy module implements
_CT_CODE = {"tm": 1, "lcc": 8, "albers": 11}
_CT_NAME = {v: k for k, v in _CT_CODE.items()}

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 12: 8, 16: 8, 17: 8, 18: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 12: "d", 16: "Q", 17: "q", 18: "Q"}


@dataclass
class GeoTiffInfo:
    width: int
    height: int
    tile_w: int
    tile_h: int
    offsets: list
    counts: list
    compression: int
    dtype: str               # "f4" | "u1"
    bo: str                  # "<" | ">"
    pixel_x: float
    pixel_y: float
    x0: float                # west edge
    y_top: float             # north edge
    nodata: float | None
    crs: object = None       # None | EPSG int | {"proj": ..., params}

    @property
    def tiles_x(self) -> int:
        return -(-self.width // self.tile_w)

    @property
    def tiles_y(self) -> int:
        return -(-self.height // self.tile_h)


def _pread(f, off: int, n: int) -> bytes:
    f.seek(off)
    return f.read(n)


def read_info(f, level: int = 0) -> GeoTiffInfo:
    """Parse the IFD from an open binary file-like via seek/read only —
    the local analogue of a COG's ranged header request (never reads tile
    data). ``level`` walks the chained overview IFDs: 0 = full
    resolution, k = the k-th reduced-resolution overview (each carries
    its own scaled geo tags)."""
    head = _pread(f, 0, 16)
    if head[:2] == b"II":
        bo = "<"
    elif head[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    version = struct.unpack(bo + "H", head[2:4])[0]
    if version == 42:                                # classic TIFF
        big = False
        ifd_off = struct.unpack(bo + "I", head[4:8])[0]
    elif version == 43:                              # BigTIFF
        # bytes 4-5: offset size (always 8), 6-7: zero pad
        if struct.unpack(bo + "HH", head[4:8]) != (8, 0):
            raise ValueError("malformed BigTIFF header")
        big = True
        ifd_off = struct.unpack(bo + "Q", head[8:16])[0]
    else:
        raise ValueError("bad TIFF magic")
    for _ in range(level):                           # walk overview chain
        if big:
            n = struct.unpack(bo + "Q", _pread(f, ifd_off, 8))[0]
            ifd_off = struct.unpack(
                bo + "Q", _pread(f, ifd_off + 8 + 20 * n, 8))[0]
        else:
            n = struct.unpack(bo + "H", _pread(f, ifd_off, 2))[0]
            ifd_off = struct.unpack(
                bo + "I", _pread(f, ifd_off + 2 + 12 * n, 4))[0]
        if ifd_off == 0:
            raise ValueError(f"overview level {level} not present")
    if big:
        n = struct.unpack(bo + "Q", _pread(f, ifd_off, 8))[0]
        entries = _pread(f, ifd_off + 8, 20 * n)
        esize, inline, cfmt, ofmt = 20, 8, "Q", "Q"
    else:
        n = struct.unpack(bo + "H", _pread(f, ifd_off, 2))[0]
        entries = _pread(f, ifd_off + 2, 12 * n)
        esize, inline, cfmt, ofmt = 12, 4, "I", "I"
    tags = {}
    for i in range(n):
        e = entries[esize * i:esize * (i + 1)]
        tag, typ = struct.unpack(bo + "HH", e[:4])
        cnt = struct.unpack(bo + cfmt, e[4:4 + len(struct.pack(
            bo + cfmt, 0))])[0]
        if typ not in _TYPE_SIZE:
            continue
        size = _TYPE_SIZE[typ] * cnt
        val = e[esize - inline:esize]
        raw = val[:size] if size <= inline else _pread(
            f, struct.unpack(bo + ofmt, val)[0], size)
        if typ == 2:
            tags[tag] = raw[:size]
        elif typ == 5:
            # RATIONAL: numerator/denominator u32 pairs (XResolution
            # etc, written by most external encoders) -> floats;
            # previously KeyError'd the whole file open
            parts = struct.unpack(bo + f"{2 * cnt}I", raw[:size])
            tags[tag] = [parts[j] / parts[j + 1] if parts[j + 1] else 0.0
                         for j in range(0, 2 * cnt, 2)]
        else:
            tags[tag] = list(struct.unpack(
                bo + f"{cnt}{_TYPE_FMT[typ]}", raw[:size]))
    for req in (_W, _H, _TILE_W, _TILE_H, _TILE_OFF, _TILE_CNT):
        if req not in tags:
            raise ValueError(f"not a tiled GeoTIFF (missing tag {req})")
    if tags.get(_SPP, [1])[0] != 1:
        raise ValueError("single-band rasters only")
    if tags.get(_PLANAR, [1])[0] != 1:
        raise ValueError("planar configuration 2 unsupported")
    bits = tags.get(_BITS, [8])[0]
    fmt = tags.get(_SAMPLE_FORMAT, [1])[0]
    if (bits, fmt) == (32, 3):
        dtype = "f4"
    elif (bits, fmt) == (8, 1):
        dtype = "u1"
    else:
        raise ValueError(f"unsupported sample layout bits={bits} fmt={fmt}")
    comp = tags.get(_COMP, [1])[0]
    if comp not in (1, 5, 32773):
        raise ValueError(f"unsupported compression {comp}")
    scale = tags.get(_MODEL_PIXEL_SCALE)
    tie = tags.get(_MODEL_TIEPOINT)
    if not scale or not tie or len(tie) < 6:
        raise ValueError("missing GeoTIFF georeferencing tags")
    nodata = None
    if _GDAL_NODATA in tags:
        nodata = float(tags[_GDAL_NODATA].split(b"\x00")[0])
    # tiepoint: raster (i, j, k) -> model (x, y, z); emitted at (0, 0)
    x0 = tie[3] - tie[0] * scale[0]
    y_top = tie[4] + tie[1] * scale[1]
    return GeoTiffInfo(
        width=tags[_W][0], height=tags[_H][0],
        tile_w=tags[_TILE_W][0], tile_h=tags[_TILE_H][0],
        offsets=tags[_TILE_OFF], counts=tags[_TILE_CNT],
        compression=comp, dtype=dtype, bo=bo,
        pixel_x=float(scale[0]), pixel_y=float(scale[1]),
        x0=float(x0), y_top=float(y_top), nodata=nodata,
        crs=_parse_geokeys(tags))


def _parse_geokeys(tags: dict):
    """GeoKeyDirectory (+ GeoDoubleParams) -> the engine's CRS value:
    an EPSG int (ProjectedCSType set and not user-defined), a param
    dict for a user-defined TM/Albers/LCC, else None."""
    gk = tags.get(_GEO_KEY_DIR)
    if not gk or len(gk) < 4:
        return None
    doubles = tags.get(_GEO_DOUBLES, [])
    kv = {}
    for i in range(gk[3]):
        kid, loc, cnt, val = gk[4 + 4 * i:8 + 4 * i]
        if loc == 0:
            kv[kid] = val
        elif loc == _GEO_DOUBLES and val + cnt <= len(doubles):
            kv[kid] = doubles[val] if cnt == 1 else doubles[val:val + cnt]
    pcs = kv.get(3072)                    # ProjectedCSTypeGeoKey
    if pcs is not None and pcs != 32767:
        return int(pcs)
    name = _CT_NAME.get(kv.get(3075))     # ProjCoordTransGeoKey
    if name == "tm":
        return {"proj": "tm", "lon0": kv.get(3080, 0.0),
                "lat0": kv.get(3081, 0.0), "fe": kv.get(3082, 0.0),
                "fn": kv.get(3083, 0.0), "k0": kv.get(3092, 1.0)}
    if name in ("albers", "lcc"):
        return {"proj": name, "lat1": kv.get(3078, 0.0),
                "lat2": kv.get(3079, 0.0), "lon0": kv.get(3080, 0.0),
                "lat0": kv.get(3081, 0.0), "fe": kv.get(3082, 0.0),
                "fn": kv.get(3083, 0.0)}
    return None


def _geokey_entries(crs):
    """CRS value -> IFD entries: the GeoKeyDirectory (sorted by key id,
    version 1.1.0) and, for param dicts, the GeoDoubleParams array."""
    doubles = []
    if crs is None:
        keys = [(1025, 0, 1, 1)]           # raster type: PixelIsArea
    elif isinstance(crs, int):
        keys = [(1024, 0, 1, 1), (1025, 0, 1, 1),
                (3072, 0, 1, int(crs)), (3076, 0, 1, 9001)]
    else:
        ct = _CT_CODE[crs["proj"]]
        keys = [(1024, 0, 1, 1), (1025, 0, 1, 1),
                (2048, 0, 1, 4283),        # GDA94 geographic (GRS80)
                (3072, 0, 1, 32767), (3074, 0, 1, 32767),
                (3075, 0, 1, ct), (3076, 0, 1, 9001)]

        def dbl(kid, v):
            keys.append((kid, _GEO_DOUBLES, 1, len(doubles)))
            doubles.append(float(v))

        if crs["proj"] == "tm":
            dbl(3080, crs["lon0"])
            dbl(3081, crs.get("lat0", 0.0))
            dbl(3082, crs.get("fe", 500000.0))
            dbl(3083, crs.get("fn", 10000000.0))
            dbl(3092, crs.get("k0", 0.9996))
        else:
            dbl(3078, crs["lat1"])
            dbl(3079, crs["lat2"])
            dbl(3080, crs["lon0"])
            dbl(3081, crs.get("lat0", 0.0))
            dbl(3082, crs.get("fe", 0.0))
            dbl(3083, crs.get("fn", 0.0))
    keys.sort()
    dir_vals = [1, 1, 0, len(keys)] + [v for k in keys for v in k]
    out = [(_GEO_KEY_DIR, 3, dir_vals)]
    if doubles:
        out.append((_GEO_DOUBLES, 12, doubles))
    return out


def decode_tile(raw: bytes, info: GeoTiffInfo) -> np.ndarray:
    """One tile's byte range -> (tile_h, tile_w) array (edge padding NOT
    cropped — the caller knows the image bounds)."""
    npx = info.tile_w * info.tile_h
    nbytes = npx * (4 if info.dtype == "f4" else 1)
    if info.compression == 5:
        raw = tiffcodec.lzw_decode(raw, nbytes)
    elif info.compression == 32773:
        raw = tiffcodec.unpackbits_decode(raw, nbytes)
    arr = np.frombuffer(raw[:nbytes], dtype=info.bo + info.dtype)
    return arr.reshape(info.tile_h, info.tile_w)


def num_levels(f) -> int:
    """Count the IFDs in the chain (1 + number of overviews) by walking
    next-IFD pointers — header bytes only."""
    head = _pread(f, 0, 16)
    bo = "<" if head[:2] == b"II" else ">"
    big = struct.unpack(bo + "H", head[2:4])[0] == 43
    if big:
        off = struct.unpack(bo + "Q", head[8:16])[0]
    else:
        off = struct.unpack(bo + "I", head[4:8])[0]
    n_levels = 0
    while off:
        n_levels += 1
        if big:
            n = struct.unpack(bo + "Q", _pread(f, off, 8))[0]
            off = struct.unpack(bo + "Q",
                                _pread(f, off + 8 + 20 * n, 8))[0]
        else:
            n = struct.unpack(bo + "H", _pread(f, off, 2))[0]
            off = struct.unpack(bo + "I",
                                _pread(f, off + 2 + 12 * n, 4))[0]
    return n_levels


def read_window(f, x_min: float, y_min: float, x_max: float,
                y_max: float, level: int = 0, info=None):
    """Driver-side windowed read: decode ONLY the tiles intersecting the
    model-space window (the reference's `02_get_slope_from_buffer.py`
    S3-range pattern). Returns (array, west_x, top_y) of the covered
    pixel block. ``level`` selects an overview IFD (coarser pixels,
    fewer bytes). Pass a pre-parsed ``info`` to skip the header walk —
    against remote storage each IFD parse is seek/read round-trips, and
    the serving path already holds one."""
    if info is None:
        info = read_info(f, level=level)
    c0, c1, r0, r1 = _window_tiles(info, x_min, y_min, x_max, y_max)
    if c0 > c1 or r0 > r1:
        return np.zeros((0, 0), info.dtype), info.x0, info.y_top
    out = np.zeros(((r1 - r0 + 1) * info.tile_h,
                    (c1 - c0 + 1) * info.tile_w), info.dtype)
    for tr in range(r0, r1 + 1):
        for tc in range(c0, c1 + 1):
            idx = tr * info.tiles_x + tc
            raw = _pread(f, info.offsets[idx], info.counts[idx])
            out[(tr - r0) * info.tile_h:(tr - r0 + 1) * info.tile_h,
                (tc - c0) * info.tile_w:(tc - c0 + 1) * info.tile_w] \
                = decode_tile(raw, info)
    # crop image-edge padding
    h_eff = min((r1 + 1) * info.tile_h, info.height) - r0 * info.tile_h
    w_eff = min((c1 + 1) * info.tile_w, info.width) - c0 * info.tile_w
    out = out[:h_eff, :w_eff]
    return (out, info.x0 + c0 * info.tile_w * info.pixel_x,
            info.y_top - r0 * info.tile_h * info.pixel_y)


def _window_tiles(info: GeoTiffInfo, x_min, y_min, x_max, y_max):
    """Inclusive tile column/row range intersecting a model-space bbox."""
    c0 = max(0, int(np.floor((x_min - info.x0)
                             / (info.tile_w * info.pixel_x))))
    c1 = min(info.tiles_x - 1,
             int(np.floor((x_max - info.x0)
                          / (info.tile_w * info.pixel_x) - 1e-12)))
    r0 = max(0, int(np.floor((info.y_top - y_max)
                             / (info.tile_h * info.pixel_y))))
    r1 = min(info.tiles_y - 1,
             int(np.floor((info.y_top - y_min)
                          / (info.tile_h * info.pixel_y) - 1e-12)))
    return c0, c1, r0, r1


# --- Spark source -----------------------------------------------------------

def geotiff_tiles(spark, path: str, layer: str, bbox=None,
                  nodata_to: float | None = -99.0, level: int = 0):
    """Tiled GeoTIFF file -> engine TILES DataFrame.

    The driver parses the IFD (KB-scale) and builds the tile manifest;
    window pruning (``bbox = (x_min, y_min, x_max, y_max)``) drops
    manifest rows BEFORE any data byte moves — the COG promise. Executors
    pread exactly their tiles' byte ranges and decode with the shared
    numpy codecs; the file's nodata value is remapped to ``nodata_to``
    (the engine's -99 sentinel, same normalization the HFA ingest does).

    Engine tile convention: row 0 of ``data`` is the NORTHERN row, ``y0``
    the southern edge; ``tile_y`` increases northward, so TIFF tile row r
    maps to ``tiles_y - 1 - r`` and halo adjacency keeps working.
    """
    with open(path, "rb") as f:
        info = read_info(f, level=level)
    rows = []
    for tr in range(info.tiles_y):
        for tc in range(info.tiles_x):
            tx0 = info.x0 + tc * info.tile_w * info.pixel_x
            ncols = min(info.tile_w, info.width - tc * info.tile_w)
            nrows = min(info.tile_h, info.height - tr * info.tile_h)
            ty_top = info.y_top - tr * info.tile_h * info.pixel_y
            ty0 = ty_top - nrows * info.pixel_y
            if bbox is not None:
                if tx0 + ncols * info.pixel_x <= bbox[0] \
                        or tx0 >= bbox[2] \
                        or ty_top <= bbox[1] or ty0 >= bbox[3]:
                    continue
            idx = tr * info.tiles_x + tc
            rows.append((idx, tc, info.tiles_y - 1 - tr,
                         info.offsets[idx], info.counts[idx],
                         float(tx0), float(ty0), nrows, ncols))
    manifest = pd.DataFrame(
        rows, columns=["idx", "tile_x", "tile_y", "offset", "count",
                       "x0", "y0", "nrows", "ncols"])
    if manifest.empty:
        # a window fully outside the raster extent is a routine
        # coverage probe, not an error: empty TILES frame (the
        # all-object empty pandas frame otherwise fails schema
        # inference inside createDataFrame)
        return spark.createDataFrame([], schema=TILES)
    mdf = spark.createDataFrame(manifest) \
        .repartition(spark.sparkContext.defaultParallelism)

    nodata = info.nodata

    def fetch(batches):
        # close when the task's iterator is exhausted (or errors) —
        # long-lived executors scanning many partitions must not
        # accumulate open fds waiting for generator GC
        with open(path, "rb") as f:
            for pdf in batches:
                out = {c: [] for c in
                       ("media_ref", "layer", "tile_x", "tile_y", "x0",
                        "y0", "pixel_m", "nrows", "ncols", "data")}
                for r in pdf.itertuples():
                    raw = _pread(f, int(r.offset), int(r.count))
                    arr = decode_tile(raw, info)[:r.nrows, :r.ncols] \
                        .astype(np.float32)
                    if nodata is not None and nodata_to is not None:
                        arr = np.where(arr == np.float32(nodata),
                                       np.float32(nodata_to), arr)
                    out["media_ref"].append(
                        f"geotiff:{path}@{level}#{r.idx}")
                    out["layer"].append(layer)
                    out["tile_x"].append(int(r.tile_x))
                    out["tile_y"].append(int(r.tile_y))
                    out["x0"].append(float(r.x0))
                    out["y0"].append(float(r.y0))
                    out["pixel_m"].append(float(info.pixel_x))
                    out["nrows"].append(int(r.nrows))
                    out["ncols"].append(int(r.ncols))
                    out["data"].append(arr.ravel())
                yield pd.DataFrame(out)
    return mdf.mapInPandas(fetch, schema=TILES)


# --- encoder ----------------------------------------------------------------

_SUBFILE_TYPE = 254            # NewSubfileType: 1 = reduced-res overview


def _downsample2(arr: np.ndarray, nodata: float | None) -> np.ndarray:
    """2x block mean excluding nodata (GDAL 'average' semantics): cells
    whose whole 2x2 block is nodata stay nodata; edge blocks average the
    pixels that exist. uint8 rounds to nearest."""
    h, w = arr.shape
    oh, ow = -(-h // 2), -(-w // 2)
    pad = np.full((oh * 2, ow * 2), np.nan)
    pad[:h, :w] = arr.astype(np.float64)
    if nodata is not None:
        pad[pad == float(nodata)] = np.nan
    blocks = pad.reshape(oh, 2, ow, 2).transpose(0, 2, 1, 3) \
        .reshape(oh, ow, 4)
    n_ok = np.sum(~np.isnan(blocks), axis=2)
    mean = np.nansum(blocks, axis=2) / np.maximum(n_ok, 1)
    fill = float(nodata) if nodata is not None else 0.0
    mean = np.where(n_ok == 0, fill, mean)
    if arr.dtype == np.uint8:
        return np.clip(np.round(mean), 0, 255).astype(np.uint8)
    return mean.astype(np.float32)


def encode_geotiff(arr: np.ndarray, x0: float, y_top: float,
                   pixel_m: float, tile: int = 64, compression: int = 1,
                   nodata: float | None = None, bo: str = "<",
                   bigtiff: bool = False, overviews: int = 0,
                   crs=None) -> bytes:
    """(h, w) float32 or uint8 array -> tiled GeoTIFF bytes. ``x0`` is
    the west edge, ``y_top`` the north edge (row 0 = northern row),
    square pixels. ``compression``: 1 none, 5 LZW, 32773 PackBits.
    ``bigtiff=True`` writes BigTIFF (version 43, 8-byte offsets) — what
    a real >4 GB national COG mosaic must be; classic TIFF's u32
    offsets cap the file at 4 GB. ``overviews=k`` appends k chained
    reduced-resolution IFDs (2x block-mean each, NewSubfileType=1, geo
    tags scaled per level) — the 'O' in COG: a zoomed-out read touches
    the small overview, never the full-res tiles. ``crs`` stamps the
    GeoKeyDirectory so granule interchange keeps the datum (the
    reference's mosaics carry it via ``gdal.Warp -t_srs``,
    ga_5m/01_mosaic...py:251-253): an EPSG int, or a param dict
    {"proj": "tm"|"albers"|"lcc", ...} matching the engine's geodesy
    signatures — see :func:`geodesy.projector_for_crs`."""
    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        arr = arr.astype(np.float32)
    levels = [arr]
    for _ in range(overviews):
        if min(levels[-1].shape) <= 1:
            break
        levels.append(_downsample2(levels[-1], nodata))

    out = bytearray()
    out += (b"II" if bo == "<" else b"MM")
    if bigtiff:
        out += struct.pack(bo + "HHH", 43, 8, 0)
        out += struct.pack(bo + "Q", 16)
    else:
        out += struct.pack(bo + "H", 42)
        out += struct.pack(bo + "I", 8)
    pfmt = "Q" if bigtiff else "I"
    next_ptr_pos = None
    for lv, a in enumerate(levels):
        if next_ptr_pos is not None:       # chain previous IFD to this one
            out[next_ptr_pos:next_ptr_pos + struct.calcsize(pfmt)] = \
                struct.pack(bo + pfmt, len(out))
        next_ptr_pos = _append_ifd(
            out, a, x0, y_top, pixel_m * (2 ** lv), tile, compression,
            nodata, bo, bigtiff, subfile=1 if lv else None, crs=crs)
    return bytes(out)


def _append_ifd(out: bytearray, arr: np.ndarray, x0: float, y_top: float,
                pixel_m: float, tile: int, compression: int,
                nodata: float | None, bo: str, bigtiff: bool,
                subfile: int | None, crs=None) -> int:
    """Append one IFD + overflow values + tile data for ``arr`` at the
    current end of ``out``; returns the absolute position of this IFD's
    next-IFD pointer (written as 0) so the caller can chain overviews."""
    if arr.dtype == np.uint8:
        bits, fmt = 8, 1
    else:
        bits, fmt = 32, 3
    h, w = arr.shape
    tiles_x, tiles_y = -(-w // tile), -(-h // tile)
    payloads = []
    for tr in range(tiles_y):
        for tc in range(tiles_x):
            blk = np.zeros((tile, tile), arr.dtype)
            sub = arr[tr * tile:(tr + 1) * tile, tc * tile:(tc + 1) * tile]
            blk[:sub.shape[0], :sub.shape[1]] = sub
            raw = blk.astype(bo + ("u1" if bits == 8 else "f4")).tobytes()
            if compression == 5:
                raw = tiffcodec.lzw_encode(raw)
            elif compression == 32773:
                raw = tiffcodec.packbits_encode(raw)
            elif compression != 1:
                raise ValueError(f"unsupported compression {compression}")
            payloads.append(raw)

    entries = []                           # (tag, typ, values)

    def entry(tag, typ, vals):
        entries.append((tag, typ, vals))

    if subfile is not None:
        entry(_SUBFILE_TYPE, 4, [subfile])
    entry(_W, 4, [w])
    entry(_H, 4, [h])
    entry(_BITS, 3, [bits])
    entry(_COMP, 3, [compression])
    entry(_PHOTO, 3, [1])
    entry(_SPP, 3, [1])
    entry(_TILE_W, 3, [tile])
    entry(_TILE_H, 3, [tile])
    off_typ = 16 if bigtiff else 4                   # LONG8 vs LONG
    entry(_TILE_OFF, off_typ, [0] * len(payloads))   # patched below
    entry(_TILE_CNT, off_typ, [len(p) for p in payloads])
    entry(_SAMPLE_FORMAT, 3, [fmt])
    entry(_MODEL_PIXEL_SCALE, 12, [pixel_m, pixel_m, 0.0])
    entry(_MODEL_TIEPOINT, 12, [0.0, 0.0, 0.0, x0, y_top, 0.0])
    for gk_tag, gk_typ, gk_vals in _geokey_entries(crs):
        entry(gk_tag, gk_typ, gk_vals)
    if nodata is not None:
        nd = (f"{nodata:g}".encode() + b"\x00")
        entry(_GDAL_NODATA, 2, list(nd))
    entries.sort(key=lambda e: e[0])

    base = len(out)                        # this IFD starts here
    if bigtiff:
        esize, inline, cfmt, ofmt = 20, 8, "Q", "Q"
        ifd_size = 8 + 20 * len(entries) + 8
    else:
        esize, inline, cfmt, ofmt = 12, 4, "I", "I"
        ifd_size = 2 + 12 * len(entries) + 4
    # overflow area directly after the IFD, tile data after that
    over_off = base + ifd_size
    over = bytearray()

    def pack_all(entries_):
        packed_ = []
        for tag, typ, vals in entries_:
            if typ == 2:
                raw = bytes(vals)
            else:
                raw = struct.pack(bo + f"{len(vals)}{_TYPE_FMT[typ]}",
                                  *vals)
            packed_.append((tag, typ, len(vals), raw))
        return packed_

    # first pass to size the overflow area (tile offsets re-packed later;
    # LONG8 and LONG reserve the same byte count either way)
    packed = pack_all(entries)
    data_off = over_off + sum(len(r) for _, _, _, r in packed
                              if len(r) > inline)
    offsets = []
    pos = data_off
    for p in payloads:
        offsets.append(pos)
        pos += len(p)
    packed = pack_all([(t, ty, offsets if t == _TILE_OFF else v)
                       for t, ty, v in entries])

    if bigtiff:
        out += struct.pack(bo + "Q", len(packed))
    else:
        out += struct.pack(bo + "H", len(packed))
    opos = over_off
    for tag, typ, cnt, raw in packed:
        out += struct.pack(bo + "HH" + cfmt, tag, typ, cnt)
        if len(raw) <= inline:
            out += raw + b"\x00" * (inline - len(raw))
        else:
            out += struct.pack(bo + ofmt, opos)
            over += raw
            opos += len(raw)
    next_ptr_pos = len(out)
    out += struct.pack(bo + ofmt, 0)                 # next-IFD pointer
    out += over
    assert len(out) == data_off, (len(out), data_off)
    for p in payloads:
        out += p
    return next_ptr_pos


# --- distributed sink -------------------------------------------------------

def write_geotiff_granules(tiles: DataFrame, out_dir: str,
                           granule_tiles: int = 8, compression: int = 5,
                           nodata: float = -99.0,
                           overviews: int = 0, crs=None) -> DataFrame:
    """Engine TILES DataFrame -> a directory of tiled GeoTIFF granules,
    written BY THE EXECUTORS (reference sink: gdal.Warp mosaic -> COG,
    01_mosaic_and_transform_images_in_one_go.py:245-266).

    One output file per (layer, granule) where a granule is
    ``granule_tiles x granule_tiles`` engine tiles — the scalable COG-sink
    shape: assembly and encoding happen inside a grouped-map UDF on the
    granule key, no driver collect, and granule size bounds executor
    memory regardless of raster extent. Granules are keyed in batches
    (supercell pattern) so group count stays near parallelism, and each
    file is published via atomic rename (tmp + os.replace). Returns the
    manifest DataFrame (one row per granule: path, layer, bbox, tile
    counts) — collect THAT, not the pixels.

    Gaps inside a granule are filled with ``nodata`` so the granule grid
    stays rectangular; tiles must share one pixel_m (asserted).
    """
    import os
    import uuid

    os.makedirs(out_dir, exist_ok=True)

    # granule span must be uniform per layer: raster-EDGE tiles carry a
    # smaller nrows/ncols, and quantizing by the row's own size would
    # file them into the wrong granule — use the layer-wide max tile
    # dims (one window shuffle over the small tile-metadata columns)
    lw = SqlWindow.partitionBy("layer")
    span_x = F.col("pixel_m") * F.max("ncols").over(lw) * granule_tiles
    span_y = F.col("pixel_m") * F.max("nrows").over(lw) * granule_tiles
    g = tiles.withColumn("gx", F.floor(F.col("x0") / span_x).cast("int")) \
        .withColumn("gy", F.floor(F.col("y0") / span_y).cast("int")) \
        .withColumn("span_x", span_x).withColumn("span_y", span_y)

    schema = ("path STRING, layer STRING, gx INT, gy INT, "
              "x0 DOUBLE, y0 DOUBLE, x1 DOUBLE, y1 DOUBLE, "
              "n_tiles INT, bytes LONG")

    def assemble(key, pdf):
        layer, gx, gy = key[0], int(key[1]), int(key[2])
        pm = float(pdf.pixel_m.iloc[0])
        assert (pdf.pixel_m == pm).all(), "mixed pixel sizes in granule"
        # the grouping spans came from the LAYER-wide max tile dims (a
        # granule of only edge tiles would under-estimate them locally);
        # the granule box is the UNION of member tile extents — for
        # grid-aligned tiles that is exactly the quantized cell, and a
        # non-aligned tile that crosses its origin-cell's edge just
        # grows the box instead of writing out of bounds
        span_x = float(pdf.span_x.iloc[0])
        span_y = float(pdf.span_y.iloc[0])
        tn_r = int(round(span_y / (granule_tiles * pm)))
        gx0 = float(pdf.x0.min())
        gy0 = float(pdf.y0.min())
        x1 = float((pdf.x0 + pdf.ncols * pm).max())
        y1 = float((pdf.y0 + pdf.nrows * pm).max())
        side_c = int(round((x1 - gx0) / pm))
        side_r = int(round((y1 - gy0) / pm))
        mosaic = np.full((side_r, side_c), np.float32(nodata), np.float32)
        for r in pdf.itertuples():
            ci = int(round((r.x0 - gx0) / pm))
            ri = side_r - int(round((r.y0 - gy0) / pm)) - r.nrows
            mosaic[ri:ri + r.nrows, ci:ci + r.ncols] = \
                np.asarray(r.data, np.float32).reshape(r.nrows, r.ncols)
        path = os.path.join(out_dir, f"{layer}_{gx}_{gy}.tif")
        payload = encode_geotiff(mosaic, x0=gx0, y_top=gy0 + side_r * pm,
                                 pixel_m=pm, tile=tn_r,
                                 compression=compression, nodata=nodata,
                                 overviews=overviews, crs=crs)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)                      # atomic publish
        return pd.DataFrame([{
            "path": path, "layer": layer, "gx": gx, "gy": gy,
            "x0": gx0, "y0": gy0, "x1": gx0 + side_c * pm,
            "y1": gy0 + side_r * pm, "n_tiles": len(pdf),
            "bytes": len(payload)}])

    return g.groupBy("layer", "gx", "gy").applyInPandas(assemble,
                                                        schema=schema)
