"""Vectorized numpy kernels — the engine's compute core.

Each kernel is a whole-array (O(k) array ops) re-expression of a reference
loop, asserted array-equal against :mod:`balrog_spark.reference_impl` in the
test suite. These run inside Arrow pandas UDFs on Spark executors; they never
touch Spark APIs so they stay unit-testable without a JVM.

Scale notes: convolution-style scans are O(filter_width) shifted-array passes
instead of the reference's O(rows*cols*filter_width) Python triple loop
(reference: calculate_bal.py:179-218) — on a 256x256 tile that is 8 shifted
maxes per direction instead of ~260k inner loops.
"""

from __future__ import annotations

import numpy as np

from .constants import (
    BALVAL,
    DIRECTION_ASPECT,
    DIRECTION_STEPS,
    DIRECTIONS,
    FDI_INDEX,
    NODATA,
    SLOPE_INDEX_MAP,
    THRESH,
    VEG_INDEX_MAP,
)

RADIANS_PER_DEGREE = 0.01745329251994329576923690768489
_NEG_INF = -np.inf


def bal_esti_vec(veg, dist, slope, fdi: int):
    """Vectorized BAL classifier: dense 4-D lookup replay of
    reference calculate_bal.py:248-297 (bal_esti + find_dist_class).

    ``veg``/``slope`` are arrays of classified integer codes (float ok),
    ``dist`` is broadcastable distances in metres, ``fdi`` a scalar.
    """
    veg = np.asarray(veg)
    slope = np.asarray(slope)
    dist = np.asarray(dist, dtype=np.float64)
    fi = FDI_INDEX[int(fdi)]

    si = SLOPE_INDEX_MAP[slope.astype(np.int64) + 99]
    vi = VEG_INDEX_MAP[veg.astype(np.int64) + 99]

    th = THRESH[fi, si, vi]                     # (..., 4)
    dc = (dist[..., None] >= th).sum(axis=-1)   # distance class index 0..4
    bal = BALVAL[fi, si, vi, dc]

    if fdi != 50:
        grass = (veg == 7) & (dist >= 50)
        if grass.any():
            bal = np.where(grass, NODATA, bal)
    return bal


def slope_in_aspect_vec(slope_data, aspect_data, aspect_value):
    """Slope where aspect faces the scan direction, -1 elsewhere, nodata kept
    (reference: calculate_bal.py:119-142). Already vector-shaped upstream."""
    out = np.where(aspect_data == aspect_value, slope_data, -1.0)
    return np.where(slope_data == NODATA, NODATA, out).astype(np.float32)


def shift_fill32(arr, dr: int, dc: int, fill):
    """Shift ``arr`` into a float32 array so out[i, j] = arr[i + dr, j + dc],
    filling vacated cells with ``fill`` (float32 out, no dtype promotion).
    Used to gather directional neighbours. A shift that exceeds the array
    extent (narrow strips shorter than the scan width) is all-fill."""
    out = np.full(arr.shape, fill, dtype=np.float32)
    rows, cols = arr.shape
    if abs(dr) >= rows or abs(dc) >= cols:
        return out
    src_r = slice(max(dr, 0), rows + min(dr, 0))
    src_c = slice(max(dc, 0), cols + min(dc, 0))
    dst_r = slice(max(-dr, 0), rows + min(-dr, 0))
    dst_c = slice(max(-dc, 0), cols + min(-dc, 0))
    out[dst_r, dst_c] = arr[src_r, src_c]
    return out


def convo_vec(direction: str, veg_data, slope_data, aspect_data,
              pixel_width: float, fdi: int, present=None):
    """Directional neighbour scan, vectorized
    (reference: calculate_bal.py:145-220).

    out[i,j] = max over m=1..filter_width of
               bal_esti(veg[n_m], dist_m, slope_in_aspect[n_m], fdi)
    where n_m is the m-th neighbour in ``direction``; cells with zero
    in-bounds neighbours get nodata.

    ``present``: optional bool mask — False marks halo cells outside the AOI
    (absent neighbour tiles). Absent cells contribute nothing to the max
    (exactly like out-of-bounds cells in the reference), while present
    nodata cells contribute -99, as in the reference.
    """
    aspect_value = DIRECTION_ASPECT[direction]
    dire_width = pixel_width if direction in ("w", "e", "n", "s") \
        else pixel_width * 1.414
    filter_width = int(np.ceil(100.0 / dire_width))
    dr, dc = DIRECTION_STEPS[direction]

    sia = slope_in_aspect_vec(slope_data, aspect_data, aspect_value)

    # per-(direction, m) the distance is a scalar, so bal_esti collapses to
    # an (8 slope-codes x 8 veg-codes) table; the whole-array evaluation is
    # then one uint8 double-gather per m — float32 throughout, which keeps
    # the scan memory-bandwidth-friendly (it is the engine's hottest loop)
    from .constants import SLOPE_CODES, VEG_CODES
    si = SLOPE_INDEX_MAP[sia.astype(np.int64) + 99].astype(np.uint8)
    vi = VEG_INDEX_MAP[np.asarray(veg_data).astype(np.int64) + 99] \
        .astype(np.uint8)
    scode_grid, vcode_grid = np.meshgrid(
        np.array(SLOPE_CODES, dtype=np.float64),
        np.array(VEG_CODES, dtype=np.float64), indexing="ij")

    best = np.full(veg_data.shape, _NEG_INF, dtype=np.float32)
    neg_inf32 = np.float32(_NEG_INF)
    for m in range(1, filter_width + 1):
        dist_m = (m - 1) * dire_width + 0.5 * dire_width
        table = bal_esti_vec(vcode_grid, np.full_like(scode_grid, dist_m),
                             scode_grid, fdi).astype(np.float32)
        bal_m = table[si, vi]
        if present is not None:
            bal_m = np.where(present, bal_m, neg_inf32)
        np.maximum(best, shift_fill32(bal_m, m * dr, m * dc, neg_inf32),
                   out=best)
    return np.where(np.isneginf(best), np.float32(NODATA), best)


def bal_all_directions(veg_data, slope_data, aspect_data, pixel_width, fdi,
                       present=None):
    """All 8 directional scans + elementwise max in one pass
    (reference: calculate_bal.py:21-101 writes 9 rasters; we emit 9 arrays).

    ``aspect_data`` may be a single array (pipeline shape) or a dict keyed by
    direction (golden-test shape, reference tests/test_convo.py:130-202).
    """
    out = {}
    max_bal = None
    for d in DIRECTIONS:
        asp = aspect_data[d] if isinstance(aspect_data, dict) else aspect_data
        b = convo_vec(d, veg_data, slope_data, asp, pixel_width, fdi,
                      present=present)
        out[d] = b
        max_bal = b if max_bal is None else np.maximum(max_bal, b)
    out["max"] = max_bal
    return out


def reclassify_vec(data, remap: str):
    """Range-remap DSL, sequential in-place semantics
    (reference: sa_tools.py:139-202). Each range is one vector op; ranges are
    applied in order on the mutating array (later ranges observe earlier
    assignments — intentional reference behaviour)."""
    data = np.array(data, dtype=np.float64, copy=True)
    for a_map in remap.split(";"):
        parts = a_map.lstrip().split(" ")
        if len(parts) == 2:
            start, end, new = float(parts[0]), float(parts[0]), parts[1]
        else:
            start, end, new = float(parts[0]), float(parts[1]), parts[2]
        end += 0.0001
        new_value = NODATA if new == "NODATA" else int(new)
        data[(data >= start) & (data < end)] = new_value
    return data.astype(int)


def _ffill_axis0(arr, nd):
    """Propagating forward-fill down axis 0 (vector twin of the first sweep
    in reference sa_tools.py:243-247)."""
    mask = arr != nd
    idx = np.where(mask, np.arange(arr.shape[0])[:, None], -1)
    idx = np.maximum.accumulate(idx, axis=0)
    filled = np.where(idx >= 0,
                      np.take_along_axis(arr, np.maximum(idx, 0), axis=0),
                      nd)
    return filled


def edge_fill_vec(elev):
    """Vectorized equivalent of the four nodata edge-fill sweeps
    (reference: sa_tools.py:242-265), proven equivalent by analysis of the
    loops' read/write order and asserted against
    reference_impl.edge_fill_nodata in tests:

    - sweep 1: reads happen after writes while moving down -> propagating
      forward-fill along axis 0;
    - sweep 2: same along axis 1;
    - sweeps 3/4: reads at j-1 happen before the j-1 write while moving
      upward -> a single simultaneous step, with numpy's j-1 == -1 wrap at
      the first row/column (np.roll reproduces the wrap exactly).
    """
    nd = NODATA
    elev = np.array(elev, dtype=np.float64, copy=True)
    elev = _ffill_axis0(elev, nd)
    elev = _ffill_axis0(elev.T, nd).T
    for axis in (0, 1):
        rolled = np.roll(elev, 1, axis=axis)
        step = (elev == nd) & (rolled != nd)
        elev = np.where(step, rolled, elev)
    return elev


def cal_slope_aspect_vec(elev, pixel_w: float, pixel_h: float):
    """Slope (degrees) and compass aspect from a DEM array
    (reference: sa_tools.py:205-293): nodata edge-fill, centred-difference
    gradient, arctan/hypot slope, compass aspect, nodata restore."""
    elev = np.asarray(elev, dtype=np.float64)
    mask = elev == NODATA
    filled = edge_fill_vec(elev)
    # np.gradient's FIRST spacing is axis 0 = rows = vertical = pixel
    # HEIGHT (all engine callers pass square pixels, where the order is
    # invisible; a non-square caller must not get transposed spacings).
    # The dzdx/dzdy names encode the golden-verified compass convention.
    dzdx, dzdy = np.gradient(filled, pixel_h, pixel_w)
    slope = np.arctan(np.hypot(dzdx, dzdy)) / RADIANS_PER_DEGREE
    aspect = np.mod(450.0 - np.arctan2(dzdy, -dzdx) / RADIANS_PER_DEGREE,
                    360.0)
    slope[mask] = NODATA
    aspect[mask] = NODATA
    return slope, aspect


def zonal_stats_1d(values, circular: bool = False, sentinel: float = -9999.0):
    """Zonal statistics over extracted pixel values
    (reference: testing/02_get_slope_from_buffer.py:219-251).

    Drops sentinel/nodata, returns int-truncated min/max/avg/std/med +
    pixel_count; all-sentinel -> -9999 row. ``circular=True`` applies the
    aspect north-wrap fix (reference:
    testing/xx_get_elevation_aspect_slope.py:326-338): if min < 90 and
    max > 270, values below 90 get +360 before mean/std/median, and mean /
    median above 360 get -360 after.
    """
    flat = np.asarray(values, dtype=np.float64)
    flat = flat[flat > sentinel]
    if flat.size == 0:
        s = int(sentinel)
        return {"min": s, "max": s, "avg": s, "std": s, "med": s,
                "pixel_count": s}
    mn, mx = np.min(flat), np.max(flat)
    if circular and mn < 90 and mx > 270:
        flat = flat.copy()
        flat[(flat >= 0.0) & (flat < 90.0)] += 360.0
        avg, std, med = np.mean(flat), np.std(flat), np.median(flat)
        if avg > 360.0:
            avg -= 360.0
        if med > 360.0:
            med -= 360.0
    else:
        avg, std, med = np.mean(flat), np.std(flat), np.median(flat)
    return {"min": int(mn), "max": int(mx), "avg": int(avg), "std": int(std),
            "med": int(med), "pixel_count": int(flat.size)}
