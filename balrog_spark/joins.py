"""Spatial joins as cell equi-joins + exact numpy refinement.

Spark has no spatial index; the reference leans on PostGIS GiST indexes and
fiona bbox masks (reference: testing/test_gdal.py:127,138,
data_prep/vegetation/xx_fiona_testing.py:133-136). The engine's substitute:

1. polygons -> grid-cell *cover* rows (cell_id, poly...) — tiny vs the point
   side. Broadcast or shuffle is decided in one place for every join,
   :func:`_join_cover` (one byte-estimate probe unless the caller forces
   it), which also owns the cover's cache;
2. points -> cell_id via pure column arithmetic (no UDF);
3. equi-join on cell_id (hash/broadcast — Catalyst's choice, AQE-skew-safe);
4. exact geometry refinement vectorized inside one mapInPandas pass, grouping
   each Arrow batch by polygon so every ring is parsed once and tested
   against all its candidate points at once.

kNN runs one ring loop of cover-bbox-clamped annuli with a distance lower
bound (ring * cell_m), so each point stops as soon as no unexamined cell can
hold anything closer — O(log cover extent) rounds over a shrinking
unresolved set (reference behaviour: shapely nearest_points over a 250 m
fiona mask, reference: data_prep/vegetation/xx_fiona_testing.py:203-217).
"""

from __future__ import annotations

from itertools import chain, count

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from . import cells, geometry

# worker-global parsed-polygon cache: candidate batches repeat the same WKT
# strings across pandas groups, so parse each polygon once per executor
_POLY_CACHE: dict = {}


def _geom_of(wkt: str):
    """WKT -> list of polygons, each [exterior, hole, ...] rings."""
    polys = _POLY_CACHE.get(wkt)
    if polys is None:
        if len(_POLY_CACHE) > 50000:
            _POLY_CACHE.clear()
        polys = geometry.parse_wkt_polys(wkt)
        _POLY_CACHE[wkt] = polys
    return polys


# auto broadcast thresholds: the decision is by estimated BYTES (cover rows
# x mean WKT length), not rows alone — 300k rows of multi-KB subdivided
# multipolygon WKT is a multi-GB replicate-per-executor broadcast that a
# row count waves through. Above either bound the join falls back to a
# shuffle hash/SMJ on cell_id, which distributes the cover bytes instead
# of replicating them (reference scale: 9.4M NVIS polygons).
AUTO_BROADCAST_MAX_COVER_ROWS = 300_000
AUTO_BROADCAST_MAX_COVER_BYTES = 512 << 20
_WKT_ROW_OVERHEAD_B = 64  # ids + struct framing per cover row


def _cell_bbox():
    """min/max aggregates of the packed cell_id's grid x and y."""
    gx, gy = F.expr("cell_id DIV 1048576"), F.expr("cell_id % 1048576")
    return [F.min(gx).alias("gx0"), F.max(gx).alias("gx1"),
            F.min(gy).alias("gy0"), F.max(gy).alias("gy1")]


def _probe_cover(cover: DataFrame):
    """ONE truncated job over the (tiny vs points) cover side: row count
    up to the row cap, mean WKT length and cell bbox over that prefix
    (exact under the cap). Returns (that row, fits_broadcast): broadcast
    only if both the row AND estimated-byte bounds hold."""
    probe = (cover.limit(AUTO_BROADCAST_MAX_COVER_ROWS + 1)
             .agg(F.count("*").alias("n"),
                  F.avg(F.length("wkt")).alias("w"), *_cell_bbox())
             .collect()[0])
    if probe.n > AUTO_BROADCAST_MAX_COVER_ROWS:
        return probe, False
    est = probe.n * ((probe.w or 0.0) + _WKT_ROW_OVERHEAD_B)
    return probe, est <= AUTO_BROADCAST_MAX_COVER_BYTES


# MRU-1 slot: the one cover _join_cover has built and cached
_LAST_PROBE_COVER = None


_COVER = StructType([
    StructField("cell_id", LongType(), False),
    StructField("veg_id", StringType(), False),
    StructField("bal_number", LongType(), True),
    StructField("wkt", StringType(), False),
])


def with_cell(points: DataFrame, cell_m: float = cells.DEFAULT_CELL_M,
              x="x", y="y") -> DataFrame:
    """Attach the packed cell id with pure column math (stays in codegen).
    SQL twin: (floor(x/c)+524288)*1048576 + floor(y/c)+524288."""
    cx = F.floor(F.col(x) / F.lit(cell_m))
    cy = F.floor(F.col(y) / F.lit(cell_m))
    return points.withColumn(
        "cell_id", ((cx + F.lit(1 << 19)) * F.lit(1 << 20)
                    + cy + F.lit(1 << 19)).cast("long"))


def polygon_cover(polys: DataFrame, cell_m: float = cells.DEFAULT_CELL_M,
                  pad_m: float = 0.0, clip: bool = False) -> DataFrame:
    """Explode polygons to (cell_id, veg_id, bal_number, wkt) cover rows —
    one row per covered cell per polygon PART, bbox cover (+ optional pad
    for distance joins).

    ``clip=True`` emits the polygon CLIPPED to each cell instead of the full
    WKT (the V8-subdivide trick): per-cell bytes stay bounded no matter how
    large the source polygon, which is what makes the non-broadcast shuffle
    path affordable at 9.4M-polygon scale. Valid for PIP only (clipping
    changes boundary distances), so the distance joins keep the full WKT.
    Holes are clipped alongside the exterior — even-odd semantics survive
    intersection with a box.

    ``clip`` and ``pad_m`` are mutually exclusive: a padded cover exists
    so DISTANCE joins see polygons from nearby cells, but clipping to
    the unpadded cell box empties exactly those pad-band cells (the
    polygon is within pad_m of the cell without intersecting it), which
    would silently drop every such match — refuse loudly instead.
    """
    if clip and pad_m:
        raise ValueError(
            "polygon_cover(clip=True, pad_m>0): a clipped cover is "
            "PIP-only; pad-band cells would clip to nothing and the "
            "distance join would silently lose matches — build the "
            "padded cover unclipped")

    def gen(batches):
        for pdf in batches:
            out = {"cell_id": [], "veg_id": [], "bal_number": [], "wkt": []}
            for r in pdf.itertuples():
                parts = geometry.parse_wkt_polys(r.wkt)
                cell_parts: dict = {}
                for pi, rings in enumerate(parts):
                    xmin, ymin, xmax, ymax = geometry.bbox(rings[0])
                    for cid in cells.cover_bbox(
                            xmin - pad_m, ymin - pad_m,
                            xmax + pad_m, ymax + pad_m, cell_m):
                        cell_parts.setdefault(int(cid), []).append(pi)
                kept_ids, wkts = [], []
                for cid, pis in cell_parts.items():
                    if not clip:
                        kept_ids.append(cid)
                        # original WKT verbatim: re-serialization would
                        # round coordinates and perturb oracle distances
                        wkts.append(r.wkt)
                        continue
                    gx, gy = cells.unpack(np.array([cid]))
                    bx0 = float(gx[0]) * cell_m
                    by0 = float(gy[0]) * cell_m
                    pieces = []
                    for pi in pis:
                        rings = parts[pi]
                        ext = geometry.clip_ring_to_box(
                            rings[0], bx0, by0, bx0 + cell_m, by0 + cell_m)
                        if len(ext) < 3 or geometry.ring_area(ext) <= 0:
                            continue
                        piece = [ext]
                        for hole in rings[1:]:
                            hp = geometry.clip_ring_to_box(
                                hole, bx0, by0, bx0 + cell_m, by0 + cell_m)
                            if len(hp) >= 3 and geometry.ring_area(hp) > 0:
                                piece.append(hp)
                        pieces.append(piece)
                    if pieces:
                        kept_ids.append(cid)
                        wkts.append(geometry.multipolygon_wkt_polys(pieces))
                out["cell_id"].extend(kept_ids)
                out["veg_id"].extend([r.veg_id] * len(kept_ids))
                # null-safe: a malformed source token parses to NULL
                # (NaN here) — keep it null, never int(NaN) (crash) or
                # astype garbage
                bal = getattr(r, "bal_number", 0)
                bal = None if bal is None or pd.isna(bal) else int(bal)
                out["bal_number"].extend([bal] * len(kept_ids))
                out["wkt"].extend(wkts)
            yield pd.DataFrame(
                {k: (pd.array(v, dtype="Int64")
                     if k == "bal_number" else v)
                 for k, v in out.items()})

    return polys.mapInPandas(gen, schema=_COVER)


def _refine_schema(extra_cols):
    fields = [StructField("addr_id", StringType(), False),
              StructField("veg_id", StringType(), False),
              StructField("bal_number", LongType(), True)]
    for c in extra_cols:
        fields.append(StructField(c, DoubleType(), True))
    return StructType(fields)


# a straggler frontier at or below this many points is cheap to broadcast
# as the SMALL side of the final exact cross join (~40 B/point -> ~2 MB);
# above it, the kNN ring loop keeps shrinking the frontier first
STRAGGLER_DIRECT_MAX = 50_000

# skip remaining ring rounds and finish pending points exactly when the
# cross-join candidate count (pending x cover rows, a conservative upper
# bound on pending x polygons) is below this: each extra ring round costs
# several fixed-latency jobs (annulus explode + join + argmin + checkpoint)
# that dwarf a small distributed cross join. At production scale a large
# pending set keeps ringing; the budget only short-circuits the tail.
DIRECT_PAIR_BUDGET = 50_000_000


def _spread(df: DataFrame, key: str = "addr_id") -> DataFrame:
    """Repartition the (large) probe side across the cluster. Broadcast
    joins preserve the probe side's partitioning, so a single-file parquet
    scan would otherwise serialize every downstream refine UDF."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key)


def _join_cover(polys: DataFrame, cell_m: float,
                broadcast_cover: bool | None, pad_m: float = 0.0,
                clip_shuffle: bool = False, reuse: bool = False):
    """The one cover-side decision of every spatial join: build, cache,
    probe, broadcast or shuffle. Returns (cover to join on cell_id, the
    _probe_cover row — n, mean WKT length, cell bbox — or None if no
    probe ran, the same cover without the broadcast hint). Plans that
    read the cover outside a join take the third: Spark warns about a
    join hint it finds on no join.

    The probe runs when ``broadcast_cover`` is None (auto: broadcast iff
    the estimated cover bytes fit) or when the caller ``reuse``s the cover
    (knn's ring rounds also need its count and cell bbox). A cover built
    here for such a caller (``pad_m``-padded, full WKT) is cached in the
    one MRU-1 slot, so the probe and every later read share one
    computation; the next build releases it (joins are lazy: a
    still-pending earlier result simply recomputes its cover). A cover
    read once, by a forced-strategy join, is neither cached nor probed.
    ``clip_shuffle`` (PIP only) builds the cell-CLIPPED cover for the
    shuffle path: bounded per-cell bytes, the 9.4M-polygon path."""
    global _LAST_PROBE_COVER
    probe = None
    if reuse or broadcast_cover is None:
        if _LAST_PROBE_COVER is not None:
            _LAST_PROBE_COVER.unpersist(blocking=False)
        cover = _LAST_PROBE_COVER = polygon_cover(
            polys, cell_m, pad_m=pad_m).cache()
        probe, fits = _probe_cover(cover)
        if broadcast_cover is None:
            broadcast_cover = fits
            if clip_shuffle and not fits:
                # the cached full cover served only the byte estimate
                cover.unpersist(blocking=False)
                cover = polygon_cover(polys, cell_m, clip=True)
    else:
        cover = polygon_cover(polys, cell_m, pad_m=pad_m,
                              clip=clip_shuffle and not broadcast_cover)
    return (F.broadcast(cover) if broadcast_cover else cover), probe, cover


def _geom_distance(xs, ys, geom):
    """(distance, nearest x, nearest y) from each point to ``geom``, the
    distance 0 for points inside it (holes excluded, even-odd)."""
    d, nx, ny = geometry.points_to_geom_distance(xs, ys, geom)
    return np.where(geometry.points_in_geom(xs, ys, geom), 0.0, d), nx, ny


def _refine(cand: DataFrame, schema: StructType, per_group) -> DataFrame:
    """Exact refinement of cell-join candidates in one mapInPandas pass:
    each Arrow batch is grouped by polygon WKT, so every polygon is parsed
    once and tested against all its candidate points at once.
    ``per_group(geom, grp)`` returns (keep, cols): the boolean mask of
    the group's pairs that survive (None keeps all) and their output
    columns after (addr_id, veg_id, bal_number)."""
    names = [f.name for f in schema]

    def refine(batches):
        for pdf in batches:
            out = []
            for wkt, grp in pdf.groupby("wkt", sort=False):
                keep, cols = per_group(_geom_of(wkt), grp)
                if keep is not None:
                    if not keep.any():
                        continue
                    grp = grp[keep]
                    cols = {c: v[keep] for c, v in cols.items()}
                out.append(pd.DataFrame({
                    "addr_id": grp.addr_id.values,
                    "veg_id": grp.veg_id.values,
                    "bal_number": pd.array(grp.bal_number.values,
                                           dtype="Int64"),
                    **cols}))
            yield pd.concat(out) if out else pd.DataFrame(columns=names)

    return cand.mapInPandas(refine, schema=schema)


def pip_join(points: DataFrame, polys: DataFrame,
             cell_m: float = cells.DEFAULT_CELL_M,
             broadcast_cover: bool | None = None) -> DataFrame:
    """Point-in-polygon join (V9/J2): returns (addr_id, veg_id, bal_number)
    for every point strictly inside a polygon (holes excluded, even-odd).

    ``broadcast_cover``: True broadcasts the full-WKT cover (small layers);
    False shuffle-joins a cell-CLIPPED cover (bounded per-cell bytes — the
    9.4M-polygon path); None auto-selects by estimated cover bytes."""
    cover = _join_cover(polys, cell_m, broadcast_cover,
                        clip_shuffle=True)[0]
    cand = _spread(with_cell(points, cell_m)).join(cover, "cell_id")
    return _refine(cand, _refine_schema([]), lambda geom, grp: (
        geometry.points_in_geom(grp.x.values, grp.y.values, geom), {}))


def dwithin_join(points: DataFrame, polys: DataFrame,
                 radius_m: float = 100.0,
                 broadcast_cover: bool | None = None) -> DataFrame:
    """Distance-within join (V10/J3): pairs with point-to-polygon distance
    <= radius (0 inside; hole boundaries count — a point inside a hole is
    outside and measures to the hole ring). Cover is padded by the radius so
    one equi-join suffices. Non-broadcast covers shuffle-join on cell_id
    (distance needs the full WKT, so bytes shrink by distribution, not
    clipping)."""
    cover = _join_cover(polys, cells.DEFAULT_CELL_M, broadcast_cover,
                        pad_m=radius_m)[0]
    cand = _spread(with_cell(points)).join(cover, "cell_id")

    def within(geom, grp):
        d = _geom_distance(grp.x.values, grp.y.values, geom)[0]
        return d <= radius_m, {"distance_m": d}

    return _refine(cand, _refine_schema(["distance_m"]), within)


def _argmin_per_addr(scored: DataFrame, out_schema) -> DataFrame:
    """Per-point argmin as a HASH AGGREGATE (min_by over a struct ordering
    key — map-side partial combine), not a window sort: deterministic
    tie-break (distance, then veg_id asc; ids are zero-padded so string
    order equals numeric)."""
    payload = [f.name for f in out_schema if f.name != "addr_id"]
    agg = scored.groupBy("addr_id").agg(
        F.min_by(F.struct(*payload),
                 F.struct(F.col("distance_m"), F.col("veg_id")))
        .alias("m"))
    return agg.select("addr_id",
                      *[F.col(f"m.{c}").alias(c) for c in payload])


def _topk_per_addr(scored: DataFrame, out_schema, k: int) -> DataFrame:
    """Per-point top-k by (distance, veg_id). k=1 keeps the hash-aggregate
    argmin (no window, map-side combine). k>1: candidates are first
    deduplicated per (addr, veg) — the same polygon reaches a point
    through every cover cell it spans, and duplicates must not occupy
    ranks — then ranked with a window PARTITIONED by addr_id (never a
    global sort). Adds ``nn_rank`` (1-based) for k>1."""
    if k == 1:
        return _argmin_per_addr(scored, out_schema)
    from pyspark.sql import Window

    payload = [f.name for f in out_schema if f.name != "addr_id"]
    dd = scored.groupBy("addr_id", "veg_id").agg(
        F.min_by(F.struct(*payload),
                 F.struct(F.col("distance_m"), F.col("veg_id")))
        .alias("m"))
    w = Window.partitionBy("addr_id").orderBy(
        F.col("m.distance_m").asc(), F.col("m.veg_id").asc())
    return dd.withColumn("nn_rank",
                         F.row_number().over(w).cast("long")) \
        .filter(F.col("nn_rank") <= k) \
        .select("addr_id",
                *[F.col(f"m.{c}").alias(c) for c in payload], "nn_rank")


def _clamped_annulus(unresolved: DataFrame, r: int, prev: int,
                     cov_bounds) -> DataFrame:
    """Probe cells for one kNN ring round: Chebyshev annulus
    (prev, r] around each point's cell (prev=-1 includes the point's own
    cell), CLAMPED to the cover's cell bounding box ``cov_bounds``
    (gx0/gx1/gy0/gy1). Generated row volume is bounded by min(annulus,
    cover-bbox window) per point — a far-frontier sparse world pays
    O(cover extent), never O(r^2). Pure column explode(sequence): plan
    size O(1) in r."""
    pgx = F.expr("cell_id DIV 1048576")
    pgy = F.expr("cell_id % 1048576")

    def clamped_seq(lo_bound: int, hi_bound: int, g):
        lo = F.greatest(F.lit(-r), F.lit(int(lo_bound)) - g)
        hi = F.least(F.lit(r), F.lit(int(hi_bound)) - g)
        return F.when(lo <= hi, F.sequence(lo, hi)) \
            .otherwise(F.array().cast("array<bigint>"))

    return (unresolved
            .select("addr_id", "x", "y", "cell_id",
                    F.explode(clamped_seq(cov_bounds.gx0,
                                          cov_bounds.gx1, pgx))
                    .alias("dx"))
            .select("addr_id", "x", "y", "cell_id", "dx",
                    F.explode(clamped_seq(cov_bounds.gy0,
                                          cov_bounds.gy1, pgy))
                    .alias("dy"))
            .filter(F.greatest(F.abs("dx"), F.abs("dy")) > F.lit(prev))
            .select("addr_id", "x", "y",
                    (F.col("cell_id") + F.col("dx") * F.lit(1 << 20)
                     + F.col("dy")).alias("probe_cell")))


def knn_join(points: DataFrame, polys: DataFrame,
             max_ring: int = 8,
             broadcast_cover: bool | None = None,
             k: int = 1) -> DataFrame:
    """Nearest-polygon kNN join with bearing (V11): for each point the
    ``k`` closest polygons, each with exact distance (0 if inside),
    nearest boundary point, forward azimuth and evidence line — the
    reference's per-address nearest-vegetation step (reference:
    data_prep/vegetation/xx_fiona_testing.py:203-227; the reference is
    k=1, :212 — k>1 serves the veg_factors/ANN consumers).

    Ring expansion: round r probes the cover cells in Chebyshev annulus
    (prev, r] around each unresolved point; a point resolves once it
    holds k candidates AND its k-th-best distance <= r cell widths, the
    lower bound on anything in ring > r. Small inputs and small pending
    tails finish in one partial-top-k pass. k>1 output carries
    ``nn_rank`` (1..k); k=1 output has no rank column.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_ring < 1:
        # max_ring=0 would pin the ring doubling at r=0 forever
        raise ValueError(f"max_ring must be >= 1, got {max_ring}")
    spark = points.sparkSession

    out_schema = StructType([
        StructField("addr_id", StringType(), False),
        StructField("veg_id", StringType(), False),
        StructField("bal_number", LongType(), True),
        StructField("distance_m", DoubleType(), False),
        StructField("azimuth_deg", DoubleType(), False),
        StructField("near_x", DoubleType(), False),
        StructField("near_y", DoubleType(), False),
        StructField("px", DoubleType(), False),
        StructField("py", DoubleType(), False),
    ])

    def with_line(df: DataFrame) -> DataFrame:
        # evidence LineString point -> nearest boundary point, the
        # reference's line_geom output column (reference:
        # data_prep/vegetation/05_create_tables.sql:17) — pure column
        # string build, no UDF
        return df.withColumn(
            "line_wkt",
            F.format_string("LINESTRING (%.6f %.6f, %.6f %.6f)",
                            F.col("px"), F.col("py"),
                            F.col("near_x"), F.col("near_y")))

    def _empty():
        # no points or no polygons: nothing to find, and the ring loop
        # below has no bbox to stop at
        empty_schema = out_schema if k == 1 else StructType(
            out_schema.fields + [StructField("nn_rank", LongType(),
                                             False)])
        return with_line(spark.createDataFrame([], empty_schema))

    rank_cols = ["nn_rank"] if k > 1 else []

    # one job over the probe side up front: its count (the loop counts
    # resolved rows against it instead of re-scanning the frontier each
    # round) and its cell bbox (with the cover's, the ring radius that
    # has probed every cover cell for every point)
    pstats = with_cell(points).agg(
        F.count("*").alias("n"), *_cell_bbox()).collect()[0]
    n_pts = pstats.n
    if n_pts == 0:
        return _empty()

    # direct-mode pre-check WITHOUT building the cell cover: when the
    # whole point set fits the frontier cap and points x polygons is
    # under the pair budget, the one-pass partial-top-k finish consumes
    # the RAW polygon rows — the cover explode, its cache, its probe and
    # the k_eff distinct count never run
    go_direct = False
    if n_pts <= STRAGGLER_DIRECT_MAX:
        pprobe = (polys.limit(AUTO_BROADCAST_MAX_COVER_ROWS + 1)
                  .agg(F.count("*").alias("n")).collect()[0])
        if pprobe.n == 0:
            return _empty()
        go_direct = (pprobe.n <= AUTO_BROADCAST_MAX_COVER_ROWS
                     and n_pts * pprobe.n <= DIRECT_PAIR_BUDGET)

    k_eff = 1
    if not go_direct:
        cover, cstats, plain = _join_cover(polys, cells.DEFAULT_CELL_M,
                                           broadcast_cover, reuse=True)
        if cstats.n == 0:
            return _empty()
        if cstats.n > AUTO_BROADCAST_MAX_COVER_ROWS:
            # the capped probe saw a prefix only (giant covers)
            cstats = plain.agg(F.count("*").alias("n"),
                               *_cell_bbox()).collect()[0]
        n_cover = cstats.n
        # Chebyshev ring (in cells) that reaches every cover cell from
        # every point: the farthest pair of point-bbox and cover-bbox
        # edges per axis
        need = max(cstats.gx1 - pstats.gx0, pstats.gx1 - cstats.gx0,
                   cstats.gy1 - pstats.gy0, pstats.gy1 - cstats.gy0)
        # a point can only ever find min(k, #polygons) neighbours
        k_eff = 1 if k == 1 else min(k, plain.select("veg_id")
                                     .distinct().count())
        unresolved = with_cell(points) \
            .select("addr_id", "x", "y", "cell_id")

    def split_resolved(best: DataFrame, bound: float):
        """(done rows, pending rows, done addr ids) under the ring
        bound: an addr resolves when it holds k_eff candidates and its
        k-th-best distance is within the bound."""
        if k == 1:
            done = best.filter(F.col("distance_m") <= F.lit(bound))
            pending = best.filter(F.col("distance_m") > F.lit(bound))
            return done, pending, done.select("addr_id")
        marks = best.groupBy("addr_id").agg(
            F.count("*").alias("cnt"),
            F.max("distance_m").alias("kth"))
        done_a = marks.filter((F.col("cnt") >= k_eff)
                              & (F.col("kth") <= F.lit(bound))) \
            .select("addr_id")
        done = best.join(done_a, "addr_id")
        pending = best.join(done_a, "addr_id", "left_anti")
        return done, pending, done_a

    def nearest(geom, grp):
        xs, ys = grp.x.values, grp.y.values
        d, nx_, ny_ = _geom_distance(xs, ys, geom)
        return None, {"distance_m": d,
                      "azimuth_deg": geometry.azimuth_deg(xs, ys, nx_, ny_),
                      "near_x": nx_, "near_y": ny_, "px": xs, "py": ys}

    # ring radii: the first round probes the whole disk out to ring 2
    # (resolves the typical point in one job), later rounds widen
    # geometrically. Collapsing the schedule to (3, max) was measured
    # 2.3x SLOWER at sf0.1: the resolve bound is r cell widths, so
    # far-from-cover points survive a wide first ring and then explode
    # the (max_ring)^2-offset annulus. Past max_ring the radius doubles;
    # clamping each annulus to the cover bbox keeps a far point's probe
    # rows O(cover extent), never O(r^2).
    radii = chain(sorted({min(r, max_ring) for r in (2, 8, max_ring)}),
                  (max_ring << i for i in count(1)))

    resolved_parts = []
    best_so_far = None  # best candidates per pending addr so far
    n_resolved = 0
    n_par = spark.sparkContext.defaultParallelism
    prev = -1
    for r in radii if not go_direct else ():
        # spread the frontier every round: a single-file point scan, and
        # later the anti-join whose tiny shuffle AQE coalesces to ONE
        # partition, would run the annulus explode and its refine UDF as
        # a single task (measured 6x on the whole join at sf0.1, for BOTH
        # cover strategies — don't "optimize" this away)
        unresolved = _spread(unresolved)
        cand = _clamped_annulus(unresolved, r, prev, cstats).join(
            cover.withColumnRenamed("cell_id", "probe_cell"), "probe_cell")
        scored = _refine(cand, out_schema, nearest)
        if best_so_far is not None:
            scored = scored.unionByName(best_so_far.drop(*rank_cols))
        # localCheckpoint truncates lineage so the iterative plan stays
        # O(#rounds) deep
        best = _topk_per_addr(scored, out_schema, k).localCheckpoint(
            eager=True)
        prev = r
        if r >= need:
            # every cover cell has now been probed for every pending
            # point (clamping only ever dropped coverless cells): the
            # bests are exact whatever the ring bound says
            resolved_parts.append(best)
            best_so_far = None
            break
        done, pending, done_addrs = split_resolved(
            best, r * cells.DEFAULT_CELL_M)
        resolved_parts.append(done)
        # counting the newly resolved addrs of the (tiny, per-addr)
        # checkpoint replaces an isEmpty() over the probe side, which
        # re-scanned and anti-joined the full frontier every round.
        # Assumes addr_id is unique on the probe side.
        n_resolved += done_addrs.count()
        if n_resolved >= n_pts:
            best_so_far = None
            break
        unresolved = unresolved.join(done_addrs, "addr_id", "left_anti")
        best_so_far = pending
        # a small pending tail finishes exactly once the ring budget is
        # spent, or earlier when the cross join (pending x cover rows,
        # an upper bound on pending x polygons) is cheaper than another
        # round's fixed-latency jobs. A large one keeps ringing: the
        # finish broadcasts the points, and broadcasting the polygons
        # instead (9.4M full-WKT rows per executor) kills the driver.
        pending_n = n_pts - n_resolved
        if pending_n <= STRAGGLER_DIRECT_MAX and (
                r >= max_ring or pending_n * n_cover <= DIRECT_PAIR_BUDGET):
            break
    if go_direct or best_so_far is not None:
        # finish the pending tail exactly WITHOUT materializing the
        # (frontier x polygons) pair rows: a cross join ships every
        # polygon WKT once PER PENDING POINT through the Arrow boundary
        # (4.3M pair rows at sf0.1 — measured 4.1 s of the 6.5 s query).
        # Instead the (<= STRAGGLER_DIRECT_MAX, ~40 B/row) point frontier
        # rides a plain broadcast variable and each polygon partition
        # computes its PARTIAL per-point top-k in one pass: every WKT
        # crosses the boundary once per TASK, and only (#tasks x k)
        # candidate rows per point reach the final merge. Same exact
        # arithmetic (points_to_geom_distance / points_in_geom /
        # azimuth_deg over the identical frontier arrays) and the same
        # (distance, veg_id) tie order; still never broadcasts polygons.
        if go_direct:
            # no cover was ever built: the finish consumes the raw
            # polygon rows (a duplicate polys row yields duplicate
            # candidates, which the per-(addr, veg) merge collapses
            # exactly as cover.distinct() did)
            polys_all = polys.select("veg_id", "bal_number", "wkt") \
                .repartition(n_par)
        else:
            polys_all = plain.select("veg_id", "bal_number", "wkt") \
                .distinct().repartition(n_par)
        # direct mode never ran a ring round: read the raw points (the
        # _spread repartition only exists to parallelize ring refines)
        frontier = points.select("addr_id", "x", "y") if go_direct \
            else unresolved.select("addr_id", "x", "y")
        pending_n = n_pts - n_resolved
        if pending_n > STRAGGLER_DIRECT_MAX:
            raise RuntimeError(
                f"knn_join straggler frontier holds {pending_n} points, "
                f"over STRAGGLER_DIRECT_MAX={STRAGGLER_DIRECT_MAX}: "
                "refusing to collect it to the driver")
        far_bc = spark.sparkContext.broadcast(frontier.toPandas())
        out_cols = [f.name for f in out_schema]

        def partial_topk(batches):
            fr = far_bc.value
            n = len(fr)
            if n == 0:
                yield pd.DataFrame(columns=out_cols)
                return
            xs = fr.x.values.astype(np.float64)
            ys = fr.y.values.astype(np.float64)
            # k insertion slots per point, each a column set; slot i
            # holds the i-th best (distance, veg_id)-ordered candidate
            D = [np.full(n, np.inf) for _ in range(k)]
            VEG = [np.full(n, None, dtype=object) for _ in range(k)]
            BAL = [np.full(n, np.nan) for _ in range(k)]
            NX = [np.zeros(n) for _ in range(k)]
            NY = [np.zeros(n) for _ in range(k)]
            AZ = [np.zeros(n) for _ in range(k)]
            slots = [D, VEG, BAL, NX, NY, AZ]
            for pdf in batches:
                for r in pdf.itertuples():
                    geom = _geom_of(r.wkt)
                    if not geom:
                        # unparseable/degenerate WKT would never have
                        # produced a cover row on the ring path either
                        continue
                    d, nx_, ny_ = _geom_distance(xs, ys, geom)
                    az = geometry.azimuth_deg(xs, ys, nx_, ny_)
                    bal = getattr(r, "bal_number", None)
                    bal = np.nan if bal is None or pd.isna(bal) \
                        else float(bal)
                    cand = [d, np.full(n, r.veg_id, dtype=object),
                            np.full(n, bal), nx_, ny_, az]
                    # slots stay distinct per veg (a veg may have several
                    # polygon rows): the chain stops at the slot already
                    # holding this veg — the new candidate updates it in
                    # place if closer; a displaced entry overwrites it
                    active = np.ones(n, dtype=bool)
                    placed = np.zeros(n, dtype=bool)
                    for i in range(k):
                        better = cand[0] < D[i]
                        # finite ties only: an inf "tie" is two empty
                        # slots (veg None on both sides), order moot
                        ties = (cand[0] == D[i]) & np.isfinite(cand[0])
                        if ties.any():
                            # exact distance ties are rare (d=0 inside
                            # overlaps); resolve by veg_id only there
                            ti = np.nonzero(ties)[0]
                            better[ti] |= np.fromiter(
                                (a < b for a, b in
                                 zip(cand[1][ti], VEG[i][ti])),
                                bool, len(ti))
                        dup = active & (VEG[i] == r.veg_id)
                        swap = active & ~dup & better
                        put = swap | (dup & (placed | better))
                        placed |= swap
                        active &= ~dup
                        if put.any():
                            for j, S in enumerate(slots):
                                disp = S[i]
                                S[i] = np.where(put, cand[j], disp)
                                cand[j] = np.where(swap, disp, cand[j])
            out = []
            for i in range(k):
                msk = np.isfinite(D[i])
                if not msk.any():
                    continue
                out.append(pd.DataFrame({
                    "addr_id": fr.addr_id.values[msk],
                    "veg_id": VEG[i][msk],
                    "bal_number": pd.Series(BAL[i][msk]).astype("Int64"),
                    "distance_m": D[i][msk],
                    "azimuth_deg": AZ[i][msk],
                    "near_x": NX[i][msk], "near_y": NY[i][msk],
                    "px": xs[msk], "py": ys[msk]}))
            yield (pd.concat(out) if out
                   else pd.DataFrame(columns=out_cols))

        scored = polys_all.mapInPandas(partial_topk, schema=out_schema)
        if best_so_far is not None:
            scored = scored.unionByName(best_so_far.drop(*rank_cols))
        # checkpoint so the returned frame no longer references the
        # cover (the slot's next user may release its cache)
        resolved_parts.append(
            _topk_per_addr(scored, out_schema, k).localCheckpoint(
                eager=True))

    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    return with_line(out)

