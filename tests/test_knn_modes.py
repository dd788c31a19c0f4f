"""knn_join runs a direct (cover-less partial-top-k) pass when a pair
budget allows, and otherwise one ring loop whose small pending tail
goes to the same partial-top-k finish. Every size-threshold branch must
produce identical rows — the cutover is a pure performance decision, so
a scale change (which flips the budget) must never change results."""

import pytest
from pyspark.sql import functions as F

from balrog_spark import joins


def _boxes(spark):
    return spark.range(1, 41).selectExpr(
        "format_string('%06d', id) AS veg_id",
        "CAST((id * 3266489917) % 4000 AS DOUBLE) + 0.5 AS cx",
        "CAST((id * 668265263) % 4000 AS DOUBLE) + 0.5 AS cy",
        "CAST(30 + (id % 7) * 25 AS DOUBLE) + 0.25 AS hw",
        "CAST(30 + (id % 5) * 30 AS DOUBLE) + 0.25 AS hh",
        "CAST(id % 7 + 1 AS BIGINT) AS bal_number")


def _box_polys(boxes):
    return boxes.withColumn(
        "wkt",
        F.format_string(
            "POLYGON ((%.2f %.2f, %.2f %.2f, %.2f %.2f, %.2f %.2f, "
            "%.2f %.2f))",
            F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"),
            F.col("cx") + F.col("hw"), F.col("cy") - F.col("hh"),
            F.col("cx") + F.col("hw"), F.col("cy") + F.col("hh"),
            F.col("cx") - F.col("hw"), F.col("cy") + F.col("hh"),
            F.col("cx") - F.col("hw"), F.col("cy") - F.col("hh"))) \
        .select("veg_id", "bal_number", "wkt")


@pytest.fixture(scope="module")
def world(spark):
    pts = spark.range(1, 301).selectExpr(
        "CAST(id AS STRING) AS addr_id",
        "CAST((id * 2654435761) % 4000 AS DOUBLE) + 0.125 AS x",
        "CAST((id * 2246822519) % 4000 AS DOUBLE) + 0.625 AS y")
    return pts, _box_polys(_boxes(spark))


@pytest.fixture(scope="module")
def multi_row_world(spark, world):
    """The same world plus vegs with several polygon rows: every third veg
    gets a second box (its own, shifted east), and one fragmented veg is
    16 small boxes on a 30 m grid. A partition then often holds more
    rows of one veg than k, which must still take only one rank."""
    pts, polys = world
    twins = _boxes(spark).filter("CAST(veg_id AS INT) % 3 = 0") \
        .withColumn("cx", F.col("cx") + 2.5 * F.col("hw"))
    frag = spark.range(16).selectExpr(
        "'frag' AS veg_id",
        "CAST(2000.5 + (id % 4) * 30 AS DOUBLE) AS cx",
        "CAST(2000.5 + (id DIV 4) * 30 AS DOUBLE) AS cy",
        "CAST(5.25 AS DOUBLE) AS hw", "CAST(5.25 AS DOUBLE) AS hh",
        "CAST(3 AS BIGINT) AS bal_number")
    return pts, polys.unionByName(_box_polys(twins)) \
        .unionByName(_box_polys(frag))


def _canon(df, k):
    cols = ["addr_id", "veg_id",
            F.round("distance_m", 6).alias("d"),
            F.round("near_x", 6).alias("nx"),
            F.round("near_y", 6).alias("ny"),
            F.round("azimuth_deg", 6).alias("az"), "line_wkt"]
    if k > 1:
        cols.append("nn_rank")
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("k", [1, 3])
def test_knn_modes_identical(world, k, monkeypatch):
    pts, polys = world
    # direct mode (defaults pass the budget at this size)
    direct = _canon(joins.knn_join(pts, polys, max_ring=8, k=k), k)
    assert len(direct) == 300 * k

    # ring loop up to max_ring: fail the pre-round budget
    monkeypatch.setattr(joins, "DIRECT_PAIR_BUDGET", 1)
    ring = _canon(joins.knn_join(pts, polys, max_ring=8, k=k), k)
    assert ring == direct

    # ring loop past max_ring (doubling) + partial-top-k finish: tiny
    # max_ring and a frontier cap below the point count force both
    monkeypatch.setattr(joins, "DIRECT_PAIR_BUDGET", 10**4)
    monkeypatch.setattr(joins, "STRAGGLER_DIRECT_MAX", 50)
    doubling = _canon(joins.knn_join(pts, polys, max_ring=1, k=k), k)
    assert doubling == direct


@pytest.mark.parametrize("parts", [1, 4])
def test_knn_modes_identical_multi_row_veg(multi_row_world, parts,
                                           monkeypatch):
    """k=3 over vegs with several polygon rows, at 1 and 4 partitions of
    the polygon side: every mode returns each point's 3 nearest DISTINCT
    vegs, whichever rows share a partition."""
    pts, polys = multi_row_world
    polys = polys.repartition(parts)
    direct = _canon(joins.knn_join(pts, polys, max_ring=8, k=3), 3)
    assert len(direct) == 300 * 3
    assert len({(r[0], r[1]) for r in direct}) == 300 * 3

    monkeypatch.setattr(joins, "DIRECT_PAIR_BUDGET", 1)
    ring = _canon(joins.knn_join(pts, polys, max_ring=8, k=3), 3)
    assert ring == direct

    monkeypatch.setattr(joins, "DIRECT_PAIR_BUDGET", 10**4)
    monkeypatch.setattr(joins, "STRAGGLER_DIRECT_MAX", 50)
    doubling = _canon(joins.knn_join(pts, polys, max_ring=1, k=3), 3)
    assert doubling == direct
