"""Prepared (persisted, bucketed) spatial covers: index once, probe
many — results identical to inline covers, and the cell_id-bucketed
saved table joins with no exchange on the cover side."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from balrog_spark import joins, vegfactors


def _world(spark):
    pts = [("p1", 50.0, 50.0), ("p2", 250.0, 250.0),
           ("p3", 210.0, 210.0), ("p4", 5000.0, 5000.0),
           ("p5", 120.0, 90.0)]
    polys = [
        ("A", 1, "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))"),
        ("B", 2, ("POLYGON ((200 200, 300 200, 300 300, 200 300, "
                  "200 200), (240 240, 260 240, 260 260, 240 260, "
                  "240 240))")),
        ("C", 3, "POLYGON ((80 60, 400 60, 400 120, 80 120, 80 60))"),
    ]
    sp = spark.createDataFrame(
        pd.DataFrame(pts, columns=["addr_id", "x", "y"]))
    sv = spark.createDataFrame(
        pd.DataFrame(polys, columns=["veg_id", "bal_number", "wkt"]))
    return sp, sv


@pytest.fixture(scope="module")
def saved(spark):
    import shutil

    sp, sv = _world(spark)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ("cover_pip", "cover_dw"):
        # the in-memory catalog forgets tables between sessions but
        # leaves their dirs — DROP alone cannot clean a stale location
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    joins.save_cover(sv, "cover_pip", n_buckets=4)
    joins.save_cover(sv, "cover_dw", pad_m=100.0, n_buckets=4)
    yield sp, sv
    for name in ("cover_pip", "cover_dw"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_prepared_cover_results_identical(spark, saved):
    sp, sv = saved
    cols = ["addr_id", "veg_id"]
    pip_cov = joins.load_cover(spark, "cover_pip")
    for bc in (True, False):
        a = _rows(joins.pip_join(sp, sv, broadcast_cover=bc), cols)
        b = _rows(joins.pip_join(sp, cover=pip_cov, broadcast_cover=bc),
                  cols)
        assert a == b and len(a) >= 3
    dw_cov = joins.load_cover(spark, "cover_dw")
    a = _rows(joins.dwithin_join(sp, sv, 100.0), cols)
    b = _rows(joins.dwithin_join(sp, radius_m=100.0, cover=dw_cov), cols)
    assert a == b and len(a) > len(_rows(joins.pip_join(sp, sv), cols))
    vf = [f.name for f in vegfactors.VEG_FACTORS_SCHEMA]
    a = _rows(vegfactors.veg_factors(sp, sv, 100.0), vf)
    b = _rows(vegfactors.veg_factors(sp, radius_m=100.0, cover=dw_cov), vf)
    assert a == b and len(a) >= 3
    k = ["addr_id", "veg_id", "distance_m"]
    a = _rows(joins.knn_join(sp, sv), k)
    b = _rows(joins.knn_join(sp, cover=pip_cov), k)
    assert a == b and len(a) == 5


def test_pending_join_recomputes_a_released_cover(spark, saved):
    """The MRU-1 cover slot: building a second auto-mode join releases
    the first join's cached cover, and the first result, still pending,
    simply recomputes it — collected last, it equals an eager run."""
    sp, sv = saved
    cols = ["addr_id", "veg_id", "bal_number"]
    eager = _rows(joins.pip_join(sp, sv), cols)
    pending = joins.pip_join(sp, sv)
    pip_cover = joins._LAST_PROBE_COVER
    dw = joins.dwithin_join(sp, sv, 100.0)
    assert joins._LAST_PROBE_COVER is not pip_cover
    assert not pip_cover.is_cached
    assert len(_rows(dw, cols)) > len(eager)
    assert _rows(pending, cols) == eager and len(eager) >= 3


def test_prepared_cover_skips_cover_exchange(spark, saved):
    """On the shuffle (sort-merge) path the bucketed saved cover must
    contribute NO Exchange of its own: with broadcasts disabled the
    plan's exchange count drops vs the inline cover (which must shuffle
    before the SMJ), and the saved side reads Bucketed: true."""
    sp, sv = saved
    pip_cov = joins.load_cover(spark, "cover_pip")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plan_of(df):
            return df._jdf.queryExecution().executedPlan().toString()

        inline = plan_of(joins.pip_join(sp, sv, broadcast_cover=False))
        prepared = plan_of(joins.pip_join(sp, cover=pip_cov,
                                          broadcast_cover=False))
        assert prepared.count("Exchange") < inline.count("Exchange")
        assert "Bucketed: true" in prepared
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
