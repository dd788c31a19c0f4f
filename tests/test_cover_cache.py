"""The spatial joins' one cached cover (joins._join_cover's MRU-1 slot):
a later join releases an earlier join's cached cover, and the earlier
result, still pending, recomputes it."""

import pandas as pd

from balrog_spark import joins


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


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_pending_join_recomputes_a_released_cover(spark):
    """The MRU-1 cover slot: building a second auto-mode join releases
    the first join's cached cover, and the first result, still pending,
    simply recomputes it — collected last, it equals an eager run."""
    sp, sv = _world(spark)
    cols = ["addr_id", "veg_id", "bal_number"]
    eager = _rows(joins.pip_join(sp, sv), cols)
    pending = joins.pip_join(sp, sv)
    pip_cover = joins._LAST_PROBE_COVER
    dw = joins.dwithin_join(sp, sv, 100.0)
    assert joins._LAST_PROBE_COVER is not pip_cover
    assert not pip_cover.is_cached
    assert len(_rows(dw, cols)) > len(eager)
    assert _rows(pending, cols) == eager and len(eager) >= 3

