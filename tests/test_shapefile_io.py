"""S7 shapefile fixtures: the reference's real mask shapefiles decode, via
the test-only reader, to polygons in its projected test AOI."""

import os

import pytest

from balrog_spark import geometry
from tests.shp_reader import read_shp_records

_TD = "/root/reference/tests/test_data/input"


@pytest.mark.skipif(not os.path.isdir(_TD),
                    reason="reference test_data not present")
def test_read_reference_mask_shapefiles():
    for name in ("mask_extent_small", "mask_extent_large"):
        rows = read_shp_records(f"{_TD}/{name}.shp")
        assert len(rows) >= 1
        for _, geom_type, wkt in rows:
            assert geom_type in ("POLYGON", "MULTIPOLYGON")
            polys = geometry.parse_wkt_polys(wkt)
            assert all(geometry.ring_area(p[0]) > 0 for p in polys)
            # the masks sit in the reference's projected test AOI
            xmin, ymin, xmax, ymax = geometry.bbox(polys[0][0])
            assert 300000 < xmin < xmax < 400000
            assert 5.8e6 < ymin < ymax < 5.9e6
