"""Pins which body every ``AT_SCALE`` size branch picks on the two fixture scales
the suite and the bench run: sf0.01 (the driver's correctness scale) runs every
small body, and sf0.1 (the bench scale) runs the at-scale bodies whose measured
crossover lies below it."""

from __future__ import annotations

import os

import pytest

from rubix_spark.queries import AT_SCALE, at_scale
from tests.conftest import SF_T2

SF_BENCH = os.path.join(os.path.dirname(SF_T2), "sf0.1")
AT_SCALE_ON_SF_BENCH = {
    "q3_agg_having", "q28_tpch_q1", "q4_star_join", "x1_dedup_components",
    "x4_udf_grouped_median", "x7_range_join", "x9_pack",
}


@pytest.mark.parametrize("sf_dir", [SF_T2, SF_BENCH], ids=["sf0.01", "sf0.1"])
@pytest.mark.parametrize("name", sorted(AT_SCALE))
def test_size_dispatch_on_fixture_scales(sf_dir, name):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    assert at_scale(name, sf_dir) == (sf_dir == SF_BENCH and name in AT_SCALE_ON_SF_BENCH)
