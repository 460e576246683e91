"""Pins which body every ``AT_SCALE`` size branch picks on the fixture scales the
suite and the bench run: sf0.001 (where tests/test_queries.py checks every row),
sf0.01 (the driver's correctness scale) and sf0.1 (the bench scale) all sit below
every remaining entry's measured crossover, so all three run every small body. And
every entry is live: the row it names looks it up."""

from __future__ import annotations

import os

import pytest

from rubix_spark.queries import AT_SCALE, at_scale, load_all
from tests.conftest import SF_SMOKE, SF_T2

SF_BENCH = os.path.join(os.path.dirname(SF_T2), "sf0.1")


@pytest.mark.parametrize(
    "sf_dir", [SF_T2, SF_BENCH, SF_SMOKE], ids=["sf0.01", "sf0.1", "sf0.001"])
@pytest.mark.parametrize("name", sorted(AT_SCALE))
def test_size_dispatch_on_fixture_scales(sf_dir, name):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    assert not at_scale(name, sf_dir)


# the row whose builder consults each entry (q30_brand_dict: q30's small body)
_ROW_OF = {
    "q30_yoy_delta": "q30_yoy_delta",
    "q30_brand_dict": "q30_yoy_delta",
    "q31_agg_live": "q31_agg_live",
    "x2_ann_bruteforce": "x2_ann_bruteforce",
}


@pytest.mark.parametrize("name", sorted(AT_SCALE))
def test_at_scale_entry_is_consulted_by_its_row(spark, monkeypatch, name):
    """No dead entry: building the row at sf0.001 looks the entry up."""
    import rubix_spark.queries as queries

    class Recording(dict):
        seen: set = set()

        def __getitem__(self, key):
            self.seen.add(key)
            return super().__getitem__(key)

    assert set(_ROW_OF) == set(AT_SCALE)
    table = Recording(AT_SCALE)
    monkeypatch.setattr(queries, "AT_SCALE", table)
    load_all()[_ROW_OF[name]].builder(spark, SF_SMOKE)
    assert name in table.seen, f"{_ROW_OF[name]} never consults AT_SCALE[{name!r}]"
