"""Driver-materialization lint per catalog query: the catalog audit's ``collect``
verdict (tests/test_catalog_audit.py), one test per query. The query is
built and run once per session, by whichever of the audit's tests reaches
it first."""

from __future__ import annotations

import pytest

from test_catalog_audit import REG, verdict


@pytest.mark.parametrize("name", sorted(REG))
def test_no_unbounded_driver_materialization(name, spark, sf_dir, duck):
    failures = verdict(name, spark, sf_dir, duck)
    assert "collect" not in failures, failures["collect"]
