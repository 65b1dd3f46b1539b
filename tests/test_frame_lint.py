"""Suffix-aggregate window-frame lint per catalog query: the catalog audit's ``frame``
verdict (tests/test_catalog_audit.py), one test per query. The query is
built and run once per session, by whichever of the audit's tests reaches
it first."""

from __future__ import annotations

import pytest

from test_catalog_audit import REG, verdict


@pytest.mark.parametrize("name", sorted(REG))
def test_no_suffix_aggregate_frames(name, spark, sf_dir, duck):
    failures = verdict(name, spark, sf_dir, duck)
    assert "frame" not in failures, failures["frame"]
