"""Oracle parity per catalog query: the catalog audit's oracle verdict
(tests/test_catalog_audit.py), one test per query. The query is built and
run once per session, by whichever of the audit's tests reaches it first."""

from __future__ import annotations

import pytest

from test_catalog_audit import ORACLE_CASES, verdict


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    failures = verdict(name, spark, sf_dir, duck)
    assert "oracle" not in failures, failures["oracle"]
