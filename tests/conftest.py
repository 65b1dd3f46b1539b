from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Fast tier (r12, from the r11 verdict's item 2): the full suite is 4,500+
# Spark tests and ~1h of wall clock, which the verification driver's window
# cannot finish — VERIFY_r11 recorded tests_ok: false with the run cut off
# at ~28%, so test health was invisible to the gate. By default a plain
# `pytest tests/` now DESELECTS tests whose recorded call time exceeds
# FAST_TIER_MAX_CALL_SEC (manifest: tests/_durations_r12.json, captured from
# a full 4528-passed run); everything else — including any test not in the
# manifest, so new tests always run — stays. Set NOCOUNCIL_FULL_TESTS=1 to
# run everything (the round-close discipline); the deselected count is
# visible in the summary line so a truncated tier can never masquerade as
# the full suite.
#
# The catalog audit (tests/test_catalog_audit.py: each of the 752 queries
# built and run once, checked against its DuckDB oracle and the collect,
# frame, fan-out and window rules) is not in the manifest, so it always runs
# here; neither are the five per-rule modules that report its verdicts.
# Keep it out: the fast tier's catalog evidence is the whole catalog.
# ---------------------------------------------------------------------------

# 0.4 s keeps ~1,750 manifest tests at ~7-8 min solo on the r12 sandbox
# (measured: the 1.0 s tier ran 3,099 tests in 23:17 — too close to the
# driver window that killed the r11 full run at ~28%)
FAST_TIER_MAX_CALL_SEC = 0.4
_DURATIONS_MANIFEST = os.path.join(os.path.dirname(__file__), "_durations_r12.json")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("NOCOUNCIL_FULL_TESTS"):
        return
    try:
        with open(_DURATIONS_MANIFEST) as fh:
            durations = json.load(fh)
    except (OSError, ValueError):
        return
    keep, drop = [], []
    for item in items:
        nodeid = f"tests/{item.nodeid}" if not item.nodeid.startswith("tests/") else item.nodeid
        if durations.get(nodeid, 0.0) > FAST_TIER_MAX_CALL_SEC:
            drop.append(item)
        else:
            keep.append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    from nocouncil_etl_spark.session import get_session

    s = get_session("nocouncil-etl-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from nocouncil_etl_spark.io import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
