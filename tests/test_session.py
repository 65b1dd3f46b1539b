"""tune(): explicit-set detection without the JVM reach-through, and the
debug log when a conf cannot be applied. get_session(): the default heap
fits the host, and the session keeps generated code compiled across calls
and builds plans without PySpark's per-Column call-site capture (SCALE.md,
"Keeping generated code compiled across calls")."""

from __future__ import annotations

import json
import logging
import os
import subprocess
import sys

from nocouncil_etl_spark import session
from nocouncil_etl_spark.registry import load_all

LIFT_KEY = "spark.sql.autoBroadcastJoinThreshold"
LIFTED = session.RUNTIME_DEFAULT_LIFTS[LIFT_KEY][1]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF001 = os.path.join(REPO, "perfbench", "data", "sf0.01")
# batch_sf001's queries (perfbench/workloads.py)
BATCH = [
    "mine_topk_ngrams",
    "pipeline_council_e2e",
    "vec_knn_index_kmeans_build",
    "curation_incremental_e2e",
]


class _NoJvmSession:
    """The session's conf, with the SQLConf.contains reach-through raising
    as it does on Spark Connect."""

    def __init__(self, conf):
        self.conf = conf

    @property
    def _jsparkSession(self):
        raise AttributeError("no JVM session on this build")


def test_lift_applies_when_jvm_reach_through_raises(spark):
    before = spark.conf.get(LIFT_KEY)
    try:
        spark.conf.unset(LIFT_KEY)
        session.tune(_NoJvmSession(spark.conf))
        assert spark.conf.get(LIFT_KEY) == LIFTED

        spark.conf.set(LIFT_KEY, "-1")  # an explicit override is never stomped
        session.tune(_NoJvmSession(spark.conf))
        assert spark.conf.get(LIFT_KEY) == "-1"
    finally:
        spark.conf.set(LIFT_KEY, before)


class _RefusingConf:
    def __init__(self, refused):
        self.refused = refused
        self.values = {}

    def set(self, key, value):
        if key in self.refused:
            raise RuntimeError(f"cannot set {key}")
        self.values[key] = value

    def get(self, key, default=None):
        if key in self.refused:
            raise RuntimeError(f"cannot read {key}")
        return self.values.get(key, default)


def test_tune_logs_the_key_it_could_not_set(caplog):
    pinned = "spark.sql.session.timeZone"
    conf = _RefusingConf({pinned, LIFT_KEY})
    with caplog.at_level(logging.DEBUG, logger=session.__name__):
        session.tune(_NoJvmSession(conf))
    logged = [r.getMessage() for r in caplog.records if r.levelno == logging.DEBUG]
    assert any(pinned in m for m in logged)
    assert any(LIFT_KEY in m for m in logged)
    assert conf.values["spark.sql.adaptive.enabled"] == "true"  # the rest still applied


def test_warm_batch_pass_compiles_no_generated_code(spark):
    reg = load_all()
    compiled = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass() -> int:
        before = compiled.METRIC_COMPILATION_TIME().getCount()
        for name in BATCH:
            reg[name].fn(spark, SF001).collect()
            spark.catalog.clearCache()
        return compiled.METRIC_COMPILATION_TIME().getCount() - before

    assert run_pass() > 0
    # with Spark's 100-entry default the warm pass recompiles 77-78 classes
    assert run_pass() == 0


PROBE = """
import json
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F
from nocouncil_etl_spark.session import get_session

spark = get_session("probe")
F.col("x")
print(json.dumps({
    "debugging": is_debugging_enabled(),
    "cache": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
}))
spark.stop()
"""


def test_fresh_session_turns_off_call_site_capture():
    # a fresh interpreter: PySpark caches the flag at the process's first
    # Column call
    env = dict(
        os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g"
    )
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"debugging": False, "cache": "2048"}


def test_default_heap_fits_the_host(spark, monkeypatch):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    pinned = os.environ.get("SPARK_DRIVER_MEMORY")
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session.default_driver_memory()
    assert heap.endswith("g") and int(heap[:-1]) << 30 <= max(0.4 * phys, 1 << 30)
    if not pinned:  # the test session took the default
        runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        assert runtime.maxMemory() <= 0.4 * phys
