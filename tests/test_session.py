"""tune(): explicit-set detection without the JVM reach-through, and the
debug log when a conf cannot be applied."""

from __future__ import annotations

import logging

from nocouncil_etl_spark import session

LIFT_KEY = "spark.sql.autoBroadcastJoinThreshold"
LIFTED = session.RUNTIME_DEFAULT_LIFTS[LIFT_KEY][1]


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
