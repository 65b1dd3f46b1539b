"""UDF-surface tests (SURVEY.md §2.11): Python UDTF, applyInPandasWithState
custom stateful streaming operator.
"""

from __future__ import annotations

import pandas as pd
import pytest


def test_frontmatter_udtf(spark):
    from nocouncil_etl_spark.operators.udaf import HAS_UDTF, FrontmatterUDTF

    if not HAS_UDTF:
        pytest.skip("python UDTF unavailable on this Spark")
    spark.udtf.register("parse_frontmatter", FrontmatterUDTF)
    rows = spark.sql(
        "SELECT key, value FROM parse_frontmatter('---\ntitle: t1\nlang: en\n---\nbody')"
    ).collect()
    assert {(r.key, r.value) for r in rows} == {("title", "t1"), ("lang", "en")}


def test_apply_in_pandas_with_state(spark, sf_dir):
    """Custom stateful streaming operator: running per-user event count via
    applyInPandasWithState — the engine's hook for operators Structured
    Streaming lacks natively (SURVEY §2.10)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from nocouncil_etl_spark.streaming.windows import read_events_stream

    def running_count(key, pdfs, state: GroupState):
        count = state.get[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    events = read_events_stream(spark, sf_dir)
    counted = events.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        counted.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # final state per user must equal the batch group-by count
    got = {
        r.user_id: r.n_events
        for r in spark.sql(
            """SELECT user_id, max(n_events) AS n_events
               FROM state_counts GROUP BY user_id"""
        ).collect()
    }
    from nocouncil_etl_spark.io import load

    expect = {
        r.user_id: r["count"]
        for r in load(spark, sf_dir, "events").groupBy("user_id").count().collect()
    }
    assert got == expect
