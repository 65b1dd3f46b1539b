"""Event-time window + incremental queries (SURVEY.md §2.10 T1-T5).

`stream_*` queries run REAL Structured Streaming (file source →
trigger(availableNow) → memory sink) and are checked against batch-SQL
oracles; `window_*_batch` are the batch twins; `incr_*` are the anti-join
memoization idioms that replace the reference's skip-if-exists / seen-set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import rsum_sql
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query
from nocouncil_etl_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

_TUMBLING_ORACLE = f"""
SELECT CAST(floor(epoch_us(ts) / 600e6) AS BIGINT) * 600000000 AS w_start_us,
       event_type, count(*) AS n, {rsum_sql("value")} AS total
FROM events
GROUP BY 1, 2
"""


@query("stream_tumbling_window", oracle=_TUMBLING_ORACLE)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 streaming: tumbling 10-min windows over a file-source stream,
    complete mode into a memory sink. The batch oracle is exact because
    availableNow drains the whole source before the final emit."""
    events = read_events_stream(spark, sf_dir)
    return run_to_memory(tumbling_agg(events), mode="complete")


@query("window_tumbling_batch", oracle=_TUMBLING_ORACLE)
def window_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch twin: identical window expression, batch source."""
    return tumbling_agg(load(spark, sf_dir, "events"))


_SLIDING_ORACLE = """
WITH starts AS (
  SELECT event_id, event_type, epoch_us(ts) AS t,
         CAST(floor(epoch_us(ts) / 300e6) AS BIGINT) * 300000000
           - unnest([0, 300000000]) AS w_start_us
  FROM events
)
SELECT w_start_us, event_type, count(*) AS n
FROM starts
WHERE t < w_start_us + 600000000 AND t >= w_start_us
GROUP BY 1, 2
"""


@query("window_sliding_batch", oracle=_SLIDING_ORACLE)
def window_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: sliding windows (10 min width, 5 min slide) — each event lands in
    two windows; oracle enumerates candidate starts explicitly."""
    return sliding_agg(load(spark, sf_dir, "events"))


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 30 * 60 * 1000000 AS session_end_us,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
"""


@query("window_session_batch", oracle=_SESSION_ORACLE)
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: session windows (30-min gap) via the native session_window in
    batch mode. session_window treats [ts, ts+gap) as half-open — a new
    session starts when the gap is ≥ 30 min (oracle's >= mirrors that);
    session end = last event + gap."""
    return session_agg(load(spark, sf_dir, "events"))


@query(
    "stream_dedup",
    oracle="SELECT event_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 streaming: exactly-once dedup state — dropDuplicates on the stream
    (seen-set at newscrawler.py:349-351,366-369 as streaming state). event_id
    is unique here so the oracle is the identity projection; the point is the
    stateful operator running under a real streaming query."""
    events = read_events_stream(spark, sf_dir)
    deduped = events.dropDuplicates(["event_id"]).select("event_id", "event_type")
    return run_to_memory(deduped, mode="append")


@query(
    "stream_dedup_watermark",
    oracle="SELECT event_id, event_type FROM events",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 at stream scale: dropDuplicatesWithinWatermark — the bounded-state
    twin of stream_dedup. Plain dropDuplicates keeps every key forever (state
    grows with the stream); the watermarked variant evicts keys once the
    event-time watermark passes, so state is O(keys-per-hour), not O(stream).
    The input is the stream unioned with itself — every event arrives twice
    within the 1-hour delay — and the dedup provably collapses the copies
    back to the identity oracle."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    return run_to_memory(deduped, mode="append")


_CUTOFF = "2024-01-15 00:00:00"


@query(
    "incr_new_since_checkpoint",
    oracle=f"""
WITH processed AS (
  SELECT event_id FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'
)
SELECT e.event_type, count(*) AS n_new, epoch_us(min(e.ts)) AS first_new_us
FROM events e LEFT JOIN processed p ON e.event_id = p.event_id
WHERE p.event_id IS NULL
GROUP BY e.event_type
""",
)
def incr_new_since_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: skip-if-output-exists memoization as an anti-join against the
    processed-keys table (transcribe_council.py:119,127; summarize.py:174).
    Run-twice idempotence is property-tested in tests/test_incremental.py."""
    ev = load(spark, sf_dir, "events")
    processed = ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp")).select("event_id")
    return (
        ev.join(processed, "event_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.unix_micros(F.min("ts")).alias("first_new_us"),
        )
    )


_ATTRIBUTION_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us,
       round(p.value, 2) AS amount
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@query("stream_join_attribution_batch", oracle=_ATTRIBUTION_ORACLE)
def stream_join_attribution_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5+ batch twin of the stream-stream attribution join: purchases
    matched to same-user clicks within the preceding 30 minutes. The equi
    key (user_id) carries the shuffle; the time-range condition is a
    residual — in streaming form it also BOUNDS the join state."""
    from nocouncil_etl_spark.streaming.windows import attribution_join

    ev = load(spark, sf_dir, "events")
    return attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


@query("stream_join_attribution", oracle=_ATTRIBUTION_ORACLE)
def stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5+ REAL stream-stream inner join: both sides are watermarked file
    streams; the range condition + watermarks bound per-key state, and the
    inner join emits exactly the batch twin's rows (same oracle)."""
    from nocouncil_etl_spark.streaming.windows import attribution_join

    events = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    out = attribution_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )
    return run_to_memory(out, mode="append")


DEBOUNCE_GAP = "5 minutes"

_DEBOUNCE_ORACLE = """
WITH g AS (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id))
              < 300000000 THEN 0 ELSE 1 END AS is_start
  FROM events
),
isl AS (
  SELECT event_id, user_id, event_type, ts,
         CAST(sum(is_start) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS BIGINT) AS island
  FROM g
)
SELECT user_id, event_type,
       min(event_id) AS kept_event_id,
       epoch_us(min(ts)) AS first_us,
       count(*) AS n_collapsed
FROM isl
GROUP BY user_id, event_type, island
"""


@query("stream_debounce", oracle=_DEBOUNCE_ORACLE)
def stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce dedup as a REAL stream: session_window(ts, 5 min) per
    (user, type) merges bursts closer than the gap into one session whose
    head event survives — the streaming twin of the batch gaps-and-islands
    dedup_debounce, under the SAME oracle (session_window's open-interval
    merge rule, next.ts < prev.ts + gap, is exactly the islands' strict
    `gap < 5 min` continuation test). availableNow + complete mode drains
    the file source before the final emit, so the batch oracle is exact.

    Scale shape: streaming session-window state is per-open-session per
    key, evicted as sessions close — the ingest-side retry-storm filter
    that never holds the stream's history."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(
            F.session_window("ts", DEBOUNCE_GAP).alias("w"),
            "user_id",
            "event_type",
        )
        .agg(
            F.min("event_id").alias("kept_event_id"),
            F.unix_micros(F.min("ts")).alias("first_us"),
            F.count(F.lit(1)).alias("n_collapsed"),
        )
        .select(
            "user_id", "event_type", "kept_event_id", "first_us", "n_collapsed"
        )
    )
    return run_to_memory(agg, mode="complete")


@query(
    "stream_stateful_user_stats",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS total_v4
FROM events GROUP BY user_id
""",
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator under a batch oracle: a running
    per-user (count, fixed-point value total) maintained in the state
    store via applyInPandasWithState — the hook for operators Structured
    Streaming lacks natively. Values quantize to the 1e-4 integer grid
    BEFORE entering the UDF so state arithmetic is integer (no float
    accumulation order to disagree on); both accumulators are monotone
    (values are positive), so the per-user max over all update-mode
    emissions IS the final state, which availableNow drains to exactly
    the batch aggregate.

    Scale shape: state is two integers per user, partitioned by the
    grouping key in the state store; emissions are one row per (user,
    micro-batch)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from nocouncil_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 10000, 0).cast("long").alias("v4")
    )

    def stats(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            tot += int(pdf["v4"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_v4": [tot]}
        )

    counted = ev.groupBy("user_id").applyInPandasWithState(
        stats,
        outputStructType="user_id long, n_events long, total_v4 long",
        stateStructType="n long, tot long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(counted, mode="update")
    return sunk.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_v4").alias("total_v4"),
    )


@query(
    "stream_static_enrich",
    oracle=f"""
SELECT n.n_name, e.event_type, count(*) AS n, {rsum_sql("e.value")} AS total
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY n.n_name, e.event_type
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the standard streaming shape the
    stream-stream attribution join doesn't cover: a live event stream
    joins a slowly-changing dimension (static frame, broadcast to every
    micro-batch) and aggregates per enriched key. availableNow + complete
    mode drains the source so the batch oracle is exact.

    Scale shape: the dim broadcasts once per micro-batch (no stream-side
    state at all — unlike stream-stream joins); the agg keeps one row per
    (nation, type)."""
    from nocouncil_etl_spark.functions.numeric import exact_sum
    from nocouncil_etl_spark.io import load as _load
    from nocouncil_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir).select(
        (F.col("user_id") % 25).alias("nk"), "event_type", "value"
    )
    nation = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    agg = (
        ev.join(F.broadcast(nation), "nk")
        .groupBy("n_name", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), exact_sum("value").alias("_t"))
        .select(
            "n_name", "event_type", "n",
            F.round(F.col("_t"), 2).cast("double").alias("total"),
        )
    )
    return run_to_memory(agg, mode="complete")


from nocouncil_etl_spark.plans.analytics6 import HI as _HYST_HI
from nocouncil_etl_spark.plans.analytics6 import LO as _HYST_LO


@query(
    "stream_hysteresis_alerts",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN value >= {_HYST_HI} THEN 1 WHEN value <= {_HYST_LO} THEN 0 END AS trigger
  FROM events
),
state AS (
  SELECT user_id, ts, event_id,
         coalesce(last_value(trigger IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS active
  FROM marked
),
edges AS (
  SELECT user_id, active,
         CASE WHEN active = 1 AND coalesce(lag(active) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), 0) = 0
           THEN 1 ELSE 0 END AS opens
  FROM state
)
SELECT user_id,
       CAST(sum(opens) AS BIGINT) AS n_episodes,
       CAST(sum(active) AS BIGINT) AS n_alert_events
FROM edges GROUP BY user_id
HAVING sum(opens) > 0
""",
)
def stream_hysteresis_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of window_hysteresis_episodes: a per-user
    Schmitt-trigger alert state machine (enter ≥ HI, exit ≤ LO — the
    analytics6 thresholds, imported so the twins cannot drift) maintained in the state store via
    applyInPandasWithState. Unlike stream_stateful_user_stats' monotone
    accumulators, this state is SEQUENTIAL — (active, episodes,
    alert_events) — so the kernel sorts each group's batch by (ts,
    event_id) before replaying the transitions; the availableNow file
    source delivers the single parquet in one micro-batch, making the
    replay exact (a live deployment would watermark-buffer per key before
    applying, the standard discipline for order-sensitive state).

    Oracle = the batch carry-forward form aggregated per user (only users
    with at least one episode, since the stream only emits touched keys).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from nocouncil_etl_spark.plans.analytics6 import HI, LO
    from nocouncil_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )

    def fsm(key, pdfs, state: GroupState):
        active, episodes, alert_events = (
            state.get if state.exists else (0, 0, 0)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        for v in pdf["value"]:
            if v >= HI:
                if active == 0:
                    episodes += 1
                active = 1
            elif v <= LO:
                active = 0
            if active == 1:
                alert_events += 1
        state.update((active, episodes, alert_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_episodes": [episodes],
                "n_alert_events": [alert_events],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        fsm,
        outputStructType="user_id long, n_episodes long, n_alert_events long",
        stateStructType="active long, episodes long, alert_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(out, mode="update")
    return (
        sunk.groupBy("user_id")
        .agg(
            F.max("n_episodes").cast("long").alias("n_episodes"),
            F.max("n_alert_events").cast("long").alias("n_alert_events"),
        )
        .filter(F.col("n_episodes") > 0)
    )


@query("stream_cep_pattern", oracle=None)
def stream_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cep_pattern_match (breadth21): the
    view→click→purchase pattern with no-error negation runs as a per-user
    FSM under applyInPandasWithState — state carries (err_cum, last view,
    last click + the view/error snapshot AT that click), each micro-batch
    replays its group's events in (ts, event_id) order, and matches emit
    in append mode. With the availableNow single-batch file source the
    replay is exact, so the result is checked against the SAME batch
    oracle; a live deployment would watermark-buffer per key before
    applying (the stream_hysteresis_alerts discipline for
    order-sensitive state).

    Scale shape: one shuffle on user_id; state per key is nine longs —
    O(active users), not O(stream); emission is append-only."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from nocouncil_etl_spark.plans.breadth21 import CEP_WINDOW_US
    from nocouncil_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
    )

    def fsm(key, pdfs, state: GroupState):
        if state.exists:
            (err_cum, v_id, v_us, v_err, c_id, c_us, cv_id, cv_us, cv_err) = (
                state.get
            )
        else:
            err_cum, v_id, v_us, v_err = 0, -1, -1, -1
            c_id, c_us, cv_id, cv_us, cv_err = -1, -1, -1, -1, -1
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["t_us", "event_id"])
        out = []
        for et, eid, t in zip(
            pdf["event_type"], pdf["event_id"].astype(int), pdf["t_us"].astype(int)
        ):
            if et == "error":
                err_cum += 1
            elif et == "view":
                v_id, v_us, v_err = eid, t, err_cum
            elif et == "click":
                c_id, c_us = eid, t
                cv_id, cv_us, cv_err = v_id, v_us, v_err
            elif et == "purchase":
                if (
                    c_id != -1
                    and cv_id != -1
                    and cv_us < c_us < t
                    and t - cv_us <= CEP_WINDOW_US
                    and err_cum - cv_err == 0
                ):
                    out.append((eid, int(key[0]), cv_id, c_id, t - cv_us))
        state.update(
            (err_cum, v_id, v_us, v_err, c_id, c_us, cv_id, cv_us, cv_err)
        )
        yield pd.DataFrame(
            out,
            columns=["purchase_id", "user_id", "view_id", "click_id", "span_us"],
        )

    matched = ev.groupBy("user_id").applyInPandasWithState(
        fsm,
        outputStructType=(
            "purchase_id long, user_id long, view_id long, click_id long, "
            "span_us long"
        ),
        stateStructType=(
            "err_cum long, v_id long, v_us long, v_err long, c_id long, "
            "c_us long, cv_id long, cv_us long, cv_err long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(matched, mode="append")


# share the batch CEP oracle: the streaming FSM replays the identical
# pattern, so the same SQL checks it (registered post-import to avoid a
# circular import at module load).
def _attach_stream_cep_oracle() -> None:
    from nocouncil_etl_spark.plans import breadth21
    from nocouncil_etl_spark.registry import REGISTRY, Query

    q = REGISTRY["stream_cep_pattern"]
    REGISTRY["stream_cep_pattern"] = Query(
        name=q.name, fn=q.fn, oracle=breadth21._CEP_ORACLE, doc=q.doc
    )


_attach_stream_cep_oracle()


_HH_TOPK = 5

_HH_ORACLE = f"""
SELECT event_type, user_id, n, rk FROM (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY count(*) DESC, user_id
         ) AS INT) AS rk
  FROM events GROUP BY event_type, user_id
) WHERE rk <= {_HH_TOPK}
"""


@query("stream_topk_heavy_hitters", oracle=_HH_ORACLE)
def stream_topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: per event type, the top-{_HH_TOPK} users
    by event count, maintained as mergeable (ids, counts) array state
    under applyInPandasWithState and re-emitted per micro-batch (update
    mode). State here is EXACT (one counter per distinct key within the
    group — O(users), the price of an exact answer, and why the result
    hash-matches the batch oracle); the bounded-memory fallback at
    unbounded key domains is the space-saving/Misra-Gries eviction on the
    same state arrays, trading exactness below the top-k boundary — the
    CMS sketch (sketch_countmin_freq) is the other standard compromise.

    Scale shape: one shuffle on event_type; counts merge
    associatively so state survives any micro-batch slicing; emission is
    top-k-sized."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from nocouncil_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir).select("event_type", "user_id")

    def hh(key, pdfs, state: GroupState):
        if state.exists:
            ids, counts = state.get
            acc = dict(zip(ids, counts))
        else:
            acc = {}
        for pdf in pdfs:
            for uid, n in pdf.groupby("user_id").size().items():
                acc[int(uid)] = acc.get(int(uid), 0) + int(n)
        state.update((list(acc.keys()), list(acc.values())))
        top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:_HH_TOPK]
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(top),
                "user_id": [t[0] for t in top],
                "n": [t[1] for t in top],
                "rk": list(range(1, len(top) + 1)),
            }
        )

    out = ev.groupBy("event_type").applyInPandasWithState(
        hh,
        outputStructType="event_type string, user_id long, n long, rk int",
        stateStructType="ids array<long>, counts array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(out, mode="update")
    # keep each (event_type, rk)'s LAST emission (highest count wins —
    # counts only grow across batches)
    w = Window.partitionBy("event_type", "rk").orderBy(F.desc("n"), "user_id")
    return (
        sunk.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("event_type", "user_id", "n", "rk")
    )
