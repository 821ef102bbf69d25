"""Driver-checkable rows for the Structured Streaming operators.

These rows actually RUN the streams (availableNow triggers draining the
staged events table into memory sinks) and expose the sink contents as
plain DataFrames, so the driver's value-hash compare covers the
streaming operators end-to-end instead of pytest-only:

- ``stream_sessionize_closed``: the stateful ``applyInPandasWithState``
  sessionizer (ocrs_spark.streaming; SURVEY.md §2.6). Oracle = batch
  sessionization restricted to closed sessions (every session except
  each user's trailing one, which stays open in streaming state).
"""

from __future__ import annotations

from .relational import SESSIONS_CTE

# (applicationId, sf_dir, kind) -> memory-sink table name of a run.
_DONE: dict = {}


def _staged_events_run(spark, sf_dir, kind, runner):
    """Stage events.parquet into a directory (the file stream source
    requires one) and run ``runner(events_dir, ckpt_dir, sink_name)``
    once per (session, sf_dir); return the memory-sink table."""
    import tempfile
    import uuid

    key = (spark.sparkContext.applicationId, sf_dir, kind)
    name = _DONE.get(key)
    if name is None:
        name = f"{kind}_" + uuid.uuid4().hex[:8]
        base = tempfile.mkdtemp(prefix=f"ocrs_stream_{kind}_")
        events_dir = f"{base}/events"
        spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(events_dir)
        runner(events_dir, f"{base}/ckpt", name)
        _DONE[key] = name
    return spark.table(name)


def _staged_duplicated_run(spark, sf_dir, kind, runner):
    """Stage events.parquet with planted re-deliveries — two full copies
    plus a third partial copy (event_id % 3 == 0) landed as separate
    files, the way an at-least-once queue re-delivers — then run the
    stream once per (session, sf_dir)."""
    import tempfile
    import uuid

    key = (spark.sparkContext.applicationId, sf_dir, kind)
    name = _DONE.get(key)
    if name is None:
        name = f"{kind}_" + uuid.uuid4().hex[:8]
        base = tempfile.mkdtemp(prefix=f"ocrs_stream_{kind}_")
        events_dir = f"{base}/events"
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev.write.parquet(events_dir)
        ev.write.mode("append").parquet(events_dir)
        ev.where("event_id % 3 = 0").write.mode("append").parquet(events_dir)
        runner(events_dir, f"{base}/ckpt", name)
        _DONE[key] = name
    return spark.table(name)


def stream_dedup_ingest(spark, sf_dir):
    """Distinct events surviving the watermarked streaming dedup of an
    at-least-once delivery (event_id, user_id, event_type, value)."""
    from ocrs_spark.streaming import stream_dedup_events

    return _staged_duplicated_run(
        spark,
        sf_dir,
        "dedup_ingest",
        lambda ev, ck, name: stream_dedup_events(spark, ev, ck, name),
    )


def stream_sessionize_closed(spark, sf_dir):
    """Closed sessions emitted by the streaming sessionizer
    (user_id, session_start, session_end, n_events, sum_value)."""
    from ocrs_spark.streaming import stream_sessionize_events

    return _staged_events_run(
        spark,
        sf_dir,
        "closed_sessions",
        lambda ev, ck, name: stream_sessionize_events(spark, ev, ck, name),
    )


ORACLE_STREAM_SESSIONIZE = f"""
WITH {SESSIONS_CTE}
SELECT user_id, session_start, session_end, n_events, sum_value
FROM (
  SELECT *, max(session_idx) OVER (PARTITION BY user_id) AS last_idx
  FROM session_aggs
)
WHERE session_idx < last_idx
"""


def stream_click_attribution(spark, sf_dir):
    """(user_id, view_id, click_id, view_epoch, click_epoch) pairs from
    the watermarked stream-stream interval self-join (every click
    attributed to each same-user view in the preceding 2 hours)."""
    from ocrs_spark.streaming import stream_view_click_join

    return _staged_events_run(
        spark,
        sf_dir,
        "click_attr",
        lambda ev, ck, name: stream_view_click_join(spark, ev, ck, name),
    )


# availableNow drains the staged corpus without watermark drops, so the
# exact batch range join is the oracle (epoch_ms//1000 mirrors the
# UTC-pinned unix_timestamp truncation — the sessionize convention).
ORACLE_CLICK_ATTRIBUTION = """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       (epoch_ms(v.ts) // 1000)::BIGINT AS view_epoch,
       (epoch_ms(c.ts) // 1000)::BIGINT AS click_epoch
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
"""


def _staged_late_run(spark, sf_dir, kind, runner):
    """Stage events as three files with pinned, strictly-increasing
    mtimes (FileStreamSource drains them in this order, one per
    trigger):

    - part-0 "on-time": everything except the re-deliveries; carries
      the global max event time, so after batch 0 the watermark is
      (max ts - delay) for the whole rest of the run.
    - part-1 "late but in grace": old rows (ts < max - 4h) re-delivered
      one batch later. Batch 1's late-input filter still uses batch 0's
      PLANNED watermark (epoch), so they merge into their still-open
      windows and are counted.
    - part-2 "late past grace": more old rows, two batches later. Batch
      2's late filter uses the watermark planned for batch 1
      (max - 2h), and every part-2 row's window closed before that —
      dropped row-for-row.
    """
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    key = (spark.sparkContext.applicationId, sf_dir, kind)
    name = _DONE.get(key)
    if name is None:
        name = f"{kind}_" + uuid.uuid4().hex[:8]
        base = tempfile.mkdtemp(prefix=f"ocrs_stream_{kind}_")
        events_dir = f"{base}/events"
        os.makedirs(events_dir)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        (max_ts,) = ev.agg(F.max("ts")).first()
        old = F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 4 HOURS")
        parts = [
            ev.filter(~((F.col("event_id") % 10).isin(0, 5) & old)),
            ev.filter((F.col("event_id") % 10 == 0) & old),
            ev.filter((F.col("event_id") % 10 == 5) & old),
        ]
        for i, part in enumerate(parts):
            stage = f"{base}/stage{i}"
            part.coalesce(1).write.parquet(stage)
            (src,) = [
                f for f in os.listdir(stage) if f.endswith(".parquet")
            ]
            dst = f"{events_dir}/part-{i}.parquet"
            os.rename(f"{stage}/{src}", dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        runner(events_dir, f"{base}/ckpt", name)
        _DONE[key] = name
    return spark.table(name)


def stream_late_data_drops(spark, sf_dir):
    """Finalized hourly windows emitted by the append-mode watermarked
    aggregation over the out-of-order staged delivery (window_start,
    event_type, n_events, sum_value): in-grace re-deliveries counted,
    past-grace re-deliveries dropped, trailing 2h of windows held."""
    from ocrs_spark.streaming import stream_tumbling_late

    return _staged_late_run(
        spark,
        sf_dir,
        "late_drops",
        lambda ev, ck, name: stream_tumbling_late(spark, ev, ck, name),
    )


# Batch replication of the watermark semantics (see stream_tumbling_late
# docstring): kept = on-time ∪ in-grace re-delivery (part-1); part-2 is
# dropped entirely (every row's window end <= max - 2h by the ts <
# max - 4h construction); emitted = windows with end <= max - 2h.
ORACLE_LATE_DROPS = """
WITH m AS (SELECT max(ts) AS mx FROM events),
kept AS (
  SELECT e.* FROM events e, m
  WHERE NOT (event_id % 10 = 5 AND e.ts < m.mx - INTERVAL 4 HOUR)
),
agg AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
  FROM kept GROUP BY 1, 2
)
SELECT epoch(wstart)::BIGINT AS window_start, event_type,
       n_events, sum_value
FROM agg, m
WHERE wstart + INTERVAL 1 HOUR <= m.mx - INTERVAL 2 HOUR
"""


def stream_tumbling_update_upsert(spark, sf_dir):
    """Final per-window state after the UPDATE-mode aggregation over
    the same out-of-order staged delivery, MERGEd micro-batch by
    micro-batch into an Iceberg table via equality-delete upserts
    (window_start, event_type, n_events, sum_value). Unlike append
    mode, open trailing windows ARE present (update emits changed
    state), so the oracle is the plain batch aggregation of the
    non-dropped rows."""
    import tempfile

    from ocrs_spark.iceberg import IcebergTable
    from ocrs_spark.streaming import stream_tumbling_update

    def run(events_dir, ckpt, name):
        loc = tempfile.mkdtemp(prefix="ocrs_stream_upd_") + "/tbl"
        stream_tumbling_update(spark, events_dir, ckpt, loc)
        IcebergTable.load(loc).scan(spark).createOrReplaceTempView(name)

    return _staged_late_run(spark, sf_dir, "late_update", run)


# Update mode + keyed upsert: final state = batch agg over the kept
# rows (on-time ∪ in-grace re-delivery); past-grace rows dropped by the
# same two-watermark rule; open trailing windows INCLUDED.
ORACLE_LATE_UPDATE = """
WITH m AS (SELECT max(ts) AS mx FROM events),
kept AS (
  SELECT e.* FROM events e, m
  WHERE NOT (event_id % 10 = 5 AND e.ts < m.mx - INTERVAL 4 HOUR)
)
SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM kept GROUP BY 1, 2
"""


def stream_value_alerts(spark, sf_dir):
    """One row per user at the FIRST event where the user's cumulative
    value crosses the alert threshold (user_id, alert_epoch, cum_cents,
    n_events) — the stateful monitoring-rule shape (budget caps, abuse
    limits) that needs arbitrary cross-batch state, not a windowed
    aggregate."""
    from ocrs_spark.streaming import stream_value_alerts as runner

    return _staged_events_run(
        spark,
        sf_dir,
        "value_alerts",
        lambda ev, ck, name: runner(spark, ev, ck, name),
    )


# Exact integer-cents running total: floor(value*100) is the same
# float64 op in DuckDB and numpy, so the crossing comparison can never
# flip on summation order. QUALIFY keeps only each user's first
# crossing — the streaming side latches `fired` in state.
ORACLE_VALUE_ALERTS = """
WITH ordered AS (
  SELECT user_id,
         (epoch_ms(ts) // 1000)::BIGINT AS ts_epoch,
         event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), running AS (
  SELECT user_id, ts_epoch,
         CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts_epoch, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_epoch, event_id) AS n_events
  FROM ordered
)
SELECT user_id, ts_epoch AS alert_epoch, cum_cents, n_events
FROM running
WHERE cum_cents >= 300000
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events) = 1
"""


QUERIES = {
    "stream_sessionize_closed": stream_sessionize_closed,
    "stream_dedup_ingest": stream_dedup_ingest,
    "stream_click_attribution": stream_click_attribution,
    "stream_value_alerts": stream_value_alerts,
    "stream_late_data_drops": stream_late_data_drops,
    "stream_tumbling_update_upsert": stream_tumbling_update_upsert,
}

ORACLES = {
    "stream_sessionize_closed": ORACLE_STREAM_SESSIONIZE,
    # The staged re-deliveries all arrive inside the watermark horizon,
    # so the drained dedup output is exactly the original distinct set.
    "stream_dedup_ingest": (
        "SELECT event_id, user_id, event_type, value FROM events"
    ),
    "stream_click_attribution": ORACLE_CLICK_ATTRIBUTION,
    "stream_value_alerts": ORACLE_VALUE_ALERTS,
    "stream_late_data_drops": ORACLE_LATE_DROPS,
    "stream_tumbling_update_upsert": ORACLE_LATE_UPDATE,
}
