"""Structured Streaming surface (SURVEY.md §2.9) — the north-star core:
CDC processing is exactly what Structured Streaming is designed for.

Every key runs a finite file-source stream with ``trigger(availableNow)``
so results are checkable; the oracle is the batch-equivalent query —
precisely the guarantee Structured Streaming makes (streaming result ≡
batch result on the same data; Armbrust et al., SIGMOD 2018).

Mechanics shared by all keys:
- Input: the normalized ``events`` table written once per (session,
  sf_dir) to a temp dir as FOUR time-ordered parquet files; with
  ``maxFilesPerTrigger=1`` this yields four genuine micro-batches.
- State: aggregations use complete/update mode into a memory sink; the
  CDC pipeline maintains a versioned parquet snapshot under
  ``foreachBatch`` with an ORDER-INDEPENDENT idempotent merge (max-ts
  wins), so at-least-once batch delivery and file reordering cannot
  corrupt the snapshot — the exactly-once posture from SURVEY §4.
- At scale: the same code reads a real feed (Kafka/files) with watermarks
  bounding state; state stores shard by group key across executors.
"""

from __future__ import annotations

import itertools
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.cdc import dedup_extract
from engine.io import load_tables, session_state
from engine.io import tmpdir as io_tmpdir
from engine.registry import query

_uid = itertools.count()


def _events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write normalized events as 4 time-ordered parquet files (cached per
    session+sf_dir). Files are written sequentially so modification-time
    order == event-time order (micro-batch simulation)."""
    per_session = session_state(spark).stream_inputs
    cached = per_session.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_stream_in_")
    bounds = ev.select(
        F.percentile("ts_ns", 0.25).alias("q1"),
        F.percentile("ts_ns", 0.5).alias("q2"),
        F.percentile("ts_ns", 0.75).alias("q3"),
    ).collect()[0]
    cuts = [float("-inf"), bounds.q1, bounds.q2, bounds.q3, float("inf")]
    for i in range(4):
        part = ev.where(
            (F.col("ts_ns") > F.lit(cuts[i])) & (F.col("ts_ns") <= F.lit(cuts[i + 1]))
            if i > 0
            else (F.col("ts_ns") <= F.lit(cuts[1]))
        )
        part.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, f"b{i}"))
        time.sleep(0.05)  # distinct mtimes → deterministic batch order
    per_session[sf_dir] = base
    return base


def _read_stream(spark: SparkSession, sf_dir: str, max_files: int | None = None) -> DataFrame:
    d = _events_stream_dir(spark, sf_dir)
    schema = load_tables(spark, sf_dir)["events"].schema
    r = spark.readStream.schema(schema)
    if max_files:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.option("recursiveFileLookup", "true").parquet(d)


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run an availableNow stream into a memory sink; return final table."""
    name = f"memsink_{next(_uid)}"
    with tempfile.TemporaryDirectory(prefix="engine_ckpt_") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.table(name)


@query(
    "source_stream_files",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY event_type
    """,
)
def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based readStream over the events feed; streamed counts/sums per
    type must equal the batch query (§2.2 source key). NB exact distinct is
    unsupported on streams — use approx_count_distinct there."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("tv")
    )
    out = _run_to_memory(agg, "complete")
    return out.select("event_type", "n", F.round("tv", 4).alias("total_value"))


@query(
    "stream_tumbling_count",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window (complete mode — final
    state ≡ batch)."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").count()
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("ws"), "event_type", F.col("count").alias("n")
    )


@query(
    "stream_sliding_avg",
    oracle="""
    WITH offs AS (SELECT unnest(generate_series(0, 3)) AS k)
    SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
             - k * INTERVAL 15 MINUTE AS ws,
           floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 / count(*) * 1000000 + 0.5) / 1000000 AS avg_value,
           count(*) AS n
    FROM events, offs
    GROUP BY 1
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min: each event lands in 4 windows.

    The average is exact-cents-sum / count with a floor 6dp snap, NOT
    avg()+round(): value is a 2dp column and window populations here are
    powers of two, so the true mean lands EXACTLY on decimal
    half-boundaries (46.2796875 at sf1) where Spark's BigDecimal HALF_UP
    and DuckDB's std::round disagree — caught by the r07 sf1 parity
    sweep. Cents sums are exact integers on both engines, the division
    chain is the same IEEE ops, and floor is bit-identical."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
        F.count("*").alias("n"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("ws"),
        (
            F.floor(
                F.col("cents").cast("double") / 100.0 / F.col("n") * 1000000
                + F.lit(0.5)
            ).cast("double")
            / 1000000
        ).alias("avg_value"),
        "n",
    )


@query(
    "stream_session_window",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap). session_window end = last
    event + gap, matching the lag-based batch formulation exactly."""
    s = _read_stream(spark, sf_dir)
    agg = s.groupBy(F.session_window("ts", "30 minutes"), "user_id").count()
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        F.col("count").alias("n_events"),
    )


@query(
    "stream_watermark_late",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
    w AS (
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws,
             CAST(count(*) AS BIGINT) AS n,
             min(user_id) AS min_user
      FROM events GROUP BY 1
    )
    SELECT w.ws, w.n, w.min_user, true AS late_row_absent
    FROM w, mx WHERE w.ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 1 HOUR
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour watermark with an injected late row — r03: FULL hash oracle
    (was rows-only). Append mode makes watermark semantics
    SQL-derivable: the finalized output is exactly the hourly windows
    whose end ≤ final watermark (max event time − 1 h), with counts that
    EXCLUDE the dropped late row and the never-finalized buffer window —
    so the oracle recomputes those windows from the batch table and the
    hash gate now verifies all three watermark behaviors at once
    (finalization boundary, late-drop, open-window retention). A leaked
    late row shifts a count AND min_user (= −1); a mis-finalized window
    changes the row set. The window grid is epoch-aligned in both
    engines (Spark window() ↔ DuckDB time_bucket).

    Batch 0 carries all real events; batch 1 is a buffer row at max ts
    (Spark applies an advanced watermark with a one-batch delay — verified
    empirically: without the buffer, the late row in the very next batch
    still merges); batch 2 carries one fabricated row whose ts predates
    the now-effective watermark by weeks. It must be dropped
    (numRowsDroppedByWatermark) and its user_id=-1 must NOT reach the
    sink. Output = finalized windows + the in-query late_row_absent flag."""
    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_late_")
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "b0"))
    time.sleep(0.05)

    def one_row(order_col, user_id):
        return (
            ev.orderBy(order_col)
            .limit(1)
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                F.lit(user_id).cast("long").alias("user_id"),
                F.col("event_type"),
                F.col("value"),
                F.col("props"),
                F.col("ts"),
                F.col("ts_ns"),
            )
            .select(*[f.name for f in ev.schema.fields])
        )

    # buffer batch at max ts: makes the advanced watermark effective
    one_row(F.col("ts").desc(), 999_999).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "b1")
    )
    time.sleep(0.05)
    # the late row: earliest ts, weeks behind the watermark
    one_row(F.col("ts").asc(), -1).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(base, "b2")
    )
    time.sleep(0.05)

    s = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    # watermarks require TimestampType; session tz is UTC so NTZ→TZ is identity
    s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.min("user_id").alias("min_user"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("window.start").alias("ws"), "n", "min_user",
        (F.col("min_user") >= 0).alias("late_row_absent"),
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates within a watermark over a feed that
    delivers every event twice (duplicated input files) — the dedup state
    must emit each event_id exactly once ≡ batch DISTINCT."""
    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_dup_")
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "b0"))
    time.sleep(0.05)
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "b1"))
    s = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    dedup = (
        s.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(dedup, "append")


@query(
    "stream_stateful_running",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregate in UPDATE mode (state store). The memory
    sink accumulates every per-batch update; the LATEST state per user is
    the row with max n_events (strictly monotonic — update mode only
    emits a user's row when new events arrived), whose tv is taken via
    max_by. NOT max(tv): the running sum is only monotonic while values
    are positive, so max(tv) would silently return a stale intermediate
    state if any value were negative (r01 ADVICE)."""
    s = _read_stream(spark, sf_dir, max_files=1)
    agg = s.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("tv")
    )
    out = _run_to_memory(agg, "update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("tv", "n_events"), 4).alias("total_value"),
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, n.n_name AS nation
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension: the static side is planned per
    micro-batch (broadcast — 25 rows), no stream-stream state needed."""
    t = load_tables(spark, sf_dir)
    s = _read_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    j = s.join(
        F.broadcast(t["nation"]), s["user_id"] % 25 == F.col("n_nationkey")
    ).select("event_id", "user_id", F.col("n_name").alias("nation"))
    return _run_to_memory(j, "append")


@query(
    "stream_stream_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases ⋈ clicks of the same user
    within the preceding hour. Both sides carry watermarks and the join
    condition carries the time-range bound — that pair is what lets the
    state store EVICT old rows instead of growing forever (the required
    shape for stream-stream joins at scale). Result ≡ the batch range
    join on the same data."""
    return _run_to_memory(stream_stream_join_plan(spark, sf_dir), "append")


def stream_stream_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unstarted streaming plan behind `stream_stream_join` — split
    out (r11) so the heap-ceiling witness can sink it to `noop` instead
    of the key's memory sink: a bounded-heap provider A/B must keep the
    JOIN BUFFER STATE as the only heap consumer that varies, and a
    memory sink would add an output-proportional driver allocation that
    could OOM first and contaminate the attribution."""
    s1 = _read_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    s2 = _read_stream(spark, sf_dir).where(F.col("event_type") == "click")
    p = (
        s1.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        s2.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    j = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    return j


@query(
    "stream_custom_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(max(value), 4) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, max) kept in an explicit state store across
    micro-batches, emitted on every update; the memory sink's LAST update
    per user equals the batch aggregate. This is the escape hatch for
    state machines Spark's built-in aggregates can't express (the state
    schema is user-defined); state shards by group key across executors."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdf_iter:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_value": [mx]})

    s = _read_stream(spark, sf_dir, max_files=1)
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n long, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(out, "update")
    # last update per user == final state (counts grow monotonically)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "n_events", F.round("max_value", 4).alias("max_value"))
    )


@query(
    "sink_foreachBatch_merge",
    oracle="""
    SELECT user_id, event_id, value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def sink_foreachBatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 sink key: per-micro-batch MERGE of a CDC feed into the
    current-state snapshot via foreachBatch — hand-rolled MERGE WHEN
    MATCHED semantics (no Delta Lake): full-outer join prev⋈batch on the
    key, newest (ts, event_id) wins per column set. Unlike
    stream_cdc_pipeline's union+dedup formulation, this is the explicit
    join-shaped merge; both are order-independent and idempotent, and both
    must equal the batch latest-per-key oracle."""
    snap_dir = io_tmpdir("engine_merge_snap_")
    cols = ["user_id", "event_id", "ts", "value"]

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_latest = dedup_extract(batch_df.select(*cols), ["user_id"], "ts", "event_id")
        versions = sorted(
            (d for d in os.listdir(snap_dir) if d.startswith("v")), key=lambda d: int(d[1:])
        )
        if not versions:
            out = batch_latest
        else:
            prev = sp.read.parquet(os.path.join(snap_dir, versions[-1]))
            p = prev.select(*[F.col(c).alias(f"p_{c}") for c in cols])
            b = batch_latest.select(*[F.col(c).alias(f"b_{c}") for c in cols])
            j = p.join(b, F.col("p_user_id") == F.col("b_user_id"), "full_outer")
            b_wins = F.col("p_user_id").isNull() | (
                F.col("b_user_id").isNotNull()
                & (
                    (F.col("b_ts") > F.col("p_ts"))
                    | ((F.col("b_ts") == F.col("p_ts")) & (F.col("b_event_id") >= F.col("p_event_id")))
                )
            )
            out = j.select(
                *[F.when(b_wins, F.col(f"b_{c}")).otherwise(F.col(f"p_{c}")).alias(c) for c in cols]
            )
        out.write.mode("overwrite").parquet(os.path.join(snap_dir, f"v{batch_id}"))

    s = _read_stream(spark, sf_dir, max_files=1)
    with tempfile.TemporaryDirectory(prefix="engine_ckpt_") as ckpt:
        q = (
            s.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    versions = sorted(
        (d for d in os.listdir(snap_dir) if d.startswith("v")), key=lambda d: int(d[1:])
    )
    final = spark.read.parquet(os.path.join(snap_dir, versions[-1]))
    return final.select("user_id", "event_id", "value").localCheckpoint(eager=True)


@query(
    "stream_cdc_pipeline",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_cdc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORTH-STAR FLAGSHIP: events as a CDC feed → foreachBatch →
    idempotent merge → current-state snapshot.

    Each micro-batch merges into a versioned parquet snapshot with
    latest-per-key (max ts, event_id tie-break) semantics. The merge is
    ORDER-INDEPENDENT and IDEMPOTENT: replayed or reordered batches yield
    the same snapshot — at-least-once delivery becomes exactly-once state
    (SURVEY §4). Final snapshot ≡ batch latest-per-key over all events.
    """
    return _cdc_pipeline(spark, sf_dir, max_files=1)


def _cdc_pipeline(spark: SparkSession, sf_dir: str, max_files: int | None = 1) -> DataFrame:
    """stream_cdc_pipeline's body with the micro-batch size as a knob:
    ``max_files`` files per trigger over the 4 time-quartile input files
    (None = the whole feed in ONE batch). The registered key pins
    max_files=1 (4 merges — the per-batch machinery under test);
    bench.py's larger-batch points call this directly to record how
    per-batch merge throughput scales with batch size (VERDICT r07
    item 4). Snapshot semantics are idempotent/order-independent, so
    every batch size converges to the same final snapshot."""
    snap_dir = io_tmpdir("engine_cdc_snap_")
    cols = ["user_id", "event_id", "ts", "value"]

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        versions = sorted(
            (d for d in os.listdir(snap_dir) if d.startswith("v")),
            key=lambda d: int(d[1:]),
        )
        incoming = batch_df.select(*cols)
        if versions:
            prev = sp.read.parquet(os.path.join(snap_dir, versions[-1]))
            incoming = prev.unionByName(incoming)
        new_snap = dedup_extract(incoming, ["user_id"], "ts", "event_id")
        new_snap.write.mode("overwrite").parquet(os.path.join(snap_dir, f"v{batch_id}"))

    s = _read_stream(spark, sf_dir, max_files=max_files)
    with tempfile.TemporaryDirectory(prefix="engine_ckpt_") as ckpt:
        q = (
            s.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    versions = sorted(
        (d for d in os.listdir(snap_dir) if d.startswith("v")), key=lambda d: int(d[1:])
    )
    final = spark.read.parquet(os.path.join(snap_dir, versions[-1]))
    return final.select(*cols).localCheckpoint(eager=True)


@query(
    "stream_scd2_foreachbatch",
    oracle="""
    SELECT user_id, event_id, value,
           CAST(ts AS TIMESTAMP) AS effective_from,
           lead(CAST(ts AS TIMESTAMP)) OVER w AS effective_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def stream_scd2_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance: each micro-batch upserts into a Type-2
    history (effective_from / effective_to / is_current per user change).
    The merge is INCREMENTAL per key: history rows for users untouched by
    the batch pass through untouched (anti-join); only touched users'
    histories are re-windowed over their own rows — per-batch work ∝
    batch keys' history, not the full table. Order-independent: a key's
    intervals are a pure function of its accumulated rows, so late or
    reordered batches converge to the same history (the oracle is the
    batch window over ALL events). The streaming twin of
    cdc_scd2_history; versioned parquet snapshots as in
    stream_cdc_pipeline."""
    hist_dir = io_tmpdir("engine_scd2_")
    cols = ["user_id", "event_id", "value", "ts"]

    def scd2(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return df.select(
            "user_id",
            "event_id",
            "value",
            F.col("ts").alias("effective_from"),
            F.lead("ts").over(w).alias("effective_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        versions = sorted(
            (d for d in os.listdir(hist_dir) if d.startswith("v")),
            key=lambda d: int(d[1:]),
        )
        inc = batch_df.select(*cols)
        if versions:
            prev = sp.read.parquet(os.path.join(hist_dir, versions[-1]))
            touched = inc.select("user_id").distinct()
            untouched = prev.join(touched, "user_id", "left_anti")
            touched_rows = prev.join(touched, "user_id", "left_semi").select(
                "user_id",
                "event_id",
                "value",
                F.col("effective_from").alias("ts"),
            )
            out = untouched.unionByName(scd2(touched_rows.unionByName(inc)))
        else:
            out = scd2(inc)
        out.write.mode("overwrite").parquet(os.path.join(hist_dir, f"v{batch_id}"))

    s = _read_stream(spark, sf_dir, max_files=1)
    with tempfile.TemporaryDirectory(prefix="engine_ckpt_") as ckpt:
        q = (
            s.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    versions = sorted(
        (d for d in os.listdir(hist_dir) if d.startswith("v")), key=lambda d: int(d[1:])
    )
    final = spark.read.parquet(os.path.join(hist_dir, versions[-1]))
    return final.select(
        "user_id", "event_id", "value", "effective_from", "effective_to", "is_current"
    ).localCheckpoint(eager=True)


@query(
    "stream_timeout_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUTS — the
    applyInPandasWithState feature the rest of the streaming surface
    doesn't touch: a session closes either because a later event arrives
    past the 30-minute gap (in-batch split) or because the WATERMARK
    passes last_event + 30 min with no successor (state timeout fires
    and evicts). Built-in session_window gives the same aggregate
    (stream_session_window); this key exists because real pipelines
    need custom per-session state machines with eviction, and timeouts
    are how bounded state is guaranteed.

    Determinism: two far-future sentinel files follow the four real
    micro-batches. The first advances the watermark past every real
    session's deadline; the SECOND runs a batch under that advanced
    watermark, so every remaining real session times out then — no
    reliance on whether availableNow schedules a trailing eviction-only
    batch. Sentinel users (≥ 999000) never reach the output; the oracle
    is the batch 30-min-gap sessionization (win_sessionize semantics)
    over the real events. State is (start, last, n) per user — O(users)
    bounded by eviction, sharded by group key at scale."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_tables(spark, sf_dir)["events"]
    base = io_tmpdir("engine_tosess_")
    src = _events_stream_dir(spark, sf_dir)
    import shutil

    for b in ("b0", "b1", "b2", "b3"):
        shutil.copytree(os.path.join(src, b), os.path.join(base, b))
        time.sleep(0.02)
    mx = ev.agg(F.max("ts_ns").alias("m")).collect()[0].m
    for i, (uid, offset_days) in enumerate(((999_999, 10), (999_998, 20))):
        ns = mx + offset_days * 86_400_000_000_000
        row = ev.limit(1).select(
            F.lit(-1 - i).cast("long").alias("event_id"),
            F.lit(uid).cast("long").alias("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
            F.expr(
                f"cast(timestamp_micros({ns} div 1000) as timestamp_ntz)"
            ).alias("ts"),
            F.lit(ns).cast("long").alias("ts_ns"),
        ).select(*[f.name for f in ev.schema.fields])
        row.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, f"b{4 + i}")
        )
        time.sleep(0.02)

    gap_us = 1_800_000_000

    def update(key, pdf_iter, state: GroupState):
        rows = [pdf for pdf in pdf_iter if len(pdf)]
        closed = []
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((key[0], start, last, n))
            state.remove()
        else:
            pdf = (
                pd.concat(rows).sort_values(["ts_ns", "event_id"])
                if rows
                else None
            )
            if pdf is not None:
                if state.exists:
                    start, last, n = state.get
                else:
                    start = last = None
                for r_us, _eid in zip(
                    (pdf["ts_ns"] // 1000).tolist(), pdf["event_id"].tolist()
                ):
                    if last is None:
                        start, last, n = r_us, r_us, 1
                    elif r_us - last > gap_us:
                        closed.append((key[0], start, last, n))
                        start, last, n = r_us, r_us, 1
                    else:
                        last, n = r_us, n + 1
                state.update((start, last, n))
                state.setTimeoutTimestamp(last // 1000 + gap_us // 1000)
        yield pd.DataFrame(
            closed, columns=["user_id", "start_us", "end_us", "n_events"]
        )

    schema = ev.schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
    )
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, start_us long, end_us long, n_events long",
        stateStructType="start long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    res = _run_to_memory(out, "append")
    return res.where(F.col("user_id") < 999_000).localCheckpoint(eager=True)


@query(
    "stream_join_ivm",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100 AS revenue
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def stream_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental maintenance of an AGGREGATED JOIN VIEW
    (revenue by market segment from purchases ⋈ customer): each
    micro-batch computes its own deterministic partial (batch ⋈ broadcast
    dim → segment aggregate of exact cents) and INSERT-OVERWRITES it
    under its batch id; the view is the re-aggregation of batch partials.

    This is the production exactly-once pattern for additive views:
    overwrite-by-batch-id makes replayed batches IDEMPOTENT (a retried
    batch rewrites the same partial, never double-counts), decomposable
    partials make the refresh cost O(|batch|) probe work against the
    broadcast dim — the streaming twin of cdc_join_ivm's delta-join
    identity, with the batch sequence as the delta stream. Final view ≡
    the batch join+aggregate over all events (the oracle), which is
    Structured Streaming's equivalence guarantee applied through the
    foreachBatch escape hatch."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"].select("c_custkey", "c_mktsegment")
    part_dir = io_tmpdir("engine_ivm_parts_")

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.where(F.col("event_type") == "purchase")
            .join(F.broadcast(cust), batch_df["user_id"] == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"),
            )
        )
        partial.write.mode("overwrite").parquet(
            os.path.join(part_dir, f"b{batch_id}")
        )

    s = _read_stream(spark, sf_dir, max_files=1)
    with tempfile.TemporaryDirectory(prefix="engine_ckpt_") as ckpt:
        q = (
            s.writeStream.foreachBatch(per_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # a source with zero micro-batches (empty events dir) writes no
    # partials — reading an empty dir raises, so fall back to an empty
    # view with the same schema instead
    has_parts = any(
        f.endswith(".parquet")
        for _, _, files in os.walk(part_dir)
        for f in files
    )
    if not has_parts:
        return spark.createDataFrame(
            [], "c_mktsegment string, n_purchases long, revenue double"
        )
    parts = spark.read.option("recursiveFileLookup", "true").parquet(part_dir)
    view = parts.groupBy("c_mktsegment").agg(
        F.sum("n").cast("long").alias("n_purchases"),
        (F.sum("cents").cast("double") / 100).alias("revenue"),
    )
    return view.localCheckpoint(eager=True)


@query(
    "stream_rate_source",
    oracle="""
    SELECT n_name, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_value
    FROM range(5000) t(v)
    JOIN nation ON n_nationkey = v % 25
    GROUP BY n_name
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A NON-FILE streaming source (the one source-family gap the r07
    verdict listed): Spark's built-in ``rate-micro-batch`` generator —
    the deterministic twin of the ``rate`` source (value 0..n-1 and a
    batch-indexed timestamp instead of wall-clock rows/sec), so the
    streamed result is hash-checkable like every other key. The stream
    is enriched against the broadcast nation dim (stream-static join,
    the Kafka-feed-joins-dimension shape) and aggregated in complete
    mode. The ``value < 5000`` predicate pins the checked window to the
    first batch's key space, so the key stays deterministic even if the
    availableNow run ever delivered more than one batch. At scale the
    same plan reads Kafka: swap ``format("rate-micro-batch")`` for
    ``format("kafka")`` — watermarks, the broadcast enrich, and the
    stateful agg are source-agnostic (no Kafka in this sandbox; the
    rate source IS a real external-clock source, not a file replay)."""
    nation = load_tables(spark, sf_dir)["nation"]
    s = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5000)
        .option("numPartitions", 8)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60000)
        .load()
    )
    enriched = s.where(F.col("value") < 5000).join(
        F.broadcast(nation), F.pmod(F.col("value"), F.lit(25)) == F.col("n_nationkey")
    )
    agg = enriched.groupBy("n_name").agg(
        F.count("*").alias("n_rows"), F.sum("value").alias("sum_value")
    )
    return _run_to_memory(agg, "complete")


@query(
    "stream_txlog_sink",
    oracle="""
    SELECT user_id, event_id, value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_txlog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sink into the hand-rolled transaction log — the Delta-
    streaming-sink pattern: each micro-batch MERGEs its latest-per-key
    rows into a TxTable (engine/txlog.py) with the BATCH ID committed in
    the manifest as an idempotence token, so at-least-once redelivery is
    EXACTLY-ONCE at the table: a replayed batch finds its token and
    no-ops before touching data. The replay is exercised for real — after
    the stream drains, the last batch id is re-submitted with a
    poisoned DataFrame (the full raw feed); the version count and final
    result must be unchanged, which only holds if the token check fired
    (engine-asserted, and any leak would also shift the hash vs the
    batch latest-per-key oracle). Later batches carry strictly later
    event times (quartile-cut files), so merge-last-wins ≡ global
    latest-per-key. At 100 TB the COW merge narrows to touched
    partitions (`cdc_partition_pruned_merge`'s shape); the manifest
    commit stays one atomic rename per batch."""
    from engine.txlog import TxTable

    cols = ["user_id", "event_id", "ts", "value"]
    root = io_tmpdir("engine_txsink_")
    t = TxTable(spark, os.path.join(root, "tbl"))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = f"batch={batch_id}"
        if any(op.endswith(f"#{token}") for op in t.ops()):
            return  # redelivered batch: already committed, exactly-once no-op
        latest = dedup_extract(batch_df.select(*cols), ["user_id"], "ts", "event_id")
        if not t.versions():
            t.create(latest, n_files=2, note=token)
        else:
            t.merge(latest, "user_id", n_files=2, note=token)

    s = _read_stream(spark, sf_dir, max_files=1)
    with tempfile.TemporaryDirectory(prefix="engine_ckpt_") as ckpt:
        q = (
            s.writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_versions = len(t.versions())
    last_id = n_versions - 1
    # simulate at-least-once redelivery with a poisoned payload: if the
    # idempotence token were ignored, the raw feed would corrupt the table
    commit_batch(load_tables(spark, sf_dir)["events"], last_id)
    assert len(t.versions()) == n_versions, "replayed batch must be a no-op"
    return t.read().select("user_id", "event_id", "value").localCheckpoint(eager=True)
