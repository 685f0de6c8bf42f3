"""Streaming inventory entries (SURVEY §2.11) over the events fixture.

Each builder runs a real Structured Streaming query (file micro-batch
source, AvailableNow trigger, memory sink) to completion and returns the
sink as a batch DataFrame, so the driver's differential gate certifies
streaming semantics against the batch-SQL oracle: tumbling/sliding windows
vs time_bucket, session windows vs a lag-gap reconstruction, stateful
dedup vs DISTINCT, applyInPandasWithState vs GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gluten_spark.plans import Q
from incubator_gluten_spark.plans.sources_queries import IO_DIR
from incubator_gluten_spark.session import local_frame
from incubator_gluten_spark.streaming.jobs import (
    read_events_stream,
    run_to_memory,
    session_rollup,
    session_window_stats,
    sliding_window_counts,
    stateful_user_counts,
    stream_static_enrich,
    streaming_dedup,
    tumbling_window_counts,
)

REGISTRY: list[Q] = []


def q(name: str, oracle: str | None, *tags: str):
    def deco(fn):
        REGISTRY.append(Q(name, fn, oracle, tags))
        return fn

    return deco


@q(
    "stream_tumbling",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
    "streaming", "window",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1h windows, complete mode."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(tumbling_window_counts(ev), mode="complete")


@q(
    "stream_sliding",
    """
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n
    FROM (
      SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour' AS w
      FROM events
    ) GROUP BY 1
    """,
    "streaming", "window",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2h windows sliding by 1h — every event lands in exactly two windows,
    which is precisely the oracle's two-bucketing union."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(sliding_window_counts(ev), mode="complete")


@q(
    "stream_session",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP), 1, TIMESTAMP '1900-01-01')
                         OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY rowid_all
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (SELECT user_id, new_session,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts)
                     AS rowid_all
            FROM gaps)
    ), per_session AS (
      SELECT user_id, session_id, count(*) AS n_events
      FROM sessions GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
           CAST(sum(n_events) AS BIGINT) AS total_events
    FROM per_session GROUP BY user_id
    """,
    "streaming", "session-window",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10-minute gap) per user; oracle reconstructs the
    same sessions with a lag-gap cumulative sum."""
    ev = read_events_stream(spark, sf_dir)
    sessions = run_to_memory(session_window_stats(ev), mode="complete")
    return session_rollup(sessions)


@q(
    "stream_dedup",
    """
    SELECT event_type, count(DISTINCT event_id) AS n
    FROM events GROUP BY event_type
    """,
    "streaming", "dedup",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dropDuplicates over a deliberately-doubled stream (the
    stream unioned with itself); surviving rows == batch DISTINCT."""
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.union(ev)
    deduped = run_to_memory(streaming_dedup(doubled), mode="append")
    return deduped.groupBy("event_type").agg(F.countDistinct("event_id").alias("n"))


@q(
    "stream_stateful_counts",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS value_sum
    FROM events GROUP BY user_id
    """,
    "streaming", "stateful",
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running per-user totals; with AvailableNow
    over one file the final state equals the batch GROUP BY."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(stateful_user_counts(ev), mode="update")


@q(
    "stream_foreach_batch",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "sink",
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as parquet via arbitrary
    batch logic (the escape hatch for sinks without native streaming
    support); result read back from disk."""
    import uuid

    out = f"{IO_DIR}/stream_fb_{uuid.uuid4().hex[:8]}"
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


@q(
    "stream_static_join",
    """
    SELECT CASE WHEN c_mktsegment IS NULL THEN 'none' ELSE c_mktsegment END AS segment,
           count(*) AS n,
           round(sum(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS total
    FROM events LEFT JOIN (
      SELECT c_custkey AS user_key, c_mktsegment FROM customer
    ) d ON user_id = user_key
    GROUP BY 1
    """,
    "streaming", "join",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join + windowless global agg, checked
    against the batch-SQL equivalent (the stream is bounded, so results
    agree exactly)."""
    from incubator_gluten_spark.catalog import load_tables

    ev = read_events_stream(spark, sf_dir)
    customer = load_tables(spark, sf_dir, ("customer",))["customer"]
    dim = customer.select(
        F.col("c_custkey").alias("user_key"), F.col("c_mktsegment").alias("segment")
    )
    enriched = stream_static_enrich(
        ev.withColumn(
            "value", F.col("value").cast("decimal(18,4)")
        ),
        dim,
    )
    out = run_to_memory(enriched, mode="complete")
    return out.select(
        F.coalesce("segment", F.lit("none")).alias("segment"),
        "n",
        F.col("total").cast("double").alias("total"),
    )


@q(
    "stream_rate_source",
    """
    SELECT range % 8 AS bucket, count(*) AS n, CAST(sum(range) AS BIGINT) AS total
    FROM range(0, 4096) GROUP BY bucket
    """,
    "streaming", "source",
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rate-micro-batch source: the jar-free stand-in for an unbounded
    ingest source (Kafka's slot in SURVEY §2.1) — deterministic ids under
    availableNow, so the batch oracle pins the values, not just the shape."""
    df = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "4096")
        .option("numPartitions", "8")
        .option("startTimestamp", "0")
        .load()
    )
    agg = df.groupBy((F.col("value") % 8).alias("bucket")).agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    return run_to_memory(agg, mode="complete", name=None).select(
        "bucket", "n", "total"
    )


@q(
    "stream_update_mode",
    """
    SELECT user_id, count(*) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id HAVING count(*) >= 3
    """,
    "streaming", "update-mode",
)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode: the sink receives only keys whose aggregate
    changed in each micro-batch (the changelog contract a KV-store sink
    consumes). availableNow processes everything in one batch, so the last
    update per key equals the batch aggregate — which the oracle pins."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    sink = run_to_memory(agg, mode="update")
    # keep the LAST update per key (multi-batch runs would emit several)
    latest = sink.groupBy("user_id").agg(F.max("n").alias("n"))
    return latest.filter(F.col("n") >= 3).select("user_id", "n")


@q(
    "stream_stream_join",
    """
    SELECT p.user_id AS user_id, count(*) AS n_pairs,
           count(DISTINCT p.event_id) AS n_purchases
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY p.user_id
    HAVING count(*) >= 1
    """,
    "streaming", "stream-stream-join",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-band join (click -> purchase attribution within
    an hour), aggregated on the sink in batch (a second stateful agg in
    the same query would trip the global-watermark check). Bounded input
    => exact equality with the batch-SQL oracle."""
    from incubator_gluten_spark.streaming.jobs import stream_stream_join as ssj

    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    joined = ssj(a, b)
    sink = run_to_memory(joined, mode="append")
    return (
        sink.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("p_id").alias("n_purchases"),
        )
        .filter(F.col("n_pairs") >= 1)
    )


@q(
    "stream_stream_semi",
    """
    SELECT p.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_purchases
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id
          AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      )
    GROUP BY p.user_id
    """,
    "streaming", "stream-stream-join", "semi",
)
def stream_stream_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join (Spark supports semi/anti between two
    watermarked streams): purchases that had at least one same-user click
    in the preceding hour, emitted WITHOUT duplicating per matching click
    — the dedup-free attribution shape.  Same bounded-state eviction as
    the inner join (both sides watermarked, time-band in the condition);
    bounded input => exact equality with the batch EXISTS oracle."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    clicks = (
        a.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        b.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    sink = run_to_memory(joined, mode="append")
    return sink.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_purchases")
    )


@q(
    "stream_file_sink",
    """
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM events WHERE value > 10 GROUP BY event_type
    """,
    "streaming", "file-sink",
)
def stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet file sink: append-mode rows land under a commit
    manifest (_spark_metadata), so readers only see fully-committed files
    — the exactly-once contract (vs the memory sink the other entries
    use). The sink is read BACK through the manifest and aggregated; the
    raw-table oracle certifies no loss and no duplication."""
    import tempfile

    ev = read_events_stream(spark, sf_dir)
    filtered = ev.filter(F.col("value") > 10).select("event_type", "value")
    out_dir = tempfile.mkdtemp(prefix="stream_file_sink_")
    q = (
        filtered.writeStream.format("parquet")
        .option("path", f"{out_dir}/data")
        .option("checkpointLocation", f"{out_dir}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(f"{out_dir}/data")
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )


@q(
    "stream_stateful_topk",
    """
    SELECT user_id, round(top1, 4) AS top1, round(top3_sum, 4) AS top3_sum FROM (
      SELECT user_id, max(value) AS top1,
             sum(CASE WHEN rn <= 3 THEN value END) AS top3_sum
      FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn
        FROM events
      ) GROUP BY user_id
    ) WHERE top1 > 49
    """,
    "streaming", "stateful-topk",
)
def stream_stateful_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful top-k per user via applyInPandasWithState (bounded
    list state; update-mode changelog). The last update per key equals the
    batch window top-k, which the oracle pins."""
    from incubator_gluten_spark.streaming.jobs import stateful_topk_values

    ev = read_events_stream(spark, sf_dir)
    sink = run_to_memory(stateful_topk_values(ev, k=3), mode="update")
    # last update per key = the full-history top-k (top1 only grows)
    from pyspark.sql import Window as W

    latest = (
        sink.withColumn("top1", F.element_at("topv", 1))
        .groupBy("user_id")
        .agg(
            F.max("top1").alias("top1"),
            # both metrics are monotone over a user's updates (the top-k
            # list only ever improves), so max == the final state — and
            # unlike max_by on the (tie-prone) top1 key, it's deterministic
            F.max(
                F.aggregate("topv", F.lit(0.0), lambda a, x: a + x)
            ).alias("top3_sum"),
        )
    )
    return latest.filter(F.col("top1") > 49).select(
        "user_id",
        F.round("top1", 4).alias("top1"),
        F.round("top3_sum", 4).alias("top3_sum"),
    )


# NOTE: transformWithStateInPandas (Spark 4's successor to
# applyInPandasWithState) is implemented in streaming/jobs.py
# (transform_with_state_totals) but NOT registered: the API's driver-side
# StreamingPythonRunner requires google.protobuf, which this container
# lacks (`ModuleNotFoundError: No module named 'google'` — probed round 4,
# query crashes with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).
# Environment-blocked like the connector jars; the applyInPandasWithState
# entries (stream_stateful_counts, stream_stateful_topk) cover the custom
# stateful-operator surface on this build.


@q(
    "stream_stream_left_outer",
    """
    SELECT p.user_id AS user_id,
           count(*) AS n_rows,
           CAST(count(CASE WHEN c.event_id IS NULL THEN 1 END) AS BIGINT)
             AS n_unattributed
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
          AND ts <= (SELECT max(ts) FROM events) - INTERVAL 24 HOUR) p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY p.user_id
    """,
    "streaming", "stream-stream-join", "outer",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: purchases keep NULLs
    when no same-user click preceded them within the hour; NULL-padded
    rows are emitted only when the watermark passes the purchase's match
    window.  The final AvailableNow watermark sits 2h behind max event
    time, so purchases inside that horizon are still open (held in state,
    correct streaming semantics, not a bug) — both sides therefore
    restrict to purchases at least 24h before the stream end (eviction
    lag observed up to ~7h on sparse fixtures; 24h is a safe, still
    data-rich horizon), making the batch LEFT JOIN oracle exact."""
    from incubator_gluten_spark.catalog import load_tables
    from incubator_gluten_spark.streaming.jobs import (
        stream_stream_left_outer as sslo,
    )

    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    sink = run_to_memory(sslo(a, b), mode="append")
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOUR")).alias("cutoff")
    )
    return (
        sink.join(F.broadcast(cutoff))
        .filter(F.col("p_ts") <= F.col("cutoff"))
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count_if(F.col("c_id").isNull()).cast("bigint").alias("n_unattributed"),
        )
    )


@q(
    "stream_txnlog_sink",
    """
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "sink", "lakehouse",
)
def stream_txnlog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink into a PARTITIONED Delta table: the
    ``stream_delta_sink`` pattern with every micro-batch split across
    one directory per event_type, so each batch commits several files
    and the replay check covers a multi-file commit.  Oracle: the final
    snapshot equals the plain batch aggregate over events."""
    return _delta_stream_sink(
        spark, sf_dir, "stream_txnlog_sink", partition_cols=["event_type"]
    )


def _assert_replay_noop(replay, log_head) -> None:
    """Re-deliver a committed micro-batch through ``replay()`` and
    require that the sink no-ops: ``replay()`` reports no commit and
    ``log_head()``, the table log's head read from the log alone, does
    not move.  A replay that commits anything, even rows the aggregate
    would not notice, moves the head, so this is stricter than
    comparing row counts before and after, and it launches no Spark
    job."""
    head = log_head()
    if replay():
        raise RuntimeError("replayed batch committed twice")
    if log_head() != head:
        raise RuntimeError("replay changed the table")


def _delta_stream_sink(
    spark: SparkSession, sf_dir: str, name: str, partition_cols=None
) -> DataFrame:
    """Stream events into the Delta table ``name`` one
    ``append_stream_batch`` per micro-batch (appId = ``name``), re-deliver
    the final batch and assert it no-ops, and aggregate the table.

    The replay check reads the Delta log, not the data: the replay must
    not move ``current_version`` (``_assert_replay_noop``).  The empty
    table is created from a ``local_frame``, which stages no file.  So
    nothing before the returned aggregate runs a Spark job outside the
    stream's own batches."""
    import shutil

    from incubator_gluten_spark.sources import delta_protocol as dp

    root = f"{IO_DIR}/{name}"
    shutil.rmtree(root, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir)
    dp.create_table(
        local_frame(ev.sparkSession, [], ev.schema), root, partition_cols
    )
    replay: dict = {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = dp.append_stream_batch(batch_df, root, name, batch_id)
        replay["last"] = (batch_df, batch_id)
        if not committed:
            raise RuntimeError(f"batch {batch_id} double-committed")

    sq = (
        ev.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch_df, batch_id = replay["last"]
    _assert_replay_noop(
        lambda: dp.append_stream_batch(batch_df, root, name, batch_id),
        lambda: dp.current_version(root),
    )
    return dp.read_table(spark, root).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )


@q(
    "stream_delta_sink",
    """
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "sink", "lakehouse", "delta",
)
def stream_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink into the REAL Delta wire format
    (sources/delta_protocol.py) via the protocol's ``txn`` action —
    appId/version idempotence, exactly what delta's own streaming sink
    writes to the log.  foreachBatch commits each micro-batch with
    append_stream_batch(app_id, batch_id); a replayed batch finds its
    txn version already committed and NO-OPs (asserted by re-delivering
    the final batch: the log's version must not move, which no commit
    can slip past and which reads the log instead of counting the table
    twice).  Oracle: the final snapshot equals the plain batch aggregate
    over events.  ``stream_txnlog_sink`` is the partitioned twin."""
    return _delta_stream_sink(spark, sf_dir, "stream_delta_sink")


@q(
    "stream_iceberg_sink",
    """
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "sink", "lakehouse", "iceberg",
)
def stream_iceberg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink into the REAL Iceberg wire format
    (sources/iceberg_format.py append_stream_batch): each micro-batch
    commits a snapshot whose SUMMARY carries the (app, batch-id)
    checkpoint — the idempotence mechanism Iceberg's own streaming
    sinks use — so a replayed foreachBatch finds its batch already
    committed and NO-OPs (asserted by re-delivering the final batch).
    Oracle: the final snapshot equals the plain batch aggregate over
    events.  The Delta twins are stream_delta_sink /
    stream_txnlog_sink; this completes the sink matrix across the
    three wire formats."""
    import shutil

    from incubator_gluten_spark.sources import iceberg_format as ice

    root = f"{IO_DIR}/stream_iceberg_sink"
    shutil.rmtree(root, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir)
    ice.create_table(local_frame(ev.sparkSession, [], ev.schema), root)
    replay: dict = {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = ice.append_stream_batch(
            batch_df, root, "stream_iceberg_sink", batch_id
        )
        replay["last"] = (batch_df, batch_id)
        if not committed:
            raise RuntimeError(f"batch {batch_id} double-committed")

    sq = (
        ev.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    batch_df, batch_id = replay["last"]
    _assert_replay_noop(
        lambda: ice.append_stream_batch(
            batch_df, root, "stream_iceberg_sink", batch_id
        ),
        lambda: ice._metadata_version(root),
    )
    return ice.read_table(spark, root).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )


@q(
    "stream_iceberg_upsert_sink",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events)
    SELECT 'seen' AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(CAST(user_id * 2 AS DOUBLE)
                               AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_score
    FROM u GROUP BY 'seen'
    """,
    "streaming", "sink", "lakehouse", "iceberg",
)
def stream_iceberg_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-UPSERT sink into Iceberg v2 MERGE-ON-READ
    (sources/iceberg_v2.py merge_mor_stream_batch — the Flink-style
    upsert writer): the events feed is staged as four files and
    streamed one file per micro-batch; every batch upserts its users'
    profile rows via ONE merge_mor snapshot (equality delete on
    user_id + the batch's rows as new data files — existing data never
    read, O(batch) at any table size).  Users spanning batches are
    SHADOWED across commits (asserted: equality-delete files present),
    the replayed final batch NO-OPs on the snapshot-summary checkpoint
    (asserted), and the MOR read folds the delete debt in as broadcast
    anti-joins.  Per-key content is key-derived, so the final state is
    deterministic whatever the batch split: exactly one row per
    distinct user — which is what the oracle recomputes.  Reference
    analog: Iceberg's Flink upsert sink semantics (equality-delete
    commits), scanned by gluten-iceberg's delete-file read path."""
    import shutil

    from incubator_gluten_spark.sources import iceberg_format as ice
    from incubator_gluten_spark.sources import iceberg_v2 as v2

    base = f"{IO_DIR}/stream_ice_upsert"
    shutil.rmtree(base, ignore_errors=True)
    src_dir, root = f"{base}/src", f"{base}/table"
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id"
    )
    events.repartition(4).write.parquet(src_dir)
    profile = lambda df: (
        df.select("user_id")
        .distinct()
        .withColumn("score", (F.col("user_id") * 2).cast("double"))
        .withColumn("status", F.lit("seen"))
    )
    v2.create_table(profile(events.limit(0)), root)
    replay: dict = {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        src = profile(batch_df)
        committed = v2.merge_mor_stream_batch(
            spark, src, root, "stream_ice_upsert", batch_id, ["user_id"]
        )
        replay["last"] = (src, batch_id)
        if not committed:
            raise RuntimeError(f"batch {batch_id} double-committed")

    sq = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    scan = v2.plan_scan(root)
    if not scan["eq_deletes"]:
        raise RuntimeError("no cross-batch shadowing happened")
    src, batch_id = replay["last"]
    _assert_replay_noop(
        lambda: v2.merge_mor_stream_batch(
            spark, src, root, "stream_ice_upsert", batch_id, ["user_id"]
        ),
        lambda: ice._metadata_version(root),
    )
    return v2.read_table(spark, root).groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("score").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_score"),
    )


@q(
    "stream_hudi_sink",
    """
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "sink", "lakehouse", "hudi",
)
def stream_hudi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming UPSERT sink into the Hudi COW wire format
    (sources/hudi_format.py append_stream_batch): the micro-batch
    checkpoint rides in the commit's ``extraMetadata`` under
    ``deltastreamer.checkpoint.key`` — where hudi's own streaming
    ingest records it — so a replayed batch NO-OPs (asserted), and
    record-key upsert gives idempotence per key on top.  The table is
    seeded with the day-1 events; the stream delivers the rest; the
    final snapshot aggregate hash-matches the full-events oracle."""
    import shutil

    from incubator_gluten_spark.catalog import load_tables
    from incubator_gluten_spark.sources import hudi_format as hf

    root = f"{IO_DIR}/stream_hudi_sink"
    shutil.rmtree(root, ignore_errors=True)
    events = load_tables(spark, sf_dir, ("events",))["events"]
    hf.create_table(
        events.filter(F.dayofmonth("ts") == 1), root, key_col="event_id"
    )
    ev = read_events_stream(spark, sf_dir).filter(F.dayofmonth("ts") > 1)
    replay: dict = {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = hf.append_stream_batch(
            batch_df.sparkSession, batch_df, root, "event_id",
            "stream_hudi_sink", batch_id,
        )
        replay["last"] = (batch_df, batch_id)
        if not committed:
            raise RuntimeError(f"batch {batch_id} double-committed")

    sq = (
        ev.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    batch_df, batch_id = replay["last"]
    _assert_replay_noop(
        lambda: hf.append_stream_batch(
            spark, batch_df, root, "event_id", "stream_hudi_sink", batch_id
        ),
        lambda: hf.completed_instants(root),
    )
    return hf.read_table(spark, root).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )


@q(
    "stream_iceberg_source",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "source", "lakehouse", "iceberg",
)
def stream_iceberg_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg table as a STREAMING SOURCE (sources/iceberg_stream.py —
    snapshot-id offsets over the metadata log, Iceberg's own
    SparkMicroBatchStream contract): load half the events into an
    Iceberg table, stream availableNow through a CHECKPOINTED parquet
    sink, append the second half, resume from the SAME checkpoint —
    the second run must deliver EXACTLY the new snapshot's rows
    (asserted), the exactly-once lever a 100 TB incremental pipeline
    hangs off the offset log.  The final sink aggregate hash-matches
    the full-events oracle.  Twin: stream_delta_source (version
    offsets over the Delta log)."""
    import shutil

    from incubator_gluten_spark.catalog import load_tables
    from incubator_gluten_spark.sources import iceberg_format as ice
    from incubator_gluten_spark.sources.iceberg_stream import (
        register_iceberg_stream_source,
    )

    register_iceberg_stream_source(spark)
    base = f"{IO_DIR}/stream_iceberg_source"
    shutil.rmtree(base, ignore_errors=True)
    root, ckpt, sink = f"{base}/tbl", f"{base}/ckpt", f"{base}/sink"
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "event_type", "value"
    )
    first = ev.filter(F.dayofmonth("ts") <= 15)
    second = ev.filter(F.dayofmonth("ts") > 15)
    ice.create_table(first, root)

    def run() -> None:
        sq = (
            spark.readStream.format("graft_iceberg")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()

    run()
    n1 = spark.read.parquet(sink).count()
    if n1 != first.count():
        raise RuntimeError(f"first run delivered {n1} rows")
    ice.append(second, root)
    run()
    n2 = spark.read.parquet(sink).count()
    if n2 != n1 + second.count():
        raise RuntimeError(
            f"resume delivered {n2 - n1} rows, want {second.count()}"
        )
    return spark.read.parquet(sink).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )


@q(
    "stream_delta_source",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "source", "lakehouse", "delta",
)
def stream_delta_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta wire-format table as a STREAMING SOURCE
    (sources/delta_stream.py — version-offset micro-batches over the
    `_delta_log`, delta's own DeltaSource contract): load half the
    events into a Delta table, stream it availableNow through a
    CHECKPOINTED parquet sink, append the second half to the table, and
    resume from the SAME checkpoint — the second run must deliver
    EXACTLY the new commit's rows (asserted: sink count grows by the
    appended count, no duplicates), which is the exactly-once property
    a 100 TB CDC pipeline hangs off the offset log.  The final sink
    aggregate hash-matching the full-events oracle certifies both
    batches arrived exactly once.  Reference analog: gluten-delta
    streams via the Delta jar's DeltaSource; the offset/replay contract
    here is the public one."""
    import shutil

    from incubator_gluten_spark.sources import delta_protocol as dp
    from incubator_gluten_spark.sources.delta_stream import (
        register_delta_stream_source,
    )

    from incubator_gluten_spark.catalog import load_tables

    register_delta_stream_source(spark)
    base = f"{IO_DIR}/stream_delta_source"
    shutil.rmtree(base, ignore_errors=True)
    root, ckpt, sink = f"{base}/tbl", f"{base}/ckpt", f"{base}/sink"
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "event_type", "value"
    )
    first = ev.filter(F.dayofmonth("ts") <= 15)
    second = ev.filter(F.dayofmonth("ts") > 15)
    dp.create_table(first, root)

    def run() -> None:
        sq = (
            spark.readStream.format("graft_delta")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()

    run()
    n1 = spark.read.parquet(sink).count()
    if n1 != first.count():
        raise RuntimeError(f"first run delivered {n1} rows")
    dp.append(second, root)
    run()  # resume from the checkpoint: ONLY the new commit streams
    n2 = spark.read.parquet(sink).count()
    if n2 != n1 + second.count():
        raise RuntimeError(
            f"resume delivered {n2 - n1} rows, want {second.count()} "
            "(duplicate or missed commit)"
        )
    return spark.read.parquet(sink).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )


@q(
    "stream_stream_full_outer",
    """
    WITH m AS (SELECT max(ts) AS mx FROM events),
    p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    j AS (
      SELECT * FROM p FULL JOIN c
        ON p_user = c_user AND c_ts < p_ts
       AND c_ts >= p_ts - INTERVAL 1 HOUR
    )
    SELECT CAST(sum(CASE WHEN p_id IS NOT NULL AND c_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchase_only,
           CAST(sum(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_click_only
    FROM j, m
    WHERE (p_id IS NULL OR p_ts <= mx - INTERVAL 24 HOUR)
      AND (c_id IS NULL OR c_ts <= mx - INTERVAL 24 HOUR)
    """,
    "streaming", "stream-stream-join", "full-outer",
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join (completes the
    stream-stream family: inner + left outer + full outer): both
    unmatched purchases AND unmatched clicks NULL-pad once the
    watermark closes their window.  Same 24h end-of-stream horizon as
    the left-outer entry (rows inside the final watermark's reach are
    legitimately still open), applied per side, making the batch FULL
    JOIN oracle exact."""
    from incubator_gluten_spark.catalog import load_tables
    from incubator_gluten_spark.streaming.jobs import (
        stream_stream_full_outer as ssfo,
    )

    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    sink = run_to_memory(ssfo(a, b), mode="append")
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOUR")).alias("cutoff")
    )
    bounded = sink.join(F.broadcast(cutoff)).filter(
        (F.col("p_id").isNull() | (F.col("p_ts") <= F.col("cutoff")))
        & (F.col("c_id").isNull() | (F.col("c_ts") <= F.col("cutoff")))
    )
    return bounded.agg(
        F.sum(
            F.when(F.col("p_id").isNotNull() & F.col("c_id").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_matched"),
        F.sum(F.when(F.col("c_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchase_only"),
        F.sum(F.when(F.col("p_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_click_only"),
    )


@q(
    "stream_state_reader",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
    "streaming", "state-reader",
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Data Source (Spark 4): the streaming aggregation's state
    store read back as a BATCH DataFrame from the checkpoint — the
    ops/debugging surface for inspecting (and at scale, auditing or
    repairing) keyed state without replaying the stream.  The state
    rows themselves are the certified output: for a completed
    AvailableNow run the per-key counts in state equal the batch
    GROUP BY exactly."""
    import shutil

    ckpt = f"{IO_DIR}/stream_state_reader_ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        sq = (
            agg.writeStream.format("memory")
            .queryName("state_reader_sink")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
    )


@q(
    "stream_dedup_within_watermark",
    """
    SELECT event_type, count(DISTINCT event_id) AS n
    FROM events GROUP BY event_type
    """,
    "streaming", "dedup",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (Spark 3.5+): dedup keyed on
    event_id alone, with state EVICTED by the watermark even though the
    event-time column is NOT part of the dedup key — the API for
    at-least-once sources whose duplicates arrive within a bounded
    delay (plain dropDuplicates would keep the key in state forever;
    keying on the timestamp would miss duplicates with differing
    timestamps).  Doubled input stream; survivors equal the batch
    DISTINCT."""
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.union(ev)
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = run_to_memory(deduped, mode="append")
    return sink.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("n")
    )


@q(
    "stream_python_sink",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM events WHERE value > 25 GROUP BY event_type
    """,
    "streaming", "pyds", "sink",
)
def stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource STREAMING writer (Spark 4
    DataSourceStreamWriter — completes the pyds family: batch Arrow
    reader, streaming reader, batch writer, now the streaming sink):
    the events stream lands in a pure-Python JSONL sink through
    per-micro-batch two-phase commits, one ``_BATCH_<id>`` manifest per
    committed batch.  The read-back unions the MANIFESTS (never a
    directory glob, which would see aborted attempts), so the agg
    hash-matching the raw-table oracle certifies the exactly-once
    batch-commit protocol carried no loss and no duplication.  Like the
    other pyds entries: API surface, per-row Python, demo-grade,
    excluded from perf claims."""
    import glob
    import json
    import shutil
    import tempfile

    from incubator_gluten_spark.sources.pyds import register_python_datasink

    register_python_datasink(spark)
    ev = read_events_stream(spark, sf_dir)
    filtered = ev.filter(F.col("value") > 25).select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    out_dir = tempfile.mkdtemp(prefix="stream_py_sink_")
    sink_dir = f"{out_dir}/data"
    q_ = (
        filtered.writeStream.format("graft_jsonl")
        .option("path", sink_dir)
        .option("checkpointLocation", f"{out_dir}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination()
    manifests = sorted(glob.glob(f"{sink_dir}/_BATCH_*"))
    if not manifests:
        raise RuntimeError("streaming python sink committed no batches")
    files = []
    for m in manifests:
        with open(m) as f:
            files.extend(json.load(f)["files"])
    back = spark.read.schema("event_type string, value double").json(files)
    result = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )
    result = result.localCheckpoint()  # materialize before tmp cleanup
    shutil.rmtree(out_dir, ignore_errors=True)
    return result


@q(
    "stream_hudi_source",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
    "streaming", "source", "lakehouse", "hudi",
)
def stream_hudi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi COW table as a STREAMING SOURCE (sources/hudi_stream.py —
    commit-instant offsets, RECORD-LEVEL incremental batches, the
    hoodie.datasource incremental contract): load half the events,
    stream availableNow through a CHECKPOINTED parquet sink, upsert the
    second half, resume from the SAME checkpoint — the second run must
    deliver EXACTLY the upserted records (asserted; untouched records
    of rewritten file groups are NOT re-delivered thanks to
    commit-time preservation).  Completes the lakehouse stream-source
    matrix with stream_delta_source / stream_iceberg_source; final
    aggregate hash-matches the full-events oracle."""
    import shutil

    from incubator_gluten_spark.catalog import load_tables
    from incubator_gluten_spark.sources import hudi_format as hf
    from incubator_gluten_spark.sources.hudi_stream import (
        register_hudi_stream_source,
    )

    register_hudi_stream_source(spark)
    base = f"{IO_DIR}/stream_hudi_source"
    shutil.rmtree(base, ignore_errors=True)
    root, ckpt, sink = f"{base}/tbl", f"{base}/ckpt", f"{base}/sink"
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_id", "ts", "event_type", "value"
    )
    first = ev.filter(F.dayofmonth("ts") <= 15)
    second = ev.filter(F.dayofmonth("ts") > 15)
    hf.create_table(first, root, key_col="event_id")

    def run() -> None:
        sq = (
            spark.readStream.format("graft_hudi")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()

    run()
    n1 = spark.read.parquet(sink).count()
    if n1 != first.count():
        raise RuntimeError(f"first run delivered {n1} rows")
    hf.upsert(spark, second, root, key_col="event_id")
    run()  # resume: exactly the upserted records stream (record-level)
    n2 = spark.read.parquet(sink).count()
    if n2 != n1 + second.count():
        raise RuntimeError(
            f"resume delivered {n2 - n1} rows, want {second.count()} "
            "(duplicate or missed record-level change)"
        )
    return spark.read.parquet(sink).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )


@q(
    "stream_delta_upsert_sink",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events)
    SELECT 'seen' AS status, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(CAST(user_id * 3 AS DOUBLE)
                               AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_score
    FROM u GROUP BY 'seen'
    """,
    "streaming", "sink", "lakehouse", "delta",
)
def stream_delta_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-UPSERT sink into the Delta wire format
    (sources/delta_protocol.py merge_stream_batch — Delta's documented
    foreachBatch + MERGE + txn-idempotence pattern, the twin of
    stream_iceberg_upsert_sink): the events feed streams one file per
    micro-batch; each batch MERGEs its users' profile rows (matched ->
    update_all, not matched -> insert_all) with the protocol ``txn``
    action committed ATOMICALLY in the merge's version, so the replayed
    final batch NO-OPs (asserted) and a crash replay can never observe
    a merge without its checkpoint marker.  Per-batch cost is merge's
    O(matched files) — stats-skipped detection, untouched files never
    rewritten.  Per-key content is key-derived, so the final state is
    deterministic whatever the batch split: exactly one row per
    distinct user, which the oracle recomputes.  Reference analog:
    gluten-delta scans MERGE output through the jar
    (DeltaScanTransformer.scala); the sink pattern is Delta's public
    streaming-upsert recipe."""
    import shutil

    from incubator_gluten_spark.sources import delta_protocol as dp

    base = f"{IO_DIR}/stream_delta_upsert"
    shutil.rmtree(base, ignore_errors=True)
    src_dir, root = f"{base}/src", f"{base}/table"
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id"
    )
    events.repartition(4).write.parquet(src_dir)
    profile = lambda df: (
        df.select("user_id")
        .distinct()
        .withColumn("score", (F.col("user_id") * 3).cast("double"))
        .withColumn("status", F.lit("seen"))
    )
    dp.create_table(profile(events.limit(0)), root)
    replay: dict = {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        src = profile(batch_df)
        committed = dp.merge_stream_batch(
            spark, src, root, "user_id", "stream_delta_upsert", batch_id
        )
        replay["last"] = (src, batch_id)
        if not committed:
            raise RuntimeError(f"batch {batch_id} double-committed")

    sq = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    src, batch_id = replay["last"]
    _assert_replay_noop(
        lambda: dp.merge_stream_batch(
            spark, src, root, "user_id", "stream_delta_upsert", batch_id
        ),
        lambda: dp.current_version(root),
    )
    return dp.read_table(spark, root).groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("score").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_score"),
    )


@q(
    "stream_delta_cdf_source",
    """
    WITH o AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             year(o_orderdate) AS yr
      FROM orders WHERE year(o_orderdate) IN (1996, 1997)
    )
    SELECT _change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(price AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM (
      SELECT 'insert' AS _change_type, o_totalprice AS price FROM o
      UNION ALL
      SELECT 'update_preimage', o_totalprice FROM o
      WHERE o_orderpriority = '5-LOW'
      UNION ALL
      SELECT 'update_postimage', o_totalprice * 2 FROM o
      WHERE o_orderpriority = '5-LOW'
      UNION ALL
      SELECT 'delete', o_totalprice FROM o
      WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY _change_type
    """,
    "streaming", "source", "lakehouse", "delta",
)
def stream_delta_cdf_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED as a STREAMING SOURCE
    (sources/delta_stream.py readChangeFeed=true — Delta's
    ``readStream.option('readChangeFeed', 'true')``): the table takes
    create(1996) -> append(1997) -> UPDATE (5-LOW prices doubled)
    -> DELETE (1-URGENT), then ONE availableNow stream replays the
    whole feed: _change_type / _commit_version ride every row, commits
    with cdc actions emit their images EXCLUSIVELY (the rewrite's
    restaged adds never leak as inserts — the contract plain
    ignoreChanges streaming cannot give), plain appends derive inserts.
    Planning walks only the JSON log; parquet decode runs in the
    partition-planned executor path (one InputPartition per change
    file).  The oracle recomputes every image class from the raw
    table.  Reference analog: Delta's streaming CDF source; gluten
    scans CDF output through the jar."""
    import shutil
    import uuid as _uuid

    from incubator_gluten_spark.sources import delta_protocol as dp
    from incubator_gluten_spark.sources.delta_stream import (
        register_delta_stream_source,
    )

    from incubator_gluten_spark.catalog import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    root = f"{IO_DIR}/delta_cdf_source"
    shutil.rmtree(root, ignore_errors=True)
    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    y = lambda yr: orders.filter(F.year("o_orderdate") == yr).select(*cols)
    dp.create_table(
        y(1996), root, configuration={"delta.enableChangeDataFeed": "true"}
    )
    dp.append(y(1997), root)
    dp.update_where(
        spark,
        root,
        "o_orderpriority = '5-LOW'",
        {"o_totalprice": "o_totalprice * 2"},
    )
    dp.delete_where(spark, root, "o_orderpriority = '1-URGENT'")
    register_delta_stream_source(spark)
    sink = f"cdf_src_{_uuid.uuid4().hex[:8]}"
    sq = (
        spark.readStream.format("graft_delta")
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    got = spark.table(sink)
    return got.groupBy("_change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total"),
    )
