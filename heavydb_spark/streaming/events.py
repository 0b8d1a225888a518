"""Streaming pipelines for the events table.

The reference only has streaming *ingest* (ImportExport/KafkaImporter.cpp,
StreamImporter.cpp — append rows to a table). Here the ingest analogue is
`read_event_stream` (file/kafka/rate source → normalized schema) and the
processing analogue is real Structured Streaming: watermarks, tumbling/
sliding/session windows, streaming dedup.

These functions accept any streaming OR batch DataFrame with the events
schema, so the exact same code path is verified in batch mode
(queries/streaming_batch.py) and in streaming tests
(tests/test_streaming.py, memory sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka wire records -> events rows (KafkaImporter.cpp's
    row-parsing stage as a declarative transform).

    `raw` has the Kafka source schema (key/value binary, topic,
    partition, offset, timestamp). The JSON payload is parsed against
    EVENT_SCHEMA; malformed or tombstone payloads (from_json yields an
    all-NULL struct in PERMISSIVE mode) are rejected by requiring the
    event_id key — the importer's reject-and-continue behavior
    (KafkaImporter.cpp rejected-row accounting). Works identically on a
    streaming or a batch DataFrame, so the parse logic is unit-testable
    without a broker.
    """
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"), EVENT_SCHEMA
        ).alias("event")
    )
    return parsed.filter(F.col("event.event_id").isNotNull()).select("event.*")


def read_event_stream(
    spark: SparkSession,
    source_dir: str | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
    kafka_bootstrap: str | None = None,
    kafka_topic: str = "events",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Streaming ingest — the ImportExport/KafkaImporter.cpp /
    StreamImporter.cpp analogue.

    Default is the file source (no broker in the test container). Pass
    `fmt="kafka"` with `kafka_bootstrap` to read a JSON-encoded events
    topic: format("kafka") -> from_json(EVENT_SCHEMA) -> normalized
    rows, the same schema either way, so every downstream operator is
    source-agnostic.
    """
    if fmt == "kafka":
        if not kafka_bootstrap:
            raise ValueError(
                "fmt='kafka' requires kafka_bootstrap "
                "(host:port of the broker)"
            )
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", kafka_topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
        return parse_kafka_events(raw)
    return (
        spark.readStream.format(fmt)
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )


def ingest_stream_to_table(
    df: DataFrame,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous table ingest — the importer's actual job
    (KafkaImporter.cpp / StreamImporter.cpp append rows to a table):
    stream -> managed table with exactly-once file-sink semantics via
    the checkpoint. availableNow=True drains what's available and
    stops (batch-incremental ingest); False runs continuously in
    default micro-batch mode (pyspark rejects availableNow=False, so
    the trigger is simply omitted).
    Returns the StreamingQuery handle.
    """
    writer = df.writeStream.format("parquet").option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.toTable(table)


def with_watermark(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Late-data bound; state for windows older than max(ts)-delay is
    dropped — bounded state at 100 TB/day stream rates."""
    return events.withWatermark("ts", delay)


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("window_start"), "n", "total")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("session_start"), "n", "total")
    )


def dedup_stream(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Streaming dedup within the watermark (bounded dedup state)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stateful_sessionize(
    events: DataFrame, gap_minutes: int = 30, delay: str = "1 hour"
) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState — the
    extension-surface analogue of tf_compute_dwell_times
    (SessionizeTableFunctions.hpp) over an unbounded stream.

    Per user_id, events accumulate into an open session carried in group
    state across micro-batches; a gap > gap_minutes closes the session
    and emits (user_id, session_start, session_end, n_events). The last
    open session per user stays in state (flushed by event-time timeout
    on a live stream). Arrow-batched; state is three scalars per user,
    so state size is O(users), not O(events).

    Assumes per-key event-time-ordered arrival ACROSS micro-batches
    (within a batch, all Arrow chunks are concatenated and sorted here) — the same contract as the
    reference's sessionize table function (SessionizeTableFunctions.hpp
    operates on sorted cursors) and the usual shape of a Kafka topic
    partitioned by user. Disorder bounded by the watermark delay would
    need an event-time buffer in state (O(lag) per user) — not
    implemented.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long"
    )
    state_schema = "start long, last long, n long"

    def fn(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (user_id,) = key
        start, last, n = state.get if state.exists else (None, None, 0)
        closed = []
        # concat BEFORE sorting: a large group arrives as several Arrow
        # chunks in arbitrary post-shuffle order — sorting per chunk
        # would rewind `last` and corrupt session boundaries
        chunks = [pdf for pdf in pdf_iter]
        all_ts = (
            pd.concat([c["ts"] for c in chunks])
            if chunks
            else pd.Series([], dtype="datetime64[ns]")
        )
        for t in all_ts.sort_values():
            us = int(t.value // 1000)  # ns -> µs
            if start is None:
                start, last, n = us, us, 1
            elif us - last > gap_us:
                closed.append((user_id, start, last, n))
                start, last, n = us, us, 1
            else:
                last, n = us, n + 1
        if state.hasTimedOut:
            if start is not None:
                closed.append((user_id, start, last, n))
            state.remove()
        else:
            state.update((start, last, n))
            if last is not None:
                # flush the open session once the event-time watermark
                # passes last+gap — without this, hasTimedOut never fires
                # and the final session per user is never emitted
                timeout_ms = last // 1000 + gap_minutes * 60 * 1000 + 1
                state.setTimeoutTimestamp(
                    max(timeout_ms, state.getCurrentWatermarkMs() + 1)
                )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _split_sessions(
    sorted_ts_us: list, gap_us: int, wm_us: int
) -> tuple[list, list]:
    """Pure session splitter for the buffered sessionizer: returns
    (closed_sessions, remaining_ts). A session [start..end] is CLOSED
    only when end + gap < watermark — no future event (all >= watermark)
    can extend it. Everything else stays buffered."""
    closed, cur = [], []
    for t in sorted_ts_us:
        if not cur or t - cur[-1] <= gap_us:
            cur.append(t)
        else:
            closed.append(cur)
            cur = [t]
    if cur:
        closed.append(cur)
    final, remaining = [], []
    for sess in closed:
        if sess[-1] + gap_us < wm_us and not remaining:
            final.append((sess[0], sess[-1], len(sess)))
        else:
            remaining.extend(sess)
    return final, remaining


def stateful_sessionize_buffered(
    events: DataFrame, gap_minutes: int = 30, delay: str = "2 days"
) -> DataFrame:
    """Out-of-order-tolerant stateful sessionization: event times buffer
    in group state and sessions are emitted only once the event-time
    watermark guarantees no future event can extend them. Handles
    arbitrary arrival disorder bounded by `delay` (the contract the
    ordered variant, stateful_sessionize, does not make); state per user
    is O(events within the watermark lag), the price of that guarantee.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long"
    )
    state_schema = "buf array<long>"

    def fn(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        buf = list(state.get[0]) if state.exists else []
        wm_us = state.getCurrentWatermarkMs() * 1000
        for pdf in pdf_iter:
            # Spark does NOT filter sub-watermark rows for arbitrary
            # stateful ops; drop them here (the watermark contract) so a
            # closed session can never have been extendable.
            buf.extend(
                us
                for t in pdf["ts"]
                if (us := int(t.value // 1000)) >= wm_us
            )
        buf.sort()
        closed, remaining = _split_sessions(buf, gap_us, wm_us)
        if remaining:
            state.update((remaining,))
            # wake when the earliest buffered session could close (or
            # just past the watermark) so final sessions flush even if
            # the key never receives another event
            first_close_ms = (remaining[0] + gap_us) // 1000 + 1
            state.setTimeoutTimestamp(max(first_close_ms, state.getCurrentWatermarkMs() + 1))
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [n for _, _, n in closed],
                }
            )

    return (
        events.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_lag: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join (extension surface beyond the
    reference, which only has streaming ingest — SURVEY.md §2.11):
    match each left event to right events of the same key that occur
    within (left.ts, left.ts + max_lag]. Both sides carry watermarks,
    and the time-range predicate bounds the join state Spark must
    retain — the canonical Structured Streaming interval join.

    `how`: "inner", "left_outer", or "full_outer". The left-outer form
    emits an unmatched left row (null right columns) once the combined
    watermark passes l_ts + max_lag — the attribution-with-timeout
    shape; full-outer additionally emits unmatched RIGHT rows (null
    left columns) once the watermark passes r_ts — the
    orphan-conversion audit shape. State stays watermark-bounded in
    every mode.

    Works identically on batch DataFrames (the batch form is the
    oracle-checkable analogue the catalog query uses).
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(f"unsupported join type {how!r}")
    l_ = left.select(
        F.col(key).alias("k"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
        F.col("value").alias("l_value"),
    )
    r_ = right.select(
        F.col(key).alias("r_k"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
        F.col("value").alias("r_value"),
    )
    if left.isStreaming:
        l_ = l_.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r_ = r_.withWatermark("r_ts", watermark)
    cond = (
        (F.col("k") == F.col("r_k"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}"))
    )
    # coalesce: full-outer right-unmatched rows carry a null left key
    # (identical to k for inner/left_outer, where k is never null)
    return l_.join(r_, cond, how).select(
        F.coalesce(F.col("k"), F.col("r_k")).alias("user_id"),
        "l_ts", "l_type", "l_value", "r_ts", "r_type", "r_value",
    )


DOCUMENT_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, "
    "n_chars BIGINT"
)


def read_document_stream(
    spark, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming corpus ingest: a parquet-file document stream with the
    fixture schema — the training-data analogue of the event stream
    (new corpus shards land as files; each micro-batch picks them up)."""
    return (
        spark.readStream.format("parquet")
        .schema(DOCUMENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )


def streaming_corpus_clean(
    docs: DataFrame,
    min_chars: int = 40,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """Streaming corpus cleaning — quality filter then exact
    first-arrival dedup on the text hash, the incremental form of the
    batch scrub→quality→dedup pipeline (operators/pipeline.py): only
    the first document with a given text survives; later shards'
    duplicates drop as they stream in.

    State: one row per distinct text hash. At production scale bound
    it with dropDuplicatesWithinWatermark over an ingest-time column
    (duplicates in a corpus build arrive within a bounded window);
    the unbounded form here keeps the stream==batch test exact."""
    t = F.col("text")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / F.length(t)
    filtered = docs.filter(
        (F.length(t) >= min_chars) & (alpha >= min_alpha_ratio)
    )
    return filtered.withColumn("text_hash", F.md5(t)).dropDuplicates(
        ["text_hash"]
    )


def streaming_model_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: int = 9,
    bias: float = 0.05,
    keep_only: bool = True,
) -> DataFrame:
    """Streaming model-based quality filtering: the hashed-linear
    classifier (operators/text.py quality_classifier_score) over a
    document stream — the production deployment shape for model
    filters: the model is trained OFFLINE (its weights are literals in
    the plan), scoring is a stateless per-row expression, so each
    micro-batch scores independently with NO state store (unlike the
    dedup stage's first-arrival state). stream==batch is exact by
    construction and proven in tests/test_streaming.py."""
    from heavydb_spark.operators.text import quality_classifier_score

    scored = quality_classifier_score(
        docs, "text", id_col, n_buckets=n_buckets, seed=seed, bias=bias
    )
    return scored.filter(F.col("quality_label")) if keep_only else scored
