"""Structured Streaming ingestion for the KG pipeline.

The reference is a batch, in-memory library (SURVEY.md §2.6), so this
is engine capability beyond it: transcripts arriving as files are
processed incrementally — ``readStream`` -> the same S1..S7 stages via
``foreachBatch`` -> the batch resume path's own commit
(``resume.commit_transcripts``: one kernel pass, subject-bucket
partitioned, so point lookups work on a stream-built table). The stream
checkpoint gives exactly-once per input file; the snapshot manifest
gives atomic visibility (same guarantees as the batch resume path,
arrived-data-driven instead of bucket-driven).

``windowed_mention_counts`` is the watermarked windowed-aggregation
shape for late data (sliding entity-mention counts per hour).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_spark.operators.extract import _link_map_expr
from jsonld_spark.sources.tables import SnapshotTable
from jsonld_spark.streaming.resume import commit_transcripts

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def stream_transcripts_to_triples(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    checkpoint_dir: str,
) -> SnapshotTable:
    """Process all transcript parquet files not yet seen by the
    checkpoint (Trigger.AvailableNow), committing each micro-batch as
    a snapshot with lineage (over 8 conv-id buckets) through
    ``resume.commit_transcripts``. Re-running after new files appear
    processes only the new files."""
    table = SnapshotTable(out_root)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            commit_transcripts(table, batch_df, [f"stream-batch-{batch_id}"], 8)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return table


SESSION_OUTPUT_SCHEMA = (
    "conv_id string, n_turns bigint, n_mentions bigint, "
    "first_ts timestamp, last_ts timestamp, closed boolean"
)
SESSION_STATE_SCHEMA = (
    "n_turns bigint, n_mentions bigint, first_ts timestamp, last_ts timestamp"
)


def stateful_conversation_sessions(
    transcripts_stream: DataFrame, idle_timeout_ms: int = 30 * 60 * 1000
) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    a running per-conversation session summary (turns, detected
    mentions, first/last event time) that survives across micro-batches
    in the state store, emits an updated row whenever a conversation
    receives turns, and emits a final ``closed=true`` row when a
    conversation sits idle past ``idle_timeout_ms`` (processing-time
    timeout eviction — state size stays bounded by ACTIVE
    conversations, not corpus history; the 10^12-turn requirement).

    Mention counts use the pipeline's dictionary detector, so the
    streaming summary agrees with the batch `conversation_stats` query
    on the same data (tested).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        from jsonld_spark.sources import entities as E

        conv_id = key[0]
        cols = ["conv_id", "n_turns", "n_mentions", "first_ts", "last_ts", "closed"]
        if state.hasTimedOut:
            n_turns, n_mentions, first_ts, last_ts = state.get
            state.remove()
            yield pd.DataFrame(
                [(conv_id, n_turns, n_mentions, first_ts, last_ts, True)],
                columns=cols)
            return

        n_turns, n_mentions, first_ts, last_ts = (
            state.get if state.exists else (0, 0, None, None))
        pattern = E.surface_pattern()
        for pdf in pdfs:
            if not len(pdf):
                continue
            n_turns += len(pdf)
            n_mentions += int(pdf["text"].str.count(pattern).sum())
            lo = pdf["ts"].min().to_pydatetime()
            hi = pdf["ts"].max().to_pydatetime()
            first_ts = lo if first_ts is None or lo < first_ts else first_ts
            last_ts = hi if last_ts is None or hi > last_ts else last_ts
        state.update((n_turns, n_mentions, first_ts, last_ts))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [(conv_id, n_turns, n_mentions, first_ts, last_ts, False)],
            columns=cols)

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        update,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def windowed_mention_counts(
    transcripts_stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked sliding-window entity-mention counts over a
    streaming transcripts DataFrame — the late-data-tolerant streaming
    aggregate shape (events later than the watermark are dropped;
    windows finalize once the watermark passes)."""
    from jsonld_spark.sources import entities as E

    link = _link_map_expr()
    # mention detection inline (detect_mentions drops the event time)
    surfaces = F.regexp_extract_all("text", F.lit(E.surface_pattern()), 1)
    exploded = (
        transcripts_stream.withWatermark("ts", watermark)
        .select("ts", F.explode(surfaces).alias("surface"))
        .withColumn("entity_id", F.element_at(link, F.col("surface"))["entity_id"])
    )
    return exploded.groupBy(
        F.window("ts", window, slide).alias("window"), "entity_id"
    ).agg(F.count("*").alias("n_mentions"))


DOC_STREAM_SCHEMA = "doc_id bigint, text string, ts timestamp"


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    within_watermark: str | None = None,
) -> None:
    """Streaming exact deduplication: emit each document the FIRST
    time its normalized-text hash is seen, across micro-batches and
    across runs (the state store persists with the checkpoint) — the
    streaming counterpart of ``dedup.exact_duplicates`` for a corpus
    that arrives continuously.

    State is one row per distinct hash. Without ``within_watermark``
    that state grows with the corpus — exactly what a global dedup
    means, and the deliberate default; pass e.g. ``"1 hour"`` to use
    ``dropDuplicatesWithinWatermark`` instead, which bounds state to
    the watermark horizon and re-admits a duplicate that arrives after
    its first occurrence has aged out (the CDC/"rolling window" dedup
    contract; late-data caveats per SPARK-24634 apply as pinned in
    test_streaming.py)."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(input_dir)
    hashed = stream.withColumn("text_hash", F.md5(F.lower(F.col("text"))))
    if within_watermark:
        deduped = hashed.withWatermark("ts", within_watermark) \
            .dropDuplicatesWithinWatermark(["text_hash"])
    else:
        deduped = hashed.dropDuplicates(["text_hash"])
    query = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
