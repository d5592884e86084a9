"""Resumable, bucket-incremental pipeline execution, and the one
module that knows the committed triple-table layout (write, lookup,
read).

The reference is a batch in-memory library; the scale rebuild instead
processes the transcript corpus in conv-id hash buckets, committing
each bucket's triples + lineage as an atomic snapshot. A killed job
re-run skips `completed_buckets` from the last committed manifest —
idempotent resume without reprocessing (BASELINE.md "Resumability").
Structured Streaming micro-batches (streaming/incremental.py) commit
through the same ``commit_transcripts``.

At 10^12 turns the buckets would be Iceberg partition predicates over
the transcripts table (partition pruning makes the re-scan free); here
the same pruning happens via a pushed-down hash filter.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_spark.operators.extract import entity_triples
from jsonld_spark.operators.kg_pipeline import QUAD_COLUMNS, canonical_quads
from jsonld_spark.operators.lineage import bucket_of, lineage_metrics
from jsonld_spark.sources.tables import SnapshotTable
from jsonld_spark.sources.transcripts import transcripts_from_events

# Every committed triple table is partitioned by ``subject_bucket =
# hash(subject) % SUBJECT_BUCKETS`` — the parquet analogue of Iceberg's
# ``partitionedBy(bucket(N, subject))`` — so point lookups prune to one
# partition directory. A constant, not a parameter: a lookup computed
# with another count would prune to the wrong directory.
SUBJECT_BUCKETS = 16


def _subject_bucket(subject):
    return F.pmod(F.xxhash64(subject), F.lit(SUBJECT_BUCKETS)).cast("int")


def commit_transcripts(
    table: SnapshotTable, transcripts: DataFrame, buckets: list, lineage_buckets: int
) -> dict:
    """Commit the triples of ``transcripts`` and their per-bucket
    lineage as one snapshot marking ``buckets`` complete.

    The kernel runs once: its lineage-carrying quads are persisted for
    both the triple write and ``lineage_metrics``. No dropDuplicates:
    the kernel stream is unique per turn and ``entity_triples`` is
    distinct; entity facts repeated across commits are deduplicated
    by ``read_triples`` and ``lookup_subject``."""
    quads = canonical_quads(transcripts).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        triples = (
            quads.select(*QUAD_COLUMNS)
            .unionByName(entity_triples(transcripts))
            .withColumn("subject_bucket", _subject_bucket(F.col("subject")))
            # AQE-sized files per bucket directory, not one per kernel
            # task per directory (fewer files for every later scan)
            .hint("rebalance", "subject_bucket")
        )
        return table.commit(
            triples, buckets, lineage=lineage_metrics(quads, lineage_buckets),
            partition_by=["subject_bucket"],
        )
    finally:
        quads.unpersist()


def run_resumable(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    n_buckets: int = 4,
    fail_after: int | None = None,
) -> SnapshotTable:
    """Run the pipeline bucket-by-bucket with snapshot commits.

    ``fail_after`` aborts after N bucket commits (test hook simulating
    a killed job); re-invoking resumes from the manifest.
    """
    table = SnapshotTable(out_root)
    done = table.completed_buckets()
    transcripts = transcripts_from_events(spark, sf_dir).withColumn(
        "bucket", bucket_of(F.col("conv_id"), n_buckets)
    )
    committed = 0
    for bucket in range(n_buckets):
        if bucket in done:
            continue
        part = transcripts.where(F.col("bucket") == bucket).drop("bucket")
        commit_transcripts(table, part, [bucket], n_buckets)
        committed += 1
        if fail_after is not None and committed >= fail_after:
            break  # simulated crash after commit point
    return table


def lookup_subject(spark: SparkSession, out_root: str, subject: str) -> DataFrame | None:
    """Point lookup on the materialized triple table: the
    subject-bucket predicate prunes the scan to one partition
    directory per snapshot (Graph::getNode at scale,
    reference Graph.php:102-111). Deduplicated like ``read_triples``:
    an entity fact is committed once per commit that mentions it."""
    df = SnapshotTable(out_root).read(spark)
    if df is None:
        return None
    # the bucket expression over a literal constant-folds, so the
    # partition filter prunes directories before any file is read
    return df.where(
        (F.col("subject_bucket") == _subject_bucket(F.lit(subject)))
        & (F.col("subject") == subject)
    ).drop("subject_bucket").dropDuplicates(QUAD_COLUMNS)


def read_triples(spark: SparkSession, out_root: str) -> DataFrame | None:
    """Read the committed triple set (cross-bucket dedup applied on
    read; entity triples can legitimately appear in many buckets)."""
    df = SnapshotTable(out_root).read(spark)
    if df is None:
        return None
    return df.drop("subject_bucket").dropDuplicates(QUAD_COLUMNS)
