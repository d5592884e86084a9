"""Resumable, bucket-incremental pipeline execution.

The reference is a batch in-memory library; the scale rebuild instead
processes the transcript corpus in conv-id hash buckets, committing
each bucket's triples + lineage as an atomic snapshot. A killed job
re-run skips `completed_buckets` from the last committed manifest —
idempotent resume without reprocessing (BASELINE.md "Resumability").

At 10^12 turns the buckets would be Iceberg partition predicates over
the transcripts table (partition pruning makes the re-scan free); here
the same pruning happens via a pushed-down hash filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_spark.operators.kg_pipeline import QUAD_COLUMNS, transcripts_to_triples
from jsonld_spark.operators.lineage import bucket_of, lineage_metrics
from jsonld_spark.sources.tables import SnapshotTable
from jsonld_spark.sources.transcripts import transcripts_from_events


def run_resumable(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    n_buckets: int = 4,
    fail_after: int | None = None,
    subject_buckets: int = 16,
) -> SnapshotTable:
    """Run the pipeline bucket-by-bucket with snapshot commits.

    ``fail_after`` aborts after N bucket commits (test hook simulating
    a killed job); re-invoking resumes from the manifest. The triple
    table is written partitioned by ``subject_bucket = hash(subject) %
    subject_buckets`` — the parquet analogue of Iceberg's
    ``partitionedBy(bucket(N, subject))`` — so point lookups prune to
    one partition directory.
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
        quads = transcripts_to_triples(part, keep_lineage=True)
        lineage = lineage_metrics(quads, n_buckets)
        from jsonld_spark.operators.extract import entity_triples

        triples = (
            quads.select(*QUAD_COLUMNS)
            .unionByName(entity_triples(part))
            .dropDuplicates(QUAD_COLUMNS)
            .withColumn(
                "subject_bucket",
                F.pmod(F.xxhash64("subject"), F.lit(subject_buckets)).cast("int"),
            )
        )
        table.commit(triples, [bucket], lineage=lineage, partition_by=["subject_bucket"])
        committed += 1
        if fail_after is not None and committed >= fail_after:
            break  # simulated crash after commit point
    return table


def lookup_subject(spark: SparkSession, out_root: str, subject: str,
                   subject_buckets: int = 16) -> DataFrame | None:
    """Point lookup on the materialized triple table: the
    subject-bucket predicate prunes the scan to one partition
    directory per snapshot (Graph::getNode at scale,
    reference Graph.php:102-111). Deduplicated like ``read_triples``:
    an entity fact is committed once per conversation bucket."""
    df = SnapshotTable(out_root).read(spark)
    if df is None:
        return None
    # the bucket expression over a literal constant-folds, so the
    # partition filter prunes directories before any file is read
    bucket = F.pmod(F.xxhash64(F.lit(subject)), F.lit(subject_buckets)).cast("int")
    return df.where(
        (F.col("subject_bucket") == bucket) & (F.col("subject") == subject)
    ).drop("subject_bucket").dropDuplicates(QUAD_COLUMNS)


def read_triples(spark: SparkSession, out_root: str) -> DataFrame | None:
    """Read the committed triple set (cross-bucket dedup applied on
    read; entity triples can legitimately appear in many buckets)."""
    df = SnapshotTable(out_root).read(spark)
    if df is None:
        return None
    if "subject_bucket" in df.columns:
        df = df.drop("subject_bucket")
    return df.dropDuplicates(QUAD_COLUMNS)
