"""Per-partition lineage metrics (north rule: "every stage checkpoints
per-partition lineage — input split, triple counts, link-score
histograms — so a killed job resumes idempotently").

Lineage is computed *in the same pass* as the data, not a second
scan: ``streaming/resume.commit_transcripts`` runs the document kernel
once, persists the quads carrying their input keys, and feeds them to
both the triple write and this groupBy. Input splits are conv-id hash
buckets, and the link-score histogram aggregates the mention-score
literals the pipeline itself emitted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonld_spark.sources.entities import VOCAB

SCORE_PRED = VOCAB + "score"
TARGET_PRED = VOCAB + "target"


def bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).alias("bucket")


def lineage_metrics(quads_with_lineage: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Quads (pre-dedup, carrying conv_id/turn_idx) -> one lineage row
    per input bucket: turn span, quad counts, and the link-score
    histogram (score literal -> count) as a map column."""
    scored = quads_with_lineage.withColumn("bucket", bucket_of(F.col("conv_id"), n_buckets))
    hist = (
        scored.where(F.col("predicate") == SCORE_PRED)
        .groupBy("bucket", "obj_value")
        .count()
        .groupBy("bucket")
        .agg(F.map_from_entries(F.collect_list(F.struct("obj_value", "count"))).alias(
            "link_score_histogram"
        ))
    )
    base = scored.groupBy("bucket").agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.countDistinct("conv_id", "turn_idx").alias("n_turns"),
        F.count("*").alias("n_quads"),
        F.sum(F.when(F.col("predicate") == TARGET_PRED, 1).otherwise(0)).alias("n_links"),
    )
    return base.join(hist, "bucket", "left")
