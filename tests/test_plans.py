"""Tier-2: physical-plan shape regression tests.

The perf work in BENCH/BASELINE.md is guarded here: these assert the
plan properties that made the pipeline fast, so a future change that
silently reintroduces a double kernel stage, loses predicate pushdown,
or drops the broadcast hint fails loudly.
"""

from __future__ import annotations

import os

import pytest

from jsonld_spark.operators.kg_pipeline import kg_triples
from jsonld_spark.operators.relational import pricing_summary, top_unshipped_orders

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not available"
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def physical_plan_of(df) -> str:
    # pre-execution physical plan (the executed AQE plan string embeds
    # initial+final copies and double-counts nodes)
    return df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]


def test_kernel_stage_runs_once(spark):
    """The Python kernel is the expensive stage; the plan must contain
    exactly one of it (the first split-dedup design accidentally ran
    it per Union branch)."""
    plan = physical_plan_of(kg_triples(spark, SF))
    n = plan.count("MapInArrow") + plan.count("MapInPandas")
    assert n == 1, plan


def test_no_global_distinct_on_kernel_stream(spark):
    """Set semantics come from per-turn uniqueness + the small entity
    distinct — there must be no aggregate directly over the kernel
    output columns (conv_id-keyed stream)."""
    plan = physical_plan_of(kg_triples(spark, SF))
    kernel_idx = max(plan.find("MapInArrow"), plan.find("MapInPandas"))
    above_kernel = plan[:kernel_idx]
    # the only aggregates above the kernel in tree order belong to the
    # entity branch; the kernel branch feeds the Union directly
    assert "Union" in plan
    assert above_kernel.count("HashAggregate") <= 2  # entity distinct only


def test_shipdate_filter_is_pushed_down(spark):
    plan = physical_plan_of(pricing_summary(spark, SF))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:300]


def test_dimension_join_is_broadcast(spark):
    plan = physical_plan_of(top_unshipped_orders(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_kernel_stage_parallelism_is_explicit(spark):
    """The repartition before the CPU-bound stages must survive:
    without it AQE byte-coalescing strangles the kernel stage."""
    tri = kg_triples(spark, SF)
    plan = physical_plan_of(tri)
    kernel_idx = max(plan.find("MapInArrow"), plan.find("MapInPandas"))
    assert "Exchange RoundRobinPartitioning" in plan[kernel_idx:], plan


def test_simhash_guard_is_pushed_to_scan(spark):
    """The zero-token guard must sit on the raw text column at the
    parquet scan — written as a filter on the computed simhash it got
    pushed below the projection and re-evaluated the 60-bit aggregate
    twice (measured 2x, BENCH/BASELINE.md round 3)."""
    from jsonld_spark.operators.dedup import simhash_values

    df = simhash_values(spark, SF)
    plan = physical_plan_of(df)
    assert "PushedFilters: [IsNotNull(text)]" in plan, plan
    # exactly one projection computes the aggregate (no duplicated eval)
    assert plan.count("aggregate(") <= 2, plan.count("aggregate(")


def test_graph_plans_have_no_cartesian_products(spark):
    """The graph analytics must stay equality-join shaped: a planner
    regression that turns the wedge join or the rank-contribution join
    into a cartesian/broadcast-nested-loop would square the corpus."""
    from jsonld_spark.operators.graph import (
        iri_edges,
        pagerank_fixedpoint,
        personalized_pagerank_fixedpoint,
        triangle_counts,
    )

    edges = iri_edges(kg_triples(spark, SF))
    seeds = spark.createDataFrame([("http://kg.example/entity/E0",)], "node string")
    for df in (
        triangle_counts(edges),
        pagerank_fixedpoint(edges),
        personalized_pagerank_fixedpoint(edges, seeds),
    ):
        plan = physical_plan_of(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_graph_ops_build_lazily(spark):
    """Building the triangle/pagerank DataFrames must run NO Spark jobs
    (work belongs to the consuming action — the honest-timing property
    BENCH/BASELINE.md documents; eager checkpoints regress it)."""
    from jsonld_spark.operators.graph import (
        iri_edges,
        pagerank_fixedpoint,
        triangle_counts,
    )

    # kg_triples itself runs one metadata-only footer-count job at
    # build (documented) — snapshot the job count after it
    edges = iri_edges(kg_triples(spark, SF))
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    triangle_counts(edges)
    pagerank_fixedpoint(edges)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "graph DataFrame construction ran Spark jobs"


def test_path_query_plan_is_equality_joins_and_lazy(spark):
    """The compiled property path must stay equality-join shaped (no
    cartesian/nested-loop regression in seq/alt) and, closure aside,
    build without running Spark jobs."""
    from jsonld_spark.operators import paths
    from jsonld_spark.sources.entities import VOCAB

    tri = kg_triples(spark, SF)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df = paths.evaluate(
        tri,
        paths.seq(
            paths.inv(paths.pred(VOCAB + "inConversation")),
            paths.alt(paths.pred(VOCAB + "entities"), paths.pred(VOCAB + "tool")),
        ),
    )
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "path DataFrame construction ran Spark jobs"
    plan = physical_plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_frame_and_trigram_plans_are_equality_joins(spark):
    """Round-4 families stay equality-join shaped: no cartesian/BNLJ
    anywhere, and the trigram profile table (800 literal rows) joins
    BROADCAST — a planner regression to a shuffled profile join would
    add a full shuffle of the exploded trigram stream."""
    from jsonld_spark.operators import text
    from jsonld_spark.operators.frame_query import frame_select, frame_subgraph

    tri = kg_triples(spark, SF)
    frames = [
        {"@type": "http://kg.example/vocab#Mention",
         "http://kg.example/vocab#score": 0.9,
         "http://kg.example/vocab#rank": 1},
        {"http://kg.example/vocab#tool": {},
         "http://kg.example/vocab#text": []},
    ]
    for frame in frames:
        plan = physical_plan_of(frame_select(tri, frame))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    plan = physical_plan_of(frame_subgraph(tri, frames[0], depth=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    planted = text.planted_language_docs(spark, SF)
    plan = physical_plan_of(text.language_id_trigram(planted))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the profile join


def test_frame_query_pushes_filters_to_parquet_scan(spark, tmp_path):
    """A frame query over the PARQUET-backed triple table (the
    production snapshot shape) must push its predicate/obj_value
    equalities and the closure's obj_kind filter into the scan
    (PushedFilters) — the shape a 100-TB frame query needs: the scan
    reads only the frame-relevant row groups, not the whole graph."""
    from jsonld_spark.operators.frame_query import frame_select, frame_subgraph

    path = str(tmp_path / "triples.parquet")
    kg_triples(spark, SF).write.parquet(path)
    ptri = spark.read.parquet(path)

    frame = {"@type": "http://kg.example/vocab#Turn",
             "http://kg.example/vocab#tool": {}}
    # the default scan-metadata print truncates the filter list at 100
    # chars — long IRIs hide the very equalities under test
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        plan = physical_plan_of(frame_select(ptri, frame))
        pushed = [seg[:800] for seg in plan.split("PushedFilters: ")[1:]]
        assert pushed, plan
        # the rdf:type equality and the tool-predicate equality both
        # reach a parquet scan
        assert any("EqualTo(predicate," in seg for seg in pushed), pushed
        assert any("EqualTo(obj_value," in seg for seg in pushed), pushed

        plan = physical_plan_of(frame_subgraph(ptri, frame, depth=1))
        pushed = [seg[:800] for seg in plan.split("PushedFilters: ")[1:]]
        # the closure hop's obj_kind='iri' filter reaches a scan too
        assert any("EqualTo(obj_kind,iri)" in seg for seg in pushed), pushed
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")


def test_interval_and_similarity_plans_are_equality_joins(spark):
    """Round-5 families stay off the quadratic paths: the as-of join
    must compile to a WINDOW (no inequality join — Spark plans those
    as per-key nested loops), the binned range join and neighbor
    similarity to equality joins only."""
    from jsonld_spark.operators import interval as IV
    from jsonld_spark.operators.graph import iri_edges, neighbor_similarity

    asof = IV.asof_event_profiles(spark, SF)
    plan = physical_plan_of(asof)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan  # the running-last fill
    # no join node at all: the as-of is pure union + window
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan

    rng = IV.events_in_windows(spark, SF)
    plan = physical_plan_of(rng)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    edges = iri_edges(kg_triples(spark, SF))
    plan = physical_plan_of(neighbor_similarity(edges))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-bucketed triple/adjacency tables must equi-join on the
    bucket column with NO Exchange in the plan — the pay-once
    partitioning a subject-keyed 100-TB store relies on. The same
    join over plain parquet shuffles both sides (asserted as the
    control, so the test can't pass vacuously)."""
    from jsonld_spark.sources.tables import write_bucketed

    tri = kg_triples(spark, SF)
    left = tri.select("subject", "predicate", "obj_value")
    right = tri.groupBy("subject").count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(left, "t_bkt_l", str(tmp_path / "l"))
        write_bucketed(right, "t_bkt_r", str(tmp_path / "r"))
        joined = spark.table("t_bkt_l").join(spark.table("t_bkt_r"), "subject")
        plan = physical_plan_of(joined)
        assert "Exchange" not in plan, plan

        left.write.parquet(str(tmp_path / "pl"))
        right.write.parquet(str(tmp_path / "pr"))
        plain = spark.read.parquet(str(tmp_path / "pl")).join(
            spark.read.parquet(str(tmp_path / "pr")), "subject"
        )
        assert "Exchange" in physical_plan_of(plain)
        # and the bucketed join returns the same rows
        assert joined.count() == plain.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bkt_l")
        spark.sql("DROP TABLE IF EXISTS t_bkt_r")


def test_boilerplate_removal_is_broadcast_anti_join_shaped(spark):
    """Boilerplate removal (round 5): the scalar total-conversation
    count must attach as a scalar SUBQUERY (computed once, broadcast
    into the filter — no join node, in particular no 1-row nested-loop
    cross join), and the removal itself must be a broadcast LEFT ANTI
    join — the huge turns side never shuffles beyond its scan at
    100 TB."""
    from jsonld_spark.operators import text
    from jsonld_spark.sources.transcripts import transcript_corpus

    turns = transcript_corpus(spark, SF)
    boiler = text.boilerplate_frequency(turns)
    plan = physical_plan_of(boiler)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Subquery subquery" in plan, plan  # the totals attach

    kept = text.remove_boilerplate(turns, boiler)
    plan = physical_plan_of(kept)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    ), plan
    # the corpus view itself is window-free: no Exchange before the
    # first aggregation's own shuffle on the turns scan side
    corpus_plan = physical_plan_of(turns)
    assert "Window" not in corpus_plan, corpus_plan
    assert "Exchange" not in corpus_plan, corpus_plan


def test_training_pipeline_op_plans_round5_close(spark):
    """Round-5-close operator family: broadcast joins where claimed,
    BroadcastNestedLoopJoin ONLY at the documented 1-row stat
    crossJoins, and the map-only / single-shuffle shapes that make the
    cheap operators cheap."""
    from jsonld_spark.operators import dedup, relational, search, sketch, text

    def counts(df):
        plan = physical_plan_of(df)
        assert "CartesianProduct" not in plan, plan
        return (plan.count("BroadcastNestedLoopJoin"),
                plan.count("BroadcastHashJoin"),
                plan.count("Exchange"))

    # benchmark-gram join is broadcast; no nested-loop anywhere
    bnl, bhj, _ = counts(dedup.decontaminate(spark, SF))
    assert bnl == 0 and bhj >= 1

    # one shuffle (on source) — both windows share it
    bnl, _, ex = counts(relational.token_budget_mix(spark, SF))
    assert bnl == 0 and ex == 1

    # pure column expressions: no join, no shuffle at all
    bnl, bhj, ex = counts(text.pii_url_stats(spark, SF))
    assert (bnl, bhj, ex) == (0, 0, 0)

    # model join broadcast; BNLJ only at the TWO 1-row total attaches
    bnl, bhj, _ = counts(text.unigram_surprisal(spark, SF))
    assert bnl == 2 and bhj >= 1

    # query/df/stats sides broadcast; BNLJ only at the 1-row stats
    bnl, bhj, _ = counts(search.bm25_topk(spark, SF))
    assert bnl == 1 and bhj >= 3

    # probe sides broadcast — no sort-merge join on tiny probe frames
    df = sketch.corpus_token_count_min(spark, SF)
    plan = physical_plan_of(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 0


def test_shingle_construction_never_pushed_into_scan(spark):
    """Regression armor for the round-5-close volume findings: no
    consumer of with_shingles may let a predicate carrying the shingle
    construction reach the parquet scan. Two past mechanisms: Catalyst
    InferFiltersFromGenerate on explode(shingles-attribute), and an
    explicit size(shingles) > 0 filter — both get the attribute
    substituted with the full transform/array_distinct expression and
    pushed below the repartition exchange onto the table's 1-2 file
    partitions (single-threaded double work; 440 s -> 34 s at 128x
    volume when fixed)."""
    from jsonld_spark.operators import dedup, sketch

    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        frames = [
            dedup.decontaminate(spark, SF),
            dedup.minhash_lsh_pairs(spark, SF),
            dedup.ngram_jaccard_pairs(spark, SF),
            sketch.source_shingle_cardinality(spark, SF),
        ]
        for df in frames:
            plan = physical_plan_of(df)
            for line in plan.splitlines():
                if "FileScan" in line:
                    assert "array_distinct" not in line, line
                    assert "concat_ws" not in line, line
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")


def test_get_spark_fails_fast_on_ignored_codec(spark):
    """The io codec is fixed when the SparkContext starts: a codec
    opt-in that getOrCreate would silently drop must raise instead."""
    from jsonld_spark.plans.session import get_spark

    active = spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4")
    other = "lz4" if active == "zstd" else "zstd"
    with pytest.raises(RuntimeError, match="spark.io.compression.codec"):
        get_spark(app_name="jsonld-spark-tests", cores=4, shuffle_partitions=8,
                  extra_conf={"spark.io.compression.codec": other})
    assert spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4") == active
