"""Per-layer metrics of a traced run.

Spark plans are lazy, so a span around a call that only builds a plan
costs nothing, and the action that runs it (a commit, a checksum)
carries every layer's work at once. The traced run therefore times
each layer in two ways:

- spans around the workload's own calls during traced passes (the
  query workload's lookups and analytic operators, which each end in
  their own action);
- probes, run once after the passes, that materialize one layer's
  input, cache it, and time only that layer into Spark's no-op sink
  (or, for the kernel, call it on a fixed document sample in this
  process, single-threaded).

Stage and task metrics come from the Spark event log, attributed to
spans through job descriptions (``spans.EventLog``). A layer the
workload does not exercise reports 0.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from goldens import HEAD_ENTITY, spark_checksum
from spans import SPARK_FIELDS, EventLog
from workloads import noop

# spans whose Spark stage and task metrics are reported
SPARK_SPANS = [
    "pass", "resume.lookup", "kg_pipeline.kernel_stage", "tables.commit", "tables.read",
    "lineage.metrics", "incremental.batch", "graph.pagerank", "graph.khop",
    "frame_query.frame", "paths.evaluate",
]
SPAN_SECONDS = {
    "transcripts.derive_s": "transcripts.derive",
    "extract.payload_s": "extract.payload",
    "extract.entity_triples_s": "extract.entity_triples",
    "kg_pipeline.kernel_stage_s": "kg_pipeline.kernel_stage",
    "kg_pipeline.canonicalize_s": "kg_pipeline.canonicalize",
    "tables.commit_s": "tables.commit",
    "tables.read_s": "tables.read",
    "incremental.batch_s": "incremental.batch",
    "lineage.metrics_s": "lineage.metrics",
    "graph.pagerank_s": "graph.pagerank",
    "graph.khop_s": "graph.khop",
    "frame_query.frame_s": "frame_query.frame",
    "paths.evaluate_s": "paths.evaluate",
}
KERNEL_PHASES = ("parse", "expand", "nodemap", "tordf")
KERNEL_SAMPLE_DOCS = 200
ARRIVALS = 8

# (name, unit, better) of every per-layer metric, in print order
LAYER_METRICS = (
    [("session.start_s", "s", "lower"), ("session.ship_s", "s", "lower")]
    + [(name, "s", "lower") for name in SPAN_SECONDS]
    + [
        ("extract.payload_bytes_per_doc", "B", "lower"),
        *[(f"kernel.{p}_us", "us", "lower") for p in KERNEL_PHASES],
        ("kernel.quads_per_doc", "count", "higher"),
        ("kg_pipeline.python_frac", "frac", "lower"),
        ("kg_pipeline.task_skew", "ratio", "lower"),
        ("tables.bytes_per_triple", "B", "lower"),
        ("resume.lookup_files_read", "count", "lower"),
        ("resume.materialize_s", "s", "lower"),
        ("pass.self_s", "s", "lower"),
        ("lookup_p50_ms", "ms", "lower"),
        ("lookup_tail_ms", "ms", "lower"),
        ("lookup_tail_pct", "%", "higher"),
        ("lookup_samples", "count", "higher"),
        ("tracing_overhead_frac", "frac", "lower"),
        ("peak_rss_mb", "MB", "lower"),
    ]
    + [
        (f"spark.{span}.{field}", unit, "lower")
        for span in SPARK_SPANS
        for field, unit in zip(SPARK_FIELDS, ("count", "count", "count", "s", "s", "s", "MB", "MB"))
    ]
)


def scan_files_read(df) -> int:
    """Run ``df`` and sum the ``number of files read`` metric of every
    file scan in its executed plan (after partition pruning)."""
    df.collect()
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        metric = node.metrics().get("numFiles")
        if metric.isDefined():
            total += metric.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total


def kernel_sample(docs) -> dict:
    """In-process, single-threaded timing of the document kernel's
    phases on a fixed sample of payload documents (the same calls, in
    the same order, as ``kg_pipeline.docs_to_quads``)."""
    from jsonld_spark.kernel.context import ActiveContext
    from jsonld_spark.kernel.expand import expand_element
    from jsonld_spark.kernel.nodemap import BlankNodeIssuer, build_node_map
    from jsonld_spark.kernel.rdf import node_map_to_quads
    from jsonld_spark.operators.extract import PIPELINE_CONTEXT
    from jsonld_spark.operators.kg_pipeline import resolve_context

    texts = [r[0] for r in docs.orderBy("conv_id", "turn_idx").select("jsonld")
             .limit(KERNEL_SAMPLE_DOCS).collect()]
    ctx = ActiveContext(resolve_context(PIPELINE_CONTEXT))
    reps = []
    for _ in range(3):
        acc = dict.fromkeys(KERNEL_PHASES, 0)
        quads = 0
        for text in texts:
            t0 = time.perf_counter_ns()
            doc = json.loads(text)
            t1 = time.perf_counter_ns()
            expanded = expand_element(doc, ctx, None, False, None, None)
            if isinstance(expanded, dict) and len(expanded) == 1 and "@graph" in expanded:
                expanded = expanded["@graph"]
            if not isinstance(expanded, list):
                expanded = [] if expanded is None else [expanded]
            t2 = time.perf_counter_ns()
            issuer = BlankNodeIssuer()
            node_map = build_node_map(expanded, issuer)
            t3 = time.perf_counter_ns()
            quads += len(node_map_to_quads(node_map, issuer, False))
            t4 = time.perf_counter_ns()
            for phase, dt in zip(KERNEL_PHASES, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                acc[phase] += dt
        reps.append({f"kernel.{p}_us": acc[p] / 1e3 / len(texts) for p in KERNEL_PHASES})
    out = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
    out["kernel.quads_per_doc"] = quads / len(texts)
    return out


def build_probes(h) -> dict:
    """Probe every layer the build workload runs, each over a cached
    input, plus one streaming ingest with lineage."""
    from jsonld_spark.operators.extract import entity_triples, with_payload
    from jsonld_spark.operators.kg_pipeline import (
        QUAD_COLUMNS, canonicalize_bnodes, docs_to_quads, kernel_partitions,
    )
    from jsonld_spark.operators.lineage import lineage_metrics
    from jsonld_spark.sources.tables import SnapshotTable
    from jsonld_spark.sources.transcripts import transcript_texts, transcripts_from_events
    from jsonld_spark.streaming.incremental import stream_transcripts_to_triples

    spark, tr, out = h.spark, h.tracer, {}
    with tr.span("transcripts.derive"):
        noop(transcripts_from_events(spark, h.input_dir))
    parts = kernel_partitions(spark, h.wl.n_events)
    transcripts = transcripts_from_events(spark, h.input_dir).repartition(parts).cache()
    transcripts.count()
    with tr.span("extract.payload"):
        noop(with_payload(transcripts))
    # entity facts come from the window-free text frame, as in kg_triples
    texts = transcript_texts(spark, h.input_dir)
    with tr.span("extract.entity_triples"):
        noop(entity_triples(texts))
    docs = with_payload(transcripts).cache()
    out["extract.payload_bytes_per_doc"] = docs.agg(F.avg(F.length("jsonld"))).first()[0]
    out.update(kernel_sample(docs))
    with tr.span("kg_pipeline.kernel_stage"):
        noop(docs_to_quads(docs, parallelism=0))
    quads = docs_to_quads(docs, parallelism=0).cache()
    quads.count()
    with tr.span("kg_pipeline.canonicalize"):
        noop(canonicalize_bnodes(quads))
    with tr.span("lineage.metrics"):
        noop(lineage_metrics(canonicalize_bnodes(quads), 8))
    triples = canonicalize_bnodes(quads).select(*QUAD_COLUMNS).unionByName(
        entity_triples(texts)).cache()
    triples.count()
    root = os.path.join(h.work, "probe-table")
    with tr.span("tables.commit"):
        SnapshotTable(root).commit(triples, ["probe"])
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(os.path.join(root, "data"))
               for f in fs if f.endswith(".parquet"))
    out["tables.bytes_per_triple"] = size / h.goldens.triples[0]
    with tr.span("tables.read"):
        noop(SnapshotTable(root).read(spark))
    h.gate.check("probe table", spark_checksum(SnapshotTable(root).read(spark), QUAD_COLUMNS),
                 h.goldens.triples)

    # streaming ingest: arrivals are transcript slices by conversation;
    # the second micro-batch is timed warm
    arrivals = os.path.join(h.work, "arrivals")
    os.makedirs(arrivals)
    for k in range(2):
        staging = os.path.join(h.work, f"staging-{k}")
        transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(ARRIVALS)) == k).coalesce(1) \
            .write.parquet(staging)
        (name,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        shutil.move(os.path.join(staging, name), os.path.join(arrivals, f"arrival-{k}.parquet"))
        with tr.span("incremental.batch" if k else "incremental.cold_batch"):
            stream_transcripts_to_triples(spark, arrivals, os.path.join(h.work, "ingest"),
                                          os.path.join(h.work, "checkpoint"))
    return out


def query_probes(h) -> dict:
    from jsonld_spark.streaming import resume

    return {"resume.lookup_files_read":
            scan_files_read(resume.lookup_subject(h.spark, h.wl.root, HEAD_ENTITY))}


def layer_metrics(h, plain, traced, start_s, ship_s, materialize_s, peak_rss_mb, probes,
                  lookups, lookup_tail) -> dict:
    """Assemble every per-layer metric (0 where the layer is idle)."""
    tracer = h.tracer
    values = {name: 0.0 for name, _, _ in LAYER_METRICS}
    values.update(probes)
    if lookups:
        values["lookup_p50_ms"] = 1e3 * statistics.median(lookups)
        values["lookup_tail_ms"] = 1e3 * lookup_tail[0]
        values["lookup_tail_pct"], values["lookup_samples"] = lookup_tail[1:]
    values["session.start_s"] = start_s
    values["session.ship_s"] = ship_s
    values["resume.materialize_s"] = materialize_s
    values["peak_rss_mb"] = peak_rss_mb
    for metric, span in SPAN_SECONDS.items():
        spans = tracer.named(span)
        if spans:
            values[metric] = statistics.median(s["end"] - s["start"] for s in spans)
    passes = tracer.named("pass")
    if passes:
        values["pass.self_s"] = statistics.median(tracer.self_time(s) for s in passes)
    if plain and traced:
        values["tracing_overhead_frac"] = (
            statistics.median(r["pass_s"] for r in traced)
            / statistics.median(r["pass_s"] for r in plain) - 1.0
        )
    log = EventLog(h.event_dir, tracer)
    for span in SPARK_SPANS:
        spans = tracer.named(span)
        if not spans:
            continue
        ids = set().union(*(tracer.descendants(s["id"]) for s in spans))
        summary = log.summary(ids)
        for field in SPARK_FIELDS:
            values[f"spark.{span}.{field}"] = summary[field] / len(spans)
        if span == "kg_pipeline.kernel_stage" and summary["run_s"] > 0:
            values["kg_pipeline.python_frac"] = 1.0 - summary["cpu_s"] / summary["run_s"]
            values["kg_pipeline.task_skew"] = summary["task_skew"]
    units = {name: unit for name, unit, _ in LAYER_METRICS}
    return {name: (float(values[name]), units[name]) for name, _, _ in LAYER_METRICS}
