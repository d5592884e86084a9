"""The benchmark's workloads, each a set-up step and a pass that call
the program's public functions and check every result against the
DuckDB goldens.

``build``  one big batch: ``kg_pipeline.kg_triples`` (events ->
           transcripts -> JSON-LD payloads -> kernel (expand / node
           map / toRdf) -> canonical triples), committed as one
           snapshot. The kernel, extraction and the
           Arrow stage do nearly all the work; graph, frame and path
           operators do none.
``query``  the triple table is materialized once in set-up with
           ``streaming.resume.run_resumable`` (its default conversation
           and subject buckets). A pass
           is a closed-loop client doing point lookups, then a fixed
           analytic mix (frame, PageRank, k-hop BFS, property path).
           The kernel does no work here, so a kernel change is
           predicted to leave this workload unchanged.

Every pass builds fresh plans and leaves no cache behind: between
passes the harness clears Spark's cache, releases
``operators.scratch`` and runs a JVM GC, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from __spark_entry__ import _conv_resources_path
from goldens import HEAD_ENTITY, HEAD_MENTION_FRAME, MIX_COLUMNS, rows_checksum, spark_checksum
from jsonld_spark.operators import frame_query, graph
from jsonld_spark.operators.kg_pipeline import QUAD_COLUMNS, kg_triples
from jsonld_spark.sources.tables import SnapshotTable
from jsonld_spark.streaming import resume


def noop(df: DataFrame) -> None:
    """Run ``df`` to completion into Spark's no-op sink."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared plumbing: ``run`` is the harness (spark session, tracer,
    oracle gate, work directory)."""

    name = ""
    n_events = 0
    n_lookups = 0
    # untimed passes before the timed ones, the cold first one included;
    # set from measured pass series (kgbench/README.md, "Workloads")
    warmup_passes = 1
    min_passes = 1
    mix = False

    def __init__(self, run):
        self.run = run

    @property
    def spark(self) -> SparkSession:
        return self.run.spark

    def lookup(self, root: str, subject: str) -> float:
        """One point lookup through ``resume.lookup_subject``, checked
        against its golden; returns its latency in seconds."""
        with self.run.tracer.span("resume.lookup"):
            t0 = time.perf_counter()
            rows = resume.lookup_subject(self.spark, root, subject).collect()
            dt = time.perf_counter() - t0
        self.run.gate.check(f"lookup {subject}", rows_checksum(rows, QUAD_COLUMNS),
                            self.run.goldens.lookups[subject])
        return dt

    def prepare(self) -> None:
        """Program work done once per set-up (timed as set-up)."""

    def verify_setup(self) -> None:
        """Oracle checks of the set-up's result (not timed)."""

    def run_pass(self, i: int) -> dict:
        raise NotImplementedError

    def probes(self) -> dict:
        """Per-layer measurements beyond the traced passes."""
        raise NotImplementedError


class Build(Workload):
    name = "build"
    n_events = 10000
    # the cold pass, then the first warm pass, which is still 10-30%
    # slower than the ones after it
    warmup_passes = 2
    min_passes = 3

    def run_pass(self, i: int) -> dict:
        tr, spark, in_dir = self.run.tracer, self.spark, self.run.input_dir
        root = os.path.join(self.run.work, "build-table")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span("pass"):
            # plans are lazy: the commit runs every layer at once (the
            # traced run's probes time the layers one by one)
            SnapshotTable(root).commit(kg_triples(spark, in_dir), ["build"])
        pass_s = time.perf_counter() - t0
        committed = SnapshotTable(root).read(spark)
        self.run.gate.check("build table", spark_checksum(committed, QUAD_COLUMNS),
                            self.run.goldens.triples)
        return {"pass_s": pass_s, "triples": self.run.goldens.triples[0], "lookups": []}

    def probes(self) -> dict:
        from layers import build_probes

        return build_probes(self.run)


class Query(Workload):
    name = "query"
    n_events = 2500
    n_lookups = 8
    mix = True

    def prepare(self) -> None:
        self.root = os.path.join(self.run.work, "query-table")
        # one conversation bucket, not run_resumable's default four: see
        # "What was left out" in kgbench/README.md
        resume.run_resumable(self.spark, self.run.input_dir, self.root, n_buckets=1)

    def verify_setup(self) -> None:
        table = resume.read_triples(self.spark, self.root)
        self.run.gate.check("query table", spark_checksum(table, QUAD_COLUMNS),
                            self.run.goldens.triples)

    def _mix_op(self, name: str, span: str, build) -> None:
        """Build one analytic result and consume it with the checksum
        aggregate (the action), inside the layer's span."""
        with self.run.tracer.span(span):
            got = spark_checksum(build(), MIX_COLUMNS[name])
        self.run.gate.check(name, got, self.run.goldens.mix[name])

    def run_pass(self, i: int) -> dict:
        tr, spark, root = self.run.tracer, self.spark, self.root
        t0 = time.perf_counter()
        with tr.span("pass"):
            lookups = [self.lookup(root, s) for s in self.run.goldens.lookup_subjects]
            with tr.span("tables.read"):
                triples = resume.read_triples(spark, root).cache()
                triples.count()
            self._mix_op("frame", "frame_query.frame",
                         lambda: frame_query.frame_select(triples, HEAD_MENTION_FRAME))
            with tr.span("graph.iri_edges"):
                edges = graph.iri_edges(triples).cache()
                edges.count()
            self._mix_op("pagerank", "graph.pagerank", lambda: graph.pagerank_fixedpoint(
                edges, iterations=graph.PR_ITERATIONS, scale=graph.PR_SCALE))
            # khop_distances runs its BFS when called, so the call is
            # inside the span too
            self._mix_op("khop", "graph.khop", lambda: graph.khop_distances(
                edges, spark.createDataFrame([(HEAD_ENTITY,)], "node string"),
                k=graph.KHOP_DEFAULT_K))
            # the registry's kg_path_conv_resources query, on this table
            self._mix_op("paths", "paths.evaluate", lambda: _conv_resources_path(triples))
        pass_s = time.perf_counter() - t0
        return {"pass_s": pass_s, "triples": self.run.goldens.triples[0], "lookups": lookups}

    def probes(self) -> dict:
        from layers import query_probes

        return query_probes(self.run)


WORKLOADS = {w.name: w for w in (Build, Query)}
