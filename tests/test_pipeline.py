"""Tier-2: Spark pipeline correctness on local Spark (SURVEY.md §5.2).

The decisive check is differential: the distributed pipeline must emit
exactly the quads the pure kernel produces for the same per-turn
documents (modulo the deterministic label mapping), plus invariants
(per-turn text equality under stable ordering), canonicalization
modes, skew-safe joins, lineage, and kill/resume idempotence.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from jsonld_spark.kernel.expand import expand_element
from jsonld_spark.kernel.nodemap import BlankNodeIssuer, build_node_map
from jsonld_spark.kernel.rdf import node_map_to_quads
from jsonld_spark.operators.canonicalize import dense_bnode_labels, salt_join, two_phase_row_index
from jsonld_spark.operators.extract import (
    PIPELINE_CONTEXT,
    detect_mentions,
    link_mentions_join,
    with_payload,
)
from jsonld_spark.operators.kg_pipeline import (
    QUAD_COLUMNS,
    canonicalize_bnodes,
    docs_to_quads,
    kg_triples,
    resolve_context,
    transcripts_to_triples,
)
from jsonld_spark.operators.lineage import lineage_metrics
from jsonld_spark.sources import entities as E
from jsonld_spark.sources.transcripts import transcripts_from_events

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not available"
)


def kernel_quads_for(docs_rows, hash_labels=True):
    """Reference semantics on the driver: run the pure kernel per doc,
    applying the same content-addressed relabeling as the pipeline."""
    import hashlib

    activectx = resolve_context(PIPELINE_CONTEXT)
    out = set()
    for row in docs_rows:
        expanded = expand_element(json.loads(row["jsonld"]), dict(activectx))
        if not isinstance(expanded, list):
            expanded = [] if expanded is None else [expanded]
        issuer = BlankNodeIssuer()
        node_map = build_node_map(expanded, issuer)
        key = hashlib.md5(f"{row['conv_id']}/{row['turn_idx']}".encode()).hexdigest()

        def relabel(v):
            if hash_labels and isinstance(v, str) and v.startswith("_:"):
                return f"_:h{key}n{v[3:]}"
            return v

        for q in node_map_to_quads(node_map, issuer):
            out.add((relabel(q.graph), relabel(q.subject), q.predicate,
                     q.obj_kind, relabel(q.obj_value) if q.obj_kind == "iri" else q.obj_value,
                     q.obj_type, q.obj_lang))
    return out


def test_pipeline_matches_kernel_differential(spark):
    """The flagship invariant: distributed output == single-process
    kernel output over the same documents, plus the relationally
    derived corpus-level entity facts."""
    import re

    t = transcripts_from_events(spark, SF)
    docs = with_payload(t)
    docs_rows = docs.select("conv_id", "turn_idx", "jsonld").collect()
    expected = kernel_quads_for(docs_rows)
    # entity facts: recompute on the driver from the raw texts
    link = E.resolved_link_map()
    pattern = re.compile(E.surface_pattern())
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    for row in t.select("text").collect():
        for surface in pattern.findall(row["text"]):
            e = link[surface]
            expected.add((None, e["entity_id"], rdf_type, "iri",
                          E.VOCAB + e["type_term"], None, None))
            expected.add((None, e["entity_id"], E.VOCAB + "label", "literal",
                          surface, xsd_string, None))
    actual = {tuple(r) for r in kg_triples(spark, SF).collect()}
    assert actual == expected
    # and global-dedup mode yields the same set
    global_mode = {
        tuple(r)
        for r in __import__("jsonld_spark.operators.kg_pipeline", fromlist=["x"])
        .transcripts_to_triples(t, dedup="global")
        .collect()
    }
    assert global_mode == expected


def test_per_turn_text_equality_invariant(spark):
    """BASELINE.json input_hint: per-turn text equality under stable
    (conv_id, turn_idx) window ordering — the text literal emitted for
    each turn equals the transcript text, keyed by the turn IRI."""
    t = transcripts_from_events(spark, SF)
    tri = kg_triples(spark, SF)
    text_triples = tri.where(F.col("predicate") == E.VOCAB + "text").select(
        F.col("subject"), F.col("obj_value").alias("triple_text")
    )
    turns = t.select(
        F.concat(F.lit(E.KG + "turn/"), "conv_id", F.lit("/"), "turn_idx").alias("subject"),
        "text",
    )
    joined = turns.join(text_triples, "subject", "full")
    mismatches = joined.where(
        F.col("text").isNull()
        | F.col("triple_text").isNull()
        | (F.col("text") != F.col("triple_text"))
    ).count()
    assert mismatches == 0


def test_join_and_map_linking_agree(spark):
    """The broadcast-join linking variant must agree with the literal
    -map variant (same argmax-prior resolution)."""
    t = transcripts_from_events(spark, SF)
    mentions = detect_mentions(t)
    dictionary = spark.createDataFrame(E.dictionary_rows())
    joined = link_mentions_join(mentions, dictionary).select(
        "conv_id", "turn_idx", "rank", "surface", "entity_id"
    )
    from jsonld_spark.operators.kg_queries import mention_links

    mapped = mention_links(spark, SF)
    assert {tuple(r) for r in joined.collect()} == {tuple(r) for r in mapped.collect()}
    # the ambiguous surface must resolve to the high-prior sense
    amb = {r["entity_id"] for r in joined.where(
        F.col("surface") == E.AMBIGUOUS_SURFACE).collect()}
    assert amb == {E.entity_iri(E.AMBIGUOUS_ENTITY)}


def test_two_phase_row_index_is_dense_and_ordered(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("orig")
    )
    indexed = two_phase_row_index(df, ["k"], index_col="idx", num_partitions=7)
    rows = indexed.orderBy("k").collect()
    assert [r["idx"] for r in rows] == list(range(1000))
    assert [r["k"] for r in rows] == sorted(r["k"] for r in rows)


def test_dense_labels_match_single_process_order(spark):
    """Dense mode must reproduce the reference's global _:bN numbering:
    first-visit order over documents sorted by (conv_id, turn_idx)."""
    t = transcripts_from_events(spark, SF)
    small = with_payload(t.where(F.col("conv_id").isin(
        [r["conv_id"] for r in t.select("conv_id").distinct().limit(3).collect()]
    )))
    quads = docs_to_quads(small)
    dense = dense_bnode_labels(quads)

    # single-process expectation: one global issuer over docs in order
    rows = sorted(
        small.select("conv_id", "turn_idx", "jsonld").collect(),
        key=lambda r: (r["conv_id"], r["turn_idx"]),
    )
    activectx = resolve_context(PIPELINE_CONTEXT)
    expected = set()
    issuer = BlankNodeIssuer()
    for row in rows:
        expanded = expand_element(json.loads(row["jsonld"]), dict(activectx))
        if not isinstance(expanded, list):
            expanded = [expanded] if expanded else []
        # namespace each doc's original labels so the shared issuer
        # never merges labels across documents (matches the pipeline's
        # per-document issuers)
        node_map = {"@default": {}}
        from jsonld_spark.kernel.nodemap import generate_node_map

        generate_node_map(node_map, expanded, issuer)
        expected |= {tuple(q) for q in node_map_to_quads(node_map, issuer)}
    actual = {tuple(r) for r in dense.select(
        "graph", "subject", "predicate", "obj_kind", "obj_value", "obj_type", "obj_lang"
    ).collect()}
    assert actual == expected


def test_salt_join_equals_plain_join(spark):
    big = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [(i, f"name{i}") for i in range(7)], ["k", "name"]
    )
    salted = salt_join(big, small, ["k"]).select("k", "v", "name")
    plain = big.join(small, "k").select("k", "v", "name")
    assert salted.count() == 5000
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_salted_linking_matches_broadcast_linking(spark):
    """The dynamic-dictionary salted join is result-identical to the
    broadcast path, and its physical join keys include the salt (the
    plan-shape half of VERDICT.md round-1 item #6)."""
    from jsonld_spark.operators.extract import (
        detect_mentions,
        dictionary_df,
        link_mentions_join,
        link_mentions_join_salted,
    )

    t = transcripts_from_events(spark, SF)
    mentions = detect_mentions(t)
    d = dictionary_df(spark)
    cols = ["conv_id", "turn_idx", "rank", "surface", "entity_id"]
    salted = link_mentions_join_salted(mentions, d).select(*cols)
    broadcast = link_mentions_join(mentions, d).select(*cols)
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in broadcast.collect()}

    plan = salted._jdf.queryExecution().executedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert any("_salt" in ln for ln in join_lines), join_lines


def test_salted_linking_keeps_unmatched_surfaces(spark):
    """ADVICE r2: the salted path must be LEFT like the broadcast path —
    mentions whose surface is absent from the dictionary survive with a
    null entity_id instead of being silently dropped."""
    from jsonld_spark.operators.extract import (
        link_mentions_join,
        link_mentions_join_salted,
    )

    mentions = spark.createDataFrame(
        [("c0", 0, 0, "Known"), ("c0", 1, 0, "Unknown")],
        "conv_id string, turn_idx int, rank int, surface string",
    )
    d = spark.createDataFrame(
        [("E1", "Known", "Thing", 0.9)],
        "entity_id string, surface string, type_term string, prior double",
    )
    cols = ["conv_id", "turn_idx", "rank", "surface", "entity_id"]
    salted = {tuple(r) for r in link_mentions_join_salted(mentions, d).select(*cols).collect()}
    broadcast = {tuple(r) for r in link_mentions_join(mentions, d).select(*cols).collect()}
    assert salted == broadcast
    assert ("c0", 1, 0, "Unknown", None) in salted


def test_lineage_metrics_cover_all_quads(spark):
    t = transcripts_from_events(spark, SF)
    quads = transcripts_to_triples(t, keep_lineage=True)
    lineage = lineage_metrics(quads, n_buckets=8)
    agg = lineage.agg(
        F.sum("n_quads").alias("q"), F.sum("n_turns").alias("t"), F.sum("n_links").alias("l")
    ).first()
    assert agg["q"] == quads.count()
    assert agg["t"] == t.count()
    assert agg["l"] == detect_mentions(t).count()
    hist = lineage.select(F.explode("link_score_histogram")).groupBy("key").agg(
        F.sum("value").alias("n")
    ).collect()
    assert sum(r["n"] for r in hist) == agg["l"]


def test_resume_is_idempotent(tmp_path, spark):
    """Kill after 2 of 4 bucket commits; the resumed run must complete
    exactly the remaining buckets and equal a from-scratch run."""
    from jsonld_spark.streaming.resume import lookup_subject, read_triples, run_resumable

    out = str(tmp_path / "triples")
    table = run_resumable(spark, SF, out, n_buckets=4, fail_after=2)
    assert len(table.completed_buckets()) == 2
    partial = read_triples(spark, out).count()

    table = run_resumable(spark, SF, out, n_buckets=4)  # resume
    assert len(table.completed_buckets()) == 4
    resumed = read_triples(spark, out)

    full = kg_triples(spark, SF)
    assert resumed.count() > partial
    assert {tuple(r) for r in resumed.collect()} == {tuple(r) for r in full.collect()}

    # re-running a completed job is a no-op (same manifest sequence)
    seq = table.latest_manifest()["sequence"]
    run_resumable(spark, SF, out, n_buckets=4)
    assert SnapshotTableSeq(out) == seq

    # an entity fact is committed once per bucket; a point lookup must
    # still return each triple once, exactly as the deduplicated read
    head = E.entity_iri(0)
    looked_up = [tuple(r) for r in lookup_subject(spark, out, head).collect()]
    assert looked_up and len(looked_up) == len(set(looked_up))
    assert set(looked_up) == {
        tuple(r) for r in resumed.where(F.col("subject") == head).collect()
    }


def SnapshotTableSeq(root):
    from jsonld_spark.sources.tables import SnapshotTable

    return SnapshotTable(root).latest_manifest()["sequence"]


def test_subject_bucket_partition_pruning(tmp_path, spark):
    """The materialized triple table is partitioned by subject hash;
    a point lookup must prune to one partition directory and return
    exactly the subject's triples."""
    from jsonld_spark.streaming.resume import lookup_subject, run_resumable

    out = str(tmp_path / "triples")
    run_resumable(spark, SF, out, n_buckets=2, subject_buckets=8)
    subject = E.KG + "turn/conv-00000000/0"
    found = lookup_subject(spark, out, subject, subject_buckets=8)
    rows = found.collect()
    assert rows and all(r["subject"] == subject for r in rows)
    preds = {r["predicate"] for r in rows}
    assert E.VOCAB + "text" in preds and E.VOCAB + "role" in preds
    # the physical plan carries the partition filter (directory pruning)
    plan = found._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "subject_bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_docs_to_quads_error_channel(spark):
    """Malformed documents are quarantined with spec error codes, not
    job failures (the corrupt-record channel, SURVEY.md §2.1)."""
    rows = [
        ("c1", 0, '{"@id": "http://ex.org/1", "http://v/p": "ok"}'),
        ("c1", 1, "{not json"),
        ("c1", 2, '{"@id": 42, "http://v/p": "bad id"}'),
        ("c1", 3, None),
        ("c1", 4, '{"@context": {"a": "b", "b": "a"}, "a": "cycle"}'),
        # raised by the node map, after expansion succeeded
        ("c1", 5, '[{"@id": "http://ex.org/x", "@index": "a", "http://v/p": "1"},'
                  ' {"@id": "http://ex.org/x", "@index": "b"}]'),
        # past the parser's nesting limit (RecursionError, not ValueError)
        ("c1", 6, '{"http://v/p": ' * 2000 + '"deep"' + "}" * 2000),
    ]
    docs = spark.createDataFrame(rows, "conv_id string, turn_idx int, jsonld string")
    out = docs_to_quads(docs, context=None).collect()
    good = [r for r in out if r["_error"] is None]
    errors = {r["turn_idx"]: r["_error"] for r in out if r["_error"] is not None}
    assert len(good) == 1 and good[0]["obj_value"] == "ok"
    assert errors[1] == "loading document failed"
    assert errors[2] == "invalid @id value"
    assert errors[3] == "missing document"
    assert errors[4] == "cyclic IRI mapping"
    assert errors[5] == "conflicting indexes"
    assert errors[6] == "loading document failed"


def test_multimodal_stub_and_fake_decoder(spark):
    from jsonld_spark.operators import multimodal

    assets = multimodal.binary_assets(spark, SF)
    with pytest.raises(NotImplementedError):
        multimodal.decode_features(assets)
    feats = multimodal.decode_features(
        assets, decoder=multimodal.deterministic_fake_decoder
    )
    row = feats.orderBy("doc_id").first()
    assert row["n_bytes"] > 0 and len(row["payload_sha256"]) == 64
    assert 16 <= row["width"] < 528 and 16 <= row["height"] < 528


def test_multimodal_resize_and_frame_sampling(spark):
    import hashlib

    from jsonld_spark.operators import multimodal

    assets = multimodal.binary_assets(spark, SF)
    with pytest.raises(NotImplementedError):
        multimodal.resize_assets(assets)
    resized = multimodal.resize_assets(
        assets, resizer=multimodal.deterministic_fake_resizer
    ).orderBy("doc_id").first()
    assert resized["out_bytes"] <= multimodal.RESIZE_MAX_BYTES
    assert len(resized["out_sha256"]) == 64

    # frame sampling vs a python reference on one payload
    first = assets.orderBy("doc_id").first()
    payload = bytes(first["payload"])
    fb, stride = multimodal.FRAME_BYTES, multimodal.FRAME_STRIDE
    n_frames = (len(payload) + fb - 1) // fb
    expected = {
        (first["doc_id"], i, len(payload[i * fb:(i + 1) * fb]),
         hashlib.sha256(payload[i * fb:(i + 1) * fb]).hexdigest())
        for i in range(0, n_frames, stride)
    }
    got = {
        tuple(r)
        for r in multimodal.sample_frames(assets)
        .where(F.col("doc_id") == first["doc_id"]).collect()
    }
    assert got == expected and len(got) >= 1


def test_multimodal_byte_exact_on_non_ascii_and_null(spark):
    """The OPERATORS are byte-correct on any payload, including
    multi-byte UTF-8 where the VARCHAR-only DuckDB oracle cannot
    follow (documented precondition: the oracle is ASCII-exact); null
    payloads mirror the oracle's NULL semantics instead of crashing."""
    import hashlib

    from jsonld_spark.operators import multimodal

    text = "héllo wörld " * 30  # multi-byte chars cross frame bounds
    assets = spark.createDataFrame(
        [(0, bytearray(text.encode("utf-8"))), (1, None)],
        "doc_id long, payload binary",
    )
    data = text.encode("utf-8")
    fb, stride = multimodal.FRAME_BYTES, multimodal.FRAME_STRIDE
    n_frames = (len(data) + fb - 1) // fb
    expected = {
        (0, i, len(data[i * fb:(i + 1) * fb]),
         hashlib.sha256(data[i * fb:(i + 1) * fb]).hexdigest())
        for i in range(0, n_frames, stride)
    }
    got = {tuple(r) for r in multimodal.sample_frames(assets).collect()}
    assert got == expected  # doc 1 (null) contributes no frames

    resized = {r["doc_id"]: r for r in multimodal.resize_assets(
        assets, resizer=multimodal.deterministic_fake_resizer).collect()}
    ref = data[:multimodal.RESIZE_MAX_BYTES]
    assert resized[0]["out_bytes"] == len(ref)
    assert resized[0]["out_sha256"] == hashlib.sha256(ref).hexdigest()
    assert resized[1]["out_bytes"] is None and resized[1]["out_sha256"] is None

    decoded = {r["doc_id"]: r for r in multimodal.decode_features(
        assets, decoder=multimodal.deterministic_fake_decoder).collect()}
    assert decoded[0]["n_bytes"] == len(data)
    assert decoded[1]["n_bytes"] is None and decoded[1]["width"] is None


def test_characteristic_sets_planted(spark):
    """Neumann-Moerkotte characteristic sets over a planted triple
    table: subjects group by their DISTINCT sorted predicate set,
    n_triples counts every triple (including repeated predicates)."""
    from jsonld_spark.operators import kg_queries

    rows = [
        ("s1", "p", "lit", "a", None, None),
        ("s1", "q", "lit", "b", None, None),
        ("s2", "q", "lit", "c", None, None),
        ("s2", "p", "lit", "d", None, None),
        ("s2", "p", "lit", "e", None, None),  # repeated predicate
        ("s3", "p", "lit", "f", None, None),
    ]
    tri = spark.createDataFrame(
        rows,
        "subject string, predicate string, obj_kind string, "
        "obj_value string, obj_type string, obj_lang string",
    )
    got = {
        r["charset"]: (r["n_subjects"], r["n_triples"])
        for r in kg_queries.characteristic_sets(spark, "", triples=tri).collect()
    }
    assert got == {"p|q": (2, 5), "p": (1, 1)}


def test_stratified_sample_is_deterministic_and_mergeable(spark):
    """Bottom-k hash sampling: same sample under any partitioning, k
    rows per stratum, and bottom-k of a union equals the re-cut of
    per-partition bottom-k's (the partial-aggregate property)."""
    from jsonld_spark.operators import relational

    sf = "/root/testdata/sf0.001"
    a = relational.stratified_sample(spark, sf).collect()
    key = lambda r: (r["source"], r["hash_rank"])
    got = {key(r): r["doc_id"] for r in a}

    # per-stratum size == k (every sf0.001 source has >= k docs)
    from collections import Counter
    per = Counter(r["source"] for r in a)
    assert all(v == relational.STRATIFIED_K for v in per.values()), per

    # independent recompute under a different shuffle layout
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = relational.stratified_sample(spark, sf).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert {key(r): r["doc_id"] for r in b} == got

    # merge property: bottom-k over doc halves, unioned and re-cut,
    # equals the global bottom-k
    import hashlib
    import duckdb
    rows = duckdb.sql(
        f"SELECT source, doc_id FROM '{sf}/documents.parquet'").fetchall()
    half = {}
    for source, doc_id in rows:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        half.setdefault((source, doc_id % 2), []).append((h, doc_id))
    merged = {}
    for (source, _), items in half.items():
        items.sort()
        merged.setdefault(source, []).extend(items[: relational.STRATIFIED_K])
    expect = {}
    for source, items in merged.items():
        items.sort()
        for rank, (_, doc_id) in enumerate(items[: relational.STRATIFIED_K], 1):
            expect[(source, rank)] = doc_id
    assert expect == got


def test_token_budget_mix_greedy_prefix_semantics(spark):
    """Token-budget mixture sampling: the kept set per source is
    exactly the greedy md5-ordered prefix whose running token total
    stays within num/den of the source total — verified against a
    Python recompute over the raw table, plus partitioning
    invariance."""
    import hashlib
    from jsonld_spark.operators import relational

    sf = "/root/testdata/sf0.001"
    raw = spark.read.parquet(f"{sf}/documents.parquet").select(
        "source", "doc_id", "text").collect()

    bysrc: dict[str, list] = {}
    for r in raw:
        n = len(r["text"].lower().split(" "))
        tag = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        bysrc.setdefault(r["source"], []).append((tag, r["doc_id"], n))
    want = {}
    for src, rows in bysrc.items():
        rows.sort()
        total = sum(n for _, _, n in rows)
        cum = 0
        for tag, did, n in rows:
            cum += n
            if cum * relational.MIX_BUDGET_DEN <= total * relational.MIX_BUDGET_NUM:
                want[(src, did)] = (n, cum, total)

    got = {
        (r["source"], r["doc_id"]): (r["n_tokens"], r["cum_tokens"],
                                     r["source_tokens"])
        for r in relational.token_budget_mix(spark, sf).collect()
    }
    assert got == want and len(got) > 0

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        again = {
            (r["source"], r["doc_id"]): (r["n_tokens"], r["cum_tokens"],
                                         r["source_tokens"])
            for r in relational.token_budget_mix(spark, sf).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert again == got
