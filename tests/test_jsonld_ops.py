"""Tier-2: distributed JSON-LD document transforms vs the kernel."""

from __future__ import annotations

import json
import os

import pytest

from jsonld_spark.kernel.compaction import compact_element, create_inverse_context
from jsonld_spark.kernel.expand import expand_document
from jsonld_spark.kernel.fromrdf import quads_to_jsonld
from jsonld_spark.kernel.rdf import Quad
from jsonld_spark.operators.extract import PIPELINE_CONTEXT, with_payload
from jsonld_spark.operators.jsonld_ops import (
    compact_documents,
    expand_documents,
    flatten_documents,
    from_rdf_nodes,
)
from jsonld_spark.operators.kg_pipeline import kg_triples, resolve_context
from jsonld_spark.sources.transcripts import transcripts_from_events

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not available"
)


def _docs(spark, n=50):
    return with_payload(transcripts_from_events(spark, SF)).limit(n)


def test_expand_documents_matches_kernel(spark):
    docs = _docs(spark)
    rows = docs.select("conv_id", "turn_idx", "jsonld").collect()
    activectx = resolve_context(PIPELINE_CONTEXT)
    expected = {
        (r["conv_id"], r["turn_idx"]): json.dumps(
            expand_document(json.loads(r["jsonld"]), activectx), sort_keys=True
        )
        for r in rows
    }
    actual = {
        (r["conv_id"], r["turn_idx"]): r["doc"]
        for r in expand_documents(docs).collect()
    }
    assert actual == expected


def test_compact_documents_roundtrip(spark):
    docs = _docs(spark)
    out = compact_documents(docs).collect()
    assert len(out) == docs.count()
    activectx = resolve_context(PIPELINE_CONTEXT)
    inversectx = create_inverse_context(dict(activectx))
    originals = {
        (r["conv_id"], r["turn_idx"]): r["jsonld"]
        for r in docs.select("conv_id", "turn_idx", "jsonld").collect()
    }
    for row in out:
        compacted = json.loads(row["doc"])
        expected = compact_element(
            expand_document(json.loads(originals[(row["conv_id"], row["turn_idx"])]), activectx),
            activectx, inversectx, None, True,
        )
        assert compacted == expected
        # compacted docs keep the term-level shape of the original payload
        assert compacted["@type"] == "Turn"
        assert "mentions" in compacted


def test_flatten_documents_shape(spark):
    docs = _docs(spark)
    out = flatten_documents(docs).collect()
    flat = json.loads(out[0]["doc"])
    ids = [n["@id"] for n in flat]
    assert ids == sorted(ids)  # flatten sorts subjects
    turn_nodes = [n for n in flat if "/turn/" in n["@id"]]
    assert len(turn_nodes) == 1


def test_document_transforms_quarantine_bad_documents(spark):
    """A document the kernel rejects gets doc = NULL, like a missing
    one, instead of failing the job; the output shape is unchanged."""
    rows = [
        ("c", 0, '{"@id": "http://ex.org/1", "http://v/p": "ok"}'),
        ("c", 1, "{not json"),
        ("c", 2, '{"@id": 42, "http://v/p": "bad id"}'),
        ("c", 3, None),
    ]
    docs = spark.createDataFrame(rows, "conv_id string, turn_idx int, jsonld string")
    for transform in (expand_documents, compact_documents, flatten_documents):
        out = transform(docs, n_rows=len(rows))
        assert out.columns == ["conv_id", "turn_idx", "doc"]
        by_turn = {r["turn_idx"]: r["doc"] for r in out.collect()}
        assert sorted(by_turn) == [0, 1, 2, 3] and by_turn[0] is not None
        assert [by_turn[i] for i in (1, 2, 3)] == [None, None, None], transform.__name__


def _kernel_expected(rows, **kw):
    """Kernel golden under the distributed operator's canonical quad
    order (a DataFrame has no input order, so the operator sorts
    per-node; the kernel sees the same order via a global sort)."""
    quads = [
        Quad(None, r["subject"], r["predicate"], r["obj_kind"], r["obj_value"],
             r["obj_type"], r["obj_lang"])
        for r in sorted(
            rows,
            key=lambda r: (r["subject"], r["predicate"], r["obj_kind"],
                           r["obj_value"], r["obj_type"] or "", r["obj_lang"] or ""),
        )
    ]
    return {
        n["@id"]: json.dumps(n, sort_keys=True)
        for n in quads_to_jsonld(quads, **kw)
    }


def test_from_rdf_nodes_matches_kernel(spark):
    """One big default graph (every pipeline quad): the exact scenario
    that collapsed onto a single task in the round-1 whole-graph
    grouping; output must still match the kernel."""
    tri = kg_triples(spark, SF)
    nodes = from_rdf_nodes(tri, use_native_types=True).collect()
    expected = _kernel_expected(tri.collect(), use_native_types=True)
    actual = {r["subject"]: r["node"] for r in nodes}
    assert actual == expected


TRIPLE_SCHEMA = ("graph string, subject string, predicate string, obj_kind string, "
                 "obj_value string, obj_type string, obj_lang string")
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_from_rdf_nodes_list_chains(spark):
    """rdf list machinery: a well-formed chain, a malformed chain
    (extra property on a node), a direct rdf:nil reference, and a
    named-graph quad — all must match the kernel walk."""
    e = "http://e.com/"
    rows = [
        # well-formed 2-element chain
        (None, e + "a", e + "p", "iri", "_:l0", None, None),
        (None, "_:l0", RDF_NS + "first", "literal", "x", None, None),
        (None, "_:l0", RDF_NS + "rest", "iri", "_:l1", None, None),
        (None, "_:l1", RDF_NS + "first", "literal", "y", None, None),
        (None, "_:l1", RDF_NS + "rest", "iri", RDF_NS + "nil", None, None),
        # malformed chain: _:m0 carries an extra property
        (None, e + "b", e + "p", "iri", "_:m0", None, None),
        (None, "_:m0", RDF_NS + "first", "literal", "z", None, None),
        (None, "_:m0", RDF_NS + "rest", "iri", RDF_NS + "nil", None, None),
        (None, "_:m0", e + "extra", "literal", "w", None, None),
        # direct rdf:nil reference (empty list)
        (None, e + "c", e + "q", "iri", RDF_NS + "nil", None, None),
        # plain node + named graph
        (None, e + "d", e + "r", "literal", "v", None, None),
        (e + "g", e + "a", e + "p", "literal", "in-graph", None, None),
    ]
    sdf = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    out = from_rdf_nodes(sdf).collect()

    # kernel golden per graph (the distributed shape is flat rows per graph)
    by_graph: dict = {}
    for r in sdf.collect():
        by_graph.setdefault(r["graph"], []).append(r)
    expected = {}
    for gname, grows in by_graph.items():
        stripped = [
            {"graph": None, "subject": r["subject"], "predicate": r["predicate"],
             "obj_kind": r["obj_kind"], "obj_value": r["obj_value"],
             "obj_type": r["obj_type"], "obj_lang": r["obj_lang"]}
            for r in grows
        ]
        for subj, node in _kernel_expected(stripped).items():
            expected[(gname, subj)] = node
    actual = {(r["graph"], r["subject"]): r["node"] for r in out}
    assert actual == expected
    # the consumed chain nodes are gone; the malformed one survives
    assert (None, "_:l0") not in actual and (None, "_:l1") not in actual
    assert (None, "_:m0") in actual
    assert json.loads(actual[(None, e + "c")])[e + "q"] == [{"@list": []}]


def test_from_rdf_nodes_iri_chain_head(spark):
    """ADVICE r2: the kernel walk consumes an IRI-identified chain node
    it STARTS from (the bnode check in Processor.php:2396-2466 only
    fires after advancing), so the distributed candidate set must
    include IRI subjects carrying rdf:first/rdf:rest."""
    e = "http://e.com/"
    rows = [
        (None, e + "s", e + "p", "iri", e + "n", None, None),
        (None, e + "n", RDF_NS + "first", "literal", "a", None, None),
        (None, e + "n", RDF_NS + "rest", "iri", RDF_NS + "nil", None, None),
    ]
    sdf = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    actual = {r["subject"]: r["node"] for r in from_rdf_nodes(sdf).collect()}
    assert actual == _kernel_expected(sdf.collect())
    # <s>'s value became the @list; the IRI chain node <n> was consumed
    assert json.loads(actual[e + "s"])[e + "p"] == [{"@list": [{"@value": "a"}]}]
    assert e + "n" not in actual


def test_from_rdf_nodes_many_chains_one_graph(spark):
    """VERDICT r2 #2 'done' criterion: one default graph carrying many
    list chains must NOT land on a single resolver task — the resolver
    groups by (gkey, chain_id), and the chain components are exactly
    one per chain. Output still matches the kernel walk."""
    from jsonld_spark.operators.jsonld_ops import _chain_ids

    e = "http://e.com/"
    rows = []
    n_chains = 300
    for i in range(n_chains):  # 3-element chain per head node
        rows += [
            (None, f"{e}head{i}", e + "p", "iri", f"_:c{i}x0", None, None),
            (None, f"_:c{i}x0", RDF_NS + "first", "literal", f"a{i}", None, None),
            (None, f"_:c{i}x0", RDF_NS + "rest", "iri", f"_:c{i}x1", None, None),
            (None, f"_:c{i}x1", RDF_NS + "first", "literal", f"b{i}", None, None),
            (None, f"_:c{i}x1", RDF_NS + "rest", "iri", f"_:c{i}x2", None, None),
            (None, f"_:c{i}x2", RDF_NS + "first", "literal", f"c{i}", None, None),
            (None, f"_:c{i}x2", RDF_NS + "rest", "iri", RDF_NS + "nil", None, None),
        ]
    sdf = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    out = from_rdf_nodes(sdf)
    # the resolver's pandas group keys include the chain id
    plan = out._jdf.queryExecution().executedPlan().toString()
    pandas_lines = [ln for ln in plan.splitlines() if "FlatMapGroupsInPandas" in ln]
    assert pandas_lines and all("chain_id" in ln for ln in pandas_lines), pandas_lines
    # one component per chain: no group holds more than one chain
    q = sdf.selectExpr(
        "subject", "predicate", "obj_kind", "obj_value", "obj_type", "obj_lang",
        "'@default' AS gkey",
    )
    import pyspark.sql.functions as F
    cand = q.where(
        F.col("predicate").isin(RDF_NS + "first", RDF_NS + "rest")
    ).select("gkey", "subject").distinct()
    comp = _chain_ids(q, cand)
    assert comp.select("label").distinct().count() == n_chains
    # and the output is still the kernel's
    actual = {r["subject"]: r["node"] for r in out.collect()}
    assert actual == _kernel_expected(sdf.collect())
    assert json.loads(actual[e + "head7"])[e + "p"] == [
        {"@list": [{"@value": "a7"}, {"@value": "b7"}, {"@value": "c7"}]}
    ]


def test_from_rdf_nodes_randomized_vs_kernel(spark):
    """Randomized differential test: random quad soups mixing
    well-formed chains, malformed chains (extra props / shared tails /
    IRI heads), nested lists, direct rdf:nil refs, named graphs and
    plain nodes — the distributed (gkey, chain_id) path must equal the
    kernel walk on every one. Fixed seeds; one spark round-trip per
    corpus."""
    import random

    e = "http://e.com/"
    for seed in range(6):
        rng = random.Random(seed)
        rows = []
        bn = [f"_:n{seed}x{i}" for i in range(30)]
        for c in range(8):  # chains of length 1-4, varied head/graph
            cg = rng.choice([None, None, e + "g1"])  # chains in named graphs too
            head = f"{e}h{c}" if rng.random() < 0.3 else f"_:h{seed}c{c}"
            nodes = [f"_:c{seed}q{c}n{k}" for k in range(rng.randint(1, 4))]
            if rng.random() < 0.3:
                nodes[rng.randrange(len(nodes))] = f"{e}iri{c}"  # IRI chain node
            rows.append((cg, head, e + "p", "iri", nodes[0], None, None))
            for k, node in enumerate(nodes):
                rows.append((cg, node, RDF_NS + "first", "literal",
                             f"v{c}.{k}", None, None))
                nxt = nodes[k + 1] if k + 1 < len(nodes) else RDF_NS + "nil"
                rows.append((cg, node, RDF_NS + "rest", "iri", nxt, None, None))
            if rng.random() < 0.3:  # malformed: extra property on a node
                rows.append((cg, rng.choice(nodes), e + "extra", "literal",
                             "x", None, None))
            if rng.random() < 0.2:  # malformed: second usage of a node
                rows.append((cg, f"{e}again{c}", e + "p2", "iri",
                             rng.choice(nodes), None, None))
        for _ in range(15):  # plain-node noise + direct nil refs
            g = rng.choice([None, e + "g1", e + "g2"])
            s = rng.choice(bn + [f"{e}s{i}" for i in range(10)])
            if rng.random() < 0.15:
                rows.append((g, s, e + "q", "iri", RDF_NS + "nil", None, None))
            else:
                rows.append((g, s, e + "q", "literal", f"w{rng.randrange(99)}",
                             None, None))
        rows = list(dict.fromkeys(rows))
        sdf = spark.createDataFrame(rows, TRIPLE_SCHEMA)
        actual = {(r["graph"], r["subject"]): r["node"]
                  for r in from_rdf_nodes(sdf).collect()}
        expected = {}
        by_graph: dict = {}
        for r in rows:
            by_graph.setdefault(r[0], []).append(
                {"graph": None, "subject": r[1], "predicate": r[2],
                 "obj_kind": r[3], "obj_value": r[4], "obj_type": r[5],
                 "obj_lang": r[6]})
        for gname, grows in by_graph.items():
            for subj, node in _kernel_expected(grows).items():
                expected[(gname, subj)] = node
        assert actual == expected, f"seed {seed} diverged"


def test_from_rdf_nodes_plan_has_no_whole_graph_group(spark):
    """VERDICT.md #3 'done' criterion: the full quad stream is grouped
    by (graph, subject), never by graph alone. On this LIST-FREE corpus
    the resolver stage short-circuits away entirely (empty-subset fast
    path), so the plan has NO pandas group stage at all; list-carrying
    corpora get the (gkey, chain_id)-grouped resolver instead
    (test_from_rdf_nodes_many_chains_one_graph)."""
    tri = kg_triples(spark, SF)
    plan = from_rdf_nodes(tri)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 0  # resolver skipped
    # the node assembly aggregates on both keys
    assert "collect_list" in plan
    agg_lines = [ln for ln in plan.splitlines()
                 if "collect_list" in ln and "Aggregate" in ln]
    assert agg_lines and all(
        "gkey" in ln and "subject" in ln for ln in agg_lines
    ), agg_lines
