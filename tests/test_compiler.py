"""Tier-2: the compiled Catalyst quad expression (jsonld_spark/compiler.py)
against the Python document kernel, its row-level differential oracle.

Every comparison is of multisets of (conv_id, turn_idx, quad) rows with
document-local ``_:bN`` labels, i.e. before canonicalization: equal
labels and equal multiplicities, not only equal sets.
"""

from __future__ import annotations

import os
import random
import struct
from collections import Counter

import pytest
from pyspark.sql import functions as F

from jsonld_spark import compiler
from jsonld_spark.compiler import quads_sql
from jsonld_spark.kernel.rdf import canonical_double
from jsonld_spark.operators.extract import PIPELINE_CONTEXT, with_payload
from jsonld_spark.operators.kg_pipeline import QUAD_COLUMNS, docs_to_quads, payload_quads
from jsonld_spark.sources.transcripts import transcripts_from_events
from tests.test_pipeline import SF as SF_SMALL

SF = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
EX = "http://ex.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
CTX = {
    "@vocab": EX + "v#",
    "ex": EX,
    "ref": {"@type": "@id"},
    "refs": {"@id": EX + "refs", "@type": "@id"},
    "kind": {"@type": "@vocab"},
    "d": {"@type": XSD + "double"},
    "day": {"@id": "ex:day", "@type": XSD + "date"},
    "same": EX + "v#n",
    "typed": {"@id": "ex:v#plain", "@type": XSD + "string"},
}
COLUMNS = ["conv_id", "turn_idx", *QUAD_COLUMNS]


def rows(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*COLUMNS).collect())


def documents(spark, payload: str, n: int = 1):
    """``n`` documents whose ``payload`` is the SQL expression
    ``payload`` (``id`` is the document number)."""
    return spark.range(n).selectExpr(
        "'conv' AS conv_id", "CAST(id AS INT) AS turn_idx", f"{payload} AS payload"
    ).withColumn("jsonld", F.to_json("payload"))


def compiled_equals_kernel(spark, payload: str, context=CTX, n: int = 1) -> Counter:
    """Assert the compiled quads of ``payload`` equal the kernel's and
    return them."""
    docs = documents(spark, payload, n)
    assert quads_sql(docs.schema["payload"].dataType, context) is not None
    kernel = docs_to_quads(docs, context)
    assert kernel.where(F.col("_error").isNotNull()).count() == 0
    compiled = rows(payload_quads(docs, context))
    assert compiled == rows(kernel)
    return compiled


def objects(quads: Counter, predicate: str) -> list:
    return sorted((q[6], q[7]) for q in quads.elements() if q[4] == predicate)


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.01 test tables not available")
def test_compiled_quads_match_kernel_on_every_sf001_turn(spark):
    docs = with_payload(transcripts_from_events(spark, SF)).cache()
    assert quads_sql(docs.schema["payload"].dataType, PIPELINE_CONTEXT) is not None
    kernel = docs_to_quads(docs)
    assert kernel.where(F.col("_error").isNotNull()).count() == 0
    compiled = rows(payload_quads(docs))
    assert compiled == rows(kernel)
    assert len({q[:2] for q in compiled}) == docs.count()
    docs.unpersist()


def test_sql_is_built_once_per_schema_and_context(spark):
    docs = documents(spark, "named_struct('@id', 'http://ex.org/a', 'name', 'x')")
    schema = docs.schema["payload"].dataType
    first = quads_sql(schema, CTX)
    hits = compiler._compile.cache_info().hits
    assert quads_sql(schema, CTX) is first
    assert compiler._compile.cache_info().hits == hits + 1


@pytest.mark.parametrize("context", [
    {"@vocab": EX, "items": {"@container": "@list"}},
    {"@vocab": EX, "items": {"@container": "@set"}},
    {"@vocab": EX, "@language": "en"},
    {"@vocab": EX, "items": {"@id": EX + "items", "@language": "en"}},
    {"@vocab": EX, "@base": "http://base.org/dir/"},
    {"@vocab": EX, "up": {"@reverse": EX + "down"}},
    {"@vocab": EX, "id": "@id"},
    {"@vocab": "_:"},
    {"t": {"@id": EX + "t", "@type": "/rel:type"}},
], ids=["list", "set", "language", "term-language", "base", "reverse", "keyword-alias",
        "blank-vocab", "relative-datatype"])
def test_contexts_outside_the_subset_fall_back_to_the_kernel(spark, context):
    payload = "named_struct('@id', 'rel/s', 'items', array('b', 'a'), 'up', 'http://ex.org/o')"
    docs = documents(spark, payload)
    assert quads_sql(docs.schema["payload"].dataType, context) is None
    out = payload_quads(docs, context)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    expected = docs_to_quads(docs, context).where(F.col("_error").isNull())
    assert rows(out) == rows(expected)


@pytest.mark.parametrize("payload", [
    "named_struct('v', map('k', 'x'))",
    "named_struct('v', CAST(1.5 AS FLOAT))",
    "named_struct('v', CAST(1.5 AS DECIMAL(4, 2)))",
    "named_struct('v', DATE'2024-01-01')",
    "named_struct('@id', 5)",
    "named_struct('@type', array('T', CAST(NULL AS STRING)))",
    "named_struct('@type', 5)",
    "named_struct('@context', 'x')",
    "named_struct('@graph', array(named_struct('a', 'b')))",
    "named_struct('a', 'x', 'a', 'y')",
], ids=["map", "float", "decimal", "date", "non-string-id", "null-type-entry", "non-string-type",
        "context-field", "graph-field", "duplicate-fields"])
def test_payloads_outside_the_subset_fall_back_to_the_kernel(spark, payload):
    docs = documents(spark, payload)
    assert quads_sql(docs.schema["payload"].dataType, CTX) is None
    expected = docs_to_quads(docs, CTX).where(F.col("_error").isNull())
    assert rows(payload_quads(docs, CTX)) == rows(expected)


def test_context_terms_and_coercions(spark):
    quads = compiled_equals_kernel(spark, (
        "named_struct('@id', 'ex:s',"
        " '@type', array('Thing', 'ex:Other', 'http://t.org/T', 'Thing'), 'ref', 'ex:o',"
        " 'refs', array('http://r.org/1', 'ex:2'), 'kind', 'Cat',"
        " 'd', 2.5D, 'day', '2024-01-01', 'plain', 'text')"
    ))
    assert sorted(q[6] for q in quads if q[4].endswith("#type")) == [
        EX + "Other", EX + "v#Thing", "http://t.org/T"]
    assert objects(quads, EX + "refs") == [(EX + "2", None), ("http://r.org/1", None)]
    assert objects(quads, EX + "v#kind") == [(EX + "v#Cat", None)]
    assert objects(quads, EX + "day") == [("2024-01-01", XSD + "date")]
    assert objects(quads, EX + "v#d") == [("2.5E0", XSD + "double")]


def test_field_names_expand_at_plan_time(spark):
    # 'unmapped' has no vocabulary to expand against and is dropped;
    # 'ex:x' is a compact IRI; 'same' and 'n' expand to one property
    quads = compiled_equals_kernel(spark, (
        "named_struct('@id', 'http://ex.org/s', 'ex:x', 'a', 'http://abs.org/p', 'b',"
        " 'n', 1, 'same', 2, 'unmapped', 'c')"
    ), context={"ex": EX, "n": EX + "v#n", "same": EX + "v#n"})
    assert {q[4] for q in quads} == {EX + "x", "http://abs.org/p", EX + "v#n"}
    assert objects(quads, EX + "v#n") == [("1", XSD + "integer"), ("2", XSD + "integer")]


def test_values_nulls_and_arrays(spark):
    compiled_equals_kernel(spark, (
        "named_struct('s', 'x', 'b', true, 'f', false, 'i8', CAST(-3 AS TINYINT),"
        " 'i16', CAST(300 AS SMALLINT), 'i32', 7, 'i64', 9223372036854775807L,"
        " 'dbl', 1.25D, 'nul', CAST(NULL AS STRING), 'arr', array('a', NULL, 'b'),"
        " 'nested', array(array(1, 2), NULL, array(3)), 'empty', CAST(array() AS array<int>),"
        " 'obj', named_struct('k', 'v', 'none', CAST(NULL AS INT)),"
        " 'nullobj', CAST(NULL AS struct<k:string>), 'emptyobj', named_struct())"
    ))


def test_duplicates_merge_as_the_node_map_merges(spark):
    # equal node references merge; an int and a double of equal value do
    # not (strict equality), nor do a string and an xsd:string-typed one
    quads = compiled_equals_kernel(spark, (
        "named_struct('@id', 'http://ex.org/s', 'refs', array('http://r.org/1', 'http://r.org/1',"
        " 'ex:1'), 'n', 1, 'same', 1.0D, 'plain', array('x', 'x'), 'typed', 'x')"
    ))
    assert sum(1 for q in quads.elements() if q[4] == EX + "refs") == 2
    assert objects(quads, EX + "v#n") == [("1", XSD + "integer")] * 2
    assert objects(quads, EX + "v#plain") == [("x", XSD + "string")] * 2


def test_named_nodes_merge_across_positions(spark):
    compiled_equals_kernel(spark, (
        "named_struct('@id', 'http://ex.org/s',"
        " 'a', named_struct('@id', 'http://ex.org/s', 'p', 'x'),"
        " 'b', array("
        " named_struct('@id', 'http://ex.org/o', 'p', 'y', 'q', CAST(NULL AS struct<r:int>)),"
        " named_struct('@id', 'http://ex.org/o', 'p', 'y', 'q', named_struct('r', 1))))"
    ))


def test_blank_node_labels_follow_node_map_order(spark):
    # compact names sort z < zz but their IRIs sort the other way; labels
    # are issued by expanded IRI, arrays in order, depth first
    context = {"@vocab": EX, "z": EX + "p2", "zz": EX + "p1"}
    quads = compiled_equals_kernel(spark, (
        "named_struct('z', named_struct('name', 'second'),"
        " 'zz', array(named_struct('name', 'first', 'kid', named_struct('name', 'kid')),"
        " named_struct('name', 'third', 'kid', CAST(NULL AS struct<name:string>))))"
    ), context=context)
    names = {q[3]: q[6] for q in quads if q[4] == EX + "name"}
    assert names == {"_:b1": "first", "_:b2": "kid", "_:b3": "third", "_:b4": "second"}


def test_properties_that_are_not_absolute_still_label_their_nodes(spark):
    # '/odd:p' keeps its ':' (expansion keeps it) but has no scheme
    # (toRdf drops its quads); its node is still traversed and labeled
    quads = compiled_equals_kernel(spark, (
        "named_struct('odd', named_struct('http://ex.org/name', 'kid'),"
        " 'http://ex.org/after', named_struct('http://ex.org/name', 'second'))"
    ), context={"odd": "/odd:p"})
    assert sorted(q[3:7] for q in quads) == [
        ("_:b0", EX + "after", "iri", "_:b2"),
        ("_:b1", EX + "name", "literal", "kid"),
        ("_:b2", EX + "name", "literal", "second"),
    ]


def test_blank_node_labels_with_runtime_nulls(spark):
    # a NULL @id issues a label, a NULL element issues none; both vary
    # per document, so the offsets are computed per row
    compiled_equals_kernel(spark, (
        "named_struct('@id', IF(id % 2 = 0, 'http://ex.org/top', NULL),"
        " 'xs', array(IF(id % 3 = 0, NULL,"
        " named_struct('@id', IF(id % 2 = 1, 'http://ex.org/x', NULL),"
        " 'ys', array(named_struct('v', id), IF(id = 4, NULL, named_struct('v', -id))))),"
        " named_struct('@id', CAST(NULL AS STRING), 'ys', array(named_struct('v', id)))),"
        " 'w', named_struct('v', 2))"
    ), n=6)


DOUBLES = [2.0 ** -24, 0.1 + 0.2, -0.0, 0.0, 1e24, 5e-324, 2.2250738585072014e-308,
           1.7976931348623157e308, 1.0, -3.0, 2.0 ** 63, -(2.0 ** 63), 2.0 ** 53 + 2, 123456.789,
           -1.5e-7, float("inf"), float("-inf"), float("nan")]


@pytest.mark.parametrize("field", ["plain", "d", "ref", "kind"])
def test_doubles_match_canonical_double(spark, field):
    values = ", ".join(f"double('{v!r}')" for v in DOUBLES)
    quads = compiled_equals_kernel(
        spark, f"named_struct('@id', 'ex:s', '{field}', array({values}))")
    if field == "d":
        assert ("5.960464477539062E-8", XSD + "double") in objects(quads, EX + "v#d")
        assert ("-0.0E0", XSD + "double") in objects(quads, EX + "v#d")
        assert ("NaN", XSD + "double") in objects(quads, EX + "v#d")
    if field == "plain":
        assert ("1", XSD + "integer") in objects(quads, EX + "v#plain")
        assert ("1.0E24", XSD + "double") in objects(quads, EX + "v#plain")


def test_integers_coerced_to_double(spark):
    quads = compiled_equals_kernel(
        spark, "named_struct('d', array(0, 5, -7, 9007199254740993L, 9223372036854775807L))")
    assert ("9.007199254740992E15", XSD + "double") in objects(quads, EX + "v#d")


def test_random_doubles_are_bit_exact(spark):
    # random bit patterns cover every exponent, subnormals included
    rng = random.Random(8)
    values = [struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))[0]
              for _ in range(3000)]
    values = [v for v in values if v == v and abs(v) != float("inf")]
    values += [rng.uniform(-1, 1) * 10 ** rng.randint(-30, 30) for _ in range(1000)]
    chunks = [values[k:k + 100] for k in range(0, len(values), 100)]
    docs = spark.createDataFrame([("c", i, (chunk,)) for i, chunk in enumerate(chunks)],
                                 "conv_id string, turn_idx int, payload struct<d:array<double>>")
    out = payload_quads(docs, CTX).select("obj_value").collect()
    # the node map merges equal values of a document (0.0 == -0.0)
    expected = [canonical_double(v) for chunk in chunks for v in set(chunk)]
    assert sorted(r[0] for r in out) == sorted(expected)


IRI_VALUES = "'@id', 'rel', '/x:y', ':y', 'a?b:c', 'a#b:c', 'mailto:me', 'urn:x:y', 'ex:z'"


def test_runtime_iris_that_are_not_absolute_are_dropped(spark):
    quads = compiled_equals_kernel(spark, (
        "named_struct('@id', 'relative/s', 'name', 'lost', 'ref', 'rel',"
        f" 'refs', array({IRI_VALUES}),"
        " 'child', named_struct('@id', 'http://ex.org/c', 'name', 'kept'))"
    ))
    assert {q[3] for q in quads} == {"http://ex.org/c"}
    quads = compiled_equals_kernel(spark, (
        "named_struct('@id', 'http://ex.org/s',"
        f" 'refs', array({IRI_VALUES}))"
    ))
    assert objects(quads, EX + "refs") == [
        (EX + "z", None), ("mailto:me", None), ("urn:x:y", None)]


@pytest.mark.parametrize("payload", [
    "named_struct('@id', '_:x', 'name', 'a')",
    "named_struct('ref', '_:x')",
    "named_struct('@type', '_:T')",
], ids=["id", "coerced", "type"])
def test_blank_node_identifiers_in_iri_positions_fail_loudly(spark, payload):
    docs = documents(spark, payload)
    with pytest.raises(Exception, match="blank node identifier in an IRI position"):
        payload_quads(docs, CTX).collect()
