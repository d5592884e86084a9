"""S1: batched mention detection, entity linking, and per-turn JSON-LD
payload assembly — entirely JVM-side column expressions (no Python in
the hot path; SURVEY.md §7.0 stage S1).

Mention detection is a single vectorized ``regexp_extract_all`` against
the alternation of all dictionary surfaces. Entity linking resolves
each surface to the argmax-prior entity; because the canonical-entity
dictionary is small and static it is resolved once on the driver and
shipped as a *literal map expression* (cheaper than a broadcast join:
zero shuffle, zero build side). ``link_mentions_join`` provides the
broadcast-join variant for dynamic dictionaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jsonld_spark.compiler import PAYLOAD_COLUMN, sql_literal
from jsonld_spark.kernel.rdf import RDF_TYPE, XSD_STRING
from jsonld_spark.sources import entities as E

TURN_IRI_PREFIX = E.KG + "turn/"
CONV_IRI_PREFIX = E.KG + "conv/"
TOOL_IRI_PREFIX = E.KG + "tool/"

# The static context for per-turn payloads; resolved once on the driver
# and shared with the expansion kernel stage (SURVEY.md §1.3: contexts
# are the schema; executors never process contexts).
PIPELINE_CONTEXT = {
    "@vocab": E.VOCAB,
    "target": {"@type": "@id"},
    "tool": {"@type": "@id"},
    "inConversation": {"@type": "@id"},
    "entities": {"@type": "@id"},
    "score": {"@type": "http://www.w3.org/2001/XMLSchema#double"},
}


def _link_map_sql() -> str:
    """Literal MapType expression: surface -> struct(entity_id, type_term,
    prior)."""
    entries = ", ".join(
        f"{sql_literal(surface)}, named_struct('entity_id', {sql_literal(row['entity_id'])}, "
        f"'type_term', {sql_literal(row['type_term'])}, 'prior', {float(row['prior'])!r}D)"
        for surface, row in sorted(E.resolved_link_map().items())
    )
    return f"map({entries})"


# Static column expressions as SQL text, built once: built as Columns
# call by call, each literal costs one py4j round trip (~160 ms for the
# link map).
_LINK_MAP_SQL = _link_map_sql()


def _link_map_expr():
    return F.expr(_LINK_MAP_SQL)


def detect_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts -> one row per detected mention, in text order.

    Output: (conv_id, turn_idx, rank, surface).
    """
    surfaces = F.regexp_extract_all("text", F.lit(E.surface_pattern()), 1)
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.posexplode(surfaces).alias("rank", "surface"),
        )
    )


def dictionary_df(spark) -> DataFrame:
    """The canonical-entity dictionary as a DataFrame (the dynamic-
    dictionary shape; the static path uses the literal map instead)."""
    rows = [
        (r["entity_id"], r["surface"], r["type_term"], float(r["prior"]))
        for r in E.dictionary_rows()
    ]
    return spark.createDataFrame(
        rows, "entity_id string, surface string, type_term string, prior double"
    )


def resolve_dictionary(dictionary: DataFrame) -> DataFrame:
    """Per-surface argmax-prior resolution (ties -> smallest entity_id),
    the distributed analogue of entities.resolved_link_map()."""
    w = Window.partitionBy("surface").orderBy(F.desc("prior"), F.asc("entity_id"))
    return (
        dictionary.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def link_mentions_join(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Broadcast-join entity linking with argmax-prior resolution.

    The dictionary (entity_id, surface, type_term, prior) is resolved
    per surface (argmax prior, ties -> smallest entity_id) and then
    broadcast — the big mention side never shuffles.
    """
    return mentions.join(F.broadcast(resolve_dictionary(dictionary)), "surface", "left")


def link_mentions_join_salted(mentions: DataFrame, dictionary: DataFrame,
                              buckets: int = 16) -> DataFrame:
    """Entity linking as a SALTED shuffle join (north_rule): for when
    the dictionary outgrows broadcast AND one surface's reducer
    dominates the stage (spill / straggler). The mention side's surface
    key is head-skewed by design (E0 carries ~44% of mentions,
    sources/transcripts.py); salting spreads each surface over
    ``buckets`` reducers and explodes the dictionary side to match.

    Measured honestly (`bench.py --skew`, BENCH/BASELINE.md): at
    sandbox scale the PLAIN join wins ~2x — clustered identical keys
    compress the shuffle better and a 1.4-5.6M-row hot partition
    neither spills nor dominates on a 128 GiB JVM. Salting is the
    escape hatch for the regime where it does (hot partition >>
    executor memory), so it is opt-in, result-identical to the
    broadcast path (tests + driver oracle kg_mention_links_salted)."""
    from jsonld_spark.operators.canonicalize import salt_join

    # left, like the broadcast path: mentions whose surface is absent
    # from the dictionary must survive (salting is left-join-safe —
    # only the big side is salted, the small side is exploded to match)
    return salt_join(mentions, resolve_dictionary(dictionary), ["surface"],
                     buckets=buckets, how="left")


_TURN_IRI_SQL = f"concat({sql_literal(TURN_IRI_PREFIX)}, conv_id, '/', turn_idx)"


def _payload_sql() -> str:
    """The per-turn JSON-LD document as a struct expression. Mentions
    are blank-node objects; ``entities`` holds entity references only
    (coerced @id strings): corpus-level entity facts (rdf:type / label)
    are emitted by entity_triples() as a small relational distinct, so
    the document-kernel output stays unique-by-construction and needs
    NO global dedup shuffle."""
    link = _LINK_MAP_SQL
    surfaces = f"regexp_extract_all(text, {sql_literal(E.surface_pattern())}, 1)"
    mention = (
        "named_struct('@type', 'Mention', 'rank', i, 'surface', s, "
        f"'score', element_at({link}, s).prior, 'target', element_at({link}, s).entity_id)"
    )
    return (
        f"named_struct('@id', {_TURN_IRI_SQL}, '@type', 'Turn', "
        "'atTime', date_format(ts, 'yyyy-MM-dd HH:mm:ss'), "
        f"'inConversation', concat({sql_literal(CONV_IRI_PREFIX)}, conv_id), "
        "'role', role, 'turnIndex', turn_idx, 'text', text, "
        "'tool', CASE WHEN tool IS NOT NULL "
        f"THEN concat({sql_literal(TOOL_IRI_PREFIX)}, tool) END, "
        f"'mentions', transform({surfaces}, (s, i) -> {mention}), "
        f"'entities', transform({surfaces}, s -> element_at({link}, s).entity_id))"
    )


_PAYLOAD_SQL = _payload_sql()


def with_payload(transcripts: DataFrame) -> DataFrame:
    """Attach the turn IRI and the per-turn JSON-LD document, both as
    the struct ``payload`` (under PIPELINE_CONTEXT; compiled to quads by
    jsonld_spark/compiler.py) and as its JSON text ``jsonld`` (the
    document kernel's input).

    Output: transcripts columns + (turn_iri, payload, jsonld).
    """
    return transcripts.withColumns(
        {"turn_iri": F.expr(_TURN_IRI_SQL), PAYLOAD_COLUMN: F.expr(_PAYLOAD_SQL)}
    ).withColumn("jsonld", F.to_json(PAYLOAD_COLUMN))


def _entity_facts_sql() -> str:
    """Both fact rows of a mention's ``surface``, as QUAD_COLUMNS structs."""
    e = f"element_at({_LINK_MAP_SQL}, surface)"
    null_s = "CAST(NULL AS STRING)"
    typed = (f"named_struct('graph', {null_s}, 'subject', {e}.entity_id, "
             f"'predicate', {sql_literal(RDF_TYPE)}, 'obj_kind', 'iri', "
             f"'obj_value', concat({sql_literal(E.VOCAB)}, {e}.type_term), "
             f"'obj_type', {null_s}, 'obj_lang', {null_s})")
    labeled = (f"named_struct('graph', {null_s}, 'subject', {e}.entity_id, "
               f"'predicate', {sql_literal(E.VOCAB + 'label')}, 'obj_kind', 'literal', "
               f"'obj_value', surface, 'obj_type', {sql_literal(XSD_STRING)}, "
               f"'obj_lang', {null_s})")
    return f"inline(array({typed}, {labeled}))"


_ENTITY_FACTS_SQL = _entity_facts_sql()


def entity_triples(transcripts: DataFrame) -> DataFrame:
    """Corpus-level entity facts — (entity, rdf:type, Type) and
    (entity, label, surface) — via mention detection + the broadcast
    link map. Only ``text`` is consumed, so callers can pass a
    window-free text frame (sources/transcripts.transcript_texts) and
    skip the turn-ordering shuffle entirely. Each mention explodes to
    its two fact rows and ONE distinct dedups them: map-side partial
    aggregation collapses the head-entity skew to one row per fact per
    map task, so the single shuffle carries O(distinct facts × tasks)
    rows, not O(mentions)."""
    return (
        transcripts.selectExpr(
            f"explode(regexp_extract_all(text, {sql_literal(E.surface_pattern())}, 1)) AS surface"
        )
        .selectExpr(_ENTITY_FACTS_SQL)
        .dropDuplicates()
    )
