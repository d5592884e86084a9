"""S3-S7: expansion kernel stage, blank-node canonicalization, and the
end-to-end transcripts -> triples pipeline (SURVEY.md §7.0).

The flagship runs with no Python stage: its per-turn payload is a
struct under the static ``PIPELINE_CONTEXT``, so expansion, node map
and toRdf are compiled to one Catalyst expression
(jsonld_spark/compiler.py; ``payload_quads``). The Python kernels run
in one Arrow-batched ``mapInArrow`` stage (``_kernel_stage``) for what
the compiler does not cover — string documents, other contexts, the
``jsonld_ops`` transforms, ``kg_parse_errors`` — and are the compiled
path's differential oracle. Everything around them (extraction,
canonicalization, dedup, serialization) is native column expressions
so Catalyst/AQE plan the shuffles.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_spark.compiler import PAYLOAD_COLUMN, quads_sql
from jsonld_spark.kernel.context import initial_context, process_context
from jsonld_spark.kernel.expand import expand_document
from jsonld_spark.kernel.nodemap import BlankNodeIssuer, build_node_map
from jsonld_spark.kernel.rdf import XSD_STRING, node_map_to_quads
from jsonld_spark.operators.extract import PIPELINE_CONTEXT, entity_triples, with_payload
from jsonld_spark.sources.transcripts import transcripts_from_events

QUAD_COLUMNS = ["graph", "subject", "predicate", "obj_kind", "obj_value", "obj_type", "obj_lang"]


def resolve_context(context: dict | None, base: str | None = None) -> dict:
    """Resolve a JSON-LD context once on the driver (S2). The resolved
    active context is a small dict, closure-captured into the kernel
    stage (Spark ships it once per task via the serialized closure,
    equivalent to an explicit broadcast at this size)."""
    activectx = initial_context(base)
    if context is not None:
        process_context(context, activectx, base_iri=base)
    return activectx


def _kernel_stage(
    docs: DataFrame,
    activectx: dict,
    per_doc,
    columns: list[str],
    base: str | None = None,
) -> DataFrame:
    """The one per-document kernel stage: parse -> expand -> ``per_doc``
    over (conv_id, turn_idx, jsonld), as a single Arrow-batched
    ``mapInArrow``.

    ``per_doc`` maps an expanded document to a list of output tuples,
    one value per name in ``columns`` (all strings). Output is (conv_id,
    turn_idx, *columns, _error). A document that cannot be processed
    yields one row of nulls with ``_error`` set instead of failing the
    job — the corrupt-record channel for the reference's error taxonomy
    (Processor.php:180-228): "missing document" for a null payload,
    "loading document failed" when parsing fails (invalid JSON) or the
    document nests past the parser's or the kernels' recursion depth
    (like the reference's ``json_decode`` depth limit), and the spec
    code of any ``JsonLdError`` raised by expansion or ``per_doc``. Any
    other exception fails the job.

    The stage runs on ``docs``' partitioning; callers size it with
    ``kernel_partitioned``.
    """
    from jsonld_spark.plans.session import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    names = ["conv_id", "turn_idx", *columns, "_error"]

    def emit(batches):
        import pyarrow as pa

        from jsonld_spark.kernel.context import ActiveContext
        from jsonld_spark.kernel.exceptions import JsonLdError

        # re-wrap on the worker: the definition memo does not survive
        # pickling, and a warm memo is a ~1.3x kernel speedup
        ctx = ActiveContext(activectx)
        quarantined = [(None,) * len(columns)]

        def run(doc):
            if doc is None:
                return quarantined, "missing document"
            try:
                parsed = json.loads(doc)
            except (ValueError, RecursionError):
                return quarantined, JsonLdError.LOADING_DOCUMENT_FAILED
            try:
                return per_doc(expand_document(parsed, ctx, base_iri=base)), None
            except JsonLdError as exc:
                return quarantined, exc.code
            except RecursionError:
                # nested deeper than the recursive kernels reach; the
                # reference's json_decode (depth 512) cannot load it
                return quarantined, JsonLdError.LOADING_DOCUMENT_FAILED

        # columnar output buffers: building pyarrow arrays directly is
        # ~1.4x cheaper than pd.DataFrame(list-of-tuples) + pandas->Arrow
        for batch in batches:
            conv_ids, turn_idxs, errors = [], [], []
            outs = [[] for _ in columns]
            for conv_id, turn_idx, doc in zip(*(c.to_pylist() for c in batch.columns)):
                rows, error = run(doc)
                conv_ids += [conv_id] * len(rows)
                turn_idxs += [turn_idx] * len(rows)
                errors += [error] * len(rows)
                for out, values in zip(outs, zip(*rows)):
                    out += values
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(conv_ids, pa.string()),
                    pa.array(turn_idxs, pa.int32()),
                    *[pa.array(c, pa.string()) for c in outs],
                    pa.array(errors, pa.string()),
                ],
                names=names,
            )

    # Column pruning: ship only the three needed columns into Arrow.
    pruned = docs.select("conv_id", "turn_idx", "jsonld")
    schema = ", ".join(["conv_id string", "turn_idx int", *(f"{c} string" for c in columns),
                        "_error string"])
    return pruned.mapInArrow(emit, schema)


def docs_to_quads(
    docs: DataFrame,
    context: dict | None = PIPELINE_CONTEXT,
    parallelism: int | None = None,
) -> DataFrame:
    """S3+S4: per-document expand -> node map -> quads, exploded 1->N.

    Input needs (conv_id, turn_idx, jsonld); output one row per quad
    with lineage columns (conv_id, turn_idx), document-local ``_:bN``
    blank-node labels (deterministic per document) and a null
    ``_error``, plus one ``_error`` row per quarantined document (see
    ``_kernel_stage``). ``parallelism``: None sizes the stage with
    ``kernel_partitioned``, 0 means the caller already partitioned.
    """

    def quads(expanded):
        issuer = BlankNodeIssuer()
        return node_map_to_quads(build_node_map(expanded, issuer), issuer)

    if parallelism is None:
        docs = kernel_partitioned(docs)
    return _kernel_stage(docs, resolve_context(context), quads, QUAD_COLUMNS)


def _relabel_sql(col: str) -> str:
    """'_:bN' -> '_:h<md5(conv/turn)>nN' — content-addressed, collision
    free (128-bit key), requiring NO shuffle and no coordination: the
    scale-correct analogue of URDNA2015-style deterministic relabeling.
    """
    return (f"CASE WHEN startswith({col}, '_:') THEN concat('_:h', "
            f"md5(concat_ws('/', conv_id, turn_idx)), 'n', substring({col}, 4)) ELSE {col} END")


_RELABELED = {
    "subject": _relabel_sql("subject"),
    "graph": _relabel_sql("graph"),
    "obj_value": f"CASE WHEN obj_kind = 'iri' THEN {_relabel_sql('obj_value')} ELSE obj_value END",
}


def canonicalize_bnodes(quads: DataFrame) -> DataFrame:
    """S6 (hash mode): relabel document-local blank nodes to globally
    unique, input-order-independent labels derived from the stable
    (conv_id, turn_idx) key. Pure projection — zero shuffle; compare
    ``dense_bnode_labels`` in operators/canonicalize.py for the
    reference-parity ``_:bN`` dense numbering."""
    return quads.withColumns({col: F.expr(sql) for col, sql in _RELABELED.items()})


TARGET_ROWS_PER_TASK = 16_000


def kernel_partitions(spark: SparkSession, n_rows: int) -> int:
    """Partition count for the CPU-bound payload+kernel stages: scale
    with DATA (one task per ~TARGET_ROWS_PER_TASK turns) with a
    2x-cores floor for small inputs. Measured at 32 cores: at 100k
    turns the floor wins (per-task Python/Arrow setup dominates —
    2.65 s at 64 parts vs 4.1 s at 192); at 3.2M turns the data term
    wins decisively (47.7 s at 192 parts vs 87.8 s at 64 — balance and
    wave-granularity beat task overhead once tasks are seconds long).
    This is also the 100 TB story: partitions come from volume, never
    from a cores-only constant."""
    import math

    floor = 2 * spark.sparkContext.defaultParallelism
    return max(floor, math.ceil(n_rows / TARGET_ROWS_PER_TASK))


def kernel_partitioned(df: DataFrame) -> DataFrame:
    """``df`` repartitioned for a per-row CPU stage (the payload and
    its quad stage, the kernel stage). AQE sizes shuffle partitions by
    BYTES (64 MiB advisory), but these stages cost CPU per row, so a
    byte-small input would coalesce to a handful of tasks and stop
    scaling with cores (0.29 scaling efficiency 8->32 cores before;
    near-linear after; BENCH/BASELINE.md). The row count is one job
    run when the DataFrame is built; Catalyst prunes it to the columns
    it needs, so over a derived table (transcripts, payloads) it is
    the same no-column parquet scan as a count of the source table."""
    return df.repartition(kernel_partitions(df.sparkSession, df.count()))


def payload_quads(docs: DataFrame, context: dict | None = PIPELINE_CONTEXT) -> DataFrame:
    """(conv_id, turn_idx, *QUAD_COLUMNS) of ``with_payload`` documents
    under ``context``, with document-local ``_:bN`` labels. A (payload
    schema, context) pair inside the compiled subset
    (jsonld_spark/compiler.py) explodes its Catalyst expression, with no
    Python stage; anything else runs the kernel stage over ``jsonld``
    and drops quarantined documents."""
    sql = quads_sql(docs.schema[PAYLOAD_COLUMN].dataType, context)
    if sql is None:
        quads = docs_to_quads(docs, context, parallelism=0)
        return quads.where(F.col("_error").isNull()).drop("_error")
    null_s = F.lit(None).cast("string")
    return docs.select("conv_id", "turn_idx", F.explode(F.expr(sql)).alias("q")).select(
        "conv_id", "turn_idx", null_s.alias("graph"), "q.subject", "q.predicate",
        "q.obj_kind", "q.obj_value", "q.obj_type", null_s.alias("obj_lang"),
    )


def _quads_of(parted: DataFrame) -> DataFrame:
    return canonicalize_bnodes(payload_quads(with_payload(parted)))


def canonical_quads(transcripts: DataFrame) -> DataFrame:
    """S1->S6: transcripts -> the per-document quad stream with
    globally unique blank-node labels, keeping the lineage columns
    (conv_id, turn_idx). Unique by construction: every subject embeds
    the turn key and values are merged within a document."""
    return _quads_of(kernel_partitioned(transcripts))


def transcripts_to_triples(transcripts: DataFrame) -> DataFrame:
    """Full S1->S7: transcripts -> the canonical triple set.

    The quad stream (``canonical_quads``) flows to the sink with NO
    global dropDuplicates; the only cross-turn repeats are the
    corpus-level entity facts, emitted relationally by
    ``entity_triples`` as a small distinct. Entity facts read the raw
    ``transcripts``, not the repartitioned stream: they need only
    ``text``, so that branch has no repartition and, over
    ``transcripts_from_events``, no row_number window.
    """
    quads = _quads_of(kernel_partitioned(transcripts)).select(*QUAD_COLUMNS)
    return quads.unionByName(entity_triples(transcripts))


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query: events-derived transcripts -> triple set.
    Building it runs one pruned row count (``kernel_partitioned``)."""
    return transcripts_to_triples(transcripts_from_events(spark, sf_dir))


def nquads_lines(triples: DataFrame) -> DataFrame:
    """Serialize triples to N-Quads lines as pure column expressions
    (reference: NQuads.php:25-66 — bare ``_:`` bnodes, ``\\n``/``"``
    escaping, ^^type except implied xsd:string, @lang, optional graph).
    """
    def term(col):
        c = F.col(col)
        return F.when(c.startswith("_:"), c).otherwise(F.concat(F.lit("<"), c, F.lit(">")))

    escaped = F.regexp_replace(
        F.regexp_replace(F.col("obj_value"), F.lit("\n"), F.lit("\\\\n")),
        F.lit('"'),
        F.lit('\\\\"'),
    )
    obj = F.when(F.col("obj_kind") == "iri", term("obj_value")).otherwise(
        F.concat(
            F.lit('"'),
            escaped,
            F.lit('"'),
            F.when(F.col("obj_lang").isNotNull(), F.concat(F.lit("@"), F.col("obj_lang")))
            .when(
                F.col("obj_type").isNotNull() & (F.col("obj_type") != XSD_STRING),
                F.concat(F.lit("^^<"), F.col("obj_type"), F.lit(">")),
            )
            .otherwise(F.lit("")),
        )
    )
    line = F.concat(
        term("subject"),
        F.lit(" "),
        term("predicate"),
        F.lit(" "),
        obj,
        F.lit(" "),
        F.when(F.col("graph").isNotNull(), F.concat(term("graph"), F.lit(" "))).otherwise(
            F.lit("")
        ),
        F.lit("."),
    )
    return triples.select(line.alias("line"))
