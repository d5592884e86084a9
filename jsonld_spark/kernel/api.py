"""Facade API mirroring the reference's entry points (JsonLD.php).

All functions take parsed JSON values (dict/list/scalars) or a JSON
string; document loading from URLs is intentionally NOT supported in
the kernel — remote contexts must be pre-fetched on the driver and
passed via ``loader`` (SURVEY.md §2.1: executors never do network I/O).
"""

from __future__ import annotations

import json

from jsonld_spark.kernel.context import initial_context, process_context
from jsonld_spark.kernel.exceptions import JsonLdError
from jsonld_spark.kernel.expand import expand_document
from jsonld_spark.kernel.nodemap import BlankNodeIssuer, build_node_map
from jsonld_spark.kernel.nquads import nquads_serialize
from jsonld_spark.kernel.rdf import Quad, expanded_to_quads
from jsonld_spark.kernel.util import php_ksort_keys


def _parse_input(doc):
    if isinstance(doc, (bytes, bytearray)):
        doc = doc.decode("utf-8")
    if isinstance(doc, str):
        try:
            return json.loads(doc)
        except ValueError as exc:
            raise JsonLdError(
                JsonLdError.LOADING_DOCUMENT_FAILED, f"invalid JSON: {exc}"
            ) from exc
    return doc


def _unwrap_context(ctx):
    if isinstance(ctx, dict) and "@context" in ctx:
        return ctx["@context"]
    return ctx


def expand(doc, base=None, expand_context=None, frame=False, loader=None) -> list:
    """Expand a JSON-LD document; always returns a list of node objects
    (reference: JsonLD.php:134-172 incl. the top-level @graph unwrap)."""
    doc = _parse_input(doc)
    activectx = initial_context(base)
    if expand_context is not None:
        process_context(_unwrap_context(_parse_input(expand_context)), activectx,
                        base_iri=base, loader=loader)
    return expand_document(doc, activectx, frame, loader, base)


def to_rdf_quads(doc, base=None, expand_context=None, produce_generalized_rdf=False,
                 loader=None) -> list[Quad]:
    """Document -> flat quads (reference: JsonLD.php:407-416 + Processor::toRdf)."""
    expanded = expand(doc, base=base, expand_context=expand_context, loader=loader)
    return expanded_to_quads(expanded, generalized_rdf=produce_generalized_rdf)


def to_rdf(doc, base=None, expand_context=None, produce_generalized_rdf=False,
           loader=None) -> str:
    """Document -> N-Quads text."""
    return nquads_serialize(
        to_rdf_quads(doc, base, expand_context, produce_generalized_rdf, loader)
    )


def flatten(doc, context=None, base=None, expand_context=None, loader=None):
    """Flatten to a single sorted array of node objects; named graphs
    nest under @graph of their graph-name node; nodes with only an @id
    are pruned (reference: Processor.php:2088-2119).

    With ``context``, the flattened array is compacted against it and
    the result is ALWAYS wrapped under (a possibly aliased) @graph —
    even for a single node — mirroring JsonLD.php:352-367's
    ``doCompact($flattened, ..., alwaysGraph: true)``.

    NOTE: since the context form landed, the positional order mirrors
    the reference's ``flatten($input, $context, $options)`` — callers
    that previously passed ``base`` as the second positional argument
    must switch to ``base=...`` (all in-repo callers use keywords)."""
    expanded = expand(doc, base=base, expand_context=expand_context, loader=loader)
    node_map = build_node_map(expanded, BlankNodeIssuer())
    default_graph = node_map.pop("@default")
    for graph_name, graph in node_map.items():
        entry = default_graph.get(graph_name)
        if entry is None:
            entry = {"@id": graph_name}
            default_graph[graph_name] = entry
        entry["@graph"] = [
            graph[k] for k in php_ksort_keys(graph) if len(graph[k]) > 1
        ]
    flattened = [
        default_graph[k] for k in php_ksort_keys(default_graph) if len(default_graph[k]) > 1
    ]
    if context is None:
        return flattened
    from jsonld_spark.kernel.compaction import compact_document  # lazy: P2 module

    return compact_document(flattened, _parse_input(context), base=base,
                            always_graph=True, loader=loader)


def compact(doc, context=None, base=None, expand_context=None, compact_arrays=True,
            optimize=False, loader=None):
    """Expand-then-compact (reference: JsonLD.php:224-301).

    ``optimize`` is accepted for option-surface parity (JsonLD.php:617,
    merge :640-642): the reference stores it (Processor.php:163) and
    forwards it to frame sub-processors (:2506) but no code path ever
    branches on it — the spec text merely PERMITS freer compaction.
    Mirroring that, it has no behavioral effect here either.
    """
    del optimize  # documented no-op, exactly like the reference
    from jsonld_spark.kernel.compaction import compact_document  # lazy: P2 module

    expanded = expand(doc, base=base, expand_context=expand_context, loader=loader)
    return compact_document(expanded, _parse_input(context), base=base,
                            compact_arrays=compact_arrays, loader=loader)


def from_rdf(quads, use_native_types=False, use_rdf_type=False) -> list:
    """Quads -> expanded JSON-LD (reference: Processor.php:2274-2466)."""
    from jsonld_spark.kernel.fromrdf import quads_to_jsonld  # lazy: P2 module

    return quads_to_jsonld(quads, use_native_types=use_native_types,
                           use_rdf_type=use_rdf_type)


def normalize(doc, base=None, expand_context=None, loader=None) -> str:
    """Document -> canonical N-Quads via URDNA2015/RDFC-1.0 dataset
    canonicalization (kernel/canon.py) — isomorphic inputs yield
    byte-identical output. Beyond the reference's surface (its labels
    are first-visit counters); implements the public W3C algorithm."""
    from jsonld_spark.kernel.canon import canonical_nquads  # lazy

    return canonical_nquads(
        to_rdf_quads(doc, base=base, expand_context=expand_context, loader=loader)
    )


def frame(doc, frame_doc, base=None, loader=None):
    """Frame a document (reference: JsonLD.php:509-560)."""
    from jsonld_spark.kernel.framing import frame_document  # lazy: P2 module

    return frame_document(doc, frame_doc, base=base, loader=loader)
