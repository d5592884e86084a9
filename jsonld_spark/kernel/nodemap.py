"""Node-map generation: the flatten/explode kernel.

Recursive descent over an *expanded* JSON-LD document that assigns
deterministic blank-node ids, splits nested node objects into a flat
``graph -> subject -> property -> [values]`` map with ``{"@id"}``
back-references, hoists named graphs, redistributes ``@reverse``
edges to the pointing side, and collects ``@list`` arrays.

Result-identical to the reference (Processor.php:1896-2055
``generateNodeMap``, Processor.php:2069-2079 ``getBlankNodeId``),
including blank-node label assignment order, so that single-process
output is byte-identical. In the Spark pipeline this runs per document
inside the ``mapInArrow`` kernel stage with a document-local issuer;
labels are then globally renumbered by a stable window (SURVEY.md §7.1
step 3).
"""

from __future__ import annotations

from jsonld_spark.kernel.context import DEFAULT_GRAPH, MERGED_GRAPH
from jsonld_spark.kernel.exceptions import JsonLdError
from jsonld_spark.kernel.util import merge_into_property, php_ksort_keys, set_property


class BlankNodeIssuer:
    """Memoized ``_:b<counter>`` relabeling; first-visit order of the
    sorted traversal defines the label sequence."""

    __slots__ = ("counter", "mapping")

    def __init__(self) -> None:
        self.counter = 0
        self.mapping: dict = {}

    def issue(self, identifier: str | None = None) -> str:
        if identifier is not None and identifier in self.mapping:
            return self.mapping[identifier]
        label = f"_:b{self.counter}"
        self.counter += 1
        self.mapping[identifier] = label
        return label


def generate_node_map(
    node_map: dict,
    element,
    issuer: BlankNodeIssuer,
    activegraph: str = DEFAULT_GRAPH,
    activeid=None,
    activeprty: str | None = None,
    list_obj: dict | None = None,
) -> None:
    """Fold ``element`` (expanded form) into ``node_map``.

    ``node_map`` maps graph-name -> subject -> node dict. The caller
    must pre-create ``node_map[DEFAULT_GRAPH]``.
    """
    if isinstance(element, list):
        for item in element:
            generate_node_map(node_map, item, issuer, activegraph, activeid, activeprty, list_obj)
        return

    # Relabel blank nodes appearing in @type (happens before everything
    # else so the label order matches the reference)
    if "@type" in element:
        types = element["@type"]
        if isinstance(types, list):
            new_types = [
                issuer.issue(t) if isinstance(t, str) and t.startswith("_:") else t
                for t in types
            ]
        elif isinstance(types, str) and types.startswith("_:"):
            new_types = issuer.issue(types)
        else:
            new_types = types
        if new_types is not types:
            element = dict(element)
            element["@type"] = new_types

    if "@value" in element:
        # value objects attach directly to the active node / list
        if list_obj is None:
            merge_into_property(
                node_map[activegraph][activeid], activeprty, element, True, True
            )
        else:
            merge_into_property(list_obj, "@list", element, True, False)
    elif "@list" in element:
        result = {"@list": []}
        generate_node_map(node_map, element["@list"], issuer, activegraph, activeid, activeprty, result)
        result.setdefault("@list", [])
        merge_into_property(node_map[activegraph][activeid], activeprty, result, True, False)
    else:
        # node objects
        if "@id" not in element:
            node_id = issuer.issue()
        elif isinstance(element["@id"], str) and element["@id"].startswith("_:"):
            node_id = issuer.issue(element["@id"])
        else:
            node_id = element["@id"]

        graph = node_map.setdefault(activegraph, {})
        node = graph.get(node_id)
        if node is None:
            node = {"@id": node_id}
            graph[node_id] = node

        # Reference back to the active property
        if isinstance(activeid, dict):
            # @reverse redistribution: attach the parent reference on
            # the pointing side
            merge_into_property(node, activeprty, activeid, True, True)
        elif activeprty is not None:
            reference = {"@id": node_id}
            if list_obj is None:
                merge_into_property(
                    node_map[activegraph][activeid], activeprty, reference, True, True
                )
            else:
                merge_into_property(list_obj, "@list", reference, True, False)

        if "@type" in element:
            merge_into_property(node, "@type", element["@type"], True, True)

        if "@index" in element:
            set_property(node, "@index", element["@index"], JsonLdError.CONFLICTING_INDEXES)

        if "@reverse" in element:
            reference = {"@id": node_id}
            for prop, value in element["@reverse"].items():
                for val in value if isinstance(value, list) else [value]:
                    generate_node_map(
                        node_map, val, issuer, activegraph, dict(reference), prop
                    )

        if "@graph" in element:
            # this node names a graph: hoist its content
            if activegraph != MERGED_GRAPH:
                node_map.setdefault(node_id, {})
                generate_node_map(node_map, element["@graph"], issuer, node_id)
            else:
                generate_node_map(node_map, element["@graph"], issuer, MERGED_GRAPH)

        # All remaining properties, in sorted order (determinism anchor)
        remaining = {
            k: v
            for k, v in element.items()
            if k not in ("@id", "@type", "@index", "@reverse", "@graph", "@value", "@list")
        }
        for prop in php_ksort_keys(remaining):
            value = remaining[prop]
            out_prop = issuer.issue(prop) if prop.startswith("_:") else prop
            node.setdefault(out_prop, [])
            generate_node_map(node_map, value, issuer, activegraph, node_id, out_prop)


def build_node_map(expanded, issuer: BlankNodeIssuer | None = None) -> dict:
    """Convenience wrapper: fresh node map with the default graph
    pre-created (mirrors the setup in Processor.php:2132-2135)."""
    node_map: dict = {DEFAULT_GRAPH: {}}
    generate_node_map(node_map, expanded, issuer or BlankNodeIssuer())
    return node_map
