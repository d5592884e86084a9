"""JSON-LD compaction: expanded form -> compact form.

Mirrors the reference (Processor.php:925-1101 ``compact``,
1123-1168 ``compactValue``, 1188-1261 ``compactIri``,
1345-1412 ``getValueProfile``, 1425-1438 ``queryInverseContext``,
1820-1880 ``createInverseContext``, JsonLD.php:253-301 ``doCompact``).

In the Spark engine this is a P2 API-parity feature: the inverse
context is built once on the driver and broadcast; per-document
compaction runs inside the same mapInArrow kernel stage as expansion.
"""

from __future__ import annotations

from functools import cmp_to_key

from jsonld_spark.kernel.context import (
    KEYWORDS,
    get_property_definition,
    initial_context,
    process_context,
)
from jsonld_spark.kernel.exceptions import JsonLdError
from jsonld_spark.kernel.iri import iri_relativize
from jsonld_spark.kernel.util import merge_into_property, php_ksort_keys, set_property


def _sort_terms(a: str, b: str) -> int:
    """Shortest-then-lexicographic (Processor.php:2915-2927)."""
    if len(a) < len(b):
        return -1
    if len(a) == len(b):
        return (a > b) - (a < b)
    return 1


def create_inverse_context(activectx: dict) -> dict:
    """iri -> container -> (@type|@language) -> value -> term index,
    plus iri -> 'term' for the shortest plain term; IRIs ordered
    longest-first for prefix matching."""
    default_language = activectx.get("@language") or "@null"
    terms = {
        k: v
        for k, v in activectx.items()
        if k not in ("@base", "@vocab", "@language") and isinstance(v, dict)
    }
    inverse: dict = {}
    for term in sorted(terms, key=cmp_to_key(_sort_terms)):
        definition = terms[term]
        if definition["@id"] is None:
            continue
        container = definition.get("@container") or "@null"
        iri = definition["@id"]
        entry = inverse.setdefault(iri, {})
        if "term" not in entry and not definition["@reverse"]:
            entry["term"] = term

        if definition["@reverse"]:
            type_or_lang, type_lang_value = "@type", "@reverse"
        elif definition.get("@type") is not None:
            type_or_lang, type_lang_value = "@type", definition["@type"]
        elif "@language" in definition:  # may be explicit None
            type_or_lang = "@language"
            type_lang_value = definition["@language"] or "@null"
        else:
            # untyped terms are implicitly in the default language
            entry.setdefault(container, {}).setdefault("@language", {}).setdefault(
                default_language, term
            )
            type_or_lang, type_lang_value = "@null", "@null"
        entry.setdefault(container, {}).setdefault(type_or_lang, {}).setdefault(
            type_lang_value, term
        )
    # longest-IRI-first ordering (compact-IRI prefix scan)
    ordered = sorted(inverse, key=cmp_to_key(_sort_terms), reverse=True)
    return {iri: inverse[iri] for iri in ordered}


def _get_value_profile(value: dict, inversectx: dict) -> dict:
    profile = {"@container": "@set", "typeLang": "@type", "typeLangValue": "@id"}
    if "@index" in value:
        profile["@container"] = "@index"
    if "@id" in value:
        profile["typeLangValue"] = (
            "@vocab" if "term" in inversectx.get(value["@id"], {}) else "@id"
        )
        return profile
    if "@value" in value:
        if "@type" in value:
            profile["typeLang"] = "@type"
            profile["typeLangValue"] = value["@type"]
        elif "@language" in value:
            profile["typeLang"] = "@language"
            profile["typeLangValue"] = value["@language"]
            if "@index" not in value:
                profile["@container"] = "@language"
        else:
            profile["typeLang"] = "@language"
            profile["typeLangValue"] = "@null"
        return profile
    if "@list" in value:
        entries = value["@list"]
        if entries:
            profile = _get_value_profile(entries[0], inversectx)
        if "@index" not in value:
            profile["@container"] = "@list"
        for item in reversed(entries[1:]):
            item_profile = _get_value_profile(item, inversectx)
            if (
                profile["typeLang"] != item_profile["typeLang"]
                or profile["typeLangValue"] != item_profile["typeLangValue"]
            ):
                profile["typeLang"] = None
                profile["typeLangValue"] = None
                return profile
    return profile


def _query_inverse(entry: dict, containers, type_or_langs, type_lang_values):
    for container in containers:
        for tol in type_or_langs:
            for tlv in type_lang_values:
                term = entry.get(container, {}).get(tol, {}).get(tlv)
                if term is not None:
                    return term
    return None


def compact_iri(
    iri, activectx: dict, inversectx: dict, value=None, vocab_relative=False, reverse=False
):
    """Absolute IRI -> term / vocab-relative / CURIE / base-relative."""
    if vocab_relative and isinstance(iri, str) and iri in inversectx:
        if value is not None:
            profile = _get_value_profile(value, inversectx)
            if profile["@container"] == "@list":
                containers = ["@list", "@null"]
            else:
                containers = [profile["@container"], "@set", "@null"]
            if profile["typeLang"] is None:
                type_or_langs = ["@null"]
                type_lang_values = ["@null"]
            else:
                type_or_langs = [profile["typeLang"], "@null"]
                type_lang_values = []
                if reverse:
                    type_lang_values.append("@reverse")
                if profile["typeLang"] == "@type" and profile["typeLangValue"] == "@id":
                    type_lang_values += ["@id", "@vocab", "@null"]
                elif profile["typeLang"] == "@type" and profile["typeLangValue"] == "@vocab":
                    type_lang_values += ["@vocab", "@id", "@null"]
                else:
                    type_lang_values = [profile["typeLangValue"], "@null"]
            term = _query_inverse(inversectx[iri], containers, type_or_langs, type_lang_values)
            if term is not None:
                return term
        elif "term" in inversectx[iri]:
            return inversectx[iri]["term"]

    # compact using @vocab
    vocab = activectx.get("@vocab")
    if (
        vocab_relative
        and vocab
        and isinstance(iri, str)
        and iri.startswith(vocab)
        and iri[len(vocab):]
        and iri[len(vocab):] not in activectx
    ):
        return iri[len(vocab):]

    # try a compact IRI (CURIE); inversectx is longest-IRI-first
    if isinstance(iri, str):
        for term_iri, definition in inversectx.items():
            if "term" not in definition:
                continue
            if iri.startswith(term_iri):
                suffix = iri[len(term_iri):]
                if suffix:
                    curie = definition["term"] + ":" + suffix
                    if curie not in activectx or (
                        not vocab_relative
                        and activectx[curie].get("@id") == iri
                    ):
                        return curie

    # last resort: relative IRI against @base
    if not vocab_relative and activectx.get("@base") is not None and isinstance(iri, str):
        return iri_relativize(activectx["@base"], iri)

    return iri


def compact_value(value: dict, definition: dict, activectx: dict, inversectx: dict):
    value = dict(value)
    if definition.get("@container") == "@index":
        value.pop("@index", None)
    num_props = len(value)

    if "@id" in value:
        if num_props == 1:
            if definition["@type"] == "@id":
                return compact_iri(value["@id"], activectx, inversectx)
            if definition["@type"] == "@vocab":
                return compact_iri(value["@id"], activectx, inversectx, None, True)
        return value

    criterion = "@type" if value.get("@type") is not None else None
    criterion = "@language" if value.get("@language") is not None else criterion
    if criterion is not None:
        if num_props == 2 and value[criterion] == definition.get(criterion):
            return value["@value"]
        return value

    if isinstance(value.get("@value"), str) and definition.get("@language") is not None:
        return value
    return value["@value"] if num_props == 1 else value


def compact_element(
    element, activectx: dict, inversectx: dict, activeprty=None, compact_arrays=True
):
    """Compact an expanded element (functional; returns the result)."""
    if isinstance(element, list):
        result = [
            item
            for item in (
                compact_element(i, activectx, inversectx, activeprty, compact_arrays)
                for i in element
            )
            if item is not None
        ]
        if compact_arrays and len(result) == 1:
            return result[0]
        return result

    if not isinstance(element, dict):
        return element

    if "@value" in element or "@id" in element:
        definition = get_property_definition(activectx, activeprty)
        compacted = compact_value(element, definition, activectx, inversectx)
        if not isinstance(compacted, dict):
            return compacted
        element = compacted

    in_reverse = activeprty == "@reverse"
    result: dict = {}

    for prop in php_ksort_keys(element):
        value = element[prop]
        if prop in KEYWORDS:
            if prop == "@id":
                value = compact_iri(value, activectx, inversectx)
            elif prop == "@type":
                if isinstance(value, str):
                    value = compact_iri(value, activectx, inversectx, None, True)
                else:
                    value = [
                        compact_iri(v, activectx, inversectx, None, True) for v in value
                    ]
                    if compact_arrays and len(value) == 1:
                        value = value[0]
            elif prop in ("@graph", "@list"):
                value = compact_element(value, activectx, inversectx, prop, compact_arrays)
                if not isinstance(value, list):
                    value = [value]
            elif prop == "@reverse":
                value = compact_element(value, activectx, inversectx, prop, compact_arrays)
                value = dict(value) if isinstance(value, dict) else value
                for rev_prop in list(value):
                    if get_property_definition(activectx, rev_prop, "@reverse"):
                        always_array = (
                            get_property_definition(activectx, rev_prop, "@container")
                            == "@set"
                        )
                        merge_into_property(result, rev_prop, value[rev_prop], always_array)
                        del value[rev_prop]
                if not value:
                    continue
            alias = inversectx.get(prop, {}).get("term", prop)
            set_property(result, alias, value, JsonLdError.COLLIDING_KEYWORDS)
            continue

        # @null-objects as used in framing
        if isinstance(value, dict) and "@null" in value:
            alias = compact_iri(prop, activectx, inversectx, None, True, in_reverse)
            if alias not in result:
                result[alias] = None
            continue

        if isinstance(value, list) and len(value) == 0:
            alias = compact_iri(prop, activectx, inversectx, None, True, in_reverse)
            merge_into_property(result, alias, value)
            continue

        for item in value if isinstance(value, list) else [value]:
            alias = compact_iri(prop, activectx, inversectx, item, True, in_reverse)
            definition = get_property_definition(activectx, alias)

            if definition["@container"] in ("@language", "@index"):
                target = result.setdefault(alias, {})
                key = item[definition["@container"]]
                definition = dict(definition)
                definition[definition["@container"]] = key
                compacted = compact_value(item, definition, activectx, inversectx)
                compacted = compact_element(
                    compacted, activectx, inversectx, alias, compact_arrays
                )
                merge_into_property(target, key, compacted)
                continue

            if isinstance(item, dict):
                if "@list" in item:
                    entries = compact_element(
                        item["@list"], activectx, inversectx, alias, compact_arrays
                    )
                    if not isinstance(entries, list):
                        entries = [entries]
                    if definition["@container"] == "@list":
                        # one list per @list-container term (no list of lists)
                        set_property(
                            result, alias, entries,
                            JsonLdError.COMPACTION_TO_LIST_OF_LISTS,
                        )
                        continue
                    wrapped = {
                        inversectx.get("@list", {}).get("term", "@list"): entries
                    }
                    if "@index" in item:
                        wrapped[
                            inversectx.get("@index", {}).get("term", "@index")
                        ] = item["@index"]
                    item = wrapped
                else:
                    item = compact_element(
                        item, activectx, inversectx, alias, compact_arrays
                    )

            as_array = (not compact_arrays) or (not definition["compactArrays"])
            merge_into_property(result, alias, item, as_array)

    return result


def compact_document(
    expanded,
    context,
    base: str | None = None,
    compact_arrays: bool = True,
    always_graph: bool = False,
    loader=None,
):
    """Expand-then-compact wrapper (reference JsonLD.php:253-301): wraps
    multi-node results in (possibly aliased) @graph and re-attaches the
    original context."""
    if isinstance(context, dict) and "@context" in context:
        context = context["@context"]
    if context is not None and not context:
        context = None

    activectx = initial_context(base)
    process_context(context, activectx, base_iri=base, loader=loader)
    inversectx = create_inverse_context(dict(activectx))

    compacted = compact_element(expanded, activectx, inversectx, None, compact_arrays)

    document: dict = {}
    if context is not None:
        document["@context"] = context

    if not isinstance(compacted, list) or len(compacted) == 0:
        if not always_graph:
            if isinstance(compacted, dict):
                for key, val in compacted.items():
                    if key not in document:
                        document[key] = val
            return document
        if not isinstance(compacted, list):
            compacted = [compacted]

    graph_keyword = inversectx.get("@graph", {}).get("term", "@graph")
    document[graph_keyword] = compacted
    return document
