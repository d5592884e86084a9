"""JSON-LD 1.0 expansion.

Normalizes any JSON-LD tree to expanded form: every term/compact
IRI/relative IRI is made absolute against the active context, scalars
are wrapped as ``{"@value": ...}`` objects with coerced
``@type``/``@language``, ``@set`` is elided, ``@language``/``@index``
container maps are unrolled, ``@reverse`` maps are normalized, value
objects validated, and free-floating nodes/nulls dropped.

Result-identical to the reference expansion
(reference: Processor.php:313-583 ``expand``,
Processor.php:597-777 ``expandKeywordValue``,
Processor.php:788-809 ``expandValue``).
"""

from __future__ import annotations

from jsonld_spark.kernel.context import (
    FRAMING_KEYWORDS,
    KEYWORDS,
    expand_iri,
    get_property_definition,
    process_context,
    property_dispatch,
)
from jsonld_spark.kernel.exceptions import JsonLdError
from jsonld_spark.kernel.util import (
    is_scalar,
    merge_into_property,
    php_ksort_keys,
    set_property,
)


def expand_element(element, activectx, activeprty=None, frame=False, loader=None, base_iri=None):
    """Expand ``element`` under ``activectx``; returns the expanded
    value (which may be None, a dict, or a list)."""
    if element is not None and is_scalar(element):
        if activeprty is None or activeprty == "@graph":
            return None
        return _expand_scalar(element, activectx, activeprty)

    if element is None:
        return None

    if isinstance(element, list):
        result = []
        in_list = (
            activeprty == "@list"
            or get_property_definition(activectx, activeprty, "@container") == "@list"
        )
        for item in element:
            item = expand_element(item, activectx, activeprty, frame, loader, base_iri)
            # lists of lists are forbidden in JSON-LD 1.0
            if in_list:
                if isinstance(item, list) or (isinstance(item, dict) and "@list" in item):
                    raise JsonLdError(
                        JsonLdError.LIST_OF_LISTS,
                        f'List of lists detected in property "{activeprty}".',
                    )
            if isinstance(item, list):
                result.extend(item)
            elif item is not None:
                result.append(item)
        return result

    # Object: fold its local context (context changes are scoped to the
    # subtree — the active context is copied, like PHP's by-value arrays)
    if "@context" in element:
        activectx = _copy_ctx(activectx)
        process_context(element["@context"], activectx, base_iri=base_iri, loader=loader)

    result: dict = {}
    for prop in php_ksort_keys(element):
        if prop == "@context":
            continue
        value = element[prop]
        exp_property, container, is_reverse = property_dispatch(activectx, prop)

        if frame and exp_property in FRAMING_KEYWORDS:
            if exp_property == "@default":
                value = expand_element(value, activectx, activeprty, frame, loader, base_iri)
            set_property(result, exp_property, value, JsonLdError.COLLIDING_KEYWORDS)
            continue

        if exp_property in KEYWORDS:
            if activeprty == "@reverse":
                raise JsonLdError(
                    JsonLdError.INVALID_REVERSE_PROPERTY_MAP,
                    "No keywords or keyword aliases are allowed in @reverse-maps, "
                    "found " + exp_property,
                )
            _expand_keyword_value(
                result, activeprty, exp_property, value, activectx, frame, loader, base_iri
            )
            continue
        if not isinstance(exp_property, str) or ":" not in exp_property:
            # neither a keyword nor an IRI: drop the property
            continue

        if isinstance(value, dict) and container in ("@language", "@index"):
            items = []
            if container == "@language":
                for key in php_ksort_keys(value):
                    val = value[key]
                    if not isinstance(val, list):
                        val = [val]
                    for item in val:
                        if not isinstance(item, str):
                            raise JsonLdError(
                                JsonLdError.INVALID_LANGUAGE_MAP_VALUE,
                                f"Detected invalid value in {prop}->{key}: it must be "
                                "a string as it is part of a language map.",
                            )
                        items.append({"@value": item, "@language": key.lower()})
            else:  # @index container
                for key in php_ksort_keys(value):
                    val = value[key]
                    if not isinstance(val, list):
                        val = [val]
                    val = expand_element(val, activectx, prop, frame, loader, base_iri)
                    for item in val:
                        if "@index" not in item:
                            item["@index"] = key
                        items.append(item)
            value = items
        else:
            value = expand_element(value, activectx, prop, frame, loader, base_iri)

        if value is None:
            continue

        # force @list container values into an expanded @list object
        if container == "@list" and not (isinstance(value, dict) and "@list" in value):
            if not isinstance(value, list):
                value = [value]
            value = {"@list": value}

        target = result
        if is_reverse:
            target = result.setdefault("@reverse", {})
            if not isinstance(value, list):
                value = [value]
            for val in value:
                if isinstance(val, dict) and ("@value" in val or "@list" in val):
                    raise JsonLdError(
                        JsonLdError.INVALID_REVERSE_PROPERTY_VALUE,
                        "Detected invalid value in @reverse-map (only nodes are allowed)",
                    )

        merge_into_property(target, exp_property, value, True)

    # Validate / normalize the fully-processed object
    num_props = len(result)

    # Free-floating nodes are dropped at the top level / inside @graph
    if (
        not frame
        and (activeprty is None or activeprty == "@graph")
        and (
            num_props == 0
            or "@value" in result
            or "@list" in result
            or (num_props == 1 and "@id" in result)
        )
    ):
        return None

    if "@index" in result:
        num_props -= 1

    if "@value" in result:
        num_props -= 1
        if "@language" in result:
            if not frame:
                if not isinstance(result["@language"], str):
                    raise JsonLdError(
                        JsonLdError.INVALID_LANGUAGE_TAGGED_STRING,
                        "Invalid value for @language detected (must be a string).",
                    )
                if not isinstance(result["@value"], str):
                    raise JsonLdError(
                        JsonLdError.INVALID_LANGUAGE_TAGGED_VALUE,
                        "Only strings can be language tagged.",
                    )
            num_props -= 1
        elif "@type" in result:
            if not frame and (
                not isinstance(result["@type"], str)
                or ":" not in result["@type"]
                or result["@type"].startswith("_:")
            ):
                raise JsonLdError(
                    JsonLdError.INVALID_TYPED_VALUE,
                    "Invalid value for @type detected (must be an IRI).",
                )
            num_props -= 1
        if num_props > 0:
            raise JsonLdError(
                JsonLdError.INVALID_VALUE_OBJECT, "Detected an invalid @value object."
            )
        if result["@value"] is None:
            return None
        return result

    if "@type" in result and not isinstance(result["@type"], list):
        result["@type"] = [result["@type"]]

    if num_props > 1 and ("@list" in result or "@set" in result):
        raise JsonLdError(
            JsonLdError.INVALID_SET_OR_LIST_OBJECT,
            "An object with a @list or @set property can't contain other properties.",
        )
    if "@set" in result:
        return result["@set"]  # @set is pure syntactic sugar
    if num_props == 1 and not frame and "@language" in result:
        return None  # only @language left: drop the whole object

    return result


def expand_document(doc, activectx, frame=False, loader=None, base_iri=None) -> list:
    """Expand a whole document: a top-level object whose only key is
    ``@graph`` unwraps to that graph, and the result is always a list
    of node objects (reference: JsonLD.php:134-172)."""
    result = expand_element(doc, activectx, None, frame, loader, base_iri)
    if isinstance(result, dict) and len(result) == 1 and "@graph" in result:
        result = result["@graph"]
    if not isinstance(result, list):
        result = [] if result is None else [result]
    return result


def _copy_ctx(activectx: dict) -> dict:
    # term definitions are never mutated in place, so a shallow copy
    # plus per-term copies on write (process_context always builds new
    # dicts) is sufficient; ActiveContext gives the copy a fresh
    # definition memo
    from jsonld_spark.kernel.context import ActiveContext

    return ActiveContext(activectx)


def _expand_scalar(value, activectx, activeprty):
    """Wrap a scalar as a value object / node reference per the active
    property's type coercion (reference: Processor.php:788-809)."""
    definition = get_property_definition(activectx, activeprty)
    if definition["@type"] == "@id" and isinstance(value, str):
        return {"@id": expand_iri(value, activectx, True)}
    if definition["@type"] == "@vocab" and isinstance(value, str):
        return {"@id": expand_iri(value, activectx, True, True)}
    result = {"@value": value}
    if definition["@type"] is not None and definition["@type"] not in ("@id", "@vocab"):
        result["@type"] = definition["@type"]
    elif definition["@language"] is not None and isinstance(value, str):
        result["@language"] = definition["@language"]
    return result


def _expand_keyword_value(element, activeprty, keyword, value, activectx, frame, loader, base_iri):
    """Expand the value of a keyword property into ``element``
    (reference: Processor.php:597-777)."""
    # null values are ignored except for @value (needed to interpret @type)
    if value is None and keyword != "@value":
        return

    if keyword == "@id":
        if not isinstance(value, str):
            raise JsonLdError(
                JsonLdError.INVALID_ID_VALUE, "Invalid value for @id detected (must be a string)."
            )
        value = expand_iri(value, activectx, True)
        set_property(element, keyword, value, JsonLdError.COLLIDING_KEYWORDS)
        return

    if keyword == "@type":
        if isinstance(value, str):
            value = expand_iri(value, activectx, True, True)
            set_property(element, keyword, value, JsonLdError.COLLIDING_KEYWORDS)
            return
        if not isinstance(value, list):
            value = [value]
        result = []
        for item in value:
            if isinstance(item, str):
                result.append(expand_iri(item, activectx, True, True))
            else:
                if not frame:
                    raise JsonLdError(
                        JsonLdError.INVALID_TYPE_VALUE, f"Invalid value for {keyword} detected."
                    )
                merge_into_property(element, keyword, item)
        if result:
            merge_into_property(element, keyword, result, True)
        return

    if keyword == "@value":
        if not frame:
            if value is not None and not is_scalar(value):
                raise JsonLdError(
                    JsonLdError.INVALID_VALUE_OBJECT_VALUE,
                    "Invalid value for @value detected (must be a scalar).",
                )
        elif not isinstance(value, list):
            value = [value]
        set_property(element, keyword, value, JsonLdError.COLLIDING_KEYWORDS)
        return

    if keyword in ("@language", "@index"):
        if not frame:
            if not isinstance(value, str):
                raise JsonLdError(
                    JsonLdError.INVALID_LANGUAGE_TAGGED_STRING
                    if keyword == "@language"
                    else JsonLdError.INVALID_INDEX_VALUE,
                    f"{keyword} must be a string",
                )
        elif not isinstance(value, list):
            value = [value]
        set_property(element, keyword, value, JsonLdError.COLLIDING_KEYWORDS)
        return

    if keyword == "@list":
        if activeprty is None or activeprty == "@graph":
            return  # free-floating list: drop
        value = expand_element(value, activectx, activeprty, frame, loader, base_iri)
        if not isinstance(value, list):
            value = [value]
        for val in value:
            if isinstance(val, dict) and "@list" in val:
                raise JsonLdError(JsonLdError.LIST_OF_LISTS, "List of lists detected.")
        merge_into_property(element, keyword, value, True)
        return

    if keyword == "@set":
        value = expand_element(value, activectx, activeprty, frame, loader, base_iri)
        merge_into_property(element, keyword, value, True)
        return

    if keyword == "@reverse":
        if not isinstance(value, dict):
            raise JsonLdError(
                JsonLdError.INVALID_REVERSE_VALUE,
                "Detected invalid value for @reverse (must be an object).",
            )
        value = expand_element(value, activectx, keyword, frame, loader, base_iri)
        # no @reverse-containers inside @reverse containers
        if isinstance(value, dict) and keyword in value:
            for prop, val in value[keyword].items():
                merge_into_property(element, prop, val, True)
            del value[keyword]
        if isinstance(value, dict):
            if value and keyword not in element:
                element[keyword] = {}
            for prop, val in value.items():
                for v in val if isinstance(val, list) else [val]:
                    if isinstance(v, dict) and ("@value" in v or "@list" in v):
                        raise JsonLdError(
                            JsonLdError.INVALID_REVERSE_PROPERTY_VALUE,
                            "Detected invalid value in @reverse-map (only nodes are allowed)",
                        )
                    merge_into_property(element[keyword], prop, v, True)
        return

    if keyword == "@graph":
        value = expand_element(value, activectx, keyword, frame, loader, base_iri)
        merge_into_property(element, keyword, value, True)
        return
