"""Schema-directed compilation of the document kernel to Catalyst.

For a struct-typed payload under a static active context, expansion,
node map and toRdf (``kernel/expand``, ``kernel/nodemap``,
``kernel/rdf``) can be evaluated at plan time: which fields become
which properties, which values are coerced to IRIs or datatypes, and
where blank nodes are issued all follow from the pair (StructType,
active context). ``quads_sql`` turns that pair into ONE Spark SQL
expression over the struct column ``payload``: an
``array<struct<subject, predicate, obj_kind, obj_value, obj_type,
key>>`` holding exactly the quads ``kg_pipeline.docs_to_quads`` emits
for ``to_json(payload)``, with the same document-local ``_:bN`` labels
and the same multiplicities. ``key`` completes the identity of the
expanded value behind a quad — its JSON type, whether it carries a
datatype, and the raw number where the lexical form loses it — since
the node map merges equal values, not equal quads. No JSON text and no
Python worker are involved.

The subset, mirrored from the kernels:

- context: ``@vocab`` and term definitions with an IRI ``@id`` and
  ``@type`` in {``@id``, ``@vocab``, absolute datatype IRI}; anything
  else (``@container``, ``@reverse``, ``@language``, a base, keyword
  aliases, blank-node IRIs) is outside it;
- payload: ``@id`` (string) and ``@type`` (string or array of non-null
  strings) fields plus properties expanded at plan time (a name that
  does not expand to an IRI is dropped); string, integral, double and
  boolean values, nested structs and arrays. Nulls are omitted.

``quads_sql`` returns None for anything outside the subset; the caller
then runs the Python kernel, which stays the general path and the
row-level differential oracle (tests/test_compiler.py).

A ``_:`` identifier in an IRI position (``@id``, ``@type`` or a
coerced value) fails the query with ``raise_error``: the kernel would
relabel it document-locally, which the compiled path does not model.
"""

from __future__ import annotations

import json
from functools import lru_cache
from itertools import groupby

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from jsonld_spark.kernel.context import (
    KEYWORDS,
    get_property_definition,
    initial_context,
    process_context,
    property_dispatch,
)
from jsonld_spark.kernel.iri import is_absolute_iri
from jsonld_spark.kernel.rdf import RDF_TYPE, XSD_BOOLEAN, XSD_DOUBLE, XSD_INTEGER, XSD_STRING
from jsonld_spark.kernel.util import php_ksort_keys

PAYLOAD_COLUMN = "payload"
QUAD_TYPE = (
    "struct<subject:string,predicate:string,obj_kind:string,obj_value:string,"
    "obj_type:string,key:string>"
)
_EMPTY = f"CAST(array() AS array<{QUAD_TYPE}>)"
_NULL = "CAST(NULL AS STRING)"
_NO_KEY = "''"
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_CONTEXT_KEYS = ("@base", "@vocab", "@language")


class _Unsupported(Exception):
    """The (schema, context) pair is outside the compiled subset."""


def quads_sql(payload: StructType, context: dict | None) -> str | None:
    """The compiled quad expression for a ``payload`` column of this
    type under this (local) context, or None outside the subset. The
    SQL text is memoized per (schema JSON, context JSON)."""
    return _compile(payload.json(), json.dumps(context))


@lru_cache(maxsize=64)
def _compile(schema_json: str, context_json: str) -> str | None:
    schema = StructType.fromJson(json.loads(schema_json))
    try:
        return _Compiler(json.loads(context_json)).document(schema)
    except _Unsupported:
        return None


def sql_literal(value: str) -> str:
    """A Spark SQL string literal for ``value``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _field(expr: str, name: str) -> str:
    return f"{expr}.`{name.replace('`', '``')}`"


def _add(a, b):
    """Sum of two label counts, each an int or a SQL int expression."""
    if isinstance(a, int) and isinstance(b, int):
        return a + b
    if a == 0:
        return b
    if b == 0:
        return a
    return f"({a} + {b})"


def _quad(subject, predicate, kind, value, vtype, key) -> str:
    return (
        f"named_struct('subject', {subject}, 'predicate', {predicate}, "
        f"'obj_kind', {sql_literal(kind)}, 'obj_value', {value}, 'obj_type', {vtype}, "
        f"'key', {key})"
    )


class _Compiler:
    def __init__(self, context: dict | None):
        ctx = initial_context(None)
        if context is not None:
            process_context(context, ctx)
        if ctx.get("@base") is not None or ctx.get("@language") is not None:
            raise _Unsupported("base or default language")
        vocab = ctx.get("@vocab")
        if vocab is not None and vocab.startswith("_:"):
            raise _Unsupported("blank-node vocabulary")
        self.terms = {}
        for term, definition in ctx.items():
            if term in _CONTEXT_KEYS:
                continue
            iri, dtype = definition["@id"], definition.get("@type")
            if (definition["@reverse"] or "@container" in definition
                    or "@language" in definition or not isinstance(iri, str)
                    or iri in KEYWORDS or iri.startswith("_:")):
                raise _Unsupported(term)
            if dtype is not None and dtype not in ("@id", "@vocab") and not is_absolute_iri(dtype):
                raise _Unsupported(term)
            self.terms[term] = iri
        self.ctx = ctx
        self.vocab = vocab
        self.names = 0

    def var(self) -> str:
        self.names += 1
        return f"lv{self.names}"

    def let(self, value: str, body) -> str:
        """Bind ``value`` to a lambda variable, evaluated once (no CSE
        runs inside higher-order functions). The finish function of an
        aggregate over an empty array neither loops nor copies."""
        v, unused = self.var(), self.var()
        return (f"aggregate(CAST(array() AS array<int>), {value}, ({v}, {unused}) -> {v}, "
                f"{v} -> {body(v)})")

    def distinct(self, quads: str) -> str:
        """The first of equal values per (subject, predicate), as the node
        map merges them: by the value's identity (``key``), which the
        lexical form alone does not give (1 vs 1.0; 0.0 == -0.0)."""
        identity = ("named_struct('s', q.subject, 'p', q.predicate, 'k', q.obj_kind, "
                    "'t', q.obj_type, 'key', q.key, "
                    "'v', CASE WHEN instr(q.key, ':') = 0 THEN q.obj_value END)")
        return self.let(quads, lambda a: self.let(
            f"transform({a}, q -> {identity})",
            lambda ids: f"filter({a}, (q, i) -> array_position({ids}, {ids}[i]) = i + 1)"))

    # -- IRI expansion (kernel/context.expand_iri, base = None) --------

    def expand_iri(self, v: str, vocab: bool, absolute: bool) -> str:
        """``kernel/context.expand_iri`` of the runtime string ``v``. With
        ``absolute``, an expansion that is not an absolute IRI is NULL
        (toRdf drops it); whether it is follows from the branch taken:
        only a value passed through needs its scheme checked."""

        def known(iri: str) -> str:
            return sql_literal(iri) if not absolute or is_absolute_iri(iri) else _NULL

        def term_iri(term: str) -> str:
            whens = " ".join(f"WHEN {sql_literal(t)} THEN {known(iri)}"
                             for t, iri in self.terms.items())
            return f"CASE {term} {whens} END"

        prefix = f"substring_index({v}, ':', 1)"
        suffix = f"substr({v}, instr({v}, ':') + 1)"
        # RFC 3986 scheme: the text before the first ':', non-empty, no /?#
        passed = (f"CASE WHEN {prefix} != '' AND instr({prefix}, '/') = 0 "
                  f"AND instr({prefix}, '?') = 0 AND instr({prefix}, '#') = 0 THEN {v} END"
                  if absolute else v)
        terms = ", ".join(sql_literal(t) for t in self.terms)
        keywords = ", ".join(sql_literal(k) for k in KEYWORDS)
        cases = [f"WHEN {v} IN ({keywords}) THEN {_NULL if absolute else v}"]
        if vocab and terms:
            cases.append(f"WHEN {v} IN ({terms}) THEN {term_iri(v)}")
        colon = [
            f"WHEN {prefix} = '_' THEN raise_error(concat("
            f"'blank node identifier in an IRI position: ', {v}))",
            f"WHEN startswith({suffix}, '//') THEN {passed}",
        ]
        if terms:
            colon.append(f"WHEN {prefix} IN ({terms}) THEN concat({term_iri(prefix)}, {suffix})")
        cases.append(f"WHEN instr({v}, ':') > 0 THEN CASE {' '.join(colon)} ELSE {passed} END")
        if vocab and self.vocab is not None:
            otherwise = f"concat({known(self.vocab)}, {v})"
        else:
            otherwise = _NULL if absolute else v  # no ':', so not absolute
        return f"CASE {' '.join(cases)} ELSE {otherwise} END"

    # -- literals (kernel/rdf.value_object_to_literal) ------------------

    def canonical_double(self, x: str) -> str:
        """``rdf.canonical_double`` of a finite double: ``%1.15E`` of the
        EXACT binary value, rounded half-even (the shortest decimal, and
        Java's half-up ``%E``, differ from it at ties such as 2**-24)."""

        def parts(e):
            # exact decimal expansion: [-]int[.frac][E exp]
            mantissa = f"replace(substring_index({e}, 'E', 1), '-', '')"
            exp10 = (f"CASE WHEN instr({e}, 'E') > 0 "
                     f"THEN CAST(substring_index({e}, 'E', -1) AS INT) ELSE 0 END")
            return f"named_struct('m', {mantissa}, 'x', {exp10})"

        def digits(p):
            # significant digits and the decimal exponent of the first
            all_digits = f"replace({p}.m, '.', '')"
            int_digits = (f"CASE WHEN instr({p}.m, '.') > 0 THEN instr({p}.m, '.') - 1 "
                          f"ELSE length({p}.m) END")
            sig = f"trim(LEADING '0' FROM {all_digits})"
            exp10 = f"{p}.x + {int_digits} - 1 - (length({all_digits}) - length({sig}))"
            return f"named_struct('d', {sig}, 'e', {exp10})"

        def rounded(p):
            d = f"{p}.d"
            head = f"CAST(rpad(substr({d}, 1, 16), 16, '0') AS BIGINT)"
            d17 = f"CASE WHEN length({d}) >= 17 THEN CAST(substr({d}, 17, 1) AS INT) ELSE 0 END"
            rest = f"(substr({d}, 18) RLIKE '[1-9]')"
            up = f"({d17} > 5 OR ({d17} = 5 AND ({rest} OR {head} % 2 = 1)))"
            return f"named_struct('n', {head} + CASE WHEN {up} THEN 1 ELSE 0 END, 'e', {p}.e)"

        def formatted(r):
            carry = f"{r}.n = 10000000000000000"
            mant = f"CASE WHEN {carry} THEN '1000000000000000' ELSE CAST({r}.n AS STRING) END"
            frac = f"trim(TRAILING '0' FROM substr({mant}, 2))"
            exp10 = f"{r}.e + CASE WHEN {carry} THEN 1 ELSE 0 END"
            return (f"concat(CASE WHEN {x} < 0 THEN '-' ELSE '' END, substr({mant}, 1, 1), '.', "
                    f"CASE WHEN {frac} = '' THEN '0' ELSE {frac} END, "
                    f"'E', CAST({exp10} AS STRING))")

        exact = f"reflect('scala.math.BigDecimal', 'exact', {x})"
        nonzero = self.let(exact, lambda e: self.let(parts(e), lambda p: self.let(
            digits(p), lambda d: self.let(rounded(d), formatted))))
        zero = f"CASE WHEN startswith(CAST({x} AS STRING), '-') THEN '-0.0E0' ELSE '0.0E0' END"
        return f"CASE WHEN {x} IS NULL THEN NULL WHEN {x} = 0 THEN {zero} ELSE {nonzero} END"

    def scalar(self, s, p, x: str, dtype: DataType, definition: dict) -> str:
        """The quad (or a NULL-valued one) for scalar ``x`` of property
        ``p`` on subject ``s``."""
        coerce = definition["@type"]
        datatype = coerce if coerce not in (None, "@id", "@vocab") else None
        flag = "T" if datatype else ""
        if isinstance(dtype, StringType):
            return self.string(s, p, x, coerce, datatype, flag)
        if isinstance(dtype, BooleanType):
            value = f"CASE WHEN {x} THEN 'true' WHEN NOT {x} THEN 'false' END"
            return _quad(s, p, "literal", value, sql_literal(datatype or XSD_BOOLEAN),
                         sql_literal("b" + flag))
        if isinstance(dtype, _INTEGRAL):
            if datatype == XSD_DOUBLE:
                value = self.canonical_double(f"CAST({x} AS DOUBLE)")
                key = f"concat('i{flag}:', CAST({x} AS STRING))"
            else:
                value, key = f"CAST({x} AS STRING)", sql_literal("i" + flag)
            return _quad(s, p, "literal", value, sql_literal(datatype or XSD_INTEGER), key)
        if isinstance(dtype, DoubleType):
            # to_json writes non-finite doubles as the STRINGS "NaN",
            # "Infinity" and "-Infinity", which the kernel then reads
            text = (f"CASE WHEN isnan({x}) THEN 'NaN' WHEN {x} = double('inf') THEN 'Infinity' "
                    f"WHEN {x} = double('-inf') THEN '-Infinity' END")
            raw = f"CASE WHEN {x} = 0 THEN '0' ELSE CAST({x} AS STRING) END"
            number = _quad(s, p, "literal", self.canonical_double(x),
                           sql_literal(datatype or XSD_DOUBLE), f"concat('f{flag}:', {raw})")
            if datatype != XSD_DOUBLE:
                # an integral double inside the int64 range prints as %d
                integral = (f"{x} = rint({x}) AND {x} >= -9223372036854775808D "
                            f"AND {x} < 9223372036854775808D")
                as_int = _quad(s, p, "literal", f"CAST(CAST({x} AS BIGINT) AS STRING)",
                               sql_literal(datatype or XSD_INTEGER), sql_literal("f" + flag))
                number = f"CASE WHEN {integral} THEN {as_int} ELSE {number} END"
            return (f"CASE WHEN {text} IS NOT NULL THEN "
                    f"{self.string(s, p, text, coerce, datatype, flag)} ELSE {number} END")
        raise _Unsupported(dtype.simpleString())

    def string(self, s, p, x, coerce, datatype, flag) -> str:
        if coerce in ("@id", "@vocab"):
            iri = self.expand_iri(x, coerce == "@vocab", absolute=True)
            return _quad(s, p, "iri", iri, _NULL, _NO_KEY)
        return _quad(s, p, "literal", x, sql_literal(datatype or XSD_STRING),
                     sql_literal("s" + flag))

    # -- node map traversal (kernel/nodemap.generate_node_map) ---------

    def own(self, x: str, types: dict):
        """Blank nodes issued for node ``x`` itself: one unless it has an @id."""
        return f"CASE WHEN {_field(x, '@id')} IS NULL THEN 1 ELSE 0 END" if "@id" in types else 1

    def count(self, x: str, dtype: DataType, nullable: bool):
        """Blank nodes the node map issues for value ``x``, depth first."""
        if isinstance(dtype, StructType):
            total = self.own(x, {f.name: None for f in dtype.fields})
            for name, _, field in self.properties(dtype):
                total = _add(total, self.count(_field(x, name), field.dataType, field.nullable))
        elif isinstance(dtype, ArrayType):
            y, acc = self.var(), self.var()
            each = self.count(y, dtype.elementType, dtype.containsNull)
            if each == 0:
                return 0
            if isinstance(each, int):
                total = f"{each} * size({x})"
            else:
                total = f"aggregate({x}, 0, ({acc}, {y}) -> {acc} + {each})"
        else:
            return 0
        if isinstance(total, int) and not nullable:
            return total
        return f"CASE WHEN {x} IS NULL THEN 0 ELSE {total} END"

    def properties(self, stype: StructType):
        """(field name, expanded IRI, field) in node-map order: sorted
        by expanded IRI, fields of one IRI in expansion order."""
        names = [f.name for f in stype.fields]
        if len(set(names)) != len(names):
            raise _Unsupported("duplicate field names")
        fields = {f.name: f for f in stype.fields}
        groups: dict = {}
        for name in php_ksort_keys(fields):
            if name in ("@id", "@type"):
                continue
            iri, container, reverse = property_dispatch(self.ctx, name)
            if iri in KEYWORDS or container is not None or reverse:
                raise _Unsupported(name)
            if not isinstance(iri, str) or ":" not in iri:
                continue  # expansion drops it
            if iri.startswith("_:"):
                raise _Unsupported(name)
            groups.setdefault(iri, []).append(name)
        return [(name, iri, fields[name]) for iri in php_ksort_keys(groups) for name in groups[iri]]

    def value(self, s, p, x: str, dtype: DataType, nullable: bool, definition: dict, base) -> str:
        """The quads of value ``x`` of property ``p`` (None: not
        emitted) on subject ``s``, its blank nodes labeled from
        ``base``. Never NULL."""
        if isinstance(dtype, StructType):
            quads = self.node(x, dtype, base, s, p)
        elif p is None and not _holds_nodes(dtype):
            return _EMPTY
        elif not isinstance(dtype, ArrayType):
            return f"array({self.scalar(s, sql_literal(p), x, dtype, definition)})"
        elif not isinstance(dtype.elementType, (ArrayType, StructType)):
            e = self.var()
            quad = self.scalar(s, sql_literal(p), e, dtype.elementType, definition)
            quads = f"transform({x}, {e} -> {quad})"
        else:
            e, i = self.var(), self.var()
            each = self.count(e, dtype.elementType, dtype.containsNull)
            if each == 0 or isinstance(each, int):
                offset = _add(base, f"{each} * {i}") if each else base
            else:
                offset = _add(base, self.count(f"slice({x}, 1, {i})", dtype, False))
            inner = self.value(s, p, e, dtype.elementType, dtype.containsNull, definition, offset)
            quads = f"flatten(transform({x}, ({e}, {i}) -> {inner}))"
        return f"CASE WHEN {x} IS NULL THEN {_EMPTY} ELSE {quads} END" if nullable else quads

    def node(self, x: str, stype: StructType, base, parent=None, prop=None) -> str:
        """The quads of node object ``x``: its own, its subtree's, and
        the reference from ``parent`` via ``prop`` (None: not emitted)."""
        types = {f.name: f.dataType for f in stype.fields}
        properties = self.properties(stype)
        blank = f"concat('_:b', CAST({base} AS STRING))"

        def body(s):
            singles, arrays = [], []
            if prop is not None:
                singles.append(_quad(parent, sql_literal(prop), "iri", s, _NULL, _NO_KEY))
            if isinstance(types.get("@type"), StringType):
                singles.append(self.type_quad(s, _field(x, "@type")))
            elif "@type" in types:
                arrays.append(self.types(s, _field(x, "@type"), types["@type"]))
            offset = _add(base, self.own(x, types))
            for iri, group in groupby(properties, key=lambda entry: entry[1]):
                group = list(group)
                emitted = iri if not iri.startswith("@") and is_absolute_iri(iri) else None
                values = []
                for name, _, field in group:
                    value, dtype = _field(x, name), field.dataType
                    definition = get_property_definition(self.ctx, name)
                    if len(group) > 1 or isinstance(dtype, (ArrayType, StructType)):
                        values.append(self.value(s, emitted, value, dtype, field.nullable,
                                                 definition, offset))
                    elif emitted is not None:
                        singles.append(self.scalar(s, sql_literal(emitted), value, dtype,
                                                   definition))
                    offset = _add(offset, self.count(value, dtype, field.nullable))
                if not values:
                    continue
                # one value per field, except arrays of literals and references
                dtype = group[0][2].dataType
                if self.local and (len(group) > 1 or (isinstance(dtype, ArrayType)
                                                      and not _holds_nodes(dtype))):
                    arrays.append(self.distinct(_join(values)))
                else:
                    arrays.extend(values)
            return _join(arrays, singles)

        if "@id" not in types:
            return body(blank)
        if not isinstance(types["@id"], StringType):
            raise _Unsupported("@id")
        node_id = _field(x, "@id")
        subject = (f"CASE WHEN {node_id} IS NULL THEN {blank} "
                   f"ELSE {self.expand_iri(node_id, False, absolute=True)} END")
        return self.let(subject, body)

    def type_quad(self, s, t: str) -> str:
        return _quad(s, sql_literal(RDF_TYPE), "iri", self.expand_iri(t, True, absolute=False),
                     _NULL, "'T'")

    def types(self, s, x: str, dtype: DataType) -> str:
        """The quads of an array of @type values."""
        if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, StringType) \
                and not dtype.containsNull:
            t = self.var()
            quads = f"transform({x}, {t} -> {self.type_quad(s, t)})"
            if self.local:
                quads = self.distinct(quads)
            return f"CASE WHEN {x} IS NULL THEN {_EMPTY} ELSE {quads} END"
        # a null @type entry or a non-string type is an expansion error
        raise _Unsupported("@type")

    def document(self, schema: StructType) -> str:
        """The complete quads of the document, each value once per
        (subject, predicate). Values repeat within a property only
        where it holds an array of literals or references or several
        fields; a named node in two positions merges them, and then
        the whole document is deduplicated instead."""
        self.local = _named_positions(schema) < 2
        quads = self.node(PAYLOAD_COLUMN, schema, 0)
        if not self.local:
            quads = self.distinct(quads)
        return f"filter({quads}, q -> q.subject IS NOT NULL AND q.obj_value IS NOT NULL)"


def _join(arrays: list, singles: list = ()) -> str:
    """One quad array of ``arrays`` and the quads ``singles``; flatten,
    not concat: Spark's interpreted array concat walks a lazy list."""
    if singles:
        arrays = [f"array({', '.join(singles)})", *arrays]
    if not arrays:
        return _EMPTY
    return arrays[0] if len(arrays) == 1 else f"flatten(array({', '.join(arrays)}))"


def _holds_nodes(dtype: DataType) -> bool:
    """A struct, or an array (of arrays) of structs."""
    while isinstance(dtype, ArrayType):
        dtype = dtype.elementType
    return isinstance(dtype, StructType)


def _named_positions(dtype: DataType, repeated: bool = False) -> int:
    """Struct positions with an @id field; one inside an array counts
    twice (its elements may name one node)."""
    if isinstance(dtype, ArrayType):
        return _named_positions(dtype.elementType, True)
    if not isinstance(dtype, StructType):
        return 0
    own = (2 if repeated else 1) if "@id" in dtype.fieldNames() else 0
    return own + sum(_named_positions(f.dataType, repeated) for f in dtype.fields)
