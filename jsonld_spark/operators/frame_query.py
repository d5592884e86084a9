"""Frame patterns compiled to relational plans on the triple table.

The reference's framing (Processor.php:2558-2768) interprets a frame
as a recursive node-matching program over an in-memory node map. At
scale the same pattern language compiles to native Spark operators on
the (graph, subject, predicate, obj) relation (SURVEY.md §2.3):

  property exists            -> left_semi join on subject
  property must NOT exist [] -> left_anti join on subject
  @type T                    -> semi join on rdf:type triples
  property == value          -> semi join with an object predicate
  subframe (nested pattern)  -> semi join through the edge to subjects
                                matching the subframe (recursed)
  {"@default": d}            -> no constraint (property optional);
                                ``frame_project`` fills the default

Value matching mirrors ``nodeMatchesFrame``'s strict (===) scalar
comparison (Processor.php:2683-2692 scalar branch, 2724-2740
value-object subframes) translated to the RDF literal space: the
triple table stores *canonical lexical forms* (kernel/rdf.py), so a
frame value ``5.3`` compiles to ``obj_value = '5.3E0' AND obj_type =
xsd:double`` — the same literal the document kernel would have
emitted. PHP's === type strictness carries over for free: ``5`` is
xsd:integer "5", ``5.0`` is xsd:double "5.0E0", ``True`` is
xsd:boolean "true" — all distinct literals. One documented deviation:
expanded documents distinguish ``{"@value": "x"}`` from ``{"@value":
"x", "@type": xsd:string}`` (the kernel matcher treats the second as
requiring an explicit @type member); RDF erases that distinction, so
on the triple table both mean the xsd:string literal.

A second documented deviation (discovered round 5): the kernel's
frame-mode expansion wraps explicit ``@value``/``@language``/``@index``
members into arrays (Processor.php:666-671, 689-693) whose items then
match via in_array's LOOSE ``==`` (Processor.php:2736, pre-PHP-8:
``"5" == 5``, ``"abc" == 0`` — mirrored by
``kernel/util.php_loose_equals``). That coercion is defined over raw
JSON scalars; the triple table holds post-toRdf CANONICAL literals
where native types were already folded to one lexical form. The
compiled @value-only STRING spec (lexical match over any datatype)
happens to agree with the kernel's loose semantics for canonical
spellings ("5" finds the int-5 nodes on both sides), but non-string
specs compile to their one canonical literal — the loose numeric-
prefix coercions (98.6 matching the custom-typed string "98.6") have
no RDF-level counterpart and are intentionally not reproduced.
``test_frame_query.py::test_loose_value_divergence_pinned`` pins both
the agreement and the divergence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsonld_spark.kernel.context import FRAMING_KEYWORDS
from jsonld_spark.kernel.rdf import (
    RDF_TYPE,
    XSD_STRING,
    value_object_to_literal,
)


class _NeedsJoinPath(Exception):
    """Internal: the frame carries an @frame subframe alternative, so
    frame_select must fall back to the recursive semi-join compiler."""


def _key_row_condition(prop, spec):
    """Row predicate for one frame key, or None when the key adds no
    constraint (@default); raises _NeedsJoinPath for @frame subframes
    (those need the recursive semi-join compiler)."""
    if prop == "@type":
        return (F.col("predicate") == RDF_TYPE) & (F.col("obj_value") == spec)
    if isinstance(spec, list) and len(spec) == 0:
        return (F.col("predicate") == prop)  # negative: must NOT exist
    if isinstance(spec, dict) and len(spec) == 0:
        return (F.col("predicate") == prop)
    alternatives = spec if isinstance(spec, list) else [spec]
    if any(isinstance(a, dict) and "@default" in a for a in alternatives):
        return None  # no constraint either way
    if any(isinstance(a, dict) and "@frame" in a for a in alternatives):
        raise _NeedsJoinPath()
    preds = []
    for alt in alternatives:
        if isinstance(alt, dict) and len(alt) == 0:
            preds.append(F.lit(True))
        else:
            preds.append(_match_condition(alt))
    combined = preds[0]
    for c in preds[1:]:
        combined = combined | c
    return (F.col("predicate") == prop) & combined


def _simple_frame_conditions(stripped: dict):
    """(positive, negative) row-condition lists for a subframe-free
    frame (framing keywords already stripped); raises _NeedsJoinPath
    when a key needs the join compiler. A subject matches iff some row
    satisfies every positive condition's flag and none satisfies any
    negative one — the single-pass (max-flag aggregation or window)
    form of nodeMatchesFrame's per-key loop."""
    pos, neg = [], []
    for prop, spec in stripped.items():
        cond = _key_row_condition(prop, spec)
        if cond is None:
            continue
        if isinstance(spec, list) and len(spec) == 0:
            neg.append(cond)
        else:
            pos.append(cond)
    return pos, neg


def _strip_framing_keywords(frame: dict) -> dict:
    """Drop @embed/@explicit/@embedChildren/@default from the top level
    of a frame — the kernel pops them into options before matching
    (Processor.php:2507-2516 via frame_expanded); they control output
    shape, never the match set."""
    return {k: v for k, v in frame.items() if k not in FRAMING_KEYWORDS}


def frame_predicates(frame: dict) -> list[str]:
    """The predicates a frame names ("@type" -> rdf:type) — the
    property set an @explicit:true output is restricted to
    (Processor.php:2543: with @explicit the result keeps only
    filter-matched properties; addMissingNodeProperties is skipped)."""
    preds = []
    for key in _strip_framing_keywords(frame):
        preds.append(RDF_TYPE if key == "@type" else key)
    return preds


def _literal_condition(lex: str, dtype: str | None, lang: str | None) -> Column:
    """Exact predicate for one RDF literal (canonical lexical form +
    datatype + language) over (obj_kind, obj_value, obj_type, obj_lang)."""
    cond = (F.col("obj_kind") == "literal") & (F.col("obj_value") == lex)
    if lang is not None:
        # language literals carry no datatype column (Quad contract)
        return cond & (F.col("obj_lang") == lang)
    return cond & (F.col("obj_type") == dtype) & F.col("obj_lang").isNull()


def _scalar_condition(value_spec) -> Column:
    """Predicate for a scalar frame value (str/int/float/bool).

    Non-strings canonicalize through the same literal rules toRdf uses
    (kernel/rdf.value_object_to_literal): ``0.9`` -> ``9.0E-1`` ^^
    xsd:double, ``2`` -> ``"2"`` ^^ xsd:integer, ``True`` -> ``"true"``
    ^^ xsd:boolean. Strings match either an IRI object (the kernel's
    "non-expanded IRIs" branch, Processor.php:2745-2756) or the
    xsd:string literal.
    """
    if isinstance(value_spec, str):
        return ((F.col("obj_kind") == "iri") & (F.col("obj_value") == value_spec)) | (
            _literal_condition(value_spec, XSD_STRING, None)
        )
    lit = value_object_to_literal({"@value": value_spec})
    if lit is None:  # not representable as an RDF literal -> match nothing
        return F.lit(False)
    return _literal_condition(*lit)


def _value_object_condition(spec: dict) -> Column:
    """Predicate for a value-object spec: any subset of @value / @type /
    @language keys, each an independent constraint (the kernel matches
    value objects by recursing with the spec as a per-key filter,
    Processor.php:2724-2740 via the scalar branch)."""
    conds = [F.col("obj_kind") == F.lit("literal")]
    if "@type" in spec and "@language" in spec:
        # an RDF literal carries a datatype OR a language tag, never
        # both (and the kernel's typed value objects have no @language
        # key to satisfy the spec) — such a spec matches nothing
        return F.lit(False)
    if "@value" in spec and "@type" in spec:
        lit = value_object_to_literal({"@value": spec["@value"], "@type": spec["@type"]})
        if lit is None:
            return F.lit(False)
        return _literal_condition(*lit)
    if "@value" in spec and "@language" in spec:
        # language tags compare strictly and case-sensitively: the
        # reference lowercases only language-MAP keys during expansion
        # (Processor.php:427); an explicit @language member is kept
        # verbatim and nodeMatchesFrame compares with === — "FR" ≠ "fr"
        lit = value_object_to_literal(
            {"@value": spec["@value"], "@language": spec["@language"]}
        )
        if lit is None:
            return F.lit(False)
        return _literal_condition(*lit)
    if "@value" in spec:
        value = spec["@value"]
        if isinstance(value, str):
            # @value-only string specs constrain ONLY the value (the
            # kernel recursion checks just the keys present, so
            # "bonjour" matches "bonjour"@FR and "bonjour"^^T alike);
            # at the RDF level that is a lexical-form match over any
            # datatype/language
            return (F.col("obj_kind") == "literal") & (F.col("obj_value") == value)
        # non-strings: only literals whose expanded @value is native
        # (xsd:integer/double/boolean from toRdf) can strictly equal a
        # native spec in the kernel — the canonical typed literal
        lit = value_object_to_literal({"@value": value})
        if lit is None:
            return F.lit(False)
        return _literal_condition(*lit)
    if "@type" in spec:
        conds.append(F.col("obj_type") == spec["@type"])
    if "@language" in spec:
        conds.append(F.col("obj_lang") == spec["@language"])
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _is_value_spec(spec: dict) -> bool:
    return any(k in spec for k in ("@value", "@type", "@language"))


def _match_condition(value_spec) -> Column:
    """Column predicate over the object columns for one alternative of
    a frame value spec. ``@default`` / ``@frame`` / ``{}`` alternatives
    are handled by the caller before reaching here."""
    if isinstance(value_spec, list):
        # a nested array alternative ({p: [["x"]]}) is an invalid frame
        # — the reference raises "lists of lists are not allowed"
        # (Processor.php:2726-2731); compiling it to match-nothing would
        # silently hide the malformed frame behind empty results
        raise ValueError(
            "invalid frame: array of arrays (a list alternative may not "
            "itself be a list, Processor.php:2726-2731)"
        )
    if isinstance(value_spec, dict):
        if _is_value_spec(value_spec):
            return _value_object_condition(value_spec)
        raise ValueError(
            "object specs must be value objects, {'@default': ...}, {} "
            "wildcards, or {'@frame': ...} subframes"
        )
    return _scalar_condition(value_spec)


def frame_select(triples: DataFrame, frame: dict) -> DataFrame:
    """Subjects matching the frame pattern. Frame keys:

    * "@type": IRI string — subject must have that rdf:type
    * <predicate>: {}            — property must exist (wildcard)
    * <predicate>: []            — property must NOT exist
    * <predicate>: "v"/num/bool  — some value must === it (canonical
      literal comparison; see module docstring)
    * <predicate>: {"@value"/"@type"/"@language": ...} — typed /
      language-tagged value object match (each key a constraint)
    * <predicate>: {"@default": d} — no constraint (fill via
      ``frame_project``)
    * <predicate>: {"@frame": {...}} — some object must be a subject
      matching the nested frame (recursive semi-join)
    * <predicate>: [alt1, alt2, ...] — non-empty list: match if ANY
      alternative matches (nodeMatchesFrame's validValues loop,
      Processor.php:2722-2757)

    Plan shape (round 6 — supersedes the round-4 semi-join chain): a
    frame without ``@frame`` subframes compiles to ONE pass over the
    triple table — ``where(OR of every key's row condition)`` then
    ``groupBy(subject)`` with a max() match flag per key, keeping
    subjects whose positive flags are all set and negative (``[]``)
    flags unset. The round-4 shape scanned the table once per
    constraint (filter -> distinct/semi-join each); on the cached 2M-row
    triple table each scan cost ~30 core-s, so the single aggregation
    pass halves the query's table passes (stage-profiled; bench
    evidence in OPTIMIZATION_r06.md). The OR of equality conditions
    still pushes to a parquet scan as Or(EqualTo...) filters
    (test_plans.py::test_frame_query_pushes_filters_to_parquet_scan).
    Frames with ``@frame`` subframes (recursive semi-joins) and frames
    with no positive constraint keep the round-4 semi/anti-join path.
    """
    stripped = _strip_framing_keywords(frame)

    try:
        pos, neg = _simple_frame_conditions(stripped)
        if pos:
            conds = pos + neg
            scan = conds[0]
            for c in conds[1:]:
                scan = scan | c
            flags = [
                F.max(F.when(c, F.lit(1)).otherwise(F.lit(0))).alias(f"_m{i}")
                for i, c in enumerate(conds)
            ]
            keep = F.col("_m0") == 1
            for i in range(1, len(pos)):
                keep = keep & (F.col(f"_m{i}") == 1)
            for j in range(len(pos), len(conds)):
                keep = keep & (F.col(f"_m{j}") == 0)
            return (
                triples.where(scan)
                .groupBy("subject")
                .agg(*flags)
                .where(keep)
                .select("subject")
            )
    except _NeedsJoinPath:
        pass

    # --- join path: @frame subframes / no positive constraint --------
    subjects = None  # lazily: all subjects, only if nothing narrows first

    def all_subjects():
        return triples.select("subject").distinct()

    for prop, spec in stripped.items():
        cond = None  # filtered (non-distinct) subject column for this key
        if prop == "@type":
            cond = triples.where(
                (F.col("predicate") == RDF_TYPE) & (F.col("obj_value") == spec)
            ).select("subject")
        elif isinstance(spec, list) and len(spec) == 0:
            anti = triples.where(F.col("predicate") == prop).select("subject")
            subjects = (subjects if subjects is not None else all_subjects()).join(
                anti, "subject", "left_anti"
            )
            continue
        elif isinstance(spec, dict) and len(spec) == 0:
            cond = triples.where(F.col("predicate") == prop).select("subject")
        else:
            # alternatives may mix scalars, value objects, {} wildcards
            # and {"@frame": ...} subframes (nodeMatchesFrame recurses
            # into every dict alternative, Processor.php:2722-2757);
            # each subframe contributes a semi-joined subject set,
            # the predicate-style alternatives contribute one filtered
            # set, and the key's condition is their union
            alternatives = spec if isinstance(spec, list) else [spec]
            if any(isinstance(a, dict) and "@default" in a for a in alternatives):
                # an @default alternative matches any present value and
                # fills when absent — no constraint either way
                continue
            preds = []
            subject_sets = []
            for alt in alternatives:
                if isinstance(alt, dict) and "@frame" in alt:
                    inner = frame_select(triples, alt["@frame"]).withColumnRenamed(
                        "subject", "obj_value"
                    )
                    subject_sets.append(
                        triples.where(
                            (F.col("predicate") == prop)
                            & (F.col("obj_kind") == "iri")
                        )
                        .join(inner, "obj_value", "left_semi")
                        .select("subject")
                    )
                elif isinstance(alt, dict) and len(alt) == 0:
                    preds.append(F.lit(True))  # {} wildcard: any value
                else:
                    preds.append(_match_condition(alt))
            if preds:
                combined = preds[0]
                for c in preds[1:]:
                    combined = combined | c
                subject_sets.append(
                    triples.where((F.col("predicate") == prop) & combined).select(
                        "subject"
                    )
                )
            cond = subject_sets[0]
            for extra in subject_sets[1:]:
                cond = cond.unionByName(extra)
        if subjects is None:
            subjects = cond.distinct()
        else:
            subjects = subjects.join(cond, "subject", "left_semi")
    return subjects if subjects is not None else all_subjects()


def frame_select_in_graph(triples: DataFrame, frame: dict, graph) -> DataFrame:
    """``frame_select`` scoped to one named graph (or the default
    graph with ``graph=None``). The kernel frames over the MERGED node
    map (kernel/framing.py, Processor.php:2520-2523 uses the merged
    graph unless the frame carries @graph); at the triple level the
    graph column makes per-graph framing a pre-filter — the natural
    RDF-dataset extension the in-memory API cannot offer."""
    scoped = triples.where(
        F.col("graph").isNull() if graph is None else (F.col("graph") == graph)
    )
    return frame_select(scoped, frame)


def frame_project(triples: DataFrame, frame: dict, prop: str) -> DataFrame:
    """Matched subjects with the values of ``prop``, filling the
    frame's ``@default`` for subjects where the property is absent
    (Processor.php:2644-2664: a missing property with an @default
    alternative fills instead of failing).

    Output: (subject, value) — one row per (subject, value) pair, or
    one default row for subjects lacking the property. The frame's
    spec for ``prop`` must be / contain an ``{"@default": d}``
    alternative with a scalar default.
    """
    spec = frame[prop]
    alternatives = spec if isinstance(spec, list) else [spec]
    _missing = object()
    default = _missing
    for alt in alternatives:
        if isinstance(alt, dict) and "@default" in alt:
            default = alt["@default"]
            break
    if default is _missing:
        raise ValueError(f"frame spec for {prop!r} carries no @default")

    matched = frame_select(triples, frame)
    values = (
        triples.where(F.col("predicate") == prop)
        .select("subject", F.col("obj_value").alias("value"))
        .distinct()
    )
    # {"@default": null} is a valid spec — the kernel fills the @null
    # marker (Processor.php:2650-2652); columnar analogue: a NULL value
    joined = matched.join(values, "subject", "left")
    if default is None:
        return joined.select("subject", F.col("value"))
    if isinstance(default, str):
        fill_lex = default
    else:
        # non-string defaults fill with the same canonical RDF lexical
        # form the matching predicates compare against (True -> "true",
        # 0.9 -> "9.0E-1") — str() would produce Python reprs ("True",
        # "0.9") no stored literal ever equals
        lit = value_object_to_literal({"@value": default})
        if lit is None:
            raise ValueError(
                f"@default {default!r} has no RDF literal form; use a "
                "string, number, or boolean default"
            )
        fill_lex = lit[0]
    return joined.select(
        "subject", F.coalesce(F.col("value"), F.lit(fill_lex)).alias("value")
    )


def frame_subgraph(
    triples: DataFrame,
    frame: dict,
    depth: int = 1,
    embed: bool | None = None,
    explicit: bool | None = None,
) -> DataFrame:
    """All triples of the matched subjects plus their forward closure
    to ``depth`` hops (@embed analogue; each hop is one semi-join).

    Embedding controls (kernel/framing.py:179-194, Processor.php:
    2543-2553 + 2780-2811), readable either from the arguments or from
    ``@embed``/``@explicit`` members carried in the frame itself (the
    kernel pops them into options the same way):

    * ``embed=False`` — matched nodes are emitted as REFERENCES only
      (the kernel appends ``{"@id": id}``); the triple-space output is
      the matched (subject) set, no property rows.
    * ``explicit=True`` — the matched subjects' own triples are
      restricted to the frame-named predicates ("@type" -> rdf:type;
      the kernel keeps only filter-matched properties and skips
      addMissingNodeProperties). ``depth=0, explicit=True`` is the
      kernel-faithful @explicit output; with ``depth>0`` the closure
      follows only the KEPT edges (the compiler's depth-based
      extension — embedded hop nodes keep all their triples, like the
      kernel's wildcard-embedded children).
    """
    from jsonld_spark.operators import scratch

    frame = dict(frame)
    if embed is None:
        embed = frame.get("@embed", True)
    if explicit is None:
        explicit = frame.get("@explicit", False)

    # A one-pass window-flag shape for the cached-table case (per-key
    # max() match flags over a subject window instead of frame_select's
    # aggregate + semi-join) was built this round, measured, and
    # REMOVED: isolated with nothing else resident it wins (best-of-4
    # 2.95 s vs 3.50 s at sf0.1/32c), but in the bench sequence — where
    # the pagerank family's edge cache and scratch tables are still
    # resident, exactly bench.py's state — the full-table window sort
    # competes with storage for execution memory and loses (interleaved
    # in-context A/B best-of-3: window 5.70/11.2/12.7 s vs THIS chain
    # 5.24/6.2/6.5 s). The chain only shuffles matched-subject rows
    # (≪ corpus — the scale-safe shape) and keeps the per-constraint
    # PushedFilters scans over parquet snapshots (plan-guarded,
    # test_plans.py::test_frame_query_pushes_filters_to_parquet_scan).
    #
    # matched feeds the hop join, the seen union, AND the final semi-
    # join — uncached, its frame semi-joins would recompute per
    # consumer. Scratch-tracked like the graph family; caller releases.
    matched = scratch.track(frame_select(triples, frame))
    if embed is False:
        return matched

    if not explicit:
        # join-compiler fallback (subframes / no positive constraint):
        # closure via per-hop semi-joins, one final semi-join over the
        # disjoint seen union (the r4 measured-good shape)
        frontier = matched
        seen = matched
        for _ in range(depth):
            objs = (
                triples.join(frontier, "subject", "left_semi")
                .where(F.col("obj_kind") == "iri")
                .select(F.col("obj_value").alias("subject"))
                .distinct()
            )
            frontier = scratch.track(objs.join(seen, "subject", "left_anti"))
            # frontier is anti-joined against seen and internally
            # distinct, so the union is disjoint — no dedup shuffle
            seen = seen.unionByName(frontier)
        return triples.join(seen, "subject", "left_semi")

    preds = frame_predicates(frame)
    base = triples.join(matched, "subject", "left_semi").where(
        F.col("predicate").isin(preds)
    )
    result = base
    seen = matched
    hop_src = base  # hop 1 follows only the kept (frame-named) edges
    for _ in range(depth):
        objs = (
            hop_src.where(F.col("obj_kind") == "iri")
            .select(F.col("obj_value").alias("subject"))
            .distinct()
        )
        frontier = scratch.track(objs.join(seen, "subject", "left_anti"))
        seen = seen.unionByName(frontier)
        hop_src = triples.join(frontier, "subject", "left_semi")
        result = result.unionByName(hop_src)
    return result
