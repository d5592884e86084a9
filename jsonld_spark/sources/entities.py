"""Canonical-entity dictionary (FIXTURES.md §2).

A small, deterministic dictionary of canonical entities with surface
forms, type IRIs and link-scoring priors. It is the broadcast side of
the entity-linking stage (north_rule: "entity-link scoring against a
broadcast canonical-entity dictionary"): at 10^12-turn scale this
table stays O(100k) rows and is broadcast, never shuffled.

All constants here are the single source of truth shared by the Spark
builders AND the DuckDB oracle SQL generators, so both sides compute
from identical data.
"""

from __future__ import annotations

KG = "http://kg.example/"
VOCAB = KG + "vocab#"

N_ENTITIES = 24
# priors cycle through 5 values; canonical xsd:double strings precomputed
PRIORS = [0.5, 0.6, 0.7, 0.8, 0.9]
PRIOR_STRS = ["5.0E-1", "6.0E-1", "7.0E-1", "8.0E-1", "9.0E-1"]
TYPE_TERMS = ["Person", "Org", "Project"]

# Entity 24 is an *ambiguous* sense of surface "Entity13" with a higher
# prior — entity linking must resolve "Entity13" to E24, not E13.
AMBIGUOUS_SURFACE = "Entity13"
AMBIGUOUS_ENTITY = 24
AMBIGUOUS_PRIOR = 0.95
AMBIGUOUS_PRIOR_STR = "9.5E-1"

# entities 0..3 additionally carry an alias surface form
N_ALIASED = 4


def entity_iri(i: int) -> str:
    return f"{KG}entity/E{i}"


def primary_surface(i: int) -> str:
    return f"Entity{i:02d}"


def alias_surface(i: int) -> str:
    return f"Ent{i:02d}a"


def entity_type_term(i: int) -> str:
    return TYPE_TERMS[i % 3]


def entity_prior(i: int) -> float:
    if i == AMBIGUOUS_ENTITY:
        return AMBIGUOUS_PRIOR
    return PRIORS[i % 5]


def entity_prior_str(i: int) -> str:
    if i == AMBIGUOUS_ENTITY:
        return AMBIGUOUS_PRIOR_STR
    return PRIOR_STRS[i % 5]


def dictionary_rows() -> list[dict]:
    """The raw dictionary: one row per (entity, surface) pair."""
    rows = []
    for i in range(N_ENTITIES):
        rows.append(
            {
                "entity_id": entity_iri(i),
                "surface": primary_surface(i),
                "type_term": entity_type_term(i),
                "prior": entity_prior(i),
            }
        )
        if i < N_ALIASED:
            rows.append(
                {
                    "entity_id": entity_iri(i),
                    "surface": alias_surface(i),
                    "type_term": entity_type_term(i),
                    "prior": entity_prior(i),
                }
            )
    rows.append(
        {
            "entity_id": entity_iri(AMBIGUOUS_ENTITY),
            "surface": AMBIGUOUS_SURFACE,
            "type_term": entity_type_term(AMBIGUOUS_ENTITY),
            "prior": AMBIGUOUS_PRIOR,
        }
    )
    return rows


def resolved_link_map() -> dict[str, dict]:
    """surface -> winning entity row, resolved by link scoring:
    argmax(prior), ties broken by smallest entity_id. Computed once on
    the driver (the dictionary is static); the broadcast-join variant
    in operators/extract.py performs the same argmax distributedly."""
    best: dict[str, dict] = {}
    for row in dictionary_rows():
        cur = best.get(row["surface"])
        if cur is None or (row["prior"], cur["entity_id"]) > (cur["prior"], row["entity_id"]):
            best[row["surface"]] = row
    return best


def surface_pattern() -> str:
    """Regex alternation matching every known surface form (used for
    batched mention detection). Longest-first so aliases never shadow;
    equal lengths in lexical order, so the pattern does not depend on
    set iteration order (PYTHONHASHSEED)."""
    surfaces = sorted({r["surface"] for r in dictionary_rows()}, key=lambda s: (-len(s), s))
    return "(" + "|".join(surfaces) + ")"
