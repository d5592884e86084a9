"""Synthetic multi-turn transcript table (BASELINE.json input_hint).

Schema: (conv_id string, turn_idx int, role string, text string,
tool string nullable, ts timestamp).

Derived *deterministically* from the driver-provided ``events`` table
with pure column expressions — no randomness, no UDFs — so the DuckDB
oracle can recompute the identical table in SQL and every downstream
KG query has an exact golden. Mention planting is skewed on purpose:
entity 0 appears in every turn where (event_id + j) % 3 == 0, i.e. in
roughly 44% of turns — the head-entity skew the north_rule requires
the canonicalization joins to survive.

Text template:  "Turn notes: S0[ then S1[ after S2]] done."
with 1 + event_id % 3 mentions; mention j resolves to entity index
0 when (event_id + j) % 3 == 0 else (event_id*7 + j*13) % 24, using
the alias surface when the entity has one and (event_id + j) % 5 == 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jsonld_spark.compiler import sql_literal
from jsonld_spark.plans.session import read_table
from jsonld_spark.sources import entities as E

ROLES = ["user", "assistant", "system", "tool"]
TOOL_EVENT_TYPES = ["click", "purchase", "signup"]
TEXT_PREFIX = "Turn notes: "
TEXT_SEP = [" then ", " after "]
TEXT_SUFFIX = " done."


def _mention_surface_sql(j: int) -> str:
    """SQL: the surface form used for mention j of a turn — entity index
    0 when (event_id + j) % 3 == 0 (the head-entity skew), else
    (event_id*7 + j*13) % N_ENTITIES; aliased entities use their alias
    when (event_id + j) % 5 == 0."""
    idx = (f"(CASE WHEN (event_id + {j}) % 3 = 0 THEN 0 "
           f"ELSE (event_id * 7 + {j * 13}) % {E.N_ENTITIES} END)")
    surfaces = ", ".join(sql_literal(E.primary_surface(i)) for i in range(E.N_ENTITIES))
    aliases = ", ".join(sql_literal(E.alias_surface(i)) for i in range(E.N_ALIASED))
    return (
        f"CASE WHEN {idx} < {E.N_ALIASED} AND (event_id + {j}) % 5 = 0 "
        f"THEN element_at(array({aliases}), CAST({idx} + 1 AS INT)) "
        f"ELSE element_at(array({surfaces}), CAST({idx} + 1 AS INT)) END"
    )


def _text_sql() -> str:
    """The turn-text expression (depends only on event_id)."""
    s0, s1, s2 = (_mention_surface_sql(j) for j in range(3))
    n_mentions = "(event_id % 3 + 1)"
    return (
        f"concat({sql_literal(TEXT_PREFIX)}, {s0}, "
        f"CASE WHEN {n_mentions} > 1 THEN concat({sql_literal(TEXT_SEP[0])}, {s1}) ELSE '' END, "
        f"CASE WHEN {n_mentions} > 2 THEN concat({sql_literal(TEXT_SEP[1])}, {s2}) ELSE '' END, "
        f"{sql_literal(TEXT_SUFFIX)})"
    )


# The derivation as Spark SQL text, built once: built as Columns call by
# call, each literal costs one py4j round trip (~130 ms for the text).
_CONV_ID_SQL = "concat('conv-', lpad(CAST(user_id AS STRING), 8, '0'))"
_ROLE_SQL = (f"element_at(array({', '.join(sql_literal(r) for r in ROLES)}), "
             "CAST(event_id % 4 + 1 AS INT))")
_TEXT_SQL = _text_sql()
_TRANSCRIPT_SQL = [
    f"{_CONV_ID_SQL} AS conv_id",
    "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx",
    f"{_ROLE_SQL} AS role",
    f"{_TEXT_SQL} AS text",
    f"CASE WHEN event_type IN ({', '.join(sql_literal(t) for t in TOOL_EVENT_TYPES)}) "
    "THEN event_type END AS tool",
    "ts",
]


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table under ``sf_dir`` -> transcripts, fully
    JVM-side and deterministic. A consumer that reads no ``turn_idx``
    (corpus-level entity facts, boilerplate frequencies, ``count()``)
    pays no window shuffle: Catalyst prunes the ``row_number`` window."""
    return read_table(spark, sf_dir, "events").selectExpr(*_TRANSCRIPT_SQL)


def transcript_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Just the text column of ``transcripts_from_events`` (kgbench's
    layer probes time entity facts over it)."""
    return transcripts_from_events(spark, sf_dir).select("text")


# The same derivation as a DuckDB SQL fragment (CTE body), kept next to
# the Spark version so they evolve together. `row_number` ordering and
# the modular arithmetic are identical.
def transcripts_sql() -> str:
    surfaces = ", ".join(f"'{E.primary_surface(i)}'" for i in range(E.N_ENTITIES))
    aliases = ", ".join(f"'{E.alias_surface(i)}'" for i in range(E.N_ALIASED))
    mention_exprs = []
    for j in range(3):
        mention_exprs.append(
            f"""
      CASE WHEN (event_id + {j}) % 3 = 0 THEN 0
           ELSE (event_id*7 + {j}*13) % {E.N_ENTITIES} END AS eidx{j},
      CASE WHEN (CASE WHEN (event_id + {j}) % 3 = 0 THEN 0
                      ELSE (event_id*7 + {j}*13) % {E.N_ENTITIES} END) < {E.N_ALIASED}
                AND (event_id + {j}) % 5 = 0
           THEN ([{aliases}])[1 + (CASE WHEN (event_id + {j}) % 3 = 0 THEN 0
                      ELSE (event_id*7 + {j}*13) % {E.N_ENTITIES} END)]
           ELSE ([{surfaces}])[1 + (CASE WHEN (event_id + {j}) % 3 = 0 THEN 0
                      ELSE (event_id*7 + {j}*13) % {E.N_ENTITIES} END)] END AS s{j}"""
        )
    return f"""
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         (['user','assistant','system','tool'])[1 + event_id % 4] AS role,
         CASE WHEN event_type IN ('click','purchase','signup') THEN event_type END AS tool,
         ts, event_id,
         CAST(1 + event_id % 3 AS INT) AS n_mentions,
         {",".join(mention_exprs)}
  FROM events
"""


def transcripts_text_sql() -> str:
    """SQL expression for the text column given the CTE above."""
    return (
        f"'{TEXT_PREFIX}' || s0 || "
        f"CASE WHEN n_mentions > 1 THEN '{TEXT_SEP[0]}' || s1 ELSE '' END || "
        f"CASE WHEN n_mentions > 2 THEN '{TEXT_SEP[1]}' || s2 ELSE '' END || "
        f"'{TEXT_SUFFIX}'"
    )
