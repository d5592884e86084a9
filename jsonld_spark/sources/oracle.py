"""DuckDB oracle SQL generators for the KG pipeline queries.

The driver compares each Spark query against ANSI SQL run by DuckDB on
the same parquet tables (CORRECTNESS gate). Because the transcripts
table is derived deterministically from ``events`` (sources/
transcripts.py) and the entity dictionary is shared constants
(sources/entities.py), the *entire* pipeline — mention detection,
entity linking, JSON-LD expansion, node-map flattening, toRdf quad
emission, blank-node canonicalization, global dedup — has an exact
SQL golden built here from the same single source of truth.
"""

from __future__ import annotations

from jsonld_spark.kernel.rdf import RDF_TYPE, XSD_DOUBLE, XSD_INTEGER, XSD_STRING
from jsonld_spark.sources import entities as E
from jsonld_spark.sources.transcripts import transcripts_sql, transcripts_text_sql

V = E.VOCAB


def resolved_values_sql() -> str:
    """VALUES table of the *resolved* link map (surface -> winning
    entity), mirroring the literal map the Spark stage uses.
    ``prior_str`` is the canonical xsd:double lexical form;
    ``prior_repr`` is the Python/JSON shortest repr (what json.dumps
    prints for the native float in expanded documents)."""
    parts = []
    for surface, row in sorted(E.resolved_link_map().items()):
        i = int(row["entity_id"].rsplit("E", 1)[1])
        parts.append(
            f"('{surface}', '{row['entity_id']}', '{row['type_term']}', "
            f"'{E.entity_prior_str(i)}', '{E.entity_prior(i)!r}')"
        )
    return ("(VALUES " + ", ".join(parts)
            + ") AS lk(surface, entity_id, type_term, prior_str, prior_repr)")


def base_ctes(recursive: bool = False) -> str:
    """Shared CTEs: transcripts -> turns -> linked mentions.
    ``recursive=True`` emits WITH RECURSIVE so callers can append
    recursive CTEs without splicing the prefix textually."""
    return f"""
WITH{' RECURSIVE' if recursive else ''} tr AS ({transcripts_sql()}),
turns AS (
  SELECT conv_id, turn_idx, role, tool, ts, n_mentions, s0, s1, s2,
         {transcripts_text_sql()} AS text,
         '{E.KG}turn/' || conv_id || '/' || turn_idx AS turn_iri,
         '{E.KG}conv/' || conv_id AS conv_iri,
         md5(conv_id || '/' || turn_idx) AS tkey
  FROM tr
),
men AS (
  SELECT turns.*, j,
         CASE j WHEN 0 THEN s0 WHEN 1 THEN s1 ELSE s2 END AS surface,
         '_:h' || tkey || 'n' || j AS bnode
  FROM turns CROSS JOIN (VALUES (0), (1), (2)) AS js(j)
  WHERE j < n_mentions
),
linked AS (
  SELECT men.*, lk.entity_id, lk.type_term, lk.prior_str, lk.prior_repr
  FROM men JOIN {resolved_values_sql()} USING (surface)
)"""


def triples_select() -> str:
    """SELECT producing the canonical deduplicated triple set with the
    exact column names/types of the Spark pipeline output."""
    n = "CAST(NULL AS VARCHAR)"

    def row(subj, pred, kind, val, typ, lang=n):
        return (
            f"SELECT {n} AS graph, {subj} AS subject, {pred} AS predicate, "
            f"{kind} AS obj_kind, {val} AS obj_value, {typ} AS obj_type, {lang} AS obj_lang"
        )

    turn_rows = [
        row("turn_iri", f"'{RDF_TYPE}'", "'iri'", f"'{V}Turn'", n) + " FROM turns",
        row("turn_iri", f"'{V}atTime'", "'literal'",
            "strftime(ts, '%Y-%m-%d %H:%M:%S')", f"'{XSD_STRING}'") + " FROM turns",
        row("turn_iri", f"'{V}inConversation'", "'iri'", "conv_iri", n) + " FROM turns",
        row("turn_iri", f"'{V}role'", "'literal'", "role", f"'{XSD_STRING}'") + " FROM turns",
        row("turn_iri", f"'{V}turnIndex'", "'literal'", "CAST(turn_idx AS VARCHAR)",
            f"'{XSD_INTEGER}'") + " FROM turns",
        row("turn_iri", f"'{V}text'", "'literal'", "text", f"'{XSD_STRING}'") + " FROM turns",
        row("turn_iri", f"'{V}tool'", "'iri'", f"'{E.KG}tool/' || tool", n)
        + " FROM turns WHERE tool IS NOT NULL",
        row("turn_iri", f"'{V}mentions'", "'iri'", "bnode", n) + " FROM men",
    ]
    mention_rows = [
        row("bnode", f"'{RDF_TYPE}'", "'iri'", f"'{V}Mention'", n) + " FROM linked",
        row("bnode", f"'{V}rank'", "'literal'", "CAST(j AS VARCHAR)", f"'{XSD_INTEGER}'")
        + " FROM linked",
        row("bnode", f"'{V}surface'", "'literal'", "surface", f"'{XSD_STRING}'")
        + " FROM linked",
        row("bnode", f"'{V}score'", "'literal'", "prior_str", f"'{XSD_DOUBLE}'")
        + " FROM linked",
        row("bnode", f"'{V}target'", "'iri'", "entity_id", n) + " FROM linked",
    ]
    entity_rows = [
        # node objects under a property also emit the referencing edge
        # (generateNodeMap adds an {"@id"} back-reference, Processor.php:1978-1989)
        row("turn_iri", f"'{V}entities'", "'iri'", "entity_id", n) + " FROM linked",
        row("entity_id", f"'{RDF_TYPE}'", "'iri'", f"'{V}' || type_term", n)
        + " FROM linked",
        row("entity_id", f"'{V}label'", "'literal'", "surface", f"'{XSD_STRING}'")
        + " FROM linked",
    ]
    union = "\nUNION ALL\n".join(turn_rows + mention_rows + entity_rows)
    return f"SELECT DISTINCT * FROM (\n{union}\n)"


# corruption schedule shared by operators/kg_queries.parse_error_report
# and the oracle below — one source of truth for which turns quarantine
# and with which spec code (JsonLdException.php taxonomy)
PARSE_ERROR_MOD = 97
PARSE_ERROR_SLOTS = {
    13: ('{"broken', "loading document failed"),          # invalid JSON
    29: ('{"@id": 5, "a": "b"}', "invalid @id value"),     # spec error
    47: (None, "missing document"),                        # null payload
}


def kg_parse_errors_sql() -> str:
    """Oracle for the error-channel query: the corruption rule is
    deterministic in turn_idx, so the quarantined set and each row's
    spec error code (JsonLdException.php taxonomy) are predictable."""
    whens = " ".join(
        f"WHEN {slot} THEN '{code}'" for slot, (_, code) in sorted(PARSE_ERROR_SLOTS.items())
    )
    slots = ", ".join(str(s) for s in sorted(PARSE_ERROR_SLOTS))
    return f"""
WITH tr AS ({transcripts_sql()})
SELECT conv_id, turn_idx,
       CASE turn_idx % {PARSE_ERROR_MOD} {whens} END AS error_code
FROM tr
WHERE turn_idx % {PARSE_ERROR_MOD} IN ({slots})"""


def kg_entity_components_sql() -> str:
    """Oracle for the co-mention connected components: recursive
    transitive closure over the co-mention edges, component = MIN of
    the reachable set (DuckDB's UNION-deduped recursion terminates at
    the fixpoint — exact for the tiny entity vertex set)."""
    return (
        base_ctes(recursive=True)
        + """
, lk2 AS (SELECT DISTINCT conv_id, entity_id FROM linked),
edges AS (
  SELECT DISTINCT x.entity_id AS a, y.entity_id AS b
  FROM lk2 x JOIN lk2 y ON x.conv_id = y.conv_id AND x.entity_id <> y.entity_id),
reach(n, m) AS (
  SELECT entity_id, entity_id FROM (SELECT DISTINCT entity_id FROM lk2)
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
SELECT n AS entity_id, MIN(m) AS component FROM reach GROUP BY n"""
    )


def _graph_edges_ctes(recursive: bool = False) -> str:
    """Shared CTE chain ending in ``edges``: the directed IRI-edge
    projection of the triple table (operators/graph.iri_edges).
    MATERIALIZED: the graph analytics reference ``edges`` (and CTEs
    built on it) several times, and DuckDB's default CTE inlining
    re-evaluates the whole upstream chain per reference — measured 82 s
    vs 0.3 s on the triangle oracle at sf0.01."""
    return (
        base_ctes(recursive=recursive)
        + ",\ntri AS ("
        + triples_select()
        + """),
edges AS MATERIALIZED (
  SELECT DISTINCT subject AS src, obj_value AS dst FROM tri
  WHERE obj_kind = 'iri' AND subject <> obj_value)"""
    )


def kg_triangle_counts_sql() -> str:
    """Oracle for per-node triangle counts. The naive canonical a<b<c
    three-way self-join is quadratic at the E0 hub (~50M wedges with E0
    as the middle vertex — measured ~90 s at sf0.01), so this oracle
    shares the Spark side's degree-orientation idea, expressed in SQL.
    Algorithmic independence is therefore provided separately: the
    randomized differential test (tests/test_graph.py) checks the Spark
    operator against brute-force Python triangle enumeration; this
    oracle then pins the full pipeline (triples -> edges -> counts) at
    driver scale in a different engine."""
    return (
        _graph_edges_ctes()
        + """,
und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM edges),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node),
keyed AS MATERIALIZED (SELECT node, lpad(CAST(d AS VARCHAR), 12, '0') || '|' || node AS okey FROM deg),
oe AS MATERIALIZED (
  SELECT CASE WHEN ku.okey < kv.okey THEN e.u ELSE e.v END AS a,
         CASE WHEN ku.okey < kv.okey THEN e.v ELSE e.u END AS b,
         GREATEST(ku.okey, kv.okey) AS kb
  FROM und e JOIN keyed ku ON ku.node = e.u JOIN keyed kv ON kv.node = e.v),
tris AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM oe e1 JOIN oe e2 ON e2.a = e1.a AND e1.kb < e2.kb
  JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b),
corners AS (
  SELECT x AS node FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris)
SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node"""
    )


def kg_pagerank_sql(iterations: int = 3, scale: int = 10**9) -> str:
    """Oracle for fixed-point PageRank: the integer recurrence from
    operators/graph.pagerank_fixedpoint unrolled as one CTE pair per
    round (DuckDB ``//`` and Spark ``div`` agree on positive BIGINTs;
    integer sums are order-independent, so the match is exact)."""
    base = scale * 15 // 100
    sql = (
        _graph_edges_ctes()
        + f""",
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes)"""
    )
    for i in range(1, iterations + 1):
        sql += f""",
c{i} AS (
  SELECT e.dst AS node, SUM((r.r * 85) // (100 * o.d)) AS s
  FROM edges e JOIN outdeg o ON o.src = e.src JOIN r{i - 1} r ON r.node = e.src
  GROUP BY e.dst),
r{i} AS (
  SELECT n.node, CAST({base} + COALESCE(c{i}.s, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{i} ON c{i}.node = n.node)"""
    return sql + f"\nSELECT node, r AS rank_fp FROM r{iterations}"


def kg_negative_samples_sql(k: int, probes: int, bucket_chars: int) -> str:
    """Oracle for deterministic negative sampling: identical md5
    bucket keys, anti-join, and md5-ordered k-prefix in SQL — string
    hashing is engine-portable, so the match is exact."""
    return (
        _graph_edges_ctes()
        + f""",
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
buckets AS (SELECT node AS cand, substr(md5(node), 1, {bucket_chars}) AS bkt FROM nodes),
probes AS (
  SELECT node, substr(md5(node || '#' || i), 1, {bucket_chars}) AS bkt
  FROM nodes, UNNEST(range(0, {probes})) t(i)),
cand AS (
  SELECT DISTINCT p.node, b.cand
  FROM probes p JOIN buckets b USING (bkt)
  WHERE b.cand <> p.node),
non_edges AS (
  SELECT c.node, c.cand FROM cand c
  ANTI JOIN edges e ON e.src = c.node AND e.dst = c.cand),
ranked AS (
  SELECT node, cand,
         row_number() OVER (
           PARTITION BY node
           ORDER BY md5(node || '|' || cand), cand ASC) AS rank
  FROM non_edges)
SELECT node, cand AS negative, rank FROM ranked WHERE rank <= {k}"""
    )


def kg_neighbor_similarity_sql(max_deg: int, min_common: int) -> str:
    """Oracle for neighbor_similarity (operators/graph.py): Jaccard of
    hub-filtered undirected neighbor sets — same degree cap, same
    candidate semantics; MATERIALIZED CTEs for the multi-referenced
    tables (the DuckDB inlining landmine)."""
    return (
        _graph_edges_ctes()
        + f""",
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM edges WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT u AS n, v AS nb FROM und UNION ALL SELECT v, u FROM und),
nbdeg AS (SELECT nb, COUNT(*) AS d FROM adj GROUP BY nb),
small AS MATERIALIZED (
  SELECT a.n, a.nb FROM adj a JOIN nbdeg USING (nb) WHERE nbdeg.d <= {max_deg}),
fdeg AS MATERIALIZED (SELECT n, COUNT(*) AS fdeg FROM small GROUP BY n),
common AS (
  SELECT a.n AS node_a, b.n AS node_b, COUNT(*) AS n_common
  FROM small a JOIN small b ON a.nb = b.nb AND a.n < b.n
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_common})
SELECT node_a, node_b, n_common, fa.fdeg AS deg_a, fb.fdeg AS deg_b,
       CAST(n_common AS DOUBLE) /
         CAST(fa.fdeg + fb.fdeg - n_common AS DOUBLE) AS jaccard
FROM common
JOIN fdeg fa ON fa.n = node_a
JOIN fdeg fb ON fb.n = node_b"""
    )


def kg_negative_samples_degree_sql(
    k: int, probes: int, bucket_chars: int, unit: int, max_rep: int
) -> str:
    """Oracle for degree-weighted negative sampling
    (operators/graph.negative_samples_degree): candidate v carries
    min(max_rep, ceil(degree/unit)) bucket replicas keyed
    md5(v || ':' || j) — identical string hashing, anti-join, and
    md5-ordered k-prefix as the Spark side, so the match is exact."""
    return (
        _graph_edges_ctes()
        + f""",
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
  GROUP BY node),
buckets AS (
  SELECT node AS cand, substr(md5(node || ':' || j), 1, {bucket_chars}) AS bkt
  FROM deg, UNNEST(range(0, least({max_rep}, (degree + {unit - 1}) // {unit}))) t(j)),
probes AS (
  SELECT node, substr(md5(node || '#' || i), 1, {bucket_chars}) AS bkt
  FROM deg, UNNEST(range(0, {probes})) t(i)),
cand AS (
  SELECT DISTINCT p.node, b.cand
  FROM probes p JOIN buckets b USING (bkt)
  WHERE b.cand <> p.node),
non_edges AS (
  SELECT c.node, c.cand FROM cand c
  ANTI JOIN edges e ON e.src = c.node AND e.dst = c.cand),
ranked AS (
  SELECT node, cand,
         row_number() OVER (
           PARTITION BY node
           ORDER BY md5(node || '|' || cand), cand ASC) AS rank
  FROM non_edges)
SELECT node, cand AS negative, rank FROM ranked WHERE rank <= {k}"""
    )


def kg_path_conv_resources_sql() -> str:
    """Oracle for the property-path driver query
    ^inConversation / (entities | tool): formulated independently of
    the path compiler as one self-join on the shared turn (the
    compiler evaluates inverse, sequence, and alternation as separate
    relations) — only the result set must agree."""
    return (
        base_ctes()
        + ",\ntri AS ("
        + triples_select()
        + f""")
SELECT DISTINCT t1.obj_value AS conv, t2.obj_value AS resource
FROM tri t1 JOIN tri t2 ON t1.subject = t2.subject
WHERE t1.predicate = '{V}inConversation' AND t1.obj_kind = 'iri'
  AND t2.predicate IN ('{V}entities', '{V}tool') AND t2.obj_kind = 'iri'"""
    )


def kg_path_chain_closure_sql(prefix: str, nil: str, hops: int = 5) -> str:
    """Oracle for the bounded-closure driver query: the chain topology
    is pure positional arithmetic, so the closure's answer is written
    directly — (cell_i, cell_j) iff 0 < j - i <= hops, and
    (cell_i, nil) iff the chain end is within hops (len - i <= hops) —
    no recursion, structurally independent of the frontier algorithm."""
    return f"""
WITH n AS (SELECT n_nationkey AS k, n_nationkey % 7 + 2 AS len FROM nation),
pos AS (SELECT k, len, i FROM n, UNNEST(range(0, 8)) t(i) WHERE i < len)
SELECT '{prefix}' || k || '/' || i AS src,
       '{prefix}' || k || '/' || j AS dst
FROM (SELECT p1.k, p1.i, p2.i AS j
      FROM pos p1 JOIN pos p2 ON p1.k = p2.k
      WHERE p2.i - p1.i BETWEEN 1 AND {hops})
UNION ALL
SELECT '{prefix}' || k || '/' || i AS src, '{nil}' AS dst
FROM pos WHERE len - i <= {hops}"""


def kg_path_chain_closure_all_sql(prefix: str, nil: str) -> str:
    """Oracle for the UNBOUNDED-closure driver query (closure_all):
    rdf:rest+ over the same nation chains reaches every later cell and
    always reaches nil — the definitional answer (p U p^2 U ...)
    written as positional arithmetic with no hop cap, independent of
    the fixpoint algorithm."""
    return f"""
WITH n AS (SELECT n_nationkey AS k, n_nationkey % 7 + 2 AS len FROM nation),
pos AS (SELECT k, len, i FROM n, UNNEST(range(0, 8)) t(i) WHERE i < len)
SELECT '{prefix}' || k || '/' || i AS src,
       '{prefix}' || k || '/' || j AS dst
FROM (SELECT p1.k, p1.i, p2.i AS j
      FROM pos p1 JOIN pos p2 ON p1.k = p2.k AND p2.i > p1.i)
UNION ALL
SELECT '{prefix}' || k || '/' || i AS src, '{nil}' AS dst FROM pos"""


def kg_ppr_sql(seed: str, iterations: int = 3, scale: int = 10**9,
               reverse: bool = True) -> str:
    """Oracle for personalized PageRank: same unrolled integer
    recurrence as kg_pagerank_sql, but initial mass and teleport only
    on the seed node, edges optionally reversed (provenance
    direction), and only rank > 0 rows returned."""
    seed = seed.replace("'", "''")
    base = scale * 15 // 100
    flip = "SELECT dst AS src, src AS dst FROM edges" if reverse else "SELECT src, dst FROM edges"
    sql = (
        _graph_edges_ctes()
        + f""",
pe AS MATERIALIZED ({flip}),
nodes AS MATERIALIZED (SELECT src AS node FROM pe UNION SELECT dst FROM pe),
outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM pe GROUP BY src),
r0 AS (SELECT node, CAST(CASE WHEN node = '{seed}' THEN {scale} ELSE 0 END AS BIGINT) AS r FROM nodes)"""
    )
    for i in range(1, iterations + 1):
        sql += f""",
c{i} AS (
  SELECT e.dst AS node, SUM((r.r * 85) // (100 * o.d)) AS s
  FROM pe e JOIN outdeg o ON o.src = e.src JOIN r{i - 1} r ON r.node = e.src
  WHERE r.r > 0
  GROUP BY e.dst),
r{i} AS (
  SELECT n.node,
         CAST(CASE WHEN n.node = '{seed}' THEN {base} ELSE 0 END
              + COALESCE(c{i}.s, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{i} ON c{i}.node = n.node)"""
    return sql + f"\nSELECT node, r AS rank_fp FROM r{iterations} WHERE r > 0"


def _reach_cte(seed: str, k: int) -> str:
    """Shared depth-bounded reverse-BFS recursion (UNION dedups
    (node, d) pairs, d <= k terminates) — ONE copy of the 'within k
    hops' semantics for both the khop and ego oracles."""
    seed = seed.replace("'", "''")
    return f"""
reach(node, d) AS (
  SELECT '{seed}', 0
  UNION
  SELECT e.src, r.d + 1 FROM reach r JOIN edges e ON e.dst = r.node
  WHERE r.d < {k})"""


def kg_ego_subgraph_sql(seed: str, k: int) -> str:
    """Oracle for the ego subgraph: the k-hop reverse ball (shared
    recursion), then edges with both endpoints inside it."""
    return (
        _graph_edges_ctes(recursive=True)
        + ","
        + _reach_cte(seed, k)
        + """,
ball AS (SELECT DISTINCT node FROM reach)
SELECT src, dst FROM edges
WHERE src IN (SELECT node FROM ball) AND dst IN (SELECT node FROM ball)"""
    )


def kg_neighbor_sample_sql(k: int) -> str:
    """Oracle for the deterministic neighborhood sample: DuckDB's
    ordered list aggregate + list_slice mirror array_sort + slice."""
    return (
        _graph_edges_ctes()
        + f"""
SELECT src AS node, COUNT(*) AS n_neighbors,
       array_to_string(list_slice(list(dst ORDER BY dst), 1, {k}), '|') AS sample
FROM edges GROUP BY src"""
    )


def kg_degree_histogram_sql() -> str:
    return (
        _graph_edges_ctes()
        + """,
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
  GROUP BY node)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree"""
    )


def kg_path_nps_sql(excluded: list[str]) -> str:
    """Oracle for a negated-property-set step: one predicate NOT IN
    filter over the IRI edges of the triple table."""
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in excluded)
    return (
        base_ctes()
        + ",\ntri AS ("
        + triples_select()
        + f""")
SELECT DISTINCT subject AS src, obj_value AS dst
FROM tri
WHERE obj_kind = 'iri' AND predicate NOT IN ({quoted})"""
    )


def kg_khop_reach_sql(seed: str, k: int = 4) -> str:
    """Oracle for reverse k-hop reachability: the shared depth-bounded
    recursion, min-hop distance per node."""
    return (
        _graph_edges_ctes(recursive=True)
        + ","
        + _reach_cte(seed, k)
        + "\nSELECT node, CAST(MIN(d) AS INTEGER) AS dist FROM reach GROUP BY node"
    )


def kg_triples_sql() -> str:
    return base_ctes() + "\n" + triples_select()


def kg_entity_mentions_sql() -> str:
    return (
        base_ctes()
        + """
SELECT entity_id, COUNT(*) AS n_mentions, COUNT(DISTINCT conv_id) AS n_convs
FROM linked GROUP BY entity_id"""
    )


def kg_conversation_stats_sql() -> str:
    return (
        base_ctes()
        + """
SELECT conv_id,
       COUNT(*) AS n_turns,
       CAST(SUM(n_mentions) AS BIGINT) AS total_mentions,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM turns GROUP BY conv_id"""
    )


def kg_adjacency_sql() -> str:
    return (
        base_ctes()
        + f"""
, triples AS ({triples_select()})
SELECT subject,
       COUNT(DISTINCT predicate) AS n_predicates,
       COUNT(*) AS n_values
FROM triples GROUP BY subject"""
    )


def kg_adjacency_lists_sql() -> str:
    return (
        base_ctes()
        + f"""
, triples AS ({triples_select()})
SELECT subject,
       string_agg(predicate || '|' || obj_kind || '|' || obj_value || '|' ||
                  coalesce(obj_type, '') || '|' || coalesce(obj_lang, ''),
                  chr(10) ORDER BY predicate || '|' || obj_kind || '|' || obj_value || '|' ||
                  coalesce(obj_type, '') || '|' || coalesce(obj_lang, '')) AS edges,
       COUNT(*) AS n_edges
FROM triples GROUP BY subject"""
    )


def kg_characteristic_sets_sql() -> str:
    return (
        base_ctes()
        + f"""
, triples AS ({triples_select()}),
per_subj AS (
  SELECT subject,
         array_to_string(list_sort(list(DISTINCT predicate)), '|') AS charset,
         count(*) AS n
  FROM triples GROUP BY subject)
SELECT charset, count(*) AS n_subjects, CAST(sum(n) AS BIGINT) AS n_triples
FROM per_subj GROUP BY charset"""
    )


def kg_kcore_sql(k: int = 4, rounds: int = 6) -> str:
    """Unrolled peel rounds (mirrors graph.kcore_nodes' fixed budget;
    peeling is idempotent at the fixpoint so the identical round count
    yields the identical result)."""
    ctes = [
        "live0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, "
        "GREATEST(src, dst) AS v FROM edges)"
    ]
    for r in range(rounds):
        ctes.append(
            f"""keep{r} AS MATERIALIZED (
  SELECT node FROM (SELECT u AS node FROM live{r} UNION ALL SELECT v FROM live{r})
  GROUP BY node HAVING count(*) >= {k})"""
        )
        ctes.append(
            f"""live{r + 1} AS MATERIALIZED (
  SELECT u, v FROM live{r}
  WHERE u IN (SELECT node FROM keep{r}) AND v IN (SELECT node FROM keep{r}))"""
        )
    return (
        _graph_edges_ctes()
        + ",\n"
        + ",\n".join(ctes)
        + f"""
SELECT node, count(*) AS core_deg
FROM (SELECT u AS node FROM live{rounds} UNION ALL SELECT v FROM live{rounds})
GROUP BY node"""
    )


def kg_reverse_adjacency_sql() -> str:
    return (
        base_ctes()
        + f"""
, triples AS ({triples_select()})
SELECT obj_value AS node, COUNT(DISTINCT subject) AS n_in_subjects, COUNT(*) AS n_in_edges
FROM triples WHERE obj_kind = 'iri' GROUP BY obj_value"""
    )


def kg_nquads_sql() -> str:
    return (
        base_ctes()
        + f"""
, triples AS ({triples_select()})
SELECT CASE WHEN subject LIKE '_:%' THEN subject ELSE '<' || subject || '>' END
       || ' <' || predicate || '> '
       || CASE WHEN obj_kind = 'iri'
               THEN CASE WHEN obj_value LIKE '_:%' THEN obj_value
                         ELSE '<' || obj_value || '>' END
               ELSE '"' || replace(replace(obj_value, chr(10), '\\n'), '"', '\\"') || '"'
                    || CASE WHEN obj_lang IS NOT NULL THEN '@' || obj_lang
                            WHEN obj_type IS NOT NULL AND obj_type <> '{XSD_STRING}'
                              THEN '^^<' || obj_type || '>'
                            ELSE '' END
          END
       || ' .' AS line
FROM triples"""
    )


def kg_frame_head_mentions_sql() -> str:
    """Oracle for the frame query {@type: Mention, target: E0}."""
    return (
        base_ctes()
        + f"""
SELECT DISTINCT bnode AS subject FROM linked
WHERE entity_id = '{E.KG}entity/E0'"""
    )


def kg_frame_tool_turn_subgraph_sql() -> str:
    """Oracle for frame_subgraph({@type: Turn, tool: exists}, depth=1):
    all triples of tool-bearing turns plus triples of their direct
    objects (mention bnodes and referenced entities)."""
    return (
        base_ctes()
        + f"""
, triples AS ({triples_select()}),
sel AS (SELECT turn_iri FROM turns WHERE tool IS NOT NULL),
subs AS (
  SELECT turn_iri AS s FROM sel
  UNION
  SELECT bnode FROM linked WHERE turn_iri IN (SELECT turn_iri FROM sel)
  UNION
  SELECT entity_id FROM linked WHERE turn_iri IN (SELECT turn_iri FROM sel)
)
SELECT * FROM triples WHERE subject IN (SELECT s FROM subs)"""
    )


def kg_frame_turn_explicit_sql() -> str:
    """Oracle for frame_subgraph({@type: Turn, tool: {}}, depth=0,
    explicit=True): the tool-bearing turns' triples restricted to the
    frame-named predicates (rdf:type for "@type", plus the tool edge)
    — @explicit:true keeps only filter-matched properties and skips
    addMissingNodeProperties (Processor.php:2543 + 2780-2811)."""
    return (
        base_ctes()
        + f"""
, triples AS ({triples_select()})
SELECT * FROM triples
WHERE subject IN (SELECT turn_iri FROM turns WHERE tool IS NOT NULL)
  AND predicate IN ('{RDF_TYPE}', '{V}tool')"""
    )


def kg_frame_value_mentions_sql(prior_str: str, rank: int) -> str:
    """Oracle for the typed-value frame query
    {@type: Mention, score: <double>, rank: <int>} (VERDICT r3 #1):
    the frame's native float/int canonicalize to the literal forms the
    pipeline stores (``prior_str`` is the canonical xsd:double lexical
    form from the shared constants), so the match set is exactly the
    linked mentions with that prior and slot."""
    return (
        base_ctes()
        + f"""
SELECT DISTINCT bnode AS subject FROM linked
WHERE prior_str = '{prior_str}' AND j = {rank}"""
    )


def kg_frame_lang_labels_sql(prefix: str, langs: list[str], match: list[str]) -> str:
    """Oracle for the language-tagged frame query over the nation-
    derived label fixture: nation k carries an 'en' label plus one
    extra label in ``langs[k % len(langs)]``; the frame's multi-value
    spec [{"@language": m} for m in match] selects nations whose extra
    label language is in ``match``."""
    idxs = [i for i, lang in enumerate(langs) if lang in match]
    in_list = ", ".join(str(i) for i in idxs) or "-1"
    return f"""
SELECT DISTINCT '{prefix}' || n_nationkey AS subject FROM nation
WHERE n_nationkey % {len(langs)} IN ({in_list})
   OR 'en' IN ({", ".join("'" + m + "'" for m in match)})"""


def kg_frame_graph_scoped_sql(prefix: str, langs: list[str], match: list[str],
                              region: int) -> str:
    """Oracle for the graph-scoped frame query: the label fixture puts
    each nation's quads in its region's named graph, so scoping the
    language frame to one region intersects the language arithmetic
    with the region key."""
    idxs = [i for i, lang in enumerate(langs) if lang in match]
    in_list = ", ".join(str(i) for i in idxs) or "-1"
    return f"""
SELECT DISTINCT '{prefix}' || n_nationkey AS subject FROM nation
WHERE n_regionkey = {region}
  AND (n_nationkey % {len(langs)} IN ({in_list})
       OR 'en' IN ({", ".join("'" + m + "'" for m in match)}))"""


def kg_frame_tool_default_sql(default: str) -> str:
    """Oracle for frame_project({@type: Turn, tool: {@default: ...}},
    tool): every Turn subject with its tool IRI, the default filled
    where the property is absent (Processor.php:2644-2664)."""
    return (
        base_ctes()
        + f"""
SELECT turn_iri AS subject,
       COALESCE('{E.KG}tool/' || tool, '{default}') AS value
FROM turns"""
    )


# ---------------------------------------------------------------------------
# Document-transform oracles (VERDICT.md round-1 item #2): the per-turn
# payload is assembled by pure column expressions (operators/extract.py),
# so its expanded / compacted / flattened / fromRdf forms are exact,
# SQL-derivable JSON strings — including json.dumps(sort_keys=True) key
# order and ", " / ": " separators. The corpus text is ASCII-safe by
# construction (sources/transcripts.py), so no JSON escaping is needed.

_TS = "strftime(ts, '%Y-%m-%d %H:%M:%S')"
_J = "CAST(j AS VARCHAR)"
_TI = "CAST(turn_idx AS VARCHAR)"


def _expanded_mention_json(id_expr: str | None = None) -> str:
    """SQL expr: the expanded mention node object (sorted keys); with
    ``id_expr`` a leading "@id" member is included (flatten shape)."""
    id_part = f"'{{\"@id\": \"' || {id_expr} || '\", ' || " if id_expr else "'{' || "
    return (
        id_part
        + f"""'"@type": ["{V}Mention"], """
        + f""""{V}rank": [{{"@value": ' || {_J} || '}}], """
        + f""""{V}score": [{{"@type": "{XSD_DOUBLE}", "@value": ' || prior_repr || '}}], """
        + f""""{V}surface": [{{"@value": "' || surface || '"}}], """
        + f""""{V}target": [{{"@id": "' || entity_id || '"}}]}}'"""
    )


def _expanded_turn_json(entities_expr: str, mentions_expr: str) -> str:
    """SQL expr: the expanded turn node object (sorted keys), with the
    entities / mentions member arrays supplied by the caller."""
    return (
        f"""'{{"@id": "' || turn_iri || '", "@type": ["{V}Turn"], """
        + f""""{V}atTime": [{{"@value": "' || {_TS} || '"}}], """
        + f""""{V}entities": [' || {entities_expr} || '], """
        + f""""{V}inConversation": [{{"@id": "' || conv_iri || '"}}], """
        + f""""{V}mentions": [' || {mentions_expr} || '], """
        + f""""{V}role": [{{"@value": "' || role || '"}}], """
        + f""""{V}text": [{{"@value": "' || text || '"}}], ' || """
        + f"""CASE WHEN tool IS NOT NULL THEN '"{V}tool": [{{"@id": "{E.KG}tool/' || tool || '"}}], ' ELSE '' END || """
        + f"""'"{V}turnIndex": [{{"@value": ' || {_TI} || '}}]}}'"""
    )


def jsonld_expand_docs_sql() -> str:
    """Exact json.dumps(expand(doc), sort_keys=True) per turn."""
    return (
        base_ctes()
        + f"""
, ments AS (
  SELECT conv_id, turn_idx,
         string_agg({_expanded_mention_json()}, ', ' ORDER BY j) AS mentions_json,
         string_agg('{{"@id": "' || entity_id || '"}}', ', ' ORDER BY j) AS entities_json
  FROM linked GROUP BY 1, 2)
SELECT t.conv_id, t.turn_idx,
       '[' || {_expanded_turn_json("m.entities_json", "m.mentions_json")} || ']' AS doc
FROM turns t JOIN ments m USING (conv_id, turn_idx)"""
    )


def jsonld_compact_docs_sql() -> str:
    """Exact json.dumps(compact(expand(doc)), sort_keys=True) per turn:
    terms compact back, 1-element arrays collapse (compactArrays)."""
    mention_obj = (
        """'{"@type": "Mention", "rank": ' || """ + _J
        + """ || ', "score": ' || prior_repr || ', "surface": "' || surface"""
        + """ || '", "target": "' || entity_id || '"}'"""
    )
    return (
        base_ctes()
        + f"""
, ments AS (
  SELECT conv_id, turn_idx, COUNT(*) AS nm,
         string_agg({mention_obj}, ', ' ORDER BY j) AS mentions_json,
         string_agg('"' || entity_id || '"', ', ' ORDER BY j) AS entities_json
  FROM linked GROUP BY 1, 2)
SELECT t.conv_id, t.turn_idx,
       '{{"@id": "' || turn_iri || '", "@type": "Turn", "atTime": "' || {_TS} || '", '
       || '"entities": ' || CASE WHEN nm = 1 THEN entities_json
                                 ELSE '[' || entities_json || ']' END || ', '
       || '"inConversation": "' || conv_iri || '", '
       || '"mentions": ' || CASE WHEN nm = 1 THEN mentions_json
                                 ELSE '[' || mentions_json || ']' END || ', '
       || '"role": "' || role || '", "text": "' || text || '", '
       || CASE WHEN tool IS NOT NULL
               THEN '"tool": "{E.KG}tool/' || tool || '", ' ELSE '' END
       || '"turnIndex": ' || {_TI} || '}}' AS doc
FROM turns t JOIN ments m USING (conv_id, turn_idx)"""
    )


def jsonld_flatten_docs_sql() -> str:
    """Exact json.dumps(flatten(doc), sort_keys=True) per turn: mention
    bnodes relabel to _:b0.._:bN in first-visit order and sort before
    the turn IRI; node-map value dedup keeps the first occurrence of a
    duplicate entity reference; @id-only nodes (entity/conv/tool stubs)
    are pruned."""
    bnode = f"'_:b' || {_J}"
    return (
        base_ctes()
        + f"""
, ments AS (
  SELECT conv_id, turn_idx,
         string_agg({_expanded_mention_json(bnode)}, ', ' ORDER BY j) AS mnodes_json,
         string_agg('{{"@id": "_:b' || {_J} || '"}}', ', ' ORDER BY j) AS mrefs_json
  FROM linked GROUP BY 1, 2),
first_ents AS (
  SELECT conv_id, turn_idx, entity_id, MIN(j) AS fj
  FROM linked GROUP BY 1, 2, 3),
eagg AS (
  SELECT conv_id, turn_idx,
         string_agg('{{"@id": "' || entity_id || '"}}', ', ' ORDER BY fj) AS entities_json
  FROM first_ents GROUP BY 1, 2)
SELECT t.conv_id, t.turn_idx,
       '[' || m.mnodes_json || ', '
           || {_expanded_turn_json("e.entities_json", "m.mrefs_json")} || ']' AS doc
FROM turns t
JOIN ments m USING (conv_id, turn_idx)
JOIN eagg e USING (conv_id, turn_idx)"""
    )


def jsonld_fromrdf_nodes_sql() -> str:
    """Exact node JSON per subject for fromRdf(kg_triples,
    useNativeTypes=true): quads are canonically sorted inside each node
    (the operator's documented determinism rule), so value arrays sort
    by object; xsd:string/integer/double collapse to natives."""
    null_g = "CAST(NULL AS VARCHAR) AS graph"
    return (
        base_ctes()
        + f"""
, turn_ents AS (
  SELECT DISTINCT conv_id, turn_idx, entity_id FROM linked),
teagg AS (
  SELECT conv_id, turn_idx,
         string_agg('{{"@id": "' || entity_id || '"}}', ', ' ORDER BY entity_id) AS entities_json
  FROM turn_ents GROUP BY 1, 2),
mrefs AS (
  SELECT conv_id, turn_idx,
         string_agg('{{"@id": "' || bnode || '"}}', ', ' ORDER BY j) AS mrefs_json
  FROM men GROUP BY 1, 2),
ent_labels AS (
  SELECT DISTINCT entity_id, type_term, surface FROM linked),
eagg AS (
  SELECT entity_id, type_term,
         string_agg('{{"@value": "' || surface || '"}}', ', ' ORDER BY surface) AS labels_json
  FROM ent_labels GROUP BY 1, 2)
SELECT {null_g}, turn_iri AS subject,
       '{{"@id": "' || turn_iri || '", "@type": ["{V}Turn"], '
       || '"{V}atTime": [{{"@value": "' || {_TS} || '"}}], '
       || '"{V}entities": [' || e.entities_json || '], '
       || '"{V}inConversation": [{{"@id": "' || conv_iri || '"}}], '
       || '"{V}mentions": [' || m.mrefs_json || '], '
       || '"{V}role": [{{"@value": "' || role || '"}}], '
       || '"{V}text": [{{"@value": "' || text || '"}}], '
       || CASE WHEN tool IS NOT NULL
               THEN '"{V}tool": [{{"@id": "{E.KG}tool/' || tool || '"}}], '
               ELSE '' END
       || '"{V}turnIndex": [{{"@value": ' || {_TI} || '}}]}}' AS node
FROM turns t
JOIN teagg e USING (conv_id, turn_idx)
JOIN mrefs m USING (conv_id, turn_idx)
UNION ALL
SELECT {null_g}, bnode AS subject,
       '{{"@id": "' || bnode || '", "@type": ["{V}Mention"], '
       || '"{V}rank": [{{"@value": ' || {_J} || '}}], '
       || '"{V}score": [{{"@value": ' || prior_repr || '}}], '
       || '"{V}surface": [{{"@value": "' || surface || '"}}], '
       || '"{V}target": [{{"@id": "' || entity_id || '"}}]}}' AS node
FROM linked
UNION ALL
SELECT {null_g}, entity_id AS subject,
       '{{"@id": "' || entity_id || '", "@type": ["{V}' || type_term || '"], '
       || '"{V}label": [' || labels_json || ']}}' AS node
FROM eagg"""
    )


def kg_mention_detection_sql() -> str:
    """Oracle for the standalone mention-detection + linking operator."""
    return (
        base_ctes()
        + """
SELECT conv_id, turn_idx, CAST(j AS INT) AS rank, surface, entity_id
FROM linked"""
    )
