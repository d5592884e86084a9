"""DuckDB goldens and the order-independent checksum every pass is
checked with.

A result is summarised as ``(rows, checksum)``: the row count and the
sum over rows of the first 60 bits of md5(row key), where the row key
joins the row's columns (sorted by name, each cast to text, NULL as
\\x01) with \\x1f. The sum is order-independent and exact (Python
ints, DuckDB HUGEINT, Spark DECIMAL(38,0)), so duplicated, missing or
altered rows all change it. The same formula is written three times —
as DuckDB SQL for the goldens, as a Spark aggregate for large results
and in Python for collected rows — and the tests check that they agree.

Goldens come from ``jsonld_spark.sources.oracle``: the SQL the
repository's oracle check (``oracle_sql()``) uses, run by DuckDB over the generated ``events``
parquet registered as a view (as ``tools/check_oracles.py`` does).
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonld_spark.operators import graph
from jsonld_spark.operators.kg_pipeline import QUAD_COLUMNS
from jsonld_spark.sources import oracle as O
from jsonld_spark.sources.entities import VOCAB, entity_iri

SEP = "\x1f"
NULL = "\x01"
HEAD_ENTITY = entity_iri(0)
# the analytic mix of the query workload: frame, PageRank, k-hop BFS
# and a property path, each with the oracle SQL of the registry query
# of the same shape
HEAD_MENTION_FRAME = {"@type": VOCAB + "Mention", VOCAB + "target": HEAD_ENTITY}
MIX_COLUMNS = {
    "frame": ["subject"],
    "pagerank": ["node", "rank_fp"],
    "khop": ["dist", "node"],
    "paths": ["conv", "resource"],
}


def _mix_sql() -> dict[str, str]:
    return {
        "frame": O.kg_frame_head_mentions_sql(),
        "pagerank": O.kg_pagerank_sql(iterations=graph.PR_ITERATIONS, scale=graph.PR_SCALE),
        "khop": O.kg_khop_reach_sql(HEAD_ENTITY, k=graph.KHOP_DEFAULT_K),
        "paths": O.kg_path_conv_resources_sql(),
    }


class Gate:
    """The oracle gate: counts operations attempted and failed. A
    mismatch or an exception is a failure; neither is ever dropped."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, what: str, got, want) -> bool:
        self.attempted += 1
        if got != want:
            self.failed += 1
            print(f"[kgbench] MISMATCH {what}: got {got}, want {want}", file=sys.stderr, flush=True)
        return got == want

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"[kgbench] FAILED {what}", file=sys.stderr, flush=True)


def row_hash(values) -> int:
    key = SEP.join(NULL if v is None else str(v) for v in values)
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


def rows_checksum(rows, columns: list[str]) -> tuple[int, int]:
    """(count, checksum) of collected Spark Rows over ``columns``."""
    cols = sorted(columns)
    return len(rows), sum(row_hash(r[c] for c in cols) for r in rows)


def spark_checksum(df: DataFrame, columns: list[str]) -> tuple[int, int]:
    """(count, checksum) computed by one Spark aggregate job."""
    key = F.concat_ws(SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in sorted(columns)])
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    n, s = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(n), int(s or 0)


def _duck_key(columns: list[str]) -> str:
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), chr(1))" for c in sorted(columns))
    return f"concat_ws(chr(31), {parts})"


def _duck_hash(columns: list[str]) -> str:
    return f"('0x' || substr(md5({_duck_key(columns)}), 1, 15))::BIGINT"


class Goldens:
    """All expected results for one generated ``events.parquet``."""

    def __init__(self, events_path: str, n_lookup_subjects: int, seed: int, mix: bool):
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
            con.execute(f"CREATE TEMP TABLE tri AS {O.kg_triples_sql()}")
            n, s = con.execute(
                f"SELECT count(*), sum({_duck_hash(QUAD_COLUMNS)}) FROM tri"
            ).fetchone()
            self.triples = (int(n), int(s))
            # seed-chosen subjects of every kind (turn, mention, entity),
            # always including the head entity E0
            self.lookup_subjects, self.lookups = [], {}
            if n_lookup_subjects:
                picked = [r[0] for r in con.execute(
                    "SELECT subject FROM (SELECT DISTINCT subject FROM tri) "
                    f"WHERE subject <> ? ORDER BY md5(subject || '{int(seed)}') LIMIT ?",
                    [HEAD_ENTITY, n_lookup_subjects - 1],
                ).fetchall()]
                self.lookup_subjects = [HEAD_ENTITY, *picked]
                rows = con.execute(
                    f"SELECT subject, count(*), sum({_duck_hash(QUAD_COLUMNS)}) FROM tri "
                    "WHERE subject IN (SELECT unnest(?)) GROUP BY subject",
                    [self.lookup_subjects],
                ).fetchall()
                self.lookups = {subj: (int(c), int(h)) for subj, c, h in rows}
            self.mix = {}
            if mix:
                for name, sql in _mix_sql().items():
                    c, h = con.execute(
                        f"SELECT count(*), sum({_duck_hash(MIX_COLUMNS[name])}) FROM ({sql}) g"
                    ).fetchone()
                    self.mix[name] = (int(c), int(h or 0))
        finally:
            con.close()
