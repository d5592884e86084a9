"""Ad-hoc driver-style oracle check: run selected queries() entries and
their oracle_sql() side-by-side and compare sorted row multisets.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
(defaults: /root/testdata/sf0.01 — the documented gate scale — and
all queries)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from jsonld_spark.plans.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    wanted = sys.argv[2:]
    # zstd spill: an sf0.1 sweep fills the disk under lz4 (plans/session.py)
    os.environ.setdefault("SPARK_GRAFT_IO_CODEC", "zstd")
    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = wanted or [n for n in queries if n in oracles]
    failures = 0
    from jsonld_spark.operators import scratch

    for name in names:
        try:
            # scope() releases only the caches THIS query tracked once
            # its rows are collected — a full 56-query sweep would
            # otherwise accumulate every operator-internal cache for
            # the session's lifetime (ADVICE r4). The registry's own
            # cached_triples/cached_edges are caller-owned and survive.
            with scratch.scope():
                sdf = queries[name](spark, sf_dir)
                cols = sorted(sdf.columns)
                srows = sorted(
                    tuple(str(r[c]) for c in cols) for r in sdf.collect()
                )
            # fetchall, NOT fetchdf: pandas coerces a nullable BIGINT
            # column to float64 (5 -> "5.0", NULL -> "nan") while the
            # Spark side renders "5"/"None" — native Python objects
            # from fetchall stringify identically on both sides
            cur = con.execute(oracles[name])
            ocols_raw = [d[0] for d in cur.description]
            order = sorted(range(len(ocols_raw)), key=lambda i: ocols_raw[i])
            ocols = [ocols_raw[i] for i in order]
            orows = sorted(
                tuple(str(row[i]) for i in order) for row in cur.fetchall()
            )
            ok = cols == ocols and srows == orows
            print(f"{name}: spark={len(srows)} oracle={len(orows)} "
                  f"cols={'ok' if cols == ocols else (cols, ocols)} "
                  f"{'MATCH' if ok else 'MISMATCH'}")
            if not ok:
                failures += 1
                for i, (a, b) in enumerate(zip(srows, orows)):
                    if a != b:
                        print(f"  first diff @{i}: spark={a} oracle={b}")
                        break
                if len(srows) != len(orows):
                    only_s = set(srows) - set(orows)
                    only_o = set(orows) - set(srows)
                    print(f"  spark-only sample: {list(only_s)[:3]}")
                    print(f"  oracle-only sample: {list(only_o)[:3]}")
        except Exception as exc:  # noqa: BLE001
            failures += 1
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
