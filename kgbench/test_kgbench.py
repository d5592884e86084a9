"""Tests of the benchmark itself: seeded inputs, metric names, and the
oracle gate. Run with ``python3 -m pytest kgbench -q`` from the root
of a checkout."""

from __future__ import annotations

import json
import os
import re
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import goldens  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from jsonld_spark.operators.kg_pipeline import QUAD_COLUMNS  # noqa: E402
from jsonld_spark.sources import oracle as O  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(tmp_path, seed: int, n: int = 500) -> bytes:
    path = tmp_path / f"events-{seed}-{len(list(tmp_path.iterdir()))}.parquet"
    inputs.write_events(str(path), seed, n)
    return path.read_bytes()


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _bytes(tmp_path, 7) == _bytes(tmp_path, 7)


def test_other_seed_gives_other_inputs(tmp_path):
    assert _bytes(tmp_path, 7) != _bytes(tmp_path, 8)
    a, b = inputs.generate_events(7, 500), inputs.generate_events(8, 500)
    assert a.column("event_id") != b.column("event_id")
    assert a.schema == b.schema == inputs.SCHEMA


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_printed_names_are_declared():
    spec = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {name: unit for name, unit, _ in run.E2E_METRICS} == e2e
    assert {name: unit for name, unit, _ in layers.LAYER_METRICS} == per_layer
    for name in [*e2e, *per_layer]:
        assert NAME.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def triple_rows(tmp_path_factory):
    path = tmp_path_factory.mktemp("gate") / "events.parquet"
    inputs.write_events(str(path), 3, 200)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    cur = con.execute(O.kg_triples_sql())
    cols = [d[0] for d in cur.description]
    rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    con.close()
    return str(path), rows


def test_python_checksum_matches_duckdb_golden(triple_rows):
    path, rows = triple_rows
    golden = goldens.Goldens(path, 4, seed=3, mix=False)
    assert goldens.rows_checksum(rows, QUAD_COLUMNS) == golden.triples
    assert golden.lookup_subjects[0] == goldens.HEAD_ENTITY
    assert set(golden.lookups) == set(golden.lookup_subjects)


def test_gate_flags_perturbed_triple_sets(triple_rows):
    path, rows = triple_rows
    golden = goldens.Goldens(path, 4, seed=3, mix=False).triples
    altered = [dict(r) for r in rows]
    altered[5]["obj_value"] += "x"
    perturbed = {
        "altered": altered,
        "missing": rows[1:],
        "duplicated": rows + rows[:1],
        "graph set": [dict(r, graph="urn:g") if i == 0 else r for i, r in enumerate(rows)],
    }
    gate = goldens.Gate()
    assert gate.check("unchanged", goldens.rows_checksum(rows, QUAD_COLUMNS), golden)
    for name, bad in perturbed.items():
        assert not gate.check(name, goldens.rows_checksum(bad, QUAD_COLUMNS), golden), name
    assert (gate.attempted, gate.failed) == (1 + len(perturbed), len(perturbed))


def test_spark_checksum_matches_python(triple_rows):
    from pyspark.sql import SparkSession

    _, rows = triple_rows
    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        df = spark.createDataFrame([tuple(r[c] for c in QUAD_COLUMNS) for r in rows],
                                   ", ".join(f"{c} string" for c in QUAD_COLUMNS))
        assert goldens.spark_checksum(df, QUAD_COLUMNS) == goldens.rows_checksum(rows, QUAD_COLUMNS)
    finally:
        spark.stop()


def test_tail_has_ten_samples_beyond():
    value, pct, n = run.tail([float(i) for i in range(40)])
    assert (value, n) == (29.0, 40) and pct == 75.0
    assert sum(1 for x in range(40) if x > value) == 10
    assert run.tail([1.0, 2.0, 3.0])[1] == 50.0
    # sixteen samples: the tenth from the top is below the median
    assert run.tail([float(i) for i in range(16)]) == (7.5, 50.0, 16)
