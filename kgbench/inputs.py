"""Seed-driven input generator for the benchmark.

Writes one ``events.parquet`` with the schema of the repository's
``events`` test tables (event_id int64, ts timestamp[us], user_id int64,
event_type string, value double, props string). The program receives
only this file: transcripts, payloads and mention skew then follow from
``jsonld_spark.sources.transcripts`` exactly as in production.

The seed varies what the pipeline's behaviour depends on, while the
event count stays fixed so that runs on different seeds do comparable
work. Each range is centred on the value measured on the repository's
``sf0.1`` events table (100,000 events; see kgbench/README.md):

- the event ids: contiguous (every gap is 1, as measured) from a
  seed-chosen start; they decide each turn's mentions, role and text;
- the conversation-length distribution (``user_id`` multiplicity):
  mean turns per user within 15% of the measured 66.7, and a Zipf
  exponent of events over users within 0.05 of the measured 0 (users
  are drawn uniformly there); the sign only says whether low or high
  user ids are the heavier ones;
- the tool-event share (click/purchase/signup against view/error)
  within 0.05 of the measured 0.60.

As measured, user ids are contiguous from 0, timestamps rise with the
event id over thirty days, and the event types within each group are
equally likely.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOOL_EVENT_TYPES = ["click", "purchase", "signup"]
OTHER_EVENT_TYPES = ["view", "error"]
SPAN_US = 30 * 86400 * 10**6  # thirty days of event time
# measured on sf0.1/events.parquet (DuckDB): 100,000 events over 1,500
# users, 60,249 of them click/purchase/signup
MEASURED_TURNS_PER_USER = 100000 / 1500
MEASURED_TOOL_SHARE = 0.6025

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def input_profile(seed: int) -> dict:
    """The seed-chosen distribution parameters (printed with each run)."""
    rng = np.random.default_rng([seed, 0])
    return {
        "id_start": int(rng.integers(0, 10**6)),
        "mean_turns": float(MEASURED_TURNS_PER_USER * rng.uniform(0.85, 1.15)),
        "user_skew": float(rng.uniform(-0.05, 0.05)),
        "tool_share": float(MEASURED_TOOL_SHARE + rng.uniform(-0.05, 0.05)),
    }


def generate_events(seed: int, n_events: int) -> pa.Table:
    """The ``events`` table for ``seed``; same seed, same table."""
    p = input_profile(seed)
    rng = np.random.default_rng([seed, 1])
    event_id = p["id_start"] + np.arange(n_events)
    n_users = max(1, round(n_events / p["mean_turns"]))
    weights = np.arange(1, n_users + 1, dtype=np.float64) ** -p["user_skew"]
    user_id = rng.choice(n_users, n_events, p=weights / weights.sum())
    is_tool = rng.random(n_events) < p["tool_share"]
    event_type = np.where(
        is_tool, rng.choice(TOOL_EVENT_TYPES, n_events), rng.choice(OTHER_EVENT_TYPES, n_events)
    )
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, SPAN_US, n_events)
    ).astype("timedelta64[us]")
    value = np.round(rng.exponential(50.0, n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    return pa.table(
        [event_id.astype(np.int64), ts, user_id.astype(np.int64), event_type.tolist(), value, props],
        schema=SCHEMA,
    )


def write_events(path: str, seed: int, n_events: int) -> None:
    pq.write_table(generate_events(seed, n_events), path)
