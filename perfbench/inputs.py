"""The run's input dir: the fixture tables plus a seeded ``events``.

``fixtures/sf<N>/`` holds a copy of the program's read-only fixture
tier (ten parquet tables, one row group each). An input dir links nine
of them unchanged and writes ``events.parquet`` from the workload seed:
the fixture's schema, row count, time range and value grid, with
``user_id``s drawn from a Zipf law over the fixture's users and ``ts``
arriving in bursts. ``event_type``, ``value`` and ``props`` are a seeded
resample of the fixture's rows, so every value is one the fixture has.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
BASE_SEED = 42
ZIPF_S = 1.1
DAY_US = 86_400 * 1_000_000


def fixture_dir(sf: float) -> str:
    path = os.path.join(FIXTURES, f"sf{sf:g}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no fixture tier for sf={sf:g} under {FIXTURES}")
    return path


def zipf_users(rng, n: int, n_users: int, s: float = ZIPF_S) -> np.ndarray:
    """``n`` user ids whose frequencies follow a Zipf law over
    ``n_users`` ranks; the rank-to-id map is a seeded permutation so the
    heavy users are not simply the smallest ids."""
    p = 1.0 / np.arange(1, n_users + 1) ** s
    ranks = rng.choice(n_users, n, p=p / p.sum())
    return rng.permutation(n_users)[ranks].astype(np.int64)


def bursty_offsets(rng, n: int, span_us: int) -> np.ndarray:
    """Sorted microsecond offsets in [0, span_us): 60% of events fall in
    short exponential bursts after random burst starts, the rest are
    spread uniformly."""
    n_burst = int(n * 0.6)
    starts = rng.integers(0, span_us, 240)
    burst = starts[rng.integers(0, len(starts), n_burst)] + rng.exponential(
        120e6, n_burst
    ).astype(np.int64)
    flat = rng.integers(0, span_us, n - n_burst)
    return np.sort(np.clip(np.concatenate([burst, flat]), 0, span_us - 1))


def seeded_events(fixture: pa.Table, seed: int) -> pa.Table:
    """The fixture's events with skewed users and bursty timestamps
    drawn from ``seed``; same schema, row count and whole-day time range."""
    rng = np.random.default_rng([BASE_SEED, seed])
    n = fixture.num_rows
    ts_us = fixture["ts"].cast(pa.int64()).to_numpy()
    start = ts_us.min() // DAY_US * DAY_US
    span = -(-(ts_us.max() + 1) // DAY_US) * DAY_US - start
    ts = start + bursty_offsets(rng, n, span)
    pick = pa.array(rng.integers(0, n, n))
    users = int(fixture["user_id"].to_numpy().max()) + 1
    cols = {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.int64()).cast(fixture.schema.field("ts").type),
        "user_id": pa.array(zipf_users(rng, n, users)),
        **{c: fixture[c].take(pick) for c in ("event_type", "value", "props")},
    }
    return pa.table([cols[f.name] for f in fixture.schema], schema=fixture.schema)


def make_inputs(out_dir: str, seed: int, sf: float = 0.1) -> str:
    """Fill ``out_dir`` with the ``sf`` fixture tier: links to every
    table but ``events``, which is written from ``seed``. Returns
    ``out_dir``."""
    src = fixture_dir(sf)
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(os.listdir(src)):
        if name.endswith(".parquet") and name != "events.parquet":
            os.symlink(os.path.join(src, name), os.path.join(out_dir, name))
    events = seeded_events(pq.read_table(os.path.join(src, "events.parquet")), seed)
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    return out_dir
