import filecmp
import os

import numpy as np
import pyarrow.parquet as pq

import inputs


def test_seed_changes_events_only(tmp_path):
    a = inputs.make_inputs(str(tmp_path / "a"), seed=1, sf=0.001)
    b = inputs.make_inputs(str(tmp_path / "b"), seed=2, sf=0.001)
    again = inputs.make_inputs(str(tmp_path / "c"), seed=1, sf=0.001)
    fixture = inputs.fixture_dir(0.001)
    names = sorted(os.listdir(fixture))
    assert len(names) == 10 and sorted(os.listdir(a)) == names
    for name in names:
        if name == "events.parquet":
            assert filecmp.cmp(f"{a}/{name}", f"{again}/{name}", shallow=False)
            assert not filecmp.cmp(f"{a}/{name}", f"{b}/{name}", shallow=False)
        else:
            assert os.path.realpath(f"{a}/{name}") == os.path.join(fixture, name)


def test_events_keep_fixture_schema_range_and_grid(tmp_path):
    d = inputs.make_inputs(str(tmp_path), seed=5, sf=0.1)
    fix = pq.read_table(os.path.join(inputs.fixture_dir(0.1), "events.parquet"))
    ev = pq.read_table(f"{d}/events.parquet")
    assert ev.schema == fix.schema and ev.num_rows == fix.num_rows
    df, fx = ev.to_pandas(), fix.to_pandas()
    assert df.ts.is_monotonic_increasing and (df.event_id.values == np.arange(len(df))).all()
    assert df.ts.min().normalize() == fx.ts.min().normalize()
    assert df.ts.max().normalize() == fx.ts.max().normalize()
    assert set(df.user_id) <= set(fx.user_id)
    for c in ("event_type", "value", "props"):
        assert set(df[c]) <= set(fx[c])
    # Skew the fixture lacks: a few users carry a large share.
    top = df.user_id.value_counts().values
    assert top[:15].sum() > 0.3 * len(df) > fx.user_id.value_counts().values[:15].sum()


def test_bursty_offsets_cluster():
    span = 30 * inputs.DAY_US
    off = inputs.bursty_offsets(np.random.default_rng(0), 100_000, span)
    gaps = np.diff(off).astype(float)
    assert (off >= 0).all() and (off < span).all() and (gaps >= 0).all()
    assert gaps.std() / gaps.mean() > 1.5  # a Poisson stream has 1.0
