"""Cheap checks of the benchmark's own code: no Spark session, no sf0.1 data.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import compare, gen, stats  # noqa: E402
from perfbench.analytics import value_hash  # noqa: E402
from perfbench.run import END_TO_END, LAYER_OWNER, PER_LAYER, WORKLOADS  # noqa: E402
from perfbench.trace import metric_value  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator ----------------------------------------------------------------

def test_tick_series_is_deterministic_per_seed():
    a, b = gen.TickSeries(7), gen.TickSeries(7)
    for col in ("ts", "price", "size"):
        assert np.array_equal(getattr(a, col), getattr(b, col))
    assert np.array_equal(a.empty_days, b.empty_days)
    assert a.table().equals(b.table())
    # another seed gets other inputs
    assert not np.array_equal(a.ts, gen.TickSeries(8).ts)


def test_analytics_tables_are_deterministic_per_seed():
    for make in gen.ANALYTICS_TABLES.values():
        assert make(3, 0.001).equals(make(3, 0.001))
        assert not make(3, 0.001).equals(make(4, 0.001))


def test_tick_series_shape():
    s = gen.TickSeries(1)
    assert np.all(np.diff(s.ts) >= 0)
    assert 500_000 <= len(s) <= 1_500_000
    day = (s.ts - s.start_us) // gen.US_PER_DAY
    assert set(s.empty_days).isdisjoint(set(day.tolist()))
    assert len(s.empty_days) == gen.TICK_EMPTY_DAYS
    assert {0, s.days - 1} <= set(day.tolist())
    assert (np.diff(s.ts) == 0).mean() > 0.01  # duplicate timestamps


# -- percentile rule ----------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.99) == 1000
    assert stats.tail_supported(100, 0.9) and not stats.tail_supported(99, 0.9)
    with pytest.raises(ValueError):
        stats.quantile(range(99), 0.9)
    assert stats.quantile(range(101), 0.9) == pytest.approx(90.0)
    assert stats.quantile([3.0, 1.0, 2.0], 0.5) == 2.0


# -- metric names ---------------------------------------------------------------

def test_metric_names_are_valid_and_match_the_spec():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert stats.check_name(name) == name
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert e2e == END_TO_END
    assert layer == PER_LAYER
    assert set(LAYER_OWNER) <= set(PER_LAYER) and set(LAYER_OWNER.values()) <= set(WORKLOADS)
    assert not set(e2e) & set(layer)
    with pytest.raises(ValueError):
        stats.check_name("pass s")
    with pytest.raises(ValueError):
        stats.check_name("_leading")


def test_round_figures():
    r = stats.round_figures({"a": [1.0, 9.0, 2.0], "b": [0.5, 0.5], "c": [4.0]})
    assert r["round_s"] == pytest.approx(2.0 + 0.5 + 4.0)
    assert r["op_geomean_ms"] == pytest.approx(1e3 * (2.0 * 0.5 * 4.0) ** (1 / 3))


# -- stamps ---------------------------------------------------------------------

STAMP = {"workload": "tick_ingest", "sf": "ticks-16+14d", "cpus": 4, "seed": 1, "seconds": 15.0,
         "trace": 0, "spark": "4.1.2", "git_sha": "a" * 40, "source": "c" * 40}


def test_stamps_compare_only_like_runs():
    stats.check_comparable(STAMP, {**STAMP, "git_sha": "b" * 40, "source": "d" * 40})
    stats.check_comparable(STAMP, {**STAMP, "git_sha": None, "source": "d" * 40})  # outside git
    for key, other in (("sf", "ticks-16+20d"), ("cpus", 32), ("seed", 2), ("seconds", 10.0), ("spark", "3.5.1")):
        with pytest.raises(stats.StampMismatch):
            stats.check_comparable(STAMP, {**STAMP, key: other})
    with pytest.raises(stats.StampMismatch):
        stats.check_comparable(STAMP, {k: v for k, v in STAMP.items() if k != "cpus"})


def test_compare_refuses_mismatched_artifacts(tmp_path, capsys):
    def write(name, stamp, metrics):
        p = tmp_path / name
        p.write_text(json.dumps({"stamp": stamp, "metrics": metrics}))
        return str(p)

    m = {"setup_s": 20.0, "round_s": 2.0, "op_geomean_ms": 400.0, "upsert_p50_ms": 600.0}
    a = write("a.json", STAMP, m)
    b = write("b.json", {**STAMP, "git_sha": "b" * 40}, {**m, "setup_s": 22.0})
    bad = write("c.json", {**STAMP, "cpus": 32}, m)
    traced = write("t.json", {**STAMP, "trace": 1}, {**m, "op_geomean_ms": 430.0})
    assert compare.main([a, b]) == 0
    assert "1.100" in capsys.readouterr().out
    assert compare.main([a, bad]) == 3
    assert "refusing" in capsys.readouterr().err
    assert compare.main(["--overhead", a, traced]) == 0
    assert "+30.0000" in capsys.readouterr().out
    assert compare.main(["--overhead", a, b]) == 3


# -- output checks ----------------------------------------------------------------

def test_value_hash_is_order_insensitive_and_value_sensitive():
    df = pd.DataFrame({"b": [1.5, 2.5, 3.5], "a": [1, 2, 3],
                       "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])})
    shuffled = df.iloc[[2, 0, 1]][["a", "t", "b"]]
    assert value_hash(df) == value_hash(shuffled)
    assert value_hash(df) != value_hash(df.assign(b=[1.5, 2.5, 3.25]))
    assert value_hash(df)[0] == 3


def test_sql_metric_values_parse():
    assert metric_value("10,000") == 10000
    assert metric_value("215.9 KiB") == pytest.approx(215.9 * 1024)
    assert metric_value("326 ms") == pytest.approx(0.326)
    assert metric_value("total (min, med, max (stageId: taskId))\n312.5 KiB (78.1 KiB, 78.1 KiB)") == \
        pytest.approx(312.5 * 1024)
