"""The tail-percentile rule and the metric-name rules."""

import json
import os

import pytest

import run
import stats


def test_tail_leaves_ten_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90, 90, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_twenty_samples_is_median_rank():
    xs = [float(x) for x in range(20, 0, -1)]
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (10.0, 50, 20)


def test_tail_needs_more_than_ten():
    assert stats.tail(list(range(10))) is None
    value, pct, n = stats.tail(list(range(11)))
    assert (value, pct, n) == (0, 9, 11)


def test_name_charset():
    assert stats.valid_name("spark.jobs_per_req.fuzzy")
    assert stats.valid_name("p50_ms")
    assert not stats.valid_name("_hidden")
    assert not stats.valid_name("fuzzy p50")
    assert not stats.valid_name("a" * 65)
    assert stats.valid_unit("1/s") and stats.valid_unit("count")
    assert not stats.valid_unit("per second")


def _benchmark_json():
    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def test_emitted_metrics_are_valid_names():
    for name, unit in list(run.END_TO_END.items()) + list(run.per_layer_units().items()):
        assert stats.valid_name(name), name
        assert stats.valid_unit(unit), unit


def test_benchmark_json_matches_harness():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def _rec(op, ms):
    return {"op": op, "ok": True, "lat_s": ms / 1000.0}


def test_p50_gmean_weighs_every_type_equally():
    recs = [_rec("a", 100.0)] * 9 + [_rec("b", 400.0)]
    assert run.p50_gmean_ms(recs, ("a", "b")) == pytest.approx(200.0)
    # halving one of two types lowers it by sqrt(2), whatever the mix
    halved = [_rec("a", 100.0)] * 9 + [_rec("b", 200.0)]
    assert run.p50_gmean_ms(halved, ("a", "b")) == pytest.approx(200.0 / 2 ** 0.5)


def test_p50_gmean_needs_every_sent_type():
    with pytest.raises(run.NoSamples):
        run.p50_gmean_ms([_rec("a", 100.0)], ("a", "b"))
