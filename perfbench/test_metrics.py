"""Tests of the benchmark's own arithmetic and inputs (no Spark needed).

  python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import Sizes, customer_keys, generate, part_keys, table_digests  # noqa: E402
from layers import CR, HIGHER, PER_LAYER  # noqa: E402
from metrics import (  # noqa: E402
    failed_frac,
    latency_summary,
    nearest_rank,
    self_times,
    tail_percentile,
)

import numpy as np  # noqa: E402


# ---- percentile with >= 10 samples beyond it

@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (19, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0),
     (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_beyond(n, pct):
    assert tail_percentile(n) == pct


def test_tail_rule_brute_force():
    for n in range(1, 400):
        pct = tail_percentile(n)
        values = list(range(n))
        beyond = sum(1 for v in values if v > nearest_rank(values, pct))
        if pct != 50.0:
            assert beyond >= 10
            higher = [p for p in (99.9, 99.0, 95.0, 90.0, 75.0) if p > pct]
            for p in higher:  # no higher candidate qualifies
                assert sum(1 for v in values if v > nearest_rank(values, p)) < 10


def test_latency_summary_small_sample_falls_back_to_median():
    s = latency_summary([3.0, 1.0, 2.0])
    assert s == {"p50": 2.0, "tail": 2.0, "tail_pct": 50.0, "n": 3}


def test_latency_summary_tail():
    vals = [float(v) for v in range(1, 101)]
    s = latency_summary(vals)
    assert s["tail_pct"] == 90.0 and s["tail"] == 90.0 and s["p50"] == 50.5


def test_nearest_rank():
    assert nearest_rank([5, 1, 3, 2, 4], 50) == 3
    assert nearest_rank([5, 1, 3, 2, 4], 100) == 5
    assert nearest_rank([7], 0) == 7
    with pytest.raises(ValueError):
        nearest_rank([], 50)


# ---- failed_frac

def test_failed_frac():
    assert failed_frac(10, 0) == 0.0
    assert failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(3, 4)


# ---- span self time

def _span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(0, 10), _span(1, 3, 0), _span(5, 9, 0), _span(6, 7, 2)]
    assert self_times(spans) == [4, 2, 3, 1]


def test_self_time_overlapping_and_clipped_children():
    # children overlapping each other count once; a child outliving its
    # parent only counts inside the parent's interval
    spans = [_span(0, 10), _span(2, 6, 0), _span(4, 8, 0), _span(9, 12, 0)]
    assert self_times(spans)[0] == 10 - (6 + 1)


def test_tracer_records_nesting_and_self_time():
    from spans import Tracer

    tr = Tracer(True, "r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s["name"] for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[0]["run_id"] == "r"
    st = tr.self_time_by_name()
    total = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert st["outer"] + st["inner"] == pytest.approx(total)
    off = Tracer(False, "r")
    with off.span("x"):
        pass
    assert off.spans == []


# ---- seeded input generator

SIZES = Sizes(images=1000, points=5000, hot_share=0.4, polygons=50, query_points=30)


def test_same_seed_same_tables_other_seed_other_tables(tmp_path):
    a = table_digests(generate(7, str(tmp_path / "a"), SIZES))
    b = table_digests(generate(7, str(tmp_path / "b"), SIZES))
    c = table_digests(generate(8, str(tmp_path / "c"), SIZES))
    assert a == b
    assert all(a[t] != c[t] for t in a)


def test_part_keys_balance_variant_and_size_classes():
    for seed in (1, 2):
        k = part_keys(np.random.default_rng(seed), 840)
        assert len(set(k)) == 840 and k.max() < 10**8
        for m in (12, 7, 5):
            counts = np.bincount(k % m, minlength=m)
            assert counts.min() == counts.max()


def test_customer_keys_hot_share():
    k = customer_keys(np.random.default_rng(3), 10_000, 0.4)
    assert len(set(k)) == 10_000
    assert (k % 5 == 0).sum() == 4000


# ---- BENCHMARK.json agrees with the metric tables

def test_benchmark_json_matches_layers():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    for m in bench["per_layer"]:
        assert m["unit"] == PER_LAYER[m["name"]][0]
        assert m["better"] == ("higher" if m["name"] in HIGHER else "lower")
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]} | {CR}
    for name, (_unit, _layer, moves) in PER_LAYER.items():
        for metric, workload in moves:
            assert metric in e2e and workload in workloads, name


# ---- result digests

def test_digest_is_order_insensitive_and_value_sensitive():
    from oracle import digest_rows

    rows = [(1, 2, 3), (4, 5, 6), (7, 8, -9)]
    assert digest_rows(rows) == digest_rows(list(reversed(rows)))
    assert digest_rows(rows) != digest_rows([(1, 2, 3), (4, 5, 6), (7, 8, -8)])
    # a swapped pair keeps every column sum but changes the row hash
    assert digest_rows([(1, 2), (3, 4)]) != digest_rows([(1, 4), (3, 2)])
    assert digest_rows([]) == (0, 0)
