"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

import inputs
import run
import workloads
from stats import NAME_RE, content_hash, percentile, self_time, tail_percentile, union_length


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0.0) == 1.0
    assert percentile(xs, 1.0) == 4.0
    assert percentile(xs, 0.5) == pytest.approx(2.5)
    assert percentile(xs, 0.9) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        percentile([], 0.5)


@pytest.mark.parametrize(
    "n, p",
    [(9, None), (19, None), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75),
     (100, 0.9), (199, 0.9), (200, 0.95), (1000, 0.99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_union_length_merges_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_covered_part():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1, 4), (3, 6)]) == 5.0
    # a child that outlives its parent only covers the parent's part
    assert self_time(0.0, 10.0, [(8, 12)]) == 8.0


def test_content_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.2]})
    b = pd.DataFrame({"y": [0.2, 0.1], "x": [2, 1]})
    c = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.3]})
    assert content_hash(a) == content_hash(b)
    assert content_hash(a) != content_hash(c)


def test_same_seed_same_vectors():
    def make(seed):
        mix = inputs.mixture_for(seed, 2_000, 16)
        ids, x = inputs.corpus(mix, 2_000)
        return ids, x, inputs.queries(mix, 50), inputs.deltas(mix, 2_000, 100, 3)

    a, b, c = make(5), make(5), make(6)
    for u, v in zip(a[:3], b[:3]):
        assert np.array_equal(u, v)
    for (ui, ux), (vi, vx) in zip(a[3], b[3]):
        assert np.array_equal(ui, vi) and np.array_equal(ux, vx)
    assert not np.array_equal(a[1], c[1])


def test_deltas_have_disjoint_ids():
    mix = inputs.mixture_for(1, 1_000, 8)
    ids, _ = inputs.corpus(mix, 1_000)
    seen = set(ids.tolist())
    for d_ids, d_x in inputs.deltas(mix, 1_000, 50, 4):
        assert len(d_ids) == len(d_x) == 50
        assert seen.isdisjoint(d_ids.tolist())
        seen.update(d_ids.tolist())


def test_same_seed_same_tables():
    a, b = inputs.tables(3, 0.0001), inputs.tables(3, 0.0001)
    assert set(a) == set(workloads.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not inputs.tables(4, 0.0001)["lineitem"].equals(a["lineitem"])


def test_exact_check_allows_only_tied_swaps():
    corpus = np.array([[0.0], [1.0], [-1.0]] + [[float(i)] for i in range(2, 12)])
    ids = np.arange(len(corpus))
    q = np.array([[0.0]])
    t_ids, t_d = workloads.truth(corpus, ids, q)

    def frame(order):
        return pd.DataFrame(
            {"query_id": 0, "neighbor_id": order, "rn": range(1, len(order) + 1)}
        )

    tied = [int(i) for i in t_ids[0]]
    tied[1], tied[2] = tied[2], tied[1]  # ids 1 and 2 are both at distance 1
    assert workloads.exact_matches(frame(list(t_ids[0])), corpus, ids, q, t_d)
    assert workloads.exact_matches(frame(tied), corpus, ids, q, t_d)
    untied = [int(i) for i in t_ids[0]]
    untied[0], untied[1] = untied[1], untied[0]
    assert not workloads.exact_matches(frame(untied), corpus, ids, q, t_d)
    assert workloads.recall(
        pd.DataFrame({"query_id": 0, "vec_id": t_ids[0][:5]}), t_ids
    ) == 0.5


def _emitted_names() -> set[str]:
    s = workloads.Samples(op_s=[0.1] * 200, items=200)
    for kind in ("exact", "ann", "append", "pass"):
        s.walls[kind] = [1.0, 2.0]
    names = set(run.END_TO_END) | set(run.per_layer_units(workloads.PIPELINE_QUERIES))
    names |= {"failed_ops_frac", "load_probe_ms", "cold_pass_s", "insert_pts_per_s",
              "ann_recall_at_10", "index_bytes_per_vector_byte"}
    for cls in workloads.WORKLOADS.values():
        names |= set(cls.report(None, s))
    return names


def test_metric_names_match_pattern():
    bad = [n for n in _emitted_names() if not NAME_RE.fullmatch(n)]
    assert not bad


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units(
        workloads.PIPELINE_QUERIES
    )
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
