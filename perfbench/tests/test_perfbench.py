"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import timedelta

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import gen  # noqa: E402
import query_mix  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


# -- percentile rule ---------------------------------------------------------

def test_p90_needs_100_samples():
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 0.9)
    assert stats.percentile(list(range(100)), 0.9) == pytest.approx(89.1)


def test_p75_needs_40_samples():
    with pytest.raises(ValueError):
        stats.percentile(list(range(39)), 0.75)
    assert stats.percentile([float(x) for x in range(40)], 0.75) == pytest.approx(29.25)


def test_median_needs_ten_samples():
    assert stats.min_samples(0.5) == 10
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 9, 0.5)
    assert stats.percentile([3.0, 1.0, 2.0] * 4, 0.5) == 2.0


# -- metric names -------------------------------------------------------------

def test_metric_names_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert stats.METRIC_NAME.match(n), n


# -- seeded inputs ------------------------------------------------------------

def _lines(seed):
    return gen.nginx_lines(seed, 3, 200, gen.EPOCH, timedelta(hours=4))


def test_same_seed_same_log_batch():
    a, b = _lines(7), _lines(7)
    assert a.lines == b.lines and a.valid == b.valid and a.per_date == b.per_date
    assert _lines(8).lines != a.lines


def test_log_batch_valid_count_matches_edge_rows():
    b = _lines(7)
    kept = 0
    for line in b.lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if "status" in ev and ev["http_user_agent"] != gen.SCRUBBED_UA:
            kept += 1
    assert kept == b.valid == sum(b.per_date.values()) == len(b.rows)
    assert 0 < b.valid < len(b.lines)


def test_same_seed_same_doc_batches():
    def first(seed, k=3):
        it = gen.doc_batches(seed, 40)
        return [next(it) for _ in range(k)]

    a, b, c = first(5), first(5), first(6)
    assert [x.texts for x in a] == [x.texts for x in b]
    assert [x.fresh for x in a] == [x.fresh for x in b]
    assert [x.texts for x in a] != [x.texts for x in c]
    assert len(a[0].fresh) == 40 and len(a[1].fresh) == 32  # 20% near-dups


def test_tables_are_fixed_and_seeded():
    rows = {"events": 50, "documents": 30, "embeddings": 10}
    a, b = gen.table_frames(1, rows), gen.table_frames(1, rows)
    assert all(a[k].equals(b[k]) for k in a)
    assert not gen.table_frames(2, rows)["events"].equals(a["events"])


def test_op_sequence_is_seeded_and_cycles_a_fixed_multiset():
    ips = ["10.0.0.7", "10.0.1.7"]
    a = query_mix.op_sequence(3, 3, ips)
    assert a == query_mix.op_sequence(3, 3, ips)
    assert a != query_mix.op_sequence(4, 3, ips)
    n = len(query_mix.CYCLE)
    want = sorted(f"{f}:{q}" for f, q in query_mix.CYCLE if f in ("log", "corpus"))
    for c in range(3):
        cycle = a[c * n:(c + 1) * n]
        assert sorted(f"{f}:{q}" for f, q in cycle if f in ("log", "corpus")) == want
        fams = [f for f, _ in cycle]
        assert fams.count("lookup") == fams.count("window") == query_mix.SHORT_REPEAT
        assert fams.count("corpus") == len(query_mix.CORPUS_QUERIES)


# -- failure counting ---------------------------------------------------------

def test_failure_counting():
    assert stats.count_failures([True, True]) == (2, 0)
    assert stats.count_failures([True, False, False]) == (3, 2)
    assert stats.count_failures([]) == (0, 0)


# -- span arithmetic ----------------------------------------------------------

def test_union_and_self_time():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0
    # children overlap each other and spill past the parent's end
    assert stats.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4)


def test_layer_self_times_follow_nesting():
    op = {"name": "op", "start": 0.0, "end": 10.0}
    spans = [
        {"name": "registry.build", "start": 0.0, "end": 4.0},
        {"name": "spark.action", "start": 4.0, "end": 10.0},
        {"name": "spark.job", "start": 1.0, "end": 2.0},  # eager job in build
        {"name": "spark.job", "start": 5.0, "end": 9.0},
    ]
    got = tracing.layer_self_times(op, spans)
    assert got["op"] == pytest.approx(0.0)
    assert got["registry.build"] == pytest.approx(3.0)
    assert got["spark.action"] == pytest.approx(2.0)
    assert got["spark.job"] == pytest.approx(5.0)
    assert sum(got.values()) == pytest.approx(10.0)


def test_spans_assigned_to_ops_by_start():
    ops = [{"start": 0.0, "end": 1.0}, {"start": 2.0, "end": 3.0}]
    spans = [{"start": 0.5}, {"start": 1.5}, {"start": 2.0}]
    got = tracing.assign(ops, spans)
    assert [len(got[0]), len(got[1])] == [1, 1]


def test_trend_compares_each_op_with_itself():
    assert stats.trend([2.0] * 5 + [1.0] * 5, ["b"] * 10) == pytest.approx(-0.5)
    assert stats.trend([1.0] * 10, ["b"] * 10) == 0.0
    # a cheap op late in the run is not a trend; the same op speeding up is
    assert stats.trend([1.0, 3.0, 1.0, 3.0], ["x", "y", "x", "y"]) == 0.0
    assert stats.trend([2.0, 3.0, 1.0, 3.0], ["x", "y", "x", "y"]) == pytest.approx(-0.25)


# -- result digests -----------------------------------------------------------

def test_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"x": [1, 2], "y": ["a", None], "z": [0.5, float("nan")]})
    d = common.frame_digest(df)
    assert d == common.frame_digest(df.iloc[::-1])
    assert d == common.frame_digest(df[["z", "x", "y"]])
    assert d == common.frame_digest(df.astype({"x": "int32"}))  # widened to Int64
    assert d != common.frame_digest(df.assign(z=[0.5, 0.0]))
    assert d != common.frame_digest(df.rename(columns={"z": "w"}))
    assert d[0] == 2
