"""The benchmark's reported figures are derived from raw samples by
code; these pin each derivation on hand-made samples.

    python3 -m pytest layerbench/tests -q
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import derive  # noqa: E402
from derive import Span, StageSample  # noqa: E402


def _stage(sid, read=0, write=0, tasks=4, spill=0, run=100, p50=10.0, mx=10.0):
    return StageSample(sid, tasks, read, write, spill, run, p50, mx)


def test_docs_per_s_is_docs_over_median_wall():
    assert derive.docs_per_s(3000, [10.0, 12.0, 30.0]) == pytest.approx(250.0)
    assert derive.docs_per_s(100, [4.0]) == pytest.approx(25.0)


def test_cpu_per_1k_docs_uses_median_cpu():
    assert derive.cpu_s_per_1k_docs(2000, [9.0, 100.0, 10.0]) == pytest.approx(5.0)


def test_shuffle_kb_per_doc_sums_read_and_write_then_takes_median():
    op1 = [_stage(1, read=1024, write=2048), _stage(2, read=1024)]  # 4 KiB
    op2 = [_stage(3, write=10 * 1024)]  # 10 KiB
    op3 = [_stage(4, read=6 * 1024)]  # 6 KiB
    assert derive.shuffle_kb_per_doc([op1, op2, op3], 2) == pytest.approx(3.0)


def test_batch_p50_is_median_of_every_batch():
    assert derive.batch_p50_s([1.0, 5.0, 2.0, 4.0, 3.0]) == 3.0
    assert derive.batch_p50_s([2.0, 4.0]) == 3.0
    with pytest.raises(ValueError):
        derive.batch_p50_s([])


def test_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert derive.spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def _spans():
    # root 0..10 s with children: extract 1..3, pipeline-owned chain
    # 3..4 holding a nested lsh 3.2..3.7, and a second extract 5..6
    spans = [
        Span("pipeline", 0, None, "t", 0.0, 10.0, 0.0, 40.0, rows_out=7),
        Span("extract", 1, 0, "t", 1.0, 3.0, 1.0, 9.0, rows_out=100),
        Span("chain", 2, 0, "t", 3.0, 4.0, 9.0, 12.0),
        Span("lsh", 3, 2, "t", 3.2, 3.7, 9.5, 11.0, rows_out=5),
        Span("extract", 4, 0, "t", 5.0, 6.0, 12.0, 14.0, rows_out=20),
    ]
    return spans


def test_self_time_subtracts_direct_children_only():
    own = derive.self_values(_spans(), lambda s: s.duration)
    assert own[0] == pytest.approx(10.0 - 2.0 - 1.0 - 1.0)
    assert own[2] == pytest.approx(1.0 - 0.5)
    assert own[3] == pytest.approx(0.5)


def test_layer_table_self_times_reconcile_with_traced_wall():
    spans = _spans()
    stages = {
        1: [_stage(10, read=2048, tasks=3, run=50, p50=10.0, mx=30.0)],
        3: [_stage(11, write=1024, tasks=2, spill=2 * 1024**2)],
    }
    jobs = {0: 2, 1: 3, 3: 1, 4: 1}
    layers = ["extract", "chain", "lsh", "buckets", "pipeline"]
    t = derive.layer_table(layers, spans, stages, jobs, {"buckets.max_bucket": 9}, 8.5)
    assert t["extract.wall_s"] == pytest.approx(3.0)
    assert t["chain.wall_s"] == pytest.approx(0.5)
    assert t["pipeline.wall_s"] == pytest.approx(6.0)
    assert t["pipeline.unattributed_s"] == t["pipeline.wall_s"]
    assert sum(t[f"{layer}.wall_s"] for layer in layers) == pytest.approx(10.0)
    assert t["traced_overhead_s"] == pytest.approx(1.5)
    assert t["extract.cpu_s"] == pytest.approx(8.0 + 2.0)
    assert t["chain.cpu_s"] == pytest.approx(3.0 - 1.5)
    assert t["extract.jobs"] == 4 and t["pipeline.jobs"] == 2
    assert t["extract.shuffle_kb"] == pytest.approx(2.0)
    assert t["lsh.spill_mb"] == pytest.approx(2.0)
    assert t["extract.task_skew"] == pytest.approx(3.0)
    assert t["extract.rows_out"] == 120
    assert t["buckets.wall_s"] == 0.0 and t["buckets.max_bucket"] == 9
    assert t["lsh.yield"] == 0.0  # no candidate pairs recorded


def test_probe_span_outside_the_root_is_reported_but_not_reconciled():
    spans = _spans() + [Span("extract", 5, None, "t", 11.0, 13.0, 20.0, 26.0, rows_out=7)]
    layers = ["extract", "chain", "lsh", "pipeline"]
    t = derive.layer_table(layers, spans, {}, {5: 2}, {}, 8.5)
    assert t["extract.wall_s"] == pytest.approx(3.0 + 2.0)
    assert t["extract.cpu_s"] == pytest.approx(10.0 + 6.0)
    assert t["extract.jobs"] == 2 and t["extract.rows_out"] == 127
    under_root, wall = derive.reconcile(spans)
    assert under_root == pytest.approx(wall) == pytest.approx(10.0)
    assert t["traced_overhead_s"] == pytest.approx(1.5)


def test_lsh_yield_is_verified_over_candidates():
    spans = [
        Span("pipeline", 0, None, "t", 0.0, 4.0),
        Span("buckets", 1, 0, "t", 0.0, 1.0, rows_out=200),
        Span("lsh", 2, 0, "t", 1.0, 2.0, rows_out=50),
    ]
    t = derive.layer_table(["buckets", "lsh", "pipeline"], spans, {}, {}, {}, 4.0)
    assert t["buckets.candidate_pairs"] == 200
    assert t["lsh.yield"] == pytest.approx(0.25)


def test_task_skew_reads_the_stage_with_most_run_time():
    small = _stage(1, run=10, p50=1.0, mx=100.0)
    big = _stage(2, run=900, p50=20.0, mx=50.0)
    assert derive.task_skew([small, big]) == pytest.approx(2.5)
    assert derive.task_skew([]) == 1.0


def test_rewrite_share_counts_replaced_parent_files_per_merge():
    manifests = [
        {"version": 1, "parent": 0, "op": "merge", "files": ["a", "b"]},
        {"version": 2, "parent": 1, "op": "merge", "files": ["a", "c"]},
        {"version": 3, "parent": 2, "op": "merge", "files": ["d"]},
        {"version": 4, "parent": 3, "op": "append", "files": ["e"]},
    ]
    assert derive.rewrite_share(manifests) == pytest.approx((0.5 + 1.0) / 2)
