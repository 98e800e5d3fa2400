"""Pure derivations from raw samples: every reported figure is computed
here from what the run recorded, never typed in.

No Spark and no I/O, so ``layerbench/tests`` pins each derivation on
hand-made samples.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def docs_per_s(n_docs: int, wall_samples: list[float]) -> float:
    """Throughput at the stated input size: docs over the median wall."""
    return n_docs / median(wall_samples)


def cpu_s_per_1k_docs(n_docs: int, cpu_samples: list[float]) -> float:
    """Median process-tree CPU seconds of one operation, per 1,000 docs."""
    return median(cpu_samples) / (n_docs / 1000.0)


@dataclass(frozen=True)
class StageSample:
    """One Spark stage attempt as the status store reports it."""

    stage_id: int
    tasks: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    run_time_ms: int
    task_p50_ms: float = 0.0
    task_max_ms: float = 0.0


def shuffle_bytes(stages: list[StageSample]) -> int:
    return sum(s.shuffle_read_bytes + s.shuffle_write_bytes for s in stages)


def shuffle_kb_per_doc(stages_per_op: list[list[StageSample]], n_docs: int) -> float:
    """Median over operations of (shuffle read + write) KiB per input doc."""
    return median([shuffle_bytes(st) / 1024.0 / n_docs for st in stages_per_op])


def batch_p50_s(batch_latencies: list[float]) -> float:
    """Median latency over every batch of every operation."""
    return median(batch_latencies)


def task_skew(stages: list[StageSample]) -> float:
    """max / median task run time of the stage with the most run time;
    1.0 when there is no stage or the median task took no time."""
    if not stages:
        return 1.0
    big = max(stages, key=lambda s: (s.run_time_ms, s.tasks))
    if big.task_p50_ms <= 0:
        return 1.0
    return big.task_max_ms / big.task_p50_ms


@dataclass
class Span:
    """One timed interval of the traced run.  ``parent`` is the
    ``span_id`` of the enclosing span (None for the root); every span
    of one run shares ``trace_id``."""

    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    rows_out: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu_end - self.cpu_start


def self_values(spans: list[Span], value) -> dict[int, float]:
    """Per span: ``value(span)`` minus the values of its direct
    children — the part of the interval no child covers."""
    own = {s.span_id: value(s) for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= value(s)
    return own


def layer_self(spans: list[Span], value) -> dict[str, float]:
    """Self values summed per span name."""
    out: dict[str, float] = {}
    own = self_values(spans, value)
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.span_id]
    return out


def rewrite_share(manifests: list[dict]) -> float:
    """Mean over MERGE commits that had a parent snapshot of the share
    of the parent's files the commit no longer references."""
    by_version = {m["version"]: m for m in manifests}
    shares = []
    for m in manifests:
        parent = by_version.get(m["parent"])
        if m["op"] != "merge" or not parent or not parent["files"]:
            continue
        kept = set(m["files"])
        replaced = sum(1 for f in parent["files"] if f not in kept)
        shares.append(replaced / len(parent["files"]))
    return sum(shares) / len(shares) if shares else 0.0


#: every layer of the ledger, in pipeline order; ``pipeline`` is the
#: remainder of a traced operation outside every other layer's span
LAYERS = [
    "extract", "fingerprints", "chain", "buckets", "lsh", "substring",
    "components", "ranking", "snapshots", "incremental", "pipeline",
]
#: per-layer metric names and units, in the order the table prints them
LAYER_FIELDS = [
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("shuffle_kb", "KiB"),
    ("spill_mb", "MiB"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_skew", "ratio"),
    ("rows_out", "count"),
]
#: layer-specific counts: name -> unit
LAYER_EXTRAS = {
    "buckets.candidate_pairs": "count",
    "buckets.overflow_buckets": "count",
    "buckets.max_bucket": "count",
    "lsh.yield": "ratio",
    "substring.overflow_anchors": "count",
    "incremental.skipped_known": "count",
    "snapshots.rewrite_share": "ratio",
    "pipeline.unattributed_s": "s",
    "traced_overhead_s": "s",
}


def layer_table(
    layers: list[str],
    spans: list[Span],
    stages: dict[int, list[StageSample]],
    jobs: dict[int, int],
    counts: dict[str, float],
    untraced_wall_s: float,
    root: str = "pipeline",
) -> dict[str, float]:
    """Every per-layer metric of one traced operation.

    ``stages`` and ``jobs`` are keyed by span id: a Spark job belongs to
    exactly the span whose job group it ran under, so they are already
    self counts.  Times and CPU are self values (span minus children),
    so the walls of the spans under the root sum to the root span's
    duration.  A top-level span other than the root is a probe run
    outside the traced wall: its layer's metrics come from it, and it
    is left out of that sum and of ``traced_overhead_s``.  A layer the
    workload never enters reads 0."""
    wall = layer_self(spans, lambda s: s.duration)
    cpu = layer_self(spans, lambda s: s.cpu)
    out: dict[str, float] = {}
    for layer in layers:
        mine = [s for s in spans if s.name == layer]
        st = [x for s in mine for x in stages.get(s.span_id, [])]
        out[f"{layer}.wall_s"] = wall.get(layer, 0.0)
        out[f"{layer}.cpu_s"] = cpu.get(layer, 0.0)
        out[f"{layer}.shuffle_kb"] = shuffle_bytes(st) / 1024.0
        out[f"{layer}.spill_mb"] = sum(x.spill_bytes for x in st) / 1024.0**2
        out[f"{layer}.jobs"] = sum(jobs.get(s.span_id, 0) for s in mine)
        out[f"{layer}.tasks"] = sum(x.tasks for x in st)
        out[f"{layer}.task_skew"] = task_skew(st)
        out[f"{layer}.rows_out"] = sum(s.rows_out for s in mine)
    candidates = out.get("buckets.rows_out", 0)
    for name in LAYER_EXTRAS:
        out[name] = counts.get(name, 0)
    out["buckets.candidate_pairs"] = candidates
    out["lsh.yield"] = out.get("lsh.rows_out", 0) / candidates if candidates else 0.0
    out["pipeline.unattributed_s"] = wall.get(root, 0.0)
    out["traced_overhead_s"] = reconcile(spans, root)[1] - untraced_wall_s
    return out


def reconcile(spans: list[Span], root: str = "pipeline") -> tuple[float, float]:
    """(sum of the self walls of every span under the root span, the
    root span's wall); equal by construction when each interval nests
    in its parent."""
    (top,) = [s for s in spans if s.parent is None and s.name == root]
    inside, todo = set(), [top.span_id]
    while todo:
        sid = todo.pop()
        inside.add(sid)
        todo.extend(s.span_id for s in spans if s.parent == sid)
    own = self_values(spans, lambda s: s.duration)
    return sum(own[i] for i in inside), top.duration
