"""Layer-ledger benchmark for deduplicator_spark.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process builds a ``local[<nproc>]``
session from the checkout's own sources, makes the seeded corpus,
warms up, then runs the workload's operation back to back, as many
times as take about ``--seconds`` (a fixed count per workload, at
least one), and reports medians over those operations.  Outputs are
checked after the timed section: an operation that fails a check
counts as failed and is not timed, and when the first operation (the
one checked against the truth) fails, no metric is reported.

``--trace 0`` prints every end-to-end metric.  ``--trace 1`` also runs
one traced operation whose layers run inside spans (one Spark job
group each) and prints every per-layer metric; the spans are written
to ``.layerbench_out/`` when the run ends.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under the checkout
(``.layerbench_work/`` is removed at exit).  Workload sizes and why
each workload exists: ``workloads.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import derive
from spans import descendants, stages_by_group

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "3g"
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_1k_docs": "s",
    "shuffle_kb_per_doc": "KiB",
    "pair_recall": "ratio",
    "batch_p50_s": "s",
}


def _code_digest() -> str:
    """sha256 over the library sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "deduplicator_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _isolate(work: Path, nproc: int) -> None:
    """Point every scratch location of Spark, the library and Python's
    tempfile at ``work`` and pin the worker count."""
    for d in ("tmp", "ckpt", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["DEDUP_CKPT_DIR"] = str(work / "ckpt")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher too: temp files under work,
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark, close the JVM's stdin so it exits, and wait for every
    process this run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "deduplicator_spark" / "__init__.py").is_file():
        print(f"layerbench: no deduplicator_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".layerbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work, nproc)
    load_before = os.getloadavg()

    from deduplicator_spark.session import build_session

    t0 = time.monotonic()
    spark = build_session(
        app_name="layerbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        session_s = time.monotonic() - t0
        wl = WORKLOADS[args.workload](spark, str(work / "run"), args.seed)
        t = time.monotonic()
        n_docs = wl.build_corpus()
        corpus_s = time.monotonic() - t
        t = time.monotonic()
        wl.warm_up()
        warm_s = time.monotonic() - t

        # --- timed: a fixed number of whole operations ---------------------
        t_start = time.monotonic()
        results = [wl.op() for _ in range(wl.ops_for(args.seconds))]
        measure_s = time.monotonic() - t_start
        traced = wl.traced_op() if args.trace else None

        # --- output checks, outside every timed section --------------------
        # Operation 1 is checked against the truth and the references;
        # every later operation, the traced one too, must reproduce its
        # clusters exactly.  An operation that fails is not timed.
        t = time.monotonic()
        ops = results + ([traced.result] if traced else [])
        recall, checks = wl.checks(ops[0])
        first_ok = all(ok for _, ok in checks)
        cols = ["url", "cluster_id", "cluster_size"]
        ref = set(map(tuple, ops[0].clusters.select(*cols).collect()))
        good = [first_ok]
        for i, r in enumerate(ops[1:], 2):
            same = set(map(tuple, r.clusters.select(*cols).collect())) == ref
            checks.append((f"operation {i} clusters equal operation 1", same))
            good.append(first_ok and same)
        for name, ok in checks:
            if not ok:
                print(f"CHECK FAILED: {name}")
        attempted, failed = len(ops), good.count(False)
        results = [r for r, ok in zip(results, good) if ok]
        checks_s = time.monotonic() - t

        walls = [r.wall_s for r in results]
        stages, op_jobs = stages_by_group(sc, {r.group for r in results})
        if not first_ok or (traced and not good[-1]):
            metrics = {}  # nothing is reported from a wrong operation
        elif traced:
            metrics = _per_layer(sc, traced, derive.median(walls), args.workload)
        else:
            values = {
                "setup_s": session_s + corpus_s + warm_s,
                "wall_s": derive.median(walls),
                "docs_per_s": derive.docs_per_s(n_docs, walls),
                "cpu_s_per_1k_docs": derive.cpu_s_per_1k_docs(n_docs, [r.cpu_s for r in results]),
                "shuffle_kb_per_doc": derive.shuffle_kb_per_doc(
                    [stages[r.group] for r in results], n_docs
                ),
                "pair_recall": recall,
                "batch_p50_s": derive.batch_p50_s([b for r in results for b in r.batch_s]),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
            for k, v in values.items():
                print(f"{args.workload:<24} {k:<20} {v:>14.4f} {E2E_UNITS[k]}")
        stamps = {
            "workload": args.workload,
            "seed": args.seed,
            "n_docs": n_docs,
            "nproc": nproc,
            "master": sc.master,
            "spark_version": spark.version,
            "code_digest": _code_digest(),
            "op_walls": [r.wall_s for r in ops],
            "op_batches": [r.batch_s for r in ops],
            "op_jobs": [op_jobs[r.group] for r in results],
            "session_s": session_s,
            "corpus_s": corpus_s,
            "ops_timed": len(results),
            "warm_up_s": warm_s,
            "measure_s": measure_s,
            "checks_s": checks_s,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
        }
        print("stamps " + json.dumps(stamps))
        if traced:
            out = ROOT / ".layerbench_out"
            out.mkdir(exist_ok=True)
            with open(out / f"{args.workload}-{args.seed}-{traced.tracer.trace_id}.json", "w") as fh:
                json.dump(
                    {"stamps": stamps, "spans": traced.tracer.as_records(), "metrics": metrics},
                    fh, indent=1,
                )
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".layerbench_work").rmdir()
        except OSError:  # another run still owns a sibling dir
            pass
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _per_layer(sc, traced, untraced_wall: float, workload: str) -> dict:
    """Per-layer metrics of the traced operation, printed as a table
    whose self times reconcile with the traced wall."""
    tr = traced.tracer
    groups = {tr.group(s): s.span_id for s in tr.spans}
    by_group, jobs = stages_by_group(sc, set(groups))
    table = derive.layer_table(
        derive.LAYERS,
        tr.spans,
        {sid: by_group[g] for g, sid in groups.items()},
        {sid: jobs[g] for g, sid in groups.items()},
        traced.counts,
        untraced_wall,
    )
    units = dict(derive.LAYER_EXTRAS)
    print(f"{'layer':<13}" + "".join(f"{f:>12}" for f, _ in derive.LAYER_FIELDS))
    for layer in derive.LAYERS:
        for f, u in derive.LAYER_FIELDS:
            units[f"{layer}.{f}"] = u
        print(f"{layer:<13}" + "".join(f"{table[f'{layer}.{f}']:>12.3f}" for f, _ in derive.LAYER_FIELDS))
    under_root, wall = derive.reconcile(tr.spans)
    probes = sorted({s.name for s in tr.spans if s.parent is None and s.name != "pipeline"})
    print(
        f"sum of layer self times under the traced wall = {under_root:.3f} s"
        f" (pipeline.unattributed_s {table['pipeline.unattributed_s']:.3f} s included);"
        f" traced wall = {wall:.3f} s; untraced median wall = {untraced_wall:.3f} s;"
        f" traced_overhead_s = {table['traced_overhead_s']:.3f} s"
        + (f"; probes outside the traced wall: {', '.join(probes)}" if probes else "")
    )
    for name in derive.LAYER_EXTRAS:
        print(f"{workload:<24} {name:<28} {table[name]:>14.4f} {units[name]}")
    return {k: {"value": v, "unit": units[k]} for k, v in table.items()}


if __name__ == "__main__":
    sys.exit(main())
