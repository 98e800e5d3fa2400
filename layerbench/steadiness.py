"""Steadiness evidence: run the benchmark once per seed on each
workload, in fresh processes, and report every end-to-end metric's
median, quartiles and inter-quartile spread as a share of the median.

    python3 layerbench/steadiness.py --workloads <name>... --seeds 1 2 3 ... \
        [--label set-a] [--out layerbench/STEADINESS.json]

Run from the root of a checkout.  With ``--out`` the set is stored
under ``--label`` in that JSON file (other labels are kept), so two
independent sets on the same code sit side by side.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

from derive import quartiles

HERE = Path(__file__).resolve().parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    cp = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=180, check=True,
    )
    lines = cp.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["elapsed_s"] = time.monotonic() - t0
    # set-up parts, per-operation walls and load average of the run
    out["stamps"] = next(json.loads(x[7:]) for x in lines if x.startswith("stamps "))
    return out


STAMP_KEYS = ["session_s", "corpus_s", "warm_up_s", "op_walls", "checks_s",
              "loadavg_before", "loadavg_after"]


def summarize(runs: list[dict], bench: dict) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = quartiles(vals)
        out[m["name"]] = {
            "values": vals, "q1": q1, "median": med, "q3": q3,
            "spread": (q3 - q1) / med, "bound": m["bound"],
        }
    out["elapsed_s"] = [r["elapsed_s"] for r in runs]
    out["all_correct"] = all(r["correct"] for r in runs)
    out["stamps"] = {k: [r["stamps"][k] for r in runs] for k in STAMP_KEYS}
    return out


def main() -> int:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--label", default="set")
    ap.add_argument("--out")
    args = ap.parse_args()
    summary = {}
    for w in args.workloads:
        runs = [run_once(w, s, bench["run_seconds"]) for s in args.seeds]
        summary[w] = summarize(runs, bench)
        for name in (m["name"] for m in bench["end_to_end"]):
            st = summary[w][name]
            print(f"{w:<24} {name:<20} median {st['median']:>12.4f} "
                  f"q1 {st['q1']:>12.4f} q3 {st['q3']:>12.4f} "
                  f"spread {st['spread']:.4f} (bound {st['bound']})", flush=True)
        print(f"{w:<24} elapsed per run {summary[w]['elapsed_s']}", flush=True)
    if args.out:
        path = Path(args.out)
        doc = json.loads(path.read_text()) if path.exists() else {}
        doc[args.label] = {"seeds": args.seeds, "workloads": summary}
        path.write_text(json.dumps(doc, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
