"""Steadiness self-check: run the benchmark over several seeds and report,
per workload, the spread of every end-to-end metric.

    python3 perfbench/selfcheck.py --seeds 1-10
    python3 perfbench/selfcheck.py --workloads dedup_corpus --seeds 1-5 --traced

Runs are sequential (one load-generating process at a time). The spread of
a metric is the distance between the first and third quartile of its
values, as a share of their median — the figure each ``bound`` in
``BENCHMARK.json`` is compared with. ``--traced`` adds one traced run per
workload and reports the tracing overhead as the traced ``docs_per_s``
against the untraced median. The summary is also written as JSON to
``.bench_run/selfcheck-<workloads>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--traced", action="store_true")
    args = p.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary: dict = {}
    ok = True
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            r = one_run(w, s, args.seconds, 0)
            ok &= r["correct"]
            runs.append(r)
            print(w, s, {k: round(v["value"], 4) for k, v in r["metrics"].items()}, flush=True)
        rows = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            sp = spread(vals) if len(vals) >= 2 else 0.0
            rows[name] = {"median": statistics.median(vals), "spread": sp, "bound": bound,
                          "steady": name == "setup_s" or sp <= bound / 3}
            print(f"  {name:32s} median {rows[name]['median']:.5g}  spread {sp:.4f}  bound {bound}"
                  f"{'' if rows[name]['steady'] else '  <-- above a third of its bound'}", flush=True)
        summary[w] = {"seeds": seeds(args.seeds), "metrics": rows,
                      "failed_batches": sum(r["failed"] for r in runs),
                      "attempted_batches": sum(r["attempted"] for r in runs)}
        if args.traced:
            t = one_run(w, seeds(args.seeds)[0], args.seconds, 1)
            traced = t["metrics"]["trace.docs_per_s"]["value"]
            summary[w]["trace_overhead"] = 1 - traced / rows["docs_per_s"]["median"]
            summary[w]["layers"] = {k: v["value"] for k, v in t["metrics"].items()}
            print(f"  tracing overhead {summary[w]['trace_overhead']:.3f} (traced docs_per_s {traced:.4g})", flush=True)
    out = os.path.join(ROOT, ".bench_run", f"selfcheck-{args.workloads.replace(',', '+')}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
