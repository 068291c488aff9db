"""Steadiness check: do two sets of runs of the same code agree?

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

Run from the root of a checkout. For each workload it makes ``--sets``
sets of ``--runs`` runs of ``perfbench/run.py`` with ``--trace 0``, one
seed per run (set k uses seeds k*1000+1 ...), and reports per metric the
median and quartiles of each set (``statistics.quantiles(n=4)``), the
spread (interquartile distance over the median) and whether

- every set's spread is within the metric's bound (``setup_s`` excepted),
- each later set's median is no worse than the first set's by more than
  the bound, in the metric's ``better`` direction.

It prints a table and, as its last line, one JSON object with every
number; the exit code is 0 only if all checks pass and every run was
correct.
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


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=180)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                           f"{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med, "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()

    report, ok = {}, True
    for wl in args.workloads.split(","):
        sets = []
        for k in range(args.sets):
            runs = []
            for r in range(args.runs):
                res = run_once(wl, k * 1000 + r + 1, spec["run_seconds"])
                ok &= res["correct"] and res["failed"] == 0
                runs.append(res)
                print(f"{wl} set {k} run {r}: " + " ".join(
                    f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                    flush=True)
            sets.append(runs)
        report[wl] = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [summarize([r["metrics"][name]["value"] for r in runs])
                     for runs in sets]
            sign = 1 if m["better"] == "lower" else -1
            drift = [sign * (s["median"] - stats[0]["median"])
                     / stats[0]["median"] for s in stats[1:]]
            spread_ok = name == "setup_s" or all(
                s["spread"] <= bound for s in stats)
            drift_ok = all(d <= bound for d in drift)
            ok &= spread_ok and drift_ok
            report[wl][name] = {"bound": bound, "sets": stats,
                                "drift": drift, "spread_ok": spread_ok,
                                "drift_ok": drift_ok}
            print(f"{wl:18s} {name:12s} bound {bound:.2f} | " + " | ".join(
                f"med {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] "
                f"spread {s['spread']:.3f}" for s in stats)
                + f" | drift {', '.join(f'{d:+.3f}' for d in drift)}"
                + ("" if spread_ok and drift_ok else "  <-- FAIL"))
    print(json.dumps({"ok": ok, "report": report}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
