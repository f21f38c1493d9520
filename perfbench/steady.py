#!/usr/bin/env python3
"""Steadiness self-check: two sets of benchmark runs of the same code.

    python3 perfbench/steady.py

runs every workload in ``BENCHMARK.json`` in two sets of ten runs, each
run with its own seed. For each end-to-end metric and workload it prints
each set's median and quartiles, the spread (interquartile distance as a
share of the median, from ``statistics.quantiles(n=4)``) and whether

* each set's spread stays within the metric's bound in ``BENCHMARK.json``,
  and
* the two sets' medians agree: they differ by no more than the bound, in
  either direction.

Exits 0 when every metric and workload agrees, 1 otherwise. Raw results
go to ``.perfbench/steady.json`` and each run's stderr (with the host
steal it saw) to ``.perfbench/steady-logs/``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2
FIRST_SEED = 1000
LOGS = os.path.join(ROOT, ".perfbench", "steady-logs")


def one_run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    os.makedirs(LOGS, exist_ok=True)
    with open(os.path.join(LOGS, f"{workload}-{seed}.err"), "w") as err:
        proc = subprocess.run(
            cmd + ["--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
            text=True, timeout=600,
        )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seed = FIRST_SEED
    results: dict = {}
    for w in (w["name"] for w in spec["workloads"]):
        for s in range(SETS):
            runs = []
            for _ in range(RUNS):
                r = one_run(spec["command"], w, seed, spec["run_seconds"])
                print(f"{w} set {s + 1} seed {seed}: "
                      f"{ {k: round(v['value'], 3) for k, v in r['metrics'].items()} }",
                      file=sys.stderr, flush=True)
                seed += 1
                runs.append(r)
                if not r["correct"]:
                    print(f"{w}: seed {seed - 1} reported wrong output", flush=True)
            results.setdefault(w, []).append(runs)

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steady.json"), "w") as f:
        json.dump(results, f, indent=1)

    ok = True
    print(f"{'workload':<14} {'metric':<12} {'set':>3} {'q1':>10} {'median':>10} "
          f"{'q3':>10} {'spread':>7} {'bound':>6}  verdict")
    for w, sets in results.items():
        for name, bound in bounds.items():
            meds = []
            for k, runs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3, sp = spread(vals)
                meds.append(med)
                good = sp <= bound
                verdict = "ok" if good else "SPREAD"
                if good and sp > bound / 3:
                    verdict = "ok (above a third of the bound)"
                ok &= good
                print(f"{w:<14} {name:<12} {k + 1:>3} {q1:>10.4f} {med:>10.4f} "
                      f"{q3:>10.4f} {sp:>7.3f} {bound:>6.2f}  {verdict}")
            drift = (meds[1] - meds[0]) / meds[0]
            agree = abs(drift) <= bound
            ok &= agree
            print(f"{w:<14} {name:<12} set 2 vs 1: {drift:+.3f} "
                  f"{'agree' if agree else 'DISAGREE'}")
        fails = sum(r["failed"] for runs in sets for r in runs)
        tried = sum(r["attempted"] for runs in sets for r in runs)
        print(f"{w:<14} error_rate {fails}/{tried}")
        ok &= fails == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
