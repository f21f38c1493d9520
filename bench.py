#!/usr/bin/env python3
"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = per-query wall clock of plan + execution (df.collect()): one
untimed warm-up pass over the whole set (JVM/codegen/arrow startup would
otherwise be billed to whichever query runs first), then median of 5
runs. ``spread`` records each query's interquartile range (VERDICT r4
#7): dq10/dq15 moved ±14% between identical plans across rounds, so the
IQR is what separates a real regression from warm-JVM jitter.
``cpu_sec`` (r14, VERDICT r13 #7) records each query's median CPU
seconds across the whole process subtree — python driver + local-mode
JVM (driver AND all executor threads) + Arrow python workers — read
from ``/proc/*/stat``: three straight rounds of bench deltas were host
drift on identical code (idle wall spread 8.0-12.4 s), and CPU time is
the signal that separates code regressions from a noisy neighbor — a
wall-clock move with flat CPU is the host, not the code.
``shuffle_read_bytes``/``shuffle_write_bytes``/``tasks`` (r15, VERDICT
r14 #7) close the remaining blind spot — a plan regression that trades
CPU for shuffle (same CPU, more Exchange): per-query deltas of the UI
REST API's stage totals (the public /api/v1 surface), measured around
the warm-up pass (shuffle volume is plan-determined, identical across
runs — no reason to re-measure 5×). Requires the UI, so bench flips
``SPARK_GRAFT_UI=true`` before building the session; when the UI is
off the keys are simply absent. The r1-r4 keys
(metric/value/unit/queries/sf) are unchanged so rounds stay
comparable; all later keys are additive. ``steal_contaminated`` is
true when host steal averaged more than 0.5 s per timed run.
"""

from __future__ import annotations

import statistics

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from blockchaintoavro_spark.plans import load_all
from blockchaintoavro_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))


def _host_steal_seconds() -> float | None:
    """Cumulative hypervisor steal seconds for the whole host from
    /proc/stat (field 8). The per-bench delta is recorded as the
    additive ``steal_sec`` key (VERDICT r16 #8): r16 documented host
    steal waves up to 527 s swinging identical-code walls 3×, and
    exposing the delta lets the driver/judge discount a noisy run
    instead of guessing. None on non-Linux → key absent."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu" or len(parts) < 9:
            return None
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None

# headline set (declared bench=True in the registry): flagship ETL, star
# join, Q1-style agg, sessionize, cosine top-k, token top-k, plus the
# LLM-pipeline ops (r3 VERDICT #2): minhash near-dup, dedup clustering,
# training-prep composite, and the round-5 surface (r5 VERDICT #4):
# substring dedup, MERGE upsert, JPEG decode — existing keys are
# unchanged so rounds stay comparable; new keys are additive


def _parse_sf(sf_dir: str):
    """'…/sf0.1' → 0.1; a custom dir without the sf convention reports
    its basename verbatim instead of a silently-wrong number."""
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        tail = base[2:]
        try:
            return float(tail)
        except ValueError:
            pass
    return base


def _subtree_cpu_seconds(root_pid: int) -> float | None:
    """Total user+system CPU seconds consumed so far by ``root_pid``
    and every live descendant — the python driver, the local-mode JVM
    (whose threads ARE the executors), and the Arrow python workers
    the JVM forked. Linux /proc only; returns None elsewhere so the
    bench degrades to wall clock."""
    try:
        # capability probe: kernels without CONFIG_PROC_CHILDREN have
        # no /proc/<pid>/task/<tid>/children — without this check the
        # walk would silently return DRIVER-ONLY CPU (a small non-None
        # float), recording a wildly undercounted cpu_sec instead of
        # degrading to wall clock
        me = os.getpid()
        with open(f"/proc/{me}/task/{me}/children"):
            pass
        tick = os.sysconf("SC_CLK_TCK")
        total, stack, seen = 0.0, [int(root_pid)], set()
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            try:
                with open(f"/proc/{p}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
                total += (int(parts[11]) + int(parts[12])) / tick
                tids = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue  # raced a dying process: its CPU is dropped
            for tid in tids:
                try:  # per-tid: one dying thread must not drop the
                    with open(f"/proc/{p}/task/{tid}/children") as f:
                        stack.extend(int(c) for c in f.read().split())
                except OSError:  # rest of the process's subtrees
                    continue
        return total
    except (OSError, ValueError):
        return None


def _stage_totals(spark):
    """``(shuffle_read_bytes, shuffle_write_bytes, complete_tasks)``
    summed over every stage the app has run, via the UI's public REST
    API. None when the UI is disabled or unreachable. Totals are
    cumulative, so a per-query delta is after − before; stage eviction
    (spark.ui.retainedStages) between two snapshots can only shrink a
    delta, so negatives are clamped by the caller."""
    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        import urllib.request

        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages", timeout=10
        ) as r:
            stages = json.loads(r.read())
        return (
            sum(s.get("shuffleReadBytes", 0) or 0 for s in stages),
            sum(s.get("shuffleWriteBytes", 0) or 0 for s in stages),
            sum(s.get("numCompleteTasks", 0) or 0 for s in stages),
        )
    except Exception:
        return None


def time_runs(run, n_runs: int) -> dict:
    """Call ``run()`` ``n_runs`` times back to back, timing each call.

    Returns ``{"wall": median s, "cpu": median process-subtree CPU s or
    None, "iqr": interquartile range of wall}`` rounded to ms; ``iqr``
    only when ``n_runs > 1``. The CPU reads sit outside the timed
    region; a worker dying mid-run can make a CPU delta dip below its
    true value, so deltas are clamped at 0."""
    pid = os.getpid()
    walls, cpus = [], []
    for _ in range(n_runs):
        c0 = _subtree_cpu_seconds(pid)
        t0 = time.perf_counter()
        run()
        walls.append(time.perf_counter() - t0)
        c1 = _subtree_cpu_seconds(pid) if c0 is not None else None
        if c1 is not None:
            cpus.append(max(0.0, c1 - c0))
    out = {
        "wall": round(statistics.median(walls), 3),
        "cpu": round(statistics.median(cpus), 3) if cpus else None,
    }
    if n_runs > 1:
        qs = statistics.quantiles(walls, n=4)  # [q1, median, q3]
        out["iqr"] = round(qs[2] - qs[0], 3)
    return out


def main() -> None:
    # the shuffle telemetry reads the UI REST API — enable it unless the
    # caller explicitly chose otherwise
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    steal0 = _host_steal_seconds()
    registry = load_all()
    bench_set = {n: q for n, q in sorted(registry.items()) if q.bench}
    spark = get_spark("bench")

    # warm-up pass: JVM, codegen paths, parquet footers — untimed; the
    # shuffle/task deltas are measured here (plan-determined, stable
    # across runs)
    shuffle_rd: dict[str, int] = {}
    shuffle_wr: dict[str, int] = {}
    task_counts: dict[str, int] = {}
    for name, q in bench_set.items():
        before = _stage_totals(spark)
        q.spark(spark, SF_DIR).collect()
        after = _stage_totals(spark) if before is not None else None
        if before is not None and after is not None:
            shuffle_rd[name] = max(0, after[0] - before[0])
            shuffle_wr[name] = max(0, after[1] - before[1])
            task_counts[name] = max(0, after[2] - before[2])

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    cpu_sec: dict[str, float] = {}
    for name, q in bench_set.items():
        r = time_runs(lambda: q.spark(spark, SF_DIR).collect(), N_RUNS)
        timings[name] = r["wall"]
        spreads[name] = r.get("iqr", 0.0)  # one run has no spread
        if r["cpu"] is not None:
            cpu_sec[name] = r["cpu"]

    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "runs": N_RUNS,
        "sf": _parse_sf(SF_DIR),
    }
    if cpu_sec:
        out["cpu_sec"] = cpu_sec
        out["cpu_total"] = round(sum(cpu_sec.values()), 3)
    if shuffle_rd:
        out["shuffle_read_bytes"] = shuffle_rd
        out["shuffle_write_bytes"] = shuffle_wr
        out["tasks"] = task_counts
    steal1 = _host_steal_seconds()
    if steal0 is not None and steal1 is not None:
        out["steal_sec"] = round(steal1 - steal0, 2)
        # perfbench calls up to 0.5 s of steal per pass normal on pinned
        # CPUs; past that, wall time tracks the host, not the code
        out["steal_contaminated"] = out["steal_sec"] / N_RUNS > 0.5
    # Hardening: BENCH_r15's stored line was lost to output
    # truncation. stdout keeps the EXACT single-JSON-line
    # contract every prior round parsed (a second stdout copy could
    # break a strict whole-output parser), and an identical safety copy
    # goes to stderr FIRST so a truncated stdout capture can be
    # recovered from the other stream. All keys are additive; the timed
    # action and methodology are unchanged.
    line = json.dumps(out)
    print(line, file=sys.stderr, flush=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
