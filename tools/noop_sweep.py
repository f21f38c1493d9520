"""Noop-sink sweep over declared queries (guide §1.4), with optional
plan capture.

Each query runs through the noop sink, so the timing isolates the
computation from collect()'s row transfer (bench.py keeps its historical
collect() action so BENCH rounds stay comparable). Prints per-query wall
+ process-subtree CPU and the top 30 by CPU, so optimization work can
rank hotspots across the whole declared surface.

- ``--runs 1`` (default): one ranking pass, no warm-up — a ranking
  instrument, not a benchmark; anything that stands out gets a proper
  interleaved A/B before being believed.
- ``--runs N`` (N > 1): an untimed warm-up pass over the whole set, then
  N timed runs per query through ``bench.time_runs`` (wall median, IQR,
  CPU median).
- ``--explain TAG`` writes ``explain("formatted")`` of every query to
  ``plans/<TAG>/<query>.txt`` before anything runs.

Each record also carries ``codegen_compiles``: how many classes Janino
compiled during the query's timed runs (the ``CodegenMetrics``
compile-count delta). It does not depend on the host: in a ``--runs 1``
pass it counts the classes the query adds to the generated-class cache,
and after a warm-up it is 0 unless the cache is too small for the set
and evicts what the next run needs.

A query that raises is recorded under ``err`` and the sweep goes on.

Usage: python tools/noop_sweep.py [query ...] [--bench] [--runs N]
                                  [--explain TAG] [--out FILE]
  query   names to run; default every declared query
  --bench only the bench=True headline set
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import time_runs  # noqa: E402
from blockchaintoavro_spark.plans import load_all  # noqa: E402
from blockchaintoavro_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(spark, query, sf_dir: str) -> None:
    query.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:200]


def sweep(spark, queries: dict, sf_dir: str, runs: int = 1,
          explain_dir: str | None = None) -> dict:
    """Run every ``name → query`` (anything with ``.spark(spark, sf_dir)``)
    through the noop sink; return ``{name: record}``. A record holds
    ``wall``, ``cpu`` (None when /proc is unreadable) and
    ``codegen_compiles``, plus ``iqr`` when ``runs > 1``, or only ``err``
    when the query raised."""
    sc = spark.sparkContext
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount
    rows: dict[str, dict] = {}
    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)
        for name, q in queries.items():
            try:
                qe = q.spark(spark, sf_dir)._jdf.queryExecution()
                txt = sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            except Exception as e:
                rows[name] = {"err": _err(e)}
                continue
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(txt)
    if runs > 1:  # untimed warm-up: JVM, codegen, parquet footers
        for name, q in queries.items():
            if name in rows:
                continue
            sc.setJobDescription(f"warmup {name}")
            try:
                _noop(spark, q, sf_dir)
            except Exception as e:
                rows[name] = {"err": _err(e)}
    for name, q in queries.items():
        if name not in rows:
            sc.setJobDescription(f"sweep {name}")
            try:
                c0 = compiles()
                rows[name] = time_runs(lambda: _noop(spark, q, sf_dir), runs)
                rows[name]["codegen_compiles"] = compiles() - c0
            except Exception as e:  # keep sweeping; record the failure
                rows[name] = {"err": _err(e)}
        print(_line(name, rows[name]), flush=True)
    return rows


def _line(name: str, r: dict) -> str:
    if "err" in r:
        return f"{name:40s} ERR {r['err']}"
    cpu = r["cpu"] if r["cpu"] is not None else float("nan")
    iqr = f" ±{r['iqr']:.3f}" if "iqr" in r else ""
    return f"{name:40s} {r['wall']:8.3f}{iqr} {cpu:8.2f} {r['codegen_compiles']:5d}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--bench", action="store_true")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--explain", metavar="TAG")
    ap.add_argument("--out", metavar="FILE")
    args = ap.parse_args()

    registry = load_all()
    names = args.queries or sorted(
        n for n, q in registry.items() if q.bench or not args.bench
    )
    explain_dir = os.path.join(ROOT, "plans", args.explain) if args.explain else None
    spark = get_spark("noop-sweep")
    rows = sweep(spark, {n: registry[n] for n in names}, SF_DIR,
                 args.runs, explain_dir)

    ranked = sorted(
        (kv for kv in rows.items() if "err" not in kv[1]),
        key=lambda kv: -(kv[1]["cpu"] or 0),
    )
    print("\n== top 30 by CPU ==")
    for name, r in ranked[:30]:
        print(_line(name, r))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rows, f, indent=1, sort_keys=True)
        print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
