"""Data-quality expectation checking and MERGE/upsert maintenance —
the pipeline-guardrail surface around the ETL core.

The reference's analog is its per-record write-retry + per-file
load-retry discipline (``BitcoinBlockHandler.java:35``,
``Main.java:189-191``): malformed data must surface as accounted-for
failures, never as silent drops. Here that becomes declarative:

- :func:`expect` / :func:`validate`: evaluate named boolean rules over
  every row IN ONE PASS (each rule an aggregated conditional count — no
  per-rule scans, no row explosion), returning a violations summary.
  This is the Deequ/Great-Expectations shape re-expressed as a single
  Catalyst aggregate.
- :func:`check_rows`: per-row violation detail for quarantine sinks —
  rows failing any rule, with the list of failed rule names attached
  (array_compact of when-expressions; row-local, zero shuffle until the
  caller writes).
- :func:`merge_upsert`: MERGE INTO semantics without a table format —
  full-outer join on the key: matched rows take the source values,
  unmatched target rows persist, unmatched source rows insert. One
  shuffle on the key (or none, if both sides are tables written with
  ``bucketBy``/``sortBy`` on it).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    predicate: Column  # True = row passes


def expect(name: str, predicate: Column) -> Expectation:
    """Declare a named row-level rule (True = pass). Nulls count as
    violations — an unknown value does not satisfy a constraint."""
    return Expectation(name, predicate)


def validate(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """One-pass rule summary: ``(rule, n_violations, violation_rate)``.

    All rules evaluate inside a single aggregate over one scan — adding
    a rule adds a conditional-count expression, not a pass over 100 TB.
    Null predicate results are violations (SQL three-valued logic would
    otherwise silently pass unknowns).
    """
    if not rules:
        raise ValueError("validate needs at least one expectation")
    aggs = [F.count(F.lit(1)).alias("_total")] + [
        F.coalesce(  # SUM over zero rows is NULL, not 0
            F.sum(F.when(r.predicate.isNull() | ~r.predicate, 1).otherwise(0)),
            F.lit(0),
        ).alias(f"_v_{i}")
        for i, r in enumerate(rules)
    ]
    row = df.agg(*aggs)
    per_rule = F.array(
        *[
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(f"_v_{i}").cast("long").alias("n_violations"),
                F.when(F.col("_total") > 0, F.col(f"_v_{i}") / F.col("_total"))
                .otherwise(F.lit(0.0))
                .alias("violation_rate"),
            )
            for i, r in enumerate(rules)
        ]
    )
    return row.select(F.explode(per_rule).alias("r")).select(
        "r.rule", "r.n_violations", "r.violation_rate"
    )


def check_rows(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Per-row violation detail: rows failing ≥1 rule, plus
    ``failed_rules`` (sorted array of rule names). Row-local expressions
    only — feed this straight to a quarantine sink."""
    if not rules:
        raise ValueError("check_rows needs at least one expectation")
    failed = F.array_sort(
        F.array_compact(
            F.array(
                *[
                    F.when(
                        r.predicate.isNull() | ~r.predicate, F.lit(r.name)
                    )
                    for r in rules
                ]
            )
        )
    )
    return df.withColumn("failed_rules", failed).filter(
        F.size("failed_rules") > 0
    )


def merge_upsert(
    target: DataFrame, source: DataFrame, key: str | list[str]
) -> DataFrame:
    """MERGE INTO target USING source: WHEN MATCHED THEN UPDATE (source
    wins), WHEN NOT MATCHED THEN INSERT — returned as the merged
    snapshot (no table format required; write it back with overwrite or
    feed a rotation sink).

    Both sides must share the same schema. One full-outer join on the
    key: the merged row takes every non-key column from the source when
    the source side matched, else from the target. At 100 TB write
    both sides as tables bucketed and sorted by the key (``bucketBy`` +
    ``sortBy`` + ``saveAsTable``) and the join is shuffle-free
    (tests/test_plans.py pins it); this is also the foreachBatch
    CDC-apply shape for streaming upserts.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"schema mismatch: target {sorted(target.columns)} vs "
            f"source {sorted(source.columns)}"
        )
    non_keys = [c for c in target.columns if c not in keys]
    t = target.alias("t")
    # sentinel marks "source side matched" unambiguously — a null key
    # column cannot (keys may legitimately be null on either side)
    marker = "_merge_matched"
    while marker in source.columns:  # never silently clobber user data
        marker = "_" + marker
    s = source.withColumn(marker, F.lit(True)).alias("s")
    matched = F.col(marker).isNotNull()
    return t.join(s, keys, "full_outer").select(
        # USING-join output carries one coalesced column per key
        *[F.col(k) for k in keys],
        *[
            F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in non_keys
        ],
    )
