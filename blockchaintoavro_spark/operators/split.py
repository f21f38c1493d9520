"""Deterministic dataset splitting & sampling — the train/val/test
machinery a training-data pipeline needs AFTER dedup/decontamination.

Generalizes the expression-level primitives in ``operators/quality.py``
(``hash_split`` with fixed hex-pair boundaries, ``stratified_keep``'s
per-stratum fraction predicate — both declared as x_hash_split /
x_stratified_sample): this module adds SALTED re-dealing (a new
experiment gets a fresh independent assignment without touching data),
arbitrary float weights (8-hex-char threshold precision instead of
1/256ths), the leakage-safe GROUP-split framing, cross-table-coherent
sampling, and an EXACT-n per-stratum draw.

Everything here is HASH-deterministic (md5 over UTF-8, a public,
engine-independent digest): the same row lands in the same split in
every run, on every engine, at every scale — which is what makes the
splits (a) reproducible across reshuffles/re-ingests, (b) oracle
-checkable bit-for-bit in DuckDB (``md5()`` agrees with Spark's), and
(c) leakage-safe when keyed on a GROUP id (every member of a dedup
cluster / domain / author co-travels to one split because the split is
a pure function of the group key — no join, no shuffle, no state).

Why not ``rand(seed)`` / ``df.sample``: Spark's random sampling is
partition-order-dependent (a repartition or AQE re-plan reassigns
rows), not portable to the oracle, and cannot express group-co-travel
without a join. The md5 route is a row-local JVM projection —
whole-stage codegen, zero shuffle, survives any re-partitioning.

Mechanics: the first 8 hex chars of ``md5(key || salt)`` are a uniform
32-bit draw; cumulative weight thresholds are rendered as 8-hex-char
strings and compared LEXICOGRAPHICALLY — fixed-length lowercase hex
compares identically to its numeric value in both engines, so the
engine/oracle branch structure is character-for-character the same.

100 TB posture: :func:`hash_split` / :func:`hash_sample` are pure maps
(no exchange anywhere; the filter form composes with column pruning).
:func:`stratified_sample_exact` is the one shuffle-bearing op (a
window per stratum for EXACT per-stratum counts) — for fraction-based
stratified work at scale prefer :func:`hash_sample`, which needs no
sort; the exact-count form is for bounded eval/calibration draws.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket_hex",
    "hash_sample",
    "hash_split",
    "split_thresholds",
    "stratified_sample_exact",
]

_HEX_SPACE = 16**8  # first 8 hex chars of the digest: a 32-bit draw


def split_thresholds(weights: list[float]) -> list[str]:
    """Cumulative split boundaries as 8-hex-char strings. Weights are
    normalized; the last boundary is omitted (its branch is the
    ``otherwise``), so N weights yield N-1 thresholds."""
    if not weights or any(w <= 0 for w in weights):
        raise ValueError(f"weights must be positive, got {weights!r}")
    total = float(sum(weights))
    out, cum = [], 0.0
    for w in weights[:-1]:
        cum += w / total
        # Clamp: a degenerate tiny trailing weight can round cum to
        # exactly 1.0, whose rendering would be the 9-char '100000000'
        # — lexicographically SMALLER than most 8-char draws, silently
        # collapsing the boundary. The draw space is [0, _HEX_SPACE),
        # so the largest representable threshold is _HEX_SPACE - 1.
        out.append(format(min(int(cum * _HEX_SPACE), _HEX_SPACE - 1), "08x"))
    if any(len(t) != 8 for t in out) or any(
        a >= b for a, b in zip(out, out[1:])
    ):
        raise ValueError(
            f"weights {weights!r} produce non-increasing thresholds {out!r}"
            " — a split narrower than 2**-32 of the total is not"
            " representable in the 8-hex-char draw space"
        )
    return out


def hash_bucket_hex(key: F.Column, salt: str = "") -> F.Column:
    """The uniform draw: first 8 hex chars of ``md5(key || salt)``.
    ``key`` is cast to string first — use string/integer keys (float
    rendering differs across engines). A new ``salt`` re-deals every
    assignment independently (fresh splits for a new experiment without
    touching the data)."""
    s = F.concat(key.cast("string"), F.lit(salt))
    return F.substring(F.md5(s.cast("binary")), 1, 8)


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic split label (default
    ``{"train": 0.8, "val": 0.1, "test": 0.1}``) as a pure function of
    ``key_col`` — re-runs, re-partitions and re-ingests reproduce the
    identical assignment, and DuckDB reproduces it bit-for-bit (the
    oracle for x_hash_split).

    LEAKAGE-SAFE GROUP SPLIT: pass the GROUP id (dedup cluster id,
    domain, author) as ``key_col`` and every member of a group lands in
    the same split by construction — no join, no co-partitioning,
    because the label depends on nothing but the key bytes. This is the
    split discipline near-dup-aware corpora need: hashing the DOC id
    would scatter a near-dup cluster across train and test.

    NULL keys get a NULL split (surfaced, not silently bucketed).
    Zero shuffle: one whole-stage-codegen projection."""
    if splits is None:
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    names = list(splits)
    if len(names) < 2:
        raise ValueError("need at least two splits")
    bounds = split_thresholds([splits[n] for n in names])
    b = hash_bucket_hex(F.col(key_col), salt)
    expr = F.when(F.col(key_col).isNull(), F.lit(None).cast("string"))
    for name, t in zip(names[:-1], bounds):
        expr = expr.when(b < F.lit(t), F.lit(name))
    expr = expr.otherwise(F.lit(names[-1]))
    return df.withColumn(out_col, expr)


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose draw falls
    under the threshold. Unlike ``df.sample`` it is stable under
    re-partitioning, repeatable across engines, and consistent across
    tables sharing the key (sample users.1% and their events.1% COHERE
    when both key on user_id). Pure filter — zero shuffle, composes
    with column pruning; the 100 TB stratified-sampling path.

    NULL-key rows are DROPPED at every fraction (a NULL key has no
    draw, so it fails the ``<`` filter — and at ``fraction=1.0`` the
    explicit not-null filter keeps the contract identical). This
    deliberately differs from :func:`hash_split`, which SURFACES NULL
    keys as a NULL split label: a split assignment is a column every
    row must carry, while a sample is a predicate — rows with no key
    cannot cohere across tables, so keeping them would silently break
    the cross-table-coherence guarantee. Filter NULL keys explicitly
    first if you need them."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    draw = hash_bucket_hex(F.col(key_col), salt)
    # Route on the INTEGER threshold, not the float input: a fraction
    # just below 1.0 can float-round int(fraction * 16**8) up to 16**8,
    # whose hex rendering is the 9-char '100000000' — it sorts BELOW
    # any draw not starting with '0', silently keeping ~6% of rows. A
    # bare assert would vanish under `python -O` (ADVICE r14 #2), so
    # the >= 16**8 case takes the keep-all branch explicitly.
    n = int(fraction * _HEX_SPACE)
    if n >= _HEX_SPACE:
        return df.filter(draw.isNotNull())
    t = format(n, "08x")
    return df.filter(draw < F.lit(t))


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer only when the
    stratum is smaller), chosen by hash order with the key as the tie
    break — a deterministic, engine-portable draw (oracle: the same
    QUALIFY row_number in DuckDB). One exchange on the stratum key;
    for fraction-based sampling at scale use :func:`hash_sample`
    (no sort). Eval-set construction, per-language calibration draws,
    per-domain audits."""
    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket_hex(F.col(key_col), salt), F.col(key_col)
    )
    return (
        df.withColumn("_ss_rn", F.row_number().over(w))
        .filter(F.col("_ss_rn") <= n_per_stratum)
        .drop("_ss_rn")
    )
