"""Value-or-error column pairs (SURVEY §1.3 — the reference's load-bearing
error-handling convention).

Every fallible derivation in the reference produces TWO columns: the value
(null on failure) and a sibling ``*_error`` string (null on success), e.g.
``work_terahash``/``work_error`` (``BitcoinBlockHandler.java:95-101``) and
the four script/base58 pairs (:136-141, :148-153, :170-176, :178-184).

Spark-first mapping: a guard predicate + ``when/otherwise`` — pure Catalyst
expressions, fully codegen'd, no Python in the hot path. For arithmetic that
can genuinely overflow/err at runtime, compose with Spark's ``try_*``
functions (ANSI-safe) instead of a Python try/except.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def try_pair(guard: Column, value: Column, error: Column | str) -> tuple[Column, Column]:
    """Return ``(value_col, error_col)`` implementing the convention.

    ``guard`` true  → (value, NULL)
    ``guard`` false → (NULL, error-message)
    """
    err = F.lit(error) if isinstance(error, str) else error
    value_col = F.when(guard, value)
    error_col = F.when(~guard, err)
    return value_col, error_col


# The reference's terahash unit is 1e11 — BigDecimal("10.0E+10"),
# BitcoinBlockHandler.java:39 (NOT 1e12 despite the name).
TERAHASH_DIVISOR = 100_000_000_000


def work_terahash(work: Column) -> tuple[Column, Column]:
    """``work_terahash``/``work_error`` per BitcoinBlockHandler.java:95-101.

    Declared semantics (SURVEY DQ-03): value = floor(work / 1e11) for
    non-negative work (zero is a valid chainwork, value 0), error
    'negative work' only for work < 0. Parity note: the reference computes
    the BigInteger divide for any sign and errors only on long-range
    overflow (BitcoinBlockHandler.java:95-101); this engine's declared
    contract instead rejects negative work explicitly — a documented,
    oracle-matched deviation (ADVICE r1).
    """
    return try_pair(
        work >= 0,
        F.floor(work / F.lit(TERAHASH_DIVISOR)).cast("long"),
        "negative work",
    )
