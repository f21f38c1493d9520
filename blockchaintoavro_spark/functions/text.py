"""Text-analysis column expressions (SURVEY §2.7 X4; extended LLM-pipeline
surface). All built-in functions — tokenization, shingling, quality metrics
and fingerprints stay JVM-side; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small deterministic English stopword list used by the quality scorer and
# the n-gram language heuristic. Fixed here so the oracle SQL can inline the
# identical list.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def tokens(text: Column) -> Column:
    """Lowercase single-space tokenization — the EXACT twin of every
    oracle's ``string_split(lower(text), ' ')``, so engine and oracle can
    never diverge on tabs/repeated spaces (ADVICE r1). documents.text is
    single-space-normalized anyway (FIXTURES.md §3, invariant-tested)."""
    return F.split(F.lower(text), " ")


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings, for MinHash/Jaccard near-dup."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: sha256 over whitespace-normalized lowercase text.

    Deterministic and oracle-matchable (DuckDB ``sha256``). For shift-robust
    fingerprints use minhash_signature (operators/dedup.py) instead.
    """
    return F.sha2(F.concat_ws(" ", tokens(text)), 256)
