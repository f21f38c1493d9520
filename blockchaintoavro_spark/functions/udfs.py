"""UDF / UDAF / UDTF surface (SURVEY §2.6).

The reference's "UDFs" are bitcoinj-backed pure functions inside the
record-shaping pipeline: script→string, script→base58 address
(``BitcoinBlockHandler.java:136-153, 170-184``), work→terahash (:95-101).
work→terahash is a pure Catalyst expression (functions/try_pair.py); the
base58 address derivation has no Spark built-in, so it is the engine's
canonical **vectorized pandas UDF** example.

All pandas UDFs here are Arrow-batched (Series→Series) and delegate to
the Spark-free pure twins in ``base58.py`` — workers import THAT module
(cloudpickle by-reference), never this one, whose module-level
``@pandas_udf`` decorators require a live session.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

from .base58 import (  # noqa: F401 — re-exported; tests and plans import from here
    base58_encode_py,
    base58check_encode_py,
    script_to_address_py,
)


@pandas_udf("string")
def base58check_encode(s: pd.Series) -> pd.Series:
    """Vectorized Base58Check of a binary column (Arrow-batched).

    Delegates to the module-level pure twin: pandas UDFs in an importable
    module are pickled BY REFERENCE (the worker imports this module), so
    an inlined copy of the encoder would add a drift hazard without
    removing the import dependency.
    """
    return s.map(lambda raw: base58check_encode_py(None if raw is None else bytes(raw)))


@pandas_udf("string")
def base58_encode(s: pd.Series) -> pd.Series:
    """Vectorized base58 of a binary column (Arrow-batched); delegates to
    the pure twin (see base58check_encode on pickling-by-reference)."""
    return s.map(lambda raw: base58_encode_py(None if raw is None else bytes(raw)))


@pandas_udf("string")
def script_to_address(s: pd.Series) -> pd.Series:
    """Vectorized scriptPubKey→address (Arrow-batched); non-standard
    scripts → null, matching the reference's error-field behavior.
    Delegates to script_to_address_py — one copy of the script-pattern
    and Base58Check logic (see base58check_encode)."""
    return s.map(
        lambda raw: script_to_address_py(None if raw is None else bytes(raw))[0]
    )


@pandas_udf("double")
def centroid_norm(emb: pd.Series) -> float:
    """Grouped-agg pandas UDAF: L2 norm of the per-group centroid vector.

    Usage: ``df.groupBy("label").agg(centroid_norm("embedding"))``. Arrow
    hands each group's embedding column as one Series of lists; numpy does
    the column mean. Scale note: grouped-agg UDAFs materialize one group
    per call — fine for bounded-cardinality labels; for high-cardinality
    keys use applyInPandas with partial aggregation instead.
    """
    import numpy as np

    m = np.mean(np.stack(emb.map(np.asarray, na_action="ignore")), axis=0)
    return float(np.sqrt((m * m).sum()))


def tokenizer_udtf_class():
    """Spark 4 UDTF: one (pos, token) row per whitespace token.

    Returned lazily as a class so importing this module never requires the
    UDTF machinery (and stays picklable by value).
    """

    class Tokenize:
        def eval(self, doc_id: int, text: str):  # noqa: D401
            if text is None:
                return
            for pos, tok in enumerate(text.lower().split()):
                yield doc_id, pos, tok

    return Tokenize

