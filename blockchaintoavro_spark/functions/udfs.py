"""UDF / UDAF surface (SURVEY §2.6).

The reference's "UDFs" are bitcoinj-backed pure functions inside the
record-shaping pipeline: script→string, script→base58 address
(``BitcoinBlockHandler.java:136-153, 170-184``), work→terahash (:95-101).
work→terahash is a pure Catalyst expression (functions/try_pair.py); base58
has no Spark built-in, so it is the engine's canonical **vectorized pandas
UDF** example (``x_base58_udf``). The UDTF shape (one row per token) runs as
the built-in ``posexplode`` in ``x_tokens_positions``.

All pandas UDFs here are Arrow-batched (Series→Series) and delegate to
the Spark-free pure twins in ``base58.py`` — workers import THAT module
(cloudpickle by-reference), never this one, whose module-level
``@pandas_udf`` decorators require a live session.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

from .base58 import base58_encode_py


@pandas_udf("string")
def base58_encode(s: pd.Series) -> pd.Series:
    """Vectorized base58 of a binary column (Arrow-batched).

    Delegates to the module-level pure twin: pandas UDFs in an importable
    module are pickled BY REFERENCE (the worker imports this module), so
    an inlined copy of the encoder would add a drift hazard without
    removing the import dependency.
    """
    return s.map(lambda raw: base58_encode_py(None if raw is None else bytes(raw)))


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

