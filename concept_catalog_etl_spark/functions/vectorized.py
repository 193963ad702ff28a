"""Vectorized (Arrow/pandas) UDFs.

The engine's record transforms (token payload normalization, ``n_tok``
recomputation, source tagging) do not live here: they run as JVM codegen
column expressions in ``operators/merge.py``, with no Python at all. What
remains is the array-length UDF the query suite uses to exercise an
``ArrowEvalPython`` plan; the repo never runs per-row Python UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F, types as T


@F.pandas_udf(T.IntegerType())
def arr_len(arr: pd.Series) -> pd.Series:
    """Generic vectorized array length (used by q_vectorized_ntok)."""
    return pd.Series(
        [len(a) if a is not None and not (isinstance(a, float) and pd.isna(a)) else None for a in arr],
        dtype="Int32",
    )
