"""Embedding stage: deterministic 256-d hashed embeddings.

Stands in for the reference's network embedding calls (utils/bedrock.py:35-49
Titan 256-d normalized; nlp/topic_modeling.py:24-28 sentence-transformers) with
the same contract — ``array<float>`` of fixed dim, unit L2 norm — but fully
deterministic and local (spec.embed_text). ``embed_matrix`` is the one kernel:
one numpy scatter-add per batch over the factorized token stream of
``extraction.build_token_stream_arrow``, with a token→slot cache, no per-row
Python. The fused enrich UDF calls it for document embeddings;
``embed_batch`` / ``embed_udf`` tokenize a pandas batch through the same
Arrow front-end for phrase embeddings (topic_map) and search query vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spec

_slot_cache: dict[str, tuple[int, float]] = {}


def _slot(token: str) -> tuple[int, float]:
    s = _slot_cache.get(token)
    if s is None:
        s = spec.embed_token_slot(token)
        _slot_cache[token] = s
    return s


def embed_matrix(ts, dim: int = spec.EMBED_DIM) -> np.ndarray:
    """The batch's embeddings as ONE (n, dim) float32 matrix from the
    factorized (row, token)+count stream — a single np.add.at scatter-add;
    Python loops touch only the batch's UNIQUE tokens (the vocabulary, tiny
    next to the token stream)."""
    out = np.zeros((ts.n, dim), dtype=np.float64)
    if len(ts.prow):
        slot_arr = np.array([_slot(w) for w in ts.uniq])  # vocab-sized loop only
        idxs = slot_arr[ts.pcode, 0].astype(np.int64)
        signs = slot_arr[ts.pcode, 1]
        np.add.at(out, (ts.prow, idxs), signs * ts.pcnt.astype(np.float64))
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out.astype(np.float32)


def embed_list_array(ts, dim: int = spec.EMBED_DIM):
    """The matrix as a pa.ListArray built from raveled values + arithmetic
    offsets — the zero-Python serialization path of the fused enrich UDF
    (an object Series of per-row ndarrays costs a per-row conversion walk in
    pa.Array.from_pandas: measured 5.7 s per 320k docs at local[4])."""
    import pyarrow as pa

    M = embed_matrix(ts, dim)
    if ts.n * dim >= 2**31:  # int32 ListArray offsets would silently wrap —
        # only reachable if arrow.maxRecordsPerBatch is raised ~1000x past the
        # 10k default; fail loudly instead of corrupting offsets
        raise ValueError(
            f"Arrow batch of {ts.n} rows x {dim} dims overflows int32 list "
            "offsets; lower spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    offs = pa.array((np.arange(ts.n + 1, dtype=np.int64) * dim).astype(np.int32))
    return pa.ListArray.from_arrays(offs, pa.array(M.ravel()))


def embed_batch(texts: pd.Series, dim: int = spec.EMBED_DIM) -> pd.Series:
    """``embed_matrix`` with a pandas contract: one vector per text, tokenized
    by the enrich kernel's front-end."""
    import pyarrow as pa

    from .enrichment import clean_arrow_array  # enrichment imports this module
    from .extraction import build_token_stream_arrow

    arr = pa.array(texts, type=pa.string(), from_pandas=True)
    ts = build_token_stream_arrow(clean_arrow_array(arr))
    return pd.Series(list(embed_matrix(ts, dim)))


@F.pandas_udf(T.ArrayType(T.FloatType()))
def embed_udf(texts: pd.Series) -> pd.Series:
    return embed_batch(texts)
