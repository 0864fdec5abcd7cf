"""Vector math over array<float/double> columns.

Replaces the reference's numpy/sklearn/OpenSearch-HNSW similarity calls
(nlp/topic_modeling.py:57, utils/create_vector_index.py:18). Two forms:

- JVM higher-order functions (``dot``/``l2_norm``/``cosine_sim``): no Python
  anywhere, but Spark's array HOFs are CodegenFallback — interpreted per
  ELEMENT — so a 256-d cosine costs ~70 µs/row.
- ``cosine_to_const_udf``: Arrow-vectorized pandas UDF for the
  score-against-one-query hot path — ONE numpy matmul per 10k-row batch
  (measured ~8× faster than the HOF chain at 256 d). Values are rounded to
  6 dp with ``spec.round_half_away`` inside the UDF; the matmul and the
  HOF/SQL sequential folds agree exactly at 6 dp (the same cross-engine
  fixpoint the IVF oracle already relies on —
  tests/test_plans.py::test_cosine_udf_matches_hof pins it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import spec


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; safe for non-normalized inputs."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_to_const_udf(query_vec):
    """round(cosine(col, query_vec), 6) as an Arrow-vectorized pandas UDF —
    the scale form of scoring a corpus against ONE query vector (see module
    docstring). Degraded rows never crash the batch: zero-norm rows score 0.0
    (mirroring ``cosine_sim``'s denom>0 fallback), and NULL or
    wrong-dimension embeddings also score 0.0 — np.stack over a ragged batch
    would otherwise throw and fail every row in it, where the HOF form it
    replaces degraded per row."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = float(np.linalg.norm(q))
    dim = len(q)

    @F.pandas_udf("double")
    def cos(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype=np.float64)
        valid = np.fromiter(
            (v is not None and len(v) == dim for v in embs), dtype=bool, count=len(embs)
        )
        out = np.zeros(len(embs), dtype=np.float64)
        if valid.any():
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v, ok in zip(embs, valid) if ok]
            )
            n = np.linalg.norm(M, axis=1)
            denom = n * qn
            out[valid] = np.where(denom > 0, (M @ q) / np.where(denom == 0, 1.0, denom), 0.0)
        return pd.Series(spec.round_half_away(out, 6))

    return cos
