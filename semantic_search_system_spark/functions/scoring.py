"""Score normalization as a pure column expression.

Reference parity:
- minmax_normalize_100 ≡ normalize_scores_to_100 (utils/search_pipeline.py:34-64)
  including the constant-score edge case (:53-57 → everyone gets 100.0) and the
  [1, 100] clamp (:58-62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def minmax_normalize_100(df: DataFrame, score_col: str, out_col: str = "norm_score") -> DataFrame:
    """Normalize a score column to [1, 100].

    The global min/max is ONE two-value aggregate broadcast back to every row
    (a partition-less window would funnel the whole table through one task —
    Spark even warns 'No Partition Defined for Window operation')."""
    stats = df.agg(F.min(score_col).alias("__mn"), F.max(score_col).alias("__mx"))
    out = df.crossJoin(F.broadcast(stats))
    mn, mx = F.col("__mn"), F.col("__mx")
    scaled = F.lit(1.0) + (F.col(score_col) - mn) / (mx - mn) * F.lit(99.0)
    expr = (
        F.when(F.col(score_col).isNull(), F.lit(None).cast("double"))
        .when(mx == mn, F.lit(100.0))  # constant-score edge case (search_pipeline.py:53-57)
        .otherwise(F.greatest(F.lit(1.0), F.least(F.lit(100.0), scaled)))
    )
    return out.withColumn(out_col, expr).drop("__mn", "__mx")

