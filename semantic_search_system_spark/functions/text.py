"""Native text column expressions — the JVM-side (codegen'd) equivalents of the
reference's per-row Python string helpers. No UDFs here by design: these run in
whole-stage codegen at any scale.

Reference parity:
- clean_text_col     ≡ clean_text (ingest/pr_meta_store.py:26-29,
                        nlp/pr_local_nlp_pipeline.py:25-31): strip non-alnum,
                        collapse whitespace, trim, lowercase.
- normalize_key_col  ≡ normalize_key (knowledge_graph/knowledge_graph.py:51-55).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import spec


def clean_text_col(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, spec.CLEAN_STRIP_RE, "")
    c = F.regexp_replace(c, spec.CLEAN_WS_RE, " ")
    return F.trim(c)


def normalize_key_col(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))

