"""Seeded input generation for the benchmark.

Texts are drawn from the same distribution as the sf0.1 testdata texts: a
uniform pick from the 30-word vocabulary below, 10 to 99 tokens per document
(both measured on ``documents.parquet``; its rare ``dup`` marker is left out).
The generator is self-contained so a run reads nothing outside its checkout.

Doc ids are fresh numeric strings, as the doc-IVF index requires. A corpus is
written as ``documents.parquet`` under ``<work>/<name>/`` and turned into the
interleaved table by ``fixtures.interleave.build_interleaved``, which applies
the hot-entity rule (``doc_id % 10 == 0``) and writes under
``$SSS_SPARK_DATA_DIR/interleaved/<name>/``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
MIN_TOKENS, MAX_TOKENS = 10, 99


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``n_docs`` documents with ids ``0 .. n_docs - 1``; the same
    (seed, n_docs) always gives the same frame."""
    rng = np.random.default_rng([seed, n_docs])
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_docs)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), size=int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n : e]) for n, e in zip(lengths, ends)]
    return pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}
    )


def write_corpus(work: str, name: str, docs: pd.DataFrame) -> str:
    """Write ``docs`` as a testdata-style scale-factor dir and build its
    interleaved table; returns the sf dir that the pipeline reads."""
    from semantic_search_system_spark.fixtures.interleave import build_interleaved

    sf_dir = os.path.join(work, name)
    os.makedirs(sf_dir, exist_ok=True)
    docs.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    out = build_interleaved(sf_dir, force=True)
    if not out.startswith(os.path.abspath(work) + os.sep):
        # the package read SSS_SPARK_DATA_DIR before it was pointed here
        os.remove(out)
        raise RuntimeError(f"interleaved corpus written outside {work}: {out}")
    return sf_dir
