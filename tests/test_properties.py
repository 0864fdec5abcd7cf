"""Property-based tests (hypothesis) for the deterministic spec layer —
the invariants every engine-side implementation is held to."""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from semantic_search_system_spark import spec
from semantic_search_system_spark.fixtures.interleave import spans_for_text
from semantic_search_system_spark.operators.embedding import embed_batch
from semantic_search_system_spark.operators.enrichment import clean_arrow_array, enrich_arrow

words = st.lists(
    st.text(alphabet="abcdefghij0123", min_size=1, max_size=8), min_size=0, max_size=120
)
texts = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .,!?-_ABCXYZ", max_size=400
)


@given(words, st.booleans())
@settings(max_examples=200, deadline=None)
def test_spans_invariants(tokens, hot):
    text = " ".join(tokens)
    spans = spans_for_text("42", text, hot)
    # offsets are exactly the stored order 0..n-1 (the per-row invariant)
    assert [s["offset"] for s in spans] == list(range(len(spans)))
    # text reassembly round-trips the token stream (+ hot tail)
    expect = tokens + (spec.HOT_TOKENS.split() if hot else [])
    got = " ".join(s["text"] for s in spans if s["kind"] == "text" and s["text"]).split()
    assert got == expect
    # media spans: deterministic refs, no text, kinds cycle the spec order
    media = [s for s in spans if s["kind"] != "text"]
    for i, s in enumerate(media):
        assert s["media_ref"] == spec.media_ref("42", s["offset"])
        assert s["text"] is None
        assert s["kind"] == spec.MEDIA_KINDS[i % len(spec.MEDIA_KINDS)]
    # media cadence: one media span after every TEXT_SPANS_PER_MEDIA text spans
    kinds = [s["kind"] for s in spans]
    for i, k in enumerate(kinds):
        n_text_before = sum(1 for x in kinds[:i] if x == "text")
        if k != "text":
            assert n_text_before % spec.TEXT_SPANS_PER_MEDIA == 0 and n_text_before > 0


@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=3), max_size=60), st.integers(1, 7))
@settings(max_examples=200, deadline=None)
def test_top_k_properties(items, k):
    out = spec.top_k_by_freq(items, k)
    assert len(out) <= k
    # sorted by (count desc, item asc); counts correct
    keys = [(-c, t) for t, c in out]
    assert keys == sorted(keys)
    for t, c in out:
        assert items.count(t) == c
    # nothing outside the result beats anything inside it
    if out:
        worst = (-out[-1][1], out[-1][0])
        for t in set(items) - {t for t, _ in out}:
            assert (-items.count(t), t) > worst


@given(st.lists(texts, min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_batch_kernels_match_spec(batch):
    """Both callers of the one tokenizer — the fused enrich kernel and the
    phrase embedder — against the per-document spec."""
    ex = enrich_arrow(pa.array(batch, pa.string())).to_pylist()
    em = embed_batch(pd.Series(batch))
    for i, t in enumerate(batch):
        ref = spec.extract_doc(t)
        vec = spec.embed_text(t)
        assert [e["text"] for e in ex[i]["entities"]] == ref["entities"]
        assert [p["text"] for p in ex[i]["topics"]] == ref["topics"]
        assert np.array_equal(np.asarray(ex[i]["embedding"], np.float32), vec)
        assert np.array_equal(np.asarray(em[i]), vec)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_embed_unit_norm(t):
    v = spec.embed_text(t)
    n = float(np.linalg.norm(v))
    assert n == 0.0 or abs(n - 1.0) < 1e-5


@given(st.lists(st.text(alphabet="ab1 .É\t", max_size=24), min_size=0, max_size=16))
@settings(max_examples=60, deadline=None)
def test_simhash_kernel_matches_naive(batch):
    """The vectorized per-byte-bincount SimHash must be bit-identical to the
    naive per-token accumulation for arbitrary (incl. unicode/empty) input."""
    import hashlib

    import pandas as pd

    from semantic_search_system_spark.operators.dedup import _simhash_batch

    s = pd.Series(batch, dtype=object)
    got = _simhash_batch(s).to_numpy()
    toks = (
        s.fillna("")
        .str.lower()
        .str.replace(spec.CLEAN_STRIP_RE, "", regex=True)
        .str.split()
    )
    for i, tl in enumerate(toks):
        acc = np.zeros(64, dtype=np.int64)
        for t in tl or []:
            h = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            acc += np.array([1 if (h >> j) & 1 else -1 for j in range(64)], dtype=np.int64)
        fp = 0
        for j in range(64):
            if acc[j] > 0:
                fp |= 1 << j
        expect = fp - (1 << 64) if fp >= (1 << 63) else fp
        assert got[i] == expect, (i, batch[i])


# Adversarial alphabet for the cleaner-parity property: \x0b is in Java's \s
# but not RE2's; \xa0 /   are unicode whitespace (Python \s) but neither
# Java's nor RE2's; \x1f is a control char in no engine's \s. The explicit
# spec.CLEAN_*_RE classes must make every engine agree on all of them.
_clean_texts = st.text(
    alphabet="ab1 .É\t\n\x0b\f\r\xa0 \x1f", max_size=60
)


def _clean_reference(s: str) -> str:
    """Java-semantics reference cleaner: lower → strip CLEAN_STRIP_RE →
    collapse CLEAN_WS_RE → trim spaces, with Python re on explicit classes."""
    import re

    s = re.sub(spec.CLEAN_STRIP_RE, "", s.lower())
    s = re.sub(spec.CLEAN_WS_RE, " ", s)
    return s.strip(" ")


@given(st.lists(_clean_texts, min_size=0, max_size=12))
@settings(max_examples=120, deadline=None)
def test_arrow_clean_matches_reference(batch):
    """clean_arrow_array (Arrow RE2 hot path) must equal the Java-semantics
    reference cleaner on arbitrary input incl. \\x0b / unicode whitespace /
    control chars (round-3 ADVICE #1: RE2 \\s excludes \\x0b, so shorthand
    classes silently diverged the fused path from the JVM operators)."""
    got = clean_arrow_array(pa.array(batch, pa.string())).to_pylist()
    assert got == [_clean_reference(s) for s in batch]


@given(_clean_texts)
@settings(max_examples=120, deadline=None)
def test_spec_tokens_match_reference_clean(s):
    """spec.clean_tokens (golden-fixture tokenizer) must tokenize exactly the
    reference-cleaned string: unicode whitespace is STRIPPED (Java semantics),
    never treated as a separator (Python \\s semantics)."""
    assert spec.clean_tokens(s) == _clean_reference(s).split(" ") or (
        _clean_reference(s) == "" and spec.clean_tokens(s) == []
    )


@given(st.lists(_clean_texts, min_size=0, max_size=14))
@settings(max_examples=80, deadline=None)
def test_arrow_token_stream_matches_pandas(batch):
    """build_token_stream_arrow (C split + dictionary_encode over the cleaned
    Arrow array) must yield, for every row, exactly ``spec.clean_tokens`` of
    its text in order, and (row, token) counts that match those tokens — for
    arbitrary input incl. empty/whitespace-only/unicode rows."""
    from collections import Counter

    from semantic_search_system_spark.operators.extraction import build_token_stream_arrow

    ts = build_token_stream_arrow(clean_arrow_array(pa.array(batch, pa.string())))
    assert ts.n == len(batch)
    assert np.all(np.diff(ts.rows) >= 0)
    for i, t in enumerate(batch):
        want = spec.clean_tokens(t)
        assert ts.uniq[ts.codes[ts.rows == i]].tolist() == want, (i, t)
        at = ts.prow == i
        assert dict(zip(ts.uniq[ts.pcode[at]].tolist(), ts.pcnt[at].tolist())) == Counter(want)
