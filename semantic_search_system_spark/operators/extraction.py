"""Extraction stage: interleaved spans → assembled content → entities/topics.

Replaces the reference's per-document, per-network-call extraction loop
(nlp/pr_aws_nlp.py:230-277 — one Bedrock round-trip per doc, strictly
sequential) with two surfaces:

1. ``assemble_content`` — 100% native column expressions (array_sort / filter /
   array_join / slice): span ordering, text concatenation, media_ref carry,
   title/summary/url/date derivation. Whole-stage-codegen'd; zero Python.
2. The extraction kernel behind the fused enrich UDF
   (operators/enrichment.enrich_arrow): ``build_token_stream_arrow`` is the
   one tokenizer (every extract and embed call goes through it), and
   ``_extract_winners`` implements the shared extraction spec
   (spec.extract_doc) over its integer stream: top-5 tokens by frequency as
   entities (pr_local_nlp_pipeline.py:70-93), top-5 adjacent bigrams as
   topics (pr_aws_nlp.py:74-76), deterministic tie-breaks. Numpy passes
   over the whole batch, no per-row Python.

There is also a pure-SQL formulation of the same extraction
(``entities_native`` / ``topics_native``) used for the DuckDB oracle checks and
as an independent cross-check of the kernel — at cluster scale the kernel is
used because it makes one pass per batch instead of exploding every token
through a shuffle.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import spec
from ..functions.text import clean_text_col


def ordered_spans(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Sort each row's span array by offset (the order invariant's ground truth).

    Implemented by moving ``offset`` to the first struct field and using the
    comparator-less ``array_sort`` (struct ordering is field-lexicographic):
    a lambda comparator would force interpreted evaluation per comparison —
    measured ~3x slower on the assemble stage — while this form stays inside
    whole-stage codegen."""
    reordered = F.transform(
        F.col(spans_col),
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    back = F.transform(
        F.array_sort(reordered),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return df.withColumn(spans_col, back)


def has_usable_text(spans_col: str = "spans"):
    """Validity gate (F6 / §2.11): a doc is processable iff it carries at least
    one non-null, non-blank text span. Rows failing this are routed to the
    Catalog ``failed_rows`` quarantine table instead of being silently dropped
    (the reference keeps a permanent-failure list, pr_aws_nlp.py:296-310)."""
    return F.coalesce(
        F.exists(
            F.col(spans_col),
            lambda s: (s["kind"] == "text")
            & s["text"].isNotNull()
            & (F.trim(s["text"]) != ""),
        ),
        F.lit(False),
    )


def assemble_content(df: DataFrame) -> DataFrame:
    """interleaved(doc_id, spans) → doc_id, text_spans, media_refs, content,
    title, summary, url, doc_date. All native expressions.

    Mirrors the reference's raw-doc assembly (pr_meta_store.py:163-168) +
    lead-k summary (pr_aws_nlp.py:21) + vector-index row shape
    (create_vector_index.py:8-46); media spans ride along as attributes
    (BASELINE.json.north_star).

    ``content`` is the raw span join: the fused enrich UDF cleans it
    batch-wise via Arrow RE2 — the JVM regexp_replace pair
    (``clean_text_col``) was the single most expensive expression in the
    enrich stage (~11 s per 320k docs at local[4], profiled round 3).
    """
    df = ordered_spans(df)
    text_spans = F.transform(
        F.filter(F.col("spans"), lambda s: (s["kind"] == "text") & s["text"].isNotNull()),
        lambda s: s["text"],
    )
    media_refs = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] != "text"),
        lambda s: s["media_ref"],
    )
    out = (
        df.withColumn("text_spans", text_spans)
        .withColumn("media_refs", media_refs)
        .withColumn("content", F.array_join(F.col("text_spans"), " "))
        .withColumn("title", F.substring(F.element_at(F.col("text_spans"), 1), 1, 64))
        .withColumn(
            "summary",
            F.array_join(F.slice(F.col("text_spans"), 1, spec.SUMMARY_SPANS), " "),
        )
        .withColumn("url", F.concat(F.lit("doc://"), F.col("doc_id")))
        .withColumn(
            "doc_date",
            # numeric ids (the synthetic corpus) map to a deterministic date in the
            # reference's 2000-2025 range; non-numeric ids fall back to the epoch day
            F.date_add(
                F.lit("2000-01-01").cast("date"),
                F.coalesce(F.col("doc_id").try_cast("long") % 9000, F.lit(0)).cast("int"),
            ),
        )
    )
    return out


class TokenStream(NamedTuple):
    """The batch's factorized token stream, computed ONCE and shared by
    entity extraction, topic extraction, and embedding (the fused enrich UDF
    builds it a single time per Arrow batch). Python never touches individual
    tokens again downstream — only vocabulary-sized arrays and C-level passes
    over the integer streams.

    rows/codes: per-occurrence row index and vocabulary code (stream order —
    adjacency within a row IS bigram adjacency); uniq: the batch vocabulary;
    prow/pcode/pcnt: the (row, token) occurrence counts."""

    n: int
    rows: np.ndarray
    codes: np.ndarray
    uniq: np.ndarray
    prow: np.ndarray
    pcode: np.ndarray
    pcnt: np.ndarray


def build_token_stream_arrow(arr) -> TokenStream:
    """TokenStream straight from a CLEANED Arrow string array (single-space
    separated, trimmed — ``enrichment.clean_arrow_array`` output): split and
    vocabulary encoding run as Arrow C kernels (split_pattern +
    dictionary_encode), so no Python object is created per token — a pandas
    ``str.split`` + flatten + ``pd.factorize`` front-end was ~40% of the
    fused enrich kernel. Each row's occurrences are ``spec.clean_tokens`` of
    its content, in order. An empty content row may leave an unused '' entry
    in the vocabulary; occurrences of '' are dropped from the stream, and
    every consumer keys off occurrence codes, so ranks/counts are
    unaffected."""
    import pyarrow.compute as pc

    n = len(arr)
    lst = pc.split_pattern(arr, pattern=" ")
    offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(offs))
    vals = lst.values
    denc = pc.dictionary_encode(vals)
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = np.asarray(denc.dictionary.to_pylist(), dtype=object)
    keep = pc.not_equal(vals, "").to_numpy(zero_copy_only=False)
    if not keep.all():
        rows, codes = rows[keep], codes[keep]
    if codes.size:
        key = rows * len(uniq) + codes
        ukey, pcnt = np.unique(key, return_counts=True)
        prow, pcode = ukey // len(uniq), ukey % len(uniq)
    else:
        codes = prow = pcode = pcnt = np.empty(0, np.int64)
        uniq = np.empty(0, object)
        rows = np.empty(0, np.int64)
    return TokenStream(n, rows, codes, uniq, prow, pcode, pcnt)


def _rank_in_group(sorted_groups: np.ndarray) -> np.ndarray:
    """0-based rank within each run of equal values (input must be sorted)."""
    first = np.flatnonzero(np.r_[True, sorted_groups[1:] != sorted_groups[:-1]])
    seg = np.diff(np.append(first, len(sorted_groups)))
    return np.arange(len(sorted_groups)) - np.repeat(first, seg)


def _topk_order(prow: np.ndarray, cnt: np.ndarray, lexcode: np.ndarray, n_lex: int) -> np.ndarray:
    """argsort by (row asc, count desc, lexcode asc). One composite-int64-key
    sort when the ranges fit (a multi-key np.lexsort is k stable argsorts —
    measured 4-6x slower on million-pair batches); lexsort fallback otherwise."""
    if len(prow) == 0:
        return np.empty(0, np.int64)
    cmax = int(cnt.max()) + 1
    rmax = int(prow[-1]) + 1  # prow is sorted ascending (np.unique output)
    if rmax * cmax * max(n_lex, 1) < (1 << 62):
        key = (prow * cmax + (cmax - 1 - cnt)) * n_lex + lexcode
        return np.argsort(key, kind="stable")
    return np.lexsort((lexcode, -cnt, prow))


def _extract_winners(ts: TokenStream):
    """spec top-k winners over the factorized stream, as SORTED flat arrays:
    ((ent_rows, ent_tokens), (topic_rows, topic_phrases))."""
    empty = np.empty(0, np.int64), np.empty(0, object)
    ent_w, top_w = empty, empty
    if len(ts.rows):
        V = len(ts.uniq)
        # lexicographic rank per vocabulary entry (vocab-sized sort only)
        lexrank = np.empty(V, np.int64)
        lexrank[np.argsort(ts.uniq)] = np.arange(V)
        is_stop = np.isin(ts.uniq, _STOP_ARR)

        em = ~is_stop[ts.pcode]
        eprow, epcode, ecnt = ts.prow[em], ts.pcode[em], ts.pcnt[em]
        order = _topk_order(eprow, ecnt, lexrank[epcode], V)
        r = eprow[order]
        keep = _rank_in_group(r) < spec.TOP_K_ENTITIES
        ent_w = r[keep], ts.uniq[epcode[order[keep]]]

        # adjacent bigrams: stream order is document order, so neighbor pairs
        # within the same row are exactly the spec's adjacent token pairs
        adj = (
            (ts.rows[1:] == ts.rows[:-1])
            & ~is_stop[ts.codes[1:]]
            & ~is_stop[ts.codes[:-1]]
        )
        b1, b2, brow = ts.codes[:-1][adj], ts.codes[1:][adj], ts.rows[:-1][adj]
        if len(brow):
            # "t1 t2" string order == (t1, t2) tuple order: tokens are
            # [a-z0-9]+ and ' ' sorts below every token character, so a
            # prefix terminates first — lexsort on the two code ranks
            bid = b1 * V + b2
            bc, bu = pd.factorize(bid)
            bu = np.asarray(bu, dtype=np.int64)
            B = len(bu)
            bukey, bcnt = np.unique(brow * B + bc, return_counts=True)
            bprow, bpc = bukey // B, bukey % B
            bu1, bu2 = bu // V, bu % V
            # rank the B unique bigram VALUES once (lexicographic = (t1, t2)
            # rank pair), then one composite sort over the (row, bigram) pairs
            border = np.lexsort((lexrank[bu2], lexrank[bu1]))
            brank = np.empty(B, np.int64)
            brank[border] = np.arange(B)
            order = _topk_order(bprow, bcnt, brank[bpc], B)
            r = bprow[order]
            keep = _rank_in_group(r) < spec.TOP_K_TOPICS
            pcs = bpc[order[keep]]
            # object-dtype elementwise concat: one C-driven pass per operator
            top_w = r[keep], ts.uniq[bu1[pcs]] + " " + ts.uniq[bu2[pcs]]
    return ent_w, top_w


def _winners_list_array(rows_sorted: np.ndarray, values: np.ndarray, n: int, label: str):
    """Sorted flat winners → pa.ListArray of (text, label) structs built
    straight from offsets — the zero-Python output path of the fused enrich
    UDF (converting an object Series of Python lists through
    pa.Array.from_pandas was a per-row walk). The constant label column
    materializes via a C-side dictionary take, so no JVM-side
    ``F.transform`` struct wrap (CodegenFallback, interpreted per element)
    sits in the plan."""
    import pyarrow as pa

    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(rows_sorted, minlength=n), out=offs[1:])
    lab = pa.array([label]).take(pa.array(np.zeros(len(values), np.int32)))
    vals = pa.StructArray.from_arrays(
        [pa.array(values, type=pa.string()), lab], names=["text", "label"]
    )
    return pa.ListArray.from_arrays(pa.array(offs), vals)


_STOP_ARR = np.array(sorted(spec.STOPWORDS), dtype=object)


# ----------------------------------------------------------------- SQL-expressible twin
def entities_native(df: DataFrame, content_col: str = "content", k: int = spec.TOP_K_ENTITIES) -> DataFrame:
    """Top-k entity tokens per doc as pure DataFrame ops (explode → count → window).

    Oracle-matched formulation of the extraction spec (A1/W3 in SURVEY.md §2.4):
    used by the DuckDB correctness gate and to cross-check the enrich kernel.
    """
    toks = F.split(clean_text_col(F.col(content_col)), " ")
    exploded = (
        df.select("doc_id", F.explode(toks).alias("token"))
        .where((F.col("token") != "") & ~F.col("token").isin(*sorted(spec.STOPWORDS)))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("freq"), F.asc("token"))
    return (
        exploded.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("doc_id", "token", "freq", "rn")
    )


def topics_native(df: DataFrame, content_col: str = "content", k: int = spec.TOP_K_TOPICS) -> DataFrame:
    """Top-k adjacent-bigram topics per doc as pure DataFrame ops.

    Bigrams are zipped IN-ARRAY (token i with token i+1 — exactly the
    oracle's ``toks[i] || ' ' || toks[i+1]`` formulation), stopword/empty
    filtered per pair, then one explode → count → window top-k with the
    deterministic tie-break. Round 8: this replaces a token-stream SELF-JOIN
    on (doc_id, pos+1) — the posexplode subtree was computed twice and both
    500k-row sides shuffled into a sort-merge join per call (measured 2.1s
    warm at sf0.1; 0.8s zipped). Same pairs by construction: adjacency is
    array position in both forms and the filters are per-side identical."""
    toks = F.split(clean_text_col(F.col(content_col)), " ")
    stop = F.array(*[F.lit(s) for s in sorted(spec.STOPWORDS)])

    def ok(t):
        return (t != "") & ~F.array_contains(stop, t)

    n = F.size(F.col("_toks"))
    pairs = F.when(
        n >= 2,
        F.filter(
            F.zip_with(
                F.slice(F.col("_toks"), 1, n - 1),
                F.slice(F.col("_toks"), 2, n - 1),
                lambda x, y: F.when(ok(x) & ok(y), F.concat_ws(" ", x, y)),
            ),
            lambda p: p.isNotNull(),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = (
        df.withColumn("_toks", toks)
        .select("doc_id", F.explode(pairs).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("freq"), F.asc("bigram"))
    return (
        bigrams.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("doc_id", "bigram", "freq", "rn")
    )
