"""Deterministic synthesis of the interleaved text+media document table.

This is the engine's primary input (BASELINE.json.input_hint):

    doc_id  string
    spans   array<struct<kind:string, text:string, media_ref:string, offset:int>>

Synthesized from the driver-provided ``/root/testdata/sf*/documents.parquet``
(``doc_id:int64, text, lang, source, n_chars``) with NO external data and no
randomness: the text is split into fixed 8-token chunks; after every 3rd text
span a media span is interleaved (kind cycling image/video/audio,
``media_ref = 'media://' + md5(doc_id:offset)``); ~10% of docs get a hot-entity
tail span to exercise skew handling (FIXTURES.md §1).

The generated parquet is written under ``<REPO_DATA>/interleaved/<sf>/``
(``SSS_SPARK_DATA_DIR``, by default the checkout's ``data/``, or the working
directory's when the package is imported from a zip) so the DuckDB
oracle can read the exact same rows via ``read_parquet``.
"""

from __future__ import annotations

import os
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .. import spec

# Imported from a --py-files zip, the package has no checkout directory (this
# path is the zip file): the data dir then defaults to the working directory's.
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO_DATA = os.environ.get(
    "SSS_SPARK_DATA_DIR",
    os.path.join(_CHECKOUT if os.path.isdir(_CHECKOUT) else os.getcwd(), "data"),
)

# The source corpora, one directory per scale factor (documents.parquet,
# embeddings.parquet); every sf dir the package and its tests use derives
# from TESTDATA.
TESTDATA = "/root/testdata"
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")

SPAN_STRUCT = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
INTERLEAVED_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string()), pa.field("spans", pa.list_(SPAN_STRUCT))]
)


def spans_for_text(doc_id: str, text: str, hot: bool) -> list[dict]:
    """The span-generation spec for one document (shared by tests and builder)."""
    tokens = text.split()
    if hot:
        tokens = tokens + spec.HOT_TOKENS.split()
    chunks = [
        " ".join(tokens[i : i + spec.WORDS_PER_SPAN])
        for i in range(0, len(tokens), spec.WORDS_PER_SPAN)
    ] or [""]
    spans: list[dict] = []
    media_ordinal = 0
    text_since_media = 0
    for chunk in chunks:
        spans.append(
            {"kind": "text", "text": chunk, "media_ref": None, "offset": len(spans)}
        )
        text_since_media += 1
        if text_since_media == spec.TEXT_SPANS_PER_MEDIA:
            text_since_media = 0
            kind = spec.MEDIA_KINDS[media_ordinal % len(spec.MEDIA_KINDS)]
            offset = len(spans)
            spans.append(
                {
                    "kind": kind,
                    "text": None,
                    "media_ref": spec.media_ref(doc_id, offset),
                    "offset": offset,
                }
            )
            media_ordinal += 1
    return spans


def build_interleaved(sf_dir: str, out_dir: str | None = None, force: bool = False) -> str:
    """Materialize the interleaved table for one scale factor; returns parquet path.

    Deterministic pure function of ``documents.parquet``, rebuilt when its
    ``file_lineage`` differs from the one in the ``_documents.lineage``
    sidecar beside the output (outside the parquet, so its bytes stay a
    function of the documents alone), or when ``force``.
    """
    from ..catalog import file_lineage

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out_dir = out_dir or os.path.join(REPO_DATA, "interleaved", sf_name)
    out_path = os.path.join(out_dir, "documents_interleaved.parquet")
    src = os.path.join(sf_dir, "documents.parquet")
    # '_'-prefixed: Spark and pyarrow skip it when they list the directory
    lineage, sidecar = file_lineage(src), Path(out_dir, "_documents.lineage")
    if not force and os.path.exists(out_path) and sidecar.is_file():
        if sidecar.read_text() == lineage:
            return out_path
    os.makedirs(out_dir, exist_ok=True)

    docs = pd.read_parquet(src, columns=["doc_id", "text"])
    docs = docs.sort_values("doc_id")
    doc_ids = []
    all_spans = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        sid = str(int(did))
        doc_ids.append(sid)
        all_spans.append(spans_for_text(sid, text or "", hot=int(did) % spec.HOT_DOC_MOD == 0))

    table = pa.Table.from_arrays(
        [pa.array(doc_ids, pa.string()), pa.array(all_spans, pa.list_(SPAN_STRUCT))],
        schema=INTERLEAVED_SCHEMA,
    )
    tmp = out_path + ".tmp"
    # small row groups keep the file splittable → parallel scans even for a
    # single-file corpus
    pq.write_table(table, tmp, row_group_size=512)
    os.replace(tmp, out_path)  # atomic publish → idempotent under concurrent builds
    sidecar.write_text(lineage)  # a torn write reads as stale: the next call rebuilds
    return out_path


def interleaved_path(sf_dir: str) -> str:
    """Path to the interleaved parquet for a testdata sf dir (built if missing or stale)."""
    return build_interleaved(sf_dir)
