from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pytest

# Every table the suite derives (interleaved corpora, pipeline outputs,
# indexes, stores) lands in one session temp root, never in the checkout:
# set before the package is imported, because fixtures.interleave reads it
# at import time.
DATA_ROOT = tempfile.mkdtemp(prefix="sss_data_")
os.environ["SSS_SPARK_DATA_DIR"] = DATA_ROOT
atexit.register(shutil.rmtree, DATA_ROOT, True)

from semantic_search_system_spark.fixtures.interleave import SF_MED, SF_SMALL  # noqa: E402,F401
from semantic_search_system_spark.session import _DEF_CPUS, get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sss-tests", master=f"local[{_DEF_CPUS}]")
    yield s


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="sss_cat_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def set_budget(monkeypatch, n_bytes):
    """Set the driver budget that every driver-or-Spark choice asks
    (``session.driver_fits``) to ``n_bytes``: 0 forces every Spark branch."""
    from semantic_search_system_spark import session

    monkeypatch.setattr(session, "driver_budget", lambda spark: n_bytes)


def with_job_count(spark, fn):
    """(fn(), number of Spark jobs fn submitted) — the delta of the
    statusTracker's job ids."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None)) - before)


def _edge_case_spans():
    """(doc_id, spans) rows that stress span assembly, admission and the
    doc_date cast: out-of-order, tied and null offsets, null kind, null and
    blank text, null span elements and media refs, media-only and span-less
    docs, titles past 64 code points in non-ASCII text, and doc ids that
    Spark's try_cast reads as a long or rejects."""

    def t(text, offset, kind="text", ref=None):
        return {"kind": kind, "text": text, "media_ref": ref, "offset": offset}

    rows = [
        ("order", [t("gamma", 2), t("alpha", 0), t(None, 1, "image", "m:1"), t("beta", 0),
                   t("beta", 0, ref="r")]),
        ("null_kind", [t("hidden words", 1, None, "m:k"), t("shown words", 3),
                       t(None, None, None)]),
        ("null_text", [t(None, 0), t("after a null text", 1), t(None, 2, "audio", None)]),
        ("blank_kept", [t("   ", 0), t("", 1), t("real words here", 2), t("tail", 3)]),
        ("null_element", [None, t("spark join", 5), None]),
        ("null_offset", [t("later words", 0), t("first words", None)]),
        ("media_ties", [t("some words", 0), t(None, 1, "image", "m:z"), t(None, 1, "image"),
                        t("cap", 1, "image", "m:c")]),
        ("media_only", [t(None, 0, "image", "m:a"), t(None, 1, "video", "m:b")]),
        ("blank_only", [t("  ", 0), t(None, 1)]),
        ("no_spans", []),
        ("null_spans", None),
        ("accents", [t("é" * 70 + " café", 0), t("naïve word", 1)]),
        ("cjk", [t("中文字符" * 20, 0)]),
        ("emoji", [t("😀" * 65 + " smile", 0), t("x" * 63 + "😀z", 1)]),
        (None, [t("no id at all", 0)]),
    ]
    ids = [" 7", "+7", "007", "-7", "1.5", "abc", "9223372036854775808", "-9223372036854775808"]
    rows += [(i, [t(f"document {k} about spark and data", 0)]) for k, i in enumerate(ids)]
    return rows


def write_edge_corpus(path: str) -> int:
    """Write the edge-case rows of ``_edge_case_spans`` beside 200 plain
    docs as an interleaved parquet file at ``path``; returns its row
    count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from semantic_search_system_spark.fixtures.interleave import INTERLEAVED_SCHEMA

    plain = {"kind": "text", "media_ref": None, "offset": 0}
    rows = _edge_case_spans() + [
        (f"plain{i}", [{**plain, "text": f"spark table {i} scan data"}]) for i in range(200)
    ]
    ids, spans = zip(*rows)
    columns = [pa.array(c, f.type) for c, f in zip((ids, spans), INTERLEAVED_SCHEMA)]
    pq.write_table(pa.Table.from_arrays(columns, schema=INTERLEAVED_SCHEMA), path)
    return len(rows)
