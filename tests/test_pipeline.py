import os
import shutil

import pandas as pd
import pytest

from semantic_search_system_spark import spec
from semantic_search_system_spark.fixtures.golden import golden_triples, precision_recall
from semantic_search_system_spark.fixtures.interleave import interleaved_path
from semantic_search_system_spark.plans.pipeline import run_pipeline

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipeline"))
    cat = run_pipeline(spark, SF_SMALL, root)
    yield spark, cat, root
    shutil.rmtree(root, ignore_errors=True)


def _triples(spark, cat):
    return {
        (r["subj"], r["pred"], r["obj"])
        for r in cat.read(spark, "triples").select("subj", "pred", "obj").collect()
    }


def test_triple_pr_against_golden(built):
    """BASELINE.json: triple P/R >= 0.95 vs the reference-faithful oracle.
    The shared spec makes it exactly 1.0."""
    spark, cat, _ = built
    golden = set(map(tuple, golden_triples(pd.read_parquet(interleaved_path(SF_SMALL))).values))
    p, r = precision_recall(_triples(spark, cat), golden)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert (p, r) == (1.0, 1.0)


def test_graph_uniqueness_invariants(built):
    """knowledge_graph.py:113-114 constraints: unique (kind, node_id); unique
    (src, rel, dst)."""
    spark, cat, _ = built
    nodes = cat.read(spark, "nodes")
    assert nodes.groupBy("kind", "node_id").count().where("count > 1").count() == 0
    edges = cat.read(spark, "edges")
    assert edges.groupBy("src", "rel", "dst").count().where("count > 1").count() == 0


def test_resume_is_noop(built):
    spark, cat, root = built
    before = {t: cat.manifest(t) for t in ("enriched", "topic_map", "triples", "nodes", "edges")}
    n_before = len(_triples(spark, cat))
    cat2 = run_pipeline(spark, SF_SMALL, root)
    after = {t: cat2.manifest(t) for t in ("enriched", "topic_map", "triples", "nodes", "edges")}
    for t in before:
        assert before[t]["partitions"] == after[t]["partitions"]
        assert len(before[t]["snapshots"]) == len(after[t]["snapshots"])
    assert len(_triples(spark, cat2)) == n_before


def test_mid_run_resume_recomputes_only_downstream(built):
    spark, cat, root = built
    golden_count = len(_triples(spark, cat))
    for t in ("triples", "nodes", "edges"):
        shutil.rmtree(os.path.join(root, t))
    enr_snaps = len(cat.manifest("enriched")["snapshots"])
    cat2 = run_pipeline(spark, SF_SMALL, root)
    assert len(cat2.manifest("enriched")["snapshots"]) == enr_snaps  # not recomputed
    assert len(_triples(spark, cat2)) == golden_count  # byte-identical rebuild


def test_crash_between_nodes_and_edges_resumes_edges(built):
    """A run killed after the nodes commit but before the edges commit must
    still materialize edges on resume — nodes and edges are gated
    independently (ADVICE r01: a single shared `exists("nodes")` gate left
    cat.read('edges') permanently broken after such a crash)."""
    spark, cat, root = built
    n_edges = cat.read(spark, "edges").count()
    shutil.rmtree(os.path.join(root, "edges"))  # simulate the mid-stage crash
    cat2 = run_pipeline(spark, SF_SMALL, root)
    assert cat2.exists("edges")
    assert cat2.read(spark, "edges").count() == n_edges


def test_quarantine_routes_unusable_docs(spark, tmp_path_factory):
    """§2.11: docs with no usable text span land in the failed_rows table
    (with per-partition lineage), are EXCLUDED from enrichment, and the resume
    sweep does not re-quarantine completed buckets."""
    import pyspark.sql.functions as F

    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import build_enriched

    src = str(tmp_path_factory.mktemp("qsrc"))
    root = str(tmp_path_factory.mktemp("qcat"))
    good = spark.read.parquet(interleaved_path(SF_SMALL))
    bad = spark.createDataFrame(
        [
            ("broken_media_only", [("image", None, "media://x", 0)]),
            ("broken_blank_text", [("text", "   ", None, 0)]),
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    good.unionByName(bad).write.parquet(f"{src}/documents_interleaved.parquet")
    # build_enriched reads via interleaved_path(sf_dir) convention — point a
    # fake sf_dir at our corpus by monkeypatching the reader
    import semantic_search_system_spark.plans.pipeline as P

    orig = P.read_interleaved
    P.read_interleaved = lambda s, _sf: s.read.parquet(f"{src}/documents_interleaved.parquet")
    try:
        cat = Catalog(root)
        enriched = build_enriched(spark, "ignored", cat)
        failed = {r["doc_id"]: r["reason"] for r in cat.read(spark, "failed_rows").collect()}
        assert failed == {
            "broken_media_only": "no_text_spans",
            "broken_blank_text": "no_text_spans",
        }
        enriched_ids = {r["doc_id"] for r in enriched.select("doc_id").collect()}
        assert "broken_media_only" not in enriched_ids
        assert "broken_blank_text" not in enriched_ids
        assert len(enriched_ids) == 500
        assert all(m["stage"] == "quarantine" for m in cat.metrics("failed_rows"))
        snaps = len(cat.manifest("failed_rows")["snapshots"])
        build_enriched(spark, "ignored", cat)  # resume: no re-quarantine
        assert len(cat.manifest("failed_rows")["snapshots"]) == snaps
    finally:
        P.read_interleaved = orig


def test_failed_media_quarantine_shape(spark):
    """decode_ok=false media rows map into the failed_rows shape (real-mode
    decode raises for every row in this container — all quarantined)."""
    from semantic_search_system_spark.operators.multimodal import (
        extract_media_features,
        failed_media_rows,
        media_spans,
    )

    inter = spark.read.parquet(interleaved_path(SF_SMALL))
    media = media_spans(inter).limit(20)
    feats = extract_media_features(media, fake=False)  # codec stub: all fail
    q = failed_media_rows(feats)
    rows = q.collect()
    assert len(rows) == 20
    assert all(r["stage"] == "media_decode" and r["reason"].startswith("decode_failed:") for r in rows)


def test_determinism_two_full_runs(spark, tmp_path_factory):
    r1 = str(tmp_path_factory.mktemp("det1"))
    r2 = str(tmp_path_factory.mktemp("det2"))
    t1 = _triples(spark, run_pipeline(spark, SF_SMALL, r1))
    t2 = _triples(spark, run_pipeline(spark, SF_SMALL, r2))
    assert t1 == t2
    shutil.rmtree(r1, ignore_errors=True)
    shutil.rmtree(r2, ignore_errors=True)


def test_per_partition_metrics_exist(built):
    spark, cat, _ = built
    m = cat.metrics("enriched")
    assert len(m) == 8  # N_BUCKETS
    assert all(e["rows_written"] > 0 for e in m)
    assert sum(e["rows_written"] for e in m) == 500


def test_entity_map_canonicalization(spark, tmp_root):
    """Fuzzy entity linking: near-identical surface forms share a canonical id."""
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import build_entity_map

    rows = [
        ([("spark", "ENTITY"), ("sparks", "ENTITY")],),
        ([("spark", "ENTITY"), ("zebra", "ENTITY")],),
    ]
    enr = spark.createDataFrame(
        rows, "entities array<struct<text:string,label:string>>"
    )
    cat = Catalog(tmp_root)
    m = {r["name"]: r["canonical"] for r in build_entity_map(spark, cat, enr).collect()}
    assert m["spark"] == m["sparks"] == "spark"  # lev 1 within prefix block
    assert m["zebra"] == "zebra"


def test_entity_map_on_corpus(built):
    spark, cat, _ = built
    rows = cat.read(spark, "entity_map").collect()
    assert len(rows) > 0
    # every surface form has a canonical form; canonical is a member name
    names = {r["name"] for r in rows}
    assert all(r["canonical"] in names for r in rows)
    # n_docs is the name's corpus frequency: entity arrays are per-doc
    # distinct, so it equals the number of MENTIONS triples with that obj
    mentions = {
        r["obj"]: r["count"]
        for r in cat.read(spark, "triples")
        .where(f"pred = '{spec.PRED_MENTIONS}'")
        .groupBy("obj")
        .count()
        .collect()
    }
    assert {r["name"]: r["n_docs"] for r in rows} == mentions


def _with_job_count(spark, fn):
    """(fn(), number of Spark jobs fn submitted) — the delta of the
    statusTracker's job ids."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None)) - before)


def _entity_map(spark, root, enriched):
    """(sorted rows, manifest schema, Spark jobs) of build_entity_map into a
    fresh Catalog at ``root``."""
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import build_entity_map

    cat = Catalog(root)
    table, jobs = _with_job_count(spark, lambda: build_entity_map(spark, cat, enriched))
    return sorted(map(tuple, table.collect())), cat.manifest("entity_map")["schema"], jobs


# entity surface forms whose delete-1 neighbourhoods link into non-trivial
# components (every bench/testdata corpus has only singletons); delta/detla
# share delete-1 keys at edit distance 2, so the levenshtein verify must
# keep them apart; the padding, case, null and empty texts exercise the
# lower/trim/drop normalization
_COMPONENT_DOCS = [
    ["spark", "Flink", " zebra", "delta"],
    ["sparks", "blink", "zebr", "spark "],
    ["park", "link", "aebra", "", None],
    ["spork", "SMARK", "qpark", "flink"],
    ["spark", "delta", "detla"],
]
_COMPONENT_CANONICAL = {
    **dict.fromkeys(["park", "qpark", "smark", "spark", "sparks", "spork"], "park"),
    **dict.fromkeys(["blink", "flink", "link"], "blink"),
    **dict.fromkeys(["aebra", "zebr", "zebra"], "aebra"),
    "delta": "delta",
    "detla": "detla",
}


def _component_frame(spark):
    return spark.createDataFrame(
        [([(t, "ENTITY") for t in doc],) for doc in _COMPONENT_DOCS],
        "entities array<struct<text:string,label:string>>",
    )


def _component_relation(spark, root):
    """_COMPONENT_DOCS as a bare parquet relation (driver-readable)."""
    path = os.path.join(root, "src.parquet")
    _component_frame(spark).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("corpus", ["sf_small", "components"])
def test_entity_map_driver_matches_distributed(spark, tmp_root, monkeypatch, corpus):
    """The driver branch (zero Spark jobs) writes the EXACT rows and manifest
    schema of the distributed blocked-join → CC plan, which
    ``DRIVER_VOCAB_LIMIT = 0`` forces."""
    import semantic_search_system_spark.plans.pipeline as P
    from semantic_search_system_spark.catalog import Catalog

    if corpus == "sf_small":
        enriched = P.build_enriched(spark, SF_SMALL, Catalog(os.path.join(tmp_root, "src")))
    else:
        enriched = _component_relation(spark, tmp_root)
    fast, fast_schema, fast_jobs = _entity_map(spark, os.path.join(tmp_root, "a"), enriched)
    monkeypatch.setattr(P, "DRIVER_VOCAB_LIMIT", 0)
    slow, slow_schema, slow_jobs = _entity_map(spark, os.path.join(tmp_root, "b"), enriched)
    assert fast_jobs == 0 and slow_jobs > 0
    assert fast == slow and fast_schema == slow_schema
    if corpus == "sf_small":
        assert len(fast) > 10
    else:
        assert {n: c for n, c, _, _ in fast} == _COMPONENT_CANONICAL
        assert {n: d for n, _, d, _ in fast}["spark"] == 3


def test_entity_map_driver_bounds(spark, tmp_root, monkeypatch):
    """Past any driver bound — distinct names over ``DRIVER_VOCAB_LIMIT``,
    delete-1 candidate pairs over ``components.DRIVER_EDGE_LIMIT``, source
    bytes over ``DRIVER_VOCAB_SCAN_BYTES`` — and for a Spark-built frame (not
    a bare relation the driver can re-read), the distributed plan runs and
    writes the same table."""
    import semantic_search_system_spark.plans.pipeline as P
    from semantic_search_system_spark.operators import components

    enriched = _component_relation(spark, tmp_root)

    def run(tag, module=None, bound=None, value=None):
        with monkeypatch.context() as m:
            if module is not None:
                m.setattr(module, bound, value)
            rows, _, jobs = _entity_map(spark, os.path.join(tmp_root, tag), enriched)
        return rows, jobs

    # at the vocabulary bound, under the default edge bound: the driver branch
    n_names = len(_COMPONENT_CANONICAL)
    ref, jobs = run("at_vocab_limit", P, "DRIVER_VOCAB_LIMIT", n_names)
    assert jobs == 0
    rows, jobs = run("over_vocab_limit", P, "DRIVER_VOCAB_LIMIT", n_names - 1)
    assert rows == ref and jobs > 0
    # spark/sparks share a delete-1 block, so the corpus has candidate pairs
    rows, jobs = run("over_edge_limit", components, "DRIVER_EDGE_LIMIT", 0)
    assert rows == ref and jobs > 0
    rows, jobs = run("over_scan_bytes", P, "DRIVER_VOCAB_SCAN_BYTES", 0)
    assert rows == ref and jobs > 0
    rows, _, jobs = _entity_map(spark, os.path.join(tmp_root, "built"), _component_frame(spark))
    assert rows == ref and jobs > 0


def test_topic_map_driver_matches_distributed(spark, tmp_root):
    """The driver fast path must produce the EXACT (phrase_norm, broad_topic)
    table the distributed embed→blocked-join→CC→label plan produces."""
    import os

    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import (
        build_enriched,
        build_topic_map,
    )

    cat = Catalog(os.path.join(tmp_root, "a"))
    enriched = build_enriched(spark, SF_SMALL, cat)
    fast = {
        (r["phrase_norm"], r["broad_topic"])
        for r in build_topic_map(spark, cat, enriched).collect()
    }
    cat2 = Catalog(os.path.join(tmp_root, "b"))
    enriched2 = build_enriched(spark, SF_SMALL, cat2)
    slow = {
        (r["phrase_norm"], r["broad_topic"])
        for r in build_topic_map(spark, cat2, enriched2, driver_vocab_limit=0).collect()
    }
    assert fast == slow and len(fast) > 100


def test_driver_vocab_reads_match_spark_lower_on_case_mapping_outliers(
    spark, tmp_root, monkeypatch
):
    """The driver vocabulary reads lower-case with pyarrow ``utf8_lower``,
    which differs from Spark ``lower`` on 'İ' and a final 'Σ'. The driver
    branches stay exact only because the enrichment cleaner strips non-ASCII
    first: content carrying both characters must still give driver-branch
    topic_map and entity_map equal to their distributed twins."""
    import semantic_search_system_spark.plans.pipeline as P
    from semantic_search_system_spark.catalog import Catalog

    texts = [
        "İstanbul spark İstanbul sparks ΟΔΟΣ park ΣPARKΣ spark",
        "İZMİR flink blink ΘΕΟΣ İzmir flink link ΛΟΓΟΣ",
        "zebra zebr ΚΟΣΜΟΣ aebra İstanbul zebra spark",
    ]
    src = os.path.join(tmp_root, "docs.parquet")
    spark.createDataFrame(
        [(str(i), [("text", t, None, 0)]) for i, t in enumerate(texts)],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    ).write.parquet(src)
    monkeypatch.setattr(P, "read_interleaved", lambda s, _sf: s.read.parquet(src))
    enriched = P.build_enriched(spark, "ignored", Catalog(os.path.join(tmp_root, "src")))
    for col in ("entities", "topics"):
        vocab = [e["text"] for r in enriched.select(col).collect() for e in r[col]]
        assert vocab and all(t.isascii() for t in vocab), vocab

    # the distributed twins: topic_map takes its bound as an argument,
    # entity_map reads DRIVER_VOCAB_LIMIT per call
    for build, force in ((P.build_topic_map, {"driver_vocab_limit": 0}), (P.build_entity_map, {})):
        name = build.__name__
        fast, fast_jobs = _with_job_count(
            spark, lambda: build(spark, Catalog(os.path.join(tmp_root, f"{name}_a")), enriched)
        )
        with monkeypatch.context() as m:
            m.setattr(P, "DRIVER_VOCAB_LIMIT", 0)
            slow = build(spark, Catalog(os.path.join(tmp_root, f"{name}_b")), enriched, **force)
        assert fast_jobs == 0
        fast, slow = (sorted(map(tuple, t.collect())) for t in (fast, slow))
        assert fast and fast == slow, name
