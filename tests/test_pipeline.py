import os
import shutil
from collections import Counter

import pandas as pd
import pytest

from semantic_search_system_spark import spec
from semantic_search_system_spark.fixtures.golden import golden_triples, precision_recall
from semantic_search_system_spark.fixtures.interleave import interleaved_path
from semantic_search_system_spark.plans.pipeline import run_pipeline

from conftest import SF_SMALL, set_budget, with_job_count, write_edge_corpus


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


@pytest.mark.parametrize("branch", ["local", "spark"])
def test_quarantine_routes_unusable_docs(spark, tmp_path_factory, monkeypatch, branch):
    """§2.11: docs with no usable text span land in the failed_rows table
    (with per-partition lineage), are EXCLUDED from enrichment, and the resume
    sweep does not re-quarantine completed buckets — on the driver branch of
    build_enriched and on the Spark plan (a driver budget of 0)."""
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
    # build_enriched fingerprints interleaved_path(sf_dir) and reads it with
    # read_interleaved — point a fake sf_dir at our corpus by patching both
    import semantic_search_system_spark.plans.pipeline as P

    monkeypatch.setattr(P, "interleaved_path", lambda _sf: f"{src}/documents_interleaved.parquet")
    monkeypatch.setattr(
        P, "read_interleaved", lambda s, _sf: s.read.parquet(f"{src}/documents_interleaved.parquet")
    )
    if branch == "spark":
        set_budget(monkeypatch, 0)
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
    assert all(m["stage"].startswith("quarantine fp=") for m in cat.metrics("failed_rows"))
    assert [s["writer"] for s in cat.manifest("failed_rows")["snapshots"]] == [branch]
    snaps = len(cat.manifest("failed_rows")["snapshots"])
    build_enriched(spark, "ignored", cat)  # resume: no re-quarantine
    assert len(cat.manifest("failed_rows")["snapshots"]) == snaps


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


def _entity_map(spark, root, enriched):
    """(sorted rows, manifest schema, Spark jobs) of build_entity_map into a
    fresh Catalog at ``root``."""
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import build_entity_map

    cat = Catalog(root)
    table, jobs = with_job_count(spark, lambda: build_entity_map(spark, cat, enriched))
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
    schema of the distributed blocked-join → CC plan, which a driver budget
    of 0 forces."""
    import semantic_search_system_spark.plans.pipeline as P
    from semantic_search_system_spark.catalog import Catalog

    if corpus == "sf_small":
        enriched = P.build_enriched(spark, SF_SMALL, Catalog(os.path.join(tmp_root, "src")))
    else:
        enriched = _component_relation(spark, tmp_root)
    fast, fast_schema, fast_jobs = _entity_map(spark, os.path.join(tmp_root, "a"), enriched)
    set_budget(monkeypatch, 0)
    slow, slow_schema, slow_jobs = _entity_map(spark, os.path.join(tmp_root, "b"), enriched)
    assert fast_jobs == 0 and slow_jobs > 0
    assert fast == slow and fast_schema == slow_schema
    if corpus == "sf_small":
        assert len(fast) > 10
    else:
        assert {n: c for n, c, _, _ in fast} == _COMPONENT_CANONICAL
        assert {n: d for n, _, d, _ in fast}["spark"] == 3


def test_entity_map_driver_bounds(spark, tmp_root, monkeypatch):
    """Each of the stage's three driver gates flips between a budget equal
    to its estimate and one byte less, and every branch writes the same
    table: the driver read of ``enriched`` (the largest estimate on the
    component corpus), the distinct names (the largest on a corpus of many
    unrelated names) and the delete-1 candidate pairs (at
    ``entity_map_driver`` itself). A Spark-built frame (not a bare relation
    the driver can re-read) runs the distributed plan."""
    import random

    import semantic_search_system_spark.plans.pipeline as P

    def n_pairs(names):
        blocks = Counter(k for n in names for k in {n, *(n[:i] + n[i + 1 :] for i in range(len(n)))})
        return sum(c * (c - 1) // 2 for c in blocks.values())

    def read_est(df):
        paths = [f[5:] if f.startswith("file:") else f for f in df.inputFiles()]
        return sum(map(os.path.getsize, paths)) * P._READ_BYTES_PER_FILE_BYTE

    def flip(tag, enriched, est):
        runs = []
        for budget in (est, est - 1):
            with monkeypatch.context() as m:
                set_budget(m, budget)
                runs.append(_entity_map(spark, os.path.join(tmp_root, f"{tag}_{budget}"), enriched))
        (ref, _, at_jobs), (rows, _, under_jobs) = runs
        assert at_jobs == 0 and under_jobs > 0 and rows == ref
        return ref

    # the driver read of enriched
    enriched = _component_relation(spark, tmp_root)
    names = list(_COMPONENT_CANONICAL)
    # spark/sparks share a delete-1 block, so the corpus has candidate pairs
    assert n_pairs(names) > 0
    est = read_est(enriched)
    assert est > max(len(names) * P._NAME_BYTES, n_pairs(names) * P._PAIR_BYTES)
    ref = flip("read", enriched, est)
    rows, _, jobs = _entity_map(spark, os.path.join(tmp_root, "built"), _component_frame(spark))
    assert rows == ref and jobs > 0

    # the candidate pairs
    est = n_pairs(names) * P._PAIR_BYTES
    names, counts = [n for n, _, _, _ in ref], [d for _, _, d, _ in ref]
    with monkeypatch.context() as m:
        set_budget(m, est)
        assert P.entity_map_driver(spark, names, counts) == ref
        set_budget(m, est - 1)
        assert P.entity_map_driver(spark, names, counts) is None

    # the distinct names
    rng = random.Random(0)
    many = ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=8)) for _ in range(1000)]
    path = os.path.join(tmp_root, "many.parquet")
    spark.createDataFrame(
        [([(t, "ENTITY") for t in many[i : i + 10]],) for i in range(0, len(many), 10)],
        "entities array<struct<text:string,label:string>>",
    ).write.parquet(path)
    enriched = spark.read.parquet(path)
    est = len(set(many)) * P._NAME_BYTES
    assert est > max(read_est(enriched), n_pairs(set(many)) * P._PAIR_BYTES)
    assert len(flip("names", enriched, est)) == len(set(many))


def test_topic_map_driver_matches_distributed(spark, tmp_root, monkeypatch):
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
    set_budget(monkeypatch, 0)
    slow = {
        (r["phrase_norm"], r["broad_topic"])
        for r in build_topic_map(spark, cat2, enriched2).collect()
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
    monkeypatch.setattr(P, "interleaved_path", lambda _sf: src)
    monkeypatch.setattr(P, "read_interleaved", lambda s, _sf: s.read.parquet(src))
    enriched = P.build_enriched(spark, "ignored", Catalog(os.path.join(tmp_root, "src")))
    for col in ("entities", "topics"):
        vocab = [e["text"] for r in enriched.select(col).collect() for e in r[col]]
        assert vocab and all(t.isascii() for t in vocab), vocab

    # the distributed twins: both stages ask the driver budget per call
    for build in (P.build_topic_map, P.build_entity_map):
        name = build.__name__
        fast, fast_jobs = with_job_count(
            spark, lambda: build(spark, Catalog(os.path.join(tmp_root, f"{name}_a")), enriched)
        )
        with monkeypatch.context() as m:
            set_budget(m, 0)
            slow = build(spark, Catalog(os.path.join(tmp_root, f"{name}_b")), enriched)
        assert fast_jobs == 0
        fast, slow = (sorted(map(tuple, t.collect())) for t in (fast, slow))
        assert fast and fast == slow, name


_KG_TABLES = ("triples", "nodes", "edges")


@pytest.fixture(scope="module", params=["sf_small", "generated_4k"])
def kg_inputs(request, spark, tmp_path_factory):
    """(enriched, topic_map) committed in their own Catalog: SF_SMALL, or a
    generated 4,000-doc corpus (random texts over a 30-word vocabulary)."""
    import numpy as np

    import semantic_search_system_spark.plans.pipeline as P
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.fixtures.interleave import build_interleaved

    root = str(tmp_path_factory.mktemp(f"kg_{request.param}"))
    sf_dir = SF_SMALL
    if request.param == "generated_4k":
        rng = np.random.default_rng(5)
        vocab = np.asarray(
            "a agg batch big column customer data fast filter group hash join key line merge "
            "order part query row scan slow small sort spark stream table the value vector window".split()
        )
        sf_dir = os.path.join(root, "gen_4k")
        os.makedirs(sf_dir)
        pd.DataFrame(
            {
                "doc_id": np.arange(4000),
                "text": [" ".join(rng.choice(vocab, rng.integers(10, 100))) for _ in range(4000)],
            }
        ).to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
        build_interleaved(sf_dir, force=True)
    cat = Catalog(os.path.join(root, "src"))
    enriched = P.build_enriched(spark, sf_dir, cat)
    yield enriched, P.build_topic_map(spark, cat, enriched)
    shutil.rmtree(root, ignore_errors=True)


def _kg_build(spark, root, enriched, topic_map, n_buckets=None):
    """(rows per table, manifest schema per table, Spark jobs, writer per
    snapshot) of build_triples + build_graph into the Catalog at ``root``;
    ``n_buckets`` limits triples to its first buckets and skips the graph."""
    import semantic_search_system_spark.plans.pipeline as P
    from semantic_search_system_spark.catalog import Catalog

    cat = Catalog(root)

    def build():
        if n_buckets is not None:
            return P.build_triples(spark, cat, enriched, topic_map, n_buckets)
        return P.build_graph(spark, cat, enriched, P.build_triples(spark, cat, enriched, topic_map))

    _, jobs = with_job_count(spark, build)
    tables = [t for t in _KG_TABLES if cat.exists(t)]
    rows = {t: sorted(map(tuple, cat.read(spark, t).collect()), key=repr) for t in tables}
    schemas = {t: cat.manifest(t)["schema"] for t in tables}
    writers = {t: [s["writer"] for s in cat.manifest(t)["snapshots"]] for t in tables}
    return rows, schemas, jobs, writers


def test_triples_graph_driver_matches_distributed(spark, tmp_root, monkeypatch, kg_inputs):
    """The driver branch of build_triples + build_graph (pyarrow, zero Spark
    jobs) writes the EXACT rows — bucket included — and manifest schemas of
    the distributed plans, which a driver budget of 0 forces."""
    import semantic_search_system_spark.plans.pipeline as P

    fast, fast_schemas, fast_jobs, fast_writers = _kg_build(spark, os.path.join(tmp_root, "a"), *kg_inputs)
    set_budget(monkeypatch, 0)
    slow, slow_schemas, slow_jobs, slow_writers = _kg_build(spark, os.path.join(tmp_root, "b"), *kg_inputs)
    assert fast_jobs == 0 and slow_jobs > 0
    assert fast_writers == {t: ["local"] for t in _KG_TABLES}
    assert slow_writers == {t: ["spark"] for t in _KG_TABLES}
    assert fast_schemas == slow_schemas
    for t in _KG_TABLES:
        assert fast[t] == slow[t], t
    assert len(fast["triples"]) == len(fast["edges"]) > 1000
    assert {b for *_, b in fast["triples"]} == set(range(P.N_BUCKETS))
    kinds = {r[1] for r in fast["nodes"]}
    assert kinds == {"Document", "Entity", "BroadTopic"}


def test_triples_graph_driver_gate(spark, tmp_root, monkeypatch, kg_inputs):
    """At a driver budget equal to the driver read's estimate for the
    enriched source (the largest input) the driver branch runs; one byte
    less and both stages run distributed — the same tables either way."""
    import semantic_search_system_spark.plans.pipeline as P

    enriched, _ = kg_inputs
    paths = [f[5:] if f.startswith("file:") else f for f in enriched.inputFiles()]
    est = sum(os.path.getsize(p) for p in paths) * P._READ_BYTES_PER_FILE_BYTE
    runs = {}
    for tag, budget in (("at", est), ("under", est - 1)):
        set_budget(monkeypatch, budget)
        runs[tag] = _kg_build(spark, os.path.join(tmp_root, tag), *kg_inputs)
    assert runs["at"][2] == 0 and runs["under"][2] > 0
    assert runs["at"][3] == {t: ["local"] for t in _KG_TABLES}
    assert runs["under"][3] == {t: ["spark"] for t in _KG_TABLES}
    assert runs["at"][:2] == runs["under"][:2]


def test_triples_mixed_branch_resume(spark, tmp_root, monkeypatch, kg_inputs):
    """A resume may switch branches: one branch commits the first four
    triples buckets, the other completes the rest (and the graph) — no
    schema-drift error, and the same tables as a one-branch build."""
    ref, ref_schemas, _, _ = _kg_build(spark, os.path.join(tmp_root, "ref"), *kg_inputs)
    for first, second in (("spark", "local"), ("local", "spark")):
        root = os.path.join(tmp_root, first)
        with monkeypatch.context() as m:
            if first == "spark":
                set_budget(m, 0)
            part, _, _, _ = _kg_build(spark, root, *kg_inputs, n_buckets=4)
        assert {b for *_, b in part["triples"]} == {0, 1, 2, 3}
        with monkeypatch.context() as m:
            if second == "spark":
                set_budget(m, 0)
            rows, schemas, _, writers = _kg_build(spark, root, *kg_inputs)
        assert writers["triples"] == [first, second]
        assert rows == ref and schemas == ref_schemas


# ------------------------------------------------------------------ enrich twin
_ENRICH_TABLES = ("enriched", "failed_rows")


@pytest.fixture(scope="module", params=["sf_small", "edge_cases"])
def enrich_source(request, tmp_path_factory):
    """(name, path) of an interleaved parquet file: SF_SMALL's, or the
    edge-case corpus of ``conftest.write_edge_corpus``."""
    if request.param == "sf_small":
        return request.param, interleaved_path(SF_SMALL)
    path = str(tmp_path_factory.mktemp("edge") / "documents_interleaved.parquet")
    write_edge_corpus(path)
    return request.param, path


def _enrich_build(spark, root, source, monkeypatch, pending_limit=None):
    """(rows per table, manifest schema per table, Spark jobs, writer per
    snapshot) of build_enriched from the interleaved file ``source`` into
    the Catalog at ``root``; ``pending_limit`` stops the build after the
    buckets below it, as a run killed mid-stage would."""
    import semantic_search_system_spark.plans.pipeline as P
    from semantic_search_system_spark.catalog import Catalog

    cat = Catalog(root)
    with monkeypatch.context() as m:
        m.setattr(P, "interleaved_path", lambda _sf: source)
        if pending_limit is not None:
            pending = Catalog.pending_buckets
            m.setattr(
                Catalog, "pending_buckets",
                lambda self, t, n: [b for b in pending(self, t, n) if b < pending_limit],
            )
        _, jobs = with_job_count(spark, lambda: P.build_enriched(spark, "ignored", cat))
    rows = {t: sorted(cat.read(spark, t).collect(), key=repr) for t in _ENRICH_TABLES}
    schemas = {t: cat.manifest(t)["schema"] for t in _ENRICH_TABLES}
    writers = {t: [s["writer"] for s in cat.manifest(t)["snapshots"]] for t in _ENRICH_TABLES}
    return rows, schemas, jobs, writers


def test_enrich_driver_matches_distributed(spark, tmp_root, monkeypatch, enrich_source):
    """The driver branch of build_enriched (pyarrow admission and assembly,
    the fused kernel in-process, local commits) writes the EXACT rows —
    bucket and embeddings included — and manifest schemas of the Spark plan,
    which a driver budget of 0 forces, in zero Spark jobs."""
    import semantic_search_system_spark.plans.pipeline as P

    corpus, source = enrich_source
    fast, fast_schemas, fast_jobs, fast_writers = _enrich_build(
        spark, os.path.join(tmp_root, "a"), source, monkeypatch
    )
    set_budget(monkeypatch, 0)
    slow, slow_schemas, slow_jobs, slow_writers = _enrich_build(
        spark, os.path.join(tmp_root, "b"), source, monkeypatch
    )
    assert fast_jobs == 0 and slow_jobs > 0
    assert fast_writers == {t: ["local"] for t in _ENRICH_TABLES}
    assert slow_writers == {t: ["spark"] for t in _ENRICH_TABLES}
    assert fast_schemas == slow_schemas
    assert fast_schemas["enriched"] == P._ENRICHED_SCHEMA.json()
    assert fast_schemas["failed_rows"] == P._FAILED_ROWS_SCHEMA.json()
    for t in _ENRICH_TABLES:
        assert fast[t] == slow[t], t
    assert {r["bucket"] for r in fast["enriched"]} == set(range(P.N_BUCKETS))
    if corpus == "edge_cases":
        failed = {r["doc_id"] for r in fast["failed_rows"]}
        assert failed == {"media_only", "blank_only", "no_spans", "null_spans"}
        by_id = {r["doc_id"]: r for r in fast["enriched"]}
        assert by_id["order"]["title"] == "alpha"  # the lowest (offset, text) span
        assert by_id["order"]["media_refs"] == ["m:1"]
        assert by_id["null_kind"]["media_refs"] == []  # a null kind is not media
        assert by_id["null_offset"]["title"] == "first words"  # null fields sort first
        assert by_id["media_ties"]["media_refs"] == [None, "m:z", "m:c"]
        assert len(by_id["accents"]["title"]) == 64 and by_id["emoji"]["title"] == "😀" * 64
        assert [str(by_id[i]["doc_date"]) for i in (" 7", "+7", "007", "-7", "1.5")] == [
            "2000-01-08", "2000-01-08", "2000-01-08", "1999-12-25", "2000-01-01",
        ]


def test_enrich_driver_bound(spark, tmp_root, monkeypatch):
    """At a driver budget equal to the source's enrich estimate (its file
    bytes times the measured enrich factor) the source is enriched on the
    driver; one byte less runs the Spark plan — the same tables either way.
    ``maxRecordsPerBatch`` only sizes the kernel's batches: at zero or less
    (one batch) the driver branch writes the same tables."""
    import semantic_search_system_spark.plans.pipeline as P

    source = interleaved_path(SF_SMALL)
    est = os.path.getsize(source) * P._ENRICH_BYTES_PER_FILE_BYTE
    runs = {}
    for tag, budget in (("at", est), ("under", est - 1)):
        with monkeypatch.context() as m:
            set_budget(m, budget)
            runs[tag] = _enrich_build(spark, os.path.join(tmp_root, tag), source, monkeypatch)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "0")
        runs["one_batch"] = _enrich_build(spark, os.path.join(tmp_root, "b0"), source, monkeypatch)
    finally:
        spark.conf.set(key, saved)
    for tag, writer in (("at", "local"), ("under", "spark"), ("one_batch", "local")):
        assert (runs[tag][2] == 0) == (writer == "local"), tag
        assert runs[tag][3] == {t: [writer] for t in _ENRICH_TABLES}, tag
        assert runs[tag][:2] == runs["at"][:2], tag


def test_enrich_mixed_branch_resume(spark, tmp_root, monkeypatch, enrich_source):
    """A resume may switch branches: one branch commits enriched (and
    failed_rows) buckets 0–3, the other completes the rest — no schema-drift
    error, and the same tables as a one-branch build."""
    import semantic_search_system_spark.plans.pipeline as P

    _, source = enrich_source
    ref, ref_schemas, _, _ = _enrich_build(
        spark, os.path.join(tmp_root, "ref"), source, monkeypatch
    )
    for first, second in (("spark", "local"), ("local", "spark")):
        root = os.path.join(tmp_root, first)
        with monkeypatch.context() as m:
            if first == "spark":
                set_budget(m, 0)
            part, _, _, _ = _enrich_build(spark, root, source, monkeypatch, pending_limit=4)
        assert {r["bucket"] for r in part["enriched"]} == {0, 1, 2, 3}
        with monkeypatch.context() as m:
            if second == "spark":
                set_budget(m, 0)
            rows, schemas, _, writers = _enrich_build(spark, root, source, monkeypatch)
        assert writers["enriched"] == [first, second]
        assert rows == ref and schemas == ref_schemas


def test_driver_sized_pipeline_submits_no_spark_job(spark, tmp_root):
    """A driver-sized run_pipeline submits zero Spark jobs: every stage,
    enrichment included, takes its driver branch, and every snapshot it
    writes records the local writer."""
    from semantic_search_system_spark.catalog import Catalog

    interleaved_path(SF_SMALL)  # the source cache, built outside the count
    cat, jobs = with_job_count(spark, lambda: run_pipeline(spark, SF_SMALL, tmp_root))
    assert jobs == 0
    tables = sorted(t for t in os.listdir(tmp_root) if cat.exists(t))
    assert tables == sorted(
        ["enriched", "failed_rows", "topic_map", "entity_map", "triples", "nodes", "edges"]
    )
    for t in tables:
        assert {s["writer"] for s in Catalog(tmp_root).manifest(t)["snapshots"]} == {"local"}, t
