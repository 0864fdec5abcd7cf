"""One staleness rule (``Catalog.reuse``): every derived table carries the
identity of its inputs in its stage string, a changed input rebuilds the
table (and, through the table's new files, everything derived from it), and
an unchanged input recomputes nothing."""

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from semantic_search_system_spark.catalog import Catalog
from semantic_search_system_spark.plans import pipeline as P

from conftest import with_job_count

_VOCAB = np.asarray(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
_PIPELINE_TABLES = ("enriched", "failed_rows", "topic_map", "entity_map", "triples", "nodes", "edges")


def _write_docs(sf_dir: str, seed: int, n: int = 300) -> None:
    """A testdata-style ``documents.parquet`` with ids 0..n-1 and random
    texts over a 30-word vocabulary; doc 1 is blank, so it is quarantined."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(8, 60))) for _ in range(n)]
    texts[1] = ""
    os.makedirs(sf_dir, exist_ok=True)
    pd.DataFrame({"doc_id": np.arange(n), "text": texts}).to_parquet(
        os.path.join(sf_dir, "documents.parquet"), index=False
    )


def _snapshots(cat: Catalog, table: str) -> set[str]:
    return {e["snapshot_id"] for e in cat.manifest(table)["partitions"].values()}


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def test_rewritten_corpus_rebuilds_the_graph(spark, tmp_root):
    """Two corpora with the same doc ids, built one after the other into the
    same out_root from the same sf dir: the second build serves the second
    corpus (golden P/R 1.0), not the first one's triples."""
    from semantic_search_system_spark.fixtures.golden import golden_triples, precision_recall
    from semantic_search_system_spark.fixtures.interleave import interleaved_path

    sf_dir, root = os.path.join(tmp_root, "sf_probe"), os.path.join(tmp_root, "out")
    for seed in (1, 2):
        _write_docs(sf_dir, seed)
        cat = P.run_pipeline(spark, sf_dir, root)
        golden = set(map(tuple, golden_triples(pd.read_parquet(interleaved_path(sf_dir))).values))
        tb = cat.read_arrow("triples")
        emitted = set(zip(*(tb[c].to_pylist() for c in ("subj", "pred", "obj"))))
        assert precision_recall(emitted, golden) == (1.0, 1.0), seed


def test_unchanged_input_recomputes_nothing(spark, tmp_root, monkeypatch):
    """A second run_pipeline over the same source keeps every table's
    snapshot ids and submits zero Spark jobs: the fingerprints are file
    metadata, not scans, and the source is not even opened."""
    sf_dir, root = os.path.join(tmp_root, "sf"), os.path.join(tmp_root, "out")
    _write_docs(sf_dir, 3)
    cat = P.run_pipeline(spark, sf_dir, root)
    before = {t: cat.manifest(t)["snapshots"] for t in _PIPELINE_TABLES}
    opened = []
    read = P.read_interleaved
    monkeypatch.setattr(P, "read_interleaved", lambda s, sf: opened.append(sf) or read(s, sf))
    _, jobs = with_job_count(spark, lambda: P.run_pipeline(spark, sf_dir, root))
    assert jobs == 0 and opened == []
    assert {t: cat.manifest(t)["snapshots"] for t in _PIPELINE_TABLES} == before


def _drop_rows(spark, cat: Catalog, table: str, column: str, values) -> None:
    """Recommit ``table`` under its own stage and schema without the rows
    whose ``column`` is in ``values``: its input identity changes."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    man = cat.manifest(table)
    schema = T.StructType.fromJson(json.loads(man["schema"]))
    stage = next(iter(man["partitions"].values()))["stage"]
    tb = P.driver_read(cat.read(spark, table), schema.names)
    shutil.rmtree(cat.path(table))
    keep = pc.invert(pc.is_in(tb[column], pa.array(values, tb[column].type)))
    cat.commit_partitions_local(tb.filter(keep), schema, table, stage)


def _pipeline(spark, tmp_root):
    sf_dir = os.path.join(tmp_root, "sf")
    _write_docs(sf_dir, 1)
    return sf_dir, P.run_pipeline(spark, sf_dir, os.path.join(tmp_root, "out"))


def _case_enriched(spark, tmp_root):
    sf_dir, cat = _pipeline(spark, tmp_root)
    _write_docs(sf_dir, 2)  # same ids, new texts
    return cat, lambda c: P.build_enriched(spark, sf_dir, c)


def _case_vocab(build):
    def case(spark, tmp_root):
        _, cat = _pipeline(spark, tmp_root)
        _drop_rows(spark, cat, "enriched", "bucket", [0])
        enriched = cat.read(spark, "enriched")
        return cat, lambda c: build(spark, c, enriched)

    return case


def _case_triples(spark, tmp_root):
    _, cat = _pipeline(spark, tmp_root)
    phrases = cat.read_arrow("topic_map")["phrase_norm"].to_pylist()
    _drop_rows(spark, cat, "topic_map", "phrase_norm", phrases[::2])
    enriched, topic_map = cat.read(spark, "enriched"), cat.read(spark, "topic_map")
    return cat, lambda c: P.build_triples(spark, c, enriched, topic_map)


def _case_graph(table):
    def case(spark, tmp_root):
        _, cat = _pipeline(spark, tmp_root)
        _drop_rows(spark, cat, "triples", "bucket", [1])
        enriched, triples = cat.read(spark, "enriched"), cat.read(spark, "triples")
        return cat, lambda c: P.build_graph(spark, c, enriched, triples)[table == "edges"]

    return case


def _case_entity_freq(spark, tmp_root):
    from semantic_search_system_spark.plans import search as S

    _, cat = _pipeline(spark, tmp_root)
    S.ensure_entity_freq(spark, cat, cat.read(spark, "enriched"))
    _drop_rows(spark, cat, "enriched", "bucket", [2, 3])
    enriched = cat.read(spark, "enriched")

    def build(c):
        if not c.exists("enriched"):  # the statistic keys on its catalog's source table
            shutil.copytree(cat.path("enriched"), c.path("enriched"))
        S.ensure_entity_freq(spark, c, enriched)
        return c.read(spark, S.ENTITY_FREQ_TABLE)

    return cat, build


def _case_minhash(spark, tmp_root):
    from semantic_search_system_spark import entrypoints as E
    from semantic_search_system_spark.catalog import file_lineage

    sf_dir = os.path.join(tmp_root, "sf")
    _write_docs(sf_dir, 1, n=60)
    cat = Catalog(os.path.join(tmp_root, "out"))

    def build(c):
        path = os.path.join(sf_dir, "documents.parquet")
        E.ensure_minhash_store(spark, c, E._dup_corpus(spark, sf_dir), file_lineage(path))
        return c.read(spark, E.MINHASH_STORE_TABLE)

    build(cat)
    _write_docs(sf_dir, 2, n=60)
    return cat, build


def _case_ivf(spark, tmp_root):
    from semantic_search_system_spark.catalog import file_lineage
    from semantic_search_system_spark.operators.similarity import build_ivf_index

    path = os.path.join(tmp_root, "embeddings.parquet")

    def write(seed):
        rng = np.random.default_rng(seed)
        pd.DataFrame(
            {"vec_id": np.arange(64), "embedding": list(rng.normal(size=(64, 8)))}
        ).to_parquet(path, index=False)

    def build(c):
        e = spark.read.parquet(path)
        build_ivf_index(spark, e, c, file_lineage(path), n_centroids=4, n_iter=1)
        return c.read(spark, "ivf_centroids")

    write(1)
    cat = Catalog(os.path.join(tmp_root, "out"))
    build(cat)
    write(2)
    return cat, build


_CASES = {
    ("enriched", "failed_rows"): _case_enriched,
    ("topic_map",): _case_vocab(P.build_topic_map),
    ("entity_map",): _case_vocab(P.build_entity_map),
    ("triples",): _case_triples,
    ("nodes",): _case_graph("nodes"),
    ("edges",): _case_graph("edges"),
    ("entity_freq_topk",): _case_entity_freq,
    ("minhash_sigs",): _case_minhash,
    ("ivf_centroids", "ivf_assign"): _case_ivf,
}


@pytest.mark.parametrize("tables", list(_CASES), ids=lambda t: t[0])
def test_changed_input_rebuilds_table(spark, tmp_root, tables):
    """Rewrite a derived table's input, then ask for the table again: it is
    rebuilt (a warning names it, every partition has a new snapshot) and
    equals a build from scratch over the rewritten input."""
    cat, build = _CASES[tables](spark, tmp_root)
    before = {t: _snapshots(cat, t) for t in tables}
    with pytest.warns(UserWarning, match=f"rebuilding table '{tables[0]}'"):
        rows = _rows(build(cat))
    for t in tables:
        assert before[t] and not _snapshots(cat, t) & before[t], t
    ref = Catalog(os.path.join(tmp_root, "fresh"))
    assert rows == _rows(build(ref))


def test_interleaved_cache_rebuilds_on_changed_documents(tmp_root):
    """The interleaved cache is keyed on its source: an unchanged
    ``documents.parquet`` is served as is, a rewritten one rebuilds it."""
    from semantic_search_system_spark.fixtures.interleave import build_interleaved

    sf_dir, out = os.path.join(tmp_root, "sf"), os.path.join(tmp_root, "inter")
    _write_docs(sf_dir, 1, n=50)
    path = build_interleaved(sf_dir, out_dir=out)
    first, mtime = pd.read_parquet(path), os.stat(path).st_mtime_ns
    assert build_interleaved(sf_dir, out_dir=out) == path
    assert os.stat(path).st_mtime_ns == mtime
    _write_docs(sf_dir, 2, n=50)
    assert build_interleaved(sf_dir, out_dir=out) == path
    ref = build_interleaved(sf_dir, out_dir=os.path.join(tmp_root, "ref"))
    assert pd.read_parquet(path).equals(pd.read_parquet(ref))
    assert not pd.read_parquet(path).equals(first)
