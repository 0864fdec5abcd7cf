import pytest

from semantic_search_system_spark.fixtures.interleave import interleaved_path
from semantic_search_system_spark.streaming.incremental import enrich_stream

from conftest import SF_SMALL, set_budget, with_job_count, write_edge_corpus


def test_enrich_stream_matches_batch(spark, tmp_root):
    import os

    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import build_enriched

    inter_dir = os.path.dirname(interleaved_path(SF_SMALL))
    q = enrich_stream(
        spark,
        inter_dir,
        os.path.join(tmp_root, "out"),
        os.path.join(tmp_root, "ckpt"),
    )
    q.awaitTermination(120)
    cat = Catalog(os.path.join(tmp_root, "out"))
    streamed = cat.read(spark, "enriched_stream")
    batch = build_enriched(spark, SF_SMALL, Catalog(os.path.join(tmp_root, "batch")))
    s_rows = {
        r["doc_id"]: (tuple(e["text"] for e in r["entities"]), r["summary"])
        for r in streamed.select("doc_id", "entities", "summary").collect()
    }
    b_rows = {
        r["doc_id"]: (tuple(e["text"] for e in r["entities"]), r["summary"])
        for r in batch.select("doc_id", "entities", "summary").collect()
    }
    assert s_rows == b_rows and len(s_rows) == 500


def test_enrich_stream_multi_epoch_no_data_loss(spark, tmp_root):
    """Regression (ADVICE r01 high): with >maxFilesPerTrigger input files the
    stream runs multiple epochs; epoch 1 must NOT claim all manifest buckets
    and silently drop every later micro-batch. 8 input files at
    maxFilesPerTrigger=4 forces >=2 epochs; streamed output must equal the
    full corpus."""
    import os

    from semantic_search_system_spark.catalog import Catalog

    # re-write the sf0.001 corpus as 8 separate parquet files
    multi_dir = os.path.join(tmp_root, "multi_file_input")
    spark.read.parquet(interleaved_path(SF_SMALL)).repartition(8).write.parquet(multi_dir)
    n_files = len([f for f in os.listdir(multi_dir) if f.endswith(".parquet")])
    assert n_files == 8

    q = enrich_stream(
        spark,
        multi_dir,
        os.path.join(tmp_root, "out"),
        os.path.join(tmp_root, "ckpt"),
    )
    q.awaitTermination(180)
    cat = Catalog(os.path.join(tmp_root, "out"))
    man = cat.manifest("enriched_stream")
    epochs = {e["stage"] for e in man["snapshots"]}
    assert len(epochs) >= 2, f"expected multiple epochs, got {epochs}"
    streamed = cat.read(spark, "enriched_stream")
    assert streamed.count() == 500
    assert streamed.select("doc_id").distinct().count() == 500


def test_compact_stream_epochs_preserves_reads_and_resume(spark, tmp_root):
    """Epoch compaction (round-4 VERDICT #6): folding `<epoch>_<bucket>`
    partitions into canonical `c<gen>_<bucket>` buckets must (a) leave reads
    byte-equal, (b) be an idempotent no-op when there is nothing to fold,
    (c) coexist with checkpoint resume — later stream epochs land in fresh
    partitions and a second compaction folds them INTO the prior generation —
    and (d) sweep debris from an interrupted compaction."""
    import os
    import shutil

    from semantic_search_system_spark.catalog import Catalog

    src = os.path.join(tmp_root, "in")
    spark.read.parquet(interleaved_path(SF_SMALL)).repartition(8).write.parquet(src)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    later = os.path.join(tmp_root, "later")
    os.makedirs(later)
    for f in files[4:]:  # hold half the corpus back for the resume leg
        shutil.move(os.path.join(src, f), os.path.join(later, f))

    out, ckpt = os.path.join(tmp_root, "out"), os.path.join(tmp_root, "ckpt")
    enrich_stream(spark, src, out, ckpt).awaitTermination(120)
    cat = Catalog(out)

    def snap(df):
        return {r["doc_id"]: r["summary"] for r in df.select("doc_id", "summary").collect()}

    pre = snap(cat.read(spark, "enriched_stream"))
    before = cat.manifest("enriched_stream")["partitions"]
    committed = cat.compact_stream_epochs(spark, "enriched_stream")
    assert committed
    man = cat.manifest("enriched_stream")
    assert all(k.startswith("c1_") for k in man["partitions"]), man["partitions"].keys()
    # the compaction snapshot is published like every other commit: same
    # fields (writer included) plus the folded keys and their stages
    last = man["snapshots"][-1]
    assert set(last) == {
        "snapshot_id", "stage", "writer", "partitions", "total_rows",
        "compacted_from", "compacted_from_stages",
    }
    assert last["stage"] == "compact_gen1" and last["writer"] == "spark"
    assert last["partitions"] == sorted(committed) == sorted(man["partitions"])
    assert last["compacted_from"] == sorted(before)
    assert last["compacted_from_stages"] == {k: e["stage"] for k, e in before.items()}
    assert last["total_rows"] == sum(e["rows_written"] for e in before.values()) == len(pre)
    assert all(e["snapshot_id"] == last["snapshot_id"] for e in man["partitions"].values())
    assert snap(cat.read(spark, "enriched_stream")) == pre
    # idempotent: nothing left to fold
    assert cat.compact_stream_epochs(spark, "enriched_stream") == {}

    # per-partition lineage metrics carry the compaction stage (north_star
    # 'per-partition lineage and metrics'; round-5 VERDICT #7): every live
    # partition's stage is compact_gen1 and the wall-clock was recorded
    rows = cat.metrics("enriched_stream")
    assert rows and all(r["stage"] == "compact_gen1" for r in rows)
    assert all(r["wall_ms"] >= 0 and r["rows_written"] > 0 for r in rows)

    # resume on the same checkpoint: the held-back files arrive as new epochs
    for f in files[4:]:
        shutil.move(os.path.join(later, f), os.path.join(src, f))
    enrich_stream(spark, src, out, ckpt).awaitTermination(120)
    post = snap(cat.read(spark, "enriched_stream"))
    assert len(post) == 500 and set(pre).issubset(post)
    # the resumed epochs' own lineage is visible beside the compacted gen
    stages = {r["stage"] for r in cat.metrics("enriched_stream")}
    assert "compact_gen1" in stages and any(s.startswith("stream_epoch_") for s in stages)

    # interrupted-compaction debris is swept; gen 2 folds new epochs into gen 1
    os.makedirs(os.path.join(out, "enriched_stream", "bucket=zzz_9"))
    os.makedirs(os.path.join(out, "enriched_stream", "_staging_dead"))
    assert cat.compact_stream_epochs(spark, "enriched_stream")
    man = cat.manifest("enriched_stream")
    assert all(k.startswith("c2_") for k in man["partitions"]), man["partitions"].keys()
    assert not os.path.exists(os.path.join(out, "enriched_stream", "bucket=zzz_9"))
    assert not os.path.exists(os.path.join(out, "enriched_stream", "_staging_dead"))
    assert snap(cat.read(spark, "enriched_stream")) == post


def test_triples_stream_matches_batch(spark, tmp_root):
    """Incremental KG maintenance: streaming the corpus in multiple epochs
    through triples_stream must produce EXACTLY the batch pipeline's
    MENTIONS/HAS_TOPIC triple set (same fused enrich, same emission — one
    logical plan, two execution modes), and epoch compaction must leave the
    set byte-equal. The RELATES branch is the documented batch-only
    reconciliation (it depends on corpus-global canonicalization)."""
    import os

    from pyspark.sql import functions as F

    from semantic_search_system_spark import spec
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import (
        build_enriched,
        build_topic_map,
        build_triples,
    )
    from semantic_search_system_spark.streaming.incremental import triples_stream

    multi_dir = os.path.join(tmp_root, "in")
    spark.read.parquet(interleaved_path(SF_SMALL)).repartition(8).write.parquet(multi_dir)

    out = os.path.join(tmp_root, "out")
    q = triples_stream(spark, multi_dir, out, os.path.join(tmp_root, "ckpt"))
    q.awaitTermination(180)
    cat = Catalog(out)
    assert len({e["stage"] for e in cat.manifest("triples_stream")["snapshots"]}) >= 2

    bcat = Catalog(os.path.join(tmp_root, "batch"))
    enr = build_enriched(spark, SF_SMALL, bcat)
    tm = build_topic_map(spark, bcat, enr)
    batch = {
        (r["subj"], r["pred"], r["obj"])
        for r in build_triples(spark, bcat, enr, tm)
        .where(F.col("pred") != spec.PRED_RELATES)
        .collect()
    }
    streamed = {
        (r["subj"], r["pred"], r["obj"])
        for r in cat.read(spark, "triples_stream").select("subj", "pred", "obj").collect()
    }
    assert streamed == batch and len(streamed) > 0

    # compaction folds the epoch debris without changing the triple set
    assert cat.compact_stream_epochs(spark, "triples_stream")
    after = {
        (r["subj"], r["pred"], r["obj"])
        for r in cat.read(spark, "triples_stream").select("subj", "pred", "obj").collect()
    }
    assert after == batch


def test_streaming_batch_reconciliation_end_to_end(spark, tmp_root):
    """Close the lambda loop (round-6 VERDICT 'Next round' #1): stream epochs
    → batch RELATES reconciliation over the accumulated corpus → the FULL
    three-predicate triple set and the nodes/edges graph tables equal an
    all-batch run (reference semantics:
    knowledge_graph/knowledge_graph.py:118-189). Exercised TWICE — once
    mid-stream and once after more epochs arrive on the same checkpoint — so
    the reconciliation demonstrably converges as the corpus grows, not just
    at the end; a third run with no new epochs recomputes nothing."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from semantic_search_system_spark import spec
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans.pipeline import (
        build_enriched,
        build_graph,
        build_topic_map,
        build_triples,
    )
    from semantic_search_system_spark.streaming.incremental import (
        reconcile_relates,
        serving_triples,
        triples_stream,
    )

    src = os.path.join(tmp_root, "in")
    spark.read.parquet(interleaved_path(SF_SMALL)).repartition(8).write.parquet(src)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    later = os.path.join(tmp_root, "later")
    os.makedirs(later)
    for f in files[4:]:  # second wave arrives after the first reconciliation
        shutil.move(os.path.join(src, f), os.path.join(later, f))

    out = os.path.join(tmp_root, "out")
    ck_t, ck_e = os.path.join(tmp_root, "ckpt_t"), os.path.join(tmp_root, "ckpt_e")
    triples_stream(spark, src, out, ck_t).awaitTermination(180)
    enrich_stream(spark, src, out, ck_e).awaitTermination(180)
    cat = Catalog(out)

    from semantic_search_system_spark.plans.pipeline import (
        mention_topic_triples,
        relates_triples,
    )

    # ---- leg 1: half the corpus streamed, reconcile, compare against an
    # all-batch derivation over the SAME admitted subset
    reconcile_relates(spark, out)
    streamed_ids = {
        r["doc_id"] for r in cat.read(spark, "enriched_stream").select("doc_id").collect()
    }
    bcat1 = Catalog(os.path.join(tmp_root, "batch_half"))
    enr1 = build_enriched(spark, SF_SMALL, bcat1).where(
        F.col("doc_id").isin(list(streamed_ids))
    )
    tm1 = build_topic_map(spark, bcat1, enr1)
    batch1 = {
        (r["subj"], r["pred"], r["obj"])
        for r in mention_topic_triples(enr1)
        .unionByName(relates_triples(enr1, tm1))
        .select("subj", "pred", "obj")
        .collect()
    }
    served1 = {
        (r["subj"], r["pred"], r["obj"]) for r in serving_triples(spark, out).collect()
    }
    assert served1 == batch1 and any(t[1] == spec.PRED_RELATES for t in served1)

    # ---- leg 2: the rest of the corpus arrives on the SAME checkpoints
    for f in files[4:]:
        shutil.move(os.path.join(later, f), os.path.join(src, f))
    triples_stream(spark, src, out, ck_t).awaitTermination(180)
    enrich_stream(spark, src, out, ck_e).awaitTermination(180)
    # compaction between epochs and reconciliation must not perturb the set
    cat.compact_stream_epochs(spark, "triples_stream")
    reconcile_relates(spark, out)

    bcat_full = Catalog(os.path.join(tmp_root, "batch_full"))
    enr_full = build_enriched(spark, SF_SMALL, bcat_full)
    tm_full = build_topic_map(spark, bcat_full, enr_full)
    tr_full = build_triples(spark, bcat_full, enr_full, tm_full)
    batch_full = {
        (r["subj"], r["pred"], r["obj"])
        for r in tr_full.select("subj", "pred", "obj").collect()
    }
    served2 = {
        (r["subj"], r["pred"], r["obj"]) for r in serving_triples(spark, out).collect()
    }
    assert served2 == batch_full and len(served2) > len(served1)

    # ---- a third reconciliation with no new epochs keeps both tables
    def snaps():
        return {t: cat.manifest(t)["snapshots"] for t in ("triples_relates", "topic_map")}

    kept = snaps()
    _, jobs = with_job_count(spark, lambda: reconcile_relates(spark, out))
    assert jobs == 0 and snaps() == kept

    # ---- the graph tables built from the reconciled view equal the batch ones
    serving = serving_triples(spark, out)
    enr_stream = cat.read(spark, "enriched_stream")
    nodes_s, edges_s = build_graph(spark, cat, enr_stream, serving)
    nodes_b, edges_b = build_graph(spark, bcat_full, enr_full, tr_full)

    def node_set(df):
        return {
            (r["node_id"], r["kind"], r["name"], r["url"], r["title"])
            for r in df.select("node_id", "kind", "name", "url", "title").collect()
        }

    def edge_set(df):
        return {
            (r["src"], r["dst"], r["rel"], r["weight"])
            for r in df.select("src", "dst", "rel", "weight").collect()
        }

    assert node_set(nodes_s) == node_set(nodes_b)
    assert edge_set(edges_s) == edge_set(edges_b)


# ------------------------------------------------- the stream sinks' two branches
_STREAM_TABLES = ("failed_rows_stream", "enriched_stream", "triples_stream")


def _sql_plans(spark):
    """{execution id: physical plan text} of every SQL execution the session
    has run, read once the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def _run_sinks(spark, inbox, out, budget=None):
    """Run enrich_stream, then triples_stream, over ``inbox`` into the
    Catalog at ``out`` (each with its own checkpoint beside it), under a
    driver budget of ``budget`` bytes (None: the heap's). Returns, per sink,
    (Spark jobs the query submitted, whether a plan it ran evaluates a
    Python UDF, the batch ids it ran)."""
    import os

    from semantic_search_system_spark.streaming.incremental import triples_stream

    tracker = spark.sparkContext.statusTracker()
    runs = {}
    with pytest.MonkeyPatch.context() as m:
        if budget is not None:
            set_budget(m, budget)
        for name, start in (("enrich", enrich_stream), ("triples", triples_stream)):
            before = set(_sql_plans(spark))
            q = start(spark, inbox, out, os.path.join(f"{out}_ckpt", name))
            assert q.awaitTermination(180) and q.exception() is None
            plans = [p for i, p in _sql_plans(spark).items() if i not in before]
            runs[name] = (
                len(tracker.getJobIdsForGroup(str(q.runId))),
                any("EvalPython" in p for p in plans),
                {p.batchId for p in q.recentProgress},
            )
    return runs


def _stream_tables(spark, out):
    """Per stream table: (rows with their partition key, sorted; the
    recorded schema; the partition keys; the writer of each snapshot)."""
    from semantic_search_system_spark.catalog import Catalog

    cat = Catalog(out)
    tables = {}
    for t in _STREAM_TABLES:
        man = cat.manifest(t)
        tables[t] = (
            sorted(cat.read(spark, t).collect(), key=repr),
            man["schema"],
            sorted(man["partitions"]),
            [s.get("writer") for s in man["snapshots"]],
        )
    return tables


def _split_corpus(src, dst_dir, parts):
    """Write the interleaved file ``src`` as ``parts`` files under
    ``dst_dir``, file k holding rows k, k + parts, ...; returns their
    paths."""
    import os

    import pyarrow.parquet as pq

    tb = pq.read_table(src)
    paths = [os.path.join(dst_dir, f"part{k}.parquet") for k in range(parts)]
    for k, path in enumerate(paths):
        pq.write_table(tb.take(list(range(k, tb.num_rows, parts))), path)
    return paths


def test_stream_schemas_match_spark_frames(spark):
    """The declared stream-table schemas are the Spark sink frames'
    ``.schema`` — the JSON the Catalog records at a table's first commit and
    compares on every later one, so an epoch of either branch can follow an
    epoch of the other. Analysis only: no Spark job."""
    from semantic_search_system_spark.streaming import incremental as inc

    def frames():
        empty = spark.createDataFrame([], inc.SPANS_SCHEMA)
        bad, enriched = inc._enrich_sink_frames(empty, 3, 8)
        return bad.schema, enriched.schema, inc._triples_sink_frame(empty, 3, 8).schema

    (bad, enriched, triples), jobs = with_job_count(spark, frames)
    assert jobs == 0
    assert bad.json() == inc.FAILED_ROWS_STREAM_SCHEMA.json()
    assert enriched.json() == inc.ENRICHED_STREAM_SCHEMA.json()
    assert triples.json() == inc.TRIPLES_STREAM_SCHEMA.json()


def test_stream_sinks_driver_matches_spark(spark, tmp_root):
    """Both sinks' driver branch (one collect, pyarrow admission, assembly,
    kernel and triple emission, local commits) writes the EXACT rows,
    partition keys and recorded schemas of their Spark branch, which a
    driver budget of 0 forces — over the edge-case corpus of the batch
    stage's twin test."""
    import os

    from semantic_search_system_spark.streaming import incremental as inc

    inbox = os.path.join(tmp_root, "in")
    os.makedirs(inbox)
    n = write_edge_corpus(os.path.join(inbox, "epoch0.parquet"))
    a, b = os.path.join(tmp_root, "driver"), os.path.join(tmp_root, "spark")
    _run_sinks(spark, inbox, a)
    _run_sinks(spark, inbox, b, budget=0)
    fast, slow = _stream_tables(spark, a), _stream_tables(spark, b)
    for t in _STREAM_TABLES:
        assert fast[t][:3] == slow[t][:3], t
        assert fast[t][3] == ["local"] and slow[t][3] == ["spark"], t
    assert fast["failed_rows_stream"][1] == inc.FAILED_ROWS_STREAM_SCHEMA.json()
    assert fast["enriched_stream"][1] == inc.ENRICHED_STREAM_SCHEMA.json()
    assert fast["triples_stream"][1] == inc.TRIPLES_STREAM_SCHEMA.json()
    failed = {r["doc_id"] for r in fast["failed_rows_stream"][0]}
    assert failed == {"media_only", "blank_only", "no_spans", "null_spans"}
    assert len(fast["enriched_stream"][0]) == n - len(failed)
    assert {r["bucket"] for r in fast["enriched_stream"][0]} == {f"0_{k}" for k in range(8)}
    assert len(fast["triples_stream"][0]) > n


def test_stream_sinks_driver_bound(spark, tmp_root):
    """At a driver budget equal to an epoch's estimate (its parquet bytes
    times the batch stage's enrich factor) both sinks take their driver
    branch; one byte less runs their Spark branch — the same tables either
    way."""
    import os
    import shutil

    from semantic_search_system_spark.plans import pipeline as P

    source = interleaved_path(SF_SMALL)
    inbox = os.path.join(tmp_root, "in")
    os.makedirs(inbox)
    shutil.copy(source, os.path.join(inbox, "epoch0.parquet"))
    est = os.path.getsize(source) * P._ENRICH_BYTES_PER_FILE_BYTE
    runs = {}
    for tag, budget in (("at", est), ("under", est - 1)):
        out = os.path.join(tmp_root, tag)
        _run_sinks(spark, inbox, out, budget=budget)
        runs[tag] = _stream_tables(spark, out)
    for t in _STREAM_TABLES:
        assert runs["at"][t][3] == ["local"], t
        assert runs["under"][t][3] == ["spark"], t
        assert runs["under"][t][:3] == runs["at"][t][:3], t


def test_stream_sinks_mixed_branches(spark, tmp_root):
    """Epochs of the two branches mix in one table: epoch 0 Spark then
    epoch 1 driver, and the reverse, then ``compact_stream_epochs`` and a
    crash replay of epoch 1 under the other branch — no schema drift, no
    duplicate row, and the same reads as a driver-only run."""
    import os

    from semantic_search_system_spark.catalog import Catalog

    n = write_edge_corpus(os.path.join(tmp_root, "edge.parquet"))
    parts = _split_corpus(os.path.join(tmp_root, "edge.parquet"), tmp_root, 2)
    budget = {"driver": None, "spark": 0}

    def run(tag, first, second, replay=None):
        inbox, out = os.path.join(tmp_root, f"in_{tag}"), os.path.join(tmp_root, tag)
        os.makedirs(inbox)
        for k, branch in enumerate((first, second)):
            os.link(parts[k], os.path.join(inbox, os.path.basename(parts[k])))
            _run_sinks(spark, inbox, out, budget=budget[branch])
        cat = Catalog(out)
        for t in _STREAM_TABLES:
            cat.compact_stream_epochs(spark, t)
        tables = _stream_tables(spark, out)
        if replay is not None:
            # the checkpoints lose epoch 1's commit, as a crash between the
            # sink's commits and the checkpoint's would leave them
            for name in ("enrich", "triples"):
                _drop_commit(os.path.join(f"{out}_ckpt", name), 1)
            runs = _run_sinks(spark, inbox, out, budget=budget[replay])
            assert all(1 in ids for _, _, ids in runs.values())
            assert _stream_tables(spark, out) == tables
        return tables

    ref = run("ref", "driver", "driver")
    ids = [r["doc_id"] for t in _STREAM_TABLES[:2] for r in ref[t][0]]
    assert len(ids) == len(set(ids)) == n
    assert {r["bucket"][:3] for t in _STREAM_TABLES for r in ref[t][0]} == {"c1_"}
    writer = {"driver": "local", "spark": "spark"}
    for first, second in (("spark", "driver"), ("driver", "spark")):
        got = run(first, first, second, replay=first)
        for t in _STREAM_TABLES:
            assert got[t][:3] == ref[t][:3], (first, t)
            # the two epochs' commits, then the compaction's (a Spark write)
            assert got[t][3] == [writer[first], writer[second], "spark"], (first, t)


def test_stream_driver_epoch_submits_one_job(spark, tmp_root):
    """A driver-sized epoch costs each sink no Spark job — its files come
    from the query's checkpoint logs and are read by pyarrow — and no Python
    UDF evaluation, and records the local writer; a Spark-branch epoch
    evaluates the fused UDF."""
    import os

    write_edge_corpus(os.path.join(tmp_root, "edge.parquet"))
    parts = _split_corpus(os.path.join(tmp_root, "edge.parquet"), tmp_root, 2)
    inbox, out = os.path.join(tmp_root, "in"), os.path.join(tmp_root, "out")
    os.makedirs(inbox)
    for k, part in enumerate(parts):
        os.link(part, os.path.join(inbox, os.path.basename(part)))
        runs = _run_sinks(spark, inbox, out)
        assert runs == {"enrich": (0, False, {k}), "triples": (0, False, {k})}
    for t, (_, _, _, writers) in _stream_tables(spark, out).items():
        assert writers == ["local", "local"], t
    os.link(parts[0], os.path.join(inbox, "again.parquet"))
    runs = _run_sinks(spark, inbox, out, budget=0)
    assert all(udf for _, udf, _ in runs.values()), runs


def _drop_commit(checkpoint_dir, epoch_id):
    """Remove epoch ``epoch_id``'s commit-log entry (and its checksum file,
    if the checkpoint has one), as a crash between the sink's commits and
    the checkpoint's leaves it: the next start replays the epoch."""
    import os

    commits = os.path.join(checkpoint_dir, "commits")
    os.remove(os.path.join(commits, str(epoch_id)))
    crc = os.path.join(commits, f".{epoch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _bad_doc_id_file(path, n):
    """An interleaved file of ``n`` docs whose doc_id column is parquet
    BINARY, one value of it not UTF-8: Spark reads it as a string, pyarrow
    cannot cast it to one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from semantic_search_system_spark.fixtures.interleave import INTERLEAVED_SCHEMA

    span = {"kind": "text", "text": "spark data scan", "media_ref": None, "offset": 0}
    ids = [b"\xff\xfebad"] + [f"bin{i}".encode() for i in range(1, n)]
    spans = pa.array([[span]] * n, INTERLEAVED_SCHEMA.field("spans").type)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.binary()), "spans": spans}), path)


@pytest.mark.parametrize(
    "case", ["several_files", "compact", "replay", "deleted_source_log", "bad_doc_id"]
)
def test_stream_epoch_files(spark, tmp_root, monkeypatch, case):
    """The driver branch reads each epoch's files from the query's own
    checkpoint logs, and its tables equal the Spark branch's (a driver
    budget of 0) in rows, keys and schemas:
    - several_files: six files, epochs of four and two (maxFilesPerTrigger);
    - compact: the source log compacts at every second batch, so epoch 1's
      entries sit in ``sources/0/1.compact``;
    - replay: epoch 1 replayed, after its commit-log entry is removed, into
      a Catalog that lacks it, so the replay's file list is what commits;
    - deleted_source_log: the epoch's source-log entry is gone when the
      sink reads it, and the sink falls back to its Spark branch;
    - bad_doc_id: a doc_id that pyarrow cannot cast, the same fallback."""
    import os
    import shutil

    from semantic_search_system_spark.streaming import incremental as inc

    write_edge_corpus(os.path.join(tmp_root, "edge.parquet"))
    parts = _split_corpus(os.path.join(tmp_root, "edge.parquet"), tmp_root, 6)
    if case == "bad_doc_id":
        _bad_doc_id_file(parts[1], 5)
    if case == "compact":
        key = "spark.sql.streaming.fileSource.log.compactInterval"
        prior = spark.conf.get(key)
        spark.conf.set(key, "2")
    if case == "deleted_source_log":
        real = inc._epoch_files

        def source_log_gone(checkpoint_dir, epoch_id):
            os.remove(os.path.join(checkpoint_dir, "sources", "0", str(epoch_id)))
            return real(checkpoint_dir, epoch_id)

    def run(tag, budget):
        inbox, out = os.path.join(tmp_root, f"in_{tag}"), os.path.join(tmp_root, tag)
        os.makedirs(inbox)
        if case == "replay":  # two epochs of three files each
            batches = [parts[:3], parts[3:]]
        elif case == "bad_doc_id":
            batches = [parts[:2]]
        else:  # one start, epochs of four and two files
            batches = [parts]
        for batch in batches:
            for p in batch:
                os.link(p, os.path.join(inbox, os.path.basename(p)))
            with monkeypatch.context() as m:
                if case == "deleted_source_log" and budget is None:
                    m.setattr(inc, "_epoch_files", source_log_gone)
                _run_sinks(spark, inbox, out, budget=budget)
            if case == "replay" and batch is batches[0]:
                shutil.copytree(out, f"{out}_after0")
        return out

    try:
        ref = _stream_tables(spark, run("spark", 0))
        out = run("driver", None)
    finally:
        if case == "compact":
            spark.conf.set(key, prior)
    if case == "compact":
        assert os.path.exists(os.path.join(f"{out}_ckpt", "enrich", "sources", "0", "1.compact"))
    if case == "replay":
        # the Catalog as epoch 0 left it, beside the checkpoints as epoch 1
        # left them, less epoch 1's commit-log entry
        replayed = f"{out}_replay"
        os.rename(f"{out}_after0", replayed)
        shutil.copytree(f"{out}_ckpt", f"{replayed}_ckpt")
        for name in ("enrich", "triples"):
            _drop_commit(os.path.join(f"{replayed}_ckpt", name), 1)
        runs = _run_sinks(spark, os.path.join(tmp_root, "in_driver"), replayed)
        assert all(ids == {1} for _, _, ids in runs.values()), runs
        out = replayed
    got = _stream_tables(spark, out)
    epochs = 1 if case == "bad_doc_id" else 2
    writer = "spark" if case in ("deleted_source_log", "bad_doc_id") else "local"
    for t in _STREAM_TABLES:
        assert got[t][:3] == ref[t][:3], t
        assert set(got[t][3]) <= {writer}, (t, got[t][3])
    assert got["enriched_stream"][3] and got["triples_stream"][3]
    assert len({r["bucket"].split("_")[0] for r in got["enriched_stream"][0]}) == epochs
