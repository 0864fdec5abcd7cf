import os

import pytest
from pyspark.sql import functions as F

from semantic_search_system_spark.catalog import BUCKET_COL, Catalog, with_bucket


@pytest.fixture()
def sample(spark):
    return with_bucket(
        spark.range(100).select(F.col("id").cast("string").alias("doc_id"), (F.col("id") * 2).alias("v")),
        "doc_id",
        4,
    )


def test_commit_and_read_roundtrip(spark, tmp_root, sample):
    cat = Catalog(tmp_root)
    committed = cat.commit_partitions(sample, "t", stage="s1")
    assert len(committed) == 4
    back = cat.read(spark, "t")
    assert back.count() == 100
    assert set(back.columns) == {"doc_id", "v", BUCKET_COL}
    assert cat.completed_buckets("t") == {0, 1, 2, 3}
    assert cat.pending_buckets("t", 4) == []


def test_completed_partitions_never_rewritten(spark, tmp_root, sample):
    cat = Catalog(tmp_root)
    cat.commit_partitions(sample.where(F.col(BUCKET_COL) == 0), "t", stage="s1")
    rows0 = cat.read(spark, "t").count()
    # a second commit carrying bucket 0 with DIFFERENT data must not touch it
    mutated = sample.withColumn("v", F.col("v") + 1000)
    cat.commit_partitions(mutated, "t", stage="s2")
    back = cat.read(spark, "t")
    assert back.count() == 100
    b0 = back.where(F.col(BUCKET_COL) == 0)
    assert b0.where(F.col("v") >= 1000).count() == 0  # original rows preserved
    assert b0.count() == rows0


def test_replayed_epoch_after_compaction_not_recommitted(spark, tmp_root, sample):
    """The unclean-stop replay hazard (round-5 ADVICE, medium): a stream that
    crashed after commit_partitions but BEFORE its checkpoint recorded the
    batch replays that epoch on restart. If compaction ran in between, the
    epoch's `<epoch>_<bucket>` keys are gone from the manifest's partitions —
    the keys must survive as tombstones (snapshots' compacted_from) so the
    replay is skipped, not committed a second time."""
    cat = Catalog(tmp_root)
    epoch = sample.withColumn(
        BUCKET_COL, F.concat_ws("_", F.lit(0), F.col(BUCKET_COL))
    )
    cat.commit_partitions(epoch, "es", stage="stream_epoch_0")
    assert cat.read(spark, "es").count() == 100
    assert cat.compact_stream_epochs(spark, "es")
    # the crash-replay: the SAME epoch keys arrive again post-compaction
    cat.commit_partitions(epoch, "es", stage="stream_epoch_0")
    back = cat.read(spark, "es")
    assert back.count() == 100  # not 200 — replay fell on tombstones
    assert back.select("doc_id").distinct().count() == 100
    # and a genuinely NEW epoch still lands normally
    epoch1 = sample.withColumn(
        BUCKET_COL, F.concat_ws("_", F.lit(1), F.col(BUCKET_COL))
    ).withColumn("doc_id", F.concat(F.lit("n"), F.col("doc_id")))
    cat.commit_partitions(epoch1, "es", stage="stream_epoch_1")
    assert cat.read(spark, "es").count() == 200


def test_tombstone_hit_from_foreign_stage_raises(spark, tmp_root, sample):
    """Round-6 ADVICE: a stream restarted on a FRESH (or deleted) checkpoint
    restarts epoch ids at 0 — genuinely new data arriving under a
    previously-compacted '<epoch>_<bucket>' key must RAISE, not be silently
    dropped (the mirror image of the replay-doubling the tombstones fix).
    The committing stage embeds the checkpoint identity, so a crash replay
    (same stage) still skips while a foreign stage is refused."""
    cat = Catalog(tmp_root)
    epoch = sample.withColumn(BUCKET_COL, F.concat_ws("_", F.lit(0), F.col(BUCKET_COL)))
    cat.commit_partitions(epoch, "es", stage="stream_epoch_0 ckpt=aaaa1111")
    assert cat.compact_stream_epochs(spark, "es")
    # crash replay from the SAME checkpoint: skipped, reads unchanged
    cat.commit_partitions(epoch, "es", stage="stream_epoch_0 ckpt=aaaa1111")
    assert cat.read(spark, "es").count() == 100
    # NEW data from a DIFFERENT checkpoint reusing the compacted key: refused
    fresh = epoch.withColumn("doc_id", F.concat(F.lit("n"), F.col("doc_id")))
    with pytest.raises(ValueError, match="reused key"):
        cat.commit_partitions(fresh, "es", stage="stream_epoch_0 ckpt=bbbb2222")
    assert cat.read(spark, "es").count() == 100


def test_table_properties_roundtrip(spark, tmp_root, sample):
    cat = Catalog(tmp_root)
    assert "properties" not in cat.manifest("t")
    cat.set_properties("t", {"watermark": "snap", "fit_rows": 10})
    # properties survive a manifest rewrite by a commit to the same table
    cat.commit_partitions(sample, "t", stage="s1")
    assert Catalog(tmp_root).manifest("t")["properties"] == {"watermark": "snap", "fit_rows": 10}
    assert cat.read(spark, "t").count() == 100


def test_overwrite_replaces_table(spark, tmp_root, sample):
    """S8 graph-rebuild semantics (knowledge_graph.py:58-107)."""
    cat = Catalog(tmp_root)
    cat.commit_partitions(sample, "t", stage="s1")
    smaller = sample.where(F.col("v") < 50)
    cat.overwrite(smaller, "t", stage="rebuild")
    assert cat.read(spark, "t").count() == 25
    assert len(cat.manifest("t")["snapshots"]) == 1  # fresh history


def test_metrics_lineage_rows(spark, tmp_root, sample):
    cat = Catalog(tmp_root)
    cat.commit_partitions(sample, "t", stage="s1")
    m = cat.metrics("t")
    assert len(m) == 4
    for e in m:
        assert e["stage"] == "s1"
        assert e["rows_written"] > 0
        assert "snapshot_id" in e and "completed_at" in e and "wall_ms" in e
    assert sum(e["rows_written"] for e in m) == 100


def test_json_source_sink_roundtrip(spark, tmp_root):
    """S3: JSON file sink/source with explicit schema (no inference)."""
    df = spark.range(10).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("name")
    )
    path = os.path.join(tmp_root, "j")
    df.write.mode("overwrite").json(path)
    back = spark.read.schema("id long, name string").json(path)
    assert back.count() == 10
    assert {r["name"] for r in back.collect()} == {f"u{i}" for i in range(10)}


def test_crash_mid_write_recovers(spark, tmp_root, sample):
    """A run killed mid-commit (orphan staging dir + missing manifest entries)
    must resume cleanly: orphans reclaimed, pending partitions recomputed,
    final table identical to an uninterrupted run."""
    cat = Catalog(tmp_root)
    # simulate a crash: half the buckets committed, plus an orphaned staging dir
    cat.commit_partitions(sample.where(F.col(BUCKET_COL) < 2), "t", stage="s1")
    orphan = os.path.join(cat.path("t"), "_staging_deadbeef")
    os.makedirs(os.path.join(orphan, f"{BUCKET_COL}=3"), exist_ok=True)
    with open(os.path.join(orphan, f"{BUCKET_COL}=3", "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert cat.pending_buckets("t", 4) == [2, 3]
    # resume: only pending buckets written; orphan reclaimed
    cat.commit_partitions(sample.where(F.col(BUCKET_COL).isin([2, 3])), "t", stage="s1")
    assert not any(d.startswith("_staging_") for d in os.listdir(cat.path("t")))
    assert cat.read(spark, "t").count() == 100
    assert cat.completed_buckets("t") == {0, 1, 2, 3}


@pytest.mark.parametrize("writer", ["spark", "local"])
def test_zero_partition_table_reads_back_empty(spark, tmp_root, writer):
    """A table committed with zero rows (e.g. failed_rows on a clean corpus)
    must read back as a typed empty DataFrame, not crash on a dir-less scan
    — whether the commit came from Spark or from the driver."""
    from pyspark.sql import functions as F

    from semantic_search_system_spark.catalog import Catalog

    cat = Catalog(tmp_root)
    empty = (
        spark.range(0)
        .select(
            F.col("id").cast("string").alias("doc_id"),
            F.lit("enrich").alias("stage"),
        )
        .withColumn("bucket", F.lit(0))
    )
    if writer == "spark":
        cat.commit_partitions(empty, "failed_rows", stage="quarantine")
    else:
        cat.commit_partitions_local([], empty.schema, "failed_rows", stage="quarantine")
    assert cat.exists("failed_rows")
    assert cat.manifest("failed_rows")["schema"] == empty.schema.json()
    assert [s["writer"] for s in cat.manifest("failed_rows")["snapshots"]] == [writer]
    back = cat.read(spark, "failed_rows")
    assert back.count() == 0
    assert set(back.columns) == {"doc_id", "stage", "bucket"}
    # read_buckets of only-missing partitions is a valid empty miss too
    assert cat.read_buckets(spark, "failed_rows", [5, 6]).count() == 0


def test_legacy_tombstone_replay_after_upgrade_skips(spark, tmp_root, sample):
    """Upgrade path for the tombstone stage guard: an epoch committed by
    PRE-checkpoint-identity code (stage without ' ckpt=') and compacted away
    can be replayed by the SAME stream after an upgrade — the replay now
    carries the new stage format, and the legacy tombstone can't tell it
    from new data. The guard must fall back to the legacy skip (never
    doubling rows, never raising) instead of permanently halting a stream
    that did exactly what the error message asks: resume its checkpoint."""
    cat = Catalog(tmp_root)
    epoch = sample.withColumn(BUCKET_COL, F.concat_ws("_", F.lit(0), F.col(BUCKET_COL)))
    cat.commit_partitions(epoch, "es", stage="stream_epoch_0")  # pre-upgrade format
    assert cat.compact_stream_epochs(spark, "es")
    # post-upgrade crash replay of the same epoch, same checkpoint
    cat.commit_partitions(epoch, "es", stage="stream_epoch_0 ckpt=aaaa1111")
    assert cat.read(spark, "es").count() == 100  # skipped: not doubled, not raised


def test_set_properties_single_save(tmp_root, monkeypatch):
    """Keys that belong together (the doc-IVF watermark and fit_rows) land
    in ONE manifest save, so a crash can never publish a subset; each call
    replaces the whole property set."""
    cat = Catalog(tmp_root)
    saves = []
    orig = Catalog._save_manifest

    def counting(self, table, man):
        saves.append(table)
        orig(self, table, man)

    monkeypatch.setattr(Catalog, "_save_manifest", counting)
    cat.set_properties("t", {"watermark": "s", "fit_rows": 10, "stale": [8, 3]})
    cat.set_properties("t", {"watermark": "s2", "fit_rows": 12})
    assert saves == ["t", "t"]
    assert Catalog(tmp_root).manifest("t")["properties"] == {"watermark": "s2", "fit_rows": 12}


def _hash_inputs() -> list:
    """~10k strings for the XXH64 kernel: the case-mapping outliers ('İ', a
    final 'Σ'), CJK, the 31/32/33-byte boundaries of the 32-byte stripe
    loop, longer strings, empties and nulls, plus random mixed-script text
    of 0-80 characters."""
    import random

    rng = random.Random(7)
    alphabet = "abcXYZ 0189_-.İıΣσςéß中文字😀"
    fixed = ["", "İ", "ΟΔΟΣ", "Σ", "中文字", "知识图谱", None, None, "x" * 31, "y" * 32,
             "z" * 33, "é" * 16, "w" * 63, "v" * 64, "u" * 65, "t" * 200]
    return fixed + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80))) for _ in range(10_000)
    ]


@pytest.mark.parametrize("n", [8, 1, 7])
def test_arrow_bucket_matches_spark(spark, n):
    """``arrow_bucket`` (numpy XXH64, seed 42) gives every string the bucket
    ``with_bucket`` gives it — ``pmod(xxhash64(col), n)``, including the
    null bucket ``42 mod n`` and, for n = 7, the pmod of negative hashes."""
    import pyarrow as pa

    from semantic_search_system_spark.catalog import arrow_bucket

    values = _hash_inputs()
    df = with_bucket(spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string"), "s", n)
    expected = [r[BUCKET_COL] for r in df.orderBy("i").collect()]
    got = arrow_bucket(pa.array(values, pa.string()), n)
    assert got.dtype.name == "int32"
    assert got.tolist() == expected
    assert got.tolist() == arrow_bucket(pa.chunked_array([values[:5], values[5:]], pa.large_string()), n).tolist()


def test_arrow_bucket_rejects_non_strings():
    import pyarrow as pa

    from semantic_search_system_spark.catalog import arrow_bucket

    with pytest.raises(TypeError, match="strings"):
        arrow_bucket(pa.array([1, 2, 3]), 8)


def _part_files(cat, table):
    return {
        d: sorted(f for f in os.listdir(os.path.join(cat.path(table), d)) if f.endswith(".parquet"))
        for d in os.listdir(cat.path(table))
        if d.startswith(f"{BUCKET_COL}=")
    }


@pytest.mark.parametrize("compact", [True, False])
def test_spark_commit_compacts_small_partitions(spark, tmp_root, sample, monkeypatch, compact):
    """Compact-on-commit: a Spark write whose partitions are split across
    several task files ends as ONE file per partition while the partition
    is under ``COMPACT_COMMIT_BYTES``; with the constant at 0 the task files
    stay. Rows and ``rows_written`` are the same either way."""
    from semantic_search_system_spark import catalog

    if not compact:
        monkeypatch.setattr(catalog, "COMPACT_COMMIT_BYTES", 0)
    cat = Catalog(tmp_root)
    cat.commit_partitions(sample.repartition(5), "t", stage="s1")
    files = _part_files(cat, "t")
    assert len(files) == 4
    if compact:
        assert all(fs == ["part-00000-compacted.snappy.parquet"] for fs in files.values())
    else:
        assert all(len(fs) > 1 for fs in files.values())
    back = cat.read(spark, "t")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))
    per_bucket = {str(r[BUCKET_COL]): r["count"] for r in back.groupBy(BUCKET_COL).count().collect()}
    assert {k: e["rows_written"] for k, e in cat.manifest("t")["partitions"].items()} == per_bucket


def test_local_commit_splits_keys_and_is_never_compacted(tmp_root, monkeypatch):
    """``commit_partitions_local`` finds one run per partition key in the
    sorted key column — integer batch buckets and '<epoch>_<bucket>' string
    keys alike — writes one file per partition, records ``writer: local``,
    and never passes its partitions through compaction."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from pyspark.sql import types as T

    from semantic_search_system_spark import catalog

    compacted = []
    monkeypatch.setattr(catalog, "compact_small_dir", compacted.append)
    cat = Catalog(tmp_root)
    for table, keys, ktype in [
        ("ints", [3, 0, 3, 1, 0, 3], T.IntegerType()),
        ("epochs", ["1_3", "0_1", "1_3", "0_10", "0_1", "1_3"], T.StringType()),
    ]:
        schema = T.StructType([T.StructField("v", T.LongType()), T.StructField(BUCKET_COL, ktype)])
        rows = pa.table({"v": list(range(6)), BUCKET_COL: keys})
        committed = cat.commit_partitions_local(rows, schema, table, stage="s1")
        expected = {}
        for v, k in zip(range(6), keys):
            expected.setdefault(str(k), []).append(v)
        assert {k: e["rows_written"] for k, e in committed.items()} == {k: len(v) for k, v in expected.items()}
        assert [s["writer"] for s in cat.manifest(table)["snapshots"]] == ["local"]
        files = _part_files(cat, table)
        assert all(fs == ["part-00000-local.snappy.parquet"] for fs in files.values())
        for k, vs in expected.items():
            d = os.path.join(cat.path(table), f"{BUCKET_COL}={k}")
            assert sorted(pads.dataset(d, format="parquet").to_table()["v"].to_pylist()) == vs
    assert compacted == []


def test_wide_table_read_submits_no_job(spark, tmp_root):
    """``Catalog.read`` passes one directory per manifest partition; past
    Spark's default partition-discovery threshold (32 paths) Spark would
    list them in a job, which an uncompacted stream table reaches after its
    fifth epoch. A 40-partition table is read, all 40 files in its plan,
    with no Spark job."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from conftest import with_job_count

    cat = Catalog(tmp_root)
    schema = T.StructType([T.StructField("v", T.LongType()), T.StructField(BUCKET_COL, T.StringType())])
    keys = [f"{e}_{b}" for e in range(5) for b in range(8)]
    cat.commit_partitions_local(pa.table({"v": range(40), BUCKET_COL: keys}), schema, "wide", stage="s")
    df, jobs = with_job_count(spark, lambda: cat.read(spark, "wide"))
    assert jobs == 0
    assert len(df.inputFiles()) == 40
