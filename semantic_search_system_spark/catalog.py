"""Iceberg-style table catalog over partitioned Parquet with snapshot manifests,
per-partition lineage/metrics, and idempotent checkpoint-resume.

The environment has no Iceberg runtime jar (SURVEY.md §7.0), so this module
emulates the subset of Iceberg semantics the north rule requires:

- a table = a directory of ``bucket=K`` Parquet partitions plus a JSON manifest
  (``_manifest.json``) recording snapshot id, completed partitions, row counts,
  stage lineage and wall-clock metrics;
- writes are atomic at partition granularity (write to a staging dir, then
  ``os.replace`` each partition into place) so a killed run never publishes a
  half-written partition;
- resume = set difference: a stage asks ``pending_buckets`` and processes only
  partitions absent from the manifest — re-running a completed pipeline is a
  no-op and produces byte-identical tables (north_star: "resumes mid-run
  without recomputing completed partitions").

Replaces the reference's ad-hoc work-queue protocol — the ``processed``
boolean flag flipped after bulk writes (ingest/pr_meta_store.py:55-139) and the
skipped-entry sweep (:142-194) — with partition-granular manifests. If a real
``iceberg-spark-runtime`` is ever on the classpath the same call sites can
switch to ``df.writeTo(...).using('iceberg')``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "bucket"

# Compact-on-commit threshold: a freshly committed partition dir whose TOTAL
# bytes are under this is rewritten into ONE parquet file (driver-side pyarrow
# pass, parallelized across dirs). Rationale (optimization guide §6): the
# UDF/compute stages want defaultParallelism tasks, so a partitionBy write
# emits up to tasks×buckets files — at small scale that is hundreds of
# KB-sized files per table, and every downstream scan pays per-file open +
# footer costs (measured at sf0.1: the 256-file enriched table scans 2.2×
# slower than the same rows in 8 files; the 1697-file doc-IVF assign probe
# 2.9× slower than one file per bucket). The guard is MEASURED bytes, not an
# estimate, so at production scale (buckets ≫ 64 MB) commits are untouched —
# no constant tuned to local mode.
COMPACT_COMMIT_BYTES = int(
    os.environ.get("SPARK_GRAFT_COMPACT_COMMIT_BYTES", str(64 * 1024 * 1024))
)


def compact_small_dir(d: str, max_bytes: int = COMPACT_COMMIT_BYTES) -> bool:
    """Rewrite a multi-file parquet partition dir into one file when its total
    size is under ``max_bytes``; returns whether it compacted. The merged
    file lands under a temp name and is renamed in only after the originals
    are removed, but a crash DURING that removal leaves the complete merged
    file beside a subset of the originals — doubled rows if the dir were
    read. So it must run before the manifest publish that makes the dir
    visible: an unpublished dir is re-staged or swept on the next commit.
    Values are preserved exactly — pyarrow reads the union of the files and
    writes one table; row order (sorted file order) is deterministic, and no
    committed table's semantics depend on row order."""
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    if len(files) <= 1:
        return False
    paths = [os.path.join(d, f) for f in files]
    if sum(os.path.getsize(p) for p in paths) > max_bytes:
        return False
    tb = pads.dataset(paths, format="parquet").to_table()
    tmp = os.path.join(d, "part-00000-compacted.snappy.parquet.tmp")
    pq.write_table(tb, tmp, compression="snappy")
    for f in os.listdir(d):
        p = os.path.join(d, f)
        if p != tmp:
            os.remove(p)  # originals and their .crc siblings
    os.replace(tmp, tmp[: -len(".tmp")])
    return True


def with_bucket(df: DataFrame, key: str = "doc_id", n_buckets: int = 8) -> DataFrame:
    """Deterministic hash-bucketing — the table's partition spec
    (Iceberg ``bucket(n, doc_id)`` transform equivalent)."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def _arrow_type(dt):
    """Spark → Arrow type mapping for the driver-side commit path (only the
    types driver-sized tables actually use; anything else fails loudly)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    raise TypeError(f"commit_partitions_local: unsupported Spark type {dt}")


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths / manifest
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.path(table), "_manifest.json")

    def manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"table": table, "snapshots": [], "partitions": {}}
        with open(p) as f:
            return json.load(f)

    def _save_manifest(self, table: str, man: dict) -> None:
        os.makedirs(self.path(table), exist_ok=True)
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path(table))

    # ------------------------------------------------------------- properties
    def set_properties(self, table: str, props: dict) -> None:
        """Iceberg-style table properties: arbitrary JSON metadata persisted
        in the manifest (e.g. the doc-IVF index's ``covers`` map — which
        source partitions/snapshots the index includes — that the frozen-
        centroid append path diffs against). Several keys land in ONE atomic
        manifest save: a crash can never publish a subset (the doc-IVF
        covers/params/fit_rows triple must appear together or not at all —
        a partial triple would disable the serve/append fast path and send
        the next call down the rebuild path against a live index)."""
        man = self.manifest(table)
        man.setdefault("properties", {}).update(props)
        self._save_manifest(table, man)

    def set_property(self, table: str, key: str, value) -> None:
        self.set_properties(table, {key: value})

    def get_property(self, table: str, key: str, default=None):
        return self.manifest(table).get("properties", {}).get(key, default)

    # ------------------------------------------------------------- reads
    def exists(self, table: str) -> bool:
        return os.path.exists(self._manifest_path(table))

    def _empty(self, spark: SparkSession, table: str) -> DataFrame:
        """Typed empty DataFrame from the manifest's recorded schema — a table
        legitimately committed with zero rows (e.g. failed_rows on a clean
        corpus) must read back empty, not crash on a dir-less parquet scan."""
        from pyspark.sql import types as T

        man = self.manifest(table)
        if "schema" not in man:
            raise FileNotFoundError(f"table {table} has no partitions and no schema")
        return spark.createDataFrame([], T.StructType.fromJson(json.loads(man["schema"])))

    def _reader(self, spark: SparkSession, table: str, man: dict | None = None):
        """Base reader for a table: manifest-recorded schema when available
        (skips the per-read footer inference pass — the schema was pinned at
        first commit and drift is rejected by commit_partitions, so the
        recorded one is authoritative), plus the basePath for partition-column
        recovery."""
        from pyspark.sql import types as T

        man = self.manifest(table) if man is None else man
        reader = spark.read.option("basePath", self.path(table))
        if "schema" in man:
            reader = reader.schema(T.StructType.fromJson(json.loads(man["schema"])))
        return reader

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Manifest-led read (Iceberg semantics): the partition LIST comes from
        the manifest, not a directory walk, so (a) a crash that published a
        partition dir without recording it exposes nothing until the resume
        pass republishes it, and (b) compaction can swap many partitions for
        one in a single atomic manifest replace with readers never seeing
        doubled rows."""
        man = self.manifest(table)
        dirs = [
            os.path.join(self.path(table), f"{BUCKET_COL}={k}")
            for k in sorted(man["partitions"])
        ]
        if not dirs:
            return self._empty(spark, table)
        return self._reader(spark, table, man).parquet(*dirs)

    def read_arrow(self, table: str):
        """Driver-side pyarrow read of a (small) table's manifest-listed
        partitions — for driver-sized lookups (e.g. ranking √N centroids per
        ANN query) that should not launch a distributed job each call."""
        dirs = [
            os.path.join(self.path(table), f"{BUCKET_COL}={k}")
            for k in sorted(self.manifest(table)["partitions"])
        ]
        files = [  # pads.dataset accepts a list of FILES, not of directories
            os.path.join(d, f)
            for d in dirs
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        ]
        return pads.dataset(files, format="parquet").to_table()

    def read_buckets(
        self, spark: SparkSession, table: str, buckets, partitions: dict | None = None
    ) -> DataFrame:
        """Partition-pruned read: only the named ``bucket=<b>`` directories are
        scanned (the IVF probe path — an n_probe/n_centroids fraction of the
        table's bytes). ``partitions``: pass the already-parsed manifest
        partition map to skip re-parsing it (the serving path computes the
        probe keys from the same map — at ~10^6 centroids the manifest is
        multi-MB JSON and one parse per query is enough)."""
        man = partitions if partitions is not None else self.manifest(table)["partitions"]
        dirs = [
            os.path.join(self.path(table), f"{BUCKET_COL}={b}")
            for b in buckets
            if str(b) in man
        ]
        if not dirs:  # every probed partition is empty — a valid (rare) miss
            return self._empty(spark, table)
        return self._reader(spark, table).parquet(*dirs)

    # ------------------------------------------------------------- checkpoint state
    def completed_buckets(self, table: str) -> set[int]:
        # streaming tables use epoch-scoped string keys ("<epoch>_<bucket>");
        # only plain integer buckets participate in batch resume planning
        return {
            int(k) for k in self.manifest(table)["partitions"] if k.lstrip("-").isdigit()
        }

    def pending_buckets(self, table: str, n_buckets: int) -> list[int]:
        done = self.completed_buckets(table)
        return [b for b in range(n_buckets) if b not in done]

    # ------------------------------------------------------------- writes
    def _compaction_tombstones(self, man: dict) -> dict[str, str | None]:
        """Partition keys consumed by a past compaction (every snapshot's
        ``compacted_from``), mapped to the STAGE each key was originally
        committed with (``compacted_from_stages``; None for pre-round-7
        snapshots that recorded only the keys). A key folded into a
        ``c<gen>_*`` partition must never be re-committable: a stream that
        crashed after ``commit_partitions`` but BEFORE its checkpoint
        recorded the batch will REPLAY that epoch on restart — if compaction
        ran in between (the 'stream stopped' precondition doesn't
        distinguish a clean stop from a crash), the replayed epoch's keys
        are gone from ``partitions`` and a plain membership check would
        commit the rows a second time, doubling every subsequent read.

        The recorded stage is what distinguishes that REPLAY (same stage —
        the stream's stage string embeds its checkpoint identity) from
        genuinely NEW data arriving under a reused key (a stream restarted
        on a fresh/deleted checkpoint restarts epoch ids at 0 — a DIFFERENT
        stage): silently skipping the latter would be data loss with no
        signal, so commit_partitions raises on the mismatch instead."""
        out: dict[str, str | None] = {}
        for s in man.get("snapshots", []):
            stages = s.get("compacted_from_stages", {})
            for k in s.get("compacted_from", []):
                out[k] = stages.get(k)
        return out

    def _fresh_staging(self, table: str) -> str:
        table_dir = self.path(table)
        os.makedirs(table_dir, exist_ok=True)
        # a run killed mid-write leaves orphaned staging dirs; they are never
        # readable (read() selects only bucket= dirs) — reclaim them here
        for d in os.listdir(table_dir):
            if d.startswith("_staging_"):
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
        return os.path.join(table_dir, f"_staging_{uuid.uuid4().hex[:12]}")

    def commit_partitions(self, df: DataFrame, table: str, stage: str) -> dict:
        """Write ``df`` (must carry BUCKET_COL) partition-atomically and record
        lineage + metrics per partition. Partitions already in the manifest —
        or already folded into a compacted partition (tombstones) — are left
        untouched (idempotent resume, replay-safe across compaction)."""
        t0 = time.time()
        staging = self._fresh_staging(table)
        df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
        return self._publish_staging(staging, table, stage, df.schema.json(), t0)

    def commit_partitions_local(self, rows, schema, table: str, stage: str) -> dict:
        """Driver-side twin of ``commit_partitions`` for DRIVER-SIZED tables
        (vocabulary / centroid / statistic scale — data that was computed on
        the driver in the first place): identical manifest, tombstone and
        idempotence semantics, but the parquet is written with pyarrow
        in-process, so the commit costs zero Spark jobs (round 8 — the
        1-task staging write was ~0.3s of every topic_map / IVF-centroid
        commit inside the benched pipeline). ``rows``: sequence of tuples in
        ``schema`` (a pyspark StructType INCLUDING ``BUCKET_COL``) field
        order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.time()
        staging = self._fresh_staging(table)
        names = [f.name for f in schema.fields]
        bi = names.index(BUCKET_COL)
        data_fields = [(i, f) for i, f in enumerate(schema.fields) if i != bi]
        pa_schema = pa.schema(
            [(f.name, _arrow_type(f.dataType)) for _, f in data_fields]
        )
        groups: dict = {}
        for r in rows:
            groups.setdefault(r[bi], []).append(r)
        for b, rs in groups.items():
            d = os.path.join(staging, f"{BUCKET_COL}={b}")
            os.makedirs(d)
            tb = pa.Table.from_arrays(
                [
                    pa.array([r[i] for r in rs], type=pa_schema.field(j).type)
                    for j, (i, _) in enumerate(data_fields)
                ],
                schema=pa_schema,
            )
            pq.write_table(
                tb,
                os.path.join(d, "part-00000-local.snappy.parquet"),
                compression="snappy",
            )
        if not groups:
            os.makedirs(staging, exist_ok=True)
        return self._publish_staging(staging, table, stage, schema.json(), t0)

    def _publish_staging(
        self, staging: str, table: str, stage: str, schema_json: str, t0: float
    ) -> dict:
        table_dir = self.path(table)
        man = self.manifest(table)
        # record the read-back schema ONCE (zero-partition tables need it); a
        # later commit with a drifted schema must fail loudly, not silently
        # rewrite the recorded type against already-committed partitions
        if "schema" not in man:
            man["schema"] = schema_json
        elif man["schema"] != schema_json:
            raise ValueError(
                f"schema drift on table '{table}': committed partitions were "
                f"written with a different schema — use overwrite() for a "
                f"full-table replace"
            )
        snapshot_id = uuid.uuid4().hex[:16]
        tombstones = self._compaction_tombstones(man)
        committed: dict[str, dict] = {}
        for d in sorted(os.listdir(staging)):
            if not d.startswith(f"{BUCKET_COL}="):
                continue
            bucket = d.split("=", 1)[1]
            if bucket in man["partitions"]:
                continue  # checkpointed — never recommit
            if bucket in tombstones:
                tomb_stage = tombstones[bucket]
                # the discriminator is the checkpoint identity embedded in the
                # stage string ("... ckpt=<id>"); a tombstoned stage WITHOUT
                # one predates that scheme (or came from a batch writer), so a
                # replay can't be told from new data — fall back to the legacy
                # skip rather than permanently halting a stream whose replayed
                # epoch was committed by pre-upgrade code
                if tomb_stage is not None and "ckpt=" in tomb_stage and tomb_stage != stage:
                    raise ValueError(
                        f"partition '{bucket}' of table '{table}' was compacted "
                        f"away after a commit from stage '{tomb_stage}', but stage "
                        f"'{stage}' is now trying to commit it — this is NEW data "
                        f"under a reused key (e.g. a stream restarted on a fresh "
                        f"checkpoint re-numbering epochs from 0), not a crash "
                        f"replay; skipping it silently would be data loss. Resume "
                        f"the original checkpoint, or write under fresh keys."
                    )
                continue  # same-stage crash replay of a compacted epoch — skip
            src, dst = os.path.join(staging, d), os.path.join(table_dir, d)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.replace(src, dst)
            committed[bucket] = dst  # row counts filled below, in parallel
        # compact-on-commit + row count, parallel across partition dirs (both
        # are per-dir local I/O; sequential driver loops were the graph
        # stage's measured commit floor)
        from concurrent.futures import ThreadPoolExecutor

        def _finish(dst: str) -> int:
            compact_small_dir(dst)
            return pads.dataset(dst, format="parquet").count_rows()

        if committed:
            with ThreadPoolExecutor(max_workers=min(8, len(committed))) as pool:
                rows_by_bucket = dict(
                    zip(committed, pool.map(_finish, committed.values()))
                )
        done_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        wall_ms = int((time.time() - t0) * 1000)
        committed = {
            bucket: {
                "stage": stage,
                "snapshot_id": snapshot_id,
                "rows_written": rows_by_bucket[bucket],
                "completed_at": done_at,
                "wall_ms": wall_ms,
            }
            for bucket in committed
        }
        shutil.rmtree(staging, ignore_errors=True)
        man["partitions"].update(committed)
        # record a snapshot only when something was committed (or on first
        # creation, so exists()/schema work for zero-row tables) — otherwise
        # every resume pass would append an empty snapshot to the lineage
        if committed or not self.exists(table):
            man["snapshots"].append(
                {
                    "snapshot_id": snapshot_id,
                    "stage": stage,
                    "partitions": sorted(committed),
                    "total_rows": sum(e["rows_written"] for e in committed.values()),
                }
            )
        self._save_manifest(table, man)
        return committed

    def overwrite(self, df: DataFrame, table: str, stage: str) -> None:
        """Full-table replace (S8 graph-rebuild semantics, knowledge_graph.py:58-107)."""
        if os.path.exists(self.path(table)):
            shutil.rmtree(self.path(table))
        self.commit_partitions(df, table, stage)

    def metrics(self, table: str) -> list[dict]:
        """Per-partition lineage + metrics rows (FIXTURES.md §7 `_metrics`)."""
        man = self.manifest(table)
        return [
            {"table": man["table"], "partition_id": pid, **entry}
            for pid, entry in sorted(man["partitions"].items())
        ]

    # ------------------------------------------------------------- compaction
    _EPOCH_KEY = re.compile(r"\d+_-?\d+")  # "<epoch>_<bucket>" stream partitions
    _COMPACT_KEY = re.compile(r"c(\d+)_(-?\d+)")  # "c<gen>_<bucket>" outputs

    def _sweep_unreferenced(self, table: str) -> None:
        """GC partition dirs the manifest doesn't reference and stale
        compaction staging — the only way such dirs arise is a compaction
        interrupted after its atomic manifest publish (source dirs not yet
        deleted) or before it (targets staged but never published)."""
        parts = self.manifest(table)["partitions"]
        tdir = self.path(table)
        if not os.path.isdir(tdir):
            return
        for d in os.listdir(tdir):
            p = os.path.join(tdir, d)
            if d.startswith("_compacting_"):
                shutil.rmtree(p, ignore_errors=True)
            elif d.startswith(f"{BUCKET_COL}=") and d.split("=", 1)[1] not in parts:
                shutil.rmtree(p, ignore_errors=True)

    def compact_stream_epochs(self, spark: SparkSession, table: str) -> dict:
        """Fold completed epoch-scoped stream partitions (``<epoch>_<bucket>``,
        plus any previous compaction outputs ``c<gen>_<bucket>`` for the same
        buckets) into ONE canonical partition per bucket — Iceberg
        ``rewrite_data_files`` semantics over the streaming sink's
        small-partition debris (streaming/incremental.py enrich_stream writes
        one partition per (epoch, bucket); at 10^12 docs that's unbounded
        file-count growth unless folded).

        Atomic + idempotent: compacted data is staged, published under FRESH
        ``c<gen>_<bucket>`` keys invisible to readers (reads are
        manifest-led), then a single atomic manifest replace drops the source
        keys and adds the targets; source dirs are GC'd afterwards (and by
        the sweep on the next call, if interrupted). A crash at any point
        leaves reads exactly pre- or post-compaction, never doubled.
        Single-writer: run while the stream is stopped, like any table
        maintenance. Returns the committed target partitions ({} = no-op)."""
        t0 = time.time()
        self._sweep_unreferenced(table)
        man = self.manifest(table)
        parts = man["partitions"]
        epoch_keys = [k for k in parts if self._EPOCH_KEY.fullmatch(k)]
        if not epoch_keys:
            return {}
        gen = 1 + max(
            (int(m.group(1)) for k in parts if (m := self._COMPACT_KEY.fullmatch(k))),
            default=0,
        )
        targets = {k.rsplit("_", 1)[1] for k in epoch_keys}
        prior = [
            k
            for k in parts
            if (m := self._COMPACT_KEY.fullmatch(k)) and m.group(2) in targets
        ]
        sources = sorted(epoch_keys + prior)
        tdir = self.path(table)
        src_dirs = [os.path.join(tdir, f"{BUCKET_COL}={k}") for k in sources]
        df = spark.read.option("basePath", tdir).parquet(*src_dirs)
        df = df.withColumn(
            BUCKET_COL,
            F.concat(
                F.lit(f"c{gen}_"),
                F.element_at(F.split(F.col(BUCKET_COL).cast("string"), "_"), -1),
            ),
        )
        # capture each source key's committing stage BEFORE the keys are
        # dropped — the tombstone guard in commit_partitions uses it to tell
        # a crash REPLAY (same stage) from new data under a reused key
        source_stages = {k: parts[k]["stage"] for k in sources}
        staging = os.path.join(tdir, f"_compacting_{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
        snapshot_id = uuid.uuid4().hex[:16]
        committed: dict[str, dict] = {}
        for d in sorted(os.listdir(staging)):
            if not d.startswith(f"{BUCKET_COL}="):
                continue
            key = d.split("=", 1)[1]
            dst = os.path.join(tdir, d)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.replace(os.path.join(staging, d), dst)
            compact_small_dir(dst)
            committed[key] = {
                "stage": f"compact_gen{gen}",
                "snapshot_id": snapshot_id,
                "rows_written": pads.dataset(dst, format="parquet").count_rows(),
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "wall_ms": int((time.time() - t0) * 1000),
            }
        shutil.rmtree(staging, ignore_errors=True)
        for k in sources:
            parts.pop(k, None)
        parts.update(committed)
        man["snapshots"].append(
            {
                "snapshot_id": snapshot_id,
                "stage": f"compact_gen{gen}",
                "partitions": sorted(committed),
                "compacted_from": sources,
                "compacted_from_stages": source_stages,
                "total_rows": sum(e["rows_written"] for e in committed.values()),
            }
        )
        self._save_manifest(table, man)  # ← the atomic publish
        for k in sources:
            shutil.rmtree(os.path.join(tdir, f"{BUCKET_COL}={k}"), ignore_errors=True)
        return committed
