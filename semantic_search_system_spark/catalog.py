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
  without recomputing completed partitions");
- one staleness rule, ``Catalog.reuse(table, stage)``: a derived table is
  committed under a stage ending ``fp=<identity of its inputs>`` —
  ``file_lineage`` of files (a frame's, via ``frame_lineage``) or
  ``Catalog.lineage`` of a table, neither a scan nor a Spark job — and is
  rebuilt under any other stage, so its consumers see new files in turn.

Replaces the reference's ad-hoc work-queue protocol — the ``processed``
boolean flag flipped after bulk writes (ingest/pr_meta_store.py:55-139) and the
skipped-entry sweep (:142-194) — with partition-granular manifests. If a real
``iceberg-spark-runtime`` is ever on the classpath the same call sites can
switch to ``df.writeTo(...).using('iceberg')``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid
import warnings
import weakref
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote, urlsplit

import numpy as np
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
COMPACT_COMMIT_BYTES = 64 * 1024 * 1024


def file_lineage(paths) -> str:
    """Input identity of files (a path, or a list of paths or ``file:`` URIs;
    another scheme counts by name) from their metadata alone: md5 over the
    sorted full path:size:mtime_ns of each, like ``Catalog.lineage``. The
    mtime catches a same-size rewrite, or a fresh checkout of the source."""
    ident = []
    for p in sorted({paths} if isinstance(paths, str) else set(paths)):
        path = local_path(p)
        st = os.stat(path) if path else None
        ident.append(f"{path}:{st.st_size}:{st.st_mtime_ns}" if st else p)
    return hashlib.md5(";".join(ident).encode()).hexdigest()[:16]


def local_path(uri: str) -> str | None:
    """The path of a plain path or ``file:`` URI; None for another scheme."""
    u = urlsplit(uri)
    if not u.scheme:
        return uri
    return unquote(u.path) if u.scheme == "file" and not u.netloc else None


# frame -> its inputFiles(), fixed when the frame is created: one JVM call
# per frame serves both its fingerprint and its driver read
_INPUT_FILES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def input_files(df: DataFrame) -> list[str]:
    if df not in _INPUT_FILES:
        _INPUT_FILES[df] = df.inputFiles()
    return _INPUT_FILES[df]


def frame_lineage(*dfs: DataFrame) -> str:
    """``file_lineage`` of the files the frames scan: a frame from another
    root, a filtered frame or a union is keyed on exactly what it reads."""
    return file_lineage([f for df in dfs for f in input_files(df)])


# process-wide memo of parsed driver-side table reads (Catalog.read_arrow_memo):
# (root, table) -> (the table's lineage when read, the parsed value)
_ARROW_MEMO: dict[tuple[str, str], tuple[str | None, object]] = {}


def compact_small_dir(d: str) -> bool:
    """Rewrite a multi-file parquet partition dir into one file when its total
    size is under ``COMPACT_COMMIT_BYTES``; returns whether it compacted. The merged
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
    if sum(os.path.getsize(p) for p in paths) > COMPACT_COMMIT_BYTES:
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


# XXH64's primes (the algorithm's own constants, as in Spark's XXH64.java)
_P1, _P2, _P3, _P4, _P5 = map(
    np.uint64,
    (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    ),
)


def _xxh64_fixed(B: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each row of ``B`` (m × L uint8, every row L bytes long), as
    uint64 — Spark's ``XXH64.hashUnsafeBytes``, one numpy op per step over
    all m rows. uint64 arithmetic wraps mod 2^64 like Java's long."""
    m, L = B.shape

    def word(i, width=8):
        return np.ascontiguousarray(B[:, i : i + width]).view(f"<u{width}")[:, 0].astype(np.uint64)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    def round_(acc, lane):
        return rotl(acc + lane * _P2, 31) * _P1

    def lanes(*starts):  # the seed-derived start values, wrapped to uint64
        return [np.full(m, s % (1 << 64), dtype=np.uint64) for s in starts]

    off = 0
    if L >= 32:
        v = lanes(seed + int(_P1) + int(_P2), seed + int(_P2), seed, seed - int(_P1))
        while off + 32 <= L:
            v = [round_(v[i], word(off + 8 * i)) for i in range(4)]
            off += 32
        h = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
        for x in v:
            h = (h ^ round_(np.uint64(0), x)) * _P1 + _P4
    else:
        (h,) = lanes(seed + int(_P5))
    h = h + np.uint64(L)
    while off + 8 <= L:
        h = rotl(h ^ round_(np.uint64(0), word(off)), 27) * _P1 + _P4
        off += 8
    if off + 4 <= L:
        h = rotl(h ^ word(off, 4) * _P1, 23) * _P2 + _P3
        off += 4
    for i in range(off, L):
        h = rotl(h ^ B[:, i].astype(np.uint64) * _P5, 11) * _P1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    return h ^ (h >> np.uint64(32))


def arrow_bucket(values, n_buckets: int) -> np.ndarray:
    """The bucket ``with_bucket`` assigns — ``pmod(xxhash64(col), n)`` —
    computed on the driver for a pyarrow string array, as int32. Spark hashes
    a string's UTF-8 bytes with XXH64 and seed 42, and a null hashes to the
    seed itself (bucket ``42 mod n``). Each DISTINCT value is hashed once;
    values are grouped by byte length, so every group is one vectorized pass."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not (pa.types.is_string(values.type) or pa.types.is_large_string(values.type)):
        raise TypeError(f"arrow_bucket hashes strings, not {values.type}")
    enc = pc.dictionary_encode(values)
    uniq = pc.cast(enc.dictionary, pa.large_string())
    offs = np.frombuffer(uniq.buffers()[1], dtype=np.int64)[uniq.offset : uniq.offset + len(uniq) + 1]
    data = np.frombuffer(uniq.buffers()[2] or b"", dtype=np.uint8)
    lens = np.diff(offs)
    hashes = np.empty(len(uniq), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for L in np.unique(lens):
            rows = np.flatnonzero(lens == L)
            hashes[rows] = _xxh64_fixed(data[offs[rows, None] + np.arange(L)], 42)
    # numpy's % takes the divisor's sign, which is Spark's pmod for n > 0
    per_value = (hashes.view(np.int64) % n_buckets).astype(np.int32)
    out = np.full(len(values), 42 % n_buckets, dtype=np.int32)
    valid = enc.indices.is_valid().to_numpy(zero_copy_only=False)
    out[valid] = per_value[enc.indices.drop_null().to_numpy()]
    return out


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
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.StructType):
        return pa.struct([(f.name, _arrow_type(f.dataType)) for f in dt.fields])
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
        """Iceberg-style table properties: the table's properties become
        ``props`` (JSON) in ONE atomic manifest save, so keys that belong
        together (the doc-IVF index's source watermark and ``fit_rows``)
        appear together or not at all. Read them from ``manifest(table)``."""
        man = self.manifest(table)
        man["properties"] = props
        self._save_manifest(table, man)

    # ------------------------------------------------------------- lineage
    def lineage(self, table: str, keys=None) -> str | None:
        """Input identity of a committed table (or of its partitions
        ``keys``): md5 over the sorted (partition, snapshot_id, rows_written)
        triples of its manifest; None when it has no partitions. Any
        recommit of any partition changes a snapshot id, so a derived table
        whose stage records this string sees the change — from one manifest
        read, without scanning the data."""
        parts = self.manifest(table)["partitions"]
        if keys is not None:
            parts = {k: parts[k] for k in keys}
        if not parts:
            return None
        ident = ";".join(
            f"{pid}:{e['snapshot_id']}:{e['rows_written']}" for pid, e in sorted(parts.items())
        )
        return hashlib.md5(ident.encode()).hexdigest()[:16]

    def reuse(self, table: str, stage: str) -> bool:
        """The staleness rule: True when every committed partition of
        ``table`` (every snapshot, for a table with no rows) was written
        under ``stage``. Otherwise a table that exists is deleted with one
        warning naming both stages, and False returned."""
        if not self.exists(table):
            return False
        man = self.manifest(table)
        stages = {e["stage"] for e in man["partitions"].values() or man["snapshots"]}
        if stages == {stage}:
            return True
        warnings.warn(f"rebuilding table '{table}': written under {sorted(stages)}, now '{stage}'")
        shutil.rmtree(self.path(table))
        return False

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

    def read_arrow_memo(self, table: str, parse):
        """``parse(self.read_arrow(table))``, memoized per process by (root,
        table, lineage): steady-state calls cost one manifest read, and a
        recommitted table is re-read on the next call. One ``parse`` per
        table — the serving paths' centroid matrix and expansion statistic."""
        lineage = self.lineage(table)
        hit = _ARROW_MEMO.get((self.root, table))
        if hit is not None and hit[0] == lineage:
            return hit[1]
        value = parse(self.read_arrow(table))
        _ARROW_MEMO[(self.root, table)] = (lineage, value)
        return value

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
        (vocabulary / centroid / statistic scale, or a doc-IVF assignment
        within the driver budget — data that was computed on the
        driver in the first place): identical manifest, tombstone and
        idempotence semantics, but the parquet is written with pyarrow
        in-process, one file per partition, so the commit costs zero Spark
        jobs and needs no compaction. ``rows``: a ``pyarrow.Table`` with the
        ``schema`` columns, or a sequence of tuples in ``schema`` (a pyspark
        StructType INCLUDING ``BUCKET_COL``) field order. The recorded
        schema is ``schema.json()`` — pass the StructType the Spark branch
        of the same table writes, or the other branch's first commit raises
        schema drift."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t0 = time.time()
        pa_schema = pa.schema([(f.name, _arrow_type(f.dataType)) for f in schema.fields])
        if isinstance(rows, pa.Table):
            tb = rows.select(pa_schema.names).cast(pa_schema)
        else:
            rows = list(rows)
            tb = pa.Table.from_arrays(
                [
                    pa.array([r[i] for r in rows], type=f.type)
                    for i, f in enumerate(pa_schema)
                ],
                schema=pa_schema,
            )
        staging = self._fresh_staging(table)
        os.makedirs(staging)
        tb = tb.sort_by(BUCKET_COL)  # stable: one contiguous run per partition
        # run boundaries of the sorted key column: one run per partition
        runs = pc.run_end_encode(tb[BUCKET_COL].combine_chunks())
        keys = [str(k) for k in runs.values.to_pylist()]
        starts = [0, *runs.run_ends.to_pylist()]
        data = tb.drop_columns([BUCKET_COL])
        rows_by_bucket = {k: hi - lo for k, lo, hi in zip(keys, starts, starts[1:])}

        def _write(key: str, lo: int, hi: int) -> None:
            d = os.path.join(staging, f"{BUCKET_COL}={key}")
            os.makedirs(d)
            pq.write_table(
                data.slice(lo, hi - lo),
                os.path.join(d, "part-00000-local.snappy.parquet"),
                compression="snappy",
            )

        # per-partition files are independent; pyarrow releases the GIL
        with ThreadPoolExecutor(max_workers=min(8, max(1, len(rows_by_bucket)))) as pool:
            list(pool.map(_write, keys, starts[:-1], starts[1:]))
        return self._publish_staging(
            staging, table, stage, schema.json(), t0, rows_by_bucket
        )

    def _publish_staging(
        self,
        staging: str,
        table: str,
        stage: str,
        schema_json: str,
        t0: float,
        local_rows: dict[str, int] | None = None,
        compacted_from: dict[str, str] | None = None,
    ) -> dict:
        """Publish the staged ``bucket=`` dirs. ``local_rows``: the per-
        partition row counts of a driver-side write (one file per dir —
        nothing to compact or count); None for a Spark write, whose dirs are
        compacted and counted here. Each snapshot records its ``writer``
        ('local' | 'spark'), so which branch produced a table is visible
        after the fact. ``compacted_from``: the partition keys a compaction
        folds into the staged ones, mapped to their committing stage — the
        same manifest save drops them and records them on the snapshot
        (``compacted_from`` / ``compacted_from_stages``)."""
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
        def _finish(dst: str) -> int:
            compact_small_dir(dst)
            return pads.dataset(dst, format="parquet").count_rows()

        if local_rows is not None:
            rows_by_bucket = local_rows
        elif committed:
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
        for k in compacted_from or ():
            man["partitions"].pop(k, None)
        man["partitions"].update(committed)
        # record a snapshot only when something was committed (or on first
        # creation, so exists()/schema work for zero-row tables) — otherwise
        # every resume pass would append an empty snapshot to the lineage
        if committed or compacted_from or not self.exists(table):
            snap = {
                "snapshot_id": snapshot_id,
                "stage": stage,
                "writer": "spark" if local_rows is None else "local",
                "partitions": sorted(committed),
                "total_rows": sum(e["rows_written"] for e in committed.values()),
            }
            if compacted_from:
                snap["compacted_from"] = sorted(compacted_from)
                snap["compacted_from_stages"] = compacted_from
            man["snapshots"].append(snap)
        self._save_manifest(table, man)  # the atomic publish
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
        man = self.manifest(table)
        parts = man["partitions"]
        tdir = self.path(table)
        # GC partition dirs left unreferenced by a compaction cut after its publish
        for d in os.listdir(tdir) if os.path.isdir(tdir) else []:
            if d.startswith(f"{BUCKET_COL}=") and d.split("=", 1)[1] not in parts:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
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
        src_dirs = [os.path.join(tdir, f"{BUCKET_COL}={k}") for k in sources]
        df = spark.read.option("basePath", tdir).parquet(*src_dirs)
        df = df.withColumn(
            BUCKET_COL,
            F.concat(
                F.lit(f"c{gen}_"),
                F.element_at(F.split(F.col(BUCKET_COL).cast("string"), "_"), -1),
            ),
        )
        staging = self._fresh_staging(table)  # compaction is single-writer
        df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
        # each source key's committing stage goes on the snapshot — the
        # tombstone guard in commit_partitions uses it to tell a crash
        # REPLAY (same stage) from new data under a reused key
        committed = self._publish_staging(
            staging,
            table,
            f"compact_gen{gen}",
            man["schema"],
            t0,
            compacted_from={k: parts[k]["stage"] for k in sources},
        )
        for k in sources:
            shutil.rmtree(os.path.join(tdir, f"{BUCKET_COL}={k}"), ignore_errors=True)
        return committed
