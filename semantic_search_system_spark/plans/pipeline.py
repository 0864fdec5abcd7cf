"""The end-to-end knowledge-graph construction pipeline.

Reference flow reproduced (SURVEY.md §3.1/§3.3): ingest → NLP enrichment
(entities/topics/summary/embedding) → phrase canonicalization → triple set →
node/edge graph tables. The reference does this as sequential per-document
network calls (pr_aws_nlp.py:230-277) plus one Neo4j transaction per
(topic, doc) pair (knowledge_graph.py:176); here every stage is one declarative
DataFrame transform, checkpointed per partition through the Catalog so a killed
run resumes without recomputing completed buckets. Every stage, enrichment
included, also has a driver twin: when its inputs pass ``driver_read``'s
guards (bare parquet relations) and its estimated driver bytes pass
``session.driver_fits`` (a share of the driver's heap), the same table is
computed in pyarrow/numpy and committed with
``Catalog.commit_partitions_local`` — zero Spark jobs, identical rows,
buckets and recorded schema, so the two branches mix across a resume. A
driver-sized ``run_pipeline`` submits no Spark job at all.

Stages (each a Catalog table under <out_root>):
  enriched   doc_id, url, title, doc_date, content, summary,
             entities/topics array<struct<text,label>>, embedding[256],
             media_refs — the PR_META_VECTOR_IDX analog
  topic_map  phrase_norm → broad_topic (canonicalization output; the
             topic_mapping.json analog, 80-topic clustering at reference scale)
  triples    subj, pred, obj — (doc MENTIONS entity), (doc HAS_TOPIC topic),
             (broad_topic RELATES_TO_DOC doc)
  nodes      node_id, kind, name, url, title, media_refs
  edges      src, dst, rel, weight
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session, spec
from ..catalog import BUCKET_COL, Catalog, _arrow_type, arrow_bucket, with_bucket
from ..catalog import file_lineage, frame_lineage, input_files, local_path
from ..fixtures.interleave import interleaved_path
from ..operators.components import connected_components
from ..operators.embedding import embed_udf
from ..operators.enrichment import ENRICH_RESULT, enrich_arrow, enrich_content
from ..operators.extraction import assemble_content, has_usable_text
from ..operators.linking import candidate_edges
from ..session import driver_fits

N_BUCKETS = 8
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"  # the kernel's batch size


def read_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved source as a bare parquet relation. Its schema comes
    from the file's footer, read on the driver by pyarrow: Spark's own
    parquet schema inference submits a job to read the same footer."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    path = interleaved_path(sf_dir)
    return spark.read.schema(from_arrow_schema(pq.read_schema(path))).parquet(path)


# --------------------------------------------------------------------- stage 1
def enrich_docs(docs: DataFrame) -> DataFrame:
    """The Spark branch's enrich body, for the batch stage and both stream
    sinks (streaming/incremental.enrich_stream, triples_stream) alike:
    admission (docs with a usable text span — the §2.11 rule whose rejects
    the callers quarantine) → ``assemble_content`` → the fused enrich UDF,
    projected to the enriched table's columns. Its driver twin is
    ``enrich_docs_arrow``. ``docs``: interleaved rows carrying BUCKET_COL.
    The fused UDF cleans the raw content via Arrow RE2. A filter or explode
    over this frame still evaluates the UDF once
    (tests/test_plans.py::test_enrich_body_evaluates_udf_once)."""
    admitted = docs.where(has_usable_text("spans"))
    return enrich_content(assemble_content(admitted)).select(
        BUCKET_COL, "doc_id", "url", "title", "doc_date", "content", "summary",
        "entities", "topics", "embedding", "media_refs",
    )


def _enrich_frames(spark: SparkSession, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The Spark branch's (quarantine, enriched) frames over ``docs``, the
    pending interleaved rows carrying BUCKET_COL. §2.11 quarantine: docs
    with no usable text span go to the permanent failed_rows table (the
    pr_aws_nlp.py:296-310 failure-list analog). That frame is a filter and
    projection of the scan: only the UDF frame is repartitioned, so its
    commit never re-runs a corpus-wide shuffle."""
    bad = docs.where(~has_usable_text("spans")).select(
        BUCKET_COL,
        "doc_id",
        F.lit("enrich").alias("stage"),
        F.lit("no_text_spans").alias("reason"),
    )
    # the scan is splittable (small row groups); only force a shuffle when
    # the source yields fewer splits than cores, or the Arrow-UDF stages
    # would run under-parallel (at cluster scale: repartitionByRange on
    # doc_id per the ingest spec)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    return bad, enrich_docs(docs)


# the Spark branch's df.schema: every enriched column is nullable; the
# quarantine's stage and reason are non-nullable literals
_ENRICHED_SCHEMA = T.StructType(
    [
        T.StructField(BUCKET_COL, T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("doc_date", T.DateType()),
        T.StructField("content", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("entities", ENRICH_RESULT["entities"].dataType),
        T.StructField("topics", ENRICH_RESULT["topics"].dataType),
        T.StructField("embedding", ENRICH_RESULT["embedding"].dataType),
        T.StructField("media_refs", T.ArrayType(T.StringType())),
    ]
)
_FAILED_ROWS_SCHEMA = T.StructType(
    [
        T.StructField(BUCKET_COL, T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("stage", T.StringType(), nullable=False),
        T.StructField("reason", T.StringType(), nullable=False),
    ]
)


def _doc_day(doc_id) -> np.ndarray:
    """``coalesce(try_cast(doc_id AS long) % 9000, 0)``, the day offset of
    assemble_content's doc_date, for a pyarrow string array. Spark's cast
    trims the bytes 0x00-0x20 and 0x7F from both ends, then accepts an
    optional sign and ASCII digits in the long range — no '_', no decimal
    point, no other script's digits; ``%`` is Java's remainder, signed like
    the dividend."""
    import pyarrow as pa
    import pyarrow.compute as pc

    s = pc.replace_substring_regex(
        doc_id, pattern=r"^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$", replacement=""
    )
    # the magnitude without sign or leading zeros; at most 19 digits fits uint64
    digits = pc.replace_substring_regex(s, pattern=r"^[+-]?0*([0-9])", replacement=r"\1")
    ok = pc.and_(
        pc.match_substring_regex(s, r"^[+-]?[0-9]+$"), pc.less_equal(pc.utf8_length(digits), 19)
    )
    ok = pc.fill_null(ok, False)
    mag = pc.cast(pc.if_else(ok, digits, "0"), pa.uint64()).to_numpy()
    neg = pc.fill_null(pc.starts_with(s, "-"), False).to_numpy(zero_copy_only=False)
    limit = np.where(neg, np.uint64(2**63), np.uint64(2**63 - 1))
    ok = ok.to_numpy(zero_copy_only=False) & (mag <= limit)
    rem = (mag % 9000).astype(np.int64)
    return np.where(ok, np.where(neg, -rem, rem), 0)


def _assemble_arrow(docs, batch: int):
    """Driver twin of ``assemble_content`` followed by the fused
    enrich kernel, over admitted interleaved rows (a pyarrow Table with
    BUCKET_COL, doc_id, spans), as a Table of the enriched columns. Spans
    sort as ``array_sort`` sorts struct(offset, kind, text, media_ref):
    ascending field by field, null fields first. Text spans are the spans of
    kind 'text' with non-null text (blank text kept); media_refs the refs of
    spans whose kind is non-null and not 'text' (null refs kept). The kernel
    runs on batches of ``batch`` rows, as the UDF does (zero or less: one
    batch)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spans = docs["spans"].combine_chunks()
    x = pc.list_flatten(spans)
    keys = ["offset", "kind", "text", "media_ref"]
    flat = pa.table(
        {"_doc": pc.list_parent_indices(spans), **{k: pc.struct_field(x, k) for k in keys}}
    )
    flat = flat.sort_by([(k, "ascending") for k in ["_doc", *keys]], null_placement="at_start")
    doc = flat["_doc"].to_numpy()

    def per_doc(mask, column):
        mask = pc.fill_null(mask, False).combine_chunks()
        counts = np.bincount(doc[mask.to_numpy(zero_copy_only=False)], minlength=docs.num_rows)
        offsets = pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32())
        return pa.ListArray.from_arrays(offsets, flat[column].filter(mask).combine_chunks())

    text_spans = per_doc(pc.and_(pc.equal(flat["kind"], "text"), pc.is_valid(flat["text"])), "text")
    content = pc.binary_join(text_spans, " ")
    batch = batch if batch > 0 else max(len(content), 1)
    # one kernel call per batch, and one on an empty input too
    en = pa.concat_arrays(
        [enrich_arrow(content.slice(lo, batch)) for lo in range(0, len(content) or 1, batch)]
    )
    return pa.table(
        {
            BUCKET_COL: docs[BUCKET_COL],
            "doc_id": docs["doc_id"],
            "url": pc.binary_join_element_wise("doc://", docs["doc_id"], ""),
            "title": pc.utf8_slice_codeunits(pc.list_element(text_spans, 0), 0, 64),
            "doc_date": pa.array(np.datetime64("2000-01-01", "D") + _doc_day(docs["doc_id"])),
            "content": en.field("content"),
            "summary": pc.binary_join(pc.list_slice(text_spans, 0, spec.SUMMARY_SPANS), " "),
            "entities": en.field("entities"),
            "topics": en.field("topics"),
            "embedding": en.field("embedding"),
            "media_refs": per_doc(pc.not_equal(flat["kind"], "text"), "media_ref"),
        }
    )


def enrich_docs_arrow(docs, batch: int):
    """Driver twin of ``enrich_docs`` with its quarantine: the (failed,
    enriched) tables of interleaved rows ``docs`` (a pyarrow Table with
    BUCKET_COL, doc_id, spans; the bucket of any type, passed through).
    Same admission as ``has_usable_text``: a doc with a span of kind 'text'
    whose text is non-empty after trim(' ') is assembled and enriched by
    ``_assemble_arrow`` in kernel calls of ``batch`` rows; every other doc
    becomes a failed row (stage 'enrich', reason 'no_text_spans'). The one
    pyarrow enrich body behind ``build_enriched``'s driver branch and both
    stream sinks (streaming/incremental.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spans = docs["spans"].combine_chunks()
    x = pc.list_flatten(spans)
    text = pc.utf8_trim(pc.struct_field(x, "text"), characters=" ")
    usable = pc.and_(pc.equal(pc.struct_field(x, "kind"), "text"), pc.not_equal(text, ""))
    usable = pc.fill_null(usable, False).to_numpy(zero_copy_only=False)
    parent = pc.list_parent_indices(spans).to_numpy()
    admitted = pa.array(np.bincount(parent[usable], minlength=docs.num_rows) > 0)
    failed = docs.filter(pc.invert(admitted))
    failed = pa.table(
        {
            BUCKET_COL: failed[BUCKET_COL],
            "doc_id": failed["doc_id"],
            "stage": pa.repeat("enrich", failed.num_rows),
            "reason": pa.repeat("no_text_spans", failed.num_rows),
        }
    )
    return failed, _assemble_arrow(docs.filter(admitted), batch)


# peak RSS rise per parquet byte: 35x at 160k perfbench docs (1,289 MB), 42x at 40k
_ENRICH_BYTES_PER_FILE_BYTE = 36


def _enrich_driver(spark: SparkSession, source: DataFrame, pending: list[int], n_buckets: int):
    """Driver twin of the Spark branch of build_enriched: the (failed_rows,
    enriched) pyarrow tables (``enrich_docs_arrow``) of the ``pending``
    buckets, or None when ``source`` fails ``driver_read``'s guards (with
    the enrich factor) or has a doc_id that is not a string (Spark hashes a
    long differently)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tb = driver_read(source, ["doc_id", "spans"], per_byte=_ENRICH_BYTES_PER_FILE_BYTE)
    if tb is None or not pa.types.is_string(tb.schema.field("doc_id").type):
        return None
    bucket = pa.array(arrow_bucket(tb["doc_id"], n_buckets))
    tb = tb.append_column(BUCKET_COL, bucket).filter(pc.is_in(bucket, pa.array(pending, pa.int32())))
    return enrich_docs_arrow(tb, int(spark.conf.get(ARROW_BATCH)))


def build_enriched(spark: SparkSession, sf_dir: str, cat: Catalog, n_buckets: int = N_BUCKETS) -> DataFrame:
    """The enriched table's pending buckets, and the §2.11 quarantine of
    their unusable docs in ``failed_rows`` — both committed per bucket, so
    the resume sweep re-checks only pending buckets and never re-quarantines
    completed ones. When the interleaved source passes ``driver_read``'s
    guards and its estimated enrich memory fits the driver budget, both
    tables are computed in-process — pyarrow admission and span assembly,
    the fused kernel in Arrow-batch-sized calls — and committed from the
    driver (zero Spark jobs; ``_enrich_driver``). Past the budget the Spark
    plan runs the same kernel as a UDF. Both branches write the same rows,
    buckets and recorded schemas, so a resume may mix them. A changed
    source rebuilds both tables (``Catalog.reuse``); its fingerprint is a
    ``stat``, and the source is opened only when a bucket is pending."""
    fp = file_lineage(os.path.abspath(interleaved_path(sf_dir)))
    quarantine, enrich = f"quarantine fp={fp}", f"enrich fp={fp}"
    cat.reuse("failed_rows", quarantine)
    cat.reuse("enriched", enrich)
    pending = cat.pending_buckets("enriched", n_buckets)
    if not pending:
        return cat.read(spark, "enriched")
    source = read_interleaved(spark, sf_dir)
    local = _enrich_driver(spark, source, pending, n_buckets)
    if local is not None:
        cat.commit_partitions_local(local[0], _FAILED_ROWS_SCHEMA, "failed_rows", stage=quarantine)
        cat.commit_partitions_local(local[1], _ENRICHED_SCHEMA, "enriched", stage=enrich)
    else:
        docs = with_bucket(source, "doc_id", n_buckets).where(F.col(BUCKET_COL).isin(pending))
        bad, enriched = _enrich_frames(spark, docs)
        cat.commit_partitions(bad, "failed_rows", stage=quarantine)
        cat.commit_partitions(enriched, "enriched", stage=enrich)
    return cat.read(spark, "enriched")


# --------------------------------------------------------------------- stage 2
def _label_components(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-component centroid labeling (applyInPandas GROUPED_MAP).

    MUST match fixtures/golden.py exactly: members sorted lexicographically,
    float32 centroid via np.mean over the stacked (sorted) members, per-member
    float32 np.dot, argmax with lexicographic tie-break
    (reference: get_cluster_label_by_centroid, topic_modeling.py:48-66).
    """
    pdf = pdf.sort_values("phrase_norm").reset_index(drop=True)
    vecs = [np.asarray(v, dtype=np.float32) for v in pdf["vec"]]
    centroid = np.mean(np.stack(vecs), axis=0)
    sims = [float(np.dot(v, centroid)) for v in vecs]
    best = min(range(len(pdf)), key=lambda i: (-sims[i], pdf["phrase_norm"].iat[i]))
    return pd.DataFrame(
        {"phrase_norm": pdf["phrase_norm"], "broad_topic": pdf["phrase_norm"].iat[best]}
    )


def topic_map_driver(phrase_list: list[str]) -> pd.DataFrame:
    """Driver fast path for vocabulary-sized canonicalization — the EXACT
    semantics of the distributed plan (same spec embedding, same
    first-token-block + cosine-threshold edges as linking.candidate_edges,
    the SAME union-find the distributed CC's own fast path uses with its
    lexicographic-min component ids, the same _label_components kernel), as
    one collect + numpy instead of ~8 vocabulary-sized Spark jobs.
    Parity with the distributed path is pinned by
    tests/test_pipeline.py::test_topic_map_driver_matches_distributed."""
    from ..operators.components import _driver_union_find
    from ..operators.embedding import embed_batch

    phrases = sorted(set(phrase_list))
    vecs = embed_batch(pd.Series(phrases, dtype=object))
    V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    blocks: dict[str, list[int]] = {}
    for i, p in enumerate(phrases):
        blocks.setdefault(p.split(" ")[0], []).append(i)
    pairs: list[tuple[str, str]] = []
    for idxs in blocks.values():
        if len(idxs) < 2:
            continue
        S = V[idxs] @ V[idxs].T
        ai, bi = np.triu_indices(len(idxs), 1)
        # round BEFORE thresholding (spec.round_half_away contract): pairwise
        # matmul summation vs the distributed fold must agree at the boundary
        hit = spec.round_half_away(S[ai, bi]) >= spec.PHRASE_SIM_THRESHOLD
        for a, b in zip(ai[hit], bi[hit]):
            pairs.append((phrases[idxs[a]], phrases[idxs[b]]))
    mapping = _driver_union_find(pairs)
    groups: dict[str, list[str]] = {}
    for p in phrases:
        groups.setdefault(mapping.get(p, p), []).append(p)
    vec_of = dict(zip(phrases, vecs))
    labels: list[tuple[str, str]] = []
    for g in groups.values():
        if len(g) == 1:  # a singleton labels itself: the argmax over one member
            labels.append((g[0], g[0]))
            continue
        pdf = _label_components(pd.DataFrame({"phrase_norm": g, "vec": [vec_of[p] for p in g]}))
        labels += zip(pdf["phrase_norm"], pdf["broad_topic"])
    return pd.DataFrame(labels, columns=["phrase_norm", "broad_topic"])


# peak RSS rise per parquet byte of the largest caller, on a 40k-doc enriched
# table (15.2 MB): doc-IVF input 16.2x, graph 8.9x, triples 7.6x
_READ_BYTES_PER_FILE_BYTE = 17


def driver_read(df: DataFrame, columns: list[str], buckets=None, per_byte=_READ_BYTES_PER_FILE_BYTE):
    """``columns`` of ``df`` as one pyarrow Table via ``driver_read_files``
    — only when ``df`` is a BARE parquet relation (no filters/projections
    that a local re-read would silently ignore). Returns None whenever any
    guard fails → the caller runs its distributed plan. The reader behind
    the enrich source read, topic_map, entity_map, triples, the graph tables
    and the doc-IVF build/append (plans.search.ensure_doc_ivf).

    ``BUCKET_COL`` among ``columns`` is the partition column of a Catalog
    table, typed as ``df.schema`` types it. ``buckets``: read only those
    partitions — the estimate still measures the whole relation."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        files = input_files(df)
        keyed = BUCKET_COL in columns or buckets is not None
        key_type = _arrow_type(df.schema[BUCKET_COL].dataType) if keyed else None
    except Exception:  # noqa: BLE001 — any introspection failure → fallback
        return None
    return driver_read_files(df.sparkSession, files, columns, per_byte, buckets, key_type)


def driver_read_files(
    spark: SparkSession, uris, columns: list[str], per_byte, buckets=None, key_type=None
):
    """``columns`` of the parquet files at ``uris`` as one pyarrow Table,
    read on the driver (zero Spark jobs) — or None, so that the caller runs
    its Spark plan, when there is no file, a URI is not a local ``file:``
    one, a file is missing, the files' bytes times ``per_byte`` (the
    caller's driver memory per parquet byte) fail ``session.driver_fits``,
    or pyarrow cannot read them. The one guarded reader of the batch stages
    (``driver_read``) and the stream sinks (streaming/incremental.py).

    ``key_type``: the Arrow type of ``BUCKET_COL``, whose value comes from
    each file's ``bucket=K`` directory (None when the files do not sit in
    such directories of one table); needed to read that column or to keep
    only the partitions ``buckets``."""
    paths = [local_path(uri) for uri in uris]
    if None in paths:
        return None
    try:
        nbytes = sum(map(os.path.getsize, paths))
    except OSError:
        return None
    if not paths or not driver_fits(spark, nbytes * per_byte):
        return None
    import pyarrow as pa
    import pyarrow.dataset as pads

    try:
        if key_type is None:
            return pads.dataset(paths, format="parquet").to_table(columns=columns)
        dirs = {os.path.dirname(p) for p in paths}
        bases = {os.path.dirname(d) for d in dirs}
        if len(bases) != 1 or not all(os.path.basename(d).startswith(f"{BUCKET_COL}=") for d in dirs):
            return None
        ds = pads.dataset(
            paths,
            format="parquet",
            partitioning=pads.partitioning(pa.schema([(BUCKET_COL, key_type)]), flavor="hive"),
            partition_base_dir=bases.pop(),
        )
        keep = None if buckets is None else pads.field(BUCKET_COL).isin(pa.array(buckets, key_type))
        return ds.to_table(columns=columns, filter=keep)
    except (OSError, pa.ArrowException):
        return None


def _vocab_texts_driver(enriched: DataFrame, column: str):
    """The lower/trimmed, non-null, non-empty ``text`` fields of the
    struct-array ``column`` (``topics`` or ``entities``) as one pyarrow
    array, read by ``driver_read`` (None past its guards). Semantics match
    the Spark branches exactly: explode → lower → trim(' ') → drop
    null/empty. pyarrow ``utf8_lower`` differs from Spark ``lower`` only on
    non-ASCII ('İ', final 'Σ'), which the enrichment cleaner strips first."""
    tb = driver_read(enriched, [column])
    if tb is None:
        return None
    import pyarrow.compute as pc

    texts = pc.struct_field(pc.list_flatten(tb[column].combine_chunks()), "text")
    texts = pc.utf8_trim(pc.utf8_lower(texts.drop_null()), characters=" ")
    return texts.filter(pc.not_equal(texts, ""))


# peak RSS rise per phrase: 4.6 of its vectors at 20k random bigrams, 4.4 at 80k
_PHRASE_BYTES = spec.EMBED_DIM * 8 * 5


def build_topic_map(spark: SparkSession, cat: Catalog, enriched: DataFrame) -> DataFrame:
    """Canonicalize topic phrases: embed → blocked similarity join → connected
    components → centroid labels. The topic_mapping.json analog.

    The phrase vocabulary grows sub-linearly with the corpus (it is a function
    of the language), so the whole stage runs on the DRIVER when the distinct
    phrases (read by ``driver_read``, else one capped distinct-collect) fit
    ``session.driver_fits``; the distributed plan below remains the fallback
    for beyond-vocabulary scales."""
    stage = f"canonicalize fp={frame_lineage(enriched)}"
    if not cat.reuse("topic_map", stage):
        texts = _vocab_texts_driver(enriched, "topics")
        vocab = None if texts is None else texts.unique().to_pylist()
        if vocab is None or not driver_fits(spark, len(vocab) * _PHRASE_BYTES):
            distinct_phrases = (
                enriched.select(F.explode("topics").alias("t"))
                .select(F.lower(F.trim(F.col("t.text"))).alias("phrase_norm"))
                .where(F.col("phrase_norm") != "")
                .distinct()
            )
            # ONE limit-collect decides the branch AND fetches the vocabulary
            cap = session.driver_budget(spark) // _PHRASE_BYTES
            vocab = [r["phrase_norm"] for r in distinct_phrases.limit(cap + 1).collect()]
            vocab = vocab if driver_fits(spark, len(vocab) * _PHRASE_BYTES) else None
        if vocab is not None:
            pdf = topic_map_driver(vocab)
            # one bucket by the pmod(xxhash,1)=0 rule with_bucket applies
            cat.commit_partitions_local(
                [(p, b, 0) for p, b in pdf.itertuples(index=False, name=None)],
                T.StructType(
                    [
                        T.StructField("phrase_norm", T.StringType()),
                        T.StructField("broad_topic", T.StringType()),
                        T.StructField(BUCKET_COL, T.IntegerType()),
                    ]
                ),
                "topic_map",
                stage=stage,
            )
            return cat.read(spark, "topic_map")
        phrases = distinct_phrases.withColumn("embedding", embed_udf(F.col("phrase_norm")))
        # cache across the edges + labeling + join uses
        phrases = phrases.localCheckpoint(eager=True)
        edges = candidate_edges(phrases, "phrase_norm", "embedding")
        comps = connected_components(edges)  # (node, component) — only non-isolated
        labeled = (
            phrases.join(comps, phrases["phrase_norm"] == comps["node"], "left")
            .withColumn("component", F.coalesce(F.col("component"), F.col("phrase_norm")))
            .select("phrase_norm", "component", F.col("embedding").alias("vec"))
            .groupBy("component")
            .applyInPandas(_label_components, schema="phrase_norm string, broad_topic string")
        )
        cat.commit_partitions(
            with_bucket(labeled, "phrase_norm", 1), "topic_map", stage=stage
        )
    return cat.read(spark, "topic_map")


# --------------------------------------------------------------------- stage 3
def mention_topic_triples(enriched_part: DataFrame) -> DataFrame:
    """MENTIONS + HAS_TOPIC in ONE scan, ONE explode, ZERO shuffle: the
    entity/topic arrays are per-doc distinct by the extraction spec and
    subj = doc_id, so global uniqueness holds by construction — a global
    dropDuplicates here would shuffle every triple for nothing. The pred
    derives from the element's own label via a native CASE — building
    structs inside a F.transform lambda is CodegenFallback, interpreted
    once per element (measured 2-5x slower per 4.4M triples). This map-only
    branch is shared by the batch stage and the Spark branch of the
    incremental stream (streaming/incremental.triples_stream); its driver
    twin is ``mention_topic_arrow``."""
    x = F.col("x")
    return enriched_part.select(
        BUCKET_COL,
        F.col("doc_id").alias("subj"),
        F.explode(F.concat("entities", "topics")).alias("x"),
    ).select(
        BUCKET_COL,
        "subj",
        F.when(x["label"] == "ENTITY", F.lit(spec.PRED_MENTIONS))
        .otherwise(F.lit(spec.PRED_HAS_TOPIC))
        .alias("pred"),
        F.lower(F.trim(x["text"])).alias("obj"),
    )


def relates_triples(enriched_part: DataFrame, topic_map: DataFrame) -> DataFrame:
    """RELATES_TO_DOC branch: topic_map is vocabulary-sized (sub-linear in
    the corpus) → broadcast join; dedup is needed only when two phrases of
    the SAME doc canonicalize to the same broad topic, so the distinct key
    includes doc_id and the shuffle carries only this branch — the
    MERGE-per-pair loop of knowledge_graph.py:151-189 collapses to one
    broadcast join + one narrow distinct. Topics are per-doc distinct,
    lowercase winners by the extraction spec, so explode + native lower/trim
    is exact — no per-element transform lambda, no array_distinct pass.
    Shared by the batch stage (build_triples) and the streaming
    reconciliation (streaming/incremental.reconcile_relates) — the
    corpus-global half of the documented lambda split."""
    doc_topics = enriched_part.select(
        BUCKET_COL,
        "doc_id",
        F.explode("topics").alias("t"),
    ).select(BUCKET_COL, "doc_id", F.lower(F.trim(F.col("t")["text"])).alias("phrase_norm"))
    return (
        doc_topics.join(F.broadcast(topic_map.select("phrase_norm", "broad_topic")), "phrase_norm")
        .select(
            BUCKET_COL,
            F.col("broad_topic").alias("subj"),
            F.lit(spec.PRED_RELATES).alias("pred"),
            F.col("doc_id").alias("obj"),
        )
        .dropDuplicates(["subj", "obj"])
    )


# the distributed branch's df.schema: the pred literals are non-nullable
_TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField(BUCKET_COL, T.IntegerType()),
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType(), nullable=False),
        T.StructField("obj", T.StringType()),
    ]
)


def _explode(tb, column):
    """(BUCKET_COL and doc_id of each element's row, the elements) of the
    list column ``column`` of ``tb``: Spark's ``explode``, which drops null
    and empty lists."""
    import pyarrow.compute as pc

    lists = tb[column].combine_chunks()
    ids = tb.select([BUCKET_COL, "doc_id"]).take(pc.list_parent_indices(lists))
    return ids, pc.list_flatten(lists)


def _norm_text(x):
    """trim(' ') then lower-case of the ``text`` field of struct array ``x``
    (the case-mapping caveat of ``_vocab_texts_driver``)."""
    import pyarrow.compute as pc

    return pc.utf8_lower(pc.utf8_trim(pc.struct_field(x, "text"), characters=" "))


def mention_topic_arrow(enriched):
    """Driver twin of ``mention_topic_triples`` over a pyarrow Table with
    BUCKET_COL, doc_id, entities and topics, as a Table of BUCKET_COL, subj,
    pred, obj. Each triple keeps its doc's bucket (of any type); a doc with
    a null entity or topic array emits no row (Spark's ``concat`` of a null
    array is null). Shared by ``_triples_driver`` and the triples stream
    sink's driver branch (streaming/incremental.triples_stream)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    both = enriched.filter(
        pc.and_(pc.is_valid(enriched["entities"]), pc.is_valid(enriched["topics"]))
    )
    parts = []
    for column in ("entities", "topics"):
        ids, x = _explode(both, column)
        is_m = pc.fill_null(pc.equal(pc.struct_field(x, "label"), "ENTITY"), False)
        parts.append(
            pa.table(
                {
                    BUCKET_COL: ids[BUCKET_COL],
                    "subj": ids["doc_id"],
                    "pred": pc.if_else(is_m, spec.PRED_MENTIONS, spec.PRED_HAS_TOPIC),
                    "obj": _norm_text(x),
                }
            )
        )
    return pa.concat_tables(parts)


def _triples_driver(enriched: DataFrame, topic_map: DataFrame, pending: list[int]):
    """Driver twin of ``mention_topic_triples`` ∪ ``relates_triples`` over
    the ``pending`` partitions of ``enriched``, as a pyarrow Table in
    ``_TRIPLES_SCHEMA`` order — None when either input fails
    ``driver_read``'s guards. Same semantics: MENTIONS/HAS_TOPIC as
    ``mention_topic_arrow``; the RELATES distinct key carries the bucket,
    which is a function of the doc."""
    docs = driver_read(enriched, [BUCKET_COL, "doc_id", "entities", "topics"], pending)
    tmap = driver_read(topic_map, ["phrase_norm", "broad_topic"])
    if docs is None or tmap is None:
        return None
    import pyarrow as pa

    ids, x = _explode(docs, "topics")
    relates = (
        ids.append_column("phrase_norm", _norm_text(x))
        .join(tmap, "phrase_norm", join_type="inner")
        .group_by(["broad_topic", "doc_id", BUCKET_COL])
        .aggregate([])
    )
    relates = pa.table(
        {
            BUCKET_COL: relates[BUCKET_COL],
            "subj": relates["broad_topic"],
            "pred": pa.repeat(spec.PRED_RELATES, relates.num_rows),
            "obj": relates["doc_id"],
        }
    )
    return pa.concat_tables([mention_topic_arrow(docs), relates])


def build_triples(
    spark: SparkSession, cat: Catalog, enriched: DataFrame, topic_map: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """The triple set of the ``enriched`` partitions ``triples`` lacks.
    When ``enriched`` and ``topic_map`` pass ``driver_read``'s guards the
    triples are computed in pyarrow and committed from the driver (zero
    Spark jobs; ``_triples_driver``); otherwise — past the budget, or for
    a frame that is not a bare relation — the Spark plan below runs. Both
    branches write the same rows, buckets and recorded schema, so a resume
    may mix them."""
    stage = f"triples fp={frame_lineage(enriched, topic_map)}"
    cat.reuse("triples", stage)
    pending = cat.pending_buckets("triples", n_buckets)
    if pending:
        local = _triples_driver(enriched, topic_map, pending)
        if local is not None:
            cat.commit_partitions_local(local, _TRIPLES_SCHEMA, "triples", stage=stage)
            return cat.read(spark, "triples")
        part = enriched.where(F.col(BUCKET_COL).isin(pending))
        triples = mention_topic_triples(part).unionByName(relates_triples(part, topic_map))
        cat.commit_partitions(triples, "triples", stage=stage)
    return cat.read(spark, "triples")


# --------------------------------------------------------------------- stage 4
# the distributed branches' df.schema: kind and weight are non-nullable
# literals; rel is the nullable pred read back from the triples files
_NODES_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.StringType()),
        T.StructField("kind", T.StringType(), nullable=False),
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("media_refs", T.ArrayType(T.StringType())),
        T.StructField(BUCKET_COL, T.IntegerType()),
    ]
)
_EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("rel", T.StringType()),
        T.StructField("weight", T.DoubleType(), nullable=False),
        T.StructField(BUCKET_COL, T.IntegerType()),
    ]
)


def _graph_driver(
    cat: Catalog, enriched: DataFrame, triples: DataFrame, stages: dict[str, str]
) -> bool:
    """Driver twin of build_graph's two Spark plans: commits each table of
    ``stages`` under its stage from pyarrow and returns True, or returns
    False (committing nothing) when an input they read fails
    ``driver_read``'s guards. Same rows and buckets: Document nodes from
    ``enriched``; Entity (MENTIONS object) and BroadTopic (RELATES subject)
    nodes as the distinct (node_id, kind) pairs of the triples with null
    url, title and media_refs; edges a renamed projection of the triples
    with weight 1.0; nodes by node_id and edges by src (``arrow_bucket``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tri = driver_read(triples, ["subj", "pred", "obj"])
    want_nodes = "nodes" in stages
    docs = driver_read(enriched, ["doc_id", "url", "title", "media_refs"]) if want_nodes else None
    if tri is None or (want_nodes and docs is None):
        return False
    if want_nodes:
        refs = tri.filter(pc.is_in(tri["pred"], pa.array([spec.PRED_MENTIONS, spec.PRED_RELATES])))
        is_m = pc.equal(refs["pred"], spec.PRED_MENTIONS)
        refs = (
            pa.table(
                {
                    "node_id": pc.if_else(is_m, refs["obj"], refs["subj"]),
                    "kind": pc.if_else(is_m, "Entity", "BroadTopic"),
                }
            )
            .group_by(["node_id", "kind"])
            .aggregate([])
        )
        doc_nodes = pa.table(
            {
                "node_id": docs["doc_id"],
                "kind": pa.repeat("Document", docs.num_rows),
                "name": docs["doc_id"],
                "url": docs["url"],
                "title": docs["title"],
                "media_refs": docs["media_refs"],
            }
        )
        # the ref rows lack url/title/media_refs: the promotion fills nulls
        nodes = pa.concat_tables(
            [doc_nodes, refs.append_column("name", refs["node_id"])], promote_options="default"
        )
        nodes = nodes.append_column(BUCKET_COL, pa.array(arrow_bucket(nodes["node_id"], N_BUCKETS)))
        cat.commit_partitions_local(nodes, _NODES_SCHEMA, "nodes", stage=stages["nodes"])
    if "edges" in stages:
        edges = pa.table(
            {
                "src": tri["subj"],
                "dst": tri["obj"],
                "rel": tri["pred"],
                "weight": pa.repeat(1.0, tri.num_rows),
                BUCKET_COL: arrow_bucket(tri["subj"], N_BUCKETS),
            }
        )
        cat.commit_partitions_local(edges, _EDGES_SCHEMA, "edges", stage=stages["edges"])
    return True


def build_graph(
    spark: SparkSession, cat: Catalog, enriched: DataFrame, triples: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Materialize deduplicated node/edge tables (the Neo4j model of
    knowledge_graph.py:113-126 as two columnar tables; SURVEY.md §1.2).

    Nodes and edges are gated INDEPENDENTLY (``Catalog.reuse`` on what each
    reads): a run killed between the two commits must still write edges on
    resume (a single shared gate would skip the stage forever).

    When every input the pending tables read (``triples``, plus ``enriched``
    for nodes) passes ``driver_read``'s guards, the tables are computed in
    pyarrow and committed from the driver (zero Spark jobs;
    ``_graph_driver``). Otherwise — past the budget, or for a frame that
    is not a bare relation, such as the streaming ``serving_triples`` union
    — the Spark plans below run, and their two commits run CONCURRENTLY (two
    driver threads submitting to the same scheduler — disjoint tables,
    directories and manifests): each partitioned-parquet commit carries an
    O(partitions) fixed floor that doesn't shrink with cores, so overlapping
    the two independent writes pays that floor once, not twice. On a real
    cluster the two jobs share executors exactly like any two concurrent
    stages."""
    stages = {
        "nodes": f"graph fp={frame_lineage(enriched, triples)}",
        "edges": f"graph fp={frame_lineage(triples)}",
    }
    stages = {t: s for t, s in stages.items() if not cat.reuse(t, s)}  # stale or missing
    if stages and _graph_driver(cat, enriched, triples, stages):
        return cat.read(spark, "nodes"), cat.read(spark, "edges")

    def _commit_nodes() -> None:
        doc_nodes = enriched.select(
            F.col("doc_id").alias("node_id"),
            F.lit("Document").alias("kind"),
            F.col("doc_id").alias("name"),
            "url",
            "title",
            "media_refs",
        )
        # Entity ids (MENTIONS objects) and BroadTopic ids (RELATES subjects)
        # in ONE triples scan + ONE distinct shuffle — the per-kind pair
        # (node_id, kind) dedups within and across kinds exactly as the two
        # separate distincts did
        is_m = F.col("pred") == spec.PRED_MENTIONS
        ref_nodes = (
            triples.where(is_m | (F.col("pred") == spec.PRED_RELATES))
            .select(
                F.when(is_m, F.col("obj")).otherwise(F.col("subj")).alias("node_id"),
                F.when(is_m, F.lit("Entity")).otherwise(F.lit("BroadTopic")).alias("kind"),
            )
            .distinct()
            .select(
                "node_id",
                "kind",
                F.col("node_id").alias("name"),
                F.lit(None).cast("string").alias("url"),
                F.lit(None).cast("string").alias("title"),
                F.lit(None).cast("array<string>").alias("media_refs"),
            )
        )
        # each branch is internally distinct (docs by key, entity/topic ids via
        # the distinct above) and doc ids are disjoint from the (node_id, kind)
        # pairs, so the uniqueness invariant holds WITHOUT a global
        # dropDuplicates shuffle — tests/test_pipeline.py asserts it on the
        # written table
        nodes = doc_nodes.unionByName(ref_nodes)
        nodes = with_bucket(nodes, "node_id", N_BUCKETS)
        cat.commit_partitions(nodes, "nodes", stage=stages["nodes"])

    def _commit_edges() -> None:
        # the triples table is already unique on (subj, pred, obj) — a rename
        # projection, no dedup shuffle
        edges = triples.select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            F.col("pred").alias("rel"),
            F.lit(1.0).alias("weight"),
        )
        cat.commit_partitions(with_bucket(edges, "src", N_BUCKETS), "edges", stage=stages["edges"])

    jobs = [j for j, t in ((_commit_nodes, "nodes"), (_commit_edges, "edges")) if t in stages]
    if len(jobs) == 2:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(j) for j in jobs]:
                f.result()
    else:
        for j in jobs:
            j()
    return cat.read(spark, "nodes"), cat.read(spark, "edges")


# --------------------------------------------------------------------- stage 2b
def _within_one_edit(a: str, b: str) -> bool:
    """levenshtein(a, b) <= 1 without the DP table."""
    if len(a) > len(b):
        a, b = b, a
    if len(b) - len(a) > 1:
        return False
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    return a[i + 1 :] == b[i + 1 :] if len(a) == len(b) else a[i:] == b[i + 1 :]


# entity_map_driver's peak RSS rise per name (its delete-1 keys: 1,756 B at
# 20k random 4-12 letter names) and per candidate pair (113 B at 325k pairs)
_NAME_BYTES = 2048
_PAIR_BYTES = 128


def entity_map_driver(spark: SparkSession, names: list[str], n_docs: list[int]) -> list[tuple] | None:
    """Driver twin of the distributed entity canonicalization — the SAME
    delete-1 neighbourhood blocks as linking.fuzzy_candidate_edges (the name
    plus every one-character deletion), the same src < dst, levenshtein <= 1
    verify, and the SAME union-find the distributed CC's own fast path uses
    (lexicographic-min component ids). Returns (name, canonical, n_docs,
    bucket 0) rows, or None when the candidate pairs Σ C(block size, 2) do
    not fit the driver budget → the caller distributes."""
    from ..operators.components import _driver_union_find

    rows = sorted(zip(names, n_docs))
    blocks: dict[str, list[str]] = {}
    for n, _ in rows:  # sorted, so every block's members ascend: a < b below
        for key in {n, *(n[:i] + n[i + 1 :] for i in range(len(n)))}:
            blocks.setdefault(key, []).append(n)
    n_pairs = sum(len(b) * (len(b) - 1) // 2 for b in blocks.values())
    if not driver_fits(spark, n_pairs * _PAIR_BYTES):
        return None
    edges = {
        (a, b)
        for members in blocks.values()
        for i, a in enumerate(members)
        for b in members[i + 1 :]
        if _within_one_edit(a, b)
    }
    mapping = _driver_union_find(edges)
    return [(n, mapping.get(n, n), c, 0) for n, c in rows]


# the distributed branch's df.schema: count(*) is the one non-nullable column
# (the manifest pins the schema JSON across commits)
_ENTITY_MAP_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("canonical", T.StringType()),
        T.StructField("n_docs", T.LongType(), nullable=False),
        T.StructField(BUCKET_COL, T.IntegerType()),
    ]
)


def build_entity_map(spark: SparkSession, cat: Catalog, enriched: DataFrame) -> DataFrame:
    """Canonicalize ENTITIES: candidate links by string similarity within
    delete-1 neighbourhood blocks → connected components → canonical id =
    lexicographic min member (north_star: 'scores candidate entity links ...
    canonicalizes entities via connected-components over a similarity edge
    list').

    Like build_topic_map, the entity vocabulary is driver-sized at corpus
    scale, so when ``enriched`` passes the driver vocabulary read's guards
    and the distinct names and their candidate pairs fit
    ``session.driver_fits``, the whole stage runs on the DRIVER
    (entity_map_driver + a local commit, zero Spark jobs); otherwise the
    distributed blocked join → CC plan below runs.

    Kept separate from the triple set: MENTIONS triples carry the surface form
    (matching the reference fixture semantics); the entity_map table provides
    the canonical id per surface form plus its corpus frequency for downstream
    graph consolidation."""
    stage = f"entity_link fp={frame_lineage(enriched)}"
    if not cat.reuse("entity_map", stage):
        rows = None
        texts = _vocab_texts_driver(enriched, "entities")
        if texts is not None:
            counts = texts.value_counts()
            if driver_fits(spark, len(counts) * _NAME_BYTES):
                rows = entity_map_driver(
                    spark, counts.field("values").to_pylist(), counts.field("counts").to_pylist()
                )
        if rows is not None:
            # one bucket by the pmod(xxhash,1)=0 rule with_bucket applies
            cat.commit_partitions_local(rows, _ENTITY_MAP_SCHEMA, "entity_map", stage=stage)
            return cat.read(spark, "entity_map")
        from ..operators.linking import fuzzy_candidate_edges

        ents = (
            enriched.select(F.explode("entities").alias("e"))
            .select(F.lower(F.trim(F.col("e.text"))).alias("name"))
            .where(F.col("name") != "")
            .groupBy("name")
            .agg(F.count("*").alias("n_docs"))
            .localCheckpoint(eager=True)  # reused by edges + join-back
        )
        edges = fuzzy_candidate_edges(ents, "name")
        comps = connected_components(edges)
        mapped = (
            ents.join(comps, ents["name"] == comps["node"], "left")
            .select(
                "name",
                F.coalesce(F.col("component"), F.col("name")).alias("canonical"),
                "n_docs",
            )
        )
        cat.commit_partitions(with_bucket(mapped, "name", 1), "entity_map", stage=stage)
    return cat.read(spark, "entity_map")


def ensure_enriched(spark: SparkSession, sf_dir: str, out_root: str) -> DataFrame:
    """Materialize (or read back) just the enriched stage — the search layer's
    input table (PR_META_VECTOR_IDX analog) without the canonicalization stages."""
    return build_enriched(spark, sf_dir, Catalog(out_root))


# --------------------------------------------------------------------- driver
def run_pipeline(
    spark: SparkSession, sf_dir: str, out_root: str, n_buckets: int = N_BUCKETS
) -> Catalog:
    cat = Catalog(out_root)
    enriched = build_enriched(spark, sf_dir, cat, n_buckets)
    topic_map = build_topic_map(spark, cat, enriched)
    build_entity_map(spark, cat, enriched)
    triples = build_triples(spark, cat, enriched, topic_map, n_buckets)
    build_graph(spark, cat, enriched, triples)
    return cat
