"""The end-to-end knowledge-graph construction pipeline.

Reference flow reproduced (SURVEY.md §3.1/§3.3): ingest → NLP enrichment
(entities/topics/summary/embedding) → phrase canonicalization → triple set →
node/edge graph tables. The reference does this as sequential per-document
network calls (pr_aws_nlp.py:230-277) plus one Neo4j transaction per
(topic, doc) pair (knowledge_graph.py:176); here every stage is one declarative
DataFrame transform, checkpointed per partition through the Catalog so a killed
run resumes without recomputing completed buckets.

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

from .. import spec
from ..catalog import BUCKET_COL, Catalog, with_bucket
from ..fixtures.interleave import interleaved_path
from ..operators.components import connected_components
from ..operators.embedding import embed_udf
from ..operators.enrichment import enrich_content
from ..operators.extraction import assemble_content
from ..operators.linking import candidate_edges

N_BUCKETS = 8


def read_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(interleaved_path(sf_dir))


# --------------------------------------------------------------------- stage 1
def build_enriched(spark: SparkSession, sf_dir: str, cat: Catalog, n_buckets: int = N_BUCKETS) -> DataFrame:
    pending = cat.pending_buckets("enriched", n_buckets)
    if pending:
        docs = with_bucket(read_interleaved(spark, sf_dir), "doc_id", n_buckets)
        docs = docs.where(F.col(BUCKET_COL).isin(pending))
        # the scan is splittable (small row groups); only force a shuffle when
        # the source yields fewer splits than cores, or the Arrow-UDF stages
        # would run under-parallel (at cluster scale: repartitionByRange on
        # doc_id per the ingest spec)
        par = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par, "doc_id")
        # §2.11 quarantine: docs with no usable text span go to the permanent
        # failed_rows table (the pr_aws_nlp.py:296-310 failure-list analog) —
        # committed per-bucket like every stage, so the resume sweep re-checks
        # only pending buckets and never re-quarantines completed ones
        from ..operators.extraction import has_usable_text

        usable = has_usable_text("spans")
        bad = docs.where(~usable).select(
            BUCKET_COL,
            "doc_id",
            F.lit("enrich").alias("stage"),
            F.lit("no_text_spans").alias("reason"),
        )
        cat.commit_partitions(bad, "failed_rows", stage="quarantine")
        # clean=False: the fused UDF cleans batch-wise via Arrow RE2 (the JVM
        # regexp pair was the enrich stage's most expensive expression)
        enriched = enrich_content(assemble_content(docs.where(usable), clean=False))
        enriched = enriched.select(
            BUCKET_COL, "doc_id", "url", "title", "doc_date", "content", "summary",
            "entities", "topics", "embedding", "media_refs",
        )
        cat.commit_partitions(enriched, "enriched", stage="enrich")
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
    out = [
        _label_components(
            pd.DataFrame({"phrase_norm": g, "vec": [vec_of[p] for p in g]})
        )
        for g in groups.values()
    ]
    return pd.concat(out, ignore_index=True)


DRIVER_VOCAB_LIMIT = 100_000
# byte gate for the driver-side vocabulary scan below: a column-pruned local
# pyarrow read of `topics` / `entities` is ~30x faster than a 3-stage Spark
# explode+distinct at benchmark scale, but it reads on ONE machine — so it is
# allowed only when the MEASURED source bytes are driver-trivial; past the
# gate the distributed distinct (whose cost is what a real cluster would pay)
# takes over
DRIVER_VOCAB_SCAN_BYTES = int(
    os.environ.get("SPARK_GRAFT_DRIVER_VOCAB_SCAN_BYTES", str(256 * 1024 * 1024))
)


def _vocab_texts_driver(enriched: DataFrame, column: str):
    """The lower/trimmed, non-null, non-empty ``text`` fields of the
    struct-array ``column`` (``topics`` or ``entities``) as one pyarrow
    array, via a column-pruned DRIVER read (zero Spark jobs) — only when
    ``enriched`` is a BARE parquet relation (no filters/projections that a
    local re-read would silently ignore) whose files all exist and total
    under ``DRIVER_VOCAB_SCAN_BYTES``. Returns None whenever any guard fails
    → the caller runs its distributed plan. Semantics match the Spark
    branches exactly: explode → lower → trim(' ') → drop null/empty.
    pyarrow ``utf8_lower`` differs from Spark ``lower`` only on non-ASCII
    ('İ', final 'Σ'), which the enrichment cleaner strips first."""
    try:
        plan = enriched._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        files = enriched.inputFiles()
    except Exception:  # noqa: BLE001 — any introspection failure → fallback
        return None
    if not files:
        return None
    paths = [f[5:] if f.startswith("file:") else f for f in files]
    if any(not os.path.exists(p) for p in paths):
        return None
    if sum(os.path.getsize(p) for p in paths) > DRIVER_VOCAB_SCAN_BYTES:
        return None
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    tb = pads.dataset(paths, format="parquet").to_table(columns=[column])
    texts = pc.struct_field(pc.list_flatten(tb[column].combine_chunks()), "text")
    texts = pc.utf8_trim(pc.utf8_lower(texts.drop_null()), characters=" ")
    return texts.filter(pc.not_equal(texts, ""))


def build_topic_map(
    spark: SparkSession, cat: Catalog, enriched: DataFrame,
    driver_vocab_limit: int = DRIVER_VOCAB_LIMIT,
) -> DataFrame:
    """Canonicalize topic phrases: embed → blocked similarity join → connected
    components → centroid labels. The topic_mapping.json analog.

    The phrase vocabulary grows sub-linearly with the corpus (it is a function
    of the language), so the whole stage runs on the DRIVER when the distinct
    phrase count is under ``driver_vocab_limit`` (one distinct-collect + one
    commit); the distributed plan below remains the fallback for
    beyond-vocabulary scales."""
    if not cat.exists("topic_map"):
        texts = _vocab_texts_driver(enriched, "topics")
        vocab = None if texts is None else texts.unique().to_pylist()
        if vocab is not None and len(vocab) > driver_vocab_limit:
            vocab = None  # beyond the driver canonicalization bound — distribute
        if vocab is None:
            distinct_phrases = (
                enriched.select(F.explode("topics").alias("t"))
                .select(F.lower(F.trim(F.col("t.text"))).alias("phrase_norm"))
                .where(F.col("phrase_norm") != "")
                .distinct()
            )
            head = distinct_phrases.limit(driver_vocab_limit + 1).collect()
            if len(head) <= driver_vocab_limit:
                vocab = [r["phrase_norm"] for r in head]
        if vocab is not None:
            pdf = topic_map_driver(vocab)
            # the table was computed ON the driver — commit it from the
            # driver (zero Spark jobs; round 8): one bucket by the same
            # pmod(xxhash,1)=0 rule with_bucket applies for n_buckets=1
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
                stage="canonicalize",
            )
            return cat.read(spark, "topic_map")
        else:
            phrases = distinct_phrases.withColumn(
                "embedding", embed_udf(F.col("phrase_norm"))
            )
            # cache across the edges + labeling + join uses
            phrases = phrases.localCheckpoint(eager=True)
            edges = candidate_edges(phrases, "phrase_norm", "embedding")
            comps = connected_components(edges)  # (node, component) — only non-isolated
            labeled = (
                phrases.join(comps, phrases["phrase_norm"] == comps["node"], "left")
                .withColumn(
                    "component", F.coalesce(F.col("component"), F.col("phrase_norm"))
                )
                .select("phrase_norm", "component", F.col("embedding").alias("vec"))
                .groupBy("component")
                .applyInPandas(
                    _label_components, schema="phrase_norm string, broad_topic string"
                )
            )
        cat.commit_partitions(
            with_bucket(labeled, "phrase_norm", 1), "topic_map", stage="canonicalize"
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
    branch is shared by the batch stage and the incremental stream
    (streaming/incremental.triples_stream)."""
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


def build_triples(
    spark: SparkSession, cat: Catalog, enriched: DataFrame, topic_map: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    pending = cat.pending_buckets("triples", n_buckets)
    if pending:
        part = enriched.where(F.col(BUCKET_COL).isin(pending))
        triples = mention_topic_triples(part).unionByName(relates_triples(part, topic_map))
        cat.commit_partitions(triples, "triples", stage="triples")
    return cat.read(spark, "triples")


# --------------------------------------------------------------------- stage 4
def build_graph(
    spark: SparkSession, cat: Catalog, enriched: DataFrame, triples: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Materialize deduplicated node/edge tables (the Neo4j model of
    knowledge_graph.py:113-126 as two columnar tables; SURVEY.md §1.2).

    Nodes and edges are gated INDEPENDENTLY: a run killed between the two
    commits must still write edges on resume (a single shared gate would skip
    the stage forever and leave cat.read('edges') permanently broken).

    The two commits run CONCURRENTLY (two driver threads submitting to the
    same scheduler — disjoint tables, disjoint directories, disjoint
    manifests): each partitioned-parquet commit carries an O(partitions)
    fixed floor that doesn't shrink with cores (the graph stage measured
    1.92× at a 2.22× machine ceiling — round-5 VERDICT #4), so overlapping
    the two independent writes pays that floor once, not twice. On a real
    cluster the two jobs share executors exactly like any two concurrent
    stages."""

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
        cat.commit_partitions(with_bucket(nodes, "node_id", N_BUCKETS), "nodes", stage="graph")

    def _commit_edges() -> None:
        # the triples table is already unique on (subj, pred, obj) — a rename
        # projection, no dedup shuffle
        edges = triples.select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            F.col("pred").alias("rel"),
            F.lit(1.0).alias("weight"),
        )
        cat.commit_partitions(with_bucket(edges, "src", N_BUCKETS), "edges", stage="graph")

    jobs = []
    if not cat.exists("nodes"):
        jobs.append(_commit_nodes)
    if not cat.exists("edges"):
        jobs.append(_commit_edges)
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


def entity_map_driver(names: list[str], n_docs: list[int]) -> list[tuple] | None:
    """Driver twin of the distributed entity canonicalization — the SAME
    delete-1 neighbourhood blocks as linking.fuzzy_candidate_edges (the name
    plus every one-character deletion), the same src < dst, levenshtein <= 1
    verify, and the SAME union-find the distributed CC's own fast path uses
    (lexicographic-min component ids). Returns (name, canonical, n_docs,
    bucket 0) rows, or None when the candidate-pair count Σ C(block size, 2)
    exceeds ``components.DRIVER_EDGE_LIMIT`` → the caller distributes."""
    from ..operators import components

    rows = sorted(zip(names, n_docs))
    blocks: dict[str, list[str]] = {}
    for n, _ in rows:  # sorted, so every block's members ascend: a < b below
        for key in {n, *(n[:i] + n[i + 1 :] for i in range(len(n)))}:
            blocks.setdefault(key, []).append(n)
    if sum(len(b) * (len(b) - 1) // 2 for b in blocks.values()) > components.DRIVER_EDGE_LIMIT:
        return None
    edges = {
        (a, b)
        for members in blocks.values()
        for i, a in enumerate(members)
        for b in members[i + 1 :]
        if _within_one_edit(a, b)
    }
    mapping = components._driver_union_find(edges)
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
    scale, so when ``enriched`` passes the driver vocabulary read's guards,
    the distinct names number at most ``DRIVER_VOCAB_LIMIT`` and the
    candidate pairs at most ``components.DRIVER_EDGE_LIMIT``, the whole
    stage runs on the DRIVER (entity_map_driver + a local commit, zero Spark
    jobs); otherwise the distributed blocked join → CC plan below runs.

    Kept separate from the triple set: MENTIONS triples carry the surface form
    (matching the reference fixture semantics); the entity_map table provides
    the canonical id per surface form plus its corpus frequency for downstream
    graph consolidation."""
    if not cat.exists("entity_map"):
        rows = None
        texts = _vocab_texts_driver(enriched, "entities")
        if texts is not None:
            counts = texts.value_counts()
            if len(counts) <= DRIVER_VOCAB_LIMIT:
                rows = entity_map_driver(
                    counts.field("values").to_pylist(), counts.field("counts").to_pylist()
                )
        if rows is not None:
            # one bucket by the pmod(xxhash,1)=0 rule with_bucket applies
            cat.commit_partitions_local(rows, _ENTITY_MAP_SCHEMA, "entity_map", stage="entity_link")
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
        cat.commit_partitions(with_bucket(mapped, "name", 1), "entity_map", stage="entity_link")
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
