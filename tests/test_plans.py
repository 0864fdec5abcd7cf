"""Physical-plan assertions: the properties that matter at 100 TB must be
visible in the plan, not assumed — filter/projection pushdown to the parquet
scan, broadcast joins for vocabulary-sized dims, TakeOrderedAndProject for
top-k, no partition-less window anywhere on the search path."""

from pyspark.sql import functions as F

from semantic_search_system_spark import entrypoints as ep
from semantic_search_system_spark.operators.components import connected_components

from conftest import SF_MED, SF_SMALL


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_projection_pushdown(spark):
    plan = _plan(ep.registry()["graph_topics_list"](spark, SF_MED))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "EqualTo(kind,BroadTopic)" in pushed
    # column pruning: the nodes scan reads only the filter and output columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0].strip()
    assert read_schema == "struct<kind:string,name:string>"  # no url/title/media_refs


def test_star_join_broadcasts_dims(spark):
    """SURVEY J1: RELATES_TO_DOC joins the doc-scale topic stream to the
    vocabulary-sized topic_map by broadcasting the mapping side."""
    from semantic_search_system_spark.plans.pipeline import relates_triples, run_pipeline

    cat = run_pipeline(spark, SF_MED, ep.out_root(SF_MED))
    plan = _plan(relates_triples(cat.read(spark, "enriched"), cat.read(spark, "topic_map")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(ep.registry()["knn_cosine_top10"](spark, SF_MED))
    assert "TakeOrderedAndProject" in plan


def test_search_path_has_no_global_window(spark):
    for name in ("search_pro", "search_kb", "search_advanced", "search_pro_enhanced"):
        plan = _plan(ep.registry()[name](spark, SF_MED))
        assert "Window" not in plan, name  # global windows single-partition at scale


def test_cosine_udf_matches_hof(spark):
    """The Arrow-vectorized cosine (numpy matmul per batch) and the JVM HOF
    chain (sequential zip_with/aggregate fold) are BIT-IDENTICAL after the
    6-dp rounding fixpoint on every corpus row — the contract that lets the
    hot paths use the ~8× faster form while the DuckDB oracle keeps replaying
    the sequential-fold formula."""
    from semantic_search_system_spark.functions.vectors import (
        cosine_sim,
        cosine_to_const_udf,
    )
    from semantic_search_system_spark.plans import search as S
    from semantic_search_system_spark.plans.pipeline import ensure_enriched

    enr = ensure_enriched(spark, SF_SMALL, ep.out_root(SF_SMALL))
    _, qvec = S._params(S.QUERY_TEXT)
    emb = F.col("embedding").cast("array<double>")
    qv = F.array(*[F.lit(float(x)) for x in qvec])
    hof = F.round(cosine_sim(emb, qv), 6)
    vec = cosine_to_const_udf(qvec)(emb)
    n_diff, n_null = enr.select(
        F.sum((hof != vec).cast("int")).alias("d"),
        F.sum(vec.isNull().cast("int")).alias("n"),
    ).first()
    assert (n_diff or 0) == 0 and (n_null or 0) == 0


def test_cosine_udf_degrades_on_null_and_ragged_rows(spark):
    """A NULL or wrong-dimension embedding must score 0.0, not crash the whole
    Arrow batch (np.stack over a ragged batch throws) — the HOF form the UDF
    replaced degraded per ROW, so every exact search strategy must keep
    working on a corpus with a few malformed rows."""
    from semantic_search_system_spark.functions.vectors import cosine_to_const_udf
    from semantic_search_system_spark.session import local_df

    d = local_df(
        spark,
        [("a", [1.0, 0.0]), ("b", None), ("c", [1.0, 0.0, 3.0]), ("d", [0.0, 0.0])],
        "doc_id string, embedding array<double>",
    )
    rows = {
        r["doc_id"]: r["sim"]
        for r in d.select(
            "doc_id", cosine_to_const_udf([1.0, 0.0])(F.col("embedding")).alias("sim")
        ).collect()
    }
    assert rows == {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0}


def test_extraction_twin_plan_shape(spark):
    plan = _plan(ep.registry()["top5_entities_per_doc"](spark, SF_MED))
    # map-side partial aggregation before the shuffle (A1 at scale)
    assert "partial_count" in plan
    # rank-limit pushdown: top-5 filtered BEFORE the shuffle, not after
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_cc_distributed_equals_driver(spark):
    """The distributed pointer-jumping path and the driver union-find fast path
    compute identical components on the same (non-trivial) graph."""
    import random

    rng = random.Random(42)
    edges = [(f"n{rng.randrange(400):03d}", f"n{rng.randrange(400):03d}") for _ in range(300)]
    edf = spark.createDataFrame(edges, "src string, dst string")
    drv = {r["node"]: r["component"] for r in connected_components(edf, strategy="driver").collect()}
    dist = {r["node"]: r["component"] for r in connected_components(edf, strategy="distributed").collect()}
    assert drv == dist and len(drv) > 100


def test_cc_pointer_jumping_converges_logarithmically(spark):
    """A 256-node chain converges in O(log n) propagation rounds thanks to
    pointer jumping — plain min-label propagation would need 256 rounds
    (max_iter=14 would fail without it)."""
    n = 256
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n)], "src string, dst string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, strategy="distributed", max_iter=14).collect()
    }
    assert set(got.values()) == {"n0000"}
    assert len(got) == n + 1


def test_dedup_family_never_cartesian(spark):
    """Every dedup/similarity operator must pair candidates through a
    band/block equi-join — an all-pairs CartesianProduct in any of these
    plans is a 100-TB outage, not a slowdown."""
    for name in ("minhash_lsh_dedup", "ngram_jaccard_pairs", "simhash_near_dups",
                 "embedding_near_dup", "incremental_minhash_dedup",
                 "epoch_admission"):
        plan = _plan(ep.registry()[name](spark, SF_MED))
        assert "CartesianProduct" not in plan, name


def test_incremental_dedup_reads_signature_store(spark):
    """The incremental path's history signatures must come from the
    materialized minhash_sigs scan — if the store ever fell out of the plan
    the operator would silently degrade to re-hashing the full corpus per
    epoch (correct output, 100-TB regression). Built with checkpoint=False
    so the eager localCheckpoints don't truncate the visible lineage."""
    import os

    from semantic_search_system_spark.catalog import Catalog, file_lineage
    from semantic_search_system_spark.operators.dedup import (
        incremental_minhash_near_dups,
    )

    corpus = ep._dup_corpus(spark, SF_MED)
    cat = Catalog(ep.out_root(SF_MED))
    # the registry's fingerprint: this ensure targets the shared registry
    # store, and a different stage string would rebuild it
    ep.ensure_minhash_store(
        spark, cat, corpus, file_lineage(os.path.join(SF_MED, "documents.parquet"))
    )
    old_sigs = cat.read(spark, ep.MINHASH_STORE_TABLE).select("doc_id", "minhash")
    df = incremental_minhash_near_dups(
        corpus, ep._incr_is_new(F.col("doc_id")), old_sigs, checkpoint=False
    )
    plan = _plan(df)
    assert "minhash_sigs" in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_scans_only_probed_partitions(spark, tmp_root):
    """The indexed ANN probe must read only the n_probe matching
    bucket=<centroid> directories (partition pruning at the file level)."""
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.operators.similarity import build_ivf_index

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cat = Catalog(tmp_root)
    build_ivf_index(spark, e, cat, "emb-v1", n_centroids=8, n_iter=2)
    n_total = cat.read(spark, "ivf_assign").count()
    hits = cat.read_buckets(
        spark, "ivf_assign", sorted(cat.read(spark, "ivf_assign")
                                    .select("centroid_id").distinct()
                                    .toPandas()["centroid_id"])[:2]
    )
    assert hits.select("centroid_id").distinct().count() == 2
    assert hits.count() < n_total  # strictly fewer rows than a full scan
    plan = _plan(hits)
    # the scan's file index must contain exactly the probed bucket dirs
    assert "bucket=" in plan


def test_search_plans_have_no_global_window(spark):
    """Regression armor for the search scale design: no strategy may compile
    to a partition-less WindowExec (single-task sort of the corpus) — top-k
    selection must stay TakeOrderedAndProject + broadcast join-back."""
    from semantic_search_system_spark.plans import search as S
    from semantic_search_system_spark.plans.pipeline import ensure_enriched

    import semantic_search_system_spark.entrypoints as ep

    enr = ensure_enriched(spark, SF_SMALL, ep.out_root(SF_SMALL))
    for fn in (S.simple_search, S.advanced_search, S.pro_search,
               S.pro_search_enhanced, S.search_kb):
        plan = fn(enr)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, f"{fn.__name__} compiled a WindowExec"
        assert "TakeOrderedAndProject" in plan, fn.__name__


def test_cooccurrence_plan_has_no_join(spark):
    """entity_cooccurrence's scale contract: pairs come from a per-row array
    HOF, NOT a self-join — the exploded (doc, entity) relation must never be
    shuffled into a join (at 10^12 docs a self-join would shuffle the 5N-row
    exploded table twice); the only exchange is the map-side-combinable pair
    count, and the top-100 compiles to TakeOrderedAndProject."""
    df = ep.registry()["entity_cooccurrence"](spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan, node
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "TakeOrderedAndProject" in plan
    assert df.count() == 100


def test_served_expansion_matches_derived(spark):
    """The materialized entity-frequency statistic must yield BIT-IDENTICAL
    expansion terms to the in-plan corpus derivation (the DuckDB oracle keeps
    deriving them from docs, so any divergence would hash-fail
    search_pro_enhanced_ann): exclusion consumes at most |terms| of the K
    materialized rows, and the (n desc, term asc) order is total."""
    from semantic_search_system_spark import catalog
    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.plans import search as S
    from semantic_search_system_spark.plans.pipeline import ensure_enriched

    enr = ensure_enriched(spark, SF_MED, ep.out_root(SF_MED))
    cat = Catalog(ep.out_root(SF_MED))
    S.ensure_entity_freq(spark, cat, enr)
    for qt in (S.QUERY_TEXT, "filter stream graph", "zzz unseen terms"):
        terms, _ = S._params(qt)
        derived = [r["term"] for r in S._expansion_terms(enr, terms).collect()]
        assert S._expansion_terms_served(cat, terms) == derived, qt
    # lookups are memoized (no parquet re-read per query): the shared memo
    # holds the statistic under its current lineage
    hit = catalog._ARROW_MEMO[(cat.root, S.ENTITY_FREQ_TABLE)]
    assert hit[0] == cat.lineage(S.ENTITY_FREQ_TABLE)


def test_entity_freq_auto_rebuild_on_lineage_change(spark, tmp_root):
    """A recommitted corpus must auto-REBUILD the entity-frequency statistic
    (round-6 VERDICT stretch: the table is K rows at any corpus scale, so a
    rebuild beats an operator page), and NULL entity terms are excluded so
    the served sort never sees None (round-6 ADVICE)."""
    from semantic_search_system_spark.catalog import Catalog, with_bucket
    from semantic_search_system_spark.plans import search as S

    cat = Catalog(tmp_root)
    ddl = "doc_id string, entities array<struct<text:string,label:string>>"

    def commit(rows):
        df = with_bucket(spark.createDataFrame(rows, ddl), "doc_id", 1)
        cat.overwrite(df, "enriched", stage="enrich")
        return cat.read(spark, "enriched")

    enr = commit(
        [("1", [("alpha", "ENTITY")]), ("2", [("alpha", "ENTITY"), ("beta", "ENTITY")])]
    )
    S.ensure_entity_freq(spark, cat, enr)
    assert S._expansion_terms_served(cat, ["zzz"]) == ["alpha", "beta"]
    # recommit the corpus with different entities (+ a malformed NULL term):
    # the next ensure must rebuild, not raise, and must drop the NULL
    enr = commit(
        [("1", [("gamma", "ENTITY"), (None, "ENTITY")]), ("2", [("gamma", "ENTITY")])]
    )
    S.ensure_entity_freq(spark, cat, enr)
    assert S._expansion_terms_served(cat, ["zzz"]) == ["gamma"]


def test_ann_search_plan_prunes_cosine_and_buckets(spark):
    """The hit-source seam's scale contract, per strategy. The served (_ann)
    plans: the full-corpus enriched scan carries NO per-row cosine, every
    vector dot product sits on the bucket-pruned doc_ivf_assign scans, and
    no partition-less window appears. The exact plans: the cosine UDF runs
    in exactly ONE pass over the enriched scan (the exact hit source), never
    a second time on the fusion side."""
    import re
    from functools import partial

    from pyspark.sql import functions as F

    from semantic_search_system_spark.catalog import Catalog
    from semantic_search_system_spark.operators.similarity import brute_force_topk
    from semantic_search_system_spark.plans import search as S
    from semantic_search_system_spark.plans.pipeline import ensure_enriched

    import semantic_search_system_spark.entrypoints as ep

    enr = ensure_enriched(spark, SF_SMALL, ep.out_root(SF_SMALL))
    cat = Catalog(ep.out_root(SF_SMALL))
    n_centroids, n_probe = S.ensure_doc_ivf(spark, cat, enr)
    assert n_probe < n_centroids  # the probe must actually prune buckets
    terms, qvec = S._params(S.QUERY_TEXT)
    exact = partial(brute_force_topk, enr, id_col="doc_id")
    served = partial(S._doc_ivf_hits, spark, cat, enr)

    def arrow_nodes(plan):
        return [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]

    # the un-materialized candidate plans of pro / pro_enhanced / kb (the
    # shipped path checkpoints them before fusion — see below), and the
    # advanced plans, which have no fusion. Expected ArrowEvalPython nodes:
    # exact ONE (the hit source over the enriched scan), served ZERO (the
    # probe cosine is the JVM HOF on the index, and the rerank cosine of
    # pro_enhanced sits above the checkpoint, outside the candidate plan)
    plans = [
        (
            f"{name}[{src_name}]",
            S._candidates(enr, terms, S.FUZZINESS, src(qvec, semantic_k), carry),
            n_arrow,
        )
        for name, semantic_k, carry in (
            ("pro", 50, ()),
            ("pro_enhanced", 50, ("content", "embedding")),
            ("kb", 10, ()),
        )
        for src_name, src, n_arrow in (("exact", exact, 1), ("served", served, 0))
    ] + [
        ("advanced[exact]", S.advanced_search(enr), 1),
        ("advanced[served]", S.advanced_search_ann(spark, cat, enr), 0),
    ]
    for name, df, n_arrow in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, name
        assert len(arrow_nodes(plan)) == n_arrow, (name, arrow_nodes(plan))
        if n_arrow:
            # the one UDF pass reads the enriched scan: no index in the plan
            assert "enriched" in plan and "doc_ivf_assign" not in plan, name
            continue
        # bucket-pruned probe: only n_probe of the doc_ivf_assign bucket dirs
        buckets = set(re.findall(r"doc_ivf_assign/bucket=\d+", plan))
        assert 0 < len(buckets) <= n_probe, (name, buckets)
        # the cosine HOF (zip_with) appears only on lines that project the
        # probed index's _v column — never on the enriched-table corpus scan
        for line in plan.splitlines():
            if "zip_with" in line.lower():
                assert "_v#" in line, (
                    f"{name}: cosine computed outside the index probe: {line[:160]}"
                )
    # pro_enhanced_ann's expansion is SERVED from the materialized
    # entity_freq_topk statistic — no explode+aggregate over the corpus per
    # query (Generate = Spark's explode node); its one Python UDF is the
    # rerank cosine applied ABOVE the k*5 window
    plan = S.pro_search_enhanced_ann(spark, cat, enr)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and len(arrow_nodes(plan)) == 1
    # the SHIPPED path materializes candidates once: the final plan reads the
    # checkpointed candidate rows (no parquet scan of the corpus above the
    # stats diamond — round 8: the diamond used to re-execute the whole
    # lineage, two enriched scans + two index probes per query), and it
    # returns the rows of fusing the un-checkpointed candidates
    for shipped, src in ((S.pro_search_ann(spark, cat, enr), served), (S.pro_search(enr), exact)):
        plan_ck = shipped._jdf.queryExecution().executedPlan().toString()
        assert "enriched" not in plan_ck, "corpus rescan above the candidate ckpt"
        assert "doc_ivf_assign" not in plan_ck, "probe re-executed above the ckpt"
        fused = (
            S._fuse(S._candidates(enr, terms, S.FUZZINESS, src(qvec, 50)))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(S.K)
        )
        rows = shipped.collect()
        assert 0 < len(rows) <= S.K
        assert rows == fused.collect()


def test_entity_freq_per_source_tables_do_not_thrash(spark, tmp_root):
    """Two serving paths pointing one out_root at DIFFERENT sources
    ('enriched' vs 'enriched_stream') must not alternate rebuilds of a
    shared statistic — each source gets its own K-row table with its own
    lineage, and ensuring one leaves the other's manifest untouched."""
    from semantic_search_system_spark.catalog import Catalog, with_bucket
    from semantic_search_system_spark.plans import search as S

    cat = Catalog(tmp_root)
    ddl = "doc_id string, entities array<struct<text:string,label:string>>"

    def commit(table, rows):
        df = with_bucket(spark.createDataFrame(rows, ddl), "doc_id", 1)
        cat.overwrite(df, table, stage="enrich")
        return cat.read(spark, table)

    enr = commit("enriched", [("1", [("alpha", "ENTITY")])])
    stream = commit("enriched_stream", [("2", [("beta", "ENTITY")])])

    S.ensure_entity_freq(spark, cat, enr, source_table="enriched")
    snap = cat.manifest(S.ENTITY_FREQ_TABLE)["partitions"]["0"]["snapshot_id"]

    # alternate sources repeatedly: distinct tables, zero rebuilds of either
    for _ in range(2):
        S.ensure_entity_freq(spark, cat, stream, source_table="enriched_stream")
        S.ensure_entity_freq(spark, cat, enr, source_table="enriched")
    assert cat.manifest(S.ENTITY_FREQ_TABLE)["partitions"]["0"]["snapshot_id"] == snap
    stream_tbl = S._entity_freq_table("enriched_stream")
    assert stream_tbl != S.ENTITY_FREQ_TABLE and cat.exists(stream_tbl)
    assert S._expansion_terms_served(cat, ["zzz"]) == ["alpha"]
    assert S._expansion_terms_served(cat, ["zzz"], table=stream_tbl) == ["beta"]


def test_enrich_body_evaluates_udf_once(spark):
    """The fused enrich UDF runs ONCE per consumer of the shared enrich body
    (plans.pipeline.enrich_docs): in the enriched projection the batch stage
    and enrich_stream commit, and in the mention_topic_triples explode that
    triples_stream runs over it. A filter or explode that Spark infers over
    an un-materialized UDF output could otherwise evaluate the UDF twice (two
    ArrowEvalPython nodes)."""
    from semantic_search_system_spark.catalog import with_bucket
    from semantic_search_system_spark.plans import pipeline as P

    docs = with_bucket(P.read_interleaved(spark, SF_SMALL), "doc_id", P.N_BUCKETS)
    enriched = P.enrich_docs(docs)
    for name, df in (("enriched", enriched), ("triples", P.mention_topic_triples(enriched))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
        assert len(nodes) == 1, (name, plan)


def test_quarantine_frame_has_no_shuffle(spark):
    """The Spark branch of build_enriched builds its quarantine frame from
    the scan before the conditional repartition: committing failed_rows
    costs a filtered scan, not a corpus-wide shuffle. Only the UDF frame is
    repartitioned, and only when the source yields fewer splits than cores."""
    from semantic_search_system_spark.catalog import with_bucket
    from semantic_search_system_spark.plans import pipeline as P

    docs = with_bucket(P.read_interleaved(spark, SF_SMALL), "doc_id", P.N_BUCKETS)
    bad, enriched = P._enrich_frames(spark, docs)
    bad_plan, enriched_plan = (
        df._jdf.queryExecution().executedPlan().toString() for df in (bad, enriched)
    )
    assert "Exchange" not in bad_plan, bad_plan
    under_split = docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert ("Exchange hashpartitioning(doc_id" in enriched_plan) == under_split, enriched_plan
