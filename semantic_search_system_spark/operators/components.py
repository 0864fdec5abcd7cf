"""Connected components as iterative DataFrame min-label propagation with
pointer jumping, plus a driver-local fast path for vocabulary-sized graphs.

The reference canonicalizes phrases with in-memory complete-linkage clustering
(nlp/topic_modeling.py:31-36) — O(n²) rows in driver RAM. At 10^12-doc scale
the phrase/entity similarity graph must be clustered distributed; Spark has no
GraphFrames jar in this environment, so components are computed natively.

Distributed algorithm (strategy='distributed'):
    label(v) ← min(label(v), min over neighbors' labels)   (propagation)
    label(v) ← label(label(v))                             (pointer jumping)
iterated to fixpoint. Pointer jumping makes convergence O(log diameter) instead
of O(diameter) — a 1M-long chain converges in ~20 rounds, not 10^6. Every
iteration is bounded shuffles (edges ⋈ labels, groupBy-min with map-side
partial agg, labels ⋈ labels); lineage is truncated per iteration with
``localCheckpoint``. Convergence is detected with a one-scalar label-set hash
(no extra join). High-degree hub nodes skew the propagation join — AQE
skew-join splitting is on session-wide, and callers pre-salt hot keys
(linking.candidate_edges).

Small-graph fast path (strategy='auto', the default): the phrase vocabulary
grows sub-linearly with the corpus (it is a function of the language, not the
doc count), so when the edge list is under ``driver_edge_limit`` the component
computation runs as a driver-side union-find on the collected edge list — one
job instead of ~10, with identical (lexicographic-min) component ids. The
same ``_driver_union_find`` serves the pipeline's driver-side topic and
entity canonicalization (plans/pipeline.py), which skip this module's Spark
entry point altogether for driver-sized vocabularies; past their bounds
(``DRIVER_EDGE_LIMIT`` caps the entity stage's delete-1 candidate pairs) the
graph comes here and takes the distributed path when it is large.

Component id = lexicographic min node id on both paths, matching the golden
union-find (fixtures/golden.py) exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DRIVER_EDGE_LIMIT = 2_000_000


def _driver_union_find(pairs: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # path-compress everything, then remap every root to the true lexicographic
    # min of its member set (union-by-smaller-root already guarantees this)
    return {n: find(n) for n in list(parent)}


def _connected_components_distributed(sym: DataFrame, max_iter: int) -> DataFrame:
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sig: int | None = None
    for _ in range(max_iter):
        msgs = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("component")
        )
        prop = (
            msgs.union(labels.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: component ← label(component)
        ptr = labels.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        jumped = (
            prop.join(ptr, prop["component"] == ptr["p_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        # order-independent, overflow-free one-scalar signature of the label set
        # (ANSI mode: sum(xxhash64) can overflow long; XOR cannot)
        sig = jumped.select(
            F.bit_xor(F.xxhash64("node", "component")).alias("s")
        ).collect()[0]["s"]
        labels = jumped
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    strategy: str = "auto",
    driver_edge_limit: int = DRIVER_EDGE_LIMIT,
) -> DataFrame:
    """Returns (node string, component string). Edges are treated undirected;
    isolated nodes must appear as self-edges or be unioned by the caller."""
    spark = edges.sparkSession
    # materialize the edge list once — both the strategy probe and the
    # iteration/collect would otherwise re-execute the (expensive) upstream
    # similarity-join plan per action
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )

    if strategy == "auto":
        n_edges = e.limit(driver_edge_limit + 1).count()
        strategy = "driver" if n_edges <= driver_edge_limit else "distributed"

    if strategy == "driver":
        from ..session import local_df

        pairs = [(r["a"], r["b"]) for r in e.collect()]
        mapping = _driver_union_find(pairs)
        # local_df (pandas→Arrow local relation), NOT createDataFrame(list):
        # the pickled-RDD path makes every downstream broadcast/join consumer
        # round-trip through Python workers (~4-7 s per action on this host)
        return local_df(spark, sorted(mapping.items()), "node string, component string")

    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    return _connected_components_distributed(sym, max_iter)
