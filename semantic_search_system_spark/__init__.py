"""semantic_search_system_spark — a from-scratch, PySpark-native reimplementation of the
capabilities of ``sagar8080/semantic-search-system`` (reference at /root/reference, read-only).

The reference is a single-node document pipeline: web-scraped press releases →
OpenSearch indexes → LLM entity/topic/summary extraction → Titan embeddings →
phrase clustering → Neo4j knowledge graph → five hybrid search strategies
(see SURVEY.md for the full structural analysis).

This package re-expresses the same capabilities as staged, declarative Spark
DataFrame transforms designed for a multi-executor cluster at very large scale:

- ``fixtures``   — deterministic synthetic interleaved text+media document corpus
                   (the Iceberg-style input table) + golden triple oracle.
- ``functions``  — native column expressions (text cleaning, vector math, score
                   fusion); no Python on the hot path.
- ``operators``  — the domain operators: Arrow-vectorized extraction/embedding
                   UDFs, blocked similarity join, connected components,
                   dedup family (exact/minhash/simhash/jaccard), ANN search.
- ``plans``      — end-to-end pipelines: ingest → extract → embed → link →
                   canonicalize → graph materialize; the 5 search strategies.
- ``catalog``    — Iceberg-style partitioned-parquet tables with snapshot
                   manifests, per-partition lineage/metrics, and idempotent
                   checkpoint-resume.
"""

__version__ = "0.1.0"
