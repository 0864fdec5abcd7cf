"""Cluster entry point: run the KG-construction pipeline via spark-submit.

The north rule's deployment contract is `spark-submit --py-files` on a
multi-executor cluster; this script is that driver program. The engine package
arrives through --py-files (a zip built by scripts/make_pyfiles_zip.py), NOT
from the repo checkout — exactly as on a real cluster:

    spark-submit --master <cluster> --py-files build/sss_spark.zip \
        scripts/submit_pipeline.py --sf-dir /root/testdata/sf0.001 \
        --out-root /data/kg_out

Prints one JSON line with triple count, per-stage partition metrics and the
driver budget the stages' driver-or-Spark choices used (a share of the heap
spark-submit gave the driver).
Re-submitting with the same --out-root resumes from the Catalog checkpoints
(idempotent; completed partitions are never recomputed).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out-root", required=True)
    ap.add_argument("--n-buckets", type=int, default=8)
    args = ap.parse_args()

    # imports resolve from --py-files; master/memory come from spark-submit
    from semantic_search_system_spark.plans.pipeline import run_pipeline
    from semantic_search_system_spark.session import driver_budget, get_spark

    spark = get_spark("kg-construct-submit", master=None)
    cat = run_pipeline(spark, args.sf_dir, args.out_root, n_buckets=args.n_buckets)
    triples = cat.read(spark, "triples")
    n = triples.count()
    stage_rows = {
        t: sum(m["rows_written"] for m in cat.metrics(t))
        for t in ("enriched", "topic_map", "entity_map", "triples", "nodes", "edges")
    }
    print(json.dumps({
        "triples": n, "rows_written": stage_rows, "out_root": args.out_root,
        "driver_budget": driver_budget(spark),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
