#!/usr/bin/env python
"""Resumable dedup pipeline job (spark-submit entry point).

Cluster usage (north_rule: ships via spark-submit --py-files):

    python jobs/make_pyfiles.py                      # builds dist/pkg.zip
    spark-submit --py-files dist/pkg.zip jobs/run_pipeline.py \\
        --input s3://bucket/webpages --workdir s3://bucket/dedup_work

Sandbox usage (local mode):

    python jobs/run_pipeline.py --input BENCH/data/webtext_12000.parquet \\
        --workdir /tmp/dedup_work [--stop-after s4_candidates]

The job runs ``pipeline.run_dedup`` with a stage hook that writes every
stage (s1_docs .. s6_clusters, see the pipeline module docstring) through
the SnapshotCatalog (per-partition lineage + metrics in manifest.jsonl);
re-running the job resumes from the latest snapshot of each completed stage
— kill it after stage N and restart: stages 1..N are read back, not
recomputed (tested in tests/test_resume.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main(argv: list[str] | None = None) -> None:
    from product_deduplication_spark.pipeline import STAGES

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet of (url[, warc_ts, html], text, lang)")
    ap.add_argument("--workdir", required=True, help="snapshot catalog root")
    ap.add_argument("--stop-after", choices=STAGES, default=None)
    ap.add_argument("--use-simhash", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from product_deduplication_spark.catalog import SnapshotCatalog
    from product_deduplication_spark.config import DedupConfig
    from product_deduplication_spark.pipeline import run_dedup
    from product_deduplication_spark.session import get_spark

    spark = get_spark(app_name="dedup-pipeline", master=args.master)
    cfg = DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    cat = SnapshotCatalog(spark, args.workdir)
    metrics = {
        "s1_docs": {"stage": "ingest"},
        "s2_features": {"num_hashes": cfg.num_hashes, "bands": cfg.lsh_bands, "k": cfg.shingle_k},
        "s4_candidates": {"bucket_cap": cfg.bucket_cap},
        "s5_verified": {"jaccard_threshold": cfg.jaccard_threshold},
    }
    t_start = time.time()

    def stage(name, compute):
        out = cat.get_or_compute(name, compute, metrics=metrics.get(name))
        if name == args.stop_after:
            print(json.dumps({"stopped_after": name, "sec": round(time.time() - t_start, 1)}))
            spark.stop()
            sys.exit(0)
        return out

    raw = spark.read.parquet(args.input)
    res = run_dedup(
        raw, cfg, use_simhash=args.use_simhash,
        validate_extraction="html" in raw.columns, stage=stage,
    )
    clusters = res.clusters
    n_docs = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    res.release()
    dt = time.time() - t_start
    print(
        json.dumps(
            {
                "docs": n_docs,
                "clusters": n_clusters,
                "sec": round(dt, 1),
                "docs_per_sec": round(n_docs / dt, 1),
                "workdir": args.workdir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
