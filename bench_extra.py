#!/usr/bin/env python
"""Supplementary measurement harness for the optimization rounds (guide §1).

NOT part of the driver contract — bench.py is the frozen headline bench and
stays untouched. This file exists so optimizations can be attributed:

  python bench_extra.py plans <tagdir>     dump .explain("formatted") for every
                                           headline query into plans/<tagdir>/
  python bench_extra.py tj                 decompose tj_lsh_web + token_jaccard_lsh
                                           (features vs candidates vs verify)
  python bench_extra.py noop [name ...]    noop-sink isolated best-of-2 timings
                                           (guide §1.4) for the named queries

Per-stage dedup timings come from ``perfbench/run.py --trace 1``.

Sessions mirror bench.py exactly: local[$SPARK_GRAFT_CPUS], shuffle=32,
$SPARK_GRAFT_SF_DIR data. Every job is labeled (guide §1.5).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("BENCH_REPEATS", "2"))

# engine queries timed by the frozen bench (same list, same order)
HEADLINE = [
    "groupby_agg",
    "join_inner",
    "pareto_cumsum",
    "token_jaccard_lsh",
    "knn_cosine",
]


def _spark():
    from product_deduplication_spark.session import get_spark

    spark = get_spark(
        app_name="bench-extra", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8)
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best(fn) -> float:
    best = None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _bench_corpus(spark):
    import bench

    return spark.read.parquet(bench._ensure_bench_corpus())


def _tj_web_frames(spark):
    """Rebuild bench.py's tj_lsh_web dataframe (same expressions)."""
    from pyspark.sql import functions as F

    from product_deduplication_spark.plans.queries import token_jaccard_lsh_impl

    web = _bench_corpus(spark)
    wdocs = web.select(F.xxhash64("url").alias("doc_id"), "text")
    qmax = (
        wdocs.select("doc_id").orderBy("doc_id").limit(50).agg(F.max("doc_id")).collect()[0][0]
    )
    lsh_web = token_jaccard_lsh_impl(
        wdocs, lambda node: node <= F.lit(qmax), int(spark.conf.get("spark.sql.shuffle.partitions"))
    ).select("id_a", "id_b")
    return wdocs, qmax, lsh_web


def cmd_plans(tagdir: str, suffix: str = "") -> None:
    """Write .explain('formatted') for every headline query to plans/<tagdir>/."""
    from product_deduplication_spark.config import DedupConfig
    from product_deduplication_spark.pipeline import run_dedup
    from product_deduplication_spark.plans import queries as Q

    out_dir = os.path.join(_REPO, "plans", tagdir)
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()

    def dump(name: str, df) -> None:
        jvm = df.sparkSession._jvm
        plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}{suffix} ({len(plan)} bytes)")

    web = _bench_corpus(spark)
    cfg = DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    res = run_dedup(web, cfg)
    dump("dedup_pipeline", res.clusters)
    res.release()
    res = run_dedup(web, cfg, use_simhash=True)
    dump("dedup_pipeline_simhash", res.clusters)
    res.release()
    for name in HEADLINE:
        dump(name, Q.QUERIES[name](spark, SF_DIR))
    _, _, lsh_web = _tj_web_frames(spark)
    dump("tj_lsh_web", lsh_web)
    spark.stop()


def cmd_tj() -> None:
    """Decompose tj_lsh_web and token_jaccard_lsh into features/cand/verify."""
    from pyspark.sql import functions as F

    from product_deduplication_spark.config import DedupConfig
    from product_deduplication_spark.functions.features import with_features
    from product_deduplication_spark.operators.lsh import explode_bands
    from product_deduplication_spark.plans import queries as Q

    spark = _spark()
    sc = spark.sparkContext
    res: dict[str, float] = {}

    for label, docs, pred in (
        ("web", None, None),
        ("sf", None, None),
    ):
        if label == "web":
            wdocs, qmax, lsh_web = _tj_web_frames(spark)
            docs, pred = wdocs, (lambda node: node <= F.lit(qmax))
            full = lsh_web
        else:
            d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
            docs, pred = d, (lambda node: node < 50)
            full = Q.QUERIES["token_jaccard_lsh"](spark, SF_DIR)
        cfg = DedupConfig(
            shingle_mode="token",
            shingle_k=1,
            num_hashes=126,
            lsh_bands=63,
            jaccard_threshold=0.5,
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        feats = with_features(docs.select("doc_id", "text"), cfg, simhash=False).select(
            "doc_id", "bands"
        )
        sc.setJobDescription(f"tj[{label}]: features noop")
        res[f"{label}_features"] = _best(lambda: _noop(feats))
        bands = explode_bands(feats, cfg)
        probe = bands.where(pred(F.col("node"))).select(
            "band", "band_hash", F.col("node").alias("qid")
        )
        cand = (
            probe.join(bands, ["band", "band_hash"])
            .where(F.col("qid") != F.col("node"))
            .select(
                F.least("qid", "node").alias("src"), F.greatest("qid", "node").alias("dst")
            )
            .dropDuplicates(["src", "dst"])
        )
        sc.setJobDescription(f"tj[{label}]: candidates noop")
        res[f"{label}_candidates"] = _best(lambda: _noop(cand))
        sc.setJobDescription(f"tj[{label}]: full count")
        res[f"{label}_full"] = _best(lambda: full.count())
        sc.setJobDescription(None)
    print(json.dumps(res))
    spark.stop()


def cmd_noop(names: list[str]) -> None:
    from product_deduplication_spark.plans import queries as Q

    spark = _spark()
    sc = spark.sparkContext
    res = {}
    for name in names or HEADLINE:
        fn = Q.QUERIES[name]
        sc.setJobDescription(f"noop: {name}")
        res[name] = _best(lambda: _noop(fn(spark, SF_DIR)))
        sc.setJobDescription(None)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else None
    if cmd == "plans":
        cmd_plans(
            sys.argv[2] if len(sys.argv) > 2 else "r06",
            sys.argv[3] if len(sys.argv) > 3 else "",
        )
    elif cmd == "tj":
        cmd_tj()
    elif cmd == "noop":
        cmd_noop(sys.argv[2:])
    else:
        raise SystemExit(f"unknown command {cmd!r}\n{__doc__}")
