#!/usr/bin/env python
"""Benchmark runner (driver contract).

Runs the headline suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-layer timings and the 1 -> N core scaling run live in perfbench/
(``perfbench/run.py --trace 1``, ``perfbench/scaling.py``).

Headline suite:
  dedup_pipeline      full MinHash/LSH/verify/CC over a deterministic synthetic
                      webtext corpus (seeded; cached parquet under BENCH/data)
  dedup_documents     same pipeline over the driver's documents table
  groupby_agg / join_inner / pareto_cumsum / token_jaccard_pairs / knn_cosine
                      heavy relational queries from the driver query surface
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CORPUS_DOCS = int(os.environ.get("BENCH_CORPUS_DOCS", "12000"))
# min-of-N per query: this sandbox is a shared VM with heavy noisy-neighbor
# interference (identical code measured 13.8s..29.3s back-to-back) — the
# minimum estimates true machine capability
BENCH_REPEATS = int(os.environ.get("BENCH_REPEATS", "2"))
DATA_DIR = os.path.join(_REPO, "BENCH", "data")


def _corpus_file_count(n_base_docs: int) -> int:
    """Files in the multi-file corpus layout: ~1 file per 2k base docs,
    capped at 32."""
    return max(1, min(32, n_base_docs // 2000))


def _ensure_bench_corpus(n_base_docs: int | None = None) -> str:
    """Deterministic synthetic webtext corpus, cached as a DIRECTORY of
    parquet files with bounded row groups.

    Layout matters for the scaling measurement: the original single-file
    cache held ALL rows in ONE parquet row group (pandas.to_parquet
    default), and a row group is the minimum unit a Spark scan can assign
    to a task — so every corpus scan (features, exact-dup edges, CC doc
    list) decoded ~2.8 GB uncompressed on ONE core at every parallelism
    level: a serial Amdahl fraction that suppressed measured 2→8/8→32
    scaling (features eff 2→8 bottomed at 0.305 with the stage's OWN alu
    ceiling at 0.43; exact_cc_winners at 0.321). A production Iceberg
    table is many ~100 MB files; this layout mirrors that, so the scan
    parallelizes the way it would on a real cluster."""
    n = n_base_docs or BENCH_CORPUS_DOCS
    k = _corpus_file_count(n)
    path = os.path.join(DATA_DIR, f"webtext_{n}_f{k}")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(DATA_DIR, exist_ok=True)
        legacy = os.path.join(DATA_DIR, f"webtext_{n}.parquet")
        if os.path.exists(legacy):
            # same rows, new layout — convert instead of regenerating
            table = pq.read_table(legacy)
        else:
            from product_deduplication_spark.datagen import generate_web_documents

            docs, _ = generate_web_documents(n_base_docs=n, seed=42)
            table = pa.Table.from_pandas(docs, preserve_index=False)
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        rows = table.num_rows
        per_file = -(-rows // k)
        for i in range(k):
            chunk = table.slice(i * per_file, per_file)
            if chunk.num_rows == 0:
                continue
            # Spark cannot read TIMESTAMP(NANOS) parquet — coerce to micros
            pq.write_table(
                chunk,
                os.path.join(tmp, f"part-{i:05d}.parquet"),
                row_group_size=8192,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
        os.rename(tmp, path)
    return path


def _run_suite(spark, sf_dir: str) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from product_deduplication_spark.config import DedupConfig
    from product_deduplication_spark.pipeline import run_dedup
    from product_deduplication_spark.plans import queries as Q

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    corpus_path = _ensure_bench_corpus()

    def best_of(fn) -> float:
        best = None
        for _ in range(BENCH_REPEATS):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    # --- headline: dedup pipeline over synthetic webtext -----------------
    web = spark.read.parquet(corpus_path)
    n_docs = web.count()
    cfg = DedupConfig(
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    clusters_seen: list[int] = []

    def _pipeline():
        res = run_dedup(web, cfg)
        nc = res.clusters.select(F.countDistinct("cluster_id")).collect()[0][0]
        res.release()
        clusters_seen.append(int(nc))

    dt = best_of(_pipeline)
    assert len(set(clusters_seen)) == 1, "nondeterministic cluster count"
    timings["dedup_pipeline"] = round(dt, 3)
    extras["dedup_docs_per_sec"] = round(n_docs / dt, 1)
    extras["dedup_n_docs"] = n_docs
    extras["dedup_n_clusters"] = clusters_seen[0]
    extras["repeats"] = BENCH_REPEATS

    # --- simhash-on soak: the second candidate channel is opt-in in the
    # pipeline (the MinHash path never consumes it) — keep it exercised
    # end-to-end and timed so regressions surface in BENCH, not in prod
    def _pipeline_simhash():
        res = run_dedup(web, cfg, use_simhash=True)
        res.clusters.select(F.countDistinct("cluster_id")).collect()
        res.release()

    timings["dedup_pipeline_simhash"] = round(best_of(_pipeline_simhash), 3)

    # --- dedup over the driver documents table ---------------------------
    # (the registry's minhash_dedup_clusters now appends an O(n^2)
    # brute-force recall self-check for its oracle — right for the sf0.01
    # correctness gate, wrong for a timing; time the raw pipeline directly)
    from product_deduplication_spark.datagen import wrap_documents_spark

    docs_tbl = wrap_documents_spark(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    def _dedup_documents():
        res = run_dedup(docs_tbl, cfg)
        res.clusters.count()
        res.release()

    timings["dedup_documents"] = round(best_of(_dedup_documents), 3)

    # --- relational headline queries -------------------------------------
    # token_jaccard_pairs is the ORACLE-PARITY brute-force theta join (kept
    # for the DuckDB comparator); token_jaccard_lsh is the engine path for
    # the same question — candidates from LSH banding, identical output
    for name in [
        "groupby_agg",
        "join_inner",
        "pareto_cumsum",
        "token_jaccard_pairs",
        "token_jaccard_lsh",
        "knn_cosine",
    ]:
        fn = Q.QUERIES[name]
        timings[name] = round(best_of(lambda: fn(spark, sf_dir).collect()), 3)

    # --- token-jaccard crossover on the SPARSE webtext corpus ------------
    # The sf documents table is pathologically dense (78% of query-corpus
    # pairs >= 0.5 at sf0.1), so brute force is optimal there and the LSH
    # twin above exists for output-identity evidence. THIS pair shows the
    # engine path winning where density is realistic: webtext docs share
    # little background vocabulary, so band probing prunes the comparison
    # space while the theta join still pays |queries| x |corpus|.
    from product_deduplication_spark.plans.queries import token_jaccard_lsh_impl

    wdocs = web.select(F.xxhash64("url").alias("doc_id"), "text")
    qmax = wdocs.select("doc_id").orderBy("doc_id").limit(50).agg(
        F.max("doc_id")
    ).collect()[0][0]
    toks = wdocs.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    ta = toks.where(F.col("doc_id") <= qmax).select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a")
    )
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    theta_web = (
        ta.join(tb, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    lsh_web = token_jaccard_lsh_impl(
        wdocs, lambda node: node <= F.lit(qmax), int(spark.conf.get("spark.sql.shuffle.partitions"))
    ).select("id_a", "id_b")
    counts: list[int] = []
    timings["tj_theta_web"] = round(best_of(lambda: counts.append(theta_web.count())), 3)
    timings["tj_lsh_web"] = round(best_of(lambda: counts.append(lsh_web.count())), 3)
    assert len(set(counts)) == 1, f"LSH twin != theta on webtext: {counts}"
    extras["tj_web_pairs"] = counts[0]
    return timings, extras


# deliberately-quadratic oracle baselines (brute-force theta joins kept only
# so DuckDB / the LSH twins have an exact comparison target). They are timed
# and reported under "baselines" but EXCLUDED from headline_suite_sec —
# folding a 60s intentional brute force into the headline made the round-
# over-round total track the baseline's noise, not the engine (r03 verdict).
BASELINE_QUERIES = ("token_jaccard_pairs", "tj_theta_web")
# the r03 headline summed engine + baseline queries; kept for continuity
_R03_HEADLINE = (
    "dedup_pipeline", "dedup_pipeline_simhash", "dedup_documents",
    "groupby_agg", "join_inner", "pareto_cumsum", "token_jaccard_pairs",
    "token_jaccard_lsh", "knn_cosine", "tj_theta_web", "tj_lsh_web",
)


def run_bench(master: str | None = None, shuffle: int | None = None) -> dict:
    from product_deduplication_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=master or f"local[{CPUS}]",
        shuffle_partitions=shuffle or max(CPUS, 8),
    )
    # warm the JVM + python workers so timings measure the engine, not startup
    spark.range(1000).selectExpr("sum(id)").collect()
    timings, extras = _run_suite(spark, SF_DIR)
    spark.stop()
    engine = {k: v for k, v in timings.items() if k not in BASELINE_QUERIES}
    baselines = {k: v for k, v in timings.items() if k in BASELINE_QUERIES}
    return {
        "metric": "headline_suite_sec",
        # headline = engine paths only; the labeled brute-force baselines are
        # reported separately so the headline tracks engine regressions
        "value": round(sum(engine.values()), 3),
        "unit": "sec",
        "queries": engine,
        "baselines": baselines,
        # same composition as BENCH_r03.json's headline (engine + baselines)
        "suite_sec_comparable_r03": round(
            sum(timings[k] for k in _R03_HEADLINE if k in timings), 3
        ),
        "sf": SF_DIR,
        **extras,
    }


if __name__ == "__main__":
    print(json.dumps(run_bench()))
