#!/usr/bin/env python3
"""Benchmark of the near-duplicate engine, one workload per process.

    python3 perfbench/run.py --workload web_hotkeys --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, starts ``local[N]`` (N = the CPUs this process may run on) in
one timed set-up that includes the JVM launch, runs the workload's
operations for at least ``--seconds`` (always at least one whole cycle: a
pass, or the bootstrap batch plus the deltas), checks every output, and
prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run (see tracing.py and README.md). Lines before it,
starting with ``#``, give the host sizing, the workload's shape, the output
digests, the operation latencies and the memory at the peak.

Everything the run writes goes under ``.perfbench_work/`` in the checkout,
and every process it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
PROBE_QUERIES = 50     # expected query pages of the probe
AUTO_COMPACT = 2       # incremental: compaction fires on the second delta
RECALL_MIN = 0.99


@dataclass(frozen=True)
class Workload:
    kind: str          # "web": run_dedup (+ probe); "incremental": batches
    simhash: bool = False
    probe: bool = False


# README.md gives the reason for each workload
WORKLOADS = {
    "web_hotkeys": Workload("web", simhash=True, probe=True),
    "incremental_batches": Workload("incremental"),
    # not in BENCHMARK.json, whose time budget fits two workloads; the
    # realistic LSH-only crawl that scaling.py runs
    "web_bootstrap": Workload("web"),
}


def _generate(name: str, seed: int):
    import workloads as W

    if name == "web_hotkeys":
        return W.hotkeys_corpus(
            seed, n_background=1000, n_templates=4, copies_per_template=150, exact_repeats=250
        )
    if name == "web_bootstrap":
        return W.web_corpus(seed, n_base_docs=2000)
    return W.incremental_batches(
        seed, n_base_docs=300, bootstrap_docs=200, n_deltas=2,
        fresh_per_delta=40, near_per_delta=8, exact_per_delta=4,
    )


# -- host, processes, memory --------------------------------------------------


def online_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss(root: int) -> dict[str, int]:
    """RSS bytes of ``root`` and its descendants, by kind: this driver, the
    JVM, and the Python worker processes (with their count)."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids = _children()
    out = {"driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
    todo = [(root, False)]
    while todo:
        pid, under_jvm = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                exe = f.read().split(b"\0")[0]
        except (OSError, IndexError, ValueError):
            continue
        java = exe.endswith(b"java")
        todo += [(k, under_jvm or java) for k in kids.get(pid, [])]
        if java and under_jvm:
            # the JVM spawning a program (posix_spawn): until the child
            # execs, it shares the JVM's memory, which would count twice
            continue
        if pid == root:
            out["driver"] += rss
        elif java:
            out["jvm"] += rss
        else:
            out["workers"] += rss
            out["n_workers"] += 1
    return out


class PeakRss(threading.Thread):
    """Samples the RSS of this process and all its descendants (JVM, Python
    workers) and keeps the peak and its breakdown."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            sample = tree_rss(os.getpid())
            total = sample["driver"] + sample["jvm"] + sample["workers"]
            if total > self.peak:
                self.peak, self.at_peak = total, sample
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_session(level: int, partitions: int, run_dir: str, event_dir: str | None):
    from product_deduplication_spark.session import get_spark
    from tracing import event_log_conf

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed young generation: G1 otherwise sizes eden from the
        # current heap, so the heap pages touched, and with them
        # peak_rss_mb, followed its expansion timing.
        # -UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Xmn{YOUNG_GEN} -XX:-UsePerfData"
        ),
    }
    if event_dir is not None:
        conf.update(event_log_conf(event_dir))
    return get_spark(
        app_name="perfbench", master=f"local[{level}]", shuffle_partitions=partitions,
        extra_conf=conf,
    )


def stop_engine() -> None:
    """Stop the session, then the JVM and every process under it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


# -- operations ---------------------------------------------------------------


@dataclass
class Run:
    """Check results: operations attempted and failed, recall, digests."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    recall: list[float] = field(default_factory=list)
    digests: list[str] = field(default_factory=list)

    def record(self, failures: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(failures)
        self.failures += failures


def _cluster_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.select("url", "doc_id", "cluster_id", "is_winner").collect()]


def web_op(spark, spec: Workload, path: str, cfg, qmax: int, tracer=None):
    """One pass: dedup the corpus and, for probe workloads, probe the
    query pages. Returns (cluster rows, probe pairs or None)."""
    from pyspark.sql import functions as F

    from product_deduplication_spark.pipeline import run_dedup
    from product_deduplication_spark.plans.queries import token_jaccard_lsh_impl

    df = spark.read.parquet(path)
    if tracer is None:
        res = run_dedup(df, cfg, use_simhash=spec.simhash)
        rows = _cluster_rows(res.clusters)
        res.release()
    else:
        rows = traced_run_dedup(df, cfg, spec.simhash, tracer)
    pairs = None
    if spec.probe:
        with tracer.span("queries", "queries") if tracer else nullcontext():
            docs = df.select(F.xxhash64("url").alias("doc_id"), "text")
            probe = token_jaccard_lsh_impl(
                docs, lambda node: node <= F.lit(qmax), cfg.shuffle_partitions
            )
            pairs = {(r[0], r[1]) for r in probe.select("id_a", "id_b").collect()}
        if tracer:
            tracer.rows["queries"] = len(pairs)
    return rows, pairs


def traced_run_dedup(df, cfg, use_simhash: bool, tr) -> list[tuple]:
    """``pipeline.run_dedup`` composed from the same public functions, each
    output persisted and counted under its own layer's job group."""
    from pyspark.sql import functions as F

    from product_deduplication_spark.caching import CacheScope
    from product_deduplication_spark.functions.features import with_features
    from product_deduplication_spark.operators.connected_components import (
        assign_clusters_contracted,
    )
    from product_deduplication_spark.operators.exact_dedup import exact_duplicate_edges
    from product_deduplication_spark.operators.lsh import candidate_pairs
    from product_deduplication_spark.operators.simhash_join import simhash_candidate_pairs
    from product_deduplication_spark.operators.verify import verify_pairs
    from product_deduplication_spark.pipeline import pick_winners, prepare_docs

    scope = CacheScope()

    def step(layer: str, frame):
        with tr.span(layer, layer):
            frame = scope.persist(frame)
            tr.rows[layer] = frame.count()
        return frame

    docs = prepare_docs(df, cfg)
    eligible = docs.where(F.length("text") >= cfg.min_doc_chars)
    feats = step(
        "features",
        with_features(eligible.select("doc_id", "text"), cfg, simhash=use_simhash).select(
            "doc_id", "shingles", "minhash", "simhash", "bands"
        ),
    )
    exact = step("exact_dedup", exact_duplicate_edges(eligible, "doc_id", "text"))
    pairs = step("lsh", candidate_pairs(feats, cfg, scope=scope))
    if use_simhash:
        sh = step("simhash_join", simhash_candidate_pairs(feats, cfg))
        pairs = pairs.unionByName(sh).dropDuplicates(["src", "dst"])
    with tr.span("verify", "verify"):
        pairs = scope.persist(pairs)
        tr.layer["candidates"] = pairs.count()
        near = scope.persist(verify_pairs(pairs, feats, cfg))
        tr.rows["verify"] = near.count()
    clustered = step(
        "connected_components",
        assign_clusters_contracted(
            docs.withColumn("_text_len", F.length("text")),
            exact.select("src", "dst"), near.select("src", "dst"), "doc_id",
            scope=scope,
        ),
    )
    with tr.span("pipeline", "pipeline"):
        final = scope.persist(pick_winners(clustered).drop("_text_len"))
        rows = _cluster_rows(final)
        tr.rows["pipeline"] = len(rows)
    with tr.span("bench.stats", "bench.stats"):
        sizes = exact.groupBy("src").count().agg(F.max("count")).collect()[0][0]
        tr.layer["exact_max_class"] = (sizes or 0) + 1
        tr.layer["cc_input_edges"] = tr.rows["exact_dedup"] + tr.rows["verify"]
    scope.release()
    return rows


def _catalog_files(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.startswith("part-") and n.endswith(".parquet")
    return size, files


def incremental_cycle(spark, paths: list[str], sizes: list[int], cfg, cat_dir: str, tracer=None):
    """Fold every batch into a fresh catalog. Returns per-batch dicts with
    latency, rows after the batch, compaction flag and catalog stats."""
    from product_deduplication_spark.catalog import SnapshotCatalog
    from product_deduplication_spark.streaming import incremental as inc

    stages = (inc.DOCS_STAGE, inc.FEATURES_STAGE, inc.CLUSTERS_STAGE)
    cat = SnapshotCatalog(spark, cat_dir)
    out = []
    for b, (path, n_in) in enumerate(zip(paths, sizes)):
        df = spark.read.parquet(path)
        width = sum(len(cat.active_snapshots(s)) for s in stages) if b else 0
        compactions = sum(bool((e.get("metrics") or {}).get("compaction")) for e in cat.snapshots())
        size0, files0 = _catalog_files(cat_dir)
        layer = "incremental" if b else "incremental.bootstrap"
        t0 = time.perf_counter()
        with tracer.span(layer, layer) if tracer else nullcontext():
            rows = _cluster_rows(inc.incremental_dedup(spark, cat, df, cfg, auto_compact=AUTO_COMPACT))
        lat = time.perf_counter() - t0
        size1, files1 = _catalog_files(cat_dir)
        fired = sum(bool((e.get("metrics") or {}).get("compaction")) for e in cat.snapshots())
        out.append({
            "s": lat, "docs": n_in, "rows": rows, "compacted": fired > compactions,
            "bytes": size1 - size0, "files": files1 - files0, "read_width": width,
        })
    out[-1]["manifest_bytes"] = os.path.getsize(os.path.join(cat_dir, "manifest.jsonl"))
    return out


@contextmanager
def spans_around(module, name: str, tracer):
    """Records a span around every call of the module-level engine function
    ``module.name`` while the block runs (the module attribute is replaced,
    so callers inside the engine that look it up go through the span)."""
    orig = getattr(module, name)

    def wrapped(*a, **k):
        with tracer.span(name):
            return orig(*a, **k)

    setattr(module, name, wrapped)
    try:
        yield
    finally:
        setattr(module, name, orig)


# -- driver -------------------------------------------------------------------


@dataclass
class Inputs:
    """One run's generated inputs and what the checks compare against."""

    paths: list[str]            # one parquet directory per batch (web: one)
    sizes: list[int]            # pages per batch
    batch_urls: list[set]       # urls per batch
    docs: object                # pandas frame of every distinct page
    reference: set              # url pairs the engine must co-cluster
    qmax: int                   # probe: pages with doc_id <= qmax are queries
    shape: dict


def generate(name: str, seed: int, run_dir: str, cfg, n_files: int) -> Inputs:
    import pandas as pd

    import workloads as W

    gen = _generate(name, seed)
    batches = [gen.docs] if WORKLOADS[name].kind == "web" else gen.batches
    paths = [
        W.write_parquet(b, os.path.join(run_dir, f"input{i:02d}"), n_files)
        for i, b in enumerate(batches)
    ]
    docs = pd.concat(batches, ignore_index=True).drop_duplicates("url")
    reference = W.reference_pairs(docs, gen.truth, cfg)
    # doc_id is xxhash64(url), uniform over int64: the lowest
    # PROBE_QUERIES/len(docs) share of that range holds ~PROBE_QUERIES pages
    qmax = int(-(2**63) + PROBE_QUERIES / len(docs) * 2**64)
    return Inputs(
        paths, [len(b) for b in batches], [set(b["url"]) for b in batches], docs, reference,
        qmax, gen.shape | {"reference_pairs": len(reference)},
    )


def set_up(level: int, partitions: int, run_dir: str, event_dir: str | None, paths):
    """Launches the JVM and the session and reads the inputs once.
    Returns the session and the set-up's seconds."""
    t0 = time.perf_counter()
    spark = start_session(level, partitions, run_dir, event_dir)
    for p in paths:
        spark.read.parquet(p).count()
    return spark, time.perf_counter() - t0


def measure(spark, spec: Workload, inp: Inputs, cfg, run_dir: str, seconds: float):
    """The timed region: whole cycles until ``seconds`` have passed.
    Returns (outputs, latency of every operation, pages processed)."""
    outs, lat, docs = [], [], 0
    t_start = time.perf_counter()
    while not outs or time.perf_counter() - t_start < seconds:
        if spec.kind == "web":
            t0 = time.perf_counter()
            outs.append(web_op(spark, spec, inp.paths[0], cfg, inp.qmax))
            lat.append(time.perf_counter() - t0)
        else:
            cycle = incremental_cycle(
                spark, inp.paths, inp.sizes, cfg, os.path.join(run_dir, f"catalog{len(outs)}")
            )
            outs.append(cycle)
            lat += [b["s"] for b in cycle]
        docs += sum(inp.sizes)
    return outs, lat, docs


def trace(spark, spec: Workload, inp: Inputs, cfg, run_dir: str) -> dict:
    """Traced run. Web: a cold and a warm untraced pass, then the traced
    pass; the overhead compares the traced pass with the warm one.
    Incremental: one cycle whose batches run under the ``incremental`` job
    group, with a span around every connected-components call. It makes the
    same ``incremental_dedup`` calls as an untraced cycle, so it is not run
    twice and its overhead reads 0."""
    from tracing import Tracer

    tr = Tracer(spark.sparkContext)
    if spec.kind == "web":
        outs, lat = [], []
        for traced in (False, False, True):
            t0 = time.perf_counter()
            outs.append(web_op(spark, spec, inp.paths[0], cfg, inp.qmax, tr if traced else None))
            lat.append(time.perf_counter() - t0)
        return {"tracer": tr, "outs": outs, "overhead": lat[2] / lat[1] - 1.0}
    from product_deduplication_spark.operators import connected_components as cc_mod

    with spans_around(cc_mod, "connected_components", tr):
        cycle = incremental_cycle(
            spark, inp.paths, inp.sizes, cfg, os.path.join(run_dir, "catalog"), tr
        )
    return {"tracer": tr, "outs": [cycle], "overhead": 0.0}


def check(spark, spec: Workload, inp: Inputs, outs) -> Run:
    """Checks every operation's output (outside the timed region)."""
    import checks

    r = Run()
    if spec.kind == "web":
        probe_ref = None
        if spec.probe:
            from pyspark.sql import functions as F

            ids = spark.read.parquet(inp.paths[0]).select(F.xxhash64("url"), "text").collect()
            id_text = {int(i): t for i, t in ids}
            probe_ref = checks.probe_reference(id_text, [i for i in id_text if i <= inp.qmax])
        for rows, pairs in outs:
            r.record(_assignment_failures(r, rows, inp.batch_urls[0], inp.reference))
            r.digests.append(checks.digest(rows))
            if spec.probe:
                missing, extra = probe_ref - pairs, pairs - probe_ref
                r.record([f"probe: {len(missing)} pairs missing, {len(extra)} extra "
                          "against brute force"] if missing or extra else [])
                r.digests.append("probe:" + checks.digest(pairs))
    else:
        for cycle in outs:
            seen: set[str] = set()
            for b, batch in enumerate(cycle):
                seen |= inp.batch_urls[b]
                ref = {p for p in inp.reference if p[0] in seen and p[1] in seen}
                r.record(_assignment_failures(r, batch["rows"], seen, ref))
            if not any(b["compacted"] for b in cycle):
                r.failures.append("auto-compaction never fired in the cycle")
                r.failed += 1
            r.digests.append(checks.digest(cycle[-1]["rows"]))
    for probe in (False, True):
        ds = {d for d in r.digests if d.startswith("probe:") == probe}
        if len(ds) > 1:
            r.failures.append(f"digests differ between passes: {sorted(ds)}")
            r.failed += 1
    return r


def _assignment_failures(r: Run, rows, urls: set, reference: set) -> list[str]:
    import checks

    fails = checks.cluster_failures(rows, urls)
    rec = checks.recall(rows, reference)
    r.recall.append(rec)
    if rec < RECALL_MIN:
        fails.append(f"recall {rec:.4f} < {RECALL_MIN}")
    return fails


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="task slots (default: every CPU this process may use)")
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and the Python workers (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    online = online_cpus()
    level = args.cpus or online
    if not 1 <= level <= online:
        print(f"--cpus {level}: only {online} CPUs are online; refusing instead of clipping",
              file=sys.stderr)
        return 2
    if level < online:
        os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:level])
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import product_deduplication_spark  # noqa: F401
    except ImportError as e:
        print(f"the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 3

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")

    rss = PeakRss()
    rss.start()
    try:
        result = run(args, level, online, run_dir, rss)
    finally:
        stop_engine()
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, level: int, online: int, run_dir: str, rss: PeakRss) -> dict:
    from product_deduplication_spark.config import DedupConfig

    spec = WORKLOADS[args.workload]
    partitions = 2 * online
    cfg = DedupConfig(shuffle_partitions=partitions)
    print("# host " + json.dumps({
        "cpus_online": online, "master": f"local[{level}]",
        "shuffle_partitions": partitions, "driver_memory": DRIVER_MEMORY,
    }), flush=True)
    inp = generate(args.workload, args.seed, run_dir, cfg, partitions)
    print("# shape " + json.dumps(inp.shape), flush=True)

    event_dir = os.path.join(run_dir, "events") if args.trace else None
    spark, setup_s = set_up(level, partitions, run_dir, event_dir, inp.paths)
    if args.trace:
        traced = trace(spark, spec, inp, cfg, run_dir)
        outs = traced["outs"]
    else:
        outs, lat, docs = measure(spark, spec, inp, cfg, run_dir, args.seconds)
    r = check(spark, spec, inp, outs)
    for d in dict.fromkeys(r.digests):
        print(f"# digest {d}", flush=True)
    for f in r.failures:
        print(f"# FAILED {f}", flush=True)

    if args.trace:
        metrics = layer_metrics(spark, traced, spec, inp, cfg, level, setup_s, event_dir, args)
    else:
        print("# ops_s " + json.dumps([round(x, 3) for x in lat]), flush=True)
        print("# rss_at_peak_mb " + json.dumps(
            {k: v if k == "n_workers" else round(v / 2**20) for k, v in rss.at_peak.items()}
        ), flush=True)
        # web: every pass; incremental: the delta batches
        op_s = lat if spec.kind == "web" else [b["s"] for c in outs for b in c[1:]]
        metrics = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (docs / sum(lat), "docs/s"),
            "batch_s.p50": (statistics.median(op_s), "s"),
            "recall": (min(r.recall), "ratio"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
    return {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": min(r.failed, r.attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(spark, traced: dict, spec: Workload, inp: Inputs, cfg, level: int,
                  setup_s: float, event_dir: str, args) -> dict:
    """Per-layer rows of the traced pass or cycle; stops the session first
    so the event log is complete. Writes the spans and rows under
    ``.perfbench_work/traces/``."""
    import tracing

    tr = traced["tracer"]
    app_id = spark.sparkContext.applicationId
    stop_engine()
    jobs, tasks = tracing.read_event_log(event_dir, app_id)
    n_docs = len(inp.docs)
    rows_out = dict(tr.rows)
    if spec.kind == "incremental":
        deltas = traced["outs"][0][1:]
        rows_out["incremental"] = sum(b["docs"] for b in deltas)
    m = tracing.layer_rows(jobs, tasks, tr.layer_seconds(), rows_out, n_docs, level)
    texts = inp.docs["text"].tolist()
    # the batches the feature UDF sees: one Arrow batch per scan partition
    batch = min(4096, -(-len(texts) // cfg.shuffle_partitions))
    kern = tracing.kernel_timings(texts, cfg, spec.simhash, batch)
    for k, v in kern.items():
        m[f"hashing.{k}_us_per_doc"] = v / n_docs * 1e6
    feat_task = m["features.task_s"]
    m["features.udf_overhead_frac"] = 1.0 - sum(kern.values()) / feat_task if feat_task else 0.0
    extra = tr.layer
    m["lsh.pairs_per_doc"] = rows_out.get("lsh", 0) / n_docs
    m["simhash_join.pairs_per_doc"] = rows_out.get("simhash_join", 0) / n_docs
    m["verify.yield"] = rows_out.get("verify", 0) / extra["candidates"] if extra.get("candidates") else 0.0
    m["exact_dedup.max_class"] = extra.get("exact_max_class", 0)
    m["connected_components.input_edges"] = extra.get("cc_input_edges", 0)
    for k in ("catalog.bytes_per_new_doc", "catalog.files_per_batch", "catalog.read_width",
              "catalog.manifest_bytes", "incremental.jobs_per_batch",
              "incremental.compact_batch_s"):
        m[k] = 0.0
    if spec.kind == "incremental":
        delta_docs = rows_out["incremental"]
        # the incremental layer is normalised by the delta pages it folded
        for suffix in ("shuffle_write_b_per_doc", "shuffle_read_b_per_doc"):
            m[f"incremental.{suffix}"] *= n_docs / delta_docs
        m["connected_components.jobs"] = sum(
            1 for j in jobs.values()
            if j["span"] == "connected_components" and j["group"] == "incremental"
        )
        m["catalog.bytes_per_new_doc"] = sum(b["bytes"] for b in deltas) / delta_docs
        m["catalog.files_per_batch"] = statistics.mean(b["files"] for b in deltas)
        m["catalog.read_width"] = statistics.mean(b["read_width"] for b in deltas)
        m["catalog.manifest_bytes"] = traced["outs"][0][-1]["manifest_bytes"]
        m["incremental.jobs_per_batch"] = m["incremental.jobs"] / len(deltas)
        comp = [b["s"] for b in deltas if b["compacted"]]
        m["incremental.compact_batch_s"] = statistics.median(comp) if comp else 0.0
        final_rows = traced["outs"][0][-1]["rows"]
    else:
        final_rows = traced["outs"][2][0]
    m["connected_components.largest_cluster"] = max(Counter(r[2] for r in final_rows).values())
    m["session.start_s"] = setup_s
    m["trace_overhead_frac"] = traced["overhead"]

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tr.write(
        os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "layers": m},
    )
    units = _per_layer_units()
    return {k: (m[k], units[k]) for k in units}


def _per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
