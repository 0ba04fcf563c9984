"""Traced runs: spans around calls into the engine, per-layer rows from
Spark's event log, and bare kernel timings.

The engine is measured from outside. Around each call into a layer's public
function the benchmark records a span (name, start, end, parent) in memory
and sets the Spark job group to the layer name, so every job that call
submits carries the layer in its ``spark.jobGroup.id`` property. After the
session stops, the event log's ``SparkListenerJobStart`` and
``SparkListenerTaskEnd`` records are folded into one row per layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "features",
    "exact_dedup",
    "lsh",
    "simhash_join",
    "verify",
    "connected_components",
    "pipeline",
    "incremental",
    "queries",
)
SUFFIXES = (
    "s",
    "task_s",
    "busy_frac",
    "jobs",
    "shuffle_write_b_per_doc",
    "shuffle_read_b_per_doc",
    "spill_b",
    "task_skew",
    "gc_s",
    "rows_out",
)
# property carrying the innermost span name on every job (job groups carry
# the layer; a span inside a layer, e.g. CC inside an incremental batch,
# is visible through this one)
SPAN_PROPERTY = "perfbench.span"


def event_log_conf(event_dir: str) -> dict:
    """Session conf that writes one plain-JSON event log file per app."""
    os.makedirs(event_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records spans in memory and tags the jobs each span submits."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str | None]] = []
        self.rows: dict[str, int] = defaultdict(int)   # output rows per layer
        self.layer: dict[str, int] = {}                 # other per-layer counts

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else (None, None)
        group = layer or parent[1]
        self._set(name, group)
        self._stack.append((name, group))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(
                {"name": name, "layer": group, "start": start, "end": end, "parent": parent[0]}
            )
            self._set(*(self._stack[-1] if self._stack else (None, None)))

    def _set(self, name: str | None, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)

    def layer_seconds(self) -> dict[str, float]:
        """Wall seconds per layer: the summed duration of the spans that
        open the layer (they run one after another, never nested)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == s["layer"]:
                out[s["layer"]] += s["end"] - s["start"]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def read_event_log(event_dir: str, app_id: str) -> tuple[dict, list[dict]]:
    """(jobs, tasks) from the app's finished event log.

    jobs: job id -> {"group", "span", "stages"}; tasks: one dict per task
    with its stage, run time, GC, shuffle and spill figures."""
    paths = [p for p in glob.glob(os.path.join(event_dir, f"*{app_id}*")) if not p.endswith(".crc")]
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one event log for {app_id} in {event_dir}, got {paths}")
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "span": props.get(SPAN_PROPERTY),
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "write_b": wr.get("Shuffle Bytes Written", 0),
                        "read_b": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return jobs, tasks


def layer_rows(
    jobs: dict, tasks: list[dict], seconds: dict[str, float], rows_out: dict[str, int],
    docs: int, cpus: int,
) -> dict[str, float]:
    """``<layer>.<suffix>`` for every layer; layers the workload does not
    run read 0."""
    stage_group: dict[int, str] = {}
    for job_id in sorted(jobs):
        for st in jobs[job_id]["stages"]:
            stage_group.setdefault(st, jobs[job_id]["group"])
    by_layer: dict[str, list[dict]] = defaultdict(list)
    for t in tasks:
        by_layer[stage_group.get(t["stage"])].append(t)
    n_jobs: dict[str, int] = defaultdict(int)
    for j in jobs.values():
        n_jobs[j["group"]] += 1
    out: dict[str, float] = {}
    for layer in LAYERS:
        ts = by_layer.get(layer, [])
        wall = seconds.get(layer, 0.0)
        task_s = sum(t["run_s"] for t in ts)
        runs = [t["run_s"] for t in ts]
        p50 = statistics.median(runs) if runs else 0.0
        vals = {
            "s": wall,
            "task_s": task_s,
            "busy_frac": task_s / (wall * cpus) if wall else 0.0,
            "jobs": n_jobs.get(layer, 0),
            "shuffle_write_b_per_doc": sum(t["write_b"] for t in ts) / docs,
            "shuffle_read_b_per_doc": sum(t["read_b"] for t in ts) / docs,
            "spill_b": sum(t["spill_b"] for t in ts),
            "task_skew": max(runs) / p50 if p50 else 0.0,
            "gc_s": sum(t["gc_s"] for t in ts),
            "rows_out": rows_out.get(layer, 0),
        }
        for suffix in SUFFIXES:
            out[f"{layer}.{suffix}"] = vals[suffix]
    return out


def kernel_timings(texts: list[str], cfg, simhash: bool, batch: int, reps: int = 3) -> dict:
    """Bare ``hashing`` kernel seconds over ``texts`` in ``batch``-row
    batches, the same calls the feature UDF makes; median of ``reps`` passes."""
    from product_deduplication_spark.functions import hashing

    seeds = hashing.minhash_seeds(cfg.num_hashes, cfg.seed)
    samples: dict[str, list[float]] = defaultdict(list)
    for _ in range(reps):
        tot: dict[str, float] = defaultdict(float)
        for i in range(0, len(texts), batch):
            chunk = texts[i : i + batch]
            t = time.perf_counter()
            sets = hashing.char_shingle_hashes_batch(chunk, cfg.shingle_k)
            tot["shingle"] += time.perf_counter() - t
            t = time.perf_counter()
            sig = hashing.oph_signatures(sets, seeds)
            tot["oph"] += time.perf_counter() - t
            if simhash:
                t = time.perf_counter()
                hashing.simhash64(hashing.token_hashes_batch(chunk))
                tot["simhash"] += time.perf_counter() - t
            t = time.perf_counter()
            hashing.band_hashes_from_signatures(sig, cfg.lsh_bands)
            tot["bands"] += time.perf_counter() - t
        for k in ("shingle", "oph", "simhash", "bands"):
            samples[k].append(tot[k])
    return {k: statistics.median(v) for k, v in samples.items()}
