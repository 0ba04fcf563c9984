"""The spark-submit job: it runs the same stage chain as run_dedup, and the
--py-files zip it ships is built from the current source."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pandas as pd
import pytest

from product_deduplication_spark.catalog import SnapshotCatalog
from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.datagen import generate_web_documents
from product_deduplication_spark.pipeline import run_dedup

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_job_clusters_equal_run_dedup(spark, tmp_path):
    """The job's s6_clusters equal run_dedup's clusters on a corpus with
    empty-text pages: both skip them in exact dedup, so each stays a
    singleton instead of all sharing one sha2 class."""
    docs, _ = generate_web_documents(n_base_docs=40, seed=5)
    docs = docs.drop(columns="html")
    empty = pd.DataFrame({
        "url": [f"https://empty.example/{i}" for i in range(3)],
        "warc_ts": docs["warc_ts"].min(),
        "text": "",
        "lang": "en",
    })
    docs = pd.concat([docs, empty], ignore_index=True)
    inp = str(tmp_path / "input.parquet")
    docs.to_parquet(inp, index=False, coerce_timestamps="us")
    workdir = str(tmp_path / "work")
    out = subprocess.run(
        [
            sys.executable, os.path.join(_REPO, "jobs", "run_pipeline.py"),
            "--input", inp, "--workdir", workdir, "--master", "local[2]",
        ],
        capture_output=True, text=True, timeout=600,
        env=dict(os.environ, SPARK_SHUFFLE_PARTITIONS="4"),
    )
    assert out.returncode == 0, out.stderr[-2000:]

    cols = ["url", "cluster_id", "is_winner"]
    got = SnapshotCatalog(spark, workdir).read_stage("s6_clusters").select(*cols).collect()
    res = run_dedup(spark.read.parquet(inp), DedupConfig(shuffle_partitions=8))
    want = res.clusters.select(*cols).collect()
    res.release()
    assert sorted(got) == sorted(want)
    assert len({r["cluster_id"] for r in got if r["url"] in set(empty["url"])}) == len(empty)


def test_pyfiles_zip_imports_current_pipeline(tmp_path):
    """jobs/make_pyfiles.py builds an importable --py-files zip."""
    spec = importlib.util.spec_from_file_location(
        "make_pyfiles", os.path.join(_REPO, "jobs", "make_pyfiles.py")
    )
    make_pyfiles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(make_pyfiles)
    zip_path = make_pyfiles.build(str(tmp_path / "pkg.zip"))
    probe = (
        "import product_deduplication_spark.pipeline as p; "
        "print(p.__file__); print(callable(p.run_dedup))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path),
        env=dict(os.environ, PYTHONPATH=zip_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    origin, ok = out.stdout.split()
    assert origin.startswith(zip_path) and ok == "True"
