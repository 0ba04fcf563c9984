"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the same
pages, urls, batch split and reference pairs. The engine only ever sees the
multi-file parquet these functions write; the reference pairs stay on the
benchmark side for the output checks.

Reference pairs are the generator's truth pairs whose exact char-shingle
Jaccard, at the engine's shingle config, reaches the verify threshold: those
are the pairs the engine promises to co-cluster. (Truth pairs below the
threshold, such as 15%-mutated copies or half-page substrings, are not
promised by the engine, so they are not counted against its recall.)
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


@dataclass
class Corpus:
    """One generated corpus: the pages, the truth pairs and their shape."""

    docs: pd.DataFrame                 # url, warc_ts, html, text, lang
    truth: pd.DataFrame                # url_a, url_b, kind
    shape: dict = field(default_factory=dict)


def _vocab(rng: np.random.Generator, size: int) -> tuple[np.ndarray, np.ndarray]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = np.array(
        ["".join(rng.choice(letters, size=int(n))) for n in rng.integers(3, 10, size=size)]
    )
    probs = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** 1.1
    return words, probs / probs.sum()


def _substitute(tokens: list[str], n: int, rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    """Copy of ``tokens`` with ``n`` positions replaced by random words."""
    out = list(tokens)
    for pos in rng.choice(len(out), size=min(n, len(out)), replace=False):
        out[int(pos)] = str(vocab[int(rng.integers(0, len(vocab)))])
    return out


def _frame(urls: list[str], texts: list[str]) -> pd.DataFrame:
    from product_deduplication_spark.datagen import text_to_html

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": [_BASE_TS + dt.timedelta(seconds=i) for i in range(len(urls))],
            "html": [text_to_html(t) for t in texts],
            "text": texts,
            "lang": ["en"] * len(urls),
        }
    )


def _shape(docs: pd.DataFrame, truth: pd.DataFrame, template_kind: str | None = None) -> dict:
    copies = set(truth["url_b"])
    tokens = docs["text"].str.count(" ") + 1
    shape = {
        "docs": int(len(docs)),
        "dup_share": round(len(copies & set(docs["url"])) / max(len(docs), 1), 4),
        "largest_exact_class": int(docs["text"].value_counts().max()) if len(docs) else 0,
        "mean_page_tokens": round(float(tokens.mean()), 1) if len(docs) else 0.0,
    }
    if template_kind is not None:
        shape["template_share"] = round(
            int((truth["kind"] == template_kind).sum()) / max(len(docs), 1), 4
        )
    return shape


def web_corpus(seed: int, n_base_docs: int) -> Corpus:
    """Realistic crawl: the engine's own datagen corpus (25% of base pages
    get 1-3 copies at 0-15% token mutation, 5% get a substring copy, 50-500
    tokens per page)."""
    from product_deduplication_spark.datagen import generate_web_documents

    docs, truth = generate_web_documents(n_base_docs=n_base_docs, seed=seed, dup_fraction=0.25)
    return Corpus(docs, truth, _shape(docs, truth))


def hotkeys_corpus(
    seed: int,
    n_background: int,
    n_templates: int,
    copies_per_template: int,
    exact_repeats: int,
) -> Corpus:
    """Skewed crawl of short pages: a few templates copied hundreds of times
    with one-token edits (LSH buckets far over ``bucket_cap``, SimHash chunk
    buckets with hundreds of members, giant CC components), one page repeated
    exactly ``exact_repeats`` times (one hot exact-dedup key), and a
    background of short pages of which 20% carry one near copy."""
    rng = np.random.default_rng(seed)
    vocab, probs = _vocab(rng, 4000)
    urls: list[str] = []
    texts: list[str] = []
    truth: list[tuple[str, str, str]] = []

    def add(tokens: list[str]) -> str:
        url = f"https://hot{len(urls) % 97}.example/p/{len(urls)}"
        urls.append(url)
        texts.append(" ".join(tokens))
        return url

    def page(lo: int, hi: int) -> list[str]:
        return [str(w) for w in rng.choice(vocab, size=int(rng.integers(lo, hi)), p=probs)]

    for _ in range(n_background):
        tokens = page(20, 80)
        base = add(tokens)
        if rng.random() < 0.2:
            truth.append((base, add(_substitute(tokens, 1, rng, vocab)), "near"))
    for _ in range(n_templates):
        tokens = page(30, 60)
        root = add(tokens)
        for _ in range(copies_per_template):
            truth.append((root, add(_substitute(tokens, 1, rng, vocab)), "template"))
    tokens = page(30, 60)
    first = add(tokens)
    for _ in range(exact_repeats - 1):
        truth.append((first, add(tokens), "exact"))

    # spread the hot pages over every parquet file instead of the last ones
    order = rng.permutation(len(urls))
    docs = _frame([urls[i] for i in order], [texts[i] for i in order])
    tdf = pd.DataFrame(truth, columns=["url_a", "url_b", "kind"])
    return Corpus(docs, tdf, _shape(docs, tdf, template_kind="template"))


@dataclass
class Batches:
    """A bootstrap batch followed by delta batches, plus truth over all."""

    batches: list[pd.DataFrame]
    truth: pd.DataFrame
    shape: dict = field(default_factory=dict)


def incremental_batches(
    seed: int,
    n_base_docs: int,
    bootstrap_docs: int,
    n_deltas: int,
    fresh_per_delta: int,
    near_per_delta: int,
    exact_per_delta: int,
) -> Batches:
    """Split a realistic corpus into one bootstrap batch and ``n_deltas``
    small deltas. Each delta carries fresh pages, near copies (two-token
    edits) and exact copies of pages folded by earlier batches under new
    urls, and resubmits one url of the previous batch unchanged."""
    corpus = web_corpus(seed, n_base_docs)
    rng = np.random.default_rng(seed + 1)
    vocab, _ = _vocab(rng, 4000)
    docs = corpus.docs
    need = bootstrap_docs + n_deltas * fresh_per_delta
    if len(docs) < need:
        raise ValueError(f"corpus has {len(docs)} pages, the split needs {need}")
    batches = [docs.iloc[:bootstrap_docs].reset_index(drop=True)]
    copies: list[tuple[str, str, str]] = []
    folded = batches[0]
    for d in range(n_deltas):
        lo = bootstrap_docs + d * fresh_per_delta
        fresh = docs.iloc[lo : lo + fresh_per_delta]
        picks = rng.choice(len(folded), size=near_per_delta + exact_per_delta, replace=False)
        urls, texts = [], []
        for j, p in enumerate(picks):
            src = folded.iloc[int(p)]
            tokens = src["text"].split(" ")
            kind = "near" if j < near_per_delta else "exact"
            if kind == "near":
                tokens = _substitute(tokens, 2, rng, vocab)
            urls.append(f"https://delta{d}.example/{kind}/{j}")
            texts.append(" ".join(tokens))
            copies.append((src["url"], urls[-1], kind))
        resubmit = batches[-1].iloc[[int(rng.integers(0, len(batches[-1])))]]
        batch = pd.concat([fresh, _frame(urls, texts), resubmit], ignore_index=True)
        batches.append(batch)
        folded = pd.concat([folded, batch], ignore_index=True).drop_duplicates("url")
    all_truth = pd.concat(
        [corpus.truth, pd.DataFrame(copies, columns=["url_a", "url_b", "kind"])],
        ignore_index=True,
    )
    seen = set(folded["url"])
    all_truth = all_truth[all_truth["url_a"].isin(seen) & all_truth["url_b"].isin(seen)]
    shape = _shape(folded, all_truth)
    shape["batches"] = len(batches)
    shape["bootstrap_docs"] = bootstrap_docs
    shape["delta_docs"] = int(len(batches[1]))
    return Batches(batches, all_truth.reset_index(drop=True), shape)


def write_parquet(docs: pd.DataFrame, path: str, n_files: int) -> str:
    """Write ``docs`` as ``n_files`` parquet files so a scan splits into
    several tasks (one pandas row group would be one task)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(docs, preserve_index=False)
    per_file = -(-table.num_rows // n_files)
    for i in range(n_files):
        chunk = table.slice(i * per_file, per_file)
        if chunk.num_rows:
            # Spark cannot read TIMESTAMP(NANOS) parquet
            pq.write_table(
                chunk,
                os.path.join(path, f"part-{i:05d}.parquet"),
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
    return path


def reference_pairs(docs: pd.DataFrame, truth: pd.DataFrame, cfg) -> set[tuple[str, str]]:
    """Truth pairs whose exact shingle Jaccard reaches ``cfg.jaccard_threshold``."""
    from product_deduplication_spark.oracle.brute_force import shingle_sets

    text = dict(zip(docs["url"], docs["text"]))
    urls = sorted(set(truth["url_a"]) | set(truth["url_b"]))
    sets = dict(zip(urls, shingle_sets([text[u] for u in urls], cfg)))
    keep = set()
    for a, b in zip(truth["url_a"], truth["url_b"]):
        sa, sb = sets[a], sets[b]
        inter = np.intersect1d(sa, sb, assume_unique=True).size
        union = sa.size + sb.size - inter
        if union and inter / union >= cfg.jaccard_threshold:
            keep.add((a, b))
    return keep
