"""End-to-end near-duplicate pipeline (SURVEY.md §7.1 architecture).

ingest(url, warc_ts, html, text, lang)
  → s1_docs:       doc_id = xxhash64(url), optional extract_text(html) check
  → s2_features:   shingles + MinHash (+ SimHash) in one Arrow UDF pass
  → s3_exact:      sha2(text) star edges
  → s4_candidates: LSH band collisions (+ SimHash channel)
  → s5_verified:   exact-Jaccard verified near-dup edges
  → s6_clusters:   large-star/small-star CC + winner per cluster (longest
                   text, earliest warc_ts tiebreak — webtext analog of
                   winner selection, reference/winner_selection.py:108-109)

Mirrors the reference entry point ``groups_creation.main``
(``reference/groups_creation.py:249-304``) with the substitutions documented
in SURVEY.md §2. ``run_dedup`` is the one composition of this chain: the
resumable job (jobs/run_pipeline.py) runs it with a snapshot hook per stage,
and the incremental path (streaming/incremental.py) reuses the stage
functions below on delta inputs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.caching import CacheScope
from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions.features import make_extract_text_udf, with_features
from product_deduplication_spark.operators.connected_components import (
    assign_clusters_contracted,
)
from product_deduplication_spark.operators.exact_dedup import exact_duplicate_edges
from product_deduplication_spark.operators.lsh import candidate_pairs
from product_deduplication_spark.operators.simhash_join import simhash_candidate_pairs
from product_deduplication_spark.operators.verify import verify_pairs

# stage names run_dedup passes to its ``stage`` hook, in execution order
STAGES = ("s1_docs", "s2_features", "s3_exact", "s4_candidates", "s5_verified", "s6_clusters")


@dataclass
class DedupResult:
    docs: DataFrame        # url, warc_ts, lang, text, doc_id
    features: DataFrame    # doc_id, shingles, minhash, simhash
    exact_edges: DataFrame # src, dst, method, similarity
    near_edges: DataFrame  # verified near-dup edges
    all_edges: DataFrame
    clusters: DataFrame    # url, doc_id, cluster_id, is_winner
    # every cache the pipeline created (features + operator-internal
    # persists); callers release after materializing whichever outputs they
    # need — required when running the pipeline repeatedly in one session
    caches: CacheScope = field(default_factory=CacheScope)

    def release(self) -> None:
        """Unpersist every cache this run created (features, LSH bucket
        members, CC contraction mapping). Re-reading a DedupResult DataFrame
        afterwards recomputes it from source."""
        self.caches.release()


def prepare_docs(df: DataFrame, cfg: DedupConfig, validate_extraction: bool = False) -> DataFrame:
    """Stage s1: doc ids + optional byte-identical extraction check.

    ``doc_id = xxhash64(url)`` gives long node ids for all downstream joins
    (cf. integer encoding rationale, reference/static.py:267-271).
    """
    out = df.withColumn("doc_id", F.xxhash64("url"))
    if validate_extraction and "html" in df.columns:
        extract = make_extract_text_udf()
        out = out.withColumn("_extracted", extract(F.col("html")))
        # invariant (input_hint): extracted text byte-identical to text column
        out = out.withColumn(
            "extraction_ok", F.col("_extracted") == F.col("text")
        ).drop("_extracted")
    return out


def eligible_docs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Docs long enough for the exact and near-dup stages. Shorter ones
    (empty pages) stay singletons instead of sharing one sha2 class."""
    return docs.where(F.length("text") >= cfg.min_doc_chars)


def doc_features(eligible: DataFrame, cfg: DedupConfig, use_simhash: bool) -> DataFrame:
    """(doc_id, shingles, minhash, simhash, bands) per eligible doc; simhash
    is NULL unless the SimHash channel consumes it."""
    return with_features(eligible.select("doc_id", "text"), cfg, simhash=use_simhash).select(
        "doc_id", "shingles", "minhash", "simhash", "bands"
    )


def pick_winners(clusters: DataFrame) -> DataFrame:
    """Winner per cluster: longest text, then earliest warc_ts, then min url.

    Webtext analog of reference winner selection (W2 group argmax,
    ``reference/winner_selection.py:108-109``).

    Ordering uses a precomputed ``_text_len`` column when one is present.
    It must equal ``length(text)`` of the final text column, and only the
    shared winner step (:func:`clusters_with_winners`) adds it: tagged on
    the doc relation BEFORE the cluster-label join, it lets column pruning
    drop ``text`` (and ``html``) from the join exchange for consumers that
    never select it, whereas ``length(text)`` referenced only above that
    join forces the full payload through the shuffle (guide §2.3 — shuffle
    metadata, not payloads). Identical ordering either way."""
    length_col = "_text_len" if "_text_len" in clusters.columns else None
    order = [F.desc(F.col(length_col) if length_col else F.length("text"))]
    if "warc_ts" in clusters.columns:
        order.append(F.asc("warc_ts"))
    order.append(F.asc("url"))
    w = Window.partitionBy("cluster_id").orderBy(*order)
    return clusters.withColumn("is_winner", F.row_number().over(w) == 1)


def clusters_with_winners(
    docs: DataFrame, assign: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """(url, doc_id, cluster_id, is_winner) per doc. ``assign`` adds
    ``cluster_id`` to the docs it is given; they carry ``_text_len`` for
    :func:`pick_winners`, which is dropped again before the projection."""
    clustered = assign(docs.withColumn("_text_len", F.length("text")))
    return (
        pick_winners(clustered)
        .drop("_text_len")
        .select("url", "doc_id", "cluster_id", "is_winner")
    )


def clusters_to_groups(clusters: DataFrame) -> DataFrame:
    """Reshape cluster assignments into the reference's groups-table shape
    (group_id, leader, member, item_uuid, item_name) —
    ``reference/groups_creation.py:292-294`` — so the canonical upsert
    (operators/canonical.py) consumes webtext clusters unchanged."""
    w = Window.partitionBy("cluster_id").orderBy(F.desc("is_winner"), F.asc("url"))
    return clusters.select(
        F.col("cluster_id").alias("group_id"),
        F.first("url").over(w).alias("leader"),
        F.col("url").alias("member"),
        F.col("url").alias("item_uuid"),
        F.col("url").alias("item_name"),
    )


def run_full(
    df: DataFrame,
    catalog,
    cfg: DedupConfig | None = None,
    use_simhash: bool = False,
):
    """Dedup + persistent canonical lifecycle in one call: run the pipeline,
    then bootstrap or upsert the canonical tables through the snapshot
    catalog (the reference's first-run/incremental branch,
    ``reference/clean_canonical.py:296-338``). Returns (DedupResult,
    canonical_catalog, canonical_links)."""
    from product_deduplication_spark.operators.canonical import (
        bootstrap_canonical,
        upsert_canonical,
    )

    cfg = cfg or DedupConfig()
    res = run_dedup(df, cfg, use_simhash=use_simhash)
    groups = clusters_to_groups(res.clusters)
    if catalog.has_stage("canonical_catalog"):
        cat_df = catalog.read_stage("canonical_catalog")
        links_df = catalog.read_stage("canonical_links")
        cat_df, links_df = upsert_canonical(cat_df, links_df, groups)
    else:
        cat_df, links_df = bootstrap_canonical(groups)
    catalog.write_stage(cat_df, "canonical_catalog")
    catalog.write_stage(links_df, "canonical_links")
    return res, catalog.read_stage("canonical_catalog"), catalog.read_stage("canonical_links")


def run_dedup(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    use_simhash: bool = False,
    validate_extraction: bool = False,
    stage: Callable[[str, Callable[[], DataFrame]], DataFrame] | None = None,
) -> DedupResult:
    """Run the chain s1_docs..s6_clusters (module docstring).

    ``stage(name, compute)`` is called once per stage, in :data:`STAGES`
    order, with a thunk that builds the stage from the upstream outputs; it
    returns the DataFrame the downstream stages read. The default returns
    ``compute()``, so every stage stays lazy; the resumable job passes a
    hook around ``SnapshotCatalog.get_or_compute``."""
    cfg = cfg or DedupConfig()
    stage = stage or (lambda name, compute: compute())
    scope = CacheScope()
    docs = stage(
        "s1_docs",
        lambda: prepare_docs(df, cfg, validate_extraction=validate_extraction).drop("html"),
    )
    eligible = eligible_docs(docs, cfg)
    # features feed 2-3 downstream consumers — cache once
    feats = scope.persist(stage("s2_features", lambda: doc_features(eligible, cfg, use_simhash)))
    exact = stage("s3_exact", lambda: exact_duplicate_edges(eligible, "doc_id", "text"))

    def candidates() -> DataFrame:
        pairs = candidate_pairs(feats, cfg, scope=scope)
        if use_simhash:
            pairs = pairs.unionByName(simhash_candidate_pairs(feats, cfg)).dropDuplicates(
                ["src", "dst"]
            )
        return pairs

    pairs = stage("s4_candidates", candidates)
    near = stage("s5_verified", lambda: verify_pairs(pairs, feats, cfg))

    # exact-dup classes are star components already — contract them to their
    # min-id hubs so the iterative CC runs on the near-dup graph only (label
    # equality with the uncontracted CC is pinned in tests; at web scale the
    # exact stars dominate the edge list)
    clustered = stage(
        "s6_clusters",
        lambda: clusters_with_winners(
            docs,
            lambda d: assign_clusters_contracted(
                d, exact.select("src", "dst"), near.select("src", "dst"), "doc_id",
                scope=scope,
            ),
        ),
    )
    return DedupResult(
        docs=docs,
        features=feats,
        exact_edges=exact,
        near_edges=near,
        all_edges=exact.unionByName(near).dropDuplicates(["src", "dst"]),
        clusters=clustered,
        caches=scope,
    )
