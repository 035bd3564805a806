"""End-to-end corpus deduplication: documents -> MinHash-LSH candidate
pairs -> connected components -> keeper filter -> deduplicated corpus.

The user-facing composition of the dedup layer (operators/dedup.py +
operators/cluster.py): what a training-data pipeline actually runs. The
reference's single-key latest-snapshot rule
(``scripts/export_benchmark_results.py:47-56``) is the 1-edge special
case of this keeper selection.

Scale shape: signatures and candidate pairs are standard keyed shuffles
(shingle/band keys bound the pair space); the component loop is
O(cluster diameter) keyed joins (near-dup clusters are shallow); the
final keeper filter is a broadcast-able semi-join when the duplicate
fraction is small, else a plain hash join on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cluster import keeper_frame


def resolve_clusters(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) near-dup pairs + full doc table -> per-doc cluster
    assignment (doc_id, cluster_id, is_keeper, cluster_size).

    Delegates to :func:`operators.cluster.keeper_frame` — endpoints-only
    component resolution with the adaptive driver-side union-find
    short-circuit for small pair sets — so the user-facing pipeline and
    the driver queries share one resolution code path."""
    return keeper_frame(docs.select("doc_id"), pairs.select("doc_a", "doc_b"))


def dedupe_corpus(
    docs: DataFrame, pairs: DataFrame | None = None, clusters: DataFrame | None = None
) -> DataFrame:
    """Keep one representative per near-dup cluster (the min doc_id),
    preserving every original column plus cluster_id/cluster_size.

    Pass ``clusters`` (a resolve_clusters result, e.g. re-read from its
    written parquet) to reuse an existing resolution — the iterative
    component loop runs actions per round, so recomputing it per consumer
    doubles the job's work."""
    if clusters is None:
        if pairs is None:
            raise ValueError("dedupe_corpus requires either pairs or clusters")
        clusters = resolve_clusters(pairs, docs)
    keepers = clusters.filter(F.col("is_keeper")).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return docs.join(keepers, "doc_id")
