"""Flagship extraction job: salted url-hash repartition -> Arrow kernel.

Physical plan (SURVEY.md §4):

    scan pages (column-pruned: url, warc_ts, html, lang)
    -> Project partition_id = pmod(hash(xxhash64(url)), P)  (data-derived)
    -> [Filter partition_id NOT IN live ids]               (resume, J6)
    -> Exchange hashpartitioning(xxhash64(url), P)         (skew-defeating)
    -> MapInPandas extract_batch (bounded Arrow batches)
    -> Project (html dropped — blobs never survive the kernel)

Scale notes: the partition key is the 64-bit hash of the FULL url
(``xxhash64``), so a host contributing 30% of documents still spreads
uniformly across all P partitions — host-level skew cannot concentrate
(north_rule salting requirement). The logical ``partition_id`` is the
bucket the exchange itself assigns, so task ``i`` holds exactly the rows
of ``partition_id = i`` and the sink writes them without a second
shuffle. The blob column is projected away immediately after the
kernel, so no shuffle ever moves document bytes again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels import extract_batch
from ..schemas import EXTRACTED_SCHEMA

DEFAULT_PARTITIONS = 64
# names the partition_id rule of :func:`salted_pages`; tables record it so
# a resume never mixes ids assigned by two rules
PARTITION_ID_RULE = "pmod(hash(xxhash64(url)), P)"

# per-page processing cost (reference pricing model, ocr_common.py:345-346)
COST_PER_PAGE_USD = 0.002


def salted_pages(pages: DataFrame, num_partitions: int = DEFAULT_PARTITIONS) -> DataFrame:
    """Tag rows with a stable logical ``partition_id`` and spread them.

    The exchange hashes the raw 64-bit key ``xxhash64(url)`` (north_rule:
    "salts and repartitions on a 64-bit url hash"), not a modded id:
    hashing P distinct ids into P buckets collides birthday-style
    (measured 4.0x max/median task time on 64/64 — round-6
    partition_skew probe), while the raw key spreads binomially (~1.05x).
    ``partition_id = pmod(hash(key), P)`` (:data:`PARTITION_ID_RULE`) is
    Spark's own ``HashPartitioning`` bucket of that key (murmur3, seed
    42), so it equals the task's ``spark_partition_id()``. It is
    deterministic from the data, not the scheduler, so lineage keyed by
    it survives restarts.
    """
    key = F.xxhash64(F.col("url"))
    tagged = pages.withColumn(
        "partition_id", F.pmod(F.hash(key), F.lit(num_partitions)).cast("int")
    )
    return tagged.repartition(num_partitions, key)


def run_extraction(
    pages: DataFrame,
    num_partitions: int = DEFAULT_PARTITIONS,
    done_partitions: list[int] | None = None,
) -> DataFrame:
    """pages -> extracted DataFrame (EXTRACTED_SCHEMA).

    ``done_partitions``: optional ids of already-succeeded partitions
    (checkpoint resume, J6) — removed by a ``partition_id NOT IN`` filter,
    which Catalyst places below the salted exchange, so no extraction or
    shuffle work happens for them.
    """
    cols = [c for c in ("url", "warc_ts", "html", "text", "lang") if c in pages.columns]
    df = salted_pages(pages.select(*cols), num_partitions)
    if done_partitions:
        df = df.filter(~F.col("partition_id").isin(done_partitions))
    extracted = df.select("url", "warc_ts", "lang", "html", "partition_id").mapInPandas(
        extract_batch, EXTRACTED_SCHEMA
    )
    # O8 cost accounting (reference: ocr_common.py:345-346, cost = pages *
    # $0.002) — a Catalyst column, not kernel Python: the cost model is
    # pure arithmetic over n_pages, so it stays in codegen
    return extracted.withColumn(
        "cost_usd", F.coalesce(F.col("n_pages"), F.lit(0)) * F.lit(COST_PER_PAGE_USD)
    )
