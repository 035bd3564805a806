"""Dedup cluster resolution: candidate pairs -> connected components ->
keeper per cluster, plus the SimHash banded-Hamming pairing that completes
the simhash path from signature to candidate pairs.

This is the step the reference's latest-snapshot idiom
(scripts/export_benchmark_results.py:47-56) generalizes to: where the
reference keeps one "best" row per single key, a dedup pipeline keeps one
keeper per *connected component* of the near-dup pair graph.

Scale design:
* Connected components run as iterative min-label propagation — each
  round is one (edges join labels) shuffle keyed by doc_id with map-side
  partial min, plus a cheap convergence agg. Near-dup clusters have tiny
  diameter (duplicates of one document), so rounds ~= 2-3 in practice;
  the loop localCheckpoints each round to truncate lineage so the plan
  does not grow with iterations. At 10^12 docs each round is a standard
  keyed shuffle — no driver-side state beyond one converged flag.
* SimHash banding: 4 bands x 7 bits of the 28-bit signature; with the
  pigeonhole bound, every pair within Hamming distance <= 3 shares at
  least one clean band, so the band-equality join has perfect recall at
  the verify threshold while bounding the candidate space (no all-pairs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._io import read_spread
from .dedup import (
    SIMHASH_BITS,
    SQL_MINHASH_LSH,
    SQL_SIMHASH,
    _pin,
    q_minhash_lsh_pairs,
    q_simhash,
)

# max label-propagation rounds: each round combines neighbor-min with a
# pointer jump (label-of-label), so label distance-to-root roughly HALVES
# per round — 24 rounds covers components of diameter ~2^24, and the loop
# exits early on convergence (near-dup clusters converge in 2-3)
MAX_CC_ROUNDS = 24

SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 7
HAMMING_K = 3  # recall-complete with 4 bands (pigeonhole: <=3 flips -> >=1 clean band)


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    ``vertices``: one column ``doc_id``; ``edges``: columns ``src``/``dst``
    (already symmetrized). Returns (doc_id, cluster_id) where cluster_id is
    the component's minimum doc_id. Each round: neighbor-min join PLUS a
    pointer jump (adopt the label of your current label) — the jump makes
    convergence O(log diameter) instead of O(diameter), so adversarially
    long chains cannot silently exhaust the round cap. Convergence check
    counts CHANGED labels (summing raw int64 labels could wrap silently
    with hashed 64-bit ids and fake convergence); the round-start label
    rides through the round as a ``prev_lab`` column, so the check is ONE
    aggregate over the just-checkpointed frame — no extra join of two
    checkpointed frames per round.
    """
    labels = vertices.select("doc_id", F.col("doc_id").alias("lab")).localCheckpoint()
    for i in range(MAX_CC_ROUNDS):
        cur = labels.select("doc_id", "lab")
        neigh = (
            edges.join(cur, edges["dst"] == cur["doc_id"])
            .groupBy("src")
            .agg(F.min("lab").alias("nlab"))
        )
        stepped = cur.join(neigh, cur["doc_id"] == neigh["src"], "left").select(
            "doc_id",
            F.col("lab").alias("prev_lab"),
            F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias("lab"),
        )
        # pointer jump: lab <- label(lab). Since labels only decrease and a
        # component min labels itself, jumping halves distance-to-min.
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("lab").alias("p_lab")
        )
        labels = (
            stepped.join(parent, stepped["lab"] == parent["p_id"], "left")
            .select(
                "doc_id",
                "prev_lab",
                F.least(F.col("lab"), F.coalesce(F.col("p_lab"), F.col("lab"))).alias("lab"),
            )
            .localCheckpoint()  # truncate lineage: plan stays O(1) per round
        )
        n_changed = (
            labels.agg(F.sum((F.col("lab") != F.col("prev_lab")).cast("long")))
            .collect()[0][0]
            or 0
        )
        if LAST_CC_STATS is not None:
            LAST_CC_STATS["cc_rounds"] = i + 1
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_CC_ROUNDS} rounds"
        )
    return labels.select("doc_id", F.col("lab").alias("cluster_id"))


# pair count below which components are resolved driver-side: a
# union-find over the collected pair list replaces ~4 Spark jobs PER
# CC ROUND (neighbor join, pointer jump, checkpoint, convergence agg)
# whose fixed scheduling cost dominates tiny graphs. 1e6 pairs ≈ 32 MB
# on the driver — far below any sane driver heap; above it, the
# distributed loop (same labels, min-id per component) takes over.
CC_DRIVER_MAX_PAIRS = int(os.environ.get("SPARK_GRAFT_CC_DRIVER_MAX_PAIRS", "1000000"))

# attribution telemetry (r6 VERDICT #4): the bench sets this to {} before
# a keeper query and snapshots it after, so BENCH json can explain a
# keeper-time regression (pair growth vs plan change) WITHOUT a second
# execution of the expensive pair plan. keeper_frame records the graph
# shape; connected_components records the round count when the
# distributed path runs. None = recording off (the default outside the
# bench; overhead is a few dict stores either way).
LAST_CC_STATS: dict | None = None


def _driver_union_find(pair_rows: list[tuple]) -> dict:
    """Min-id union-find over (doc_a, doc_b) tuples — exact same
    component labeling as connected_components (label = component min)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pair_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root, so root == component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def keeper_frame(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """pairs (doc_a, doc_b) + full id table (doc_id) -> per-id cluster
    assignment with keeper flag and size. Iterates ONLY over pair
    endpoints (duplicates are a small fraction of the corpus at 100 TB);
    untouched ids are singleton clusters by definition and join back
    without ever entering the loop.

    The pair plan (typically the full LSH-band-join + verify) runs ONCE,
    into a pin. ONE bounded collect (limit cap+1) from the pin sizes the
    graph and, when it fits, delivers the edge list: at or below
    CC_DRIVER_MAX_PAIRS a driver-side union-find resolves it (identical
    min-id labels, none of the per-round job overhead); past the cap the
    distributed label-propagation loop re-reads the pin every round.
    Both paths are covered by tests and produce identical frames."""
    pairs = _pin(pairs.select("doc_a", "doc_b"), "cc_pairs")
    head = pairs.limit(CC_DRIVER_MAX_PAIRS + 1).collect()
    shortcircuit = len(head) <= CC_DRIVER_MAX_PAIRS
    if LAST_CC_STATS is not None:
        LAST_CC_STATS.update(
            # at cap+1 the true pair count is unknown (the collect is
            # truncated); cc_pairs_exact records which reading applies
            cc_pairs=len(head),
            cc_pairs_exact=shortcircuit,
            cc_shortcircuit=shortcircuit,
            cc_rounds=0,
        )
    if shortcircuit:
        spark = pairs.sparkSession
        rows = [(r[0], r[1]) for r in head]
        labels = _driver_union_find(rows)
        if LAST_CC_STATS is not None:
            LAST_CC_STATS["cc_endpoints"] = len(labels)
            LAST_CC_STATS["cc_clusters"] = len(set(labels.values()))
        schema = pairs.select(
            F.col("doc_a").alias("doc_id"), F.col("doc_a").alias("lab")
        ).schema
        labs = spark.createDataFrame(
            [(k, v) for k, v in labels.items()], schema
        ).select("doc_id", F.col("lab").alias("cluster_id"))
        endpoints = labs.select("doc_id")
    else:
        edges = pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).toDF("src", "dst")
        endpoints = edges.select(F.col("src").alias("doc_id")).distinct()
        labs = connected_components(endpoints, edges)
    singletons = ids.join(endpoints, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    all_labs = labs.union(singletons)
    w = Window.partitionBy("cluster_id")
    return all_labs.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def q_cluster_keeper(spark, sf_dir):
    """MinHash-LSH verified pairs -> connected components -> keeper.

    Keeper = min(doc_id) per component (== cluster_id by construction);
    singleton docs keep themselves. The downstream dedup filter is simply
    ``WHERE is_keeper``.
    """
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = read_spread(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return keeper_frame(docs, pairs)


def q_embedding_cluster_keeper(spark, sf_dir):
    """The same pair->component->keeper resolution over the EMBEDDING
    near-dup modality (in-IVF-cell cosine pairs) — cluster resolution is
    modality-agnostic once candidates exist."""
    from .similarity import q_embedding_dup_bucketed

    pairs = q_embedding_dup_bucketed(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    vecs = read_spread(spark, f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id")
    )
    return keeper_frame(vecs, pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "is_keeper", "cluster_size"
    )


SQL_CLUSTER_KEEPER = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({SQL_MINHASH_LSH})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
), labs AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labs
"""


# ---------------------------------------------------------------------------
# SimHash banded-Hamming candidate pairs (completes the simhash dedup path)
# ---------------------------------------------------------------------------

def q_simhash_pairs(spark, sf_dir):
    # pinned: the 28-bit signature HOF is the expensive leg and both
    # self-join sides consume it
    sig = _pin(q_simhash(spark, sf_dir), "simhash_sig")
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        (
                            F.shiftright(F.col("simhash"), bi * SIMHASH_BAND_BITS)
                            .bitwiseAND(F.lit(mask))
                        ).alias("band_key"),
                    )
                    for bi in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    # Hamming filter INSIDE the join output, BEFORE distinct: the
    # deduplication then only shuffles the (rare) close pairs instead of
    # every band-bucket candidate — at a hot band this is the difference
    # between a distinct over O(bucket^2) rows and over the result size
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_K)
        .distinct()
    )


SQL_SIMHASH_PAIRS = f"""
WITH sig AS ({SQL_SIMHASH}),
bands AS (
  SELECT doc_id, simhash, unnest(range(0, {SIMHASH_BANDS})) AS band_id FROM sig
), keyed AS (
  SELECT doc_id, simhash, band_id,
         (simhash >> (band_id * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS band_key
  FROM bands
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM keyed a JOIN keyed b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_K}
"""


# ---------------------------------------------------------------------------
# end-to-end training-data prep: dedup keeper ∘ quality filter ∘ token
# rollup — the composition a 100-TB pretraining pipeline actually runs
# (dedup -> filter -> count tokens per language shard)
# ---------------------------------------------------------------------------

QUALITY_KEEP_THRESHOLD = 0.5


def q_training_prep(spark, sf_dir):
    from ..functions.text import r4
    from .textstats import q_quality_score, q_token_stats

    keep = q_cluster_keeper(spark, sf_dir).filter(F.col("is_keeper")).select("doc_id")
    qual = q_quality_score(spark, sf_dir)
    toks = q_token_stats(spark, sf_dir).select("doc_id", "n_tokens")
    j = (
        keep.join(qual, "doc_id")
        .join(toks, "doc_id")
        .filter(F.col("quality_score") >= QUALITY_KEEP_THRESHOLD)
    )
    # quality is already r4-quantized -> exact integer sum at 1e4 scale
    q4 = F.floor(F.col("quality_score") * 10000.0 + 0.5)
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        r4(F.sum(q4) / (10000.0 * F.count(F.lit(1)))).alias("avg_quality"),
    )


def _sql_training_prep() -> str:
    from .textstats import SQL_QUALITY_SCORE, SQL_TOKEN_STATS

    return f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       floor((sum(floor(quality_score * 10000.0 + 0.5))
              / (10000.0 * count(*))) * 10000 + 0.5) / 10000 AS avg_quality
FROM ({SQL_CLUSTER_KEEPER}) k
JOIN ({SQL_QUALITY_SCORE}) q USING (doc_id)
JOIN ({SQL_TOKEN_STATS}) t USING (doc_id)
WHERE k.is_keeper AND q.quality_score >= {QUALITY_KEEP_THRESHOLD}
GROUP BY lang
"""


def _sql_embedding_keeper() -> str:
    from .similarity import SQL_EMBEDDING_DUP_BUCKETED

    return f"""
WITH RECURSIVE pairs AS (
  SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({SQL_EMBEDDING_DUP_BUCKETED})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
), labs AS (
  SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT vec_id, cluster_id, vec_id = cluster_id AS is_keeper,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labs
"""


QUERIES = {
    "dedup_cluster_keeper": q_cluster_keeper,
    "dedup_embedding_cluster_keeper": q_embedding_cluster_keeper,
    "dedup_simhash_pairs": q_simhash_pairs,
    "pipeline_training_prep": q_training_prep,
}

ORACLES = {
    "dedup_cluster_keeper": SQL_CLUSTER_KEEPER,
    "dedup_embedding_cluster_keeper": _sql_embedding_keeper(),
    "dedup_simhash_pairs": SQL_SIMHASH_PAIRS,
    "pipeline_training_prep": _sql_training_prep(),
}
