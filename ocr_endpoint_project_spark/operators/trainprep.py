"""Training-run preparation operators — the last mile of a web-scale
training-data pipeline, after extraction/dedup/quality: deterministic
split assignment, concat-and-chunk sequence packing, temperature-based
domain mixture weights, and an iterative host-graph rank (the classic
"importance prior" for crawl/corpus weighting).

Everything is exact-integer or single-IEEE-op arithmetic so the DuckDB
oracles are bit-identical (see functions/text.py rounding notes). All
shapes are shuffle-minimal:

* split assignment is a pure map (zero shuffles) — the split is a hash
  of the doc id, so it is stable under re-runs, re-partitioning, and
  incremental corpus growth (a new doc never flips an old doc's split);
* packing windows are per-shard (shard = hash(doc) % N_SHARDS) — each
  shard's running sum is independent, so shards scale out like writer
  tasks in a real tokenizer-sharding job;
* mixture weights aggregate to one tiny domain table first (map-side
  partial aggregation), then do driver-scale window math on ~#domains
  rows;
* pagerank shuffles only (src)->(dst) contributions per iteration, the
  canonical join+groupBy plan AQE handles at any graph size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._io import read_spread
from .dedup import _pin
from ..functions.text import (
    SQL_NORM_TOKENS,
    SQL_SHINGLE_HASH32,
    hoist,
    norm_tokens,
    r4,
    shingle_hash32,
    sql_r4,
    token_count,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_spread(spark, f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_spread(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# deterministic train/val/test split (reference analog: the fixed
# ground-truth eval corpus, pages/2_OCR_Benchmark.py:62 DB_DIR —
# generalized to the hash-bucket split a large-corpus training run uses
# so the held-out set stays fixed as the corpus grows)
# ---------------------------------------------------------------------------

_SPLIT_BUCKETS = 1000
_TEST_LT = 100   # 10% test
_VAL_LT = 200    # next 10% val, remaining 80% train


def _bucket_expr():
    return shingle_hash32(
        F.concat(F.lit("split|"), F.col("doc_id").cast("string"))
    ) % _SPLIT_BUCKETS


_SQL_BUCKET = (
    SQL_SHINGLE_HASH32.format(s="'split|' || CAST(doc_id AS VARCHAR)")
    + f" % {_SPLIT_BUCKETS}"
)


def split_assign(docs: DataFrame) -> DataFrame:
    """Hash-bucket split over any (doc_id, ...) frame: stable per doc,
    no RNG, no shuffle. Adding or removing documents never reassigns
    survivors (unlike randomSplit)."""
    bucket = _bucket_expr()
    return docs.withColumns(
        {
            "bucket": bucket.cast("bigint"),
            "split": F.when(bucket < _TEST_LT, F.lit("test"))
            .when(bucket < _VAL_LT, F.lit("val"))
            .otherwise(F.lit("train")),
        }
    )


def q_train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return split_assign(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "bucket", "split"
    )


SQL_TRAIN_SPLIT_ASSIGN = f"""
SELECT doc_id, lang,
       CAST(b AS BIGINT) AS bucket,
       CASE WHEN b < {_TEST_LT} THEN 'test'
            WHEN b < {_VAL_LT} THEN 'val'
            ELSE 'train' END AS split
FROM (SELECT doc_id, lang, {_SQL_BUCKET} AS b FROM documents)
"""


def q_train_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit: per (split, lang) doc counts and ppm share
    of the corpus — all integer arithmetic (cnt*1e6 div total)."""
    assigned = q_train_split_assign(spark, sf_dir)
    per = assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    total = assigned.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "split",
            "lang",
            "n_docs",
            F.expr("n_docs * 1000000 div t").cast("bigint").alias("share_ppm"),
        )
    )


SQL_TRAIN_SPLIT_SUMMARY = f"""
WITH assigned AS (
  SELECT doc_id, lang,
         CASE WHEN b < {_TEST_LT} THEN 'test'
              WHEN b < {_VAL_LT} THEN 'val'
              ELSE 'train' END AS split
  FROM (SELECT doc_id, lang, {_SQL_BUCKET} AS b FROM documents)
)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) * 1000000 // (SELECT count(*) FROM assigned) AS BIGINT)
           AS share_ppm
FROM assigned
GROUP BY split, lang
"""


# ---------------------------------------------------------------------------
# concat-and-chunk sequence packing: documents are tokenized, concatenated
# per shard in doc_id order, and sliced into fixed PACK_TOKENS windows —
# the standard LLM pretraining packing scheme (no padding waste; docs may
# span pack boundaries). The running offset is a per-shard window cumsum;
# shards are independent, so the job scales out with the shard count
# (set N_SHARDS ~ writer parallelism in production).
# ---------------------------------------------------------------------------

N_SHARDS = 8  # oracle-pinned default; production callers pass n_shards
PACK_TOKENS = 256


def _shard_col(n_shards: int):
    return (
        shingle_hash32(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
        % n_shards
    ).cast("bigint")


def pack_sequences(in_docs: DataFrame, n_shards: int | None = None) -> DataFrame:
    """Concat-and-chunk packing manifest over any (doc_id, text) frame.

    ``n_shards`` is the scale knob: each shard's running-sum window sorts
    1/n_shards of the corpus through one task, so it should track writer
    parallelism (default: the input's partition count — at 1000 executors
    a well-partitioned input gives ~1000 independent windows).  The
    oracle wrapper pins ``N_SHARDS`` = 8 so cross-engine hashes stay
    stable; offsets are correct for ANY shard count (shards are
    independent by construction).
    """
    if n_shards is None:
        n_shards = max(in_docs.rdd.getNumPartitions(), 1)
    shard = _shard_col(n_shards)
    docs = in_docs.select(
        "doc_id",
        shard.alias("shard"),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    out = docs.select(
        "doc_id",
        "shard",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("tok_start"),
        cum.alias("tok_end"),
    )
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        "tok_start",
        "tok_end",
        F.expr(f"tok_start div {PACK_TOKENS}").alias("pack_first"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(tok_end - 1) div {PACK_TOKENS}"),
        )
        .otherwise(F.expr(f"tok_start div {PACK_TOKENS}"))
        .alias("pack_last"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(tok_end - 1) div {PACK_TOKENS}")
            - F.expr(f"tok_start div {PACK_TOKENS}")
            + 1,
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("n_packs_spanned"),
    )


def q_train_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(_docs(spark, sf_dir), n_shards=N_SHARDS)


_SQL_SHARD = (
    SQL_SHINGLE_HASH32.format(s="'shard|' || CAST(doc_id AS VARCHAR)")
    + f" % {N_SHARDS}"
)

SQL_TRAIN_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id,
         CAST({_SQL_SHARD} AS BIGINT) AS shard,
         CAST(len({SQL_NORM_TOKENS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents
), offs AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS tok_end
  FROM toks
)
SELECT doc_id, shard, n_tokens,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_end AS BIGINT) AS tok_end,
       CAST(tok_start // {PACK_TOKENS} AS BIGINT) AS pack_first,
       CAST(CASE WHEN n_tokens > 0 THEN (tok_end - 1) // {PACK_TOKENS}
                 ELSE tok_start // {PACK_TOKENS} END AS BIGINT) AS pack_last,
       CAST(CASE WHEN n_tokens > 0
                 THEN (tok_end - 1) // {PACK_TOKENS} - tok_start // {PACK_TOKENS} + 1
                 ELSE 0 END AS BIGINT) AS n_packs_spanned
FROM offs
"""


# ---------------------------------------------------------------------------
# temperature-based domain mixture weights: w_d ∝ n_d^(1/T) with T=2
# (sqrt scaling — the UnifiedQA/mT5 sampling rule). sqrt over an exact
# integer count is one correctly-rounded IEEE op, so both engines agree
# bit-for-bit; the scaled value is floored to an integer immediately and
# every downstream ratio is exact-int / exact-int.
# ---------------------------------------------------------------------------

def q_train_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _docs(spark, sf_dir)
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    scaled = per.select(
        "source",
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("sqrt_scaled"),
    )
    # post-agg table is ~#domains rows: an unpartitioned window here is
    # driver-scale math, not a data-scale shuffle
    w = Window.partitionBy()
    tot_docs = F.sum("n_docs").over(w)
    tot_scaled = F.sum("sqrt_scaled").over(w)
    return scaled.select(
        "source",
        "lang",
        "n_docs",
        r4(F.col("sqrt_scaled").cast("double") / tot_scaled).alias("weight"),
        # oversample factor vs natural frequency: weight / (n_d / N)
        r4(
            (F.col("sqrt_scaled").cast("double") / tot_scaled)
            / (F.col("n_docs").cast("double") / tot_docs)
        ).alias("oversample"),
    )


SQL_TRAIN_MIX_WEIGHTS = f"""
WITH per AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source, lang
), scaled AS (
  SELECT source, lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             AS sqrt_scaled
  FROM per
)
SELECT source, lang, n_docs,
       {sql_r4('CAST(sqrt_scaled AS DOUBLE) / sum(sqrt_scaled) OVER ()')} AS weight,
       {sql_r4('(CAST(sqrt_scaled AS DOUBLE) / sum(sqrt_scaled) OVER ())'
               ' / (CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ())')} AS oversample
FROM scaled
"""


# ---------------------------------------------------------------------------
# host-graph rank: 3 damped power iterations over a link graph, all
# integer arithmetic (ranks in ppm, contributions via integer division,
# dangling mass dropped — consistently in both engines). The per-iteration
# plan is the canonical edges⋈ranks shuffle + groupBy(dst) partial agg; at
# web scale the edge table partitions on src and AQE handles hub skew.
# The graph is REAL since round 7: edges come from <a href> values the
# HTML kernel extracts from the rendered pages (operators/extraction.
# extracted_link_edges — same construction q_web_link_graph oracles), so
# pagerank consumes the extraction pipeline's output, not a synthesized
# proxy. Three unrolled iterations keep the lineage shallow; a deeper run
# would localCheckpoint each round exactly like the connected-components
# loop in operators/cluster.py (plans stay O(1) per iteration).
# ---------------------------------------------------------------------------

_PR_INIT = 1_000_000     # ppm
_PR_ITERS = 3


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extraction import extracted_link_edges
    from ..pipeline.extract import run_extraction
    from ..sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    extracted = run_extraction(pages, num_partitions=16)
    return (
        extracted_link_edges(extracted)
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
        .distinct()
    )


def q_web_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.select("host", F.lit(_PR_INIT).cast("bigint").alias("rank_ppm"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.host)
            .join(outdeg, "src")
            .select("dst", F.expr("rank_ppm div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = (
            nodes.join(contrib, nodes.host == contrib.dst, "left")
            .select(
                "host",
                (
                    F.lit(150_000)
                    + F.expr("850 * coalesce(inc, 0) div 1000")
                ).cast("bigint").alias("rank_ppm"),
            )
        )
    return ranks


def _sql_pr_iter(prev: str) -> str:
    return f"""
  SELECT n.host,
         CAST(150000 + 850 * coalesce(i.inc, 0) // 1000 AS BIGINT) AS rank_ppm
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(r.rank_ppm // o.outdeg) AS inc
    FROM edges e
    JOIN {prev} r ON e.src = r.host
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) i ON n.host = i.dst
"""


def _sql_link_edges() -> str:
    from .extraction import _SQL_LINK_T

    return f"""
  SELECT DISTINCT src_host AS src, dst_host AS dst FROM (
    {_SQL_LINK_T.format(h=1, p=1000)}
    UNION ALL
    {_SQL_LINK_T.format(h=2, p=2000)}
  ) WHERE src_host != dst_host
"""


SQL_WEB_HOST_PAGERANK = f"""
WITH edges AS (
  {_sql_link_edges()}
), nodes AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
), outdeg AS (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), r0 AS (
  SELECT host, CAST({_PR_INIT} AS BIGINT) AS rank_ppm FROM nodes
), r1 AS ({_sql_pr_iter('r0')}
), r2 AS ({_sql_pr_iter('r1')}
), r3 AS ({_sql_pr_iter('r2')}
)
SELECT host, rank_ppm FROM r3
"""


# ---------------------------------------------------------------------------
# deterministic per-domain sampling: the k docs with the SMALLEST split
# hash per source — a reproducible "reservoir" that needs no RNG state
# and is stable under corpus growth within the kept set's hash range.
# Plan: one shuffle on source for the window; at web scale source
# cardinality is high (hosts), so the window partitions are small and
# skew-free. Ties cannot happen (hash is over the unique doc_id).
# ---------------------------------------------------------------------------

SAMPLE_K = 20


def q_train_sample_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = shingle_hash32(F.concat(F.lit("sample|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", "lang", h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("sample_rank") <= SAMPLE_K)
        .select("doc_id", "source", "lang", "sample_rank")
    )


_SQL_SAMPLE_H = SQL_SHINGLE_HASH32.format(s="'sample|' || CAST(doc_id AS VARCHAR)")

SQL_TRAIN_SAMPLE_PER_DOMAIN = f"""
SELECT doc_id, source, lang, CAST(sample_rank AS BIGINT) AS sample_rank
FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source ORDER BY {_SQL_SAMPLE_H}, doc_id)
             AS sample_rank
  FROM documents
)
WHERE sample_rank <= {SAMPLE_K}
"""


# ---------------------------------------------------------------------------
# vocabulary building (tokenizer prep): global token counts -> top-N
# vocab with stable ids and cumulative-coverage ppm. Plan: explode ->
# map-side partial count -> one shuffle on token; the top-N + running
# coverage runs on the AGGREGATED table (vocab-sized, not corpus-sized).
# Hub tokens ("the") are exactly the partial-agg case Spark combines
# map-side, so the hot key never concentrates raw rows on one reducer.
# ---------------------------------------------------------------------------

VOCAB_N = 200


def q_train_vocab_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(norm_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # the denominator is just the corpus token count — a map+agg over the
    # docs table, NOT a second pass over the exploded/grouped counts
    # (which would recompute the token shuffle for one scalar)
    total = docs.groupBy().agg(
        F.sum(token_count("text").cast("bigint")).alias("t")
    )
    # orderBy().limit() compiles to TakeOrderedAndProject — a per-partition
    # top-N then a driver merge of N-row heads — so the billion-row tail of
    # rare tokens never funnels through one window partition; only the
    # final N rows see the (cheap) global window below
    top = counts.orderBy(F.desc("n"), "token").limit(VOCAB_N)
    w = Window.orderBy(F.desc("n"), "token")
    return (
        top.withColumn("token_id", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "cum_coverage_ppm",
            F.expr(
                "sum(n) OVER (ORDER BY token_id ROWS UNBOUNDED PRECEDING)"
                " * 1000000 div t"
            ).cast("bigint"),
        )
        .select("token_id", "token", "n", "cum_coverage_ppm")
    )


SQL_TRAIN_VOCAB_TOPN = f"""
WITH counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({SQL_NORM_TOKENS.format(col='text')}) AS token FROM documents)
  GROUP BY token
), ranked AS (
  SELECT token, n,
         CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id
  FROM counts
)
SELECT token_id, token, n,
       CAST(sum(n) OVER (ORDER BY token_id ROWS UNBOUNDED PRECEDING)
            * 1000000 // (SELECT sum(n) FROM counts) AS BIGINT)
           AS cum_coverage_ppm
FROM ranked
WHERE token_id <= {VOCAB_N}
"""


# ---------------------------------------------------------------------------
# curriculum phases: docs ranked by the hashed-linear quality logit and
# cut into quartile phases (phase 1 = cleanest; train easy->hard). A
# GLOBAL ntile would sort the corpus through one partition, so phases are
# assigned within hash shards — per-shard quartiles converge to the
# global ones by exchangeability of the hash assignment, and each
# shard's window is independently bounded (same scaling argument as the
# packing shards above). Ordering (logit desc, doc_id) is total, so
# ntile is deterministic in both engines.
# ---------------------------------------------------------------------------

CURRICULUM_PHASES = 4


def curriculum(
    in_docs: DataFrame,
    n_shards: int | None = None,
    phases: int = CURRICULUM_PHASES,
) -> DataFrame:
    """Phase assignment over any (doc_id, text) frame; ``n_shards`` is
    the same scale knob as :func:`pack_sequences` (per-shard ntile
    window sorts 1/n_shards of the corpus; default = input partitions;
    the oracle wrapper pins 8)."""
    if n_shards is None:
        n_shards = max(in_docs.rdd.getNumPartitions(), 1)
    toks = norm_tokens("text")
    logit = F.aggregate(
        F.transform(toks, lambda t: shingle_hash32(t) % 2001 - 1000),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    docs = in_docs.select(
        "doc_id", _shard_col(n_shards).alias("shard"), logit.alias("logit")
    )
    w = Window.partitionBy("shard").orderBy(F.desc("logit"), "doc_id")
    return docs.select(
        "doc_id",
        "shard",
        "logit",
        F.ntile(phases).over(w).cast("bigint").alias("phase"),
    )


def q_train_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curriculum(_docs(spark, sf_dir), n_shards=N_SHARDS)


SQL_TRAIN_CURRICULUM = f"""
WITH scored AS (
  SELECT doc_id,
         CAST({_SQL_SHARD} AS BIGINT) AS shard,
         CAST(coalesce(list_sum(list_transform({SQL_NORM_TOKENS.format(col='text')},
             t -> {SQL_SHINGLE_HASH32.format(s='t')} % 2001 - 1000)), 0) AS BIGINT)
             AS logit
  FROM documents
)
SELECT doc_id, shard, logit,
       CAST(ntile({CURRICULUM_PHASES})
            OVER (PARTITION BY shard ORDER BY logit DESC, doc_id) AS BIGINT)
           AS phase
FROM scored
"""


# ---------------------------------------------------------------------------
# in-engine quality-classifier TRAINING (r7): the DCLM/CCNet pattern of
# training a cheap linear probe on seed labels before filtering a crawl
# at scale — here as a full-batch gradient descent over hashed
# token-count features, entirely in exact int64 arithmetic so the whole
# training trajectory (weights after every unrolled iteration) is
# bit-identical across engines and oracle-checkable.
#
# Shape per iteration: ONE map-side-combinable groupBy().agg over the
# feature frame (K gradient sums + nothing else crosses the wire), then
# a K-scalar driver update folded into the next iteration's literals —
# the same bounded-driver pattern as the k-means centroids. At 100 TB
# the feature frame materializes once (it is the expensive scan) and
# each GD step stays one cheap aggregate over it.
#
# Seed labels: y = [doc has >= QP_LEN_T tokens] — a deterministic
# quality rule the features can express exactly (bucket counts sum to
# the token count), so the probe verifiably LEARNS (accuracy -> ~1)
# rather than memorizing noise; swap the label column for human/LLM
# seed labels in production, the training plan is label-agnostic.
# Integer discipline: scores are scaled by QP_S and divided with
# truncation-toward-zero, which Spark's `div` and DuckDB's `//` both
# implement even for negatives (verified; PYTHON's // floors, hence the
# explicit _tdiv in the driver update).
# ---------------------------------------------------------------------------

QP_K = 8            # hashed feature buckets
QP_S = 1_000_000    # label/score scale (ppm)
QP_D = 1_000        # score divisor (keeps dot products in range)
QP_ITERS = 3        # unrolled full-batch GD steps
QP_LEN_T = 60       # seed-label token threshold


def _tdiv(a: int, b: int) -> int:
    """Truncation-toward-zero integer division (== Spark `div`,
    DuckDB `//`; Python's // floors for negatives)."""
    return -((-a) // b) if a < 0 else a // b


def _qp_features(docs: DataFrame) -> DataFrame:
    """(doc_id, y_s, x0..x{K-1}): hashed token-bucket counts + the seed
    label, via explode -> conditional-sum groupBy (one shuffle on
    doc_id; the DuckDB twin uses list HOFs, value-identical)."""
    toks = F.col("toks")
    ex = hoist(docs, ("doc_id",), toks=norm_tokens("text")).select(
        "doc_id", F.size(toks).alias("n"), F.explode_outer(toks).alias("t")
    ).select(
        "doc_id",
        "n",
        (shingle_hash32(F.concat(F.lit("feat|"), F.col("t"))) % QP_K).alias("b"),
    )
    aggs = [
        F.sum(F.when(F.col("b") == k, 1).otherwise(0)).cast("long").alias(f"x{k}")
        for k in range(QP_K)
    ]
    return (
        ex.groupBy("doc_id", "n")
        .agg(*aggs)
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n"),
            F.when(F.col("n") >= QP_LEN_T, F.lit(QP_S))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("y_s"),
            *[f"x{k}" for k in range(QP_K)],
        )
    )


def _qp_score_expr(w: list[int]) -> str:
    dot = " + ".join(f"x{k} * {w[k]}" for k in range(QP_K))
    return f"(({dot}) div {QP_D})"


def train_quality_probe(feat: DataFrame) -> list[int]:
    """Run QP_ITERS full-batch GD steps; returns the final weights.

    Update rule (row-sum / Perron preconditioned squared loss — the
    D-scaled step converges geometrically because every eigenvalue of
    diag(h)^-1 X^T X is <= 1 for a nonnegative feature matrix; the
    x^2-diagonal variant stalls, measured 0.55 vs 0.91 accuracy at 3
    iterations on the sf0.01 table):
      r_d  = tdiv(sum_k x_dk * w_k, D) - y_s(d)
      g_k  = sum_d x_dk * r_d
      w_k -= tdiv(D * g_k, h_k + 1)    with h_k = sum_d x_dk * n_d
    All aggregates are exact int64 (bounded through ~10^7 docs; a probe
    never needs more — sample the corpus before training, the plan is
    identical).
    """
    h = feat.agg(
        *[F.sum(F.col(f"x{k}") * F.col("n")).alias(f"h{k}") for k in range(QP_K)]
    ).collect()[0]
    w = [0] * QP_K
    for _ in range(QP_ITERS):
        r = F.expr(_qp_score_expr(w)) - F.col("y_s")
        g = feat.agg(
            *[F.sum(F.col(f"x{k}") * r).alias(f"g{k}") for k in range(QP_K)]
        ).collect()[0]
        w = [
            w[k] - _tdiv(QP_D * int(g[f"g{k}"] or 0), int(h[f"h{k}"] or 0) + 1)
            for k in range(QP_K)
        ]
    return w


def q_train_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _pin(_qp_features(_docs(spark, sf_dir)), "qp_features")
    w = train_quality_probe(feat)
    score = F.expr(_qp_score_expr(w))
    return feat.select(
        "doc_id",
        (F.col("y_s") > 0).alias("y"),
        score.cast("bigint").alias("score_ppm"),
        (score > QP_S // 2).alias("predicted"),
    )


def _sql_quality_probe() -> str:
    """Unrolled-CTE twin: feature HOFs + the same integer GD updates."""
    hash_feat = SQL_SHINGLE_HASH32.format(s="'feat|' || t")
    xs = ", ".join(
        f"CAST(len(list_filter(toks, t -> {hash_feat} % {QP_K} = {k})) AS BIGINT)"
        f" AS x{k}"
        for k in range(QP_K)
    )
    hs = ", ".join(f"sum(x{k} * n) AS h{k}" for k in range(QP_K))

    def dot(wtab: str | None) -> str:
        if wtab is None:
            return "0"
        return " + ".join(f"x{k} * {wtab}.w{k}" for k in range(QP_K))

    sql = f"""
WITH feat AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n,
         CASE WHEN len(toks) >= {QP_LEN_T} THEN {QP_S} ELSE 0 END AS y_s,
         {xs}
  FROM (SELECT doc_id, {SQL_NORM_TOKENS.format(col='text')} AS toks FROM documents)
), h AS (
  SELECT {hs} FROM feat
)"""
    prev = None
    for i in range(1, QP_ITERS + 1):
        d = dot(prev)
        gs = ", ".join(
            f"sum(x{k} * (({d}) // {QP_D} - y_s)) AS g{k}" for k in range(QP_K)
        )
        prev_w = "0" if prev is None else f"{prev}.w{{k}}"
        ws = ", ".join(
            (
                f"CAST({prev_w.format(k=k)} - ({QP_D} * g{i}.g{k}) // (h.h{k} + 1)"
                f" AS BIGINT)"
                f" AS w{k}"
            )
            for k in range(QP_K)
        )
        joins = "feat, h" if prev is None else f"feat, h, {prev}"
        sql += f""", g{i} AS (
  SELECT {gs} FROM {joins}
), w{i} AS (
  SELECT {ws} FROM g{i}, h{'' if prev is None else ', ' + prev}
)"""
        prev = f"w{i}"
    final_dot = dot(prev)
    sql += f"""
SELECT doc_id,
       y_s > 0 AS y,
       CAST(({final_dot}) // {QP_D} AS BIGINT) AS score_ppm,
       ({final_dot}) // {QP_D} > {QP_S // 2} AS predicted
FROM feat, {prev}
"""
    return sql


QUERIES = {
    "train_quality_probe": q_train_quality_probe,
    "train_split_assign": q_train_split_assign,
    "train_split_summary": q_train_split_summary,
    "train_pack_sequences": q_train_pack_sequences,
    "train_mix_weights": q_train_mix_weights,
    "web_host_pagerank": q_web_host_pagerank,
    "train_sample_per_domain": q_train_sample_per_domain,
    "train_vocab_topn": q_train_vocab_topn,
    "train_curriculum": q_train_curriculum,
}

ORACLES = {
    "train_quality_probe": _sql_quality_probe(),
    "train_split_assign": SQL_TRAIN_SPLIT_ASSIGN,
    "train_split_summary": SQL_TRAIN_SPLIT_SUMMARY,
    "train_pack_sequences": SQL_TRAIN_PACK_SEQUENCES,
    "train_mix_weights": SQL_TRAIN_MIX_WEIGHTS,
    "web_host_pagerank": SQL_WEB_HOST_PAGERANK,
    "train_sample_per_domain": SQL_TRAIN_SAMPLE_PER_DOMAIN,
    "train_vocab_topn": SQL_TRAIN_VOCAB_TOPN,
    "train_curriculum": SQL_TRAIN_CURRICULUM,
}
