"""Deduplication operators for the training-data pipeline layer:
exact (hash-groupBy), n-gram Jaccard, MinHash+LSH (shingle -> minhash ->
band -> bucket-join), SimHash, embedding-cosine near-dup.

Scale design: every variant is a candidate-generation step whose join key
(content hash / shingle / LSH band / IVF cell) bounds the pair space —
never an all-pairs crossJoin on the full table. At 10^12 docs the
shingle/band explode shuffles by key and AQE splits hot shingles; the
verify step touches only candidate pairs. All pure Catalyst with DuckDB
oracles (the engine-portable 28-bit md5 hash from functions/text keeps
signatures identical across engines).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._io import app_temp_root, read_spread
from ..functions.text import (
    SQL_NORM_TOKENS,
    SQL_SHINGLE_HASH32,
    hoist,
    norm_tokens,
    r4,
    shingle_hash32,
    sql_r4,
    word_ngrams,
)

# universal-hash parameters for the MinHash permutations: h_i = (a*h+b) % p
MINHASH_PERMS = [(131, 7), (241, 107), (389, 211), (521, 331), (769, 401), (911, 503), (1091, 613), (1301, 719)]
MINHASH_P = 2147483647
LSH_ROWS_PER_BAND = 2  # 8 perms -> 4 bands
JACCARD_THRESHOLD = 0.5
NGRAM_N = 3

# document-frequency cap for shingles: a shingle present in more than
# SHINGLE_DF_CAP documents is a stop-shingle — it carries no dedup signal
# and its self-join contribution is O(df^2) rows (the classic hot-key
# blowup at Common-Crawl scale). Dropping it BEFORE the join bounds the
# pair space at O(df_cap * n_shingles). Mirrored exactly in the DuckDB
# oracles, so correctness holds at any cap value.
SHINGLE_DF_CAP = int(os.environ.get("SPARK_GRAFT_SHINGLE_DF_CAP", "512"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_spread(spark, f"{sf_dir}/documents.parquet")


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, t) with the normalized token array HOISTED to a real
    attribute: every shingle/window lambda downstream slices ``t`` per
    element, and without the barrier CollapseProject inlines the
    tokenize expression into the lambda body — re-tokenizing the
    document once per shingle (~28x measured on the sf0.1 corpus)."""
    return hoist(docs, ("doc_id",), t=norm_tokens("text"))


def _pin_root(spark: SparkSession) -> str:
    """``SPARK_GRAFT_MATERIALIZE_DIR`` when set (its owner keeps or removes
    what lands there), else a per-application directory on the Hadoop
    default filesystem that the driver JVM deletes when it exits."""
    base = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
    if base:
        return base.rstrip("/")
    return app_temp_root(spark, "pins")


def _pin(df: DataFrame, name: str) -> DataFrame:
    """Pin an intermediate that several branches consume: write it once to
    parquet at ``<root>/<name>/<unique token>`` and read it back — the
    100-TB shape (a signatures TABLE, recomputed never, spillable). No
    path is ever overwritten, so one plan may reach a pin name any number
    of times. The v2 file-output committer (one rename per task) is set
    on this write only; user-facing outputs keep the default v1."""
    path = f"{_pin_root(df.sparkSession)}/{name}/{uuid.uuid4().hex}"
    df.write.option("mapreduce.fileoutputcommitter.algorithm.version", "2").parquet(path)
    return df.sparkSession.read.parquet(path)


def _sql_tokens(col: str = "text") -> str:
    return SQL_NORM_TOKENS.format(col=col)


def _sql_shingles() -> str:
    """DuckDB: distinct word-3-gram shingles of the normalized tokens."""
    return (
        "list_distinct(list_transform(range(0, greatest(len(t) - 2, 0)), "
        "i -> array_to_string(t[i+1:i+3], ' ')))"
    )


def _shingles(tokens):
    return F.array_distinct(word_ngrams(tokens, NGRAM_N))


def _hot_shingles(sh: DataFrame) -> DataFrame:
    """Stop-shingles (df > SHINGLE_DF_CAP) of an exploded (doc_id, s)
    shingle stream. groupBy gets map-side partial counts (hot keys cheap),
    and the result is tiny — broadcast to the anti-join, so the big
    shingle stream never shuffles for the cap."""
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("s")
    )


def _cap_df(sh: DataFrame) -> DataFrame:
    """Drop stop-shingles from an exploded (doc_id, s) stream."""
    return sh.join(F.broadcast(_hot_shingles(sh)), "s", "left_anti").select("doc_id", "s")


def _hot_hashes(hashed: DataFrame) -> DataFrame:
    """Hot shingle HASHES (df > SHINGLE_DF_CAP) of an exploded
    (doc_id, h) stream — the signature-leg twin of :func:`_hot_shingles`
    operating in the 28-bit hash domain the MinHash permutations already
    live in (colliding shingles are indistinguishable to the signature
    anyway, so capping on h is the consistent domain there). int64 keys
    make the count groupBy and the broadcast anti-join strictly cheaper
    than their string twins."""
    return (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("h")
    )


def _cap_hashed(hashed: DataFrame) -> DataFrame:
    """Drop hot-hash rows from an exploded (doc_id, h) stream."""
    return hashed.join(F.broadcast(_hot_hashes(hashed)), "h", "left_anti").select(
        "doc_id", "h"
    )


def _sql_capped_shingle_ctes() -> str:
    """DuckDB twin: exploded shingles `sh` and the df-capped stream `shc`."""
    return f"""toks AS (SELECT doc_id, {_sql_tokens()} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_sql_shingles()}) AS s FROM toks),
shc AS (
  SELECT doc_id, s FROM sh
  WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > {SHINGLE_DF_CAP})
)"""


def _sql_capped_hash_ctes() -> str:
    """DuckDB twin of the signature leg: exploded shingles hashed to the
    28-bit domain and deduped per doc (`hashed` — a doc's shingle SET in
    hash space, collisions conflated exactly as Spark's array_distinct
    over the hashed arrays does), then df-capped in that domain (`hc`)."""
    return f"""toks AS (SELECT doc_id, {_sql_tokens()} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_sql_shingles()}) AS s FROM toks),
hashed AS (SELECT DISTINCT doc_id, {SQL_SHINGLE_HASH32.format(s="s")} AS h FROM sh),
hc AS (
  SELECT doc_id, h FROM hashed
  WHERE h NOT IN (SELECT h FROM hashed GROUP BY h HAVING count(*) > {SHINGLE_DF_CAP})
)"""


# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy on content (one shuffle of (hash) keys; at
# scale the md5 is computed scan-side so only 16-byte keys move)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: explode distinct shingles -> self-join on
# shingle -> per-pair intersection count -> Jaccard >= threshold
# ---------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark, sf_dir):
    """Shingle-keyed self-join near-dup pairs with similarity over the
    DF-CAPPED shingle sets (column ``jaccard_capped``): stop-shingles
    (df > SHINGLE_DF_CAP) are excluded from BOTH the pair generation and
    the similarity itself, so results depend on the cap value (recorded
    in bench output as ``shingle_df_cap``). This intentionally differs
    from :func:`minhash_lsh_pairs`, whose verify step reports EXACT
    Jaccard over the full shingle sets — there the banding already
    bounds the candidate space, so no cap is needed at verify time.
    """
    raw = _pin(
        _doc_tokens(_docs(spark, sf_dir))
        .select("doc_id", F.explode(_shingles(F.col("t"))).alias("s")),
        "ngram_shingles",
    )
    # pinned: the capped stream feeds the df sizes AND both self-join
    # sides — without the pin the hot-shingle aggregate + anti-join
    # re-execute once per consumer (the r3 bench regression)
    sh = _pin(_cap_df(raw), "ngram_shingles_capped")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            r4(
                F.col("inter").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("inter"))).alias("jaccard_capped"),
        )
    )
    return jac.filter(F.col("jaccard_capped") >= JACCARD_THRESHOLD)


SQL_NGRAM_JACCARD = f"""
WITH {_sql_capped_shingle_ctes()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jaccard_capped
FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash signatures: min over shingle hashes of (a*h+b) mod p, 8 perms.
# Engine-portable because the base hash is md5-derived (functions/text).
# ---------------------------------------------------------------------------

def q_minhash_signature(spark, sf_dir):
    """explode(shingle) -> hash once -> df-cap in hash domain -> groupBy.

    The array-HOF formulation (transform+array_min per permutation)
    recomputes the md5 shingle hashes once per permutation after Catalyst
    collapses the projections — 8x the work. The explode+groupBy shape
    hashes each shingle exactly once and is also the 10^12-doc shape:
    one shuffle keyed by doc_id with map-side partial min. The hashed
    (doc_id, h) stream is PINNED (a parquet table) so
    the hot-hash count and the anti-join each read int64 pairs — hashing
    runs exactly once. Hot shingles (df > SHINGLE_DF_CAP) are capped in
    the 28-bit HASH domain, which is the domain the permutations operate
    in anyway — same capped stream the LSH path signs, so signatures
    agree across operators."""
    hashed = _pin(
        _doc_tokens(_docs(spark, sf_dir))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        _shingles(F.col("t")), lambda s: shingle_hash32(s)
                    )
                )
            ).alias("h"),
        ),
        "mh_hashed",
    )
    aggs = [
        F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return _cap_hashed(hashed).groupBy("doc_id").agg(*aggs)


def _sql_minhash_exprs() -> str:
    """min-per-perm over the exploded capped hash stream `hc`."""
    return ",\n       ".join(
        f"CAST(min((h * {a} + {b}) % {MINHASH_P}) AS BIGINT) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )


SQL_MINHASH_SIG = f"""
WITH {_sql_capped_hash_ctes()}
SELECT doc_id,
       {_sql_minhash_exprs()}
FROM hc GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# MinHash LSH candidate pairs: band signatures (4 bands x 2 rows) ->
# bucket-join on (band_id, band_key) -> distinct pairs -> verified Jaccard
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH verified near-dup pairs over any (doc_id, text) frame.

    ONE tokenize+shingle+hash pass feeds both legs through a single
    pinned table of per-doc HASHED shingle arrays (array<bigint>, the
    28-bit domain the MinHash permutations live in): its exploded stream
    is df-capped (stop-shingles carry no signal and blow up O(df^2) in
    any shingle-keyed join) and signed, and the verify join intersects
    the int arrays directly — int64 arrays shuffle and compare several
    times cheaper than the string-shingle arrays they replace, and the
    md5 per shingle is computed exactly once. The cap guards exactly
    where the blowup lives — the shingle-keyed signature/band path; the
    verify step computes Jaccard over the FULL hashed-shingle sets
    (column ``jaccard``, exact up to 28-bit collisions — the same
    collisions the signatures themselves already conflate) and only
    ever touches banding-bounded candidate pairs, so it needs no cap
    (the classical stop-shingle design). Note the deliberate semantic
    split vs :func:`q_dedup_ngram_jaccard`, which reports
    ``jaccard_capped`` over the df-capped string-shingle sets because
    there the cap must also bound the pair generation itself.
    """
    hs = _pin(
        _doc_tokens(docs).select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    _shingles(F.col("t")), lambda s: shingle_hash32(s)
                )
            ).alias("hs"),
        ),
        "lsh_hashed_shingles",
    )
    hashed = hs.select("doc_id", F.explode("hs").alias("h"))
    sig = _pin(
        _cap_hashed(hashed).groupBy("doc_id").agg(
            *[
                F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh{i}")
                for i, (a, b) in enumerate(MINHASH_PERMS)
            ]
        ),
        "minhash_sig",
    )  # both band-join sides
    n_bands = len(MINHASH_PERMS) // LSH_ROWS_PER_BAND
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{bi * LSH_ROWS_PER_BAND + r}")
                                for r in range(LSH_ROWS_PER_BAND)
                            ],
                        ).alias("band_key"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with full-set Jaccard over the hashed shingle
    # arrays (only candidate pairs pay); reuses the pinned table above
    sa = hs.alias("sa")
    sb = hs.alias("sb")
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            r4(
                F.size(F.array_intersect("sa.hs", "sb.hs")).cast("double")
                / F.size(F.array_union("sa.hs", "sb.hs"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def _sql_band_rows() -> str:
    n_bands = len(MINHASH_PERMS) // LSH_ROWS_PER_BAND
    rows = []
    for bi in range(n_bands):
        keys = " || '_' || ".join(
            f"CAST(mh{bi * LSH_ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(LSH_ROWS_PER_BAND)
        )
        rows.append(f"SELECT doc_id, {bi} AS band_id, {keys} AS band_key FROM sig")
    return "\nUNION ALL\n".join(rows)


SQL_MINHASH_LSH = f"""
WITH {_sql_capped_hash_ctes()},
shl AS (
  SELECT doc_id, list(h) AS hs FROM hashed GROUP BY doc_id
),
sig AS (
  SELECT doc_id, {_sql_minhash_exprs()}
  FROM hc GROUP BY doc_id
),
bands AS ({_sql_band_rows()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         floor((CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.hs, sb.hs)))) * 10000 + 0.5) / 10000 AS jaccard
  FROM cand JOIN shl sa ON doc_a = sa.doc_id JOIN shl sb ON doc_b = sb.doc_id
)
SELECT * FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash: 28-bit signature, bit i set when the majority of token hashes
# have bit i set (token multiset; ties -> 0)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 28


def q_simhash(spark, sf_dir):
    # hs is HOISTED (Generate barrier): the 28-bit loop below references
    # it ~56 times per row (filter + size per bit) and CollapseProject
    # would otherwise inline the tokenize+hash transform into every one
    docs = hoist(
        _docs(spark, sf_dir),
        ("doc_id",),
        hs=F.transform(norm_tokens("text"), lambda t: shingle_hash32(t)),
    )
    # shiftright/shiftleft need expression-form SQL to take a lambda var
    # as the shift amount, so the bit loop is one expr string
    simhash = F.expr(
        f"""aggregate(
              transform(sequence(0, {SIMHASH_BITS - 1}), i ->
                CASE WHEN size(filter(hs, h -> (shiftright(h, i) & 1) = 1)) * 2 > size(hs)
                     THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END),
              CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
    )
    return docs.filter(F.size("hs") > 0).select("doc_id", simhash.alias("simhash"))


_H = SQL_SHINGLE_HASH32.format(s="t")
SQL_SIMHASH = f"""
WITH toks AS (SELECT doc_id, {_sql_tokens()} AS t FROM documents),
hs AS (SELECT doc_id, list_transform(t, t -> {_H}) AS hs FROM toks WHERE len(t) > 0)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}), i ->
         CASE WHEN len(list_filter(hs, h -> (h >> i) & 1 = 1)) * 2 > len(hs)
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash
FROM hs
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs (cosine >= 0.4 over all pairs; at scale
# this is the IVF/LSH-bucketed path in similarity.py — here the exact op)
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.4


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def vec_norm(col):
    """Euclidean norm of a vector column — computed ONCE per vector in
    the per-side projection so every pair join pays one dot, not three.
    sqrt/mul/div are each correctly-rounded IEEE ops, so
    dot/(norm_a*norm_b) is bit-identical to the inline
    dot/(sqrt(dot(a, a)) * sqrt(dot(b, b))) form."""
    return F.sqrt(_dot(col, col))


def cosine_pair(a_vec, b_vec, a_norm, b_norm):
    """Pair-side cosine given precomputed per-vector norms: 1 array pass."""
    return _dot(a_vec, b_vec) / (a_norm * b_norm)


# hard cap on the EXACT all-pairs variant: it exists as the small-n
# recall oracle for the bucketed twins (q_embedding_dup_bucketed,
# q_embedding_srp_pairs in this module / operators/similarity.py) and is
# O(n^2) by construction — at 50k vectors that is already 1.25e9 pairs.
# Tunable for deliberate oracle runs; the guard trips BEFORE the join.
EXACT_PAIRS_MAX_VECTORS = int(
    os.environ.get("SPARK_GRAFT_EXACT_PAIRS_MAX_VECTORS", "50000")
)


def q_embedding_dup_pairs(spark, sf_dir, max_vectors: int | None = None):
    """EXACT all-pairs cosine near-dup — the recall ORACLE, not the scale
    path. Guarded: refuses tables above ``max_vectors`` (default
    EXACT_PAIRS_MAX_VECTORS) so it cannot be pointed at a full corpus by
    accident; use q_embedding_dup_bucketed / q_embedding_srp_pairs (the
    IVF-cell and SRP-LSH twins) for anything big — pipeline/dedupe.py
    only ever routes through the bucketed path."""
    cap = EXACT_PAIRS_MAX_VECTORS if max_vectors is None else max_vectors
    emb = read_spread(spark, f"{sf_dir}/embeddings.parquet").withColumn(
        "nrm", vec_norm(F.col("embedding"))
    )
    n = emb.count()
    if n > cap:
        raise ValueError(
            f"q_embedding_dup_pairs is the exact O(n^2) recall oracle and is "
            f"capped at {cap} vectors (got {n}); use q_embedding_dup_bucketed "
            f"or q_embedding_srp_pairs for large tables, or raise "
            f"SPARK_GRAFT_EXACT_PAIRS_MAX_VECTORS deliberately."
        )
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            r4(
                cosine_pair(
                    F.col("a.embedding"), F.col("b.embedding"),
                    F.col("a.nrm"), F.col("b.nrm"),
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


SQL_EMBEDDING_DUP = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 10000 + 0.5) / 10000 AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 10000 + 0.5) / 10000
      >= {COSINE_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# benchmark decontamination: n-gram overlap of every corpus document
# against a (small) evaluation set — the GPT-3/PaLM-style hygiene pass
# that keeps eval data out of training corpora. Scale shape: the EVAL
# side's exploded grams are tiny (eval sets are thousands of docs, not
# billions) and broadcast; the corpus side streams through a map-side
# broadcast join and one groupBy(doc_id) — the 100-TB corpus never
# shuffles on gram keys. Here the eval set derives deterministically
# from the documents table (doc_id % 50 == 0), so the oracle replays it.
# ---------------------------------------------------------------------------

CONTAM_NGRAM = 8   # overlap gram length (13 in GPT-3; 8 fits ~200-token docs)
EVAL_MODULUS = 50  # doc_id % 50 == 0 -> member of the synthetic eval set


def q_decontaminate(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    grams = _doc_tokens(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(F.col("t"), CONTAM_NGRAM))
        ).alias("g"),
    )
    gr = grams.alias("gr")
    ev = (
        grams.filter(F.pmod(F.col("doc_id"), F.lit(EVAL_MODULUS)) == 0)
        .select(F.col("doc_id").alias("eval_id"), "g")
        .alias("ev")
    )
    hits = (
        gr.join(
            F.broadcast(ev),
            (F.col("gr.g") == F.col("ev.g")) & (F.col("gr.doc_id") != F.col("ev.eval_id")),
        )
        .groupBy(F.col("gr.doc_id").alias("doc_id"))
        .agg(F.countDistinct(F.col("gr.g")).alias("n"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_hit_grams"),
        (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
    )


def _sql_contam_ngrams() -> str:
    return (
        f"list_distinct(list_transform(range(0, greatest(len(t) - {CONTAM_NGRAM - 1}, 0)), "
        f"i -> array_to_string(t[i+1:i+{CONTAM_NGRAM}], ' ')))"
    )


SQL_DECONTAMINATE = f"""
WITH toks AS (SELECT doc_id, {_sql_tokens()} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_sql_contam_ngrams()}) AS g FROM toks),
ev AS (SELECT doc_id AS eval_id, g FROM grams WHERE doc_id % {EVAL_MODULUS} = 0),
hits AS (
  SELECT gr.doc_id, count(DISTINCT gr.g) AS n
  FROM grams gr JOIN ev ON gr.g = ev.g AND gr.doc_id != ev.eval_id
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_hit_grams,
       coalesce(n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
"""


# ---------------------------------------------------------------------------
# paragraph-level (sub-document) dedup: the CCNet/Gopher line-dedup stage
# — shared boilerplate lines (nav, copyright) repeat across most of a
# crawl and must be stripped per-PARAGRAPH while the documents survive.
# Pseudo-paragraphs here are 10-token chunks plus an injected header and
# footer line shared by EVERY doc, so the oracle predicts exactly which
# doc keeps each boilerplate line (the globally first occurrence) and
# what every cleaned text looks like, byte-for-byte.
#
# Scale shape: first-occurrence resolution is ONE groupBy(para) with a
# map-side-combinable min() — the boilerplate paragraph is the classic
# hot key (present in ~every doc at crawl scale), and an agg absorbs it
# in partial aggregates where a window/self-join would melt one reducer.
# The agg OUTPUT is the keeper set directly (para, first doc, first pos),
# so no join ever shuffles on the hot paragraph key; the only other
# shuffle is the per-doc rebuild keyed by doc_id.
# ---------------------------------------------------------------------------

PARA_TOKENS = 10
PARA_HEADER = "NAV MENU HOME ARCHIVE CONTACT SUBSCRIBE"
PARA_FOOTER = "COPYRIGHT EXAMPLE CORP ALL RIGHTS RESERVED"
# (doc_id, pos) packed into one orderable int64; positions are bounded by
# doc length / PARA_TOKENS << 1e6, enforced at pack time via raise_error
_PARA_POS_BASE = 1_000_000


def q_dedup_paragraphs(spark, sf_dir):
    def chunks_of(toks):
        return F.ceil(F.size(toks) / F.lit(float(PARA_TOKENS))).cast("long")

    # token array HOISTED (Generate barrier): the chunk lambda slices it
    # once per chunk — inlined, split(text) would re-run per element
    toks = F.col("tk")
    n_chunks = chunks_of(toks)
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.array().cast("array<long>"))
    chunk_paras = F.transform(
        idx,
        lambda i: F.struct(
            (i + 1).alias("pos"),
            F.array_join(
                F.slice(toks, (i * PARA_TOKENS + 1).cast("int"), PARA_TOKENS), " "
            ).alias("para"),
        ),
    )
    paras_arr = F.concat(
        F.array(F.struct(F.lit(0).cast("long").alias("pos"),
                         F.lit(PARA_HEADER).alias("para"))),
        chunk_paras,
        F.array(F.struct((n_chunks + 1).alias("pos"),
                         F.lit(PARA_FOOTER).alias("para"))),
    )
    paras = (
        hoist(_docs(spark, sf_dir), ("doc_id",), tk=F.split(F.col("text"), " "))
        .select("doc_id", F.explode(paras_arr).alias("p"))
        .select("doc_id", F.col("p.pos").alias("pos"), F.col("p.para").alias("para"))
    )
    # ONE hot-key-safe shuffle: min packed (doc_id, pos) per paragraph;
    # the agg rows ARE the kept paragraphs. pos < _PARA_POS_BASE is
    # enforced at pack time (raise_error, not a silent wrap: a >10M-token
    # doc must fail loudly, never corrupt keys), and the unpack uses
    # integer `div` — double division rounds for doc_id >= ~4.5e9 and
    # would misattribute the keeper vs the oracle's integer `//`.
    packed = F.when(
        F.col("pos") < _PARA_POS_BASE,
        F.col("doc_id") * _PARA_POS_BASE + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q_dedup_paragraphs: pos >= _PARA_POS_BASE for doc_id "),
                F.col("doc_id").cast("string"),
            )
        ).cast("long")
    )
    keepers = (
        paras.groupBy("para")
        .agg(F.min(packed).alias("k"))
        .select(
            F.expr(f"k div {_PARA_POS_BASE}").alias("doc_id"),
            F.pmod(F.col("k"), F.lit(_PARA_POS_BASE)).alias("pos"),
            "para",
        )
    )
    rebuilt = keepers.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("kept_text"),
    )
    # n_paras is ARITHMETIC on the doc row (chunks + header + footer):
    # computing it map-side instead of re-aggregating the exploded frame
    # deletes a whole-corpus shuffle keyed by doc_id (plan-audited r5)
    totals = _docs(spark, sf_dir).select(
        "doc_id",
        (chunks_of(F.split(F.col("text"), " ")) + 2).cast("bigint").alias("n_paras"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )


SQL_DEDUP_PARAGRAPHS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), chunks AS (
  SELECT doc_id, CAST(i + 1 AS BIGINT) AS pos,
         array_to_string(list_slice(tk, CAST(i * {PARA_TOKENS} + 1 AS BIGINT),
                                    CAST(i * {PARA_TOKENS} + {PARA_TOKENS} AS BIGINT)),
                         ' ') AS para
  FROM (SELECT doc_id, tk,
               unnest(range(0, CAST(ceil(len(tk) / {float(PARA_TOKENS)}) AS BIGINT))) AS i
        FROM toks)
), paras AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS pos, '{PARA_HEADER}' AS para FROM documents
  UNION ALL
  SELECT doc_id, pos, para FROM chunks
  UNION ALL
  SELECT doc_id, CAST(ceil(len(tk) / {float(PARA_TOKENS)}) + 1 AS BIGINT),
         '{PARA_FOOTER}' FROM toks
), keepers AS (
  SELECT para, min(doc_id * {_PARA_POS_BASE} + pos) AS k FROM paras GROUP BY para
), krows AS (
  SELECT k // {_PARA_POS_BASE} AS doc_id, k % {_PARA_POS_BASE} AS pos, para
  FROM keepers
), reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, chr(10) ORDER BY pos) AS kept_text
  FROM krows GROUP BY doc_id
), tot AS (
  SELECT doc_id,
         CAST(ceil(len(tk) / {float(PARA_TOKENS)}) + 2 AS BIGINT) AS n_paras
  FROM toks
)
SELECT t.doc_id, t.n_paras,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(r.kept_text, '') AS kept_text
FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
"""


# ---------------------------------------------------------------------------
# exact-substring dedup (round 6): the "Deduplicating Training Data Makes
# Language Models Better" (Lee et al., 2022) stage — repeated token
# WINDOWS across the corpus are located exactly, and every occurrence
# after the globally first is flagged with its token coverage.  The
# reference has no counterpart (it is a single-node OCR bench); this is
# part of the engine's training-data layer.
#
# Scale shape: windows are hashed per doc (map-side, no shuffle), the
# repeated set comes from ONE map-side-combinable groupBy(h) min/count
# agg, FILTERED to count > 1 before anything joins — so the join input
# is only the repeated windows (boilerplate-sized, not corpus-sized),
# and the classic hot window key is absorbed by the partial aggregates
# exactly like q_dedup_paragraphs.  Token coverage per doc avoids
# interval-merge logic: explode each dup window to its token positions
# and count DISTINCT positions (overlaps collapse in the distinct).
# ---------------------------------------------------------------------------

SUB_L = 12  # window length in tokens (Lee et al. use 50 BPE tokens; the
#             synthetic docs average ~54 words, so 12 keeps real overlap)


def _substring_dups(spark, sf_dir):
    """Shared core: per-doc window table + the non-keeper occurrences.

    Returns ``(docs, dups)``: ``docs(doc_id, n_tokens, wins)`` and
    ``dups(doc_id, pos)`` — every occurrence of a repeated window except
    the globally first (min packed (doc_id, pos)).
    """
    # window lambda below slices the token array once per window — tk is
    # HOISTED (Generate barrier) so split(text) runs once per row, not
    # once per window element (CollapseProject would inline it)
    toks = F.col("tk")
    nw = (F.size(toks) - F.lit(SUB_L) + 1).cast("long")
    idx = F.when(nw > 0, F.sequence(F.lit(0).cast("long"), nw - 1)).otherwise(
        F.array().cast("array<long>")
    )
    # 60-bit window key: md5 of the space-joined window, first 15 hex
    # chars (the engine-parity int trick, functions/text.py:55 — DuckDB
    # twin CAST('0x'||substr(md5(..),1,15) AS BIGINT))
    wins_arr = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice(toks, (i + 1).cast("int"), SUB_L), " ")),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        ),
    )
    # docs carries only scalars (n_windows = greatest(n_tokens-L+1, 0) is
    # arithmetic, not a re-derivation of the window array); the md5
    # window transform lives in exactly ONE branch, the pinned explode
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    wins = (
        hoist(_docs(spark, sf_dir), ("doc_id",), tk=F.split(F.col("text"), " "))
        .select("doc_id", F.explode(wins_arr).alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )
    packed = F.when(
        F.col("pos") < _PARA_POS_BASE,
        F.col("doc_id") * _PARA_POS_BASE + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("_substring_dups: pos >= _PARA_POS_BASE for doc_id "),
                F.col("doc_id").cast("string"),
            )
        ).cast("long")
    )
    # pinned: wins feeds BOTH the repeated-set agg and the join back on h
    # (the _pin self-join rule — without it the md5 window transform over
    # the whole corpus runs once per branch)
    wins = _pin(wins.withColumn("k", packed), "substring_wins")
    rep = (
        wins.groupBy("h")
        .agg(F.min("k").alias("min_k"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h", "min_k")
    )
    dups = wins.join(rep, "h").filter(F.col("k") > F.col("min_k")).select("doc_id", "pos")
    return docs, dups


def q_dedup_substring(spark, sf_dir):
    docs, dups = _substring_dups(spark, sf_dir)
    dup_tok = (
        dups.select(
            "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + SUB_L - 1)).alias("tp")
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("tp").alias("n_dup_tokens"))
    )
    dup_win = dups.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_windows"))
    return (
        docs.select(
            "doc_id",
            "n_tokens",
            F.greatest(F.col("n_tokens") - SUB_L + 1, F.lit(0)).cast("long").alias("n_windows"),
        )
        .join(dup_win, "doc_id", "left")
        .join(dup_tok, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            r4(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1))
                * 100.0
            ).alias("dup_token_pct"),
        )
    )


SQL_DEDUP_SUBSTRING = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), w AS (
  SELECT doc_id, i AS pos,
         CAST(('0x' || substr(md5(array_to_string(t[i+1:i+{SUB_L}], ' ')), 1, 15))
              AS BIGINT) AS h,
         doc_id * {_PARA_POS_BASE} + i AS k
  FROM toks,
       unnest(CASE WHEN len(t) >= {SUB_L}
                   THEN range(0, len(t) - {SUB_L} + 1) ELSE [] END) AS u(i)
), rep AS (
  SELECT h, min(k) AS min_k FROM w GROUP BY h HAVING count(*) > 1
), dups AS (
  SELECT w.doc_id, w.pos FROM w JOIN rep USING (h) WHERE w.k > rep.min_k
), dup_tok AS (
  SELECT doc_id, count(DISTINCT pos + j) AS n_dup_tokens
  FROM dups, unnest(range(0, {SUB_L})) AS r(j) GROUP BY doc_id
), dup_win AS (
  SELECT doc_id, count(*) AS n_dup_windows FROM dups GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(greatest(len(t) - {SUB_L} + 1, 0) AS BIGINT) AS n_windows
  FROM toks
)
SELECT b.doc_id, b.n_tokens, b.n_windows,
       CAST(coalesce(dw.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(dt.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       {sql_r4(f"coalesce(dt.n_dup_tokens, 0) / greatest(b.n_tokens, 1) * 100.0")}
         AS dup_token_pct
FROM base b
LEFT JOIN dup_win dw ON b.doc_id = dw.doc_id
LEFT JOIN dup_tok dt ON b.doc_id = dt.doc_id
"""


def q_dedup_substring_rebuild(spark, sf_dir):
    """The Lee-et-al OUTPUT: every token position covered by a non-keeper
    occurrence of a repeated window is dropped, the rest of the document
    is rebuilt in order — the globally first occurrence of every
    duplicated span survives, later copies vanish byte-exactly.

    Scale shape: inherits _substring_dups (agg-filtered join on repeated
    windows only). Round 8: the rebuild itself is map-side — the dup
    positions collapse to one per-doc position SET (a groupBy over dup
    rows only, boilerplate-sized), joined back on doc_id, and the
    surviving tokens fall out of one indexed array filter over the
    hoisted token array. The pre-r8 shape (posexplode the whole corpus,
    anti-join on (doc_id, tp), re-assemble via collect_list+array_sort)
    shuffled the full token stream twice for the same answer.
    """
    _, dups = _substring_dups(spark, sf_dir)
    dup_sets = (
        dups.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + SUB_L - 1)).alias("tp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tp").alias("dtp"))
    )
    base = hoist(_docs(spark, sf_dir), ("doc_id",), tk=F.split(F.col("text"), " "))
    j = base.join(dup_sets, "doc_id", "left")
    kept_expr = F.when(F.col("dtp").isNull(), F.col("tk")).otherwise(
        F.filter(
            F.col("tk"),
            lambda _t, i: ~F.array_contains(F.col("dtp"), i.cast("bigint")),
        )
    )
    # kept feeds two consumers (count + join) — hoist so the filter pass
    # runs once per row
    out = hoist(
        j, ("doc_id",), n_tokens=F.size("tk").cast("long"), kept=kept_expr
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.size("kept").cast("long").alias("n_kept_tokens"),
        F.array_join(F.col("kept"), " ").alias("rebuilt_text"),
    )


SQL_DEDUP_SUBSTRING_REBUILD = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), w AS (
  SELECT doc_id, i AS pos,
         CAST(('0x' || substr(md5(array_to_string(t[i+1:i+{SUB_L}], ' ')), 1, 15))
              AS BIGINT) AS h,
         doc_id * {_PARA_POS_BASE} + i AS k
  FROM toks,
       unnest(CASE WHEN len(t) >= {SUB_L}
                   THEN range(0, len(t) - {SUB_L} + 1) ELSE [] END) AS u(i)
), rep AS (
  SELECT h, min(k) AS min_k FROM w GROUP BY h HAVING count(*) > 1
), dups AS (
  SELECT w.doc_id, w.pos FROM w JOIN rep USING (h) WHERE w.k > rep.min_k
), dup_pos AS (
  SELECT DISTINCT doc_id, pos + j AS tp
  FROM dups, unnest(range(0, {SUB_L})) AS r(j)
), toks_pos AS (
  SELECT doc_id, i - 1 AS tp, t[CAST(i AS INT)] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
), kept AS (
  SELECT tp.doc_id, tp.tp, tp.tok
  FROM toks_pos tp ANTI JOIN dup_pos dp USING (doc_id, tp)
), reb AS (
  SELECT doc_id, count(*) AS n_kept_tokens,
         string_agg(tok, ' ' ORDER BY tp) AS rebuilt_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
       coalesce(r.rebuilt_text, '') AS rebuilt_text
FROM toks b LEFT JOIN reb r ON b.doc_id = r.doc_id
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_substring": q_dedup_substring,
    "dedup_substring_rebuild": q_dedup_substring_rebuild,
    "dedup_paragraphs": q_dedup_paragraphs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_signature": q_minhash_signature,
    "dedup_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_simhash": q_simhash,
    "dedup_embedding_pairs": q_embedding_dup_pairs,
    "decontaminate_ngram_overlap": q_decontaminate,
}

ORACLES = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_substring": SQL_DEDUP_SUBSTRING,
    "dedup_substring_rebuild": SQL_DEDUP_SUBSTRING_REBUILD,
    "dedup_paragraphs": SQL_DEDUP_PARAGRAPHS,
    "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_minhash_signature": SQL_MINHASH_SIG,
    "dedup_minhash_lsh_pairs": SQL_MINHASH_LSH,
    "dedup_simhash": SQL_SIMHASH,
    "dedup_embedding_pairs": SQL_EMBEDDING_DUP,
    "decontaminate_ngram_overlap": SQL_DECONTAMINATE,
}
