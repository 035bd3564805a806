"""Cluster resolution + simhash pairing + IVF assignment: unit coverage
beyond the DuckDB oracle gate (crafted graphs, recall guarantees, plan
shape)."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pyspark.sql.functions as F
import pytest

from ocr_endpoint_project_spark.operators.cluster import (
    HAMMING_K,
    SIMHASH_BANDS,
    SIMHASH_BAND_BITS,
    connected_components,
)

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cc(spark, n_vertices, edge_pairs):
    vertices = spark.createDataFrame([(i,) for i in range(n_vertices)], "doc_id long")
    sym = edge_pairs + [(b, a) for a, b in edge_pairs]
    if sym:
        edges = spark.createDataFrame(sym, "src long, dst long")
    else:
        edges = spark.createDataFrame([], "src long, dst long")
    out = connected_components(vertices, edges)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_cc_chain_and_singletons(spark):
    # a 6-node path (worst diameter per edge count) + 2 singletons
    labels = _cc(spark, 8, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)])
    assert all(labels[i] == 0 for i in range(6))
    assert labels[6] == 6 and labels[7] == 7


def test_cc_multiple_components_and_merge_order(spark):
    # two components joined through their largest ids — min must still win
    labels = _cc(spark, 7, [(5, 6), (4, 5), (1, 2), (0, 2), (3, 6)])
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[3] == labels[4] == labels[5] == labels[6] == 3


def test_cc_empty_edges(spark):
    labels = _cc(spark, 4, [])
    assert labels == {0: 0, 1: 1, 2: 2, 3: 3}


def test_simhash_band_recall_guarantee(spark):
    """Pigeonhole: any two signatures within Hamming <= HAMMING_K must
    share at least one of the SIMHASH_BANDS bands, so the banded join has
    perfect recall at the verify threshold."""
    assert HAMMING_K < SIMHASH_BANDS  # the guarantee's precondition
    base = 0b1010110011100011010101001100
    # flip exactly HAMMING_K bits spread across DIFFERENT bands — the
    # adversarial case for banding
    flipped = base
    for b in range(HAMMING_K):
        flipped ^= 1 << (b * SIMHASH_BAND_BITS)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    shared = [
        b
        for b in range(SIMHASH_BANDS)
        if (base >> (b * SIMHASH_BAND_BITS)) & mask
        == (flipped >> (b * SIMHASH_BAND_BITS)) & mask
    ]
    assert shared, "k flips across 4 bands must leave >= 1 band clean"


def test_ivf_assignment_is_broadcast_and_total(spark):
    from ocr_endpoint_project_spark.operators.similarity import _emb, ivf_assign

    emb = _emb(spark, SF)
    assigned = ivf_assign(emb)
    # total: every vector gets exactly one cell
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
    # the centroid side must be broadcast (no shuffle of the big side)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    # every assigned vector is at least as close to its cell as to its
    # raw label's centroid (argmin sanity, spot-check via dist ordering)
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= {r["label"] for r in emb.select("label").distinct().collect()}


def test_cluster_keeper_covers_all_docs(spark):
    from ocr_endpoint_project_spark.operators.cluster import q_cluster_keeper

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = q_cluster_keeper(spark, SF).cache()
    assert out.count() == docs.count()
    # exactly one keeper per cluster, and the keeper is the cluster min
    per = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_keeper").cast("int")).alias("keepers"),
        F.min("doc_id").alias("min_id"),
        F.first("cluster_id").alias("cid"),
    )
    bad = per.filter((F.col("keepers") != 1) | (F.col("min_id") != F.col("cid")))
    assert bad.count() == 0
    out.unpersist()


def test_keeper_frame_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The adaptive CC short-circuit (driver union-find for small pair
    sets) must produce the EXACT frame the distributed label-propagation
    loop produces — same labels, keepers, and sizes."""
    import ocr_endpoint_project_spark.operators.cluster as cl

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    # two multi-node components (a path and a triangle) + singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9)],
        "doc_a long, doc_b long",
    )

    def frame_to_set(df):
        return {
            (r["doc_id"], r["cluster_id"], r["is_keeper"], r["cluster_size"])
            for r in df.collect()
        }

    driver_path = frame_to_set(cl.keeper_frame(ids, pairs))  # 6 pairs << cap
    monkeypatch.setattr(cl, "CC_DRIVER_MAX_PAIRS", 0)  # force distributed
    dist_path = frame_to_set(cl.keeper_frame(ids, pairs))
    assert driver_path == dist_path
    assert (1, 1, True, 4) in driver_path and (4, 1, False, 4) in driver_path
    assert (7, 7, True, 3) in driver_path
    assert (0, 0, True, 1) in driver_path  # singleton untouched


@pytest.mark.parametrize("cap", [0, None], ids=["distributed", "driver"])
def test_keeper_frame_runs_pair_plan_once(spark, monkeypatch, cap):
    """The pair plan (at scale the whole LSH band-join + verify) is
    evaluated once per pair row on both keeper branches: it is pinned
    before the bounded collect, and the collect and the CC loop read the
    pin."""
    import ocr_endpoint_project_spark.operators.cluster as cl

    if cap is not None:
        monkeypatch.setattr(cl, "CC_DRIVER_MAX_PAIRS", cap)
    edges = [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9)]
    evals = spark.sparkContext.accumulator(0)

    def counted(pair):
        evals.add(1)
        return pair

    pairs = spark.createDataFrame(
        spark.sparkContext.parallelize(edges, 2).map(counted), "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = cl.keeper_frame(ids, pairs).collect()
    assert len(out) == 12
    assert evals.value == len(edges)


def test_default_pin_root_removed_at_exit(tmp_path):
    """Without SPARK_GRAFT_MATERIALIZE_DIR, pins land in a per-application
    directory that the driver JVM deletes when it exits — here without a
    spark.stop()."""
    script = tmp_path / "pin_once.py"
    script.write_text(
        "from urllib.parse import urlparse\n"
        "from ocr_endpoint_project_spark.operators.dedup import _pin, _pin_root\n"
        "from ocr_endpoint_project_spark.session import build_session\n"
        "spark = build_session(app_name='pin-exit', master='local[1]', shuffle_partitions=1)\n"
        "pinned = _pin(spark.range(10), 'probe')\n"
        "assert pinned.count() == 10\n"
        "root = urlparse(_pin_root(spark)).path\n"
        "assert all(urlparse(f).path.startswith(root + '/probe/') for f in pinned.inputFiles())\n"
        "print('PIN_ROOT', root)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_MATERIALIZE_DIR", None)
    res = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=300, env=env
    )
    assert res.returncode == 0, res.stderr[-2000:]
    root = [l.split(" ", 1)[1] for l in res.stdout.splitlines() if l.startswith("PIN_ROOT ")][0]
    assert root.startswith("/tmp/spark-graft-pins-")
    # the JVM may still be running its shutdown hooks after python exits
    deadline = time.time() + 60
    while os.path.exists(root) and time.time() < deadline:
        time.sleep(0.5)
    assert not os.path.exists(root)


def test_hoist_intermediate_name_avoids_caller_columns(spark):
    """A caller column named like hoist's intermediate struct survives
    untouched; a name both kept and computed is refused, not duplicated."""
    from ocr_endpoint_project_spark.functions.text import hoist

    df = spark.createDataFrame([(1, "a b", 7)], "doc_id long, text string, _hoisted int")
    out = hoist(df, ("doc_id", "_hoisted"), toks=F.split("text", " "))
    assert out.columns == ["doc_id", "_hoisted", "toks"]
    assert [tuple(r) for r in out.collect()] == [(1, 7, ["a", "b"])]
    with pytest.raises(ValueError):
        hoist(df, ("doc_id", "text"), TEXT=F.lower("text"))


def test_dedupe_corpus_end_to_end(spark):
    """pipeline/dedupe.py: near-dup pairs collapse to one keeper each,
    non-duplicated docs survive untouched."""
    from ocr_endpoint_project_spark.operators.dedup import q_minhash_lsh_pairs
    from ocr_endpoint_project_spark.pipeline.dedupe import dedupe_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = q_minhash_lsh_pairs(spark, SF).cache()
    n_docs = docs.count()
    n_pairs = pairs.count()

    kept = dedupe_corpus(docs, pairs).cache()
    n_kept = kept.count()
    # every cluster loses (size-1) docs; sizes >= 2 only where pairs exist
    lost = n_docs - n_kept
    assert (n_pairs == 0) == (lost == 0)
    assert lost <= n_pairs  # each pair removes at most one doc
    # keepers are unique and keep original columns
    assert kept.select("doc_id").distinct().count() == n_kept
    assert "text" in kept.columns and "cluster_size" in kept.columns
    # every multi-doc cluster's keeper is its minimum (== cluster_id)
    for r in kept.filter(F.col("cluster_size") > 1).collect():
        assert r["doc_id"] == r["cluster_id"]
    pairs.unpersist()
    kept.unpersist()


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    """The 2-probe search must recover at least as many true (brute-force)
    top-k neighbors as the single-cell search — the whole point of the
    recall knob. Asserted over the queryable ann_recall_at_k metric (the
    same numbers a user tunes n_probes / band bits with)."""
    from ocr_endpoint_project_spark.operators.similarity import q_ann_recall_at_k

    rows = {r["method"]: r for r in q_ann_recall_at_k(spark, SF).collect()}
    assert set(rows) == {"ivf", "ivf_multiprobe", "srp"}
    # denominators agree: every method is measured against the same truth
    assert len({r["n_truth"] for r in rows.values()}) == 1
    assert rows["ivf_multiprobe"]["recall_at_k"] >= rows["ivf"]["recall_at_k"]
    assert rows["ivf_multiprobe"]["recall_at_k"] > 0


def test_cc_long_chain_pointer_jumping(spark):
    """A 200-node path needs 200 rounds under plain min-propagation; the
    pointer jump must converge it within the 24-round cap."""
    n = 200
    labels = _cc(spark, n, [(i, i + 1) for i in range(n - 1)])
    assert all(labels[i] == 0 for i in range(n))


def test_hot_shingle_df_cap_bounds_candidates(spark, monkeypatch, tmp_path):
    """A stop-shingle present in 30% of docs must NOT blow up the
    shingle self-join: with the df cap it contributes zero pairs, and
    unrelated docs sharing only the hot shingle never become candidates.
    (Reference analog: eligibility filtering before expensive work,
    pages/parallel_ocr_test.py:148-171.)"""
    import ocr_endpoint_project_spark.operators.dedup as dd

    n = 100
    hot = "alpha beta gamma"  # one shared 3-gram across 30% of docs
    rows = []
    for i in range(n):
        unique = f"doc{i} unique{i} text{i} body{i} words{i} here{i}"
        text = f"{hot} {unique}" if i < 30 else unique
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(path)

    monkeypatch.setattr(dd, "SHINGLE_DF_CAP", 10)
    monkeypatch.setattr(dd, "_docs", lambda s, d: s.read.parquet(path))

    # Jaccard path: the hot shingle is every candidate's ONLY overlap,
    # so with the cap binding there are no pairs at all
    assert dd.q_dedup_ngram_jaccard(spark, "ignored").count() == 0

    # candidate generation itself stays bounded: the exploded capped
    # stream carries no hot-shingle rows
    raw = dd._docs(spark, "ignored").select(
        "doc_id", F.explode(dd._shingles(dd.norm_tokens("text"))).alias("s")
    )
    capped = dd._cap_df(raw)
    assert capped.filter(F.col("s") == hot).count() == 0
    # every sub-cap shingle survives
    assert capped.count() == raw.filter(F.col("s") != hot).count()

    # LSH path: signatures are computed over the capped stream, so the
    # hot shingle can't glue unrelated docs into one band bucket
    pairs = dd.minhash_lsh_pairs(dd._docs(spark, "ignored"))
    assert pairs.count() == 0


def test_decontaminate_flags_eval_overlap(spark, monkeypatch, tmp_path):
    """A document sharing an 8-gram with an eval-set document (doc_id %
    50 == 0) is contaminated; eval docs never contaminate themselves;
    the eval gram side is broadcast (the corpus never shuffles on gram
    keys)."""
    import ocr_endpoint_project_spark.operators.dedup as dd

    shared = " ".join(f"s{i}" for i in range(dd.CONTAM_NGRAM))  # one 8-gram
    rows = [
        (0, f"{shared} plus eval only tail words here now"),  # eval doc
        (7, f"prefix tokens then {shared} appears verbatim"),  # contaminated
        (9, "totally unrelated clean document text body words"),  # clean
        (50, "another eval document without any overlap at all"),  # eval doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    monkeypatch.setattr(dd, "_docs", lambda s, d: s.read.parquet(path))

    out = dd.q_decontaminate(spark, "ignored")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    rows_out = {r["doc_id"]: r for r in out.collect()}
    assert rows_out[7]["contaminated"] and rows_out[7]["n_hit_grams"] == 1
    assert not rows_out[9]["contaminated"]
    assert not rows_out[0]["contaminated"]  # self-match excluded
    assert not rows_out[50]["contaminated"]


def test_kmeans_k_assign_unlabeled(spark):
    """kmeans_assign_k needs no label column: every vector is assigned,
    cells come from the md5-seeded 0..k-1 range, and the trajectory is
    deterministic across runs."""
    from ocr_endpoint_project_spark.operators.similarity import (
        KMEANS_K,
        _emb,
        kmeans_assign_k,
    )

    emb = _emb(spark, SF).drop("label")  # genuinely unlabeled corpus
    out = kmeans_assign_k(emb, KMEANS_K)
    rows = {r["vec_id"]: r["cell"] for r in out.select("vec_id", "cell").collect()}
    assert len(rows) == emb.count()  # total assignment
    assert set(rows.values()) <= set(range(KMEANS_K))
    assert len(set(rows.values())) > 1  # actually partitions the space
    again = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign_k(emb, KMEANS_K).select("vec_id", "cell").collect()
    }
    assert rows == again


def test_word_ngrams_short_inputs(spark):
    """word_ngrams must return an EMPTY array (not crash, not wrap) for
    inputs shorter than n — sequence(0, size-n) runs descending below n
    tokens and slice(start=0) is a runtime error without the guard."""
    from ocr_endpoint_project_spark.functions.text import word_ngrams

    rows = [(k, " ".join(f"w{i}" for i in range(k))) for k in range(6)]
    df = spark.createDataFrame(rows, "n int, text string").select(
        "n", word_ngrams(F.split(F.col("text"), " "), 3).alias("g")
    )
    got = {r["n"]: r["g"] for r in df.collect()}
    # note: split("") yields [""], one (empty) token — still < 3, empty grams
    for k in range(3):
        assert got[k] == []
    assert got[3] == ["w0 w1 w2"]
    assert got[5] == ["w0 w1 w2", "w1 w2 w3", "w2 w3 w4"]


def test_kmeans_seed_window_guard(spark):
    """Round 5: the global (no-partition) seed-ranking window is bounded
    by construction (limit(k)) AND by an explicit driver-side ceiling, so
    the pattern can never silently run a one-task window over a big
    frame."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ocr_endpoint_project_spark.operators.similarity import (
        _SEED_WINDOW_MAX_K,
        kmeans_seed_centroids,
    )

    vq = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("long"), (F.col("id") * 2).cast("long")).alias("eq"),
    )
    cents = kmeans_seed_centroids(vq, 4).collect()
    assert len(cents) == 4 and {r["cell"] for r in cents} == {0, 1, 2, 3}
    with _pytest.raises(ValueError, match="_SEED_WINDOW_MAX_K"):
        kmeans_seed_centroids(vq, _SEED_WINDOW_MAX_K + 1)


def test_paragraph_dedup_strips_shared_boilerplate(spark):
    """Round 5: sub-document dedup — the injected header/footer lines are
    shared by EVERY doc; exactly one doc (the globally first occurrence)
    keeps each, everyone else's cleaned text drops them while their own
    content chunks survive."""
    from pyspark.sql import functions as F

    from ocr_endpoint_project_spark.operators.dedup import (
        PARA_FOOTER,
        PARA_HEADER,
        q_dedup_paragraphs,
    )

    out = q_dedup_paragraphs(spark, "/root/testdata/sf0.001")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) > 10
    with_header = [d for d, r in rows.items() if PARA_HEADER in r["kept_text"]]
    with_footer = [d for d, r in rows.items() if PARA_FOOTER in r["kept_text"]]
    assert with_header == [min(rows)] and with_footer == [min(rows)]
    # global invariant: kept paragraphs == distinct paragraphs (each
    # surviving exactly once, at its first occurrence) — note the corpus
    # deliberately contains duplicate DOCUMENTS, whose chunks all lose
    # to the original (that is the operator working, not a bug)
    total_kept = sum(r["n_kept"] for r in rows.values())
    assert total_kept < sum(r["n_paras"] for r in rows.values())  # dedup happened
    for r in rows.values():
        assert 0 <= r["n_kept"] <= r["n_paras"]
    # the first doc keeps every paragraph that first appears in it —
    # including both boilerplate lines
    first = rows[min(rows)]
    assert first["kept_text"].startswith(PARA_HEADER)
    assert first["kept_text"].endswith(PARA_FOOTER)


def test_embedding_exact_pairs_guard(spark):
    """Round 6 (VERDICT #3): the exact all-pairs embedding query is the
    O(n^2) recall oracle — it must refuse tables above its vector cap so
    nobody points it at a full corpus; the bucketed/SRP twins are the
    scale path."""
    import pytest as _pytest

    from ocr_endpoint_project_spark.operators.dedup import q_embedding_dup_pairs

    with _pytest.raises(ValueError, match="capped"):
        q_embedding_dup_pairs(spark, "/root/testdata/sf0.001", max_vectors=1)
    # under the cap it still runs (the oracle path at test scale)
    assert q_embedding_dup_pairs(spark, "/root/testdata/sf0.001").limit(1).count() >= 0
