"""Guards on the driver contract: entry() smoke + the full oracle gate
(every queries() entry vs its DuckDB oracle) at sf0.001."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_oracles import check  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"url", "status", "byte_identical"} <= cols
    assert all(r["byte_identical"] for r in rows)
    assert all(r["status"] == "succeeded" for r in rows)


def test_queries_have_oracles_or_documented_gap(spark):
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 30
    assert set(o) <= set(q)
    # every query is oracle-checked (token-level WER got an exact SQL
    # oracle in r2 via the token->single-byte-codepoint levenshtein trick)
    rows_only = set(q) - set(o)
    assert rows_only == set()


def test_all_oracles_match(spark):
    failed = check([], sf_dir=SF_SMALL, spark=spark)
    assert not failed, f"oracle mismatches: {failed}"


def test_pinned_ann_queries_under_materialize_dir(spark, tmp_path, monkeypatch):
    """With a caller-owned SPARK_GRAFT_MATERIALIZE_DIR, one plan reaches
    the ``ivf_assigned``, ``ann_truth`` and ``srp_sig`` pins from several
    call sites; each call gets its own path, so no pin is replaced while
    an earlier read in the same plan still lists its files."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_DIR", str(tmp_path))
    failed = check(["ann_recall_at_k", "ann_tuning_table"], sf_dir=SF_SMALL, spark=spark)
    assert not failed, f"oracle mismatches: {failed}"
    assert len(list((tmp_path / "ivf_assigned").iterdir())) >= 2


def test_icetable_queries_build_in_own_dirs(spark):
    """Each build of an icetable query writes its table into a fresh
    directory, so a second build (another gate, the same scale factor)
    never deletes the files a first build's frame still reads."""
    from ocr_endpoint_project_spark.operators.extraction import (
        q_ice_changelog,
        q_ice_source_read,
    )

    for q in (q_ice_changelog, q_ice_source_read):
        first = q(spark, SF_SMALL)
        second = q(spark, SF_SMALL)
        assert first.count() == second.count() > 0
