"""Output checks. Each returns a list of problems (empty = correct) plus,
where documents are the unit, how many documents are wrong, so a run can
report ``failed`` out of ``attempted``. ``test_selftest.py`` corrupts
outputs and asserts that every check here fails on them."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_hash_col(url: str = "url", text: str = "extracted_text"):
    """Spark twin of ``inputs.row_hash``: 60 bits of md5(url \\n text)."""
    md5 = F.md5(F.concat_ws("\n", F.col(url), F.coalesce(F.col(text), F.lit(""))))
    return F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")


def digest_aggs(h=None) -> list:
    """Aggregates matching ``inputs.digest``. bit_xor and a modded sum: a
    plain sum of 60-bit hashes overflows under ANSI mode."""
    h = row_hash_col() if h is None else h
    return [
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("xor"),
        F.coalesce(F.sum(F.pmod(h, F.lit(1 << 31))), F.lit(0)).alias("sum"),
    ]


def combine_digests(parts) -> dict:
    """Merge per-group digests (e.g. one row per doc_kind)."""
    out = {"docs": 0, "xor": 0, "sum": 0}
    for p in parts:
        out["docs"] += int(p["docs"])
        out["xor"] ^= int(p["xor"])
        out["sum"] += int(p["sum"])
    return out


def digest_problems(got: dict, expected: dict) -> list[str]:
    return [
        f"{k}: got {got[k]}, expected {expected[k]}"
        for k in ("docs", "xor", "sum") if got[k] != expected[k]
    ]


def bad_docs(df: DataFrame, expected_hashes: dict) -> int:
    """Per-document diagnosis after a digest mismatch: wrong, duplicated
    and missing urls."""
    seen: set[str] = set()
    bad = 0
    for r in df.select("url", row_hash_col().alias("h")).collect():
        if r["url"] in seen or expected_hashes.get(r["url"]) != r["h"]:
            bad += 1
        seen.add(r["url"])
    return bad + sum(1 for u in expected_hashes if u not in seen)


def extraction_digest(df: DataFrame) -> dict:
    """Digest + failure-row count of an extracted frame, in one job."""
    return df.agg(
        *digest_aggs(),
        F.sum((F.col("status") != "succeeded").cast("long")).alias("status_failed"),
    ).collect()[0].asDict()


def extraction_problems(df: DataFrame, got: dict, manifest: dict):
    """Doc count, checksum and failure rows of an extraction job against
    the corpus manifest; ``got`` is ``extraction_digest(df)``."""
    problems = digest_problems(got, manifest["expected"])
    if got["status_failed"] != manifest["status_failed"]:
        problems.append(
            f"{got['status_failed']} failure rows, expected {manifest['status_failed']}"
        )
    if not problems:
        return [], 0
    return problems, max(1, bad_docs(df, manifest["hashes"]))


def oracle_problems(name: str, cols: list, rows: list, expected: dict, norm_rows) -> list[str]:
    """A query result against its cached DuckDB oracle result."""
    if sorted(cols) != expected["cols"]:
        return [f"{name}: columns {sorted(cols)} != {expected['cols']}"]
    got = [list(r) for r in norm_rows(cols, rows)]
    if len(got) != len(expected["rows"]):
        return [f"{name}: {len(got)} rows, oracle has {len(expected['rows'])}"]
    diff = sum(a != b for a, b in zip(got, expected["rows"]))
    return [f"{name}: {diff} rows differ from the oracle"] if diff else []


def commit_problems(scan: DataFrame, runs: dict, expected: dict,
                    expected_hashes: dict, partitions: int):
    """One commit cycle: the table after runs A, B, C.

    ``runs[r]`` holds ``skipped`` (partitions resume skipped) and
    ``lineage_docs`` (doc_count in the run's snapshot lineage)."""
    row = scan.agg(*digest_aggs(), F.countDistinct("url").alias("urls")).collect()[0]
    got = {k: row[k] for k in ("docs", "xor", "sum")}
    problems = digest_problems(got, expected)
    if row["urls"] != row["docs"]:
        problems.append(f"{row['docs'] - row['urls']} duplicated urls in the table")
    lineage_docs = runs["A"]["lineage_docs"] + runs["B"]["lineage_docs"]
    if lineage_docs != expected["docs"]:
        problems.append(f"lineage doc_count A+B {lineage_docs} != {expected['docs']} input docs")
    if runs["C"]["lineage_docs"] != 0:
        problems.append(f"run C committed {runs['C']['lineage_docs']} docs, expected 0")
    for r, want in (("B", partitions // 2), ("C", partitions)):
        if runs[r]["skipped"] != want:
            problems.append(f"run {r} skipped {runs[r]['skipped']} partitions, expected {want}")
    bad = bad_docs(scan, expected_hashes) if problems else 0
    return problems, max(bad, 1) if problems else 0
