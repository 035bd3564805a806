"""The workloads. Each runs as a closed loop with one client in the
driver process: submit one job, wait for it and check its output, then
submit the next.

A workload provides ``warmup`` (the small job inside each timed set-up),
``warm_pass`` (untimed, between set-up and the timed loop), ``job`` (one
closed-loop job, output-checked) and ``trace`` (the per-layer
decomposition of the traced run). Per-layer metrics of layers a workload
does not reach stay at 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from . import checks, inputs, probe

CORES = 4
PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")
KINDS = ("html", "pdf", "image", "jpeg")


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def fan_out(spark, path: str, replicas: int):
    """The cached base pages fanned out to distinct urls in Catalyst (the
    ``sources.pages.cached_corpus_pages`` shape; url ``<base>#<rep>``)."""
    return spark.read.parquet(path).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
    ).select(
        F.concat(F.col("url"), F.lit("#"), F.col("rep")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )


def _identity_batches(it):
    """Arrow hand-off without the kernel: one summary row per batch."""
    import pandas as pd

    for batch in it:
        yield pd.DataFrame({"rows": [len(batch)]})


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    partitions = 2 * CORES
    # the timed loop runs at least this many jobs, then until the window ends
    min_jobs = 3

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, attempted: int, bad: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += bad
        self.problems += problems


class CrawlMixed(Workload):
    """Kernel-bound: the stratified richness-8 mix through run_extraction
    into one aggregate. Its traced run also decomposes the job into scan,
    exchange, Arrow hand-off and kernel, and commits the same input
    through run_with_lineage_ice in three runs (A: half the partition ids,
    B: resume over the full input, C: a full rerun that must commit
    nothing) to measure the commit path."""

    name = "crawl_mixed"

    def prepare(self) -> dict:
        self.path, self.manifest = inputs.crawl_corpus(self.seed)
        self.cycles = 0
        return self.manifest

    def pages(self, spark):
        return fan_out(spark, self.path, self.manifest["replicas"])

    def warmup(self, spark) -> None:
        from ocr_endpoint_project_spark.pipeline.extract import run_extraction

        first = os.path.join(self.path, "part-000.parquet")
        run_extraction(spark.read.parquet(first), self.partitions).agg(
            F.count(F.lit(1))
        ).collect()

    def warm_pass(self, spark) -> None:
        """One untimed, output-checked job: the first full job after
        set-up runs 10-30% slower than the next ones."""
        self.job(spark)

    def job(self, spark) -> float:
        from ocr_endpoint_project_spark.pipeline.extract import run_extraction

        t0 = time.perf_counter()
        extracted = run_extraction(self.pages(spark), self.partitions)
        got = checks.extraction_digest(extracted)
        wall = time.perf_counter() - t0
        problems, bad = checks.extraction_problems(extracted, got, self.manifest)
        self.record(self.manifest["docs"], bad, problems)
        return wall

    def trace(self, spark, tracer, layers: dict, job_s: float) -> dict:
        with tracer.span("crawl_mixed.decompose"):
            detail = self.decompose(spark, layers)
        ledger = (layers["sources.scan_s"] + layers["pipeline.extract.exchange_s"]
                  + layers["functions.kernels.arrow_s"] + layers["extraction_core.kernel_s"])
        layers["ledger.layers_s"] = ledger
        layers["ledger.wall_s"] = job_s
        # the timed job itself, run again under a job group and a span
        with probe.job_group(spark, "crawl-job"), tracer.span("crawl_mixed.job"):
            detail["traced_job_s"] = self.job(spark)
        layers["trace.overhead_s"] = detail["traced_job_s"] - job_s
        detail["ledger"] = {
            "scan_s": layers["sources.scan_s"],
            "exchange_s": layers["pipeline.extract.exchange_s"],
            "arrow_s": layers["functions.kernels.arrow_s"],
            "kernel_s": layers["extraction_core.kernel_s"],
            "sum_s": ledger,
            "untraced_wall_s": job_s,
            "sum_over_wall": ledger / job_s,
            "busy_per_slot_s": layers["extraction_core.busy_per_slot_s"],
            "extract_batch_overhead_s": (
                layers["extraction_core.kernel_s"] - layers["extraction_core.busy_per_slot_s"]
            ),
        }
        with tracer.span("crawl_mixed.commit"):
            detail["commit"] = self.trace_commit(spark, tracer, layers, detail["kernel_job_s"])
        return detail

    def decompose(self, spark, layers: dict) -> dict:
        """Scan -> salted exchange -> Arrow hand-off -> kernel, each as its
        own job over the same input; layer times are the differences."""
        from ocr_endpoint_project_spark.pipeline.extract import run_extraction, salted_pages

        pages = self.pages(spark)
        salted = salted_pages(pages.select(*PAGE_COLS), self.partitions)
        t_scan, _ = _timed(_noop, pages)
        t_exch, _ = _timed(_noop, salted)
        t_id, row = _timed(lambda: salted.select(
            "url", "warc_ts", "lang", "html", "partition_id"
        ).mapInPandas(_identity_batches, "rows long").agg(
            F.count(F.lit(1)).alias("batches"), F.sum("rows").alias("rows")
        ).collect()[0])
        with probe.job_group(spark, "crawl-kernel"):
            t_full, kinds = _timed(lambda: run_extraction(pages, self.partitions).groupBy(
                "doc_kind"
            ).agg(
                *checks.digest_aggs(),
                F.sum("elapsed_ms").alias("busy_ms"),
                F.percentile_approx("elapsed_ms", [0.5, 0.99], 10000).alias("pct"),
            ).collect())
        stages = probe.stage_stats(spark, "crawl-kernel")
        kernel = max(stages, key=lambda s: s["run_ms"]) if stages else {"task_ms": []}
        tasks = sorted(kernel["task_ms"])
        median_task = statistics.median(tasks) if tasks else 0
        busy_s = sum(float(k["busy_ms"] or 0) for k in kinds) / 1000.0
        layers.update({
            "sources.scan_s": t_scan,
            "pipeline.extract.exchange_s": t_exch - t_scan,
            "pipeline.extract.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
            "pipeline.extract.spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
            "pipeline.extract.task_skew": tasks[-1] / median_task if median_task else 0.0,
            "functions.kernels.arrow_s": t_id - t_exch,
            "functions.kernels.batches": int(row["batches"]),
            "functions.kernels.rows_per_batch": int(row["rows"]) / max(1, int(row["batches"])),
            "extraction_core.kernel_s": t_full - t_id,
            "extraction_core.busy_s": busy_s,
            "extraction_core.busy_per_slot_s": busy_s / CORES,
        })
        for k in kinds:
            if k["doc_kind"] in KINDS:
                p = f"extraction_core.{k['doc_kind']}"
                layers[f"{p}.docs"] = int(k["docs"])
                layers[f"{p}.busy_s"] = float(k["busy_ms"] or 0) / 1000.0
                layers[f"{p}.doc_ms_p50"] = float(k["pct"][0])
                layers[f"{p}.doc_ms_p99"] = float(k["pct"][1])
        problems = checks.digest_problems(
            checks.combine_digests(k.asDict() for k in kinds), self.manifest["expected"]
        )
        self.record(self.manifest["docs"], self.manifest["docs"] if problems else 0, problems)
        return {"scan_job_s": t_scan, "exchange_job_s": t_exch, "identity_job_s": t_id,
                "kernel_job_s": t_full, "kernel_stage": kernel}

    # -- commit path (traced run only) --------------------------------------

    def _commit_run(self, spark, pages, out_dir: str, run_id: str) -> dict:
        from ocr_endpoint_project_spark.pipeline.lineage import run_with_lineage_ice
        from ocr_endpoint_project_spark.sources.icetable import IceTable

        t0 = time.perf_counter()
        res = run_with_lineage_ice(spark, pages, out_dir, run_id=run_id,
                                   num_partitions=self.partitions)
        wall = time.perf_counter() - t0
        snap = IceTable.load(res["table_dir"]).snapshots()[-1]
        return {"wall_s": wall, "skipped": res["resumed_partitions_skipped"],
                "lineage_docs": snap["summary"]["lineage"]["doc_count"],
                "table_dir": res["table_dir"]}

    def commit_cycle(self, spark) -> tuple[dict, object, str]:
        """Runs A, B, C into a fresh table; returns per-run results, the
        table and its directory."""
        from ocr_endpoint_project_spark.pipeline.extract import salted_pages
        from ocr_endpoint_project_spark.sources.icetable import IceTable

        self.cycles += 1
        out_dir = os.path.join(self.run_dir, f"commit-{self.cycles}")
        pages = self.pages(spark)
        # the half is picked with the engine's own partition key
        half = salted_pages(pages.select(*PAGE_COLS), self.partitions).filter(
            F.col("partition_id") % 2 == 0
        ).select(*PAGE_COLS)
        runs = {
            "A": self._commit_run(spark, half, out_dir, "A"),
            "B": self._commit_run(spark, pages, out_dir, "B"),
            "C": self._commit_run(spark, pages, out_dir, "C"),
        }
        return runs, IceTable.load(runs["A"]["table_dir"]), out_dir

    def trace_commit(self, spark, tracer, layers: dict, kernel_job_s: float) -> dict:
        from ocr_endpoint_project_spark.pipeline import lineage
        from ocr_endpoint_project_spark.sources.icetable import IceTable

        # driver-side commit functions, wrapped from here for this run only
        restore = [
            tracer.wrap(IceTable, "stage_overwrite", "icetable.stage"),
            tracer.wrap(IceTable, "commit_overwrite", "icetable.commit"),
            tracer.wrap(lineage, "ice_done_partitions", "lineage.resume_scan"),
            tracer.wrap(lineage, "run_with_lineage_ice", "lineage.run"),
        ]
        try:
            runs, table, out_dir = self.commit_cycle(spark)
        finally:
            for r in reversed(restore):
                r()
        scan = table.scan(spark)
        problems, bad = checks.commit_problems(
            scan, runs, self.manifest["expected"], self.manifest["hashes"], self.partitions
        )
        self.record(self.manifest["docs"], bad, problems)
        text_bytes = scan.agg(F.sum(F.octet_length("extracted_text")).alias("b")).collect()[0]["b"]
        snapshots = table.snapshots()
        # each overwrite snapshot's summary counts the data files it added
        data_bytes = sum(s["summary"]["bytes"] for s in snapshots)
        stage_s = tracer.total("icetable.stage")
        layers.update({
            "sources.icetable.stage_s": stage_s,
            "sources.icetable.commit_s": tracer.total("icetable.commit"),
            "sources.icetable.files_written": sum(s["summary"]["files"] for s in snapshots),
            "sources.icetable.bytes_written_mb": data_bytes / 1e6,
            "sources.icetable.write_amp": data_bytes / text_bytes if text_bytes else 0.0,
            "sources.icetable.snapshots": len(snapshots),
            "pipeline.lineage.write_s": stage_s - kernel_job_s,
            "pipeline.lineage.lineage_s": tracer.total("lineage.run", "self_s"),
            "pipeline.lineage.resume_scan_s": tracer.total("lineage.resume_scan"),
            "pipeline.lineage.skipped_partitions": runs["B"]["skipped"] + runs["C"]["skipped"],
            "pipeline.lineage.noop_rerun_s": runs["C"]["wall_s"],
        })
        shutil.rmtree(out_dir, ignore_errors=True)
        return {k: {x: v[x] for x in ("wall_s", "skipped", "lineage_docs")}
                for k, v in runs.items()}


class HeadlineQueries(Workload):
    """Operators only: the benchmarked headline queries, each written
    through the noop sink, after one oracle-checked pass."""

    name = "headline_queries"
    # after the cold oracle pass each pass still runs faster than the one
    # before it for about six passes (JIT over small inputs: 4.9, 4.5, 4.0,
    # 3.9, 3.7, 3.6, then 3.1-3.4 s on the 4-core VM); two of them run
    # untimed. Five settling passes did not make whole runs agree better
    # (the host's load moves them by up to 2x) and cost the time budget
    # of the 48 runs the benchmark has to fit in
    settle_passes = 2
    # a pass is short and latency-bound, so single passes jitter by 10-20%
    # on a shared host; the median of four damps it
    min_jobs = 4

    def prepare(self) -> dict:
        self.path, self.manifest = inputs.headline_tables(self.seed)
        from ocr_endpoint_project_spark.operators import all_queries

        self.queries = all_queries()
        return {k: v for k, v in self.manifest.items() if k != "oracle"}

    def warmup(self, spark) -> None:
        _noop(self.queries[inputs.HEADLINE_QUERIES[0]](spark, self.path))

    def warm_pass(self, spark) -> None:
        """The oracle-checked pass (each query's result against DuckDB),
        then untimed settling passes."""
        self.oracle_pass(spark)
        for _ in range(self.settle_passes):
            self.job(spark)

    def oracle_pass(self, spark) -> None:
        norm_rows = inputs.oracle_norm()
        for q in inputs.HEADLINE_QUERIES:
            try:
                df = self.queries[q](spark, self.path)
                problems = checks.oracle_problems(
                    q, df.columns, [tuple(r) for r in df.collect()],
                    self.manifest["oracle"][q], norm_rows,
                )
            except Exception as e:  # noqa: BLE001 — a failing query is a reported failure
                problems = [f"{q}: {type(e).__name__}: {str(e)[:300]}"]
            self.record(1, bool(problems), problems)

    def _query(self, spark, q: str) -> float:
        t0 = time.perf_counter()
        try:
            _noop(self.queries[q](spark, self.path))
            self.record(1, 0, [])
        except Exception as e:  # noqa: BLE001
            self.record(1, 1, [f"{q}: {type(e).__name__}: {str(e)[:300]}"])
        return time.perf_counter() - t0

    def job(self, spark) -> float:
        return sum(self._query(spark, q) for q in inputs.HEADLINE_QUERIES)

    def trace(self, spark, tracer, layers: dict, job_s: float) -> dict:
        detail = {}
        with tracer.span("headline_queries.pass") as sp:
            for q in inputs.HEADLINE_QUERIES:
                with probe.job_group(spark, f"q-{q}"), tracer.span(f"operators.{q}"):
                    wall = self._query(spark, q)
                stages = probe.stage_stats(spark, f"q-{q}")
                shuffle = [s for s in stages if s["shuffle_write_bytes"] > 0]
                layers[f"operators.{q}.s"] = wall
                layers[f"operators.{q}.shuffle_mb"] = sum(
                    s["shuffle_write_bytes"] for s in shuffle) / 1e6
                layers[f"operators.{q}.exchanges"] = len(shuffle)
                detail[q] = {"s": wall, "stages": len(stages), "shuffle_stages": len(shuffle)}
        layers["trace.overhead_s"] = (sp["end"] - sp["start"]) - job_s
        return detail


WORKLOADS = {w.name: w for w in (CrawlMixed, HeadlineQueries)}
