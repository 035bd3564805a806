"""Extra measurement harness for the optimization round (bench.py is
FROZEN for driver measurement — this file carries everything else).

Modes:
  python bench_extra.py queries [names...]   # time headline (or named)
      queries with the noop sink, N repeats, controls bracketing
  python bench_extra.py plans <outdir> [names...]  # dump explain("formatted")
  python bench_extra.py throughput           # flagship extraction only

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BE_REPEATS (default 3).
Prints one JSON line per mode, mirroring bench.py's methodology (same
session config, same noop sink, the same parquet pins — here in the
per-application pin dir, removed at exit), so numbers here are directly
comparable to the frozen bench's query section.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import HEADLINE, _session, hw_control, kernel_control  # noqa: E402


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return _session("bench-extra", cpus)


def run_queries(names: list[str]) -> None:
    from ocr_endpoint_project_spark.operators import all_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    repeats = int(os.environ.get("SPARK_GRAFT_BE_REPEATS", "3"))
    spark = _spark()
    queries = all_queries()
    names = names or [n for n in HEADLINE]
    pre_k, pre_h = kernel_control(n=150), hw_control(n=20)
    out: dict[str, list[float]] = {}
    for rep in range(repeats):
        for name in names:
            spark.sparkContext.setJobDescription(f"be:{name}#{rep}")
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                out.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # noqa: BLE001
                print(f"bench_extra: {name} failed: {type(e).__name__}: {e}",
                      file=sys.stderr)
                out.setdefault(name, []).append(-1.0)
            spark.sparkContext.setJobDescription(None)
    post_k, post_h = kernel_control(n=150), hw_control(n=20)
    spark.stop()
    print(json.dumps({
        "mode": "queries",
        "sf_dir": sf_dir,
        "repeats": repeats,
        "runs": out,
        "min": {k: min(v) for k, v in out.items()},
        "controls": {"kernel": [pre_k, post_k], "hw": [pre_h, post_h]},
    }))


def dump_plans(outdir: str, names: list[str]) -> None:
    from ocr_endpoint_project_spark.operators import all_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    spark = _spark()
    queries = all_queries()
    os.makedirs(outdir, exist_ok=True)
    names = names or [n for n in HEADLINE]
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {outdir}/{name}.txt", file=sys.stderr)
    spark.stop()
    print(json.dumps({"mode": "plans", "outdir": outdir, "n": len(names)}))


def run_throughput() -> None:
    from bench import CORPUS_BASE, time_extraction

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    bench_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000"))
    replicas = max(1, bench_docs // CORPUS_BASE)
    repeats = int(os.environ.get("SPARK_GRAFT_BE_REPEATS", "3"))
    spark = _spark()
    pre_k, pre_h = kernel_control(n=150), hw_control(n=20)
    time_extraction(spark, replicas=1, partitions=cpus)  # warm-up
    runs = []
    for _ in range(repeats):
        dt, n_docs, payload = time_extraction(spark, replicas=replicas,
                                              partitions=cpus * 2)
        runs.append({"sec": round(dt, 3), "docs_per_sec": round(n_docs / dt, 1),
                     "mb_per_sec": round(payload / 1e6 / dt, 1)})
    post_k, post_h = kernel_control(n=150), hw_control(n=20)
    spark.stop()
    print(json.dumps({
        "mode": "throughput", "n_docs": n_docs, "runs": runs,
        "controls": {"kernel": [pre_k, post_k], "hw": [pre_h, post_h]},
    }))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:])
    elif mode == "plans":
        dump_plans(sys.argv[2], sys.argv[3:])
    elif mode == "throughput":
        run_throughput()
    else:
        raise SystemExit(f"unknown mode {mode}")
