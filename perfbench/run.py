"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds a Spark ``local[4]``
session with the settings ``bench.py`` uses (512-row Arrow batches, AQE
on), sets it up three times (the first from process start; ``setup_s`` is
the median of the two rebuilds that follow), runs one output-checked
warm pass, then runs the workload's job in a closed loop
for ``--seconds`` seconds. ``--trace 1`` adds the per-layer decomposition
after the timed loop and prints the per-layer metrics instead of the
end-to-end ones. Everything the run writes stays inside the checkout:
inputs are cached in ``.perfbench_cache/``, a full report (window
controls, manifest, per-job times, spans, ledger) goes to
``.perfbench_out/``, and the run's private Spark scratch space is removed
at exit, after every process the run started has ended.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one set-up from process start, then rebuilds in the running JVM;
# setup_s is the median of the rebuilds (the first is per-layer session.*)
SETUPS = 3
ARROW_BATCH_ROWS = 512


def _new_session(name: str, run_dir: str, cores: int):
    from ocr_endpoint_project_spark.session import build_session

    return build_session(
        app_name=f"perfbench-{name}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        arrow_batch_rows=ARROW_BATCH_ROWS,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def run(args, spec: dict, run_dir: str) -> tuple[dict, dict]:
    from perfbench import probe, workloads
    from perfbench.inputs import CACHE_DIR

    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir)
    before_inputs = time.perf_counter() - T_START
    t0 = time.perf_counter()
    manifest = wl.prepare()
    inputs_s = time.perf_counter() - t0

    sample = probe.serial_sample(CACHE_DIR)
    probe.serial_docs_per_s(sample)  # warm pass
    controls = {"pre": probe.window_controls(sample)}

    setups, session_start_s, first_job_s = [], 0.0, 0.0
    spark = None
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _new_session(wl.name, run_dir, workloads.CORES)
            t1 = time.perf_counter()
            wl.warmup(spark)
            t2 = time.perf_counter()
            if i == 0:
                session_start_s, first_job_s = before_inputs + t1 - t0, t2 - t1
                setups.append(before_inputs + t2 - t0)
            else:
                setups.append(t2 - t0)

        wl.warm_pass(spark)

        walls: list[float] = []
        with probe.WorkerRss() as rss:
            deadline = time.perf_counter() + args.seconds
            while len(walls) < wl.min_jobs or time.perf_counter() < deadline:
                walls.append(wl.job(spark))
        job_s = statistics.median(walls)

        tracer = probe.Tracer(f"{wl.name}-s{args.seed}")
        detail: dict = {}
        if args.trace:
            layers = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            layers.update({
                "session.start_s": session_start_s,
                "session.first_job_s": first_job_s,
                "control.hw_ops_per_s": controls["pre"]["hw_ops_per_s"],
                "extraction_core.serial_docs_per_s": controls["pre"]["serial_docs_per_s"],
                **probe.serial_stage_splits(sample),
            })
            if "payload_mb" in manifest:
                layers["sources.input_docs"] = manifest["docs"]
                layers["sources.input_mb"] = manifest["payload_mb"]
            detail = wl.trace(spark, tracer, layers, job_s)
            unknown = set(layers) - set(dict.fromkeys(m["name"] for m in spec["per_layer"]))
            if unknown:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    finally:
        if spark is not None:
            # the JVM's Python daemon and workers are orphaned once the JVM
            # exits, so take them down by the pids seen before it stops
            procs = probe.descendants()
            _stop_spark(spark)
            probe.wait_gone(procs)
    controls["post"] = probe.window_controls(sample)

    if args.trace:
        values = layers
        specs = spec["per_layer"]
    else:
        values = {"setup_s": statistics.median(setups[1:]), "job_s": job_s,
                  "peak_rss_mb": rss.peak_mb}
        specs = spec["end_to_end"]
    result = {
        "correct": not wl.problems and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs},
    }
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "result": result,
        "problems": wl.problems,
        "manifest": {k: v for k, v in manifest.items() if k != "hashes"},
        "inputs_s": inputs_s,
        "setups_s": setups,
        "jobs_s": walls,
        "job_s": job_s,
        "peak_rss_mb": rss.peak_mb,
        "window_controls": controls,
        "detail": detail,
        "spans": tracer.dump(),
    }
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("ocr_endpoint_project_spark/__init__.py", "bench.py",
                           "BENCHMARK.json") if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench.inputs import CACHE_DIR

    run_dir = os.path.join(CACHE_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("spark-local", "tmp", "materialized"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python workers import the engine from the checkout; pins never carry
    # over between runs; all scratch space stays inside the checkout
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_MATERIALIZE_DIR"] = os.path.join(run_dir, "materialized")
    os.environ.pop("SPARK_GRAFT_CONF", None)
    from perfbench import probe

    try:
        result, report = run(args, spec, run_dir)
    finally:
        # leave no process behind, on every way out
        killed = probe.wait_gone(probe.descendants(), timeout=5.0)
        if killed:
            print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    summary = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in result["metrics"].items()
                        if not args.trace)
    print(f"perfbench: {args.workload} seed {args.seed}: correct={result['correct']} "
          f"{summary} (report: {os.path.relpath(out, ROOT)})", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
