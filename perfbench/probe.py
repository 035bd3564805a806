"""Measurement plumbing, all from outside the engine: spans around calls
into each layer's public functions, Spark stage metrics from the status
store, Python-worker peak RSS from ``/proc``, and the window controls."""

from __future__ import annotations

import functools
import os
import signal
import threading
import time
from contextlib import contextmanager, suppress

from py4j.protocol import Py4JError


class Tracer:
    """In-memory spans (name, start, end, parent, run id); dumped as JSON at
    the end of a run. A span's self time is its duration minus the time its
    child spans cover."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str):
        """Record a span around every call of ``owner.attr``; returns a
        function that restores the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)

    def dump(self) -> list[dict]:
        """Closed spans with their duration and self time."""
        closed = [s for s in self.spans if s["end"] is not None]
        child: dict[int, float] = {}
        for s in closed:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            {**s, "dur_s": s["end"] - s["start"],
             "self_s": s["end"] - s["start"] - child.get(s["id"], 0.0)}
            for s in closed
        ]

    def total(self, name: str, field: str = "dur_s") -> float:
        return sum(s[field] for s in self.dump() if s["name"] == name)


def _opt(o, default=0):
    return o.get() if o.isDefined() else default


def stage_stats(spark, group: str) -> list[dict]:
    """Stages of every job in job group ``group``, from Spark's status
    store (populated with the UI disabled). Skipped stages (reused
    shuffles) report zero tasks."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    seen: set[int] = set()
    out = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info is not None else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
                tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
            except Py4JError:  # never submitted
                continue
            out.append({
                "stage": sid,
                "tasks": tasks.size(),
                "run_ms": sd.executorRunTime(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "task_ms": [_opt(tasks.apply(i).duration()) for i in range(tasks.size())],
            })
    return out


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class WorkerRss:
    """Peak resident set (VmHWM) of the Spark Python workers that descend
    from this process, sampled from /proc on a background thread (psutil
    is not available)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    @staticmethod
    def _read(path: str) -> bytes:
        try:
            with open(path, "rb") as f:
                return f.read()
        except OSError:  # process exited between listdir and open
            return b""

    def _descends_from_us(self, pid: int) -> bool:
        me = os.getpid()
        for _ in range(16):
            stat = self._read(f"/proc/{pid}/stat")
            if not stat:
                return False
            pid = int(stat.rsplit(b")", 1)[1].split()[1])
            if pid == me:
                return True
            if pid <= 1:
                return False
        return False

    def sample(self) -> None:
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            args = self._read(f"/proc/{name}/cmdline").split(b"\0")
            if b"pyspark.daemon" not in args and b"pyspark.worker" not in args:
                continue
            if not self._descends_from_us(int(name)):
                continue
            for line in self._read(f"/proc/{name}/status").splitlines():
                if line.startswith(b"VmHWM:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))


# -- process hygiene ---------------------------------------------------------

def _stat(pid: int) -> list[bytes]:
    """Fields of /proc/<pid>/stat after the command name ([0] state,
    [1] ppid, [19] start time); empty once the process is gone."""
    stat = WorkerRss._read(f"/proc/{pid}/stat")
    return stat.rsplit(b")", 1)[1].split() if stat else []


def descendants() -> dict[int, bytes]:
    """Pid -> start time of every process that descends from this one (the
    JVM, its Python daemon and workers, pool processes), exited but not
    yet reaped ones included."""
    parent: dict[int, int] = {}
    started: dict[int, bytes] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f:
                parent[int(name)], started[int(name)] = int(f[1]), f[19]
    me, out = os.getpid(), {}
    for pid in parent:
        p = pid
        for _ in range(64):
            p = parent.get(p, 0)
            if p == me:
                out[pid] = started[pid]
                break
            if p <= 1:
                break
    return out


def wait_gone(procs: dict[int, bytes], timeout: float = 30.0) -> list[int]:
    """Wait until every process of ``procs`` (pid -> start time) has ended,
    reaping those that are this process's children; kill the ones still
    running after ``timeout`` seconds and wait for them too. Returns the
    pids that had to be killed."""
    me = os.getpid()

    def running(pid: int) -> bool:
        f = _stat(pid)
        if not f or f[19] != procs[pid]:  # gone, or the pid was reused
            return False
        if f[0] == b"Z":
            if int(f[1]) == me:
                with suppress(ChildProcessError):
                    os.waitpid(pid, 0)
            return False
        return True

    def wait(pids: list[int], seconds: float) -> list[int]:
        deadline = time.monotonic() + seconds
        pids = [p for p in pids if running(p)]
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            pids = [p for p in pids if running(p)]
        return pids

    killed = wait(list(procs), timeout)
    for pid in killed:
        with suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    left = wait(killed, 10.0)
    if left:
        raise RuntimeError(f"processes still running after SIGKILL: {left}")
    return killed


# -- window controls ---------------------------------------------------------

SERIAL_SAMPLE_DOCS = 160
SERIAL_SAMPLE_SEED = 42


def serial_sample(cache_dir: str) -> list[bytes]:
    """The fixed serial-kernel sample (seed-independent): succeeded docs of
    a richness-8 corpus, cached as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_endpoint_project_spark.sources.corpus import CORPUS_VERSION

    path = os.path.join(
        cache_dir, f"serial_c{CORPUS_VERSION}_s{SERIAL_SAMPLE_SEED}_n{SERIAL_SAMPLE_DOCS}.parquet"
    )
    if not os.path.isfile(path):
        from ocr_endpoint_project_spark.extraction_core.document import extract_document
        from ocr_endpoint_project_spark.sources.corpus import generate_corpus

        rows = generate_corpus(SERIAL_SAMPLE_DOCS, seed=SERIAL_SAMPLE_SEED, richness=8)
        docs = [r.html for r in rows if extract_document(r.html).status == "succeeded"]
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.build-{os.getpid()}"
        pq.write_table(pa.table({"payload": pa.array(docs, pa.binary())}), tmp)
        os.replace(tmp, path)
    return pq.read_table(path).column("payload").to_pylist()


def serial_docs_per_s(sample: list[bytes]) -> float:
    """Single-thread ``extract_document`` throughput over the sample (after
    the caller's warm pass): the single-threaded baseline."""
    from ocr_endpoint_project_spark.extraction_core.document import extract_document

    t0 = time.perf_counter()
    for payload in sample:
        extract_document(payload)
    return len(sample) / (time.perf_counter() - t0)


def hw_ops_per_s() -> float:
    """Kernel-independent drift yardstick (zlib + md5) from bench.py."""
    from bench import hw_control

    return hw_control(n=10)


def hw4_ops_per_s(threads: int = 4, n: int = 5) -> float:
    """``bench.hw_control`` on ``threads`` threads at once (zlib and md5
    release the GIL), summed: contention for several cores, which a run of
    ``local[4]`` jobs feels and the single-thread control does not."""
    from concurrent.futures import ThreadPoolExecutor

    from bench import hw_control

    with ThreadPoolExecutor(max_workers=threads) as ex:
        return sum(ex.map(hw_control, [n] * threads))


def window_controls(sample: list[bytes]) -> dict:
    return {
        "hw_ops_per_s": hw_ops_per_s(),
        "hw4_ops_per_s": hw4_ops_per_s(),
        "serial_docs_per_s": serial_docs_per_s(sample),
    }


def serial_stage_splits(sample: list[bytes], reps: int = 3) -> dict:
    """Serial per-stage seconds over the sample through public functions:
    decode vs full OCR for PNG/JPEG, page parse vs assembly for PDF, parse
    for HTML. ``ocr`` / ``assemble`` are the full call minus its first
    stage; each call is timed over all docs of its kind, best of ``reps``."""
    from ocr_endpoint_project_spark.extraction_core.html_extract import extract_html
    from ocr_endpoint_project_spark.extraction_core.jpeg_pixels import decode_jpeg_gray
    from ocr_endpoint_project_spark.extraction_core.pdf_extract import (
        extract_pdf,
        extract_pdf_pages,
    )
    from ocr_endpoint_project_spark.extraction_core.png_pixels import decode_png_gray
    from ocr_endpoint_project_spark.extraction_core.png_stub import (
        extract_jpeg_text,
        extract_png_text,
    )
    from ocr_endpoint_project_spark.extraction_core.sniff import sniff_doc_kind

    def best(fn, docs) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for d in docs:
                fn(d)
            times.append(time.perf_counter() - t0)
        return min(times)

    by_kind: dict[str, list[bytes]] = {}
    for payload in sample:
        by_kind.setdefault(sniff_doc_kind(payload), []).append(payload)
    html, pdf = by_kind.get("html", []), by_kind.get("pdf", [])
    png, jpeg = by_kind.get("image", []), by_kind.get("jpeg", [])
    pdf_parse, png_decode, jpeg_decode = (
        best(extract_pdf_pages, pdf), best(decode_png_gray, png), best(decode_jpeg_gray, jpeg)
    )
    return {
        "extraction_core.html.parse_s": best(extract_html, html),
        "extraction_core.pdf.parse_s": pdf_parse,
        "extraction_core.pdf.assemble_s": best(extract_pdf, pdf) - pdf_parse,
        "extraction_core.image.decode_s": png_decode,
        "extraction_core.image.ocr_s": best(extract_png_text, png) - png_decode,
        "extraction_core.jpeg.decode_s": jpeg_decode,
        "extraction_core.jpeg.ocr_s": best(extract_jpeg_text, jpeg) - jpeg_decode,
    }
