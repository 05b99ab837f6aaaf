"""Shared plumbing for the perfbench workloads: session sizing, set-up
timing, process-tree memory, spans, statistics and the result line.

Everything the benchmark writes goes under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# files of the program under test that must be present in the checkout
PROGRAM_FILES = ("ccspark/frontier.py", "__spark_entry__.py", "bench.py")


def program_missing() -> list[str]:
    return [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem_mb() -> int:
    """Driver heap: 2 GiB, or a quarter of physical RAM if that is less."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return min(2048, total_kb // 1024 // 4)


def prepare_env() -> None:
    """Process environment every Spark session here inherits: the
    program importable by Python workers, and temp files in the checkout."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers import the program, and this package's helpers
    # that are shipped to them by reference
    here = os.path.dirname(os.path.abspath(__file__))
    pp = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, here] + [p for p in pp if p not in (ROOT, here)])
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())


def build(trace: bool):
    """A SparkSession sized for this machine: local[nproc], one shuffle
    partition per core, quiet stdout, scratch dirs inside the checkout."""
    from ccspark.session import build_session

    n = cores()
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap is committed and touched at launch, so heap sizing does
        # not drift within a run; no perf-data file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{driver_mem_mb()}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
    }
    if trace:
        evdir = os.path.join(WORK, "events")
        os.makedirs(evdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return build_session("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def _warm_batches(batches):
    # import the program's worker-side modules and run the URL kernel
    # once, so every Python worker is forked and loaded before timing
    import pandas as pd

    from ccspark import politeness, seenset, seenstore, urls  # noqa: F401

    for pdf in batches:
        urls.canonicalize_batch_with_host(pd.Series(["HTTP://www.Example.com:80/a/../b"]))
        yield pdf


def warm_workers(spark) -> None:
    n = cores()
    spark.range(0, n, 1, n).mapInPandas(_warm_batches, "id long").collect()


def stop_jvm() -> None:
    """Stop the active Spark context and the JVM PySpark launched, and
    wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — any wait failure: make sure it is gone
                proc.kill()
                proc.wait()


class Setup:
    """Times repeated set-ups: (re)start the SparkSession, warm the Python
    workers, regenerate the inputs.  The first one includes the JVM launch;
    ``median`` is the reported ``setup_s``."""

    def __init__(self, trace: bool, make_inputs):
        self.trace = trace
        self.make_inputs = make_inputs
        self.spark = None
        self.times: list[float] = []

    def __call__(self):
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = build(self.trace)
        t1 = time.perf_counter()
        warm_workers(self.spark)
        t2 = time.perf_counter()
        self.make_inputs(self.spark)
        self.times.append(time.perf_counter() - t0)
        print(f"set-up {len(self.times)}: session {t1 - t0:.3f} s, warm-up {t2 - t1:.3f} s, "
              f"inputs {self.times[-1] - (t2 - t0):.3f} s", flush=True)
        return self.spark

    @property
    def median(self) -> float:
        return statistics.median(self.times)


class RssSampler:
    """Peak memory of this process and all its descendants (JVM, Python
    daemon and workers) while a ``window()`` is open.  Each process
    counts its proportional set size from /proc, so pages that forked
    Python workers share are counted once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                    out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += self._pss_kb(pid)
            todo.extend(self._children(pid))
        with self._lock:
            self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self._active.is_set():
                self.sample()

    @contextlib.contextmanager
    def window(self):
        self.sample()
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Spans:
    """In-memory spans (name, start, end, parent, attrs); written once."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's row; ``end`` is set when the block exits."""
        row = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.rows.append(row)
        self._stack.append(len(self.rows) - 1)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.rows, fh)


def time_best(fn, min_total: float = 0.2, reps: int = 3) -> float:
    """Median seconds per call of ``fn`` over ``reps`` batches, each
    batch repeating the call until it has run ``min_total`` seconds."""
    per_call = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            el = time.perf_counter() - t0
            if el >= min_total:
                break
        per_call.append(el / n)
    return statistics.median(per_call)


def high_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value) at the highest percentile with at least ten
    samples above it; the median when the sample is too small."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return 50.0, statistics.median(xs)
    idx = n - 11
    return 100.0 * (idx + 1) / n, xs[idx]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def kernel_layers(urls) -> dict:
    """Single-core URL identity kernels on ``urls`` (a pandas Series),
    at least 50k rows per call."""
    import pandas as pd

    from ccspark import urlkernel
    from ccspark import urls as U

    reps = max(1, -(-50_000 // max(len(urls), 1)))
    u = pd.Series(list(urls) * reps, dtype=object)
    canon, hosts = U.canonicalize_batch_with_host(u)
    t_canon = time_best(lambda: U.canonicalize_batch_with_host(u))
    t_fp = time_best(lambda: U.urlfp_batch(canon, hosts=hosts))
    vals = [v for v in u.tolist() if isinstance(v, str) and v.isascii() and len(v) < 4000]
    handled = sum(int(urlkernel.canonicalize_matrix(vals[s:s + 8192])[0].sum()) for s in range(0, len(vals), 8192))
    return {
        "urls.canonicalize_urls_per_s": len(u) / t_canon,
        "urls.urlfp_urls_per_s": len(u) / t_fp,
        "urlkernel.vector_row_ratio": handled / len(u),
    }


def emit(table: list[tuple[str, float, str]], result: dict) -> None:
    """Human-readable metric table, then the one-line JSON result."""
    for name, value, unit in table:
        print(f"{name:<44} {value:>16.6g} {unit}")
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
