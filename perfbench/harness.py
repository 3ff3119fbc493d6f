"""Launcher, Spark session lifecycle and result checking shared by the
workloads.

:func:`prepare_env` must run before pyspark is imported: it sizes the
driver heap from host memory, puts the checkout on the Python workers'
path (the UDF queries import the package inside the workers) and keeps
the JVM's temporary files in the run's work directory. Shuffle and
spill files go where the engine's session factory puts them, so the
benchmark measures the engine's own local-dir choice.
"""

from __future__ import annotations

import datetime
import json
import os
import resource
import shutil
import sys
import time

from stats import Tally
from tracing import Tracer


def host_mem_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def driver_heap_gb(mem_gb: float) -> int:
    """A quarter of host memory, between 1 and 8 GiB: the inputs are
    small, and the host is shared."""
    return max(1, min(8, int(mem_gb // 4)))


def prepare_env(root: str, work: str, cpus: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap_gb(host_mem_gb())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {heap}g "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)


class Run:
    """One benchmark run: arguments, work directory, the Spark session,
    the failure tally, per-step records and (when tracing) the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 root: str, work: str, cpus: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.root, self.work, self.cpus = trace, root, work, cpus
        self.tally = Tally()
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.session_start_s = 0.0
        self.event_dir = os.path.join(work, "eventlog")

    # -- session -----------------------------------------------------------
    def start_session(self):
        """Launch the JVM and start the Spark session through the
        package's factory. A run calls it once, so the start is cold,
        as in a new process."""
        from sec_xbrl_finwarehouse_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse")}
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def job_group(self, group: str | None) -> None:
        """Label the calling thread's next jobs (tracing only)."""
        if self.trace:
            sc = self.spark.sparkContext
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group)

    def jobs_in(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    # -- output ------------------------------------------------------------
    def step(self, name: str, **fields) -> None:
        """Print one finished step as a JSON line right away, so a run
        that is killed still leaves a parseable prefix."""
        print(json.dumps({"step": name, **fields}, default=str), flush=True)

    def peak_rss_mb(self) -> float:
        """Peak resident set of this process plus the JVM it launched."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.jvm_pid()
        if pid:
            try:
                with open(f"/proc/{pid}/status", encoding="ascii") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0

    def cleanup(self) -> None:
        """Stop Spark, let the JVM exit and wait for it, then remove the
        run directory."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on EOF
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


# ---- result comparison ---------------------------------------------------------


def _cell(v):
    """Render one value the same way for Spark's and DuckDB's pandas
    frames: numpy values become Python ones, NaN/NaT/None become None,
    timestamps and dates become ISO strings."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if v is None or v != v:
        return None
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def frame_rows(pdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows sorted order-insensitively) of a
    pandas frame, each row's cells in column-name order."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple(_sort_key(x) for x in r))
    return cols, rows


def _sort_key(x) -> str:
    if isinstance(x, float):
        return f"{x:.6g}"
    return str(x)


# relative tolerance for float cells
REL = 1e-9


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        return fa == fb or abs(fa - fb) <= REL * max(abs(fa), abs(fb))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def same_result(got: tuple[list, list], want: tuple[list, list]) -> str | None:
    """None when two :func:`frame_rows` results agree (same columns,
    same row count, equal cells up to the ``REL`` relative float tolerance),
    else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b and not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a!r} != {b!r}"[:300]
    return None
