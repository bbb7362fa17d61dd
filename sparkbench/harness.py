"""Run plumbing shared by every workload: environment hygiene, the Spark
session and its process tree, memory sampling, RDD release between
operations, and the per-run record.

Everything a run writes goes under ``<checkout>/.bench_work``.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import threading
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(CHECKOUT, ".bench_work")
# local[n] with n <= nproc; 4 keeps runs comparable across larger boxes
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"  # driver JVM heap (local mode: the only JVM)
NO_PERF_DATA = "-XX:-UsePerfData"


def scrub_env() -> None:
    """Drop the package's tuning switches so every run measures defaults.

    ``CrawlConfig`` reads ``SPARK_GRAFT_FRONTIER_LAZY_ROUND`` at
    construction and ``get_spark`` reads the master, off-heap and JVM
    option switches, so a stray export would silently change the plan.
    """
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEM":
            del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no JVM performance-data file under /tmp (the launcher JVM and the driver)
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )


def source_digest() -> str:
    """sha256 over the package and benchmark sources (the checkout is not
    a git repository, so this stands in for the commit id)."""
    h = hashlib.sha256()
    for top in ("warchaeology_spark", os.path.basename(os.path.dirname(__file__))):
        root = os.path.join(CHECKOUT, top)
        for dirpath, dirnames, files in os.walk(root):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, CHECKOUT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def file_digest(*parts: str) -> str:
    """sha256 over named source files of the package plus free-form keys."""
    h = hashlib.sha256()
    for p in parts:
        full = os.path.join(CHECKOUT, p)
        if os.path.isfile(full):
            with open(full, "rb") as fh:
                h.update(fh.read())
        else:
            h.update(p.encode())
    return h.hexdigest()[:24]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---------------------------------------------------------------------------
# process tree and memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PssSampler:
    """Peak PSS of this process and all its descendants (the JVM and its
    Python workers), sampled every ``period`` seconds while not paused.
    Paused around output checks, whose oracles run in this process."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.part_peak_kb = {"driver": 0, "jvm": 0, "workers": 0}
        self._paused = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            if self._paused.is_set():
                continue
            parts = {"driver": _pss_kb(me), "jvm": 0, "workers": 0}
            for p in descendants(me):
                parts["jvm" if _comm(p) == "java" else "workers"] += _pss_kb(p)
            self.peak_kb = max(self.peak_kb, sum(parts.values()))
            for k, v in parts.items():
                self.part_peak_kb[k] = max(self.part_peak_kb[k], v)

    def start(self) -> None:
        self._thread.start()

    def pause(self) -> None:
        self._paused.set()

    def resume(self) -> None:
        self._paused.clear()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark session


def start_spark(app: str, event_log_dir: str | None = None):
    from warchaeology_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # A heap that grows with GC timing made peak PSS swing by a tenth
        # between identical runs; a fixed, pre-touched heap leaves the
        # metric to what the program holds outside it.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch {NO_PERF_DATA} "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        f"bench-{app}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )


def effective_conf(spark) -> dict[str, str]:
    keep = ("spark.master", "spark.driver.memory", "spark.sql.", "spark.memory.",
            "spark.executor.", "spark.default.parallelism")
    return {
        k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
        if k.startswith(keep)
    }


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it runs in, and wait until every
    process it started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + timeout
    alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while _alive(p) and time.monotonic() < deadline + 10:
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # exited; reap it if it is our own child
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def persistent_rdd_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc
    return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


def free_rdds(spark, keep: set[int]) -> None:
    """Unpersist every RDD an operation cached (localCheckpoints included),
    so the next operation does not run under the previous one's storage."""
    cur = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in cur.keySet().toArray():
        if int(rid) not in keep:
            cur.get(rid).unpersist(True)


def write_record(name: str, record: dict) -> str:
    d = os.path.join(WORK, "runs")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}-{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return path
