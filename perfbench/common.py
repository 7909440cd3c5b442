"""Session set-up, the progress listener and the checks shared by the
workloads.

Everything a run writes goes under its work directory inside the
checkout: Spark's local dirs, the JVM's temp dir, the event log, the
landing zones and the downstream databases.
"""

from __future__ import annotations

import os
import sys
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# A run is a short-lived process whose measured phase starts cold. C2
# compiler threads then compete with the job for the cores and their CPU
# varies run to run; C1 alone halves the run's CPU and steadies it. The
# serial collector keeps GC threads off the other cores likewise.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"


def start_session(root: str, work: str, event_log: bool):
    """A SparkSession through the engine's own factory, with every
    setting that would otherwise follow the host pinned: worker threads
    and shuffle partitions to the cores this process may use, JVM
    options, temp and local dirs into ``work``."""
    cpus = str(nproc())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_MASTER", None)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from tidb_binlog_spark.session import get_spark
    spark = get_spark("perfbench", shuffle_partitions=int(cpus),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Progress:
    """Records every micro-batch progress event."""

    def __init__(self):
        self.events: list[dict] = []
        self.lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                rec = {"query": str(p.id), "batch": p.batchId,
                       "rows": p.numInputRows,
                       "ms": dict(p.durationMs or {})}
                with outer.lock:
                    outer.events.append(rec)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _L()

    def of(self, qid: str) -> list[dict]:
        with self.lock:
            return [e for e in self.events if e["query"] == qid]

    def wait_for(self, qid: str, n: int, timeout: float = 30.0) -> list[dict]:
        """Progress events reach the listener asynchronously; wait until
        ``n`` of them arrived for ``qid``."""
        deadline = time.perf_counter() + timeout
        while len(self.of(qid)) < n and time.perf_counter() < deadline:
            time.sleep(0.05)
        return self.of(qid)


def sym_diff(a, b, cols: list[str]) -> list[tuple]:
    """Rows of a not in b and of b not in a, as a multiset. Each side is
    a Spark DataFrame small enough to collect (one job) or a pandas
    DataFrame."""
    from collections import Counter

    def rows(x):
        pdf = x.select(*cols).toPandas() if hasattr(x, "toPandas") \
            else x[cols]
        return Counter(map(tuple, pdf.itertuples(index=False)))

    ca, cb = rows(a), rows(b)
    return list(((ca - cb) + (cb - ca)).elements())


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the driver JVM and its Python workers), including their reaped
    children. Time the hypervisor steals from the VM is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:         # exited while listing
            continue
        f = raw[raw.rindex(")") + 2:].split()
        # fields after the name: state ppid ... utime(12) stime(13)
        # cutime(14) cstime(15), counted from state = 0
        stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / tick


def steal_s() -> float:
    """Seconds the hypervisor has stolen from this VM so far, per CPU:
    the ``steal`` column of ``/proc/stat``, summed over the VM's CPUs,
    divided by their count. A timed phase's wall time less its steal is
    the wall time the VM's CPUs were its own."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size
