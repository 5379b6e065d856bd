"""Host fit and process-tree accounting for the KG benchmark.

Everything here reads ``/proc`` only: the driver heap is sized from
physical memory, CPU is the sum over this process and every descendant
(the Spark JVM and its Python workers, with reaped children folded in
through ``cutime``/``cstime``), and peak memory is the largest sampled sum
of their resident sets.
"""

from __future__ import annotations

import os
import subprocess
import threading
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A sixth of physical memory, clamped to [1 GiB, 4 GiB]: the engine's
    own 32g default does not fit small hosts, and the benchmark inputs
    need well under 1 GiB of live heap."""
    return max(1024, min(4096, mem_total_bytes() // 6 // 2**20))


def start_session(work: Path, trace: bool, master: str):
    """A session from the engine's ``build_session`` with the heap sized
    to this host and every scratch directory under ``work``."""
    from islamic_ner_spark.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)  # the launcher's and workers' temp files
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby'} -XX:-UsePerfData"
        ),
    }
    if trace:
        (work / "events").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            # pyspark 4.1 compresses with zstd by default; the parser is stdlib
            "spark.eventLog.compress": "false",
        })
    return build_session("kgbench", master=master, extra_conf=conf)


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until its JVM has exited.

    pyspark keeps the gateway JVM (and with it the Python workers) alive
    after ``stop()`` until this process exits; the JVM exits when its
    stdin closes.  Closing it here and waiting means the run ends with
    none of its processes still running."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) of one process."""
    try:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields[0] is state (stat field 3): ppid=4, utime..cstime=14..17, rss=24
    ppid = int(fields[1])
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ppid, ticks, int(fields[21])


def _tree(root: int) -> dict[int, tuple[int, int]]:
    """{pid: (cpu ticks, rss pages)} for ``root`` and its descendants."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot, from
    /proc/stat; busy minus this tree's CPU is what other tenants used."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return (user + nice + system + irq + softirq) / _CLK_TCK, steal / _CLK_TCK


def tree_cpu_s(root: int | None = None) -> float:
    tree = _tree(root or os.getpid())
    return sum(t for t, _ in tree.values()) / _CLK_TCK


def tree_rss_mb(root: int | None = None) -> float:
    tree = _tree(root or os.getpid())
    return sum(r for _, r in tree.values()) * _PAGE / 2**20


class PeakRss:
    """Samples the process tree's resident set every ``interval_s`` in a
    daemon thread; ``stop()`` joins it and returns the peak in MB."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._done.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb
