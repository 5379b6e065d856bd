"""Host-contamination detection for benchmark legs.

This sandbox shares a physical host whose external load swings by 2-15
within minutes, and (observed in round 3) other harness processes can
start their own Spark JVMs INSIDE the container mid-leg — a 4-core
pinned leg was measured burning 3,128 CPU-s in 468 s (physically
impossible on 4 cores) while a foreign ``local[16]`` JVM ran alongside.
Any throughput or scaling number from such a window is garbage, and
load1 alone cannot separate "our JVM is busy" from "someone else's JVM
is busy".

Two cheap, dependency-free probes give every leg an admissible/suspect
verdict:

* :func:`foreign_spark_processes` — Spark-ish processes (SparkSubmit
  JVMs, ``pyspark.daemon`` worker pools) whose ancestry does NOT reach
  the calling process: anything it returns is a co-tenant burning the
  same container CPU quota.  Polled before and during a leg; one hit
  marks the leg contaminated.
* :func:`load1` — ``/proc/loadavg`` IS host-visible in this container
  (verified round 3: load1 10.3 with zero container processes), so a
  pre-leg load floor filters host-wide spikes.

Used by ``bench.py`` (per-phase ``foreign_jvm`` flags in the emitted
JSON) and ``scripts/scaling_run.py`` (admission gate + in-flight
monitor + leg retry).
"""

from __future__ import annotations

import os
from pathlib import Path

# substrings that identify a Spark-related process in /proc cmdlines
_SPARK_MARKERS = ("org.apache.spark", "pyspark.daemon", "pyspark.worker")


def _stat_ppid(pid: int) -> int | None:
    """Parent pid from /proc/<pid>/stat (robust to spaces/parens in the
    comm field: everything up to the LAST ')' is pid+comm)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    try:
        return int(stat.rsplit(")", 1)[1].split()[1])
    except (IndexError, ValueError):
        return None


def _descends_from(pid: int, root_pid: int, max_depth: int = 64) -> bool:
    current = pid
    for _ in range(max_depth):
        if current == root_pid:
            return True
        if current in (0, 1) or current is None:
            return False
        parent = _stat_ppid(current)
        if parent is None or parent == current:
            return False
        current = parent
    return False


def spark_processes() -> list[tuple[int, str]]:
    """(pid, abbreviated cmdline) of every Spark-ish process in the
    container (JVMs and Python worker daemons)."""
    found: list[tuple[int, str]] = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            cmdline = Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            continue
        text = cmdline.replace(b"\x00", b" ").decode("utf-8", "replace")
        if any(marker in text for marker in _SPARK_MARKERS):
            found.append((pid, text[:160].strip()))
    return found


def foreign_spark_processes(root_pid: int | None = None) -> list[tuple[int, str]]:
    """Spark-ish processes NOT descended from ``root_pid`` (default: this
    process) — i.e. co-tenant Spark work contaminating the container's
    CPU accounting and cores.  Empty list == clean."""
    root = root_pid if root_pid is not None else os.getpid()
    return [
        (pid, cmd)
        for pid, cmd in spark_processes()
        if not _descends_from(pid, root)
    ]


def load1() -> float | None:
    """Host 1-minute loadavg (host-visible in this container)."""
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return None


def load5() -> float | None:
    """Host 5-minute loadavg."""
    try:
        return float(Path("/proc/loadavg").read_text().split()[1])
    except OSError:
        return None


def _container_cpu_ns() -> int | None:
    """Container-wide cumulative CPU (cgroup v1 cpuacct, v2 cpu.stat)."""
    try:
        return int(Path("/sys/fs/cgroup/cpuacct/cpuacct.usage").read_text())
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/unified/cpu.stat"):
        try:
            for line in Path(path).read_text().splitlines():
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) * 1000
        except OSError:
            continue
    return None


def container_cpu_rate(sample_s: float = 0.5) -> float | None:
    """Cores this container is burning RIGHT NOW (cgroup CPU delta over a
    short sample) — distinguishes live in-container work from the decaying
    loadavg tail of work that already finished."""
    import time

    before = _container_cpu_ns()
    if before is None:
        return None
    time.sleep(sample_s)
    after = _container_cpu_ns()
    if after is None:
        return None
    return (after - before) / 1e9 / sample_s


def decay_ceiling(load_threshold: float | None) -> float | None:
    """Absolute load1 bound of the decay-tail fast path: 3x the
    threshold, so a zero threshold gives a ceiling of 0 (not none)."""
    return None if load_threshold is None else 3.0 * load_threshold


def wait_for_admission(
    load_threshold: float,
    max_wait_s: int = 900,
    poll_s: float = 20.0,
    allow_decay_tail: bool = False,
) -> bool:
    """Block until the container has NO foreign Spark processes and (when
    ``load_threshold`` > 0) the host 1-min loadavg — which IS
    host-visible here — is at or below the threshold, or ``max_wait_s``
    elapses.  External load oscillates between ~2 and ~15 with a period
    of minutes, and a leg started into a spike or alongside a co-tenant
    JVM is wasted work.  Returns True when admitted clean, False when
    the wait expired (caller proceeds anyway — the per-phase cpu_s /
    load1 / foreign_jvm evidence still ships).

    Shared by scripts/scaling_run.py (scaling legs) and bench.py
    (per-round driver runs — round-4 verdict: BENCH_r04 was taken at
    load1 10-36 and showed a phantom 2.6x regression that only the
    evidence columns could refute; waiting for a quiet window makes the
    official artifact itself trustworthy).

    ``allow_decay_tail=True`` (bench.py's BETWEEN-PHASE admissions) also
    admits when the load looks like the decaying 1-min-EWMA tail of work
    that already finished: no foreign Spark process, the container
    itself near-idle (< 0.5 cores over a live cgroup sample), load1
    falling well below load5, AND load1 already within a small multiple
    of the threshold.  A heavy bench phase pegs every core, so waiting
    for the loadavg *of our own finished phase* to decay burns the
    shared wait budget without avoiding any contention.  The falling
    shape alone cannot distinguish our own tail from external load that
    is winding down but still running (a co-tenant dropping 30->12
    cores also holds load1 falling) — hence the absolute bound, which
    caps how contended a window the fast path can ever admit into.
    Callers already proceed on expiry, so the fast path can only save
    wasted waiting, never admit worse than the status quo."""
    import time

    started = time.time()
    ceiling = decay_ceiling(load_threshold)
    while True:
        foreign = foreign_spark_processes()
        load_now = load1()
        if not foreign and (
            not load_threshold or load_now is None or load_now <= load_threshold
        ):
            return True
        if allow_decay_tail and not foreign and load_now is not None:
            l5 = load5()
            rate = container_cpu_rate()
            if (
                l5
                and load_now < 0.9 * l5
                and (ceiling is None or load_now <= ceiling)
                and rate is not None
                and rate < 0.5
            ):
                return True
        if time.time() - started >= max_wait_s:
            print(
                f"admission wait expired after {max_wait_s:.0f}s "
                f"(foreign={bool(foreign)}, load1={load_now}); proceeding anyway",
                flush=True,
            )
            return False
        time.sleep(poll_s)
