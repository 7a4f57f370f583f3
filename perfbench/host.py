"""Host pinning, the harness-owned Spark conf dir, and the RSS sampler."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import threading
import time

# The session factory defaults spark.driver.memory to 16g, more than a
# 15 GB host has; the benchmark pins a heap that fits beside the OS and
# the Python workers.
DRIVER_MEM = "4g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(repo_root: str, run_dir: str, event_log_dir: str | None) -> None:
    """Set the environment the engine's session factory and the JVM
    read: SPARK_GRAFT_CPUS = usable cores, SPARK_GRAFT_DRIVER_MEM,
    an empty SPARK_LOCAL_DIRS and a conf dir under ``run_dir``.
    Temporary files (Python's and the JVM's) and the SQL warehouse go
    under ``run_dir`` too, so nothing a run leaves behind outlives it.
    ``event_log_dir`` turns on an uncompressed, unrolled event log.
    Must run before the JVM starts."""
    local = os.path.join(run_dir, "spark-local")
    conf = os.path.join(run_dir, "conf")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, conf, tmp):
        os.makedirs(d)
    # Some plans write state dirs under tempfile.gettempdir() and leave
    # them for the OS to reap. Every JVM (the spark-submit launcher and
    # the driver) reads JAVA_TOOL_OPTIONS.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir file://{os.path.join(run_dir, 'warehouse')}",
    ]
    if event_log_dir is not None:
        os.makedirs(event_log_dir)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{os.path.abspath(event_log_dir)}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_CONF_DIR": conf,
    })
    # Python workers import the engine too.
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")


# The speed probe: a shared host's speed drifts by a third over minutes,
# and every part of a run (set-up, each query, each commit) drifts with
# it. A run times a fixed loop between its operations and reports its
# times scaled to the speed at which the loop takes PROBE_REF_S, about
# this loop's time on the 4-core host the baseline was taken on.
PROBE_LOOPS = 100_000
PROBE_REF_S = 0.010


def speed_probe() -> float:
    """Seconds a fixed pure-Python loop takes right now: the shared
    host's current speed, independent of the program under test."""
    t = time.perf_counter()
    x = 0
    for i in range(PROBE_LOOPS):
        x += i * i % 7
    return time.perf_counter() - t


def speed_probes(n: int) -> list[float]:
    return [speed_probe() for _ in range(n)]


def at_reference_speed(seconds: float, probe_s: float) -> float:
    """``seconds`` measured while the probe took ``probe_s``, scaled to
    the reference host's speed."""
    return seconds * PROBE_REF_S / probe_s


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


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
        # the command may contain spaces and parentheses: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7], sum(ticks[:8])


class RssSampler:
    """Samples the summed resident memory of every process this one
    started (the driver JVM and its Python workers) and keeps the peak.
    Also records the share of the host's CPU time the hypervisor stole
    meanwhile (``steal_frac``), the sign of a busy shared machine."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.steal_frac = 0.0
        self._ticks = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        kids = _children()
        todo, total = list(kids.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._ticks = _cpu_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._sample())
        steal, total = (b - a for a, b in zip(self._ticks, _cpu_ticks()))
        self.steal_frac = steal / total if total else 0.0
        return False


def stop_jvm(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM
    (and with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
