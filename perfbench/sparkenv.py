"""Spark session for one benchmark run, kept inside the checkout.

``rove_spark.session.get_spark`` defaults to ``/tmp`` and ``/dev/shm``
for its warehouse, Derby home and shuffle directories; every one of them
is redirected under the run's work directory here, and the driver heap is
sized below host memory. The JVM is started once per run (a fresh JVM per
workload run) and ``stop`` waits for it to exit.
"""

from __future__ import annotations

import os
import subprocess
import threading
from pathlib import Path


def host_facts(root: Path) -> dict:
    """nproc, MemTotal, load average, CPU steal, git rev, pyspark version,
    and any Spark JVM already running on the host (it would inflate
    timings)."""
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    rev = "unknown"
    head = root / ".git" / "HEAD"
    if head.is_file():
        try:
            rev = subprocess.run(
                ["git", "-C", str(root), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or rev
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": os.getloadavg(),
        "cpu_steal_s": cpu_steal_s(),
        "git_rev": rev,
        "pyspark": pyspark.__version__,
        "concurrent_spark_jvms": spark_jvms(),
    }


def cpu_times(line: str | None = None) -> tuple[float, float]:
    """This machine's CPU seconds since boot, summed over its CPUs, as
    ``(busy, steal)``: ``busy`` is user, nice, system, irq and softirq
    time; ``steal`` is time a CPU had work to run but the host ran
    another guest instead. Read from ``/proc/stat``, or parsed from
    ``line``, a first line of it read earlier."""
    if line is None:
        with open("/proc/stat") as f:
            line = f.readline()
    fields = [int(x) for x in line.split()[1:9]]
    fields += [0] * (8 - len(fields))
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


def cpu_steal_s() -> float:
    """Seconds the host has withheld from this machine's CPUs since boot;
    its growth over a run shows contention from other guests."""
    return cpu_times()[1]


def spark_jvms(exclude: set[int] = frozenset()) -> list[int]:
    """Pids of running Spark JVMs (a ``java`` command line naming
    SparkSubmit), other than ``exclude``."""
    found = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) in exclude:
            continue
        try:
            cmd = (p / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if cmd and cmd[0].endswith(b"java") and any(b"SparkSubmit" in c for c in cmd):
            found.append(int(p.name))
    return found


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(children.get(cur, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """High-water mark of the summed RSS of this process and all its
    descendants (the JVM and its Python workers), sampled every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in _descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def start_spark(work: Path, cores: int, event_log: Path | None):
    """A local[cores] session through the engine's own ``get_spark``,
    with all scratch state under ``work``."""
    for sub in ("local", "tmp", "warehouse", "derby"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["ROVE_WAREHOUSE"] = str(work / "warehouse")
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # no hsperfdata file under /tmp, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # a heap fixed at its maximum from the start: the JVM's resident size
    # then depends on the work, not on when the collector chose to grow it
    java_opts = (
        f"-XX:+UseParallelGC -Xms{heap} -Dderby.system.home={work / 'derby'} "
        f"-Djava.io.tmpdir={work / 'tmp'}"
    )
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.sql.streaming.checkpointLocation": str(work / "stream_ckpt_default"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
            }
        )
    from rove_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def jvm_pid(spark) -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
