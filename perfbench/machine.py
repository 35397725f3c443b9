"""Session conf sized to the machine the benchmark is given, and the
process-level measurements (peak RSS, machine facts) every run records.

The engine's ``get_spark`` defaults to a 48 GiB driver and the repository's
``bench.py`` pins a pre-touched 16 GiB heap; neither starts on a small box.
Here the heap comes from ``MemAvailable`` (initial = maximum, so G1 never
resizes) and nothing is pre-touched: pages become resident only as the run
touches them. Every file Spark, the JVM and
Python write goes under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess

HEAP_CAP_MB = 2048
HEAP_FLOOR_MB = 768


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def heap_mb(mem_available_mb: int) -> int:
    """A quarter of available memory, rounded down to 256 MiB, within
    [HEAP_FLOOR_MB, HEAP_CAP_MB]. On a roomy machine the cap decides, so the
    heap (and the RSS it allows) does not follow co-tenants' usage."""
    quarter = (mem_available_mb // 4) // 256 * 256
    return max(HEAP_FLOOR_MB, min(HEAP_CAP_MB, quarter))


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def machine_facts(work_dir: str) -> dict:
    mem = meminfo_mb()
    disk = shutil.disk_usage(work_dir)
    return {
        "nproc": cpu_count(),
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "work_dir_free_mb": disk.free // (1 << 20),
    }


def prepare_env(work_dir: str) -> dict[str, str]:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``work_dir``; returns the dirs made. Must run before the JVM starts."""
    dirs = {k: os.path.join(work_dir, k)
            for k in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    # SPARK_LOCAL_DIRS wins over spark.local.dir, so an inherited value
    # would send shuffle files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    return dirs


def session_conf(dirs: dict[str, str], heap: int, event_log: bool) -> dict:
    # initial heap = max heap: G1 then never resizes, so the peak RSS
    # depends on what the run touches, not on when resizes happened. A fixed
    # set of JIT compiler threads keeps their CPU accountable (jit_cpu_s):
    # a dynamic one that exits takes its counters with it.
    java_opts = (f"-Xms{heap}m -XX:-UseDynamicNumberOfCompilerThreads "
                 f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}")
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of this Python process plus the driver JVM since
    they started or since the last ``reset_peak_rss``."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(pid)) / 1024.0


def reset_peak_rss(pid: int) -> None:
    """Reset both processes' VmHWM to their current RSS, so a pass that
    should not count (the correctness gate) leaves no peak behind."""
    for p in ("self", pid):
        with open(f"/proc/{p}/clear_refs", "w") as f:
            f.write("5")


def _proc_cpu_s(stat_path: str) -> tuple[int, float]:
    """(ppid, utime+stime+cutime+cstime in seconds) from /proc/<pid>/stat."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        except OSError:
            continue  # thread exited while scanning
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this Python process plus ``root_pid``
    (the driver JVM) and every live descendant of it (Python workers);
    exited workers are already in their parent's cutime/cstime. The JVM's
    JIT compiler threads are left out: their work is warm-up that drifts
    into whatever runs next, not the engine's."""
    procs: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _proc_cpu_s(f"/proc/{name}/stat")
            except (OSError, ValueError, IndexError):
                continue  # exited while scanning
    keep = {root_pid}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    me = os.times()
    total = me.user + me.system + sum(procs[p][1] for p in keep if p in procs)
    return total - jit_cpu_s(root_pid)


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM process to exit (its Python
    workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
