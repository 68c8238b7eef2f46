"""Per-run context from /proc: CPU steal, load, memory high-water marks."""

from __future__ import annotations

import os
import platform


def cpu_times() -> dict[str, float]:
    """Whole-machine CPU seconds by kind, from the first line of /proc/stat."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) / hz for n, v in zip(names, fields)}


def snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu": cpu_times(), "loadavg": load}


def delta(before: dict, after: dict) -> dict:
    cpu = {k: after["cpu"][k] - before["cpu"][k] for k in before["cpu"]}
    total = sum(cpu.values())
    return {"cpu_s": cpu, "steal_s": cpu["steal"], "steal_share": cpu["steal"] / total if total else 0.0,
            "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"]}


def process_start_age() -> float:
    """Seconds since this process started, from /proc/self/stat."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _status(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children(pid: int) -> list[int]:
    """Every descendant pid of ``pid``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb(jvm_pid: int | None) -> dict[str, float]:
    """VmHWM in MiB of this process, its Spark JVM and their sum."""
    py = _status(os.getpid(), "VmHWM") / 1024.0
    jvm = _status(jvm_pid, "VmHWM") / 1024.0 if jvm_pid else 0.0
    return {"python": py, "jvm": jvm, "total": py + jvm}


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"spark": pyspark.__version__, "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "nproc": os.cpu_count()}
