"""Process plumbing: the Spark session, in-process job calls, and
/proc readings (driver JVM peak RSS, Python UDF worker CPU).

The jobs are called through their own ``main()`` with an argv, exactly
as ``spark-submit jobs/<name>.py <argv>`` would run them, so the
measured composition is the job surface's, not a re-implementation.
In-process ``getOrCreate()`` inside each job returns the benchmark's
session.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import sys


def start_spark(master: str, work: str, shuffle_partitions: int, event_log_dir: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(master)
        .appName("perfbench")
        # a shared 15 GiB host: the whole engine runs in this one JVM
        .config("spark.driver.memory", "3g")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                f"-Dderby.system.home={work}/derby")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session AND the gateway JVM, waiting until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.proc.pid)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_steal() -> float:
    """Seconds of CPU the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def descendants_cpu_s(pid: int) -> float:
    """CPU seconds (user+sys, incl. reaped children) of every process
    below ``pid`` — with a JVM pid, the Python daemon and UDF workers."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] = ppid; [11..14] = utime stime cutime cstime
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for p, (pp, _) in stats.items():
        children.setdefault(pp, []).append(p)
    total, todo = 0, list(children.get(pid, []))
    while todo:
        p = todo.pop()
        total += stats[p][1]
        todo.extend(children.get(p, []))
    return total / tick


class Jobs:
    """The repo's ``jobs/*.py`` entry points, loaded from source."""

    def __init__(self, repo: str):
        self._mods = {}
        for name in ("replay_job", "reconcile_job"):
            spec = importlib.util.spec_from_file_location(
                f"perfbench_{name}", os.path.join(repo, "jobs", f"{name}.py"))
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            self._mods[name] = mod

    def run(self, name: str, argv: list[str]) -> dict:
        """Run ``jobs/<name>.py`` with ``argv``; return its JSON line."""
        buf = io.StringIO()
        saved = sys.argv
        sys.argv = [f"{name}.py", *argv]
        try:
            with contextlib.redirect_stdout(buf):
                rc = self._mods[name].main()
        finally:
            sys.argv = saved
        lines = buf.getvalue().strip().splitlines()
        out = json.loads(lines[-1]) if lines else {}
        if rc != 0 or "error" in out:
            raise RuntimeError(f"{name} {argv} exited {rc}: {out}")
        return out
