"""Host-fitted Spark session, host record, memory high-water marks, and
a clean JVM shutdown."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import time

# The host-speed probe: a fixed single-threaded loop, about its CPU time
# on the reference host, and how often the sampler runs it (README.md,
# "Host speed").
PROBE_LOOPS = 200_000
REF_PROBE_S = 0.020
PROBE_INTERVAL_S = 0.15


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
    }


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others so far (all cores), from
    ``/proc/stat``; a run's difference shows how noisy the host was."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def tree_cpu_s(skip: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant but ``skip``: the JVM and its Python workers. Stolen time
    is not charged to a process."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(rest[1])
        cpu[pid] = sum(int(x) for x in rest[11:15]) / tick
    me, total = os.getpid(), 0.0
    for pid, c in cpu.items():
        p = pid
        while p in parent and p != me and p != skip:
            p = parent[p]
        if p == me:
            total += c
    return total


def probe_s() -> float:
    """CPU seconds the fixed probe loop takes in this process now."""
    t0 = time.process_time()
    acc = 0
    for i in range(PROBE_LOOPS):
        acc += i * i % 7
    return time.process_time() - t0


class SpeedSampler:
    """Runs ``speedprobe.py`` beside the timed phase.

    On a shared host the same work costs more CPU time while neighbours
    load the machine (shared cores and caches), so a run's CPU times move
    with the host. The probe loop's CPU time sampled through the timed
    phase measures that; :meth:`factor` is the reference probe time over
    the run's mean probe time, which rescales the run's CPU times to the
    reference host's speed. The sampler is a separate process so that it
    covers long operations too; its own CPU is left out of
    :func:`tree_cpu_s`."""

    def __init__(self) -> None:
        self.samples: list[float] = []
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "speedprobe.py"),
             str(PROBE_INTERVAL_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> None:
        if self.proc.returncode is not None:
            return
        try:
            out, _ = self.proc.communicate(input="", timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            out, _ = self.proc.communicate()
        self.samples = [float(x) for x in out.split()]

    def factor(self) -> float:
        """Reference probe time over the mean sample: below 1 while the
        host runs slower than the reference, above 1 while faster."""
        return REF_PROBE_S / statistics.mean(self.samples) if self.samples else 1.0


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s() -> float:
    """CPU seconds the Spark JVM's JIT compiler threads used so far.
    The session keeps every compiler thread alive for the JVM's lifetime
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so summing the live
    threads misses none."""
    proc = jvm_process()
    if proc is None:
        return 0.0
    tick = os.sysconf("SC_CLK_TCK")
    base = f"/proc/{proc.pid}/task"
    total = 0.0
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/comm") as fh:
                if not fh.read().startswith(_JIT_THREADS):
                    continue
            with open(f"{base}/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        total += (int(rest[11]) + int(rest[12])) / tick
    return total


def session_conf(facts: dict, work: str) -> tuple[str, dict[str, str]]:
    """``local[nproc]``, two shuffle partitions per core, and a driver
    heap of an eighth of memory (1-4 GB), committed at start so the peak
    resident size does not depend on when the collector grows the heap,
    and JIT compiler threads that live as long as the JVM (see
    :func:`jit_cpu_s`). All scratch stays in ``work``."""
    heap_mb = max(1024, min(4096, facts["mem_total_mb"] // 8))
    tmp = os.path.join(work, "tmp")
    java_opts = (f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    return f"local[{facts['nproc']}]", {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(2 * facts["nproc"]),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """VmHWM of this Python driver plus the Spark JVM."""
    proc = jvm_process()
    jvm = vm_hwm_kb(proc.pid) if proc is not None else 0
    return (vm_hwm_kb("self") + jvm) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM (and so
    its Python workers) to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
