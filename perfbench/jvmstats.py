"""Read-only probes of the running Spark driver and its processes.

* ``StatusStore`` reads job and stage records from the driver's status
  store (present with the UI disabled) as plain dicts, one JSON
  round-trip per list.
* ``peak_rss_mb``, ``python_worker_cpu_s`` and ``host_cpu_ticks`` read
  ``/proc``.

Jobs and stages are attributed to an operation by their submission
time, not by job group: job groups are thread-local, and streaming
queries and thread pools submit jobs from other threads. The benchmark
runs one operation at a time, so a submission-time window is exact.
"""

from __future__ import annotations

import json
import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class StatusStore:
    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        raw = self._store.stageList(None, False, False, self._no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(raw))


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the whole machine so far. Steal is time
    the hypervisor ran something else while this machine's CPUs had work;
    busy is user, nice, system, irq and softirq time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return user + nice + system + irq + softirq, steal


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time demanded between two ``host_cpu_ticks``
    readings that the hypervisor withheld."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal else 0.0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def _proc_stats() -> dict[int, tuple[int, str, float]]:
    """pid -> (parent pid, command name, CPU seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may itself hold spaces
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), comm, ticks / _CLK_TCK)
    return out


def python_worker_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the Python processes below the driver
    JVM: the pyspark daemon, its forked workers (whose time moves into
    the daemon's once reaped) and the streaming Python runners."""
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    # a live process's time is not yet in its parent's cutime and a
    # reaped one's is, so summing every descendant counts each once
    total, stack = 0.0, list(children.get(jvm, []))
    while stack:
        pid = stack.pop()
        _, comm, cpu = stats[pid]
        if comm.startswith("python"):
            total += cpu
        stack.extend(children.get(pid, []))
    return total
