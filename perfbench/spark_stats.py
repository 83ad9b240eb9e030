"""Read Spark's own in-process counters through py4j.

Jobs, stages, tasks and cached RDDs come from the ``AppStatusStore``
(the data behind the web UI, live with ``spark.ui.enabled=false``),
serialized to JSON inside the JVM by Jackson with the Scala module, so
one py4j call returns a whole list. Codegen compiles come from
``CodegenMetrics``; GC time from the JVM's collector MXBeans (the driver
and the local executors share one JVM).
"""

from __future__ import annotations

import json
import os

MB = 1024.0 * 1024.0


class SparkStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._jsc = sc._jsc
        self._store = sc._jsc.sc().statusStore()
        jackson = self._jvm.com.fasterxml.jackson
        scala_module = getattr(jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper.configure(jackson.databind.SerializationFeature.FAIL_ON_EMPTY_BEANS, False)
        self._compile_hist = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, dict]:
        """Stage id -> latest attempt's data, skipped stages included."""
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        out: dict[int, dict] = {}
        for st in self._json(self._store.stageList(None, False, False, no_quantiles, None)):
            prev = out.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                out[st["stageId"]] = st
        return out

    def task_durations_ms(self, stage: dict) -> list[float]:
        tasks = self._json(self._store.taskList(stage["stageId"], stage["attemptId"], 1 << 30))
        return [t["duration"] for t in tasks if t.get("duration") is not None]

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile seconds so far).

        The histogram's reservoir holds every sample while the count is
        at most its size (1028); past that the sum is the count times
        the reservoir mean."""
        count = int(self._compile_hist.getCount())
        snap = self._compile_hist.getSnapshot()
        size = int(snap.size())
        if size == 0:
            return count, 0.0
        total_ms = float(self._jvm.java.util.Arrays.stream(snap.getValues()).sum())
        if size < count:
            total_ms = total_ms / size * count
        return count, total_ms / 1000.0

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1000.0

    def residue(self) -> tuple[int, float]:
        """(persisted RDD count, MB those RDDs hold in memory and on disk)."""
        n = int(self._jsc.getPersistentRDDs().size())
        rdds = self._json(self._store.rddList(True))
        mb = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MB
        return n, mb


def _process_tree(root_pid: int) -> dict[int, list[str]]:
    """Pid -> the ``/proc/<pid>/stat`` fields after the command name, for
    ``root_pid`` and its live descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return tree


def process_tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and its live
    descendants, including the descendants they have already reaped."""
    ticks = os.sysconf("SC_CLK_TCK")
    tree = _process_tree(root_pid or os.getpid())
    # utime, stime, cutime, cstime are stat fields 14-17
    return sum(sum(int(x) for x in f[11:15]) for f in tree.values()) / ticks


def process_tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of peak RSS (``VmHWM``) over ``root_pid`` and its live
    descendants, read from ``/proc``."""
    total_kb = 0
    for pid in _process_tree(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
