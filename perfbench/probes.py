"""Readings the engine's runtime already publishes: JVM management
beans and Spark's codegen counters over py4j, host CPU steal from
/proc/stat, and the SQL metrics of an executed physical plan."""

from __future__ import annotations

import os

# Executor-time bins over physical operator names. First match wins:
# Python-boundary operators are tested before scans (a Python data
# source scan is Python work) and exchange reads before scans.
BINS = (
    ("python", ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsIn", "FlatMapCoGroupsIn", "PythonDataSource", "PythonScan",
                "WindowInPandas", "AggregateInPandas", "PythonUDTF")),
    ("exchange", ("Exchange", "ShuffleQueryStage", "BroadcastQueryStage",
                  "AQEShuffleRead", "ShuffleRead")),
    ("scan", ("Scan", "ColumnarToRow", "InMemoryTableScan")),
    ("join", ("Join", "CartesianProduct")),
    ("agg", ("HashAggregate", "ObjectHashAggregate", "SortAggregate")),
    ("sort", ("Sort", "TakeOrderedAndProject")),
)
BIN_NAMES = tuple(b for b, _ in BINS) + ("other",)

SHUFFLE_WRITE_KEYS = ("shuffleBytesWritten",)
SHUFFLE_READ_KEYS = ("remoteBytesRead", "localBytesRead")
SPILL_KEYS = ("spillSize",)
PY_SENT_KEYS = ("pythonDataSent",)
PY_RECV_KEYS = ("pythonDataReceived",)


def bin_for(node_name: str) -> str:
    for name, keys in BINS:
        if any(k in node_name for k in keys):
            return name
    return "other"


# A whole-stage-codegen stage reports one duration for all the
# operators it fuses; it is charged to the most specific of them, and
# the fused operators' own timing metrics (aggregation build time,
# sort time, ...) are left out, since the stage's duration already
# covers them.
FUSED_PRIORITY = ("join", "agg", "sort", "python", "scan")


def _children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


def _fused(wscg) -> tuple[str, set[int]]:
    """(bin, plan ids) of the operators fused into one WholeStageCodegen
    stage: its subtree down to the InputAdapter boundaries."""
    seen, ids, stack = set(), set(), _children(wscg)
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "InputAdapter":
            continue
        seen.add(bin_for(name))
        ids.add(node.id())
        stack.extend(_children(node))
    return next((b for b in FUSED_PRIORITY if b in seen), "other"), ids


def plan_metrics(jplan) -> dict:
    """Roll one executed plan's SQL metrics into executor-time bins
    (ms), shuffle/spill/Python-boundary bytes, and the largest join
    output (the candidate count of a band or prefix self-join)."""
    from pim_orc_spark.plans.profile import _iter_nodes

    out = {f"{b}_ms": 0.0 for b in BIN_NAMES}
    out.update(shuffle_write_b=0, shuffle_read_b=0, spill_b=0,
               python_sent_b=0, python_recv_b=0, max_join_rows=0)
    nodes = list(_iter_nodes(jplan))
    stage_bin, fused_ids = {}, set()
    for node in nodes:
        if node.nodeName().startswith("WholeStageCodegen"):
            b, ids = _fused(node)
            stage_bin[node.id()] = b
            fused_ids |= ids
    for node in nodes:
        nid = node.id()
        b = stage_bin.get(nid) or bin_for(node.nodeName())
        timed = nid not in fused_ids
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = kv._1(), kv._2()
            v = metric.value()
            if v < 0:
                continue
            mtype = metric.metricType()
            if mtype == "timing":
                if timed:
                    out[f"{b}_ms"] += float(v)
            elif mtype == "nsTiming":
                if timed:
                    out[f"{b}_ms"] += v / 1e6
            elif key in SHUFFLE_WRITE_KEYS:
                out["shuffle_write_b"] += v
            elif key in SHUFFLE_READ_KEYS:
                out["shuffle_read_b"] += v
            elif key in SPILL_KEYS:
                out["spill_b"] += v
            elif key in PY_SENT_KEYS:
                out["python_sent_b"] += v
            elif key in PY_RECV_KEYS:
                out["python_recv_b"] += v
            elif key == "numOutputRows" and b == "join":
                out["max_join_rows"] = max(out["max_join_rows"], v)
    return out


class JvmProbe:
    """Cumulative GC time, JIT compile time and codegen compilations of
    the driver JVM (in local mode it is also the executor)."""

    def __init__(self, spark) -> None:
        self.jvm = spark.sparkContext._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        self._gcs = mf.getGarbageCollectorMXBeans()
        self._jit = mf.getCompilationMXBean()
        self._mem = mf.getMemoryMXBean()
        self._stat = f"/proc/{self.jvm.java.lang.ProcessHandle.current().pid()}/stat"
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> dict:
        gc_ms = sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size()))
        return {
            "gc_s": gc_ms / 1000.0,
            "jit_s": self._jit.getTotalCompilationTime() / 1000.0,
            "codegen_compiles": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "cpu_s": self.cpu_s(),
        }

    def cpu_s(self) -> float:
        """User plus system CPU time of the JVM process, all threads."""
        try:
            with open(self._stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0.0
        # fields after the command name start at stat field 3 (state);
        # utime and stime are fields 14 and 15
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def full_gc(self) -> None:
        self.jvm.System.gc()

    def heap_used_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getUsed() / 1e6


def storage_disk_mb(spark) -> float:
    """Cached or checkpointed blocks Spark holds on disk; blocks held in
    memory are already part of the heap reading."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.diskSize() for i in infos) / 1e6


def read_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted in user/nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0
