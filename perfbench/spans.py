"""Spans and Spark attribution for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark wraps public functions on the program's modules and restores
them afterwards; the program's source is not edited.  Every operation the
benchmark starts gets one Spark job group, so the status store attributes
engine time, tasks and shuffle bytes to it.  Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.ops: list[dict] = []  # {"op", "kind", "t0", "t1"} for job-group lookup

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": attrs.pop("op", parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, spark, op_id: str, kind: str):
        """One benchmark operation: a span plus, when tracing, one Spark
        job group named ``op_id``."""
        if not self.enabled:
            yield None
            return
        sc = spark.sparkContext
        sc.setJobGroup(op_id, kind)
        rec = {"op": op_id, "kind": kind, "gc0": jvm_gc_s(spark), "t0": time.time()}
        try:
            with self.span(kind, op=op_id) as s:
                yield s
        finally:
            rec["t1"] = time.time()
            rec["gc1"] = jvm_gc_s(spark)
            self.ops.append(rec)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- wrapping ---------------------------------------------------------
    def wrap(self, module, attr: str, span_name: str) -> None:
        """Route every reference to ``module.attr`` held by a loaded module
        of the program through a span named ``span_name``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        root = module.__name__.split(".")[0]
        for name, mod in list(sys.modules.items()):
            if (name == root or name.startswith(root + ".")) and getattr(mod, attr, None) is orig:
                self._patches.append((mod, attr, orig))
                setattr(mod, attr, traced)

    def unwrap_all(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()


# -- Spark status store ----------------------------------------------------


def jvm_gc_s(spark) -> float:
    """Collection time of the JVM so far.  Driver and executors share the
    JVM in local mode, so this also counts collections no task reports
    (Spark's task GC time reads 0 on short queries)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its group and stages."""
    _drain(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done, grp = j.submissionTime(), j.completionTime(), j.jobGroup()
        if not (sub.isDefined() and done.isDefined()):
            continue
        st = j.stageIds()
        out.append(
            {
                "job": j.jobId(),
                "group": grp.get() if grp.isDefined() else None,
                "t0": sub.get().getTime() / 1000.0,
                "t1": done.get().getTime() / 1000.0,
                "stages": [st.apply(k) for k in range(st.size())],
            }
        )
    return out


def spark_stages(spark, wanted: set[int]) -> dict[int, dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out: dict[int, dict] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid not in wanted:
            continue
        m = out.setdefault(sid, {"run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0})
        m["run_s"] += s.executorRunTime() / 1e3
        m["cpu_s"] += s.executorCpuTime() / 1e9
        m["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
    return out


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_total(text: str) -> float:
    """First size in a formatted SQL size metric (its total)."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def arrow_bytes(spark, job_ids: set[int]) -> tuple[float, float]:
    """Bytes sent to and received from Python workers by the SQL executions
    whose jobs are in ``job_ids`` (Python-exec SQL metrics)."""
    _drain(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    sent = recv = 0.0
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = e.jobs().keySet()
        it = jobs.iterator()
        if not any(int(it.next()) in job_ids for _ in range(jobs.size())):
            continue
        wanted = {}
        metrics = e.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() in ("data sent to Python workers", "data returned from Python workers"):
                wanted[m.accumulatorId()] = m.name()
        if not wanted:
            continue
        values = store.executionMetrics(e.executionId())
        for acc, name in wanted.items():
            v = values.get(acc)
            if v.isEmpty():
                continue
            if name.startswith("data sent"):
                sent += _size_total(v.get())
            else:
                recv += _size_total(v.get())
    return sent, recv


def op_metrics(spark, tracer: Tracer) -> dict:
    """Per-operation Spark figures for the traced ops, plus the driver time
    no job covered and the Arrow bytes of their SQL executions."""
    jobs = spark_jobs(spark)
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    stages = spark_stages(spark, {s for j in jobs for s in j["stages"]})
    per_op = {}
    all_ids: set[int] = set()
    for op in tracer.ops:
        js = by_group.get(op["op"], [])
        all_ids |= {j["job"] for j in js}
        sm = [stages[s] for j in js for s in j["stages"] if s in stages]
        per_op[op["op"]] = {
            "kind": op["kind"],
            "wall_s": op["t1"] - op["t0"],
            "spark_s": _union_s([(j["t0"], j["t1"]) for j in js]),
            "task_run_s": sum(m["run_s"] for m in sm),
            "task_cpu_s": sum(m["cpu_s"] for m in sm),
            "gc_s": op["gc1"] - op["gc0"],
            "shuffle_bytes": sum(m["shuffle_bytes"] for m in sm),
            "jobs": len(js),
        }
    sent, recv = arrow_bytes(spark, all_ids)
    return {
        "per_op": per_op,
        "driver_idle_s": sum(max(0.0, o["wall_s"] - o["spark_s"]) for o in per_op.values()),
        "arrow_to_python_bytes": sent,
        "arrow_from_python_bytes": recv,
    }
