"""Spark's own records of a job group, read back over py4j after the work.

Two sources, neither needing a change to the program:

- the SQL status store: every SQL execution whose jobs belong to the group,
  its final (adaptive) plan graph and each operator's metrics. Raw metric
  values come from the live accumulators (`AccumulatorContext`), which is
  why this is read right after each job; the store's formatted string is
  the fallback once an accumulator has been collected.
- the application status store: per-stage submission/completion times,
  run/CPU/GC time, and per-task run times.

`layer_metrics` maps these onto the pipeline's layers (module names):
scan, shuffle, arrow, kernel, join, shred, plus plan-shape counts.
Stages are attributed to a layer by the operator scopes of their RDD
operation graph.
"""

from __future__ import annotations

import re
import statistics

_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


def _it(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


def _parse_formatted(text: str, mtype: str) -> float:
    """First (total) value of Spark's formatted metric string, in base units
    (bytes, seconds or a plain count)."""
    line = text.split("\n")[-1] if "\n" in text else text
    tok = line.split(" (")[0].strip().split()
    if mtype in ("sum", "average") or len(tok) == 1:
        return float(tok[0].replace(",", ""))
    return float(tok[0].replace(",", "")) * _SCALE.get(tok[1], 1.0)


class Node:
    __slots__ = ("id", "name", "metrics", "children")

    def __init__(self, nid, name):
        self.id, self.name = nid, name
        self.metrics: dict = {}  # metric name -> value in base units
        self.children: list = []

    def below(self):
        out, todo = [], list(self.children)
        while todo:
            n = todo.pop()
            out.append(n)
            todo.extend(n.children)
        return out


class SparkRecords:
    """Reads both status stores of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.jvm.java.util.ArrayList()
        self._noq = self.sc._gateway.new_array(self.jvm.double, 0)
        self._acc = self.jvm.org.apache.spark.util.AccumulatorContext

    # ------------------------------------------------------------ jobs/stages
    def group_jobs(self, group: str) -> list:
        tag = f"Some({group})"
        return [j for j in _it(self.store.jobsList(self._empty)) if str(j.jobGroup()) == tag]

    def stages(self, jobs) -> list[dict]:
        out = []
        for j in jobs:
            for sid in _it(j.stageIds()):
                for s in _it(self.store.stageData(sid, False, self._empty, False, self._noq)):
                    sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
                    if sub is None or done is None:
                        continue  # skipped (reused shuffle) stage
                    out.append(
                        {
                            "stage": int(s.stageId()),
                            "attempt": int(s.attemptId()),
                            "job": int(j.jobId()),
                            "start": sub.getTime() / 1000.0,
                            "end": done.getTime() / 1000.0,
                            "run_s": s.executorRunTime() / 1000.0,
                            "cpu_s": s.executorCpuTime() / 1e9,
                            "gc_s": s.jvmGcTime() / 1000.0,
                            "tasks": int(s.numTasks()),
                        }
                    )
        return out

    def scopes(self, stage: int) -> set[str]:
        """Operator scopes (plan node names) whose RDDs the stage runs."""
        out, todo = set(), [self.store.operationGraphForStage(stage).rootCluster()]
        while todo:
            c = todo.pop()
            out.add(str(c.name()).strip())
            todo.extend(_it(c.childClusters()))
        return out

    def task_run_times(self, stage: int, attempt: int) -> list[float]:
        out = []
        for t in _it(self.store.taskList(stage, attempt, 100000)):
            m = _opt(t.taskMetrics())
            if m is not None:
                out.append(m.executorRunTime() / 1000.0)
        return out

    # ------------------------------------------------------------- SQL plans
    def executions(self, jobs) -> list:
        ids = {int(j.jobId()) for j in jobs}
        out = []
        for e in _it(self.sql.executionsList()):
            ejobs = {int(k) for k in _it(e.jobs().keys())}
            if ejobs & ids:
                out.append(e)
        return out

    def plan(self, execution) -> list[Node]:
        """The execution's final plan graph with metric values."""
        eid = execution.executionId()
        graph = self.sql.planGraph(eid)
        formatted = self.sql.executionMetrics(eid)
        nodes: dict = {}
        for n in _it(graph.allNodes()):
            node = Node(int(n.id()), str(n.name()).strip())
            nodes[node.id] = node
            for m in _it(n.metrics()):
                aid, mtype = m.accumulatorId(), str(m.metricType())
                acc = _opt(self._acc.get(aid))
                if acc is not None:
                    value = max(float(acc.value()), 0.0)
                    if mtype == "timing":
                        value /= 1e3
                    elif mtype == "nsTiming":
                        value /= 1e9
                else:
                    text = _opt(formatted.get(aid))
                    value = 0.0 if text is None else _parse_formatted(str(text), mtype)
                node.metrics[str(m.name())] = value
        for e in _it(graph.edges()):
            child, parent = nodes.get(int(e.fromId())), nodes.get(int(e.toId()))
            if child is not None and parent is not None:
                parent.children.append(child)
        return list(nodes.values())


def layer_metrics(rec: SparkRecords, group: str) -> tuple[dict, list[dict]]:
    """Per-layer sums for one job group, and its stage list (for spans).

    Stages are attributed by the operator scopes they run, within each SQL
    execution: kernel = runs MapInArrow; scan = the shuffle-map stage that
    reads files in an execution that runs the kernel; shred = in an
    execution with a join, a stage that neither builds a broadcast nor
    writes a shuffle nor runs the kernel (the join and the shred projection
    fused above it)."""
    jobs = rec.group_jobs(group)
    stages = rec.stages(jobs)
    by_job: dict = {}
    for s in stages:
        s["scopes"] = rec.scopes(s["stage"])
        s["layer"] = "other"
        by_job.setdefault(s["job"], []).append(s)
    m: dict = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    for ex in rec.executions(jobs):
        nodes = rec.plan(ex)
        ex_stages = [s for j in _it(ex.jobs().keys()) for s in by_job.get(int(j), [])]
        kernels = [n for n in nodes if n.name == "MapInArrow"]
        has_join = False
        for n in nodes:
            if n.name in JOINS:
                has_join = True
                add(f"plan.{_snake(n.name)}s", 1)
            elif n.name == "BroadcastExchange":
                add("join.broadcast_exchanges", 1)
                add("join.broadcast_bytes", n.metrics.get("data size", 0.0))
                add("join.broadcast_collect_s", n.metrics.get("time to collect", 0.0))
                # driver-side, after the collect stage ends: no stage span covers it
                add(
                    "join.broadcast_build_s",
                    n.metrics.get("time to build", 0.0) + n.metrics.get("time to broadcast", 0.0),
                )
            elif n.name == "AQEShuffleRead":
                add("plan.aqe_coalesced_partitions", n.metrics.get("number of coalesced partitions", 0.0))
        for k in kernels:
            add("arrow.bytes_to_python", k.metrics.get("data sent to Python workers", 0.0))
            add("arrow.bytes_from_python", k.metrics.get("data returned from Python workers", 0.0))
            add("arrow.python_boot_s", k.metrics.get("time to start Python workers", 0.0))
            add("arrow.python_init_s", k.metrics.get("time to initialize Python workers", 0.0))
            add("arrow.python_total_s", k.metrics.get("time to run Python workers", 0.0))
            for n in k.below():
                if n.name == "Exchange":
                    add("shuffle.bytes_written", n.metrics.get("shuffle bytes written", 0.0))
                    add("shuffle.write_s", n.metrics.get("shuffle write time", 0.0))
                    add("shuffle.fetch_wait_s", n.metrics.get("fetch wait time", 0.0))
                    for p in n.below():
                        if p.name.endswith("HashAggregate"):
                            add("shuffle.partial_agg_s", p.metrics.get("time in aggregation build", 0.0))
                elif n.name.endswith("HashAggregate"):
                    add("shuffle.agg_sort_fallback_tasks", n.metrics.get("number of sort fallback tasks", 0.0))
                elif n.name == "AQEShuffleRead":
                    add("shuffle.read_partitions", n.metrics.get("number of partitions", 0.0))
                elif n.name.startswith("Scan"):
                    add("scan.rows", n.metrics.get("number of output rows", 0.0))
                    add("scan.bytes", n.metrics.get("size of files read", 0.0))
        for s in ex_stages:
            sc = s["scopes"]
            if "MapInArrow" in sc:
                s["layer"] = "kernel"
            elif kernels and "Exchange" in sc and any(x.startswith("Scan") for x in sc):
                s["layer"] = "scan"
            elif has_join and not sc & {"Exchange", "BroadcastExchange"}:
                s["layer"] = "shred"

    def of(layer):
        return [s for s in stages if s["layer"] == layer]

    add("scan.stage_s", _wall(of("scan")))
    add("kernel.stage_s", _wall(of("kernel")))
    skews = []
    for s in of("kernel"):
        runs = sorted(rec.task_run_times(s["stage"], s["attempt"]))
        if runs and statistics.median(runs) > 0:
            skews.append(runs[-1] / statistics.median(runs))
    add("kernel.task_skew", max(skews) if skews else 0.0)
    add("shred.stage_s", _wall(of("shred")))
    add("shred.task_cpu_s", sum(s["cpu_s"] for s in of("shred")))
    add("shred.gc_s", sum(s["gc_s"] for s in of("shred")))
    return m, stages


def _wall(stages) -> float:
    return sum(s["end"] - s["start"] for s in stages)


def _snake(name: str) -> str:
    return re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()
