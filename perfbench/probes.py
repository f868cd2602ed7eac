"""Measurement from outside the package: spans, executed-plan SQL metrics,
Python UDF profiles and peak memory of the process tree.

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
  remembers which SQL executions ran inside each span.
* ``plan_nodes`` reads an execution's final plan graph from Spark's SQL
  status store.  With AQE the graph is the final adaptive plan, query
  stages included, and it covers write commands too, whose DataFrame the
  caller never sees.
* ``profile_cumulative`` sums cumulative times per kernel function over the
  ``spark.sql.pyspark.udf.profiler=perf`` results.
* ``PssSampler`` samples the summed proportional set size of this process
  and its descendants (the JVM and the Python workers) from a driver thread.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    executions: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        self._next_exec = _execution_count(spark)

    def span(self, name, fn):
        """Run ``fn`` inside a span; a span without a parent starts a new op."""
        parent = self._stack[-1] if self._stack else None
        early = self._take()  # executions since the last span boundary
        if parent is None:
            self._op += 1
        else:
            self.spans[parent].executions.extend(early)
        sp = Span(name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            return fn()
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            sp.executions.extend(self._take())

    def _take(self) -> list[int]:
        _drain_listeners(self.spark)
        n = _execution_count(self.spark)
        ids = list(range(self._next_exec, n))
        self._next_exec = n
        return ids

    def last(self, name: str) -> Span:
        return next(sp for sp in reversed(self.spans) if sp.name == name)

    def executions_under(self, sp: Span) -> list[int]:
        """Executions of ``sp`` and of every span nested in it."""
        i = self.spans.index(sp)
        out = list(sp.executions)
        for j, other in enumerate(self.spans):
            if j != i and _is_descendant(self.spans, j, i):
                out.extend(other.executions)
        return sorted(out)

    def uncovered_s(self, sp: Span) -> float:
        """Wall time of ``sp`` not covered by its direct child spans."""
        i = self.spans.index(sp)
        kids = [c for c in self.spans if c.parent == i]
        return sp.seconds - sum(c.seconds for c in kids)

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _is_descendant(spans, j: int, i: int) -> bool:
    p = spans[j].parent
    while p is not None:
        if p == i:
            return True
        p = spans[p].parent
    return False


def _store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def _drain_listeners(spark) -> None:
    """The status store is filled by the listener bus asynchronously."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _execution_count(spark) -> int:
    """SQL execution ids are dense from 0; the store retains them all while
    fewer than ``spark.sql.ui.retainedExecutions`` (1000) have run."""
    return int(_store(spark).executionsCount())


def _as_list(spark, seq):
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _parse(value: str, kind: str) -> float:
    """A status-store metric string as a number: bytes for size metrics,
    seconds for timing metrics, the plain number otherwise."""
    if kind == "sum":
        return float(value.replace(",", "") or 0)
    lines = value.split("\n")
    m = re.match(r"\s*([\d.,]+)\s*(\w+)", lines[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Node:
    id: int
    name: str
    metrics: dict
    children: list


def plan_nodes(spark, execution_id: int) -> dict[int, Node]:
    """The final plan graph of one SQL execution, with parsed metrics."""
    store = _store(spark)
    graph = store.planGraph(execution_id)
    values = dict(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        store.executionMetrics(execution_id)))
    nodes = {}
    for n in _as_list(spark, graph.allNodes()):
        metrics = {}
        for m in _as_list(spark, n.metrics()):
            v = values.get(m.accumulatorId())
            if v is not None:
                metrics[m.name()] = _parse(v, m.metricType())
        nodes[n.id()] = Node(n.id(), n.name(), metrics, [])
    for e in _as_list(spark, graph.edges()):
        # edges point from a child (data producer) to its parent
        if e.toId() in nodes and e.fromId() in nodes:
            nodes[e.toId()].children.append(e.fromId())
    return nodes


def descendants(nodes: dict[int, Node], nid: int) -> set[int]:
    out, todo = set(), list(nodes[nid].children)
    while todo:
        c = todo.pop()
        if c not in out:
            out.add(c)
            todo.extend(nodes[c].children)
    return out


def profile_cumulative(spark, funcs: dict[str, tuple[str, str]]) -> dict[str, float]:
    """Cumulative seconds per ``{label: (file name, function name)}``
    summed over every profiled UDF since the last clear.  The profiler keeps
    file base names only."""
    results = spark._profiler_collector._perf_profile_results
    out = {k: 0.0 for k in funcs}
    for stats in results.values():
        for (path, _line, fname), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            for label, (file, want) in funcs.items():
                if fname == want and os.path.basename(path) == file:
                    out[label] += ct
    return out


def clear_profiles(spark) -> None:
    spark._profiler_collector.clear_perf_profiles()


class PssSampler:
    """Peak summed proportional set size (MB) of this process tree while
    running.  PSS splits each shared page among the processes that map it,
    so forked children (Python workers, the JVM's short-lived helper
    processes) and shared libraries are not counted twice, as a sum of RSS
    would count them."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(os.getpid()))
            self._stop.wait(self.interval)


def tree_pss_kb(root: int) -> int:
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total
