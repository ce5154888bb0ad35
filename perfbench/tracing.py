"""In-memory tracing for the benchmark's traced run.

A :class:`Tracer` records spans (``name``, ``start``, ``end``, ``parent``,
``op_id``) and counters around calls the benchmark makes into the engine's
public functions.  Span names: ``session.get_spark``, ``registry.build``,
``sql.parse_analyze``, ``plan``, ``exec``, ``sources.read``,
``sources.write``, ``stream.trigger``.  Nothing is written until :meth:`Tracer.dump` at the end of
the run.  A disabled tracer is a no-op, so the untraced run pays nothing.

Spark-side counters come from outside the engine too:

* job / stage / task counts from the status tracker, per operation job
  group (one group for build, one for collect, never reused);
* shuffle-write, spill and scan metrics from the executed plan's SQL
  metrics after ``collect``;
* py4j calls, by counting ``send_command`` on the session's gateway client.
"""

from __future__ import annotations

import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._py4j_calls = 0
        self._groups = 0

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op_id": op_id,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add_span(self, name: str, start: float, end: float,
                 op_id: str | None = None) -> None:
        """Record a span measured elsewhere (e.g. a streaming trigger)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"name": name, "start": start, "end": end,
                                   "parent": None, "op_id": op_id})

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[key] += n

    def totals(self) -> dict[str, float]:
        """Inclusive seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name minus the time of its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict | None = None) -> None:
        doc = {"spans": self.spans, "counts": dict(self.counts),
               "self_s": self.self_times(), **(extra or {})}
        with open(path, "w") as fh:
            json.dump(doc, fh)

    # -- py4j ------------------------------------------------------------------

    def install_py4j_counter(self, spark) -> None:
        """Count every py4j command this Python process sends to the JVM."""
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counting(*a, **kw):
            self._py4j_calls += 1
            return orig(*a, **kw)

        client.send_command = counting

    @property
    def py4j_calls(self) -> int:
        return self._py4j_calls

    # -- Spark job groups --------------------------------------------------------

    def new_group(self, sc, op_id: str, phase: str) -> str | None:
        """Start a fresh job group for one phase of one operation."""
        if not self.enabled:
            return None
        self._groups += 1
        gid = f"perfbench-{self._groups}-{op_id}-{phase}"
        sc.setJobGroup(gid, gid)
        return gid

    @staticmethod
    def clear_group(sc) -> None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def group_stats(sc, gid: str | None) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks run under one job group."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_failures": 0}
        if gid is None:
            return out
        st = sc.statusTracker()
        stages = set()
        for jid in st.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            s = st.getStageInfo(sid)
            if s is not None:
                out["stages"] += 1
                out["tasks"] += s.numTasks
                out["task_failures"] += s.numFailedTasks
        return out


#: SQL metrics read per node kind: (node-name prefix, metric, counter)
_NODE_METRICS = (
    (("Scan", "BatchScan", "InMemoryTableScan"), "numOutputRows", "scan_rows"),
    (("Scan", "BatchScan"), "filesSize", "scan_bytes"),
    (("Scan", "BatchScan"), "numPartitions", "partitions_read"),
    (("Exchange",), "shuffleBytesWritten", "shuffle_write_bytes"),
    (("Sort", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
      "Window", "SortMergeJoin"), "spillSize", "spill_bytes"),
)


def _metric(node, key: str) -> float:
    opt = node.metrics().get(key)
    return opt.get().value() if opt.isDefined() else 0.0


def plan_metrics(df) -> dict[str, float]:
    """Sum scan, shuffle-write and spill SQL metrics over ``df``'s executed
    plan (call after the plan ran).  Walks through adaptive-query stages and
    subqueries; reads metrics only on the node kinds that carry them, since
    every read is a py4j round trip."""
    out = {c: 0.0 for _, _, c in _NODE_METRICS}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name.startswith("Reused"):
            continue
        for prefixes, key, counter in _NODE_METRICS:
            if name.startswith(prefixes):
                out[counter] += _metric(node, key)
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out
