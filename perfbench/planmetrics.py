"""Per-layer numbers read from Spark's own SQL metrics on an executed plan.

The walk starts at ``df._jdf.queryExecution().executedPlan()`` and descends
``AdaptiveSparkPlanExec.executedPlan()`` (the final adaptive plan),
``*QueryStageExec.plan()`` and ``ReusedExchangeExec.child()``, so the
metrics of every stage AQE ran are reached.

Gotcha: ``df.write.format("noop")`` and every other ``df.write`` run a
*different* QueryExecution than ``df``'s own, so metrics read from ``df``
after a write are all zero. Materialise with :func:`materialize` (which
runs ``df``'s own QueryExecution) or with ``df.toArrow()``/``collect()``
before reading.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Spark SQL metric name -> summary key. Timing metrics are converted to
# seconds, size metrics stay in bytes.
_SUMS = {
    "pythonBootTime": "python_boot_s",
    "pythonInitTime": "python_init_s",
    "pythonTotalTime": "python_total_s",
    "pythonDataSent": "python_sent_bytes",
    "pythonDataReceived": "python_received_bytes",
    "scanTime": "scan_time_s",
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class PlanMetrics:
    """Sums over every node of one executed plan."""

    python_boot_s: float = 0.0
    python_init_s: float = 0.0
    python_total_s: float = 0.0
    python_sent_bytes: float = 0.0
    python_received_bytes: float = 0.0
    scan_time_s: float = 0.0
    shuffle_bytes: float = 0.0
    broadcast_bytes: float = 0.0
    spill_bytes: float = 0.0
    exchanges: int = 0
    nodes: list[str] = field(default_factory=list)

    def add(self, other: "PlanMetrics") -> None:
        for k, v in vars(other).items():
            if k == "nodes":
                self.nodes.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)

    @property
    def python_bytes(self) -> float:
        return self.python_sent_bytes + self.python_received_bytes


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metric_values(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        scale = _UNIT_SCALE.get(metric.metricType(), 1.0)
        out[kv._1()] = metric.value() * scale
    return out


def walk(jplan) -> PlanMetrics:
    """Sum the tracked metrics over every node below ``jplan``."""
    pm = PlanMetrics()
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        pm.nodes.append(name)
        values = _metric_values(node)
        for metric, key in _SUMS.items():
            if metric in values:
                setattr(pm, key, getattr(pm, key) + values[metric])
        if cls == "BroadcastExchangeExec":
            pm.broadcast_bytes += values.get("dataSize", 0.0)
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            pm.exchanges += 1
        stack.extend(_children(node))
    return pm


def of(df) -> PlanMetrics:
    """Metrics of ``df``'s own executed plan (materialise ``df`` first)."""
    return walk(df._jdf.queryExecution().executedPlan())


def materialize(df) -> int:
    """Run ``df``'s own QueryExecution to completion without shipping rows
    to Python; returns the row count."""
    return df._jdf.queryExecution().toRdd().count()
