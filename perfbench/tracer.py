"""Layer tracing for the traced run (``--trace 1``).

Every call the benchmark makes into an engine layer goes through
``Tracer.span(layer, name)``. Untraced, a span is a no-op. Traced, it
records one span (name, start, end, parent, cycle id) and the deltas of
the common counters around the call:

* ``wall_ms`` — the call's wall time;
* ``driver_ms`` — wall time during which none of the call's jobs ran;
* ``py4j_calls`` — Python→JVM round trips (a counter the benchmark
  installs on py4j's ``send_command``);
* ``jobs``, ``task_cpu_ms``, ``shuffle_write_bytes``, ``spill_bytes`` —
  from the Spark status store (the UI is off; ``spark.ui.retained*`` is
  raised so nothing is evicted). Jobs are found by id range: job ids
  are sequential and the benchmark is the only client.

SQL operator metrics (``sql_metrics``) are collected for the same
executions and kept per node name, so layers can derive e.g. rows
scanned or bytes crossing the Arrow boundary.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

RETAIN_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

_py4j_calls = [0]


def install_py4j_counter() -> None:
    """Count every Python→JVM command (both py4j connection flavours)."""
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection,
                java_gateway.GatewayConnection):
        if getattr(cls.send_command, "_pb_counted", False):
            continue
        orig = cls.send_command

        def counted(self, command, *a, _orig=orig, **kw):
            _py4j_calls[0] += 1
            return _orig(self, command, *a, **kw)

        counted._pb_counted = True
        cls.send_command = counted


def py4j_calls() -> int:
    return _py4j_calls[0]


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_NUM = re.compile(r"([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """'48,394' -> 48394; '2.8 KiB' -> bytes; '1.8 s' -> seconds. For the
    'total (min, med, max ...)' form the total is the first number."""
    if text is None:
        return None
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = _NUM.search(line)
    if not m:
        return None
    try:
        v = float(m.group(1).replace(",", ""))
    except ValueError:
        return None
    return v * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cycle = None
        self._stack: list[int] = []
        if not enabled:
            return
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- counters ---------------------------------------------------------
    def _mark(self) -> dict:
        return {"t": time.time(), "perf": time.perf_counter(),
                "py4j": py4j_calls(), "job": self._dag.nextJobId(),
                "exec": self._sql.executionsCount()}

    def _jobs(self, j0: int, j1: int, t0_ms: float, t1_ms: float) -> dict:
        cpu_ns = shuffle = spill = records_in = 0
        busy: list[tuple[float, float]] = []
        for jid in range(j0, j1):
            try:
                jd = self._store.job(jid)
            except Exception:
                continue
            sub = jd.submissionTime()
            end = jd.completionTime()
            if sub.isDefined():
                s = float(sub.get().getTime())
                e = float(end.get().getTime()) if end.isDefined() else t1_ms
                busy.append((max(s, t0_ms), min(e, t1_ms)))
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    sd = self._store.lastStageAttempt(sids.apply(i))
                except Exception:
                    continue
                cpu_ns += sd.executorCpuTime()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                records_in += sd.inputRecords()
        covered = 0.0
        cur_s = cur_e = None
        for s, e in sorted(b for b in busy if b[1] > b[0]):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return {"jobs": j1 - j0, "task_cpu_ms": cpu_ns / 1e6,
                "shuffle_write_bytes": shuffle, "spill_bytes": spill,
                "busy_ms": covered, "input_records": records_in}

    def _sql_metrics(self, e0: int, e1: int) -> list[dict]:
        """Per-node SQL metrics of the executions in [e0, e1)."""
        nodes = []
        if e1 <= e0:
            return nodes
        execs = self._sql.executionsList(e0, e1 - e0)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            vals = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid).allNodes()
            for k in range(graph.size()):
                nd = graph.apply(k)
                ms = nd.metrics()
                got = {}
                for m in range(ms.size()):
                    mm = ms.apply(m)
                    v = vals.get(mm.accumulatorId())
                    if v.isDefined():
                        got[mm.name()] = parse_metric(v.get())
                if got:
                    nodes.append({"node": nd.name().strip(), "metrics": got})
        return nodes

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str, sql: bool = False):
        """Trace one call into ``layer``. ``sql=True`` also keeps the
        per-node SQL metrics of the call's executions. Yields the span
        dict; the caller may add layer-specific fields to it, also after
        the call."""
        if not self.enabled:
            yield {}
            return
        span = {"layer": layer, "name": name, "cycle": self.cycle,
                "parent": self._stack[-1] if self._stack else None}
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        m0 = self._mark()
        try:
            yield span
        finally:
            m1 = self._mark()
            self._stack.pop()
            t0_ms, t1_ms = m0["t"] * 1000, m1["t"] * 1000
            jobs = self._jobs(m0["job"], m1["job"], t0_ms, t1_ms)
            wall = (m1["perf"] - m0["perf"]) * 1000
            span.update({
                "start": m0["t"], "end": m1["t"],
                "counters": {
                    "wall_ms": wall,
                    "driver_ms": max(0.0, wall - jobs["busy_ms"]),
                    # the two marks' own JVM reads are not the call's
                    "py4j_calls": m1["py4j"] - m0["py4j"] - 2,
                    "jobs": jobs["jobs"],
                    "task_cpu_ms": jobs["task_cpu_ms"],
                    "shuffle_write_bytes": jobs["shuffle_write_bytes"],
                    "spill_bytes": jobs["spill_bytes"],
                },
                # rows the call's stages read from storage
                "input_records": jobs["input_records"],
            })
            if sql:
                span["sql"] = self._sql_metrics(m0["exec"], m1["exec"])

    def layer_spans(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]

    def self_time_ms(self) -> dict[str, float]:
        """Per layer: wall time of its spans minus their traced children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["counters"]["wall_ms"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["counters"]["wall_ms"] - child[i])
        return out


def sql_sum(span: dict, node_prefix: str, metric: str) -> float:
    """Sum one SQL metric over the span's nodes whose name starts with
    ``node_prefix``."""
    return sum(n["metrics"].get(metric) or 0.0 for n in span.get("sql", [])
               if n["node"].startswith(node_prefix))
