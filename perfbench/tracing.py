"""Spans and plan metrics for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a module-level name (for example the ``dedup_triples`` that
``serd_spark.pipeline`` imported) with a wrapper that records a span
around each call.  A *builder* span covers a call that should only
build a plan — it should take about 0 s and start 0 Spark jobs, so a
non-zero reading exposes eager work.  An *action* span covers
execution; the plans Spark executed inside it are read back through a
``QueryExecutionListener`` and walked node by node (``AdaptiveSparkPlan``
and every ``*QueryStage`` unwrapped) for rows, shuffle bytes, spill,
broadcasts and Python-UDF time.  Jobs are counted from the
``statusTracker`` job ids, which works with ``spark.ui.enabled=false``.

Untraced runs never construct a Tracer, so they pay none of this.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


def _metrics_of(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        v = kv._2().value()
        if v:
            out[kv._1()] = v
    return out


def plan_summary(plan) -> dict:
    """Fold the SQL metrics of an executed physical plan."""
    s = {"shuffle_bytes": 0, "spill_bytes": 0, "python_ms": 0,
         "broadcasts": 0, "bytes_written": 0, "rows_written": 0}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the reused exchange
        m = _metrics_of(node)
        s["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        s["spill_bytes"] += m.get("spillSize", 0)
        s["python_ms"] += m.get("pythonTotalTime", 0)
        s["bytes_written"] += m.get("numOutputBytes", 0)
        if "numOutputBytes" in m:
            s["rows_written"] += m.get("numOutputRows", 0)
        if cls == "BroadcastExchangeExec":
            s["broadcasts"] += 1
        ch = node.children().iterator()
        while ch.hasNext():
            stack.append(ch.next())
    return s


class _Listener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        try:
            self.sink.append(plan_summary(qe.executedPlan()))
        except Exception as e:  # noqa: BLE001 — never fail the query
            self.sink.append({"error": str(e)})

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self.sink.append({"error": str(exc)})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._qe: list = []
        self._patched: list = []
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _Listener(self._qe)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()
        try:
            self.spark._jsparkSession.listenerManager().unregister(
                self._listener)
        except Exception:  # noqa: BLE001 — session may be stopped
            pass

    def _last_job_id(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _drain(self) -> list:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = list(self._qe)
        del self._qe[:len(out)]
        return out

    @contextmanager
    def span(self, name: str, kind: str = "action"):
        parent = self._stack[-1]["name"] if self._stack else None
        t0 = time.perf_counter()
        if kind == "action":
            self._drain()
        rec = {"name": name, "kind": kind, "parent": parent,
               "jobs_before": self._last_job_id()}
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        # the tracer's own work just outside the span, before and after
        rec["pre_s"] = rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = self._last_job_id() - rec.pop("jobs_before")
            if kind == "action":
                rec["plans"] = self._drain()
            rec["post_s"] = time.perf_counter() - rec["end"]
            self.spans.append(rec)

    def wrap(self, module, name: str, kind: str, span_name=None) -> None:
        """Record a span around every call of ``module.name``."""
        orig = getattr(module, name)

        def wrapped(*args, **kwargs):
            sname = span_name(args, kwargs) if span_name else \
                f"build.{name}"
            with self.span(sname, kind):
                return orig(*args, **kwargs)

        setattr(module, name, wrapped)
        self._patched.append((module, name, orig))


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def plan_total(span: dict, key: str) -> float:
    return sum(p.get(key, 0) for p in span.get("plans", []))
