"""Spans recorded from the benchmark's side of each layer boundary.

The benchmark wraps the public entry points of tez_spark's layers in
timers (`Tracer.install`) instead of instrumenting the engine. Modules
bind `load_table`, `shared_artifact` and `tracked_persist` both at import
time (`from ... import load_table`) and inside functions (resolved from
the defining module at call time), so the wrapper replaces every module
attribute that refers to the original function, not just the definition.

Spans stay in memory; `dump` writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import sys
import time

from perfbench.stats import Span, nest

# (module, function) -> (span name, layer)
WRAPPED = {
    ("tez_spark.sources.catalog", "load_table"): ("sources.load", "sources"),
    ("tez_spark.sources.catalog", "read_parquet_cached"): ("sources.load", "sources"),
    ("tez_spark.operators.core", "shared_artifact"): ("operators.artifact", "operators"),
    ("tez_spark.operators.core", "tracked_persist"): ("operators.persist", "operators"),
}


class NullTracer:
    """Tracing off: spans cost one context-manager enter/exit."""

    enabled = False
    op: int | None = None

    def span(self, name: str, layer: str, **attrs):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self.py4j_calls = 0
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        calls0 = self.py4j_calls
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            attrs["py4j_calls"] = self.py4j_calls - calls0
            self.spans.append(Span(name, layer, start, end, self.op, attrs=attrs))

    def add(self, span: Span) -> None:
        self.spans.append(span)

    def install(self) -> None:
        """Wrap every binding of the WRAPPED functions and count Py4J
        round trips (one per GatewayClient.send_command)."""
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command
        tracer = self

        def counted_send(client, *args, **kwargs):
            tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        self._undo.append((GatewayClient, "send_command", send))
        GatewayClient.send_command = counted_send

        for (mod_name, fn_name), (span_name, layer) in WRAPPED.items():
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self._wrap(original, span_name, layer)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("tez_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is original:
                        self._undo.append((mod, attr, original))
                        setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, span_name: str, layer: str):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(span_name, layer):
                return fn(*args, **kwargs)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        return wrapped

    def dump(self, path: str) -> None:
        """One JSON line per span: name, start, end (epoch seconds),
        parent (line index or null) and op id."""
        nest(self.spans, slack=0.002)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "layer": s.layer,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "op": s.op,
                            "attrs": s.attrs,
                        },
                        default=str,
                    )
                    + "\n"
                )


def progress_listener():
    """A StreamingQueryListener that keeps every micro-batch's progress
    (batch id, input rows, start time, durationMs). Shared by both runs:
    it is how the benchmark times one micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if p.numInputRows > 0:
                self.batches.append(
                    {
                        "batch_id": p.batchId,
                        "rows": p.numInputRows,
                        "timestamp": p.timestamp,
                        "duration_ms": dict(p.durationMs),
                    }
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def catalyst_phases(df) -> dict[str, int]:
    """Analysis/optimization/planning ms of the QueryExecution the last
    action on `df` ran under (collect plans under df's own execution; a
    write would plan under a separate one and show only analysis)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out
