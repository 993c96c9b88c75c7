"""Layer spans for the traced run, recorded from outside the package.

:class:`Tracer` replaces public layer functions with timing wrappers.
Install it before ``registry.load_all()`` imports the plan modules: plans
bind ``load_table`` and the other helpers with ``from ... import``, so a
wrapper installed later would never be called. Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, layer) of every wrapped public function.
WRAPPED = (
    ("gmall2021_flink_dw_spark.sources.batch", "load_table", "sources"),
    ("gmall2021_flink_dw_spark.sources.batch", "spread_scan", "sources"),
    ("gmall2021_flink_dw_spark.sources.cdc", "orders_changelog", "sources"),
    ("gmall2021_flink_dw_spark.cache", "tracked_persist", "cache"),
)


class Tracer:
    """Spans (op, layer, name, start, end, parent) plus per-op counters."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self.op = -1
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        rec = {
            "op": self.op,
            "layer": layer,
            "name": name,
            "parent": stack[-1] if stack else None,
            "t0": time.perf_counter(),
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[(self.op, key)] += n

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count(f"{name}.calls")
            with tracer.span(layer, name):
                out = fn(*args, **kwargs)
            if name == "spread_scan" and args and out is not args[0]:
                tracer.count("spread_scan.widened")
            return out

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), layer, attr))

    def total_ms(self, layer: str, name: str | None = None, ops=None) -> float:
        """Summed duration of matching spans, counting nested spans of the
        same name once."""
        tot = 0.0
        for s in self.spans:
            if s["layer"] != layer or (name and s["name"] != name) or "t1" not in s:
                continue
            if ops is not None and s["op"] not in ops:
                continue
            p = s["parent"]
            if p is not None and self.spans[p]["name"] == s["name"]:
                continue
            tot += (s["t1"] - s["t0"]) * 1000.0
        return tot

    def counted(self, key: str, ops=None) -> float:
        return sum(
            v for (op, k), v in self.counts.items()
            if k == key and (ops is None or op in ops)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def progress_listener(rows: list):
    """A StreamingQueryListener that keeps each progress JSON in ``rows``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rows.append(event.progress.json)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def jvm_peak_rss_mb(spark) -> float:
    """Driver JVM high-water resident set (VmHWM), in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
