"""In-memory spans and counters for the traced run, recorded from outside
the engine.

``Tracer.install`` swaps the engine's layer functions for timing
wrappers in every module that holds them — several modules bind
``read_table`` and ``eager_persist`` at import, so patching the defining
module alone would miss their calls — and ``uninstall`` restores the
originals. Spark's own records come from the UI REST API (``SparkRest``)
and from each stream's progress reports, captured by wrapping
``DataStreamWriter.start``.
"""

from __future__ import annotations

import calendar
import contextlib
import json
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict

#: (module, attribute, span name) of every engine function traced as a span
LAYER_FUNCTIONS = (
    ("twitter_kafka_etl_spark.io", "read_table", "io.read_table"),
    ("twitter_kafka_etl_spark.io", "parquet_footer_rows", "io.footer_probe"),
    ("twitter_kafka_etl_spark.io", "parquet_footer_max", "io.footer_probe"),
    ("twitter_kafka_etl_spark.operators._cache", "eager_persist",
     "memo.eager_persist"),
    ("twitter_kafka_etl_spark.streaming.side_state", "register_batch",
     "side_state.register_batch"),
    ("twitter_kafka_etl_spark.streaming.side_state", "maybe_compact",
     "side_state.maybe_compact"),
    ("twitter_kafka_etl_spark.streaming.side_state", "read_side",
     "side_state.read_side"),
    ("twitter_kafka_etl_spark.streaming.side_state", "live_rows",
     "side_state.live_rows"),
)
ENGINE_PACKAGE = "twitter_kafka_etl_spark"


class Tracer:
    """Spans (name, kind, start, end, parent, attrs) and named counters.

    Times are ``time.time()`` seconds, the clock Spark's REST records
    share. A span's parent is the innermost open span of the same thread;
    calls from threads the engine starts (foreachBatch callbacks,
    concurrent side-table writes) fall back to ``self.anchor``, the
    span of the query being run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.anchor: int | None = None
        self.queries: list = []  # StreamingQuery objects started while tracing
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "kind": kind,
                               "start": start, "end": end,
                               "parent": parent, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.anchor
        sid = self.add(name, kind, time.time(), 0.0, parent)
        stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def count(self, name: str) -> None:
        with self._lock:
            self.counters[name] += 1

    # -- patching ------------------------------------------------------
    def _replace_everywhere(self, orig, wrapper) -> None:
        """Point every engine module attribute bound to ``orig`` at
        ``wrapper``."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE_PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _timed(self, orig, span_name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name, "layer"):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        return wrapper

    def install(self) -> None:
        import importlib

        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._replace_everywhere(orig, self._timed(orig, span_name))
        cache = importlib.import_module(
            "twitter_kafka_etl_spark.operators._cache")
        self._replace_everywhere(cache.plan_memo, self._memo(cache.plan_memo))
        self._replace_everywhere(cache.peek_memo, self._peek(cache.peek_memo))
        self._set(cache, "_repin", self._repin(cache._repin))
        self._set(os, "fsync", self._fsync(os.fsync))
        self._set(DataStreamWriter, "start",
                  self._stream_start(DataStreamWriter.start))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _memo(self, orig):
        tracer = self

        def plan_memo(source, tag, build, *args, **kwargs):
            built = []

            def counted_build():
                built.append(True)
                return build()

            with tracer.span("memo.plan_memo", "layer") as sp:
                out = orig(source, tag, counted_build, *args, **kwargs)
            sp["hit"] = not built
            tracer.count("memo.misses" if built else "memo.hits")
            return out

        return plan_memo

    def _peek(self, orig):
        tracer = self

        def peek_memo(source, tag):
            with tracer.span("memo.peek_memo", "layer") as sp:
                out = orig(source, tag)
            sp["hit"] = out is not None
            tracer.count("memo.hits" if out is not None else "memo.misses")
            return out

        return peek_memo

    def _repin(self, orig):
        tracer = self

        def _repin(hit):
            with tracer.span("memo.repin", "layer") as sp:
                out = orig(hit)
            sp["dead"] = out is None
            if out is None:
                tracer.count("memo.dead_repins")
            return out

        return _repin

    def _fsync(self, orig):
        tracer = self

        def fsync(fd):
            tracer.count("side_state.fsyncs")
            return orig(fd)

        return fsync

    def _stream_start(self, orig):
        tracer = self

        def start(writer, *args, **kwargs):
            q = orig(writer, *args, **kwargs)
            with tracer._lock:
                tracer.queries.append(q)
            return q

        return start


def stream_progress(queries: list) -> list[dict]:
    """Every retained progress report of the given (finished) streaming
    queries, as dicts."""
    return [json.loads(p.json) for q in queries for p in q.recentProgress]


class SparkRest:
    """Reader for the Spark UI REST API of the running application."""

    def __init__(self, sc) -> None:
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is disabled; the traced run needs it")
        port = url.rsplit(":", 1)[1].strip("/")
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self, timeout: float = 20.0) -> list[dict]:
        """All jobs, once the UI has recorded every submitted one as
        finished (its listener bus lags the driver)."""
        deadline = time.time() + timeout
        last = None
        while True:
            jobs = self.get("/jobs")
            running = [j for j in jobs if j.get("status") == "RUNNING"]
            if not running and last is not None and len(jobs) == len(last):
                return jobs
            if time.time() > deadline:
                return jobs
            last = jobs
            time.sleep(0.5)


def rest_time(stamp: str | None) -> float | None:
    """Epoch seconds of a REST timestamp like ``2024-01-01T00:00:00.123GMT``."""
    if not stamp:
        return None
    base, ms = stamp.replace("GMT", "").split(".")
    secs = calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S"))
    return secs + int(ms) / 1000.0
