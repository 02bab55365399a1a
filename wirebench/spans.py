"""In-daemon span recorder for the traced run.

``install()`` wraps the public functions of each daemon layer (server,
bfl, engine.db, engine.schema, engine.log) before the daemon starts.
Each call becomes a span ``(id, parent, name, thread, start, end,
attrs)``; spans stay in memory and are written out as JSON when the
daemon receives SIGTERM.  A sampler thread also records the Spark job
counter and the JVM codegen metrics every 0.2 s.  Times are wall-clock
seconds so the load generator can line them up with its own clock."""

from __future__ import annotations

import functools
import json
import os
import signal
import sys
import threading
import time

SAMPLE_EVERY = 0.2


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.samples: list = []
        self.sampler_error = None
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn, attrs=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            if stack and stack[-1][1] == name:
                return fn(*args, **kwargs)  # recursion: one span
            with tracer._lock:
                sid = tracer._next
                tracer._next += 1
            parent = stack[-1][0] if stack else -1
            stack.append((sid, name))
            t0 = time.time()
            err = None
            ret = None
            try:
                ret = fn(*args, **kwargs)
                return ret
            except BaseException as e:
                err = type(e).__name__
                raise
            finally:
                t1 = time.time()
                stack.pop()
                a = None
                if attrs is not None:
                    try:
                        a = attrs(args, kwargs, ret)
                    except Exception:  # noqa: BLE001 — attrs are best effort
                        a = None
                if err is not None:
                    a = dict(a or {}, err=err)
                tracer.spans.append(
                    (sid, parent, name, threading.get_ident(), t0, t1, a)
                )

        return traced

    # -- Spark / JVM sampler ---------------------------------------------

    def _sample_loop(self, stop: threading.Event) -> None:
        from pyspark import SparkContext

        sc = None
        while not stop.is_set() and getattr(sc, "_jsc", None) is None:
            stop.wait(0.05)  # the context is published before it is usable
            sc = SparkContext._active_spark_context
        if sc is None:
            return
        hist = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        tracker = sc.statusTracker()
        while not stop.is_set():
            try:
                ids = tracker.getJobIdsForGroup()
                jobs = max(ids) + 1 if ids else 0
                compiles = hist.getCount()
                mean_ms = hist.getSnapshot().getMean()
                self.samples.append((time.time(), jobs, compiles, mean_ms))
            except Exception as e:  # noqa: BLE001 — e.g. the context is stopping
                self.sampler_error = repr(e)
                return
            stop.wait(SAMPLE_EVERY)

    def calibrate(self, n: int = 20000) -> float:
        """Seconds one recorded span costs (wrapper + bookkeeping)."""
        scratch = Tracer()
        f = scratch.wrap("calibrate", lambda: None)
        t0 = time.perf_counter()
        for _ in range(n):
            f()
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        doc = {
            "spans": self.spans,
            "samples": self.samples,
            "span_cost_s": self.calibrate(),
            "sampler_error": self.sampler_error,
        }
        with open(path + ".tmp", "w") as fh:
            json.dump(doc, fh)
        os.replace(path + ".tmp", path)


def _rebind(orig, wrapped) -> None:
    """Point every loaded daemon module attribute that names ``orig``
    at ``wrapped`` (names imported with ``from x import f`` included)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("basenine_spark"):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapped)


def _first_last(ids):
    return {"n": len(ids), "first": int(ids[0]), "last": int(ids[-1])} if ids else {"n": 0}


def _rows_attrs(args, kwargs, ret):
    rows = ret[0]
    q = args[1] if len(args) > 1 else kwargs.get("query", "")
    out = {"q": q, "rows": len(rows)}
    if rows:
        out["first"] = int(rows[0]["id"])
        out["last"] = int(rows[-1]["id"])
    return out


def install(out_path: str) -> Tracer:
    import basenine_spark.bfl.compiler as compiler
    import basenine_spark.bfl.parser as parser
    import basenine_spark.bfl.pyeval as pyeval
    import basenine_spark.engine.db as db
    import basenine_spark.engine.log as log
    import basenine_spark.engine.schema as schema
    import basenine_spark.server as server

    t = Tracer()
    for mod, fname, span in [
        (server, "row_to_doc", "server.row_to_doc"),
        (parser, "parse", "bfl.parse"),
        (compiler, "compile_filter", "bfl.compile"),
        (compiler, "compile_redact_fast", "bfl.compile"),
        (pyeval, "eval_query", "bfl.eval"),
        (schema, "infer_batch_schema", "engine.schema.infer"),
        (schema, "merge_types", "engine.schema.merge"),
    ]:
        orig = getattr(mod, fname)
        _rebind(orig, t.wrap(span, orig))

    BDB = db.BasenineDB
    for meth, span, attrs in [
        ("insert_json", "engine.db.insert_json", lambda a, k, r: _first_last(r)),
        ("query_with_metadata", "engine.db.query", _rows_attrs),
        ("fetch_with_metadata", "engine.db.fetch", None),
        ("single", "engine.db.single", None),
        ("_apply_bfl", "engine.db.apply_bfl", None),
        ("_row_backend", "engine.db.row_backend", None),
    ]:
        setattr(BDB, meth, t.wrap(span, getattr(BDB, meth), attrs))
    log.DocumentLog.append = t.wrap(
        "engine.log.append", log.DocumentLog.append
    )

    stop = threading.Event()
    threading.Thread(target=t._sample_loop, args=(stop,), daemon=True).start()

    # the daemon installs its own SIGTERM handler inside main(); chain
    # ours in front of it so the spans are on disk before shutdown
    orig_signal = signal.signal

    def chained_signal(sig, handler):
        if sig == signal.SIGTERM and callable(handler):
            def on_term(signum, frame):
                stop.set()
                t.dump(out_path)
                handler(signum, frame)

            return orig_signal(sig, on_term)
        return orig_signal(sig, handler)

    signal.signal = chained_signal
    return t
