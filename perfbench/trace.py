"""Span recorder for traced runs, attached to the program from outside.

``Tracer.install()`` wraps the public functions of each layer (module
names: ``core``, ``plans.rewrite``, ``engine``, ``catalog``,
``session``, plus pyspark's DataFrame materialization as ``spark``) so
that every call records one span: name, layer, start, end, parent span
and op id. Spans stay in memory until the run ends; ``summary()``
turns them into per-call statistics and per-layer self time (a span's
duration minus the time its child spans cover). Nothing here changes
what the wrapped functions do or return.
"""

from __future__ import annotations

import functools
import sys
import threading
import time

from perfbench import stats


class Tracer:
    def __init__(self) -> None:
        # (name, layer, start, end, parent index or -1, op id)
        self.spans: list[tuple[str, str, float, float, int, str]] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.per_span_cost_s = 0.0

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op_id: str) -> None:
        """Tag the spans this thread records next with ``op_id``."""
        self._local.op = op_id

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return dict(self.counts)

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def _open(self, name: str, layer: str) -> int:
        st = self._stack()
        parent = st[-1] if st else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, layer, time.perf_counter(), 0.0, parent,
                               getattr(self._local, "op", "")))
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack().pop()
        name, layer, t0, _, parent, op = self.spans[idx]
        self.spans[idx] = (name, layer, t0, time.perf_counter(), parent, op)

    # -- attaching ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, layer: str, after=None,
             name_of=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(result, args, kwargs)`` may record counters;
        ``name_of(args, kwargs)`` may refine the span name per call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = tracer._open(name_of(args, kwargs) if name_of else name, layer)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(idx)
            if after is not None:
                after(out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def wrap_function_everywhere(self, func, name: str, layer: str) -> None:
        """Wrap a module-level function in its own module and in every
        loaded package module that imported it by name."""
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                    ("risingwave_py_spark", "perfbench")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.wrap(mod, attr, name, layer)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install(self) -> None:
        """Attach spans at every layer boundary the benchmark reports."""
        from pyspark.sql.classic.dataframe import DataFrame

        from risingwave_py_spark import catalog, core, session
        from risingwave_py_spark.engine import SparkEngine
        from risingwave_py_spark.plans import rewrite

        conn = core.RisingWaveConnection
        for fn in ("insert_row", "insert"):
            self.wrap(conn, fn, f"core.{fn}", "core")

        def execute_name(args, kwargs) -> str:
            sql = (args[1] if len(args) > 1 else kwargs.get("sql", "")).lstrip().upper()
            if sql.startswith(("CREATE", "DROP", "ALTER")):
                return "core.ddl"
            return "core.execute"

        self.wrap(conn, "execute", "core.execute", "core", name_of=execute_name)

        def is_poll(args, kwargs) -> bool:
            sql = args[1] if len(args) > 1 else kwargs.get("sql", "")
            return sql.lstrip().upper().startswith("FETCH")

        def after_fetch(out, args, kwargs):
            if is_poll(args, kwargs):
                self.count("core.poll.calls")
                if out is not None and len(out):
                    self.count("core.poll.useful")

        self.wrap(conn, "fetch", "core.fetch", "core", after=after_fetch,
                  name_of=lambda a, k: "core.poll" if is_poll(a, k) else "core.fetch")
        self.wrap(conn, "fetchone", "core.fetchone", "core")
        for fn in ("classify", "rewrite_query"):
            self.wrap(rewrite, fn, f"plans.rewrite.{fn}", "plans.rewrite")

        def after_local(out, args, kwargs):
            self.count("engine.insert_rows_local.calls")
            if out is not None:
                self.count("engine.insert_rows_local.direct")

        self.wrap(SparkEngine, "insert_rows_local", "engine.insert_rows_local",
                  "engine", after=after_local)
        self.wrap(SparkEngine, "insert_df", "engine.insert_df", "engine")
        self.wrap(SparkEngine, "flush", "engine.flush", "engine")
        self.wrap(SparkEngine, "refresh_mv", "engine.refresh_mv", "engine",
                  name_of=lambda a, k: "engine.refresh_mv:" + a[1].fq.split(".")[-1])

        def after_fetch_cursor(out, args, kwargs):
            rows = len(out[1]) if out else 0
            self.count("engine.fetch_cursor.rows", rows)
            if not rows:
                self.count("engine.fetch_cursor.empty")

        self.wrap(SparkEngine, "fetch_cursor", "engine.fetch_cursor", "engine",
                  after=after_fetch_cursor)
        self.wrap(SparkEngine, "sql", "engine.sql", "engine")
        self.wrap(SparkEngine, "__init__", "engine.init", "engine")
        self.wrap_function_everywhere(catalog.table, "catalog.table", "catalog")
        self.wrap_function_everywhere(session.build_session,
                                      "session.build_session", "session")
        for fn in ("collect", "toPandas"):
            self.wrap(DataFrame, fn, f"spark.{fn}", "spark")
        self._calibrate()

    def _calibrate(self, n: int = 20000) -> None:
        """Per-span cost of the wrapper itself, from a wrapped no-op."""
        class _Probe:
            @staticmethod
            def noop():
                return None

        probe = Tracer()
        probe.wrap(_Probe, "noop", "probe", "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            _Probe.noop()
        traced = time.perf_counter() - t0
        probe.uninstall()
        t0 = time.perf_counter()
        for _ in range(n):
            _Probe.noop()
        plain = time.perf_counter() - t0
        self.per_span_cost_s = max(0.0, traced - plain) / n

    # -- reporting ---------------------------------------------------------

    def summary(self, t_from: float, t_to: float) -> dict:
        """Per-name call statistics and per-layer self time for spans
        that started inside ``[t_from, t_to]``."""
        child_time = [0.0] * len(self.spans)
        for name, layer, t0, t1, parent, _ in self.spans:
            if parent >= 0 and t1:
                child_time[parent] += t1 - t0
        by_name: dict[str, list[float]] = {}
        self_by_layer: dict[str, float] = {}
        n_spans = 0
        for i, (name, layer, t0, t1, parent, _) in enumerate(self.spans):
            if not t1 or t0 < t_from or t0 > t_to:
                continue
            n_spans += 1
            by_name.setdefault(name, []).append((t1 - t0) * 1000)
            self_by_layer[layer] = (self_by_layer.get(layer, 0.0)
                                    + max(0.0, t1 - t0 - child_time[i]) * 1000)
        calls = {
            name: {"calls": len(v), "p50": stats.pct(v, 50),
                   "p99": stats.pct(v, 99), "total": sum(v)}
            for name, v in by_name.items()
        }
        return {"calls": calls, "self_ms": self_by_layer, "spans": n_spans,
                "overhead_ms": n_spans * self.per_span_cost_s * 1000}


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.idx = self.tracer._open(self.name, self.layer)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False
