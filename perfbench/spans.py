"""Span tracer for the traced benchmark run.

The package itself carries no tracing. ``Tracer.install_engine`` and
``Tracer.install_batch`` swap wrappers in at the call sites the
benchmark cares about (module attributes, class methods, registry
entries), ``Tracer.uninstall`` puts the originals back, so untraced
segments execute the unmodified code.

A span is ``(layer, name, start, end, parent, request, extra)``:
``parent`` is the index of the enclosing span on the same thread (or
-1), ``request`` the operation id set by the workload. Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict

LAYERS = ("api", "operators", "sources", "stac", "spark", "plans", "pipeline")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.groups: dict[str, dict] = {}
        self._pending: list[tuple[str, float]] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._resolver: threading.Thread | None = None
        self._sc = None

    # ---------------------------------------------------------------- spans
    def set_request(self, rid: str | None) -> None:
        self._tls.request = rid

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, layer: str, name: str) -> list:
        st = self._stack()
        rec = [layer, name, time.perf_counter(), None, st[-1] if st else -1,
               getattr(self._tls, "request", None), None]
        self.spans.append(rec)
        st.append(len(self.spans) - 1)
        return rec

    def end(self, rec: list, extra: dict | None = None) -> None:
        rec[3] = time.perf_counter()
        rec[6] = extra
        self._stack().pop()

    def wrap(self, fn, layer: str, name: str, extra=None):
        """``extra(result, exc)`` → dict stored on the span."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = tracer.begin(layer, name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as exc:
                tracer.end(rec, extra(None, exc) if extra else {"error": type(exc).__name__})
                raise
            tracer.end(rec, extra(out, None) if extra else None)
            return out

        return traced

    # -------------------------------------------------------------- patching
    def patch(self, owner, attr: str, layer: str, name: str | None = None, extra=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        label = name or attr
        if isinstance(orig, property):
            new = property(self.wrap(orig.fget, layer, label, extra))
        else:
            new = self.wrap(orig, layer, label, extra)
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def install_engine(self) -> None:
        """Wrap the engine's layers at the call sites the API and the
        registry use."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.observation import Observation
        from pyspark.sql.readwriter import DataFrameWriter

        from stac_fastapi_duckdb_spark.api import app as api_app
        from stac_fastapi_duckdb_spark.operators import aggregate, cql2_text, search
        from stac_fastapi_duckdb_spark.sources import catalog
        from stac_fastapi_duckdb_spark.sources.catalog import PointReadUnavailable

        rows = lambda out, exc: {"rows": len(out) if out is not None else 0}  # noqa: E731
        self.patch(DataFrame, "collect", "spark", extra=rows)
        self.patch(Observation, "get", "spark", name="Observation.get")
        self.patch(DataFrameWriter, "save", "spark")

        def search_extra(out, exc):
            if exc is not None:
                return {"error": type(exc).__name__}
            items, matched, _ = out
            return {"items": len(items), "matched": matched or 0}

        self.patch(api_app, "execute_search", "operators", extra=search_extra)
        self.patch(api_app, "get_one_item", "operators")
        self.patch(aggregate, "aggregate_search", "operators")
        for mod, fn in ((cql2_text, "parse_cql2_text"), (search, "cql2_to_column"),
                        (search, "datetime_predicate"), (search, "bbox_predicate")):
            self.patch(mod, fn, "operators", name="compile." + fn)
        self.patch(api_app, "jsonify", "api")
        self.patch(api_app, "create_stac_item", "stac")

        def point_extra(out, exc):
            return {"fallback": isinstance(exc, PointReadUnavailable)}

        self.patch(catalog.CollectionCatalog, "point_read", "sources", extra=point_extra)
        self.patch(catalog.CollectionCatalog, "build_item_index", "sources")

    def install_batch(self, queries: dict) -> None:
        """Wrap the registry builders (plans) and the public functions
        of every pipeline module."""
        import importlib
        import pkgutil

        import stac_fastapi_duckdb_spark.pipeline as pipeline

        for qname in list(queries):
            queries[qname] = self._wrap_builder(queries, qname)
        for info in pkgutil.iter_modules(pipeline.__path__):
            mod = importlib.import_module(f"{pipeline.__name__}.{info.name}")
            for attr, val in list(vars(mod).items()):
                # only a function under its own name: cloudpickle then
                # ships the wrapper to Python workers by reference, and
                # the worker imports the unwrapped original
                if (not attr.startswith("_") and callable(val) and not isinstance(val, type)
                        and getattr(val, "__module__", None) == mod.__name__
                        and getattr(val, "__qualname__", None) == attr):
                    self.patch(mod, attr, "pipeline", name=f"{info.name}.{attr}")

    def _wrap_builder(self, queries: dict, qname: str):
        orig = queries[qname]
        self._patched.append((queries, qname, orig))
        return self.wrap(orig, "plans", qname)

    # ------------------------------------------------------------ job groups
    def start_groups(self, sc) -> None:
        self._sc = sc
        self._resolver = threading.Thread(target=self._resolve_loop, daemon=True)
        self._resolver.start()

    def begin_group(self, gid: str) -> None:
        self._sc.setJobGroup(gid, gid)

    def end_group(self, gid: str) -> None:
        with self._lock:
            self._pending.append((gid, time.perf_counter()))

    def _resolve(self, settle: float) -> None:
        """Read jobs, tasks and failed tasks of every group that ended
        ``settle`` seconds ago (the listener bus posts job events
        asynchronously)."""
        now = time.perf_counter()
        with self._lock:
            due = [g for g in self._pending if now - g[1] >= settle]
            self._pending = [g for g in self._pending if now - g[1] < settle]
        tracker = self._sc.statusTracker()
        for gid, _ in due:
            jobs = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numTasks
                        failed += stage.numFailedTasks
            self.groups[gid] = {"jobs": jobs, "tasks": tasks, "failed": failed}

    def _resolve_loop(self) -> None:
        while not self._stop.wait(0.5):
            self._resolve(0.5)

    def finish_groups(self) -> None:
        if self._resolver is None:
            return
        self._stop.set()
        self._resolver.join()
        time.sleep(0.5)
        self._resolve(0.0)

    # ------------------------------------------------------------- reporting
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["layer", "name", "start", "end", "parent", "request", "extra"],
                       "spans": self.spans, "job_groups": self.groups}, f)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: span time minus the time of
        the spans nested directly inside it."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec[3] is not None and rec[4] >= 0:
                child[rec[4]] += rec[3] - rec[2]
        out = dict.fromkeys(LAYERS, 0.0)
        for i, rec in enumerate(self.spans):
            if rec[3] is not None:
                out[rec[0]] += rec[3] - rec[2] - child[i]
        return out
