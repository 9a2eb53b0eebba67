"""Spans and counters recorded from outside the program.

``Tracer.install`` wraps the public entry points of each layer (service,
catalog, filter compiler, kNN planner, embedder, DataFrame actions and
writes, py4j command sends) by replacing module and class attributes; the
library's files stay untouched. Spans (name, start, end, parent, op) are
kept in memory and written when the run ends. A layer's self time is its
span minus the part of that interval its child spans cover.

Spark stage counters come from a per-op job group: the serving thread tags
its jobs with ``setJobGroup``, and after the op the job ids give the stage
ids, whose last attempt in the status store holds executor CPU and run
time, input, shuffle and spill bytes and failed tasks.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict

# (module or class path, attribute, span name)
_TARGETS = (
    ("vectordb_cloud_spark.api.VectorService", "search", "api.search"),
    ("vectordb_cloud_spark.api.VectorService", "query", "api.query"),
    ("vectordb_cloud_spark.api.VectorService", "insert", "api.insert"),
    ("vectordb_cloud_spark.api.VectorService", "insert_batch", "api.insert_batch"),
    ("vectordb_cloud_spark.api.VectorService", "remove_all_by_word", "api.remove"),
    ("vectordb_cloud_spark.api.VectorService", "get_category_for_title", "api.classify"),
    ("vectordb_cloud_spark.api.VectorService", "count", "api.count"),
    ("vectordb_cloud_spark.collections.CollectionCatalog", "read_for_user",
     "collections.read_for_user"),
    ("vectordb_cloud_spark.collections.CollectionCatalog", "upsert", "collections.upsert"),
    ("vectordb_cloud_spark.collections.CollectionCatalog", "delete_where",
     "collections.delete_where"),
    ("vectordb_cloud_spark.collections.CollectionCatalog", "search_ann",
     "collections.search_ann"),
    ("vectordb_cloud_spark.collections.CollectionCatalog", "build_ann_index",
     "collections.build_ann_index"),
    ("vectordb_cloud_spark.filters", "compile_filter", "filters.compile"),
    ("vectordb_cloud_spark.operators.knn", "knn_search", "knn.construct"),
    ("vectordb_cloud_spark.functions.embedding", "mock_vector", "embedding.mock_vector"),
    ("pyspark.sql.classic.dataframe.DataFrame", "collect", "spark.action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "count", "spark.action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "first", "spark.action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "take", "spark.action"),
    ("pyspark.sql.classic.dataframe.DataFrame", "toPandas", "spark.action"),
    ("pyspark.sql.readwriter.DataFrameWriter", "parquet", "spark.action"),
    ("pyspark.sql.readwriter.DataFrameWriter", "save", "spark.action"),
)

_STAGE_FIELDS = {
    # StageData accessor -> report key (CPU time is in ns, run time in ms)
    "executorCpuTime": "executor_cpu_ns",
    "executorRunTime": "executor_run_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numFailedTasks": "failed_tasks",
    "numTasks": "tasks",
}


def _resolve(path: str):
    """A module, or a class given as ``module.Class``."""
    try:
        return importlib.import_module(path)
    except ModuleNotFoundError:
        mod_name, _, attr = path.rpartition(".")
        return getattr(importlib.import_module(mod_name), attr)


class Tracer:
    """In-memory spans and counters for one run."""

    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, op)
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self.op_root: int | None = None
        self._op_start = 0.0
        self.overhead_s = 0.0
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._undo: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op_id: str) -> None:
        """Open the op's root span in the calling (client) thread."""
        self.op = op_id
        self.op_root = next(self._ids)
        self._stack().append((self.op_root, "client"))
        self._op_start = time.perf_counter()

    def end_op(self) -> None:
        sid, _ = self._stack().pop()
        self.spans.append((sid, "client", self._op_start, time.perf_counter(),
                           None, self.op))

    def span(self, name: str, fn):
        """``fn`` wrapped in a span; a call nested in a span of the same
        name (``first`` calling ``take``) is not recorded again."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = tracer._stack()
            if st and st[-1][1] == name:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            sid = next(tracer._ids)
            parent = st[-1][0] if st else tracer.op_root
            st.append((sid, name))
            t1 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                st.pop()
                tracer.spans.append((sid, name, t1, t2, parent, tracer.op))
                tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

        return wrapper

    def wrap_wsgi(self, app, sc):
        """The WSGI callable in an ``http_app.handler`` span; it tags the
        serving thread's Spark jobs with the current op's job group."""
        handler = self.span("http_app.handler", app)

        @functools.wraps(app)
        def traced(environ, start_response):
            if self.op is None:
                return app(environ, start_response)
            t0 = time.perf_counter()
            op, self.op = self.op, None  # not a py4j call of the op's own
            sc.setJobGroup(op, environ.get("PATH_INFO", ""))
            self.op = op
            self.overhead_s += time.perf_counter() - t0
            return handler(environ, start_response)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        for path, attr, name in _TARGETS:
            owner = _resolve(path)
            orig = getattr(owner, attr)
            wrapped = self.span(name, orig)
            self._patch(owner, attr, wrapped)
            if isinstance(owner, type):
                continue
            # functions imported by name into other library modules
            for mod_name, mod in list(sys.modules.items()):
                if (mod_name.startswith("vectordb_cloud_spark")
                        and mod is not owner
                        and getattr(mod, attr, None) is orig):
                    self._patch(mod, attr, wrapped)
        self._install_py4j()

    def _install_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **k):
                if tracer.op is not None:
                    tracer.counters["py4j.calls"] += 1
                return _orig(conn, command, *a, **k)

            self._patch(cls, "send_command", send_command)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- Spark stage counters ---------------------------------------------------
    def harvest_stages(self, sc, group: str) -> dict:
        """Sum the stage counters of every job tagged with ``group``."""
        op, self.op = self.op, None  # these py4j calls are not the op's
        t0 = time.perf_counter()
        try:
            tot: dict[str, float] = defaultdict(float)
            store = sc._jsc.sc().statusStore()
            tracker = sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                tot["jobs"] += 1
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - evicted or skipped stage
                        continue
                    tot["stages"] += 1
                    for acc, key in _STAGE_FIELDS.items():
                        tot[key] += float(getattr(sd, acc)())
            return dict(tot)
        finally:
            self.overhead_s += time.perf_counter() - t0
            self.op = op

    # -- reduction --------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, over all ops."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _sid, _n, s, e, parent, _op in self.spans:
            if parent is not None:
                children[parent].append((s, e))
        out: dict[str, float] = defaultdict(float)
        for sid, name, s, e, _p, _op in self.spans:
            covered = 0.0
            cur_s = cur_e = None
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, s), min(ce, e)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] += (e - s) - covered
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """(calls, seconds) per span name."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for _sid, name, s, e, _p, _op in self.spans:
            out[name][0] += 1
            out[name][1] += e - s
        return {k: (v[0], v[1]) for k, v in out.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, s, e, parent, op in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": s,
                                    "end": e, "parent": parent,
                                    "op": op}) + "\n")
