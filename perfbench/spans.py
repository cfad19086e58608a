"""Per-layer tracing from outside the library.

:func:`install` wraps the public entry points of each repository module
(the layers) and the DataFrame actions underneath them.  Every call
made while a request is open becomes a span ``(layer, name, start, end,
parent, request)`` kept in memory; :meth:`Tracer.request_summary` turns
one request's spans into per-layer self times, where a span's self time
is its duration minus the time its child spans cover.  Nothing here
runs unless the benchmark is started with ``--trace 1``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time

#: per-request fields, in the order the benchmark reports them
LAYER_FIELDS = (
    "http.self_ms", "service.plan_ms", "operators.plan_ms",
    "tags.compile_ms", "wire.parse_ms", "store.read_plan_ms",
    "store.write_ms", "spark.action_ms",
)
CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [layer, name, t0, t1, parent, rid]
        self.stack: list[int] = []
        self.rid: int | None = None
        self.counts: dict[str, int] = {}
        self.catalyst: dict[str, float] = {}

    # -- spans ----------------------------------------------------------
    def begin(self, layer: str, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append([layer, name, time.perf_counter(), None, parent, self.rid])
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        self.stack.pop()

    def write(self, path: str, ops: dict[int, str]) -> None:
        """Write every span as one JSON line (times in ms from the first
        span); ``ops`` maps request id to op type."""
        t0 = self.spans[0][2] if self.spans else 0.0
        with open(path, "w") as f:
            for i, (layer, name, start, end, parent, rid) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "parent": parent, "rid": rid, "op": ops.get(rid),
                    "layer": layer, "name": name,
                    "start_ms": round((start - t0) * 1000, 3),
                    "end_ms": round((end - t0) * 1000, 3),
                }) + "\n")

    def count(self, key: str, n: int = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    # -- requests -------------------------------------------------------
    def start_request(self, rid: int) -> None:
        self.rid = rid
        self.first_span = len(self.spans)
        self.catalyst = dict.fromkeys(CATALYST_PHASES, 0.0)

    def finish_request(self) -> None:
        self.rid = None

    def request_summary(self) -> dict[str, float]:
        """Self time per layer (ms) of the request just finished."""
        spans = self.spans[self.first_span:]
        child_ms = [0.0] * len(spans)
        for s in spans:
            if s[4] is not None and s[4] >= self.first_span:
                child_ms[s[4] - self.first_span] += s[3] - s[2]
        out = dict.fromkeys(LAYER_FIELDS, 0.0)
        for s, kids in zip(spans, child_ms):
            self_ms = (s[3] - s[2] - kids) * 1000
            layer, name = s[0], s[1]
            if layer == "store":
                key = ("store.write_ms" if name.endswith("add_data_points")
                       else "store.read_plan_ms")
            else:
                key = {
                    "http": "http.self_ms", "service": "service.plan_ms",
                    "operators": "operators.plan_ms", "tags": "tags.compile_ms",
                    "wire": "wire.parse_ms", "spark": "spark.action_ms",
                }.get(layer)
            if key:
                out[key] += self_ms
        for ph in CATALYST_PHASES:
            out[f"catalyst.{ph}_ms"] = self.catalyst[ph]
        return out


def _wrap(tracer: Tracer, fn, layer: str, name: str, on_result=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if tracer.rid is None:
            return fn(*args, **kwargs)
        idx = tracer.begin(layer, name)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.end(idx)
        if on_result is not None:
            on_result(args, result)
        return result
    return traced


def _patch_function(tracer, module_name: str, fn_name: str, layer: str) -> None:
    """Wrap a module-level function and every ``from x import f`` alias
    of it in the package's loaded modules."""
    orig = getattr(sys.modules[module_name], fn_name)
    wrapped = _wrap(tracer, orig, layer, f"{module_name}.{fn_name}")
    for mname, mod in list(sys.modules.items()):
        if mname.startswith("rhq_metrics_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapped)


def _patch_methods(tracer, cls, layer: str, names=None, on_result=None) -> None:
    for attr, val in list(vars(cls).items()):
        if names is not None and attr not in names:
            continue
        if names is None and (attr.startswith("_") or not inspect.isfunction(val)):
            continue
        hook = (on_result or {}).get(attr)
        setattr(cls, attr, _wrap(tracer, val, layer, f"{cls.__name__}.{attr}", hook))


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions (call once, before requests)."""
    import importlib
    import pkgutil

    from py4j.protocol import Py4JError
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    import rhq_metrics_spark.operators as ops_pkg
    import rhq_metrics_spark.pipelines.retrieval  # noqa: F401  (and .dedup)
    from rhq_metrics_spark.http import MetricsApp
    from rhq_metrics_spark.service import MetricsService
    from rhq_metrics_spark.sources.store import MetricsStore

    for info in pkgutil.iter_modules(ops_pkg.__path__):
        importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
    for mname, mod in list(sys.modules.items()):
        if mname.startswith(ops_pkg.__name__ + ".") and mod is not None:
            for fname, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and fn.__module__ == mname
                        and not fname.startswith("_")):
                    _patch_function(tracer, mname, fname, "operators")
    _patch_function(tracer, "rhq_metrics_spark.sources.wire", "parse_wire", "wire")
    # the JSON adapters consume the frames the facade returns
    for fname in ("bucket_points_json", "named_data_points_json"):
        _patch_function(tracer, "rhq_metrics_spark.service", fname, "service")
    _patch_function(tracer, "rhq_metrics_spark.tags.parser", "parse_tag_query", "tags")
    for fname in ("exact_dedup", "minhash_lsh_pairs", "dup_clusters"):
        _patch_function(tracer, "rhq_metrics_spark.pipelines.dedup", fname, "pipelines")
    _patch_function(tracer, "rhq_metrics_spark.pipelines.retrieval",
                    "bm25_against_index", "pipelines")
    for fname in ("compile_expression", "compile_simple_query", "find_metric_ids"):
        _patch_function(tracer, "rhq_metrics_spark.tags.compiler", fname, "tags")

    def routed(args, result):
        tracer.count("routed_attempts")
        tracer.count("routed_hits", int(result is not None))

    _patch_methods(tracer, MetricsApp, "http", names={"__call__"})
    _patch_methods(tracer, MetricsService, "service",
                   on_result={"try_routed_stats": routed})
    _patch_methods(tracer, MetricsStore, "store")

    def phases(args, result):
        """Catalyst phase times of the frame an action ran on."""
        try:
            tracker = args[0]._jdf.queryExecution().tracker().phases()
        except (AttributeError, Py4JError):  # frames without a JVM plan
            return
        for ph in CATALYST_PHASES:
            opt = tracker.get(ph)
            if opt.isDefined():
                tracer.catalyst[ph] += float(opt.get().durationMs())

    _patch_methods(tracer, DataFrame, "spark",
                   names={"collect", "toLocalIterator", "count", "toPandas", "take"},
                   on_result={"collect": phases, "toLocalIterator": phases,
                              "toPandas": phases})
    _patch_methods(tracer, DataFrameWriter, "spark", names={"parquet", "save"})


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under a job group."""
    # the status store is filled from the asynchronous listener bus:
    # drain it first, or a busy host undercounts the request's jobs
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks
