"""Traced mode: spans around the public functions of each layer.

``install(tracer)`` wraps the functions from outside the program, each
name patched where the program looks it up (``engine.read_nd`` is bound
at import time; ``stats.prune_files`` and the output and metrics-store
functions are looked up at call time). Spans carry an operation id, a
parent span, a start and an end; they stay in memory until ``dump``.
Spark's plan phases come from a QueryExecutionListener registered over
py4j, JVM GC time from the GC MXBeans.

``layer_metrics`` turns a dump into the per-layer metrics listed in
BENCHMARK.json. Every ``.ms`` metric is self time (span time minus its
traced children) in milliseconds per measured operation.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: list[tuple] = []  # (op, name, value)
        self.spark_events: list[dict] = []
        self.gc_samples: list[tuple[float, float]] = []  # (wall time, gc ms)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._gc_beans = None

    # ------------------------------------------------------------ recording

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack, self._local.op = [], None
        return self._local.stack

    @contextlib.contextmanager
    def op(self, op_id: str | None):
        """Attribute the spans this thread opens to operation ``op_id``."""
        self._stack()
        prev, self._local.op = self._local.op, op_id
        self.sample_gc()
        try:
            yield
        finally:
            self.sample_gc()
            self._local.op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {"op": self._local.op, "id": next(self._ids),
               "parent": stack[-1]["id"] if stack else None, "name": name,
               "t0": time.perf_counter()}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, value: float) -> None:
        self._stack()
        with self._lock:
            self.counts.append((self._local.op, name, float(value)))

    # ------------------------------------------------------------ JVM

    def attach_spark(self, spark) -> None:
        """Register the plan-phase listener and the GC probe."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(_PhaseListener(self))
        jvm = spark.sparkContext._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans())

    def sample_gc(self) -> None:
        if self._gc_beans is not None:
            ms = float(sum(b.getCollectionTime() for b in self._gc_beans))
            with self._lock:
                self.gc_samples.append((time.time(), ms))

    def doc(self) -> dict:
        """Everything recorded so far, the input of ``layer_metrics``."""
        with self._lock:
            return {"spans": list(self.spans), "counts": list(self.counts),
                    "spark_events": list(self.spark_events),
                    "gc_samples": list(self.gc_samples)}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.doc(), f)


class _PhaseListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        ev = {"time": time.time(), "func": func_name,
              "duration_ms": duration_ns / 1e6}
        for k in ("analysis", "optimization", "planning"):
            o = phases.get(k)
            ev[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
        with self.tracer._lock:
            self.tracer.spark_events.append(ev)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ------------------------------------------------------------ wrappers


def _wrap(tracer: Tracer, owner, attr: str, name: str | None, after=None):
    """Replace ``owner.attr`` by a version spanned as ``name`` (no span
    when None); ``after(args, kwargs, result)`` may record counts."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with (tracer.span(name) if name else contextlib.nullcontext()):
            result = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

    setattr(owner, attr, traced)
    return fn


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the workloads reach."""
    import beacon_spark.dsl as dsl
    import beacon_spark.engine as engine
    import beacon_spark.managed as managed
    import beacon_spark.outputs as outputs
    import beacon_spark.session as session
    import beacon_spark.sources.nd as nd
    import beacon_spark.sources.tabular as tabular
    import beacon_spark.stats as stats
    import beacon_spark.system_tables as system_tables
    import numpy as np

    get_spark = session.get_spark

    @functools.wraps(get_spark)
    def traced_get_spark(*args, **kwargs):
        with tracer.span("session.get_spark"):
            spark = get_spark(*args, **kwargs)
        tracer.attach_spark(spark)
        return spark

    session.get_spark = traced_get_spark

    _wrap(tracer, engine.Engine, "__init__", "engine.init")
    _wrap(tracer, engine.Engine, "sql", "engine.sql")
    _wrap(tracer, engine.Engine, "query", "engine.query")
    _wrap(tracer, dsl, "compile_query", "dsl.compile_query")

    def pruned(args, kwargs, kept):
        tracer.count("stats.files_considered", len(args[1]))
        tracer.count("stats.files_kept", len(kept))

    _wrap(tracer, stats, "prune_files", "stats.prune_files", pruned)

    def parquet_call(args, kwargs, result):
        tracer.count("sources.tabular.read_parquet.calls", 1)

    _wrap(tracer, tabular, "read_parquet", "sources.tabular.read_parquet",
          parquet_call)
    read_nd = _wrap(tracer, nd, "read_nd", "sources.nd.read_nd")
    if engine.read_nd is read_nd:
        engine.read_nd = nd.read_nd

    coord_region = nd.coord_region

    @functools.wraps(coord_region)
    def traced_coord_region(ds, dimensions, ranges):
        region = coord_region(ds, dimensions, ranges)
        total = int(np.prod([ds.dims[d] for d in ds.grid(dimensions)]))
        kept = 0 if region is None else int(
            np.prod([hi - lo for lo, hi in region]))
        tracer.count("sources.nd.rows_total", total)
        tracer.count("sources.nd.rows_kept", kept)
        return region

    nd.coord_region = traced_coord_region

    stream = outputs.guarded_arrow_stream

    @functools.wraps(stream)
    def traced_stream(df, limits):
        with tracer.span("outputs.arrow_stream"):
            schema, batches = stream(df, limits)
        return schema, _traced_batches(tracer, batches)

    outputs.guarded_arrow_stream = traced_stream

    _wrap(tracer, system_tables.QueryMetricsStore, "flush",
          "system_tables.flush")

    for stmt in ("insert", "update", "delete"):
        _wrap(tracer, managed.ManagedTable, stmt, f"managed.{stmt}")
    _wrap(tracer, managed.ManagedTable, "compact", "managed.compact")

    write_manifest = managed.ManagedTable._write_manifest

    @functools.wraps(write_manifest)
    def traced_write_manifest(*args, **kwargs):
        with tracer.span("managed.commit"):
            try:
                return write_manifest(*args, **kwargs)
            except managed.ManifestConflict:
                tracer.count("managed.commit.retries", 1)
                raise

    managed.ManagedTable._write_manifest = traced_write_manifest

    def written(args, kwargs, files):
        from beacon_spark.sources import bytesource as bs

        table = args[0]
        size = sum(bs.size(bs.join(table.path, f)) for f in files)
        stack = tracer._stack()
        stmt = next((s["name"] for s in reversed(stack)
                     if s["name"] in ("managed.insert", "managed.update",
                                      "managed.delete")), None)
        if stmt is not None:
            tracer.count("managed.bytes_written", size)
            if stmt == "managed.insert":
                tracer.count("managed.bytes_inserted", size)

    _wrap(tracer, managed.ManagedTable, "_write_data", None, written)


def _traced_batches(tracer: Tracer, batches):
    """Time each batch the arrow stream yields (the Spark job runs inside
    the first one) and count the batch bytes."""
    while True:
        with tracer.span("outputs.arrow_stream"):
            batch = next(batches, None)
        if batch is None:
            return
        tracer.count("outputs.arrow_stream.bytes", batch.nbytes)
        yield batch


def install_http(tracer: Tracer) -> None:
    """Server-side roots: one ``server.http`` span per POST, under the
    operation id the load generator sends in ``x-bench-op``; plus the
    server start (``launch``)."""
    import beacon_spark.server.__main__ as server_main
    from beacon_spark.server.http import BeaconHttpServer

    _wrap(tracer, server_main, "launch", "server.launch")
    serve = BeaconHttpServer.serve_background

    def traced_serve(self):
        handler = self._httpd.RequestHandlerClass
        do_post = handler.do_POST

        def traced_post(h):
            with tracer.op(h.headers.get("x-bench-op")), \
                    tracer.span("server.http"):
                return do_post(h)

        handler.do_POST = traced_post
        return serve(self)

    BeaconHttpServer.serve_background = traced_serve


# ------------------------------------------------------------ aggregation

#: every per-layer metric, in BENCHMARK.json order; a layer a workload
#: never reaches reports 0
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "engine.init_s": "s",
    "server.start_s": "s",
    "server.http.self_ms": "ms",
    "engine.sql.self_ms": "ms",
    "engine.query.self_ms": "ms",
    "dsl.compile_query.ms": "ms",
    "stats.prune_files.ms": "ms",
    "stats.files_kept_ratio": "ratio",
    "sources.tabular.read_parquet.ms": "ms",
    "sources.tabular.read_parquet.calls": "count",
    "sources.nd.read_nd.ms": "ms",
    "sources.nd.rows_kept_ratio": "ratio",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.exec_ms": "ms",
    "outputs.arrow_stream.ms": "ms",
    "outputs.arrow_stream.bytes": "bytes",
    "system_tables.flush.count": "count",
    "system_tables.flush.ms": "ms",
    "managed.insert.ms": "ms",
    "managed.update.ms": "ms",
    "managed.delete.ms": "ms",
    "managed.commit.ms": "ms",
    "managed.commit.retries": "count",
    "managed.bytes_written_per_byte_changed": "ratio",
    "managed.compact.ms": "ms",
    "managed.live_files": "count",
    "jvm.gc_ms": "ms",
    "trace.overhead_pct": "%",
}

_SELF_MS = {
    "server.http.self_ms": "server.http",
    "engine.sql.self_ms": "engine.sql",
    "engine.query.self_ms": "engine.query",
    "dsl.compile_query.ms": "dsl.compile_query",
    "stats.prune_files.ms": "stats.prune_files",
    "sources.tabular.read_parquet.ms": "sources.tabular.read_parquet",
    "sources.nd.read_nd.ms": "sources.nd.read_nd",
    "outputs.arrow_stream.ms": "outputs.arrow_stream",
    "system_tables.flush.ms": "system_tables.flush",
    "managed.insert.ms": "managed.insert",
    "managed.update.ms": "managed.update",
    "managed.delete.ms": "managed.delete",
    "managed.commit.ms": "managed.commit",
    "managed.compact.ms": "managed.compact",
}


def layer_metrics(doc: dict, measured: set[str], window: tuple[float, float],
                  live_files: int = 0) -> dict[str, float]:
    """Per-layer metrics over the measured operations of one traced run.
    ``window`` = (start, end) wall time of the measured part, for the
    listener events and GC samples that carry no operation id."""
    spans = doc["spans"]
    n_ops = max(1, len(measured))
    child_ms: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] += (s["t1"] - s["t0"]) * 1e3
    self_ms: dict[str, float] = defaultdict(float)
    total_s: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = (s["t1"] - s["t0"]) * 1e3
        if s["op"] is None:
            total_s[s["name"]] += dur / 1e3
            total_s[s["name"] + ".self"] += max(0.0, dur - child_ms[s["id"]]) / 1e3
        elif s["op"] in measured:
            self_ms[s["name"]] += max(0.0, dur - child_ms[s["id"]])
    counts: dict[str, float] = defaultdict(float)
    for op, name, value in doc["counts"]:
        if op in measured:
            counts[name] += value

    out = {k: 0.0 for k in LAYER_METRICS}
    out["session.get_spark_s"] = total_s["session.get_spark"]
    out["engine.init_s"] = total_s["engine.init"]
    out["server.start_s"] = total_s["server.launch.self"]
    for metric, name in _SELF_MS.items():
        out[metric] = self_ms[name] / n_ops
    out["system_tables.flush.count"] = sum(
        1 for s in spans if s["name"] == "system_tables.flush"
        and s["op"] in measured)
    if counts["stats.files_considered"]:
        out["stats.files_kept_ratio"] = (counts["stats.files_kept"]
                                         / counts["stats.files_considered"])
    out["sources.tabular.read_parquet.calls"] = counts[
        "sources.tabular.read_parquet.calls"]
    if counts["sources.nd.rows_total"]:
        out["sources.nd.rows_kept_ratio"] = (counts["sources.nd.rows_kept"]
                                             / counts["sources.nd.rows_total"])
    out["outputs.arrow_stream.bytes"] = counts["outputs.arrow_stream.bytes"] / n_ops
    out["managed.commit.retries"] = counts["managed.commit.retries"]
    if counts["managed.bytes_inserted"]:
        # every cycle changes the inserted block three times: insert,
        # update, delete
        out["managed.bytes_written_per_byte_changed"] = (
            counts["managed.bytes_written"] / (3 * counts["managed.bytes_inserted"]))
    out["managed.live_files"] = float(live_files)

    lo, hi = window
    events = [e for e in doc["spark_events"] if lo <= e["time"] <= hi]
    for k in ("analysis", "optimization", "planning"):
        out[f"spark.{k}_ms"] = sum(e[k] for e in events) / n_ops
    out["spark.exec_ms"] = sum(
        max(0.0, e["duration_ms"] - e["optimization"] - e["planning"])
        for e in events) / n_ops
    gc = [ms for t, ms in doc["gc_samples"] if lo <= t <= hi]
    if len(gc) >= 2:
        out["jvm.gc_ms"] = (max(gc) - min(gc)) / n_ops
    return out
