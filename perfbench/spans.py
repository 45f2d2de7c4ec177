"""Spans and counts at the program's module boundaries, recorded from the
benchmark's side.

``Tracer.install`` wraps the public functions of each layer in place
(engine, catalog, operators.ann, operators.knn) and py4j's
``send_command``. A span is (name, start, end, parent, op id, thread);
spans stay in memory and are written as JSONL when the run ends. An
untraced run uses ``NullTracer``, whose scopes do nothing and which wraps
nothing, so the program runs as it would without the benchmark.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

#: The layer a span belongs to is its name up to the first dot. "op" is
#: the benchmark's own scope around each op, "collect" the Spark job that
#: materialises a SEARCHSIMILAR result.
LAYERS = ("op", "engine", "collect", "catalog", "ann", "knn")


class NullTracer:
    enabled = False

    @contextmanager
    def op(self, kind: str, spark=None):
        yield None

    @contextmanager
    def span(self, name: str):
        yield

    def install(self):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counts: dict[str, int] = {}
        self.py4j: dict[int, list[float]] = {}  # op id -> [calls, seconds]
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    # -- scopes -------------------------------------------------------------
    def _ctx(self):
        loc = self._local
        if not hasattr(loc, "stack"):
            loc.stack, loc.op = [], None
        return loc

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    @contextmanager
    def op(self, kind: str, spark=None):
        """One benchmark operation: a root span plus its own Spark job
        group, whose jobs are counted after the run."""
        t = time.perf_counter()
        op_id = self._new_id()
        group = f"perfbench-op-{op_id}"
        if spark is not None:
            spark.sparkContext.setJobGroup(group, kind)
        ctx = self._ctx()
        ctx.op = op_id
        with self._lock:
            self.ops.append({"op": op_id, "kind": kind, "group": group})
            self.py4j[op_id] = [0, 0.0]
            self.overhead_s += time.perf_counter() - t
        try:
            with self.span(f"op.{kind}"):
                yield op_id
        finally:
            ctx.op = None

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        ctx = self._ctx()
        sid = self._new_id()
        parent = ctx.stack[-1] if ctx.stack else None
        ctx.stack.append(sid)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            ctx.stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": t1, "end": t2,
                    "parent": parent, "op": ctx.op,
                    "thread": threading.get_ident(),
                })
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    # -- wrapping -------------------------------------------------------------
    def _wrap(self, fn, name, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with tracer.span(label):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, out)
            return out

        return wrapped

    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        import vrod_spark.engine as engine
        import vrod_spark.operators.ann as ann
        import vrod_spark.operators.knn as knn
        from vrod_spark.catalog import Collection

        engine.Engine.execute = self._wrap(
            engine.Engine.execute,
            lambda a, kw: f"engine.{str(kw.get('verb', a[1] if len(a) > 1 else '')).lower()}",
        )
        meta = Collection.__dict__["meta"]
        Collection.meta = property(self._wrap(meta.fget, "catalog.meta"))
        for fname in ("read", "live_index", "insert", "update", "delete",
                      "commit_staged_index", "analyze", "truncate_wal"):
            setattr(Collection, fname,
                    self._wrap(getattr(Collection, fname), f"catalog.{fname}"))

        def probed(args, buckets):
            hist = args[0]["histogram"]
            self.count("ann.searches")
            self.count("ann.buckets_probed", len(buckets))
            self.count("ann.rows_scanned",
                       sum(int(hist.get(str(b), 0)) for b in buckets))

        ann.candidate_buckets = self._wrap(
            ann.candidate_buckets, "ann.candidate_buckets", probed)
        ann.reindex_collection = self._wrap(
            ann.reindex_collection, "ann.reindex_collection")
        ann.ann_search_bucketed = self._wrap(
            ann.ann_search_bucketed, "ann.search_bucketed")
        traced_knn = self._wrap(knn.knn_exact, "knn.knn_exact")
        # Callers bound the name at import time; rebind it where they did.
        for mod in (knn, ann, engine):
            mod.knn_exact = traced_knn

        for cls in (py4j.clientserver.ClientServerConnection,
                    py4j.java_gateway.GatewayConnection):
            cls.send_command = self._count_py4j(cls.send_command)

    def _count_py4j(self, fn):
        tracer = self

        @functools.wraps(fn)
        def send_command(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                op = getattr(tracer._local, "op", None)
                if op is not None:
                    rec = tracer.py4j[op]
                    rec[0] += 1
                    rec[1] += time.perf_counter() - t0

        return send_command

    # -- after the run ------------------------------------------------------
    def spark_counts(self, spark) -> dict[int, tuple[int, int, int, int]]:
        """Per op: (jobs, stages, tasks, failed tasks), from the status
        tracker, read once the run is over so the timed window pays
        nothing for it."""
        time.sleep(1.0)  # let the listener bus drain the last job events
        tracker = spark.sparkContext.statusTracker()
        out = {}
        for rec in self.ops:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
            out[rec["op"]] = (len(jobs), stages, tasks, failed)
        return out

    def _own(self) -> list[tuple[dict, float]]:
        """Each span with its self time: its duration minus its children's.
        A span's children ran on its thread, one after another, so their
        durations do not overlap."""
        inner: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                inner[s["parent"]] = inner.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [(s, s["end"] - s["start"] - inner.get(s["id"], 0.0)) for s in self.spans]

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Seconds of self time per layer, over the spans of ``ops``."""
        out = dict.fromkeys(LAYERS, 0.0)
        for s, own in self._own():
            if s["op"] in ops:
                layer = s["name"].split(".", 1)[0]
                out[layer] = out.get(layer, 0.0) + own
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    def top_self_spans(self, n: int = 10) -> list[tuple[str, float]]:
        """Span names ranked by total self time (seconds)."""
        totals: dict[str, float] = {}
        for s, own in self._own():
            totals[s["name"]] = totals.get(s["name"], 0.0) + own
        return sorted(totals.items(), key=lambda kv: -kv[1])[:n]
