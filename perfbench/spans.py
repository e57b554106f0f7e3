"""Per-layer tracing, wrapped around the engine from the benchmark's side.

Tracing wraps the public functions of each engine module (the module
names are the layer names), so it needs no engine change. A span records
name, start, end, parent and op id; spans stay in memory and are written
as JSON lines at exit. A layer's self time is its span minus the part
of that interval its child spans cover.

Per op, the tracer also counts Spark work under a job group the
benchmark sets (jobs, stages, tasks, shuffle and spill bytes from the
status store), JVM GC time, and py4j round trips (every
`send_command`). Everything the tracer does after an op ends is timed as
its own cost, which the run reports as the trace overhead.

With tracing off, every hook is a no-op and no engine function is
wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time

#: per-layer metric -> (span name, how it is summed)
#:   "self": span minus its children; "incl": whole outermost spans;
#:   "calls": number of outermost spans
SPAN_METRICS = {
    "session.sql_self_ms": ("session.sql", "self"),
    "session.refresh_ms": ("session.refresh", "incl"),
    "plans.search_sql_ms": ("plans.search_sql", "incl"),
    "plans.es_dsl_ms": ("plans.es_dsl", "incl"),
    "plans.statements_ms": ("plans.statements", "incl"),
    "operators.build_index_calls": ("operators.build_index", "calls"),
    "operators.build_index_ms": ("operators.build_index", "incl"),
    "sources.es_bulk_ms": ("sources.es_bulk", "incl"),
    "server.route_ms": ("server.route", "self"),
    "server.http_ms": ("server.http", "self"),
    "spark.plan_ms": ("spark.plan", "incl"),
    "spark.exec_ms": ("spark.exec", "incl"),
}
#: per-op counters kept outside spans
COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks",
            "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_ms",
            "py4j.calls")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = {}
        self.op_class: dict[int, str] = {}
        self.own_s = 0.0
        self._op: int | None = None
        self._group: str | None = None
        self._local = threading.local()
        self._client_stack: list[int] = []
        self._next_id = 0
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # ---- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if self._op is None:
            yield
            return
        st = self._stack()
        # a span opened on a server thread hangs under the client's
        # innermost open span (the HTTP request that caused it)
        parent = st[-1] if st else (
            self._client_stack[-1] if self._client_stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        st.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "op": self._op,
                               "thread": threading.current_thread().name})

    def collect(self, sql, text: str) -> list:
        """`sql(text).collect()`, with Catalyst planning timed apart from
        execution when tracing."""
        df = sql(text)
        if self._op is not None:
            with self.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span("spark.exec"):
            return df.collect()

    # ---- ops --------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: int, cls: str, spark):
        """Scope one timed op: its spans and counters carry `op_id`.
        Ops before `install` (the warm-up) are not traced."""
        if not self._restore:
            yield
            return
        t0 = time.perf_counter()
        sc = spark.sparkContext
        self._group = f"perfbench-op-{op_id}"
        sc.setJobGroup(self._group, cls)
        gc0 = gc_ms(sc)
        self.counts[op_id] = dict.fromkeys(COUNTERS, 0.0)
        self.op_class[op_id] = cls
        self._client_stack = self._stack()
        self.own_s += time.perf_counter() - t0
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None
            t1 = time.perf_counter()
            c = self.counts[op_id]
            c["spark.gc_ms"] = gc_ms(sc) - gc0
            c.update(_job_counts(sc, self._group))
            self.own_s += time.perf_counter() - t1

    # ---- engine hooks -----------------------------------------------------
    def install(self, spark) -> None:
        """Wrap each layer's public functions. Only when tracing."""
        if not self.enabled:
            return
        from py4j import clientserver, java_gateway

        from serenedb_spark import session as session_mod
        from serenedb_spark.operators import indexing, maintenance
        from serenedb_spark.plans import es_dsl, search_sql, statements
        from serenedb_spark.server.es_http import EsShim
        from serenedb_spark.sources import es_bulk

        S = session_mod.SereneSession
        build = indexing.build_index
        hooks = [
            (S, "sql", "session.sql"),
            (S, "refresh_indexes", "session.refresh"),
            (search_sql, "parse_select", "plans.search_sql"),
            (search_sql, "execute_select", "plans.search_sql"),
            (es_dsl, "to_search_sql", "plans.es_dsl"),
            (es_dsl, "parse_query", "plans.es_dsl"),
            (statements, "route_statement", "plans.statements"),
            # EsShim.bulk imports it by name at each call
            (es_bulk, "es_bulk", "sources.es_bulk"),
        ]
        # build_index is bound by name in three modules
        for mod in (indexing, session_mod, maintenance):
            if getattr(mod, "build_index", None) is build:
                hooks.append((mod, "build_index", "operators.build_index"))
        for owner, attr, name in hooks:
            self._wrap(owner, attr, self._spanned(name))
        sc = spark.sparkContext
        for attr in ("search", "count", "bulk"):
            self._wrap(EsShim, attr, self._route(sc))
        for conn in (clientserver.ClientServerConnection,
                     java_gateway.GatewayConnection):
            self._wrap(conn, "send_command", self._py4j)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, owner, attr: str, make) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _spanned(self, name: str):
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)
            return wrapper
        return make

    def _route(self, sc):
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                if self._op is not None:
                    # handler threads start without the client's job
                    # group; set it so their Spark jobs count to the op
                    self._local.mute = True
                    sc.setJobGroup(self._group, "es route")
                    self._local.mute = False
                with self.span("server.route"):
                    return fn(*a, **kw)
            return wrapper
        return make

    def _py4j(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            op = self._op
            if op is not None and not getattr(self._local, "mute", False):
                with self._lock:
                    self.counts[op]["py4j.calls"] += 1
            return fn(*a, **kw)
        return wrapper

    # ---- results ----------------------------------------------------------
    def layer_metrics(self, ops: list[int]) -> tuple[dict, dict]:
        """(per-op means over `ops`, per-class per-op means)."""
        per_op = {o: dict(self.counts[o], **dict.fromkeys(SPAN_METRICS, 0.0))
                  for o in ops}
        children = self._children()
        by_id = {s["id"]: s for s in self.spans}
        for key, (name, how) in SPAN_METRICS.items():
            for s in self.spans:
                if s["name"] != name or s["op"] not in per_op:
                    continue
                if how == "self":
                    v = _self_s(s, children.get(s["id"], ())) * 1e3
                elif _nested_in_same(s, by_id):
                    continue
                else:
                    v = 1.0 if how == "calls" else \
                        (s["end"] - s["start"]) * 1e3
                per_op[s["op"]][key] += v
        keys = list(SPAN_METRICS) + list(COUNTERS)
        mean = {k: statistics.fmean(per_op[o][k] for o in ops) for k in keys}
        classes: dict[str, dict] = {}
        for cls in dict.fromkeys(self.op_class[o] for o in ops):
            mine = [o for o in ops if self.op_class[o] == cls]
            classes[cls] = {k: round(statistics.fmean(
                per_op[o][k] for o in mine), 3) for k in keys}
        return mean, classes

    def self_time_table(self, ops: list[int]) -> dict[str, float]:
        """Self ms per op of every span name: the per-layer table."""
        children = self._children()
        out: dict[str, float] = {}
        keep = set(ops)
        for s in self.spans:
            if s["op"] in keep:
                out[s["name"]] = out.get(s["name"], 0.0) + _self_s(
                    s, children.get(s["id"], ())) * 1e3
        return {k: round(v / len(ops), 3) for k, v in sorted(out.items())}

    def _children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _self_s(span: dict, kids) -> float:
    """Span duration minus the union of its children's intervals."""
    lo, hi = span["start"], span["end"]
    covered, cur = 0.0, lo
    for k in sorted(kids, key=lambda k: k["start"]):
        a, b = max(k["start"], cur), min(k["end"], hi)
        if b > a:
            covered += b - a
            cur = b
    return (hi - lo) - covered


def _nested_in_same(span: dict, by_id: dict) -> bool:
    p = span["parent"]
    while p is not None:
        ps = by_id[p]
        if ps["name"] == span["name"]:
            return True
        p = ps["parent"]
    return False


def gc_ms(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime()
                     for i in range(beans.size())))


def _job_counts(sc, group: str) -> dict[str, float]:
    """Jobs, stages that ran, tasks, shuffle-write and spill bytes of one
    job group, read once the listener bus has delivered every event."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = shuffle = spill = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks == 0:
            continue  # skipped: its output was reused
        stages += 1
        tasks += st.numCompletedTasks
        data = store.lastStageAttempt(sid)
        shuffle += data.shuffleWriteBytes()
        spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return {"spark.jobs": float(len(jobs)), "spark.stages": float(stages),
            "spark.tasks": float(tasks),
            "spark.shuffle_bytes": float(shuffle),
            "spark.spill_bytes": float(spill)}
