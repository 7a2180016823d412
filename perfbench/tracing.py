"""Traced-run instrumentation: spans around public entry points and the
Spark counters of every op, read from outside the engine.

Wrappers are installed on the classes and modules the engine already
exposes (GraphSession.execute, the parser's parse, the PropertyGraph cache
methods, the Bolt session's message handler); nothing under memgraph_spark/
changes. Each span records name, module, start, end, parent, op id and
thread, stays in memory and is written out when the run ends.

Every op runs under its own Spark job group (`pb-<op id>`); at the end of
the run the jobs and stages of each group come out of Spark's status store
(executor run time, shuffle bytes, task counts, job intervals).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        # per thread: the op being run and the stack of open spans
        self._local = threading.local()
        self.spans: list[dict] = []
        self.cache = defaultdict(lambda: {"calls": 0, "misses": 0})
        self._lock = threading.Lock()
        self._undo: list = []
        self._last_df: dict = {}

    def current_op(self):
        return getattr(self._local, "op", None)

    def set_op(self, op_id) -> None:
        self._local.op = op_id

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, module: str, op=None):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "module": module,
               "op": self.current_op() if op is None else op,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident(), "start": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def _wrap(self, owner, attr: str, module: str, before=None, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(f"{module}.{attr}", module):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, *args, **kwargs)
            return out
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from memgraph_spark import catalog
        from memgraph_spark.plans import session as psession
        from memgraph_spark.server import bolt

        def job_group(*_a, **_k):
            op = self.current_op()
            if op is not None:
                self.sc.setJobGroup(f"pb-{op}", "perfbench op")

        def keep_plan(df, *_a, **_k):
            op = self.current_op()
            if op is not None and hasattr(df, "_jdf"):
                with self._lock:
                    self._last_df[op] = df

        self._wrap(psession.GraphSession, "execute", "plans",
                   before=job_group, after=keep_plan)
        self._wrap(psession, "parse", "plans")

        def cache_probe(attr, cache_attr):
            def before(graph, *args, **kwargs):
                key = (args[0] if args else kwargs.get("etype"),
                       args[1] if len(args) > 1 else kwargs.get(
                           "direction", "out"))
                with self._lock:
                    c = self.cache[attr]
                    c["calls"] += 1
                    if key not in getattr(graph, cache_attr):
                        c["misses"] += 1
            return before

        # the in-process entry points the ops call, one module label per
        # package (their build time: iterative operators run rounds eagerly)
        import memgraph_spark.algos as algos
        import memgraph_spark.llm as llm
        import memgraph_spark.llm.similarity as similarity
        import memgraph_spark.llm.textstats as textstats
        import memgraph_spark.operators as operators
        import memgraph_spark.search as search
        for owner, names, module in (
                (operators, ("bfs", "weighted_shortest_path",
                             "expand_variable"), "operators"),
                (algos, ("pagerank", "katz_centrality", "topological_layers",
                         "weakly_connected_components"), "algos"),
                (llm, ("minhash_lsh_pairs", "simhash_near_pairs",
                       "lsh_bucket_topk"), "llm"),
                (similarity, ("ivf_topk",), "llm"),
                (textstats, ("fingerprint_exact",), "llm"),
                (search, ("bm25_search",), "search")):
            for name in names:
                self._wrap(owner, name, module)
        self._wrap(catalog.PropertyGraph, "adjacency", "catalog",
                   before=cache_probe("adjacency", "_adj_cache"))
        self._wrap(catalog.PropertyGraph, "eid_edges", "catalog",
                   before=cache_probe("eid_edges", "_eid_cache"))

        # the client tags each RUN with its op id in the Bolt RUN `extra`
        # field; the server thread picks it up before executing
        orig_handle = bolt._Session.handle

        @functools.wraps(orig_handle)
        def handle(session, msg):
            if msg.tag == bolt.RUN and len(msg.fields) > 2 \
                    and isinstance(msg.fields[2], dict):
                self.set_op(msg.fields[2].get("pb_op"))
            try:
                return orig_handle(session, msg)
            finally:
                # the op ends when the session holds no open result; the
                # server thread must not pass its job group on to the
                # untraced ops that run on it later
                if session.rows is None and self.current_op() is not None:
                    self.set_op(None)
                    self.sc.setJobGroup("perfbench-idle", "between ops")
        bolt._Session.handle = handle
        self._undo.append((bolt._Session, "handle", orig_handle))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def keep_df(self, op, df) -> None:
        """In-process ops hand over the DataFrame that runs the action."""
        self._last_df[op] = df

    # -- Spark counters ---------------------------------------------------
    def plan_phases_ms(self) -> dict:
        """Catalyst analysis + optimization + planning of the Dataset that
        ran each op's action (its QueryPlanningTracker)."""
        out = {}
        for op, df in self._last_df.items():
            try:
                ph = df._jdf.queryExecution().tracker().phases()
                it = ph.iterator()
                ms = 0.0
                while it.hasNext():
                    ms += it.next()._2().durationMs()
                out[op] = ms
            except Exception:  # noqa: BLE001 - a dropped frame has no plan
                out[op] = 0.0
        return out

    def spark_counters(self) -> dict:
        """op id -> jobs, stages, tasks, failed tasks, executor ms, shuffle
        bytes and job intervals (ms since epoch), from the status store."""
        time.sleep(0.5)     # let the listener bus drain
        store = self.sc._jsc.sc().statusStore()
        stages = defaultdict(list)
        q = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        it = store.stageList(None, False, False, q, None).iterator()
        while it.hasNext():
            s = it.next()
            stages[s.stageId()].append((
                s.numTasks(), s.numFailedTasks(), s.executorRunTime(),
                s.shuffleReadBytes() + s.shuffleWriteBytes()))
        per_op = defaultdict(lambda: {"jobs": 0, "stages": 0, "tasks": 0,
                                      "failed_tasks": 0, "executor_ms": 0,
                                      "shuffle_bytes": 0, "intervals": []})
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            if not grp.isDefined() or not grp.get().startswith("pb-"):
                continue
            rec = per_op[grp.get()[3:]]
            rec["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                rec["intervals"].append((sub.get().getTime(),
                                         done.get().getTime()))
            sids = j.stageIds().iterator()
            while sids.hasNext():
                for tasks, failed, run_ms, shuffle in stages[sids.next()]:
                    rec["stages"] += 1
                    rec["tasks"] += tasks
                    rec["failed_tasks"] += failed
                    rec["executor_ms"] += run_ms
                    rec["shuffle_bytes"] += shuffle
        return dict(per_op)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def union_ms(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans: list[dict]) -> dict:
    """Total self time (span minus its direct children) per module."""
    child = defaultdict(float)
    for s in spans:
        if s.get("parent") is not None and "end" in s:
            child[s["parent"]] += s["end"] - s["start"]
    out = defaultdict(float)
    for s in spans:
        if "end" in s:
            out[s["module"]] += (s["end"] - s["start"]) - child[s["id"]]
    return dict(out)
