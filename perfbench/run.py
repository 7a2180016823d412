"""perfbench: end-to-end and per-module benchmark of the graph engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Each run makes its tables from --seed
(perfbench/datagen.py), starts Spark on local[nproc], loads the graph,
warms it up, then runs the workload's ops closed loop in whole rounds (every
op kind once per round, in a seeded order). The number of rounds is fixed by
--seconds and the workload's nominal round time (ops.ROUND_SECONDS).
Every op's answer is checked after the timed window (perfbench/ops.py).

The last stdout line is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones; with --trace 1
the run alternates untraced rounds with rounds traced by the wrappers of
perfbench/tracing.py (same parameters, an even number of pairs), and
reports the per-module metrics of the traced rounds, a self-time table and
the tracing overhead. The line before the result stamps the environment
(master, parallelism, load averages, versions, commit).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# table scale of the generated graph (sf=0.1 is 15k customers): small enough
# that a run, with Spark start and a cold warm-up round, takes about a minute
SF = 0.01
DRIVER_MEMORY, YOUNG_GEN = "2g", "512m"


def _process_age_s() -> float:
    """Seconds since this process started (from /proc), so setup_s also
    counts interpreter start-up and imports."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_ORIGIN = time.perf_counter() - _process_age_s()


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_heap_mb(spark) -> dict:
    """The JVM heap: committed, and the sum of its pools' peak use."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory")
    return {"committed": committed / 2 ** 20, "peak_used": peak / 2 ** 20}


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return sum(ticks), ticks[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _commit() -> str:
    """HEAD of the checkout, if it is a git work tree (git is kept from
    looking above the checkout)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _source_digest() -> str:
    """sha256 over the engine's .py sources: identifies the code measured
    when the checkout carries no commit."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "memgraph_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def start_spark(cpus: int):
    """Spark on local[cpus] with scratch dirs inside the checkout, the
    console progress bar off and enough status-store retention for a
    traced run's per-op counters. The driver heap is fixed, with a fixed
    young generation, and touched at start: when G1 grew the heap on
    demand, peak RSS moved by up to 30% from run to run, and with an
    adaptive young generation the iterative operators ran 20% slower and
    less steadily."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        f'-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:+AlwaysPreTouch" '
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "pyspark-shell")
    from memgraph_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext and wait for the JVM process to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- the closed loop ----------------------------------------------------------

class Runner:
    """Runs whole rounds of a workload's op kinds on one or more
    connections (Bolt clients, or None for in-process callers)."""

    def __init__(self, ctx, kinds, conns, seed: int, tag: str, tracer=None,
                 stream: str | None = None):
        self.ctx, self.kinds, self.conns = ctx, kinds, conns
        self.tag, self.tracer = tag, tracer
        # one parameter stream per connection, continued across run() calls
        self.rngs = [random.Random(f"{seed}:{stream or tag}:{i}")
                     for i in range(len(conns))]
        self.rounds_done = [0] * len(conns)
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._next_id = 0

    def _op(self, kind, params, conn, ci: int) -> dict:
        with self._lock:
            op_id = f"{self.tag}{self._next_id}"
            self._next_id += 1
        rec = {"id": op_id, "kind": kind.name, "params": params, "conn": ci}
        tr = self.tracer
        if tr is not None:
            tr.set_op(op_id)
            if conn is None:
                tr.sc.setJobGroup(f"pb-{op_id}", "perfbench op")
            else:
                conn.run_extra = {"pb_op": op_id}
        rec["t0"] = time.perf_counter()
        try:
            if tr is not None:
                with tr.span(f"op.{kind.name}", "bench", op_id):
                    out = kind.run(self.ctx, params, conn)
            else:
                out = kind.run(self.ctx, params, conn)
            if conn is not None:
                _fields, rows, rec["wire"] = out
                rec["rows"] = [tuple(r) for r in rows]
            else:
                rec["rows"] = out
        except Exception as exc:  # noqa: BLE001 - an op failure is counted
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["t1"] = time.perf_counter()
        if tr is not None and conn is not None:
            conn.run_extra = {}
        if tr is not None and conn is None:
            tr.sc.setJobGroup("perfbench-idle", "between ops")
        with self._lock:
            self.records.append(rec)
        return rec

    def _loop(self, ci: int, conn, rounds: int) -> None:
        rng = self.rngs[ci]
        for _ in range(rounds):
            order = list(self.kinds)
            rng.shuffle(order)
            for kind in order:
                self._op(kind, kind.gen(rng, self.ctx), conn, ci)
        self.rounds_done[ci] += rounds

    def run(self, rounds: int) -> float:
        """Closed loop: every connection runs `rounds` whole rounds.
        Returns the wall seconds until the last one finishes."""
        t0 = time.perf_counter()
        threads = [threading.Thread(target=self._loop, args=(i, c, rounds))
                   for i, c in enumerate(self.conns)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0


def verify(ctx, records) -> int:
    """Check every op's answer against its oracle; returns the failures.
    Errors and wrong answers both count; the first few are printed."""
    import ops
    by_name = {k.name: k for kinds in ops.WORKLOADS.values() for k in kinds}
    failed = 0
    for rec in records:
        reason = rec.get("error")
        if reason is None:
            kind = by_name[rec["kind"]]
            try:
                expected = kind.expect(ctx, rec["params"])
                reason = kind.check(rec["rows"], expected)
            except Exception as exc:  # noqa: BLE001 - oracle failure = fail
                reason = f"oracle: {type(exc).__name__}: {str(exc)[:200]}"
        rec["ok"] = reason is None
        if reason is not None:
            failed += 1
            if failed <= 5:
                print(f"perfbench: FAIL {rec['kind']} "
                      f"{ops.public_params(rec['params'])}: {reason}")
    return failed


def _pct(values, q: float) -> float:
    vs = sorted(values)
    if not vs:
        return 0.0
    if len(vs) == 1:
        return vs[0]
    return statistics.quantiles(vs, n=100, method="inclusive")[int(q) - 1]


# -- per-module metrics of a traced pass --------------------------------------

def layer_metrics(records, tracer, workload: str, untraced_wall: float,
                  traced_wall: float, ctx) -> tuple[dict, dict]:
    import ops
    import tracing as T
    counters = tracer.spark_counters()
    plan_ms = tracer.plan_phases_ms()
    epoch = time.time() - time.perf_counter()
    spans_by_op: dict = {}
    for s in tracer.spans:
        spans_by_op.setdefault(s["op"], []).append(s)

    def span_ms(op, name):
        return sum((s["end"] - s["start"]) * 1e3
                   for s in spans_by_op.get(op, [])
                   if s["name"] == name and "end" in s)

    n = max(1, len(records))
    m: dict = {}
    bolt = [r for r in records if "wire" in r]
    lock_wait, build_jobs, gaps = [], [], []
    for r in records:
        c = counters.get(r["id"], {"jobs": 0, "intervals": []})
        wall_ms = (r["t1"] - r["t0"]) * 1e3
        t0e, t1e = (r["t0"] + epoch) * 1e3, (r["t1"] + epoch) * 1e3
        inside = [(max(s, t0e), min(e, t1e)) for s, e in c["intervals"]
                  if e > t0e and s < t1e]
        gaps.append(max(0.0, wall_ms - T.union_ms(inside)))
        ex = [s for s in spans_by_op.get(r["id"], [])
              if s["name"] == "plans.execute" and "end" in s]
        if ex:
            lo = (ex[0]["start"] + epoch) * 1e3
            hi = (ex[-1]["end"] + epoch) * 1e3
            build_jobs.append(sum(1 for s, _ in c["intervals"]
                                  if lo <= s <= hi))
        if "wire" in r:
            lock_wait.append(max(0.0, r["wire"]["run_ms"]
                                 - span_ms(r["id"], "plans.execute")))

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    m["server.run_ms"] = (_pct([r["wire"]["run_ms"] for r in bolt], 50), "ms")
    m["server.pull_ms"] = (_pct([r["wire"]["pull_ms"] for r in bolt], 50),
                           "ms")
    m["server.lock_wait_ms"] = (_pct(lock_wait, 50), "ms")
    m["server.bytes_per_op"] = (mean(r["wire"]["bytes"] for r in bolt),
                                "bytes")
    m["plans.parse_ms"] = (mean(span_ms(r["id"], "plans.parse")
                                for r in records), "ms")
    m["plans.execute_ms"] = (mean(span_ms(r["id"], "plans.execute")
                                  for r in records), "ms")
    m["plans.build_jobs_per_op"] = (sum(build_jobs) / n, "count")
    get = lambda key: [counters.get(r["id"], {}).get(key, 0)  # noqa: E731
                       for r in records]
    m["spark.jobs_per_op"] = (mean(get("jobs")), "count")
    m["spark.stages_per_op"] = (mean(get("stages")), "count")
    m["spark.tasks_per_op"] = (mean(get("tasks")), "count")
    m["spark.executor_ms_per_op"] = (mean(get("executor_ms")), "ms")
    m["spark.driver_gap_ms_per_op"] = (mean(gaps), "ms")
    m["spark.shuffle_bytes_per_op"] = (mean(get("shuffle_bytes")), "bytes")
    m["spark.plan_ms_per_op"] = (mean(plan_ms.get(r["id"], 0.0)
                                      for r in records), "ms")
    m["spark.failed_tasks"] = (sum(get("failed_tasks")), "count")
    calls = sum(c["calls"] for c in tracer.cache.values())
    misses = sum(c["misses"] for c in tracer.cache.values())
    m["catalog.adjacency_builds"] = (misses, "count")
    m["catalog.adjacency_hit_ratio"] = (
        (calls - misses) / calls if calls else 0.0, "ratio")
    m["catalog.cache_mb"] = (sum(
        i.memSize() for i in ctx.spark.sparkContext._jsc.sc()
        .getRDDStorageInfo()) / 2 ** 20, "MB")

    # self time per module: Bolt server spans run on server threads; hang
    # them under the client's op span of the same op id
    roots = {s["op"]: s["id"] for s in tracer.spans
             if s["module"] == "bench" and "end" in s}
    spans = [dict(s, parent=roots.get(s["op"]))
             if s["parent"] is None and s["module"] != "bench" else s
             for s in tracer.spans]
    wire = {r["id"]: r["wire"]["run_ms"] + r["wire"]["pull_ms"]
            for r in bolt}
    self_s = T.self_times(spans)
    # the client-side wire time of a Bolt op is the server module's share
    # (wire minus the engine's execute, which is already under plans)
    wire_total = sum(wire.values()) / 1e3
    exec_bolt = sum(span_ms(op, "plans.execute") for op in wire) / 1e3
    if wire:
        self_s["server"] = max(0.0, wire_total - exec_bolt)
        self_s["bench"] = max(0.0, self_s.get("bench", 0.0) - wire_total
                              + exec_bolt)
    self_s["spark_jobs"] = sum(
        T.union_ms(counters.get(r["id"], {}).get("intervals", []))
        for r in records) / 1e3
    for mod in ("bench", "server", "plans", "catalog", "operators", "algos",
                "action", "spark_jobs"):
        m[f"self.{mod}_ms_per_op"] = (self_s.get(mod, 0.0) * 1e3 / n, "ms")
    m["trace.overhead_ratio"] = (
        traced_wall / untraced_wall - 1.0 if untraced_wall else 0.0, "ratio")

    for kind in ops.layer_kinds(workload, benchmarked_workloads()):
        recs = [r for r in records if r["kind"] == kind]
        m[f"op.{kind}.ms"] = (_pct([(r["t1"] - r["t0"]) * 1e3
                                    for r in recs], 50), "ms")
        m[f"op.{kind}.jobs"] = (mean(counters.get(r["id"], {}).get("jobs", 0)
                                     for r in recs), "count")
    report = {"self_s": self_s, "counters": counters, "plan_ms": plan_ms,
              "cache": dict(tracer.cache)}
    return m, report


def benchmarked_workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def missing_reasons(workload: str, records, layers: dict) -> dict:
    """Per-layer metrics that a workload cannot produce print as 0; say why."""
    import ops
    reasons = {}
    if workload not in ops.BOLT_WORKLOADS:
        for k in ("server.run_ms", "server.pull_ms", "server.lock_wait_ms",
                  "server.bytes_per_op", "plans.parse_ms", "plans.execute_ms",
                  "plans.build_jobs_per_op"):
            reasons[k] = "in-process callers: no Bolt wire, no Cypher compile"
    for k, (value, _unit) in layers.items():
        if k.startswith("self.") and value == 0 and k not in reasons:
            module = k[len("self."):-len("_ms_per_op")]
            reasons[k] = f"no {module} span on this workload's path"
    ran = {r["kind"] for r in records}
    for kind in ops.layer_kinds(workload, benchmarked_workloads()):
        if kind not in ran:
            reasons[f"op.{kind}.ms"] = f"{kind} is not an op of {workload}"
            reasons[f"op.{kind}.jobs"] = reasons[f"op.{kind}.ms"]
    return reasons


# -- main -------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="table scale (the self-test runs on 0.001)")
    ap.add_argument("--bad-oracle", default=None,
                    help="self-test only: corrupt this kind's expected answer")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import memgraph_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import datagen
    import ops
    if args.workload not in ops.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(ops.WORKLOADS)}", file=sys.stderr)
        return 2

    env = {"load_before": [round(x, 2) for x in os.getloadavg()[:2]]}
    sf = args.sf
    t = time.perf_counter()
    data_root = os.path.join(WORK, "data", str(os.getpid()))
    data_dir = datagen.write(args.seed, sf, data_root)
    t_inputs = time.perf_counter() - t

    cpus = _nproc()
    spark = start_spark(cpus)
    t_spark = time.perf_counter()
    try:
        return _run(args, spark, data_dir, sf, env, cpus, t_spark, t_inputs)
    finally:
        stop_spark(spark)
        shutil.rmtree(data_root, ignore_errors=True)


def _run(args, spark, data_dir, sf, env, cpus, t_spark, t_inputs) -> int:
    import ops
    from memgraph_spark.catalog import load_tpch_graph

    # set-up happens twice: the first graph takes the warm-up round (past
    # JIT and codegen), the second, freshly loaded, is the one measured
    # (write_mix must start from an unwritten graph); setup_s counts the
    # median of the two loads. Only the first graph's own caches are
    # dropped: the session graph the registry ops share (catalog.graph_for)
    # keeps the adjacency the warm-up round built, as it would in a server
    kinds = ops.WORKLOADS[args.workload]
    loads, t_warm, ctx, graph = [], 0.0, None, None
    for rep in range(2):
        if graph is not None:
            ops.drop_caches(graph)
        t = time.perf_counter()
        graph = load_tpch_graph(spark, data_dir)
        ops.warm_caches(args.workload, graph)
        loads.append(time.perf_counter() - t)
        if ctx is None:
            ctx = ops.Ctx(spark, graph, data_dir)   # oracle side, not timed
        ctx.reset(graph)
        t = time.perf_counter()
        server, conns = _connect(args.workload, graph)
        if rep == 0:
            # one round on one connection reaches every op's code path
            Runner(ctx, kinds, conns[:1], args.seed, "w").run(rounds=1)
            _disconnect(server, conns)
        t_warm += time.perf_counter() - t
    setup_s = (t_spark - T_ORIGIN) - t_inputs + statistics.median(loads) \
        + t_warm

    # start the measured window from a collected heap on both sides (not
    # set-up: the engine does not need it), so that no old-generation
    # collection left over from set-up lands inside the window
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    ticks0 = _cpu_ticks()
    runner = Runner(ctx, kinds, conns, args.seed, "m")
    rounds = ops.rounds_for(args.workload, args.seconds)
    if not args.trace:
        wall = runner.run(rounds)
    else:
        # untraced and traced rounds alternate on the same parameters, so
        # both halves see the same warm state; the tracing overhead is the
        # ratio of their wall times. The second round of a pair repeats the
        # first one's parameters, so the number of pairs is even: each side
        # goes second equally often
        import tracing as T
        tracer = T.Tracer(spark)
        traced = Runner(ctx, kinds, conns, args.seed, "t", tracer,
                        stream="m")
        wall = t_wall = 0.0
        for pair in range(max(2, rounds + rounds % 2)):
            # U T, then T U: a round's position does not favour either side
            for traced_round in ((False, True) if pair % 2 == 0
                                 else (True, False)):
                if not traced_round:
                    wall += runner.run(1)
                    continue
                tracer.install()
                ctx.tracer = tracer
                try:
                    t_wall += traced.run(1)
                finally:
                    tracer.uninstall()
                    ctx.tracer = None
    records = runner.records
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    # read before verification: the oracle (DuckDB, numpy) shares this
    # process and is not the engine's memory
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}
    heap = _jvm_heap_mb(spark)

    if args.bad_oracle:
        _corrupt_oracle(args.bad_oracle)
    failed = verify(ctx, records)
    attempted = len(records)
    if args.workload == "write_mix":
        errs = ops.write_tally_checks(ctx, conns[0])
        for e in errs:
            print(f"perfbench: FAIL write tally: {e}")
        attempted += 1
        failed += 1 if errs else 0

    if args.trace:
        failed += verify(ctx, traced.records)
        attempted += len(traced.records)
        layers, report = layer_metrics(traced.records, tracer, args.workload,
                                       wall, t_wall, ctx)

    _disconnect(server, conns)

    sc = spark.sparkContext
    env.update({
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": cpus, "load_after": [round(x, 2)
                                      for x in os.getloadavg()[:2]],
        "commit": _commit(), "source_digest": _source_digest(),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "rounds": runner.rounds_done, "ops": len(records),
        "measured_s": round(wall, 3),
        # share of CPU time the hypervisor gave to other guests while
        # measuring: a slow run on a busy host shows here
        "steal_share": round(ticks[1] / ticks[0], 4) if ticks[0] else 0.0,
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "jvm_heap_mb": {k: round(v, 1) for k, v in heap.items()},
        "op_ms": _op_ms(records),
        "setup_parts_s": {"spark_start": round(t_spark - T_ORIGIN - t_inputs,
                                               3),
                          "graph_loads": [round(x, 3) for x in loads],
                          "warmup": round(t_warm, 3)}})
    print("perfbench env: " + json.dumps(env, sort_keys=True))

    lat = [(r["t1"] - r["t0"]) * 1e3 for r in records]
    ok = sum(1 for r in records if r.get("ok"))
    if args.trace:
        metrics = layers
        _trace_report(args, tracer, report, layers, env, records)
    else:
        metrics = {
            "throughput_ops_s": (ok / wall, "ops/s"),
            "latency_p50_ms": (_pct(lat, 50), "ms"),
            "latency_p75_ms": (_pct(lat, 75), "ms"),
            "setup_s": (setup_s, "s"),
            # the pre-touched heap is resident whatever the engine uses of
            # it: count its pools' peak use instead
            "peak_rss_mb": (rss["python"] + rss["jvm"] - heap["committed"]
                            + heap["peak_used"], "MB"),
        }
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _op_ms(records) -> dict:
    """Median latency per op kind (ms), for the environment line."""
    by: dict = {}
    for r in records:
        by.setdefault(r["kind"], []).append((r["t1"] - r["t0"]) * 1e3)
    return {k: round(statistics.median(v), 1) for k, v in sorted(by.items())}


def _connect(workload: str, graph):
    """Bolt workloads: a server on an ephemeral localhost port and the
    workload's client connections. In-process workloads: one caller."""
    import ops
    if workload not in ops.BOLT_WORKLOADS:
        return None, [None]
    from bolt_client import BoltClient

    from memgraph_spark.server.bolt import serve
    server = serve(graph, "127.0.0.1", 0)
    return server, [BoltClient(server.host, server.port)
                    for _ in range(ops.BOLT_WORKLOADS[workload])]


def _disconnect(server, conns) -> None:
    for c in conns:
        if c is not None:
            c.close()
    if server is not None:
        server.stop()


def _corrupt_oracle(kind_name: str) -> None:
    """Self-test hook: make one kind's oracle return a wrong answer, so the
    run must count those ops as failures."""
    import ops
    for kinds in ops.WORKLOADS.values():
        for k in kinds:
            if k.name == kind_name:
                exp = k.expect
                k.expect = lambda ctx, p, _e=exp: _wrong(_e(ctx, p))


def _wrong(expected):
    if isinstance(expected, list):
        return expected + [("perfbench-wrong-row",)]
    if isinstance(expected, set):
        return expected | {(-1, -1)}
    return None


def _trace_report(args, tracer, report, layers, env, records) -> None:
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces",
                        f"{args.workload}-s{args.seed}-{os.getpid()}.json")
    tracer.write(path, {"env": env, "counters": report["counters"],
                        "plan_ms": report["plan_ms"],
                        "cache": report["cache"]})
    print(f"perfbench trace: spans written to {os.path.relpath(path, ROOT)}")
    print("perfbench trace: self time per module (s, traced pass):")
    for mod, s in sorted(report["self_s"].items(), key=lambda kv: -kv[1]):
        print(f"perfbench trace:   {mod:<12} {s:9.3f}")
    print("perfbench trace: spark_jobs is the union of job intervals; it "
          "overlaps the other rows")
    print(f"perfbench trace: tracing overhead "
          f"{layers['trace.overhead_ratio'][0] * 100:+.1f}% of the untraced "
          f"wall time for the same rounds")
    for k, why in sorted(missing_reasons(args.workload, records,
                                         layers).items()):
        print(f"perfbench trace: {k} = 0: {why}")


if __name__ == "__main__":
    sys.exit(main())
