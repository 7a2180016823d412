"""Self-test of the benchmark on tiny tables (sf=0.001), one round per run.

    python3 perfbench/selftest.py

Checks four things and exits non-zero if any fails:
  1. every metric BENCHMARK.json names is printed, with its unit
     (end-to-end metrics untraced, per-layer metrics traced);
  2. no op fails on the tiny tables;
  3. the same seed gives byte-identical inputs (tables and op parameters)
     and a different seed gives different ones;
  4. a deliberately wrong expected answer is counted as a failure.
Takes a few minutes: each of the five runs starts its own Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.001


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "0", "--trace", str(trace),
           "--sf", str(SF), *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines:
        raise AssertionError(f"{workload}: exit {out.returncode}\n"
                             f"{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def _inputs_digest(seed: int) -> str:
    """Hash of the generated tables plus three rounds of every workload's
    op parameters (drawn as the runner draws them)."""
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import datagen
    import ops

    h = hashlib.sha256(datagen.fingerprint(seed, SF).encode())
    tables = datagen.tables(seed, SF)

    class _Sizes:
        n = {t: tables[t].num_rows for t in
             ("customer", "part", "orders", "documents", "embeddings")}
        tally = {"likes": {}, "rating": {}, "tags": set()}

    for name, kinds in ops.WORKLOADS.items():
        for conn in range(ops.BOLT_WORKLOADS.get(name, 1)):
            rng = random.Random(f"{seed}:m:{conn}")
            for _ in range(3):
                order = list(kinds)
                rng.shuffle(order)
                for k in order:
                    p = ops.public_params(k.gen(rng, _Sizes))
                    h.update(json.dumps([k.name, p], sort_keys=True)
                             .encode())
    return h.hexdigest()


def main() -> int:
    spec = _bench_spec()
    problems = []

    if _inputs_digest(1) != _inputs_digest(1):
        problems.append("same seed gave different inputs")
    if _inputs_digest(1) == _inputs_digest(2):
        problems.append("different seeds gave the same inputs")

    want = {"e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    benchmarked = {w["name"] for w in spec["workloads"]}
    # every workload runs, traced or not; write_mix and llm_pipeline are
    # not in BENCHMARK.json, and their traced runs add their own op kinds
    plan = [("interactive", 0), ("write_mix", 1), ("graph_analytics", 1),
            ("llm_pipeline", 0)]
    for workload, trace in plan:
        res = _run(workload, trace)
        expect = want["layer" if trace else "e2e"]
        got = {k: v.get("unit") for k, v in res["metrics"].items()}
        missing = sorted(set(expect) - set(got))
        extra = sorted(set(got) - set(expect))
        units = [k for k in expect if k in got and got[k] != expect[k]]
        if missing or units or (extra and workload in benchmarked):
            problems.append(f"{workload} trace={trace}: metrics differ: "
                            f"missing {missing}, extra {extra}, "
                            f"units {units}")
        if res["failed"] or not res["correct"]:
            problems.append(f"{workload}: {res['failed']} of "
                            f"{res['attempted']} ops failed")
        print(f"selftest: {workload} trace={trace}: {res['attempted']} ops, "
              f"{res['failed']} failed")

    bad = _run("interactive", 0, "--bad-oracle", "point")
    if bad["correct"] or bad["failed"] < 1:
        problems.append("a wrong expected answer was not counted as failed")
    print(f"selftest: wrong oracle for 'point': {bad['failed']} failed")

    for p in problems:
        print(f"selftest: FAIL {p}")
    print("selftest: ok" if not problems else "selftest: FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
