"""SparkSession factory tuned for the test/bench environment.

local[N] single-JVM mode for tests; on a real cluster the same code runs
unchanged — all parallelism is expressed via DataFrame partitioning, never
driver-side loops over collect().
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def free_checkpoint(df) -> None:
    """Release the cached blocks behind an eager localCheckpoint DataFrame.

    Iterative operators (BFS / Bellman-Ford / PageRank / Katz / label
    propagation ...) localCheckpoint every round to cut lineage. Spark only
    frees those blocks when the RDD is garbage-collected on the driver, so a
    10-round loop retains 10 generations of frontier blocks — enough storage
    pressure to evict the shared adjacency cache and stall every later
    query. Call this on round N-1's checkpoint once round N's checkpoint is
    materialized. The DataFrame must not be used afterwards.

    No-op for non-checkpointed frames (analyzed plan isn't a LogicalRDD).
    """
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getName().endswith("LogicalRDD"):
            analyzed.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leaked block is a perf bug, not a correctness one


def checkpoint_with_metrics(df, **aggs):
    """Eager localCheckpoint returning (checkpointed_df, metrics) where the
    metrics (name -> aggregate Column) are computed DURING the checkpoint's
    materialization job via Dataset.observe — the row count / convergence
    probe that iterative loops need each round comes for free instead of as
    a second job over the cached blocks."""
    from pyspark.sql import Observation
    obs = Observation()
    ck = df.observe(obs, *[c.alias(n) for n, c in aggs.items()]) \
           .localCheckpoint(eager=True)
    return ck, obs.get


def persist_if_needed(df):
    """Persist `df` unless an equivalent plan is already cached.

    Spark's CacheManager matches cached entries by plan equivalence
    (sameResult), so persisting a no-op projection of an already-cached
    frame reuses the existing entry — and unpersisting it REMOVES that
    shared entry. An algorithm that persists its input edge list and
    unpersists it on exit would silently kill the catalog's shared
    adjacency cache whenever the input derives from it. Returns
    (df, release) where release() unpersists only if this call persisted.
    """
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df, (lambda: None)
    p = df.persist()
    return p, (lambda: p.unpersist())


def get_spark(app_name: str = "memgraph-spark", cpus: int | str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # match local cores; AQE coalesces small post-shuffle partitions anyway
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep Spark's default parallelismFirst=true: AQE coalesces small
        # shuffles down to minPartitionSize while never starving cores.
        # `false` (advisory-byte sizing) was tried for a round and REVERTED
        # on measurement: it coalesces the 10-200 MB shuffles of 10x-data
        # suites to 1-3 partitions and serializes real compute (pokec hot
        # passes 1.4-2.4x slower, sf1 total ~4x) while a pinned-worktree
        # A/B showed no clean win on the sf0.1 iterative loops either —
        # a local-only tune and a scale-killer, exactly what the guide's
        # §1.2 step-3 warning is about. Env-overridable for A/B only.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no call-site capture: with it on, every DataFrame/Column call
        # pays about 5 py4j round trips and a Python stack walk, all under
        # the GIL, to tag plan nodes for error messages. A Cypher compile
        # makes hundreds of such calls, and concurrent compiles contend
        # on exactly this work.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
