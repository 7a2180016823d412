"""Operation kinds of the four workloads, each with its oracle.

A kind has four parts:
  gen(rng, ctx)          -> params (only seeded inputs reach the engine)
  run(ctx, params, conn) -> result rows, consumed the way a client does
                            (every Bolt record, or collect(); never count())
  expect(ctx, params)    -> the oracle's answer, computed after the timed
                            window: DuckDB SQL over the same parquet, numpy
                            for vectors, the write generator's own tally
  check(rows, expected)  -> None when correct, else a one-line reason

Approximate operators are judged by recall against the exact answer, with
the floors in RECALL_FLOORS.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Callable

import numpy as np

from datagen import VOCAB
from memgraph_spark.queries import ORACLES, QUERIES
from memgraph_spark.queries_algos import _B, _EDGES_CTE, _ID

RECALL_FLOORS = {"simhash": 1.0, "ann_lsh": 0.3, "ann_ivf": 0.5}
BM25_K1, BM25_B = 1.2, 0.75
PAGERANK_TOL, PAGERANK_ITER = 1e-6, 6


@dataclass
class Kind:
    name: str
    gen: Callable
    run: Callable
    expect: Callable
    check: Callable


# -- row comparison -------------------------------------------------------

def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v)
    return v


def _sort_key(row):
    return tuple((0, "") if v is None else
                 (1, v) if isinstance(v, (int, float)) else (2, str(v))
                 for v in row)


def _close(a, b, abs_tol=0.0051, rel_tol=1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=rel_tol, abs_tol=abs_tol)
    return a == b


def check_rows(rows, expected) -> str | None:
    """Order-insensitive row-bag equality; floats within 0.0051 (results
    rounded to 2 decimals on both sides may differ in the last place)."""
    got = sorted((tuple(_norm(v) for v in r) for r in rows), key=_sort_key)
    exp = sorted((tuple(_norm(v) for v in r) for r in expected),
                 key=_sort_key)
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    for g, e in zip(got, exp):
        if len(g) != len(e) or not all(_close(a, b) for a, b in zip(g, e)):
            return f"row {g} != expected {e}"
    return None


def check_topk(rows, expected, k=10, tol=1.5e-4) -> str | None:
    """Tie-robust top-k: `expected` is every (id, score) candidate. The
    engine returns min(k, candidates) rows, each with its true score, and
    none is missing that scores clearly above the lowest one returned."""
    truth = {int(i): float(s) for i, s in expected}
    got = [(int(i), float(s)) for i, s in rows]
    if len(got) != min(k, len(truth)):
        return f"{len(got)} rows, expected {min(k, len(truth))}"
    for i, s in got:
        if i not in truth or abs(truth[i] - s) > tol:
            return f"id {i} score {s} vs true {truth.get(i)}"
    floor = min((s for _, s in got), default=math.inf)
    ids = {i for i, _ in got}
    missing = [i for i, s in truth.items() if s > floor + tol and i not in ids]
    return f"missed {missing[:3]}" if missing else None


def recall_check(name: str):
    """Recall of the returned ids (or id pairs) against the exact set, with
    the floor in RECALL_FLOORS. Returned pairs must all be exact pairs."""
    def check(rows, expected) -> str | None:
        pairs = bool(rows) and isinstance(rows[0], (tuple, list))
        got = ({(int(r[0]), int(r[1])) for r in rows} if pairs
               else {int(v) for v in rows})
        if pairs and not got <= expected:
            return f"not exact pairs: {sorted(got - expected)[:3]}"
        if not expected:
            return None
        recall = len(got & expected) / len(expected)
        if recall < RECALL_FLOORS[name]:
            return f"recall {recall:.3f} < floor {RECALL_FLOORS[name]}"
        return None
    return check


# -- shared context ---------------------------------------------------------

class Ctx:
    """What ops share within one run: the engine session, the oracle's
    DuckDB connection and table sizes, and the write tally."""

    def __init__(self, spark, graph, data_dir: str):
        import duckdb
        import pyarrow.parquet as pq
        self.spark, self.dir = spark, data_dir
        self.duck = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "documents embeddings").split():
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{data_dir}/{t}.parquet')")
        self.n = {t: pq.read_metadata(f"{data_dir}/{t}.parquet").num_rows
                  for t in ("customer", "part", "orders", "documents",
                            "embeddings")}
        self._memo: dict = {}
        self._emb = None
        self.tracer = None      # set while a traced round runs
        self.reset(graph)

    def reset(self, graph) -> None:
        """Point at a freshly loaded graph: nothing written yet."""
        self.graph = graph
        self.tally = {"likes": {}, "rating": {}, "tags": set()}

    def sql(self, q: str, params: dict | None = None) -> list:
        return self.duck.execute(q, params or {}).fetchall()

    def memo(self, key, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    def emb(self) -> np.ndarray:
        if self._emb is None:
            rows = self.sql("SELECT embedding FROM embeddings ORDER BY vec_id")
            self._emb = np.array([r[0] for r in rows], dtype="float64")
        return self._emb


def _collect(ctx, df) -> list:
    """Run the op's action. A traced run keeps the frame (for its planning
    phases) and times the action as a span of its own."""
    if ctx.tracer is None:
        return [tuple(r) for r in df.collect()]
    ctx.tracer.keep_df(ctx.tracer.current_op(), df)
    with ctx.tracer.span("action.collect", "action"):
        return [tuple(r) for r in df.collect()]


# -- interactive: parameterised Cypher reads over Bolt ----------------------

def _cypher(name, cypher, sql, gen, check=check_rows) -> Kind:
    return Kind(
        name, gen,
        lambda ctx, p, conn: conn.run(cypher, p),
        lambda ctx, p: ctx.sql(sql, {k: v for k, v in p.items()
                                     if f"${k}" in sql}),
        check)


def _cust(rng, ctx):
    return {"k": rng.randrange(ctx.n["customer"])}


def _range(rng, ctx, width):
    lo = rng.randrange(ctx.n["customer"] - width)
    return lo, lo + width


def _bm25_terms(rng, ctx):
    return {"q": " ".join(rng.sample(VOCAB, 3))}


def _bm25_truth(ctx, q: str) -> list:
    terms = sorted({t for t in re.split(r"[^a-z0-9]+", q.lower()) if t})
    return ctx.sql(f"""
WITH tok AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
idx AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM tok),
tf AS (SELECT token, doc_id, dl, count(*) AS tf FROM idx GROUP BY ALL),
st AS (SELECT count(*) AS n, (SELECT avg(len(toks)) FROM tok) AS al FROM tok),
dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf
        WHERE token IN (SELECT unnest($terms)) GROUP BY token)
SELECT tf.doc_id, round(sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
       * tf.tf * {BM25_K1 + 1} / (tf.tf + {BM25_K1} * (1 - {BM25_B}
       + {BM25_B} * tf.dl / st.al))), 4) AS score
FROM tf JOIN dfq USING (token), st GROUP BY tf.doc_id""", {"terms": terms})


INTERACTIVE = [
    _cypher("point",
            "MATCH (c:Customer {key: $k}) "
            "RETURN c.name AS name, c.acctbal AS acctbal",
            "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = $k",
            _cust),
    _cypher("hop1",
            "MATCH (c:Customer {key: $k})-[:PLACED]->(o:Order) "
            "RETURN o.key AS okey, o.totalprice AS price",
            "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = $k",
            _cust),
    _cypher("hop2",
            "MATCH (c:Customer {key: $k})-[:PLACED]->(:Order)"
            "-[:CONTAINS]->(p:Part) RETURN p.key AS pkey, count(*) AS n",
            "SELECT l_partkey, count(*) FROM orders JOIN lineitem "
            "ON l_orderkey = o_orderkey WHERE o_custkey = $k GROUP BY 1",
            _cust),
    _cypher("agg_filter",
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation {key: $nk}) "
            "WHERE c.acctbal > $min RETURN c.mktsegment AS seg, "
            "count(*) AS n, avg(c.acctbal) AS avgbal",
            "SELECT c_mktsegment, count(*), avg(c_acctbal) FROM customer "
            "WHERE c_nationkey = $nk AND c_acctbal > $min GROUP BY 1",
            lambda rng, ctx: {"nk": rng.randrange(25),
                              "min": float(rng.randrange(-1000, 9000))}),
    _cypher("with_having",
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.key >= $lo AND c.key < $hi "
            "WITH c, count(o) AS n, sum(o.totalprice) AS tot "
            "WHERE n >= $m RETURN c.key AS ck, n, tot",
            "SELECT o_custkey, count(*), sum(o_totalprice) FROM orders "
            "WHERE o_custkey >= $lo AND o_custkey < $hi GROUP BY 1 "
            "HAVING count(*) >= $m",
            lambda rng, ctx: dict(zip(("lo", "hi"), _range(rng, ctx, 60)),
                                  m=rng.randrange(8, 12))),
    _cypher("optional",
            "MATCH (c:Customer) WHERE c.key >= $lo AND c.key < $hi "
            "OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.orderpriority = $pr RETURN c.key AS ck, count(o) AS n",
            "SELECT c_custkey, count(o_orderkey) FROM customer LEFT JOIN "
            "orders ON o_custkey = c_custkey AND o_orderpriority = $pr "
            "WHERE c_custkey >= $lo AND c_custkey < $hi GROUP BY 1",
            lambda rng, ctx: dict(zip(("lo", "hi"), _range(rng, ctx, 20)),
                                  pr=rng.choice(["1-URGENT", "2-HIGH",
                                                 "5-LOW"]))),
    # bag of all 1..2-hop paths out of one order: CONTAINS and SUPPLIED_BY
    # edges (one each per lineitem), then SUPPLIED_BY's supplier -> nation
    _cypher("varlen",
            "MATCH (o:Order {key: $k})-[*1..2]->(x) RETURN count(*) AS n",
            "SELECT 3 * count(*) FROM lineitem WHERE l_orderkey = $k",
            lambda rng, ctx: {"k": rng.randrange(ctx.n["orders"])}),
    Kind("text_search", _bm25_terms,
         lambda ctx, p, conn: conn.run(
             "CALL text_search.search($q, 10) YIELD doc_id, score "
             "RETURN doc_id, score", p),
         lambda ctx, p: _bm25_truth(ctx, p["q"]), check_topk),
]
_BY_NAME = {k.name: k for k in INTERACTIVE}


# -- write_mix: writes and reads 1:1 on one connection ----------------------

def _gen_edge(rng, ctx):
    return {"c": rng.randrange(ctx.n["customer"]),
            "p": rng.randrange(ctx.n["part"]),
            "w": rng.randrange(1, 100)}


def _run_edge(ctx, p, conn):
    out = conn.run("MATCH (c:Customer {key: $c}), (p:Part {key: $p}) "
                   "CREATE (c)-[:LIKES {w: $w}]->(p)", p)
    ctx.tally["likes"].setdefault(p["c"], []).append((p["p"], p["w"]))
    return out


def _run_prop(ctx, p, conn):
    out = conn.run("MATCH (p:Part {key: $p}) SET p.rating = $r", p)
    ctx.tally["rating"][p["p"]] = p["r"]
    return out


def _run_merge(ctx, p, conn):
    out = conn.run("MERGE (t:Tag {name: $name})", p)
    ctx.tally["tags"].add(p["name"])
    return out


def _gen_read_new(rng, ctx):
    written = sorted(ctx.tally["likes"])
    c = rng.choice(written) if written else rng.randrange(ctx.n["customer"])
    # the expected answer is the tally at the moment the op is generated;
    # the single writer connection runs ops in generation order
    return {"c": c, "__expect": list(ctx.tally["likes"].get(c, []))}


def _no_rows(ctx, p):
    return []


WRITE_MIX = [
    Kind("create_edge", _gen_edge, _run_edge, _no_rows, check_rows),
    Kind("set_prop",
         lambda rng, ctx: {"p": rng.randrange(ctx.n["part"]),
                           "r": rng.randrange(1, 6)},
         _run_prop, _no_rows, check_rows),
    Kind("merge_node",
         lambda rng, ctx: {"name": f"tag{rng.randrange(40)}"},
         _run_merge, _no_rows, check_rows),
    Kind("read_new_edges", _gen_read_new,
         lambda ctx, p, conn: conn.run(
             "MATCH (c:Customer {key: $c})-[r:LIKES]->(p:Part) "
             "RETURN p.key AS pk, r.w AS w", {"c": p["c"]}),
         lambda ctx, p: p["__expect"], check_rows),
    _BY_NAME["hop1"],
    _BY_NAME["varlen"],
]


def write_tally_checks(ctx, conn) -> list[str]:
    """End-of-run check of the whole graph against the generator's tally."""
    errs = []
    _, rows, _ = conn.run("MATCH (c:Customer)-[r:LIKES]->(p:Part) "
                          "RETURN c.key AS c, p.key AS p, r.w AS w", {})
    exp = [(c, p, w) for c, lst in ctx.tally["likes"].items() for p, w in lst]
    if (e := check_rows(rows, exp)):
        errs.append(f"LIKES edges: {e}")
    _, rows, _ = conn.run("MATCH (p:Part) WHERE p.rating IS NOT NULL "
                          "RETURN p.key AS p, p.rating AS r", {})
    if (e := check_rows(rows, list(ctx.tally["rating"].items()))):
        errs.append(f"ratings: {e}")
    _, rows, _ = conn.run("MATCH (t:Tag) RETURN t.name AS name", {})
    if (e := check_rows(rows, [(t,) for t in ctx.tally["tags"]])):
        errs.append(f"tags: {e}")
    return errs


# -- graph_analytics: iterative operators and algos in-process ---------------

def _ids(ctx, keys, label="Customer"):
    return ctx.spark.createDataFrame(
        [(_ID[label] + k,) for k in keys], "id long")


def _run_bfs(ctx, p, conn):
    from pyspark.sql import functions as F

    from memgraph_spark.operators import bfs
    reach = bfs(ctx.graph, _ids(ctx, [p["k"]]), etype=None,
                direction="out", max_hops=6)
    return _collect(ctx, reach.groupBy("dist").agg(F.count("*").alias("n")))


def _expect_bfs(ctx, p):
    return ctx.sql(f"""
WITH RECURSIVE {_EDGES_CTE},
reach(id, dist) AS (
  SELECT {_ID['Customer']}::BIGINT + $k, 0
  UNION SELECT e.dst, r.dist + 1 FROM reach r
  JOIN dedup_edges e ON e.src = r.id WHERE r.dist < 6)
SELECT dist, count(*) FROM (SELECT id, min(dist) AS dist FROM reach
GROUP BY id) GROUP BY dist""", {"k": p["k"]})


def _two_custs(rng, ctx):
    return {"ks": rng.sample(range(ctx.n["customer"]), 2)}


def _run_wsp(ctx, p, conn):
    from pyspark.sql import functions as F

    from memgraph_spark.operators import weighted_shortest_path
    g = ctx.graph
    edges = g.edge("PLACED").select("src", "dst", F.lit(1.0).alias("w")) \
        .unionByName(g.edge("CONTAINS").select(
            "src", "dst", F.col("quantity").cast("double").alias("w")))
    dist = weighted_shortest_path(g, _ids(ctx, p["ks"]), None, "w",
                                  edges_df=edges)
    parts = dist.filter(F.col("id").between(_ID["Part"], _ID["Part"] + _B - 1))
    return _collect(ctx, parts.select(
        (F.col("start") - F.lit(_ID["Customer"])).alias("ck"),
        (F.col("id") - F.lit(_ID["Part"])).alias("pk"),
        F.col("cost")))


def _expect_wsp(ctx, p):
    return ctx.sql("""
SELECT o_custkey, l_partkey, 1 + min(l_quantity) FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_custkey IN (SELECT unnest($ks)) GROUP BY 1, 2""", {"ks": p["ks"]})


def _run_var_expand(ctx, p, conn):
    from pyspark.sql import functions as F

    from memgraph_spark.operators import expand_variable
    c = _ids(ctx, p["ks"]).select(F.col("id").alias("c_id"))
    paths = expand_variable(c, ctx.graph, None, "c", "x", lower=1, upper=2,
                            direction="out", depth_col="depth")
    return _collect(ctx, paths.groupBy("c_id", "depth").agg(F.count("*"))
                    .select((F.col("c_id") - F.lit(_ID["Customer"])),
                            "depth", "count(1)"))


def _expect_var_expand(ctx, p):
    return ctx.sql(f"""
WITH {_EDGES_CTE},
h1 AS (SELECT src - {_ID['Customer']}::BIGINT AS ck, dst FROM edges
       WHERE src IN (SELECT {_ID['Customer']}::BIGINT + unnest($ks))),
h2 AS (SELECT h1.ck, e.dst FROM h1 JOIN edges e ON e.src = h1.dst)
SELECT ck, 1, count(*) FROM h1 GROUP BY ck
UNION ALL SELECT ck, 2, count(*) FROM h2 GROUP BY ck""", {"ks": p["ks"]})


def _registry(name: str, kind: str | None = None, expect=None,
              check=check_rows) -> Kind:
    """A query-registry entry run as-is over the seeded tables. Its oracle
    is the registry's own DuckDB SQL (over the same table names as the Ctx
    views), unless the kind brings one of its own."""
    def run(ctx, p, conn):
        return _collect(ctx, QUERIES[name](ctx.spark, ctx.dir))
    if expect is None:
        def expect(ctx, p):
            return ctx.memo(name, lambda: ctx.sql(ORACLES[name]))
    return Kind(kind or name, lambda rng, ctx: {}, run, expect, check)


def _run_pagerank(ctx, p, conn):
    from memgraph_spark.algos import pagerank
    return _collect(ctx, pagerank(ctx.graph.adjacency(None, "out"),
                             damping=p["d"], max_iter=PAGERANK_ITER,
                             tol=PAGERANK_TOL))


def _expect_pagerank(ctx, p):
    """The same power iteration in numpy: uniform start, dangling mass
    spread evenly, stop when the L1 change drops below the tolerance or
    after the same number of rounds."""
    src, dst = map(np.array, zip(*ctx.sql(
        f"WITH {_EDGES_CTE} SELECT src, dst FROM dedup_edges")))
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, t = inv[:len(src)], inv[len(src):]
    n, d = len(ids), p["d"]
    deg = np.bincount(s, minlength=n).astype(float)
    r, delta = np.full(n, 1.0 / n), 1.0
    for _ in range(PAGERANK_ITER):
        if delta < PAGERANK_TOL:
            break
        recv = np.bincount(t, weights=r[s] / deg[s], minlength=n)
        nr = (1 - d) / n + d * (recv + r[deg == 0].sum() / n)
        delta, r = np.abs(nr - r).sum(), nr
    return {int(i): float(v) for i, v in zip(ids, r)}


def _check_pagerank(rows, expected):
    if len(rows) != len(expected):
        return f"{len(rows)} ranks, expected {len(expected)}"
    worst = max(abs(float(v) - expected.get(int(i), -1.0)) for i, v in rows)
    return None if worst * len(expected) < 1e-6 else f"rank off by {worst:.2e}"


GRAPH_ANALYTICS = [
    Kind("bfs", _cust, _run_bfs, _expect_bfs, check_rows),
    Kind("weighted_shortest", _two_custs, _run_wsp, _expect_wsp, check_rows),
    Kind("var_expand", _two_custs, _run_var_expand, _expect_var_expand,
         check_rows),
    _registry("algo_wcc"),
    _registry("algo_topo_layers"),
    _registry("algo_katz"),
    Kind("pagerank", lambda rng, ctx: {"d": rng.choice([0.8, 0.85, 0.9])},
         _run_pagerank, _expect_pagerank, _check_pagerank),
]


# -- llm_pipeline: dedup, similarity and text operators in-process ----------

def _docs(ctx):
    return ctx.graph.tables["documents"]


def _embs(ctx):
    return ctx.graph.tables["embeddings"]


def _qvec(ctx, qid):
    return [float(v) for v in ctx.emb()[qid]]


def _run_minhash(ctx, p, conn):
    from memgraph_spark.llm import minhash_lsh_pairs
    return _collect(ctx, minhash_lsh_pairs(_docs(ctx), threshold=p["t"]))


def _expect_minhash(ctx, p):
    return ctx.sql("""
WITH sh AS (SELECT doc_id, list_distinct(list_transform(
              range(1, length(text) - 3), i -> text[i:i + 4])) AS s
            FROM documents WHERE length(text) >= 5),
pr AS (SELECT a.doc_id AS x, b.doc_id AS y, len(list_intersect(a.s, b.s))
              AS i, len(a.s) + len(b.s) AS u FROM sh a JOIN sh b
       ON a.doc_id < b.doc_id)
SELECT x, y, round(i::DOUBLE / (u - i), 4) FROM pr
WHERE i::DOUBLE / (u - i) >= $t""", {"t": p["t"]})


def _run_simhash(ctx, p, conn):
    from memgraph_spark.llm import simhash_near_pairs
    return _collect(ctx, simhash_near_pairs(_docs(ctx)))


def _expect_simhash(ctx, p):
    """All pairs within hamming 3 of the engine's own SimHash signatures,
    by brute force: the recall check then judges the candidate banding."""
    def exact():
        from pyspark.sql import functions as F

        from memgraph_spark.llm.dedup import simhash
        rows = _docs(ctx).select("doc_id", simhash(F.col("text"))).collect()
        ids = np.array([r[0] for r in rows])
        sig = np.array([r[1] for r in rows], dtype="int64").view("uint64")
        out = set()
        for i in range(len(ids)):
            x = np.bitwise_xor(sig[i], sig[i + 1:])
            ham = np.unpackbits(x.view("uint8").reshape(-1, 8), axis=1) \
                .sum(axis=1)
            for j in np.nonzero(ham <= 3)[0]:
                a, b = ids[i], ids[i + 1 + j]
                out.add((int(min(a, b)), int(max(a, b))))
        return out
    return ctx.memo("simhash", exact)


def _exact_topk_ids(ctx, p, k=10):
    qid = p["qid"]
    e = ctx.emb()
    sims = np.round(e @ e[qid] / (np.linalg.norm(e, axis=1)
                                  * np.linalg.norm(e[qid])), 4)
    sims[qid] = -np.inf
    order = np.lexsort((np.arange(len(sims)), -sims))
    return {int(i) for i in order[:k]}


def _gen_qid(rng, ctx):
    return {"qid": rng.randrange(ctx.n["embeddings"])}


def _run_lsh(ctx, p, conn):
    from pyspark.sql import functions as F

    from memgraph_spark.llm import lsh_bucket_topk
    emb = _embs(ctx).filter(F.col("vec_id") != p["qid"])
    return [r[0] for r in _collect(
        ctx, lsh_bucket_topk(emb, _qvec(ctx, p["qid"]), k=10))]


def _run_ivf(ctx, p, conn):
    from pyspark.sql import functions as F

    from memgraph_spark.llm.similarity import ivf_topk
    emb = _embs(ctx).filter(F.col("vec_id") != p["qid"])
    return [r[0] for r in _collect(ctx, ivf_topk(
        emb, _qvec(ctx, p["qid"]), k=10, n_lists=8, n_probe=3,
        n_rows=ctx.n["embeddings"] - 1))]


def _expect_knn(ctx, p):
    def exact():
        e = ctx.emb()
        e = e / np.linalg.norm(e, axis=1, keepdims=True)
        s = np.round(e @ e.T, 4)
        np.fill_diagonal(s, -np.inf)
        return s
    return ctx.memo("knn", exact)


def _check_knn(rows, sims):
    if len(rows) != len(sims):
        return f"{len(rows)} rows, expected {len(sims)}"
    for node, nb, sim in rows:
        best = sims[node].max()
        if abs(sims[node, nb] - best) > 1.5e-4 or abs(sim - best) > 1.5e-4:
            return f"node {node}: neighbour {nb} ({sim}) but best is {best}"
    return None


def _run_fingerprint(ctx, p, conn):
    from pyspark.sql import functions as F

    from memgraph_spark.llm.textstats import fingerprint_exact
    mod = 1_000_000_007
    docs = _docs(ctx).filter(F.col("doc_id") % 2 == p["half"])
    fp = fingerprint_exact(docs, mod=mod)
    return _collect(ctx, fp.select(
        "doc_id", F.size("fingerprints"), F.array_min("fingerprints"),
        F.array_max("fingerprints"),
        F.pmod(F.aggregate("fingerprints", F.lit(0).cast("long"),
                           lambda a, v: a + v), F.lit(mod))))


def _expect_fingerprint(ctx, p):
    # 7-gram polynomial hash (base 31) mod p, winnowed over windows of 4
    return ctx.sql("""
WITH g AS (SELECT doc_id, CASE WHEN length(text) >= 7 THEN
    list_transform(generate_series(1, length(text) - 6), i ->
      (ascii(text[i])::BIGINT * 887503681 + ascii(text[i+1])::BIGINT
       * 28629151 + ascii(text[i+2])::BIGINT * 923521 + ascii(text[i+3])
       ::BIGINT * 29791 + ascii(text[i+4])::BIGINT * 961
       + ascii(text[i+5])::BIGINT * 31 + ascii(text[i+6])::BIGINT)
      % 1000000007) ELSE CAST([] AS BIGINT[]) END AS g
  FROM documents WHERE doc_id % 2 = $half),
f AS (SELECT doc_id, CASE WHEN len(g) >= 4 THEN list_distinct(
    list_transform(generate_series(1, len(g) - 3), i -> list_min(g[i:i+3])))
  ELSE list_distinct(g) END AS fp FROM g)
SELECT doc_id, len(fp), list_min(fp), list_max(fp),
       (list_aggregate(fp, 'sum') % 1000000007)::BIGINT FROM f""",
                   {"half": p["half"]})


def _run_bm25(ctx, p, conn):
    from memgraph_spark.search import bm25_search
    idx, stats = ctx.graph.text_index("documents")
    return _collect(ctx, bm25_search(_docs(ctx), p["q"], k=10, index=idx,
                                stats=stats))


LLM_PIPELINE = [
    Kind("minhash", lambda rng, ctx: {"t": rng.choice([0.7, 0.8, 0.9])},
         _run_minhash, _expect_minhash, check_rows),
    Kind("simhash", lambda rng, ctx: {}, _run_simhash, _expect_simhash,
         recall_check("simhash")),
    Kind("ann_lsh", _gen_qid, _run_lsh, _exact_topk_ids,
         recall_check("ann_lsh")),
    Kind("ann_ivf", _gen_qid, _run_ivf, _exact_topk_ids,
         recall_check("ann_ivf")),
    # tie-robust: any neighbour of the best similarity is right
    _registry("algo_knn", "knn", _expect_knn, _check_knn),
    Kind("fingerprint_exact", lambda rng, ctx: {"half": rng.randrange(2)},
         _run_fingerprint, _expect_fingerprint, check_rows),
    Kind("bm25", _bm25_terms, _run_bm25,
         lambda ctx, p: _bm25_truth(ctx, p["q"]), check_topk),
]

WORKLOADS: dict[str, list[Kind]] = {
    "interactive": INTERACTIVE,
    "write_mix": WRITE_MIX,
    "graph_analytics": GRAPH_ANALYTICS,
    "llm_pipeline": LLM_PIPELINE,
}
BOLT_WORKLOADS = {"interactive": 2, "write_mix": 1}
# seconds one round takes on a 4-core box at sf=0.01. A run does a fixed
# number of rounds, the whole number nearest to --seconds / this (at least
# one): the same work on every commit, and a run length that fits the budget
ROUND_SECONDS = {"interactive": 5.0, "write_mix": 7.0,
                 "graph_analytics": 11.0, "llm_pipeline": 10.0}


def rounds_for(workload: str, seconds: float) -> int:
    return max(1, int(seconds / ROUND_SECONDS[workload] + 0.5))


def warm_caches(workload: str, graph) -> None:
    """Build the catalog caches the workload's ops share: the all-types
    adjacency (iterative operators), the eid-carrying edge list
    (variable-length expansion) and the documents' BM25 index."""
    if workload in ("graph_analytics", "llm_pipeline"):
        graph.adjacency(None, "out").count()
    graph.eid_edges(None, "out").count()
    if workload in ("interactive", "llm_pipeline"):
        graph.text_index("documents")


def drop_caches(graph) -> None:
    """Unpersist the adjacency and eid edge lists one graph has cached."""
    for cache in (graph._adj_cache, graph._eid_cache):
        for df in cache.values():
            df.unpersist()
        cache.clear()


def layer_kinds(workload: str, benchmarked) -> list[str]:
    """Op kinds a traced run reports: those of the workloads BENCHMARK.json
    runs (its per-layer list names them), then the workload's own."""
    seen: list[str] = []
    for name in (*benchmarked, workload):
        seen += [k.name for k in WORKLOADS[name] if k.name not in seen]
    return seen


def public_params(p: dict) -> dict:
    return {k: v for k, v in p.items() if not k.startswith("__")}

