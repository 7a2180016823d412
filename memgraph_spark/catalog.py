"""Graph catalog: the property-graph data model on columnar DataFrames.

Reference data model (SURVEY.md §1): vertices with label sets + packed property
stores in skip lists (src/storage/v2/vertex.hpp:29-41), edges stored in both
endpoints (src/storage/v2/vertex.hpp:29-30). We invert the layout: the graph is
a set of *typed columnar tables* — one DataFrame per node label and one per
edge type — which is what Parquet/Catalyst optimize (pushdown, pruning, stats).

Node ids are globally unique int64: (label_code << KEY_BITS) | natural_key.
With KEY_BITS=56 this supports 127 labels x 7.2e16 keys — enough for 100 TB
scale (TPC-H sf100k orderkeys ~6e12). The id is a pure column expression, so
it never forces a shuffle and both endpoints of an edge can be derived from
the source fact table scan.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEY_BITS = 56

# Stable label -> code registry for the built-in tpch graph (FIXTURES.md §1).
LABEL_CODES = {
    "Region": 1,
    "Nation": 2,
    "Customer": 3,
    "Supplier": 4,
    "Part": 5,
    "Order": 6,
    "Document": 7,
}

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_label(label: str) -> int:
    """Dynamic label registry (reference: NameIdMapper,
    src/storage/v2/name_id_mapper.hpp — names interned to ids on first use)."""
    if label not in LABEL_CODES:
        LABEL_CODES[label] = max(LABEL_CODES.values()) + 1
    return LABEL_CODES[label]


def node_id(label: str, key_col) -> F.Column:
    """Global node id as a column expression (no lookup table, no shuffle)."""
    code = register_label(label)
    return (F.lit(code * (1 << KEY_BITS)) + key_col.cast("long")).alias("id")


class ReadWriteLock:
    """Writer-preferring shared/exclusive lock.

    Readers share it; a writer waits for the readers in flight, and while a
    writer waits, newly arriving readers queue behind it, so a stream of
    reads cannot starve a write. Not reentrant."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    @contextmanager
    def shared(self):
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if not self._readers:
                    self._cond.notify_all()

    @contextmanager
    def exclusive(self):
        with self._cond:
            self._writers_waiting += 1
            while self._writer or self._readers:
                self._cond.wait()
            self._writers_waiting -= 1
            self._writer = True
        try:
            yield
        finally:
            with self._cond:
                self._writer = False
                self._cond.notify_all()


@dataclass
class PropertyGraph:
    """A property graph = per-label node tables + per-type edge tables.

    Equivalent surface to the reference's Storage (vertices+edges in skip
    lists) but columnar: every node DF has an ``id`` column plus typed
    property columns; every edge DF has ``src``, ``dst`` plus typed property
    columns. Cross-label scans union the per-label tables lazily.
    """

    spark: SparkSession
    nodes: dict[str, DataFrame] = field(default_factory=dict)
    edges: dict[str, DataFrame] = field(default_factory=dict)
    # extra non-graph tables (documents/embeddings/events base tables etc.)
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # persisted (src,dst) adjacency, shared by all iterative traversals
    _adj_cache: dict = field(default_factory=dict, repr=False)
    # (etype, end) -> (label, df): single-scan edge+node views for edges
    # minted from the node's own fact table (one orders row IS one Order
    # node AND one PLACED edge). df carries the edge table's exact columns
    # (src, dst, eid, props) plus the end node's property columns as
    # __n_<prop>; expand-then-attach reads the node properties from this
    # one scan instead of joining the node table back on id — at 100 TB
    # that join is a full second scan plus a shuffle/broadcast of the fact
    # table. Invalidated whenever either side gets a new version.
    co_scan: dict = field(default_factory=dict, repr=False)
    # (etype, end) -> label: static guarantee that EVERY <end> id of the
    # edge type references an existing node of exactly that label (parquet
    # FK-minted edges; the id namespace encodes the label). Lets the
    # compiler skip the target-attach join for anonymous patterns — the
    # inner join would be a no-op filter. Invalidated like co_scan
    # whenever either side gets a new version; never populated for
    # constructor-built graphs.
    endpoint_labels: dict = field(default_factory=dict, repr=False)
    # persisted eid-carrying oriented edge tables (expand_variable & friends)
    _eid_cache: dict = field(default_factory=dict, repr=False)
    # (id, label) rows for labels added by SET n:Label (multi-label support
    # on top of the per-label table layout)
    extra_labels: DataFrame | None = None
    # monotone write-batch counter: salts created-edge eids so two write
    # batches can never mint the same edge identity
    write_epoch: int = 0
    # labels whose table may hold ids NOT following the (code << KEY_BITS)
    # scheme: user-supplied table swaps and cross-table label moves land
    # here; SET's per-label pruning must probe these instead of code-testing
    _mixed_id_labels: set = field(default_factory=set, repr=False)
    # admission of whole statements: read-only ones share it, everything
    # else runs alone (the Bolt server takes it around each RUN's compile)
    run_lock: ReadWriteLock = field(default_factory=ReadWriteLock,
                                    repr=False, compare=False)
    # single-flight for the lazy caches below: concurrent readers must not
    # both build and persist the same frame. Reentrant, because one build
    # may read another cache (adjacency_vertices builds through adjacency).
    _cache_lock: threading.RLock = field(default_factory=threading.RLock,
                                         repr=False, compare=False)

    def __post_init__(self) -> None:
        # constructor-supplied node tables carry arbitrary ids (the Bolt
        # fixture graphs do) — they take the probe path in property updates.
        # load_tpch_graph assigns pure engine-minted tables directly to
        # .nodes AFTER construction, so it keeps the code fast path.
        self._mixed_id_labels.update(self.nodes)

    def next_epoch(self) -> int:
        self.write_epoch += 1
        return self.write_epoch

    # cached per-label row counts (ANALYZE GRAPH parity — the planner's
    # vertex_count_cache, src/query/plan/vertex_count_cache.hpp)
    _count_cache: dict = field(default_factory=dict, repr=False)
    # measured degree stats: etype|None -> (max_degree, total_edge_ends).
    # Populated by ANALYZE GRAPH or measure_degree_hint (stats are opt-in,
    # like the reference's label_property_index_stats); consulted by
    # hot-key aggregation routing (operators.aggregate.rollup_collect).
    # Invalidated on edge writes alongside the adjacency cache.
    degree_hint: dict = field(default_factory=dict, repr=False)
    # built text indexes: (table, id_col, text_col) -> (index_df, n_docs,
    # avg_len). Parity with the reference's persistent tantivy index
    # (src/storage/v2/indices/text_index.hpp:37): built once at CREATE TEXT
    # INDEX / first search, queried hot afterwards.
    _text_index_cache: dict = field(default_factory=dict, repr=False)

    def text_index(self, table: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text"):
        from memgraph_spark.search.text_index import (
            build_text_index, index_stats)
        key = (table, id_col, text_col)
        with self._cache_lock:
            if key not in self._text_index_cache:
                df = self.tables[table]
                idx = build_text_index(df, id_col, text_col) \
                    .localCheckpoint(eager=True)
                self._text_index_cache[key] = (idx, index_stats(df, idx))
            return self._text_index_cache[key]

    def label_count(self, label: str) -> int:
        with self._cache_lock:
            if label not in self._count_cache:
                self._count_cache[label] = self.nodes[label].count()
            return self._count_cache[label]

    def total_node_count(self) -> int:
        return sum(self.label_count(lbl) for lbl in self.nodes)

    # -- versioned writes (SURVEY §1.2: batch-append snapshot semantics; the
    # -- reference's MVCC delta chains become immutable table versions) ------
    def set_node_version(self, label: str, df: DataFrame,
                         keys_allocated: bool = False,
                         id_scheme_preserved: bool = False) -> None:
        self.nodes[label] = self._maybe_consolidate(
            "_node_vers", label, df)
        # a new node version breaks the edge<->node single-scan equivalence
        for key in [k for k in self.co_scan if self.co_scan[k][0] == label]:
            del self.co_scan[key]
        # ... and the FK endpoint guarantee (a swapped table may drop rows)
        for key in [k for k in self.endpoint_labels
                    if self.endpoint_labels[k] == label]:
            del self.endpoint_labels[key]
        if not keys_allocated:
            # an external table swap may introduce arbitrary keys — the
            # in-memory allocator must re-derive its base from the data
            getattr(self, "_key_seq", {}).pop(label, None)
        if not id_scheme_preserved:
            # arbitrary swaps may introduce ids that don't follow the
            # (label_code << KEY_BITS) scheme — property updates must then
            # probe this table instead of pruning by id-derived code
            self._mixed_id_labels.add(label)

    def alloc_node_keys(self, label: str, n: int) -> int:
        """Allocate n consecutive node keys for a label from an in-memory
        counter (storage NameIdMapper-style). Seeded once from the table's
        max key; avoids a per-CREATE aggregate over an ever-deeper union
        chain (one CREATE-heavy statement runs hundreds of allocations)."""
        if not hasattr(self, "_key_seq"):
            self._key_seq = {}
        seq = self._key_seq.get(label)
        if seq is None:
            existing = self.nodes.get(label)
            if existing is None:
                seq = 0
            else:
                row = existing.agg(
                    F.max(F.col("id") % (1 << KEY_BITS))).first()
                seq = (row[0] if row[0] is not None else -1) + 1
        self._key_seq[label] = seq + n
        return seq

    def set_edge_version(self, etype: str, df: DataFrame,
                         ids_allocated: bool = False) -> None:
        self.edges[etype] = self._maybe_consolidate(
            "_edge_vers", etype, df)
        if not ids_allocated:
            # an external table swap may introduce arbitrary eids — the
            # in-memory eid allocator must re-derive its base from the data
            self._eid_seq = None
        for cache in (self._adj_cache, self._eid_cache):
            for key, cached in list(cache.items()):
                if key[0] in (etype, None):
                    cached.unpersist()
                    del cache[key]
        for key in (etype, None):
            self.degree_hint.pop(key, None)
        # a new edge version breaks the edge<->node single-scan equivalence
        for key in [k for k in self.co_scan if k[0] == etype]:
            del self.co_scan[key]
        # ... and the FK endpoint guarantee (created edges carry user dsts)
        for key in [k for k in self.endpoint_labels if k[0] == etype]:
            del self.endpoint_labels[key]

    def alloc_edge_ids(self, n: int) -> int:
        """Allocate n consecutive edge ids from an in-memory counter
        (storage edge-gid counter parity, storage.hpp edge_id_). Seeded
        from max(eid) across ALL edge tables: user-supplied edge
        DataFrames carry arbitrary eids, and eid is the global join key
        for edge SET/DELETE — starting at 0 would silently update or
        delete unrelated edges on collision."""
        if getattr(self, "_eid_seq", None) is None:
            mx = -1
            for df in self.edges.values():
                if "eid" in df.columns:
                    row = df.agg(F.max("eid")).first()
                    if row[0] is not None:
                        mx = max(mx, int(row[0]))
            self._eid_seq = mx + 1
        base = self._eid_seq
        self._eid_seq = base + n
        return base

    def _maybe_consolidate(self, attr: str, key: str,
                           df: DataFrame) -> DataFrame:
        """Bound the union-chain depth of versioned tables: every 12th
        version localCheckpoints the table, so a statement with hundreds of
        CREATE clauses keeps O(1)-deep plans instead of an O(N) union (the
        same flat-lineage rule the iterative operators follow)."""
        if not hasattr(self, "_ver_counts"):
            self._ver_counts = {}
        k = (attr, key)
        c = self._ver_counts.get(k, 0) + 1
        self._ver_counts[k] = c
        if c % 12 == 0:
            try:
                return df.localCheckpoint(eager=True)
            except Exception:  # noqa: BLE001 — keep the lazy plan on failure
                return df
        return df

    def set_extra_labels(self, df: DataFrame | None) -> None:
        self.extra_labels = df
        self._extra_names = None

    def extra_label_names(self) -> set:
        """Distinct SET-added label names (cached per version) — lets label
        scans keep the per-label fast path for untouched labels."""
        if self.extra_labels is None:
            return set()
        if getattr(self, "_extra_names", None) is None:
            self._extra_names = {r[0] for r in self.extra_labels
                                 .select("label").distinct().collect()}
        return self._extra_names

    def eid_edges(self, etype: str | None, direction: str) -> DataFrame:
        """Persisted oriented edge table carrying (eid, fwd) — the shared
        input of expand_variable/named-path traversals (built once per
        (etype, direction), invalidated on writes, like `adjacency`)."""
        key = (etype, direction)
        with self._cache_lock:
            if key not in self._eid_cache:
                from memgraph_spark.operators.expand import _edges_with_eid
                self._eid_cache[key] = _edges_with_eid(
                    self, etype, direction).persist()
            return self._eid_cache[key]

    def adjacency(self, etype: str | None, direction: str = "out") -> DataFrame:
        """Deduped, persisted (src, dst) list oriented for traversal —
        the shared 'adjacency index' every iterative operator re-joins.
        Materialized once per (etype, direction); reused across queries."""
        key = (etype, direction)
        with self._cache_lock:
            if key not in self._adj_cache:
                edges = self.edge(etype) if etype else self.all_edges()
                out = edges.select("src", "dst")
                inn = edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))
                df = {"out": out, "in": inn}.get(direction,
                                                 out.unionAll(inn))
                # hash(src) layout at no extra cost: HashPartitioning(src)
                # satisfies the dedup aggregate's ClusteredDistribution(src,
                # dst), so the dedup rides this single exchange — and every
                # frontier join on src past the broadcast fence reuses the
                # cached layout instead of re-shuffling the O(E) frame per
                # round (measured 0.57x on the 5M-edge skew graph for WCC's
                # identical join shape).
                self._adj_cache[key] = df.repartition("src") \
                    .dropDuplicates().persist()
            return self._adj_cache[key]

    def adjacency_vertices(self, etype: str | None = None,
                           direction: str = "out") -> DataFrame:
        """Distinct (id) endpoint set of adjacency(etype, direction) —
        persisted alongside it (same invalidation), so iterative algorithms
        stop re-deduplicating 2x|E| rows per call.

        Key shape: etype FIRST — set_edge_version's invalidation filter is
        `key[0] in (etype, None)`, so any other arrangement would leave a
        permanently stale vertex set after the first edge write."""
        key = (etype, "__verts__", direction)
        with self._cache_lock:
            if key not in self._adj_cache:
                adj = self.adjacency(etype, direction)
                self._adj_cache[key] = (
                    adj.select(F.col("src").alias("id"))
                    .unionAll(adj.select(F.col("dst").alias("id")))
                    .dropDuplicates().persist())
            return self._adj_cache[key]

    # -- schema surface (SHOW SCHEMA INFO parity: schema is observed) -------
    def labels(self) -> list[str]:
        return sorted(lbl for lbl in self.nodes if lbl)

    def edge_types(self) -> list[str]:
        return sorted(self.edges)

    def node(self, label: str) -> DataFrame:
        """ScanAllByLabel: per-label table scan (the 'label index' is the
        table layout itself — SURVEY §2.1)."""
        return self.nodes[label]

    def edge(self, etype: str) -> DataFrame:
        if etype not in self.edges:
            # a type no edge has matches nothing (MATCH over :NEVER_SEEN
            # is empty, not an error — MatchAcceptance2 "Variable length
            # patterns and nulls")
            return self.spark.createDataFrame(
                [], "src BIGINT, dst BIGINT, eid BIGINT")
        return self.edges[etype]

    def all_nodes(self, properties: list[str] | None = None) -> DataFrame:
        """ScanAll: union of all label tables on (id, labels, shared props).

        Only the requested property columns are carried (column pruning
        survives the union); missing ones are null — the reference's
        schemaless 'any vertex, any property' semantics.
        """
        properties = properties or []
        # reconcile per-property types ACROSS label tables before the union
        # (schemaless: :TextNode {id: 'text'} + :IntNode {id: 0} — Spark's
        # union coercion would cast the string side to bigint and blow up
        # at plan time; conflicting categories lift to the variant struct,
        # int-vs-float keeps per-value typing the same way)
        from pyspark.sql import types as T
        from memgraph_spark.functions.variant import to_variant
        ints = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        floats = (T.DoubleType, T.FloatType)
        target: dict[str, object] = {}
        for p in properties:
            ts = [df.schema[p].dataType for df in self.nodes.values()
                  if p in df.columns
                  and not isinstance(df.schema[p].dataType, T.NullType)]
            if not ts:
                target[p] = T.NullType()
            elif all(t == ts[0] for t in ts):
                target[p] = ts[0]
            elif all(isinstance(t, ints) for t in ts):
                target[p] = T.LongType()
            elif all(isinstance(t, floats) for t in ts):
                target[p] = T.DoubleType()
            else:
                target[p] = "variant"
        dfs = []
        for label, df in self.nodes.items():
            lbl_arr = (F.array(F.lit(label)) if label
                       else F.array().cast("array<string>"))
            cols = [F.col("id"), lbl_arr.alias("labels")]
            for p in properties:
                t = target[p]
                if p not in df.columns:
                    c = (F.lit(None) if t == "variant"
                         else F.lit(None).cast(t))
                elif t == "variant":
                    c = to_variant(F.col(p), df.schema[p].dataType)
                else:
                    c = F.col(p).cast(t)
                cols.append(c.alias(p))
            dfs.append(df.select(*cols))
        if not dfs:
            schema = "id BIGINT, labels ARRAY<STRING>" + "".join(
                f", {p} STRING" for p in properties)
            return self.spark.createDataFrame([], schema)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return self.with_extra_labels(out)

    def with_extra_labels(self, df: DataFrame) -> DataFrame:
        """Merge SET-added labels into a (id, labels, ...) frame."""
        if self.extra_labels is None:
            return df
        el = self.extra_labels
        if "ord" not in el.columns:
            el = el.withColumn("ord", F.lit(0))
        else:
            el = el.withColumn("ord", F.coalesce("ord", F.lit(0)))
        # keep label addition order: sort by (ord) then dedup via array_union
        extras = el.groupBy("id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "label"))),
                lambda x: x.getField("label")).alias("__extra"))
        return df.join(extras, "id", "left").withColumn(
            "labels",
            F.array_union("labels", F.coalesce(
                "__extra", F.array().cast("array<string>")))
        ).drop("__extra")

    def all_edges(self, properties: list[str] | None = None) -> DataFrame:
        properties = properties or []
        dfs = []
        for etype, df in self.edges.items():
            cols = [F.col("src"), F.col("dst"), F.lit(etype).alias("type")]
            for p in properties:
                cols.append(
                    F.col(p).alias(p) if p in df.columns else F.lit(None).alias(p)
                )
            dfs.append(df.select(*cols))
        if not dfs:
            schema = "src BIGINT, dst BIGINT, type STRING" + "".join(
                f", {p} STRING" for p in properties)
            return self.spark.createDataFrame([], schema)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def project(self, node_ids: DataFrame,
                etypes: list[str] | None = None) -> "PropertyGraph":
        """PROJECT/DERIVE parity (SURVEY §2.5, aggregation.hpp:27): the
        induced subgraph on a node-id set as a new graph value. The id set
        is materialized ONCE (eager localCheckpoint): it feeds two
        semi-joins per edge table plus one per node label, and a lazy plan
        would re-embed (and re-execute) the whole id-set subplan in every
        consumer — measured 395 plan operators / 28 parquet scans for the
        3-table ASIA projection vs 86 / 8 with the checkpoint."""
        ids = node_ids.select(F.col(node_ids.columns[0]).alias("id"))
        try:
            ids = ids.localCheckpoint(eager=True)
        except Exception:  # noqa: BLE001 — stay lazy if not materializable
            pass
        sub = PropertyGraph(self.spark, tables=self.tables)
        for label, df in self.nodes.items():
            sub.nodes[label] = df.join(ids, on="id", how="left_semi")
        for etype, e in self.edges.items():
            if etypes is not None and etype not in etypes:
                continue
            sub.edges[etype] = (
                e.join(ids.withColumnRenamed("id", "src"), on="src",
                       how="left_semi")
                .join(ids.withColumnRenamed("id", "dst"), on="dst",
                      how="left_semi"))
        return sub

    def degrees(self, etype: str | None = None, direction: str = "out") -> DataFrame:
        """degree/inDegree/outDegree (awesome functions) as a pre-aggregated
        table: (id, degree). Map-side combine; broadcast-able for joins."""
        edges = self.edge(etype) if etype else self.all_edges()
        if direction == "out":
            keyed = edges.select(F.col("src").alias("id"))
        elif direction == "in":
            keyed = edges.select(F.col("dst").alias("id"))
        else:  # both
            keyed = edges.select(F.col("src").alias("id")).unionAll(
                edges.select(F.col("dst").alias("id"))
            )
        return keyed.groupBy("id").agg(F.count("*").alias("degree"))

    def measure_degree_hint(self, etype: str | None = None) -> tuple:
        """Measure and cache (max_degree, total_edge_ends) for hot-key
        aggregation routing — one map-side-combined aggregation over the
        edge ends. Explicitly invoked (ANALYZE GRAPH / bulk loads), never
        implicitly per query."""
        if etype not in self.degree_hint:
            r = (self.degrees(etype, "both")
                 .agg(F.max("degree").alias("mx"),
                      F.sum("degree").alias("total")).first())
            self.degree_hint[etype] = (int(r["mx"] or 0),
                                       int(r["total"] or 0))
        return self.degree_hint[etype]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet reader tolerant of TIMESTAMP(NANOS) files (Spark rejects the
    physical type): nanos columns are read as long and rebuilt as timestamps
    (truncated to micros — Spark's finest grain) via integer division, which
    is exact for int64 nanos where a double round-trip would not be."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import pyarrow.parquet as pq

    # Spark-written datasets are directories of part files (the synthetic
    # sf1 tables are) — probe the first part's schema
    probe = path
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if parts:
            probe = os.path.join(path, parts[0])
    arrow_schema = pq.read_schema(probe)
    nanos_cols = [
        f.name for f in arrow_schema
        if str(f.type).startswith("timestamp[ns")
    ]
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        name: _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        for name in TPCH_TABLES
    }


_graph_cache: dict[tuple[int, str], "PropertyGraph"] = {}


def graph_for(spark: SparkSession, sf_dir: str) -> "PropertyGraph":
    """Session-scoped graph cache (the reference's plan/AST caches are LRU on
    stripped query text; ours caches the catalog views + persisted adjacency)."""
    key = (id(spark), sf_dir)
    if key not in _graph_cache:
        _graph_cache[key] = load_tpch_graph(spark, sf_dir)
    return _graph_cache[key]


def load_tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Build the FIXTURES.md §1 property graph over the driver's star schema.

    All node/edge tables are *views* over the parquet scans — constructing the
    graph is zero-cost; Catalyst prunes columns and pushes filters into each
    underlying scan per query.
    """
    t = load_tables(spark, sf_dir)
    g = PropertyGraph(spark, tables=t)

    g.nodes["Region"] = t["region"].select(
        node_id("Region", F.col("r_regionkey")),
        F.col("r_regionkey").alias("key"),
        F.col("r_name").alias("name"),
    )
    g.nodes["Nation"] = t["nation"].select(
        node_id("Nation", F.col("n_nationkey")),
        F.col("n_nationkey").alias("key"),
        F.col("n_name").alias("name"),
    )
    g.nodes["Customer"] = t["customer"].select(
        node_id("Customer", F.col("c_custkey")),
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    g.nodes["Supplier"] = t["supplier"].select(
        node_id("Supplier", F.col("s_suppkey")),
        F.col("s_suppkey").alias("key"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    g.nodes["Part"] = t["part"].select(
        node_id("Part", F.col("p_partkey")),
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_size").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    g.nodes["Order"] = t["orders"].select(
        node_id("Order", F.col("o_orderkey")),
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("orderstatus"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderdate").alias("orderdate"),
        F.col("o_orderpriority").alias("orderpriority"),
    )
    g.nodes["Document"] = t["documents"].select(
        node_id("Document", F.col("doc_id")),
        F.col("doc_id").alias("key"),
        F.col("text"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars"),
    )

    g.edges["IN_REGION"] = t["nation"].select(
        node_id("Nation", F.col("n_nationkey")).alias("src"),
        node_id("Region", F.col("n_regionkey")).alias("dst"),
    )
    g.edges["FROM_NATION"] = t["customer"].select(
        node_id("Customer", F.col("c_custkey")).alias("src"),
        node_id("Nation", F.col("c_nationkey")).alias("dst"),
    )
    g.edges["BASED_IN"] = t["supplier"].select(
        node_id("Supplier", F.col("s_suppkey")).alias("src"),
        node_id("Nation", F.col("s_nationkey")).alias("dst"),
    )
    g.edges["PLACED"] = t["orders"].select(
        node_id("Customer", F.col("o_custkey")).alias("src"),
        node_id("Order", F.col("o_orderkey")).alias("dst"),
        F.col("o_orderdate").alias("orderdate"),
    )
    g.edges["CONTAINS"] = t["lineitem"].select(
        node_id("Order", F.col("l_orderkey")).alias("src"),
        node_id("Part", F.col("l_partkey")).alias("dst"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
        F.col("l_shipdate").alias("shipdate"),
    )
    g.edges["SUPPLIED_BY"] = t["lineitem"].select(
        node_id("Order", F.col("l_orderkey")).alias("src"),
        node_id("Supplier", F.col("l_suppkey")).alias("dst"),
        F.col("l_partkey").alias("partkey"),
        F.col("l_quantity").alias("quantity"),
    )
    # deterministic per-edge identity (Cypher edge-isomorphism needs to tell
    # edges apart; parallel edges differ in at least one property column)
    for etype, df in g.edges.items():
        g.edges[etype] = df.withColumn(
            "eid", F.xxhash64(F.lit(etype), *[F.col(c) for c in df.columns])
        )

    # single-scan co-located views (see PropertyGraph.co_scan): for each
    # edge minted from the node's own source table, one select that yields
    # the edge columns (eid expression IDENTICAL to the edge table's —
    # pinned by tests/test_co_scan.py) plus the node's property columns.
    def _co(etype: str, end: str, label: str, base: DataFrame,
            edge_exprs: list, node_exprs: list) -> None:
        edge_names = base.select(*edge_exprs).columns
        df = base.select(*edge_exprs, *node_exprs).withColumn(
            "eid", F.xxhash64(F.lit(etype),
                              *[F.col(c) for c in edge_names]))
        g.co_scan[(etype, end)] = (label, df)

    _co("PLACED", "dst", "Order", t["orders"],
        [node_id("Customer", F.col("o_custkey")).alias("src"),
         node_id("Order", F.col("o_orderkey")).alias("dst"),
         F.col("o_orderdate").alias("orderdate")],
        [F.col("o_orderkey").alias("__n_key"),
         F.col("o_orderstatus").alias("__n_orderstatus"),
         F.col("o_totalprice").alias("__n_totalprice"),
         F.col("o_orderdate").alias("__n_orderdate"),
         F.col("o_orderpriority").alias("__n_orderpriority")])
    _co("FROM_NATION", "src", "Customer", t["customer"],
        [node_id("Customer", F.col("c_custkey")).alias("src"),
         node_id("Nation", F.col("c_nationkey")).alias("dst")],
        [F.col("c_custkey").alias("__n_key"),
         F.col("c_name").alias("__n_name"),
         F.col("c_acctbal").alias("__n_acctbal"),
         F.col("c_mktsegment").alias("__n_mktsegment")])
    _co("BASED_IN", "src", "Supplier", t["supplier"],
        [node_id("Supplier", F.col("s_suppkey")).alias("src"),
         node_id("Nation", F.col("s_nationkey")).alias("dst")],
        [F.col("s_suppkey").alias("__n_key"),
         F.col("s_name").alias("__n_name"),
         F.col("s_acctbal").alias("__n_acctbal")])
    # FK endpoint guarantees (TPC-H referential integrity + the id
    # namespace encoding the label): anonymous-target attach joins on
    # these (etype, end) pairs are provably no-op filters.
    g.endpoint_labels.update({
        ("IN_REGION", "src"): "Nation", ("IN_REGION", "dst"): "Region",
        ("FROM_NATION", "src"): "Customer", ("FROM_NATION", "dst"): "Nation",
        ("BASED_IN", "src"): "Supplier", ("BASED_IN", "dst"): "Nation",
        ("PLACED", "src"): "Customer", ("PLACED", "dst"): "Order",
        ("CONTAINS", "src"): "Order", ("CONTAINS", "dst"): "Part",
        ("SUPPLIED_BY", "src"): "Order", ("SUPPLIED_BY", "dst"): "Supplier",
    })

    _co("IN_REGION", "src", "Nation", t["nation"],
        [node_id("Nation", F.col("n_nationkey")).alias("src"),
         node_id("Region", F.col("n_regionkey")).alias("dst")],
        [F.col("n_nationkey").alias("__n_key"),
         F.col("n_name").alias("__n_name")])
    return g
