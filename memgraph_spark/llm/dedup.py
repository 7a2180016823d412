"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Tokenization and hashing are JVM-side (higher-order functions over arrays +
xxhash64, whole-stage-codegen'd). The SimHash bit-vote runs as one
vectorized numpy pass per Arrow batch (`_simhash_votes_arrow`); everything
else stays pure column expressions. Environments without Python workers can
set SPARK_GRAFT_SIMHASH_JVM=1 to route simhash() through the pure-column
`simhash_column_build` (bit-identical, slower). Candidate generation
shuffles on band hashes (O(n) per band), never all-pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# exact all-pairs operators are O(n²) candidate fallbacks: refuse inputs
# past this row count and point at the bucketed variant instead of
# silently launching a cross join that cannot finish at corpus scale
ALL_PAIRS_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_ALL_PAIRS_MAX",
                                        "100000"))


def _guard_all_pairs(df: DataFrame, op: str, scale_alt: str) -> None:
    n = df.count()
    if n > ALL_PAIRS_MAX_ROWS:
        raise ValueError(
            f"{op} is an exact all-pairs (O(n²)) fallback and the input "
            f"has {n} rows (> {ALL_PAIRS_MAX_ROWS}); use {scale_alt} for "
            "large corpora, or raise SPARK_GRAFT_ALL_PAIRS_MAX explicitly")


# -- exact ------------------------------------------------------------------

def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-dup summary: total docs vs distinct contents.
    Hash-groupBy (md5 so the 'key' is small on the shuffle)."""
    return df.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.md5(F.col(text_col))).alias("n_unique"),
    )


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (keeper_id, n_copies) for every content hash
    appearing more than once; keeper = min id (deterministic survivor)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("keeper_id", "n_copies")
    )


# -- shingling / minhash ----------------------------------------------------

def shingle(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams, computed as a JVM higher-order expression
    (sequence + transform + substring); empty array for short texts."""
    return F.when(
        F.length(text) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(text) - k + 1),
                lambda i: text.substr(i, F.lit(k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _seeded_hash(seed: int):
    # closure factory: a HOF lambda must have exactly the arity PySpark
    # expects — extra default args become lambda variables (index!) and
    # silently shadow the Python value
    return lambda s: F.xxhash64(s, F.lit(seed))


def minhash_signature(shingles: Column, num_perm: int = 128) -> Column:
    """num_perm minhash values over string shingles.

    Each shingle string is hashed to a long ONCE; the num_perm 'permutations'
    re-hash that long with a per-perm seed (long-input xxhash64 is far
    cheaper than re-scanning the string num_perm times)."""
    base = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.array(*[
        F.array_min(F.transform(base, _seeded_hash(i)))
        for i in range(num_perm)
    ])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard verified.

    shingle -> minhash (num_perm) -> band (bands x rows) -> bucket join on
    (band_idx, band_hash) -> candidate (id_a < id_b) -> verify with exact
    Jaccard over shingle sets. With 32 bands x 4 rows at threshold 0.8 the
    false-negative probability per true pair is (1-0.8^4)^32 ~ 5e-8, so the
    verified output equals the brute-force answer (which is what the SQL
    oracle computes) while candidate generation stays O(n·bands).
    """
    rows = num_perm // bands
    spark = df.sparkSession
    # small-file inputs arrive as 1 partition; the signature stage is the
    # CPU-heavy part, so spread it across the cluster first
    docs = df.select(
        F.col(id_col).alias("id"),
        shingle(F.col(text_col), k).alias("sh"),
    ).filter(F.size("sh") > 0).repartition(spark.sparkContext.defaultParallelism, "id")
    # the shingle frame feeds THREE consumers (signatures + both sides of
    # the exact-Jaccard verify join); materialize it once per call instead
    # of re-running the substring transform three times. Per-invocation
    # localCheckpoint, no cross-run caching; the stored arrays are the
    # standard fuzzy-dedup signature-table materialization.
    docs = docs.localCheckpoint(eager=True)
    sigs = docs.select("id", minhash_signature(F.col("sh"), num_perm).alias("sig"))
    # both sides of the band self-join embed this frame; without the
    # checkpoint the broadcast side re-runs the whole num_perm-hash
    # signature pipeline a second time (visible as a duplicated
    # Generate+signature subtree under the BroadcastExchange)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.xxhash64(F.slice("sig", b * rows + 1, rows)).alias("bh"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh").localCheckpoint(eager=True)
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bh"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates()
        # the exact-Jaccard verify below is compute-dense but byte-light
        # (two longs per candidate row): AQE's byte-based coalescing packs
        # the deduped pair list into ONE post-shuffle partition and the
        # whole verify stage — an array_intersect over the shingle sets
        # per pair — runs on a single core (measured 22.6s of a 37.6s
        # query at sf0.1). Round-robin with an explicit partition count:
        # a keyed repartition on (id_a, id_b) is statically pruned as
        # redundant with the dedup's exchange and AQE then re-coalesces it.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # |A∪B| = |A|+|B|−|A∩B| exactly (sh is array_distinct'd), so the
    # per-pair union ARRAY never needs building and the per-doc sizes are
    # computed once on the doc frame instead of per pair — the intersect
    # becomes the only per-pair set pass (the same arithmetic-union
    # rewrite change 15 landed for the ngram path; integer-exact, the
    # jaccard double divides the same two ints as before)
    a = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                    F.size("sh").alias("__na"))
    b = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                    F.size("sh").alias("__nb"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("__i", inter)
        .withColumn(
            "jaccard",
            F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# -- simhash ----------------------------------------------------------------

def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash over whitespace tokens: bit b (b < bits) = sign of the sum
    over tokens of (2*bit_b(xxhash64(token)) - 1).

    Tokenization and hashing stay JVM-side (same xxhash64 values as the
    column build); the bit-vote sums run as ONE vectorized numpy pass
    per Arrow batch (unpackbits + add.reduceat) instead of `bits`
    interpreted aggregate() passes over the hash array per row — the
    signature column alone measured 1.88s of dedup_simhash's 3.15s at
    sf0.1 under the old build (guide §4.2: hand whole batches to
    vectorized native code). Bit-exact vs `simhash_column_build` — votes
    are integer sums, the sign decision and bit packing are identical;
    pinned by tests/test_llm.py::test_simhash_arrow_equals_column_build.
    Set SPARK_GRAFT_SIMHASH_JVM=1 to force the pure-column build
    (environments without Python workers)."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if os.environ.get("SPARK_GRAFT_SIMHASH_JVM"):
        return simhash_column_build(text, bits)
    tokens = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    return _simhash_votes_arrow(hashes, bits)


def _simhash_votes_arrow(hashes: Column, bits: int = 64) -> Column:
    """Vote + pack over per-row token-hash arrays, one numpy pass/batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _vote(hs):
        n = len(hs)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in hs), dtype=np.int64, count=n)
        total = int(lens.sum())
        packed = np.zeros(n, dtype=np.uint64)
        if total:
            flat = np.empty(total, dtype=np.int64)
            pos = 0
            for v in hs:
                if v is None or len(v) == 0:
                    continue
                m = len(v)
                flat[pos:pos + m] = v
                pos += m
            # bit b of the long's unsigned value, LSB-first — exactly the
            # (h >> b) & 1 the column build tests (bit 63 = sign bit).
            # Stays uint8 (the int64 accumulation happens inside reduceat
            # via dtype) — the unpacked matrix is 64 B/token, not 512 B,
            # which bounds the per-batch Python-worker footprint on long
            # documents (10k rows x 1k tokens ≈ 0.6 GB, not 5 GB).
            bmat = np.unpackbits(
                flat.view(np.uint8).reshape(total, 8), axis=1,
                bitorder="little")[:, :bits]             # total x bits, uint8
            nz = lens > 0
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            ones = np.add.reduceat(
                bmat, starts[nz], axis=0, dtype=np.int64)  # per-row 1s
            votes = 2 * ones - lens[nz, None]            # sum of (2b - 1)
            sel = votes > 0                              # strict, as when()
            weights = np.left_shift(
                np.uint64(1), np.arange(bits, dtype=np.uint64))
            packed[nz] = (sel.astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64)
        return pd.Series(packed.astype(np.int64))

    return _vote(hashes)


def simhash_column_build(text: Column, bits: int = 64) -> Column:
    """The pure-column-expression simhash (64 aggregate() passes per row).
    Kept as the reference implementation for the bit-equality test and as
    a no-python-workers fallback."""
    tokens = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    def bit_set(h, b):
        # bitwiseAND with a literal mask (F.shiftright on a lambda variable
        # trips py4j conversion); bit 63 is the sign bit of the long
        if b == 63:
            return h < 0
        return h.bitwiseAND(F.lit(1 << b).cast("long")) != 0

    def make_vote(b):
        return lambda acc, h: acc + F.when(bit_set(h, b), F.lit(1)).otherwise(F.lit(-1))

    bit_cols = []
    for b in range(bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), make_vote(b))
        weight = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long")
        bit_cols.append(F.when(vote > 0, weight).otherwise(F.lit(0).cast("long")))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Banding: 4 x 16-bit chunks — any pair within hamming 3 agrees on >= 1
    chunk (pigeonhole), so the chunk-equality join has perfect recall; the
    exact hamming check (bit_count(xor)) filters the candidates. Output is
    hash-function-dependent -> no cross-engine SQL oracle (rows-only check).
    """
    sh = df.select(F.col(id_col).alias("id"), F.col(text_col)) \
        .repartition(df.sparkSession.sparkContext.defaultParallelism, id_col) \
        .select("id", simhash(F.col(text_col)).alias("sh"))
    chunks = sh.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftrightunsigned("sh", 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("cv"))
            for c in range(4)
        ])).alias("cc"),
    ).select("id", "sh", "cc.chunk", "cc.cv")
    cand = (
        chunks.alias("l").join(chunks.alias("r"), ["chunk", "cv"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.sh").alias("sh_a"), F.col("r.sh").alias("sh_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- n-gram jaccard ---------------------------------------------------------

def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined)."""
    toks = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold.

    Exact (no LSH). Candidates come from PREFIX FILTERING (Chaudhuri et
    al. 2006; Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search"): order every doc's n-gram set by a GLOBAL total order and
    emit only its first `sz - ceil(t*sz) + 1` tokens (the "prefix"). Two
    docs with Jaccard >= t MUST share a prefix token: with w_a/w_b the
    last prefix tokens and (wlog) w_a <= w_b in the order, a shared token
    inside A's prefix would rank <= w_a <= w_b yet — were no token shared
    by BOTH prefixes — have to sit outside B's prefix, i.e. rank > w_b;
    impossible, so every shared token sits in A's suffix, capping the
    overlap at ceil(t*|A|) - 1 < t*|A| <= t*|A u B| <= |A n B|, a
    contradiction. The candidate join is therefore an inverted-index
    equi-join on prefix tokens instead of an O(n^2) crossJoin; the exact
    intersect then verifies each candidate once (sf0.1: 310k-1.1M
    candidates vs 7.4M size-filter survivors before). Any total order is
    correct; lexicographic (array_sort + slice, zero extra exchanges)
    A/B-measured 0.60x vs ascending-document-frequency order (which
    needs an explode + count + join + row_number window — 4 exchanges —
    to buy fewer candidates; worth revisiting only if a skewed corpus
    makes common-token prefixes explode). The ceil() is nudged down 1e-9
    so a float wobble can only LENGTHEN a prefix (extra candidates,
    never a lost pair). Output identical to the naive all-pairs
    semantics, which is what the SQL oracle implements.
    """
    _guard_all_pairs(df, "ngram_jaccard_pairs", "minhash_lsh_pairs")
    spread = df.sparkSession.sparkContext.defaultParallelism
    # repartition BEFORE the n-gram build: the documents scan is a single
    # small file (one task), and the per-doc split/transform is the
    # compute-dense part — the explicit numPartitions keeps AQE from
    # byte-coalescing it back to one task; the exchange is reused by all
    # three consumers (prefix / verify-a / verify-b)
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")) \
             .repartition(spread, "id") \
             .select("id", word_ngrams(F.col("t"), n).alias("ng")) \
             .withColumn("sz", F.size("ng")).filter(F.col("sz") > 0)
    # greatest(, 0): a threshold > 1 makes the formula negative — slice()
    # would raise where the naive path returned no rows; an empty prefix
    # yields the same empty result instead
    prefix_len = F.greatest(
        (F.col("sz")
         - F.ceil(F.col("sz") * F.lit(threshold) - F.lit(1e-9))
         + 1).cast("int"),
        F.lit(0))
    prefix = docs.select(
        "id", "sz",
        F.explode(F.slice(F.array_sort("ng"), F.lit(1), prefix_len))
         .alias("tok"))
    cand = (
        prefix.alias("a").join(prefix.alias("b"), "tok")
        .filter(F.col("a.id") < F.col("b.id"))
        # size filter (Jaccard >= t implies t*|B| <= |A| and t*|A| <= |B|)
        .filter((F.col("a.sz") >= threshold * F.col("b.sz"))
                & (F.col("b.sz") >= threshold * F.col("a.sz")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = docs.select(F.col("id").alias("id_a"), F.col("ng").alias("ng_a"),
                    F.col("sz").alias("sz_a"))
    b = docs.select(F.col("id").alias("id_b"), F.col("ng").alias("ng_b"),
                    F.col("sz").alias("sz_b"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        # |A u B| = |A| + |B| - |A n B| exactly (distinct arrays), so the
        # union ARRAY never needs building — the intersect is the only
        # per-pair set pass
        .withColumn("inter", F.size(F.array_intersect("ng_a", "ng_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# -- near-duplicate clustering / corpus dedup --------------------------------

def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """(id, cluster) for every document: cluster = min doc id of the
    document's near-duplicate connected component (singletons cluster to
    themselves).

    The training-pipeline step after pair detection: near-dup relations are
    not transitive, so keep-one-per-PAIR dedup either over- or under-drops;
    the industry-standard move (e.g. the fuzzy-dedup stage in large-corpus
    cleanup pipelines) is connected components over the pair graph. Pairs
    come from minhash_lsh_pairs (O(n x bands) candidates, exact-Jaccard
    verified); components from hash-min label propagation
    (algos/components, O(cluster-diameter) rounds — near-dup clusters are
    shallow, so this converges in 2-3 rounds at any corpus size)."""
    from memgraph_spark.algos.components import weakly_connected_components

    pairs = minhash_lsh_pairs(df, id_col, text_col, k=k, num_perm=num_perm,
                              bands=bands, threshold=threshold) \
        .select("id_a", "id_b").localCheckpoint(eager=True)
    # max_iter bounds ROUNDS, not size: hash-min propagation converges in
    # O(component min-label eccentricity) rounds and stops early at the
    # fixpoint, so 1000 is a runaway backstop — the default 30 could split
    # a >30-link chain of templated documents into several clusters
    comp = weakly_connected_components(pairs, "id_a", "id_b", max_iter=1000)
    # comp is its own eager checkpoint — the pair frame's blocks can go now
    from memgraph_spark.session import free_checkpoint
    free_checkpoint(pairs)
    return (df.select(F.col(id_col).alias("id"))
            .join(comp, "id", "left")
            .select("id",
                    F.coalesce("component", F.col("id")).alias("cluster")))


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """The deduplicated corpus: one representative (min id) per near-dup
    cluster, all other rows dropped. Returns df's full schema."""
    clusters = near_dup_clusters(df, id_col, text_col, **lsh_kwargs)
    # cluster IS the min doc id of the component, so the representative set
    # is just the distinct cluster values — no second aggregation needed
    keep = clusters.select(F.col("cluster").alias(id_col)).dropDuplicates()
    return df.join(keep, id_col, "left_semi")
