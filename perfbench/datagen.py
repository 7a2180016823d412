"""Seeded generator of the benchmark's input tables.

Writes the ten parquet tables the engine's catalog loads (`region nation
customer supplier part orders lineitem events documents embeddings`) with
the same column names and types as the TPC-H-ish test data, scaled by `sf`
(sf=0.1 gives 15k customers, 150k orders, ~600k lineitems). The same
(seed, sf) always gives byte-identical tables; `fingerprint` hashes them so
the self-test can check that.

Documents carry planted near-duplicates (a copy with one word changed) and
embeddings are clustered around one centroid per label, so the dedup and
nearest-neighbour operators have real pairs to find.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "small", "large", "blue", "red", "green", "shiny",
            "matte", "heavy", "light"]
PART_NOUN = ["widget", "bolt", "rod", "gear", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMB_DIM = 64
EMB_LABELS = 10
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000      # 1995-01-01 in microseconds
_EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n: int) -> list[str]:
    """Random word sequences; every 20th document is a near-copy (one word
    replaced by 'dup') of a random earlier one."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        toks = [VOCAB[w] for w in words[pos:pos + ln]]
        pos += ln
        if i % 20 == 19:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            toks = src
        texts.append(" ".join(toks))
    return texts


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    n_evt = max(100, int(1_000_000 * sf) // 10)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i]
                          for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995
                          + rng.integers(0, 2400, n_li) * _DAY_US)})
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": rng.integers(0, 1000, n_evt).astype("int64"),
        "event_type": [("click", "view", "purchase", "signup", "error")[i]
                       for i in rng.integers(0, 5, n_evt)],
        "value": _money(rng, 0, 300, n_evt),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)]})
    texts = _docs(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = rng.integers(0, EMB_LABELS, n_emb)
    cent = rng.normal(0, 1, (EMB_LABELS, EMB_DIM))
    vec = cent[labels] + rng.normal(0, 0.6, (n_emb, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(seed: int, sf: float, root: str) -> str:
    """Write the tables under root/<seed>-<sf>/ and return that directory."""
    d = os.path.join(root, f"s{seed}-sf{sf}")
    os.makedirs(d, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    return d


def fingerprint(seed: int, sf: float) -> str:
    """Content hash of the generated tables (for the determinism check)."""
    h = hashlib.sha256()
    for name, t in sorted(tables(seed, sf).items()):
        h.update(name.encode())
        for col in t.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf.to_pybytes())
    return h.hexdigest()
