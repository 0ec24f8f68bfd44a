"""Deterministic TPC-H-ish input tables for the benchmark.

The engine reads one Parquet file per table from a directory. This
module writes that directory from a fixed generator seed, so every run
of every workload sees byte-identical inputs; the run's ``--seed``
picks op order and op parameters only (see workloads.py).

The shapes follow the test corpus the package is developed against:
the 25-nation / 5-region star, 1-7 lines per order, a 30-word document
vocabulary with 5% near-duplicate documents, label-clustered 64-d unit
embeddings and 30 days of events. Row counts scale linearly with the
scale factor (sf0.1 = 600k lineitem rows).

Writing is atomic (temp dir + rename), so a killed run never leaves a
half-written corpus behind for the next one.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_SEGMENTS = ["BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
_PTYPE = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _epoch_us(day: str) -> int:
    d = datetime.fromisoformat(day)
    return int((d - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    return pa.array(_epoch_us(base) + offsets.astype(np.int64) * 86_400_000_000,
                    type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GENERATOR_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})

    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})

    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(np.char.add(
            np.char.add(np.asarray(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.asarray(_NOUN)[rng.integers(0, 8, n_part)]).astype(object), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPE, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})

    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2405, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days("1995-01-01", odays),
        "o_orderpriority": _pick(rng, _PRIO, n_ord)})

    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    starts = np.cumsum(lines) - lines
    l_ln = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + rng.integers(0, 1000, n_li) / 10.0), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _days("1995-01-01", np.repeat(odays, lines)
                            + rng.integers(1, 121, n_li))})

    ts = _epoch_us("2024-01-01") + np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_evt // 66), n_evt),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    # 5% of documents re-render an earlier document's text with a
    # trailing marker token: the near-duplicate pairs MinHash must find
    words = np.asarray(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[
            rng.choice(len(_LANGS), n_doc, p=_LANG_P)], pa.string()),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def ensure_corpus(root: str, sf: float) -> str:
    """Return the directory holding the sf-scaled corpus under ``root``,
    generating it first if absent."""
    dst = os.path.join(root, f"sf{sf:g}")
    if all(os.path.exists(os.path.join(dst, f"{t}.parquet")) for t in TABLES):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=1 << 20)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)
    return dst
