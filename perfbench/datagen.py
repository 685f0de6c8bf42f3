"""Deterministic input tables for the benchmark.

Writes the ten parquet tables the repository's catalog loads (`region`
... `embeddings`) with the same column names and value domains as the
repository's test fixtures: a trimmed TPC-H star schema with
independently drawn columns, a month of click events, a small text corpus
with about 5% near-duplicate and 2% exact-duplicate documents (each in
the language and source of its original) and unit-norm 64-d embeddings.
Some choices keep every oracle check able to fail: as in TPC-H, customers
whose key is a multiple of 3 place no orders (anti joins return rows);
every nation has suppliers; exact dedup has copies to remove; and
`events.ts` is stored as TIMESTAMP(NANOS), the form the catalog's
nanos-to-micros conversion is written for.
Row counts follow TPC-H scaling (lineitem = 6M x scale); the corpus and
embedding tables keep at least 500 rows so every data-prep operator has
work at small scales.

The generator seed is fixed: every benchmark run reads the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 3
DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "pin"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a the big small fast slow data table row column key value part line "
    "customer order join scan filter agg group sort hash merge window "
    "stream batch spark query vector"
).split()


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 25)
    n_part = max(int(200_000 * scale), 20)
    n_ord = max(int(1_500_000 * scale), 100)
    n_li = max(int(6_000_000 * scale), 400)
    n_ev = max(int(1_000_000 * scale), 100)
    n_doc = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        # every nation has suppliers, so per-nation queries return rows
        "s_nationkey": pa.array(rng.permutation(np.arange(n_supp) % 25), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    buyers = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.choice(buyers, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    month_ns = 30 * 24 * 3600 * 10**9
    ts = np.sort(rng.integers(0, month_ns, n_ev)) + np.datetime64("2024-01-01", "ns")
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 5), n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    langs = np.asarray(_LANGS, dtype=object)[rng.choice(len(_LANGS), n_doc, p=_LANG_P)]
    sources = [f"src{i % 20}" for i in range(n_doc)]
    for i in range(n_doc):
        r = rng.random()
        if i > 20 and r < 0.07:
            # a copy of an earlier document in the same language and
            # source: near-duplicates have one token appended or the last
            # one dropped; exact duplicates are verbatim or differ only in
            # case and whitespace, which normalisation removes
            j = int(rng.integers(0, i))
            src = texts[j]
            if r < 0.05:
                texts.append(src + " dup" if r < 0.025 else src.rsplit(" ", 1)[0])
            else:
                texts.append(src if r < 0.06 else " " + src.upper().replace(" ", "  "))
            langs[i], sources[i] = langs[j], sources[j]
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), i64),
        "text": texts,
        "lang": pa.array(langs),
        "source": sources,
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def ensure_tables(data_root: str, scale: float) -> str:
    """Return the directory holding the tables for `scale`, writing them
    first if they are missing or were written by another generator
    version. The directory is written beside the final one and renamed
    into place, so a killed run never leaves a partial table set."""
    out = os.path.join(data_root, f"sf{scale:g}")
    stamp = os.path.join(out, "MANIFEST.json")
    manifest = {"version": GENERATOR_VERSION, "seed": DATA_SEED, "scale": scale}
    try:
        with open(stamp) as fh:
            if json.load(fh) == manifest:
                return out
    except (OSError, ValueError):
        pass
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
