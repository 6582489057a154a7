"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and returns plain numpy / pyarrow data:
the same seed gives byte-identical inputs, another seed different
ones. Ground truth that the program must not see (planted duplicate
pairs, exact neighbours) is returned separately and never written
next to the inputs.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table of the ``warehouse`` workload, keyed by ``orders``
#: (``lineitem`` averages four lines per order, as in TPC-H).
WAREHOUSE_ORDERS = 60_000

#: ``corpus_search`` corpus: base documents before planting; planted shares.
CORPUS_DOCS = 2_000
EXACT_COPY_RATE = 0.05
NEAR_DUP_RATE = 0.05
CORPUS_LABELS = 4

#: ``corpus_search`` vector shapes.
VEC_DIM = 64
VEC_CLUSTERS = 64
VEC_INITIAL = 2_000
VEC_APPEND_BATCH = 500
VEC_PROBE_BATCH = 32

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPE_WORDS = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "es", "de", "fr", "zh"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _ms(day0: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "ms")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("ms"))


def _choice(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)],
                    pa.string())


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables in the FIXTURES.md schemas (plus the
    ``events`` table that ``q_join_asof`` reads, and tiny
    ``documents``/``embeddings`` tables so every catalog view exists)."""
    r = _rng(seed, "warehouse")
    n_orders = WAREHOUSE_ORDERS
    n_cust = max(100, n_orders // 10)
    n_lines_per = r.integers(1, 8, n_orders)
    n_line = int(n_lines_per.sum())
    n_supp = max(100, n_line // 600)
    n_part = max(200, n_line // 30)
    n_events = n_orders * 2 // 3

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _choice(r, _SEGMENTS, n_cust),
    })
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    brands = r.integers(1, 6, (n_part, 2))
    types = np.asarray(_TYPE_WORDS, dtype=object)[r.integers(0, 6, n_part)]
    retail = np.round(900 + (pk % 1000) + r.integers(0, 100, n_part) / 100, 2)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"part {k}" for k in pk], pa.string()),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in brands], pa.string()),
        "p_type": pa.array([f"{w} POLISHED STEEL" for w in types], pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    ok = np.arange(1, n_orders + 1, dtype=np.int64)
    odays = r.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderstatus": _choice(r, ["F", "O", "P"], n_orders),
        "o_totalprice": np.round(r.uniform(800.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ms("1995-01-01", odays),
        "o_orderpriority": _choice(r, _PRIORITIES, n_orders),
    })
    l_order = np.repeat(ok, n_lines_per)
    starts = np.cumsum(n_lines_per) - n_lines_per
    l_linenumber = np.arange(n_line) - np.repeat(starts, n_lines_per) + 1
    l_part = r.integers(1, n_part + 1, n_line).astype(np.int64)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": r.integers(1, n_supp + 1, n_line).astype(np.int64),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part - 1], 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(r, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(r, ["F", "O"], n_line),
        "l_shipdate": _ms("1995-01-01", np.repeat(odays, n_lines_per)
                          + r.integers(1, 122, n_line)),
    })
    ev_sec = r.integers(0, 29 * 86_400, n_events)
    t["events"] = pa.table({
        "event_id": np.arange(1, n_events + 1, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + (ev_sec * 1_000_000 + r.integers(0, 1_000_000, n_events))
                       .astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(1, n_cust + 1, n_events).astype(np.int64),
        "event_type": _choice(r, _EVENT_TYPES, n_events),
        "value": np.round(r.uniform(0, 1000, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
                          pa.string()),
    })
    docs, _ = corpus(seed, n_base=200, labels=False)
    t["documents"] = docs
    t["embeddings"] = embedding_table(np.arange(200, dtype=np.int64),
                                      clustered_vectors(seed, 200)[0])
    return t


# ---------------------------------------------------------------- corpus

_VOCAB = [f"w{i:03d}" for i in range(400)]
_TOPIC_WORDS = 60  # words drawn preferentially by each label


@dataclass(frozen=True)
class CorpusTruth:
    """What the benchmark knows about the corpus and the program does not."""
    n_docs: int
    exact_groups: int          # planted exact-copy groups (2 docs each)
    exact_copies: int          # docs that exact dedup must drop
    near_pairs: frozenset      # planted (source_id, edited_id) pairs
    majority_rate: float       # share of the most frequent label


def _doc_tokens(r: np.random.Generator, label: int) -> list[str]:
    n = int(r.integers(40, 81))
    topic = r.random(n) < 0.6
    lo = label * _TOPIC_WORDS
    idx = np.where(topic, r.integers(lo, lo + _TOPIC_WORDS, n),
                   r.integers(0, len(_VOCAB), n))
    return [_VOCAB[i] for i in idx]


def corpus(seed: int, n_base: int = CORPUS_DOCS, *,
           labels: bool = True) -> tuple[pa.Table, CorpusTruth]:
    """Documents in the ``documents`` schema (plus ``label`` when
    ``labels``), with planted exact copies and near-duplicate edits.

    Each planted copy or edit takes a distinct source document, so
    every exact group holds two documents and every near-duplicate
    cluster holds two. Near-duplicate edits replace one to three tokens,
    which keeps their 5-shingle Jaccard distance well under the 0.6
    threshold of ``minhash_banded_pairs``."""
    r = _rng(seed, "corpus")
    base_labels = r.integers(0, CORPUS_LABELS, n_base)
    texts: list[str] = []
    seen: set[str] = set()
    toks_of: list[list[str]] = []
    for lab in base_labels:
        while True:
            toks = _doc_tokens(r, int(lab))
            s = " ".join(toks)
            if s not in seen:
                break
        seen.add(s)
        texts.append(s)
        toks_of.append(toks)
    n_exact = int(n_base * EXACT_COPY_RATE)
    n_near = int(n_base * NEAR_DUP_RATE)
    sources = r.permutation(n_base)[: n_exact + n_near]
    labels_out = list(base_labels)
    near_pairs = []
    for j, src in enumerate(sources):
        new_id = len(texts)
        if j < n_exact:
            texts.append(texts[src])
        else:
            toks = list(toks_of[src])
            for pos in r.choice(len(toks), int(r.integers(1, 4)), replace=False):
                toks[pos] = _VOCAB[int(r.integers(0, len(_VOCAB)))]
            s = " ".join(toks)
            if s in seen:  # an edit that changed nothing: force one change
                toks[0] = "edited"
                s = " ".join(toks)
            seen.add(s)
            texts.append(s)
            near_pairs.append((int(src), new_id))
        labels_out.append(base_labels[src])
    n = len(texts)
    order = r.permutation(n)  # planted docs are not all at the end
    new_id_of = np.empty(n, dtype=np.int64)
    new_id_of[order] = np.arange(n)
    texts_arr = np.asarray(texts, dtype=object)[order]
    lab_arr = np.asarray(labels_out, dtype=np.int32)[order]
    near = frozenset(tuple(sorted((int(new_id_of[a]), int(new_id_of[b]))))
                     for a, b in near_pairs)
    cols = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts_arr, pa.string()),
        "lang": _choice(r, _LANGS, n),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, n)], pa.string()),
        "n_chars": np.array([len(s) for s in texts_arr], dtype=np.int64),
    }
    if labels:
        cols["label"] = pa.array(lab_arr, pa.int32())
    truth = CorpusTruth(
        n_docs=n, exact_groups=n_exact, exact_copies=n_exact,
        near_pairs=near,
        majority_rate=float(np.bincount(lab_arr).max() / n),
    )
    return pa.table(cols), truth


# --------------------------------------------------------------- vectors

def clustered_vectors(seed: int, n: int, *,
                      stream: str = "vectors") -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, VEC_DIM], cluster ids): a mixture of Gaussians
    around unit-norm centres, each vector L2-normalised. The centres
    depend on ``seed`` only, so every stream of one seed (initial
    corpus, append batches, queries) shares one distribution."""
    centres = _rng(seed, "centres").standard_normal((VEC_CLUSTERS, VEC_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    r = _rng(seed, stream)
    cid = r.integers(0, VEC_CLUSTERS, n)
    v = centres[cid] + 0.35 / np.sqrt(VEC_DIM) * r.standard_normal((n, VEC_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), cid


def embedding_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    """``embeddings``-schema table (vec_id, embedding list<float>, label)."""
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb,
        "label": pa.array(ids % 10, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` per table, as the catalog expects, in row
    groups of 64k rows as a table writer would leave them."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 16)
