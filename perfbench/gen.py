"""Seeded input generators for the benchmark workloads (numpy/pyarrow only).

Each generator writes its inputs under ``out_dir`` and returns a JSON-able
description (sizes, the planted facts the output checks need). The same
seed and size always give byte-identical inputs. Run as a script to
generate in a separate process, so the generator's memory never counts
toward the benchmark's peak RSS:

    python3 perfbench/gen.py <workload> <seed> <size> <out_dir>

prints the description as one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. "full" is what the benchmark measures; "mini"
# is the smoke test's miniature of the same shape.
SIZES = {
    "sssp_converge": {
        "full": {"nodes": 8_001, "edges": 64_000, "layers": 8},
        "mini": {"nodes": 401, "edges": 2_000, "layers": 4},
    },
    "tpch_sql": {
        "full": {"sf": 0.01},
        "mini": {"sf": 0.001},
    },
    "corpus_dedup": {
        "full": {"docs": 500, "tokens": 80},
        "mini": {"docs": 200, "tokens": 80},
    },
}


def _rng(seed: int, workload: str) -> np.random.Generator:
    # Workload name folded into the seed: the three workloads never share
    # a random stream, whatever seed the caller passes.
    return np.random.default_rng([seed, sum(map(ord, workload))])


def gen_graph(seed: int, out_dir: str, nodes: int, edges: int, layers: int) -> dict:
    """Layered digraph in the reference's text format ``edgeId src dst weight``.

    Node ids are a seeded permutation. Layer 0 holds only the source; the
    other ``nodes - 1`` nodes split evenly into ``layers`` layers, and
    every edge runs from a node of layer i to one of layer i+1 (each node
    gets at least one such in-edge, the rest are random). Every path to a
    node of layer k has exactly k hops, so the fixpoint settles one layer
    per round and runs ``layers`` rounds for every seed (``sssp`` folds
    the source's own hop into its set-up and spends the last round
    confirming), while the node ids, the fan-out and the weights (1..100)
    vary.
    """
    rng = _rng(seed, "sssp_converge")
    per = (nodes - 1) // layers
    n = 1 + per * layers
    ids = rng.permutation(nodes)[:n].astype(np.int64)
    starts = np.concatenate([[0], 1 + per * np.arange(layers)])
    sizes = np.concatenate([[1], np.full(layers, per)])
    # one guaranteed in-edge per non-source node
    tgt = np.arange(1, n)
    tgt_layer = 1 + (tgt - 1) // per
    src_layer = tgt_layer - 1
    src = starts[src_layer] + rng.integers(0, sizes[src_layer])
    extra = edges - len(tgt)
    el = rng.integers(0, layers, extra)
    esrc = starts[el] + rng.integers(0, sizes[el])
    edst = starts[el + 1] + rng.integers(0, sizes[el + 1])
    s = ids[np.concatenate([src, esrc])]
    d = ids[np.concatenate([tgt, edst])]
    w = rng.integers(1, 101, len(s))
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "edges.txt")
    lines = np.char.add(
        np.char.add(np.char.add(np.arange(len(s)).astype(str), " "),
                    np.char.add(s.astype(str), " ")),
        np.char.add(np.char.add(d.astype(str), " "), w.astype(str)),
    )
    with open(path, "w") as f:
        f.write("\n".join(lines.tolist()))
        f.write("\n")
    return {
        "edges_path": path,
        "source": int(ids[0]),
        "nodes": int(n),
        "edges": int(len(s)),
        "layers": int(layers),
        "expected_rounds": int(layers),
    }


_EPOCH = datetime(1970, 1, 1)


def _days(y: int, m: int, d: int) -> int:
    return (datetime(y, m, d) - _EPOCH).days


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, k: int) -> np.ndarray:
    # Two-decimal money as the nearest double, like the source tables.
    return rng.integers(round(lo * 100), round(hi * 100) + 1, k) / 100.0


def gen_tpch(seed: int, out_dir: str, sf: float) -> dict:
    """TPC-H-shaped star schema with the same columns, types and value
    domains as the repository's test tables (uniform independent values,
    no partsupp), one parquet file per table. ``events``, ``documents``
    and ``embeddings`` are written empty with their real schemas, so
    ``register_tables`` finds every table it registers."""
    rng = _rng(seed, "tpch_sql")
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_li = 4 * n_ord
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    write("region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["blue", "green", "large", "red", "shiny", "small"])
    noun = np.array(["anvil", "bolt", "gear", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 6, n_part)], " "),
            noun[rng.integers(0, 6, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(_days(1995, 1, 1), _days(2001, 8, 2), n_ord)),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    write("lineitem", {
        "l_orderkey": i64(np.sort(rng.integers(0, n_ord, n_li))),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(_days(1995, 1, 2), _days(2001, 11, 5), n_li)),
    })
    # Empty tables that register_tables also registers.
    pq.write_table(pa.table({
        "event_id": pa.array([], pa.int64()), "ts": pa.array([], pa.timestamp("us")),
        "user_id": pa.array([], pa.int64()), "event_type": pa.array([], pa.string()),
        "value": pa.array([], pa.float64()), "props": pa.array([], pa.string()),
    }), os.path.join(out_dir, "events.parquet"))
    pq.write_table(_documents_table(np.zeros(0, np.int64), [], []),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array([], pa.int64()),
        "embedding": pa.array([], pa.list_(pa.float32())),
        "label": pa.array([], pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {
        "sf_dir": out_dir, "sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord,
        "customer_rows": n_cust, "part_rows": n_part, "supplier_rows": n_supp,
    }


def _documents_table(doc_id: np.ndarray, texts: list, sources: list) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is"]


def gen_corpus(seed: int, out_dir: str, docs: int, tokens: int) -> dict:
    """Web-corpus-shaped ``documents.parquet``: ``docs`` documents of
    ``tokens`` tokens (about 15 % English stopwords, the rest from a
    5000-word vocabulary). Of them:

    * 25 % are planted near-duplicates: a copy of an earlier original
      with one or two tokens replaced (3-gram Jaccard >= 0.85), listed in
      ``planted_pairs`` as (original, copy);
    * 4 % are exact duplicates of an earlier original;
    * 4 % are low-quality (short, repetitive) and fail the quality gate.

    Doc ids are a seeded permutation, so duplicates are not adjacent.
    """
    rng = _rng(seed, "corpus_dedup")
    vocab = np.array([f"w{i}" for i in range(5000)] + STOPWORDS_EN)
    n_near = docs // 4
    n_exact = docs // 25
    n_low = docs // 25
    n_orig = docs - n_near - n_exact - n_low
    stop = rng.random((n_orig, tokens)) < 0.15
    toks = np.where(
        stop,
        rng.integers(5000, 5000 + len(STOPWORDS_EN), (n_orig, tokens)),
        rng.integers(0, 5000, (n_orig, tokens)),
    )
    near_of = rng.choice(n_orig, n_near, replace=False)
    near = toks[near_of].copy()
    for k in (1, 2):
        rows = np.arange(n_near) if k == 1 else np.flatnonzero(rng.random(n_near) < 0.5)
        near[rows, rng.integers(0, tokens, len(rows))] = rng.integers(0, 5000, len(rows))
    exact_of = rng.choice(n_orig, n_exact, replace=False)
    low = np.repeat(rng.integers(0, 5000, (n_low, 1)), 8, axis=1)
    texts = [" ".join(vocab[r]) for r in np.vstack([toks, near, toks[exact_of]])]
    texts += [" ".join(vocab[r]) for r in low]
    ids = rng.permutation(docs).astype(np.int64)
    sources = [f"src{i}" for i in rng.integers(0, 8, docs)]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents_table(ids, texts, sources),
                   os.path.join(out_dir, "documents.parquet"))
    planted = np.stack([ids[near_of], ids[n_orig + np.arange(n_near)]], axis=1)
    return {
        "sf_dir": out_dir, "documents": docs, "tokens_per_doc": tokens,
        "near_duplicates": n_near, "exact_duplicates": n_exact,
        "low_quality": n_low, "planted_pairs": planted.tolist(),
    }


GENERATORS = {
    "sssp_converge": gen_graph,
    "tpch_sql": gen_tpch,
    "corpus_dedup": gen_corpus,
}


def generate(workload: str, seed: int, size: str, out_dir: str) -> dict:
    return GENERATORS[workload](seed, out_dir, **SIZES[workload][size])


if __name__ == "__main__":
    wl, seed, size, out = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    print(json.dumps(generate(wl, seed, size, out)))
