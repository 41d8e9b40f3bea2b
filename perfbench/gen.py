"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (numpy ``PCG64``), so the
same seed writes byte-identical files. Sizes are fixed per workload: a
different seed changes which edges and values appear, never how much
work a request does, which is what keeps run-to-run spread small.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# bfs_deep: BANDS consecutive id bands of WIDTH vertices. Every vertex has
# a backbone edge to its successor and DEGREE random edges forward inside
# a window of one band width, so one BFS level advances less than a band
# and no frontier exceeds a few hundred rows. The per-level job floor is
# most of a traversal's time, so the level count is held fixed: a seed's
# graph is redrawn until vertex 0 is DEPTH levels from its farthest
# vertex, and the other sources are first-band vertices with that depth.
DEEP_BANDS = 4
DEEP_WIDTH = 300
DEEP_DEGREE = 3
DEEP_DEPTH = 7

# bfs_wide: a uniform random multigraph over WIDE_N vertices with a
# Hamiltonian backbone (the ``benchmarks.synthesize_graph`` shape). Few
# levels; the widest one holds about half the vertices, far above
# WIDE_BROADCAST_ROWS, the ``bfs(broadcast_frontier_rows=)`` the workload
# passes, so the shuffle-join rounds and the deferred repartition run.
WIDE_N = 20_000
WIDE_M = 80_000
WIDE_BROADCAST_ROWS = 2_000

# Sources per traversal workload, cycled in order; the first is vertex 0.
N_SOURCES = 3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> str:
    with open(path, "w") as f:
        f.write("\n".join(f"{a} {b}" for a, b in zip(src.tolist(), dst.tolist())))
        f.write("\n")
    return path


def eccentricity(n: int, src: np.ndarray, dst: np.ndarray, source: int) -> int:
    """BFS depth of ``source`` in the undirected graph; -1 if disconnected."""
    adj: list[list[int]] = [[] for _ in range(n)]
    for a, b in zip(src.tolist(), dst.tolist()):
        adj[a].append(b)
        adj[b].append(a)
    seen = {source}
    frontier, depth = [source], 0
    while frontier:
        nxt = [w for v in frontier for w in adj[v] if w not in seen]
        seen.update(nxt)
        frontier = list(dict.fromkeys(nxt))
        depth += bool(frontier)
    return depth if len(seen) == n else -1


def deep_graph(seed: int, out_dir: str) -> tuple[str, list[int]]:
    """Banded long-diameter edge list; returns ``(path, sources)``."""
    n = DEEP_BANDS * DEEP_WIDTH
    ids = np.arange(n, dtype=np.int64)
    for attempt in range(1000):
        rng = _rng(seed, 1000 + attempt)
        rnd_src = np.repeat(ids, DEEP_DEGREE)
        rnd_dst = rnd_src + rng.integers(1, DEEP_WIDTH + 1, size=rnd_src.size)
        keep = rnd_dst < n
        src = np.concatenate([ids[:-1], rnd_src[keep]])
        dst = np.concatenate([ids[1:], rnd_dst[keep]])
        if eccentricity(n, src, dst, 0) != DEEP_DEPTH:
            continue
        sources = [0]
        for v in rng.permutation(np.arange(1, DEEP_WIDTH)).tolist():
            if eccentricity(n, src, dst, v) == DEEP_DEPTH:
                sources.append(v)
                if len(sources) == N_SOURCES:
                    break
        if len(sources) == N_SOURCES:
            break
    else:
        raise RuntimeError(f"no depth-{DEEP_DEPTH} banded graph for seed {seed}")
    order = rng.permutation(src.size)
    # orientation is irrelevant to an undirected BFS; flip half so the
    # file does not list every edge low-to-high
    flip = rng.random(src.size) < 0.5
    src, dst = np.where(flip, dst, src)[order], np.where(flip, src, dst)[order]
    return _write_edges(os.path.join(out_dir, "deep.txt"), src, dst), sources


def wide_graph(seed: int, out_dir: str) -> tuple[str, list[int]]:
    """Uniform random graph plus backbone; returns ``(path, sources)``."""
    rng = _rng(seed, 2)
    back = np.arange(WIDE_N - 1, dtype=np.int64)
    extra = WIDE_M - (WIDE_N - 1)
    src = np.concatenate([back, rng.integers(0, WIDE_N, size=extra)])
    dst = np.concatenate([back + 1, rng.integers(0, WIDE_N, size=extra)])
    order = rng.permutation(src.size)
    others = rng.choice(np.arange(1, WIDE_N), size=N_SOURCES - 1, replace=False)
    sources = [0, *(int(s) for s in others)]
    return _write_edges(os.path.join(out_dir, "wide.txt"), src[order], dst[order]), sources


# --- catalog tables ------------------------------------------------------
# Same schemas and value domains as the engine's sf* test tables, at
# roughly the sf0.01 row counts: lineitem ~60k rows.

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 1_000
N_EMB = 1_000
EMB_DIM = 64
EMB_LABELS = 10

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "us") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def tables(seed: int, out_dir: str) -> str:
    """Write every catalog table as ``<out_dir>/<name>.parquet``."""
    rng = _rng(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, N_PART), rng.choice(_PART_NOUN, N_PART))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(_PART_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2),
        }
    )
    odays = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000, 500_000, N_ORDERS),
            "o_orderdate": _days("1995-01-01", odays),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        }
    )
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(i32)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, N_PART, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
            "l_linenumber": l_num,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days("1995-01-01", odays[l_order] + rng.integers(1, 122, n_li)),
        }
    )
    gaps_us = np.maximum(1, rng.exponential(260e6, N_EVENTS)).astype(np.int64)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.01, 490.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, N_DOCS)
    ]
    for i in rng.choice(np.arange(1, N_DOCS), N_DOCS // 40, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]  # exact duplicates for dedup
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, N_DOCS),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, EMB_LABELS, N_EMB)
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    vecs = centers[labels] + 0.8 * rng.normal(size=(N_EMB, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(N_EMB, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(i32),
        }
    )
    for name, df in out.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
