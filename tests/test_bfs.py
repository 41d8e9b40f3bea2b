"""Golden tests for the BFS operator (SURVEY.md §5.2 item 1).

Goldens come from an independent serial BFS with the spec semantics —
forward path, lexicographic tie-break, NULL dist when unreachable —
run on the reference's shipped datasets plus synthesized fixtures the
reference cannot handle (disconnected graphs hang it, SURVEY §2.9 W2).
"""

import pytest
from pyspark.sql import functions as F

from bfs_mapreduce_spark.operators.graph import adjacency, bfs, undirected_edges
from bfs_mapreduce_spark.sources.readers import read_edge_list

from tests.graph_oracle import bfs_oracle, load_edge_list

TINY = "/root/reference/datasets/tinyG.txt"
SMALL = "/root/reference/datasets/smallG.txt"

DISCONNECTED = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (6, 7), (8, 8)]
MULTI_EDGE = [(0, 1), (0, 1), (1, 0), (1, 2), (2, 2), (0, 2), (2, 3), (3, 0), (4, 3)]


def run_and_compare(spark, edges, source=0, directed=False):
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["id"]: (r["dist"], r["path"])
        for r in bfs(edges_df, source=source, directed=directed).collect()
    }
    want = bfs_oracle(edges, source=source, directed=directed)
    assert got == want


@pytest.mark.parametrize("path", [TINY, SMALL], ids=["tinyG", "smallG"])
def test_reference_datasets_golden(spark, path):
    edges_df = read_edge_list(spark, path)
    got = {r["id"]: (r["dist"], r["path"]) for r in bfs(edges_df).collect()}
    want = bfs_oracle(load_edge_list(path))
    assert got == want


def test_disconnected_graph_null_dist(spark):
    run_and_compare(spark, DISCONNECTED)
    edges_df = spark.createDataFrame(DISCONNECTED, "src bigint, dst bigint")
    rows = {r["id"]: r["dist"] for r in bfs(edges_df).collect()}
    assert rows[1] == 1 and rows[2] == 1
    assert rows[3] is None and rows[6] is None and rows[8] is None


def test_trivial_graphs(spark):
    run_and_compare(spark, [(0, 1)])
    # source-only graph: a single self-loop edge at the source
    run_and_compare(spark, [(0, 0)])


def test_multi_edge_and_self_loops(spark):
    run_and_compare(spark, MULTI_EDGE)


def test_nonzero_source(spark):
    run_and_compare(spark, load_edge_list(TINY), source=5)


def test_directed_bfs(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 1), (4, 0)]
    run_and_compare(spark, edges, directed=True)  # 4 unreachable


def test_deterministic_tie_break(spark):
    # two shortest paths to 3: [0,1,3] and [0,2,3] — spec picks [0,1,3]
    edges = [(0, 1), (0, 2), (1, 3), (2, 3)]
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows = {r["id"]: r["path"] for r in bfs(edges_df).collect()}
    assert rows[3] == [0, 1, 3]


def test_adjacency_operator(spark):
    edges_df = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 0)], "src bigint, dst bigint")
    adj = {r["src"]: r["neighbours"] for r in adjacency(edges_df).collect()}
    assert adj == {0: [1, 2], 1: [0, 2], 2: [0, 1]}


def test_undirected_edges_dedup(spark):
    edges_df = spark.createDataFrame([(0, 1), (1, 0), (0, 1), (2, 2)], "src bigint, dst bigint")
    assert undirected_edges(edges_df).count() == 2


# ---------------------------------------------------------------- RDD variant


def run_and_compare_rdd(spark, edges, source=0, directed=False):
    from bfs_mapreduce_spark.operators.graph import bfs_rdd

    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["id"]: (r["dist"], r["path"])
        for r in bfs_rdd(edges_df, source=source, directed=directed).collect()
    }
    want = bfs_oracle(edges, source=source, directed=directed)
    assert got == want


@pytest.mark.parametrize("path", [TINY, SMALL], ids=["tinyG", "smallG"])
def test_rdd_reference_datasets_golden(spark, path):
    run_and_compare_rdd(spark, load_edge_list(path))


def test_rdd_disconnected_and_ties(spark):
    run_and_compare_rdd(spark, DISCONNECTED)
    # two shortest paths to 3 — lexicographic tie-break must hold in the
    # aggregateByKey reduction as well
    from bfs_mapreduce_spark.operators.graph import bfs_rdd

    edges_df = spark.createDataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], "src bigint, dst bigint")
    rows = {r["id"]: r["path"] for r in bfs_rdd(edges_df).collect()}
    assert rows[3] == [0, 1, 3]


def test_rdd_matches_dataframe_engine(spark):
    from bfs_mapreduce_spark.operators.graph import bfs_rdd

    edges = load_edge_list(SMALL)
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    df_res = {(r["id"], r["dist"]) for r in bfs(edges_df, with_paths=False).collect()}
    rdd_res = {(r["id"], r["dist"]) for r in bfs_rdd(edges_df, with_paths=False).collect()}
    assert df_res == rdd_res


# ---------------------------------------------------------------- PageRank


def test_pagerank_matches_python_reference(spark):
    from bfs_mapreduce_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["pr"] for r in pagerank(edges_df, iterations=20).collect()}

    # independent dense power iteration
    verts = sorted({v for e in edges for v in e})
    out = {v: [d for s, d in edges if s == v] for v in verts}
    pr = {v: 1 / len(verts) for v in verts}
    for _ in range(20):
        nxt = {v: 0.15 / len(verts) for v in verts}
        for u in verts:
            for d in out[u]:
                nxt[d] += 0.85 * pr[u] / len(out[u])
        pr = nxt
    assert got.keys() == pr.keys()
    for v in verts:
        assert abs(got[v] - pr[v]) < 1e-9, (v, got[v], pr[v])


def test_bfs_source_df_and_sources_are_exclusive(spark):
    from bfs_mapreduce_spark.operators.graph import bfs

    edges = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="not both"):
        bfs(edges, source_df=edges.agg(F.min("src")), sources=[0, 1])


def test_bfs_source_df_contract(spark):
    """source_df seed contract: >1 column raises; an empty seed frame
    raises (instead of silently returning all-NULL dists) when the row
    count is undeclared."""
    from bfs_mapreduce_spark.operators.graph import bfs

    edges = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="exactly one column"):
        bfs(edges, source_df=edges)
    with pytest.raises(ValueError, match="no seed rows"):
        bfs(edges, source_df=edges.filter(F.col("src") < 0).select("src"))


def test_bfs_multi_row_source_df_matches_sources(spark):
    """An N-row seed DataFrame runs multi-source BFS identical to the
    driver-side sources=[...] form — dist to the NEAREST seed — both
    with a declared row count (lazy seed plan) and counted."""
    from bfs_mapreduce_spark.operators.graph import bfs

    # path 0-1-2-3-4-5 plus isolated-ish branch 5-6
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src bigint, dst bigint"
    )
    want = {
        (r["id"], r["dist"])
        for r in bfs(edges, sources=[0, 5], with_paths=False).collect()
    }
    seeds = spark.createDataFrame([(0,), (5,)], "id bigint")
    got_declared = {
        (r["id"], r["dist"])
        for r in bfs(edges, source_df=seeds, source_df_rows=2, with_paths=False).collect()
    }
    got_counted = {
        (r["id"], r["dist"])
        for r in bfs(edges, source_df=seeds, with_paths=False).collect()
    }
    assert want == got_declared == got_counted
    assert (2, 2) in want and (3, 2) in want  # nearest-seed distances


def test_bfs_stats_round_instrumentation(spark):
    from bfs_mapreduce_spark.operators.graph import bfs

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src bigint, dst bigint"
    )
    stats = {}
    bfs(edges, with_paths=False, stats=stats).count()
    rounds = stats["rounds"]
    # 3 discovery rounds + 1 empty terminating round, frontiers 1,1,1,0
    assert [f for _, f, _ in rounds] == [1, 1, 1, 0]
    assert all(sec >= 0 for _, _, sec in rounds)


def _tarjan_scc(edges):
    """Reference SCC labels (iterative Tarjan) — min member per SCC."""
    verts = sorted({v for e in edges for v in e})
    adj = {v: [] for v in verts}
    for a, b in edges:
        adj[a].append(b)
    index, low, on, stack, out = {}, {}, set(), [], {}
    counter = [0]
    for start in verts:
        if start in index:
            continue
        work = [(start, iter(adj[start]))]
        index[start] = low[start] = counter[0]; counter[0] += 1
        stack.append(start); on.add(start)
        while work:
            x, nbrs = work[-1]
            advanced = False
            for w in nbrs:
                if w not in index:
                    index[w] = low[w] = counter[0]; counter[0] += 1
                    stack.append(w); on.add(w)
                    work.append((w, iter(adj[w]))); advanced = True
                    break
                elif w in on:
                    low[x] = min(low[x], index[w])
            if not advanced:
                work.pop()
                if work:
                    low[work[-1][0]] = min(low[work[-1][0]], low[x])
                if low[x] == index[x]:
                    comp = []
                    while True:
                        w = stack.pop(); on.discard(w); comp.append(w)
                        if w == x:
                            break
                    m = min(comp)
                    for w in comp:
                        out[w] = m
    return out


def test_scc_matches_tarjan_on_random_digraphs(spark):
    """strongly_connected_components (FW-BW coloring + trim) must
    produce identical canonical labels (scc_id = min member) to an
    independent sequential Tarjan on seeded random digraphs covering
    cycles, DAG fringes, and disconnected pieces."""
    import random

    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    rng = random.Random(1234)
    for n, m in ((12, 18), (25, 50), (40, 60)):
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
        # self-loops deliberately KEPT: a vertex whose only edge is a
        # self-loop is a valid singleton SCC and must get an output row
        want = _tarjan_scc(edges)
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r.v: r.scc_id for r in strongly_connected_components(df).collect()}
        assert got == want, (n, m)


def test_scc_self_loop_only_vertex_is_singleton(spark):
    """A vertex whose ONLY edges are self-loops must still be emitted
    as a singleton SCC (regression: the self-loop filter used to drop
    it from the vertex set entirely)."""
    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    edges = [(0, 1), (1, 0), (7, 7), (3, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.v: r.scc_id for r in strongly_connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 3: 3, 4: 4, 7: 7}


def test_scc_pure_cycle_and_dag(spark):
    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    # 5-cycle plus a tail: cycle is one SCC rooted at its min, tail
    # vertices trim away as singletons
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(5, 6), (6, 7), (4, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.v: r.scc_id for r in strongly_connected_components(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 7}


def test_scc_truncation_yields_null_not_wrong(spark, caplog):
    """Exhausting max_rounds mid-color-propagation must NEVER extract
    from the non-converged coloring (false roots would get concrete
    WRONG scc_ids): the remainder is labeled NULL with a warning."""
    import logging

    from bfs_mapreduce_spark.operators.graph import strongly_connected_components

    n = 40
    edges = [(i, (i + 1) % n) for i in range(n)]  # one n-cycle: one SCC, min 0
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    with caplog.at_level(logging.WARNING, logger="bfs_mapreduce_spark.operators.graph"):
        out = {
            r.v: r.scc_id
            for r in strongly_connected_components(df, max_rounds=10).collect()
        }
    assert any("max_rounds" in r.message for r in caplog.records)
    assert set(out) == set(range(n))
    assert all(s is None for s in out.values())  # NULL, never a wrong id


def test_auto_edge_partitions_sizing(spark, tmp_path):
    """Edge partitions are sized by input bytes: small file inputs get
    the floor (8) UNLESS the session default is narrower — the session
    default is the hard cap (round-9 contract fix: a user who pinned
    shuffle.partitions below 8 never sees a wider exchange) — and
    in-memory frames (no input files) fall back to the session
    default."""
    from bfs_mapreduce_spark.operators.graph import _auto_edge_partitions

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    assert _auto_edge_partitions(small, directed=False) == default  # no files

    p = str(tmp_path / "edges.parquet")
    spark.range(1000).selectExpr("id AS src", "id + 1 AS dst").write.parquet(p)
    got = _auto_edge_partitions(spark.read.parquet(p), directed=False)
    # tiny file -> floor of 8, hard-capped by the session default (4
    # in this test session, so the cap is what we observe)
    assert got == min(default, 8)

    # the cap: a synthetic huge byte count would exceed the default —
    # verified arithmetically against the same formula constants
    total = 100 * (1 << 40)  # 100 TB
    assert min(default, total // (16 << 20) + 1) == default


def test_scc_jumps_matches_shipped(spark):
    """Round-12 (verdict ask #6): the opt-in pointer-jumping color
    formulation (c(v) <- min(c(v), c(c(v))), spill-truncated) produces
    byte-identical SCC labels to the shipped fixpoint on random
    digraphs, in strictly fewer color rounds on a deep cycle."""
    import random

    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.operators.graph import (
        strongly_connected_components,
    )

    rng = random.Random(12)
    for _ in range(3):
        n = rng.randint(8, 18)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(n, 3 * n))
        ]
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        want = sorted(
            tuple(r) for r in strongly_connected_components(df).collect()
        )
        got = sorted(
            tuple(r)
            for r in strongly_connected_components(df, jumps=True).collect()
        )
        assert got == want

    # one deep cycle: shipped needs O(n) color rounds, jumps O(log n)
    n = 64
    cyc = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src bigint, dst bigint"
    )
    s_ship, s_jump, s_auto = {}, {}, {}
    a = strongly_connected_components(cyc, stats=s_ship, jumps=False).collect()
    b = strongly_connected_components(cyc, stats=s_jump, jumps=True).collect()
    c = strongly_connected_components(cyc, stats=s_auto, jumps="auto").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) == sorted(map(tuple, c))

    def rounds(s, phase):
        return sum(r for _p, ph, r, _s in s["phases"] if ph == phase)

    # round 12: BOTH propagation phases collapse — the backward walk
    # was O(diameter) frontier rounds (95% of dscc-deep's runtime
    # after the color fix), now the same O(log d) jump formulation
    for phase in ("color", "backward"):
        assert rounds(s_jump, phase) < rounds(s_ship, phase) / 3, (
            phase,
            rounds(s_jump, phase),
            rounds(s_ship, phase),
        )
    # round 13: the adaptive default also collapses both phases —
    # periodic jump rounds bound the fixpoint at ~cadence x log2(d)
    # (64-cycle: far below the shipped one-hop walk's 64 rounds)
    for phase in ("color", "backward"):
        assert rounds(s_auto, phase) < rounds(s_ship, phase) / 2, (
            phase,
            rounds(s_auto, phase),
            rounds(s_ship, phase),
        )


@pytest.mark.parametrize("with_paths", [False, True], ids=["dist", "paths"])
def test_bfs_deferred_repartition_swap(spark, with_paths):
    """Round-19 deferred edge repartition: the co-locating hash(src)
    exchange only happens the first time a frontier exceeds
    broadcast_frontier_rows. Force the swap with a tiny threshold on
    smallG (frontiers reach 30+) and on a synthetic fixture covering
    the non-reached_only output path, and demand results identical to
    the broadcast-only default."""
    edges_df = read_edge_list(spark, SMALL)
    want = {r["id"]: (r["dist"], r["path"]) for r in bfs(edges_df).collect()}
    got = {
        r["id"]: (r["dist"], r["path"])
        for r in bfs(edges_df, broadcast_frontier_rows=2).collect()
    }
    assert got == want

    dis = spark.createDataFrame(DISCONNECTED, "src bigint, dst bigint")

    def key(r):
        out = [r["id"], r["dist"]]
        if with_paths:
            out.append(tuple(r["path"]) if r["path"] is not None else None)
        return tuple(out)

    base = {key(r) for r in bfs(dis, with_paths=with_paths).collect()}
    swapped = {
        key(r)
        for r in bfs(
            dis, with_paths=with_paths, broadcast_frontier_rows=1
        ).collect()
    }
    assert swapped == base


# --------------------------------------- driver-resident / checkpoint boundary

# Source 0 with broadcast_frontier_rows=3: level 1 is exactly 3 rows
# (kept in the driver), level 2 is 4 rows (level 1's growth of 3
# predicts the overflow, so it and the next levels are checkpointed and
# run as shuffle-join rounds). The second-to-last group points back at
# visited vertices (harmless undirected, anti-joined when directed); 11
# is a self-loop-only vertex, 20-21 an unreachable component.
BOUNDARY_T = 3
BOUNDARY = (
    [(0, 1), (0, 2), (0, 3), (1, 4), (1, 5), (2, 5), (2, 6), (3, 7)]
    + [(4, 8), (7, 8), (6, 9), (9, 10)]
    + [(5, 1), (8, 7), (10, 9), (6, 7)]
    + [(11, 11), (20, 21)]
)
BOUNDARY_LEVELS = [3, 4, 2, 1, 0]
# a broken guard can lose a vertex and ping-pong forever: fail fast
BOUNDARY_MAX_ROUNDS = 10


def multi_source_oracle(edges, seeds):
    """Undirected bfs_oracle from a virtual root -1 with an arc to every
    seed: dist to the nearest seed, and the lexicographically smallest
    path among the nearest seeds' shortest paths."""
    arcs = edges + [(b, a) for a, b in edges] + [(-1, s) for s in seeds]
    got = bfs_oracle(arcs, source=-1, directed=True)
    return {
        v: (None, None) if d is None else (d - 1, p[1:])
        for v, (d, p) in got.items()
        if v != -1
    }


def _levels(oracle):
    dists = [d for d, _ in oracle.values() if d is not None and d > 0]
    return [dists.count(k) for k in range(1, max(dists) + 1)] + [0]


def _rows(df, with_paths):
    return {
        r["id"]: (r["dist"], r["path"] if with_paths else None) for r in df.collect()
    }


@pytest.mark.parametrize("limit", ["broadcast_frontier_rows", "resident_cap"])
@pytest.mark.parametrize("directed", [False, True], ids=["undirected", "directed"])
@pytest.mark.parametrize("with_paths", [True, False], ids=["paths", "dist"])
def test_bfs_exact_across_collect_guard(spark, monkeypatch, with_paths, directed, limit):
    """A level of exactly the resident limit stays driver-resident, the
    next one (one row more) and the levels the growth says may overflow
    are checkpointed: the answer and the per-round frontier sizes,
    terminating 0 included, match the oracle. The limit is either the
    caller's broadcast_frontier_rows or the module's resident cap under
    a default threshold."""
    from bfs_mapreduce_spark.operators import graph

    want = bfs_oracle(BOUNDARY, directed=directed)
    assert _levels(want) == BOUNDARY_LEVELS
    if not with_paths:
        want = {v: (d, None) for v, (d, _) in want.items()}
    edges = spark.createDataFrame(BOUNDARY, "src bigint, dst bigint")
    kwargs = {}
    if limit == "broadcast_frontier_rows":
        kwargs["broadcast_frontier_rows"] = BOUNDARY_T
    else:
        monkeypatch.setattr(graph, "_RESIDENT_ROWS", BOUNDARY_T)
    checkpointed = []
    ckpt_lazy = graph._ckpt_lazy
    monkeypatch.setattr(
        graph, "_ckpt_lazy", lambda df: checkpointed.append(1) or ckpt_lazy(df)
    )
    stats = {}
    got = bfs(
        edges, with_paths=with_paths, directed=directed,
        max_rounds=BOUNDARY_MAX_ROUNDS, stats=stats, **kwargs,
    )
    assert _rows(got, with_paths) == want
    assert [n for _, n, _ in stats["rounds"]] == BOUNDARY_LEVELS
    # levels 1 and 5 (the empty one, 1 row x growth 3) collected; 2-4
    # checkpointed
    assert len(checkpointed) == 3


@pytest.mark.parametrize("with_paths", [True, False], ids=["paths", "dist"])
def test_bfs_guard_trip_reruns_level(spark, monkeypatch, with_paths):
    """Three seeds, levels 3, 4, 1: level 1 is exactly the limit with a
    growth of 1, so level 2 (one row more) is collected, trips the
    guard and is re-run on the checkpoint path, as is every later
    level."""
    from bfs_mapreduce_spark.operators import graph

    seeds = [0, 1, 2]
    edges_list = [(0, 10), (1, 11), (2, 12), (10, 20), (11, 21), (12, 22), (12, 23), (23, 30)]
    want = multi_source_oracle(edges_list, seeds)
    if not with_paths:
        want = {v: (d, None) for v, (d, _) in want.items()}
    checkpointed = []
    ckpt_lazy = graph._ckpt_lazy
    monkeypatch.setattr(
        graph, "_ckpt_lazy", lambda df: checkpointed.append(1) or ckpt_lazy(df)
    )
    edges = spark.createDataFrame(edges_list, "src bigint, dst bigint")
    stats = {}
    got = bfs(
        edges, sources=seeds, with_paths=with_paths, broadcast_frontier_rows=BOUNDARY_T,
        max_rounds=BOUNDARY_MAX_ROUNDS, stats=stats,
    )
    assert _rows(got, with_paths) == want
    assert [n for _, n, _ in stats["rounds"]] == [3, 4, 1, 0]
    assert len(checkpointed) == 3  # level 2 (the re-run), 3 and the empty 4


@pytest.mark.parametrize(
    "seeding", ["sources", "source_df_declared", "source_df_counted", "reached_only"]
)
def test_bfs_seed_forms_across_collect_guard(spark, seeding):
    """The seed forms and reached_only across the same guard trip: 11
    is a second seed whose only edge is a self-loop, so the frontier
    sizes are those of the single-source traversal."""
    edges = spark.createDataFrame(BOUNDARY, "src bigint, dst bigint")
    kwargs = {"broadcast_frontier_rows": BOUNDARY_T, "max_rounds": BOUNDARY_MAX_ROUNDS}
    seeds = [0, 11]
    if seeding == "sources":
        kwargs["sources"] = seeds
    elif seeding == "reached_only":
        kwargs.update(sources=seeds, reached_only=True)
    else:
        kwargs["source_df"] = spark.range(0, 12, 11)
        if seeding == "source_df_declared":
            kwargs["source_df_rows"] = 2
    want = multi_source_oracle(BOUNDARY, seeds)
    if seeding == "reached_only":
        want = {v: dp for v, dp in want.items() if dp[0] is not None}
    stats = {}
    got = _rows(bfs(edges, stats=stats, **kwargs), with_paths=True)
    assert got == want
    assert [n for _, n, _ in stats["rounds"]] == BOUNDARY_LEVELS


def test_bfs_restores_loop_conf(spark):
    """The loop's conf overrides, the collect guard's first-job
    partition count included, end with the loop."""
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.limit.initialNumPartitions",
    )
    before = [spark.conf.get(k) for k in keys]
    edges = spark.createDataFrame(BOUNDARY, "src bigint, dst bigint")
    bfs(edges, broadcast_frontier_rows=BOUNDARY_T).collect()
    assert [spark.conf.get(k) for k in keys] == before


def test_driver_built_frames_are_local_relations(spark, sf_smoke_dir):
    """bfs seeds, the sssp seed and the BFS-histogram frame are JVM
    LocalRelations: their plans scan a LocalTableScan, never a Python
    RDD (whose scan would start Python workers)."""
    from bfs_mapreduce_spark.operators.graph import local_frame, sssp
    from bfs_mapreduce_spark.operators.graph_queries import q_graph_bfs_histogram
    from bfs_mapreduce_spark.plans.introspect import executed_plan

    edges = local_frame(spark, [(0, 1), (1, 2), (5, 6)], "src bigint, dst bigint")
    weighted = local_frame(spark, [(0, 1, 2.5)], "src bigint, dst bigint, w double")
    frames = {
        "bfs": bfs(edges, sources=[0, 5], reached_only=True),
        "sssp": sssp(weighted, source=0, max_hops=0, warn_on_truncation=False),
        "histogram": q_graph_bfs_histogram(spark, sf_smoke_dir),
    }
    for name, df in frames.items():
        plan = executed_plan(df)
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, (name, plan)
    assert sorted(tuple(r) for r in frames["sssp"].collect()) == [(0, 0.0)]
    assert _rows(frames["bfs"], with_paths=True) == {
        0: (0, [0]), 1: (1, [0, 1]), 2: (2, [0, 1, 2]), 5: (0, [5]), 6: (1, [5, 6]),
    }


@pytest.mark.parametrize("directed", [False, True], ids=["undirected", "directed"])
def test_dedup_edges_pays_one_exchange(spark, directed):
    """dedup_edges=True dedups under the co-locating hash(src)
    exchange: the cached edge plan holds that one exchange, the layout
    counts as partitioned (so the deferred repartition never runs), and
    forced shuffle-join rounds give the oracle's answer."""
    from bfs_mapreduce_spark.operators.graph import _edge_layout
    from bfs_mapreduce_spark.plans.introspect import exchange_count, executed_plan

    edges = spark.createDataFrame(MULTI_EDGE, "src bigint, dst bigint")
    _, cache, partitioned = _edge_layout(edges, directed, True, 4)
    try:
        plan = executed_plan(cache)
        assert partitioned
        assert exchange_count(cache) == 1, plan
        assert "hashpartitioning(src#" in plan and ", 4)" in plan, plan
    finally:
        cache.unpersist()
    want = bfs_oracle(MULTI_EDGE, directed=directed)
    for rows in (1, 200_000):
        got = bfs(
            edges, directed=directed, dedup_edges=True, broadcast_frontier_rows=rows
        )
        assert _rows(got, with_paths=True) == want
