"""The benchmark's workloads: what one request is and how its answer is checked.

A request is one catalog query or one BFS traversal, timed from the call
until the complete result is in the driver as a pandas frame. Checks run
after the clock stops, against answers computed once per run outside
the engine: DuckDB over each query's registry ``oracle`` SQL, and the
serial BFS oracle in ``tests/graph_oracle.py``.
"""

from __future__ import annotations

import os
import random

import pandas as pd

import gen

SQL_MIX = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q_window_topk",
    "q_events_sessionize",
    "q_text_tfidf",
    "q_asof_join",
    "q_pipeline_prepare",
    "q_dedup_exact",
)
PYWORKER = (
    "q_similarity_ivfpq_spill",
    "q_similarity_ivf_search",
    "q_similarity_topk",
    "q_udf_char_entropy",
    "q_udtf_chunk_documents",
)


def check_bfs(pdf: pd.DataFrame, expected: dict[int, tuple]) -> list[str]:
    """Compare a ``bfs`` result with ``{id: (dist, path)}``; [] means correct."""
    if len(pdf) != len(expected):
        return [f"rowcount: got {len(pdf)} want {len(expected)}"]
    ids = {int(v) for v in pdf["id"]}
    if ids != set(expected):
        return [f"vertex ids: {len(set(expected) - ids)} missing, {len(ids - set(expected))} unknown, "
                f"{len(pdf) - len(ids)} repeated"]
    problems = []
    for vid, dist, path in zip(pdf["id"], pdf["dist"], pdf["path"]):
        got = (
            None if pd.isna(dist) else int(dist),
            None if path is None else tuple(int(x) for x in path),
        )
        want = expected.get(int(vid), "missing")
        if got != want:
            problems.append(f"vertex {vid}: got {got} want {want}")
            if len(problems) >= 3:
                break
    return problems


class Graph:
    """``read_edge_list`` + ``bfs(with_paths=True)`` + ``toPandas``."""

    def __init__(self, make, broadcast_rows: int | None, pass_s: float):
        self._make = make
        self.broadcast_rows = broadcast_rows
        self.pass_s = pass_s

    def generate(self, seed: int, work: str) -> None:
        self.path, self.sources = self._make(seed, work)
        self.keys = list(self.sources)

    def prepare(self, catalog) -> None:
        from graph_oracle import bfs_oracle, load_edge_list

        edges = load_edge_list(self.path)
        self.expected = {}
        for s in self.sources:
            self.expected[s] = {
                v: (d, None if p is None else tuple(p))
                for v, (d, p) in bfs_oracle(edges, s).items()
            }
        # Graph500 TEPS counts undirected, self-loop-free, distinct edges
        # of the reached component; every generated graph is connected
        self.n_edges = len({(min(a, b), max(a, b)) for a, b in edges if a != b})

    def pass_keys(self, seed: int, pass_no: int) -> list:
        return list(self.keys)

    def reset(self) -> None:
        pass

    def run(self, key, ctx) -> pd.DataFrame:
        from bfs_mapreduce_spark.operators.graph import bfs
        from bfs_mapreduce_spark.sources.readers import read_edge_list

        spans, stats = ctx.spans, ctx.stats
        with spans.span("sources.read_edge_list"):
            edges = read_edge_list(ctx.spark, self.path)
        kwargs = {}
        if self.broadcast_rows is not None:
            kwargs["broadcast_frontier_rows"] = self.broadcast_rows
        with spans.span("graph.bfs"):
            result = bfs(edges, source=key, with_paths=True, stats=stats, **kwargs)
        with spans.span("exec.action"):
            return result.toPandas()

    def check(self, key, pdf: pd.DataFrame) -> list[str]:
        return check_bfs(pdf, self.expected[key])


class Catalog:
    """``registry`` query: ``Query.build`` + ``toPandas``, DuckDB-checked."""

    def __init__(self, queries: tuple[str, ...], clear_train_memo: bool, pass_s: float):
        self.queries = queries
        self.pass_s = pass_s
        self.keys = list(queries)
        self.clear_train_memo = clear_train_memo

    def generate(self, seed: int, work: str) -> None:
        self.sf_dir = gen.tables(seed, os.path.join(work, "tables"))

    def prepare(self, catalog) -> None:
        from oracle_utils import duckdb_connection

        con = duckdb_connection(self.sf_dir)
        self.expected = {q: con.execute(catalog[q].oracle).df() for q in self.queries}
        con.close()
        self.catalog = catalog
        if self.clear_train_memo:
            from bfs_mapreduce_spark.operators import similarity_queries

            # Every request must train from source. If the engine's
            # training memo moves or is renamed, clearing it silently
            # stops working, so refuse to run instead.
            if not isinstance(getattr(similarity_queries, "_TRAIN_CACHE", None), dict):
                raise RuntimeError(
                    "similarity_queries._TRAIN_CACHE is gone: the pyworker "
                    "workload can no longer force training from source"
                )
            self._memo = similarity_queries._TRAIN_CACHE

    def pass_keys(self, seed: int, pass_no: int) -> list:
        keys = list(self.queries)
        random.Random(seed * 1_000_003 + pass_no).shuffle(keys)
        return keys

    def reset(self) -> None:
        if self.clear_train_memo:
            self._memo.clear()

    def run(self, key, ctx) -> pd.DataFrame:
        with ctx.spans.span("registry.build"):
            df = self.catalog[key].build(ctx.spark, self.sf_dir)
        with ctx.spans.span("exec.action"):
            return df.toPandas()

    def check(self, key, pdf: pd.DataFrame) -> list[str]:
        from oracle_utils import compare

        return compare(pdf, self.expected[key])


def make(name: str):
    """The named workload. ``pass_s`` is the time of one warm pass over
    its requests on the reference host (4 vCPUs); it sets how many
    passes fit in ``--seconds``."""
    if name == "bfs_deep":
        return Graph(gen.deep_graph, None, pass_s=9.0)
    if name == "bfs_wide":
        return Graph(gen.wide_graph, gen.WIDE_BROADCAST_ROWS, pass_s=20.0)
    if name == "sql_mix":
        return Catalog(SQL_MIX, clear_train_memo=False, pass_s=7.0)
    if name == "pyworker":
        return Catalog(PYWORKER, clear_train_memo=True, pass_s=8.0)
    raise KeyError(name)


NAMES = ("bfs_deep", "bfs_wide", "sql_mix", "pyworker")
