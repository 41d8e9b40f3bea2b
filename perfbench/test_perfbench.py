"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import hashlib
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]

import gen  # noqa: E402
import probe  # noqa: E402
import workloads  # noqa: E402
from graph_oracle import bfs_oracle, load_edge_list  # noqa: E402


def _digest(path: str) -> str:
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


def _levels(path: str, source: int) -> Counter:
    dist = bfs_oracle(load_edge_list(path), source)
    assert all(d is not None for d, _ in dist.values()), "graph is not connected"
    return Counter(d for d, _ in dist.values())


@pytest.mark.parametrize("make", [gen.deep_graph, gen.wide_graph])
def test_graph_generation_is_seeded(tmp_path, make):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    pa, sa = make(7, str(a))
    pb, sb = make(7, str(b))
    pc, _ = make(8, str(c))
    assert _digest(pa) == _digest(pb) and sa == sb
    assert _digest(pa) != _digest(pc)
    assert sa[0] == 0 and len(set(sa)) == gen.N_SOURCES


def test_tables_are_seeded(tmp_path):
    a = gen.tables(3, str(tmp_path / "a"))
    b = gen.tables(3, str(tmp_path / "b"))
    c = gen.tables(4, str(tmp_path / "c"))
    for name in ("lineitem", "documents", "embeddings", "events"):
        assert _digest(f"{a}/{name}.parquet") == _digest(f"{b}/{name}.parquet")
        assert _digest(f"{a}/{name}.parquet") != _digest(f"{c}/{name}.parquet")


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_deep_graph_shape(tmp_path, seed):
    path, sources = gen.deep_graph(seed, str(tmp_path))
    for s in sources:
        levels = _levels(path, s)
        assert max(levels) == gen.DEEP_DEPTH
        assert max(levels.values()) <= 3 * gen.DEEP_WIDTH


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_wide_graph_shape(tmp_path, seed):
    path, sources = gen.wide_graph(seed, str(tmp_path))
    for s in sources:
        levels = _levels(path, s)
        assert max(levels) <= 10
        # at least one level runs as a shuffle join
        assert max(levels.values()) > gen.WIDE_BROADCAST_ROWS


def _oracle_frame(expected: dict) -> pd.DataFrame:
    rows = sorted(expected.items())
    return pd.DataFrame(
        {
            "id": [v for v, _ in rows],
            "dist": [d for _, (d, _) in rows],
            "path": [list(p) for _, (_, p) in rows],
        }
    )


@pytest.fixture()
def deep_expected(tmp_path):
    path, sources = gen.deep_graph(1, str(tmp_path))
    wl = workloads.make("bfs_deep")
    wl.path, wl.sources = path, sources
    wl.prepare(catalog=None)
    return wl, wl.expected[sources[0]]


def test_bfs_check_accepts_the_oracle(deep_expected):
    _, expected = deep_expected
    assert workloads.check_bfs(_oracle_frame(expected), expected) == []


def test_bfs_check_catches_corruption(deep_expected):
    _, expected = deep_expected
    off = _oracle_frame(expected)
    off.loc[len(off) // 2, "dist"] += 1
    assert workloads.check_bfs(off, expected)
    dropped = _oracle_frame(expected).drop(index=3)
    assert workloads.check_bfs(dropped, expected)
    worse = _oracle_frame(expected)
    worse.at[10, "path"] = list(reversed(worse.at[10, "path"]))
    assert workloads.check_bfs(worse, expected)
    # one vertex's correct row twice, another vertex's row missing
    good = _oracle_frame(expected)
    repeated = pd.concat([good.drop(index=4), good.iloc[[5]]], ignore_index=True)
    assert len(repeated) == len(expected)
    assert workloads.check_bfs(repeated, expected)


def test_failed_frac_counts_corrupted_answers(deep_expected, tmp_path):
    """One good, one off-by-one, one short answer: 2 of 3 requests fail."""
    wl, expected = deep_expected
    good = _oracle_frame(expected)
    off = good.copy()
    off.loc[5, "dist"] += 1
    answers = iter([good, off, good.drop(index=0)])
    wl.run = lambda key, ctx: next(answers)

    import run

    args = argparse.Namespace(workload="bfs_deep", seed=1, seconds=1.0, trace=0)
    bench = run.Bench(args, str(tmp_path))
    bench.wl = wl
    bench.spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    for _ in range(3):
        bench.request(wl.sources[0], "measure", traced=False)
    out = bench.results({"setup_s": 1.0}, 1.0)
    assert out["report"]["failed_frac"] == pytest.approx(2 / 3)
    assert out["result"]["failed"] == 2 and out["result"]["correct"] is False


def test_catalog_compare_catches_corruption():
    from oracle_utils import compare

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert compare(want.copy(), want) == []
    changed = want.copy()
    changed.loc[1, "v"] = 1.6
    assert compare(changed, want)
    assert compare(want.drop(index=2), want)


def test_parse_metric():
    assert probe.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 2 ms, 1.2 s (stage 3.0: task 7))"
    ) == pytest.approx(1.5)
    assert probe.parse_metric("total (min, med, max)\n512.0 KiB (1.0 B, 2.0 B, 3.0 B)") == (
        pytest.approx(0.5)
    )
    assert probe.parse_metric("87 ms") == pytest.approx(0.087)


def test_span_self_times():
    spans = probe.Spans(True)
    with spans.span("request", request=0):
        with spans.span("registry.build"):
            pass
        with spans.span("exec.action"):
            pass
    own = spans.self_times(0)
    recs = spans.records
    total = recs[0]["end"] - recs[0]["start"]
    assert set(own) == {"request", "registry.build", "exec.action"}
    assert sum(own.values()) == pytest.approx(total)


def test_tail_quantile_keeps_ten_beyond():
    assert probe.tail_quantile(100) == pytest.approx(0.9)
    assert probe.tail_quantile(12) == 0.5
    assert probe.quantile([1.0, 2.0, 3.0], 0.5) == 2.0


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bfs_deep", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
