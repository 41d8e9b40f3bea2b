"""Fault-tolerant checkpointing for the iterative driver loops
(plans/reliable.py, round 11).

The scale claim under test: with ``localCheckpoint``-only lineage
truncation, losing an executor's blocks after round k kills an
iterative job (lineage was truncated, blocks lived only on the lost
executor). Reliable mode spills each round's state to durable storage
and re-reads it, so the same loss recomputes from the last spill.

Block loss is SIMULATED exactly as the round-10 verdict asked: every
persisted RDD (including the blocks backing each round's
localCheckpoint) is unpersisted mid-loop — the local-mode equivalent
of losing every executor at once.
"""

import pytest
from pyspark.sql import functions as F

from bfs_mapreduce_spark.operators.graph import bfs, kcore
from bfs_mapreduce_spark.plans import reliable
from bfs_mapreduce_spark.sources.readers import read_edge_list

from tests.graph_oracle import bfs_oracle, load_edge_list

TINY = "/root/reference/datasets/tinyG.txt"


def blow_all_blocks(spark):
    """Unpersist every persisted RDD (blocking) — simulates losing all
    executors' block stores at once, the worst case of the preemption
    failure mode."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.valuesIterator()
    n = 0
    while it.hasNext():
        it.next().unpersist(True)
        n += 1
    return n


def test_local_truncation_dies_on_block_loss(spark):
    """The failure mode is REAL: a localCheckpoint-truncated chain
    cannot survive losing its blocks (there is no lineage left to
    recompute from)."""
    df = spark.range(100).localCheckpoint()
    df2 = df.selectExpr("id * 2 AS id").localCheckpoint()
    assert blow_all_blocks(spark) >= 2
    with pytest.raises(Exception, match="(?i)checkpoint.*block|block.*not found"):
        df2.count()


def test_reliable_truncation_survives_block_loss(spark, tmp_path):
    """The same chain under reliable_checkpoints: every truncation is
    a durable parquet spill, so blowing every block mid-chain changes
    nothing about the result."""
    with reliable.reliable_checkpoints(str(tmp_path / "ckpt")):
        df = reliable.truncate(spark.range(100))
        blow_all_blocks(spark)
        df2 = reliable.truncate(df.selectExpr("id * 2 AS id"))
        blow_all_blocks(spark)
        total = df2.agg(F.sum("id")).first()[0]
    assert total == sum(2 * i for i in range(100))
    # outside the context the default is bit-identical localCheckpoint
    assert reliable.checkpoint_dir() is None


def test_bfs_reliable_mode_survives_midloop_block_loss(
    spark, tmp_path, monkeypatch
):
    """End-to-end: bfs(checkpoint_dir=...) completes with EXACT
    results while every round's truncation is followed by total block
    loss — the real loop, the real operator, the verdict's simulated
    executor-preemption scenario."""
    orig = reliable.truncate

    def chaos_truncate(df, eager=True, name="state"):
        out = orig(df, eager=eager, name=name)
        blow_all_blocks(spark)
        return out

    monkeypatch.setattr(reliable, "truncate", chaos_truncate)
    edges_df = read_edge_list(spark, TINY)
    got = {
        r["id"]: (r["dist"], r["path"])
        for r in bfs(
            edges_df, checkpoint_dir=str(tmp_path / "bfs_ckpt")
        ).collect()
    }
    assert got == bfs_oracle(load_edge_list(TINY))
    # the spill files actually landed in the caller's directory
    spills = list((tmp_path / "bfs_ckpt").iterdir())
    assert len(spills) >= 3  # >= one per BFS round


def test_bfs_default_mode_fails_under_same_loss(spark, monkeypatch):
    """Negative control: the DEFAULT (localCheckpoint) path under the
    identical mid-loop block loss fails — proving the reliable mode is
    load-bearing, not a tautology."""
    orig = reliable.truncate

    def chaos_truncate(df, eager=True, name="state"):
        out = orig(df, eager=eager, name=name)
        blow_all_blocks(spark)
        return out

    monkeypatch.setattr(reliable, "truncate", chaos_truncate)
    edges_df = read_edge_list(spark, TINY)
    # the exact symptom varies with timing (lost checkpoint block, or
    # a pending lazy checkpoint whose storage level the unpersist
    # reset) — either way the job dies at/through a checkpoint
    with pytest.raises(Exception, match="(?i)checkpoint"):
        bfs(edges_df).collect()


# Sedgewick's tinyG edge list, inline: the same shape as the reference
# dataset (ecc(0) = 2, three components), so the twins below run
# without the external file.
TINY_INLINE = [
    (0, 5), (4, 3), (0, 1), (9, 12), (6, 4), (5, 4), (0, 2),
    (11, 12), (9, 10), (0, 6), (7, 8), (9, 11), (5, 3),
]


def _chaos(spark, monkeypatch):
    """Follow every lineage truncation with total block loss."""
    orig = reliable.truncate

    def chaos_truncate(df, eager=True, name="state"):
        out = orig(df, eager=eager, name=name)
        blow_all_blocks(spark)
        return out

    monkeypatch.setattr(reliable, "truncate", chaos_truncate)


def _inline_edges(spark, tmp_path):
    path = tmp_path / "tiny_inline.txt"
    path.write_text("".join(f"{a} {b}\n" for a, b in TINY_INLINE))
    return read_edge_list(spark, str(path))


def test_bfs_reliable_mode_survives_midloop_block_loss_inline(
    spark, tmp_path, monkeypatch
):
    """Inline-graph twin of the reliable-mode block-loss test: every
    round still spills durably, and the answer is exact."""
    _chaos(spark, monkeypatch)
    edges_df = _inline_edges(spark, tmp_path)
    got = {
        r["id"]: (r["dist"], r["path"])
        for r in bfs(
            edges_df, checkpoint_dir=str(tmp_path / "bfs_ckpt")
        ).collect()
    }
    assert got == bfs_oracle(TINY_INLINE)
    spills = list((tmp_path / "bfs_ckpt").iterdir())
    assert len(spills) >= 3  # >= one per BFS round


def test_bfs_default_mode_fails_under_same_loss_inline(spark, tmp_path, monkeypatch):
    """Inline-graph twin of the negative control: the default mode's
    localCheckpoint truncations do not survive the same block loss."""
    _chaos(spark, monkeypatch)
    edges_df = _inline_edges(spark, tmp_path)
    with pytest.raises(Exception, match="(?i)checkpoint"):
        bfs(edges_df).collect()


def test_ambient_context_covers_peer_loops(spark, tmp_path):
    """The other driver loops (k-core here as the representative —
    same _ckpt discipline as SCC/label-prop/k-center/BPE) pick the
    reliable mode up from the ambient context without signature
    changes, and produce results identical to the default path."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5)],
        "src bigint, dst bigint",
    )
    want = sorted(tuple(r) for r in kcore(edges, k=2).collect())
    with reliable.reliable_checkpoints(str(tmp_path / "kc")):
        got = sorted(tuple(r) for r in kcore(edges, k=2).collect())
    assert got == want == [(0, 2), (1, 2), (2, 2)]


def test_spill_truncate_resets_optimizer_stats(spark, tmp_path):
    """The round-11 forensic claim as a regression test: a per-round
    state self-join SQUARES the localCheckpoint-carried sizeInBytes
    statistic (exponential BigInteger growth in the optimizer), while
    spill_truncate roots each round at a parquet scan with real file
    stats, keeping the statistic flat."""
    from pyspark.sql import functions as F

    from bfs_mapreduce_spark.plans.reliable import spill_truncate

    def bits(df):
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j hands back a Python int while it fits (and the full
        # pathology would overflow its string conversion entirely)
        return sz.bit_length() if isinstance(sz, int) else sz.bitLength()

    def round_once(b, truncate):
        jump = (
            b.select("v", F.col("b").alias("x"))
            .join(b.select(F.col("v").alias("x"), F.col("b").alias("b")), "x")
            .select("v", "b")
        )
        nxt = b.unionByName(jump).groupBy("v").agg(F.min("b").alias("b"))
        return truncate(nxt)

    b0 = spark.range(50).select(
        F.col("id").alias("v"), F.col("id").alias("b")
    )

    b = b0.localCheckpoint()
    local_bits = []
    for _ in range(4):
        b = round_once(b, lambda d: d.localCheckpoint())
        local_bits.append(bits(b))
    # squaring: each round roughly doubles the statistic's bit length
    assert local_bits[-1] > 2 * local_bits[0]

    b = spill_truncate(b0, name="t0")
    spill_bits = []
    for _ in range(4):
        b = round_once(b, lambda d: spill_truncate(d, name="t"))
        spill_bits.append(bits(b))
    # flat: every round re-roots at real file statistics
    assert max(spill_bits) < 2 * min(spill_bits)
    assert max(spill_bits) < local_bits[-1]


def test_threaded_sweeps_conf_and_context(spark, tmp_path, sf_smoke_dir):
    """Round-12 ADVICE regression: the landmark-closeness sweeps run
    bfs() driver loops on concurrent threads. (a) bfs's session-conf
    tuning is refcounted, so the USER's AQE/shuffle-partition values
    are restored exactly once at the end — no thread can snapshot a
    peer's mid-loop value (partitions=2, AQE off) and leak it; (b)
    each sweep task runs under a copy of the caller's contextvars
    context, so an ambient reliable_checkpoints scope reaches the
    worker threads and the sweeps actually spill durably."""
    import glob
    import os

    from bfs_mapreduce_spark.operators.graph_queries import (
        q_graph_closeness_landmarks,
    )

    conf = spark.conf
    saved = (
        conf.get("spark.sql.adaptive.enabled"),
        conf.get("spark.sql.shuffle.partitions"),
    )
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.shuffle.partitions", "17")
        d = str(tmp_path / "spill")
        with reliable.reliable_checkpoints(d):
            rows = q_graph_closeness_landmarks(spark, sf_smoke_dir).collect()
        assert len(rows) == 3 and all(r["n_reached"] > 0 for r in rows)
        # (a) conf restored to the user's values, not a mid-loop snapshot
        assert conf.get("spark.sql.adaptive.enabled") == "true"
        assert conf.get("spark.sql.shuffle.partitions") == "17"
        # (b) the threaded loops spilled durably (context propagated)
        spills = glob.glob(os.path.join(d, "*"))
        assert spills, "worker threads fell back to localCheckpoint"
    finally:
        conf.set("spark.sql.adaptive.enabled", saved[0])
        conf.set("spark.sql.shuffle.partitions", saved[1])
