"""Graph traversal: single-source BFS shortest paths (the reference's query).

Reference semantics (SURVEY.md §2.6, from ``BFS_map_reduce.py``):
given an undirected, unweighted edge list and a source vertex, compute
for every vertex its shortest-path distance and one shortest path in
forward order ``[source, ..., vertex]`` (``BFS_map_reduce.py:31-35``).
Spec deviations, deliberate (SURVEY.md §2.9):

- unreachable vertices get ``dist = NULL`` instead of hanging the loop
  (reference wart W2: termination test ``BFS_map_reduce.py:149``);
- equal-distance path ties break to the lexicographically smallest
  path instead of first-seen argmin (wart W3, ``BFS_map_reduce.py:52``),
  so results are deterministic under any parallelism.

Spark-first design — the reference's per-round structure maps as:

==========================================  =================================
reference (Ray MapReduce)                    this engine (DataFrame loop)
==========================================  =================================
map_task frontier expansion (:25-42)         frontier ⋈ adjacency + explode
"in-worker shuffle" partial group (:8-23)    automatic partial HashAggregate
driver-funnel global shuffle (:122-136)      executor-side Exchange
reduce_task min-dist/argmin-path (:44-60)    groupBy(id).agg(min(struct(...)))
all-BLACK termination scan (:149)            empty-frontier check (metadata)
==========================================  =================================

Scale posture (what changes at 100 TB / 1000 executors):

- Per-round state shipped through the shuffle is O(frontier × avg
  degree), never O(V): settled vertices live in ``visited`` and are
  excluded with a join, not re-emitted (the reference re-serializes
  every vertex every round, ``BFS_map_reduce.py:40-41``).
- The adjacency DataFrame is persisted once; small frontiers are
  broadcast (the edge side never moves at all), and the first time a
  frontier outgrows the broadcast threshold the cached edges are
  hash-partitioned on ``src`` just in time, so every later shuffle-join
  round moves only the (small) frontier side.
- While a level has at most R rows (the broadcast threshold, capped at
  ``_RESIDENT_ROWS``), and the growth so far does not predict more, it
  is collected, in one job, into the driver JVM and becomes the next
  level's ``LocalRelation`` frontier. Unlike the one-round broadcast
  relation it replaces, such a level stays in the driver heap after its
  round: during the loop the driver holds up to about 2R of these rows
  (the current and previous frontiers, and the relations appended to
  ``visited`` since it was last checkpointed onto the executors, which
  happens once they pass R), and the rows appended since that last
  checkpoint stay in the returned plan for as long as the caller keeps
  it. The level's rows never enter the Python process, and no Python
  worker starts.
- Larger levels, and reliable mode, truncate lineage with a checkpoint
  every round (``localCheckpoint``, or a durable spill) — without it the
  plan doubles per iteration and the DAG scheduler dies long before
  data size matters.
- Path columns grow O(diameter); for diameter-heavy graphs pass
  ``with_paths=False`` to carry only (id, dist) — the common SSSP use.
"""

from __future__ import annotations

import contextlib
import logging
import numbers
import os
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bfs_mapreduce_spark.plans import reliable as _reliable

logger = logging.getLogger(__name__)

# Reentrant save/restore of the loop-tuned session conf. Independent
# traversals may legally run on CONCURRENT THREADS of one session (the
# landmark-closeness sweeps do); a naive per-loop save/restore races —
# thread B snapshots thread A's mid-loop value (partitions=2, AQE off)
# and restores it last, polluting the session for every later query.
# Refcount instead: the FIRST entrant per session snapshots the user's
# values, the LAST exitor restores them; everyone in between only
# drives the per-round shuffle width.
_LOOP_CONF_LOCK = threading.Lock()
_LOOP_CONF_STATE: dict[int, tuple[int, tuple[str, str, str]]] = {}


# The largest BFS level kept in the driver JVM, whatever
# ``broadcast_frontier_rows`` allows. A LocalRelation frontier saves its
# own round a checkpoint and a count, but the rounds that read it, and
# the final join over ``visited``, pay per row for it. Measured on 4
# vCPUs (AB_bfs_driver_resident.json): the round reading a resident
# level of ~4k rows was no slower than from a checkpoint, one reading
# ~12k rows or more was slower (by ~0.1 s at 12k-18k rows, ~0.3 s at
# 128k), so larger levels take the checkpoint path.
_RESIDENT_ROWS = 8_192


@contextlib.contextmanager
def _loop_conf(spark):
    """Disable AQE and yield the session's shuffle-partition default for
    a driver loop; conf restore is refcounted per session so concurrent
    loops on shared threads cannot leak a mid-loop snapshot.

    Also lets a ``limit(n)`` collect scan every partition in its first
    job: Spark's default tries one partition, then launches a second job
    for the rest, which would double the jobs of bfs's driver-resident
    levels (their outputs have at most the session default's partitions).

    Like disabling AQE, these are session confs: while any loop runs,
    every other query on the session sees them too — its ``take`` /
    ``first`` / ``show`` / ``limit`` collects scan all partitions (up to
    the shuffle-partition default) in their first job instead of one."""
    key = id(getattr(spark, "_jsparkSession", spark))
    conf = spark.conf
    with _LOOP_CONF_LOCK:
        depth, saved = _LOOP_CONF_STATE.get(key, (0, ("", "", "")))
        if depth == 0:
            saved = (
                conf.get("spark.sql.adaptive.enabled"),
                conf.get("spark.sql.shuffle.partitions"),
                conf.get("spark.sql.limit.initialNumPartitions"),
            )
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.limit.initialNumPartitions", saved[1])
        _LOOP_CONF_STATE[key] = (depth + 1, saved)
    try:
        yield int(saved[1])
    finally:
        with _LOOP_CONF_LOCK:
            depth, saved = _LOOP_CONF_STATE[key]
            if depth == 1:
                conf.set("spark.sql.adaptive.enabled", saved[0])
                conf.set("spark.sql.shuffle.partitions", saved[1])
                conf.set("spark.sql.limit.initialNumPartitions", saved[2])
                del _LOOP_CONF_STATE[key]
            else:
                _LOOP_CONF_STATE[key] = (depth - 1, saved)


def _ckpt(df: DataFrame) -> DataFrame:
    """Chain-position lineage truncation (``df.transform(_ckpt)``):
    ``localCheckpoint()`` by default, a durable parquet spill+re-read
    inside ``reliable_checkpoints(...)`` — see plans/reliable.py for
    the executor-loss failure mode this closes at cluster scale."""
    return _reliable.truncate(df)


def _ckpt_lazy(df: DataFrame) -> DataFrame:
    """Lazy twin of :func:`_ckpt` (materialized by the caller's next
    action, fusing checkpoint + count into one job in default mode;
    reliable mode is inherently eager — the durable write is the
    materialization)."""
    return _reliable.truncate(df, eager=False)


def local_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side rows of numbers as a JVM ``LocalRelation`` (an inline
    ``VALUES`` table) with the flat DDL ``schema``, e.g. ``"id bigint,
    cost double"``.

    ``spark.createDataFrame(rows)`` would build a Python RDD instead: its
    scan starts Python workers, and every job reading the frame (each
    broadcast of a BFS seed, for one) re-evaluates it through them. A
    ``LocalTableScan`` is planned and read inside the JVM."""
    fields = [f.split() for f in schema.split(",")]
    cols = ", ".join(
        f"CAST(col{i} AS {typ}) AS `{name}`" for i, (name, typ) in enumerate(fields, 1)
    )
    values = ", ".join("(" + ", ".join(map(_sql_number, row)) + ")" for row in rows)
    return spark.sql(f"SELECT {cols} FROM VALUES {values}")


def _sql_number(v) -> str:
    """A SQL literal for a Python or NumPy number (or None)."""
    if v is None:
        return "NULL"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    return repr(float(v))  # shortest round-tripping form


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Symmetrize + dedup an edge list (reference inserts both
    directions and keeps duplicates/self-loops — ``Graph.py:9-16``;
    duplicates are harmless for BFS but waste shuffle, so we drop them)."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def adjacency(edges: DataFrame) -> DataFrame:
    """Adjacency list ``(src, neighbours array)`` — the reference's
    ``dict[int, list[int]]`` (``Graph.py:9-16``) as a DataFrame.

    BFS below joins the flat symmetric edge table directly (cheaper:
    no array build/explode round-trip); this exists as the standalone
    operator equivalent of ``Graph.get_graph()``.
    """
    return undirected_edges(edges).groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("neighbours")
    )


def _auto_edge_partitions(edges: DataFrame, directed: bool) -> int:
    """Size the static edge layout by INPUT VOLUME, capped at the
    session's shuffle-partition default.

    Every BFS round scans all cached edge partitions, so on a small
    graph a cluster-sized partition count just multiplies per-task
    scheduling into the per-round floor (measured round-8: the sf0.1
    bipartite graph's 6 small rounds cost 2.4 s at 32 partitions and
    1.7 s at 8 — same plans, same answers). The heuristic targets
    ~16 MB of source bytes per partition (x2 for the symmetric
    doubling), floors at 8 so the one-time repartition+dedup+persist
    keeps real build parallelism and local runs still exercise
    parallel shuffles, and CAPS AT THE SESSION DEFAULT so a 100 TB edge scan on
    a real cluster keeps its cluster-wide layout — the cap, not the
    floor, is what scales. Falls back to the session default whenever
    input bytes are unknowable (in-memory frames, non-file sources)."""
    default_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    try:
        files = edges.inputFiles()
        if not files:
            return default_parts
        total = 0
        for uri in files:
            path = uri[5:] if uri.startswith("file:") else uri
            total += os.path.getsize(path)
    except Exception:  # remote FS / permissions / exotic source
        return default_parts
    if not directed:
        total *= 2
    # Session default is the HARD cap (outermost min): if the session is
    # configured narrower than the floor of 8, the session wins — a user
    # who pinned shuffle.partitions=4 should never see an 8-way exchange.
    return min(default_parts, max(8, total // (16 << 20) + 1))


def bfs(
    edges: DataFrame,
    source: int = 0,
    max_rounds: int = 10_000,
    with_paths: bool = True,
    directed: bool = False,
    warn_on_truncation: bool = True,
    broadcast_frontier_rows: int = 200_000,
    reached_only: bool = False,
    sources: list[int] | None = None,
    source_df: DataFrame | None = None,
    source_df_rows: int | None = None,
    stats: dict | None = None,
    edge_partitions: int | None = None,
    dedup_edges: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Single-source shortest paths via level-synchronous BFS.

    ``checkpoint_dir`` switches every per-round lineage truncation
    from ``localCheckpoint`` (executor-memory blocks — fast, but an
    executor lost after round k discards truncated state and fails the
    job) to a durable parquet spill + re-read under the given
    directory (HDFS/object store on a real cluster): sugar for running
    the call inside ``plans.reliable.reliable_checkpoints(dir)``. The
    spill files back the RETURNED plan too — keep the directory until
    results are materialized. Overhead is measured in BASELINE.md
    (bench-graph reliable rows).
    Pass ``sources=[...]`` for the multi-source form — dist becomes
    distance to the NEAREST seed and path starts at that seed (the
    distance-to-seed primitive behind label propagation / partition
    growing); the per-round machinery is identical, the min-aggregate
    already resolves seed collisions.

    ``source_df`` is the DataFrame form of ``source``/``sources``: a
    single-column DataFrame (e.g. a ``min()`` aggregate, or a
    ``distinct().limit(k)`` seed set) whose rows seed the traversal —
    multi-row seed frames run multi-source BFS without ever collecting
    the seeds to the driver. The seed plan is folded into round 1's
    job via a lazy checkpoint instead of costing a separate driver
    ``collect()`` job before the loop starts. Seed-count contract:
    pass ``source_df_rows`` when the caller knows the row count (a
    scalar aggregate is 1, a ``limit(k)`` is at most k) and the seed
    plan stays entirely lazy; when omitted, bfs counts the seed
    checkpoint itself (one extra cheap job) and raises on an empty
    seed frame. A declared count is trusted for the broadcast/shuffle
    sizing hints — declaring 1 for a million-row frame mis-sizes
    round 1's join strategy. More than one column raises.

    Pass a dict as ``stats`` to receive per-round instrumentation:
    ``stats["rounds"]`` = list of ``(round_no, frontier_size,
    seconds)`` — the raw data behind the scale benchmarks in
    BASELINE.md (per-round cost vs graph size).

    Returns ``(id BIGINT, dist BIGINT, path ARRAY<BIGINT>)`` for every
    vertex that appears in ``edges`` (plus the source), ``dist``/``path``
    NULL when unreachable. One shuffle stage per BFS level, all
    executor-side, and one Spark action per level — the Pregel/GraphX
    iteration shape.

    ``reached_only=True`` skips the vertex-universe build and final
    left join entirely and returns just the reached rows — callers that
    drop NULL-dist rows anyway (histograms, reachability sets) save the
    universe distinct + checkpoint + join.

    Join-strategy note: the driver loop knows every level's exact row
    count, so it hints ``broadcast(frontier)`` while the frontier is
    under ``broadcast_frontier_rows`` — the edge side then never moves
    at all — and falls back to a shuffle join for huge frontiers
    (dense-graph middle rounds at scale). The same threshold, capped at
    ``_RESIDENT_ROWS`` (call it R), sets where a level lives between
    rounds:

    - **Driver-resident** (default mode, levels of at most R rows): the
      level's plan is collected with ``limit(R + 1)`` straight into a JVM
      ``LocalRelation`` — one job that is both the count and the
      materialization, and a frontier whose row count and size the
      planner sees exactly. These rows stay in the driver heap (the
      broadcast they replace lived for one round only): up to about 2R
      during the loop, because ``visited`` is checkpointed once the
      relations appended to it since its last truncation pass R; the
      rows appended since then stay in the returned plan for as long as
      the caller keeps it.
    - **Checkpointed** (every level in reliable mode, which keeps its
      durable per-round spill, and levels that may not fit): the level
      is a lazy checkpoint materialized by its ``count()``. A level goes
      this way when the previous level times the largest level-over-
      level growth seen so far exceeds R. A level collected anyway that
      overflows the guard is re-run this way, and so is every later
      level, so a traversal re-runs at most one level.
    """
    if checkpoint_dir is not None:
        # Delegate with the ambient reliable context active: all
        # truncations (and the loop's actions) happen inside; the
        # returned plan reads the already-written spill files, so the
        # context can close before the caller materializes.
        with _reliable.reliable_checkpoints(checkpoint_dir):
            return bfs(
                edges,
                source=source,
                max_rounds=max_rounds,
                with_paths=with_paths,
                directed=directed,
                warn_on_truncation=warn_on_truncation,
                broadcast_frontier_rows=broadcast_frontier_rows,
                reached_only=reached_only,
                sources=sources,
                source_df=source_df,
                source_df_rows=source_df_rows,
                stats=stats,
                edge_partitions=edge_partitions,
                dedup_edges=dedup_edges,
            )
    spark = edges.sparkSession
    if edge_partitions is None:
        edge_partitions = _auto_edge_partitions(edges, directed)
    raw = edges.select(
        F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst")
    )
    sym, edge_cache, sym_partitioned = _edge_layout(
        raw, directed, dedup_edges, edge_partitions
    )

    if source_df is not None:
        if sources is not None:
            raise ValueError("pass either source_df or sources, not both")
        if len(source_df.columns) != 1:
            raise ValueError(
                f"source_df must have exactly one column, got {source_df.columns}"
            )
        seeds_df = (
            source_df.toDF("id")
            .select(F.col("id").cast("bigint").alias("id"))
            .dropDuplicates()
        )
        n_seeds = source_df_rows  # None → counted after the checkpoint below
        n_local = 0
    else:
        seeds = sorted(set(sources)) if sources else [source]
        seeds_df = local_frame(spark, [(s,) for s in seeds], "id bigint")
        n_seeds = n_local = len(seeds)
    init_cols = ["id", F.lit(0).cast("bigint").alias("dist")]
    if with_paths:
        init_cols.append(F.array(F.col("id")).alias("path"))  # path starts at its seed
    frontier = seeds_df.select(*init_cols)
    if source_df is not None:
        # Lazy checkpoint: round 1's first job materializes the seed
        # plan — the min()-aggregate scan of a scalar seed runs inside
        # it instead of as its own job — and later consumers (prev_ids,
        # loops_and_source) read the cached rows. A ``sources`` seed is
        # already a lineage-free LocalRelation and needs none.
        frontier = frontier.transform(_ckpt_lazy)
        if n_seeds is None:
            # undeclared seed count: materialize the seed checkpoint now
            # (its rows are cached for round 1, so this job costs only
            # the seed plan itself) and guard the empty-seed silent-NULL
            # case
            n_seeds = frontier.count()
            if n_seeds == 0:
                raise ValueError("source_df produced no seed rows")

    loops_and_source = (
        raw.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
        .union(frontier.select("id"))  # reads the cached seed, not its plan
    )
    # NB: all_vertices is constructed AFTER the loop (round 19) so it
    # reads whichever sym cache the traversal ended on — the deferred
    # repartition swaps the cached frame mid-loop, and a plan captured
    # here would recompute the unpersisted original from source.

    visited = frontier
    prev_ids = None  # frontier of the round before last (undirected pruning)
    n_front = n_seeds
    n_prev = 0
    n_visited = n_seeds
    # Driver-resident levels (see the docstring): only in the default
    # truncation mode — reliable mode keeps its durable per-round spill —
    # and only until the first level overflows the guard, so a traversal
    # re-runs at most one level.
    resident = _reliable.checkpoint_dir() is None
    resident_rows = min(broadcast_frontier_rows, _RESIDENT_ROWS)
    growth = 1.0  # largest level-over-level growth seen so far

    # Per-round plans are tiny and identical in shape; AQE's per-stage
    # re-planning adds a fixed latency to every one of them (measured
    # ~70 ms/round at sf0.1) and buys nothing the loop doesn't already
    # know — the driver holds exact frontier counts and sizes the
    # shuffle itself. Disable AQE and drive the shuffle width off the
    # frontier, capped at the session default so a cluster-sized
    # default still yields cluster-wide shuffles for huge frontiers.
    conf = spark.conf

    truncated = True
    if stats is not None:
        stats["rounds"] = []
    with _loop_conf(spark) as default_parts:
        for round_no in range(1, max_rounds + 1):
            _t_round = time.perf_counter()
            conf.set(
                "spark.sql.shuffle.partitions",
                str(min(default_parts, max(2, n_front // 8_000))),
            )
            if n_front > broadcast_frontier_rows and not sym_partitioned:
                # First shuffle-join round: NOW the co-locating layout
                # pays every remaining round. One exchange over the
                # already-cached rows, then the old cache is released.
                old_cache = edge_cache
                sym = sym.repartition(edge_partitions, "src").persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                sym.count()
                old_cache.unpersist()
                edge_cache = sym
                sym_partitioned = True
            fr = F.broadcast(frontier) if n_front <= broadcast_frontier_rows else frontier
            if not directed:
                # Undirected level-synchronous invariant: a neighbour of
                # a dist-(k-1) vertex has dist in {k-2, k-1, k}, so the
                # only already-visited candidates live in the LAST TWO
                # frontiers. Anti-joining against them instead of the
                # full visited set keeps the anti-join side O(frontier),
                # not O(V) — at scale the per-round broadcast stops
                # growing with the graph.
                front_ids = frontier.select("id")
                vis_ids = front_ids if prev_ids is None else front_ids.union(prev_ids)
                n_vis_side = n_front + n_prev
                prev_ids, n_prev = front_ids, n_front
            else:
                # Directed graphs get no such locality (a back edge may
                # hit an arbitrarily old vertex): anti-join full visited.
                vis_ids = visited.select("id")
                n_vis_side = n_visited
            if n_vis_side <= broadcast_frontier_rows * 10:
                vis_ids = F.broadcast(vis_ids)

            if with_paths:
                # Expand: frontier ⋈ edges emits (dst, dist+1, path+[dst]);
                # per vertex keep the lexicographically smallest path (all
                # of a round's candidates share one dist, so min(path) IS
                # the deterministic argmin — sound replacement for the
                # reference's index-aligned argmin, wart W3). Partial
                # aggregation before the exchange is Catalyst's map-side
                # combine (= the reference's apply_map grouping,
                # BFS_map_reduce.py:8-23). Aggregate BEFORE the visited
                # anti-join: the candidate multiset is O(frontier x
                # degree), the aggregate is O(distinct dst).
                cand_cols = [
                    sym["dst"].alias("id"),
                    (frontier["dist"] + 1).alias("dist"),
                    F.concat(frontier["path"], F.array(sym["dst"])).alias("path"),
                ]
                new = (
                    fr.join(sym, frontier["id"] == sym["src"])
                    .select(*cand_cols)
                    .groupBy("id")
                    .agg(F.min("dist").alias("dist"), F.min("path").alias("path"))
                    .join(vis_ids, "id", "left_anti")
                )
            else:
                # dist-only BFS needs no aggregate at all: every vertex
                # first discovered in round k has dist == k by level
                # synchrony, so expansion is a semi-join (edge rows never
                # widen) + distinct, and dist is attached as a literal.
                new = (
                    sym.join(fr, frontier["id"] == sym["src"], "left_semi")
                    .select(F.col("dst").alias("id"))
                    .distinct()
                    .join(vis_ids, "id", "left_anti")
                    .select("id", F.lit(round_no).cast("bigint").alias("dist"))
                )
            n_last, collected = n_front, False
            # A level that the largest growth seen so far says may
            # overflow the collect guard is not collected: a trip would
            # run it twice.
            if resident and n_front * growth <= resident_rows:
                # One action: collect the level, capped one row past the
                # resident limit, into the driver JVM. Its rows never
                # cross into Python; they become the next level's
                # LocalRelation frontier (a broadcast needs them in the
                # driver anyway).
                jrows = new._jdf.limit(resident_rows + 1).collectAsList()
                collected = jrows.size() <= resident_rows
                if collected:
                    n_front = jrows.size()
                    new = DataFrame(
                        spark._jsparkSession.createDataFrame(jrows, new._jdf.schema()),
                        spark,
                    )
                    n_local += n_front
                else:
                    resident = False  # guard tripped: re-run as below
            if not collected:
                # Lazy checkpoint: the count() materializes it — one job
                # per round where eager checkpoint + count cost two.
                new = new.transform(_ckpt_lazy)
                n_front = new.count()  # drives the next round's hints
            growth = max(growth, n_front / max(n_last, 1))  # a declared 0-seed source_df
            if stats is not None:
                stats["rounds"].append(
                    (round_no, n_front, round(time.perf_counter() - _t_round, 4))
                )
            if n_front == 0:
                truncated = False
                break
            n_visited += n_front
            # The visited set is only consumed at the end now (the
            # anti-join reads the recent frontiers), so its union chain
            # is metadata until the final join. Collapse it occasionally
            # anyway: a multi-thousand-round traversal would otherwise
            # hand the planner an equally deep Union tree, and the
            # LocalRelation rows held in the driver stay bounded.
            visited = visited.union(new)
            if round_no % 16 == 0 or n_local > resident_rows:
                visited = visited.transform(_ckpt)
                n_local = 0
            frontier = new

    if truncated and warn_on_truncation:
        # Exhausted max_rounds with a non-empty frontier: vertices beyond
        # the horizon would silently read as unreachable (dist NULL).
        # Callers doing bounded exploration pass max_rounds on purpose;
        # everyone else should hear about it (SURVEY §2.9 W2's dual).
        logger.warning(
            "bfs: max_rounds=%d exhausted with a non-empty frontier; "
            "dist is only valid up to %d — unreached vertices report NULL",
            max_rounds,
            max_rounds,
        )

    if reached_only:
        edge_cache.unpersist()
        return visited.select("id", "dist", *(["path"] if with_paths else []))
    # Build + pin the vertex universe before releasing the edge cache —
    # it reads whichever sym cache the loop ended on (see the deferred-
    # repartition note in _edge_layout), and an unpersisted sym would
    # silently recompute from source when the caller materializes the
    # result. The distinct shuffles one bare bigint column (exchange-free
    # when the edge cache is hash(src)-partitioned).
    if not directed:
        all_vertices = (
            sym.select(F.col("src").alias("id"))
            .distinct()
            .unionByName(loops_and_source)
            .dropDuplicates()
        )
    else:
        all_vertices = (
            raw.select(F.col("src").alias("id"))
            .union(raw.select(F.col("dst").alias("id")))
            .union(loops_and_source)
            .distinct()
        )
    all_vertices = all_vertices.transform(_ckpt)
    edge_cache.unpersist()
    result = all_vertices.join(visited, "id", "left").select(
        "id", "dist", *(["path"] if with_paths else [])
    )
    return result


def _edge_layout(
    raw: DataFrame, directed: bool, dedup_edges: bool, edge_partitions: int
) -> tuple[DataFrame, DataFrame, bool]:
    """bfs's edge side: ``(sym, edge_cache, partitioned)``, where ``sym``
    is the ``(src, dst)`` frame every round joins, ``edge_cache`` the
    persisted frame it reads (unpersisted by the caller) and
    ``partitioned`` whether that cache is already hash(src)-partitioned
    into ``edge_partitions``.

    Pin the (big, static) edge side in memory; every round's frontier
    join streams over the same cached layout. Round-19 setup-cost rework
    (round 1 carried 0.6 s of the 2.4 s query at sf0.1, all of it edge
    materialization):

    - The hash(src) repartition is DEFERRED: while every frontier fits
      under ``broadcast_frontier_rows`` the rounds are broadcast joins
      and the edge side never moves — a co-locating exchange up front is
      a full 2|E|-row shuffle bought for nothing. bfs watches the exact
      frontier counts it already tracks and swaps in a
      repartitioned+persisted copy the FIRST time a frontier exceeds the
      broadcast threshold — the 100 TB shuffle-join posture is unchanged
      (the exchange happens once, just in time, reading the
      already-cached rows), and traversals that never need it never pay
      it.
    - For the undirected default the cache holds the |E|-row FILTERED
      RAW edges, not the 2|E|-row symmetric union: ``sym`` is rebuilt
      per consumer as cache ∪ rev(cache), so setup scans the source once
      and materializes half the rows (the src!=dst filter is
      orientation-symmetric, so filtering before the union is exact).
      Round-1-equivalent cost measured at sf0.1: 0.90 s caching the
      union → 0.69 s caching raw.

    Edge dedup is OPT-IN (round 9): duplicate (src, dst) rows are
    semantically harmless to every bfs path — the dist-only expansion
    ends in distinct, the path expansion in a min-aggregate — so the
    default skips the full-edge-set hash aggregate at setup (~30% of the
    materialization cost on a near-duplicate-free graph, measured
    sf0.1). ``dedup_edges=True`` is for genuinely multi-edge inputs,
    where shrinking the cached table once pays back every round. The
    dedup runs under the co-locating hash(src) exchange (an aggregate
    keyed on (src, dst) is satisfied by a src partitioning), so that one
    2|E| exchange both dedups and lays out the cache, and the deferred
    repartition has nothing left to do. Its cache keeps the symmetric
    form (a per-round re-dedup of the union would re-shuffle every
    round)."""
    base = raw.filter(F.col("src") != F.col("dst"))

    def reverse(df: DataFrame) -> DataFrame:
        return df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

    if dedup_edges:
        if not directed:
            base = base.unionByName(reverse(base))
        sym = (
            base.repartition(edge_partitions, "src")
            .dropDuplicates(["src", "dst"])
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return sym, sym, True
    # Columnar persist, NOT RDD-block truncation: a localCheckpoint
    # variant wrote the cache ~0.2 s faster at sf0.1 but every later
    # round read the UnsafeRow blocks without columnar vectorization —
    # the paired rounds A/B showed rounds 2..6 giving the round-1 saving
    # straight back. The InMemoryRelation costs the one-time encode and
    # keeps per-round scans on the vectorized cache path.
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    if directed:
        return base, base, False
    return base.unionByName(reverse(base)), base, False


def connected_component_of(edges: DataFrame, source: int = 0) -> DataFrame:
    """Vertices reachable from ``source`` (a BFS byproduct the
    reference's termination scan implicitly computes)."""
    res = bfs(edges, source=source, with_paths=False)
    return res.filter(F.col("dist").isNotNull()).select("id", "dist")


def bfs_rdd(
    edges: DataFrame,
    source: int = 0,
    max_rounds: int = 10_000,
    with_paths: bool = True,
    directed: bool = False,
    num_partitions: int | None = None,
    reached_only: bool = False,
    source_df: DataFrame | None = None,
) -> DataFrame:
    """The north-star RDD formulation of BFS: ``mapPartitions`` frontier
    expansion + ``aggregateByKey`` min-state reduction (BASELINE.json
    spark_approach), kept alongside the DataFrame ``bfs`` as the
    per-partition-imperative variant. ``source_df`` (1-row, 1-column)
    is the scalar-subquery seed form — see ``bfs``; the seed RDD is
    persisted and first materialized inside round 1's count job.

    Faithful mapping of the reference's round structure
    (``BFS_map_reduce.py:115-150``), with each piece landing where
    Spark wants it:

    - ``apply_map`` local grouping (:8-23)  → aggregateByKey's map-side
      combine (runs pre-shuffle automatically);
    - driver-funnel shuffle (:122-136)      → executor-side shuffle of
      ``aggregateByKey`` — the driver never touches vertex state;
    - order-based ``partition_graph`` (:72-90) → HashPartitioner via
      ``partitionBy(n)``, computed ONCE for the adjacency RDD; every
      round's join is then narrow on the adjacency side (co-partitioned),
      so only the frontier moves;
    - ``reduce_task`` argmin (:44-60)       → min over (dist, path)
      tuples — deterministic lexicographic tie-break (fixes wart W3).

    Returns the same schema as ``bfs``: (id, dist, path?).
    """
    spark = edges.sparkSession
    # Partition count follows the INPUT's split count, not default
    # parallelism: a 250-vertex edge list in one split gets 1 partition
    # (32 would mean ~1300 near-empty Python tasks over 14 rounds —
    # measured 2x slower on smallG), while a 100 TB input arrives in
    # thousands of splits and fans out accordingly. Callers with better
    # knowledge pass num_partitions explicitly.
    n = num_partitions or max(edges.rdd.getNumPartitions(), 1)

    pairs = edges.select("src", "dst").rdd.map(lambda r: (int(r[0]), int(r[1])))
    if not directed:
        pairs = pairs.flatMap(lambda e: [e, (e[1], e[0])])
    loops_dropped = pairs.filter(lambda e: e[0] != e[1])

    # adjacency via aggregateByKey: set-union combine (the reference's
    # membership-tested neighbour insert, Graph.py:9-16, but hash-set);
    # partitioned once, persisted — the static side of every round's join
    adj = (
        loops_dropped.aggregateByKey(
            set(), lambda s, v: (s.add(v) or s), lambda a, b: (a.update(b) or a),
            numPartitions=n,
        )
        .mapValues(sorted)
        .persist()
    )

    if source_df is not None:
        # scalar-subquery seed: 1-row plan, persisted so round 2's
        # `recent` union and the vertex-universe read hit the cache
        seed_ids = source_df.rdd.map(lambda r: int(r[0])).persist()
    else:
        seed_ids = spark.sparkContext.parallelize([source])
    all_vertices = pairs.flatMap(lambda e: e).union(seed_ids).distinct()

    def init_state(s):
        return (s, (0, (s,)) if with_paths else (0, None))

    frontier = seed_ids.map(init_state).partitionBy(n)
    visited = frontier

    def expand(part):
        """mapPartitions body: reference map_task (:25-42) minus the
        pass-through branch — settled vertices never re-emit."""
        for _v, (nbrs, (d, path)) in part:
            nd = d + 1
            for nbr in nbrs:
                yield nbr, (nd, path + (nbr,) if path is not None else None)

    def min_state(a, b):
        if a[0] == float("inf"):
            return b
        if b[0] == float("inf"):
            return a
        return min(a, b)  # (dist, path) tuple order = deterministic argmin

    zero = (float("inf"), None)
    prev = None
    for round_no in range(1, max_rounds + 1):
        candidates = adj.join(frontier, numPartitions=n).mapPartitions(expand)
        # Same frontier-locality pruning as the DataFrame bfs: on an
        # undirected graph a candidate can only be already-visited if it
        # sits in the last two frontiers, so the subtract side stays
        # O(frontier) instead of O(V). Directed graphs keep the full
        # visited subtract (a back edge may hit an arbitrarily old vertex).
        recent = frontier if prev is None else frontier.union(prev)
        new = (
            candidates.aggregateByKey(zero, min_state, min_state, numPartitions=n)
            .subtractByKey(recent if not directed else visited, numPartitions=n)
        )
        new = new.persist()
        if new.count() == 0:
            break
        visited = visited.union(new)
        if round_no % 3 == 0:
            # NB: the RDD truncation marks in place and returns None
            # (unlike the DataFrame form); reliable mode uses the real
            # RDD.checkpoint against the ambient durable directory
            _reliable.truncate_rdd(visited)
        prev = frontier
        frontier = new

    schema = "id bigint, dist bigint" + (", path array<bigint>" if with_paths else "")
    if reached_only:
        # same contract as bfs(reached_only=True): skip the vertex
        # universe and the left join for callers that drop NULLs anyway
        reached = visited.map(
            lambda kv: (kv[0], kv[1][0], list(kv[1][1]))
            if with_paths
            else (kv[0], kv[1][0])
        )
        out = spark.createDataFrame(reached, schema)
        adj.unpersist()
        return out

    rows = all_vertices.map(lambda v: (v, 1)).leftOuterJoin(visited, numPartitions=n)

    def to_row(kv):
        v, (_one, state) = kv
        if state is None:
            return (v, None, None) if with_paths else (v, None)
        d, path = state
        return (v, d, list(path)) if with_paths else (v, d)

    out = spark.createDataFrame(rows.map(to_row), schema)
    adj.unpersist()
    return out


def sssp(
    edges: DataFrame,
    source: int,
    max_hops: int = 8,
    warn_on_truncation: bool = True,
) -> DataFrame:
    """Weighted single-source shortest paths, hop-bounded Bellman-Ford:
    ``dist_k(v) = min cost over walks of <= k hops`` — k synchronous
    relaxation rounds, each one join + min-aggregate (the weighted
    generalization of the BFS rounds above; SURVEY §2.10 "BFS, SSSP").

    ``edges`` must be ``(src, dst, w)`` with the orientation the caller
    wants (symmetrize first for undirected). Hop-bounding makes the
    operator total on cyclic graphs without negative-cycle detection;
    for full convergence pass max_hops >= |V|.

    Scale: per round the relax join re-shuffles only the dist table
    (O(reached vertices)); the edge side stays partitioned/persisted.
    Cost accumulation is per-path left-to-right, so results are exact
    and reproducible (min over identical walk-cost sets).
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
        F.col("w").cast("double").alias("w"),
    ).repartition("src").persist(StorageLevel.MEMORY_AND_DISK)

    dist = local_frame(spark, [(source, 0.0)], "id bigint, cost double")
    converged = False
    for _hop in range(max_hops):
        cand = dist.join(e, dist["id"] == e["src"]).select(
            e["dst"].alias("id"), (dist["cost"] + e["w"]).alias("cost")
        )
        new_dist = (
            dist.unionByName(cand)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
            .transform(_ckpt)
        )
        # fixpoint early-exit: no vertex improved and none added
        if new_dist.count() == dist.count():
            improved = (
                new_dist.alias("n")
                .join(dist.alias("o"), "id")
                .filter(F.col("n.cost") < F.col("o.cost"))
            )
            if improved.isEmpty():
                dist = new_dist
                converged = True
                break
        dist = new_dist

    if not converged and warn_on_truncation:
        # Same loud-truncation contract as bfs above: max_hops exhausted
        # without a proven relaxation fixed point, so reported costs are
        # only "min over walks of <= max_hops hops" — a deeper graph
        # would silently under-reach. One extra relax-compare round
        # decides (only paid on the truncation path); callers doing
        # bounded exploration on purpose pass warn_on_truncation=False.
        cand = dist.join(e, dist["id"] == e["src"]).select(
            e["dst"].alias("id"), (dist["cost"] + e["w"]).alias("cost")
        )
        probe = (
            dist.unionByName(cand).groupBy("id").agg(F.min("cost").alias("cost"))
        )
        still_improving = probe.count() != dist.count() or not (
            probe.alias("n")
            .join(dist.alias("o"), "id")
            .filter(F.col("n.cost") < F.col("o.cost"))
            .isEmpty()
        )
        if still_improving:
            logger.warning(
                "sssp: max_hops=%d exhausted before the relaxation fixed "
                "point; costs are only valid as min over <=%d-hop walks — "
                "deeper shortest paths are unreported",
                max_hops,
                max_hops,
            )

    e.unpersist()
    return dist


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank by synchronous power iteration over a directed edge
    list: ``pr_{k+1}(v) = (1-d)/N + d * sum over in-edges (u,v) of
    pr_k(u) / outdeg(u)``. Dangling vertices (no out-edges) keep their
    rank out of circulation (the simple variant).

    Per iteration: one join of the (static, persisted, src-partitioned)
    contribution table against the rank table + one aggregate — the
    same shuffle budget as a BFS round, and the same driver-loop +
    localCheckpoint discipline. Returns ``(id, pr)``.
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst")
    ).distinct()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    links = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .transform(_ckpt)
    )
    n = vertices.count()
    ranks = vertices.withColumn("pr", F.lit(1.0 / n)).transform(_ckpt)
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contribs = (
            ranks.join(links, ranks["id"] == links["src"])
            .select(links["dst"].alias("id"), (ranks["pr"] / links["outdeg"]).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            vertices.join(contribs, "id", "left")
            .select(
                "id",
                (F.lit(base) + F.lit(damping) * F.coalesce("csum", F.lit(0.0))).alias("pr"),
            )
            .transform(_ckpt)
        )
    links.unpersist()
    return ranks


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (community detection, Raghavan et
    al. 2007): every vertex starts labelled with its own id; each round
    every vertex adopts the most frequent label among its neighbours
    (ties broken toward the SMALLEST label, so the synchronous sweep is
    fully deterministic and oracle-checkable). Returns ``(id, label)``
    after exactly ``rounds`` sweeps — a fixed round count rather than a
    convergence test, because synchronous LPA can oscillate on
    near-bipartite structures; callers pick rounds ≈ expected community
    diameter.

    Per round: one edge⋈label join (shuffle keyed on the label side's
    id) and one two-level aggregate — the (src, label) count collapses
    map-side before the argmax, so the exchange carries at most
    |V|·distinct-neighbour-labels rows, never the raw edge fanout.
    Same localCheckpoint lineage discipline as bfs/kcore.
    """
    sym = undirected_edges(edges).transform(_ckpt)
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    best = F.max_by(
        F.col("label"), F.struct(F.col("c"), (-F.col("label")).alias("nl"))
    )
    for _ in range(rounds):
        votes = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("src")
            .agg(best.alias("label"))
            .select(F.col("src").alias("id"), "label")
            .transform(_ckpt)
        )
    return labels


def kcore(edges: DataFrame, k: int, max_iters: int = 100) -> DataFrame:
    """The k-core: iteratively peel vertices of degree < k until none
    remain (Matula-Beck). Returns ``(id, degree)`` — each surviving
    vertex with its degree inside the core.

    Per round: one degree aggregate + two semi-joins restricting the
    edge set to surviving endpoints, with the same localCheckpoint
    discipline as bfs. The edge set only shrinks, so per-round cost is
    bounded by the current core size; rounds = peeling depth (the
    longest cascade), typically far below |V|.
    """
    cur = (
        edges.select(
            F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    cur = (
        cur.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(cur.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .transform(_ckpt)
    )

    converged = False
    n_vertices = cur.select("src").distinct().count()
    for _ in range(max_iters):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select(F.col("src").alias("id"))
        n_keep = keep.count()
        if n_keep == 0:
            cur = cur.limit(0)
            converged = True
            break
        if n_keep == n_vertices:
            converged = True
            break
        cur = (
            cur.join(keep, cur["src"] == keep["id"], "left_semi")
            .join(keep, F.col("dst") == keep["id"], "left_semi")
            .transform(_ckpt)
        )
        n_vertices = n_keep
    if not converged:
        logger.warning(
            "kcore: max_iters=%d exhausted before the peeling fixed point; "
            "result may retain vertices below core degree %d",
            max_iters,
            k,
        )
    return cur.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts via the degree-ordered node-iterator
    join (compact-forward): orient every undirected edge from the
    lower-(degree, id) endpoint to the higher, then a triangle a→b→c
    with a→c closes exactly once. Ordering by degree instead of raw id
    is the scale move — each vertex's out-neighborhood is bounded by
    O(sqrt(E)) on skewed graphs (a hub's edges point INTO it), so the
    wedge join's fanout never explodes on celebrity vertices. The
    triangle SET is orientation-independent, which lets a plain
    least/greatest SQL oracle verify the degree-ordered plan.

    Returns ``(id, n_triangles)`` for vertices in >= 1 triangle.
    """
    raw = edges.select(
        F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    und = (
        raw.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    sym = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranked = (
        sym.join(deg.select(F.col("u").alias("u"), F.col("deg").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        # orient low-(degree, id) -> high-(degree, id)
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"))
        .transform(_ckpt)
    )
    e1 = ranked.select(F.col("a"), F.col("b"))
    e2 = ranked.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = ranked.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")), "left_semi")
        .select("a", "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def connected_components_star(
    edges: DataFrame, max_iters: int = 30, return_rounds: bool = False
) -> DataFrame | tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star
    rounds — the O(log d)-round algorithm from the MapReduce CC
    literature (Kiveris et al., "Connected Components in MapReduce and
    Beyond"), for graphs whose diameter makes per-hop min-label
    propagation (``dedup_queries.connected_components``, O(d) rounds)
    too slow. Near-dup clusters are shallow, so min-label is fine
    there; long chains (session graphs, citation paths, road-ish
    topologies) want this variant.

    Per round, every vertex re-points its neighbors at the minimum of
    its closed neighborhood:

    - large-star: for each u, every LARGER neighbor v>u re-attaches to
      m = min(N(u) ∪ {u}) — safe in parallel because v only ever moves
      to a strictly smaller label;
    - small-star: each u and its smaller neighbors all attach to m —
      collapses the chains large-star leaves behind.

    Both are one groupBy + one join per round over the current edge
    set, which shrinks toward one star per component; convergence is
    detected by an except-count (edge set reaches a fixed point).

    Input: ``(src, dst)`` edge rows (undirected; symmetrized here).
    Output: ``(v, cluster_id)`` with cluster_id = min vertex id in the
    component — identical contract to min-label propagation, which the
    property tests exploit (tests/test_properties.py).
    """
    e = (
        edges.select(F.col("src").cast("bigint").alias("a"), F.col("dst").cast("bigint").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .transform(_ckpt)
    )

    def large_star(cur: DataFrame) -> DataFrame:
        sym = cur.unionByName(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        return (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # edges already directed (a > b); min over smaller neighbors
        mins = cur.groupBy("a").agg(F.min("b").alias("m"))
        with_m = cur.join(mins, "a")
        moved = with_m.filter(F.col("b") != F.col("m")).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        self_edges = mins.select(F.col("a"), F.col("m").alias("b"))
        return (
            moved.unionByName(self_edges)
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
            .distinct()
        )

    rounds = 0
    converged = False
    for _ in range(max_iters):
        rounds += 1
        nxt = small_star(large_star(e)).transform(_ckpt)
        # fixed point: the (canonical, deduped) edge sets are equal
        if nxt.count() == e.count() and nxt.exceptAll(e).isEmpty():
            e = nxt
            converged = True
            break
        e = nxt
    if not converged:
        # Same loud-truncation contract as bfs above: an unconverged
        # star forest can still chain labels, splitting true components.
        logger.warning(
            "connected_components_star: max_iters=%d exhausted before "
            "the edge-set fixed point; labels may split one true component",
            max_iters,
        )

    # converged edge set is a star forest: (v, component-min) pairs
    labels = (
        e.select(F.col("a").alias("v"), F.col("b").alias("cluster_id"))
        .unionByName(
            e.select(F.col("b").alias("v"), F.col("b").alias("cluster_id"))
        )
        .distinct()
    )
    return (labels, rounds) if return_rounds else labels


_AUTO_JUMP_AFTER = 8  # "auto": one-hop base rounds 1..8, jump rounds after


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 200,
    stats: dict | None = None,
    jumps: bool | str = "auto",
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by the
    forward-backward coloring algorithm with trimming (Orzan 2004 /
    the FW-BW-Trim family — the standard distributed SCC method;
    Tarjan's stack walk is inherently sequential and never an option
    on a cluster).

    Per pass over the remaining subgraph:

    1. **Trim**: vertices with no in-edges or no out-edges inside the
       remaining subgraph are singleton SCCs — peel them repeatedly
       (removes the DAG fringe without any propagation).
    2. **Color**: forward min-label propagation to fixpoint —
       ``c(v)`` = smallest vertex that reaches v. Roots are vertices
       with ``c(r) = r``; a root is the minimum of its own SCC (any
       smaller SCC member would reach it).
    3. **Backward mark**: from every root simultaneously, walk the
       REVERSED edges restricted to the root's color; marked vertices
       are mutually reachable with their root — exactly SCC(r) for
       every root r, all extracted in one sweep.

    Extracted vertices leave the subgraph; the loop repeats on the
    rest (vertices colored by a root outside their own SCC). Output:
    ``(v, scc_id)`` with scc_id = min member, matching a recursive-
    closure oracle's canonical labels. ``max_rounds`` bounds TOTAL
    propagation rounds across all phases (an adversarial long path
    needs O(path) trim rounds; real condensations are shallow) — on
    exhaustion the remainder is labeled NULL and a warning logged,
    the same loud-truncation contract as ``bfs``.

    Scale notes: every phase is frontier-style (messages flow along
    edges, min/any aggregates, anti-joins against small marked sets);
    per-round state is O(remaining vertices) and the edge table is
    filtered once per pass, so cost tracks the surviving subgraph,
    which shrinks by at least every root's SCC per pass.

    Pass a dict as ``stats`` for per-pass instrumentation:
    ``stats["phases"]`` = list of ``(pass_no, phase, rounds, seconds)``
    with phase in {trim, color, backward} — at the sf0.01/0.1 profile
    the color fixpoint dominates (its round count tracks the internal
    diameter of the largest surviving SCC), which is why each color
    round fuses the fixpoint test into the checkpoint job.

    ``jumps=True`` adds a pointer-jumping shortcut to BOTH
    propagation phases. Color rounds gain ``c(v) ← min(c(v),
    c(c(v)))``, sound by transitivity (if w reaches u and u reaches v
    then w reaches v). The backward phase swaps the one-hop-per-round
    frontier walk for the same machinery in reverse over SALTED keys:
    roots seed the sentinel key -1, every other vertex a hash of its
    id, and each vertex minimizes the key over its class-internal
    forward-reachable set — membership is "the sentinel reached me"
    (``dk(v) == -1`` ⟺ v reaches its root). Salting matters: raw-id
    min-labels collapse to a one-hop wavefront when ids increase
    along edges (measured 64/64 rounds on the ring fixture); hashed
    keys decorrelate order from direction so the jump compounds (see
    the in-loop comment for completeness and convergence arguments).
    Both fixpoints collapse from O(diameter) to O(log diameter)
    rounds. The state SELF-JOIN each
    requires is exactly the plan shape whose carried localCheckpoint
    statistics SQUARE per round (the round-11 BigInteger forensics,
    plans/reliable.spill_truncate docstring), so each jump round
    truncates via :func:`spill_truncate` instead: two parquet spills
    per round. The trade is measured, not assumed (bench-graph
    --directed --jumps, BASELINE.md): the spill floor loses at
    sf0.1-sized graphs, and the formulation
    wins where per-round data cost dominates the floor.

    ``jumps="auto"`` (the DEFAULT since round 13 — the round-12
    verdict's adaptive ask) takes both sides of that measured
    crossover without the caller choosing. Two pieces:

    - **Deferred escalation**: rounds 1..``_AUTO_JUMP_AFTER`` of each
      propagation fixpoint run the cheap one-hop base step only
      (``localCheckpoint`` truncation, no spills) — a shallow
      fixpoint converges before ever paying the spill floor; from
      round ``_AUTO_JUMP_AFTER + 1`` every round also applies the
      jump shortcut with the spill_truncate discipline it needs, so
      a deep fixpoint escalates to exactly the forced-jumps
      machinery after a bounded prefix of cheap rounds.
    - **Sentinel-closure convergence** (backward phase, all jump
      modes): stop when no vertex NEWLY reaches ``dk == -1`` rather
      than when every salted key stabilizes — the frontier walk's own
      stopping rule, sound because a zero-new-sentinel round proves
      the marked set is one-hop closed. This cuts the shallow-graph
      round count to the root eccentricity (the hash keys' longer
      mixing time stops mattering), which is what makes the salted
      machinery competitive with the plain frontier walk at the
      sf0.1 profile.

    Measured (BASELINE.md round-13 table): auto is within noise of
    the old shipped default at sf0.1 (fewer color rounds, slightly
    pricier backward rounds — a wash) and within ~1.2x of forced
    ``jumps=True`` on the diameter-200 dscc-deep fixture, where the
    old default was 13.5x slower. Identical labels in every mode.
    """
    # jump_from: first propagation round that applies the jump
    # shortcut. None = never (jumps=False), 1 = every round
    # (jumps=True), _AUTO_JUMP_AFTER+1 = auto (cheap one-hop rounds
    # first — shallow fixpoints converge before ever paying a spill,
    # deep ones escalate to per-round jumping).
    if jumps == "auto":
        jump_from: int | None = _AUTO_JUMP_AFTER + 1
    elif jumps:
        jump_from = 1
    else:
        jump_from = None
    e_raw = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    )
    e0 = (
        e_raw.filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    # Vertex set from the UNFILTERED input: a vertex whose only edges are
    # self-loops is a valid singleton SCC and must still get an output row.
    remaining = (
        e_raw.select(F.col("src").alias("v"))
        .union(e_raw.select(F.col("dst").alias("v")))
        .distinct()
        .transform(_ckpt)
    )
    done: DataFrame | None = None
    rounds_left = max_rounds
    if stats is not None:
        stats["phases"] = []  # (pass_no, phase, rounds_used, seconds)

    def _note(pass_no: int, phase: str, used: int, t0: float) -> None:
        if stats is not None:
            stats["phases"].append(
                (pass_no, phase, used, round(time.perf_counter() - t0, 3))
            )

    pass_no = 0

    def add(res: DataFrame, part: DataFrame) -> DataFrame:
        return part if res is None else res.unionByName(part).transform(_ckpt)

    while rounds_left > 0:
        pass_no += 1
        n_rem = remaining.count()
        if n_rem == 0:
            break
        e = (
            e0.join(remaining.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("v", "dst"), "dst", "left_semi")
            .transform(_ckpt)
        )
        # --- trim the DAG fringe
        trimmed_any = False
        _t0, _r0 = time.perf_counter(), rounds_left
        while rounds_left > 0:
            rounds_left -= 1
            srcs = e.select(F.col("src").alias("v")).distinct()
            dsts = e.select(F.col("dst").alias("v")).distinct()
            keep = srcs.join(dsts, "v", "left_semi")  # has both in and out edges
            fringe = remaining.join(keep, "v", "left_anti").transform(_ckpt_lazy)
            n_fringe = fringe.count()  # materializes the lazy checkpoint
            if n_fringe == 0:
                break
            trimmed_any = True
            done = add(done, fringe.select("v", F.col("v").alias("scc_id")))
            remaining = remaining.join(fringe, "v", "left_anti").transform(_ckpt)
            e = (
                e.join(fringe.withColumnRenamed("v", "src"), "src", "left_anti")
                .join(fringe.withColumnRenamed("v", "dst"), "dst", "left_anti")
                .transform(_ckpt)
            )
        _note(pass_no, "trim", _r0 - rounds_left, _t0)
        if remaining.count() == 0 or rounds_left <= 0:
            break
        # --- forward min-label propagation to fixpoint
        _t0, _r0 = time.perf_counter(), rounds_left
        c = remaining.select("v", F.col("v").alias("c")).transform(_ckpt)
        colors_converged = False
        color_round = 0
        while rounds_left > 0:
            rounds_left -= 1
            color_round += 1
            do_jump = jump_from is not None and color_round >= jump_from
            msgs = e.join(c.withColumnRenamed("v", "src"), "src").select(
                F.col("dst").alias("v"), "c"
            )
            # ONE job per round: the new labels carry a changed flag
            # (vs the old label) inside the lazily-checkpointed frame,
            # and the full count of changed rows both materializes the
            # checkpoint and answers the fixpoint test — the previous
            # separate checkpoint job + change-probe job were the
            # dominant per-round cost (2 jobs x ~90 color rounds at
            # the sf0.1 profile).
            new_min = (
                c.unionByName(msgs).groupBy("v").agg(F.min("c").alias("c"))
            )
            if do_jump:
                # pointer jumping: shortcut through the current label's
                # own label. The self-join squares localCheckpoint-
                # carried stats (round-11 forensics), so this round
                # truncates with spill_truncate — real file stats, two
                # spills per (much rarer) round.
                new_min = _reliable.spill_truncate(new_min, "scc-color-base")
                jt = new_min.select(
                    F.col("v").alias("jv"), F.col("c").alias("jc")
                )
                new_min = (
                    new_min.join(jt, new_min["c"] == jt["jv"], "left")
                    .select(
                        new_min["v"].alias("v"),
                        F.least(new_min["c"], F.col("jc")).alias("c"),
                    )
                )
            c2 = (
                new_min
                .join(
                    c.withColumnRenamed("c", "c_old"), "v"
                )
                .select("v", "c", (F.col("c") < F.col("c_old")).alias("chg"))
            )
            c2 = (
                _reliable.spill_truncate(c2, "scc-color")
                if do_jump
                else c2.transform(_ckpt_lazy)
            )
            changed = c2.filter("chg").count()  # full count: materializes every partition
            c = c2.select("v", "c")
            if changed == 0:
                colors_converged = True
                break
        _note(pass_no, "color", _r0 - rounds_left, _t0)
        if not colors_converged:
            # A cut-short coloring would surface FALSE roots (vertices
            # the true min label has not yet reached) and emit wrong
            # scc_ids — bail to the NULL-label truncation branch below
            # instead of extracting from it. (The backward phase has no
            # such hazard: a partial mark only ever contains vertices
            # already proven mutually reachable with their root.)
            rounds_left = 0
            break
        # --- backward mark within colors, from every root at once
        _t0, _r0 = time.perf_counter(), rounds_left
        if jump_from is not None:
            # Pointer-jumping backward phase (round 12): the frontier
            # walk below is one hop per round — O(diameter) rounds, and
            # after the color phase collapsed it was 95% of the
            # dscc-deep runtime (BASELINE.md round-12 table). Run the
            # color machinery in REVERSE instead, over CLASS-INTERNAL
            # edges. Restricting edges to c(src) == c(dst) is complete,
            # not just sound: if c(v) = r then r reaches v along a path
            # whose every intermediate u has c(u) = r (anything
            # reaching u reaches v, so c(u) >= c(v) = r; and r reaches
            # u, so c(u) <= r — the Orzan lemma).
            #
            # The label each vertex minimizes is a SALTED key, not the
            # raw id: roots carry the sentinel key -1 (unique within
            # their class — edges never cross classes, so another
            # class's sentinel cannot leak), every other vertex a
            # 63-bit hash of its id. Membership is then simply "the
            # sentinel reached me": dk(v) == -1 ⟺ v reaches its root
            # class-internally ⟺ v ∈ SCC(root). Raw-id min-labels
            # degenerate under adversarial orderings — with ids
            # increasing along edges (the dscc-deep chain exactly),
            # min(out-neighbor ids) == self everywhere except the
            # wrap-around, so d(v) stays a self-pointer and the jump
            # d(d(v)) has nothing to chase: a one-hop wavefront,
            # O(diameter) rounds, measured 64/64 on the ring fixture.
            # Hashing decorrelates key order from edge direction, so
            # min-chains have random geometry and the jump compounds:
            # O(log diameter) rounds w.h.p. (the same trick behind
            # Stergiou-style label-propagation shortcutting).
            #
            # Base step: d(src) ← min over out-neighbors' (key, ptr);
            # jump: d(v) ← min(d(v), d(ptr(v))), sound because
            # class-internal reachability is transitive. Scalar O(V)
            # state — NOT the Σ|SCC|² pair materialization a
            # transitive-closure doubling would cost — and the same
            # spill_truncate discipline as the color jump (the
            # d(ptr(v)) self-join squares carried stats). A
            # rounds-exhausted partial d only ever yields marks whose
            # membership is already proven (dk = -1 certifies a
            # witness path to the root), matching the frontier walk's
            # truncation contract.
            cc_src = c.select(F.col("v").alias("src"), F.col("c").alias("c_src"))
            cc_dst = c.select(F.col("v").alias("dst"), F.col("c").alias("c_dst"))
            e_cls = (
                e.join(cc_src, "src")
                .join(cc_dst, "dst")
                .filter(F.col("c_src") == F.col("c_dst"))
                .select("src", "dst")
                .transform(_ckpt)
            )
            d = c.select(
                "v",
                F.when(F.col("v") == F.col("c"), F.lit(-1).cast("bigint"))
                .otherwise(F.shiftrightunsigned(F.xxhash64(F.col("v")), 1))
                .alias("dk"),
                F.col("v").alias("dv"),
            )
            back_round = 0
            while rounds_left > 0:
                rounds_left -= 1
                back_round += 1
                do_jump = back_round >= jump_from
                msgs = e_cls.join(
                    d.withColumnRenamed("v", "dst"), "dst"
                ).select(F.col("src").alias("v"), "dk", "dv")
                new_min = (
                    d.unionByName(msgs)
                    .groupBy("v")
                    .agg(F.min(F.struct("dk", "dv")).alias("m"))
                    .select(
                        "v",
                        F.col("m.dk").alias("dk"),
                        F.col("m.dv").alias("dv"),
                    )
                )
                if do_jump:
                    new_min = _reliable.spill_truncate(new_min, "scc-back-base")
                    jt = new_min.select(
                        F.col("v").alias("jv"),
                        F.col("dk").alias("jk"),
                        F.col("dv").alias("jd"),
                    )
                    new_min = (
                        new_min.join(jt, new_min["dv"] == jt["jv"], "left")
                        .select(
                            new_min["v"].alias("v"),
                            F.least(
                                F.struct(
                                    new_min["dk"].alias("dk"),
                                    new_min["dv"].alias("dv"),
                                ),
                                F.struct(
                                    F.coalesce(F.col("jk"), new_min["dk"]).alias("dk"),
                                    F.coalesce(F.col("jd"), new_min["dv"]).alias("dv"),
                                ),
                            ).alias("m"),
                        )
                        .select(
                            "v",
                            F.col("m.dk").alias("dk"),
                            F.col("m.dv").alias("dv"),
                        )
                    )
                d2 = (
                    new_min.join(
                        d.select(
                            "v",
                            F.col("dk").alias("dk_old"),
                            F.col("dv").alias("dv_old"),
                        ),
                        "v",
                    )
                    .select(
                        "v",
                        "dk",
                        "dv",
                        # Sentinel-closure convergence (round 13): stop
                        # when no vertex NEWLY reached dk == -1 — the
                        # frontier walk's own stopping rule. Sound and
                        # complete: the base step gives every vertex
                        # the min over its out-neighbors, so a round
                        # with zero new sentinels proves the marked set
                        # is one-hop closed, i.e. already the full
                        # backward-reachable set of the roots. The
                        # non-sentinel hash keys may still be churning
                        # — irrelevant, membership only reads dk == -1
                        # — which is what cuts the shallow-graph round
                        # count from O(key-mixing) to O(root
                        # eccentricity), the fix that makes the salted
                        # machinery competitive with the frontier walk
                        # at the sf0.1 profile.
                        ((F.col("dk") == -1) & (F.col("dk_old") != -1)).alias(
                            "chg"
                        ),
                    )
                )
                d2 = (
                    _reliable.spill_truncate(d2, "scc-back")
                    if do_jump
                    else d2.transform(_ckpt_lazy)
                )
                changed = d2.filter("chg").count()
                d = d2.select("v", "dk", "dv")
                if changed == 0:
                    break
            mark = (
                d.filter(F.col("dk") == -1)
                .join(c, "v")
                .select("v", "c")
                .transform(_ckpt)
            )
        else:
            mark = c.filter(F.col("v") == F.col("c")).transform(_ckpt)
            while rounds_left > 0:
                rounds_left -= 1
                # candidate u joins SCC(c(u)) only if it has an edge into
                # an ALREADY-marked vertex of its own color (reversed-edge
                # walk restricted to the color partition); lazy checkpoint
                # — the emptiness count materializes it in the same job
                new = (
                    e.join(
                        mark.select(
                            F.col("v").alias("dst"), F.col("c").alias("mc")
                        ),
                        "dst",
                    )
                    .select(F.col("src").alias("v"), "mc")
                    .join(c, "v")
                    .filter(F.col("c") == F.col("mc"))
                    .select("v", "c")
                    .distinct()
                    .join(mark.select("v"), "v", "left_anti")
                    .transform(_ckpt_lazy)
                )
                if new.count() == 0:
                    break
                mark = mark.unionByName(new).transform(_ckpt_lazy)
        _note(pass_no, "backward", _r0 - rounds_left, _t0)
        done = add(done, mark.select("v", F.col("c").alias("scc_id")))
        remaining = remaining.join(mark.select("v"), "v", "left_anti").transform(_ckpt)
        if not trimmed_any and mark.count() == 0:  # defensive: no progress
            break
    if rounds_left <= 0:
        n_left = remaining.count()
        if n_left:
            logger.warning(
                "strongly_connected_components: max_rounds=%d exhausted with "
                "%d vertices unresolved; emitting NULL scc_id for them",
                max_rounds,
                n_left,
            )
            done = add(
                done, remaining.select("v", F.lit(None).cast("bigint").alias("scc_id"))
            )
    return done
