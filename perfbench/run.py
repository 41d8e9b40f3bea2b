#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload bfs_deep --seed 1 --seconds 15 --trace 0

One client sends one request at a time (closed loop, one request in
flight) to a ``local[<cores>]`` session. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics, read
from the harness's own spans around each engine call and from Spark's
status stores, and writes every span to ``.perfbench_out/``. The last
stdout line is the result object; the line before it is a report with
the secondary figures (TEPS, failed fraction, per-query latency).

Inputs are generated from ``--seed`` under ``.perfbench_tmp/`` in the
checkout and removed on exit, together with the Spark local dirs and
warehouse. See ``perfbench/README.md`` for the workloads and metrics.
"""

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402
from types import SimpleNamespace  # noqa: E402

import probe  # noqa: E402
import workloads  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# JVM options for the session's driver JVM (in local mode it is also the
# executor). These are not the engine's default JVM settings, so every
# figure is for this configuration. C1 only, with room for Spark's
# generated classes: under the default tiered C2 compiler, bfs_deep
# latency settled only after about 20 measured requests (some 90 s past
# the warm-up pass), which no run of the benchmark's budget can afford.
# Parallel GC: under G1's adaptive heap sizing the JVM's peak RSS varied
# by a tenth from run to run, and so did BFS latency. With both options,
# in a quiet hour the spread over five seeds fell from 0.15 to 0.05.
# No perf-data file: the JVM would write it under /tmp, outside the checkout.
JVM_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -XX:+UseParallelGC"
    " -XX:-UsePerfData"
)

END_TO_END = {
    "latency_gmean_s": "s",
    "requests_per_min": "1/min",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.catalog_s": "s",
    "registry.build_s": "s",
    "exec.action_s": "s",
    "sources.read_s": "s",
    "sources.input_mb": "MiB",
    "sources.input_rows": "count",
    "graph.bfs_s": "s",
    "graph.rounds": "count",
    "graph.round_s": "s",
    "graph.round1_s": "s",
    "graph.jobs_per_round": "count",
    "graph.frontier_max": "count",
    "graph.useful_ratio": "ratio",
    "pyworker.run_s": "s",
    "pyworker.boot_s": "s",
    "pyworker.init_s": "s",
    "pyworker.sent_mb": "MiB",
    "pyworker.recv_mb": "MiB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "harness.self_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_frac": "ratio",
    "memo_hits": "count",
}
# span name -> per-layer self-time metric
SELF_TIME = {
    "registry.build": "registry.build_s",
    "exec.action": "exec.action_s",
    "sources.read_edge_list": "sources.read_s",
    "graph.bfs": "graph.bfs_s",
    "request": "harness.self_s",
}


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.wl = workloads.make(args.workload)
        self.traced = bool(args.trace)
        self.spans = probe.Spans(self.traced)
        self.off = probe.Spans(False)
        self.records: list[dict] = []
        self.harness_s = 0.0
        self.peak_rss = {"driver": 0.0}
        self.steal_frac = 0.0
        self.spark = None
        self.status = None

    # -- setup -------------------------------------------------------------

    def setup(self) -> dict:
        t = time.perf_counter()
        self.wl.generate(self.args.seed, self.work)
        self.harness_s += time.perf_counter() - t
        timings = {"generate_s": time.perf_counter() - t}

        with self.spans.span("session.get_session"):
            t = time.perf_counter()
            from bfs_mapreduce_spark.session import get_session

            self.spark = get_session(
                app_name=f"perfbench-{self.args.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={self.work} {JVM_OPTIONS}"
                    ),
                    "spark.executorEnv.PYTHONPATH": str(ROOT),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            timings["session.start_s"] = time.perf_counter() - t
        with self.spans.span("registry.all_queries"):
            t = time.perf_counter()
            from bfs_mapreduce_spark import registry

            catalog = registry.all_queries()
            timings["registry.catalog_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.wl.prepare(catalog)
        if self.traced:
            self.status = probe.StatusReader(self.spark)
        self.harness_s += time.perf_counter() - t
        timings["oracle_s"] = time.perf_counter() - t

        t = time.perf_counter()
        for key in self.wl.keys:
            self.request(key, "warmup", self.traced)
        timings["warmup_s"] = time.perf_counter() - t
        timings["setup_s"] = time.perf_counter() - T_PROC - self.harness_s
        return timings

    # -- one request ---------------------------------------------------------

    def request(self, key, phase: str, traced: bool) -> None:
        rid = len(self.records)
        ctx = SimpleNamespace(
            spark=self.spark,
            spans=self.spans if traced else self.off,
            stats={} if traced else None,
        )
        group = f"perfbench-{rid}"
        # Every request computes from source: drop what earlier requests
        # left in Spark's cache manager (``cache_point`` persists are
        # keyed by plan, so a repeated query would reuse them) and the
        # workload's known in-process memos.
        self.spark.catalog.clearCache()
        self.wl.reset()
        if traced:
            self.status.begin(group)
        w0, t0 = time.time(), time.perf_counter()
        err, pdf = None, None
        try:
            with ctx.spans.span("request", request=rid):
                pdf = self.wl.run(key, ctx)
        except Exception as ex:  # a failed request is counted, not fatal
            err = f"{type(ex).__name__}: {ex}"
            traceback.print_exc()
        latency = time.perf_counter() - t0
        w1 = time.time()

        h0 = time.perf_counter()
        problems = [err] if err else self.wl.check(key, pdf)
        rec = {"id": rid, "key": key, "phase": phase, "traced": traced,
               "latency_s": latency, "ok": not problems, "problems": problems[:3]}
        if problems:
            print(f"perfbench: request {rid} {key!r} FAILED: {problems[:3]}", file=sys.stderr)
        if traced:
            rec["metrics"] = self.layer_metrics(rid, group, latency, w0, w1, ctx.stats)
        self.records.append(rec)
        rss = probe.tree_peak_rss_mb()
        if sum(rss.values()) > sum(self.peak_rss.values()):
            self.peak_rss = rss
        self.harness_s += time.perf_counter() - h0

    def layer_metrics(self, rid, group, latency, w0, w1, stats) -> dict:
        m = self.status.collect(group, w0, w1)
        out = {metric: 0.0 for metric in SELF_TIME.values()}
        for name, own in self.spans.self_times(rid).items():
            if name in SELF_TIME:
                out[SELF_TIME[name]] = own
        out["trace.coverage"] = 1.0 - out["harness.self_s"] / latency
        out.update(m)
        out["spark.driver_gap_s"] = max(0.0, latency - m["spark.job_s"])
        out["spark.busy_frac"] = m["spark.executor_run_s"] / (latency * self.cores)
        rounds = (stats or {}).get("rounds") or []
        if rounds:
            discovered = sum(r[1] for r in rounds)
            out.update({
                "graph.rounds": len(rounds),
                "graph.round_s": probe.median([r[2] for r in rounds]),
                "graph.round1_s": rounds[0][2],
                "graph.frontier_max": max(r[1] for r in rounds),
                "graph.jobs_per_round": m["spark.jobs"] / len(rounds),
                "graph.useful_ratio": discovered / max(1.0, m["spark.shuffle_write_records"]),
            })
        return out

    # -- timed run -----------------------------------------------------------

    def measure(self) -> float:
        """Whole passes over the workload's requests, about ``--seconds`` long.

        The pass count comes from ``--seconds`` and the workload's nominal
        pass time on the reference host, not from the pass times of this
        run: every run of a workload does the same work, so a run on a
        quick or a slow host is not sampled at a different point of the
        JVM's warm-up curve. In a traced run each request kind alternates
        traced/untraced, so the two halves give the tracing overhead; at
        least two passes run, so every kind is seen both ways.
        """
        t0, ticks0 = time.perf_counter(), probe.cpu_ticks()
        n_passes = max(2 if self.traced else 1, round(self.args.seconds / self.wl.pass_s))
        # half the kinds are traced on their odd occurrences and half on
        # their even ones, so the warm-up trend does not read as overhead
        seen = {key: i % 2 for i, key in enumerate(self.wl.keys)}
        for pass_no in range(n_passes):
            for key in self.wl.pass_keys(self.args.seed, pass_no):
                seen[key] += 1
                self.request(key, "measure", self.traced and seen[key] % 2 == 1)
        ticks1 = probe.cpu_ticks()
        # time the hypervisor gave to other guests: a noisy-host marker
        self.steal_frac = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        return time.perf_counter() - t0

    # -- results -------------------------------------------------------------

    def results(self, timings: dict, measured_s: float) -> dict:
        measured = [r for r in self.records if r["phase"] == "measure"]
        plain = [r for r in measured if not r["traced"]] or measured
        ok = [r for r in plain if r["ok"]] or plain
        ok_lat = [r["latency_s"] for r in ok]
        failed = sum(not r["ok"] for r in self.records)
        q_tail = probe.tail_quantile(len(ok_lat))
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "cores": self.cores,
            "requests": len(measured),
            "latency_p50_s": probe.median(ok_lat),
            "failed_frac": failed / len(self.records),
            "latency_tail_s": probe.quantile(ok_lat, q_tail),
            "tail_quantile": q_tail,
            "tail_requests_beyond": int(len(ok_lat) * (1 - q_tail)),
            "measured_s": measured_s,
            "peak_rss_by_process_mb": self.peak_rss,
            "cpu_steal_frac": self.steal_frac,
            "timings": timings,
            "per_key_latency_s": _per_key(plain),
            "latencies_s": [r["latency_s"] for r in measured],
        }
        if hasattr(self.wl, "n_edges"):
            report["teps_m"] = probe.median(
                [self.wl.n_edges / r["latency_s"] / 1e6 for r in plain if r["ok"]] or [0.0]
            )
        if not self.traced:
            values = {
                "latency_gmean_s": probe.gmean(list(_per_key(ok).values())),
                "requests_per_min": 60.0 * sum(r["ok"] for r in plain)
                / sum(r["latency_s"] for r in plain),
                "peak_rss_mb": sum(self.peak_rss.values()),
                "setup_s": timings["setup_s"],
            }
            units = END_TO_END
        else:
            values = self.layer_summary(timings, measured)
            units = PER_LAYER
        return {
            "report": report,
            "result": {
                "correct": failed == 0,
                "attempted": len(self.records),
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            },
        }

    def layer_summary(self, timings: dict, measured: list[dict]) -> dict:
        traced = [r for r in measured if r["traced"]]
        values = {k: 0.0 for k in PER_LAYER}
        for k in PER_LAYER:
            xs = [r["metrics"][k] for r in traced if k in r["metrics"]]
            if xs:
                values[k] = probe.median(xs)
        values["session.start_s"] = timings["session.start_s"]
        values["registry.catalog_s"] = timings["registry.catalog_s"]
        warm_jobs = {
            r["key"]: r["metrics"]["spark.jobs"]
            for r in self.records if r["phase"] == "warmup" and r["traced"]
        }
        values["memo_hits"] = sum(
            r["metrics"]["spark.jobs"] < warm_jobs[r["key"]]
            for r in traced if r["key"] in warm_jobs
        )
        on, off = _per_key(traced), _per_key([r for r in measured if not r["traced"]])
        ratios = [on[k] / off[k] for k in on if k in off]
        if ratios:
            values["trace.overhead_frac"] = probe.gmean(ratios) - 1.0
        return values

    def write_trace(self, result: dict) -> None:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{self.args.workload}-seed{self.args.seed}.json"
        path.write_text(json.dumps(
            {"spans": self.spans.records, "requests": self.records, **result}, default=str
        ))
        print(f"perfbench: spans written to {path}", file=sys.stderr)

    # -- teardown --------------------------------------------------------------

    def close(self) -> None:
        """Stop the session, the JVM and its Python workers; wait for all."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        started = probe.descendants(os.getpid())
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        for pid in started:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def _per_key(records: list[dict]) -> dict:
    keys: dict[str, list[float]] = {}
    for r in records:
        keys.setdefault(str(r["key"]), []).append(r["latency_s"])
    return {k: probe.median(v) for k, v in keys.items()}


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    engine importable in the driver and in Spark's Python workers."""
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # spark-submit's launcher JVM, too, writes no perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # local mode runs executors in the driver JVM; keep its heap modest,
    # and fixed, so that a shell sized for large graphs cannot change it
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*workloads.NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    """Every workload in turn, one process each; prints each one's lines."""
    status = 0
    for name in workloads.NAMES:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        status = status or proc.returncode
        for line in proc.stdout.strip().splitlines()[-2:]:
            print(f"{name}: {line}", flush=True)
    return status


def main(argv=None) -> int:
    if not (ROOT / "bfs_mapreduce_spark" / "__init__.py").is_file() or not (
        ROOT / "tests" / "graph_oracle.py"
    ).is_file():
        print(f"perfbench: no engine checkout around {HERE}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    scratch = ROOT / ".perfbench_tmp"
    scratch.mkdir(exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch)
    _isolate(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, work)
    try:
        timings = bench.setup()
        measured_s = bench.measure()
        out = bench.results(timings, measured_s)
        if bench.traced:
            bench.write_trace(out)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
