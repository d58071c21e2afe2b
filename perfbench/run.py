"""Repository benchmark: one workload per run, end-to-end or per-layer.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run it from the repository root (the engine's Python workers import the
package from the working directory). It starts the engine's session,
warms it up, checks every lane's result against the pinned oracle hash
(``manifest.json``), then measures whole passes over the workload's lanes
in a seeded order until ``--seconds`` have passed. The stream workload
runs the flagship streaming query over event files written on a fixed
schedule instead (``stream.py``).

Every metric is printed by name with its unit; the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). ``README.md`` maps each metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "shortvideohybridanalyticslakehouse_spark"
SETUP_CYCLES = 3
MIN_PASSES = 3  # whole passes per run, even when they outlast --seconds

# the metrics BENCHMARK.json names: name -> unit
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.opens": "count",
    "sources.open_s": "s",
    "sources.open_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.driver_cpu_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.cached_rdds": "count",
    "plans.cached_bytes": "bytes",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.busy_frac": "ratio",
    "functions.python_cpu_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.busy_frac": "ratio",
    "streaming.backlog_files_max": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "ddl.append_s": "s",
    "ddl.appends": "count",
    "ddl.compact_s": "s",
    "ddl.compactions": "count",
    "ddl.stored_bytes_per_input_byte": "ratio",
    "generator.lateness_max_s": "s",
    "generator.events": "count",
    "host.steal_s": "s",
    "host.loadavg_start": "load",
}


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        data = fh.read()
    start_ticks = int(data[data.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    boot = time.time() - uptime
    return boot + start_ticks / os.sysconf("SC_CLK_TCK")


def hash_action(df):
    """The timed action, as in bench.py: hash every output column down to
    one number, so Catalyst prunes nothing and nothing large reaches the
    driver; the row count rides along for the correctness check."""
    from pyspark.sql import functions as F

    return df.select(
        F.sum(F.xxhash64(F.to_json(F.struct(*df.columns)))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    )


class Bench:
    """One benchmark run: session, workload, measurements."""

    def __init__(self, args, t_proc: float):
        self.args = args
        self.t_proc = t_proc
        self.sf_dir = os.path.join(HERE, "data", args.sf)
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict = {}  # run context, printed first
        self.named: dict = {}  # end-to-end metric -> (value, unit, note)
        self.layers: dict = {}
        self.spark = None
        self.tracer = None

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        """SETUP_CYCLES cycles of session start + fresh registry import +
        machinery warm-up; the first also launches the JVM."""
        cycles = []
        t0 = self.t_proc
        for k in range(SETUP_CYCLES):
            if k:
                self.spark.stop()
                for mod in [m for m in sys.modules if m.startswith(PACKAGE)]:
                    del sys.modules[mod]
                t0 = time.time()
            from shortvideohybridanalyticslakehouse_spark.plans.registry import (
                load_all,
            )
            from shortvideohybridanalyticslakehouse_spark.session import get_spark

            ts = time.time()
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData"
                    ),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            tw = time.time()
            self.registry = load_all()
            self._warmup()
            te = time.time()
            cycles.append(
                {"total_s": te - t0, "session_s": tw - ts, "warmup_s": te - tw}
            )
        self.jvm_pid = int(
            self.spark._jvm.java.lang.ProcessHandle.current().pid()
        )
        self.report["setup_cycles"] = cycles
        self.report["setup_cold_s"] = cycles[0]["total_s"]
        self.setup_s = statistics.median(c["total_s"] for c in cycles)
        self.layers["session.start_s"] = cycles[0]["session_s"]
        self.layers["session.warmup_s"] = cycles[0]["warmup_s"]

    def _warmup(self) -> None:
        """Machinery warm-up: one shuffle and the timed action's hash
        expression. Lane-specific warm-up is the correctness pass."""
        from pyspark.sql import functions as F

        df = self.spark.range(10_000).groupBy((F.col("id") % 10).alias("k")).count()
        df.select(F.sum(F.xxhash64(F.to_json(F.struct("k", "count"))))).collect()

    def fail(self, what: str, err: BaseException | str) -> None:
        msg = f"{what}: {err}".splitlines()[0][:300]
        self.failures.append(msg)
        print(f"FAILED {msg}", file=sys.stderr)

    # -- batch workloads -------------------------------------------------

    def check_lanes(self, lanes: list[str]) -> None:
        """Untimed correctness gate (also each lane's warm-up): every
        lane's full result against its pinned oracle hash."""
        from perfbench.canon import frame_hash

        with open(os.path.join(HERE, "manifest.json")) as fh:
            expected = json.load(fh)[self.args.sf]
        self.expected = expected
        for lane in self.rng.sample(lanes, len(lanes)):
            self.attempted += 1
            fn, _ = self.registry[lane]
            try:
                df = fn(self.spark, self.sf_dir)
                hash_action(df).collect()  # warms the timed action too
                got = frame_hash(df.toPandas())
            except Exception as e:  # a lane failure is a measurement
                self.fail(f"{lane} check", e)
                continue
            if got != expected[lane]:
                self.fail(f"{lane} check", f"got {got}, want {expected[lane]}")

    def run_lane(self, lane: str, traced: bool) -> dict | None:
        """Build + timed action of one lane."""
        from perfbench import layers as L

        tr, spark, group = self.tracer, self.spark, f"{self.args.workload}:{lane}"
        fn, _ = self.registry[lane]
        tr.enabled = traced
        self.attempted += 1
        rec: dict = {"lane": lane}
        try:
            if traced:
                cpu0 = (time.process_time(), L.process_cpu_s(self.jvm_pid))
                tr.job_group(f"{group}:build")
            t0 = time.perf_counter()
            with tr.span(lane, "lane"):
                with tr.span("build", "plans"):
                    df = fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                if traced:
                    cpu1 = (time.process_time(), L.process_cpu_s(self.jvm_pid))
                    tr.job_group(f"{group}:action")
                act = hash_action(df)
                with tr.span("action", "operators"):
                    n = act.collect()[0]["n"]
            t2 = time.perf_counter()
        except Exception as e:
            self.fail(lane, e)
            return None
        finally:
            if traced:
                tr.job_group(None)
            tr.enabled = False
        if n != self.expected[lane]["rows"]:
            self.fail(lane, f"{n} rows, want {self.expected[lane]['rows']}")
        rec.update(wall_s=t2 - t0, build_wall_s=t1 - t0, action_wall_s=t2 - t1)
        if traced:
            rec.update(self._lane_layers(group, act, cpu0, cpu1))
            rec["residual_s"] = rec["wall_s"] - (
                rec["open_s"]
                + rec["build_s"]
                + rec["catalyst_ms"] / 1000.0
                + rec["exec_s"]
            )
        return rec

    def _lane_layers(self, group: str, act, cpu0, cpu1) -> dict:
        from perfbench import layers as L

        tr = self.tracer
        tr.drain_listener()
        lane_idx = max(
            i for i, s in enumerate(tr.spans) if s.layer == "lane"
        )
        build_idx = lane_idx + 1
        opens = [
            s for s in tr.spans[build_idx:] if s.layer == "sources"
        ]
        build = tr.spans[build_idx]
        open_s = L.union_s([(s.start, s.end) for s in opens])
        build_jobs = tr.new_jobs(f"{group}:build")
        open_jobs = tr.new_jobs(f"{group}:build|sources")
        action_jobs = tr.new_jobs(f"{group}:action")
        build_stats = tr.job_stats(build_jobs + open_jobs)
        action_stats = tr.job_stats(action_jobs)
        everything = tr.job_stats(build_jobs + open_jobs + action_jobs)
        cat = L.catalyst_ms(act)
        rdds, held = tr.storage()
        driver_cpu = (
            (cpu1[0] - cpu0[0]) + (cpu1[1] - cpu0[1]) - build_stats["cpu_s"]
        )
        return {
            "opens": len(opens),
            "open_s": open_s,
            "open_jobs": len(open_jobs),
            "build_s": (build.end - build.start) - open_s,
            "build_jobs": len(build_jobs),
            "driver_cpu_s": max(driver_cpu, 0.0),
            **{f"{k}_ms": v for k, v in cat.items()},
            "catalyst_ms": sum(cat.values()),
            "exec_s": action_stats["wall_s"],
            "ops": everything,
            "cached_rdds": rdds,
            "cached_bytes": held,
        }

    def run_batch(self) -> None:
        from perfbench import layers as L
        from perfbench.workloads import WORKLOADS

        lanes = list(WORKLOADS[self.args.workload].lanes)
        self.check_lanes(lanes)
        passes, samples = [], []
        deadline = time.perf_counter() + self.args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            # trace runs alternate traced and untraced passes, so the
            # tracing overhead is measured inside the same run
            traced = bool(self.args.trace) and len(passes) % 2 == 0
            order = self.rng.sample(lanes, len(lanes))
            py0 = L.descendants_cpu_s(self.jvm_pid)
            t0 = time.perf_counter()
            recs = [r for r in (self.run_lane(x, traced) for x in order) if r]
            wall = time.perf_counter() - t0
            py1 = L.descendants_cpu_s(self.jvm_pid)
            passes.append(
                {
                    "wall_s": wall,
                    "traced": traced,
                    "order": order,
                    "python_cpu_s": py1 - py0,
                    "lanes": recs,
                }
            )
            samples += [r["wall_s"] for r in recs if not traced]
        untraced = [p["wall_s"] for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        tail, pct = L.percentile_tail(samples)
        self.named.update(
            pass_s=(statistics.median(untraced), "s", f"median of {len(untraced)} passes"),
            lane_p50_s=(statistics.median(samples), "s", f"{len(samples)} lane executions"),
            lane_tail_s=(tail, "s", f"p{pct:g} of {len(samples)} lane executions"),
        )
        self.e2e = {
            "latency_p50_s": self.named["lane_p50_s"][0],
            "latency_tail_s": tail,
        }
        by_lane: dict[str, list[float]] = {}
        for p in passes:
            for r in p["lanes"]:
                by_lane.setdefault(r["lane"], []).append(r["wall_s"])
        self.report.update(
            lanes=lanes,
            pass_orders=[p["order"] for p in passes],
            pass_walls_s=[p["wall_s"] for p in passes],
            lane_medians_s={k: statistics.median(v) for k, v in by_lane.items()},
        )
        if traced:
            self._rollup_batch(traced, untraced)

    def _rollup_batch(self, traced: list[dict], untraced: list[float]) -> None:
        """Per-layer metrics per pass (median over the traced passes) and
        the layer account of each lane's wall time."""
        cores = self.cores

        def per_pass(p: dict) -> dict:
            rs = p["lanes"]

            def tot(key):
                return sum(r[key] for r in rs)

            def ops(key):
                return sum(r["ops"][key] for r in rs)

            return {
                "sources.opens": tot("opens"),
                "sources.open_s": tot("open_s"),
                "sources.open_jobs": tot("open_jobs"),
                "plans.build_s": tot("build_s"),
                "plans.build_jobs": tot("build_jobs"),
                "plans.driver_cpu_s": tot("driver_cpu_s"),
                "plans.analysis_ms": tot("analysis_ms"),
                "plans.optimization_ms": tot("optimization_ms"),
                "plans.planning_ms": tot("planning_ms"),
                "plans.cached_rdds": max(r["cached_rdds"] for r in rs),
                "plans.cached_bytes": max(r["cached_bytes"] for r in rs),
                "operators.exec_s": tot("exec_s"),
                "operators.jobs": ops("jobs"),
                "operators.stages": ops("stages"),
                "operators.tasks": ops("tasks"),
                "operators.cpu_s": ops("cpu_s"),
                "operators.gc_s": ops("gc_s"),
                "operators.shuffle_read_bytes": ops("shuffle_read_bytes"),
                "operators.shuffle_write_bytes": ops("shuffle_write_bytes"),
                "operators.spill_bytes": ops("spill_bytes"),
                "operators.busy_frac": ops("run_s") / (p["wall_s"] * cores),
                "functions.python_cpu_s": p["python_cpu_s"],
            }

        rolled = [per_pass(p) for p in traced]
        for key in rolled[0]:
            self.layers[key] = statistics.median(r[key] for r in rolled)
        # wall = open + build (self) + catalyst + exec + residual, per
        # lane, averaged over the traced passes
        account: dict[str, dict[str, float]] = {}
        for p in traced:
            for r in p["lanes"]:
                a = account.setdefault(r["lane"], {})
                r = dict(r, catalyst_s=r["catalyst_ms"] / 1000.0)
                for key in ("wall_s", "open_s", "build_s", "catalyst_s", "exec_s", "residual_s"):
                    a[key] = a.get(key, 0.0) + r[key] / len(traced)
        self.report["lane_layer_account_s"] = account
        if untraced:
            self.report["trace_overhead_s"] = statistics.median(
                p["wall_s"] for p in traced
            ) - statistics.median(untraced)

    # -- the run ---------------------------------------------------------

    def run(self) -> dict:
        from pyspark.sql.readwriter import DataFrameReader

        from perfbench import layers as L
        from perfbench.workloads import WORKLOADS

        args = self.args
        self.cores = len(os.sched_getaffinity(0))
        self.report.update(
            workload=args.workload,
            why=WORKLOADS[args.workload].why,
            seed=args.seed,
            sf=args.sf,
            seconds=args.seconds,
            trace=args.trace,
            cwd=os.getcwd(),
            nproc=self.cores,
        )
        self.layers["host.loadavg_start"] = L.loadavg()
        steal0 = L.steal_s()
        self.setup()
        self.tracer = L.Tracer(self.spark)
        self.tracer.patch(DataFrameReader, "parquet", "sources")
        if args.workload == "stream":
            from perfbench.stream import run_stream

            run_stream(self)
        else:
            self.run_batch()
        self.e2e["setup_s"] = self.setup_s
        self.layers["host.steal_s"] = L.steal_s() - steal0
        self.named.update(
            setup_s=(self.setup_s, "s", f"median of {SETUP_CYCLES} set-up cycles"),
            failed_frac=(
                len(self.failures) / max(self.attempted, 1),
                "ratio",
                f"{len(self.failures)} of {self.attempted} operations",
            ),
            jvm_peak_rss_mb=(L.vm_hwm_mb(self.jvm_pid), "MB", "VmHWM"),
        )
        self.report.update(
            loadavg_start=self.layers["host.loadavg_start"],
            steal_s=self.layers["host.steal_s"],
        )
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            self.tracer.write(
                os.path.join(
                    ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.json"
                )
            )
        return self.result()

    def result(self) -> dict:
        failed = len(self.failures)
        print(json.dumps({"context": self.report}, default=str))
        for name, (value, unit, note) in self.named.items():
            print(f"{name:34s} {value:16.6f} {unit:9s} {note}")
        for name, unit in END_TO_END.items():
            print(f"{name:34s} {self.e2e[name]:16.6f} {unit:9s} contract")
        layers = {k: self.layers.get(k, 0.0) for k in PER_LAYER}
        if self.args.trace:
            for name, unit in PER_LAYER.items():
                print(f"{name:34s} {layers[name]:16.6f} {unit}")
        for f in self.failures:
            print(f"failure: {f}")
        chosen = (
            {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            if self.args.trace
            else {k: {"value": self.e2e[k], "unit": u} for k, u in END_TO_END.items()}
        )
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": chosen,
        }


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end
    (the JVM exits when its standard input closes)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.1", help="fixture scale under data/")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    bench = Bench(args, t_proc)
    os.makedirs(bench.work, exist_ok=True)
    os.environ["TMPDIR"] = bench.work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out = bench.run()
    finally:
        try:
            if bench.spark is not None:
                stop_jvm(bench.spark)
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
