"""Stream workload: the flagship serving path (``streaming/flagship.py``)
as one streaming query over event files written on a fixed schedule.

Open loop: one generator thread writes a file of ``EVENTS_PER_FILE``
seeded events every ``TICK_S / FILES_PER_TICK`` seconds, whether or not
the query keeps up. Each file is stamped with the time it was due (its
modification time is the stream's arrival time), so a stall shows as lost
freshness for every window that waits behind it. The query's
processing-time trigger fires every ``TICK_S`` seconds, on multiples of it
since the epoch; the schedule is aligned so that the last file before
each trigger falls due ``LEAD_S`` before it.

Freshness of a decision window = commit time of the micro-batch that
publishes it minus the due time of the newest file contributing to it.
The windows a batch updates are the rows the flagship stages for its gold
store; the benchmark keeps a hard link to those files when the batch
hands them to ``plans.ddl`` and reads them after the run.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from datetime import datetime

TICK_S = 7.0
LEAD_S = 0.5
FILES_PER_TICK = 4
SPACING_S = TICK_S / FILES_PER_TICK
EVENTS_PER_FILE = 1000
EVENT_RATE = 5.0  # event-time seconds advance 1/EVENT_RATE per event
MIN_TICKS = 2  # measured trigger intervals per run


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Generator(threading.Thread):
    """Writes the event files on schedule; records each file's due time
    and how late it was written."""

    def __init__(self, files, first_index: int, src: str, staging: str, first_due: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.files, self.first_index = files, first_index
        self.src, self.staging = src, staging
        self.first_due = first_due
        self.written: list[dict] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for i, lines in enumerate(self.files):
                due = self.first_due + i * SPACING_S
                time.sleep(max(0.0, due - time.time()))
                self.written.append(
                    write_file(self.src, self.staging, self.first_index + i, lines, due)
                )
        except Exception as e:  # reported by the caller
            self.error = e


def write_file(src: str, staging: str, i: int, lines: list[str], due: float) -> dict:
    """Write one event file outside the source directory, stamp it with
    its due time, and move it in atomically."""
    tmp = os.path.join(staging, f"part-{i:05d}.jsonl")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
    size = os.path.getsize(tmp)
    os.utime(tmp, (due, due))
    os.rename(tmp, os.path.join(src, f"part-{i:05d}.jsonl"))
    return {"i": i, "due": due, "late_s": time.time() - due, "bytes": size}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(".")
    )


def run_stream(bench) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from perfbench import layers as L
    from shortvideohybridanalyticslakehouse_spark.generator import (
        BoundedRun,
        GeneratorConfig,
    )
    from shortvideohybridanalyticslakehouse_spark.operators.validate import (
        annotate_cdc_errors,
        parse_cdc_records,
    )
    from shortvideohybridanalyticslakehouse_spark.plans import ddl, serving
    from shortvideohybridanalyticslakehouse_spark.sources.batch import (
        jsonl_fixture_to_raw,
    )
    from shortvideohybridanalyticslakehouse_spark.streaming import flagship

    spark, args, tr = bench.spark, bench.args, bench.tracer
    marks = {"start": time.time()}
    work = bench.work
    src, staging, links = (os.path.join(work, d) for d in ("src", "staging", "links"))
    for d in (src, staging, links):
        os.makedirs(d)
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")

    # inputs: seeded events, no late events (the batch twin must match)
    ticks = 1 + max(MIN_TICKS, math.ceil(args.seconds / TICK_S))
    gen = BoundedRun(
        GeneratorConfig(
            total_events=ticks * FILES_PER_TICK * EVENTS_PER_FILE,
            events_per_second=EVENT_RATE,
            seed=args.seed,
            late_event_ratio=0.0,
        )
    )
    rows = [v for (v,) in gen.content_events()]
    files = [
        rows[i : i + EVENTS_PER_FILE] for i in range(0, len(rows), EVENTS_PER_FILE)
    ]
    cdc = parse_cdc_records(
        jsonl_fixture_to_raw(spark.createDataFrame(gen.cdc_records(), ["value"]))
    )
    dims = serving.dim_videos(
        annotate_cdc_errors(cdc).filter(F.col("error_code").isNull())
    )
    thresholds = spark.createDataFrame(
        [(0.5, 10.0)], "velocity_p90 double, impressions_p40 double"
    )

    # plans.ddl calls: timed when traced; the staged gold rows a batch
    # appends are the windows it updates, so keep a hard link to them
    # before the batch deletes its staging directory
    ddl_calls: list[dict] = []
    gold_links: list[dict] = []

    def on_ddl(kind):
        def on_call(args_, kwargs, span):
            ddl_calls.append(
                {"kind": kind, "end": time.time(), "s": span.end - span.start if span else 0.0}
            )
            df, table = args_[0], args_[1]
            if kind != "append" or not table.startswith("flagship_gold_"):
                return
            dest = os.path.join(links, str(len(gold_links)))
            os.makedirs(dest)
            for f in df.inputFiles():
                path = f.removeprefix("file:")
                os.link(path, os.path.join(dest, os.path.basename(path)))
            gold_links.append({"dir": dest, "end": time.time()})

        return on_call

    for attr, kind in (
        ("write_bucketed_sorted_table", "append"),
        ("append_bucketed_sorted", "append"),
        ("compact_bucketed_table", "compact"),
    ):
        tr.patch(ddl, attr, "ddl", on_ddl(kind))
    marks["inputs"] = time.time()

    # warm-up: one interval's files, there before the query starts, so
    # its first (cold) batch runs at once; drained untimed
    now = time.time()
    warm = [
        write_file(src, staging, i, files[i], now - FILES_PER_TICK + i)
        for i in range(FILES_PER_TICK)
    ]
    tr.enabled = bool(args.trace)
    with tr.span("start_flagship_stream", "plans"):
        t_build = time.time()
        q = flagship.start_flagship_stream(
            spark,
            flagship.read_flagship_file_stream(spark, src),
            dims,
            thresholds,
            out,
            ckpt,
            trigger={"processingTime": f"{TICK_S:g} seconds"},
        )
        build_s = time.time() - t_build
    try:
        q.processAllAvailable()
        marks["warm"] = time.time()

        # measured period: the open-loop generator, aligned so the last
        # file of each interval is due LEAD_S before its trigger
        span = LEAD_S + (FILES_PER_TICK - 1) * SPACING_S
        tick = math.ceil((time.time() + 0.2 + span) / TICK_S) * TICK_S
        t_measure = tick - span
        g = Generator(files[len(warm) :], len(warm), src, staging, t_measure)
        py0 = L.descendants_cpu_s(bench.jvm_pid)
        g.start()
        g.join(timeout=args.seconds + 60)
        if g.is_alive() or g.error:
            raise RuntimeError(f"generator failed: {g.error or 'timed out'}")
        q.processAllAvailable()
        t_end = marks["drained"] = time.time()
        py1 = L.descendants_cpu_s(bench.jvm_pid)
        progress = [json.loads(p.json) for p in q.recentProgress]
        if q.exception():
            bench.fail("stream", q.exception())
    finally:
        q.stop()
        tr.enabled = False
        marks["stopped"] = time.time()

    batches = [p for p in progress if _epoch_s(p["timestamp"]) >= t_measure]
    data_batches = [p for p in batches if p["numInputRows"] > 0]
    bench.attempted += len(data_batches)

    # freshness per updated window
    commits = [
        (_epoch_s(p["timestamp"]), _epoch_s(p["timestamp"]) + p["batchDuration"] / 1000.0)
        for p in batches
    ]
    fresh = []
    for link in gold_links:
        if link["end"] < t_measure:
            continue
        commit = next((c for s, c in commits if s <= link["end"] <= c), None)
        if commit is None:
            continue
        for f in os.listdir(link["dir"]):
            col = pq.read_table(
                os.path.join(link["dir"], f), columns=["ingest_max"]
            ).column("ingest_max")
            per_s = {"s": 1, "ms": 1e3, "us": 1e6, "ns": 1e9}[col.type.unit]
            fresh += [
                commit - v / per_s for v in col.cast(pa.int64()).to_pylist()
            ]
    bench.attempted += 1  # the run itself: valid only with >= 200 samples
    if len(fresh) < 200:
        bench.fail("stream", f"only {len(fresh)} window updates (need >= 200)")

    # stream == batch twin (wall-clock stamps excluded)
    bench.attempted += 1
    try:
        streamed = flagship.read_decisions(spark, out)
        twin = flagship.flagship_batch_twin(
            flagship.valid_events_batch(spark, src), dims, thresholds
        )
        clock = {"processed_at", "max_processed_at_30m"}
        cols = sorted(set(streamed.columns) - clock)
        s_rows = sorted(map(tuple, streamed.select(*cols).collect()))
        b_rows = sorted(map(tuple, twin.select(*cols).collect()))
        if not s_rows or s_rows != b_rows:
            bench.fail("stream", f"stream != batch twin ({len(s_rows)} vs {len(b_rows)} rows)")
    except Exception as e:
        bench.fail("stream twin", e)
    # the warehouse holds exactly the flagship's gold and decision stores
    stored = _dir_bytes(os.path.join(work, "warehouse"))
    flagship.drop_stores(spark, out)
    marks["checked"] = time.time()

    def dur(key):
        return sum(p["durationMs"].get(key, 0) for p in batches) / 1000.0

    trigger_s = dur("triggerExecution")
    rows_in = sum(p["numInputRows"] for p in batches)
    wall = t_end - t_measure
    tail, pct = L.percentile_tail(fresh)
    bench.e2e = {
        "latency_p50_s": statistics.median(fresh),
        "latency_tail_s": tail,
    }
    # backlog: files written but not yet taken when each batch started
    per_file = EVENTS_PER_FILE
    taken, backlog = len(warm), 0
    for p in batches:
        start = _epoch_s(p["timestamp"])
        written = len(warm) + sum(1 for w in g.written if w["due"] + w["late_s"] <= start)
        backlog = max(backlog, written - taken)
        taken += p["numInputRows"] // per_file
    last_state = batches[-1].get("stateOperators", []) if batches else []
    ddl_calls = [c for c in ddl_calls if c["end"] >= t_measure]
    input_bytes = sum(w["bytes"] for w in g.written) + sum(w["bytes"] for w in warm)
    bench.named.update(
        freshness_p50_s=(bench.e2e["latency_p50_s"], "s", f"{len(fresh)} window updates"),
        freshness_p95_s=(tail, "s", f"p{pct:g} of {len(fresh)} window updates"),
        stream_capacity_eps=(
            rows_in / trigger_s,
            "events/s",
            f"{rows_in} events in {trigger_s:.3f} s of trigger execution",
        ),
    )
    bench.report.update(
        tick_s=TICK_S,
        files_per_tick=FILES_PER_TICK,
        events_per_file=EVENTS_PER_FILE,
        measured_wall_s=wall,
        batch_trigger_s=[p["durationMs"]["triggerExecution"] / 1000.0 for p in batches],
        batch_input_rows=[p["numInputRows"] for p in batches],
        phase_s={k: round(v - marks["start"], 3) for k, v in marks.items()},
    )
    layers = bench.layers
    layers.update(
        {
            "streaming.batches": len(batches),
            "streaming.trigger_s": trigger_s,
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.busy_frac": trigger_s / wall,
            "streaming.backlog_files_max": backlog,
            "streaming.state_rows": sum(s["numRowsTotal"] for s in last_state),
            "streaming.state_bytes": sum(s["memoryUsedBytes"] for s in last_state),
            "ddl.appends": sum(1 for c in ddl_calls if c["kind"] == "append"),
            "ddl.compactions": sum(1 for c in ddl_calls if c["kind"] == "compact"),
            "ddl.append_s": sum(c["s"] for c in ddl_calls if c["kind"] == "append"),
            "ddl.compact_s": sum(c["s"] for c in ddl_calls if c["kind"] == "compact"),
            "ddl.stored_bytes_per_input_byte": stored / input_bytes,
            "generator.lateness_max_s": max(w["late_s"] for w in g.written),
            "generator.events": len(g.written) * EVENTS_PER_FILE,
            "functions.python_cpu_s": py1 - py0,
            "plans.build_s": build_s,
        }
    )
    if args.trace:
        opens = [
            s for s in tr.spans if s.layer == "sources" and s.end and s.start >= t_measure
        ]
        layers["sources.opens"] = len(opens)
        layers["sources.open_s"] = L.union_s([(s.start, s.end) for s in opens])
        rdds, held = tr.storage()
        layers["plans.cached_rdds"], layers["plans.cached_bytes"] = rdds, held
        # the batches' jobs carry no benchmark group: take every job
        # submitted in the measured period
        tr.drain_listener()
        jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        ids = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            if t_measure <= jd.submissionTime().get().getTime() / 1000.0 <= t_end:
                ids.append(jd.jobId())
        ops = tr.job_stats(ids)
        for key in (
            "jobs stages tasks cpu_s gc_s shuffle_read_bytes "
            "shuffle_write_bytes spill_bytes"
        ).split():
            layers[f"operators.{key}"] = ops[key]
        layers["operators.exec_s"] = ops["wall_s"]
        layers["operators.busy_frac"] = ops["run_s"] / (wall * bench.cores)

