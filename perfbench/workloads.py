"""The three workloads. Each drives the program only through its public
entry points (PipelineSpec.from_yaml, Scheduler.run/backfill/build,
sources.stream.queue_dir_publish via the generator, and
sinks.stream.upsert_write_stream) and returns its metric values by name.

Why each exists, and which layer it loads (see README.md for the full
layer -> end-to-end table):

batch_backfill  closed loop, one client: the reference's FindFiles ->
                LineParser chain run as a cron backfill over uneven
                date partitions. Per-task fixed cost (pipeline,
                session) sets the median task; per-row cost (sources,
                operators, sinks.files) sets throughput. No streaming.
stream_dedup    open loop at RATE: broker -> parse -> exactly-once dedup
                -> broker. The micro-batch loop (listing, planning,
                stateful shuffle, state commit, checkpoint writes)
                dominates; no line parsing, joins or table rewrites.
stream_upsert   open loop at RATE: broker -> parse -> keyed parquet
                table by read-modify-write (the reference's SynToMysql
                sync). operators.sync.upsert and the table rewrite and
                swap dominate; no streaming state operator.
"""

from __future__ import annotations

import json
import os
import time

import gen
import oracle
from spans import median, percentile

BATCH_YAML = """
orders:
  files:
    type: source.find_files
    start: true
    scan_dir: "@RUN@/in/${date}"
    extensions: [csv]
    output: [parse]
  parse:
    type: transform.line_parser
    file_type: csv
    output: [keep]
  keep:
    type: transform.filter
    condition: "status <> 'cancelled' AND CAST(qty AS INT) > 0"
    output: [enrich]
  enrich:
    type: transform.with_columns
    columns:
      amount_cents: "CAST(qty AS BIGINT) * CAST(price_cents AS BIGINT)"
      day: "'${date}'"
    output: [join]
  dim:
    type: source.parquet
    start: true
    path: "@RUN@/dim.parquet"
    output: [join]
  join:
    type: transform.join
    inputs: [enrich, dim]
    keys: [sku]
    broadcast_right: true
    output: [shape]
  shape:
    type: transform.select
    columns: [order_id, "CAST(user_id AS BIGINT) AS user_id", sku, "CAST(qty AS INT) AS qty",
              amount_cents, category, weight_g, day]
    output: [out]
  out:
    type: sink.file
    format: parquet
    path: "@RUN@/out/${date}"
    mode: overwrite
"""

DEDUP_YAML = """
dedup:
  src:
    type: source.stream.queue_dir
    start: true
    path: "@QUEUE@"
    max_files_per_trigger: @MAXFILES@
    output: [parse]
  parse:
    type: transform.parse_json
    schema: "event_id string, user_id long, amount long"
    output: [dedup]
  dedup:
    type: transform.stream_dedup
    keys: [event_id]
    watermark: "10 seconds"
    output: [out]
  out:
    type: sink.stream.queue_dir
    path: "@OUT@"
    checkpoint: "@CKPT@"
    key_col: event_id
    topic: dedup
    cron: @TRIGGER@
"""

UPSERT_YAML = """
upsert:
  src:
    type: source.stream.queue_dir
    start: true
    path: "@QUEUE@"
    max_files_per_trigger: @MAXFILES@
    output: [parse]
  parse:
    type: transform.parse_json
    schema: "k string, seq long, v long"
"""
# Processing-time triggers (seconds). The live queries' batches take
# 1-2.5 s, so a 3 s trigger keeps them on a fixed cadence, clear of the
# knee where a batch either waits for the next tick or runs late, and
# leaves the JVM's compiler threads some CPU. A drain query runs with
# trigger 0 (availableNow): it reads its backlog in batches of
# `drain_files` files back to back, unpaced by any interval, and stops.
LIVE_TRIGGER_S = 3
DRAIN_TRIGGER_S = 0


def _wait(cond, timeout: float, what: str, query=None, poll: float = 0.05) -> None:
    deadline = time.time() + timeout
    checks = 0
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out after {timeout:.0f} s waiting for {what}")
        checks += 1
        if query is not None and checks % 20 == 0 and not query.isActive and not cond():
            raise RuntimeError(f"query stopped while waiting for {what}: {query.exception()}")
        time.sleep(poll)


def _dir_stats(files: list[str]) -> tuple[int, float]:
    return len(files), sum(os.path.getsize(f) for f in files) / 2**20


class _JobCounter:
    """Jobs, stages and tasks Spark ran for one job group, read from the
    public statusTracker()."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    def add_group(self, group: str) -> None:
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            self.jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                self.stages += 1
                self.tasks += st.numTasks
                self.failed_tasks += st.numFailedTasks


def _zero_layers() -> dict:
    names = [
        "sources.read_s", "sources.list_ms_p50", "sources.backlog_files_max", "operators.exec_s",
        "streaming.batches", "streaming.rows_per_batch_p50", "streaming.trigger_ms_p50",
        "streaming.add_batch_ms_p50", "streaming.planning_ms_p50", "streaming.wal_ms_p50",
        "streaming.state_rows", "streaming.state_mem_mb", "streaming.state_commit_ms_p50",
        "sinks.write_s", "sinks.merge_ms_p50", "gen.late_p90_s",
        "spark.jobs_per_task", "spark.stages_per_task", "spark.tasks_per_task", "spark.tasks_failed",
    ]
    return {n: 0.0 for n in names}


# -- batch_backfill -------------------------------------------------------------------
def batch_backfill(ctx) -> tuple[dict, dict]:
    from rabbit_data_pipeline_spark.pipeline.scheduler import Scheduler
    from rabbit_data_pipeline_spark.pipeline.spec import PipelineSpec

    run = ctx.run_dir
    sz = ctx.sizes
    g = ctx.start_generator(["batch"])
    spark = ctx.session()  # the JVM starts while the generator writes the inputs
    ctx.wait_generator(g)
    tr = ctx.tracer
    text = BATCH_YAML.replace("@RUN@", run)
    with tr.span("pipeline.parse"):
        specs = PipelineSpec.from_yaml(text)
    sch = Scheduler(spark, specs)
    # Untimed passes first, so JIT, codegen and the first reads of each
    # shape stay out of the timed window.
    dates = gen.batch_dates(sz)
    for n in range(sz.warm_passes):
        for date, _, _ in dates:
            with tr.span("warmup", task=f"w{n}:{date}"):
                sch.backfill("orders", [{"date": date}])
    ctx.setup_done()

    task_s: list[float] = []
    pass_rates: list[float] = []  # input rows / wall time of each pass's tasks
    layer = {"sources.read": 0.0, "operators.exec": 0.0, "sinks.write": 0.0}
    jobs = _JobCounter(spark) if ctx.trace else None
    passes = 0
    t_start = time.time()
    while passes == 0 or time.time() - t_start < ctx.seconds:
        pass_rows, pass_s = 0, 0.0
        for date, files, per_file in dates:
            task = f"{passes}:{date}"
            ctx.attempted += 1
            try:
                if ctx.trace:
                    dt = _traced_task(ctx, spark, sch, text, date, task, layer, jobs)
                else:
                    t = time.perf_counter()
                    sch.backfill("orders", [{"date": date}])
                    dt = time.perf_counter() - t
            except Exception as e:  # a failed task is counted, the backfill goes on
                ctx.fail(f"task {task}: {type(e).__name__}: {e}")
                continue
            task_s.append(dt)
            pass_rows += files * per_file
            pass_s += dt
        if pass_s > 0:
            pass_rates.append(pass_rows / pass_s)
        passes += 1
        ctx.log(f"pass {passes}: tasks took " + " ".join(f"{t:.2f}" for t in task_s[-len(dates) :]))

    timed = [d for d, _, _ in dates]
    want = oracle.batch_expected(run, timed)
    got = oracle.batch_actual(os.path.join(run, "out"), timed)
    ctx.check(got == want, f"backfill sink holds {got}, expected {want}")

    e2e = {
        "latency_p50_s": median(task_s),
        # the median pass, so a burst of CPU taken by other guests in one pass does not set it
        "rows_per_s": median(pass_rates),
    }
    out_files = [f for d in timed for f in oracle.data_files(os.path.join(run, "out", d))]
    n_files, mb = _dir_stats(out_files)
    layers = _zero_layers()
    layers.update(
        {
            "sources.read_s": layer["sources.read"] / passes,
            "operators.exec_s": layer["operators.exec"] / passes,
            "sinks.write_s": layer["sinks.write"] / passes,
            "sources.backlog_files_max": float(max(f for _, f, _ in dates)),
            "sinks.output_files": float(n_files),
            "sinks.output_mb": mb,
            "sinks.table_rows": float(got[0]),
            "gen.rows": float(sum(f * r for _, f, r in dates)),
        }
    )
    if jobs is not None and task_s:
        layers.update(
            {
                "spark.jobs_per_task": jobs.jobs / len(task_s),
                "spark.stages_per_task": jobs.stages / len(task_s),
                "spark.tasks_per_task": jobs.tasks / len(task_s),
                "spark.tasks_failed": float(jobs.failed_tasks),
            }
        )
    return e2e, layers


def _traced_task(ctx, spark, sch, text, date, task, layer, jobs) -> float:
    """One binding with per-layer timings: the source prefix (listing +
    CSV parse) and the last-transform prefix are each run to a `noop`
    sink first; the real task then runs through Scheduler.backfill. The
    layer times are differences of those three runs."""
    from rabbit_data_pipeline_spark.pipeline.scheduler import Scheduler
    from rabbit_data_pipeline_spark.pipeline.spec import PipelineSpec

    tr = ctx.tracer
    with tr.span("task", task=task):
        with tr.span("pipeline.parse"):
            specs = PipelineSpec.from_yaml(text)
        one = Scheduler(spark, specs, variables={"date": date})
        with tr.span("pipeline.build"):
            ops = one.build("orders", "shape")
        t = time.perf_counter()
        with tr.span("sources.read"):
            one.build("orders", "parse").write.format("noop").mode("overwrite").save()
        t_src = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("operators.prefix"):
            ops.write.format("noop").mode("overwrite").save()
        t_ops = time.perf_counter() - t
        group = f"perfbench-{task}"
        spark.sparkContext.setJobGroup(group, "perfbench traced task")
        t = time.perf_counter()
        with tr.span("scheduler.run"):
            sch.backfill("orders", [{"date": date}])
        dt = time.perf_counter() - t
    jobs.add_group(group)
    layer["sources.read"] += t_src
    layer["operators.exec"] += max(0.0, t_ops - t_src)
    layer["sinks.write"] += max(0.0, dt - t_ops)
    return dt


# -- streams -----------------------------------------------------------------------
def _start_query(ctx, spark, kind: str, queue: str, out: str, ckpt: str, trigger_s: int, max_files: int = 0):
    """Start the workload's query on `queue`; `max_files` caps the files
    one micro-batch reads (0: all that are there)."""
    from rabbit_data_pipeline_spark.pipeline.scheduler import Scheduler
    from rabbit_data_pipeline_spark.pipeline.spec import PipelineSpec

    tr = ctx.tracer
    if kind == "stream_dedup":
        text = DEDUP_YAML.replace("@QUEUE@", queue).replace("@OUT@", out).replace("@CKPT@", ckpt)
        text = text.replace("@MAXFILES@", str(max_files)).replace("@TRIGGER@", str(trigger_s))
        with tr.span("pipeline.parse"):
            specs = PipelineSpec.from_yaml(text)
        with tr.span("pipeline.build"):
            sch = Scheduler(spark, specs)
            sch.run("dedup")
        return sch.streaming_queries[-1]
    from rabbit_data_pipeline_spark.pipeline.triggers import parse_trigger
    from rabbit_data_pipeline_spark.sinks.stream import upsert_write_stream

    with tr.span("pipeline.parse"):
        specs = PipelineSpec.from_yaml(UPSERT_YAML.replace("@QUEUE@", queue).replace("@MAXFILES@", str(max_files)))
    with tr.span("pipeline.build"):
        df = Scheduler(spark, specs).build("upsert", "parse")
        return upsert_write_stream(df, out, ["k"], ckpt, parse_trigger(trigger_s), order_col="seq")


def _progress(q, ckpt: str) -> list[dict]:
    """The query's progress reports, once the report of its last committed
    batch is in (it is posted just after the commit record is written)."""
    last = max(oracle.commit_times(ckpt))
    _wait(lambda: any(p["batchId"] >= last for p in q.recentProgress), 10, "the last progress report")
    return [dict(p) for p in q.recentProgress]


def _stop_query(q) -> None:
    """Stop a query whose input is fully committed. A no-data batch that
    only advances the watermark may be cut short; its work is redone by
    the next start and no output depends on it."""
    q.stop()


def _ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress_spans(tr, progress: list[dict], query: str, merge_name: str) -> None:
    """Per-batch spans rebuilt from StreamingQuery progress: the trigger,
    and its phases laid end to end in the order the micro-batch loop
    runs them."""
    for p in progress:
        d = p["durationMs"]
        start = _ts(p["timestamp"])
        root = tr.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1e3, task=f"{query}:{p['batchId']}")
        t = start
        for phase, name in (
            ("latestOffset", "sources.list"), ("walCommit", "streaming.wal"), ("getBatch", "sources.get_batch"),
            ("queryPlanning", "streaming.planning"), ("addBatch", merge_name), ("commitOffsets", "streaming.commit"),
        ):
            ms = d.get(phase, 0)
            tr.add(name, t, t + ms / 1e3, parent=root)
            t += ms / 1e3


def stream_run(ctx) -> tuple[dict, dict]:
    kind = ctx.workload
    run = ctx.run_dir
    tr = ctx.tracer
    live_q, ck_live = os.path.join(run, "queue_live"), os.path.join(run, "ck_live")
    table = os.path.join(run, "table")  # stream_upsert: every query writes this one table
    out_live = os.path.join(run, "out_live") if kind == "stream_dedup" else table

    g = ctx.start_generator(["stream", "--workload", kind, "--seconds", str(ctx.seconds)])
    spark = ctx.session()  # the JVM starts while the generator publishes its backlogs
    ctx.expect_line(g, "ready", 60)
    ctx.log("session up, backlogs published")

    q = _start_query(ctx, spark, kind, live_q, out_live, ck_live, LIVE_TRIGGER_S)
    _wait(lambda: 0 in oracle.commit_times(ck_live), 120, "the first micro-batch", q)
    ctx.log("first micro-batch committed")
    t0 = time.time() + 0.05
    g.stdin.write(f"go {t0!r}\n")
    g.stdin.flush()
    window_start = t0 + ctx.sizes.preroll_s
    time.sleep(max(0.0, window_start - time.time()))
    ctx.setup_done()

    ctx.expect_line(g, "done", ctx.seconds + 60)
    ctx.log("open loop done")
    with open(os.path.join(run, "manifest.json")) as f:
        manifest = json.load(f)
    names = [m[0] for m in manifest["files"]]
    _wait(lambda: all(n in oracle.committed_file_times(ck_live) for n in names), 60, "the live backlog", q)
    progress = _progress(q, ck_live) if ctx.trace else []
    run_id = str(q.runId)
    _stop_query(q)
    ctx.log("live query flushed and stopped")

    # Drain: a fresh query on a backlog published before it started.
    drain_q, ck_drain = os.path.join(run, "queue_drain"), os.path.join(run, "ck_drain")
    out_drain = os.path.join(run, "out_drain") if kind == "stream_dedup" else table
    drain_files = sorted(f for f in os.listdir(drain_q) if f.endswith(".json"))
    file_rows = {}
    for n in drain_files:
        with open(os.path.join(drain_q, n)) as f:
            file_rows[n] = sum(1 for _ in f)
    t_drain = time.time()
    q2 = _start_query(ctx, spark, kind, drain_q, out_drain, ck_drain, DRAIN_TRIGGER_S, ctx.sizes.drain_files)
    _wait(lambda: all(n in oracle.committed_file_times(ck_drain) for n in drain_files), 90, "the drain backlog", q2)
    drained = oracle.committed_file_times(ck_drain)
    drain_s = max(drained[n] for n in drain_files) - t_drain
    drain_progress = _progress(q2, ck_drain) if ctx.trace else []
    _stop_query(q2)
    # Drain rate of each batch after the first (which also starts the
    # query): its rows over the time since the previous batch committed.
    commits = oracle.commit_times(ck_drain)
    batch_rows: dict[int, int] = {}
    for name, b in oracle.file_batches(ck_drain).items():
        batch_rows[b] = batch_rows.get(b, 0) + file_rows.get(name, 0)
    drain_rates = [n / (commits[b] - commits[b - 1]) for b, n in sorted(batch_rows.items()) if b - 1 in commits]
    ctx.log(f"drained {manifest['drain_rows']} rows in {drain_s:.2f} s, batches at "
            + " ".join(f"{r:.0f}" for r in drain_rates) + " rows/s")

    with open(os.path.join(run, "expected.json")) as f:
        expected = json.load(f)
    if kind == "stream_dedup":
        ok, sink_rows, why = oracle.dedup_check(out_live, expected["live_ids"])
        ctx.check(ok, f"live query output: {why}")
        ok, n, why = oracle.dedup_check(out_drain, expected["drain_ids"])
        ctx.check(ok, f"drain query output: {why}")
        sink_rows += n
        out_files = oracle.sink_files(out_live)
    else:
        ok, sink_rows, why = oracle.upsert_check(table, expected["table"])
        ctx.check(ok, f"upserted table: {why}")
        out_files = oracle.data_files(table)
    ctx.attempted += len(oracle.commit_times(ck_live)) + len(oracle.commit_times(ck_drain))

    # Latency of every event due in the timed window: from its due time
    # at the generator to the commit of the micro-batch that read it.
    committed = oracle.committed_file_times(ck_live)
    lat: list[float] = []
    for name, due, _, originals, _ in manifest["files"][manifest["preroll_ticks"] :]:
        lat.extend([committed[name] - due] * originals)
    e2e = {"latency_p50_s": median(lat), "rows_per_s": median(drain_rates)}

    layers = _zero_layers()
    n_files, mb = _dir_stats(out_files)
    per_batch = {}
    for name, b in oracle.file_batches(ck_live).items():
        per_batch[b] = per_batch.get(b, 0) + 1
    late = [pub - due for _, due, pub, _, _ in manifest["files"]]
    layers.update(
        {
            "sinks.output_files": float(n_files),
            "sinks.output_mb": mb,
            "sinks.table_rows": float(sink_rows),
            "sources.backlog_files_max": float(max(per_batch.values())),
            "gen.late_p90_s": percentile(late, 0.9),
            "gen.rows": float(manifest["rows"]),
        }
    )
    if ctx.trace:
        merge_name = "sinks.merge" if kind == "stream_upsert" else "streaming.add_batch"
        _progress_spans(tr, progress, "live", merge_name)
        _progress_spans(tr, drain_progress, "drain", merge_name)
        for p in drain_progress:
            ctx.log(f"drain batch {p['batchId']}: +{_ts(p['timestamp']) - t_drain:.2f} s {p['durationMs']}")
        timed = [p for p in progress if _ts(p["timestamp"]) >= window_start and p["numInputRows"] > 0]
        layers.update(_stream_layers(timed, kind))
        jobs = _JobCounter(spark)
        jobs.add_group(run_id)
        n = max(1, len(oracle.commit_times(ck_live)))
        layers.update(
            {
                "spark.jobs_per_task": jobs.jobs / n,
                "spark.stages_per_task": jobs.stages / n,
                "spark.tasks_per_task": jobs.tasks / n,
                "spark.tasks_failed": float(jobs.failed_tasks),
            }
        )
        for name, due, pub, _, _ in manifest["files"]:
            tr.add("gen.publish", due, pub, task=name)
    return e2e, layers


def _stream_layers(timed: list[dict], kind: str) -> dict:
    def p50(phase: str) -> float:
        return median([p["durationMs"].get(phase, 0) for p in timed])

    state = [s for p in timed for s in p.get("stateOperators", [])]
    last_state = timed[-1].get("stateOperators", []) if timed else []
    out = {
        "streaming.batches": float(len(timed)),
        "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in timed]),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_ms_p50": p50("walCommit"),
        "streaming.state_rows": float(sum(s["numRowsTotal"] for s in last_state)),
        "streaming.state_mem_mb": sum(s["memoryUsedBytes"] for s in last_state) / 2**20,
        "streaming.state_commit_ms_p50": median([s["commitTimeMs"] for s in state]),
        "sources.list_ms_p50": median(
            [p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in timed]
        ),
    }
    if kind == "stream_upsert":
        out["sinks.merge_ms_p50"] = p50("addBatch")
    return out


WORKLOADS = {"batch_backfill": batch_backfill, "stream_dedup": stream_run, "stream_upsert": stream_run}
