"""The three workloads: ``serve``, ``backfill`` and ``stream``.

Each runs in its own process against the package's public entry points
(``session.get_spark``, ``registry.load_all()`` specs, and the
``streaming.stateful`` / ``streaming.pipelines`` transforms) and returns
a :class:`Run` with its latencies, error counts, layer records and input
sizes. ``perfbench/run.py`` turns a Run into metrics.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import inputs
import metrics as M
from oracle import Oracle, mismatch

# Publisher-shaped reads behind the dashboards: small DWS/ADS tables where
# the fixed per-query cost (builder, planning, scheduling) dominates.
# dws_product_stats is left out: it groups by the raw l_shipdate, which
# equals the oracle's day window only for midnight values, and the
# generated l_shipdate carries a time of day, so it fails its oracle on
# every seed. backfill keeps it, and reports that failure.
SERVE = (
    "ads_top_brands", "ads_top_parts", "ads_order_quantiles",
    "ads_gmv_trailing_7d", "dws_province_stats", "dws_visitor_stats",
    "dws_keyword_stats", "dws_sales_cube",
    "dwm_order_wide", "dwm_payment_wide", "dwm_unique_visit",
    "dwm_user_jump", "tpch_q1", "tpch_q3", "tpch_q6",
)
SERVE_MULT = 0.1  # x sf0.1 = sf0.01

# A DWM/DWS rebuild plus the corpus kernels: bound by scans, shuffles
# and Python workers rather than by planning.
BACKFILL = (
    "dwm_order_wide", "dwm_user_jump", "dws_product_stats",
    "dws_province_stats", "dws_sales_cube", "ads_order_quantiles",
    "tpch_q9_profit", "dws_keyword_stats_zh", "text_quality",
    "tokenizer_apply_bpe", "dedup_minhash_lsh", "corpus_filter_pipeline",
)
BACKFILL_MULT = 1.0
WARMUP_MULT = 0.01  # the backfill warm-up pass compiles the same plans on tiny inputs

# Stream: one warm-up file, a backlog drained in a closed loop, then one
# live file per tick (open loop). Event time advances span_s per file, so
# hourly windows close during the run; users sets the state size. The
# live rate (events / tick) sits well under the catch-up throughput, so
# the live backlog stays bounded.
STREAM = {
    "users": 2000,
    "span_s": 1800,
    "backlog_files": 10,
    "backlog_events_per_file": 2000,
    "live_events_per_file": 250,
    "tick_s": 0.5,
}
STREAM_QUERIES = ("router", "new_user", "uv_dedup", "jump", "visitor_stats")
STREAM_ORACLE = {
    "router": "streaming_topic_router",
    "new_user": "streaming_new_user_flag",
    "uv_dedup": "streaming_uv_dedup",
    "jump": "streaming_jump_detect",
    "visitor_stats": "streaming_visitor_stats",
}
VISITOR_WATERMARK_S = 11


@dataclass
class Op:
    """One timed operation of the serve or backfill loop."""

    index: int
    name: str
    pass_no: int
    build_ms: float = 0.0
    plan_ms: float = 0.0
    latency_ms: float = 0.0
    error: str | None = None


@dataclass
class Run:
    workload: str
    setup_s: float = 0.0
    stages_s: dict = field(default_factory=dict)
    ops: list = field(default_factory=list)
    latencies_ms: list = field(default_factory=list)
    timed_wall_s: float = 0.0
    pass_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    mismatches: dict = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    stream: dict = field(default_factory=dict)
    progress: list = field(default_factory=list)
    groups_timed: list = field(default_factory=list)
    sink_files: int = 0
    jvm_peak_rss_mb: float = 0.0


class Context:
    """What a workload needs: its directories, arguments and the tracer."""

    def __init__(self, work, seed, seconds, trace, tracer, t_start, cpus):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = tracer
        self.t_start = t_start
        self.cpus = cpus
        self.gen_s = 0.0
        self.spark = None
        self.specs = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, fn, *args):
        """Input generation, kept out of ``setup_s``."""
        t = time.perf_counter()
        out = fn(*args)
        self.gen_s += time.perf_counter() - t
        return out

    def start(self, run: Run, app: str) -> None:
        """get_spark, then load_all (with the tracer's wrappers first)."""
        from gmall2021_flink_dw_spark.session import get_spark

        # Console progress bars only redraw stderr; keep them out of runs.
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            evdir = self.path("eventlog")
            os.makedirs(evdir, exist_ok=True)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + evdir,
            }
        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{app}", extra_conf=conf)
        run.stages_s["session.start_s"] = time.perf_counter() - t
        if self.trace:
            self.tracer.install()
        from gmall2021_flink_dw_spark import registry

        t = time.perf_counter()
        self.specs = registry.load_all()
        run.stages_s["registry.load_s"] = time.perf_counter() - t

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def setup_done(self, run: Run) -> None:
        run.setup_s = time.perf_counter() - self.t_start - self.gen_s


# --------------------------------------------------------------------------
# serve and backfill: passes over a query set


def _run_op(ctx: Context, op: Op, sf_dir: str, write) -> None:
    """Build, (traced: plan), then execute one query through ``write``."""
    spec = ctx.specs[op.name]
    tr = ctx.tracer
    if ctx.trace:
        tr.op = op.index
    t0 = time.perf_counter()
    try:
        ctx.group(f"b{op.index}")
        if ctx.trace:
            with tr.span("plans", op.name):
                df = spec.fn(ctx.spark, sf_dir)
        else:
            df = spec.fn(ctx.spark, sf_dir)
        t1 = time.perf_counter()
        op.build_ms = (t1 - t0) * 1000.0
        if ctx.trace:
            ctx.group(f"p{op.index}")
            with tr.span("catalyst", op.name):
                df._jdf.queryExecution().executedPlan()
            op.plan_ms = (time.perf_counter() - t1) * 1000.0
        ctx.group(f"x{op.index}")
        write(df)
    except Exception as e:  # an operation that raises is counted, not fatal
        op.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    op.latency_ms = (time.perf_counter() - t0) * 1000.0


def _passes(ctx: Context, run: Run, names, sf_dir: str, write_for, min_passes: int) -> None:
    """Closed loop, one client: whole passes over ``names``, each in a
    seeded order, at least ``min_passes`` and until ``seconds`` have
    elapsed at a pass boundary."""
    rng = random.Random(ctx.seed)
    t0 = time.perf_counter()
    pass_no = 0
    while True:
        order = list(names)
        rng.shuffle(order)
        tp = time.perf_counter()
        for name in order:
            op = Op(index=len(run.ops), name=name, pass_no=pass_no)
            _run_op(ctx, op, sf_dir, write_for(op))
            run.ops.append(op)
        run.pass_s.append(time.perf_counter() - tp)
        pass_no += 1
        if pass_no >= min_passes and time.perf_counter() - t0 >= ctx.seconds:
            break
    run.timed_wall_s = time.perf_counter() - t0
    run.latencies_ms = [op.latency_ms for op in run.ops]
    run.groups_timed = [f"{k}{op.index}" for op in run.ops for k in "bpx"]


def _count_failures(run: Run, bad_names: dict) -> None:
    run.mismatches = bad_names
    run.attempted = len(run.ops)
    run.failed = sum(1 for op in run.ops if op.error or op.name in bad_names)


def serve(ctx: Context) -> Run:
    run = Run("serve")
    sf = ctx.path("serve_sf")
    run.inputs = {"mult_of_sf0.1": SERVE_MULT,
                  "tables": ctx.generate(inputs.gen_tables, sf, SERVE_MULT, ctx.seed)}
    ctx.start(run, "serve")
    # Warm-up pass: every query once, collected for the output check.
    t = time.perf_counter()
    got, warm_err = {}, {}
    ctx.group("warmup")
    for name in SERVE:
        try:
            got[name] = ctx.specs[name].fn(ctx.spark, sf).toPandas()
        except Exception as e:
            warm_err[name] = f"{type(e).__name__}: {e}"
    run.stages_s["warmup_s"] = time.perf_counter() - t
    ctx.setup_done(run)

    def noop(op):
        return lambda df: df.write.format("noop").mode("overwrite").save()

    # Two passes at least: a run that stopped after one would time only
    # the first, less warm pass, and slow runs would stop first.
    _passes(ctx, run, SERVE, sf, noop, min_passes=2)
    run.jvm_peak_rss_mb = _peak_rss(ctx)
    oracle = Oracle.over_dir(sf)
    bad = dict(warm_err)
    for name, df in got.items():
        why = mismatch(df, oracle.query(ctx.specs[name].oracle))
        if why:
            bad[name] = why
    oracle.close()
    _count_failures(run, bad)
    return run


def backfill(ctx: Context) -> Run:
    run = Run("backfill")
    sf = ctx.path("backfill_sf")
    warm_sf = ctx.path("warm_sf")
    run.inputs = {
        "mult_of_sf0.1": BACKFILL_MULT,
        "tables": ctx.generate(inputs.gen_tables, sf, BACKFILL_MULT, ctx.seed),
        "warmup_mult_of_sf0.1": WARMUP_MULT,
    }
    ctx.generate(inputs.gen_tables, warm_sf, WARMUP_MULT, ctx.seed)
    ctx.start(run, "backfill")
    t = time.perf_counter()
    ctx.group("warmup")
    for name in BACKFILL:
        try:
            ctx.specs[name].fn(ctx.spark, warm_sf).write.mode("overwrite").parquet(
                ctx.path("warm_out", name)
            )
        except Exception:
            pass  # the timed passes meet and count the same failure
    run.stages_s["warmup_s"] = time.perf_counter() - t
    ctx.setup_done(run)

    def parquet(op):
        out = ctx.path("out", f"pass{op.pass_no}", op.name)
        return lambda df: df.write.mode("overwrite").parquet(out)

    _passes(ctx, run, BACKFILL, sf, parquet, min_passes=1)
    run.jvm_peak_rss_mb = _peak_rss(ctx)
    run.sink_files = sum(
        1 for _, _, fs in os.walk(ctx.path("out")) for f in fs if f.endswith(".parquet")
    )
    # DuckDB reads every written table back and compares it to the oracle.
    oracle = Oracle.over_dir(sf)
    want = {n: oracle.query(ctx.specs[n].oracle) for n in BACKFILL}
    bad_ops = set()
    bad = {}
    for op in run.ops:
        if op.error:
            continue
        try:
            why = mismatch(
                oracle.read_back(ctx.path("out", f"pass{op.pass_no}", op.name)),
                want[op.name],
            )
        except Exception as e:
            why = f"read back failed: {type(e).__name__}: {e}"
        if why:
            bad_ops.add(op.index)
            bad.setdefault(op.name, why)
    oracle.close()
    run.mismatches = bad
    run.attempted = len(run.ops)
    run.failed = sum(1 for op in run.ops if op.error or op.index in bad_ops)
    return run


def _peak_rss(ctx: Context) -> float:
    if not ctx.trace:
        return 0.0
    from tracing import jvm_peak_rss_mb

    return jvm_peak_rss_mb(ctx.spark)


# --------------------------------------------------------------------------
# stream


def _start_stream_queries(ctx: Context, src: str, schema) -> dict:
    from pyspark.sql import functions as F

    from gmall2021_flink_dw_spark.plans.streaming_queries import (
        _stream_state_partitions,
    )
    from gmall2021_flink_dw_spark.streaming.pipelines import (
        foreach_batch_router,
        visitor_stats_transform,
    )
    from gmall2021_flink_dw_spark.streaming.stateful import (
        correct_new_user_stream_bucketed,
        jump_detect_stream_bucketed,
        uv_dedup_ttl_stream_bucketed,
    )

    spark = ctx.spark
    ev = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    routed = ev.withColumn(
        "sink_table",
        F.when(F.col("event_type") == "signup", F.lit("dwd_start_log"))
        .when(F.col("event_type").isin("view", "click", "purchase"), F.lit("dwd_page_log"))
        .otherwise(F.lit("dwd_error_log")),
    )
    router = foreach_batch_router(ctx.path("stream_out", "router"))
    if ctx.trace:
        inner, tr = router, ctx.tracer

        def router(batch_df, epoch_id):
            with tr.span("sink", "foreach_batch_router"):
                inner(batch_df, epoch_id)

    frames = {
        "new_user": correct_new_user_stream_bucketed(ev),
        "uv_dedup": uv_dedup_ttl_stream_bucketed(ev),
        "jump": jump_detect_stream_bucketed(ev),
        "visitor_stats": visitor_stats_transform(
            ev.withWatermark("ts", f"{VISITOR_WATERMARK_S} seconds")
        ),
    }
    queries = {}
    with _stream_state_partitions(spark):
        queries["router"] = (
            routed.writeStream.foreachBatch(router)
            .queryName("router")
            .option("checkpointLocation", ctx.path("stream_ckpt", "router"))
            .start()
        )
        for name, frame in frames.items():
            queries[name] = (
                frame.writeStream.outputMode("append")
                .format("parquet")
                .queryName(name)
                .option("path", ctx.path("stream_out", name))
                .option("checkpointLocation", ctx.path("stream_ckpt", name))
                .start()
            )
    return queries


def _settle(queries: dict, deadline: float) -> None:
    """Wait until every query has processed all files, and until each
    query with a watermark has run the no-data batch that follows its
    last data batch (it emits the windows and timeouts that closed).
    Settling before a phase keeps that batch out of the phase's timing."""
    for q in queries.values():
        q.processAllAvailable()
    for name in ("uv_dedup", "jump", "visitor_stats"):
        q = queries[name]
        while time.time() < deadline:
            lp = q.lastProgress
            st = q.status
            if (
                lp is not None
                and lp.get("numInputRows", 1) == 0
                and not st.get("isTriggerActive")
            ):
                break
            time.sleep(0.05)


def stream(ctx: Context) -> Run:
    run = Run("stream")
    cfg = dict(STREAM)
    n_back = cfg["backlog_files"]
    n_live = max(1, round(ctx.seconds / cfg["tick_s"]))
    sizes = (
        [cfg["live_events_per_file"]]
        + [cfg["backlog_events_per_file"]] * n_back
        + [cfg["live_events_per_file"]] * n_live
    )
    n_files = len(sizes)
    staged, nbytes = ctx.generate(
        inputs.gen_event_files, ctx.path("stream_staged"), ctx.seed, sizes,
        cfg["users"], cfg["span_s"],
    )
    run.inputs = {
        **cfg,
        "live_files": n_live,
        "files": n_files,
        "events": sum(sizes),
        "bytes": nbytes,
        "live_events_per_s": cfg["live_events_per_file"] / cfg["tick_s"],
    }
    src = ctx.path("stream_src")
    os.makedirs(src, exist_ok=True)
    names = [os.path.basename(p) for p in staged]
    warm, backlog, live = staged[:1], staged[1 : 1 + n_back], staged[1 + n_back :]
    arrivals: dict[str, float] = {}

    def publish(path):
        dst = os.path.join(src, os.path.basename(path))
        os.rename(path, dst)
        arrivals[os.path.basename(path)] = time.time()

    ctx.start(run, "stream")
    from gmall2021_flink_dw_spark.session import ensure_workers_can_import

    ensure_workers_can_import(ctx.spark)
    # The staged copy fixes the schema, read the way the batch loader
    # reads events (tz-naive ts, cast to a session-UTC timestamp).
    schema = ctx.spark.read.parquet(staged[0]).schema
    rows: list = []
    if ctx.trace:
        from tracing import progress_listener

        ctx.spark.streams.addListener(progress_listener(rows))
    t_queries = time.perf_counter()
    queries = _start_stream_queries(ctx, src, schema)
    t = time.perf_counter()
    publish(warm[0])
    _settle(queries, time.time() + 60)
    run.stages_s["warmup_s"] = time.perf_counter() - t
    ctx.setup_done(run)

    # catch-up: the whole backlog at once, drained in a closed loop
    t_timed = time.perf_counter()
    t_catch0 = time.time()
    for p in backlog:
        publish(p)
    _settle(queries, time.time() + 60)

    # live: one file per tick on a fixed schedule (open loop)
    due = M.due_times(time.time() + cfg["tick_s"], cfg["tick_s"], len(live))
    actual: list[float] = []
    for d, p in zip(due, live):
        pause = d - time.time()
        if pause > 0:
            time.sleep(pause)
        publish(p)
        actual.append(arrivals[os.path.basename(p)])
    t = time.perf_counter()
    _settle(queries, time.time() + 30)
    run.stages_s["settle_s"] = time.perf_counter() - t
    run.timed_wall_s = time.perf_counter() - t_timed
    run.jvm_peak_rss_mb = _peak_rss(ctx)
    for q in queries.values():
        q.stop()
    lifetime_s = time.perf_counter() - t_queries
    run.progress = [M.parse_progress(r) for r in rows]
    run.groups_timed = [str(q.runId) for q in queries.values()]
    qid_name = {str(q.runId): n for n, q in queries.items()}

    # freshness and catch-up from each query's checkpoint logs
    live_names = [os.path.basename(p) for p in live]
    due_by_name = dict(zip(live_names, due))
    backlog_last = os.path.basename(backlog[-1])
    fresh: dict[str, list[float]] = {}
    uncommitted = {}
    catch_s: dict[str, float] = {}
    backlog_max = 0
    for name in STREAM_QUERIES:
        view = M.read_checkpoint(ctx.path("stream_ckpt", name))
        commits = M.file_commit_times(view)
        fresh[name], _ = M.freshness_ms(commits, due_by_name)
        uncommitted[name] = sum(1 for n in names if n not in commits)
        if backlog_last in commits:
            catch_s[name] = commits[backlog_last] - t_catch0
        backlog_max = max(backlog_max, M.backlog_max(view, arrivals))
    backlog_events = n_back * cfg["backlog_events_per_file"]
    run.latencies_ms = [v for vs in fresh.values() for v in vs]
    lates = M.lateness(due, actual)
    run.stream = {
        "freshness_ms": fresh,
        "catchup_s_by_query": catch_s,
        "catchup_s": max(catch_s.values()),
        "catchup_events_per_s": backlog_events / max(catch_s.values()),
        "generator_late_ms_max": max(lates) * 1000.0 if lates else 0.0,
        "backlog_files_max": backlog_max,
        "uncommitted_files": uncommitted,
        "lifetime_s": lifetime_s,
        "run_ids": qid_name,
    }
    run.sink_files = sum(
        1 for _, _, fs in os.walk(ctx.path("stream_out")) for f in fs if f.endswith(".parquet")
    )
    t = time.perf_counter()
    bad = _check_stream(ctx, src)
    run.stages_s["check_s"] = time.perf_counter() - t
    run.mismatches = bad
    run.attempted = len(STREAM_QUERIES) * n_files
    run.failed = sum(
        n_files if name in bad else uncommitted[name] for name in STREAM_QUERIES
    )
    return run


def _check_stream(ctx: Context, src: str) -> dict:
    """Each query's output against the oracle SQL of its registered
    streaming twin, over the union of every file the stream received."""
    oracle = Oracle({"events": os.path.join(src, "*.parquet")})
    bad = {}
    for name in STREAM_QUERIES:
        want = oracle.query(ctx.specs[STREAM_ORACLE[name]].oracle)
        try:
            got = oracle.read_back(ctx.path("stream_out", name))
        except FileNotFoundError as e:
            bad[name] = str(e)
            continue
        if name == "router":
            oracle.con.register("routed", got)
            got = oracle.query(
                "SELECT sink_table, count(*) AS n, count(DISTINCT user_id) AS n_users "
                "FROM routed GROUP BY 1"
            )
        elif name == "jump":
            got = _jump_flags(got, want)
        elif name == "visitor_stats":
            got = got.drop(columns=["uv_ct_approx"])
        why = mismatch(got, want)
        if why:
            bad[name] = why
    oracle.close()
    return bad


def _jump_flags(streamed, want):
    """The batch bounce set with the twin's containment and coverage
    flags, computed from the streamed bounces (as streaming_jump_detect
    does)."""
    batch = want[["user_id", "event_id", "ts_us"]]
    bkeys = set(zip(batch.user_id, batch.event_id))
    skeys = set(zip(streamed.user_id, streamed.event_id))
    coverage = len(bkeys & skeys) / len(bkeys) if bkeys else float("nan")
    return batch.assign(
        containment_ok=not (skeys - bkeys), coverage_ok=coverage >= 0.95
    )


WORKLOADS = {"serve": serve, "backfill": backfill, "stream": stream}

