"""The benchmark's workloads.  Each drives the engine only through its
public modules (session, tables, registry, streaming.core,
streaming.stateful) and returns a :class:`Result`.

``tpch_batch``
    Closed loop, one client: the ten TPC-H headline queries, in a
    seed-shuffled order per pass, repeated until the run's time is up,
    mid-pass (after at least MIN_PASSES passes and MIN_SAMPLES good
    queries).
    Pure JVM work (Catalyst, joins, aggregates, shuffle): no Python
    worker, no streaming, no custom state.  Its traced run adds one
    untimed-for-the-end-to-end pass over the CORPUS queries, which
    measures the dedup, retrieval and CEP operators, the
    ``streaming.core`` availableNow harness and the tumbling-window and
    first-seen stateful operators, each checked against its oracle.

``session_stream``
    Open loop: a generator thread replays a seed-chosen contiguous slice
    of ``events`` in (ts, event_id) order as small parquet files on a
    fixed schedule, at a fixed offered rate, independent of the engine.
    The engine runs merging session windows (gap 1800 s, CountEvictor 3,
    the ``stream_session_trigger_windows`` configuration) under a
    ``processingTime`` trigger into a bench ``foreachBatch`` sink that
    records when each fired row arrives.  The window lasts the run's
    seconds, longer only until MIN_BACKLOG_POINTS micro-batches have
    completed in it (on a slow host).  After the open-loop window has
    drained, a standing backlog of events lands at once, BACKLOGS times,
    each on the idle stream; the median rate of the micro-batches that
    drain them is the capacity figure.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import stats, trace

TPCH = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q8",
        "tpch_q9", "tpch_q13", "tpch_q17", "tpch_q18", "tpch_q21"]

WARM_THREADS = 4
MIN_PASSES = 2
MIN_SAMPLES = 2 * stats.MIN_BEYOND  # so the median has ten samples above it
MAX_PASSES = 4  # extra passes allowed to make up for failed queries

#: traced-run corpus pass: query -> the per-layer metric of its latency
CORPUS = {
    "dedup_minhash_lsh": "operators.dedup.minhash_lsh_s",
    "sim_hybrid_rrf3": "operators.retrieval.hybrid_rrf3_s",
    "cep_errors_then_purchase": "operators.cep.errors_then_purchase_s",
    "stream_continuous_fire": "streaming.stateful.tumble_event_windows_s",
    "stream_lsh_dedup": "streaming.stateful.first_seen_flag_s",
    "stream_bm25_route_inverted": "operators.retrieval.bm25_route_inverted_s",
}
HARNESS = ("run_to_memory", "run_to_stage", "run_foreach_batch")

SESSION_QUERY = "stream_session_trigger_windows"
GAP_S = 1800
OFFERED_RATE = 200      # events per second, open loop
FILE_INTERVAL_S = 0.25  # one source file per interval
FILE_EVENTS = int(OFFERED_RATE * FILE_INTERVAL_S)
TRIGGER = "1 second"
WARM_EVENTS = 200       # first file: drives the untimed first micro-batch
BACKLOG_EVENTS = 2000   # standing backlog after the open-loop window
BACKLOGS = 3            # backlogs drained one after another
DRAIN_TIMEOUT_S = 60
MAX_LAG_S = FILE_INTERVAL_S  # a file landing later than this is late
MIN_BACKLOG_POINTS = 3  # micro-batches needed to test backlog growth
MAX_WINDOW = 3          # the open-loop window stops at this many --seconds

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


@dataclass
class Ctx:
    """What a workload needs from the command line and the environment."""

    seed: int
    seconds: float
    trace: bool
    data_dir: str       # every table at sf0.01 (perfbench/gen.py)
    stream_events: str  # the sf0.1 events table session_stream replays
    run_dir: str
    t_start: float  # perf_counter at the start of set-up


@dataclass
class Result:
    setup_s: float
    outcomes: stats.Outcomes
    latencies_s: list[float]
    latency_batches: int | None  # micro-batches the latency samples came from
    throughput_per_s: float
    throughput_n: int  # queries, or backlog micro-batches
    canary_q6_s: list[float]
    #: workload-specific figures printed for people, name -> (value, unit, n)
    extra: dict[str, tuple[float | None, str, int]] = field(default_factory=dict)
    #: per-layer metrics (traced runs), name -> value
    layers: dict[str, float] = field(default_factory=dict)
    procs: trace.ProcTree | None = None


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _duck(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _setup_engine(ctx: Ctx, layers: dict[str, float]):
    """Session, catalog and registry: the set-up every workload pays."""
    t = time.perf_counter()
    from flink_1_12_0_spark import registry

    registry.load_all()
    layers["registry.load_all_s"] = time.perf_counter() - t

    from flink_1_12_0_spark.session import get_spark
    from flink_1_12_0_spark.tables import load_tables

    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    layers["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    load_tables(spark, ctx.data_dir)
    layers["tables.load_tables_s"] = time.perf_counter() - t
    return spark, registry


def _canonical(pdf) -> list[str]:
    from tests.utils import canonicalize

    return canonicalize(pdf)


def _run_query(spark, registry, name, data_dir, outcomes, want, tracing):
    """One closed-loop operation: registry build, collect, output check.

    Returns (build_s, collect_s, catalyst phases or None); None when the
    operation raised.  The check runs after the clock stops."""
    t0 = time.perf_counter()
    try:
        df = registry.QUERIES[name](spark, data_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
    except Exception as e:  # a raised query is a counted failure
        outcomes.record(name, f"raised {type(e).__name__}: {e}"[:300])
        return None
    phases = trace.catalyst_phases_ms(df) if tracing else None
    try:
        got = _canonical(pdf)
    except TypeError as e:  # array/decimal cells the oracle gate rejects
        outcomes.record(name, f"uncomparable output: {e}"[:300])
        return None
    outcomes.check(name, got, want)
    return t1 - t0, t2 - t1, phases


def tpch_batch(ctx: Ctx) -> Result:
    layers: dict[str, float] = {}
    procs = trace.ProcTree().start()
    spark, registry = _setup_engine(ctx, layers)
    rng = random.Random(ctx.seed)
    data = ctx.data_dir
    # untimed warm-up pass (JIT, codegen caches, parquet footers), its
    # queries run concurrently only to keep set-up short
    with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
        futures = [pool.submit(lambda n=name: registry.QUERIES[n](spark, data)
                               .toPandas()) for name in rng.sample(TPCH, len(TPCH))]
        for f in futures:
            f.result()
    setup_s = time.perf_counter() - ctx.t_start

    con = _duck(data, ["region", "nation", "customer", "supplier", "part",
                       "orders", "lineitem"])
    want = {q: _canonical(con.execute(registry.ORACLES[q]).df()) for q in TPCH}
    con.close()

    window = trace.StatusWindow(spark) if ctx.trace else None
    if window:
        window.begin()
    cpu0 = procs.sample()
    outcomes = stats.Outcomes()
    lat, builds, collects, passes = [], [], [], []
    q6: list[float] = []
    phases = {p: [] for p in trace.PHASES}
    t_end = time.perf_counter() + ctx.seconds

    def more() -> bool:
        return (time.perf_counter() < t_end or len(passes) < MIN_PASSES
                or (len(lat) < MIN_SAMPLES and len(passes) < MAX_PASSES))

    # the window ends mid-pass: pass times still fall by ~5 % per pass
    # (JIT warm-up lasts minutes), so whole passes would make a run's
    # median jump with the pass count
    while more():
        pass_s = 0.0
        for i, name in enumerate(rng.sample(TPCH, len(TPCH))):
            if i and not more():
                break
            r = _run_query(spark, registry, name, data, outcomes, want[name],
                           ctx.trace)
            if r is None:
                pass_s = float("nan")
                continue
            b, c, ph = r
            lat.append(b + c)
            builds.append(b)
            collects.append(c)
            pass_s += b + c
            if name == "tpch_q6":
                q6.append(b + c)
            if ph:
                for p in trace.PHASES:
                    phases[p].append(ph[p])
        else:
            passes.append(pass_s)
    busy_s = sum(lat)

    res = Result(setup_s, outcomes, lat, None,
                 len(lat) / busy_s if busy_s else 0.0, len(lat), q6, procs=procs)
    done = [p for p in passes if not math.isnan(p)]
    res.extra["suite_s"] = (_median(done) if done else None, "s", len(done))
    res.extra["query_p50_s"] = (stats.percentile(lat, 0.5), "s", len(lat))
    res.extra["query_p90_s"] = (stats.percentile(lat, 0.9), "s", len(lat))
    if ctx.trace:
        ops = max(len(lat), 1)
        layers["registry.build_s"] = _median(builds)
        layers["spark.exec.collect_s"] = _median(collects)
        for p in trace.PHASES:
            layers[f"spark.catalyst.{p}_ms"] = _median(phases[p])
        for k, v in window.totals().items():
            layers[f"spark.exec.{k}"] = v / ops
        layers["spark.python.worker_cpu_ms"] = (procs.sample() - cpu0) * 1e3 / ops
        layers.update(_corpus_pass(spark, registry, data, outcomes))
    res.layers = layers
    return res


def _corpus_pass(spark, registry, data_dir, outcomes) -> dict[str, float]:
    """One pass over the CORPUS queries, each checked against its oracle:
    per-query latency (registry build, which drains the stream for the
    streaming rows, plus collect) and the total time spent inside each
    ``streaming.core`` harness function.  Times are inclusive:
    ``run_to_stage`` drains through ``run_foreach_batch``."""
    from flink_1_12_0_spark.streaming import core

    con = _duck(data_dir, ["events", "documents", "embeddings"])
    want = {q: _canonical(con.execute(registry.ORACLES[q]).df()) for q in CORPUS}
    con.close()
    out = {}
    with trace.timed_functions(core, HARNESS) as harness:
        for name, metric in CORPUS.items():
            r = _run_query(spark, registry, name, data_dir, outcomes,
                           want[name], False)
            out[metric] = r[0] + r[1] if r else 0.0
    out.update({f"streaming.core.{k}_s": v for k, v in harness.items()})
    return out


class _Replay:
    """The open-loop generator: writes the slice as parquet files into the
    stream's source directory and logs, per file, the time it was due (the
    creation time of its events), when it landed, and whether it belongs
    to the open-loop schedule (warm-up and backlog files do not)."""

    def __init__(self, table: pa.Table, src_dir: str, stage_dir: str) -> None:
        self.table = table
        self.src_dir = src_dir
        self.stage_dir = stage_dir
        #: (first row, end row, due wall time, written wall time, scheduled)
        self.files: list[tuple[int, int, float, float, bool]] = []

    def write(self, lo: int, hi: int, due: float, scheduled: bool) -> None:
        k = len(self.files)
        tmp = os.path.join(self.stage_dir, f"part-{k:06d}.parquet")
        pq.write_table(self.table.slice(lo, hi - lo), tmp)
        os.rename(tmp, os.path.join(self.src_dir, f"part-{k:06d}.parquet"))
        self.files.append((lo, hi, due, time.time(), scheduled))

    def run(self, row: int, t0: float, n_files: int, max_files: int,
            more) -> int:
        """From ``row`` on, write FILE_EVENTS rows per file, file k due at
        t0 + k * interval for k = 1 .. n_files, whatever the engine is
        doing (it runs in the JVM; the sink runs on PySpark's callback
        thread); then go on while ``more()`` holds, up to file
        ``max_files``.  Returns the first row not written."""
        k = 1
        while k <= n_files or (k <= max_files and more()):
            due = t0 + k * FILE_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.write(row, row + FILE_EVENTS, due, scheduled=True)
            row += FILE_EVENTS
            k += 1
        return row

    def created_times(self) -> list[float | None]:
        """Per slice row: the due time of its file, or None for rows that
        were not offered on the open-loop schedule."""
        out: list[float | None] = [None] * self.table.num_rows
        for lo, hi, due, _w, scheduled in self.files:
            if scheduled:
                out[lo:hi] = [due] * (hi - lo)
        return out


def session_stream(ctx: Ctx) -> Result:
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_1_12_0_spark.streaming.stateful import session_event_windows

    layers: dict[str, float] = {}
    procs = trace.ProcTree().start()
    spark, registry = _setup_engine(ctx, layers)
    listener = trace.progress_listener(spark) if ctx.trace else None

    events = pq.read_table(ctx.stream_events)
    events = events.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n_files = max(1, round(ctx.seconds / FILE_INTERVAL_S))
    n_slice = (WARM_EVENTS + MAX_WINDOW * n_files * FILE_EVENTS
               + BACKLOGS * BACKLOG_EVENTS)
    if n_slice > events.num_rows:
        raise ValueError(f"--seconds {ctx.seconds} needs {n_slice} events; "
                         f"the table has {events.num_rows}")
    start = random.Random(ctx.seed).randrange(events.num_rows - n_slice + 1)
    sl = events.slice(start, n_slice)

    src = os.path.join(ctx.run_dir, "src")
    stage = os.path.join(ctx.run_dir, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    replay = _Replay(sl, src, stage)

    sink_rows: list = []   # (batch id, arrival wall time, pandas frame)
    sink_cost: dict = {}   # batch id -> (collect s, Catalyst phases or None)
    sink_error: list[str] = []

    def sink(df, batch_id):
        try:
            t0 = time.perf_counter()
            out = df.select("user_id", "w_start", "w_end", "n",
                            F.round("sum_value", 4).alias("sum_value"))
            pdf = out.toPandas()
            arrived = time.time()
            sink_rows.append((batch_id, arrived, pdf))
            sink_cost[batch_id] = (time.perf_counter() - t0,
                                   trace.catalyst_phases_ms(out)
                                   if ctx.trace else None)
        except Exception as e:  # re-raised below as the stream's failure
            sink_error.append(f"{type(e).__name__}: {e}"[:300])
            raise

    t = time.perf_counter()
    sdf = spark.readStream.schema(EVENTS_SCHEMA).parquet(src).select(
        "user_id", "ts", "event_id", "value")
    fired = session_event_windows(sdf, ["user_id"], ts="ts",
                                  tiebreak="event_id", value_col="value",
                                  gap_s=GAP_S, evictor=("count", 3))
    layers["streaming.stateful.build_s"] = time.perf_counter() - t
    replay.write(0, WARM_EVENTS, time.time(), scheduled=False)
    q = (fired.writeStream.foreachBatch(sink).outputMode("update")
         .queryName("perfbench_session")
         .option("checkpointLocation", os.path.join(ctx.run_dir, "ckpt"))
         .trigger(processingTime=TRIGGER).start())
    outcomes = stats.Outcomes()
    capacity_batches: list = []  # progress of each backlog's micro-batch
    try:
        # set-up ends when the first (cold) micro-batch has been processed
        if not _await_rows(q, WARM_EVENTS, DRAIN_TIMEOUT_S):
            raise RuntimeError(f"first micro-batch did not complete: "
                               f"{q.exception()}")
        setup_s = time.perf_counter() - ctx.t_start

        window = trace.StatusWindow(spark) if ctx.trace else None
        if window:
            window.begin()
        cpu0 = procs.sample()
        t0 = time.time()
        end_row = replay.run(
            WARM_EVENTS, t0, n_files, MAX_WINDOW * n_files,
            lambda: len(_open_loop(q.recentProgress)) < MIN_BACKLOG_POINTS)
        t_open_end = time.time()
        n_open = end_row - WARM_EVENTS
        drained = _await_rows(q, end_row, DRAIN_TIMEOUT_S)
        if ctx.trace:
            exec_totals = window.totals()
            cpu_s = procs.sample() - cpu0
        row = end_row
        while drained and len(capacity_batches) < BACKLOGS:
            # capacity: a standing backlog lands on the idle stream at once
            seen = {p["batchId"] for p in q.recentProgress}
            replay.write(row, row + BACKLOG_EVENTS, time.time(),
                         scheduled=False)
            row += BACKLOG_EVENTS
            drained = _await_rows(q, row, DRAIN_TIMEOUT_S)
            capacity_batches.append(next(
                (p for p in q.recentProgress
                 if p["batchId"] not in seen and p["numInputRows"] > 0), None))
    finally:
        q.stop()
    err = q.exception()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    # from here on, the slice is what was replayed
    sl = sl.slice(0, max(f[1] for f in replay.files))

    # correctness: the fired set over the whole replay equals the oracle
    con = _duck_events(sl, ctx.run_dir)
    want = _canonical(con.execute(registry.ORACLES[SESSION_QUERY]).df())
    con.close()
    frames = [f for _b, _t, f in sink_rows]
    stream_err = None
    if err is not None:
        stream_err = f"stream raised: {err}"[:300]
    elif sink_error:
        stream_err = f"sink raised: {sink_error[0]}"
    elif not drained:
        stream_err = (f"stream did not drain {sl.num_rows} events in "
                      f"{DRAIN_TIMEOUT_S}s")
    elif not frames:
        stream_err = "stream emitted no rows"
    outcomes.check_rows("session_stream.fired", None if stream_err else
                        _canonical(pd.concat(frames, ignore_index=True)),
                        want, stream_err)

    # fire latency: trigger event's creation (due) time -> sink arrival;
    # sessions fired by warm-up or backlog events are not open-loop samples
    es = (sl.column("ts").cast(pa.int64()).to_numpy() * 1000) / 1e9
    triggers = stats.session_triggers(
        zip(sl.column("user_id").to_pylist(), es.tolist(),
            sl.column("event_id").to_pylist(), replay.created_times()), GAP_S)
    lat: list[float] = []
    lat_batches = set()
    for b, arrived, pdf in sink_rows:
        for u, w in zip(pdf["user_id"].tolist(), pdf["w_start"].tolist()):
            c = triggers.get((u, w))
            if c is not None:
                lat.append(arrived - c)
                lat_batches.add(b)

    rates = []
    for i in range(BACKLOGS):
        p = capacity_batches[i] if i < len(capacity_batches) else None
        if p is not None and p["numInputRows"] == BACKLOG_EVENTS:
            rates.append(BACKLOG_EVENTS
                         / (p["durationMs"]["triggerExecution"] / 1e3))
            outcomes.record("session_stream.capacity", None)
        else:
            outcomes.record("session_stream.capacity", f"backlog {i} was not "
                            "drained by one micro-batch")
    capacity = _median(rates)

    # fire latency is valid only while the engine keeps up with the offered
    # rate and the generator keeps its schedule; either failing fails the
    # run.  Keeping up: the backlog each open-loop micro-batch leaves behind
    # does not grow.
    taken = []
    total = 0
    for p in progress:
        total += p["numInputRows"]
        if p["batchId"] >= 1 and _started(p) < t_open_end:
            taken.append((_started(p), total))
    points = stats.carried_backlog([(f[3], f[1] - f[0]) for f in replay.files],
                                   taken)
    slope = stats.backlog_growth_per_s(points)
    lags = [f[3] - f[2] for f in replay.files if f[4]]
    lag_max = max(lags, default=0.0)
    outcomes.record("session_stream.backlog", stats.backlog_error(
        points, slope, OFFERED_RATE, MIN_BACKLOG_POINTS))
    outcomes.record("session_stream.schedule",
                    stats.schedule_error(lags, MAX_LAG_S))

    q6 = _canary(spark, registry, ctx.data_dir)
    res = Result(setup_s, outcomes, lat, len(lat_batches), capacity,
                 len(rates), q6, procs=procs)
    res.extra["fire_latency_p50_s"] = (stats.percentile(lat, 0.5), "s", len(lat))
    res.extra["fire_latency_p99_s"] = (stats.percentile(lat, 0.99), "s", len(lat))
    res.extra["sustained_events_per_s"] = (capacity, "1/s", len(rates))
    res.extra["micro_batches"] = (float(len(progress)), "count", len(progress))
    res.extra["gen.lag_max_s"] = (lag_max, "s", len(lags))
    res.extra["gen.backlog_growth_per_s"] = (slope, "1/s", len(points))

    if ctx.trace:
        # the open-loop micro-batches: not the warm-up, not the backlogs
        cap_ids = {p["batchId"] for p in capacity_batches if p}
        batches = [p for p in _open_loop(
            _query_progress(listener, "perfbench_session"))
                   if p["batchId"] not in cap_ids]
        ops = max(len(batches), 1)
        costs = [sink_cost[p["batchId"]] for p in batches
                 if p["batchId"] in sink_cost]
        for ph in trace.PHASES:
            layers[f"spark.catalyst.{ph}_ms"] = _median([c[1][ph] for c in costs])
        for k, v in exec_totals.items():
            layers[f"spark.exec.{k}"] = v / ops
        layers["spark.python.worker_cpu_ms"] = cpu_s * 1e3 / ops
        layers.update(_stream_layers(batches))
        layers["sink.collect_s"] = _median([c[0] for c in costs])
        layers["gen.events"] = float(n_open)
        layers["gen.lag_max_s"] = lag_max
        layers["gen.backlog_rows"] = float(max((b for _t, b in points), default=0))
        layers["gen.backlog_growth_per_s"] = slope
    res.layers = layers
    return res


def _open_loop(progress: list[dict]) -> list[dict]:
    """The micro-batches after the warm-up one (batch 0) that took rows."""
    return [p for p in progress if p["batchId"] >= 1 and p["numInputRows"] > 0]


def _started(progress: dict) -> float:
    """Wall time a micro-batch started, from its progress report."""
    return datetime.fromisoformat(progress["timestamp"]).timestamp()


def _await_rows(q, rows: int, timeout_s: float) -> bool:
    """Wait until the query has taken ``rows`` input rows and is idle."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if q.exception() is not None or not q.isActive:
            return False
        taken = sum(p["numInputRows"] for p in q.recentProgress)
        st = q.status
        if taken >= rows and not st["isTriggerActive"]:
            return True
        time.sleep(0.05)
    return False


def _duck_events(table: pa.Table, run_dir: str):
    """The replayed slice as DuckDB's ``events`` view."""
    d = os.path.join(run_dir, "slice")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "events.parquet"))
    return _duck(d, ["events"])


def _query_progress(listener, name: str) -> list[dict]:
    # progress events arrive asynchronously; give the last one a moment
    time.sleep(0.5)
    return sorted(listener.progress.get(name, []), key=lambda p: p["batchId"])


_DURATIONS = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "get_batch_ms": "getBatch",
    "latest_offset_ms": "latestOffset", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}
_STATE = {
    "rows_total": "numRowsTotal", "rows_updated": "numRowsUpdated",
    "memory_bytes": "memoryUsedBytes", "all_updates_ms": "allUpdatesTimeMs",
    "commit_ms": "commitTimeMs",
    "rows_dropped_by_watermark": "numRowsDroppedByWatermark",
}


def _stream_layers(batches: list[dict]) -> dict[str, float]:
    """Per-micro-batch medians of the progress reports (timed batches)."""
    out = {"spark.stream.batches": float(len(batches)),
           "spark.stream.input_rows": _median(
               [p["numInputRows"] for p in batches])}
    for k, src in _DURATIONS.items():
        out[f"spark.stream.{k}"] = _median(
            [p["durationMs"].get(src, 0) for p in batches])
    for k, src in _STATE.items():
        out[f"spark.state.{k}"] = _median(
            [sum(s.get(src, 0) for s in p["stateOperators"]) for p in batches])
    return out


def _canary(spark, registry, data_dir: str, n: int = 2) -> list[float]:
    """tpch_q6 wall times: a host-speed reference printed beside every run."""
    out = []
    for _ in range(n):
        t = time.perf_counter()
        registry.QUERIES["tpch_q6"](spark, data_dir).toPandas()
        out.append(time.perf_counter() - t)
    return out


def stop_engine() -> None:
    """Stop the active session, then the JVM it runs in, and wait for the
    JVM to exit.  Safe to call when nothing was started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        SparkContext._gateway = None
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


WORKLOADS = {"tpch_batch": tpch_batch, "session_stream": session_stream}
