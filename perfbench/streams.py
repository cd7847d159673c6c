"""``dws_window``: an open-loop event stream into keyed windows.

A file-stream directory fed by the seeded ``EventStream`` goes through
``tumble_stream`` into a range-bucketed ``upsert_sink``. A run has four
phases:

1. warm-up: ``WARM_ROUNDS`` set-ups, each a fresh query on empty
   directories that drains a pre-written backlog one file per batch
   (untimed; their median, plus the session start, is ``setup_s``). The
   last round's query goes on into the timed phases;
2. open loop: one file per interval at a fixed rate, each file its own
   micro-batch, with idle time between batches;
3. drain: a pre-written backlog read a fixed number of files per batch;
4. restarts: stop, write one file, restart from the checkpoint.

Progress is attributed to files by batchId and cumulative input rows
(``progress.attribute``), never by the order listener events arrive.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb
import numpy as np

from pyspark.sql import functions as F

import datagen
from flink_spark.streaming.jobs import tumble_stream
from flink_spark.streaming.sinks import read_upsert_table, upsert_sink
from measure import TAIL_BEYOND, median, tail
from progress import PHASES, attribute, batch_end, batch_start, make_listener
from progress import peak_backlog


class Invalid(RuntimeError):
    """The run's measurement is void (backlog grew or generator lagged)."""


# warm-up: many small batches, because the engine's per-batch code paths
# keep getting faster over the first few dozen batches. The first round
# also pays the first batch's code generation; the median round does not
WARM_ROUNDS = 3
WARM_FILES = 4
WARM_ROWS = 250
# event time a warm file spans: four files span 16 s, so the watermark
# passes a window's end and the eviction path runs in every round too
WARM_SPAN_S = 4.0
DRAIN_FILES = 36  # 9 batches: the drain rate is a median of 8 gaps
DRAIN_PER_BATCH = 4
RESTARTS = 4
COMMIT_TIMEOUT_S = 60.0
# a file plus two waiting behind it: more means the open loop outran the
# pipeline and its latency would measure queue length
MAX_BACKLOG = 3

# rows per file and seconds between files: a batch takes well under the
# interval, so each file gets its own micro-batch and the stream idles
FILE_ROWS = 2000
INTERVAL_S = 1.5


class StreamJob:
    """One pipeline on one checkpoint, restartable with a new trigger size."""

    def __init__(self, spark, root: str, listener):
        self.spark = spark
        self.src = f"{root}/src"
        self.table = f"{root}/table"
        self.ckpt = f"{root}/checkpoint"
        self.listener = listener
        self.query = None
        self.query_id = None
        os.makedirs(self.src, exist_ok=True)

    def start(self, files_per_batch: int) -> None:
        sdf = (self.spark.readStream.schema(datagen.EVENT_DDL)
               .option("maxFilesPerTrigger", files_per_batch)
               .parquet(self.src))
        writer = upsert_sink(
            tumble_stream(sdf, "user_id"), self.table,
            keys=["stt", "user_id"], order_cols=["pv"],
            bucket_expr=F.floor(F.unix_timestamp("stt") / 10).cast("long"))
        self.query = writer.option("checkpointLocation", self.ckpt).start()
        self.query_id = self.query.id

    def wait_idle(self, deadline: float) -> None:
        """Let a trailing no-data batch finish so stop() interrupts nothing."""
        while self.query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.02)

    def stop(self) -> None:
        self.wait_idle(time.time() + 10)
        self.query.stop()
        self.query = None

    def batches(self) -> list[dict]:
        return self.listener.batches(self.query_id)


def run(ctx) -> dict:
    tr, L = ctx.tracer, ctx.layers
    res = {"attempted": 0, "failed": 0, "e2e": {}, "notes": []}
    gen = datagen.EventStream(ctx.seed, FILE_ROWS, INTERVAL_S,
                              WARM_FILES, WARM_ROWS, WARM_SPAN_S)
    dt = INTERVAL_S
    n_open = max(TAIL_BEYOND + 1, int(ctx.seconds / dt))

    spark = ctx.start_session()
    listener = make_listener()
    spark.streams.addListener(listener)
    sizes: list[int] = []   # bytes of every file written, by file index

    def write(i: int) -> None:
        sizes.append(gen.write(i, job.src))

    def committed_through(i: int, deadline: float) -> bool:
        return listener.wait_rows(job.query_id, gen.rows_before(i + 1),
                                  deadline)

    def per_file() -> list[dict | None]:
        return attribute([gen.rows_in(i) for i in range(len(sizes))],
                         job.batches())

    # 1. warm-up: set up a fresh query WARM_ROUNDS times
    rounds = []
    for r in range(WARM_ROUNDS):
        if r:
            job.stop()
        job = StreamJob(spark, f"{ctx.work}/stream{r}", listener)
        sizes.clear()
        for i in range(WARM_FILES):
            write(i)
            _bump_mtime(job.src, i)
        a = time.time()
        job.start(1)
        if not committed_through(WARM_FILES - 1, a + 120):
            raise RuntimeError("warm-up batches never committed")
        job.wait_idle(time.time() + 10)
        rounds.append(time.time() - a)
    L["session.warm_s"] = median(rounds)
    res["setup_s"] = ctx.session_ready_s + median(rounds)
    res["notes"].append("warm-up rounds: " + ", ".join(
        f"{x:.1f} s" for x in rounds))

    # 2. open loop at a fixed rate
    walls, t_phase = {}, time.time()
    first = WARM_FILES
    t0 = time.time() - gen.due(first - 1)   # file i is due at t0 + due(i)
    due, written, scans = {}, {}, []
    for i in range(first, first + n_open):
        due[i] = t0 + gen.due(i)
        time.sleep(max(0.0, due[i] - time.time()))
        write(i)
        written[i] = time.time()
        # wait for this file's batch, then act before the next is due
        if not committed_through(i, due[i] + dt):
            continue
        if ctx.trace:
            _scan_sink(job, scans)
    last = first + n_open - 1
    committed_through(last, time.time() + COMMIT_TIMEOUT_S)
    committed = per_file()
    open_ids = range(first, first + n_open)
    fresh, lag, batches = [], [], []
    for i in open_ids:
        p = committed[i]
        res["attempted"] += 1
        if p is None:
            res["failed"] += 1
            res["notes"].append(f"FAILED slice {i} never committed")
            continue
        fresh.append((batch_end(p) - due[i]) * 1e3)
        lag.append((written[i] - due[i]) * 1e3)
        batches.append(p)
        _slice_spans(tr, due[i], written[i], p)
    backlog = peak_backlog(
        [written[i] for i in open_ids],
        [batch_end(committed[i]) if committed[i] else float("inf")
         for i in open_ids])
    res["notes"].append(
        f"noise: generator lag p50 {median(lag):.1f} ms, max {max(lag):.1f} ms;"
        f" peak backlog {backlog} files")
    if backlog > MAX_BACKLOG:
        raise Invalid(f"backlog grew to {backlog} files")
    if max(lag) > dt * 250:
        raise Invalid(f"generator fell {max(lag):.0f} ms behind schedule")
    p50 = median(fresh)
    tval, tpct, n = tail(fresh)
    res["e2e"].update(latency_p50_ms=p50, latency_tail_ms=tval)
    res["notes"].append(f"latency_tail_ms is p{tpct:.1f} of {n} slices")
    res["notes"].append("slice freshness ms, in order: "
                        + " ".join(f"{x:.0f}" for x in fresh))
    _batch_layers(L, batches)
    lo, hi = batches[0]["batchId"], batches[-1]["batchId"]
    idle = [p["durationMs"]["triggerExecution"] for p in job.batches()
            if lo <= p["batchId"] <= hi and p["numInputRows"] == 0]
    L["streaming.nodata_batches"] = len(idle)
    if idle:
        L["streaming.nodata_batch_ms"] = median(idle)
    L["streaming.peak_backlog"] = backlog
    if scans:
        _sink_layers(L, scans, sizes)
    L["bench.generator_lag_ms"] = median(lag)
    L["bench.generator_lag_max_ms"] = max(lag)
    if ctx.trace:
        L["trace.latency_p50_ms"] = p50
        L["trace.unaccounted_frac"] = median(
            _unaccounted(due[i], written[i], committed[i]) for i in open_ids
            if committed[i])

    # 3. drain a pre-written backlog, a fixed number of files per batch
    walls["open"], t_phase = time.time() - t_phase, time.time()
    job.stop()
    drain = range(last + 1, last + 1 + DRAIN_FILES)
    for i in drain:
        write(i)
        _bump_mtime(job.src, i)
    job.start(DRAIN_PER_BATCH)
    res["attempted"] += 1
    if not committed_through(drain[-1], time.time() + COMMIT_TIMEOUT_S):
        raise RuntimeError("drain never committed")
    committed = per_file()
    thr = _drain_rate([committed[i] for i in drain])
    res["e2e"]["throughput_per_s"] = thr
    if ctx.trace:
        L["trace.throughput_per_s"] = thr

    # 4. restarts from the checkpoint
    walls["drain"], t_phase = time.time() - t_phase, time.time()
    restart = []
    next_file = drain[-1] + 1
    for _ in range(RESTARTS):
        job.stop()
        write(next_file)
        a = time.time()
        job.start(1)
        res["attempted"] += 1
        if not committed_through(next_file, a + COMMIT_TIMEOUT_S):
            raise RuntimeError("restart batch never committed")
        p = per_file()[next_file]
        restart.append(batch_end(p) - a)
        next_file += 1
    res["e2e"]["restart_s"] = median(restart)
    job.stop()

    # output checks
    walls["restarts"], t_phase = time.time() - t_phase, time.time()
    _check(res, _dws_ok(spark, job), "final window table")
    walls["checks"] = time.time() - t_phase
    res["notes"].append("phase walls: " + ", ".join(
        f"{k} {v:.1f} s" for k, v in walls.items()))
    if ctx.trace:
        L["streaming.drain_1core_per_s"] = _one_core_drain(
            ctx, spark, job, drain, listener)
    return res


def _check(res: dict, ok: bool, what: str) -> None:
    res["attempted"] += 1
    if not ok:
        res["failed"] += 1
        res["notes"].append(f"FAILED {what}")


def _bump_mtime(directory: str, i: int) -> None:
    """Give pre-written files distinct, increasing modification times so
    the file source reads them in index order."""
    path = os.path.join(directory, f"part-{i:06d}.parquet")
    t = time.time_ns() // 1_000_000 * 1_000_000 + i * 1_000_000
    os.utime(path, ns=(t, t))


def _drain_rate(progs: list[dict]) -> float:
    """Median over drain batches of input rows per second of wall time
    since the previous batch committed (the first batch has no
    predecessor and only starts the clock)."""
    by_id = {p["batchId"]: p for p in progs}
    order = [by_id[b] for b in sorted(by_id)]
    return median(b["numInputRows"] / (batch_end(b) - batch_end(a))
                  for a, b in zip(order, order[1:]))


def _slice_spans(tr, due: float, written: float, p: dict) -> None:
    """A slice's spans: generator, queue wait, and the batch's phases."""
    if not tr.enabled:
        return
    start, end = batch_start(p), batch_end(p)
    s = tr.add("streaming.slice", due, end)
    tr.add("bench.generator", due, written, s)
    tr.add("streaming.queue_wait", written, start, s)
    b = tr.add("streaming.batch", start, end, s)
    t = start
    for ph in PHASES:
        d = p["durationMs"].get(ph, 0) / 1e3
        tr.add(f"streaming.{ph}", t, t + d, b)
        t += d


def _unaccounted(due: float, written: float, p: dict) -> float:
    """Share of a slice's freshness that no named phase accounts for."""
    start, end = batch_start(p), batch_end(p)
    named = (written - due) + max(0.0, start - written) + sum(
        p["durationMs"].get(ph, 0) for ph in PHASES) / 1e3
    return (end - due - named) / (end - due)


def _batch_layers(L: dict, batches: list[dict]) -> None:
    def med(key):
        return median(p["durationMs"].get(key, 0) for p in batches)

    L["streaming.sources.latest_offset_ms"] = med("latestOffset")
    L["streaming.sources.get_batch_ms"] = med("getBatch")
    L["streaming.trigger_ms"] = med("triggerExecution")
    L["streaming.planning_ms"] = med("queryPlanning")
    L["streaming.commit_ms"] = median(
        p["durationMs"].get("walCommit", 0)
        + p["durationMs"].get("commitOffsets", 0) for p in batches)
    L["streaming.rows_per_batch"] = median(p["numInputRows"] for p in batches)
    L["streaming.sinks.add_batch_ms"] = med("addBatch")
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    if ops:
        L["streaming.jobs.state_rows"] = median(o["numRowsTotal"] for o in ops)
        L["streaming.jobs.state_bytes"] = median(o["memoryUsedBytes"]
                                                 for o in ops)
        L["streaming.jobs.state_update_ms"] = median(o["allUpdatesTimeMs"]
                                                     for o in ops)
        L["streaming.jobs.state_removal_ms"] = median(o["allRemovalsTimeMs"]
                                                      for o in ops)
        L["streaming.jobs.state_commit_ms"] = median(o["commitTimeMs"]
                                                     for o in ops)


def _scan_sink(job: StreamJob, scans: list) -> None:
    """Per-epoch scan: version dirs the last epoch wrote, and the table."""
    try:
        with open(os.path.join(job.table, "_MANIFEST.json")) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        return
    epoch, live = manifest["epoch"], manifest["buckets"].values()
    new_dirs = [d for d in os.listdir(job.table)
                if d.startswith("b") and d.endswith(f"_e{epoch}")]
    written = sum(_dir_bytes(os.path.join(job.table, d))[1] for d in new_dirs)
    files = tbytes = 0
    for d in live:
        n, b = _dir_bytes(os.path.join(job.table, d))
        files, tbytes = files + n, tbytes + b
    scans.append((len(new_dirs), written, files, tbytes))


def _sink_layers(L: dict, scans: list, sizes: list[int]) -> None:
    L["streaming.sinks.buckets_written"] = median(s[0] for s in scans)
    L["streaming.sinks.bytes_written"] = median(s[1] for s in scans)
    L["streaming.sinks.write_amp"] = (median(s[1] for s in scans)
                                      / median(sizes))
    L["streaming.sinks.table_files"] = scans[-1][2]
    L["streaming.sinks.table_bytes"] = scans[-1][3]


def _dir_bytes(path: str) -> tuple[int, int]:
    n = b = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, name))
    return n, b


def _dws_ok(spark, job) -> bool:
    got = read_upsert_table(spark, job.table).select(
        (F.unix_timestamp("stt") / 10).cast("long").alias("w"),
        (F.unix_timestamp("edt") - F.unix_timestamp("stt")).alias("len"),
        "user_id", "pv",
        F.round(F.col("amount") * 100).cast("long").alias("cents"),
    ).toPandas()
    if (got["len"] != 10).any():
        return False
    want = duckdb.sql(f"""
        SELECT epoch_us(ts) // 10000000 AS w, user_id, count(*) AS pv,
               sum(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM read_parquet('{job.src}/*.parquet') GROUP BY ALL
    """).df()
    key = ["w", "user_id"]
    a = got[key + ["pv", "cents"]].sort_values(key).reset_index(drop=True)
    b = want.sort_values(key).reset_index(drop=True)
    return (len(a) == len(b)
            and all((a[c].astype(np.int64).to_numpy()
                     == b[c].astype(np.int64).to_numpy()).all()
                    for c in a.columns))


def _one_core_drain(ctx, spark, job, drain, listener) -> float:
    """The same backlog drained on a ``local[1]`` session."""
    spark.streams.removeListener(listener)
    spark.stop()
    one = ctx.start_session(timed=False, cpus=1)
    log = make_listener()
    one.streams.addListener(log)
    j1 = StreamJob(one, f"{ctx.work}/one_core", log)
    for i in drain:
        name = f"part-{i:06d}.parquet"
        shutil.copy(os.path.join(job.src, name), os.path.join(j1.src, name))
        _bump_mtime(j1.src, i)
    j1.start(DRAIN_PER_BATCH)
    log.wait_rows(j1.query_id, len(drain) * FILE_ROWS, time.time() + 120)
    per_file = attribute([FILE_ROWS] * len(drain), j1.batches())
    j1.stop()
    one.streams.removeListener(log)
    return _drain_rate([p for p in per_file if p])
