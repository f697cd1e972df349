"""``live_20k``: the dashboard loop at the paper's operating point.

An open-loop generator (a seeded projection over Spark's ``rate``
source) produces 20,000 events/s with Zipf-skewed user keys; the stream
runs ``full_ingest_stream`` into ``start_per_second_store`` with its 1 s
trigger. Beside it, one dashboard thread refreshes once in every 2 s
slot, at a seeded random offset within the slot (four serving reads
over an sf0.1 catalog), and one probe thread samples freshness at
seeded Poisson times by reading the newest second from the store's
parquet footers (cheap, so the probes keep their schedule). The random
times keep both from phase-locking with the 1 s trigger.

The store's own read, ``top_users_from_store``, is timed after the
stream stops, on the store as the stream left it. It is not read while
the stream writes: the program's upsert replaces a day partition in
place, so a read that races it fails with a missing file (a defect of
the program, which would make the run fail, not measure it).

End-to-end: ``op_ms`` is the geometric mean latency of the five reads
(the four dashboard reads and the store read, each kind weighted
equally), ``lag_ms`` the median freshness (now minus the end of the
newest event-second in the store), ``work_per_s`` the events per second
of micro-batch time (the pipeline's capacity at this load; the stream
keeps up while it exceeds 20,000). A whole refresh, timed from its due
time, is the per-layer ``serving.refresh_ms_p50``: with ten refreshes in
a run its median moves too much between runs to gate on.

After the run the store is checked for loss (every complete
event-second holds 20,000 events), and every timed store read must give
the top users DuckDB computes over the same files.
"""

from __future__ import annotations

import math
import os
import random
import threading
import time
from datetime import datetime, timezone

import datagen
from answers import Oracle, answer
from measure import PoissonClock, geomean, nearest_rank
from metrics import DASHBOARD

RATE = 20_000
USERS = 1_500
# Freshness probes per second (Poisson): about 200 samples in a 20 s
# window, comfortably above the 100 a p90 needs.
PROBES_PER_S = 10.0
# One dashboard refresh per slot of this length. A refresh takes about
# 0.6 s beside the 20k ev/s writer on four cores; at one a second the
# dashboard and the writer keep the machine at its knee, where the
# stream falls behind in some runs and every figure swings more. Slots,
# unlike Poisson times, give every run the same number of refreshes: a
# Poisson count of 6 to 14 made the read latencies of a run swing with
# it.
REFRESH_PERIOD_S = 2.0
TOP_K = 10
STEADY_TIMEOUT_S = 30.0
WARM_WINDOW_S = 3.0
# The timed window starts when the stream is this old. The program's
# upsert rewrites the whole day partition every batch, so its cost grows
# with the store's age; a fixed age gives every run the same store to
# write and read, however long its warm-up took.
STREAM_AGE_S = 20.0
# Attempts per freshness probe. The probe is the benchmark's own footer
# read, and a file the upsert deletes under it makes it retry; retries
# are counted in serving_store.probe_retries.
PROBE_TRIES = 5
PROBE_BACKOFF_S = 0.02  # times the attempt number, before each retry
# The store reads after the stream stops: one untimed, then STORE_READS
# timed reads of the top users over the last STORE_WINDOW_S seconds
# before the newest second (so the recency filter cuts the store), each
# checked against DuckDB.
STORE_READS = 10
STORE_WINDOW_S = 15


def prepare(ctx) -> None:
    ctx.sf_dir = os.path.join(ctx.work, "catalog")
    rows = datagen.write_catalog(ctx.sf_dir, ctx.seed, 0.1, tables=("events",))
    ctx.info["inputs"] = {"catalog_rows": rows, "rate_per_s": RATE, "users": USERS}


def event_stream(spark, seed: int):
    """The seeded generator: every column is a hash of the rate source's
    row number and the seed; event time is the row's scheduled time."""
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    mult = rng.choice([a for a in range(1, USERS) if math.gcd(a, USERS) == 1])
    shift = rng.randrange(USERS)

    def uniform(salt: int):
        return F.pmod(F.xxhash64("value", F.lit(seed * 7 + salt)), F.lit(1 << 53)) / float(1 << 53)

    rank = F.least(F.floor(F.pow(F.lit(USERS + 1.0), uniform(1))) - 1, F.lit(USERS - 1))
    types = F.array(*[F.lit(t) for t in datagen.EVENT_TYPES])
    return (
        spark.readStream.format("rate").option("rowsPerSecond", RATE).load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            ((rank * mult + shift) % USERS).cast("long").alias("user_id"),
            F.element_at(types, (F.floor(uniform(2) * 5) + 1).cast("int")).alias("event_type"),
            F.round(-50.0 * F.log(1.0 - uniform(3)), 2).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )


class StoreReadError(Exception):
    """A read of the store failed or found it empty."""


def _steady(q, timeout_s: float) -> bool:
    """Wait for two consecutive batches that each took in no more than
    about one trigger's worth of arrivals (the start-up backlog is
    drained)."""
    deadline = time.time() + timeout_s
    run: list[int] = []
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0 and p["batchId"] not in run[-1:]:
            wall = max(p["durationMs"].get("triggerExecution", 1000) / 1e3, 1.0)
            if p["numInputRows"] <= 1.25 * RATE * wall:
                run = run + [p["batchId"]] if run and p["batchId"] == run[-1] + 1 else [p["batchId"]]
            else:
                run = []
            if len(run) >= 2:
                return True
        time.sleep(0.1)
    return False


def _capacity(progress: list[dict]) -> float:
    """Events per second of micro-batch time: the input rows of the
    batches over the summed wall time of their triggers."""
    busy = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1e3
    return sum(p["numInputRows"] for p in progress) / busy if busy else 0.0


def _start(p: dict) -> float:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=timezone.utc).timestamp()


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from app_fastdata_spark.catalog import queries
    from app_fastdata_spark.streaming.pipeline import full_ingest_stream
    from app_fastdata_spark.streaming.serving_store import start_per_second_store

    spark, ops = ctx.spark, ctx.ops
    qs = queries()
    store = os.path.join(ctx.work, "store", "per_second")
    readers = {name: qs[name] for name in DASHBOARD}
    samples: dict[str, list] = {k: [] for k in ("refresh", "read", "probe", "fresh", *DASHBOARD)}
    counts = {"late": 0, "probe_retries": 0}
    counts_lock = threading.Lock()  # the dashboard and the prober both count
    probe_errors: list[str] = []
    answers: dict[str, set] = {name: set() for name in DASHBOARD}

    def count(key: str) -> None:
        with counts_lock:
            counts[key] += 1

    def refresh(due: float) -> None:
        with ops.attempt("refresh"):
            for name, build in readers.items():
                with ctx.op(f"exec:serving:{name}:live", "serving"):
                    c = time.perf_counter()
                    got = answer(build(spark, ctx.sf_dir).toPandas())
                    samples[name].append(time.perf_counter() - c)
                answers[name].add(got)
        samples["refresh"].append(time.time() - due)

    def newest() -> float:
        """The newest second, retried (and counted) when the probe
        races the upsert; raises once every attempt has."""
        for attempt in range(PROBE_TRIES):
            try:
                got = newest_second(store)
                if got is None:
                    raise StoreReadError("the store looked empty")
                return got
            except Exception as e:  # retried here, raised on the last try
                if attempt == PROBE_TRIES - 1:
                    raise
                count("probe_retries")
                if len(probe_errors) < 20:
                    probe_errors.append(_java_cause(e))
                time.sleep(PROBE_BACKOFF_S * (attempt + 1))

    def probe() -> None:
        with ctx.tracer.span("newest second", "serving_store"):
            c = time.perf_counter()
            t = newest()
            now = time.time()
            samples["probe"].append(time.perf_counter() - c)
        samples["fresh"].append(max(0.0, now - (t + 1.0)))

    def dashboard(t0: float, t1: float) -> None:
        """One refresh in each REFRESH_PERIOD_S slot of the window, due
        at a seeded uniform offset within its slot: every run makes the
        same number of refreshes, at phases independent of the
        trigger's. A refresh that falls due while the previous one still
        runs starts as soon as that one ends, and is counted as late."""
        rng = random.Random(ctx.seed + 1)
        for k in range(round((t1 - t0) / REFRESH_PERIOD_S)):
            due = t0 + (k + rng.random()) * REFRESH_PERIOD_S
            if due < time.time():
                count("late")
                due = time.time()
            time.sleep(max(0.0, due - time.time()))
            refresh(due)

    def prober(t0: float, t1: float) -> None:
        clock = PoissonClock(random.Random(ctx.seed), PROBES_PER_S, t0)
        while (due := clock.advance()) < t1:
            time.sleep(max(0.0, due - time.time()))
            with ops.attempt("probe"):
                probe()

    c0 = time.time()
    with ctx.op("stream", "pipeline", "start_per_second_store"):
        q = start_per_second_store(
            full_ingest_stream(spark, event_stream(spark, ctx.seed)), store,
            available_now=False)
    ctx.stream_run_ids.add(str(q.runId))
    started = time.time()

    def run_window(t0: float, t1: float) -> None:
        threads = [threading.Thread(target=f, args=(t0, t1)) for f in (dashboard, prober)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    try:
        with ctx.op("warmup", "session"):
            for name, build in readers.items():
                build(spark, ctx.sf_dir).toPandas()
            ctx.info["steady"] = _steady(q, STEADY_TIMEOUT_S)
            # the dashboard and probes run once untimed, so the timed
            # window starts with their code paths compiled
            run_window(time.time(), time.time() + WARM_WINDOW_S)
            for k in samples:
                samples[k].clear()
            counts.update(dict.fromkeys(counts, 0))
            probe_errors.clear()
        ctx.layer["session.warmup_s"] = time.time() - c0
        ctx.setup_done()
        time.sleep(max(0.0, started + STREAM_AGE_S - time.time()))
        t0 = time.time()
        ctx.info["stream_age_at_start_s"] = t0 - started
        run_window(t0, t0 + ctx.seconds)
        t_end = time.time()
        if q.exception() is not None:
            ops.fail(f"stream failed: {q.exception()}")
        # stop between triggers, so no upsert is cut off half-way
        deadline = time.time() + 5
        while q.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.02)
    finally:
        q.stop()
        q.awaitTermination(30)
    progress = list(q.recentProgress)
    _check_store(ctx, store, samples["read"])

    timed = [p for p in progress if t0 <= _start(p) <= t_end]
    ops.add(len(progress))  # every micro-batch is an operation
    # Every read counts: with about ten reads of each kind in a run, the
    # geometric mean of all of them varies less between runs than their
    # median does. "read" is the store read after the stream stopped.
    for k in ("read", *DASHBOARD):
        if not samples[k]:
            ops.fail(f"{k}: no samples")
    ctx.e2e["op_ms"] = 1000 * geomean(geomean(samples[k]) for k in ("read", *DASHBOARD))
    ctx.e2e["lag_ms"] = 1000 * ops.percentile(samples["fresh"], 0.5, "freshness")
    ctx.e2e["work_per_s"] = _capacity(timed)
    ctx.layer.update(_progress_metrics(timed))
    ctx.layer["sources.input_rows"] = sum(p["numInputRows"] for p in progress)
    ctx.layer["sources.backlog_rows_end"] = max(0.0, RATE * (t_end - t0) - sum(p["numInputRows"] for p in timed))
    ctx.layer["serving_store.read_ms_p50"] = 1000 * ops.percentile(samples["read"], 0.5, "store read")
    ctx.layer["serving_store.probe_ms_p50"] = 1000 * ops.percentile(samples["probe"], 0.5, "probe")
    ctx.layer["serving_store.probe_ms_p90"] = 1000 * ops.percentile(samples["probe"], 0.9, "probe")
    ctx.layer["serving_store.freshness_ms_p90"] = 1000 * ops.percentile(samples["fresh"], 0.9, "freshness")
    ctx.layer["serving_store.files_end"], ctx.layer["serving_store.bytes_end"] = _store_size(store)
    ctx.layer["serving_store.probe_retries"] = counts["probe_retries"]
    for name in DASHBOARD:
        ctx.layer[f"serving.{name}.ms_p50"] = 1000 * ops.percentile(samples[name], 0.5, name)
    ctx.layer["serving.refresh_ms_p50"] = 1000 * ops.percentile(samples["refresh"], 0.5, "refresh")
    ctx.layer["serving.late_ticks"] = counts["late"]
    ctx.info["samples"] = {k: len(v) for k, v in samples.items()}
    ctx.info["samples_s"] = samples
    ctx.info["probe_errors"] = probe_errors
    _check_dashboard(ctx, answers)


def _check_dashboard(ctx, answers: dict[str, set]) -> None:
    """Every refresh of a serving read must give the one answer DuckDB
    gives over the same catalog."""
    from app_fastdata_spark.catalog import oracles

    oracle = Oracle(ctx.sf_dir, threads=ctx.info["nproc"], tables=("events",))
    try:
        for name, seen in answers.items():
            try:
                want = oracle.answer(oracles()[name])
            except Exception as e:  # an oracle that cannot run is a failure
                ctx.ops.fail(f"oracle {name}: {e}")
                continue
            wrong = [a for a in seen if a != want]
            if wrong or not seen:
                ctx.ops.fail(f"{name}: {len(wrong)} wrong answers of {len(seen)} distinct")
    finally:
        oracle.close()


# durationMs keys of a streaming progress report, by metric name
_PHASES = {
    "trigger": "triggerExecution",
    "query_planning": "queryPlanning",
    "latest_offset": "latestOffset",
    "get_batch": "getBatch",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
    "add_batch": "addBatch",
}


def _progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer ``pipeline.*`` metrics from a query's progress reports:
    medians of each batch phase and state-store commit time, and the
    batch count, final state size and watermark drops."""
    out: dict[str, float] = {"pipeline.batches": len(progress)}
    for name, key in _PHASES.items():
        vals = [p["durationMs"].get(key, 0) for p in progress]
        out[f"pipeline.{name}_ms_p50"] = nearest_rank(vals, 0.5) if vals else 0
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    if ops:
        out["pipeline.state_commit_ms_p50"] = nearest_rank(
            [o.get("commitTimeMs", 0) for o in ops], 0.5)
        out["pipeline.state_rows_end"] = ops[-1].get("numRowsTotal", 0)
        out["pipeline.state_memory_bytes_end"] = ops[-1].get("memoryUsedBytes", 0)
        out["pipeline.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return out


def _store_size(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a store directory."""
    files = size = 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _java_cause(e: Exception) -> str:
    """The innermost ``Caused by`` line of a Java error, else the last
    line naming an exception, else the first line."""
    lines = str(e).splitlines() or [type(e).__name__]
    causes = [ln for ln in lines if ln.startswith("Caused by:")]
    return (causes or [ln for ln in lines if "Exception" in ln] or lines)[-1].strip()[:300]


def newest_second(store: str) -> float | None:
    """Epoch second of the newest ``second_ts`` in the store, from the
    column statistics of its parquet footers (None for an empty store)."""
    import pyarrow.parquet as pq

    newest = None
    for d, dirs, names in os.walk(store):
        # skip the writer's in-progress staging directories, as Spark's
        # own listing does
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for n in names:
            if not n.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(d, n)).metadata
            col = meta.schema.names.index("second_ts")
            for g in range(meta.num_row_groups):
                stats = meta.row_group(g).column(col).statistics
                if stats is not None and stats.has_min_max:
                    t = stats.max.replace(tzinfo=timezone.utc).timestamp()
                    newest = t if newest is None else max(newest, t)
    return newest


def _check_store(ctx, store: str, read_s: list[float]) -> None:
    """Checks of the store the stopped stream left. No loss: the rate
    source makes exactly RATE events per event-second, so every second
    strictly between the store's first and last must hold RATE events.
    And the store read: STORE_READS timed reads of
    ``top_users_from_store`` as of the newest second, each of which
    must give the top users DuckDB computes from the same files; their
    times go to ``read_s``."""
    from pyspark.sql import functions as F

    from app_fastdata_spark.streaming.serving_store import top_users_from_store

    spark = ctx.spark
    spark.sparkContext.setJobGroup("check", "check")
    with ctx.ops.attempt("store check"):
        try:
            per_second = [r[1] for r in spark.read.parquet(store).groupBy("second_ts")
                          .agg(F.sum("count_values")).orderBy("second_ts").collect()]
        except Exception as e:
            raise StoreReadError(_java_cause(e)) from e
        wrong = [n for n in per_second[1:-1] if n != RATE]
        ctx.info["store_seconds_checked"] = len(per_second[1:-1])
        if wrong or len(per_second) < 3:
            ctx.ops.fail(f"store check: {len(wrong)} of {len(per_second) - 2} seconds "
                         f"do not hold {RATE} events (e.g. {wrong[:3]})")
    want = None
    with ctx.ops.attempt("store oracle"):
        newest = newest_second(store)
        if newest is None:
            raise StoreReadError("the store is empty")
        as_of = datetime.fromtimestamp(newest, timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        oracle = Oracle(store, threads=ctx.info["nproc"], tables=())
        try:
            want = oracle.answer(
                f"SELECT src, CAST(SUM(count_values) AS BIGINT) AS counts "
                f"FROM read_parquet('{store}/*/*.parquet', hive_partitioning = true) "
                f"WHERE epoch(second_ts) >= {newest - STORE_WINDOW_S} "
                f"GROUP BY src ORDER BY counts DESC, src LIMIT {TOP_K}")
        finally:
            oracle.close()
        ctx.info["store_top_users"] = {"as_of": as_of, "rows": want[1]}
    if want is None:
        return
    for i in range(STORE_READS + 1):  # read 0 warms the read's code path
        with ctx.ops.attempt("store read"), ctx.op("serving_store:read", "serving_store"):
            c = time.perf_counter()
            try:
                got = answer(top_users_from_store(
                    spark, store, as_of, STORE_WINDOW_S, TOP_K).toPandas())
            except Exception as e:
                raise StoreReadError(_java_cause(e)) from e
            if i:
                read_s.append(time.perf_counter() - c)
            if got != want or got[1] != TOP_K:
                ctx.ops.fail(f"store read {i} as of {as_of}: {got[1]} rows differ "
                             f"from DuckDB's {want[1]}")
