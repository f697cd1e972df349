#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts a SparkSession with ``get_spark`` on local[nproc],
measures for about ``--seconds`` seconds, checks every answer and prints,
as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (with Spark's
event log on and spans recorded). Everything it writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (the full
artifact, spans and a history of untraced runs) in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import measure  # noqa: E402
import metrics  # noqa: E402

# Workload name -> module. A workload module has ``prepare(ctx)``, which
# writes its seeded inputs before the session starts, and ``run(ctx)``,
# which warms up, calls ``ctx.setup_done()`` when its set-up ends, before its first
# timed operation, measures, checks its answers and fills ``ctx.e2e``
# and ``ctx.layer``.
WORKLOADS = {"live_20k": "live", "analytics_suite": "suite"}
# Sources whose content keys the untraced-run history (see _overhead).
SOURCE_DIRS = ("app_fastdata_spark", "perfbench")
# A traced run with no untraced baseline on record first makes one, in
# at most this time. An untraced run takes 55-75 s at 20 s on four
# cores; the traced run after it must still end within 180 s.
UNTRACED_TIMEOUT_S = 100


class Ctx:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.ops = measure.Ops()
        self.tracer = measure.Tracer(self.trace)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.stream_run_ids: set[str] = set()
        self.spark = None
        self.setup_s: float | None = None
        self.proc_start = measure.proc_start_epoch()

    def setup_done(self) -> None:
        """Mark the end of set-up; the timed operations follow."""
        self.setup_s = time.time() - self.proc_start

    @contextmanager
    def op(self, group: str, layer: str, what: str | None = None):
        """One benchmark operation: tags its Spark jobs with ``group``
        and records a span (traced runs only)."""
        self.spark.sparkContext.setJobGroup(group, group)
        with self.tracer.span(what or group, layer, group):
            yield


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(ctx: Ctx, log_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory, and turn the event log on for traced runs."""
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(ctx.work, "local"),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(ctx.work, "index"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    ctx.info["nproc"] = int(cpus)
    ctx.info["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_CPUS"]
    ctx.info["SPARK_GRAFT_DRIVER_MEM"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "program default")


def _stop_spark(spark, sampler: measure.PeakRss) -> None:
    """Stop the session, then wait for the JVM and every Python worker
    this run started to exit (killing any that outlive a grace period)."""
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    sampler.sample()
    children = sampler.pids - {os.getpid()}
    spark.stop()
    if jvm is not None:
        try:
            jvm.stdin.close()
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 15
    while True:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and measure.rss_bytes(p) > 0]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def _commit() -> str | None:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _fold_spark(ctx: Ctx, log_dir: str) -> None:
    """Per-layer Spark metrics from the event log, by job group."""
    groups = eventlog.fold_dir(log_dir)
    streams = ctx.stream_run_ids
    for m in metrics.MODULES:
        t = eventlog.sum_groups(groups, lambda g, m=m: g.startswith(f"exec:{m}:"))
        ctx.layer[f"spark.{m}.jobs"] = t["jobs"]
        ctx.layer[f"spark.{m}.task_s"] = t["task_s"]
        ctx.layer[f"spark.{m}.shuffle_bytes"] = t["shuffle_bytes"]
    total = eventlog.sum_groups(groups, lambda g: True)
    for k in ("input_bytes", "stages", "tasks", "gc_s", "spill_bytes"):
        ctx.layer[f"spark.{k}"] = total[k]
    stream = eventlog.sum_groups(groups, lambda g: g in streams)
    ctx.layer["spark.stream.task_s"] = stream["task_s"]
    ctx.layer["spark.stream.shuffle_bytes"] = stream["shuffle_bytes"]
    cc = eventlog.sum_groups(groups, lambda g: g.startswith("cc:"))
    ctx.layer["cc.jobs"] = cc["jobs"]
    ctx.layer["cc.task_s"] = cc["task_s"]
    ctx.info["job_groups"] = groups
    # The honest-warm-pass guard: a timed warm query must read input.
    for group, t in groups.items():
        if group.startswith("exec:") and ":warm" in group and t["input_bytes"] <= 0:
            ctx.ops.fail(f"{group}: warm run read 0 input bytes")


def _source_hash() -> str:
    """Digest of the program's and the benchmark's Python sources: runs
    with the same digest ran the same code, with or without git."""
    h = hashlib.sha256()
    for top in SOURCE_DIRS:
        for d, dirs, names in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _baselines(ctx: Ctx, hist: str) -> list[float]:
    """``op_ms`` of the untraced runs of this workload, core count and
    source recorded in the history."""
    if not os.path.exists(hist):
        return []
    key = (ctx.workload, ctx.info["SPARK_GRAFT_CPUS"], ctx.info["source"])
    with open(hist) as f:
        return [r["op_ms"] for r in map(json.loads, f)
                if (r["workload"], r["cpus"], r.get("source")) == key]


def _untraced_run(ctx: Ctx, env: dict) -> None:
    """Run this workload untraced in a child process, which records its
    ``op_ms`` in the history; a child that outlives its time is
    terminated, so it stops its own JVM."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", ctx.workload,
           "--seed", str(ctx.seed), "--seconds", str(ctx.seconds), "--trace", "0"]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.DEVNULL)
    try:
        child.wait(timeout=UNTRACED_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:  # also when this run is itself terminated
        if child.poll() is None:
            child.terminate()
            try:
                child.wait(timeout=30)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()


def _overhead(ctx: Ctx, out_dir: str) -> None:
    """Untraced runs record their ``op_ms``. A traced run states its
    overhead as the change of ``op_ms`` against the median of the
    untraced runs of the same workload, core count and source; with
    none on record the check fails."""
    hist = os.path.join(out_dir, "history.jsonl")
    if not ctx.trace:
        with open(hist, "a") as f:
            f.write(json.dumps({"workload": ctx.workload, "cpus": ctx.info["SPARK_GRAFT_CPUS"],
                                "source": ctx.info["source"], "commit": ctx.info["commit"],
                                "seed": ctx.seed, "op_ms": ctx.e2e["op_ms"]}) + "\n")
        return
    base = _baselines(ctx, hist)
    ctx.info["tracing_overhead_base_runs"] = len(base)
    if base:
        ctx.layer["tracing.overhead_pct"] = 100.0 * (ctx.e2e["op_ms"] / statistics.median(base) - 1)
    else:
        ctx.ops.fail("tracing overhead: no untraced run of this source on record")


def main(argv=None) -> int:
    args = _parse(argv)
    env = dict(os.environ)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    ctx = Ctx(args, work)
    log_dir = os.path.join(work, "eventlog")
    try:
        return _run(ctx, log_dir, out_dir, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


def _run(ctx: Ctx, log_dir: str, out_dir: str, env: dict) -> int:
    _environment(ctx, log_dir)
    sys.path.insert(0, ROOT)
    try:
        from app_fastdata_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    ctx.info.update({
        "workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
        "trace": ctx.trace, "commit": _commit(), "source": _source_hash(),
    })
    if ctx.trace and not _baselines(ctx, os.path.join(out_dir, "history.jsonl")):
        c = time.time()
        _untraced_run(ctx, env)
        ctx.info["untraced_run_s"] = time.time() - c
        ctx.proc_start += ctx.info["untraced_run_s"]  # not part of set-up
    ctx.info["load_before"] = measure.sample_load()
    wl = importlib.import_module(WORKLOADS[ctx.workload])
    wl.prepare(ctx)
    sampler = measure.PeakRss().start()
    t0 = time.time()
    ctx.spark = get_spark(f"perfbench-{ctx.workload}")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.layer["session.start_s"] = time.time() - t0
    try:
        wl.run(ctx)
    finally:
        _stop_spark(ctx.spark, sampler)
        sampler.stop()
    ctx.e2e["setup_s"] = ctx.setup_s
    ctx.layer["session.peak_rss_mb"] = sampler.peak / 2**20
    ctx.info["rss_mb_at_peak"] = {k: v / 2**20 for k, v in sampler.at_peak.items()}
    ctx.info["load_after"] = measure.sample_load()
    if ctx.trace:
        _fold_spark(ctx, log_dir)
        with open(os.path.join(out_dir, f"spans-{ctx.workload}-{ctx.seed}.json"), "w") as f:
            json.dump(ctx.tracer.spans, f)
    _overhead(ctx, out_dir)
    values = ctx.layer if ctx.trace else ctx.e2e
    result = {
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": metrics.table(values, ctx.trace),
    }
    ctx.info["unmeasured"] = sorted(set(metrics.PER_LAYER if ctx.trace else ()) - set(values))
    artifact = {**ctx.info, "failures": ctx.ops.reasons,
                "end_to_end": ctx.e2e, "per_layer": ctx.layer}
    name = f"{ctx.workload}-{ctx.seed}-trace{int(ctx.trace)}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
