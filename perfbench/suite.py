"""``analytics_suite``: batch operators, plan building and index builds,
with the streaming layers idle.

A frozen list of registered queries, one or more from every operator
module, runs over a seeded sf0.01 catalog. After a warm-up over a
separate sf0.001 catalog, one cold pass builds every index of the
sf0.01 data version (its index root starts empty; nothing of the
warm-up catalog is reused), then warm passes repeat until the run's
seconds are used (at least three, so a median over passes can set one
slow pass aside).
Before every timed warm query every result store is cleared, and a
query whose answer is a persisted index gets that index dropped first,
so no timed run serves a stored answer. The run ends with the forced
distributed ``connected_components`` probe over a chain graph whose
every label is verified. Every answer is checked against the query's
DuckDB oracle.

End-to-end: ``op_ms`` is the geometric mean over the queries of each
query's median warm latency (build, run, collect), ``lag_ms`` the wall
time of the cold pass, ``work_per_s`` warm queries per second (median
over the warm passes).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

import datagen
from answers import Oracle, answer
from measure import geomean

SF = 0.01
WARMUP_SF = 0.001
# With two warm passes the median was their mean, and one slow pass
# moved the run's figures; about three fit in 20 s.
MIN_WARM_PASSES = 3

# Frozen query list, in run order (sim_knn_graph builds the graph
# sim_ann_graph walks).
SUITE = (
    "top_users",
    "tpch_q3_top_orders",
    "dedup_exact",
    "sim_knn_graph",
    "sim_ann_graph",
    "events_sliding_distinct_users",
    "bpe_merge_step",
    "customer_rfm_segments",
    "doc_tfidf_top_terms",
    "doc_dsir_weights",
    "asof_last_purchase",
    "events_by_second",
    "session_starts",
    "events_zorder_key",
    "nearest_centroid",
)

# Session stores that hold a query's own answer (or the walk output it
# is read from): cleared before every timed warm query. Every other
# store of the program is an index, built once per data version.
RESULT_STORES = (
    "lev_scored",
    "capped_jaccard",
    "inc_insert",
    "graph_walk",
    "multiseed_walk",
    "hd_walk",
    "beam_visited",
    "graph_walk_trace",
)

# Chain graph of the CC probe: 100-node chains, so the true component of
# node u is u - u % 100.
CC_NODES = 20_000


def index_answers() -> dict[str, str]:
    """Queries of the suite whose registered answer is a persisted
    index, with the index's store name."""
    from app_fastdata_spark.operators import similarity

    return {"sim_knn_graph": similarity.KNN_EDGES_STORE}


def prepare(ctx) -> None:
    ctx.sf_dir = os.path.join(ctx.work, "catalog")
    ctx.warm_dir = os.path.join(ctx.work, "warm_catalog")
    rows = datagen.write_catalog(ctx.sf_dir, ctx.seed, SF)
    datagen.write_catalog(ctx.warm_dir, ctx.seed + 1, WARMUP_SF)
    ctx.info["inputs"] = {"sf": SF, "catalog_rows": rows, "queries": len(SUITE),
                          "cc_nodes": CC_NODES}


def _drop_index(store: str) -> None:
    from app_fastdata_spark.cache import session_clear

    shutil.rmtree(os.path.join(os.environ["SPARK_GRAFT_INDEX_DIR"], store), ignore_errors=True)
    session_clear(store)


class _Pass:
    """Timings and answers of one pass over the suite."""

    def __init__(self) -> None:
        self.wall = 0.0
        self.latency: dict[str, float] = {}
        self.build = 0.0
        self.exec_by_module: dict[str, float] = defaultdict(float)
        self.answers: dict[str, tuple] = {}


def _run_pass(ctx, qs, modules, label: str, cold: bool) -> _Pass:
    from app_fastdata_spark.cache import session_clear

    answers_idx = index_answers()
    p = _Pass()
    t_pass = time.time()
    for name in SUITE:
        for store in RESULT_STORES:
            session_clear(store)
        if not cold and name in answers_idx:
            _drop_index(answers_idx[name])
        m = modules[name]
        with ctx.ops.attempt(f"{label} {name}"), ctx.op(f"exec:{m}:{name}:{label}", f"exec.{m}", name):
            t0 = time.perf_counter()
            with ctx.tracer.span(name, "plan"):
                df = qs[name](ctx.spark, ctx.sf_dir)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
            p.build += t1 - t0
            p.exec_by_module[m] += t2 - t1
            p.latency[name] = t2 - t0
            p.answers[name] = answer(pdf)
    p.wall = time.time() - t_pass
    return p


def _cc_probe(ctx) -> None:
    from pyspark.sql import functions as F

    from app_fastdata_spark.operators.dedup import connected_components

    spark = ctx.spark
    chain = (
        spark.range(CC_NODES).filter((F.col("id") % 100) != 99)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    stats: dict = {}
    with ctx.ops.attempt("cc probe"), ctx.op("cc:probe", "cc"):
        t0 = time.time()
        row = connected_components(chain, stats_out=stats, local_max_edges=0).agg(
            F.count("*").alias("n"),
            F.sum((F.col("component") != F.col("u") - F.col("u") % 100).cast("long")).alias("bad"),
        ).first()
        ctx.layer["cc.wall_s"] = time.time() - t0
        bad = int(row["bad"] or 0) + abs(CC_NODES - int(row["n"]))
        if bad:
            ctx.ops.fail(f"cc probe: {bad} wrong or missing labels")
    ctx.layer["cc.iters"] = stats.get("iters", 0)
    ctx.layer["cc.edges"] = stats.get("edges", 0)
    ctx.info["cc_mode"] = stats.get("mode")


def run(ctx) -> None:
    from app_fastdata_spark.catalog import oracles, queries

    qs = queries()
    modules = {n: qs[n].__module__.rsplit(".", 1)[-1] for n in SUITE}
    ctx.info["modules"] = modules

    c0 = time.time()
    with ctx.op("warmup", "session"):
        for name in SUITE:
            qs[name](ctx.spark, ctx.warm_dir).toPandas()
    ctx.layer["session.warmup_s"] = time.time() - c0
    ctx.setup_done()

    cold = _run_pass(ctx, qs, modules, "cold", cold=True)
    t_end = time.time() + ctx.seconds
    warms: list[_Pass] = []
    while len(warms) < MIN_WARM_PASSES or time.time() < t_end:
        warms.append(_run_pass(ctx, qs, modules, f"warm{len(warms)}", cold=False))
    _cc_probe(ctx)

    warm_wall = statistics.median(p.wall for p in warms)
    ctx.e2e["op_ms"] = 1000 * geomean(
        statistics.median(p.latency[n] for p in warms if n in p.latency) for n in SUITE
        if any(n in p.latency for p in warms))
    ctx.e2e["lag_ms"] = 1000 * cold.wall
    ctx.e2e["work_per_s"] = len(SUITE) / warm_wall
    ctx.layer["plan.build_cold_s"] = cold.build
    ctx.layer["plan.build_warm_s"] = statistics.median(p.build for p in warms)
    for m in set(modules.values()):
        ctx.layer[f"exec.{m}.cold_s"] = cold.exec_by_module[m]
        ctx.layer[f"exec.{m}.warm_s"] = statistics.median(p.exec_by_module[m] for p in warms)
    ctx.info["passes"] = {"cold": cold.wall, "warm": [p.wall for p in warms]}
    ctx.info["latency_s"] = {"cold": cold.latency, "warm": [p.latency for p in warms]}
    _check(ctx, oracles(), [cold, *warms])


def _check(ctx, sql: dict[str, str], passes: list[_Pass]) -> None:
    """Every answer of every pass must equal the DuckDB oracle's."""
    oracle = Oracle(ctx.sf_dir, threads=ctx.info["nproc"])
    try:
        for name in SUITE:
            try:
                want = oracle.answer(sql[name])
            except Exception as e:  # an oracle that cannot run is a failure
                ctx.ops.fail(f"oracle {name}: {e}")
                continue
            for i, p in enumerate(passes):
                if name in p.answers and p.answers[name] != want:
                    ctx.ops.fail(f"{name}: pass {i} answer differs from the oracle "
                                 f"({p.answers[name][1]} vs {want[1]} rows)")
    finally:
        oracle.close()
