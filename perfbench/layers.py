"""The traced run: per-layer metrics from spans and Spark's stage metrics.

Spans come from wrappers installed on the program's module attributes
before ``rollup_job.main()`` runs (it imports them at call time), and from
the benchmark's own spans around each query and each standalone replay.
``cascade()`` and ``compress_tiers()`` only build plans, so their cost is
taken from replays that execute them alone into the ``noop`` sink.
A layer a workload never calls reads 0 there.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import shutil
import statistics
import time

import pyarrow.dataset as ds

import engine
import gate
import stats
from tracing import Tracer
from workloads import QUERIES

WRAPPED = [
    ("crossai_ts_spark.plans.checkpoint", "commit_bucket"),
    ("crossai_ts_spark.plans.checkpoint", "pending_buckets"),
    ("crossai_ts_spark.sources.io", "read_sequences"),
    ("crossai_ts_spark.sources.io", "write_table"),
    ("crossai_ts_spark.operators.rollup", "cascade"),
    ("crossai_ts_spark.functions.codecs", "compress_tiers"),
]
JOB_STRATEGY = "pandas"  # rollup_job's default --strategy
OVERHEAD_PAIRS = 3


def spans_path(run) -> str:
    d = os.path.join(os.path.dirname(run.work), "spans")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{run.args.workload}-seed{run.args.seed}.json")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_job(run, wl, buckets: int | None = None, name: str = "rollup_job.main"):
    """One job run with every wrapped layer recording spans; (wall, out) or None."""
    tracer = run.tracer = run.tracer or Tracer(run.spark)
    for mod, attr in WRAPPED:
        tracer.wrap(importlib.import_module(mod), attr, f"{mod.split('.')[-1]}.{attr}")
    try:
        with tracer.span(name):
            res = run.attempt(wl.op, buckets)
    finally:
        tracer.unwrap()
    if res is not None:
        run.record(run.verify(wl.check, res[1], buckets))
    return res


def _under(tracer: Tracer, root: int, name: str) -> list[int]:
    return [i for i in tracer.descendants(root) if tracer.spans[i].name == name]


def checkpoint_metrics(tracer: Tracer, root: int, input_rows: int) -> dict:
    """Commit calls, their Spark jobs, and how often the input was scanned.

    In each commit's job group the first job is the bucket's write (it scans
    the input); any later job re-reads what was written to build the
    manifest statistics. Scans are counted in rows: Spark's ``inputBytes``
    misses reads made on the thread that feeds a Python runner."""
    commits = _under(tracer, root, "checkpoint.commit_bucket")
    n_jobs = 0
    scan = reread = 0.0
    for i in commits:
        jobs = tracer.jobs(i)
        n_jobs += len(jobs)
        if jobs:
            scan += tracer.stage_metrics(tracer.stage_ids(jobs[:1]))["input_rows"]
            reread += tracer.stage_metrics(tracer.stage_ids(jobs[1:]))["input_bytes"]
    return {
        "checkpoint.commit_calls": len(commits),
        "checkpoint.commit_s": sum(tracer.spans[i].duration for i in commits),
        "checkpoint.spark_jobs": n_jobs,
        "checkpoint.stats_reread_bytes": reread,
        "checkpoint.scan_amplification": stats.scan_amplification(scan, input_rows),
    }


def engine_metrics(run, tracer: Tracer, root: int) -> dict:
    """Engine totals over every Spark job under span ``root``."""
    wall = tracer.spans[root].duration
    tot = tracer.metrics_for(root)
    return {
        "spark.busy_share": tot["run_s"] / (wall * run.cores),
        "spark.gc_s": tot["gc_s"],
        "spark.spill_bytes": tot["mem_spill_bytes"] + tot["disk_spill_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "io.scan_rows": tot["input_rows"],
        "io.write_bytes": tot["output_bytes"],
        "job.self_s": tracer.self_time(root),
    }


def job_layers(run, wl, out: str) -> dict:
    tracer = run.tracer
    root = tracer.named("rollup_job.main")[-1]
    m = checkpoint_metrics(tracer, root, wl.n_docs)
    m.update(engine_metrics(run, tracer, root))
    m.update(
        {
            "io.files_written": gate.parquet_files(os.path.join(out, "data"))
            + gate.parquet_files(os.path.join(out, "compressed")),
            "io.write_table_s": sum(tracer.spans[i].duration for i in _under(tracer, root, "io.write_table")),
            "io.store_bytes_per_token": wl.store_bytes(out) / wl.tokens,
        }
    )
    rows = {k: 0 for k in (1, 2, 3)}
    for p in glob.glob(os.path.join(out, "_manifests", "*.json")):
        with open(p) as f:
            for k, t in json.load(f)["tiers"].items():
                rows[int(k)] += t["rows"]
    m.update({f"rollup.rows_out.t{k}": v for k, v in rows.items()})
    # the job never calls the query registry
    for q in QUERIES:
        m.update({f"q.{q}.{s}": 0 for s in ("wall_s", "task_cpu_s", "shuffle_bytes", "stages")})
    return m


def _timed(tracer: Tracer, name: str, fn) -> tuple[float, dict]:
    with tracer.span(name) as i:
        fn()
    return tracer.spans[i].duration, tracer.metrics_for(i)


def codec_metrics(tracer: Tracer, spark, tiers_path: str, segs_path: str) -> dict:
    """Standalone encode and decode replays over stored tiers and segments."""
    from crossai_ts_spark.functions.codecs import compress_tiers, decompress_tiers

    enc_s, _ = _timed(tracer, "replay.compress_tiers", lambda: noop(compress_tiers(spark.read.parquet(tiers_path))))
    dec_s, _ = _timed(tracer, "replay.decompress_tiers", lambda: noop(decompress_tiers(spark.read.parquet(segs_path))))
    t = ds.dataset(segs_path, format="parquet", partitioning="hive").to_table(["n_points", "ts_blob", "val_blob"])
    blob = sum(len(b) for col in ("ts_blob", "val_blob") for b in t.column(col).to_pylist())
    points = sum(t.column("n_points").to_pylist())
    return {
        "codecs.compress_s": enc_s,
        "codecs.decode_s": dec_s,
        "codecs.segments": t.num_rows,
        "codecs.bytes_per_point": blob / points,
    }


def job_replays(run, wl, out: str) -> dict:
    """Cascade, encode and decode alone, over the job's input and output."""
    from crossai_ts_spark.operators.rollup import cascade
    from crossai_ts_spark.sources.io import read_sequences

    spark, tracer = run.spark, run.tracer
    cas_s, cas = _timed(
        tracer, "replay.cascade", lambda: noop(cascade(read_sequences(spark, wl.input), strategy=JOB_STRATEGY))
    )
    m = {"rollup.cascade_s": cas_s, "rollup.task_cpu_s": cas["cpu_s"]}
    m.update(codec_metrics(tracer, spark, os.path.join(out, "data"), os.path.join(out, "compressed")))
    return m


def overhead(pairs) -> tuple[float, list[float]] | None:
    """Median of traced ÷ untraced wall over adjacent ``(untraced, traced)``
    pairs of callables, and the untraced walls. The pairs alternate their
    order (untraced first, then traced first), so a drift in the host's
    speed or a warm-up still under way pushes some ratios up and others
    down. Each callable returns its wall seconds, or None if it failed."""
    ratios, plain = [], []
    for i, (untraced, traced) in enumerate(pairs):
        first, second = (untraced, traced) if i % 2 == 0 else (traced, untraced)
        a = first()
        b = second() if a is not None else None
        if b is None:
            return None
        u, t = (a, b) if i % 2 == 0 else (b, a)
        ratios.append(t / u)
        plain.append(u)
    return statistics.median(ratios), plain


def single_bucket(run, wl) -> dict:
    """The job at ``--buckets 1``, warm: its checkpoint counts, the tracing
    overhead, and local[1] against local[cores]."""

    def untraced():
        r = run.attempt(wl.op, 1)
        if r is None:
            return None
        run.record(run.verify(wl.check, r[1], 1))
        shutil.rmtree(r[1], ignore_errors=True)
        return r[0]

    def traced():
        r = traced_job(run, wl, buckets=1, name="rollup_job.main.single")
        if r is None:
            return None
        shutil.rmtree(r[1], ignore_errors=True)
        return r[0]

    res = overhead([(untraced, traced)] * OVERHEAD_PAIRS)
    if res is None:
        return {}
    ratio, plain = res
    ck = checkpoint_metrics(run.tracer, run.tracer.named("rollup_job.main.single")[-1], wl.n_docs)
    base = statistics.median(plain)
    run.spark = engine.restart(run.spark, run.work, "local[1]")
    warm = untraced()  # discarded: the first run in a new context is the slowest
    one = untraced() if warm is not None else None
    if one is None:
        return {}
    run.say(
        f"single bucket: local[{run.cores}] untraced {', '.join(f'{x:.3f}' for x in plain)} s, "
        f"traced/untraced median {ratio:.4f}; local[1] {warm:.3f} (warm-up), {one:.3f} s"
    )
    return {
        "checkpoint.single.commit_calls": ck["checkpoint.commit_calls"],
        "checkpoint.single.scan_amplification": ck["checkpoint.scan_amplification"],
        "trace.overhead_ratio": ratio,
        "spark.scaling_eff_1to4": one / (run.cores * base),
    }


def query_replays(run, wl) -> tuple[dict, float]:
    """Rollup and codec layers as the token queries use them, each alone."""
    from crossai_ts_spark.entry_queries import load
    from crossai_ts_spark.functions.codecs import compress_tiers
    from crossai_ts_spark.operators.rollup import cascade_native
    from crossai_ts_spark.sources.tokenize import tokenize_documents

    spark, tracer = run.spark, run.tracer

    def tiers():
        return cascade_native(tokenize_documents(load(spark, wl.data, "documents")), **wl.cascade_kw)

    t0 = time.perf_counter()
    cas_s, cas = _timed(tracer, "replay.cascade", lambda: noop(tiers()))
    m = {"rollup.cascade_s": cas_s, "rollup.task_cpu_s": cas["cpu_s"]}
    counts = {r["tier"]: r["count"] for r in tiers().groupBy("tier").count().collect()}
    m.update({f"rollup.rows_out.t{k}": counts.get(k, 0) for k in (1, 2, 3)})
    rep = os.path.join(run.work, "replay")
    tiers_path, segs_path = os.path.join(rep, "tiers"), os.path.join(rep, "segs")
    tiers().write.mode("overwrite").parquet(tiers_path)
    compress_tiers(spark.read.parquet(tiers_path)).write.mode("overwrite").parquet(segs_path)
    m.update(codec_metrics(tracer, spark, tiers_path, segs_path))
    return m, time.perf_counter() - t0


def query_layers(run, wl) -> dict:
    """The cold pass traced (one span and job group per query); warm runs of
    each query for the tracing overhead; the layer replays at local[cores]
    and local[1]."""
    tracer = run.tracer = Tracer(run.spark)
    with tracer.span("query_mix.pass") as root:
        wl.run_pass(run, run.spark, tracer)
    m = engine_metrics(run, tracer, root)
    for q in wl.registry:
        i = tracer.named(f"q.{q}")[0]
        qm = tracer.metrics_for(i)
        m[f"q.{q}.wall_s"] = tracer.spans[i].duration
        m[f"q.{q}.task_cpu_s"] = qm["cpu_s"]
        m[f"q.{q}.shuffle_bytes"] = qm["shuffle_write_bytes"]
        m[f"q.{q}.stages"] = qm["stages"]

    # one pair per query: two warm passes' cost, where pairs of whole passes
    # would take the traced run near its time limit
    one = functools.partial(wl.run_query, run, run.spark)
    pairs = [(functools.partial(one, q), functools.partial(one, q, tracer)) for q in wl.registry]
    m["trace.overhead_ratio"], _ = overhead(pairs)
    # layers the query pass never calls
    m.update(
        {
            "checkpoint.commit_calls": 0,
            "checkpoint.commit_s": 0.0,
            "checkpoint.spark_jobs": 0,
            "checkpoint.stats_reread_bytes": 0,
            "checkpoint.scan_amplification": 0.0,
            "checkpoint.single.commit_calls": 0,
            "checkpoint.single.scan_amplification": 0.0,
            "io.files_written": 0,
            "io.write_table_s": 0.0,
            "io.store_bytes_per_token": 0.0,
        }
    )
    rep, many = query_replays(run, wl)
    m.update(rep)
    tracer.dump(spans_path(run))
    run.spark = engine.restart(run.spark, run.work, "local[1]")
    run.tracer = Tracer(run.spark)
    _, warm = query_replays(run, wl)  # discarded: the first replay in a new context is the slowest
    _, one = query_replays(run, wl)
    m["spark.scaling_eff_1to4"] = one / (run.cores * many)
    run.say(f"query replays: local[{run.cores}] {many:.3f} s, local[1] {warm:.3f} (warm-up), {one:.3f} s")
    return m
