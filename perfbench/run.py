"""Benchmark of the rollup engine: the checkpointed job and a query mix.

    python3 perfbench/run.py --workload job_fresh --seed 1 --seconds 30 --trace 0

Run from the repository root. One driver process, one JVM at
``local[<cores>]``, one client in a closed loop. The run builds its inputs
from ``--seed``, checks every output outside the timed regions, prints a
human-readable report and, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the traced variant and reports
the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import engine  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

# set-ups per run, each launching its own JVM (~7 s on 4 cores); setup_s is
# their median. A third would add ~7 s to every run (README, "Run cost").
SETUP_REPS = 2

# workload -> constructor arguments (sizes fit the run budget on 4 cores)
JOB_DOCS = 1000
QUERY_SIZES = dict(n_docs=300, n_vecs=300, n_events=8000, n_users=150, days=1)


def _describe(name: str, e: Exception) -> str:
    traceback.print_exc(file=sys.stderr)
    return f"{name}: {type(e).__name__}: {e}"[:300]


class Run:
    """Counters and report lines of one benchmark run."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.lines: list[str] = []
        self.spark = None
        self.tracer = None

    def record(self, fails: list[str]) -> bool:
        self.attempted += 1
        if fails:
            self.failed += 1
            self.failures += fails[:5]
        return not fails

    def attempt(self, fn, *a, name: str | None = None, **kw):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*a, **kw)
        except Exception as e:  # an operation that raises is a failure, not a crash
            self.record([_describe(name or fn.__name__, e)])
            return None

    def verify(self, check, *a) -> list[str]:
        """Failures a check reports; a check that raises reports one."""
        try:
            return check(*a)
        except Exception as e:  # a gate that cannot read the output fails it
            return [_describe(check.__name__, e)]

    def say(self, line: str) -> None:
        self.lines.append(line)

    # ------------------------------------------------------------ set-up

    def setup(self, wl, reps: int) -> list[float]:
        """Build and fingerprint the inputs, launch the JVM and start the
        session, ``reps`` times; each set-up after the first replaces the
        previous JVM (stopped outside the timing)."""
        times = []
        for _ in range(reps):
            if self.spark is not None:
                engine.shutdown()
            t0 = time.perf_counter()
            fp = wl.build(self.args.seed)
            self.spark = engine.start(self.work)
            times.append(time.perf_counter() - t0)
        self.say(f"inputs: {json.dumps(fp, sort_keys=True)}")
        self.say(stats.describe("setup_s", "s", times))
        return times


# ================================================================ job workload
# One operation per run: the first job in a fresh JVM, as each
# ``spark-submit jobs/rollup_job.py`` runs it.


def job_untraced(run: Run, wl) -> dict:
    setup = run.setup(wl, SETUP_REPS)
    t0 = time.perf_counter()
    res = run.attempt(wl.op)
    wall = time.perf_counter() - t0 if res is None else res[0]
    if res is not None:
        out = res[1]
        run.record(run.verify(wl.check, out))
        run.say(f"store_bytes_per_token: {wl.store_bytes(out) / wl.tokens:.4f} bytes")
        shutil.rmtree(out, ignore_errors=True)
    run.say(f"op_s (one job run, first in the JVM): {wall:.4f} s (n=1)")
    run.say(f"job_tokens_per_s: {wl.tokens / wall:.1f} tok/s over {wl.tokens} tokens")
    return {"setup_s": stats.summarize(setup)["median"], "op_s": wall, "tokens_per_s": wl.tokens / wall}


def job_traced(run: Run, wl) -> dict:
    """The same cold run with every layer traced, then replays and a
    single-bucket reference."""
    run.setup(wl, 1)
    traced = layers.traced_job(run, wl)
    if traced is None:
        return {}
    out = traced[1]
    m = layers.job_layers(run, wl, out)
    m.update(layers.job_replays(run, wl, out))
    shutil.rmtree(out, ignore_errors=True)
    m.update(layers.single_bucket(run, wl))
    m["spark.jvm_peak_rss_mb"] = engine.peak_rss_mb(engine.jvm_pid())
    run.tracer.dump(layers.spans_path(run))
    return m


# =========================================================== query workload
# One operation per run: the first pass over the queries in a fresh JVM.


def query_setup(run: Run, wl, reps: int) -> list[float]:
    setup = run.setup(wl, reps)
    t0 = time.perf_counter()
    wl.oracle()
    run.say(f"oracle_s (DuckDB, once): {time.perf_counter() - t0:.3f} s")
    return setup


def query_untraced(run: Run, wl) -> dict:
    setup = query_setup(run, wl, SETUP_REPS)
    walls = wl.run_pass(run, run.spark)
    op_s = sum(walls.values())
    run.say(f"query_mix_s (one pass, first in the JVM): {op_s:.4f} s (n=1)")
    for q, dt in walls.items():
        run.say(f"q.{q}_s: {dt:.4f} s (n=1)")
    return {"setup_s": stats.summarize(setup)["median"], "op_s": op_s, "tokens_per_s": wl.tokens / op_s}


def query_traced(run: Run, wl) -> dict:
    """The same cold pass with one span per query, then overhead and replays."""
    query_setup(run, wl, 1)
    m = layers.query_layers(run, wl)
    m["spark.jvm_peak_rss_mb"] = engine.peak_rss_mb(engine.jvm_pid())
    return m


# ===================================================================== main


def build_workload(name: str, work: str):
    if name == "job_fresh":
        return workloads.Job(ROOT, work, n_docs=JOB_DOCS, buckets=16)
    if name == "query_mix":
        return workloads.QueryMix(work, **QUERY_SIZES)
    raise ValueError(name)


FLOWS = {
    ("job_fresh", 0): job_untraced,
    ("job_fresh", 1): job_traced,
    ("query_mix", 0): query_untraced,
    ("query_mix", 1): query_traced,
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted({w for w, _ in FLOWS}))
    ap.add_argument("--seed", type=int, required=True)
    # a run measures one cold operation, which outlasts --seconds as set in
    # BENCHMARK.json (run_seconds); see README
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    program = [
        os.path.join(ROOT, *p)
        for p in (("crossai_ts_spark", "__init__.py"), ("jobs", "rollup_job.py"), ("tools", "check_oracle.py"))
    ]
    missing = [p for p in program if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: program not found next to the benchmark: {missing}", file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["end_to_end" if args.trace == 0 else "per_layer"]}
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"work-{os.getpid()}")
    run = Run(args, work)
    engine.prepare_env(ROOT, work, run.cores)
    # the package, and tools/ for the oracle hashing rule
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        wl = build_workload(args.workload, work)
        metrics = FLOWS[(args.workload, args.trace)](run, wl)
    finally:
        try:
            engine.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    missing = [k for k in wanted if k not in metrics]
    for line in run.lines:
        print(line)
    for f in run.failures:
        print(f"FAILED {f}")
    ratio = run.failed / max(1, run.attempted)
    print(f"ops_failed_ratio: {ratio:.4f} ({run.failed} of {run.attempted} operations)")
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    for k, unit in wanted.items():
        print(f"{k}: {metrics[k]:.6g} {unit}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": unit} for k, unit in wanted.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
