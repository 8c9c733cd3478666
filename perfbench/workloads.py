"""The benchmark's workloads: what one operation is, and how it is checked.

* :class:`Job`: one ``jobs/rollup_job.py`` run (``main()``, defaults plus
  ``--compress``) into a fresh output directory over a seeded parquet table.
* :class:`QueryMix`: one serial pass over eight oracled registry queries,
  each result collected to the driver and checked against DuckDB.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa

import gate
import inputs

QUERIES = [
    "substring_dedup_keepfirst",
    "dedup_clusters",
    "compressed_tiers",
    "decontamination",
    "cms_counts",
    "ivf_ann",
    "gapfill_linear",
    "rollup_source_windows",
]


def load_rollup_job(root: str):
    spec = importlib.util.spec_from_file_location("rollup_job", os.path.join(root, "jobs", "rollup_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Job:
    """The checkpointed rollup job, as ``spark-submit jobs/rollup_job.py`` runs it."""

    w, fanout, tiers = 64, 64, 3

    def __init__(self, root: str, work: str, n_docs: int, buckets: int):
        self.work = work
        self.n_docs, self.buckets = n_docs, buckets
        self.input = os.path.join(work, "in", "sequences")
        self.rollup_job = load_rollup_job(root)
        self.runs = 0

    def build(self, seed: int) -> dict:
        shutil.rmtree(self.input, ignore_errors=True)
        table = inputs.sequences_table(seed, self.n_docs)
        self.input_bytes = inputs.write(table, self.input, n_files=8)
        self.meta = table.select(["doc_id", "n_tok", "source"]).to_pandas()
        self.tokens = int(self.meta["n_tok"].sum())
        pick = self.meta["doc_id"].isin(set(gate.sample_docs(self.meta, seed)["doc_id"]))
        self.sample = table.filter(pa.array(pick.to_numpy())).to_pandas()
        return {"sequences": inputs.fingerprint(table), "input_bytes": self.input_bytes}

    def op(self, buckets: int | None = None) -> tuple[float, str]:
        """Run the job once into a fresh output dir; returns (wall seconds, out dir)."""
        self.runs += 1
        out = os.path.join(self.work, "out", f"run{self.runs}")
        argv = ["--input", self.input, "--out", out, "--buckets", str(buckets or self.buckets), "--compress"]
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            self.rollup_job.main(argv)
        return time.perf_counter() - t0, out

    def check(self, out: str, buckets: int | None = None) -> list[str]:
        return gate.check_job(out, buckets or self.buckets, self.meta, self.sample, self.w, self.fanout, self.tiers)

    def store_bytes(self, out: str) -> int:
        return gate.parquet_bytes(os.path.join(out, "data")) + gate.parquet_bytes(os.path.join(out, "compressed"))


class QueryMix:
    """One serial pass over the oracled queries."""

    # how the registry's token queries cascade (w=32, fanout=8)
    cascade_kw = dict(w=32, fanout=8, tiers=3)

    def __init__(self, work: str, n_docs: int, n_vecs: int, n_events: int, n_users: int, days: int):
        self.sizes = (n_docs, n_vecs, n_events, n_users, days)
        self.data = os.path.join(work, "in", "sf")
        from crossai_ts_spark.entry_queries import REGISTRY

        self.registry = {q: REGISTRY[q] for q in QUERIES}

    def build(self, seed: int) -> dict:
        n_docs, n_vecs, n_events, n_users, days = self.sizes
        shutil.rmtree(self.data, ignore_errors=True)
        tables = {
            "documents": inputs.documents_table(seed, n_docs),
            "embeddings": inputs.embeddings_table(seed, n_vecs),
            "events": inputs.events_table(seed, n_events, n_users, days),
        }
        fp = {}
        self.input_bytes = 0
        for name, t in tables.items():
            self.input_bytes += inputs.write(t, os.path.join(self.data, f"{name}.parquet"))
            fp[name] = inputs.fingerprint(t)
        # the token queries tokenize every document: one token per character
        self.tokens = int(np.asarray(tables["documents"].column("n_chars")).sum())
        return {**fp, "input_bytes": self.input_bytes}

    def oracle(self) -> None:
        """Each query's DuckDB ``oracle_sql()`` result key, computed once per run."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet/*.parquet')")
        self.expected = {q: gate.result_key(con.execute(sql).fetchdf()) for q, (_, sql) in self.registry.items()}
        con.close()

    def run_query(self, run, spark, q: str, tracer=None) -> float:
        """One query, its result collected to the driver and checked against
        the oracle afterwards. Only the query is timed (one that raises, up
        to the raise); a failure counts in ``run``. Returns seconds."""
        from crossai_ts_spark.caching import release_tracked

        fn = self.registry[q][0]
        with tracer.span(f"q.{q}") if tracer else contextlib.nullcontext():
            t0 = time.perf_counter()
            pdf = run.attempt(lambda: fn(spark, self.data).toPandas(), name=q)
            wall = time.perf_counter() - t0
        release_tracked()
        if pdf is not None:
            run.record(run.verify(self.check, q, pdf))
        return wall

    def run_pass(self, run, spark, tracer=None) -> dict[str, float]:
        """Every query once, in order; a failed query does not stop the pass."""
        return {q: self.run_query(run, spark, q, tracer) for q in self.registry}

    def check(self, q: str, pdf) -> list[str]:
        return gate.check_query(q, gate.result_key(pdf), self.expected[q])
