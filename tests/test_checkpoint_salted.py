"""Checkpoint/resume protocol + salted-aggregation bitwise equality."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from crossai_ts_spark.operators.rollup import cascade_native
from crossai_ts_spark.operators.salted import (
    salted_source_stats,
    salted_tier_source_rollup,
    unsalted_source_stats,
)
from crossai_ts_spark.plans.checkpoint import (
    commit_bucket,
    completed_buckets,
    pending_buckets,
    with_bucket,
)


def test_salted_equals_unsalted(spark, tiny_df):
    a = salted_source_stats(tiny_df, n_salts=8).toPandas().sort_values("source").reset_index(drop=True)
    b = unsalted_source_stats(tiny_df).toPandas().sort_values("source").reset_index(drop=True)
    assert a[["source", "n_docs", "n_tokens", "min_len", "max_len"]].equals(
        b[["source", "n_docs", "n_tokens", "min_len", "max_len"]]
    )
    assert (a.mean_len.to_numpy().view(np.int64) == b.mean_len.to_numpy().view(np.int64)).all()


def test_salted_tier_rollup_invariance(spark, tiny_df):
    tiers = cascade_native(tiny_df, w=64, fanout=8, tiers=2)
    a = salted_tier_source_rollup(tiers, n_salts=4).toPandas()
    b = salted_tier_source_rollup(tiers.repartition(11), n_salts=16).toPandas()
    key = ["source", "tier", "window_start"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    for c in ["t_min", "t_max", "t_sum", "t_cnt", "n_docs"]:
        assert a[c].tolist() == b[c].tolist(), c
    assert (a.t_mean.to_numpy().view(np.int64) == b.t_mean.to_numpy().view(np.int64)).all()


def test_checkpoint_commit_and_resume(spark, tiny_df, tmp_path):
    out = str(tmp_path / "rollup_out")
    n_buckets = 4
    tiers = with_bucket(cascade_native(tiny_df, w=64, fanout=8, tiers=2), n_buckets)

    # commit buckets 0 and 2 only, from one write
    ms = commit_bucket(tiers, out, [0, 2], "test-input")
    assert sorted(ms) == [0, 2]
    for b, m in ms.items():
        assert m["bucket"] == b
        assert m["tiers"]  # per-tier lineage metrics present
        for t in m["tiers"].values():
            assert t["rows"] > 0 and t["tokens"] > 0

    assert completed_buckets(out) == {0, 2}
    assert pending_buckets(out, n_buckets) == [1, 3]
    assert sorted(os.listdir(os.path.join(out, "data"))) == ["bucket=0", "bucket=2"]
    assert not os.path.exists(os.path.join(out, "_tmp"))

    # manifests are valid JSON with lineage fields
    with open(os.path.join(out, "_manifests", "0.json")) as f:
        m0 = json.load(f)
    assert m0["input_snapshot"] == "test-input"
    assert m0["code_version"]
    assert m0 == ms[0]

    # re-commit of an already-done bucket is idempotent
    again = commit_bucket(tiers, out, [0], "test-input")
    assert again[0]["tiers"] == ms[0]["tiers"]
    assert completed_buckets(out) == {0, 2}

    # committed data is readable, tier-partitioned, and not duplicated
    back = spark.read.parquet(f"{out}/data")
    assert back.filter(F.col("tier") == 1).count() > 0
    assert back.count() == sum(t["rows"] for m in ms.values() for t in m["tiers"].values())

    # a write of no rows at all still commits, with empty tiers
    assert commit_bucket(tiers.filter(F.lit(False)), out, [3], "test-input")[3]["tiers"] == {}
    assert pending_buckets(out, n_buckets) == [1]


def test_commit_bucket_uri_guard(spark, tiny_df, tmp_path):
    """Remote schemes rejected; file:// and Hadoop-style file:/ both land in
    the same local directory instead of a relative './file:...' dir."""
    tiers = with_bucket(cascade_native(tiny_df, w=64, fanout=8, tiers=1), 2)
    for bad in ("hdfs://nn/x", "s3a://bucket/x", "hdfs:/x"):
        with pytest.raises(ValueError, match="driver-local"):
            commit_bucket(tiers, bad, [0], "t")
    out = str(tmp_path / "uri_out")
    commit_bucket(tiers, f"file://{out}", [0], "t")
    commit_bucket(tiers, f"file:{out}", [1], "t")  # single-slash Hadoop form
    assert completed_buckets(out) == {0, 1}
    assert not os.path.exists("file:")  # no relative junk dir


def _rollup_main():
    """``jobs/rollup_job.py``'s main() from this checkout."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.rollup_job import main

    return main


def _manifests(out: str) -> dict[int, dict]:
    mdir = os.path.join(out, "_manifests")
    ms = []
    for name in os.listdir(mdir):
        with open(os.path.join(mdir, name)) as f:
            ms.append(json.load(f))
    return {m["bucket"]: m for m in ms}


JOB_ARGS = ["--w", "64", "--fanout", "8", "--tiers", "2", "--master", "local[4]"]


def test_rollup_job_end_to_end(spark, tmp_path):
    """Drive jobs/rollup_job.py's main() incl. resume skipping."""
    main = _rollup_main()

    out = str(tmp_path / "job_out")
    rc = main(
        [
            "--input", "synthetic:40", "--out", out, "--buckets", "3",
            "--w", "64", "--fanout", "8", "--tiers", "2",
            "--strategy", "pandas", "--compress", "--master", "local[4]",
        ]
    )
    assert rc == 0
    assert completed_buckets(out) == {0, 1, 2}
    segs = spark.read.parquet(f"{out}/compressed")
    assert segs.count() > 0
    # resume: nothing pending -> runs zero buckets, still exits 0
    rc = main(["--input", "synthetic:40", "--out", out, "--buckets", "3", "--resume",
               "--w", "64", "--fanout", "8", "--tiers", "2", "--master", "local[4]"])
    assert rc == 0


def test_rollup_job_crash_between_write_and_commits(spark, tmp_path, monkeypatch):
    """A job killed after the shared write, with k of B buckets committed,
    resumes to the output of a clean run: the stale write is cleared, every
    bucket gets a manifest, and no tier row is lost or duplicated."""
    from crossai_ts_spark.plans import checkpoint

    main = _rollup_main()
    argv = ["--input", "synthetic:40", "--buckets", "4", *JOB_ARGS]
    clean, out = str(tmp_path / "clean"), str(tmp_path / "crashed")
    assert main([*argv, "--out", clean]) == 0

    real = checkpoint.write_manifest
    written = []

    def dies_after_two(out_dir, bucket, payload):
        if len(written) == 2:
            raise RuntimeError("killed between the write and the commits")
        written.append(bucket)
        real(out_dir, bucket, payload)

    monkeypatch.setattr(checkpoint, "write_manifest", dies_after_two)
    with pytest.raises(RuntimeError, match="killed"):
        main([*argv, "--out", out])
    monkeypatch.undo()
    assert completed_buckets(out) == set(written) and len(written) == 2
    assert os.path.isdir(os.path.join(out, "_tmp"))  # the dead run's write

    assert main([*argv, "--out", out, "--resume"]) == 0
    assert not os.path.exists(os.path.join(out, "_tmp"))
    assert completed_buckets(out) == {0, 1, 2, 3}

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(f"{path}/data").collect())

    assert rows(out) == rows(clean)
    tiers = {b: m["tiers"] for b, m in _manifests(out).items()}
    assert tiers == {b: m["tiers"] for b, m in _manifests(clean).items()}


def test_rollup_job_empty_buckets(spark, tmp_path, capsys):
    """Buckets no doc hashes to still commit, with empty tiers, so resume
    skips them; the compressed output is still written."""
    main = _rollup_main()
    out = str(tmp_path / "job_out")
    argv = ["--input", "synthetic:2", "--out", out, "--buckets", "8", "--compress", *JOB_ARGS]
    assert main(argv) == 0
    mans = _manifests(out)
    assert sorted(mans) == list(range(8))
    full = {b for b, m in mans.items() if m["tiers"]}
    assert 1 <= len(full) <= 2  # two docs fill at most two buckets
    assert all(mans[b]["tiers"] == {} for b in set(mans) - full)
    assert spark.read.parquet(f"{out}/compressed").count() > 0

    capsys.readouterr()
    assert main([*argv, "--resume"]) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["buckets_run"] == 0


def test_rollup_job_spark_jobs_independent_of_buckets(spark, tmp_path):
    """The job launches as many Spark jobs at 8 buckets as at 1: a pipeline
    per bucket would scale them with the bucket count."""
    main = _rollup_main()
    sc = spark.sparkContext
    jobs = {}
    for n in (1, 8):
        group = f"rollup_job_buckets_{n}"
        sc.setJobGroup(group, group)
        try:
            argv = ["--input", "synthetic:40", "--out", str(tmp_path / f"b{n}"), "--buckets", str(n)]
            assert main([*argv, "--compress", *JOB_ARGS]) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[1] > 0
    assert jobs[8] == jobs[1], jobs


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Tables bucketed on doc_id join WITHOUT a shuffle: the physical plan
    must contain no Exchange (the 100-TB lineage/audit join pattern)."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.datagen import gen_local
    from crossai_ts_spark.operators.rollup import rollup_native
    from crossai_ts_spark.plans.bucketing import bucketed_join, write_bucketed
    from crossai_ts_spark.schema import SEQUENCES_SCHEMA

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        docs = gen_local(seed=5, n_docs=30, max_tok=600)
        seqs = spark.createDataFrame(docs, schema=SEQUENCES_SCHEMA)
        t1 = rollup_native(seqs, w=64).select("doc_id", "window_start", "t_sum", "t_cnt")
        agg = t1.groupBy("doc_id").agg(F.sum("t_cnt").alias("n_tok_total"))
        write_bucketed(t1, "bt_tier1", n_buckets=4)
        write_bucketed(agg, "bt_doc_totals", n_buckets=4)
        j = bucketed_join(spark, "bt_tier1", "bt_doc_totals")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the join result is right
        got = j.groupBy("doc_id").agg(F.sum("t_cnt").alias("s"), F.first("n_tok_total").alias("t"))
        bad = got.filter(F.col("s") != F.col("t")).count()
        assert bad == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_tier1")
        spark.sql("DROP TABLE IF EXISTS bt_doc_totals")
