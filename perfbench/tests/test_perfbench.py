"""Tests of the benchmark's own arithmetic, inputs and correctness gate.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import gate  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402
from stats import Span  # noqa: E402

# ------------------------------------------------------------------ stats


def test_summarize_small_sample_has_no_percentile():
    s = stats.summarize([3.0, 1.0, 2.0, 5.0, 4.0])
    assert s == {"n": 5, "median": 3.0, "pct": None, "pct_value": None}


def test_summarize_reports_highest_supported_percentile():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    s = stats.summarize(xs)
    # p90 leaves 10 samples beyond it, p95 only 5
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["pct"] == 90.0 and s["pct_value"] == 90.0
    s = stats.summarize([float(i) for i in range(1, 1001)])
    assert s["pct"] == 99.0 and s["pct_value"] == 990.0


def test_describe_states_the_count():
    assert stats.describe("x", "s", [1.0, 2.0, 3.0]).endswith("(n=3)")
    with pytest.raises(ValueError):
        stats.summarize([])


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 5.0, parent=0),  # overlaps a: union 1..5
        Span("c", 7.0, 8.0, parent=0),
        Span("grandchild", 7.2, 7.8, parent=3),  # not a direct child of root
        Span("other", 20.0, 30.0),
    ]
    assert stats.self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert stats.self_time(spans, 3) == pytest.approx(1.0 - 0.6)
    assert stats.self_time(spans, 5) == pytest.approx(10.0)


def test_self_time_clips_children_to_parent():
    spans = [Span("root", 0.0, 2.0), Span("late", 1.5, 3.0, parent=0)]
    assert stats.self_time(spans, 0) == pytest.approx(1.5)


def test_scan_amplification():
    assert stats.scan_amplification(16 * 1000.0, 1000.0) == 16.0
    assert stats.scan_amplification(1000.0, 1000.0) == 1.0
    with pytest.raises(ValueError):
        stats.scan_amplification(1.0, 0)


def test_spread_matches_quartile_rule():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    import statistics

    q1, _, q3 = statistics.quantiles(vals, n=4)
    got = stats.spread(vals)
    assert got["spread"] == pytest.approx((q3 - q1) / statistics.median(vals))
    assert (got["n"], got["q1"], got["q3"]) == (10, q1, q3)


# ----------------------------------------------------------------- inputs


def test_inputs_are_a_function_of_the_seed():
    a = inputs.fingerprint(inputs.sequences_table(5, 60))
    assert a == inputs.fingerprint(inputs.sequences_table(5, 60))
    assert a != inputs.fingerprint(inputs.sequences_table(6, 60))
    for make in (inputs.documents_table, inputs.embeddings_table):
        assert inputs.fingerprint(make(5, 50)) == inputs.fingerprint(make(5, 50))
    ev = inputs.fingerprint(inputs.events_table(5, 500, 20, 1))
    assert ev == inputs.fingerprint(inputs.events_table(5, 500, 20, 1))


def test_doc_lengths_follow_the_stratified_mix():
    lens = inputs.doc_lengths(3, 1006)
    assert list(lens[:6]) == inputs.BOUNDARY
    body = lens[6:]
    assert (body < 2048).sum() == 800
    assert ((body >= 2048) & (body < 16384)).sum() == 150
    assert (body >= 16384).sum() == 50


# ------------------------------------------------------------------- gate

W, FANOUT, TIERS = 4, 4, 3


def _job_output(tmp_path, docs: pd.DataFrame, buckets: int = 2) -> str:
    """A job output directory as rollup_job lays it out, built from the oracle."""
    from crossai_ts_spark.functions.codecs import dod_encode, gorilla_encode
    from crossai_ts_spark.oracle.rollup import cascade_oracle

    out = str(tmp_path / "out")
    tiers = cascade_oracle(docs, w=W, fanout=FANOUT, tiers=TIERS)
    tiers["bucket"] = tiers["doc_id"].map({d: i % buckets for i, d in enumerate(docs["doc_id"])})
    for (b, k), g in tiers.groupby(["bucket", "tier"]):
        d = os.path.join(out, "data", f"bucket={b}", f"tier={k}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pandas(g.drop(columns=["bucket", "tier"]), preserve_index=False),
                       os.path.join(d, "part-0.parquet"))
    os.makedirs(os.path.join(out, "_manifests"))
    for b, g in tiers.groupby("bucket"):
        man = {"tiers": {str(k): {"rows": len(t), "tokens": int(t["t_cnt"].sum())} for k, t in g.groupby("tier")}}
        with open(os.path.join(out, "_manifests", f"{b}.json"), "w") as f:
            json.dump(man, f)
    for k, g in tiers.groupby("tier"):
        segs = [
            {"doc_id": doc, "source": s["source"].iloc[0], "n_points": len(s), "codec": "gorilla+dod/v1",
             "ts_blob": dod_encode(s["window_start"].to_numpy(np.int64)),
             "val_blob": gorilla_encode(s["t_mean"].to_numpy(np.float64))}
            for doc, s in g.sort_values("window_start").groupby("doc_id")
        ]
        d = os.path.join(out, "compressed", f"tier={k}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(segs), os.path.join(d, "part-0.parquet"))
    return out


@pytest.fixture
def docs():
    t = inputs.sequences_table(11, 12)
    # shrink the pinned 4096/65536-token docs: the tiny widths keep the test fast
    pdf = t.to_pandas()
    pdf["tokens"] = [np.asarray(x[:300], dtype=np.int32) for x in pdf["tokens"]]
    pdf["n_tok"] = [len(x) for x in pdf["tokens"]]
    return pdf


def test_gate_passes_a_correct_job_output(tmp_path, docs):
    out = _job_output(tmp_path, docs)
    assert gate.check_job(out, 2, docs, docs, W, FANOUT, TIERS) == []


def test_gate_reports_a_missing_manifest(tmp_path, docs):
    out = _job_output(tmp_path, docs)
    os.remove(os.path.join(out, "_manifests", "1.json"))
    assert gate.check_job(out, 2, docs, docs, W, FANOUT, TIERS) == ["bucket 1: no manifest"]


def test_gate_reports_a_wrong_manifest_total(tmp_path, docs):
    out = _job_output(tmp_path, docs)
    p = os.path.join(out, "_manifests", "0.json")
    man = json.load(open(p))
    man["tiers"]["1"]["rows"] += 1
    json.dump(man, open(p, "w"))
    fails = gate.check_job(out, 2, docs, docs, W, FANOUT, TIERS)
    assert len(fails) == 1 and fails[0].startswith("tier 1: manifest rows")


def test_gate_reports_a_single_flipped_t_mean_bit(tmp_path, docs):
    out = _job_output(tmp_path, docs)
    path = os.path.join(out, "data", "bucket=0", "tier=1", "part-0.parquet")
    t = pq.read_table(path).to_pandas()
    bits = t["t_mean"].to_numpy().copy().view(np.uint64)
    bits[3] ^= np.uint64(1)  # lowest mantissa bit of one row
    t["t_mean"] = bits.view(np.float64)
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False), path)
    doc = t["doc_id"].iloc[3]
    assert gate.check_segments(out) == [f"segment ({doc!r}, 1): values differ from t_mean bits"]
    assert f"{doc}: t_mean bits differ from the oracle" in gate.check_sample(out, docs, W, FANOUT, TIERS)


def test_query_gate_reports_a_wrong_hash():
    pdf = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    want = gate.result_key(pdf)
    assert gate.check_query("q", gate.result_key(pdf.iloc[::-1]), want) == []  # order-insensitive
    bad = pdf.assign(v=[0.5, np.nextafter(1.5, 2.0)])
    fails = gate.check_query("q", gate.result_key(bad), want)
    assert len(fails) == 1 and fails[0].startswith("q: hash")
