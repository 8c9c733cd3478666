"""Correctness gate, run outside every timed region.

Each check returns a list of failure strings; an empty list means the
output is correct. Job outputs are read straight from disk with pyarrow,
so the gate does not depend on the Spark session that produced them.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

TIER_COLS = ["tier", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last", "t_mean"]


def tier_width(k: int, w: int, fanout: int) -> int:
    return w * fanout ** (k - 1)


def _read(path: str, columns: list[str] | None = None, flt=None) -> pd.DataFrame:
    d = ds.dataset(path, format="parquet", partitioning="hive")
    return d.to_table(columns=columns, filter=flt).to_pandas()


def check_manifests(out: str, buckets: int, n_tok: np.ndarray, w: int, fanout: int, tiers: int) -> list[str]:
    """Every bucket committed; per tier, tokens and rows add up to the input's."""
    fails = []
    mans = []
    for b in range(buckets):
        p = os.path.join(out, "_manifests", f"{b}.json")
        if not os.path.isfile(p):
            fails.append(f"bucket {b}: no manifest")
            continue
        with open(p) as f:
            mans.append(json.load(f))
    if fails:
        return fails
    n_tok = np.asarray(n_tok, dtype=np.int64)
    n_tok = n_tok[n_tok > 0]
    for k in range(1, tiers + 1):
        rows = sum(m["tiers"].get(str(k), {}).get("rows", 0) for m in mans)
        toks = sum(m["tiers"].get(str(k), {}).get("tokens", 0) for m in mans)
        want_rows = int((-(-n_tok // tier_width(k, w, fanout))).sum())
        if toks != int(n_tok.sum()):
            fails.append(f"tier {k}: manifest tokens {toks} != input tokens {int(n_tok.sum())}")
        if rows != want_rows:
            fails.append(f"tier {k}: manifest rows {rows} != expected {want_rows}")
    return fails


def _bits(x) -> np.ndarray:
    return np.ascontiguousarray(np.asarray(x, dtype=np.float64)).view(np.uint64)


def check_sample(out: str, docs: pd.DataFrame, w: int, fanout: int, tiers: int) -> list[str]:
    """Stored tier rows of ``docs`` equal the numpy oracle bit for bit."""
    from crossai_ts_spark.oracle.rollup import cascade_oracle

    want = cascade_oracle(docs, w=w, fanout=fanout, tiers=tiers)
    got = _read(
        os.path.join(out, "data"),
        ["doc_id", "source", *TIER_COLS],
        ds.field("doc_id").isin(list(docs["doc_id"])),
    )
    fails = []
    for doc_id, exp in want.groupby("doc_id", sort=False):
        g = got[got["doc_id"] == doc_id].sort_values(["tier", "window_start"]).reset_index(drop=True)
        exp = exp.sort_values(["tier", "window_start"]).reset_index(drop=True)
        if len(g) != len(exp):
            fails.append(f"{doc_id}: {len(g)} stored rows != {len(exp)} oracle rows")
            continue
        for c in TIER_COLS[:-1]:
            if not np.array_equal(g[c].to_numpy(np.int64), exp[c].to_numpy(np.int64)):
                fails.append(f"{doc_id}: column {c} differs from the oracle")
        if not np.array_equal(_bits(g["t_mean"]), _bits(exp["t_mean"])):
            fails.append(f"{doc_id}: t_mean bits differ from the oracle")
        if (g["source"] != exp["source"]).any():
            fails.append(f"{doc_id}: source differs from the oracle")
    return fails


def check_segments(out: str) -> list[str]:
    """Every compressed segment decodes to the stored t_mean, bit for bit."""
    from crossai_ts_spark.functions.codecs import dod_decode, gorilla_decode

    segs = _read(os.path.join(out, "compressed"), ["doc_id", "tier", "n_points", "ts_blob", "val_blob"])
    rows = _read(os.path.join(out, "data"), ["doc_id", "tier", "window_start", "t_mean"])
    rows = rows.sort_values(["doc_id", "tier", "window_start"], kind="stable")
    groups = {k: g for k, g in rows.groupby(["doc_id", "tier"], sort=False)}
    fails = []
    if len(segs) != len(groups):
        fails.append(f"{len(segs)} segments != {len(groups)} (doc, tier) groups")
    for seg in segs.itertuples(index=False):
        key = (seg.doc_id, int(seg.tier))
        g = groups.get(key)
        if g is None:
            fails.append(f"segment {key}: no stored rows")
            continue
        offs = dod_decode(bytes(seg.ts_blob))
        vals = gorilla_decode(bytes(seg.val_blob))
        if seg.n_points != len(g) or len(offs) != len(g) or len(vals) != len(g):
            fails.append(f"segment {key}: {len(vals)} points != {len(g)} stored rows")
        elif not np.array_equal(offs, g["window_start"].to_numpy(np.int64)):
            fails.append(f"segment {key}: offsets differ from window_start")
        elif not np.array_equal(_bits(vals), _bits(g["t_mean"])):
            fails.append(f"segment {key}: values differ from t_mean bits")
        if len(fails) > 20:
            break
    return fails


def sample_docs(seq: pd.DataFrame, seed: int, k: int = 8) -> pd.DataFrame:
    """A seeded sample of docs, always including the longest and the shortest."""
    rng = np.random.default_rng([seed, 99])
    pick = set(rng.choice(len(seq), size=min(k, len(seq)), replace=False).tolist())
    pick |= {int(seq["n_tok"].idxmax()), int(seq["n_tok"].idxmin())}
    return seq.iloc[sorted(pick)].reset_index(drop=True)


def check_job(out: str, buckets: int, seq_meta: pd.DataFrame, sample: pd.DataFrame,
              w: int = 64, fanout: int = 64, tiers: int = 3) -> list[str]:
    fails = check_manifests(out, buckets, seq_meta["n_tok"].to_numpy(), w, fanout, tiers)
    if fails:
        return fails
    return check_sample(out, sample, w, fanout, tiers) + check_segments(out)


# ------------------------------------------------------------ query hashes


def result_key(pdf: pd.DataFrame) -> dict:
    """Row count, columns and canonical hash, by the rule of
    ``tools/check_oracle.py`` (its directory must be on ``sys.path``)."""
    from check_oracle import canon_hash, normalize

    pdf = normalize(pdf)
    return {"rows": len(pdf), "cols": sorted(pdf.columns), "hash": canon_hash(pdf)}


def check_query(name: str, got: dict, want: dict) -> list[str]:
    return [f"{name}: {k} {got[k]!r} != oracle {want[k]!r}" for k in ("rows", "cols", "hash") if got[k] != want[k]]


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def parquet_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
