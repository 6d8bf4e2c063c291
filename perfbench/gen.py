"""Seeded input generator for the benchmark workloads.

Wraps ``synth.generate_transcripts`` with one input shape per workload
(see NOTES.md for why each shape was chosen), adds a seeded per-turn
numeric column (``tokens``) so value tiers and Gorilla value packing
run, and for ``ingest_refresh`` splits the corpus into time-ordered
ingest batches with a seeded share of late turns.

Inputs are written once per fingerprint (seed + shape + generator
source) under the work directory and reused; the program under test
only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from peakmatch_xcorr_spark import synth

# (n_convs, mean_rate) per size class: conversation count falls about
# 2.5-fold as per-bucket turn rate rises about as much, a zipf-like size
# skew.  Many small conversations, because the pair path grows with the
# square of their count (NOTES.md).
DEDUP_CLASSES = ((1000, 0.3), (400, 0.7), (160, 1.8), (60, 5.0))
DEDUP_DUP_PAIRS = (4, 3, 2, 1)

SHAPES = {
    "dedup_rollup": {
        "classes": DEDUP_CLASSES,
        "dup_pairs": DEDUP_DUP_PAIRS,
        "curve_len": 256,
        "turns": 150_000,
    },
    "tier_pack_downsample": {
        "n_convs": 16,
        "curve_len": 1440 + 720,
        "mean_rate": 1.5,
        "burst_count": 14,
        "gap_prob": 0.25,
        "turns": 130_000,
    },
    "ingest_refresh": {
        "n_convs": 24,
        "curve_len": 2 * 1440,
        "mean_rate": 0.2,
        "burst_count": 30,
        "gap_prob": 0.1,
        # a backfill of hours [0, 7) in one batch, then one batch per
        # hour up to hour 41, each hour thinned to the same turn count
        "hours": (7, 41),
        "batch_turns": 1_500,
        "late_share": 0.05,
    },
}

# tokens per turn by role: user prompts are short, assistant replies long
_TOKEN_MEAN = {"user": 40.0, "assistant": 180.0, "tool": 60.0}


def fingerprint(workload: str, seed: int) -> str:
    h = hashlib.sha256()
    h.update(json.dumps([workload, seed, SHAPES[workload]]).encode())
    h.update(inspect.getsource(synth).encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def _tokens(df: pd.DataFrame, seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 7])
    lam = df["role"].map(_TOKEN_MEAN).to_numpy(dtype=np.float64)
    return (1 + rng.poisson(lam)).astype(np.float64)


def _dedup_corpus(seed: int) -> tuple[pd.DataFrame, list[list[str]]]:
    shape = SHAPES["dedup_rollup"]
    frames, pairs = [], []
    last = len(shape["classes"]) - 1
    for c, ((n, rate), n_dup) in enumerate(zip(shape["classes"], shape["dup_pairs"])):
        conf = synth.SynthConf(
            n_convs=n, curve_len=shape["curve_len"], mean_rate=rate,
            n_dup_pairs=n_dup, giant_conv=c == last, seed=seed * 16 + c,
        )
        res = synth.generate_transcripts(conf)
        df = res.transcripts
        df["conv_id"] = f"z{c}-" + df["conv_id"]
        frames.append(df)
        pairs += [sorted([f"z{c}-{a}", f"z{c}-{b}"]) for a, b in res.dup_pairs]
    return pd.concat(frames, ignore_index=True), pairs


def _plain_corpus(workload: str, seed: int) -> pd.DataFrame:
    s = SHAPES[workload]
    conf = synth.SynthConf(
        n_convs=s["n_convs"], curve_len=s["curve_len"], mean_rate=s["mean_rate"],
        burst_count=s["burst_count"], gap_prob=s["gap_prob"], n_dup_pairs=0,
        giant_conv=False, seed=seed,
    )
    return synth.generate_transcripts(conf).transcripts


def fix_size(df: pd.DataFrame, turns: int, seed: int, keep=()) -> pd.DataFrame:
    """Drop a seeded random sample of turns so every seed yields the
    same input size (a seed that yields fewer turns keeps them all).
    Conversations in ``keep`` lose no turns, so planted near-duplicates
    stay as similar as the generator made them; ``turn_idx`` stays
    dense per conversation."""
    if len(df) > turns:
        rng = np.random.default_rng([seed, 13])
        droppable = np.flatnonzero(~df["conv_id"].isin(list(keep)).to_numpy())
        drop = rng.choice(droppable, len(df) - turns, replace=False)
        df = df.drop(index=df.index[drop]).reset_index(drop=True)
        df["turn_idx"] = df.groupby("conv_id").cumcount().astype("int32")
    return df


def _hour(df: pd.DataFrame) -> np.ndarray:
    """Hours since the generator's epoch."""
    ts_us = df["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    return (ts_us - synth.EPOCH_US) // 3_600_000_000


def hourly_batches(df: pd.DataFrame, hours: tuple[int, int], batch_turns: int,
                   late_share: float, seed: int) -> list[pd.DataFrame]:
    """A backfill batch of every hour before ``hours[0]``, then one
    ingest batch per hour up to ``hours[1]``; each hour is thinned to
    ``batch_turns`` turns.  A seeded ``late_share`` of each batch is
    held back to the next one, so it lands in buckets an earlier
    refresh already materialized."""
    df = df[_hour(df) < hours[1]]
    df = pd.concat(
        [fix_size(g, batch_turns, seed + int(h)) for h, g in df.groupby(_hour(df))],
        ignore_index=True,
    )
    df["turn_idx"] = df.groupby("conv_id").cumcount().astype("int32")
    rng = np.random.default_rng([seed, 11])
    window = np.maximum(_hour(df) - hours[0] + 1, 0)
    late = (rng.random(len(df)) < late_share) & (window < window.max())
    batch = window + late
    return [df[batch == k].reset_index(drop=True) for k in range(int(batch.max()) + 1)]


def generate(workload: str, seed: int, work_dir: str) -> dict:
    """Write the workload's inputs (once per fingerprint) and return a
    descriptor: input paths, ground truth and generation seconds."""
    fp = fingerprint(workload, seed)
    out = os.path.join(work_dir, "inputs", f"{workload}-{fp}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["gen_s"] = 0.0
        meta["cached"] = True
        return meta
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta: dict = {"workload": workload, "seed": seed, "fingerprint": fp,
                  "shape": SHAPES[workload]}
    if workload == "dedup_rollup":
        df, pairs = _dedup_corpus(seed)
        meta["planted_pairs"] = pairs
    else:
        df = _plain_corpus(workload, seed)
    df["tokens"] = _tokens(df, seed)
    if workload == "ingest_refresh":
        s = SHAPES[workload]
        batches = hourly_batches(df, s["hours"], s["batch_turns"], s["late_share"], seed)
        df = pd.concat(batches, ignore_index=True)
    else:
        planted = {c for pair in meta.get("planted_pairs", ()) for c in pair}
        df = fix_size(df, SHAPES[workload]["turns"], seed, keep=planted)
    meta["turns"] = len(df)
    meta["convs"] = int(df["conv_id"].nunique())
    if workload == "ingest_refresh":
        os.makedirs(os.path.join(tmp, "batches"))
        for k, b in enumerate(batches):
            b.to_parquet(os.path.join(tmp, "batches", f"b{k:04d}.parquet"), index=False)
        meta["batches"] = len(batches)
        meta["batch_turns"] = [len(b) for b in batches]
    else:
        df.to_parquet(os.path.join(tmp, "transcripts.parquet"), index=False)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    meta["gen_s"] = time.perf_counter() - t0
    meta["cached"] = False
    return meta


def input_dir(work_dir: str, meta: dict) -> str:
    return os.path.join(work_dir, "inputs", f"{meta['workload']}-{meta['fingerprint']}")

