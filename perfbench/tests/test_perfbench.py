"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from spans import Span, layer_metrics, parse_sql_metric, self_times  # noqa: E402


def _read(work: str, meta: dict) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(gen.input_dir(work, meta), "transcripts.parquet"))


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate("dedup_rollup", 3, str(tmp_path / "a"))
    b = gen.generate("dedup_rollup", 3, str(tmp_path / "b"))
    c = gen.generate("dedup_rollup", 4, str(tmp_path / "c"))
    assert a["fingerprint"] == b["fingerprint"] != c["fingerprint"]
    pd.testing.assert_frame_equal(_read(str(tmp_path / "a"), a), _read(str(tmp_path / "b"), b))
    assert a["planted_pairs"] == b["planted_pairs"]
    assert not _read(str(tmp_path / "a"), a).equals(_read(str(tmp_path / "c"), c))
    again = gen.generate("dedup_rollup", 3, str(tmp_path / "a"))
    assert again["cached"] and again["gen_s"] == 0.0


def test_ingest_batches_are_a_backfill_then_hourly_with_a_late_share():
    ts = pd.date_range("2024-01-01", periods=4000, freq="30s").to_numpy().astype("datetime64[us]")
    df = pd.DataFrame({"conv_id": np.resize(["a", "b"], 4000), "ts": ts[::-1]})
    batches = gen.hourly_batches(df, (2, 30), 100, 0.2, seed=5)
    assert len(batches) == 29  # the backfill of hours [0, 2), then one per hour in [2, 30)
    assert set(gen._hour(batches[0])) == {0, 1}
    assert 150 < len(batches[0]) < 210
    late = 0
    for k, b in enumerate(batches[1:-1], start=1):
        window = np.maximum(gen._hour(b) - 1, 0)  # the backfill is window 0
        assert set(window) <= {k, k - 1}
        late += int((window == k - 1).sum())
        assert 80 < len(b) < 120
    assert 0.1 < late / sum(len(b) for b in batches) < 0.3
    again = gen.hourly_batches(df, (2, 30), 100, 0.2, seed=5)
    assert all(x.equals(y) for x, y in zip(batches, again))


def test_fixed_input_size_keeps_turns_dense():
    df = pd.DataFrame({"conv_id": np.repeat(["a", "b"], 50), "turn_idx": np.tile(np.arange(50), 2)})
    out = gen.fix_size(df, 70, seed=1)
    assert len(out) == 70
    for _, g in out.groupby("conv_id"):
        assert list(g["turn_idx"]) == list(range(len(g)))
    assert len(gen.fix_size(df, 500, seed=1)) == 100
    kept = gen.fix_size(df, 70, seed=1, keep={"a"})
    assert (kept["conv_id"] == "a").sum() == 50 and len(kept) == 70


def test_printed_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res = {"jobs": [{"ok": True}], "errors": []}
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        report = {"metrics": {k: 1.0 for k in run.END_TO_END}, "layers": {}}
        line = run.result_line(res, report, trace)
        assert {k: v["unit"] for k, v in line["metrics"].items()} == {
            m["name"]: m["unit"] for m in spec[section]}
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert [w["name"] for w in spec["workloads"]] == [
        w for w in run.WORKLOADS if w not in run.HELD]
    assert spec["paths"] == ["perfbench"]


def _raw(seed: int = 0) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = 400
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 2 * 86400_000_000, n)
    return pd.DataFrame({
        "conv_id": rng.choice(["a", "b", "c"], n),
        "ts": ts.astype("datetime64[us]"),
        "tokens": rng.integers(1, 200, n).astype(np.float64),
    })


def test_oracle_rejects_a_perturbed_rollup_point():
    raw = _raw()
    tier = oracle.rollup(raw, oracle.HOUR, "tokens")
    assert oracle.check_tier(tier, raw, oracle.HOUR, "tokens", "1h") == []
    bad = tier.copy()
    bad.loc[7, "vsum"] += 1e-3
    assert oracle.check_tier(bad, raw, oracle.HOUR, "tokens", "1h")
    assert oracle.check_tier(tier.drop(index=3), raw, oracle.HOUR, "tokens", "1h")


def test_oracle_gap_fill_and_exact_round_trip():
    raw = _raw(1)
    tier = oracle.rollup(raw, oracle.HOUR, "tokens")
    filled = oracle.gap_fill_locf(tier, oracle.HOUR)
    assert filled["filled"].any() and (filled.loc[filled["filled"], "turns"] == 0).all()
    keys = ["conv_id", "bucket_start"]
    nudged = tier.copy()
    nudged.loc[0, "vavg"] = np.nextafter(nudged.loc[0, "vavg"], np.inf)
    assert oracle.compare(tier, tier, keys, ["vavg"], "rt", exact=True) == []
    assert oracle.compare(nudged, tier, keys, ["vavg"], "rt", exact=True)


def _planted_corpus() -> tuple[pd.DataFrame, list[list[str]]]:
    """Two conversations with the same dense activity curve, one
    unrelated one, all well above the peak count the reference needs."""
    rng = np.random.default_rng(2)
    counts = rng.poisson(3 * np.exp(-((np.arange(256) - 90) ** 2) / 400)) + (
        rng.poisson(2 * np.exp(-((np.arange(256) - 180) ** 2) / 200)))
    other = rng.poisson(2.0, 256)
    rows = []
    base = np.datetime64("2024-01-01T00:00:00", "us")
    for conv, curve in (("x1", counts), ("x2", counts), ("y", other)):
        minute = np.repeat(np.arange(256), curve)
        rows.append(pd.DataFrame({"conv_id": conv,
                                  "ts": base + minute * np.timedelta64(60, "s")}))
    return pd.concat(rows, ignore_index=True), [["x1", "x2"]]


def test_oracle_rejects_a_dropped_planted_pair():
    raw, planted = _planted_corpus()
    [(found, must)] = oracle.planted_outcomes(raw, {"x1", "y"}, planted)
    assert found and must
    assert oracle.check_dedup(raw, {"x1", "y"}, planted) == []
    errs = oracle.check_dedup(raw, {"x1", "x2", "y"}, planted)
    assert any("not found" in e for e in errs)
    # dropping a conversation with no near-duplicate partner is wrong too
    assert any("no partner" in e for e in oracle.check_dedup(raw, {"x1"}, planted))


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        Span(0, None, 0, "job", "job", 0.0, 10.0, "g0"),
        Span(1, 0, 0, "features", "features", 1.0, 4.0, "g1"),
        Span(2, 0, 0, "pairs", "pairs", 3.0, 6.0, "g2"),  # overlaps span 1
        Span(3, 1, 0, "features", "inner", 2.0, 3.0, "g3"),
        Span(4, 0, 0, "rollup", "cascade", 9.0, 12.0, "g4"),  # runs past its parent
    ]
    st = self_times(spans)
    assert st == {0: 10.0 - 6.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}
    counts = {"g1": {"exec_run_s": 4.0, "tasks": 4, "task_run_s": [1.0, 1.0, 2.0]},
              "g2": {"exec_run_s": 2.0, "tasks": 2, "task_run_s": [1.0, 3.0]}}
    m = layer_metrics(spans, counts, cores=2, n_jobs=1)
    assert m["features.wall_s"] == 4.0 and m["features.self_s"] == 3.0
    assert m["features.inner_s"] == 1.0
    assert m["job.self_s"] == 4.0 and m["job.exec_run_s"] == 6.0
    assert m["features.idle_slot_frac"] == pytest.approx(1 - 4.0 / (4.0 * 2))
    assert m["pairs.task_skew"] == pytest.approx(3.0 / 2.0)


def test_sql_metric_text_parsing():
    assert parse_sql_metric("17 ms") == pytest.approx(0.017)
    assert parse_sql_metric("10,000") == 10000
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "81.3 KiB (20.3 KiB, 20.3 KiB, 20.3 KiB (stage 0.0: task 0))"
                            ) == pytest.approx(81.3 * 1024)
    assert parse_sql_metric("total (min, med, max)\n1.2 m (1 ms, 2 ms, 3 ms)") == 72.0
