"""The benchmark workloads: one job definition each, plus its oracle
checks and the per-layer count probes of traced runs.

Every job is one closed-loop request: it reads its input from the
generated parquet, runs the engine's public operators, and brings the
results to the driver as pandas frames.  Spans (``self.tr.span``,
``self.tr.wrap``) and boundary materialization (``self.tr.materialize``)
are no-ops in untraced jobs.
"""

from __future__ import annotations

import os

import pandas as pd

from peakmatch_xcorr_spark.config import EngineConf
from peakmatch_xcorr_spark.operators import downsample as ds
from peakmatch_xcorr_spark.operators import pairs, pipeline
from peakmatch_xcorr_spark.operators import rollup as ru
from peakmatch_xcorr_spark.operators.refresh import ContinuousAggregate
from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

import oracle

TIERS = ("1 minute", "1 hour", "1 day")
TIER_S = {"1m": oracle.MINUTE, "1h": oracle.HOUR, "1d": oracle.DAY}


class Workload:
    def __init__(self, spark, meta: dict, input_dir: str, run_dir: str, tracer):
        self.spark = spark
        self.meta = meta
        self.input_dir = input_dir
        self.run_dir = run_dir
        self.tr = tracer

    def turns(self, i: int) -> int:
        return self.meta["turns"]

    def final_check(self) -> list[str]:
        return []

    def probe(self, i: int, out: dict) -> dict:
        """Layer counts of a traced job, taken after its timer stopped."""
        return {}

    def warehouse_listing(self) -> dict | None:
        return None

    def stored_bytes(self) -> int | None:
        return None


class DedupRollup(Workload):
    """pipeline.dedup_then_rollup over a zipf-sized corpus with planted
    near-duplicate pairs."""

    def __init__(self, *a):
        super().__init__(*a)
        self.conf = EngineConf()
        self.path = os.path.join(self.input_dir, "transcripts.parquet")
        self.raw = pd.read_parquet(self.path)
        self._verdicts: dict[frozenset, list[str]] = {}
        if self.tr.enabled:
            # the layer entry points dedup_then_rollup resolves at call
            # time; traced jobs run each under a span, untraced ones as is
            self.tr.wrap(pipeline, "conversation_features", "features", "features")
            self.tr.wrap(pairs, "fused_prune_verify", "pairs", "pairs")
            self.tr.wrap(pipeline, "dedup_transcripts", "dedup", "dedup")
            self.tr.wrap(pipeline, "rollup_cascade", "rollup", "cascade")

    def job(self, i: int) -> dict:
        self.tr.calls.clear()
        _, tiers = pipeline.dedup_then_rollup(self.spark.read.parquet(self.path), self.conf)
        return {"tiers": [t.toPandas() for t in tiers.values()]}

    def _matches(self) -> pd.DataFrame | None:
        """The traced job's reported matches (its cached pairs output)."""
        if "pairs" not in self.tr.calls:
            return None
        return self.tr.calls["pairs"][1].select("id_a", "id_b", "xcorr").toPandas()

    def check(self, i: int, out: dict) -> list[str]:
        kept = frozenset(out["tiers"][0]["conv_id"].astype(str))
        matches = self._matches()
        if matches is not None:
            errs = oracle.check_dedup(self.raw, kept, self.meta["planted_pairs"], matches)
        else:
            # every job reads the same input, so the verdict on a kept set
            # is the same too
            if kept not in self._verdicts:
                self._verdicts[kept] = oracle.check_dedup(
                    self.raw, kept, self.meta["planted_pairs"])
            errs = list(self._verdicts[kept])
        survivors = self.raw[self.raw["conv_id"].isin(kept)]
        for (name, s), got in zip(TIER_S.items(), out["tiers"]):
            errs += oracle.check_tier(got, survivors, s, None, f"tier {name}")
        return errs

    def probe(self, i: int, out: dict) -> dict:
        feats, _, n_blocks = self.tr.calls["pairs"][0]
        n = feats.count()
        considered = n * (n - 1) // 2
        # the two-phase plan's prune output, as a count (not timed)
        cands = pairs.peakmatch_candidates(feats, self.conf.peakmatch, n_blocks).count()
        found_matches = self._matches()
        matches = len(found_matches)
        comps = oracle.components(found_matches)
        kept = set(out["tiers"][0]["conv_id"].astype(str))
        found = [f for f, _ in oracle.planted_outcomes(self.raw, kept, self.meta["planted_pairs"])]
        return {
            "features.convs": n,
            "pairs.pairs_considered": considered,
            "pairs.candidates": cands,
            "pairs.matches": matches,
            "pairs.prune_ratio": cands / considered if considered else 0.0,
            "pairs.verify_yield": matches / cands if cands else 0.0,
            "dedup.components": len(set(comps.values())),
            "dedup.rows_removed": len(self.raw) - self.tr.calls["dedup"][1].count(),
            "dedup.planted_recall": sum(found) / len(found),
            **_points_out(out["tiers"]),
        }


class TierPackDownsample(Workload):
    """rollup_cascade -> gap_fill_locf -> pack_tier -> unpack_tier ->
    ewma / holt / m4 on the 1h tier -> retention_expire."""

    EXPIRE_S = 12 * oracle.HOUR

    def __init__(self, *a):
        super().__init__(*a)
        self.path = os.path.join(self.input_dir, "transcripts.parquet")
        self.raw = pd.read_parquet(self.path)
        hi = self.raw["ts"].max().floor("min")
        self.horizon = (hi - pd.Timedelta(seconds=self.EXPIRE_S)).to_pydatetime()
        self.exp_1m = oracle.rollup(self.raw, oracle.MINUTE, "tokens")
        self.exp_1h = oracle.rollup(self.raw, oracle.HOUR, "tokens")

    def job(self, i: int) -> dict:
        tr, keys = self.tr, ["conv_id"]
        sdf = self.spark.read.parquet(self.path)
        with tr.span("rollup", "cascade"):
            tiers = ru.rollup_cascade(sdf, keys, "ts", "tokens", TIERS)
            tiers = {k: tr.materialize(v) for k, v in tiers.items()}
        t1m, t1h = tiers["1 minute"], tiers["1 hour"]
        with tr.span("rollup", "gapfill"):
            gf = tr.materialize(ru.gap_fill_locf(t1m, keys, "1 minute"))
        with tr.span("rollup", "pack"):
            packed = tr.materialize(ru.pack_tier(t1h, keys, "vavg"))
        with tr.span("rollup", "unpack"):
            unpacked = tr.materialize(ru.unpack_tier(packed, keys, "vavg"))
        with tr.span("downsample", "ewma"):
            ew = tr.materialize(ds.ewma_smooth(t1h, keys, "bucket_start", "vavg"))
        with tr.span("downsample", "holt"):
            ho = tr.materialize(ds.holt_smooth(t1h, keys, "bucket_start", "vavg"))
        with tr.span("downsample", "m4"):
            m4 = tr.materialize(ds.m4_downsample(t1h, keys, "bucket_start", "vavg", "1 day"))
        with tr.span("rollup", "expire"):
            ex = tr.materialize(ru.retention_expire(t1m, self.horizon))
        out = {"tiers": [t.toPandas() for t in tiers.values()]}
        for name, df in (("gapfill", gf), ("packed", packed), ("unpacked", unpacked),
                         ("ewma", ew), ("holt", ho), ("m4", m4), ("expired", ex)):
            out[name] = df.toPandas()
        return out

    def check(self, i: int, out: dict) -> list[str]:
        o, k = oracle, ["conv_id", "bucket_start"]
        errs = []
        for (name, s), got in zip(TIER_S.items(), out["tiers"]):
            errs += o.check_tier(got, self.raw, s, "tokens", f"tier {name}")
        errs += o.compare(out["gapfill"], o.gap_fill_locf(self.exp_1m, o.MINUTE), k,
                          ["turns", "vavg", "filled"], "gap_fill_locf 1m")
        errs += o.compare(out["unpacked"], self.exp_1h, k, ["vavg"],
                          "pack/unpack 1h", exact=True)
        errs += o.compare(out["ewma"], o.ewma(self.exp_1h), k, ["vavg", "ewma"], "ewma 1h")
        errs += o.compare(out["holt"], o.holt(self.exp_1h), k, ["level", "trend"], "holt 1h")
        errs += o.compare(out["m4"], o.m4(self.exp_1h, o.DAY), k,
                          ["v_first", "v_last", "v_min", "v_max", "n_points"], "m4 1h->1d")
        exp_ex = self.exp_1m[self.exp_1m["bucket_start"] >= pd.Timestamp(self.horizon)]
        errs += o.compare(out["expired"], exp_ex, k, list(o.AGG), "retention_expire 1m")
        return errs

    def probe(self, i: int, out: dict) -> dict:
        return {**_points_out(out["tiers"]), "codecs.bytes_per_point": _bytes_per_point(out["packed"])}


class IngestRefresh(Workload):
    """Per job: WarehouseTable.append of the next ingest batch,
    ContinuousAggregate.refresh, real_time 1h read, 1m tier read."""

    RETENTION_1M_S = 3 * oracle.HOUR

    def __init__(self, *a):
        super().__init__(*a)
        self.root = os.path.join(self.run_dir, "warehouse")
        self.source = WarehouseTable(self.root, "turns")
        self.cagg = ContinuousAggregate(
            self.root, self.source, ["conv_id"], "ts", value_col="tokens",
            tiers=TIERS, tier_names=tuple(TIER_S),
            retention_s=(self.RETENTION_1M_S, None, None), pack_tiers=("1h",),
        )
        self.ingested: list[pd.DataFrame] = []

    def _batch_path(self, i: int) -> str:
        return os.path.join(self.input_dir, "batches", f"b{i:04d}.parquet")

    def turns(self, i: int) -> int:
        counts = self.meta["batch_turns"]
        return counts[i] if i < len(counts) else 0

    def job(self, i: int) -> dict:
        if i >= self.meta["batches"]:
            raise RuntimeError(f"ingest batches exhausted after {i} jobs")
        tr, spark = self.tr, self.spark
        with tr.span("warehouse", "append"):
            self.source.append(spark.read.parquet(self._batch_path(i)))
        with tr.span("refresh", "refresh"):
            m = self.cagg.refresh(spark)
        with tr.span("refresh", "realtime"):
            rt = self.cagg.real_time(spark, "1h").toPandas()
        with tr.span("warehouse", "read"):
            t1m = self.cagg.tier_tables["1m"].read(spark).toPandas()
        return {"refresh": m, "realtime_1h": rt, "tier_1m": t1m}

    def check(self, i: int, out: dict) -> list[str]:
        self.ingested.append(pd.read_parquet(self._batch_path(i)))
        raw = pd.concat(self.ingested, ignore_index=True)
        return (
            oracle.check_tier(out["realtime_1h"], raw, oracle.HOUR, "tokens", "real_time 1h")
            + oracle.check_tier(out["tier_1m"], raw, oracle.MINUTE, "tokens", "tier 1m",
                                horizon_s=self.RETENTION_1M_S)
        )

    def final_check(self) -> list[str]:
        """After the last cycle: every tier equals a from-scratch rollup
        of all ingested batches with retention applied, and the packed
        1h tier unpacks to the 1h tier's averages."""
        if not self.ingested:
            return []
        raw = pd.concat(self.ingested, ignore_index=True)
        errs = []
        for name, s in TIER_S.items():
            got = self.cagg.tier_tables[name].read(self.spark).toPandas()
            horizon = self.RETENTION_1M_S if name == "1m" else None
            errs += oracle.check_tier(got, raw, s, "tokens", f"final tier {name}", horizon)
        packed = self.cagg.packed_tables["1h"].read(self.spark)
        unpacked = ru.unpack_tier(packed, ["conv_id"], "vavg").toPandas()
        errs += oracle.compare(unpacked, oracle.rollup(raw, oracle.HOUR, "tokens"),
                               ["conv_id", "bucket_start"], ["vavg"],
                               "final packed 1h round trip", exact=True)
        return errs

    def stored_bytes(self) -> int:
        return sum(c for _, c, _ in _walk(self.root))

    def warehouse_listing(self) -> dict:
        commits = files = size = 0
        for path, nbytes, name in _walk(self.root):
            size += nbytes
            files += name.endswith(".parquet")
            commits += os.path.basename(os.path.dirname(path)) == "snapshots"
        return {"commits": commits, "files": files, "bytes": size}

    def probe(self, i: int, out: dict) -> dict:
        m = out["refresh"]
        tiers = [m.get(n, {}) for n in TIER_S]
        packed = self.cagg.packed_tables["1h"].read(self.spark).toPandas()
        return {
            **{f"rollup.points_out.{n}": t.get("rows") or 0 for n, t in zip(TIER_S, tiers)},
            "refresh.rows_written": sum(t.get("rows") or 0 for t in tiers),
            "refresh.carried_files": sum(t.get("carried_files") or 0 for t in tiers),
            "codecs.bytes_per_point": _bytes_per_point(packed),
        }


def _walk(root: str):
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            yield p, os.path.getsize(p), n


def _points_out(tiers: list[pd.DataFrame]) -> dict:
    return {f"rollup.points_out.{n}": len(t) for n, t in zip(TIER_S, tiers)}


def _bytes_per_point(packed: pd.DataFrame) -> float:
    payload = sum(len(b) for b in packed["ts_packed"]) + sum(len(b) for b in packed["val_packed"])
    points = int(packed["n_buckets"].sum())
    return payload / points if points else 0.0


WORKLOADS = {
    "dedup_rollup": DedupRollup,
    "tier_pack_downsample": TierPackDownsample,
    "ingest_refresh": IngestRefresh,
}
