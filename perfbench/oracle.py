"""Independent output oracle, in pandas and numpy only.

Nothing here imports the engine: every expected value is recomputed
from the generated input rows.  Each ``check_*`` returns a list of
mismatch messages; an empty list means the output is correct.

Numeric aggregates compare at the engine's 6-decimal contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MINUTE, HOUR, DAY = 60, 3600, 86400
AGG = ("turns", "vcount", "vsum", "vmin", "vmax", "vavg")
FINAL_THRESHOLD = 0.7  # PeakmatchConf.final_threshold (xcorr.conf:41)
CANDIDATE_THRESHOLD = 0.55  # xcorr.conf:38
TOP_K, STRIDE, AMP_FRACTION = 2, 5, 0.3  # xcorr.conf:23,27,33
CURVE_LEN = 256  # RollupConf.activity_curve_len


def _us(col: pd.Series) -> np.ndarray:
    return pd.to_datetime(col).to_numpy().astype("datetime64[us]").astype(np.int64)


def rollup(df: pd.DataFrame, bucket_s: int, value: str | None = None,
           key: str = "conv_id", ts: str = "ts") -> pd.DataFrame:
    """Tumbling-window rollup: per (key, bucket) turns, and for a value
    column its non-null count, sum, min, max and average."""
    step = bucket_s * 1_000_000
    b = _us(df[ts]) // step * step
    g = pd.DataFrame({key: df[key].to_numpy(), "bucket_start": b})
    if value is None:
        out = g.groupby([key, "bucket_start"], sort=True).size().rename("turns")
        out = out.reset_index()
    else:
        g["v"] = df[value].to_numpy(dtype=np.float64)
        out = g.groupby([key, "bucket_start"], sort=True)["v"].agg(
            turns="size", vcount="count", vsum="sum", vmin="min", vmax="max"
        ).reset_index()
        out["vavg"] = out["vsum"] / out["vcount"]
    out["bucket_start"] = out["bucket_start"].to_numpy().astype("datetime64[us]")
    return out


def expire(tier: pd.DataFrame, horizon_s: int) -> pd.DataFrame:
    """Event-time retention: keep buckets within ``horizon_s`` of the
    tier's newest bucket."""
    hi = tier["bucket_start"].max()
    return tier[tier["bucket_start"] >= hi - pd.Timedelta(seconds=horizon_s)]


def gap_fill_locf(tier: pd.DataFrame, bucket_s: int, key: str = "conv_id",
                  fill: str = "vavg") -> pd.DataFrame:
    """Reindex every key onto its dense [first, last] bucket range;
    missing buckets get turns 0, filled=True and the last value."""
    frames = []
    for k, g in tier.groupby(key, sort=True):
        g = g.set_index("bucket_start").sort_index()
        idx = pd.date_range(g.index[0], g.index[-1], freq=f"{bucket_s}s")
        r = g.reindex(idx)
        out = pd.DataFrame({
            key: k,
            "bucket_start": idx.to_numpy().astype("datetime64[us]"),
            "turns": r["turns"].fillna(0).to_numpy(),
            fill: r[fill].ffill().to_numpy(),
            "filled": r["turns"].isna().to_numpy(),
        })
        frames.append(out)
    return pd.concat(frames, ignore_index=True)


def ewma(tier: pd.DataFrame, alpha: float = 0.2, key: str = "conv_id",
         value: str = "vavg") -> pd.DataFrame:
    t = tier.sort_values([key, "bucket_start"]).reset_index(drop=True)
    t["ewma"] = t.groupby(key)[value].transform(
        lambda s: s.ewm(alpha=alpha, adjust=False).mean()
    )
    return t[[key, "bucket_start", value, "ewma"]]


def holt(tier: pd.DataFrame, alpha: float = 0.2, beta: float = 0.3,
         key: str = "conv_id", value: str = "vavg") -> pd.DataFrame:
    t = tier.sort_values([key, "bucket_start"]).reset_index(drop=True)
    level = np.empty(len(t))
    trend = np.empty(len(t))
    vals = t[value].to_numpy(dtype=np.float64)
    keys = t[key].to_numpy()
    for i, v in enumerate(vals):
        if i == 0 or keys[i] != keys[i - 1]:
            level[i], trend[i] = v, 0.0
            continue
        lv = alpha * v + (1 - alpha) * (level[i - 1] + trend[i - 1])
        trend[i] = beta * (lv - level[i - 1]) + (1 - beta) * trend[i - 1]
        level[i] = lv
    t["level"], t["trend"] = level, trend
    return t[[key, "bucket_start", value, "level", "trend"]]


def m4(tier: pd.DataFrame, bucket_s: int, key: str = "conv_id",
       value: str = "vavg") -> pd.DataFrame:
    """First, last, min and max point per (key, bucket); ties go to the
    earlier point for first/min and the later one for last/max."""
    t = tier[tier[value].notna()].copy()
    step = bucket_s * 1_000_000
    t["_b"] = _us(t["bucket_start"]) // step * step
    rows = []
    for (k, b), g in t.groupby([key, "_b"], sort=True):
        by_t = g.sort_values("bucket_start")
        by_v = g.sort_values([value, "bucket_start"])
        rows.append({
            key: k, "bucket_start": b,
            "v_first": by_t[value].iloc[0], "v_last": by_t[value].iloc[-1],
            "v_min": by_v[value].iloc[0], "v_max": by_v[value].iloc[-1],
            "n_points": len(g),
        })
    out = pd.DataFrame(rows)
    out["bucket_start"] = out["bucket_start"].to_numpy().astype("datetime64[us]")
    return out


def compare(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str],
            cols: list[str], what: str, exact: bool = False) -> list[str]:
    """Row-set equality on ``keys`` and value equality on ``cols`` at
    6 decimals (bit-exact when ``exact``)."""
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected {len(exp)}"]
    g = _canon(got, keys)
    e = _canon(exp, keys)
    errs = []
    for k in keys:
        if not np.array_equal(g[k].to_numpy(), e[k].to_numpy()):
            errs.append(f"{what}: key column {k} differs")
            return errs
    for c in cols:
        a = g[c].to_numpy(dtype=np.float64)
        b = e[c].to_numpy(dtype=np.float64)
        if exact:
            same = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            same = np.isclose(np.round(a, 6), np.round(b, 6), rtol=1e-9, atol=1.5e-6,
                              equal_nan=True)
        if not same.all():
            i = int(np.argmin(same))
            errs.append(f"{what}: {c} differs at {dict(e[keys].iloc[i])}: "
                        f"{a[i]!r} != {b[i]!r}")
    return errs


def _canon(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    df = df.copy()
    for k in keys:
        if k == "bucket_start" or k.startswith("ts"):
            df[k] = pd.to_datetime(df[k]).to_numpy().astype("datetime64[us]")
        else:
            df[k] = df[k].astype(str)
    return df.sort_values(keys).reset_index(drop=True)


def check_tier(got: pd.DataFrame, raw: pd.DataFrame, bucket_s: int,
               value: str | None, what: str, horizon_s: int | None = None) -> list[str]:
    exp = rollup(raw, bucket_s, value)
    if horizon_s is not None:
        exp = expire(exp, horizon_s)
    cols = ["turns"] + ([c for c in AGG if c != "turns"] if value else [])
    return compare(got, exp, ["conv_id", "bucket_start"], cols, what)


# ---------------------------------------------------------------- xcorr

def activity_series(raw: pd.DataFrame, convs) -> np.ndarray:
    """Unit-normalised, mean-centred turns-per-minute curve of each
    conversation, indexed from its first minute and truncated or
    zero-padded to CURVE_LEN (the reference's event construction)."""
    minute = _us(raw["ts"]) // (MINUTE * 1_000_000)
    df = pd.DataFrame({"c": raw["conv_id"].to_numpy(), "m": minute})
    df["i"] = df["m"] - df.groupby("c")["m"].transform("min")
    df = df[df["i"] < CURVE_LEN]
    pos = {c: n for n, c in enumerate(convs)}
    out = np.zeros((len(convs), CURVE_LEN))
    rows = df["c"].map(pos)
    keep = rows.notna().to_numpy()
    np.add.at(out, (rows[keep].astype(int).to_numpy(), df["i"].to_numpy()[keep]), 1.0)
    out -= out.mean(axis=1, keepdims=True)
    norm = np.sqrt((out * out).sum(axis=1, keepdims=True))
    with np.errstate(invalid="ignore", divide="ignore"):
        return out / norm


def xcorr_best(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Max over all lags of the cross-correlation of each row of ``a``
    with ``b`` (a 1-D series): the reference's pair score."""
    n = 1 << int(np.ceil(np.log2(2 * a.shape[1])))
    fa = np.fft.rfft(a, n, axis=1)
    fb = np.fft.rfft(b[::-1], n)
    return np.fft.irfft(fa * fb, n, axis=1).max(axis=1)


def _peaks(d: np.ndarray):
    """Reference event peaks (BasicEvent.java:93-139) as a plain loop:
    one peak per zero-crossing segment, sorted by signed value."""
    peaks, px, local = [], 0, 0.0
    for i in range(1, len(d)):
        if (d[i] > 0) != (d[i - 1] > 0):
            peaks.append((px, d[px]))
            local = 0.0
        if abs(d[i]) > local:
            local, px = abs(d[i]), i
    if len(peaks) < TOP_K:
        return None
    peaks.sort(key=lambda t: -t[1])
    hi, lo = peaks[0][1], peaks[-1][1]
    above = [i for i, x in enumerate(d) if x > hi * AMP_FRACTION or x < lo * AMP_FRACTION]
    return ([p[0] for p in peaks[:TOP_K]], [peaks[-1 - i][0] for i in range(TOP_K)], above)


def peakmatch_score(a: np.ndarray, b: np.ndarray) -> float:
    """The reference's approximate pair score (PeakMatchRunner.java:
    34-94): best strided sparse dot product over peak alignments."""
    pa, pb = _peaks(a), _peaks(b)
    if pa is None or pb is None:
        return -1.0
    best = -1.0
    for a_offs, b_offs in ((pa[0], pb[0]), (pa[1], pb[1])):
        for ao in a_offs:
            for bo in b_offs:
                off = ao - bo
                start, end = (-off, len(a)) if off < 0 else (0, len(a) - off)
                dot = 0.0
                for idx in pb[2][::STRIDE]:
                    if idx >= end:
                        break
                    if idx >= start:
                        dot += a[idx + off] * b[idx]
                best = max(best, dot * STRIDE)
    return best


def planted_outcomes(raw: pd.DataFrame, kept: set[str], planted: list[list[str]]):
    """(found, must_find) per planted pair (a, b), a < b.  The pair is
    found when b was dropped: b is never its component's minimum once
    it shares a component with a.  It must be found when its exact
    xcorr exceeds the final threshold and the reference peakmatch
    approximation scores it above the candidate threshold in both
    directions; below that the approximation may miss it by design,
    and the miss only lowers the reported recall."""
    convs = sorted({c for p in planted for c in p})
    s = activity_series(raw[raw["conv_id"].isin(convs)], convs)
    pos = {c: n for n, c in enumerate(convs)}
    out = []
    for a, b in planted:
        x, y = s[pos[a]], s[pos[b]]
        exact = float(xcorr_best(x[None, :], y)[0])
        approx = min(peakmatch_score(x, y), peakmatch_score(y, x))
        out.append((b not in kept,
                    exact > FINAL_THRESHOLD and approx > CANDIDATE_THRESHOLD))
    return out


def check_dedup(raw: pd.DataFrame, kept: set[str], planted: list[list[str]],
                matches: pd.DataFrame | None = None) -> list[str]:
    """Dropped conversations are exactly the non-minimum members of
    xcorr-verified match components: every planted pair the reference
    approximation proposes is found, and every dropped conversation
    (and every reported match) has an exact xcorr above the final
    threshold."""
    convs = sorted(raw["conv_id"].unique())
    dropped = sorted(set(convs) - kept)
    errs = []
    for (a, b), (found, must) in zip(planted, planted_outcomes(raw, kept, planted)):
        if must and not found:
            errs.append(f"planted pair ({a}, {b}) not found")
    series = activity_series(raw, convs)
    ok = np.isfinite(series).all(axis=1)
    pos = {c: n for n, c in enumerate(convs)}
    for d in dropped:
        sc = xcorr_best(series[ok], series[pos[d]])
        others = np.array(convs)[ok] != d
        if not (sc[others] > FINAL_THRESHOLD - 1e-9).any():
            errs.append(f"dropped {d} has no partner above xcorr {FINAL_THRESHOLD}")
    if matches is not None:
        for r in matches.itertuples(index=False):
            x = float(xcorr_best(series[[pos[r.id_a]]], series[pos[r.id_b]])[0])
            if not (x > FINAL_THRESHOLD and abs(x - r.xcorr) < 1e-6):
                errs.append(f"match ({r.id_a}, {r.id_b}) xcorr {r.xcorr!r}, numpy {x!r}")
        comps = components(matches)
        drop_exp = sorted(c for c, root in comps.items() if c != root)
        if drop_exp != dropped:
            errs.append(f"dropped {dropped[:5]}... but match components drop {drop_exp[:5]}...")
    return errs


def components(matches: pd.DataFrame) -> dict[str, str]:
    """Union-find over match edges: member -> component minimum."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(matches["id_a"], matches["id_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
