"""Independent numpy oracle for the store-path benchmark.

Every expected value is computed here from the generated token arrays,
never from the program's output: per-bin statistics at every tier, gated
rollup read answers, z-score flags, limited interpolation and gap runs.
Comparisons return a list of mismatch descriptions (empty = correct).
"""

from __future__ import annotations

import math

import numpy as np

NA_SENTINEL = -9999
PERCENTILES = (0.25, 0.5, 0.75, 0.95)
TIER_EVERY = {"tier_1m": 60, "tier_1h": 3600, "tier_1d": 86400}
# integer-valued doubles: sums are exact below 2**53, so n/sum/min/max
# compare exactly; derived floats (mean, sd, percentiles, z, fills) get a
# relative tolerance well above float64 rounding
RTOL = 1e-9


def values(tokens: np.ndarray) -> np.ndarray:
    """Token array -> float series with the sentinel as NaN."""
    v = tokens.astype(np.float64)
    v[tokens == NA_SENTINEL] = np.nan
    return v


def bin_stats(tokens: np.ndarray, every: int) -> dict[int, dict]:
    """Per-bin stats of one doc: bin_start -> {n, n_grid, sum, min, max,
    mean, sd (ddof=1), p25, p50, p75, p95}."""
    v = values(tokens)
    out = {}
    for start in range(0, len(v), every):
        chunk = v[start:start + every]
        ok = chunk[~np.isnan(chunk)]
        n = int(ok.size)
        row = {"n": n, "n_grid": int(chunk.size), "sum": float(ok.sum()) if n else None,
               "min": float(ok.min()) if n else None, "max": float(ok.max()) if n else None,
               "mean": float(ok.mean()) if n else None,
               "sd": float(ok.std(ddof=1)) if n >= 2 else None}
        for q in PERCENTILES:
            row[f"p{int(round(q * 100)):02d}"] = float(np.percentile(ok, q * 100)) if n else None
        out[start] = row
    return out


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return math.isclose(float(a), float(b), rel_tol=RTOL, abs_tol=1e-9)


def compare_bins(doc: str, tier: str, expected: dict[int, dict],
                 rows: list[dict]) -> list[str]:
    """Compare a tier's rows for one doc (dicts with bin_start and the stat
    columns) against :func:`bin_stats`."""
    got = {int(r["bin_start"]): r for r in rows}
    bad = []
    if set(got) != set(expected):
        return [f"{tier}/{doc}: bins {sorted(got)[:5]}.. != {sorted(expected)[:5]}.."]
    for b, exp in expected.items():
        for col, want in exp.items():
            have = got[b][col]
            exact = col in ("n", "n_grid", "sum", "min", "max")
            ok = (have == want) if exact else _close(have, want)
            if not ok:
                bad.append(f"{tier}/{doc}/bin{b}: {col} {have!r} != {want!r}")
    return bad


def gated_read_answer(docs: dict[str, np.ndarray], every: int,
                      mincounts_perc: float = 0.25) -> dict[str, tuple]:
    """Answer of a gated rollup read aggregated per doc:
    doc_id -> (bins kept, sum n, sum n_grid, sum of sums, min, max).

    The gate is diive's: mincounts = floor(max n_grid over the doc's bins
    * perc), raised to 1 when below 3; a bin is kept when n >= mincounts."""
    out = {}
    for did, toks in docs.items():
        stats = bin_stats(toks, every)
        maxc = max(s["n_grid"] for s in stats.values())
        minc = math.floor(maxc * mincounts_perc)
        minc = 1 if minc < 3 else minc
        kept = [s for s in stats.values() if s["n"] >= minc]
        if not kept:
            continue
        nonempty = [s for s in kept if s["n"]]
        out[did] = (
            len(kept), sum(s["n"] for s in kept), sum(s["n_grid"] for s in kept),
            sum(s["sum"] for s in nonempty) if nonempty else None,
            min(s["min"] for s in nonempty) if nonempty else None,
            max(s["max"] for s in nonempty) if nonempty else None,
        )
    return out


def compare_answer(label: str, expected: dict[str, tuple], got: dict[str, tuple]) -> list[str]:
    if set(expected) != set(got):
        return [f"{label}: docs {sorted(set(got) ^ set(expected))[:5]} differ"]
    return [f"{label}/{d}: {got[d]} != {want}" for d, want in expected.items()
            if len(got[d]) != len(want) or not all(_close(a, b) for a, b in zip(got[d], want))]


def qc_expected(tokens: np.ndarray, thres: float = 4.0, limit: int = 3) -> dict:
    """Drill-down oracle for one doc.

    z = |v - mean| / sd_pop over the doc's non-null values; flag 2 where
    z > thres, 0 otherwise, None on gaps.  Rejected values are removed
    (``value_qc``), then interior runs of at most ``limit`` missing
    positions are filled linearly between their neighbours (``fill``,
    ``fill_flag`` 0 observed / 1 filled / None unfilled), and the runs of
    missing ``value_qc`` are listed as (start, end, length)."""
    v = values(tokens)
    ok = ~np.isnan(v)
    mean, sd = v[ok].mean(), v[ok].std(ddof=0)
    z = np.abs(v - mean) / sd if sd > 0 else np.full_like(v, np.nan)
    flag = np.where(ok, np.where(z > thres, 2, 0), -1)
    near = ok & (np.abs(z - thres) < 1e-9)  # boundary: either flag is right
    qc = np.where(flag == 2, np.nan, v)
    fill = qc.copy()
    fill_flag = np.where(np.isnan(qc), -1, 0)
    runs = []
    n, i = len(qc), 0
    while i < n:
        if not np.isnan(qc[i]):
            i += 1
            continue
        j = i
        while j + 1 < n and np.isnan(qc[j + 1]):
            j += 1
        runs.append((i, j, j - i + 1))
        if j - i + 1 <= limit and i > 0 and j + 1 < n:
            pa, na = i - 1, j + 1
            for a in range(i, j + 1):
                fill[a] = qc[pa] + (qc[na] - qc[pa]) * (a - pa) / (na - pa)
                fill_flag[a] = 1
        i = j + 1
    return {"flag": flag, "near": near, "fill": fill, "fill_flag": fill_flag, "runs": runs}


def compare_qc(doc: str, exp: dict, flagged_rows: list[tuple], gap_rows: list[tuple]) -> list[str]:
    """flagged_rows: (pos, flag, fill, fill_flag) per position;
    gap_rows: (gap_start, gap_end, gap_length)."""
    bad = []
    n = len(exp["flag"])
    if sorted(r[0] for r in flagged_rows) != list(range(n)):
        return [f"drill/{doc}: positions differ"]
    for pos, flag, fill, fill_flag in flagged_rows:
        want = exp["flag"][pos]
        have = -1 if flag is None else flag
        if have != want and not exp["near"][pos]:
            bad.append(f"drill/{doc}/{pos}: flag {have} != {want}")
        wf = exp["fill"][pos]
        if not _close(None if fill is None else float(fill), None if np.isnan(wf) else float(wf)):
            bad.append(f"drill/{doc}/{pos}: fill {fill} != {wf}")
        hf = -1 if fill_flag is None else fill_flag
        if hf != exp["fill_flag"][pos]:
            bad.append(f"drill/{doc}/{pos}: fill_flag {hf} != {exp['fill_flag'][pos]}")
    if sorted(tuple(int(x) for x in r) for r in gap_rows) != sorted(exp["runs"]):
        bad.append(f"drill/{doc}: gap runs differ")
    return bad
