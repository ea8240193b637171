"""Min-count-gated bucket rollup — the engine's core downsample operator.

Re-creates the semantics of the reference's resampling
(diive/core/times/resampling.py:13-132 ``resample_series_to_30MIN`` and
diive/core/dfun/frames.py:323-393 ``resample_df``) as a declarative
bucket-groupBy that Catalyst can push partial (map-side) aggregation into:

- bins are ``floor((axis - origin) / every)`` over an integer axis
  (sequence position, or unix seconds for timestamps);
- per-bin value count is always computed (pandas ``.count()``,
  resampling.py:88);
- the minimum-count gate is ``mincounts = int(maxcounts * mincounts_perc)``
  where ``maxcounts`` is the maximum number of *grid rows* in any bin of
  the series (resampling.py:76-79); the 30MIN path additionally applies
  the floor rule ``mincounts = 1 if mincounts < 3`` (resampling.py:81-83);
- bin labels: END (label='right', resampling.py:86-93) or START
  (label='left', frames.py:357-360).

Scale notes: the groupBy shuffles on ``(key, bin)`` once; partial
aggregation happens map-side (verified via ``explain`` — HashAggregate
partial/final pair inside WholeStageCodegen).  ``maxcounts`` is derived
from the *already aggregated* (small) bin table with a per-key window —
no second scan of the raw data.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..conventions import KEY_COLS, LABEL_RIGHT

#: partial aggregates that compose losslessly across tiers
PARTIAL_COLS = ("n", "n_grid", "sum", "sumsq", "min", "max")


def with_bin(
    df: DataFrame,
    axis_col: str,
    every: int,
    origin: int = 0,
    label: str = LABEL_RIGHT,
) -> DataFrame:
    """Add ``bin_start``/``bin_end``/``bin_label`` (long) bucket columns."""
    b = F.floor((F.col(axis_col) - F.lit(origin)) / F.lit(every))
    start = (b * every + origin).cast("long")
    end = (start + every).cast("long")
    return (
        df.withColumn("bin_start", start)
        .withColumn("bin_end", end)
        .withColumn("bin_label", end if label == LABEL_RIGHT else start)
    )


def apply_mincount_gate(
    bin_df: DataFrame,
    mincounts_perc: float,
    min_floor_rule: bool = True,
    key_cols: Sequence[str] = KEY_COLS,
) -> DataFrame:
    """Apply diive's min-count gate to an already-aggregated bin table.

    mincounts = int(maxcounts * perc) where maxcounts = max ``n_grid``
    over the series' bins (resampling.py:76-79); floor rule: 1 if < 3
    (resampling.py:81-83); keep bins with ``n >= mincounts``
    (resampling.py:96-97).  Because the gate only needs per-bin counts,
    it can run over stored tier partials at read time — which keeps tier
    composition lossless (gate at tier N must NOT drop bins feeding
    tier N+1, or composed aggregates diverge from direct rollups).
    """
    keys = list(key_cols)
    wk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    maxc = F.max("n_grid").over(wk)
    minc = F.floor(maxc * F.lit(mincounts_perc)).cast("long")
    if min_floor_rule:
        minc = F.when(minc < 3, F.lit(1)).otherwise(minc)
    return (
        bin_df.withColumn("_minc", minc)
        .where(F.col("n") >= F.col("_minc"))
        .drop("_minc")
    )


def percentile_col(q: float, prefix: str = "p") -> str:
    """Column name of the per-bin *q* percentile (0.5 -> ``p50``) — the
    one spelling rollups, tier tables and sketch estimates share."""
    return f"{prefix}{int(round(q * 100)):02d}"


def _sd_from_partials(n: Column, s: Column, ss: Column) -> Column:
    """Sample SD (ddof=1, pandas default — diive/core/dfun/stats.py:87)
    from (count, sum, sum-of-squares) partials."""
    var = (ss - s * s / n) / (n - 1)
    return F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(
        F.lit(None).cast("double")
    )


def _hist_index(v: Column, bounds: tuple[float, float], bins: int) -> Column:
    """0-based fixed-width value-bin index over [lo, hi); clamps
    out-of-range values into the edge bins; null in -> null out."""
    lo, hi = bounds
    width = (hi - lo) / bins
    raw = F.floor((v - F.lit(float(lo))) / F.lit(float(width)))
    return F.when(
        v.isNotNull(),
        F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw)).cast("int"),
    )


def ohlc_partial_aggs(v: Column, ax: Column) -> list:
    """The four OHLC partial aggregates over raw readings — ordering
    masked to non-null values so gaps never claim open/close.  Single
    source of truth shared by ``bucket_rollup(ohlc=True)`` and
    ``analyses.candle_agg`` (their compose paths must stay
    bit-identical)."""
    vax = F.when(v.isNotNull(), ax)
    return [
        F.min_by(v, vax).alias("open"),
        F.max_by(v, vax).alias("close"),
        F.min(vax).cast("long").alias("open_pos"),
        F.max(vax).cast("long").alias("close_pos"),
    ]


def ohlc_compose_aggs() -> list:
    """Fold tier-N OHLC partials into tier N+1: the raw arg-min/arg-max
    reading lives in exactly one sub-bin, so anchor-ordered picks equal
    a direct raw rollup bit-for-bit.  Shared by ``compose_rollup`` and
    ``analyses.compose_candles``."""
    return [
        F.min_by(F.col("open"), F.col("open_pos")).alias("open"),
        F.max_by(F.col("close"), F.col("close_pos")).alias("close"),
        F.min("open_pos").alias("open_pos"),
        F.max("close_pos").alias("close_pos"),
    ]


def hist_percentile_estimate(
    df: DataFrame,
    qs: Sequence[float],
    bounds: tuple[float, float],
    bins: int,
    hist_col: str = "hist",
    prefix: str = "p",
) -> DataFrame:
    """Percentile estimates off a fixed-bin ``hist`` count array
    (``bucket_rollup(hist_bounds=...)`` / composed tiers) — error is
    bounded by one bin width, zero raw re-scan at ANY tier.

    Estimator (continuous-rank): target rank ``t = q * n`` with
    ``q > 0``; the estimate linearly interpolates inside the first bin
    whose cumulative count reaches ``t``.  Error bound: the exact
    rank-``ceil(t)`` order statistic provably lies in that same bin,
    so ``|estimate - that order statistic| <= one bin width`` (for
    un-clamped values).  NOTE the bound is against the order
    statistic (type-1 quantile); *interpolated* quantile definitions
    (pandas/Spark ``percentile``) can additionally differ by the size
    of an empty-value gap between consecutive order statistics.  All
    inputs are integer counts + literals, so the result is
    bit-deterministic across partitionings and engines.  Pure column
    expressions (``slice`` + ``aggregate`` cumulative sums over a
    ``bins``-length array — O(bins²) adds per row, negligible for
    sketch-sized arrays).
    """
    lo, hi = bounds
    width = (hi - lo) / bins
    cum_expr = (
        f"transform(sequence(1, {bins}), i -> "
        f"aggregate(slice({hist_col}, 1, i), CAST(0 AS BIGINT), (a, x) -> a + x))"
    )
    out = df.withColumn("_cum", F.expr(cum_expr))
    n = F.element_at(F.col("_cum"), bins)
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"q must be in (0, 1], got {q}")
        t = F.lit(float(q)) * n.cast("double")
        # first 0-based bin index whose cumulative count reaches t;
        # t > 0 guarantees that bin has a positive count
        idx0 = F.array_min(
            F.expr(
                f"filter(transform(sequence(1, {bins}), "
                f"i -> IF(element_at(_cum, i) >= {float(q)} * "
                f"CAST(element_at(_cum, {bins}) AS DOUBLE), i - 1, NULL)), "
                f"x -> x IS NOT NULL)"
            )
        )
        cum_before = F.when(idx0 == 0, F.lit(0).cast("bigint")).otherwise(
            F.element_at(F.col("_cum"), idx0.cast("int"))
        )
        cnt = F.element_at(F.col(hist_col), (idx0 + 1).cast("int"))
        frac = (t - cum_before.cast("double")) / cnt.cast("double")
        est = F.lit(float(lo)) + (idx0.cast("double") + frac) * F.lit(float(width))
        name = f"{percentile_col(q, prefix)}_est"
        out = out.withColumn(name, F.when(n > 0, est))
    return out.drop("_cum")


def bucket_rollup(
    df: DataFrame,
    every: int,
    axis_col: str = "pos",
    value_col: str = "value",
    key_cols: Sequence[str] = KEY_COLS,
    mincounts_perc: float = 0.9,
    min_floor_rule: bool = True,
    label: str = LABEL_RIGHT,
    origin: int = 0,
    percentiles: Sequence[float] | None = None,
    fingerprint_over: Sequence[str] | None = None,
    percentile_accuracy: int | None = None,
    distinct_col: str | None = None,
    hist_bounds: tuple[float, float] | None = None,
    hist_bins: int = 64,
    ohlc: bool = False,
) -> DataFrame:
    """Downsample a long series table to ``every``-sized bins.

    ``ohlc=True``: adds per-bin ``open``/``close`` (the value at the
    earliest/latest axis position — min/max already serve as low/high)
    plus ``open_pos``/``close_pos`` anchors, in the SAME groupBy.
    Unlike percentiles these COMPOSE upward exactly (picked readings,
    not sums): ``compose_rollup`` folds them via the anchors, so tier
    N+1 candles (and locf seeds for gap-fill) need no raw re-scan.

    ``fingerprint_over``: optional list of columns; adds a per-bin
    ``_fp_h = bit_xor(xxhash64(cols))`` aggregate in the SAME groupBy,
    so a content fingerprint can be derived from the bin table without
    a second scan of the raw series (xor composes upward).  Only
    meaningful with a non-dropping gate (mincounts_perc=0).

    ``percentile_accuracy``: when set, ``percentiles`` use
    ``approx_percentile`` (t-digest-style sketch, error <= 1/accuracy
    in rank) instead of exact buffering — the 100 TB path when a bin
    can hold unboundedly many values (DESIGN_SCALE.md "Percentiles at
    scale"); exact stays the default for pandas bit-parity.

    ``distinct_col``: adds a per-bin ``hll`` Datasketches HLL sketch of
    that column (e.g. distinct users per bin).  UNLIKE percentiles,
    HLL sketches COMPOSE upward losslessly: ``compose_rollup`` unions
    them, so tier N+1's distinct counts need no raw re-scan — read the
    estimate off any tier with ``with_distinct_estimate``.

    ``hist_bounds=(lo, hi)``: adds a per-bin ``hist`` fixed-bin count
    array (``hist_bins`` equal-width value bins over [lo, hi);
    out-of-range values clamp into the edge bins).  Unlike exact or
    t-digest percentiles, these count arrays COMPOSE upward
    LOSSLESSLY — ``compose_rollup(hist_bins=...)`` sums them
    element-wise, so tier N+1 percentile *estimates* (error <= one
    bin width; ``hist_percentile_estimate``) need no raw re-scan.
    This is the mergeable-percentile path for 100 TB tiers where even
    one t-digest per bin cannot be merged by Spark's built-ins.

    Returns one row per (key..., bin) that passes the min-count gate, with
    columns ``bin_start, bin_end, bin_label, n, n_grid, sum, sumsq, min,
    max, mean, sd`` (+ ``p{XX}`` exact percentiles if requested).

    ``n`` counts non-null values (pandas ``.count()``); ``n_grid`` counts
    grid rows (the dummy-1s series of resampling.py:76-77) and feeds the
    ``maxcounts`` derivation.  Gate: ``n >= mincounts`` per series
    (resampling.py:96-97).
    """
    keys = list(key_cols)
    v = F.col(value_col)
    binned = with_bin(df, axis_col, every, origin, label)
    if hist_bounds is not None:
        binned = binned.withColumn(
            "_hidx", _hist_index(v, hist_bounds, hist_bins)
        )

    aggs = [
        F.count(v).alias("n"),
        F.count(F.lit(1)).alias("n_grid"),
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sumsq"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    ]
    if percentiles:
        parr = F.array(*[F.lit(p) for p in percentiles])
        if percentile_accuracy is not None:
            aggs.append(
                F.approx_percentile(
                    v, parr, F.lit(int(percentile_accuracy))
                ).alias("_pcts")
            )
        else:
            aggs.append(F.percentile(v, parr).alias("_pcts"))
    if fingerprint_over:
        aggs.append(
            F.bit_xor(F.xxhash64(*fingerprint_over)).alias("_fp_h")
        )
    if distinct_col:
        aggs.append(F.hll_sketch_agg(F.col(distinct_col)).alias("hll"))
    if ohlc:
        aggs += ohlc_partial_aggs(v, F.col(axis_col))
    if hist_bounds is not None:
        # one conditional-count aggregate per value bin, assembled into
        # an array — stays inside the same (single-shuffle) groupBy and
        # composes map-side like every other partial
        aggs.append(
            F.array(
                *[
                    F.coalesce(
                        F.sum((F.col("_hidx") == i).cast("long")), F.lit(0)
                    )
                    for i in range(hist_bins)
                ]
            ).alias("hist")
        )
    agg = binned.groupBy(*keys, "bin_start", "bin_end", "bin_label").agg(*aggs)

    out = (
        apply_mincount_gate(agg, mincounts_perc, min_floor_rule, keys)
        .withColumn("mean", F.when(F.col("n") > 0, F.col("sum") / F.col("n")))
        .withColumn("sd", _sd_from_partials(F.col("n"), F.col("sum"), F.col("sumsq")))
    )
    if percentiles:
        for i, p in enumerate(percentiles):
            out = out.withColumn(percentile_col(p), F.col("_pcts")[i])
        out = out.drop("_pcts")
    return out


def calendar_rollup(
    df: DataFrame,
    freq: str,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: Sequence[str] = (),
    mincounts_perc: float = 0.0,
    min_floor_rule: bool = False,
) -> DataFrame:
    """Calendar-frequency resample with diive's conventions
    (resample_df, frames.py:353-362): weekly/monthly/yearly bins are
    closed+labelled RIGHT (stamp = period end; weeks anchor Monday,
    resampling.py:38); day/hour bins closed+labelled LEFT.

    freq ∈ {'hour','day','week','month','year'}.  Output: per (key, bin)
    partials + mean/sd, ``bin_label`` = the convention-correct stamp.
    """
    keys = list(key_cols)
    t = F.col(ts_col)
    trunc = {"hour": "hour", "day": "day", "week": "week",
             "month": "month", "year": "year"}[freq]
    start = F.date_trunc(trunc, t)
    if freq in ("week", "month", "year"):
        # RIGHT label: end of period (pandas 'W'/'M'/'A' default)
        interval = {"week": "7 days", "month": "1 month", "year": "1 year"}[freq]
        label = (start + F.expr(f"INTERVAL {interval}")).cast("timestamp")
    else:
        label = start  # LEFT label for T/H/D
    v = F.col(value_col)
    agg = df.groupBy(*keys, start.alias("bin_start"), label.alias("bin_label")).agg(
        F.count(v).alias("n"),
        F.count(F.lit(1)).alias("n_grid"),
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sumsq"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    )
    return (
        apply_mincount_gate(agg, mincounts_perc, min_floor_rule, keys)
        .withColumn("mean", F.when(F.col("n") > 0, F.col("sum") / F.col("n")))
        .withColumn("sd", _sd_from_partials(F.col("n"), F.col("sum"), F.col("sumsq")))
    )


def with_distinct_estimate(
    tier_df: DataFrame, out_col: str = "n_distinct"
) -> DataFrame:
    """Materialize the HLL sketch column into a distinct-count estimate
    (read-time; the sketch itself stays composable)."""
    return tier_df.withColumn(out_col, F.hll_sketch_estimate(F.col("hll")))


def aggregated_as_hires(
    df: DataFrame,
    bucket: int,
    agg: str = "mean",
    axis_col: str = "pos",
    value_col: str = "value",
    key_cols: Sequence[str] = KEY_COLS,
    offset: int = 0,
    out_col: str | None = None,
) -> DataFrame:
    """Aggregate to coarse buckets and broadcast the aggregate back onto
    every hi-res row (reference ``aggregated_as_hires``,
    diive/core/dfun/frames.py:37-91, and the offset variant
    ``insert_aggregated_in_hires`` :94-128 — its per-row Python loop
    collapses into a single window aggregate).  ``offset`` shifts the
    bucket boundary (e.g. day defined 07:00->06:59)."""
    keys = list(key_cols)
    out_col = out_col or f"{value_col}_{agg}{bucket}"
    b = F.floor((F.col(axis_col) - offset) / bucket)
    w = Window.partitionBy(*keys, b)
    v = F.col(value_col)
    fns = {
        "mean": F.avg(v), "sum": F.sum(v), "min": F.min(v),
        "max": F.max(v), "median": F.percentile(v, F.lit(0.5)),
    }
    return df.withColumn(out_col, fns[agg].over(w))


def create_random_gaps(
    df: DataFrame,
    frac: float = 0.1,
    seed: int = 42,
    value_col: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """Punch seeded random NULLs (test helper; reference
    diive/core/dfun/frames.py:209-213)."""
    out_col = out_col or value_col
    return df.withColumn(
        out_col,
        F.when(F.rand(seed) < frac, F.lit(None).cast("double")).otherwise(
            F.col(value_col)
        ),
    )


def compose_rollup(
    tier_df: DataFrame,
    every: int,
    key_cols: Sequence[str] = KEY_COLS,
    mincounts_perc: float = 0.9,
    min_floor_rule: bool = True,
    label: str = LABEL_RIGHT,
    origin: int = 0,
    hist_bins: int | None = None,
) -> DataFrame:
    """Build tier N+1 from tier N **partials only** — no raw re-scan.

    count/sum/sumsq/min/max compose losslessly (SURVEY.md §7.1 M2);
    mean/SD are re-derived from the composed partials, so they equal a
    direct rollup of the raw series bit-for-bit up to float summation
    order.  ``every`` is in raw-axis units and must be a multiple of the
    input tier's bin width.

    When tier N carries a ``hist`` fixed-bin count array
    (``bucket_rollup(hist_bounds=...)``), pass ``hist_bins`` to compose
    it element-wise — integer sums, so composed histograms equal a
    direct rollup of the raw data BIT-FOR-BIT (tested), and percentile
    estimates (``hist_percentile_estimate``) are served off any tier.
    """
    keys = list(key_cols)
    if "hist" in tier_df.columns and hist_bins is None:
        raise ValueError(
            "tier carries a 'hist' sketch column: pass hist_bins=<n> to "
            "compose it (or drop('hist') explicitly)"
        )
    binned = with_bin(tier_df, "bin_start", every, origin, label)
    aggs = [
        F.sum("n").alias("n"),
        F.sum("n_grid").alias("n_grid"),
        F.sum("sum").alias("sum"),
        F.sum("sumsq").alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    ]
    if "hll" in tier_df.columns:
        # HLL distinct sketches union losslessly — the one per-bin
        # statistic beyond the moment partials that composes upward
        aggs.append(F.hll_union_agg(F.col("hll")).alias("hll"))
    if "open" in tier_df.columns:
        aggs += ohlc_compose_aggs()
    if "hist" in tier_df.columns:
        # element-wise integer sum: lossless histogram composition
        aggs.append(
            F.array(
                *[F.sum(F.col("hist")[i]) for i in range(int(hist_bins))]
            ).alias("hist")
        )
    agg = binned.groupBy(*keys, "bin_start", "bin_end", "bin_label").agg(*aggs)
    return (
        apply_mincount_gate(agg, mincounts_perc, min_floor_rule, keys)
        .withColumn("mean", F.when(F.col("n") > 0, F.col("sum") / F.col("n")))
        .withColumn("sd", _sd_from_partials(F.col("n"), F.col("sum"), F.col("sumsq")))
    )


def tokens_array_rollup(
    tokens_df: DataFrame,
    every: int = 60,
    thres: float | None = None,
    na_sentinel: float | int | None = None,
    tokens_col: str = "tokens",
    key_cols: Sequence[str] = ("source", "doc_id"),
) -> DataFrame:
    """Explode-free first-tier ingest for the tokens payload: because a
    doc IS a series and bins are ``pos // every``, each bin's readings
    are a CONTIGUOUS SLICE of the token array — so the 1m partials
    (n, n_grid, sum, sumsq, min, max) are computed row-locally with
    array expressions and only ~n_tok/every partial rows ever reach
    the rollup exchange, instead of n_tok exploded readings (60x less
    shuffle input at every=60; at 10^12 sequences the explode is the
    dominant ingest cost).

    ``thres``: optional fused z-score gate — same row-local population
    stats as ``outliers.zscore_flag_tokens`` (the doc is the
    population); readings with ``|z| > thres`` are excluded exactly as
    flag==2 readings are nulled in the explode pipeline.
    ``na_sentinel`` readings count toward ``n_grid`` but never ``n``
    (they are the null gaps).

    Output schema matches ``bucket_rollup(mincounts_perc=0,
    min_floor_rule=False)`` on the exploded series — same partials,
    same bin columns, composable by ``compose_rollup``.  Sums fold
    sequentially per chunk, so results are bit-stable across
    partitionings (the hash aggregate's combine order is not);
    vs the explode path they agree to float-sum reordering (~1 ulp).
    """
    keys = list(key_cols)
    toks = F.col(tokens_col)
    sent = None if na_sentinel is None else F.lit(na_sentinel)

    def _obs(arr):
        """readings that exist (sentinel dropped), as double"""
        base = (
            F.filter(arr, lambda x: x != sent) if sent is not None else arr
        )
        return F.transform(base, lambda x: x.cast("double"))

    vals = _obs(toks)
    if thres is not None:
        n = F.size(vals)
        dsum = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
        dss = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x * x)
        mean = F.try_divide(dsum, n)
        var = F.try_divide(dss, n) - mean * mean
        sd = F.sqrt(F.greatest(var, F.lit(0.0)))
        staged = (
            tokens_df.withColumn("_m", mean).withColumn("_s", sd)
        )
        t = F.lit(float(thres))

        def _keep(arr):
            # EXACT same comparison form as zscore_flag_tokens (reject
            # |(v - mean) / sd| > thres): the algebraically equivalent
            # mean ± thres*sd bounds round differently in float64 at
            # the boundary, which would gate a boundary reading
            # differently than the explode pipeline.  sd==0 keeps
            # everything (z undefined -> flag 0 via try_divide there).
            return F.when(
                F.col("_s") > 0,
                F.filter(
                    arr,
                    lambda x: ~(
                        F.abs((x - F.col("_m")) / F.col("_s")) > t
                    ),
                ),
            ).otherwise(arr)
    else:
        staged = tokens_df

        def _keep(arr):
            return arr

    n_chunks = F.ceil(F.size(toks) / F.lit(every)).cast("int")
    # sequence(0, -1) would infer a DESCENDING step for an empty doc —
    # guard to an empty chunk list instead
    idxs = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.transform(
        idxs,
        lambda i: F.struct(
            (i * every).cast("long").alias("bin_start"),
            F.size(F.slice(toks, i * every + 1, every)).cast("long")
            .alias("n_grid"),
            _keep(_obs(F.slice(toks, i * every + 1, every))).alias("_f"),
        ),
    )
    ex = staged.select(
        *keys, F.explode(chunk).alias("_c")
    ).select(
        *keys,
        F.col("_c.bin_start").alias("bin_start"),
        (F.col("_c.bin_start") + every).alias("bin_end"),
        (F.col("_c.bin_start") + every).alias("bin_label"),
        F.col("_c.n_grid").alias("n_grid"),
        F.col("_c._f").alias("_f"),
    )
    f = F.col("_f")
    out = ex.select(
        *keys, "bin_start", "bin_end", "bin_label",
        F.size(f).cast("long").alias("n"),
        F.col("n_grid"),
        F.aggregate(f, F.lit(0.0), lambda a, x: a + x).alias("sum"),
        F.aggregate(f, F.lit(0.0), lambda a, x: a + x * x).alias("sumsq"),
        F.array_min(f).alias("min"),
        F.array_max(f).alias("max"),
    )
    return (
        out.withColumn("sum", F.when(F.col("n") > 0, F.col("sum")))
        .withColumn("sumsq", F.when(F.col("n") > 0, F.col("sumsq")))
        .withColumn("mean", F.when(F.col("n") > 0, F.col("sum") / F.col("n")))
        .withColumn(
            "sd", _sd_from_partials(F.col("n"), F.col("sum"), F.col("sumsq"))
        )
    )


def tokens_array_rollup_kernel(
    tokens_df: DataFrame,
    every: int = 60,
    thres: float | None = None,
    na_sentinel: float | int | None = None,
    tokens_col: str = "tokens",
    key_cols: Sequence[str] = ("source", "doc_id"),
) -> DataFrame:
    """Opt-in Arrow/numpy twin of :func:`tokens_array_rollup` (the
    LocalSD-kernel precedent): same explode-free tier-1 ingest — z-gate
    + 1m partials computed row-locally, only chunk partials reach any
    exchange — but the per-chunk folds run as ``np.add.reduceat`` /
    ``np.minimum.reduceat`` over the batch's flattened token buffer
    inside ``mapInPandas``, instead of Catalyst higher-order array
    lambdas (which evaluate per element).  Fully vectorized: no
    per-doc Python loop; one concatenate + a handful of reduceats per
    Arrow batch.

    Parity vs the JVM path: n / n_grid / min / max / null positions are
    EXACT; sum / sumsq / mean / sd agree to float-summation reordering
    (numpy pairwise vs sequential fold, ~1 ulp — same caveat the JVM
    path carries vs the explode pipeline).  Output is deterministic
    across partitionings (per-doc computation, no cross-row state).

    MEASURED (134.7M tokens, local[8], warm): kernel 20.1s vs JVM
    16.8s full-cascade wall, identical checksums — Arrow serialization
    of the token arrays into Python outweighs the reduceat win, so the
    JVM array-expression path stays the DEFAULT and this kernel exists
    as the measured counter-example (the LocalSD kernel went the other
    way: there the per-row work was heavy enough to pay for transfer).
    Measure, don't guess.
    """
    import numpy as np
    import pandas as pd

    keys = list(key_cols)
    key_fields = {f.name: f.dataType.simpleString()
                  for f in tokens_df.schema.fields}
    out_schema = (
        ", ".join(f"{k} {key_fields[k]}" for k in keys)
        + ", bin_start long, bin_end long, bin_label long, n long, "
          "n_grid long, sum double, sumsq double, min double, "
          "max double, mean double, sd double"
    )
    ev = int(every)
    sent = None if na_sentinel is None else float(na_sentinel)
    t = None if thres is None else float(thres)

    def _batches(it):
        for pdf in it:
            toks = pdf[tokens_col]
            # null arrays behave like the JVM twin: no chunks emitted
            lens = np.fromiter(
                (0 if a is None else len(a) for a in toks),
                dtype=np.int64, count=len(toks),
            )
            nz = lens > 0
            if not nz.any():
                continue
            arrs = [np.asarray(a) for a, keep in zip(toks, nz) if keep]
            pdf = pdf[nz.tolist()].reset_index(drop=True)
            lens = lens[nz]
            flat = np.concatenate(arrs).astype(np.float64)
            ndoc = len(lens)
            doc_starts = np.zeros(ndoc, dtype=np.int64)
            np.cumsum(lens[:-1], out=doc_starts[1:])
            doc_idx = np.repeat(np.arange(ndoc), lens)
            pos = np.arange(flat.size, dtype=np.int64) - doc_starts[doc_idx]

            obs = np.ones(flat.size, dtype=bool) if sent is None else (
                flat != sent
            )
            if t is not None:
                ov = np.where(obs, flat, 0.0)
                n_obs = np.add.reduceat(obs.astype(np.float64), doc_starts)
                dsum = np.add.reduceat(ov, doc_starts)
                dss = np.add.reduceat(ov * ov, doc_starts)
                with np.errstate(divide="ignore", invalid="ignore"):
                    mean_d = dsum / n_obs
                    var_d = np.maximum(dss / n_obs - mean_d * mean_d, 0.0)
                sd_d = np.sqrt(var_d)
                m_el = mean_d[doc_idx]
                s_el = sd_d[doc_idx]
                with np.errstate(divide="ignore", invalid="ignore"):
                    # same comparison form as the JVM gate: reject
                    # |(v - mean)/sd| > thres only where sd > 0
                    z_bad = (s_el > 0) & (
                        np.abs((flat - m_el) / np.where(s_el > 0, s_el, 1.0))
                        > t
                    )
                keep = obs & ~z_bad
            else:
                keep = obs

            ch_mask = (pos % ev) == 0
            ch_starts = np.flatnonzero(ch_mask)
            ch_doc = doc_idx[ch_starts]
            bin_start = pos[ch_starts]
            n_grid = np.diff(np.append(ch_starts, flat.size))
            # a chunk never spans docs: doc boundaries are chunk starts
            kf = keep.astype(np.float64)
            kv = np.where(keep, flat, 0.0)
            n = np.add.reduceat(kf, ch_starts)
            s = np.add.reduceat(kv, ch_starts)
            ss = np.add.reduceat(kv * kv, ch_starts)
            mn = np.minimum.reduceat(np.where(keep, flat, np.inf), ch_starts)
            mx = np.maximum.reduceat(np.where(keep, flat, -np.inf), ch_starts)
            nonempty = n > 0
            with np.errstate(divide="ignore", invalid="ignore"):
                mean_c = s / n
                var_c = (ss - s * s / n) / np.maximum(n - 1, 1)
            sd_c = np.sqrt(np.maximum(var_c, 0.0))
            sd_valid = n >= 2

            def _nullable(x, mask):
                a = pd.array(x, dtype="Float64")
                a[~mask] = pd.NA
                return a

            out = {
                k: pdf[k].to_numpy()[ch_doc] for k in keys
            }
            out.update({
                "bin_start": bin_start,
                "bin_end": bin_start + ev,
                "bin_label": bin_start + ev,
                "n": n.astype(np.int64),
                "n_grid": n_grid,
                "sum": _nullable(s, nonempty),
                "sumsq": _nullable(ss, nonempty),
                "min": _nullable(np.where(nonempty, mn, np.nan), nonempty),
                "max": _nullable(np.where(nonempty, mx, np.nan), nonempty),
                "mean": _nullable(mean_c, nonempty),
                "sd": _nullable(np.where(sd_valid, sd_c, np.nan), sd_valid),
            })
            yield pd.DataFrame(out)

    cols = keys + [tokens_col]
    return tokens_df.select(*cols).mapInPandas(_batches, schema=out_schema)
