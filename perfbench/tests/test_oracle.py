import math

import numpy as np
import pytest

import oracle

NA = oracle.NA_SENTINEL


def test_bin_stats_by_hand():
    st = oracle.bin_stats(np.array([1, 2, NA, 4, NA, NA], dtype=np.int32), every=2)
    assert sorted(st) == [0, 2, 4]
    b0 = st[0]
    assert (b0["n"], b0["n_grid"], b0["sum"], b0["min"], b0["max"]) == (2, 2, 3.0, 1.0, 2.0)
    assert b0["mean"] == 1.5 and b0["sd"] == pytest.approx(math.sqrt(0.5))
    assert (b0["p25"], b0["p50"], b0["p75"], b0["p95"]) == pytest.approx((1.25, 1.5, 1.75, 1.95))
    assert st[2]["n"] == 1 and st[2]["sd"] is None and st[2]["p50"] == 4.0
    assert st[4] == {"n": 0, "n_grid": 2, "sum": None, "min": None, "max": None, "mean": None,
                     "sd": None, "p25": None, "p50": None, "p75": None, "p95": None}


def test_compare_bins_flags_mismatches():
    toks = np.arange(10, dtype=np.int32)
    exp = oracle.bin_stats(toks, 4)
    rows = [dict(v, bin_start=b) for b, v in exp.items()]
    assert oracle.compare_bins("d", "t", exp, rows) == []
    rows[1] = dict(rows[1], mean=rows[1]["mean"] * (1 + 1e-12))  # within tolerance
    assert oracle.compare_bins("d", "t", exp, rows) == []
    rows[1] = dict(rows[1], n=rows[1]["n"] + 1)                  # exact column
    rows[2] = dict(rows[2], p95=rows[2]["p95"] + 0.5)
    bad = oracle.compare_bins("d", "t", exp, rows)
    assert len(bad) == 2 and "n " in bad[0] and "p95" in bad[1]
    assert oracle.compare_bins("d", "t", exp, rows[:2])  # missing bin


def test_gated_read_drops_sparse_bins():
    # 16-wide bins; max n_grid 16 -> mincounts floor(16 * .25) = 4
    toks = np.array(list(range(16)) + [7, 8] + [NA] * 14, dtype=np.int32)
    ans = oracle.gated_read_answer({"d": toks}, every=16)
    assert ans == {"d": (1, 16, 16, float(sum(range(16))), 0.0, 15.0)}
    # short docs: mincounts below 3 is raised to 1, so any non-empty bin stays
    ans = oracle.gated_read_answer({"e": np.array([5, NA, NA, 6], dtype=np.int32)}, every=2)
    assert ans == {"e": (2, 2, 4, 11.0, 5.0, 6.0)}
    assert oracle.compare_answer("r", ans, {"e": (2, 2, 4, 11.0, 5.0, 6.0)}) == []
    assert oracle.compare_answer("r", ans, {"e": (2, 2, 4, 12.0, 5.0, 6.0)})
    assert oracle.compare_answer("r", ans, {})


def test_qc_expected_flags_fills_and_runs():
    v = np.full(40, 100, dtype=np.int32)
    v[::2] = 110                       # sd > 0
    v[20] = 100000                     # spike: z > 4, becomes a gap
    v[5:7] = NA                        # interior run of 2: filled
    v[10:14] = NA                      # run of 4 > limit: left unfilled
    v[0] = NA                          # edge run: no left neighbour
    exp = oracle.qc_expected(v)
    assert exp["flag"][20] == 2 and exp["flag"][0] == -1 and exp["flag"][1] == 0
    assert exp["fill_flag"][5] == 1 and exp["fill"][5] == pytest.approx(110 + (100 - 110) / 3)
    assert exp["fill"][6] == pytest.approx(110 + 2 * (100 - 110) / 3)
    assert exp["fill_flag"][20] == 1 and exp["fill"][20] == pytest.approx(100)
    assert exp["fill_flag"][11] == -1 and np.isnan(exp["fill"][11])
    assert exp["fill_flag"][0] == -1
    assert exp["runs"] == [(0, 0, 1), (5, 6, 2), (10, 13, 4), (20, 20, 1)]


def test_compare_qc_round_trip_and_mismatch():
    v = np.array([3, NA, 5, 9, 8, NA, NA, NA, NA, 2], dtype=np.int32)
    exp = oracle.qc_expected(v)
    rows = [(p, None if exp["flag"][p] < 0 else int(exp["flag"][p]),
             None if np.isnan(exp["fill"][p]) else float(exp["fill"][p]),
             None if exp["fill_flag"][p] < 0 else int(exp["fill_flag"][p])) for p in range(len(v))]
    gaps = list(exp["runs"])
    assert exp["fill"][1] == 4.0 and gaps == [(1, 1, 1), (5, 8, 4)]
    assert oracle.compare_qc("d", exp, rows, gaps) == []
    assert oracle.compare_qc("d", exp, rows[:1] + [(1, None, 4.5, 1)] + rows[2:], gaps)
    assert oracle.compare_qc("d", exp, rows[:-1], gaps)
    assert oracle.compare_qc("d", exp, rows, gaps[:1])
