"""Differential wave 49 (round 9): resample calendar-frequency corners.

Found by the resample fuzz (random timestamps incl. pre-1970 ×
freq × closed × label × agg matrix vs the reference):

1. **resample().std()/var() crashed** — XResample._agg's override
   didn't accept the `_pre` demeaning hook the grouped-variance
   rewrite added (no test covered resample std; the fuzz did).
2. **Calendar label matrix**: ME with label='left' must label the
   PREVIOUS month-end (May 31 for the June block, pandas bin edges
   are month-ends), and MS with label='right' the NEXT month-start —
   the engine labeled month-starts/month-ends respectively.
3. **Multi-month anchoring**: pandas anchors nMS/nME/nQS/nQE/nYS bins
   at the FIRST point's unit block (origin='start_day'), not at epoch
   multiples — 3MS over data starting in March bins Mar/Jun/Sep…,
   2QE ends Mar 31/Sep 30/… (the anchor QUARTER's last month).
"""

import sys
import warnings

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/reference")
xr = pytest.importorskip("xarray")

from xarray_spark import XDataset  # noqa: E402

warnings.filterwarnings("ignore")

TS = pd.to_datetime(["2001-03-15", "2001-05-02", "2001-08-20",
                     "2002-01-10"])
VALS = [1.0, 2.0, 3.0, 4.0]


def _pair(spark, ts=TS, vals=VALS):
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": ts, "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t", coords={"t": ts})
    return eng, ref


def _nonempty(labels, values):
    return [(pd.Timestamp(l).date(), float(v))
            for l, v in zip(labels, values)
            if v is not None and float(v) == float(v)]


def _compare(eng, ref, freq, **kw):
    r = ref.resample(t=freq, **kw).sum()
    g = eng.resample({"t": freq}, **kw).sum().to_pandas().sort_values("t")
    exp = _nonempty(r["t"].values, r.values)
    got = _nonempty(g["t"].tolist(), g["v"].tolist())
    assert got == exp, (freq, kw, got, exp)


@pytest.mark.parametrize("freq", ["3MS", "3ME", "2QS", "2QE", "2YS",
                                  "6MS", "1MS", "1ME", "1QE", "2YE"])
def test_resample_calendar_freq_matrix(spark, freq):
    eng, ref = _pair(spark)
    _compare(eng, ref, freq)


@pytest.mark.parametrize("freq,label", [("1MS", "left"), ("1MS", "right"),
                                        ("1ME", "left"), ("1ME", "right"),
                                        ("3MS", "left"), ("3MS", "right"),
                                        ("3ME", "left"), ("3ME", "right")])
def test_resample_calendar_label_matrix(spark, freq, label):
    eng, ref = _pair(spark)
    _compare(eng, ref, freq, label=label)


def test_resample_std_var_run(spark):
    # the _pre-hook crash: resample().std()/var() must run and match
    ts = pd.date_range("1969-06-01", periods=12, freq="9h")
    vals = np.arange(12.0)
    vals[3] = np.nan
    eng, ref = _pair(spark, ts, vals.tolist())
    for op in ("std", "var"):
        r = getattr(ref.resample(t="1D"), op)()
        g = (getattr(eng.resample({"t": "1D"}), op)()
             .to_pandas().sort_values("t"))
        np.testing.assert_allclose(
            g["v"].to_numpy(float), np.asarray(r.values, float),
            rtol=1e-9, atol=1e-12, equal_nan=True)


def test_resample_multimonth_pre1970(spark):
    ts = pd.to_datetime(["1965-02-10", "1965-04-20", "1965-09-01"])
    eng, ref = _pair(spark, ts, [1.0, 2.0, 3.0])
    for freq in ("3MS", "2QS"):
        _compare(eng, ref, freq)


WEEK_TS = pd.to_datetime(["1969-05-14", "2001-03-14", "2001-03-18",
                          "2001-03-25"])


@pytest.mark.parametrize("kw", [{}, {"closed": "right"},
                                {"label": "right"}, {"closed": "left"},
                                {"label": "left"},
                                {"closed": "left", "label": "left"}])
def test_resample_weekly_closed_label_matrix(spark, kw):
    # the old guard raised even on the explicit spelling of the pandas
    # W defaults (closed='right', label='right'); the left variants are
    # a next-bin membership shift and a one-anchor label shift
    eng, ref = _pair(spark, WEEK_TS, VALS)
    _compare(eng, ref, "1W", **kw)


@pytest.mark.parametrize("freq", ["2W", "3W", "2W-WED", "1W-WED"])
def test_resample_multiweek_anchoring(spark, freq):
    # pandas nW bins are anchored weeks stepped n from the FIRST
    # point's anchor day, not epoch-tumbling 7n-day windows
    eng, ref = _pair(spark, WEEK_TS, VALS)
    _compare(eng, ref, freq)


def test_dt_round_subsecond_fractions(spark):
    # round-9 fuzz find: unix_timestamp dropped the sub-second fraction
    # BEFORE rounding (10.80 rounded to :10; pre-1970 fractions
    # truncated the other way) — dt.round now bins exact microseconds
    ts = pd.to_datetime(["1954-05-26 22:03:37.326511",
                         "2016-06-21 20:16:10.801300",
                         "1963-06-14 13:00:31.187431",
                         "2001-01-01 00:00:00.500000",
                         "2001-01-01 00:00:01.500000"], format="mixed")
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(len(ts)), "d": ts})), dims=["t"])
    ref = xr.DataArray(ts.values, dims="t", coords={"t": range(len(ts))})
    for unit in ("s", "min", "h"):
        r = ref.dt.round(unit).values.astype("datetime64[us]")
        g = (eng["d"].dt.round(unit).to_pandas().sort_values("t")
             .iloc[:, -1])
        gv = np.array([np.datetime64(pd.Timestamp(x), "us") for x in g])
        np.testing.assert_array_equal(gv, r)
