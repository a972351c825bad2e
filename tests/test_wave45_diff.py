"""Differential wave 45 (round 9): the catastrophic-cancellation corner
class, swept across EVERY surface that interpolates — the round-8 lerp
find said this class was under-tested wherever two values blend.

Ground truth: the reference xarray (imported from /root/reference)
where it runs without scipy — quantile (np.quantile), median family
(np.nanmedian), weighted quantile (_weighted_quantile_1d),
interpolate_na linear/nearest (NumpyInterpolator).  interp() and
resample().interpolate() NEED scipy in the reference (absent in this
runtime), so their linear blends are diffed against np.interp — the
formula scipy interp1d reduces to for 1-d linear.

Data class: near-symmetric mixed-sign large magnitudes ({1e6,
-999999.9999999999} and friends), where a one-sided lerp loses the
smaller operand's low-order bits.
"""

import sys
import warnings

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/reference")
try:
    import xarray as xr  # noqa: E402
except ImportError:  # the reference package is optional
    xr = None

from xarray_spark import XDataset, set_options  # noqa: E402

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")

warnings.filterwarnings("ignore")

# the cancellation-rich value pool: every adjacent sorted pair is a
# potential catastrophic cancellation under interpolation
CANCEL = [1e6, -999999.9999999999, 999999.9999999999, -1e6,
          0.0, 3.0, -3.0, 7.0, 2.5e5, -2.4999999999999997e5]

ALL_METHODS = ["linear", "lower", "higher", "nearest", "midpoint",
               "inverted_cdf", "averaged_inverted_cdf",
               "closest_observation", "interpolated_inverted_cdf",
               "hazen", "weibull", "median_unbiased", "normal_unbiased"]

QS = [0.0, 0.1, 0.25, 0.5, 0.63, 0.75, 0.9, 1.0]


def _eng_ds(spark, vals, keys=None):
    pdf = pd.DataFrame({"t": range(len(vals)), "v": vals})
    if keys is not None:
        pdf["k"] = keys
        return XDataset(spark.createDataFrame(pdf), dims=["t"],
                        coords={"k": ("t",)})
    return XDataset(spark.createDataFrame(pdf), dims=["t"])


# --------------------------------------------------------------------- #
# 1. ungrouped quantile — all 13 methods, bit-exact vs reference
# --------------------------------------------------------------------- #

@needs_xr
@pytest.mark.parametrize("method", ALL_METHODS)
def test_quantile_cancellation_all_methods(spark, method):
    ds = _eng_ds(spark, CANCEL)
    got = (ds.quantile(QS, method=method).to_pandas()
           .sort_values("quantile")["v"].to_numpy())
    ref = xr.DataArray(CANCEL, dims=["t"]).quantile(QS, method=method)
    np.testing.assert_array_equal(got, ref.values)


# --------------------------------------------------------------------- #
# 2. grouped quantile (buffer plan, the default) — vs reference groupby
# --------------------------------------------------------------------- #

@needs_xr
@pytest.mark.parametrize("method", ["linear", "midpoint", "hazen",
                                    "median_unbiased", "weibull",
                                    "interpolated_inverted_cdf"])
def test_groupby_quantile_cancellation(spark, method):
    keys = [i % 3 for i in range(len(CANCEL))]
    ds = _eng_ds(spark, CANCEL, keys)
    got = (ds.groupby("k").quantile([0.25, 0.5, 0.75], method=method)
           .to_pandas().sort_values(["k", "quantile"])["v"].to_numpy())
    ref = (xr.DataArray(CANCEL, dims=["t"],
                        coords={"k": ("t", keys)})
           .groupby("k").quantile([0.25, 0.5, 0.75], method=method))
    np.testing.assert_array_equal(
        got, ref.transpose("k", "quantile").values.ravel())


# --------------------------------------------------------------------- #
# 3. median family — np.nanmedian semantics, bit-exact vs reference
# --------------------------------------------------------------------- #

@needs_xr
def test_median_cancellation(spark):
    ds = _eng_ds(spark, CANCEL)
    got = float(ds.median().to_pandas()["v"].iloc[0])
    ref = float(xr.DataArray(CANCEL, dims=["t"]).median())
    assert got == ref


@needs_xr
def test_groupby_median_cancellation(spark):
    keys = [i % 2 for i in range(len(CANCEL))]
    ds = _eng_ds(spark, CANCEL, keys)
    got = (ds.groupby("k").median().to_pandas()
           .sort_values("k")["v"].to_numpy())
    ref = (xr.DataArray(CANCEL, dims=["t"], coords={"k": ("t", keys)})
           .groupby("k").median())
    np.testing.assert_array_equal(got, ref.values)


@needs_xr
@pytest.mark.parametrize("w", [2, 3, 4])
def test_rolling_median_cancellation(spark, w):
    ds = _eng_ds(spark, CANCEL)
    got = (ds.rolling(t=w).median().to_pandas()
           .sort_values("t")["v"].to_numpy())
    ref = (xr.DataArray(CANCEL, dims=["t"]).rolling(t=w).median()
           .values)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(ref))
    m = ~np.isnan(ref)
    np.testing.assert_array_equal(got[m], ref[m])


@needs_xr
def test_coarsen_median_cancellation(spark):
    ds = _eng_ds(spark, CANCEL)
    got = (ds.coarsen(t=2).median().to_pandas()
           .sort_values("t")["v"].to_numpy())
    ref = (xr.DataArray(CANCEL, dims=["t"],
                        coords={"t": range(len(CANCEL))})
           .coarsen(t=2).median().values)
    np.testing.assert_array_equal(got, ref)


@needs_xr
def test_grouped_median_hist_and_midbin_plans_cancellation(spark):
    """The distributed median plans (hist, midbin) carry the same
    np.nanmedian mean-of-middles as the buffer plan."""
    keys = [i % 2 for i in range(len(CANCEL))]
    ds = _eng_ds(spark, CANCEL, keys)
    ref = (xr.DataArray(CANCEL, dims=["t"], coords={"k": ("t", keys)})
           .groupby("k").median())
    for plan in ("hist", "midbin"):
        with set_options(grouped_quantile_plan=plan):
            got = (ds.groupby("k").median().to_pandas()
                   .sort_values("k")["v"].to_numpy())
        np.testing.assert_array_equal(got, ref.values)


# --------------------------------------------------------------------- #
# 4. weighted quantile — vs the reference's _weighted_quantile_1d
# --------------------------------------------------------------------- #

@needs_xr
@pytest.mark.parametrize("q", [0.1, 0.25, 0.5, 0.75, 0.9])
@pytest.mark.parametrize("wpat", ["uniform", "ramp"],
                         ids=["w-uniform", "w-ramp"])
def test_weighted_quantile_cancellation(spark, q, wpat):
    n = len(CANCEL)
    wts = [1.0] * n if wpat == "uniform" else [1.0 + i % 3 for i in range(n)]
    pdf = pd.DataFrame({"t": range(n), "v": CANCEL, "w": wts})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    eng = ds.drop_vars("w").weighted(ds["w"]).quantile(q)
    got = float(eng.to_pandas()["v"].iloc[0])
    ref = float(xr.DataArray(CANCEL, dims=["t"])
                .weighted(xr.DataArray(wts, dims=["t"])).quantile(q))
    # the estimator is a weighted SUM over CDF windows, not a 2-point
    # lerp — summation order may differ, so exact-or-1ulp
    np.testing.assert_allclose(got, ref, rtol=3e-16, atol=0)


# --------------------------------------------------------------------- #
# 5. interpolate_na linear/nearest — vs the reference NumpyInterpolator
# --------------------------------------------------------------------- #

GAP_CASES = [
    # (values with NaN gaps, coords)
    ([1e6, np.nan, -999999.9999999999], [0.0, 1.0, 2.0]),
    ([1e6, np.nan, np.nan, -999999.9999999999], [0.0, 1.0, 2.0, 3.0]),
    ([-999999.9999999999, np.nan, 1e6, np.nan, -1e6],
     [0.0, 1.0, 2.0, 3.0, 4.0]),
    # non-uniform spacing exercises the x-fraction too
    ([1e6, np.nan, -999999.9999999999], [0.0, 0.3, 1.0]),
    ([999999.9999999999, np.nan, -1e6], [-5.0, 2.5, 10.0]),
]


@needs_xr
@pytest.mark.parametrize("vals,xs", GAP_CASES,
                         ids=[f"gap{i}" for i in range(len(GAP_CASES))])
def test_interpolate_na_linear_cancellation(spark, vals, xs):
    """linear: reference NumpyInterpolator == np.interp, bit-exact."""
    pdf = pd.DataFrame({"t": xs, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.interpolate_na("t", method="linear").to_pandas()
           .sort_values("t")["v"].to_numpy())
    ref = (xr.DataArray(vals, dims=["t"], coords={"t": xs})
           .interpolate_na("t", method="linear").values)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(ref))
    m = ~np.isnan(ref)
    np.testing.assert_array_equal(got[m], ref[m])


@pytest.mark.parametrize("vals,xs", GAP_CASES,
                         ids=[f"gap{i}" for i in range(len(GAP_CASES))])
def test_interpolate_na_nearest_cancellation(spark, vals, xs):
    """nearest: the reference's ScipyInterpolator cannot run here
    (scipy absent) — manual oracle with scipy interp1d's tie
    convention (half rounds to the LEFT anchor).  Nearest never
    blends, so the cancellation values pass through untouched."""
    pdf = pd.DataFrame({"t": xs, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.interpolate_na("t", method="nearest").to_pandas()
           .sort_values("t")["v"].to_numpy())
    arr = np.asarray(vals, dtype=float)
    xv = np.asarray(xs, dtype=float)
    valid = ~np.isnan(arr)
    exp = arr.copy()
    for i in np.flatnonzero(~valid):
        left = [j for j in np.flatnonzero(valid) if j < i]
        right = [j for j in np.flatnonzero(valid) if j > i]
        if not left or not right:
            continue  # engine interpolates interior gaps only
        j0, j1 = left[-1], right[0]
        exp[i] = arr[j0] if (xv[i] - xv[j0]) <= (xv[j1] - xv[i]) \
            else arr[j1]
    np.testing.assert_array_equal(np.isnan(got), np.isnan(exp))
    m = ~np.isnan(exp)
    np.testing.assert_array_equal(got[m], exp[m])


# --------------------------------------------------------------------- #
# 6. interp() linear — vs np.interp (the reference needs scipy here;
#    np.interp is the formula scipy interp1d reduces to for 1-d linear)
# --------------------------------------------------------------------- #

INTERP_TARGETS = [0.5, 1.0, 1.5, 0.25, 1.75]


def test_interp_linear_cancellation(spark):
    xs = [0.0, 1.0, 2.0]
    ys = [1e6, -999999.9999999999, 999999.9999999999]
    pdf = pd.DataFrame({"t": xs, "v": ys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.interp(t=INTERP_TARGETS).to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = np.interp(sorted(INTERP_TARGETS), xs, ys)
    np.testing.assert_array_equal(got, exp)


def test_interp_linear_nonuniform_cancellation(spark):
    xs = [0.0, 0.125, 7.0]
    ys = [-999999.9999999999, 1e6, -1e6]
    pdf = pd.DataFrame({"t": xs, "v": ys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    targets = [0.0625, 3.5625, 0.125]
    got = (ds.interp(t=targets).to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = np.interp(sorted(targets), xs, ys)
    np.testing.assert_array_equal(got, exp)


# --------------------------------------------------------------------- #
# 7. resample().interpolate('linear') — same np.interp ground truth
# --------------------------------------------------------------------- #

def test_resample_interpolate_cancellation(spark):
    t = pd.date_range("2000-01-01", periods=3, freq="2D")
    ys = [1e6, -999999.9999999999, 999999.9999999999]
    pdf = pd.DataFrame({"time": t, "v": ys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    got = (ds.resample(time="1D").interpolate("linear").to_pandas()
           .sort_values("time")["v"].to_numpy())
    xs = t.astype("int64").to_numpy().astype(float)
    tgt = pd.date_range("2000-01-01", periods=5, freq="1D") \
        .astype("int64").to_numpy().astype(float)
    exp = np.interp(tgt, xs, ys)
    np.testing.assert_array_equal(got, exp)
