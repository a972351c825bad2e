"""Differential wave 47 (round 9): variance-family parity corners.

Round-9 probe finds, all pinned here:

1. **Weighted var/std/sum_of_squares catastrophic cancellation** — the
   single-pass moment identity Σwv²−(Σwv)²/Σw returned **0.0** for
   v ≈ 1e8 ± N(0,1) where the reference (which DEMEANS first,
   computation/weighted.py:262) returns 0.806.  The engine now runs
   the reference's two-pass form (weighted-mean broadcast-join, then
   Σw(v−μ)²).
2. **GroupBy.var/std silently treated any ddof ≥ 1 as ddof=1** —
   groupby('k').var(ddof=2) returned the sample variance.  Now the
   generic rescale runs with the ANSI division guarded.
3. **var/std with ddof ≥ n crashed** (ANSI DIVIDE_BY_ZERO) where
   np.var returns NaN — now null (the engine's NaN rendering).
4. **quantile(q ∉ [0,1]) silently clamped** to an order statistic
   where the reference raises ValueError("Quantiles must be in the
   range [0, 1]") — now raises on Dataset/GroupBy/Weighted paths.
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

from xarray_spark import XDataset  # noqa: E402

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")

warnings.filterwarnings("ignore")


def _eng(spark, pdf, coords=None):
    return XDataset(spark.createDataFrame(pdf), dims=["t"],
                    coords=coords or {})


# --------------------------------------------------------------------- #
# 1. weighted var/std/sum_of_squares on offset (cancellation) data
# --------------------------------------------------------------------- #

def _weighted_pair(spark, vals, w):
    pdf = pd.DataFrame({"t": range(len(vals)), "v": vals})
    eng = _eng(spark, pdf)
    wda = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(len(w)), "w": w})), dims=["t"])["w"]
    ref = xr.DataArray(np.asarray(vals), dims="t").weighted(
        xr.DataArray(np.asarray(w), dims="t"))
    return eng.weighted(wda), ref


OFFSET_CASES = [
    1e8 + np.array([0.3, -1.2, 0.7, 2.1, -0.9, 0.0, 1.4, -2.2]),
    -5e9 + np.linspace(-1, 1, 11),
    np.array([1e6, -999999.9999999999, 3.0, -3.0, 0.0]),
]


@needs_xr
@pytest.mark.parametrize("case", range(len(OFFSET_CASES)))
def test_weighted_var_offset(spark, case):
    vals = OFFSET_CASES[case]
    w = np.linspace(0.5, 2.0, len(vals))
    ew, rw = _weighted_pair(spark, vals, w)
    got = ew.var().to_pandas()["v"].iloc[0]
    exp = float(rw.var().values)
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12)


@needs_xr
@pytest.mark.parametrize("case", range(len(OFFSET_CASES)))
def test_weighted_std_offset(spark, case):
    vals = OFFSET_CASES[case]
    w = np.linspace(0.5, 2.0, len(vals))
    ew, rw = _weighted_pair(spark, vals, w)
    got = ew.std().to_pandas()["v"].iloc[0]
    exp = float(rw.std().values)
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12)


@needs_xr
def test_weighted_sum_of_squares_offset(spark):
    vals = OFFSET_CASES[0]
    w = np.linspace(0.5, 2.0, len(vals))
    ew, rw = _weighted_pair(spark, vals, w)
    got = ew.sum_of_squares().to_pandas()["v"].iloc[0]
    exp = float(rw.sum_of_squares().values)
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_weighted_var_with_nulls_matches_reference(spark):
    vals = np.array([1e8 + 1, np.nan, 1e8 - 1, 1e8 + 2, np.nan])
    w = np.array([1.0, 5.0, 2.0, 1.0, 3.0])
    ew, rw = _weighted_pair(spark, vals, w)
    got = ew.var().to_pandas()["v"].iloc[0]
    exp = float(rw.var().values)
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_weighted_var_grouped_offset(spark):
    # per-group demeaning: two groups at different offsets
    vals = np.concatenate([1e8 + np.arange(5.0), -2e7 + np.arange(5.0) * 3])
    keys = ["a"] * 5 + ["b"] * 5
    w = np.linspace(1.0, 2.0, 10)
    pdf = pd.DataFrame({"t": list(range(5)) * 2, "v": vals, "k": keys})
    eng = XDataset(spark.createDataFrame(pdf), dims=["k", "t"])
    wda = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(5), "w": w[:5]})), dims=["t"])["w"]
    got = (eng.weighted(wda).var("t").to_pandas()
           .sort_values("k")["v"].to_numpy())
    ref = xr.DataArray(
        vals.reshape(2, 5), dims=["k", "t"],
        coords={"k": ["a", "b"]}).weighted(
        xr.DataArray(w[:5], dims=["t"]))
    exp = ref.var("t").values
    np.testing.assert_allclose(got, exp, rtol=1e-9)


# --------------------------------------------------------------------- #
# 2. groupby var/std generic ddof
# --------------------------------------------------------------------- #

def _gb_pair(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 7.0]
    keys = [0, 0, 0, 1, 1, 1]
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(6), "k": keys, "v": vals})),
        dims=["t"], coords={"k": ("t",)})
    ref = xr.DataArray(vals, dims="t", coords={"k": ("t", keys)})
    return eng, ref


@needs_xr
@pytest.mark.parametrize("ddof", [0, 1, 2])
def test_groupby_var_ddof(spark, ddof):
    eng, ref = _gb_pair(spark)
    got = (eng.groupby("k").var(ddof=ddof).to_pandas()
           .sort_values("k")["v"].to_numpy())
    exp = ref.groupby("k").var(ddof=ddof).values
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
@pytest.mark.parametrize("ddof", [0, 1, 2])
def test_groupby_std_ddof(spark, ddof):
    eng, ref = _gb_pair(spark)
    got = (eng.groupby("k").std(ddof=ddof).to_pandas()
           .sort_values("k")["v"].to_numpy())
    exp = ref.groupby("k").std(ddof=ddof).values
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
def test_groupby_var_ddof_equal_n_is_missing(spark):
    # np.var with ddof == group size -> NaN; the engine renders missing
    eng, _ = _gb_pair(spark)
    out = eng.groupby("k").var(ddof=3).to_pandas()["v"]
    assert out.isna().all()


# --------------------------------------------------------------------- #
# 3. dataset var/std ddof >= n: NaN, not an error, never negative
# --------------------------------------------------------------------- #

def _flat(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(5), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t")
    return eng, ref


@needs_xr
@pytest.mark.parametrize("ddof", [2, 3, 4])
def test_var_generic_ddof_matches_reference(spark, ddof):
    eng, ref = _flat(spark)
    got = eng["v"].var(ddof=ddof).to_pandas()["v"].iloc[0]
    exp = float(ref.var(ddof=ddof).values)
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
@pytest.mark.parametrize("ddof", [5, 6])
def test_var_ddof_at_or_above_n_is_missing(spark, ddof):
    eng, ref = _flat(spark)
    assert np.isnan(float(ref.var(ddof=ddof).values))
    out = eng["v"].var(ddof=ddof).to_pandas()["v"]
    assert out.isna().all()


@needs_xr
@pytest.mark.parametrize("ddof", [5, 6])
def test_std_ddof_at_or_above_n_is_missing(spark, ddof):
    eng, _ = _flat(spark)
    out = eng["v"].std(ddof=ddof).to_pandas()["v"]
    assert out.isna().all()


# --------------------------------------------------------------------- #
# 4. quantile domain validation
# --------------------------------------------------------------------- #

@needs_xr
@pytest.mark.parametrize("q", [-0.1, 1.5, float("nan")])
def test_quantile_out_of_range_raises(spark, q):
    eng, ref = _flat(spark)
    with pytest.raises(ValueError, match="Quantiles must be"):
        ref.quantile(q)
    with pytest.raises(ValueError, match="Quantiles must be"):
        eng["v"].quantile(q)


@needs_xr
def test_quantile_list_out_of_range_raises(spark):
    eng, _ = _flat(spark)
    with pytest.raises(ValueError, match="Quantiles must be"):
        eng["v"].quantile([0.5, 1.01])


@needs_xr
def test_groupby_quantile_out_of_range_raises(spark):
    eng, _ = _gb_pair(spark)
    with pytest.raises(ValueError, match="Quantiles must be"):
        eng.groupby("k").quantile(2.0)


@needs_xr
def test_weighted_quantile_out_of_range_raises(spark):
    vals = np.arange(5.0)
    w = np.ones(5)
    ew, _ = _weighted_pair(spark, vals, w)
    with pytest.raises(ValueError, match="Quantiles must be"):
        ew.quantile(-0.5)


@needs_xr
def test_quantile_bounds_inclusive_still_work(spark):
    eng, ref = _flat(spark)
    got = (eng["v"].quantile([0.0, 1.0]).to_pandas()
           .sort_values("quantile")["v"].to_numpy())
    exp = ref.quantile([0.0, 1.0]).values
    np.testing.assert_array_equal(got, exp)


# --------------------------------------------------------------------- #
# 5. cov/corr offset exactness (two-pass demeaned rewrite)
# --------------------------------------------------------------------- #

@needs_xr
@pytest.mark.parametrize("off", [0.0, 1e8, 1e12, 1e15])
def test_cov_offset_exact(spark, off):
    # Spark's online covar_samp drifted to 0.6% error at offset 1e15;
    # the demeaned two-pass form must match the reference to 1e-12 rel
    from xarray_spark.computation import cov as ecov
    a = off + np.array([1.0, 2.0, 3.0, 4.0, 5.0])
    b = -off + np.array([2.0, 1.0, 4.0, 3.0, 6.0])
    ea = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(5), "a": a, "b": b})), dims=["t"])
    got = ecov(ea["a"], ea["b"]).to_pandas().iloc[0, 0]
    exp = float(xr.cov(xr.DataArray(a, dims="t"),
                       xr.DataArray(b, dims="t")).values)
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
@pytest.mark.parametrize("off", [0.0, 1e8, 1e12, 1e15])
def test_corr_offset_exact(spark, off):
    from xarray_spark.computation import corr as ecorr
    a = off + np.array([1.0, 2.0, 3.0, 4.0, 5.0])
    b = -off + np.array([2.0, 1.0, 4.0, 3.0, 6.0])
    ea = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(5), "a": a, "b": b})), dims=["t"])
    got = ecorr(ea["a"], ea["b"]).to_pandas().iloc[0, 0]
    exp = float(xr.corr(xr.DataArray(a, dims="t"),
                        xr.DataArray(b, dims="t")).values)
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
def test_cov_nan_masking_and_ddof(spark):
    from xarray_spark.computation import cov as ecov
    a = np.array([1.0, np.nan, 3.0])
    b = np.array([2.0, 5.0, np.nan])
    ea = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(3), "a": a, "b": b})), dims=["t"])
    # one mutually-valid pair: ddof=1 -> NaN (missing), ddof=0 -> 0.0
    assert pd.isna(ecov(ea["a"], ea["b"]).to_pandas().iloc[0, 0])
    got0 = ecov(ea["a"], ea["b"], ddof=0).to_pandas().iloc[0, 0]
    exp0 = float(xr.cov(xr.DataArray(a, dims="t"),
                        xr.DataArray(b, dims="t"), ddof=0).values)
    np.testing.assert_allclose(got0, exp0)


def test_corr_zero_variance_missing(spark):
    from xarray_spark.computation import corr as ecorr
    a = np.array([2.0, 2.0, 2.0])
    b = np.array([1.0, 2.0, 3.0])
    ea = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(3), "a": a, "b": b})), dims=["t"])
    # constant series: reference divides by zero std -> NaN
    assert pd.isna(ecorr(ea["a"], ea["b"]).to_pandas().iloc[0, 0])


# --------------------------------------------------------------------- #
# 6. plain/groupby/rolling/coarsen var at offsets (demeaned rewrites)
# --------------------------------------------------------------------- #

@needs_xr
@pytest.mark.parametrize("off", [0.0, 1e8, 1e12])
def test_var_offset_exact(spark, off):
    vals = off + np.array([1.0, 2.0, 3.0, 4.0, 5.0, 2.5, 3.5])
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(7), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t")
    for ddof in (0, 1):
        got = eng["v"].var(ddof=ddof).to_pandas()["v"].iloc[0]
        exp = float(ref.var(ddof=ddof).values)
        np.testing.assert_allclose(got, exp, rtol=1e-12)
        gs = eng["v"].std(ddof=ddof).to_pandas()["v"].iloc[0]
        es = float(ref.std(ddof=ddof).values)
        np.testing.assert_allclose(gs, es, rtol=1e-12)


@needs_xr
@pytest.mark.parametrize("off", [1e8, 1e12])
def test_groupby_var_offset_exact(spark, off):
    vals = off + np.array([1.0, 2.0, 3.0, 4.0, 5.0, 7.0])
    keys = [0, 0, 0, 1, 1, 1]
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(6), "k": keys, "v": vals})),
        dims=["t"], coords={"k": ("t",)})
    ref = xr.DataArray(vals, dims="t", coords={"k": ("t", keys)})
    got = (eng.groupby("k").var(ddof=1).to_pandas()
           .sort_values("k")["v"].to_numpy())
    exp = ref.groupby("k").var(ddof=1).values
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
@pytest.mark.parametrize("off", [1e8, 1e12])
def test_rolling_var_offset(spark, off):
    vals = off + np.array([1.0, 2.0, 3.0, 4.0, 5.0, 2.5, 3.5])
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(7), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t")
    got = (eng.rolling({"t": 3}).var().to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = ref.rolling(t=3).var().values
    # residual ~1.6e-9 at offset 1e12 is the REFERENCE's own window-mean
    # rounding (the engine's exactly-centered answer is closer to truth)
    np.testing.assert_allclose(got, exp, rtol=1e-8, equal_nan=True)
    gs = (eng.rolling({"t": 3}).std().to_pandas()
          .sort_values("t")["v"].to_numpy())
    es = ref.rolling(t=3).std().values
    np.testing.assert_allclose(gs, es, rtol=1e-8, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("off", [1e8, 1e12])
def test_coarsen_var_offset(spark, off):
    vals = off + np.arange(8.0) * 1.5
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(8), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t", coords={"t": np.arange(8)})
    got = (eng.coarsen({"t": 4}).var().to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = ref.coarsen(t=4).var().values
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
def test_var_inf_poisons(spark):
    # np.var of a population containing inf: mean=inf, the inf value's
    # own deviation is inf-inf=NaN -> NaN result
    vals = [1.0, float("inf"), 3.0]
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(3), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t")
    assert np.isnan(float(ref.var().values))
    out = eng["v"].var().to_pandas()["v"].iloc[0]
    assert pd.isna(out) or np.isnan(out)


@needs_xr
def test_rolling_var_mixed_scale_outlier(spark):
    # fuzz find: a per-SERIES center shift poisons every window when the
    # series holds an inf (mean=inf) and loses precision for small-value
    # windows when it holds a 1e15 outlier; the per-WINDOW two-pass must
    # keep windows independent
    vals = np.array([3.5, -1.0, -20.7, 0.25, 999999.9999999999,
                     -999999.9999999999, -np.inf, 3.5, 3.06, -18.08])
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(len(vals)), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t")
    got = (eng.rolling({"t": 4}).var().to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = ref.rolling(t=4).var().values
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
def test_rolling_var_huge_outlier_isolated_windows(spark):
    # windows NOT containing the 1e15 outlier must stay exact
    vals = np.array([1e15, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(len(vals)), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t")
    got = (eng.rolling({"t": 3}).var().to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = ref.rolling(t=3).var().values
    np.testing.assert_allclose(got[3:], exp[3:], rtol=1e-12)


# --------------------------------------------------------------------- #
# 7. round-9 fuzz finds: ties, all-NaN blocks, non-finite weighted var
# --------------------------------------------------------------------- #

@needs_xr
def test_idxmax_argmax_ties_first_occurrence(spark):
    # numpy returns the FIRST index attaining the extremum; min_by/
    # max_by tie-breaking is arbitrary
    vals = [-1e6, np.nan, -9.05, np.nan, -np.inf, 5.44, 15.75, np.nan,
            999999.9999999999, 4.91, 999999.9999999999, -13.68,
            np.nan, -14.95]
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(len(vals)), "v": vals})), dims=["t"])
    ref = xr.DataArray(vals, dims="t", coords={"t": range(len(vals))})
    for op in ("idxmax", "argmax", "idxmin", "argmin"):
        g = getattr(eng["v"], op)("t").to_pandas().iloc[0, -1]
        r = float(getattr(ref, op)("t").values)
        assert float(g) == r, (op, g, r)
    g = eng["v"].argmax("t", skipna=False).to_pandas().iloc[0, -1]
    assert float(g) == float(ref.argmax("t", skipna=False).values)


@needs_xr
def test_coarsen_sum_prod_all_nan_block(spark):
    # np.nansum of an all-NaN block is 0.0, nanprod is 1.0
    v = [np.nan, np.nan, 1.0, np.nan, np.nan, np.nan, 0.0]
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(7.0), "v": v})), dims=["t"])
    ref = xr.DataArray(v, dims="t", coords={"t": np.arange(7.0)})
    gs = (eng.coarsen({"t": 2}, boundary="trim").sum().to_pandas()
          .sort_values("t")["v"].to_numpy())
    np.testing.assert_array_equal(
        gs, ref.coarsen(t=2, boundary="trim").sum().values)
    gp = (eng.coarsen({"t": 2}, boundary="trim").prod().to_pandas()
          .sort_values("t")["v"].to_numpy())
    np.testing.assert_array_equal(
        gp, ref.coarsen(t=2, boundary="trim").prod().values)


@needs_xr
def test_weighted_var_single_inf_is_inf(spark):
    # the reference's masked sums drop the inf row's NaN deviation but
    # keep the other rows' inf deviations -> var inf, not NaN
    vals = np.array([1.0, 2.0, np.inf, 3.0])
    w = np.array([1.0, 2.0, 1.0, 1.0])
    ew, rw = _weighted_pair(spark, vals, w)
    assert np.isinf(float(rw.var().values))
    assert np.isinf(ew.var().to_pandas()["v"].iloc[0])


@needs_xr
def test_weighted_var_mixed_inf_is_zero(spark):
    # +inf and -inf together: mean NaN -> every deviation NaN -> the
    # all-masked squared sum reduces to 0.0 -> var 0.0 (reference)
    vals = np.array([1.0, np.inf, -np.inf, 2.0])
    w = np.ones(4)
    ew, rw = _weighted_pair(spark, vals, w)
    assert float(rw.var().values) == 0.0
    assert float(ew.var().to_pandas()["v"].iloc[0]) == 0.0


@needs_xr
def test_weighted_sum_all_nan_is_zero(spark):
    vals = np.array([np.nan] * 4)
    w = np.ones(4)
    ew, rw = _weighted_pair(spark, vals, w)
    assert float(rw.sum().values) == 0.0
    assert float(ew.sum().to_pandas()["v"].iloc[0]) == 0.0
