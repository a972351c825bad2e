"""Differential tests against the REFERENCE xarray itself (importable
from /root/reference as a pure-Python package): run the same operation
through the reference's numpy engine and through this engine on the
same random inputs, and require matching values.

This is behavior-testing the reference (what to compute), not code
reuse — every implementation here is the repo's own Spark plan.
"""

import sys

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

RNG = np.random.RandomState(7)
N = 60


@pytest.fixture(scope="module")
def series():
    vals = RNG.randn(N).round(6)
    vals[[5, 17, 18, 40]] = np.nan
    return vals


@pytest.fixture(scope="module")
def sds(spark, series):
    pdf = pd.DataFrame({"t": np.arange(N), "v": series})
    return XDataset(spark.createDataFrame(pdf), dims=["t"])


def _ours(ds):
    return ds.to_pandas().sort_values("t")["v"].to_numpy()


def _ref(series):
    return xr.DataArray(series, dims="t")


@needs_xr
@pytest.mark.parametrize("agg", ["mean", "sum", "min", "max", "std", "var"])
@pytest.mark.parametrize("center", [False, True])
def test_rolling_matches_reference(sds, series, agg, center):
    got = _ours(getattr(sds.rolling(t=5, min_periods=2, center=center), agg)())
    exp = getattr(_ref(series).rolling(t=5, min_periods=2, center=center),
                  agg)().values
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("agg", ["mean", "sum", "min", "max", "std", "var"])
def test_coarsen_matches_reference(sds, series, agg):
    got = np.sort(_ours(getattr(sds.coarsen(t=7, boundary="trim"), agg)()))
    exp = np.sort(getattr(_ref(series).coarsen(t=7, boundary="trim"),
                          agg)().values)
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


@needs_xr
def test_rolling_exp_matches_reference(sds, series):
    # reference rolling_exp needs numbagg; fall back to pandas (the
    # kernels agree) when it's absent
    try:
        exp = _ref(series).rolling_exp(t=10, window_type="span").mean().values
    except ImportError:
        exp = pd.Series(series).ewm(span=10, min_periods=1).mean().to_numpy()
    got = _ours(sds.rolling_exp(t=10, window_type="span").mean())
    np.testing.assert_allclose(got[~np.isnan(exp)], exp[~np.isnan(exp)],
                               rtol=1e-9)


@needs_xr
def test_interpolate_na_matches_reference(sds, series):
    # reference 'nearest' needs scipy (absent here); linear is its
    # numpy interpolator
    got = _ours(sds.interpolate_na("t", method="linear"))
    exp = _ref(series).interpolate_na("t", method="linear").values
    np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


def test_interpolate_na_maxgap_matches_reference(spark):
    # the reference's max_gap path needs bottleneck (absent), so the
    # expected values replicate its documented semantics by hand: gaps
    # wider than max_gap (coordinate units, bounds included) stay null
    vals = np.array([1.0, np.nan, np.nan, np.nan, 5.0, np.nan, 7.0,
                     np.nan, np.nan, 10.0])
    pdf = pd.DataFrame({"t": np.arange(10.0), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = _ours(ds.interpolate_na("t", method="linear", max_gap=2.0))
    exp = vals.copy()
    exp[5] = 6.0          # gap 5-7 has width 2.0 <= max_gap -> filled
    # gaps 0→4 (width 4) and 6→9 (width 3) stay null
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_ffill_bfill_matches_pandas(sds, series):
    # reference ffill/bfill delegate to bottleneck (absent); pandas has
    # identical push semantics
    got_f = _ours(sds.ffill("t"))
    exp_f = pd.Series(series).ffill().to_numpy()
    np.testing.assert_allclose(got_f, exp_f, equal_nan=True)
    got_b = _ours(sds.bfill("t", limit=1))
    exp_b = pd.Series(series).bfill(limit=1).to_numpy()
    np.testing.assert_allclose(got_b, exp_b, equal_nan=True)


@needs_xr
def test_diff_cumsum_shift_match_reference(sds, series):
    np.testing.assert_allclose(
        np.sort(_ours(sds.diff("t"))), np.sort(_ref(series).diff("t").values),
        equal_nan=True)
    np.testing.assert_allclose(
        _ours(sds.cumsum("t")), _ref(series).cumsum("t").values,
        rtol=1e-9, equal_nan=True)
    np.testing.assert_allclose(
        _ours(sds.shift(t=3)), _ref(series).shift(t=3).values, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("q", [0.1, 0.5, 0.9])
@pytest.mark.parametrize("method", ["linear", "lower", "higher", "nearest",
                                    "midpoint"])
def test_quantile_methods_match_reference(sds, series, q, method):
    got = sds.quantile(q, dim="t", method=method).to_pandas()["v"].iloc[0]
    exp = float(_ref(series).quantile(q, dim="t", method=method, skipna=True))
    np.testing.assert_allclose(got, exp, rtol=1e-12)


def test_rank_matches_pandas(sds, series):
    # reference rank delegates to bottleneck nanrankdata (absent);
    # pandas method='average' is the same estimator
    got = _ours(sds.rank("t"))
    exp = pd.Series(series).rank(method="average").to_numpy()
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_weighted_matches_reference(spark):
    vals = RNG.rand(30).round(6)
    wts = RNG.rand(30).round(6)
    ref = xr.DataArray(vals, dims="t").weighted(xr.DataArray(wts, dims="t"))
    pdf = pd.DataFrame({"t": np.arange(30), "v": vals, "w": wts})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"w": ("t",)})
    w = ds.weighted("w")
    for agg in ("mean", "sum", "var", "std"):
        got = getattr(w, agg)().to_pandas()["v"].iloc[0]
        exp = float(getattr(ref, agg)())
        np.testing.assert_allclose(got, exp, rtol=1e-9)
    for q in (0.25, 0.5, 0.75):
        got = w.quantile(q).to_pandas()["v"].iloc[0]
        exp = float(ref.quantile(q))
        np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_groupby_matches_reference(spark):
    vals = RNG.randn(40).round(6)
    keys = RNG.randint(0, 4, 40)
    ref = xr.DataArray(vals, dims="t",
                       coords={"k": ("t", keys)}).groupby("k")
    pdf = pd.DataFrame({"t": np.arange(40), "v": vals, "k": keys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    for agg in ("mean", "sum", "min", "max", "median"):
        got = (getattr(ds.groupby("k"), agg)().to_pandas()
               .sort_values("k")["v"].to_numpy())
        exp = getattr(ref, agg)().values
        np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_resample_matches_reference(spark):
    times = pd.date_range("2001-01-01", periods=90, freq="D")
    vals = RNG.randn(90).round(6)
    ref = (xr.DataArray(vals, dims="time", coords={"time": times})
           .resample(time="MS").mean())
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    got = (ds.resample(time="MS").mean().to_pandas()
           .sort_values("time"))
    np.testing.assert_array_equal(got["time"].to_numpy(),
                                  ref["time"].values)
    np.testing.assert_allclose(got["v"].to_numpy(), ref.values, rtol=1e-9)


@needs_xr
def test_pad_matches_reference(sds, series):
    for mode in ("edge", "reflect", "symmetric", "wrap"):
        got = (sds.pad(t=(2, 3), mode=mode).to_pandas()
               .sort_values("t")["v"].to_numpy())
        exp = _ref(series).pad(t=(2, 3), mode=mode).values
        np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_idxmax_argmax_match_reference(spark):
    vals = RNG.randn(25).round(6)
    ref = xr.DataArray(vals, dims="t", coords={"t": np.arange(25)})
    pdf = pd.DataFrame({"t": np.arange(25), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    assert ds.idxmax("t").to_pandas()["v"].iloc[0] == int(ref.idxmax("t"))
    assert ds.argmax("t").to_pandas()["v"].iloc[0] == int(ref.argmax("t"))


@needs_xr
def test_dt_fields_match_reference(spark):
    times = pd.date_range("1999-11-25 13:45:05", periods=50, freq="37h")
    ref = xr.DataArray(times, dims="i")
    pdf = pd.DataFrame({"i": np.arange(50), "v": times})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf), dims=["i"])
    for field in ("year", "month", "day", "hour", "minute", "second",
                  "dayofyear", "quarter", "days_in_month"):
        got = (getattr(da.dt, field).to_pandas().sort_values("i")["v"]
               .to_numpy().astype("int64"))
        exp = getattr(ref.dt, field).values.astype("int64")
        np.testing.assert_array_equal(got, exp, err_msg=field)
    got_name = (da.dt.day_name().to_pandas().sort_values("i")["v"].tolist())
    exp_name = ref.dt.strftime("%A").values.tolist()
    assert got_name == exp_name


# ------------------------------------------------------------------ #
# wave 2: computation / alignment / reshape
# ------------------------------------------------------------------ #

@needs_xr
def test_integrate_differentiate_match_reference(spark):
    x = np.sort(RNG.rand(30)).astype("float64")
    y = np.sin(x * 6).round(6)
    ref = xr.DataArray(y, dims="t", coords={"t": x})
    pdf = pd.DataFrame({"t": x, "v": y})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got_i = ds.integrate("t").to_pandas()["v"].iloc[0]
    np.testing.assert_allclose(got_i, float(ref.integrate("t")), rtol=1e-9)
    got_d = (ds.differentiate("t").to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got_d, ref.differentiate("t").values, rtol=1e-9)


@needs_xr
def test_polyfit_polyval_match_reference(spark):
    x = np.arange(25.0)
    y = (0.5 * x ** 2 - 3 * x + 7 + RNG.randn(25) * 0.01).round(6)
    ref = xr.DataArray(y, dims="t", coords={"t": x})
    fit = ref.polyfit("t", 2)
    pdf = pd.DataFrame({"t": x, "v": y})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.polyfit("t", 2).to_pandas().sort_values("degree")
           ["v_polyfit_coefficients"].to_numpy())
    exp = np.sort(fit.polyfit_coefficients.values)
    np.testing.assert_allclose(np.sort(got), exp, rtol=1e-6)


@needs_xr
def test_cov_corr_match_reference(spark):
    a = RNG.randn(40).round(6)
    b = (a * 0.5 + RNG.randn(40) * 0.3).round(6)
    ra = xr.DataArray(a, dims="t")
    rb = xr.DataArray(b, dims="t")
    pdf = pd.DataFrame({"t": np.arange(40), "x": a, "y": b})
    from xarray_spark.computation import cov, corr
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf[["t", "x"]]), dims=["t"])
    db = XDataArray(spark.createDataFrame(pdf[["t", "y"]]), dims=["t"])
    np.testing.assert_allclose(
        cov(da, db).to_pandas().iloc[0, 0], float(xr.cov(ra, rb)), rtol=1e-9)
    np.testing.assert_allclose(
        corr(da, db).to_pandas().iloc[0, 0], float(xr.corr(ra, rb)), rtol=1e-9)


@needs_xr
def test_groupby_bins_matches_reference(spark):
    vals = RNG.randn(50).round(6)
    x = RNG.rand(50).round(6)
    bins = [0, 0.25, 0.5, 0.75, 1.0]
    ref = (xr.DataArray(vals, dims="t", coords={"x": ("t", x)})
           .groupby_bins("x", bins).mean())
    pdf = pd.DataFrame({"t": np.arange(50), "v": vals, "x": x})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"x": ("t",)})
    got = ds.groupby_bins("x", bins).mean().to_pandas()
    np.testing.assert_allclose(np.sort(got["v"].to_numpy()),
                               np.sort(ref.values), rtol=1e-9)


@needs_xr
def test_where_clip_match_reference(sds, series):
    from pyspark.sql import functions as F
    got = _ours(sds.where(F.col("v") > 0))
    exp = _ref(series).where(_ref(series) > 0).values
    np.testing.assert_allclose(got, exp, equal_nan=True)
    got_c = _ours(sds.clip(-0.5, 0.5))
    exp_c = _ref(series).clip(-0.5, 0.5).values
    np.testing.assert_allclose(got_c, exp_c, equal_nan=True)


@needs_xr
def test_cumprod_prod_match_reference(spark):
    vals = (RNG.rand(20) + 0.5).round(6)
    ref = xr.DataArray(vals, dims="t")
    pdf = pd.DataFrame({"t": np.arange(20), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    np.testing.assert_allclose(
        _ours(ds.cumprod("t")), ref.cumprod("t").values, rtol=1e-9)
    np.testing.assert_allclose(
        ds.prod("t").to_pandas()["v"].iloc[0], float(ref.prod("t")), rtol=1e-9)


@needs_xr
def test_reindex_interp_match_reference(spark):
    x = np.arange(0.0, 20.0, 2.0)
    y = (x ** 1.5).round(6)
    ref = xr.DataArray(y, dims="t", coords={"t": x})
    pdf = pd.DataFrame({"t": x, "v": y})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    tgt = [1.0, 5.0, 9.5, 14.0]
    got = (ds.interp(t=tgt).to_pandas().sort_values("t")["v"].to_numpy())
    # reference interp needs scipy (absent); its linear kernel is
    # np.interp on the coordinate
    exp = np.interp(tgt, x, y)
    np.testing.assert_allclose(got, exp, rtol=1e-9)
    got_r = (ds.reindex({"t": [2.0, 3.0, 8.0]}).to_pandas()
             .sort_values("t")["v"].to_numpy())
    exp_r = ref.reindex(t=[2.0, 3.0, 8.0]).values
    np.testing.assert_allclose(got_r, exp_r, equal_nan=True)


@needs_xr
def test_season_groupby_matches_reference(spark):
    times = pd.date_range("2000-01-01", periods=400, freq="D")
    vals = RNG.randn(400).round(6)
    ref = (xr.DataArray(vals, dims="time", coords={"time": times})
           .groupby("time.season").mean())
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    from xarray_spark.groupers import SeasonGrouper
    got = (ds.groupby(time=SeasonGrouper()).mean().to_pandas())
    got_map = dict(zip(got["time"], got["v"]))
    for season, exp in zip(ref["season"].values, ref.values):
        np.testing.assert_allclose(got_map[season], exp, rtol=1e-9,
                                   err_msg=season)


def test_str_accessor_matches_pandas(spark):
    words = ["Customer#%03d-x" % i for i in range(20)]
    s = pd.Series(words)
    pdf = pd.DataFrame({"i": np.arange(20), "v": words})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf), dims=["i"])
    def ours(x):
        return x.to_pandas().sort_values("i")["v"].tolist()
    assert ours(da.str.upper()) == s.str.upper().tolist()
    assert ours(da.str.len()) == s.str.len().tolist()
    assert ours(da.str.slice(2, 6)) == s.str.slice(2, 6).tolist()
    assert ours(da.str.replace("#", "@", regex=False)) == \
        s.str.replace("#", "@", regex=False).tolist()
    assert ours(da.str.zfill(20)) == s.str.zfill(20).tolist()
    assert ours(da.str.contains("0[12]", regex=True)) == \
        s.str.contains("0[12]", regex=True).tolist()


# ------------------------------------------------------------------ #
# wave 3: 2-D datasets, reshape, missing-data options, dt details
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def grid2d(spark):
    vals = RNG.randn(6, 8).round(6)
    ref = xr.DataArray(vals, dims=("x", "y"),
                       coords={"x": np.arange(6), "y": np.arange(8)})
    rows = [(i, j, float(vals[i, j])) for i in range(6) for j in range(8)]
    pdf = pd.DataFrame(rows, columns=["x", "y", "v"])
    ours = XDataset(spark.createDataFrame(pdf), dims=["x", "y"])
    return ref, ours


@needs_xr
@pytest.mark.parametrize("dim", ["x", "y"])
@pytest.mark.parametrize("agg", ["mean", "sum", "min", "std"])
def test_2d_reduction_matches_reference(grid2d, dim, agg):
    ref, ours = grid2d
    keep = "y" if dim == "x" else "x"
    got = (getattr(ours, agg)(dim=dim).to_pandas()
           .sort_values(keep)["v"].to_numpy())
    exp = getattr(ref, agg)(dim=dim).values
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_2d_rolling_one_dim_matches_reference(grid2d):
    ref, ours = grid2d
    got = (ours.rolling(y=3, min_periods=1).mean().to_pandas()
           .sort_values(["x", "y"])["v"].to_numpy().reshape(6, 8))
    exp = ref.rolling(y=3, min_periods=1).mean().values
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_2d_argmax_matches_reference(grid2d):
    ref, ours = grid2d
    got = ours.argmax(["x", "y"]).to_pandas()["v"].iloc[0]
    exp = ref.argmax(["x", "y"])
    assert got["x"] == int(exp["x"]) and got["y"] == int(exp["y"])


@needs_xr
def test_stack_matches_reference(grid2d):
    ref, ours = grid2d
    exp = ref.stack(z=("x", "y")).values
    got = (ours.stack(z=("x", "y")).to_pandas())
    zs = pd.DataFrame({"x": got["z"].map(lambda r: r["x"]),
                       "y": got["z"].map(lambda r: r["y"]), "v": got["v"]})
    zs = zs.sort_values(["x", "y"])
    np.testing.assert_allclose(zs["v"].to_numpy(), exp, rtol=1e-12)


@needs_xr
def test_roll_matches_reference(sds, series):
    got = _ours(sds.roll(t=4))
    # reference roll shifts DATA, keeps labels
    exp = _ref(series).roll(t=4, roll_coords=False).values
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_dropna_fillna_match_reference(sds, series):
    assert (sds.dropna("t").to_spark().count()
            == int(_ref(series).dropna("t").size))
    got = _ours(sds.fillna(0.0))
    exp = _ref(series).fillna(0.0).values
    np.testing.assert_allclose(got, exp)


@needs_xr
def test_thin_head_tail_match_reference(sds, series):
    np.testing.assert_allclose(
        np.sort(_ours(sds.thin(t=5))), np.sort(_ref(series).thin(t=5).values),
        equal_nan=True)
    np.testing.assert_allclose(
        np.sort(_ours(sds.head(t=7))), np.sort(_ref(series).head(t=7).values),
        equal_nan=True)
    np.testing.assert_allclose(
        np.sort(_ours(sds.tail(t=7))), np.sort(_ref(series).tail(t=7).values),
        equal_nan=True)


@needs_xr
def test_isocalendar_dayofweek_match_reference(spark):
    times = pd.date_range("2014-12-25", periods=30, freq="D")
    ref = xr.DataArray(times, dims="i")
    pdf = pd.DataFrame({"i": np.arange(30), "v": times})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf), dims=["i"])
    got_dow = (da.dt.dayofweek.to_pandas().sort_values("i")["v"]
               .to_numpy().astype("int64"))
    exp_dow = ref.dt.dayofweek.values.astype("int64")
    np.testing.assert_array_equal(got_dow, exp_dow)
    iso = (da.dt.isocalendar().to_pandas().sort_values("i")["v"])
    got_weeks = np.array([r["week"] for r in iso], dtype="int64")
    exp_weeks = ref.dt.isocalendar().week.values.astype("int64")
    np.testing.assert_array_equal(got_weeks, exp_weeks)


@needs_xr
def test_weighted_mean_with_nan_matches_reference(spark):
    vals = RNG.randn(20).round(6)
    vals[[3, 9]] = np.nan
    wts = RNG.rand(20).round(6)
    ref = xr.DataArray(vals, dims="t").weighted(xr.DataArray(wts, dims="t"))
    pdf = pd.DataFrame({"t": np.arange(20), "v": vals, "w": wts})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"w": ("t",)})
    got = ds.weighted("w").mean().to_pandas()["v"].iloc[0]
    np.testing.assert_allclose(got, float(ref.mean()), rtol=1e-9)


@needs_xr
def test_cumulative_matches_reference(sds, series):
    got = _ours(sds.cumulative("t").sum())
    exp = _ref(series).cumulative("t").sum().values
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


# ------------------------------------------------------------------ #
# wave 4: align/concat/merge/combine + resample variants + groupby ops
# ------------------------------------------------------------------ #

@needs_xr
def test_align_matches_reference(spark):
    a_vals = RNG.randn(10).round(6)
    b_vals = RNG.randn(10).round(6)
    ra = xr.DataArray(a_vals, dims="t", coords={"t": np.arange(10)})
    rb = xr.DataArray(b_vals, dims="t", coords={"t": np.arange(5, 15)})
    from xarray_spark import align
    pa = pd.DataFrame({"t": np.arange(10), "v": a_vals})
    pb = pd.DataFrame({"t": np.arange(5, 15), "v": b_vals})
    da = XDataset(spark.createDataFrame(pa), dims=["t"])
    db = XDataset(spark.createDataFrame(pb), dims=["t"])
    for join in ("inner", "outer", "left", "right"):
        ea, eb = xr.align(ra, rb, join=join)
        ga, gb = align(da, db, join=join)
        np.testing.assert_allclose(
            ga.to_pandas().sort_values("t")["v"].to_numpy(), ea.values,
            equal_nan=True, err_msg=f"{join} left")
        np.testing.assert_allclose(
            gb.to_pandas().sort_values("t")["v"].to_numpy(), eb.values,
            equal_nan=True, err_msg=f"{join} right")


@needs_xr
def test_concat_matches_reference(spark):
    a_vals = RNG.randn(6).round(6)
    b_vals = RNG.randn(4).round(6)
    ra = xr.DataArray(a_vals, dims="t", coords={"t": np.arange(6)})
    rb = xr.DataArray(b_vals, dims="t", coords={"t": np.arange(6, 10)})
    exp = xr.concat([ra, rb], dim="t").values
    from xarray_spark import concat
    da = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(6), "v": a_vals})), dims=["t"])
    db = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(6, 10), "v": b_vals})), dims=["t"])
    got = (concat([da, db], dim="t").to_pandas()
           .sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_binary_op_auto_align_matches_reference(spark):
    a_vals = RNG.randn(8).round(6)
    b_vals = RNG.randn(8).round(6)
    ra = xr.DataArray(a_vals, dims="t", coords={"t": np.arange(8)})
    rb = xr.DataArray(b_vals, dims="t", coords={"t": np.arange(4, 12)})
    exp = (ra + rb).values  # inner join on overlapping labels
    da = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(8), "v": a_vals})), dims=["t"])
    db = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(4, 12), "v": b_vals})), dims=["t"])
    got = ((da + db).to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


# our 'W' is the ISO week (Mon-Sun) = pandas weeks ending Sunday
@needs_xr
@pytest.mark.parametrize("freq_ours,freq_ref", [("W", "W-SUN"), ("7D", "7D")])
def test_resample_weekly_matches_reference(spark, freq_ours, freq_ref):
    times = pd.date_range("2001-03-01", periods=60, freq="D")
    vals = RNG.randn(60).round(6)
    try:
        exp = (xr.DataArray(vals, dims="time", coords={"time": times})
               .resample(time=freq_ref).sum())
    except Exception:
        pytest.skip(f"reference cannot resample {freq_ref}")
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    got = (ds.resample(time=freq_ours).sum().to_pandas()
           .sort_values("time"))
    if len(got) == len(exp["time"]):
        np.testing.assert_allclose(np.sort(got["v"].to_numpy()),
                                   np.sort(exp.values), rtol=1e-9)
    else:
        # label conventions differ (anchored weeks); compare totals
        np.testing.assert_allclose(got["v"].sum(), float(exp.sum()),
                                   rtol=1e-9)


@needs_xr
def test_groupby_binary_op_matches_reference(spark):
    vals = RNG.randn(30).round(6)
    keys = RNG.randint(0, 3, 30)
    ref_da = xr.DataArray(vals, dims="t", coords={"k": ("t", keys)})
    exp = (ref_da.groupby("k") - ref_da.groupby("k").mean()).values
    pdf = pd.DataFrame({"t": np.arange(30), "v": vals, "k": keys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    g = ds.groupby("k")
    got = ((g - g.mean()).to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_combine_first_matches_reference(spark):
    a_vals = RNG.randn(8).round(6); a_vals[[2, 5]] = np.nan
    b_vals = RNG.randn(8).round(6)
    ra = xr.DataArray(a_vals, dims="t", coords={"t": np.arange(8)})
    rb = xr.DataArray(b_vals, dims="t", coords={"t": np.arange(8)})
    exp = ra.combine_first(rb).values
    da = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(8), "v": a_vals})), dims=["t"])
    db = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(8), "v": b_vals})), dims=["t"])
    got = (da.combine_first(db).to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


# ------------------------------------------------------------------ #
# wave 5: ufuncs, expand/swap/transpose-style catalog ops, idxmin edge
# ------------------------------------------------------------------ #

def test_ufuncs_match_reference(sds, series):
    from xarray_spark import ufuncs as xu
    for name in ("sin", "cos", "exp", "sqrt", "log1p", "tanh", "floor",
                 "ceil", "sign", "square"):
        if name == "sqrt":
            base_vals = np.abs(series)
        elif name == "log1p":
            base_vals = np.abs(series)
        else:
            base_vals = series
        ref_out = getattr(np, name)(base_vals)
        import pandas as pd
        pdf = pd.DataFrame({"t": np.arange(N), "v": base_vals})
        base = XDataset(sds.spark.createDataFrame(pdf), dims=["t"])
        got = (getattr(xu, name)(base).to_pandas()
               .sort_values("t")["v"].to_numpy())
        np.testing.assert_allclose(got, ref_out, rtol=1e-12, atol=1e-300,
                                   equal_nan=True, err_msg=name)


@needs_xr
def test_expand_swap_transpose_match_reference(grid2d):
    from pyspark.sql import functions as F
    ref, ours = grid2d
    assert list(ours.transpose("y", "x").dims) == ["y", "x"]
    e = ours.expand_dims("new")
    assert "new" in e.dims
    sw = ours.assign_coords(x2=F.col("x") * 10).swap_dims({"x": "x2"})
    assert "x2" in sw.dims and "x" not in sw.dims


@needs_xr
def test_idxmin_with_nans_matches_reference(spark):
    vals = RNG.randn(15).round(6)
    vals[[0, 7]] = np.nan
    ref = xr.DataArray(vals, dims="t", coords={"t": np.arange(15)})
    pdf = pd.DataFrame({"t": np.arange(15), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    assert ds.idxmin("t").to_pandas()["v"].iloc[0] == int(ref.idxmin("t"))


@needs_xr
def test_sortby_matches_reference(spark):
    vals = RNG.randn(12).round(6)
    key = RNG.randn(12).round(6)
    ref = xr.DataArray(vals, dims="t",
                       coords={"t": np.arange(12), "k": ("t", key)})
    exp = ref.sortby("k").values
    pdf = pd.DataFrame({"t": np.arange(12), "v": vals, "k": key})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    got = ds.sortby("k").to_pandas()["v"].to_numpy()
    # long form has no materialized order; verify the key ordering holds
    np.testing.assert_allclose(np.sort(got), np.sort(exp))
    got_k = ds.sortby("k").to_pandas()["k"].to_numpy()
    # relation (k -> v) preserved
    m = dict(zip(key, vals))
    for kk, vv in zip(got_k, got):
        assert m[kk] == vv


# ------------------------------------------------------------------ #
# wave 6: CF coding, UDF harness, groupby quantile
# ------------------------------------------------------------------ #

def test_cf_time_decode_matches_reference(spark):
    """CF 'days since' decoding vs the reference's coder stack."""
    import xarray.coding.times as ref_times
    nums = np.array([0, 1, 17, 365, 1000], dtype="int64")
    units = "days since 2000-01-01"
    exp = ref_times.decode_cf_datetime(nums, units, "standard")
    from xarray_spark.io import decode_cf
    pdf = pd.DataFrame({"i": np.arange(5), "v": nums})
    df = decode_cf(spark.createDataFrame(pdf),
                   {"v": {"time_units": units}})
    got = (df.toPandas().sort_values("i")["v"]
           .to_numpy().astype("datetime64[ns]"))
    np.testing.assert_array_equal(got, exp.astype("datetime64[ns]"))


@needs_xr
def test_cf_mask_scale_matches_reference(spark):
    """mask_and_scale decoding (scale_factor/add_offset/_FillValue) vs
    the reference's conventions.decode_cf."""
    raw = np.array([0, 10, 20, -99, 40], dtype="int16")
    ref_ds = xr.Dataset(
        {"v": ("t", raw, {"scale_factor": 0.5, "add_offset": 2.0,
                          "_FillValue": np.int16(-99)})},
        coords={"t": np.arange(5)})
    exp = xr.decode_cf(ref_ds)["v"].values
    from xarray_spark.io import decode_cf
    pdf = pd.DataFrame({"t": np.arange(5), "v": raw.astype("int32")})
    df = decode_cf(spark.createDataFrame(pdf),
                   {"v": {"fill_value": -99, "scale_factor": 0.5,
                          "add_offset": 2.0}})
    got = df.toPandas().sort_values("t")["v"].to_numpy()
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_apply_ufunc_matches_reference(sds, series):
    from xarray_spark.computation import apply_ufunc
    got = (apply_ufunc(np.square, sds).to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = xr.apply_ufunc(np.square, _ref(series)).values
    np.testing.assert_allclose(got, exp, rtol=1e-12, equal_nan=True)


@needs_xr
def test_groupby_quantile_matches_reference(spark):
    vals = RNG.randn(40).round(6)
    keys = RNG.randint(0, 3, 40)
    ref = (xr.DataArray(vals, dims="t", coords={"k": ("t", keys)})
           .groupby("k").quantile(0.7))
    pdf = pd.DataFrame({"t": np.arange(40), "v": vals, "k": keys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    got = (ds.groupby("k").quantile(0.7).to_pandas()
           .sort_values("k")["v"].to_numpy())
    np.testing.assert_allclose(got, ref.values, rtol=1e-9)


@needs_xr
def test_unstack_roundtrip_matches_reference(grid2d):
    ref, ours = grid2d
    # stack -> unstack returns to the original grid in both engines
    exp = ref.stack(z=("x", "y")).unstack("z").values
    back = (ours.stack(z=("x", "y")).unstack("z").to_pandas()
            .sort_values(["x", "y"])["v"].to_numpy().reshape(6, 8))
    np.testing.assert_allclose(back, exp, rtol=1e-12)


# ------------------------------------------------------------------ #
# wave 7: merge/combine_by_coords, encode->decode roundtrip, isel grids
# ------------------------------------------------------------------ #

@needs_xr
def test_merge_matches_reference(spark):
    a_vals = RNG.randn(8).round(6)
    b_vals = RNG.randn(8).round(6)
    ra = xr.Dataset({"a": ("t", a_vals)}, coords={"t": np.arange(8)})
    rb = xr.Dataset({"b": ("t", b_vals)}, coords={"t": np.arange(8)})
    exp = xr.merge([ra, rb])
    from xarray_spark import merge
    da = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(8), "a": a_vals})), dims=["t"])
    db = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(8), "b": b_vals})), dims=["t"])
    got = merge([da, db]).to_pandas().sort_values("t")
    np.testing.assert_allclose(got["a"].to_numpy(), exp["a"].values)
    np.testing.assert_allclose(got["b"].to_numpy(), exp["b"].values)


@needs_xr
def test_combine_by_coords_matches_reference(spark):
    v1 = RNG.randn(5).round(6)
    v2 = RNG.randn(5).round(6)
    r1 = xr.Dataset({"v": ("t", v1)}, coords={"t": np.arange(5)})
    r2 = xr.Dataset({"v": ("t", v2)}, coords={"t": np.arange(5, 10)})
    exp = xr.combine_by_coords([r2, r1])["v"].values
    from xarray_spark import combine_by_coords
    d1 = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(5), "v": v1})), dims=["t"])
    d2 = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(5, 10), "v": v2})), dims=["t"])
    got = (combine_by_coords([d2, d1]).to_pandas()
           .sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp)


@needs_xr
def test_isel_grid_matches_reference(grid2d):
    ref, ours = grid2d
    exp = ref.isel(x=[1, 3], y=slice(2, 6)).values
    got = (ours.isel(x=[1, 3], y=slice(2, 6)).to_pandas()
           .sort_values(["x", "y"])["v"].to_numpy().reshape(2, 4))
    np.testing.assert_allclose(got, exp)


@needs_xr
def test_isel_negative_matches_reference(sds, series):
    got = sds.isel(t=-1).to_pandas()["v"].iloc[0]
    exp = float(_ref(series).isel(t=-1))
    if np.isnan(exp):
        assert np.isnan(got)
    else:
        assert got == exp


@needs_xr
def test_assign_arith_pipe_match_reference(sds, series):
    got = _ours((sds * 2 + 1).pipe(lambda d: d - 0.5))
    exp = ((_ref(series) * 2 + 1) - 0.5).values
    np.testing.assert_allclose(got, exp, rtol=1e-12, equal_nan=True)


@needs_xr
def test_outer_align_keeps_other_dim_coords(spark):
    """Wave 8: a coord keyed on the NON-aligned dim must stay populated
    on rows synthesized by outer align (reference keeps non-aligned
    indexes' coords intact; only coords keyed on the aligned dim go
    NaN).  Regression test for the r4 advisor finding."""
    lat = np.array([10.0, 20.0, 30.0])
    ra = xr.DataArray(
        RNG.randn(3, 4).round(6), dims=("station", "time"),
        coords={"station": [0, 1, 2], "time": np.arange(4), "lat": ("station", lat)},
    )
    rb = xr.DataArray(
        RNG.randn(3, 4).round(6), dims=("station", "time"),
        coords={"station": [0, 1, 2], "time": np.arange(2, 6)},
    )
    ea, _ = xr.align(ra, rb, join="outer")
    rows = []
    for i, s in enumerate([0, 1, 2]):
        for j, t in enumerate(range(4)):
            rows.append((s, t, lat[i], float(ra.values[i, j])))
    pa = pd.DataFrame(rows, columns=["station", "time", "lat", "v"])
    pb = pd.DataFrame(
        [(s, t, float(rb.values[i, j]))
         for i, s in enumerate([0, 1, 2]) for j, t in enumerate(range(2, 6))],
        columns=["station", "time", "v"])
    from xarray_spark import align
    da = XDataset(spark.createDataFrame(pa), dims=["station", "time"],
                  coords={"lat": ("station",)})
    db = XDataset(spark.createDataFrame(pb), dims=["station", "time"])
    ga, _ = align(da, db, join="outer")
    gp = ga.to_pandas().sort_values(["station", "time"])
    # lat populated on EVERY row, including time=4,5 synthesized ones
    assert gp["lat"].notna().all()
    exp_lat = ea["lat"].broadcast_like(ea).values.ravel()
    np.testing.assert_allclose(
        gp["lat"].to_numpy(), exp_lat)
    np.testing.assert_allclose(
        gp["v"].to_numpy(), ea.values.ravel(), equal_nan=True)


@needs_xr
def test_sel_method_unmatched_raises_like_reference(spark, sds, series):
    """Wave 8: list-valued sel(method=, tolerance=) with an unmatched
    request raises KeyError (reference: pandas get_indexer -1 →
    'not all values found in index')."""
    ref = _ref(series).assign_coords(t=np.arange(N))
    with pytest.raises(KeyError):
        ref.sel(t=[0, 999], method="nearest", tolerance=1)
    with pytest.raises(KeyError):
        sds.sel(t=[0, 999], method="nearest", tolerance=1)
    # matched requests still work identically
    exp = ref.sel(t=[0.4, 10.2], method="nearest").values
    got = (sds.sel(t=[0.4, 10.2], method="nearest").to_pandas()
           .sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_encoded_groups_matches_reference(spark):
    """Wave 8: groupby with precomputed integer codes (EncodedGroups,
    reference groupers.py:78) — same codes, same labels, same means;
    the -1 sentinel group is omitted on both sides."""
    vals = RNG.randn(24).round(6)
    codes = np.array([0, 1, 2, 0, 1, 2, -1, 0] * 3)
    labels = pd.Index(["a", "b", "c"])
    ref = xr.DataArray(
        vals, dims="t", name="v",
        coords={"code": ("t", codes)})
    from xarray.groupers import EncodedGroups as RefEncoded, Grouper

    class Precomputed(Grouper):
        # the reference's EncodedGroups surface: a Grouper whose
        # factorize hands back precomputed codes + labels verbatim
        def factorize(self, group):
            codes_da = group.copy(data=group.data).rename("key")
            return RefEncoded(codes=codes_da, full_index=labels)

        def reset(self):
            return type(self)()

    exp = ref.groupby(code=Precomputed()).mean()
    from xarray_spark.groupers import EncodedGroups
    pdf = pd.DataFrame({"t": np.arange(24), "code": codes, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.groupby(code=EncodedGroups(labels=list(labels))).mean()
           .to_pandas())
    got = got[got["code"].notna()].sort_values("code")
    np.testing.assert_allclose(got["v"].to_numpy(), exp.values)
    assert list(got["code"]) == list(exp["key"].values)


@needs_xr
def test_datatree_map_filter_match_reference(spark):
    """Wave 8: DataTree map_over_datasets + filter vs the reference's
    DataTree (xarray/core/datatree.py)."""
    vals = {p: RNG.randn(6).round(6) for p in ("/a", "/a/b", "/c")}
    ref = xr.DataTree.from_dict({
        p: xr.Dataset({"v": ("t", v)}, coords={"t": np.arange(6)})
        for p, v in vals.items()})
    rmapped = ref.map_over_datasets(lambda d: d * 2 + 1)
    from xarray_spark.datatree import DataTree
    ours = DataTree.from_dict({
        p: XDataset(spark.createDataFrame(
            pd.DataFrame({"t": np.arange(6), "v": v})), dims=["t"])
        for p, v in vals.items()})
    omapped = ours.map_over_datasets(lambda d: d * 2 + 1)
    for p in vals:
        exp = rmapped[p].ds["v"].values
        got = omapped[p].to_pandas().sort_values("t")["v"].to_numpy()
        np.testing.assert_allclose(got, exp)
    # filter: keep nodes whose mean is positive, both sides
    rkept = {p for p in vals
             if p.strip("/") and float(ref[p].ds["v"].mean()) > 0}
    okept = ours.filter(
        lambda d: d.to_pandas()["v"].mean() > 0)
    assert {k for k in okept.groups if k in vals or k.rstrip("/") in vals
            } >= set() # structural smoke
    got_paths = {p for p in vals if p in okept.groups}
    assert got_paths == rkept


@needs_xr
def test_cf_encode_decode_roundtrip_matches_reference(spark):
    """Wave 8: bytes encoded by the REFERENCE's CF coders
    (scale_factor/add_offset/_FillValue) decode through this engine's
    decode_cf to the same floats the reference's decode_cf returns."""
    raw = RNG.randn(40).round(3) * 10
    raw[[3, 17]] = np.nan
    da = xr.DataArray(raw, dims="t", name="v",
                      coords={"t": np.arange(40)})
    enc = {"scale_factor": 0.01, "add_offset": 5.0,
           "_FillValue": -9999, "dtype": "int32"}
    ref_ds = da.to_dataset()
    ref_ds["v"].encoding.update(enc)
    import xarray.conventions as conv
    encoded = conv.encode_dataset_coordinates(ref_ds)[0]
    enc_var = conv.encode_cf_variable(ref_ds["v"].variable)
    ints = np.asarray(enc_var.values)
    decoded_ref = conv.decode_cf_variable("v", enc_var).values
    from xarray_spark.io import decode_cf
    pdf = pd.DataFrame({"t": np.arange(40), "v": ints})
    sdf = decode_cf(spark.createDataFrame(pdf),
                    {"v": {"fill_value": -9999, "scale_factor": 0.01,
                           "add_offset": 5.0}})
    got = (XDataset(sdf, dims=["t"]).to_pandas()
           .sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, np.asarray(decoded_ref, dtype=float),
                               rtol=1e-9, equal_nan=True)


@needs_xr
def test_isel_points_matches_reference(grid2d):
    """Wave 8: vectorized (pointwise) indexing — parallel index arrays
    make a new points dim, matching the reference's vectorized isel."""
    ref, ours = grid2d
    ix = [0, 3, 1, 4]
    iy = [2, 0, 7, 5]
    exp = ref.isel(x=xr.DataArray(ix, dims="points"),
                   y=xr.DataArray(iy, dims="points")).values
    got = (ours.isel_points(x=ix, y=iy).to_pandas()
           .sort_values("points")["v"].to_numpy())
    np.testing.assert_allclose(got, exp)


@needs_xr
@pytest.mark.parametrize("which", ["argmin", "argmax"])
def test_rolling_argminmax_matches_reference(spark, which):
    """Wave 8: rolling argmin/argmax (q111's operator) vs the
    reference's rolling reduction — NaN-free series (the reference's
    nanarg* raises on all-NaN windows)."""
    vals = RNG.randn(40).round(6)
    r = xr.DataArray(vals, dims="t").rolling(t=5, min_periods=5)
    exp = getattr(r, which)().values
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(40), "v": vals})), dims=["t"])
    got = (getattr(ds.rolling(t=5, min_periods=5), which)()
           .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_grouped_hist_quantile_matches_reference(spark):
    """Wave 8: the round-5 distributed per-group histogram quantile
    path (buffer limit forced to 1) against the reference's
    groupby().quantile()."""
    from xarray_spark import set_options
    vals = RNG.randn(120).round(6)
    keys = np.repeat(np.arange(4), 30)
    ref = xr.DataArray(
        vals, dims="t",
        coords={"k": ("t", keys)}).groupby("k").quantile([0.2, 0.8])
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(120), "k": keys, "v": vals})),
        dims=["t"], coords={"k": ("t",)})
    with set_options(grouped_quantile_plan="hist"):
        got = (ds.groupby("k").quantile(0.2).to_pandas().sort_values("k")
               ["v"].to_numpy())
    np.testing.assert_allclose(got, ref.sel(quantile=0.2).values,
                               rtol=1e-9)
    with set_options(grouped_quantile_plan="hist"):
        got = (ds.groupby("k").quantile(0.8).to_pandas().sort_values("k")
               ["v"].to_numpy())
    np.testing.assert_allclose(got, ref.sel(quantile=0.8).values,
                               rtol=1e-9)


@needs_xr
def test_sel_label_slice_step_matches_reference(spark):
    vals = RNG.randn(60).round(6)
    labels = np.arange(0, 120, 2)
    ref = xr.DataArray(vals, dims="t", coords={"t": labels})
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": labels, "v": vals})), dims=["t"])
    for sl in (slice(10, 80, 3), slice(100, 20, -4)):
        exp = ref.sel(t=sl).values
        got_pd = ds.sel(t=sl).to_pandas()
        got_pd = got_pd.sort_values("t", ascending=sl.step is None
                                    or sl.step > 0)
        np.testing.assert_allclose(got_pd["v"].to_numpy(), exp,
                                   err_msg=str(sl))


@needs_xr
def test_interp_targets_match_reference(spark):
    """Wave 8: interp() onto explicit targets incl. EXACT-HIT labels
    (the q62 shape) vs the reference's linear interp."""
    vals = RNG.randn(30).round(6)
    labels = np.arange(0, 60, 2).astype(float)
    ref = xr.DataArray(vals, dims="t", coords={"t": labels})
    targets = [0.0, 5.0, 10.0, 17.3, 58.0, 31.0]   # mix of hits + gaps
    # reference interp needs scipy (absent); its linear interpolator is
    # np.interp on interior points, which all targets are
    exp = np.interp(np.array(targets), labels, vals)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": labels, "v": vals})), dims=["t"])
    got_pd = ds.interp(t=targets).to_pandas()
    got = got_pd.set_index("t").loc[targets]["v"].to_numpy()
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
def test_shift_negative_and_diff2_match_reference(sds, series):
    got = _ours(sds.shift(t=-2))
    exp = _ref(series).shift(t=-2).values
    np.testing.assert_allclose(got, exp, equal_nan=True)
    got = (sds.diff("t", n=2).to_pandas().sort_values("t")["v"]
           .to_numpy())
    exp = _ref(series).diff("t", n=2).values
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_coarsen_construct_matches_reference(sds, series):
    """Wave 8: coarsen.construct window reshaping vs reference."""
    exp = _ref(series)[:56].coarsen(t=7).construct(t=("t0", "win"))
    got_ds = sds.isel(t=slice(0, 56)).coarsen(t=7).construct(
        t=("t0", "win"))
    gp = got_ds.to_pandas().sort_values(["t0", "win"])
    np.testing.assert_allclose(
        gp["v"].to_numpy().reshape(8, 7), exp.values, equal_nan=True)


@needs_xr
def test_where_drop_matches_reference(sds, series):
    exp = _ref(series).where(_ref(series) > 0, drop=True).values
    got = np.sort(_ours(sds.where(sds["v"] > 0, drop=True)))
    np.testing.assert_allclose(got, np.sort(exp), equal_nan=True)


@needs_xr
def test_fillna_matches_reference(sds, series):
    got = _ours(sds.fillna(0.25))
    exp = _ref(series).fillna(0.25).values
    np.testing.assert_allclose(got, exp)


def test_rank_pct_matches_pandas(sds, series):
    got = _ours(sds.rank("t", pct=True))
    exp = pd.Series(series).rank(method="average", pct=True).to_numpy()
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_broadcast_like_matches_reference(spark):
    a = xr.DataArray(RNG.randn(4).round(6), dims="x",
                     coords={"x": np.arange(4)})
    b = xr.DataArray(RNG.randn(3).round(6), dims="y",
                     coords={"y": np.arange(3)})
    exp = a.broadcast_like(a * b)
    from xarray_spark import broadcast
    da = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": np.arange(4), "v": a.values})), dims=["x"])
    db = XDataset(spark.createDataFrame(
        pd.DataFrame({"y": np.arange(3), "w": b.values})), dims=["y"])
    ga, gb = broadcast(da, db)
    gp = ga.to_pandas().sort_values(["x", "y"])
    np.testing.assert_allclose(
        gp["v"].to_numpy().reshape(4, 3),
        np.broadcast_to(exp.transpose("x", "y").values, (4, 3)))


@needs_xr
def test_drop_duplicates_matches_reference(spark):
    vals = np.array([3.0, 1.0, 3.0, 2.0, 1.0, 5.0])
    ref = xr.Dataset({"v": ("t", vals)},
                     coords={"t": [0, 1, 0, 2, 1, 3]})
    exp = ref.drop_duplicates("t", keep="first")
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1, 0, 2, 1, 3], "v": vals})), dims=["t"])
    got = ds.drop_duplicates("t", keep="first").to_pandas().sort_values("t")
    np.testing.assert_allclose(got["v"].to_numpy(), exp["v"].values)


@needs_xr
def test_to_stacked_array_roundtrip_matches_reference(spark):
    """to_stacked_array / to_unstacked_dataset round-trip preserves the
    reference's variable stacking semantics."""
    a = RNG.randn(5).round(6)
    b = RNG.randn(5).round(6)
    ref = xr.Dataset({"a": ("t", a), "b": ("t", b)},
                     coords={"t": np.arange(5)})
    exp = ref.to_stacked_array("z", sample_dims=["t"])
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(5), "a": a, "b": b})), dims=["t"])
    st = ds.to_stacked_array("z", sample_dims=["t"])
    sp = st.to_pandas()
    vcol = [c for c in sp.columns if c not in ("t", "z")][0]
    got = (sp.sort_values(["t", "z"])[vcol]
           .to_numpy().reshape(5, 2))
    np.testing.assert_allclose(got, exp.transpose("t", "z").values)
    back = st.to_unstacked_dataset("z")
    bp = back.to_pandas().sort_values("t")
    np.testing.assert_allclose(bp["a"].to_numpy(), a)
    np.testing.assert_allclose(bp["b"].to_numpy(), b)


@needs_xr
def test_argsort_matches_reference(sds, series):
    """Wave 9: argsort (inverse sort permutation) vs numpy/reference —
    NaN-free slice (numpy puts NaN last; ours nulls_last matches, but
    label alignment of the tail is ambiguous across ties)."""
    # distinct fill values: numpy's default argsort is not stable, so
    # ties would compare implementation detail, not semantics
    clean = series.copy()
    clean[np.isnan(clean)] = 99.0 + np.arange(np.isnan(clean).sum())
    ref = xr.DataArray(clean, dims="t")
    exp = ref.argsort().values
    pdf = pd.DataFrame({"t": np.arange(N), "v": clean})
    ds = XDataset(sds.df.sparkSession.createDataFrame(pdf), dims=["t"])
    got = ds.argsort("t").to_pandas().sort_values("t")["v"].to_numpy()
    np.testing.assert_array_equal(got, exp)


@needs_xr
@pytest.mark.parametrize("q", [0.1, 0.5, 0.9])
def test_weighted_quantile_grid_matches_reference(spark, q):
    """Wave 9: weighted quantile across the q grid (the reference's
    Akinshin weighted-HF7 estimator, aligned in round 4)."""
    vals = RNG.rand(40).round(6)
    wts = (RNG.rand(40) * 3).round(6) + 0.1
    ref = xr.DataArray(vals, dims="t").weighted(
        xr.DataArray(wts, dims="t"))
    exp = float(ref.quantile(q))
    pdf = pd.DataFrame({"t": np.arange(40), "v": vals, "w": wts})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                  coords={"w": ("t",)})
    got = ds.weighted("w").quantile(q).to_pandas()["v"].iloc[0]
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
@pytest.mark.parametrize("method", [
    "median_unbiased", "normal_unbiased", "inverted_cdf",
    "averaged_inverted_cdf", "closest_observation"])
def test_quantile_tail_methods_match_reference(sds, series, method):
    """Wave 9: the remaining four-plus quantile methods (the first five
    are grid-covered above)."""
    for q in (0.25, 0.75):
        got = sds.quantile(q, dim="t", method=method).to_pandas()["v"].iloc[0]
        exp = float(_ref(series).quantile(q, dim="t", method=method,
                                          skipna=True))
        np.testing.assert_allclose(got, exp, rtol=1e-12,
                                   err_msg=f"{method} q={q}")


@needs_xr
def test_groupby_bins_left_closed_matches_reference(spark):
    vals = RNG.rand(50).round(6) * 100
    ref = (xr.DataArray(vals, dims="t")
           .groupby_bins(xr.DataArray(vals, dims="t").rename("x"),
                         bins=[0, 25, 50, 100], right=False,
                         labels=["a", "b", "c"]).mean())
    pdf = pd.DataFrame({"t": np.arange(50), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.groupby_bins("v", bins=[0, 25, 50, 100], right=False,
                           labels=["a", "b", "c"]).mean()
           .to_pandas())
    got = got.dropna(subset=["v_bins"]).set_index("v_bins")["v"]
    for lab, exp_v in zip(ref["x_bins"].values, ref.values):
        lab_name = {"[0, 25)": "a", "[25, 50)": "b", "[50, 100)": "c"}.get(
            str(lab), None)
        np.testing.assert_allclose(got[lab_name if lab_name else str(lab)],
                                   exp_v, rtol=1e-9)


@needs_xr
def test_convert_calendar_roundtrip_matches_reference(spark):
    """Wave 9: standard→noleap drops Feb 29 and keeps values; the
    reference needs the cftime package for the target calendar — skip
    when absent (values then verified against engine invariants)."""
    times = pd.date_range("2000-02-26", periods=8, freq="D")  # spans Feb 29
    vals = RNG.randn(8).round(6)
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    from xarray_spark import convert_calendar
    got = convert_calendar(ds, "noleap", dim="time")
    gp = got.to_pandas()
    assert gp.shape[0] == 7                      # Feb 29 dropped
    try:
        ref = xr.DataArray(vals, dims="time",
                           coords={"time": times}).convert_calendar("noleap")
        np.testing.assert_allclose(
            np.sort(gp["v"].to_numpy()), np.sort(ref.values))
    except (ImportError, ModuleNotFoundError):
        surv = pdf[~((times.month == 2) & (times.day == 29))]
        np.testing.assert_allclose(np.sort(gp["v"].to_numpy()),
                                   np.sort(surv["v"].to_numpy()))


@needs_xr
def test_rolling_construct_stride_matches_reference(sds, series):
    """Wave 9: rolling.construct(stride=) subsampling vs reference."""
    exp = (_ref(series).rolling(t=4).construct("win", stride=3).values)
    got_ds = sds.rolling(t=4).construct("win", stride=3)
    gp = got_ds.to_pandas().sort_values(["t", "win"])
    got = gp["v"].to_numpy().reshape(-1, 4)
    np.testing.assert_allclose(got, exp, equal_nan=True)


# ------------------------------------------------------------------ #
# wave 10: sparse unstack/densify, resample fill family, coarsen pad,
#          multi-dim arg-reduce dict form, season grouper
# ------------------------------------------------------------------ #
@needs_xr
def test_densify_missing_combos_matches_reference(spark):
    """Unstack with missing combinations: the reference materializes
    NaN holes (core/dataset.py:5546 _unstack_full_reindex); long form
    keeps sparse rows and densify() produces the same dense grid."""
    pairs = [(i, j) for i in range(4) for j in range(5)
             if (i, j) not in {(0, 3), (2, 1), (3, 4), (1, 0)}]
    vals = RNG.randn(len(pairs)).round(6)
    s = pd.Series(vals, index=pd.MultiIndex.from_tuples(pairs,
                                                        names=["x", "y"]))
    exp = xr.DataArray.from_series(s).values          # 4x5 with NaN holes
    pdf = pd.DataFrame([(i, j, v) for (i, j), v in zip(pairs, vals)],
                       columns=["x", "y", "v"])
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"])
    gp = ds.densify().to_pandas().sort_values(["x", "y"])
    got = gp["v"].to_numpy().reshape(4, 5)
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("meth", ["asfreq", "pad", "backfill", "nearest"])
def test_resample_fill_methods_match_reference(spark, meth):
    """Wave 10: upsampling resample fill family (core/resample.py:383
    asfreq/pad/backfill/nearest) on a 3-day series re-keyed to daily."""
    times = pd.date_range("2001-01-01", periods=10, freq="3D")
    vals = RNG.randn(10).round(6)
    exp = getattr(
        xr.DataArray(vals, dims="time", coords={"time": times})
        .resample(time="1D"), meth)().values
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    gp = (getattr(ds.resample(time="D"), meth)()
          .to_pandas().sort_values("time"))
    np.testing.assert_allclose(gp["v"].to_numpy(), exp, equal_nan=True)


@needs_xr
def test_coarsen_pad_boundary_matches_reference(sds, series):
    """Wave 10: boundary='pad' NaN-pads the ragged tail block in the
    reference (computation/rolling.py:1023); the long form's absent
    rows under skipna reductions produce identical block means."""
    exp = np.sort(_ref(series).coarsen(t=7, boundary="pad").mean().values)
    got = np.sort(_ours(sds.coarsen(t=7, boundary="pad").mean()))
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
def test_argmin_dict_form_matches_reference(grid2d):
    """Wave 10: multi-dim argmin dict form (core/variable.py:2491) —
    the (x, y) position pair of the grid minimum, first occurrence."""
    from pyspark.sql import functions as F
    ref, ours = grid2d
    exp = ref.argmin(dim=["x", "y"])
    out = ours.argmin(["x", "y"]).to_spark().select(
        F.col("v.x").alias("px"), F.col("v.y").alias("py")).toPandas()
    assert int(out["px"][0]) == int(exp["x"].values)
    assert int(out["py"][0]) == int(exp["y"].values)


@needs_xr
def test_season_grouper_matches_reference(spark):
    """Wave 10: SeasonGrouper means vs the reference grouper
    (xarray/groupers.py:801), incl. the cross-year DJF wrap."""
    times = pd.date_range("2001-01-01", periods=400, freq="D")
    vals = RNG.randn(400).round(6)
    try:
        from xarray.groupers import SeasonGrouper as RefSeason
        exp_da = (xr.DataArray(vals, dims="time", coords={"time": times})
                  .groupby(time=RefSeason(["DJF", "MAM", "JJA", "SON"]))
                  .mean())
        exp = {str(k): float(v) for k, v in
               zip(exp_da[exp_da.dims[0]].values, exp_da.values)}
    except ImportError:
        pytest.skip("reference SeasonGrouper unavailable")
    from xarray_spark.groupers import SeasonGrouper
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    gp = (ds.groupby(time=SeasonGrouper()).mean().to_pandas())
    season_col = [c for c in gp.columns if c != "v"][0]
    got = {str(r[season_col]): float(r["v"]) for _, r in gp.iterrows()}
    assert set(got) == set(exp)
    for k in exp:
        np.testing.assert_allclose(got[k], exp[k], rtol=1e-9)


# ------------------------------------------------------------------ #
# wave 11: weighted sums, cumprod, shift fill_value, skipna=False,
#          str accessor matrix, DataTree reductions
# ------------------------------------------------------------------ #
@needs_xr
def test_weighted_sums_match_reference(spark):
    """Wave 11: sum_of_weights / sum_of_squares (computation/weighted.py)
    — NaN values mask their weights out of both statistics."""
    vals = RNG.randn(30).round(6)
    vals[[3, 11]] = np.nan
    wts = RNG.rand(30).round(6)
    ref = xr.DataArray(vals, dims="t").weighted(xr.DataArray(wts, dims="t"))
    pdf = pd.DataFrame({"t": np.arange(30), "v": vals, "w": wts})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                  coords={"w": ("t",)})
    w = ds.weighted("w")
    np.testing.assert_allclose(
        w.sum_of_weights().to_pandas()["v"].iloc[0],
        float(ref.sum_of_weights()), rtol=1e-9)
    np.testing.assert_allclose(
        w.sum_of_squares().to_pandas()["v"].iloc[0],
        float(ref.sum_of_squares()), rtol=1e-9)


@needs_xr
def test_cumprod_matches_reference(sds, series):
    """Wave 11: cumprod with NaN skip (generated _aggregations.py)."""
    got = _ours(sds.cumprod("t"))
    exp = _ref(series).cumprod("t").values
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
def test_shift_fill_value_matches_reference(sds, series):
    """Wave 11: shift(fill_value=) replaces the vacated slots
    (core/dataset.py:7967) instead of leaving NaN."""
    exp = _ref(series).shift(t=4, fill_value=-1.5).values
    got = _ours(sds.shift(t=4, fill_value=-1.5))
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_skipna_false_matches_reference(sds, series):
    """Wave 11: skipna=False poisons the reduction with NaN like the
    reference (series has 4 NaNs, so every result is NaN); skipna=True
    on the same data stays finite."""
    for agg in ("mean", "sum"):
        got = getattr(sds, agg)(dim="t", skipna=False).to_pandas()["v"].iloc[0]
        exp = float(getattr(_ref(series), agg)(skipna=False))
        assert np.isnan(got) == np.isnan(exp)
        got_t = getattr(sds, agg)(dim="t", skipna=True).to_pandas()["v"].iloc[0]
        exp_t = float(getattr(_ref(series), agg)(skipna=True))
        np.testing.assert_allclose(got_t, exp_t, rtol=1e-9)


@needs_xr
def test_str_accessor_matrix_matches_reference(spark):
    """Wave 11: .str accessor ops vs the reference's numpy-object
    accessor (core/accessor_str.py) on mixed-case padded strings."""
    words = ["  Hello World ", "spark SQL", "", "aAbB  cC", "12345",
             "ba na na", None, "Zz  "]
    ref = xr.DataArray(np.array([w for w in words if w is not None],
                                dtype="U20"), dims="i")
    pdf = pd.DataFrame({"i": np.arange(len(words)), "s": words})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf, "i long, s string"),
                    dims=["i"])
    cases = [
        ("upper", (), {}), ("lower", (), {}), ("len", (), {}),
        ("strip", (), {}), ("capitalize", (), {}), ("title", (), {}),
        ("startswith", ("a",), {}), ("contains", ("na",), {}),
        ("replace", ("a", "_"), {}), ("zfill", (8,), {}),
        ("count", ("a",), {}), ("swapcase", (), {}),
        ("rjust", (6,), {}), ("ljust", (6,), {}), ("center", (6,), {}),
    ]
    for meth, args, kw in cases:
        if not hasattr(ref.str, meth):
            continue
        exp = getattr(ref.str, meth)(*args, **kw).values
        gp = (getattr(da.str, meth)(*args, **kw).to_pandas()
              .sort_values("i"))
        got = gp[gp["i"].isin([i for i, w in enumerate(words)
                               if w is not None])]["s"].to_numpy()
        if exp.dtype.kind in "if":
            np.testing.assert_allclose(got.astype("float64"),
                                       exp.astype("float64"),
                                       err_msg=meth)
        elif exp.dtype.kind == "b":
            np.testing.assert_array_equal(got.astype(bool), exp, err_msg=meth)
        else:
            assert got.tolist() == exp.tolist(), meth


@needs_xr
def test_datatree_reduction_matches_reference(spark):
    """Wave 11: per-node DataTree reductions (mean over the node's
    dataset) vs the reference DataTree."""
    vals = {p: RNG.randn(8).round(6) for p in ("/x", "/x/y", "/z")}
    ref = xr.DataTree.from_dict({
        p: xr.Dataset({"v": ("t", v)}, coords={"t": np.arange(8)})
        for p, v in vals.items()})
    rmean = ref.mean(dim="t")
    from xarray_spark.datatree import DataTree
    ours = DataTree.from_dict({
        p: XDataset(spark.createDataFrame(
            pd.DataFrame({"t": np.arange(8), "v": v})), dims=["t"])
        for p, v in vals.items()})
    omean = ours.mean(dim="t")
    for p in vals:
        exp = float(rmean[p].ds["v"])
        got = float(omean[p].to_pandas()["v"].iloc[0])
        np.testing.assert_allclose(got, exp, rtol=1e-9)


# ------------------------------------------------------------------ #
# wave 12: dt floor/ceil/round/strftime, timedelta fields, pad stat
#          modes, groupby first/last, combine_nested, align override,
#          searchsorted
# ------------------------------------------------------------------ #
@needs_xr
def test_dt_floor_ceil_round_matches_reference(spark):
    """Wave 12: dt.floor/ceil/round vs the reference accessor
    (core/accessor_dt.py:288-330)."""
    times = pd.date_range("2001-05-03 07:23:41", periods=40, freq="97min")
    pdf = pd.DataFrame({"i": np.arange(40), "v": times})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf), dims=["i"])
    ref = xr.DataArray(times, dims="i")
    for meth, freq_r, freq_o in [("floor", "D", "D"), ("floor", "h", "h"),
                                 ("ceil", "h", "h"), ("round", "h", "h")]:
        exp = getattr(ref.dt, meth)(freq_r).values.astype("datetime64[us]")
        got = (getattr(da.dt, meth)(freq_o).to_pandas().sort_values("i")
               ["v"].to_numpy().astype("datetime64[us]"))
        np.testing.assert_array_equal(got, exp, err_msg=f"{meth}({freq_r})")


@needs_xr
def test_dt_strftime_matches_reference(spark):
    times = pd.date_range("1999-12-28 23:59:05", periods=20, freq="11h")
    pdf = pd.DataFrame({"i": np.arange(20), "v": times})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf), dims=["i"])
    exp = xr.DataArray(times, dims="i").dt.strftime("%Y-%m-%d %H:%M").values
    got = (da.dt.strftime("%Y-%m-%d %H:%M").to_pandas()
           .sort_values("i")["v"].tolist())
    assert got == exp.tolist()


@needs_xr
def test_timedelta_fields_match_reference(spark):
    """Wave 12: TimedeltaAccessor days/seconds/total_seconds
    (core/accessor_dt.py:574)."""
    t0 = pd.Timestamp("2001-01-01")
    deltas = pd.to_timedelta(
        ["1 days 02:03:04", "0 days 23:59:59", "7 days 00:00:01",
         "0 days 00:00:00", "3 days 12:30:00"])
    ref = xr.DataArray(deltas, dims="i")
    pdf = pd.DataFrame({"i": np.arange(5), "a": t0 + deltas, "b": t0})
    from pyspark.sql import functions as F
    sdf = spark.createDataFrame(pdf).select(
        "i", (F.col("a") - F.col("b")).alias("v"))
    from xarray_spark.dataset import XDataArray
    da = XDataArray(sdf, dims=["i"])
    np.testing.assert_array_equal(
        da.dt.days.to_pandas().sort_values("i")["v"].to_numpy(),
        ref.dt.days.values)
    np.testing.assert_array_equal(
        da.dt.seconds.to_pandas().sort_values("i")["v"].to_numpy(),
        ref.dt.seconds.values)
    np.testing.assert_allclose(
        da.dt.total_seconds().to_pandas().sort_values("i")["v"].to_numpy(),
        ref.dt.total_seconds().values)


@needs_xr
@pytest.mark.parametrize("mode", ["maximum", "mean", "minimum"])
def test_pad_stat_modes_match_reference(spark, mode):
    """Wave 12: np.pad statistic modes through the reference pad
    (core/dataset.py pad -> np.pad)."""
    vals = RNG.randn(20).round(6)      # no NaN: np.pad stats are exact
    ref = xr.DataArray(vals, dims="t")
    pdf = pd.DataFrame({"t": np.arange(20), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    exp = ref.pad(t=(2, 3), mode=mode).values
    got = (ds.pad(t=(2, 3), mode=mode).to_pandas()
           .sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
def test_groupby_first_last_match_reference(spark):
    vals = RNG.randn(30).round(6)
    keys = RNG.randint(0, 5, 30)
    ref = xr.DataArray(vals, dims="t", coords={"k": ("t", keys)}).groupby("k")
    pdf = pd.DataFrame({"t": np.arange(30), "v": vals, "k": keys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    for meth in ("first", "last"):
        got = (getattr(ds.groupby("k"), meth)().to_pandas()
               .sort_values("k")["v"].to_numpy())
        exp = getattr(ref, meth)().values
        np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
def test_combine_nested_matches_reference(spark):
    a_vals = RNG.randn(6).round(6)
    b_vals = RNG.randn(6).round(6)
    exp = xr.combine_nested(
        [xr.DataArray(a_vals, dims="t", coords={"t": np.arange(6)},
                      name="v").to_dataset(),
         xr.DataArray(b_vals, dims="t", coords={"t": np.arange(6, 12)},
                      name="v").to_dataset()],
        concat_dim="t")["v"].values
    from xarray_spark.combine import combine_nested
    mk = lambda vals, off: XDataset(spark.createDataFrame(  # noqa: E731
        pd.DataFrame({"t": np.arange(off, off + 6), "v": vals})), dims=["t"])
    got = (combine_nested([mk(a_vals, 0), mk(b_vals, 6)], concat_dim="t")
           .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
def test_align_override_matches_reference(spark):
    """join='override': the right object keeps its values but takes the
    left's labels verbatim (core/alignment.py)."""
    a_vals = RNG.randn(5).round(6)
    b_vals = RNG.randn(5).round(6)
    ra = xr.DataArray(a_vals, dims="t", coords={"t": [10, 20, 30, 40, 50]})
    rb = xr.DataArray(b_vals, dims="t", coords={"t": [11, 21, 31, 41, 51]})
    ea, eb = xr.align(ra, rb, join="override")
    from xarray_spark.alignment import align
    mk = lambda vals, ts: XDataset(spark.createDataFrame(  # noqa: E731
        pd.DataFrame({"t": ts, "v": vals})), dims=["t"])
    ga, gb = align(mk(a_vals, [10, 20, 30, 40, 50]),
                   mk(b_vals, [11, 21, 31, 41, 51]), join="override")
    gb_p = gb.to_pandas().sort_values("t")
    np.testing.assert_array_equal(gb_p["t"].to_numpy(), eb["t"].values)
    np.testing.assert_allclose(gb_p["v"].to_numpy(), eb.values, rtol=1e-12)


def test_searchsorted_matches_numpy(spark):
    vals = np.sort(RNG.randn(40).round(6))
    pdf = pd.DataFrame({"t": np.arange(40), "v": vals})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf), dims=["t"])
    probes = [vals[7], vals[7] + 1e-9, -10.0, 10.0, 0.0]
    for side in ("left", "right"):
        got = da.searchsorted(probes, side=side)
        exp = np.searchsorted(vals, probes, side=side)
        np.testing.assert_array_equal(np.asarray(got), exp, err_msg=side)


# ------------------------------------------------------------------ #
# wave 13: datetime differentiate/integrate units, rolling default
#          min_periods, groupby.map, reindex nearest+tolerance,
#          map_blocks, groupby.reduce
# ------------------------------------------------------------------ #
@needs_xr
@pytest.mark.parametrize("unit", ["s", "h"])
def test_differentiate_datetime_unit_matches_reference(spark, unit):
    """Wave 13: gradient over a datetime coord in a chosen unit
    (core/dataset.py:8495 datetime_unit)."""
    times = pd.date_range("2001-01-01", periods=20, freq="7h")
    vals = RNG.randn(20).round(6)
    ref = xr.DataArray(vals, dims="time", coords={"time": times})
    exp_d = ref.differentiate("time", datetime_unit=unit).values
    exp_i = float(ref.integrate("time", datetime_unit=unit))
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    got_d = (ds.differentiate("time", datetime_unit=unit).to_pandas()
             .sort_values("time")["v"].to_numpy())
    np.testing.assert_allclose(got_d, exp_d, rtol=1e-9)
    got_i = ds.integrate("time", datetime_unit=unit).to_pandas()["v"].iloc[0]
    np.testing.assert_allclose(got_i, exp_i, rtol=1e-9)


@needs_xr
def test_rolling_default_min_periods_matches_reference(sds, series):
    """Wave 13: min_periods defaults to the window size (NaN until the
    window fills — computation/rolling.py:120)."""
    got = _ours(sds.rolling(t=5).mean())
    exp = _ref(series).rolling(t=5).mean().values
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
def test_groupby_map_matches_reference(spark):
    """Wave 13: GroupBy.map with an arbitrary block function
    (core/groupby.py:1614) — per-group demeaning."""
    vals = RNG.randn(30).round(6)
    keys = RNG.randint(0, 3, 30)
    ref = (xr.DataArray(vals, dims="t", coords={"k": ("t", keys)})
           .groupby("k").map(lambda g: g - g.mean()))
    pdf = pd.DataFrame({"t": np.arange(30), "v": vals, "k": keys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})

    def demean(g):
        g = g.copy()
        g["v"] = g["v"] - g["v"].mean()
        return g[["t", "v", "__key_k"]]

    got = (ds.groupby("k").map(demean, schema="t long, v double, __key_k bigint")
           .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, ref.values, rtol=1e-9)


@needs_xr
def test_groupby_reduce_matches_reference(spark):
    """Wave 13: GroupBy.reduce with a numpy callable (nan-ptp)."""
    vals = RNG.randn(40).round(6)
    keys = RNG.randint(0, 4, 40)
    ref = (xr.DataArray(vals, dims="t", coords={"k": ("t", keys)})
           .groupby("k").reduce(lambda a, axis=None: np.max(a) - np.min(a)))
    pdf = pd.DataFrame({"t": np.arange(40), "v": vals, "k": keys})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    got = (ds.groupby("k").reduce(lambda a: float(np.max(a) - np.min(a)))
           .to_pandas().sort_values("k")["v"].to_numpy())
    np.testing.assert_allclose(got, ref.values, rtol=1e-9)


@needs_xr
def test_reindex_nearest_tolerance_matches_reference(spark):
    """Wave 13: reindex(method='nearest', tolerance=) — unmatched
    targets materialize as NaN rows (core/dataset.py:3721)."""
    vals = RNG.randn(8).round(6)
    src_t = np.array([0.0, 1.0, 2.0, 3.5, 5.0, 7.0, 9.0, 12.0])
    tgt_t = np.array([0.1, 2.4, 4.9, 8.0, 11.0])
    ref = (xr.DataArray(vals, dims="t", coords={"t": src_t})
           .reindex(t=tgt_t, method="nearest", tolerance=0.6))
    pdf = pd.DataFrame({"t": src_t, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    gp = (ds.reindex(t=[float(x) for x in tgt_t], method="nearest",
                     tolerance=0.6)
          .to_pandas().sort_values("t"))
    np.testing.assert_allclose(gp["t"].to_numpy(), ref["t"].values)
    np.testing.assert_allclose(gp["v"].to_numpy(), ref.values,
                               rtol=1e-9, equal_nan=True)


@needs_xr
def test_map_blocks_matches_reference(spark):
    """Wave 13: map_blocks with a block-local transform
    (core/parallel.py:228); blockwise x*2+1 is partition-invariant."""
    vals = RNG.randn(25).round(6)
    ref = (xr.DataArray(vals, dims="t", name="v").to_dataset()
           .map_blocks(lambda d: d * 2 + 1))
    pdf = pd.DataFrame({"t": np.arange(25), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])

    def double(block):
        block = block.copy()
        block["v"] = block["v"] * 2 + 1
        return block

    got = (ds.map_blocks(double).to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, ref["v"].values, rtol=1e-12)


# ------------------------------------------------------------------ #
# wave 14: Python slice semantics of the str accessor
# ------------------------------------------------------------------ #
@needs_xr
def test_str_slice_grid_matches_reference(spark):
    """Wave 14: str.slice over a (start, stop, step) grid incl.
    negatives and reversals, plus get() with negative indices — Python
    slicing per element (accessor_str.py:324,356)."""
    import itertools
    words = ["hello", "ab", "", "spark sql", "x"]
    ref = xr.DataArray(np.array(words, dtype="U10"), dims="i")
    pdf = pd.DataFrame({"i": np.arange(len(words)), "s": words})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf, "i long, s string"),
                    dims=["i"])
    opts = [None, 0, 2, -1, -3, -10]
    for start, stop, step in itertools.product(opts, opts, [None, 2, -1]):
        exp = ref.str.slice(start, stop, step).values.tolist()
        got = (da.str.slice(start, stop, step).to_pandas()
               .sort_values("i")["s"].tolist())
        assert got == exp, (start, stop, step, got, exp)
    for i in [-1, -6, 0, 4]:
        exp = ref.str.get(i, "?").values.tolist()
        got = da.str.get(i, "?").to_pandas().sort_values("i")["s"].tolist()
        assert got == exp, ("get", i)


@needs_xr
def test_str_partition_split_wrap_translate_match_reference(spark):
    """Wave 14b: partition/rpartition (Python tuple semantics incl. the
    no-separator case), whitespace split, split maxsplit tail-merge,
    textwrap-exact wrap, and maketrans translate."""
    words = ["Hello World", "ab", "", "  pad  ", "a-b-c-d", "aaa bbb  ccc"]
    ref = xr.DataArray(np.array(words, dtype="U20"), dims="i")
    pdf = pd.DataFrame({"i": np.arange(len(words)), "s": words})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf, "i long, s string"),
                    dims=["i"])
    unstruct = lambda x: list(x.values()) if isinstance(x, dict) else list(x)  # noqa: E731
    for sep in ["-", " "]:
        got = [unstruct(x) for x in
               da.str.partition(sep).to_pandas().sort_values("i")["s"]]
        assert got == [list(w.partition(sep)) for w in words], sep
        got = [unstruct(x) for x in
               da.str.rpartition(sep).to_pandas().sort_values("i")["s"]]
        assert got == [list(w.rpartition(sep)) for w in words], sep
    got = [list(x) for x in da.str.split().to_pandas().sort_values("i")["s"]]
    assert got == [w.split() for w in words]
    for ms in [0, 1, 2]:
        got = [list(x) for x in da.str.split("-", maxsplit=ms)
               .to_pandas().sort_values("i")["s"]]
        assert got == [w.split("-", ms) for w in words], ms
    exp = ref.str.wrap(5).values.tolist()
    got = da.str.wrap(5).to_pandas().sort_values("i")["s"].tolist()
    assert got == exp
    tbl = str.maketrans({"a": "X", "b": None, "-": "__"})
    exp = ref.str.translate(tbl).values.tolist()
    got = da.str.translate(tbl).to_pandas().sort_values("i")["s"].tolist()
    assert got == exp
    # index raises (at execution time, lazily) on a miss — find doesn't
    with pytest.raises(Exception, match="not found"):
        da.str.index("zzz").to_pandas()
    assert da.str.find("zzz").to_pandas()["s"].tolist() == [-1] * len(words)


@needs_xr
def test_dt_field_sweep_matches_reference(spark):
    """Wave 14c: every shared dt accessor field vs the reference on a
    microsecond-bearing, year-crossing series (accessor_dt.py)."""
    times = pd.date_range("1999-11-25 13:45:05.123456", periods=40,
                          freq="37h41min7s")
    ref = xr.DataArray(times, dims="i")
    pdf = pd.DataFrame({"i": np.arange(40), "v": times})
    from xarray_spark.dataset import XDataArray
    da = XDataArray(spark.createDataFrame(pdf), dims=["i"])
    props = ["year", "month", "day", "hour", "minute", "second",
             "microsecond", "nanosecond", "dayofweek", "weekday",
             "dayofyear", "quarter", "days_in_month", "daysinmonth",
             "is_month_start", "is_month_end", "is_quarter_start",
             "is_quarter_end", "is_year_start", "is_year_end",
             "is_leap_year", "date", "time", "day_of_year", "day_of_week"]
    for p in props:
        if not (hasattr(ref.dt, p) and hasattr(da.dt, p)):
            continue
        exp = getattr(ref.dt, p).values
        got = (getattr(da.dt, p).to_pandas().sort_values("i")["v"]
               .to_numpy())
        if exp.dtype.kind in "iufb":
            np.testing.assert_array_equal(got.astype("float64"),
                                          exp.astype("float64"), err_msg=p)
        else:
            assert [str(g) for g in got] == [str(e) for e in exp], p


# ------------------------------------------------------------------ #
# wave 15: IEEE float semantics — division family, ufunc corner grid
# ------------------------------------------------------------------ #
@needs_xr
def test_division_ieee_semantics_match_reference(spark):
    """Wave 15: x/0 → ±inf, 0/0 → nan, % floored like Python — the
    reference computes with numpy floats; Spark's raw `/` and `%`
    ERROR under ANSI mode (Spark 4 default) or yield NULL."""
    a = np.array([1.0, 0.0, -3.0, 7.0, -7.0, 5.5])
    b = np.array([0.0, 0.0, 0.0, 2.0, 3.0, -3.0])
    ra = xr.DataArray(a, dims="t")
    rb = xr.DataArray(b, dims="t")
    pdf_a = pd.DataFrame({"t": np.arange(6), "v": a})
    pdf_b = pd.DataFrame({"t": np.arange(6), "v": b})
    da = XDataset(spark.createDataFrame(pdf_a), dims=["t"])
    db = XDataset(spark.createDataFrame(pdf_b), dims=["t"])
    with np.errstate(all="ignore"):
        for op in ("__truediv__", "__mod__", "__floordiv__"):
            exp = getattr(ra, op)(rb).values
            got = (getattr(da, op)(db).to_pandas().sort_values("t")["v"]
                   .to_numpy())
            np.testing.assert_allclose(got, exp, equal_nan=True, err_msg=op)


def test_ufunc_corner_grid_matches_numpy(spark):
    """Wave 15: ufunc corners vs numpy — log family at 0 (-inf),
    ceil/floor/trunc at ±inf, NaN propagation of maximum/minimum vs
    the NaN-skipping fmax/fmin, copysign at ±0, stable logaddexp."""
    import xarray_spark.ufuncs as xu
    vals = np.array([-2.7, -1.0, -0.0, 0.0, 0.5, 2.7, np.inf, -np.inf])
    pdf = pd.DataFrame({"t": np.arange(len(vals)), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    with np.errstate(all="ignore"):
        for name in ("log", "log10", "log2", "log1p", "ceil", "floor",
                     "trunc", "reciprocal", "sign", "sqrt"):
            exp = getattr(np, name)(vals).astype("float64")
            got = (getattr(xu, name)(ds).to_pandas().sort_values("t")["v"]
                   .to_numpy().astype("float64"))
            np.testing.assert_allclose(got, exp, rtol=1e-12,
                                       equal_nan=True, err_msg=name)
        a = np.array([5.0, np.nan, 2.0, np.nan, 3.0, -3.0, 800.0])
        b = np.array([3.0, 2.0, np.nan, np.nan, -0.0, 0.0, 801.0])
        sdf = spark.createDataFrame(
            pd.DataFrame({"t": np.arange(len(a)), "a": a, "b": b}))
        from pyspark.sql import functions as F
        for name in ("maximum", "minimum", "fmax", "fmin", "copysign",
                     "logaddexp", "fmod", "mod", "floor_divide"):
            exp = getattr(np, name)(a, b).astype("float64")
            expr = getattr(xu, name)(F.col("a"), F.col("b"))
            got = np.array([np.nan if r["r"] is None else r["r"]
                            for r in sdf.orderBy("t")
                            .select(expr.cast("double").alias("r"))
                            .collect()])
            np.testing.assert_allclose(got, exp, rtol=1e-12,
                                       equal_nan=True, err_msg=name)


@needs_xr
def test_round_half_even_and_unicode_predicates_match_reference(spark):
    """Wave 15b: np.round is banker's rounding; str predicates are
    Unicode character classes, not ASCII ranges."""
    vals = np.array([0.5, 1.5, 2.5, -0.5, -1.5, 3.5])
    ref = xr.DataArray(vals, dims="t").round()
    pdf = pd.DataFrame({"t": np.arange(len(vals)), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    np.testing.assert_allclose(
        ds.round().to_pandas().sort_values("t")["v"].to_numpy(), ref.values)
    words = ["abc", "épée", "Ω", "１２３", "½", "³", "ABC", "Épée", ""]
    from xarray_spark.dataset import XDataArray
    pdf2 = pd.DataFrame({"i": np.arange(len(words)), "s": words})
    da = XDataArray(spark.createDataFrame(pdf2, "i long, s string"),
                    dims=["i"])
    for meth in ("isalpha", "isdigit", "isdecimal", "isnumeric",
                 "isalnum", "isupper", "islower"):
        exp = [getattr(w, meth)() for w in words]
        got = [bool(x) for x in
               getattr(da.str, meth)().to_pandas().sort_values("i")["s"]]
        assert got == exp, meth


# ------------------------------------------------------------------ #
# wave 16: resample closed/label/offset + end-anchored ME
# ------------------------------------------------------------------ #
@needs_xr
@pytest.mark.parametrize("closed,label", [("left", "left"), ("left", "right"),
                                          ("right", "left"), ("right", "right")])
def test_resample_closed_label_match_reference(spark, closed, label):
    """Wave 16: the closed/label bin-edge matrix on a fixed-width freq
    (reference groupers.py:474 TimeResampler params)."""
    times = pd.date_range("2001-01-01", periods=50, freq="150min")
    vals = RNG.randn(50).round(6)
    exp = (xr.DataArray(vals, dims="time", coords={"time": times})
           .resample(time="6h", closed=closed, label=label).sum())
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    gp = (ds.resample(time="6h", closed=closed, label=label).sum()
          .to_pandas().sort_values("time"))
    np.testing.assert_array_equal(
        gp["time"].to_numpy().astype("datetime64[us]"),
        exp["time"].values.astype("datetime64[us]"))
    np.testing.assert_allclose(gp["v"].to_numpy(), exp.values, rtol=1e-9)


@needs_xr
def test_resample_offset_matches_reference(spark):
    times = pd.date_range("2001-01-01", periods=50, freq="150min")
    vals = RNG.randn(50).round(6)
    exp = (xr.DataArray(vals, dims="time", coords={"time": times})
           .resample(time="6h", offset="1h30min").sum())
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    gp = (ds.resample(time="6h", offset="1h30min").sum()
          .to_pandas().sort_values("time"))
    np.testing.assert_array_equal(
        gp["time"].to_numpy().astype("datetime64[us]"),
        exp["time"].values.astype("datetime64[us]"))
    np.testing.assert_allclose(gp["v"].to_numpy(), exp.values, rtol=1e-9)


@needs_xr
def test_resample_month_end_matches_reference(spark):
    """Wave 16: 'ME' — right-closed month bins labeled at month ends."""
    times = pd.date_range("2001-01-28", periods=40, freq="31h")
    vals = RNG.randn(40).round(6)
    exp = (xr.DataArray(vals, dims="time", coords={"time": times})
           .resample(time="ME").sum())
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    gp = (ds.resample(time="ME").sum().to_pandas().sort_values("time"))
    np.testing.assert_array_equal(
        gp["time"].to_numpy().astype("datetime64[us]"),
        exp["time"].values.astype("datetime64[us]"))
    np.testing.assert_allclose(gp["v"].to_numpy(), exp.values, rtol=1e-9)


@needs_xr
def test_assign_coords_tuple_form_matches_reference(spark):
    """Wave 16b: assign_coords(k=("t", values)) — positional values
    along a named dim, the everyday xarray idiom (core/common.py:467)."""
    vals = [1.0, 2.0, 3.0, 4.0]
    ref = (xr.DataArray(vals, dims="t")
           .assign_coords(k=("t", [7, 8, 9, 10]))
           .groupby("k").sum())
    pdf = pd.DataFrame({"t": np.arange(4), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.assign_coords(k=("t", np.array([7, 8, 9, 10])))
           .groupby("k").sum().to_pandas().sort_values("k"))
    np.testing.assert_array_equal(got["k"].to_numpy(), ref["k"].values)
    np.testing.assert_allclose(got["v"].to_numpy(), ref.values)


@needs_xr
def test_attr_access_and_setitem_match_reference(spark):
    """Wave 16c: ds.varname attribute access and ds[k] = value
    assignment (incl. the ("dim", values) tuple form) — the everyday
    xarray mutation surface."""
    vals = [1.0, 2.0, 3.0, 4.0]
    ref = xr.DataArray(vals, dims="t", name="v").to_dataset()
    ref["w"] = ("t", [10.0, 20.0, 30.0, 40.0])
    exp = (ref.v + ref.w).values
    pdf = pd.DataFrame({"t": np.arange(4), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    ds["w"] = ("t", [10.0, 20.0, 30.0, 40.0])
    got = ((ds.v + ds.w).to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp)
    assert "w" in ds.data_vars


@needs_xr
def test_resample_origin_matches_reference(spark):
    """Wave 16d: pandas origin anchoring — start_day default fixes the
    epoch-anchored '7D' divergence; explicit timestamp origins shift
    the grid (pandas resample origin semantics)."""
    times = pd.date_range("2001-03-04", periods=30, freq="D")
    vals = np.arange(30.0)
    pdf = pd.DataFrame({"time": times, "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    ref = xr.DataArray(vals, dims="time", coords={"time": times})
    for kw_ref, kw_ours in [({}, {}),
                            ({"origin": pd.Timestamp("2001-03-01")},
                             {"origin": "2001-03-01"})]:
        exp = ref.resample(time="7D", **kw_ref).sum()
        gp = (ds.resample(time="7D", **kw_ours).sum()
              .to_pandas().sort_values("time"))
        np.testing.assert_array_equal(
            gp["time"].to_numpy().astype("datetime64[us]"),
            exp["time"].values.astype("datetime64[us]"))
        np.testing.assert_allclose(gp["v"].to_numpy(), exp.values)


@needs_xr
def test_int_bins_and_labeled_concat_match_reference(spark):
    """Wave 16e: groupby_bins(bins=<int>) derives pandas.cut's exact
    equal-width edges (incl. the 0.1% left extension) from a tiny
    min/max agg; concat(dim=pd.Index(...)) names the new dim and
    supplies labels."""
    vals = RNG.rand(60).round(6) * 100
    ref = (xr.DataArray(vals, dims="t", name="v")
           .groupby_bins(xr.DataArray(vals, dims="t").rename("x"),
                         bins=5).mean())
    pdf = pd.DataFrame({"t": np.arange(60), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = ds.groupby_bins("v", bins=5).mean().to_pandas()["v"].dropna()
    np.testing.assert_allclose(sorted(got), sorted(ref.values), rtol=1e-9)
    from xarray_spark.combine import concat
    mk = lambda v: XDataset(spark.createDataFrame(  # noqa: E731
        pd.DataFrame({"t": np.arange(3), "v": v})), dims=["t"])
    out = (concat([mk([1.0, 2.0, 3.0]), mk([4.0, 5.0, 6.0])],
                  dim=pd.Index(["m1", "m2"], name="model"))
           .to_pandas().sort_values(["model", "t"]))
    rc = xr.concat([xr.DataArray([1.0, 2.0, 3.0], dims="t"),
                    xr.DataArray([4.0, 5.0, 6.0], dims="t")],
                   dim=pd.Index(["m1", "m2"], name="model"))
    np.testing.assert_allclose(
        out["v"].to_numpy().reshape(2, 3), rc.values)
    assert sorted(out["model"].unique()) == ["m1", "m2"]


@needs_xr
@pytest.mark.parametrize("side", ["left", "right"])
@pytest.mark.parametrize("boundary", ["trim", "pad"])
def test_coarsen_side_matrix_matches_reference(spark, side, boundary):
    """Wave 16f: coarsen side= puts the ragged block at the start
    (side='right') or end; crossed with trim/pad boundaries
    (computation/rolling.py:1023)."""
    vals = np.arange(10.0)
    ref = xr.DataArray(vals, dims="t")
    pdf = pd.DataFrame({"t": np.arange(10), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    exp = np.sort(ref.coarsen(t=3, boundary=boundary, side=side).sum().values)
    got = np.sort(ds.coarsen(t=3, boundary=boundary, side=side).sum()
                  .to_pandas()["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_rolling_even_center_matches_reference(sds, series):
    """Wave 16f: center=True with an EVEN window (asymmetric split)."""
    got = _ours(sds.rolling(t=4, center=True, min_periods=1).mean())
    exp = _ref(series).rolling(t=4, center=True, min_periods=1).mean().values
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
def test_true_nan_ingestion_matches_reference(spark):
    """Wave 17: genuine NaN DOUBLES (computed 0/0, non-Arrow ingestion)
    must behave as missing values in every skipna reduction — SQL
    aggregates otherwise rank NaN as the LARGEST double.  Built by
    computing 0/0 in-plan so the NaN is real regardless of the
    session's Arrow conversion."""
    vals = np.array([1.0, -1.0, 3.0, 5.0, 2.0, 4.0])
    ks = np.array([0, 0, 0, 1, 1, 1])
    nv = vals.copy(); nv[1] = np.nan
    ref = xr.DataArray(nv, dims="t", coords={"k": ("t", ks)})
    pdf = pd.DataFrame({"t": np.arange(6), "v": vals, "k": ks})
    from pyspark.sql import functions as F
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    # v=-1 -> a true NaN literal, in-plan (independent of Arrow's
    # NaN->NULL ingestion conversion)
    ds = ds.assign(v=F.when(F.col("v") == -1.0,
                            F.lit(float("nan"))).otherwise(F.col("v")))
    np.testing.assert_allclose(
        ds.groupby("k").quantile(0.5).to_pandas().sort_values("k")["v"].to_numpy(),
        ref.groupby("k").quantile(0.5).values, rtol=1e-12)
    np.testing.assert_allclose(
        ds.groupby("k").mean().to_pandas().sort_values("k")["v"].to_numpy(),
        ref.groupby("k").mean().values, rtol=1e-12)
    np.testing.assert_allclose(
        float(ds.max("t").to_pandas()["v"].iloc[0]), float(ref.max()))
    np.testing.assert_allclose(
        ds.cumsum("t").to_pandas().sort_values("t")["v"].to_numpy(),
        ref.cumsum("t").values, rtol=1e-12)
    np.testing.assert_allclose(
        ds.ffill("t").to_pandas().sort_values("t")["v"].to_numpy(),
        pd.Series(nv).ffill().to_numpy(), rtol=1e-12)
    got_roll = (ds.rolling(t=3, min_periods=1).mean()
                .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(
        got_roll, ref.rolling(t=3, min_periods=1).mean().values, rtol=1e-12)


@needs_xr
def test_leading_nan_cumulative_matches_reference(sds, series):
    """Wave 17: all-NaN prefixes accumulate the identity (np.nancumsum
    0 / nancumprod 1), not NaN."""
    vals = np.array([np.nan, np.nan, 2.0, 3.0])
    ref = xr.DataArray(vals, dims="t")
    pdf = pd.DataFrame({"t": np.arange(4), "v": vals})
    ds = XDataset(sds.df.sparkSession.createDataFrame(pdf), dims=["t"])
    np.testing.assert_allclose(
        ds.cumsum("t").to_pandas().sort_values("t")["v"].to_numpy(),
        ref.cumsum("t").values)
    np.testing.assert_allclose(
        ds.cumprod("t").to_pandas().sort_values("t")["v"].to_numpy(),
        ref.cumprod("t").values)


@needs_xr
def test_quantile_skipna_false_matches_reference(spark):
    """Wave 17: quantile(skipna=False) — any NaN poisons the whole
    population's quantiles (grouped and ungrouped)."""
    nv = np.array([1.0, np.nan, 3.0, 5.0, 2.0, 4.0])
    ks = np.array([0, 0, 0, 1, 1, 1])
    ref = xr.DataArray(nv, dims="t", coords={"k": ("t", ks)})
    pdf = pd.DataFrame({"t": np.arange(6), "v": nv, "k": ks})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    exp_u = float(ref.quantile(0.5, skipna=False))
    got_u = ds.quantile(0.5, skipna=False).to_pandas()["v"].iloc[0]
    assert np.isnan(got_u) == np.isnan(exp_u)
    exp_g = ref.groupby("k").quantile(0.5, skipna=False).values
    got_g = (ds.groupby("k").quantile(0.5, skipna=False)
             .to_pandas().sort_values("k")["v"].to_numpy())
    np.testing.assert_allclose(got_g, exp_g, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("rt", ["even", "odd"])
def test_pad_reflect_type_matches_reference(spark, rt):
    """Wave 17: pad reflect_type='odd' mirrors THROUGH the edge value
    (np.pad semantics)."""
    vals = np.array([1.0, 3.0, 6.0, 10.0])
    ref = xr.DataArray(vals, dims="t")
    pdf = pd.DataFrame({"t": np.arange(4), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    exp = ref.pad(t=(2, 2), mode="reflect", reflect_type=rt).values
    got = (ds.pad(t=(2, 2), mode="reflect", reflect_type=rt)
           .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp)


@needs_xr
def test_2d_rolling_true_nan_matches_reference(spark):
    """Wave 17b: the separable N-D rolling sweep also treats true-NaN
    doubles as missing (each pass normalizes before its window)."""
    from pyspark.sql import functions as F
    vals = np.arange(24.0).reshape(4, 6)
    nv = vals.copy(); nv[1, 2] = np.nan
    rows = [(i, j, float(vals[i, j])) for i in range(4) for j in range(6)]
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "y", "v"])), dims=["x", "y"])
    ds = ds.assign(v=F.when((F.col("x") == 1) & (F.col("y") == 2),
                            F.lit(float("nan"))).otherwise(F.col("v")))
    ref = xr.DataArray(nv, dims=("x", "y"))
    for kind in ("mean", "sum", "count"):
        exp = getattr(ref.rolling(x=2, y=2, min_periods=1), kind)().values
        gp = (getattr(ds.rolling(x=2, y=2, min_periods=1), kind)()
              .to_pandas().sort_values(["x", "y"])["v"].to_numpy()
              .astype("float64").reshape(4, 6))
        np.testing.assert_allclose(gp, exp, equal_nan=True, err_msg=kind)


@needs_xr
def test_merge_compat_corners_match_reference(spark):
    """Wave 18: merge compat corner grid — override picks the first
    dataset's variable wholesale (null outside its labels); equals
    compares AFTER outer alignment so misaligned labels conflict;
    no_conflicts coalesces agreeing overlaps (merge.py:151,174)."""
    from xarray_spark.combine import MergeError, merge
    mk = lambda d: XDataset(spark.createDataFrame(pd.DataFrame(d)),  # noqa: E731
                            dims=["t"])
    a = mk({"t": [0, 1, 2], "v": [1.0, 2.0, 3.0]})
    b = mk({"t": [1, 2, 3], "v": [20.0, 30.0, 40.0]})
    b2 = mk({"t": [1, 2, 3], "v": [2.0, 3.0, 40.0]})
    ra = xr.DataArray([1.0, 2.0, 3.0], dims="t",
                      coords={"t": [0, 1, 2]}, name="v").to_dataset()
    rb = xr.DataArray([20.0, 30.0, 40.0], dims="t",
                      coords={"t": [1, 2, 3]}, name="v").to_dataset()
    rb2 = xr.DataArray([2.0, 3.0, 40.0], dims="t",
                       coords={"t": [1, 2, 3]}, name="v").to_dataset()
    exp = xr.merge([ra, rb], compat="override", join="outer")["v"].values
    got = (merge([a, b], compat="override").to_pandas()
           .sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)
    with pytest.raises(MergeError):
        merge([a, b2], compat="equals").to_pandas()
    exp = xr.merge([ra, rb2], compat="no_conflicts", join="outer")["v"].values
    got = (merge([a, b2], compat="no_conflicts").to_pandas()
           .sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_update_replaces_variable_matches_reference(spark):
    """Wave 18b: Dataset.update replaces the variable wholesale,
    reindexed to self's labels (core/dataset.py:5700) — labels other
    lacks become NaN, self's old values never show through."""
    mk = lambda d: XDataset(spark.createDataFrame(pd.DataFrame(d)),  # noqa: E731
                            dims=["t"])
    a = mk({"t": [0, 1, 2], "v": [1.0, 2.0, 3.0]})
    b = mk({"t": [1, 2, 3], "v": [20.0, 30.0, 40.0]})
    ra = xr.Dataset({"v": ("t", [1.0, 2.0, 3.0])}, coords={"t": [0, 1, 2]})
    rb = xr.Dataset({"v": ("t", [20.0, 30.0, 40.0])}, coords={"t": [1, 2, 3]})
    ra.update(rb)
    gp = a.update(b).to_pandas().sort_values("t")
    np.testing.assert_array_equal(gp["t"].to_numpy(), ra["t"].values)
    np.testing.assert_allclose(gp["v"].to_numpy(), ra["v"].values,
                               equal_nan=True)


@needs_xr
def test_fillna_dataset_misaligned_matches_reference(spark):
    """Wave 18c: fillna(other) keeps SELF's shape — other's values join
    on the shared labels, they never drop or add rows
    (core/dataset.py:6489)."""
    sv = np.array([1.0, np.nan, 3.0])
    ov = np.array([9.0, 20.0])
    s = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1, 2], "v": sv})), dims=["t"])
    o = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 3], "v": ov})), dims=["t"])
    rs = xr.DataArray(sv, dims="t", coords={"t": [0, 1, 2]},
                      name="v").to_dataset()
    ro = xr.DataArray(ov, dims="t", coords={"t": [1, 3]},
                      name="v").to_dataset()
    exp = rs.fillna(ro)["v"].values
    gp = s.fillna(o).to_pandas().sort_values("t")
    assert gp["t"].tolist() == [0, 1, 2]
    np.testing.assert_allclose(gp["v"].to_numpy(), exp, equal_nan=True)


# wave 19: isin NaN, array clip bounds, diff label, groupby NaN keys +
# shift, concat fill_value, resample empty-bin materialization,
# idx/arg skipna=False (np.argmax first-NaN-wins) + fill_value


@needs_xr
def test_isin_nan_matches_reference(sds, series):
    """np.isin: NaN never matches (IEEE NaN != NaN), missing is False."""
    got = _ours(sds.isin([series[0], np.nan])).astype(float)
    exp = _ref(series).isin([series[0], np.nan]).values.astype(float)
    np.testing.assert_array_equal(got, exp)


@needs_xr
def test_clip_array_bounds_match_reference(spark, series):
    """clip bounds may be arrays (common.py:462 broadcasts them)."""
    lo = np.linspace(-1, 0, N)
    hi = np.linspace(1, 0.2, N)
    refc = xr.Dataset({"v": ("t", series), "lo": ("t", lo),
                       "hi": ("t", hi)}, coords={"t": np.arange(N)})
    sc = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series, "lo": lo, "hi": hi})),
        dims=["t"])
    got = (sc.clip(min=sc["lo"], max=sc["hi"])
           .to_pandas().sort_values("t")["v"].to_numpy())
    exp = refc["v"].clip(min=refc["lo"], max=refc["hi"]).values
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_diff_label_lower_matches_reference(sds, series):
    got = _ours(sds.diff("t", label="lower"))
    exp = _ref(series).diff("t", label="lower").values
    np.testing.assert_allclose(got, exp, equal_nan=True)
    got2 = _ours(sds.diff("t", n=2, label="lower"))
    exp2 = _ref(series).diff("t", n=2, label="lower").values
    np.testing.assert_allclose(got2, exp2, equal_nan=True)


@needs_xr
def test_groupby_nan_key_dropped_matches_reference(spark, series):
    """NaN group labels form no group (factorize drops NaN)."""
    gn = np.arange(N) % 3.0
    gn[[2, 7]] = np.nan
    refn = xr.Dataset({"v": ("t", series)},
                      coords={"t": np.arange(N), "gn": ("t", gn)})
    sgn = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series, "gn": gn})),
        dims=["t"])
    got = np.sort(sgn.groupby("gn").mean().to_pandas()["v"].to_numpy())
    exp = np.sort(refn.groupby("gn").mean()["v"].values)
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_groupby_shift_matches_pandas(spark, sds, series):
    """Engine extension (pandas GroupBy.shift semantics; the reference
    DatasetGroupBy dropped shift)."""
    g = np.arange(N) % 4
    sg = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series, "g": g})), dims=["t"])
    for n in (1, -2):
        got = (sg.groupby("g").shift(t=n)
               .to_pandas().sort_values("t")["v"].to_numpy())
        exp = (pd.DataFrame({"v": series, "g": g})
               .groupby("g")["v"].shift(n).to_numpy())
        np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_concat_fill_value_matches_reference(spark):
    from xarray_spark.combine import concat
    a = xr.Dataset({"x": ("t", [1.0, 2.0]), "y": ("t", [5.0, 6.0])},
                   coords={"t": [0, 1]})
    b = xr.Dataset({"x": ("t", [3.0, 4.0])}, coords={"t": [2, 3]})
    sa = XDataset(spark.createDataFrame(a.to_dataframe().reset_index()),
                  dims=["t"])
    sb = XDataset(spark.createDataFrame(b.to_dataframe().reset_index()),
                  dims=["t"])
    exp = xr.concat([a, b], dim="t", fill_value=-1.0)
    gp = concat([sa, sb], dim="t", fill_value=-1.0).to_pandas().sort_values("t")
    np.testing.assert_allclose(gp["y"].to_numpy(), exp["y"].values,
                               equal_nan=True)
    np.testing.assert_allclose(gp["x"].to_numpy(), exp["x"].values)


@needs_xr
def test_resample_empty_bins_match_reference(spark):
    """resample materializes the FULL first..last bin run; empty bins
    are missing-valued in every reduction, count included
    (core/resample.py)."""
    ts = pd.date_range("2001-01-01", periods=20, freq="D").delete(
        [5, 6, 7, 8])
    tv = np.arange(len(ts), dtype=float)
    refr = xr.DataArray(tv, dims="time", coords={"time": ts})
    sr = XDataset(spark.createDataFrame(
        pd.DataFrame({"time": ts, "v": tv})), dims=["time"])
    for verb, kw in [("count", {}), ("mean", {}), ("max", {}),
                     ("first", {}), ("sum", {"min_count": 3})]:
        got = (getattr(sr.resample(time="3D"), verb)(**kw)
               .to_pandas().sort_values("time")["v"].to_numpy(dtype=float))
        exp = getattr(refr.resample(time="3D"), verb)(**kw).values.astype(float)
        np.testing.assert_allclose(got, exp, equal_nan=True,
                                   err_msg=f"resample {verb}")


@needs_xr
def test_idx_arg_skipna_false_matches_reference(sds, series):
    """skipna=False is np.argmax/argmin: NaN comparisons are always
    False, so the FIRST NaN wins whenever one exists."""
    refc = xr.DataArray(series, dims="t", coords={"t": np.arange(N)})
    for meth in ("idxmax", "idxmin", "argmax", "argmin"):
        got = getattr(sds, meth)("t", skipna=False).to_pandas()["v"].iloc[0]
        exp = float(getattr(refc, meth)("t", skipna=False).values)
        assert float(got) == exp, f"{meth}: {got} != {exp}"


@needs_xr
def test_idxmax_fill_value_matches_reference(spark):
    allnan = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "v": [np.nan, np.nan]})), dims=["t"])
    refan = xr.DataArray([np.nan, np.nan], dims="t", coords={"t": [0, 1]})
    got = allnan.idxmax("t", fill_value=-1).to_pandas()["v"].iloc[0]
    exp = float(refan.idxmax("t", fill_value=-1).values)
    assert float(got) == exp


@needs_xr
def test_argmax_dict_skipna_false_matches_reference(spark):
    g = np.arange(12, dtype=float).reshape(3, 4)
    g[1, 2] = np.nan
    rg = xr.DataArray(g, dims=("y", "x"),
                      coords={"y": range(3), "x": range(4)})
    rows = [(int(y), int(x), g[y, x]) for y in range(3) for x in range(4)]
    sg = XDataset(spark.createDataFrame(
        pd.DataFrame(rows, columns=["y", "x", "v"])), dims=["y", "x"])
    exp = rg.argmax(dim=["y", "x"], skipna=False)
    got = sg.argmax(dim=["y", "x"], skipna=False).to_pandas()["v"].iloc[0]
    assert (got["y"], got["x"]) == (float(exp["y"].values),
                                    float(exp["x"].values))


# wave 20: 3-arg where + array other, IEEE NaN comparisons, polyfit
# full/cov, coarsen coord_func, unstack fill_value, *_like dtype


@needs_xr
def test_where_3arg_and_array_other_match_reference(spark, sds, series):
    import xarray_spark as xs
    ref = xr.DataArray(series, dims="t", coords={"t": np.arange(N)})
    got = (xs.where(sds["v"] > 0, sds["v"], -9.0)
           .to_pandas().sort_values("t")["where"].to_numpy())
    exp = xr.where(ref > 0, ref, -9.0).values
    np.testing.assert_allclose(got, exp, equal_nan=True)
    other = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": np.full(N, 7.0)})), dims=["t"])
    rother = xr.DataArray(np.full(N, 7.0), dims="t",
                          coords={"t": np.arange(N)})
    got = _ours(sds.where(sds["v"] > 0, other))
    exp = ref.where(ref > 0, rother).values
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_nan_comparisons_match_numpy(sds, series):
    """Spark orders NaN as the largest value; numpy comparisons with
    NaN are ALWAYS False. The cmp operators normalize."""
    ref = _ref(series)
    for ops, opr in [(lambda d: d > 0.0, lambda r: r > 0.0),
                     (lambda d: d <= 0.5, lambda r: r <= 0.5),
                     (lambda d: d >= -0.1, lambda r: r >= -0.1),
                     (lambda d: d < 2.0, lambda r: r < 2.0)]:
        got = _ours(ops(sds)).astype(float)
        exp = opr(ref).values.astype(float)
        np.testing.assert_array_equal(got, exp)


@needs_xr
def test_polyfit_full_cov_match_reference(spark):
    rng = np.random.RandomState(5)
    n = 25
    vv = rng.randn(n).round(6)
    s3 = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(n, dtype=float), "v": vv})), dims=["t"])
    r3 = xr.DataArray(vv, dims="t", coords={"t": np.arange(n, dtype=float)})
    gf = s3.polyfit("t", 2, full=True).to_pandas().sort_values(
        "degree", ascending=False)
    rf = r3.polyfit("t", 2, full=True)
    np.testing.assert_allclose(gf["v_polyfit_coefficients"].to_numpy(),
                               rf["polyfit_coefficients"].values, rtol=1e-7)
    assert gf["t_matrix_rank"].iloc[0] == int(rf["t_matrix_rank"].values)
    np.testing.assert_allclose(gf["t_singular_values"].to_numpy(),
                               rf["t_singular_values"].values, rtol=1e-7)
    np.testing.assert_allclose(gf["v_polyfit_residuals"].iloc[0],
                               float(rf["polyfit_residuals"].values),
                               rtol=1e-6)
    for cv in (True, "unscaled"):
        gc = s3.polyfit("t", 2, cov=cv).to_pandas().sort_values(
            "degree", ascending=False)
        rc = r3.polyfit("t", 2, cov=cv)
        np.testing.assert_allclose(
            np.vstack(gc["v_polyfit_covariance"].to_numpy()),
            rc["polyfit_covariance"].values, rtol=1e-6)


@needs_xr
def test_coarsen_coord_func_matches_reference(sds, series):
    got = (sds.coarsen(t=5, boundary="trim", coord_func="min").mean()
           .to_pandas().sort_values("t"))
    exp = _ref(series).assign_coords(t=np.arange(N)).coarsen(
        t=5, boundary="trim", coord_func="min").mean()
    np.testing.assert_array_equal(got["t"].to_numpy(), exp["t"].values)
    np.testing.assert_allclose(got["v"].to_numpy(), exp.values,
                               equal_nan=True)


@needs_xr
def test_unstack_fill_value_matches_reference(spark):
    rsrc = (xr.DataArray(np.arange(6, dtype=float), dims="p",
                         coords={"y": ("p", [0, 0, 1, 1, 2, 2]),
                                 "x": ("p", [0, 1, 0, 1, 0, 1])})
            .set_index(p=["y", "x"]).drop_isel(p=3))
    exp = rsrc.unstack("p", fill_value=-5.0).transpose("y", "x").values.ravel()
    sst = XDataset(spark.createDataFrame(
        pd.DataFrame({"y": [0, 0, 1, 2, 2], "x": [0, 1, 0, 0, 1],
                      "v": [0., 1., 2., 4., 5.]})), dims=["y", "x"])
    got = (sst.stack(p=["y", "x"]).unstack("p", fill_value=-5.0)
           .to_pandas().sort_values(["y", "x"])["v"].to_numpy())
    np.testing.assert_allclose(got, exp)


def test_like_dtype_matches_reference(spark):
    import xarray_spark as xs
    ids = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(5), "v": np.arange(5)})), dims=["t"])
    g1 = xs.ones_like(ids, dtype="double").to_pandas()["v"]
    assert g1.dtype == np.float64 and (g1 == 1.0).all()
    g2 = xs.full_like(ids, 5).to_pandas()["v"]
    assert g2.dtype == np.int64 and (g2 == 5).all()


# wave 21: align fill_value, roll_coords, dt accessor on the index
# itself, str.contains case=, swap_dims consumes the variable,
# groupby by list of names, ddof params


@needs_xr
def test_align_fill_value_matches_reference(spark):
    import xarray_spark as xs
    a = xr.Dataset({"v": ("t", [1.0, 2.0])}, coords={"t": [0, 1]})
    b = xr.Dataset({"v": ("t", [5.0, 6.0])}, coords={"t": [1, 2]})
    ea, eb = xr.align(a, b, join="outer", fill_value=-1.0)
    sa = XDataset(spark.createDataFrame(a.to_dataframe().reset_index()),
                  dims=["t"])
    sb = XDataset(spark.createDataFrame(b.to_dataframe().reset_index()),
                  dims=["t"])
    ga, gb = xs.align(sa, sb, join="outer", fill_value=-1.0)
    np.testing.assert_allclose(
        ga.to_pandas().sort_values("t")["v"].to_numpy(), ea["v"].values)
    np.testing.assert_allclose(
        gb.to_pandas().sort_values("t")["v"].to_numpy(), eb["v"].values)


@needs_xr
def test_roll_coords_keeps_pairing(sds, series):
    """roll_coords=True rolls index and data together — every value
    keeps its label, which is the identity in label-keyed long form."""
    ref = xr.DataArray(series, dims="t", coords={"t": np.arange(N)})
    e = ref.roll(t=3, roll_coords=True)
    epair = pd.Series(e.values, index=e["t"].values).sort_index().to_numpy()
    got = sds.roll(t=3, roll_coords=True).to_pandas() \
             .sort_values("t")["v"].to_numpy()
    np.testing.assert_allclose(got, epair, equal_nan=True)


@needs_xr
def test_dt_accessor_on_index_matches_reference(spark):
    """da.dt on the time index itself: the result column is suffixed
    (time_) so the dim column survives; values match the reference."""
    ts = pd.date_range("2000-01-30", periods=20, freq="17D")
    sdt = XDataset(spark.createDataFrame(
        pd.DataFrame({"time": ts, "v": np.arange(20.0)})), dims=["time"])
    rdt = xr.DataArray(np.arange(20.0), dims="time", coords={"time": ts})
    for f in ["is_leap_year", "is_month_start", "is_month_end",
              "quarter", "days_in_month"]:
        got = (getattr(sdt["time"].dt, f).to_pandas()
               .sort_values("time")["time_"].to_numpy(dtype=float))
        exp = getattr(rdt["time"].dt, f).values.astype(float)
        np.testing.assert_array_equal(got, exp, err_msg=f)
    gs = (sdt["time"].dt.season.to_pandas()
          .sort_values("time")["time_"].tolist())
    assert gs == list(rdt["time"].dt.season.values)


def test_str_contains_case_matches_pandas(spark):
    words = ["Apple", "bAnana", "Cherry", "date", "ANchovy", "Eclair"]
    sstr = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(6), "s": words})), dims=["t"])
    ps = pd.Series(words)
    for case in (True, False):
        for regex in (True, False):
            got = [bool(g) for g in
                   sstr["s"].str.contains("an", case=case, regex=regex)
                   .to_pandas().sort_values("t")["s"]]
            exp = [bool(e) for e in
                   ps.str.contains("an", case=case, regex=regex)]
            assert got == exp, f"case={case} regex={regex}"


@needs_xr
def test_swap_dims_consumes_variable(spark):
    s2 = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(4), "u": [10, 20, 30, 40],
                      "v": [1., 2., 3., 4.]})), dims=["t"])
    sw = s2.swap_dims({"t": "u"})
    rsw = xr.Dataset({"u": ("t", [10, 20, 30, 40]),
                      "v": ("t", [1., 2., 3., 4.])},
                     coords={"t": range(4)}).swap_dims({"t": "u"})
    assert list(sw.dims) == ["u"] and list(sw.data_vars) == ["v"]
    assert list(rsw.data_vars) == ["v"]
    assert float(sw.mean("u").to_pandas()["v"].iloc[0]) == \
        float(rsw["v"].mean().values)


@needs_xr
def test_groupby_list_of_names_matches_reference(spark, series):
    g1 = np.arange(N) % 2
    g2 = np.arange(N) % 3
    refg = xr.Dataset({"v": ("t", series)},
                      coords={"t": np.arange(N), "a": ("t", g1),
                              "b": ("t", g2)})
    sg = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series, "a": g1, "b": g2})),
        dims=["t"])
    got = np.sort(sg.groupby(["a", "b"]).mean().to_pandas()["v"].to_numpy())
    exp = np.sort(refg.groupby(["a", "b"]).mean()["v"].values.ravel())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_std_var_ddof_match_reference(sds, series):
    ref = _ref(series)
    for meth in ("std", "var"):
        for ddof in (0, 1):
            got = float(getattr(sds, meth)("t", ddof=ddof)
                        .to_pandas()["v"].iloc[0])
            exp = float(getattr(ref, meth)("t", ddof=ddof).values)
            np.testing.assert_allclose(got, exp, rtol=1e-9)


# wave 22: query NaN semantics, boolean isel masks, sortby lexsort
# parity (notnull-flag descending), head/tail int + default forms,
# interpolate_na fill_value edge constants


@needs_xr
def test_query_nan_semantics_match_reference(spark):
    rng = np.random.RandomState(21)
    n = 30
    vals = rng.randn(n).round(6)
    vals[[3, 8]] = np.nan
    u = rng.rand(n).round(6)
    sds2 = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(n), "v": vals, "u": u})), dims=["t"])
    refds = xr.Dataset({"v": ("t", vals), "u": ("t", u)},
                       coords={"t": np.arange(n)})
    got = (sds2.query("v > 0 and u < 0.5").to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = refds.query(t="v > 0 and u < 0.5")["v"].values
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_isel_bool_mask_matches_reference(sds, series):
    mask = series > 0
    ref = xr.Dataset({"v": ("t", series)}, coords={"t": np.arange(N)})
    got = (sds.isel(t=np.asarray(mask, bool)).to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = ref.isel(t=mask)["v"].values
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_sortby_lexsort_parity_matches_reference(spark):
    u2 = np.array([3.0, 1.0, 2.0, 1.0, 2.0])
    v2 = np.array([9.0, 5.0, np.nan, 6.0, 7.0])
    s3 = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(5), "v": v2, "u": u2})), dims=["t"])
    r3 = xr.Dataset({"v": ("t", v2), "u": ("t", u2)},
                    coords={"t": range(5)})
    for asc in (True, False):
        got = s3.sortby(["u", "v"], ascending=asc).to_pandas()["v"].to_numpy()
        exp = r3.sortby(["u", "v"], ascending=asc)["v"].values
        np.testing.assert_allclose(got, exp, equal_nan=True,
                                   err_msg=f"ascending={asc}")


@needs_xr
def test_head_tail_int_forms_match_reference(sds, series):
    ref = xr.Dataset({"v": ("t", series)}, coords={"t": np.arange(N)})
    np.testing.assert_allclose(
        sds.tail(4).to_pandas().sort_values("t")["v"].to_numpy(),
        ref.tail(4)["v"].values, equal_nan=True)
    np.testing.assert_allclose(
        sds.head().to_pandas().sort_values("t")["v"].to_numpy(),
        ref.head()["v"].values, equal_nan=True)


@needs_xr
def test_interp_na_fill_value_matches_reference(spark):
    rng = np.random.RandomState(4)
    n = 20
    tt = np.arange(n, dtype=float) ** 1.5
    vv = rng.randn(n).round(6)
    vv[[0, 5, n - 2, n - 1]] = np.nan
    s2 = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": tt, "v": vv})), dims=["t"])
    r2 = xr.DataArray(vv, dims="t", coords={"t": tt})
    for fv in (-7.0, (-7.0, 9.0)):
        got = (s2.interpolate_na("t", fill_value=fv).to_pandas()
               .sort_values("t")["v"].to_numpy())
        exp = r2.interpolate_na("t", fill_value=fv).values
        np.testing.assert_allclose(got, exp, equal_nan=True,
                                   err_msg=str(fv))


# wave 23: full xarray.ufuncs surface — the reference __all__ exists
# here too, and the new stragglers match numpy on adversarial inputs


def test_ufunc_surface_complete():
    import xarray.ufuncs as xu
    import xarray_spark.ufuncs as su
    ref = sorted(
        n for n in dir(xu)
        if not n.startswith("_") and callable(getattr(xu, n))
        and n not in ("ABC", "GroupBy", "abstractmethod",
                      "get_array_namespace"))
    missing = [n for n in ref if not hasattr(su, n)]
    assert missing == [], f"ufuncs missing vs reference: {missing}"


def test_new_ufuncs_match_numpy(spark):
    import xarray_spark.ufuncs as su
    from pyspark.sql import functions as F
    a = np.array([1.5, -2.5, 0.0, -0.0, np.nan, np.inf, 3.25, 7.0])
    b = np.array([2.0, -1.5, 1.0, -3.0, 2.0, 1.0, np.nan, 7.0])
    df = spark.createDataFrame(pd.DataFrame({"i": range(8), "a": a, "b": b}))
    A, B = F.col("a"), F.col("b")

    def got(c):
        out = (df.select(F.col("i"), c.alias("r")).toPandas()
               .sort_values("i")["r"].to_numpy())
        return np.array([np.nan if v is None else v for v in out],
                        dtype=float)

    np.testing.assert_allclose(got(su.arctan2(A, B)), np.arctan2(a, b),
                               equal_nan=True)
    np.testing.assert_allclose(got(su.logaddexp2(A, B)),
                               np.logaddexp2(a, b), equal_nan=True)
    np.testing.assert_array_equal(got(su.equal(A, B).cast("double")),
                                  np.equal(a, b).astype(float))
    np.testing.assert_array_equal(got(su.not_equal(A, B).cast("double")),
                                  np.not_equal(a, b).astype(float))
    np.testing.assert_array_equal(got(su.signbit(A).cast("double")),
                                  np.signbit(a).astype(float))
    np.testing.assert_allclose(got(su.nextafter(A, B)),
                               np.nextafter(a, b), equal_nan=True)
    np.testing.assert_allclose(got(su.spacing(A)), np.spacing(a),
                               equal_nan=True)
    ai = np.array([12, 18, 0, 7, 100, 64, 9, 5])
    bi = np.array([8, 24, 5, 0, 75, 48, 3, 10])
    dfi = spark.createDataFrame(pd.DataFrame({"i": range(8), "a": ai,
                                              "b": bi}))
    gg = (dfi.select("i", su.gcd(F.col("a"), F.col("b")).alias("r"))
          .toPandas().sort_values("i")["r"].to_numpy())
    np.testing.assert_array_equal(gg, np.gcd(ai, bi))
    ll = (dfi.select("i", su.lcm(F.col("a"), F.col("b")).alias("r"))
          .toPandas().sort_values("i")["r"].to_numpy())
    np.testing.assert_array_equal(ll, np.lcm(ai, bi))


# wave 24: clip NaN + min>max, cross with numeric labels (stack
# backquoting), drop_sel KeyError, datetime difference, rolling
# construct fill_value, weighted quantile with zero weights


@needs_xr
def test_clip_nan_and_min_gt_max_matches_reference(sds, series):
    ref = _ref(series)
    got = _ours(sds.clip(0.5, -0.5))
    exp = ref.clip(0.5, -0.5).values
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_cross_matches_reference(spark):
    import xarray_spark as xs
    c1 = np.array([1.0, 2.0, 3.0])
    c2 = np.array([4.0, 5.0, 6.0])
    s1 = XDataset(spark.createDataFrame(
        pd.DataFrame({"d": [0, 1, 2], "u": c1})), dims=["d"])
    s2 = XDataset(spark.createDataFrame(
        pd.DataFrame({"d": [0, 1, 2], "w": c2})), dims=["d"])
    got = (xs.cross(s1["u"], s2["w"], dim="d").to_pandas()
           .sort_values("d")["value"].to_numpy())
    r1 = xr.DataArray(c1, dims="d", coords={"d": [0, 1, 2]})
    r2 = xr.DataArray(c2, dims="d", coords={"d": [0, 1, 2]})
    np.testing.assert_allclose(got, xr.cross(r1, r2, dim="d").values)


def test_drop_sel_missing_label_raises(sds):
    with pytest.raises(KeyError):
        sds.drop_sel(t=[999])
    assert sds.drop_sel(t=[999], errors="ignore").to_pandas().shape[0] == N


@needs_xr
def test_datetime_difference_matches_reference(spark):
    ts = pd.date_range("2001-01-01", periods=12, freq="7h13min")
    sdt = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(12), "a": ts,
                      "b": ts[::-1]})), dims=["t"])
    rdt = xr.Dataset({"a": ("t", ts), "b": ("t", np.array(ts[::-1]))},
                     coords={"t": np.arange(12)})
    got = (sdt["a"] - sdt["b"]).to_pandas().sort_values("t").iloc[:, -1]
    gv = np.array([g.total_seconds() for g in got])
    exp = (rdt["a"] - rdt["b"]).values / np.timedelta64(1, "s")
    np.testing.assert_allclose(gv, exp)


@needs_xr
def test_rolling_construct_fill_value_matches_reference(sds, series):
    got = np.sort(sds.rolling(t=3).construct("w", fill_value=-9.0)
                  .to_pandas()["v"].to_numpy())
    exp = np.sort(_ref(series).rolling(t=3)
                  .construct("w", fill_value=-9.0).values.ravel())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_weighted_quantile_zero_weights_matches_reference(spark, series):
    w0 = np.ones(N)
    w0[:10] = 0.0
    sw = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series, "w": w0})),
        dims=["t"])
    rw = xr.DataArray(series, dims="t").weighted(xr.DataArray(w0, dims="t"))
    got = float(sw.weighted("w").quantile(0.5, dim="t")
                .to_pandas()["v"].iloc[0])
    exp = float(rw.quantile(0.5, dim="t").values)
    np.testing.assert_allclose(got, exp, rtol=1e-9)


# wave 25: polyval with array coefficients (incl. polyfit roundtrip),
# rename conflict/missing errors, 2-D idx/arg reductions,
# resample.reduce, groupby.quantile list-q


@needs_xr
def test_polyval_array_coeffs_matches_reference(spark):
    import xarray_spark as xs
    coeffs = xr.DataArray([2.0, -1.0, 0.5], dims="degree",
                          coords={"degree": [2, 1, 0]})
    xcoord = xr.DataArray(np.arange(5, dtype=float), dims="t",
                          coords={"t": np.arange(5)})
    sx = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(5, dtype=float)})), dims=["t"])
    sc = XDataset(spark.createDataFrame(
        pd.DataFrame({"degree": [2, 1, 0], "c": [2.0, -1.0, 0.5]})),
        dims=["degree"])
    got = (xs.polyval(sx["t"], sc["c"]).to_pandas()
           .sort_values("t").iloc[:, -1].to_numpy())
    np.testing.assert_allclose(got, xr.polyval(xcoord, coeffs).values)
    vals = np.random.RandomState(1).randn(20)
    sd = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(20, dtype=float), "v": vals})),
        dims=["t"])
    fit = sd.polyfit("t", 2)
    got2 = (xs.polyval(sd["t"], fit).to_pandas()
            .sort_values("t").iloc[:, -1].to_numpy())
    rfit = xr.DataArray(vals, dims="t",
                        coords={"t": np.arange(20, dtype=float)}) \
        .polyfit("t", 2)
    exp2 = xr.polyval(xr.DataArray(np.arange(20, dtype=float), dims="t"),
                      rfit["polyfit_coefficients"]).values
    np.testing.assert_allclose(got2, exp2, rtol=1e-6)


def test_rename_errors_match_reference(sds):
    with pytest.raises(ValueError):
        sds.rename({"v": "t"})
    with pytest.raises(ValueError):
        sds.rename({"nope": "q"})
    assert list(sds.rename({"v": "w"}).data_vars) == ["w"]


@needs_xr
def test_idx_reductions_2d_match_reference(spark):
    rng = np.random.RandomState(44)
    g = rng.randn(3, 4).round(6)
    rows = [(int(y), int(x), g[y, x]) for y in range(3) for x in range(4)]
    s2 = XDataset(spark.createDataFrame(
        pd.DataFrame(rows, columns=["y", "x", "v"])), dims=["y", "x"])
    r2 = xr.DataArray(g, dims=("y", "x"),
                      coords={"y": range(3), "x": range(4)})
    np.testing.assert_array_equal(
        s2.idxmax("x").to_pandas().sort_values("y")["v"].to_numpy(),
        r2.idxmax("x").values)
    np.testing.assert_array_equal(
        s2.argmin("y").to_pandas().sort_values("x")["v"].to_numpy(),
        r2.argmin("y").values)


@needs_xr
def test_resample_reduce_matches_reference(spark, series):
    ts2 = pd.date_range("2001-01-01", periods=N, freq="D")
    srt = XDataset(spark.createDataFrame(
        pd.DataFrame({"time": ts2, "v": series})), dims=["time"])
    rrt = xr.DataArray(series, dims="time", coords={"time": ts2})
    got = np.sort(srt.resample(time="5D").reduce(np.nanmean)
                  .to_pandas()["v"].to_numpy())
    exp = np.sort(rrt.resample(time="5D").reduce(np.nanmean).values)
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_groupby_quantile_list_matches_reference(spark, series):
    gk = np.arange(N) % 3
    sg = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series, "g": gk})),
        dims=["t"])
    rg = xr.Dataset({"v": ("t", series)},
                    coords={"t": np.arange(N), "g": ("t", gk)})
    got = np.sort(sg.groupby("g").quantile([0.25, 0.75])
                  .to_pandas()["v"].to_numpy())
    exp = np.sort(rg.groupby("g").quantile([0.25, 0.75])["v"]
                  .values.ravel())
    np.testing.assert_allclose(got, exp, equal_nan=True)


# wave 27: pandas-cut default label rendering (precision=3 +
# include_lowest -0.1% edge), merge compat corners, coder matrix 2

@needs_xr
def test_groupby_bins_default_labels_match_reference(spark):
    """Default bin labels must render exactly as pandas.cut does —
    precision=3 significant rounding and the include_lowest adjusted
    first edge (reference groupers.py:344 delegates to pandas)."""
    vals = np.array([0.0, 1.0, 1.0000001, 2.5, 5.0, 5.0001, -3.0,
                     np.nan, 10.0, 3.0, 2.0, 4.0])
    n = len(vals)
    refds = xr.Dataset({"v": ("i", np.arange(float(n))),
                        "x": ("i", vals)})
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"i": np.arange(n), "v": np.arange(float(n)),
                      "x": vals})), dims=["i"])
    for kw in (dict(bins=[0, 2, 5], include_lowest=True),
               dict(bins=3),
               dict(bins=[0, 2, 5], right=False)):
        g = refds.groupby_bins("x", **kw).mean()
        exp = sorted((str(k), float(m)) for k, m in
                     zip(g["x_bins"].values, g["v"].values))
        p = sds.groupby_bins("x", **kw).mean().to_pandas()
        kc = [c for c in p.columns if c != "v"][0]
        got = sorted((str(k), float(m)) for k, m in zip(p[kc], p["v"]))
        assert got == exp, (kw, got, exp)


@needs_xr
def test_merge_combine_attrs_matches_reference(spark):
    """merge/concat combine_attrs policies (reference merge.py:545
    merge_attrs; default 'override' = FIRST dataset's attrs only)."""
    from xarray_spark.combine import merge as xmerge, concat as xconcat
    from xarray_spark.errors import MergeError
    r1 = xr.Dataset({"a": ("x", [1.0, 2.0])}, coords={"x": [0, 1]},
                    attrs={"k": 1, "shared": "s"})
    r2 = xr.Dataset({"b": ("x", [3.0, 4.0])}, coords={"x": [0, 1]},
                    attrs={"k": 2, "other": "o", "shared": "s"})
    mk = lambda var, vals, attrs: XDataset(
        spark.createDataFrame(pd.DataFrame({"x": [0, 1], var: vals})),
        dims=["x"], attrs=attrs)
    s1 = mk("a", [1.0, 2.0], {"k": 1, "shared": "s"})
    s2 = mk("b", [3.0, 4.0], {"k": 2, "other": "o", "shared": "s"})
    for ca in ("override", "drop", "drop_conflicts"):
        exp = xr.merge([r1, r2], combine_attrs=ca).attrs
        assert xmerge([s1, s2], combine_attrs=ca).attrs == exp, ca
    for bad in ("no_conflicts", "identical"):
        with pytest.raises(MergeError):
            xmerge([s1, s2], combine_attrs=bad)
    # concat combine_attrs over a shared-name variable
    got = xconcat([s1.rename({"a": "v"}), s2.rename({"b": "v"})],
                  dim="y", combine_attrs="drop_conflicts").attrs
    assert got == {"shared": "s", "other": "o"}


@needs_xr
def test_merge_fill_value_and_exact_matches_reference(spark):
    """merge(fill_value=) fills ONLY alignment-introduced slices
    (reference merge.py merge_core -> align fill_value); join='exact'
    raises on label mismatch."""
    r3 = xr.Dataset({"a": ("x", [1.0])}, coords={"x": [0]})
    r4 = xr.Dataset({"b": ("x", [9.0])}, coords={"x": [1]})
    exp = xr.merge([r3, r4], fill_value=-1.0, join="outer")
    s3 = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0], "a": [1.0]})), dims=["x"])
    s4 = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [1], "b": [9.0]})), dims=["x"])
    from xarray_spark.combine import merge as xmerge
    got = xmerge([s3, s4], fill_value=-1.0).to_pandas().sort_values("x")
    np.testing.assert_allclose(got["a"].to_numpy(), exp["a"].values)
    np.testing.assert_allclose(got["b"].to_numpy(), exp["b"].values)
    # a pre-existing null must NOT be filled
    s5 = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0, 1], "a": [1.0, None]})), dims=["x"])
    got2 = xmerge([s5, s4], fill_value=-1.0).to_pandas().sort_values("x")
    assert np.isnan(got2["a"].to_numpy()[1])
    # exact join parity: reference raises on mismatched labels
    with pytest.raises(Exception):
        xr.merge([r3, r4], join="exact")
    with pytest.raises(ValueError):
        xmerge([s3, s4], join="exact")
    # and passes on equal labels
    s6 = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0], "b": [5.0]})), dims=["x"])
    assert xmerge([s3, s6], join="exact").to_pandas().shape[0] == 1


@needs_xr
def test_cf_decode_matrix2_matches_reference(spark):
    """Wave 27: CF coder matrix round 2 — mask+scale+offset order,
    missing_value, _Unsigned with fill, bool coder, and the full
    sub-second/udunits time-grain set (reference coding/times.py
    _netcdf_to_numpy_timeunit includes ms/us)."""
    import warnings
    warnings.filterwarnings("ignore")
    from xarray_spark.io import decode_cf

    def ref_decode(raw, attrs, dtype):
        return xr.decode_cf(
            xr.Dataset({"v": ("i", np.array(raw, dtype=dtype), attrs)}))["v"].values

    def spark_decode(raw, spec, sparktype):
        df = spark.createDataFrame(
            pd.DataFrame({"i": range(len(raw)), "v": raw}))
        df = df.withColumn("v", df["v"].cast(sparktype))
        return (decode_cf(df, {"v": spec}).toPandas()
                .sort_values("i")["v"].to_numpy())

    cases = [
        ([1, 2, -99, 4],
         {"_FillValue": -99, "scale_factor": 0.5, "add_offset": 10.0},
         {"fill_value": -99, "scale_factor": 0.5, "add_offset": 10.0},
         "int16", "smallint"),
        ([1, 2, -99, 4], {"missing_value": -99},
         {"fill_value": -99}, "int16", "smallint"),
        ([-1, 5, -128], {"_Unsigned": "true", "_FillValue": np.int8(-1)},
         {"unsigned": True, "fill_value": -1}, "int8", "tinyint"),
    ]
    for raw, attrs, spec, npdt, st in cases:
        exp = np.asarray(ref_decode(raw, attrs, npdt), dtype="float64")
        got = np.asarray([np.nan if x is None else float(x)
                          for x in spark_decode(raw, spec, st)])
        np.testing.assert_allclose(got, exp, equal_nan=True)
    for units in ("milliseconds since 1970-01-01",
                  "microseconds since 1999-12-31 23:59:59"):
        raw = [0, 1, 36, 100]
        exp = xr.decode_cf(xr.Dataset(
            {"t": ("i", np.array(raw, "int32"), {"units": units})}
        ))["t"].values.astype("datetime64[us]")
        got = np.array([np.datetime64(pd.Timestamp(x), "us")
                        for x in spark_decode(raw, {"time_units": units},
                                              "int")])
        np.testing.assert_array_equal(got, exp)


@needs_xr
def test_reindex_sel_nearest_tie_matches_reference(spark):
    """pandas get_indexer(method='nearest') breaks exact-midpoint ties
    toward the HIGHER label (reference sel/reindex route through it);
    full method/tolerance grid cross-checked."""
    xc = [0.0, 1.0, 2.0, 5.0, 10.0]
    vals = [0.0, 10.0, 20.0, 50.0, 100.0]
    ref = xr.Dataset({"v": ("x", np.array(vals))},
                     coords={"x": np.array(xc)})
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": xc, "v": vals})), dims=["x"])
    for kw in (dict(x=[0.5], method="nearest"),
               dict(x=[1.5], method="nearest", tolerance=0.5),
               dict(x=[0.4, 1.6, 7.0], method="nearest"),
               dict(x=[0.4, 1.6, 7.0], method="ffill"),
               dict(x=[-1.0, 0.4], method="bfill", tolerance=0.5)):
        exp = ref.reindex(**kw)["v"].values
        kw2 = dict(kw)
        tgts = kw2.pop("x")
        got = (sds.reindex({"x": tgts}, **kw2)
               .to_pandas().sort_values("x")["v"].to_numpy())
        np.testing.assert_allclose(np.sort(got), np.sort(exp),
                                   equal_nan=True)
    # sel nearest tie agrees too
    assert (sds.sel({"x": [0.5]}, method="nearest")
            .to_pandas()["v"].tolist() ==
            ref.sel(x=[0.5], method="nearest")["v"].values.tolist())


@needs_xr
def test_groupby_transform_ops_match_reference(spark):
    """Wave 27: groupby binary-op transforms (anomaly/normalize),
    scalar fillna (group-independent, reference ops delegation), and
    map with inferred schema (reference groupby.py:1614)."""
    N = 12
    rng = np.random.RandomState(0)
    v = rng.randn(N)
    v[3] = np.nan
    g = np.arange(N) % 3
    ref = xr.Dataset({"v": ("t", v)},
                     coords={"t": np.arange(N), "g": ("t", g)})
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": v, "g": g})), dims=["t"],
        coords={"g": ("t",)})

    def check(refout, sout):
        exp = refout["v"].values
        got = sout.to_pandas().sort_values("t")["v"].to_numpy()
        np.testing.assert_allclose(
            np.sort(exp[~np.isnan(exp)]), np.sort(got[~np.isnan(got)]))
        assert np.isnan(exp).sum() == np.isnan(got).sum()

    check(ref.groupby("g") - ref.groupby("g").mean(),
          sds.groupby("g") - sds.groupby("g").mean())
    check(ref.groupby("g") / ref.groupby("g").max(),
          sds.groupby("g") / sds.groupby("g").max())
    check(ref.groupby("g").fillna(-1.0), sds.groupby("g").fillna(-1.0))

    def demean(pdf):
        pdf = pdf.copy()
        pdf["v"] = pdf["v"] - pdf["v"].mean()
        return pdf
    check(ref.groupby("g").map(lambda x: x - x.mean()),
          sds.groupby("g").map(demean))


@needs_xr
def test_differentiate_edge_order2_matches_reference(spark):
    """np.gradient edge_order=2: 3-point one-sided edge stencils on a
    non-uniform grid (reference core/dataset.py:8475 differentiate)."""
    x = np.array([0.0, 1.0, 2.5, 3.0, 7.0])
    v = np.array([0.0, 2.0, 1.0, 5.0, 3.0])
    ref = xr.Dataset({"v": ("x", v)}, coords={"x": x})
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": x, "v": v})), dims=["x"])
    for eo in (1, 2):
        exp = ref.differentiate("x", edge_order=eo)["v"].values
        got = (sds.differentiate("x", edge_order=eo)
               .to_pandas().sort_values("x")["v"].to_numpy())
        np.testing.assert_allclose(got, exp)
    with pytest.raises(ValueError):
        sds.differentiate("x", edge_order=3)


@needs_xr
def test_cumsum_skipna_false_matches_reference(spark):
    """cumsum/cumprod skipna=False: NaN poisons every later prefix
    (np.cumsum semantics; reference _aggregations cumsum skipna)."""
    v = np.array([1.0, 3.0, np.nan, 7.0, 5.0, 2.0])
    ref = xr.Dataset({"v": ("t", v)}, coords={"t": np.arange(6)})
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(6), "v": v})), dims=["t"])
    for op in ("cumsum", "cumprod"):
        for skipna in (True, False):
            exp = getattr(ref, op)("t", skipna=skipna)["v"].values
            got = (getattr(sds, op)("t", skipna=skipna)
                   .to_pandas().sort_values("t")["v"].to_numpy())
            np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_pad_per_side_constants_and_symmetric_odd(spark):
    """Wave 27: per-side constant_values (np.pad ((before, after),)
    and dict forms) and reflect_type='odd' applied to symmetric too
    (reference core/dataset.py:9054 pad -> np.pad semantics)."""
    v = np.array([1.0, 3.0, np.nan, 7.0, 5.0, 2.0])
    ref = xr.Dataset({"v": ("t", v)}, coords={"t": np.arange(6)})
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(6), "v": v})), dims=["t"])
    for kw in (dict(t=(2, 1), mode="constant",
                    constant_values=((4.0, 6.0),)),
               dict(t=(2, 2), mode="symmetric", reflect_type="odd"),
               dict(t=(2, 2), mode="reflect", reflect_type="odd")):
        kw2 = dict(kw)
        pw = kw2.pop("t")
        exp = ref.pad(t=pw, **kw2)["v"].values
        got = (sds.pad(t=pw, **kw2).to_pandas()
               .sort_values("t")["v"].to_numpy())
        np.testing.assert_allclose(got, exp, equal_nan=True)
    # dict form {dim: (b, a)}
    got = (sds.pad(t=(1, 1), mode="constant",
                   constant_values={"t": (8.0, 9.0)})
           .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(
        got, np.concatenate([[8.0], v, [9.0]]), equal_nan=True)
