"""Differential wave 29: remaining family corners — sortby multi-key,
drop_duplicates keep variants, shift dtype promotion, expand_dims
forms, 3-dim stack, groupby_bins labels, resample chains,
cumulative_integrate, dt fields round 2, interp method grid, DataTree
arithmetic, weighted std/sum_of_weights, rolling_exp cov/corr — all
against the reference xarray from /root/reference."""

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

RNG = np.random.RandomState(17)
N = 40


@pytest.fixture(scope="module")
def series():
    vals = RNG.randn(N).round(6)
    vals[[4, 11, 30]] = np.nan
    return vals


@pytest.fixture(scope="module")
def sds(spark, series):
    return XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series})), dims=["t"])


@needs_xr
def test_sortby_multi_key_matches_reference(spark):
    a = np.array([2, 1, 2, 1, 3, 2], dtype=float)
    b = np.array([0.5, 0.1, -1.0, 2.0, 0.0, 0.5])
    v = np.arange(6.0)
    ref = xr.Dataset({"v": ("t", v)},
                     coords={"t": np.arange(6), "a": ("t", a),
                             "b": ("t", b)})
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(6), "a": a, "b": b, "v": v})),
        dims=["t"])
    for asc in (True, False):
        exp = ref.sortby(["a", "b"], ascending=asc)["v"].values
        got = (ds.sortby(["a", "b"], ascending=asc).to_pandas()["v"]
               .to_numpy())
        np.testing.assert_allclose(got, exp, err_msg=f"ascending={asc}")


@needs_xr
@pytest.mark.parametrize("keep", ["first", "last", False])
def test_drop_duplicates_keep_matches_reference(spark, keep):
    t = np.array([0, 1, 1, 2, 3, 3, 3])
    v = np.arange(7.0) * 10
    ref = xr.DataArray(v, dims="t", coords={"t": t}, name="v")
    exp = ref.drop_duplicates("t", keep=keep)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": t, "pos": np.arange(7), "v": v})),
        dims=["t"], coords={"pos": ("t",)})
    got = ds.drop_duplicates("t", keep=keep).to_pandas().sort_values("t")
    np.testing.assert_array_equal(got["t"].to_numpy(), exp["t"].values)
    # value parity only for deterministic keeps (the reference keeps
    # positional order; long form keys on a position coord)
    if keep in ("first", "last"):
        np.testing.assert_allclose(got["v"].to_numpy(), exp.values)


@needs_xr
def test_shift_int_promotes_like_reference(spark):
    iv = np.arange(6)
    ref = xr.DataArray(iv, dims="t").shift(t=2)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(6), "v": iv})), dims=["t"])
    got = ds.shift(t=2).to_pandas().sort_values("t")["v"].to_numpy()
    np.testing.assert_allclose(
        np.asarray([np.nan if x is None or (isinstance(x, float)
                    and np.isnan(x)) else float(x) for x in got]),
        ref.values, equal_nan=True)


@needs_xr
def test_expand_dims_forms_match_reference(spark, series):
    ref = xr.DataArray(series, dims="t", name="v").to_dataset()
    exp = ref.expand_dims(run=[0, 1])
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series})), dims=["t"])
    got = ds.expand_dims(run=[0, 1]).to_pandas()
    assert sorted(got["run"].unique().tolist()) == [0, 1]
    for r in (0, 1):
        sub = got[got["run"] == r].sort_values("t")["v"].to_numpy()
        np.testing.assert_allclose(sub, exp["v"].sel(run=r).values,
                                   equal_nan=True)


@needs_xr
def test_stack_three_dims_matches_reference(spark):
    xs, ys, zs = np.arange(2), np.arange(3), np.arange(2)
    vals = RNG.randn(2, 3, 2).round(6)
    ref = xr.DataArray(vals, dims=("x", "y", "z"),
                       coords={"x": xs, "y": ys, "z": zs}, name="v")
    exp = ref.stack(p=("x", "y", "z"))
    rows = [(int(x), int(y), int(z), float(vals[x, y, z]))
            for x in xs for y in ys for z in zs]
    ds = XDataset(spark.createDataFrame(rows, ["x", "y", "z", "v"]),
                  dims=["x", "y", "z"])
    got = ds.stack(p=("x", "y", "z")).to_pandas()
    # the stacked label renders as a struct (dict/Row) — compare as a
    # map keyed by the label tuple
    gmap = {}
    for p, v in zip(got["p"], got["v"]):
        key = (tuple(p.values()) if isinstance(p, dict)
               else tuple(p))
        gmap[key] = v
    for lab, val in zip(exp["p"].values, exp.values):
        assert gmap[tuple(lab)] == pytest.approx(val), lab


@needs_xr
def test_groupby_bins_custom_labels_match_reference(spark, series):
    bins = [-10, -0.5, 0.5, 10]
    labels = ["lo", "mid", "hi"]
    g = np.linspace(-1, 1, N).round(6)
    refd = xr.Dataset({"v": ("t", series)},
                      coords={"t": np.arange(N), "g": ("t", g)})
    ref = refd.groupby_bins("g", bins, labels=labels).mean()
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "g": g, "v": series})),
        dims=["t"], coords={"g": ("t",)})
    got = (ds.groupby_bins("g", bins, labels=labels).mean()
           .to_pandas().set_index("g_bins")["v"])
    for lab in labels:
        np.testing.assert_allclose(got[lab],
                                   ref["v"].sel(g_bins=lab).values,
                                   rtol=1e-9)


@needs_xr
def test_resample_chain_matches_reference(spark):
    idx = pd.date_range("2001-01-01", periods=60, freq="D")
    vals = RNG.randn(60).round(6)
    ref = xr.DataArray(vals, dims="time", coords={"time": idx}, name="v")
    exp = ref.resample(time="ME").mean().resample(time="D").ffill()
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"time": idx, "v": vals})), dims=["time"])
    got = (ds.resample(time="ME").mean().resample(time="D").ffill()
           .to_pandas().sort_values("time"))
    np.testing.assert_array_equal(
        got["time"].to_numpy().astype("datetime64[ns]"),
        exp["time"].values)
    np.testing.assert_allclose(got["v"].to_numpy(), exp.values,
                               equal_nan=True)


@needs_xr
def test_cumulative_integrate_matches_reference(spark):
    xs = np.sort(RNG.uniform(0, 10, 25)).round(4)
    vals = RNG.randn(25).round(6)
    ref = xr.DataArray(vals, dims="x", coords={"x": xs}, name="v")
    exp = ref.cumulative_integrate("x").values
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": xs, "v": vals})), dims=["x"])
    got = (ds.cumulative_integrate("x").to_pandas().sort_values("x")
           ["v"].to_numpy())
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_dt_quarter_days_in_month_match_reference(spark):
    idx = pd.date_range("2019-11-15", periods=20, freq="11D")
    ref = xr.DataArray(np.arange(20.0), dims="time",
                       coords={"time": idx})
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"time": idx, "v": np.arange(20.0)})),
        dims=["time"])
    for field in ("quarter", "days_in_month", "dayofyear"):
        exp = getattr(ref["time"].dt, field).values
        got = (getattr(ds["time"].dt, field).to_pandas()
               .sort_values("time").iloc[:, -1].to_numpy())
        np.testing.assert_array_equal(got.astype(int), exp.astype(int),
                                      err_msg=field)


@pytest.mark.parametrize("method", ["zero", "slinear", "nearest"])
def test_interp_method_grid_semantics(spark, method):
    """interp methods against their published formulas (scipy kinds:
    zero = previous-point hold, slinear = linear spline = linear)."""
    labels = np.array([0.0, 2.0, 5.0, 6.0, 9.0])
    vals = np.array([1.0, 3.0, -1.0, 0.0, 4.0])
    targets = [1.0, 2.0, 4.9, 7.5]
    if method == "zero":
        exp = np.array([1.0, 3.0, 3.0, 0.0])
    elif method == "nearest":
        # scipy kind='nearest' rounds DOWN on exact midpoints
        # (1.0 between 0 and 2 -> label 0; 7.5 between 6 and 9 -> 6)
        exp = np.array([1.0, 3.0, -1.0, 0.0])
    else:
        exp = np.interp(targets, labels, vals)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": labels, "v": vals})), dims=["t"])
    got_pd = (ds.interp(t=targets, method=method).to_pandas()
              .set_index("t"))
    got = got_pd.loc[targets]["v"].to_numpy()
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_datatree_arithmetic_matches_reference(spark):
    from xarray_spark import DataTree
    vals = np.arange(5.0)
    ref_leaf = xr.Dataset({"v": ("t", vals)}, coords={"t": np.arange(5)})
    ref_tree = xr.DataTree.from_dict({"/a": ref_leaf, "/b": ref_leaf * 2})
    exp = (ref_tree * 3 + 1)
    leaf = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(5), "v": vals})), dims=["t"])
    tree = DataTree({"/a": leaf, "/b": leaf * 2})
    got = tree * 3 + 1
    for path in ("/a", "/b"):
        g = got[path].to_pandas().sort_values("t")["v"].to_numpy()
        e = exp[path].ds["v"].values
        np.testing.assert_allclose(g, e, err_msg=path)


@needs_xr
def test_weighted_std_and_sum_of_weights_match_reference(spark, series):
    w = np.abs(RNG.randn(N).round(6)) + 0.1
    ref = xr.DataArray(series, dims="t", name="v").weighted(
        xr.DataArray(w, dims="t"))
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series, "w": w})),
        dims=["t"])
    got_std = ds.weighted("w").std("t").to_pandas()["v"].iloc[0]
    np.testing.assert_allclose(got_std, ref.std("t").values, rtol=1e-9)
    got_sw = ds.weighted("w").sum_of_weights("t").to_pandas()["v"].iloc[0]
    np.testing.assert_allclose(got_sw, ref.sum_of_weights("t").values,
                               rtol=1e-9)


def test_rolling_exp_cov_corr_match_pandas(spark):
    """rolling_exp cov/corr (engine r4 extension) vs pandas ewm —
    pandas is the semantics source (reference rolling_exp has mean/sum
    only)."""
    a = RNG.randn(50).round(6)
    b = (0.6 * a + RNG.randn(50) * 0.5).round(6)
    pdf = pd.DataFrame({"t": np.arange(50), "u": a})
    pdf2 = pd.DataFrame({"t": np.arange(50), "u": b})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    other = XDataset(spark.createDataFrame(pdf2), dims=["t"])
    exp_cov = pd.Series(a).ewm(span=8).cov(pd.Series(b)).to_numpy()
    exp_corr = pd.Series(a).ewm(span=8).corr(pd.Series(b)).to_numpy()
    got_cov = (ds.rolling_exp(t=8).cov(other).to_pandas()
               .sort_values("t").iloc[:, -1].to_numpy())
    got_corr = (ds.rolling_exp(t=8).corr(other).to_pandas()
                .sort_values("t").iloc[:, -1].to_numpy())
    np.testing.assert_allclose(got_cov, exp_cov, rtol=1e-7,
                               equal_nan=True)
    np.testing.assert_allclose(got_corr, exp_corr, rtol=1e-7,
                               equal_nan=True)


@needs_xr
def test_isel_negative_step_matches_reference(spark, series):
    ref = xr.DataArray(series, dims="t", name="v")
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": series})), dims=["t"])
    for sl in (slice(None, None, -3), slice(30, 5, -4)):
        exp = ref.isel(t=sl).values
        got = ds.isel(t=sl).to_pandas()
        order = got["t"].to_numpy()
        vals = got.set_index("t").loc[
            np.arange(N)[sl]]["v"].to_numpy()
        np.testing.assert_allclose(vals, exp, equal_nan=True,
                                   err_msg=str(sl))


def test_copysign_signbit_match_numpy(spark, series):
    from xarray_spark import ufuncs as xu
    vals = np.array([1.5, -2.5, 0.0, -0.0, np.nan, np.inf, -np.inf])
    signs = np.array([-1.0, 1.0, -0.0, 0.0, -2.0, -1.0, 1.0])
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(7), "v": vals, "s": signs})),
        dims=["t"])
    from pyspark.sql import functions as F
    got_cs = (ds.df.select("t", xu.copysign(F.col("v"), F.col("s"))
                           .alias("c"))
              .toPandas().sort_values("t")["c"].to_numpy())
    np.testing.assert_allclose(got_cs, np.copysign(vals, signs),
                               equal_nan=True)
    got_sb = (xu.signbit(ds["v"]).to_pandas().sort_values("t")["v"]
              .to_numpy())
    np.testing.assert_array_equal(got_sb.astype(bool), np.signbit(vals))
