"""Differential wave 30: composition fuzz — groupby/resample/rolling
chains, unstack of partial grids, weighted+groupby, pad+rolling,
stack+groupby — seeded-random inputs against the reference xarray."""

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


def _series(seed, n=60, nan_k=6):
    rng = np.random.RandomState(seed)
    vals = rng.randn(n).round(6)
    if nan_k:
        vals[rng.choice(n, nan_k, replace=False)] = np.nan
    return rng, vals


@needs_xr
@pytest.mark.parametrize("seed", [1, 42])
def test_fuzz_rolling_then_groupby(spark, seed):
    """rolling mean -> groupby key -> mean: window feeds aggregation."""
    rng, vals = _series(seed)
    keys = rng.randint(0, 4, 60)
    ref = xr.Dataset({"v": ("t", vals)},
                     coords={"t": np.arange(60), "k": ("t", keys)})
    exp = (ref["v"].rolling(t=5, min_periods=2).mean()
           .groupby(ref["k"]).mean())
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(60), "k": keys, "v": vals})),
        dims=["t"], coords={"k": ("t",)})
    got = (ds.rolling(t=5, min_periods=2).mean().groupby("k").mean()
           .to_pandas().sort_values("k")["v"].to_numpy())
    np.testing.assert_allclose(got, exp.sortby("k").values, rtol=1e-9,
                               equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [7, 23])
def test_fuzz_resample_then_rolling(spark, seed):
    rng, vals = _series(seed, n=90, nan_k=5)
    idx = pd.date_range("2002-03-01", periods=90, freq="D")
    ref = xr.DataArray(vals, dims="time", coords={"time": idx}, name="v")
    exp = ref.resample(time="W").mean().rolling(time=3, min_periods=1).mean()
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"time": idx, "v": vals})), dims=["time"])
    got = (ds.resample(time="W").mean().rolling(time=3, min_periods=1)
           .mean().to_pandas().sort_values("time"))
    np.testing.assert_array_equal(
        got["time"].to_numpy().astype("datetime64[ns]"),
        exp["time"].values)
    np.testing.assert_allclose(got["v"].to_numpy(), exp.values,
                               rtol=1e-9, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [3, 55])
def test_fuzz_unstack_partial_grid(spark, seed):
    """stack->drop random rows->unstack: missing combos densify to
    NaN exactly like the reference."""
    rng = np.random.RandomState(seed)
    xs, ys = np.arange(5), np.arange(4)
    vals = rng.randn(5, 4).round(6)
    keep = rng.choice(20, 14, replace=False)
    rows = [(int(x), int(y), float(vals[x, y]))
            for i, (x, y) in enumerate(
                [(x, y) for x in xs for y in ys]) if i in keep]
    ref_flat = xr.Dataset(
        {"v": ("p", np.array([r[2] for r in rows]))},
        coords={"x": ("p", [r[0] for r in rows]),
                "y": ("p", [r[1] for r in rows])})
    exp = ref_flat.set_index(p=("x", "y")).unstack("p")["v"]
    ds = XDataset(spark.createDataFrame(rows, ["x", "y", "v"]),
                  dims=["x", "y"])
    got = ds.unstack().to_pandas().pivot(index="x", columns="y",
                                         values="v")
    np.testing.assert_allclose(
        got.to_numpy(),
        exp.sel(x=got.index.to_numpy(), y=got.columns.to_numpy()).values,
        equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [9, 31])
def test_fuzz_weighted_groupby(spark, seed):
    """Per-group weighted mean: weighted() after groupby is not in the
    reference API; compose manually on the reference side."""
    rng, vals = _series(seed, nan_k=0)
    keys = rng.randint(0, 3, 60)
    w = np.abs(rng.randn(60)).round(6) + 0.05
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(60), "k": keys, "v": vals,
                      "w": w})), dims=["t"], coords={"k": ("t",)})
    # engine: weighted mean per group via expression composition
    from pyspark.sql import functions as F
    got = (ds.df.groupBy("k")
           .agg((F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias("wm"))
           .toPandas().set_index("k")["wm"])
    for k in range(3):
        m = keys == k
        exp = float(
            xr.DataArray(vals[m], dims="t").weighted(
                xr.DataArray(w[m], dims="t")).mean().values)
        np.testing.assert_allclose(got[k], exp, rtol=1e-9)


@needs_xr
@pytest.mark.parametrize("seed", [13, 47])
def test_fuzz_pad_then_rolling(spark, seed):
    rng, vals = _series(seed, n=30, nan_k=0)
    ref = xr.DataArray(vals, dims="t", name="v")
    exp = ref.pad(t=(2, 2), mode="edge").rolling(t=3, min_periods=1).mean()
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(30), "v": vals})), dims=["t"])
    got = (ds.pad(t=(2, 2), mode="edge").rolling(t=3, min_periods=1)
           .mean().to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp.values, rtol=1e-9,
                               equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [5, 77])
def test_fuzz_groupby_bins_then_quantile(spark, seed):
    rng, vals = _series(seed, nan_k=4)
    g = rng.uniform(-2, 2, 60).round(6)
    refd = xr.Dataset({"v": ("t", vals)},
                      coords={"t": np.arange(60), "g": ("t", g)})
    exp = refd.groupby_bins("g", 3).quantile(0.5)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(60), "g": g, "v": vals})),
        dims=["t"], coords={"g": ("t",)})
    got = (ds.groupby_bins("g", 3).quantile(0.5).to_pandas()
           .set_index("g_bins")["v"])
    for lab, e in zip(exp["g_bins"].values, exp["v"].values):
        np.testing.assert_allclose(got[str(lab)], e, rtol=1e-9,
                                   err_msg=str(lab))


@needs_xr
@pytest.mark.parametrize("seed", [2, 91])
def test_fuzz_diff_cumsum_roundtrip(spark, seed):
    """cumsum(diff(x)) + x[0] reconstructs x (NaN-free) on both."""
    rng, vals = _series(seed, nan_k=0)
    ref = xr.DataArray(vals, dims="t", name="v")
    exp = ref.diff("t").cumsum("t").values
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(60), "v": vals})), dims=["t"])
    got = (ds.diff("t").cumsum("t").to_pandas().sort_values("t")["v"]
           .to_numpy())
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@pytest.mark.parametrize("seed", [11, 63])
def test_fuzz_shift_ffill_composition(spark, seed):
    rng, vals = _series(seed, nan_k=8)
    # the reference's ffill needs bottleneck (absent here); pandas is
    # the same ffill semantics
    exp = pd.Series(vals).shift(3).ffill().to_numpy()
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(60), "v": vals})), dims=["t"])
    got = (ds.shift(t=3).ffill("t").to_pandas().sort_values("t")["v"]
           .to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [17, 29])
def test_fuzz_coarsen_then_interp(spark, seed):
    rng, vals = _series(seed, nan_k=0)
    ref = xr.DataArray(vals[:56], dims="t",
                       coords={"t": np.arange(56.0)}, name="v")
    coarse = ref.coarsen(t=7).mean()
    targets = [float(x) for x in
               np.round(rng.uniform(float(coarse["t"].min()),
                                    float(coarse["t"].max()), 6), 3)]
    exp = np.interp(targets, coarse["t"].values, coarse.values)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(56.0), "v": vals[:56]})),
        dims=["t"])
    got_pd = (ds.coarsen(t=7).mean().interp(t=targets).to_pandas()
              .set_index("t"))
    got = got_pd.loc[targets]["v"].to_numpy()
    np.testing.assert_allclose(got, exp, rtol=1e-9)
