"""Differential wave 31: signature-audit parity — the kwargs the
round-6 reference-signature diff surfaced (sel/isel drop, squeeze
drop/axis, missing_dims, groupby_bins precision/duplicates, polyfit
skipna, quantile interpolation alias, merge overwrite_vars, pad
stat_length, reset_index/reset_coords drop, drop_vars errors,
to_dataarray name, cumulative min_periods) — each behavior compared
against the reference xarray."""

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


def _pair(spark, n=8, seed=3):
    rng = np.random.RandomState(seed)
    vals = rng.randn(n).round(6)
    keys = rng.randint(0, 3, n)
    ref = xr.Dataset({"v": ("t", vals)},
                     coords={"t": np.arange(n), "k": ("t", keys)})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(n), "k": keys, "v": vals})),
        dims=["t"], coords={"k": ("t",)})
    return ref, ours


@needs_xr
def test_scalar_sel_keeps_scalar_coords_like_reference(spark):
    ref, ours = _pair(spark)
    r = ref.sel(t=3)
    o = ours.sel(t=3)
    # reference: t and k become scalar coords, still present
    assert set(r.coords) == {"t", "k"}
    assert o.dims == () and set(o.coords) == {"t", "k"}
    assert set(o.df.columns) == {"t", "k", "v"}
    p = o.to_pandas()
    assert p["t"].iloc[0] == 3 and p["k"].iloc[0] == int(r["k"])


@needs_xr
def test_scalar_sel_drop_true_matches_reference(spark):
    ref, ours = _pair(spark)
    r = ref.sel(t=3, drop=True)
    o = ours.sel(t=3, drop=True)
    assert dict(r.coords) == {}
    assert o.coords == {} and set(o.df.columns) == {"v"}
    assert o.to_pandas()["v"].iloc[0] == float(r["v"])


@needs_xr
def test_scalar_isel_drop_grid_matches_reference(spark):
    ref, ours = _pair(spark)
    for drop in (False, True):
        r = ref.isel(t=5, drop=drop)
        o = ours.isel(t=5, drop=drop)
        assert set(o.coords) == set(r.coords)
        assert o.to_pandas()["v"].iloc[0] == float(r["v"])


@needs_xr
def test_isel_missing_dims_matches_reference(spark):
    ref, ours = _pair(spark)
    with pytest.raises(ValueError):
        ref.isel(zz=0)
    with pytest.raises(ValueError):
        ours.isel(zz=0)
    r = ref.isel(zz=0, missing_dims="ignore")
    o = ours.isel(zz=0, missing_dims="ignore")
    assert list(r.dims) == ["t"] and list(o.dims) == ["t"]
    with pytest.warns(UserWarning):
        ours.isel(zz=0, missing_dims="warn")


@needs_xr
def test_squeeze_default_and_drop_match_reference(spark):
    ref, ours = _pair(spark)
    r0 = ref.isel(t=slice(2, 3)).squeeze()
    o0 = ours.isel(t=slice(2, 3)).squeeze()
    assert set(o0.coords) == set(r0.coords) == {"t", "k"}
    r1 = ref.isel(t=slice(2, 3)).squeeze(drop=True)
    o1 = ours.isel(t=slice(2, 3)).squeeze(drop=True)
    assert dict(r1.coords) == {} and o1.coords == {}
    # explicit dim of size > 1 raises on both sides
    with pytest.raises(ValueError):
        ref.squeeze("t")
    with pytest.raises(ValueError):
        ours.squeeze("t")


@needs_xr
def test_groupby_bins_precision_matches_reference(spark):
    ref, ours = _pair(spark, n=40, seed=7)
    bins = [-2.13579, -0.2468, 0.13579, 2.97531]
    exp = ref.groupby_bins("v", bins, precision=5).sum()
    got = (ours.groupby_bins("v", bins, precision=5).sum()
           .to_pandas().set_index("v_bins")["v"])
    lbls = [str(c) for c in exp["v_bins"].values]
    assert sorted(got.index) == sorted(lbls)
    for lbl, val in zip(lbls, exp["v"].values):
        assert got[lbl] == pytest.approx(val, rel=1e-9)


@needs_xr
def test_groupby_bins_duplicates_matches_pandas(spark):
    _, ours = _pair(spark, n=20, seed=11)
    with pytest.raises(ValueError):
        ours.groupby_bins("v", [0.0, 0.0, 1.0]).sum().to_pandas()
    # duplicates='drop' collapses the repeated edge like pandas.cut
    got = (ours.groupby_bins("v", [-9.0, 0.0, 0.0, 9.0],
                             duplicates="drop").sum().to_pandas())
    s = pd.Series(ours.to_pandas()["v"].to_numpy())
    exp = s.groupby(pd.cut(s, [-9.0, 0.0, 0.0, 9.0],
                           duplicates="drop")).sum()
    exp = exp[exp.index.astype(str).isin(got["v_bins"].tolist())]
    got = got.set_index("v_bins")["v"]
    for iv, val in exp.items():
        assert got[str(iv)] == pytest.approx(val, rel=1e-9)


@needs_xr
def test_polyfit_skipna_false_poisons_like_reference(spark):
    n = 12
    vals = np.linspace(0, 3, n) + 0.5
    vals[4] = np.nan
    clean = np.linspace(1, 4, n)
    ref = xr.Dataset({"a": ("t", vals), "b": ("t", clean)},
                     coords={"t": np.arange(n, dtype=float)})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(n, dtype=float),
                      "a": vals, "b": clean})), dims=["t"])
    r = ref.polyfit("t", 1, skipna=False)
    o = (ours.polyfit("t", 1, skipna=False).to_pandas()
         .sort_values("degree", ascending=False))
    assert np.isnan(r["a_polyfit_coefficients"].values).all()
    assert np.isnan(o["a_polyfit_coefficients"].to_numpy()).all()
    np.testing.assert_allclose(o["b_polyfit_coefficients"].to_numpy(),
                               r["b_polyfit_coefficients"].values,
                               rtol=1e-8)


@needs_xr
def test_quantile_interpolation_alias_matches_reference(spark):
    ref, ours = _pair(spark, n=30, seed=5)
    with pytest.warns(FutureWarning):
        exp = ref.quantile(0.3, interpolation="lower")
    with pytest.warns(FutureWarning):
        got = ours.quantile(0.3, interpolation="lower").to_pandas()
    assert got["v"].iloc[0] == pytest.approx(float(exp["v"]), rel=1e-12)


@needs_xr
def test_merge_overwrite_vars_matches_reference(spark):
    a_ref = xr.Dataset({"u": ("t", [1.0, 2.0]), "w": ("t", [5.0, 6.0])},
                       coords={"t": [0, 1]})
    b_ref = xr.Dataset({"u": ("t", [9.0, 9.0])}, coords={"t": [0, 1]})
    exp = a_ref.merge(b_ref, overwrite_vars="u")
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "u": [1.0, 2.0], "w": [5.0, 6.0]})),
        dims=["t"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "u": [9.0, 9.0]})), dims=["t"])
    # without overwrite_vars the conflicting u raises on both sides
    with pytest.raises(Exception):
        a_ref.merge(b_ref)
    with pytest.raises(Exception):
        a.merge(b)
    got = a.merge(b, overwrite_vars="u").to_pandas().sort_values("t")
    np.testing.assert_allclose(got["u"].to_numpy(), exp["u"].values)
    np.testing.assert_allclose(got["w"].to_numpy(), exp["w"].values)


def test_pad_stat_length_matches_numpy(spark):
    vals = np.array([1.0, 5.0, 2.0, 8.0, 4.0, 7.0])
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(6), "v": vals})), dims=["t"])
    for mode in ("mean", "maximum", "minimum"):
        for sl in (1, 2, ((3, 1),)):
            exp = np.pad(vals, (2, 2), mode=mode, stat_length=sl)
            got = (ours.pad(t=(2, 2), mode=mode, stat_length=sl)
                   .to_pandas().sort_values("t")["v"].to_numpy())
            np.testing.assert_allclose(got, exp, err_msg=f"{mode}/{sl}")


@needs_xr
def test_reset_index_drop_matches_reference(spark):
    ref, ours = _pair(spark)
    r = ref.set_index(t="k").reset_index("t", drop=True)
    o = ours.set_index(t="k").reset_index("t", drop=True)
    assert "t" not in r.coords and "t" not in o.df.columns


@needs_xr
def test_reset_coords_drop_matches_reference(spark):
    ref, ours = _pair(spark)
    r = ref.reset_coords("k", drop=True)
    o = ours.reset_coords("k", drop=True)
    assert "k" not in r.variables and "k" not in o.df.columns
    assert list(r.data_vars) == ["v"] and list(o.data_vars) == ["v"]


@needs_xr
def test_drop_vars_errors_matches_reference(spark):
    ref, ours = _pair(spark)
    with pytest.raises(ValueError):
        ref.drop_vars("nope")
    with pytest.raises(ValueError):
        ours.drop_vars("nope")
    assert list(ref.drop_vars("nope", errors="ignore").data_vars) == ["v"]
    assert list(ours.drop_vars("nope", errors="ignore").data_vars) == ["v"]
    with pytest.raises(ValueError):
        ours.drop_dims("nope")
    assert ours.drop_dims("nope", errors="ignore").dims == ("t",)


@needs_xr
def test_to_dataarray_name_matches_reference(spark):
    ref, ours = _pair(spark)
    # reference to_dataarray names the ARRAY; long form names the value
    # column of the melted table — both surface the chosen name
    r = ref.to_dataarray(dim="var")
    o = ours.to_dataarray(dim="var", name="reading")
    assert "reading" in o.df.columns and "var" in o.df.columns
    got = o.to_pandas().sort_values("t")["reading"].to_numpy()
    np.testing.assert_allclose(got, r.sel(var="v").values)


@needs_xr
def test_cumulative_min_periods_matches_reference(spark):
    ref, ours = _pair(spark, n=10, seed=9)
    exp = ref["v"].cumulative("t", min_periods=3).mean()
    got = (ours.cumulative("t", min_periods=3).mean()
           .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(got, exp.values, equal_nan=True)


@needs_xr
def test_set_index_multilevel_roundtrip(spark):
    _, ours = _pair(spark)
    pdf = pd.DataFrame({"t": [0, 1, 2, 3], "a": ["p", "p", "q", "q"],
                        "b": [0, 1, 0, 1], "v": [1.0, 2.0, 3.0, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                  coords={"a": ("t",), "b": ("t",)})
    m = ds.set_index(t=["a", "b"])
    # struct key with the two levels; selectable by tuple like a
    # stacked dim
    sel = m.sel(t=("q", 1)).to_pandas()
    assert sel["v"].iloc[0] == 4.0
    with pytest.raises(KeyError):
        ds.set_index(t=["a", "zz"])


@needs_xr
def test_keep_attrs_matrix_matches_reference(spark):
    import xarray_spark as xs
    ref = xr.Dataset({"v": ("t", [1.0, 2.0, 3.0])},
                     coords={"t": [0, 1, 2]}, attrs={"units": "m"})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1, 2], "v": [1.0, 2.0, 3.0]})),
        dims=["t"], attrs={"units": "m"})
    for meth in ("mean", "sum", "min", "max", "std", "var", "count",
                 "median", "all", "any", "prod"):
        assert getattr(ours, meth)().attrs == getattr(ref, meth)().attrs, meth
        assert (getattr(ours, meth)(keep_attrs=False).attrs
                == getattr(ref, meth)(keep_attrs=False).attrs == {}), meth
    with xr.set_options(keep_attrs=False):
        exp = ref.mean().attrs
    with xs.set_options(keep_attrs=False):
        got = ours.mean().attrs
    assert got == exp == {}


@needs_xr
def test_transpose_ellipsis_and_partial_match_reference(spark):
    pdf = pd.DataFrame({"x": [0, 0, 1, 1], "y": [0, 1, 0, 1],
                        "v": [1.0, 2.0, 3.0, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"])
    ref = xr.Dataset({"v": (("x", "y"), [[1.0, 2.0], [3.0, 4.0]])},
                     coords={"x": [0, 1], "y": [0, 1]})
    assert (ds.transpose("y", ...).dims
            == tuple(ref.transpose("y", ...)["v"].dims))
    with pytest.raises(ValueError):
        ds.transpose("y")
    with pytest.raises(ValueError):
        ref.transpose("y")
    with pytest.raises(ValueError):
        ds.transpose("zz", "y", "x")
    assert ds.transpose("zz", "y", "x",
                        missing_dims="ignore").dims == ("y", "x")


@needs_xr
def test_expand_dims_axis_matches_reference(spark):
    pdf = pd.DataFrame({"x": [0, 1], "v": [1.0, 2.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x"])
    ref = xr.Dataset({"v": ("x", [1.0, 2.0])}, coords={"x": [0, 1]})
    assert (ds.expand_dims(z=[7, 8], axis=1).dims
            == tuple(ref.expand_dims(z=[7, 8], axis=1)["v"].dims))
    assert (ds.expand_dims(["a", "b"]).dims
            == tuple(ref.expand_dims(["a", "b"])["v"].dims))
    assert (ds.expand_dims("w", axis=-1).dims
            == tuple(ref.expand_dims("w", axis=-1)["v"].dims))
    with pytest.raises(IndexError):
        ds.expand_dims("q", axis=5)
    # values survive the cross join
    got = (ds.expand_dims(z=[7, 8]).to_pandas()
           .sort_values(["z", "x"])["v"].to_numpy())
    exp = ref.expand_dims(z=[7, 8])["v"].transpose("z", "x").values.ravel()
    np.testing.assert_allclose(got, exp)


def test_map_blocks_template_changes_schema(spark):
    pdf = pd.DataFrame({"x": [0, 1], "v": [1.0, 2.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x"])
    t = pd.DataFrame({"x": [0], "v2": [1.0]})
    out = ds.map_blocks(
        lambda p: p.assign(v2=p.v * 2).drop(columns="v"), template=t)
    got = out.to_pandas().sort_values("x")
    assert list(got.columns) == ["x", "v2"]
    np.testing.assert_allclose(got["v2"].to_numpy(), [2.0, 4.0])


def test_convert_calendar_missing_fills_absent_dates(spark):
    idx = pd.date_range("2001-01-28", periods=7, freq="D")  # spans Jan 31
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"time": idx,
                      "v": [float(i) for i in range(7)]})), dims=["time"])
    enc = ds.convert_calendar("360_day", use_cftime=True)
    back = enc.convert_calendar("standard", missing=-99.0)
    p = back.to_pandas().sort_values("time")
    assert len(p) == 7  # Jan 31 rematerialized
    jan31 = p[p["time"].dt.strftime("%m-%d") == "01-31"]["v"].iloc[0]
    assert jan31 == -99.0
    # without missing= the gap stays absent
    assert len(enc.convert_calendar("standard").to_pandas()) == 6


@needs_xr
def test_keep_attrs_unary_family_matches_reference(spark):
    ref = xr.Dataset({"v": ("t", [1.0, 2.0, 3.0])},
                     coords={"t": [0, 1, 2]}, attrs={"u": "m"})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1, 2], "v": [1.0, 2.0, 3.0]})),
        dims=["t"], attrs={"u": "m"})
    pairs = [
        (ours.cumsum("t", keep_attrs=False), ref.cumsum("t", keep_attrs=False)),
        (ours.isnull(keep_attrs=False), ref.isnull(keep_attrs=False)),
        (ours.notnull(keep_attrs=False), ref.notnull(keep_attrs=False)),
        (ours.clip(0, 2, keep_attrs=False), ref.clip(0, 2, keep_attrs=False)),
    ]
    for o, r in pairs:
        assert o.attrs == r.attrs == {}
    # reference quirk: Dataset.idxmax keep_attrs only touches
    # per-variable attrs — dataset attrs survive keep_attrs=False
    assert (ours.idxmax("t", keep_attrs=False).attrs
            == ref.idxmax("t", keep_attrs=False).attrs == {"u": "m"})
    # reference rank needs bottleneck (absent in this runtime) — pin
    # ours directly
    assert ours.rank("t", keep_attrs=False).attrs == {}
    assert ours.rank("t").attrs == {"u": "m"}
    assert ours.cumsum("t").attrs == ref.cumsum("t").attrs == {"u": "m"}


@needs_xr
def test_broadcast_like_exclude_matches_reference(spark):
    ra = xr.DataArray([1.0, 2.0], dims="x", coords={"x": [0, 1]})
    rb = xr.DataArray([[1.0, 2.0], [3.0, 4.0]], dims=("y", "z"),
                      coords={"y": [0, 1], "z": [10, 20]})
    exp = ra.broadcast_like(rb, exclude=["z"])
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0, 1], "v": [1.0, 2.0]})), dims=["x"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"y": [0, 0, 1, 1], "z": [10, 20, 10, 20],
                      "w": [1.0, 2.0, 3.0, 4.0]})), dims=["y", "z"])
    got = a.broadcast_like(b, exclude=["z"])
    assert set(got.dims) == set(exp.dims)
    assert got.to_pandas().shape[0] == exp.size


def test_reduce_numeric_only_and_keepdims(spark):
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "v": [1.0, 2.0], "s": ["a", "b"]})),
        dims=["t"])
    got = ours.reduce(np.nansum, "t", numeric_only=True).to_pandas()
    assert list(got.columns) == ["v"] and got["v"].iloc[0] == 3.0
    with pytest.raises(NotImplementedError):
        ours.reduce(np.nansum, "t", keepdims=True)


def test_unstack_sparse_raises(spark):
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0, 1], "y": [0, 1], "v": [1.0, 2.0]})),
        dims=["x", "y"])
    with pytest.raises(NotImplementedError):
        ours.stack(p=["x", "y"]).unstack("p", sparse=True)


@needs_xr
def test_to_dataframe_dim_order_matches_reference(spark):
    ref = xr.Dataset({"v": (("x", "y"), [[1.0, 2.0], [3.0, 4.0]])},
                     coords={"x": [0, 1], "y": [0, 1]})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0, 0, 1, 1], "y": [0, 1, 0, 1],
                      "v": [1.0, 2.0, 3.0, 4.0]})), dims=["x", "y"])
    exp = ref.to_dataframe(dim_order=["y", "x"])
    got = ours.to_dataframe(dim_order=["y", "x"])
    assert got.index.names == list(exp.index.names)
    np.testing.assert_allclose(got["v"].to_numpy(), exp["v"].to_numpy())
    with pytest.raises(ValueError):
        ours.to_dataframe(dim_order=["y"])


def test_to_dict_data_false_matches_reference_shape(spark):
    # round 7: to_dict emits the reference's NESTED form — data=False
    # swaps per-variable data for dtype/shape (xarray Dataset.to_dict)
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0], "v": [1.0]})), dims=["t"])
    d = ours.to_dict(data=False)
    entry = d["data_vars"]["v"]
    assert "data" not in entry
    assert entry["dtype"] == "float64" and entry["shape"] == (1,)
    assert d["dims"] == {"t": 1}


# ---- wave 33: scalar coords flowing through downstream ops ---------- #

@needs_xr
def test_scalar_coords_flow_through_ops(spark):
    """The round-6 scalar-coord model (collapsed dims stay as coords)
    must compose: reductions keep scalar coords like the reference,
    arithmetic/assign/expand_dims/concat/to_dataframe all work on
    0-dim datasets."""
    from xarray_spark import concat
    pdf = pd.DataFrame({"t": [0, 1, 2, 3], "k": ["a", "b", "a", "b"],
                        "v": [1.0, 2.0, 3.0, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                  coords={"k": ("t",)})
    ref = xr.Dataset({"v": ("t", [1.0, 2.0, 3.0, 4.0])},
                     coords={"t": [0, 1, 2, 3],
                             "k": ("t", ["a", "b", "a", "b"])})
    sc, rc = ds.sel(t=2), ref.sel(t=2)
    # reduction keeps scalar coords (reference semantics)
    m, rm = sc.mean(), rc.mean()
    assert set(rm.coords) == {"t", "k"}
    row = m.df.collect()[0]
    assert row["v"] == float(rm["v"]) and row["k"] == "a" and row["t"] == 2
    # arithmetic on a 0-dim dataset
    assert (sc * 2).df.collect()[0]["v"] == float((rc * 2)["v"])
    # expand a scalar selection back to 1-D
    assert sc.expand_dims("z").dims == ("z",)
    # concat scalar selections reassembles the series
    c = concat([ds.sel(t=0), ds.sel(t=1)], dim="t")
    assert sorted((r["t"], r["v"]) for r in c.df.collect()) == [
        (0, 1.0), (1, 2.0)]
    # to_dataframe surfaces scalar coords as columns (reference shape)
    out = sc.to_dataframe()
    assert set(out.columns) >= {"k", "v"} or set(out.index.names) >= {"t"}


def test_groupby_unaffected_by_scalar_coord_presence(spark):
    pdf = pd.DataFrame({"t": [0, 1, 2, 3], "k": ["a", "b", "a", "b"],
                        "v": [1.0, 2.0, 3.0, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                  coords={"k": ("t",)})
    got = sorted((r["k"], r["v"]) for r in
                 ds.groupby("k").sum().df.collect())
    assert got == [("a", 4.0), ("b", 6.0)]


# ---- wave 34: randomized value-fuzz of the wave-31 kwargs ----------- #

@needs_xr
@pytest.mark.parametrize("seed", [0, 7, 23])
def test_fuzz_pad_stat_modes_with_nans(spark, seed):
    rng = np.random.RandomState(seed)
    vals = rng.randn(10).round(6)
    vals[rng.choice(10, 2, replace=False)] = np.nan
    ref = xr.DataArray(vals, dims="t")
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(10), "v": vals})), dims=["t"])
    for mode in ("mean", "maximum", "minimum"):
        for sl in (None, 2, ((4, 1),)):
            kw = {} if sl is None else {"stat_length": sl}
            exp = ref.pad(t=(2, 1), mode=mode, **kw).values
            got = (ours.pad(t=(2, 1), mode=mode, **kw)
                   .to_pandas().sort_values("t")["v"].to_numpy())
            np.testing.assert_allclose(got, exp, equal_nan=True,
                                       err_msg=f"{mode}/{sl}")


@needs_xr
@pytest.mark.parametrize("seed", [3, 11])
def test_fuzz_groupby_bins_precision_grid(spark, seed):
    rng = np.random.RandomState(seed)
    vals = (rng.randn(30) * 3.7).round(6)
    edges = sorted(set(np.percentile(vals, [5, 35, 65, 95]).round(4)))
    ref = xr.Dataset({"v": ("t", vals)}, coords={"t": np.arange(30)})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(30), "v": vals})), dims=["t"])
    for prec in (1, 3, 6):
        exp = ref.groupby_bins("v", list(edges), precision=prec).sum()
        got = (ours.groupby_bins("v", list(edges), precision=prec).sum()
               .to_pandas().set_index("v_bins")["v"])
        lbls = [str(c) for c in exp["v_bins"].values]
        assert sorted(got.index) == sorted(lbls), prec
        for lbl, val in zip(lbls, exp["v"].values):
            assert got[lbl] == pytest.approx(val, rel=1e-9), (prec, lbl)


@needs_xr
@pytest.mark.parametrize("seed", [1, 19])
def test_fuzz_merge_overwrite_vars_grid(spark, seed):
    rng = np.random.RandomState(seed)
    u1, u2 = rng.randn(4).round(6), rng.randn(4).round(6)
    w = rng.randn(4).round(6)
    a_ref = xr.Dataset({"u": ("t", u1), "w": ("t", w)},
                       coords={"t": np.arange(4)})
    b_ref = xr.Dataset({"u": ("t", u2)}, coords={"t": np.arange(4)})
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(4), "u": u1, "w": w})), dims=["t"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(4), "u": u2})), dims=["t"])
    for ov in ("u", ["u"], ["u", "w"]):
        exp = a_ref.merge(b_ref, overwrite_vars=ov)
        got = a.merge(b, overwrite_vars=ov).to_pandas().sort_values("t")
        np.testing.assert_allclose(got["u"].to_numpy(), exp["u"].values)
        np.testing.assert_allclose(got["w"].to_numpy(), exp["w"].values)


@needs_xr
@pytest.mark.parametrize("seed", [5, 13])
def test_fuzz_scalar_sel_then_ops_match_reference(spark, seed):
    """Random 2-D grid: scalar sel -> rolling/mean/cumsum on the
    surviving dim must match the reference with the scalar coord
    riding along."""
    rng = np.random.RandomState(seed)
    grid = rng.randn(3, 6).round(6)
    ref = xr.Dataset({"v": (("x", "y"), grid)},
                     coords={"x": np.arange(3), "y": np.arange(6)})
    rows = [{"x": i, "y": j, "v": float(grid[i, j])}
            for i in range(3) for j in range(6)]
    ours = XDataset(spark.createDataFrame(pd.DataFrame(rows)),
                    dims=["x", "y"])
    x0 = int(rng.randint(0, 3))
    s, r = ours.sel(x=x0), ref.sel(x=x0)
    np.testing.assert_allclose(
        s.mean("y").df.collect()[0]["v"], float(r["v"].mean("y")))
    got = (s.cumsum("y").to_pandas().sort_values("y")["v"].to_numpy())
    np.testing.assert_allclose(got, r["v"].cumsum("y").values)
    got_r = (s.rolling(y=3, min_periods=1).mean()
             .to_pandas().sort_values("y")["v"].to_numpy())
    np.testing.assert_allclose(
        got_r, r["v"].rolling(y=3, min_periods=1).mean().values)


@needs_xr
def test_keep_attrs_quantile_and_args_match_reference(spark):
    ref = xr.Dataset({"v": ("t", [1.0, 5.0, 2.0])},
                     coords={"t": [0, 1, 2]}, attrs={"a": 1})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1, 2], "v": [1.0, 5.0, 2.0]})),
        dims=["t"], attrs={"a": 1})
    assert (ours.quantile(0.5, keep_attrs=False).attrs
            == ref.quantile(0.5, keep_attrs=False).attrs == {})
    assert (ours.quantile(0.5).attrs == ref.quantile(0.5).attrs
            == {"a": 1})
    assert ours.argmax("t", keep_attrs=False).attrs == {}
    assert ours.interpolate_na("t", keep_attrs=False).attrs == {}
    # numpy-style axis alternative
    got = ours.argmax(axis=0).df.collect()[0]["v"]
    assert got == int(ref["v"].argmax())
    with pytest.raises(ValueError):
        ours.argmax("t", axis=0)


@needs_xr
def test_to_dataset_dim_pivot_matches_reference(spark):
    ref = xr.Dataset({"u": ("t", [1.0, 2.0]), "w": ("t", [3.0, 4.0])},
                     coords={"t": [0, 1]})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "u": [1.0, 2.0], "w": [3.0, 4.0]})),
        dims=["t"])
    rda = ref.to_dataarray(dim="var")
    oda = ours.to_dataarray(dim="var")
    back_r = rda.to_dataset(dim="var")
    back_o = oda.to_dataset(dim="var")
    assert sorted(back_o.data_vars) == sorted(back_r.data_vars)
    got = back_o.to_pandas().sort_values("t")
    np.testing.assert_allclose(got["u"].to_numpy(), back_r["u"].values)
    with pytest.raises(TypeError):
        oda.to_dataset(dim="var", name="x")
