"""Differential wave 28: NaN fuzzing over interp/where/clip
compositions, the merge-compat corner grid, and CF coder matrix round
3 — all against the reference xarray imported from /root/reference
(behavior comparison, not code reuse; every engine path is a Spark
plan the reference cannot express)."""

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

N = 48


def _mk(spark, seed, nan_frac=0.2):
    rng = np.random.RandomState(seed)
    vals = rng.randn(N).round(6)
    nan_ix = rng.choice(N, max(1, int(N * nan_frac)), replace=False)
    vals[nan_ix] = np.nan
    ref = xr.DataArray(vals, dims="t", coords={"t": np.arange(N)})
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": vals})), dims=["t"])
    return rng, vals, ref, ours


def _vals(ds):
    return ds.to_pandas().sort_values("t")["v"].to_numpy()


# ------------------------------------------------------------------ #
# A. NaN fuzz: interp / where / clip compositions
# ------------------------------------------------------------------ #

@needs_xr
@pytest.mark.parametrize("seed", [11, 23, 57, 91])
def test_fuzz_where_then_clip(spark, seed):
    rng, vals, ref, ours = _mk(spark, seed)
    thr = float(rng.randn() * 0.3)
    lo, hi = sorted(rng.randn(2).round(3))
    exp = ref.where(ref > thr, -5.0).clip(min=lo, max=hi).values
    got = _vals(ours.where(ours["v"] > thr, -5.0).clip(min=lo, max=hi))
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [3, 40, 77])
def test_fuzz_clip_then_where(spark, seed):
    rng, vals, ref, ours = _mk(spark, seed)
    lo, hi = sorted(rng.randn(2).round(3))
    rc = ref.clip(min=lo, max=hi)
    exp = rc.where(rc < hi).values
    oc = ours.clip(min=lo, max=hi)
    got = _vals(oc.where(oc["v"] < hi))
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [5, 31, 66])
def test_fuzz_where_other_nan(spark, seed):
    """NaN as the where `other`: masked slots become NaN, NaN data rows
    keep NaN, and a NaN in the CONDITION column masks (IEEE compare is
    False)."""
    rng, vals, ref, ours = _mk(spark, seed)
    exp = ref.where(ref > 0, np.nan).values
    got = _vals(ours.where(ours["v"] > 0, float("nan")))
    np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [9, 48])
def test_fuzz_clip_nan_bound(spark, seed):
    """A NaN bound: np.clip propagates NaN from the bound arrays."""
    rng, vals, ref, ours = _mk(spark, seed)
    lo = rng.randn(N).round(3)
    lo[rng.choice(N, 5, replace=False)] = np.nan
    refc = xr.Dataset({"v": ("t", vals), "lo": ("t", lo)},
                      coords={"t": np.arange(N)})
    sc = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": vals, "lo": lo})),
        dims=["t"])
    exp = refc["v"].clip(min=refc["lo"]).values
    got = (sc.clip(min=sc["lo"]).to_pandas().sort_values("t")["v"]
           .to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


def _linear_nan_interp(labels, vals, targets):
    """scipy interp1d semantics with NaN poisoning: a NaN endpoint of
    the bracketing source pair (or a NaN exact hit) poisons the
    target; outside the label range -> NaN."""
    out = []
    for x in targets:
        if x < labels[0] or x > labels[-1]:
            out.append(np.nan)
            continue
        j = np.searchsorted(labels, x)
        if labels[min(j, len(labels) - 1)] == x:
            out.append(vals[j])
            continue
        x0, x1 = labels[j - 1], labels[j]
        y0, y1 = vals[j - 1], vals[j]
        out.append(y0 + (y1 - y0) * (x - x0) / (x1 - x0))
    return np.array(out)


@pytest.mark.parametrize("seed", [2, 19, 44, 83])
def test_fuzz_interp_nan_brackets(spark, seed):
    """Random NaN holes in the source + random targets (mix of exact
    hits and gaps): the engine must poison exactly the targets whose
    bracket touches a NaN."""
    rng = np.random.RandomState(seed)
    labels = np.sort(rng.choice(np.arange(0, 200), 40,
                                replace=False)).astype(float)
    vals = rng.randn(40).round(6)
    vals[rng.choice(40, 6, replace=False)] = np.nan
    targets = sorted({
        *(float(labels[i]) for i in rng.choice(40, 4, replace=False)),
        *(float(x) for x in np.round(
            rng.uniform(labels[0], labels[-1], 8), 3))})
    exp = _linear_nan_interp(labels, vals, targets)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": labels, "v": vals})), dims=["t"])
    got_pd = ds.interp(t=targets).to_pandas().set_index("t")
    got = got_pd.loc[targets]["v"].to_numpy()
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@pytest.mark.parametrize("seed", [7, 29])
def test_fuzz_interp_after_where(spark, seed):
    """Composition: where() carves NaN holes, interp targets must see
    them as poison brackets (the mask actually reaches the interp)."""
    rng = np.random.RandomState(seed)
    labels = np.arange(0, 80, 2).astype(float)
    vals = rng.randn(40).round(6)
    thr = -0.2
    masked = np.where(vals > thr, vals, np.nan)
    targets = [float(x) for x in np.round(rng.uniform(1, 77, 10), 3)]
    exp = _linear_nan_interp(labels, masked, targets)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": labels, "v": vals})), dims=["t"])
    got_pd = (ds.where(ds["v"] > thr).interp(t=targets)
              .to_pandas().set_index("t"))
    got = got_pd.loc[targets]["v"].to_numpy()
    np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


@needs_xr
@pytest.mark.parametrize("seed", [13, 37])
def test_fuzz_isin_where_fillna(spark, seed):
    rng, vals, ref, ours = _mk(spark, seed)
    picks = [round(float(v), 6) for v in
             rng.choice(vals[~np.isnan(vals)], 5, replace=False)]
    exp = ref.where(ref.isin(picks), 0.0).fillna(-1.0).values
    got = _vals(ours.where(ours["v"].isin(picks), 0.0).fillna(-1.0))
    np.testing.assert_allclose(got, exp, equal_nan=True)


# ------------------------------------------------------------------ #
# B. merge-compat corner grid
# ------------------------------------------------------------------ #

def _merge_pair(spark, scenario):
    x = np.arange(4)
    a_vals = np.array([1.0, 2.0, 3.0, 4.0])
    if scenario == "identical":
        b_vals = a_vals.copy()
    elif scenario == "conflict":
        b_vals = np.array([1.0, 2.0, 99.0, 4.0])
    elif scenario == "nan_fill":
        b_vals = a_vals.copy()
        b_vals[2] = np.nan
    else:  # disjoint variable names
        b_vals = None
    ra = xr.Dataset({"u": ("x", a_vals)}, coords={"x": x})
    sa = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": x, "u": a_vals})), dims=["x"])
    if b_vals is None:
        rb = xr.Dataset({"w": ("x", a_vals * 2)}, coords={"x": x})
        sb = XDataset(spark.createDataFrame(
            pd.DataFrame({"x": x, "w": a_vals * 2})), dims=["x"])
    else:
        rb = xr.Dataset({"u": ("x", b_vals)}, coords={"x": x})
        sb = XDataset(spark.createDataFrame(
            pd.DataFrame({"x": x, "u": b_vals})), dims=["x"])
    return ra, rb, sa, sb


@needs_xr
@pytest.mark.parametrize("compat", ["broadcast_equals", "equals",
                                    "identical", "no_conflicts",
                                    "override"])
@pytest.mark.parametrize("scenario", ["identical", "conflict",
                                      "nan_fill", "disjoint"])
def test_merge_compat_grid_matches_reference(spark, compat, scenario):
    """Full compat x conflict-shape grid: both engines must agree on
    RAISE vs result, and on values when both succeed."""
    from xarray_spark import merge as xs_merge
    ra, rb, sa, sb = _merge_pair(spark, scenario)
    try:
        exp = xr.merge([ra, rb], compat=compat)
    except Exception:
        exp = None
    try:
        got = xs_merge([sa, sb], compat=compat)
        gdf = got.to_pandas().sort_values("x")
    except Exception:
        gdf = None
    if exp is None:
        assert gdf is None, f"reference raised, engine did not ({compat}/{scenario})"
        return
    assert gdf is not None, f"engine raised, reference did not ({compat}/{scenario})"
    for v in exp.data_vars:
        np.testing.assert_allclose(gdf[v].to_numpy(), exp[v].values,
                                   equal_nan=True,
                                   err_msg=f"{compat}/{scenario}/{v}")


@needs_xr
@pytest.mark.parametrize("join", ["outer", "inner", "left", "right"])
def test_merge_join_grid_matches_reference(spark, join):
    from xarray_spark import merge as xs_merge
    xa = np.arange(4)
    xb = np.arange(2, 6)
    ra = xr.Dataset({"u": ("x", np.arange(4.0))}, coords={"x": xa})
    rb = xr.Dataset({"w": ("x", np.arange(4.0) * 10)}, coords={"x": xb})
    exp = xr.merge([ra, rb], join=join)
    sa = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": xa, "u": np.arange(4.0)})), dims=["x"])
    sb = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": xb, "w": np.arange(4.0) * 10})), dims=["x"])
    got = xs_merge([sa, sb], join=join).to_pandas().sort_values("x")
    np.testing.assert_array_equal(got["x"].to_numpy(), exp["x"].values)
    for v in ("u", "w"):
        np.testing.assert_allclose(got[v].to_numpy(), exp[v].values,
                                   equal_nan=True, err_msg=f"{join}/{v}")


@needs_xr
def test_merge_three_way_matches_reference(spark):
    """Three datasets, mixed overlap — the associativity shape."""
    from xarray_spark import merge as xs_merge
    x = np.arange(5)
    sets_r, sets_s = [], []
    for name, mult in (("a", 1.0), ("b", 2.0), ("c", 3.0)):
        v = np.arange(5.0) * mult
        sets_r.append(xr.Dataset({name: ("x", v)}, coords={"x": x}))
        sets_s.append(XDataset(spark.createDataFrame(
            pd.DataFrame({"x": x, name: v})), dims=["x"]))
    exp = xr.merge(sets_r)
    got = xs_merge(sets_s).to_pandas().sort_values("x")
    for v in ("a", "b", "c"):
        np.testing.assert_allclose(got[v].to_numpy(), exp[v].values)


# ------------------------------------------------------------------ #
# C. CF coder matrix round 3 (encode by reference -> decode by engine)
# ------------------------------------------------------------------ #

def _ref_encode(raw, attrs, dtype):
    """Encode through the REFERENCE's own CF coders; return the packed
    ints and the reference's decode of them (ground truth)."""
    import xarray.conventions as conv
    da = xr.DataArray(np.asarray(raw, dtype=dtype), dims="i", name="v")
    ref_ds = da.to_dataset()
    ref_ds["v"].encoding.update(attrs)
    enc_var = conv.encode_cf_variable(ref_ds["v"].variable)
    packed = np.asarray(enc_var.values)
    decoded = np.asarray(conv.decode_cf_variable("v", enc_var).values)
    return packed, decoded


def _spark_decode(spark, packed, spec, sparktype):
    from xarray_spark.io import decode_cf
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(packed)), "v": packed}))
    df = df.withColumn("v", df["v"].cast(sparktype))
    out = (decode_cf(df, {"v": spec}).toPandas()
           .sort_values("i")["v"].to_numpy())
    return np.asarray([np.nan if x is None else float(x) for x in out])


@needs_xr
@pytest.mark.parametrize("enc,spec,st", [
    ({"scale_factor": 0.001, "_FillValue": -32768, "dtype": "int16"},
     {"fill_value": -32768, "scale_factor": 0.001}, "smallint"),
    ({"add_offset": 273.15, "_FillValue": -9999, "dtype": "int32"},
     {"fill_value": -9999, "add_offset": 273.15}, "int"),
    ({"scale_factor": 0.25, "add_offset": -2.0, "_FillValue": 255,
      "dtype": "int16"},
     {"fill_value": 255, "scale_factor": 0.25, "add_offset": -2.0},
     "smallint"),
])
def test_coder_pack_roundtrip_matches_reference(spark, enc, spec, st):
    raw = np.array([0.0, 1.5, np.nan, -1.25, 20.0])
    packed, decoded = _ref_encode(raw, enc, "float64")
    got = _spark_decode(spark, packed, spec, st)
    np.testing.assert_allclose(got, np.asarray(decoded, dtype=float),
                               rtol=1e-6, equal_nan=True)


@needs_xr
def test_coder_bool_matches_reference(spark):
    raw = np.array([True, False, True, True])
    packed, decoded = _ref_encode(raw, {"dtype": "int8"}, "bool")
    got = _spark_decode(spark, packed.astype("int8"), {"dtype": "bool"},
                        "tinyint")
    np.testing.assert_array_equal(got.astype(bool), decoded.astype(bool))


@needs_xr
@pytest.mark.parametrize("units", [
    # ("weeks since …" is an engine udunits extension the REFERENCE
    # decoder rejects — covered by the engine-side cftime tests)
    "days since 1900-01-01",
    "minutes since 1980-06-15 12:00:00",
    "hours since 2020-02-28",
])
def test_coder_time_units_matches_reference(spark, units):
    from xarray_spark.io import decode_cf
    raw = [0, 1, 7, 53]
    exp = xr.decode_cf(xr.Dataset(
        {"t": ("i", np.array(raw, "int32"), {"units": units})}
    ))["t"].values.astype("datetime64[us]")
    df = spark.createDataFrame(pd.DataFrame({"i": range(4), "v": raw}))
    out = (decode_cf(df, {"v": {"time_units": units}}).toPandas()
           .sort_values("i")["v"].to_numpy())
    got = np.array([np.datetime64(pd.Timestamp(x), "us") for x in out])
    np.testing.assert_array_equal(got, exp)


@needs_xr
def test_coder_unsigned_16_matches_reference(spark):
    """_Unsigned='true' int16 container holding u16 values > 32767."""
    packed = np.array([-1, -32768, 100, 0], dtype="int16")
    exp = xr.decode_cf(xr.Dataset(
        {"v": ("i", packed, {"_Unsigned": "true"})}))["v"].values
    got = _spark_decode(spark, packed, {"unsigned": True}, "smallint")
    np.testing.assert_allclose(got, np.asarray(exp, dtype=float))


# ------------------------------------------------------------------ #
# D. round-6 fix guards (advisor items + quantile scan cache), each
#    value-checked against the reference
# ------------------------------------------------------------------ #

@needs_xr
def test_rename_swap_matches_reference(spark):
    ref = xr.Dataset({"a": ("x", np.arange(3.0)),
                      "b": ("x", np.arange(3.0) * 10)},
                     coords={"x": np.arange(3)})
    exp = ref.rename({"a": "b", "b": "a"})
    ours = XDataset(spark.createDataFrame(pd.DataFrame(
        {"x": np.arange(3), "a": np.arange(3.0),
         "b": np.arange(3.0) * 10})), dims=["x"])
    got = ours.rename({"a": "b", "b": "a"}).to_pandas().sort_values("x")
    np.testing.assert_allclose(got["a"].to_numpy(), exp["a"].values)
    np.testing.assert_allclose(got["b"].to_numpy(), exp["b"].values)


@needs_xr
def test_division_nan_null_zero_matches_reference(spark):
    """x/y over the {normal, 0, NaN/missing} × {normal, 0} grid — the
    advisor's NULL-dividend-over-zero-divisor case included."""
    a = np.array([1.0, -2.0, 0.0, np.nan, 5.0, np.nan])
    b = np.array([2.0, 0.0, 0.0, 0.0, np.nan, np.nan])
    ra = xr.DataArray(a, dims="t")
    rb = xr.DataArray(b, dims="t")
    exp = (ra / rb).values
    pdf = pd.DataFrame({"t": np.arange(6), "u": a})
    pdf2 = pd.DataFrame({"t": np.arange(6), "u": b})
    da = XDataset(spark.createDataFrame(pdf), dims=["t"])
    db = XDataset(spark.createDataFrame(pdf2), dims=["t"])
    got = ((da / db).to_pandas().sort_values("t")["u"].to_numpy())
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_mod_inf_and_huge_matches_numpy(spark):
    a = np.array([np.inf, -np.inf, 1e300, 7.5, -7.5])
    b = np.array([2.0, 3.0, 1.0, 2.0, 2.0])
    exp = np.mod(a, b)
    da = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(5), "u": a})), dims=["t"])
    db = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(5), "u": b})), dims=["t"])
    got = (da % db).to_pandas().sort_values("t")["u"].to_numpy()
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_trunc_floor_ceil_inf_huge_matches_numpy(spark):
    from xarray_spark import ufuncs as xu
    vals = np.array([np.inf, -np.inf, np.nan, 2.0 ** 63, -1e300, 2.5,
                     -2.5])
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(7), "v": vals})), dims=["t"])
    for fn, npfn in ((xu.trunc, np.trunc), (xu.floor, np.floor),
                     (xu.ceil, np.ceil)):
        got = (fn(ds["v"]).to_pandas().sort_values("t")["v"].to_numpy())
        np.testing.assert_array_equal(got, npfn(vals))


@needs_xr
def test_quantile_repeat_methods_match_reference(spark):
    """The round-6 per-instance scan cache: repeated quantile() calls
    with different methods on ONE instance must each match the
    reference (the q74 shape — shared stats/histogram/candidates)."""
    rng = np.random.RandomState(55)
    vals = rng.randn(500).round(6)
    ref = xr.DataArray(vals, dims="t")
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(500), "v": vals})), dims=["t"])
    for method in ("midpoint", "lower", "higher", "nearest", "linear"):
        exp = ref.quantile([0.25, 0.5, 0.9], method=method).values
        got = (ds.quantile([0.25, 0.5, 0.9], method=method).to_pandas()
               .sort_values("quantile")["v"].to_numpy())
        np.testing.assert_allclose(got, exp, rtol=1e-9,
                                   err_msg=method)


def test_quantile_cache_not_shared_across_transforms(spark):
    """A transformed instance must NOT reuse the parent's cached scans
    — the filtered quantile differs from the parent's."""
    rng = np.random.RandomState(8)
    vals = rng.randn(300).round(6)
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(300), "v": vals})), dims=["t"])
    full = ds.quantile([0.5]).to_pandas()["v"].iloc[0]
    sub = ds.where(ds["v"] > 0, drop=True)
    got = sub.quantile([0.5]).to_pandas()["v"].iloc[0]
    exp = np.quantile(vals[vals > 0], 0.5)
    np.testing.assert_allclose(got, exp, rtol=1e-9)
    assert got != full


@needs_xr
def test_median_then_quantile_share_instance_matches_reference(spark):
    rng = np.random.RandomState(21)
    vals = rng.randn(400).round(6)
    vals[rng.choice(400, 30, replace=False)] = np.nan
    ref = xr.DataArray(vals, dims="t")
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(400), "v": vals})), dims=["t"])
    got_med = ds.median("t").to_pandas()["v"].iloc[0]
    np.testing.assert_allclose(got_med, ref.median().values, rtol=1e-9)
    got_q = (ds.quantile([0.1, 0.9]).to_pandas()
             .sort_values("quantile")["v"].to_numpy())
    np.testing.assert_allclose(got_q, ref.quantile([0.1, 0.9]).values,
                               rtol=1e-9)


@needs_xr
def test_fillna_dataset_matches_reference(spark):
    """Dataset-valued fillna keeps self's labels, fills only gaps —
    float + (engine extension) int dtype preservation."""
    a = np.array([1.0, np.nan, 3.0, np.nan])
    f = np.array([10.0, 20.0, 30.0, 40.0])
    ref = xr.Dataset({"v": ("x", a)}, coords={"x": np.arange(4)}).fillna(
        xr.Dataset({"v": ("x", f)}, coords={"x": np.arange(4)}))
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": np.arange(4), "v": a})), dims=["x"]).fillna(
        XDataset(spark.createDataFrame(
            pd.DataFrame({"x": np.arange(4), "v": f})), dims=["x"]))
    got = ours.to_pandas().sort_values("x")["v"].to_numpy()
    np.testing.assert_allclose(got, ref["v"].values)


def test_interp_nearest_nan_hit_matches_semantics(spark):
    """method='nearest' with a NaN source at the nearest label → NaN
    (scipy kind='nearest' picks the value as-is)."""
    labels = np.array([0.0, 10.0, 20.0, 30.0])
    vals = np.array([1.0, np.nan, 3.0, 4.0])
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": labels, "v": vals})), dims=["t"])
    got_pd = (ds.interp(t=[2.0, 9.0, 24.0], method="nearest")
              .to_pandas().set_index("t"))
    got = got_pd.loc[[2.0, 9.0, 24.0]]["v"].to_numpy()
    np.testing.assert_allclose(got, [1.0, np.nan, 3.0], equal_nan=True)


@needs_xr
def test_where_drop_fuzz_matches_reference(spark):
    rng = np.random.RandomState(31)
    vals = rng.randn(N).round(6)
    vals[rng.choice(N, 8, replace=False)] = np.nan
    ref = xr.DataArray(vals, dims="t")
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(N), "v": vals})), dims=["t"])
    for thr in (-0.5, 0.0, 0.7):
        exp = np.sort(ref.where(ref > thr, drop=True).values)
        got = np.sort(
            ds.where(ds["v"] > thr, drop=True).to_pandas()["v"]
            .to_numpy())
        np.testing.assert_allclose(got, exp, equal_nan=True)


@needs_xr
def test_coder_scale_only_float32_matches_reference(spark):
    raw = np.array([0.5, 1.25, np.nan, -3.75], dtype="float64")
    packed, decoded = _ref_encode(
        raw, {"scale_factor": np.float32(0.25), "_FillValue": -999,
              "dtype": "int16"}, "float64")
    got = _spark_decode(spark, packed,
                        {"fill_value": -999,
                         "scale_factor": float(np.float32(0.25))},
                        "smallint")
    np.testing.assert_allclose(got, np.asarray(decoded, dtype=float),
                               rtol=1e-6, equal_nan=True)


# ------------------------------------------------------------------ #
# E. custom index strategy hook (set_xindex(index_cls=...)) — the same
#    custom index implemented on BOTH engines
# ------------------------------------------------------------------ #

@needs_xr
def test_custom_index_both_sides_matches_reference(spark):
    """A FloorIndex — sel(x=v) resolves to the row labelled floor(v) —
    implemented as a reference xarray.Index subclass AND as an engine
    XIndex strategy; both selections must agree."""
    from xarray.core.indexes import Index as RefIndex, PandasIndex
    from xarray.core.indexing import IndexSelResult
    from xarray_spark import XIndex

    class RefFloorIndex(RefIndex):
        def __init__(self, labels, dim):
            self.labels = np.asarray(labels)
            self.dim = dim

        @classmethod
        def from_variables(cls, variables, *, options):
            (name, var), = variables.items()
            return cls(var.values, var.dims[0])

        def sel(self, labels, **kw):
            (name, value), = labels.items()
            tgt = float(np.floor(value))
            pos = int(np.where(self.labels == tgt)[0][0])
            return IndexSelResult({self.dim: pos})

    class EngineFloorIndex(XIndex):
        def sel(self, ds, labels, method=None, tolerance=None):
            from pyspark.sql import functions as F
            (name, value), = labels.items()
            return ds._replace(
                df=ds.df.where(F.col(name) == float(np.floor(value))))

    labels = np.arange(8.0)
    vals = labels * 11
    ref = xr.Dataset({"v": ("t", vals)},
                     coords={"t": np.arange(8), "x": ("t", labels)})
    ref = ref.set_xindex("x", RefFloorIndex)
    ours = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(8), "x": labels, "v": vals})),
        dims=["t"], coords={"x": ("t",)})
    ours = ours.set_xindex("x", EngineFloorIndex)
    for req in (3.7, 5.0, 0.2):
        exp = float(ref.sel(x=req)["v"].values)
        got_df = ours.sel(x=req).to_pandas()
        assert len(got_df) == 1
        assert float(got_df["v"].iloc[0]) == exp, req


def test_predicate_index_strategy_matches_default(spark):
    """The built-in PredicateIndex strategy must reproduce the default
    sel path exactly (scalar, list, slice)."""
    from xarray_spark import PredicateIndex
    vals = np.arange(20.0)
    base = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(20), "v": vals})), dims=["t"])
    reg = base.set_xindex("t", PredicateIndex)
    # scalar sel squeezes the dim away on both paths
    exp = base.sel(t=7).to_pandas()["v"].tolist()
    got = reg.sel(t=7).to_pandas()["v"].tolist()
    assert got == exp
    for req in ([2, 5, 11], slice(4, 9)):
        exp = base.sel(t=req).to_pandas().sort_values("t")
        got = reg.sel(t=req).to_pandas().sort_values("t")
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), exp.reset_index(drop=True))


def test_ndpoint_index_strategy_matches_direct(spark):
    """NDPointIndex through the hook == sel_points_nearest direct."""
    from xarray_spark import NDPointIndex, sel_points_nearest
    rng = np.random.RandomState(5)
    xs, ys = rng.uniform(0, 10, 50), rng.uniform(0, 10, 50)
    pdf = pd.DataFrame({"i": np.arange(50), "cx": xs, "cy": ys,
                        "v": rng.randn(50).round(6)})
    base = XDataset(spark.createDataFrame(pdf), dims=["i"],
                    coords={"cx": ("i",), "cy": ("i",)})
    reg = base.set_xindex(["cx", "cy"], NDPointIndex)
    q = {"cx": [1.0, 8.0, 5.5], "cy": [2.0, 3.0, 9.0]}
    exp = (sel_points_nearest(base, q).to_pandas()
           .sort_values("points")["v"].to_numpy())
    got = (reg.sel(cx=q["cx"], cy=q["cy"]).to_pandas()
           .sort_values("points")["v"].to_numpy())
    np.testing.assert_allclose(got, exp)


def test_set_xindex_rejects_non_strategy(spark):
    base = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "v": [1.0, 2.0]})), dims=["t"])
    with pytest.raises(TypeError):
        base.set_xindex("t", dict)
