"""Round-12 pins: the concat parameter matrix (reference
structure/concat.py:371 _calc_concat_over, :605 _dataset_concat) —
every behavior probe-confirmed against the live reference before
implementation — plus the round-11 ADVICE fixes (footer-stats tz gate,
min/max cache key staleness, season-trim broadcast bounds)."""

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
from pyspark.sql import functions as F  # noqa: E402

from xarray_spark import XDataset  # noqa: E402
from xarray_spark.combine import concat  # noqa: E402
from xarray_spark.errors import MergeError  # noqa: E402

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")

warnings.filterwarnings("ignore")


def _chk(eng, ref, var):
    """Engine var (values + own dims) against the reference's."""
    g = eng.to_pandas()
    rv = ref[var]
    vd = (eng.var_dims.get(var, eng.dims) if var in eng.data_vars
          else eng.coords.get(var, eng.dims))
    assert set(vd) == set(rv.dims), f"{var}: dims {vd} vs {rv.dims}"
    if vd:
        sub = (g[list(vd) + [var]].drop_duplicates(subset=list(vd))
               .sort_values(list(vd)))
        got = sub[var].to_numpy()
        exp = rv.transpose(*vd).values.ravel()
    else:
        got = g[[var]].head(1)[var].to_numpy()
        exp = np.array([rv.values])
    np.testing.assert_allclose(got.astype(float), exp.astype(float),
                               equal_nan=True, err_msg=var)


def _pair(spark, xvals, vvals, u, w=(7.0, 8.0)):
    e = XDataset({"v": (("x",), list(vvals)), "u": ((), u),
                  "w": (("y",), list(w))},
                 coords={"x": list(xvals), "y": [10, 20]})
    r = xr.Dataset({"v": (("x",), list(vvals)), "u": ((), u),
                    "w": (("y",), list(w))},
                   coords={"x": list(xvals), "y": [10, 20]})
    return e, r


@needs_xr
def test_concat_data_vars_all_tiles_dimless_vars(spark):
    """data_vars='all' (the reference's current default): a var lacking
    the concat dim is TILED over each input's slices."""
    ea, ra = _pair(spark, [0, 1], [1.0, 2.0], 5.0)
    eb, rb = _pair(spark, [2, 3], [3.0, 4.0], 6.0)
    e = concat([ea, eb], dim="x")
    r = xr.concat([ra, rb], dim="x")
    for v in ("v", "u", "w"):
        _chk(e, r, v)


@needs_xr
def test_concat_data_vars_minimal_and_equals_conflict(spark):
    ea, ra = _pair(spark, [0, 1], [1.0, 2.0], 5.0)
    eb, rb = _pair(spark, [2, 3], [3.0, 4.0], 6.0)
    e = concat([ea, eb], dim="x", data_vars="minimal", coords="minimal",
               compat="override")
    r = xr.concat([ra, rb], dim="x", data_vars="minimal",
                  coords="minimal", compat="override")
    for v in ("v", "u", "w"):
        _chk(e, r, v)
    # compat='equals' (default): the scalar u differs -> MergeError,
    # reference message shape
    with pytest.raises(MergeError, match="conflicting values for variable"):
        concat([ea, eb], dim="x", data_vars="minimal", coords="minimal")


@needs_xr
def test_concat_data_vars_different(spark):
    """'different': unequal vars concatenate (tiled), equal vars merge
    and keep their own dims."""
    ea, ra = _pair(spark, [0, 1], [1.0, 2.0], 5.0)
    eb, rb = _pair(spark, [2, 3], [3.0, 4.0], 6.0)
    e = concat([ea, eb], dim="x", data_vars="different", coords="minimal")
    r = xr.concat([ra, rb], dim="x", data_vars="different",
                  coords="minimal")
    for v in ("v", "u", "w"):
        _chk(e, r, v)
    assert e.var_dims["u"] == ("x",)       # unequal -> concatenated
    assert e.var_dims["w"] == ("y",)       # equal -> merged


@needs_xr
def test_concat_data_vars_list(spark):
    ea, ra = _pair(spark, [0, 1], [1.0, 2.0], 5.0)
    eb, rb = _pair(spark, [2, 3], [3.0, 4.0], 5.0)
    e = concat([ea, eb], dim="x", data_vars=["w"], coords="minimal",
               compat="override")
    r = xr.concat([ra, rb], dim="x", data_vars=["w"], coords="minimal",
                  compat="override")
    for v in ("v", "u", "w"):
        _chk(e, r, v)
    with pytest.raises(ValueError, match="not found in the data variables"):
        concat([ea, eb], dim="x", data_vars=["nope"], coords="minimal",
               compat="override")


@needs_xr
def test_concat_coords_modes(spark):
    def mk(xvals, vvals, cvals, s):
        e = XDataset({"v": (("x",), vvals)},
                     coords={"x": xvals, "y": [10, 20],
                             "c": ("x", cvals), "s": ((), s),
                             "yc": ("y", [0.5, 0.6])})
        # engine ctor: y only appears via coords -> include a y-var
        e = XDataset({"v": (("x",), vvals), "w": (("y",), [7.0, 8.0])},
                     coords={"x": xvals, "y": [10, 20],
                             "c": ("x", cvals), "s": ((), s),
                             "yc": ("y", [0.5, 0.6])})
        r = xr.Dataset({"v": (("x",), vvals), "w": (("y",), [7.0, 8.0])},
                       coords={"x": xvals, "y": [10, 20],
                               "c": ("x", cvals), "s": ((), s),
                               "yc": ("y", [0.5, 0.6])})
        return e, r

    ea, ra = mk([0, 1], [1.0, 2.0], [100.0, 101.0], 1.0)
    eb, rb = mk([2, 3], [3.0, 4.0], [102.0, 103.0], 1.0)
    # default coords='different': s and yc equal -> merged; c has x -> concatenated
    e = concat([ea, eb], dim="x")
    r = xr.concat([ra, rb], dim="x")
    assert e.coords["s"] == () and e.coords["yc"] == ("y",)
    assert e.coords["c"] == ("x",)
    for v in ("s", "yc", "c"):
        _chk(e, r, v)
    # s differs -> coords='different' concatenates it (tiled)
    eb2, rb2 = mk([2, 3], [3.0, 4.0], [102.0, 103.0], 2.0)
    e = concat([ea, eb2], dim="x")
    r = xr.concat([ra, rb2], dim="x")
    assert e.coords["s"] == ("x",)
    _chk(e, r, "s")
    # coords='all': every non-dim coord gains x
    e = concat([ea, eb], dim="x", coords="all")
    r = xr.concat([ra, rb], dim="x", coords="all")
    assert e.coords["s"] == ("x",) and e.coords["yc"] == ("x", "y")
    for v in ("s", "yc"):
        _chk(e, r, v)
    # coords=list: listed in addition to minimal
    e = concat([ea, eb], dim="x", coords=["yc"], compat="override")
    r = xr.concat([ra, rb], dim="x", coords=["yc"], compat="override")
    assert e.coords["yc"] == ("x", "y") and e.coords["s"] == ()
    _chk(e, r, "yc")


@needs_xr
def test_concat_new_dim_matrix(spark):
    def mk(vvals, u):
        e = XDataset({"v": (("x",), vvals), "u": ((), u)},
                     coords={"x": [0, 1]})
        r = xr.Dataset({"v": (("x",), vvals), "u": ((), u)},
                       coords={"x": [0, 1]})
        return e, r

    ea, ra = mk([1.0, 2.0], 5.0)
    eb, rb = mk([3.0, 4.0], 5.0)
    e = concat([ea, eb], dim="e")
    r = xr.concat([ra, rb], dim="e")
    for v in ("v", "u"):
        _chk(e, r, v)
    # 'different' with equal u: u stays dimless on the new-dim path too
    e = concat([ea, eb], dim="e", data_vars="different", coords="minimal")
    r = xr.concat([ra, rb], dim="e", data_vars="different",
                  coords="minimal")
    _chk(e, r, "u")
    assert e.var_dims["u"] == ()
    # minimal+minimal on a new dim is invalid (reference ValueError)
    with pytest.raises(ValueError, match="new dimension"):
        concat([ea, eb], dim="e", data_vars="minimal", coords="minimal")
    # different+override is invalid
    with pytest.raises(ValueError, match="compat='override'"):
        concat([ea, eb], dim="e", data_vars="different", compat="override")


@needs_xr
def test_concat_positions_new_dim(spark):
    ea = XDataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    eb = XDataset({"v": (("x",), [3.0, 4.0])}, coords={"x": [0, 1]})
    ra = xr.Dataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    rb = xr.Dataset({"v": (("x",), [3.0, 4.0])}, coords={"x": [0, 1]})
    e = concat([ea, eb], dim="e", positions=[[1], [0]])
    r = xr.concat([ra, rb], dim="e", positions=[[1], [0]])
    g = (e.to_pandas().sort_values(["e", "x"])["v"]
         .to_numpy().reshape(2, 2))
    np.testing.assert_allclose(g, r["v"].values)
    with pytest.raises(ValueError, match="permutation"):
        concat([ea, eb], dim="e", positions=[[0], [2]])
    with pytest.raises(ValueError, match="one entry per object"):
        concat([ea, eb], dim="e", positions=[[0]])


@needs_xr
def test_concat_scalar_coord_promote(spark):
    """Concat along a scalar coordinate: the reference expand_dims
    route — the engine promotes the existing constant column."""
    sa = XDataset({"v": (("t",), [1.0, 2.0])},
                  coords={"t": [0, 1], "p": 100.0})
    sb = XDataset({"v": (("t",), [3.0, 4.0])},
                  coords={"t": [0, 1], "p": 200.0})
    rsa = xr.Dataset({"v": (("t",), [1.0, 2.0])},
                     coords={"t": [0, 1], "p": 100.0})
    rsb = xr.Dataset({"v": (("t",), [3.0, 4.0])},
                     coords={"t": [0, 1], "p": 200.0})
    e = concat([sa, sb], dim="p")
    r = xr.concat([rsa, rsb], dim="p")
    assert e.dims == ("p", "t")
    _chk(e, r, "v")
    # labels are the promoted coordinate's values, not positions
    assert sorted(set(e.to_pandas()["p"])) == [100.0, 200.0]


@needs_xr
def test_concat_missing_var_fill_matrix(spark):
    a = XDataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    b = XDataset({"v": (("x",), [3.0, 4.0]), "z": (("x",), [9.0, 9.0])},
                 coords={"x": [2, 3]})
    ra = xr.Dataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    rb = xr.Dataset({"v": (("x",), [3.0, 4.0]),
                     "z": (("x",), [9.0, 9.0])}, coords={"x": [2, 3]})
    for fv, rfv in ((None, xr.core.dtypes.NA), (-1, -1),
                    ({"z": -7}, {"z": -7})):
        e = concat([a, b], dim="x", fill_value=fv)
        r = xr.concat([ra, rb], dim="x", fill_value=rfv)
        _chk(e, r, "z")


@needs_xr
def test_concat_join_matrix(spark):
    ja = XDataset({"v": (("x", "y"), [[1.0, 2.0]])},
                  coords={"x": [0], "y": [10, 20]})
    jb = XDataset({"v": (("x", "y"), [[3.0, 4.0]])},
                  coords={"x": [1], "y": [20, 30]})
    rja = xr.Dataset({"v": (("x", "y"), [[1.0, 2.0]])},
                     coords={"x": [0], "y": [10, 20]})
    rjb = xr.Dataset({"v": (("x", "y"), [[3.0, 4.0]])},
                     coords={"x": [1], "y": [20, 30]})
    for j in ("outer", "inner", "left", "right"):
        e = concat([ja, jb], dim="x", join=j)
        r = xr.concat([rja, rjb], dim="x", join=j)
        _chk(e, r, "v")
    from xarray_spark.errors import AlignmentError
    with pytest.raises(AlignmentError):
        concat([ja, jb], dim="x", join="exact")


@needs_xr
def test_concat_no_conflicts_combines_merged_vars(spark):
    an = XDataset({"v": (("x",), [1.0, 2.0]),
                   "u": (("y",), [1.0, None])},
                  coords={"x": [0, 1], "y": [10, 20]})
    bn = XDataset({"v": (("x",), [3.0, 4.0]),
                   "u": (("y",), [None, 2.0])},
                  coords={"x": [2, 3], "y": [10, 20]})
    rn = xr.concat(
        [xr.Dataset({"v": (("x",), [1.0, 2.0]),
                     "u": (("y",), [1.0, np.nan])},
                    coords={"x": [0, 1], "y": [10, 20]}),
         xr.Dataset({"v": (("x",), [3.0, 4.0]),
                     "u": (("y",), [np.nan, 2.0])},
                    coords={"x": [2, 3], "y": [10, 20]})],
        dim="x", data_vars="minimal", coords="minimal",
        compat="no_conflicts")
    e = concat([an, bn], dim="x", data_vars="minimal", coords="minimal",
               compat="no_conflicts")
    _chk(e, rn, "u")
    # a genuine overlap conflict raises
    cn = XDataset({"v": (("x",), [5.0]), "u": (("y",), [3.0, 2.0])},
                  coords={"x": [4], "y": [10, 20]})
    with pytest.raises(MergeError):
        concat([an, cn], dim="x", data_vars="minimal", coords="minimal",
               compat="no_conflicts")


def test_concat_different_break_quirk(spark):
    """Reference quirk (structure/concat.py:461): a 'different'
    candidate present in exactly ONE dataset breaks the whole probe
    loop — later unequal candidates stay merged and then fail the
    compat='equals' merge check.  Probe-confirmed live."""
    aq = XDataset({"v": (("x",), [1.0, 2.0]), "only_a": ((), 9.0),
                   "u": ((), 5.0)}, coords={"x": [0, 1]})
    bq = XDataset({"v": (("x",), [3.0, 4.0]), "u": ((), 6.0)},
                  coords={"x": [2, 3]})
    with pytest.raises(MergeError, match="conflicting values"):
        concat([aq, bq], dim="x", data_vars="different", coords="minimal")
    # control: with u before only_a in the first dataset's var order,
    # u IS probed and concatenates
    aq2 = XDataset({"v": (("x",), [1.0, 2.0]), "u": ((), 5.0),
                    "only_a": ((), 9.0)}, coords={"x": [0, 1]})
    e = concat([aq2, bq], dim="x", data_vars="different",
               coords="minimal")
    # u gained the concat dim (== full dims here, so no var_dims entry)
    assert tuple(e.var_dims.get("u", e.dims)) == ("x",)
    assert sorted(e.to_pandas().drop_duplicates("x")["u"]) == [
        5.0, 5.0, 6.0, 6.0]


def test_concat_different_partial_presence_raises(spark):
    mk = lambda x0, vv: XDataset({"v": (("x",), vv)},
                                 coords={"x": [x0, x0 + 1]})
    a = XDataset({"v": (("x",), [1.0, 2.0]), "u": ((), 1.0)},
                 coords={"x": [0, 1]})
    b = XDataset({"v": (("x",), [3.0, 4.0]), "u": ((), 1.0)},
                 coords={"x": [2, 3]})
    c = mk(4, [5.0, 6.0])
    with pytest.raises(ValueError, match="not present in all datasets"):
        concat([a, b, c], dim="x", data_vars="different",
               coords="minimal")
    # but 'minimal' with partial presence merges from the havers
    e = concat([a, b, c], dim="x", data_vars="minimal",
               coords="minimal", compat="equals")
    assert e.to_pandas()["u"].iloc[0] == 1.0


def test_concat_identical_attr_checks(spark):
    a = XDataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]},
                 attrs={"k": 1})
    b = XDataset({"v": (("x",), [3.0, 4.0])}, coords={"x": [2, 3]},
                 attrs={"k": 2})
    with pytest.raises(ValueError, match="global attributes not equal"):
        concat([a, b], dim="x", compat="identical", coords="minimal",
               data_vars="minimal")


def test_concat_coord_datavar_conflict(spark):
    a = XDataset({"v": (("x",), [1.0, 2.0]), "q": (("x",), [1.0, 1.0])},
                 coords={"x": [0, 1]})
    b = XDataset({"v": (("x",), [3.0, 4.0])},
                 coords={"x": [2, 3], "q": ("x", [2.0, 2.0])})
    with pytest.raises(ValueError, match="coordinate in some datasets"):
        concat([a, b], dim="x")


def test_minmax_cache_invalidates_on_overwrite(spark, tmp_path):
    """ADVICE #2: the plan-fingerprint cache must not serve stale
    min/max after an external writer overwrites a parquet file in
    place under the same name."""
    from xarray_spark._utils import dim_min_max
    import pyarrow as pa
    import pyarrow.parquet as pq
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), p)
    df = spark.read.parquet(p)
    assert dim_min_max(df, "a") == (1, 3)
    import os
    import time
    time.sleep(0.05)
    pq.write_table(pa.table({"a": [10, 20, 30]}), p)
    os.utime(p)
    df2 = spark.read.parquet(p)
    assert dim_min_max(df2, "a") == (10, 30)


def test_footer_minmax_skipped_on_non_utc_session(spark, tmp_path):
    """ADVICE #1: the footer shortcut for instant timestamps only
    fires when the session timezone is UTC — otherwise the Spark-job
    fallback (session-tz-naive) answers, and both paths agree."""
    from xarray_spark import _utils
    import pyarrow as pa
    import pyarrow.parquet as pq
    ts = pd.to_datetime(["2021-01-01 06:00", "2021-06-01 18:00"])
    p = str(tmp_path / "ts.parquet")
    pq.write_table(pa.table({"t": pa.array(ts, pa.timestamp("us", "UTC"))}), p)
    df = spark.read.parquet(p)
    utc_out = _utils.dim_min_max(df, "t")
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone",
                       "America/New_York")
        proj = spark.read.parquet(p).select("t")
        assert _utils._footer_min_max(proj, "t") is None
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert utc_out == (pd.Timestamp("2021-01-01 06:00"),
                       pd.Timestamp("2021-06-01 18:00"))


@needs_xr
def test_season_trim_still_matches_reference(spark):
    """ADVICE #3 regression: drop_incomplete via broadcast 1-row
    bounds agg (no unpartitioned window) still trims exactly like the
    reference."""
    from xarray_spark.groupers import SeasonResampler
    t = pd.date_range("2001-02-01", "2002-10-31", freq="MS")
    vals = np.arange(len(t), dtype=float)
    e = XDataset({"v": (("time",), vals)}, coords={"time": t})
    r = xr.Dataset({"v": (("time",), vals)}, coords={"time": t})
    got = (e.groupby(time=SeasonResampler(
        ["DJF", "MAM", "JJA", "SON"], drop_incomplete=True)).sum()
        .to_pandas().sort_values("time"))
    exp = r.resample(time=xr.groupers.SeasonResampler(
        ["DJF", "MAM", "JJA", "SON"], drop_incomplete=True)).sum()
    np.testing.assert_allclose(got["v"].to_numpy(), exp["v"].values)


def test_concat_different_no_conflicts_weak_compare(spark):
    """'different' under compat='no_conflicts' uses the WEAK comparison
    (Variable.no_conflicts): null-disjoint vars merge COMBINED; genuine
    conflicts concatenate (no error).  Probe-confirmed live."""
    a = XDataset({"v": (("x",), [1.0, 2.0]), "u": (("y",), [1.0, None])},
                 coords={"x": [0, 1], "y": [10, 20]})
    b = XDataset({"v": (("x",), [3.0, 4.0]), "u": (("y",), [None, 2.0])},
                 coords={"x": [2, 3], "y": [10, 20]})
    e = concat([a, b], dim="x", data_vars="different", coords="minimal",
               compat="no_conflicts")
    assert e.coords == {} and e.var_dims["u"] == ("y",)
    g = (e.to_pandas()[["y", "u"]].drop_duplicates("y").sort_values("y"))
    assert g["u"].tolist() == [1.0, 2.0]   # coalesced across inputs
    b2 = XDataset({"v": (("x",), [3.0, 4.0]), "u": (("y",), [9.0, 2.0])},
                  coords={"x": [2, 3], "y": [10, 20]})
    e = concat([a, b2], dim="x", data_vars="different", coords="minimal",
               compat="no_conflicts")
    # conflict -> concatenated (u now spans all dims)
    assert tuple(e.var_dims.get("u", e.dims)) == ("x", "y")
    g = (e.to_pandas().drop_duplicates(["x", "y"])
         .sort_values(["x", "y"]))
    got = g["u"].to_numpy().reshape(4, 2)
    exp = np.array([[1.0, np.nan], [1.0, np.nan],
                    [9.0, 2.0], [9.0, 2.0]])
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_open_mfdataset_concat_kwargs(spark, tmp_path):
    """open_mfdataset routes the concat parameter matrix when
    combine='nested' / concat kwargs are given (reference
    backends/api.py:1379); the default stays ONE multi-path scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from xarray_spark.io import open_mfdataset
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"t": [0, 1], "v": [1.0, 2.0],
                             "n": [10.0, 10.0]}), p1)
    pq.write_table(pa.table({"t": [2, 3], "v": [3.0, 4.0],
                             "n": [99.0, 99.0]}), p2)
    # default: plain union scan
    ds = open_mfdataset(spark, [p1, p2], dims=["t"])
    assert ds.df.count() == 4
    # nested with compat='override': n (a data var WITH t here) concats
    ds = open_mfdataset(spark, [p1, p2], dims=["t"], combine="nested",
                        concat_dim="t", compat="override",
                        coords="minimal",
                        preprocess=lambda d: d.assign(
                            v2=F.col("v") * 2))
    g = ds.to_pandas().sort_values("t")
    assert g["v2"].tolist() == [2.0, 4.0, 6.0, 8.0]
    assert g["n"].tolist() == [10.0, 10.0, 99.0, 99.0]


# ---- round-12 probe sweep (verdict #6): combine_nested grid, pad ----
# kwarg validation, to_stacked_array melt ------------------------------


def test_combine_nested_grid_and_merge_levels(spark):
    """combine_nested upgraded to the reference surface
    (structure/combine.py:431): list concat_dim (one per nesting
    depth, outer-first), None levels merge, combine_attrs default
    'drop' (NOT concat's 'override'), depth validation."""
    from xarray_spark import combine_nested
    g = {}
    for i in range(2):
        for j in range(2):
            g[i, j] = XDataset({"v": (("x", "y"),
                                      [[float(1 + 2 * i + j)]])},
                               coords={"x": [i], "y": [j]},
                               attrs={"k": 1})
    r = combine_nested([[g[0, 0], g[0, 1]], [g[1, 0], g[1, 1]]],
                       concat_dim=["x", "y"])
    got = sorted((rr["x"], rr["y"], rr["v"]) for rr in r.df.collect())
    assert got == [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0), (1, 1, 4.0)]
    assert r.attrs == {}          # reference default combine_attrs='drop'
    rm = combine_nested([g[0, 0], g[1, 0]], concat_dim=[None])
    got = sorted((rr["x"], rr["v"]) for rr in rm.df.collect())
    assert got == [(0, 1.0), (1, 3.0)]   # None level merges
    with pytest.raises(ValueError, match="nested"):
        combine_nested([[g[0, 0]], [g[1, 0]]], concat_dim="x")


def test_pad_rejects_wrong_mode_kwargs(spark):
    """Probe-sweep find: the engine silently IGNORED kwargs a pad mode
    does not consume; numpy/the reference raise ValueError
    (numpy/lib/arraypad.py)."""
    ds = XDataset({"v": (("x",), [1.0, 2.0, 3.0])},
                  coords={"x": [0, 1, 2]})
    cases = (("edge", dict(constant_values=9)),
             ("constant", dict(end_values=10)),
             ("reflect", dict(stat_length=2)),
             ("linear_ramp", dict(reflect_type="odd")),
             ("mean", dict(constant_values=1)))
    for mode, kw in cases:
        with pytest.raises(ValueError, match="unsupported keyword"):
            ds.pad(x=1, mode=mode, **kw)
    # the legitimate pairings still work
    got = [r["v"] for r in ds.pad(x=1, mode="constant",
                                  constant_values=7)
           .df.orderBy("x").collect()]
    assert got == [7.0, 1.0, 2.0, 3.0, 7.0]
    got = [r["v"] for r in ds.pad(x=1, mode="linear_ramp",
                                  end_values=10)
           .df.orderBy("x").collect()]
    assert got == [10.0, 1.0, 2.0, 3.0, 10.0]


@needs_xr
def test_to_stacked_array_subset_sample_dims_roundtrip(spark):
    """Probe-sweep find: sample_dims ⊂ dims was a documented raise —
    now the reference melt (core/dataset.py:5430): folded dims join
    the variable label in a struct stacked dim, a variable lacking a
    folded dim contributes ONE null-level slot, and
    to_unstacked_dataset restores each variable's own dims."""
    ds = XDataset({"a": (("t", "x"), [[1.0, 2.0], [3.0, 4.0]]),
                   "b": (("t",), [5.0, 6.0])},
                  coords={"t": [0, 1], "x": [10, 20]})
    rds = xr.Dataset({"a": (("t", "x"), [[1.0, 2.0], [3.0, 4.0]]),
                      "b": (("t",), [5.0, 6.0])},
                     coords={"t": [0, 1], "x": [10, 20]})
    sa = ds.to_stacked_array("z", sample_dims=["t"], variable_dim="vv",
                             name="nm")
    rsa = rds.to_stacked_array("z", sample_dims=["t"],
                               variable_dim="vv", name="nm")
    g = sa.to_pandas().sort_values(["t", "vv", "x"])
    np.testing.assert_allclose(
        g["nm"].to_numpy().reshape(2, 3), rsa.values)
    back = sa.to_unstacked_dataset("z")
    assert back.var_dims == {"b": ("t",)}
    got = sorted((r["t"], r["x"], r["a"], r["b"])
                 for r in back.df.collect())
    assert got == [(0, 10, 1.0, 5.0), (0, 20, 2.0, 5.0),
                   (1, 10, 3.0, 6.0), (1, 20, 4.0, 6.0)]
    # a var missing a sample dim is the reference error
    ds2 = XDataset({"a": (("t", "x"), [[1.0, 2.0], [3.0, 4.0]]),
                    "b": (("x",), [5.0, 6.0])},
                   coords={"t": [0, 1], "x": [10, 20]})
    with pytest.raises(ValueError, match="sample_dims"):
        ds2.to_stacked_array("z", sample_dims=["t"])


def test_combine_by_coords_kwarg_route(spark):
    """combine_by_coords forwards the concat matrix along the one
    differing dim (reference structure/combine.py:798; old-style
    defaults compat='no_conflicts', combine_attrs='no_conflicts')."""
    from xarray_spark import combine_by_coords
    a = XDataset({"v": (("t", "p"), [[1.0, 2.0], [3.0, 4.0]]),
                  "n": (("p",), [10.0, 20.0])},
                 coords={"t": [0, 1], "p": [0, 1]})
    b = XDataset({"v": (("t", "p"), [[5.0, 6.0], [7.0, 8.0]]),
                  "n": (("p",), [99.0, 98.0])},
                 coords={"t": [2, 3], "p": [0, 1]})
    a.var_dims = {"n": ("p",)}
    b.var_dims = {"n": ("p",)}
    r = combine_by_coords([a, b], data_vars="minimal", coords="minimal",
                          compat="override")
    g = r.to_pandas().sort_values(["t", "p"])
    assert g["v"].tolist() == [1.0, 2.0, 3.0, 4.0,
                               5.0, 6.0, 7.0, 8.0]
    assert sorted(set(g["n"])) == [10.0, 20.0]   # first input wins
    assert r.var_dims["n"] == ("p",)
    # multi-differing-dim tiling with kwargs raises rather than guesses
    c = XDataset({"v": (("t", "p"), [[9.0]])},
                 coords={"t": [9], "p": [7]})
    with pytest.raises(NotImplementedError, match="exactly one dim"):
        combine_by_coords([a, c], data_vars="minimal",
                          coords="minimal", compat="override")


def test_concat_join_override_remaps_labels(spark):
    """join='override': other-dim labels rewritten positionally to the
    FIRST input's (align exclude= now honored on the override path —
    the concat dim itself stays untouched)."""
    ja = XDataset({"v": (("x", "y"), [[1.0, 2.0]])},
                  coords={"x": [0], "y": [10, 20]})
    jb = XDataset({"v": (("x", "y"), [[3.0, 4.0]])},
                  coords={"x": [1], "y": [30, 40]})
    e = concat([ja, jb], dim="x", join="override")
    g = e.to_pandas().sort_values(["x", "y"])
    assert g["y"].tolist() == [10, 20, 10, 20]
    assert g["v"].tolist() == [1.0, 2.0, 3.0, 4.0]
    jc = XDataset({"v": (("x", "y"), [[3.0, 4.0, 5.0]])},
                  coords={"x": [1], "y": [30, 40, 50]})
    with pytest.raises(ValueError, match="override"):
        concat([ja, jc], dim="x", join="override").df.count()


@needs_xr
def test_concat_promote_shape_matrix(spark):
    """Reference promote-shape family (tests/test_concat.py:901-967):
    a variable's dims may differ across inputs — the result takes the
    UNION (ensure_common_dims), broadcasting each input's values."""
    # 1-D x against 1-D y along a new dim -> (e, x, y)
    a = XDataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    b = XDataset({"v": (("y",), [3.0, 4.0])}, coords={"y": [10, 20]})
    ra = xr.Dataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    rb = xr.Dataset({"v": (("y",), [3.0, 4.0])}, coords={"y": [10, 20]})
    e = concat([a, b], dim="e")
    r = xr.concat([ra, rb], dim="e")
    _chk(e, r, "v")
    # scalar v in one input promoted along an existing dim
    s1 = XDataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    s2 = XDataset({"v": ((), 9.0)}, coords={"x": [2]})
    rs1 = xr.Dataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    rs2 = xr.Dataset({"v": ((), 9.0)}, coords={"x": [2]})
    _chk(concat([s1, s2], dim="x"), xr.concat([rs1, rs2], dim="x"), "v")
    # per-input var dims differ (w: (y,) vs (x,y)) along existing dim
    m1 = XDataset({"v": (("x", "y"), [[1.0, 2.0]]),
                   "w": (("y",), [5.0, 6.0])},
                  coords={"x": [0], "y": [10, 20]})
    m2 = XDataset({"v": (("x", "y"), [[3.0, 4.0]]),
                   "w": (("x", "y"), [[7.0, 8.0]])},
                  coords={"x": [1], "y": [10, 20]})
    rm1 = xr.Dataset({"v": (("x", "y"), [[1.0, 2.0]]),
                      "w": (("y",), [5.0, 6.0])},
                     coords={"x": [0], "y": [10, 20]})
    rm2 = xr.Dataset({"v": (("x", "y"), [[3.0, 4.0]]),
                      "w": (("x", "y"), [[7.0, 8.0]])},
                     coords={"x": [1], "y": [10, 20]})
    _chk(concat([m1, m2], dim="x"), xr.concat([rm1, rm2], dim="x"), "w")


@needs_xr
def test_concat_size0_and_autoalign(spark):
    """Reference test_concat_size0 / test_concat_autoalign: an empty
    slice contributes nothing; inputs whose other-dim labels agree as
    SETS (any order) concat without synthesis."""
    s0 = (XDataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
          .isel(x=slice(0, 0)))
    s1 = XDataset({"v": (("x",), [3.0, 4.0])}, coords={"x": [2, 3]})
    r = xr.concat(
        [xr.Dataset({"v": (("x",), [1.0, 2.0])},
                    coords={"x": [0, 1]}).isel(x=slice(0, 0)),
         xr.Dataset({"v": (("x",), [3.0, 4.0])}, coords={"x": [2, 3]})],
        dim="x")
    _chk(concat([s0, s1], dim="x"), r, "v")


def test_concat_dataarray_name_semantics(spark):
    """DataArray concat: the first array's name wins, later arrays are
    renamed (reference _dataarray_concat); compat='identical' raises
    on differing names."""
    ea = XDataset({"a": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})["a"]
    eb = XDataset({"b": (("x",), [3.0, 4.0])}, coords={"x": [2, 3]})["b"]
    e = concat([ea, eb], dim="x")
    assert e.data_vars == ("a",)
    g = e.to_pandas().sort_values("x")
    assert g["a"].tolist() == [1.0, 2.0, 3.0, 4.0]
    with pytest.raises(ValueError, match="array names not identical"):
        concat([ea, eb], dim="x", compat="identical")


def test_concat_index_labels_replace_existing_dim(spark):
    """concat(objs, dim=pd.Index(values, name=<existing dim>)): the
    index REPLACES the concatenated labels positionally
    (probe-confirmed against the reference)."""
    a = XDataset({"v": (("x",), [1.0, 2.0])}, coords={"x": [0, 1]})
    b = XDataset({"v": (("x",), [3.0, 4.0])}, coords={"x": [2, 3]})
    e = concat([a, b], dim=pd.Index([10, 20, 30, 40], name="x"))
    g = e.to_pandas().sort_values("x")
    assert g["x"].tolist() == [10, 20, 30, 40]
    assert g["v"].tolist() == [1.0, 2.0, 3.0, 4.0]
    with pytest.raises(ValueError, match="labels"):
        concat([a, b], dim=pd.Index([10, 20, 30], name="x"))


@needs_xr
def test_concat_combine_attrs_matrix(spark):
    """combine_attrs applies to BOTH dataset attrs and per-variable
    attrs (reference merge_attrs + concat_vars) — differential across
    all four string policies."""
    def mk(eng, a, h):
        cls = XDataset if eng else xr.Dataset
        return cls({"v": (("x",), [1.0, 2.0] if h == 2 else [3.0, 4.0],
                          {"u": "K", "a": 1 if h == 2 else 2})},
                   coords={"x": [0, 1] if h == 2 else [2, 3]},
                   attrs={"g": 1, "h": h})
    for ca in ("override", "drop", "drop_conflicts"):
        e = concat([mk(True, 1, 2), mk(True, 2, 3)], dim="x",
                   combine_attrs=ca)
        r = xr.concat([mk(False, 1, 2), mk(False, 2, 3)], dim="x",
                      combine_attrs=ca)
        assert {k: v for k, v in e.attrs.items()
                if k != "__var__"} == dict(r.attrs), ca
        assert e.var_attrs("v") == dict(r.v.attrs), ca
    with pytest.raises(MergeError):
        concat([mk(True, 1, 2), mk(True, 2, 3)], dim="x",
               combine_attrs="no_conflicts")


def test_concat_datatree_nodewise(spark):
    """DataTree concat = node-wise concat over isomorphic trees
    (reference _datatree_concat, structure/concat.py:300)."""
    from xarray_spark.datatree import DataTree
    t1 = DataTree({"/a": XDataset({"v": (("x",), [1.0, 2.0])},
                                  coords={"x": [0, 1]})})
    t2 = DataTree({"/a": XDataset({"v": (("x",), [3.0, 4.0])},
                                  coords={"x": [2, 3]})})
    r = concat([t1, t2], dim="x")
    assert sorted(rr["v"] for rr in r["/a"].df.collect()) == [
        1.0, 2.0, 3.0, 4.0]
    t3 = DataTree({"/b": XDataset({"v": (("x",), [9.0])},
                                  coords={"x": [9]})})
    with pytest.raises(ValueError, match="isomorphic"):
        concat([t1, t3], dim="x")


@needs_xr
def test_concat_dim_operand_forms(spark):
    """dim given as a Variable / DataArray / bare sequence (reference
    _calc_concat_dim_index): the object's dims name the concat dim and
    its values become the labels; a nameless sequence gets
    'concat_dim'."""
    o1 = XDataset({"x": ((), 0.0)})
    o2 = XDataset({"x": ((), 1.0)})
    e = concat([o1, o2], xr.Variable("y", [3, 4]), data_vars="all")
    assert sorted((r["y"], r["x"]) for r in e.df.collect()) == [
        (3, 0.0), (4, 1.0)]
    e = concat([o1, o2], xr.DataArray([3, 4], dims="y"),
               data_vars="all")
    assert sorted((r["y"], r["x"]) for r in e.df.collect()) == [
        (3, 0.0), (4, 1.0)]
    e = concat([o1, o2], [7, 8], data_vars="all")
    assert sorted((r["concat_dim"], r["x"]) for r in e.df.collect()) == [
        (7, 0.0), (8, 1.0)]


def test_merge_accepts_mapping_inputs(spark):
    """Reference merge takes raw variable mappings alongside datasets
    (structure/merge.py:855)."""
    from xarray_spark import merge
    e = merge([{"a": (("x",), [1.0, 2.0])},
               {"b": (("x",), [3.0, 4.0])}])
    assert e.data_vars == ("a", "b")
    got = sorted((r["x"], r["a"], r["b"]) for r in e.df.collect())
    assert got == [(0, 1.0, 3.0), (1, 2.0, 4.0)]


def test_cap_per_group_regimes(spark):
    """cap_per_group: exact cap, deterministic survivors, under-cap
    groups untouched, priority override."""
    import pandas as pd_
    from xarray_spark.extras.curation import cap_per_group
    pdf = pd_.DataFrame({
        "doc_id": list(range(10)),
        "source": ["a"] * 7 + ["b"] * 3,
        "q": [0.1, 0.9, 0.5, 0.7, 0.2, 0.8, 0.3, 0.4, 0.6, 0.5],
    })
    df = spark.createDataFrame(pdf)
    kept = cap_per_group(df, cap=4, by="source")
    g = kept.toPandas()
    assert g.groupby("source").size().to_dict() == {"a": 4, "b": 3}
    # determinism: same survivors on re-run
    g2 = cap_per_group(df, cap=4, by="source").toPandas()
    assert sorted(g["doc_id"]) == sorted(g2["doc_id"])
    # md5-smallest selection matches a python-side oracle
    import hashlib
    pri = sorted((hashlib.md5(str(i).encode()).hexdigest(), i)
                 for i in range(7))
    expect_a = sorted(i for _, i in pri[:4])
    assert sorted(g[g.source == "a"]["doc_id"]) == expect_a
    # priority override: keep the 4 HIGHEST quality docs of source a
    kept_q = cap_per_group(df, cap=4, by="source",
                           priority=F.col("q").desc())
    gq = kept_q.toPandas()
    assert sorted(gq[gq.source == "a"]["q"], reverse=True) == [
        0.9, 0.8, 0.7, 0.5]


def test_where_dataarray_cond_inner_aligns(spark):
    """where with an XDataArray cond INNER-aligns on the cond's labels
    (reference ops.py where_method -> apply_ufunc(join='inner'),
    probe-confirmed): a subset-label cond DROPS the other labels, it
    does not mask them; vars lacking the cond's dims broadcast."""
    e = XDataset({"v": (("x", "y"), [[1.0, 2.0], [3.0, 4.0]]),
                  "u": (("x",), [5.0, 6.0])},
                 coords={"x": [0, 1], "y": [10, 20]})
    mask = XDataset({"m": (("y",), [True, False])},
                    coords={"y": [10, 20]})["m"]
    out = e.where(mask)
    g = out.to_pandas().sort_values(["x", "y"])
    np.testing.assert_allclose(
        g["u"].to_numpy(), [5.0, np.nan, 6.0, np.nan], equal_nan=True)
    assert out.var_dims.get("u", out.dims) == ("x", "y")
    sub = XDataset({"m": (("y",), [True])}, coords={"y": [10]})["m"]
    assert sorted(set(e.where(sub).to_pandas()["y"])) == [10]
    with pytest.raises((NotImplementedError, ValueError)):
        e.where(XDataset({"m": (("z",), [True])}, coords={"z": [1]})["m"])
