"""Round-11 pins: batched/fingerprint-cached anchor lookups, micro-grain
origin on sub-second freqs (round-10 ADVICE #1), and the aggregated
SeasonResampler drop_incomplete trim (round-10 verdict #2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xarray_spark.dataset import XDataset


def _eng(spark, ts, vals, col="t"):
    pdf = pd.DataFrame({col: ts, "v": np.asarray(vals, dtype="float64")})
    return XDataset(spark.createDataFrame(pdf), dims=[col], data_vars=["v"])


# ------------------------------------------------- sub-second origin=

SUBSEC_TS = pd.to_datetime([
    "2024-01-01 00:00:00.123", "2024-01-01 00:00:00.456",
    "2024-01-01 00:00:01.100", "2024-01-01 00:00:02.349",
])


@pytest.mark.parametrize("origin", [
    "epoch", "start", "start_day", "2024-01-01 00:00:00.050",
])
def test_subsecond_origin_matches_pandas(spark, origin):
    """resample('500ms', origin=...) anchors the grid micro-exactly —
    through round 10 the int-second truncation silently put sub-second
    freqs back on the epoch grid (ADVICE #1)."""
    s = pd.Series([1.0, 2.0, 3.0, 4.0], index=SUBSEC_TS)
    exp = s.resample("500ms", origin=origin).mean().dropna()
    eng = _eng(spark, SUBSEC_TS, [1.0, 2.0, 3.0, 4.0])
    got = (eng.resample(t="500ms", origin=origin).mean()
           .to_pandas().dropna().sort_values("t"))
    assert [str(pd.Timestamp(x)) for x in got["t"]] == \
           [str(i) for i in exp.index]
    np.testing.assert_allclose(np.asarray(got["v"], float), exp.values)


def test_fractional_origin_on_second_freq_matches_pandas(spark):
    """A fractional-second EXPLICIT origin on a whole-second freq keeps
    its microseconds (was truncated by int(timestamp()))."""
    s = pd.Series([1.0, 2.0, 3.0, 4.0], index=SUBSEC_TS)
    exp = s.resample("1s", origin="2024-01-01 00:00:00.250").mean().dropna()
    eng = _eng(spark, SUBSEC_TS, [1.0, 2.0, 3.0, 4.0])
    got = (eng.resample(t="1s", origin="2024-01-01 00:00:00.250").mean()
           .to_pandas().dropna().sort_values("t"))
    assert [str(pd.Timestamp(x)) for x in got["t"]] == \
           [str(i) for i in exp.index]
    np.testing.assert_allclose(np.asarray(got["v"], float), exp.values)


# --------------------------------------- season trim: agg vs lazy paths

def test_season_trim_agg_and_lazy_paths_agree(spark):
    """drop_incomplete via the AGGREGATED month-position trim (the
    no-pre-scan _agg path) must keep exactly the instances the lazy
    keep_range membership trim keeps (quantile routes through
    _prepared's resolved keep_range)."""
    from xarray_spark.groupers import SeasonResampler
    t = pd.date_range("2000-02-15", "2002-10-20", freq="10D")
    ds = _eng(spark, t, np.arange(len(t), dtype="float64"))
    g = ds.groupby(t=SeasonResampler())
    mean_labels = sorted(r["t"] for r in g.mean().to_spark().collect())
    q_labels = sorted(r["t"] for r in g.quantile(0.5).to_spark().collect())
    assert mean_labels == q_labels
    # boundary instances (incomplete DJF-2000 start, SON-2002 end) gone
    assert str(mean_labels[0])[:10] == "2000-03-01"
    assert str(mean_labels[-1])[:10] == "2002-06-01"


def test_season_trim_custom_sparse_seasons_agg_path(spark):
    """Sparse custom seasons through the aggregated trim: variable
    season lengths (the months-remaining check keys season_len off the
    label month)."""
    from xarray_spark.groupers import SeasonResampler
    t = pd.date_range("2000-02-01", "2002-07-31", freq="15D")
    ds = _eng(spark, t, np.arange(len(t), dtype="float64"))
    out = (ds.groupby(t=SeasonResampler(("JF", "JJAS")))
           .sum().to_pandas().sort_values("t"))
    labels = [str(pd.Timestamp(x))[:10] for x in out["t"]]
    # 2000 JF starts Feb -> incomplete, dropped; 2002 JJAS ends Jul ->
    # incomplete, dropped; interior instances all kept
    assert labels == ["2000-06-01", "2001-01-01", "2001-06-01",
                      "2002-01-01"]


def test_season_agg_trim_runs_no_prescan_job(spark):
    """The q66 shape (season agg over a computed column) must not issue
    a data-range pre-scan at groupby/agg CONSTRUCTION time — the trim
    rides the aggregation itself (round-10 verdict #2)."""
    from xarray_spark.groupers import SeasonResampler
    t = pd.date_range("2000-02-15", "2001-10-20", freq="10D")
    ds = _eng(spark, t, np.arange(len(t), dtype="float64"))
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = ds.groupby(t=SeasonResampler()).agg(n=F.count(F.lit(1)))
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # plan built, zero jobs
    assert out.to_spark().count() > 0


# ------------------------------------------- one-pass accessor fields()

def test_accessor_fields_one_projection(spark):
    """fields() composes several accessor results into ONE projection —
    values match the individual accessors, and the q84 shape keeps a
    single join (no monotonically_increasing_id re-join)."""
    t = pd.date_range("2021-03-14 06:30:00", periods=6, freq="37h")
    ds = _eng(spark, t, np.arange(6.0), col="i")
    # datetime fields on the coord-carried var... use the time column
    arr = XDataset(ds.df, dims=["i"], data_vars=["v"])["i"]
    out = arr.dt.fields("year", "dayofyear", doy2="dayofyear",
                        nm="month_name").to_pandas().sort_values("i")
    assert list(out.columns[-4:]) == ["year", "dayofyear", "doy2", "nm"]
    exp = pd.Series(t)
    assert list(out["year"]) == list(exp.dt.year)
    assert list(out["dayofyear"]) == list(out["doy2"])
    assert list(out["nm"]) == list(exp.dt.month_name())


def test_accessor_fields_validation(spark):
    t = pd.date_range("2021-01-01", periods=3, freq="D")
    ds = _eng(spark, t, [1.0, 2.0, 3.0])
    arr = ds["t"]
    with pytest.raises(ValueError, match="collide"):
        arr.dt.fields(t="year")
    with pytest.raises(ValueError, match="at least one"):
        arr.dt.fields()


def test_q84_plan_single_join(spark, request):
    """q84 rewritten on fields(): exactly one join (li x orders)."""
    import __spark_entry__ as em
    df = em.q84_dt_timedelta(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"Join", plan)) == 1


# --------------------------------------------- N-D rolling (round-11 #4)

def _ref_xr():
    import sys
    if "/root/reference" not in sys.path:
        sys.path.insert(0, "/root/reference")
    # the reference package is optional: its comparisons skip without it
    return pytest.importorskip("xarray")


def _grid_ds(spark, a):
    nx, ny = a.shape
    rows = [(i, j, None if np.isnan(a[i, j]) else float(a[i, j]))
            for i in range(nx) for j in range(ny)]
    pdf = pd.DataFrame(rows, columns=["x", "y", "v"])
    pdf["v"] = pdf["v"].astype("float64")
    return XDataset(spark.createDataFrame(pdf), dims=["x", "y"],
                    data_vars=["v"])


@pytest.mark.parametrize("kind,kw", [
    ("var", {}),
    ("var", {"min_periods": 2}),
    ("std", {"min_periods": 3}),
    ("median", {"min_periods": 1}),
    ("median", {}),
    ("var", {"min_periods": 1, "center": True}),
    ("prod", {"min_periods": 2}),
])
def test_nd_rolling_matches_reference(spark, kind, kw):
    """2-D rolling var/std/median (non-separable -> Arrow rectangle
    kernel, label-halo segmented: no complement dims here) and prod
    (separable sweep) vs the live reference, incl. NaN cells,
    min_periods and center."""
    xr = _ref_xr()
    a = np.arange(63, dtype="float64").reshape(9, 7)
    a[2, 3] = np.nan
    a[5, 1] = np.nan
    ds = _grid_ds(spark, a)
    r = ds.rolling(dict(x=3, y=2), min_periods=kw.get("min_periods"),
                   center=kw.get("center", False))
    got = (getattr(r, kind)().to_pandas().sort_values(["x", "y"])["v"]
           .to_numpy(dtype="float64", na_value=np.nan).reshape(9, 7))
    da = xr.DataArray(a, dims=["x", "y"])
    rr = da.rolling(x=3, y=2, min_periods=kw.get("min_periods"),
                    center=kw.get("center", False))
    exp = getattr(rr, kind)().values
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_nd_rolling_with_complement_dim(spark):
    """3-D dataset rolled on two dims: complement-dim groups partition
    the kernel (one Arrow group per z slice)."""
    xr = _ref_xr()
    b = np.arange(60, dtype="float64").reshape(3, 4, 5)
    b[1, 2, 3] = np.nan
    rows = [(k, i, j, None if np.isnan(b[k, i, j]) else float(b[k, i, j]))
            for k in range(3) for i in range(4) for j in range(5)]
    pdf = pd.DataFrame(rows, columns=["z", "x", "y", "v"])
    pdf["v"] = pdf["v"].astype("float64")
    ds = XDataset(spark.createDataFrame(pdf), dims=["z", "x", "y"],
                  data_vars=["v"])
    got = (ds.rolling(dict(x=2, y=3), min_periods=2).var()
           .to_pandas().sort_values(["z", "x", "y"])["v"]
           .to_numpy(dtype="float64", na_value=np.nan).reshape(3, 4, 5))
    exp = (xr.DataArray(b, dims=["z", "x", "y"])
           .rolling(x=2, y=3, min_periods=2).var().values)
    np.testing.assert_allclose(got, exp, equal_nan=True)


def test_nd_rolling_ragged_raises(spark):
    """A non-dense hypercube raises loudly instead of inventing
    positions."""
    pdf = pd.DataFrame({"x": [0, 0, 1], "y": [0, 1, 0],
                        "v": [1.0, 2.0, 3.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"],
                  data_vars=["v"])
    import pyspark.errors
    with pytest.raises(Exception, match="DENSE hypercube"):
        ds.rolling(dict(x=2, y=2), min_periods=1).var().to_pandas()


def test_nd_rolling_argmin_documented_raise(spark):
    """Reference parity: xarray itself raises on N-D window argmin
    (np.argmin rejects a tuple axis) — the engine raises a documented
    NotImplementedError."""
    pdf = pd.DataFrame({"x": [0, 0, 1, 1], "y": [0, 1, 0, 1],
                        "v": [1.0, 2.0, 3.0, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"],
                  data_vars=["v"])
    with pytest.raises(NotImplementedError, match="reference raises"):
        ds.rolling(dict(x=2, y=2)).argmin()


# ------------------------------------------------ round-10 ADVICE fixes

def test_rolling_arrow_group_bound_falls_back_in_plan(spark):
    """ADVICE #2: a grouped table estimated above
    rolling_arrow_est_rows_bound keeps rolling var in-plan (streaming
    window) instead of materializing whole groups in Arrow; values
    identical either way."""
    from xarray_spark.options import set_options
    pdf = pd.DataFrame({
        "g": ["a"] * 50 + ["b"] * 50,
        "x": list(range(50)) * 2,
        "v": np.arange(100, dtype="float64"),
    })
    ds = XDataset(spark.createDataFrame(pdf), dims=["g", "x"],
                  data_vars=["v"])
    r = lambda: ds.rolling(x=5, min_periods=2).var()  # noqa: E731
    with set_options(rolling_arrow_est_rows_bound=1):
        guarded = r()
        plan = guarded.to_spark()._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan  # in-plan HOF form
        vals_guarded = guarded.to_pandas().sort_values(["g", "x"])["v"]
    vals_arrow = r().to_pandas().sort_values(["g", "x"])["v"]
    np.testing.assert_allclose(
        np.asarray(vals_guarded, float), np.asarray(vals_arrow, float),
        equal_nan=True)


def test_dump_to_store_netcdf_rejects_kwargs(spark, tmp_path):
    """ADVICE #3: store options silently dropped on the netCDF branch
    now raise."""
    pdf = pd.DataFrame({"x": [0, 1], "v": [1.0, 2.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x"], data_vars=["v"])
    with pytest.raises(TypeError, match="keyword options"):
        ds.dump_to_store(str(tmp_path / "x.nc"), mode="w")


def test_nd_rolling_construct_and_reduce_match_reference(spark):
    """N-D construct (mapping form, per-dim stride) and N-D reduce
    (flattened-rectangle chain) vs the reference — through round 10
    reduce on a multi-dim rolling silently windowed only the first
    dim."""
    xr = _ref_xr()
    a = np.arange(20, dtype="float64").reshape(4, 5)
    a[1, 2] = np.nan
    ds = _grid_ds(spark, a)
    da = xr.DataArray(a, dims=["x", "y"])
    g = (ds.rolling(dict(x=2, y=3)).construct(x="wx", y="wy")
         .to_pandas().sort_values(["x", "y", "wx", "wy"])["v"]
         .to_numpy(dtype="float64", na_value=np.nan).reshape(4, 5, 2, 3))
    r = da.rolling(x=2, y=3).construct(x="wx", y="wy").values
    np.testing.assert_allclose(g, r, equal_nan=True)
    for fn in (np.nansum, np.nanmax):
        ge = (ds.rolling(dict(x=2, y=3), min_periods=2).reduce(fn)
              .to_pandas().sort_values(["x", "y"])["v"]
              .to_numpy(dtype="float64", na_value=np.nan).reshape(4, 5))
        rr = da.rolling(x=2, y=3, min_periods=2).reduce(fn).values
        np.testing.assert_allclose(ge, rr, equal_nan=True)
    # per-dim stride through the mapping form
    g2 = (ds.rolling(dict(x=2, y=3))
          .construct({"x": "wx", "y": "wy"}, stride={"x": 2, "y": 1})
          .to_pandas())
    r2 = da.rolling(x=2, y=3).construct(x="wx", y="wy",
                                        stride={"x": 2, "y": 1})
    assert len(g2) == r2.size
    gv = (g2.sort_values(["x", "y", "wx", "wy"])["v"]
          .to_numpy(dtype="float64", na_value=np.nan)
          .reshape(r2.transpose("x", "y", "wx", "wy").shape))
    np.testing.assert_allclose(
        gv, r2.transpose("x", "y", "wx", "wy").values, equal_nan=True)


def test_minmax_cache_distinguishes_paths(spark):
    """The fingerprint cache must NOT collide across different parquet
    paths: the canonicalized plan string omits the file location, so
    the input-file list is part of the key (sf0.001 and sf0.01 orders
    have different min dates)."""
    import __spark_entry__ as em
    from xarray_spark import _utils as U
    U._MINMAX_CACHE.clear()
    a = U.dim_min_max(em._orders(spark, "/root/testdata/sf0.001").df,
                      "o_orderdate")
    b = U.dim_min_max(em._orders(spark, "/root/testdata/sf0.01").df,
                      "o_orderdate")
    assert len(U._MINMAX_CACHE) == 2  # two distinct keys
    # and a filtered plan must not collide with the raw scan
    df = em._orders(spark, "/root/testdata/sf0.01").df
    c = U.dim_min_max(
        df.where(F.col("o_orderdate") >= "1996-01-01"), "o_orderdate")
    assert c[0] != b[0] and str(c[0])[:4] == "1996"
    assert len(U._MINMAX_CACHE) == 3


def test_minmax_uncacheable_inmemory_frames(spark):
    """LocalRelation-backed frames (createDataFrame) print schema but
    not data in the canonicalized plan — they must stay UNCACHED so two
    same-shaped literal frames can't collide."""
    from xarray_spark import _utils as U
    U._MINMAX_CACHE.clear()
    t1 = pd.date_range("2020-01-01", periods=3, freq="D")
    t2 = pd.date_range("1999-01-01", periods=3, freq="D")
    d1 = spark.createDataFrame(pd.DataFrame({"t": t1}))
    d2 = spark.createDataFrame(pd.DataFrame({"t": t2}))
    assert U.dim_min_max(d1, "t")[0] == pd.Timestamp("2020-01-01")
    assert U.dim_min_max(d2, "t")[0] == pd.Timestamp("1999-01-01")
    assert len(U._MINMAX_CACHE) == 0


@pytest.mark.parametrize("origin", ["end", "end_day"])
def test_subsecond_origin_end_matches_pandas(spark, origin):
    """origin='end'/'end_day' on sub-second freqs: grid anchored at the
    data's end (micro-exact) with the pandas right-closed/right-labeled
    default flip."""
    s = pd.Series([1.0, 2.0, 3.0, 4.0], index=SUBSEC_TS)
    exp = s.resample("700ms", origin=origin).mean().dropna()
    eng = _eng(spark, SUBSEC_TS, [1.0, 2.0, 3.0, 4.0])
    got = (eng.resample(t="700ms", origin=origin).mean()
           .to_pandas().dropna().sort_values("t"))
    assert [str(pd.Timestamp(x)) for x in got["t"]] == \
           [str(i) for i in exp.index]
    np.testing.assert_allclose(np.asarray(got["v"], float), exp.values)


def test_rolling_center_per_dim_mapping(spark):
    """The reference's per-dim center mapping
    (center={'x': True, 'y': False}) — mixed centered/trailing axes
    through both the separable sweeps and the rectangle kernel."""
    xr = _ref_xr()
    a = np.arange(20.0).reshape(4, 5)
    ds = _grid_ds(spark, a)
    da = xr.DataArray(a, dims=["x", "y"])
    for op in ("mean", "var", "median", "sum"):
        g = (getattr(ds.rolling(dict(x=2, y=3),
                                center={"x": True, "y": False},
                                min_periods=1), op)()
             .to_pandas().sort_values(["x", "y"])["v"]
             .to_numpy(dtype="float64", na_value=np.nan).reshape(4, 5))
        r = np.asarray(getattr(
            da.rolling(x=2, y=3, center={"x": True, "y": False},
                       min_periods=1), op)().values, "float64")
        np.testing.assert_allclose(g, r, equal_nan=True)


def test_season_grouper_custom_and_overlapping(spark):
    """SeasonGrouper honors CUSTOM seasons (round-11 fuzz find: the
    chain always used the default map), drops unlisted months, and
    duplicates a shared month's rows into every OVERLAPPING season
    (reference semantics; explode fan-out only when overlap exists)."""
    xr = _ref_xr()
    from xarray.groupers import SeasonGrouper as RefSG
    from xarray_spark.groupers import SeasonGrouper
    t = pd.date_range("2001-01-15", periods=12, freq="MS")
    v = np.arange(12.0)
    ref = xr.DataArray(v, dims="s", coords={"t": ("s", t)})
    pdf = pd.DataFrame({"s": range(12), "t": t, "v": v})
    ds = XDataset(spark.createDataFrame(pdf), dims=["s"],
                  coords={"t": ("s",)})
    for seasons in (["DJFM", "AMJ", "JAS", "ON"], ["DJFM", "MAM"],
                    ["JJA"]):
        r = ref.groupby(t=RefSG(seasons)).sum()
        rd = dict(zip([str(x) for x in r[r.dims[0]].values],
                      [float(x) for x in r.values]))
        g = ds.groupby({"t": SeasonGrouper(seasons)}).sum().to_pandas()
        assert dict(zip(g["t"], g["v"])) == rd, seasons


def test_unique_grouper_labels_restrict(spark):
    """UniqueGrouper(labels=) restricts grouping to the listed values
    (unlisted rows drop) — reference semantics; labels absent from the
    data crash the reference itself, so the long form just yields no
    row."""
    xr = _ref_xr()
    from xarray.groupers import UniqueGrouper as RefUG
    from xarray_spark.groupers import UniqueGrouper
    k = np.array(["b", "a", "b", "c", "a"])
    v = np.arange(5.0)
    ref = xr.DataArray(v, dims="s",
                       coords={"k": ("s", k)}).groupby(
        k=RefUG(labels=["a", "b"])).sum()
    rd = dict(zip([str(x) for x in ref["k"].values],
                  [float(x) for x in ref.values]))
    pdf = pd.DataFrame({"s": range(5), "k": k, "v": v})
    ds = XDataset(spark.createDataFrame(pdf), dims=["s"],
                  coords={"k": ("s",)})
    g = ds.groupby({"k": UniqueGrouper(labels=["a", "b"])}).sum() \
        .to_pandas()
    assert dict(zip(g["k"], g["v"])) == rd


def test_dt_floor_nonfixed_freq_raises(spark):
    """pandas floor/ceil/round are Tick-only: 'W' raises instead of
    silently flooring to the anchored week."""
    t = pd.date_range("2001-01-03", periods=3, freq="D")
    ds = _eng(spark, t, [1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="non-fixed"):
        ds["t"].dt.floor("W")
    # fixed widths still work
    assert ds["t"].dt.floor("2D").to_pandas() is not None


def test_construct_reduce_passthrough_vars(spark):
    """construct()/reduce() leave vars that don't carry the rolled dim
    UNwindowed (reference keeps their own dims; the engine broadcasts
    them across the window dim)."""
    a = np.arange(6.0).reshape(2, 3)
    rows = [(i, j, float(a[i, j]), [10.0, 20.0][i])
            for i in range(2) for j in range(3)]
    pdf = pd.DataFrame(rows, columns=["x", "y", "a", "b"])
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"],
                  data_vars=["a", "b"])
    ds.var_dims = {"b": ("x",)}
    c = (ds.rolling(dict(y=2)).construct("w")
         .to_pandas().sort_values(["x", "y", "w"]))
    assert c["b"].tolist() == [10.0] * 6 + [20.0] * 6
    r = (ds.rolling(dict(y=2), min_periods=1).reduce(np.nansum)
         .to_pandas().sort_values(["x", "y"]))
    assert r["b"].tolist() == [10.0] * 3 + [20.0] * 3
    assert r["a"].tolist() == [0.0, 1.0, 3.0, 3.0, 7.0, 9.0]


def test_expand_dims_int_is_size(spark):
    """expand_dims({'z': 3}): the int is the new dim's SIZE (data tiled
    3x, positional labels) — was read as a single scalar label."""
    xr = _ref_xr()
    pdf = pd.DataFrame({"x": [0, 1], "v": [1.0, 2.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x"], data_vars=["v"])
    g = ds.expand_dims({"z": 3}).to_pandas().sort_values(["z", "x"])
    r = (xr.Dataset({"v": ("x", np.array([1.0, 2.0]))})
         .expand_dims({"z": 3}))
    assert len(g) == r["v"].size and sorted(set(g["z"])) == [0, 1, 2]
    assert g["v"].tolist() == r["v"].values.reshape(-1).tolist()


def test_assign_coords_callable_and_dataarray(spark):
    """assign_coords accepts callables / XDataArray values like assign
    (was: F.lit on the returned XDataArray recursed)."""
    pdf = pd.DataFrame({"x": [0, 1, 2], "v": [1.0, 2.0, 3.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x"], data_vars=["v"])
    g = ds.assign_coords(c=lambda d: d["v"] + 1)
    assert g.coords.get("c") == ("x",)
    gp = g.to_pandas().sort_values("x")
    assert gp["c"].tolist() == [2.0, 3.0, 4.0]
    # direct XDataArray value too
    g2 = ds.assign_coords(c=ds["v"] * 10)
    assert g2.to_pandas().sort_values("x")["c"].tolist() == [10.0, 20.0, 30.0]


def test_where_callable_other(spark):
    """where(cond, other): other may be a callable(self) like cond
    (reference common.py contract)."""
    pdf = pd.DataFrame({"x": [0, 1, 2], "a": [1.0, None, 3.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x"], data_vars=["a"])
    g = (ds.where(lambda d: d["a"] > 1, lambda d: d["a"] * 100)
         .to_pandas().sort_values("x"))
    got = [None if v != v else v for v in g["a"]]
    assert got == [100.0, None, 3.0]


def test_interp_fill_value_extrapolate(spark):
    """interp(kwargs={'fill_value': 'extrapolate'}): out-of-range
    targets extend the EDGE SEGMENT's line (scipy interp1d semantics —
    scipy is absent from this runtime, so the pin is the closed-form
    edge-slope arithmetic).  Unknown kwargs raise instead of being
    silently swallowed."""
    pdf = pd.DataFrame({"x": [0.0, 1.0, 2.0], "v": [1.0, 2.0, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x"], data_vars=["v"])
    g = (ds.interp({"x": [-1.0, 0.5, 2.5, 3.0]},
                   kwargs={"fill_value": "extrapolate"})
         .to_pandas().sort_values("x"))
    assert g["v"].tolist() == [0.0, 1.5, 5.0, 6.0]
    with pytest.raises(NotImplementedError, match="not supported"):
        ds.interp({"x": [0.5]}, kwargs={"bounds_error": False})
    with pytest.raises(NotImplementedError, match="extrapolate"):
        ds.interp({"x": [0.5]}, method="nearest",
                  kwargs={"fill_value": "extrapolate"})
