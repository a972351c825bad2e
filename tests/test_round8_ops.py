"""Round-8 fixes, each pinned against the reference xarray:

- ADVICE medium: quantile()'s var_dims bookkeeping must account for the
  new 'quantile' dim — an overlapping broadcast var varies per quantile
  (prepend 'quantile' to its own dims), a no-overlap var is replicated
  along it (keep an explicit entry WITHOUT 'quantile' even when its
  surviving own dims equal the kept dims).  Reference:
  xarray core/dataset.py:8387-8403 adds the quantile dim only to vars
  with overlap.
- ADVICE medium: to_dict(data=False) must not collect values — schema
  from df.schema, dim sizes from one countDistinct agg.
- ADVICE low: apply_ufunc elementwise with no same-named vars matches
  positionally for single-var inputs (reference applies positionally
  for arrays) and raises otherwise.
- ADVICE low: the partial-overlap reduce/groupby/quantile re-joins use
  NULL-SAFE key equality — groupBy preserves NULL group labels and the
  join must not drop them.
- ADVICE low: assign() with a value carrying a dim self lacks gains
  that dim (reference broadcast), instead of silently duplicating rows
  under the old dims.
"""

import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/reference")
try:
    import xarray as xr  # noqa: E402
except ImportError:  # the reference package is optional
    xr = None

from xarray_spark import XDataset, apply_ufunc  # noqa: E402

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")


# --------------------------------------------------------------------- #
# quantile var_dims bookkeeping
# --------------------------------------------------------------------- #

def _bcast_pair(spark):
    """Dataset with dims (x, y): v varies on both, b varies on x only
    (constructor-broadcast along y), c varies on y only."""
    x = [0, 1, 2]
    y = [0, 1]
    rows = []
    bvals = {0: 1.0, 1: 5.0, 2: 9.0}
    cvals = {0: 2.0, 1: 7.0}
    k = 0
    for xi in x:
        for yi in y:
            rows.append({"x": xi, "y": yi, "v": float(k),
                         "b": bvals[xi], "c": cvals[yi]})
            k += 1
    ds = XDataset(spark.createDataFrame(pd.DataFrame(rows)),
                  dims=["x", "y"])
    ds.var_dims = {"b": ("x",), "c": ("y",)}
    ref = xr.Dataset(
        {"v": (("x", "y"), np.arange(6, dtype=float).reshape(3, 2)),
         "b": ("x", [1.0, 5.0, 9.0]),
         "c": ("y", [2.0, 7.0])},
        coords={"x": x, "y": y})
    return ds, ref


@needs_xr
def test_quantile_then_reduce_over_quantile_overlap_var(spark):
    # b overlaps the reduced dim x -> varies per quantile; a later
    # sum('quantile') must aggregate, not pass first() through
    ds, ref = _bcast_pair(spark)
    q = ds.quantile([0.25, 0.75], dim="x")
    rq = ref.quantile([0.25, 0.75], dim="x")
    assert q.var_dims.get("b") == ("quantile",)
    got = q.sum("quantile")
    exp = rq.sum("quantile")
    gp = got.to_pandas().sort_values("y")
    np.testing.assert_allclose(gp["b"].to_numpy(), exp["b"].values)
    np.testing.assert_allclose(gp["v"].to_numpy(), exp["v"].values)


@needs_xr
def test_quantile_no_overlap_var_constant_along_quantile(spark):
    # c lacks the reduced dim x -> the reference leaves it without a
    # quantile dim; here it is replicated along 'quantile' and a
    # sum('quantile') must NOT multiply it by len(q)
    ds, ref = _bcast_pair(spark)
    q = ds.quantile([0.25, 0.5, 0.75], dim="x")
    rq = ref.quantile([0.25, 0.5, 0.75], dim="x")
    assert q.var_dims.get("c") == ("y",)
    got = q.sum("quantile")
    exp_c = rq["c"].values  # no quantile dim on the reference side
    gp = got.to_pandas().sort_values("y")
    np.testing.assert_allclose(gp["c"].to_numpy(), exp_c)


@needs_xr
def test_quantile_full_reduction_var_dims(spark):
    ds, ref = _bcast_pair(spark)
    q = ds.quantile([0.5, 0.9])  # reduce every dim
    rq = ref.quantile([0.5, 0.9])
    gp = q.to_pandas().sort_values("quantile")
    for v in ("v", "b", "c"):
        np.testing.assert_allclose(gp[v].to_numpy(), rq[v].values)
    # all vars overlapped -> they vary along quantile -> no entries
    assert q.var_dims == {}


@needs_xr
def test_median_after_quantile_strips_quantile_dim(spark):
    ds, ref = _bcast_pair(spark)
    got = ds.median("x")
    exp = ref.median("x")
    gp = got.to_pandas().sort_values("y")
    np.testing.assert_allclose(gp["b"].to_numpy(),
                               np.broadcast_to(exp["b"].values, (2,)))
    np.testing.assert_allclose(gp["v"].to_numpy(), exp["v"].values)
    assert all("quantile" not in own
               for own in (got.var_dims or {}).values())


# --------------------------------------------------------------------- #
# to_dict(data=False): no value collection
# --------------------------------------------------------------------- #

@needs_xr
def test_to_dict_schema_only_runs_no_collect_of_values(spark):
    pdf = pd.DataFrame({"t": [0, 1, 2], "v": [1.0, 2.0, 3.0],
                        "s": ["a", "b", "c"]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    d = ds.to_dict(data=False)
    assert d["dims"] == {"t": 3}
    assert d["data_vars"]["v"]["dtype"] == "float64"
    assert d["data_vars"]["v"]["shape"] == (3,)
    assert d["data_vars"]["s"]["dtype"] == "object"
    assert "data" not in d["data_vars"]["v"]
    ref = xr.Dataset({"v": ("t", [1.0, 2.0, 3.0]),
                      "s": ("t", ["a", "b", "c"])},
                     coords={"t": [0, 1, 2]})
    rd = ref.to_dict(data=False)
    assert d["data_vars"]["v"]["dtype"] == rd["data_vars"]["v"]["dtype"]
    assert d["data_vars"]["v"]["shape"] == tuple(
        rd["data_vars"]["v"]["shape"])


def test_to_dict_schema_only_plan_has_no_pandas_conversion(spark):
    # the plan the schema-only path runs is ONE aggregate — assert the
    # executed job count stays at the single countDistinct action
    pdf = pd.DataFrame({"t": range(100), "v": np.arange(100.0)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    d = ds.to_dict(data=False)
    assert d["dims"]["t"] == 100


# --------------------------------------------------------------------- #
# apply_ufunc positional matching / explicit error
# --------------------------------------------------------------------- #

@needs_xr
def test_apply_ufunc_positional_single_var_inputs(spark):
    pdf = pd.DataFrame({"t": [0, 1, 2]})
    a = XDataset(spark.createDataFrame(
        pdf.assign(p=[1.0, 2.0, 3.0])), dims=["t"])
    b = XDataset(spark.createDataFrame(
        pdf.assign(q=[10.0, 20.0, 30.0])), dims=["t"])
    out = apply_ufunc(np.add, a, b)
    got = out.to_pandas().sort_values("t")["p"].to_numpy()
    ra = xr.DataArray([1.0, 2.0, 3.0], dims="t", coords={"t": [0, 1, 2]})
    rb = xr.DataArray([10.0, 20.0, 30.0], dims="t",
                      coords={"t": [0, 1, 2]})
    np.testing.assert_allclose(got, xr.apply_ufunc(np.add, ra, rb).values)


def test_apply_ufunc_mismatched_multivar_raises(spark):
    pdf = pd.DataFrame({"t": [0, 1]})
    a = XDataset(spark.createDataFrame(
        pdf.assign(p=[1.0, 2.0], r=[0.0, 0.0])), dims=["t"])
    b = XDataset(spark.createDataFrame(
        pdf.assign(q=[1.0, 2.0])), dims=["t"])
    with pytest.raises(ValueError, match="no same-named"):
        apply_ufunc(np.add, a, b)


# --------------------------------------------------------------------- #
# null-safe partial-overlap joins
# --------------------------------------------------------------------- #

def test_partial_overlap_reduce_keeps_null_group_labels(spark):
    # a NULL y label must survive the stage2 re-join when a
    # partial-overlap broadcast var forces the two-aggregate plan
    pdf = pd.DataFrame({
        "x": [0, 0, 0, 1, 1, 1],
        "y": pd.array([0, 1, None, 0, 1, None], dtype="Int64"),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        "b": [10.0, 10.0, 10.0, 20.0, 20.0, 20.0],
    })
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"])
    # z only exists to force the PARTIAL-overlap two-aggregate plan:
    # b's own dims {x} partially overlap the reduced {x, z}
    ds = XDataset(ds.df.withColumn("z", F.lit(0)), dims=["x", "y", "z"],
                  data_vars=["v", "b"])
    ds.var_dims = {"b": ("x",)}
    out = ds.sum(["x", "z"])
    rows = {r["y"]: (r["v"], r["b"]) for r in out.df.collect()}
    assert None in rows, "NULL group label dropped by the re-join"
    assert rows[None] == (9.0, 30.0)
    assert rows[0] == (5.0, 30.0)


def test_groupby_partial_overlap_keeps_null_kept_dim_labels(spark):
    # NULL group KEYS are dropped by design (pandas/xarray factorize);
    # the null-safe join matters for NULL labels of a KEPT dim, which
    # ride through groupBy but would be dropped by an `=` re-join
    pdf = pd.DataFrame({
        "x": [0, 0, 1, 1],
        "y": pd.array([0, None, 0, None], dtype="Int64"),
        "v": [1.0, 2.0, 3.0, 4.0],
        "b": [5.0, 5.0, 7.0, 7.0],
    })
    df = spark.createDataFrame(pdf).withColumn("z", F.lit(0)) \
        .withColumn("k", F.lit(1))
    ds = XDataset(df, dims=["x", "z", "y"], coords={"k": ("x", "z")},
                  data_vars=["v", "b"])
    ds.var_dims = {"b": ("x",)}  # partial overlap of the reduced {x, z}
    out = ds.groupby("k").sum()
    rows = {r["y"]: (r["v"], r["b"]) for r in out.df.collect()}
    assert None in rows, "NULL kept-dim label dropped by the re-join"
    assert rows[None] == (6.0, 12.0)
    assert rows[0] == (4.0, 12.0)


# --------------------------------------------------------------------- #
# smoothing spline s= criterion (FITPACK UnivariateSpline(s=...) gap)
# --------------------------------------------------------------------- #

def _spline_series(spark, n=40, gaps=(7, 19, 31)):
    rng = np.random.default_rng(3)
    x = np.arange(n, dtype=float)
    y = np.sin(x / 4.0) + rng.normal(0, 0.15, n)
    y[list(gaps)] = np.nan
    pdf = pd.DataFrame({"t": x, "v": y})
    return pdf, XDataset(spark.createDataFrame(pdf), dims=["t"])


def test_spline_s_zero_equals_interpolating_spline(spark):
    pdf, ds = _spline_series(spark)
    a = (ds.interpolate_na("t", method="smooth_spline", s=0.0)
         .to_pandas().sort_values("t")["v"].to_numpy())
    b = (ds.interpolate_na("t", method="spline")
         .to_pandas().sort_values("t")["v"].to_numpy())
    np.testing.assert_allclose(a, b, rtol=1e-8, atol=1e-10)


def test_spline_s_residual_criterion_holds(spark):
    # the selected fit's residual sum of squares over the VALID points
    # must stay within s and sit near it (largest compliant lam)
    from xarray_spark.missing import _interpolate_na_spline  # noqa: F401
    import xarray_spark.missing as M
    rng = np.random.default_rng(5)
    x = np.arange(60, dtype=float)
    y = np.sin(x / 5.0) + rng.normal(0, 0.2, 60)
    # reach the internals through a driver-side replica of the fit
    pdf = pd.DataFrame({"t": x, "v": y})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    for s in (0.3, 1.0, 3.0):
        out = (ds.interpolate_na("t", method="smooth_spline", s=s)
               .to_pandas().sort_values("t")["v"].to_numpy())
        # no gaps -> output equals input (gap fill only touches NaN)
        np.testing.assert_allclose(out, y)


def test_spline_s_monotone_smoothing(spark):
    # larger s -> smoother fit -> the filled value moves toward the
    # local straight-line blend; tiny s reproduces the wiggly
    # interpolating value
    pdf, ds = _spline_series(spark)
    filled = {}
    for s in (0.0, 2.0, 1e6):
        filled[s] = (ds.interpolate_na("t", method="smooth_spline", s=s)
                     .to_pandas().sort_values("t")["v"].to_numpy())
    y = pdf["v"].to_numpy()
    valid = ~np.isnan(y)
    # huge s: the fill approaches the least-squares line through the
    # valid points, evaluated at the gap
    coef = np.polyfit(pdf["t"].to_numpy()[valid], y[valid], 1)
    line = np.polyval(coef, pdf["t"].to_numpy())
    for g in (7, 19, 31):
        assert abs(filled[1e6][g] - line[g]) < 0.15, (
            g, filled[1e6][g], line[g])
        assert filled[0.0][g] != pytest.approx(filled[1e6][g], abs=1e-6) \
            or abs(filled[0.0][g] - line[g]) < 1e-6


def test_spline_s_and_lam_mutually_exclusive(spark):
    _, ds = _spline_series(spark)
    with pytest.raises(ValueError, match="not both"):
        ds.interpolate_na("t", method="smooth_spline", lam=1.0, s=1.0)
    with pytest.raises(ValueError, match="lam= or s="):
        ds.interpolate_na("t", method="smooth_spline")


# --------------------------------------------------------------------- #
# assign() gaining a new dim
# --------------------------------------------------------------------- #

# --------------------------------------------------------------------- #
# grouped-quantile midbin plan (round-8 middle path)
# --------------------------------------------------------------------- #

def _adversarial_grouped(spark):
    rng = np.random.default_rng(0)
    n = 2000
    pdf = pd.DataFrame({"x": np.arange(n) % 5, "t": np.arange(n),
                        "v": rng.normal(size=n)})
    pdf.loc[rng.choice(n, 150, replace=False), "v"] = np.nan
    extra = pd.DataFrame({
        "x": [5]*6 + [6]*4 + [7]*3 + [8]*5,
        "t": np.arange(n, n + 18),
        "v": [np.inf, -np.inf, 1.0, 2.0, np.inf, -0.0,
              3.25, 3.25, 3.25, 3.25, np.nan, np.nan, np.nan,
              5e-324, 3e-324, 1e308, -1e308, 0.0]})
    pdf = pd.concat([pdf, extra], ignore_index=True)
    return pdf, XDataset(spark.createDataFrame(pdf), dims=["x", "t"])


@pytest.mark.parametrize("method", ["linear", "inverted_cdf",
                                    "median_unbiased", "midpoint"])
def test_midbin_equals_hist_plan(spark, method):
    """The two-scan fixed-bucket plan must be bit-identical to the
    4-pass equi-width histogram plan on adversarial data (±inf,
    subnormals, ±0, constants, all-NaN groups, NaN sprinkle)."""
    from xarray_spark.options import set_options
    _, ds = _adversarial_grouped(spark)
    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    with set_options(grouped_quantile_plan="midbin"):
        a = ds.quantile(qs, dim="t", method=method).to_pandas()
    with set_options(grouped_quantile_plan="hist"):
        b = ds.quantile(qs, dim="t", method=method).to_pandas()
    a = a.sort_values(["x", "quantile"]).reset_index(drop=True)
    b = b.sort_values(["x", "quantile"]).reset_index(drop=True)
    av = a["v"].to_numpy(dtype=float)
    bv = b["v"].to_numpy(dtype=float)
    assert len(av) == len(bv)
    np.testing.assert_array_equal(np.isnan(av), np.isnan(bv))
    m = ~np.isnan(av)
    np.testing.assert_array_equal(av[m], bv[m])


def test_midbin_matches_numpy_on_finite_groups(spark):
    from xarray_spark.options import set_options
    pdf, ds = _adversarial_grouped(spark)
    qs = [0.1, 0.5, 0.9]
    with set_options(grouped_quantile_plan="midbin"):
        got = ds.quantile(qs, dim="t").to_pandas()
    for xg in range(5):  # the finite groups
        vals = pdf[pdf["x"] == xg]["v"].dropna().to_numpy()
        exp = np.quantile(vals, qs)
        g = (got[got["x"] == xg].sort_values("quantile")["v"]
             .to_numpy(dtype=float))
        np.testing.assert_allclose(g, exp, rtol=0, atol=0)


def test_midbin_null_group_labels_and_gate_fallback(spark):
    """NULL group labels survive both the driver finish (which must
    pick the null-safe join) and the distributed tail (forced by a
    tiny collect gate)."""
    from xarray_spark import dataset as D
    from xarray_spark.options import set_options
    pdf = pd.DataFrame({
        "x": pd.array([0, 0, 0, None, None, None, 1, 1, 1],
                      dtype="Int64"),
        "t": range(9),
        "v": [1.0, 2.0, 3.0, 10.0, 20.0, 30.0, 5.0, 6.0, 7.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "t"])
    exp = {0: 2.0, None: 20.0, 1: 6.0}

    def run():
        with set_options(grouped_quantile_plan="midbin"):
            out = ds.quantile([0.5], dim="t").to_pandas()
        return {(None if pd.isna(r["x"]) else int(r["x"])): r["v"]
                for _, r in out.iterrows()}

    assert run() == exp
    orig = D._MIDBIN_HIST_COLLECT_LIMIT
    D._MIDBIN_HIST_COLLECT_LIMIT = 1
    try:
        assert run() == exp  # distributed tail
    finally:
        D._MIDBIN_HIST_COLLECT_LIMIT = orig


def test_midbin_timestamp_and_string_keys(spark):
    """The driver finish matches group keys across TWO collect paths
    (Row.collect = naive session-UTC datetimes, toArrow = tz-aware
    UTC) — timestamp keys must canonicalize identically in both."""
    from xarray_spark.options import set_options
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2020-01-01", "2020-01-01",
                              "2020-01-02", "2020-01-02"] * 3),
        "s": ["a", "b"] * 6,
        "t": range(12),
        "v": [float(i) for i in range(12)],
    })
    ds = XDataset(spark.createDataFrame(pdf), dims=["ts", "s", "t"])
    with set_options(grouped_quantile_plan="midbin"):
        out = (ds.quantile([0.5], dim="t").to_pandas()
               .sort_values(["ts", "s"]))
    assert out["v"].tolist() == \
        pdf.groupby(["ts", "s"])["v"].median().tolist()


def test_grouped_quantile_plan_picker(spark, monkeypatch):
    from xarray_spark import dataset as D
    from xarray_spark.options import set_options
    pdf = pd.DataFrame({"k": [0, 0, 0, 1, 1, 1],
                        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    df = spark.createDataFrame(pdf)

    def auto(buffer, thresh, floor, mid):
        monkeypatch.setattr(D, "_QUANTILE_BUFFER_LIMIT", buffer)
        monkeypatch.setattr(D, "_MIDBIN_THRESHOLD", thresh)
        monkeypatch.setattr(D, "_MIDBIN_TOTAL_FLOOR", floor)
        monkeypatch.setattr(D, "_MIDBIN_LIMIT", mid)
        return D._grouped_quantile_plan(df, ["k"], "v")

    # a forced plan inspects no data and hands no probe
    for plan in ("buffer", "midbin", "hist"):
        with set_options(grouped_quantile_plan=plan):
            assert D._grouped_quantile_plan(df, ["k"], "v") == (plan, None)
    with pytest.raises(ValueError, match="grouped_quantile_plan"):
        set_options(grouped_quantile_plan="fastest")
    # 'auto' at the shipped thresholds buffers a 6-row table for free
    assert D._grouped_quantile_plan(df, ["k"], "v") == ("buffer", None)
    # the two-factor guard: memory cap (buffer), perf crossover
    # (thresh) and the small-total fixed-cost floor (floor); groups of
    # 3 rows in a 6-row table
    plan, probe = auto(buffer=2, thresh=1, floor=1, mid=10**6)
    assert plan == "midbin" and probe is not None
    assert auto(buffer=2, thresh=1, floor=1, mid=2)[0] == "hist"
    # groups over the PERF threshold but under the memory cap buffer
    # only while the total stays under the floor
    assert auto(buffer=100, thresh=2, floor=100, mid=10**6)[0] == "buffer"
    assert auto(buffer=100, thresh=2, floor=1, mid=10**6)[0] == "midbin"
    assert auto(buffer=2, thresh=3, floor=1, mid=10**6)[0] == "buffer"


def test_midbin_bucket_monotone_and_deterministic(spark):
    """_midbin_bucket must be a monotone, deterministic function of the
    double — subnormals, 1/16-octave edges ± 1 ulp, ±max, ±0 and ±inf
    included — with the sentinel ids for ±0, ±inf and null/NaN.  Ids
    are never decoded back into value ranges (both midbin scans match
    rows by id), so only order and repeatability are asserted, plus
    distinct ids per octave."""
    from xarray_spark import dataset as D
    vals = []
    for e in [-1074, -1073, -1022, -100, -1, 0, 1, 52, 1023]:
        base = 2.0 ** e
        for sub in (0, 1, 15):
            edge = (1.0 + sub / 16.0) * base
            vals += [edge, np.nextafter(edge, 0),
                     np.nextafter(edge, np.inf)]
    vals.append(np.finfo(float).max)
    vals = sorted(set(x for x in vals if 0 < x < np.inf))
    vals = ([-np.inf] + [-x for x in reversed(vals)] + [-0.0, 0.0]
            + vals + [np.inf])
    df = spark.createDataFrame(
        list(enumerate([float(x) for x in vals] + [float("nan"), None])),
        "i long, v double")

    def bins(frame):
        out = (frame.select("i", D._midbin_bucket(F.col("v")).alias("b"))
               .toPandas().sort_values("i"))
        return out["b"].to_numpy()

    got = bins(df)
    # the candidate scan recomputes the id in another plan shape
    # (after a shuffle here); the ids must agree row for row
    np.testing.assert_array_equal(got, bins(df.repartition(3, "v")))
    b, tail = got[:len(vals)], got[len(vals):]
    assert (np.diff(b) >= 0).all(), "bucket ids must be monotone"
    assert b[0] == -(1 << 30) and b[-1] == 1 << 30
    zero = [i for i, x in enumerate(vals) if x == 0]
    assert (b[zero] == 0).all()
    finite = np.array([x != 0 and np.isfinite(x) for x in vals])
    assert (np.abs(b[finite]) > 0).all()
    assert (np.abs(b[finite]) < 1 << 30).all()
    assert (np.sign(b[finite]) == np.sign(np.array(vals)[finite])).all()
    assert (tail == D._MIDBIN_NULL).all()
    # whole octaves land in distinct buckets
    octaves = spark.createDataFrame(
        list(enumerate(2.0 ** e for e in range(-30, 30))), "i long, v double")
    assert len(set(bins(octaves))) == 60


@needs_xr
def test_assign_value_with_new_dim_broadcasts(spark):
    base = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0, 1], "v": [1.0, 2.0]})), dims=["x"])
    other = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0, 0, 1, 1], "z": [0, 1, 0, 1],
                      "w": [10.0, 11.0, 12.0, 13.0]})), dims=["x", "z"])
    out = base.assign(w=other)
    assert tuple(out.dims) == ("x", "z")
    ref = xr.Dataset({"v": ("x", [1.0, 2.0])}, coords={"x": [0, 1]})
    rw = xr.DataArray([[10.0, 11.0], [12.0, 13.0]], dims=("x", "z"),
                      coords={"x": [0, 1], "z": [0, 1]})
    rout = ref.assign(w=rw)
    gp = out.to_pandas().sort_values(["x", "z"])
    np.testing.assert_allclose(
        gp["w"].to_numpy(), rout["w"].values.ravel())
    np.testing.assert_allclose(
        gp["v"].to_numpy(), rout["v"].broadcast_like(rout["w"]).values.ravel())
    # v is constant along the new dim -> broadcast-var entry
    assert out.var_dims.get("v") == ("x",)
    # a rank statistic over the new dim must dedup v's copies
    med = out.median("z")
    rmed = rout.median("z")
    mp = med.to_pandas().sort_values("x")
    np.testing.assert_allclose(mp["v"].to_numpy(), rmed["v"].values)
    np.testing.assert_allclose(mp["w"].to_numpy(), rmed["w"].values)
