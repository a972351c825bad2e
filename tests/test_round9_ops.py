"""Round-9 regression pins.

Wave A: the round-8 verdict falsifier — quantile interpolation must use
numpy's TWO-SIDED `_lerp` (numpy/lib/function_base.py::_lerp; the
reference xarray delegates to np.quantile, xarray/core/variable.py:1929):
``a + (b-a)*t`` for t<0.5 else ``b - (b-a)*(1-t)``.  The naive one-sided
form loses the smaller operand's low-order bits under catastrophic
cancellation: the median of {1e6, -999999.9999999999} must be exactly
0.0 (naive gives 1.16e-10).  Pinned DETERMINISTICALLY here because the
falsifying example was drawn by the judge's hypothesis run and
`.hypothesis/` is gitignored.

Every plan and API that interpolates is pinned on the same pair:
buffer/midbin/hist grouped plans, ungrouped quantile, median(),
groupby.quantile, rolling median — so the engine can never again
disagree with itself (round 8 had two different formulas in-tree).
"""

import numpy as np
import pandas as pd
import pytest

from xarray_spark import XDataset, set_options

# the judge's hypothesis-shrunk falsifier (round-8 VERDICT.md)
FALSIFIER_VALS = [0.0, 1e6, 0.0, 0.0, 0.0, -999999.9999999999]
FALSIFIER_NGROUPS = 4
# group 1 = {1e6, -999999.9999999999}; numpy median is exactly 0.0
CANCEL_PAIR = [1e6, -999999.9999999999]


def _falsifier_ds(spark):
    keys = [i % FALSIFIER_NGROUPS for i in range(len(FALSIFIER_VALS))]
    pdf = pd.DataFrame({"t": range(len(FALSIFIER_VALS)), "k": keys,
                        "v": FALSIFIER_VALS})
    return XDataset(spark.createDataFrame(pdf), dims=["t"],
                    coords={"k": ("t",)})


def _expected_groups():
    keys = [i % FALSIFIER_NGROUPS for i in range(len(FALSIFIER_VALS))]
    return {
        g: np.quantile(
            np.array([v for v, kk in zip(FALSIFIER_VALS, keys) if kk == g]),
            0.5, method="linear")
        for g in sorted(set(keys))
    }


# plan forcing via the grouped_quantile_plan option
_PLAN_OPTS = {plan: dict(grouped_quantile_plan=plan)
              for plan in ("buffer", "hist", "midbin")}


@pytest.mark.parametrize("plan", ["buffer", "hist", "midbin"])
def test_lerp_falsifier_grouped_all_plans(spark, plan):
    ds = _falsifier_ds(spark)
    with set_options(**_PLAN_OPTS[plan]):
        got = (ds.groupby("k").quantile(0.5, method="linear").to_pandas()
               .sort_values("k")["v"].to_numpy())
    exp = np.array(list(_expected_groups().values()))
    # bit-exact: the cancellation group must give 0.0, not 1.16e-10
    assert got.tolist() == exp.tolist(), f"plan={plan}: {got} vs {exp}"
    assert got[1] == 0.0


@pytest.mark.parametrize("plan", ["buffer", "hist", "midbin"])
def test_lerp_falsifier_dataset_quantile(spark, plan):
    """Dataset.quantile over one of two real dims (the q15/q39 shape:
    per-k quantile over t)."""
    keys = [i % FALSIFIER_NGROUPS for i in range(len(FALSIFIER_VALS))]
    pdf = pd.DataFrame({"k": keys,
                        "t": [i // FALSIFIER_NGROUPS
                              for i in range(len(FALSIFIER_VALS))],
                        "v": FALSIFIER_VALS})
    ds = XDataset(spark.createDataFrame(pdf), dims=["k", "t"])
    with set_options(**_PLAN_OPTS[plan]):
        got = (ds.quantile(0.5, dim="t", method="linear").to_pandas()
               .sort_values("k")["v"].to_numpy())
    exp = np.array(list(_expected_groups().values()))
    assert got.tolist() == exp.tolist(), f"plan={plan}"


def test_lerp_falsifier_ungrouped(spark):
    """Ungrouped quantile + median() on just the cancellation pair.
    np.quantile(0.5) (two-sided lerp) and np.median (mean-of-middles)
    GENUINELY differ at the last ULP here — verified against the
    reference: quantile gives 0.0, median gives 5.82e-11.  The engine
    must reproduce BOTH."""
    pdf = pd.DataFrame({"t": [0, 1], "v": CANCEL_PAIR})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got_q = ds.quantile(0.5).to_pandas()["v"].iloc[0]
    got_m = ds.median().to_pandas()["v"].iloc[0]
    assert got_q == np.quantile(CANCEL_PAIR, 0.5) == 0.0
    assert got_m == np.median(CANCEL_PAIR) == 5.820766091346741e-11


def test_lerp_falsifier_ungrouped_rank_path(spark):
    """The two-phase-rank fallback path (duplication-adversarial data
    forces it past the histogram) uses the same two-sided lerp."""
    pdf = pd.DataFrame({"t": range(2), "v": CANCEL_PAIR})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = ds._quantile_ungrouped_rank([0.5], "v", "linear").toPandas()
    assert got["v"].iloc[0] == 0.0


def test_lerp_falsifier_groupby_median(spark):
    """GroupBy.median follows np.median (mean-of-middles), like the
    reference's nanmedian — NOT quantile(0.5)."""
    ds = _falsifier_ds(spark)
    got = (ds.groupby("k").median().to_pandas()
           .sort_values("k")["v"].to_numpy())
    keys = [i % FALSIFIER_NGROUPS for i in range(len(FALSIFIER_VALS))]
    exp = np.array([
        np.median([v for v, kk in zip(FALSIFIER_VALS, keys) if kk == g])
        for g in sorted(set(keys))])
    assert got.tolist() == exp.tolist()
    assert got[1] == 5.820766091346741e-11


def test_lerp_falsifier_rolling_median(spark):
    """rolling(2).median() crosses the cancellation pair in one window
    — SQL `percentile` (naive internal lerp) must not be on this path."""
    pdf = pd.DataFrame({"t": [0, 1, 2], "v": [1e6, -999999.9999999999, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.rolling(t=2).median().to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = pdf["v"].rolling(2).median().to_numpy()
    # np.median semantics, bit-equal to the reference's rolling median
    assert got[1] == 5.820766091346741e-11
    np.testing.assert_array_equal(got[1:], exp[1:])
    assert np.isnan(got[0]) and np.isnan(exp[0])


def test_lerp_falsifier_coarsen_median(spark):
    pdf = pd.DataFrame({"t": [0, 1], "v": CANCEL_PAIR})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got = (ds.coarsen(t=2).median().to_pandas()["v"].iloc[0])
    assert got == np.median(CANCEL_PAIR) == 5.820766091346741e-11


@pytest.mark.parametrize("method", [
    "linear", "median_unbiased", "normal_unbiased", "hazen",
    "weibull", "interpolated_inverted_cdf"])
def test_two_sided_lerp_interpolating_methods(spark, method):
    """Every interpolating method gets the two-sided form: quantiles
    drawn at w>=0.5 positions across the cancellation pair equal
    numpy bit-for-bit."""
    vals = [1e6, -999999.9999999999, 3.0, 7.0, 11.0]
    pdf = pd.DataFrame({"t": range(len(vals)), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    qs = [0.1, 0.3, 0.37, 0.5, 0.63, 0.9]
    got = (ds.quantile(qs, method=method).to_pandas()
           .sort_values("quantile")["v"].to_numpy())
    exp = np.quantile(np.array(vals), qs, method=method)
    assert got.tolist() == exp.tolist(), f"method={method}"


def test_engine_plans_agree_bitwise_on_cancellation(spark):
    """Round-8 verdict: grouped and ungrouped quantiles of identical
    data must not differ even at the last ULP (two formulas in-tree).
    All three grouped plans + the ungrouped path, bit-compared."""
    vals = [1e6, -999999.9999999999, 3.141592653589793, -1e6,
            999999.9999999999, 2.718281828459045]
    pdf = pd.DataFrame({"t": range(len(vals)),
                        "k": [0] * len(vals), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                  coords={"k": ("t",)})
    qs = [0.25, 0.5, 0.75]
    results = {}
    for plan, opts in _PLAN_OPTS.items():
        with set_options(**opts):
            results[plan] = (ds.groupby("k").quantile(qs).to_pandas()
                             .sort_values("quantile")["v"].to_numpy())
    ung = (XDataset(spark.createDataFrame(pdf[["t", "v"]]), dims=["t"])
           .quantile(qs).to_pandas().sort_values("quantile")["v"]
           .to_numpy())
    exp = np.quantile(np.array(vals), qs)
    for plan, got in results.items():
        assert got.tolist() == exp.tolist(), f"plan={plan}"
    assert ung.tolist() == exp.tolist()


def test_midbin_timestamp_keys_non_utc_driver(spark):
    """ADVICE r9 #1: the midbin driver finish joins group keys from TWO
    collect paths — Row.collect (naive DRIVER-LOCAL wall datetimes) and
    toArrow (tz-aware UTC).  On a non-UTC driver the naive side used to
    be taken as UTC wall, so timestamp group keys mismatched and at()
    crashed.  Simulate a New-York driver via TZ + tzset (the Row->
    datetime conversion is Python-side) and pin the result."""
    import os
    import time as _time

    import pandas as pd

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        ts = pd.to_datetime(
            ["2024-01-01 00:00:00", "2024-01-01 00:00:00",
             "2024-06-15 12:00:00", "2024-06-15 12:00:00",
             "2024-06-15 12:00:00"])
        pdf = pd.DataFrame({"t": range(5), "k": ts,
                            "v": [1.0, 3.0, 2.0, 4.0, 6.0]})
        ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                      coords={"k": ("t",)})
        with set_options(**_PLAN_OPTS["midbin"]):
            got = (ds.groupby("k").quantile(0.5).to_pandas()
                   .sort_values("k")["v"].to_numpy())
        assert got.tolist() == [2.0, 4.0]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_str_cat_operand_with_extra_dim(spark):
    """ADVICE r9 #2: str.cat with an XDataArray operand whose dims the
    base lacks must BROADCAST (result gains the dim — reference
    accessor_str.py cat), not silently drop the new dim columns and
    leave duplicate rows per declared key."""
    from xarray_spark.dataset import XDataArray

    base = XDataArray(
        spark.createDataFrame(
            pd.DataFrame({"x": [0, 1], "s": ["ab", "cd"]})),
        dims=["x"], data_vars=["s"])
    other = XDataArray(
        spark.createDataFrame(
            pd.DataFrame({"y": [0, 1, 2], "o": ["1", "2", "3"]})),
        dims=["y"], data_vars=["o"])
    r = base.str.cat(other, sep="-")
    assert set(r.dims) == {"x", "y"}
    got = r.to_pandas().sort_values(["x", "y"])
    assert len(got) == 6
    col = [c for c in got.columns if c not in ("x", "y")][0]
    assert got[col].tolist() == [
        "ab-1", "ab-2", "ab-3", "cd-1", "cd-2", "cd-3"]


def test_polyfit_weight_length_mismatch_raises(spark):
    """ADVICE r9 #4: array-like w shorter/longer than the dim raises
    TypeError like np.polyfit, instead of silently null-mapping rows
    out of the fit."""
    pdf = pd.DataFrame({"t": [0.0, 1.0, 2.0, 3.0],
                        "v": [1.0, 3.0, 5.0, 7.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    with pytest.raises(TypeError, match="same length"):
        ds.polyfit("t", 1, w=[1.0, 2.0])
    with pytest.raises(TypeError, match="same length"):
        ds.polyfit("t", 1, w=[1.0] * 7)
    # and the matching-length form still fits
    out = ds.polyfit("t", 1, w=[1.0, 1.0, 1.0, 1.0]).to_pandas()
    cc = out.sort_values("degree")["v_polyfit_coefficients"].to_numpy()
    np.testing.assert_allclose(cc, [1.0, 2.0], atol=1e-9)


@pytest.mark.parametrize("plan", ["auto", "buffer", "midbin", "hist"])
def test_groupby_quantile_broadcast_var_every_plan(spark, plan):
    """GroupBy.quantile runs through Dataset.quantile, so a
    dict-constructor broadcast var (``u`` lacks ``y``) is quantiled
    over its de-duplicated x-values on every plan — its ``y`` copies
    would shift a rank statistic.  The full-dims var ``w`` matches
    numpy over all its values."""
    rng = np.random.RandomState(7)
    nx, ny, nz = 10, 3, 2
    x = np.arange(nx)
    u = rng.randint(0, 100, (nx, nz)).astype(float)
    w = rng.randn(nx, ny, nz)
    ds = XDataset({"u": (("x", "z"), u), "w": (("x", "y", "z"), w)},
                  coords={"x": x, "y": np.arange(ny), "z": np.arange(nz),
                          "g": (("x", "y"),
                                np.repeat((x % 2)[:, None], ny, 1))})
    qs = [0.1, 0.25, 0.9]
    with set_options(grouped_quantile_plan=plan):
        out = ds.groupby("g").quantile(qs)
        got = out.to_pandas().sort_values(["g", "z", "quantile"])
    assert list(out.dims) == ["quantile", "g", "z"]
    for (g, z), sub in got.groupby(["g", "z"]):
        exp_u = np.quantile(u[x % 2 == g, z], qs)
        # the duplicated copies give a different answer, so the dedup
        # is what this pins
        assert not np.allclose(np.quantile(np.repeat(u[x % 2 == g, z], ny),
                                           qs), exp_u)
        np.testing.assert_allclose(sub["u"].to_numpy(), exp_u,
                                   rtol=0, atol=0, err_msg=f"{plan} g={g}")
        np.testing.assert_allclose(sub["w"].to_numpy(),
                                   np.quantile(w[x % 2 == g, :, z], qs),
                                   rtol=1e-12, err_msg=f"{plan} g={g}")


@pytest.mark.parametrize("plan", ["buffer", "midbin", "hist"])
def test_resample_quantile_keeps_empty_bins_every_plan(spark, plan):
    """resample().median()/quantile() materialize the full bin run like
    the other resample reductions: an empty month is a NaN row (one
    per quantile), whichever grouped plan computes the bins."""
    t = pd.to_datetime(["2020-01-05", "2020-01-20", "2020-01-25",
                        "2020-03-02", "2020-03-09"])
    vals = [3.0, 1.0, 2.0, 10.0, 20.0]
    ds = XDataset(spark.createDataFrame(pd.DataFrame({"t": t, "v": vals})),
                  dims=["t"])
    with set_options(grouped_quantile_plan=plan):
        med = ds.resample(t="MS").median().to_pandas().sort_values("t")
        qs = (ds.resample(t="MS").quantile([0.25, 0.75]).to_pandas()
              .sort_values(["t", "quantile"]))
    np.testing.assert_array_equal(med["v"].to_numpy(),
                                  [2.0, np.nan, 15.0])
    np.testing.assert_array_equal(
        qs["v"].to_numpy(),
        [1.5, 2.5, np.nan, np.nan, 12.5, 17.5])
