"""Round-5 operator tests: grouped histogram quantile, EncodedGroups,
bucket-aware window layout, and advisor-fix regressions."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xarray_spark import XDataset, set_options


@pytest.fixture(scope="module")
def gq_ds(spark):
    rng = np.random.RandomState(11)
    n = 4000
    g = rng.randint(0, 5, n)
    v = rng.randn(n).round(6)
    v[rng.choice(n, 60, replace=False)] = np.nan
    pdf = pd.DataFrame({"g": g, "i": np.arange(n), "v": v})
    return XDataset(spark.createDataFrame(pdf), dims=["g", "i"]), pdf


@pytest.mark.parametrize("method", [
    "linear", "lower", "higher", "nearest", "midpoint",
    "inverted_cdf", "averaged_inverted_cdf", "median_unbiased",
])
def test_grouped_hist_quantile_matches_numpy(gq_ds, method):
    ds, pdf = gq_ds
    qs = [0.1, 0.5, 0.9]
    with set_options(grouped_quantile_plan="hist"):
        got = (ds.quantile(qs, dim="i", method=method).to_pandas()
               .sort_values(["g", "quantile"]))
    for g, grp in pdf.groupby("g"):
        vals = grp["v"].dropna().to_numpy()
        exp = np.quantile(vals, qs, method=method)
        sub = got[got["g"] == g].sort_values("quantile")["v"].to_numpy()
        np.testing.assert_allclose(sub, exp, rtol=1e-9, atol=1e-12,
                                   err_msg=f"group {g} method {method}")


def test_grouped_hist_quantile_matches_buffer_path(gq_ds):
    ds, _ = gq_ds
    with set_options(grouped_quantile_plan="hist"):
        hist = (ds.quantile([0.25, 0.75], dim="i").to_pandas()
                .sort_values(["g", "quantile"])["v"].to_numpy())
    with set_options(grouped_quantile_plan="buffer"):
        buf = (ds.quantile([0.25, 0.75], dim="i").to_pandas()
               .sort_values(["g", "quantile"])["v"].to_numpy())
    np.testing.assert_allclose(hist, buf, rtol=1e-9, atol=1e-12)


def test_grouped_hist_quantile_edge_groups(spark):
    """all-null group -> null; constant group -> the constant;
    +/-inf values occupy the sorted tails like numpy."""
    rows = []
    for i in range(50):
        rows.append(("nulls", i, None))
        rows.append(("const", i, 7.5))
        rows.append(("infs", i, float(i)))
    rows.append(("infs", 50, float("-inf")))
    rows.append(("infs", 51, float("inf")))
    pdf = spark.createDataFrame(rows, "g string, i long, v double")
    ds = XDataset(pdf, dims=["g", "i"])
    with set_options(grouped_quantile_plan="hist"):
        out = ds.quantile([0.0, 0.5, 1.0], dim="i").to_pandas()
    o = {(r["g"], r["quantile"]): r["v"] for _, r in out.iterrows()}
    assert all(np.isnan(o[("nulls", q)]) for q in (0.0, 0.5, 1.0))
    assert all(o[("const", q)] == 7.5 for q in (0.0, 0.5, 1.0))
    assert o[("infs", 0.0)] == float("-inf")
    assert o[("infs", 1.0)] == float("inf")
    arr = np.array([float(i) for i in range(50)] + [-np.inf, np.inf])
    np.testing.assert_allclose(o[("infs", 0.5)], np.quantile(arr, 0.5))


def test_groupby_quantile_and_median_hist(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({
        "t": np.arange(600), "k": np.arange(600) % 3,
        "v": rng.randn(600).round(6)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    with set_options(grouped_quantile_plan="hist"):
        got_q = ds.groupby("k").quantile(0.3).to_pandas().sort_values("k")
        got_m = ds.groupby("k").median().to_pandas().sort_values("k")
    for k, grp in pdf.groupby("k"):
        exp_q = np.quantile(grp["v"].to_numpy(), 0.3)
        exp_m = np.median(grp["v"].to_numpy())
        np.testing.assert_allclose(
            got_q[got_q["k"] == k]["v"].iloc[0], exp_q, rtol=1e-9)
        np.testing.assert_allclose(
            got_m[got_m["k"] == k]["v"].iloc[0], exp_m, rtol=1e-9)


def test_groupby_quantile_list_and_methods(spark):
    """GroupBy.quantile accepts a list (quantile dim) and non-linear
    methods, on BOTH the buffer and histogram paths."""
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({
        "t": np.arange(900), "k": np.arange(900) % 3,
        "v": rng.randn(900).round(6)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    for plan in ("buffer", "hist"):
        with set_options(grouped_quantile_plan=plan):
            out = (ds.groupby("k").quantile([0.25, 0.75]).to_pandas()
                   .sort_values(["k", "quantile"]))
            lo = (ds.groupby("k").quantile(0.25, method="lower")
                  .to_pandas().sort_values("k"))
        for k, grp in pdf.groupby("k"):
            vals = grp["v"].to_numpy()
            exp = np.quantile(vals, [0.25, 0.75])
            sub = out[out["k"] == k].sort_values("quantile")["v"].to_numpy()
            np.testing.assert_allclose(sub, exp, rtol=1e-9,
                                       err_msg=f"plan={plan} k={k}")
            exp_lo = np.quantile(vals, 0.25, method="lower")
            np.testing.assert_allclose(
                lo[lo["k"] == k]["v"].iloc[0], exp_lo, rtol=1e-12)


def test_temperature_sample(spark):
    """alpha=1 keeps everything; alpha=0.5 keeps the smallest source
    whole and downsamples big ones toward sqrt share; deterministic
    under repartitioning."""
    from xarray_spark.extras.sampling import temperature_sample
    rows = ([("big", i) for i in range(4000)]
            + [("mid", i) for i in range(1000)]
            + [("small", i) for i in range(250)])
    df = spark.createDataFrame(rows, "src string, id long")
    kept1 = temperature_sample(df, "src", "id", alpha=1.0)
    assert kept1.count() == len(rows)
    kept = temperature_sample(df, "src", "id", alpha=0.5)
    by = {r["src"]: r["n"] for r in
          kept.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by["small"] == 250                      # rate 1 for the min
    # expected rates: sqrt(250/4000)=0.25, sqrt(250/1000)=0.5
    assert abs(by["big"] - 1000) < 80
    assert abs(by["mid"] - 500) < 60
    # partitioning-independence
    re = temperature_sample(df.repartition(13), "src", "id", alpha=0.5)
    assert sorted(r["id"] for r in re.where("src='big'").collect()) == \
           sorted(r["id"] for r in kept.where("src='big'").collect())


def test_dedup_substrings(spark):
    """A k-token span shared by two docs disappears from the
    non-canonical doc; unique text survives; canonical doc intact."""
    from xarray_spark.extras.curation import dedup_substrings
    boiler = "the quick brown fox jumps"
    rows = [
        (1, f"intro one {boiler} tail one"),
        (2, f"{boiler} completely different middle section here"),
        (3, "nothing shared with anyone at all today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_substrings(df, k=5, min_docs=2).collect()}
    assert out[1]["text"] == f"intro one {boiler} tail one"  # canonical
    assert out[1]["n_dropped"] == 0
    assert boiler not in out[2]["text"]
    assert "completely different middle section here" in out[2]["text"]
    assert out[2]["n_dropped"] == 5
    assert out[3]["text"] == rows[2][1]
    assert out[3]["n_dropped"] == 0


def test_semdedup(spark):
    """Near-identical embeddings in the same cell pair up and the
    non-canonical ids drop; orthogonal vectors survive."""
    import numpy as np
    from xarray_spark.extras.similarity import semdedup_pairs, semdedup_keep
    rng = np.random.RandomState(4)
    base = rng.randn(64)
    rows = []
    for i in range(3):                      # 0,1,2 near-identical
        v = base + rng.randn(64) * 0.01
        rows.append((i, [float(x) for x in v]))
    for i in range(3, 10):                  # unrelated
        rows.append((i, [float(x) for x in rng.randn(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semdedup_pairs(df, threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}
    keep = {r["vec_id"] for r in semdedup_keep(df, threshold=0.95).collect()}
    assert keep == {0, 3, 4, 5, 6, 7, 8, 9}


def test_sel_method_scale_path_raises_on_unmatched(spark):
    """>128-request sel(method=) raises at action time (raise_error in
    the plan — no driver job at build; plan guard covers that)."""
    import pandas as pd
    pdf = pd.DataFrame({"t": np.arange(200, dtype=float), "v": np.arange(200.0)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    reqs = [float(i) for i in range(150)] + [9999.0]
    out = ds.sel(t=reqs, method="nearest", tolerance=0.5)
    with pytest.raises(Exception, match="not all values found"):
        out.to_pandas()
    ok = ds.sel(t=[float(i) + 0.2 for i in range(150)], method="nearest",
                tolerance=0.5)
    assert ok.to_pandas().shape[0] == 150


def test_api_parity_tail(spark):
    """Round-5 API sweep additions: get/get_index/variables/drop/
    close/set_close/context manager/load_async/argsort/conj +
    exception classes + Dataset/DataArray aliases."""
    import asyncio
    import pandas as pd
    import xarray_spark as xs
    pdf = pd.DataFrame({"t": [0, 1, 2, 3], "v": [3.0, 1.0, 2.0, 0.5]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    # aliases + exceptions exported
    assert xs.Dataset is XDataset
    assert issubclass(xs.AlignmentError, ValueError)
    assert issubclass(xs.MergeError, ValueError)
    assert xs.ALL_DIMS is ...
    # get / get_index / variables
    assert ds.get("nope", 42) == 42
    assert ds.get("v") is not None
    idx = ds.get_index("t")
    assert list(idx) == [0, 1, 2, 3] and idx.name == "t"
    assert set(ds.variables) == {"v"}
    # drop alias
    assert ds.drop("v").data_vars == ()
    # close / set_close / context manager
    hits = []
    ds.set_close(lambda: hits.append(1))
    with ds as d:
        assert d is ds
    assert hits == [1]
    ds.close()            # idempotent
    assert hits == [1]
    # load_async
    rows = asyncio.get_event_loop().run_until_complete(ds.load_async())
    assert len(rows) == 4
    # argsort matches numpy
    got = (ds.argsort("t").to_pandas().sort_values("t")["v"]
           .to_numpy())
    np.testing.assert_array_equal(got, np.argsort(pdf["v"].to_numpy()))
    # conj on complex struct vars
    from pyspark.sql import functions as F
    cdf = spark.createDataFrame(pd.DataFrame({"t": [0, 1]})).select(
        "t", F.struct(F.lit(1.0).alias("re"), F.lit(2.0).alias("im")).alias("z"))
    zds = XDataset(cdf, dims=["t"])
    zp = zds.conj().to_pandas()
    assert zp["z"].iloc[0]["im"] == -2.0


def test_align_exact_raises_alignment_error(spark):
    import pandas as pd
    from xarray_spark import align, AlignmentError
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "v": [1.0, 2.0]})), dims=["t"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 2], "v": [1.0, 2.0]})), dims=["t"])
    with pytest.raises(AlignmentError):
        align(a, b, join="exact")


def test_dataarray_parity_tail(spark):
    import pandas as pd
    pdf = pd.DataFrame({"t": np.arange(6), "v": [1.0, 3.0, 3.5, 7.0, 9.0, 12.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    da = ds["v"]
    assert da.get_axis_num("t") == 0
    np.testing.assert_array_equal(da.data, pdf["v"].to_numpy())
    # searchsorted matches numpy on scalar + list, both sides
    arr = pdf["v"].to_numpy()
    assert da.searchsorted(3.0) == np.searchsorted(arr, 3.0)
    assert da.searchsorted(3.0, side="right") == np.searchsorted(arr, 3.0, side="right")
    np.testing.assert_array_equal(
        da.searchsorted([0.0, 3.5, 100.0]), np.searchsorted(arr, [0.0, 3.5, 100.0]))
    # dot method form
    other = ds["v"].rename_var("w") if False else ds["v"]
    got = da.dot(other).to_pandas().iloc[0, 0]
    np.testing.assert_allclose(got, float((arr * arr).sum()))
    # T on a 1-D array is identity
    assert da.T.dims == da.dims[::-1]


def test_groupby_rolling_coarsen_surface_tail(spark):
    """Round-5 sweep: GroupBy.cumprod/dims/sizes, Rolling.prod,
    Coarsen.prod/median/all/any vs numpy/pandas semantics."""
    import pandas as pd
    vals = np.array([1.0, 2.0, 3.0, 4.0, 2.0, 0.5])
    pdf = pd.DataFrame({"t": np.arange(6), "k": [0, 0, 0, 1, 1, 1],
                        "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                  coords={"k": ("t",)})
    g = ds.groupby("k")
    assert g.dims == ("k",)
    assert g.sizes == {0: 3, 1: 3}
    got = (g.cumprod().to_pandas().sort_values("t")["v"].to_numpy())
    exp = pdf.groupby("k")["v"].cumprod().to_numpy()
    np.testing.assert_allclose(got, exp)
    # rolling prod
    rp = (ds.rolling(t=2, min_periods=2).prod().to_pandas()
          .sort_values("t")["v"].to_numpy())
    exp_rp = pd.Series(vals).rolling(2, min_periods=2).apply(np.prod).to_numpy()
    np.testing.assert_allclose(rp, exp_rp, equal_nan=True)
    # coarsen prod/median/all/any
    c = ds.coarsen(t=3, boundary="trim")
    np.testing.assert_allclose(
        np.sort(c.prod().to_pandas()["v"].to_numpy()),
        np.sort([vals[:3].prod(), vals[3:].prod()]))
    np.testing.assert_allclose(
        np.sort(c.median().to_pandas()["v"].to_numpy()),
        np.sort([np.median(vals[:3]), np.median(vals[3:])]))
    assert sorted(c.all().to_pandas()["v"]) == [True, True]


def test_datatree_navigation_and_passthrough(spark):
    """Round-5 DataTree surface: path navigation matches the reference
    tree's structure answers; reductions map over every node."""
    import pandas as pd
    from xarray_spark.datatree import DataTree
    mk = lambda v: XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(4), "v": v * np.arange(4.0)})),
        dims=["t"])
    t = DataTree.from_dict({
        "/": mk(1.0), "/a": mk(2.0), "/a/b": mk(3.0), "/c": mk(4.0)})
    assert t.children("/") == ("/a", "/c")
    assert t.children("/a") == ("/a/b",)
    assert t.parent("/a/b") == "/a"
    assert t.parent("/") is None
    assert t.leaves == ("/a/b", "/c")
    assert t.depth == 2 and t.width == 1 and t.width_at('/a') == 2
    assert t.is_leaf("/c") and not t.is_leaf("/a")
    assert t.ancestors("/a/b") == ("/", "/a")
    assert t.find_common_ancestor("/a/b", "/c") == "/"
    assert t.relative_to("/a/b", "/a") == "b"
    assert sorted(t.keys()) == ["/", "/a", "/a/b", "/c"]
    # reduction passthrough maps every node
    m = t.mean("t")
    assert set(m.groups) == set(t.groups)
    np.testing.assert_allclose(
        m["/a/b"].to_pandas()["v"].iloc[0], np.mean(3.0 * np.arange(4)))
    # update is non-mutating
    t2 = t.update({"/c": mk(5.0)})
    np.testing.assert_allclose(
        t2["/c"].to_pandas().sort_values("t")["v"].to_numpy(),
        5.0 * np.arange(4))
    np.testing.assert_allclose(
        t["/c"].to_pandas().sort_values("t")["v"].to_numpy(),
        4.0 * np.arange(4))
    # reference structure agreement
    import sys
    sys.path.insert(0, "/root/reference")
    xr = pytest.importorskip("xarray")  # the reference package is optional
    ref = xr.DataTree.from_dict({
        p: xr.Dataset({"v": ("t", np.arange(4.0))})
        for p in ("/", "/a", "/a/b", "/c")})
    assert t.depth == ref.depth and t.width == ref.width
    assert sorted(l.path for l in ref.leaves) == list(t.leaves)


def test_wave26_str_regex_and_findall(spark):
    """str.count/findall take the column API, not SQL-literal
    interpolation, so backslash classes survive (pandas
    str.count/str.findall semantics; reference accessor_str.py)."""
    import pandas as pd
    pdf = pd.DataFrame({"i": [0, 1, 2], "s": ["a1b22c", "x9", "no"]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["i"])
    out = ds["s"].str.count(r"\d").to_pandas()
    assert sorted(out[out.columns[-1]].tolist()) == [0, 1, 3]
    fa = ds["s"].str.findall(r"\d+").to_pandas()
    assert sorted(map(list, fa[fa.columns[-1]]), key=len) == \
        [[], ["9"], ["1", "22"]]
    # 1-group pattern returns the group, like pandas
    fg = ds["s"].str.findall(r"([a-z])\d").to_pandas()
    assert sorted(map(list, fg[fg.columns[-1]]), key=len) == \
        [[], ["x"], ["a", "b"]]
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        ds["s"].str.findall(r"([a-z])(\d)")


def test_wave26_stacked_tuple_sel_and_to_dataframe(spark):
    """sel on a stacked dim accepts a label tuple (xarray multiindex
    scalar sel); to_dataframe returns a dim-MultiIndex pandas frame
    (reference core/dataset.py:7450)."""
    import itertools
    import pandas as pd
    rows = [(x, y, float(i)) for i, (x, y) in
            enumerate(itertools.product([1, 2], ["a", "b"]), 1)]
    pdf = pd.DataFrame(rows, columns=["x", "y", "v"])
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"])
    st = ds.stack(z=("x", "y"))
    assert st.sel(z=(2, "b")).to_pandas()["v"].tolist() == [4.0]
    import pytest as _pt
    with _pt.raises(KeyError):
        st.sel(z=(2, "b", 1))
    out = ds.to_dataframe()
    assert list(out.index.names) == ["x", "y"]
    assert out.loc[(2, "a"), "v"] == 3.0


def test_wave26_datatree_arithmetic(spark):
    """DataTree arithmetic maps over nodes; tree (+) tree requires
    isomorphic trees (reference DataTree typed-ops mixin)."""
    import pandas as pd
    from xarray_spark.datatree import DataTree
    mk = lambda v: XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(3), "v": v * np.arange(3.0)})),
        dims=["t"])
    t = DataTree.from_dict({"/a": mk(1.0), "/b": mk(2.0)})
    got = (t * 2 + 1)["/b"].to_pandas().sort_values("t")["v"].to_numpy()
    np.testing.assert_allclose(got, 2 * 2.0 * np.arange(3.0) + 1)
    diff = (t - t)["/a"].to_pandas()["v"].to_numpy()
    np.testing.assert_allclose(diff, 0.0)
    neg = sorted((-t)["/b"].to_pandas()["v"].tolist())
    np.testing.assert_allclose(neg, [-4.0, -2.0, 0.0])
    import pytest as _pt
    with _pt.raises(ValueError):
        t + DataTree.from_dict({"/only": mk(1.0)})


def test_wave27_interp_nan_poisoning(spark):
    """interp follows scipy interp1d semantics for NaN SOURCE values
    (reference routes interp to scipy, core/missing.py:486): a NaN
    bracketing value poisons the segment and an exact hit on a NaN
    source is NaN — unlike interpolate_na, which treats NaN as a gap.
    (scipy absent from this runtime: expectations are the hand-derived
    interp1d results.)"""
    import pandas as pd

    def run(xcoord, vals, targets, method="linear"):
        sds = XDataset(spark.createDataFrame(
            pd.DataFrame({"x": np.asarray(xcoord, "float64"),
                          "v": np.asarray(vals, "float64")})), dims=["x"])
        p = sds.interp(x=list(targets), method=method).to_pandas()
        return p.sort_values("x")["v"].to_numpy()

    np.testing.assert_allclose(
        run([0, 1, 2, 3], [0, np.nan, 20, 30], [0.5, 1.5, 2.5]),
        [np.nan, np.nan, 25.0], equal_nan=True)
    np.testing.assert_allclose(
        run([0, 1, 2], [0, np.nan, 20], [1.0]), [np.nan], equal_nan=True)
    np.testing.assert_allclose(
        run([0, 1, 2], [0, np.nan, 20], [0.6], method="nearest"),
        [np.nan], equal_nan=True)
    # clean data unchanged, exact hits exact, out-of-range NaN
    np.testing.assert_allclose(
        run([0, 1, 2], [0, 10, 20], [0.0, 0.5, 5.0]),
        [0.0, 5.0, np.nan], equal_nan=True)


def test_wave27_curvefit_reference_signature(spark):
    """curvefit reference-signature parity (fit.py:311): param names
    inferred from func signature, partial p0 dict, box bounds
    (projected Gauss-Newton), skipna, errors='ignore'."""
    import pandas as pd
    x = np.linspace(0, 5, 40)
    rng = np.random.RandomState(1)
    y = 3.0 * np.exp(-0.8 * x) + 0.05 * rng.randn(40)
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": x, "v": y})), dims=["x"])

    def expdec(t, a, k):
        return a * np.exp(-k * t)

    r = (sds.curvefit("x", expdec).to_pandas()
         .set_index("param")["v_curvefit_coefficients"])
    assert abs(r["a"] - 3.0) < 0.2 and abs(r["k"] - 0.8) < 0.1
    r2 = (sds.curvefit("x", expdec, p0={"a": 2.0},
                       bounds={"k": (0.5, 0.7)}).to_pandas()
          .set_index("param")["v_curvefit_coefficients"])
    assert 0.5 <= r2["k"] <= 0.7
    tiny = XDataset(spark.createDataFrame(
        pd.DataFrame({"x": [0.0], "v": [1.0]})), dims=["x"])
    out = tiny.curvefit("x", expdec, errors="ignore").to_pandas()
    assert np.isnan(out["v_curvefit_coefficients"]).all()
    import pytest as _pt
    with _pt.raises(Exception):
        tiny.curvefit("x", expdec).to_pandas()


def test_wave27_quantile_subnormal_range(spark):
    """Histogram quantile paths survive a subnormal value range:
    (hi-lo)/nbins underflows to 0 while lo < hi — the groups fall to a
    single bin and the candidate sort stays exact (no ANSI /0)."""
    import pandas as pd
    vals = [0.0, 0.0, 0.0, 0.0, 0.0, 5e-324]
    sds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(6), "v": vals})), dims=["t"])
    got = (sds.quantile([0.0, 0.5, 1.0]).to_pandas()
           .sort_values("quantile")["v"].to_numpy())
    np.testing.assert_array_equal(got, np.quantile(vals, [0.0, 0.5, 1.0]))
    # grouped path
    gds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": range(6), "g": [0, 0, 0, 1, 1, 1],
                      "v": vals})), dims=["t"], coords={"g": ("t",)})
    got2 = np.sort(gds.groupby("g").quantile(1.0).to_pandas()["v"].to_numpy())
    np.testing.assert_array_equal(got2, [0.0, 5e-324])
