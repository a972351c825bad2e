"""Round-4 additions: ISO8601 partial-string sel, negative slice step,
EWM cov/corr, coarsen construct/reduce, interp_calendar, complex ufuncs,
multi-dim argmin/argmax, scale-safe list sel(method=)."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xarray_spark import XDataset, interp_calendar
from xarray_spark import ufuncs as xu


@pytest.fixture(scope="module")
def daily(spark):
    base = dt.datetime(1995, 1, 1)
    pdf = pd.DataFrame({
        "t": [base + dt.timedelta(days=i) for i in range(400)],
        "v": np.arange(400, dtype="float64"),
    })
    return XDataset(spark.createDataFrame(pdf), dims=["t"])


# ------------------------------------------------------------------ #
# partial-string time selection
# ------------------------------------------------------------------ #

def test_sel_partial_string_month(daily):
    out = daily.sel(t="1995-06").to_pandas().sort_values("t")
    assert len(out) == 30
    assert out["t"].iloc[0] == pd.Timestamp("1995-06-01")
    assert out["t"].iloc[-1] == pd.Timestamp("1995-06-30")


def test_sel_partial_string_year(daily):
    out = daily.sel(t="1995").to_pandas()
    assert len(out) == 365


def test_sel_partial_string_exact_drops_dim(daily):
    out = daily.sel(t="1995-02-03 00:00:00")
    assert "t" not in out.dims
    assert out.to_pandas()["v"].iloc[0] == 33.0


def test_sel_slice_partial_strings(daily):
    out = daily.sel(t=slice("1995-01", "1995-03")).to_pandas()
    assert len(out) == 31 + 28 + 31
    assert out["t"].max() == pd.Timestamp("1995-03-31")


def test_sel_nonsense_string_falls_back(daily):
    # not ISO8601-like -> exact equality -> empty result, no crash
    assert daily.sel(t=slice("1995-01", "1995-01")).to_pandas().shape[0] == 31


# ------------------------------------------------------------------ #
# negative label-slice step
# ------------------------------------------------------------------ #

def test_sel_negative_step(daily):
    hi, lo = dt.datetime(1995, 12, 31), dt.datetime(1995, 1, 1)
    out = daily.sel(t=slice(hi, lo, -7)).to_pandas().sort_values("t")
    fwd = daily.sel(t=slice(lo, hi, 7)).to_pandas()
    assert len(out) == len(fwd) == 53
    # anchored at the TOP of the range: last label present
    assert out["t"].iloc[-1] == pd.Timestamp("1995-12-31")
    assert out["t"].iloc[0] == pd.Timestamp("1995-01-01")  # 364 % 7 == 0


def test_sel_step_zero_raises(daily):
    with pytest.raises(ValueError):
        daily.sel(t=slice(None, None, 0))


# ------------------------------------------------------------------ #
# list-valued sel(method=) scale path (no driver collect)
# ------------------------------------------------------------------ #

def test_sel_list_nearest_large(daily):
    reqs = [dt.datetime(1995, 1, 1, 1) + dt.timedelta(days=i)
            for i in range(200)]
    out = daily.sel(t=reqs, method="nearest").to_pandas()
    # each request snaps to its own day -> 200 matched labels
    assert len(out) == 200
    assert out["t"].min() == pd.Timestamp("1995-01-01")


def test_sel_list_nearest_small_matches_large(daily):
    reqs = [dt.datetime(1995, 3, 1, 5), dt.datetime(1995, 3, 2, 23)]
    small = daily.sel(t=reqs, method="nearest").to_pandas()
    big = daily.sel(t=reqs * 100, method="nearest").to_pandas()
    assert sorted(small["t"]) == sorted(big["t"].unique())


# ------------------------------------------------------------------ #
# EWM cov / corr
# ------------------------------------------------------------------ #

def test_rolling_exp_cov_corr(spark):
    pdf = pd.DataFrame({"t": range(20),
                        "a": np.sin(np.arange(20.0)),
                        "b": np.cos(np.arange(20.0)) + np.arange(20) * 0.1})
    df = spark.createDataFrame(pdf)
    ds = XDataset(df.select("t", "a"), dims=["t"])
    other = XDataset(df.select("t", "b"), dims=["t"])
    got = (ds.rolling_exp(t=4, window_type="span").cov(other)
           .to_pandas().sort_values("t")["a"].to_numpy())
    exp = pdf["a"].ewm(span=4, min_periods=1).cov(pdf["b"]).to_numpy()
    np.testing.assert_allclose(got[1:], exp[1:], rtol=1e-12)
    gotc = (ds.rolling_exp(t=4, window_type="span").corr(other)
            .to_pandas().sort_values("t")["a"].to_numpy())
    expc = pdf["a"].ewm(span=4, min_periods=1).corr(pdf["b"]).to_numpy()
    np.testing.assert_allclose(gotc[2:], expc[2:], rtol=1e-9)


def test_rolling_exp_cov_grouped(spark):
    pdf = pd.DataFrame({
        "g": [0] * 10 + [1] * 10, "t": list(range(10)) * 2,
        "a": np.arange(20.0), "b": np.arange(20.0) ** 2,
    })
    df = spark.createDataFrame(pdf)
    ds = XDataset(df.select("g", "t", "a"), dims=["g", "t"])
    other = XDataset(df.select("g", "t", "b"), dims=["g", "t"])
    got = (ds.rolling_exp(t=3, window_type="span").cov(other)
           .to_pandas().sort_values(["g", "t"]))
    for g in (0, 1):
        sub = pdf[pdf["g"] == g]
        exp = sub["a"].ewm(span=3, min_periods=1).cov(sub["b"]).to_numpy()
        np.testing.assert_allclose(
            got[got["g"] == g]["a"].to_numpy()[1:], exp[1:], rtol=1e-12)


# ------------------------------------------------------------------ #
# coarsen construct / reduce
# ------------------------------------------------------------------ #

def test_coarsen_construct(spark):
    pdf = pd.DataFrame({"t": range(10), "v": np.arange(10.0)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    out = (ds.coarsen(t=4, boundary="trim").construct(t=("tb", "ti"))
           .to_pandas().sort_values(["tb", "ti"]))
    assert out["tb"].tolist() == [0] * 4 + [1] * 4  # partial block trimmed
    assert out["ti"].tolist() == [0, 1, 2, 3] * 2
    assert "t" in out.columns  # original labels ride along as a coord


def test_coarsen_construct_pad_keeps_partial(spark):
    pdf = pd.DataFrame({"t": range(10), "v": np.arange(10.0)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    out = ds.coarsen(t=4).construct(t=("tb", "ti")).to_pandas()
    assert len(out) == 10  # sparse: partial block present, no NaN rows


def test_coarsen_reduce(spark):
    pdf = pd.DataFrame({"t": range(12), "v": np.arange(12.0) ** 2})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    out = (ds.coarsen(t=4).reduce(np.ptp).to_pandas().sort_values("t"))
    exp = [np.ptp(np.arange(12.0)[i:i + 4] ** 2) for i in (0, 4, 8)]
    np.testing.assert_allclose(sorted(out["v"]), sorted(exp))


# ------------------------------------------------------------------ #
# interp_calendar
# ------------------------------------------------------------------ #

def test_interp_calendar_360_to_standard(spark):
    src_df = (spark.range(360 * 25, 360 * 26)
              .select(F.col("id").cast("long").alias("time"),
                      (F.col("id") - 360 * 25).cast("double").alias("v")))
    src = XDataset(src_df, dims=["time"], attrs={"calendar": "360_day"})
    tgt = [dt.datetime(1995, 1, 1) + dt.timedelta(days=i) for i in range(365)]
    out = interp_calendar(src, tgt, dim="time").to_pandas().sort_values("time")
    assert len(out) == 365
    assert out["v"].iloc[0] == 0.0
    v = out["v"].to_numpy()
    inner = v[~np.isnan(v)]
    assert np.all(np.diff(inner) > 0)          # smooth monotone ramp
    np.testing.assert_allclose(inner[-1], 359.0, atol=1.5)


def test_interp_calendar_standard_to_standard_identity(spark):
    base = dt.datetime(2000, 1, 1)
    pdf = pd.DataFrame({"time": [base + dt.timedelta(days=i) for i in range(50)],
                        "v": np.arange(50.0)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
    out = interp_calendar(ds, list(pdf["time"]), dim="time").to_pandas()
    got = out.sort_values("time")["v"].to_numpy()
    np.testing.assert_allclose(got, np.arange(50.0), atol=1e-6)


# ------------------------------------------------------------------ #
# complex ufuncs
# ------------------------------------------------------------------ #

def test_complex_ufuncs(spark):
    pdf = pd.DataFrame({"re": [1.0, 0.0, -1.0, 3.0], "im": [0.0, 2.0, -1.0, -4.0]})
    df = spark.createDataFrame(pdf).withColumn(
        "z", xu.complex_col(F.col("re"), F.col("im")))
    out = df.select(
        xu.angle(F.col("z")).alias("ang"),
        xu.cabs(F.col("z")).alias("mag"),
        xu.real(F.col("z")).alias("r"),
        xu.imag(F.col("z")).alias("i"),
        xu.real(xu.cmul(F.col("z"), xu.conj(F.col("z")))).alias("zz"),
        xu.imag(xu.cdiv(F.col("z"), F.col("z"))).alias("one_im"),
        xu.real(xu.cexp(F.col("z"))).alias("er"),
        xu.iscomplex(F.col("z")).alias("isc"),
    ).toPandas()
    z = pdf["re"].to_numpy() + 1j * pdf["im"].to_numpy()
    np.testing.assert_allclose(out["ang"], np.angle(z))
    np.testing.assert_allclose(out["mag"], np.abs(z))
    np.testing.assert_allclose(out["zz"], np.abs(z) ** 2)
    np.testing.assert_allclose(out["one_im"], 0.0, atol=1e-12)
    np.testing.assert_allclose(out["er"], np.exp(z).real, rtol=1e-12)
    assert out["isc"].tolist() == [False, True, True, True]


def test_complex_add_sub(spark):
    pdf = pd.DataFrame({"re": [1.0, 0.0, -1.5], "im": [0.0, 2.0, -1.0]})
    df = spark.createDataFrame(pdf).withColumn(
        "z", xu.complex_col(F.col("re"), F.col("im"))).withColumn(
        "w", xu.complex_col(F.col("im"), F.lit(0.25)))
    out = df.select(
        xu.real(xu.cadd(F.col("z"), F.col("w"))).alias("ar"),
        xu.imag(xu.cadd(F.col("z"), F.col("w"))).alias("ai"),
        xu.real(xu.csub(F.col("z"), F.col("w"))).alias("sr"),
        xu.imag(xu.csub(F.col("z"), F.col("w"))).alias("si"),
    ).toPandas()
    z = pdf["re"].to_numpy() + 1j * pdf["im"].to_numpy()
    w = pdf["im"].to_numpy() + 0.25j
    np.testing.assert_array_equal(out["ar"] + 1j * out["ai"], z + w)
    np.testing.assert_array_equal(out["sr"] + 1j * out["si"], z - w)


def test_build_complex(spark):
    pdf = pd.DataFrame({"t": [0, 1], "re": [1.0, 2.0], "im": [3.0, 4.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    z = xu.build_complex(ds, "re", "im")
    assert list(z.data_vars) == ["z"]
    out = xu.cabs(z).to_pandas().sort_values("t")
    np.testing.assert_allclose(out["z"], [np.hypot(1, 3), np.hypot(2, 4)])


# ------------------------------------------------------------------ #
# multi-dim argmin/argmax dict/struct form
# ------------------------------------------------------------------ #

def test_argmax_multidim_first_occurrence(spark):
    pdf = pd.DataFrame([(i, j, float((i * 7 + j * 3) % 11))
                        for i in range(4) for j in range(5)],
                       columns=["x", "y", "v"])
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "y"])
    arr = pdf.pivot(index="x", columns="y", values="v").to_numpy()
    got_max = ds.argmax(["x", "y"]).to_pandas()["v"].iloc[0]
    got_min = ds.argmin(["x", "y"]).to_pandas()["v"].iloc[0]
    exp_max = np.unravel_index(np.argmax(arr), arr.shape)
    exp_min = np.unravel_index(np.argmin(arr), arr.shape)
    assert (got_max["x"], got_max["y"]) == exp_max
    assert (got_min["x"], got_min["y"]) == exp_min


# ------------------------------------------------------------------ #
# round-4 curation extras
# ------------------------------------------------------------------ #

def test_repetition_stats_values(spark):
    import pandas as pd
    from xarray_spark.extras.text import repetition_stats
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b\na b\nc d",      # 1 dup line of 3; top bigram 'a b' 2/5
                 "x y z w",            # no repetition
                 None,                 # NULL doc -> zeroed stats
                 "t t t t t"],         # bigram 't t' 4/4; trigram dups 2/3
    }))
    out = repetition_stats(docs).orderBy("doc_id").toPandas()
    assert out["n_lines"].tolist() == [3, 1, 0, 1]
    assert abs(out["dup_line_frac"][0] - 1 / 3) < 1e-12
    assert abs(out["dup_line_char_frac"][0] - 3 / 9) < 1e-12
    assert abs(out["top_bigram_share"][0] - 2 / 5) < 1e-12
    assert out["dup_trigram_frac"][1] == 0.0
    assert out.iloc[2, 1:].tolist() == [0, 0.0, 0.0, 0.0, 0.0]
    assert out["top_bigram_share"][3] == 1.0
    assert abs(out["dup_trigram_frac"][3] - 2 / 3) < 1e-12


def test_blend_epochs_rates_and_determinism(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from xarray_spark.extras.sampling import blend_epochs
    pdf = pd.DataFrame({"k": range(2000), "src": ["a"] * 1000 + ["b"] * 1000})
    df = spark.createDataFrame(pdf)
    out = blend_epochs(df, {"a": 2.3, "b": 0.25}, "src", "k")
    g = {r["src"]: r for r in out.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"), F.max("epoch").alias("me")).collect()}
    assert abs(g["a"]["n"] / 1000 - 2.3) < 0.1 and g["a"]["me"] == 2
    assert abs(g["b"]["n"] / 1000 - 0.25) < 0.1 and g["b"]["me"] == 0
    # deterministic: same call, same rows
    again = blend_epochs(df, {"a": 2.3, "b": 0.25}, "src", "k")
    assert out.exceptAll(again).isEmpty() and again.exceptAll(out).isEmpty()


def test_blend_epochs_drops_unlisted_sources(spark):
    import pandas as pd
    from xarray_spark.extras.sampling import blend_epochs
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "src": ["a", "zzz"]}))
    out = blend_epochs(df, {"a": 1.0}, "src", "k").toPandas()
    assert set(out["src"]) == {"a"}


def test_dedup_lines(spark):
    import pandas as pd
    from xarray_spark.extras.curation import dedup_lines
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["keep me\nCOOKIE\nunique a", "COOKIE\nunique b",
                 "solo doc", None],
    }))
    out = dedup_lines(docs, min_df=2).orderBy("doc_id").toPandas()
    assert out["text"].tolist() == ["keep me\nunique a", "unique b",
                                    "solo doc", ""]
    assert out["n_kept"].tolist() == [2, 1, 1, 1]   # NULL doc -> one '' line
    assert out["n_dropped"].tolist() == [1, 1, 0, 0]


def test_rolling_argmin_argmax(spark):
    import pandas as pd
    vals = [3., 1., 4., 1., 5., 9., 2., 6.]
    pdf = pd.DataFrame({"t": range(8), "v": vals})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    got_min = ds.rolling(t=3, min_periods=1).argmin().to_pandas().sort_values("t")["v"].tolist()
    got_max = ds.rolling(t=3, min_periods=1).argmax().to_pandas().sort_values("t")["v"].tolist()
    arr = np.array(vals)
    exp_min, exp_max = [], []
    for i in range(8):
        win = np.full(3, np.nan)
        seg = arr[max(0, i - 2):i + 1]
        win[3 - len(seg):] = seg
        exp_min.append(int(np.nanargmin(win)))
        exp_max.append(int(np.nanargmax(win)))
    assert got_min == exp_min and got_max == exp_max


def test_parity_surface(spark):
    import pandas as pd
    pdf = pd.DataFrame({"t": range(5), "v": np.arange(5.0)})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"])
    assert str(ds.dtypes["v"]) == "DoubleType()"
    assert ds.chunks == ds.chunksizes
    assert ds.nbytes > 0
    assert list(ds.indexes) == ["t"] and list(ds.xindexes) == ["t"]
    assert ds.copy().dims == ds.dims
    assert ds.as_numpy() is ds
    import io as _io
    buf = _io.StringIO()
    ds.info(buf)
    assert "dimensions" in buf.getvalue()
    z = xu.build_complex(
        XDataset(spark.createDataFrame(
            pd.DataFrame({"t": [0], "re": [1.0], "im": [2.0]})), dims=["t"]),
        "re", "im")
    assert z.real.to_pandas()["z"].tolist() == [1.0]
    assert z.imag.to_pandas()["z"].tolist() == [2.0]
    # method forms of the calendar ops
    base = pd.DataFrame({"time": pd.date_range("2000-01-01", periods=10),
                         "v": np.arange(10.0)})
    cds = XDataset(spark.createDataFrame(base), dims=["time"])
    assert cds.convert_calendar("noleap", dim="time").to_pandas().shape[0] == 10
    out = cds.interp_calendar(list(base["time"]), dim="time").to_pandas()
    assert out.shape[0] == 10


def test_dataarray_parity_surface(spark):
    import pandas as pd
    from xarray_spark.dataset import XDataArray
    pdf = pd.DataFrame([(i, j, float(i * 10 + j))
                        for i in range(3) for j in range(4)],
                       columns=["x", "y", "v"])
    da = XDataArray(spark.createDataFrame(pdf), dims=["x", "y"])
    assert da.ndim == 2 and da.shape == (3, 4) and da.size == 12
    arr = da.to_numpy()
    assert arr.shape == (3, 4) and arr[2, 3] == 23.0
    one = XDataArray(spark.createDataFrame(pdf[pdf.x == 0][["y", "v"]]),
                     dims=["y"])
    assert list(one.to_index()) == [0, 1, 2, 3]
    # reference semantics (dataarray.py:681): a positional non-dim
    # raises; renaming needs the name kwarg
    with pytest.raises(TypeError):
        da.to_dataset("z")
    ds2 = da.to_dataset(name="z")
    assert list(ds2.data_vars) == ["z"]
    assert da.variable is da
    # sparse data refuses to reshape
    sparse = XDataArray(spark.createDataFrame(pdf.iloc[:-1]), dims=["x", "y"])
    with pytest.raises(ValueError):
        sparse.to_numpy()


def test_groupby_reduce_and_shuffle(spark):
    import pandas as pd
    pdf = pd.DataFrame({"k": ["a"] * 3 + ["b"] * 2, "t": range(5),
                        "v": [1.0, 5.0, 3.0, 2.0, 8.0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"k": ("t",)})
    g = ds.groupby("k")
    out = g.reduce(np.ptp).to_pandas().sort_values("k")
    assert out["v"].tolist() == [4.0, 6.0]
    assert g.shuffle_to_chunks().to_spark().count() == 5
    def summ(p):
        out = p[["v"]].sum().to_frame().T
        out["__key_k"] = p["__key_k"].iloc[0]
        return out
    got = g.apply(summ, "__key_k string, v double")
    assert got.to_spark().count() == 2


def test_datatree_parity(spark):
    import pandas as pd
    from xarray_spark.datatree import DataTree
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "v": [1.0, 2.0]})), dims=["t"])
    tree = DataTree.from_dict({"/": a, "/sub": a})
    t2 = tree.assign({"/x": a}).drop_nodes("/x")
    assert t2.isomorphic(tree) and t2.equals(tree) and t2.identical(tree)
    assert tree.dataset is not None and not tree.is_empty
    assert tree.has_data("/sub")
    assert tree.isel(t=slice(0, 1))["/sub"].to_spark().count() == 1
    assert list(tree.filter_like(DataTree({"/": a}))) == ["/"]
    with pytest.raises(KeyError):
        tree.drop_nodes("/nope")
    assert tree.get("/nope") is None


def test_pq_encode_and_topk(spark):
    import pandas as pd
    from xarray_spark.extras.similarity import pq_encode_fixed, pq_topk_fixed
    from xarray_spark.extras.portable import pq_codebook
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes = pq_encode_fixed(emb).toPandas()
    assert all(len(c) == 8 for c in codes["pq_codes"])
    assert all(0 <= x < 16 for c in codes["pq_codes"] for x in c)
    # numpy replay of the encode on one vector
    row = emb.orderBy("vec_id").first()
    C = np.array(pq_codebook(8, 16, 8), dtype=np.int64)
    Q = np.floor(np.array(row["embedding"], dtype=np.float64) * 1e6
                 ).astype(np.int64).reshape(8, 8)
    d = ((Q[:, None, :] - C) ** 2).sum(axis=2)
    exp = np.argsort(d, axis=1, kind="stable")[:, 0].tolist()
    got = codes.set_index("vec_id").loc[row["vec_id"], "pq_codes"]
    assert list(got) == exp
    qs = emb.limit(2).selectExpr("vec_id AS qid", "embedding")
    out = pq_topk_fixed(emb, qs, kk=3).toPandas()
    assert len(out) == 6 and set(out["rank"]) == {1, 2, 3}


def test_ivfpq_topk(spark):
    from xarray_spark.extras.similarity import ivfpq_topk_fixed, pq_topk_fixed
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.limit(2).selectExpr("vec_id AS qid", "embedding")
    out = ivfpq_topk_fixed(emb, qs, kk=3).toPandas()
    assert set(out["rank"]) <= {1, 2, 3}
    # IVF-PQ distances agree with full-scan PQ for shared candidates
    full = pq_topk_fixed(emb, qs, kk=50).toPandas()
    merged = out.merge(full, on=["qid", "nid"], suffixes=("_ivf", "_full"))
    assert (merged["dist_ivf"] == merged["dist_full"]).all()


def test_testing_module(spark):
    import pandas as pd
    from xarray_spark import testing
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "v": [1.0, 2.0]})), dims=["t"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 0], "v": [2.0, 1.0]})), dims=["t"])
    testing.assert_equal(a, b)
    testing.assert_identical(a, b)
    c = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1], "v": [1.0, 2.0000001]})), dims=["t"])
    with pytest.raises(AssertionError):
        testing.assert_equal(a, c)
    testing.assert_allclose(a, c, rtol=1e-5)
    d = a._replace(attrs={"x": 1})
    with pytest.raises(AssertionError):
        testing.assert_identical(a, d)


# ------------------------------------------------------------------ #
# reference-test replications (xarray/tests/test_calendar_ops.py:277
# test_interp_calendar — same construction, same assertions)
# ------------------------------------------------------------------ #

@pytest.mark.parametrize("direction", ["std_to_360", "360_to_std"])
def test_interp_calendar_reference_ramp(spark, direction):
    """A 0→1 linspace over Jan-Jul 2004 interpolated between calendars:
    min stays exactly 0, max ≈ 1 to 2 decimals (the reference's own
    acceptance test for interp_calendar)."""
    import pandas as pd
    from xarray_spark import cftime as cft
    std = pd.date_range("2004-01-01", "2004-07-30", freq="D")
    std_df = spark.createDataFrame(
        pd.DataFrame({"time": std,
                      "v": np.linspace(0, 1, len(std))}))
    cal_df = cft.cf_date_range(spark, "2004-01-01", "2004-07-30",
                               freq="D", calendar="360_day")
    if direction == "std_to_360":
        src = XDataset(std_df, dims=["time"])
        tgt = XDataset(cal_df, dims=["time"], attrs={"calendar": "360_day"})
    else:
        n = cal_df.count()
        src = XDataset(
            cal_df.withColumn("v", (F.col("time") -
                                    F.lit(cal_df.agg(F.min("time")).first()[0]))
                              .cast("double") / F.lit(float(n - 1))),
            dims=["time"], attrs={"calendar": "360_day"})
        tgt = XDataset(std_df.select("time"), dims=["time"])
    out = interp_calendar(src, tgt, dim="time").to_pandas()
    v = out["v"].dropna()
    assert float(v.min()) == 0.0
    assert abs(float(v.max()) - 1.0) < 0.01


def test_weighted_quantile_reference_values(spark):
    """The reference's own printed acceptance values
    (xarray/tests/test_weighted.py:198 test_weighted_quantile_no_nan,
    computed from Akinshin's published reference implementation)."""
    import pandas as pd
    vals = [1, 1.9, 2.2, 3, 3.7, 4.1, 5]
    cases = [
        ([0.25, 0.05, 0.15, 0.25, 0.15, 0.1, 0.05],
         [1.554595, 2.463784, 3.000000, 3.518378]),
        ([0.05, 0.05, 0.1, 0.15, 0.15, 0.25, 0.25],
         [2.840000, 3.632973, 4.076216, 4.523243]),
    ]
    for ws, exps in cases:
        pdf = pd.DataFrame({"t": range(7), "v": vals, "w": ws})
        ds = XDataset(spark.createDataFrame(pdf), dims=["t"],
                      coords={"w": ("t",)})
        for q, exp in zip([0.2, 0.4, 0.6, 0.8], exps):
            got = ds.weighted("w").quantile(q).to_pandas()["v"].iloc[0]
            assert abs(got - exp) < 1e-5, (q, got, exp)
    # zero weights drop their samples entirely (test_weighted.py:236)
    pdf = pd.DataFrame({"t": range(4), "v": [0.0, 1, 2, 3],
                        "w": [1.0, 0, 1, 0]})
    ds = XDataset(spark.createDataFrame(pdf), dims=["t"], coords={"w": ("t",)})
    assert ds.weighted("w").quantile(0.75).to_pandas()["v"].iloc[0] == 1.5


# ------------------------------------------------------------------ #
# degenerate-input torture: empty, single-row, and all-null datasets
# must not crash core operator families
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def degenerates(spark):
    import pandas as pd
    empty = XDataset(
        spark.createDataFrame([], "t double, v double"), dims=["t"])
    one = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0.0], "v": [1.5]})), dims=["t"])
    nulls = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0.0, 1.0, 2.0],
                      "v": [None, None, None]}).astype({"v": "float64"})),
        dims=["t"])
    return empty, one, nulls


def test_degenerate_reductions(degenerates):
    for ds in degenerates:
        for op in ("mean", "sum", "min", "max", "count", "std"):
            getattr(ds, op)("t").to_pandas()          # must not raise
        ds.quantile(0.5, dim="t").to_pandas()
        ds.cumsum("t").to_pandas()
        ds.rank("t").to_pandas()


def test_degenerate_windows(degenerates):
    for ds in degenerates:
        ds.rolling(t=3, min_periods=1).mean().to_pandas()
        ds.coarsen(t=2).mean().to_pandas()
        ds.rolling_exp(t=3).mean().to_pandas()
        ds.diff("t").to_pandas()
        ds.shift(t=1).to_pandas()


def test_degenerate_missing_data(degenerates):
    for ds in degenerates:
        ds.ffill("t").to_pandas()
        ds.bfill("t").to_pandas()
        ds.interpolate_na("t").to_pandas()
        ds.dropna("t").to_pandas()
        ds.fillna(0.0).to_pandas()


def test_degenerate_selection(degenerates):
    empty, one, nulls = degenerates
    for ds in degenerates:
        ds.isel(t=slice(0, 2)).to_pandas()
        ds.sel(t=slice(0.0, 5.0)).to_pandas()
        ds.head(t=3).to_pandas()
        ds.where(F.col("v") > 0).to_pandas()
    assert one.sel(t=0.0).to_pandas()["v"].iloc[0] == 1.5


def test_degenerate_groupby(degenerates):
    for ds in degenerates:
        ds.groupby("t").mean().to_pandas()
