"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family of the engine
(xarray_spark — see SURVEY.md §2 mapping) over the driver's star-schema
tables; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL.

Float policy: every multi-row floating aggregate is ROUNDed identically
on both sides (3 decimals for large sums, 6 for means/ratios) so the
order-insensitive value hash is stable against summation-order noise.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_spark import XDataset
from xarray_spark.groupers import BinGrouper, SeasonGrouper, TimeResampler
from xarray_spark._utils import local_df as _local_df

def REV():
    """Revenue expression — built lazily so importing this module does
    not require an active SparkContext (the ``1 - col`` arithmetic
    crosses into the JVM)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))

# Epsilon-rounding: money values are exact decimal halves (prices have 2
# decimals, revenue 4), and Spark (BigDecimal HALF_UP on the exact binary
# value) and DuckDB (multiply-then-round) disagree on exact .5 boundaries.
# Adding a sub-resolution epsilon before rounding moves every value off
# the boundary identically on both sides.
def _r3(c): return F.round(c + F.lit(1e-6), 3)
def _r4(c): return F.round(c + F.lit(1e-8), 4)
def _r6(c): return F.round(c + F.lit(1e-9), 6)


# --------------------------------------------------------------------- #
# loaders — star-schema tables as XDatasets (long form; SURVEY.md §1.4)
# --------------------------------------------------------------------- #

_RAW_READS: dict = {}


def _read_raw(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Memoized raw-table scan — the engine's stand-in for a catalog.

    ``spark.read.parquet`` resolves the file listing and infers the
    schema from parquet footers on every call (~0.1 s of driver
    metadata work); a 143-query session re-paid it per query per table.
    The memo holds the LAZY DataFrame (logical plan = schema + file
    listing), never row data: every action over it still scans the
    parquet files in full, so each bench/oracle invocation computes
    from the inputs exactly as before — only the per-session metadata
    resolution is shared, as any metastore-backed table would be.
    Keyed per (application, sf_dir); testdata directories are immutable
    within a session (the file listing is snapshotted at first use)."""
    key = (spark.sparkContext.applicationId, sf_dir, table)
    df = _RAW_READS.get(key)
    if df is None:
        if table == "events":
            # older testdata generations store ts as TIMESTAMP(NANOS),
            # which the vectorized reader rejects — surface as long
            # (then _normalize_event_ts converts); set BEFORE the read
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        _RAW_READS[key] = df
    return df


def _lineitem(spark: SparkSession, sf_dir: str) -> XDataset:
    df = _read_raw(spark, sf_dir, "lineitem")
    return XDataset(
        df,
        dims=["l_orderkey", "l_linenumber"],
        coords={
            "l_shipdate": ("l_orderkey", "l_linenumber"),
            "l_returnflag": ("l_orderkey", "l_linenumber"),
            "l_linestatus": ("l_orderkey", "l_linenumber"),
        },
    )


def _orders(spark: SparkSession, sf_dir: str) -> XDataset:
    df = _read_raw(spark, sf_dir, "orders")
    return XDataset(
        df,
        dims=["o_orderkey"],
        coords={
            "o_orderdate": ("o_orderkey",),
            "o_orderstatus": ("o_orderkey",),
            "o_orderpriority": ("o_orderkey",),
        },
    )


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Events ``ts`` arrives either as a real TIMESTAMP (current driver
    testdata) or as raw INT64 nanos (older generations stored
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects — the
    ``nanosAsLong`` conf surfaces them as longs).  Convert only in the
    long case, truncating to microseconds to match DuckDB's ns->us cast.

    Parquet timestamps without a timezone flag come back as
    TIMESTAMP_NTZ, which ``unix_micros`` / streaming watermarks reject —
    cast to TIMESTAMP (instant-preserving: the session timezone is
    pinned to UTC in session.py)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _events(spark: SparkSession, sf_dir: str) -> XDataset:
    # nanosAsLong conf is set inside _read_raw before the first read
    df = _normalize_event_ts(_read_raw(spark, sf_dir, "events"))
    return XDataset(
        df,
        dims=["event_id"],
        coords={
            "ts": ("event_id",),
            "event_type": ("event_id",),
            "user_id": ("event_id",),
        },
    )


def _daily_revenue(spark: SparkSession, sf_dir: str) -> XDataset:
    """Shared building block: revenue per ship date (rounded)."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    return li.groupby("l_shipdate").agg(rev=_r3(F.sum("rev")))


_DAILY_SQL = (
    "SELECT l_shipdate, ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev "
    "FROM lineitem GROUP BY l_shipdate"
)


# --------------------------------------------------------------------- #
# queries
# --------------------------------------------------------------------- #

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filter + multi-agg groupby (SURVEY §2.4/2.5)."""
    li = _lineitem(spark, sf_dir).assign(
        disc_price=REV(), charge=REV() * (1 + F.col("l_tax"))
    )
    ds = li.query("l_shipdate <= timestamp '1998-09-02 00:00:00'")
    g = ds.groupby(["l_returnflag", "l_linestatus"]).agg(
        sum_qty=_r3(F.sum("l_quantity")),
        sum_base_price=_r3(F.sum("l_extendedprice")),
        sum_disc_price=_r3(F.sum("disc_price")),
        sum_charge=_r3(F.sum("charge")),
        avg_qty=_r6(F.avg("l_quantity")),
        avg_price=_r6(F.avg("l_extendedprice")),
        avg_disc=_r6(F.avg("l_discount")),
        count_order=F.count(F.lit(1)),
    )
    return g.to_spark()


def q02_sel_label_slice(spark, sf_dir):
    """sel with an inclusive label slice (SURVEY §2.2; xarray
    core/dataset.py:3018 slice semantics)."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    sub = li.sel(l_shipdate=slice("1995-01-01", "1995-12-31"))
    out = sub.groupby("l_returnflag").agg(
        revenue=_r3(F.sum("rev")), n=F.count(F.lit(1))
    )
    return out.to_spark()


def q03_isel_head(spark, sf_dir):
    """head = positional isel on the label table (SURVEY §2.2)."""
    li = _lineitem(spark, sf_dir)
    sub = li.head(l_shipdate=30)
    out = sub.groupby("l_shipdate").agg(
        n=F.count(F.lit(1)), qty=_r3(F.sum("l_quantity"))
    )
    return out.to_spark()


def q04_where_mask(spark, sf_dir):
    """where(cond, other) predicated masking (xarray core/common.py:1131)."""
    li = _lineitem(spark, sf_dir)
    qty = li["l_quantity"].where(F.col("l_quantity") > 25, other=0.0)
    out = qty.groupby("l_returnflag").agg(
        qty_masked=_r3(F.sum("l_quantity")), n=F.count(F.lit(1))
    )
    return out.to_spark()


def q05_orders_groupby(spark, sf_dir):
    """UniqueGrouper groupby-agg (xarray groupers.py:210)."""
    o = _orders(spark, sf_dir)
    out = o.groupby("o_orderpriority").agg(
        n=F.count(F.lit(1)),
        total=_r3(F.sum("o_totalprice")),
        avg_price=_r6(F.avg("o_totalprice")),
    )
    return out.to_spark()


def q06_groupby_bins(spark, sf_dir):
    """BinGrouper, pandas.cut right-closed semantics (groupers.py:344)."""
    li = _lineitem(spark, sf_dir)
    g = li.groupby(l_quantity=BinGrouper(
        bins=[0, 10, 20, 30, 40, 50],
        labels=["0-10", "10-20", "20-30", "30-40", "40-50"],
    ))
    out = g.agg(n=F.count(F.lit(1)), base=_r3(F.sum("l_extendedprice")))
    return out.to_spark().withColumnRenamed("l_quantity_bins", "bin")


def q07_resample_monthly(spark, sf_dir):
    """TimeResampler monthly mean (groupers.py:474)."""
    o = _orders(spark, sf_dir)
    out = o.resample(o_orderdate="MS").agg(
        n=F.count(F.lit(1)), avg_total=_r6(F.avg("o_totalprice"))
    )
    return out.to_spark().withColumnRenamed("o_orderdate", "month")


def q08_resample_daily_events(spark, sf_dir):
    """Daily resample over the events stream table."""
    ev = _events(spark, sf_dir)
    out = ev.resample(ts="D").agg(
        n=F.count(F.lit(1)), total=_r3(F.sum("value"))
    )
    return out.to_spark().withColumnRenamed("ts", "day")


def q09_season_groupby(spark, sf_dir):
    """SeasonGrouper incl. cross-year DJF (groupers.py:801)."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    g = li.groupby(l_shipdate=SeasonGrouper())
    out = g.agg(revenue=_r3(F.sum("rev")), n=F.count(F.lit(1)))
    return out.to_spark().withColumnRenamed("l_shipdate", "season")


def q10_rolling_mean(spark, sf_dir):
    """rolling(window=7).mean() with min_periods=window default
    (xarray computation/rolling.py:56)."""
    daily = _daily_revenue(spark, sf_dir)
    roll = daily.rolling(l_shipdate=7).mean()
    out = roll.assign(rev7=_r3(F.col("rev"))).drop_vars("rev")
    return out.to_spark()


def q11_cumsum(spark, sf_dir):
    """cumsum along a dim (window scan, SURVEY §2.4)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.cumsum("l_shipdate").assign(
        cum_rev=_r3(F.col("rev"))
    ).drop_vars("rev")
    return out.to_spark()


def q12_diff(spark, sf_dir):
    """diff: first discrete difference, first label dropped
    (xarray core/dataset.py:7879)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.diff("l_shipdate").assign(
        d_rev=_r3(F.col("rev"))
    ).drop_vars("rev")
    return out.to_spark()


def _masked_purchase_daily(spark, sf_dir):
    ev = _events(spark, sf_dir).sel(event_type="purchase", drop=True)
    daily = ev.resample(ts="D").agg(v=F.avg("value"))
    # mask low days -> nulls to exercise the fill/interp machinery
    return daily.where(F.col("v") >= 10.0)


_MASKED_SQL = (
    "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts, "
    "CASE WHEN AVG(value) >= 10.0 THEN AVG(value) END AS v "
    "FROM events WHERE event_type = 'purchase' GROUP BY 1"
)


def q13_ffill(spark, sf_dir):
    """ffill: forward-fill nulls along time (xarray core/dataset.py:6716)."""
    daily = _masked_purchase_daily(spark, sf_dir)
    out = daily.ffill("ts").assign(v=_r6(F.col("v")))
    return out.to_spark()


def q14_interpolate_na(spark, sf_dir):
    """interpolate_na(linear) over interior gaps (xarray core/missing.py:331)."""
    daily = _masked_purchase_daily(spark, sf_dir)
    out = daily.interpolate_na("ts", method="linear").assign(v=_r6(F.col("v")))
    return out.to_spark()


def q15_quantile(spark, sf_dir):
    """Exact linear-interpolation quantiles → new 'quantile' dim
    (xarray core/dataset.py:8237)."""
    li = _lineitem(spark, sf_dir)
    da = li["l_extendedprice"]
    out = da.quantile([0.1, 0.25, 0.5, 0.75, 0.9])
    return out.to_spark().withColumn("l_extendedprice", _r4(F.col("l_extendedprice")))


def q16_groupby_median(spark, sf_dir):
    """Per-group median (percentile 0.5, exact)."""
    li = _lineitem(spark, sf_dir)
    out = li["l_extendedprice"].groupby("l_returnflag").median()
    return out.to_spark().withColumn("l_extendedprice", _r4(F.col("l_extendedprice")))


def q17_rank(spark, sf_dir):
    """Average-method rank (xarray core/dataset.py:8416)."""
    sup = XDataset(
        _read_raw(spark, sf_dir, "supplier"),
        dims=["s_suppkey"],
    )
    out = sup["s_acctbal"].rank("s_suppkey")
    return out.to_spark().select("s_suppkey", F.col("s_acctbal").alias("bal_rank"))


def q18_idxmax(spark, sf_dir):
    """idxmax: label of the maximum (max_by; xarray core/dataset.py:9349)."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    byday = li.groupby(["l_returnflag", "l_shipdate"]).agg(rev=_r3(F.sum("rev")))
    out = byday.idxmax("l_shipdate")
    return out.to_spark().withColumnRenamed("rev", "best_day")


def q19_binary_align(spark, sf_dir):
    """Auto-aligning binary op: inner join on shared dim then subtract
    (xarray core/dataset.py:7783)."""
    cust = XDataset(
        _read_raw(spark, sf_dir, "customer").withColumnRenamed("c_nationkey", "nationkey"),
        dims=["c_custkey"],
        coords={"nationkey": ("c_custkey",)},
    )
    supp = XDataset(
        _read_raw(spark, sf_dir, "supplier").withColumnRenamed("s_nationkey", "nationkey"),
        dims=["s_suppkey"],
        coords={"nationkey": ("s_suppkey",)},
    )
    a = cust.groupby("nationkey").agg(bal=_r3(F.sum("c_acctbal")))
    b = supp.groupby("nationkey").agg(bal=_r3(F.sum("s_acctbal")))
    diff = a - b
    out = diff.assign(bal=_r3(F.col("bal")))
    return out.to_spark()


def q20_concat(spark, sf_dir):
    """concat along an existing dim = union (xarray structure/concat.py:605)."""
    from xarray_spark import concat
    li = _lineitem(spark, sf_dir)
    a = li.sel(l_shipdate=slice("1996-01-01", "1996-12-31"))
    b = li.sel(l_shipdate=slice("1998-01-01", "1998-12-31"))
    both = concat([a, b], dim="l_orderkey")
    out = both.assign(y=F.year("l_shipdate")).groupby("y").agg(
        n=F.count(F.lit(1)), qty=_r3(F.sum("l_quantity"))
    )
    return out.to_spark()


def q21_reindex_fill(spark, sf_dir):
    """reindex onto a full calendar with fill_value
    (xarray core/dataset.py:3546)."""
    import pandas as pd
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    d96 = li.sel(l_shipdate=slice("1996-01-01", "1996-12-31"))
    daily = d96.groupby("l_shipdate").agg(rev=_r3(F.sum("rev")))
    cal = [t.to_pydatetime() for t in pd.date_range("1996-01-01", "1996-12-31", freq="D")]
    out = daily.reindex(l_shipdate=cal, fill_value=0.0)
    return out.to_spark()


def q22_pivot(spark, sf_dir):
    """unstack-style pivot: dim labels → columns (xarray
    core/dataset.py:5597 / to_unstacked_dataset)."""
    li = _lineitem(spark, sf_dir)
    byrf = li.groupby(["l_linestatus", "l_returnflag"]).agg(qty=_r3(F.sum("l_quantity")))
    out = byrf.to_dataset_pivot("l_returnflag", "qty")
    return out.to_spark()


def q23_weighted_mean(spark, sf_dir):
    """Weighted mean (xarray computation/weighted.py:135)."""
    df = _read_raw(spark, sf_dir, "lineitem")
    ds = XDataset(
        df,
        dims=["l_returnflag", "l_orderkey", "l_linenumber"],
        coords={"l_quantity": ("l_orderkey", "l_linenumber")},
        data_vars=["l_discount"],
    )
    out = ds.weighted("l_quantity").mean(dim=["l_orderkey", "l_linenumber"])
    return out.to_spark().select(
        "l_returnflag", _r6(F.col("l_discount")).alias("wavg_disc")
    )


def q24_integrate(spark, sf_dir):
    """Trapezoidal integration along time (xarray core/dataset.py:8545),
    with an explicit datetime_unit='s' (the engine's temporal default is
    'ns' since round 9, matching the reference's datetime64[ns] rule —
    the oracle's epoch() arithmetic is second-based)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.integrate("l_shipdate", datetime_unit="s")
    return out.to_spark().select(_r3(F.col("rev") / 1e9).alias("integral_b"))


def q25_polyfit(spark, sf_dir):
    """Degree-1 polyfit via Vandermonde moments + tiny solve
    (xarray computation/fit.py:101)."""
    df = _read_raw(spark, sf_dir, "lineitem")
    ds = XDataset(df, dims=["l_quantity"], data_vars=["l_extendedprice"])
    fit = ds.polyfit("l_quantity", deg=1)
    return fit.to_spark().select(
        "degree",
        _r4(F.col("l_extendedprice_polyfit_coefficients")).alias("coef"),
    )


def q26_corr(spark, sf_dir):
    """Pearson correlation between two variables per group
    (xarray computation/computation.py:152)."""
    from xarray_spark import corr
    from xarray_spark.dataset import XDataArray
    df = _read_raw(spark, sf_dir, "lineitem")
    dims = ["l_returnflag", "l_orderkey", "l_linenumber"]
    a = XDataArray(df, dims, {}, ["l_quantity"])
    b = XDataArray(df, dims, {}, ["l_extendedprice"])
    out = corr(a, b, dim=["l_orderkey", "l_linenumber"])
    return out.to_spark().select("l_returnflag", _r6(F.col("corr")).alias("corr"))


def q27_str_ops(spark, sf_dir):
    """String accessor ops (xarray core/accessor_str.py)."""
    docs = XDataset(
        _read_raw(spark, sf_dir, "documents"),
        dims=["doc_id"],
        coords={"lang": ("doc_id",), "source": ("doc_id",)},
    )
    has_spark = docs["text"].str.contains("\\bspark\\b")
    out = has_spark.groupby("lang").agg(
        n_spark=F.sum(F.col("text").cast("int")), n=F.count(F.lit(1))
    )
    return out.to_spark()


def q28_dt_fields(spark, sf_dir):
    """Datetime accessor fields, pandas dayofweek convention
    (xarray core/accessor_dt.py)."""
    ev = _events(spark, sf_dir)
    dow = ev["ts"].dt.dayofweek
    out = dow.groupby("ts").agg(n=F.count(F.lit(1)))
    return out.to_spark().withColumnRenamed("ts", "dow")


def q29_reindex_nearest(spark, sf_dir):
    """reindex(method='nearest') — as-of matching on the label table
    (xarray core/dataset.py:3546, PandasIndex.sel method semantics)."""
    import datetime as dt
    daily = _daily_revenue(spark, sf_dir)
    # sparse series: keep only high-revenue days, then as-of match
    hi = daily.query("rev >= 100000.0")
    targets = [dt.datetime(1996, m, 15) for m in range(1, 13)]
    out = hi.reindex(l_shipdate=targets, method="nearest")
    return out.to_spark()


def q30_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized text fingerprint (extras.dedup)."""
    from xarray_spark.extras.dedup import dedup_exact
    docs = _read_raw(spark, sf_dir, "documents")
    kept = dedup_exact(docs, "text", "doc_id")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q31_text_features(spark, sf_dir):
    """Token count / punct ratio / quality score (extras.text)."""
    from xarray_spark.extras.text import punct_ratio, quality_score, token_count
    docs = _read_raw(spark, sf_dir, "documents")
    t = F.col("text")
    feat = docs.select(
        "source",
        token_count(t).alias("ntok"),
        punct_ratio(t).alias("pr"),
        quality_score(t).alias("q"),
    )
    return feat.groupBy("source").agg(
        F.sum("ntok").alias("total_tokens"),
        _r6(F.avg("pr")).alias("avg_punct"),
        _r6(F.avg("q")).alias("avg_quality"),
    )


def q32_language_id(spark, sf_dir):
    """Stopword-marker language ID heuristic (extras.text.language_id)."""
    from xarray_spark.extras.text import language_id
    docs = _read_raw(spark, sf_dir, "documents")
    out = docs.select(language_id(F.col("text")).alias("lang_guess"))
    return out.groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n"))


def q33_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (extras.similarity)."""
    from xarray_spark.extras.similarity import cosine_topk
    emb = _read_raw(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    out = cosine_topk(emb, queries, k=3)
    return out.select(
        "qid", "nid", _r4(F.col("cos")).alias("cos"), "rank"
    )


def q34_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup candidates (extras.dedup) with the
    md5-derived portable hashes (extras.portable), so the full banded
    pipeline — shingle → 64 universal minhashes → 16-band equi-join →
    signature-estimated Jaccard — is verified bit-for-bit against a
    DuckDB oracle that recomputes the identical signatures."""
    from xarray_spark.extras.dedup import minhash_lsh_pairs
    docs = _read_raw(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.2, hash_mode="portable")
    return pairs.select("id_a", "id_b", _r6(F.col("jaccard_est")).alias("jaccard_est"))


def q35_simhash(spark, sf_dir):
    """SimHash near-dup pairs at hamming ≤ 10 over the 60-bit portable
    fingerprint (extras.dedup).  The k+1-block pigeonhole bucketing
    guarantees exact recall for the requested radius, so the result
    EQUALS the brute-force all-pairs oracle — which is exactly what the
    DuckDB side computes (125k pairs at gate scale)."""
    from xarray_spark.extras.dedup import simhash_near_dups
    docs = _read_raw(spark, sf_dir, "documents")
    return simhash_near_dups(docs, max_hamming=10, bits=60, hash_mode="portable")


def q36_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: Arrow-batched feature extraction PLUS the
    decode → bilinear-resize pipeline over binary media
    (extras.multimodal) — rows-only check (codec kernel is the
    documented deterministic fake; resize is real numpy math)."""
    from xarray_spark.extras.multimodal import (
        decode_image, extract_features, resize_image, synth_media_table,
    )
    media = synth_media_table(spark, n=64)
    feats = extract_features(media)
    resized = resize_image(decode_image(media), 4, 4).select(
        "media_id", F.size("pixels").alias("n_px"))
    return (feats.join(resized, on="media_id")
            .select("media_id", "n_bytes", F.size("feature").alias("dim"), "n_px"))


def q37_coarsen_weekly(spark, sf_dir):
    """coarsen(7, boundary='trim'): non-overlapping positional blocks
    (xarray computation/rolling.py:1023)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.coarsen(l_shipdate=7, boundary="trim").mean()
    return out.to_spark().select("l_shipdate", _r6(F.col("rev")).alias("rev7"))


def q38_shift(spark, sf_dir):
    """shift: values move, labels stay (xarray core/dataset.py:7967)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.shift(l_shipdate=1)
    return out.to_spark().select("l_shipdate", _r3(F.col("rev")).alias("prev_rev"))


def q39_groupby_quantile(spark, sf_dir):
    """Per-group exact linear-interp quantile (xarray core/groupby.py:1285)."""
    li = _lineitem(spark, sf_dir)
    out = li["l_extendedprice"].groupby("l_returnflag").quantile(0.9)
    return out.to_spark().select(
        "l_returnflag", _r4(F.col("l_extendedprice")).alias("p90")
    )


def q40_dropna(spark, sf_dir):
    """dropna: drop dim labels with nulls (xarray core/dataset.py:6355)."""
    daily = _masked_purchase_daily(spark, sf_dir)
    out = daily.dropna("ts")
    return out.to_spark().select("ts", _r6(F.col("v")).alias("v"))


def q41_dot(spark, sf_dir):
    """Tensor contraction: join-free sum(a*b) per group
    (xarray computation/computation.py:484)."""
    from xarray_spark import dot
    from xarray_spark.dataset import XDataArray
    df = _read_raw(spark, sf_dir, "lineitem")
    dims = ["l_returnflag", "l_orderkey", "l_linenumber"]
    a = XDataArray(df, dims, {}, ["l_quantity"])
    b = XDataArray(df, dims, {}, ["l_discount"])
    out = dot(a, b, dim=["l_orderkey", "l_linenumber"])
    return out.to_spark().select(
        "l_returnflag", _r3(F.col("l_quantity_dot")).alias("qd")
    )


def q42_stopword_ratio(spark, sf_dir):
    """Stopword-ratio text feature (extras.text.stopword_ratio)."""
    from xarray_spark.extras.text import stopword_ratio
    docs = _read_raw(spark, sf_dir, "documents")
    feat = docs.select("lang", stopword_ratio(F.col("text")).alias("sw"))
    return feat.groupBy("lang").agg(_r6(F.avg("sw")).alias("avg_sw"))


def q43_bfill(spark, sf_dir):
    """bfill: next-valid backward fill (xarray core/dataset.py:6780)."""
    daily = _masked_purchase_daily(spark, sf_dir)
    out = daily.bfill("ts").assign(v=_r6(F.col("v")))
    return out.to_spark()


def q44_differentiate(spark, sf_dir):
    """Central-difference gradient along time, scaled to per-day
    (xarray core/dataset.py:8475); explicit datetime_unit='s' to match
    the oracle's epoch() arithmetic (engine temporal default is 'ns'
    since round 9)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.differentiate("l_shipdate", datetime_unit="s")
    return out.to_spark().select(
        "l_shipdate", _r6(F.col("rev") * 86400.0).alias("drev_per_day")
    )


def q45_resample_asfreq(spark, sf_dir):
    """resample(...).asfreq(): per-bin value at each monthly label.
    The reference implements asfreq as ``self.mean(dim)``
    (core/resample.py:383-392) — bin MEAN plus full-index densify,
    not first-per-bin (wave-50 parity fix; the two coincide only when
    upsampling)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.resample(l_shipdate="MS").asfreq()
    return out.to_spark().select(
        F.col("l_shipdate").alias("month"), _r3(F.col("rev")).alias("rev")
    )


def q46_resample_6h(spark, sf_dir):
    """Multi-unit frequency (6h epoch buckets) over the events stream."""
    ev = _events(spark, sf_dir)
    out = ev.resample(ts="6h").agg(n=F.count(F.lit(1)), total=_r3(F.sum("value")))
    return out.to_spark().withColumnRenamed("ts", "bucket")


def q47_weighted_var(spark, sf_dir):
    """Weighted variance (xarray computation/weighted.py:319 family)."""
    df = _read_raw(spark, sf_dir, "lineitem")
    ds = XDataset(
        df,
        dims=["l_returnflag", "l_orderkey", "l_linenumber"],
        coords={"l_quantity": ("l_orderkey", "l_linenumber")},
        data_vars=["l_discount"],
    )
    out = ds.weighted("l_quantity").var(dim=["l_orderkey", "l_linenumber"])
    return out.to_spark().select(
        "l_returnflag", _r6(F.col("l_discount")).alias("wvar_disc")
    )


def q48_cov(spark, sf_dir):
    """Sample covariance per group (xarray computation/computation.py:46)."""
    from xarray_spark import cov
    from xarray_spark.dataset import XDataArray
    df = _read_raw(spark, sf_dir, "lineitem")
    dims = ["l_returnflag", "l_orderkey", "l_linenumber"]
    a = XDataArray(df, dims, {}, ["l_quantity"])
    b = XDataArray(df, dims, {}, ["l_extendedprice"])
    out = cov(a, b, dim=["l_orderkey", "l_linenumber"])
    return out.to_spark().select("l_returnflag", _r4(F.col("cov")).alias("cov"))


def q49_fingerprint_distinct(spark, sf_dir):
    """Document fingerprinting: distinct normalized-text count per source
    (extras.text.fingerprint)."""
    from xarray_spark.extras.text import fingerprint
    docs = _read_raw(spark, sf_dir, "documents")
    return docs.select("source", fingerprint(F.col("text")).alias("fp")).groupBy(
        "source"
    ).agg(
        F.count_distinct("fp").alias("n_unique"), F.count(F.lit(1)).alias("n_docs")
    )


def q50_rolling_exp(spark, sf_dir):
    """EWM mean over daily revenue (xarray computation/rolling_exp.py:49).
    Oracle: the adjust=True recurrence N_i = x_i + (1-α)N_{i-1},
    D_i = 1 + (1-α)D_{i-1} unrolled with a linear recursive CTE."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.rolling_exp(l_shipdate=7).mean()
    return out.to_spark().select("l_shipdate", _r3(F.col("rev")).alias("ewm_rev"))


def q51_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k (extras.similarity.lsh_topk),
    portable mode: md5-derived INTEGER hyperplanes over floor-quantized
    vectors make bucket membership engine-exact, so the DuckDB oracle
    replays the same bucketing + rounded-cosine re-rank and the result
    hash-matches despite the operator being approximate."""
    from xarray_spark.extras.similarity import lsh_topk
    emb = _read_raw(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    return lsh_topk(emb, queries, k=3, n_planes=4, hash_mode="portable")


def q52_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, banded sign-LSH
    (extras.similarity.embedding_near_dups) — rows-only.

    Default banding (16 planes × 8 bands): 65k buckets per band bounds
    the within-bucket self-join; recall recovered across the 8 bands.
    threshold=0.5 sits just above the synthetic corpus's random-pair
    cosine ceiling, so the surviving pairs are the genuinely close
    ones.  Portable mode: integer-plane band buckets + rounded-cosine
    threshold, replayed exactly by the DuckDB oracle."""
    from xarray_spark.extras.similarity import embedding_near_dups
    emb = _read_raw(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.5, hash_mode="portable")


def q53_ngram_jaccard(spark, sf_dir):
    """Word-trigram Jaccard near-dup pairs with stop-shingle removal
    (extras.dedup).

    max_df=200 keeps the self-join bounded (a shingle in k docs costs k²
    join rows) AND is replicated exactly in the DuckDB oracle via the
    same document-frequency filter, so the pair list still hash-matches
    bit-for-bit (jaccard rounded to 6)."""
    from xarray_spark.extras.dedup import ngram_jaccard_pairs
    docs = _read_raw(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.3, max_df=200)
    return pairs.select("id_a", "id_b", _r6(F.col("jaccard")).alias("jaccard"))


def q54_pad(spark, sf_dir):
    """pad constant mode on the daily series (xarray core/dataset.py:9054)
    — rows-only (synthesized edge labels)."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    d96 = li.sel(l_shipdate=slice("1996-01-01", "1996-12-31"))
    daily = d96.groupby("l_shipdate").agg(rev=_r3(F.sum("rev")))
    out = daily.pad(l_shipdate=(2, 2), constant_values=0.0)
    return out.to_spark()


def q55_rolling_2d(spark, sf_dir):
    """2-D rectangle rolling sum over the (year, month) revenue grid —
    factorized into two 1-D window passes (SURVEY §2.6;
    xarray computation/rolling.py multi-dim windows)."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    grid = li.assign(
        y=F.year("l_shipdate").cast("int"), m=F.month("l_shipdate").cast("int")
    )
    byym = XDataset(grid.df, dims=["y", "m"], data_vars=["rev"]).groupby(
        ["y", "m"]
    ).agg(rev=F.sum("rev"))
    out = byym.rolling(y=2, m=2, min_periods=1).sum()
    return out.to_spark().select("y", "m", _r3(F.col("rev")).alias("rev2x2"))


def q56_densify(spark, sf_dir):
    """densify: materialize the full dim-label cross product with fill
    (xarray core/dataset.py:5546 unstack densification)."""
    li = _lineitem(spark, sf_dir)
    cube = li.assign(y=F.year("l_shipdate").cast("int")).groupby(
        ["l_returnflag", "y"]
    ).agg(qty=_r3(F.sum("l_quantity")))
    out = cube.densify(fill_value=0.0)
    return out.to_spark()


def q57_isel_points(spark, sf_dir):
    """Vectorized (pointwise) indexing: parallel position arrays pick
    individual cells into a new 'points' dim
    (xarray core/variable.py:757 vectorized indexing)."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.isel_points(l_shipdate=[0, 5, 10, -1])
    return out.to_spark().select("points", _r3(F.col("rev")).alias("rev"))


def q58_where_aligned(spark, sf_dir):
    """where with an aligned boolean DataArray cond: mask lineitems on
    low-revenue ship dates (xarray aligned-object where,
    core/common.py:1131)."""
    from xarray_spark.dataset import XDataArray
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    daily = li.groupby("l_shipdate").agg(drev=F.sum("rev"))
    cond = XDataArray(
        daily.df.select("l_shipdate", (F.col("drev") >= 200000.0).alias("hi")),
        ["l_shipdate"], {}, ["hi"],
    )
    masked = li["l_quantity"].where(cond)
    out = masked.groupby("l_returnflag").agg(
        qty_hi=_r3(F.sum("l_quantity")), n=F.count(F.lit(1))
    )
    return out.to_spark()


def q59_decode_cf(spark, sf_dir):
    """CF decode chain at scan time: mask + scale/offset fused into the
    scan (xarray conventions.py:498, coding/variables.py:269)."""
    from xarray_spark.io import decode_cf
    df = _read_raw(spark, sf_dir, "lineitem")
    dec = decode_cf(df, {
        "l_quantity": {"fill_value": -1.0, "scale_factor": 0.01, "add_offset": 1.0},
    })
    return dec.groupBy("l_returnflag").agg(
        _r6(F.avg("l_quantity")).alias("avg_decoded"),
        F.count(F.lit(1)).alias("n"),
    )


def q60_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation for skewed keys — must produce
    identical results to the plain groupBy (SCALE.md skew defense)."""
    from xarray_spark import salted_agg
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    out = salted_agg(
        li, ["l_returnflag"],
        {"n": ("count", "*"), "revenue": ("sum", "rev"),
         "maxq": ("max", "l_quantity"), "avg_disc": ("avg", "l_discount")},
        salt=16,
    )
    return out.to_spark().select(
        "l_returnflag", "n", _r3(F.col("revenue")).alias("revenue"),
        "maxq", _r6(F.col("avg_disc")).alias("avg_disc"),
    )


def q61_nearest_points(spark, sf_dir):
    """N-D nearest-point selection (NDPointIndex analogue,
    xarray/indexes/nd_point_index.py:107): nearest supplier in
    (nationkey, acctbal) space."""
    from xarray_spark import sel_points_nearest
    sup = XDataset(
        _read_raw(spark, sf_dir, "supplier"),
        dims=["s_suppkey"],
        coords={"s_nationkey": ("s_suppkey",), "s_acctbal": ("s_suppkey",)},
    )
    out = sel_points_nearest(
        sup,
        {"s_nationkey": [0.0, 10.0, 20.0], "s_acctbal": [1000.0, 5000.0, 9000.0]},
    )
    return out.to_spark().select("points", "s_suppkey", _r3(F.col("s_acctbal")).alias("bal"))


def q62_interp_targets(spark, sf_dir):
    """interp/interp_like regridding: daily revenue interpolated onto
    mid-month noon targets (xarray core/dataset.py:3786 as-of blend)."""
    import datetime as dt
    from xarray_spark.dataset import XDataset as _XD
    daily = _daily_revenue(spark, sf_dir)
    targets = [dt.datetime(1996, m, 15, 12) for m in range(1, 13)]
    tgt_ds = _XD(
        _local_df(spark, [(t,) for t in targets], "l_shipdate timestamp_ntz"),
        dims=["l_shipdate"],
    )
    out = daily.interp_like(tgt_ds)
    return out.to_spark().select("l_shipdate", _r6(F.col("rev")).alias("rev"))


def q65_multi_grouper(spark, sf_dir):
    """Multiple groupers in one groupby — UniqueGrouper + BinGrouper
    composed (xarray multi-grouper groupby, core/groupby.py:513
    ComposedGrouper)."""
    from xarray_spark.groupers import UniqueGrouper
    li = _lineitem(spark, sf_dir)
    g = li.groupby({
        "l_returnflag": UniqueGrouper(),
        "l_quantity": BinGrouper(bins=[0, 25, 50], labels=["lo", "hi"]),
    })
    out = g.agg(n=F.count(F.lit(1)), base=_r3(F.sum("l_extendedprice")))
    return out.to_spark().withColumnRenamed("l_quantity_bins", "qbin")


def q66_season_resampler(spark, sf_dir):
    """SeasonResampler (xarray groupers.py:874), round-10 reference
    parity: labels are the season instance's START timestamp (a DJF
    instance carries its December's year), and drop_incomplete (the
    reference default) trims the first/last instances when the data's
    boundary MONTHS don't reach the season edges.  The oracle replays
    the label arithmetic and the month-granularity trim."""
    from xarray_spark.groupers import SeasonResampler
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    g = li.groupby(l_shipdate=SeasonResampler())
    out = g.agg(revenue=_r3(F.sum("rev")), n=F.count(F.lit(1)))
    return out.to_spark().withColumnRenamed("l_shipdate", "season_start")


def q63_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH top-k (extras.similarity.lsh_topk_multiprobe),
    portable mode — the oracle expands the same flip-one-bit probe set
    per query and replays the rounded-cosine re-rank."""
    from xarray_spark.extras.similarity import lsh_topk_multiprobe
    emb = _read_raw(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    return lsh_topk_multiprobe(emb, queries, k=3, n_planes=4, n_probes=1,
                               hash_mode="portable")


_IVF_CODEBOOKS: dict = {}


def q64_ivf_topk(spark, sf_dir):
    """IVF approximate top-k with a KMeans coarse quantizer
    (extras.similarity.ivf_fit + ivf_topk) — rows-only (approximate).
    The codebook is fit ONCE per corpus and cached (the ivf_fit
    lifecycle); the query plan itself contains no KMeans jobs, only
    literal-expression cell probing."""
    from xarray_spark.extras.similarity import ivf_fit, ivf_topk
    emb = _read_raw(spark, sf_dir, "embeddings")
    if sf_dir not in _IVF_CODEBOOKS:
        _IVF_CODEBOOKS[sf_dir] = ivf_fit(emb, n_cells=8)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    return ivf_topk(emb, queries, k=3, n_cells=8, n_probe=2,
                    centroids=_IVF_CODEBOOKS[sf_dir])


def q69_bpe_token_count(spark, sf_dir):
    """BPE-style pretokenizer token counting (extras.text
    bpe_ish_token_count) — the LLM-token-budget proxy."""
    from xarray_spark.extras.text import bpe_ish_token_count
    docs = _read_raw(spark, sf_dir, "documents")
    t = docs.select("lang", bpe_ish_token_count(F.col("text")).alias("ntok"))
    return t.groupBy("lang").agg(
        F.sum("ntok").alias("total_bpe_tokens"),
        _r6(F.avg("ntok")).alias("avg_bpe_tokens"),
    )


def q70_ffill_segmented(spark, sf_dir):
    """Segment-parallel forward-fill (segmented.ffill_segmented) — must
    match the SAME oracle as the global-window ffill (q13), proving the
    overlap decomposition exact inside the gate."""
    from xarray_spark.segmented import ffill_segmented
    daily = _masked_purchase_daily(spark, sf_dir)
    out = ffill_segmented(daily, "ts", n_segments=8)
    return out.assign(v=_r6(F.col("v"))).to_spark()


def _stream_state_conf(spark):
    """Streaming gates replay a small bounded file stream with
    availableNow: 8 state partitions instead of the session's 32 cuts
    the per-query state-store spin-up ~4x (a stream-stream join opens
    4 stores PER partition).  A real deployment sizes
    spark.sql.shuffle.partitions to key cardinality before the first
    checkpoint instead.  Returns the previous value for restore.

    Round-5 sweep confirmed 8 is the local optimum: q109 interval join
    at sf0.1 ran 4.2 s with 8 partitions, 4.5 with 4, 4.9 with 2, 6.7
    with 1 (parallelism loss beats spin-up saving below 8), and 11.6 s
    under RocksDB (JNI + file-layer overhead dwarfs tiny state —
    RocksDB is the LARGE-state knob for real clusters, exposed via
    get_spark(rocksdb_state_store=True), not a local-harness win).

    Round 6: also disables the trailing NO-DATA microbatch
    (spark.sql.streaming.noDataMicroBatches.enabled=false) — with
    availableNow over a bounded replay it only advances the watermark,
    re-opening and committing every state store for zero output rows
    (~1-2 s here).  Safe for every gate shape this harness runs:
    complete-mode aggregations re-emit identical results per batch,
    inner stream-stream joins and NoTimeout applyInPandasWithState and
    dropDuplicatesWithinWatermark all emit in the data batch.  An
    APPEND-mode windowed aggregation would need it back (final windows
    only emit when a later batch moves the watermark) — restore via
    _restore_stream_conf, which this harness always does."""
    old = {
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.streaming.noDataMicroBatches.enabled":
            spark.conf.get(
                "spark.sql.streaming.noDataMicroBatches.enabled", "true"),
    }
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return old


def _restore_stream_conf(spark, old):
    if isinstance(old, dict):
        for k, v in old.items():
            spark.conf.set(k, v)
    else:  # legacy: bare shuffle-partitions value
        spark.conf.set("spark.sql.shuffle.partitions", old)


_STAGED_DIRS: dict = {}


def _staged_events_dir(sf_dir):
    """One staged copy of events.parquet shared by every streaming gate
    (the file source wants a DIRECTORY; testdata is read-only).  The
    per-gate mkdtemp+copy added ~0.1-0.3 s x 5 gates per process."""
    import shutil
    import tempfile
    d = _STAGED_DIRS.get(("events", sf_dir))
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="xs_events_")
        shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
        _STAGED_DIRS[("events", sf_dir)] = d
    return d


def _staged_write(df, key):
    """Write a small deterministic driver-side table (tick calendars)
    to a staged dir once per process; later gates reuse the files."""
    import tempfile
    d = _STAGED_DIRS.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="xs_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        _STAGED_DIRS[key] = d
    return d


def q67_stream_resample(spark, sf_dir):
    """Structured Streaming resample driven to completion over the
    events table (streaming.stream_resample; availableNow + complete
    mode) — the batch-SQL oracle must match the streamed windows."""
    import uuid
    from xarray_spark.streaming import stream_resample
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    __old_sp = _stream_state_conf(spark)
    batch = _read_raw(spark, sf_dir, "events")
    stage = _staged_events_dir(sf_dir)
    src = _normalize_event_ts(
        spark.readStream.schema(batch.schema).parquet(stage)
    )
    out = stream_resample(
        src, "ts", "D", {"n": F.count(F.lit(1)), "total": F.round(F.sum("value") + F.lit(1e-6), 3)},
        watermark="1 hour",
    )
    name = f"q67_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    _restore_stream_conf(spark, __old_sp)
    return spark.sql(f"SELECT ts AS day, n, total FROM {name}")


def q68_datatree(spark, sf_dir):
    """DataTree: path-keyed hierarchy + map_over_datasets
    (xarray core/datatree.py:462, datatree_mapping.py:16)."""
    from xarray_spark import DataTree
    tree = DataTree({
        "/geo/region": XDataset(
            _read_raw(spark, sf_dir, "region"), dims=["r_regionkey"]),
        "/geo/nation": XDataset(
            _read_raw(spark, sf_dir, "nation"), dims=["n_nationkey"]),
        "/parties/customer": XDataset(
            _read_raw(spark, sf_dir, "customer"), dims=["c_custkey"]),
    })
    counted = tree.map_over_datasets(
        lambda ds: ds._replace(df=ds.df.groupBy().agg(F.count(F.lit(1)).alias("n")),
                               dims=[], coords={}, data_vars=["n"])
    )
    rows = []
    for path in counted:
        rows.append(
            counted[path].df.select(F.lit(path).alias("path"), F.col("n"))
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def q71_netcdf_roundtrip(spark, sf_dir):
    """netCDF-3 classic ingestion (backends.read_netcdf3 / io.open_dataset
    engine='netcdf'; reference front door xarray/backends/api.py:395):
    the monthly orders series is written as a .nc file with CF time
    units, re-opened through the backend (header parse + CF time
    decode), and aggregated — byte format, decode chain, and long-form
    conversion all sit on the checked path."""
    import numpy as np
    import tempfile
    from xarray_spark.backends import write_netcdf3
    monthly = (
        _orders(spark, sf_dir)
        .assign(month=F.date_trunc("month", F.col("o_orderdate")))
        .df.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            _r6(F.avg("o_totalprice")).alias("avg_total"),
        )
        .orderBy("month")
    )
    pdf = monthly.toPandas()  # label-sized (≤ 100 months)
    month_ns = pdf["month"].to_numpy().astype("datetime64[ns]").astype("int64")
    days = (month_ns // 86_400_000_000_000).astype("float64")
    path = tempfile.mktemp(suffix=".nc", prefix="q71_")
    write_netcdf3(
        path,
        {"month": len(pdf)},
        {
            "month": (["month"], days, {"units": "days since 1970-01-01"}),
            "n": (["month"], pdf["n"].to_numpy("float64")),
            "avg_total": (["month"], pdf["avg_total"].to_numpy("float64")),
        },
        attrs={"title": "monthly orders"},
    )
    from xarray_spark.io import open_dataset
    ds = open_dataset(spark, path)  # engine inferred from .nc, time decoded
    return ds.df.select("month", "n", F.col("avg_total"))


def q72_zarr_roundtrip(spark, sf_dir):
    """zarr ingestion AND egress, both format generations
    (backends.open_zarr / to_zarr_distributed; reference
    xarray/backends/zarr.py:1471): daily revenue written driver-side as
    a chunked v2 (.zgroup, zlib) store AND CHUNK-PARALLEL as a v3
    (zarr.json, gzip, c/N keys) store — each Spark task writes its own
    chunk file — then both re-opened chunk-parallel and inner-joined on
    the epoch key: the oracle matches only if writer and reader agree
    across layouts."""
    import numpy as np
    import tempfile
    from xarray_spark.backends import to_zarr, open_zarr, to_zarr_distributed
    daily_ds = _daily_revenue(spark, sf_dir)
    # the month table feeds the driver-side v2 write AND the
    # distributed v3 write — one aggregation, not two
    daily_ds = daily_ds._replace(df=daily_ds.df.localCheckpoint(eager=False))
    daily = daily_ds.df.orderBy("l_shipdate").toPandas()
    ship_ns = daily["l_shipdate"].to_numpy().astype("datetime64[ns]").astype("int64")
    secs = (ship_ns // 1_000_000_000).astype("float64")
    arrays = {"rev": (["t_epoch"], daily["rev"].to_numpy("float64"))}
    base = tempfile.mkdtemp(prefix="q72_")
    store2, store3 = base + "/rev_v2.zarr", base + "/rev_v3.zarr"
    to_zarr(arrays, store2, dims={"t_epoch": secs}, chunks={"rev": [256]})
    to_zarr_distributed(daily_ds.rename({"l_shipdate": "t_epoch"}), store3,
                        chunk_rows=256, zarr_format=3)
    v2 = open_zarr(spark, store2).df.select("t_epoch", "rev")
    v3 = open_zarr(spark, store3).df.select("t_epoch", F.col("rev").alias("rev3"))
    return (v2.join(v3, on="t_epoch")
            .where(F.col("rev") == F.col("rev3"))
            .select("t_epoch", "rev"))


def _exp_model(x, a, b):
    import numpy as np
    return a * np.exp(b * x)


def q73_curvefit(spark, sf_dir):
    """Nonlinear least-squares per group (computation.curvefit — numpy
    Levenberg-Marquardt in applyInPandas; xarray/computation/fit.py:311).
    Exact exponential data is built per returnflag from the parquet
    labels, so the fit must recover the closed-form parameters — the
    oracle states the ground truth."""
    li = (
        _read_raw(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity")
        .where(F.col("l_quantity") <= 50)
        .distinct()
    )
    base = li.withColumn(
        "y",
        (F.lit(2.0) + F.ascii("l_returnflag") / 100.0)
        * F.exp(F.lit(-0.05) * F.col("l_quantity")),
    )
    ds = XDataset(base, dims=["l_returnflag", "l_quantity"], data_vars=["y"])
    out = ds.curvefit("l_quantity", _exp_model, p0=[1.0, -0.01], param_names=["a", "b"])
    return out.df.select(
        "l_returnflag", "param",
        _r6(F.col("y_curvefit_coefficients")).alias("y_fit"),
    )


def q74_quantile_methods(spark, sf_dir):
    """Non-linear quantile interpolation methods (numpy method matrix,
    xarray core/variable.py:1929) via the distributed order-statistic
    path — the oracle recomputes 'midpoint' and 'lower' from raw
    row_number order statistics in SQL."""
    li = _lineitem(spark, sf_dir)
    da = li["l_extendedprice"]
    mid = da.quantile([0.25, 0.5, 0.9], method="midpoint").to_spark()
    low = da.quantile([0.25, 0.5, 0.9], method="lower").to_spark()
    return (
        mid.select("quantile", _r4(F.col("l_extendedprice")).alias("v"),
                   F.lit("midpoint").alias("method"))
        .unionByName(
            low.select("quantile", _r4(F.col("l_extendedprice")).alias("v"),
                       F.lit("lower").alias("method")))
    )


def q75_interp_zero(spark, sf_dir):
    """Zero-order-hold gap fill (interpolate_na method='zero';
    xarray core/missing.py:486 interp1d kind='zero') — interior gaps
    take the previous valid value, boundary nulls stay null."""
    daily = _masked_purchase_daily(spark, sf_dir)
    out = daily.interpolate_na("ts", method="zero")
    return out.assign(v=_r6(F.col("v"))).to_spark()


def q76_interp_quadratic(spark, sf_dir):
    """Local polynomial gap interpolation (interpolate_na
    method='quadratic' — order-2 Lagrange via applyInPandas).  The
    series IS a quadratic of the day ordinal, so the fill must recover
    it exactly; the oracle states the closed form."""
    days = (
        _read_raw(spark, sf_dir, "orders")
        .select(F.date_trunc("day", F.col("o_orderdate")).alias("d"))
        .distinct()
    )
    from pyspark.sql import Window
    base = days.withColumn("i", (F.row_number().over(Window.orderBy("d")) - 1).cast("long"))
    base = base.withColumn(
        "y",
        F.when(F.col("i") % 4 != 1,
               0.5 * F.col("i") * F.col("i") - 3.0 * F.col("i") + 7.0),
    )
    ds = XDataset(base.select("i", "y"), dims=["i"])
    out = ds.interpolate_na("i", method="quadratic")
    return out.to_spark().select("i", _r6(F.col("y")).alias("y"))


def q77_str_tail(spark, sf_dir):
    """String accessor tail — removeprefix / rfind / istitle
    (xarray core/accessor_str.py:2280+)."""
    cust = XDataset(
        _read_raw(spark, sf_dir, "customer"),
        dims=["c_custkey"],
    )
    name = cust["c_name"]
    stripped = name.str.removeprefix("Customer#")
    rf = name.str.rfind("1")
    return (
        stripped.to_spark()
        .select(
            F.col("c_custkey"),
            F.col("c_name").alias("stripped"),
        )
        .join(
            rf.to_spark().select(
                F.col("c_custkey"), F.col("c_name").cast("long").alias("last_one")
            ),
            on="c_custkey",
        )
    )


def q78_dt_tail(spark, sf_dir):
    """Datetime accessor tail — day_name / is_quarter_end
    (xarray core/accessor_dt.py)."""
    ev = _events(spark, sf_dir)
    dn = ev["ts"].dt.day_name()
    qe = ev["ts"].dt.is_quarter_end
    joined = dn.to_spark().select(
        F.col("event_id"), F.col("ts").alias("dname")
    ).join(
        qe.to_spark().select(F.col("event_id"), F.col("ts").cast("int").alias("qend")),
        on="event_id",
    )
    return joined.groupBy("dname").agg(
        F.count(F.lit(1)).alias("n"), F.sum("qend").alias("n_qend")
    )


def q79_sel_step(spark, sf_dir):
    """Label-slice with step (sel(t=slice(a, b, k)) — every k-th
    in-range label; xarray core/dataset.py:3018)."""
    import datetime as dt
    daily = _daily_revenue(spark, sf_dir)
    out = daily.sel(l_shipdate=slice(dt.datetime(1995, 1, 1),
                                     dt.datetime(1995, 12, 31), 7))
    return out.to_spark().select("l_shipdate", "rev")


def q81_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: exact word-trigram Jaccard pairs (same
    parameters as q53, so the edge list is SQL-reproducible) fed through
    min-label/pointer-jump connected components
    (extras.dedup.connected_components) — per-doc cluster assignment,
    cluster = smallest doc_id in the component.  The oracle closes the
    same edge list with a recursive CTE."""
    from xarray_spark.extras.dedup import connected_components, ngram_jaccard_pairs
    docs = _read_raw(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.3, max_df=200)
    cc = connected_components(pairs)
    return cc.select(F.col("id").alias("doc_id"), "cluster")


def q83_str_tail2(spark, sf_dir):
    """String accessor round-2 tail — slice_replace / rsplit
    (xarray core/accessor_str.py:387, :2652): customer names with the
    prefix surgically replaced and the trailing '#'-component split off
    right-anchored."""
    cust = XDataset(
        _read_raw(spark, sf_dir, "customer"),
        dims=["c_custkey"],
    )
    name = cust["c_name"]
    surg = name.str.slice_replace(0, 9, "ID:")
    last = name.str.rsplit("#", maxsplit=1)
    return (
        surg.to_spark()
        .select(
            F.col("c_custkey"),
            F.col("c_name").alias("surg"),
        )
        .join(
            last.to_spark().select(
                F.col("c_custkey"),
                F.element_at(F.col("c_name"), -1).alias("tailpart"),
            ),
            on="c_custkey",
        )
    )


def q84_dt_timedelta(spark, sf_dir):
    """Timedelta accessor fields (xarray accessor_dt.py TimedeltaAccessor):
    ship-minus-order intervals -> .dt.days / .dt.total_seconds via the
    ONE-PASS multi-field projection (accessors.fields — round-10
    verdict #3: the old shape materialized each field as its own branch
    and re-joined on monotonically_increasing_id, doubling the join
    work and keying on a row id that can renumber under task retry at
    cluster scale).  Plan: li join orders -> one projection -> groupBy."""
    li = _read_raw(spark, sf_dir, "lineitem")
    orders = _read_raw(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.monotonically_increasing_id().alias("rid"),
        (F.col("l_shipdate") - F.col("o_orderdate").cast("timestamp")).alias("lag"),
    )
    ds = XDataset(j, dims=["rid"])
    f = ds["lag"].dt.fields(lag_days="days", lag_secs="total_seconds")
    return f.to_spark().groupBy("lag_days").agg(
        F.count(F.lit(1)).alias("n"),
        _r3(F.sum("lag_secs")).alias("total_secs"),
    )


def q82_pad_reflect(spark, sf_dir):
    """pad mode='reflect' on the 1996 daily series (numpy positional
    mirror via the label table — dataset._pad_positional); the oracle
    mirrors positions with row_number and synthesizes the same
    extrapolated labels as q54."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    d96 = li.sel(l_shipdate=slice("1996-01-01", "1996-12-31"))
    daily = d96.groupby("l_shipdate").agg(rev=_r3(F.sum("rev")))
    out = daily.pad(l_shipdate=(2, 2), mode="reflect")
    return out.to_spark()


def q80_cf_360day(spark, sf_dir):
    """360_day-calendar monthly revenue (cftime.py encoded ordinals;
    xarray coding/calendar_ops.py convert_calendar use_cftime path).
    Real shipdates convert with align_on='date' (day-31 rows drop —
    nonexistent in 360_day), revenue aggregates per encoded month-start
    ordinal — all integer arithmetic, reproduced exactly in SQL."""
    from xarray_spark.computation import convert_calendar
    from xarray_spark import cftime as cft
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    d95 = li.sel(l_shipdate=slice("1995-01-01", "1995-12-31"))
    enc = convert_calendar(d95, "l_shipdate", "360_day", use_cftime=True)
    o = F.col("l_shipdate")
    month_start = (o - (o % 30)).alias("month_ord")
    monthly = enc.df.groupBy(month_start).agg(
        _r3(F.sum("rev")).alias("rev"), F.count(F.lit(1)).alias("n")
    )
    return monthly


def q85_stream_asof(spark, sf_dir):
    """Stream-stream as-of join driven to completion: a 6-hourly tick
    stream reindex-ffill'd onto the live event stream per event_type
    (streaming.stream_asof_join — union + applyInPandasWithState,
    O(1)-per-key state).  The oracle is DuckDB's native ASOF LEFT JOIN
    over the same tick calendar.

    Perf stance (round 7, permanent — SCALE.md "streaming state-machine
    floor"): warm 2.7-2.9 s at sf0.1 vs 0.1 s for the batch window
    equivalent; the premium is the Arrow→pandas per-key state loop over
    100k rows (~45k rows/s/partition), which scales out with
    partitions.  The old ≤2.5 s in-bench target is retired."""
    import uuid
    from xarray_spark.streaming import stream_asof_join
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    __old_sp = _stream_state_conf(spark)
    batch = _read_raw(spark, sf_dir, "events")
    stage_o = _staged_events_dir(sf_dir)
    obs = _normalize_event_ts(
        spark.readStream.schema(batch.schema).parquet(stage_o)
    ).select("ts", "event_type", "value")
    ticks = batch.select("event_type").distinct().crossJoin(
        spark.range(1).select(
            F.explode(F.sequence(
                F.to_timestamp(F.lit("2024-01-01 00:00:00")),
                F.to_timestamp(F.lit("2024-01-30 18:00:00")),
                F.expr("interval 6 hours"),
            )).alias("ts")
        )
    )
    stage_t = _staged_write(ticks, ("q85_ticks", sf_dir))
    tgt = spark.readStream.schema(ticks.schema).parquet(stage_t)
    out = stream_asof_join(obs, tgt, key_col="event_type", time_col="ts",
                           value_cols=["value"])
    name = f"q85_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    _restore_stream_conf(spark, __old_sp)
    return spark.sql(
        f"SELECT event_type AS k, ts, value AS v FROM {name}")


def q86_cf_subdaily(spark, sf_dir):
    """Sub-daily cftime: event timestamps encoded to microsecond-grain
    noleap ordinals (cftime.encode_timestamp_us), hour-of-day extracted
    back with cf_field_us, aggregated per (day-ordinal, hour) — all
    whole-stage-codegen integer arithmetic, replicated exactly in SQL."""
    from xarray_spark import cftime as cft
    ds = _events(spark, sf_dir)
    enc = ds.df.select(
        cft.encode_timestamp_us(F.col("ts"), "noleap").alias("ous"),
        F.col("value"),
    )
    return (
        enc.select(
            cft.day_ordinal_us(F.col("ous")).alias("day_ord"),
            cft.cf_field_us(F.col("ous"), "hour", "noleap").alias("hh"),
            "value",
        )
        .groupBy("day_ord", "hh")
        .agg(F.count(F.lit(1)).alias("n"), _r3(F.sum("value")).alias("sv"))
    )


def q87_stream_dedup(spark, sf_dir):
    """Streaming ingest-time exact dedup (streaming.stream_dedup_exact:
    dropDuplicatesWithinWatermark keyed by a content fingerprint).  The
    events stream has duplicate (user_id, event_type, value) triples;
    keep the first arrival of each.  Oracle: batch DISTINCT aggregate —
    identical because the gate replays the whole (bounded) stream under
    one watermark horizon."""
    import uuid
    from xarray_spark.streaming import stream_dedup_exact
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    __old_sp = _stream_state_conf(spark)
    batch = _read_raw(spark, sf_dir, "events")
    stage = _staged_events_dir(sf_dir)
    src = _normalize_event_ts(
        spark.readStream.schema(batch.schema).parquet(stage)
    ).select("ts", "user_id", "event_type", "value")
    deduped = stream_dedup_exact(
        src, ["user_id", "event_type", "value"], "ts", watermark="365 days")
    name = f"q87_{uuid.uuid4().hex[:8]}"
    q = (deduped.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    _restore_stream_conf(spark, __old_sp)
    return spark.sql(
        f"SELECT user_id, event_type, ROUND(value + 1e-9, 6) AS value "
        f"FROM {name}"
    ).groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        _r3(F.sum("value")).alias("sum_v"),
    )


def q88_hash_sample(spark, sf_dir):
    """Deterministic hash sampling (extras.sampling.hash_sample): a 10 %
    reproducible, partitioning-independent sample of lineitem — the
    map-only filter a 100 TB pipeline uses instead of seed-dependent
    df.sample().  The md5-derived bucket is replayed exactly in SQL."""
    from xarray_spark.extras.sampling import hash_sample
    li = _read_raw(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("__k"),
    )
    s = hash_sample(li, 0.10, "__k")
    return s.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _r3(F.sum("l_quantity")).alias("sum_qty"),
        _r3(F.sum("l_extendedprice")).alias("sum_price"),
    )


def q89_hash_split(spark, sf_dir):
    """Hash-based train/val/test split (extras.sampling.hash_split,
    90/5/5): per-split row counts and revenue — append-stable split
    assignment, verified against the identical SQL bucketing."""
    from xarray_spark.extras.sampling import hash_split
    o = _read_raw(spark, sf_dir, "orders")
    s = hash_split(o, {"train": 0.90, "val": 0.05, "test": 0.05}, "o_orderkey")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        _r3(F.sum("o_totalprice")).alias("sum_price"),
    )


def q90_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic rates (extras.sampling.
    stratified_hash_sample): downsample dominant languages of the
    document corpus, keep rare ones whole — the class-rebalancing
    primitive of corpus curation."""
    from xarray_spark.extras.sampling import stratified_hash_sample
    docs = _read_raw(spark, sf_dir, "documents")
    s = stratified_hash_sample(
        docs, {"en": 0.25, "de": 0.5, "fr": 1.0}, "lang", "doc_id")
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        _r3(F.sum("n_chars")).alias("sum_chars"),
    )


def q91_decontaminate(spark, sf_dir):
    """Train/test decontamination (extras.curation.decontaminate):
    remove corpus docs whose normalized-text fingerprint appears in a
    held-out eval slice — the leakage guard of every training pipeline.
    Broadcast anti-join on a 64-bit fingerprint; the oracle anti-joins
    on the normalized text itself (identical semantics, collision-free
    at gate scale)."""
    from xarray_spark.extras.curation import decontaminate
    docs = _read_raw(spark, sf_dir, "documents")
    eval_set = docs.where(F.col("doc_id") % 10 == 3)
    clean = decontaminate(docs, eval_set)
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        _r3(F.sum("n_chars")).alias("sum_chars"),
    )


def q92_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (extras.curation.
    pack_sequences): per-document (bucket, tokens_before, bin) layout
    for 256-token training sequences — prefix sums over deterministic
    hash buckets, replayed exactly by a SQL window."""
    from xarray_spark.extras.curation import pack_sequences
    docs = _read_raw(spark, sf_dir, "documents")
    out = pack_sequences(docs, budget=256, n_buckets=8)
    return out.select("doc_id", "bucket", "n_tokens", "tokens_before", "bin")


def q93_shuffle_rank(spark, sf_dir):
    """Deterministic corpus shuffle (extras.sampling.
    shuffle_deterministic): reproducible pre-training shuffle order via
    a two-phase rank on the md5 key hash — no partition-less global
    window.  Returns the head of the shuffled order; the oracle replays
    the same hash rank in SQL."""
    from xarray_spark.extras.sampling import shuffle_deterministic
    docs = _read_raw(spark, sf_dir, "documents")
    s = shuffle_deterministic(docs, "doc_id")
    return (s.where(F.col("shuffle_rank") <= 20)
            .select("shuffle_rank", "doc_id", "lang"))


def q94_audio_features(spark, sf_dir):
    """Audio pipeline (extras.multimodal): REAL raw-PCM16 decode (numpy
    int16 → float, no codec library) + per-frame RMS energy and
    zero-crossing rate over Arrow batches.  The synthetic payload bytes
    are closed-form ((i*37+j) mod 256), so the oracle re-derives every
    sample and verifies the DSP VALUES — not just shapes."""
    from xarray_spark.extras.multimodal import (
        audio_features, decode_audio, synth_audio_table,
    )
    audio = synth_audio_table(spark, n=32)
    feats = audio_features(decode_audio(audio), frame_len=32)
    return feats.select(
        "media_id", "frame_idx",
        _r6(F.col("rms")).alias("rms"),
        _r6(F.col("zcr")).alias("zcr"),
    )


def q95_pii_scan(spark, sf_dir):
    """Safety/PII scanning (extras.text.pii_scan): email / URL / long-
    digit-run counts + combined flag, map-only JVM regex.  The gate
    injects deterministic PII into a slice of the corpus (mirrored
    exactly in the oracle SQL) so the counts are non-trivial."""
    from xarray_spark.extras.text import pii_scan
    docs = _read_raw(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.coalesce(
                F.when(F.col("doc_id") % 7 == 0,
                       F.concat(F.lit(" contact user"), F.col("doc_id"),
                                F.lit("@example.com now")))
                .when(F.col("doc_id") % 7 == 1,
                      F.concat(F.lit(" see https://example.com/d/"),
                               F.col("doc_id")))
                .when(F.col("doc_id") % 7 == 2,
                      F.concat(F.lit(" call 555"),
                               F.col("doc_id") + F.lit(1000000))),
                F.lit(""),
            ),
        ),
    )
    out = pii_scan(injected)
    return out.groupBy("lang").agg(
        F.sum("n_emails").alias("emails"),
        F.sum("n_urls").alias("urls"),
        F.sum("n_digit_runs").alias("digit_runs"),
        F.sum(F.col("pii_flag").cast("long")).alias("n_flagged"),
        F.count(F.lit(1)).alias("n"),
    )


def q96_stream_sessionize(spark, sf_dir):
    """Streaming session windows (streaming.stream_sessionize:
    F.session_window, data-driven merge when the next event lands inside
    the previous event's gap horizon).  Oracle: the classic
    gaps-and-islands rewrite — LAG + new-session flag + running sum —
    which is the exact batch semantics of session_window over a bounded
    replay."""
    import uuid
    from xarray_spark.streaming import stream_sessionize
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    __old_sp = _stream_state_conf(spark)
    batch = _read_raw(spark, sf_dir, "events")
    stage = _staged_events_dir(sf_dir)
    src = _normalize_event_ts(
        spark.readStream.schema(batch.schema).parquet(stage)
    ).select("ts", "user_id", "value")
    out = stream_sessionize(
        src, "ts", "12 hours",
        {"n": F.count(F.lit(1)), "sv": _r3(F.sum("value"))},
        keys=["user_id"], watermark="1 hour",
    )
    name = f"q96_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    _restore_stream_conf(spark, __old_sp)
    return spark.sql(
        f"SELECT user_id, ts AS session_start, session_seconds, n, sv "
        f"FROM {name}"
    )


def q97_ivf_fixed(spark, sf_dir):
    """IVF query path over a FIXED md5-derived integer codebook
    (extras.similarity.ivf_topk_fixed): integer-exact cell assignment,
    2-cell probe expansion, rounded-cosine re-rank — the full inverted-
    file query plan, value-verified by a SQL oracle that replays the
    same codebook.  (Trained-codebook IVF stays in q64, rows-only —
    KMeans is not SQL-expressible.)"""
    from xarray_spark.extras.similarity import ivf_topk_fixed
    emb = _read_raw(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    return ivf_topk_fixed(emb, queries, k=3, n_cells=8, n_probe=2)


def q98_chunk_documents(spark, sf_dir):
    """RAG-style document chunking (extras.curation.chunk_documents):
    200-char chunks with 50-char overlap, pure sequence/substring/
    posexplode JVM expressions — verified row-for-row against the SQL
    range+substr replay."""
    from xarray_spark.extras.curation import chunk_documents
    docs = _read_raw(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_chars=200, overlap=50)


def q99_sel_partial_string(spark, sf_dir):
    """ISO8601 partial-string time selection (pandas/xarray partial
    datetime indexing; xarray coding/times.py parse_iso8601_like):
    sel(l_shipdate='1995-06') selects the whole month."""
    daily = _daily_revenue(spark, sf_dir)
    return daily.sel(l_shipdate="1995-06").to_spark().select("l_shipdate", "rev")


def q100_sel_negative_step(spark, sf_dir):
    """Negative label-slice step (pandas .loc[hi:lo:-k] semantics,
    xarray core/dataset.py:3018): every 7th daily-revenue label counting
    DOWN from the top of the 1995 range."""
    import datetime as dt
    daily = _daily_revenue(spark, sf_dir)
    out = daily.sel(l_shipdate=slice(dt.datetime(1995, 12, 31),
                                     dt.datetime(1995, 1, 1), -7))
    return out.to_spark().select("l_shipdate", "rev")


def q101_ewm_corr(spark, sf_dir):
    """EWM correlation of daily revenue vs daily order count
    (xarray computation/rolling_exp.py:262 RollingExp.corr — numbagg
    move_exp_nancorr; pandas' ewm kernel is value-identical).  The
    oracle replays the adjust=True weighted-moment formula with window
    prefix sums (debias factors cancel in corr)."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    daily = li.groupby("l_shipdate").agg(rev=F.sum("rev"), n=F.count(F.lit(1)))
    rev = XDataset(daily.to_spark().select("l_shipdate", "rev"), dims=["l_shipdate"])
    cnt = XDataset(
        daily.to_spark().select("l_shipdate", F.col("n").cast("double").alias("n")),
        dims=["l_shipdate"],
    )
    out = rev.rolling_exp(l_shipdate=20, window_type="span").corr(cnt)
    sdf = out.to_spark().select(
        "l_shipdate", F.round(F.col("rev") + F.lit(1e-9), 6).alias("ewm_corr")
    )
    # the seed rows' corr is NaN/NULL (undefined variance) and NaN !=
    # NULL at hash level — compare once the EWM is seeded (testdata ship
    # dates begin 1995-01-02)
    return sdf.where(F.col("l_shipdate") > F.to_timestamp(F.lit("1995-01-10")))


def q102_coarsen_construct(spark, sf_dir):
    """coarsen.construct (xarray computation/rolling.py:1269): the 1995
    daily-revenue axis split into (week_block, day_in_block) dims with
    trim boundary; original labels ride along as a coord."""
    import datetime as dt
    daily = _daily_revenue(spark, sf_dir).sel(
        l_shipdate=slice(dt.datetime(1995, 1, 1), dt.datetime(1995, 12, 31)))
    out = daily.coarsen(l_shipdate=7, boundary="trim").construct(
        l_shipdate=("wk", "dow"))
    return out.to_spark().select("wk", "dow", "l_shipdate", "rev")


def q103_coarsen_reduce(spark, sf_dir):
    """coarsen.reduce with a custom NumPy callable (np.ptp = max-min per
    block; xarray computation/rolling.py:1365) over weekly blocks of the
    1995 daily-revenue axis — grouped-agg pandas UDF, block labels from
    the label table."""
    import datetime as dt
    import numpy as np
    daily = _daily_revenue(spark, sf_dir).sel(
        l_shipdate=slice(dt.datetime(1995, 1, 1), dt.datetime(1995, 12, 31)))
    out = daily.coarsen(l_shipdate=7, boundary="trim").reduce(
        lambda a: float(np.max(a) - np.min(a)))
    return out.to_spark().select(
        "l_shipdate", F.round(F.col("rev") + F.lit(1e-6), 3).alias("rev_range"))


def q104_interp_calendar(spark, sf_dir):
    """interp_calendar (xarray coding/calendar_ops.py:349): the 1995
    standard-calendar daily-revenue series interpolated onto a 360_day
    axis via the decimal-year measure.  Oracle: DuckDB ASOF joins on
    the same decimal years."""
    import datetime as dt
    from xarray_spark import interp_calendar
    daily = _daily_revenue(spark, sf_dir).sel(
        l_shipdate=slice(dt.datetime(1995, 1, 1), dt.datetime(1995, 12, 31)))
    # target: every day of 1995 in the 360_day calendar (ordinals are
    # days since 1970-01-01 in that calendar: year 25, 360 days)
    tgt = spark.range(360 * 25, 360 * 26).select(
        F.col("id").cast("long").alias("l_shipdate"))
    out = interp_calendar(daily, tgt, dim="l_shipdate",
                          target_calendar="360_day")
    return out.to_spark().select(
        F.col("l_shipdate").alias("ordinal_360"),
        F.round(F.col("rev") + F.lit(1e-6), 3).alias("rev"),
    ).where(F.col("rev").isNotNull())


def q105_argmax_grid(spark, sf_dir):
    """Multi-dim argmax dict form (xarray core/variable.py:2491): the
    (returnflag, shipdate) position tuple of the revenue-grid maximum,
    first-occurrence tie-break.  Positions come from the broadcast label
    tables; the oracle recomputes them with dense_rank."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    grid = li.groupby(["l_returnflag", "l_shipdate"]).agg(rev=_r3(F.sum("rev")))
    out = grid.argmax(["l_returnflag", "l_shipdate"])
    return out.to_spark().select(
        F.col("rev.l_returnflag").cast("long").alias("pos_flag"),
        F.col("rev.l_shipdate").cast("long").alias("pos_date"),
    )


def q106_complex_phase(spark, sf_dir):
    """Complex ufunc family on struct<re,im> (reference ufuncs.py
    angle/conj/real/imag): treat (scaled quantity, scaled discount) as a
    complex plane, aggregate magnitude and phase per return flag — all
    JVM struct-field expressions."""
    from xarray_spark import ufuncs as xu
    li = _read_raw(spark, sf_dir, "lineitem")
    z = xu.complex_col(F.col("l_quantity") - 25.0, F.col("l_discount") * 100.0 - 5.0)
    zz = xu.cmul(z, xu.conj(z))
    out = li.select(
        "l_returnflag",
        xu.cabs(z).alias("mag"),
        xu.angle(z).alias("ang"),
        xu.real(zz).alias("pw"),
    )
    return out.groupBy("l_returnflag").agg(
        F.round(F.avg("mag") + F.lit(1e-9), 6).alias("avg_mag"),
        F.round(F.avg("ang") + F.lit(1e-9), 6).alias("avg_angle"),
        F.round(F.sum("pw") + F.lit(1e-6), 3).alias("sum_power"),
    )


def q109_stream_interval_join(spark, sf_dir):
    """Stream-stream event-time interval join driven to completion
    (streaming.stream_interval_join — Spark's native join-with-time-
    range, state bounded by watermark + window width): every 6-hour
    tick matches the events of its type inside [tick, tick+6h), then a
    batch aggregate over the sink counts and sums per bucket.  Oracle:
    the identical range join in SQL.

    Perf stance (round 7, permanent — SCALE.md "streaming state-machine
    floor"): warm 3.5-3.7 s at sf0.1 vs 1.2-1.7 s for the batch
    equivalent; the ~2.3 s premium is (100k+600) rows through 32 keyed
    state stores, measured invariant under foreachBatch/tmpfs-checkpoint/
    partition sweeps.  The old ≤4 s in-bench target is retired: the
    premium is per-partition and scales OUT, and bounded history at
    rest belongs on the batch operators anyway."""
    import uuid
    from xarray_spark.streaming import stream_interval_join
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    __old_sp = _stream_state_conf(spark)
    batch = _read_raw(spark, sf_dir, "events")
    stage_e = _staged_events_dir(sf_dir)
    ev = _normalize_event_ts(
        spark.readStream.schema(batch.schema).parquet(stage_e)
    ).select("ts", "event_type", "value")
    ticks = batch.select("event_type").distinct().crossJoin(
        spark.range(1).select(
            F.explode(F.sequence(
                F.to_timestamp(F.lit("2024-01-01 00:00:00")),
                F.to_timestamp(F.lit("2024-01-30 18:00:00")),
                F.expr("interval 6 hours"),
            )).alias("tick")
        )
    )
    stage_t = _staged_write(ticks, ("q109_ticks", sf_dir))
    tk = spark.readStream.schema(ticks.schema).parquet(stage_t)
    joined = stream_interval_join(
        tk, ev, key_col="event_type", left_ts="tick", right_ts="ts",
        lower="0 seconds", upper="6 hours", watermark="90 days",
    ).select(
        F.col("l.event_type").alias("event_type"),
        F.col("l.tick").alias("tick"),
        F.col("r.value").alias("value"),
    )
    name = f"q109_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    _restore_stream_conf(spark, __old_sp)
    return spark.sql(
        f"""SELECT event_type, tick, COUNT(*) AS n,
                   ROUND(SUM(value) + 1e-6, 3) AS sv
            FROM {name} GROUP BY event_type, tick"""
    )


def q112_pq_topk(spark, sf_dir):
    """Product-quantization ANN (extras.similarity.pq_encode_fixed /
    pq_topk_fixed — the FAISS IndexPQ query path, Jégou et al. 2011):
    corpus compressed to m=8 4-bit-ish codes against the fixed integer
    codebook, queries ranked by exact-integer asymmetric distance.  The
    oracle recomputes every code and every ADC distance in SQL."""
    from xarray_spark.extras.similarity import pq_topk_fixed
    emb = _read_raw(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding"))
    return pq_topk_fixed(emb, qs, kk=3)


def q113_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (extras.similarity.ivfpq_topk_fixed — the FAISS
    IndexIVFPQ composition, the engine's 100 TB ANN path): coarse-cell
    pruning via the fixed integer centroids, PQ asymmetric-distance
    ranking over the compressed codes.  The oracle replays cell
    assignment, probe expansion, PQ codes, and every ADC distance from
    the same md5 coefficients."""
    from xarray_spark.extras.similarity import ivfpq_topk_fixed
    emb = _read_raw(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding"))
    return ivfpq_topk_fixed(emb, qs, kk=3, n_cells=8, n_probe=2)


def q110_dedup_lines(spark, sf_dir):
    """Corpus-wide boilerplate line removal (extras.curation.dedup_lines
    — the C4/CCNet paragraph-dedup step): drop lines occurring in ≥3
    distinct documents, reassemble each document from its surviving
    lines in order.  The oracle replays split → document-frequency →
    ordered string_agg in SQL."""
    from xarray_spark.extras.curation import dedup_lines
    docs = _read_raw(spark, sf_dir, "documents")
    return dedup_lines(docs, min_df=3)


def q111_rolling_argmin(spark, sf_dir):
    """rolling.argmin (xarray computation/rolling.py injected argmin):
    position of the 7-day window's revenue minimum, padded-window index
    semantics.  Oracle: arg_min window aggregate re-based to the window
    start."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.rolling(l_shipdate=7, min_periods=1).argmin()
    return out.to_spark().select(
        "l_shipdate", F.col("rev").cast("long").alias("amin"))


def q107_repetition_stats(spark, sf_dir):
    """Gopher/MassiveText-style within-document repetition signals
    (extras.text.repetition_stats): duplicate-line fraction/char
    fraction, top-bigram share, duplicate-trigram fraction — the
    repetition quality-filter family, aggregated per language."""
    from xarray_spark.extras.text import repetition_stats
    docs = _read_raw(spark, sf_dir, "documents")
    rs = repetition_stats(docs).join(docs.select("doc_id", "lang"), on="doc_id")
    return rs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").alias("total_lines"),
        _r6(F.avg("dup_line_frac")).alias("avg_dup_line_frac"),
        _r6(F.avg("dup_line_char_frac")).alias("avg_dup_char_frac"),
        _r6(F.avg("top_bigram_share")).alias("avg_top_bigram"),
        _r6(F.avg("dup_trigram_frac")).alias("avg_dup_trigram"),
    )


def q108_blend_epochs(spark, sf_dir):
    """Fractional-epoch dataset blending (extras.sampling.blend_epochs):
    1.5 epochs of en, 2.25 of de, 0.4 of fr — deterministic hash-driven
    mixture with a 0-based epoch index, replayed exactly in SQL."""
    from xarray_spark.extras.sampling import blend_epochs
    docs = _read_raw(spark, sf_dir, "documents")
    out = blend_epochs(docs, {"en": 1.5, "de": 2.25, "fr": 0.4},
                       source_col="lang", key_col="doc_id")
    return out.groupBy("lang", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# --------------------------------------------------------------------- #
# driver contract
def q114_encoded_groups(spark, sf_dir):
    """EncodedGroups grouper (reference groupers.py:78, added round 5):
    a precomputed integer-code column maps through a literal label
    array (one element_at, codegen'd, no join) and groups like any
    other key.  Oracle: the same CASE mapping in SQL."""
    from xarray_spark.groupers import EncodedGroups
    li = _lineitem(spark, sf_dir).assign(
        rev=REV(), code=(F.col("l_linenumber") - 1) % 4)
    g = li.groupby(code=EncodedGroups(
        labels=["alpha", "beta", "gamma", "delta"]))
    out = g.agg(n=F.count(F.lit(1)), rev=_r3(F.sum("rev")))
    return out.to_spark().withColumnRenamed("code", "grp")


def q115_grouped_quantile_hist(spark, sf_dir):
    """Grouped EXACT quantile through the round-5 distributed
    per-group histogram selection (dataset._grouped_quantile_hist) —
    ``grouped_quantile_plan="hist"`` pins the no-buffer path:
    per-group stats, per-(group,bin) histogram, rank→bin join,
    row_number only inside the ≤2 needed bins.  Oracle: DuckDB
    quantile_cont (linear interpolation, same estimator)."""
    from xarray_spark import set_options
    df = _read_raw(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    ds = XDataset(df, dims=["l_orderkey", "l_linenumber"],
                  coords={"l_returnflag": ("l_orderkey", "l_linenumber")})
    with set_options(grouped_quantile_plan="hist"):
        out = ds.groupby("l_returnflag").quantile(0.25)
    return out.to_spark().select(
        "l_returnflag", _r4(F.col("l_extendedprice")).alias("q_price"))


def q137_grouped_quantile_midbin(spark, sf_dir):
    """Grouped EXACT quantile through the round-8 MIDBIN plan
    (dataset._grouped_quantile_midbin: two-scan selection over
    1/16-octave buckets, one log2 per row, with the candidate rows
    matched back by bucket id), pinned with
    ``grouped_quantile_plan="midbin"`` (the q115 pattern, one plan
    over).  The value column is cancellation-PRONE
    by construction — alternating-sign prices make the sorted stream
    cross zero between large near-symmetric magnitudes, the exact
    corner class where a naive one-sided lerp drifts off numpy
    (round-8 falsifier; fixed round 9 with the shared two-sided
    `_lerp_col`).  Three quantiles exercise the multi-target rank
    table around the sign boundary.  Oracle: DuckDB quantile_cont,
    values rounded to 4dp."""
    from xarray_spark import set_options
    df = _read_raw(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        (F.col("l_extendedprice")
         * F.when(F.col("l_linenumber") % 2 == 0, F.lit(1.0))
            .otherwise(F.lit(-1.0))).alias("v"))
    ds = XDataset(df, dims=["l_orderkey", "l_linenumber"],
                  coords={"l_returnflag": ("l_orderkey", "l_linenumber")})
    with set_options(grouped_quantile_plan="midbin"):
        out = ds.groupby("l_returnflag").quantile([0.25, 0.5, 0.75])
    return out.to_spark().select(
        "l_returnflag", F.col("quantile"), _r4(F.col("v")).alias("qv"))


def q138_resample_multiweek(spark, sf_dir):
    """Multi-week resample with the closed/label matrix (wave 50;
    xarray groupers.py:474 TimeResampler → pandas anchored weeks):
    2W closed='left' bins are [anchor, anchor+14d) anchored at the
    anchor day ON-OR-BEFORE the first point, label='left' backs the
    right-edge label up one span.  Was a documented raise through
    round 9.  Oracle replays the anchored binning in SQL from the
    same min(ts) lookup."""
    ev = _events(spark, sf_dir)
    out = ev.resample(ts="2W", closed="left", label="left").agg(
        n=F.count(F.lit(1)), total=_r3(F.sum("value")))
    return out.to_spark().withColumnRenamed("ts", "bucket")


def q139_resample_me_asfreq(spark, sf_dir):
    """End-anchored (ME) label run + asfreq-as-mean (wave 50;
    core/resample.py:383-392): month-END labels were a documented
    raise for upsample/densify through round 9; asfreq is the bin
    MEAN, not first-per-bin.  Oracle: last_day month labels +
    AVG."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.resample(l_shipdate="ME").asfreq()
    return out.to_spark().select(
        F.col("l_shipdate").alias("month_end"), _r3(F.col("rev")).alias("rev"))


def q140_rolling_std_wide(spark, sf_dir):
    """WIDE-window rolling std through the Arrow-batched numpy kernel
    (rolling.py _var_window_arrow, picked for every 1-D window of
    width ≥ 2): exact per-window two-pass —
    vectorized sliding_window_view, not the interpreted
    F.aggregate lambda (measured 8-130× faster across widths,
    SCALE.md round 10).  Oracle replays the window-array two-pass
    with DuckDB list() over the same frame."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.rolling(l_shipdate=96).std()
    return out.to_spark().select(
        "l_shipdate", _r3(F.col("rev")).alias("roll_std"))


def q141_rolling_2d_var(spark, sf_dir):
    """N-D (2-D) rolling var — the NON-separable rectangle reduction
    (reference computation/rolling.py:56 multi-dim rolling via
    Variable.rolling_window, core/variable.py:2120; a documented raise
    through round 10).  A dense (day x hour) grid of mean event values
    rolls a 3-day x 2-hour rectangle through the Arrow numpy kernel
    (rolling._nd_window_arrow): per-window NaN-masked two-pass var over
    the flattened rectangle, min_periods=4 exercising the NaN-padded
    edges.  The grid densifies first (distinct days x distinct hours,
    NaN holes) — an xarray array over (d, h) IS the dense cube, and
    the kernel refuses ragged input rather than inventing positions.
    No complement dims, so the day axis is label-halo segmented — no
    single task holds the cube.  Oracle: rectangle self-join over the
    same dense grid (dense labels: label distance == position)
    replaying the same NaN-masked two-pass var."""
    ev = _events(spark, sf_dir)
    grid = ev.groupby({"d": "date_trunc('day', ts)",
                       "h": "CAST(hour(ts) AS INT)"}).agg(
        v=F.avg("value")).to_spark()
    dense = (grid.select("d").distinct()
             .crossJoin(grid.select("h").distinct())
             .join(grid, on=["d", "h"], how="left"))
    nd = XDataset(dense, dims=["d", "h"], data_vars=["v"])
    out = nd.rolling(dict(d=3, h=2), min_periods=4).var()
    return out.to_spark().select(
        "d", "h", _r3(F.col("v")).alias("rvar"))


def q142_concat_minimal(spark, sf_dir):
    """concat parameter matrix — data_vars='minimal' + join='outer' +
    compat='override' (reference structure/concat.py:371
    _calc_concat_over, :605 _dataset_concat): the open_mfdataset
    combine idiom a migrating user hits on day one.

    Two month×priority aggregates of orders (1995 and 1996, the 1996
    slice restricted to three priorities) concatenate along the month
    dim.  The per-priority order count ``n`` is computed PER SLICE (so
    the two inputs disagree) and lacks the month dim →
    data_vars='minimal' keeps it un-concatenated and compat='override'
    takes the FIRST input's values wholesale; join='outer' unions the
    priority label sets, synthesizing null-variable slices for the
    1996 months × the missing priorities (visible in n_rows vs cnt_v).
    """
    from xarray_spark import concat

    def _slice(lo, hi, pri_max=None):
        df = _read_raw(spark, sf_dir, "orders").where(
            (F.col("o_orderdate") >= F.lit(lo))
            & (F.col("o_orderdate") < F.lit(hi)))
        if pri_max is not None:
            df = df.where(F.col("o_orderpriority") <= pri_max)
        cell = (df.groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"),
            F.col("o_orderpriority").alias("p"))
            .agg(_r3(F.sum("o_totalprice")).alias("v")))
        n = (df.groupBy(F.col("o_orderpriority").alias("p"))
             .agg(F.count(F.lit(1)).alias("n")))
        ds = XDataset(cell.join(n, on="p"), dims=["m", "p"])
        ds.var_dims = {"n": ("p",)}
        return ds

    a = _slice("1995-01-01", "1996-01-01")
    b = _slice("1996-01-01", "1997-01-01", pri_max="3-MEDIUM")
    both = concat([a, b], dim="m", data_vars="minimal", coords="minimal",
                  compat="override", join="outer")
    return both.df.groupBy("p").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("cnt_v"),
        _r3(F.sum("v")).alias("sum_v"),
        F.max("n").alias("n_first"),
    )


def q143_combine_nested(spark, sf_dir):
    """combine_nested 2-D hypercube (reference structure/combine.py:431
    / :217 _combine_nd): four label-disjoint (month x priority) tiles
    of the orders aggregate reassemble along concat_dim=['m', 'p'] —
    inner pairs along p, outer rows along m, the reference tile order.
    The eager label probes find equal month sets inside each year row
    and skip alignment, so the plan is a pure 4-way union."""
    from xarray_spark import combine_nested

    def tile(lo, hi, ps, pe):
        df = _read_raw(spark, sf_dir, "orders").where(
            (F.col("o_orderdate") >= F.lit(lo))
            & (F.col("o_orderdate") < F.lit(hi))
            & (F.col("o_orderpriority") >= ps)
            & (F.col("o_orderpriority") <= pe))
        cell = (df.groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"),
            F.col("o_orderpriority").alias("p"))
            .agg(_r3(F.sum("o_totalprice")).alias("v")))
        return XDataset(cell, dims=["m", "p"])

    lo12, hi12 = "1-URGENT", "2-HIGH"
    lo35, hi35 = "3-MEDIUM", "5-LOW"
    grid = combine_nested(
        [[tile("1995-01-01", "1996-01-01", lo12, hi12),
          tile("1995-01-01", "1996-01-01", lo35, hi35)],
         [tile("1996-01-01", "1997-01-01", lo12, hi12),
          tile("1996-01-01", "1997-01-01", lo35, hi35)]],
        concat_dim=["m", "p"])
    return grid.df.groupBy("p").agg(
        F.count("v").alias("cnt_v"),
        _r3(F.sum("v")).alias("sum_v"),
    )


def q144_cap_per_group(spark, sf_dir):
    """Per-(source, lang) document cap (extras/curation.py
    cap_per_group) — the RefinedWeb-style per-domain quota with
    deterministic md5 survivor selection.  (source, lang) groups in
    the testdata span 1-16 docs, so cap=5 exercises BOTH regimes:
    under-cap groups skip the window entirely (anti-join on the
    over-cap group list), over-cap groups rank only their own rows."""
    from xarray_spark.extras.curation import cap_per_group
    docs = _read_raw(spark, sf_dir, "documents")
    kept = cap_per_group(docs, cap=5, by=["source", "lang"])
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


def q116_bucketed_ffill(spark, sf_dir):
    """Bucket-aware window layout (round 5): a (flag, day) revenue
    grid saved with to_table(bucket_by=flag, sort_by=[flag, day]) and
    reopened plans its ffill with NO Exchange (plan guard:
    tests/test_plans.py) — this gate pins the VALUES of the
    shuffle-free fill.  Every third day keeps its revenue, the rest
    forward-fill.  Oracle: last_value IGNORE NULLS over the same
    sparse grid."""
    import shutil
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    daily = li.groupby({"l_returnflag": "l_returnflag",
                        "l_shipdate": "l_shipdate"}).agg(
        rev=_r3(F.sum("rev")))
    sparse = daily.assign(
        rev=F.when(F.dayofmonth("l_shipdate") % 3 == 0, F.col("rev")))
    name = "q116_bkt_grid"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/{name}", ignore_errors=True)
    sparse.to_table(name, bucket_by=["l_returnflag"],
                    sort_by=["l_returnflag", "l_shipdate"], n_buckets=4)
    bds = XDataset(spark.table(name), dims=["l_returnflag", "l_shipdate"])
    out = bds.ffill("l_shipdate")
    return out.to_spark().select(
        "l_returnflag", "l_shipdate", F.col("rev").alias("rev_filled"))


def q117_outer_align_coords(spark, sf_dir):
    """Outer align materializes missing-label rows WITH the coords
    keyed on the non-aligned dims populated (round-5 advisor fix,
    alignment._conform_to_labels): A covers Jan–Aug 1995, B May–Dec;
    aligning outer on the month axis synthesizes A's Sep–Dec rows with
    null revenue but a live flag_class coord.  Oracle: the equivalent
    flags × month-union left join in SQL."""
    from xarray_spark import align
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    # ONE lineitem scan: aggregate the full year, carve A and B out of
    # the (tiny, checkpointed) month table
    g = li.query("l_shipdate >= '1995-01-01' and l_shipdate < '1996-01-01'") \
          .groupby({"l_returnflag": "l_returnflag",
                    "m": F.date_trunc("month", F.col("l_shipdate"))})
    gdf = (g.agg(rev=_r3(F.sum("rev"))).to_spark()
           .withColumn("flag_class", F.lower(F.col("l_returnflag")))
           .localCheckpoint(eager=False))

    def month_rev(lo, hi):
        df = gdf.where((F.col("m") >= F.lit(lo)) & (F.col("m") < F.lit(hi)))
        return XDataset(df, dims=["l_returnflag", "m"],
                        coords={"flag_class": ("l_returnflag",)})

    a = month_rev("1995-01-01", "1995-09-01")
    b = month_rev("1995-05-01", "1996-01-01")
    ga, _ = align(a, b, join="outer")
    return ga.to_spark().select("l_returnflag", "flag_class", "m", "rev")


def q118_temperature_sample(spark, sf_dir):
    """Temperature-scaled source rebalancing (extras.sampling.
    temperature_sample — the multilingual q_s ∝ p_s^alpha smoothing
    rule, alpha=0.5): per-source keep rate sqrt(n_min/n_s) through the
    deterministic md5 bucket, so DuckDB replays the exact row set;
    id-sum checksum pins membership, not just counts."""
    from xarray_spark.extras.sampling import temperature_sample
    docs = _read_raw(spark, sf_dir, "documents")
    kept = temperature_sample(docs, "source", "doc_id", alpha=0.5)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"))


def q119_dedup_substrings(spark, sf_dir):
    """Cross-document exact-substring dedup (extras.curation.
    dedup_substrings — the k-token-window ExactSubstr shape of Lee et
    al., ACL 2022): 5-token spans present in ≥2 docs drop from every
    non-canonical document; the oracle rebuilds every document from
    the same window algebra in SQL."""
    from xarray_spark.extras.curation import dedup_substrings
    docs = _read_raw(spark, sf_dir, "documents")
    out = dedup_substrings(docs, k=5, min_docs=2)
    return out.select("doc_id", "text", "n_tokens", "n_dropped")


def q120_semdedup(spark, sf_dir):
    """SemDeDup pairs (extras.similarity.semdedup_pairs — Abbas et al.
    2023): cluster embeddings by the fixed integer codebook, call
    within-cell cosine ≥ threshold a semantic duplicate.  The oracle
    replays cell assignment and every within-cell cosine."""
    from xarray_spark.extras.similarity import semdedup_pairs
    emb = _read_raw(spark, sf_dir, "embeddings")
    return semdedup_pairs(emb, threshold=0.4, n_cells=64)


def q121_argsort(spark, sf_dir):
    """argsort (round-5 API sweep): the inverse sort permutation of the
    daily-revenue series — output position j holds the original 0-based
    position of the j-th smallest revenue (numpy argsort semantics,
    stable ties).  One keyed window + broadcast label re-key; the
    oracle replays the permutation with two ROW_NUMBERs."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.argsort("l_shipdate")
    return out.to_spark().select("l_shipdate", F.col("rev").alias("rev_pos"))


def q122_polyfit_full(spark, sf_dir):
    """polyfit(full=True) (round-5 wave 20; xarray computation/
    fit.py:204): residuals + matrix rank alongside the coefficients —
    the residual comes from the Syy moment in the SAME single hash
    aggregation (Σw²y² − cᵀT via the normal equations), the rank from
    the label-table Vandermonde on the driver.  Oracle: regr_slope/
    intercept + SSE = regr_syy·(1−r²)."""
    df = _read_raw(spark, sf_dir, "lineitem")
    ds = XDataset(df, dims=["l_quantity"], data_vars=["l_extendedprice"])
    fit = ds.polyfit("l_quantity", deg=1, full=True)
    return fit.to_spark().select(
        "degree",
        _r4(F.col("l_extendedprice_polyfit_coefficients")).alias("coef"),
        F.round(F.col("l_extendedprice_polyfit_residuals") / F.lit(1e9),
                3).alias("resid_b"),
        F.col("l_quantity_matrix_rank").alias("rank"),
    )


def q123_where_isin(spark, sf_dir):
    """Composition of the wave-19/20 masking semantics: where(cond,
    other=0) + clip(max=) + isin membership — all JVM expressions, one
    groupBy each, joined on the group key."""
    li = _lineitem(spark, sf_dir).assign(rev=REV())
    masked = li.where(F.col("l_quantity") > 25.0, 0.0).clip(max=4000.0)
    agg1 = masked.groupby("l_returnflag").agg(
        masked_rev=_r3(F.sum("rev")))
    member = li["l_quantity"].isin([5.0, 10.0, 15.0, 20.0])
    agg2 = member.groupby("l_returnflag").agg(
        n_in=F.sum(F.col("l_quantity").cast("long")))
    return agg1.to_spark().join(agg2.to_spark(), on="l_returnflag")


def q124_resample_gaps(spark, sf_dir):
    """resample over a SPARSE series (wave 19): the reference
    materializes the FULL first..last bin run — empty bins are
    missing-valued rows, even for count.  The engine derives the bin
    run from the agg output itself (bin-sized), no second fact scan.
    Oracle: generate_series densify + left join."""
    ev = _events(spark, sf_dir).query("value > 250")
    out = ev.resample(ts="1h").mean()
    return out.to_spark().select(
        "ts", F.round(F.col("value") + F.lit(1e-9), 4).alias("v"))


def q125_diff_lower(spark, sf_dir):
    """diff(label='lower') (wave 19; xarray core/dataset.py:7879):
    lead-difference keeping the EARLIER label, last label dropped."""
    daily = _daily_revenue(spark, sf_dir)
    out = daily.diff("l_shipdate", label="lower").assign(
        d_rev=_r3(F.col("rev"))
    ).drop_vars("rev")
    return out.to_spark()


def q127_gopher_filter(spark, sf_dir):
    """Gopher quality-rule filter (extras.curation.gopher_filter — Rae
    et al. 2021 Appendix A): word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, alphabetic-word fraction, stop-word
    hits — one map-only JVM projection, every signal and the verdict
    replayed rule-by-rule in SQL.  Thresholds scaled to the synthetic
    corpus (its documents are ~tens of words)."""
    from xarray_spark.extras.curation import gopher_filter
    docs = _read_raw(spark, sf_dir, "documents")
    return gopher_filter(docs, min_words=10, max_words=2000,
                         min_mean_word_len=3.0, max_mean_word_len=8.0,
                         min_alpha_word_frac=0.8, min_stopword_hits=1)


def q128_c4_filter(spark, sf_dir):
    """C4 cleaning rules (extras.curation.c4_filter — Raffel et al.
    2020 §2.2): terminal-punctuation line keep, 3-word line minimum,
    javascript-line drop, lorem-ipsum / curly-brace / badword page
    drops, minimum sentence count — one map-only JVM projection,
    every rule replayed in SQL.

    The synthetic corpus has no newlines or punctuation, so the query
    first INJECTS deterministic structure with literal replaces
    (identical left-to-right non-overlapping semantics in Spark and
    DuckDB): ``" value" -> ".\\n"`` creates lines and terminal
    periods, ``" merge " -> " { "`` plants code braces, and
    ``" batch batch " -> " lorem ipsum "`` plants the filler phrase —
    so every rule actually fires on real data."""
    from xarray_spark.extras.curation import c4_filter
    docs = _read_raw(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.replace(
            F.replace(
                F.replace(F.coalesce(F.col("text"), F.lit("")),
                          F.lit(" value"), F.lit(".\n")),
                F.lit(" merge "), F.lit(" { ")),
            F.lit(" batch batch "), F.lit(" lorem ipsum ")).alias("text"),
    )
    return c4_filter(staged, min_line_words=3, min_sentences=2,
                     badwords=("vector",))


def q129_ngram_lm_score(spark, sf_dir):
    """CCNet-style perplexity scoring (extras.text.ngram_lm_score —
    Wenzek et al. 2020): char-trigram LM trained on the corpus itself,
    add-one smoothing, per-gram log-probs QUANTIZED to integers
    (floor(ln p * 1e4)) so per-doc totals are exact integer sums —
    order-independent across partitions AND engines — then exact
    ntile thirds into head/middle/tail.  The oracle replays the
    training counts, the quantization, the backoff coalesce, and the
    ntile in SQL."""
    from xarray_spark.extras.text import ngram_lm_score
    docs = _read_raw(spark, sf_dir, "documents")
    return ngram_lm_score(docs, n=3, vocab_size=128, quant=10_000)


def q135_lm_buckets_thresholds(spark, sf_dir):
    """The ngram_lm_score PRODUCTION bucketing path (thresholds= —
    fixed perplexity cut points instead of the exact global ntile):
    bucket assignment is a map-only comparison with NO global sort,
    the form a 100 TB run uses with cutpoints from a sampled quantile
    or a previous epoch.  Same trained model and scoring as q129; the
    oracle replays training, quantization, backoff, and the two fixed
    comparisons."""
    from xarray_spark.extras.text import ngram_lm_score
    docs = _read_raw(spark, sf_dir, "documents")
    return ngram_lm_score(docs, n=3, vocab_size=128, quant=10_000,
                          thresholds=(2.33, 2.41))


def q130_decontaminate_ngrams(spark, sf_dir):
    """N-gram-overlap decontamination (extras.curation.
    decontaminate_ngrams — the GPT-3 appendix-C 13-gram rule, here at
    n=5 to fit the synthetic corpus's short documents): eval set =
    every 25th document; a corpus doc is contaminated if it shares any
    word 5-gram with any eval doc.  Eval grams hash-distinct and
    broadcast; corpus side is explode → broadcast semi-probe →
    per-doc count.  The oracle replays gram extraction, the distinct
    eval set, and the occurrence counts on plain gram strings."""
    from xarray_spark.extras.curation import decontaminate_ngrams
    docs = _read_raw(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 25 == 0)
    return decontaminate_ngrams(docs, ev, n=5, mode="flag")


def q131_pack_nosplit(spark, sf_dir):
    """No-straddle (next-fit) sequence packing (extras.curation.
    pack_sequences_nosplit): documents that would cross a 256-token
    bin boundary start a new bin instead of straddling (the SFT
    packing discipline); oversize docs get their own flagged bin.
    Next-fit is a sequential recurrence — it runs per deterministic
    md5 bucket (one shuffle, Arrow pass, two-integer state) and the
    oracle replays the recurrence exactly with a recursive CTE."""
    from xarray_spark.extras.curation import pack_sequences_nosplit
    docs = _read_raw(spark, sf_dir, "documents")
    out = pack_sequences_nosplit(docs, budget=256, n_buckets=8)
    return out.select("doc_id", "bucket", "n_tokens", "bin",
                      "bin_fill", "oversize")


def q136_curation_pipeline(spark, sf_dir):
    """End-to-end curation PIPELINE gate — the actual 100 TB use case
    is the COMPOSITION, and every inter-operator contract the unit
    gates cannot see is exercised here: id stability across stages,
    the text flowing forward as c4's ``clean_text``, flag-vs-drop
    composition, and dedup/decontamination ordering.

    Five chained stages over documents.parquet:
      1. **C4 cleaning** (extras.curation.c4_filter) on deterministic
         staged text — ``" value" -> ".\\n"`` creates punctuated
         lines everywhere, while ``" slow slow " -> " { "``,
         ``" batch batch " -> " lorem ipsum "`` and
         ``" big vector " -> " nsfwterm "`` plant each page-drop rule
         in a MINORITY of documents so every rule fires without
         emptying the corpus; survivors continue with the
         line-filtered ``clean_text``;
      2. **Gopher quality rules** (gopher_filter) on the CLEANED text;
      3. **exact dedup** (dedup.dedup_exact) — duplicates planted by
         unioning every 40th staged doc under ``id + 10_000_000``
         (keep='first' must retain the ORIGINAL id);
      4. **5-gram decontamination** (decontaminate_ngrams,
         mode='drop') against the every-25th-document eval slice;
      5. **no-straddle packing** (pack_sequences_nosplit, 256-token
         bins, 8 md5 buckets) of the survivors.

    Scale shape: stages 1-2 are map-only JVM projections, stage 3 is
    one hash-fingerprint shuffle, stage 4 a broadcast semi-probe with
    a left-anti, stage 5 one bucket-keyed shuffle + Arrow recurrence
    — the chain adds NO shuffle beyond its stages' own.  The oracle
    replays all five stages in one chained CTE (sf0.01: 513 staged
    docs -> 207 after C4 -> 143 after Gopher -> 133 after dedup ->
    129 packed)."""
    from xarray_spark.extras.curation import (
        c4_filter, decontaminate_ngrams, gopher_filter,
        pack_sequences_nosplit)
    from xarray_spark.extras.dedup import dedup_exact
    docs = _read_raw(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.replace(
            F.replace(
                F.replace(
                    F.replace(F.coalesce(F.col("text"), F.lit("")),
                              F.lit(" value"), F.lit(".\n")),
                    F.lit(" slow slow "), F.lit(" { ")),
                F.lit(" batch batch "), F.lit(" lorem ipsum ")),
            F.lit(" big vector "), F.lit(" nsfwterm ")).alias("text"))
    dup = staged.where(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    corpus = staged.unionByName(dup)
    c4 = c4_filter(corpus, min_line_words=2, min_sentences=2,
                   badwords=("nsfwterm",))
    s1 = c4.where("passes").select(
        "doc_id", F.col("clean_text").alias("text"))
    g = gopher_filter(s1, min_words=12, max_words=2000,
                      min_mean_word_len=3.0, max_mean_word_len=8.0,
                      min_alpha_word_frac=0.8, min_stopword_hits=1,
                      keep=("text",))
    # keep=('text',) threads the cleaned text through the signal
    # projection, so the stage stays MAP-ONLY — joining the passes
    # flags back would shuffle twice for a self-derived predicate
    s2 = g.where("passes").select("doc_id", "text")
    s3 = dedup_exact(s2, "text", "doc_id")
    ev = staged.where(F.col("doc_id") % 25 == 0)
    s4 = decontaminate_ngrams(s3, ev, n=5, mode="drop")
    out = pack_sequences_nosplit(s4, budget=256, n_buckets=8)
    return out.select("doc_id", "bucket", "n_tokens", "bin",
                      "bin_fill", "oversize")


def q126_semdedup_trained(spark, sf_dir):
    """SemDeDup with a TRAINED codebook (extras.similarity.
    semdedup_train_centroids + semdedup_pairs(centroids_q=…)) — the
    production path q120's fixed codebook stands in for, now
    value-verified: two integer-exact Lloyd iterations from the md5
    init codebook over a deterministic id<256 sample, then within-cell
    cosine pairs.  The oracle replays the TRAINING (both unrolled
    iterations — assignment, per-dim floor((2s+n)/(2n)) centroid
    update, empty-cell carry) and every within-cell cosine in SQL."""
    from xarray_spark.extras.similarity import (
        semdedup_pairs, semdedup_train_centroids)
    emb = _read_raw(spark, sf_dir, "embeddings")
    cents = semdedup_train_centroids(emb, n_cells=8, iters=2,
                                     sample_max_id=256)
    return semdedup_pairs(emb, threshold=0.4, n_cells=8,
                          centroids_q=cents)


def q134_ivf_trained(spark, sf_dir):
    """IVF top-k with a TRAINED coarse quantizer, end-to-end
    value-verified (extras.similarity.train_centroids_int +
    ivf_topk_fixed(centroids_q=…)) — retires the registry's last
    rows-only query (q64): the q126 recipe (integer-exact unrolled
    Lloyd from the md5 init codebook over the deterministic id<256
    sample) applied to the IVF query path.  The oracle replays the
    TRAINING (both iterations), the final integer-exact cell
    assignment, the n_probe query-side expansion, and the
    rounded-cosine re-rank in SQL."""
    from xarray_spark.extras.similarity import (
        ivf_topk_fixed, train_centroids_int)
    emb = _read_raw(spark, sf_dir, "embeddings")
    cents = train_centroids_int(emb, n_cells=8, iters=2,
                                sample_max_id=256)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding"))
    return ivf_topk_fixed(emb, queries, k=3, n_cells=8, n_probe=2,
                          centroids_q=cents)


def q132_dsir(spark, sf_dir):
    """DSIR importance resampling (extras.sampling.dsir_sample — Xie
    et al. 2023): select 200 documents toward a target distribution
    (every 20th doc stands in for the high-quality target) by hashed
    uni+bigram importance weights with deterministic md5-derived
    Gumbel top-k.  Per-bucket log-ratios are integer-quantized so
    per-doc weights are exact integer sums; the oracle replays the
    feature hashing, the dense smoothed ratio table, the Gumbel
    derivation, and the top-k rank in SQL."""
    from xarray_spark.extras.sampling import dsir_sample
    docs = _read_raw(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 20 == 0)
    return dsir_sample(docs, target, k=200, buckets=2048,
                       quant=10_000, gumbel=True, mode="flag")


def q133_pii_redact(spark, sf_dir):
    """PII redaction (extras.text.pii_redact — the masking counterpart
    of q95's scan, ROOTS-style placeholder substitution): the gate
    injects the same deterministic PII as q95, redacts, and the oracle
    replays all three regexp_replace passes verbatim on the full text
    (value hash covers every redacted character)."""
    from xarray_spark.extras.text import pii_redact
    docs = _read_raw(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.coalesce(
                F.when(F.col("doc_id") % 7 == 0,
                       F.concat(F.lit(" contact user"), F.col("doc_id"),
                                F.lit("@example.com now")))
                .when(F.col("doc_id") % 7 == 1,
                      F.concat(F.lit(" see https://example.com/d/"),
                               F.col("doc_id")))
                .when(F.col("doc_id") % 7 == 2,
                      F.concat(F.lit(" call 555"),
                               F.col("doc_id") + F.lit(1000000))),
                F.lit(""),
            ),
        ),
    )
    out = pii_redact(injected)
    return out.select("doc_id", "text_redacted", "n_redactions")


# --------------------------------------------------------------------- #

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver contract: every implemented operator, one entry each.

    ORDERING IS DELIBERATE: the driver's correctness gate evaluates the
    first 50 entries, so the window rotates per round.  The ROUND-13
    window holds (a) every query this round's optimizations touched —
    the literal-table Arrow path (q94/q36/q29/q21/q62/q104/q132 + the
    quantile family), the q115 rank_vals fold, the ngram_lm_score
    aggregate fold (q129/q135), the two_phase_rank rebuild
    (q03/q17/q57/q79/q121), and the align/concat marker carriers
    (q117/q20/q142) with the round's ADVICE align fix; (b) the
    round-12 verdict's anti-scaling 20-list verbatim EXCEPT its two
    streaming members q67/q87 — the streaming five keep their standing
    absolute-tail position (r11 verdict order: state-store residue must
    not poison the gate block), documented exception; (c) q34/q35
    (portable-hash pair) and q115 per verdict item 7; (d) rotation
    debt: q22/q56 (reshaping rows r10-or-older), q143/q144 (debutants
    with no oracle row yet), q15/q39/q74 (quantile family sharing the
    touched plan), q30/q88/q66/q124/q139 (r11-window rows).  Within the
    window, cheap scan+agg/map-only queries lead so they absorb cold
    JIT; the dedup/ANN/text pipelines sit behind them; q136 (the
    5-stage composition) closes the window.  Everything below the
    window stays covered by tests/test_oracle.py at sf0.001 each round
    (SPARK_GRAFT_FULL_TESTS=1).
    """
    return {
        # ---- ROUND-13 GATE WINDOW (first 50; bench order:
        # cheap scan+aggs lead to absorb cold JIT) ----
        "q01_pricing_summary": q01_pricing_summary,
        "q03_isel_head": q03_isel_head,
        "q27_str_ops": q27_str_ops,
        "q28_dt_fields": q28_dt_fields,
        "q17_rank": q17_rank,
        "q40_dropna": q40_dropna,
        "q78_dt_tail": q78_dt_tail,
        "q95_pii_scan": q95_pii_scan,
        "q18_idxmax": q18_idxmax,
        "q79_sel_step": q79_sel_step,
        "q57_isel_points": q57_isel_points,
        "q121_argsort": q121_argsort,
        "q22_pivot": q22_pivot,
        "q56_densify": q56_densify,
        "q30_dedup_exact": q30_dedup_exact,
        "q88_hash_sample": q88_hash_sample,
        "q124_resample_gaps": q124_resample_gaps,
        "q66_season_resampler": q66_season_resampler,
        "q139_resample_me_asfreq": q139_resample_me_asfreq,
        "q21_reindex_fill": q21_reindex_fill,
        "q29_reindex_nearest": q29_reindex_nearest,
        "q62_interp_targets": q62_interp_targets,
        "q104_interp_calendar": q104_interp_calendar,
        "q117_outer_align_coords": q117_outer_align_coords,
        "q20_concat": q20_concat,
        "q142_concat_minimal": q142_concat_minimal,
        "q143_combine_nested": q143_combine_nested,
        "q144_cap_per_group": q144_cap_per_group,
        "q15_quantile": q15_quantile,
        "q39_groupby_quantile": q39_groupby_quantile,
        "q74_quantile_methods": q74_quantile_methods,
        "q137_grouped_quantile_midbin": q137_grouped_quantile_midbin,
        "q115_grouped_quantile_hist": q115_grouped_quantile_hist,
        "q129_ngram_lm_score": q129_ngram_lm_score,
        "q135_lm_buckets_thresholds": q135_lm_buckets_thresholds,
        "q53_ngram_jaccard": q53_ngram_jaccard,
        "q34_minhash_lsh": q34_minhash_lsh,
        "q35_simhash": q35_simhash,
        "q119_dedup_substrings": q119_dedup_substrings,
        "q120_semdedup": q120_semdedup,
        "q126_semdedup_trained": q126_semdedup_trained,
        "q97_ivf_fixed": q97_ivf_fixed,
        "q52_embedding_near_dups": q52_embedding_near_dups,
        "q61_nearest_points": q61_nearest_points,
        "q132_dsir": q132_dsir,
        "q81_dedup_clusters": q81_dedup_clusters,
        "q107_repetition_stats": q107_repetition_stats,
        "q36_multimodal_features": q36_multimodal_features,
        "q94_audio_features": q94_audio_features,
        "q136_curation_pipeline": q136_curation_pipeline,
        # ---- below the gate fold (oracle-covered via test_oracle) ----
        "q138_resample_multiweek": q138_resample_multiweek,
        "q05_orders_groupby": q05_orders_groupby,
        "q16_groupby_median": q16_groupby_median,
        "q37_coarsen_weekly": q37_coarsen_weekly,
        "q41_dot": q41_dot,
        "q26_corr": q26_corr,
        "q47_weighted_var": q47_weighted_var,
        "q48_cov": q48_cov,
        "q44_differentiate": q44_differentiate,
        "q24_integrate": q24_integrate,
        "q70_ffill_segmented": q70_ffill_segmented,
        "q02_sel_label_slice": q02_sel_label_slice,
        "q04_where_mask": q04_where_mask,
        "q06_groupby_bins": q06_groupby_bins,
        "q09_season_groupby": q09_season_groupby,
        "q10_rolling_mean": q10_rolling_mean,
        "q11_cumsum": q11_cumsum,
        "q12_diff": q12_diff,
        "q13_ffill": q13_ffill,
        "q14_interpolate_na": q14_interpolate_na,
        "q43_bfill": q43_bfill,
        "q54_pad": q54_pad,
        "q58_where_aligned": q58_where_aligned,
        "q86_cf_subdaily": q86_cf_subdaily,
        "q123_where_isin": q123_where_isin,
        "q125_diff_lower": q125_diff_lower,
        "q110_dedup_lines": q110_dedup_lines,
        "q133_pii_redact": q133_pii_redact,
        "q33_cosine_topk": q33_cosine_topk,
        "q60_salted_agg": q60_salted_agg,
        "q134_ivf_trained": q134_ivf_trained,
        "q77_str_tail": q77_str_tail,
        "q83_str_tail2": q83_str_tail2,
        "q63_lsh_multiprobe": q63_lsh_multiprobe,
        "q108_blend_epochs": q108_blend_epochs,
        "q140_rolling_std_wide": q140_rolling_std_wide,
        "q45_resample_asfreq": q45_resample_asfreq,
        "q07_resample_monthly": q07_resample_monthly,
        "q08_resample_daily_events": q08_resample_daily_events,
        "q46_resample_6h": q46_resample_6h,
        "q65_multi_grouper": q65_multi_grouper,
        "q114_encoded_groups": q114_encoded_groups,
        "q84_dt_timedelta": q84_dt_timedelta,
        "q141_rolling_2d_var": q141_rolling_2d_var,
        "q19_binary_align": q19_binary_align,
        "q99_sel_partial_string": q99_sel_partial_string,
        "q100_sel_negative_step": q100_sel_negative_step,
        "q101_ewm_corr": q101_ewm_corr,
        "q102_coarsen_construct": q102_coarsen_construct,
        "q103_coarsen_reduce": q103_coarsen_reduce,
        "q105_argmax_grid": q105_argmax_grid,
        "q106_complex_phase": q106_complex_phase,
        "q89_hash_split": q89_hash_split,
        "q90_stratified_sample": q90_stratified_sample,
        "q91_decontaminate": q91_decontaminate,
        "q92_pack_sequences": q92_pack_sequences,
        "q93_shuffle_rank": q93_shuffle_rank,
        "q98_chunk_documents": q98_chunk_documents,
        "q127_gopher_filter": q127_gopher_filter,
        "q128_c4_filter": q128_c4_filter,
        "q130_decontaminate_ngrams": q130_decontaminate_ngrams,
        "q131_pack_nosplit": q131_pack_nosplit,
        "q112_pq_topk": q112_pq_topk,
        "q113_ivfpq_topk": q113_ivfpq_topk,
        "q51_lsh_topk": q51_lsh_topk,
        "q23_weighted_mean": q23_weighted_mean,
        "q31_text_features": q31_text_features,
        "q38_shift": q38_shift,
        "q42_stopword_ratio": q42_stopword_ratio,
        "q49_fingerprint_distinct": q49_fingerprint_distinct,
        "q50_rolling_exp": q50_rolling_exp,
        "q55_rolling_2d": q55_rolling_2d,
        "q68_datatree": q68_datatree,
        "q69_bpe_token_count": q69_bpe_token_count,
        "q71_netcdf_roundtrip": q71_netcdf_roundtrip,
        "q73_curvefit": q73_curvefit,
        "q75_interp_zero": q75_interp_zero,
        "q80_cf_360day": q80_cf_360day,
        "q82_pad_reflect": q82_pad_reflect,
        "q122_polyfit_full": q122_polyfit_full,
        "q25_polyfit": q25_polyfit,
        "q59_decode_cf": q59_decode_cf,
        "q111_rolling_argmin": q111_rolling_argmin,
        "q72_zarr_roundtrip": q72_zarr_roundtrip,
        "q116_bucketed_ffill": q116_bucketed_ffill,
        "q118_temperature_sample": q118_temperature_sample,
        "q32_language_id": q32_language_id,
        "q76_interp_quadratic": q76_interp_quadratic,
        # ---- streaming five: absolute registry tail (standing stance) ----
        "q67_stream_resample": q67_stream_resample,
        "q109_stream_interval_join": q109_stream_interval_join,
        "q96_stream_sessionize": q96_stream_sessionize,
        "q85_stream_asof": q85_stream_asof,
        "q87_stream_dedup": q87_stream_dedup,
    }


# --------------------------------------------------------------------- #
# portable-hash oracle builders — DuckDB twins of extras.portable.
# The md5-derived coefficients are INLINED from the same Python
# generators the Spark expressions use, so both engines share literals.
# --------------------------------------------------------------------- #

_P31 = 2_147_483_647
_SQL_WORDS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


def _sql_md5l(e: str) -> str:
    return f"(('0x' || substr(md5({e}), 1, 15))::BIGINT)"


def _sql_trigram_toks() -> str:
    """documents → (doc_id, sh): distinct word trigrams, matching
    extras.text.ngrams (k<3 ⇒ [''])."""
    return f"""
      words AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
      toks AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [''] END)) AS sh
        FROM words)"""


def _minhash_oracle(num_hashes=64, bands=16, threshold=0.2) -> str:
    from xarray_spark.extras.portable import perm_coeffs
    rows = num_hashes // bands
    coeffs = perm_coeffs(num_hashes)
    mins = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {_P31}) AS m{i}"
        for i, (a, b) in enumerate(coeffs))
    band_rows = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS key FROM sig".format(
            b=b,
            key=_sql_md5l(" || ',' || ".join(f"m{b * rows + r}::VARCHAR"
                                             for r in range(rows))
                          + f" || '|{b}'"))
        for b in range(bands))
    matches = " + ".join(f"(sa.m{i} = sb.m{i})::INT" for i in range(num_hashes))
    return f"""
      WITH {_sql_trigram_toks()},
      h AS (SELECT doc_id, {_sql_md5l('sh')} % {_P31} AS h FROM toks),
      sig AS (SELECT doc_id,
               {mins}
              FROM h GROUP BY doc_id),
      bands AS ({band_rows}),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id),
      est AS (SELECT cand.id_a, cand.id_b, ({matches}) / {float(num_hashes)} AS je
              FROM cand
              JOIN sig sa ON sa.doc_id = cand.id_a
              JOIN sig sb ON sb.doc_id = cand.id_b)
      SELECT id_a, id_b, ROUND(je + 1e-9, 6) AS jaccard_est
      FROM est WHERE je >= {threshold}"""


def _simhash_oracle(bits=60, max_hamming=10) -> str:
    sums = ",\n               ".join(
        f"SUM((h >> {b}) & 1) AS s{b}" for b in range(bits))
    sig = " | ".join(f"(((2 * s{b} > n)::BIGINT) << {b})" for b in range(bits))
    return f"""
      WITH words AS (SELECT doc_id,
              list_distinct({_SQL_WORDS}) AS w FROM documents),
      toks AS (SELECT doc_id, unnest(w) AS t FROM words),
      h AS (SELECT doc_id, {_sql_md5l('t')} AS h FROM toks),
      votes AS (SELECT doc_id, COUNT(*) AS n,
               {sums}
              FROM h GROUP BY doc_id),
      sig AS (SELECT doc_id, ({sig}) AS sh FROM votes)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}"""


def _sql_planes(n_flat: int, dim: int) -> str:
    """md5-derived integer plane coefficients computed inside DuckDB —
    identical to extras.portable.plane_coeffs (flat plane index p)."""
    c = _sql_md5l("'plane-' || p::VARCHAR || '-' || j::VARCHAR")
    return (f"planes AS (SELECT p, j, ({c} % 2001 - 1000) AS c "
            f"FROM range({n_flat}) t1(p), range({dim}) t2(j))")


_SQL_QVEC = ("qv AS (SELECT vec_id, "
             "list_transform(embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT) AS v, "
             "CAST(embedding AS DOUBLE[]) AS e FROM embeddings)")
_SQL_COS = ("list_cosine_similarity(a.e, b.e)")


def _lsh_topk_oracle(n_planes=4, k=3, probes=False) -> str:
    probe_list = "[bucket" + "".join(f", xor(bucket, {1 << b}::BIGINT)"
                                     for b in range(n_planes)) + "]"
    qside = (f"qprobe AS (SELECT vec_id, unnest({probe_list}) AS bucket "
             f"FROM sig WHERE vec_id < 5)"
             if probes else
             "qprobe AS (SELECT vec_id, bucket FROM sig WHERE vec_id < 5)")
    return f"""
      WITH {_SQL_QVEC},
      {_sql_planes(n_planes, 64)},
      dots AS (SELECT q.vec_id, p.p, SUM(q.v[p.j + 1] * p.c) AS d
               FROM qv q, planes p GROUP BY 1, 2),
      sig AS (SELECT vec_id,
                SUM(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
              FROM dots GROUP BY 1),
      {qside},
      cand AS (SELECT DISTINCT qp.vec_id AS qid, cs.vec_id AS nid
               FROM qprobe qp JOIN sig cs ON cs.bucket = qp.bucket
               WHERE cs.vec_id <> qp.vec_id),
      scored AS (SELECT cand.qid, cand.nid,
                  ROUND(list_cosine_similarity(a.e, b.e) + 1e-9, 6) AS cos
                 FROM cand JOIN qv a ON a.vec_id = cand.qid
                 JOIN qv b ON b.vec_id = cand.nid),
      ranked AS (SELECT qid, nid, cos,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
                 FROM scored)
      SELECT qid, nid, cos, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= {k}"""


def _near_dups_oracle(n_planes=16, n_bands=8, threshold=0.5) -> str:
    return f"""
      WITH {_SQL_QVEC},
      {_sql_planes(n_planes * n_bands, 64)},
      dots AS (SELECT q.vec_id, p.p // {n_planes} AS band, p.p % {n_planes} AS pl,
                SUM(q.v[p.j + 1] * p.c) AS d
               FROM qv q, planes p GROUP BY 1, 2, 3),
      sig AS (SELECT vec_id, band,
                SUM(CASE WHEN d > 0 THEN (1::BIGINT << pl) ELSE 0::BIGINT END) AS bucket
              FROM dots GROUP BY 1, 2),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM sig a JOIN sig b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      scored AS (SELECT cand.id_a, cand.id_b,
                  ROUND(list_cosine_similarity(a.e, b.e) + 1e-9, 6) AS cos
                 FROM cand JOIN qv a ON a.vec_id = cand.id_a
                 JOIN qv b ON b.vec_id = cand.id_b)
      SELECT id_a, id_b, cos FROM scored WHERE cos >= {threshold}"""


def _sql_pq_entry(s_expr: str, c_expr: str, j_expr: str) -> str:
    """DuckDB twin of extras.portable.pq_codebook entries."""
    from xarray_spark.extras.portable import sql_pq_entry
    return sql_pq_entry(s_expr, c_expr, j_expr)


def _sql_bucket(salt: str, key_expr: str) -> str:
    """DuckDB twin of extras.sampling._bucket."""
    return (f"(('0x' || substr(md5('{salt}' || {key_expr}), 1, 15))::BIGINT"
            f" % 1000000)")


def _ivf_fixed_oracle(n_cells=8, n_probe=2, k=3) -> str:
    cell = _sql_md5l("'cell-' || c::VARCHAR || '-' || j::VARCHAR")
    return f"""
      WITH {_SQL_QVEC},
      cells AS (SELECT c, j, ({cell} % 2001 - 1000) * 1000 AS x
                FROM range({n_cells}) t1(c), range(64) t2(j)),
      dist AS (SELECT q.vec_id, cl.c,
                SUM((q.v[cl.j + 1] - cl.x) * (q.v[cl.j + 1] - cl.x)) AS d
               FROM qv q, cells cl GROUP BY 1, 2),
      rankd AS (SELECT vec_id, c,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
                FROM dist),
      assign AS (SELECT vec_id, c AS cell FROM rankd WHERE rn = 1),
      qprobe AS (SELECT vec_id, c AS cell FROM rankd
                 WHERE rn <= {n_probe} AND vec_id < 5),
      cand AS (SELECT DISTINCT qp.vec_id AS qid, a.vec_id AS nid
               FROM qprobe qp JOIN assign a ON a.cell = qp.cell
               WHERE a.vec_id <> qp.vec_id),
      scored AS (SELECT cand.qid, cand.nid,
                  ROUND(list_cosine_similarity(a.e, b.e) + 1e-9, 6) AS cos
                 FROM cand JOIN qv a ON a.vec_id = cand.qid
                 JOIN qv b ON b.vec_id = cand.nid),
      ranked AS (SELECT qid, nid, cos,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
                    AS rank
                 FROM scored)
      SELECT qid, nid, cos, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= {k}"""


def _ivf_trained_oracle(n_cells=8, n_probe=2, k=3,
                        sample_max_id=256) -> str:
    """SQL replay of q134: the two unrolled integer Lloyd iterations
    (extras.similarity.train_centroids_int — identical CTEs to the
    q126 oracle) followed by the q97-shape IVF query replay (final
    assignment, n_probe probe expansion, rounded-cosine re-rank)
    against the TRAINED centroid table instead of the fixed one."""
    cell = _sql_md5l("'cell-' || c::VARCHAR || '-' || j::VARCHAR")
    sql = f"""
      WITH {_SQL_QVEC},
      c0 AS (SELECT c, j, ({cell} % 2001 - 1000) * 1000 AS x
             FROM range({n_cells}) t1(c), range(64) t2(j)),
      samp AS (SELECT vec_id, v FROM qv WHERE vec_id < {sample_max_id})"""
    prev = "c0"
    for i in (1, 2):
        sql += f""",
      d{i} AS (SELECT s.vec_id, cl.c,
                SUM((s.v[cl.j + 1] - cl.x) * (s.v[cl.j + 1] - cl.x)) AS d
               FROM samp s, {prev} cl GROUP BY 1, 2),
      a{i} AS (SELECT vec_id, c FROM (
                 SELECT vec_id, c,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d, c) AS rn
                 FROM d{i}) WHERE rn = 1),
      m{i} AS (SELECT a.c, t.j, SUM(s.v[t.j + 1]) AS sm, COUNT(*) AS n
               FROM a{i} a JOIN samp s USING (vec_id)
               CROSS JOIN range(64) t(j)
               GROUP BY 1, 2),
      c{i} AS (SELECT p.c, p.j,
                COALESCE(FLOOR((2 * m.sm + m.n) / (2.0 * m.n))::BIGINT,
                         p.x) AS x
               FROM {prev} p LEFT JOIN m{i} m ON m.c = p.c AND m.j = p.j)"""
        prev = f"c{i}"
    sql += f""",
      dist AS (SELECT q.vec_id, cl.c,
                SUM((q.v[cl.j + 1] - cl.x) * (q.v[cl.j + 1] - cl.x)) AS d
               FROM qv q, {prev} cl GROUP BY 1, 2),
      rankd AS (SELECT vec_id, c,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
                FROM dist),
      assign AS (SELECT vec_id, c AS cell FROM rankd WHERE rn = 1),
      qprobe AS (SELECT vec_id, c AS cell FROM rankd
                 WHERE rn <= {n_probe} AND vec_id < 5),
      cand AS (SELECT DISTINCT qp.vec_id AS qid, a.vec_id AS nid
               FROM qprobe qp JOIN assign a ON a.cell = qp.cell
               WHERE a.vec_id <> qp.vec_id),
      scored AS (SELECT cand.qid, cand.nid,
                  ROUND(list_cosine_similarity(a.e, b.e) + 1e-9, 6) AS cos
                 FROM cand JOIN qv a ON a.vec_id = cand.qid
                 JOIN qv b ON b.vec_id = cand.nid),
      ranked AS (SELECT qid, nid, cos,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid)
                    AS rank
                 FROM scored)
      SELECT qid, nid, cos, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= {k}"""
    return sql


def _semdedup_trained_oracle(n_cells=8, sample_max_id=256,
                             threshold=0.4) -> str:
    """SQL replay of q126: the two unrolled integer Lloyd iterations
    (extras.similarity.semdedup_train_centroids) + final assignment +
    within-cell cosine pairs.  All training arithmetic is int64-exact;
    the centroid update FLOOR((2s+n)/(2.0n)) is the same mathematical
    floor as the engine's Python (2s+n)//(2n)."""
    cell = _sql_md5l("'cell-' || c::VARCHAR || '-' || j::VARCHAR")
    sql = f"""
      WITH {_SQL_QVEC},
      c0 AS (SELECT c, j, ({cell} % 2001 - 1000) * 1000 AS x
             FROM range({n_cells}) t1(c), range(64) t2(j)),
      samp AS (SELECT vec_id, v FROM qv WHERE vec_id < {sample_max_id})"""
    prev = "c0"
    for i in (1, 2):
        sql += f""",
      d{i} AS (SELECT s.vec_id, cl.c,
                SUM((s.v[cl.j + 1] - cl.x) * (s.v[cl.j + 1] - cl.x)) AS d
               FROM samp s, {prev} cl GROUP BY 1, 2),
      a{i} AS (SELECT vec_id, c FROM (
                 SELECT vec_id, c,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d, c) AS rn
                 FROM d{i}) WHERE rn = 1),
      m{i} AS (SELECT a.c, t.j, SUM(s.v[t.j + 1]) AS sm, COUNT(*) AS n
               FROM a{i} a JOIN samp s USING (vec_id)
               CROSS JOIN range(64) t(j)
               GROUP BY 1, 2),
      c{i} AS (SELECT p.c, p.j,
                COALESCE(FLOOR((2 * m.sm + m.n) / (2.0 * m.n))::BIGINT,
                         p.x) AS x
               FROM {prev} p LEFT JOIN m{i} m ON m.c = p.c AND m.j = p.j)"""
        prev = f"c{i}"
    sql += f""",
      dfin AS (SELECT q.vec_id, cl.c,
                SUM((q.v[cl.j + 1] - cl.x) * (q.v[cl.j + 1] - cl.x)) AS d
               FROM qv q, {prev} cl GROUP BY 1, 2),
      assign AS (SELECT vec_id, c AS cell FROM (
                   SELECT vec_id, c,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY d, c) AS rn
                   FROM dfin) WHERE rn = 1),
      pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM assign a JOIN assign b ON a.cell = b.cell
                WHERE a.vec_id < b.vec_id)
      SELECT p.id_a, p.id_b,
             ROUND(list_cosine_similarity(qa.e, qb.e) + 1e-9, 6) AS cos
      FROM pairs p
      JOIN qv qa ON qa.vec_id = p.id_a
      JOIN qv qb ON qb.vec_id = p.id_b
      WHERE ROUND(list_cosine_similarity(qa.e, qb.e) + 1e-9, 6)
            >= {threshold}"""
    return sql


def oracle_sql() -> dict[str, str]:
    return {
        "q97_ivf_fixed": _ivf_fixed_oracle(),
        "q126_semdedup_trained": _semdedup_trained_oracle(),
        "q134_ivf_trained": _ivf_trained_oracle(),
        "q127_gopher_filter": """
            WITH w AS (
              SELECT doc_id,
                     coalesce(text, '') AS t,
                     regexp_split_to_array(trim(coalesce(text, '')),
                                           '\\s+') AS ws
              FROM documents),
            sig AS (
              SELECT doc_id,
                     CASE WHEN trim(t) = '' THEN 0
                          ELSE len(ws) END AS n_words,
                     t, ws
              FROM w),
            m AS (
              SELECT doc_id, n_words,
                     CASE WHEN n_words > 0 THEN
                       ROUND(list_sum(list_transform(ws, x -> len(x)))
                             / n_words + 1e-9, 6)
                     ELSE 0.0 END AS mean_word_len,
                     CASE WHEN n_words > 0 THEN
                       ROUND(((len(t) - len(replace(t, '#', '')))
                              + CAST((len(t) - len(replace(t, '...', '')))
                                     // 3 AS BIGINT))
                             / n_words + 1e-9, 6)
                     ELSE 0.0 END AS symbol_ratio,
                     CASE WHEN n_words > 0 THEN
                       ROUND(len(list_filter(ws,
                               x -> regexp_matches(x, '[a-zA-Z]')))
                             / n_words + 1e-9, 6)
                     ELSE 0.0 END AS alpha_frac,
                     CAST(len(list_filter(ws, x -> list_contains(
                       ['the','be','to','of','and','that','have','with'],
                       lower(x)))) AS BIGINT) AS stop_hits
              FROM sig)
            SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                   alpha_frac, stop_hits,
                   (n_words >= 10 AND n_words <= 2000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 8.0
                    AND symbol_ratio <= 0.1
                    AND alpha_frac >= 0.8
                    AND stop_hits >= 1) AS passes
            FROM m
        """,
        "q130_decontaminate_ngrams": """
            WITH ws AS (
              SELECT doc_id,
                     regexp_split_to_array(
                       lower(trim(coalesce(text, ''))), '\\s+') AS w
              FROM documents),
            g AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(w) >= 5 THEN
                       list_transform(range(1, len(w) - 3),
                         i -> array_to_string(
                                list_slice(w, i, i + 4), ' '))
                     ELSE [] END) AS gram
              FROM ws),
            gg AS (SELECT doc_id, gram FROM g WHERE len(gram) > 0),
            ev AS (SELECT DISTINCT gram FROM gg WHERE doc_id % 25 = 0),
            hits AS (
              SELECT gg.doc_id, count(*) AS n_hits
              FROM gg JOIN ev USING (gram) GROUP BY gg.doc_id)
            SELECT d.doc_id,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """,
        "q129_ngram_lm_score": """
            WITH nm AS (
              SELECT doc_id,
                     ' ' || trim(regexp_replace(
                         lower(coalesce(text, '')), '\\s+', ' ', 'g'))
                     || ' ' AS s
              FROM documents),
            g AS (
              SELECT doc_id, unnest(CASE WHEN len(s) >= 3 THEN
                       list_transform(range(1, len(s) - 1),
                                      i -> substr(s, i::INT, 3))
                     ELSE [] END) AS gram
              FROM nm),
            cn AS (SELECT gram, count(*) AS c3 FROM g GROUP BY gram),
            cc AS (SELECT substr(gram, 1, 2) AS ctx, sum(c3) AS c2
                   FROM cn GROUP BY 1),
            model AS (
              SELECT cn.gram,
                     CAST(floor(ln((c3 + 1) / (c2 + 128.0)) * 10000)
                          AS BIGINT) AS lq
              FROM cn JOIN cc ON substr(cn.gram, 1, 2) = cc.ctx),
            ctxq AS (
              SELECT ctx,
                     CAST(floor(ln(1.0 / (c2 + 128.0)) * 10000)
                          AS BIGINT) AS lq_ctx
              FROM cc),
            sc AS (
              SELECT g.doc_id,
                     coalesce(m.lq, cq.lq_ctx,
                       CAST(floor(ln(1.0 / 128.0) * 10000) AS BIGINT))
                     AS q
              FROM g LEFT JOIN model m ON g.gram = m.gram
                     LEFT JOIN ctxq cq ON substr(g.gram, 1, 2) = cq.ctx),
            per AS (
              SELECT doc_id, count(*)::BIGINT AS n_grams,
                     (-sum(q))::BIGINT AS nll_q
              FROM sc GROUP BY doc_id),
            alldocs AS (
              SELECT d.doc_id,
                     coalesce(p.n_grams, 0)::BIGINT AS n_grams,
                     coalesce(p.nll_q, 0)::BIGINT AS nll_q
              FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id),
            withppl AS (
              SELECT doc_id, n_grams, nll_q,
                     CASE WHEN n_grams > 0 THEN
                       round(exp(nll_q / 10000.0 / n_grams), 6)
                     END AS ppl
              FROM alldocs),
            keyed AS (
              SELECT doc_id, n_grams, nll_q, ppl,
                     CASE WHEN n_grams > 0 THEN nll_q::DOUBLE / n_grams
                     END AS k,
                     row_number() OVER (
                       ORDER BY CASE WHEN n_grams > 0 THEN
                                  nll_q::DOUBLE / n_grams END
                                ASC NULLS LAST, doc_id ASC) AS rn,
                     count(CASE WHEN n_grams > 0 THEN 1 END)
                       OVER () AS nn
              FROM withppl)
            SELECT doc_id, n_grams, nll_q, ppl,
                   CASE WHEN k IS NOT NULL THEN
                     (floor(((rn - 1) * 3)::DOUBLE / nn) + 1)::INT
                   END AS bucket
            FROM keyed
        """,
        "q135_lm_buckets_thresholds": """
            WITH nm AS (
              SELECT doc_id,
                     ' ' || trim(regexp_replace(
                         lower(coalesce(text, '')), '\\s+', ' ', 'g'))
                     || ' ' AS s
              FROM documents),
            g AS (
              SELECT doc_id, unnest(CASE WHEN len(s) >= 3 THEN
                       list_transform(range(1, len(s) - 1),
                                      i -> substr(s, i::INT, 3))
                     ELSE [] END) AS gram
              FROM nm),
            cn AS (SELECT gram, count(*) AS c3 FROM g GROUP BY gram),
            cc AS (SELECT substr(gram, 1, 2) AS ctx, sum(c3) AS c2
                   FROM cn GROUP BY 1),
            model AS (
              SELECT cn.gram,
                     CAST(floor(ln((c3 + 1) / (c2 + 128.0)) * 10000)
                          AS BIGINT) AS lq
              FROM cn JOIN cc ON substr(cn.gram, 1, 2) = cc.ctx),
            ctxq AS (
              SELECT ctx,
                     CAST(floor(ln(1.0 / (c2 + 128.0)) * 10000)
                          AS BIGINT) AS lq_ctx
              FROM cc),
            sc AS (
              SELECT g.doc_id,
                     coalesce(m.lq, cq.lq_ctx,
                       CAST(floor(ln(1.0 / 128.0) * 10000) AS BIGINT))
                     AS q
              FROM g LEFT JOIN model m ON g.gram = m.gram
                     LEFT JOIN ctxq cq ON substr(g.gram, 1, 2) = cq.ctx),
            per AS (
              SELECT doc_id, count(*)::BIGINT AS n_grams,
                     (-sum(q))::BIGINT AS nll_q
              FROM sc GROUP BY doc_id),
            alldocs AS (
              SELECT d.doc_id,
                     coalesce(p.n_grams, 0)::BIGINT AS n_grams,
                     coalesce(p.nll_q, 0)::BIGINT AS nll_q
              FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id),
            withppl AS (
              SELECT doc_id, n_grams, nll_q,
                     CASE WHEN n_grams > 0 THEN
                       round(exp(nll_q / 10000.0 / n_grams), 6)
                     END AS ppl
              FROM alldocs)
            SELECT doc_id, n_grams, nll_q, ppl,
                   CASE WHEN ppl IS NOT NULL THEN
                     (1 + CASE WHEN ppl > 2.33 THEN 1 ELSE 0 END
                        + CASE WHEN ppl > 2.41 THEN 1 ELSE 0 END)::INT
                   END AS bucket
            FROM withppl
        """,
        "q128_c4_filter": """
            WITH staged AS (
              SELECT doc_id,
                     replace(replace(replace(coalesce(text, ''),
                         ' value', '.' || chr(10)),
                         ' merge ', ' { '),
                         ' batch batch ', ' lorem ipsum ') AS t
              FROM documents),
            lined AS (
              SELECT doc_id, t,
                     string_split(t, chr(10)) AS ls
              FROM staged),
            kept AS (
              SELECT doc_id, t,
                     len(ls) AS n_lines,
                     list_filter(ls, l ->
                       regexp_matches(trim(l), '[.!?"]$')
                       AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3
                       AND NOT contains(lower(l), 'javascript')) AS ks
              FROM lined),
            cleaned AS (
              SELECT doc_id, t, n_lines,
                     len(ks) AS n_lines_kept,
                     list_aggregate(list_transform(ks, l -> trim(l)),
                                    'string_agg', chr(10)) AS joined
              FROM kept),
            sig AS (
              SELECT doc_id, n_lines, n_lines_kept,
                     coalesce(joined, '') AS clean_text, t
              FROM cleaned)
            SELECT doc_id, n_lines, n_lines_kept,
                   CAST(len(regexp_extract_all(clean_text, '[.!?]'))
                        AS BIGINT) AS n_sentences,
                   CAST(len(clean_text) AS BIGINT) AS clean_chars,
                   clean_text,
                   (len(regexp_extract_all(clean_text, '[.!?]')) >= 2
                    AND NOT contains(lower(t), 'lorem ipsum')
                    AND NOT contains(t, '{')
                    AND NOT regexp_matches(lower(t),
                                           '\\b(vector)\\b')) AS passes
            FROM sig
        """,
        "q98_chunk_documents": """
            WITH d AS (SELECT doc_id, coalesce(text, '') AS text,
                              len(coalesce(text, '')) AS n FROM documents),
            st AS (SELECT doc_id, text,
                    unnest(CASE WHEN n = 0 THEN [0]
                           ELSE range(0, n, 150) END) AS s
              FROM d)
            SELECT doc_id, (s // 150)::INT AS chunk_idx,
                   s::BIGINT AS chunk_start,
                   substr(text, (s + 1)::INT, 200) AS chunk
            FROM st
        """,
        "q96_stream_sessionize": """
            WITH o AS (SELECT user_id, ts, value,
                    CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 12 HOUR
                           OR LAG(ts) OVER w IS NULL
                         THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts, value,
                    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS sid
              FROM o)
            SELECT user_id, MIN(ts) AS session_start,
                   (epoch_us(MAX(ts) + INTERVAL 12 HOUR) // 1000000
                    - epoch_us(MIN(ts)) // 1000000) AS session_seconds,
                   COUNT(*) AS n,
                   ROUND(SUM(value) + 1e-6, 3) AS sv
            FROM s GROUP BY user_id, sid
        """,
        "q95_pii_scan": """
            WITH inj AS (SELECT lang,
                   text || COALESCE(
                     CASE WHEN doc_id % 7 = 0
                            THEN ' contact user' || doc_id::VARCHAR
                                 || '@example.com now'
                          WHEN doc_id % 7 = 1
                            THEN ' see https://example.com/d/'
                                 || doc_id::VARCHAR
                          WHEN doc_id % 7 = 2
                            THEN ' call 555' || (doc_id + 1000000)::VARCHAR
                     END, '') AS t
              FROM documents),
            c AS (SELECT lang,
                   len(regexp_extract_all(t,
                     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS e,
                   len(regexp_extract_all(t,
                     'https?://[a-zA-Z0-9./_%?=&#-]+')) AS u,
                   len(regexp_extract_all(t, '[0-9]{7,}')) AS d
              FROM inj)
            SELECT lang, SUM(e)::BIGINT AS emails, SUM(u)::BIGINT AS urls,
                   SUM(d)::BIGINT AS digit_runs,
                   SUM(CASE WHEN e + u + d > 0 THEN 1 ELSE 0 END)::BIGINT
                     AS n_flagged,
                   COUNT(*) AS n
            FROM c GROUP BY 1
        """,
        "q94_audio_features": """
            -- synthetic payloads: byte j of media i = (i*37+j) % 256;
            -- PCM16 LE sample k = bytes (2k, 2k+1); frames of 32
            WITH m AS (SELECT i AS media_id, (128 + (i % 5) * 32) // 2 AS ns
                       FROM generate_series(0, 31) t(i)),
            s AS (SELECT media_id, k.k AS idx,
                    ((media_id*37 + 2*k.k) % 256)
                    + 256 * ((media_id*37 + 2*k.k + 1) % 256) AS u
                  FROM m, LATERAL (SELECT unnest(range(ns)) AS k) k),
            v AS (SELECT media_id, idx,
                    (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)
                    / 32768.0 AS x
                  FROM s),
            f AS (SELECT media_id, (idx // 32)::INT AS frame_idx,
                         idx % 32 AS pos, x,
                         COUNT(*) OVER (PARTITION BY media_id, idx // 32)
                           AS frame_n
                  FROM v),
            z AS (SELECT media_id, frame_idx, pos, x, frame_n,
                    LAG(x) OVER (PARTITION BY media_id, frame_idx
                                 ORDER BY pos) AS px
                  FROM f)
            SELECT media_id, frame_idx,
                   ROUND(sqrt(AVG(x*x)) + 1e-9, 6) AS rms,
                   ROUND(SUM(CASE WHEN px IS NOT NULL AND px * x < 0
                                  THEN 1 ELSE 0 END) / 31.0 + 1e-9, 6) AS zcr
            FROM z
            WHERE frame_n = 32
            GROUP BY 1, 2
        """,
        "q93_shuffle_rank": f"""
            WITH h AS (SELECT doc_id, lang,
                   (('0x' || substr(md5('shuffle' || doc_id::VARCHAR), 1, 15))::BIGINT) AS hk
              FROM documents),
            r AS (SELECT doc_id, lang,
                   ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS shuffle_rank
              FROM h)
            SELECT shuffle_rank, doc_id, lang FROM r WHERE shuffle_rank <= 20
        """,
        "q91_decontaminate": """
            WITH ev AS (SELECT DISTINCT
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
              FROM documents WHERE doc_id % 10 = 3)
            SELECT lang, COUNT(*) AS n,
                   ROUND(SUM(n_chars) + 1e-6, 3) AS sum_chars
            FROM documents
            WHERE regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                  NOT IN (SELECT nt FROM ev)
            GROUP BY 1
        """,
        "q131_pack_nosplit": f"""
            WITH RECURSIVE t AS (
              SELECT doc_id,
                     CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text),
                                                         '\\s+'))
                     END::BIGINT AS n_tokens,
                     ({_sql_md5l('doc_id::VARCHAR')} % 8) AS bucket
              FROM documents),
            seq AS (
              SELECT doc_id, bucket, n_tokens,
                     row_number() OVER (PARTITION BY bucket
                                        ORDER BY doc_id) AS rn
              FROM t),
            packed AS (
              SELECT doc_id, bucket, n_tokens, rn,
                     0::BIGINT AS bin, n_tokens AS bin_fill
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.doc_id, s.bucket, s.n_tokens, s.rn,
                     CASE WHEN p.bin_fill + s.n_tokens > 256
                          THEN p.bin + 1 ELSE p.bin END,
                     CASE WHEN p.bin_fill + s.n_tokens > 256
                          THEN s.n_tokens
                          ELSE p.bin_fill + s.n_tokens END
              FROM seq s JOIN packed p
                ON s.bucket = p.bucket AND s.rn = p.rn + 1)
            SELECT doc_id, bucket, n_tokens, bin, bin_fill,
                   n_tokens > 256 AS oversize
            FROM packed
        """,
        "q136_curation_pipeline": f"""
            WITH RECURSIVE staged AS (
              SELECT doc_id,
                     replace(replace(replace(replace(coalesce(text, ''),
                         ' value', '.' || chr(10)),
                         ' slow slow ', ' {{ '),
                         ' batch batch ', ' lorem ipsum '),
                         ' big vector ', ' nsfwterm ') AS t
              FROM documents),
            corpus AS (
              SELECT doc_id, t FROM staged
              UNION ALL
              SELECT doc_id + 10000000, t FROM staged
              WHERE doc_id % 40 = 0),
            -- stage 1: C4 line filter + page rules
            lined AS (
              SELECT doc_id, t, string_split(t, chr(10)) AS ls
              FROM corpus),
            c4kept AS (
              SELECT doc_id, t,
                     list_filter(ls, l ->
                       regexp_matches(trim(l), '[.!?"]$')
                       AND len(regexp_split_to_array(trim(l),
                                                     '\\s+')) >= 2
                       AND NOT contains(lower(l), 'javascript')) AS ks
              FROM lined),
            c4clean AS (
              SELECT doc_id, t,
                     coalesce(list_aggregate(
                       list_transform(ks, l -> trim(l)),
                       'string_agg', chr(10)), '') AS clean
              FROM c4kept),
            c4 AS (
              SELECT doc_id, clean AS t
              FROM c4clean
              WHERE len(regexp_extract_all(clean, '[.!?]')) >= 2
                AND NOT contains(lower(t), 'lorem ipsum')
                AND NOT contains(t, '{{')
                AND NOT regexp_matches(lower(t), '\\bnsfwterm\\b')),
            -- stage 2: Gopher quality rules on the CLEANED text
            gw AS (
              SELECT doc_id, t,
                     regexp_split_to_array(trim(t), '\\s+') AS ws
              FROM c4),
            gsig AS (
              SELECT doc_id, t, ws,
                     CASE WHEN trim(t) = '' THEN 0
                          ELSE len(ws) END AS n_words
              FROM gw),
            gm AS (
              SELECT doc_id, t, n_words,
                     CASE WHEN n_words > 0 THEN
                       ROUND(list_sum(list_transform(ws, x -> len(x)))
                             / n_words + 1e-9, 6)
                     ELSE 0.0 END AS mean_word_len,
                     CASE WHEN n_words > 0 THEN
                       ROUND(((len(t) - len(replace(t, '#', '')))
                              + CAST((len(t) - len(replace(t, '...', '')))
                                     // 3 AS BIGINT))
                             / n_words + 1e-9, 6)
                     ELSE 0.0 END AS symbol_ratio,
                     CASE WHEN n_words > 0 THEN
                       ROUND(len(list_filter(ws,
                               x -> regexp_matches(x, '[a-zA-Z]')))
                             / n_words + 1e-9, 6)
                     ELSE 0.0 END AS alpha_frac,
                     CAST(len(list_filter(ws, x -> list_contains(
                       ['the','be','to','of','and','that','have','with'],
                       lower(x)))) AS BIGINT) AS stop_hits
              FROM gsig),
            gok AS (
              SELECT doc_id, t FROM gm
              WHERE n_words >= 12 AND n_words <= 2000
                AND mean_word_len >= 3.0 AND mean_word_len <= 8.0
                AND symbol_ratio <= 0.1
                AND alpha_frac >= 0.8
                AND stop_hits >= 1),
            -- stage 3: exact dedup (keep first id per normalized text)
            dd AS (
              SELECT doc_id, t,
                     regexp_replace(lower(trim(t)), '\\s+', ' ', 'g')
                       AS fp
              FROM gok),
            dkept AS (
              SELECT doc_id, t FROM dd
              QUALIFY ROW_NUMBER() OVER (PARTITION BY fp
                                         ORDER BY doc_id) = 1),
            -- stage 4: 5-gram decontamination vs the every-25th slice
            wsv AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(t)), '\\s+') AS w
              FROM dkept),
            gv AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(w) >= 5 THEN
                       list_transform(range(1, len(w) - 3),
                         i -> array_to_string(
                                list_slice(w, i, i + 4), ' '))
                     ELSE [] END) AS gram
              FROM wsv),
            gvv AS (SELECT doc_id, gram FROM gv WHERE len(gram) > 0),
            evw AS (
              SELECT regexp_split_to_array(lower(trim(t)), '\\s+') AS w
              FROM staged WHERE doc_id % 25 = 0),
            evg0 AS (
              SELECT unnest(CASE WHEN len(w) >= 5 THEN
                       list_transform(range(1, len(w) - 3),
                         i -> array_to_string(
                                list_slice(w, i, i + 4), ' '))
                     ELSE [] END) AS gram
              FROM evw),
            evg AS (SELECT DISTINCT gram FROM evg0
                    WHERE len(gram) > 0),
            bad AS (SELECT DISTINCT doc_id
                    FROM gvv JOIN evg USING (gram)),
            survivors AS (
              SELECT doc_id, t FROM dkept
              WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
            -- stage 5: no-straddle packing of the survivors
            pt AS (
              SELECT doc_id,
                     CASE WHEN len(trim(t)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(t),
                                                         '\\s+'))
                     END::BIGINT AS n_tokens,
                     ({_sql_md5l('doc_id::VARCHAR')} % 8) AS bucket
              FROM survivors),
            seq AS (
              SELECT doc_id, bucket, n_tokens,
                     row_number() OVER (PARTITION BY bucket
                                        ORDER BY doc_id) AS rn
              FROM pt),
            packed AS (
              SELECT doc_id, bucket, n_tokens, rn,
                     0::BIGINT AS bin, n_tokens AS bin_fill
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.doc_id, s.bucket, s.n_tokens, s.rn,
                     CASE WHEN p.bin_fill + s.n_tokens > 256
                          THEN p.bin + 1 ELSE p.bin END,
                     CASE WHEN p.bin_fill + s.n_tokens > 256
                          THEN s.n_tokens
                          ELSE p.bin_fill + s.n_tokens END
              FROM seq s JOIN packed p
                ON s.bucket = p.bucket AND s.rn = p.rn + 1)
            SELECT doc_id, bucket, n_tokens, bin, bin_fill,
                   n_tokens > 256 AS oversize
            FROM packed
        """,
        "q132_dsir": f"""
            WITH corpus AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(coalesce(text, '')),
                                         '[^a-z0-9]+', ' ', 'g')) AS s
              FROM documents),
            warr AS (
              SELECT doc_id,
                     CASE WHEN len(s) > 0 THEN string_split(s, ' ')
                          ELSE [] END AS w
              FROM corpus),
            grams AS (
              SELECT doc_id, unnest(list_concat(w,
                       CASE WHEN len(w) >= 2 THEN
                         list_transform(range(1, len(w)),
                                        i -> w[i] || ' ' || w[i + 1])
                       ELSE [] END)) AS g
              FROM warr),
            bg AS (
              SELECT doc_id,
                     ({_sql_md5l("'dsir|' || g")} % 2048) AS b
              FROM grams),
            tb AS (SELECT b, count(*) AS ct FROM bg
                   WHERE doc_id % 20 = 0 GROUP BY b),
            rb AS (SELECT b, count(*) AS cr FROM bg GROUP BY b),
            dense AS (SELECT unnest(range(2048)) AS b),
            ratio AS (
              SELECT d.b,
                     coalesce(ct, 0)::BIGINT AS ct,
                     coalesce(cr, 0)::BIGINT AS cr
              FROM dense d LEFT JOIN tb ON d.b = tb.b
                           LEFT JOIN rb ON d.b = rb.b),
            lrq AS (
              SELECT b,
                     CASE WHEN (ct + 1) * ((sum(cr) OVER ())::BIGINT + 2048)
                               = (cr + 1) * ((sum(ct) OVER ())::BIGINT + 2048)
                          THEN 0
                          ELSE CAST(floor(ln(
                                 ((ct + 1) * ((sum(cr) OVER ())::BIGINT
                                              + 2048))::DOUBLE
                                 / ((cr + 1) * ((sum(ct) OVER ())::BIGINT
                                                + 2048))::DOUBLE)
                                 * 10000) AS BIGINT) END AS lrq
              FROM ratio),
            per AS (
              SELECT bg.doc_id, count(*)::BIGINT AS n_feats,
                     sum(lrq)::BIGINT AS logw_q
              FROM bg JOIN lrq ON bg.b = lrq.b
              GROUP BY bg.doc_id),
            alld AS (
              SELECT d.doc_id,
                     coalesce(n_feats, 0)::BIGINT AS n_feats,
                     coalesce(logw_q, 0)::BIGINT AS logw_q
              FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
            gum AS (
              SELECT doc_id, n_feats, logw_q,
                     (({_sql_md5l("'dsir#g' || doc_id::VARCHAR")}
                       % 1000000) + 0.5) / 1000000.0 AS u
              FROM alld),
            scored AS (
              SELECT doc_id, n_feats, logw_q,
                     (logw_q
                      + CAST(floor(-ln(-ln(u)) * 10000) AS BIGINT)
                     )::BIGINT AS score_q
              FROM gum)
            SELECT doc_id, n_feats, logw_q, score_q,
                   (row_number() OVER (ORDER BY score_q DESC, doc_id ASC)
                    <= 200) AS selected
            FROM scored
        """,
        "q133_pii_redact": r"""
            WITH inj AS (SELECT doc_id,
                   text || COALESCE(
                     CASE WHEN doc_id % 7 = 0
                            THEN ' contact user' || doc_id::VARCHAR
                                 || '@example.com now'
                          WHEN doc_id % 7 = 1
                            THEN ' see https://example.com/d/'
                                 || doc_id::VARCHAR
                          WHEN doc_id % 7 = 2
                            THEN ' call 555' || (doc_id + 1000000)::VARCHAR
                     END, '') AS t
              FROM documents)
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(t,
                         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                         '<EMAIL>', 'g'),
                       'https?://[a-zA-Z0-9./_%?=&#-]+', '<URL>', 'g'),
                     '[0-9]{7,}', '<NUMBER>', 'g') AS text_redacted,
                   (len(regexp_extract_all(t,
                      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                    + len(regexp_extract_all(t,
                        'https?://[a-zA-Z0-9./_%?=&#-]+'))
                    + len(regexp_extract_all(t, '[0-9]{7,}')))::INT
                   AS n_redactions
            FROM inj
        """,
        "q92_pack_sequences": f"""
            WITH t AS (SELECT doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END::BIGINT AS n_tokens,
                   ({_sql_md5l('doc_id::VARCHAR')} % 8) AS bucket
              FROM documents),
            p AS (SELECT doc_id, bucket, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS tokens_before
              FROM t)
            SELECT doc_id, bucket, n_tokens,
                   tokens_before::BIGINT AS tokens_before,
                   (tokens_before // 256)::BIGINT AS bin
            FROM p
        """,
        "q87_stream_dedup": """
            SELECT user_id, event_type, COUNT(*) AS n_kept,
                   ROUND(SUM(ROUND(value + 1e-9, 6)) + 1e-6, 3) AS sum_v
            FROM (SELECT DISTINCT user_id, event_type, value FROM events)
            GROUP BY 1, 2
        """,
        "q88_hash_sample": f"""
            SELECT COUNT(*) AS n_rows,
                   ROUND(SUM(l_quantity) + 1e-6, 3) AS sum_qty,
                   ROUND(SUM(l_extendedprice) + 1e-6, 3) AS sum_price
            FROM lineitem
            WHERE {_sql_bucket('sample',
                "l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR")} < 100000
        """,
        "q89_hash_split": f"""
            WITH k AS (SELECT o_totalprice,
                   {_sql_bucket('split', 'o_orderkey::VARCHAR')} AS b
              FROM orders)
            SELECT CASE WHEN b < 900000 THEN 'train'
                        WHEN b < 950000 THEN 'val'
                        ELSE 'test' END AS split,
                   COUNT(*) AS n,
                   ROUND(SUM(o_totalprice) + 1e-6, 3) AS sum_price
            FROM k GROUP BY 1
        """,
        "q90_stratified_sample": f"""
            WITH k AS (SELECT lang, n_chars,
                   {_sql_bucket('stratum', 'doc_id::VARCHAR')} AS b
              FROM documents)
            SELECT lang, COUNT(*) AS n,
                   ROUND(SUM(n_chars) + 1e-6, 3) AS sum_chars
            FROM k
            WHERE (lang = 'en' AND b < 250000)
               OR (lang = 'de' AND b < 500000)
               OR (lang = 'fr' AND b < 1000000)
            GROUP BY 1
        """,
        "q34_minhash_lsh": _minhash_oracle(),
        "q35_simhash": _simhash_oracle(),
        "q51_lsh_topk": _lsh_topk_oracle(probes=False),
        "q63_lsh_multiprobe": _lsh_topk_oracle(probes=True),
        "q52_embedding_near_dups": _near_dups_oracle(),
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity) + 1e-6, 3) AS sum_qty,
                   ROUND(SUM(l_extendedprice) + 1e-6, 3) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS sum_disc_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) + 1e-6, 3) AS sum_charge,
                   ROUND(AVG(l_quantity) + 1e-9, 6) AS avg_qty,
                   ROUND(AVG(l_extendedprice) + 1e-9, 6) AS avg_price,
                   ROUND(AVG(l_discount) + 1e-9, 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_sel_label_slice": """
            SELECT l_returnflag,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS revenue,
                   COUNT(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <= TIMESTAMP '1995-12-31'
            GROUP BY l_returnflag
        """,
        "q03_isel_head": """
            WITH days AS (
              SELECT DISTINCT l_shipdate FROM lineitem ORDER BY l_shipdate LIMIT 30
            )
            SELECT l_shipdate, COUNT(*) AS n, ROUND(SUM(l_quantity) + 1e-6, 3) AS qty
            FROM lineitem
            WHERE l_shipdate IN (SELECT l_shipdate FROM days)
            GROUP BY l_shipdate
        """,
        "q04_where_mask": """
            SELECT l_returnflag,
                   ROUND(SUM(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0.0 END) + 1e-6, 3) AS qty_masked,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "q05_orders_groupby": """
            SELECT o_orderpriority, COUNT(*) AS n,
                   ROUND(SUM(o_totalprice) + 1e-6, 3) AS total,
                   ROUND(AVG(o_totalprice) + 1e-9, 6) AS avg_price
            FROM orders GROUP BY o_orderpriority
        """,
        "q06_groupby_bins": """
            SELECT CASE
                     WHEN l_quantity > 0  AND l_quantity <= 10 THEN '0-10'
                     WHEN l_quantity > 10 AND l_quantity <= 20 THEN '10-20'
                     WHEN l_quantity > 20 AND l_quantity <= 30 THEN '20-30'
                     WHEN l_quantity > 30 AND l_quantity <= 40 THEN '30-40'
                     WHEN l_quantity > 40 AND l_quantity <= 50 THEN '40-50'
                   END AS bin,
                   COUNT(*) AS n,
                   ROUND(SUM(l_extendedprice) + 1e-6, 3) AS base
            FROM lineitem GROUP BY 1
        """,
        "q07_resample_monthly": """
            SELECT date_trunc('month', o_orderdate) AS month,
                   COUNT(*) AS n,
                   ROUND(AVG(o_totalprice) + 1e-9, 6) AS avg_total
            FROM orders GROUP BY 1
        """,
        "q08_resample_daily_events": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   COUNT(*) AS n,
                   ROUND(SUM(value) + 1e-6, 3) AS total
            FROM events GROUP BY 1
        """,
        "q09_season_groupby": """
            SELECT CASE
                     WHEN month(l_shipdate) IN (12, 1, 2) THEN 'DJF'
                     WHEN month(l_shipdate) IN (3, 4, 5) THEN 'MAM'
                     WHEN month(l_shipdate) IN (6, 7, 8) THEN 'JJA'
                     ELSE 'SON'
                   END AS season,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS revenue,
                   COUNT(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "q10_rolling_mean": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT l_shipdate,
                   ROUND(CASE WHEN COUNT(rev) OVER w >= 7 THEN AVG(rev) OVER w END + 1e-6, 3) AS rev7
            FROM daily
            WINDOW w AS (ORDER BY l_shipdate ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "q11_cumsum": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT l_shipdate,
                   ROUND(SUM(rev) OVER (ORDER BY l_shipdate ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-6, 3) AS cum_rev
            FROM daily
        """,
        "q12_diff": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT l_shipdate,
                   ROUND(rev - LAG(rev) OVER (ORDER BY l_shipdate) + 1e-6, 3) AS d_rev
            FROM daily
            QUALIFY ROW_NUMBER() OVER (ORDER BY l_shipdate) > 1
        """,
        "q13_ffill": f"""
            WITH m AS ({_MASKED_SQL})
            SELECT ts,
                   ROUND(LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6) AS v
            FROM m
        """,
        "q14_interpolate_na": f"""
            WITH m AS ({_MASKED_SQL}),
            e AS (SELECT ts, v, epoch(ts) AS x FROM m),
            f AS (
              SELECT ts, x, v,
                LAST_VALUE(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER wb AS x0,
                LAST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wb AS y0,
                FIRST_VALUE(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS) OVER wf AS x1,
                FIRST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wf AS y1
              FROM e
              WINDOW wb AS (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT ts,
                   ROUND(CASE WHEN v IS NOT NULL THEN v
                              WHEN x0 IS NOT NULL AND x1 IS NOT NULL THEN
                                CASE WHEN x1 = x0 THEN y0
                                     ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END
                         END, 6) AS v
            FROM f
        """,
        "q15_quantile": """
            SELECT unnest(CAST([0.1, 0.25, 0.5, 0.75, 0.9] AS DOUBLE[])) AS quantile,
                   unnest([ROUND(quantile_cont(l_extendedprice, 0.1) + 1e-8, 4),
                           ROUND(quantile_cont(l_extendedprice, 0.25) + 1e-8, 4),
                           ROUND(quantile_cont(l_extendedprice, 0.5) + 1e-8, 4),
                           ROUND(quantile_cont(l_extendedprice, 0.75) + 1e-8, 4),
                           ROUND(quantile_cont(l_extendedprice, 0.9) + 1e-8, 4)]) AS l_extendedprice
            FROM lineitem
        """,
        "q16_groupby_median": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.5) + 1e-8, 4) AS l_extendedprice
            FROM lineitem GROUP BY l_returnflag
        """,
        "q17_rank": """
            SELECT s_suppkey,
                   CAST(RANK() OVER (ORDER BY s_acctbal)
                     + (COUNT(*) OVER (PARTITION BY s_acctbal) - 1) / 2.0 AS DOUBLE) AS bal_rank
            FROM supplier
        """,
        "q18_idxmax": """
            WITH byday AS (
              SELECT l_returnflag, l_shipdate,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem GROUP BY 1, 2
            )
            SELECT l_returnflag, arg_max(l_shipdate, rev) AS best_day
            FROM byday GROUP BY l_returnflag
        """,
        "q19_binary_align": """
            SELECT a.nationkey, ROUND(a.bal - b.bal + 1e-6, 3) AS bal
            FROM (SELECT c_nationkey AS nationkey, ROUND(SUM(c_acctbal) + 1e-6, 3) AS bal
                  FROM customer GROUP BY 1) a
            JOIN (SELECT s_nationkey AS nationkey, ROUND(SUM(s_acctbal) + 1e-6, 3) AS bal
                  FROM supplier GROUP BY 1) b USING (nationkey)
        """,
        "q20_concat": """
            WITH both_years AS (
              SELECT * FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate <= TIMESTAMP '1996-12-31'
              UNION ALL
              SELECT * FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate <= TIMESTAMP '1998-12-31'
            )
            SELECT CAST(year(l_shipdate) AS INTEGER) AS y,
                   COUNT(*) AS n, ROUND(SUM(l_quantity) + 1e-6, 3) AS qty
            FROM both_years GROUP BY 1
        """,
        "q21_reindex_fill": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '1996-01-01',
                                            TIMESTAMP '1996-12-31', INTERVAL 1 DAY)) AS d
            ),
            daily AS (
              SELECT l_shipdate AS d,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate <= TIMESTAMP '1996-12-31'
              GROUP BY 1
            )
            SELECT cal.d AS l_shipdate, COALESCE(daily.rev, 0.0) AS rev
            FROM cal LEFT JOIN daily USING (d)
        """,
        "q22_pivot": """
            SELECT l_linestatus,
                   ROUND(SUM(l_quantity) FILTER (WHERE l_returnflag = 'A') + 1e-6, 3) AS A,
                   ROUND(SUM(l_quantity) FILTER (WHERE l_returnflag = 'N') + 1e-6, 3) AS N,
                   ROUND(SUM(l_quantity) FILTER (WHERE l_returnflag = 'R') + 1e-6, 3) AS R
            FROM lineitem GROUP BY l_linestatus
        """,
        "q23_weighted_mean": """
            SELECT l_returnflag,
                   ROUND(SUM(l_discount * l_quantity) / SUM(l_quantity) + 1e-9, 6) AS wavg_disc
            FROM lineitem GROUP BY l_returnflag
        """,
        "q24_integrate": """
            WITH daily AS (
              SELECT l_shipdate AS d,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem GROUP BY 1
            ),
            seg AS (
              SELECT (epoch(d) - LAG(epoch(d)) OVER (ORDER BY d))
                     * (rev + LAG(rev) OVER (ORDER BY d)) / 2.0 AS s
              FROM daily
            )
            SELECT ROUND(SUM(s) / 1e9 + 1e-6, 3) AS integral_b FROM seg
        """,
        "q25_polyfit": """
            SELECT CAST(1 AS INTEGER) AS degree,
                   ROUND(regr_slope(l_extendedprice, l_quantity) + 1e-8, 4) AS coef
            FROM lineitem
            UNION ALL
            SELECT CAST(0 AS INTEGER),
                   ROUND(regr_intercept(l_extendedprice, l_quantity) + 1e-8, 4)
            FROM lineitem
        """,
        "q26_corr": """
            SELECT l_returnflag, ROUND(corr(l_quantity, l_extendedprice) + 1e-9, 6) AS corr
            FROM lineitem GROUP BY l_returnflag
        """,
        "q27_str_ops": """
            SELECT lang,
                   CAST(SUM(CASE WHEN regexp_matches(text, '\\bspark\\b') THEN 1 ELSE 0 END) AS BIGINT) AS n_spark,
                   COUNT(*) AS n
            FROM documents GROUP BY lang
        """,
        "q28_dt_fields": """
            SELECT CAST(isodow(ts) - 1 AS INTEGER) AS dow, COUNT(*) AS n
            FROM events GROUP BY 1
        """,
        "q29_reindex_nearest": """
            WITH daily AS (
              SELECT l_shipdate AS d,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem GROUP BY 1
            ),
            hi AS (SELECT * FROM daily WHERE rev >= 100000.0),
            t AS (
              SELECT unnest(generate_series(TIMESTAMP '1996-01-15',
                                            TIMESTAMP '1996-12-15', INTERVAL 1 MONTH)) AS ts
            ),
            best AS (
              SELECT t.ts, hi.rev,
                     ROW_NUMBER() OVER (PARTITION BY t.ts
                                        ORDER BY ABS(epoch(hi.d) - epoch(t.ts)), hi.d DESC) AS rn
              FROM t CROSS JOIN hi
            )
            SELECT ts AS l_shipdate, rev FROM best WHERE rn = 1
        """,
        "q30_dedup_exact": """
            WITH fp AS (
              SELECT *, hash(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
              FROM documents
            ),
            kept AS (
              SELECT * FROM fp
              QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1
            )
            SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM kept GROUP BY lang
        """,
        "q31_text_features": """
            WITH feat AS (
              SELECT source,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok,
                     CASE WHEN length(text) > 0
                          THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text)
                          ELSE 0.0 END AS pr
              FROM documents
            )
            SELECT source,
                   CAST(SUM(ntok) AS BIGINT) AS total_tokens,
                   ROUND(AVG(pr) + 1e-9, 6) AS avg_punct,
                   ROUND(AVG(LEAST(1.0, CAST(ntok AS DOUBLE) / 100.0) * (1.0 - pr)) + 1e-9, 6) AS avg_quality
            FROM feat GROUP BY source
        """,
        "q32_language_id": """
            WITH t AS (
              SELECT ' ' || lower(text) || ' ' AS tx FROM documents
            ),
            hits AS (
              SELECT
                (CASE WHEN tx LIKE '% the %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% and %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% of %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% to %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% a %' THEN 1 ELSE 0 END) AS en,
                (CASE WHEN tx LIKE '% el %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% la %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% de %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% que %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% los %' THEN 1 ELSE 0 END) AS es,
                (CASE WHEN tx LIKE '% der %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% und %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% die %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% das %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% ist %' THEN 1 ELSE 0 END) AS de,
                (CASE WHEN tx LIKE '% le %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% la %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% et %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% les %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% des %' THEN 1 ELSE 0 END) AS fr,
                (CASE WHEN tx LIKE '% 的 %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% 是 %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% 了 %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% 在 %' THEN 1 ELSE 0 END + CASE WHEN tx LIKE '% 我 %' THEN 1 ELSE 0 END) AS zh
              FROM t
            ),
            lab AS (
              SELECT CASE
                       WHEN GREATEST(en, es, de, fr, zh) = 0 THEN 'unknown'
                       WHEN en = GREATEST(en, es, de, fr, zh) THEN 'en'
                       WHEN es = GREATEST(en, es, de, fr, zh) THEN 'es'
                       WHEN de = GREATEST(en, es, de, fr, zh) THEN 'de'
                       WHEN fr = GREATEST(en, es, de, fr, zh) THEN 'fr'
                       ELSE 'zh'
                     END AS lang_guess
              FROM hits
            )
            SELECT lang_guess, COUNT(*) AS n FROM lab GROUP BY lang_guess
        """,
        "q33_cosine_topk": """
            WITH q AS (
              SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
              SELECT q.qid, e.vec_id AS nid,
                     list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS cos
              FROM q CROSS JOIN embeddings e
              WHERE e.vec_id != q.qid
            ),
            ranked AS (
              SELECT qid, nid, cos,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
              FROM scored
            )
            SELECT qid, nid, ROUND(cos + 1e-8, 4) AS cos, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3
        """,
        # q34/q35/q36: engine-specific hashing / stubbed decode — rows-only
        "q37_coarsen_weekly": f"""
            WITH daily AS ({_DAILY_SQL}),
            pos AS (
              SELECT l_shipdate, rev,
                     ROW_NUMBER() OVER (ORDER BY l_shipdate) - 1 AS p,
                     COUNT(*) OVER () AS n
              FROM daily
            )
            SELECT MIN(l_shipdate) AS l_shipdate,
                   ROUND(AVG(rev) + 1e-9, 6) AS rev7
            FROM pos
            WHERE CAST(FLOOR(p / 7) AS BIGINT) < CAST(FLOOR(n / 7) AS BIGINT)
            GROUP BY CAST(FLOOR(p / 7) AS BIGINT)
        """,
        "q38_shift": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT l_shipdate,
                   ROUND(LAG(rev) OVER (ORDER BY l_shipdate) + 1e-6, 3) AS prev_rev
            FROM daily
        """,
        "q39_groupby_quantile": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.9) + 1e-8, 4) AS p90
            FROM lineitem GROUP BY l_returnflag
        """,
        "q40_dropna": f"""
            WITH m AS ({_MASKED_SQL})
            SELECT ts, ROUND(v + 1e-9, 6) AS v FROM m WHERE v IS NOT NULL
        """,
        "q41_dot": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity * l_discount) + 1e-6, 3) AS qd
            FROM lineitem GROUP BY l_returnflag
        """,
        "q42_stopword_ratio": """
            WITH f AS (
              SELECT lang,
                     string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents
            ),
            r AS (
              SELECT lang,
                     CASE WHEN len(toks) > 0 THEN
                       len(list_filter(toks, x -> x IN ('the', 'and', 'of', 'to', 'a'))) * 1.0 / len(toks)
                     ELSE 0.0 END AS sw
              FROM f
            )
            SELECT lang, ROUND(AVG(sw) + 1e-9, 6) AS avg_sw FROM r GROUP BY lang
        """,
        "q43_bfill": f"""
            WITH m AS ({_MASKED_SQL})
            SELECT ts,
                   ROUND(FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) + 1e-9, 6) AS v
            FROM m
        """,
        "q44_differentiate": f"""
            WITH daily AS ({_DAILY_SQL}),
            g AS (
              SELECT l_shipdate,
                     epoch(l_shipdate) AS x, rev,
                     LAG(epoch(l_shipdate)) OVER w AS xm, LAG(rev) OVER w AS ym,
                     LEAD(epoch(l_shipdate)) OVER w AS xp, LEAD(rev) OVER w AS yp
              FROM daily WINDOW w AS (ORDER BY l_shipdate)
            )
            SELECT l_shipdate,
                   -- np.gradient's second-order nonuniform stencil
                   -- (matches the reference on gappy daily grids where
                   -- the naive (yp-ym)/(xp-xm) is only first-order)
                   ROUND(CASE
                     WHEN xm IS NULL THEN (yp - rev) / (xp - x)
                     WHEN xp IS NULL THEN (rev - ym) / (x - xm)
                     ELSE ((x - xm) * (x - xm) * yp
                           + ((xp - x) * (xp - x) - (x - xm) * (x - xm)) * rev
                           - (xp - x) * (xp - x) * ym)
                          / ((x - xm) * (xp - x) * ((xp - x) + (x - xm)))
                   END * 86400.0 + 1e-9, 6) AS drev_per_day
            FROM g
        """,
        "q45_resample_asfreq": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT date_trunc('month', l_shipdate) AS month,
                   ROUND(AVG(rev) + 1e-6, 3) AS rev
            FROM daily GROUP BY 1
        """,
        "q46_resample_6h": """
            SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS bucket,
                   COUNT(*) AS n, ROUND(SUM(value) + 1e-6, 3) AS total
            FROM events GROUP BY 1
        """,
        "q47_weighted_var": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity * l_discount * l_discount) / SUM(l_quantity)
                         - POW(SUM(l_quantity * l_discount) / SUM(l_quantity), 2) + 1e-9, 6) AS wvar_disc
            FROM lineitem GROUP BY l_returnflag
        """,
        "q48_cov": """
            SELECT l_returnflag,
                   ROUND(covar_samp(l_quantity, l_extendedprice) + 1e-8, 4) AS cov
            FROM lineitem GROUP BY l_returnflag
        """,
        "q49_fingerprint_distinct": """
            SELECT source,
                   COUNT(DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS n_unique,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY source
        """,
        "q50_rolling_exp": f"""
            WITH RECURSIVE daily AS (
              SELECT l_shipdate, rev,
                     row_number() OVER (ORDER BY l_shipdate) AS rn
              FROM ({_DAILY_SQL})
            ),
            e(rn, l_shipdate, num, den) AS (
              SELECT rn, l_shipdate, rev, CAST(1.0 AS DOUBLE)
              FROM daily WHERE rn = 1
              UNION ALL
              SELECT d.rn, d.l_shipdate, d.rev + 0.75 * e.num, 1 + 0.75 * e.den
              FROM e JOIN daily d ON d.rn = e.rn + 1
            )
            SELECT l_shipdate, ROUND(num / den + 1e-6, 3) AS ewm_rev FROM e
        """,
        # q51-q54: approximate LSH / synthesized pad labels — rows-only checks
        "q55_rolling_2d": """
            WITH g AS (
              SELECT CAST(year(l_shipdate) AS INTEGER) AS y,
                     CAST(month(l_shipdate) AS INTEGER) AS m,
                     SUM(l_extendedprice * (1 - l_discount)) AS rev
              FROM lineitem GROUP BY 1, 2
            ),
            p1 AS (
              SELECT y, m,
                     SUM(rev) OVER (PARTITION BY m ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
              FROM g
            )
            SELECT y, m,
                   ROUND(SUM(s) OVER (PARTITION BY y ORDER BY m ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) + 1e-6, 3) AS rev2x2
            FROM p1
        """,
        "q56_densify": """
            WITH cube AS (
              SELECT l_returnflag, CAST(year(l_shipdate) AS INTEGER) AS y,
                     ROUND(SUM(l_quantity) + 1e-6, 3) AS qty
              FROM lineitem GROUP BY 1, 2
            ),
            rf AS (SELECT DISTINCT l_returnflag FROM cube),
            yy AS (SELECT DISTINCT y FROM cube)
            SELECT rf.l_returnflag, yy.y, COALESCE(cube.qty, 0.0) AS qty
            FROM rf CROSS JOIN yy
            LEFT JOIN cube ON cube.l_returnflag = rf.l_returnflag AND cube.y = yy.y
        """,
        "q57_isel_points": f"""
            WITH daily AS ({_DAILY_SQL}),
            lab AS (
              SELECT l_shipdate, rev,
                     ROW_NUMBER() OVER (ORDER BY l_shipdate) - 1 AS p,
                     COUNT(*) OVER () AS n
              FROM daily
            ),
            pts(i, q) AS (VALUES (0, 0), (1, 5), (2, 10), (3, -1))
            SELECT CAST(pts.i AS BIGINT) AS points, ROUND(lab.rev + 1e-6, 3) AS rev
            FROM pts JOIN lab ON ((pts.q % lab.n) + lab.n) % lab.n = lab.p
        """,
        "q58_where_aligned": """
            WITH daily AS (
              SELECT l_shipdate, SUM(l_extendedprice * (1 - l_discount)) AS drev
              FROM lineitem GROUP BY 1
            )
            SELECT l.l_returnflag,
                   ROUND(SUM(CASE WHEN d.drev >= 200000.0 THEN l.l_quantity END) + 1e-6, 3) AS qty_hi,
                   COUNT(*) AS n
            FROM lineitem l JOIN daily d USING (l_shipdate)
            GROUP BY 1
        """,
        "q59_decode_cf": """
            SELECT l_returnflag,
                   ROUND(AVG(CASE WHEN l_quantity = -1.0 THEN NULL
                                  ELSE l_quantity * 0.01 + 1.0 END) + 1e-9, 6) AS avg_decoded,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "q60_salted_agg": """
            SELECT l_returnflag, COUNT(*) AS n,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS revenue,
                   MAX(l_quantity) AS maxq,
                   ROUND(AVG(l_discount) + 1e-9, 6) AS avg_disc
            FROM lineitem GROUP BY l_returnflag
        """,
        "q61_nearest_points": """
            WITH pts(i, qn, qb) AS (
              VALUES (0, 0.0, 1000.0), (1, 10.0, 5000.0), (2, 20.0, 9000.0)
            ),
            scored AS (
              SELECT pts.i, s.s_suppkey, s.s_acctbal,
                     ROW_NUMBER() OVER (
                       PARTITION BY pts.i
                       ORDER BY (s.s_nationkey - qn) * (s.s_nationkey - qn)
                              + (s.s_acctbal - qb) * (s.s_acctbal - qb),
                              s.s_nationkey, s.s_acctbal
                     ) AS rn
              FROM pts CROSS JOIN supplier s
            )
            SELECT CAST(i AS BIGINT) AS points, s_suppkey,
                   ROUND(s_acctbal + 1e-6, 3) AS bal
            FROM scored WHERE rn = 1
        """,
        "q70_ffill_segmented": f"""
            WITH m AS ({_MASKED_SQL})
            SELECT ts,
                   ROUND(LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6) AS v
            FROM m
        """,
        "q71_netcdf_roundtrip": """
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   ROUND(AVG(o_totalprice) + 1e-9, 6) AS avg_total
            FROM orders GROUP BY 1
        """,
        "q72_zarr_roundtrip": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT CAST(epoch(l_shipdate) AS DOUBLE) AS t_epoch, rev
            FROM daily
        """,
        "q73_curvefit": """
            WITH flags AS (SELECT DISTINCT l_returnflag FROM lineitem)
            SELECT l_returnflag, 'a' AS param,
                   ROUND(2.0 + ascii(l_returnflag) / 100.0 + 1e-9, 6) AS y_fit
            FROM flags
            UNION ALL
            SELECT l_returnflag, 'b' AS param,
                   ROUND(-0.05 + 1e-9, 6) AS y_fit
            FROM flags
        """,
        "q74_quantile_methods": """
            WITH r AS (
              SELECT l_extendedprice AS v,
                     row_number() OVER (ORDER BY l_extendedprice) - 1 AS rnk,
                     COUNT(*) OVER () AS n
              FROM lineitem WHERE l_extendedprice IS NOT NULL
            ), q(q) AS (VALUES (0.25), (0.5), (0.9)),
            st AS (
              SELECT q.q,
                MAX(CASE WHEN rnk = CAST(floor((n-1)*q.q) AS BIGINT) THEN v END) AS lo,
                MAX(CASE WHEN rnk = CAST(ceil((n-1)*q.q) AS BIGINT) THEN v END) AS hi
              FROM r CROSS JOIN q GROUP BY q.q
            )
            SELECT q AS quantile, ROUND((lo + hi) / 2 + 1e-8, 4) AS v,
                   'midpoint' AS method
            FROM st
            UNION ALL
            SELECT q, ROUND(lo + 1e-8, 4), 'lower' FROM st
        """,
        "q75_interp_zero": f"""
            WITH m AS ({_MASKED_SQL})
            SELECT ts,
                   ROUND(CASE
                     WHEN v IS NOT NULL THEN v
                     WHEN LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL
                      AND FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) IS NOT NULL
                     THEN LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   END + 1e-9, 6) AS v
            FROM m
        """,
        "q76_interp_quadratic": """
            WITH days AS (SELECT DISTINCT date_trunc('day', o_orderdate) AS d FROM orders),
            idx AS (SELECT row_number() OVER (ORDER BY d) - 1 AS i FROM days)
            SELECT CAST(i AS BIGINT) AS i,
                   ROUND(CASE WHEN i % 4 <> 1 OR i < (SELECT MAX(i) FROM idx)
                         THEN 0.5*i*i - 3.0*i + 7.0 END + 1e-9, 6) AS y
            FROM idx
        """,
        "q53_ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ),
            sh0 AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(t) >= 3
                          THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          ELSE '' END AS sh
              FROM toks, LATERAL unnest(range(1, greatest(len(t) - 1, 2))) AS u(i)
            ),
            -- stop-shingle removal, mirroring max_df=200 on the Spark side
            sh AS (
              SELECT sh0.doc_id, sh0.sh FROM sh0
              JOIN (SELECT sh, COUNT(*) AS df FROM sh0 GROUP BY sh) d USING (sh)
              WHERE d.df <= 200
            ),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(i / (sa.sz + sb.sz - i) + 1e-9, 6) AS jaccard
            FROM inter
            JOIN sz sa ON inter.id_a = sa.doc_id
            JOIN sz sb ON inter.id_b = sb.doc_id
            WHERE i / (sa.sz + sb.sz - i) >= 0.3
        """,
        "q81_dedup_clusters": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ),
            sh0 AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(t) >= 3
                          THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          ELSE '' END AS sh
              FROM toks, LATERAL unnest(range(1, greatest(len(t) - 1, 2))) AS u(i)
            ),
            sh AS (
              SELECT sh0.doc_id, sh0.sh FROM sh0
              JOIN (SELECT sh, COUNT(*) AS df FROM sh0 GROUP BY sh) d USING (sh)
              WHERE d.df <= 200
            ),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sz sa ON inter.id_a = sa.doc_id
              JOIN sz sb ON inter.id_b = sb.doc_id
              WHERE i / (sa.sz + sb.sz - i) >= 0.3
            ),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs
            ),
            reach(u, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.u
            )
            SELECT u AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY u
        """,
        "q54_pad": f"""
            WITH daily AS (
              SELECT l_shipdate, ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <= TIMESTAMP '1996-12-31'
              GROUP BY 1
            ),
            stats AS (
              SELECT epoch(MIN(l_shipdate)) AS lo, epoch(MAX(l_shipdate)) AS hi,
                     COUNT(*) - 1 AS n1
              FROM daily
            ),
            pads AS (
              SELECT make_timestamp(CAST(trunc((lo - (hi - lo) / n1 * i) * 1000000) AS BIGINT)) AS l_shipdate,
                     0.0 AS rev
              FROM stats, unnest([1, 2]) AS u(i)
              UNION ALL
              SELECT make_timestamp(CAST(trunc((hi + (hi - lo) / n1 * i) * 1000000) AS BIGINT)),
                     0.0
              FROM stats, unnest([1, 2]) AS u(i)
            )
            SELECT * FROM daily UNION ALL SELECT * FROM pads
        """,
        "q83_str_tail2": """
            SELECT c_custkey,
                   'ID:' || substr(c_name, 10) AS surg,
                   regexp_extract(c_name, '([^#]*)$', 1) AS tailpart
            FROM customer
        """,
        "q84_dt_timedelta": """
            WITH lag AS (
              SELECT CAST(floor((epoch(l_shipdate) - epoch(CAST(o_orderdate AS TIMESTAMP))) / 86400) AS BIGINT) AS lag_days,
                     epoch(l_shipdate) - epoch(CAST(o_orderdate AS TIMESTAMP)) AS lag_secs
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            )
            SELECT lag_days, COUNT(*) AS n,
                   ROUND(SUM(CAST(lag_secs AS DOUBLE)) + 1e-6, 3) AS total_secs
            FROM lag GROUP BY lag_days
        """,
        "q82_pad_reflect": """
            WITH daily AS (
              SELECT l_shipdate,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev,
                     row_number() OVER (ORDER BY l_shipdate) - 1 AS pos
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <= TIMESTAMP '1996-12-31'
              GROUP BY l_shipdate
            ),
            stats AS (
              SELECT epoch(MIN(l_shipdate)) AS lo, epoch(MAX(l_shipdate)) AS hi,
                     COUNT(*) - 1 AS n1, COUNT(*) AS n
              FROM daily
            ),
            pads AS (
              SELECT make_timestamp(CAST(trunc((lo - (hi - lo) / n1 * i) * 1000000) AS BIGINT)) AS l_shipdate,
                     i AS srcpos
              FROM stats, unnest([1, 2]) AS u(i)
              UNION ALL
              SELECT make_timestamp(CAST(trunc((hi + (hi - lo) / n1 * i) * 1000000) AS BIGINT)),
                     n - 1 - i
              FROM stats, unnest([1, 2]) AS u(i)
            )
            SELECT l_shipdate, rev FROM daily
            UNION ALL
            SELECT p.l_shipdate, d.rev
            FROM pads p JOIN daily d ON d.pos = p.srcpos
        """,
        "q80_cf_360day": """
            WITH enc AS (
              SELECT (year(l_shipdate) - 1970) * 360
                     + (month(l_shipdate) - 1) * 30
                     + (day(l_shipdate) - 1) AS o,
                     l_extendedprice * (1 - l_discount) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <= TIMESTAMP '1995-12-31'
                AND day(l_shipdate) <= 30
            )
            SELECT o - (o % 30) AS month_ord,
                   ROUND(SUM(rev) + 1e-6, 3) AS rev,
                   COUNT(*) AS n
            FROM enc GROUP BY 1
        """,
        "q77_str_tail": """
            SELECT c_custkey,
                   regexp_replace(c_name, '^Customer#', '') AS stripped,
                   CASE WHEN contains(c_name, '1')
                        THEN length(c_name)
                             - length(regexp_extract(c_name, '.*1(.*)$', 1)) - 1
                        ELSE -1 END AS last_one
            FROM customer
        """,
        "q78_dt_tail": """
            SELECT dayname(ts) AS dname, COUNT(*) AS n,
                   CAST(SUM(CASE WHEN ts::DATE = last_day(ts::DATE)
                             AND month(ts) % 3 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_qend
            FROM events GROUP BY 1
        """,
        "q79_sel_step": f"""
            WITH daily AS ({_DAILY_SQL}),
            ranged AS (
              SELECT l_shipdate, rev,
                     row_number() OVER (ORDER BY l_shipdate) - 1 AS rn
              FROM daily
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <= TIMESTAMP '1995-12-31'
            )
            SELECT l_shipdate, rev FROM ranged WHERE rn % 7 = 0
        """,
        "q69_bpe_token_count": r"""
            WITH t AS (
              SELECT lang,
                     len(regexp_extract_all(text,
                         '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+''', 0)) AS ntok
              FROM documents
            )
            SELECT lang, CAST(SUM(ntok) AS BIGINT) AS total_bpe_tokens,
                   ROUND(AVG(ntok) + 1e-9, 6) AS avg_bpe_tokens
            FROM t GROUP BY lang
        """,
        "q67_stream_resample": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   COUNT(*) AS n,
                   ROUND(SUM(value) + 1e-6, 3) AS total
            FROM events GROUP BY 1
        """,
        "q36_multimodal_features": """
            -- the gate's synthetic media table is deterministic:
            -- payload length 128+(i%5)*32, 8-float fake embedding,
            -- 4x4x3 resize -> 48 pixels; the oracle re-derives the
            -- shape columns the query returns
            SELECT i AS media_id,
                   CAST(128 + (i % 5) * 32 AS BIGINT) AS n_bytes,
                   8 AS dim,
                   48 AS n_px
            FROM generate_series(0, 63) t(i)
        """,
        "q86_cf_subdaily": """
            SELECT (year(ts) - 1970) * 365
                   + list_extract([0,31,59,90,120,151,181,212,243,273,304,334],
                                  month(ts))
                   + (day(ts) - 1) AS day_ord,
                   hour(ts) AS hh,
                   COUNT(*) AS n,
                   ROUND(SUM(value) + 1e-6, 3) AS sv
            FROM events GROUP BY 1, 2
        """,
        "q85_stream_asof": """
            WITH ticks AS (
              SELECT t.ts AS tick, et.event_type
              FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                   TIMESTAMP '2024-01-30 18:00:00',
                                   INTERVAL 6 HOUR) AS t(ts)
              CROSS JOIN (SELECT DISTINCT event_type FROM events) et
            )
            SELECT ticks.event_type AS k, ticks.tick AS ts, e.value AS v
            FROM ticks ASOF LEFT JOIN events e
              ON ticks.event_type = e.event_type AND ticks.tick >= e.ts
        """,
        "q68_datatree": """
            SELECT '/geo/nation' AS path, COUNT(*) AS n FROM nation
            UNION ALL
            SELECT '/geo/region', COUNT(*) FROM region
            UNION ALL
            SELECT '/parties/customer', COUNT(*) FROM customer
        """,
        "q66_season_resampler": """
            WITH lab AS (
              SELECT CAST(make_date(
                       year(l_shipdate)
                         - CASE WHEN month(l_shipdate) IN (1, 2) THEN 1 ELSE 0 END,
                       CASE WHEN month(l_shipdate) IN (12, 1, 2) THEN 12
                            WHEN month(l_shipdate) IN (3, 4, 5) THEN 3
                            WHEN month(l_shipdate) IN (6, 7, 8) THEN 6
                            ELSE 9 END, 1) AS TIMESTAMP) AS season_start,
                     l_extendedprice * (1 - l_discount) AS rev
              FROM lineitem
            ),
            b AS (SELECT MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi FROM lineitem),
            bounds AS (
              SELECT
                CASE WHEN month(lo) IN (12, 3, 6, 9)
                     THEN make_date(year(lo) - CASE WHEN month(lo) IN (1,2) THEN 1 ELSE 0 END,
                                    CASE WHEN month(lo) IN (12,1,2) THEN 12
                                         WHEN month(lo) IN (3,4,5) THEN 3
                                         WHEN month(lo) IN (6,7,8) THEN 6 ELSE 9 END, 1)
                     ELSE make_date(year(lo) - CASE WHEN month(lo) IN (1,2) THEN 1 ELSE 0 END,
                                    CASE WHEN month(lo) IN (12,1,2) THEN 12
                                         WHEN month(lo) IN (3,4,5) THEN 3
                                         WHEN month(lo) IN (6,7,8) THEN 6 ELSE 9 END, 1)
                          + INTERVAL 3 MONTH
                END AS klo,
                CASE WHEN month(hi) IN (2, 5, 8, 11)
                     THEN make_date(year(hi) - CASE WHEN month(hi) IN (1,2) THEN 1 ELSE 0 END,
                                    CASE WHEN month(hi) IN (12,1,2) THEN 12
                                         WHEN month(hi) IN (3,4,5) THEN 3
                                         WHEN month(hi) IN (6,8) THEN 6
                                         WHEN month(hi) = 5 THEN 3 ELSE 9 END, 1)
                     ELSE make_date(year(hi) - CASE WHEN month(hi) IN (1,2) THEN 1 ELSE 0 END,
                                    CASE WHEN month(hi) IN (12,1,2) THEN 12
                                         WHEN month(hi) IN (3,4,5) THEN 3
                                         WHEN month(hi) IN (6,7,8) THEN 6 ELSE 9 END, 1)
                          - INTERVAL 3 MONTH
                END AS khi
              FROM b
            )
            SELECT season_start,
                   ROUND(SUM(rev) + 1e-6, 3) AS revenue, COUNT(*) AS n
            FROM lab, bounds
            WHERE season_start >= CAST(klo AS TIMESTAMP)
              AND season_start <= CAST(khi AS TIMESTAMP)
            GROUP BY 1
        """,
        "q65_multi_grouper": """
            SELECT l_returnflag,
                   CASE WHEN l_quantity > 0 AND l_quantity <= 25 THEN 'lo'
                        WHEN l_quantity > 25 AND l_quantity <= 50 THEN 'hi' END AS qbin,
                   COUNT(*) AS n,
                   ROUND(SUM(l_extendedprice) + 1e-6, 3) AS base
            FROM lineitem GROUP BY 1, 2
        """,
        "q62_interp_targets": f"""
            WITH daily AS ({_DAILY_SQL}),
            t AS (
              SELECT unnest(generate_series(TIMESTAMP '1996-01-15 12:00:00',
                                            TIMESTAMP '1996-12-15 12:00:00',
                                            INTERVAL 1 MONTH)) AS ts
            ),
            p AS (
              SELECT t.ts, MAX(d.l_shipdate) AS pd
              FROM t JOIN daily d ON d.l_shipdate <= t.ts GROUP BY t.ts
            ),
            n AS (
              SELECT t.ts, MIN(d.l_shipdate) AS nd
              FROM t JOIN daily d ON d.l_shipdate >= t.ts GROUP BY t.ts
            )
            SELECT t.ts AS l_shipdate,
                   ROUND(CASE WHEN p.pd = n.nd THEN dp.rev
                              ELSE dp.rev + (dn.rev - dp.rev)
                                   * (epoch(t.ts) - epoch(p.pd))
                                   / (epoch(n.nd) - epoch(p.pd)) END + 1e-9, 6) AS rev
            FROM t
            LEFT JOIN p ON p.ts = t.ts
            LEFT JOIN n ON n.ts = t.ts
            LEFT JOIN daily dp ON dp.l_shipdate = p.pd
            LEFT JOIN daily dn ON dn.l_shipdate = n.nd
        """,
        "q99_sel_partial_string": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT l_shipdate, rev FROM daily
            WHERE l_shipdate >= TIMESTAMP '1995-06-01'
              AND l_shipdate <  TIMESTAMP '1995-07-01'
        """,
        "q100_sel_negative_step": f"""
            WITH daily AS ({_DAILY_SQL}),
            ranged AS (
              SELECT l_shipdate, rev,
                     row_number() OVER (ORDER BY l_shipdate DESC) - 1 AS rn
              FROM daily
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <= TIMESTAMP '1995-12-31'
            )
            SELECT l_shipdate, rev FROM ranged WHERE rn % 7 = 0
        """,
        "q101_ewm_corr": """
            -- adjust=True EWM corr via prefix sums: w_i(t) = q^(t-i)
            -- factorizes as q^t * q^(-i), and every q^t cancels in corr,
            -- so the unscaled sums S* = SUM(q^(-i) * f_i) suffice.
            WITH daily AS (
              SELECT l_shipdate,
                     SUM(l_extendedprice * (1 - l_discount)) AS x,
                     COUNT(*)::DOUBLE AS y
              FROM lineitem GROUP BY 1
            ),
            o AS (
              SELECT l_shipdate, x, y,
                     row_number() OVER (ORDER BY l_shipdate) AS rn
              FROM daily
            ),
            w AS (SELECT *, pow(19.0/21.0, -rn) AS u FROM o),
            s AS (
              SELECT l_shipdate,
                     SUM(u)     OVER win AS a,
                     SUM(u*x)   OVER win AS sx,
                     SUM(u*y)   OVER win AS sy,
                     SUM(u*x*x) OVER win AS sxx,
                     SUM(u*y*y) OVER win AS syy,
                     SUM(u*x*y) OVER win AS sxy
              FROM w
              WINDOW win AS (ORDER BY rn
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT l_shipdate,
                   -- sqrt applied per factor: vx*vy overflows double max
                   -- once the q^(-i) weights pass ~1e150
                   ROUND((a*sxy - sx*sy)
                         / NULLIF(sqrt(GREATEST(a*sxx - sx*sx, 0))
                                  * sqrt(GREATEST(a*syy - sy*sy, 0)), 0)
                         + 1e-9, 6) AS ewm_corr
            FROM s
            WHERE l_shipdate > TIMESTAMP '1995-01-10'
        """,
        "q102_coarsen_construct": f"""
            WITH daily AS ({_DAILY_SQL}),
            ranged AS (
              SELECT l_shipdate, rev,
                     row_number() OVER (ORDER BY l_shipdate) - 1 AS p,
                     COUNT(*) OVER () AS n
              FROM daily
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <= TIMESTAMP '1995-12-31'
            )
            SELECT (p // 7)::BIGINT AS wk, (p % 7)::BIGINT AS dow,
                   l_shipdate, rev
            FROM ranged WHERE p // 7 < n // 7
        """,
        "q103_coarsen_reduce": f"""
            WITH daily AS ({_DAILY_SQL}),
            ranged AS (
              SELECT l_shipdate, rev,
                     row_number() OVER (ORDER BY l_shipdate) - 1 AS p,
                     COUNT(*) OVER () AS n
              FROM daily
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <= TIMESTAMP '1995-12-31'
            )
            SELECT MIN(l_shipdate) AS l_shipdate,
                   ROUND(MAX(rev) - MIN(rev) + 1e-6, 3) AS rev_range
            FROM ranged WHERE p // 7 < n // 7
            GROUP BY p // 7
        """,
        "q104_interp_calendar": f"""
            -- decimal-year lerp of 1995 daily revenue onto a 360_day axis
            WITH daily AS ({_DAILY_SQL}),
            src AS (
              SELECT l_shipdate, rev,
                     1995 + (l_shipdate::DATE - DATE '1995-01-01') / 365.0 AS dy
              FROM daily
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <= TIMESTAMP '1995-12-31'
            ),
            tgt AS (
              SELECT o, 1995 + (o - 360 * 25) / 360.0 AS dy
              FROM (SELECT unnest(range(360 * 25, 360 * 26)) AS o)
            ),
            p AS (SELECT t.o, t.dy, MAX(s.dy) AS pd
                  FROM tgt t JOIN src s ON s.dy <= t.dy GROUP BY t.o, t.dy),
            n AS (SELECT t.o, MIN(s.dy) AS nd
                  FROM tgt t JOIN src s ON s.dy >= t.dy GROUP BY t.o)
            SELECT p.o::BIGINT AS ordinal_360,
                   ROUND(CASE WHEN p.pd = n.nd THEN sp.rev
                              ELSE sp.rev + (sn.rev - sp.rev)
                                   * (p.dy - p.pd) / (n.nd - p.pd) END
                         + 1e-6, 3) AS rev
            FROM p JOIN n ON n.o = p.o
            JOIN src sp ON sp.dy = p.pd
            JOIN src sn ON sn.dy = n.nd
        """,
        "q105_argmax_grid": """
            WITH grid AS (
              SELECT l_returnflag, l_shipdate,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem GROUP BY 1, 2
            ),
            pos AS (
              SELECT l_returnflag, l_shipdate, rev,
                     dense_rank() OVER (ORDER BY l_returnflag) - 1 AS pos_flag,
                     dense_rank() OVER (ORDER BY l_shipdate) - 1 AS pos_date
              FROM grid
            )
            SELECT pos_flag::BIGINT AS pos_flag, pos_date::BIGINT AS pos_date
            FROM pos ORDER BY rev DESC, pos_flag ASC, pos_date ASC LIMIT 1
        """,
        "q111_rolling_argmin": f"""
            WITH daily AS ({_DAILY_SQL}),
            o AS (SELECT l_shipdate, rev,
                    CAST(row_number() OVER (ORDER BY l_shipdate) - 1
                         AS BIGINT) AS rp
                  FROM daily)
            SELECT l_shipdate,
                   CAST(arg_min(rp, rev) OVER
                          (ORDER BY rp ROWS BETWEEN 6 PRECEDING
                           AND CURRENT ROW)
                        - (rp - 6) AS BIGINT) AS amin
            FROM o
        """,
        "q113_ivfpq_topk": f"""
            WITH qv AS (SELECT vec_id,
                     list_transform(embedding,
                       x -> floor(x::DOUBLE * 1000000)::BIGINT) AS q
                   FROM embeddings),
            cells AS (SELECT c.c, j.j,
                     ({_sql_md5l("'cell-' || c.c::VARCHAR || '-' || j.j::VARCHAR")}
                      % 2001 - 1000) * 1000 AS x
                   FROM (SELECT unnest(range(8)) AS c) c,
                        (SELECT unnest(range(64)) AS j) j),
            cdist AS (SELECT v.vec_id, cl.c,
                     SUM((v.q[cl.j + 1] - cl.x) * (v.q[cl.j + 1] - cl.x)) AS d
                   FROM qv v, cells cl GROUP BY 1, 2),
            crank AS (SELECT vec_id, c,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, c ASC) AS rn
                   FROM cdist),
            assign AS (SELECT vec_id, c AS cell FROM crank WHERE rn = 1),
            qprobe AS (SELECT vec_id AS qid, c AS cell FROM crank
                       WHERE rn <= 2 AND vec_id < 5),
            cb AS (SELECT s.s, c.c, j.j, {_sql_pq_entry("s.s", "c.c", "j.j")} AS e
                   FROM (SELECT unnest(range(8)) AS s) s,
                        (SELECT unnest(range(16)) AS c) c,
                        (SELECT unnest(range(8)) AS j) j),
            pdists AS (SELECT v.vec_id, cb.s, cb.c,
                     SUM((v.q[cb.s * 8 + cb.j + 1] - cb.e)
                         * (v.q[cb.s * 8 + cb.j + 1] - cb.e)) AS d
                   FROM qv v, cb GROUP BY 1, 2, 3),
            codes AS (SELECT vec_id, s, c AS code FROM (
                     SELECT vec_id, s, c,
                            row_number() OVER (PARTITION BY vec_id, s
                                               ORDER BY d ASC, c ASC) AS rn
                     FROM pdists) WHERE rn = 1),
            cand AS (SELECT DISTINCT qp.qid, a.vec_id AS nid
                   FROM qprobe qp JOIN assign a ON a.cell = qp.cell
                   WHERE a.vec_id <> qp.qid),
            qd AS (SELECT vec_id AS qid, s, c, d FROM pdists WHERE vec_id < 5),
            adc AS (SELECT cand.qid, cand.nid, CAST(SUM(qd.d) AS BIGINT) AS dist
                   FROM cand JOIN codes co ON co.vec_id = cand.nid
                   JOIN qd ON qd.qid = cand.qid AND qd.s = co.s
                          AND qd.c = co.code
                   GROUP BY 1, 2)
            SELECT qid, nid, dist, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY dist ASC, nid ASC) AS rank
              FROM adc) WHERE rank <= 3
        """,
        "q112_pq_topk": f"""
            WITH cb AS (
              SELECT s.s, c.c, j.j, {_sql_pq_entry("s.s", "c.c", "j.j")} AS e
              FROM (SELECT unnest(range(8)) AS s) s,
                   (SELECT unnest(range(16)) AS c) c,
                   (SELECT unnest(range(8)) AS j) j
            ),
            qv AS (SELECT vec_id,
                     list_transform(embedding,
                       x -> floor(x::DOUBLE * 1000000)::BIGINT) AS q
                   FROM embeddings),
            dists AS (
              SELECT v.vec_id, cb.s, cb.c,
                     SUM((v.q[cb.s * 8 + cb.j + 1] - cb.e)
                         * (v.q[cb.s * 8 + cb.j + 1] - cb.e)) AS d
              FROM qv v, cb GROUP BY 1, 2, 3
            ),
            codes AS (
              SELECT vec_id, s, c AS code FROM (
                SELECT vec_id, s, c,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d ASC, c ASC) AS rn
                FROM dists) WHERE rn = 1
            ),
            qd AS (SELECT vec_id AS qid, s, c, d FROM dists WHERE vec_id < 5),
            adc AS (
              SELECT qd.qid, co.vec_id AS nid, CAST(SUM(qd.d) AS BIGINT) AS dist
              FROM codes co JOIN qd ON qd.s = co.s AND qd.c = co.code
              WHERE co.vec_id != qd.qid GROUP BY 1, 2
            )
            SELECT qid, nid, dist, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY dist ASC, nid ASC) AS rank
              FROM adc) WHERE rank <= 3
        """,
        "q110_dedup_lines": """
            WITH d AS (SELECT doc_id, coalesce(text, '') AS text
                       FROM documents),
            sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
            l AS (SELECT doc_id, unnest(ls) AS ln,
                         unnest(range(len(ls))) AS pos FROM sp),
            b AS (SELECT ln FROM (
                    SELECT ln, COUNT(DISTINCT doc_id) AS dfc
                    FROM l WHERE len(ln) > 0 GROUP BY ln)
                  WHERE dfc >= 3),
            k AS (SELECT l.doc_id, l.pos, l.ln, (b.ln IS NOT NULL) AS isb
                  FROM l LEFT JOIN b ON l.ln = b.ln)
            SELECT doc_id,
                   coalesce(string_agg(ln, chr(10) ORDER BY pos)
                            FILTER (WHERE NOT isb), '') AS text,
                   CAST(COUNT(*) FILTER (WHERE NOT isb) AS BIGINT) AS n_kept,
                   CAST(COUNT(*) FILTER (WHERE isb) AS BIGINT) AS n_dropped
            FROM k GROUP BY doc_id
        """,
        "q109_stream_interval_join": """
            WITH ticks AS (
              SELECT et.event_type, t.tick
              FROM (SELECT DISTINCT event_type FROM events) et
              CROSS JOIN (SELECT unnest(generate_series(
                            TIMESTAMP '2024-01-01 00:00:00',
                            TIMESTAMP '2024-01-30 18:00:00',
                            INTERVAL 6 HOUR)) AS tick) t
            )
            SELECT t.event_type, t.tick, COUNT(*) AS n,
                   ROUND(SUM(e.value) + 1e-6, 3) AS sv
            FROM ticks t JOIN events e
              ON e.event_type = t.event_type
             AND e.ts >= t.tick AND e.ts < t.tick + INTERVAL 6 HOUR
            GROUP BY 1, 2
        """,
        "q107_repetition_stats": r"""
            WITH d AS (SELECT doc_id, lang, coalesce(text, '') AS text
                       FROM documents),
            lines AS (SELECT doc_id,
                        unnest(list_filter(string_split(text, chr(10)),
                                           x -> len(x) > 0)) AS ln FROM d),
            pl AS (SELECT doc_id, ln, COUNT(*) AS c, MIN(len(ln)) AS l
                   FROM lines GROUP BY 1, 2),
            ls AS (SELECT doc_id, SUM(c) AS n_lines,
                     1.0 - COUNT(*) / SUM(c) AS dlf,
                     SUM((c-1)*l)::DOUBLE / SUM(c*l) AS dlcf
                   FROM pl GROUP BY 1),
            w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM d),
            bg AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
                     THEN list_transform(range(1, len(ws)),
                                         i -> ws[i] || ' ' || ws[i+1])
                     ELSE [] END) AS g FROM w),
            pb AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
            bs AS (SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS top
                   FROM pb GROUP BY 1),
            tg AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
                     THEN list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                     ELSE [] END) AS g FROM w),
            pt AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
            ts AS (SELECT doc_id, 1.0 - COUNT(*) / SUM(c) AS dtf
                   FROM pt GROUP BY 1),
            per AS (SELECT d.doc_id, d.lang,
                      coalesce(ls.n_lines, 0) AS n_lines,
                      coalesce(ls.dlf, 0) AS dlf,
                      coalesce(ls.dlcf, 0) AS dlcf,
                      coalesce(bs.top, 0) AS top,
                      coalesce(ts.dtf, 0) AS dtf
                    FROM d LEFT JOIN ls USING (doc_id)
                    LEFT JOIN bs USING (doc_id) LEFT JOIN ts USING (doc_id))
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(n_lines) AS BIGINT) AS total_lines,
                   ROUND(AVG(dlf) + 1e-9, 6) AS avg_dup_line_frac,
                   ROUND(AVG(dlcf) + 1e-9, 6) AS avg_dup_char_frac,
                   ROUND(AVG(top) + 1e-9, 6) AS avg_top_bigram,
                   ROUND(AVG(dtf) + 1e-9, 6) AS avg_dup_trigram
            FROM per GROUP BY 1
        """,
        "q108_blend_epochs": f"""
            WITH d AS (SELECT doc_id, lang, n_chars FROM documents
                       WHERE lang IN ('en', 'de', 'fr')),
            w AS (SELECT doc_id, lang, n_chars,
                    CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 ELSE 0 END AS nf,
                    CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                              ELSE 400000 END AS fr,
                    {_sql_bucket('blend', "lang || '|' || doc_id::VARCHAR")} AS b
                  FROM d),
            c AS (SELECT lang, n_chars,
                    nf + CASE WHEN b < fr THEN 1 ELSE 0 END AS nc FROM w),
            e AS (SELECT lang, n_chars, unnest(range(0, nc)) AS epoch
                  FROM c WHERE nc > 0)
            SELECT lang, epoch::INT AS epoch, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM e GROUP BY 1, 2
        """,
        "q106_complex_phase": """
            WITH z AS (
              SELECT l_returnflag,
                     l_quantity - 25.0 AS re,
                     l_discount * 100.0 - 5.0 AS im
              FROM lineitem
            )
            SELECT l_returnflag,
                   ROUND(AVG(sqrt(re*re + im*im)) + 1e-9, 6) AS avg_mag,
                   ROUND(AVG(atan2(im, re)) + 1e-9, 6) AS avg_angle,
                   ROUND(SUM(re*re + im*im) + 1e-6, 3) AS sum_power
            FROM z GROUP BY 1
        """,
        "q114_encoded_groups": """
            SELECT CASE ((l_linenumber - 1) % 4)
                     WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
                     WHEN 2 THEN 'gamma' WHEN 3 THEN 'delta' END AS grp,
                   COUNT(*) AS n,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
            FROM lineitem GROUP BY 1
        """,
        "q115_grouped_quantile_hist": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.25) + 1e-8, 4) AS q_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "q137_grouped_quantile_midbin": """
            WITH vals AS (
              SELECT l_returnflag,
                     l_extendedprice * (CASE WHEN l_linenumber % 2 = 0
                                             THEN 1.0 ELSE -1.0 END) AS v
              FROM lineitem
            ), g AS (
              SELECT l_returnflag,
                     quantile_cont(v, 0.25) AS q1,
                     quantile_cont(v, 0.5)  AS q2,
                     quantile_cont(v, 0.75) AS q3
              FROM vals GROUP BY 1
            )
            SELECT l_returnflag, 0.25 AS quantile, ROUND(q1 + 1e-8, 4) AS qv FROM g
            UNION ALL
            SELECT l_returnflag, 0.5  AS quantile, ROUND(q2 + 1e-8, 4) AS qv FROM g
            UNION ALL
            SELECT l_returnflag, 0.75 AS quantile, ROUND(q3 + 1e-8, 4) AS qv FROM g
        """,
        # pandas 2W closed='left': bins [anchor, anchor+14d) anchored at
        # the Sunday ON-OR-BEFORE the first point's date (duckdb
        # dayofweek: Sunday=0, so epochday - dayofweek IS that Sunday);
        # label='left' = right edge - 14 days
        "q138_resample_multiweek": """
            WITH sb AS (
              SELECT ((CAST(MIN(ts) AS DATE) - DATE '1970-01-01')
                      - dayofweek(CAST(MIN(ts) AS DATE))) AS s
              FROM events
            ),
            binned AS (
              SELECT CAST(DATE '1970-01-01' + CAST(
                       sb.s + (FLOOR(((CAST(ts AS DATE) - DATE '1970-01-01') - sb.s) / 14) + 1) * 14
                       - 14 AS INT) AS TIMESTAMP) AS bucket,
                     value
              FROM events, sb
            )
            SELECT bucket, COUNT(*) AS n, ROUND(SUM(value) + 1e-6, 3) AS total
            FROM binned GROUP BY 1
        """,
        "q139_resample_me_asfreq": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT CAST(last_day(l_shipdate) AS TIMESTAMP) AS month_end,
                   ROUND(AVG(rev) + 1e-6, 3) AS rev
            FROM daily GROUP BY 1
        """,
        # exact window-array two-pass replay: list() over the same
        # 96-row trailing frame, mean then sqrt(Σ(x−μ)²/n) (ddof=0)
        "q140_rolling_std_wide": f"""
            WITH daily AS ({_DAILY_SQL}),
            wins AS (
              SELECT l_shipdate,
                     list(rev) OVER (ORDER BY l_shipdate
                                     ROWS BETWEEN 95 PRECEDING AND CURRENT ROW) AS a
              FROM daily
            )
            SELECT l_shipdate,
                   CASE WHEN len(a) >= 96 THEN
                     ROUND(sqrt(list_sum(list_transform(a,
                               x -> (x - list_avg(a)) * (x - list_avg(a))))::DOUBLE
                           / len(a)) + 1e-6, 3)
                   END AS roll_std
            FROM wins
        """,
        # rectangle self-join replay over the densified grid (dense
        # labels: label distance == position) of the same NaN-masked
        # two-pass var, min_periods=4
        "q141_rolling_2d_var": """
            WITH grid AS (
              SELECT date_trunc('day', ts) AS d,
                     CAST(EXTRACT(hour FROM ts) AS INT) AS h,
                     AVG(value) AS v
              FROM events GROUP BY 1, 2
            ),
            dense AS (
              SELECT dd.d, hh.h, grid.v
              FROM (SELECT DISTINCT d FROM grid) dd
              CROSS JOIN (SELECT DISTINCT h FROM grid) hh
              LEFT JOIN grid USING (d, h)
            ),
            win AS (
              SELECT g1.d AS d, g1.h AS h,
                     list(g2.v) FILTER (WHERE g2.v IS NOT NULL) AS a
              FROM dense g1 LEFT JOIN dense g2
                ON g2.d BETWEEN g1.d - INTERVAL 2 DAY AND g1.d
               AND g2.h BETWEEN g1.h - 1 AND g1.h
              GROUP BY 1, 2
            )
            SELECT d, h,
                   CASE WHEN len(a) >= 4 THEN
                     ROUND(list_sum(list_transform(a,
                             x -> (x - list_avg(a)) * (x - list_avg(a))))::DOUBLE
                           / len(a) + 1e-6, 3)
                   END AS rvar
            FROM win
        """,
        "q142_concat_minimal": """
            WITH a AS (
              SELECT date_trunc('month', o_orderdate) AS m,
                     o_orderpriority AS p,
                     ROUND(SUM(o_totalprice) + 1e-6, 3) AS v
              FROM orders
              WHERE o_orderdate >= DATE '1995-01-01'
                AND o_orderdate < DATE '1996-01-01'
              GROUP BY 1, 2
            ),
            an AS (
              SELECT o_orderpriority AS p, COUNT(*) AS n
              FROM orders
              WHERE o_orderdate >= DATE '1995-01-01'
                AND o_orderdate < DATE '1996-01-01'
              GROUP BY 1
            ),
            b AS (
              SELECT date_trunc('month', o_orderdate) AS m,
                     o_orderpriority AS p,
                     ROUND(SUM(o_totalprice) + 1e-6, 3) AS v
              FROM orders
              WHERE o_orderdate >= DATE '1996-01-01'
                AND o_orderdate < DATE '1997-01-01'
                AND o_orderpriority <= '3-MEDIUM'
              GROUP BY 1, 2
            ),
            labs AS (SELECT p FROM a UNION SELECT p FROM b),
            a_syn AS (
              SELECT am.m, l.p, CAST(NULL AS DOUBLE) AS v
              FROM (SELECT DISTINCT m FROM a) am
              CROSS JOIN (SELECT p FROM labs
                          EXCEPT SELECT DISTINCT p FROM a) l
            ),
            b_syn AS (
              SELECT bm.m, l.p, CAST(NULL AS DOUBLE) AS v
              FROM (SELECT DISTINCT m FROM b) bm
              CROSS JOIN (SELECT p FROM labs
                          EXCEPT SELECT DISTINCT p FROM b) l
            ),
            un AS (
              SELECT m, p, v FROM a
              UNION ALL SELECT m, p, v FROM a_syn
              UNION ALL SELECT m, p, v FROM b
              UNION ALL SELECT m, p, v FROM b_syn
            )
            SELECT un.p, COUNT(*) AS n_rows, COUNT(un.v) AS cnt_v,
                   ROUND(SUM(un.v) + 1e-6, 3) AS sum_v,
                   MAX(an.n) AS n_first
            FROM un LEFT JOIN an ON un.p = an.p
            GROUP BY un.p
        """,
        "q143_combine_nested": """
            WITH cells AS (
              SELECT date_trunc('month', o_orderdate) AS m,
                     o_orderpriority AS p,
                     ROUND(SUM(o_totalprice) + 1e-6, 3) AS v
              FROM orders
              WHERE o_orderdate >= DATE '1995-01-01'
                AND o_orderdate < DATE '1997-01-01'
              GROUP BY 1, 2
            )
            SELECT p, COUNT(v) AS cnt_v,
                   ROUND(SUM(v) + 1e-6, 3) AS sum_v
            FROM cells GROUP BY p
        """,
        "q144_cap_per_group": """
            WITH ranked AS (
              SELECT source, lang, n_chars,
                     row_number() OVER (
                       PARTITION BY source, lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rk
              FROM documents
            )
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS chars,
                   COUNT(DISTINCT lang) AS n_langs
            FROM ranked WHERE rk <= 5 GROUP BY source
        """,
        "q116_bucketed_ffill": """
            WITH daily AS (
              SELECT l_returnflag, l_shipdate,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem GROUP BY 1, 2
            ),
            sparse AS (
              SELECT l_returnflag, l_shipdate,
                     CASE WHEN EXTRACT(day FROM l_shipdate) % 3 = 0
                          THEN rev END AS rev
              FROM daily
            )
            SELECT l_returnflag, l_shipdate,
                   LAST_VALUE(rev IGNORE NULLS) OVER (
                     PARTITION BY l_returnflag ORDER BY l_shipdate
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS rev_filled
            FROM sparse
        """,
        "q117_outer_align_coords": """
            WITH a AS (
              SELECT l_returnflag, date_trunc('month', l_shipdate) AS m,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 3) AS rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <  TIMESTAMP '1995-09-01'
              GROUP BY 1, 2
            ),
            b_m AS (
              SELECT DISTINCT date_trunc('month', l_shipdate) AS m
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-05-01'
                AND l_shipdate <  TIMESTAMP '1996-01-01'
            ),
            months AS (SELECT m FROM a UNION SELECT m FROM b_m),
            flags AS (SELECT DISTINCT l_returnflag,
                             lower(l_returnflag) AS flag_class FROM a)
            SELECT f.l_returnflag, f.flag_class, mo.m, a.rev
            FROM flags f
            CROSS JOIN months mo
            LEFT JOIN a ON a.l_returnflag = f.l_returnflag AND a.m = mo.m
        """,
        "q121_argsort": f"""
            WITH daily AS ({_DAILY_SQL}),
            pos AS (
              SELECT l_shipdate, rev,
                     ROW_NUMBER() OVER (ORDER BY l_shipdate) - 1 AS orig
              FROM daily
            ),
            srt AS (
              SELECT orig,
                     ROW_NUMBER() OVER (ORDER BY rev, orig) - 1 AS j
              FROM pos
            )
            SELECT p2.l_shipdate, s.orig::BIGINT AS rev_pos
            FROM srt s JOIN pos p2 ON p2.orig = s.j
        """,
        "q122_polyfit_full": """
            WITH m AS (
              SELECT regr_slope(l_extendedprice, l_quantity) AS s,
                     regr_intercept(l_extendedprice, l_quantity) AS i,
                     regr_syy(l_extendedprice, l_quantity) AS syy,
                     regr_r2(l_extendedprice, l_quantity) AS r2,
                     CAST(CASE WHEN COUNT(DISTINCT l_quantity) >= 2
                          THEN 2 ELSE 1 END AS INTEGER) AS rk
              FROM lineitem
            )
            SELECT CAST(1 AS INTEGER) AS degree,
                   ROUND(s + 1e-8, 4) AS coef,
                   ROUND(syy * (1 - r2) / 1e9 + 1e-9, 3) AS resid_b,
                   rk AS rank
            FROM m
            UNION ALL
            SELECT CAST(0 AS INTEGER),
                   ROUND(i + 1e-8, 4),
                   ROUND(syy * (1 - r2) / 1e9 + 1e-9, 3),
                   rk
            FROM m
        """,
        "q123_where_isin": """
            SELECT l_returnflag,
                   ROUND(SUM(CASE WHEN l_quantity > 25.0
                         THEN LEAST(l_extendedprice * (1 - l_discount), 4000.0)
                         ELSE 0.0 END) + 1e-6, 3) AS masked_rev,
                   CAST(SUM(CASE WHEN l_quantity IN (5.0, 10.0, 15.0, 20.0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_in
            FROM lineitem GROUP BY l_returnflag
        """,
        "q124_resample_gaps": """
            WITH f AS (SELECT ts, value FROM events WHERE value > 250),
            b AS (
              SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bin,
                     AVG(value) AS v
              FROM f GROUP BY 1
            ),
            cal AS (
              SELECT UNNEST(generate_series((SELECT MIN(bin) FROM b),
                                            (SELECT MAX(bin) FROM b),
                                            INTERVAL 1 HOUR)) AS bin
            )
            SELECT CAST(cal.bin AS TIMESTAMP) AS ts,
                   ROUND(b.v + 1e-9, 4) AS v
            FROM cal LEFT JOIN b ON b.bin = cal.bin
        """,
        "q125_diff_lower": f"""
            WITH daily AS ({_DAILY_SQL})
            SELECT l_shipdate,
                   ROUND(LEAD(rev) OVER (ORDER BY l_shipdate) - rev + 1e-6, 3) AS d_rev
            FROM daily
            QUALIFY LEAD(rev) OVER (ORDER BY l_shipdate) IS NOT NULL
        """,
        "q118_temperature_sample": """
            WITH c AS (SELECT source, COUNT(*) AS n
                       FROM documents GROUP BY source),
            r AS (SELECT source, n,
                         floor(sqrt((SELECT MIN(n) FROM c)::DOUBLE
                                    / n::DOUBLE) * 1000000)::BIGINT AS thresh
                  FROM c),
            kept AS (
              SELECT d.source, d.doc_id
              FROM documents d JOIN r USING (source)
              WHERE (('0x' || substr(md5('temp' || d.source || '|'
                                         || d.doc_id), 1, 15))::BIGINT
                     % 1000000) < r.thresh
            )
            SELECT source, COUNT(*)::BIGINT AS n_kept,
                   SUM(doc_id)::BIGINT AS id_sum
            FROM kept GROUP BY source
        """,
        "q119_dedup_substrings": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))),
                                        '\s+') AS t
              FROM documents
            ),
            tok AS (
              SELECT doc_id, t[i] AS tok, i - 1 AS pos
              FROM toks,
                   LATERAL unnest(range(1, len(t) + 1)) AS u(i)
            ),
            wins AS (
              SELECT doc_id, i - 1 AS wpos,
                     array_to_string(list_slice(t, i, i + 4), ' ') AS win
              FROM toks,
                   LATERAL unnest(range(1, greatest(len(t) - 3, 1)::BIGINT))
                     AS r(i)
            ),
            dup AS (
              SELECT win, MIN(doc_id) AS canon
              FROM wins GROUP BY win
              HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            droppos AS (
              SELECT DISTINCT w.doc_id, w.wpos + o.off AS pos
              FROM wins w JOIN dup d USING (win),
                   LATERAL unnest(range(0, 5)) AS o(off)
              WHERE w.doc_id <> d.canon
            ),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok,
                     dp.pos IS NOT NULL AS dropped
              FROM tok t LEFT JOIN droppos dp
                ON dp.doc_id = t.doc_id AND dp.pos = t.pos
            )
            SELECT doc_id,
                   coalesce(array_to_string(
                     list(tok ORDER BY pos) FILTER (WHERE NOT dropped),
                     ' '), '') AS text,
                   COUNT(*)::BIGINT AS n_tokens,
                   SUM(CASE WHEN dropped THEN 1 ELSE 0 END)::BIGINT
                     AS n_dropped
            FROM kept GROUP BY doc_id
        """,
        "q120_semdedup": f"""
            WITH {_SQL_QVEC},
            cells AS (SELECT c, j,
                       ({_sql_md5l("'cell-' || c::VARCHAR || '-' || j::VARCHAR")}
                        % 2001 - 1000) * 1000 AS x
                      FROM range(64) t1(c), range(64) t2(j)),
            dist AS (SELECT q.vec_id, cl.c,
                      SUM((q.v[cl.j + 1] - cl.x) * (q.v[cl.j + 1] - cl.x)) AS d
                     FROM qv q, cells cl GROUP BY 1, 2),
            rankd AS (SELECT vec_id, c,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c)
                         AS rn
                      FROM dist),
            assign AS (SELECT vec_id, c AS cell FROM rankd WHERE rn = 1),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM assign a JOIN assign b ON a.cell = b.cell
              WHERE a.vec_id < b.vec_id
            )
            SELECT p.id_a, p.id_b,
                   ROUND(list_cosine_similarity(qa.e, qb.e) + 1e-9, 6) AS cos
            FROM pairs p
            JOIN qv qa ON qa.vec_id = p.id_a
            JOIN qv qb ON qb.vec_id = p.id_b
            WHERE ROUND(list_cosine_similarity(qa.e, qb.e) + 1e-9, 6) >= 0.4
        """,
    }
