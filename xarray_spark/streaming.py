"""Structured Streaming extension (no reference counterpart —
SURVEY.md §2.11: xarray is batch-only; the engine exposes its resample /
rolling / fill operators over unbounded streams as a north-star
extension).

Design: the same long-form model, but ``df`` is a streaming DataFrame
(``spark.readStream``).  Batch operators that are pure stateless
projections (ufuncs, where, assign, str/dt accessors) work unchanged.
Stateful time operators map to the streaming-native primitives:

- resample → ``F.window`` tumbling windows + watermark (late data
  dropped after the watermark horizon, the streaming analogue of a
  closed resample bin)
- rolling (time-based) → sliding ``F.window``
- ewma / ffill across micro-batches → ``applyInPandasWithState``
  (explicit per-key state, the engine's analogue of xarray's
  scan-carried state)
"""

from __future__ import annotations

from collections.abc import Mapping

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from xarray_spark.groupers import _TRUNC, _parse_freq

_SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def _freq_to_duration(freq: str) -> str:
    n, unit = _parse_freq(freq)
    trunc = _TRUNC.get(unit)
    if trunc not in _SECS:
        raise ValueError(f"streaming resample supports sub-month freqs; got {freq!r}")
    return f"{n * _SECS[trunc]} seconds"


def open_stream(spark, path: str, schema: T.StructType | str,
                fmt: str = "parquet") -> DataFrame:
    """File-source stream: new files under ``path`` become micro-batches
    (the streaming analogue of open_mfdataset over a growing directory,
    xarray/backends/api.py:1379 + to_zarr append_dim)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def stream_resample(
    df: DataFrame,
    time_col: str,
    freq: str,
    aggs: Mapping[str, F.Column],
    watermark: str = "1 hour",
    keys: list[str] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding) windowed aggregation with late-data bound.

    Batch equivalence: ``ds.resample(time=freq).agg(**aggs)`` — the
    window *start* is the bin label, matching TimeResampler's
    closed='left' convention (xarray/groupers.py:474).
    """
    dur = _freq_to_duration(freq)
    win = F.window(F.col(time_col), dur, _freq_to_duration(slide) if slide else None)
    wm = df.withWatermark(time_col, watermark)
    grouped = wm.groupBy(*(keys or []), win)
    out = grouped.agg(*[e.alias(n) for n, e in aggs.items()])
    return out.select(
        *(keys or []),
        F.col("window.start").alias(time_col),
        *aggs.keys(),
    )


def stream_rolling_mean(
    df: DataFrame,
    time_col: str,
    window: str,
    slide: str,
    value_cols: list[str],
    watermark: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Sliding-window mean — the streaming analogue of
    ``rolling(time=w).mean()`` with a time-based window."""
    aggs = {f"{c}_mean": F.avg(c) for c in value_cols}
    return stream_resample(df, time_col, window, aggs, watermark, keys, slide=slide)


def stream_ewma(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
    watermark: str = "1 hour",
) -> DataFrame:
    """Cross-micro-batch EWMA via applyInPandasWithState.

    Per-key state carries (last_ewma,) between micro-batches — the
    streaming continuation of XRollingExp's in-batch recursion.  Rows
    within a batch are folded in event-time order; state is keyed so
    the shuffle is one hash partitioning by key.
    """
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField(time_col, T.TimestampType()),
        T.StructField("ewma", T.DoubleType()),
    ])
    state_schema = T.StructType([T.StructField("ewma", T.DoubleType())])

    def update(key, pdfs, state: GroupState):
        prev = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col)
            for _, r in pdf.iterrows():
                v = float(r[value_col])
                prev = v if prev is None else alpha * v + (1 - alpha) * prev
                rows.append((str(key[0]), r[time_col], prev))
        state.update((prev,))
        yield pd.DataFrame(rows, columns=["key", time_col, "ewma"])

    wm = df.withWatermark(time_col, watermark)
    return wm.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_sessionize(
    df: DataFrame,
    time_col: str,
    gap: str,
    aggs: Mapping[str, F.Column],
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows: events separated by less than ``gap`` merge into
    one session (F.session_window — dynamic, data-driven windows; no
    reference counterpart, xarray is batch-only).  Output label is the
    session start; session length is emitted as ``session_seconds``."""
    wm = df.withWatermark(time_col, watermark)
    win = F.session_window(F.col(time_col), gap)
    grouped = wm.groupBy(*(keys or []), win)
    out = grouped.agg(*[e.alias(n) for n, e in aggs.items()])
    return out.select(
        *(keys or []),
        F.col("session_window.start").alias(time_col),
        (F.unix_timestamp("session_window.end")
         - F.unix_timestamp("session_window.start")).alias("session_seconds"),
        *aggs.keys(),
    )


def stream_asof_join(
    obs: DataFrame,
    targets: DataFrame,
    key_col: str,
    time_col: str,
    value_cols: list[str],
    tolerance: float | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream as-of join: for every row of ``targets`` emit the
    most recent ``obs`` values with ``obs.ts <= target.ts`` (backward
    as-of, pandas ``merge_asof`` semantics) — the streaming analogue of
    ``reindex(method='ffill')`` onto a live label stream.

    Built as union + ``applyInPandasWithState``: the two streams are
    tagged and unioned (so one shuffle keyed by ``key_col``), and per-key
    state carries the latest observation across micro-batches.  Within a
    batch rows fold in event-time order (obs before targets at equal
    timestamps).  Cross-batch correctness assumes per-key event-time
    ordering across micro-batches — file/Kafka replay in order; for
    out-of-order sources widen the micro-batch (the in-batch sort
    handles any disorder inside one batch).

    ``tolerance`` (seconds): targets farther than this from the latest
    observation emit null values rather than stale ones.

    State is O(1) per key (one timestamp + one double per value col) —
    bounded by key cardinality, not stream length.
    """
    vtag = [(c, f"__v_{c}") for c in value_cols]
    obs_t = obs.select(
        F.col(key_col).cast("string").alias("__k"),
        F.col(time_col).alias("__ts"),
        F.lit(0).alias("__src"),
        *[F.col(c).cast("double").alias(a) for c, a in vtag],
    )
    tgt_t = targets.select(
        F.col(key_col).cast("string").alias("__k"),
        F.col(time_col).alias("__ts"),
        F.lit(1).alias("__src"),
        *[F.lit(None).cast("double").alias(a) for _, a in vtag],
    )
    unioned = obs_t.unionByName(tgt_t).withWatermark("__ts", watermark)

    out_schema = T.StructType(
        [T.StructField(key_col, T.StringType()),
         T.StructField(time_col, T.TimestampType())]
        + [T.StructField(c, T.DoubleType()) for c in value_cols]
    )
    state_schema = T.StructType(
        [T.StructField("ts", T.DoubleType())]
        + [T.StructField(f"v{i}", T.DoubleType()) for i in range(len(value_cols))]
    )

    def update(key, pdfs, state: GroupState):
        last_ts, last_vals = None, None
        if state.exists:
            st = state.get
            last_ts, last_vals = st[0], list(st[1:])
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["__ts", "__src"])
            for _, r in pdf.iterrows():
                ets = r["__ts"].timestamp()
                if r["__src"] == 0:
                    last_ts = ets
                    last_vals = [r[a] for _, a in vtag]
                else:
                    stale = (
                        last_ts is None
                        or (tolerance is not None and ets - last_ts > tolerance)
                    )
                    vals = [None] * len(value_cols) if stale else last_vals
                    rows.append((str(key[0]), r["__ts"], *vals))
        if last_ts is not None:
            state.update((last_ts, *last_vals))
        yield pd.DataFrame(rows, columns=[key_col, time_col, *value_cols])

    return unioned.groupBy("__k").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_dedup_exact(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication — the ingestion-time stage of the
    dedup pipeline (batch counterpart: extras.dedup.dedup_exact).

    ``dropDuplicatesWithinWatermark`` keys the state store by
    ``key_cols`` (use a content fingerprint, never raw text — state is
    per-key and lives until the watermark expires it) and emits only the
    first arrival of each key; late duplicates inside the watermark are
    suppressed, state is evicted after it.  Bounded state = the number
    of distinct keys per watermark horizon, independent of stream
    length — the property that makes this run forever at ingest scale.
    """
    return df.withWatermark(time_col, watermark) \
             .dropDuplicatesWithinWatermark(key_cols)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time INTERVAL join — Spark Structured
    Streaming's native join-with-time-range (the temporal correlation
    primitive: "each left row matches right rows whose timestamp falls
    in [left_ts + lower, left_ts + upper)").

    Declarative all the way down: equality on ``key_col`` plus a range
    predicate on event time.  Spark's state store keeps only rows inside
    ``watermark + (upper - lower)`` of the frontier per side, so state
    is bounded by stream RATE × window width, not stream length — the
    planner derives the eviction bound from the join condition itself
    (no custom state code, unlike the as-of join above, which needs
    last-value semantics Spark's join state cannot express).

    Both inputs keep their own column names; the result carries the
    aliases ``l`` / ``r`` for disambiguation (select
    ``F.col("l.<key>")`` downstream).
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} + interval {lower}"))
        & (F.col(f"r.{right_ts}") < F.expr(f"l.{left_ts} + interval {upper}"))
    )
    return lw.join(rw, cond, how)
