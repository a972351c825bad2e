"""XDataset / XDataArray — the engine's core objects.

Reference model (pydata/xarray): ``Dataset`` = dict of data variables
sharing named dimensions + coords + attrs (xarray/core/dataset.py:202).
Spark representation (SURVEY.md §1.4): ONE long-form DataFrame —
columns = dim key columns + coord columns + one value column per data
variable — plus a small Python-side catalog (dims order, coord→dims
mapping, attrs).

Every operator is a pure ``XDataset -> XDataset`` transform that composes
a Catalyst plan; no action runs until ``compute()/to_pandas()/write``.

Scale notes
-----------
- Dimension label tables (``_dim_labels``) are DISTINCT projections of a
  key column — always tiny next to the fact table — and are broadcast
  whenever joined back.  This is the engine's analogue of xarray's index
  structures (xarray/core/indexes.py:651 PandasIndex).
- Reductions group by the *complement* dims (xarray semantics:
  ``mean(dim)`` groups by the remaining dims) → a single shuffle with
  map-side partial aggregation, the same shape as flox's tree reduce
  (xarray/core/groupby.py:1064).
- Window ops (shift/diff/rolling/cum*) partition by the complement dims
  and order by the dim column → one shuffle, no driver involvement.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterable, Mapping, Sequence
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

# Aggregations whose result should only cover numeric variables when the
# dataset mixes types (mirrors xarray's numeric_only handling in
# xarray/core/_aggregations.py).
_NUMERIC_ONLY = {"mean", "std", "var", "median", "sum", "prod", "cumsum", "cumprod", "quantile"}


def _is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, _NUMERIC_TYPES)


# alpha/beta plotting-position parameters of the continuous Hyndman & Fan
# quantile families (numpy's method matrix, xarray/core/variable.py:1929)
_Q_ALPHA_BETA = {
    "interpolated_inverted_cdf": (0.0, 1.0),
    "hazen": (0.5, 0.5),
    "weibull": (0.0, 0.0),
    "linear": (1.0, 1.0),
    "median_unbiased": (1.0 / 3.0, 1.0 / 3.0),
    "normal_unbiased": (3.0 / 8.0, 3.0 / 8.0),
}

QUANTILE_METHODS = tuple(_Q_ALPHA_BETA) + (
    "inverted_cdf", "averaged_inverted_cdf", "closest_observation",
    "lower", "higher", "nearest", "midpoint",
)


def _virtual_position(method: str, q: float, n: int) -> float:
    """Pure-Python twin of :func:`_quantile_positions`: the virtual
    0-indexed order-statistic position ``np.quantile(arange(n), q,
    method)`` computes — in O(1), so the histogram quantile path never
    materializes an n-element arange (at 90M values that allocation
    plus numpy's selection was ~8 s per call)."""
    import math as _m
    q = float(q)
    last = n - 1
    if method == "np_median":
        # internal: np.median/np.nanmedian positions — same as linear
        # at q=0.5, but interpolated as (lo+hi)/2 (see _interp_py)
        return last * 0.5
    if method in _Q_ALPHA_BETA:
        a, b = _Q_ALPHA_BETA[method]
        # numpy's exact associations: (n-1)*q for linear (numpy
        # special-cases it), n*q + (a + q*(1-a-b)) - 1 otherwise
        if method == "linear":
            h0 = (n - 1) * q
        else:
            h0 = n * q + (a + q * (1.0 - a - b)) - 1.0
        return min(max(h0, 0.0), float(last))
    if method == "lower":
        return float(_m.floor(last * q))
    if method == "higher":
        return float(_m.ceil(last * q))
    if method == "nearest":
        # bround: IEEE half-even like Spark's bround
        return float(round(last * q))
    if method == "midpoint":
        return (_m.floor(last * q) + _m.ceil(last * q)) / 2.0
    if method == "inverted_cdf":
        return float(max(_m.ceil(n * q) - 1, 0))
    if method == "averaged_inverted_cdf":
        g = n * q
        base = max(_m.ceil(g) - 1, 0)
        # the averaging pair is x[g-1], x[g] — it only exists for
        # integral g >= 1 (at q=0 the clamp makes base == the answer)
        if g == _m.floor(g) and g >= 1 and base + 1 <= last:
            return base + 0.5
        return float(base)
    if method == "closest_observation":
        h = n * q - 0.5
        j1 = _m.floor(h)
        j_1idx = j1 if (h == j1 and (j1 - 1) % 2 == 0) else j1 + 1
        return float(max(min(j_1idx - 1, last), 0))
    raise ValueError(
        f"unknown quantile method {method!r}; valid: {QUANTILE_METHODS}")


def _lerp_py(lo: float, hi: float, w: float) -> float:
    """numpy's TWO-SIDED ``_lerp`` (numpy/lib/function_base.py::_lerp;
    the reference xarray delegates quantile interpolation to
    np.quantile): ``a + (b-a)*t`` for ``t < 0.5``, else
    ``b - (b-a)*(1-t)``.  The one-sided form loses the smaller
    operand's low-order bits under catastrophic cancellation — the
    round-8 falsifier: the median of ``{1e6, -999999.9999999999}``
    must be exactly ``0.0`` (naive lerp gives ``1.16e-10``).  Every
    interpolation site in the engine MUST use this helper (or its
    Column twin :func:`_lerp_col`) so all quantile plans agree
    bit-for-bit with each other and with numpy."""
    d = hi - lo
    return lo + d * w if w < 0.5 else hi - d * (1.0 - w)


def _lerp_col(lo: Column, hi: Column, w) -> Column:
    """Column twin of :func:`_lerp_py` — the shared SQL-side
    interpolation expression for every quantile plan."""
    if not isinstance(w, Column):
        w = F.lit(float(w))
    d = hi - lo
    return (F.when(w < 0.5, lo + d * w)
            .otherwise(hi - d * (F.lit(1.0) - w)))


def _interp_py(lo: float, hi: float, w: float,
               method: str = "linear") -> float:
    """Method-aware interpolation: np.median's mean-of-middles
    ``(a+b)/2`` for the internal ``np_median`` mode (np.median and
    np.quantile(0.5) genuinely differ at the last ULP — verified
    against the reference: median of {1e6, -999999.9999999999} is
    5.82e-11 via np.median but 0.0 via np.quantile), numpy's
    two-sided ``_lerp`` for everything else."""
    if method == "np_median":
        return (lo + hi) * 0.5
    return _lerp_py(lo, hi, w)


def _interp_col(lo: Column, hi: Column, w,
                method: str = "linear") -> Column:
    """Column twin of :func:`_interp_py`."""
    if method == "np_median":
        return (lo + hi) * F.lit(0.5)
    return _lerp_col(lo, hi, w)


def _arr_quantile_expr(arr: Column, q: float,
                       method: str = "linear",
                       presorted: bool = False) -> Column:
    """Exact quantile of a collected ``array<double>`` Column — the
    shared buffered-path expression: sort, locate the order-statistic
    pair via :func:`_quantile_positions`, interpolate with the
    two-sided :func:`_lerp_col`.  Replaces Spark SQL ``percentile``
    at every call site (its internal interpolation is the NAIVE
    one-sided lerp — Percentile.scala ``getPercentile`` — which
    diverges from numpy's ``_lerp`` under catastrophic cancellation).
    Null on an empty array, like ``percentile`` on an empty group.
    Pass ``presorted=True`` when ``arr`` is already sorted (multi-q
    callers sort once)."""
    sarr = arr if presorted else F.sort_array(arr)
    n = F.size(sarr).cast("long")
    j_lo, j_hi, w = _quantile_positions(method, q, n)
    lo = F.element_at(sarr, (j_lo + 1).cast("int"))
    hi = F.element_at(sarr, (j_hi + 1).cast("int"))
    val = (F.when(lo == hi, lo)
           .when(w == 0, lo)
           .when(w == 1, hi)
           .otherwise(_interp_col(lo, hi, w, method)))
    return F.when(n > 0, val)


def _median_expr(v) -> Column:
    """Exact np.median of a column (by name or Column) — the drop-in
    for ``F.expr("percentile(v, 0.5)")``, with np.median's
    mean-of-middles interpolation (the reference's median family is
    np.nanmedian, which differs from np.quantile(0.5) at the last
    ULP — see :func:`_interp_py`)."""
    c = F.col(v) if isinstance(v, str) else v
    return _arr_quantile_expr(F.collect_list(c.cast("double")), 0.5,
                              method="np_median")


def _validate_q(qs) -> None:
    """np.quantile's domain check (the reference surfaces it verbatim):
    silently clamping an out-of-range q returns a plausible-but-wrong
    order statistic, so raise exactly like numpy does."""
    for x in qs:
        x = float(x)
        if not (0.0 <= x <= 1.0) or x != x:
            raise ValueError("Quantiles must be in the range [0, 1]")


def _quantile_positions(method: str, q: float, n: Column):
    """0-indexed order-statistic positions (j_lo, j_hi) and interpolation
    weight w for one quantile, as expressions of the (column) sample size
    — every numpy quantile ``method`` reduces to
    ``x[j_lo] + (x[j_hi] - x[j_lo]) * w`` on the sorted sample
    (interpolated by the two-sided :func:`_lerp_col`).
    """
    q = float(q)
    nn = n.cast("double")
    zero, last = F.lit(0).cast("long"), (n - 1).cast("long")
    if method == "np_median":
        # internal np.median mode (positions = linear at q=0.5; the
        # interpolation differs — see _interp_col)
        h0 = (nn - 1) * F.lit(0.5)
        j_lo = F.floor(h0).cast("long")
        return j_lo, F.least(j_lo + 1, last), h0 - F.floor(h0)
    if method in _Q_ALPHA_BETA:
        a, b = _Q_ALPHA_BETA[method]
        # numpy's EXACT FP association (_QuantileMethods /
        # _compute_virtual_index): linear is special-cased to
        # (n-1)*q ("to avoid some rounding issues" — numpy's own
        # comment); every other alpha-beta method computes
        # n*q + (alpha + q*(1-alpha-beta)) - 1.  The parenthesized
        # constant folds in Python with the same IEEE ops numpy uses;
        # any other association differs in the last ULP, which the
        # interpolation multiplies by the value spread.
        if method == "linear":
            h = (nn - 1) * F.lit(q)
        else:
            c = a + q * (1.0 - a - b)
            h = nn * F.lit(q) + F.lit(c) - F.lit(1.0)
        h0 = F.greatest(F.least(h, nn - 1), F.lit(0.0))
        j_lo = F.floor(h0).cast("long")
        return j_lo, F.least(j_lo + 1, last), h0 - F.floor(h0)
    if method == "lower":
        j = F.floor((nn - 1) * q).cast("long")
        return j, j, F.lit(0.0)
    if method == "higher":
        j = F.ceil((nn - 1) * q).cast("long")
        return j, j, F.lit(0.0)
    if method == "nearest":
        j = F.bround((nn - 1) * F.lit(q), 0).cast("long")
        return j, j, F.lit(0.0)
    if method == "midpoint":
        j_lo = F.floor((nn - 1) * q).cast("long")
        j_hi = F.ceil((nn - 1) * q).cast("long")
        return j_lo, j_hi, F.lit(0.5)
    if method == "inverted_cdf":
        j = F.greatest(F.ceil(nn * q).cast("long") - 1, zero)
        return j, j, F.lit(0.0)
    if method == "averaged_inverted_cdf":
        g = nn * q
        base = F.greatest(F.ceil(g).cast("long") - 1, zero)
        # averaging pair x[g-1], x[g] exists only for integral g >= 1
        # (at q=0 the clamped base IS the answer — wave-37 q=0 fix)
        split = (g == F.floor(g)) & (g >= 1) & (base + 1 <= last)
        j_hi = F.when(split, base + 1).otherwise(base)
        w = F.when(split, F.lit(0.5)).otherwise(F.lit(0.0))
        return base, j_hi, w
    if method == "closest_observation":
        # H&F type 3 (numpy _closest_observation): 0-indexed virtual index
        # v = nq - 1.5; take floor(v) when v is an integer AND even, else
        # floor(v)+1.  In the 1-indexed frame h = v + 1 that reads: take h
        # itself only when h is integral and h-1 is even.
        h = nn * q - 0.5
        j1 = F.floor(h)
        take_lower = (h == j1) & ((j1 - 1) % 2 == 0)
        j_1idx = F.when(take_lower, j1).otherwise(j1 + 1)
        j = F.greatest(F.least(j_1idx.cast("long") - 1, last), zero)
        return j, j, F.lit(0.0)
    raise ValueError(f"unknown quantile method {method!r}; valid: {QUANTILE_METHODS}")


def _grouped_quantile_plan(df: DataFrame, keys: list,
                           probe_var: str | None = None):
    """Pick the grouped exact-quantile plan: ``'buffer'`` (one SQL
    aggregate that buffers a group's values — fastest when every group
    is small), ``'midbin'`` (two-scan fixed-bucket selection — no
    stats pass, no aggregation buffer, the middle regime), or
    ``'hist'`` (the 4-pass per-group equi-width histogram selection —
    never holds a group anywhere, the 100 TB fallback; also the right
    plan when a whole group may hide inside one 1/16-octave bucket).

    Returns ``(plan, probe_hist)``.  ``OPTIONS['grouped_quantile_plan']``
    other than ``'auto'`` forces that plan with no data inspection.
    ``'auto'`` is free when plan statistics bound the WHOLE table under
    the buffer regime (no group can leave it); otherwise ONE scan finds
    the max group size — and when ``probe_var`` is given, that scan IS
    the 1/16-octave bucket table of that var (eagerly materialized): if
    the verdict is ``'midbin'``, the caller hands it straight to
    :func:`_grouped_quantile_midbin` as its stage 1, so the plan
    decision costs no extra pass.

    Buffer vs bucket-plan choice is TWO-FACTOR (round-8 measured
    crossover, see :data:`_MIDBIN_THRESHOLD`): a group over the memory
    cap never buffers; a group over the ~1e5-row perf threshold
    buffers only when the whole table sits under the total floor where
    the bucket plans' fixed job costs dominate.  All three plans are
    exact — this only picks one.
    """
    from xarray_spark.options import OPTIONS
    from xarray_spark._utils import estimated_rows
    forced = OPTIONS["grouped_quantile_plan"]
    if forced != "auto":
        return forced, None
    est = estimated_rows(df)
    if est <= _MIDBIN_THRESHOLD or (est <= _QUANTILE_BUFFER_LIMIT
                                    and est <= _MIDBIN_TOTAL_FLOOR):
        # no group can exceed the perf threshold, or the whole table
        # is memory-safe AND under the fixed-cost floor — buffer, free
        return "buffer", None

    def pick(m):
        if m <= _MIDBIN_THRESHOLD:
            return "buffer"
        if est <= _MIDBIN_TOTAL_FLOOR and m <= _QUANTILE_BUFFER_LIMIT:
            return "buffer"
        return "midbin" if m <= _MIDBIN_LIMIT else "hist"

    if probe_var is not None:
        hist = (_midbin_hist(df, keys, probe_var)
                .localCheckpoint(eager=True))
        hist_rows = _midbin_collect(hist, keys)
        if hist_rows is not None:
            # group sizes straight from the collected bucket table —
            # no extra aggregation job
            sizes: dict = {}
            for r in hist_rows:
                gk = tuple(r[k] for k in keys)
                gk = tuple(("__nan__",) if isinstance(x, float)
                           and x != x else x for x in gk)
                sizes[gk] = sizes.get(gk, 0) + r["__c"]
            m = max(sizes.values()) if sizes else 0
        else:
            row = (hist.groupBy(*keys).agg(F.sum("__c").alias("__g"))
                   .agg(F.max("__g").alias("m")).first())
            m = int(row["m"]) if row and row["m"] is not None else 0
        plan = pick(m)
        return plan, ((hist, hist_rows) if plan == "midbin" else None)
    row = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")) \
            .agg(F.max("__n").alias("m")).first()
    m = int(row["m"]) if row and row["m"] else 0
    return pick(m), None


#: sentinel bucket for null/NaN rows — above every value bucket, so it
#: never enters a cumulative count but keeps all-null groups visible
_MIDBIN_NULL = (1 << 30) + 1
#: shifts floor(16·log2|v|) of every finite nonzero double (≥ -17184,
#: the smallest subnormal) to a positive magnitude
_MIDBIN_OFFSET = 17_200.0


def _midbin_bucket(vv: Column) -> Column:
    """Monotone 1/16-octave bucket id of a double column, ONE ``log2``
    per row: ``sign(v)·(floor(16·log2|v|) + C)`` for finite nonzero v;
    0, ±2^30 and :data:`_MIDBIN_NULL` for zero, ±inf and null/NaN.

    Monotone in the value (so cumulative counts map order-statistic
    ranks to buckets) and computable WITHOUT a min/max pass, which is
    the whole point: the grouped selection skips the stats scan the
    equi-width histogram needs.  Spark's ``log2`` is
    ``StrictMath.log(x) / StrictMath.log(2)``: ``StrictMath.log`` is
    semi-monotonic, and the division by a positive constant, the exact
    ×16 and ``floor`` keep that order.  The id is never decoded into a
    value range — both scans recompute it with the same deterministic
    JVM expression and match rows to buckets by id — so it need not
    fall on exact binary edges.  Evaluated in double with one final
    int cast: no ANSI-checked integer arithmetic per row."""
    inf = F.lit(float("inf"))
    mag = F.floor(F.log2(F.abs(vv)) * 16) + F.lit(_MIDBIN_OFFSET)
    bid = (F.when(vv.isNull() | F.isnan(vv), F.lit(_MIDBIN_NULL))
           .when(vv == 0, F.lit(0))
           .when(vv == inf, F.lit(1 << 30))
           .when(vv == -inf, F.lit(-(1 << 30)))
           .otherwise(F.signum(vv) * mag)).cast("int")
    # never null (every branch is), but log2 makes the CASE nullable to
    # Catalyst, which would infer an isnotnull(__b) join filter that
    # evaluates the CASE a second time on the candidate scan
    return F.coalesce(bid, F.lit(_MIDBIN_NULL))


def _midbin_rows(df: DataFrame, keys: list, v: str) -> DataFrame:
    """``keys…, __v, __b``: the value as double and its bucket id."""
    val = F.col(v).cast("double")
    return df.select(*keys, val.alias("__v"),
                     _midbin_bucket(val).alias("__b"))


def _midbin_hist(df: DataFrame, keys: list, v: str) -> DataFrame:
    """Stage 1 of the midbin plan: per-(group, 1/16-octave bucket) row
    counts — one map-side-combined aggregation, null/NaN rows kept
    under the sentinel bucket so all-null groups stay visible."""
    return (_midbin_rows(df, keys, v).groupBy(*keys, "__b")
            .agg(F.count(F.lit(1)).alias("__c")))


def _midbin_candidates(df: DataFrame, keys: list, v: str,
                       targets: DataFrame,
                       null_safe: bool = True) -> DataFrame:
    """Stage 2 of the midbin plan: the rows of the target buckets, by
    one broadcast equi-join on ``(keys, __b)`` with the bucket id
    recomputed on the scan.  ``null_safe=False`` joins on the plain
    keys, which keeps the probe inside whole-stage codegen (measured
    ~6× faster than a struct/null-safe key on 90M rows) — valid only
    when no group label is NULL/NaN.  Null/NaN rows never match: no
    target holds the :data:`_MIDBIN_NULL` bucket."""
    from xarray_spark._utils import null_safe_join
    rows = _midbin_rows(df, keys, v)
    on = [*keys, "__b"]
    if null_safe:
        return null_safe_join(rows, F.broadcast(targets), on)
    return rows.join(F.broadcast(targets), on=on)


#: driver-finish gates for the midbin plan: collect the bucket table /
#: the candidate rows only when they are bounded; above either limit
#: the fully-distributed tail runs instead
_MIDBIN_HIST_COLLECT_LIMIT = 200_000
_MIDBIN_CAND_COLLECT_LIMIT = 4_000_000

# Plan-picker thresholds of the 'auto' grouped_quantile_plan.
#: MEMORY cap: max rows any single group may buffer in one SQL
#: collect_list aggregation.  A group above it never enters one
#: aggregation buffer.
_QUANTILE_BUFFER_LIMIT = 4_000_000
#: PERF crossover (round-8 measurement, 90M rows cached, min-of-2):
#: per-group 3k -> buffer 7.2 s vs midbin 18.8 s; 30k -> 11.8 vs 17.1;
#: 300k -> 21.4 vs 6.1; 3M -> 61.3 vs 3.6.  Buffering wins below ~1e5
#: rows per group at large totals; the bucket plans win above.  Groups
#: bigger than this threshold prefer midbin/hist even when they would
#: FIT the memory cap — unless the whole table is under
#: :data:`_MIDBIN_TOTAL_FLOOR`, where the bucket plans' fixed job costs
#: dominate and buffering stays fastest.
_MIDBIN_THRESHOLD = 131_072
_MIDBIN_TOTAL_FLOOR = 16_000_000
#: the midbin plan's worst case (a whole group inside ONE bucket) sorts
#: the group in a single task, so this cap bounds that task's sort (64M
#: doubles ≈ 512 MB, spill-backed); above it the 4-pass equi-width
#: histogram splits tight clusters by value range instead
_MIDBIN_LIMIT = 64_000_000


def _midbin_collect(hist: DataFrame, keys: list):
    """Bucket table to the driver IF bounded (limit+1 probe), else
    None — the gate for the driver-finish fast path."""
    rows = hist.limit(_MIDBIN_HIST_COLLECT_LIMIT + 1).collect()
    return None if len(rows) > _MIDBIN_HIST_COLLECT_LIMIT else rows


def _grouped_quantile_midbin_local(df: DataFrame, keys: list, v: str,
                                   qs: list, method: str,
                                   hist_rows: list) -> DataFrame | None:
    """Driver-finish of the midbin plan: with the per-(group, bucket)
    counts already on the driver, compute every order statistic's
    bucket in plain Python, pull ONLY candidate-bucket rows with one
    broadcast (keys, bucket) equi-join collect, and finish in numpy —
    mirroring `_quantile_ungrouped`'s architecture, whose driver finish
    is why the ungrouped plan runs in ~2 scans flat.  Returns None when the
    candidate volume exceeds the collect gate (the distributed tail
    then runs)."""
    import datetime as _dt
    import math as _math

    import numpy as _np
    from xarray_spark._utils import local_df

    def gkey(vals):
        out = []
        for x in vals:
            if isinstance(x, float) and x != x:
                x = ("__nan__",)
            elif isinstance(x, _dt.datetime):
                # Two collect paths feed these keys: Row.collect yields
                # NAIVE datetimes in the DRIVER-LOCAL timezone (PySpark
                # converts epoch -> local wall), toArrow yields tz-AWARE
                # UTC (session timezone pinned UTC).  Canonicalize BOTH
                # to naive-UTC wall: aware -> convert; naive -> assume
                # driver-local (astimezone on a naive datetime applies
                # the process tz), then convert.  On a UTC driver this
                # is the identity for the naive side; on any other tz
                # it is the fix (round-9 ADVICE #1 — keys from the two
                # sources used to mismatch and crash at()).
                x = x.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            out.append(x)
        return tuple(out)

    groups: dict = {}
    for r in hist_rows:
        raw = tuple(r[k] for k in keys)
        g = groups.setdefault(gkey(raw), {"raw": raw, "b": []})
        g["b"].append((r["__b"], r["__c"]))
    target_rows = []
    plans = {}
    total_cand = 0
    for gk, g in groups.items():
        bl = sorted(bc for bc in g["b"] if bc[0] != _MIDBIN_NULL)
        n = sum(c for _, c in bl)
        qpos, ranks = [], set()
        for q in qs:
            if n == 0:
                qpos.append(None)
                continue
            if method in _Q_ALPHA_BETA:
                # SAME association as the SQL _quantile_positions AND
                # numpy's _compute_virtual_index:
                # n*q + (a + q*(1-a-b)) - 1 — any other association
                # differs in the last ULP and breaks both plan
                # equivalence and numpy bit-parity
                a_, b_ = _Q_ALPHA_BETA[method]
                qf = float(q)
                if method == "linear":
                    h = (n - 1) * qf
                else:
                    h = n * qf + (a_ + qf * (1.0 - a_ - b_)) - 1.0
                h0 = min(max(h, 0.0), float(n - 1))
                jl = int(_math.floor(h0))
                jl, jh, w = jl, min(jl + 1, n - 1), h0 - _math.floor(h0)
            else:
                p = _virtual_position(method, float(q), n)
                jl, jh = int(_math.floor(p)), int(_math.ceil(p))
                w = p - jl
            qpos.append((jl, jh, w))
            ranks.update((jl, jh))
        rank_bucket, bucket_cum = {}, {}
        rs, ri, cum = sorted(ranks), 0, 0
        for b, c in bl:
            hit = False
            while ri < len(rs) and rs[ri] < cum + c:
                rank_bucket[rs[ri]] = b
                hit = True
                ri += 1
            if hit:
                bucket_cum[b] = cum
                total_cand += c
            cum += c
            if ri >= len(rs):
                break
        plans[gk] = {"n": n, "qpos": qpos, "rank_bucket": rank_bucket,
                     "bucket_cum": bucket_cum}
        for b in bucket_cum:
            target_rows.append(g["raw"] + (b,))
    if total_cand > _MIDBIN_CAND_COLLECT_LIMIT:
        return None
    spark = df.sparkSession
    key_fields = [df.schema[k] for k in keys]
    tgt = local_df(spark, target_rows, T.StructType(
        key_fields + [T.StructField("__b", T.IntegerType())]))
    # the collected bucket table knows every group label, so the join
    # can use plain keys unless a NULL/NaN label actually exists
    has_null_key = any(
        x is None or (isinstance(x, float) and x != x)
        for g in groups.values() for x in g["raw"])
    cand = _midbin_candidates(df, keys, v, tgt, null_safe=has_null_key)
    # toArrow, NOT toPandas: pandas coerces nullable ints to
    # float64+NaN, which would break key matching against the
    # collected bucket-table Rows (0 vs 0.0, None vs NaN)
    tbl = cand.select(*keys, "__b", "__v").toArrow()
    bucket_vals: dict = {}
    kcols = [tbl.column(k).to_pylist() for k in keys]
    bcol = tbl.column("__b").to_pylist()
    vcol = tbl.column("__v").to_pylist()
    # simple python pass (candidate volume is gate-bounded)
    for i in range(tbl.num_rows):
        bucket_vals.setdefault(
            (gkey(tuple(c[i] for c in kcols)), bcol[i]),
            []).append(vcol[i])
    for bk in bucket_vals:
        bucket_vals[bk] = _np.sort(_np.asarray(bucket_vals[bk]))
    out_rows = []
    for gk, g in groups.items():
        pl = plans[gk]

        def at(rank):
            b = pl["rank_bucket"][rank]
            arr = bucket_vals.get((gk, b))
            return float(arr[rank - pl["bucket_cum"][b]])

        for q, qp in zip(qs, pl["qpos"]):
            if qp is None:
                out_rows.append(g["raw"] + (float(q), None))
                continue
            jl, jh, w = qp
            lo, hi = at(jl), at(jh)
            if lo == hi or w == 0:
                res = lo
            elif w == 1:
                res = hi
            else:
                res = _interp_py(lo, hi, w, method)
            out_rows.append(g["raw"] + (float(q), res))
    out_schema = T.StructType(key_fields + [
        T.StructField("quantile", T.DoubleType()),
        T.StructField(v, T.DoubleType()),
    ])
    return local_df(spark, out_rows, out_schema)


def _grouped_quantile_midbin(df: DataFrame, keys: list, v: str, qs: list,
                             method: str,
                             probe=None) -> DataFrame:
    """Exact per-group quantiles in TWO full scans — the middle plan
    between the buffered aggregate and the 4-pass equi-width histogram:

    1. one map-side-combined ``groupBy(keys, bucket).count`` over the
       fixed 1/16-octave buckets of :func:`_midbin_bucket` (no stats
       pass — the buckets don't need min/max);
    2. cumulative counts locate each order statistic's bucket (tiny,
       window over ≤ a few thousand buckets per group); a broadcast
       (keys, bucket) equi-join pulls ONLY candidate-bucket rows out of
       the second scan, which get a per-bucket row_number — a
       ~n/buckets-sized slice per group, never an aggregation buffer.

    Worst case (a whole group inside one 1/16-octave bucket) sorts the
    group in one task, which is why the 'auto' pick is gated by
    :data:`_MIDBIN_LIMIT`; beyond it the equi-width histogram plan
    splits tight clusters by value range instead.

    Returns long form: ``keys… , quantile, v`` (all-null groups kept,
    value null — same contract as the histogram plan).
    """
    hist = hist_rows = None
    if probe is not None:
        hist, hist_rows = probe
    if hist is None:
        # the bucket table feeds targets AND the all-null-group
        # reinstate branch — materialize so the scan behind it runs
        # ONCE (the plan picker usually hands it in pre-materialized,
        # in which case the decision scan WAS stage 1)
        hist = _midbin_hist(df, keys, v).localCheckpoint(eager=True)
        hist_rows = _midbin_collect(hist, keys)
    if hist_rows is not None:
        # driver finish: order-statistic buckets computed in Python,
        # one broadcast (keys, bucket) join collect, numpy finish —
        # skips the window/union/explode job parade entirely
        local = _grouped_quantile_midbin_local(df, keys, v, qs, method,
                                               hist_rows)
        if local is not None:
            return local
    wk = Window.partitionBy(*keys)
    wcum = wk.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    valb = F.col("__b") != _MIDBIN_NULL
    cnt = F.when(valb, F.col("__c")).otherwise(F.lit(0))
    hist2 = (hist
             .withColumn("__cum", F.coalesce(F.sum(cnt).over(wcum),
                                             F.lit(0)))
             .withColumn("__n", F.sum(cnt).over(wk)))
    n = F.col("__n")
    pos = [_quantile_positions(method, float(x), n) for x in qs]
    need = F.lit(False)
    for j_lo, j_hi, _ in pos:
        for j in (j_lo, j_hi):
            need = need | ((n > 0) & valb & (j >= F.col("__cum"))
                           & (j < F.col("__cum") + F.col("__c")))
    targets = hist2.where(need).select(*keys, "__b", "__cum", "__n")
    # null-safe keys — NULL group labels survive groupBy and must
    # survive this join too
    cand = _midbin_candidates(df, keys, v, targets)
    wloc = Window.partitionBy(*keys, "__b").orderBy("__v")
    ranked = cand.withColumn(
        "__i", F.col("__cum") + F.row_number().over(wloc) - 1)
    i, vv = F.col("__i"), F.col("__v")
    cond = F.lit(False)
    pre_cols = []
    for m, (j_lo, j_hi, wgt) in enumerate(pos):
        cond = cond | (i == j_lo) | (i == j_hi)
        pre_cols.append(F.when(i == j_lo, vv).alias(f"__lo_{m}"))
        pre_cols.append(F.when(i == j_hi, vv).alias(f"__hi_{m}"))
        pre_cols.append(wgt.alias(f"__w_{m}"))
    pre = ranked.where(cond).select(*keys, *pre_cols)
    aggs = []
    for m in range(len(qs)):
        aggs += [F.max(f"__lo_{m}").alias(f"__lo_{m}"),
                 F.max(f"__hi_{m}").alias(f"__hi_{m}"),
                 F.max(f"__w_{m}").alias(f"__w_{m}")]
    per_group = pre.groupBy(*keys).agg(*aggs)
    # all-null groups never reach a target bucket — reinstate with nulls
    empty = (hist2.where(n == 0).select(*keys).distinct()
             .select(*keys,
                     *[c for m in range(len(qs)) for c in (
                         F.lit(None).cast("double").alias(f"__lo_{m}"),
                         F.lit(None).cast("double").alias(f"__hi_{m}"),
                         F.lit(None).cast("double").alias(f"__w_{m}"))]))
    per_group = per_group.unionByName(empty)
    structs = []
    for m, x in enumerate(qs):
        lo, hi = F.col(f"__lo_{m}"), F.col(f"__hi_{m}")
        wgt = F.col(f"__w_{m}")
        # short-circuits mirror the histogram plan: -inf + (inf)*0
        # would poison an exact order statistic with NaN
        res = (F.when(lo == hi, lo)
               .when(wgt == 0, lo)
               .when(wgt == 1, hi)
               .otherwise(_interp_col(lo, hi, wgt, method)))
        structs.append(F.struct(F.lit(float(x)).alias("q"),
                                res.alias("v")))
    out = per_group.select(*keys,
                           F.explode(F.array(*structs)).alias("__qs"))
    return out.select(*keys, F.col("__qs.q").alias("quantile"),
                      F.col("__qs.v").alias(v))


def _grouped_quantile_hist(df: DataFrame, keys: list, v: str, qs: list,
                           method: str, nb: int = 8192) -> DataFrame:
    """Exact per-group quantiles with NO per-group value buffering —
    the grouped form of the histogram-guided selection
    (:meth:`XDataset._quantile_ungrouped`), fully distributed: no
    driver-side per-group work, so it scales in BOTH directions
    (many groups × huge groups).

    Plan: (1) per-group stats aggregate (finite count/min/max plus
    ±inf counts — one shuffle keyed by the group, partial-agged);
    (2) per-(group, bin) histogram over ``nb`` equi-width bins (second
    keyed shuffle); (3) cumulative counts by a ≤``nb``-row-per-group
    window; (4) each order statistic's bin found by a keys-equi-join
    of the (groups × ≤2·|qs|) rank table against the histogram;
    (5) ONLY candidate-bin rows get a local row_number sort — a
    ~n/nb-sized slice per group, spill-safe, never an aggregation
    buffer.  Positions use the same closed-form
    ``_quantile_positions`` expressions as every other quantile path,
    so all nine numpy methods work per group.

    Returns long form: ``keys… , quantile, v``.
    """
    val = F.col(v).cast("double")
    rows = df.select(*keys, val.alias("__v"))
    vv = F.col("__v")
    is_fin = vv.isNotNull() & ~F.isnan(vv) & (vv > F.lit(float("-inf"))) & (vv < F.lit(float("inf")))
    stats = rows.groupBy(*keys).agg(
        F.count(F.when(is_fin, 1)).alias("__nf"),
        F.min(F.when(is_fin, vv)).alias("__lo"),
        F.max(F.when(is_fin, vv)).alias("__hi"),
        F.count(F.when(vv == F.lit(float("-inf")), 1)).alias("__nneg"),
        F.count(F.when(vv == F.lit(float("inf")), 1)).alias("__npos"),
    ).withColumn("__n", (F.col("__nf") + F.col("__nneg") + F.col("__npos")).cast("long"))
    # the stats/histogram tables are reused by several plan branches —
    # checkpoint once so the fact scan doesn't re-run per branch
    stats = stats.localCheckpoint(eager=False)
    pos_structs = []
    for x in qs:
        j_lo, j_hi, w = _quantile_positions(method, float(x), F.col("__n"))
        pos_structs.append(F.struct(
            F.lit(float(x)).alias("q"), j_lo.cast("long").alias("jl"),
            j_hi.cast("long").alias("jh"), w.cast("double").alias("w")))
    ranks = stats.select(
        *keys, "__n", "__nf", "__nneg", "__npos", "__lo", "__hi",
        F.explode(F.array(*pos_structs)).alias("__p"),
    ).select(
        *keys, "__n", "__nf", "__nneg", "__npos", "__lo", "__hi",
        F.col("__p.q").alias("__q"), F.col("__p.jl").alias("__jl"),
        F.col("__p.jh").alias("__jh"), F.col("__p.w").alias("__w"),
    )
    need = (ranks.where(F.col("__n") > 0)
            .select(*keys, "__nf", "__nneg", "__npos", "__lo", "__hi",
                    F.explode(F.array("__jl", "__jh")).alias("__r"))
            .distinct())
    # ±inf ranks resolve without touching the histogram; so do groups
    # whose finite values are all equal (lo == hi)
    neg, nf = F.col("__nneg"), F.col("__nf")
    direct = need.where(
        (F.col("__r") < neg) | (F.col("__r") >= neg + nf)
        | (F.col("__lo") == F.col("__hi"))
    ).select(*keys, "__r", F.when(F.col("__r") < neg, F.lit(float("-inf")))
             .when(F.col("__r") >= neg + nf, F.lit(float("inf")))
             .otherwise(F.col("__lo")).alias("__rv"))
    fneed = (need.where((F.col("__r") >= neg) & (F.col("__r") < neg + nf)
                        & (F.col("__lo") != F.col("__hi")))
             .select(*keys, "__r", (F.col("__r") - neg).alias("__rf")))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(nb))
    # width can UNDERFLOW to 0 while lo < hi (subnormal range, e.g.
    # hi-lo = 5e-324): guard the ANSI division and drop such groups
    # into a single bin — the candidate sort then yields exact order
    # statistics for them
    bcol = (F.when(width > 0,
                   F.least(F.floor((vv - F.col("__lo")) / width),
                           F.lit(nb - 1)))
            .otherwise(F.lit(0))).cast("int")
    binned = (rows.where(is_fin)
              .join(stats.select(*keys, "__lo", "__hi"), on=keys)
              .where(F.col("__lo") != F.col("__hi"))
              .select(*keys, "__v", bcol.alias("__b")))
    hist = binned.groupBy(*keys, "__b").agg(F.count(F.lit(1)).alias("__c"))
    wcum = (Window.partitionBy(*keys).orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1))
    hist = hist.withColumn("__cum", F.coalesce(F.sum("__c").over(wcum), F.lit(0)))
    hist = hist.localCheckpoint(eager=False)
    targets = (fneed.join(hist, on=keys)
               .where((F.col("__cum") <= F.col("__rf"))
                      & (F.col("__rf") < F.col("__cum") + F.col("__c")))
               .select(*keys, "__r", "__rf", "__b", "__cum"))
    wloc = Window.partitionBy(*keys, "__b").orderBy("__v")
    cand = (binned.join(targets.select(*keys, "__b").distinct(),
                        on=keys + ["__b"], how="left_semi")
            .withColumn("__lr", F.row_number().over(wloc) - 1))
    hit = (cand.join(targets, on=keys + ["__b"])
           .where(F.col("__lr") == F.col("__rf") - F.col("__cum"))
           .select(*keys, "__r", F.col("__v").alias("__rv")))
    # rank_vals is referenced TWICE below (the jl and jh joins): without
    # truncation the hit subtree — candidate semi-join, per-bin window
    # sort AND its fact scan — is inlined into the final plan twice
    # (measured: 3 parquet scans / 52 Exchanges in q115's plan).  The
    # table is ≤ groups × 2·|qs| rows — label-sized, safe to store.
    rank_vals = hit.unionByName(direct).localCheckpoint(eager=False)
    lo_vals = rank_vals.select(
        *keys, F.col("__r").alias("__jl"), F.col("__rv").alias("__vlo"))
    hi_vals = rank_vals.select(
        *keys, F.col("__r").alias("__jh"), F.col("__rv").alias("__vhi"))
    res = (ranks.join(lo_vals, on=keys + ["__jl"], how="left")
           .join(hi_vals, on=keys + ["__jh"], how="left"))
    vlo, vhi, w = F.col("__vlo"), F.col("__vhi"), F.col("__w")
    # w==0 / w==1 short-circuits matter when the spread is infinite:
    # -inf + (inf)*0 would poison an exact order statistic with NaN
    out_val = (F.when(F.col("__n") == 0, F.lit(None).cast("double"))
               .when(F.col("__jl") == F.col("__jh"), vlo)
               .when(vlo == vhi, vlo)
               .when(w == 0, vlo)
               .when(w == 1, vhi)
               .otherwise(_interp_col(vlo, vhi, w, method)))
    return res.select(*keys, F.col("__q").alias("quantile"), out_val.alias(v))


#: driver-side dense-grid ceiling for the dict-style constructor — the
#: xarray idiom builds from IN-MEMORY arrays, so this path is
#: driver-sized by definition; larger data belongs in
#: open_dataset/from_dataframe (already-distributed sources).
_CTOR_MAX_CELLS = 50_000_000


def _construct_from_mapping(data_vars, coords, attrs):
    """Build the long-form parts from the reference's dict-style
    constructor inputs (xarray/core/dataset.py:453 ``Dataset(data_vars,
    coords, attrs)``): dense product grid over the union of dims,
    variables broadcast across dims they lack (the long-form
    representation has one row per grid cell).

    Returns ``(spark_df, dims, coords_map, data_var_names, attrs)``."""
    import numpy as np
    import pandas as pd

    from xarray_spark.coordinates import Coordinates
    from xarray_spark.session import get_spark

    data_vars = dict(data_vars or {})
    if isinstance(coords, Coordinates):
        midx_dims = dict(coords._multi)
        coords_in = dict(coords._data)
    else:
        midx_dims = {}
        coords_in = dict(coords or {})
        for k, v in list(coords_in.items()):
            if isinstance(v, pd.MultiIndex):
                raise ValueError(
                    f"coord {k!r} is a pandas.MultiIndex — wrap it with "
                    "Coordinates.from_pandas_multiindex(midx, dim) (the "
                    "reference removed the implicit form too)")

    dim_sizes: dict = {}

    def norm(name, v, self_dim_ok):
        if isinstance(v, XDataset):
            raise TypeError(
                f"{name!r}: mixing distributed XDataset/XDataArray "
                "variables into the in-memory dict constructor is not "
                "supported — use merge/assign on the datasets instead")
        vat = {}
        if (isinstance(v, tuple) and len(v) in (2, 3)
                and isinstance(v[0], (str, list, tuple))):
            dims = (v[0],) if isinstance(v[0], str) else tuple(v[0])
            arr = np.asarray(v[1])
            if len(v) == 3 and v[2]:
                vat = dict(v[2])
        else:
            arr = np.asarray(v)
            if arr.ndim == 0:
                dims = ()
            elif arr.ndim == 1 and self_dim_ok:
                dims = (name,)
            else:
                raise ValueError(
                    f"{name!r}: pass a (dims, data) tuple for "
                    f"{arr.ndim}-D data")
        if arr.ndim != len(dims):
            raise ValueError(
                f"{name!r}: {len(dims)} dim name(s) for "
                f"{arr.ndim}-D data")
        for d, s in zip(dims, arr.shape):
            if dim_sizes.setdefault(d, s) != s:
                raise ValueError(
                    f"conflicting sizes for dim {d!r}: {s} vs "
                    f"{dim_sizes[d]}")
        return dims, arr, vat

    norm3_vars = {k: norm(k, v, False) for k, v in data_vars.items()}
    norm3_coords = {k: norm(k, v, True) for k, v in coords_in.items()}
    var_attrs = {k: a for k, (_, _, a) in
                 [*norm3_vars.items(), *norm3_coords.items()] if a}
    norm_vars = {k: (d, arr) for k, (d, arr, _) in norm3_vars.items()}
    norm_coords = {k: (d, arr) for k, (d, arr, _) in norm3_coords.items()}
    for d, mi in midx_dims.items():
        if dim_sizes.setdefault(d, len(mi)) != len(mi):
            raise ValueError(f"conflicting sizes for dim {d!r}")

    # dim order: first appearance across data_vars, then coords, then
    # MultiIndex dims (the reference's insertion-order semantics)
    all_dims: list = []
    for dims, _ in [*norm_vars.values(), *norm_coords.values()]:
        for d in dims:
            if d not in all_dims:
                all_dims.append(d)
    for d in midx_dims:
        if d not in all_dims:
            all_dims.append(d)
    if not all_dims and not norm_vars and not norm_coords:
        raise ValueError("cannot construct an empty Dataset this way")

    shape = [dim_sizes[d] for d in all_dims]
    ncells = int(np.prod(shape)) if shape else 1
    if ncells > _CTOR_MAX_CELLS:
        raise ValueError(
            f"dict-style constructor would materialize {ncells:,} grid "
            f"cells driver-side (> {_CTOR_MAX_CELLS:,}); build large "
            "datasets from distributed sources (open_dataset / "
            "from_dataframe) instead")
    if shape:
        mesh = np.meshgrid(*[np.arange(s) for s in shape], indexing="ij")
        pos = {d: m.ravel() for d, m in zip(all_dims, mesh)}
    else:
        pos = {}

    cols: dict = {}
    coords_map: dict = {}
    struct_dims: dict = {}  # dim -> level names (built post-Spark)
    for d in all_dims:
        if d in midx_dims:
            mi = midx_dims[d]
            for name in mi.names:
                cols[name] = np.asarray(mi.get_level_values(name))[pos[d]]
                coords_map[name] = (d,)
            struct_dims[d] = list(mi.names)
        elif d in norm_coords and norm_coords[d][0] == (d,):
            cols[d] = norm_coords[d][1][pos[d]]
        else:
            cols[d] = pos[d]  # positional integer labels, like xarray
    for name, (dims, arr) in norm_coords.items():
        if dims == (name,) and name in all_dims:
            continue  # dim coord, already placed
        if dims == ():
            cols[name] = np.full(ncells, arr[()])
        else:
            cols[name] = arr[tuple(pos[d] for d in dims)]
        coords_map[name] = dims
    var_names = []
    for name, (dims, arr) in norm_vars.items():
        if name in cols:
            raise ValueError(f"name collision on {name!r}")
        if dims == ():
            cols[name] = np.full(ncells, arr[()])
        else:
            cols[name] = arr[tuple(pos[d] for d in dims)]
        var_names.append(name)

    pdf = pd.DataFrame(
        {k: (v if np.ndim(v) else [v] * max(ncells, 1)) for k, v in cols.items()})
    sdf = get_spark().createDataFrame(pdf)
    for d, levels in struct_dims.items():
        sdf = sdf.withColumn(d, F.struct(*[F.col(lv) for lv in levels]))
    var_dims = {name: dims for name, (dims, _) in norm_vars.items()
                if tuple(dims) != tuple(all_dims)}
    out_attrs = dict(attrs or {})
    if var_attrs:
        # per-variable attrs ride in the catalog like set_var_attrs'
        out_attrs["__var__"] = {**out_attrs.get("__var__", {}),
                                **var_attrs}
    return sdf, all_dims, coords_map, var_names, out_attrs, var_dims


class XDataset:
    """A labeled, multi-variable distributed dataset (xarray.Dataset analogue).

    Parameters
    ----------
    df : DataFrame
        Long-form fact table.
    dims : sequence of str
        Dimension key column names, in order.
    coords : mapping coord name -> tuple of dims it is keyed by
        Non-dimension coordinates (extra label columns carried through).
    data_vars : sequence of str, optional
        Value columns.  Defaults to every column that is not a dim/coord.
    attrs : dict, optional
    """

    __slots__ = ("df", "dims", "coords", "data_vars", "attrs", "_close_fn",
                 "_qscan_cache", "_label_table_cache", "var_dims")

    def __init__(
        self,
        df: DataFrame | None = None,
        dims: Sequence[str] | None = None,
        coords: Mapping[str, Sequence[str]] | None = None,
        data_vars: Sequence[str] | None = None,
        attrs: dict | None = None,
    ):
        vd: dict = {}
        if not isinstance(df, DataFrame):
            # reference dict-style constructor: Dataset(data_vars,
            # coords, attrs) over in-memory arrays (core/dataset.py:453).
            # Positional reference calls put coords in our `dims` slot —
            # a Mapping/Coordinates there is unambiguous — and the
            # keyword form lands the mapping in the `data_vars` slot.
            from xarray_spark.coordinates import Coordinates
            if df is None and isinstance(data_vars, Mapping):
                df, data_vars = data_vars, None
            if coords is None and isinstance(dims, (Mapping, Coordinates)):
                dims, coords = None, dims
            if dims is not None or data_vars is not None:
                raise TypeError(
                    "dict-style constructor takes (data_vars, coords, "
                    "attrs); dims are inferred from the variables")
            df, dims, coords, data_vars, attrs, vd = _construct_from_mapping(
                df, coords, attrs)
        elif dims is None:
            raise TypeError("dims are required when constructing from a "
                            "Spark DataFrame")
        self.df = df
        self.dims: tuple[str, ...] = tuple(dims)
        self.coords: dict[str, tuple[str, ...]] = {
            k: tuple(v) for k, v in (coords or {}).items()
        }
        # fail fast on catalog/DataFrame drift (the engine analogue of
        # xarray's _assert_internal_invariants, testing/assertions.py:499)
        cols = set(df.columns)
        missing = [d for d in self.dims if d not in cols]
        missing += [c for c in self.coords if c not in cols]
        if missing:
            raise ValueError(
                f"dims/coords {missing} are not columns of the DataFrame "
                f"(has {sorted(cols)})"
            )
        if data_vars is None:
            reserved = set(self.dims) | set(self.coords)
            data_vars = [c for c in df.columns if c not in reserved]
        self.data_vars: tuple[str, ...] = tuple(data_vars)
        self.attrs: dict = dict(attrs or {})
        #: optional {var: own-dims tuple} for vars the dict constructor
        #: BROADCAST across missing dims — lets reductions leave
        #: non-participating vars untouched like the reference.  Empty
        #: (the default) means every var spans all dims (the long-form
        #: contract for distributed sources).
        self.var_dims: dict[str, tuple[str, ...]] = dict(vd)

    # ------------------------------------------------------------------ #
    # plumbing
    # ------------------------------------------------------------------ #

    def _replace(
        self,
        df: DataFrame | None = None,
        dims: Sequence[str] | None = None,
        coords: Mapping[str, Sequence[str]] | None = None,
        data_vars: Sequence[str] | None = None,
        attrs: dict | None = None,
        var_dims: Mapping[str, tuple] | None = None,
    ) -> "XDataset":
        out = type(self)(
            self.df if df is None else df,
            self.dims if dims is None else dims,
            self.coords if coords is None else coords,
            self.data_vars if data_vars is None else data_vars,
            self.attrs if attrs is None else attrs,
        )
        # broadcast-var metadata rides along; dim/var-renaming ops pass
        # a remapped var_dims= explicitly (stale entries otherwise fail
        # OPEN — a renamed dim defeats the own-dims ⊆ dims guard), and
        # the remaining subset check is a last-resort safety net only
        out.var_dims = (dict(getattr(self, "var_dims", {}) or {})
                        if var_dims is None else dict(var_dims))
        return out

    def _bcast_passthrough(self, dims) -> set:
        """Data vars a dims-targeted op must leave UNTOUCHED: the
        reference applies along-dim operators (rolling/cum*/shift/diff/
        integrate/coarsen…) per variable over ``[d for d in dims if d
        in var.dims]`` — a dict-constructor broadcast var that lacks
        every operated dim passes through unchanged instead of
        accumulating its duplicated long-form copies."""
        out = set()
        for v, own in (self.var_dims or {}).items():
            if (v in self.data_vars and set(own) <= set(self.dims)
                    and not set(own) & set(dims)):
                out.add(v)
        return out

    def _vd_after_reduce(self, reduced, keep) -> dict:
        """var_dims surviving a reduction: each valid entry loses its
        reduced dims; entries that now span every kept dim drop out."""
        out = {}
        for v, own in (self.var_dims or {}).items():
            if not set(own) <= set(self.dims):
                continue  # stale — never carry forward
            new_own = tuple(d for d in own if d not in reduced)
            if set(new_own) != set(keep):
                out[v] = new_own
        return out

    def _vd_after_quantile(self, reduced, keep) -> dict:
        """var_dims after quantile(): the result gains a 'quantile' dim.
        A var with any overlap with the reduced set went through the
        var-level quantile, so its values vary per quantile — prepend
        'quantile' to its surviving own dims.  A no-overlap var is left
        untouched by the reference (xarray core/dataset.py:8387-8403);
        here its value is replicated along the new dim, so it keeps an
        explicit entry WITHOUT 'quantile' even when its surviving own
        dims equal the kept dims."""
        out = {}
        for v, own in (self.var_dims or {}).items():
            if not set(own) <= set(self.dims):
                continue  # stale — never carry forward
            new_own = tuple(d for d in own if d not in reduced)
            if set(own) & set(reduced):
                if set(new_own) != set(keep):
                    out[v] = ("quantile",) + new_own
            else:
                out[v] = new_own
        return out

    @property
    def spark(self) -> SparkSession:
        return self.df.sparkSession

    def __repr__(self) -> str:
        return (
            f"<XDataset dims={list(self.dims)} coords={list(self.coords)} "
            f"data_vars={list(self.data_vars)}>"
        )

    def __getattr__(self, name: str):
        # xarray attribute access: ds.varname ≡ ds["varname"]
        # (__getattr__ only fires when normal lookup fails, so the
        # catalog attributes themselves never route through here)
        if name.startswith("_"):
            raise AttributeError(name)
        try:  # slotted class: read the catalog without re-entering here
            names = (object.__getattribute__(self, "data_vars")
                     + tuple(object.__getattribute__(self, "coords"))
                     + object.__getattribute__(self, "dims"))
        except AttributeError:  # mid-__init__
            raise AttributeError(name) from None
        if name in names:
            return self[name]
        raise AttributeError(name)

    def __setitem__(self, key: str, value) -> None:
        """In-place variable assignment (xarray Dataset.__setitem__):
        accepts a Column / scalar / SQL string like assign, or the
        positional ("dim", values) tuple form."""
        if (isinstance(value, tuple) and len(value) == 2
                and not isinstance(value, Column)):
            new = self.assign_coords(**{key: value})
            # tuple-form __setitem__ creates a DATA var, not a coord
            new = new._replace(
                coords={k: v for k, v in new.coords.items() if k != key},
                data_vars=list(new.data_vars) + [key])
        else:
            new = self.assign(**{key: value})
        self.df = new.df
        self.dims = new.dims
        self.coords = new.coords
        self.data_vars = new.data_vars
        self.attrs = new.attrs

    def __getitem__(self, name: str) -> "XDataArray":
        if name not in self.data_vars and name not in self.coords and name not in self.dims:
            raise KeyError(name)
        if name in self.data_vars:
            keep = list(self.dims) + [c for c in self.coords] + [name]
            return XDataArray(
                self.df.select(*keep), self.dims, self.coords, [name], self.attrs
            )
        # a coord/dim requested as an array
        keep = list(self.dims) + [name] if name not in self.dims else list(self.dims)
        df = self.df.select(*dict.fromkeys(keep))
        return XDataArray(df, self.dims, {}, [name] if name not in self.dims else [name], self.attrs)

    def __delitem__(self, key: str) -> None:
        """In-place variable removal (xarray Dataset.__delitem__)."""
        new = self.drop_vars(key)
        self.df = new.df
        self.dims = new.dims
        self.coords = new.coords
        self.data_vars = new.data_vars
        self.attrs = new.attrs

    def __contains__(self, name: str) -> bool:
        return name in self.data_vars or name in self.coords or name in self.dims

    # Mapping-of-DataArrays interface (xarray.Dataset is a
    # Mapping[Hashable, DataArray], core/dataset.py:202)
    def __len__(self) -> int:
        return len(self.data_vars)

    def __iter__(self):
        return iter(self.data_vars)

    def keys(self):
        return iter(self.data_vars)

    def values(self):
        return (self[v] for v in self.data_vars)

    def items(self):
        return ((v, self[v]) for v in self.data_vars)

    @property
    def sizes(self) -> dict[str, int]:
        """Materialized dim sizes (an action; xarray .sizes)."""
        return self.dim_sizes()

    @property
    def loc(self) -> "_LocIndexer":
        """Label-dict selection: ``ds.loc[{'x': 3}]``
        (xarray _LocIndexer, core/dataarray.py:230)."""
        return _LocIndexer(self)

    def _coords_on(self, dims: Iterable[str]) -> dict[str, tuple[str, ...]]:
        """Coords fully keyed by the given dim subset (survivors of a reduction)."""
        dimset = set(dims)
        return {k: v for k, v in self.coords.items() if set(v) <= dimset}

    def _check_dims(self, dims: Iterable[str]) -> None:
        for d in dims:
            if d not in self.dims:
                raise ValueError(f"dimension {d!r} not in {self.dims}")

    def _check_selectable(self, names: Iterable[str]) -> None:
        """sel/isel work on dims AND (indexed) coords — in long form both
        are just key columns (xarray: any indexed coordinate is
        selectable, core/indexes.py)."""
        for n in names:
            if n not in self.df.columns:
                raise ValueError(f"{n!r} is not a column of the dataset")

    def _norm_dim_arg(self, dim) -> list[str]:
        if dim is None or dim is Ellipsis:
            return list(self.dims)
        if isinstance(dim, str):
            dims = [dim]
        else:
            dims = list(dim)
        self._check_dims(dims)
        return dims

    # ------------------------------------------------------------------ #
    # dim label tables — the index layer (xarray/core/indexes.py analogue)
    # ------------------------------------------------------------------ #

    def _dim_labels(self, dim: str) -> DataFrame:
        """Small DataFrame of (label, pos, size) for one dim.

        ``pos`` is the dense ordinal of the label in sort order — the
        engine's positional invariant (SURVEY.md §4 item 3).  The distinct
        projection is tiny next to the fact table, so downstream joins on
        it are broadcast.

        Positions come from a two-phase rank (range partition → local
        row_number → broadcast offset join, _utils.two_phase_rank), not a
        partition-less global window: a high-cardinality dim (minute-grain
        time at 100 TB) would funnel through one task otherwise.
        """
        try:
            cache = self._label_table_cache
        except AttributeError:
            cache = {}
            self._label_table_cache = cache
        if dim in cache:
            return cache[dim]
        from xarray_spark._utils import two_phase_rank
        labels = self.df.select(dim).where(F.col(dim).isNotNull()).distinct()
        # the per-instance memo shares the DataFrame across call sites
        # within one operator chain.  Deliberately NOT checkpointed:
        # label-table references land as PARALLEL stages inside one
        # action, where duplicate recompute is nearly free on idle
        # cores while a checkpoint adds a serialization barrier —
        # measured cold regressions q105 +40% / q03 +19% with
        # materialize=True vs wins only where references span
        # SEQUENTIAL eager jobs (concat/align/merge inputs, which ARE
        # materialized — see materialize_if_derived call sites)
        ranked = two_phase_rank(labels, dim)
        out = ranked.select(
            dim,
            F.col("__rnk").alias("__pos"),
            F.col("__n").alias("__size"),
        )
        cache[dim] = out
        return out

    def dim_sizes(self) -> dict[str, int]:
        """Materialized dim sizes (action)."""
        row = self.df.agg(
            *[F.countDistinct(d).alias(d) for d in self.dims]
        ).collect()[0]
        return row.asDict()

    # ------------------------------------------------------------------ #
    # selection (xarray/core/dataset.py:2997 sel, :2801 isel)
    # ------------------------------------------------------------------ #

    def sel(
        self,
        indexers: Mapping[str, Any] | None = None,
        method: str | None = None,
        tolerance: float | None = None,
        drop: bool = False,
        **indexers_kwargs,
    ) -> "XDataset":
        """Label-based selection.

        Values may be scalars, lists, or ``slice`` objects.  Label slices
        are inclusive on BOTH ends (xarray semantics,
        xarray/core/dataset.py:3018).  ``method`` in {None, 'nearest',
        'ffill'/'pad', 'bfill'/'backfill'} resolves inexact matches via an
        as-of match against the dim's label table.
        """
        indexers = {**(indexers or {}), **indexers_kwargs}
        self._check_selectable(indexers)
        out = self
        # registered index strategies (set_xindex(index_cls=…)) claim
        # their coords' requests first; the rest take the default path
        strategies = (self.attrs or {}).get("_xindex_strategies", ())
        for strategy in strategies:
            mine = {k: indexers.pop(k) for k in list(indexers)
                    if k in strategy.coord_names}
            if mine:
                out = strategy.sel(out, mine, method, tolerance)
        for dim, value in indexers.items():
            out = out._sel_one(dim, value, method, tolerance, drop)
        return out

    def _demote_dim(self, dim: str, drop: bool) -> "XDataset":
        """Collapse a scalar-selected dim: xarray KEEPS it as a scalar
        coordinate (drop=False, the default) and only removes it under
        drop=True (xarray/core/dataset.py:3003 sel drop param).  In long
        form a scalar coord is a constant column recorded in ``coords``
        with an EMPTY dims tuple; coords formerly keyed on the collapsed
        dim become scalar coords themselves."""
        if drop:
            return self._drop_dim(dim)
        if dim not in self.dims:
            if dim in self.coords:
                coords = dict(self.coords)
                coords[dim] = ()
                return self._replace(coords=coords)
            return self
        new_coords = {k: tuple(d for d in v if d != dim)
                      for k, v in self.coords.items()}
        new_coords[dim] = ()
        return self._replace(dims=[d for d in self.dims if d != dim],
                             coords=new_coords)

    def _sel_bound(self, dim: str, value, side: str):
        """Slice-bound condition; ISO8601 prefix strings on temporal dims
        expand to the containing period (pandas partial-string slicing:
        slice('1995-01', '1995-03') covers Jan 1 through Mar 31)."""
        from xarray_spark._utils import is_temporal, parse_iso8601_prefix
        if isinstance(value, str) and is_temporal(self.df.schema[dim].dataType):
            parsed = parse_iso8601_prefix(value)
            if parsed is not None:
                start, end, _res = parsed
                if side == "start":
                    return F.col(dim) >= F.lit(start)
                return F.col(dim) < F.lit(end)
        op = (F.col(dim) >= F.lit(value)) if side == "start" else (F.col(dim) <= F.lit(value))
        return op

    def _sel_one(self, dim: str, value, method, tolerance,
                 drop: bool = False) -> "XDataset":
        from xarray_spark._utils import is_temporal, parse_iso8601_prefix
        if (isinstance(value, tuple)
                and isinstance(self.df.schema[dim].dataType, T.StructType)):
            # selecting on a stacked dim by label tuple
            # (xarray multiindex sel): tuple -> struct literal
            fields = self.df.schema[dim].dataType.fields
            if len(value) != len(fields):
                raise KeyError(
                    f"stacked dim {dim!r} has {len(fields)} levels, "
                    f"got a {len(value)}-tuple")
            value = F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                               for v, f in zip(value, fields)])
            return self._replace(df=self.df.where(F.col(dim) == value))
        scalar = not isinstance(value, (list, tuple, slice)) and not hasattr(value, "__len__") or isinstance(value, str)
        if method is None:
            if isinstance(value, slice):
                # a negative step reverses the bound roles: slice(hi, lo,
                # -k) ranges from hi DOWN to lo (pandas .loc semantics),
                # so .start is the UPPER bound and .stop the LOWER one
                reverse = value.step is not None and int(value.step) < 0
                cond = F.lit(True)
                if value.start is not None:
                    cond = cond & self._sel_bound(
                        dim, value.start, "stop" if reverse else "start")
                if value.stop is not None:
                    cond = cond & self._sel_bound(
                        dim, value.stop, "start" if reverse else "stop")
                df = self.df.where(cond)
                if value.step is not None:
                    # every step-th label of the in-range label table
                    # (xarray core/dataset.py:3018 slice semantics):
                    # positive step anchors at the FIRST in-range label,
                    # negative step at the LAST (pandas .loc[b:a:-k] —
                    # every |k|-th label counting down from the top of
                    # the range); positions from the broadcast label table
                    step = int(value.step)
                    if step == 0:
                        raise ValueError("label slice step cannot be zero")
                    labels = self._dim_labels(dim).where(cond)
                    if step > 0:
                        base = labels.withColumn(
                            "__p0", F.min("__pos").over(Window.partitionBy())
                        )
                        keep = base.where(
                            (F.col("__pos") - F.col("__p0")) % step == 0
                        ).select(dim)
                    else:
                        base = labels.withColumn(
                            "__p1", F.max("__pos").over(Window.partitionBy())
                        )
                        keep = base.where(
                            (F.col("__p1") - F.col("__pos")) % (-step) == 0
                        ).select(dim)
                    df = df.join(F.broadcast(keep), on=dim, how="left_semi")
                return self._replace(df=df)
            if isinstance(value, (list, tuple)):
                return self._replace(df=self.df.where(F.col(dim).isin(list(value))))
            if isinstance(value, str) and is_temporal(self.df.schema[dim].dataType):
                # ISO8601 partial-string selection (pandas/xarray
                # partial datetime indexing; xarray coding/times.py
                # parse_iso8601_like): a coarse prefix selects the whole
                # period and KEEPS the dim; a full-resolution string is
                # an exact scalar match and drops it.
                parsed = parse_iso8601_prefix(value)
                if parsed is not None:
                    start, end, res = parsed
                    if res == "second":
                        out = self._replace(
                            df=self.df.where(F.col(dim) == F.lit(start)))
                        return out._demote_dim(dim, drop)
                    return self._replace(df=self.df.where(
                        (F.col(dim) >= F.lit(start)) & (F.col(dim) < F.lit(end))))
            # scalar: filter; the dim collapses to a scalar coord
            # (removed entirely only under drop=True — xarray parity)
            out = self._replace(df=self.df.where(F.col(dim) == F.lit(value)))
            return out._demote_dim(dim, drop)
        # inexact matching: resolve requested labels against the label table
        req = [value] if scalar else list(value)
        if not scalar and len(req) > 128:
            # scale path: a 10^6-request list must not round-trip through
            # the driver — resolve request→label with the same broadcast
            # as-of map reindex uses (alignment.py) and semi-join the
            # fact table on the matched labels.  No collect.
            from xarray_spark.alignment import _asof_label_map
            from xarray_spark._utils import local_df
            req_df = local_df(self.spark, [(r,) for r in req], [dim])
            matched = _asof_label_map(self, dim, req_df, method, tolerance)
            # reference parity: unmatched requests fail ("not all values
            # found in index").  The check rides IN the plan (raise_error
            # on a null match) so building the selection runs zero driver
            # jobs (plan-guard: tests/test_plans.py) — divergences from
            # the reference, documented: the error surfaces at ACTION
            # time as a SparkRuntimeException rather than an eager
            # KeyError, and duplicate matches collapse to one row
            # (distinct + semi-join keeps the fact table un-duplicated
            # where the reference repeats the label per request).
            dt_dim = self.df.schema[dim].dataType
            checked = F.when(
                F.col("__match").isNull(),
                F.raise_error(F.lit(
                    f"KeyError: not all values found in index {dim!r} "
                    f"with method={method!r}")).cast(dt_dim),
            ).otherwise(F.col("__match"))
            keep = matched.select(checked.alias(dim)).distinct()
            return self._replace(
                df=self.df.join(F.broadcast(keep), on=dim, how="left_semi"))
        matched = self._asof_match_labels(dim, req, method, tolerance)
        if scalar:
            if not matched:
                raise KeyError(f"no label matching {value!r} on {dim!r}")
            out = self._replace(df=self.df.where(F.col(dim) == F.lit(matched[0])))
            return out._demote_dim(dim, drop)
        if len(matched) < len(req):
            raise KeyError(
                f"not all values found in index {dim!r} with method={method!r}")
        return self._replace(df=self.df.where(F.col(dim).isin(matched)))

    def _asof_match_labels(self, dim: str, requests: list, method: str, tolerance) -> list:
        """Resolve requested labels to existing labels (nearest/ffill/bfill).

        Works on the (small) label table: broadcast cross join of the
        request list against distinct labels, keep the best candidate per
        request.  Distributed-safe because both sides are label-sized.
        """
        from xarray_spark._utils import to_double
        spark = self.spark
        dtype = self.df.schema[dim].dataType
        labels = self._dim_labels(dim).select(F.col(dim).alias("__lab"))
        from xarray_spark._utils import local_df
        req_df = local_df(spark, [(r,) for r in requests], ["__req"])
        j = req_df.crossJoin(F.broadcast(labels))
        lab, rq = F.col("__lab"), F.col("__req")
        lab_d, rq_d = to_double(lab, dtype), to_double(rq, dtype)
        if method in ("ffill", "pad"):
            j = j.where(lab <= rq)
            dist = rq_d - lab_d
        elif method in ("bfill", "backfill"):
            j = j.where(lab >= rq)
            dist = lab_d - rq_d
        elif method == "nearest":
            dist = F.abs(lab_d - rq_d)
        else:
            raise ValueError(f"unknown sel method {method!r}")
        if tolerance is not None:
            j = j.where(dist <= F.lit(float(tolerance)))
        # pandas get_indexer(method='nearest') breaks distance ties
        # toward the HIGHER label; pad/backfill ties are impossible
        tie = lab.desc() if method == "nearest" else lab.asc()
        w = Window.partitionBy("__req").orderBy(dist.asc(), tie)
        best = j.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
        rows = best.select("__req", "__lab").collect()
        got = {r["__req"]: r["__lab"] for r in rows}
        return [got[r] for r in requests if r in got]

    def isel(self, indexers: Mapping[str, Any] | None = None,
             drop: bool = False, missing_dims: str = "raise",
             **indexers_kwargs) -> "XDataset":
        """Positional selection: int, slice, or list of ints per dim.

        Positions come from the broadcast label table (dense rank of label
        order) — the fact table itself is only filtered, never sorted.
        An int indexer collapses the dim to a scalar coord (removed under
        ``drop=True``); ``missing_dims`` in {'raise','warn','ignore'}
        governs indexers naming absent dims (xarray
        core/dataset.py:3003).
        """
        indexers = {**(indexers or {}), **indexers_kwargs}
        indexers = self._apply_missing_dims(indexers, missing_dims)
        self._check_selectable(indexers)
        out = self
        for dim, value in indexers.items():
            out = out._isel_one(dim, value, drop)
        return out

    def _apply_missing_dims(self, indexers: dict, missing_dims: str) -> dict:
        if missing_dims not in ("raise", "warn", "ignore"):
            raise ValueError(
                f"missing_dims must be 'raise', 'warn' or 'ignore', "
                f"got {missing_dims!r}")
        absent = [d for d in indexers if d not in self.df.columns]
        if not absent:
            return indexers
        if missing_dims == "raise":
            raise ValueError(
                f"Dimensions {absent} do not exist. Expected one or more "
                f"of {list(self.dims)}")
        if missing_dims == "warn":
            import warnings
            warnings.warn(
                f"Dimensions {absent} do not exist. Expected one or more "
                f"of {list(self.dims)}", UserWarning, stacklevel=3)
        return {k: v for k, v in indexers.items() if k not in absent}

    def _isel_one(self, dim: str, value, drop: bool = False) -> "XDataset":
        import numpy as _np
        if isinstance(value, (list, tuple, _np.ndarray)):
            arr = _np.asarray(value)
            if arr.dtype == bool:
                # boolean-mask indexer (xarray isel accepts masks):
                # positions where True
                value = [int(i) for i in _np.nonzero(arr)[0]]
        labels = self._dim_labels(dim)
        pos, size = F.col("__pos"), F.col("__size")
        norm = lambda i: F.when(F.lit(i) < 0, size + F.lit(i)).otherwise(F.lit(i))  # noqa: E731
        collapsed = False
        if isinstance(value, int):
            sel = labels.where(pos == norm(value))
            collapsed = True
        elif isinstance(value, slice):
            if value.step is not None and value.step < 0:
                # negative step anchors at the END (Python slice
                # semantics: default start is n-1, stop is exclusive
                # going DOWN) — wave-29 diff find: the positive-step
                # predicate anchored at 0 picked the wrong position set
                # Python clamps an out-of-range start DOWN to n-1 for
                # negative steps (slice.indices) — the step anchor and
                # the bound must use the clamped value
                start = (size - F.lit(1)) if value.start is None \
                    else F.least(norm(value.start), size - F.lit(1))
                cond = pos <= start
                if value.stop is not None:
                    cond = cond & (pos > norm(value.stop))
                cond = cond & ((start - pos) % F.lit(-value.step) == 0)
            else:
                cond = F.lit(True)
                if value.start is not None:
                    cond = cond & (pos >= norm(value.start))
                if value.stop is not None:
                    cond = cond & (pos < norm(value.stop))
                if value.step is not None:
                    # Python clamps a below-range start UP to 0 for
                    # positive steps (slice.indices: max(n+start, 0)) —
                    # without the clamp the modulo anchors off-grid
                    # (hypothesis find: n=1, slice(-2, None, 2))
                    start = F.lit(0) if value.start is None \
                        else F.greatest(norm(value.start), F.lit(0))
                    cond = cond & ((pos - start) % F.lit(value.step) == 0)
            sel = labels.where(cond)
        elif isinstance(value, (list, tuple)):
            arr = F.array(*[norm(i) for i in value])
            sel = labels.where(F.array_contains(arr, pos))
        else:
            raise TypeError(f"isel indexer for {dim!r}: {type(value)}")
        df = self.df.join(F.broadcast(sel.select(dim)), on=dim, how="left_semi")
        out = self._replace(df=df)
        return out._demote_dim(dim, drop) if collapsed else out

    def _drop_dim(self, dim: str) -> "XDataset":
        """Remove a dim/coord column after a scalar selection collapsed it."""
        if dim in self.coords:
            keep_cols = [c for c in self.df.columns if c != dim]
            return self._replace(
                df=self.df.select(*keep_cols),
                coords={k: v for k, v in self.coords.items() if k != dim},
            )
        dead_coords = [k for k, v in self.coords.items() if dim in v]
        keep_cols = [c for c in self.df.columns if c != dim and c not in dead_coords]
        return self._replace(
            df=self.df.select(*keep_cols),
            dims=[d for d in self.dims if d != dim],
            coords={k: v for k, v in self.coords.items() if k not in dead_coords},
        )

    def _count_indexers(self, indexers, kw, default=None):
        """head/tail/thin accept a mapping, an int (applied to every
        dim), or nothing (reference default 5)."""
        if isinstance(indexers, int):
            return {d: indexers for d in self.dims}
        merged = {**(indexers or {}), **kw}
        if not merged and default is not None:
            return {d: default for d in self.dims}
        return merged

    def head(self, indexers=None, **kw) -> "XDataset":
        indexers = self._count_indexers(indexers, kw, default=5)
        return self.isel({d: slice(None, n) for d, n in indexers.items()})

    def tail(self, indexers=None, **kw) -> "XDataset":
        indexers = self._count_indexers(indexers, kw, default=5)
        return self.isel({d: slice(-n, None) for d, n in indexers.items()})

    def thin(self, indexers=None, **kw) -> "XDataset":
        indexers = self._count_indexers(indexers, kw)
        return self.isel({d: slice(None, None, k) for d, k in indexers.items()})

    def squeeze(self, dim: str | None = None, drop: bool = False,
                axis: int | None = None) -> "XDataset":
        """Collapse size-1 dims to scalar coords (columns kept; removed
        under ``drop=True`` — xarray core/dataset.py:4843 squeeze)."""
        if axis is not None:
            if dim is not None:
                raise ValueError("cannot use both 'dim' and 'axis'")
            dims = [self.dims[axis]]
        else:
            dims = [dim] if dim else list(self.dims)
        sizes = self.dim_sizes()
        if dim is not None and sizes.get(dim) != 1:
            raise ValueError(
                f"cannot select a dimension to squeeze out which has "
                f"length greater than one: {dim!r}")
        out = self
        for d in dims:
            if sizes.get(d) == 1:
                out = out._demote_dim(d, drop)
        return out

    def drop_sel(self, indexers=None, errors: str = "raise", **kw) -> "XDataset":
        """Drop rows by label (xarray/core/dataset.py:5938).  Like the
        reference, a label absent from the index raises KeyError unless
        errors='ignore' — one label-table-sized existence check per
        dim (eager, same class as the merge compat checks)."""
        indexers = {**(indexers or {}), **kw}
        self._check_selectable(indexers)
        df = self.df
        for dim, value in indexers.items():
            vals = list(value) if isinstance(value, (list, tuple)) else [value]
            if errors == "raise":
                found = (self.df.select(dim).where(F.col(dim).isin(vals))
                         .distinct().count())
                if found < len(set(vals)):
                    raise KeyError(
                        f"not all values found in index {dim!r}; use "
                        f"errors='ignore' to skip")
            df = df.where(~F.col(dim).isin(vals))
        return self._replace(df=df)

    def drop_isel(self, indexers=None, **kw) -> "XDataset":
        indexers = {**(indexers or {}), **kw}
        out = self
        for dim, value in indexers.items():
            idx = value if isinstance(value, (list, tuple)) else [value]
            labels = out._dim_labels(dim)
            norm = lambda i: F.when(F.lit(i) < 0, F.col("__size") + F.lit(i)).otherwise(F.lit(i))  # noqa: E731
            arr = F.array(*[norm(i) for i in idx])
            sel = labels.where(~F.array_contains(arr, F.col("__pos")))
            out = out._replace(df=out.df.join(F.broadcast(sel.select(dim)), on=dim, how="left_semi"))
        return out

    def drop_vars(self, names: str | Iterable[str],
                  errors: str = "raise") -> "XDataset":
        """Drop variables; a missing name raises unless errors='ignore'
        (xarray/core/dataset.py:5508)."""
        names = [names] if isinstance(names, str) else list(names)
        if errors == "raise":
            have = set(self.df.columns)
            missing = [n for n in names if n not in have]
            if missing:
                raise ValueError(
                    f"These variables cannot be found in this dataset: "
                    f"{missing}")
        new_vars = [v for v in self.data_vars if v not in names]
        new_coords = {k: v for k, v in self.coords.items() if k not in names}
        keep = [c for c in self.df.columns if c not in names or c in self.dims]
        return self._replace(df=self.df.select(*keep), coords=new_coords, data_vars=new_vars)

    def drop_dims(self, dims: str | Iterable[str],
                  errors: str = "raise") -> "XDataset":
        """Drop dims and every variable using them; a missing dim raises
        unless errors='ignore' (xarray/core/dataset.py:5560)."""
        dims = [dims] if isinstance(dims, str) else list(dims)
        if errors == "raise":
            missing = [d for d in dims if d not in self.dims]
            if missing:
                raise ValueError(
                    f"Dataset does not contain the dimensions: {missing}")
        dims = [d for d in dims if d in self.dims]
        out = self
        for d in dims:
            out = out._drop_dim(d)
        return out

    def drop_duplicates(self, dim: str, keep: str = "first") -> "XDataset":
        """Keep one row per duplicated dim label
        (xarray/core/dataset.py:9967).

        Long form carries no positional row order, so xarray's positional
        'first'/'last' is undefined here; the survivor is instead picked by
        a DETERMINISTIC total order over the remaining columns (ascending
        for 'first', descending for 'last') so repeated runs and different
        partitionings always agree.  ``keep=False`` drops EVERY row whose
        label is duplicated (reference parity; wave-29 diff find).
        """
        others = [d for d in self.dims if d != dim]
        if keep is False:
            w0 = Window.partitionBy(*others, dim)
            df = (self.df.withColumn("__ct", F.count(F.lit(1)).over(w0))
                  .where(F.col("__ct") == 1).drop("__ct"))
            return self._replace(df=df)
        tiebreak = [c for c in self.df.columns if c != dim and c not in others]
        order = [
            F.col(c).asc_nulls_last() if keep == "first" else F.col(c).desc_nulls_last()
            for c in tiebreak
        ] or [F.lit(1)]
        w = Window.partitionBy(*others, dim).orderBy(*order)
        df = (
            self.df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        return self._replace(df=df)

    def where(self, cond, other=None, drop: bool = False) -> "XDataset":
        """Mask values where cond is False (xarray/core/common.py:1131).

        ``cond`` is a Column, a SQL string, a callable(XDataset)->Column,
        or a boolean XDataArray (joined in on its dims — the aligned-
        object form of xarray's where).  ``drop=True`` additionally
        removes dim labels where every value is masked (semi-join of
        surviving labels per dim).
        """
        if callable(cond) and not isinstance(cond, Column):
            # reference common.py where: a callable is applied to self
            cond = cond(self)
        if isinstance(cond, XDataset):
            c_da = cond
            c_name = c_da.data_vars[0]
            # join on the cond's dims — they may be dims OR coords here
            # (e.g. masking a fact table by a per-date condition)
            shared = [d for d in c_da.dims if d in self.df.columns]
            if not shared:
                raise ValueError(
                    f"cond dims {c_da.dims} share no key column with {self.dims}"
                )
            extra = [d for d in c_da.dims if d not in self.df.columns]
            if extra:
                raise NotImplementedError(
                    f"where cond carries dims {extra} absent from the "
                    "dataset — broadcast the dataset first (the join "
                    "would otherwise duplicate rows)")
            # INNER label alignment: the reference where routes through
            # apply_ufunc(join='inner') (core/ops.py where_method) — a
            # cond covering a SUBSET of labels drops the others
            # entirely, it does not mask them (probe-confirmed)
            c_df = c_da.df.select(*shared, F.col(c_name).alias("__cond"))
            host = self._replace(
                df=self.df.join(c_df, on=shared, how="inner"))
            out = host.where(
                F.coalesce(F.col("__cond"), F.lit(False)), other, drop)
            out = out._replace(df=out.df.drop("__cond"))
            # vars now vary along the cond's dims (reference broadcast:
            # u(x).where(mask(y)) -> (x, y))
            c_dims = [d for d in shared if d in self.dims]
            vd_out = {}
            for v, vd in out.var_dims.items():
                nd = tuple(dict.fromkeys(list(vd) + c_dims))
                if set(nd) != set(out.dims):
                    vd_out[v] = nd
            out.var_dims = vd_out
            return out
        col = self._as_cond(cond)
        host_df = self.df
        if callable(other) and not isinstance(other, Column):
            # reference common.py where: `other` may be a callable too
            # (round-11 find)
            other = other(self)
        if isinstance(other, XDataset):
            # array-valued replacement (common.py:1131 aligns other):
            # join its single variable in on its dims
            (ovar,) = tuple(other.data_vars)
            odims = [d for d in other.dims if d in self.df.columns]
            if not odims:
                raise ValueError(
                    f"other dims {other.dims} share no key column with {self.dims}")
            odf = other.df.select(*odims, F.col(ovar).alias("__w_other"))
            host_df = host_df.join(odf, on=odims, how="left")
            repl_col = F.col("__w_other")
        elif other is None:
            repl_col = F.lit(None)
        elif isinstance(other, Column):
            repl_col = other
        else:
            repl_col = F.lit(other)
        exprs = []
        for c in self.df.columns:
            if c in self.data_vars:
                exprs.append(F.when(col, F.col(c)).otherwise(repl_col).alias(c))
            else:
                exprs.append(F.col(c))
        df = host_df.select(*exprs)
        out = self._replace(df=df)
        if drop:
            survivors = self.df.where(col)
            for d in self.dims:
                out = out._replace(
                    df=out.df.join(
                        F.broadcast(survivors.select(d).distinct()), on=d, how="left_semi"
                    )
                )
        return out

    def _as_cond(self, cond) -> Column:
        if isinstance(cond, Column):
            return cond
        if isinstance(cond, str):
            return F.expr(cond)
        if callable(cond):
            return cond(self)
        if isinstance(cond, XDataArray):
            # boolean DataArray over same dims: join it in
            raise NotImplementedError("XDataArray cond — pass a Column instead")
        raise TypeError(type(cond))

    def query(self, expr: str | Mapping[str, str] | None = None,
              parser: str = "pandas", engine=None,
              missing_dims: str = "raise", **kw) -> "XDataset":
        """Filter with a SQL expression (xarray/core/dataset.py:9777) —
        Spark SQL *is* the evaluator here.  Float predicates see NaN as
        NULL (dropped by filters, like the reference's NaN-comparisons-
        are-False); the one divergence is negated predicates over
        missing values, where pandas keeps the row (NOT False = True)
        and SQL three-valued logic drops it."""
        if parser not in ("pandas", "python"):
            raise ValueError(f"invalid parser {parser!r}")
        if engine not in (None, "python", "numexpr"):
            raise ValueError(f"invalid engine {engine!r}")
        parts = []
        if isinstance(expr, str):
            parts.append(expr)
        elif isinstance(expr, Mapping):
            parts.extend(expr.values())
        parts.extend(kw.values())
        from xarray_spark._utils import nan_to_null
        df = nan_to_null(self.df, list(self.data_vars), self.df.schema)
        for p in parts:
            df = df.where(F.expr(p))
        return self._replace(df=df)

    def eval(self, statement: str, parser: str = "pandas") -> "XDataset":
        """Evaluate ``name = expression`` over variables
        (xarray/core/dataset.py:9671).  Assignment is detected with a
        lookahead so comparisons (``a == b``, ``a <= b``) route to the
        expression path instead of a bogus assign.  The evaluator is
        Spark SQL (documented divergence: expressions are SQL, not
        pandas-eval syntax); ``parser`` is validated for parity."""
        if parser not in ("pandas", "python"):
            raise ValueError(f"invalid parser {parser!r}")
        import re
        m = re.match(r"^\s*([A-Za-z_]\w*)\s*=(?![=<>!])", statement)
        if m:
            return self.assign(**{m.group(1): F.expr(statement[m.end():].strip())})
        return self._replace(df=self.df.withColumn("__eval", F.expr(statement)),
                             data_vars=list(self.data_vars) + ["__eval"])

    def isin(self, values: Iterable) -> "XDataset":
        """Membership test (xarray/core/common.py:1368 → np.isin):
        NaN never matches — np.isin follows IEEE NaN != NaN — and a
        missing value tests False, never null."""
        import math
        vals = [v for v in values
                if not (isinstance(v, float) and math.isnan(v))]

        def e(name):
            c = F.col(name)
            cond = c.isin(vals) if vals else F.lit(False)
            if isinstance(self.df.schema[name].dataType,
                          (T.FloatType, T.DoubleType)):
                cond = cond & ~F.isnan(c)
            return F.coalesce(cond, F.lit(False))

        exprs = [
            e(c).alias(c) if c in self.data_vars else F.col(c)
            for c in self.df.columns
        ]
        return self._replace(df=self.df.select(*exprs))

    # ------------------------------------------------------------------ #
    # column-wise mutation
    # ------------------------------------------------------------------ #

    def assign(self, variables: Mapping | None = None,
               **kwargs) -> "XDataset":
        """Add/replace data variables; values are Columns, SQL strings, or
        callables(XDataset)->Column (xarray/core/dataset.py:7089).
        Accepts the reference's positional-mapping form too."""
        kwargs = {**(variables or {}), **kwargs}
        df = self.df
        new_vars = list(self.data_vars)
        new_dims = list(self.dims)
        new_vd = dict(self.var_dims or {})
        for name, value in kwargs.items():
            if callable(value) and not isinstance(value, Column):
                value = value(self)
            if isinstance(value, XDataset):
                # callable/aligned-object form returning an
                # XDataArray/XDataset (`assign(w=lambda d: d['v']*2)`):
                # join its single var back on the shared dim columns
                src = value.data_vars[0]
                shared = [d for d in value.dims if d in df.columns]
                extra = [d for d in value.dims if d not in new_dims]
                if extra:
                    # value carries dims self lacks: the result gains
                    # them (reference assign broadcasts the frame along
                    # the new dims) — everything already on the frame
                    # is CONSTANT along them, so record broadcast-var
                    # entries before the row-multiplying join
                    for v in new_vars:
                        new_vd.setdefault(v, tuple(new_dims))
                sub = value.df.select(
                    *shared, *extra, F.col(src).alias(f"__as_{name}"))
                df = (df.join(sub, on=shared, how="left")
                      if shared else df.crossJoin(F.broadcast(sub)))
                df = df.withColumn(name, F.col(f"__as_{name}")) \
                       .drop(f"__as_{name}")
                if extra:
                    new_dims = new_dims + extra
                if set(value.dims) != set(new_dims):
                    new_vd[name] = tuple(value.dims)
                else:
                    new_vd.pop(name, None)
            else:
                if isinstance(value, str):
                    value = F.expr(value)
                if not isinstance(value, Column):
                    value = F.lit(value)
                df = df.withColumn(name, value)
                new_vd.pop(name, None)
            if name not in new_vars and name not in self.coords and name not in self.dims:
                new_vars.append(name)
        new_vd = {v: own for v, own in new_vd.items()
                  if set(own) != set(new_dims)}
        return self._replace(df=df, data_vars=new_vars, dims=new_dims,
                             var_dims=new_vd)

    def assign_coords(self, coords: Mapping | None = None,
                      **kwargs) -> "XDataset":
        kwargs = {**(coords or {}), **kwargs}
        df = self.df
        coords = dict(self.coords)
        out = self
        for name, value in kwargs.items():
            if (isinstance(value, tuple) and len(value) == 2
                    and not isinstance(value, Column)):
                # the xarray idiom assign_coords(k=("t", values)):
                # values are POSITIONAL along the named dim — map them
                # through the broadcast label table (pos → literal)
                dims_spec, vals = value
                dims_spec = ((dims_spec,) if isinstance(dims_spec, str)
                             else tuple(dims_spec))
                if len(dims_spec) != 1:
                    raise NotImplementedError(
                        "tuple-form coords spanning multiple dims")
                d = dims_spec[0]
                lits = [F.lit(v.item() if hasattr(v, "item") else v)
                        for v in list(vals)]
                mapping = out._dim_labels(d).select(
                    F.col(d),
                    F.element_at(F.array(*lits),
                                 (F.col("__pos") + 1).cast("int")).alias(name))
                df = df.drop(name).join(F.broadcast(mapping), on=d, how="left")
                coords[name] = (d,)
                continue
            if callable(value) and not isinstance(value, Column):
                value = value(self)
            if isinstance(value, XDataset):
                # callable/aligned-object form (assign_coords(c=lambda
                # d: d['v'] + 1)) — same join-back as assign (round-11
                # find: F.lit on an XDataArray recursed)
                tmp = self._replace(df=df).assign({name: value})
                df = tmp.df
                coords[name] = tuple(value.dims)
                continue
            if isinstance(value, str):
                value = F.expr(value)
            if not isinstance(value, Column):
                value = F.lit(value)
            df = df.withColumn(name, value)
            coords[name] = tuple(self.dims)
        return self._replace(df=df, coords=coords)

    def assign_attrs(self, **kwargs) -> "XDataset":
        return self._replace(attrs={**self.attrs, **kwargs})

    def assign_var_attrs(self, var: str, **kwargs) -> "XDataset":
        """Per-variable attrs (xarray Variable.attrs,
        core/variable.py:370) — catalog-side, keyed under
        ``attrs['__var__'][var]``."""
        va = dict(self.attrs.get("__var__", {}))
        va[var] = {**va.get(var, {}), **kwargs}
        return self._replace(attrs={**self.attrs, "__var__": va})

    def var_attrs(self, var: str) -> dict:
        return dict(self.attrs.get("__var__", {}).get(var, {}))

    def filter_by_attrs(self, **criteria) -> "XDataset":
        """Keep data vars whose attrs match every criterion
        (xarray/core/dataset.py:8761); values may be callables."""
        keep = []
        for v in self.data_vars:
            va = self.var_attrs(v)
            ok = True
            for k, want in criteria.items():
                have = va.get(k)
                ok &= want(have) if callable(want) else have == want
            if ok:
                keep.append(v)
        drop = [v for v in self.data_vars if v not in keep]
        return self.drop_vars(drop) if drop else self

    def drop_attrs(self, deep: bool = True) -> "XDataset":
        """Strip all metadata (xarray/core/dataset.py:10632).  The long
        form keeps one catalog-level attrs dict (no per-variable attrs
        to preserve), so ``deep`` has no further effect — accepted for
        signature parity."""
        return self._replace(attrs={})

    def pipe(self, func: Callable, *args, **kwargs):
        if isinstance(func, tuple):
            # (callable, "kwarg_name") form (pandas/xarray pipe)
            func, target = func
            if target in kwargs:
                raise ValueError(f"{target} is both pipe target and kwarg")
            kwargs[target] = self
            return func(*args, **kwargs)
        return func(self, *args, **kwargs)

    def map(self, func: Callable[[Column], Column]) -> "XDataset":
        """Apply a column expression builder to every data variable
        (xarray/core/dataset.py:6987)."""
        exprs = [
            func(F.col(c)).alias(c) if c in self.data_vars else F.col(c)
            for c in self.df.columns
        ]
        return self._replace(df=self.df.select(*exprs))

    def rename(self, mapping: Mapping[str, str] | None = None, **kw) -> "XDataset":
        mapping = {**(mapping or {}), **kw}
        for old, new in mapping.items():
            if old not in self.df.columns:
                raise ValueError(
                    f"cannot rename {old!r}: not a variable/dim here")
            if new in self.df.columns and new not in mapping:
                # reference rename refuses to shadow an existing name
                # that is not itself being renamed away
                raise ValueError(
                    f"cannot rename {old!r} to {new!r}: name already exists")
        ren = lambda n: mapping.get(n, n)  # noqa: E731
        # one select with aliases = atomic rename: simultaneous swaps
        # like {a:'b', b:'a'} stay correct (sequential
        # withColumnRenamed would duplicate then clobber)
        df = self.df.select(*[self.df[c].alias(ren(c)) for c in self.df.columns])
        return self._replace(
            df=df,
            dims=[ren(d) for d in self.dims],
            coords={ren(k): tuple(ren(d) for d in v) for k, v in self.coords.items()},
            data_vars=[ren(v) for v in self.data_vars],
            # remap broadcast-var metadata too: an un-remapped entry
            # would fall out of the own-dims ⊆ dims guard and silently
            # aggregate the broadcast duplicates on the next reduction
            var_dims={ren(v): tuple(ren(d) for d in own)
                      for v, own in (self.var_dims or {}).items()},
        )

    rename_dims = rename
    rename_vars = rename

    def set_coords(self, names: str | Iterable[str]) -> "XDataset":
        names = [names] if isinstance(names, str) else list(names)
        coords = dict(self.coords)
        for n in names:
            coords[n] = tuple(self.dims)
        return self._replace(
            coords=coords, data_vars=[v for v in self.data_vars if v not in names]
        )

    def reset_coords(self, names: str | Iterable[str] | None = None,
                     drop: bool = False) -> "XDataset":
        """Demote coords to data vars; ``drop=True`` removes them
        entirely instead (xarray/core/dataset.py:1737)."""
        names = list(self.coords) if names is None else ([names] if isinstance(names, str) else list(names))
        if drop:
            keep = [c for c in self.df.columns if c not in names]
            return self._replace(
                df=self.df.select(*keep),
                coords={k: v for k, v in self.coords.items() if k not in names},
            )
        return self._replace(
            coords={k: v for k, v in self.coords.items() if k not in names},
            data_vars=list(self.data_vars) + [n for n in names if n in self.coords],
        )

    # ------------------------------------------------------------------ #
    # reshape (SURVEY.md §2.8)
    # ------------------------------------------------------------------ #

    def stack(self, **kwargs: Sequence[str]) -> "XDataset":
        """Fold k dims into one composite dim — a struct key column
        (xarray/core/dataset.py:5333; metadata-only in long form)."""
        out = self
        for new_dim, old_dims in kwargs.items():
            old_dims = list(old_dims)
            out._check_dims(old_dims)
            df = out.df.withColumn(new_dim, F.struct(*[F.col(d) for d in old_dims]))
            dims = [d for d in out.dims if d not in old_dims] + [new_dim]
            coords = dict(out.coords)
            for d in old_dims:
                coords[d] = (new_dim,)
            df = df.drop()  # no-op; keep old dim cols as coords
            out = XDataset(df, dims, coords, out.data_vars, out.attrs)
        return out

    def unstack(self, dim: str | None = None, fill_value=None,
                sparse: bool = False) -> "XDataset":
        """Split a stacked struct dim back into its component dims
        (xarray/core/dataset.py:5597).  Long form stays sparse — missing
        combinations are simply absent rows (densify() adds them);
        passing ``fill_value`` densifies the unstacked dims with that
        value (the reference's unstack(fill_value=)).  ``sparse=True``
        (reference: pydata/sparse output) has no meaning here — the
        long form IS the sparse representation; it raises to avoid
        silently pretending."""
        if sparse:
            raise NotImplementedError(
                "unstack(sparse=True): long form is already sparse — "
                "missing combinations are absent rows")
        dims_to_unstack = [dim] if dim else [
            d for d in self.dims if isinstance(self.df.schema[d].dataType, T.StructType)
        ]
        new_fields: list[str] = []
        out = self
        for d in dims_to_unstack:
            dtype = out.df.schema[d].dataType
            if not isinstance(dtype, T.StructType):
                raise ValueError(f"{d!r} is not a stacked dim")
            fields = [f.name for f in dtype.fields]
            df = out.df
            for fname in fields:
                if fname not in df.columns:
                    df = df.withColumn(fname, F.col(f"{d}.{fname}"))
            df = df.drop(d)
            dims = [x for x in out.dims if x != d] + fields
            coords = {k: v for k, v in out.coords.items() if k not in fields}
            coords = {k: tuple(x for x in v if x != d) or tuple(fields) for k, v in coords.items()}
            out = XDataset(df, dims, coords, out.data_vars, out.attrs)
            new_fields.extend(fields)
        if fill_value is not None and new_fields:
            # the reference's unstack is dense: missing label combos
            # materialize as fill_value
            out = out.densify(fill_value=fill_value)
        return out

    def densify(self, dims: Sequence[str] | None = None, fill_value=None) -> "XDataset":
        """Materialize missing dim-label combinations as rows
        (the xarray unstack densification, core/dataset.py:5546
        _unstack_full_reindex): cross-join of the per-dim label tables
        (each tiny, broadcast) left-joined to the data, data vars
        coalesced to fill_value.  Long form stays sparse by default —
        call this only when dense output is wanted."""
        dims = list(dims) if dims else list(self.dims)
        self._check_dims(dims)
        grid = None
        for d in dims:
            labels = self.df.select(d).where(F.col(d).isNotNull()).distinct()
            grid = labels if grid is None else grid.crossJoin(F.broadcast(labels))
        df = grid.join(self.df, on=dims, how="left")
        if fill_value is not None:
            for v in self.data_vars:
                df = df.withColumn(v, F.coalesce(F.col(v), F.lit(fill_value)))
        return self._replace(df=df.select(*self.df.columns))

    def isel_points(self, indexers: Mapping[str, Sequence[int]] | None = None,
                    point_dim: str = "points", **kw) -> "XDataset":
        """Vectorized (pointwise) indexing: parallel position arrays per
        dim produce a NEW dim of picked points (xarray's vectorized
        indexing, core/variable.py:757 _broadcast_indexes_vectorized).

        The indexer tuple list becomes a small DataFrame (point id +
        one position per dim); each dim's broadcast label table maps
        position → label; the fact table is then inner-joined on the
        label tuple.  One broadcast join chain, no shuffle of the fact
        table beyond the final equi-join.
        """
        indexers = {**(indexers or {}), **kw}
        self._check_dims(indexers)
        lens = {len(v) for v in indexers.values()}
        if len(lens) != 1:
            raise ValueError("vectorized indexers must have equal lengths")
        n, = lens
        rows = [(i, *[int(indexers[d][i]) for d in indexers]) for i in range(n)]
        pts = self.spark.createDataFrame(rows, [point_dim] + [f"__p_{d}" for d in indexers])
        for d in indexers:
            labels = self._dim_labels(d).select(
                F.col(d), F.col("__pos").alias(f"__lp_{d}"), F.col("__size").alias(f"__sz_{d}")
            )
            # negative positions wrap (python indexing semantics)
            norm = ((F.col(f"__p_{d}") % F.col(f"__sz_{d}")) + F.col(f"__sz_{d}")) % F.col(f"__sz_{d}")
            pts = pts.join(F.broadcast(labels), norm == F.col(f"__lp_{d}"), "inner") \
                .drop(f"__p_{d}", f"__lp_{d}", f"__sz_{d}")
        df = pts.join(self.df, on=list(indexers), how="inner")
        coords = {**{k: (point_dim,) for k in self.coords},
                  **{k: (point_dim,) for k in indexers}}
        out_cols = [point_dim] + list(self.df.columns)
        return XDataset(
            df.select(*out_cols),
            [point_dim] + [d for d in self.dims if d not in indexers],
            coords,
            self.data_vars,
            self.attrs,
        )

    def transpose(self, *dims: str, missing_dims: str = "raise",
                  transpose_coords: bool = True) -> "XDataset":
        """Reorder dims — metadata only in long form
        (xarray/core/dataset.py:6299).  ``missing_dims`` in
        {'raise','warn','ignore'} governs names absent from the dataset
        (reference transpose signature)."""
        if not dims:
            dims = tuple(reversed(self.dims))
        kept = self._apply_missing_dims(
            {d: None for d in dims if d != "..." and d is not Ellipsis},
            missing_dims)
        dims = tuple(d for d in dims
                     if d in kept or d == "..." or d is Ellipsis)
        if "..." in dims or Ellipsis in dims:
            # ellipsis: every unmentioned dim slots in at its position
            dims = tuple("..." if d is Ellipsis else d for d in dims)
            rest = [d for d in self.dims if d not in dims]
            i = dims.index("...")
            dims = dims[:i] + tuple(rest) + dims[i + 1:]
        elif set(dims) != set(self.dims):
            raise ValueError(
                f"transpose requires all dims (or '...'): asked for "
                f"{list(dims)}, dataset has {list(self.dims)}")
        self._check_dims(dims)
        return self._replace(dims=list(dims))

    def expand_dims(self, dim=None, axis=None,
                    create_index_for_new_dim: bool = True,
                    **kw) -> "XDataset":
        """Add new dims (xarray/core/dataset.py:4535): scalar label or a
        list of labels (cross join against the tiny label list).
        ``axis`` places each new dim at that position of the dims tuple
        (metadata-only in long form); ``create_index_for_new_dim=False``
        records the new dim without treating its column as an index —
        in long form both forms produce the same key column, so the
        flag is accepted for signature parity (the catalog has no
        separate index object to skip)."""
        spec: dict[str, Any] = {}
        if isinstance(dim, str):
            spec[dim] = [0]
        elif isinstance(dim, Mapping):
            spec.update(dim)
        elif isinstance(dim, (list, tuple)):
            for d in dim:
                spec[d] = [0]
        spec.update(kw)
        axes = ([axis] * len(spec) if isinstance(axis, int) or axis is None
                else list(axis))
        if len(axes) != len(spec):
            raise ValueError("lengths of dim and axis should be identical")
        out = self
        for i, ((name, labels), ax) in enumerate(zip(spec.items(), axes)):
            if isinstance(labels, int) and not isinstance(labels, bool):
                # reference: an INTEGER value is the new dim's SIZE —
                # data tiled size times, no coordinate (positional
                # labels 0..n-1 in long form; round-11 find: this was
                # read as a single scalar label)
                labels = list(range(labels))
            if not isinstance(labels, (list, tuple)):
                labels = [labels]
            if len(labels) == 1:
                df = out.df.withColumn(name, F.lit(labels[0]))
            else:
                lab_df = out.spark.createDataFrame([(l,) for l in labels], [name])
                df = out.df.crossJoin(F.broadcast(lab_df))
            dims = list(out.dims)
            # default placement: new dims lead, in the LISTED order
            pos = i if ax is None else (ax if ax >= 0 else len(dims) + 1 + ax)
            if not 0 <= pos <= len(dims):
                raise IndexError(f"axis {ax} out of range for "
                                 f"{len(dims) + 1} dims")
            dims.insert(pos, name)
            vd = getattr(out, "var_dims", {}) or {}
            out = XDataset(df, dims, out.coords, out.data_vars, out.attrs)
            # the reference expands EVERY var with the new dim, so each
            # broadcast var's own-dims gain it (u('x') -> u(('e','x')));
            # the var still lacks its other missing dims
            out.var_dims = {v: tuple(d for d in dims
                                     if d in set(own) | {name})
                            for v, own in vd.items()}
        return out

    def swap_dims(self, mapping: Mapping[str, str] | None = None, **kw) -> "XDataset":
        """Re-key a dim by one of its coords (xarray/core/dataset.py:4428)."""
        mapping = {**(mapping or {}), **kw}
        dims = list(self.dims)
        coords = dict(self.coords)
        data_vars = list(self.data_vars)
        for old, new in mapping.items():
            if new not in self.df.columns:
                raise KeyError(new)
            dims[dims.index(old)] = new
            coords.pop(new, None)
            coords[old] = (new,)
            if new in data_vars:
                # the swapped-to variable becomes the index — it is no
                # longer a data var (reference swap_dims semantics)
                data_vars.remove(new)
        ren = {old: new for old, new in mapping.items()}
        return self._replace(
            dims=dims, coords=coords, data_vars=data_vars,
            var_dims={v: tuple(ren.get(d, d) for d in own)
                      for v, own in (self.var_dims or {}).items()
                      if v in data_vars})

    def sortby(self, variables: str | Sequence[str], ascending: bool = True) -> "XDataset":
        """Sort rows by variables (xarray/core/dataset.py:8273).
        Missing keys — NULL or true NaN — sort LAST in either direction
        (np.argsort/pandas sort_values convention; Spark alone would
        order NaN as the largest value)."""
        if callable(variables) and not isinstance(variables, Column):
            # reference sortby: a callable is applied to self and its
            # result (name(s) / DataArray(s)) sorts the dataset
            variables = variables(self)
        if isinstance(variables, (str, XDataset)):
            variables = [variables]
        host, names = self, []
        for i, v in enumerate(variables):
            if isinstance(v, XDataset):
                tmp = f"__sortby_{i}"
                host = host.assign(**{tmp: v})
                host = host._replace(
                    data_vars=[x for x in host.data_vars if x != tmp])
                names.append(tmp)
            else:
                names.append(v)
        if host is not self:
            out = host.sortby(names, ascending)
            return out._replace(df=out.df.drop(
                *[n for n in names if n.startswith("__sortby_")]))
        keys = []
        for v in names:
            c = F.col(v)
            if isinstance(self.df.schema[v].dataType,
                          (T.FloatType, T.DoubleType)):
                c = F.nanvl(c, F.lit(None))
            keys.append(c)
        if ascending:
            cols = [c.asc_nulls_last() for c in keys]
        else:
            # descending appends notnull flags as the HIGHEST-priority
            # lexsort keys (reference dataset.py:8226, gh-7358): a row
            # missing ANY sort key sorts after every complete row
            cols = [c.isNull().cast("int").asc() for c in keys]
            cols += [c.desc_nulls_last() for c in keys]
        # dim tiebreak for rows with EQUAL sort keys: the reference's
        # stable lexsort keeps positional order ascending and — because
        # descending is implemented as reversed ascending — REVERSED
        # positional order when ascending=False (wave-29 diff find).
        # Positions here are the dim labels; without this the tie order
        # is partition-dependent.
        tieb = [d for d in self.dims if d not in variables]
        cols += [(F.col(d).asc_nulls_last() if ascending
                  else F.col(d).desc_nulls_last()) for d in tieb]
        return self._replace(df=self.df.orderBy(*cols))

    def to_dataarray(self, dim: str = "variable",
                     name: str | None = None) -> "XDataArray":
        """Melt data variables into a new dim (xarray/core/dataset.py:7200)
        — SQL unpivot.  ``name`` renames the melted value variable."""
        id_cols = list(self.dims) + list(self.coords)
        value_name = name if name is not None else "value"
        df = self.df.select(
            *id_cols, F.expr(
                "stack({n}, {args}) as ({dim}, `{val}`)".format(
                    n=len(self.data_vars),
                    # backquote: numeric-like variable names ('0' from a
                    # pivot) would otherwise parse as literals
                    args=", ".join(f"'{v}', cast(`{v}` as double)" for v in self.data_vars),
                    dim=dim, val=value_name,
                )
            )
        )
        return XDataArray(df, [dim] + list(self.dims), self.coords,
                          [value_name], self.attrs)

    def to_dataset_pivot(self, dim: str, value_var: str | None = None) -> "XDataset":
        """Pivot one dim's labels into variables (inverse of to_dataarray)."""
        value_var = value_var or self.data_vars[0]
        others = [d for d in self.dims if d != dim]
        pdf = self.df.groupBy(*others, *[c for c in self.coords if set(self.coords[c]) <= set(others)])
        out = pdf.pivot(dim).agg(F.first(value_var))
        return XDataset(out, others, self._coords_on(others), None, self.attrs)

    # ------------------------------------------------------------------ #
    # reductions (SURVEY.md §2.4; xarray/core/_aggregations.py)
    # ------------------------------------------------------------------ #

    def _agg_numeric_vars(self, funcname: str) -> list[str]:
        if funcname not in _NUMERIC_ONLY:
            return list(self.data_vars)
        out = []
        for v in self.data_vars:
            if _is_numeric(self.df.schema[v].dataType):
                out.append(v)
        return out

    def _reduce(
        self,
        dim,
        exprs_for: Callable[[str], Column],
        funcname: str = "",
        skipna: bool = True,
        keep_attrs: bool | None = None,
        ddof: int = 0,
        _pre=None,
    ) -> "XDataset":
        """Group by the complement dims and aggregate every data var.

        One shuffle; Spark's partial/final hash aggregation is the direct
        analogue of flox's tree reduce (xarray/core/groupby.py:1064).

        ``keep_attrs``: None defers to OPTIONS['keep_attrs'] (True — the
        reference keeps attrs on Dataset reductions by default);
        ``False`` drops them (xarray keep_attrs parity).

        ``_pre``: optional (frame, group_cols, varlist) -> frame hook
        run on each aggregation input BEFORE grouping — the demeaning
        join var/std needs (per-group means attached as ``__mu_<v>``
        columns).  It is applied to the constructor-broadcast dedup
        stages too, so the two-pass exactness discipline covers the
        var_dims frames that previously kept the single-pass formula
        (round-10 fix; the drift class is 4e-6 rel at offset 1e12).
        """
        dims = self._norm_dim_arg(dim)
        keep = [d for d in self.dims if d not in dims]
        coords = self._coords_on(keep)
        varlist = self._agg_numeric_vars(funcname)
        from xarray_spark._utils import nan_to_null
        base = nan_to_null(self.df, varlist, self.df.schema)
        aggs = []
        # broadcast vars whose own dims PARTIALLY overlap the reduced
        # set must aggregate one de-duplicated slice (the reference
        # reduces each var over `[d for d in dims if d in var.dims]` —
        # xarray Dataset.reduce); collect them per own-reduced-dim set
        # and fold each group in below via a dedup-first aggregation.
        partial: dict[tuple, list[str]] = {}
        main_vars: list[str] = []
        for v in varlist:
            own = self.var_dims.get(v)
            if (own is not None and set(own) <= set(self.dims)
                    and set(own) & set(dims) and set(dims) - set(own)):
                own_reduced = tuple(d for d in dims if d in own)
                partial.setdefault(own_reduced, []).append(v)
                continue
            if (own is not None and set(own) <= set(self.dims)
                    and not set(own) & set(dims)):
                # constructor-broadcast var that lacks every reduced
                # dim: the reference reduces it over an EMPTY axis
                # tuple (measured: sum/mean/min/max/prod/median pass
                # the element through — NaN stays NaN; count gives
                # 1/0; std/var give 0 at ddof=0 and nan otherwise;
                # all/any truth-test the element, NaN truthy).  All
                # group copies are identical, so first() renders every
                # case inside the SAME aggregation — no extra pass.
                f = F.first(v)
                if funcname == "count":
                    e = f.isNotNull().cast("long")
                elif funcname in ("std", "var"):
                    # single-element slice: 0 at ddof=0, else nan
                    e = (F.when(f.isNotNull(), F.lit(0.0)) if ddof == 0
                         else F.lit(None).cast("double"))
                elif funcname in ("all", "any"):
                    e = F.when(f.isNull(), F.lit(True)) \
                         .otherwise(f.cast("double") != 0)
                else:
                    e = f
                aggs.append(e.alias(v))
                continue
            e = exprs_for(v)
            if not skipna:
                # null-poisoning: any null in the group -> null result
                e = F.when(F.max(F.col(v).isNull().cast("int")) == 1, F.lit(None)).otherwise(e)
            aggs.append(e.alias(v))
            main_vars.append(v)
        keys = keep + list(coords)
        if aggs:
            frame = (_pre(base, keys, main_vars)
                     if _pre and main_vars else base)
            df = frame.groupBy(*keys).agg(*aggs) if keys else frame.agg(*aggs)
        else:
            df = None
        for own_reduced, group in partial.items():
            # dedup first (one row per unique var cell: keep dims + the
            # var's own reduced dims), then aggregate over own_reduced —
            # the duplicated broadcast copies never enter the statistic.
            sub_keys = keys + [d for d in own_reduced]
            first_aggs = [F.first(v, ignorenulls=False).alias(v)
                          for v in group]
            stage1 = (base.groupBy(*sub_keys).agg(*first_aggs)
                      if sub_keys else base.agg(*first_aggs))
            sub_aggs = []
            for v in group:
                e = exprs_for(v)
                if not skipna:
                    e = F.when(F.max(F.col(v).isNull().cast("int")) == 1,
                               F.lit(None)).otherwise(e)
                sub_aggs.append(e.alias(v))
            sframe = _pre(stage1, keys, group) if _pre else stage1
            stage2 = (sframe.groupBy(*keys).agg(*sub_aggs)
                      if keys else sframe.agg(*sub_aggs))
            if df is None:
                df = stage2
            else:
                # null-safe: groupBy keeps NULL key labels, `=` drops them
                from xarray_spark._utils import null_safe_join
                df = null_safe_join(df, stage2, keys)
        df = df.select(*keys, *varlist)
        return self._replace(df=df, dims=keep, coords=coords,
                             data_vars=varlist,
                             attrs=self._resolve_attrs(keep_attrs),
                             var_dims=self._vd_after_reduce(dims, keep))

    def _resolve_attrs(self, keep_attrs: bool | None) -> dict:
        """keep_attrs=None defers to OPTIONS['keep_attrs']; an EMPTY dict
        result deliberately drops attrs (XDataset treats {} as none)."""
        if keep_attrs is None:
            from xarray_spark.options import OPTIONS
            keep_attrs = OPTIONS["keep_attrs"]
        return dict(self.attrs) if keep_attrs else {}

    def mean(self, dim=None, skipna: bool = True,
             keep_attrs: bool | None = None) -> "XDataset":
        return self._reduce(dim, lambda v: F.avg(v), "mean", skipna,
                            keep_attrs)

    def sum(self, dim=None, skipna: bool = True, min_count: int = 0,
            keep_attrs: bool | None = None) -> "XDataset":
        def e(v):
            s = F.sum(v)
            if min_count > 0:
                return F.when(F.count(v) >= min_count, s)
            # xarray: empty/all-NaN sum is 0 when min_count=0
            return F.coalesce(s, F.lit(0).cast(self.df.schema[v].dataType))
        return self._reduce(dim, e, "sum", skipna, keep_attrs)

    def prod(self, dim=None, skipna: bool = True, min_count: int = 0,
             keep_attrs: bool | None = None) -> "XDataset":
        def e(v):
            p = F.product(v)
            if min_count > 0:
                return F.when(F.count(v) >= min_count, p)
            return F.coalesce(p, F.lit(1.0))
        return self._reduce(dim, e, "prod", skipna, keep_attrs)

    def min(self, dim=None, skipna: bool = True,
            keep_attrs: bool | None = None) -> "XDataset":
        return self._reduce(dim, lambda v: F.min(v), "min", skipna,
                            keep_attrs)

    def max(self, dim=None, skipna: bool = True,
            keep_attrs: bool | None = None) -> "XDataset":
        return self._reduce(dim, lambda v: F.max(v), "max", skipna,
                            keep_attrs)

    def count(self, dim=None, keep_attrs: bool | None = None) -> "XDataset":
        return self._reduce(dim, lambda v: F.count(v), "count",
                            keep_attrs=keep_attrs)

    def _var_demeaned(self, dim, skipna, ddof, keep_attrs,
                      sqrt: bool) -> "XDataset":
        """np-exact var/std: TWO-PASS demeaned like numpy (mean, then
        mean of squared deviations).  Spark's var_pop/var_samp online
        central moments drift with the value offset (measured vs the
        reference: 7e-10 rel at offset 1e8, 4e-6 at 1e12), while the
        demeaned form stays exact — the same class of fix as the
        round-9 weighted-variance and cov/corr rewrites.  One extra
        map-side scan + a keyed join against the per-group means (no
        broadcast hint: the means table is GROUP-count sized, AQE
        picks the strategy — round-10 ADVICE fix).

        Routed through ``_reduce`` with the ``_pre`` demeaning hook,
        so the constructor-broadcast var_dims dedup stages get the
        SAME two-pass exactness (round-10: closed the last single-pass
        hole — the hook demeans each dedup stage's frame too).

        inf semantics match numpy through the arithmetic itself: an
        inf value makes the group mean inf, its own deviation
        inf−inf=NaN, and the NaN propagates through F.sum → NaN."""
        from xarray_spark._utils import null_safe_join
        funcname = "std" if sqrt else "var"

        def pre(frame, group_cols, vl):
            mean_aggs = [F.avg(F.col(v).cast("double")).alias(f"__mu_{v}")
                         for v in vl]
            if group_cols:
                means = frame.groupBy(*group_cols).agg(*mean_aggs)
                return null_safe_join(frame, means, group_cols)
            means = frame.agg(*mean_aggs)
            return frame.crossJoin(F.broadcast(means))

        def e(v):
            vd = F.col(v).cast("double")
            dev = vd - F.col(f"__mu_{v}")
            n = F.count(vd)
            # np.var with ddof >= n is NaN, never an error or a
            # NEGATIVE variance — guard the ANSI division
            out = F.when(n > ddof, F.sum(dev * dev) / (n - F.lit(ddof)))
            return F.sqrt(out) if sqrt else out

        return self._reduce(dim, e, funcname, skipna, keep_attrs,
                            ddof=ddof, _pre=pre)

    def std(self, dim=None, skipna: bool = True, ddof: int = 0,
            keep_attrs: bool | None = None) -> "XDataset":
        # xarray default ddof=0 (population)
        return self._var_demeaned(dim, skipna, ddof, keep_attrs, sqrt=True)

    def var(self, dim=None, skipna: bool = True, ddof: int = 0,
            keep_attrs: bool | None = None) -> "XDataset":
        return self._var_demeaned(dim, skipna, ddof, keep_attrs, sqrt=False)

    def median(self, dim=None, skipna: bool = True,
               keep_attrs: bool | None = None) -> "XDataset":
        dims = self._norm_dim_arg(dim)
        varlist = self._agg_numeric_vars("median")
        has_bcast = any(
            own is not None and set(own) <= set(self.dims)
            and set(dims) - set(own)
            for own in (self.var_dims.get(v) for v in varlist))
        if not [d for d in self.dims if d not in dims] and not has_bcast:
            # full reduction: distributed order-statistic selection instead
            # of the single-buffer SQL `percentile` (see quantile())
            qdf = self._quantile_ungrouped([0.5], varlist, "np_median")
            return self._replace(df=qdf.drop("quantile"), dims=[], coords={},
                                 data_vars=varlist,
                                 attrs=self._resolve_attrs(keep_attrs))
        if skipna or has_bcast:
            # grouped: via quantile() so the buffer-limit guard applies
            # (and, for constructor-broadcast vars, quantile()'s
            # de-duplicating split — duplicates shift rank statistics)
            # internal np_median mode: np.nanmedian's mean-of-middles,
            # which differs from quantile(0.5) at the last ULP
            q = self.quantile(0.5, dim=dim, skipna=skipna,
                              method="np_median")
            mdims = [d for d in q.dims if d != "quantile"]
            # strip 'quantile' from the surviving broadcast-var entries
            # (the dim is dropped here); entries now spanning every
            # kept dim drop out
            mvd = {}
            for v, own in (q.var_dims or {}).items():
                new_own = tuple(d for d in own if d != "quantile")
                if set(new_own) != set(mdims):
                    mvd[v] = new_own
            return q._replace(df=q.df.drop("quantile"), dims=mdims,
                              attrs=self._resolve_attrs(keep_attrs),
                              var_dims=mvd)
        return self._reduce(dim, _median_expr,
                            "median", skipna, keep_attrs)

    def all(self, dim=None, keep_attrs: bool | None = None) -> "XDataset":
        return self._reduce(dim, lambda v: F.bool_and(
            F.col(v).cast("boolean")), "all", keep_attrs=keep_attrs)

    def any(self, dim=None, keep_attrs: bool | None = None) -> "XDataset":
        return self._reduce(dim, lambda v: F.bool_or(
            F.col(v).cast("boolean")), "any", keep_attrs=keep_attrs)

    def quantile(self, q, dim=None, skipna: bool = True, approx: bool = False,
                 method: str = "linear", numeric_only: bool = False,
                 interpolation: str | None = None,
                 keep_attrs: bool | None = None) -> "XDataset":
        """Exact quantile (xarray/core/dataset.py:8237) with the full numpy
        interpolation-``method`` matrix (xarray/core/variable.py:1929).

        Execution strategy by shape:

        - **full reduction** (no surviving dims): distributed
          order-statistic selection — two-phase rank of the values, filter
          to the ≤2 positions each quantile needs, combine.  Never buffers
          the column in one aggregation buffer, so it survives a 100 TB
          ungrouped quantile where SQL ``percentile`` OOMs one task.
        - **grouped**: one of three exact plans, picked by
          :func:`_grouped_quantile_plan` under
          ``OPTIONS['grouped_quantile_plan']`` (``'auto'`` by
          default): sorted-array order statistics for
          EVERY method incl. linear (buffers one GROUP's values — fine
          when groups ≪ executor memory; SQL ``percentile`` is off
          this path since round 9: its internal lerp is the naive
          one-sided form that diverges from numpy under catastrophic
          cancellation), the two-scan midbin selection, or the
          per-group histogram selection.  GroupBy.quantile/median
          run through here too, with the group keys as leading dims.
        - ``approx=True``: ``approx_percentile`` t-digest, any shape —
          the opt-in sketch when groups themselves are huge.
        """
        if interpolation is not None:
            import warnings
            warnings.warn("the 'interpolation' argument is deprecated, "
                          "use 'method'", FutureWarning, stacklevel=2)
            method = interpolation
        qs = [q] if not isinstance(q, (list, tuple)) else list(q)
        _validate_q(qs)
        dims = self._norm_dim_arg(dim)
        keep = [d for d in self.dims if d not in dims]
        coords = self._coords_on(keep)
        varlist = self._agg_numeric_vars("quantile")
        keys = keep + list(coords)
        if not skipna:
            # numpy semantics: ANY NaN in the reduced population poisons
            # every quantile of it.  Compute with skipna, then poison by
            # a group-count-sized (broadcast) nan-flag join.
            out = self.quantile(q, dim=dim, skipna=True, approx=approx,
                                method=method)
            nan_ = lambda v: (F.col(v).isNull()  # noqa: E731
                              | F.isnan(F.col(v).cast("double"))).cast("int")
            flag_aggs = [F.max(nan_(v)).alias(f"__nan_{v}") for v in varlist]
            flags = (self.df.groupBy(*keys).agg(*flag_aggs)
                     if keys else self.df.agg(*flag_aggs))
            # null-safe: a population whose kept label is NULL keeps its row
            from xarray_spark._utils import null_safe_join
            df = null_safe_join(out.df, F.broadcast(flags), keys)
            for v in varlist:
                df = df.withColumn(v, F.when(
                    F.col(f"__nan_{v}") == 1, F.lit(float("nan"))
                ).otherwise(F.col(v)))
            return out._replace(df=df.drop(*[f"__nan_{v}" for v in varlist]),
                                attrs=self._resolve_attrs(keep_attrs))
        vd_special = {}
        for v in varlist:
            own = self.var_dims.get(v)
            if (own is not None and set(own) <= set(self.dims)
                    and set(dims) - set(own)):
                vd_special[v] = tuple(d for d in dims if d in own)
        if vd_special:
            # constructor-broadcast vars: quantiles are rank statistics,
            # so the duplicated copies SHIFT them (unlike mean/min/max)
            # — compute each such var on its de-duplicated slice
            # (reference: each var reduces over own dims only) and join
            # the per-var results back on (quantile + keys).
            parts = []
            normal = [v for v in varlist if v not in vd_special]
            if normal:
                parts.append(self._replace(data_vars=normal, var_dims={})
                             .quantile(q, dim=dim, approx=approx,
                                       method=method))
            for v, own_red in vd_special.items():
                sub_keys = keys + list(own_red)
                sub = self.df.groupBy(*sub_keys).agg(
                    F.first(v, ignorenulls=False).alias(v))
                sub_ds = XDataset(sub, keep + list(own_red), coords, [v])
                parts.append(sub_ds.quantile(q, dim=list(own_red),
                                             approx=approx, method=method))
            from xarray_spark._utils import null_safe_join
            df = parts[0].df
            for p in parts[1:]:
                df = null_safe_join(df, p.df, ["quantile"] + keys)
            df = df.select("quantile", *keys, *varlist)
            return self._replace(df=df, dims=["quantile"] + keep,
                                 coords=coords, data_vars=varlist,
                                 attrs=self._resolve_attrs(keep_attrs),
                                 var_dims=self._vd_after_quantile(dims, keep))
        if not keys and not approx:
            qdf = self._quantile_ungrouped(qs, varlist, method)
            return self._replace(df=qdf, dims=["quantile"], coords={},
                                 attrs=self._resolve_attrs(keep_attrs),
                                 data_vars=varlist,
                                 var_dims=self._vd_after_quantile(dims, keep))
        plan, probe = (_grouped_quantile_plan(self.df, keys,
                                              probe_var=varlist[0])
                       if keys and not approx and varlist
                       else ("buffer", None))
        if plan != "buffer":
            # some group exceeds the buffer limit: either the two-scan
            # fixed-bucket selection (candidate slice fits one task) or
            # the distributed per-group histogram selection — both
            # exact, neither buffers a group in an aggregation buffer
            from functools import reduce as _reduce_fn
            from xarray_spark._utils import null_safe_join
            if plan == "midbin":
                parts = [_grouped_quantile_midbin(
                    self.df, keys, v, qs, method,
                    probe=probe if i == 0 else None)
                    for i, v in enumerate(varlist)]
            else:
                parts = [_grouped_quantile_hist(self.df, keys, v, qs,
                                                method)
                         for v in varlist]
            df = _reduce_fn(
                lambda a, b: null_safe_join(a, b, keys + ["quantile"]),
                parts)
            return self._replace(df=df, dims=["quantile"] + keep,
                                 attrs=self._resolve_attrs(keep_attrs),
                                 coords=coords, data_vars=varlist,
                                 var_dims=self._vd_after_quantile(dims, keep))
        if approx:
            qarr = "array({})".format(", ".join(repr(float(x)) for x in qs))
            aggs = [
                F.expr(f"approx_percentile({v}, {qarr}, 10000)").cast("array<double>").alias(v)
                for v in varlist
            ]
        else:
            # every method per group (incl. linear): order statistics
            # over the group's sorted values.  Spark SQL `percentile`
            # used to serve linear here, but its internal interpolation
            # is the NAIVE one-sided lerp (Percentile.scala
            # `getPercentile`), which diverges from numpy's two-sided
            # `_lerp` under catastrophic cancellation (round-8
            # falsifier) — so linear is routed through the same
            # order-statistic aggregate as the non-linear methods,
            # interpolated by the shared `_lerp_col`.  Same cost class:
            # both buffer one group per aggregation state.
            aggs = []
            for v in varlist:
                arr = F.sort_array(F.collect_list(F.col(v).cast("double")))
                aggs.append(F.array(
                    *[_arr_quantile_expr(arr, x, method, presorted=True)
                      for x in qs]).alias(v))
        from xarray_spark._utils import nan_to_null
        qbase = nan_to_null(self.df, varlist, self.df.schema)
        df = qbase.groupBy(*keys).agg(*aggs) if keys else qbase.agg(*aggs)
        # explode the quantile arrays into a new 'quantile' dim
        qvals = F.array(*[F.lit(float(x)) for x in qs])
        df = df.withColumn("__q", F.arrays_zip(qvals.alias("q"), *[F.col(v).alias(v) for v in varlist]))
        df = df.select(*keys, F.explode("__q").alias("__qs")).select(
            *keys,
            F.col("__qs.q").alias("quantile"),
            *[F.col(f"__qs.{v}").alias(v) for v in varlist],
        )
        return self._replace(df=df, dims=["quantile"] + keep, coords=coords,
                             data_vars=varlist,
                             attrs=self._resolve_attrs(keep_attrs),
                             var_dims=self._vd_after_quantile(dims, keep))

    def _quantile_ungrouped(self, qs: list, varlist: list, method: str) -> DataFrame:
        """Distributed exact quantiles of whole columns — histogram-
        guided selection: (1) one min/max/count aggregate, (2) one
        8192-bin histogram aggregate (map-side partial), (3) collect
        ONLY the rows of the ≤2 bins each order statistic lands in and
        finish locally.  Three cheap scans and zero sort/shuffle of the
        data — a global rank of 100 TB never happens.  The virtual
        positions come from ``np.quantile(arange(n), q, method)``, which
        reduces every numpy method to the same two order statistics.

        Falls back to the two-phase-rank path when a needed bin is
        pathologically heavy (massive value duplication) or the column
        contains non-finite values the binning can't place.
        """
        import math as _math
        import numpy as _np
        from functools import reduce as _reduce_fn

        NB = 8192
        HEAVY = 2_000_000
        # Per-instance scan cache: repeated quantile()/median() calls on
        # the SAME (immutable) XDataset — e.g. the numpy method matrix,
        # one call per method — share the stats aggregate, the histogram
        # and the candidate-bin collect instead of re-running 3 jobs per
        # method.  Plans here are deterministic (no rand()), so reuse is
        # sound; a new instance (any transformation) starts empty.
        try:
            cache = self._qscan_cache
        except AttributeError:
            cache = {}
            self._qscan_cache = cache
        parts = []
        for v in varlist:
            vals = (
                self.df.select(F.col(v).cast("double").alias("__val"))
                .where(F.col("__val").isNotNull() & ~F.isnan("__val"))
            )
            if ("st", v) in cache:
                n, lo, hi = cache[("st", v)]
            else:
                st = vals.agg(F.count("__val").alias("n"), F.min("__val").alias("lo"),
                              F.max("__val").alias("hi")).first()
                n, lo, hi = st["n"], st["lo"], st["hi"]
                cache[("st", v)] = (n, lo, hi)
            part = None
            if n and _math.isfinite(lo) and _math.isfinite(hi):
                if lo == hi:
                    rows = [(float(x), float(lo)) for x in qs]
                    part = self.spark.createDataFrame(rows, ["quantile", v])
                else:
                    pos = [_virtual_position(method, float(x), n)
                           for x in qs]
                    ranks = sorted({int(_math.floor(p)) for p in pos}
                                   | {int(_math.ceil(p)) for p in pos})
                    width = (hi - lo) / NB
                    if width > 0:
                        bcol = F.least(F.floor((F.col("__val") - F.lit(lo))
                                               / F.lit(width)), F.lit(NB - 1)
                                       ).cast("int")
                    else:
                        # subnormal range underflows the width to 0
                        # (lo < hi but (hi-lo)/NB == 0): one bin, the
                        # candidate sort stays exact
                        bcol = F.lit(0).cast("int")
                    if ("hist", v) in cache:
                        hist = cache[("hist", v)]
                    else:
                        hist = dict(vals.groupBy(bcol.alias("__b")).count()
                                    .collect())
                        cache[("hist", v)] = hist
                    cum, acc = {}, 0
                    for b in range(NB):
                        cum[b] = acc
                        acc += hist.get(b, 0)
                    rank_bin = {}
                    for r in ranks:
                        b = max(b0 for b0 in range(NB)
                                if cum[b0] <= r and hist.get(b0, 0) > 0
                                and r < cum[b0] + hist.get(b0, 0))
                        rank_bin[r] = b
                    need = sorted(set(rank_bin.values()))
                    if sum(hist.get(b, 0) for b in need) <= HEAVY:
                        # candidate collect cached by bin UNION: bins
                        # partition disjoint value ranges, so the sorted
                        # union array is ordered bin-by-bin and any
                        # subset's offsets stay valid against it
                        ent = cache.get(("cand", v))
                        if ent is None or not set(need) <= set(ent[0]):
                            allb = sorted(set(need)
                                          | (set(ent[0]) if ent else set()))
                            local = (vals.where(bcol.isin(allb))
                                     .toPandas()["__val"].to_numpy())
                            local.sort()
                            ent = (allb, local)
                            cache[("cand", v)] = ent
                        cbins, local = ent
                        # local array holds the cached bins' rows in value
                        # order; global rank r lives at local index
                        # (#collected rows in bins below r's bin) + (r −
                        # cumulative count below the bin)
                        def value_at(r: int) -> float:
                            b = rank_bin[r]
                            below_in_set = sum(hist.get(b2, 0) for b2 in cbins
                                               if b2 < b)
                            return float(local[below_in_set + (r - cum[b])])
                        rows = []
                        for x, p in zip(qs, pos):
                            jl, jh = int(_math.floor(p)), int(_math.ceil(p))
                            w = p - jl
                            val = (value_at(jl) if jl == jh or w == 0
                                   else value_at(jh) if w == 1
                                   else _interp_py(value_at(jl),
                                                   value_at(jh), w, method))
                            rows.append((float(x), val))
                        from xarray_spark._utils import local_df
                        part = local_df(self.spark, rows, ["quantile", v])
            elif not n:
                part = self.spark.createDataFrame(
                    [(float(x), None) for x in qs], f"quantile double, {v} double")
            if part is None:
                part = self._quantile_ungrouped_rank(qs, v, method)
            parts.append(part)
        return _reduce_fn(lambda a, b: a.join(b, on="quantile"), parts)

    def _quantile_ungrouped_rank(self, qs: list, v: str, method: str) -> DataFrame:
        """Fallback exact path: two-phase rank of the values (range
        partition → local rank → broadcast offsets), filter to the ≤2
        order-statistic positions, tiny conditional aggregate.  Never
        buffers the column — the shape that survives adversarial
        duplication the histogram path punts on."""
        from functools import reduce as _reduce_fn
        from xarray_spark._utils import two_phase_rank
        parts = []
        for v in [v]:
            vals = (
                self.df.select(F.col(v).cast("double").alias("__val"))
                .where(F.col("__val").isNotNull() & ~F.isnan("__val"))
            )
            r = two_phase_rank(vals, "__val")
            pos = [_quantile_positions(method, x, F.col("__n")) for x in qs]
            keep_cond = None
            for j_lo, j_hi, _w in pos:
                c = (F.col("__rnk") == j_lo) | (F.col("__rnk") == j_hi)
                keep_cond = c if keep_cond is None else (keep_cond | c)
            kept = r.where(keep_cond)
            aggs = [F.max("__n").alias("__n")]
            for i, (j_lo, j_hi, _w) in enumerate(pos):
                aggs.append(F.max(F.when(F.col("__rnk") == j_lo, F.col("__val"))).alias(f"__lo{i}"))
                aggs.append(F.max(F.when(F.col("__rnk") == j_hi, F.col("__val"))).alias(f"__hi{i}"))
            row = kept.agg(*aggs)
            structs = []
            for i, x in enumerate(qs):
                _j_lo, _j_hi, w = _quantile_positions(method, x, F.col("__n"))
                vlo, vhi = F.col(f"__lo{i}"), F.col(f"__hi{i}")
                val = (F.when(vlo == vhi, vlo)
                       .when(w == 0, vlo)
                       .when(w == 1, vhi)
                       .otherwise(_interp_col(vlo, vhi, w, method)))
                structs.append(F.struct(F.lit(float(x)).alias("quantile"), val.alias(v)))
            part = row.select(F.explode(F.array(*structs)).alias("__s")).select(
                F.col("__s.quantile").alias("quantile"), F.col(f"__s.{v}").alias(v)
            )
            parts.append(part)
        return _reduce_fn(lambda a, b: a.join(b, on="quantile"), parts)

    def cumsum(self, dim=None, skipna: bool = True,
               keep_attrs: bool | None = None) -> "XDataset":
        from xarray_spark import options
        from xarray_spark._utils import estimated_rows
        dims = self._norm_dim_arg(dim)
        thr = options.AUTO_SEGMENT_THRESHOLD
        if (skipna and thr is not None and len(dims) == 1
                and not [d for d in self.dims if d != dims[0]]
                and estimated_rows(self.df) >= thr):
            # single-task global-scan shape and over the threshold →
            # segmented two-phase scan (options.AUTO_SEGMENT_THRESHOLD)
            from xarray_spark.segmented import cumsum_segmented
            out = cumsum_segmented(self, dims[0])
            return out._replace(attrs=self._resolve_attrs(keep_attrs))
        # np.nancumsum: an all-NaN prefix accumulates 0, not NaN;
        # skipna=False poisons from the first NaN on (np.cumsum)
        return self._cumulative(
            dim, lambda v, w: F.coalesce(F.sum(v).over(w), F.lit(0.0)),
            skipna=skipna)._replace(attrs=self._resolve_attrs(keep_attrs))

    def cumprod(self, dim=None, skipna: bool = True,
                keep_attrs: bool | None = None) -> "XDataset":
        # np.nancumprod: an all-NaN prefix accumulates 1
        return self._cumulative(
            dim, lambda v, w: F.coalesce(F.product(v).over(w), F.lit(1.0)),
            skipna=skipna)._replace(attrs=self._resolve_attrs(keep_attrs))

    def _cumulative(self, dim, make, skipna: bool = True) -> "XDataset":
        dims = self._norm_dim_arg(dim)
        if len(dims) != 1:
            raise NotImplementedError("cumulative over exactly one dim")
        d = dims[0]
        others = [x for x in self.dims if x != d]
        w = Window.partitionBy(*others).orderBy(d).rowsBetween(Window.unboundedPreceding, 0)
        varlist = [v for v in self._agg_numeric_vars("cumsum")
                   if v not in self._bcast_passthrough(dims)]
        from xarray_spark._utils import nan_to_null
        base = nan_to_null(self.df, varlist, self.df.schema)

        def _mk(v, w):
            e = make(v, w)
            if not skipna:
                # np.cumsum/np.cumprod: NaN poisons every later prefix
                seen_nan = F.sum(F.when(F.col(v).isNull(), 1)
                                 .otherwise(0)).over(w) > 0
                e = F.when(seen_nan, F.lit(float("nan"))).otherwise(e)
            return e

        exprs = [
            _mk(v, w).alias(v) if v in varlist else F.col(v)
            for v in base.columns
        ]
        return self._replace(df=base.select(*exprs))

    def argmin(self, dim=None, skipna: bool | None = None, fill_value=None,
               axis: int | None = None,
               keep_attrs: bool | None = None) -> "XDataset":
        if axis is not None:
            if dim is not None:
                raise ValueError("cannot supply both 'axis' and 'dim'")
            dim = self.dims[axis]
        return self._arg_reduce(dim, True, use_pos=True, skipna=skipna,
                                fill_value=fill_value)._replace(
            attrs=self._resolve_attrs(keep_attrs))

    def argmax(self, dim=None, skipna: bool | None = None, fill_value=None,
               axis: int | None = None,
               keep_attrs: bool | None = None) -> "XDataset":
        if axis is not None:
            if dim is not None:
                raise ValueError("cannot supply both 'axis' and 'dim'")
            dim = self.dims[axis]
        return self._arg_reduce(dim, False, use_pos=True, skipna=skipna,
                                fill_value=fill_value)._replace(
            attrs=self._resolve_attrs(keep_attrs))

    def idxmin(self, dim=None, skipna: bool | None = None, fill_value=None,
               keep_attrs: bool | None = None) -> "XDataset":
        # reference quirk (measured): Dataset.idxmin/idxmax keep_attrs
        # governs per-VARIABLE attrs only — DATASET attrs survive even
        # keep_attrs=False; the long form has one attrs dict, so the
        # kwarg is accepted and dataset attrs ride through
        return self._arg_reduce(dim, True, use_pos=False, skipna=skipna,
                                fill_value=fill_value)

    def idxmax(self, dim=None, skipna: bool | None = None, fill_value=None,
               keep_attrs: bool | None = None) -> "XDataset":
        return self._arg_reduce(dim, False, use_pos=False, skipna=skipna,
                                fill_value=fill_value)

    def _arg_reduce(self, dim, is_min: bool, use_pos: bool,
                    skipna: bool | None = None, fill_value=None) -> "XDataset":
        """min_by/max_by of the dim label (idx*) or its position (arg*)
        (xarray/core/dataset.py:9251,9447).  Multiple dims → the label
        tuple of the extremum as a struct (the long-form rendering of
        xarray's dict-of-arrays return, core/variable.py:2491)."""
        dims = self._norm_dim_arg(dim)
        missing = self._bcast_passthrough(dims)
        if dim is not None and missing:
            # the reference errors when a var lacks the arg/idx dim
            # (idxmax: KeyError "Dimension … not found in array
            # dimensions …"; argmax errors too) — never silently
            # reduce the broadcast duplicates
            v = sorted(missing)[0]
            raise KeyError(
                f"Dimension {dims[0]!r} not found in array dimensions "
                f"{tuple(self.var_dims[v])} of variable {v!r}")
        if len(dims) > 1:
            fn = F.min_by if is_min else F.max_by
            if use_pos:
                # dict-of-positions return (core/variable.py:2491): one
                # broadcast position lookup per dim; the extremum is the
                # MIN/MAX of an ordered struct (value first, then the
                # position tuple) so ties break on the smallest position
                # — numpy's first-occurrence semantics, deterministic
                # where min_by/max_by is not.
                ds = self
                for d in dims:
                    labels = self._dim_labels(d).select(
                        d, F.col("__pos").alias(f"__pos_{d}"))
                    ds = ds._replace(
                        df=ds.df.join(F.broadcast(labels), on=d, how="left"))

                def agg(v):
                    # skipna=False is np.argmax/argmin semantics: NaN
                    # comparisons are always False, so the FIRST NaN
                    # (smallest position) wins whenever one exists.
                    # _reduce normalized NaN -> null already.
                    nan_first = F.min(F.when(F.col(v).isNull(), F.struct(
                        *[F.col(f"__pos_{d}").alias(d) for d in dims])))
                    if is_min:
                        s = F.min(F.when(F.col(v).isNotNull(), F.struct(
                            F.col(v).alias("__val"),
                            *[F.col(f"__pos_{d}").alias(d) for d in dims])))
                        out = F.struct(*[s[d].alias(d) for d in dims])
                    else:
                        s = F.max(F.when(F.col(v).isNotNull(), F.struct(
                            F.col(v).alias("__val"),
                            *[(-F.col(f"__pos_{d}")).alias(d) for d in dims])))
                        out = F.struct(*[(-s[d]).alias(d) for d in dims])
                    if skipna is False:
                        out = F.coalesce(nan_first, out)
                    return out

                return self._fill_agg_nulls(ds._reduce(dims, agg), fill_value)
            key = F.struct(*[F.col(d).alias(d) for d in dims])

            def agg_plain(v):
                e = fn(key, F.col(v))
                if skipna is False:
                    e = F.coalesce(F.min(F.when(F.col(v).isNull(), key)), e)
                return e

            return self._fill_agg_nulls(self._reduce(dims, agg_plain),
                                        fill_value)
        d = dims[0]
        labels = self._dim_labels(d).select(
            d, F.col("__pos").alias(f"__pos_{d}"))
        ds = self._replace(df=self.df.join(F.broadcast(labels), on=d,
                                           how="left"))
        pos = F.col(f"__pos_{d}")
        out_key = pos if use_pos else F.col(d)

        def agg1(v):
            # numpy takes the FIRST occurrence on ties; min_by/max_by
            # pick an arbitrary one (round-9 fuzz: two equal maxima
            # returned the later label).  Ordered struct instead:
            # value first, then the position (negated for max so the
            # smallest position wins the tie), the output key as
            # payload — the same device as the multi-dim positional
            # path above.
            vc = F.col(v)
            if is_min:
                s = F.min(F.when(vc.isNotNull(), F.struct(
                    vc.alias("__val"), pos.alias("__p"),
                    out_key.alias("__k"))))
            else:
                s = F.max(F.when(vc.isNotNull(), F.struct(
                    vc.alias("__val"), (-pos).alias("__p"),
                    out_key.alias("__k"))))
            e = s["__k"]
            if skipna is False:
                # np.argmax/argmin: the first NaN (smallest position)
                # wins when present
                e = F.coalesce(
                    F.min(F.when(vc.isNull(), F.struct(
                        pos.alias("__p"),
                        out_key.alias("__k"))))["__k"],
                    e)
            return e

        out = ds._reduce(dims, agg1)
        return self._fill_agg_nulls(out, fill_value)

    @staticmethod
    def _fill_agg_nulls(out: "XDataset", fill_value) -> "XDataset":
        """idxmin/idxmax/argmin/argmax fill_value: replace the null
        results (all-NaN slices, or skipna=False poisoning) with the
        given label (xarray/core/dataarray.py idxmax fill_value)."""
        import math
        if fill_value is None or (isinstance(fill_value, float)
                                  and math.isnan(fill_value)):
            return out
        exprs = [
            F.coalesce(F.col(c), F.lit(fill_value)).alias(c)
            if c in out.data_vars else F.col(c)
            for c in out.df.columns
        ]
        return out._replace(df=out.df.select(*exprs))

    def rank(self, dim: str, pct: bool = False,
             keep_attrs: bool | None = None) -> "XDataset":
        """Average-method rank along dim (xarray/core/dataset.py:8416;
        bottleneck average ranking), NaN/null stays null."""
        others = [x for x in self.dims if x != dim]
        from xarray_spark._utils import nan_to_null
        # the reference DROPS data vars lacking the ranked dim
        # (core/dataset.py rank: `if dim in var.dims`) — broadcast vars
        # from the dict constructor are exactly that case
        dropped = self._bcast_passthrough([dim])
        keep_vars = [v for v in self.data_vars if v not in dropped]
        df = nan_to_null(self.df, keep_vars, self.df.schema)
        if dropped:
            df = df.drop(*dropped)
        exprs = []
        for c in df.columns:
            if c in keep_vars:
                # nulls sort LAST so valid values rank 1..n_valid — the
                # reference ranks among valid entries only (bottleneck
                # nanrankdata / pandas rank with na_option='keep')
                w = Window.partitionBy(*others).orderBy(F.col(c).asc_nulls_last())
                wv = Window.partitionBy(*others, c)
                wp = Window.partitionBy(*others)
                # average rank = min_rank + (ties-1)/2
                r = F.rank().over(w) + (F.count(c).over(wv) - 1) / 2.0
                r = F.when(F.col(c).isNotNull(), r)
                if pct:
                    nn = F.sum(F.col(c).isNotNull().cast("long")).over(wp)
                    r = r / nn
                exprs.append(r.alias(c))
            else:
                exprs.append(F.col(c))
        return self._replace(df=df.select(*exprs), data_vars=keep_vars,
                             attrs=self._resolve_attrs(keep_attrs))

    def reduce(self, func: Callable, dim=None, schema: str | None = None,
               keep_attrs: bool | None = None, keepdims: bool = False,
               numeric_only: bool = False) -> "XDataset":
        """Arbitrary per-group reduction via applyInPandas
        (xarray/core/dataset.py:6864 → SURVEY §2.10)."""
        dims = self._norm_dim_arg(dim)
        keep = [d for d in self.dims if d not in dims]
        coords = self._coords_on(keep)
        if keepdims:
            raise NotImplementedError(
                "reduce(keepdims=True): the long form has no size-1 "
                "array axes to keep; reshape with expand_dims after")
        keys = keep + list(coords)
        varlist = list(self.data_vars)
        if numeric_only:
            varlist = [v for v in varlist
                       if _is_numeric(self.df.schema[v].dataType)]
        if schema is None:
            fields = [self.df.schema[k] for k in keys] + [
                T.StructField(v, T.DoubleType()) for v in varlist
            ]
            out_schema = T.StructType(fields)
        else:
            out_schema = schema

        import pandas as pd  # noqa: F401

        def apply_fn(pdf):
            res = {k: [pdf[k].iloc[0]] for k in keys}
            for v in varlist:
                res[v] = [func(pdf[v].to_numpy())]
            import pandas as _pd
            return _pd.DataFrame(res)

        df = self.df.groupBy(*keys).applyInPandas(apply_fn, out_schema)
        return self._replace(df=df, dims=keep, coords=coords,
                             data_vars=varlist,
                             attrs=self._resolve_attrs(keep_attrs))

    # ------------------------------------------------------------------ #
    # shift / diff / roll (SURVEY.md §2.6)
    # ------------------------------------------------------------------ #

    def shift(self, shifts: Mapping[str, int] | None = None, fill_value=None, **kw) -> "XDataset":
        """Shift data vars along dims (xarray/core/dataset.py:7967) —
        lag/lead windows; labels stay fixed, values move."""
        shifts = {**(shifts or {}), **kw}
        out = self
        for dim, n in shifts.items():
            others = [x for x in out.dims if x != dim]
            w = Window.partitionBy(*others).orderBy(dim)
            skip = out._bcast_passthrough([dim])
            exprs = []
            for c in out.df.columns:
                if c in out.data_vars and c not in skip:
                    if fill_value is not None:
                        # fill ONLY vacated slots (no source ROW), never a
                        # shifted-along null value — the reference keeps
                        # pre-existing NaNs NaN (core/dataset.py:7967).
                        # lag of a struct is null iff the row is absent.
                        se = F.lag(F.struct(F.col(c).alias("v")), n).over(w)
                        e = F.when(se.isNull(), F.lit(fill_value)) \
                             .otherwise(se["v"])
                    else:
                        e = F.lag(c, n).over(w)
                    exprs.append(e.alias(c))
                else:
                    exprs.append(F.col(c))
            out = out._replace(df=out.df.select(*exprs))
        return out

    def diff(self, dim: str, n: int = 1, label: str = "upper") -> "XDataset":
        """n-th discrete difference along dim (xarray/core/dataset.py:7879).
        label='upper' (default) keeps the label of the later operand
        (xarray drops the first label); label='lower' keeps the earlier
        one (drops the last).  For n > 1 the reference applies ``label``
        on the FIRST step only and recurses with the DEFAULT 'upper'
        (``difference.diff(dim, n - 1)`` drops the label argument —
        round-11 fuzz find: n=2/label='lower' labels are [1..len-2],
        not [0..len-3])."""
        if label not in ("upper", "lower"):
            raise ValueError(f"label must be 'upper' or 'lower', got {label!r}")
        out = self
        skip = self._bcast_passthrough([dim])
        for step in range(n):
            label = label if step == 0 else "upper"
            others = [x for x in out.dims if x != dim]
            w = Window.partitionBy(*others).orderBy(dim)
            exprs = []
            for c in out.df.columns:
                if c in out.data_vars and c not in skip:
                    if label == "upper":
                        exprs.append((F.col(c) - F.lag(c, 1).over(w)).alias(c))
                    else:
                        exprs.append((F.lead(c, 1).over(w) - F.col(c)).alias(c))
                else:
                    exprs.append(F.col(c))
            if label == "upper":
                rn = F.row_number().over(w)
                df = (out.df.select(*exprs, rn.alias("__rn"))
                      .where(F.col("__rn") > 1).drop("__rn"))
            else:
                nxt = F.lead(F.col(dim), 1).over(w)
                df = (out.df.select(*exprs, nxt.alias("__nx"))
                      .where(F.col("__nx").isNotNull()).drop("__nx"))
            out = out._replace(df=df)
        return out

    def roll(self, shifts: Mapping[str, int] | None = None,
             roll_coords: bool = False, **kw) -> "XDataset":
        """Circular shift (xarray/core/dataset.py:8038): re-key positions
        modulo size via the broadcast label table.

        ``roll_coords=True`` rolls the index together with the data, so
        every value KEEPS its own label — in the label-keyed long form
        (rows have no positional order) that is the identity mapping."""
        shifts = {**(shifts or {}), **kw}
        if roll_coords:
            return self
        out = self
        for dim, n in shifts.items():
            labels = out._dim_labels(dim)
            # value at pos p moves to the label at (p + n) mod size
            # (xarray/core/variable.py:1370 np.roll semantics)
            lab2 = labels.select(
                F.col(dim).alias("__newlab"), F.col("__pos").alias("__npos")
            )
            mapping = labels.join(
                lab2,
                ((F.col("__pos") + F.lit(n)) % F.col("__size")
                 + F.col("__size")) % F.col("__size") == F.col("__npos"),
                "inner",
            ).select(F.col(dim), F.col("__newlab"))
            df = (
                out.df.join(F.broadcast(mapping), on=dim, how="left")
                .drop(dim)
                .withColumnRenamed("__newlab", dim)
            )
            out = out._replace(df=df)
        return out

    # ------------------------------------------------------------------ #
    # arithmetic with auto-align (SURVEY.md §2.3; xarray _typed_ops)
    # ------------------------------------------------------------------ #

    def _binary_op(self, other, op: Callable[[Column, Column], Column],
                   reflexive=False, cmp=False) -> "XDataset":
        if isinstance(other, XDataset):
            return self._binary_op_dataset(other, op, reflexive, cmp)
        import math
        if cmp and isinstance(other, float) and math.isnan(other):
            lit = F.lit(None).cast("double")
        else:
            lit = other if isinstance(other, Column) else F.lit(other)
        exprs = []
        for c in self.df.columns:
            if c in self.data_vars:
                cc = F.col(c)
                if cmp and isinstance(self.df.schema[c].dataType,
                                      (T.FloatType, T.DoubleType)):
                    # IEEE comparison: NaN compares False against
                    # everything (Spark orders NaN as the LARGEST value
                    # — numpy does not)
                    cc = F.nanvl(cc, F.lit(None))
                a, b = (lit, cc) if reflexive else (cc, lit)
                e = op(a, b)
                if cmp:
                    e = F.coalesce(e, F.lit(False))
                exprs.append(e.alias(c))
            else:
                exprs.append(F.col(c))
        # scalar-operand ops KEEP the left attrs regardless of the
        # keep_attrs option (reference parity, wave-42 probe: with
        # set_options(keep_attrs=False), (ds * 2).attrs survive)
        return self._replace(df=self.df.select(*exprs))

    def _binary_op_dataset(self, other: "XDataset", op, reflexive=False,
                           cmp=False) -> "XDataset":
        """Join-on-shared-dims then columnar expression — xarray's
        auto-align binary op (xarray/core/dataset.py:7783; inner join is
        the default arithmetic_join)."""
        shared = [d for d in self.dims if d in other.dims]
        self_only = [d for d in self.dims if d not in other.dims]
        other_only = [d for d in other.dims if d not in shared]
        # match variables by name (Dataset⊗Dataset); single-var datasets
        # (DataArrays) pair up positionally
        if len(self.data_vars) == 1 and len(other.data_vars) == 1:
            pairs = [(self.data_vars[0], other.data_vars[0])]
            out_vars = [self.data_vars[0]]
        else:
            out_vars = [v for v in self.data_vars if v in other.data_vars]
            pairs = [(v, v) for v in out_vars]
        o_df = other.df
        renames = {}
        for c in o_df.columns:
            if c not in other.dims or c not in shared:
                if c in set(self.df.columns) | {p[0] for p in pairs}:
                    renames[c] = f"__r_{c}"
        for old, new in renames.items():
            o_df = o_df.withColumnRenamed(old, new)
        if shared:
            from xarray_spark.options import OPTIONS
            how = {"inner": "inner", "outer": "full_outer",
                   "left": "left", "right": "right"}[OPTIONS["arithmetic_join"]]
            joined = self.df.join(o_df, on=shared, how=how)
        else:
            # disjoint dims: the cartesian expansion is the semantics; hint
            # the right side (conventionally the smaller operand, e.g. a
            # reduced climatology) as broadcast so the big side never
            # shuffles into a CartesianProduct
            joined = self.df.crossJoin(F.broadcast(o_df))
        exprs = []
        seen = set()
        for c in self.df.columns:
            if c in (p[0] for p in pairs):
                ov = dict(pairs)[c]
                ocol = F.col(renames.get(ov, ov))
                scol = F.col(c)
                if cmp:
                    if isinstance(self.df.schema[c].dataType,
                                  (T.FloatType, T.DoubleType)):
                        scol = F.nanvl(scol, F.lit(None))
                    if isinstance(other.df.schema[ov].dataType,
                                  (T.FloatType, T.DoubleType)):
                        ocol = F.nanvl(ocol, F.lit(None))
                a, b = (ocol, scol) if reflexive else (scol, ocol)
                e = op(a, b)
                if cmp:
                    e = F.coalesce(e, F.lit(False))
                exprs.append(e.alias(c))
            elif c in self.dims or c in self.coords:
                exprs.append(F.col(c))
            seen.add(c)
        for d in other_only:
            exprs.append(F.col(d))
        for k, v in other.coords.items():
            if k not in seen and set(v) <= set(other_only):
                exprs.append(F.col(renames.get(k, k)).alias(k))
        dims = list(self.dims) + other_only
        coords = dict(self._coords_on(self.dims))
        for k, v in other.coords.items():
            if set(v) <= set(other_only):
                coords[k] = v
        from xarray_spark.options import OPTIONS
        if OPTIONS["keep_attrs"]:
            # reference: Dataset⊗Dataset attrs merge with
            # drop_conflicts — union of both sides, keys whose values
            # disagree dropped (wave-42 probe; keep_attrs=True behaves
            # the same, False empties)
            attrs = dict(self.attrs or {})
            for k, v2 in (other.attrs or {}).items():
                if k not in attrs:
                    attrs[k] = v2
                elif attrs[k] != v2:
                    del attrs[k]
        else:
            attrs = {}
        return XDataset(joined.select(*exprs), dims, coords, out_vars,
                        attrs)

    def __add__(self, o): return self._binary_op(o, lambda a, b: a + b)
    def __radd__(self, o): return self._binary_op(o, lambda a, b: a + b, True)
    def __sub__(self, o): return self._binary_op(o, lambda a, b: a - b)
    def __rsub__(self, o): return self._binary_op(o, lambda a, b: a - b, True)
    def __mul__(self, o): return self._binary_op(o, lambda a, b: a * b)
    def __rmul__(self, o): return self._binary_op(o, lambda a, b: a * b, True)
    # division family uses numpy float semantics (x/0 → ±inf, 0/0 → nan,
    # % floored like Python) — Spark's raw operators error under ANSI
    def __truediv__(self, o):
        from xarray_spark._utils import ieee_div
        return self._binary_op(o, ieee_div)
    def __rtruediv__(self, o):
        from xarray_spark._utils import ieee_div
        return self._binary_op(o, ieee_div, True)
    def __pow__(self, o): return self._binary_op(o, lambda a, b: F.pow(a, b))
    def __mod__(self, o):
        from xarray_spark._utils import ieee_mod
        return self._binary_op(o, ieee_mod)
    def __floordiv__(self, o):
        from xarray_spark._utils import ieee_div
        from xarray_spark._utils import ieee_floor
        return self._binary_op(o, lambda a, b: ieee_floor(ieee_div(a, b)))
    def __neg__(self): return self._binary_op(-1, lambda a, b: a * b)
    def __abs__(self): return self.map(F.abs)
    def __lt__(self, o): return self._binary_op(o, lambda a, b: a < b, cmp=True)
    def __le__(self, o): return self._binary_op(o, lambda a, b: a <= b, cmp=True)
    def __gt__(self, o): return self._binary_op(o, lambda a, b: a > b, cmp=True)
    def __ge__(self, o): return self._binary_op(o, lambda a, b: a >= b, cmp=True)
    def equals_values(self, o): return self._binary_op(o, lambda a, b: a == b)

    # ------------------------------------------------------------------ #
    # missing data (SURVEY.md §2.7) — see missing.py for ffill/bfill/interp
    # ------------------------------------------------------------------ #

    def fillna(self, value) -> "XDataset":
        """Fill nulls from a scalar, per-var dict, or another XDataset
        (join + coalesce) (xarray/core/dataset.py:6489)."""
        if isinstance(value, XDataset):
            # the reference keeps SELF's shape (this join does not align
            # like arithmetic): left-join other's values on the shared
            # labels and coalesce into self's gaps
            shared = [d for d in self.dims if d in value.dims]
            o_df = value.df
            overlap = [v for v in value.data_vars if v in self.data_vars]
            for v in overlap:
                o_df = o_df.withColumnRenamed(v, f"__f_{v}")
            sub = o_df.select(*shared, *[f"__f_{v}" for v in overlap])
            # a 0-d fill source (fillna(ds.v.mean())) shares no dims:
            # broadcast its single row across self (reference
            # broadcasting semantics)
            joined = (self.df.join(sub, on=shared, how="left") if shared
                      else self.df.crossJoin(F.broadcast(sub)))
            schema = self.df.schema
            def _fill(c):
                # NaN-as-missing normalization only applies to float
                # vars; int/string overlap vars keep their dtype (a
                # blanket double cast would silently promote ints and
                # ANSI-fail on non-numeric columns)
                if isinstance(schema[c].dataType, (T.FloatType, T.DoubleType)):
                    return F.coalesce(
                        F.nanvl(F.col(c).cast("double"),
                                F.lit(None).cast("double")),
                        F.col(f"__f_{c}").cast("double")).alias(c)
                return F.coalesce(F.col(c), F.col(f"__f_{c}")).alias(c)
            exprs = [_fill(c) if c in overlap else F.col(c)
                     for c in self.df.columns]
            return self._replace(df=joined.select(*exprs))
        if isinstance(value, Mapping):
            exprs = [
                F.coalesce(F.col(c), F.lit(value[c])).alias(c)
                if c in value and c in self.data_vars else F.col(c)
                for c in self.df.columns
            ]
        else:
            exprs = [
                F.coalesce(F.col(c), F.lit(value)).alias(c) if c in self.data_vars else F.col(c)
                for c in self.df.columns
            ]
        return self._replace(df=self.df.select(*exprs))

    def combine_first(self, other: "XDataset") -> "XDataset":
        """Outer-join + coalesce, self wins (xarray/core/dataset.py:6845)."""
        shared = [d for d in self.dims if d in other.dims]
        o_df = other.df
        renames = {c: f"__o_{c}" for c in o_df.columns if c not in shared}
        for old, new in renames.items():
            o_df = o_df.withColumnRenamed(old, new)
        joined = self.df.join(o_df, on=shared, how="full_outer")
        exprs = []
        for c in self.df.columns:
            if c in shared:
                exprs.append(F.col(c))
            elif c in self.data_vars and c in other.data_vars:
                exprs.append(F.coalesce(F.col(c), F.col(f"__o_{c}")).alias(c))
            else:
                exprs.append(F.col(c))
        for v in other.data_vars:
            if v not in self.data_vars:
                exprs.append(F.col(f"__o_{v}").alias(v))
        vars_out = list(self.data_vars) + [v for v in other.data_vars if v not in self.data_vars]
        return self._replace(df=joined.select(*exprs), data_vars=vars_out)

    def dropna(self, dim: str, how: str = "any", thresh: int | None = None, subset=None) -> "XDataset":
        """Drop dim labels whose values contain nulls
        (xarray/core/dataset.py:6355): aggregate null-counts per label,
        semi-join the survivors."""
        subset = list(subset) if subset else list(self.data_vars)
        per_label = self.df.groupBy(dim).agg(
            F.sum(
                sum((F.col(v).isNull().cast("int") for v in subset), F.lit(0))
            ).alias("__nulls"),
            F.count(F.lit(1)).alias("__rows"),
            *[F.sum(F.col(v).isNotNull().cast("int")).alias(f"__ok_{v}") for v in subset],
        )
        n_vals = len(subset)
        if thresh is not None:
            keep = per_label.where(
                sum((F.col(f"__ok_{v}") for v in subset), F.lit(0)) >= thresh
            )
        elif how == "any":
            keep = per_label.where(F.col("__nulls") == 0)
        elif how == "all":
            keep = per_label.where(F.col("__nulls") < F.col("__rows") * n_vals)
        else:
            raise ValueError(how)
        df = self.df.join(F.broadcast(keep.select(dim)), on=dim, how="left_semi")
        return self._replace(df=df)

    def notnull(self, keep_attrs: bool | None = None) -> "XDataset":
        return self.map(lambda c: c.isNotNull())._replace(
            attrs=self._resolve_attrs(keep_attrs))

    def isnull(self, keep_attrs: bool | None = None) -> "XDataset":
        return self.map(lambda c: c.isNull())._replace(
            attrs=self._resolve_attrs(keep_attrs))

    def clip(self, min=None, max=None,
             keep_attrs: bool | None = None) -> "XDataset":
        """Clamp values (xarray/core/common.py:462).  Nulls stay null —
        Spark's greatest/least silently IGNORE nulls and would resurrect
        a missing value as the clip bound.  Bounds may be scalars,
        Columns, or single-variable XDataset/XDataArray objects (the
        reference broadcasts array bounds); array bounds join on their
        dims.  A NaN/missing BOUND poisons its row (np.clip is
        minimum(maximum(x, lo), hi) — NaN propagates; wave-28 fuzz
        find)."""
        df = self.df

        def resolve(b, tag):
            nonlocal df
            if b is None:
                return None
            if isinstance(b, XDataset):
                (var,) = tuple(b.data_vars)
                bdims = [d for d in b.dims if d in self.dims]
                if not bdims:
                    raise ValueError("clip bound shares no dims with self")
                bdf = b.df.select(*bdims, F.col(var).alias(tag))
                df = df.join(bdf, on=bdims, how="left")
                return F.col(tag)
            if isinstance(b, Column):
                return b
            return F.lit(b)

        lo = resolve(min, "__clip_lo")
        hi = resolve(max, "__clip_hi")

        def _bad_bound(b):
            # missing or true-NaN bound → the row's result is missing
            d = b.cast("double")
            return d.isNull() | F.isnan(d)

        bound_bad = None
        for b in (lo, hi):
            if b is not None:
                bb = _bad_bound(b)
                bound_bad = bb if bound_bad is None else (bound_bad | bb)

        def e(name):
            c = F.col(name)
            out = c
            if lo is not None:
                out = F.greatest(out, lo)
            if hi is not None:
                out = F.least(out, hi)
            if bound_bad is not None:
                out = F.when(bound_bad, F.lit(None)).otherwise(out)
            guard = c.isNotNull()
            if isinstance(self.df.schema[name].dataType,
                          (T.FloatType, T.DoubleType)):
                # true NaN must stay NaN: Spark orders NaN as the
                # largest double, so least() would clip it to max
                guard = guard & ~F.isnan(c)
                return F.when(guard, out).otherwise(c)
            return F.when(guard, out)

        exprs = [
            e(c).alias(c) if c in self.data_vars else F.col(c)
            for c in self.df.columns
            if c not in ("__clip_lo", "__clip_hi")
        ]
        return self._replace(df=df.select(*exprs),
                             attrs=self._resolve_attrs(keep_attrs))

    def astype(self, dtype: str, order=None, casting=None, subok=None,
               copy=None, keep_attrs: bool | None = None) -> "XDataset":
        """Cast every data var (xarray/core/common.py:1409).  try_cast:
        NaN→int is platform garbage in numpy and a runtime ERROR under
        Spark ANSI — NULL (the engine's NaN) is the sane rendering.
        ``order``/``casting``/``subok``/``copy`` are numpy memory-layout
        knobs with no distributed meaning (accepted for signature
        parity, validated only); ``keep_attrs=False`` drops attrs."""
        if casting not in (None, "no", "equiv", "safe", "same_kind",
                           "unsafe"):
            raise ValueError(f"invalid casting {casting!r}")
        out = self.map(lambda c: c.try_cast(dtype))
        return out._replace(attrs=self._resolve_attrs(keep_attrs))

    def round(self, decimals: int = 0) -> "XDataset":
        # np.round is banker's rounding (half to even) — Spark's round
        # is half-up; bround is the half-even form
        return self.map(lambda c: F.bround(c, decimals))

    # ------------------------------------------------------------------ #
    # groupby / resample / rolling / coarsen — implemented in sibling
    # modules; bound late to avoid circular imports
    # ------------------------------------------------------------------ #

    def groupby(self, group=None, squeeze: bool = False,
                restore_coord_dims: bool = False,
                eagerly_compute_group=None, **groupers):
        """``squeeze``/``restore_coord_dims``/``eagerly_compute_group``
        are reference-signature knobs for in-memory array layout (the
        first two deprecated upstream); the long form has no array axes
        to squeeze or coord dims to restore, so they are validated and
        otherwise inert."""
        if squeeze not in (False, None):
            raise TypeError("squeeze=True was removed in the reference "
                            "(deprecated); the long form never squeezes")
        from xarray_spark.groupby import XGroupBy, resolve_groupers
        from xarray_spark.groupers import TimeResampler
        merged: dict = {}
        if isinstance(group, Mapping):
            merged.update(group)
        if groupers:
            merged.update(groupers)
        if (group is None or isinstance(group, Mapping)) \
                and len(merged) == 1:
            (nm, g0), = merged.items()
            if isinstance(g0, TimeResampler) and g0.day_anchor is None \
                    and not g0.month_anchor:
                # a SINGLE bare TimeResampler through groupby() IS
                # resample(): the reference yields the FULL label run
                # (empty bins NaN-materialized) and anchors at origin —
                # route through XResample so densify/origin/verbs apply
                # (round-11 fuzz find: the sparse groupby path skipped
                # both)
                from xarray_spark.resample import XResample
                return XResample(self, nm, g0.freq, closed=g0.closed,
                                 label=g0.label, offset=g0.offset,
                                 origin=g0.origin)
        keys, season_deferred = resolve_groupers(self, group, groupers)
        return XGroupBy(self, keys, season_deferred)

    def groupby_bins(self, group: str, bins, labels=None, right: bool = True,
                     include_lowest: bool = False, precision: int = 3,
                     duplicates: str = "raise"):
        from xarray_spark.groupers import BinGrouper
        if isinstance(bins, int):
            # pandas.cut integer form: equal-width edges over the data
            # range with pandas' own 0.1% left extension — let pandas
            # derive the exact edge set from the min/max so membership
            # matches cut() bit-for-bit.  The lookup is the shared
            # fingerprint-cached min/max (one batched job at most,
            # footer-served for raw integral scans)
            import pandas as pd
            from xarray_spark._utils import dim_min_max
            lo, hi = dim_min_max(self.df, group)
            _, edges = pd.cut(pd.Series([lo, hi],
                                        dtype="float64"), bins, retbins=True)
            bins = [float(e) for e in edges]
        return self.groupby(**{group: BinGrouper(
            bins=bins, labels=labels, right=right,
            include_lowest=include_lowest, precision=precision,
            duplicates=duplicates)})

    def resample(self, indexer: Mapping[str, str] | None = None,
                 closed: str | None = None, label: str | None = None,
                 offset=None, origin: str = "start_day", **kw):
        from xarray_spark.resample import XResample
        indexer = {**(indexer or {}), **kw}
        (dim, freq), = indexer.items()
        return XResample(self, dim, freq, closed=closed, label=label,
                         offset=offset, origin=origin)

    def rolling(self, windows: Mapping[str, int] | None = None, min_periods: int | None = None,
                center: bool = False, **kw):
        from xarray_spark.rolling import XRolling
        windows = {**(windows or {}), **kw}
        return XRolling(self, windows, min_periods, center)

    def coarsen(self, windows: Mapping[str, int] | None = None,
                boundary: str = "exact", side: str = "left",
                coord_func: str = "mean", **kw):
        from xarray_spark.rolling import XCoarsen
        windows = {**(windows or {}), **kw}
        return XCoarsen(self, windows, boundary, side, coord_func)

    def cumulative(self, dim: str, min_periods: int = 1):
        from xarray_spark.rolling import XRolling
        return XRolling(self, {dim: -1}, min_periods=min_periods,
                        center=False)

    def rolling_exp(self, windows: Mapping[str, float] | None = None,
                    window_type: str = "span", **kw):
        from xarray_spark.rolling import XRollingExp
        windows = {**(windows or {}), **kw}
        return XRollingExp(self, windows, window_type)

    def weighted(self, weights):
        from xarray_spark.computation import XWeighted
        return XWeighted(self, weights)

    def ffill(self, dim: str, limit: int | None = None) -> "XDataset":
        from xarray_spark.missing import ffill
        return ffill(self, dim, limit)

    def bfill(self, dim: str, limit: int | None = None) -> "XDataset":
        from xarray_spark.missing import bfill
        return bfill(self, dim, limit)

    def interpolate_na(self, dim: str, method: str = "linear", limit=None,
                       max_gap=None, order=None,
                       use_coordinate: bool = True,
                       lam: float | None = None,
                       s: float | None = None,
                       fill_value=None,
                       keep_attrs: bool | None = None) -> "XDataset":
        from xarray_spark.missing import interpolate_na
        out = interpolate_na(self, dim, method, limit, max_gap, order,
                             use_coordinate, lam=lam, s=s,
                             fill_value=fill_value)
        return out._replace(attrs=self._resolve_attrs(keep_attrs))

    def reindex(self, indexers=None, method=None, tolerance=None, fill_value=None, **kw) -> "XDataset":
        from xarray_spark.alignment import reindex
        return reindex(self, {**(indexers or {}), **kw}, method, tolerance, fill_value)

    def broadcast_like(self, other: "XDataset",
                       exclude=None) -> "XDataset":
        """``exclude``: dims NOT broadcast against other (reference
        broadcast_like signature) — dropped from other's dim set before
        the label cross-product."""
        from xarray_spark.alignment import broadcast_like
        if exclude:
            excl = {exclude} if isinstance(exclude, str) else set(exclude)
            trimmed = other
            for d in excl:
                if d in other.dims and d not in self.dims:
                    trimmed = trimmed._drop_dim(d)
            other = trimmed
        return broadcast_like(self, other)

    def interp(self, coords=None, method: str = "linear",
               kwargs: dict | None = None, assume_sorted: bool = False,
               method_non_numeric: str = "nearest", **kw) -> "XDataset":
        """Regrid; like the reference, interpolator args (``order`` for
        polynomial, ``lam`` for smooth_spline) ride in ``kwargs=``
        (xarray/core/dataset.py:3786 passes them to scipy the same way)."""
        from xarray_spark.missing import interp
        kwargs = kwargs or {}
        unknown = set(kwargs) - {"order", "lam", "fill_value"}
        if unknown:
            # silent kwarg swallowing would silently change results
            raise NotImplementedError(
                f"interp kwargs {sorted(unknown)} are not supported "
                "(honored: order, lam, fill_value='extrapolate')")
        return interp(self, {**(coords or {}), **kw}, method,
                      order=kwargs.get("order"), lam=kwargs.get("lam"),
                      fill_value=kwargs.get("fill_value"))

    def interp_like(self, other: "XDataset", method: str = "linear",
                    assume_sorted: bool = False,
                    method_non_numeric: str = "nearest",
                    kwargs: dict | None = None) -> "XDataset":
        """Interpolate onto other's labels for every shared dim
        (xarray/core/dataset.py:4095) — label tables flow DataFrame-to-
        DataFrame, nothing is collected to the driver.  ``assume_sorted``
        is inert (label tables are ordered by construction);
        interpolator args ride in ``kwargs=`` like interp()."""
        from xarray_spark.missing import interp
        kwargs = kwargs or {}
        out = self
        for d in self.dims:
            if d in other.dims:
                out = interp(out, {d: other.df.select(d)}, method,
                             order=kwargs.get("order"),
                             lam=kwargs.get("lam"))
        return out

    def reindex_like(self, other: "XDataset", method: str | None = None,
                     tolerance: float | None = None, fill_value=None) -> "XDataset":
        """Conform to other's labels (xarray/core/dataset.py:3476)."""
        from xarray_spark.alignment import reindex
        indexers = {d: other for d in self.dims if d in other.dims}
        return reindex(self, indexers, method, tolerance, fill_value)

    def merge(self, other: "XDataset", compat: str = "no_conflicts",
              join: str = "outer", fill_value=None, combine_attrs="override",
              overwrite_vars: str | Iterable[str] = frozenset()) -> "XDataset":
        """Merge; ``overwrite_vars`` names variables where other's version
        wins WITHOUT compat checking (xarray/core/dataset.py:5832)."""
        from xarray_spark.combine import merge
        ov = {overwrite_vars} if isinstance(overwrite_vars, str) else set(overwrite_vars)
        left = self
        if ov:
            left = left.drop_vars([v for v in left.data_vars if v in ov
                                   and v in other.data_vars])
        return merge([left, other], compat=compat, join=join,
                     fill_value=fill_value, combine_attrs=combine_attrs)

    def update(self, other) -> "XDataset":
        """In-place-style variable REPLACEMENT (xarray/core/dataset.py:
        5700): a variable present in ``other`` replaces self's version
        wholesale, reindexed onto self's labels — labels other lacks
        become null, self's old values never show through.  ``other``
        may be a dict of variable specs (the reference's mapping form —
        ``{name: (dims, values)}``), coerced through the dict
        constructor."""
        if isinstance(other, Mapping):
            other = type(self)(dict(other))
        shared = [d for d in self.dims if d in other.dims]
        o_df = other.df
        renames = {v: f"__u_{v}" for v in other.data_vars}
        for old, new in renames.items():
            o_df = o_df.withColumnRenamed(old, new)
        joined = self.df.join(
            o_df.select(*shared, *renames.values()), on=shared, how="left"
        )
        exprs = []
        for c in self.df.columns:
            if c in self.data_vars and c in other.data_vars:
                exprs.append(F.col(f"__u_{c}").alias(c))
            else:
                exprs.append(F.col(c))
        new_vars = [v for v in other.data_vars if v not in self.data_vars]
        for v in new_vars:
            exprs.append(F.col(f"__u_{v}").alias(v))
        return self._replace(
            df=joined.select(*exprs),
            data_vars=list(self.data_vars) + new_vars,
        )

    def integrate(self, coord: str, datetime_unit: str | None = None) -> "XDataset":
        from xarray_spark.computation import integrate
        return integrate(self, coord, datetime_unit=datetime_unit)

    def cumulative_integrate(self, coord: str,
                             datetime_unit: str | None = None) -> "XDataset":
        from xarray_spark.computation import cumulative_integrate
        return cumulative_integrate(self, coord, datetime_unit=datetime_unit)

    _PAD_MODE_KWARGS = {
        "constant": {"constant_values"},
        "edge": set(), "wrap": set(), "empty": set(),
        "linear_ramp": {"end_values"},
        "maximum": {"stat_length"}, "mean": {"stat_length"},
        "median": {"stat_length"}, "minimum": {"stat_length"},
        "reflect": {"reflect_type"}, "symmetric": {"reflect_type"},
    }

    def pad(self, pad_width: Mapping[str, tuple[int, int]] | None = None,
            mode: str = "constant", constant_values=None, end_values=None,
            reflect_type: str | None = None, stat_length=None,
            **kw) -> "XDataset":
        """Extend dims with new labels (xarray/core/dataset.py:9054).

        Long-form: new labels are synthesized by extrapolating the label
        sequence (numeric/time dims with a regular step), then values
        fill per ``mode``:

        - ``constant`` → constant_values/null, ``edge`` → boundary value
        - ``reflect`` / ``symmetric`` / ``wrap`` → POSITIONAL source
          mapping (numpy pad semantics): each pad row joins the fact row
          at its mirrored/wrapped position via the label table — exact
          on irregular grids too
        - ``mean`` / ``maximum`` / ``minimum`` → per-series aggregate
        - ``linear_ramp`` → edge value ramped to ``end_values`` over the
          pad width

        Label synthesis happens on the tiny label table; the fact table
        is unioned (and for positional modes, equi-joined by source
        label) — never sorted globally.
        """
        # numpy/reference contract (numpy/lib/arraypad.py): an
        # explicitly-passed kwarg a mode does not consume is an ERROR,
        # never silently ignored (round-12 probe-sweep find — the
        # engine used to drop e.g. constant_values under mode='edge')
        passed = {name for name, val in (
            ("constant_values", constant_values),
            ("end_values", end_values),
            ("reflect_type", reflect_type),
            ("stat_length", stat_length)) if val is not None}
        allowed = self._PAD_MODE_KWARGS.get(mode)
        if allowed is None:
            raise ValueError(f"mode '{mode}' is not supported")
        unsupported = passed - allowed
        if unsupported:
            raise ValueError(
                f"unsupported keyword arguments for mode '{mode}': "
                f"{unsupported}")
        if end_values is None:
            end_values = 0.0
        if reflect_type is None:
            reflect_type = "even"
        pad_width = {**(pad_width or {}), **kw}
        out = self
        for dim, width in pad_width.items():
            before, after = (width, width) if isinstance(width, int) else width
            out = out._pad_one(dim, before, after, mode, constant_values,
                               end_values, reflect_type, stat_length)
        # broadcast vars lacking EVERY padded dim keep their own values
        # on the new rows (the reference pads only vars that have the
        # dim — u=('x',…) stays (x,) through pad(y=…)); repair by
        # re-joining each such var's own-dims value table
        skip = self._bcast_passthrough(list(pad_width))
        for v in skip:
            own = list(self.var_dims[v])
            tbl = (self.df.groupBy(*own).agg(
                F.first(v, ignorenulls=False).alias("__bv")) if own
                else self.df.agg(F.first(v, ignorenulls=False)
                                 .alias("__bv")))
            joined = (out.df.join(F.broadcast(tbl), on=own, how="left")
                      if own else out.df.crossJoin(F.broadcast(tbl)))
            out = out._replace(df=joined.withColumn(v, F.col("__bv"))
                               .drop("__bv"))
        return out

    def _pad_one(self, dim: str, before: int, after: int, mode: str,
                 constant_values, end_values=0.0,
                 reflect_type: str = "even", stat_length=None) -> "XDataset":
        from xarray_spark._utils import to_double
        if before == 0 and after == 0:
            return self
        dtype = self.df.schema[dim].dataType
        # label step inferred from the (assumed regular) label grid:
        # (max - min) / (n - 1); min/max/count need no label positions,
        # so this is one direct partial+final aggregate over the fact
        # table — no rank, no extra shuffle
        lab_num = to_double(F.col(dim), dtype)
        row = self.df.agg(
            F.min(lab_num).alias("lo"), F.max(lab_num).alias("hi"),
            (F.countDistinct(dim) - 1).alias("n1"),
        ).collect()[0]
        lo, hi, n1 = row["lo"], row["hi"], row["n1"]
        if lo is None:  # empty dataset: nothing to extrapolate from
            return self
        step = (hi - lo) / n1 if n1 else 1.0
        new_labels = [lo - step * (i + 1) for i in range(before)] + \
                     [hi + step * (i + 1) for i in range(after)]
        from xarray_spark._utils import is_temporal
        sides = ["b"] * before + ["a"] * after
        if is_temporal(dtype):
            from xarray_spark._utils import local_df
            new_rows = local_df(
                self.spark,
                [(float(x), s) for x, s in zip(new_labels, sides)],
                "__num double, __side string"
            ).select(F.timestamp_seconds(F.col("__num")).cast(dtype).alias(dim),
                     "__side")
        else:
            new_rows = self.spark.createDataFrame(
                [(x, s) for x, s in zip(new_labels, sides)], [dim, "__side"]) \
                .select(F.col(dim).cast(dtype).alias(dim), "__side")
        others = [d for d in self.dims if d != dim]
        if mode in ("reflect", "symmetric", "wrap", "linear_ramp", "edge"):
            # edge rides the positional path (source = boundary row,
            # no ramp) so INTERIOR nulls stay null — an ffill/bfill over
            # the unioned series would fill genuine missing values too
            return self._pad_positional(dim, before, after, mode, new_labels,
                                        n1 + 1, end_values, reflect_type)
        if mode in ("mean", "maximum", "minimum", "median"):
            # median joined the stat family in round 11 (pad fuzz find:
            # it silently fell through to the constant branch and
            # padded NULL) — np.median semantics via the shared exact
            # mean-of-middles order statistic
            base_fn = {"mean": F.avg, "maximum": F.max,
                       "minimum": F.min, "median": _median_expr}[mode]

            def aggfn(v):
                # np.pad stat modes have no notion of missing data — a
                # NaN anywhere in the statistic's window poisons it
                # (np.mean/np.max propagate NaN); Spark's avg/max/min
                # silently SKIP nulls, so poison explicitly
                col = F.col(v).cast("double")
                bad = F.max((col.isNull() | F.isnan(col)).cast("int"))
                return F.when(bad == 1,
                              F.lit(float("nan"))).otherwise(base_fn(v))

            aggs = [aggfn(v).alias(v) for v in self.data_vars]
            sl_b, sl_a = self._norm_constant_values(stat_length, dim)
            if sl_b is not None or sl_a is not None:
                # np.pad stat_length: the statistic uses only the
                # nearest k values at EACH edge — per-side aggregates
                # over position-filtered rows (positions from the
                # broadcast label table, one extra equi-join, no sort)
                labels = self._dim_labels(dim).select(
                    dim, "__pos", "__size")
                fact = self.df.join(F.broadcast(labels), on=dim)
                cb = (F.col("__pos") < int(sl_b)) if sl_b else F.lit(True)
                ca = (F.col("__pos") >= F.col("__size") - int(sl_a))                     if sl_a else F.lit(True)
                agg_b = (fact.where(cb).groupBy(*others).agg(*aggs)
                         if others else fact.where(cb).agg(*aggs))
                agg_a = (fact.where(ca).groupBy(*others).agg(*aggs)
                         if others else fact.where(ca).agg(*aggs))
                sides = []
                for tag, agg_s in (("b", agg_b), ("a", agg_a)):
                    rows_s = new_rows.where(F.col("__side") == tag)
                    if others:
                        rows_s = (self.df.select(*others).distinct()
                                  .crossJoin(F.broadcast(rows_s))
                                  .join(agg_s, on=others))
                    else:
                        rows_s = rows_s.crossJoin(F.broadcast(agg_s))
                    sides.append(rows_s)
                new_rows = sides[0].unionByName(sides[1])
            else:
                agg = (self.df.groupBy(*others).agg(*aggs) if others
                       else self.df.agg(*aggs))
                new_rows = (new_rows.crossJoin(F.broadcast(agg))
                            if not others
                            else self.df.select(*others).distinct()
                            .crossJoin(F.broadcast(new_rows))
                            .join(agg, on=others))
            for c in self.df.columns:
                if c not in new_rows.columns:
                    new_rows = new_rows.withColumn(
                        c, F.lit(None).cast(self.df.schema[c].dataType))
            return self._replace(
                df=self.df.unionByName(new_rows.select(*self.df.columns)))
        if others:
            combos = self.df.select(*others).distinct()
            new_rows = combos.crossJoin(F.broadcast(new_rows))
        cv_b, cv_a = self._norm_constant_values(constant_values, dim)
        for c in self.df.columns:
            if c not in new_rows.columns:
                fill = F.lit(None).cast(self.df.schema[c].dataType)
                if mode == "constant" and c in self.data_vars and (
                        cv_b is not None or cv_a is not None):
                    # per-side constants (np.pad ((before, after),) form)
                    fill = (F.when(F.col("__side") == "b", F.lit(cv_b))
                            .otherwise(F.lit(cv_a))
                            .cast(self.df.schema[c].dataType))
                new_rows = new_rows.withColumn(c, fill)
        unioned = self.df.unionByName(new_rows.select(*self.df.columns))
        return self._replace(df=unioned)

    @staticmethod
    def _norm_constant_values(constant_values, dim):
        """Normalize np.pad/xarray constant_values forms — scalar,
        (before, after), ((before, after),), {dim: scalar-or-pair} —
        to a per-side pair."""
        cv = constant_values
        if isinstance(cv, dict):
            cv = cv.get(dim)
        if cv is None:
            return None, None
        if isinstance(cv, (tuple, list)):
            if len(cv) == 1 and isinstance(cv[0], (tuple, list)):
                cv = cv[0]
            b, a = cv
            return b, a
        return cv, cv

    def _pad_positional(self, dim: str, before: int, after: int, mode: str,
                        new_labels: list, n: int, end_values,
                        reflect_type: str = "even") -> "XDataset":
        """reflect/symmetric/wrap/linear_ramp pad: each pad row joins the
        fact row at a computed SOURCE position (numpy pad semantics),
        resolved through the label table — label-table-sized planning,
        one equi-join against the fact table."""
        from xarray_spark._utils import is_temporal
        if mode not in ("linear_ramp", "edge") and max(before, after) >= n:
            raise ValueError(f"pad mode {mode!r} needs width < dim size {n}")
        # (side, 1-based pad offset) -> source position (numpy semantics)
        def src_pos(side: str, i: int) -> int:
            if mode == "reflect":
                return i if side == "b" else n - 1 - i
            if mode == "symmetric":
                return i - 1 if side == "b" else n - i
            if mode == "wrap":
                return n - i if side == "b" else i - 1
            return 0 if side == "b" else n - 1  # linear_ramp: edge row
        specs = ([("b", i) for i in range(1, before + 1)]
                 + [("a", i) for i in range(1, after + 1)])
        meta = [(float(lab), src_pos(side, i),
                 (i / before if side == "b" else i / after) if mode == "linear_ramp" else 0.0,
                 side)
                for lab, (side, i) in zip(new_labels, specs)]
        meta_df = self.spark.createDataFrame(
            meta, ["__newlab", "__srcpos", "__frac", "__side"])
        dtype = self.df.schema[dim].dataType
        newlab = (F.timestamp_seconds(F.col("__newlab")).cast(dtype)
                  if is_temporal(dtype) else F.col("__newlab").cast(dtype))
        meta_df = meta_df.withColumn("__newlab", newlab)
        labels = self._dim_labels(dim).select(
            F.col(dim).alias("__srclab"), F.col("__pos").alias("__srcpos"))
        src = meta_df.join(F.broadcast(labels), on="__srcpos")
        fact = self.df.withColumnRenamed(dim, "__srclab")
        joined = fact.join(F.broadcast(src), on="__srclab")
        odd = mode in ("reflect", "symmetric") and reflect_type == "odd"
        if odd:
            # np.pad reflect_type='odd': value = 2*edge - mirrored.  The
            # per-series edge rows (pos 0 / n-1) form a series-count-
            # sized table — joined back per side.
            others_d = [d for d in self.dims if d != dim]
            edges = self._dim_labels(dim).where(
                F.col("__pos").isin(0, n - 1)).select(
                F.col(dim).alias("__srclab"),
                F.when(F.col("__pos") == 0, "b").otherwise("a").alias("__side"))
            efact = (self.df.withColumnRenamed(dim, "__srclab")
                     .join(F.broadcast(edges), on="__srclab")
                     .select(*others_d, "__side",
                             *[F.col(v).alias(f"__e_{v}") for v in self.data_vars]))
            joined = joined.join(F.broadcast(efact), on=others_d + ["__side"])
        exprs = []
        for c in self.df.columns:
            if c == dim:
                exprs.append(F.col("__newlab").alias(dim))
            elif c in self.data_vars and odd:
                v = F.col(c).cast("double")
                e = F.col(f"__e_{c}").cast("double")
                exprs.append((F.lit(2.0) * e - v)
                             .cast(self.df.schema[c].dataType).alias(c))
            elif c in self.data_vars and mode == "linear_ramp":
                v = F.col(c).cast("double")
                ramp = v + (F.lit(float(end_values)) - v) * F.col("__frac")
                exprs.append(ramp.cast(self.df.schema[c].dataType).alias(c))
            elif c in self.data_vars or c in [d for d in self.dims if d != dim]:
                exprs.append(F.col(c))
            else:
                # coords keyed on THIS dim would be stale at the new label
                dims_of = (self.coords or {}).get(c, ())
                exprs.append(F.lit(None).cast(self.df.schema[c].dataType).alias(c)
                             if dim in dims_of else F.col(c))
        new_full = joined.select(*exprs)
        return self._replace(df=self.df.unionByName(new_full.select(*self.df.columns)))

    def set_index(self, indexes: Mapping[str, Any] | None = None,
                  append: bool = False, **kw) -> "XDataset":
        """Promote coords to dim keys (xarray/core/dataset.py:4778) —
        catalog-level re-keying in long form (same as swap_dims).
        A list value builds a stacked (struct) multi-level key like
        stack(); ``append=True`` extends the EXISTING key with the new
        level(s) instead of replacing it (pandas set_index append)."""
        indexes = {**(indexes or {}), **kw}
        out = self
        for dim, spec in indexes.items():
            levels = [spec] if isinstance(spec, str) else list(spec)
            if append:
                dtype = out.df.schema[dim].dataType
                old = ([f"{dim}.{f}" for f in dtype.names]
                       if isinstance(dtype, T.StructType) else [dim])
                fields = []
                for ref in old:
                    name = ref.split(".")[-1]
                    fields.append(F.col(ref).alias(name))
                for lv in levels:
                    if lv not in out.df.columns:
                        raise KeyError(lv)
                    fields.append(F.col(lv).alias(lv))
                df = out.df.withColumn(f"__sk_{dim}", F.struct(*fields))
                keep = [c for c in df.columns if c != dim]
                df = df.select(*keep).withColumnRenamed(f"__sk_{dim}", dim)
                coords = {k: v for k, v in out.coords.items()
                          if k not in levels}
                for lv in levels:
                    coords[lv] = (dim,)
                out = XDataset(df, out.dims, coords,
                               [v for v in out.data_vars
                                if v not in levels], out.attrs)
            elif len(levels) > 1:
                # multi-level index: the dim's key becomes a struct of
                # the named coords (the old index coord is replaced,
                # as in the reference)
                for lv in levels:
                    if lv not in out.df.columns:
                        raise KeyError(lv)
                fields = [F.col(lv).alias(lv) for lv in levels]
                df = out.df.withColumn(f"__sk_{dim}", F.struct(*fields))
                keep = [c for c in df.columns if c != dim]
                df = df.select(*keep).withColumnRenamed(f"__sk_{dim}", dim)
                coords = {k: v for k, v in out.coords.items()
                          if k not in levels and k != dim}
                for lv in levels:
                    coords[lv] = (dim,)
                out = XDataset(df, out.dims, coords,
                               [v for v in out.data_vars
                                if v not in levels], out.attrs)
            else:
                out = out.swap_dims({dim: levels[0]})
        return out

    def reorder_levels(self, dim_order: Mapping[str, Sequence[str]] | None = None,
                       **kw: Sequence[str]) -> "XDataset":
        """Reorder the component levels of a stacked (struct) dim
        (xarray/core/dataset.py:5228) — rebuilds the struct column with
        fields in the new order; pure projection, no shuffle."""
        dim_order = {**(dim_order or {}), **kw}
        out = self
        for dim, levels in dim_order.items():
            dtype = out.df.schema[dim].dataType
            if not isinstance(dtype, T.StructType):
                raise ValueError(f"{dim!r} is not a stacked (struct) dim")
            have = set(dtype.names)
            if set(levels) != have:
                raise ValueError(f"levels {list(levels)} != existing {sorted(have)}")
            new = F.struct(*[F.col(dim).getField(l).alias(l) for l in levels])
            out = out._replace(df=out.df.withColumn(dim, new))
        return out

    def set_xindex(self, coord_names: str | Sequence[str], index_cls=None,
                   **options) -> "XDataset":
        """Register coords as a selectable index (xarray/core/dataset.py:4995).

        Long form needs no index STRUCTURE — any key column filters/joins
        directly, and Catalyst chooses the access path — so by default
        this validates the coords exist and records the intent in attrs.

        ``index_cls`` (the reference's Index plugin hook,
        core/indexes.py:39) accepts an :class:`xarray_spark.indexes.
        XIndex` STRATEGY class: ``index_cls.from_variables(names,
        **options)`` is instantiated and subsequent ``.sel`` requests on
        these coords are rewritten by the strategy's plan choice (pushed
        predicate, nearest-point join, …) instead of the default path.
        The built-in equivalents (PredicateIndex, NDPointIndex) are
        themselves registered through this hook — see
        xarray_spark/indexes.py."""
        names = [coord_names] if isinstance(coord_names, str) else list(coord_names)
        for n in names:
            if n not in self.df.columns:
                raise ValueError(f"{n!r} is not a variable of the dataset")
        attrs = {**(self.attrs or {})}
        existing = list(attrs.get("_xindexes", ()))
        attrs["_xindexes"] = existing + [n for n in names if n not in existing]
        if index_cls is not None:
            from xarray_spark.indexes import XIndex
            if not (isinstance(index_cls, type)
                    and issubclass(index_cls, XIndex)):
                raise TypeError(
                    f"index_cls must be an xarray_spark.indexes.XIndex "
                    f"subclass, got {index_cls!r}")
            strategy = index_cls.from_variables(names, **options)
            strategies = [s for s in attrs.get("_xindex_strategies", ())
                          if not set(s.coord_names) & set(names)]
            attrs["_xindex_strategies"] = strategies + [strategy]
        return self._replace(attrs=attrs)

    def drop_indexes(self, coord_names: str | Sequence[str],
                     errors: str = "raise") -> "XDataset":
        """Unregister indexes recorded by set_xindex
        (xarray/core/dataset.py:5834 drop_indexes).  Long form keeps the
        columns — only the catalog marker goes.  Dim coords carry the
        reference's DEFAULT index, so dropping them is legal (and a
        catalog no-op: label pushdown is a plan property, not state)."""
        names = [coord_names] if isinstance(coord_names, str) else list(coord_names)
        attrs = {**(self.attrs or {})}
        existing = list(attrs.get("_xindexes", ()))
        for n in names:
            if (n not in existing and n not in self.dims
                    and errors == "raise"):
                raise ValueError(f"{n!r} is not an index of the dataset")
        attrs["_xindexes"] = [n for n in existing if n not in names]
        return self._replace(attrs=attrs)

    def reset_index(self, dims: str | Iterable[str],
                    drop: bool = False) -> "XDataset":
        """Demote dim keys back to plain coords
        (xarray/core/dataset.py:4943).  The column stays; only its
        catalog role changes.  ``drop=True`` removes the demoted
        columns instead of keeping them as coords."""
        dims = [dims] if isinstance(dims, str) else list(dims)
        new_dims = [d for d in self.dims if d not in dims]
        if drop:
            keep = [c for c in self.df.columns if c not in dims]
            return self._replace(
                df=self.df.select(*keep),
                dims=new_dims or [d for d in self.dims if d not in dims],
                coords={k: v for k, v in self.coords.items()
                        if k not in dims},
            )
        coords = dict(self.coords)
        for d in dims:
            coords[d] = tuple(new_dims) or (d,)
        return self._replace(dims=new_dims or list(self.dims), coords=coords)

    def to_stacked_array(self, new_dim: str = "variable",
                         sample_dims: Sequence[str] | None = None,
                         variable_dim: str = "variable",
                         name: str = "value") -> "XDataArray":
        """Stack data variables into one array dim
        (xarray/core/dataset.py:5383) — SQL unpivot (melt).

        ``sample_dims`` (reference signature) are the dims PRESERVED by
        the stacking; every other dim folds into ``new_dim`` alongside
        the variable names (reference: a MultiIndex of variable_dim +
        the folded dims; a variable lacking a folded dim contributes
        ONE slot with a null level — core/dataset.py:5430
        stacked-array shape).  Long form: one union branch per
        variable (sample dims + its own folded labels + a literal
        variable label), the stacked dim a STRUCT column with the
        level columns riding as coords — the engine's MultiIndex
        convention (set_index struct keys)."""
        if sample_dims is not None and set(sample_dims) != set(self.dims):
            sset = set(sample_dims)
            sample = [d for d in self.dims if d in sset]
            folded = [d for d in self.dims if d not in sset]
            frames = []
            vd_map = {}
            for v in self.data_vars:
                vd = tuple(self.var_dims.get(v, self.dims))
                missing_sample = [d for d in sample if d not in vd]
                if missing_sample:
                    raise ValueError(
                        f"Variables in the dataset must contain all "
                        f"``sample_dims`` ({sample!r}) but {v!r} misses "
                        f"{missing_sample!r}")
                use = [d for d in folded if d in vd]
                vd_map[v] = use
                keys = sample + use
                proj = self.df.select(*keys, F.col(v).alias("__val"))
                if set(keys) != set(self.dims):
                    proj = (proj.dropDuplicates(keys) if keys
                            else proj.limit(1))
                cols = [*[F.col(d) for d in sample],
                        F.lit(v).alias(variable_dim)]
                for d in folded:
                    cols.append(F.col(d) if d in use else
                                F.lit(None)
                                .cast(self.df.schema[d].dataType)
                                .alias(d))
                cols.append(F.col("__val").alias(name))
                frames.append(proj.select(*cols))
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f)
            df = df.withColumn(
                new_dim, F.struct(F.col(variable_dim), *[
                    F.col(d) for d in folded]))
            coords = {variable_dim: (new_dim,),
                      **{d: (new_dim,) for d in folded}}
            ds = XDataset(df, sample + [new_dim], coords,
                          [name], dict(self.attrs))
            ds.attrs["_stacked_meta"] = {
                "variable_dim": variable_dim, "folded": folded,
                "sample": sample, "var_folded": vd_map}
            return ds[name]
        out = self.to_dataarray(dim=new_dim, name=name)
        if variable_dim != "variable":
            # the reference names the variable LEVEL of the stacked
            # multiindex; the long-form stacked dim has one level, so
            # the level name rides in attrs for to_unstacked_dataset
            out.attrs["_stacked_variable_dim"] = variable_dim
        return out

    def to_unstacked_dataset(self, dim: str, level=0) -> "XDataset":
        """Inverse of to_stacked_array (xarray/core/dataarray.py:3070) —
        pivot the variable dim back into columns.  A struct-typed
        (folded) stacked dim unfolds via one tiny variable-label
        collect + per-variable joinback on its own dims — each
        variable recovers exactly the dims it owned before stacking
        (null folded levels mean the var never had that dim)."""
        meta = self.attrs.get("_stacked_meta")
        if meta and dim in self.dims:
            var_level = meta["variable_dim"]
            folded = list(meta["folded"])
            sample = list(meta["sample"])
            val = self.data_vars[0]
            var_folded = {k: list(v)
                          for k, v in meta["var_folded"].items()}
            labels = sorted(var_folded)
            # base grid: sample-dim rows x each folded dim's labels
            base = self.df.select(*sample).distinct()
            for d in folded:
                labs = (self.df.select(d)
                        .where(F.col(d).isNotNull()).distinct())
                base = base.crossJoin(F.broadcast(labs))
            out_df = base
            vd_out = {}
            full = tuple(sample + folded)
            for lab in labels:
                own = var_folded[lab]
                tbl = (self.df.where(F.col(var_level) == lab)
                       .select(*sample, *own, F.col(val).alias(lab)))
                keys = sample + own
                out_df = (out_df.join(tbl, on=keys, how="left")
                          if keys else out_df.crossJoin(tbl))
                if tuple(sample + own) != full:
                    vd_out[lab] = tuple(sample + own)
            attrs = {k: v for k, v in self.attrs.items()
                     if k != "_stacked_meta"}
            out = XDataset(out_df, list(full), {}, labels, attrs)
            out.var_dims = vd_out
            return out
        return self.to_dataset_pivot(dim)

    def differentiate(self, coord: str,
                      datetime_unit: str | None = None,
                      edge_order: int = 1) -> "XDataset":
        from xarray_spark.computation import differentiate
        return differentiate(self, coord, datetime_unit=datetime_unit,
                             edge_order=edge_order)

    def polyfit(self, dim: str, deg: int, w: str | None = None,
                full: bool = False, cov: bool | str = False,
                rcond: float | None = None, skipna: bool | None = None):
        from xarray_spark.computation import polyfit
        return polyfit(self, dim, deg, w=w, full=full, cov=cov, rcond=rcond,
                       skipna=skipna)

    def curvefit(self, coords, func, p0=None, param_names=None,
                 maxiter: int = 100, reduce_dims=None, skipna: bool = True,
                 bounds=None, errors: str = "raise",
                 kwargs: dict | None = None):
        from xarray_spark.computation import curvefit
        return curvefit(self, coords, func, p0, param_names, maxiter,
                        reduce_dims=reduce_dims, skipna=skipna,
                        bounds=bounds, errors=errors)

    def map_blocks(self, func, schema=None, template=None) -> "XDataset":
        """Partition-wise UDF (xarray/core/parallel.py:228) → mapInPandas.

        ``func`` is either xarray-style (one pandas block in, one block
        out) or a raw mapInPandas generator (iterator of batches in,
        iterator out) — detected by inspection.  ``template`` (reference
        parity) supplies the OUTPUT structure when it differs from the
        input: an XDataset (its schema is used) or a pandas DataFrame
        (schema inferred from its dtypes)."""
        import inspect
        if template is not None and schema is None:
            if isinstance(template, XDataset):
                schema = template.df.schema
            else:
                schema = self.spark.createDataFrame(template.head(1)).schema
        out_schema = schema or self.df.schema
        if inspect.isgeneratorfunction(func):
            gen = func
        else:
            def gen(batches, _f=func):
                for pdf in batches:
                    yield _f(pdf)
        df = self.df.mapInPandas(gen, out_schema)
        return self._replace(df=df)

    # ------------------------------------------------------------------ #
    # actions / bridges
    # ------------------------------------------------------------------ #

    def persist(self) -> "XDataset":
        return self._replace(df=self.df.persist())

    cache = persist

    def compute(self):
        return self.df.collect()

    load = compute

    async def load_async(self):
        """Async-surface parity (xarray Dataset.load_async): Spark
        actions block the calling thread, so this simply awaits the
        synchronous load — same contract, no background I/O claim."""
        return self.load()

    def close(self) -> None:
        """Release any resource attached via :meth:`set_close`
        (xarray Dataset.close).  Plain DataFrames hold no file handles
        — parity for `with open_dataset(...) as ds:` call sites."""
        fn = getattr(self, "_close_fn", None)
        if fn is not None:
            self._close_fn = None
            fn()

    def set_close(self, close) -> None:
        """Register the closer invoked by :meth:`close`
        (xarray Dataset.set_close — backends attach theirs here)."""
        self._close_fn = close

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def get(self, name, default=None):
        """Mapping-style access (xarray Dataset.get)."""
        try:
            return self[name]
        except (KeyError, Exception):
            if name in self.df.columns:
                raise
            return default

    def get_index(self, dim: str):
        """The dim's labels as a pandas Index (xarray Dataset.get_index).

        Label tables are small by invariant #1 — this is the one place
        the engine hands a label set to the driver on purpose."""
        import pandas as pd
        if dim not in self.dims:
            raise KeyError(f"{dim!r} is not a dimension")
        rows = self._dim_labels(dim).orderBy("__pos").select(dim).collect()
        return pd.Index([r[dim] for r in rows], name=dim)

    @property
    def variables(self) -> dict:
        """name → single-variable view for every column
        (xarray Dataset.variables, coords + data vars)."""
        return {c: self[c] for c in [*self.coords, *self.data_vars]}

    def drop(self, labels=None, dim=None, errors: str = "raise", **kw):
        """Deprecated reference alias: names → drop_vars, dim labels →
        drop_sel (xarray Dataset.drop)."""
        if dim is not None:
            return self.drop_sel({dim: labels}, errors=errors)
        names = [labels] if isinstance(labels, str) else list(labels or [])
        if names and all(n in self.df.columns for n in names):
            return self.drop_vars(names, errors=errors)
        return self.drop_sel(labels, errors=errors, **kw)

    def conj(self) -> "XDataset":
        """Complex conjugate (xarray Dataset.conj): negate the ``im``
        field of struct<re,im> vars, identity on real vars."""
        from xarray_spark.ufuncs import conj as _conj

        def e(c, dtype):
            if isinstance(dtype, T.StructType) and {f.name for f in dtype.fields} >= {"re", "im"}:
                return _conj(c)
            return c
        out = self.df
        for v in self.data_vars:
            out = out.withColumn(v, e(F.col(v), self.df.schema[v].dataType))
        return self._replace(df=out)

    conjugate = conj

    def argsort(self, dim: str | None = None) -> "XDataset":
        """Positions that would sort each variable along ``dim``
        (numpy argsort semantics, stable ties): output position j holds
        the ORIGINAL 0-based position of the j-th smallest value.

        Long form: sorted rank j from a row_number window (keyed by the
        complement dims — one shuffle), original positions from the
        broadcast label table, then the inverse permutation re-keys the
        value to the label at position j."""
        dim = dim or self.dims[-1]
        others = [d for d in self.dims if d != dim]
        labels = self._dim_labels(dim).select(
            F.col(dim), F.col("__pos").alias("__orig"))
        df = self.df.join(F.broadcast(labels), on=dim)
        out_cols = []
        for v in self.data_vars:
            w = Window.partitionBy(*others).orderBy(
                F.col(v).asc_nulls_last(), F.col("__orig").asc())
            df = df.withColumn(f"__j_{v}", F.row_number().over(w) - 1)
            out_cols.append(v)
        # re-key: position j → label at position j
        back = self._dim_labels(dim).select(
            F.col("__pos").alias("__j"), F.col(dim).alias("__newlab"))
        outs = []
        for v in out_cols:
            part = df.select(
                *others, F.col(f"__j_{v}").alias("__j"),
                F.col("__orig").cast("long").alias(v))
            part = part.join(F.broadcast(back), on="__j")
            outs.append(part.select(
                *others, F.col("__newlab").alias(dim), v))
        from functools import reduce as _red
        res = _red(lambda a, b: a.join(b, on=[*others, dim]), outs)
        return self._replace(df=res.select(*self.dims, *out_cols),
                             coords={}, data_vars=out_cols)

    @property
    def chunksizes(self) -> dict:
        """Partitioning report (xarray .chunksizes analogue,
        core/dataset.py:2547): long form has one partition axis, so this
        is {'partitions': n} — metadata only, no job."""
        return {"partitions": self.df.rdd.getNumPartitions()}

    def unify_chunks(self) -> "XDataset":
        """No-op for parity (core/dataset.py:8856): a single DataFrame
        has one partitioning by construction; multi-input alignment
        happens per-operation in align()."""
        return self

    def to_spark(self) -> DataFrame:
        return self.df

    # dask-API parity name (the reference's to_dask_dataframe returns
    # the distributed frame; ours IS one)
    to_dask_dataframe = to_spark

    def to_pandas(self):
        return self.df.toPandas()

    def to_dataframe(self, dim_order: Sequence[str] | None = None):
        """Collected pandas frame indexed by the dims (the reference's
        to_dataframe returns a dim-MultiIndex frame,
        core/dataset.py:7450); rows come back label-sorted.
        ``dim_order`` reorders the MultiIndex levels (and the row sort)
        like the reference."""
        if dim_order is not None:
            if set(dim_order) != set(self.dims):
                raise ValueError(
                    f"dim_order {list(dim_order)} does not match dims "
                    f"{list(self.dims)}")
            order = list(dim_order)
        else:
            order = list(self.dims)
        pdf = self.df.toPandas()
        dims = [d for d in order if d in pdf.columns]
        if dims:
            pdf = pdf.sort_values(dims).set_index(dims)
        return pdf

    # ---------------------------------------------------------------- #
    # thin parity surface (reference core/dataset.py method names whose
    # semantics are trivial or aliases under the long-form model)
    # ---------------------------------------------------------------- #

    def apply(self, func, **kw) -> "XDataset":
        """Deprecated alias of map (core/dataset.py:7164)."""
        return self.map(func, **kw)

    def copy(self, deep: bool = False, data=None) -> "XDataset":
        """Plans are immutable; copy is a catalog-level clone
        (core/dataset.py:1280 — `deep` has no distributed meaning).
        ``data`` replaces data-var contents like the reference: a
        mapping of var -> new column/expression (long-form rendering of
        the reference's array replacement)."""
        out = self._replace(df=self.df)
        if data:
            if not isinstance(data, Mapping):
                raise TypeError("copy(data=...) takes {var: Column} here")
            unknown = [k for k in data if k not in self.data_vars]
            if unknown:
                raise ValueError(f"data keys {unknown} are not data_vars")
            df = out.df
            for k, v in data.items():
                df = df.withColumn(k, v)
            out = out._replace(df=df)
        return out

    def as_numpy(self) -> "XDataset":
        """Parity no-op (core/dataset.py:1427): the long-form engine has
        no lazy *array* backends to realize; compute()/to_pandas() are
        the materialization points."""
        return self

    @property
    def chunks(self) -> dict:
        """Alias of chunksizes (core/dataset.py:2527)."""
        return self.chunksizes

    @property
    def dtypes(self) -> dict:
        """var -> Spark DataType (core/dataset.py:1404)."""
        sch = self.df.schema
        return {v: sch[v].dataType for v in self.data_vars}

    @property
    def nbytes(self) -> int:
        """Catalyst plan-statistics size estimate in bytes
        (core/dataset.py:1416) — no job, optimizer metadata only."""
        return int(self.df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())

    @property
    def indexes(self) -> dict:
        """dim -> its (lazy) label table (core/dataset.py:1692 — the
        engine's analogue of the pandas-index mapping)."""
        return {d: self._dim_labels(d) for d in self.dims}

    xindexes = indexes

    @property
    def encoding(self) -> dict:
        """On-disk encoding attrs (CF coder parameters travel in attrs
        under the long-form model; a separate encoding dict is kept for
        API shape, core/dataset.py:1373)."""
        return dict((self.attrs or {}).get("__encoding__", {}))

    def drop_encoding(self) -> "XDataset":
        attrs = {k: v for k, v in (self.attrs or {}).items()
                 if k != "__encoding__"}
        return self._replace(attrs=attrs)

    reset_encoding = drop_encoding

    def info(self, buf=None) -> None:
        """netcdf-style summary print (core/dataset.py:1341)."""
        import sys
        out = buf or sys.stdout
        lines = ["xarray_spark.XDataset {", "dimensions:"]
        lines += [f"\t{d} ;" for d in self.dims]
        lines.append("variables:")
        sch = self.df.schema
        for v in self.data_vars:
            lines.append(f"\t{sch[v].dataType.simpleString()} {v}({', '.join(self.dims)}) ;")
        for c in self.coords:
            lines.append(f"\t{sch[c].dataType.simpleString()} {c} ;")
        if self.attrs:
            lines.append("// global attributes:")
            lines += [f"\t:{k} = {v!r} ;" for k, v in self.attrs.items()]
        lines.append("}")
        print("\n".join(lines), file=out)

    def to_array(self, dim: str = "variable",
                 name: str | None = None) -> "XDataArray":
        """Deprecated alias of to_dataarray (core/dataset.py:7297)."""
        return self.to_dataarray(dim, name=name)

    @property
    def real(self) -> "XDataset":
        """Real part of struct<re,im> complex vars (ufuncs.real)."""
        from xarray_spark import ufuncs as xu
        return xu.real(self)

    @property
    def imag(self) -> "XDataset":
        from xarray_spark import ufuncs as xu
        return xu.imag(self)

    def convert_calendar(self, calendar: str = "standard", dim: str = "time",
                         **kw) -> "XDataset":
        from xarray_spark.computation import convert_calendar
        return convert_calendar(self, calendar, dim, **kw)

    def interp_calendar(self, target, dim: str = "time") -> "XDataset":
        from xarray_spark.computation import interp_calendar
        return interp_calendar(self, target, dim)

    @staticmethod
    def from_dataframe(df, dims, **kw) -> "XDataset":
        from xarray_spark.io import from_dataframe
        return from_dataframe(df, dims, **kw)

    @staticmethod
    def from_dict(spark, d) -> "XDataset":
        from xarray_spark.io import from_dict
        return from_dict(spark, d)

    def to_dict(self, data: bool = True) -> dict:
        """Reference-shaped nested dict (xarray Dataset.to_dict,
        core/dataset.py:7678): ``dims`` as a name→size mapping and
        per-variable ``{dims, attrs, data}`` entries (``data=False``
        swaps values for dtype/shape).  Driver-sized by definition —
        the reference materializes numpy arrays here too.  Wave-39
        change: the old engine-form catalog dump (flat row list) moved
        entirely into from_dict's accepted input formats."""
        import numpy as np
        var_attrs = (self.attrs.get("__var__", {})
                     if isinstance(self.attrs, dict) else {})
        top_attrs = {k: v for k, v in self.attrs.items() if k != "__var__"}
        if not data:
            # schema-only request: NO value collection — dtypes come
            # from df.schema, dim sizes from one countDistinct agg
            # (the reference's data=False path never materializes
            # values either).  Collecting here is a driver-OOM hazard
            # on a 100 TB dataset.
            return self._to_dict_schema_only(var_attrs, top_attrs)
        pdf = self.df.toPandas()
        sizes = {d: int(pdf[d].nunique()) for d in self.dims}

        def entry(name, own):
            own = tuple(own)
            e = {"dims": own, "attrs": dict(var_attrs.get(name, {}))}
            if own:
                sub = (pdf[list(own) + [name]]
                       .drop_duplicates(subset=list(own))
                       .sort_values(list(own)))
                vals = sub[name].to_numpy()
                shape = tuple(sizes[d] for d in own)
                if data:
                    if len(vals) != int(np.prod(shape)):
                        raise ValueError(
                            f"to_dict: {name!r} is sparse on {own}; "
                            "densify() first")
                    e["data"] = vals.reshape(shape).tolist()
                else:
                    e.update(dtype=str(vals.dtype), shape=shape)
            else:
                v0 = pdf[name].iloc[0] if len(pdf) else None
                if data:
                    e["data"] = v0
                else:
                    e.update(dtype=str(np.asarray(v0).dtype), shape=())
            return e

        coords = {}
        for d in self.dims:
            labels = np.sort(pdf[d].unique())
            coords[d] = {"dims": (d,), "attrs": {},
                         **({"data": labels.tolist()} if data
                            else {"dtype": str(labels.dtype),
                                  "shape": (len(labels),)})}
        for c, cdims in self.coords.items():
            coords[c] = entry(c, cdims)
        dvars = {}
        for v in self.data_vars:
            own = self.var_dims.get(v)
            if own is None or not set(own) <= set(self.dims):
                own = self.dims
            dvars[v] = entry(v, own)
        return {"coords": coords, "attrs": top_attrs,
                "dims": sizes, "data_vars": dvars}

    def _to_dict_schema_only(self, var_attrs: dict, top_attrs: dict) -> dict:
        """to_dict(data=False): dtype/shape report without collecting a
        single value — one countDistinct aggregation for the dim sizes,
        dtypes read straight off df.schema (mapped to the numpy dtype
        pandas conversion would produce)."""
        def np_dtype(name: str) -> str:
            dt = self.df.schema[name].dataType
            m = {T.DoubleType: "float64", T.FloatType: "float32",
                 T.LongType: "int64", T.IntegerType: "int32",
                 T.ShortType: "int16", T.ByteType: "int8",
                 T.BooleanType: "bool",
                 T.TimestampType: "datetime64[ns]",
                 T.TimestampNTZType: "datetime64[ns]"}
            for t, s in m.items():
                if isinstance(dt, t):
                    return s
            return "object"  # strings/binary/arrays/decimals
        if self.dims:
            row = self.df.agg(*[F.countDistinct(d).alias(d)
                                for d in self.dims]).collect()[0]
            sizes = {d: int(row[d]) for d in self.dims}
        else:
            sizes = {}

        def entry(name, own):
            own = tuple(own)
            return {"dims": own, "attrs": dict(var_attrs.get(name, {})),
                    "dtype": np_dtype(name),
                    "shape": tuple(sizes[d] for d in own)}

        coords = {d: entry(d, (d,)) for d in self.dims}
        for c, cdims in self.coords.items():
            coords[c] = entry(c, cdims)
        dvars = {}
        for v in self.data_vars:
            own = self.var_dims.get(v)
            if own is None or not set(own) <= set(self.dims):
                own = self.dims
            dvars[v] = entry(v, own)
        return {"coords": coords, "attrs": top_attrs,
                "dims": sizes, "data_vars": dvars}

    def to_netcdf(self, path: str) -> None:
        """Write a classic netCDF-3 file (xarray/core/dataset.py:2028
        to_netcdf; backends.write_netcdf3).  A classic CDF file is a
        single-machine object by definition (one file, 2 GiB offsets) —
        this collects through pandas and is for label-sized results;
        use to_parquet / to_zarr for fact-sized data."""
        import numpy as np
        from xarray_spark.backends import write_netcdf3
        if len(self.dims) != 1:
            raise NotImplementedError("to_netcdf: single-dim datasets "
                                      "(stack() or to_parquet for N-D)")
        dim = self.dims[0]
        pdf = self.df.orderBy(dim).toPandas()
        lab = pdf[dim].to_numpy()
        if lab.dtype.kind in "mM" or str(lab.dtype).startswith("datetime"):
            lab = lab.astype("datetime64[s]").astype("int64").astype("float64")
        variables = {dim: ([dim], lab)}
        for v in self.data_vars:
            variables[v] = ([dim], pdf[v].to_numpy("float64"))
        write_netcdf3(path, {dim: len(pdf)}, variables, attrs=self.attrs or {})

    def dump_to_store(self, store, **kwargs) -> None:
        """Legacy store-object write surface (xarray/core/dataset.py:2018).
        The engine's stores are path-addressed (zarr directory / CDF
        file), so a str/PathLike routes by extension; the reference's
        in-memory AbstractDataStore objects have no distributed
        counterpart and raise with guidance."""
        import os as _os
        if isinstance(store, (str, _os.PathLike)):
            p = _os.fspath(store)
            if p.endswith(".zarr") or _os.path.isdir(p):
                self.to_zarr(p, **kwargs)
            elif kwargs:
                # to_netcdf takes no store options here — dropping them
                # silently would discard e.g. mode= (round-10 ADVICE #3)
                raise TypeError(
                    "dump_to_store to a netCDF target accepts no "
                    f"keyword options (got {sorted(kwargs)}); only the "
                    "zarr store honors them")
            else:
                self.to_netcdf(p)
            return
        raise NotImplementedError(
            "dump_to_store accepts a path (.zarr directory or netCDF "
            "file); in-memory AbstractDataStore objects are a "
            "single-process construct — use to_zarr/to_netcdf")

    @classmethod
    def load_store(cls, store, decoder=None) -> "XDataset":
        """Legacy store-object read surface (xarray/core/dataset.py:423):
        path-addressed stores route through open_dataset (CF decoding
        applied there; ``decoder`` mirrors the reference hook)."""
        import os as _os
        if isinstance(store, (str, _os.PathLike)):
            from pyspark.sql import SparkSession
            from xarray_spark.io import open_dataset
            spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
            ds = open_dataset(spark, _os.fspath(store))
            return decoder(ds) if decoder is not None else ds
        raise NotImplementedError(
            "load_store accepts a path; in-memory AbstractDataStore "
            "objects are a single-process construct — use open_dataset")

    def to_zarr(self, store: str, dim: str | None = None,
                chunk_rows: int = 100_000, zarr_format: int = 2,
                mode: str = "w", region: dict | None = None,
                append_dim: str | None = None,
                chunks: dict | None = None) -> None:
        """Chunk-parallel zarr write (xarray/core/dataset.py:2204
        to_zarr): each Spark task serializes and writes its own chunk
        file; the driver writes only metadata and the label-sized
        coordinate array (backends.to_zarr_distributed).

        ``region={dim: slice(start, stop)}`` overwrites a chunk-aligned
        slice of an existing store; ``append_dim=dim`` extends it —
        both write ONLY the affected chunk files from executors (see
        backends._to_zarr_update for the alignment rules)."""
        from xarray_spark.backends import to_zarr_distributed
        to_zarr_distributed(self, store, dim, chunk_rows,
                            zarr_format=zarr_format, mode=mode,
                            region=region, append_dim=append_dim,
                            chunks=chunks)

    def to_parquet(self, path: str, partition_by: Sequence[str] | None = None,
                   mode: str = "overwrite", region: bool = False):
        """Sink (to_netcdf/to_zarr analogue, xarray/core/dataset.py:2028).

        Partitioning by (a prefix of) dims gives partition pruning on
        re-open — the long-form analogue of zarr chunk layout.

        ``region=True`` + ``partition_by`` performs a region write
        (xarray/core/dataset.py:2204 ``to_zarr(region=...)``): only the
        partitions present in THIS dataset are replaced, everything else
        stays — Spark's dynamic partition overwrite.  ``mode='append'``
        is the ``append_dim`` analogue (new labels land in new files/
        partitions).
        """
        import json
        w = self.df.write.mode(mode)
        if region:
            if not partition_by:
                raise ValueError("region write requires partition_by")
            w = w.option("partitionOverwriteMode", "dynamic")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        # sidecar catalog
        meta = {
            "dims": list(self.dims),
            "coords": {k: list(v) for k, v in self.coords.items()},
            "data_vars": list(self.data_vars),
            "attrs": self.attrs,
        }
        sc = self.spark.sparkContext
        # write via hadoop-free local write when possible
        try:
            with open(f"{path}/_xschema.json", "w") as f:
                json.dump(meta, f)
        except OSError:
            pass

    def to_table(self, name: str, bucket_by: Sequence[str] | None = None,
                 n_buckets: int = 32, sort_by: Sequence[str] | None = None,
                 mode: str = "overwrite") -> None:
        """Save as a bucketed table — co-located joins on dim keys
        (SCALE.md: bucketing removes the shuffle from every subsequent
        equi-join/groupBy on the bucket keys; the long-form analogue of
        zarr's chunk-aligned layout for join workloads).

        Re-open with ``spark.table(name)``; Catalyst reads the bucket
        spec from the catalog and plans shuffle-free sort-merge joins
        between tables bucketed the same way.

        The same layout makes every WINDOW op over the sorted dim
        shuffle-free: ``bucket_by`` the complement dims and ``sort_by``
        them plus the series dim, and ffill/rolling/cumsum plans over
        the reopened table carry no Exchange (the scan's
        HashPartitioning satisfies the Window's ClusteredDistribution).
        Measured at 90M values: 5.4 s vs 10-12 s unbucketed — see
        SCALE.md round-5 head-to-head and the plan guard in
        tests/test_plans.py.
        """
        w = self.df.write.mode(mode).format("parquet")
        if bucket_by:
            w = w.bucketBy(n_buckets, *bucket_by)
            w = w.sortBy(*(sort_by or bucket_by))
        w.saveAsTable(name)

    def chunk(self, n_partitions: int | None = None, by: Sequence[str] | None = None) -> "XDataset":
        """Repartition (xarray .chunk analogue, xarray/core/dataset.py:2565)."""
        if by:
            df = self.df.repartition(n_partitions or self.df.sparkSession.sparkContext.defaultParallelism, *by)
        else:
            df = self.df.repartition(n_partitions)
        return self._replace(df=df)

    def equals(self, other: "XDataset") -> bool:
        """Value equality via symmetric anti-join emptiness
        (xarray/core/dataset.py:1670)."""
        a = self.df.select(*sorted(self.df.columns))
        b = other.df.select(*sorted(other.df.columns))
        if set(a.columns) != set(b.columns):
            return False
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def identical(self, other: "XDataset") -> bool:
        """equals + matching catalog: dims order, coord mapping, var
        names, and attrs (xarray/core/dataset.py:1751)."""
        return (
            list(self.dims) == list(other.dims)
            and dict(self.coords) == dict(other.coords)
            and list(self.data_vars) == list(other.data_vars)
            and dict(self.attrs or {}) == dict(other.attrs or {})
            and self.equals(other)
        )

    def broadcast_equals(self, other: "XDataset") -> bool:
        """Equal after broadcasting both to the union of dims
        (xarray/core/dataset.py:1603) — e.g. a constant-along-t variable
        equals its reduced form."""
        from xarray_spark.alignment import broadcast as _bcast
        a, b = _bcast(self, other)
        # same dim order for the row comparison
        a = a._replace(df=a.df, dims=sorted(a.dims))
        b = b._replace(df=b.df, dims=sorted(b.dims))
        return a.equals(b)


class _LocIndexer:
    def __init__(self, ds: "XDataset"):
        self._ds = ds

    def __getitem__(self, key):
        if not isinstance(key, Mapping):
            raise TypeError("ds.loc expects a dict of {dim: label/slice}")
        return self._ds.sel(dict(key))


class XDataArray(XDataset):
    """Single-variable dataset (xarray.DataArray analogue,
    xarray/core/dataarray.py:258)."""

    def __init__(self, df, dims=None, coords=None, data_vars=None,
                 attrs=None, name=None):
        if isinstance(df, DataFrame):
            super().__init__(df, dims, coords, data_vars, attrs)
            return
        # reference signature: DataArray(data, coords=None, dims=None,
        # name=None, attrs=None) — positional reference calls put
        # coords into our `dims` slot and dims into `coords`; resolve
        # the two slots by type (a Mapping/Coordinates is coords, a
        # str/sequence-of-str is dims), so both positional and keyword
        # reference call styles land correctly.
        import numpy as np

        from xarray_spark.coordinates import Coordinates
        ref_coords = ref_dims = None
        for slot in (dims, coords):
            if slot is None:
                continue
            if isinstance(slot, (Mapping, Coordinates)):
                ref_coords = slot
            elif isinstance(slot, str) or (
                    isinstance(slot, (list, tuple))
                    and all(isinstance(x, str) for x in slot)):
                ref_dims = slot
            else:
                raise TypeError(
                    "DataArray coords must be a Mapping/Coordinates and "
                    f"dims a str or sequence of str, got {type(slot)!r}")
        if name is None and isinstance(data_vars, str):
            name = data_vars  # reference 4th positional = name
        name = name or "variable"
        arr = np.asarray(df)
        if ref_dims is not None:
            dims_t = ((ref_dims,) if isinstance(ref_dims, str)
                      else tuple(ref_dims))
        elif arr.ndim == 0:
            dims_t = ()
        else:
            # infer from coords insertion order when the 1-D entries
            # match the shape (the reference's inference), else the
            # reference's default dim_0..dim_{n-1} names
            cand = []
            if ref_coords is not None:
                for k, v in dict(ref_coords).items():
                    vv = np.asarray(v[1] if isinstance(v, tuple) else v)
                    if vv.ndim == 1:
                        cand.append((k, vv.shape[0]))
            if len(cand) == arr.ndim:
                # the reference infers dims from the coords' insertion
                # order and then VALIDATES sizes — a transposed/short
                # coord raises instead of silently falling back to
                # positional names (reference CoordinateValidationError)
                dims_t = tuple(k for k, _ in cand)
                for (k, n), s in zip(cand, arr.shape):
                    if n != s:
                        raise ValueError(
                            f"conflicting sizes for dimension {k!r}: "
                            f"length {s} on the data but length {n} on "
                            f"coordinate {k!r}")
            else:
                dims_t = tuple(f"dim_{i}" for i in range(arr.ndim))
                for k, _ in cand:
                    if k not in dims_t:
                        raise ValueError(
                            f"coordinate {k} has dimensions ({k!r},), "
                            "but these are not a subset of the DataArray "
                            f"dimensions {dims_t}")
        super().__init__({name: (dims_t, arr)}, coords=ref_coords,
                         attrs=attrs)

    @property
    def name(self) -> str:
        return self.data_vars[0]

    @property
    def str(self):
        from xarray_spark.accessors import StringAccessor
        return StringAccessor(self)

    @property
    def dt(self):
        from xarray_spark.accessors import DatetimeAccessor
        return DatetimeAccessor(self)

    def rename_var(self, new: str) -> "XDataArray":
        return XDataArray(
            self.df.withColumnRenamed(self.name, new),
            self.dims, self.coords, [new], self.attrs,
        )

    def to_series(self):
        """pandas Series indexed by the dims
        (xarray/core/dataarray.py:4032) — an action.  A 0-d array
        (every dim selected away) yields an unindexed 1-row Series."""
        pdf = self.df.select(*self.dims, self.name).toPandas()
        if not self.dims:
            return pdf[self.name]
        return pdf.set_index(list(self.dims))[self.name]

    @property
    def values(self):
        """numpy array of the (dim-sorted) values — an action.  0-d
        arrays return a 0-d numpy array like the reference."""
        if not self.dims:
            arr = self.to_series().to_numpy()
            return arr.reshape(()) if arr.size == 1 else arr
        return self.to_series().sort_index().to_numpy()

    @property
    def data(self):
        """Reference .data alias (xarray DataArray.data) — an action."""
        return self.values

    @property
    def T(self) -> "XDataArray":
        """Transpose property (xarray DataArray.T) — catalog-only in
        long form (dim order reverses, no data movement)."""
        return self.transpose(*reversed(self.dims))

    def get_axis_num(self, dim):
        """Dim name → axis position (xarray DataArray.get_axis_num)."""
        if isinstance(dim, str):
            return self.dims.index(dim)
        return tuple(self.dims.index(d) for d in dim)

    def dot(self, other, dim=None):
        """Method form of the top-level dot (xarray DataArray.dot)."""
        from xarray_spark.computation import dot as _dot_fn
        return _dot_fn(self, other, dim=dim)

    def searchsorted(self, v, side: str = "left"):
        """Insertion indices keeping the (assumed-sorted) array sorted
        (numpy searchsorted semantics).  Distributed: index = COUNT of
        values < v (side='left') / <= v (side='right') — one tiny
        conditional aggregate per probe batch, never a sort or a
        collect of the array itself."""
        import numpy as np
        scalar = np.isscalar(v)
        probes = [v] if scalar else list(v)
        col = F.col(self.name)
        aggs = []
        for i, p in enumerate(probes):
            cmp = (col < F.lit(p)) if side == "left" else (col <= F.lit(p))
            aggs.append(F.sum(cmp.cast("long")).alias(f"__c{i}"))
        row = self.df.agg(*aggs).first()
        out = np.array([row[f"__c{i}"] or 0 for i in range(len(probes))])
        return int(out[0]) if scalar else out

    @classmethod
    def from_series(cls, spark, series, name: str | None = None):
        """Classmethod parity (xarray DataArray.from_series)."""
        from xarray_spark.io import from_series as _fs
        return _fs(spark, series, name)

    @property
    def dtype(self):
        return self.df.schema[self.name].dataType

    @property
    def ndim(self) -> int:
        return len(self.dims)

    @property
    def shape(self) -> tuple:
        """Dim sizes (xarray/core/dataarray.py shape) — an ACTION here
        (one countDistinct per dim), unlike the metadata lookup of an
        in-memory array."""
        sizes = self.dim_sizes()
        return tuple(sizes[d] for d in self.dims)

    @property
    def size(self) -> int:
        import math as _math
        return _math.prod(self.shape)

    def to_numpy(self):
        """Dense N-D numpy array, dims in order — an action; raises if
        the long-form data is sparse (missing cells have no NaN rows to
        reshape into; densify() first)."""
        import numpy as np
        s = self.to_series().sort_index()
        shape = self.shape
        if len(s) != int(np.prod(shape)):
            raise ValueError(
                f"sparse data: {len(s)} rows != dense shape {shape}; "
                "use .densify() before to_numpy()")
        return s.to_numpy().reshape(shape)

    def to_index(self):
        """pandas Index of this array's VALUES in dim order (1-D only,
        xarray/core/dataarray.py:4055 — the reference converts the
        variable itself, not its dim labels; for a coordinate array the
        two coincide) — an action."""
        if len(self.dims) != 1:
            raise ValueError("to_index requires a 1-D DataArray")
        import pandas as pd
        d = self.dims[0]
        # a dim-coordinate array (name == dim, the ds[dim].to_index()
        # idiom) selects the column ONCE — selecting it twice yields a
        # duplicate-columned pandas frame and a 2-D Index input
        cols = [d] if self.name == d else [d, self.name]
        rows = self.df.select(*cols).orderBy(d).toPandas()
        # the reference names the index after the DIM (to_index_variable
        # keeps the variable's dims), even though the values are the
        # array's own
        return pd.Index(rows[self.name], name=d)

    def to_dataset(self, dim: str | None = None, name: str | None = None,
                   promote_attrs: bool = False) -> "XDataset":
        """Promote back to a Dataset (xarray/core/dataarray.py:611).
        ``dim=`` splits a dim's labels into one variable each (the
        reference's pivot form — to_dataset_pivot); attrs always ride
        in the single catalog dict (``promote_attrs`` accepted for
        parity)."""
        if dim is not None:
            if dim not in self.dims:
                # reference dataarray.py:681 — a stray positional name
                # must not silently rename (or crash in the pivot)
                raise TypeError(
                    f"{dim} is not a dim. If supplying a ``name``, pass "
                    "as a kwarg.")
            if name is not None:
                raise TypeError("cannot supply both dim and name")
            return self.to_dataset_pivot(dim)
        da = self.rename_var(name) if name else self
        return XDataset(da.df, da.dims, da.coords, da.data_vars, da.attrs)

    @property
    def variable(self):
        """No separate Variable layer in the long-form model — the
        array IS its variable (parity shim)."""
        return self

    def to_masked_array(self, copy: bool = True):
        """numpy masked array of the dim-sorted values, mask = nulls
        (xarray/core/dataarray.py:3994 to_masked_array) — an action,
        driver-sized by definition."""
        import numpy as np
        s = self.to_series().sort_index()
        vals = s.to_numpy()
        return np.ma.MaskedArray(vals, mask=s.isna().to_numpy())

    def item(self):
        """The single scalar value (xarray .item()); raises unless the
        array has exactly one element."""
        rows = self.df.select(self.name).limit(2).collect()
        if len(rows) != 1:
            raise ValueError("item() requires a single-element array")
        return rows[0][0]


# ---------------------------------------------------------------------- #
# accessor registration (xarray/core/extensions.py register_*_accessor)
# ---------------------------------------------------------------------- #

def register_dataset_accessor(name: str):
    """Attach a cached custom namespace to XDataset
    (xarray/core/extensions.py): the decorated class is constructed with
    the dataset on first access.

    >>> @register_dataset_accessor("geo")
    ... class GeoAccessor:
    ...     def __init__(self, ds): self._ds = ds
    ...     def center(self): ...
    """
    def wrap(cls):
        prop = property(lambda self: cls(self))
        setattr(XDataset, name, prop)
        return cls
    return wrap


def register_dataarray_accessor(name: str):
    def wrap(cls):
        prop = property(lambda self: cls(self))
        setattr(XDataArray, name, prop)
        return cls
    return wrap
