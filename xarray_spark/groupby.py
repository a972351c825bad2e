"""GroupBy machinery (reference: xarray/core/groupby.py).

xarray's groupby reduces **along the grouped dim**, keeping the other
dims: ``ds.groupby('numbers').mean()`` groups by (numbers, all dims the
group key does NOT cover).  In long form that is a single
``groupBy(group_key, complement_dims).agg(...)`` — Spark's partial/final
hash aggregation is the direct analogue of flox's tree reduce
(xarray/core/groupby.py:1064 _flox_reduce).

Groupby *binary ops* (``ds.groupby('k') - mean``) are the
transform/broadcast-back pattern (xarray/core/groupby.py:883) →
aggregate then broadcast-join the aggregate back on the key.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Callable

import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_spark.dataset import XDataset
from xarray_spark.groupers import Grouper, UniqueGrouper


def resolve_groupers(ds: XDataset, group, groupers: Mapping):
    """Normalize groupby arguments to ([(key_name, key_expr,
    source_dim)], season_deferred).

    ``source_dim`` is the dim the grouper consumes (reduced over); the
    group key replaces it in the output.  ``season_deferred`` lists
    drop_incomplete SeasonResamplers whose trim is NOT yet resolved:
    the aggregation path decides it from aggregated per-instance month
    positions (no pre-scan job — round-10 verdict #2); the lazy
    group-membership paths resolve a keep_range on first use."""
    keys: list[tuple[str, Column, tuple]] = []
    season_deferred: list[tuple] = []

    def source_dim_of(col_name: str) -> tuple:
        """Dims consumed (reduced over) by grouping on this column.

        A dim key consumes itself; a coord consumes the dims it is keyed
        by; a data var (or computed key) varies over every dim → consumes
        all of them (xarray: group dim = the variable's dims).
        """
        if col_name in ds.dims:
            return (col_name,)
        if col_name in ds.coords:
            return tuple(ds.coords[col_name])
        return tuple(ds.dims)

    if group is not None:
        if isinstance(group, str):
            keys.append((group, F.col(group), source_dim_of(group)))
        elif isinstance(group, Mapping):
            groupers = {**group, **groupers}
        elif isinstance(group, (list, tuple)):
            for g in group:
                keys.append((g, F.col(g), source_dim_of(g)))
        else:
            raise TypeError(type(group))
    for name, g in (groupers or {}).items():
        if isinstance(g, Grouper):
            from xarray_spark.groupers import SeasonResampler, TimeResampler
            if (isinstance(g, SeasonResampler) and g.drop_incomplete
                    and g.keep_range is None):
                season_deferred.append((name, g, name))
            if (isinstance(g, TimeResampler) and g.day_anchor is None
                    and not g.month_anchor):
                # a bare TimeResampler passed to groupby() gets the same
                # first-point calendar anchors AND origin offset
                # resample() computes — pandas nMS/nW bins anchor at the
                # data start, and multi-day/odd Tick widths anchor at
                # origin (default start_day: the data's first midnight —
                # round-11 fuzz find: '2D' binned on the epoch grid)
                import dataclasses
                from xarray_spark.resample import (_calendar_anchors,
                                                   _origin_offset_micros)
                from xarray_spark.groupers import _offset_micros
                if g.origin in ("end", "end_day"):
                    g = dataclasses.replace(
                        g, closed=g.closed or "right",
                        label=g.label or "right")
                extra = _origin_offset_micros(ds, name, g.freq, g.origin)
                if extra:
                    base = (_offset_micros(g.offset)
                            if g.offset is not None else 0)
                    g = dataclasses.replace(g, offset=f"{base + extra}us")
                ma, da = _calendar_anchors(ds, name, g.freq, g.closed)
                if ma or da is not None:
                    g = dataclasses.replace(g, month_anchor=ma,
                                            day_anchor=da)
            label = name if isinstance(g, UniqueGrouper) else f"{name}_bins" if g.__class__.__name__ == "BinGrouper" else name
            keys.append((label, g.key_expr(F.col(name)), source_dim_of(name)))
        elif isinstance(g, str):
            keys.append((name, F.expr(g), source_dim_of(name)))
        else:
            keys.append((name, g, source_dim_of(name)))
    return keys, season_deferred


class XGroupBy:
    """Lazy groupby over an XDataset."""

    #: reference introspection name: the wrapped object
    obj = property(lambda self: self.ds)
    #: reference introspection parity (GroupBy.groupers): the resolved
    #: grouper objects — XResample carries its TimeResampler; plain
    #: groupby exposes the key names
    groupers = property(lambda self: (
        (self._grouper,) if getattr(self, "_grouper", None) is not None
        else tuple(self._key_names)))

    def assign_coords(self, coords=None, **kw):
        """Apply assign_coords within each group (reference
        groupby.py GroupBy.assign_coords).  The reference's alignment
        only admits scalar / group-consistent values here (a
        full-length coord raises AlignmentError on its side too), and
        applying such a value per group then recombining IS the plain
        dataset op on the long table — so it delegates directly."""
        return self.ds.assign_coords(coords, **kw)

    def __init__(self, ds: XDataset, keys: list[tuple[str, Column, tuple]],
                 season_deferred: list | None = None):
        self.ds = ds
        self.keys = keys
        self._key_names = [k[0] for k in keys]
        self._consumed = {d for k in keys for d in k[2]}
        #: unresolved drop_incomplete SeasonResamplers
        #: [(label, grouper, source_col)] — see resolve_groupers
        self._season_deferred = season_deferred or []
        self._season_trimmed_exprs: dict | None = None

    # dims kept through the reduction = dims not consumed by any grouper
    @property
    def _kept_dims(self) -> list[str]:
        return [d for d in self.ds.dims if d not in self._consumed]

    def _season_trimmed(self) -> dict:
        """Lazy keep_range resolution for the NON-aggregation paths
        (map/groups/shift/quantile/…): group membership must exclude
        incomplete boundary season instances BEFORE per-group work, so
        these paths still pay the one (fingerprint-cached) data-range
        lookup.  The aggregation path never calls this — it trims from
        aggregated month positions instead (round-10 verdict #2)."""
        if self._season_trimmed_exprs is None:
            import dataclasses
            from xarray_spark.resample import _season_keep_range
            resolved: dict = {}
            for label, g, src in self._season_deferred:
                kr = _season_keep_range(self.ds, src, g)
                if kr is not None:
                    g2 = dataclasses.replace(g, keep_range=kr)
                    resolved[label] = g2.key_expr(F.col(src))
            self._season_trimmed_exprs = resolved
        return self._season_trimmed_exprs

    def _prepared(self, season_trim: bool = True) -> XDataset:
        """Materialize key columns on the dataframe.  Rows whose key is
        null or NaN belong to no group and are dropped — pandas/xarray
        factorize excludes NaN labels (reference groupby.py; pandas
        cut drops out-of-bin values the same way).

        ``season_trim=False`` (the aggregation path) keeps incomplete
        boundary season instances in — the caller drops them post-agg
        via _season_extra_aggs/_season_apply_trim."""
        trimmed = (self._season_trimmed()
                   if season_trim and self._season_deferred else {})
        df = self.ds.df
        cond = None
        for name, expr, _src in self.keys:
            kname = f"__key_{name}"
            df = df.withColumn(kname, trimmed.get(name, expr))
            k = F.col(kname)
            c = k.isNotNull()
            if isinstance(df.schema[kname].dataType,
                          (T.FloatType, T.DoubleType)):
                c = c & ~F.isnan(k)
            cond = c if cond is None else (cond & c)
        if cond is not None:
            df = df.where(cond)
        return self.ds._replace(df=df)

    def shift(self, shifts: Mapping[str, int] | None = None,
              fill_value=None, **shifts_kw) -> XDataset:
        """Shift each group's values along a dim (pandas
        GroupBy.shift semantics — an engine extension; the reference
        DatasetGroupBy dropped shift): window lag/lead partitioned by
        (group key, other dims) — slots shifted in from outside the
        group get fill_value (default missing)."""
        shifts = {**(shifts or {}), **shifts_kw}
        prepped = self._prepared()
        keys = [f"__key_{n}" for n in self._key_names]
        out_df = prepped.df
        for dim, n in shifts.items():
            others = [d for d in self.ds.dims if d != dim]
            w = Window.partitionBy(*keys, *others).orderBy(dim)
            rn = F.row_number().over(w)
            cnt = F.count(F.lit(1)).over(Window.partitionBy(*keys, *others))
            exprs = []
            for c in out_df.columns:
                if c in self.ds.data_vars and c not in self._key_names:
                    if n >= 0:
                        e = F.when(rn > n, F.lag(c, n).over(w)) \
                             .otherwise(F.lit(fill_value))
                    else:
                        e = F.when(rn <= cnt + n, F.lead(c, -n).over(w)) \
                             .otherwise(F.lit(fill_value))
                    exprs.append(e.alias(c))
                else:
                    exprs.append(F.col(c))
            out_df = out_df.select(*exprs)
        return self.ds._replace(df=out_df.drop(*keys))

    def _season_extra_aggs(self) -> list[Column]:
        """Hidden per-group aggregates riding the MAIN aggregation:
        min/max month-POSITION per season instance (one when-chain,
        shared by both aggregates).  They cost two tiny min/max slots
        inside the aggregation that runs anyway — no pre-scan job
        (round-10 verdict #2)."""
        extra = []
        for label, g, src in self._season_deferred:
            pos = g.month_pos_expr(F.col(src))
            extra.append(F.min(pos).alias(f"__spos_{label}"))
            extra.append(F.max(pos).alias(f"__spxx_{label}"))
        return extra

    def _season_apply_trim(self, df):
        """drop_incomplete decided on the AGGREGATED (instance-sized)
        frame: the GLOBALLY first/last season instances drop iff their
        earliest/latest observed month misses the season edge —
        identical to the keep_range semantics, which derived the same
        predicate from a pre-scan data-range job.  The global boundary
        structs (first label, its min pos) / (last label, its max pos)
        come from a 1-ROW aggregation broadcast-crossJoined back —
        never an unpartitioned window, which would funnel the whole
        aggregate through one task when the groupby keeps large
        complement dims (round-11 ADVICE #3); months-remaining =
        season_len−1−max pos, with season_len keyed off the label
        month (the label IS the season's first month by
        construction)."""
        from xarray_spark.groupers import _season_to_month_tuple
        for label, g, src in self._season_deferred:
            lab = F.col(label)
            spos = F.col(f"__spos_{label}")
            spxx = F.col(f"__spxx_{label}")
            bounds = df.agg(
                F.min(F.struct(lab.alias("k"), spos.alias("v")))
                .alias("__slo"),
                F.max(F.struct(lab.alias("k"), spxx.alias("v")))
                .alias("__shi"))
            # season length from the label's (first) month
            m = F.month(lab)
            ln = None
            for months in _season_to_month_tuple(list(g.seasons)):
                cond = m == F.lit(int(months[0]))
                ln = (F.when(cond, F.lit(len(months))) if ln is None
                      else ln.when(cond, F.lit(len(months))))
            df = (df.crossJoin(F.broadcast(bounds))
                    .where(~((lab == F.col("__slo")["k"])
                             & (F.col("__slo")["v"] != 0))
                           & ~((lab == F.col("__shi")["k"])
                               & (F.col("__shi")["v"] != ln - 1)))
                    .drop("__slo", "__shi",
                          f"__spos_{label}", f"__spxx_{label}"))
        return df

    def _agg(self, exprs_for: Callable[[str], Column], numeric_only=False,
             skipna=True, funcname: str = "", ddof: int = 0,
             _pre=None) -> XDataset:
        season_agg_trim = bool(self._season_deferred)
        prepped = self._prepared(season_trim=not season_agg_trim)
        kept = self._kept_dims
        coords = self.ds._coords_on(kept)
        varlist = [
            v for v in self.ds.data_vars
            if (not numeric_only or _numeric(self.ds, v))
            # a data var grouped BY becomes the group index (xarray:
            # the group variable is consumed), not an aggregated var
            and v not in self._key_names
        ]
        group_cols = [f"__key_{n}" for n in self._key_names] + kept + list(coords)
        reduced = [d for d in self.ds.dims if d not in kept]
        from xarray_spark._utils import nan_to_null
        base = nan_to_null(prepped.df, varlist, prepped.df.schema)
        # dict-constructor broadcast vars reduce over THEIR OWN dims
        # only, exactly as Dataset._reduce: partial overlap with the
        # consumed dims -> dedup-first aggregation; no overlap -> the
        # reference's empty-axis semantics (wave-40 groupby find).
        # ``_pre`` (the var/std demeaning hook: per-group helper columns
        # like __mu_{v} that exprs_for may reference) is applied PER
        # AGGREGATION STAGE — the dedup stages demean their own deduped
        # frame, so the two-pass exactness covers var_dims vars too
        # (round-10: closed the groupby single-pass hole).
        vd = getattr(self.ds, "var_dims", {}) or {}
        partial: dict[tuple, list] = {}
        main_vars: list = []
        aggs = []
        for v in varlist:
            own = vd.get(v)
            valid = own is not None and set(own) <= set(self.ds.dims)
            if valid and set(own) & set(reduced) and set(reduced) - set(own):
                partial.setdefault(
                    tuple(d for d in reduced if d in own), []).append(v)
                continue
            if valid and set(reduced) - set(own):
                f = F.first(v)
                if funcname == "count":
                    e = f.isNotNull().cast("long")
                elif funcname in ("std", "var"):
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
                e = F.when(F.max(F.col(v).isNull().cast("int")) == 1, F.lit(None)).otherwise(e)
            aggs.append(e.alias(v))
            main_vars.append(v)
        season_cols: list[str] = []
        if season_agg_trim:
            if aggs:
                extra = self._season_extra_aggs()
                season_cols = [
                    f"__{k}_{lbl}" for lbl, _g, _s in self._season_deferred
                    for k in ("spos", "spxx")]
                aggs = aggs + extra
            else:
                # every var routes through a var_dims dedup stage — the
                # hidden month-position aggs need the RAW frame, so fall
                # back to the resolved keep_range membership trim
                season_agg_trim = False
                prepped = self._prepared()
                base = nan_to_null(prepped.df, varlist, prepped.df.schema)
        frame = _pre(base, group_cols, main_vars) if _pre and main_vars else base
        out = frame.groupBy(*group_cols).agg(*aggs) if aggs else None
        for own_reduced, group in partial.items():
            sub_keys = group_cols + list(own_reduced)
            stage1 = base.groupBy(*sub_keys).agg(
                *[F.first(v, ignorenulls=False).alias(v) for v in group])
            sub_aggs = []
            for v in group:
                e = exprs_for(v)
                if not skipna:
                    e = F.when(F.max(F.col(v).isNull().cast("int")) == 1,
                               F.lit(None)).otherwise(e)
                sub_aggs.append(e.alias(v))
            sframe = _pre(stage1, group_cols, group) if _pre else stage1
            stage2 = sframe.groupBy(*group_cols).agg(*sub_aggs)
            if out is None:
                out = stage2
            else:
                # null-safe: groupBy keeps NULL group keys, `=` drops them
                from xarray_spark._utils import null_safe_join
                out = null_safe_join(out, stage2, group_cols)
        if partial:
            out = out.select(*group_cols, *varlist, *season_cols)
        for n in self._key_names:
            out = out.withColumnRenamed(f"__key_{n}", n)
        if season_agg_trim:
            out = self._season_apply_trim(out)
        dims = self._key_names + kept
        res = XDataset(out, dims, coords, varlist, self.ds.attrs)
        new_vd = {}
        for v, own in vd.items():
            if v not in varlist or not set(own) <= set(self.ds.dims):
                continue
            res_own = tuple(self._key_names) + tuple(
                d for d in own if d in kept)
            if set(res_own) != set(dims):
                new_vd[v] = res_own
        res.var_dims = new_vd
        return res

    def agg(self, **exprs: Column) -> XDataset:
        """Named aggregate expressions (engine extension beyond xarray's
        one-function-at-a-time reductions; Spark gives it free)."""
        if not exprs:
            raise ValueError(
                "agg() needs at least one named expression, e.g. "
                "agg(total=F.sum('v')) — or use .mean()/.sum()/… for "
                "the xarray-style reductions"
            )
        season_agg_trim = bool(self._season_deferred)
        prepped = self._prepared(season_trim=not season_agg_trim)
        kept = self._kept_dims
        coords = self.ds._coords_on(kept)
        group_cols = [f"__key_{n}" for n in self._key_names] + kept + list(coords)
        named = [e.alias(n) for n, e in exprs.items()]
        if season_agg_trim:
            named = named + self._season_extra_aggs()
        out = prepped.df.groupBy(*group_cols).agg(*named)
        for n in self._key_names:
            out = out.withColumnRenamed(f"__key_{n}", n)
        if season_agg_trim:
            out = self._season_apply_trim(out)
        return XDataset(out, self._key_names + kept, coords, list(exprs), self.ds.attrs)

    def mean(self, skipna=True): return self._agg(lambda v: F.avg(v), True, skipna)
    def sum(self, skipna=True, min_count=0):
        def e(v):
            s = F.sum(v)
            if min_count > 0:
                return F.when(F.count(v) >= min_count, s)
            return F.coalesce(s, F.lit(0.0))
        return self._agg(e, True, skipna)
    def min(self, skipna=True): return self._agg(lambda v: F.min(v), False, skipna)
    def max(self, skipna=True): return self._agg(lambda v: F.max(v), False, skipna)
    def count(self): return self._agg(lambda v: F.count(v), funcname="count")
    def _var_agg(self, ddof: int, sqrt: bool) -> XDataset:
        """np-exact grouped var/std: TWO-PASS demeaned (mean join, then
        Σdev²/(n−ddof)) — Spark's online central moments drift with the
        value offset (4e-6 rel at offset 1e12; see Dataset._var_demeaned
        and SCALE.md round 9), the demeaned form stays exact.  The
        ``_pre`` hook runs per aggregation stage, so constructor-
        broadcast var_dims frames demean their deduped slices too
        (round 10 — the last single-pass formula is gone)."""
        funcname = "std" if sqrt else "var"
        from xarray_spark._utils import null_safe_join

        def pre(base, group_cols, varlist):
            mean_aggs = [F.avg(F.col(v).cast("double")).alias(f"__mu_{v}")
                         for v in varlist]
            means = base.groupBy(*group_cols).agg(*mean_aggs)
            # group-count-sized table: no broadcast hint, AQE decides
            return null_safe_join(base, means, group_cols)

        def e(v):
            vc = F.col(v).cast("double")
            dev = vc - F.col(f"__mu_{v}")
            n = F.count(vc)
            out = F.when(n > ddof, F.sum(dev * dev) / (n - F.lit(ddof)))
            return F.sqrt(out) if sqrt else out
        return self._agg(e, True, funcname=funcname, ddof=ddof, _pre=pre)

    def std(self, ddof=0): return self._var_agg(ddof, sqrt=True)
    def var(self, ddof=0): return self._var_agg(ddof, sqrt=False)
    def median(self):
        # np.nanmedian semantics (mean-of-middles), not quantile(0.5)'s
        # two-sided lerp — they differ at the last ULP
        return self._quantile_exact([0.5], method="np_median")
    def prod(self): return self._agg(lambda v: F.product(v), True)
    def all(self): return self._agg(lambda v: F.bool_and(F.col(v).cast("boolean")), funcname="all")
    def any(self): return self._agg(lambda v: F.bool_or(F.col(v).cast("boolean")), funcname="any")

    def first(self):
        """First non-null by dim order (xarray/core/groupby.py:1498)."""
        return self._ordered_pick(asc=True)

    def last(self):
        return self._ordered_pick(asc=False)

    def _ordered_pick(self, asc: bool) -> XDataset:
        order_dim = next(iter(self._consumed), None)
        if order_dim is None:
            raise ValueError("first/last needs a consumed dim")
        col = F.col(order_dim)

        def e(v):
            # min_by/max_by over non-null values only
            pair = F.when(F.col(v).isNotNull(), F.struct(col.alias("k"), F.col(v).alias("v")))
            agg = F.min(pair) if asc else F.max(pair)
            return agg.getField("v")
        return self._agg(e)

    def quantile(self, q, method: str = "linear", skipna: bool = True):
        """Exact per-group quantile(s) (xarray GroupBy.quantile).

        A scalar ``q`` keeps the reference's scalar shape (no quantile
        dim); a list adds a ``quantile`` dim like Dataset.quantile.
        ``skipna=False`` poisons any group containing NaN (numpy
        semantics).
        """
        scalar = not isinstance(q, (list, tuple))
        return self._quantile_exact([q] if scalar else list(q), method,
                                    skipna, scalar)

    def _quantile_exact(self, qs: list, method: str = "linear",
                        skipna: bool = True,
                        scalar: bool = True) -> XDataset:
        """Dataset.quantile applied per group (reference
        core/groupby.py:1285): the group keys become leading
        ``__key_<k>`` dims of a keyed view, and Dataset.quantile
        reduces the consumed dims — so the plan pick, the broadcast-var
        dedup and the NaN poisoning are its own."""
        keyed = {f"__key_{n}": n for n in self._key_names}
        varlist = [v for v in self.ds.data_vars
                   if _numeric(self.ds, v) and v not in self._key_names]
        prepped = self._prepared()
        # a plain XDataset whatever ds is: grouped results are datasets
        view = XDataset(prepped.df, list(keyed) + list(self.ds.dims),
                        prepped.coords, varlist, prepped.attrs)
        view.var_dims = {v: tuple(keyed) + tuple(own)
                         for v, own in prepped.var_dims.items()
                         if v in varlist}
        out = view.quantile(qs, dim=[d for d in self.ds.dims
                                     if d in self._consumed],
                            method=method, skipna=skipna)
        drop = {"quantile"} if scalar else set()
        dims = [keyed.get(d, d) for d in out.dims if d not in drop]
        vd = {}
        for v, own in out.var_dims.items():
            own = tuple(keyed.get(d, d) for d in own if d not in drop)
            if set(own) != set(dims):
                vd[v] = own
        df = out.df.drop(*drop)
        for k, n in keyed.items():
            df = df.withColumnRenamed(k, n)
        return out._replace(df=df, dims=dims, var_dims=vd)

    def map(self, func, schema=None) -> XDataset:
        """Split-apply-combine UDTF (xarray/core/groupby.py:1614) →
        applyInPandas (true grouped-map: arbitrary rows out).

        ``schema=None`` infers the output schema by running ``func`` on
        ONE bounded group sample (≤1000 rows to the driver, once at plan
        time) — pass it explicitly in production pipelines."""
        prepped = self._prepared()
        group_cols = [f"__key_{n}" for n in self._key_names]
        if schema is None:
            first = prepped.df.limit(1).collect()
            if not first:
                raise ValueError("map(schema=None) on an empty dataset")
            k0 = first[0]
            cond = None
            for c in group_cols:
                e = (F.col(c) == F.lit(k0[c])) if k0[c] is not None else F.col(c).isNull()
                cond = e if cond is None else (cond & e)
            sample = prepped.df.where(cond).limit(1000).toPandas()
            schema = self.ds.spark.createDataFrame(func(sample)).schema
        out = prepped.df.groupBy(*group_cols).applyInPandas(func, schema)
        for n in self._key_names:
            if f"__key_{n}" not in out.columns:
                continue
            if n in out.columns:
                # plain-column key: func already sees (and returned) the
                # source column — renaming the internal __key_ copy too
                # would emit a DUPLICATE column (wave-42 fix)
                out = out.drop(f"__key_{n}")
            else:
                out = out.withColumnRenamed(f"__key_{n}", n)
        return XDataset(out, self._key_names, {}, None, self.ds.attrs)

    def apply(self, func, schema) -> XDataset:
        """Deprecated alias of map (xarray/core/groupby.py apply)."""
        return self.map(func, schema)

    def reduce(self, func, dim=None, dtype: str = "double") -> XDataset:
        """Generic per-group array reduction (xarray/core/groupby.py
        GroupBy.reduce): ``func`` is a numpy callable collapsing each
        data var's group values to a scalar.  Runs as a grouped-agg
        pandas UDF — one Arrow batch per (group, var), the same shuffle
        as the built-in reductions."""
        @F.pandas_udf(dtype)
        def red(v: pd.Series) -> float:
            return func(v.to_numpy())

        return self._agg(lambda v: red(F.col(v)), True)

    def shuffle_to_chunks(self) -> XDataset:
        """Co-locate each group's rows in one partition (the analogue of
        xarray/core/groupby.py shuffle_to_chunks, which re-chunks dask
        arrays group-aligned): a single repartition on the group keys,
        after which every per-group op — map/applyInPandas, window —
        runs shuffle-free on the cached layout."""
        exprs = [expr for _, expr, _src in self.keys]
        return self.ds._replace(df=self.ds.df.repartition(*exprs))

    # ---- groupby binary ops: ds.groupby('k') - ds.groupby('k').mean() ----

    def _binary_with_agg(self, agg_ds: XDataset, op) -> XDataset:
        """Transform pattern: broadcast-join the (small) aggregate back on
        the group key, apply op per data var."""
        prepped = self._prepared()
        key_map = {n: f"__key_{n}" for n in self._key_names}
        a_df = agg_ds.df
        renames = {v: f"__agg_{v}" for v in agg_ds.data_vars}
        for old, new in renames.items():
            a_df = a_df.withColumnRenamed(old, new)
        join_on = [
            prepped.df[key_map[n]] == a_df[n] for n in self._key_names if n in agg_ds.df.columns
        ]
        joined = prepped.df.join(F.broadcast(a_df), join_on, "left")
        exprs = []
        for c in self.ds.df.columns:
            if c in self.ds.data_vars and f"__agg_{c}" in a_df.columns:
                exprs.append(op(F.col(c), F.col(f"__agg_{c}")).alias(c))
            else:
                exprs.append(prepped.df[c])
        return self.ds._replace(df=joined.select(*exprs))

    def __sub__(self, other):
        if isinstance(other, XDataset):
            return self._binary_with_agg(other, lambda a, b: a - b)
        return NotImplemented

    def __add__(self, other):
        if isinstance(other, XDataset):
            return self._binary_with_agg(other, lambda a, b: a + b)
        return NotImplemented

    def __truediv__(self, other):
        if isinstance(other, XDataset):
            from xarray_spark._utils import ieee_div
            return self._binary_with_agg(other, ieee_div)
        return NotImplemented

    def fillna(self, value) -> XDataset:
        """Fill with per-group values (xarray/core/groupby.py:1259);
        a scalar fill is group-independent and delegates to
        Dataset.fillna (the reference does the same via ops)."""
        if isinstance(value, XDataset):
            return self._binary_with_agg(value, lambda a, b: F.coalesce(a, b))
        if isinstance(value, (int, float)):
            return self.ds.fillna(value)
        raise TypeError(type(value))

    def cumsum(self) -> XDataset:
        """Cumulative sum within groups along the consumed dim."""
        prepped = self._prepared()
        order_dim = next(iter(self._consumed))
        keys = [f"__key_{n}" for n in self._key_names]
        kept = self._kept_dims
        w = Window.partitionBy(*keys, *kept).orderBy(order_dim).rowsBetween(Window.unboundedPreceding, 0)
        exprs = [
            F.sum(c).over(w).alias(c) if c in self.ds.data_vars and _numeric(self.ds, c) else F.col(c)
            for c in self.ds.df.columns
        ]
        return self.ds._replace(df=prepped.df.select(*exprs))

    def cumprod(self) -> XDataset:
        """Cumulative product within groups along the consumed dim
        (xarray GroupBy.cumprod) — log-free: Spark has no product
        window, so exp(sum(ln|x|)) with sign/zero bookkeeping would
        lose exactness; instead use the product aggregate over the
        expanding frame (Spark ≥3.2 F.product is a true aggregate)."""
        prepped = self._prepared()
        order_dim = next(iter(self._consumed))
        keys = [f"__key_{n}" for n in self._key_names]
        kept = self._kept_dims
        w = Window.partitionBy(*keys, *kept).orderBy(order_dim) \
                  .rowsBetween(Window.unboundedPreceding, 0)
        exprs = [
            F.product(c).over(w).alias(c)
            if c in self.ds.data_vars and _numeric(self.ds, c) else F.col(c)
            for c in self.ds.df.columns
        ]
        return self.ds._replace(df=prepped.df.select(*exprs))

    @property
    def dims(self):
        """Output dims (xarray GroupBy.dims): key names + kept dims."""
        return tuple(self._key_names) + tuple(self._kept_dims)

    @property
    def sizes(self) -> dict:
        """Group sizes (xarray GroupBy.sizes semantics rendered
        long-form: {key_tuple: row count} — one tiny agg)."""
        prepped = self._prepared()
        keys = [f"__key_{n}" for n in self._key_names]
        rows = prepped.df.groupBy(*keys).count().collect()
        if len(self._key_names) == 1:
            return {r[keys[0]]: r["count"] for r in rows}
        return {tuple(r[k] for k in keys): r["count"] for r in rows}


def _numeric(ds: XDataset, v: str) -> bool:
    return isinstance(
        ds.df.schema[v].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType),
    )


def salted_agg(ds: XDataset, keys: list[str], aggs: Mapping[str, tuple],
               salt: int = 16) -> XDataset:
    """Two-phase aggregation with key salting for skewed group keys.

    Spark's hash agg already does map-side partials, but a single
    pathological key still lands its ENTIRE final-stage traffic on one
    reducer.  Salting splits each key into ``salt`` sub-keys for the
    first shuffle, then re-aggregates the (keys × salt)-sized partials —
    the second shuffle carries only partial rows.  This is the classic
    skew defense at 100 TB (AQE handles moderate skew automatically;
    salting is for the chronic case — SCALE.md §alignment).

    ``aggs[name] = (op, col)`` with op ∈ {sum,count,min,max,avg}:
    the decomposable set (avg = sum/count re-derived in phase 2).
    """
    df = ds.df.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    p1, p2, post = [], [], {}
    for name, (op, col) in aggs.items():
        if op == "sum":
            p1.append(F.sum(col).alias(f"__{name}"))
            p2.append(F.sum(f"__{name}").alias(name))
        elif op == "count":
            c = F.count(F.lit(1)) if col in ("*", None) else F.count(col)
            p1.append(c.alias(f"__{name}"))
            p2.append(F.sum(f"__{name}").cast("long").alias(name))
        elif op == "min":
            p1.append(F.min(col).alias(f"__{name}"))
            p2.append(F.min(f"__{name}").alias(name))
        elif op == "max":
            p1.append(F.max(col).alias(f"__{name}"))
            p2.append(F.max(f"__{name}").alias(name))
        elif op == "avg":
            p1.append(F.sum(col).alias(f"__s_{name}"))
            p1.append(F.count(col).alias(f"__c_{name}"))
            p2.append(F.sum(f"__s_{name}").alias(f"__s2_{name}"))
            p2.append(F.sum(f"__c_{name}").alias(f"__c2_{name}"))
            post[name] = F.col(f"__s2_{name}") / F.col(f"__c2_{name}")
        else:
            raise ValueError(f"op {op!r} is not salting-decomposable")
    partial = df.groupBy(*keys, "__salt").agg(*p1)
    final = partial.groupBy(*keys).agg(*p2)
    for name, expr in post.items():
        final = final.withColumn(name, expr)
    final = final.drop(*[c for c in final.columns if c.startswith("__")])
    return XDataset(final, keys, {}, list(aggs), ds.attrs)


def _groups_impl(gb: "XGroupBy") -> dict:
    """Materialized group-key → XDataset mapping
    (xarray/core/groupby.py:823 groups / :848 __iter__).

    Driver-side by design — iteration over groups is an inherently
    driver-paced API; each yielded dataset is still a lazy filtered
    plan, not collected data."""
    prepped = gb._prepared()
    key_cols = [f"__key_{n}" for n in gb._key_names]
    keys = prepped.df.select(*key_cols).distinct().collect()
    out = {}
    for row in keys:
        vals = tuple(row[c] for c in key_cols)
        cond = None
        for c, v in zip(key_cols, vals):
            e = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            cond = e if cond is None else (cond & e)
        sub = prepped.df.where(cond).drop(*key_cols)
        key = vals[0] if len(vals) == 1 else vals
        out[key] = gb.ds._replace(df=sub)
    return out


def _patch_groupby_iteration():
    XGroupBy.groups = property(lambda self: _groups_impl(self))
    XGroupBy.__iter__ = lambda self: iter(_groups_impl(self).items())
    XGroupBy.__len__ = lambda self: len(_groups_impl(self))


_patch_groupby_iteration()


def _patch_groupby_transforms():
    """Per-group where/assign (xarray/core/groupby.py:1438 where,
    :1940 assign): broadcast-join a per-group aggregate back on the key,
    then a columnar expression — no second shuffle of the fact table."""

    def where(self, cond_agg: "XDataset", other=None) -> XDataset:
        """Mask rows of groups failing a per-group condition.  cond_agg
        is a single-boolean-var aggregate over the same group keys."""
        prepped = self._prepared()
        cname = cond_agg.data_vars[0]
        a_df = cond_agg.df.withColumnRenamed(cname, "__gcond")
        on = [
            prepped.df[f"__key_{n}"] == a_df[n]
            for n in self._key_names if n in a_df.columns
        ]
        if not on:
            raise ValueError(
                f"cond aggregate has none of the group keys {self._key_names}"
            )
        joined = prepped.df.join(F.broadcast(a_df), on, "left")
        exprs = []
        for c in self.ds.df.columns:
            if c in self.ds.data_vars:
                repl = F.lit(None) if other is None else F.lit(other)
                exprs.append(
                    F.when(F.coalesce(F.col("__gcond"), F.lit(False)), prepped.df[c])
                    .otherwise(repl).alias(c)
                )
            else:
                exprs.append(prepped.df[c])
        return self.ds._replace(df=joined.select(*exprs))

    def assign(self, **agg_exprs: Column) -> XDataset:
        """Attach per-group aggregate values as new columns on every row
        of the group (the transform/broadcast-back pattern)."""
        agg_ds = self.agg(**agg_exprs)
        prepped = self._prepared()
        a_df = agg_ds.df
        for n in agg_exprs:
            a_df = a_df.withColumnRenamed(n, f"__ga_{n}")
        on = [
            prepped.df[f"__key_{k}"] == a_df[k]
            for k in self._key_names if k in a_df.columns
        ]
        joined = prepped.df.join(F.broadcast(a_df), on, "left")
        exprs = [prepped.df[c] for c in self.ds.df.columns]
        exprs += [F.col(f"__ga_{n}").alias(n) for n in agg_exprs]
        return self.ds._replace(
            df=joined.select(*exprs),
            data_vars=list(self.ds.data_vars) + list(agg_exprs),
        )

    XGroupBy.where = where
    XGroupBy.assign = assign


_patch_groupby_transforms()
