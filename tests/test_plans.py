"""Physical-plan regression guards: the scale-critical plan properties
(SCALE.md core invariants) asserted on the real optimized plans, so a
future refactor that silently loses pushdown or broadcasts fails CI."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry(spark):
    import __spark_entry__ as em
    return em


def test_sel_filter_reaches_parquet_scan(spark, entry):
    df = entry.q02_sel_label_slice(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_projection_pruned_to_needed_columns(spark, entry):
    df = entry.q02_sel_label_slice(spark, SF)
    plan = plan_of(df)
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    # only the columns the query touches — not the 16-column lineitem
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_binary_align_broadcasts_small_side(spark, entry):
    df = entry.q19_binary_align(spark, SF)
    assert "BroadcastHashJoin" in plan_of(df)


def test_reduction_has_partial_final_agg(spark, entry):
    df = entry.q01_pricing_summary(spark, SF)
    plan = plan_of(df)
    # partial + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2 and "Exchange" in plan


def test_label_semi_join_broadcast_for_isel(spark, entry):
    df = entry.q03_isel_head(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_dim_labels_no_global_window(spark, entry):
    """isel/head positions must come from the two-phase rank, not a
    partition-less row_number over the whole label table."""
    df = entry.q03_isel_head(spark, SF)
    plan = plan_of(df)
    # two-phase rank windows partition by __pid; the only acceptable
    # partition-less windows are over the tiny per-partition count table
    for ln in plan.splitlines():
        if "row_number()" in ln and "windowspecdefinition(" in ln:
            spec = ln.split("windowspecdefinition(", 1)[1]
            assert "__pid" in spec or "__seg" in spec, f"global row_number: {ln[:200]}"


def test_ungrouped_quantile_no_percentile_buffer(spark, entry):
    df = entry.q15_quantile(spark, SF)
    plan = plan_of(df)
    assert "percentile(" not in plan, "ungrouped quantile must not buffer the column"


def test_ffill_auto_segments_above_threshold(spark):
    from xarray_spark import XDataset
    from xarray_spark.options import set_options
    rows = [{"t": i, "v": float(i) if i % 5 == 0 else None} for i in range(400)]
    d = XDataset(spark.createDataFrame(rows, "t int, v double"), dims=["t"])
    with set_options(auto_segment_threshold=1):
        out = d.ffill("t")
        plan = plan_of(out.df)
        assert "__seg" in plan, "global-series ffill should dispatch to the segmented path"
        got = {r["t"]: r["v"] for r in out.df.collect()}
    assert got[4] == 0.0 and got[399] == 395.0


def test_no_cartesian_in_gate_queries(spark, entry):
    """No gate query may plan an unbounded cartesian product (the
    broadcast nested-loop joins from as-of label matching are bounded:
    one side is a literal label table)."""
    for name, fn in entry.queries().items():
        if name in ("q67_stream_resample", "q85_stream_asof"):  # streaming: no batch plan
            continue
        plan = plan_of(fn(spark, SF))
        assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"


def test_connected_components_joins_are_keyed(spark):
    """CC rounds must be hash/broadcast equi-joins keyed by node id —
    never a cartesian/nested-loop over the edge list."""
    from xarray_spark.extras.dedup import connected_components
    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(60)], ["id_a", "id_b"])
    out = connected_components(edges, max_iter=3)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pad_positional_broadcasts_label_side(spark):
    """Positional pad joins the (tiny) pad-spec/label tables broadcast;
    the fact table is never globally sorted."""
    from xarray_spark import XDataset
    rows = [{"t": float(i), "v": float(i)} for i in range(32)]
    d = XDataset(spark.createDataFrame(rows), dims=["t"])
    plan = plan_of(d.pad(t=(2, 2), mode="reflect").df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no partition-less global Sort over the fact side
    assert "Sort [t" not in plan.replace("SortMergeJoin", "")


def test_ivf_query_plan_has_no_ml_jobs(spark):
    """With a prefit codebook the IVF query plan is joins + literal
    expressions — no KMeans stages, no cartesian."""
    from xarray_spark.extras.similarity import ivf_fit, ivf_topk
    import numpy as np
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb = ivf_fit(emb, n_cells=4)
    q = emb.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
    out = ivf_topk(emb, q, k=2, n_cells=4, n_probe=2, centroids=cb)
    assert "CartesianProduct" not in plan_of(out)


def test_large_list_sel_method_has_no_collect(spark):
    """List-valued sel(method=) above the 128-request threshold must
    resolve through the as-of label map + semi-join — building the plan
    must not trigger ANY job (a .collect() would), and the final plan
    joins rather than inlining an isin literal list."""
    import datetime as dt
    from xarray_spark import XDataset
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    daily = li.groupBy("l_shipdate").agg(F.sum("l_quantity").alias("q"))
    ds = XDataset(daily, dims=["l_shipdate"])
    reqs = [dt.datetime(1995, 1, 1) + dt.timedelta(hours=i) for i in range(10_000)]
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = ds.sel(l_shipdate=reqs, method="nearest")  # plan construction only
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "sel(method=) with a 10k request list ran a driver job"
    plan = plan_of(out.to_spark())
    assert "Join" in plan
    # the isin fast path would show a giant In(...) literal list
    assert plan.count("1995-01-01") <= 2


def test_ewm_pair_join_no_cartesian(spark):
    """rolling_exp.cov/corr joins other on the dims — never a cross
    product."""
    import pandas as pd
    import numpy as np
    from xarray_spark import XDataset
    pdf = pd.DataFrame({"t": range(50), "a": np.arange(50.0)})
    pdf2 = pd.DataFrame({"t": range(50), "b": np.arange(50.0) ** 2})
    a = XDataset(spark.createDataFrame(pdf), dims=["t"])
    b = XDataset(spark.createDataFrame(pdf2), dims=["t"])
    plan = plan_of(a.rolling_exp(t=4, window_type="span").cov(b).to_spark())
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_coarsen_construct_broadcasts_label_blocks(spark, entry):
    """coarsen.construct's block structure must ride a broadcast join of
    the label table, not a shuffle of the fact table."""
    df = entry.q102_coarsen_construct(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_partial_string_sel_pushes_range_predicate(spark, entry):
    """sel(time='1995-06') must compile to a pushable range filter."""
    df = entry.q99_sel_partial_string(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed


def test_outer_align_stays_broadcast(spark):
    """The round-4 outer-align label materialization must keep both the
    semi-join and the missing-label synthesis broadcast — no fact-table
    shuffle for alignment bookkeeping."""
    import pandas as pd
    import numpy as np
    from xarray_spark import XDataset, align
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(1000), "v": np.arange(1000.0)})),
        dims=["t"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": np.arange(500, 1500), "v": np.arange(1000.0)})),
        dims=["t"])
    ga, _ = align(a, b, join="outer")
    plan = plan_of(ga.to_spark())
    # round-12 fused conform strengthened this guard: the 1-D outer
    # align is now JOIN-FREE — the fact branch unions with a
    # filter+project of the label-presence marker (missing labels),
    # replacing the round-4 broadcast semi/anti joins AND the
    # label-table FullOuter sort-merge this test used to allow.
    assert "Join" not in plan and "Cartesian" not in plan, plan
    # the fact branch itself is never shuffled: every Exchange in the
    # plan sits under a label-table (distinct/marker) aggregation
    fact_side = plan.split("Union", 1)[0]
    assert "Exchange" not in fact_side, fact_side


def test_bucketed_source_windows_have_no_exchange(spark, tmp_path_factory):
    """Round 5: a source saved with to_table(bucket_by=complement dims,
    sort_by=dim) satisfies the Window's ClusteredDistribution, so
    ffill / rolling / cumsum over `dim` plan with NO Exchange — the
    repeated-window workload (feature pipelines re-running ffill or
    rolling per run) never re-shuffles the fact table.  Measured at
    90M values: 5.4 s bucketed vs 10-12 s flat, 1.4x the reference's
    in-RAM numpy scan (SCALE.md round-5 head-to-head)."""
    import numpy as np
    import pandas as pd
    from xarray_spark import XDataset

    spark.sql("DROP TABLE IF EXISTS __bkt_win_test")
    pdf = pd.DataFrame({
        "x": np.repeat(np.arange(8), 50),
        "time": np.tile(np.arange(50), 8),
        "v": np.where(np.random.RandomState(0).rand(400) > 0.2,
                      np.random.RandomState(1).randn(400), np.nan),
    })
    ds = XDataset(spark.createDataFrame(pdf), dims=["x", "time"])
    ds.to_table("__bkt_win_test", bucket_by=["x"], sort_by=["x", "time"],
                n_buckets=4)
    bds = XDataset(spark.table("__bkt_win_test"), dims=["x", "time"])
    for out in (bds.ffill("time"), bds.rolling(time=5).mean(),
                bds.cumsum("time")):
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
    # same ops on a NON-bucketed source do need the shuffle
    plan = ds.ffill("time").df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    spark.sql("DROP TABLE IF EXISTS __bkt_win_test")


def test_dedup_substrings_no_forced_broadcast(spark):
    """The duplicated-window table must NOT carry a forced broadcast
    hint: on the adversarial wide-duplication corpus this operator
    targets, that table can exceed driver memory at 100 TB.  AQE still
    broadcasts it at runtime when stats say it is small — the hint-free
    logical plan is what makes the heavy case take a shuffled join."""
    from xarray_spark.extras.curation import dedup_substrings
    rows = [{"doc_id": i, "text": "a b c d e f g h " + str(i)}
            for i in range(8)]
    out = dedup_substrings(spark.createDataFrame(rows), k=5, min_docs=2)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    assert "broadcast" not in logical.lower() or "Join" in logical
    # result still correct: window 'a b c d e f g h' duplicated, doc 0
    # canonical keeps all tokens
    got = {r["doc_id"]: r["n_dropped"] for r in out.collect()}
    assert got[0] == 0 and all(got[i] > 0 for i in range(1, 8))


def test_ngram_lm_score_plan_shape(spark):
    """q129's scale contract: the bounded LM broadcasts (no shuffle of
    the corpus against the model), no cartesian products, and the
    scoring plan reads the source a bounded number of times."""
    from xarray_spark.extras.text import ngram_lm_score
    import pandas as pd
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["plain text here",
                                                 "more words here"]}))
    plan = (ngram_lm_score(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lm_thresholds_path_has_no_global_sort(spark):
    """q135's scale contract: thresholds= bucketing is a MAP-ONLY
    comparison — no partition-less Window (the exact-ntile path's
    global sort) anywhere in the plan."""
    from xarray_spark.extras.text import ngram_lm_score
    import pandas as pd
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["plain text here",
                                                 "more words here"]}))
    plan = (ngram_lm_score(df, thresholds=(2.3, 2.4))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan[:1500]
    # the ntile form DOES have one (the contrast that makes the
    # thresholds form the 100 TB path)
    plan_ntile = (ngram_lm_score(df)._jdf.queryExecution()
                  .executedPlan().toString())
    assert "Window" in plan_ntile


def test_trained_ivf_has_no_ml_jobs(spark):
    """q134's scale contract: after training (a bounded driver-side
    sample), the QUERY plan contains no iterative stages — cell
    assignment is a literal-codebook Arrow batch, candidates flow
    through one broadcast equi-join."""
    from xarray_spark.extras.similarity import (ivf_topk_fixed,
                                                train_centroids_int)
    import pandas as pd
    import numpy as np
    rng = np.random.RandomState(0)
    pdf = pd.DataFrame({
        "vec_id": range(64),
        "embedding": [rng.randn(64).tolist() for _ in range(64)],
    })
    emb = spark.createDataFrame(pdf)
    cents = train_centroids_int(emb, n_cells=4, iters=2,
                                sample_max_id=32)
    qs = emb.where("vec_id < 2").selectExpr("vec_id as qid", "embedding")
    out = ivf_topk_fixed(emb, qs, k=2, n_cells=4, n_probe=2,
                         centroids_q=cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert out.count() > 0


def test_apply_ufunc_elementwise_is_map_only(spark):
    """apply_ufunc's elementwise (no core dims) contract: ONE Arrow
    mapInPandas pass over the input frame — no Exchange anywhere in
    the single-input plan (round-8 guard; the multi-input form adds
    only the broadcast-able align join)."""
    import numpy as np
    import pandas as pd
    from xarray_spark import XDataset, apply_ufunc
    ds = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [0, 1, 2], "v": [1.0, 4.0, 9.0]})),
        dims=["t"])
    out = apply_ufunc(np.sqrt, ds)
    plan = plan_of(out.df)
    assert "MapInPandas" in plan, plan[:1200]
    assert "Exchange" not in plan, plan[:1500]


def test_simhash_dedup_shuffle_carries_no_fingerprints(spark):
    """q35's round-7 plan fix, pinned: the hamming filter runs INSIDE
    the block self-join stage, so the cross-block dropDuplicates
    shuffle carries only (id_a, id_b, hamming) — the 64-bit simhash
    fingerprint columns must not appear in any operator ABOVE the
    dedup exchange."""
    import pandas as pd
    from xarray_spark.extras.dedup import simhash_near_dups
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(8),
        "text": [f"some text body {i} with shared words" for i in range(4)]
                + ["identical dup body words"] * 4,
    }))
    out = simhash_near_dups(df, max_hamming=3)
    plan = plan_of(out)
    marker = "Exchange hashpartitioning(id_a"
    assert marker in plan, plan[:1500]
    above_dedup_shuffle = plan.split(marker)[0]
    assert "simhash" not in above_dedup_shuffle, above_dedup_shuffle[-1500:]


def test_curation_pipeline_plan_shape(spark, entry):
    """q136's scale contract: the 5-stage chain stays join-sane — no
    cartesian/nested-loop joins anywhere, the C4+Gopher stages fuse
    into the scan (gopher keep= threads the text through the signal
    projection instead of a self-join), and the keyed exchanges stay
    bounded (dedup window + decontamination distinct + packing bucket,
    plus AQE bookkeeping — survivor-sized data only)."""
    df = entry.q136_curation_pipeline(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 5, plan[:2000]
    # the eval-gram probe and the contaminated-id anti-join broadcast
    assert plan.count("BroadcastExchange") >= 1


def _q137_frame(spark):
    """q137's value column: alternating-sign lineitem prices."""
    return (spark.read.parquet(f"{SF}/lineitem.parquet")
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    (F.col("l_extendedprice")
                     * F.when(F.col("l_linenumber") % 2 == 0, F.lit(1.0))
                        .otherwise(F.lit(-1.0))).alias("v")))


def test_q137_midbin_bucket_is_one_log2_per_row(spark):
    """The midbin bucket id costs one LOG2 and no POWER per row in
    stage 1 (the exact bit-decomposition it replaced planned 20 LOG2
    and 10 POWER there); the candidate scan, which recomputes the id
    to join on (keys, bucket), plans exactly 1 LOG2 on both join
    paths — the id is non-nullable, so Catalyst infers no join-key
    null filter that would repeat it."""
    from xarray_spark import dataset as D
    df = _q137_frame(spark)
    keys = ["l_returnflag"]
    stage1 = plan_of(D._midbin_hist(df, keys, "v"))
    assert stage1.count("LOG2(") == 1 and "POWER(" not in stage1, stage1
    targets = spark.createDataFrame([("A", 17_300)],
                                    "l_returnflag string, __b int")
    for null_safe in (False, True):
        cand = plan_of(D._midbin_candidates(df, keys, "v", targets,
                                            null_safe=null_safe))
        assert cand.count("LOG2(") == 1 and "POWER(" not in cand, cand
        assert "BroadcastHashJoin" in cand


def test_q137_executes_midbin_plan(spark, entry):
    """Round-9 verdict #3: q137 must actually execute the MIDBIN plan
    — the picker must return 'midbin' under q137's option, and the
    distributed tail's plan must be fed by the fixed-bucket scan, not
    a global sort: no rangepartitioning exchange anywhere, and the
    bucket-id column drives the candidate window."""
    from xarray_spark import set_options
    from xarray_spark import dataset as D
    df = _q137_frame(spark)
    with set_options(grouped_quantile_plan="midbin"):
        plan_name, probe = D._grouped_quantile_plan(
            df, ["l_returnflag"], probe_var="v")
        assert plan_name == "midbin"
        # distributed tail (collect gate forced off): the lazy plan is
        # inspectable — bucket scan feeds the finish, never a global sort
        orig = D._MIDBIN_HIST_COLLECT_LIMIT
        D._MIDBIN_HIST_COLLECT_LIMIT = 0
        try:
            out = D._grouped_quantile_midbin(
                df, ["l_returnflag"], "v", [0.25, 0.5, 0.75], "linear")
            plan = plan_of(out)
        finally:
            D._MIDBIN_HIST_COLLECT_LIMIT = orig
    assert "rangepartitioning" not in plan.lower()
    # the per-(group, bucket) window that ranks ONLY candidate rows
    assert "__b" in plan and "row_number" in plan.lower()
    # and the values are right (numpy linear on each group)
    import numpy as np
    got = {(r["l_returnflag"], r["quantile"]): r["v"]
           for r in out.collect()}
    pdf = df.select("l_returnflag", "v").toPandas()
    for g, grp in pdf.groupby("l_returnflag"):
        exp = np.quantile(grp["v"].to_numpy(), [0.25, 0.5, 0.75])
        for q, e in zip([0.25, 0.5, 0.75], exp):
            assert got[(g, q)] == e, (g, q)


def test_rolling_var_arrow_plan_shape(spark, entry):
    """q140 (wide rolling std, round 10): the Arrow kernel runs as
    FlatMapGroupsInPandas over the halo segments — NO collect_list
    window array, no interpreted aggregate lambda, no sort-merge join
    anywhere in the plan."""
    df = entry.q140_rolling_std_wide(spark, SF)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "collect_list" not in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_matmul_plan_shape(spark, entry):
    """q120 (round-10 rewrite): the pair stage is ONE per-cell
    FlatMapGroupsInPandas — no self-join shipping vector pairs
    (the 28 GB Arrow-churn shape), no cartesian."""
    df = entry.q120_semdedup(spark, SF)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one exchange below the kernel: the __cell hash shuffle
    below = plan.split("FlatMapGroupsInPandas")[-1]
    assert below.count("Exchange") <= 2  # cell hash (+ AQE read)


def test_resample_anchor_lookup_is_cached(spark, entry):
    """round-11 (verdict #1): the anchor min/max lookup is cached on
    the PLAN FINGERPRINT, not the XDataset instance — two fresh
    XDatasets over the same scan share one lookup, and a raw parquet
    time column is served from footer statistics with ZERO Spark jobs."""
    import __spark_entry__ as em
    from xarray_spark import _utils as U
    ds = em._events(spark, SF)
    ds2 = em._events(spark, SF)  # fresh instance, same scan
    U._MINMAX_CACHE.clear()
    ds.resample(ts="2W")
    assert len(U._MINMAX_CACHE) == 1  # cached under the scan fingerprint
    ds2.resample(ts="2W")  # cache hit across instances
    assert len(U._MINMAX_CACHE) == 1
    # a RAW parquet scan column (orders needs no ts normalization) is
    # served from footer statistics: anchor resolution runs ZERO jobs
    o1 = em._orders(spark, SF)
    o2 = em._orders(spark, SF)
    U._MINMAX_CACHE.clear()
    tracker = spark.sparkContext.statusTracker()
    before_jobs = len(tracker.getJobIdsForGroup(None) or [])
    o1.resample(o_orderdate="3MS")
    o2.resample(o_orderdate="3MS")
    assert len(U._MINMAX_CACHE) == 1
    after_jobs = len(tracker.getJobIdsForGroup(None) or [])
    assert after_jobs == before_jobs
    # and the footer value equals the scan value
    import pandas as pd
    row = o1.df.agg(F.min("o_orderdate").alias("m")).first()
    assert U.dim_min_max(o1.df, "o_orderdate")[0] == pd.Timestamp(row["m"])


def test_nd_rolling_plan_shape(spark, entry):
    """q141 (N-D rolling var): exactly ONE Arrow kernel
    (FlatMapGroupsInPandas over label-halo segments), every join a
    broadcast of label-sized tables — no SortMergeJoin, no cartesian
    (the crossJoins are the day x hour densify and the label->segment
    assignment, both label-count-sized broadcasts)."""
    df = entry.q141_rolling_2d_var(spark, SF)
    plan = plan_of(df)
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def _python_nodes(df) -> int:
    """Arrow/pandas Python nodes in the executed plan."""
    heads = [ln.lstrip(" :+-").split(" ", 1)[0].split("(", 1)[0]
             for ln in plan_of(df).splitlines()]
    return sum(1 for h in heads
               if "Python" in h or "InPandas" in h or "InArrow" in h)


def test_q94_decode_and_features_plan_one_python_node(spark, entry):
    """q94's decode_audio → audio_features fuse into ONE Python map
    over a one-slice literal table: each Python node runs one task per
    slice, and a task has a fixed cost whatever its row count."""
    df = entry.q94_audio_features(spark, SF)
    assert _python_nodes(df) == 1
    assert df.rdd.getNumPartitions() == 1


def test_q36_multimodal_plans_at_most_two_python_nodes(spark, entry):
    """q36: decode_image → resize_image fuse; extract_features sits on
    the other side of the join, so 2 nodes (3 unfused)."""
    assert _python_nodes(entry.q36_multimodal_features(spark, SF)) <= 2
