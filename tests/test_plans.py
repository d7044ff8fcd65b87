"""Physical-plan audits: the 100 TB scale contract, asserted.

A query that silently regresses to a cartesian product, loses its
broadcast, or sorts globally for a top-k would still pass value checks
at test scale — these tests pin the plan shape instead.
"""

from __future__ import annotations

import pytest


def plan_of(spark, sf_dir, name: str) -> str:
    from pigout_spark import queries as qmod

    df = qmod.QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q05_broadcasts_small_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q05_broadcast_join")
    # region/nation and supplier sides are fragment-replicated
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def _exchanged_scans(plan, table: str) -> list[bool]:
    """For each scan of ``table`` in a physical plan: whether an
    exchange, shuffle or broadcast, lies between it and the join that
    reads it."""
    out, nodes = [], [(plan, False)]
    while nodes:
        node, exchanged = nodes.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            nodes.append((node.executedPlan(), exchanged))
            continue
        exchanged = exchanged or name.endswith("ExchangeExec")
        if name.endswith("JoinExec"):
            exchanged = False
        if name == "FileSourceScanExec" and f"/{table}.parquet" in node.toString():
            out.append(exchanged)
        kids = node.children()
        nodes.extend((kids.apply(i), exchanged) for i in range(kids.size()))
    return out


def test_q03_streams_lineitem_past_a_broadcast_join_output(spark, sf_dir):
    """q03's customer ⋈ orders side is a shuffle-free join output that
    is sized and broadcast, so the static plan streams lineitem into
    the join, with neither a shuffle nor a broadcast of it.  The
    threshold sits between that side's counted bytes (under 48 kB) and
    lineitem's estimate (117 kB), as 10 MB does at sf1."""
    from pigout_spark import queries as qmod

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(64 << 10))
    try:
        df = qmod.QUERIES["q03_join_agg"].fn.__wrapped__(spark, sf_dir)
    finally:
        spark.conf.set(key, old)
    assert _exchanged_scans(df._jdf.queryExecution().executedPlan(), "lineitem") == [False]


def test_q09_topk_avoids_global_sort(spark, sf_dir):
    # ORDER+LIMIT must plan TakeOrderedAndProject (per-partition top-k),
    # not a full Sort — Pig's LimitOptimizer equivalent.
    plan = plan_of(spark, sf_dir, "q09_order_limit")
    assert "TakeOrderedAndProject" in plan


def test_q01_partial_aggregation(spark, sf_dir):
    # map-side combine: partial + final HashAggregate pair
    plan = plan_of(spark, sf_dir, "q01_group_agg")
    assert plan.count("HashAggregate") >= 2


def test_theta_join_is_not_cartesian(spark, sf_dir):
    # CROSS+FILTER idiom must plan as an equi-join with residual filter
    plan = plan_of(spark, sf_dir, "q07_cross_theta")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash",
        "dedup_jaccard",
        "dedup_simhash_pairs",
        "sim_ann_buckets",
        "sim_ann_topk",
    ],
)
def test_pipeline_ops_never_cartesian(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    # dedup_jaccard's one BNLJ is the deliberate single-row broadcast of
    # the aggregated hub-token list (the scalar-projection pattern, as in
    # q21/sim_cosine) — never a data×data product
    # (it appears once per reference to the token-array subtree — the
    # prefix index and both verification sides)
    if name != "dedup_jaccard":
        assert "BroadcastNestedLoopJoin" not in plan


def test_brute_force_broadcasts_queries(spark, sf_dir):
    # the deliberate product is corpus × broadcast(10 queries) — must be
    # a broadcast nested loop, never a shuffle cartesian
    plan = plan_of(spark, sf_dir, "sim_cosine_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_nested_topk_single_shuffle_on_group_key(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q15_nested_topk")
    # window over the group key: exactly one exchange, partitioned by it
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1
    assert "Exchange SinglePartition" not in plan


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    """plans/bucketing.py: a join between two tables bucketed+sorted on
    the join key plans with ZERO ShuffleExchange (Pig 'merge' join; the
    100 TB fact-to-fact path).  Auto-broadcast is disabled so the small
    test fixtures take the same SortMergeJoin a 100 TB input would."""
    from pyspark.sql import functions as F

    from pigout_spark.plans.bucketing import bucketed, write_bucketed

    tmp = str(tmp_path_factory.mktemp("buckets"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed(li, f"{tmp}/li", "li_bkt", 8, "l_orderkey")
    write_bucketed(od, f"{tmp}/od", "od_bkt", 8, "o_orderkey")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed(spark, "li_bkt").join(
            bucketed(spark, "od_bkt"),
            on=F.col("l_orderkey") == F.col("o_orderkey"),
        ).select("l_orderkey", "l_quantity", "o_totalprice")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "ShuffleExchange" not in plan
        assert "Bucketed: true" in plan
        assert j.count() == li.count()  # every lineitem has its order
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS od_bkt")


def test_fan_out_metadata_guard(spark, sf_dir):
    """fan_out decides from Catalyst stats vs maxPartitionBytes — no
    df.rdd materialization.  Small scan → repartitioned to shuffle
    parallelism; 'large' input (maxPartitionBytes shrunk so the scan
    estimate already covers the cluster) → the SAME df back, no
    exchange; streaming df → untouched by construction."""
    from pigout_spark.plans.partitioning import _parse_bytes, fan_out

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("64kb") == 64 << 10
    assert _parse_bytes("1g") == 1 << 30

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = fan_out(docs)
    assert small is not docs
    assert "Repartition" in small._jdf.queryExecution().optimizedPlan().toString()
    assert small.rdd.getNumPartitions() == n  # test-side probe only

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        big = fan_out(docs)
        assert big is docs  # guard no-ops without touching the plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    stream = spark.readStream.format("rate").load()
    assert fan_out(stream) is stream


def test_pack_sequences_single_doc_shuffle(spark, sf_dir):
    """x_text_pack: ONE hash exchange (groupBy doc) feeds the whole
    fold+explode chain — no window over an unbounded partition, no
    Python, no second shuffle before the final agg's (doc, seq) key
    (which hash-partitions a strict superset of the doc key)."""
    plan = plan_of(spark, sf_dir, "x_text_pack")
    final = plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in final  # fold is JVM-side
    assert "Exchange SinglePartition" not in final
    assert "CartesianProduct" not in final


def test_quantized_topk_broadcasts_queries_no_corpus_shuffle(spark, sf_dir):
    """sim_quant_topk: the query side is broadcast; the only exchanges
    are the per-query top-k windows and the rescore point-lookup join —
    the corpus-wide coarse scan itself is never hash-shuffled."""
    plan = plan_of(spark, sf_dir, "sim_quant_topk")
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final
    assert "EvalPython" not in final


def test_ivf_quantized_joins_on_cell(spark, sf_dir):
    """x_sim_ivfq_topk: candidates come through the cell equi-join with
    a broadcast query side — never a corpus×queries nested loop over
    unrestricted candidates."""
    plan = plan_of(spark, sf_dir, "x_sim_ivfq_topk")
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final  # cell join, broadcast q side
    assert "CartesianProduct" not in final


def test_shuffle_order_no_data_single_partition(spark, sf_dir):
    """x_shuffle_order: the total order is range-partitioned; the only
    Exchange SinglePartition feeds row_rank's tiny counts aggregate."""
    plan = plan_of(spark, sf_dir, "x_shuffle_order")
    final = plan.split("== Initial Plan ==")[0]
    assert "rangepartitioning" in final.lower()
    lines = final.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            assert "HashAggregate" in lines[i + 1] and "count" in lines[i + 1]


@pytest.mark.parametrize(
    "name", ["x_dedup_passages", "x_passage_stats", "x_mixture_sample"]
)
def test_late_r5_ops_key_equi_joins_only(spark, sf_dir, name):
    """Passage detection and mixture sampling are pure key-equi joins —
    no cartesian, no nested-loop fallback anywhere in the plan."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_sample_broadcasts_domain_counts(spark, sf_dir):
    """The domain-count frame must come back as a broadcast hash join —
    a shuffle join here would shuffle the whole corpus to sample it."""
    plan = plan_of(spark, sf_dir, "x_mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # corpus must never shuffle to meet counts


def test_dsir_no_cartesian_scalars_broadcast(spark, sf_dir):
    """DSIR's token joins are key-equi; the single-row scalar frame
    (N_c, N_t, |V|) rides a broadcast — the only nested-loop node
    allowed (the q21 scalar-projection pattern)."""
    for name in ("x_dsir_weights", "x_dsir_sample"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan


def test_split_and_narrow_ops_are_exchange_free(spark, sf_dir):
    """split_corpus and the streaming quality gate are pure narrow
    maps — their physical plans must contain NO exchange at all (the
    property that lets the gate run inside a readStream plan)."""
    from pigout_spark.pipeline.curation import split_corpus
    from pigout_spark.pipeline.text import (
        quality_filter_stream,
        repetition_features_narrow,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        split_corpus(docs, {"train": 0.8, "val": 0.2}, ["doc_id"]),
        repetition_features_narrow(docs.select("doc_id", "text")),
        quality_filter_stream(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:500]


def test_tfidf_pmi_key_equi_joins_only(spark, sf_dir):
    """TF-IDF and PMI: token-keyed equi joins plus the deliberate
    single-row broadcast scalar — never a cartesian product."""
    plan = plan_of(spark, sf_dir, "x_tfidf_terms")
    assert "CartesianProduct" not in plan
    plan = plan_of(spark, sf_dir, "x_pmi_pairs")
    assert "CartesianProduct" not in plan


def test_qdigest_build_two_exchange_map_side_combine(spark, sf_dir):
    """q-digest build: the corpus pays ONE leaf-aggregation exchange
    (map-side partial combine caps it at 2^levels rows per task) plus
    the single-group collect into the bounded compression batch —
    nothing else, and never a cartesian."""
    plan = plan_of(spark, sf_dir, "x_qdigest_sketch")
    assert plan.count("Exchange") <= 3  # leaf agg + single-group + AQE reads
    assert "partial_count" in plan  # leaf combine is map-side
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # no joins at all in the build


def test_triangle_count_key_equi_joins_only(spark, sf_dir):
    """Triangle counting: wedge enumeration and closing are plain
    key-equi joins — never a cartesian or nested-loop fallback."""
    plan = plan_of(spark, sf_dir, "x_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x_bigram_lm",
        "x_transitions",
        "x_mad_outliers",
        "x_scd2",
        "x_bm25_topk",
        "x_label_prop",
        "x_ppr",
        "x_asof_nearest",
        "x_session_ngrams",
        "x_basket_rules",
        "x_hits",
    ],
)
def test_r7_ops_no_cartesian(spark, sf_dir, name):
    """The round-7 family plans key-equi joins only — no cartesian, no
    nested-loop fallback (broadcast scalar frames excepted, as in the
    DSIR audit)."""
    plan = plan_of(spark, sf_dir, name)
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final


def test_fuzzy_join_only_lowgram_cartesian(spark, sf_dir):
    """x_fuzzy_join: part names are all >= q(k+1) chars, so even the
    low-gram sweep is empty — the whole plan must be cartesian-free."""
    plan = plan_of(spark, sf_dir, "x_fuzzy_join")
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final


def test_bm25_takeordered_and_scd2_single_exchange(spark, sf_dir):
    """BM25 top-k must be TakeOrderedAndProject (no global sort of the
    scored relation); SCD2's two window passes must share one key
    exchange."""
    plan = plan_of(spark, sf_dir, "x_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    plan2 = plan_of(spark, sf_dir, "x_scd2")
    final2 = plan2.split("== Initial Plan ==")[0]
    assert final2.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in final2


def test_heavy_hitters_and_skew_stats(spark):
    """A 60/30/10 key split: shares, deterministic tie order, max
    share, and the entropy ratio against a hand-computed value; a
    uniform split scores ratio 1.0; a single key gets NULL ratio."""
    import math
    from pigout_spark.plans.partitioning import heavy_hitters, skew_stats

    rows = [("a",)] * 60 + [("b",)] * 30 + [("c",)] * 10
    df = spark.createDataFrame(rows, "k string")
    hh = heavy_hitters(df, ["k"], top_n=2).collect()
    assert [(r.k, r.cnt, r.share6) for r in hh] == [("a", 60, 0.6), ("b", 30, 0.3)]

    s = skew_stats(df, ["k"]).collect()[0]
    assert (s.n_rows, s.n_keys, s.max_share6) == (100, 3, 0.6)
    h = -(round(0.6 * math.log(0.6), 6) + round(0.3 * math.log(0.3), 6)
          + round(0.1 * math.log(0.1), 6))
    assert s.entropy_ratio6 == round(h / math.log(3), 6)

    even = spark.createDataFrame([("x",), ("y",)] * 10, "k string")
    assert skew_stats(even, ["k"]).collect()[0].entropy_ratio6 == 1.0
    one = spark.createDataFrame([("z",)] * 5, "k string")
    assert skew_stats(one, ["k"]).collect()[0].entropy_ratio6 is None


def test_r8_op_plans_hold_at_scale(spark, sf_dir):
    """Round-8 plan pins: trend_fit is one exchange and window-free;
    winsorize and quantile_bucket never plan a single-partition stage
    over data; item CF and CDC merge are equi-joins only (no
    cartesian); validation rules fold into ONE aggregation pass."""
    plan = plan_of(spark, sf_dir, "x_trend_fit")
    assert "Window" not in plan and "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "x_winsorize")
    assert "Exchange SinglePartition" not in plan

    # global quantile_bucket: row_rank's only SinglePartition stage is
    # the ~#partitions-sized counts prefix sum (the documented
    # exception), never over data rows
    # global quantile_bucket: every single-partition exchange must
    # move AGGREGATE outputs (its immediate child is a HashAggregate —
    # row_rank's per-partition counts and the broadcast n), never raw
    # data rows (r8 second self-review fixed the vacuous form of this)
    plan = plan_of(spark, sf_dir, "x_quantile_bucket")
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            assert "HashAggregate" in lines[i + 1], "\n".join(
                lines[i:i + 2]
            )

    plan = plan_of(spark, sf_dir, "x_item_cf")
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "x_apply_cdc")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan

    plan = plan_of(spark, sf_dir, "x_check_rules")
    # three rules, ONE aggregation pass: exactly one partial+final
    # HashAggregate pair over the scan, stacked by Generate(explode)
    assert plan.count("Scan parquet") == 1
    assert "Generate" in plan


def test_r9_stats_and_features_plans(spark, sf_dir):
    """r9 families hold their scale shapes: spearman runs both rank
    windows and the moment aggregation on ONE key exchange; target
    encoding joins the category relation by broadcast (never shuffles
    the fact table); feature hashing is a map-side-combined narrow agg;
    robust scaling shares one key exchange across window + bounds +
    join; BH-FDR plans no cartesian; item CF's top-k ranking plans
    WindowGroupLimit (r13: the capped list build is window-free by
    default — collect_set+slice; the hub_safe shape keeps the
    WindowGroupLimit cap, pinned in test_pipeline)."""
    plan = plan_of(spark, sf_dir, "x_spearman")
    final = plan.split("== Initial Plan ==")[0]
    # one exchange for the key (rank windows + agg) — the scan itself
    # adds none (narrow), and no SinglePartition appears
    assert final.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in final

    plan = plan_of(spark, sf_dir, "x_target_enc")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the category relation aggregates map-side before its exchange
    assert plan.count("HashAggregate") >= 2

    plan = plan_of(spark, sf_dir, "x_feature_hash")
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final

    plan = plan_of(spark, sf_dir, "x_robust_scale")
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final

    plan = plan_of(spark, sf_dir, "x_bh_fdr")
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "x_item_cf")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_grouped_mw_fdr_single_key_exchange(spark, sf_dir):
    """r10 (r9 verdict #4): the grouped Mann-Whitney → BH workflow
    plans ONE key exchange for the whole test stage — the per-source
    rank window, tie window, and both folds all run on the
    repartition(source) partitioning.  The only SinglePartition is
    bh_fdr's documented tests-relation window (20 rows), fed by the
    readout, never by document data."""
    plan = plan_of(spark, sf_dir, "x_grouped_mw_fdr")
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final[:2000]
    assert "CartesianProduct" not in final


def test_evaluation_family_plans(spark, sf_dir):
    """Evaluation ops: calibration is a bins-sized groupBy with a
    map-side partial (no window, no join).  ROC-AUC and uplift (r13,
    VERDICT r12 #3) ride row_rank's two-pass counter: the score order
    is RANGE-partitioned, and every Exchange SinglePartition moves
    aggregate outputs (immediate child a HashAggregate — row_rank's
    per-partition counts / uplift's 1-row total), never data rows.  No
    keyless data-sized WindowExec remains anywhere in the library."""
    plan = plan_of(spark, sf_dir, "x_calibration")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 2

    for name in ("x_roc_auc", "x_uplift"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        final = plan.split("== Initial Plan ==")[0]
        assert "rangepartitioning" in final.lower(), name
        lines = final.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                assert "HashAggregate" in lines[i + 1], (
                    name + "\n" + "\n".join(lines[i:i + 2])
                )


def test_r12_grouped_ops_single_key_exchange(spark, sf_dir):
    """The r12 grouped ops keep the one-exchange-per-keys contract:
    poisson_bootstrap's 2B+2 aggregates and diff_in_diff's 8 cells are
    ONE hash-partitioned exchange each (map-side combined); trimmed
    mean and the conformal quantile ride one key exchange shared by
    rank window and readout; none plan a SinglePartition data pass."""
    for name, key in [
        ("x_boot_ci", "o_orderpriority"),
        ("x_did", "event_type"),
        ("x_trimmed_mean", "l_returnflag"),
        ("x_conformal", "source"),
        ("x_jackknife", "l_returnflag"),
        ("x_psm", "source"),
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert plan.count(f"Exchange hashpartitioning({key}") <= 2, name
        assert f"Exchange hashpartitioning({key}" in plan, name
        assert "Exchange SinglePartition" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_r14_late_op_plans(spark, sf_dir):
    """The r14 late additions hold their stated plan shapes: no
    cartesian anywhere; mann_kendall's cap plans as WindowGroupLimit
    (the rank filter prunes per-partition before the sort's shuffle);
    jw_pairs' ONLY Python stage is the candidate-confined scorer;
    fs_linkage's pair scoring carries no Python stage at all (the
    weights are literals)."""
    for name in ("x_mann_kendall", "x_chao1", "x_fs_linkage",
                 "x_winnow", "x_img_dhash", "x_jw_pairs"):
        plan = plan_of(spark, sf_dir, name)
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, name

    mk = plan_of(spark, sf_dir, "x_mann_kendall")
    assert "WindowGroupLimit" in mk

    fs = plan_of(spark, sf_dir, "x_fs_linkage")
    assert "EvalPython" not in fs  # literal weights, no UDF

    jw = plan_of(spark, sf_dir, "x_jw_pairs")
    # exactly one Arrow Python stage — the scorer over candidates
    assert jw.count("ArrowEvalPython") == 1

    wn = plan_of(spark, sf_dir, "x_winnow")
    assert "EvalPython" not in wn  # pure higher-order arrays


def test_latin_q01_rounds_without_bigdecimal(spark, sf_dir):
    """x_latin_q01's four ROUND(x * 10000.0) compile to the rint kernel,
    so its scan stage builds no BigDecimal per row."""
    from pigout_spark.queries import QUERIES

    df = QUERIES["x_latin_q01"].fn.__wrapped__(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "round(" not in plan
    assert plan.count("rint(") >= 4
