"""Physical-plan assertions (SURVEY.md §4): the declarative surface must
actually get Catalyst's free optimizations — predicate pushdown to the
parquet scan, column pruning, broadcast joins, whole-stage codegen — and the
Python-UDF build path must keep its input projection narrow."""

import __spark_entry__ as em
from sketchlib.spark import SketchSpec
from sketchlib.spark.build import partial_states

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    df = em.q_a06_project_filter(spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan, plan
    # projection reaches the scan: untouched wide columns absent from ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" not in read_schema and "l_returnflag" not in read_schema


def test_broadcast_join_chosen(spark):
    plan = _plan(em.q_a08_join_broadcast(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_agg_has_map_side_combine(spark):
    """partial_sum before the exchange = map-side combine; the shuffle moves
    one row per (group × task), not raw rows. (AQE's pre-execution plan hides
    WholeStageCodegen markers, so assert the aggregation shape instead.)"""
    plan = _plan(em.q_a09_groupby_agg(spark, SF))
    assert "partial_sum" in plan, plan
    assert plan.index("partial_sum") > plan.index("Exchange")  # partial below the exchange
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_build_input_projection_is_narrow(spark):
    """The Python-UDF boundary blocks pruning above it, so build_sketches must
    select only referenced columns before mapInArrow."""
    df = spark.read.parquet(f"{SF}/documents.parquet")
    states = partial_states(df, [SketchSpec("h", "hll", "doc_id", {"p": 12})], group_by="source")
    plan = _plan(states)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "source" in read_schema
    assert "text" not in read_schema, read_schema  # the fat column stays unread


def test_tokenize_stays_jvm_side(spark):
    from sketchlib.spark.tokenize import with_tokens

    df = with_tokens(spark.read.parquet(f"{SF}/documents.parquet")).select("source", "n_tok")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_exact_dedup_shuffles_ids_not_payload(spark):
    from sketchlib.spark.dedup import exact_dedup

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(df, "text", "doc_id"))
    # the aggregation side of the plan must project only (hash, id) before its exchange
    agg_side = plan.split("LeftSemi")[-1]
    assert "xxhash64" in agg_side


def test_candidate_pairs_has_no_python_eval(spark):
    """Round-2 contract: pair verification is JVM-side (zip_with/aggregate) —
    the only Python in the whole dedup pipeline is the signature mapInArrow
    kernel; the candidate-pair subplan must contain no row-wise Python eval."""
    from sketchlib.spark.dedup import candidate_pairs, minhash_signatures

    df = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    from sketchlib.spark.tokenize import with_tokens

    sigs = minhash_signatures(with_tokens(df), "tokens", "doc_id", r=32, n_bands=8)
    plan = _plan(candidate_pairs(sigs, "doc_id", threshold=0.5))
    assert "BatchEvalPython" not in plan, plan
    # exactly the two signature kernels (a & b side of the sig join) may appear
    assert plan.count("ArrowEvalPython") == 0, plan


def test_left_join_broadcasts_dims(spark):
    plan = _plan(em.q_a12_left_join(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan


def test_batch_ann_is_single_pass(spark):
    """brute_force_topk_many: one scan + one mapInArrow + one window — no
    per-query plan replication (the round-1 c05 shape was J jobs for J probes)."""
    from sketchlib.spark.ann import brute_force_topk_many

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [list(r["embedding"]) for r in emb.limit(3).collect()]
    plan = _plan(brute_force_topk_many(emb, "embedding", "vec_id", q, k=2))
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_asof_join_single_shuffle(spark):
    """The as-of join must shuffle ONCE on the join key (union-tag + window),
    never produce a range/cartesian join."""
    from sketchlib.spark.timeseries import asof_join

    e = spark.read.parquet(f"{SF}/events.parquet")
    r = e.selectExpr("user_id", "ts", "value AS price")
    plan = _plan(asof_join(e.select("event_id", "user_id", "ts"), r, "user_id",
                           value_cols=["price"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_contamination_no_corpus_shuffle_before_join(spark):
    """Decontamination contract: the train (corpus) side reaches the
    BroadcastHashJoin with NO Exchange below it — only matched pairs (post-
    join) ever shuffle, so a 100 TB corpus is one scan, not an exchange."""
    from pyspark.sql import Row

    from sketchlib.spark.dedup import contamination_pairs

    train = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "transform(sequence(1, 30), i -> CAST(doc_id * 100 + i AS INT)) AS tokens"
    )
    eval_df = spark.createDataFrame([Row(doc_id=1, tokens=[101, 102, 103, 104,
                                                           105, 106, 107, 108, 109])])
    plan = _plan(contamination_pairs(train, eval_df, n=8))
    assert "BroadcastHashJoin" in plan, plan
    # the subtree BELOW the broadcast join's streamed (train) side must be
    # exchange-free: the first Exchange in the plan text must appear ABOVE
    # (before) the join, i.e. belong to the post-join aggregation
    join_pos = plan.index("BroadcastHashJoin")
    shuffle = "Exchange hashpartitioning"
    if shuffle in plan:  # any shuffle present must sit ABOVE the join
        assert plan.index(shuffle) < join_pos, plan
    # the STREAMED (train) subtree is the text between the join node and its
    # build side's BroadcastExchange; the eval side may shuffle internally
    # (its own tiny distinct) — the corpus side must not
    train_side = plan[join_pos:plan.index("BroadcastExchange", join_pos)]
    assert shuffle not in train_side, (
        "corpus side shuffles below the broadcast join:\n" + train_side
    )
    assert "FileScan parquet" in train_side  # corpus side is the scan itself


def test_mixed_join_broadcasts_dim_and_pushes_where(spark, tmp_path):
    """Round-4 fact×dim mixed join contract: the exact dimension reaches
    the join through a BroadcastExchange (no SortMergeJoin of the fact
    sample), and a fact-side WHERE predicate is pushed into the SAMPLE
    scan — the only Exchange is the post-join aggregation's."""
    from sketchlib.spark.catalog import SketchCatalog
    from sketchlib.sql import approx_sql

    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_sample("ou", f"{SF}/orders.parquet", kind="uniform", ratio=0.5, seed=11)
    df = approx_sql(
        spark,
        "SELECT APPROX_SUM(o_totalprice) FROM orders o JOIN customer c "
        "ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > 1000 GROUP BY c_mktsegment",
        tables={"orders": f"{SF}/orders.parquet", "customer": f"{SF}/customer.parquet"},
        catalog=cat,
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    assert "GreaterThan(o_totalprice,1000" in plan, plan  # pushed to the sample scan
    # the fact (streamed) side below the join must be exchange-free
    join_pos = plan.index("BroadcastHashJoin")
    fact_side = plan[join_pos:plan.index("BroadcastExchange", join_pos)]
    assert "Exchange hashpartitioning" not in fact_side, fact_side


def test_contamination_spans_single_corpus_scan(spark):
    """Round-4 spans contract: ONE corpus scan (the distinct-count and
    run-length aggregates share the join subtree), and the two windows
    share one exchange (superset clustering keys)."""
    from pyspark.sql import Row

    from sketchlib.spark.dedup import contamination_spans

    train = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "transform(sequence(1, 30), i -> CAST(doc_id * 100 + i AS INT)) AS tokens"
    )
    ev = spark.createDataFrame([Row(doc_id=1, tokens=[101 + i for i in range(12)])])
    plan = _plan(contamination_spans(train, ev, n=8))
    assert plan.count("documents.parquet") == 1, "corpus must be scanned exactly once"
    assert plan.count("Window") == 2
    # no exchange BETWEEN the two Window nodes
    w1 = plan.index("Window")
    w2 = plan.index("Window", w1 + 1)
    assert "Exchange" not in plan[w1:w2], plan[w1:w2]


def test_subsample_agg_single_scan_no_python(spark):
    """Round-5 subsampling contract: the block partials ride ONE scan of
    the scramble (the _sid column is a projection over rand(), not a second
    pass), the window/final-quantile stages run over the KB-sized block
    frame, and no Python evaluator appears anywhere — the whole estimator
    is JVM built-ins."""
    from sketchlib.spark.subsample import subsample_agg_from_uniform_sample

    samp = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(
        subsample_agg_from_uniform_sample(
            samp, "l_returnflag", "l_extendedprice", 0.1, n_total=60_000
        )
    )
    assert plan.count("lineitem.parquet") == 1, "sample must be scanned exactly once"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # column pruning still reaches the scan through the rand() projection
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_subsample_percentile_two_sample_scans_only(spark):
    """The percentile estimator's documented cost: exactly TWO scans of the
    p-fraction scramble (per-block quantiles + full-sample quantiles — the
    statistic doesn't pool across blocks), still zero Python."""
    from sketchlib.spark.subsample import subsample_percentile_from_uniform_sample

    samp = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(
        subsample_percentile_from_uniform_sample(
            samp, "l_returnflag", "l_extendedprice", [0.5], 0.1, n_total=60_000
        )
    )
    assert plan.count("lineitem.parquet") == 2, plan.count("lineitem.parquet")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_duplicate_spans_windows_share_exchange_no_python(spark):
    """D27 contract: the island and run windows share one exchange
    (superset clustering keys — same shape as contamination_spans), and
    nothing in the pair path runs Python."""
    from sketchlib.spark.dedup import duplicate_spans

    df = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id",
        "transform(sequence(1, 30), i -> CAST((doc_id % 5) * 100 + i AS INT)) AS tokens",
    )
    plan = _plan(duplicate_spans(df, n=8, min_span_tokens=10))
    assert plan.count("Window") == 2
    w1 = plan.index("Window")
    w2 = plan.index("Window", w1 + 1)
    assert "Exchange" not in plan[w1:w2], plan[w1:w2]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cap_per_group_under_cap_rows_never_shuffle(spark, tmp_path):
    """cap_per_group's scale contract: the corpus is split by a BROADCAST
    join against the tiny over-cap-groups frame, so under-cap rows flow
    scan → filter → union with NO exchange on their branch; only the top-k
    window and the counts aggregation exchange anything — and Catalyst
    rewrites the window's row_number()<=cap into a PARTIAL WindowGroupLimit
    BELOW the exchange, so each map task forwards at most cap rows per
    group (the native rank-limit pushdown that made a hand-rolled salted
    pre-window pointless). The counts pass runs ONCE (eager checkpoint of
    the tiny over-cap frame — without it each union branch re-ran it), so
    the full-width input is scanned exactly twice (one per branch), which
    at 100 TB is the right trade against shuffling every row into
    per-group windows."""
    from pyspark.sql import functions as F

    from sketchlib.spark.sampling import cap_per_group

    p = str(tmp_path / "docs")
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") % 19).cast("double").alias("score"),
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = _plan(cap_per_group(df, 100, group_col="grp", score_col="score"))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    # the map-side partial top-cap sits BELOW the window's exchange (tree
    # text prints top-down, so deeper = later; the hot branch's exchange is
    # the last one printed)
    partial = plan.index("row_number(), 100, Partial")
    assert partial > plan.rindex("Exchange hashpartitioning"), plan
    assert "row_number(), 100, Final" in plan, plan
    # exchanges: ONLY the window's (the counts pass already ran via the
    # eager checkpoint; the under-cap branch must not sit under one)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan") == 2, plan


def test_merge_states_single_repartition_exchange(spark):
    """merge_states hash-repartitions its input on (group, sketch) to a fixed
    partition count and the groupBy reuses that exchange: exactly one
    Exchange hashpartitioning in the plan, and it is the user-specified
    REPARTITION_BY_NUM one (so AQE cannot coalesce the merge into one
    task)."""
    from sketchlib.spark.build import merge_states

    df = spark.read.parquet(f"{SF}/documents.parquet")
    states = partial_states(df, [SketchSpec("h", "hll", "doc_id", {"p": 12})], group_by="source")
    plan = _plan(merge_states(states))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, plan
    assert "REPARTITION_BY_NUM" in exchanges[0], plan
