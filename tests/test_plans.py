"""Physical-plan regression tests: the scale properties the 100 TB design
depends on, pinned as assertions."""

import pytest

from log_vector_spark.plans.explain import (
    has_broadcast_join,
    has_pushed_filter,
    has_take_ordered,
    no_size_broadcasts,
    plan_string,
    scan_read_schema,
)

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
def test_knn_topk_is_distributed_topk_not_global_sort(spark):
    import __spark_entry__ as m

    df = m.queries()["knn_topk"](spark, SF)
    assert has_take_ordered(df)  # per-partition heaps, O(k) to driver


@pytest.mark.spark
def test_tpch_q1_filter_pushdown_and_pruning(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q1"](spark, SF)
    schemas = scan_read_schema(df)
    # column pruning: only the 7 needed columns are read, not all 11
    assert schemas and all("l_orderkey" not in s and "l_partkey" not in s for s in schemas)
    # note: l_shipdate is stored as nanos-long and converted in the catalog,
    # so the date filter applies post-conversion; the pushdown happens for
    # native-typed columns (see test_pushdown_on_native_column)


@pytest.mark.spark
def test_pushdown_on_native_column(spark):
    from pyspark.sql import functions as F

    from log_vector_spark.catalog import table

    df = table(spark, "customer", SF).filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    assert has_pushed_filter(df, "c_mktsegment")


@pytest.mark.spark
def test_q3_distributed_topk(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q3_topk"](spark, SF)
    assert has_take_ordered(df)


# Broadcast-hint hygiene: with size-based broadcast selection disabled, any
# BroadcastHashJoin left in the plan comes from an explicit F.broadcast()
# hint.  A hint is only allowed on provably-bounded build sides (nation /
# region, 1-row scalar aggregates, literal lookup tables) — a hint on an
# sf-scaled relation (lineitem / orders / customer / part / supplier or any
# aggregate keyed by their keys) is a guaranteed OOM at 100x scale, because
# an explicit hint overrides Spark's size threshold instead of degrading to
# a shuffle join.  Expected counts = the bounded hints each query keeps.
_ALLOWED_HINTED_BROADCASTS = {
    "tpch_q3_topk": 0,
    "tpch_q5_region": 2,  # region into nation, then nation x region (<=25 rows) into the fact chain
    "tpch_q8_market_share": 3,  # customer-nation, region, supplier-nation
    "tpch_q10_returns": 1,  # nation
    "tpch_q18_big_orders": 0,
    "top_parts_revenue": 0,
    "tpch_q14_promo_share": 0,
    "tpch_q16_supplier_cnt": 0,
    "tpch_q17_small_qty": 0,
    "tpch_q19_disjunctive": 0,
    # the 1-row max: Catalyst rewrites crossJoin+equality-filter to an
    # equi BroadcastHashJoin on the hinted 1-row side — bounded, allowed
    "tpch_q15_top_supplier": 1,
    "customer_rfm_segments": 0,
    # round-3 additions (the six remaining TPC-H shapes)
    "tpch_q7_volume_shipping": 2,  # the two <=2-row nation lookups
    "tpch_q9_product_profit": 1,  # nation; part is sf-scaled, no hint
    "tpch_q2_best_supplier": 2,  # region->nation, then nations into supplier
    # q11's bounded hints (region->nation, nations into supplier) live inside
    # the lazily-checkpointed part-value aggregate, which explain renders as
    # an ExistingRDD scan without expanding the subtree; the visible plan has
    # only the 1-row threshold BroadcastNestedLoopJoin (bounded, not a BHJ)
    "tpch_q11_important_parts": 0,
    "tpch_q20_promotion_suppliers": 1,  # nation; HAVING agg side shuffles
    "tpch_q21_waiting_suppliers": 1,  # nation; semi/anti sides shuffle
}


@pytest.mark.spark
@pytest.mark.parametrize("name,expected", sorted(_ALLOWED_HINTED_BROADCASTS.items()))
def test_no_fact_table_broadcast_hints(spark, name, expected):
    import __spark_entry__ as m

    with no_size_broadcasts(spark):
        df = m.queries()[name](spark, SF)
        p = plan_string(df, "simple")  # tree only — formatted lists nodes twice
    assert p.count("BroadcastHashJoin") == expected, (
        f"{name}: expected exactly {expected} hinted broadcast joins "
        f"(bounded dims only), plan has {p.count('BroadcastHashJoin')}"
    )


@pytest.mark.spark
def test_knn_batch_broadcasts_queries(spark):
    import __spark_entry__ as m

    df = m.queries()["knn_batch_topk"](spark, SF)
    assert "BroadcastNestedLoopJoin" in plan_string(df)


@pytest.mark.spark
def test_similarity_join_is_equijoin_not_cartesian(spark):
    from log_vector_spark import registry

    import __spark_entry__ as m

    # registered linear default AND the exact audit twin (r10 demotion):
    # both must block on an equi-key, never a cartesian
    plan = plan_string(m.queries()["similarity_join_lsh"](spark, SF))
    assert "CartesianProduct" not in plan
    plan = plan_string(registry.audits()["similarity_join"](spark, SF))
    assert "CartesianProduct" not in plan  # blocked: hash/sort-merge on list_id


@pytest.mark.spark
def test_sql_api_parity_tpch_q1(spark):
    """The SQL surface: registered temp views answer the same query the
    DataFrame API does (same Catalyst plan underneath)."""
    import __spark_entry__ as m
    from log_vector_spark.catalog import register_views

    register_views(spark, SF)
    sql_rows = {
        tuple(r)
        for r in spark.sql(
            """
            SELECT l_returnflag, l_linestatus, count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
            GROUP BY l_returnflag, l_linestatus
            """
        ).collect()
    }
    df_rows = {
        (r.l_returnflag, r.l_linestatus, r.count_order)
        for r in m.queries()["tpch_q1"](spark, SF).collect()
    }
    assert sql_rows == df_rows and len(sql_rows) > 0


@pytest.mark.spark
def test_band_join_is_broadcast_nlj_not_cartesian(spark):
    import __spark_entry__ as m

    plan = plan_string(m.queries()["parts_price_band_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.spark
def test_q6_pushes_selective_filters_to_scan(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q6_revenue"](spark, SF)
    assert has_pushed_filter(df, "l_discount")
    assert has_pushed_filter(df, "l_quantity")


@pytest.mark.spark
def test_asof_join_is_union_window_no_range_explosion(spark):
    """The as-of join is union+window by design: no join node at all, so no
    range-condition row explosion and no cartesian fallback."""
    import __spark_entry__ as m

    plan = plan_string(m.queries()["events_asof_purchase"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.spark
def test_q4_plans_semi_join(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q4_exists"](spark, SF)
    assert "LeftSemi" in plan_string(df, "extended")


@pytest.mark.spark
def test_q22_plans_anti_join_and_broadcast_scalar(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q22_idle_customers"](spark, SF)
    p = plan_string(df, "extended")
    assert "LeftAnti" in p
    assert has_broadcast_join(df)


@pytest.mark.spark
def test_q19_disjunction_prunes_scan_columns(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q19_disjunctive"](spark, SF)
    # only the join/filter/measure columns are read from lineitem
    schemas = scan_read_schema(df)
    assert schemas and any(
        "l_quantity" in s and "l_orderkey" not in s and "l_shipdate" not in s for s in schemas
    )


@pytest.mark.spark
def test_repetition_score_argmax_is_agg_not_window(spark):
    import __spark_entry__ as m

    df = m.queries()["repetition_score"](spark, SF)
    p = plan_string(df, "formatted")
    # one row per doc crosses the shuffle: hash agg, no Window operator
    assert "Window" not in p
    assert "HashAggregate" in p


@pytest.mark.spark
def test_timestamp_filter_pushdown_with_micros_files(spark):
    """With TIMESTAMP(MICROS) testdata the catalog skips the nanos
    conversion, so date predicates reach the parquet scan."""
    from pyspark.sql import functions as F

    from log_vector_spark.catalog import table

    df = (
        table(spark, "orders", SF)
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_orderkey")
    )
    assert has_pushed_filter(df, "o_orderdate")


@pytest.mark.spark
def test_interval_join_is_equi_keyed_not_cartesian(spark):
    import __spark_entry__ as m

    df = m.queries()["events_click_attribution"](spark, SF)
    p = plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


@pytest.mark.spark
def test_q8_star_join_broadcasts_bounded_dimensions(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q8_market_share"](spark, SF)
    p = plan_string(df)
    # the bounded dims (customer-nation, region, supplier-nation) broadcast;
    # at sf0.001 the size threshold also broadcasts customer/supplier, which
    # is exactly the wanted adaptive behavior (no explicit hint on them —
    # covered by test_no_fact_table_broadcast_hints)
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


@pytest.mark.spark
def test_q12_single_aggregation_pass(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q12_late_shipments"](spark, SF)
    p = plan_string(df)
    # both counts are conditional aggregates in ONE agg (partial+final),
    # never a union of two scans
    assert "Union" not in p
    schemas = scan_read_schema(df)
    # lineitem scan reads only the two needed columns
    assert any("l_orderkey" in s and "l_quantity" not in s for s in schemas)


@pytest.mark.spark
def test_q15_reuses_revenue_aggregation(spark):
    import __spark_entry__ as m

    df = m.queries()["tpch_q15_top_supplier"](spark, SF)
    p = plan_string(df)
    # the checkpointed revenue view means the expensive lineitem agg
    # appears ONCE; the max side is a broadcast of one row
    assert has_broadcast_join(df)


@pytest.mark.spark
def test_training_pipeline_shuffle_budget(spark):
    """The composed chain must keep its documented shuffle budget: dedup
    hash agg, the two survivor semi-joins (exact-dup + perplexity gate),
    packing window — and nothing else visible.  The bigram-LM fit behind
    the perplexity gate is a checkpointed write-time artifact (renders as
    an ExistingRDD scan, the tpch_q11 note), so its internal aggregates
    don't inflate the per-query budget."""
    import __spark_entry__ as m

    df = m.queries()["training_data_pipeline"](spark, SF)
    p = plan_string(df, "simple")
    assert p.count("CartesianProduct") == 0
    assert p.count("Exchange ") == 8, p.count("Exchange ")
    # quality/scrub path + dedup grain + the gate's doc-id base scan
    assert p.count("FileScan") == 3


@pytest.mark.spark
def test_rag_rerank_candidates_are_broadcast(spark):
    """Second-stage rerank must see a broadcast top-20, never a shuffled
    corpus-wide join."""
    import __spark_entry__ as m

    df = m.queries()["rag_rerank"](spark, SF)
    p = plan_string(df, "simple")
    assert "BroadcastHashJoin" in p
    assert p.count("CartesianProduct") == 0


@pytest.mark.spark
def test_bm25_is_distributed_topk_with_one_row_stats_broadcast(spark):
    import __spark_entry__ as m

    df = m.queries()["bm25_topk"](spark, SF)
    p = plan_string(df)
    # corpus cut is a TakeOrdered (per-partition heaps), never a global sort
    assert has_take_ordered(df)
    # the 1-row stats frame reaches the scan via a broadcast nested-loop
    # crossJoin — the only join in the plan; nothing data-scaled broadcasts
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


@pytest.mark.spark
def test_source_novelty_no_hinted_broadcasts(spark):
    import __spark_entry__ as m

    with no_size_broadcasts(spark):
        p = plan_string(m.queries()["source_novelty"](spark, SF), "simple")
    assert p.count("BroadcastHashJoin") == 0  # every join shuffles; nothing hinted


@pytest.mark.spark
def test_dsir_broadcasts_only_bounded_ratio_table(spark):
    import __spark_entry__ as m

    with no_size_broadcasts(spark):
        p = plan_string(m.queries()["dsir_weights"](spark, SF), "simple")
    # exactly one hinted BroadcastHashJoin: the <=256-row bucket-ratio table
    # back onto the exploded frame; the 1-row totals ride a BNLJ crossJoin
    assert p.count("BroadcastHashJoin") == 1
    assert "BroadcastNestedLoopJoin" in p


@pytest.mark.spark
def test_mmr_runs_as_grouped_pandas_kernel(spark):
    import __spark_entry__ as m

    p = plan_string(m.queries()["mmr_rerank"](spark, SF))
    assert "FlatMapGroupsInPandas" in p  # Arrow-batched per-query kernel


@pytest.mark.spark
def test_embedding_outliers_broadcasts_only_label_centroids(spark):
    import __spark_entry__ as m

    with no_size_broadcasts(spark):
        p = plan_string(m.queries()["embedding_outliers"](spark, SF), "simple")
    # one hinted broadcast: the |labels|-row centroid table
    assert p.count("BroadcastHashJoin") == 1


@pytest.mark.spark
def test_graph_beam_scores_only_broadcast_joined_frontier(spark, monkeypatch):
    """VERDICT r4 item 1: the graph-ANN query path must never score the
    whole corpus.  Three pins:

    1. score_node_ids puts the cosine projection ABOVE the broadcast id
       join — one dot per MATCHED row, never per corpus row.  In the plan
       tree parents print before children, so every occurrence of the
       scoring expression must appear before the BroadcastHashJoin.
    2. Every id set knn_graph_beam hands to score_node_ids is bounded by
       beam*deg rows (row-counted through a monkeypatch) — the
       O(rounds*beam*deg) docstring claim, measured.
    3. The returned DataFrame's own plan reads only the checkpointed beam:
       no parquet scan, no cosine fold — all corpus contact happened
       through the broadcast-probed joins inside the rounds.
    """
    from pyspark.sql import functions as F

    from log_vector_spark.catalog import table
    from log_vector_spark.operators import search

    vectors = table(spark, "embeddings", SF)
    q = search.literal_vector([1.0] + [0.0] * 63)
    ids = spark.range(3).select(F.col("id").alias("nid"))
    with no_size_broadcasts(spark):
        p = plan_string(search.score_node_ids(vectors, ids, q), "simple")
    score_at = p.find("aggregate(zip_with")  # the HOF cosine fold
    bhj_at = p.find("BroadcastHashJoin")
    assert score_at != -1 and bhj_at != -1, p
    assert p.count("aggregate(zip_with") == p[:bhj_at].count("aggregate(zip_with"), p

    beam_w, deg, rounds = 4, 4, 2
    centroids = search.make_centroids(vectors, every=37)
    edges = search.knn_graph_edges(vectors, centroids, deg=deg).localCheckpoint(eager=True)
    real_score = search.score_node_ids
    scored_counts = []

    def counting_score(vecs, ids_df, qv, *a, **kw):
        scored_counts.append(ids_df.count())
        return real_score(vecs, ids_df, qv, *a, **kw)

    monkeypatch.setattr(search, "score_node_ids", counting_score)
    df = search.knn_graph_beam(
        vectors,
        [1.0] + [0.0] * 63,
        k=5,
        beam=beam_w,
        rounds=rounds,
        deg=deg,
        centroids=centroids,
        edges=edges,
    )
    assert len(scored_counts) == rounds
    assert all(c <= beam_w * deg for c in scored_counts), scored_counts
    final = plan_string(df, "simple")
    assert "aggregate(zip_with" not in final and "FileScan" not in final, final
    assert df.count() == min(5, beam_w)  # and the plan still executes


@pytest.mark.spark
@pytest.mark.parametrize("name", ["knn_ivf", "knn_ivfpq_stored"])
def test_stored_index_queries_prune_partitions(spark, name):
    """VERDICT r4 item 2: the persisted-index query forms must read nprobe
    of n_lists partitions — the literal probe has to reach the store scan
    as PartitionFilters on list_id, not as a post-scan data filter.
    (r10: knn_ivf IS the stored form now; its inline twin is the
    knn_ivf_inline audit.)"""
    from log_vector_spark import registry

    import __spark_entry__ as m

    df = m.queries()[name](spark, SF)
    plan = plan_string(df, "simple")
    lines = [l for l in plan.splitlines() if "PartitionFilters: [" in l]
    assert lines, plan
    assert any(
        "list_id" in l.split("PartitionFilters", 1)[1].split("]")[0] for l in lines
    ), plan
    # and the result still matches the self-contained inline form
    inline_fn = (
        registry.audits()["knn_ivf_inline"]
        if name == "knn_ivf"
        else m.queries()[name.replace("_stored", "")]
    )
    inline = inline_fn(spark, SF)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, inline.collect()))


@pytest.mark.spark
def test_graph_stored_matches_inline(spark):
    import __spark_entry__ as m

    stored = m.queries()["knn_graph_stored"](spark, SF)
    inline = m.queries()["knn_graph"](spark, SF)
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, inline.collect()))


@pytest.mark.spark
def test_bloom_probe_is_broadcast_join_no_shingle_shuffle(spark):
    """bloom_decontaminate's scale contract: the train-side probe joins a
    broadcast bitset (O(m) rows), so no SortMergeJoin ever keys on the
    shingle/pos column — the only sort-merge work allowed is the exact
    AUDIT join, and the bitset side must be a broadcast."""
    import __spark_entry__ as m

    df = m.queries()["bloom_decontaminate"](spark, SF)
    plan = plan_string(df)
    assert has_broadcast_join(df)
    # the probe join on `pos` must not be a shuffle join
    for ln in plan.splitlines():
        if "SortMergeJoin" in ln and "pos" in ln:
            raise AssertionError(f"bitset probe shuffled: {ln}")


@pytest.mark.spark
def test_cms_probe_joins_broadcast_sketch(spark):
    """events_cms_heavy_hitters: the merged sketch (<= 256 rows) and the
    direct audit sketch are broadcast to the top-k probe, and the exact
    top-10 plans as distributed top-k (no global sort)."""
    import __spark_entry__ as m

    df = m.queries()["events_cms_heavy_hitters"](spark, SF)
    assert has_broadcast_join(df)
    assert has_take_ordered(df)


def test_no_unreviewed_collect_sites_in_engine_source():
    """VERDICT r10 item 2's grep pin (alongside the cartesian invariant):
    every `.collect()` in the engine package must be on this reviewed
    allowlist of BOUNDED sites — distinct low-cardinality partition keys,
    1-row aggregates, manifest reads, per-shard manifests.  A new collect
    of a corpus-scaled relation (the removed stream_neardup wrapper shape:
    survivors -> driver -> createDataFrame) fails here until it is either
    re-planned or reviewed in as bounded."""
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "log_vector_spark")
    allowed = {
        # (file, stripped source line) — each reviewed as bounded
        ("streaming/pipeline.py", "touched = [r.list_id for r in assigned.select(\"list_id\").distinct().collect()]"),
        ("streaming/pipeline.py", ".collect()[0]"),
        ("streaming/pipeline.py", "pfx = [r[0] for r in probable.select(FP_PFX_COL).distinct().collect()]"),
        ("streaming/pipeline.py", "r[0] for r in probable_b.select(BAND_PFX_COL).distinct().collect()"),
        ("streaming/pipeline.py", ".collect()"),  # read_training_ingest / psi fold: per-source rows
        ("streaming/pipeline.py", "rows = df.groupBy(key).count().collect()"),  # per-epoch / per-list counts
        # the training ingest's frozen quantizer: the ~sqrt(N)-row stride
        # pick, its one-row fallback, or the persisted centroid table
        ("streaming/pipeline.py", "rows = make_centroids(vecs, every=sqrt_stride(n_survivors)).collect()"),
        ("streaming/pipeline.py", 'rows = embedded(survivors.orderBy("doc_id").limit(1)).collect()'),
        ("streaming/pipeline.py", "rows = spark.read.schema(CENTROIDS_SCHEMA).parquet(centroids_dir).collect()"),
        ("operators/maintenance.py", "epochs = sorted(r[0] for r in live.select(epoch_col).distinct().collect())"),
        ("sources/export.py", "rows = src.mapInPandas(pack, _SHARD_SCHEMA).collect()  # bounded: 1/shard"),
        ("sources/index_store.py", ".collect()"),  # 1-row/cohort agg folds
        ("sources/index_store.py", "rows = pick.collect()"),  # ~sqrt(N)-row stride pick
        # r12 Arrow argmin kernels: every collect below is the k-row (or
        # stride-sampled ~sqrt(N)-row) centroid relation — the IDENTICAL
        # payload the pre-r12 plans materialized on the driver as a
        # BroadcastExchange build side; never a corpus-scaled relation.
        ("operators/cluster.py", "seeds = v.orderBy(id_col).limit(k).collect()"),
        ("operators/cluster.py", "for cid, dim, xm in means.collect():  # k x dim rows"),
        ("operators/search.py", '(r[0], r[1]) for r in centroids.select("list_id", "centroid").collect()'),
        ("operators/search.py", "seeds = v.filter(F.col(vec_id) % every == 0).collect()"),
        ("sources/store.py", "rows = spark.read.json(os.path.join(path, \"manifest\")).collect()"),
    }
    found = set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            rel = os.path.relpath(p, pkg).replace(os.sep, "/")
            with open(p) as fh:
                for line in fh:
                    if ".collect()" in line:
                        found.add((rel, line.strip()))
    extra = found - allowed
    assert not extra, (
        "unreviewed .collect() site(s) in engine source — re-plan them "
        f"distributed or review them into the allowlist: {sorted(extra)}"
    )


def test_no_unreviewed_list_literal_relations_in_engine_source():
    """`spark.createDataFrame(<Python list>)` plans as `Scan ExistingRDD`,
    and every action on it runs a Python-RDD job; a relation the driver
    already holds is built from a `pyarrow.Table` instead, which plans as
    `LocalTableScan` and runs none (session.py rule a).  Every
    `createDataFrame(` in the engine must be on this reviewed allowlist: an
    Arrow-built relation, or a list literal in a registered query body or
    a once-per-call constant where no write path evaluates it twice."""
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "log_vector_spark")
    allowed = {
        # (file, stripped source line)
        # Arrow local relations: the k-row centroid helper, the manifest row
        ("functions/argmin.py", "return spark.createDataFrame(table)"),
        ("sources/store.py", "df = spark.createDataFrame(pa.Table.from_pylist([row], schema=schema))"),
        ("catalog.py", "return spark.createDataFrame(casted.to_pandas())"),  # Arrow-backed pandas read fallback
        # typed empty results of degenerate inputs
        ("streaming/pipeline.py", 'return spark.createDataFrame([], "doc_id long, source string")'),
        ("streaming/pipeline.py", 'return spark.createDataFrame([], "n_docs long, psi double, epoch long")'),
        ("sources/export.py", "return spark.createDataFrame([], _SAMPLE_SCHEMA)"),
        # one row / one row per shard, built once per call
        ("streaming/pipeline.py", 'row = spark.createDataFrame([(int(na), round(psi, 6))], "n_docs long, psi double")'),
        ("sources/export.py", "return spark.createDataFrame(rows, _SHARD_SCHEMA) if rows else spark.createDataFrame("),
        # registered-query parameter grids
        ("operators/curation.py", 'al = spark.createDataFrame([(0.25,), (0.5,), (0.75,), (1.0,)], "alpha double")'),
        ("suites/events_suite.py", 'qs = spark.createDataFrame([(50,), (90,), (99,)], "q int")'),
        ("suites/pipeline_suite.py", "return spark.createDataFrame("),
        ("suites/vector_search.py", 'np_df = spark.createDataFrame([(1,), (2,), (4,), (8,)], ["nprobe"])'),
        ("suites/vector_search.py", "spark_v = spark.createDataFrame([Row(v=[0.125] * 64)])"),
        ("suites/vector_search.py", "return spark.createDataFrame("),
        ("suites/vector_search.py", 'dims = spark.createDataFrame([(8,), (16,), (32,), (64,)], "d int")'),
        ("suites/vector_search.py", 'dims = spark.createDataFrame([(8,), (16,)], "d int")'),
        ("suites/relational_suite.py", "bands = spark.createDataFrame("),
    }
    found = set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            rel = os.path.relpath(p, pkg).replace(os.sep, "/")
            with open(p) as fh:
                for line in fh:
                    if "createDataFrame(" in line:
                        found.add((rel, line.strip()))
    extra = found - allowed
    assert not extra, (
        "unreviewed createDataFrame( site(s) in engine source — build the "
        f"relation from a pyarrow.Table or review it in: {sorted(extra)}"
    )


def test_no_unreviewed_global_windows_in_engine_source():
    """VERDICT r10 item 3's plan-pin extension: `Window.orderBy(...)`
    without a partitionBy is a single-task global sort at scale, so every
    such site must be on this reviewed allowlist — each is over a BOUNDED
    relation (top-k shortlists, k seeds, hourly rollups, cumulative share
    over a bounded group) or lives in an explicit audit (the demoted
    padding_waste_report, whose registered twin padding_waste_by_shard
    partitions every window by shard)."""
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "log_vector_spark")
    allowed = {
        # (file, line stripped) — each reviewed: bounded input or audit-only
        ("suites/events_suite.py", 'w = Window.orderBy("hour").rowsBetween(-6, -1)'),  # <= |hours| rollup rows
        ("suites/curation_suite.py", "w = Window.orderBy(*order_cols)"),  # AUDIT: padding_waste_report (demoted)
        ("suites/pipeline_suite.py", '"rank", F.row_number().over(Window.orderBy(F.desc("score"), F.asc("vec_id")))'),  # k-row shortlist
        ("suites/pipeline_suite.py", 'Window.orderBy(F.desc("overlap"), F.desc("score"), F.asc("vec_id"))'),  # rerank candidates (bounded)
        ("suites/relational_suite.py", 'w_cum = Window.orderBy(F.desc("revenue"), F.asc("l_partkey")).rowsBetween('),  # abc cumulative over parts agg
        ("suites/retrieval_suite.py", '"vec_id", F.row_number().over(Window.orderBy(F.desc("score"), F.asc("vec_id"))).cast("int").alias("vec_rank")'),  # k-row shortlist
        ("suites/retrieval_suite.py", '"rank", F.row_number().over(Window.orderBy(F.desc("rrf"), F.asc("id"))).cast("int")'),  # fused k-row shortlist
        ("operators/cluster.py", "seed_w = Window.orderBy(id_col)  # k rows only — single-partition window is fine"),
        ("operators/cluster.py", "seed_w = Window.orderBy(id_col)"),  # k seed rows
        ("operators/pq.py", 'F.row_number().over(Window.orderBy(F.asc(vec_id))).cast("int").alias("code_id"),'),  # k centroid rows
        ("operators/rerank.py", 'w = Window.orderBy(F.desc("score"), F.asc("doc_id"))'),  # candidate shortlist
        ("operators/multimodal.py", "w = Window.orderBy(F.col(\"score\"), F.col(id_col))"),  # filtered caption-gate shortlist
        ("sources/index_store.py", 'w = Window.orderBy(F.desc("score"), F.asc("doc_id"))'),  # probe-pruned shortlist
    }
    found = set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            rel = os.path.relpath(p, pkg).replace(os.sep, "/")
            with open(p) as fh:
                for line in fh:
                    if "Window.orderBy(" in line and not line.strip().startswith(("#", '"', "'")):
                        found.add((rel, line.strip()))
    extra = found - allowed
    assert not extra, (
        "unreviewed global Window.orderBy site(s) — partition the window "
        f"or review it in as bounded: {sorted(extra)}"
    )
