"""Plan-discipline tests (SURVEY.md §4 / the 100 TB design rules):
pushdown, pruning, broadcast choices and shuffle counts are asserted
properties of the physical plans.

The no-row-Python ban is checked on every registered query by
``oracle_compare.timed_parity``, on the plan parity executes.  The ban
tests here go through ``oracle_compare.assert_python_ban``, which
builds a query only if parity has not checked it this session, so a
full run builds the registry once; one test here checks that the ban's
node list sees every Python exec node."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from kinesis_to_opensearch_lambda_spark.plans import (
    broadcast_join_count,
    has_broadcast_hash_join,
    plan_string,
    pushed_filters,
    python_eval_nodes,
    read_schemas,
    shuffle_exchange_count,
)
from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

from .conftest import SF_DIR
from .oracle_compare import assert_python_ban


def q(spark, name):
    return REGISTRY[name].spark(spark, SF_DIR)


def test_q1_filter_pushed_to_scan(spark):
    df = q(spark, "tpch_q1_pricing_summary")
    fs = pushed_filters(df)
    assert any("l_shipdate" in f for f in fs), fs


def test_q1_column_pruning(spark):
    df = q(spark, "tpch_q1_pricing_summary")
    schemas = read_schemas(df)
    assert schemas, "no file scan found"
    assert all("l_partkey" not in s for s in schemas), schemas
    assert any("l_quantity" in s for s in schemas)


def test_q1_single_shuffle(spark):
    # partial agg map-side, one exchange on the group keys, final agg
    assert shuffle_exchange_count(q(spark, "tpch_q1_pricing_summary")) == 1


def test_q3_customer_broadcast(spark):
    assert has_broadcast_hash_join(q(spark, "tpch_q3_shipping_priority"))


def test_q5_dims_broadcast(spark):
    assert broadcast_join_count(q(spark, "tpch_q5_local_supplier")) >= 3


def test_windows_share_one_exchange(spark):
    # running sum + lag + rank over the same partitioning: 1 shuffle
    assert shuffle_exchange_count(q(spark, "window_running_lag")) == 1


def test_sessionization_single_shuffle_before_agg(spark):
    # lag window + running-sum window + final agg all hash on user_id:
    # AQE may keep 1 exchange; never more than 2 (window + agg).
    assert shuffle_exchange_count(q(spark, "window_sessionization")) <= 2


def test_asof_join_single_shuffle(spark):
    # union + running last(): exactly one exchange on the key — the
    # whole point of avoiding the non-equi join (operators.relational).
    assert shuffle_exchange_count(q(spark, "join_asof_last_order")) <= 2


def test_pipeline_chain_shuffle_free_before_agg(spark):
    # decode/normalize/project are narrow; only the final groupBy shuffles
    assert shuffle_exchange_count(q(spark, "pipeline_daily_index")) == 1


def test_sink_serialize_strips_raw_json_once(spark):
    # The HEC payload strips ``_raw`` (3 regexp_replace per field, 2
    # fields) at most once per row, each field's chain behind its guard
    # (a byte search for '"@timestamp"', one regex find of the ip pair),
    # never tests the event for emptiness, and splices the event without
    # counting its characters; OpenSearch
    # serialization never touches it.  The one-pass delivery frame
    # carries both payloads with the same single strip and reads the
    # batch uncached.
    from kinesis_to_opensearch_lambda_spark.sinks import OpenSearchBulkSink, SplunkHECSink
    from kinesis_to_opensearch_lambda_spark.sinks.base import payload_frame
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

    env = decode_stream(spark.createDataFrame([("e30=",)], "kinesis_data string"))
    es, hec = OpenSearchBulkSink(transport_factory=None), SplunkHECSink(transport_factory=None)

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    assert plan(hec.serialize(env)).count("regexp_replace(") <= 6
    assert plan(es.serialize(env)).count("regexp_replace(") == 0
    one_pass = plan(payload_frame(env, [es, hec])[0])
    assert one_pass.count("regexp_replace(") <= 6
    assert "InMemoryRelation" not in one_pass
    chain = r" THEN regexp_replace\(regexp_replace\(regexp_replace\("
    assert re.search(r'CASE WHEN Contains\([^,()]+, "@timestamp"\)' + chain, one_pass)
    ip_find = re.escape('"ip"\\s*:\\s*(?:""|null))')
    assert re.search(r"CASE WHEN RLIKE\([^,()]+, " + ip_find + chain, one_pass)
    assert not re.search(r"length\(_event#", one_pass)
    assert r"^\{\s*\}$" not in one_pass  # no emptiness test is left


def test_minhash_signatures_shuffle_free(spark):
    assert shuffle_exchange_count(q(spark, "dedup_minhash_signature")) == 0


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_row_python_anywhere(spark, name):
    """Row-at-a-time Python UDFs are banned engine-wide; only
    Arrow-batched nodes may appear, and only in the allowlisted ops."""
    assert_python_ban(spark, name, SF_DIR)


def test_python_eval_nodes_sees_every_arrow_node(spark):
    """The ban's node list covers each Python exec node PySpark 4.1
    plans, not only scalar UDFs, ``mapInPandas`` and grouped
    ``applyInPandas``: one tiny frame per node."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    @F.pandas_udf("double")
    def mean(v: pd.Series) -> float:
        return v.mean()

    class Echo(StatefulProcessor):
        def init(self, handle):
            pass

        def handleInputRows(self, key, rows, timerValues):
            yield from rows

    df = spark.range(4).select(F.col("id").cast("double").alias("v"), (F.col("id") % 2).alias("g"))
    cogrouped = df.groupBy("g").cogroup(df.groupBy("g"))
    stream = spark.readStream.format("rate").load().select((F.col("value") % 2).alias("g"))
    frames = {
        "MapInArrow": df.mapInArrow(lambda batches: batches, df.schema),
        "ArrowAggregatePython": df.groupBy("g").agg(mean("v")),
        "ArrowWindowPython": df.select(mean("v").over(Window.partitionBy("g"))),
        "FlatMapCoGroupsInPandas": cogrouped.applyInPandas(lambda a, b: a, df.schema),
        "FlatMapCoGroupsInArrow": cogrouped.applyInArrow(lambda a, b: a, df.schema),
        "FlatMapGroupsInArrow": df.groupBy("g").applyInArrow(lambda t: t, df.schema),
        "TransformWithStateInPySpark": stream.groupBy("g").transformWithStateInPandas(
            Echo(), "g long", "append", "none"
        ),
    }
    for node, frame in frames.items():
        assert python_eval_nodes(frame) == [node], node


def test_q6_all_predicates_pushed(spark):
    fs = pushed_filters(q(spark, "tpch_q6_forecast_revenue"))
    assert any("l_shipdate" in f for f in fs), fs
    assert any("l_discount" in f for f in fs), fs
    assert any("l_quantity" in f for f in fs), fs


def test_q18_agg_before_join(spark):
    # HAVING subquery aggregates lineitem BEFORE joining orders: the
    # first exchange is on l_orderkey for the agg, not a join of raw rows
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "tpch_q18_large_volume"), "simple")
    assert "HashAggregate" in plan


def test_range_join_broadcasts_band_table(spark):
    # non-equi band join: 3-row tier dim must be the broadcast side,
    # fact side streams (BroadcastNestedLoopJoin, never a cartesian sort)
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "join_range_interval"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hash_split_shuffle_free_before_agg(spark):
    # split/sample membership is a per-row md5 expression; the only
    # exchange is the final tiny aggregation
    assert shuffle_exchange_count(q(spark, "split_train_test_hash")) == 1
    assert shuffle_exchange_count(q(spark, "sample_stratified_deterministic")) == 1


def test_decontam_benchmark_broadcast(spark):
    # benchmark shingle set joins broadcast; train side never shuffles
    # for the join (only for the per-doc agg)
    assert has_broadcast_hash_join(q(spark, "decontam_ngram_overlap"))


def test_token_pack_partitioned_window(spark):
    # the running-sum window is PARTITIONED (sharded) — the plan must
    # hash-partition on shard, not sort everything into one task
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "token_budget_pack"))
    assert "SinglePartition" not in plan, plan


def test_embedding_dedup_candidates_are_hash_join(spark):
    # the semantic-dedup candidate stage is the SRP-LSH bucket EQUI-join
    # (BroadcastHashJoin on the integer bucket key) — never a
    # BroadcastNestedLoopJoin over the cosine predicate
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    for name in ("dedup_embedding_near", "dedup_semantic_keep_best"):
        df = q(spark, name)
        plan = plan_string(df)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
    assert has_broadcast_hash_join(q(spark, "dedup_embedding_near"))


def test_filtered_ann_prefilter_pushed_and_hash_joined(spark):
    # metadata-filtered ANN: the ACL predicate pushes down to the corpus
    # parquet scan (PRE-filter, row groups pruned before vector math)
    # and the candidate stage stays a bucket EQUI-join
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    df = q(spark, "ann_filtered_topk")
    fs = pushed_filters(df)
    assert any("label" in f for f in fs), fs
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_hash_join(df)


def test_centroid_diagnostics_broadcast_not_self_join(spark):
    # every vector scores against the tiny broadcast centroid table in
    # one map-side pass — no corpus self-join, no cartesian product
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "emb_intra_inter_cosine"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 10-row centroid side


def test_simhash_near_bucket_join_shuffles(spark):
    """r8 windowed design: rank window (1 exchange on the bucket key),
    chunked rank self-join (hash equi-join on bucket+chunk — bounded
    re-shuffles, never a nested loop), pair-distinct, final histogram
    agg.  The ranked frame is lineage-cut (localCheckpoint) before the
    self-join, so the fingerprint pipeline — the dominant cost —
    computes exactly once; the visible plan therefore starts from the
    checkpoint scan and must stay equi-join-only."""
    df = q(spark, "dedup_simhash_near")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert shuffle_exchange_count(df) <= 5


def test_bucketed_join_is_exchange_free(spark):
    # both sides bucketed 8x on the join key: the SortMergeJoin reads
    # co-located buckets; the ONLY exchange is the final tiny agg
    from kinesis_to_opensearch_lambda_spark.operators.bucketed_queries import (
        bucketed_join_plan,
    )

    plan = bucketed_join_plan(spark, SF_DIR)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "SelectedBucketsCount: 8 out of 8" in plan, plan
    # exactly one exchange: the final group-by agg, never the join
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1, plan


def test_shuffled_hash_join_hint_pins_shj(spark):
    # SHUFFLE_HASH hint must yield ShuffledHashJoin (not SMJ; AQE may
    # still not broadcast because the hint wins over size estimation)
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "join_shuffled_hash_hint"))
    assert "ShuffledHashJoin" in plan, plan


def test_phash_neardup_bucket_equijoin(spark):
    # banded parity-sketch candidates come from an equi-join on
    # (band_idx, band_val) — a hash join, never a nested-loop over the
    # hamming predicate
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "mm_phash_neardup"))
    assert "NestedLoop" not in plan, plan


def test_dq_orphan_checks_are_shuffled_hash_anti_joins(spark):
    # referential-integrity checks anti-join against the referenced
    # table's DISTINCT keys via shuffled hash: the referenced-key sets
    # (orders, customer) are fact-sized at 100 TB, so broadcasting them
    # would not hold — and no sort is needed for an anti probe
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "dq_constraints"))
    assert "ShuffledHashJoin" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_ivf_pq_cell_equijoin_and_code_scan(spark):
    # IVF+PQ: candidate generation must be a broadcast HASH join on the
    # cell id (never a nested loop over the corpus), and the corpus
    # side reaches the join as codes — no SMJ anywhere
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "ann_topk_ivf_pq"))
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ngram_lm_counts_single_shuffle_takeordered(spark):
    # explode pipelines in the scan; one exchange for the count agg;
    # the top-100 head is TakeOrdered, not a global sort shuffle
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    assert shuffle_exchange_count(q(spark, "corpus_ngram_lm_counts")) == 1
    assert "TakeOrderedAndProject" in plan_string(q(spark, "corpus_ngram_lm_counts"))


def test_bpe_token_estimate_no_shuffle(spark):
    # pure per-row regexp work: zero exchanges
    assert shuffle_exchange_count(q(spark, "text_bpe_token_estimate")) == 0


@pytest.mark.parametrize(
    "name",
    [
        "ann_topk_bruteforce",
        "ann_topk_pq_adc",
        "ann_topk_rerank",
        "ann_pq_recall",
        "ann_topk_ivf_pq",
    ],
)
def test_ann_topk_partial_limit_below_exchange(spark, name):
    """The per-query top-k window's exchange must NOT carry the full
    scored corpus: Catalyst's rank-limit pushdown (SPARK-37099) must
    place a ``WindowGroupLimit … Partial`` node BELOW the q_id shuffle,
    so each map task forwards at most k rows per query and the
    exchange carries ≤ n_partitions × n_queries × k rows.  The
    pushdown silently stops firing if anything (a projection, a
    non-rank window, a filter not directly on the rank column) slips
    between the window and its rank filter — this test pins it."""
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, name), "simple")
    lines = plan.splitlines()
    partials = [
        i
        for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and "Partial" in ln
    ]
    exchanges = [
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning(q_id" in ln
    ]
    assert partials, plan
    assert exchanges, plan
    # tree prints parent above child: every q_id exchange must have a
    # Partial WindowGroupLimit below (= after) it feeding the shuffle
    for ex in exchanges:
        assert any(p > ex for p in partials), plan


def test_pq_adc_corpus_never_shuffles_for_scoring(spark):
    # ADC scoring is corpus-scan x broadcast distance tables (an
    # intentional broadcast cross join); the only exchange is the
    # per-query top-k window partitioning
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "ann_topk_pq_adc"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gram_matrix_single_shuffle(spark):
    # partial Gram per Arrow batch -> one exchange on (i, j) cells
    assert shuffle_exchange_count(q(spark, "emb_gram_matrix")) == 1


def test_duplicate_spans_shuffles_hashes_not_text(spark):
    # the exchanged columns are the 8-byte span hash + doc id — span
    # TEXT never reaches an exchange
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "dedup_duplicate_spans"))
    assert "Exchange" in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Spark's runtime Bloom-filter join pruning — the 100 TB feature
    that lets a selective dim filter prune the FACT side's shuffle
    input at runtime (SPARK-32268).  Production defaults trigger it
    when the application side scans >10GB; at test scale we lower that
    threshold (and disable broadcast, which would subsume it) and
    assert the might_contain filter lands on the fact scan."""
    import pyspark.sql.functions as F

    from kinesis_to_opensearch_lambda_spark.sources.batch import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_count_all_hash_joins(spark):
    """Compact-forward triangle counting must stay hash equi-joins end
    to end: edge build joins on l_orderkey (the < predicate is a post-
    join filter, not a join strategy degradation), and triangle closure
    is the sorted-adjacency array_intersect per oriented edge (r9) —
    the wedge set must NEVER materialize as exploded pre-join rows,
    which is what exceeded disk at sf10 in the r8 form.  A
    BroadcastNestedLoopJoin anywhere would be the all-pairs trap this
    design exists to avoid."""
    df = q(spark, "graph_triangle_count")
    plan = plan_string(df)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the intersect kernel is the discriminating artifact of the
    # spill-lean form (sweeps/PARITY_TRI_SF10_r09.json)
    assert "array_intersect" in plan, plan


def test_degree_distribution_two_aggregations(spark):
    """Degree histogram: beyond the bounded per-order edge build, the
    only exchanges are the degree groupBy and the bucket groupBy (both
    with map-side partial aggregation on int keys)."""
    df = q(spark, "graph_degree_distribution")
    plan = plan_string(df)
    assert "NestedLoop" not in plan, plan


def test_rollup_hierarchy_one_scan_one_shuffle(spark):
    """Hypertable rollup: GROUPING SETS must expand AFTER a single
    events scan and ride ONE exchange (partial agg on the finest grain,
    coarser grains from the same partials) — the whole point vs three
    separate scan+agg jobs."""
    from kinesis_to_opensearch_lambda_spark.plans import read_schemas

    df = q(spark, "rollup_time_hierarchy")
    assert len(read_schemas(df)) == 1
    assert shuffle_exchange_count(df) == 1


def test_iqr_outliers_single_exchange(spark):
    """Rank window, quartile-lookup window, and final groupBy all hash
    on event_type: Catalyst must reuse the one exchange (integer-exact
    quantile via rank arithmetic costs no extra shuffle over the naive
    percentile window)."""
    df = q(spark, "anomaly_iqr_outliers")
    assert shuffle_exchange_count(df) == 1


def test_asof_nearest_single_exchange(spark):
    """Bidirectional nearest as-of: backward and forward carries are two
    window sorts over the SAME user_id partitioning — one exchange, no
    non-equi join nodes."""
    df = q(spark, "join_asof_nearest")
    plan = plan_string(df)
    assert shuffle_exchange_count(df) == 1
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_common_neighbors_hash_joins_and_broadcast_degrees(spark):
    """Neighbor-Jaccard wedge join must be a hash equi-join on user_id
    (the item< predicate is a post-join filter), and both degree lookups
    must broadcast (item dictionary-sized)."""
    df = q(spark, "graph_common_neighbors")
    plan = plan_string(df)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert broadcast_join_count(df) >= 2


def test_knn_graph_no_allpairs(spark):
    """Mutual-kNN graph: candidate generation must be the LSH bucket
    equi-join, never an all-pairs nested-loop/cartesian; the mutuality
    check joins two k-bounded edge lists.  Since r13 the bucket-size
    attach (broadcast of the tiny size table) runs ONCE at index-build
    time inside _capped_srp_table's bucketed write — the query plan's
    discriminating artifact is now the exchange-free bucketed SMJ over
    the shared index table."""
    df = q(spark, "ann_knn_graph_mutual")
    plan = plan_string(df)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_knn_graph_multitable_mutual_bounded(spark):
    """The L-table production mutual graph (r9): every candidate stage
    must still be an LSH bucket equi-join — L tables multiply the
    candidate BOUND (L*64*n), never the join type — and the one
    exact-cosine scoring pass joins the deduped pair list back to the
    corpus by vec_id equi-joins.  No nested-loop/cartesian anywhere,
    no Python eval; since r13 the L per-table candidate joins are
    exchange-free bucketed SMJs over the L shared index tables (the
    size-attach broadcasts run once at build time)."""
    from kinesis_to_opensearch_lambda_spark.operators.similarity_queries import (
        _KNN_TABLES,
    )

    df = q(spark, "ann_knn_graph_mutual_multitable")
    plan = plan_string(df)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Bucketed: true") == 2 * _KNN_TABLES, plan


def test_knn_graph_multitable_no_allpairs_and_distinct_tables(spark):
    """OR-amplified kNN candidates: every per-table candidate stage must
    be a bucket hash equi-join (no all-pairs), and the plane_offset
    table selection must genuinely produce DIFFERENT hash tables —
    otherwise the union adds cost without recall."""
    from pyspark.sql import functions as F

    from kinesis_to_opensearch_lambda_spark.operators import similarity as S

    df = q(spark, "ann_knn_graph_multitable")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    # exactly ONE BroadcastNestedLoopJoin is expected and bounded: the
    # EXACT-baseline side broadcasts the 20 probe vectors against the
    # corpus (same shape as ann_topk_bruteforce); the L candidate
    # stages must all be hash equi-joins.  A formatted plan prints
    # each node twice (tree + numbered detail), so one node == 2 hits.
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert has_broadcast_hash_join(df)

    # independence: two plane sets disagree on some vector's bucket
    from kinesis_to_opensearch_lambda_spark.sources.batch import load_table

    emb = load_table(spark, SF_DIR, "embeddings").limit(64).select(
        "vec_id", "embedding"
    )
    buckets = emb.select(
        S.srp_bucket(F.col("embedding"), n_planes=8, plane_offset=0).alias("b0"),
        S.srp_bucket(F.col("embedding"), n_planes=8, plane_offset=16).alias("b1"),
    )
    assert buckets.filter(F.col("b0") != F.col("b1")).count() > 0


def test_srp_plane_offset_zero_is_identity(spark):
    """plane_offset=0 must be bit-identical to the pre-r8 primitive:
    every existing SRP caller (buckets, dedup, the mutual graph) relies
    on unchanged bucket ids."""
    from pyspark.sql import functions as F

    from kinesis_to_opensearch_lambda_spark.operators import similarity as S

    from kinesis_to_opensearch_lambda_spark.sources.batch import load_table

    emb = load_table(spark, SF_DIR, "embeddings").limit(64).select("embedding")
    both = emb.select(
        S.srp_bucket(F.col("embedding"), n_planes=8).alias("default"),
        S.srp_bucket(F.col("embedding"), n_planes=8, plane_offset=0).alias("explicit"),
    )
    assert both.filter(F.col("default") != F.col("explicit")).count() == 0


def test_knn_graph_bucket_cap_bounds_cells(spark):
    """The round-robin sub-split must hold its worst-case guarantee on
    a PATHOLOGICALLY clustered corpus: identical embeddings all land
    in one SRP bucket, and no (bucket, sub) cell may exceed the
    64-row target — the invariant that keeps candidate pairs <= 64*n
    under any skew (the sf10 run measured a 3418-row bucket without
    it)."""
    from pyspark.sql import functions as F

    from kinesis_to_opensearch_lambda_spark.operators import (
        similarity as S,
    )
    from kinesis_to_opensearch_lambda_spark.operators.similarity_queries import (
        _KNN_BUCKET_TARGET,
        _knn_planes,
    )

    n = 500  # one identical cluster: the worst case widening can't split
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array([F.lit(0.1)] * 64).alias("embedding"),
    )
    nb = _knn_planes(n)
    bucketed = emb.select(
        "vec_id", S.srp_bucket(F.col("embedding"), n_planes=nb).alias("bucket")
    )
    sizes = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsize"))
    capped = bucketed.join(F.broadcast(sizes), "bucket").withColumn(
        "sub",
        F.col("vec_id")
        % F.expr(f"(bsize + {_KNN_BUCKET_TARGET - 1}) div {_KNN_BUCKET_TARGET}"),
    )
    cells = capped.groupBy("bucket", "sub").count().collect()
    assert max(r["count"] for r in cells) <= _KNN_BUCKET_TARGET
    # every row kept: the cap re-partitions candidates, never drops rows
    assert sum(r["count"] for r in cells) == n


def test_column_profile_single_scan(spark):
    """Multi-distinct profile must compile to ONE scan (Expand +
    two-phase aggregate), not one job per column."""
    from kinesis_to_opensearch_lambda_spark.plans import read_schemas

    df = q(spark, "diag_column_profile")
    assert len(read_schemas(df)) == 1
    assert "Expand" in plan_string(df)


def test_event_transitions_window_then_agg(spark):
    """Markov transitions: sequence window shuffles on user_id, pair agg
    on (src,dst), src-percentage window on the tiny matrix — and no
    Python anywhere."""
    df = q(spark, "window_event_transitions")
    assert shuffle_exchange_count(df) <= 3


def test_av_sync_join_equi_not_nestedloop(spark):
    """A/V alignment must join on doc_id as a hash equi-join with the
    byte-interval predicate as a filter — never an interval
    nested-loop."""
    df = q(spark, "mm_av_sync_join")
    plan = plan_string(df)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_partitioned_layout_prunes_at_listing(spark, tmp_path):
    """partitionBy('day') layout + day-literal filter must become a
    PartitionFilter (pruned at file listing, before any IO) — the
    mechanism source_partitioned_pruning packages as a query."""
    from kinesis_to_opensearch_lambda_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    out = str(tmp_path / "ev_part")
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    back = spark.read.parquet(out)
    one_day = back.agg(F.min("day")).collect()[0][0]
    df = back.filter(F.col("day") == one_day)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    # the day predicate must appear in the partition filters, meaning it
    # prunes directories at listing time rather than filtering rows
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan


def test_lsh_recall_shuffle_free(spark):
    """Recall harness: all per-pair work (mutation, shingles, minhash,
    band compare, Jaccard) is narrow/codegen — zero exchanges."""
    df = q(spark, "dedup_lsh_recall")
    assert shuffle_exchange_count(df) == 0


def test_psi_drift_two_exchanges_max(spark):
    """PSI: one scan, the bin aggregate's exchange, and the 1-row
    totals broadcast — never a join shuffle."""
    from kinesis_to_opensearch_lambda_spark.plans import read_schemas

    df = q(spark, "quality_psi_drift")
    assert len(read_schemas(df)) == 1
    assert shuffle_exchange_count(df) <= 2


def test_iterative_graph_ops_no_python(spark):
    """k-core peel and BFS frontier: int-key joins only, no Python."""
    for name in ("graph_kcore_peel", "graph_bfs_reachability"):
        assert_python_ban(spark, name, SF_DIR)


def test_round5_late_ops_no_python_no_allpairs(spark):
    """Late round-5 additions: all JVM-side, no nested-loop/cartesian
    surprises (the 1-row broadcast in the dataset card is exempt —
    broadcasting a single-row subresult is the intended shape)."""
    for name in (
        "window_time_weighted_avg",
        "mm_scene_change",
        "dedup_lsh_planner",
        "maintenance_zorder_skipping",
        "curation_dataset_card",
    ):
        df = q(spark, name)
        assert "CartesianProduct" not in plan_string(df), name


def test_time_weighted_avg_single_exchange(spark):
    """lead() window and the per-user rollup share the user_id
    partitioning: one exchange."""
    assert shuffle_exchange_count(q(spark, "window_time_weighted_avg")) == 1


def test_scene_change_single_exchange(spark):
    """Frame fan-out pipelines in the scan; lag window + per-doc rollup
    share the doc_id exchange."""
    assert shuffle_exchange_count(q(spark, "mm_scene_change")) == 1


def test_dynamic_partition_pruning_in_plan(spark, tmp_path):
    """The day-partitioned fact joined to a runtime-filtered dim must
    carry a dynamicpruning subquery on the fact scan (DPP), so fact
    partitions are pruned by the dim filter's result at runtime."""
    from kinesis_to_opensearch_lambda_spark.sources.batch import fan_out, load_table
    from pyspark.sql import functions as F

    d = str(tmp_path)
    ev = fan_out(load_table(spark, SF_DIR, "events")).select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(f"{d}/fact")
    dim = (
        ev.select("day").distinct().orderBy("day").limit(3)
        .withColumn("flag", F.lit(1))
    )
    dim.write.mode("overwrite").parquet(f"{d}/dim")
    fact = spark.read.parquet(f"{d}/fact")
    dim_back = spark.read.parquet(f"{d}/dim").filter(F.col("flag") == 1)
    j = fact.join(dim_back, "day").groupBy("day").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_leakage_split_shuffle_free_before_agg(spark):
    # group key + split bucket are per-row expressions; the only
    # exchanges are the two-phase distinct-group count (partial by
    # (split, gk), final by split)
    df = q(spark, "split_leakage_safe_groups")
    assert shuffle_exchange_count(df) <= 2


def test_hll_merge_shuffles_sketches_never_ids(spark):
    # daily partial agg, union-merge agg, single-pass agg, and the
    # 5-row result join: 4 exchanges, none carrying raw user ids past
    # the first partial (sketches are the shuffle payload), and no
    # nested-loop anywhere
    df = q(spark, "agg_hll_partial_merge")
    assert shuffle_exchange_count(df) == 4
    p = plan_string(df)
    assert "BroadcastNestedLoop" not in p and "Cartesian" not in p
    assert "hll_sketch_agg" in p and "hll_union_agg" in p


def test_scd2_pit_is_asof_not_range_join(spark):
    # the interval-containment lookup must compile to the union +
    # running-last window plan: SCD2 build window and same-day dedup
    # fused into ONE pass (lead over the same partitioning), so 2
    # exchanges total and no non-equi join node
    df = q(spark, "join_scd2_point_in_time")
    assert shuffle_exchange_count(df) == 2
    p = plan_string(df)
    assert "BroadcastNestedLoop" not in p and "Cartesian" not in p
    assert "Window" in p


def test_variant_extract_single_shuffle_no_python(spark):
    # parse_json + variant_get are JVM expressions inside the scan
    # stage; one exchange for the final agg
    df = q(spark, "variant_typed_extract")
    assert shuffle_exchange_count(df) == 1


def test_countmin_sketch_bounded_shuffles_probe_broadcast(spark):
    # r13 shape: the sketch is built from the per-DISTINCT-KEY exact
    # counts (md5 once per key, lineage-cut and shared with the exact
    # top-10 harness), so the visible plan is the checkpointed per-key
    # frame -> slot explode -> counter agg (1 exchange) -> probe join
    # broadcast -> final min-agg (1 exchange); the single lineitem scan
    # + per-key groupBy live below the cut.  The top-10 is a
    # TakeOrderedAndProject (no exchange).
    df = q(spark, "agg_countmin_heavy_hitters")
    assert shuffle_exchange_count(df) == 2
    p = plan_string(df)
    assert "TakeOrderedAndProject" in p, p
    assert has_broadcast_hash_join(df)


def test_ewma_single_exchange_no_python(spark):
    # finite-horizon EWMA: one shuffle on the series key; the weighted
    # dot product is per-row array arithmetic inside the window stage
    df = q(spark, "window_ewma_finite")
    assert shuffle_exchange_count(df) == 1


def test_recursive_cte_unionloop_no_nestedloop(spark):
    # WITH RECURSIVE compiles to Catalyst's UnionLoop: iteration is
    # engine-managed, each round's frontier expansion is an equi-join
    # (never cartesian), and the visible plan has a single exchange for
    # the final aggregate
    df = q(spark, "sql_recursive_cte_reachability")
    p = plan_string(df)
    assert "UnionLoop" in p
    assert "BroadcastNestedLoop" not in p and "Cartesian" not in p
    assert shuffle_exchange_count(df) == 1


def test_sql_udf_is_inlined(spark):
    # a SQL-language UDF must leave NO udf call node behind: Catalyst
    # inlines the body, so the plan is plain codegen arithmetic
    df = q(spark, "scalar_sql_udf_inlined")
    p = plan_string(df)
    assert "ScalaUDF" not in p and "PythonUDF" not in p
    assert shuffle_exchange_count(df) == 1


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling, asserted at RUNTIME: a 95%-one-key join
    executes with `skew=true` in the final adaptive plan, i.e. the
    straggler partition was split into advisory-sized sub-partitions.
    This is the zero-code remediation path diag_key_skew's report
    points at (join_salted_skew is the manual twin).  Thresholds are
    lowered so test-scale bytes trip the same machinery production
    defaults (256 MB) trip at real scale."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") < 190_000, 0)
            .otherwise((F.col("id") % 9) + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right.hint("shuffle_merge"), "k")
        assert len(j.collect()) == 200_000
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_poisson_bootstrap_two_exchanges_no_python(spark):
    # Poisson(1) weights are integer-threshold md5 expressions fused
    # into the scan+explode stage; shuffles are only the two
    # aggregations (per-replicate means, then replicate summary)
    df = q(spark, "sample_poisson_bootstrap")
    assert shuffle_exchange_count(df) <= 2


def test_corr_moments_single_reduce(spark):
    # all 10 exact moments ride one scan into one global aggregate
    # (partial map-side, at most one exchange of 10 numbers); the
    # correlation arithmetic is a projection over the 1-row result
    df = q(spark, "agg_corr_exact_moments")
    assert shuffle_exchange_count(df) <= 1


def test_mutual_information_single_exchange(spark):
    # exact joint counts are the only real shuffle; marginals are
    # window sums over the tiny contingency table
    df = q(spark, "agg_mutual_information")
    assert shuffle_exchange_count(df) == 1


def test_rejection_funnel_one_scan_one_shuffle(spark):
    # first-match CASE rides the scan; one agg exchange; the 1-row
    # total joins via broadcast
    df = q(spark, "curation_rejection_funnel")
    assert shuffle_exchange_count(df) == 1


def test_random_walk_bounded_rounds_no_nestedloop(spark):
    # adjacency is materialized once (localCheckpoint) and each of the
    # 3 hops is an equi-join round — bounded exchanges, no non-equi
    # join anywhere
    df = q(spark, "graph_random_walk_deterministic")
    p = plan_string(df)
    assert "BroadcastNestedLoop" not in p and "Cartesian" not in p
    assert shuffle_exchange_count(df) <= 12


def test_cusum_single_exchange_shared_window(spark):
    # the CUSUM recursion expands to prefix-sum + running-min over the
    # SAME partitioning: both windows share one shuffle on the series
    # key, no stateful UDF
    df = q(spark, "anomaly_cusum_drift")
    assert shuffle_exchange_count(df) == 1


def test_ks_two_sample_single_exchange(spark):
    # ECDF comparison collapses to the distinct-cents dictionary
    # before the (bounded) unpartitioned running sums: one exchange,
    # all-integer arithmetic
    df = q(spark, "quality_ks_two_sample")
    assert shuffle_exchange_count(df) == 1


def test_quality_percentile_filter_no_corpus_global_sort(spark):
    """The bottom-quartile cutoff must come from the bounded per-score
    dictionary, never a corpus-wide percent_rank (r5 WARN-site audit:
    this was the one remaining unbounded global window).  Pin that (a)
    no percent_rank node survives, and (b) every global Window sits
    above the dictionary HashAggregate, not the raw documents scan."""
    from kinesis_to_opensearch_lambda_spark.plans import plan_string

    plan = plan_string(q(spark, "quality_percentile_filter"), "simple")
    assert "percent_rank" not in plan, plan
    # walk each Window node's subtree: a HashAggregate (the score_i
    # dictionary) must appear before the parquet scan it reads from
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" not in ln:
            continue
        seen_agg = False
        for sub in lines[i + 1 :]:
            if "HashAggregate" in sub:
                seen_agg = True
            if "Scan parquet" in sub or "FileScan" in sub:
                assert seen_agg, f"Window reads raw scan:\n{plan}"
                break


def test_decontam_generator_not_duplicated(spark):
    """Pin the r6 33x fix: the shingle generator must not be duplicated
    into an inferred size(...)>0 pre-filter (InferFiltersFromGenerate
    is excluded session-wide), and the words split must be materialized
    once per side — the regressed plan carried 25 split() calls and
    spent 148s of 153s re-splitting text at sf1."""
    df = q(spark, "decontam_ngram_overlap")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # main (train) side: 1 split for the words projection; bench side
    # (50 docs, two shingle exprs) may carry ~10 — the broken plan had 25
    assert plan.count("split(") <= 12, plan.count("split(")
    rules = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    assert "InferFiltersFromGenerate" in rules


def test_blocked_cusum_windows_are_block_partitioned(spark):
    """anomaly_cusum_drift_blocked's skew-safety contract: every
    event-sized window pass partitions by (user_id, blk) — never by
    user_id alone — so a hot key splits across its day blocks; the
    only user_id-only window runs over the block summary (keys x days
    rows); and the carry table comes back via broadcast join."""
    df = q(spark, "anomaly_cusum_drift_blocked")
    plan = plan_string(df, "formatted")
    assert has_broadcast_hash_join(df), plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    key_only = [s for s in specs if "user_id" in s and "blk" not in s]
    block_local = [s for s in specs if "user_id" in s and "blk" in s]
    assert block_local, plan
    # the per-key pass exists (offsets/carry over the summary) but the
    # event-sized passes (sum + min over lp) are both block-local
    assert len(block_local) >= 2, specs
    assert len(key_only) <= 2, specs


def test_knn_graph_capped_index_bucketed_and_shared(spark):
    """r13 (r12 verdict task 1): the capped SRP bucket index is a
    session-scoped BUCKETED TABLE (bucketBy(8, bucket, sub), one
    sorted file per bucket) written once per (application, corpus,
    table) and shared by every kNN-family query.  Pin the shape: the
    production candidate self-join is a SortMergeJoin whose BOTH sides
    are bucketed scans with NO exchange and NO sort below the join,
    and two queries in one session hand back the SAME table frame."""
    from kinesis_to_opensearch_lambda_spark.operators.similarity_queries import (
        _capped_srp_table,
        directed_knn_topk,
    )

    import re

    knn = directed_knn_topk(spark, SF_DIR, n_tables=1)
    plan = plan_string(knn)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    # the ONLY exchange in the whole directed plan belongs to the
    # downstream top-k window (hashpartitioning on src) — the
    # candidate join itself reads co-located pre-sorted buckets
    exchanges = re.findall(r"Exchange (\w+)\(([^,)]+)", plan_string(knn, "simple"))
    assert len(exchanges) == 1, exchanges
    assert "src" in exchanges[0][1], exchanges
    assert _capped_srp_table(spark, SF_DIR, 0) is _capped_srp_table(spark, SF_DIR, 0)


def test_ann_index_bucketed_join_is_exchange_free(spark):
    # the persisted capped-SRP index read back as a bucketed table:
    # the candidate self-join on (bucket, sub) must read co-located
    # buckets with NO exchange on either side — hash(bucket) satisfies
    # the (bucket, sub) clustering since equal pairs imply equal buckets
    from kinesis_to_opensearch_lambda_spark.operators.bucketed_queries import (
        ann_index_join_plan,
    )

    plan = ann_index_join_plan(spark, SF_DIR)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "Exchange" not in plan, plan
