"""Plan-regression guards: the scale-critical physical-plan properties must
not silently degrade (pushdown reaching the scan, dims broadcasting, top-k
avoiding global sorts, column pruning)."""

from __future__ import annotations

import pytest

from clickhousemigrators3_spark.catalog import release

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    """Each plan is built in a session with no owned cache residency, so
    CacheManager cannot swap a subtree for an earlier query's
    ``InMemoryTableScan``."""
    release(spark)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import pyspark

    return df._jdf.queryExecution().explainString(
        pyspark.SparkContext._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q6_filters_pushed_to_scan(spark):
    from clickhousemigrators3_spark.operators.analytics import tpch_q6

    plan = _formatted(tpch_q6(spark, SF_DIR))
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    # column pruning: only the 4 needed columns reach the reader
    import re

    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in schema_line
    assert "l_extendedprice" in schema_line


def test_q3_broadcasts_dims_and_takeordered(spark):
    from clickhousemigrators3_spark.operators.relational import (
        tpch_q3_shipping_priority,
    )

    plan = _plan(tpch_q3_shipping_priority(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    assert "SortMergeJoin" not in plan


def test_flagship_prunes_columns(spark):
    from clickhousemigrators3_spark.operators.relational import (
        flagship_partition_rollup,
    )

    plan = _formatted(flagship_partition_rollup(spark, SF_DIR))
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"):
        assert col not in schema_line, f"unpruned column {col}"


def test_migrated_dataset_partition_pruning(spark, tmp_path):
    """Reading one partition of a migrated dataset must scan only that
    partition's directory (PartitionFilters, zero data filters)."""
    from clickhousemigrators3_spark.config import MigrationConfig
    from clickhousemigrators3_spark.operators.migrate import migrate_single_table
    from pyspark.sql import functions as F

    cfg = MigrationConfig(
        source_dir=SF_DIR,
        dest_dir=str(tmp_path / "dest"),
        partition_keys=["l_returnflag", "l_linestatus"],
        insert_interval=0.0,
        lock_dir=str(tmp_path / "locks"),
        progress_path=str(tmp_path / "progress.json"),
        report_dir=str(tmp_path / "reports"),
    )
    res = migrate_single_table(spark, cfg, "lineitem")
    assert res["status"] == "completed", res.get("error")
    out = spark.read.parquet(str(tmp_path / "dest" / "lineitem"))
    one = out.filter((F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "F"))
    plan = _formatted(one)
    assert "PartitionFilters" in plan
    part_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in part_line
    assert one.count() > 0


def test_window_topn_uses_group_limit(spark):
    from clickhousemigrators3_spark.operators.relational import window_topn

    plan = _plan(window_topn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan  # partial top-k before the shuffle


def test_funnel_single_scan_single_user_exchange(spark):
    """Opt round 14: the funnel is window aggregates over ONE user_id
    exchange — one events scan, zero joins (the old grouped-min + join
    chain scanned events 8x and planned 17 runtime exchanges)."""
    from clickhousemigrators3_spark.operators.event_analytics import ev_funnel_steps

    plan = _plan(ev_funnel_steps(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, "funnel must scan events once"
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_wau_spine_broadcasts(spark):
    from clickhousemigrators3_spark.operators.event_analytics import (
        ev_wau_sliding_7d,
    )

    plan = _plan(ev_wau_sliding_7d(spark, SF_DIR))
    # date spine is force-broadcast: the range join must be BNLJ/broadcast,
    # never a cartesian over the full activity set
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_per_day_uses_window_group_limit(spark):
    from clickhousemigrators3_spark.operators.event_analytics import (
        ev_topk_types_per_day,
    )

    plan = _plan(ev_topk_types_per_day(spark, SF_DIR))
    assert "WindowGroupLimit" in plan  # rank filter pushed into the window


def test_argmax_single_exchange(spark):
    """max_by aggregation must be one shuffle (plus the output sort) — no
    window, no join."""
    from clickhousemigrators3_spark.operators.event_analytics import (
        ev_argmax_per_user,
    )

    plan = _plan(ev_argmax_per_user(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_array_functions_stay_jvm(spark):
    """Higher-order array exprs must not fall back to Python evaluation."""
    from clickhousemigrators3_spark.operators.analytics import (
        array_functions_surface,
    )

    plan = _plan(array_functions_surface(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_doc_chunk_stays_jvm_and_prunes(spark):
    """Chunking is split+sequence+slice built-ins: no Python eval boundary,
    and the scan reads only (doc_id, text)."""
    from clickhousemigrators3_spark.operators.curation import doc_chunk_overlap

    plan = _plan(doc_chunk_overlap(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in schema_line and "source" not in schema_line


def test_quantize_no_join_no_python(spark):
    """int8 quantization is a pure narrow map — no join, no Python; the only
    exchange is the final presentation sort."""
    from clickhousemigrators3_spark.operators.curation import embedding_quantize_int8

    plan = _plan(embedding_quantize_int8(spark, SF_DIR))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_asof_forward_single_shuffle_no_range_join(spark):
    """Forward as-of keeps the union-sort form: one hash exchange on the
    group key, never a range self-join blow-up."""
    from clickhousemigrators3_spark.operators.asof import asof_join_next_view

    plan = _plan(asof_join_next_view(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ann_recall_broadcasts_queries(spark):
    """Recall measurement reuses the top-k pipelines; the small query panel
    and centroid set must stay on the build side (broadcast), not shuffle the
    corpus."""
    from clickhousemigrators3_spark.operators.similarity import ann_ivf_recall_at_k

    plan = _plan(ann_ivf_recall_at_k(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_grouped_trend_is_jvm_hashaggregate(spark):
    """The per-user regression slope is a native regr_slope aggregate: one
    HashAggregate pair. Neither it nor the per-language z-score window has
    a Python/Arrow boundary in its plan."""
    from clickhousemigrators3_spark.operators.grouped_pandas import (
        grouped_linear_trend_per_user,
        grouped_zscore_per_lang,
    )

    trend = _plan(grouped_linear_trend_per_user(spark, SF_DIR))
    assert "HashAggregate" in trend
    for plan in (trend, _plan(grouped_zscore_per_lang(spark, SF_DIR))):
        assert "FlatMapGroupsInPandas" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


def test_emb_lsh_dedup_no_cartesian(spark):
    """The LSH embedding near-dup path must never degenerate to the
    brute-force cartesian: candidates come from the (band, bucket)
    equi-join."""
    from clickhousemigrators3_spark.operators.dedup import (
        dedup_embedding_lsh_pairs,
    )

    plan = _plan(dedup_embedding_lsh_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_skew_salt_fanout_in_plan(spark):
    """The hot-key queries must keep their salt fan-out through optimization:
    the salted agg partially aggregates on (key, _salt) before the final
    combine, and the salted join replicates the small side via explode
    (Generate) and joins on (key, _salt)."""
    from clickhousemigrators3_spark.operators.analytics import (
        skew_hotkey_salted_agg,
        skew_hotkey_salted_join,
    )

    agg_plan = _plan(skew_hotkey_salted_agg(spark, SF_DIR))
    assert "_salt" in agg_plan  # partial phase keyed on (hot_key, _salt)

    join_plan = _plan(skew_hotkey_salted_join(spark, SF_DIR))
    assert "Generate explode" in join_plan  # small side replicated per salt
    assert "_salt" in join_plan  # join key extended with the salt
    assert "CartesianProduct" not in join_plan


def test_skew_hotkey_is_actually_skewed(spark):
    """Fixture sanity: the derived hot key really owns ~50% of the rows —
    without this the stress case silently degrades to a uniform join."""
    from clickhousemigrators3_spark.catalog import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_DIR, "lineitem")
    total = li.count()
    hot = li.filter(F.col("l_orderkey") % 2 == 0).count()
    assert 0.4 < hot / total < 0.6


def test_registry_no_python_boundary(spark):
    """Sweeping scale guard: no registered query may put Python in the hot
    path. Row-at-a-time BatchEvalPython is banned outright; Arrow stages
    (MapInPandas / FlatMapGroupsInPandas) are allowed only for the five
    queries whose semantics need them (multimodal codec plumbing, the
    grouped-Arrow demo). A new query that silently falls off the JVM fast
    path fails here, not in a profile six months later."""
    from clickhousemigrators3_spark.registry import load_all

    ARROW_SANCTIONED = {
        "grouped_zscore_per_lang",
        "mm_binary_metadata",
        "mm_feature_extract",
        "mm_frame_sample",
        "mm_resize",
        "mm_resize_bilinear",
        "mm_audio_resample",
        "mm_audio_frame_energy",
        "mm_video_frame_sample",
        # SemDeDup prune = per-cluster normalized gram matrix (the paper's
        # own computation): deliberately Arrow+BLAS — measured 3.5x the
        # interpreted-HOF self-join, equality-tested against it
        # (test_semdedup_gram_prune_equals_jvm_twin)
        "semdedup_cluster_prune",
        "semdedup_prune_trained",
    }
    offenders = {}
    for name, q in sorted(load_all().items()):
        if name.startswith("stream_"):
            continue  # streaming twins execute on call; covered elsewhere
        plan = _plan(q.fn(spark, SF_DIR))
        if "BatchEvalPython" in plan:
            offenders[name] = "BatchEvalPython"
        elif (
            "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan
        ) and name not in ARROW_SANCTIONED:
            offenders[name] = "unsanctioned Arrow stage"
    assert not offenders, offenders


def test_dict_get_no_join_no_exchange(spark):
    """dictGet compiles the bounded dictionary into a map literal: the plan
    must contain NO join and NO broadcast exchange — the lookup is a pure
    row expression over the customer scan (one sort for the ORDER BY is the
    only exchange allowed)."""
    from clickhousemigrators3_spark.operators.mergetree import (
        ch_dict_get_nation_name,
    )

    plan = _plan(ch_dict_get_nation_name(spark, SF_DIR))
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert "keys:" not in plan.lower() or "HashAggregate" not in plan


def test_limit_by_uses_window_group_limit(spark):
    """LIMIT n BY key must ride WindowGroupLimit (bounded per-key heap in
    the shuffle), not a full sort of each user's history."""
    from clickhousemigrators3_spark.operators.mergetree import ch_limit_by_recent

    plan = _plan(ch_limit_by_recent(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_replacing_final_single_shuffle(spark):
    """ReplacingMergeTree FINAL = one hash exchange on the key; a second
    fact-sized exchange would mean the window and the count stopped sharing
    the partitioning."""
    from clickhousemigrators3_spark.operators.mergetree import ch_replacing_final

    plan = _plan(ch_replacing_final(spark, SF_DIR))
    # one hash exchange for the window key + one range exchange for the
    # final ORDER BY — nothing else
    assert plan.count("Exchange hashpartitioning") == 1


def test_sequence_next_node_shares_window(spark):
    """Both LAGs and the ROW_NUMBER must share one user_id sort: two Window
    operators are fine, a second hashpartitioning exchange is not."""
    from clickhousemigrators3_spark.operators.mergetree import (
        ch_sequence_next_node,
    )

    plan = _plan(ch_sequence_next_node(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q21_single_fact_scan_no_self_join(spark):
    """Opt round 14: q21's per-order supplier counts are window aggregates
    over the one (order, supplier) relation sharing a single o_orderkey
    exchange — one lineitem scan, no sort-merge self-join (the old
    groupBy + join re-planned the fact subtree twice)."""
    from clickhousemigrators3_spark.operators.tpch_rest import tpch_q21

    plan = _formatted(tpch_q21(spark, SF_DIR))
    scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "lineitem" in line
    ]
    assert len(scans) == 1, "lineitem must be scanned once"
    assert "SortMergeJoin" not in plan


def test_substring_retained_window_form(spark):
    """Opt round 14: the df gate + first-writer min + drop test are one
    window pass over the distinct (doc_id, fp) relation — a Window node,
    no second fp-keyed aggregation join chain."""
    from clickhousemigrators3_spark.operators.dedup import (
        dedup_substring_retained,
    )

    plan = _plan(dedup_substring_retained(spark, SF_DIR))
    assert "Window" in plan
    # the anti-join build side is the window output — the old shape had an
    # extra fp-keyed HashAggregate + inner join feeding it
    assert "LeftAnti" in plan


def test_ann_lsh_bucket_assignment_is_map_side(spark):
    """Opt round 14: bucket assignment folds the one-row hyperplane model
    into a projection — the corpus must NOT be shuffled by vec_id to build
    buckets (the old form exploded x NBITS and ran a corpus-wide
    groupBy)."""
    from clickhousemigrators3_spark.operators.similarity import ann_lsh_topk

    plan = _plan(ann_lsh_topk(spark, SF_DIR))
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_substring_window_reuses_cached_fp_partitioning(spark):
    """Opt round 15: the fps relation is persisted already hash-partitioned
    by fp, so the retention window reads the cache with NO exchange between
    the InMemoryTableScan and the Window (the per-call corpus re-shuffle is
    gone); the one REPARTITION_BY_COL exchange lives inside the cached
    plan and also serves the pair-distinct."""
    from clickhousemigrators3_spark.operators.dedup import (
        dedup_substring_retained,
    )

    df = dedup_substring_retained(spark, SF_DIR)
    df.count()  # materialize the cache so the executed plan is the steady one
    plan = _plan(dedup_substring_retained(spark, SF_DIR))
    win_seg = plan[: plan.index("Window")]
    # everything above the window: anti-join + final sort only — no fp
    # hash exchange re-partitioning the cached rows
    assert "REPARTITION_BY_COL" not in win_seg
    between = plan[plan.index("Window"): plan.index("InMemoryTableScan")]
    assert "Exchange" not in between, between


def test_minhash_perdoc_single_exchange(spark):
    """Opt round 15: lsh_perdoc folds the (doc_id, h) distinct into the
    doc-level aggregation (collect_set + min over the multiset), so the
    corpus-sized hashed-shingle relation is shuffled ONCE — a single
    Exchange in the per-doc subtree, not distinct + groupBy."""
    from clickhousemigrators3_spark.catalog import load_table
    from clickhousemigrators3_spark.operators.dedup import lsh_perdoc

    plan = _plan(lsh_perdoc(load_table(spark, SF_DIR, "documents")))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "collect_set" in plan


def test_minhash_perdoc_single_exchange_after_lsh_pairs(spark):
    """The LSH pipeline's persisted per-doc relation is owned, so releasing
    it after a ``dedup_minhash_lsh_pairs`` run gives the per-doc plan back
    its own single Exchange."""
    from clickhousemigrators3_spark.operators.dedup import dedup_minhash_lsh_pairs

    dedup_minhash_lsh_pairs(spark, SF_DIR).count()
    release(spark)
    test_minhash_perdoc_single_exchange(spark)


def test_ann_lsh_hyperplanes_are_local_relation(spark):
    """Opt round 15: the hyperplane model crosses the driver once and
    re-enters as a local relation — the executed plan must not scan
    embeddings for the hyperplane subtree (2 scans total: corpus + the
    pushed-filter query side) nor re-aggregate it per reference."""
    from clickhousemigrators3_spark.operators.similarity import ann_lsh_topk

    plan = _plan(ann_lsh_topk(spark, SF_DIR))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "ObjectHashAggregate" not in plan
    # the model row appears as a local/RDD relation, never a parquet scan
    assert ("LocalTableScan" in plan) or ("Scan ExistingRDD" in plan)
