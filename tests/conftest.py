import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# get_spark defaults to local[32] (the bench box); a test session
# takes the CPUs this process may run on unless told otherwise.
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


@pytest.fixture(scope="session")
def spark():
    from filters_spark.sources import get_spark

    s = get_spark("filters_spark_tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def spark_jobs(spark, fn):
    """Run ``fn()`` and return ``(result, n)`` where ``n`` counts the
    Spark jobs it ran: those in a fresh job group set on this thread,
    plus new group-less jobs (a commit's side writes run on pool
    threads, which do not inherit the caller's job group)."""
    import uuid

    sc = spark.sparkContext
    st = sc.statusTracker()
    group = f"spark-jobs-{uuid.uuid4().hex}"
    before = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(st.getJobIdsForGroup(group)) \
        | (set(st.getJobIdsForGroup(None)) - before)
    return out, len(jobs)


def run_chain(spark, chain, values, in_type="string", field="v"):
    """Reference-style test harness (``filters/test.py::
    BaseFilterTestCase`` analog): run a chain over a list of raw
    values, return [(cleaned, code)] in input order."""
    from pyspark.sql import functions as F
    from filters_spark.core import null_error

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"i int, v {in_type}"
    )
    c, e = chain.build(F.col("v"), null_error(), field)
    c = F.when(e.isNull(), c)  # end-of-chain nulling, as ValidationSchema does
    rows = (
        df.select(F.col("i"), c.alias("clean"), e.alias("err"))
        .orderBy("i")
        .collect()
    )
    return [(r["clean"], r["err"]["code"] if r["err"] else None) for r in rows]


def assert_passes(spark, chain, value, expected, in_type="string"):
    [(clean, code)] = run_chain(spark, chain, [value], in_type)
    assert code is None, f"expected pass, got error {code!r} for {value!r}"
    assert clean == expected, f"{value!r}: cleaned {clean!r} != {expected!r}"


def assert_errors(spark, chain, value, expected_code, in_type="string"):
    [(clean, code)] = run_chain(spark, chain, [value], in_type)
    assert code == expected_code, (
        f"{value!r}: expected code {expected_code!r}, got {code!r} (clean={clean!r})"
    )
    assert clean is None, f"errored value must clean to None, got {clean!r}"


# ---------------------------------------------------------------------------
# Slow-set marking (r12, VERDICT r11 task 2).  The driver's
# verification pass runs `python -m pytest tests/ -x -q` under a time
# budget the ~900-test suite outgrew in r11 (tests_ok=false was a
# budget expiry at ~70%, zero failures).  pytest.ini default-deselects
# `-m "not slow"`; the set below is every test that measured >= 7 s in
# this round's full-suite --durations=60 run (896 passed, 36:44
# contended), plus the 120-commit plan-bound pin added this round —
# about 16 minutes of the default pass moved behind `-m slow`.
# Keep this list MEASURED: re-derive it from a --durations run, don't
# guess.  Run BOTH halves before any round close (the verify skill
# documents the commands).

_SLOW_NODEIDS = {
    "tests/test_projection.py::TestLangId::test_bake_matches_refit",
    "tests/test_cluster_drift.py::TestProductQuantization::test_pq_index_append_matches_rebuild",
    "tests/test_property.py::test_stored_netting_equals_diff_on_random_histories",
    "tests/test_functions.py::TestCosine::test_embedding_dup_pairs",
    "tests/test_graph_retrieval.py::TestBM25::test_persist_accumulation_bounded_and_releasable",
    "tests/test_property.py::test_covariance_merge_split_invariance",
    "tests/test_cluster_drift.py::TestResidualPQ::test_index_lifecycle_residual_matches_inmemory",
    "tests/test_projection.py::TestLogisticFit::test_classifies_and_regularizes",
    "tests/test_cluster_drift.py::TestProductQuantization::test_pq_compact_reduces_files_same_answers",
    "tests/test_sampling.py::TestBloomSemiJoin::test_null_keys_and_empty_small_side",
    "tests/test_projection.py::TestLogisticFit::test_matches_numpy_irls",
    "tests/test_cluster_drift.py::TestResidualPQ::test_compact_preserves_residual_artifacts",
    "tests/test_cluster_drift.py::TestResidualPQ::test_append_encodes_against_frozen_base",
    "tests/test_pipeline_ops.py::TestClusterStore::test_append_merges_equal_full_run",
    "tests/test_projection.py::TestLogisticFit::test_separable_data_stays_finite",
    "tests/test_property.py::test_duplicate_spans_matches_python_oracle",
    "tests/test_cluster_drift.py::TestResidualPQ::test_residual_beats_raw_on_clustered",
    "tests/test_pipeline_ops.py::TestClusterStore::test_chained_merges_resolve",
    "tests/test_graph_retrieval.py::TestMaterializedPostings::test_two_query_sets_match_oneshot_no_cache_growth",
    "tests/test_streaming.py::TestChangeFeedRateLimit::test_restart_from_committed_checkpoint_no_duplicates",
    "tests/test_property.py::test_pagerank_matches_python_oracle",
    "tests/test_formats.py::TestReadEvolving::test_pure_scan_plan",
    "tests/test_property.py::test_decontaminate_matches_python_oracle",
    "tests/test_streaming.py::TestChangeFeedStream::test_replica_apply_mor",
    "tests/test_streaming.py::TestChangeFeedStream::test_governed_loop_as_one_stream",
    "tests/test_sampling.py::TestBloomSemiJoin::test_matches_exact_semi_join",
    "tests/test_streaming.py::TestChangeFeedStream::test_feed_with_commit_versions",
    "tests/test_property.py::test_int_matches_python_oracle",
    "tests/test_cluster_drift.py::TestProductQuantization::test_train_encode_shapes_and_determinism",
    "tests/test_projection.py::TestQualityClassifier::test_bake_matches_refit",
    "tests/test_formats.py::TestReadEvolving::test_reconciles_missing_extra_and_widened",
    "tests/test_graph_retrieval.py::TestAppendIvf::test_append_equals_rebuild_label_cells",
    "tests/test_property.py::test_pps_total_hits_property",
    "tests/test_streaming.py::TestChangeFeedStream::test_stream_crosses_a_restore_commit",
    "tests/test_functions.py::TestConnectedComponentsStar::test_equivalent_to_label_propagation",
    "tests/test_cluster_drift.py::TestProductQuantization::test_ivfpq_prunes_to_probed_cells",
    "tests/test_projection.py::TestHashedQualityClassifier::test_bake_matches_refit",
    "tests/test_cluster_drift.py::TestKmeans::test_separates_obvious_clusters",
    "tests/test_cluster_drift.py::TestProductQuantization::test_train_mod_sampled_codebooks_still_work",
    "tests/test_graph_retrieval.py::TestCompactIvf::test_compaction_shrinks_files_probe_identical",
    "tests/test_property.py::test_strip_matches_python_oracle",
    "tests/test_graph_retrieval.py::TestAppendIvf::test_append_lsh_quantizer_from_meta",
    "tests/test_formats.py::TestAvroRoundtrip::test_all_types_roundtrip",
    "tests/test_property.py::test_uuid_canonicalization_property",
    "tests/test_streaming.py::TestIncrementalDedupSink::test_rolling_batches_and_replay_idempotency",
    "tests/test_pipeline_ops.py::TestRemapGuard::test_read_canonical_guard_raises",
    "tests/test_streaming.py::TestChangeFeedStream::test_crash_replay_is_exactly_once",
    "tests/test_graph_retrieval.py::TestAppendPostings::test_append_equals_rebuild_bit_exact",
    "tests/test_streaming.py::TestGovernedStreamingLoop::test_loop_with_poison_and_replays",
    "tests/test_streaming.py::TestChangeFeedRateLimit::test_max_versions_per_batch",
    "tests/test_iso.py::TestCountry::test_invalid",
    "tests/test_property.py::test_base64_roundtrip_property",
    "tests/test_property.py::test_decimal_finite_property",
    "tests/test_streaming.py::TestChangeFeedStream::test_cdc_feed_through_watermarked_window",
    "tests/test_streaming.py::TestChangeFeedStream::test_default_start_streams_only_future_commits",
    "tests/test_iso.py::TestLocale::test_invalid",
    "tests/test_projection.py::TestCovariancePairs::test_partitioning_invariance",
    "tests/test_functions.py::TestConnectedComponentsStar::test_long_chain_needs_log_rounds",
    "tests/test_udf.py::TestCall::test_udf_executes_once_per_row_staged",
    "tests/test_functions.py::TestComponentsEdgeCases::test_propagation_raises_when_diameter_exceeds_cap",
    "tests/test_versioned.py::TestScd2FromChanges::test_long_stored_history_plan_bounded",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in _SLOW_NODEIDS:
            item.add_marker(pytest.mark.slow)
