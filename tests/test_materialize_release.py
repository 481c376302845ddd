"""Storage-release contract for session.materialize (round-12 verdict
item 2): a long-lived session that runs materialize-heavy queries must be
able to return executor block storage to baseline between queries —
without releasing, every localCheckpoint pins its partitions for the
session lifetime (the sf5 growth study OOMed at 8 GB exactly this way
before per-query release existed)."""

import pytest

from database_toolbox_spark.operators import (
    dedup,
    fingerprints,
    graph,
    similarity,
)
from database_toolbox_spark.session import (
    materialize,
    measured,
    noop_write,
    release_materialized,
)
from tests.conftest import SF_DIR


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_after_materialize_heavy_queries(spark):
    """Run several materialize-heavy registry queries back to back in ONE
    session, releasing between them; storage must return to the session's
    baseline (zero net pinned RDDs) after each release."""
    from database_toolbox_spark.operators.dedup import (
        fuzzy_decontamination,
        semdedup_drop_candidates,
    )
    from database_toolbox_spark.operators.graph import personalized_pagerank

    # the session fixture may carry pins from earlier tests; start clean
    release_materialized(spark, blocking=True)
    baseline = _n_persistent(spark)
    assert baseline == 0

    for fn in (fuzzy_decontamination, semdedup_drop_candidates,
               personalized_pagerank):
        df = fn(spark, SF_DIR)
        assert _n_persistent(spark) > 0, (
            f"{fn.__name__} no longer materializes — update this test's "
            "query list to keep the release path covered"
        )
        df.write.mode("overwrite").format("noop").save()
        released = release_materialized(spark, blocking=True)
        assert released > 0
        assert _n_persistent(spark) == baseline, fn.__name__


def test_release_is_idempotent_and_safe_on_clean_session(spark):
    release_materialized(spark, blocking=True)
    assert release_materialized(spark, blocking=True) == 0
    assert _n_persistent(spark) == 0


def test_released_checkpoint_fails_loudly_not_silently(spark):
    """A released localCheckpoint must not silently recompute: lineage is
    truncated, so reuse AFTER release raises. This pins the documented
    contract that release_materialized is called only between queries."""
    import pytest

    release_materialized(spark, blocking=True)
    df = materialize(spark.table("region"))
    release_materialized(spark, blocking=True)
    with pytest.raises(Exception):
        df.count()


class _FakeJvmContext:
    """Stands in for the JVM SparkContext: ``unpersistRDD`` raises the
    error planted for an id and records every id it released."""

    def __init__(self, errors: dict[int, Exception]) -> None:
        self.errors, self.released = errors, []

    def unpersistRDD(self, rdd_id: int, blocking: bool) -> None:
        if rdd_id in self.errors:
            raise self.errors[rdd_id]
        self.released.append(rdd_id)


def _fake_spark(jvm: _FakeJvmContext, pinned: list[int]):
    """A session whose caller (no job group) has ``pinned`` registered."""
    from types import SimpleNamespace

    sc = SimpleNamespace(
        getLocalProperty=lambda key: None,
        _dts_pins={None: list(pinned)},
        _jsc=SimpleNamespace(sc=lambda: jvm),
    )
    return SimpleNamespace(sparkContext=sc)


def test_release_failure_warns_and_counts_what_was_released():
    """A JVM-side failure mid-release is loud (a RuntimeWarning naming it)
    and the count keeps the unpersists that succeeded before it."""
    import pytest
    from py4j.protocol import Py4JError

    jvm = _FakeJvmContext({1: Py4JError("unpersist failed")})
    with pytest.warns(RuntimeWarning, match="released 1 RDD.*unpersist failed"):
        assert release_materialized(_fake_spark(jvm, [0, 1, 2])) == 1
    assert jvm.released == [0]


def test_release_non_jvm_errors_propagate():
    import pytest

    jvm = _FakeJvmContext({0: TypeError("bug")})
    with pytest.raises(TypeError):
        release_materialized(_fake_spark(jvm, [0]))


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_release_is_scoped_to_the_callers_job_group(spark, ddb):
    """Two materialize-heavy queries built under two job groups in one
    session, interleaved: releasing the first group's pins leaves the
    second query's checkpoints alone, so it still executes and matches its
    oracle."""
    from database_toolbox_spark.operators import all_oracles
    from database_toolbox_spark.operators.dedup import fuzzy_decontamination
    from database_toolbox_spark.operators.graph import personalized_pagerank
    from tests.conftest import compare_with_oracle

    sc = spark.sparkContext
    start, built = _n_persistent(spark), {}
    try:
        for fn in (fuzzy_decontamination, personalized_pagerank):
            sc.setJobGroup(fn.__name__, fn.__name__)
            before = _n_persistent(spark)
            built[fn.__name__] = fn(spark, SF_DIR)
            assert _n_persistent(spark) > before, fn.__name__
        pinned = _n_persistent(spark)
        sc.setJobGroup("fuzzy_decontamination", "release")
        released = release_materialized(spark, blocking=True)
        assert released > 0
        assert _n_persistent(spark) == pinned - released
        sc.setJobGroup("personalized_pagerank", "execute")
        compare_with_oracle(
            spark, ddb, lambda *_: built["personalized_pagerank"],
            all_oracles()["personalized_pagerank"],
        )
        assert release_materialized(spark, blocking=True) > 0
    finally:
        _clear_job_group(sc)
    assert _n_persistent(spark) == start


def test_concurrent_callers_release_only_their_own_pins(spark):
    """Threads each pin and release under their own job group (PySpark
    keeps local properties per thread): a release frees exactly its own
    thread's pins, so it never breaks another thread's live query."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    n_threads = 8
    barrier = threading.Barrier(n_threads, timeout=120)

    def query(i: int) -> tuple[int, int]:
        sc = spark.sparkContext
        sc.setJobGroup(f"thread-{i}", "concurrent release")
        try:
            frames = [materialize(spark.range(10 * i + k)) for k in range(3)]
            barrier.wait()  # every thread has pinned before any releases
            rows = sum(f.count() for f in frames)
            return release_materialized(spark, blocking=True), rows
        finally:
            _clear_job_group(sc)

    before = _n_persistent(spark)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futures = [pool.submit(query, i) for i in range(n_threads)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert results == [(3, 30 * i + 3) for i in range(n_threads)]
    assert _n_persistent(spark) == before


def test_callers_own_persist_survives_release(spark):
    from pyspark import StorageLevel

    own = spark.table("region").persist()
    try:
        own.count()
        before = _n_persistent(spark)
        materialize(spark.table("nation"))
        assert release_materialized(spark, blocking=True) == 1
        assert _n_persistent(spark) == before
        assert own.storageLevel != StorageLevel.NONE
    finally:
        own.unpersist(blocking=True)


def test_measured_records_a_query_and_releases_its_pins(spark):
    from database_toolbox_spark.operators.graph import personalized_pagerank

    sc = spark.sparkContext
    before = _n_persistent(spark)
    with measured(spark, "ppr") as run:
        df = run.build(personalized_pagerank, spark, SF_DIR)
        assert _n_persistent(spark) > before
        run.execute(noop_write, df)
    assert run.name == "ppr" and run.error is None
    assert run.build_s > 0 and run.exec_s > 0
    assert run.jobs >= 1 and run.checkpoints > 0
    assert run.stages >= 1 and run.tasks >= run.stages
    assert _n_persistent(spark) == before
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_measured_records_a_failed_build_and_still_releases(spark):
    import pytest

    def broken_build(spark, sf_dir):
        materialize(spark.table("region"))
        raise ValueError("broken build")

    sc = spark.sparkContext
    before = _n_persistent(spark)
    try:
        sc.setJobGroup("outer", "caller's own group")
        with pytest.raises(ValueError, match="broken build"):
            with measured(spark, "broken") as run:
                run.build(broken_build, spark, SF_DIR)
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    finally:
        _clear_job_group(sc)
    assert run.error == "ValueError" and run.checkpoints == 1
    assert _n_persistent(spark) == before


# materialize pins per graph query: each graph's one edge checkpoint plus
# the query's own multiply-read intermediates. A builder that quietly adds
# a checkpoint (or a consumer that re-checkpoints the edges) fails here.
GRAPH_CHECKPOINTS = {
    "pagerank_top_nodes": 2,
    "event_type_triangles": 1,
    "bfs_reachable_hops": 1,
    "kcore_decomposition": None,  # data-dependent, see the test
    "label_propagation_communities": 2,
    "hits_hub_authority": 3,
    "local_clustering_coefficient": 1,
    "link_prediction_scores": 1,
    "copurchase_capped_pairs": 0,
    "graph_edge_churn": 1,
    "graph_degree_assortativity": 1,
    "sssp_weighted_hops": 7,
    "personalized_pagerank": 3,
}

# the vector tier: each IVF consumer's one index checkpoint (from
# similarity._ivf_assigned), the code tables, and the few multiply-read
# intermediates; ivf_cell_assignments reads the assignment once and pins
# nothing. A consumer that re-checkpoints the index fails here.
SIMILARITY_CHECKPOINTS = {
    "mutual_nn_pairs": 2,
    **dict.fromkeys((
        "ann_recall_eval", "bq_ann_topk", "bq_asym_recall_curve",
        "bq_bits_recall_curve", "embedding_anisotropy",
        "hard_negative_pairs", "ivf_ann_topk", "ivf_bq_ann_topk",
        "ivf_nprobe_recall_curve", "ivf_rebalance_advisor",
        "ivfpq_ann_topk", "mmr_diverse_topk", "ndcg_ann_eval",
    ), 1),
    **dict.fromkeys((
        "cosine_topk", "dim_truncation_recall", "embedding_centroid_drift",
        "hard_negative_mining", "hybrid_rrf_search", "ivf_cell_assignments",
        "jl_projection_stats", "knn_graph_topk", "lsh_ann_topk",
        "lsh_bucket_histogram", "mrl_dim_recall_curve", "pq_ann_topk",
        "pq_distortion_eval", "sq8_ann_topk",
    ), 0),
}

# the MinHash tier: the shingle checkpoint (dedup._shingles), the
# signature checkpoint over it (dedup._signatures), and the composed
# pair relation where a consumer reads it more than once. The inline
# consumers pin nothing. A consumer that re-checkpoints the shingles or
# the signatures fails here.
DEDUP_CHECKPOINTS = {
    **dict.fromkeys(("minhash_signatures", "near_dup_threshold_curve"), 0),
    **dict.fromkeys((
        "ngram_jaccard_pairs", "jaccard_prefix_filter_pairs",
        "containment_dup_pairs", "lsh_candidate_budget",
    ), 1),
    **dict.fromkeys((
        "minhash_near_dup_pairs", "minhash_delta_pairs",
        "minhash_estimate_calibration", "idf_cosine_dup_pairs",
        "split_leakage_audit",
    ), 2),
    **dict.fromkeys((
        "near_dup_rate_by_source", "fuzzy_decontamination",
        "split_decontaminated_counts",
    ), 3),
}
_DEDUP_TIER = {**dedup.QUERIES, **fingerprints.QUERIES}
PINNED_QUERIES = {
    **graph.QUERIES,
    **similarity.QUERIES,
    **{name: _DEDUP_TIER[name] for name in DEDUP_CHECKPOINTS},
}
PINNED_CHECKPOINTS = {
    **GRAPH_CHECKPOINTS, **SIMILARITY_CHECKPOINTS, **DEDUP_CHECKPOINTS,
}


@pytest.mark.parametrize("name", sorted(PINNED_QUERIES))
def test_graph_query_checkpoints_are_pinned(spark, monkeypatch, name):
    # the durable ANN index path reads parquet instead of checkpointing
    monkeypatch.delenv(similarity.ANN_PERSIST_ENV, raising=False)
    with measured(spark, name) as run:
        df = run.build(PINNED_QUERIES[name], spark, SF_DIR)
        run.execute(noop_write, df)
        rows = df.collect()
    expected = PINNED_CHECKPOINTS[name]
    if expected is None:
        # edges + the symmetrized graph, then one per peeling round run:
        # every round reported after round 0 plus the unchanged round that
        # stopped the loop, at most KCORE_MAX_ROUNDS
        expected = 2 + min(len(rows), graph.KCORE_MAX_ROUNDS)
    assert run.error is None
    assert run.checkpoints == expected
