"""Storage-release contract for session.materialize (round-12 verdict
item 2): a long-lived session that runs materialize-heavy queries must be
able to return executor block storage to baseline between queries —
without releasing, every localCheckpoint pins its partitions for the
session lifetime (the sf5 growth study OOMed at 8 GB exactly this way
before per-query release existed)."""

from database_toolbox_spark.session import (
    materialize,
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


class _FakeRDD:
    def __init__(self, error: Exception | None = None) -> None:
        self.error, self.released = error, False

    def unpersist(self, blocking: bool) -> None:
        if self.error is not None:
            raise self.error
        self.released = True


def _fake_spark(rdds):
    from types import SimpleNamespace

    jsc = SimpleNamespace(getPersistentRDDs=lambda: dict(enumerate(rdds)))
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))


def test_release_failure_warns_and_counts_what_was_released():
    """A JVM-side failure mid-sweep is loud (a RuntimeWarning naming it)
    and the count keeps the unpersists that succeeded before it."""
    import pytest
    from py4j.protocol import Py4JError

    rdds = [_FakeRDD(), _FakeRDD(Py4JError("unpersist failed")), _FakeRDD()]
    with pytest.warns(RuntimeWarning, match="released 1 RDD.*unpersist failed"):
        assert release_materialized(_fake_spark(rdds)) == 1
    assert rdds[0].released and not rdds[2].released


def test_release_non_jvm_errors_propagate():
    import pytest

    with pytest.raises(TypeError):
        release_materialized(_fake_spark([_FakeRDD(TypeError("bug"))]))
