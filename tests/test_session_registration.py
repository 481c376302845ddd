"""Table registration and table reads are separate jobs of ``session``.

``load_tables`` keeps the ten views registered and returns the frame
registered under each name; while our registration over the same source
stands it runs no parquet read. ``load_table`` registers the same way and
hands out a fresh read. Both read through ``session._read``, which these
tests count.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_toolbox_spark import session
from database_toolbox_spark.session import (
    DOCSTORE_PERSIST_ENV,
    TABLES,
    load_table,
    load_tables,
    table_path,
)
from tests.conftest import SF_DIR

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def reads(monkeypatch):
    """Paths passed to ``session._read``, in call order."""
    paths: list[str] = []
    read = session._read

    def counted(spark, path):
        paths.append(path)
        return read(spark, path)

    monkeypatch.setattr(session, "_read", counted)
    return paths


@pytest.fixture
def registered(spark, monkeypatch):
    """The fixture tables registered from parquet; registered again on
    exit, so a test's switch of source or substitution does not leak."""
    monkeypatch.delenv(DOCSTORE_PERSIST_ENV, raising=False)
    load_tables(spark, SF_DIR, replace=True)
    yield
    monkeypatch.delenv(DOCSTORE_PERSIST_ENV, raising=False)
    load_tables(spark, SF_DIR, replace=True)


def _sf_copy(tmp_path, events=None) -> str:
    """A data dir under tmp_path: symlinks to the fixture tables, with
    ``events`` (a pyarrow table) written in place of the fixture's."""
    d = tmp_path / "sf"
    d.mkdir()
    for name in TABLES:
        if name == "events" and events is not None:
            pq.write_table(events, d / "events.parquet")
        else:
            os.symlink(table_path(SF_DIR, name), d / f"{name}.parquet")
    return str(d)


def _sources(spark) -> dict[str, str]:
    return {name: src for name, (_, src) in session._view_registry(spark).items()}


def test_warm_load_tables_runs_no_read(spark, registered, reads):
    tables = load_tables(spark, SF_DIR)
    assert reads == []
    assert set(tables) == set(TABLES)
    for name, df in tables.items():
        assert df.sameSemantics(spark.table(name)), name


def test_load_tables_reregisters_after_sf_dir_switch(
    spark, registered, reads, tmp_path
):
    other = _sf_copy(tmp_path)
    load_tables(spark, other)
    assert reads == [table_path(other, name) for name in TABLES]
    assert _sources(spark) == {n: table_path(other, n) for n in TABLES}

    reads.clear()
    load_tables(spark, SF_DIR)
    assert reads == [table_path(SF_DIR, name) for name in TABLES]


def test_load_tables_reregisters_when_persisted_copy_appears(
    spark, registered, reads, tmp_path, monkeypatch
):
    persisted = tmp_path / "persist"
    persisted.mkdir()
    shutil.copy(table_path(SF_DIR, "nation"), persisted / "nation.parquet")
    monkeypatch.setenv(DOCSTORE_PERSIST_ENV, str(persisted))

    load_tables(spark, SF_DIR)
    assert reads == [str(persisted / "nation.parquet")]
    assert _sources(spark)["nation"] == str(persisted / "nation.parquet")

    reads.clear()
    monkeypatch.delenv(DOCSTORE_PERSIST_ENV)
    load_tables(spark, SF_DIR)
    assert reads == [table_path(SF_DIR, "nation")]


def test_load_tables_keeps_a_substituted_view(spark, registered, reads):
    spark.read.parquet(table_path(SF_DIR, "region")).filter(
        "r_regionkey < 2"
    ).createOrReplaceTempView("region")

    assert load_tables(spark, SF_DIR)["region"].count() == 2
    assert load_table(spark, SF_DIR, "region").count() == 2
    assert spark.table("region").count() == 2
    assert reads == []


def test_load_table_frames_self_join(spark, registered):
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    # one shared set of expression IDs would make this join ambiguous
    assert a.join(b, a["n_regionkey"] == b["n_nationkey"]).count() == 25


def _nanos_events() -> pa.Table:
    """The fixture's events with ts stored as TIMESTAMP(NANOS)."""
    events = pq.read_table(table_path(SF_DIR, "events"))
    nanos = pa.timestamp("ns", events.schema.field("ts").type.tz)
    i = events.schema.get_field_index("ts")
    return events.set_column(i, "ts", events["ts"].cast(nanos))


def test_nanos_events_read_as_micros(spark, registered, tmp_path):
    other = _sf_copy(tmp_path, events=_nanos_events())
    ts_type = pq.read_schema(table_path(other, "events")).field("ts").type
    assert ts_type.unit == "ns"
    try:
        nanos = load_table(spark, other, "events")
        assert spark.conf.get(NANOS_AS_LONG) == "true"
        micros = spark.read.parquet(table_path(SF_DIR, "events"))
        # the type Spark infers for the same column stored as micros, and
        # the same raw values, with no cast in between
        assert nanos.dtypes == micros.dtypes
        assert sorted(nanos.collect()) == sorted(micros.collect())
    finally:
        spark.conf.unset(NANOS_AS_LONG)


def test_confirmed_nanos_registration_sets_nanos_as_long(
    spark, registered, tmp_path
):
    other = _sf_copy(tmp_path, events=_nanos_events())
    try:
        load_tables(spark, other)
        spark.conf.unset(NANOS_AS_LONG)
        load_tables(spark, other)  # the registration stands
        assert spark.conf.get(NANOS_AS_LONG) == "true"
        n = spark.sql("SELECT count(ts) FROM events").first()[0]
        assert n == pq.read_metadata(table_path(SF_DIR, "events")).num_rows
    finally:
        spark.conf.unset(NANOS_AS_LONG)
