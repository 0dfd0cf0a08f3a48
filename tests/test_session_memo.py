"""Session memos in ``registry``: one entry per (session, getter
arguments), evicted by ``clear_session_memos``.

The memo tests run against two aliases of the sf0.001 fixture (symlink
directories), so the evictions they trigger never touch the memos that
other tests in the shared session built on the fixture itself.
"""

from __future__ import annotations

import gc
import os
import weakref

import pytest
from pyspark import StorageLevel

from kafka_overwatch_spark import registry
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def aliases(tmp_path_factory):
    out = []
    for name in ("a", "b"):
        d = tmp_path_factory.mktemp(f"sf_alias_{name}")
        for f in os.listdir(SF_DIR):
            os.symlink(os.path.join(SF_DIR, f), d / f)
        out.append(str(d))
    return out


def test_second_call_returns_identical_object(spark, aliases):
    a, _ = aliases
    for getter in (
        registry.get_raw_tables,
        registry.get_snaps,
        registry.get_cluster_snaps,
        registry.get_topics_df,
        registry.get_lag_rows,
        registry.get_shingle_docs,
        registry.get_copurchase_edges,
    ):
        assert getter(spark, a) is getter(spark, a), getter.__name__


def test_distinct_arguments_get_distinct_entries(spark, aliases):
    a, b = aliases
    shingles = registry.get_shingle_docs
    assert shingles(spark, a) is not shingles(spark, b)
    # the default cluster argument keys the same entry as passing it
    snaps = registry.get_cluster_snaps
    primary = snaps(spark, a)
    assert snaps(spark, a, registry.REPORT_CLUSTER) is primary
    assert snaps(spark, a, cluster=registry.REPORT_CLUSTER) is primary
    assert snaps(spark, a, "analytics") is not primary
    topics = registry.get_topics_df
    assert topics(spark, a, "analytics") is not topics(spark, a)


def test_clear_session_memos(spark, aliases):
    a, b = aliases
    plumbing = {
        "raw": registry.get_raw_tables(spark, a),
        "snaps": registry.get_snaps(spark, a),
        "cluster_snaps": registry.get_cluster_snaps(spark, a),
        "topics_df": registry.get_topics_df(spark, a),
        "lag": registry.get_lag_rows(spark, a),
        "groups_df": registry.get_groups_df(spark, a),
    }
    shingles = registry.get_shingle_docs(spark, a)
    _, assigned = registry.get_ivf(spark, a)
    edges = registry.get_copurchase_edges(spark, a)
    other = registry.get_shingle_docs(spark, b)
    assert shingles.storageLevel != StorageLevel.NONE
    assert assigned.storageLevel != StorageLevel.NONE

    cleared = registry.clear_session_memos(spark, sf_dir=a, keep={"edges"})

    assert sorted(cleared) == ["ivf", "shingle"]
    # cached frames are unpersisted, including the one inside ivf's tuple
    assert shingles.storageLevel == StorageLevel.NONE
    assert assigned.storageLevel == StorageLevel.NONE
    assert registry.get_shingle_docs(spark, a) is not shingles
    # keep={"edges"} and the sf_dir filter spare their entries
    assert registry.get_copurchase_edges(spark, a) is edges
    assert registry.get_shingle_docs(spark, b) is other
    assert other.storageLevel != StorageLevel.NONE
    # the six plumbing memos are never evicted
    assert registry.get_raw_tables(spark, a) is plumbing["raw"]
    assert registry.get_snaps(spark, a) is plumbing["snaps"]
    assert registry.get_cluster_snaps(spark, a) is plumbing["cluster_snaps"]
    assert registry.get_topics_df(spark, a) is plumbing["topics_df"]
    assert registry.get_lag_rows(spark, a) is plumbing["lag"]
    assert registry.get_groups_df(spark, a) is plumbing["groups_df"]

    # without keep, edges go too; a second clear finds nothing to evict
    assert sorted(registry.clear_session_memos(spark, sf_dir=a)) == [
        "edges",
        "shingle",
    ]
    assert registry.clear_session_memos(spark, sf_dir=a) == []
    assert registry.clear_session_memos(spark, sf_dir=b) == ["shingle"]


class _StandInSession:
    """Just enough of a session for a memo miss path whose build
    function is stubbed out."""


class _StandInFrame:
    """A memoized frame refers to its session, like a real DataFrame."""

    def __init__(self, session):
        self.sparkSession = session


def test_memo_does_not_outlive_its_session(monkeypatch):
    from kafka_overwatch_spark import snapshot

    monkeypatch.setattr(
        snapshot,
        "register_raw_tables",
        lambda session, sf_dir: {"documents": _StandInFrame(session)},
    )
    session = _StandInSession()
    tables = registry.get_raw_tables(session, "/nonexistent/sf")
    assert registry.get_raw_tables(session, "/nonexistent/sf") is tables
    ref = weakref.ref(session)
    del session, tables
    gc.collect()
    assert ref() is None
