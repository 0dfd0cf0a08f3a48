"""Replay-safe foreachBatch writes must not touch the session conf.

Every stateful handler lands a batch in a ``batch_id=N`` partition that
a replay of batch N overwrites dynamically. Spark runs each streaming
query on its own thread, so a handler that flips the session-global
``spark.sql.sources.partitionOverwriteMode`` and restores it in
``finally`` can restore ``static`` while another handler in the same
session is mid-write; that write then deletes every other batch's
partition. The per-write ``partitionOverwriteMode`` option has the same
replay semantics without the shared state.

Each handler is called directly (no stream) for batch 0, batch 1 and a
replay of batch 1 while every ``RuntimeConfig.set`` is recorded. The
test checks that no handler writes the overwrite-mode conf, that the
conf still reads static afterwards, and that the replay replaces batch
1's partitions while the seed and batch 0 partitions stay as they were.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from tests.conftest import SF_DIR

MODE_KEY = "spark.sql.sources.partitionOverwriteMode"


def _seed_and_batch(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return (
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 == 1),
    )


def _dedup(spark, tmp):
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import DedupScreen

    seed, batch = _seed_and_batch(spark)
    return DedupScreen(shingle_docs(seed), f"{tmp}/out"), batch, ["out"]


def _growing_dedup(spark, tmp):
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingDedupScreen,
        init_growing_index,
    )

    seed, batch = _seed_and_batch(spark)
    init_growing_index(spark, shingle_docs(seed), f"{tmp}/index")
    return GrowingDedupScreen(f"{tmp}/index"), batch, ["index/store"]


def _growing_containment(spark, tmp):
    from kafka_overwatch_spark.pipelines.dedup import shingle_docs
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingContainmentScreen,
        init_containment_index,
    )

    seed, batch = _seed_and_batch(spark)
    init_containment_index(spark, shingle_docs(seed), f"{tmp}/index")
    screen = GrowingContainmentScreen(f"{tmp}/index", f"{tmp}/out")
    return screen, batch, [
        "out", "index/shingles", "index/postings", "index/freq",
    ]


def _growing_semantic(spark, tmp):
    from kafka_overwatch_spark.streaming.documents_stream import (
        GrowingSemanticScreen,
        init_semantic_index,
    )

    seed, batch = _seed_and_batch(spark)
    init_semantic_index(spark, seed, f"{tmp}/index")
    screen = GrowingSemanticScreen(f"{tmp}/index", f"{tmp}/out")
    return screen, batch, ["out", "index/embeddings", "index/buckets"]


def _quality_drift(spark, tmp):
    from kafka_overwatch_spark.streaming.documents_stream import (
        QualityDriftMonitor,
    )

    _, batch = _seed_and_batch(spark)
    return QualityDriftMonitor(f"{tmp}/out"), batch, ["out"]


def _novelty(spark, tmp):
    from kafka_overwatch_spark.streaming.documents_stream import (
        NoveltyMonitor,
        init_novelty_index,
    )

    seed, batch = _seed_and_batch(spark)
    init_novelty_index(spark, seed, f"{tmp}/index")
    monitor = NoveltyMonitor(f"{tmp}/index", f"{tmp}/out")
    return monitor, batch, ["out", "index/grams"]


def _keyness(spark, tmp):
    from kafka_overwatch_spark.streaming.documents_stream import (
        KeynessDriftMonitor,
        init_keyness_index,
    )

    seed, batch = _seed_and_batch(spark)
    init_keyness_index(spark, seed, f"{tmp}/index")
    monitor = KeynessDriftMonitor(f"{tmp}/index", f"{tmp}/out")
    return monitor, batch, ["out", "index/counts"]


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def _dp_counts(spark, tmp):
    from kafka_overwatch_spark.streaming.events_stream import DpCountsRelease

    return DpCountsRelease(f"{tmp}/out"), _events(spark), ["out"]


def _benford(spark, tmp):
    from kafka_overwatch_spark.streaming.events_stream import BenfordMonitor

    return BenfordMonitor(f"{tmp}/out"), _events(spark), ["out"]


def _value_drift(spark, tmp):
    from kafka_overwatch_spark.streaming.events_stream import (
        ValueDriftMonitor,
        init_ks_index,
    )

    ev = _events(spark)
    seed = ev.filter(F.col("event_id") % 2 == 0)
    init_ks_index(spark, seed, f"{tmp}/index")
    monitor = ValueDriftMonitor(f"{tmp}/index", f"{tmp}/out")
    batch = ev.filter(F.col("event_id") % 2 == 1)
    return monitor, batch, ["out", "index/counts"]


def _centroid(spark, tmp):
    from kafka_overwatch_spark.streaming.embeddings_stream import (
        CentroidDriftMonitor,
        init_centroid_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    init_centroid_index(spark, seed, f"{tmp}/index")
    monitor = CentroidDriftMonitor(f"{tmp}/index", f"{tmp}/out")
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    return monitor, batch, ["out", "index/sums"]


HANDLERS = {
    "dedup": _dedup,
    "growing_dedup": _growing_dedup,
    "growing_containment": _growing_containment,
    "growing_semantic": _growing_semantic,
    "quality_drift": _quality_drift,
    "novelty": _novelty,
    "keyness": _keyness,
    "dp_counts": _dp_counts,
    "benford": _benford,
    "value_drift": _value_drift,
    "centroid": _centroid,
}


def _partition_rows(spark, path: str) -> dict[tuple, int]:
    """Row count per partition directory; {} when nothing was written."""
    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        return {}
    keys = [c for c in ("kind", "batch_id") if c in df.columns]
    return {
        tuple(r[k] for k in keys): r["count"]
        for r in df.groupBy(*keys).count().collect()
    }


def _without_batch(rows: dict[tuple, int], batch_id: int) -> dict[tuple, int]:
    return {k: v for k, v in rows.items() if k[-1] != batch_id}


@pytest.mark.parametrize("name", sorted(HANDLERS))
def test_replay_overwrites_partition_without_conf_write(
    spark, tmp_path, monkeypatch, name
):
    handler, batch, outputs = HANDLERS[name](spark, str(tmp_path))
    paths = [f"{tmp_path}/{o}" for o in outputs]

    conf_writes: list[str] = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        conf_writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)

    handler(batch, 0)
    after_0 = [_partition_rows(spark, p) for p in paths]
    handler(batch, 1)
    after_1 = [_partition_rows(spark, p) for p in paths]
    handler(batch, 1)  # replay after a crash before the checkpoint commit
    replayed = [_partition_rows(spark, p) for p in paths]

    assert MODE_KEY not in conf_writes, name
    assert spark.conf.get(MODE_KEY).lower() == "static", name
    assert replayed == after_1, name
    assert [_without_batch(r, 1) for r in after_1] == after_0, name
    assert any(after_1), name
