"""Central query registry: name → (spark callable, DuckDB oracle SQL).

Every operator claimed done in SURVEY.md §2 has an entry here; the driver
consumes it through ``__spark_entry__.queries()`` / ``oracle_sql()``.
Spark callables take (spark, sf_dir) and return a DataFrame whose column
names/types match the oracle exactly (the driver sorts columns by name and
hashes values).

Inputs that several queries share (raw tables, snapshot frames, derived
index tables, trained models, density decisions) are built once per
session and getter arguments by getters declared with ``session_memo``.
The memo store is an attribute of the SparkSession, so it lives exactly
as long as the session. ``clear_session_memos`` evicts the algorithmic
memos and unpersists their cached frames.
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracles, oracles_pipelines
from .operators import governance as gov
from .operators import graph
from .operators import lag as lagops
from .operators import metrics as metricsops
from .operators import relational
from .operators import report as reportops
from .operators import schema_registry as sr
from .operators import usage, windows
from .pipelines import curation, dedup, sampling, similarity
from .pipelines import multimodal as mm
from .pipelines import text as textops
from .sinks import exports
from .snapshot import build_snapshots, filter_cluster, topics_with_configs

# The per-cluster report pipelines run on 'primary' — the fixture's other
# cluster ('analytics') is exercised by the *_by_cluster fleet queries and
# the cluster-carrying lag/metrics surfaces.
REPORT_CLUSTER = "primary"

#: Attribute on the SparkSession that holds its memo store, a dict
#: ``{(memo name, getter arguments): value}``.
_MEMO_ATTR = "_overwatch_memos"

#: Names of the memos declared ``plumbing=True``.
_PLUMBING: set[str] = set()


def session_memo(name: str, *, plumbing: bool = False):
    """Memoize a ``(spark, *args)`` getter in the session's memo store,
    keyed by ``name`` and the arguments after ``spark`` with defaults
    applied. A module-level store would pin a stopped session, since
    the memoized frames refer to it.

    ``plumbing`` memos (raw parquet, snapshots and the report frames
    built on them) are shared I/O, identical for every query, and
    ``clear_session_memos`` never evicts them. It can evict every other
    memo, so a scale probe's timed row measures the query's own cost
    instead of whichever sibling warmed the memo (VERDICT r12 next #7:
    the r12 probe's LPA row read as free because modularity had
    already paid the iteration)."""
    if plumbing:
        _PLUMBING.add(name)

    def wrap(build):
        sig = inspect.signature(build)

        @functools.wraps(build)
        def getter(spark, *args, **kwargs):
            bound = sig.bind(spark, *args, **kwargs)
            bound.apply_defaults()
            key = (name, tuple(bound.arguments.values())[1:])
            store = vars(spark).setdefault(_MEMO_ATTR, {})
            if key not in store:
                store[key] = build(*bound.args, **bound.kwargs)
            return store[key]

        return getter

    return wrap


def clear_session_memos(
    spark: SparkSession,
    sf_dir: str | None = None,
    keep: set[str] | frozenset[str] = frozenset(),
) -> list[str]:
    """Evict every algorithmic memo for this session (optionally only
    for one sf_dir) and unpersist any cached frames inside. Returns the
    names of the memos that actually held something, in the order they
    were filled — the probe stamps these on its rows so cold/warm
    timings are distinguishable. ``keep`` exempts memos by name: the
    probe keeps ``edges`` because the co-purchase edge table is a
    PERSISTED input at 100 TB (the ingest pipeline maintains it — see
    get_copurchase_edges), so re-deriving it per query would charge
    every graph row a cost no production run pays."""
    store = vars(spark).get(_MEMO_ATTR, {})
    cleared: list[str] = []
    for key in list(store):
        name, args = key
        if (
            name in _PLUMBING
            or name in keep
            or (sf_dir is not None and sf_dir not in args)
        ):
            continue
        val = store.pop(key)
        for item in val if isinstance(val, tuple) else (val,):
            if hasattr(item, "unpersist"):
                try:
                    item.unpersist()
                except Exception:  # noqa: BLE001 — best-effort evict
                    pass
        if name not in cleared:
            cleared.append(name)
    return cleared


@session_memo("snaps", plumbing=True)
def get_snaps(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # defend against a session the caller created (not get_spark):
    # AQE + bounded shuffle width are what our plans are designed for
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 64:
            spark.conf.set("spark.sql.shuffle.partitions", "64")
    except Exception as exc:  # non-integer/modifiable conf: keep as-is
        import logging

        logging.getLogger(__name__).debug(
            "shuffle.partitions not adjusted: %s", exc
        )
    # cache=True: the snapshot frames are dim-sized; every report query
    # re-reads them (the reference re-scans its pandas frames per
    # category the same way, `reporting/topics.py:17-111`)
    return build_snapshots(spark, sf_dir, cache=True)


@session_memo("cluster_snaps", plumbing=True)
def get_cluster_snaps(
    spark: SparkSession, sf_dir: str, cluster: str = REPORT_CLUSTER
) -> dict[str, DataFrame]:
    """Snapshot frames pruned to one cluster — the reference's
    one-report-process-per-cluster topology (`overwatch.py:92-120`) as a
    partition-pruning filter over the shared snapshot tables."""
    return filter_cluster(get_snaps(spark, sf_dir), cluster)


@session_memo("topics_df", plumbing=True)
def get_topics_df(
    spark: SparkSession, sf_dir: str, cluster: str = REPORT_CLUSTER
) -> DataFrame:
    """topics_df is re-read by every waste/most-active/statistics query
    (multiple actions) — cache it once per (session, sf_dir, cluster),
    mirroring the reference materializing the pandas frame once per
    scan per cluster."""
    return usage.build_topics_df(
        get_cluster_snaps(spark, sf_dir, cluster)
    ).localCheckpoint(eager=False)


@session_memo("raw", plumbing=True)
def get_raw_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The raw testdata DataFrames keyed by (session, sf_dir) — stable
    even if another sf_dir re-registers the like-named temp views."""
    from .snapshot import register_raw_tables

    return register_raw_tables(spark, sf_dir)


@session_memo("groups_df", plumbing=True)
def get_groups_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groups_df materialized once per (session, sf_dir) — the same
    once-per-scan caching the reference applies to its pandas frame
    (`clusters.py:332-342`); governance and report queries re-read it."""
    # localCheckpoint, not cache: truncates the analytic lineage so
    # downstream queries don't re-analyze it per construction (see
    # build_snapshots)
    return lagops.build_groups_df(
        get_cluster_snaps(spark, sf_dir),
        lag_rows=get_cluster_lag_rows(spark, sf_dir),
    ).localCheckpoint(eager=False)


@session_memo("lag", plumbing=True)
def get_lag_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized cached lag frame (ALL clusters, cluster column carried) —
    shared by lag_per_topic, groups_df, lag_nested, and metrics_snapshot
    (each would otherwise rebuild the fact join per action)."""
    # localCheckpoint, not cache: the lag join lineage is ~850 plan
    # lines; cache leaves it attached and every consumer re-analyzes
    # it at construction time (the dominant share of the metrics
    # fixed cost — VERDICT r5 What's-wrong #4)
    return lagops.lag_per_partition(
        get_snaps(spark, sf_dir)
    ).localCheckpoint(eager=False)


def get_cluster_lag_rows(
    spark: SparkSession, sf_dir: str, cluster: str = REPORT_CLUSTER
) -> DataFrame:
    """Per-cluster slice of the cached lag frame (cheap filter over the
    cached multi-cluster rows)."""
    return get_lag_rows(spark, sf_dir).filter(F.col("cluster") == cluster)


@session_memo("edges")
def get_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized co-purchase edge set per (session, sf_dir) — the shared
    input of the whole graph family (degree, PageRank, association
    rules). localCheckpoint (lineage truncation + persist) like the
    other derived-table memos; at 100 TB this is the written edge table
    the ingest pipeline maintains."""
    return graph.copurchase_edges(
        get_raw_tables(spark, sf_dir)["lineitem"]
    ).localCheckpoint(eager=False)


@session_memo("lpa_graph")
def get_lpa_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, int]:
    """Memoized LPA graph state (directed edge frame, initial labeling,
    vertex count, directed edge count — lpa_graph_state's 4-tuple,
    consumed opaquely) per (session, sf_dir) — static per dataset, shared
    across label-propagation calls the way get_copurchase_edges shares
    the edge set; at 100 TB both live as written tables."""
    return graph.lpa_graph_state(get_copurchase_edges(spark, sf_dir))


@session_memo("lpa_labels")
def get_lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized round-_LPA_ROUNDS (v, label) frame per (session,
    sf_dir) — graph_label_propagation and graph_modularity score the
    SAME labeling, so the power iteration runs once per dataset, not
    once per report query (VERDICT r11 next #4). The frame is already
    localCheckpoint-materialized by the delta loop's final round."""
    return graph.lpa_labels_delta(
        None, graph_state=get_lpa_graph(spark, sf_dir)
    )


@session_memo("triangles")
def get_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized triangle enumeration per (session, sf_dir): the global
    and per-node clustering queries both consume it, and the per-node
    explode alone would otherwise re-derive the wedge+closure joins
    (VERDICT r7 What's-wrong #1 — the un-shared triangle tree executed
    three times). localCheckpoint so every consumer reads ONE
    materialized enumeration; at 100 TB this is the written triangle
    table the graph pipeline maintains next to the edge table."""
    return graph.triangles(
        get_raw_tables(spark, sf_dir)["lineitem"],
        edges=get_copurchase_edges(spark, sf_dir),
    ).localCheckpoint(eager=False)


@session_memo("ivf")
def get_ivf(spark: SparkSession, sf_dir: str) -> tuple:
    """Memoized IVF coarse quantizer per (session, sf_dir): KMeans
    training is the dominant cost of both ANN probing and the cluster
    rollup, and the reference pattern at scale is train-once /
    probe-many (the model is persisted, not refit per query). The
    cached cell assignments back both surfaces."""
    model, assigned = similarity.ivf_index(
        get_raw_tables(spark, sf_dir)["embeddings"]
    )
    return (model, assigned.cache())


@session_memo("pq")
def get_pq(spark: SparkSession, sf_dir: str) -> tuple:
    """Memoized PQ codebooks + cached packed codes per (session, sf_dir)
    — train-once/probe-many like get_ivf: codebooks are a corpus
    distribution estimate, and the 8-byte code table IS the ANN index
    every PQ query scans."""
    emb = get_raw_tables(spark, sf_dir)["embeddings"]
    cb = similarity.pq_train(emb)
    return (cb, similarity.pq_encode(emb, cb).cache())


@session_memo("shingle")
def get_shingle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized cached shingle-set frame — a fresh .cache() per call would
    leak a new cached RDD every invocation and degrade long sessions."""
    # sf_dir-keyed frame, NOT spark.table("documents") — the temp
    # view points at whichever sf_dir registered last (same aliasing
    # hazard raw() guards against)
    return dedup.shingle_docs(
        get_raw_tables(spark, sf_dir)["documents"]
    ).cache()


@session_memo("simhash")
def get_simhash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized SimHash fingerprint frame (r7): same no-ReusedExchange
    rationale as get_minhash_bands — the chunk self-join otherwise runs
    the md5 fingerprint fold once per side."""
    return dedup.simhash_fingerprints(
        get_raw_tables(spark, sf_dir)["documents"]
    ).localCheckpoint(eager=True)


@session_memo("phash")
def get_phash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized perceptual-hash fingerprints of the synthesized media
    corpus: the media_phash_pairs bucket self-join reads them once per
    join side."""
    return mm.media_phash(
        mm.synth_media_from_documents(
            get_raw_tables(spark, sf_dir)["documents"]
        )
    ).localCheckpoint(eager=True)


@session_memo("bands")
def get_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized MinHash band index (r7): the 12-permutation md5
    signature chain is the expensive half of the LSH query, and the
    band self-join's broadcast side does NOT plan as a ReusedExchange —
    without a memo the whole chain executes once per join branch.
    localCheckpoint, not cache: same lineage-truncation rationale as
    the snapshot memos (NOTES r6 #4)."""
    return dedup.minhash_bands(
        get_shingle_docs(spark, sf_dir)
    ).localCheckpoint(eager=True)


@session_memo("whiten")
def get_whiten_model(spark: SparkSession, sf_dir: str) -> tuple:
    """Memoized ZCA whitening model per (session, sf_dir) —
    train-once/project-many like get_ivf/get_pq: the moment pass +
    driver eigh is the expensive fit, the projection is the per-query
    work."""
    return similarity.pca_whiten_model(
        get_raw_tables(spark, sf_dir)["embeddings"]
    )


@session_memo("winnow")
def get_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized winnowed fingerprint frame (r7): shared by the
    fingerprint query and both shared-passage queries, whose gram_hash
    self-joins otherwise execute the winnow chain once per join side
    (no ReusedExchange — same rationale as get_minhash_bands)."""
    return textops.winnow_fingerprints(
        get_raw_tables(spark, sf_dir)["documents"]
    ).localCheckpoint(eager=True)


@session_memo("containment_k")
def get_containment_k(spark: SparkSession, sf_dir: str) -> int:
    """Memoized density-adaptive shingle width for the containment
    family (VERDICT r11 next #1): one collision-mass pre-pass over the
    shared K=SHINGLE_K shingle frame per (session, sf_dir)."""
    return dedup.choose_containment_k(
        get_shingle_docs(spark, sf_dir),
        get_raw_tables(spark, sf_dir)["documents"],
    )


def get_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle frame AT the adaptive width: the shared
    get_shingle_docs frame when the corpus stays at K=SHINGLE_K (the
    open-vocab common case — no extra pass), a memoized wide-K frame
    when the density rule escalates."""
    if get_containment_k(spark, sf_dir) == dedup.CONTAINMENT_K_LADDER[0]:
        return get_shingle_docs(spark, sf_dir)
    return _get_wide_containment_docs(spark, sf_dir)


@session_memo("containment_docs")
def _get_wide_containment_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dedup.shingle_docs(
        get_raw_tables(spark, sf_dir)["documents"],
        get_containment_k(spark, sf_dir),
    ).cache()


@session_memo("containment_probes")
def get_containment_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized rarest-first probe frame at the adaptive width — the
    corpus-frequency join + per-doc rarest-first window is the
    expensive half of the prefix filter, and at 100 TB it is a
    persisted index artifact next to the band index. The audit query's
    deliberately tight max_bucket changes the probe_capped flag, so it
    derives its own frame."""
    return dedup.containment_probes_rarest(
        get_containment_docs(spark, sf_dir), 0.8
    ).localCheckpoint(eager=True)


@session_memo("containment_capped")
def get_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized posting list at the EXACT adaptive cap (max probe df —
    recall 1.0 by construction, see dedup.containment_adaptive_cap);
    persisted-index twin of get_containment_probes."""
    cap = dedup.containment_adaptive_cap(get_containment_probes(spark, sf_dir))
    return dedup.containment_postings_for_cap(
        get_containment_docs(spark, sf_dir), cap
    ).localCheckpoint(eager=True)


@session_memo("neardup_bits")
def get_neardup_bits(spark: SparkSession, sf_dir: str) -> int:
    """Memoized density-adaptive LSH width for the embedding near-dup
    family (VERDICT r11 next #1): one measured bucket-mass pre-pass
    (similarity.neardup_bits_frontier) per (session, sf_dir) serves
    every query composing the pair graph — the pair query itself, the
    density profile, semantic components, and the curation chain all
    see the SAME index, exactly like a persisted production index."""
    return similarity.choose_neardup_bits(
        get_raw_tables(spark, sf_dir)["embeddings"]
    )


@session_memo("dsir_bucketed")
def get_dsir_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized hashed-unigram (doc_id, source, b) token frame (r7):
    shared by the DSIR family and the NB classifier. Without the memo
    dsir_weights derives the explode+md5 chain TWICE per query (LM fit
    + scoring) and each of the three registered queries re-derives it
    from scratch. localCheckpoint, not cache: lineage truncation, same
    rationale as the snapshot memos (NOTES r6 #4)."""
    return sampling._dsir_bucketed(
        get_raw_tables(spark, sf_dir)["documents"], sampling.DSIR_BUCKETS
    ).localCheckpoint(eager=True)


def _cluster_statistics_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_statistics for every cluster in the snapshot: the
    per-cluster report loop (`overwatch.py:92-120`) as a driver-side loop
    over the (bounded, dim-sized) cluster list, one pruned pipeline each."""
    snaps = get_snaps(spark, sf_dir)
    clusters = sorted(
        r["cluster"]
        for r in snaps["topics"].select("cluster").distinct().collect()
    )
    out = None
    for cluster in clusters:
        stats = usage.cluster_statistics(
            usage.build_topics_df(get_cluster_snaps(spark, sf_dir, cluster))
        ).select(F.lit(cluster).alias("cluster"), "topics", "partitions")
        out = stats if out is None else out.unionByName(stats)
    return out


def _snapshot_query(table: str, columns: list[str], ts_col: str | None = None):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = get_snaps(spark, sf_dir)[table]
        cols = [F.col(c) for c in columns]
        if ts_col:
            cols.append(F.unix_timestamp(ts_col).alias(f"{ts_col}_sec"))
        return df.select(*cols)

    return fn


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- snapshot passthroughs ---
    q["snapshot_partition_offsets"] = _snapshot_query(
        "partition_offsets",
        ["cluster", "topic", "partition_id", "scan_id", "start_offset",
         "end_offset"],
        ts_col="ts",
    )
    q["snapshot_topics"] = _snapshot_query(
        "topics", ["cluster", "name", "partitions", "retention_ms",
                   "cleanup_policy"]
    )
    q["snapshot_consumer_groups"] = _snapshot_query(
        "consumer_groups", ["cluster", "group_id", "state", "members"]
    )
    q["snapshot_group_offsets"] = _snapshot_query(
        "group_offsets",
        ["cluster", "group_id", "topic", "partition_id", "committed_offset"],
    )
    q["snapshot_topic_configs"] = _snapshot_query(
        "topic_configs", ["cluster", "topic", "config_key", "config_value"]
    )
    q["snapshot_subjects"] = _snapshot_query("subjects", ["registry", "subject"])
    q["snapshot_subject_versions"] = _snapshot_query(
        "subject_versions", ["registry", "subject", "version", "schema_id"]
    )
    q["snapshot_schemas"] = _snapshot_query(
        "schemas", ["registry", "schema_id", "schema_type", "schema_string"]
    )

    # --- usage / report queries ---
    q["topics_df"] = get_topics_df
    for cat in usage.WASTE_PREDICATES:
        q[f"waste_{cat}"] = (
            lambda s, d, c=cat: usage.waste_category_topics(
                get_topics_df(s, d), c
            )
        )
    q["waste_summary"] = lambda s, d: usage.waste_summary(get_topics_df(s, d))
    q["most_active_topics"] = lambda s, d: usage.most_active_topics(
        get_topics_df(s, d)
    )
    q["cluster_statistics"] = lambda s, d: usage.cluster_statistics(
        get_topics_df(s, d)
    )

    # --- lag / groups ---
    q["lag_per_partition"] = get_lag_rows
    q["lag_per_topic"] = lambda s, d: lagops.lag_per_topic(
        get_snaps(s, d), lag_rows=get_lag_rows(s, d)
    )
    q["lag_distribution"] = lambda s, d: lagops.lag_distribution(
        get_snaps(s, d), lag_rows=get_lag_rows(s, d)
    )
    q["groups_df"] = get_groups_df
    # A11 nested lag shape: the REGISTERED surface is the to_json'd
    # companion (full oracle coverage). The raw array<struct> variant
    # (lagops.lag_nested) stays a library function exercised by
    # tests/test_lag_semantics.py — the driver's canonicalizer cannot
    # factorize nested columns, so registering it would only record a
    # permanent harness error, not a check.
    q["lag_nested_json"] = lambda s, d: lagops.lag_nested_json(
        get_snaps(s, d), lag_rows=get_lag_rows(s, d)
    )

    # --- governance (per-cluster, like the reference's report) ---
    q["governance_topics"] = lambda s, d: gov.governance_topics(
        get_cluster_snaps(s, d)
    )
    q["governance_groups"] = lambda s, d: gov.governance_groups(
        get_cluster_snaps(s, d)
    )
    # the reference's CG-governance bug replicated bit-for-bit: topic
    # regexes applied to group names (`reporting/__init__.py:91-94` →
    # `:60-62`); see governance.py docstring
    q["governance_groups_reference_mode"] = lambda s, d: gov.governance_groups(
        get_cluster_snaps(s, d), reference_compatible=True
    )
    q["governance_summary"] = lambda s, d: gov.naming_convention_summary(
        gov.governance_topics(get_cluster_snaps(s, d))
    )

    # --- schema registry ---
    q["sr_unused_subjects"] = lambda s, d: sr.unused_subjects(get_snaps(s, d))
    q["sr_summary"] = lambda s, d: sr.registry_summary(get_snaps(s, d))
    q["sr_schema_type_breakdown"] = lambda s, d: sr.schema_type_breakdown(
        get_snaps(s, d)
    )
    q["sr_backup_index"] = lambda s, d: sr.backup_index(get_snaps(s, d))

    # --- windows / time-series ---
    q["w1_offset_deltas"] = lambda s, d: windows.offset_delta_per_scan(
        get_snaps(s, d)
    )
    q["w2_new_since_baseline"] = lambda s, d: windows.new_messages_since_baseline(
        get_snaps(s, d)
    )
    q["w3_first_offset_evolution"] = lambda s, d: windows.first_offset_evolution(
        get_snaps(s, d)
    )
    q["scd2_partition_liveness"] = lambda s, d: windows.partition_liveness_scd2(
        get_snaps(s, d)
    )

    # MERGE-shape SCD1 upsert: deterministic update set (partitions>=4
    # get +10) plus one synthetic insert; updates win on (cluster, name)
    def _upsert_topics(s: SparkSession, d: str) -> DataFrame:
        t = get_snaps(s, d)["topics"]
        upd = t.filter(F.col("partitions") >= 4).select(
            "cluster",
            "name",
            (F.col("partitions") + 10).alias("partitions"),
            "retention_ms",
            "cleanup_policy",
        )
        ins = s.createDataFrame(
            [("primary", "upsert.demo.topic", 1, 60000, "compact")],
            "cluster string, name string, partitions long, "
            "retention_ms long, cleanup_policy string",
        )
        return relational.scd1_upsert(
            t, upd.unionByName(ins), ["cluster", "name"]
        )

    q["snapshot_upsert_topics"] = _upsert_topics
    q["scd2_point_in_time"] = lambda s, d: windows.scd2_point_in_time(
        get_snaps(s, d)
    )
    q["topic_throughput_timeseries"] = (
        lambda s, d: windows.topic_throughput_timeseries(get_snaps(s, d))
    )
    q["topic_throughput_trend"] = lambda s, d: windows.topic_throughput_trend(
        get_snaps(s, d)
    )
    q["cluster_scan_summary"] = lambda s, d: windows.cluster_scan_summary(
        get_snaps(s, d)
    )
    q["sr_subject_version_counts"] = lambda s, d: (
        get_snaps(s, d)["subject_versions"]
        .groupBy("registry", "subject")
        .agg(
            F.count("*").alias("versions"),
            F.max("version").alias("latest_version"),
        )
    )

    # K4: prometheus gauge families as a long-format frame
    q["metrics_snapshot"] = lambda s, d: metricsops.metrics_snapshot(
        get_snaps(s, d), lag_rows=get_lag_rows(s, d)
    )

    # K1/§3.2: the nested ClusterReport itself (reportops.
    # build_cluster_report) is a library function — its REGISTERED
    # surface is the scalars companion below (every leaf of the nested
    # struct as a hash-checked column, selected from the SAME row so it
    # cannot drift), plus the JSON-schema contract in tests/
    # test_report.py. Registering the raw nested row would only record a
    # permanent canonicalizer error in the driver artifact.
    q["cluster_report_scalars"] = lambda s, d: reportops.cluster_report_scalars(
        get_cluster_snaps(s, d), topics_df=get_topics_df(s, d)
    )
    # fleet surface: per-cluster statistics (the report pipeline run once
    # per cluster, mirroring overwatch.py:92-120)
    q["cluster_statistics_by_cluster"] = _cluster_statistics_by_cluster

    # full report fan-out, hash-checked: the scalars companion run once
    # per cluster (the reference's one-report-process-per-cluster
    # topology, overwatch.py:92-120)
    def _cluster_report_scalars_all(s: SparkSession, d: str) -> DataFrame:
        clusters = sorted(
            r["cluster"]
            for r in get_snaps(s, d)["topics"].select("cluster").distinct().collect()
        )
        parts = [
            reportops.cluster_report_scalars(
                get_cluster_snaps(s, d, c), c,
                topics_df=get_topics_df(s, d, c),
            )
            for c in clusters
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    q["cluster_report_scalars_by_cluster"] = _cluster_report_scalars_all

    # kafka-ops extensions (per-cluster)
    q["partition_balance"] = lambda s, d: usage.partition_balance(
        get_cluster_snaps(s, d)["partition_offsets"]
    )
    q["group_topic_matrix"] = lambda s, d: usage.group_topic_matrix(
        get_cluster_snaps(s, d)
    )

    # P12 extension: include/exclude regex scan filter
    q["topics_scan_filtered"] = lambda s, d: usage.apply_topic_filters(
        get_snaps(s, d)["topics"].select("cluster", "name", "partitions"),
        include_regexes=[r"^app\..*$"],
        exclude_regexes=[r"^_.*$", r".*\.click\..*$"],
    )

    # --- sinks-as-queries ---
    q["restore_commands"] = lambda s, d: exports.restore_commands(
        get_cluster_snaps(s, d)
    )
    # SURVEY §1.4 configs map column (JSON-serialized for hashability)
    q["topics_config_map"] = lambda s, d: topics_with_configs(
        get_snaps(s, d)
    ).select(
        "cluster",
        "name",
        "partitions",
        F.to_json("configs").alias("configs_json"),
    )

    # --- training-data pipelines (documents / embeddings) ---
    def raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
        # sf_dir-keyed frames, NOT spark.table(name): the temp view of a
        # raw table points at whichever sf_dir registered last, so a
        # session that touches two scale factors would silently read the
        # wrong one through the view
        get_snaps(spark, sf_dir)
        return get_raw_tables(spark, sf_dir)[name]

    q["dedup_exact_groups"] = lambda s, d: dedup.exact_duplicates(
        raw(s, d, "documents")
    )
    q["dedup_exact_keep"] = lambda s, d: dedup.exact_dedup_keep(
        raw(s, d, "documents")
    )
    q["dedup_minhash_lsh"] = lambda s, d: dedup.minhash_lsh_pairs(
        raw(s, d, "documents"),
        docs=get_shingle_docs(s, d),
        bands=get_minhash_bands(s, d),
    )
    # registered surface is the LSH-candidate route (scale-valid: no
    # all-pairs block, no size guard to trip); the guarded quadratic
    # ngram_jaccard_pairs stays the small-N verifier it equals on
    # fixtures (tests/test_properties.py)
    q["dedup_ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs_lsh(
        raw(s, d, "documents"), docs=get_shingle_docs(s, d)
    )
    q["dedup_simhash_pairs"] = lambda s, d: dedup.simhash_pairs(
        raw(s, d, "documents"), fps=get_simhash_fps(s, d)
    )
    # r8: estimator-calibration audit on the LSH candidate population
    q["dedup_minhash_calibration"] = lambda s, d: dedup.minhash_calibration(
        raw(s, d, "documents"),
        docs=get_shingle_docs(s, d),
        bands=get_minhash_bands(s, d),
    )
    # registered near-dup surface is the multi-table LSH bucket-local
    # plan (no driver-side corpus collect); the all-pairs variants stay
    # available as guarded small-N verifiers
    q["dedup_embedding_cosine"] = (
        lambda s, d: similarity.embedding_neardup_pairs_lsh(
            raw(s, d, "embeddings"),
            dedup.COSINE_THRESHOLD,
            bits=get_neardup_bits(s, d),
        )
    )
    # the density frontier behind that width choice, registered as its
    # own driver-witnessable surface (VERDICT r11 next #1)
    q["ann_neardup_frontier"] = (
        lambda s, d: similarity.neardup_bits_frontier(
            raw(s, d, "embeddings")
        )
    )
    # r12: semantic split-leakage — the embedding twin of
    # split_leakage (paraphrase contamination the n-gram check misses);
    # composes the adaptive pair graph with the deterministic split
    q["emb_split_leakage"] = (
        lambda s, d: similarity.semantic_split_leakage(
            raw(s, d, "embeddings"), bits=get_neardup_bits(s, d)
        )
    )
    q["ann_cosine_topk"] = lambda s, d: similarity.brute_force_topk_vectorized(
        raw(s, d, "embeddings")
    )
    # r11 wave 4: hard-negative mining (top-k cosine restricted to
    # different-label candidates — the contrastive-training sampler;
    # linear in corpus per probe, LSH shortlist is the 100 TB path)
    q["emb_hard_negatives"] = lambda s, d: similarity.hard_negative_topk(
        raw(s, d, "embeddings")
    )
    # r11 wave 5: triplet mining (hardest positive + hardest negative
    # per anchor, margin-violation flag — the metric-learning sampler)
    q["emb_triplet_candidates"] = (
        lambda s, d: similarity.triplet_candidates(raw(s, d, "embeddings"))
    )
    # r11 wave 6: leave-one-out kNN label audit (label-noise /
    # embedding-quality probe — majority neighbor label vs own)
    q["emb_knn_label_audit"] = lambda s, d: similarity.knn_label_audit(
        raw(s, d, "embeddings")
    )
    # r11 wave 7: per-dimension embedding health (dead/dominant dims,
    # sign collapse — the embedding dataset-card statistic)
    q["emb_dim_stats"] = lambda s, d: similarity.dim_stats(
        raw(s, d, "embeddings")
    )
    # r11 wave 7: batch twin of the streaming centroid-drift monitor
    # (the embedding ingest gate — sixth family member, first over the
    # vector modality)
    q["emb_centroid_drift"] = lambda s, d: similarity.centroid_drift_split(
        raw(s, d, "embeddings")
    )
    # r11 wave 8: vector-norm health (norm collapse / unnormalized
    # encoder output — dim_stats' magnitude companion)
    q["emb_norm_profile"] = lambda s, d: similarity.norm_profile(
        raw(s, d, "embeddings")
    )
    # r10: centroid silhouette per label (clustering-quality audit)
    q["emb_silhouette"] = lambda s, d: similarity.silhouette_by_label(
        raw(s, d, "embeddings")
    )
    # r10: scale-path density profile over the LSH candidate graph
    q["emb_density_cores_lsh"] = (
        lambda s, d: similarity.density_cores_lsh(
            raw(s, d, "embeddings"), bits=get_neardup_bits(s, d)
        )
    )
    # r10: DBSCAN-style density profile (exact neighbor counts at
    # round-6 cosine >= 0.3; LSH/IVF candidates are the scale path)
    q["emb_density_cores"] = lambda s, d: similarity.density_cores(
        raw(s, d, "embeddings")
    )
    # r8: exact MIPS baseline (unnormalized dot; norm-augmentation is
    # the documented scale reduction onto the LSH/IVF cosine paths)
    q["emb_mips_topk"] = lambda s, d: similarity.mips_topk(
        raw(s, d, "embeddings")
    )
    # r9: Matryoshka truncation audit (top-k overlap + cosine MAE at
    # half/quarter width — the half-width-serving go/no-go table)
    q["emb_matryoshka_audit"] = lambda s, d: similarity.matryoshka_audit(
        raw(s, d, "embeddings")
    )
    # r9: reciprocal-rank fusion of the cosine and MIPS orders
    q["emb_rrf_fusion"] = lambda s, d: similarity.rrf_fusion(
        raw(s, d, "embeddings")
    )
    # r9: recall@5 audit of the single-table LSH index vs exact cosine
    q["ann_lsh_recall"] = lambda s, d: similarity.lsh_recall_audit(
        raw(s, d, "embeddings")
    )
    # r10 (VERDICT r9 next #1): the recall audit turned into access-
    # path SELECTION — (bits, tables) sweep over the persisted-index
    # plane family; one sign GEMM + one scored scan serve all configs
    q["ann_tune_frontier"] = lambda s, d: similarity.ann_tune(
        raw(s, d, "embeddings")
    )
    q["ann_lsh_buckets"] = (
        lambda s, d: similarity.lsh_bucket_assignments_vectorized(
            raw(s, d, "embeddings")
        )
    )
    q["ann_lsh_pairs"] = lambda s, d: similarity.lsh_neighbor_pairs_vectorized(
        raw(s, d, "embeddings")
    )
    # IVF coarse-quantizer ANN (seeded KMeans). No ANSI-SQL oracle exists
    # for a trained quantizer → rows-only gate; recall vs exact is
    # measured in tests/test_ann_ivf.py and ANN_TRADEOFFS.md.
    q["ann_ivf_topk"] = lambda s, d: similarity.ivf_topk(
        raw(s, d, "embeddings"), trained=get_ivf(s, d)
    )
    # r5: product quantization — packed 8-byte codes (the memory-side
    # half of IVF-PQ) + ADC retrieve-then-exact-rerank top-k. Trained
    # codebooks → rows-only gate; recall vs exact in tests/test_ann_ivf.py
    q["emb_pq_codes"] = lambda s, d: get_pq(s, d)[1]
    q["ann_pq_topk"] = lambda s, d: similarity.ann_pq_topk(
        raw(s, d, "embeddings"),
        codebooks=get_pq(s, d)[0],
        codes=get_pq(s, d)[1],
    )
    # full IVF-PQ composition: probe cells -> ADC within cells -> exact
    # re-rank; both trained halves memoized (get_ivf + get_pq)
    q["ann_ivfpq_topk"] = lambda s, d: similarity.ann_ivfpq_topk(
        raw(s, d, "embeddings"),
        trained=get_ivf(s, d),
        codebooks=get_pq(s, d)[0],
        codes=get_pq(s, d)[1],
    )
    q["text_token_stats"] = lambda s, d: textops.token_stats(
        raw(s, d, "documents")
    )
    q["text_quality"] = lambda s, d: textops.quality_scores(
        raw(s, d, "documents")
    )
    q["text_language_id"] = lambda s, d: textops.language_id(
        raw(s, d, "documents")
    )
    q["text_fingerprints"] = lambda s, d: textops.fingerprints(
        raw(s, d, "documents")
    )
    # r7: winnowing (SIGMOD'03) — selected k-gram fingerprints and the
    # cross-doc shared-passage pairs they imply (verbatim token runs of
    # ≥ w+k-1 = 11 tokens are guaranteed to collide)
    q["text_winnow_fingerprints"] = lambda s, d: get_winnow_fps(s, d)
    q["text_shared_passages"] = lambda s, d: textops.shared_passage_pairs(
        raw(s, d, "documents"), fps=get_winnow_fps(s, d)
    )
    q["text_shared_passage_spans"] = (
        lambda s, d: textops.shared_passage_spans(
            raw(s, d, "documents"), fps=get_winnow_fps(s, d)
        )
    )
    # r8: encoding-anomaly audit (U+FFFD / stray-control / non-ASCII)
    q["text_mojibake"] = lambda s, d: textops.mojibake_score(
        raw(s, d, "documents")
    )
    # r9: Flesch / FK readability from regexp-countable proxies
    q["text_readability"] = lambda s, d: textops.readability_scores(
        raw(s, d, "documents")
    )
    # r9: Chao1 + Good-Turing vocabulary-richness estimators
    q["text_vocab_richness"] = lambda s, d: textops.vocab_richness(
        raw(s, d, "documents")
    )
    # r9: Hill power-law tail index of document lengths
    # r10: Heaps-law vocabulary-growth fit (V = K*N^beta)
    q["text_heaps_law"] = lambda s, d: textops.heaps_law_fit(
        raw(s, d, "documents")
    )
    # r10: Dunning log-likelihood keyness (slice-vs-corpus vocabulary)
    q["text_keyness"] = lambda s, d: textops.keyness_by_source(
        raw(s, d, "documents")
    )
    # r11 (VERDICT r10 next #7): per-source vocabulary-drift release —
    # G² of the arriving batch's vocabulary vs the lifetime index; the
    # batch twin of streaming KeynessDriftMonitor (doc_id%5 split)
    q["text_keyness_drift"] = lambda s, d: textops.keyness_drift_split(
        raw(s, d, "documents")
    )
    # r11: pairwise source Jensen-Shannon divergence (mirror/scrape
    # detection + diversity weighting; whole-distribution companion
    # of per-token keyness)
    q["text_source_jsd"] = lambda s, d: textops.source_jsd(
        raw(s, d, "documents")
    )
    # r10: per-doc 5-gram corpus-novelty (memorization/diversity audit)
    q["text_ngram_novelty"] = lambda s, d: textops.ngram_novelty(
        raw(s, d, "documents")
    )
    q["text_hill_tail_index"] = lambda s, d: textops.hill_tail_index(
        raw(s, d, "documents")
    )
    q["text_ngram_freq"] = lambda s, d: textops.ngram_frequencies(
        raw(s, d, "documents")
    )
    q["text_redact_pii"] = lambda s, d: textops.redact_pii(
        raw(s, d, "documents")
    )
    q["text_repetition"] = lambda s, d: textops.repetition_stats(
        raw(s, d, "documents")
    )
    q["text_contamination"] = lambda s, d: textops.contamination(
        raw(s, d, "documents")
    )
    q["text_tfidf"] = lambda s, d: textops.tfidf_top_terms(
        raw(s, d, "documents")
    )
    q["text_typicality"] = lambda s, d: textops.typicality_scores(
        raw(s, d, "documents")
    )
    # r5: corpus-unigram LM score (perplexity-filter proxy)
    q["text_unigram_logprob"] = lambda s, d: textops.unigram_logprob(
        raw(s, d, "documents")
    )
    # r5: Gopher-style rule-bundle quality gate (integer-exact flags)
    q["text_gopher_flags"] = lambda s, d: textops.gopher_quality_flags(
        raw(s, d, "documents")
    )
    # r5: BM25 lexical retrieval scores (pinned query terms)
    q["text_bm25"] = lambda s, d: textops.bm25_scores(
        raw(s, d, "documents")
    )
    # r5: bigram-LM perplexity proxy (conditional log-probs)
    q["text_bigram_logprob"] = lambda s, d: textops.bigram_logprob(
        raw(s, d, "documents")
    )
    q["text_line_dedup"] = lambda s, d: textops.line_dedup(
        raw(s, d, "documents")
    )
    q["text_length_histogram"] = lambda s, d: textops.length_histogram(
        raw(s, d, "documents")
    )
    q["text_vocab_stats"] = lambda s, d: textops.vocab_stats(
        raw(s, d, "documents")
    )
    q["emb_quantize_int8"] = lambda s, d: similarity.quantize_int8(
        raw(s, d, "embeddings")
    )
    q["curation_pipeline"] = lambda s, d: curation.curate(
        raw(s, d, "documents")
    )
    # r5: whole-corpus dataset card (one-row scalars companion)
    q["dataset_card"] = lambda s, d: curation.dataset_card(
        raw(s, d, "documents")
    )
    q["corpus_lang_source_assoc"] = (
        lambda s, d: curation.lang_source_association(raw(s, d, "documents"))
    )
    q["corpus_split_drift_psi"] = lambda s, d: curation.split_drift_psi(
        raw(s, d, "documents")
    )
    q["dedup_incremental_screen"] = lambda s, d: dedup.incremental_minhash_screen(
        raw(s, d, "documents"), docs=get_shingle_docs(s, d)
    )
    q["source_quality_summary"] = lambda s, d: curation.source_quality_summary(
        raw(s, d, "documents")
    )
    # semantic dedup end-to-end (LSH pairs → iterative connected
    # components → keep/drop): the label-propagation loop has no single
    # SQL equivalent → rows-only gate; python union-find parity in
    # tests/test_components.py
    q["dedup_semantic_components"] = lambda s, d: dedup.embedding_semantic_dedup(
        raw(s, d, "embeddings"), bits=get_neardup_bits(s, d)
    )
    # full chain incl. semantic keep-set (iterative) → rows-only gate
    q["curation_semantic"] = lambda s, d: curation.curate_semantic(
        raw(s, d, "documents"),
        raw(s, d, "embeddings"),
        bits=get_neardup_bits(s, d),
    )

    # multimodal plumbing (Arrow mapInPandas — no ANSI-SQL oracle exists
    # for the Python decode stage → rows-only gate; python-parity in
    # tests/test_multimodal.py). Nested feature vector serialized to JSON
    # so the driver canonicalizer sees only scalar columns.
    def _media(s: SparkSession, d: str) -> DataFrame:
        return mm.synth_media_from_documents(raw(s, d, "documents"))

    def _media_decode(s: SparkSession, d: str) -> DataFrame:
        return mm.decode_media(_media(s, d))

    def _media_features(s: SparkSession, d: str) -> DataFrame:
        return mm.extract_features(_media(s, d)).select(
            "doc_id",
            "media_type",
            F.to_json("feature").alias("feature_json"),
            "entropy",
        )

    def _media_header(s: SparkSession, d: str) -> DataFrame:
        return mm.extract_header_metadata(_media(s, d))

    q["media_decode"] = _media_decode
    q["media_features"] = _media_features
    # the JVM header-parse path IS oracle-able: every header field is a
    # deterministic function of (doc_id, n_chars, text bytes)
    q["media_header_meta"] = _media_header

    # perceptual-hash media near-dup: positional aHash over the decoded
    # body, pigeonhole-bucketed pair join — fully oracle-able (the hash
    # is integer-exact in both engines)
    def _media_phash_pairs(s: SparkSession, d: str) -> DataFrame:
        return mm.media_phash_pairs(_media(s, d), fps=get_phash_fps(s, d))

    q["media_phash_pairs"] = _media_phash_pairs

    # frame-granular video near-dup (rows-only: byte-window frames are
    # Python-side; python-parity + constructed-recall tests)
    def _frame_phash_pairs(s: SparkSession, d: str) -> DataFrame:
        return mm.frame_phash_pairs(_media(s, d))

    q["media_frame_phash_pairs"] = _frame_phash_pairs
    # dataset assembly: reproducible hash-bucket splits/samples + fixed
    # token-window chunking (context packing)
    q["sampling_split"] = lambda s, d: sampling.deterministic_split(
        raw(s, d, "documents")
    )
    q["sampling_stratified"] = lambda s, d: sampling.stratified_sample(
        raw(s, d, "documents")
    )
    q["doc_chunks"] = lambda s, d: sampling.chunk_documents(
        raw(s, d, "documents")
    )
    # r5: source-mix recipe audit + temperature-scaled source weights
    q["sampling_source_mix"] = lambda s, d: sampling.source_mix_summary(
        raw(s, d, "documents")
    )
    q["sampling_temperature_weights"] = (
        lambda s, d: sampling.temperature_weights(raw(s, d, "documents"))
    )
    # r6: deterministic per-user event cap + global quantile transform
    # r7: A-ES weighted WOR draw (k=100 keeps the gate set small but
    # selection-sensitive — a one-row rank flip changes the hash)
    q["sampling_weighted"] = lambda s, d: sampling.weighted_sample(
        raw(s, d, "documents"), k=100
    )
    # r7: DSIR importance weights + Gumbel-top-k resample (Xie et al.
    # 2023) — target domain proxied by source='src0'
    q["sampling_dsir_weights"] = lambda s, d: sampling.dsir_weights(
        raw(s, d, "documents"), bucketed=get_dsir_bucketed(s, d)
    )
    # r9: weight-degeneracy health check over the same memoized frame
    q["sampling_ess"] = lambda s, d: sampling.dsir_ess(
        raw(s, d, "documents"), bucketed=get_dsir_bucketed(s, d)
    )
    q["sampling_dsir_topk"] = lambda s, d: sampling.dsir_resample(
        raw(s, d, "documents"), bucketed=get_dsir_bucketed(s, d)
    )
    q["source_classifier_nb"] = lambda s, d: sampling.nb_source_classifier(
        raw(s, d, "documents"), bucketed=get_dsir_bucketed(s, d)
    )
    # r7 continuation: curriculum training order (exact global rank
    # without a single-partition sort; oracle states the plain window)
    q["sampling_curriculum"] = lambda s, d: sampling.curriculum_order(
        raw(s, d, "documents")
    )
    # r9: Neyman-optimal stratified allocation over source strata
    q["sampling_neyman_allocation"] = (
        lambda s, d: sampling.neyman_allocation(raw(s, d, "documents"))
    )
    # r9: deterministic stratified k-fold balance table
    q["sampling_kfold"] = lambda s, d: sampling.kfold_assignment(
        raw(s, d, "documents")
    )
    # r10: PSIS k-hat tail diagnostic of the DSIR importance weights
    q["sampling_psis_khat"] = lambda s, d: sampling.dsir_psis_khat(
        raw(s, d, "documents")
    )
    # r10: Madow PPS systematic sample (length-weighted, RNG-free,
    # exact integer tick counting over exact_global_cumsum prefixes)
    q["sampling_pps_systematic"] = lambda s, d: sampling.pps_systematic(
        raw(s, d, "documents")
    )
    # r11 wave 5: Horvitz–Thompson source-count estimation off the PPS
    # sample (inverse-probability weighting — the survey statistic
    # that closes the Madow sampling loop)
    q["sampling_ht_estimate"] = lambda s, d: sampling.ht_source_estimate(
        raw(s, d, "documents")
    )
    # r7 late: token-budget epoch planner (temperature mixture in
    # token units) + RFM segmentation cube + the Q12 conditional-agg
    # shape that completed the TPC-H sweep
    q["sampling_epoch_mix"] = lambda s, d: sampling.epoch_mix_plan(
        raw(s, d, "documents")
    )
    q["events_rfm_segments"] = lambda s, d: relational.user_rfm_segments(
        raw(s, d, "events")
    )
    q["tpch_shipmode_priority"] = (
        lambda s, d: relational.ship_latency_priority(
            raw(s, d, "orders"), raw(s, d, "lineitem")
        )
    )
    q["sampling_user_cap"] = lambda s, d: sampling.per_key_cap(
        raw(s, d, "events")
    )
    q["sampling_user_cap_summary"] = (
        lambda s, d: sampling.per_key_cap_summary(raw(s, d, "events"))
    )
    q["split_leakage"] = lambda s, d: curation.split_leakage_audit(
        raw(s, d, "documents"),
        docs=get_shingle_docs(s, d),
        bands=get_minhash_bands(s, d),
    )
    # r12: both scale levers (shingle width K, posting cap) now derive
    # from measured density — see dedup.containment_pairs_adaptive
    q["dedup_containment"] = (
        lambda s, d: dedup.containment_pairs_adaptive(
            raw(s, d, "documents"),
            docs=get_containment_docs(s, d),
            probes=get_containment_probes(s, d),
            capped_postings=get_containment_capped(s, d),
        )
    )
    # recall-risk observability for the bucket cap (ADVICE r6):
    # registered with a deliberately TIGHT cap so the at-risk count is
    # non-zero at fixture scale and the oracle exercises the full
    # capped-last probe-selection logic, not a constant zero
    q["dedup_containment_audit"] = (
        lambda s, d: dedup.containment_probe_audit(
            raw(s, d, "documents"),
            max_bucket=2,
            docs=get_shingle_docs(s, d),
        )
    )
    q["events_quantile_norm"] = (
        lambda s, d: relational.value_quantile_normalized(
            raw(s, d, "events")
        )
    )
    q["sampling_upsample_plan"] = lambda s, d: sampling.upsample_plan(
        raw(s, d, "documents")
    )
    # next-fit packing is sequential within a group (no ANSI-SQL
    # equivalent) → rows-only gate; python-reference parity in
    # tests/test_sampling.py
    q["doc_chunks_packed"] = lambda s, d: sampling.pack_sequences(
        sampling.chunk_documents(raw(s, d, "documents"))
    )
    # the documented 100 TB grouping: pack across documents within each
    # SOURCE shard (bins amortize across docs; rows-only like its twin)
    def _packed_by_source(s: SparkSession, d: str) -> DataFrame:
        chunks = sampling.chunk_documents(raw(s, d, "documents")).join(
            raw(s, d, "documents").select("doc_id", "source"), "doc_id"
        )
        return sampling.pack_sequences(chunks, group_col="source")

    q["doc_chunks_packed_by_source"] = _packed_by_source

    # --- relational / events analytics ---
    q["tpch_pricing_summary"] = lambda s, d: relational.pricing_summary(
        raw(s, d, "lineitem")
    )
    q["tpch_big_order_revenue"] = lambda s, d: relational.big_order_revenue(
        raw(s, d, "orders"), raw(s, d, "lineitem"), raw(s, d, "customer")
    )
    q["tpch_local_supplier_volume"] = lambda s, d: relational.local_supplier_volume(
        raw(s, d, "customer"),
        raw(s, d, "orders"),
        raw(s, d, "lineitem"),
        raw(s, d, "supplier"),
        raw(s, d, "nation"),
        raw(s, d, "region"),
    )
    q["events_daily_rollup"] = lambda s, d: relational.events_daily_rollup(
        raw(s, d, "events")
    )
    q["events_top_users"] = lambda s, d: relational.top_users_by_activity(
        raw(s, d, "events")
    )
    q["events_top_users_salted"] = lambda s, d: relational.top_users_salted(
        raw(s, d, "events")
    )
    q["events_pseudonymized"] = lambda s, d: relational.pseudonymize_events(
        raw(s, d, "events")
    )
    q["events_winsorized_stats"] = (
        lambda s, d: relational.winsorized_value_stats(raw(s, d, "events"))
    )
    q["events_k_anonymity"] = lambda s, d: relational.k_anonymity_audit(
        raw(s, d, "events")
    )
    q["events_ab_test"] = lambda s, d: relational.ab_test_conversion(
        raw(s, d, "events")
    )
    # r8 wave: privacy extensions (distinct-l-diversity next to the k-
    # anonymity gate; deterministic-Laplace DP release), the Poisson
    # bootstrap (the resampling scheme that distributes), and
    # multi-touch attribution
    q["events_l_diversity"] = lambda s, d: relational.l_diversity_audit(
        raw(s, d, "events")
    )
    q["events_dp_noisy_counts"] = lambda s, d: relational.dp_noisy_counts(
        raw(s, d, "events")
    )
    q["events_bootstrap_ci"] = lambda s, d: relational.bootstrap_value_ci(
        raw(s, d, "events")
    )
    q["events_attribution_models"] = (
        lambda s, d: relational.attribution_models(raw(s, d, "events"))
    )
    # bot-skew-guarded variant (r9): each user's touch stream truncated
    # to its most recent 50 touches BEFORE the conversion join, so one
    # bot-grade user cannot make the fan-out quadratic
    q["events_attribution_capped"] = (
        lambda s, d: relational.attribution_models(
            raw(s, d, "events"), max_touches_per_user=50
        )
    )
    q["events_session_paths"] = lambda s, d: relational.session_paths(
        raw(s, d, "events")
    )
    # r10: exact Shapley over session touch-set bitmasks — the
    # coalition-game upgrade of the four path-position models
    q["events_shapley_attribution"] = (
        lambda s, d: relational.shapley_attribution(raw(s, d, "events"))
    )
    # r10: Markov removal-effect attribution (unrolled absorption)
    q["events_markov_attribution"] = (
        lambda s, d: relational.markov_attribution(raw(s, d, "events"))
    )
    # r10: exponential retention-decay fit (half-life scalar)
    q["events_retention_halflife"] = (
        lambda s, d: relational.retention_halflife(raw(s, d, "events"))
    )
    # r10: Shewhart individuals control chart (moving-range limits)
    q["events_spc_chart"] = lambda s, d: relational.spc_control_chart(
        raw(s, d, "events")
    )
    # r10: additive Holt-Winters (level+trend+weekly season) forecast
    q["events_holt_winters"] = lambda s, d: relational.daily_holt_winters(
        raw(s, d, "events")
    )
    # r10: STL-lite seasonal decomposition of daily counts
    q["events_seasonal_decompose"] = (
        lambda s, d: relational.seasonal_decompose_daily(
            raw(s, d, "events")
        )
    )
    # r10: paired difference-in-differences on per-user spend deltas
    q["events_did"] = lambda s, d: relational.did_estimate(
        raw(s, d, "events")
    )
    # r10: pairwise lag-1 Granger causality on daily counts
    q["events_granger"] = lambda s, d: relational.granger_daily(
        raw(s, d, "events")
    )
    # r11: rank/nonparametric inference wave — Kendall tau-b daily
    # co-movement, Mann-Whitney U value-distribution test, Wald-
    # Wolfowitz runs randomness check, chi-square type×weekday
    # independence with Cramér's V
    q["events_kendall_tau"] = lambda s, d: relational.kendall_tau_daily(
        raw(s, d, "events")
    )
    q["events_mann_whitney"] = (
        lambda s, d: relational.mann_whitney_values(raw(s, d, "events"))
    )
    # r14: Cliff's delta — the nonparametric effect size on the same
    # pooled distinct-value grain (MW says significant; δ says how big)
    q["events_cliffs_delta"] = (
        lambda s, d: relational.cliffs_delta_values(raw(s, d, "events"))
    )
    q["events_runs_test"] = lambda s, d: relational.runs_test_daily(
        raw(s, d, "events")
    )
    q["events_chi2_dow"] = lambda s, d: relational.chi2_type_dow(
        raw(s, d, "events")
    )
    q["events_ks_test"] = lambda s, d: relational.ks_test_values(
        raw(s, d, "events")
    )
    # r11: batch twin of the streaming value-drift monitor (per-type
    # KS of the arriving slice vs the lifetime population)
    q["events_ks_drift"] = lambda s, d: relational.ks_drift_split(
        raw(s, d, "events")
    )
    # r11: PACF lags 1-3 (unrolled Durbin-Levinson) — Box-Jenkins
    # order selection next to events_daily_acf
    q["events_pacf"] = lambda s, d: relational.pacf_daily(
        raw(s, d, "events")
    )
    # r11: BH-FDR multiplicity-corrected daily anomaly discoveries
    q["events_fdr_anomalies"] = (
        lambda s, d: relational.fdr_daily_anomalies(raw(s, d, "events"))
    )
    # r11 wave 4: Kruskal–Wallis omnibus across all types (the k-group
    # extension of events_mann_whitney), Spearman daily rank
    # correlation (the midrank sibling of events_kendall_tau), and the
    # Ljung–Box portmanteau over the pacf_daily co-moment machinery
    q["events_kruskal_wallis"] = (
        lambda s, d: relational.kruskal_wallis_values(raw(s, d, "events"))
    )
    q["events_spearman"] = lambda s, d: relational.spearman_daily(
        raw(s, d, "events")
    )
    q["events_ljung_box"] = lambda s, d: relational.ljung_box_daily(
        raw(s, d, "events")
    )
    # r11 wave 5: Friedman blocked-rank omnibus (day blocks cancel
    # level shifts KW would absorb) + Welch's unequal-variance t (the
    # parametric mean test beside the rank-based MW)
    q["events_friedman"] = lambda s, d: relational.friedman_daily(
        raw(s, d, "events")
    )
    q["events_welch_t"] = lambda s, d: relational.welch_t_values(
        raw(s, d, "events")
    )
    # r11 wave 6: Poisson index of dispersion (burstiness vs the
    # independent-arrivals null — the magnitude companion of the
    # sequence-randomness runs test)
    q["events_poisson_dispersion"] = (
        lambda s, d: relational.poisson_dispersion_daily(
            raw(s, d, "events")
        )
    )
    # r11 wave 7: stationary distribution of the type-transition chain
    # (8 unrolled power rounds at alphabet² grain — completes the
    # Markov family: transitions + removal-effect attribution + π)
    q["events_markov_steady_state"] = (
        lambda s, d: relational.markov_steady_state(raw(s, d, "events"))
    )
    # r11: distributed PCA (Arrow partial-Gram reduce + dim-bounded
    # driver eigh — the codebook convention) → rows-only gate
    # (eigendecomposition isn't ANSI SQL); numpy parity in
    # tests/test_r11_pca.py
    q["emb_pca_components"] = lambda s, d: similarity.pca_components(
        raw(s, d, "embeddings")
    )
    # r10: single-changepoint binary segmentation on daily counts
    q["events_changepoint"] = lambda s, d: relational.changepoint_daily(
        raw(s, d, "events")
    )
    # r10: split-conformal daily-count interval + realized coverage
    q["events_conformal_interval"] = (
        lambda s, d: relational.conformal_daily_interval(
            raw(s, d, "events")
        )
    )
    # r10: CUPED variance-reduced A/B readout (pre-period covariate)
    q["events_cuped"] = lambda s, d: relational.cuped_adjusted_ab(
        raw(s, d, "events")
    )
    # r10: per-type daily-count OLS with inference columns (R², SE, t)
    q["events_ols_trend"] = lambda s, d: relational.ols_daily_trend(
        raw(s, d, "events")
    )
    q["events_pareto_share"] = lambda s, d: relational.pareto_value_share(
        raw(s, d, "events")
    )
    # r9: first-digit Benford deviation audit (fabricated-data screen)
    q["events_benford_audit"] = lambda s, d: relational.benford_audit(
        raw(s, d, "events")
    )
    # r9: Mann-Kendall + Theil-Sen robust trend (outlier-immune
    # complement of the least-squares throughput trend)
    q["events_theil_sen"] = lambda s, d: relational.theil_sen_trend(
        raw(s, d, "events")
    )
    # r9: per-state transition entropy/perplexity over the Markov matrix
    q["events_transition_entropy"] = (
        lambda s, d: relational.transition_entropy(raw(s, d, "events"))
    )
    # r9: inter-arrival gap distribution per type (watermark sizing)
    q["events_interarrival_stats"] = (
        lambda s, d: relational.interarrival_stats(raw(s, d, "events"))
    )
    # r9: t-closeness — third rung of the k-anon/l-div release ladder
    q["events_t_closeness"] = lambda s, d: relational.t_closeness_audit(
        raw(s, d, "events")
    )
    q["events_bot_scores"] = lambda s, d: relational.bot_likeness_scores(
        raw(s, d, "events")
    )
    q["tpch_fulfillment_latency"] = (
        lambda s, d: relational.fulfillment_latency(
            raw(s, d, "orders"), raw(s, d, "lineitem")
        )
    )
    q["tpch_supplier_hhi"] = (
        lambda s, d: relational.supplier_concentration_hhi(
            raw(s, d, "lineitem"), raw(s, d, "supplier"), raw(s, d, "nation")
        )
    )
    q["events_value_gini"] = lambda s, d: relational.user_value_gini(
        raw(s, d, "events")
    )
    q["events_cohort_retention"] = (
        lambda s, d: relational.cohort_retention_matrix(raw(s, d, "events"))
    )
    q["events_stickiness"] = lambda s, d: relational.engagement_stickiness(
        raw(s, d, "events")
    )
    # r7 continuation: Kaplan–Meier churn survival curve (oracle-able)
    q["events_survival_km"] = lambda s, d: relational.user_survival_km(
        raw(s, d, "events")
    )
    # r7 continuation: daily-count autocorrelation (seasonality
    # diagnostic; integer-exact co-moments, oracle-able)
    q["events_daily_acf"] = lambda s, d: relational.daily_acf(
        raw(s, d, "events")
    )
    # r7 continuation: day-of-week seasonal index (oracle-able; pure
    # modular arithmetic weekday)
    q["events_dow_seasonality"] = lambda s, d: relational.dow_seasonality(
        raw(s, d, "events")
    )
    # r7 continuation: Holt linear-trend smoothing + h-step forecast
    # (nonlinear recurrence → rows-only; python-fold parity)
    q["events_holt_forecast"] = lambda s, d: relational.daily_holt_forecast(
        raw(s, d, "events")
    )
    q["tpch_return_rate_control"] = (
        lambda s, d: relational.return_rate_control_chart(
            raw(s, d, "lineitem"), raw(s, d, "part")
        )
    )
    q["events_decile_lift"] = lambda s, d: relational.conversion_decile_lift(
        raw(s, d, "events")
    )
    q["events_sessionize"] = lambda s, d: relational.sessionize_events(
        raw(s, d, "events")
    )
    q["events_retention"] = lambda s, d: relational.events_retention(
        raw(s, d, "events")
    )
    q["events_funnel"] = lambda s, d: relational.events_funnel(
        raw(s, d, "events")
    )
    q["events_anomalous_days"] = lambda s, d: relational.events_anomalous_days(
        raw(s, d, "events")
    )
    q["events_user_reach"] = lambda s, d: relational.events_user_reach(
        raw(s, d, "events")
    )
    q["events_value_quantiles"] = lambda s, d: relational.events_value_quantiles(
        raw(s, d, "events")
    )
    q["events_asof_attribution"] = lambda s, d: relational.asof_attribution(
        raw(s, d, "events")
    )
    # r5 relational breadth: semi-join, outer-join distribution,
    # anti-join count-distinct, window top-k, ROLLUP, range join
    q["tpch_order_priority"] = lambda s, d: relational.order_priority_check(
        raw(s, d, "orders"), raw(s, d, "lineitem")
    )
    q["tpch_customer_distribution"] = (
        lambda s, d: relational.customer_order_distribution(
            raw(s, d, "customer"), raw(s, d, "orders")
        )
    )
    q["tpch_brand_supplier_stats"] = lambda s, d: relational.brand_supplier_stats(
        raw(s, d, "part"), raw(s, d, "lineitem")
    )
    q["tpch_important_parts"] = lambda s, d: relational.important_part_values(
        raw(s, d, "lineitem")
    )
    q["tpch_large_quantity_orders"] = (
        lambda s, d: relational.large_quantity_orders(
            raw(s, d, "orders"), raw(s, d, "lineitem"), raw(s, d, "customer")
        )
    )
    q["tpch_small_quantity_revenue"] = (
        lambda s, d: relational.small_quantity_revenue(raw(s, d, "lineitem"))
    )
    q["tpch_idle_rich_customers"] = lambda s, d: relational.idle_rich_customers(
        raw(s, d, "customer"), raw(s, d, "orders")
    )
    # r5 late batch: Q15/Q2/Q21/Q14 shapes — max-over-view equality,
    # decorrelated argmin, double-correlated EXISTS fold, conditional
    # share
    q["tpch_top_supplier"] = lambda s, d: relational.top_revenue_suppliers(
        raw(s, d, "lineitem"), raw(s, d, "supplier")
    )
    q["tpch_min_cost_supplier"] = lambda s, d: relational.min_cost_supplier(
        raw(s, d, "lineitem"),
        raw(s, d, "supplier"),
        raw(s, d, "nation"),
        raw(s, d, "region"),
    )
    q["tpch_waiting_orders"] = lambda s, d: relational.exclusive_late_suppliers(
        raw(s, d, "lineitem"), raw(s, d, "orders"), raw(s, d, "supplier")
    )
    q["tpch_promo_share"] = lambda s, d: relational.promo_revenue_share(
        raw(s, d, "lineitem"), raw(s, d, "part")
    )
    # TPC-H sweep completion: Q3/Q6/Q7/Q9/Q10/Q19/Q20 shapes
    q["tpch_shipping_priority"] = lambda s, d: relational.shipping_priority(
        raw(s, d, "customer"), raw(s, d, "orders"), raw(s, d, "lineitem")
    )
    q["tpch_forecast_revenue"] = (
        lambda s, d: relational.forecast_revenue_change(raw(s, d, "lineitem"))
    )
    q["tpch_nation_volume"] = lambda s, d: relational.nation_trade_volume(
        raw(s, d, "customer"),
        raw(s, d, "orders"),
        raw(s, d, "lineitem"),
        raw(s, d, "supplier"),
        raw(s, d, "nation"),
    )
    q["tpch_product_profit"] = lambda s, d: relational.product_type_profit(
        raw(s, d, "part"),
        raw(s, d, "lineitem"),
        raw(s, d, "orders"),
        raw(s, d, "supplier"),
        raw(s, d, "nation"),
    )
    q["tpch_returned_items"] = lambda s, d: relational.returned_item_customers(
        raw(s, d, "customer"),
        raw(s, d, "orders"),
        raw(s, d, "lineitem"),
        raw(s, d, "nation"),
    )
    q["tpch_disjunctive_revenue"] = (
        lambda s, d: relational.disjunctive_bracket_revenue(
            raw(s, d, "lineitem"), raw(s, d, "part")
        )
    )
    q["tpch_excess_promo_suppliers"] = (
        lambda s, d: relational.excess_promo_suppliers(
            raw(s, d, "lineitem"), raw(s, d, "part"), raw(s, d, "supplier")
        )
    )
    q["table_column_stats"] = lambda s, d: relational.table_column_stats(
        raw(s, d, "lineitem")
    )
    q["events_window_functions"] = (
        lambda s, d: relational.user_event_window_battery(raw(s, d, "events"))
    )
    q["events_set_ops"] = lambda s, d: relational.purchase_error_set_ops(
        raw(s, d, "events")
    )
    q["events_time_weighted_avg"] = (
        lambda s, d: relational.time_weighted_value(raw(s, d, "events"))
    )
    q["events_daily_locf"] = lambda s, d: relational.daily_locf_resample(
        raw(s, d, "events")
    )
    # EWMA/CUSUM recurrences via JVM aggregate folds (rows-only: no
    # ANSI-SQL recurrence; python parity in tests/test_relational_extras)
    q["events_ewma_cusum"] = lambda s, d: relational.daily_ewma_cusum(
        raw(s, d, "events")
    )
    q["events_equi_depth_hist"] = (
        lambda s, d: relational.value_equi_depth_histogram(raw(s, d, "events"))
    )
    q["events_type_transitions"] = (
        lambda s, d: relational.event_type_transitions(raw(s, d, "events"))
    )
    q["events_mad_anomalies"] = lambda s, d: relational.daily_mad_anomalies(
        raw(s, d, "events")
    )
    # the 100 TB form of events_set_ops' INTERSECT: mergeable-sketch
    # inclusion-exclusion (rows-only; ≤5% error gate in tests)
    q["events_set_ops_sketch"] = lambda s, d: relational.cohort_overlap_sketch(
        raw(s, d, "events")
    )
    q["tpch_market_share"] = lambda s, d: relational.nation_market_share(
        raw(s, d, "customer"),
        raw(s, d, "orders"),
        raw(s, d, "lineitem"),
        raw(s, d, "supplier"),
        raw(s, d, "nation"),
        raw(s, d, "region"),
    )
    # native streaming-transferable session windows; GROUPING SETS;
    # heavy hitters (exact anchor + CMS sketch surface, rows-only)
    q["events_session_window"] = (
        lambda s, d: relational.events_session_window_native(
            raw(s, d, "events")
        )
    )
    q["events_grouping_sets"] = lambda s, d: relational.events_grouping_sets(
        raw(s, d, "events")
    )
    q["events_session_window_dynamic"] = (
        lambda s, d: relational.events_session_window_dynamic(
            raw(s, d, "events")
        )
    )
    q["events_heavy_hitters"] = lambda s, d: relational.heavy_hitter_users(
        raw(s, d, "events")
    )
    q["events_heavy_hitters_sketch"] = (
        lambda s, d: relational.heavy_hitter_sketch_estimates(
            raw(s, d, "events")
        )
    )

    # Z-order (Morton) clustering key — the layout primitive behind
    # two-dimensional zone-map pruning; the expression generator is
    # shared verbatim with the oracle (sinks/layout.py morton_expr)
    def _zorder_codes(s: SparkSession, d: str) -> DataFrame:
        from .sinks.layout import morton_expr

        ev = raw(s, d, "events")
        return ev.select(
            "event_id",
            (F.col("user_id") % 65536).alias("ux"),
            (
                F.floor(F.unix_timestamp("ts") / 86400) % 65536
            ).cast("long").alias("dy"),
        ).select(
            "event_id",
            "ux",
            "dy",
            F.expr(morton_expr("ux", "dy")).alias("zkey"),
        )

    q["events_zorder_codes"] = _zorder_codes
    # iterative BPE merge-rule training (rows-only: iterative fixpoint;
    # python-fold parity in tests/test_text_bpe.py)
    q["text_bpe_merges"] = lambda s, d: textops.bpe_merges(
        raw(s, d, "documents")
    )
    # train → APPLY: tokenize the corpus with the learned merges (one
    # narrow JVM map; rows-only — RE2 lacks the lookbehind the rule
    # regex needs, python parity in tests/test_text_bpe.py)
    q["text_bpe_tokenize"] = lambda s, d: textops.bpe_tokenize(
        raw(s, d, "documents"), n_merges=8
    )
    q["text_zipf_fit"] = lambda s, d: textops.zipf_fit(
        raw(s, d, "documents")
    )
    q["emb_split_centroid_drift"] = (
        lambda s, d: similarity.split_centroid_drift(
            raw(s, d, "embeddings")
        )
    )
    # graph family over the co-purchase graph: degree (oracle: self-join
    # edge derivation) + PageRank (rows-only iterative; python parity).
    # All three share the memoized edge frame (the basket explode is a
    # written table at 100 TB, derived once per scan, not per query)
    q["graph_part_degree"] = lambda s, d: graph.part_degree(
        raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
    )
    # round-6 is the ORACLE-COMPARE grain only (applied here, not in
    # the operator — r9 advisor: round-6 inside pagerank() would zero
    # every rank at the 10⁸⁺-vertex scale the operator documents)
    q["graph_pagerank"] = lambda s, d: graph.pagerank(
        raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
    ).select("part", F.round("rank", 6).alias("rank"))
    q["graph_association_rules"] = lambda s, d: graph.association_rules(
        raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
    )
    # unbounded graph.kcore stays a LIBRARY function (python-peeling
    # parity in tests/test_graph_kcore.py) but is NOT registered: the
    # driver can only record a rows-only iterative fixpoint as
    # `no_oracle`, a permanent red row (VERDICT r10 next #2 — the
    # lag_nested precedent). kcore_bounded below is the oracle surface.
    # r10 (VERDICT r9 next #4): fixed-round k-core — the ≤8-round
    # budget makes the peel unrollable as a DuckDB oracle; k=80 sits
    # inside the degree distribution so peeling actually runs
    q["graph_kcore_bounded"] = lambda s, d: graph.kcore_bounded(
        raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
    )
    # r13: bounded k-truss — the EDGE-grain cohesion sibling of kcore
    # (KTRUSS_ROUNDS unrolled support-peel rounds, raises if the last
    # round still peeled). r14: k is DERIVED as lower-median initial
    # support + 2 (VERDICT r13 what's-wrong #2 — the old k=12 was
    # fixture-pinned; at sf0.01 the median IS 10 so the registered
    # output is unchanged: the same 1127-edge backbone)
    # r14 opt: the peel's round-0 triangle enumeration rides the same
    # session-memoized frame as the clustering queries (get_triangles)
    # — exact because copurchase edges are already a<b distinct, so
    # ktruss's normalization is the identity and the memo IS the
    # triangle set of its round-0 edges
    q["graph_ktruss_bounded"] = lambda s, d: graph.ktruss_bounded(
        raw(s, d, "lineitem"),
        edges=get_copurchase_edges(s, d),
        tri=get_triangles(s, d),
    )
    # r10: neighborhood link prediction (common-neighbors / Jaccard /
    # Adamic-Adar over hub-capped wedges, adjacency anti-joined away)
    q["graph_link_prediction"] = lambda s, d: graph.link_prediction(
        raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
    )
    # r10: bounded synchronous label propagation (6 unrolled rounds,
    # deterministic min-label tie-break — the kcore_bounded recipe).
    # r11: served by the DELTA iteration (frontier-restricted rounds,
    # bit-identical output — graph.label_propagation_delta docstring
    # has the proof); the fixed-round form remains the semantics
    # mirror and the shared 6-round unrolled oracle gates both.
    q["graph_label_propagation"] = (
        lambda s, d: graph.label_propagation_delta(
            raw(s, d, "lineitem"),
            graph_state=get_lpa_graph(s, d),
            labels=get_lpa_labels(s, d),
        )
    )
    # r11: degree assortativity (hubs-to-hubs vs hubs-to-leaves)
    q["graph_assortativity"] = lambda s, d: graph.assortativity(
        get_copurchase_edges(s, d)
    )
    # r14: rich-club coefficient over the nine DERIVED degree deciles
    # (do hubs preferentially connect to each other)
    q["graph_rich_club"] = lambda s, d: graph.rich_club(
        None, edges=get_copurchase_edges(s, d)
    )
    # r11 wave 4: eigenvector centrality (8 unrolled power-iteration
    # rounds, L1-normalized — the teleport-free prestige measure next
    # to pagerank; round-6 is the oracle-compare grain, applied here
    # like graph_pagerank)
    q["graph_eigencentrality"] = lambda s, d: graph.eigencentrality(
        raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
    ).select("part", F.round("score", 6).alias("score"))
    # r11 wave 4: bounded connected components (≤10 unrolled min-label
    # flood rounds, raises if still flooding — the oracle-able sibling
    # of the rows-only dedup_semantic_components union-find)
    q["graph_components_bounded"] = (
        lambda s, d: graph.components_bounded(
            raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
        )
    )
    # r12: the production 100 TB shape — alternating large-star/
    # small-star (Kiveris et al., O(log²) rounds, diameter-free). The
    # fixpoint loop is data-dependent → rows-only gate; python
    # union-find parity + agreement with the flood form in
    # tests/test_components_star.py (VERDICT r11 next #6)
    q["graph_components_star"] = (
        lambda s, d: graph.components_star(
            raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
        )
    )
    # r13: the production components shape, HASH-GATED (VERDICT r12
    # next #2): 8 unrolled large/small-star rounds with the
    # RAISE-on-non-convergence contract — the fixture graphs converge
    # in 3 (a 200-vertex pure path in 9), so the oracle's identity
    # tail absorbs the margin
    q["graph_components_star_bounded"] = (
        lambda s, d: graph.components_star_bounded(
            raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
        )
    )
    # r11 wave 8: Hill tail index of the degree distribution (the
    # hubbiness exponent behind the family's skew decisions)
    q["graph_degree_tail"] = lambda s, d: graph.degree_tail_index(
        raw(s, d, "lineitem"), edges=get_copurchase_edges(s, d)
    )
    # r11: Newman modularity of the LPA communities (same unrolled
    # oracle chain + two exact-integer aggregates) — the "did label
    # propagation find real structure" audit
    q["graph_modularity"] = lambda s, d: graph.modularity_lpa(
        get_lpa_graph(s, d),
        labels=get_lpa_labels(s, d),
    )
    # r7 continuation: triangle count + global clustering coefficient
    # (oracle-able; three keyed self-joins, no vertex broadcast)
    q["graph_clustering"] = lambda s, d: graph.clustering_coefficient(
        raw(s, d, "lineitem"),
        edges=get_copurchase_edges(s, d),
        tri=get_triangles(s, d),
    )
    q["graph_local_clustering"] = lambda s, d: graph.local_clustering(
        raw(s, d, "lineitem"),
        edges=get_copurchase_edges(s, d),
        tri=get_triangles(s, d),
    )
    # r5: fuzzy string-similarity self-join (SymSpell deletion
    # neighborhoods -> bucketed levenshtein verify, never all-pairs)
    q["fuzzy_name_pairs"] = lambda s, d: relational.fuzzy_name_pairs(
        raw(s, d, "part")
    )
    # r5: deequ-style validation suite over raw + snapshot tables
    def _validation(s: SparkSession, d: str) -> DataFrame:
        from .operators.validation import validation_report

        return validation_report(get_raw_tables(s, d), get_snaps(s, d))

    q["validation_report"] = _validation
    q["events_topk_per_type"] = lambda s, d: relational.events_topk_per_type(
        raw(s, d, "events")
    )
    q["events_rollup"] = lambda s, d: relational.events_rollup(
        raw(s, d, "events")
    )
    q["events_preceding_window_join"] = (
        lambda s, d: relational.events_preceding_window_join(raw(s, d, "events"))
    )
    q["events_running_totals"] = lambda s, d: relational.events_running_totals(
        raw(s, d, "events")
    )
    q["events_user_deciles"] = lambda s, d: relational.user_value_deciles(
        raw(s, d, "events")
    )
    q["events_type_day_pivot"] = lambda s, d: relational.events_type_day_pivot(
        raw(s, d, "events")
    )
    q["events_props_stats"] = lambda s, d: relational.events_props_stats(
        raw(s, d, "events")
    )
    # mergeable-sketch counting surface: estimates are implementation-
    # defined (HLL++ / Datasketches) → rows-only gate; accuracy vs the
    # exact anchor asserted in tests/test_usage_extras.py
    q["events_user_reach_sketch"] = (
        lambda s, d: relational.events_user_reach_sketch(raw(s, d, "events"))
    )
    # embedding-space clustering rollup (seeded KMeans) → rows-only gate
    # (iterative trainer); invariants locked in tests/test_ann_ivf.py
    q["emb_cluster_summary"] = lambda s, d: similarity.kmeans_cluster_summary(
        raw(s, d, "embeddings"), trained=get_ivf(s, d)
    )
    # ZCA whitening (r7 late) → rows-only gate (driver-side eigh is not
    # SQL-expressible); cov≈I + full-numpy parity in
    # tests/test_similarity_paths.py
    q["emb_pca_whiten"] = lambda s, d: similarity.pca_whiten(
        raw(s, d, "embeddings"), model=get_whiten_model(s, d)
    )
    # r7 continuation: Rocchio nearest-label-centroid classification
    # (fully oracle-able — centroids are per-dim means, argmax mirrors
    # max-of-struct)
    q["emb_label_centroids"] = lambda s, d: similarity.label_centroid_classify(
        raw(s, d, "embeddings")
    )
    # k-center greedy (Gonzalez) coreset selection → rows-only gate
    # (driver-paced greedy); numpy parity in tests/test_similarity_paths.py
    q["emb_kcenter_coreset"] = lambda s, d: similarity.kcenter_select(
        raw(s, d, "embeddings")
    )
    # cross-source duplicate overlap matrix (dataset-report diagnostic;
    # fully oracle-able)
    q["dedup_source_overlap"] = lambda s, d: curation.source_overlap_matrix(
        raw(s, d, "documents")
    )
    # fuzzy companion: verified MinHash near-dup pairs at source-pair
    # grain (oracle wraps the LSH pair SQL as a subquery)
    q["dedup_source_overlap_fuzzy"] = (
        lambda s, d: dedup.minhash_source_overlap(
            raw(s, d, "documents"),
            docs=get_shingle_docs(s, d),
            bands=get_minhash_bands(s, d),
        )
    )
    # text → embedding encoder seam (deterministic fake model; real
    # model import-guarded) → rows-only gate (md5-seeded PCG64 stream
    # is not SQL-expressible); determinism/unit-norm/end-to-end tests
    # in tests/test_encode.py
    def _encode(s_, d_):
        from .pipelines.encode import encode_documents

        return encode_documents(raw(s_, d_, "documents"))

    q["text_encode_fake"] = _encode
    # text fuzzy dedup end-to-end (MinHash pairs → connected components
    # → keeper) → rows-only gate (iterative CC); union-find parity in
    # tests/test_components.py
    q["dedup_fuzzy_clusters"] = lambda s, d: dedup.minhash_fuzzy_dedup(
        raw(s, d, "documents"),
        docs=get_shingle_docs(s, d),
        bands=get_minhash_bands(s, d),
    )

    return _driver_check_order(q)


# The driver's correctness harness hashes only the first ~50 registry
# entries each round. Rotation policy (VERDICT r4 §next #2): the
# algorithmically riskiest oracles go FIRST so the per-round artifact
# always covers them, and the snapshot passthroughs (schema-echo checks,
# lowest information — still swept by tests/test_oracle_parity.py) sink
# to the END. Everything else keeps its registration order.
_PROMOTED = [
    # r14 rotation (VERDICT r13 next #1: the full 47-query r7-vintage
    # cohort, oldest-witness-first — after this window no registered
    # query's latest driver witness is older than r8). The full oracle
    # sweep still runs every session via
    # tests/test_oracle_parity.py::test_parity_all.
    # -- lead: its oracle mirror changed in r13 (the exact-rational
    # boundary fix touched the audit path) but its last driver witness
    # was r7 — the exact case the rotation policy exists for:
    "dedup_containment_audit",
    # -- semantics changed THIS round (derived-k rule, left-join peel;
    # output identical at sf0.01 but the derivation is new):
    "graph_ktruss_bounded",
    # -- the rest of the r7 cohort, in r7 witness order:
    "dedup_simhash_pairs",
    "media_phash_pairs",
    "events_cohort_retention",
    "split_leakage",
    "events_sessionize",
    "events_time_weighted_avg",
    "events_daily_locf",
    "text_tfidf",
    "text_repetition",
    "tpch_shipping_priority",
    "tpch_top_supplier",
    "sampling_split",
    "emb_quantize_int8",
    "events_k_anonymity",
    "events_session_window_dynamic",
    "events_ab_test",
    "text_fingerprints",
    "text_ngram_freq",
    "text_redact_pii",
    "text_typicality",
    "text_length_histogram",
    "text_vocab_stats",
    "source_quality_summary",
    "sampling_stratified",
    "doc_chunks",
    "tpch_pricing_summary",
    "tpch_big_order_revenue",
    "events_daily_rollup",
    "events_top_users",
    "events_top_users_salted",
    "events_pseudonymized",
    "events_bot_scores",
    "events_retention",
    "events_funnel",
    "events_anomalous_days",
    "events_user_reach",
    "events_value_quantiles",
    "tpch_promo_share",
    "tpch_forecast_revenue",
    "tpch_product_profit",
    "tpch_returned_items",
    "tpch_disjunctive_revenue",
    "events_set_ops",
    "events_type_transitions",
    "events_mad_anomalies",
    "emb_split_centroid_drift",
    # -- r14 new operators (fill the window to exactly 50):
    "graph_rich_club",
    "events_cliffs_delta",
]


def _driver_check_order(
    q: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    promoted = [n for n in _PROMOTED if n in q]
    demoted = [n for n in q if n.startswith("snapshot_")]
    rest = [n for n in q if n not in promoted and n not in demoted]
    return {n: q[n] for n in (*promoted, *rest, *demoted)}


def oracle_sql() -> dict[str, str]:
    out = oracles.oracle_queries()
    out.update(oracles_pipelines.pipeline_oracles())
    return out
