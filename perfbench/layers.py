"""Per-layer metrics of a traced run, named ``<package layer>.<what>``.

Every workload reports every metric: a layer the workload does not call
reads 0, which is the prediction for it there. Times and counts are
medians per operation (cycle, micro-batch or curation pass) unless the
name says otherwise."""

from __future__ import annotations

import statistics

REPORT = (
    "sources.collect_s",
    "sources.partition_rows",
    "snapshot.frames_s",
    "operators.report_s",
    "operators.report_jobs",
    "operators.report_stages",
    "operators.report_tasks",
    "operators.report_cpu_s",
    "specs.validate_s",
    "sinks.prometheus_s",
    "sinks.prometheus_stages",
    "sinks.export_s",
    "sinks.bytes_written",
)
STREAM = (
    "sources.get_batch_s",
    "streaming.add_batch_s",
    "streaming.planning_s",
    "streaming.commit_s",
    "streaming.state_rows",
    "streaming.state_bytes",
    "streaming.state_commit_s",
    "streaming.state_update_s",
    "streaming.state_partitions",
    "streaming.tasks_per_batch",
    "streaming.udf_s",
    "streaming.udf_bytes_sent",
)
CURATION = (
    "pipelines.quality_exact_s",
    "pipelines.fuzzy_dedup_s",
    "pipelines.card_s",
    "sinks.corpus_write_s",
    "pipelines.stages",
    "pipelines.cpu_s",
    "pipelines.shuffle_bytes",
    "pipelines.spill_bytes",
    "pipelines.lsh_bucket_pairs",
    "pipelines.lsh_pairs_verified",
    "pipelines.lsh_useful_ratio",
)
SESSION = (
    "session.task_wait_s",
    "session.task_failures",
    "session.gc_s",
    "session.worker_start_s",
)
TRACE = ("trace.op_p50_s",)
HOST = ("host.nproc", "host.steal_s", "host.loadavg_1m", "host.peak_rss_mb")
ALL = REPORT + STREAM + CURATION + SESSION + TRACE + HOST


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "_written", "_sent")):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, tracer, ev: dict, traced: dict, extra: dict, e2e: dict) -> dict:
    values = dict.fromkeys(ALL, 0.0)
    spans = tracer.by_name()
    selfs = tracer.self_times()

    def dur(name):
        return [sp.duration for sp in spans.get(name, [])]

    def counts(name, key):
        return [sp.counts.get(key, 0) for sp in spans.get(name, [])]

    def ev_of(name, key):
        return [ev.get(sp.group, {}).get(key, 0.0) for sp in spans.get(name, [])]

    n_ops = max(1, traced["attempted"])
    if wl.name == "report_cycle":
        values.update({
            "sources.collect_s": _med(dur("sources.collect")),
            "sources.partition_rows": _med(i for _, i, _ in traced["ops"]),
            "snapshot.frames_s": _med(dur("snapshot.frames")),
            "operators.report_s": _med(dur("operators.report")),
            "operators.report_jobs": _med(counts("operators.report", "jobs")),
            "operators.report_stages": _med(counts("operators.report", "stages")),
            "operators.report_tasks": _med(counts("operators.report", "tasks")),
            "operators.report_cpu_s": _med(ev_of("operators.report", "cpu_s")),
            "specs.validate_s": _med(dur("specs.validate")),
            "sinks.prometheus_s": _med(dur("sinks.prometheus")),
            "sinks.prometheus_stages": _med(counts("sinks.prometheus", "stages")),
            "sinks.export_s": _med(dur("sinks.export")),
            "sinks.bytes_written": float(extra.get("bytes_written", 0)),
        })
    elif wl.name == "scan_stream":
        rows = extra.get("progress", [])
        run_id = extra.get("run_id", "")
        per_batch = [ev.get(f"{run_id}#{r['batch']}", {}) for r in rows]
        values.update({
            "sources.get_batch_s": _med(r["get_batch_s"] for r in rows),
            "streaming.add_batch_s": _med(r["add_batch_s"] for r in rows),
            "streaming.planning_s": _med(r["planning_s"] for r in rows),
            "streaming.commit_s": _med(r["commit_s"] for r in rows),
            "streaming.state_rows": float(rows[-1]["state_rows"]) if rows else 0.0,
            "streaming.state_bytes": float(rows[-1]["state_bytes"]) if rows else 0.0,
            "streaming.state_commit_s": _med(r["state_commit_s"] for r in rows),
            "streaming.state_update_s": _med(r["state_update_s"] for r in rows),
            "streaming.state_partitions": _med(r["state_partitions"] for r in rows),
            "streaming.tasks_per_batch": _med(b.get("tasks", 0) for b in per_batch),
            "streaming.udf_s": _med(b.get("udf_s", 0.0) for b in per_batch),
            "streaming.udf_bytes_sent": _med(b.get("udf_bytes_sent", 0.0) for b in per_batch),
        })
    elif wl.name == "curation":
        n_pass = max(1, len(spans.get("curation.pass", [])))
        phase_names = ("pipelines.quality_exact", "pipelines.fuzzy_dedup", "pipelines.card",
                       "sinks.corpus_write")
        groups = [sp.group for n in phase_names for sp in spans.get(n, [])]

        def total(key):
            return sum(ev.get(g, {}).get(key, 0.0) for g in groups) / n_pass

        def self_med(name):
            return _med(selfs[sp.span_id] for sp in spans.get(name, []))

        writes = sum(dur("sinks.corpus_write")) / n_pass
        bucket_pairs = extra.get("lsh_bucket_pairs", 0)
        verified = extra.get("lsh_pairs_verified", 0)
        values.update({
            "pipelines.quality_exact_s": self_med("pipelines.quality_exact"),
            "pipelines.fuzzy_dedup_s": self_med("pipelines.fuzzy_dedup"),
            "pipelines.card_s": self_med("pipelines.card"),
            "sinks.corpus_write_s": writes,
            "pipelines.stages": total("stages"),
            "pipelines.cpu_s": total("cpu_s"),
            "pipelines.shuffle_bytes": total("shuffle_bytes"),
            "pipelines.spill_bytes": total("spill_bytes"),
            "pipelines.lsh_bucket_pairs": float(bucket_pairs),
            "pipelines.lsh_pairs_verified": float(verified),
            "pipelines.lsh_useful_ratio": verified / bucket_pairs if bucket_pairs else 0.0,
        })
    # the traced operations' jobs only: the spans' job groups and the
    # measured micro-batches (set-up, its warm-up batch and gate jobs
    # are left out)
    op_groups = {sp.group for sps in spans.values() for sp in sps}
    if wl.name == "scan_stream":
        run_id = extra.get("run_id", "")
        op_groups |= {f"{run_id}#{r['batch']}" for r in extra.get("progress", [])}
    every = [ev[key] for key in op_groups if key in ev]
    values.update({
        "session.task_wait_s": sum(g.get("task_wait_s", 0.0) for g in every) / n_ops,
        "session.task_failures": float(sum(g.get("task_failures", 0) for g in every)),
        "session.gc_s": sum(g.get("gc_s", 0.0) for g in every) / n_ops,
        "session.worker_start_s": sum(g.get("worker_start_s", 0.0) for g in every) / n_ops,
    })
    # the traced operation's time: the tracing overhead is its ratio to
    # op_p50_s of untraced runs of the same workload
    values["trace.op_p50_s"] = e2e["op_p50_s"][0]
    return {k: (v, unit(k)) for k, v in values.items()}


def host_metrics(h: dict, peak_rss_mb: float) -> dict:
    return {
        "host.nproc": (float(h["nproc"]), "count"),
        "host.steal_s": (h["steal_s"], "s"),
        "host.loadavg_1m": (h["loadavg_end"][0], "count"),
        # driver Python + JVM + Python workers; unbounded because it swings
        # run to run with the Python worker pool and JVM heap growth
        "host.peak_rss_mb": (peak_rss_mb, "MB"),
    }
