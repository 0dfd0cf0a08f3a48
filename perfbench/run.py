"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload report_cycle --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The process builds nothing: it imports
the package from the checkout, starts Spark with the package's own session
defaults at ``local[<cpus>]``, sets up once (``setup_s``), then
measures a fixed number of the workload's operations, back to back, and
prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--seconds`` is accepted and recorded, but does not change what a run
measures: the operation count is fixed, so the metrics mean the same
whatever the speed of the code. ``--trace 0`` reports the end-to-end
metrics. ``--trace 1`` runs the same way with an event log on the
session, a span and job group around every call into a layer and an RSS
sampler, and reports the per-layer metrics;
the tracing overhead is its ``trace.op_p50_s`` against ``op_p50_s`` of
untraced runs. Everything else (run record, spans) goes to
``.perfbench_out/`` in the checkout.
See perfbench/README.md for the metrics and what each should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _prepare_env(out: Path, cpus: int, event_log_dir: Path | None = None) -> None:
    """Process environment for the JVM and Python workers: the package
    importable by workers, the CPU count, and every temporary directory
    inside the checkout. The only session confs set here are a traced
    run's event log, as JVM system properties, which a new SparkContext
    reads as conf defaults, because ``get_spark`` takes no extra conf."""
    from tracing import event_log_confs

    for sub in ("local", "tmp"):
        (out / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(out / "local")
    os.environ["TMPDIR"] = str(out / "tmp")
    opts = [f"-Djava.io.tmpdir={out / 'tmp'}", "-XX:-UsePerfData"]
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True)
        opts += [f"-D{k}={v}" for k, v in event_log_confs(str(event_log_dir)).items()]
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(opts)


def measure(wl, spark, tracer) -> dict:
    """The workload's fixed number of operations (``wl.ops``, whatever
    their speed) back to back: a closed loop with one client. Failed
    operations count; their times do not."""
    ops, problems = [], []
    failed = 0
    for _ in range(wl.ops):
        try:
            wall, items, busy, errs = wl.op(spark, tracer)
        except Exception as exc:  # an operation that raises is a failed one
            errs = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        if errs:
            failed += 1
            problems += errs[:3]
        else:
            ops.append((wall, items, busy))
    return {"ops": ops, "attempted": wl.ops, "failed": failed, "problems": problems}


def e2e_metrics(wl, m: dict, setup_s: float) -> tuple[dict, dict]:
    """The bounded end-to-end metrics, and the run-record statistics that
    go with them."""
    walls = [w for w, _, _ in m["ops"]]
    if not walls:
        return {}, {}
    median = statistics.median(walls)
    if wl.name == "curation":
        rate = m["ops"][0][1] / median
    else:
        rate = sum(i for _, i, _ in m["ops"]) / sum(b for _, _, b in m["ops"])
    metrics = {
        "op_p50_s": (median, "s"),
        "items_per_s": (rate, "1/s"),
        "setup_s": (setup_s, "s"),
    }
    stats = {"ops": len(walls), "item_unit": wl.item_unit, "walls": walls}
    return metrics, stats


def start_session():
    """The package's session and worker warm-up."""
    from kafka_overwatch_spark.session import get_spark, warm_python_workers

    spark = get_spark()
    warm_python_workers(spark)
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it (its Python workers end with
    their SparkContext)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kafka_overwatch_spark" / "__init__.py").is_file():
        _fail(f"no kafka_overwatch_spark package under {ROOT}")
    sys.path.insert(0, str(ROOT))
    import host
    import layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cpus = host.nproc()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = ROOT / ".perfbench_out" / run_id
    ev_dir = out / "eventlog"
    _prepare_env(out, cpus, ev_dir if args.trace else None)
    import kafka_overwatch_spark

    if Path(kafka_overwatch_spark.__file__).resolve().parent.parent != ROOT:
        _fail(f"package imported from {kafka_overwatch_spark.__file__}, not the checkout")

    from tracing import Tracer, parse_event_log

    work = out / "work"
    work.mkdir(parents=True, exist_ok=True)
    wl = WORKLOADS[args.workload](args.seed, work)
    record: dict = {
        "run_id": run_id,
        "workload": wl.name,
        "seed": args.seed,
        "cpus": cpus,
        "seconds": args.seconds,
    }
    t0 = time.perf_counter()
    record["inputs"] = wl.generate()
    record["gen_s"] = time.perf_counter() - t0

    spark = None
    try:
        # the sampler's /proc walks share the GIL with the driver, so only
        # traced runs pay for them
        with host.RssSampler() if args.trace else nullcontext() as rss:
            # set-up: session start, worker warm-up and the workload's
            # first input load
            t0 = time.perf_counter()
            spark = start_session()
            wl.load(spark)
            setup_s = record["setup_s"] = time.perf_counter() - t0
            tracer = Tracer(run_id, enabled=bool(args.trace))
            if args.trace:
                tracer.sc = spark.sparkContext
                app_id = spark.sparkContext.applicationId
            window = host.HostWindow()
            m = measure(wl, spark, tracer)
            record["host"] = window.close()
            metrics, stats = e2e_metrics(wl, m, setup_s)
            record["ops"] = {**stats, "problems": m["problems"]}
            if args.trace and metrics:
                extra = wl.traced_extras(spark)
                wl.teardown(spark)
                spark.stop()
                spark = None
                ev = parse_event_log(str(ev_dir / app_id))
                tracer.dump(out / "spans.jsonl")
                record["event_log_groups"] = len(ev)
                metrics = layers.per_layer(wl, tracer, ev, m, extra, metrics)
                metrics.update(layers.host_metrics(record["host"], rss.peak_mb))
                record["peak_rss_mb"] = rss.peak_mb
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            wl.teardown(spark)
            spark.stop()
        stop_jvm()
        record["teardown_s"] = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(out / "local", ignore_errors=True)
        shutil.rmtree(out / "tmp", ignore_errors=True)

    if not metrics:
        _fail(f"no operation succeeded: {record['ops'].get('problems')}", 1)
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    record["process_s"] = time.perf_counter() - T_START
    (out / "record.json").write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps(record, default=str), file=sys.stderr)
    result = {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
