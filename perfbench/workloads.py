"""The three workloads. Each one generates its inputs from the seed, loads
the first input during set-up, runs one operation per ``op`` call through
the package's public functions, and checks that operation's outputs
against answers computed from the generated inputs (``gates.py``).

An ``op`` returns ``(wall_s, items, busy_s, problems)``: the operation's
time, the input items it handled, the wall time those items are divided
by for throughput, and what the gates found (empty when all passed)."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

import gates
import gen
from tracing import Tracer, progress_row

# Sizes are set by the time budget of a full comparison (README.md), not
# by fleet or corpus sizes seen in practice. At these sizes every
# operation's time is mostly per-job and per-stage overhead, curation's
# included; each size still exercises every planted case.
REPORT_TOPICS = 120
STREAM_TOPICS = 100
CURATION_DOCS = 1000

SNAPSHOT_SCHEMAS = {
    "topics": "cluster string, name string, partitions long, "
    "retention_ms long, cleanup_policy string",
    "consumer_groups": "cluster string, group_id string, state string, members long",
    "group_offsets": "cluster string, group_id string, topic string, "
    "partition_id long, committed_offset long",
    "topic_configs": "cluster string, topic string, config_key string, config_value string",
    "subjects": "registry string, subject string",
    "subject_versions": "registry string, subject string, version long, schema_id long",
    "schemas": "registry string, schema_id long, schema_type string, schema_string string",
}


class ReportCycle:
    """The scan loop: collect four scans, build the snapshot frames, emit
    the report, validate it, write the Prometheus textfile and export the
    topics frame. One client, closed loop."""

    name = "report_cycle"
    # operations a run measures: the first cycle after set-up and the next
    # one, so a burst of CPU steal on the host weighs on half of the run
    ops = 2
    item_unit = "partition offset rows"

    def __init__(self, seed: int, workdir: Path):
        self.seed = seed
        self.workdir = workdir
        self.cycle = 0
        self.bytes_written: list[int] = []

    def generate(self) -> dict:
        self.fleet = gen.Fleet(self.seed, REPORT_TOPICS)
        self.client = gen.FleetClient(self.fleet)
        return self.fleet.shares()

    def collect(self, tr, cycle: int) -> list:
        from kafka_overwatch_spark.sources.kafka_collector import collect_snapshot

        scans = []
        with tr.span("sources.collect"):
            for s in range(gen.SCANS_PER_REPORT):
                t = gen.SCANS_PER_REPORT * cycle + s
                self.client.t = t
                scans.append(
                    collect_snapshot(self.client, gen.CLUSTER, s, now=self.fleet.scan_ts(t))
                )
        return scans

    def frames(self, spark, tr, scans: list) -> dict:
        from kafka_overwatch_spark.streaming.offsets import OFFSET_SCHEMA

        last = scans[-1]
        f = self.fleet
        rows = {
            "topics": last.topics,
            "consumer_groups": last.consumer_groups,
            "group_offsets": last.group_offsets,
            "topic_configs": last.topic_configs,
            "subjects": f.subjects,
            "subject_versions": f.subject_versions,
            "schemas": f.schemas,
        }
        with tr.span("snapshot.frames"):
            snaps = {
                "partition_offsets": spark.createDataFrame(
                    [r for s in scans for r in s.partition_offsets], OFFSET_SCHEMA
                )
            }
            for name, schema in SNAPSHOT_SCHEMAS.items():
                snaps[name] = spark.createDataFrame(rows[name], schema)
        return snaps

    def load(self, spark) -> None:
        """First input load: collect one cycle and count its offsets
        frame. The cycle index moves on, so no operation sees the same
        watermarks as a set-up."""
        from kafka_overwatch_spark.streaming.offsets import OFFSET_SCHEMA

        scans = self.collect(Tracer("setup", enabled=False), self.cycle)
        self.cycle += 1
        spark.createDataFrame(
            [r for s in scans for r in s.partition_offsets], OFFSET_SCHEMA
        ).count()

    def op(self, spark, tr) -> tuple[float, int, float, list[str]]:
        from kafka_overwatch_spark.operators.metrics import metrics_snapshot
        from kafka_overwatch_spark.operators.report import report_json
        from kafka_overwatch_spark.operators.usage import build_topics_df
        from kafka_overwatch_spark.sinks.exports import export_dataframe
        from kafka_overwatch_spark.sinks.prometheus import write_textfile
        from kafka_overwatch_spark.specs import validate_report

        cycle = self.cycle
        self.cycle += 1
        prom = self.workdir / "metrics.prom"
        csv_dir = self.workdir / "topics_csv"
        problems: list[str] = []
        t0 = time.perf_counter()
        with tr.span("cycle"):
            scans = self.collect(tr, cycle)
            snaps = self.frames(spark, tr, scans)
            with tr.span("operators.report"):
                payload = report_json(snaps, gen.CLUSTER)
            with tr.span("specs.validate"):
                try:
                    validate_report(payload)
                except Exception as exc:  # jsonschema.ValidationError
                    problems.append(f"validate_report: {str(exc)[:200]}")
            with tr.span("sinks.prometheus"):
                write_textfile(metrics_snapshot(snaps), str(prom))
            with tr.span("sinks.export"):
                export_dataframe(build_topics_df(snaps), str(csv_dir), single_file=True)
        wall = time.perf_counter() - t0
        rows = sum(len(s.partition_offsets) for s in scans)
        t_first = gen.SCANS_PER_REPORT * cycle
        expected = self.fleet.expected_report(t_first, t_first + gen.SCANS_PER_REPORT - 1)
        self.last = {"payload": payload, "expected": expected, "prom": prom, "csv": csv_dir}
        problems += gates.check_report(payload, expected)
        problems += gates.check_prometheus(prom.read_text(), expected)
        problems += gates.check_topics_csv(csv_dir, expected)
        self.bytes_written.append(
            len(payload)
            + prom.stat().st_size
            + sum(p.stat().st_size for p in csv_dir.iterdir() if p.is_file())
        )
        return wall, rows, wall, problems

    def traced_extras(self, spark) -> dict:
        return {"bytes_written": statistics.median(self.bytes_written)}

    def teardown(self, spark) -> None:
        pass


class ScanStream:
    """The unified collector feed, one parquet file per scan, through
    ``streaming_lag``; each scan is published and drained before the next
    (closed loop, one client)."""

    name = "scan_stream"
    # a micro-batch takes a quarter of a report cycle, so a run measures
    # several to cover a window of similar length
    ops = gen.MEASURED_SCANS
    item_unit = "lag samples"

    def __init__(self, seed: int, workdir: Path):
        self.seed = seed
        self.workdir = workdir
        self.query = None
        self.session_no = 0

    def generate(self) -> dict:
        self.fleet = gen.Fleet(self.seed, STREAM_TOPICS)
        self.kinds = self.fleet.scan_kinds(10_000)
        shares = self.fleet.shares()
        shares["offsets_only_scans_first_100"] = self.kinds[:100].count("offsets_only")
        return shares

    def _publish(self, scan: int) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = self.fleet.lag_samples(scan, self.kinds[scan])
        cols = list(zip(*rows))
        table = pa.table(
            {
                "cluster": pa.array(cols[0], pa.string()),
                "topic": pa.array(cols[1], pa.string()),
                "partition_id": pa.array(cols[2], pa.int64()),
                "scan_id": pa.array(cols[3], pa.int64()),
                "start_offset": pa.array(cols[4], pa.int64()),
                "end_offset": pa.array(cols[5], pa.int64()),
                "group_id": pa.array(cols[6], pa.string()),
                "committed_offset": pa.array(cols[7], pa.int64()),
                "ts": pa.array(cols[8], pa.timestamp("us")),
            }
        )
        staged = self.stage / f"scan-{scan:05d}.parquet"
        pq.write_table(table, staged)
        # rename is atomic: the file source never lists a half-written file
        os.replace(staged, self.input / staged.name)
        return len(rows)

    def load(self, spark) -> None:
        """First input load: start the query on a fresh feed and drain
        the ``gen.WARM_KINDS`` scans through it (one offsets-only scan),
        so a measured scan is a later micro-batch that updates carried
        keyed state, not the query's first."""
        from kafka_overwatch_spark.streaming.offsets import lag_sample_stream, streaming_lag

        self.session_no += 1
        self.base = self.workdir / f"stream{self.session_no}"
        self.input, self.stage = self.base / "in", self.base / "stage"
        self.input.mkdir(parents=True)
        self.stage.mkdir(parents=True)
        self._publish(0)
        self.query = (
            streaming_lag(lag_sample_stream(spark, str(self.input)))
            .writeStream.format("memory")
            .queryName(f"lag_out_{self.session_no}")
            .outputMode("append")
            .option("checkpointLocation", str(self.base / "ckpt"))
            .start()
        )
        self.query.processAllAvailable()
        for scan in range(1, gen.WARM_SCANS):
            self._publish(scan)
            self.query.processAllAvailable()
        self.scan = gen.WARM_SCANS
        self.seen_batch = max(p["batchId"] for p in self.query.recentProgress)
        self.progress: list[dict] = []

    def op(self, spark, tr) -> tuple[float, int, float, list[str]]:
        """One scan: its micro-batch time (``triggerExecution``), its
        samples, and the drain wall time from publish to processed."""
        scan = self.scan
        self.scan += 1
        samples = self._publish(scan)
        t0 = time.perf_counter()
        with tr.span("streaming.drain"):
            self.query.processAllAvailable()
        drain = time.perf_counter() - t0
        new = [
            p
            for p in self.query.recentProgress
            if p["batchId"] > self.seen_batch and p.get("numInputRows", 0) > 0
        ]
        problems = []
        if not new:
            problems.append(f"scan {scan}: no micro-batch ran")
        else:
            self.seen_batch = max(p["batchId"] for p in new)
            self.progress.extend(new)
        if self.kinds[scan] == "full":
            from pyspark.sql import functions as F

            got = [
                (r["group_id"], r["topic"], r["partition_id"], r["lag"])
                for r in spark.table(f"lag_out_{self.session_no}")
                .filter(F.col("as_of_scan") == scan)
                .collect()
            ]
            want = self.fleet.lag_rows(scan)
            self.last = {"got": got, "want": want, "scan": scan}
            problems += gates.check_stream_lag(got, want, scan)
        trigger = sum(p["durationMs"]["triggerExecution"] for p in new) / 1e3
        return trigger, samples, drain, problems

    def traced_extras(self, spark) -> dict:
        return {
            "progress": [progress_row(p) for p in self.progress],
            "run_id": str(self.query.runId),
        }

    def teardown(self, spark) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


class Curation:
    """``curate_corpus_artifacts`` over seeded documents, writing the
    corpus, rejected set, card and manifest to a fresh directory each
    pass."""

    name = "curation"
    ops = 1
    item_unit = "documents"

    def __init__(self, seed: int, workdir: Path):
        self.seed = seed
        self.workdir = workdir
        self.passes = 0
        self.keep_outputs = False

    def generate(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.corpus = gen.make_documents(self.seed, CURATION_DOCS)
        cols = list(zip(*self.corpus.rows))
        self.docs_path = self.workdir / "documents.parquet"
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(cols[0], pa.int64()),
                    "text": pa.array(cols[1], pa.string()),
                    "lang": pa.array(cols[2], pa.string()),
                    "source": pa.array(cols[3], pa.string()),
                    "n_chars": pa.array(cols[4], pa.int64()),
                }
            ),
            self.docs_path,
        )
        return self.corpus.shares

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(str(self.docs_path))
        self.docs.count()

    def op(self, spark, tr) -> tuple[float, int, float, list[str]]:
        from kafka_overwatch_spark.pipelines.curation import curate_corpus_artifacts

        out = self.workdir / f"pass{self.passes}"
        self.passes += 1
        out.mkdir()
        t0 = time.perf_counter()
        with tr.span("curation.pass"), (_phases(tr) if tr.enabled else nullcontext()):
            manifest = curate_corpus_artifacts(self.docs, str(out))
        wall = time.perf_counter() - t0
        problems = gates.check_curation(manifest, out, self.corpus)
        self.last = {"manifest": manifest, "out": out}
        if not self.keep_outputs:
            shutil.rmtree(out)
        return wall, len(self.corpus.rows), wall, problems

    def traced_extras(self, spark) -> dict:
        """LSH work counts over the fuzzy stage's input (the quality and
        exact-dedup survivors): band-bucket pairs, i.e. the sum over
        (band, key) buckets of C(n, 2), against pairs verified at the
        Jaccard threshold."""
        from pyspark.sql import functions as F

        from kafka_overwatch_spark.pipelines.curation import curate
        from kafka_overwatch_spark.pipelines.dedup import (
            minhash_bands,
            minhash_lsh_pairs,
            shingle_docs,
        )

        base = self.docs.join(curate(self.docs).select("doc_id"), "doc_id", "semi")
        sh = shingle_docs(base).localCheckpoint()
        bands = minhash_bands(sh).localCheckpoint()
        n = F.col("count")
        # minhash_lsh_pairs skips buckets over its max_bucket default, 1000
        bucket_pairs = (
            bands.groupBy("band_id", "band_key")
            .count()
            .filter(n <= 1000)
            .agg(F.sum(n * (n - 1) / 2))
            .collect()[0][0]
        )
        verified = minhash_lsh_pairs(base, docs=sh, bands=bands).count()
        return {"lsh_bucket_pairs": bucket_pairs or 0, "lsh_pairs_verified": verified}

    def teardown(self, spark) -> None:
        pass


@contextmanager
def _phases(tr):
    """Split one traced ``curate_corpus_artifacts`` call into phases
    without changing the package: the phase moves on when the call
    reaches ``minhash_fuzzy_dedup`` and then ``dataset_card``, and every
    parquet write is a ``sinks.corpus_write`` span inside its phase."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kafka_overwatch_spark.pipelines import curation, dedup

    current = [tr.start("pipelines.quality_exact")]
    orig = (dedup.minhash_fuzzy_dedup, curation.dataset_card, DataFrameWriter.parquet)

    def enter(name, fn):
        def wrapped(*a, **k):
            tr.finish(current[0])
            current[0] = tr.start(name)
            return fn(*a, **k)

        return wrapped

    def parquet(self, *a, **k):
        with tr.span("sinks.corpus_write"):
            return orig[2](self, *a, **k)

    dedup.minhash_fuzzy_dedup = enter("pipelines.fuzzy_dedup", orig[0])
    curation.dataset_card = enter("pipelines.card", orig[1])
    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        dedup.minhash_fuzzy_dedup, curation.dataset_card, DataFrameWriter.parquet = orig
        tr.finish(current[0])


WORKLOADS = {w.name: w for w in (ReportCycle, ScanStream, Curation)}
