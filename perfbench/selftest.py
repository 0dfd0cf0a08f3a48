"""Self-test of the correctness gates: run one real operation of each
workload, check its outputs pass, then plant wrong answers in copies of
those outputs and check that every gate trips on each.

    python3 perfbench/selftest.py

Exits 0 when every gate passes the real outputs and rejects every planted
wrong answer; prints one line per check.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

import run

SEED = 11


def _plants_report(last: dict) -> list[tuple[str, str, list[str]]]:
    import gates

    exp = last["expected"]
    rep = json.loads(last["payload"])
    prom = last["prom"].read_text()
    out = []

    def report_with(mutate):
        r = copy.deepcopy(rep)
        mutate(r)
        return gates.check_report(json.dumps(r), exp)

    out.append(("report: topic total off by one", "statistics.topics", report_with(
        lambda r: r["statistics"].__setitem__("topics", r["statistics"]["topics"] + 1))))
    out.append(("report: partition total off by one", "statistics.partitions", report_with(
        lambda r: r["statistics"].__setitem__("partitions", r["statistics"]["partitions"] + 1))))
    out.append(("report: group total off by one", "consumer_groups=", report_with(
        lambda r: r["statistics"]["consumer_groups"].__setitem__(
            "total", r["statistics"]["consumer_groups"]["total"] + 1))))
    cat = "no_messages"
    victim = next(iter(rep["estimated_waste"]["topic_categories"][cat]["topics"]))
    out.append(("report: waste topic dropped", "waste no_messages", report_with(
        lambda r: r["estimated_waste"]["topic_categories"][cat]["topics"].pop(victim))))
    out.append(("report: non-compliant count off", "topic_naming_convention", report_with(
        lambda r: r["governance"]["topic_naming_convention"].__setitem__(
            "non_compliant_count",
            r["governance"]["topic_naming_convention"]["non_compliant_count"] + 1))))
    out.append(("report: group non-compliant count off", "consumer_group_naming_convention", report_with(
        lambda r: r["governance"]["consumer_group_naming_convention"].__setitem__(
            "non_compliant_count",
            r["governance"]["consumer_group_naming_convention"]["non_compliant_count"] + 1))))
    out.append(("report: unused subject count off", "schema_registry subjects", report_with(
        lambda r: r["schema_registry"].__setitem__(
            "unused_subjects_count", r["schema_registry"]["unused_subjects_count"] + 1))))
    out.append(("report: schema key missing", "top-level keys", report_with(lambda r: r.pop("schema_registry"))))
    lag_line = next(ln for ln in prom.splitlines() if ln.startswith("kafka_consumer_group_lag{"))
    name, value = lag_line.rsplit(" ", 1)
    out.append(("prometheus: lag gauge wrong", "1 wrong values",
                gates.check_prometheus(prom.replace(lag_line, f"{name} {int(value) + 1}"), exp)))
    out.append(("prometheus: lag gauge missing", "1 gauges missing",
                gates.check_prometheus(prom.replace(lag_line + "\n", ""), exp)))
    bad_csv = last["csv"].parent / "topics_csv_planted"
    shutil.copytree(last["csv"], bad_csv)
    part = next(bad_csv.glob("part-*.csv"))
    part.write_text("\n".join(part.read_text().splitlines()[:-1]) + "\n")
    out.append(("export: topic row dropped", "export:", gates.check_topics_csv(bad_csv, exp)))
    return out


def _plants_stream(last: dict) -> list[tuple[str, str, list[str]]]:
    import gates

    got, want, scan = last["got"], last["want"], last["scan"]
    g, t, p, lag = got[0]
    return [
        ("stream: lag off by one", "1 unexpected, 1 missing", gates.check_stream_lag([(g, t, p, lag + 1)] + got[1:], want, scan)),
        ("stream: row missing", "1 missing", gates.check_stream_lag(got[1:], want, scan)),
        ("stream: row repeated", "1 repeated", gates.check_stream_lag(got + got[:1], want, scan)),
    ]


def _plants_curation(last: dict, corpus) -> list[tuple[str, str, list[str]]]:
    import pyarrow.parquet as pq

    import gates

    manifest, out = last["manifest"], last["out"]
    plants = [("curation: manifest kept off by one", "does not sum",
               gates.check_curation({**manifest, "kept": manifest["kept"] + 1}, out, corpus))]
    # a second member of a planted exact-duplicate group written into the
    # corpus: that group is kept twice
    kept = set()
    for f in (out / "corpus").rglob("*.parquet"):
        kept.update(pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist())
    group = next(g for g in corpus.exact_groups if any(d in kept for d in g))
    extra = next(d for d in group if d not in kept)
    dup_out = out.parent / "planted_dup"
    shutil.copytree(out, dup_out)
    src = next((dup_out / "corpus").rglob("*.parquet"))
    table = pq.read_table(src)
    import pyarrow as pa

    row = table.slice(0, 1).set_column(
        table.schema.get_field_index("doc_id"), "doc_id", pa.array([extra], pa.int64()))
    pq.write_table(row, src.parent / "planted.parquet")
    plants.append(("curation: exact duplicate kept twice", "kept more than once",
                   gates.check_curation({**manifest, "kept": manifest["kept"] + 1,
                                         "exact_dup": manifest["exact_dup"] - 1}, dup_out, corpus)))
    # a planted low-quality document moved from the rejected set into the
    # corpus, with the manifest moved to match
    in_groups = {d for g in corpus.exact_groups for d in g}
    low = next(d for d in corpus.low_quality if d not in in_groups)
    low_out = out.parent / "planted_low"
    shutil.copytree(out, low_out)
    rej = _rewrite_rejected(low_out, lambda ids: [d for d in ids if d != low])
    pq.write_table(row.set_column(table.schema.get_field_index("doc_id"), "doc_id",
                                  pa.array([low], pa.int64())),
                   next((low_out / "corpus").rglob("*.parquet")).parent / "planted.parquet")
    assert low not in rej
    plants.append(("curation: low-quality document kept", "low-quality documents kept",
                   gates.check_curation({**manifest, "kept": manifest["kept"] + 1,
                                         "quality_fail": manifest["quality_fail"] - 1},
                                        low_out, corpus)))
    # one rejected row's doc_id replaced by another rejected one: the row
    # counts and the manifest still agree, but a document is lost
    swap_out = out.parent / "planted_swap"
    shutil.copytree(out, swap_out)
    _rewrite_rejected(swap_out, lambda ids: ids[:1] + ids[:1] + ids[2:])
    plants.append(("curation: rejected document lost", " cover ",
                   gates.check_curation(manifest, swap_out, corpus)))
    lost = out.parent / "planted_lost"
    shutil.copytree(out, lost)
    for f in (lost / "corpus").rglob("*.parquet"):
        f.unlink()
        break
    plants.append(("curation: corpus file lost", "corpus has", gates.check_curation(manifest, lost, corpus)))
    return plants


def _rewrite_rejected(out, edit) -> list[int]:
    """Replace the rejected set under ``out`` with one file whose doc_id
    column is ``edit(doc_ids)``; returns the new doc_ids."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    rej_dir = out / "rejected"
    table = ds.dataset(rej_dir, format="parquet").to_table()
    ids = edit(table.column("doc_id").to_pylist())
    # keep the first len(ids) rows, with the edited ids
    table = table.slice(0, len(ids)).set_column(
        table.schema.get_field_index("doc_id"), "doc_id", pa.array(ids, pa.int64()))
    shutil.rmtree(rej_dir)
    rej_dir.mkdir()
    pq.write_table(table, rej_dir / "part-planted.parquet")
    return ids


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    import gen
    import host
    from tracing import Tracer
    from workloads import Curation, ReportCycle, ScanStream

    out = run.ROOT / ".perfbench_out" / f"selftest-{os.getpid()}"
    run._prepare_env(out, host.nproc())
    work = out / "work"
    work.mkdir(parents=True)
    off = Tracer("selftest", enabled=False)
    lines, ok = [], True
    spark = None
    try:
        spark = run.start_session()
        for cls in (ReportCycle, ScanStream, Curation):
            wl = cls(SEED, work / cls.name)
            wl.workdir.mkdir()
            wl.generate()
            if cls is Curation:
                wl.keep_outputs = True
            wl.load(spark)
            errs = wl.op(spark, off)[-1]
            if cls is ScanStream:
                # past the measured scans, through a seeded offsets-only
                # scan, to the next full one: state carried forward
                while (
                    "offsets_only" not in wl.kinds[gen.WARM_SCANS : wl.scan]
                    or wl.kinds[wl.scan] != "full"
                ):
                    errs += wl.op(spark, off)[-1]
                errs += wl.op(spark, off)[-1]
            lines.append(("PASS" if not errs else "FAIL") + f"  {cls.name}: real outputs pass  {errs}")
            ok &= not errs
            plants = (
                _plants_report(wl.last) if cls is ReportCycle
                else _plants_stream(wl.last) if cls is ScanStream
                else _plants_curation(wl.last, wl.corpus)
            )
            for what, expect, problems in plants:
                hit = [p for p in problems if expect in p]
                lines.append(("PASS" if hit else "FAIL") + f"  {what} -> {hit or problems}")
                ok &= bool(hit)
            wl.teardown(spark)

        # a failed gate is a failed operation in the measured loop
        class Planted:
            ops = 1

            def op(self, spark, tracer):
                return 1.0, 1, 1.0, ["planted wrong answer"]

        m = run.measure(Planted(), spark, off)
        counted = m["failed"] == m["attempted"] >= 1 and not m["ops"]
        lines.append(("PASS" if counted else "FAIL") + f"  measure counts gate failures: {m['failed']}/{m['attempted']}")
        ok &= counted
    finally:
        if spark is not None:
            spark.stop()
        run.stop_jvm()
        shutil.rmtree(out, ignore_errors=True)
    print("\n".join(lines))
    print("selftest:", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
