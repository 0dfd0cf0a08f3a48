"""Correctness gates. Each takes a workload's outputs and the answers the
benchmark computed from its own generated inputs, and returns a list of
problems (empty = correct). They read outputs with plain Python and
pyarrow, never with Spark, so a gate cannot share a defect with the code
it checks."""

from __future__ import annotations

import csv
import json
import re
from pathlib import Path

REPORT_KEYS = {
    "cluster_name",
    "metadata",
    "statistics",
    "estimated_waste",
    "governance",
    "schema_registry",
}

_PROM_LINE = re.compile(r"^(\w+)\{([^}]*)\} (-?\d+)$")
_LABEL = re.compile(r'(\w+)="((?:[^"\\]|\\.)*)"')


def check_report(payload: str, exp: dict) -> list[str]:
    out = []
    try:
        rep = json.loads(payload)
    except ValueError as exc:
        return [f"report: not JSON ({exc})"]
    if set(rep) != REPORT_KEYS:
        return [f"report: top-level keys {sorted(rep)}"]
    st = rep["statistics"]
    for key, want in (("topics", exp["topics"]), ("partitions", exp["partitions"])):
        if st.get(key) != want:
            out.append(f"report: statistics.{key}={st.get(key)} want {want}")
    cg = st.get("consumer_groups") or {}
    if (cg.get("total"), cg.get("active")) != (exp["groups_total"], exp["groups_active"]):
        out.append(
            f"report: consumer_groups={cg} want "
            f"total={exp['groups_total']} active={exp['groups_active']}"
        )
    cats = rep["estimated_waste"].get("topic_categories") or {}
    for cat, names in exp["waste"].items():
        got = cats.get(cat) or {}
        listed = sorted(got.get("topics") or {})
        if listed != names or got.get("topics_count") != len(names):
            out.append(
                f"report: waste {cat} lists {len(listed)} topics "
                f"(count {got.get('topics_count')}), want {len(names)}"
            )
    for block, key in (
        ("topic_naming_convention", "topic_naming"),
        ("consumer_group_naming_convention", "group_naming"),
    ):
        got = rep["governance"].get(block) or {}
        total, ignored, bad = exp[key]
        if (got.get("total"), got.get("total_ignored"), got.get("non_compliant_count")) != (
            total,
            ignored,
            bad,
        ):
            out.append(f"report: {block}={got} want total={total} ignored={ignored} bad={bad}")
    sr = rep["schema_registry"]
    if (sr.get("subjects_count"), sr.get("unused_subjects_count")) != (
        exp["sr_subjects"],
        exp["sr_unused"],
    ):
        out.append(
            f"report: schema_registry subjects={sr.get('subjects_count')} "
            f"unused={sr.get('unused_subjects_count')} want "
            f"{exp['sr_subjects']}/{exp['sr_unused']}"
        )
    return out


def parse_exposition(text: str) -> dict[tuple, int]:
    """(metric, sorted label items) -> value for every sample line."""
    out = {}
    for line in text.splitlines():
        if not line or line.startswith("#"):
            continue
        m = _PROM_LINE.match(line)
        if m is None:
            out[("unparsed", line)] = 0
            continue
        labels = tuple(sorted(_LABEL.findall(m.group(2))))
        out[(m.group(1), labels)] = int(m.group(3))
    return out


def check_prometheus(text: str, exp: dict) -> list[str]:
    got = parse_exposition(text)
    want = {
        ("kafka_topics_total", (("cluster", "bench"),)): exp["topics"],
        ("kafka_partitions_total", (("cluster", "bench"),)): exp["partitions"],
        ("kafka_consumer_groups_total", (("cluster", "bench"),)): exp["groups_total"],
    }
    for (group, topic), lag in exp["lag_gauges"].items():
        labels = tuple(sorted((("cluster", "bench"), ("group", group), ("topic", topic))))
        want[("kafka_consumer_group_lag", labels)] = lag
    if got == want:
        return []
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    wrong = sum(got[k] != v for k, v in want.items() if k in got)
    return [f"prometheus: {missing} gauges missing, {extra} unexpected, {wrong} wrong values"]


def check_topics_csv(csv_dir: Path, exp: dict) -> list[str]:
    parts = sorted(Path(csv_dir).glob("part-*.csv"))
    rows = []
    for p in parts:
        with open(p, newline="") as fh:
            rows += list(csv.DictReader(fh))
    names = sorted(r.get("name") for r in rows)
    if len(rows) != exp["topics"] or len(set(names)) != exp["topics"]:
        return [f"export: {len(rows)} topic rows ({len(set(names))} distinct), want {exp['topics']}"]
    return []


def check_stream_lag(got: list[tuple], want: set[tuple], scan: int) -> list[str]:
    """Rows emitted for ``as_of_scan == scan`` after a full scan: exactly
    the P11 lag rows of every (group, topic, partition) at that scan."""
    if len(got) == len(want) and set(got) == want:
        return []
    g = set(got)
    return [
        f"stream scan {scan}: {len(got)} rows ({len(g - want)} unexpected, "
        f"{len(want - g)} missing, {len(got) - len(g)} repeated), want {len(want)}"
    ]


def check_curation(manifest: dict, out_dir: Path, corpus) -> list[str]:
    """Manifest arithmetic, the written corpus against ``kept``, every
    document accounted for once, and every planted exact-duplicate group
    kept at most once."""
    import pyarrow.dataset as ds

    out = []
    n = len(corpus.rows)
    parts = ("quality_fail", "exact_dup", "fuzzy_dup", "kept")
    if manifest.get("total_docs") != n:
        out.append(f"curation: total_docs={manifest.get('total_docs')} want {n}")
    if sum(manifest.get(k, 0) for k in parts) != n:
        out.append(f"curation: manifest {dict((k, manifest.get(k)) for k in parts)} does not sum to {n}")
    kept = ds.dataset(Path(out_dir) / "corpus", format="parquet", partitioning="hive")
    kept_ids = kept.to_table(columns=["doc_id"]).column("doc_id").to_pylist()
    if len(kept_ids) != manifest.get("kept"):
        out.append(f"curation: corpus has {len(kept_ids)} rows, manifest kept={manifest.get('kept')}")
    rej = ds.dataset(Path(out_dir) / "rejected", format="parquet").to_table()
    rej_ids = rej.column("doc_id").to_pylist()
    seen = kept_ids + rej_ids
    if len(seen) != n or set(seen) != set(range(n)):
        out.append(
            f"curation: {len(kept_ids)} kept + {len(rej_ids)} rejected rows cover "
            f"{len(set(seen))} of {n} documents"
        )
    kept_set = set(kept_ids)
    over = [g for g in corpus.exact_groups if sum(d in kept_set for d in g) > 1]
    if over:
        out.append(f"curation: {len(over)} planted exact-duplicate groups kept more than once")
    low_kept = [d for d in corpus.low_quality if d in kept_set]
    if low_kept:
        out.append(f"curation: {len(low_kept)} planted low-quality documents kept")
    return out
