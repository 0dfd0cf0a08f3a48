"""Seeded input generators and the reference answers computed from them.

Two generators, both pure Python and deterministic in their seed:

- ``Fleet``: one Kafka cluster as a model -- topics with skewed partition
  counts and per-partition produce rates, consumer groups with committed
  offsets, a schema registry. ``FleetClient`` serves it through the
  package's ``ClusterClient`` protocol, so ``collect_snapshot`` sees a
  cluster whose watermarks advance with a time index ``t``. The same model
  renders the unified collector feed (``LAG_SAMPLE_SCHEMA`` rows) for the
  streaming workload, and computes every value the correctness gates
  compare against, without Spark.
- ``make_documents``: documents drawn from the measured sf0.1 length,
  (lang, source) and unigram distributions (``doc_model.json``), with
  planted low-quality documents, exact duplicates and near-duplicates.
"""

from __future__ import annotations

import json
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

CLUSTER = "bench"
REGISTRY = "default"
SCANS_PER_REPORT = 4  # scan 0 (baseline) .. usage.FINAL_SCAN
T0 = datetime(2024, 1, 1)
SCAN_INTERVAL = timedelta(seconds=60)
# stream scans drained while a scan_stream run sets up: the query's first
# micro-batch folds committed offsets into empty keyed state
WARM_KINDS = ["offsets_only"]
WARM_SCANS = len(WARM_KINDS)
# full scans a scan_stream run then measures, one micro-batch each
MEASURED_SCANS = 3

FLEET_SHARES = {
    "empty_topics": 0.08,
    "idle_topics": 0.10,
    "noncompliant_topics": 0.07,
    "internal_topics": 0.03,
    "noncompliant_groups": 0.10,
    "inactive_groups": 0.30,
    "unset_commits": 0.04,
    "ghost_groups": 0.05,
    "orphan_subjects": 0.10,
    "offsets_only_scans": 0.25,
}

DOC_SHARES = {
    "low_quality": 0.10,
    "exact_dups": 0.08,
    "near_dups": 0.08,
}

_DOMAINS = ("orders", "payments", "users", "inventory", "billing", "search")
_KINDS = ("events", "commands", "state", "changelog", "dlq")
_STATES_ACTIVE = ("STABLE", "PREPARING_REBALANCE", "COMPLETING_REBALANCE")
_STATES_INACTIVE = ("EMPTY", "DEAD")


@dataclass
class Topic:
    name: str
    kind: str  # active | idle | empty
    base: list[int]
    rate: list[int]
    retention_ms: int | None
    cleanup_policy: str | None

    @property
    def partitions(self) -> int:
        return len(self.base)

    def watermarks(self, pid: int, t: int) -> tuple[int, int]:
        if self.kind == "empty":
            return 0, 0
        high = self.base[pid] + (self.rate[pid] * t if self.kind == "active" else 0)
        low = high // 4 if self.retention_ms is not None else 0
        return low, high

    def config(self) -> dict[str, str]:
        cfg = {}
        if self.retention_ms is not None:
            cfg["retention.ms"] = str(self.retention_ms)
        if self.cleanup_policy is not None:
            cfg["cleanup.policy"] = self.cleanup_policy
        return cfg


@dataclass
class Group:
    group_id: str
    state: str
    members: int
    topics: list[str]
    # per (topic, partition): lag in units of the partition's rate, or
    # None for an unset (-1) committed offset
    lag_units: dict[tuple[str, int], int | None] = field(default_factory=dict)

    @property
    def active(self) -> bool:
        return self.state not in _STATES_INACTIVE and self.members > 0


class Fleet:
    """One seeded cluster. ``t`` is the collector's time index: scan ``s``
    of report cycle ``c`` reads the cluster at ``t = 4c + s``, and stream
    scan ``k`` at ``t = k``."""

    def __init__(self, seed: int, n_topics: int):
        rng = random.Random(seed)
        self.seed = seed
        n_groups = max(2, n_topics // 2)
        # Every share is an exact count that the seed places: two seeds
        # give fleets of the same size and shape, arranged differently.
        naming = _exact(rng, n_topics, {
            "internal": FLEET_SHARES["internal_topics"],
            "noncompliant": FLEET_SHARES["noncompliant_topics"],
        }, "compliant")
        kinds = _exact(rng, n_topics, {
            "empty": FLEET_SHARES["empty_topics"],
            "idle": FLEET_SHARES["idle_topics"],
        }, "active")
        # skewed partition counts: stratified quantiles of a Pareto tail
        # capped at 48 partitions, drawn per topic kind (so each kind's
        # partition total is the same for every seed), shuffled
        nparts = [0] * n_topics
        for kind in set(kinds):
            idx = [i for i in range(n_topics) if kinds[i] == kind]
            counts = [_pareto_parts((j + 0.5) / len(idx)) for j in range(len(idx))]
            rng.shuffle(counts)
            for i, c in zip(idx, counts):
                nparts[i] = c
        self.topics: dict[str, Topic] = {}
        for i in range(n_topics):
            domain, kind_word = rng.choice(_DOMAINS), rng.choice(_KINDS)
            name = {
                "internal": f"_internal.{kind_word}.{i:05d}",
                "noncompliant": f"{domain.title()}-{kind_word}-{i:05d}",
                "compliant": f"{domain}.{kind_word}.t{i:05d}",
            }[naming[i]]
            n = nparts[i]
            hot = rng.randrange(n)  # one hot partition per topic
            rate = [rng.randint(1, 50) * (20 if p == hot else 1) for p in range(n)]
            base = [rng.randint(100, 100_000) for _ in range(n)]
            retention = rng.choice((None, None, 3_600_000, 604_800_000))
            cleanup = rng.choice((None, None, None, "compact"))
            self.topics[name] = Topic(name, kinds[i], base, rate, retention, cleanup)

        names = sorted(self.topics)
        consumable = [n for n in names if self.topics[n].kind != "idle"]
        idle = [n for n in names if self.topics[n].kind == "idle"]
        rng.shuffle(consumable)
        rng.shuffle(idle)
        # every consumable topic is read by two groups and every idle one
        # by one inactive group: the committed-offset row count is fixed
        draws = iter(consumable * 2)
        idle_draws = iter(idle)
        inactive = _exact(rng, n_groups, {"inactive": FLEET_SHARES["inactive_groups"]}, "active")
        gnaming = _exact(rng, n_groups, {"bad": FLEET_SHARES["noncompliant_groups"]}, "ok")
        ghosts = _exact(rng, n_groups, {"ghost": FLEET_SHARES["ghost_groups"]}, "")
        self.groups: dict[str, Group] = {}
        for g in range(n_groups):
            gid = f"app_consumer_{g}" if gnaming[g] == "bad" else f"cg-{g}"
            if inactive[g] == "inactive":
                state = rng.choice(_STATES_INACTIVE + ("STABLE",))
                members = 0 if state == "STABLE" else rng.randint(0, 3)
            else:
                state = rng.choice(_STATES_ACTIVE)
                members = rng.randint(1, 6)
            share = len(consumable) * 2 // n_groups + (g < len(consumable) * 2 % n_groups)
            topics = [next(draws) for _ in range(share)]
            # idle topics are consumed only by inactive groups, so they
            # stay in the no_cgs_and_no_new_messages waste category
            spare = next(idle_draws, None) if inactive[g] == "inactive" else None
            if spare is not None:
                topics.append(spare)
            topics = list(dict.fromkeys(topics))
            grp = Group(gid, state, members, topics)
            for tn in topics:
                for p in range(self.topics[tn].partitions):
                    unset = rng.random() < FLEET_SHARES["unset_commits"]
                    grp.lag_units[(tn, p)] = None if unset else rng.randint(0, 3)
            if ghosts[g] == "ghost":
                # committed offsets on a topic the cluster does not list
                # (dropped by the J1 inner join)
                grp.lag_units[(f"ghost.topic.g{g}", 0)] = 1
            self.groups[gid] = grp

        self.subjects: list[tuple[str, str]] = []
        values = _exact(rng, len(names), {"value": 0.6}, "")
        keys = _exact(rng, len(names), {"key": 0.2}, "")
        for tn, v, k in zip(names, values, keys):
            self.subjects += [(REGISTRY, f"{tn}-{x}") for x in (v, k) if x]
        n_orphans = max(1, int(len(self.subjects) * FLEET_SHARES["orphan_subjects"]))
        for i in range(n_orphans):
            self.subjects.append((REGISTRY, f"retired.{rng.choice(_KINDS)}.s{i:04d}-value"))
        self.subject_versions: list[tuple[str, str, int, int]] = []
        self.schemas: list[tuple[str, int, str, str]] = []
        for reg, subj in sorted(self.subjects):
            for v in range(1, rng.randint(1, 3) + 1):
                sid = len(self.schemas) + 1
                self.subject_versions.append((reg, subj, v, sid))
                stype = rng.choice(("AVRO", "JSON", "PROTOBUF"))
                self.schemas.append((reg, sid, stype, json.dumps({"schema_id": sid})))

    # -- the collector's view ---------------------------------------------

    def committed(self, gid: str, topic: str, pid: int, t: int) -> int:
        units = self.groups[gid].lag_units[(topic, pid)]
        if units is None:
            return -1
        tp = self.topics.get(topic)
        if tp is None:
            return 5
        low, high = tp.watermarks(pid, t)
        return max(low, high - units * tp.rate[pid])

    def scan_ts(self, t: int) -> datetime:
        return T0 + t * SCAN_INTERVAL

    # -- reference answers (pure Python, no Spark) -------------------------

    def topic_stats(self, t0: int, t3: int) -> dict[str, tuple[int, int, int, int]]:
        """name -> (partitions, total_messages, new_messages, active_groups)
        over the report window [t0, t3]."""
        active = {}
        for g in self.groups.values():
            if g.active:
                for tn in {tn for tn, _ in g.lag_units}:
                    active[tn] = active.get(tn, 0) + 1
        out = {}
        for tn, tp in self.topics.items():
            total = new = 0
            for p in range(tp.partitions):
                low, high = tp.watermarks(p, t3)
                total += high - low
                new += high - tp.watermarks(p, t0)[1]
            out[tn] = (tp.partitions, total, new, active.get(tn, 0))
        return out

    def lag_rows(self, t: int) -> set[tuple[str, str, int, int]]:
        """(group, topic, partition, lag) at time ``t`` under P11: skip
        zero-message partitions, then break the topic at the first unset
        committed offset."""
        out = set()
        for gid, g in self.groups.items():
            for tn in sorted({tn for tn, _ in g.lag_units}):
                tp = self.topics.get(tn)
                if tp is None:
                    continue
                for p in range(tp.partitions):
                    low, high = tp.watermarks(p, t)
                    if high - low <= 0:
                        continue
                    c = self.committed(gid, tn, p, t)
                    if c < 0:
                        break
                    out.add((gid, tn, p, high - c))
        return out

    def lag_gauges(self, t: int) -> dict[tuple[str, str], int]:
        totals: dict[tuple[str, str], int] = {}
        for gid, tn, _p, lag in self.lag_rows(t):
            totals[(gid, tn)] = totals.get((gid, tn), 0) + lag
        return {k: v for k, v in totals.items() if v != 0}

    def expected_report(self, t0: int, t3: int) -> dict:
        """The report leaves and gauges the report_cycle gate checks."""
        from kafka_overwatch_spark.operators import governance as gov

        stats = self.topic_stats(t0, t3)
        waste = {
            "no_messages": sorted(n for n, s in stats.items() if s[1] == 0),
            "no_messages_topics_with_multiple_partitions": sorted(
                n for n, s in stats.items() if s[1] == 0 and s[0] > 1 and s[3] == 0
            ),
            "no_cgs_and_no_new_messages": sorted(
                n for n, s in stats.items() if s[1] > 0 and s[2] == 0 and s[3] == 0
            ),
        }

        def naming(names, inc, exc):
            ignored = sum(any(re.search(r, n) for r in exc) for n in names)
            bad = sum(
                not any(re.search(r, n) for r in exc)
                and not any(re.search(r, n) for r in inc)
                for n in names
            )
            return len(names), ignored, bad

        unused = sum(
            subj.replace("-value", "").replace("-key", "") not in self.topics
            for _reg, subj in self.subjects
        )
        return {
            "topics": len(stats),
            "partitions": sum(s[0] for s in stats.values()),
            "groups_total": len(self.groups),
            "groups_active": sum(g.active for g in self.groups.values()),
            "waste": waste,
            "topic_naming": naming(
                list(self.topics), gov.TOPIC_INCLUDE_REGEXES, gov.TOPIC_EXCLUDE_REGEXES
            ),
            "group_naming": naming(
                list(self.groups), gov.GROUP_INCLUDE_REGEXES, gov.GROUP_EXCLUDE_REGEXES
            ),
            "sr_subjects": len(self.subjects),
            "sr_unused": unused,
            "lag_gauges": self.lag_gauges(t3),
        }

    # -- the streaming collector feed --------------------------------------

    def scan_kinds(self, n_scans: int) -> list[str]:
        """The warm-up scan drained during set-up carries only committed
        offsets and the measured scans are full, so every run measures
        the same kind of work; later scans carry only committed offsets
        with the seeded share."""
        rng = random.Random(self.seed * 7919 + 1)
        fixed = WARM_KINDS + ["full"] * MEASURED_SCANS
        return fixed + [
            "offsets_only" if rng.random() < FLEET_SHARES["offsets_only_scans"] else "full"
            for _ in range(n_scans - len(fixed))
        ]

    def lag_samples(self, t: int, kind: str) -> list[tuple]:
        """LAG_SAMPLE_SCHEMA rows of stream scan ``t``."""
        ts = self.scan_ts(t)
        rows = []
        if kind == "full":
            for tn, tp in self.topics.items():
                for p in range(tp.partitions):
                    low, high = tp.watermarks(p, t)
                    rows.append((CLUSTER, tn, p, t, low, high, None, None, ts))
        for gid, g in self.groups.items():
            for tn, p in g.lag_units:
                rows.append(
                    (CLUSTER, tn, p, None, None, None, gid, self.committed(gid, tn, p, t), ts)
                )
        return rows

    def shares(self) -> dict:
        return {
            "seed": self.seed,
            "topics": len(self.topics),
            "partitions": sum(tp.partitions for tp in self.topics.values()),
            "groups": len(self.groups),
            "subjects": len(self.subjects),
            "planted": dict(FLEET_SHARES),
            "realised": {
                "empty_topics": sum(tp.kind == "empty" for tp in self.topics.values()),
                "idle_topics": sum(tp.kind == "idle" for tp in self.topics.values()),
                "inactive_groups": sum(not g.active for g in self.groups.values()),
                "unset_commits": sum(
                    u is None for g in self.groups.values() for u in g.lag_units.values()
                ),
            },
        }


def _pareto_parts(q: float) -> int:
    """Partition count at quantile ``q`` of a Pareto(1.1) tail, capped."""
    return min(48, int((1 - q) ** (-1 / 1.1)))


def _exact(rng: random.Random, n: int, shares: dict[str, float], rest: str) -> list[str]:
    """``n`` labels with ``round(share * n)`` of each share, the rest
    ``rest``, in seeded order."""
    labels = [k for k, sh in shares.items() for _ in range(round(sh * n))]
    labels += [rest] * (n - len(labels))
    rng.shuffle(labels)
    return labels


class FleetClient:
    """The fleet behind the package's ``ClusterClient`` protocol, read at
    time index ``t`` (set by the caller before each scan)."""

    def __init__(self, fleet: Fleet):
        self.fleet = fleet
        self.t = 0

    def list_topics(self) -> list[str]:
        return sorted(self.fleet.topics)

    def describe_topic(self, topic: str) -> list[int]:
        return list(range(self.fleet.topics[topic].partitions))

    def topic_config(self, topic: str) -> dict[str, str]:
        return self.fleet.topics[topic].config()

    def watermarks(self, topic: str, partition: int) -> tuple[int, int]:
        return self.fleet.topics[topic].watermarks(partition, self.t)

    def list_groups(self) -> list[str]:
        return sorted(self.fleet.groups)

    def describe_group(self, group_id: str) -> tuple[str, int]:
        g = self.fleet.groups[group_id]
        return g.state, g.members

    def committed_offsets(self, group_id: str) -> list[tuple[str, int, int]]:
        g = self.fleet.groups[group_id]
        return [
            (tn, p, self.fleet.committed(group_id, tn, p, self.t))
            for tn, p in sorted(g.lag_units)
        ]


# -- documents -----------------------------------------------------------

_MODEL = Path(__file__).with_name("doc_model.json")


@dataclass
class Corpus:
    rows: list[tuple[int, str, str, str, int]]  # doc_id, text, lang, source, n_chars
    exact_groups: list[list[int]]  # planted exact-duplicate groups (original first)
    near_dups: list[tuple[int, int]]  # (original, near-duplicate)
    low_quality: list[int]
    shares: dict


def make_documents(seed: int, n_docs: int) -> Corpus:
    model = json.loads(_MODEL.read_text())
    rng = random.Random(seed)
    toks = [t for t, _ in model["unigrams"]]
    tok_w = [n for _, n in model["unigrams"]]
    lens = [n for n, _ in model["lengths"]]
    len_w = [c for _, c in model["lengths"]]
    meta = [(lang, src) for lang, src, _ in model["lang_source"]]
    meta_w = [c for _, _, c in model["lang_source"]]

    n_exact = int(n_docs * DOC_SHARES["exact_dups"])
    n_near = int(n_docs * DOC_SHARES["near_dups"])
    n_low = int(n_docs * DOC_SHARES["low_quality"])
    n_base = n_docs - n_exact - n_near - n_low
    # lengths at stratified quantiles of the measured histogram (the
    # corpus has the same token total for every seed), in seeded order
    cum, edges = 0, []
    for n_len, c in zip(lens, len_w):
        cum += c
        edges.append((cum / sum(len_w), n_len))
    doc_lens = [next(n_len for q, n_len in edges if q >= (j + 0.5) / n_base) for j in range(n_base)]
    rng.shuffle(doc_lens)
    texts = [" ".join(rng.choices(toks, tok_w, k=n)) for n in doc_lens]
    low = []
    for _ in range(n_low):
        # short and punctuation-heavy: scores under the 0.5 quality gate
        n = rng.randint(2, 6)
        low.append(len(texts))
        texts.append(" ".join(rng.choice(("###", "!!", "$$$", "%%")) for _ in range(n)))
    groups: dict[int, list[int]] = {}
    for _ in range(n_exact):
        src = rng.randrange(n_base)
        groups.setdefault(src, [src]).append(len(texts))
        texts.append(texts[src])
    near = []
    for _ in range(n_near):
        src = rng.randrange(n_base)
        words = texts[src].split(" ")
        words[rng.randrange(len(words))] = rng.choices(toks, tok_w)[0]
        near.append((src, len(texts)))
        texts.append(" ".join(words))
    # shuffle ids so planted copies are not a contiguous tail
    perm = list(range(len(texts)))
    rng.shuffle(perm)
    rows = []
    for new_id, old in enumerate(perm):
        lang, src = rng.choices(meta, meta_w)[0]
        rows.append((new_id, texts[old], lang, src, len(texts[old])))
    inv = {old: new for new, old in enumerate(perm)}
    return Corpus(
        rows=rows,
        exact_groups=[[inv[i] for i in g] for g in groups.values()],
        near_dups=[(inv[a], inv[b]) for a, b in near],
        low_quality=[inv[i] for i in low],
        shares={
            "seed": seed,
            "docs": n_docs,
            "planted": dict(DOC_SHARES),
            "realised": {
                "low_quality": len(low),
                "exact_dup_groups": len(groups),
                "near_dups": len(near),
            },
        },
    )
