"""Sinks (SURVEY §2.2): DataFrame CSV/JSON exports (K3), topic restore
script (K6), SR backup manifest (K7).

The reference writes single local files via pandas
(`reporting/tools.py:16-61`); at scale the engine writes partitioned
directories via ``df.write`` (works unchanged against ``s3a://`` — K2).
``single_file=True`` coalesces to 1 task for byte-stable small exports,
which is only sane for dim-sized frames — never the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def export_dataframe(
    df: DataFrame, path: str, fmt: str = "csv", single_file: bool = False
) -> None:
    """K3 (`reporting/tools.py:38-61`): CSV or JSON export."""
    if single_file:
        df = df.coalesce(1)
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported export format: {fmt}")


# The trailing connection line of every restore command
# (`overwatch_resources/topics.py:185-188`, verbatim).
_CMD_CONFIG = (
    "--bootstrap-server ${BOOTSTRAP_SERVER} "
    "${CLIENT_CONFIG_PATH+:--command-config CLIENT_CONFIG_PATH}"
)


def restore_commands(snaps: dict[str, DataFrame]) -> DataFrame:
    """K6 (`overwatch_resources/clusters.py:253-278`; per-topic command at
    `overwatch_resources/topics.py:174-191`): a ``kafka-topics.sh
    --create`` command per topic carrying EVERY non-default config as
    ``--config key="value"`` continuation lines (the reference renders
    ``str(ConfigEntry)`` == ``name="value"`` per entry, joined with
    ``" \\\\\\n"``), or the bare create command when the topic has no
    non-default configs. Configs are emitted key-sorted (the reference
    uses broker dict order — not reproducible; documented divergence).
    Pure string building over two dims — concat/array_join, no UDF."""
    # keyed by (cluster, topic): correct even when handed an unfiltered
    # multi-cluster snapshot (topic names are per-cluster namespaces)
    cfg = (
        snaps["topic_configs"]
        .groupBy(F.col("cluster").alias("cfg_cluster"), "topic")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("config_key", "config_value"))
                    ),
                    lambda e: F.concat(
                        F.lit("--config "),
                        e["config_key"],
                        F.lit('="'),
                        e["config_value"],
                        F.lit('"'),
                    ),
                ),
                " \\\n",
            ).alias("configs_str")
        )
    )
    t = snaps["topics"].select("cluster", "name", "partitions")
    base = F.concat(
        F.lit("kafka-topics.sh --create --topic "),
        F.col("name"),
        F.lit(" --partitions "),
        F.col("partitions").cast("string"),
    )
    return t.join(
        F.broadcast(cfg),
        (t.name == cfg.topic) & (t.cluster == cfg.cfg_cluster),
        "left",
    ).select(
        "name",
        F.when(F.col("configs_str").isNull(), base)
        .otherwise(
            F.concat(
                base,
                F.lit(" \\\n"),
                F.col("configs_str"),
                F.lit(" \\\n"),
                F.lit(_CMD_CONFIG),
            )
        )
        .alias("command"),
    )


# Reference script preamble (`overwatch_resources/clusters.py:258-265`).
_RESTORE_HEADER = """#!/usr/bin/env bash

if [ -z ${BOOTSTRAP_SERVER} ]; then
    echo "You must specify the BOOTSTRAP_SERVER environment variable"
    exit 1
fi
"""


def write_restore_script(snaps: dict[str, DataFrame], path: str) -> None:
    """Emit the restore script as one executable file (driver-side
    collect of dim-sized output, like the reference's local file write):
    the reference header, then commands joined by blank lines
    (`clusters.py:267-271`)."""
    rows = restore_commands(snaps).orderBy("name").collect()
    with open(path, "w") as fh:
        fh.write(_RESTORE_HEADER)
        fh.write("\n\n".join(row["command"] for row in rows) + "\n")
