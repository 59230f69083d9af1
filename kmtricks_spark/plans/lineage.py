"""Per-stage lineage metadata: the resume contract.

kmtricks persists every stage so any (stage, sample, partition) can be
re-run idempotently (kmdir.hpp:195-241, cmd.hpp:74-272). Each stage here
writes its table plus a lineage JSON; it is *complete* iff the lineage
exists, its params match and the table is readable, so a rerun skips it.

Recording a stage starts no Spark job. Where each field comes from:
- output_rows, checksum: metrics observed on the job that writes the stage
  (`observe_stage`); checksum sums xxhash64(columns sorted by name) % 2^31
  over rows, masked to 63 bits, so row order does not matter;
- partitions: rows per part_id from the written files' parquet footers
  (`stage_partition_rows`), None for an unpartitioned stage;
- stage, params, extra keys: the caller; input_rows: None; ts: the clock.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kmtricks_spark.sources.pages import stage_partition_rows

LINEAGE_DIR = "_lineage"


def observe_stage(df: DataFrame, partition_by: list[str] | None = None):
    """(``df`` observing rows and checksum, their Observation). Write it with
    the same ``partition_by``: partition columns hash as the ints read back."""
    cols = [F.col(c).cast("int") if c in (partition_by or ()) else F.col(c)
            for c in sorted(df.columns)]
    obs = Observation()
    checksum = F.sum(F.xxhash64(*cols) % F.lit(2**31)).alias("checksum")
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), checksum), obs


def lineage_path(run_dir: str, stage: str) -> str:
    return os.path.join(run_dir, LINEAGE_DIR, f"{stage}.json")


def write_lineage(
    run_dir: str, stage: str, params: dict[str, Any], obs: Observation,
    part_col: str | None = "part_id", extra: dict | None = None,
) -> dict:
    """Record ``stage`` once `write_stage` has written the frame ``obs`` observes."""
    m = obs.get
    rec = {
        "stage": stage,
        "params": params,
        "input_rows": None,
        "output_rows": m["rows"],
        "partitions": part_col
        and stage_partition_rows(SparkSession.active(), run_dir, stage, part_col),
        "checksum": int(m["checksum"] or 0) & ((1 << 63) - 1),
        "ts": time.time(),
        **(extra or {}),
    }
    os.makedirs(os.path.join(run_dir, LINEAGE_DIR), exist_ok=True)
    with open(lineage_path(run_dir, stage), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    return rec


def read_lineage(run_dir: str, stage: str) -> dict | None:
    p = lineage_path(run_dir, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage_complete(
    spark: SparkSession, run_dir: str, stage: str, params: dict[str, Any]
) -> bool:
    """Complete = lineage exists, params match, table readable — OR the
    stage was explicitly cleaned with its lineage kept (`cli.py clean
    --keep-lineage`, the reference's Eraser semantics: consumed stage
    files are reclaimed and NOT regenerated on resume; a downstream
    stage that still needs the table fails loudly at read)."""
    rec = read_lineage(run_dir, stage)
    if rec is None:
        return False
    if {k: str(v) for k, v in rec["params"].items()} != {k: str(v) for k, v in params.items()}:
        return False
    if rec.get("cleaned"):
        return True
    try:
        spark.read.parquet(os.path.join(run_dir, stage)).schema
        return True
    except Exception:
        return False
