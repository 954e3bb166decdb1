"""Per-partition checkpoint manifest + template artifact.

North_rule: "resume exactly from per-partition checkpoints with lineage
and metrics emitted per partition".  Unit of checkpointing is a
deterministic md5 bucket of ``conv_id`` (``ckpt_bucket``) so the same row
always lands in the same bucket across runs and engines.

Layout under the pipeline output root::

    <out>/routed/ckpt_bucket=N/sink_id=S/*.parquet   (dynamic overwrite)
    <out>/_manifest/*.parquet                        (append-only ledger)
    <out>/_templates.json                            (frozen template set + engine)

A bucket is *committed* iff a manifest row exists for it.  The routed
write uses dynamic partition overwrite, so a bucket that was half-written
when a run died is cleanly replaced on resume, giving exactly-once
per-bucket semantics without a transactional table format.  (On a real
cluster the routed sink would be an Iceberg table and the manifest an
Iceberg snapshot tag — same protocol, different carrier.)

The template set is frozen at first successful mine (atomic
write-then-rename) and *reused* on resume: otherwise a resumed run could
mine a slightly different template set and route the remaining buckets
inconsistently.  The engine that mined it is frozen with it, and a resume
under another engine fails instead of matching with a different matcher.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparser_spark.drain import Cluster

MANIFEST_SCHEMA = (
    "ckpt_bucket int, run_id string, routed_rows long, dead_rows long, "
    "n_sinks int, n_events int, min_conv string, max_conv string, "
    "checksum long, wall_sec double, committed_at_epoch long"
)


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = _manifest_dir(out_dir)
    if not os.path.exists(path):
        return None
    # a ledger that exists but cannot be read raises: read as "nothing
    # committed" it would re-run every bucket and append duplicate rows
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    m = read_manifest(spark, out_dir)
    if m is None:
        return set()
    return {r["ckpt_bucket"] for r in m.select("ckpt_bucket").distinct().collect()}


def bucket_metrics(routed: DataFrame, run_id: str, wall_sec: float) -> DataFrame:
    """Per-bucket lineage/metrics rows computed from the routed frame
    (call on the *read-back* data so the ledger describes what is truly
    on disk)."""
    key = F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), "event_id")
    return routed.groupBy("ckpt_bucket").agg(
        F.lit(run_id).alias("run_id"),
        F.count(F.lit(1)).alias("routed_rows"),
        F.sum(F.when(F.col("sink_id") == "dead", 1).otherwise(0)).alias("dead_rows"),
        F.countDistinct("sink_id").cast("int").alias("n_sinks"),
        F.countDistinct("event_id").cast("int").alias("n_events"),
        F.min("conv_id").alias("min_conv"),
        F.max("conv_id").alias("max_conv"),
        F.sum(F.crc32(key)).alias("checksum"),
        F.lit(float(wall_sec)).alias("wall_sec"),
        F.lit(int(time.time())).alias("committed_at_epoch"),
    )


def write_manifest_rows(metrics: DataFrame, out_dir: str) -> None:
    metrics.coalesce(1).write.mode("append").parquet(_manifest_dir(out_dir))


def save_templates(clusters: list[Cluster], out_dir: str, strategy: str) -> str:
    """Atomically freeze the mined template set and the engine that mined
    it (idempotent)."""
    path = os.path.join(out_dir, "_templates.json")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    templates = sorted(
        ({"template": c.template, "count": c.count} for c in clusters),
        key=lambda d: d["template"],
    )
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"strategy": strategy, "templates": templates}, f)
    os.replace(tmp, path)
    return path


def _frozen(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, "_templates.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def load_templates(out_dir: str) -> list[Cluster] | None:
    frozen = _frozen(out_dir)
    if frozen is None:
        return None
    return [
        Cluster(tokens=d["template"].split(" "), count=d["count"])
        for d in frozen["templates"]
    ]


def template_strategy(out_dir: str) -> str | None:
    """The engine that mined the frozen template set, if one is frozen."""
    frozen = _frozen(out_dir)
    return None if frozen is None else frozen["strategy"]
