"""Routing: deterministic sink assignment + one-pass fan-out write.

The reference writes one structured CSV per input file
(``outputResult`` ≈L202–235).  The graft fans rows out to **per-sink
tables by template/role** (north_star): ``sink_id = role × md5-bucket of
event_id``.  Scalability: one job, ``write.partitionBy('sink_id')`` — the
writer splits partitions into per-sink directories in a single pass
instead of k filtered jobs (SURVEY §4.3).  Unmatched/unparseable rows get
the dedicated ``dead`` sink (dead-letter policy, SURVEY §1.2) so counts
always reconcile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.functions.hashing import bucket_expr


def with_sink_id(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    cfg = cfg or PipelineConfig()
    # concat/lpad, not format_string: java.util.Formatter is ~µs/call and
    # this projection runs on every routed row (CLAUDE.md hot-path rule)
    bucket = bucket_expr("event_id", cfg.template_sink_buckets)
    ok = F.concat_ws(
        "-", F.col("role"), F.concat(F.lit("t"), F.lpad(bucket.cast("string"), 2, "0"))
    )
    sink = (
        F.when(~F.col("matched"), F.lit("dead")).otherwise(ok)
        if "matched" in df.columns
        else ok
    )
    return df.withColumn("sink_id", sink)


def rebalance_by_sink(df: DataFrame, cfg: PipelineConfig | None = None,
                      extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """The pre-write exchange of every routed write (batch, resumable job,
    streaming): ``REBALANCE(*extra_keys, sink_id)``.

    Clustering by sink makes each task write ~1 sink directory, so files
    scale with tasks, not tasks × sinks (the dynamic-partition small-file
    explosion).  AQE's rebalance then splits an oversized sink across
    tasks by mapper ranges and coalesces small sinks together, so a
    dominant conversation never pins one write task — the runtime version
    of a fixed ``hash(conv_id, turn_idx)`` sub-bucket, whose hash-packing
    left write tasks empty or at 2× the median (event-log measured
    occupancy 0.80 at 8 slots).  Streaming micro-batches plan the same
    ``AdaptiveSparkPlan`` over the rebalance exchange.

    Without AQE the hint silently degrades to a plain hash on the keys and
    the hot sink lands in one task, so this raises instead.  ``masked`` is
    derived (re-computable from text): it is neither shuffled nor
    persisted.
    """
    if df.sparkSession.conf.get("spark.sql.adaptive.enabled").lower() != "true":
        raise ValueError(
            "routed writes need spark.sql.adaptive.enabled=true: without AQE "
            "the rebalance hint is a plain hash and a hot sink lands in one task"
        )
    if "sink_id" not in df.columns:
        df = with_sink_id(df, cfg)
    if "masked" in df.columns:
        df = df.drop("masked")
    return df.hint("rebalance", *extra_keys, "sink_id")


def route_write(df: DataFrame, path: str, cfg: PipelineConfig | None = None) -> None:
    """One-pass fan-out write: ``partitionBy('sink_id')`` over the
    :func:`rebalance_by_sink` exchange (overwrites ``path``)."""
    cfg = cfg or PipelineConfig()
    (
        rebalance_by_sink(df, cfg).write.format(cfg.sink_format)
        .mode("overwrite")
        .partitionBy("sink_id")
        .save(path)
    )
