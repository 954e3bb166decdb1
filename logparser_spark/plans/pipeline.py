"""End-to-end pipeline: parse → enrich → route → aggregate, resumable.

Lifecycle (SURVEY §3.4) — one Spark application, shuffles annotated::

    scan → mask (native regexp, codegen)           no shuffle
         → mine (mapInPandas per conv_id-hash part) shuffle #1 (mining only)
         → merge templates (driver, KBs)            collect (tiny)
         → assign (broadcast tree, Arrow batches)   no shuffle
         → enrich (broadcast joins)                 no shuffle
         → route  (partitionBy fan-out write)       shuffle #2: AQE
                                                     REBALANCE(ckpt_bucket, sink_id)
         → aggregate (two-stage salted counts)      shuffles #3a/#3b

Resume: committed ckpt_buckets are skipped; the frozen template set is
reloaded so routed output across runs is byte-consistent.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.functions.hashing import bucket_expr
from logparser_spark.operators.aggregate import sink_window_counts, turn_window_counts
from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.enrich import enrich
from logparser_spark.operators.mine import mine_templates
from logparser_spark.operators.route import rebalance_by_sink, with_sink_id
from logparser_spark.plans import manifest as M


@dataclass
class PipelineResult:
    out_dir: str
    run_id: str
    n_templates: int
    buckets_done: list[int] = field(default_factory=list)
    buckets_skipped: list[int] = field(default_factory=list)
    routed_rows: int = 0
    wall_sec: float = 0.0

    @property
    def routed_path(self) -> str:
        import os

        return os.path.join(self.out_dir, "routed")


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    lkp_role: DataFrame | None = None,
    lkp_tool: DataFrame | None = None,
    mine_sample_one_in: int = 1,
    fail_after_buckets: int | None = None,
    strategy: str = "drain",
) -> PipelineResult:
    """Run (or resume) the full pipeline into ``out_dir``.

    ``strategy`` names the mining/matching engine (see
    :data:`~logparser_spark.operators.engines.ENGINES`).  It is frozen with
    the template set; resuming an output dir under another engine raises.
    ``fail_after_buckets`` is a test hook: commit only the first k buckets'
    manifests then raise, simulating a mid-run death *after* partial
    output landed (SURVEY §5.2 resume test).
    """
    import os

    cfg = cfg or PipelineConfig()
    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    routed_path = os.path.join(out_dir, "routed")

    if lkp_role is None:
        from logparser_spark.sources.lookups import lkp_role_df

        lkp_role = lkp_role_df(spark)
    if lkp_tool is None:
        from logparser_spark.sources.lookups import lkp_tool_df

        lkp_tool = lkp_tool_df(spark)

    # -- resume bookkeeping -------------------------------------------------
    frozen = M.template_strategy(out_dir)
    if frozen not in (None, strategy):
        raise ValueError(
            f"{out_dir} holds templates mined by {frozen!r}; resuming it with "
            f"strategy={strategy!r} would match them with another engine"
        )
    committed = M.committed_buckets(spark, out_dir)
    all_buckets = set(range(cfg.checkpoint_buckets))
    todo = sorted(all_buckets - committed)
    result = PipelineResult(
        out_dir=out_dir,
        run_id=run_id,
        n_templates=0,
        buckets_skipped=sorted(committed),
    )
    if not todo:
        clusters = M.load_templates(out_dir) or []
        result.n_templates = len(clusters)
        result.routed_rows = spark.read.format(cfg.sink_format).load(routed_path).count()
        result.wall_sec = time.time() - t0
        return result

    # -- templates: frozen on first run, reused on resume -------------------
    clusters = M.load_templates(out_dir)
    if clusters is None:
        clusters = mine_templates(
            transcripts, cfg, sample_one_in=mine_sample_one_in, strategy=strategy
        )
        M.save_templates(clusters, out_dir, strategy)
        clusters = M.load_templates(out_dir)  # canonical (sorted) form
    result.n_templates = len(clusters)

    # -- parse → enrich → route over uncommitted buckets only ---------------
    bucketed = transcripts.withColumn(
        "ckpt_bucket", bucket_expr("conv_id", cfg.checkpoint_buckets).cast("int")
    )
    pending = bucketed.filter(F.col("ckpt_bucket").isin([int(b) for b in todo]))

    assigned = assign_templates(pending, clusters, cfg.drain, strategy=strategy)
    enriched = enrich(assigned, lkp_role, lkp_tool)
    routed = with_sink_id(enriched, cfg)
    # dynamic overwrite as a write option, not a session conf: it replaces
    # only the buckets this run writes (a half-written one from a dead run
    # included) and leaves the caller's session untouched
    (
        rebalance_by_sink(routed, cfg, extra_keys=("ckpt_bucket",))
        .write.format(cfg.sink_format)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ckpt_bucket", "sink_id")
        .save(routed_path)
    )

    # -- commit manifests from read-back (ledger describes what's on disk) --
    wall = time.time() - t0
    on_disk = spark.read.format(cfg.sink_format).load(routed_path).filter(
        F.col("ckpt_bucket").isin([int(b) for b in todo])
    )
    commit = todo if fail_after_buckets is None else todo[:fail_after_buckets]
    metrics = M.bucket_metrics(
        on_disk.filter(F.col("ckpt_bucket").isin([int(b) for b in commit])), run_id, wall
    )
    M.write_manifest_rows(metrics, out_dir)
    result.buckets_done = list(commit)
    if fail_after_buckets is not None and len(commit) < len(todo):
        raise RuntimeError(
            f"injected failure after committing {len(commit)}/{len(todo)} buckets"
        )

    result.routed_rows = on_disk.count()
    result.wall_sec = time.time() - t0
    return result


def aggregates_from_routed(spark: SparkSession, result: PipelineResult,
                           cfg: PipelineConfig | None = None) -> tuple[DataFrame, DataFrame]:
    """Final per-sink windowed aggregates over the committed routed table."""
    cfg = cfg or PipelineConfig()
    routed = spark.read.format(cfg.sink_format).load(result.routed_path)
    committed = M.committed_buckets(spark, result.out_dir)
    routed = routed.filter(F.col("ckpt_bucket").isin([int(b) for b in committed]))
    return sink_window_counts(routed, cfg), turn_window_counts(routed, cfg)
