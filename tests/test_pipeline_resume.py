"""End-to-end pipeline + checkpoint/resume idempotency (SURVEY §5.2.4)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.plans.manifest import committed_buckets, read_manifest
from logparser_spark.plans.pipeline import aggregates_from_routed, run_pipeline
from logparser_spark.sources.transcripts import transcripts_df

CFG = PipelineConfig(num_partitions=8, checkpoint_buckets=8)
N, CONVS, SKEW = 3000, 40, 30


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts_df(spark, N, CONVS, SKEW).cache()


def _routed_rows(spark, out):
    return (
        spark.read.parquet(f"{out}/routed")
        .select("conv_id", "turn_idx", "event_id", "sink_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def test_full_run_then_noop_resume(spark, tdf):
    out = tempfile.mkdtemp(prefix="pipe_full_")
    try:
        r1 = run_pipeline(spark, tdf, out, CFG)
        assert r1.routed_rows == N
        assert sorted(r1.buckets_done) == list(range(CFG.checkpoint_buckets))
        first = _routed_rows(spark, out)

        # resume over a complete output is a no-op and changes nothing
        r2 = run_pipeline(spark, tdf, out, CFG)
        assert r2.buckets_done == []
        assert r2.buckets_skipped == list(range(CFG.checkpoint_buckets))
        assert _routed_rows(spark, out).equals(first)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_kill_and_resume_is_exact(spark, tdf):
    """A run killed after committing part of its buckets resumes into
    byte-identical routed rows: no dupes, no losses, same templates."""
    ref_out = tempfile.mkdtemp(prefix="pipe_ref_")
    out = tempfile.mkdtemp(prefix="pipe_kill_")
    try:
        run_pipeline(spark, tdf, ref_out, CFG)
        want = _routed_rows(spark, ref_out)

        # die after committing 3 of 8 buckets (output partially on disk)
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, tdf, out, CFG, fail_after_buckets=3)
        assert len(committed_buckets(spark, out)) == 3

        # resume: remaining buckets processed, template set reused
        r2 = run_pipeline(spark, tdf, out, CFG)
        assert len(r2.buckets_done) == 5
        got = _routed_rows(spark, out)
        assert got.equals(want)              # byte-identical routed rows
        assert len(got) == N                 # no dupes, no losses
    finally:
        shutil.rmtree(ref_out, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_resume_under_another_engine_fails(spark, tdf, tmp_path):
    """The frozen template set records its engine: a killed LenMa run
    resumed with Drain raises instead of matching LenMa templates with a
    Drain tree; resumed with LenMa it completes."""
    out = str(tmp_path)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, tdf, out, CFG, fail_after_buckets=3, strategy="lenma")
    with pytest.raises(ValueError, match="'lenma'.*strategy='drain'"):
        run_pipeline(spark, tdf, out, CFG, strategy="drain")
    r = run_pipeline(spark, tdf, out, CFG, strategy="lenma")
    assert len(r.buckets_done) == 5
    assert len(_routed_rows(spark, out)) == N


def test_manifest_lineage_and_metrics(spark, tdf):
    out = tempfile.mkdtemp(prefix="pipe_manifest_")
    try:
        run_pipeline(spark, tdf, out, CFG)
        m = read_manifest(spark, out)
        rows = m.orderBy("ckpt_bucket").collect()
        assert [r["ckpt_bucket"] for r in rows] == list(range(CFG.checkpoint_buckets))
        assert sum(r["routed_rows"] for r in rows) == N
        for r in rows:
            assert r["checksum"] is not None and r["routed_rows"] > 0
            assert r["min_conv"] <= r["max_conv"]
            assert r["wall_sec"] > 0
        # aggregates over committed buckets reconcile with routed rows
        swc, twc = aggregates_from_routed(spark, run_pipeline(spark, tdf, out, CFG), CFG)
        assert twc.agg(F.sum("n_turns")).first()[0] == N
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_run_pipeline_leaves_session_overwrite_mode_alone(spark, tdf, tmp_path):
    """The job's dynamic partition overwrite is an option of its own write:
    the session conf is unchanged, so a later ``route_write`` overwrite
    replaces the whole path instead of keeping sinks it did not write."""
    from logparser_spark.operators.route import route_write

    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf)
    run_pipeline(spark, tdf, str(tmp_path / "job"), CFG)
    assert spark.conf.get(conf) == before

    path, schema = str(tmp_path / "routed"), "conv_id string, turn_idx int, sink_id string"
    route_write(spark.createDataFrame([("c1", 0, "a"), ("c2", 1, "b")], schema), path, CFG)
    route_write(spark.createDataFrame([("c3", 2, "a")], schema), path, CFG)
    assert [(r.conv_id, r.sink_id) for r in spark.read.parquet(path).collect()] == [("c3", "a")]


def test_unreadable_ledger_fails_loudly(spark, tmp_path):
    """A ledger that exists but cannot be listed raises: read as "nothing
    committed" it would re-run every bucket and append duplicate rows.  A
    run killed during its manifest write leaves only a hidden
    ``_temporary`` attempt, which still reads as an empty ledger."""
    ledger = tmp_path / "_manifest"
    attempt = ledger / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (attempt / "part-00000.parquet").write_bytes(b"torn")
    assert committed_buckets(spark, str(tmp_path)) == set()

    # conflicting partition directories: the ledger cannot be listed
    for part, b in (("a=1", 1), ("b=2", 2)):
        spark.createDataFrame([(b,)], "ckpt_bucket int").write.parquet(str(ledger / part))
    with pytest.raises(Exception, match="CONFLICTING_PARTITION_COLUMN_NAMES"):
        committed_buckets(spark, str(tmp_path))
