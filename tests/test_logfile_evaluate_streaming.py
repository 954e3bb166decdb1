"""Raw-logfile source (S1/S2), grouping-accuracy evaluator (A6), and the
Structured Streaming pipeline variant."""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from logparser_spark.config import PipelineConfig
from logparser_spark.operators.evaluate import grouping_accuracy, grouping_accuracy_sql
from logparser_spark.operators.mine import mine_templates
from logparser_spark.sources.logfile import compile_log_format, read_log_file
from logparser_spark.sources.transcripts import transcripts_df
from logparser_spark.streaming.stream import TRANSCRIPT_SCHEMA, run_streaming_pipeline

LOG_FORMAT = "<Date> <Time> <Pid> <Level> <Component>: <Content>"
LINES = [
    "081109 203518 143 INFO dfs.DataNode$DataXceiver: Receiving block blk_-1608999687919862906 src: /10.250.19.102:54106",
    "081109 203518 35 INFO dfs.FSNamesystem: BLOCK* NameSystem.allocateBlock: /mnt/hadoop/x.jar. blk_-1608999687919862906",
    "081109 204005 35 INFO dfs.FSNamesystem: BLOCK* NameSystem.addStoredBlock: blockMap updated",
    "this line does not match the format",
]


def test_compile_log_format():
    headers, rx = compile_log_format(LOG_FORMAT)
    assert headers == ["Date", "Time", "Pid", "Level", "Component", "Content"]
    import re

    m = re.match(rx, LINES[0])
    assert m and m.group(1) == "081109" and m.group(4) == "INFO"
    assert m.group(6).startswith("Receiving block")


def test_read_log_file(spark):
    d = tempfile.mkdtemp()
    try:
        path = os.path.join(d, "test.log")
        with open(path, "w") as f:
            f.write("\n".join(LINES) + "\n")
        df = read_log_file(spark, path, LOG_FORMAT)
        rows = df.orderBy("LineId").collect()
        assert [r["LineId"] for r in rows] == [1, 2, 3, 4]
        assert rows[0]["Level"] == "INFO"
        assert rows[0]["Content"].startswith("Receiving block")
        # unmatched line flagged, not dropped (dead-letter policy)
        assert [r["_corrupt"] for r in rows] == [False, False, False, True]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_line_id_scale_safe_across_splits(spark):
    """LineId must equal the 1-based file line number with the input split
    into many partitions, and the plan must not single-partition-sort the
    data (r1 finding: global row_number window)."""
    d = tempfile.mkdtemp()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        path = os.path.join(d, "big.log")
        n = 5000
        with open(path, "w") as f:
            for i in range(1, n + 1):
                f.write(f"081109 203518 {i} INFO dfs.Comp: line number {i} payload\n")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        # the input scan really is split (the output partitioning is
        # AQE-coalesced and says nothing about the scan)
        assert spark.read.text(path).rdd.getNumPartitions() > 4
        df = read_log_file(spark, path, LOG_FORMAT)
        rows = df.select("LineId", "Pid").collect()
        assert len(rows) == n
        assert all(int(r["Pid"]) == r["LineId"] for r in rows)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the row_number window is partitioned by the input split — the
        # only SinglePartition exchange allowed is over the KB-sized
        # per-partition counts relation (below the broadcast offsets join)
        import re as _re

        for wline in [ln for ln in plan.splitlines() if "row_number()" in ln]:
            assert "windowspecdefinition(_file" in wline, wline
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        shutil.rmtree(d, ignore_errors=True)


def test_line_id_multi_file_directory(spark):
    """Directory input: LineId numbers the path-sorted concatenation of
    the files, regardless of Spark packing splits by size DESC (a larger
    later-named file must not grab the first ids)."""
    d = tempfile.mkdtemp()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # a.log is SMALL, b.log is LARGE and split into several
        # partitions: size-desc packing puts b's splits first, so a
        # partition-id-only offset scheme would misnumber a.log.
        # c.log sorts AFTER the large file (path order a < b < c while
        # size order is b > a > c) and is small enough to be packed
        # into the same partition as other small files.
        sizes = {"a.log": 7, "b.log": 4000, "c.log": 5}
        for name, n in sizes.items():
            with open(os.path.join(d, name), "w") as f:
                for i in range(1, n + 1):
                    f.write(
                        f"081109 203518 {i} INFO dfs.Comp: f={name} line {i} pay\n"
                    )
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        df = read_log_file(spark, d, LOG_FORMAT)
        rows = df.select("LineId", "Pid", "Content").collect()
        assert len(rows) == sum(sizes.values())
        expected = {}  # LineId -> (file, in-file line)
        lid = 1
        for name in sorted(sizes):  # path-sorted concatenation
            for i in range(1, sizes[name] + 1):
                expected[lid] = (name, i)
                lid += 1
        for r in rows:
            name, i = expected[r["LineId"]]
            assert int(r["Pid"]) == i, (r["LineId"], name, i, r["Pid"])
            assert f"f={name} " in r["Content"], (r["LineId"], r["Content"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        shutil.rmtree(d, ignore_errors=True)


def test_grouping_accuracy_perfect_and_known(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")], "gt string, pred string"
    )
    r = grouping_accuracy(df, "gt", "pred").first()
    assert (r["precision"], r["recall"], r["f1"], r["parsing_accuracy"]) == (1.0, 1.0, 1.0, 1.0)

    # one line of group b mis-assigned into x
    df2 = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "y")],
        "gt string, pred string",
    )
    r2 = grouping_accuracy(df2, "gt", "pred").first()
    # gt pairs: C(2,2)+C(3,2)=1+3=4 ; pred pairs: C(3,2)+C(2,2)=4 ;
    # true pairs: (a,x):1 + (b,y):1 = 2
    assert r2["precision"] == 0.5 and r2["recall"] == 0.5
    assert r2["parsing_accuracy"] == 0.0


def test_grouping_accuracy_matches_sql_twin(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("c", "z")],
        "gt string, pred string",
    )
    got = grouping_accuracy(df, "gt", "pred").toPandas()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (gt VARCHAR, pred VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", df.collect())
    want = con.execute(grouping_accuracy_sql("t", "gt", "pred")).df()
    assert got.to_dict("records") == want.to_dict("records")


def test_streaming_sessionize_stateful(spark):
    """applyInPandasWithState sessionizer: in-batch gap closures emit
    immediately; open sessions survive in state and flush via event-time
    timeout when a later batch advances the watermark."""
    from datetime import datetime, timedelta

    from logparser_spark.streaming.stream import streaming_sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows1 = [
        ("A", t0),
        ("A", t0 + timedelta(minutes=10)),   # same session
        ("A", t0 + timedelta(minutes=50)),   # 40 min gap → closes s1
        ("A", t0 + timedelta(minutes=60)),   # same session as 50m
        ("B", t0 + timedelta(minutes=5)),    # single-event open session
    ]
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        spark.createDataFrame(rows1, "conv_id string, ts timestamp").coalesce(1) \
            .write.mode("append").parquet(in_path)

        def run_once():
            stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(in_path)
            q = (
                streaming_sessionize(stream, gap_minutes=30, watermark="1 minute")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                (r["conv_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.read.parquet(out_path).collect()
            }

        got1 = run_once()
        # the in-batch gap closure emits A's first session; availableNow
        # then fires a timer batch at watermark t0+59m, which flushes
        # B's session (timeout t0+35m) but not A's open one (t0+90m)
        assert got1 == {
            ("A", t0, t0 + timedelta(minutes=10), 2),
            ("B", t0 + timedelta(minutes=5), t0 + timedelta(minutes=5), 1),
        }

        # a far-future event advances the watermark past both open
        # sessions' timeouts → they flush without any event of their own
        spark.createDataFrame(
            [("C", t0 + timedelta(hours=12))], "conv_id string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(in_path)
        got2 = run_once()
        assert got2 == {
            ("A", t0, t0 + timedelta(minutes=10), 2),
            ("A", t0 + timedelta(minutes=50), t0 + timedelta(minutes=60), 2),
            ("B", t0 + timedelta(minutes=5), t0 + timedelta(minutes=5), 1),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_sessionize_late_arrivals(spark):
    """Cross-batch late events (above the watermark) must merge into the
    open session by extending its bounds — never shrinking session_end or
    mis-setting the event-time timeout; a late event more than a gap
    before the session start closes as its own singleton."""
    from datetime import datetime, timedelta

    from logparser_spark.streaming.stream import streaming_sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    m = lambda mins: t0 + timedelta(minutes=mins)  # noqa: E731
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))

        def run_once():
            stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(in_path)
            q = (
                streaming_sessionize(stream, gap_minutes=30, watermark="2 hours")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                (r["conv_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.read.parquet(out_path).collect()
            }

        # batch 1: open session A = [40m, 60m], n=2
        spark.createDataFrame(
            [("A", m(40)), ("A", m(60))], "conv_id string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(in_path)
        assert run_once() == set()

        # batch 2, all LATE (watermark after batch 1 is far in the past):
        #  t0      → 40m ahead of session start, beyond the 30m gap →
        #            closed singleton
        #  t0+35m  → within a gap before start → extends session backwards
        #  t0+50m  → inside the session span → merges, bounds unchanged
        spark.createDataFrame(
            [("A", m(0)), ("A", m(35)), ("A", m(50))],
            "conv_id string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(in_path)
        got2 = run_once()
        assert got2 == {("A", m(0), m(0), 1)}

        # batch 3: far-future event advances the watermark past A's
        # timeout (60m + 30m) → the merged open session flushes with the
        # extended bounds and all four merged events counted
        spark.createDataFrame(
            [("C", t0 + timedelta(hours=12))], "conv_id string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(in_path)
        got3 = run_once()
        assert got3 == {("A", m(0), m(0), 1), ("A", m(35), m(60), 4)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_sessionize_closed_match_batch(spark):
    """Closed streaming sessions equal the batch sessionize summary minus
    each key's final (still-open) session."""
    from datetime import datetime, timedelta

    from logparser_spark.operators.sessions import sessionize
    from logparser_spark.streaming.stream import streaming_sessionize

    t0 = datetime(2024, 1, 1)
    rows = []
    for k in range(6):
        t = t0 + timedelta(minutes=7 * k)
        for i in range(20):
            gap = 45 if (i * (k + 3)) % 5 == 0 and i else (i * (k + 1)) % 9
            t = t + timedelta(minutes=gap)
            rows.append((f"c{k}", t))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")

    batch = (
        sessionize(df, "conv_id", "ts", 30)
        .groupBy("conv_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bp = batch.toPandas()
    # expected emissions: every session except a conv's final one whose
    # event-time timeout (end + gap) is still beyond the final watermark
    # (availableNow ends with a timer batch at max_ts - watermark_delay)
    wm = bp["session_end"].max() - pd.Timedelta(minutes=1)
    last_idx = set(bp.groupby("conv_id")["session_id"].idxmax())
    closed_batch = {
        (r.conv_id, r.session_start, r.session_end, r.n_events)
        for r in bp.itertuples()
        if not (
            r.Index in last_idx
            and r.session_end + pd.Timedelta(minutes=30) > wm
        )
    }

    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        df.coalesce(1).write.parquet(in_path)
        stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(in_path)
        q = (
            streaming_sessionize(stream, gap_minutes=30, watermark="1 minute")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["conv_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.read.parquet(out_path).collect()
        }
        assert got == closed_batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_pipeline_matches_batch(spark):
    cfg = PipelineConfig(num_partitions=4)
    tdf = transcripts_df(spark, 2000, 20, 0)
    clusters = mine_templates(tdf, cfg)

    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        tdf.write.parquet(in_path)
        q = run_streaming_pipeline(spark, in_path, out_path, ckpt, clusters, cfg)
        q.awaitTermination(120)

        got = spark.read.parquet(out_path)
        # batch equivalent over the same input
        from logparser_spark.streaming.stream import streaming_assign

        routed = streaming_assign(spark.read.parquet(in_path), clusters, cfg)
        batch = routed.groupBy(
            F.window("ts", cfg.window_duration)["start"].alias("win_start"),
            "sink_id",
            "event_id",
        ).agg(F.count(F.lit(1)).alias("n_turns"))

        # append mode emits only watermark-closed windows → emitted rows
        # must be a consistent subset of the batch result
        merged = got.join(
            batch.withColumnRenamed("n_turns", "n_batch"),
            ["win_start", "sink_id", "event_id"],
            "inner",
        )
        assert merged.count() == got.count()
        assert merged.filter("n_turns <> n_batch").count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_route_write_matches_batch_and_resumes(spark):
    """Streaming fan-out == batch route_write row-for-row (same sinks,
    same rows), and restarting from the same checkpoint over an unchanged
    source appends nothing (exactly-once per committed micro-batch)."""
    from logparser_spark.operators.route import route_write
    from logparser_spark.streaming.stream import (
        streaming_assign,
        streaming_route_write,
    )

    cfg = PipelineConfig(num_partitions=4)
    tdf = transcripts_df(spark, 2000, 20, 0)
    clusters = mine_templates(tdf, cfg)

    d = tempfile.mkdtemp()
    try:
        in_path, s_out, b_out, ckpt = (
            os.path.join(d, x) for x in ("in", "sout", "bout", "ckpt")
        )
        tdf.write.parquet(in_path)

        stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_path)
        q = streaming_route_write(streaming_assign(stream, clusters, cfg), s_out, ckpt)
        q.awaitTermination(120)

        batch_routed = streaming_assign(spark.read.parquet(in_path), clusters, cfg)
        route_write(batch_routed, b_out, cfg)

        got = spark.read.parquet(s_out)
        want = spark.read.parquet(b_out)
        assert sorted(got.columns) == sorted(want.columns)
        cols = sorted(got.columns)
        assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
        assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0
        # per-sink directory layout matches (incl. dead if any)
        sinks = lambda p: {  # noqa: E731
            n for n in os.listdir(p) if n.startswith("sink_id=")
        }
        assert sinks(s_out) == sinks(b_out)

        # resume: same checkpoint, unchanged source → no new rows
        n = got.count()
        q2 = streaming_route_write(
            streaming_assign(
                spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_path),
                clusters,
                cfg,
            ),
            s_out,
            ckpt,
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(s_out).count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_assign_uses_the_mining_engine(spark, tmp_path):
    """A LenMa-mined template set streams through LenMa's matcher: the
    streaming assignment equals batch ``assign_templates`` row for row
    (a Drain tree sends about a tenth of these rows to the dead sink)."""
    from logparser_spark.operators.assign import assign_templates
    from logparser_spark.streaming.stream import streaming_assign

    cfg = PipelineConfig(num_partitions=4)
    tdf = transcripts_df(spark, 2000, 30, 20)
    clusters = mine_templates(tdf, cfg, strategy="lenma")
    in_path, out_path = str(tmp_path / "in"), str(tmp_path / "out")
    tdf.write.parquet(in_path)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_path)
    q = (
        streaming_assign(stream, clusters, cfg, strategy="lenma")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = ["conv_id", "turn_idx", "template", "event_id", "matched"]
    batch = assign_templates(
        spark.read.parquet(in_path), clusters, cfg.drain, with_params=False,
        strategy="lenma",
    )
    got = spark.read.parquet(out_path).select(*cols)
    assert got.count() == 2000
    assert got.exceptAll(batch.select(*cols)).count() == 0
    assert batch.select(*cols).exceptAll(got).count() == 0


def test_streaming_cms_cells_equal_batch_sketch(spark):
    """A finalized window's streaming CMS cells == the batch sketch over
    that window's rows (cell-wise mergeability across micro-batches)."""
    from logparser_spark.operators.sketches import cms_sketch
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_cms_cells

    tdf = transcripts_df(spark, 3000, 30, 0)
    d = tempfile.mkdtemp()
    in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
    tdf.coalesce(2).write.parquet(in_path)
    stream = spark.readStream.schema(tdf.schema).parquet(in_path)
    q = (
        streaming_cms_cells(stream, "role", "1 hour", "0 seconds", 4, 64)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out_path)
    static = spark.read.parquet(in_path)
    # batch twin: the same grid per window, built by the batch operator
    from pyspark.sql import functions as FF

    from datetime import timedelta

    all_wins = sorted(r["w"] for r in static.select(
        FF.window("ts", "1 hour")["start"].alias("w")).distinct().collect())
    max_ts = static.agg(FF.max("ts")).first()[0]
    # append mode emits a window only once the watermark passes its END;
    # the tail window holding max_ts never finalizes in availableNow
    finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
    emitted = sorted(r["w"] for r in got.select(
        FF.col("win_start").alias("w")).distinct().collect())
    assert emitted == finalized and finalized
    for w in finalized:
        rows = static.filter(FF.window("ts", "1 hour")["start"] == w)
        want = {
            (r["row"], r["col"], r["cnt"])
            for r in cms_sketch(rows, "role", 4, 64).collect()
        }
        have = {
            (r["row"], r["col"], r["cnt"])
            for r in got.filter(FF.col("win_start") == w).collect()
        }
        assert have == want, w
    # grid bound: per window at most depth*width cells
    per_win = got.groupBy("win_start").count().collect()
    assert all(r["count"] <= 4 * 64 for r in per_win)


def test_streaming_hll_cells_equal_batch_registers(spark):
    """A finalized window's streaming HLL registers == the batch
    register table over that window's rows (cell-wise MAX mergeability
    across micro-batches), and state is register-bounded per window."""
    from datetime import timedelta

    from logparser_spark.operators.sketches import hll_registers
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_hll_cells

    tdf = transcripts_df(spark, 3000, 30, 0)
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        tdf.coalesce(2).write.parquet(in_path)
        stream = spark.readStream.schema(tdf.schema).parquet(in_path)
        q = (
            streaming_hll_cells(stream, "conv_id", "1 hour", "0 seconds", log2m=8)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.read.parquet(out_path)
        static = spark.read.parquet(in_path)
        max_ts = static.agg(F.max("ts")).first()[0]
        all_wins = sorted(
            r["w"]
            for r in static.select(
                F.window("ts", "1 hour")["start"].alias("w")
            ).distinct().collect()
        )
        finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
        emitted = sorted(
            r["w"] for r in got.select(F.col("win_start").alias("w"))
            .distinct().collect()
        )
        assert emitted == finalized and finalized
        for w in finalized:
            rows = static.filter(F.window("ts", "1 hour")["start"] == w)
            want = {
                (r["bucket"], r["r"])
                for r in hll_registers(rows, [], "conv_id", 8).collect()
            }
            have = {
                (r["bucket"], r["r"])
                for r in got.filter(F.col("win_start") == w).collect()
            }
            assert have == want, w
        per_win = got.groupBy("win_start").count().collect()
        assert all(r["count"] <= 256 for r in per_win)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_curation_matches_batch(spark):
    """Curation operators (repetition_filter + decontaminate) compose in
    micro-batch mode: the streamed per-doc stats equal the batch result
    row-for-row, and a checkpoint-restart over the unchanged source adds
    nothing (idempotent per-epoch sink)."""
    from logparser_spark.operators.curation import decontaminate
    from logparser_spark.operators.textstats import ngram_repetition
    from logparser_spark.streaming.stream import streaming_curation_write

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 41 == 0).select("text")
    d = tempfile.mkdtemp()
    try:
        in_path, out_path = os.path.join(d, "in"), os.path.join(d, "out")
        # several input files => several micro-batch-visible splits
        docs.repartition(4).write.parquet(in_path)

        stream = spark.readStream.schema("doc_id long, text string").parquet(in_path)
        q = streaming_curation_write(stream, bench, out_path)
        q.awaitTermination(120)

        got = spark.read.parquet(out_path).drop("batch_id")
        want = ngram_repetition(docs).join(
            decontaminate(docs, bench, "doc_id", "text"), "doc_id"
        )
        assert sorted(got.columns) == sorted(want.columns)
        cols = sorted(got.columns)
        assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
        assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0

        # restart over unchanged source: no duplicate rows
        n = got.count()
        q2 = streaming_curation_write(
            spark.readStream.schema("doc_id long, text string").parquet(in_path),
            bench,
            out_path,
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(out_path).count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_quantile_cells_equal_batch_sample(spark):
    """A finalized window's streaming bottom-k cells == the batch
    quantile_sample over that window's rows (bottom-k-of-union
    mergeability via applyInPandasWithState), state bounded at k rows
    per (window, key), and a checkpoint restart emits nothing new."""
    from datetime import timedelta

    from logparser_spark.operators.sketches import quantile_sample
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_quantile_cells

    K = 16
    tdf = transcripts_df(spark, 3000, 30, 0).withColumn(
        "turn_uid", F.concat_ws(":", "conv_id", "turn_idx")
    ).withColumn("text_len", F.length("text"))
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        tdf.coalesce(2).write.parquet(in_path)
        stream = spark.readStream.schema(tdf.schema).parquet(in_path)

        def run():
            q = (
                streaming_quantile_cells(
                    spark.readStream.schema(tdf.schema).parquet(in_path),
                    ["role"], "text_len", "turn_uid",
                    window_minutes=60, watermark="0 seconds", k=K,
                )
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run()
        got = spark.read.parquet(out_path)
        static = spark.read.parquet(in_path)
        max_ts = static.agg(F.max("ts")).first()[0]
        all_wins = sorted(
            r["w"]
            for r in static.select(
                F.window("ts", "1 hour")["start"].alias("w")
            ).distinct().collect()
        )
        finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
        emitted = sorted(
            r["win_start"]
            for r in got.select("win_start").distinct().collect()
        )
        assert emitted == finalized and finalized
        for w in finalized:
            rows = static.filter(F.window("ts", "1 hour")["start"] == w)
            want = {
                (r["role"], r["_rk"], float(r["value"]))
                for r in quantile_sample(
                    rows, ["role"], "text_len", "turn_uid", K
                ).collect()
            }
            have = {
                (r["role"], r["rk"], float(r["value"]))
                for r in got.filter(F.col("win_start") == w).collect()
            }
            assert have == want, w
        # state/output bound: at most k cells per (window, key)
        per = got.groupBy("win_start", "role").count().collect()
        assert all(r["count"] <= K for r in per)
        # restart over the unchanged source: append-mode emits nothing new
        n = got.count()
        run()
        assert spark.read.parquet(out_path).count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_bm25_cells_equal_batch_topk(spark):
    """A finalized window's streaming BM25 cells, finalized through
    bm25_topk_from_cells, equal batch bm25_topk over that window's
    documents EXACTLY (integer micro-scores, identical JVM float
    exprs), shard partials merge transparently, and a checkpoint
    restart emits nothing new."""
    from datetime import timedelta

    from logparser_spark.operators.ranking import bm25_topk, bm25_topk_from_cells
    from logparser_spark.sources.transcripts import transcripts_df
    from logparser_spark.streaming.stream import streaming_bm25_cells

    K = 7
    queries = spark.createDataFrame(
        [("q_cache", "cache miss shard"), ("q_err", "error block terminating")],
        "query_id string, query string",
    )
    q_terms = sorted(
        {t for r in queries.collect() for t in r["query"].split()}
    )
    tdf = transcripts_df(spark, 3000, 30, 0).withColumn(
        "turn_uid", F.concat_ws(":", "conv_id", "turn_idx")
    )
    d = tempfile.mkdtemp()
    try:
        in_path, out_path, ckpt = (os.path.join(d, x) for x in ("in", "out", "ckpt"))
        tdf.coalesce(2).write.parquet(in_path)

        def run():
            q = (
                streaming_bm25_cells(
                    spark.readStream.schema(tdf.schema).parquet(in_path),
                    q_terms,
                    id_col="turn_uid",
                    text_col="text",
                    window_minutes=60,
                    watermark="0 seconds",
                    n_shards=3,
                )
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run()
        cells = spark.read.parquet(out_path)
        static = spark.read.parquet(in_path)
        max_ts = static.agg(F.max("ts")).first()[0]
        all_wins = sorted(
            r["w"]
            for r in static.select(
                F.window("ts", "1 hour")["start"].alias("w")
            ).distinct().collect()
        )
        finalized = [w for w in all_wins if w + timedelta(hours=1) <= max_ts]
        emitted = sorted(
            r["win_start"] for r in cells.select("win_start").distinct().collect()
        )
        assert emitted == finalized and finalized

        got = bm25_topk_from_cells(cells, queries, k=K, id_col="doc_id")
        for w in finalized:
            rows = static.filter(F.window("ts", "1 hour")["start"] == w)
            want = {
                (r["query_id"], r["turn_uid"], r["score_micro"], r["rank"])
                for r in bm25_topk(
                    rows, queries, k=K, id_col="turn_uid"
                ).collect()
            }
            have = {
                (r["query_id"], r["doc_id"], r["score_micro"], r["rank"])
                for r in got.filter(F.col("win_start") == w).collect()
            }
            assert have == want and want, w
        # sentinel accounting: per-window n_docs sums to the window's size
        for w in finalized:
            n = static.filter(F.window("ts", "1 hour")["start"] == w).count()
            s = cells.filter(F.col("win_start") == w).agg(
                F.sum("n_docs")
            ).first()[0]
            assert s == n, (w, s, n)
        # restart over the unchanged source: append-mode emits nothing new
        n = cells.count()
        run()
        assert spark.read.parquet(out_path).count() == n
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_dedup_admission_fails_on_unreadable_corpus(spark, tmp_path):
    """Only a missing corpus reads as empty.  A corpus that exists but
    cannot be read (here a seeded partition without the text column)
    fails the query instead of admitting every duplicate; a well-seeded
    corpus rejects all six exact duplicates."""
    from pyspark.errors import StreamingQueryException

    from logparser_spark.streaming.stream import streaming_incremental_dedup_write

    texts = [
        f"seeded document number {w} about adaptive shuffle partitions"
        for w in ("one", "two", "three", "four", "five", "six")
    ]
    schema = "doc_id bigint, text string"
    in_path = str(tmp_path / "in")
    spark.createDataFrame(list(enumerate(texts)), schema).coalesce(1).write.parquet(in_path)

    def admit(seed: str, seed_schema: str) -> list:
        out = str(tmp_path / seed)
        seeded = [(100 + i, t) for i, t in enumerate(texts)]
        spark.createDataFrame(seeded, seed_schema).write.parquet(f"{out}/batch_id=-1")
        q = streaming_incremental_dedup_write(
            spark.readStream.schema(schema).parquet(in_path), out, threshold=0.9
        )
        q.awaitTermination(180)
        return spark.read.parquet(out).filter(F.col("batch_id") == 0).collect()

    with pytest.raises(StreamingQueryException, match="UNRESOLVED_COLUMN"):
        admit("bad", "doc_id bigint, body string")
    assert admit("good", schema) == []


def test_streaming_incremental_dedup_grows_canonical_corpus(spark):
    """Per-delivery ingest dedup: each epoch's admitted set equals batch
    incremental_dedup against the corpus accumulated from the prior
    epochs (exact sequential-oracle equality), cross-epoch and in-epoch
    duplicates are rejected, and a checkpoint restart over the unchanged
    source leaves the corpus byte-identical."""
    from logparser_spark.operators.dedup import incremental_dedup
    from logparser_spark.streaming.stream import streaming_incremental_dedup_write

    schema = "doc_id bigint, text string"
    novel = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen liquor jugs right now",
        "sphinx of black quartz judge my vow said the king",
        "completely novel payload about spark adaptive shuffles",
        "yet more fresh text never seen before anywhere at all",
    ]
    deliveries = [
        # epoch 0: in-batch twins (1, 2) resolve to keeper 1
        [(1, novel[0]), (2, novel[0]), (3, novel[1])],
        # epoch 1: 10 duplicates the admitted 1; 11 is new
        [(10, novel[0]), (11, novel[2])],
        # epoch 2: 20 duplicates epoch-1's 11; 21/22 in-batch twins; 23 new
        [(20, novel[2]), (21, novel[3]), (22, novel[3]), (23, novel[4])],
    ]
    d = tempfile.mkdtemp()
    try:
        in_path, out_path = os.path.join(d, "in"), os.path.join(d, "out")

        def run():
            q = streaming_incremental_dedup_write(
                spark.readStream.schema(schema).parquet(in_path),
                out_path,
                threshold=0.9,
            )
            q.awaitTermination(180)

        corpus_rows: list[tuple] = []
        for epoch, rows in enumerate(deliveries):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(in_path)
            run()
            # sequential batch oracle over the corpus-so-far
            oracle_corpus = (
                spark.createDataFrame(corpus_rows, schema)
                if corpus_rows
                else spark.createDataFrame([], schema)
            )
            want = sorted(
                (r["doc_id"], r["text"])
                for r in incremental_dedup(
                    spark.createDataFrame(rows, schema),
                    oracle_corpus,
                    threshold=0.9,
                ).collect()
            )
            got = sorted(
                (r["doc_id"], r["text"])
                for r in spark.read.parquet(out_path)
                .filter(F.col("batch_id") == epoch)
                .select("doc_id", "text")
                .collect()
            )
            assert got == want, (epoch, got, want)
            corpus_rows.extend(want)

        final = sorted(
            r["doc_id"] for r in spark.read.parquet(out_path).collect()
        )
        assert final == [1, 3, 11, 21, 23]

        # restart over the unchanged source: corpus unchanged
        run()
        again = sorted(
            r["doc_id"] for r in spark.read.parquet(out_path).collect()
        )
        assert again == final

        # true at-least-once REPLAY (crash between write and commit):
        # drop the last epoch's commit marker so Spark reprocesses it —
        # the replayed epoch's output already sits in the corpus, and
        # the batch_id < epoch bound must keep it from rejecting its own
        # survivors as duplicates of themselves
        os.remove(os.path.join(out_path + "_ckpt", "commits", "2"))
        # the local checksum FS keeps a .crc sidecar; a stale one makes
        # the replayed commit's rename fail, which a real crash between
        # write and commit would never leave behind
        os.remove(os.path.join(out_path + "_ckpt", "commits", ".2.crc"))
        run()
        replayed = sorted(
            r["doc_id"] for r in spark.read.parquet(out_path).collect()
        )
        assert replayed == final
    finally:
        shutil.rmtree(d, ignore_errors=True)
