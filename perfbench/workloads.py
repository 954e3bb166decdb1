"""The benchmark's workloads: seeded inputs, one end-to-end *unit* each,
output checks, and the traced variant of the unit.

Inputs are written with pandas/pyarrow before Spark starts, from the
repository's own generator mirror (``transcripts_pdf``, asserted
bit-identical to the distributed ``transcripts_df`` by the test suite), so
the program under test sees only parquet files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logparser_spark.config import DEFAULT_REX, WILDCARD, PipelineConfig
from logparser_spark.functions.hashing import bucket_expr, py_bucket
from logparser_spark.oracle_twin import EXPECTED_TEMPLATES
from logparser_spark.sources.transcripts import N_TEMPLATES, ROLES, transcripts_pdf

from spans import Tracer, group_totals, task_skew

ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])
SKEW_SHARE_PCT = 20  # jobs/run_pipeline.py --synthetic-turns uses the same shape


def n_convs_for(n_turns: int) -> int:
    return max(n_turns // 500, 8)  # as jobs/run_pipeline.py --synthetic-turns


def t_start_for(seed: int, n_turns: int) -> int:
    """Seed → first global turn number.  Kept below 1 % of the input so the
    hot conversation (global turns below the skew cut) keeps ~20 % of the
    turns on every seed while every text's parameters change."""
    return (seed * 7919) % (n_turns // 100 + 1)


def write_transcripts(path: str, n_turns: int, t_start: int, n_files: int) -> dict:
    """Write ``n_turns`` generator rows as ``n_files`` parquet files (in
    global-turn order) and return the input properties the levers depend on."""
    pdf = transcripts_pdf(n_turns, n_convs=n_convs_for(n_turns),
                          skew_share_pct=SKEW_SHARE_PCT, t_start=t_start)
    os.makedirs(path, exist_ok=True)
    per = -(-n_turns // n_files)
    for i in range(n_files):
        part = pdf.iloc[i * per:(i + 1) * per]
        table = pa.Table.from_pandas(part, preserve_index=False)
        table = table.set_column(
            table.schema.get_field_index("ts"), "ts",
            pa.array(part["ts"].values.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        ).cast(ARROW_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    masked = pdf["text"]
    for rx in DEFAULT_REX:
        masked = masked.str.replace(rx, WILDCARD, regex=True)
    return {
        "rows": n_turns,
        "input_mb": sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)) / 1e6,
        "unique_masked_share": masked.nunique() / n_turns,
        "top_conv_share": pdf["conv_id"].value_counts().iloc[0] / n_turns,
    }


def reference_sink_counts(n_turns: int, t_start: int, sink_buckets: int) -> dict[str, int]:
    """Spark-free per-sink row counts: the generator's (role, bank line) per
    global turn, mapped through the ``oracle_twin`` template table and the
    routing rule ``role-tNN`` with NN = md5 bucket of ``md5(template)[:8]``."""
    t = np.arange(t_start, t_start + n_turns, dtype=np.int64)
    skew_cut = n_turns * SKEW_SHARE_PCT // 100
    n_rest = max(n_convs_for(n_turns) - 1, 1)
    conv = np.where(t < skew_cut, 0, 1 + np.mod(t - skew_cut, n_rest))
    key = np.mod(t, 4) * N_TEMPLATES + np.mod(t * 7 + conv, N_TEMPLATES)
    counts = np.bincount(key, minlength=4 * N_TEMPLATES)
    out: dict[str, int] = {}
    for k, c in enumerate(counts):
        if c:
            role, tpl = ROLES[k // N_TEMPLATES], k % N_TEMPLATES
            event_id = hashlib.md5(EXPECTED_TEMPLATES[tpl].encode()).hexdigest()[:8]
            sink = f"{role}-t{py_bucket(event_id, sink_buckets):02d}"
            out[sink] = out.get(sink, 0) + int(c)
    return out


def count_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


class CheckFailed(Exception):
    pass


def expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, expected {want!r}")


@contextmanager
def patched(obj, **replacements):
    old = {k: getattr(obj, k) for k in replacements}
    for k, v in replacements.items():
        setattr(obj, k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            setattr(obj, k, v)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


EVENT_KEYS = ("task_s", "gc_s", "shuffle_write_mb", "spill_mb")


def diff(a: dict, b: dict) -> dict:
    return {k: a[k] - b[k] for k in EVENT_KEYS}


def layer_event_metrics(layer: str, tot: dict) -> dict:
    return {f"{layer}.{k}": tot[k] for k in EVENT_KEYS}


# -- batch: the resumable job ------------------------------------------------

class BatchSkewed:
    """``run_pipeline`` into a fresh output dir plus both
    ``aggregates_from_routed`` frames written, over the generator's
    skewed corpus (20 % of turns in one conversation, 20 templates)."""

    n_turns = 40_000
    warm_turns = 2_000

    def __init__(self, work: str, seed: int, slots: int):
        self.work, self.seed, self.slots = work, seed, slots
        self.cfg = PipelineConfig(num_partitions=2 * slots)  # as jobs/run_pipeline.py
        self.inp = os.path.join(work, "input")
        self.warm_inp = os.path.join(work, "warm_input")
        self.t_start = t_start_for(seed, self.n_turns)
        self._units = 0

    def make_inputs(self) -> dict:
        props = write_transcripts(self.inp, self.n_turns, self.t_start, self.slots)
        write_transcripts(self.warm_inp, self.warm_turns, 0, self.slots)
        self.reference = reference_sink_counts(
            self.n_turns, self.t_start, self.cfg.template_sink_buckets)
        return props

    def setup(self, spark) -> None:
        self._job(spark, self.warm_inp, self._out("warm"))
        shutil.rmtree(self._out("warm"), ignore_errors=True)

    def _out(self, tag) -> str:
        return os.path.join(self.work, f"out-{tag}")

    def _job(self, spark, inp: str, out: str, tracer: Tracer | None = None):
        from logparser_spark.plans.pipeline import aggregates_from_routed, run_pipeline

        res = run_pipeline(spark, spark.read.parquet(inp), out, self.cfg)
        if tracer:
            tracer.enter("aggregate.sink_windows")
        swc, twc = aggregates_from_routed(spark, res, self.cfg)
        swc.write.mode("overwrite").parquet(os.path.join(out, "agg_sink_window"))
        if tracer:
            tracer.enter("aggregate.turn_windows")
        twc.write.mode("overwrite").parquet(os.path.join(out, "agg_turn_window"))
        return res

    def run_unit(self, spark) -> dict:
        """One timed end-to-end run; returns its sample and the check result."""
        self._units += 1
        out = self._out(self._units)
        t0 = time.perf_counter()
        res = self._job(spark, self.inp, out)
        wall = time.perf_counter() - t0
        try:
            sample = {"wall_s": wall, "turns": self.n_turns, "microbatch_s": [wall]}
            sample.update(self.check(spark, res, out))
            return sample
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def check(self, spark, res, out: str) -> dict:
        from pyspark.sql import functions as F

        from logparser_spark.plans import manifest as M

        routed = spark.read.parquet(res.routed_path)
        per_sink = {r["sink_id"]: r["count"] for r in routed.groupBy("sink_id").count().collect()}
        n_routed = sum(per_sink.values())
        man = M.read_manifest(spark, out).agg(
            F.sum("routed_rows").alias("routed"), F.sum("dead_rows").alias("dead")).first()
        n_win = spark.read.parquet(os.path.join(out, "agg_sink_window")).agg(
            F.sum("n_turns")).first()[0]
        expect("pipeline routed_rows == input rows", res.routed_rows, self.n_turns)
        expect("routed table rows == input rows", n_routed, self.n_turns)
        expect("sum(manifest routed_rows) == routed rows", man["routed"], n_routed)
        expect("sum(sink-window n_turns) == routed rows", n_win, n_routed)
        expect("manifest dead_rows == rows in dead sink", man["dead"], per_sink.get("dead", 0))
        expect("per-sink counts == oracle_twin reference", per_sink, self.reference)
        return {"matched_ratio": 1 - per_sink.get("dead", 0) / n_routed,
                "buckets": len(res.buckets_done), "templates": res.n_templates,
                "files": count_files(res.routed_path)}

    # -- traced -------------------------------------------------------------

    def traced(self, spark, tracer: Tracer) -> dict:
        """One traced unit of the real job, then the in-memory prefixes."""
        import logparser_spark.plans.pipeline as P
        from logparser_spark.plans import manifest as M

        out = self._out("traced")
        with patched(P,
                     mine_templates=tracer.around(P.mine_templates, "mine"),
                     with_sink_id=tracer.then(P.with_sink_id, "route")), \
             patched(M,
                     committed_buckets=tracer.around(M.committed_buckets, "manifest"),
                     save_templates=tracer.around(M.save_templates, "manifest"),
                     load_templates=tracer.around(M.load_templates, "manifest"),
                     bucket_metrics=tracer.switch(M.bucket_metrics, "manifest")):
            with tracer.unit("batch_unit") as root:
                tracer.enter("pipeline")
                res = self._job(spark, self.inp, out, tracer)
        e2e = root["end"] - root["start"]
        facts = self.check(spark, res, out)
        clusters = M.load_templates(out)
        shutil.rmtree(out, ignore_errors=True)
        self._prefixes(spark, tracer, clusters)
        return {"e2e_s": e2e, **facts}

    def _prefixes(self, spark, tracer: Tracer, clusters) -> None:
        """scan, + mask, + assign, + enrich, each ending in a ``noop`` write:
        the route job's fused upstream, split by prefix differences."""
        from pyspark.sql import functions as F

        from logparser_spark.operators.assign import assign_templates
        from logparser_spark.operators.enrich import enrich
        from logparser_spark.operators.mine import with_masked
        from logparser_spark.operators.route import with_sink_id
        from logparser_spark.sources.lookups import lkp_role_df, lkp_tool_df

        cfg = self.cfg
        scanned = spark.read.parquet(self.inp).withColumn(
            "ckpt_bucket", bucket_expr("conv_id", cfg.checkpoint_buckets).cast("int"))
        scanned = scanned.filter(F.col("ckpt_bucket").isin(list(range(cfg.checkpoint_buckets))))
        masked = with_masked(scanned, cfg.drain)
        assigned = assign_templates(masked, clusters, cfg.drain)
        enriched = with_sink_id(
            enrich(assigned, lkp_role_df(spark), lkp_tool_df(spark)), cfg).drop("masked")
        with tracer.unit("prefixes"):
            for layer, df in (("sources", scanned), ("masking", masked),
                              ("assign", assigned), ("enrich", enriched)):
                tracer.enter(f"prefix.{layer}")
                noop_write(df)

    def layer_metrics(self, tracer: Tracer, log: dict, facts: dict) -> dict:
        ph = tracer.phase_seconds()
        # the read-back after the routed write lists its partition dirs in a
        # Spark job before bucket_metrics is called: that job is manifest work
        g = {name: group_totals(log, lambda j, name=name: j["group"] == name and
                                not j["description"].startswith("Listing leaf files"))
             for name in ("prefix.sources", "prefix.masking", "prefix.assign",
                          "prefix.enrich", "mine", "route", "manifest",
                          "aggregate.sink_windows", "aggregate.turn_windows")}
        listing = [j for j in log["jobs"].values()
                   if j["group"] == "route" and j["description"].startswith("Listing leaf files")]
        listing_s = sum((j["end"] - j["start"]) / 1e3 for j in listing if j["end"])
        scan = ph.get("prefix.sources", 0.0)
        mask = ph.get("prefix.masking", 0.0) - scan
        assign = ph.get("prefix.assign", 0.0) - ph.get("prefix.masking", 0.0)
        enr = ph.get("prefix.enrich", 0.0) - ph.get("prefix.assign", 0.0)
        route_job = ph.get("route", 0.0) - listing_s
        route_write = route_job - ph.get("prefix.enrich", 0.0)
        mine = ph.get("mine", 0.0)
        manifest = ph.get("manifest", 0.0) + listing_s
        sinkw = ph.get("aggregate.sink_windows", 0.0)
        turnw = ph.get("aggregate.turn_windows", 0.0)
        write_stage = max(g["route"]["stages"], key=lambda s: s["output_bytes"], default=None)
        agg_stages = g["aggregate.sink_windows"]["stages"] + g["aggregate.turn_windows"]["stages"]
        agg_stage = max(agg_stages, key=lambda s: s["run_ms"], default=None)
        agg_tot = {k: g["aggregate.sink_windows"][k] + g["aggregate.turn_windows"][k]
                   for k in EVENT_KEYS}
        layer_sum = scan + mask + assign + enr + route_write + mine + manifest + sinkw + turnw
        m = {
            "sources.scan_s": scan, "masking.mask_s": mask, "assign.assign_s": assign,
            "enrich.enrich_s": enr, "mine.mine_s": mine,
            "mine.templates": facts["templates"], "mine.python_s": g["mine"]["py_run_s"],
            "assign.matched_ratio": facts["matched_ratio"],
            "assign.to_python_mb": g["route"]["py_sent_mb"],
            "assign.from_python_mb": g["route"]["py_back_mb"],
            "assign.python_s": g["route"]["py_run_s"],
            "route.job_s": route_job, "route.write_s": route_write,
            "route.write_stage_s": stage_wall(write_stage),
            "route.task_skew": task_skew(write_stage["tasks"]) if write_stage else 0.0,
            "route.files": facts["files"],
            "manifest.commit_s": manifest, "manifest.buckets": facts["buckets"],
            "aggregate.sink_windows_s": sinkw, "aggregate.turn_windows_s": turnw,
            "aggregate.task_skew": task_skew(agg_stage["tasks"]) if agg_stage else 0.0,
            "trace.layer_sum_s": layer_sum,
            "trace.layer_sum_share": layer_sum / facts["e2e_s"],
        }
        m.update(layer_event_metrics("sources", g["prefix.sources"]))
        m.update(layer_event_metrics("masking", diff(g["prefix.masking"], g["prefix.sources"])))
        m.update(layer_event_metrics("assign", diff(g["prefix.assign"], g["prefix.masking"])))
        m.update(layer_event_metrics("enrich", diff(g["prefix.enrich"], g["prefix.assign"])))
        m.update(layer_event_metrics("mine", g["mine"]))
        m.update(layer_event_metrics("route", diff(g["route"], g["prefix.enrich"])))
        m.update(layer_event_metrics("manifest", g["manifest"]))
        m.update(layer_event_metrics("aggregate", agg_tot))
        m.update(zero_layer("stream"))
        return m


def stage_wall(stage: dict | None) -> float:
    if not stage or stage["submitted"] is None or stage["completed"] is None:
        return 0.0
    return (stage["completed"] - stage["submitted"]) / 1e3


def zero_layer(layer: str) -> dict:
    """Metrics of a layer the workload does not run: it did no work, so
    every time, byte and row count is a measured zero."""
    names = {
        "stream": ("batches", "add_batch_s", "overhead_s", "state_rows", "state_mb"),
        "enrich": ("enrich_s",),
        "manifest": ("commit_s", "buckets"),
        "aggregate": ("sink_windows_s", "turn_windows_s", "task_skew"),
    }[layer]
    m = {f"{layer}.{n}": 0.0 for n in names}
    m.update({f"{layer}.{k}": 0.0 for k in EVENT_KEYS})
    return m


# -- stream: jobs/run_pipeline.py --stream ----------------------------------

def _ts(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


class StreamIngest:
    """``streaming_assign`` → ``streaming_route_write`` beside
    ``streaming_sink_counts`` over the skewed corpus re-cut into files, one
    file per trigger (closed loop: the next file is taken when the previous
    batch commits).  Templates are mined once, in setup."""

    n_files = 12
    per_file = 1_000
    warm_files = 2

    def __init__(self, work: str, seed: int, slots: int):
        self.work, self.seed, self.slots = work, seed, slots
        self.cfg = PipelineConfig(num_partitions=2 * slots)
        self.n_turns = self.n_files * self.per_file
        self.inp = os.path.join(work, "input")
        self.warm_inp = os.path.join(work, "warm_input")
        self.t_start = t_start_for(seed, self.n_turns)
        self._units = 0

    def make_inputs(self) -> dict:
        props = write_transcripts(self.inp, self.n_turns, self.t_start, self.n_files)
        write_transcripts(self.warm_inp, self.warm_files * self.per_file, 0, self.warm_files)
        return props

    def setup(self, spark) -> None:
        from logparser_spark.operators.mine import mine_templates

        self.clusters = mine_templates(spark.read.parquet(self.inp), self.cfg)
        self._stream(spark, self.warm_inp, self._out("warm"))
        shutil.rmtree(self._out("warm"), ignore_errors=True)

    def _out(self, tag) -> str:
        return os.path.join(self.work, f"out-{tag}")

    def _stream(self, spark, inp: str, out: str) -> dict:
        from logparser_spark.streaming.stream import (
            TRANSCRIPT_SCHEMA, streaming_assign, streaming_route_write, streaming_sink_counts)

        # read_transcript_stream plus one file per trigger
        source = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(inp))
        routed = streaming_assign(source, self.clusters, self.cfg)
        q_route = streaming_route_write(
            routed, os.path.join(out, "routed"), os.path.join(out, "_ckpt", "route"), self.cfg)
        q_agg = (streaming_sink_counts(routed, self.cfg)
                 .writeStream.outputMode("append").format("parquet")
                 .option("path", os.path.join(out, "agg_sink_window"))
                 .option("checkpointLocation", os.path.join(out, "_ckpt", "agg"))
                 .trigger(availableNow=True).start())
        queries = {"route": q_route, "agg": q_agg}
        for q in queries.values():
            q.awaitTermination()
        progress = {k: list(q.recentProgress) for k, q in queries.items()}
        ids = {k: str(q.id) for k, q in queries.items()}
        starts = [_ts(p[0]) for p in progress.values() if p]
        ends = [_ts(p[-1]) + p[-1]["durationMs"]["triggerExecution"] / 1e3
                for p in progress.values() if p]
        return {"progress": progress, "ids": ids, "wall_s": max(ends) - min(starts)}

    def run_unit(self, spark) -> dict:
        self._units += 1
        out = self._out(self._units)
        try:
            run = self._stream(spark, self.inp, out)
            return self._sample(spark, run, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _sample(self, spark, run: dict, out: str) -> dict:
        micro = [p["durationMs"]["triggerExecution"] / 1e3
                 for ps in run["progress"].values() for p in ps if p["numInputRows"] > 0]
        sample = {"wall_s": run["wall_s"], "turns": self.n_turns, "microbatch_s": micro}
        n_routed = spark.read.parquet(os.path.join(out, "routed")).count()
        expect("streamed routed rows == input rows", n_routed, self.n_turns)
        return sample

    def traced(self, spark, tracer: Tracer) -> dict:
        from logparser_spark.operators.mine import mine_templates

        out = self._out("traced")
        with tracer.unit("stream_unit") as root:
            tracer.enter("stream")
            run = self._stream(spark, self.inp, out)
        sample = self._sample(spark, run, out)
        routed = spark.read.parquet(os.path.join(out, "routed"))
        dead = routed.filter("sink_id = 'dead'").count()
        facts = {"e2e_s": root["end"] - root["start"], "run": run,
                 "matched_ratio": 1 - dead / self.n_turns,
                 "files": count_files(os.path.join(out, "routed")),
                 "microbatch_s": sample["microbatch_s"]}
        shutil.rmtree(out, ignore_errors=True)
        with tracer.unit("mine"):
            tracer.enter("mine")
            facts["templates"] = len(mine_templates(spark.read.parquet(self.inp), self.cfg))
        self._prefixes(spark, tracer)
        return facts

    def _prefixes(self, spark, tracer: Tracer) -> None:
        from logparser_spark.operators.mine import with_masked
        from logparser_spark.streaming.stream import streaming_assign

        scanned = spark.read.parquet(self.inp)
        masked = with_masked(scanned, self.cfg.drain)
        assigned = streaming_assign(masked, self.clusters, self.cfg)
        with tracer.unit("prefixes"):
            for layer, df in (("sources", scanned), ("masking", masked), ("assign", assigned)):
                tracer.enter(f"prefix.{layer}")
                noop_write(df)

    def layer_metrics(self, tracer: Tracer, log: dict, facts: dict) -> dict:
        ph = tracer.phase_seconds()
        run = facts["run"]
        route_p, agg_p = run["progress"]["route"], run["progress"]["agg"]
        g = {f"prefix.{k}": group_totals(log, lambda j, k=k: j["group"] == f"prefix.{k}")
             for k in ("sources", "masking", "assign")}
        g["mine"] = group_totals(log, lambda j: j["group"] == "mine")
        g["route"] = group_totals(log, lambda j: j["query_id"] == run["ids"]["route"])
        g["stream"] = group_totals(log, lambda j: j["query_id"] == run["ids"]["agg"])

        def dur(ps, key):
            return sum(p["durationMs"].get(key, 0) for p in ps) / 1e3

        scan = ph.get("prefix.sources", 0.0)
        mask = ph.get("prefix.masking", 0.0) - scan
        assign = ph.get("prefix.assign", 0.0) - ph.get("prefix.masking", 0.0)
        route_job = dur(route_p, "addBatch")
        # one write stage per micro-batch: the stage with output bytes
        write_stages = [s for s in g["route"]["stages"] if s["output_bytes"] > 0]
        state = (agg_p[-1].get("stateOperators") or [{}])[0] if agg_p else {}
        busy = sum(dur(ps, "triggerExecution") for ps in (route_p, agg_p))
        walls = sum(_ts(ps[-1]) + ps[-1]["durationMs"]["triggerExecution"] / 1e3 - _ts(ps[0])
                    for ps in (route_p, agg_p) if ps)
        m = {
            "sources.scan_s": scan, "masking.mask_s": mask, "assign.assign_s": assign,
            "mine.mine_s": ph.get("mine", 0.0), "mine.templates": facts["templates"],
            "mine.python_s": g["mine"]["py_run_s"],
            "assign.matched_ratio": facts["matched_ratio"],
            "assign.to_python_mb": g["route"]["py_sent_mb"],
            "assign.from_python_mb": g["route"]["py_back_mb"],
            "assign.python_s": g["route"]["py_run_s"],
            "route.job_s": route_job,
            "route.write_s": route_job - ph.get("prefix.assign", 0.0),
            "route.write_stage_s": sum(stage_wall(s) for s in write_stages),
            "route.task_skew": (statistics.median(task_skew(s["tasks"]) for s in write_stages)
                                if write_stages else 0.0),
            "route.files": facts["files"],
            "stream.batches": sum(1 for ps in (route_p, agg_p) for p in ps
                                  if p["numInputRows"] > 0),
            "stream.add_batch_s": dur(route_p, "addBatch") + dur(agg_p, "addBatch"),
            "stream.overhead_s": busy - dur(route_p, "addBatch") - dur(agg_p, "addBatch"),
            "stream.state_rows": state.get("numRowsTotal", 0),
            "stream.state_mb": state.get("memoryUsedBytes", 0) / 1e6,
            # the two queries run concurrently: coverage is per query
            "trace.layer_sum_s": busy,
            "trace.layer_sum_share": busy / walls if walls else 0.0,
        }
        m.update(layer_event_metrics("sources", g["prefix.sources"]))
        m.update(layer_event_metrics("masking", diff(g["prefix.masking"], g["prefix.sources"])))
        m.update(layer_event_metrics("assign", diff(g["prefix.assign"], g["prefix.masking"])))
        m.update(layer_event_metrics("mine", g["mine"]))
        m.update(layer_event_metrics("route", g["route"]))
        m.update(layer_event_metrics("stream", g["stream"]))
        for layer in ("enrich", "manifest", "aggregate"):
            m.update(zero_layer(layer))
        return m


WORKLOADS = {"batch_skewed": BatchSkewed, "stream_ingest": StreamIngest}
