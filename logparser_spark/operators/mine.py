"""Distributed template mining (U2 in SURVEY §2.10): mine → merge.

The reference's parser is an *online, sequential* loop over every line
(``Drain/Drain.py`` ``parse`` ≈L254–290).  At 10^12 turns that cannot run
on one node, so the graft splits it:

1. **mask** — native ``regexp_replace`` chain (no Python).
2. **partition-local mine** — each partition (conversations co-located by
   ``conv_id`` hash, rows sorted by ``(conv_id, turn_idx)`` for
   determinism) runs the engine's sequential kernel (Drain by default)
   over its Arrow batches inside ``mapInPandas`` and emits only its tiny
   template set.
3. **driver merge** — template sets are KBs; they are merged into one
   global set by canonical-order re-insertion into a fresh tree
   (:func:`logparser_spark.drain.merge_template_sets`), which makes the
   result independent of partition enumeration order.  Batch engines ship
   deduped texts instead and fit once here (see
   :mod:`~logparser_spark.operators.engines`).

Per-row Python exists only *inside* the mining batch operator where the
algorithm is inherently sequential, and is bounded: identical masked texts
are deduplicated per batch before touching the tree, so tree inserts are
O(unique texts), not O(rows).  At full scale mining runs on a bounded
deterministic sample (``sample_one_in``) and assignment runs everywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logparser_spark.config import DrainParams, PipelineConfig
from logparser_spark.functions.hashing import bucket_expr
from logparser_spark.functions.masking import mask_expr
from logparser_spark.operators.engines import engine


def with_masked(df: DataFrame, params: DrainParams) -> DataFrame:
    """Attach the masked text column (pure native expressions)."""
    return df.withColumn("masked", mask_expr("text", params.rex))


def _mine_partition(kernel, params):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # dedup across the whole partition, preserving first-seen order;
        # per-batch factorize + bincount is vectorized (no per-row Python)
        seen: dict[str, int] = {}
        order: list[str] = []
        for pdf in batches:
            codes, uniques = pd.factorize(pdf["masked"])
            counts = np.bincount(codes, minlength=len(uniques))
            for text, cnt in zip(uniques, counts):
                if text in seen:
                    seen[text] += int(cnt)
                else:
                    seen[text] = int(cnt)
                    order.append(text)
        if kernel is None:
            # batch engine: emit the partition's deduped texts and let
            # the driver merge run the one global fit over the union.
            # Collected volume is unique masked texts (KBs–MBs: masking
            # collapses parameters), guarded by ``unique_cap``.
            yield pd.DataFrame(
                {"template": list(seen.keys()), "count": list(seen.values())}
            )
            return
        tree = kernel(params)
        for text in order:
            cluster = tree.add_message(text.split())
            cluster.count += seen[text] - 1
        yield pd.DataFrame(
            {
                "template": [c.template for c in tree.clusters],
                "count": [c.count for c in tree.clusters],
            }
        )

    return fn


def mine_templates(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    sample_one_in: int = 1,
    strategy: str = "drain",
    partition_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    strategy_params=None,
    unique_cap: int | None = 500_000,
) -> list:
    """Mine the global template set from a (already masked or raw) frame.

    ``strategy`` names an engine of
    :data:`~logparser_spark.operators.engines.ENGINES`; ``strategy_params``
    are its params (defaults when ``None``; Drain uses ``cfg.drain``).
    ``sample_one_in > 1`` mines on a deterministic md5-bucket sample of
    ``partition_col`` groups (whole groups, so per-group ordering is
    preserved) — the scale path for 100 TB inputs where the template
    universe saturates long before the data does.  ``partition_col`` /
    ``order_cols`` default to the transcripts keys; log-file inputs use
    ``("LineId",)``.

    ``unique_cap`` guards the batch engines' driver fit: they collect the
    corpus' weighted unique masked TEXTS, which is KB–MB sized when
    masking collapses parameters but unbounded when masking *misses*
    (high-cardinality alphabetic ids, say).  Before collecting, the
    unique-text cardinality is estimated distributively
    (``approx_count_distinct``, one cheap pre-pass) and the mine fails
    loudly above the cap — silently OOMing the driver is never
    acceptable.  ``None`` disables the guard.  Online engines need no
    guard — they collect per-partition *template sets*, which their
    kernels compress regardless of input cardinality.
    """
    eng = engine(strategy)
    cfg = cfg or PipelineConfig()
    params = cfg.drain
    sp = eng.params_for(strategy_params, params)
    if "masked" not in df.columns:
        df = with_masked(df, params)
    src = df
    if sample_one_in > 1:
        src = src.filter(bucket_expr(partition_col, sample_one_in) == 0)
    if eng.kernel is None and unique_cap is not None:
        est = src.agg(F.approx_count_distinct("masked", 0.02).alias("n")).first()["n"]
        if est > unique_cap:
            raise ValueError(
                f"mine_templates[{strategy}]: ~{est:,} unique masked texts "
                f"exceed unique_cap={unique_cap:,} — the batch-engine "
                "driver fit would collect them all. Masking likely misses "
                "this corpus' parameters: extend rex or raise sample_one_in "
                "(unique_cap=None to override)."
            )
    cols = list(dict.fromkeys([*order_cols, "masked"]))
    # Skew guard: partitioning by conv alone puts a dominant conversation
    # (Zipf head) in ONE task, and that straggler becomes the stage time
    # once cores ≫ partitions-per-wave. Long groups are split into
    # ``chunk_turns``-sized chunks (still internally ordered by
    # order_cols), which is safe because mining is canonicalized by the
    # driver merge — per-partition template sets, not row order, define
    # the result.
    chunk_turns = 1024
    part_keys = [F.col(partition_col)]
    if len(order_cols) > 1:
        part_keys.append(F.floor(F.col(order_cols[-1]) / chunk_turns))
    part = (
        src.select(*cols)
        .repartition(cfg.num_partitions, *part_keys)
        .sortWithinPartitions(*order_cols)
    )
    rows = part.mapInPandas(
        _mine_partition(eng.kernel, sp),
        "template string, count long",
    ).collect()
    return eng.merge([[(r["template"], r["count"]) for r in rows]], sp)
