"""Driver-fit guards for the batch mining kernels (VERDICT r2 #3 /
ADVICE r2 lke): a masking-miss corpus (unique masked texts stay
high-cardinality) must fail loudly — never silently collect unbounded
text sets to the driver.  An unknown engine name fails loudly too,
instead of falling through to Drain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logparser_spark.operators.assign import assign_templates
from logparser_spark.operators.mine import mine_templates


def _masking_miss_corpus(spark, n=3000):
    """Texts whose only varying token is alphanumeric-mixed (md5 hex) —
    DEFAULT_REX masks none of it, so every row is a unique masked text."""
    return spark.range(n).select(
        F.concat(F.lit("conv"), F.pmod("id", F.lit(10)).cast("string")).alias(
            "conv_id"
        ),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("op token "), F.md5(F.col("id").cast("string"))).alias(
            "text"
        ),
    )


def test_batch_kernel_unique_cap_errors(spark):
    df = _masking_miss_corpus(spark)
    with pytest.raises(ValueError, match="unique_cap"):
        mine_templates(df, strategy="iplom", unique_cap=500)


def test_unknown_engine_raises(spark):
    # engine names are exact: "Spell" used to mine Drain's template set
    df = _masking_miss_corpus(spark, n=10)
    with pytest.raises(ValueError, match="unknown mining engine 'Spell'.*spell"):
        mine_templates(df, strategy="Spell")
    with pytest.raises(ValueError, match="unknown mining engine 'nope'.*drain"):
        assign_templates(df, [], strategy="nope")


def test_online_kernels_unaffected_by_cap(spark):
    # drain's collect is per-partition template SETS, not texts — the
    # guard must not fire for online kernels even on a miss corpus
    df = _masking_miss_corpus(spark, n=500)
    clusters = mine_templates(df, strategy="drain", unique_cap=10)
    assert sum(c.count for c in clusters) == 500


def test_lke_fit_guard():
    from logparser_spark.lke import LKEParams, lke_fit

    texts = {f"alpha beta{i} gamma": 1 for i in range(6)}
    with pytest.raises(ValueError, match="max_fit_texts"):
        lke_fit(texts, LKEParams(max_fit_texts=5))
    # at or below the cap the fit proceeds
    assert lke_fit(texts, LKEParams(max_fit_texts=6)).clusters
