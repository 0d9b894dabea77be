"""Envelope (MBR) + Instant Value Loss aggregation — the engine's core UDAF,
expressed as built-in Spark aggregates (no Python in the hot path).

Semantics: reference kapra_utils.py:5-68 — per-timestamp min/max across a
group, VL = sqrt(sum((hi-lo)^2)/T).

Key algebraic fact (exploited by the KAPRA merge phase and the retention
tiers): the envelope is a min/max semilattice — partial per-partition
envelopes merge exactly, so this aggregation is fully map-side combinable
and the merge phase can operate on compact (count, lo[], hi[]) summaries
instead of raw rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _elementwise_agg(values_col: str, t: int, fn) -> Column:
    """array<double> aggregated elementwise over the group -> array<double>.

    Expands to T scalar aggregates — all JVM-side, whole-stage-codegen'd,
    with map-side partial aggregation (each executor pre-reduces its rows
    before the shuffle, so shuffle volume is O(groups * T), not O(rows)).
    """
    return F.array(*[fn(F.col(values_col).getItem(i)) for i in range(t)])


def envelope_agg(
    df: DataFrame, group_cols: list[str], values_col: str, t: int, *extra: Column
) -> DataFrame:
    """Per-group envelope summary: count, lower[], upper[], then ``extra``
    aggregates in the same pass.

    One hash-aggregate shuffle keyed on ``group_cols``; everything stays in
    whole-stage codegen.
    """
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("count"),
        _elementwise_agg(values_col, t, F.min).alias("lower"),
        _elementwise_agg(values_col, t, F.max).alias("upper"),
        *extra,
    )


def merge_envelope_agg(
    df: DataFrame,
    group_cols: list[str],
    t: int,
    *extra: Column,
) -> DataFrame:
    """Second-level merge of already-aggregated envelope summaries (exact:
    min of mins / max of maxes / sum of counts), then ``extra`` aggregates
    in the same pass."""
    return df.groupBy(*group_cols).agg(
        F.sum("count").alias("count"),
        _elementwise_agg("lower", t, F.min).alias("lower"),
        _elementwise_agg("upper", t, F.max).alias("upper"),
        *extra,
    )
