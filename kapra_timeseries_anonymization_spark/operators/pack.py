"""Sequence packing: place documents into fixed-capacity context windows.

LLM pretraining does not feed one document per sequence — documents are
laid out in a deterministic stream order, concatenated, and the stream is
chunked into fixed-size context windows ("concat-then-chunk" packing; a
document may straddle a window boundary). The operator computes, for
every document, its byte/token interval in the packed stream and the
first/last window it lands in — the metadata a packing dataloader needs,
for a 100 TB corpus, without ever materializing the stream.

The whole computation is ONE distributed prefix-sum over the corpus in
hash order (operators/rank.py `distributed_running_total`): range
partition by the order key, per-partition cumulative sum, broadcast
per-partition offsets. No single-task stage, no UDF; the order key is
md5(doc key), so the layout is a pure function of the data (same
reproducibility argument as operators/sample.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rank import distributed_running_total


def pack_offsets(
    df: DataFrame,
    key_col: str,
    size_col: str,
    capacity: int,
) -> DataFrame:
    """(key, size, start_off, end_off, first_bin, last_bin) for
    concat-then-chunk packing into windows of ``capacity`` units, in
    deterministic md5(key) stream order. ``end_off`` is exclusive;
    ``last_bin`` is the window containing the document's final unit."""
    d = df.select(
        F.col(key_col),
        F.col(size_col).cast("long").alias("_sz"),
        F.md5(F.col(key_col).cast("string")).alias("_h"),
    )
    # hex_key: the order key is md5 hex, so the prefix-sum partitioning is
    # a pure function of the data — no boundary sampling, no persisted
    # intermediate to leak (ADVICE r03: the query path never released it)
    t = distributed_running_total(d, "_h", "_sz", "_end", hex_key=True)
    start = F.col("_end") - F.col("_sz")
    # bins via integral DIV, not floor(double /): double quotients can
    # round up across an integer boundary once offsets pass ~2^52 stream
    # units, silently diverging from the oracle's exact `//` (ADVICE r03)
    cap = int(capacity)
    return t.select(
        key_col,
        F.col("_sz").alias("size"),
        start.alias("start_off"),
        F.col("_end").alias("end_off"),
        F.expr(f"(_end - _sz) DIV {cap}").alias("first_bin"),
        F.expr(f"(_end - 1) DIV {cap}").alias("last_bin"),
    )
