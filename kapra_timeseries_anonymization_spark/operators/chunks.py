"""Gorilla chunk operators: series <-> compressed binary chunk structs.

Chunk row = (keys..., tier, chunk_idx, t_start, t_end, n_points, n_bytes,
payload:binary, watermark:timestamp) — the storage unit of the retention
engine (BASELINE north_star: "per-partition byte-array chunk structs").

Compression is a grouped Arrow UDF: each (keys..., chunk_idx) group
reaches Python as one `pyarrow.Table`, is sorted by (ts, value) in numpy
and encoded by `encode_chunk`, with no pandas frame per chunk.

Scale/skew stance: chunk_idx is a tumbling time bucket, so a pathologically
long conversation is split across many bounded chunks instead of one giant
group and no salting is needed here (the time axis IS the salt).
Decompression is a mapInArrow pass (pure per-chunk fan-out, no shuffle at
all): payloads decode into numpy arrays, the key columns are expanded with
one Arrow take per batch, and no pandas frame is built.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.gorilla import decode_chunk, encode_chunk


def _us(ts_col: str):
    # TIMESTAMP_NTZ -> TIMESTAMP is exact under the session's fixed UTC tz
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def compress_chunks(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    chunk_interval_sec: int = 86400,
    tier: str = "raw",
) -> DataFrame:
    """events/points -> one Gorilla chunk per (keys, tumbling time bucket)."""
    interval_us = int(chunk_interval_sec) * 1_000_000
    # exact integral floor division (ADVICE r04): floor(double-quotient)
    # diverges from integer // for timestamps approaching 2^52 us, which
    # would desync the bucket rule from the DuckDB oracle's exact `//`.
    # (x - pmod(x, i)) is an exact multiple of i, so DIV of it is the
    # floor quotient in pure long arithmetic at any magnitude/sign.
    src = df.select(
        *keys,
        _us(ts_col).alias("_ts_us"),
        F.col(value_col).cast("double").alias("_v"),
    ).withColumn(
        "chunk_idx",
        F.expr(
            f"(_ts_us - pmod(_ts_us, {interval_us}L)) DIV {interval_us}L"
        ).cast("long"),
    )

    key_fields = [df.schema[k] for k in keys]
    out_schema = T.StructType(
        [*key_fields,
         T.StructField("tier", T.StringType()),
         T.StructField("chunk_idx", T.LongType()),
         T.StructField("t_start", T.LongType()),
         T.StructField("t_end", T.LongType()),
         T.StructField("n_points", T.LongType()),
         T.StructField("n_bytes", T.LongType()),
         T.StructField("payload", T.BinaryType()),
         T.StructField("watermark", T.TimestampType())]
    )

    group = [*keys, "chunk_idx"]
    arrow_schema = to_arrow_schema(out_schema)

    def encode(key: tuple, table: pa.Table) -> pa.Table:
        ts = table.column("_ts_us").to_numpy()
        vals = table.column("_v").to_numpy()  # nulls -> NaN
        # (ts, value) order, NaN last: the payload bytes depend on it
        order = np.lexsort((vals, ts))
        ts, vals = ts[order], vals[order]
        payload = encode_chunk(ts, vals)
        row = {c: k.as_py() for c, k in zip(group, key)}
        row.update(
            tier=tier, t_start=int(ts[0]), t_end=int(ts[-1]),
            n_points=len(ts), n_bytes=len(payload), payload=payload,
            watermark=int(ts[-1]),
        )
        return pa.Table.from_pylist([row], schema=arrow_schema)

    return src.groupBy(*group).applyInArrow(encode, out_schema)


def decompress_chunks(
    chunks: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """chunks -> points. No shuffle: each chunk row expands independently."""
    key_fields = [chunks.schema[k] for k in keys]
    out_schema = T.StructType(
        [*key_fields,
         T.StructField(ts_col, T.TimestampType()),
         T.StructField(value_col, T.DoubleType())]
    )

    arrow_schema = to_arrow_schema(out_schema)

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # one python iteration per CHUNK; the per-point work is
            # vectorized in decode_chunk, and the key columns are
            # expanded by one Arrow take per batch
            decoded = [decode_chunk(p)
                       for p in batch.column("payload").to_pylist()]
            lens = [len(ts) for ts, _ in decoded]
            rows = pa.array(np.repeat(np.arange(batch.num_rows), lens))
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(k).take(rows) for k in keys),
                 pa.array(np.concatenate([ts for ts, _ in decoded]),
                          type=arrow_schema.field(ts_col).type),
                 # NaN -> null, as the compressor stored nulls as NaN
                 pa.array(np.concatenate([v for _, v in decoded]),
                          from_pandas=True)],
                schema=arrow_schema)

    return chunks.select(*keys, "payload").mapInArrow(decode, out_schema)


def chunk_stats(chunks: DataFrame, keys: list[str] = ()) -> DataFrame:
    """Compression accounting per key (or global): points, bytes,
    bytes/point vs the raw 16 B/point floor."""
    g = chunks.groupBy(*keys) if keys else chunks.groupBy()
    return g.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_points").alias("n_points"),
        F.sum("n_bytes").alias("n_bytes"),
        F.round(F.sum("n_bytes") / F.sum("n_points"), 4).alias("bytes_per_point"),
        F.round(
            F.lit(16.0) * F.sum("n_points") / F.sum("n_bytes"), 4
        ).alias("compression_x"),
    )
