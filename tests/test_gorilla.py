"""Gorilla codec + chunk operators: bit-exact round trips (property-based)
and lossless Spark-side compress->decompress."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from kapra_timeseries_anonymization_spark.functions.gorilla import (
    decode_chunk,
    encode_chunk,
)
from kapra_timeseries_anonymization_spark.operators.chunks import (
    chunk_stats,
    compress_chunks,
    decompress_chunks,
)

finite_or_special = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.sampled_from([0.0, -0.0, float("inf"), float("-inf"), float("nan")]),
)


@given(
    deltas=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=200
    ),
    vals=st.lists(finite_or_special, min_size=0, max_size=200),
)
@settings(max_examples=200, deadline=None)
def test_roundtrip_identity(deltas, vals):
    n = min(len(deltas), len(vals))
    ts = np.cumsum(np.array(deltas[:n], dtype=np.int64))
    v = np.array(vals[:n], dtype=np.float64)
    t2, v2 = decode_chunk(encode_chunk(ts, v))
    assert np.array_equal(ts, t2)
    # bit equality (NaN payloads included)
    assert np.array_equal(v.view(np.uint64), v2.view(np.uint64))


@given(
    ts_vals=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=64,
    ),
    vals=st.lists(finite_or_special, min_size=1, max_size=64),
)
@settings(max_examples=200, deadline=None)
def test_roundtrip_full_int64_range(ts_vals, vals):
    """ADVICE-r01 gate: arbitrary int64 timestamps — deltas/dods span the
    full 65/66-bit range, exercising the mod-2^64 widest-class path that
    the r01 codec silently truncated."""
    n = min(len(ts_vals), len(vals))
    ts = np.array(ts_vals[:n], dtype=np.int64)
    v = np.array(vals[:n], dtype=np.float64)
    t2, v2 = decode_chunk(encode_chunk(ts, v))
    assert np.array_equal(ts, t2)
    assert np.array_equal(v.view(np.uint64), v2.view(np.uint64))


def test_empty_chunk():
    t, v = decode_chunk(encode_chunk(np.array([], np.int64), np.array([], np.float64)))
    assert len(t) == 0 and len(v) == 0


def test_compresses_regular_series():
    n = 10_000
    ts = (np.arange(n) * 1_000_000).astype(np.int64)
    vals = np.full(n, 42.5)
    p = encode_chunk(ts, vals)
    assert len(p) < n * 16 * 0.05  # constant series: >20x better than raw


def test_spark_chunks_lossless(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 500 + ["b"] * 300,
            "ts": pd.to_datetime(
                np.concatenate(
                    [np.arange(500) * 37_000_003, np.arange(300) * 61_000_007]
                ),
                unit="us",
            ),
            "value": np.concatenate(
                [np.sin(np.arange(500) / 3.0), np.arange(300, dtype=float)]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    chunks = compress_chunks(df, ["k"], "ts", "value", chunk_interval_sec=3600)
    back = decompress_chunks(chunks, ["k"]).toPandas()
    a = pdf.sort_values(["k", "ts", "value"]).reset_index(drop=True)
    b = back.sort_values(["k", "ts", "value"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["k"].to_numpy() == b["k"].to_numpy()).all()
    assert np.array_equal(
        a["ts"].astype("int64").to_numpy(), b["ts"].astype("int64").to_numpy()
    )
    assert np.array_equal(a["value"].to_numpy(), b["value"].to_numpy())

    stats = chunk_stats(chunks).first()
    assert stats["n_points"] == 800
    assert stats["bytes_per_point"] < 16.0


def test_chunk_splits_long_key(spark):
    """A long-running key is split across tumbling chunk windows — the
    skew-bounding property (chunk_idx is part of the group key)."""
    pdf = pd.DataFrame(
        {
            "k": ["skew"] * 1000,
            "ts": pd.to_datetime(np.arange(1000) * 60_000_000, unit="us"),
            "value": np.random.default_rng(0).normal(size=1000),
        }
    )
    chunks = compress_chunks(
        spark.createDataFrame(pdf), ["k"], "ts", "value", chunk_interval_sec=3600
    )
    rows = chunks.collect()
    assert len(rows) > 10  # 1000 minutes / 60-min chunks
    assert sum(r["n_points"] for r in rows) == 1000


def test_spark_chunks_across_arrow_batch_boundaries(spark):
    """With 7-row Arrow batches every chunk straddles batches: each payload
    must equal encode_chunk of that chunk's points sorted by (ts, value),
    and no chunk may be split at a batch boundary."""
    rng = np.random.default_rng(7)
    n = 600
    k1 = np.concatenate([rng.choice(["a", "b"], n), ["c"]])
    k2 = np.concatenate([rng.integers(0, 3, n), [9]])
    # a 20-minute grid over two hours: many tied timestamps per chunk
    ts = np.concatenate([rng.integers(0, 6, n), [2]]) * 1_200_000_000
    vals = np.concatenate([rng.integers(0, 4, n), [1]]).astype(float)
    vals[::37] = np.nan  # sorts after every number, as in numpy
    pdf = pd.DataFrame({"k1": k1, "k2": k2,
                        "ts": pd.to_datetime(ts, unit="us"), "value": vals})
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        rows = compress_chunks(
            spark.createDataFrame(pdf), ["k1", "k2"], "ts", "value",
            chunk_interval_sec=3600,
        ).collect()
    finally:
        spark.conf.set(conf, old)

    got = {(r["k1"], r["k2"], r["chunk_idx"]): r for r in rows}
    assert len(got) == len(rows)
    groups = pd.DataFrame({"k1": k1, "k2": k2, "c": ts // 3_600_000_000})
    expected = groups.groupby(["k1", "k2", "c"]).indices
    assert got.keys() == expected.keys()
    for key, idx in expected.items():
        o = np.lexsort((vals[idx], ts[idx]))
        t, v = ts[idx][o], vals[idx][o]
        r = got[key]
        assert bytes(r["payload"]) == encode_chunk(t, v)
        assert (r["t_start"], r["t_end"], r["n_points"]) == (
            t[0], t[-1], len(t))
    assert max(r["n_points"] for r in rows) > 3 * 7 and min(
        r["n_points"] for r in rows) == 1
