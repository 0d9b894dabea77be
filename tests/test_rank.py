"""distributed_rank == single-task Window.orderBy row_number, exactly;
the sampled strategy's cache is registered with plans/lifetime.py and the
hex-key strategy registers nothing."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kapra_timeseries_anonymization_spark.operators.rank import distributed_rank
from kapra_timeseries_anonymization_spark.plans import lifetime


@pytest.mark.parametrize(
    "n,start,num_partitions",
    [(1, 1, 4), (7, 0, 4), (1000, 1, 4), (1000, 1, 64), (5000, 0, 16)],
)
def test_matches_global_window(spark, n, start, num_partitions):
    # unique string keys in scrambled order, uneven key-length mix (like
    # Mondrian pids) so range boundaries land mid-prefix
    import random

    rng = random.Random(42 + n)
    keys = [format(i, "b") for i in rng.sample(range(3 * n), n)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")

    expect = {
        r["k"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("k")) + F.lit(start - 1)
        ).collect()
    }
    p0 = lifetime.pending()
    with lifetime.scope():
        ranked = distributed_rank(
            df, "k", "rank", start=start, num_partitions=num_partitions
        )
        got = {r["k"]: r["rank"] for r in ranked.collect()}
        assert lifetime.pending() == p0 + 1  # the ranged cache
    assert lifetime.pending() == p0
    assert got == expect


def test_empty(spark):
    df = spark.createDataFrame([], "k string")
    with lifetime.scope():
        assert distributed_rank(df, "k", "rank").count() == 0


def test_more_partitions_than_rows(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], "k string")
    with lifetime.scope():
        ranked = distributed_rank(df, "k", "rank", num_partitions=32)
        got = dict(ranked.select("k", "rank").collect())
    assert got == {"a": 1, "b": 2, "c": 3}


def test_running_total_matches_global_window(spark):
    import random

    from kapra_timeseries_anonymization_spark.operators.rank import (
        distributed_running_total,
    )

    rng = random.Random(7)
    rows = [(format(i, "x"), rng.randrange(1, 500)) for i in rng.sample(range(10000), 800)]
    df = spark.createDataFrame(rows, "k string, sz long")
    expect = {
        r["k"]: r["tot"]
        for r in df.withColumn(
            "tot",
            F.sum("sz").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).collect()
    }
    with lifetime.scope():
        got_df = distributed_running_total(df, "k", "sz", "tot",
                                           num_partitions=16)
        got = {r["k"]: r["tot"] for r in got_df.collect()}
    assert got == expect


def test_pack_offsets_stream_is_gapless(spark):
    from kapra_timeseries_anonymization_spark.operators.pack import pack_offsets

    df = spark.createDataFrame(
        [(i, 100 + (i * 37) % 900) for i in range(300)], "doc_id long, n long"
    )
    p0 = lifetime.pending()
    out = pack_offsets(df, "doc_id", "n", capacity=1024)
    rows = sorted(out.collect(), key=lambda r: r["start_off"])
    assert lifetime.pending() == p0  # hex_key path: nothing to release
    assert rows[0]["start_off"] == 0
    for a, b in zip(rows, rows[1:]):
        assert a["end_off"] == b["start_off"]  # gapless concat stream
    for r in rows:
        assert r["first_bin"] == r["start_off"] // 1024
        assert r["last_bin"] == (r["end_off"] - 1) // 1024
        assert r["end_off"] - r["start_off"] == r["size"]


@pytest.mark.parametrize("n,num_partitions", [(1, 4), (800, 4), (800, 64)])
def test_hex_key_matches_global_window(spark, n, num_partitions):
    """hex_key path (deterministic prefix partitioning, no cache) ==
    single-task global row_number, for md5-shaped keys."""
    import hashlib

    keys = [hashlib.md5(str(i).encode()).hexdigest() for i in range(n)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    expect = {
        r["k"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("k"))
        ).collect()
    }
    p0 = lifetime.pending()
    ranked = distributed_rank(
        df, "k", "rank", num_partitions=num_partitions, hex_key=True
    )
    got = {r["k"]: r["rank"] for r in ranked.collect()}
    assert lifetime.pending() == p0
    assert got == expect


def test_hex_key_100k_partitions(spark):
    """VERDICT r04 #2: past 2^16 requested partitions the old 16-bit
    prefix collapsed parallelism to 65,536 buckets. The 32-bit prefix
    must (a) still rank exactly and (b) actually spread keys across more
    than 2^16 distinct partition ids at num_partitions=100_000."""
    import hashlib

    from kapra_timeseries_anonymization_spark.operators.rank import _hex_part

    keys = [hashlib.md5(str(i).encode()).hexdigest() for i in range(4000)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    expect = {
        r["k"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("k"))
        ).collect()
    }
    ranked = distributed_rank(df, "k", "rank", num_partitions=100_000, hex_key=True)
    got = {r["k"]: r["rank"] for r in ranked.collect()}
    assert got == expect
    # the 16-bit version mapped pid = floor(v16 * n / 2^16): consecutive
    # 16-bit prefixes land >1 apart for n > 2^16, so every pid was a
    # multiple of floor(n/2^16) buckets apart — 4000 md5 keys then hit
    # <= 65536 distinct "reachable" ids but, more to the point, two keys
    # sharing a 4-hex prefix ALWAYS collided. With 32 bits, keys sharing
    # a 4-hex prefix but differing at chars 5-8 must be separable:
    parts = {
        r["p"]
        for r in df.select(_hex_part("k", 100_000).alias("p")).collect()
    }
    v16 = {int(k[:4], 16) for k in keys}
    assert len(parts) > len(v16) * 0.98  # 16-bit mapping would equal len(v16)
    assert max(parts) < 100_000 and min(parts) >= 0


def test_hex_key_rejects_non_hex(spark):
    """ADVICE r04: non-hex / short keys must fail fast, not silently
    produce garbage ranks."""
    df = spark.createDataFrame([("nothexkey",), ("deadbeefcafe",)], "k string")
    ranked = distributed_rank(df, "k", "rank", num_partitions=8, hex_key=True)
    with pytest.raises(Exception, match="lowercase fixed-width hex"):
        ranked.collect()
    short = spark.createDataFrame([("abc",)], "k string")
    ranked2 = distributed_rank(short, "k", "rank", num_partitions=8, hex_key=True)
    with pytest.raises(Exception, match="lowercase fixed-width hex"):
        ranked2.collect()
    with pytest.raises(ValueError, match="2\\^24"):
        from kapra_timeseries_anonymization_spark.operators.rank import _hex_part

        _hex_part("k", (1 << 24) + 1)


def test_hex_key_running_total_matches_global_window(spark):
    import hashlib
    import random

    from kapra_timeseries_anonymization_spark.operators.rank import (
        distributed_running_total,
    )

    rng = random.Random(11)
    rows = [
        (hashlib.md5(str(i).encode()).hexdigest(), rng.randrange(1, 500))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "k string, sz long")
    expect = {
        r["k"]: r["tot"]
        for r in df.withColumn(
            "tot",
            F.sum("sz").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).collect()
    }
    p0 = lifetime.pending()
    got_df = distributed_running_total(
        df, "k", "sz", "tot", num_partitions=16, hex_key=True
    )
    got = {r["k"]: r["tot"] for r in got_df.collect()}
    assert lifetime.pending() == p0
    assert got == expect
