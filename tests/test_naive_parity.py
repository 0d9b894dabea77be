"""Exactness gate for the naive top-down pipeline vs the validated oracle:
Mondrian group assignments, leaf patterns/levels, envelopes, row order, and
loss metrics."""

import math

import numpy as np
import pytest

from kapra_timeseries_anonymization_spark.operators.naive import (
    mondrian_partition,
    naive_anonymize,
)
from tests.oracle.legacy_dataset import generate_legacy_dataset, series_matrix
from tests.oracle.reference_impl import _mondrian, naive_pipeline


def _to_spark(spark, series):
    rows = [(int(i), [float(v) for v in row]) for i, row in enumerate(series)]
    return spark.createDataFrame(rows, "original_index long, values array<double>")


CONFIGS = [
    (600, 42, 8, 2, 10),
    (256, 2, 5, 3, 8),
    (120, 1, 10, 2, 5),
]


@pytest.mark.parametrize("n_rows,seed,K,P,max_level", CONFIGS)
def test_mondrian_matches_oracle(spark, n_rows, seed, K, P, max_level):
    df = generate_legacy_dataset(n_rows, seed=seed)
    series = series_matrix(df)
    parts_oracle = _mondrian(series, list(range(n_rows)), K)
    got = mondrian_partition(_to_spark(spark, series.astype(float)), k=K, t=8)
    rows = got.select("original_index", "group_id", "pos").collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r["group_id"], []).append((r["pos"], r["original_index"]))
    assert len(by_gid) == len(parts_oracle)
    for gid, members in enumerate(parts_oracle, start=1):
        got_members = [i for _, i in sorted(by_gid[gid])]
        assert got_members == members, f"group {gid} mismatch"


def _check_naive(spark, series, K, P, max_level, **switches):
    """naive_anonymize == the numpy oracle: row order, GroupIDs, patterns,
    levels, envelopes and leaf VL exactly; average VL/PL within 1e-9."""
    oracle = naive_pipeline(series.astype(np.int64), K=K, P=P,
                            max_level=max_level)
    got = naive_anonymize(
        _to_spark(spark, series.astype(float)), K=K, P=P,
        max_level=max_level, t=series.shape[1], **switches,
    )
    rows = got.records.orderBy("group_id", "leaf_seq", "row_ord").collect()
    assert [r["original_index"] for r in rows] == oracle.record_index
    assert [r["group_id"] for r in rows] == oracle.group_id
    assert [r["pattern"] for r in rows] == oracle.pattern
    assert [r["level"] for r in rows] == oracle.level
    for r, lo, hi, vl in zip(
        rows, oracle.leaf_lower, oracle.leaf_upper, oracle.leaf_vl,
    ):
        np.testing.assert_array_equal(np.array(r["lower"]), lo)
        np.testing.assert_array_equal(np.array(r["upper"]), hi)
        assert r["vl"] == vl
    assert abs(got.avg_vl - oracle.avg_vl) < 1e-9
    assert abs(got.avg_pl - oracle.avg_pl) < 1e-9
    assert got.n_groups == max(oracle.group_id)
    got.records.unpersist()


# (local_threshold, rank_head_rows) pairs that select distinct Mondrian
# paths before the fused Arrow pass (see the equivalence test below)
SWITCHES = [(0, 0), (0, 1), (64, 64), (100000, 0)]


@pytest.mark.parametrize(
    "n_rows,seed,K,P,max_level,switches",
    [pytest.param(*c, (), id="-".join(map(str, c))) for c in CONFIGS]
    + [pytest.param(*c, sw, id="-".join(map(str, c + sw)))
       for c in CONFIGS for sw in SWITCHES],
)
def test_naive_spark_matches_oracle(spark, n_rows, seed, K, P, max_level,
                                    switches):
    df = generate_legacy_dataset(n_rows, seed=seed)
    series = series_matrix(df)
    kw = dict(zip(("local_threshold", "rank_head_rows"), switches))
    _check_naive(spark, series, K, P, max_level, **kw)


def test_naive_3000_defaults_matches_reference_metrics(spark):
    """Reference defaults on the golden-equivalent dataset: 256 k-groups,
    VL 3.3178, PL 0.2920 (SURVEY §4.3 sandbox-verified run)."""
    df = generate_legacy_dataset(3000, seed=42)
    series = series_matrix(df)
    got = naive_anonymize(
        _to_spark(spark, series.astype(float)), K=8, P=2, max_level=10, t=8
    )
    assert got.n_groups == 256
    assert math.isclose(got.avg_vl, 3.3178, abs_tol=5e-4)
    assert math.isclose(got.avg_pl, 0.2920, abs_tol=5e-4)


@pytest.mark.parametrize(
    "threshold,rank_rows",
    [
        (0, 0),        # pure distributed loop, plain-window splits
        (0, 1),        # pure distributed loop, every split two-stage rank
        (64, 64),      # mixed: rank head, window middle, in-task finish
        (100000, 0),   # all-local: switch on round 1
    ],
)
def test_mondrian_local_finish_equals_distributed(spark, threshold, rank_rows):
    """r05 switches: local-finish (local_threshold) and head-parallel
    split (rank_head_rows) in every combination that selects a distinct
    code path must produce IDENTICAL (group_id, member-order) partitions
    — all compared to the numpy oracle so a shared bug can't
    self-confirm."""
    n_rows, seed, K = 600, 7, 8
    df = generate_legacy_dataset(n_rows, seed=seed)
    series = series_matrix(df)
    parts_oracle = _mondrian(series, list(range(n_rows)), K)
    got = mondrian_partition(
        _to_spark(spark, series.astype(float)), k=K, t=8,
        local_threshold=threshold, rank_head_rows=rank_rows,
    )
    rows = got.select("original_index", "group_id", "pos").collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r["group_id"], []).append(
            (r["pos"], r["original_index"]))
    assert len(by_gid) == len(parts_oracle)
    for gid, members in enumerate(parts_oracle, start=1):
        got_members = [i for _, i in sorted(by_gid[gid])]
        assert got_members == members, (
            f"group {gid} mismatch (thr={threshold}, rr={rank_rows})")


def test_naive_zero_spread_pid(spark):
    """All series identical: Mondrian never splits (zero spread), so one
    pid carries every row into the fused pass, distributed or local."""
    series = np.tile(np.array([3, 1, 4, 1, 5, 9, 2, 6]), (40, 1))
    _check_naive(spark, series, K=8, P=2, max_level=10)
    _check_naive(spark, series, K=8, P=2, max_level=10, local_threshold=0)


def test_naive_more_buckets_than_pids(spark):
    """20 rows, K=8: one live pid after round 0 and 16 range buckets, so
    most buckets get no rows; an empty Arrow table yields an empty one."""
    import pyarrow as pa

    from kapra_timeseries_anonymization_spark.operators.naive import (
        _SPLIT_ARROW,
        _make_node_split_fn,
    )

    series = series_matrix(generate_legacy_dataset(20, seed=5))
    _check_naive(spark, series, K=8, P=2, max_level=10)
    empty = pa.table({"original_index": pa.array([], pa.int64()),
                      "values": pa.array([], pa.list_(pa.float64())),
                      "pid": pa.array([], pa.string()),
                      "pos": pa.array([], pa.int64())})
    out = _make_node_split_fn(8, 2, 10, 4)((pa.scalar(3, pa.int32()),), empty)
    assert out.num_rows == 0 and out.schema == _SPLIT_ARROW


def test_naive_several_pids_in_one_bucket():
    """One Arrow table holding several pids (rows shuffled) gives the same
    leaves as one table per pid, its local leaf numbers continuing across
    the pids in pid order, and every record carries the bucket key."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from kapra_timeseries_anonymization_spark.operators.naive import (
        _make_node_split_fn,
    )

    series = series_matrix(generate_legacy_dataset(90, seed=11)).astype(float)
    pids = np.array(["r:0", "r:10", "r:11"])[np.arange(90) % 3]
    pos = np.arange(90) // 3 + 1
    perm = np.random.default_rng(0).permutation(90)

    def table(sel):
        return pa.table({
            "original_index": pa.array(sel, pa.int64()),
            "values": pa.array([list(series[i]) for i in sel],
                               pa.list_(pa.float64())),
            "pid": pa.array(pids[sel]),
            "pos": pa.array(pos[sel], pa.int64()),
        })

    fn = _make_node_split_fn(8, 2, 10, 4)
    key = (pa.scalar(5, pa.int32()),)
    order = [(c, "ascending") for c in ("gl", "leaf_seq", "row_ord")]
    both = fn(key, table(perm)).sort_by(order)
    ones, offset = [], 0
    for p in ("r:0", "r:10", "r:11"):
        one = fn(key, table(np.flatnonzero(pids == p)))
        gl = pc.add(one.column("gl"), pa.scalar(offset, pa.int32()))
        ones.append(one.set_column(one.schema.get_field_index("gl"), "gl", gl))
        offset += pc.max(one.column("gl")).as_py() + 1
    assert both.num_rows == 90 and offset > 3
    assert both.equals(pa.concat_tables(ones).sort_by(order))
    assert set(both.column("_b").to_pylist()) == {5}


def _prefix_free_paths(rng, n_splits: int) -> list[str]:
    """Leaves of a random binary tree (a prefix-free set of '0'/'1'
    paths), one of them extended into a chain deeper than 30 bits so
    several leaves share their first 30 bits."""
    leaves = [""]
    for _ in range(n_splits):
        p = leaves.pop(int(rng.integers(len(leaves))))
        leaves += [p + "0", p + "1"]
    p = leaves.pop(int(rng.integers(len(leaves))))
    for _ in range(40 - len(p)):
        leaves.append(p + "1")
        p += "0"
    return leaves + [p]


@pytest.mark.parametrize("n_buckets", [1, 1000, 1 << 20])
def test_range_buckets_monotone(spark, n_buckets):
    """Range buckets keep pid order: over random prefix-free pid sets
    (and the bare root pid), sorting by (bucket, pid) == sorting by
    pid, so per-bucket leaf numbers plus bucket offsets are the global
    DFS rank. ``n_buckets`` is raised to the cluster's floor (4 slots
    per core) by _by_bucket itself."""
    from pyspark.sql import functions as F

    from kapra_timeseries_anonymization_spark.operators.naive import (
        _by_bucket,
    )

    n_buckets = max(n_buckets, 4 * spark.sparkContext.defaultParallelism)
    rng = np.random.default_rng(n_buckets)
    sets = [[""], ["0", "1"]] + [_prefix_free_paths(rng, n)
                                 for n in (5, 60, 400)]
    for paths in sets:
        pids = [f"r17:{p}" for p in paths]
        df = spark.createDataFrame([(p,) for p in pids], "pid string")
        rows = _by_bucket([df], n_buckets * 65536).agg(
            F.collect_list("pid").alias("pids")).collect()
        got = sorted((r["_b"], p) for r in rows for p in r["pids"])
        assert [p for _, p in got] == sorted(pids)
        assert all(0 <= b < n_buckets for b, _ in got)
        if len(paths) > 40:
            deep = [b for b, p in got if len(p) > 35]
            assert len(deep) > 1 and len(set(deep)) == 1


def test_naive_job_count(spark):
    """Spark jobs per naive_anonymize call on the 600-series fixture, read
    with the job group's tracker: 11 (Mondrian's round-0 decision, the
    Arrow pass, the per-bucket GroupID job and the records cache); the
    bound leaves headroom for AQE."""
    series = series_matrix(generate_legacy_dataset(600, seed=42))
    df = _to_spark(spark, series.astype(float))
    sc = spark.sparkContext
    sc.setJobGroup("naive-jobs", "naive-jobs")
    try:
        got = naive_anonymize(df, K=8, P=2, max_level=10, t=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("naive-jobs"))
    got.records.unpersist()
    assert n_jobs <= 13, n_jobs


def test_naive_segments_not_divisible(spark):
    """t=10 with 4 segments: PAA uses array_split bounds (3, 3, 2, 2)."""
    rng = np.random.default_rng(4)
    series = rng.integers(0, 40, size=(150, 10))
    _check_naive(spark, series, K=6, P=2, max_level=8)


def test_naive_k_above_row_count(spark):
    """K greater than the row count: Mondrian keeps one partition."""
    series = series_matrix(generate_legacy_dataset(5, seed=2))
    _check_naive(spark, series, K=8, P=2, max_level=10)
