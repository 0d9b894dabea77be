"""Exactness gate: the distributed KAPRA pipeline must equal the validated
numpy oracle — group assignments exact, envelopes exact, loss metrics to
1e-9, and even the reference's output row order reproducible."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kapra_timeseries_anonymization_spark.operators import kapra
from kapra_timeseries_anonymization_spark.operators.kapra import kapra_anonymize
from kapra_timeseries_anonymization_spark.plans import lifetime
from tests.oracle.legacy_dataset import generate_legacy_dataset, series_matrix
from tests.oracle.reference_impl import kapra_pipeline


def _to_spark(spark, series):
    rows = [(int(i), [float(v) for v in row]) for i, row in enumerate(series)]
    return spark.createDataFrame(rows, "original_index long, values array<double>")


CONFIGS = [
    # (n_rows, seed, K, P, sax_level) — includes suppression / '*' paths
    (3000, 42, 8, 2, 8),
    (256, 2, 10, 3, 10),
    (64, 1, 5, 3, 5),
    (200, 7, 20, 8, 3),  # sax_level == 3: no recycle passes at all
]


@pytest.mark.parametrize("n_rows,seed,K,P,sax_level", CONFIGS)
def test_kapra_spark_matches_oracle(spark, n_rows, seed, K, P, sax_level):
    df = generate_legacy_dataset(n_rows, seed=seed)
    _check_kapra(spark, series_matrix(df).astype(np.float64), K, P, sax_level)


def test_kapra_segments_not_divisible(spark):
    """t=10 with 4 segments: PAA uses array_split bounds (3, 3, 2, 2) and
    the PL reconstruction repeats each symbol 3 times, cut to 10."""
    rng = np.random.default_rng(4)
    series = rng.integers(0, 40, size=(300, 10)).astype(np.float64)
    _check_kapra(spark, series, K=6, P=2, sax_level=8)


def test_kapra_k_above_row_count(spark):
    """K greater than the row count: the greedy merge runs out of
    partners and keeps one group below K, as the reference does."""
    series = series_matrix(generate_legacy_dataset(6, seed=2))
    _check_kapra(spark, series.astype(np.float64), K=8, P=2, sax_level=8)


def test_kapra_without_pl(spark):
    """compute_pl=False: same groups and records, no pl column, NaN avg."""
    series = series_matrix(generate_legacy_dataset(300, seed=9))
    sdf = _to_spark(spark, series.astype(np.float64))
    a = kapra_anonymize(sdf, K=8, P=2, sax_level=8, t=8)
    b = kapra_anonymize(sdf, K=8, P=2, sax_level=8, t=8, compute_pl=False)
    assert "pl" not in b.records.columns and np.isnan(b.avg_pl)
    cols = [c for c in b.records.columns if c != "values"]
    assert sorted(a.records.select(*cols).collect()) == sorted(
        b.records.select(*cols).collect())
    assert [g["sax"] for g in a.groups] == [g["sax"] for g in b.groups]
    a.records.unpersist()
    b.records.unpersist()


def _check_kapra(spark, series, K, P, sax_level):
    oracle = kapra_pipeline(series, K=K, P=P, sax_level=sax_level)
    got = kapra_anonymize(
        _to_spark(spark, series), K=K, P=P, sax_level=sax_level,
        t=series.shape[1],
    )

    # record -> (group_id, pattern, level) must match EXACTLY
    rows = {
        r["original_index"]: r
        for r in got.records.select(
            "original_index", "group_id", "pattern", "level", "pl"
        ).collect()
    }
    assert len(rows) == len(oracle.record_index)
    for ridx, gid, pat, lvl, pl in zip(
        oracle.record_index, oracle.group_id, oracle.pattern, oracle.level,
        oracle.pl,
    ):
        r = rows[ridx]
        assert r["group_id"] == gid, f"record {ridx} group mismatch"
        assert r["pattern"] == pat
        assert r["level"] == lvl
        assert abs(r["pl"] - pl) < 1e-9

    # per-group envelopes exact, VL exact
    assert len(got.groups) == len(got.groups)
    assert len(got.groups) == len(oracle.group_vl)
    for g, lo, hi, vl in zip(
        got.groups, oracle.group_lower, oracle.group_upper, oracle.group_vl
    ):
        np.testing.assert_array_equal(g["lower"], lo)
        np.testing.assert_array_equal(g["upper"], hi)
        assert g["vl"] == vl

    # metrics
    assert abs(got.avg_vl - oracle.avg_vl) < 1e-9
    assert abs(got.avg_pl - oracle.avg_pl) < 1e-9
    assert got.n_suppressed == len(oracle.suppressed)

    # exact output row order (reference CSV order)
    ordered = [
        r["original_index"]
        for r in got.records.orderBy(
            "group_id", "p_order", "c_order", "original_index"
        )
        .select("original_index")
        .collect()
    ]
    assert ordered == oracle.record_index


def test_kapra_partition_invariance(spark):
    """Group assignments must not depend on physical row order/partitioning."""
    df = generate_legacy_dataset(300, seed=3)
    series = series_matrix(df).astype(np.float64)
    sdf = _to_spark(spark, series)

    a = kapra_anonymize(sdf.repartition(7), K=8, P=2, sax_level=8, t=8,
                        compute_pl=False)
    b = kapra_anonymize(sdf.coalesce(1), K=8, P=2, sax_level=8, t=8,
                        compute_pl=False)
    rows_a = sorted(
        (r["original_index"], r["group_id"], r["pattern"], r["level"])
        for r in a.records.collect()
    )
    rows_b = sorted(
        (r["original_index"], r["group_id"], r["pattern"], r["level"])
        for r in b.records.collect()
    )
    assert rows_a == rows_b


@pytest.mark.parametrize("n_rows,seed,K,P,sax_level", [
    (3000, 42, 8, 2, 8),
    (256, 2, 10, 3, 10),
    (200, 7, 20, 8, 3),
])
def test_kapra_distributed_fallback_equals_driver_path(
    spark, n_rows, seed, K, P, sax_level
):
    """VERDICT r01 #4: a pattern space past max_driver_combos must run
    the fully distributed phases-1+2 path — forced here with
    max_driver_combos=1 — and produce BIT-IDENTICAL output to the
    driver-combo path (same records, same ordering metadata, same
    envelopes, VL/PL, suppression)."""
    df = generate_legacy_dataset(n_rows, seed=seed)
    series = series_matrix(df).astype(np.float64)
    sdf = _to_spark(spark, series)

    a = kapra_anonymize(sdf, K=K, P=P, sax_level=sax_level, t=8)
    b = kapra_anonymize(
        sdf, K=K, P=P, sax_level=sax_level, t=8, max_driver_combos=1
    )

    cols = ["original_index", "group_id", "pattern", "level",
            "p_order", "c_order", "lower", "upper", "vl", "pl"]
    ra = {r["original_index"]: r for r in a.records.select(*cols).collect()}
    rb = {r["original_index"]: r for r in b.records.select(*cols).collect()}
    assert set(ra) == set(rb)
    for idx, r1 in ra.items():
        r2 = rb[idx]
        for c in cols:
            assert r1[c] == r2[c], f"record {idx} col {c}: {r1[c]} != {r2[c]}"
    assert len(a.groups) == len(b.groups)
    for g1, g2 in zip(a.groups, b.groups):
        assert g1["sax"] == g2["sax"] and g1["level"] == g2["level"]
        assert g1["count"] == g2["count"] and g1["vl"] == g2["vl"]
        np.testing.assert_array_equal(g1["lower"], g2["lower"])
        np.testing.assert_array_equal(g1["upper"], g2["upper"])
    assert a.avg_vl == b.avg_vl
    # avg_pl is a distributed float sum — partition order may differ by ulps
    assert abs(a.avg_pl - b.avg_pl) < 1e-12
    assert a.n_suppressed == b.n_suppressed
    a.records.unpersist()
    b.records.unpersist()


def test_kapra_distributed_fallback_releases_checkpoints(spark):
    """The fallback releases everything it made once `records` is
    materialized: the per-pass checkpoints, the rank caches, `assigned`,
    the lazy checkpoints of its parts and `base`. With the caller's
    `records.unpersist()`, a call leaves no persistent RDD behind and
    nothing pending in the caller's lifetime registry."""
    df = generate_legacy_dataset(400, seed=3)
    series = series_matrix(df).astype(np.float64)
    sdf = _to_spark(spark, series)
    sc = spark.sparkContext

    def run():
        p0 = lifetime.pending()
        r = kapra_anonymize(sdf, K=8, P=2, sax_level=8, t=8,
                            max_driver_combos=1)
        assert lifetime.pending() == p0
        r.records.count()
        r.records.unpersist()

    run()
    c1 = sc._jsc.getPersistentRDDs().size()
    run()
    c2 = sc._jsc.getPersistentRDDs().size()
    assert c2 - c1 == 0, f"fallback leaked {c2 - c1} persistent RDDs"


def test_kapra_job_count(spark):
    """Spark jobs per kapra_anonymize call on the 600-series fixture, read
    with the job group's tracker: 7 (the combo aggregation's cache, shuffle
    and result stages, then the broadcast map-back and the records cache);
    the bound leaves one job of headroom for AQE."""
    series = series_matrix(generate_legacy_dataset(600, seed=42))
    df = _to_spark(spark, series.astype(np.float64))
    sc = spark.sparkContext
    sc.setJobGroup("kapra-jobs", "kapra-jobs")
    try:
        got = kapra_anonymize(df, K=8, P=2, sax_level=8, t=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("kapra-jobs"))
    got.records.unpersist()
    assert n_jobs <= 8, n_jobs


def test_kapra_fallback_job_count(spark):
    """Spark jobs per forced-fallback call (max_driver_combos=1) on the
    600-series fixture, read as in test_kapra_job_count: one group rank
    per recycle pass, no second rank over the good groups. Measured
    125; the bound leaves two jobs of headroom for AQE."""
    series = series_matrix(generate_legacy_dataset(600, seed=42))
    df = _to_spark(spark, series.astype(np.float64))
    sc = spark.sparkContext
    sc.setJobGroup("kapra-fallback-jobs", "kapra-fallback-jobs")
    try:
        got = kapra_anonymize(df, K=8, P=2, sax_level=8, t=8,
                              max_driver_combos=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("kapra-fallback-jobs"))
    got.records.unpersist()
    assert n_jobs <= 127, n_jobs


def _suppressing_series():
    """30 noisy rising ramps and one falling ramp: the falling ramp shares
    no word with the others at any level, so it is the residue below P
    and is suppressed."""
    rng = np.random.default_rng(11)
    ramps = np.arange(8.0) * 10 + rng.normal(0, 0.5, size=(30, 8))
    return np.vstack([ramps, np.arange(8.0)[::-1] * 10])


@pytest.mark.parametrize("max_driver_combos", [5_000_000, 1])
@pytest.mark.parametrize("case", ["star", "suppressed"])
def test_kapra_avg_pl_fold(spark, monkeypatch, case, max_driver_combos):
    """avg_pl is folded on the driver from per-combo PL sums (the '*'
    group reads level 3, suppressed combos add nothing); it must equal a
    Spark-side sum(pl)/count over the returned records, on the driver
    path and through the forced fallback."""
    if case == "star":
        series = series_matrix(generate_legacy_dataset(3000, seed=42))
    else:
        series = _suppressing_series()
    saxes = []
    merge = kapra._greedy_min_vl_merge
    monkeypatch.setattr(
        kapra, "_greedy_min_vl_merge",
        lambda s, *a: saxes.extend(s) or merge(s, *a),
    )
    got = kapra_anonymize(
        _to_spark(spark, series.astype(np.float64)), K=8, P=2, sax_level=8,
        t=8, max_driver_combos=max_driver_combos,
    )
    if case == "star":
        assert "*" in saxes
    else:
        assert got.n_suppressed == 1 and "*" not in saxes
    s, c = got.records.agg(F.sum("pl"), F.count(F.lit(1))).first()
    assert c == len(series) - got.n_suppressed
    assert abs(got.avg_pl - s / c) < 1e-12
    got.records.unpersist()


@pytest.mark.parametrize("max_driver_combos", [5_000_000, 1])
def test_kapra_without_pl_avg_is_nan(spark, max_driver_combos):
    """compute_pl=False on both paths: no pl column and a NaN avg_pl."""
    series = series_matrix(generate_legacy_dataset(300, seed=9))
    got = kapra_anonymize(
        _to_spark(spark, series.astype(np.float64)), K=8, P=2, sax_level=8,
        t=8, compute_pl=False, max_driver_combos=max_driver_combos,
    )
    assert "pl" not in got.records.columns and np.isnan(got.avg_pl)
    got.records.unpersist()
