"""Concurrency stress tests for the cache/checkpoint lifetime rule.

Regression surface for the r03 grid-parity crash
(CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND): concurrent configs in one session
used to build sameResult plans that Spark's CacheManager aliased to one
InMemoryRelation, so one thread's eager unpersist/checkpoint-release
dropped blocks a sibling's live lineage still read. The fix is
per-invocation plan uniquing (naive root-pid token, kapra `_run`
column) plus threading checkpoint lifetimes out to final
materialization — see _release_local_checkpoint's LIFETIME RULE in
plans/lifetime.py. Each test here runs a pipeline under a thread pool
with deliberately alias-prone configs (shared K / shared sax_level over
the SAME cached input) and repeats, asserting both survival and value
parity with the sequential oracle.
"""

from concurrent.futures import ThreadPoolExecutor

import numpy as np

from kapra_timeseries_anonymization_spark.operators.components import (
    connected_components,
)
from kapra_timeseries_anonymization_spark.operators.kapra import kapra_anonymize
from kapra_timeseries_anonymization_spark.plans.optimize import run_grid
from tests.oracle.legacy_dataset import generate_legacy_dataset, series_matrix
from tests.oracle.reference_impl import naive_pipeline


def _to_spark(spark, series):
    rows = [(int(i), [float(v) for v in row]) for i, row in enumerate(series)]
    return spark.createDataFrame(rows, "original_index long, values array<double>")


def test_concurrent_naive_sweeps_survive_and_match(spark):
    """The exact r03 crash shape: 4 same-K naive configs in one pool
    (Mondrian depends only on K, so without plan uniquing all four build
    byte-identical `cur` plans), repeated so released blocks from sweep
    i would poison sweep i+1 if lifetimes leaked."""
    df = generate_legacy_dataset(240, seed=3)
    series = series_matrix(df)
    sdf = _to_spark(spark, series.astype(float))
    configs = [(5, 2, 8), (5, 2, 10), (5, 2, 20), (5, 3, 8)]
    want = {
        (k, p, lvl): naive_pipeline(
            series.astype(np.int64), K=k, P=p, max_level=lvl
        )
        for (k, p, lvl) in configs
    }
    for _ in range(2):
        results = run_grid(sdf, configs, algo="naive", t=8, parallelism=4)
        assert len(results) == len(configs)
        for r in results:
            w = want[(r.k, r.p, r.level)]
            assert abs(r.vl - w.avg_vl) < 1e-6, (r.k, r.p, r.level)
            assert abs(r.pl - w.avg_pl) < 1e-6, (r.k, r.p, r.level)


def test_concurrent_kapra_sweeps_survive(spark):
    """Same hazard class for kapra: `base`/`combo_df` depend only on
    sax_level, so 4 same-level configs alias without the `_run` column."""
    df = generate_legacy_dataset(240, seed=5)
    sdf = _to_spark(spark, series_matrix(df).astype(float))
    configs = [(5, 2, 8), (10, 2, 8), (5, 3, 8), (10, 3, 8)]
    solo = {
        (r.k, r.p, r.level): (r.vl, r.pl)
        for r in run_grid(sdf, configs, algo="kapra", t=8, parallelism=1)
    }
    for _ in range(2):
        results = run_grid(sdf, configs, algo="kapra", t=8, parallelism=4)
        for r in results:
            vl, pl = solo[(r.k, r.p, r.level)]
            assert abs(r.vl - vl) < 1e-9 and abs(r.pl - pl) < 1e-9


def test_concurrent_kapra_fallback(spark):
    """The fully distributed fallback path (forced via
    max_driver_combos=1) under a pool: its per-pass checkpoints,
    distributed-rank caches and `assigned` persist must all be
    per-invocation private."""
    df = generate_legacy_dataset(240, seed=7)
    sdf = _to_spark(spark, series_matrix(df).astype(float)).persist()
    sdf.count()

    def one(k: int):
        res = kapra_anonymize(
            sdf, K=k, P=2, sax_level=5, t=8, max_driver_combos=1
        )
        out = (round(res.avg_vl, 9), round(res.avg_pl, 9), res.records.count())
        res.records.unpersist()
        return out

    solo = {k: one(k) for k in (5, 8)}
    with ThreadPoolExecutor(max_workers=4) as ex:
        got = list(ex.map(one, [5, 8, 5, 8]))
    sdf.unpersist()
    assert got == [solo[5], solo[8], solo[5], solo[8]]


def test_concurrent_components(spark):
    """Two identical-plan connected_components runs at once: checkpoint
    RDDs are unique per call by construction, so per-round releases in
    one thread must not touch the other."""
    n = 400
    rows = [(i, i + 1) for i in range(n - 1) if i % 10 != 9]
    edges = spark.createDataFrame(rows, "src long, dst long")

    def one(_):
        out = connected_components(edges)
        return sorted((r["node"], r["component_id"]) for r in out.collect())

    solo = one(0)
    with ThreadPoolExecutor(max_workers=2) as ex:
        got = list(ex.map(one, range(2)))
    assert got == [solo, solo]
