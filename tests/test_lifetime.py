"""plans/lifetime.py: a ``lifetime.scope()`` releases what its thread
registered inside it, and the pipelines that register handles leave
nothing pending and nothing persisted once their scope closes (KAPRA's
distributed fallback, which scopes itself, is checked in
tests/test_kapra_parity.py).

Each check runs in a fresh thread, whose registry starts empty, so
``pending()`` is read as an absolute count; the persistent-RDD count is
the session-wide check that the released handles were really freed.
"""

import contextlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from kapra_timeseries_anonymization_spark.operators.components import (
    connected_components,
)
from kapra_timeseries_anonymization_spark.operators.naive import (
    mondrian_partition,
)
from kapra_timeseries_anonymization_spark.plans import lifetime
from kapra_timeseries_anonymization_spark.plans.optimize import run_grid
from tests.oracle.legacy_dataset import generate_legacy_dataset, series_matrix


def _series(spark, n, seed):
    series = series_matrix(generate_legacy_dataset(n, seed=seed))
    rows = [(int(i), [float(v) for v in row])
            for i, row in enumerate(series.astype(np.float64))]
    return spark.createDataFrame(rows, "original_index long, values array<double>")


def _in_new_thread(fn):
    with ThreadPoolExecutor(max_workers=1) as ex:
        return ex.submit(fn).result()


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_scope_releases_innermost_on_exit_and_on_error(spark):
    def body():
        outer = spark.range(10).persist()
        inner = spark.range(20).persist()
        with lifetime.scope():
            lifetime.register_cache(outer)
            with lifetime.scope():
                lifetime.register_cache(inner)
                assert lifetime.pending() == 2
            assert lifetime.pending() == 1 and not inner.is_cached
            assert outer.is_cached
        assert lifetime.pending() == 0 and not outer.is_cached

        failing = spark.range(30).persist()
        with pytest.raises(RuntimeError), lifetime.scope():
            lifetime.register_cache(failing)
            raise RuntimeError("boom")
        assert lifetime.pending() == 0 and not failing.is_cached

    _in_new_thread(body)


def test_run_grid_drains_pool_threads(spark, monkeypatch):
    """run_grid with parallelism=4: each config's scope closes in the pool
    thread that opened it with nothing left pending there, and the sweep
    leaves no persistent RDD behind."""
    sdf = _series(spark, 300, seed=5)
    real_scope = lifetime.scope
    closed: list[int] = []  # pending() in the pool thread, per config

    @contextlib.contextmanager
    def watched():
        with real_scope():
            yield
        if len(lifetime._stack()) == 1:  # an outermost scope: one config
            closed.append(lifetime.pending())

    monkeypatch.setattr(lifetime, "scope", watched)
    configs = [(k, 2, lv) for k in (5, 8) for lv in (4, 6)] * 2
    for algo in ("kapra", "naive"):
        closed.clear()
        before = _persistent(spark)
        run_grid(sdf, configs, algo=algo, t=8, parallelism=4)
        assert closed == [0] * len(configs)
        assert _persistent(spark) == before, algo


@pytest.mark.parametrize("op", ["connected_components", "mondrian_partition"])
def test_scoped_operator_leaves_nothing(spark, op):
    """The result's backing checkpoint is registered by the operator; a
    scope around its materialization frees it."""
    if op == "connected_components":
        edges = [(i, i + 1) for i in range(200) if i % 7 != 6]
        df = spark.createDataFrame(edges, "src long, dst long")
        build = lambda: connected_components(df)  # noqa: E731
    else:
        df = _series(spark, 400, seed=3)
        build = lambda: mondrian_partition(df, k=8, t=8)  # noqa: E731

    def body():
        before = _persistent(spark)
        with lifetime.scope():
            n = build().count()
            assert lifetime.pending() == 1
        return n, lifetime.pending(), _persistent(spark) - before

    n, pending, leaked = _in_new_thread(body)
    assert n > 0 and pending == 0 and leaked == 0

