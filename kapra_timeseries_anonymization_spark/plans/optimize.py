"""Hyper-parameter grid sweep over the (k,P)-anonymization pipelines.

Mirrors the reference's third entry point
(/root/reference/src/optimize_kapra.py:6-69, optimize_naive.py:6-63):
sweep (K, P, LEVEL), record (time, VL, PL), min-max normalize the two loss
axes, score = norm_VL + norm_PL, pick top-k.

Spark stance (SURVEY §3.3): the sweep is embarrassingly parallel across
configs, serial in the reference. Here the input series are computed once
and persisted; configs then run through a driver thread pool (Spark
schedules the concurrent jobs across the same executors — the FAIR-
scheduler pattern). Normalization/scoring happens driver-side on the
results (O(grid) rows, SURVEY §2.6 O6), exactly like the reference.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..operators.kapra import kapra_anonymize
from ..operators.naive import naive_anonymize
from . import lifetime


@dataclass
class GridResult:
    k: int
    p: int
    level: int
    seconds: float
    vl: float
    pl: float


def run_grid(
    series: DataFrame,
    configs: list[tuple[int, int, int]],
    algo: str = "kapra",
    t: int = 8,
    parallelism: int = 4,
) -> list[GridResult]:
    """Run every (K, P, level) config over the same persisted series."""
    series = series.persist()
    series.count()  # materialize once; every config reuses the cache

    def one(cfg: tuple[int, int, int]) -> GridResult:
        k, p, level = cfg
        # one scope per config: whatever the config registers is released
        # in the pool thread that registered it
        with lifetime.scope():
            t0 = time.perf_counter()
            if algo == "kapra":
                res = kapra_anonymize(series, K=k, P=p, sax_level=level, t=t)
            elif algo == "naive":
                res = naive_anonymize(series, K=k, P=p, max_level=level, t=t)
            else:
                raise ValueError(algo)
            # losses are extracted — release the per-config records cache,
            # or a sweep leaves one cached DataFrame per config
            lifetime.register_cache(res.records)
            return GridResult(
                k, p, level, round(time.perf_counter() - t0, 3),
                round(res.avg_vl, 6), round(res.avg_pl, 6),
            )

    if parallelism > 1:
        with ThreadPoolExecutor(max_workers=parallelism) as ex:
            out = list(ex.map(one, configs))
    else:
        out = [one(c) for c in configs]
    series.unpersist()
    return out


def score_results(results: list[GridResult], top: int = 5) -> list[dict]:
    """Min-max normalize VL and PL, score = sum, ascending — the
    reference's scoring (optimize_kapra.py:46-69) on the driver."""
    vls = [r.vl for r in results]
    pls = [r.pl for r in results]

    def norm(x, lo, hi):
        return 0.0 if hi == lo else (x - lo) / (hi - lo)

    scored = [
        {
            "k": r.k, "p": r.p, "level": r.level, "seconds": r.seconds,
            "vl": r.vl, "pl": r.pl,
            "score": round(
                norm(r.vl, min(vls), max(vls)) + norm(r.pl, min(pls), max(pls)),
                6,
            ),
        }
        for r in results
    ]
    # stable: score, then grid order (k, p, level) — first-minimum like ref
    scored.sort(key=lambda d: (d["score"], d["k"], d["p"], d["level"]))
    return scored[:top]
