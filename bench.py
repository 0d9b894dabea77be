"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may use);
prints ONE JSON line with per-query seconds and the headline
rolled-up-points/sec metric. Times are the MEDIAN of
$SPARK_GRAFT_BENCH_RUNS (default 3) full-suite repetitions after one
discarded warmup pass, with per-query min/max spread — a single run on a
shared box is noise, not signal (VERDICT r02).

Extra modes (not used by the driver):
  --scaling   run the flagship pipeline (synthetic transcripts at a
              core-saturating size -> turn-rate series -> KAPRA) at two
              parallelism levels ($SPARK_GRAFT_SCALE_LEVELS, default
              "4,16" -> local[4] vs local[16]: pandas-UDF tasks pin a JVM
              thread + a python worker each, so 16 already saturates the
              32 vCPUs) on the SAME deterministic input and report
              turns/sec at both + scaling efficiency — the sandbox
              stand-in for the N vs 4N executor-cluster rule
              (BASELINE.json). $SPARK_GRAFT_SCALE_CONVS overrides the
              conversation count (default 1000000, ~23.5M turns).
              $SPARK_GRAFT_SCALE_MASTERS (';'-separated master URLs,
              e.g. "local-cluster[1,4,8192];local-cluster[4,4,8192]")
              switches the levels to REAL multi-JVM deployments — N vs
              4N separate executor processes with their own block
              managers, the rule's literal shape. Each level runs in
              its own subprocess (one SparkContext per python process;
              local-cluster spawns standalone workers that are torn
              down with the JVM, so in-process restart is not safe).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kapra_timeseries_anonymization_spark.plans import lifetime
from kapra_timeseries_anonymization_spark.queries import REGISTRY
from kapra_timeseries_anonymization_spark.session import build_session

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_segment_revenue",
    "q_top10_orders",
    "events_rollup_1m",
    "events_rollup_1h_cascade",
    "events_rollup_1d_cascade",
    "events_gapfill_hourly",
    "events_latency_stats",
    "events_activity_envelope",
    "doc_dedup_exact",
    "doc_simhash_pairs",
    "doc_stratified_sample",
    "doc_global_shuffle",
    "doc_token_stats",
    "emb_cosine_topk",
    "transcripts_turn_rate_1m",
    "transcripts_latency",
    "kapra_transcripts",
    "kapra_user_activity",
]


def run_once(spark, sf_dir: str, names) -> dict[str, float]:
    times: dict[str, float] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        # the scope releases what the query registered once it is counted;
        # without it, 4 runs of each anonymization query pin 4 O(N)
        # records caches for the session (memory-pressure jitter)
        with lifetime.scope():
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            times[name] = round(time.perf_counter() - t0, 3)
        times[f"_rows_{name}"] = n
    return times


def _master_cores(master: str) -> int:
    """Total executor cores a master URL provides (for the N-vs-4N ratio)."""
    if master.startswith("local-cluster["):
        n_workers, cores_per, _mem = (
            int(x) for x in master[len("local-cluster[") : -1].split(",")
        )
        return n_workers * cores_per
    return int(master[master.index("[") + 1 : -1])


def _scaling_level(master: str, n_convs: int) -> dict:
    """One scaling level: flagship pipeline on `master`, timed after a
    full-size warmup, with the derive/anonymize stage decomposition."""
    from kapra_timeseries_anonymization_spark.operators.kapra import (
        kapra_anonymize,
    )
    from kapra_timeseries_anonymization_spark.sources.transcripts import (
        conv_turn_rate_series,
        synth_transcripts,
    )

    def pipeline(t):
        series = conv_turn_rate_series(t, n_buckets=8)
        res = kapra_anonymize(series, K=8, P=2, sax_level=8, t=8)
        c = res.records.count()
        res.records.unpersist()
        return c

    spark = build_session(
        f"bench-scaling-{master}",
        master=master,
        extra_conf={
            # pre-fault the heap once: this sandbox's page-fault
            # path is ~0.3 GB/s per process (measured, BENCH.md),
            # so on-demand heap growth taxes every shuffle buffer.
            # NOTE (ADVICE r02): in local mode driver JVM options
            # only take effect on the FIRST JVM launch in this
            # python process; the second scaling level reuses the
            # same gateway JVM, so this conf is a no-op there.
            # Harmless by construction: both levels pass identical
            # values, so the JVM the levels share was launched
            # with exactly these flags. (Under
            # SPARK_GRAFT_SCALE_MASTERS each level is its own
            # subprocess and the conf applies cleanly.)
            "spark.driver.extraJavaOptions":
                "-XX:+AlwaysPreTouch -Xms"
                + os.environ.get("SPARK_DRIVER_MEM", "8g"),
        },
    )
    # setup OUTSIDE the timed region: a real engine reads a stored
    # table, so the deterministic generator is materialized first
    t = synth_transcripts(spark, n_convs=n_convs, mean_turns=24)
    t = t.persist()
    turns = t.count()
    # full-size warm-up: a cold first run is ~3x slower (JVM C2
    # compilation of codegen'd stages + python-worker spin-up) and
    # would corrupt the comparison
    pipeline(t)
    best, n_series = None, 0
    for _ in range(2):
        t0 = time.perf_counter()
        n_series = pipeline(t)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    # stage decomposition: derive (shuffle-bound) vs anonymize
    # (UDF-compute-bound) — on one box the shuffle path shares a
    # single memory bus / page-fault path across "executors", so
    # per-stage efficiency is the honest scaling signal
    t0 = time.perf_counter()
    series = conv_turn_rate_series(t, n_buckets=8).persist()
    series.count()
    derive_dt = time.perf_counter() - t0
    anon_best = None
    for _ in range(2):
        t0 = time.perf_counter()
        res = kapra_anonymize(series, K=8, P=2, sax_level=8, t=8)
        res.records.count()
        dt = time.perf_counter() - t0
        res.records.unpersist()
        anon_best = dt if anon_best is None else min(anon_best, dt)
    series.unpersist()
    t.unpersist()
    level = {
        "sec": round(best, 3),
        "turns": turns,
        "series": n_series,
        "turns_per_sec": round(turns / best, 1),
        "derive_sec": round(derive_dt, 3),
        "anonymize_sec": round(anon_best, 3),
    }
    spark.stop()
    return level


def _scaling_summary(out: dict, lo: str, hi: str, ratio: float,
                     n_convs: int) -> dict:
    eff = (out[hi]["turns_per_sec"] / out[lo]["turns_per_sec"]) / ratio
    out["scaling_efficiency"] = round(eff, 3)
    out["derive_efficiency"] = round(
        out[lo]["derive_sec"] / out[hi]["derive_sec"] / ratio, 3
    )
    out["anonymize_efficiency"] = round(
        out[lo]["anonymize_sec"] / out[hi]["anonymize_sec"] / ratio, 3
    )
    out["input"] = f"synth_transcripts(n_convs={n_convs}, mean_turns=24)"
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    n_convs = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "1000000"))

    if "--scaling-one" in sys.argv:
        # child mode for SPARK_GRAFT_SCALE_MASTERS: one level, one
        # SparkContext, one process (local-cluster tears its standalone
        # workers down with the JVM — in-process restart is not safe)
        master = sys.argv[sys.argv.index("--scaling-one") + 1]
        print("LEVEL " + json.dumps(_scaling_level(master, n_convs)))
        return

    if "--scaling" in sys.argv:
        masters_env = os.environ.get("SPARK_GRAFT_SCALE_MASTERS")
        if masters_env:
            # REAL multi-JVM N-vs-4N: each master level in a subprocess
            import subprocess

            masters = [m.strip() for m in masters_env.split(";") if m.strip()]
            out: dict = {}
            for m in masters:
                env = dict(os.environ)
                env.pop("SPARK_GRAFT_SCALE_MASTERS", None)
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--scaling-one", m],
                    capture_output=True, text=True, timeout=7200, env=env,
                )
                if r.returncode != 0:
                    sys.stderr.write(r.stderr[-4000:])
                    raise SystemExit(f"scaling level {m} failed")
                line = [ln for ln in r.stdout.splitlines()
                        if ln.startswith("LEVEL ")][-1]
                out[m] = json.loads(line[len("LEVEL "):])
            lo, hi = masters[0], masters[-1]
            ratio = _master_cores(hi) / _master_cores(lo)
            print(json.dumps(_scaling_summary(out, lo, hi, ratio, n_convs)))
            return

        # thread-based levels (single shared JVM, in-process)
        # N vs 4N core levels. Default 4 vs 16 (not 8 vs 32): every pandas-
        # UDF task occupies a JVM thread AND a python worker, so local[32]
        # on a 32-vCPU box runs 64 runnable threads — measuring scheduler
        # oversubscription, not scaling. 4+4 and 16+16 both fit.
        levels = [
            int(x)
            for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "4,16").split(",")
        ]
        out = {}
        for n in levels:
            out[f"local[{n}]"] = _scaling_level(f"local[{n}]", n_convs)
        lo, hi = f"local[{levels[0]}]", f"local[{levels[-1]}]"
        ratio = levels[-1] / levels[0]
        print(json.dumps(_scaling_summary(out, lo, hi, ratio, n_convs)))
        return

    # VERDICT r02: a single run is noise (the recorded r02 artifact was a
    # 2.4x outlier under harness load). Protocol: one full-suite warmup
    # (JVM C2 + python-worker spin-up), then N_RUNS timed repetitions;
    # report the per-query MEDIAN plus min/max spread so the recorded
    # number is a statistic, not a sample.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = build_session("bench")
    run_once(spark, sf_dir, BENCH_QUERIES)  # warmup, discarded
    runs: list[dict[str, float]] = []
    totals: list[float] = []
    for _ in range(n_runs):
        t_all0 = time.perf_counter()
        runs.append(run_once(spark, sf_dir, BENCH_QUERIES))
        totals.append(round(time.perf_counter() - t_all0, 3))
    queries = {
        q: round(statistics.median(r[q] for r in runs), 3)
        for q in BENCH_QUERIES
    }
    spread = {
        q: [round(min(r[q] for r in runs), 3),
            round(max(r[q] for r in runs), 3)]
        for q in BENCH_QUERIES
    }
    # headline: rolled-up points/sec over the three retention tiers
    tier_qs = ("events_rollup_1m", "events_rollup_1h_cascade",
               "events_rollup_1d_cascade")
    tier_rows = sum(runs[0].get(f"_rows_{q}", 0) for q in tier_qs)
    tier_sec = sum(queries[q] for q in tier_qs)
    print(
        json.dumps(
            {
                "metric": "rolled-up points/sec (retention tiers 1m/1h/1d)",
                "value": round(tier_rows / max(tier_sec, 1e-9), 1),
                "unit": "points/sec",
                "total_sec": round(statistics.median(totals), 3),
                "total_spread": [min(totals), max(totals)],
                "runs": n_runs,
                "queries": queries,
                "spread": spread,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
