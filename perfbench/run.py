#!/usr/bin/env python3
"""Benchmark of the (k,P)-anonymization and retention-tier paths.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One workload runs in a fresh process:
set-up (session start, seeded input generation, load and cache), one
cold pass, warm passes for ``--seconds``, then one output check against
computations made apart from the engine. The last line of standard
output is the result as JSON. See perfbench/README.md.
"""

import time

_T0 = time.perf_counter()  # set-up is timed from here, before any import

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

#: Spark slots: local[N] with N <= the cores this process may use
SLOTS = min(4, len(os.sched_getaffinity(0)))
DRIVER_HEAP = "2g"
#: warm passes timed per run, at least; more while --seconds has not
#: elapsed since the cold pass ended
MIN_TIMED_PASSES = 2
#: on a host so slow that another warm pass would likely end past this
#: many seconds from process start, the run keeps the one warm pass it
#: has and goes on to the check, so it still ends in time with a result
SOFT_BUDGET_S = 110
#: the run gives up (exit 1, no result) if it is still going after this;
#: stopping Spark then takes at most 20 s more
DEADLINE_S = 150

K, P = 8, 2


def _set_subreaper() -> None:
    """Orphaned descendants (Python workers whose JVM died) re-parent to
    this process, so they stay visible and are reaped before exit."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _interrupt(signum, frame):
    # unwinds through the finally blocks, which stop Spark and clean up
    raise SystemExit(f"perfbench: stopped by {signal.Signals(signum).name}")


def start_session(scratch: str, workload: str, traced: bool):
    from kapra_timeseries_anonymization_spark.session import build_session

    local = _mkdir(scratch, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # both JVMs (the spark-submit launcher and the driver) keep their
    # temporary files in the scratch directory and write no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={_mkdir(scratch, 'jvm-tmp')}")
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": _mkdir(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        conf["spark.eventLog.dir"] = _mkdir(scratch, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = build_session(app_name=f"perfbench-{workload}",
                          master=f"local[{SLOTS}]", shuffle_partitions=SLOTS,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait for every descendant to end."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 5
        while True:
            _reap()
            left = descendants()
            if not left:
                break
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _remove_scratch(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(scratch))  # only when no other run uses it
    except OSError:
        pass


def _mkdir(*parts: str) -> str:
    path = os.path.join(*parts)
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    """One workload: seeded inputs, the pass, and the output check.

    ``run_pass`` makes the public calls of one pass inside spans and
    returns a digest of the pass's outputs; ``release`` frees a pass's
    outputs outside the timed region; ``check`` checks the last pass's
    outputs; ``counts`` reads counts from the public results."""

    salt = 0

    def __init__(self, spark, seed: int, scratch: str):
        import numpy as np

        self.spark = spark
        self.rng = np.random.default_rng([seed, self.salt])
        self.scratch = scratch
        self.rows = 0
        self.out = {}  # pass -> that pass's outputs, until released

    def load(self, path: str):
        df = self.spark.read.parquet(path).repartition(SLOTS).persist()
        df.count()
        return df


class Anonymization(Workload):
    """transcripts -> conv_turn_rate_series -> kapra_anonymize (driver
    combo path) and naive_anonymize (Mondrian, node split) of the same
    series."""

    salt = 1
    N_CONVS = 6_000
    SAX_LEVEL = 8
    MAX_LEVEL = 10

    def setup(self):
        import inputs

        self.conv = inputs.conversations(
            self.rng, self.N_CONVS, turns_lo=12, turns_hi=36, gap_mean_s=45.0,
            start_spread_s=7 * 86400)
        path = os.path.join(self.scratch, "transcripts.parquet")
        self.rows = inputs.write_transcripts(self.conv, self.rng, path)
        self.tx = self.load(path)

    def run_pass(self, i, sp):
        from pyspark.sql import functions as F

        from kapra_timeseries_anonymization_spark.operators.kapra import (
            kapra_anonymize,
        )
        from kapra_timeseries_anonymization_spark.operators.naive import (
            naive_anonymize,
        )
        from kapra_timeseries_anonymization_spark.sources.transcripts import (
            conv_turn_rate_series,
        )

        with sp(i, "derive"):
            series = conv_turn_rate_series(self.tx, n_buckets=8).persist()
            series.count()
        with sp(i, "kapra"):
            kg = kapra_anonymize(series, K=K, P=P, sax_level=self.SAX_LEVEL,
                                 t=8)
        with sp(i, "naive"):
            ng = naive_anonymize(series, K=K, P=P, max_level=self.MAX_LEVEL,
                                 t=8)
        with sp(i, "result"):
            kd = kg.records.agg(
                F.count(F.lit(1)),
                F.bit_xor(F.xxhash64("original_index", "group_id", "pattern",
                                     "level", "p_order", "c_order", "pl")),
            ).first()
            nd = ng.records.agg(
                F.count(F.lit(1)),
                F.bit_xor(F.xxhash64("original_index", "group_id", "leaf_seq",
                                     "row_ord", "pattern", "level", "vl")),
            ).first()
        self.out[i] = (series, kg, ng)
        return (tuple(kd), len(kg.groups), kg.n_suppressed, kg.avg_vl,
                tuple(nd), ng.n_groups, ng.avg_vl)

    def release(self, i):
        series, kg, ng = self.out.pop(i)
        kg.records.unpersist()
        ng.records.unpersist()
        series.unpersist()

    def check(self, i):
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        import inputs
        from checks import check_kapra, check_naive

        _, kg, ng = self.out[i]
        # original_index is Spark's xxhash64 of conv_id; hash the generated
        # ids with the SQL builtin to line the numpy series up with it
        ids = self.spark.createDataFrame(
            pd.DataFrame({"conv_id": self.conv.conv_ids}))
        h = ids.select("conv_id", F.xxhash64("conv_id").alias("h")).toPandas()
        hashes = h.set_index("conv_id")["h"].loc[self.conv.conv_ids].to_numpy()
        order = np.argsort(hashes, kind="stable")
        oindex = hashes[order]
        series = inputs.turn_rate_series(self.conv, 8)[order]

        krec = kg.records.select("original_index", "group_id", "pattern",
                                 "level", "pl", "p_order").toPandas()
        nrec = (ng.records.select("original_index", "group_id", "leaf_seq",
                                  "row_ord", "pattern", "level", "vl")
                .toPandas()
                .sort_values(["group_id", "leaf_seq", "row_ord"],
                             kind="stable"))
        errors = check_kapra(series, oindex, krec, kg.groups, kg.avg_vl,
                             kg.avg_pl, kg.n_suppressed, self.N_CONVS, K, P,
                             self.SAX_LEVEL)
        errors += check_naive(series.astype(np.int64), oindex, nrec,
                              ng.n_groups, ng.avg_vl, ng.avg_pl, K, P,
                              self.MAX_LEVEL)
        return errors

    def counts(self, i):
        _, kg, ng = self.out[i]
        return {"kapra.groups": len(kg.groups),
                "kapra.suppressed": kg.n_suppressed,
                "naive.groups": ng.n_groups}


class RetentionTiers(Workload):
    """points -> materialize_cascade twice (fresh, then a no-op resume)
    -> compress_chunks -> decompress_chunks."""

    salt = 3
    N_CONVS = 250
    KEYS = ["conv_id"]

    def setup(self):
        import inputs

        self.conv = inputs.conversations(
            self.rng, self.N_CONVS, turns_lo=240, turns_hi=240,
            gap_mean_s=310.0, start_spread_s=2 * 86400, pace_sigma=0.3)
        path = os.path.join(self.scratch, "points.parquet")
        self.rows = inputs.write_points(self.conv, path)
        self.points = self.load(path)

    def run_pass(self, i, sp):
        from pyspark.sql import functions as F

        from inputs import T0_S
        from kapra_timeseries_anonymization_spark.operators.chunks import (
            chunk_stats,
            compress_chunks,
            decompress_chunks,
        )
        from kapra_timeseries_anonymization_spark.plans.lineage import (
            materialize_cascade,
            read_tier,
        )

        store = os.path.join(self.scratch, f"tiers-{i}")
        args = (self.spark, self.points, store, self.KEYS, "ts", "value")
        with sp(i, "cascade"):
            first = materialize_cascade(*args, run_id=f"pass-{i}")
        with sp(i, "resume"):
            again = materialize_cascade(*args, run_id=f"pass-{i}-resume")
        with sp(i, "compress"):
            chunks = compress_chunks(self.points, self.KEYS, "ts", "value",
                                     chunk_interval_sec=86400).persist()
            n_chunks = chunks.count()
        with sp(i, "decompress"):
            dec = (decompress_chunks(chunks, self.KEYS, "ts", "value")
                   .groupBy("conv_id")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("value").alias("sum_value"),
                        F.sum(F.unix_micros("ts") - T0_S * 1_000_000)
                        .alias("sum_ts_us"))
                   .toPandas())
        with sp(i, "result"):
            tiers = tuple(
                tuple(read_tier(self.spark, store, tier).agg(
                    F.count(F.lit(1)), F.sum("n"),
                    F.bit_xor(F.xxhash64("conv_id", "bucket", "n",
                                         "sum_value", "min_value",
                                         "max_value")),
                ).first())
                for tier in ("1m", "1h", "1d"))
            stats = chunk_stats(chunks).first()
        self.out[i] = (store, first, again, chunks, n_chunks, dec, stats)
        dec_digest = tuple(sorted(zip(dec["conv_id"], dec["n"],
                                      dec["sum_value"], dec["sum_ts_us"])))
        return (tuple(first.items()), tuple(again.items()), n_chunks,
                stats["n_bytes"], tiers, hash(dec_digest))

    def release(self, i):
        store, _, _, chunks, *_ = self.out.pop(i)
        chunks.unpersist()
        shutil.rmtree(store, ignore_errors=True)

    def check(self, i):
        import duckdb
        import pandas as pd

        from checks import check_decompressed, check_tiers

        store, first, again, chunks, n_chunks, dec, _ = self.out[i]
        c = self.conv
        raw = pd.DataFrame({"conv_id": c.conv_ids[c.conv], "ts_s": c.ts_s,
                            "value": c.gap_s.astype(float)})
        con = duckdb.connect()
        stored = {
            tier: con.execute(f"""
                SELECT conv_id, epoch(bucket)::BIGINT AS bucket_s, n,
                       sum_value, min_value, max_value
                FROM read_parquet('{store}/{tier}/*/*.parquet',
                                  hive_partitioning = true)""").df()
            for tier in ("1m", "1h", "1d")}
        lineage = con.execute(f"""
            SELECT tier, row_count FROM read_parquet(
                '{store}/lineage_log/*.parquet')""").df()
        con.close()
        errors = check_tiers(raw, stored, lineage, again)
        if not all(first.values()):
            errors.append(f"fresh cascade wrote no partitions: {first}")
        return errors + check_decompressed(raw, dec, n_chunks)

    def counts(self, i):
        _, first, again, _, n_chunks, _, stats = self.out[i]
        return {"cascade.partitions": sum(first.values()),
                "resume.partitions": sum(again.values()),
                "compress.chunks": n_chunks,
                "compress.bytes_per_point": stats["n_bytes"]
                / stats["n_points"]}


WORKLOADS = {
    "anonymization": Anonymization,
    "retention_tiers": RetentionTiers,
}

COUNTS = ("kapra.groups", "kapra.suppressed", "naive.groups",
          "cascade.partitions", "resume.partitions", "compress.chunks",
          "compress.bytes_per_point")


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def run(args) -> dict:
    import tracing

    scratch = _mkdir(ROOT, ".bench_scratch", f"{args.workload}-{os.getpid()}")
    # the package zip, Python-worker temp files and the JVM's scratch all
    # go under the run's scratch directory
    os.environ["TMPDIR"] = tempfile.tempdir = _mkdir(scratch, "tmp")
    spark = None
    try:
        spark = start_session(scratch, args.workload, bool(args.trace))
        w = WORKLOADS[args.workload](spark, args.seed, scratch)
        w.setup()
        setup_s = time.perf_counter() - _T0
        print(f"[perfbench] set-up {setup_s:.2f} s, {w.rows} rows",
              file=sys.stderr)

        spans = tracing.Spans(spark.sparkContext)
        passes = []  # (wall_s, cpu_s, digest); pass 0 is the cold pass
        measure_from = None  # set when the cold pass ends
        while (len(passes) <= MIN_TIMED_PASSES
               or time.perf_counter() - measure_from < args.seconds):
            i = len(passes)
            if i >= 2 and (time.perf_counter() - _T0 + 1.5 * passes[-1][0]
                           > SOFT_BUDGET_S):
                print(f"[perfbench] time budget: {i - 1} warm pass(es)",
                      file=sys.stderr)
                break
            if i:
                w.release(i - 1)
            cpu0, t0 = tracing.tree_cpu_s(), time.perf_counter()
            digest = w.run_pass(i, spans.span)
            wall = time.perf_counter() - t0
            passes.append((wall, tracing.tree_cpu_s() - cpu0, digest))
            print(f"[perfbench] pass {i}: {wall:.2f} s", file=sys.stderr)
            if i == 0:
                measure_from = time.perf_counter()
        last = len(passes) - 1
        t0 = time.perf_counter()
        errors = w.check(last)
        counts = w.counts(last)
        peak_rss = tracing.tree_peak_rss_mb()
        print(f"[perfbench] check: {time.perf_counter() - t0:.2f} s",
              file=sys.stderr)
    finally:
        signal.alarm(0)
        try:
            stop_session(spark)
            print(f"[perfbench] stopped at {time.perf_counter() - _T0:.2f} s",
                  file=sys.stderr)
        finally:
            if sys.exc_info()[0] is not None:
                _remove_scratch(scratch)

    for e in errors:
        print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
    good = passes[last][2] if not errors else None
    failed = sum(1 for _, _, d in passes if d != good)
    timed = passes[1:]
    mrows = w.rows / 1e6
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (passes[0][0], "s"),
            "rows_per_s": (w.rows / statistics.median(p[0] for p in timed),
                           "rows/s"),
            "cpu_s_per_mrow": (statistics.median(p[1] for p in timed) / mrows,
                               "s/Mrow"),
        }
    else:
        jobs = tracing.fold_jobs(tracing.read_event_log(
            os.path.join(scratch, "eventlog")))
        timed_idx = list(range(1, len(passes)))
        layer = tracing.per_layer_metrics(
            tracing.span_report(spans.spans, jobs), timed_idx)
        layer["trace.span_share"] = tracing.span_share(
            spans.spans, set(timed_idx), jobs)
        layer["proc.peak_rss_mb"] = peak_rss
        layer.update({k: counts.get(k, 0) for k in COUNTS})
        units = _layer_units()
        metrics = {k: (v, units[k]) for k, v in layer.items()}
    _remove_scratch(scratch)
    return {
        "correct": not errors,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layer_units() -> dict[str, str]:
    from tracing import SPAN_FIELDS, SPANS

    out = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()}
    out.update({"cold.python_s": "s", "cold.gc_s": "s",
                "trace.span_share": "ratio", "proc.peak_rss_mb": "MB",
                "compress.bytes_per_point": "bytes"})
    out.update({k: "count" for k in COUNTS if k not in out})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _set_subreaper()
    signal.signal(signal.SIGALRM, _interrupt)
    signal.signal(signal.SIGTERM, _interrupt)
    signal.alarm(DEADLINE_S)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
