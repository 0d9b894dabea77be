"""Resumable tier materialization: idempotent re-runs, mid-cascade resume,
torn-partition rewrite, and exactness of the stored cascade vs a direct
computation."""

import glob
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kapra_timeseries_anonymization_spark.operators.rollup import cascade
from kapra_timeseries_anonymization_spark.plans.lineage import (
    materialize_cascade,
    read_lineage,
    read_tier,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def _tier_pdf(spark, base, tier):
    return (
        read_tier(spark, base, tier)
        .drop("p_date")
        .toPandas()
        .sort_values(["event_type", "bucket"])
        .reset_index(drop=True)
    )


def _direct_pdf(events, tier):
    d = cascade(events, ["event_type"], "ts", "value")[tier]
    return (
        d.toPandas().sort_values(["event_type", "bucket"]).reset_index(drop=True)
    )


def test_cascade_materializes_exactly(spark, events, tmp_path):
    base = str(tmp_path / "tiers")
    counts = materialize_cascade(
        spark, events, base, ["event_type"], "ts", "value"
    )
    assert all(v > 0 for v in counts.values())
    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            _tier_pdf(spark, base, tier), _direct_pdf(events, tier),
            check_dtype=False,
        )
    lin = read_lineage(spark, base).toPandas()
    # lineage row_counts match stored partition row counts
    stored = (
        read_tier(spark, base, "1m")
        .groupBy("p_date")
        .count()
        .toPandas()
        .set_index("p_date")["count"]
    )
    for _, r in lin[lin.tier == "1m"].iterrows():
        assert stored[r.partition_key] == r.row_count


def test_rerun_is_noop(spark, events, tmp_path):
    base = str(tmp_path / "tiers")
    materialize_cascade(spark, events, base, ["event_type"], "ts", "value")
    n_lineage_1 = read_lineage(spark, base).count()
    counts = materialize_cascade(
        spark, events, base, ["event_type"], "ts", "value", run_id="run-1"
    )
    assert counts == {"1m": 0, "1h": 0, "1d": 0}
    assert read_lineage(spark, base).count() == n_lineage_1
    pd.testing.assert_frame_equal(
        _tier_pdf(spark, base, "1d"), _direct_pdf(events, "1d"),
        check_dtype=False,
    )


def test_resume_mid_cascade(spark, events, tmp_path):
    """Kill after the 1m tier; the resumed run must skip 1m, build 1h/1d,
    and land on exactly the one-shot result."""
    base = str(tmp_path / "tiers")
    materialize_cascade(
        spark, events, base, ["event_type"], "ts", "value", tiers=("1m",)
    )
    counts = materialize_cascade(
        spark, events, base, ["event_type"], "ts", "value", run_id="resume"
    )
    assert counts["1m"] == 0 and counts["1h"] > 0 and counts["1d"] > 0
    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            _tier_pdf(spark, base, tier), _direct_pdf(events, tier),
            check_dtype=False,
        )


def test_torn_partition_rewritten(spark, events, tmp_path):
    """A data partition without a lineage row (torn write) is rewritten on
    resume — and the rewrite is idempotent (no duplicate rows)."""
    base = str(tmp_path / "tiers")
    materialize_cascade(spark, events, base, ["event_type"], "ts", "value")
    lin = read_lineage(spark, base)
    victim = lin.filter(lin.tier == "1h").select("partition_key").first()[0]
    # rewrite the lineage log without the victim row (simulates a crash
    # between the data write and the lineage append)
    keep = lin.filter(
        ~((lin.tier == "1h") & (lin.partition_key == victim))
    ).toPandas()
    shutil.rmtree(os.path.join(base, "lineage_log"))
    spark.createDataFrame(keep).write.parquet(os.path.join(base, "lineage_log"))
    # corrupt the victim's data too: drop its files entirely
    for f in glob.glob(os.path.join(base, "1h", f"p_date={victim}", "*")):
        os.remove(f)

    counts = materialize_cascade(
        spark, events, base, ["event_type"], "ts", "value", run_id="heal"
    )
    assert counts["1h"] == 1 and counts["1m"] == 0
    pd.testing.assert_frame_equal(
        _tier_pdf(spark, base, "1h"), _direct_pdf(events, "1h"),
        check_dtype=False,
    )
    # no duplicate lineage beyond the healed row
    healed = read_lineage(spark, base)
    assert (
        healed.filter(
            (healed.tier == "1h") & (healed.partition_key == victim)
        ).count()
        == 1
    )


def test_watermarks_monotone(spark, events, tmp_path):
    base = str(tmp_path / "tiers")
    materialize_cascade(spark, events, base, ["event_type"], "ts", "value")
    lin = read_lineage(spark, base).toPandas()
    for tier, grp in lin.groupby("tier"):
        g = grp.sort_values("partition_key")
        assert g["watermark_us"].is_monotonic_increasing
        assert (g["row_count"] > 0).all()


def test_torn_partition_with_garbage_files_overwritten(spark, events, tmp_path):
    """Harder torn-write case (Iceberg-fallback atomicity, r02): the
    victim partition contains half-written GARBAGE files (crash mid-write,
    lineage row never appended). Resume must rewrite the partition via
    dynamic partition overwrite without ever reading the garbage, and the
    healed tier must equal the direct computation."""
    base = str(tmp_path / "tiers")
    materialize_cascade(spark, events, base, ["event_type"], "ts", "value")
    lin = read_lineage(spark, base)
    victim = lin.filter(lin.tier == "1h").select("partition_key").first()[0]
    keep = lin.filter(
        ~((lin.tier == "1h") & (lin.partition_key == victim))
    ).toPandas()
    shutil.rmtree(os.path.join(base, "lineage_log"))
    spark.createDataFrame(keep).write.parquet(os.path.join(base, "lineage_log"))
    # simulate a torn write: truncate one real parquet file to garbage and
    # drop an extra non-parquet temp file in the partition dir
    part_dir = os.path.join(base, "1h", f"p_date={victim}")
    files = sorted(glob.glob(os.path.join(part_dir, "*.parquet")))
    assert files
    with open(files[0], "wb") as f:
        f.write(b"\x00garbage not parquet")
    with open(os.path.join(part_dir, "_temporary_000.parquet.crc"), "wb") as f:
        f.write(b"junk")

    counts = materialize_cascade(
        spark, events, base, ["event_type"], "ts", "value", run_id="heal2"
    )
    assert counts["1h"] == 1
    pd.testing.assert_frame_equal(
        _tier_pdf(spark, base, "1h"), _direct_pdf(events, "1h"),
        check_dtype=False,
    )
    # the garbage parquet file must be gone (dynamic overwrite replaced
    # the partition's data files)
    assert not any(
        open(p, "rb").read(4) == b"\x00gar"
        for p in glob.glob(os.path.join(part_dir, "*.parquet"))
    )


def test_late_partition_appended_incrementally(spark, events, tmp_path):
    """Incremental-append contract: a source that grows a NEW day writes
    only that day's partitions on the next run; already-complete
    partitions are skipped (watermark semantics — late rows into a
    completed partition do NOT trigger a rewrite, by contract)."""
    base = str(tmp_path / "tiers")
    days = [r["d"] for r in events.select(
        F.to_date("ts").alias("d")).distinct().orderBy("d").collect()]
    assert len(days) >= 2
    head = events.filter(F.to_date("ts") < F.lit(days[-1]))
    c1 = materialize_cascade(spark, head, base, ["event_type"], "ts", "value")
    assert c1["1d"] == len(days) - 1
    c2 = materialize_cascade(spark, events, base, ["event_type"], "ts", "value",
                             run_id="late")
    # only the new day is written at every tier
    assert c2["1d"] == 1
    lin = read_lineage(spark, base).toPandas()
    last_key = str(days[-1])
    for tier in ("1m", "1h", "1d"):
        rows = lin[(lin.tier == tier) & (lin.partition_key == last_key)]
        assert len(rows) == 1 and set(rows.run_id) == {"late"}
    # stored cascade == direct full computation (the new day landed whole)
    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            _tier_pdf(spark, base, tier), _direct_pdf(events, tier),
            check_dtype=False,
        )


def test_null_timestamps_on_fresh_run_and_resume(spark, events, tmp_path):
    """Rows with a null timestamp roll up into a null bucket and land in
    the null p_date partition. A null key never counts as complete, so
    every run rewrites that one partition in place (no duplicate rows),
    while a resume skips every completed day."""
    base = str(tmp_path / "tiers")
    nulls = events.filter(F.col("event_id") % 100 == 0).withColumn(
        "ts", F.lit(None).cast(events.schema["ts"].dataType)
    )
    assert nulls.count() > 0
    src = events.unionByName(nulls)
    n_days = events.select(F.to_date("ts")).distinct().count()
    fresh = materialize_cascade(spark, src, base, ["event_type"], "ts", "value")
    assert fresh == {"1m": n_days + 1, "1h": n_days + 1, "1d": n_days + 1}
    again = materialize_cascade(
        spark, src, base, ["event_type"], "ts", "value", run_id="resume"
    )
    assert again == {"1m": 1, "1h": 1, "1d": 1}
    for tier in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            _tier_pdf(spark, base, tier), _direct_pdf(src, tier),
            check_dtype=False,
        )
    lin = read_lineage(spark, base).toPandas()
    assert (lin.partition_key.isna().groupby(lin.tier).sum() == 2).all()


def test_cascade_job_counts(spark, events, tmp_path):
    """Spark jobs per call, read with the job group's tracker: a fresh
    3-tier cascade runs 15 and a no-op resume 2 (the lineage read plus
    the raw tier's empty rollup; the stored tiers' completed days are
    pruned from the file index); the bounds leave headroom for AQE."""
    base = str(tmp_path / "tiers")
    sc = spark.sparkContext
    jobs = {}
    for run_id in ("fresh", "resume"):
        sc.setJobGroup(f"cascade-{run_id}", run_id)
        try:
            materialize_cascade(
                spark, events, base, ["event_type"], "ts", "value",
                run_id=run_id,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[run_id] = len(sc.statusTracker().getJobIdsForGroup(
            f"cascade-{run_id}"))
    assert jobs["fresh"] <= 20 and jobs["resume"] <= 3, jobs
