"""Self-tests of the benchmark: every output check can fail, and the
trace agrees with Spark's own accounting.

    python3 -m pytest perfbench -q      (from the repository root)
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pytest  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
from tests.oracle.reference_impl import (  # noqa: E402
    kapra_pipeline,
    naive_pipeline,
)

K, P = 8, 2


@pytest.fixture(scope="module")
def conv():
    return inputs.conversations(np.random.default_rng([7, 1]), 600, 12, 36,
                                45.0, 7 * 86400)


@pytest.fixture(scope="module")
def series(conv):
    """Turn-rate series in a shuffled original_index order."""
    oindex = np.sort(np.random.default_rng(3).choice(
        10**12, size=conv.conv_ids.size, replace=False))
    return inputs.turn_rate_series(conv), oindex


def _kapra_output(x, oindex):
    """Engine-shaped KAPRA output built from the oracle itself."""
    ora = kapra_pipeline(x, K=K, P=P, sax_level=8)
    rec = pd.DataFrame({
        "original_index": oindex[ora.record_index],
        "group_id": ora.group_id, "pattern": ora.pattern,
        "level": ora.level, "pl": ora.pl,
        "p_order": 0,  # one P-subgroup per group: every group has >= K
    })
    groups = [{"lower": lo, "upper": hi, "vl": vl} for lo, hi, vl in
              zip(ora.group_lower, ora.group_upper, ora.group_vl)]
    return rec, groups, ora


def _check_kapra(x, oindex, rec, groups, ora):
    return checks.check_kapra(x, oindex, rec, groups, ora.avg_vl, ora.avg_pl,
                              len(ora.suppressed), x.shape[0], K, P, 8)


def test_kapra_check_accepts_oracle_output(series):
    x, oindex = series
    assert _check_kapra(x, oindex, *_kapra_output(x, oindex)) == []


def test_kapra_check_catches_one_corrupt_group_id(series):
    x, oindex = series
    rec, groups, ora = _kapra_output(x, oindex)
    rec.loc[5, "group_id"] = rec.loc[5, "group_id"] % len(groups) + 1
    errors = _check_kapra(x, oindex, rec, groups, ora)
    assert any(e.startswith("group_id") for e in errors), errors


def test_kapra_check_catches_a_loose_envelope(series):
    x, oindex = series
    rec, groups, ora = _kapra_output(x, oindex)
    groups[0] = {**groups[0], "upper": groups[0]["upper"] + 1.0}
    errors = _check_kapra(x, oindex, rec, groups, ora)
    assert any(e.startswith("envelopes") for e in errors), errors


def _naive_output(x, oindex):
    ora = naive_pipeline(x, K=K, P=P, max_level=10)
    rec = pd.DataFrame({
        "original_index": oindex[ora.record_index],
        "group_id": ora.group_id, "pattern": ora.pattern,
        "level": ora.level, "vl": ora.leaf_vl})
    return rec, ora


def test_naive_check_accepts_oracle_output_and_catches_a_corrupt_group_id(
        series):
    x, oindex = series
    xi = x.astype(np.int64)
    rec, ora = _naive_output(xi, oindex)
    args = (ora.avg_vl, ora.avg_pl, K, P, 10)
    assert checks.check_naive(xi, oindex, rec, max(ora.group_id), *args) == []
    rec.loc[3, "group_id"] += 1
    errors = checks.check_naive(xi, oindex, rec, max(ora.group_id), *args)
    assert any(e.startswith("group_id") for e in errors), errors


@pytest.fixture(scope="module")
def raw():
    c = inputs.conversations(np.random.default_rng([7, 3]), 20, 50, 80,
                             900.0, 2 * 86400, pace_sigma=0.3)
    return pd.DataFrame({"conv_id": c.conv_ids[c.conv], "ts_s": c.ts_s,
                         "value": c.gap_s.astype(float)})


def _tiers(raw):
    out = {}
    for tier, sec in checks.TIERS:
        b = raw.assign(bucket_s=raw["ts_s"] // sec * sec)
        out[tier] = (b.groupby(["conv_id", "bucket_s"], as_index=False)
                     .agg(n=("value", "size"), sum_value=("value", "sum"),
                          min_value=("value", "min"),
                          max_value=("value", "max")))
    lineage = pd.DataFrame({"tier": [t for t, _ in checks.TIERS],
                            "row_count": [len(out[t]) for t, _ in
                                          checks.TIERS]})
    return out, lineage


def test_tier_check_accepts_exact_tiers_and_catches_one_altered_row(raw):
    stored, lineage = _tiers(raw)
    resume = {"1m": 0, "1h": 0, "1d": 0}
    assert checks.check_tiers(raw, stored, lineage, resume) == []
    stored["1h"].loc[2, "max_value"] += 1.0
    errors = checks.check_tiers(raw, stored, lineage, resume)
    assert errors == ["1h tier rows: 1 mismatches"], errors


def test_tier_check_catches_a_resume_that_writes(raw):
    stored, lineage = _tiers(raw)
    errors = checks.check_tiers(raw, stored, lineage,
                                {"1m": 1, "1h": 0, "1d": 0})
    assert any(e.startswith("resume") for e in errors), errors


def _decompressed(raw):
    return (raw.assign(ts_us=(raw["ts_s"] - inputs.T0_S) * 1_000_000)
            .groupby("conv_id", as_index=False)
            .agg(n=("value", "size"), sum_value=("value", "sum"),
                 sum_ts_us=("ts_us", "sum")))


def test_decompress_check_catches_one_dropped_point(raw):
    n_chunks = raw.assign(d=raw["ts_s"] // 86400)[["conv_id", "d"]] \
        .drop_duplicates().shape[0]
    assert checks.check_decompressed(raw, _decompressed(raw), n_chunks) == []
    errors = checks.check_decompressed(
        raw, _decompressed(raw.drop(index=17)), n_chunks)
    assert errors == ["decompressed keys: 1 mismatches"], errors


def test_union_len_merges_overlaps():
    assert tracing._union_len([(0, 2), (1, 3), (5, 6)]) == 4


def test_traced_pass_matches_spark_accounting(tmp_path):
    """One traced anonymization pass on a small input: the event-log fold
    gives each span the jobs Spark's status tracker lists for its group,
    executor run time fits in slots x wall, the spans cover the pass,
    and the output passes the checks."""
    import run

    scratch = str(tmp_path)
    os.environ["TMPDIR"] = run._mkdir(scratch, "tmp")
    spark = run.start_session(scratch, "selftest", traced=True)
    try:
        w = run.Anonymization(spark, 5, scratch)
        w.N_CONVS = 400
        w.setup()
        spans = tracing.Spans(spark.sparkContext)
        w.run_pass(0, spans.span)
        tracker = spark.sparkContext.statusTracker()
        expected = {sp.group: len(tracker.getJobIdsForGroup(sp.group))
                    for sp in spans.spans}
        assert w.check(0) == []
    finally:
        run.stop_session(spark)
    assert tracing.descendants() == []

    jobs = tracing.fold_jobs(
        tracing.read_event_log(os.path.join(scratch, "eventlog")))
    report = tracing.span_report(spans.spans, jobs)
    assert {g: r["jobs"] for g, r in report.items()} == expected
    assert all(n > 0 for n in expected.values())
    wall = spans.spans[-1].end - spans.spans[0].start
    assert sum(r["exec_run_s"] for r in report.values()) <= run.SLOTS * wall
    assert tracing.span_share(spans.spans, {0}, jobs) >= 0.95
    assert report["kapra#0"]["python_s"] > 0
    assert report["naive#0"]["python_s"] > 0
