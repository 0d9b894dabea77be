"""Kernel unit tests against the golden vectors of FIXTURES.md §F3 and the
edge semantics of SURVEY.md §4.4."""

import numpy as np
import pytest

from kapra_timeseries_anonymization_spark.functions.kernels import (
    envelope,
    envelope_vl,
    feature_vector_block,
    merge_envelopes,
    paa_block,
    pattern_loss_single,
    sax_all_levels_block,
    sax_block,
    sax_to_values,
    znorm_block,
)

TS = np.array([[14, 22, 19, 23, 35, 36, 35, 44]], dtype=float)


@pytest.mark.parametrize(
    "level,expected",
    [(1, "aaaa"), (2, "aabb"), (3, "aacc"), (8, "bbgg"), (20, "cepr")],
)
def test_sax_golden_vectors(level, expected):
    assert sax_block(TS, level)[0] == expected


def test_sax_all_levels_matches_single():
    rng = np.random.default_rng(7)
    block = rng.integers(0, 51, size=(50, 8)).astype(float)
    all_lv = sax_all_levels_block(block, [1, 2, 3, 5, 8, 20])
    for lv in [1, 2, 3, 5, 8, 20]:
        assert list(all_lv[lv]) == list(sax_block(block, lv))


def test_sax_invalid_level_raises():
    with pytest.raises(ValueError):
        sax_block(TS, 21)


def test_feature_vector_length_and_order():
    fv = feature_vector_block(np.arange(8, dtype=float).reshape(1, -1))[0]
    assert fv.shape == (56,)
    # first entries follow i-outer, j-inner loop order: q0-q1, q0-q2, ...
    assert fv[0] == -1 and fv[1] == -2 and fv[6] == -7
    # row 1 starts with q1-q0
    assert fv[7] == 1


def test_sax_to_values_golden():
    vals = sax_to_values("bggb", 8, 8)
    expected = np.array([-0.91, -0.91, 0.91, 0.91, 0.91, 0.91, -0.91, -0.91])
    np.testing.assert_allclose(vals, expected, atol=1e-12)


def test_pattern_loss_golden():
    sax8 = sax_block(TS, 8)[0]
    pl = pattern_loss_single(TS[0], sax8, 8)
    assert abs(pl - 0.072952835) < 1e-6


def test_flat_series_edges():
    flat = np.full((1, 8), 25.0)
    assert (znorm_block(flat) == 0).all()
    assert sax_block(flat, 8)[0] == "dddd"
    assert pattern_loss_single(flat[0], "dddd", 8) == 0.0


def test_one_zero_norm_gives_pl_one():
    # flat original (zero FV) vs non-flat reconstruction -> 1.0
    assert pattern_loss_single(np.full(8, 25.0), "abgh", 8) == 1.0


def test_envelope_golden():
    lo, hi, vl = envelope(np.array([[1, 2, 3], [3, 4, 5]], dtype=float))
    np.testing.assert_array_equal(lo, [1, 2, 3])
    np.testing.assert_array_equal(hi, [3, 4, 5])
    assert vl == 2.0


def test_envelope_merge_associativity():
    rng = np.random.default_rng(3)
    a = rng.normal(size=(10, 8))
    b = rng.normal(size=(7, 8))
    lo_a, hi_a, _ = envelope(a)
    lo_b, hi_b, _ = envelope(b)
    lo_m, hi_m = merge_envelopes(lo_a, hi_a, lo_b, hi_b)
    lo_all, hi_all, vl_all = envelope(np.vstack([a, b]))
    np.testing.assert_array_equal(lo_m, lo_all)
    np.testing.assert_array_equal(hi_m, hi_all)
    assert envelope_vl(lo_m, hi_m) == vl_all


def test_paa_non_divisible_matches_array_split():
    rng = np.random.default_rng(5)
    block = rng.normal(size=(4, 10))
    got = paa_block(block, 4)
    for r in range(4):
        exp = np.array([np.mean(s) for s in np.array_split(block[r], 4)])
        np.testing.assert_array_equal(got[r], exp)


def test_paa_identity_when_equal():
    block = znorm_block(TS)
    np.testing.assert_array_equal(paa_block(block, 8), block)


def test_znorm_matches_reference_formula():
    rng = np.random.default_rng(11)
    block = rng.integers(0, 51, size=(20, 8)).astype(float)
    zn = znorm_block(block)
    for r in range(20):
        s = block[r]
        np.testing.assert_array_equal(zn[r], (s - s.mean()) / s.std())


def _sax_mix():
    """6,003 series: random scales, flat rows (sigma < 1e-6), integers."""
    rng = np.random.default_rng(123)
    rows = []
    for i in range(4000):
        scale = 10.0 ** rng.integers(-3, 5)
        rows.append([float(x) for x in rng.standard_normal(8) * scale])
    rows += [[5.0] * 8, [0.0] * 8, [1e-9 + 1.0] * 8]      # flat rows
    rows += [[float(x) for x in rng.integers(0, 50, 8)] for _ in range(2000)]
    return rows


def test_sax_pl_udf_matches_kernels(spark):
    """The Arrow SAX+PL UDF, at all table levels 2..20 plus the level-1
    literal: words string-exact vs sax_all_levels_block, pl_vec within
    1e-12 of pattern_loss_single (1.0 below level 3, KAPRA's policy),
    bit-identical PL when the same rows arrive in 7-row Arrow batches,
    and the same words with a null pl_vec under with_pl=False."""
    from pyspark.sql import functions as F

    from kapra_timeseries_anonymization_spark.functions.sax_udfs import (
        sax_pl_udf,
    )

    rows = _sax_mix()
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)], "id long, values array<double>"
    )
    levels = [1, 2] + list(range(3, 21))

    def run():
        return (
            df.select("id", sax_pl_udf(levels)(F.col("values")).alias("s"))
            .orderBy("id")
            .collect()
        )

    got = run()
    bare = (
        df.select("id", sax_pl_udf(levels, with_pl=False)(F.col("values"))
                  .alias("s"))
        .orderBy("id")
        .collect()
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        small = run()
    finally:
        spark.conf.set(conf, old)
    block = np.array(rows)
    want = sax_all_levels_block(block, levels)
    assert len(got) == len(rows)
    for g, g7, gb in zip(got, small, bare):
        i, s = g["id"], g["s"]
        assert list(s["sax_vec"]) == [want[lv][i] for lv in levels], i
        assert list(s["pl_vec"]) == list(g7["s"]["pl_vec"]), i
        assert list(gb["s"]["sax_vec"]) == list(s["sax_vec"]), i
        assert gb["s"]["pl_vec"] is None, i
        for lv, pl in zip(levels, s["pl_vec"]):
            exp = (pattern_loss_single(block[i], want[lv][i], lv)
                   if lv >= 3 else 1.0)
            assert abs(pl - exp) <= 1e-12, (i, lv, pl, exp)
