"""Output checks, computed apart from the engine: the numpy oracles for
the anonymization paths and DuckDB for the retention tiers. Each check
returns a list of error strings; empty means the output is correct.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from inputs import T0_S
from tests.oracle.reference_impl import kapra_pipeline, naive_pipeline

TOL = 1e-9
TIERS = (("1m", 60), ("1h", 3600), ("1d", 86400))


def _count_bad(what: str, n_bad: int, errors: list[str]) -> None:
    if n_bad:
        errors.append(f"{what}: {n_bad} mismatches")


def check_kapra(series: np.ndarray, oindex: np.ndarray, rec: pd.DataFrame,
                groups: list[dict], avg_vl: float, avg_pl: float,
                n_suppressed: int, n_inputs: int, K: int, P: int,
                sax_level: int) -> list[str]:
    """``series`` holds one row per input record in ascending
    ``oindex`` (original_index) order, the reference's record order.
    ``rec`` holds the engine's records (original_index, group_id,
    pattern, level, pl, p_order); ``groups`` its GroupID-ordered groups."""
    errors: list[str] = []
    ora = kapra_pipeline(series, K=K, P=P, sax_level=sax_level)
    n = series.shape[0]
    pos = np.searchsorted(oindex, rec["original_index"].to_numpy())
    pos = np.minimum(pos, n - 1)
    if not np.array_equal(oindex[pos], rec["original_index"].to_numpy()):
        return errors + ["records carry an unknown original_index"]
    if np.unique(pos).size != pos.size:
        return errors + ["a record appears twice"]
    if len(rec) != len(ora.record_index):
        errors.append(f"{len(rec)} records, oracle has "
                      f"{len(ora.record_index)}")

    # record -> group_id, pattern, level exactly; pl within TOL
    exp_gid = np.zeros(n, np.int64)
    exp_level = np.full(n, -1, np.int64)
    exp_pat = np.full(n, None, dtype=object)
    exp_pl = np.full(n, np.nan)
    idx = np.asarray(ora.record_index, np.int64)
    exp_gid[idx] = ora.group_id
    exp_level[idx] = ora.level
    exp_pat[idx] = ora.pattern
    exp_pl[idx] = ora.pl
    gid = rec["group_id"].to_numpy(np.int64)
    _count_bad("group_id", int((exp_gid[pos] != gid).sum()), errors)
    _count_bad("pattern", int((exp_pat[pos] != rec["pattern"].to_numpy(
        object)).sum()), errors)
    _count_bad("level", int((exp_level[pos] != rec["level"].to_numpy()).sum()),
               errors)
    pl = rec["pl"].to_numpy(np.float64)
    _count_bad("pl", int((~(np.abs(exp_pl[pos] - pl) <= TOL)).sum()), errors)

    if len(groups) != len(ora.group_vl):
        errors.append(f"{len(groups)} groups, oracle has {len(ora.group_vl)}")
    else:
        _count_bad("group vl", sum(
            abs(g["vl"] - vl) > TOL for g, vl in zip(groups, ora.group_vl)),
            errors)
    if abs(avg_vl - ora.avg_vl) > TOL:
        errors.append(f"avg_vl {avg_vl!r} != oracle {ora.avg_vl!r}")
    if abs(avg_pl - ora.avg_pl) > TOL:
        errors.append(f"avg_pl {avg_pl!r} != oracle {ora.avg_pl!r}")
    if n_suppressed != len(ora.suppressed):
        errors.append(f"{n_suppressed} suppressed, oracle has "
                      f"{len(ora.suppressed)}")

    # properties, checked directly on the engine's output
    if len(rec) + n_suppressed != n_inputs:
        errors.append(f"{len(rec)} records + {n_suppressed} suppressed != "
                      f"{n_inputs} inputs")
    sizes = np.bincount(gid)
    used = np.unique(gid)
    _count_bad(f"groups with fewer than K={K} records",
               int((sizes[used] < K).sum()), errors)
    psizes = rec.groupby(["group_id", "p_order"]).size()
    _count_bad(f"P-subgroups with fewer than P={P} records",
               int((psizes < P).sum()), errors)
    if used.size and (used[0] < 1 or used[-1] > len(groups)):
        return errors + ["group_id outside 1..len(groups)"]
    order = np.argsort(gid, kind="stable")
    vals = series[pos[order]]
    starts = np.flatnonzero(np.r_[True, np.diff(gid[order]) != 0])
    lo = np.minimum.reduceat(vals, starts)
    hi = np.maximum.reduceat(vals, starts)
    g_lo = np.array([groups[g - 1]["lower"] for g in gid[order][starts]])
    g_hi = np.array([groups[g - 1]["upper"] for g in gid[order][starts]])
    _count_bad("envelopes unequal to their members' min/max",
               int((~((lo == g_lo) & (hi == g_hi)).all(axis=1)).sum()),
               errors)
    rows_lo = np.array([groups[g - 1]["lower"] for g in gid])
    rows_hi = np.array([groups[g - 1]["upper"] for g in gid])
    inside = (series[pos] >= rows_lo) & (series[pos] <= rows_hi)
    _count_bad("records outside their group's envelope",
               int((~inside.all(axis=1)).sum()), errors)
    return errors


def check_naive(x: np.ndarray, oindex: np.ndarray, rec: pd.DataFrame,
                n_groups: int, avg_vl: float, avg_pl: float, K: int, P: int,
                max_level: int) -> list[str]:
    """``x``: integer series in ascending ``oindex`` (original_index)
    order. ``rec``: the engine's records in (group_id, leaf_seq, row_ord)
    order, the reference's output row order."""
    errors: list[str] = []
    ora = naive_pipeline(x, K=K, P=P, max_level=max_level)
    if len(rec) != len(ora.record_index):
        return [f"{len(rec)} records, oracle has {len(ora.record_index)}"]
    for col, exp in (("original_index", oindex[ora.record_index]),
                     ("group_id", ora.group_id), ("pattern", ora.pattern),
                     ("level", ora.level), ("vl", ora.leaf_vl)):
        got = rec[col].to_numpy()
        _count_bad(f"{col} (in output row order)",
                   int((got != np.asarray(exp, dtype=got.dtype)).sum()),
                   errors)
    if abs(avg_vl - ora.avg_vl) > TOL:
        errors.append(f"avg_vl {avg_vl!r} != oracle {ora.avg_vl!r}")
    if abs(avg_pl - ora.avg_pl) > TOL:
        errors.append(f"avg_pl {avg_pl!r} != oracle {ora.avg_pl!r}")
    if n_groups != max(ora.group_id):
        errors.append(f"{n_groups} groups, oracle has {max(ora.group_id)}")
    sizes = rec.groupby("group_id").size()
    _count_bad(f"groups with fewer than K={K} records",
               int((sizes < K).sum()), errors)
    return errors


def _mismatches(con, got: pd.DataFrame, exp_sql: str, keys: str,
                exact: list[str], summed: list[str]) -> int:
    con.register("got", got)
    conds = [f"e.{c} IS DISTINCT FROM g.{c}" for c in exact]
    conds += [f"NOT abs(e.{c} - g.{c}) <= {TOL} * greatest(abs(e.{c}), 1)"
              for c in summed]
    n = con.execute(f"""
        WITH e AS ({exp_sql})
        SELECT count(*) FROM e FULL OUTER JOIN got g USING ({keys})
        WHERE e.{exact[0]} IS NULL OR g.{exact[0]} IS NULL
           OR {' OR '.join(conds)}
    """).fetchone()[0]
    con.unregister("got")
    return n


def check_tiers(raw: pd.DataFrame, stored: dict[str, pd.DataFrame],
                lineage: pd.DataFrame, resume: dict[str, int]) -> list[str]:
    """``raw``: (conv_id, ts_s, value). ``stored[tier]``: the tier table
    read back, (conv_id, bucket_s, n, sum_value, min_value, max_value).
    ``lineage``: (tier, row_count) rows of the lineage log. ``resume``:
    partitions written per tier by the second cascade call."""
    errors: list[str] = []
    con = duckdb.connect()
    con.register("raw", raw)
    for tier, sec in TIERS:
        got = stored[tier]
        exp = (f"SELECT conv_id, (ts_s // {sec}) * {sec} AS bucket_s, "
               "count(*) AS n, sum(value) AS sum_value, "
               "min(value) AS min_value, max(value) AS max_value "
               "FROM raw GROUP BY ALL")
        _count_bad(f"{tier} tier rows", _mismatches(
            con, got, exp, "conv_id, bucket_s",
            ["n", "min_value", "max_value"], ["sum_value"]), errors)
        if int(got["n"].sum()) != len(raw):
            errors.append(f"{tier}: sum(n) {int(got['n'].sum())} != "
                          f"{len(raw)} raw points")
        logged = int(lineage.loc[lineage["tier"] == tier, "row_count"].sum())
        if logged != len(got):
            errors.append(f"{tier}: lineage row_count {logged} != "
                          f"{len(got)} stored rows")
    if any(resume.values()):
        errors.append(f"resume wrote partitions: {resume}")
    con.close()
    return errors


def check_decompressed(raw: pd.DataFrame, dec: pd.DataFrame,
                       n_chunks: int) -> list[str]:
    """``dec``: per key (conv_id, n, sum_value, sum_ts_us) of the
    decompressed points, ts relative to T0_S."""
    errors: list[str] = []
    con = duckdb.connect()
    con.register("raw", raw)
    exp = (f"SELECT conv_id, count(*) AS n, sum(value) AS sum_value, "
           f"sum((ts_s - {T0_S}) * 1000000) AS sum_ts_us FROM raw "
           "GROUP BY conv_id")
    _count_bad("decompressed keys", _mismatches(
        con, dec, exp, "conv_id", ["n", "sum_ts_us"], ["sum_value"]), errors)
    exp_chunks = con.execute(
        "SELECT count(DISTINCT (conv_id, ts_s // 86400)) FROM raw").fetchone()[0]
    if n_chunks != exp_chunks:
        errors.append(f"{n_chunks} chunks, expected {exp_chunks} "
                      "(key, day) pairs")
    con.close()
    return errors
