"""KAPRA bottom-up (k,P)-anonymization as a distributed Spark pipeline.

Semantics: exact match to the reference pipeline
(/root/reference/src/kapra_anonymization.py:46-333):

- Phase 1: SAX at max level, hash-group, split good (>= P) / bad.
- Phase 2: recycle bad records at decreasing levels (floor 3, code wins
  over docs); leftover residue becomes one '*' group if >= P, else is
  suppressed.
- Phase 3: greedy min-VL merge of P-groups until all >= K, with the
  reference's exact ordering semantics (stable sort by size, first-min
  argmin, domination ties -> partner, pop/append list order).

Spark-first architecture — "reduce to pattern space, orchestrate in
pattern space, broadcast back":

1. ONE Arrow-UDF pass computes the SAX word at *every* level (z-norm +
   PAA once per record) -> `sax_vec`, and the record's pattern loss
   against its own word at each level -> `pl_vec`.
2. ONE map-side-combinable aggregation groups records by their full
   `sax_vec` into pattern *combos*: (count, min_index, envelope lo/hi,
   and the sum of `pl_vec` per level). Its rows are counted as they
   reach the driver; past `max_driver_combos` the combos stay
   distributed instead (`_kapra_distributed`).
   Records with identical sax vectors can never be separated by any phase
   of the reference algorithm, so combos are a lossless reduction. Shuffle
   volume is O(C * T) where C = #distinct vectors (bounded by the cross
   product of breakpoint cells, in practice << N) — not O(N).
3. The recycle loop and the greedy merge run on the DRIVER over the C
   combo summaries, replaying the reference's dict-insertion order, stable
   sorts and strict-< argmin exactly (tuple keys simulate the reference's
   record-list ordering; a combo's records are contiguous in it).
4. A record's pattern is always its own word at its group level (the
   '*' group uses the level-3 word at level 3), so its PL is `pl_vec` at
   that level and `avg_pl` is summed on the driver from the combos' PL
   sums. A tiny (vector -> group assignment) map is broadcast-joined
   back, and the persisted records are materialized by one count; no
   Python runs after step 1.

At 100 TB this is: one UDF scan (embarrassingly parallel), one tiny
combined shuffle, one broadcast join — no iteration ever touches the data.
Driver state is O(C * (T + levels)); if C ever approached N (near-unique
PAA cells) the combo table itself is the fallback unit of distribution,
but with SAX alphabets <= 20 and 4 segments C is bounded by the joint
breakpoint-cell count (28^4 for levels 3..8).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import math
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.sax_udfs import sax_pl_udf
from ..plans import lifetime
from .envelope import envelope_agg, merge_envelope_agg
from .rank import distributed_rank

#: per-invocation plan-uniquing token (see the `_run` comment in
#: kapra_anonymize and the root-pid comment in operators/naive.py)
_RUN_SEQ = itertools.count()


@dataclass
class KapraGroups:
    """Result of the KAPRA pipeline.

    ``records``: one row per surviving input record with columns
      (original_index, group_id, pattern, level, values, lower, upper, vl,
       pl, p_order, c_order) — order by (group_id, p_order, c_order,
      original_index) to reproduce the reference's exact output row order.
    ``groups``: driver-side list in GroupID order:
      dicts with sax, level, count, lower, upper, vl.

    ``records`` is persisted and counted; the caller unpersists it when
    done. Fault-tolerance note: when the distributed fallback ran, the
    localCheckpoints backing ``records``'s lineage have been RELEASED by
    the time this is returned — the cache is the only copy. On the
    local/bench deployment that is safe (MEMORY_AND_DISK spills rather
    than drops); on a real cluster an executor loss after return
    surfaces as a query failure, not a recompute. A production run
    wanting recompute-on-loss would swap the per-pass localCheckpoints
    for reliable checkpoints (same call sites,
    `spark.sparkContext.setCheckpointDir`).
    """

    records: DataFrame
    groups: list[dict]
    avg_vl: float
    avg_pl: float
    n_suppressed: int


def _greedy_min_vl_merge(
    saxes: list, levels: list, counts: list, los: list, his: list,
    K: int, t: int,
) -> list[dict]:
    """Reference-exact phase-3 greedy merge over p-group SUMMARIES.

    Inputs are parallel lists in the reference's p_groups formation order
    (kapra_anonymization.py:185-244). Returns the final k-group list in
    reference list order; each dict carries the dominating sax/level, the
    merged envelope, total count, and ``pgs`` — the ORDERED list of input
    indices whose concatenation order equals the reference's record
    order (g.pgs + partner.pgs per merge). Shared by the driver-combo
    path and the distributed fallback, so both replay identical
    semantics: stable sort by size, first-min argmin via np.argmin,
    size-tie domination -> partner, pop/append list order.

    Slot-array layout instead of a list of dicts: each merge only
    fancy-indexes the live slots (O(G*T) memcpy) rather than np.stack-ing
    G python arrays per round.
    """
    G0 = len(saxes)
    cap = 2 * G0 + 1  # every merge adds one slot, at most G0-1 merges
    slot_lo = np.empty((cap, t), dtype=np.float64)
    slot_hi = np.empty((cap, t), dtype=np.float64)
    slot_count = np.empty(cap, dtype=np.int64)
    slot_meta: list[dict] = [None] * cap  # sax, level, pgs per slot
    for i in range(G0):
        slot_lo[i] = los[i]
        slot_hi[i] = his[i]
        slot_count[i] = counts[i]
        slot_meta[i] = {"sax": saxes[i], "level": levels[i], "pgs": [i]}
    order: list[int] = list(range(G0))  # current reference list order
    n_slots = G0
    while True:
        seq = np.asarray(order)
        cnts = slot_count[seq]
        inv_mask = cnts < K
        if not inv_mask.any():
            break
        # stable sort by count -> first element = min count, earliest pos
        inv_pos = np.flatnonzero(inv_mask)
        pos = int(inv_pos[np.argmin(cnts[inv_pos])])
        s_idx = order[pos]
        mlo = np.minimum(slot_lo[seq], slot_lo[s_idx])
        mhi = np.maximum(slot_hi[seq], slot_hi[s_idx])
        costs = np.sqrt(((mhi - mlo) ** 2).sum(axis=1) / t)
        costs[pos] = math.inf
        best_pos = int(np.argmin(costs))  # first minimum == ref strict-<
        if not math.isfinite(costs[best_pos]):
            break  # no partner (reference: best_partner_idx == -1)
        b_idx = order[best_pos]
        g_meta, p_meta = slot_meta[s_idx], slot_meta[b_idx]
        if slot_count[b_idx] >= slot_count[s_idx]:
            dom_sax, dom_level = p_meta["sax"], p_meta["level"]
        else:
            dom_sax, dom_level = g_meta["sax"], g_meta["level"]
        new = n_slots
        n_slots += 1
        slot_lo[new] = mlo[best_pos]
        slot_hi[new] = mhi[best_pos]
        slot_count[new] = slot_count[s_idx] + slot_count[b_idx]
        slot_meta[new] = {
            "sax": dom_sax,
            "level": dom_level,
            "pgs": g_meta["pgs"] + p_meta["pgs"],
        }
        i1, i2 = sorted([pos, best_pos], reverse=True)
        order.pop(i1)
        order.pop(i2)
        order.append(new)
    return [
        {"sax": slot_meta[i]["sax"], "level": slot_meta[i]["level"],
         "count": int(slot_count[i]), "lo": slot_lo[i].copy(),
         "hi": slot_hi[i].copy(), "pgs": slot_meta[i]["pgs"]}
        for i in order
    ]


def _pl_col(compute_pl: bool) -> list:
    """The record's PL: ``pl_vec`` holds one loss per level from 3 up, and
    the record's pattern is its own word at ``level``."""
    if not compute_pl:
        return []
    return [F.element_at("pl_vec", F.col("level") - 2).alias("pl")]


def _collect_at_most(df: DataFrame, n: int) -> list | None:
    """``df``'s rows, counted as they reach the driver; None as soon as
    more than ``n`` arrive (later partitions are never fetched)."""
    # closing drops the socket reader, whose finalizer tells the JVM to
    # stop serving partitions
    with contextlib.closing(df.toLocalIterator()) as it:
        rows = list(itertools.islice(it, n + 1))
    return rows if len(rows) <= n else None


def _finalize(
    groups: list[dict], pg_pl: list | None, t: int, map_rows_of
) -> tuple[list[dict], list[tuple], float, float]:
    """GroupID = position + 1 over the merged k-groups. Returns the output
    groups, the map rows (``map_rows_of(pgi, group_id, p_order, lower,
    upper, vl)`` yields those of p-group ``pgi``), avg_vl, and avg_pl from
    the p-groups' PL sums ``pg_pl`` over the records kept (NaN if None)."""
    out_groups: list[dict] = []
    map_rows: list[tuple] = []
    for gid0, kg in enumerate(groups):
        vl = math.sqrt(float(np.sum((kg["hi"] - kg["lo"]) ** 2)) / t)
        out_groups.append(
            {"sax": kg["sax"], "level": kg["level"], "count": kg["count"],
             "lower": kg["lo"], "upper": kg["hi"], "vl": vl}
        )
        lo_l = [float(x) for x in kg["lo"]]
        hi_l = [float(x) for x in kg["hi"]]
        for p_order, pgi in enumerate(kg["pgs"]):
            map_rows.extend(map_rows_of(pgi, gid0 + 1, p_order, lo_l, hi_l, vl))
    avg_vl = float(np.mean([g["vl"] for g in out_groups]))
    n_kept = sum(g["count"] for g in out_groups)
    avg_pl = float("nan") if pg_pl is None else math.fsum(pg_pl) / n_kept
    return out_groups, map_rows, avg_vl, avg_pl


def _map_back(base: DataFrame, rec_map: DataFrame, compute_pl: bool):
    """Join the per-combo assignment back onto the records; the result is
    persisted and materialized, so the caller may release what it read."""
    records = base.join(rec_map, "combo_key").select(
        "original_index", "group_id", "pattern", "level", "values",
        "lower", "upper", "vl", "p_order", "c_order", *_pl_col(compute_pl),
    ).persist()
    records.count()
    return records


class _Combo:
    __slots__ = ("vec", "count", "min_idx", "lo", "hi", "pl", "chain")

    def __init__(self, vec, count, min_idx, lo, hi, pl):
        self.vec = vec
        self.count = count
        self.min_idx = min_idx
        self.lo = lo
        self.hi = hi
        self.pl = pl  # PL sum of the combo's records per level from 3 up
        # per-pass bad-group rank chain: the bad_records list is rebuilt
        # each pass (most recent group rank dominates), so a record's
        # position at formation is (reversed(chain), idx) lexicographically
        self.chain: tuple = ()


def kapra_anonymize(
    df: DataFrame,
    values_col: str = "values",
    index_col: str = "original_index",
    K: int = 8,
    P: int = 2,
    sax_level: int = 8,
    n_segments: int = 4,
    t: int | None = None,
    compute_pl: bool = True,
    max_driver_combos: int = 5_000_000,
) -> KapraGroups:
    spark = df.sparkSession
    if t is None:
        t = len(df.select(values_col).first()[0])

    levels = list(range(3, sax_level + 1))
    # SAX + PL scan: one Arrow UDF (functions/sax_udfs.py; the JVM-
    # expression alternative is a recorded negative result there)

    # `_run` PLAN-UNIQUING column (r04, VERDICT r03 #2): `base` (and the
    # derived `combo_df`) depends only on (input plan, sax_level), so two
    # concurrent same-level configs in plans/optimize.py run_grid build
    # sameResult plans that Spark's CacheManager aliases to one
    # InMemoryRelation — then one thread's end-of-run `base.unpersist()`
    # drops blocks the sibling's live jobs still read (the naive
    # pipeline's variant of this crashed r03's grid-parity test). The
    # distinct literal makes every invocation's caches self-contained;
    # it is pruned out of every downstream shuffle/join by explicit
    # column selection.
    base = df.select(
        F.col(index_col).cast("long").alias("original_index"),
        F.col(values_col).alias("values"),
        F.lit(f"k{next(_RUN_SEQ)}").alias("_run"),
        sax_pl_udf(levels, n_segments, compute_pl)(F.col(values_col))
        .alias("_s"),
    ).select("original_index", "values", "_run", "_s.sax_vec", "_s.pl_vec")
    # persisted, not counted: the combo aggregation below is its only
    # reader until the map-back, so its scan fills the cache with no
    # second branch racing it for the same partitions
    base = base.withColumn(
        "combo_key", F.concat_ws("\x1f", F.col("sax_vec"))
    ).persist()

    # ---- lossless reduction to pattern space: ONE combined shuffle for
    # the count, envelope, first record and per-level PL sums of a combo
    if compute_pl:
        pl_sums = F.array(*[
            F.sum(F.element_at("pl_vec", i + 1)) for i in range(len(levels))
        ])
    else:
        pl_sums = F.lit(None).cast("array<double>")
    combo_df = envelope_agg(
        base, ["combo_key", "sax_vec"], "values", t,
        F.min("original_index").alias("min_idx"), pl_sums.alias("pl_sums"),
    )
    # driver-safety switch: the combo collect is exact and tiny for real
    # SAX pattern spaces (C bounded by the joint breakpoint-cell count).
    # If a caller feeds data whose pattern space approaches the row count
    # (near-unique PAA cells), the collect stops past max_driver_combos
    # rows and the fully distributed phases-1+2 path runs instead — same
    # semantics, no combo table on the driver (VERDICT r01 #4)
    combo_rows = _collect_at_most(combo_df, max_driver_combos)
    if combo_rows is None:
        # what the fallback registers is released once it returns, with
        # `records` materialized (the fault note on KapraGroups)
        with lifetime.scope():
            lifetime.register_cache(base)
            return _kapra_distributed(
                spark, base, combo_df, K=K, P=P, sax_level=sax_level, t=t,
                compute_pl=compute_pl,
            )
    combos = [
        _Combo(list(r["sax_vec"]), int(r["count"]), int(r["min_idx"]),
               np.asarray(r["lower"], dtype=np.float64),
               np.asarray(r["upper"], dtype=np.float64), r["pl_sums"])
        for r in combo_rows
    ]
    # reference record order is original_index asc; combos inherit the
    # order of their first record
    combos.sort(key=lambda c: c.min_idx)

    # ---- Phases 1+2 on combos (driver; replays reference ordering exactly)
    p_groups: list[dict] = []
    bad = combos
    for pass_idx, level in enumerate(range(sax_level, 2, -1)):
        if not bad:
            break
        groups: dict[str, list[_Combo]] = {}
        for c in bad:
            groups.setdefault(c.vec[level - 3], []).append(c)
        # list order below replays the reference's bad_records ordering at
        # combo granularity (dict insertion order; in-group order preserved)
        new_bad: list[_Combo] = []
        for g_rank, (word, cs) in enumerate(groups.items()):
            total = sum(c.count for c in cs)
            if total >= P:
                p_groups.append(
                    {"sax": word, "level": level, "members": cs, "count": total}
                )
            else:
                for c in cs:
                    c.chain = c.chain + (g_rank,)
                new_bad.extend(cs)
        bad = new_bad

    n_suppressed = 0
    if bad:
        n_bad = sum(c.count for c in bad)
        if n_bad >= P:
            # '*' residue group; records keep their last-pass metadata
            # (level-3 word) — reference kapra_anonymization.py:163-169
            p_groups.append(
                {"sax": "*", "level": 0, "members": bad, "count": n_bad}
            )
        else:
            n_suppressed = n_bad

    if not p_groups:
        raise ValueError("no records survived P-grouping")

    # attach envelopes to p-groups (exact: elementwise min/max of combos)
    # and PL sums: a record's PL is at its level, level 3 for the '*' group
    for g in p_groups:
        g["lo"] = np.minimum.reduce([c.lo for c in g["members"]])
        g["hi"] = np.maximum.reduce([c.hi for c in g["members"]])
        if compute_pl:
            li = max(g["level"], 3) - 3
            g["pl"] = math.fsum(c.pl[li] for c in g["members"])

    # ---- Phase 3: reference-exact greedy merge (driver, vectorized
    # argmin) over p-group summaries — shared helper, semantics identical
    # (order list replays the reference's pop/append list order;
    # np.argmin returns the FIRST minimum == the reference's strict-<
    # scan)
    groups = _greedy_min_vl_merge(
        [g["sax"] for g in p_groups],
        [g["level"] for g in p_groups],
        [g["count"] for g in p_groups],
        [g["lo"] for g in p_groups],
        [g["hi"] for g in p_groups],
        K, t,
    )

    # ---- finalize: GroupID = position+1; broadcast assignment map back
    def combo_rows_of(pgi, group_id, p_order, lo_l, hi_l, vl):
        pg = p_groups[pgi]
        # within-p-group record order = (chain, original_index); equal
        # chains interleave by index, so c_order is the DENSE rank of the
        # chain among this p-group's combos. The bad list is rebuilt every
        # pass, so the most recent pass's group rank dominates: compare
        # chains REVERSED
        chain_rank = {
            ch: i
            for i, ch in enumerate(
                sorted({c.chain for c in pg["members"]}, key=lambda ch: ch[::-1])
            )
        }
        # record metadata: the word/level at p-group formation; for the
        # '*' group, each combo's level-3 word at level 3
        for c in pg["members"]:
            if pg["level"] == 0:
                r_sax, r_level = c.vec[0], 3
            else:
                r_sax, r_level = pg["sax"], pg["level"]
            yield ("\x1f".join(c.vec), group_id, p_order, chain_rank[c.chain],
                   r_sax, r_level, lo_l, hi_l, vl)

    out_groups, mapping_rows, avg_vl, avg_pl = _finalize(
        groups, [g["pl"] for g in p_groups] if compute_pl else None, t,
        combo_rows_of,
    )
    mapping = spark.createDataFrame(
        mapping_rows,
        "combo_key string, group_id int, p_order int, c_order int, "
        "pattern string, level int, lower array<double>, "
        "upper array<double>, vl double",
    )
    records = _map_back(base, F.broadcast(mapping), compute_pl)
    base.unpersist()
    return KapraGroups(records, out_groups, avg_vl, avg_pl, n_suppressed)


def _kapra_distributed(
    spark,
    base: DataFrame,
    combo_df: DataFrame,
    K: int,
    P: int,
    sax_level: int,
    t: int,
    compute_pl: bool,
    max_driver_groups: int = 2_000_000,
) -> KapraGroups:
    """Distributed phases 1+2 for pattern spaces too large to collect.

    Replays the reference recycle loop (kapra_anonymization.py:105-176)
    with the COMBOS staying distributed: each pass is one groupBy on the
    level-l word + one rank; per-combo order metadata (`ordk`, the
    newest-rank-first chain string) reproduces the reference's
    bad_records list order exactly, so p-group formation order, record
    c_order and the phase-3 greedy merge are identical to the driver-combo
    path (exactness asserted in tests/test_kapra_parity.py by forcing
    max_driver_combos=1 on the same input). Driver state is O(G) p-group
    summaries — never O(C) combos.

    Scale shape per pass: one hash-agg shuffle over surviving bad combos,
    one two-stage distributed rank over G_pass group rows (bounded by the
    level-l word space), one broadcast-or-shuffle join back (AQE
    decides), then an eager localCheckpoint that both truncates the
    iterative plan and yields the loop-control count. The final phase-3
    merge runs on G p-group summaries (the reference algorithm itself is
    O(G^2) there, so a G cap is inherent to the semantics, not to this
    engine; ``max_driver_groups`` makes it explicit). Each p-group's PL
    sum rides along in its summary, so avg_pl needs no pass over records.
    """
    levels = list(range(sax_level, 2, -1))
    # order-preserving 20-digit encoding of int64 min_idx (offset to
    # unsigned; decimal arithmetic avoids int64 overflow)
    idx_ord = F.lpad(
        (
            F.col("min_idx").cast("decimal(20,0)")
            + F.lit(Decimal(2**63))
        ).cast("decimal(20,0)").cast("string"),
        20, "0",
    )
    assigned_parts: list[DataFrame] = []
    n_suppressed = 0
    # the per-pass checkpoints live until `assigned` is materialized
    with lifetime.scope():
        bad = lifetime.register_checkpoint(
            combo_df.select(
                "combo_key", "sax_vec", "count", "lower", "upper", "pl_sums",
                F.lit("").alias("ordk"), idx_ord.alias("idx_ord"),
            ).localCheckpoint(eager=True)
        )
        for pass_idx, level in enumerate(levels):
            b2 = bad.withColumn("w", F.col("sax_vec").getItem(level - 3))
            # the group rank is TWO-STAGE (range-partition + local running
            # count + broadcast offsets, operators/rank.py), not a
            # single-task Window.orderBy: G_pass is bounded by the level-l
            # word space but reaches millions at high levels. `fp` (min
            # chain+idx key) is unique per group, so the rank is exact; its
            # range-partition cache lives until `grp` is checkpointed.
            with lifetime.scope():
                grp = distributed_rank(
                    b2.groupBy("w").agg(
                        F.sum("count").alias("total"),
                        F.min(F.concat("ordk", "idx_ord")).alias("fp"),
                    ),
                    "fp", "g_rank", start=0,
                ).select("w", "total", "g_rank").localCheckpoint(eager=True)
            lifetime.register_checkpoint(grp)
            # g_rank is unique and orders the good groups as they form, so
            # it is their p-group key: only an order and join key below
            good = grp.filter(F.col("total") >= P).select(
                "w", F.col("g_rank").alias("p_rank"))
            exited = b2.join(good, "w").select(
                "combo_key", "count", "lower", "upper", "ordk",
                F.element_at("pl_sums", level - 2).alias("pl"),
                F.lit(pass_idx).alias("pass"), "p_rank",
                F.col("w").alias("g_sax"), F.lit(level).alias("g_level"),
                F.col("w").alias("r_sax"), F.lit(level).alias("r_level"),
            )
            assigned_parts.append(exited.localCheckpoint(eager=False))
            bad = lifetime.register_checkpoint(
                b2.join(grp.filter(F.col("total") < P).select("w", "g_rank"),
                        "w")
                .select(
                    "combo_key", "sax_vec", "count", "lower", "upper",
                    "pl_sums",
                    F.concat(
                        F.lpad(F.col("g_rank").cast("string"), 12, "0"),
                        F.col("ordk"),
                    ).alias("ordk"),
                    "idx_ord",
                )
                .localCheckpoint(eager=True)
            )
            if bad.isEmpty():
                break

        n_bad = bad.agg(F.sum("count")).first()[0] or 0
        if n_bad and n_bad >= P:
            # '*' residue group, formed LAST; records keep their level-3
            # word at level 3 (reference :163-169). A lazy checkpoint like
            # the exited parts, so the last `bad` can go with the others
            assigned_parts.append(
                bad.select(
                    "combo_key", "count", "lower", "upper", "ordk",
                    F.element_at("pl_sums", 1).alias("pl"),
                    F.lit(sax_level).alias("pass"), F.lit(0).alias("p_rank"),
                    F.lit("*").alias("g_sax"), F.lit(0).alias("g_level"),
                    F.col("sax_vec").getItem(0).alias("r_sax"),
                    F.lit(3).alias("r_level"),
                ).localCheckpoint(eager=False)
            )
        else:
            n_suppressed = int(n_bad)

        if not assigned_parts:
            raise ValueError("no records survived P-grouping")
        assigned = functools.reduce(
            DataFrame.unionByName, assigned_parts).persist()

        # ---- p-group summaries -> driver greedy merge (O(G), not O(C))
        summ = merge_envelope_agg(
            assigned, ["pass", "p_rank"], t,
            F.first("g_sax").alias("g_sax"),
            F.first("g_level").alias("g_level"),
            F.sum("pl").alias("pl"),
        )
        # the count materializes `assigned` and the lazy checkpoints of its
        # parts, truncating their lineage: the per-pass eager checkpoints
        # are unreachable when this scope closes
        n_groups_total = summ.count()
    # `assigned` and its parts back the map-back below; the caller's scope
    # releases them once `records` is materialized
    lifetime.register_cache(assigned)
    for part in assigned_parts:
        lifetime.register_checkpoint(part)
    if n_groups_total > max_driver_groups:
        raise ValueError(
            f"{n_groups_total} p-groups exceed max_driver_groups="
            f"{max_driver_groups}; the reference's phase-3 greedy merge "
            f"is O(G^2) and intractable at this G under ANY engine"
        )
    rows = summ.orderBy("pass", "p_rank").collect()
    groups = _greedy_min_vl_merge(
        [r["g_sax"] for r in rows],
        [int(r["g_level"]) for r in rows],
        [int(r["count"]) for r in rows],
        [np.asarray(r["lower"], dtype=np.float64) for r in rows],
        [np.asarray(r["upper"], dtype=np.float64) for r in rows],
        K, t,
    )

    def pgroup_row_of(pgi, group_id, p_order, lo_l, hi_l, vl):
        r = rows[pgi]
        yield (int(r["pass"]), int(r["p_rank"]), group_id, p_order,
               lo_l, hi_l, vl)

    out_groups, map_rows, avg_vl, avg_pl = _finalize(
        groups, [r["pl"] for r in rows] if compute_pl else None, t,
        pgroup_row_of,
    )
    map_df = spark.createDataFrame(
        map_rows,
        "pass int, p_rank int, group_id int, p_order int, "
        "k_lower array<double>, k_upper array<double>, k_vl double",
    )

    # c_order = dense rank of the chain within the p-group (newest rank
    # first == the reference's ch[::-1] comparison); distributed window
    # partitioned by p-group
    wc = Window.partitionBy("pass", "p_rank").orderBy("ordk")
    rec_map = (
        assigned.withColumn("c_order", F.dense_rank().over(wc) - 1)
        .join(F.broadcast(map_df), ["pass", "p_rank"])
        .select(
            "combo_key", "group_id",
            F.col("r_sax").alias("pattern"),
            F.col("r_level").alias("level"),
            F.col("k_lower").alias("lower"),
            F.col("k_upper").alias("upper"),
            F.col("k_vl").alias("vl"),
            "p_order", "c_order",
        )
    )
    # shuffle join on combo_key: both sides are C-sized — never broadcast
    records = _map_back(base, rec_map, compute_pl)
    return KapraGroups(records, out_groups, avg_vl, avg_pl, n_suppressed)
