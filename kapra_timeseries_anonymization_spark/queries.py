"""Driver-contract query registry: name -> (spark_fn, oracle_sql).

Every SQL-expressible operator from SURVEY §2 plus the training-data
pipeline operators gets an entry here; `__spark_entry__.py` re-exports the
registry. Conventions (driver compares row-count + schema + order-
insensitive value hash, sorting columns by NAME):

- alias every computed column identically in Spark and SQL;
- round float aggregates (money sums -> 2dp, ratios/avgs -> 4-6dp) so
  accumulation-order ulp differences between engines can't flip the hash;
- cast time buckets to 'yyyy-MM-dd HH:mm:ss' strings (engine-neutral);
- cast counts to bigint explicitly (DuckDB sum(int) would widen to
  HUGEINT otherwise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.chunks import chunk_stats, compress_chunks, decompress_chunks
from .operators.dedup import (
    SIMHASH_BITS,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from .operators.derive import epoch_sec, gap_fill, user_activity_series
from .operators.text import (
    language_id,
    quality_features,
    stopword_ratio,
    winnow_fingerprint,
)
from .operators.kapra import kapra_anonymize
from .operators.naive import naive_anonymize
from .operators.rollup import cascade
from .sources.tables import read_table
from .plans.lifetime import register_cache
from .sources.transcripts import (
    TRANSCRIPTS_ORACLE_CTE,
    conv_turn_rate_series,
    transcripts_from_events,
)

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn
    return deco


def _ts_str(col) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


# ---------------------------------------------------------------------------
# Relational core on the TPC-H-ish tables (S1-S4, A4-A6, O1-O7, J-ops)
# ---------------------------------------------------------------------------

@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                              AS sum_qty,
           round(sum(l_extendedprice), 2)                         AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
           round(avg(l_quantity), 6)                              AS avg_qty,
           round(avg(l_discount), 6)                              AS avg_disc,
           count(*)::BIGINT                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    l = read_table(spark, sf, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q3_segment_revenue",
    """
    SELECT c.c_mktsegment                                          AS mktsegment,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)   AS revenue,
           count(DISTINCT o.o_orderkey)::BIGINT                    AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q3_segment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    l = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    # customer and orders are dims vs lineitem: broadcast the small side
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@q(
    "q_top10_orders",
    """
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_top10_orders(spark: SparkSession, sf: str) -> DataFrame:
    l = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@q(
    "q_kanon_check",
    """
    SELECT (min(cnt) >= 8) AS is_k_anon, count(*)::BIGINT AS n_groups
    FROM (SELECT c_nationkey, c_mktsegment, count(*) cnt
          FROM customer GROUP BY 1, 2)
    """,
)
def q_kanon_check(spark: SparkSession, sf: str) -> DataFrame:
    """A4: k-anonymity checker (reference k_anon.py:10-20) on QI columns."""
    c = read_table(spark, sf, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .count()
        .agg(
            (F.min("count") >= 8).alias("is_k_anon"),
            F.count(F.lit(1)).alias("n_groups"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series core on events (rollups, cascade tiers, gap-fill, latency)
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
    SELECT event_type,
           strftime(date_trunc('{unit}', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           count(*)::BIGINT        AS n,
           round(sum(value), 4)    AS sum_value,
           round(min(value), 6)    AS min_value,
           round(max(value), 6)    AS max_value
    FROM events GROUP BY 1, 2
"""


def _spark_cascade(spark, sf):
    ev = read_table(spark, sf, "events")
    return cascade(ev, ["event_type"], "ts", "value")


def _tier_out(df):
    return df.select(
        "event_type",
        _ts_str(F.col("bucket")).alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
    )


@q("events_rollup_1m", _ROLLUP_SQL.format(unit="minute"))
def events_rollup_1m(spark, sf):
    return _tier_out(_spark_cascade(spark, sf)["1m"])


@q("events_rollup_1h_cascade", _ROLLUP_SQL.format(unit="hour"))
def events_rollup_1h_cascade(spark, sf):
    """1h tier computed FROM the 1m tier — oracle computes direct-from-raw,
    proving tier-cascade exactness (rollup consistency)."""
    return _tier_out(_spark_cascade(spark, sf)["1h"])


@q("events_rollup_1d_cascade", _ROLLUP_SQL.format(unit="day"))
def events_rollup_1d_cascade(spark, sf):
    return _tier_out(_spark_cascade(spark, sf)["1d"])


@q("events_rollup_1d_resumable", _ROLLUP_SQL.format(unit="day"))
def events_rollup_1d_resumable(spark, sf):
    """Lineage-checkpointed cascade with a mid-tier kill/resume INSIDE the
    query: run 1 writes only the 1m tier (simulated death), run 2 resumes —
    skips 1m via the lineage anti-join, builds 1h/1d from the stored 1m.
    The returned stored 1d tier must still hash-match the direct-from-raw
    oracle. The tier store lives in a session-scoped dir (cleaned at
    process exit), so the returned DataFrame is a plain lazy parquet scan
    — no driver-side collect round-trip."""
    import atexit
    import shutil
    import tempfile

    from .plans.lineage import materialize_cascade, read_tier

    ev = read_table(spark, sf, "events")
    base = tempfile.mkdtemp(prefix="kapra_tiers_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    materialize_cascade(
        spark, ev, base, ["event_type"], "ts", "value", tiers=("1m",)
    )
    materialize_cascade(
        spark, ev, base, ["event_type"], "ts", "value", run_id="resume"
    )
    return _tier_out(read_tier(spark, base, "1d").drop("p_date"))


@q(
    "events_gapfill_hourly",
    """
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, min(b) lo, max(b) hi FROM h GROUP BY 1),
    spine AS (
        SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
        FROM bounds
    )
    SELECT s.event_type,
           strftime(s.b, '%Y-%m-%d %H:%M:%S') AS bucket,
           coalesce(h.n, 0)::BIGINT AS n
    FROM spine s LEFT JOIN h ON s.event_type = h.event_type AND s.b = h.b
    """,
)
def events_gapfill_hourly(spark, sf):
    ev = read_table(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    filled = gap_fill(hourly, ["event_type"], "bucket", 3600, fill_zero=["n"])
    return filled.select(
        "event_type",
        _ts_str(F.col("bucket")).alias("bucket"),
        F.col("n").cast("long").alias("n"),
    )


@q(
    "events_gapfill_locf",
    """
    WITH h AS (
        SELECT user_id, date_trunc('hour', ts) AS b,
               round(avg(value), 6) AS v
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(b) lo, max(b) hi FROM h GROUP BY 1),
    spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
        FROM bounds
    ),
    joined AS (
        SELECT s.user_id, s.b, h.v FROM spine s
        LEFT JOIN h ON s.user_id = h.user_id AND s.b = h.b
    )
    SELECT user_id,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
           last_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
    FROM joined
    """,
)
def events_gapfill_locf(spark, sf):
    """Gap-fill with last-observation-carried-forward (the fill_forward
    path of gap_fill): per-user hourly mean value, dense spine, nulls
    forward-filled."""
    ev = read_table(spark, sf, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    filled = gap_fill(hourly, ["user_id"], "bucket", 3600, fill_forward=["v"])
    return filled.select(
        "user_id", _ts_str(F.col("bucket")).alias("bucket"),
        F.col("v").alias("v_locf"),
    )


@q(
    "events_latency_stats",
    """
    WITH d AS (
        SELECT user_id,
               epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    )
    SELECT user_id,
           count(*)::BIGINT            AS n_events,
           round(avg(gap), 4)          AS avg_gap_sec,
           round(max(gap), 4)          AS max_gap_sec
    FROM d GROUP BY user_id
    """,
)
def events_latency_stats(spark, sf):
    """Inter-event latency via lag over a stable (ts, event_id) order —
    the transcript latency derivation (SURVEY §2.8) on the stand-in table."""
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_sec("ts") - F.lag(epoch_sec("ts")).over(w)
    return (
        ev.withColumn("gap", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("gap"), 4).alias("avg_gap_sec"),
            F.round(F.max("gap"), 4).alias("max_gap_sec"),
        )
    )


@q(
    "events_sessions",
    """
    WITH d AS (
        SELECT user_id,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                   THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, (1 + sum(new_session))::BIGINT AS n_sessions
    FROM d GROUP BY user_id
    """,
)
def events_sessions(spark, sf):
    ev = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_sec("ts") - F.lag(epoch_sec("ts")).over(w)
    return (
        ev.withColumn("new_session", F.when(gap > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg((1 + F.sum("new_session")).cast("long").alias("n_sessions"))
    )


@q(
    "events_activity_envelope",
    """
    WITH lohi AS (SELECT epoch(min(ts)) AS lo, epoch(max(ts)) AS hi FROM events),
    b AS (
        SELECT user_id,
               least(floor((epoch(ts) - lo) / (hi - lo) * 8), 7)::INT AS pos,
               count(*)::DOUBLE AS c
        FROM events, lohi GROUP BY 1, 2
    ),
    spine AS (
        SELECT user_id, unnest(range(8))::INT AS pos
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    filled AS (
        SELECT s.user_id, s.pos, coalesce(b.c, 0.0) AS c
        FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.pos = b.pos
    )
    SELECT (user_id % 10)::INT  AS grp,
           pos,
           round(min(c), 6)     AS env_lo,
           round(max(c), 6)     AS env_hi,
           count(*)::BIGINT     AS n_series
    FROM filled GROUP BY 1, 2
    """,
)
def events_activity_envelope(spark, sf):
    """A1 decomposition: envelope (per-position min/max) over zero-filled
    fixed-length activity series, grouped by a pseudo-cohort."""
    ev = read_table(spark, sf, "events")
    s = user_activity_series(ev)
    e = s.select(
        (F.col("user_id") % 10).cast("int").alias("grp"),
        F.posexplode("values").alias("pos", "c"),
    )
    return e.groupBy("grp", "pos").agg(
        F.round(F.min("c"), 6).alias("env_lo"),
        F.round(F.max("c"), 6).alias("env_hi"),
        F.count(F.lit(1)).alias("n_series"),
    )


# ---------------------------------------------------------------------------
# Gorilla chunk compression (north_star: per-partition byte-array chunks)
# ---------------------------------------------------------------------------

@q(
    "events_gorilla_roundtrip",
    """
    SELECT user_id,
           count(*)::BIGINT                          AS n_points,
           round(sum(value), 4)                      AS sum_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S')    AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S')    AS last_ts
    FROM events GROUP BY user_id
    """,
)
def events_gorilla_roundtrip(spark, sf):
    """Events -> Gorilla-compressed binary chunks (per user, 6h tumbling)
    -> decompress -> per-user aggregate. The oracle aggregates the RAW
    table directly, so a hash match proves the compress/decompress path is
    lossless end-to-end through Spark (binary payloads, Arrow batches,
    microsecond timestamps)."""
    ev = read_table(spark, sf, "events")
    chunks = compress_chunks(
        ev, ["user_id"], "ts", "value", chunk_interval_sec=6 * 3600
    )
    points = decompress_chunks(chunks, ["user_id"])
    return points.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        _ts_str(F.min("ts")).alias("first_ts"),
        _ts_str(F.max("ts")).alias("last_ts"),
    )


@q(
    "events_chunk_stats",
    """
    WITH c AS (
        SELECT user_id,
               epoch_us(ts) // 21600000000 AS chunk_idx,
               count(*)                    AS pts,
               min(epoch_us(ts))           AS t0,
               max(epoch_us(ts))           AS t1
        FROM events GROUP BY 1, 2
    )
    SELECT count(*)::BIGINT AS n_chunks,
           sum(pts)::BIGINT AS n_points,
           min(pts)::BIGINT AS min_chunk_points,
           max(pts)::BIGINT AS max_chunk_points,
           min(t0)::BIGINT  AS t_start_min,
           max(t1)::BIGINT  AS t_end_max
    FROM c
    """,
)
def events_chunk_stats(spark, sf):
    """Chunk-table structural accounting — the SQL-expressible half of
    the old rows-only query (r04, VERDICT r03 #8): chunk count, point
    totals, per-chunk extremes and time bounds all follow from the raw
    events plus the 6h tumbling-bucket rule, so DuckDB recomputes them
    without touching the binary payloads. The codec-defined byte half
    lives in events_chunk_bytes (rows-only by nature)."""
    ev = read_table(spark, sf, "events")
    chunks = compress_chunks(
        ev, ["user_id"], "ts", "value", chunk_interval_sec=6 * 3600
    )
    return chunks.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_points").alias("n_points"),
        F.min("n_points").alias("min_chunk_points"),
        F.max("n_points").alias("max_chunk_points"),
        F.min("t_start").alias("t_start_min"),
        F.max("t_end").alias("t_end_max"),
    )


@q("events_chunk_bytes", None)
def events_chunk_bytes(spark, sf):
    """Compression byte accounting (bytes/point, ratio vs 16B raw) —
    rows-only: byte counts are Gorilla-codec-defined, not
    SQL-expressible; losslessness is proven by events_gorilla_roundtrip's
    full oracle instead."""
    ev = read_table(spark, sf, "events")
    chunks = compress_chunks(
        ev, ["user_id"], "ts", "value", chunk_interval_sec=6 * 3600
    )
    return chunk_stats(chunks)


# ---------------------------------------------------------------------------
# Transcripts (the input_hint shape): pass-through invariant, turn-rate
# rollup, inter-turn latency — the target engine's real front half
# ---------------------------------------------------------------------------

@q(
    "transcripts_passthrough",
    f"""
    WITH {TRANSCRIPTS_ORACLE_CTE}
    SELECT conv_id, turn_idx, role, text, tool,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM transcripts2
    """,
)
def transcripts_passthrough(spark, sf):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — every transcript row reproduced
    byte-for-byte by the independent oracle derivation."""
    t = transcripts_from_events(spark, sf)
    return t.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        _ts_str(F.col("ts")).alias("ts_s"),
    )


@q(
    "transcripts_turn_rate_1m",
    f"""
    WITH {TRANSCRIPTS_ORACLE_CTE}
    SELECT conv_id,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           count(*)::BIGINT                                        AS n_turns,
           count(DISTINCT role)::BIGINT                            AS n_roles
    FROM transcripts2 GROUP BY 1, 2
    """,
)
def transcripts_turn_rate_1m(spark, sf):
    """Per-conversation 1-minute turn-rate points (the raw->1m tier on the
    transcript table)."""
    t = transcripts_from_events(spark, sf)
    return t.groupBy(
        "conv_id", F.date_trunc("minute", "ts").alias("_b")
    ).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("role").alias("n_roles"),
    ).select(
        "conv_id", _ts_str(F.col("_b")).alias("bucket"), "n_turns", "n_roles"
    )


@q(
    "transcripts_latency",
    f"""
    WITH {TRANSCRIPTS_ORACLE_CTE},
    d AS (
        SELECT conv_id,
               epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY conv_id ORDER BY turn_idx) AS gap
        FROM transcripts2
    )
    SELECT conv_id,
           count(*)::BIGINT   AS n_turns,
           round(avg(gap), 4) AS avg_latency_sec,
           round(max(gap), 4) AS max_latency_sec
    FROM d GROUP BY conv_id
    """,
)
def transcripts_latency(spark, sf):
    """Inter-turn latency per conversation over the stable turn_idx order
    (SURVEY §2.8 transcript latency derivation)."""
    t = transcripts_from_events(spark, sf)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap = epoch_sec("ts") - F.lag(epoch_sec("ts")).over(w)
    return (
        t.withColumn("gap", gap)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.avg("gap"), 4).alias("avg_latency_sec"),
            F.round(F.max("gap"), 4).alias("max_latency_sec"),
        )
    )


@q(
    "transcripts_tool_share",
    f"""
    WITH {TRANSCRIPTS_ORACLE_CTE}
    SELECT role,
           count(*)::BIGINT                              AS n_turns,
           count(DISTINCT conv_id)::BIGINT               AS n_convs,
           round(avg(length(text)), 4)                   AS avg_text_len,
           count(CASE WHEN tool <> '' THEN 1 END)::BIGINT AS n_tool_turns
    FROM transcripts2 GROUP BY role
    """,
)
def transcripts_tool_share(spark, sf):
    t = transcripts_from_events(spark, sf)
    return t.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.round(F.avg(F.length("text")), 4).alias("avg_text_len"),
        F.count(F.when(F.col("tool") != "", 1)).alias("n_tool_turns"),
    )


@q("kapra_output_table", None)
def kapra_output_table(spark, sf):
    """Reference-shaped anonymized output (kapra_anonymization.py:292-324):
    GroupID, per-timestamp '[lo-hi]' interval strings (int-cast bounds,
    M7), per-record Pattern — plus the M8 parse-back of the first interval
    proving format/parse are inverses. Rows-only (UDF pipeline; exactness
    is pytest-gated)."""
    t = transcripts_from_events(spark, sf)
    series = conv_turn_rate_series(t, n_buckets=8)
    res = kapra_anonymize(series, K=8, P=2, sax_level=8, t=8)
    rec = res.records
    iv = [
        F.format_string(
            "[%d-%d]",
            F.col("lower")[i].cast("long"),
            F.col("upper")[i].cast("long"),
        ).alias(f"H{i + 1}")
        for i in range(8)
    ]
    out = rec.select(
        F.col("group_id").alias("GroupID"), *iv,
        F.col("pattern").alias("Pattern"), "original_index",
    )
    # M8: parse the interval string back (regexp_extract x2 -> doubles)
    out = out.withColumn(
        "h1_lo", F.regexp_extract("H1", r"\[(-?\d+)-(-?\d+)\]", 1).cast("double")
    ).withColumn(
        "h1_hi", F.regexp_extract("H1", r"\[(-?\d+)-(-?\d+)\]", 2).cast("double")
    )
    register_cache(res.records)
    return out.orderBy("GroupID", "original_index")


def _output_structure(
    series: DataFrame,
    rec: DataFrame,
    n_suppressed: int,
    K: int,
    int_intervals: bool,
    n_cols: int = 8,
) -> DataFrame:
    """SQL-expressible structure of an anonymized output table (r05,
    VERDICT r04 #5): one row of invariants the DuckDB oracle can assert.

    - n_series_input: recounted from the RAW derived series (a real
      Spark job over the source table) — cross-checked against the
      oracle's count over the raw parquet, so a derivation that drops
      keys mismatches the hash.
    - conserved: output rows + suppressed == input series (record
      conservation through the whole pipeline).
    - intervals_ordered: lower[i] <= upper[i] for every record/col.
    - parse_roundtrip: format->parse identity on the reference-shaped
      '[lo-hi]' interval strings (M7 ∘ M8 == id), int-cast bounds for
      KAPRA, raw doubles for naive.
    - gid_dense: GroupIDs are exactly 1..G (the reference is 1-based).
    - k_satisfied: every output group has >= K records.
    """
    import functools
    import operator

    n_in = series.count()
    ordered, roundtrip = [], []
    for i in range(n_cols):
        lo, up = F.col("lower")[i], F.col("upper")[i]
        ordered.append(lo <= up)
        if int_intervals:
            fmt = F.format_string("[%d-%d]", lo.cast("long"), up.cast("long"))
            rx = r"\[(-?\d+)-(-?\d+)\]"
            plo = F.regexp_extract(fmt, rx, 1).cast("long")
            phi = F.regexp_extract(fmt, rx, 2).cast("long")
            roundtrip.append((plo == lo.cast("long")) & (phi == up.cast("long")))
        else:
            # naive keeps raw doubles; activity-count series are >= 0 so
            # the lower bound never starts with '-' and the separator is
            # unambiguous
            fmt = F.concat(
                F.lit("["), lo.cast("string"), F.lit("-"),
                up.cast("string"), F.lit("]"),
            )
            rx = r"\[([^-]+)-(.+)\]"
            plo = F.regexp_extract(fmt, rx, 1).cast("double")
            phi = F.regexp_extract(fmt, rx, 2).cast("double")
            roundtrip.append((plo == lo) & (phi == up))
    a = rec.agg(
        F.count(F.lit(1)).alias("_n_out"),
        F.bool_and(functools.reduce(operator.and_, ordered)).alias(
            "intervals_ordered"
        ),
        F.bool_and(functools.reduce(operator.and_, roundtrip)).alias(
            "parse_roundtrip"
        ),
        F.countDistinct("group_id").alias("_ng"),
        F.min("group_id").alias("_gmin"),
        F.max("group_id").alias("_gmax"),
    )
    g = rec.groupBy("group_id").count().agg(F.min("count").alias("_minsz"))
    return a.crossJoin(g).select(
        F.lit(int(n_in)).cast("long").alias("n_series_input"),
        (F.col("_n_out") + F.lit(int(n_suppressed)) == F.lit(int(n_in))).alias(
            "conserved"
        ),
        "intervals_ordered",
        "parse_roundtrip",
        # reference GroupIDs are 1-based (docs/data/kapra_anonymized.csv)
        ((F.col("_ng") == F.col("_gmax")) & (F.col("_gmin") == 1)).alias(
            "gid_dense"
        ),
        (F.col("_minsz") >= K).alias("k_satisfied"),
    )


_STRUCTURE_FLAGS = (
    "TRUE AS conserved, TRUE AS intervals_ordered, TRUE AS parse_roundtrip, "
    "TRUE AS gid_dense, TRUE AS k_satisfied"
)


@q(
    "kapra_output_structure",
    f"""
    WITH {TRANSCRIPTS_ORACLE_CTE}
    SELECT count(DISTINCT conv_id)::BIGINT AS n_series_input,
           {_STRUCTURE_FLAGS}
    FROM transcripts2
    """,
)
def kapra_output_structure(spark, sf):
    """Partial oracle for kapra_output_table (r05, VERDICT r04 #5): the
    SQL-expressible structure of the reference-shaped KAPRA output —
    record conservation (rows + suppressed == input series, input
    recounted from raw data and cross-checked by DuckDB), interval
    ordering, M7∘M8 format/parse identity, GroupID density, and the
    k-anonymity floor. Value exactness stays pytest-gated."""
    t = transcripts_from_events(spark, sf)
    series = conv_turn_rate_series(t, n_buckets=8)
    res = kapra_anonymize(series, K=8, P=2, sax_level=8, t=8)
    out = _output_structure(
        series, res.records, res.n_suppressed, K=8, int_intervals=True
    )
    register_cache(res.records)
    return out


@q(
    "naive_output_structure",
    """
    SELECT count(DISTINCT user_id)::BIGINT AS n_series_input,
           """ + _STRUCTURE_FLAGS + """
    FROM events
    """,
)
def naive_output_structure(spark, sf):
    """Partial oracle for naive_output_table (r05, VERDICT r04 #5): same
    structural invariants as kapra_output_structure over the naive
    pipeline's raw-double interval strings (no suppression: conservation
    is rows == input series)."""
    ev = read_table(spark, sf, "events")
    series = user_activity_series(ev)
    res = naive_anonymize(series, K=8, P=2, max_level=10, t=8)
    out = _output_structure(series, res.records, 0, K=8, int_intervals=False)
    register_cache(res.records)
    return out


@q("plot_cluster_envelope", None)
def plot_cluster_envelope(spark, sf):
    """generate_plots analogue (reference src/generate_plots.py:69-148):
    reference-shaped KAPRA output -> the selected cluster's per-timestamp
    (t, lower, upper) envelope rows — the exact data the fill_between
    figure consumes, parsed back from '[lo-hi]' interval strings with
    JVM-side regexps (M8). Rows-only (input is a UDF-pipeline product);
    parse/selection exactness is pytest-gated in tests/test_plots.py."""
    from .plans.plots import cluster_envelope_data

    src = kapra_output_table(spark, sf)  # registers its own cache (r05)
    return cluster_envelope_data(src)


# Published per-config (VL, PL) the grid-search queries are held to
# (r05, VERDICT r04 #4: full oracle via the literal-embedding technique).
# KAPRA: copied verbatim from the reference's committed
# docs/data/kapra_optimization_results.csv (byte-reproduced by the
# current reference code in-sandbox, see tests/test_grid_parity.py).
KAPRA_GRID_REF = {
    (5, 2, 3): (22.223831304900365, 0.16956357767461105),
    (5, 2, 5): (18.593057740580438, 0.15395765947251913),
    (5, 2, 8): (15.963091912338143, 0.14398883133328577),
    (5, 3, 3): (22.115051400702534, 0.16956357767461105),
    (5, 3, 5): (18.84410363782153, 0.1541004167277454),
    (5, 3, 8): (17.39181599396074, 0.14495431191713193),
    (10, 2, 3): (24.264677829463235, 0.16956357767461105),
    (10, 2, 5): (21.448508851981483, 0.15395765947251913),
    (10, 2, 8): (18.928808033729574, 0.14398883133328563),
    (10, 3, 3): (24.2717652796768, 0.16956357767461105),
    (10, 3, 5): (21.929967798048256, 0.15410041672774538),
    (10, 3, 8): (19.575679457208754, 0.14495431191713212),
}
# NAIVE: from tests/oracle/naive_grid_reference.csv — a deterministic
# fresh rerun of the unmodified reference code (the CSV committed in the
# reference tree is stale on 58/96 VL values; forensics in
# tests/test_grid_parity.py's docstring), itself matched by the in-repo
# numpy oracle on all 96 configs at 1e-6.
NAIVE_GRID_REF = {
    (5, 2, 5): (3.1386216, 0.3479889285008874),
    (5, 3, 8): (4.1364444, 0.4721820043995703),
    (10, 2, 10): (3.317834066666667, 0.2920114154132412),
    (10, 3, 5): (4.535050166666666, 0.3533859198332075),
}
_GRID_ATOL = 1e-6  # same bar as GRID_PARITY.md's 192/192 full sweep


def _golden_series(spark):
    """The reference's seed-42 golden input (3,000 series), regenerated
    deterministically by the declared clean-room replay in
    tests/oracle/legacy_dataset.py (reference src/dataset.py:6-115)."""
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:  # driver harnesses may run from elsewhere
        sys.path.insert(0, root)
    from tests.oracle.legacy_dataset import generate_legacy_dataset, series_matrix

    series = series_matrix(generate_legacy_dataset(3000, seed=42))
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(series)],
        "original_index long, values array<double>",
    )


def _dlit(x: float) -> str:
    """Exact DOUBLE literal for DuckDB: E-notation parses straight to
    double (strtod, correctly rounded); a plain decimal literal goes
    through DECIMAL whose cast to DOUBLE can be off by one ulp."""
    s = repr(float(x))
    return s if "e" in s or "E" in s else s + "e0"


def _grid_literals_sql(ref: dict) -> str:
    rows = ",\n        ".join(
        f"({k}, {p}, {lv}, {_dlit(vl)}, {_dlit(pl)}, TRUE, TRUE)"
        for (k, p, lv), (vl, pl) in sorted(ref.items())
    )
    return (
        "SELECT * FROM (VALUES\n        "
        + rows
        + "\n    ) AS t(k, p, level, vl_ref, pl_ref, vl_ok, pl_ok)"
        + " ORDER BY k, p, level"
    )


def _grid_parity_df(spark, ref: dict, algo: str, parallelism: int):
    from .plans.optimize import run_grid

    results = run_grid(
        _golden_series(spark), sorted(ref), algo=algo, parallelism=parallelism
    )
    rows = []
    for r in sorted(results, key=lambda r: (r.k, r.p, r.level)):
        vl_ref, pl_ref = ref[(r.k, r.p, r.level)]
        rows.append(
            (r.k, r.p, r.level, vl_ref, pl_ref,
             abs(r.vl - vl_ref) < _GRID_ATOL, abs(r.pl - pl_ref) < _GRID_ATOL)
        )
    return spark.createDataFrame(
        rows,
        "k int, p int, level int, vl_ref double, pl_ref double, "
        "vl_ok boolean, pl_ok boolean",
    )


@q("kapra_grid_search", _grid_literals_sql(KAPRA_GRID_REF))
def kapra_grid_search(spark, sf):
    """Hyper-parameter sweep (reference optimize_kapra entry point) on
    the regenerated golden dataset: the VERDICT-r01 12-config subset
    (K in {5,10} x P in {2,3} x L in {3,5,8}) via a driver thread pool.
    FULL ORACLE (r05): each config's engine VL/PL is compared to the
    reference's published CSV value embedded as a literal (1e-6, the
    GRID_PARITY.md bar); DuckDB replays the same literals, so a hash
    match proves the engine reproduces every published number. The full
    96-config sweep is in GRID_PARITY.md (tools/grid_parity.py); the
    engine-data sweep path stays exercised by tests/test_optimize.py."""
    return _grid_parity_df(spark, KAPRA_GRID_REF, "kapra", parallelism=4)


@q("naive_grid_search", _grid_literals_sql(NAIVE_GRID_REF))
def naive_grid_search(spark, sf):
    """Hyper-parameter sweep for the naive top-down pipeline (reference
    optimize_naive entry point) on the regenerated golden dataset, held
    to the validated fresh-rerun reference values (see NAIVE_GRID_REF
    note — the reference tree's committed CSV is stale). FULL ORACLE
    (r05), same literal-embedding technique as kapra_grid_search."""
    return _grid_parity_df(spark, NAIVE_GRID_REF, "naive", parallelism=2)


@q("kapra_transcripts", None)
def kapra_transcripts(spark, sf):
    """North-star flagship: transcripts -> per-conversation turn-rate
    series -> KAPRA (k,P)-anonymous pattern groups with envelopes + losses.
    Rows-only driver check; exactness vs the numpy oracle is enforced in
    tests/test_transcripts.py."""
    t = transcripts_from_events(spark, sf)
    series = conv_turn_rate_series(t, n_buckets=8)
    res = kapra_anonymize(series, K=8, P=2, sax_level=8, t=8)
    register_cache(res.records)
    return res.records.select(
        "original_index", "group_id", "pattern", "level",
        F.round("pl", 6).alias("pl"), F.round("vl", 6).alias("vl"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: documents + embeddings
# ---------------------------------------------------------------------------

@q(
    "doc_dedup_exact",
    """
    SELECT min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    """,
)
def doc_dedup_exact(spark, sf):
    d = read_table(spark, sf, "documents")
    norm = F.md5(F.lower(F.trim(F.regexp_replace("text", "\\s+", " "))))
    return d.groupBy(norm.alias("_k")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).drop("_k")


@q(
    "doc_token_stats",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
           length(text)::BIGINT                                   AS n_chars_txt,
           round(length(replace(text, ' ', ''))::DOUBLE /
                 len(regexp_split_to_array(trim(text), '\\s+')), 4) AS avg_token_len
    FROM documents
    """,
)
def doc_token_stats(spark, sf):
    d = read_table(spark, sf, "documents")
    n_tok = F.size(F.split(F.trim("text"), "\\s+"))
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_txt"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tok,
            4,
        ).alias("avg_token_len"),
    )


# --- text analysis --------------------------------------------------------

_SW = {
    "en": "['the','a','of','and','to','in','is','on','for','with']",
    "de": "['der','die','das','und','ist','mit','von','auf','fur','ein']",
    "fr": "['le','la','les','et','est','dans','pour','que','une','des']",
}
_SW_RATIO = (
    "len(list_filter(w, x -> list_contains({lst}, x)))::DOUBLE"
    " / greatest(len(w), 1)"
)


@q(
    "doc_language_id",
    f"""
    WITH t AS (
        SELECT doc_id, lang,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang,
               {_SW_RATIO.format(lst=_SW["en"])} AS r_en,
               {_SW_RATIO.format(lst=_SW["de"])} AS r_de,
               {_SW_RATIO.format(lst=_SW["fr"])} AS r_fr
        FROM t
    )
    SELECT doc_id, lang AS lang_label,
           CASE WHEN r_fr > 0.05 AND r_fr > r_en AND r_fr > r_de THEN 'fr'
                WHEN r_de > 0.05 AND r_de > r_en THEN 'de'
                WHEN r_en > 0.05 THEN 'en'
                ELSE 'und' END AS lang_pred,
           round(r_en, 6) AS r_en
    FROM r
    """,
)
def doc_language_id(spark, sf):
    """Stopword-list language ID heuristic (argmax ratio, floor 0.05)."""
    d = read_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        language_id(F.col("text")).alias("lang_pred"),
        F.round(stopword_ratio(F.col("text"), "en"), 6).alias("r_en"),
    )


@q(
    "doc_quality",
    f"""
    WITH t AS (
        SELECT doc_id, text,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               len(w)::BIGINT AS n_words,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens_bpe,
               length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                   / greatest(len(w), 1) AS avg_word_len,
               {_SW_RATIO.format(lst=_SW["en"])} AS stop_en,
               len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                   / greatest(length(text), 1) AS sym_ratio
        FROM t
    )
    SELECT doc_id, n_words, n_tokens_bpe,
           round(avg_word_len, 6)  AS avg_word_len,
           round(stop_en, 6)       AS stopword_ratio_en,
           round(sym_ratio, 6)     AS symbol_ratio,
           round(((CASE WHEN avg_word_len >= 2.5 AND avg_word_len <= 10.0
                        THEN 1 ELSE 0 END)
                + (CASE WHEN stop_en >= 0.02 THEN 1 ELSE 0 END)
                + (CASE WHEN sym_ratio <= 0.1 THEN 1 ELSE 0 END)
                + (CASE WHEN n_words >= 10 AND n_words <= 100000
                        THEN 1 ELSE 0 END)) / 4.0, 4) AS quality_score
    FROM f
    """,
)
def doc_quality(spark, sf):
    """Quality scoring: word/token counts, word-length, stopword and
    symbol ratios, 4-indicator composite score."""
    d = read_table(spark, sf, "documents")
    feats = quality_features(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in feats.items()])


@q(
    "doc_winnow_fingerprint",
    """
    SELECT doc_id,
           array_to_string(
               list_sort(list_distinct(list_transform(
                   list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[i+1:i+3], ' '))),
                   s -> CAST(concat('0x', substring(md5(s),1,15)) AS BIGINT)
               )))[1:4], ',') AS fingerprint
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS w
          FROM documents)
    WHERE len(w) >= 3
    """,
)
def doc_winnow_fingerprint(spark, sf):
    """Winnowing-style content signature: the 4 smallest distinct shingle
    hashes (CSV string so both engines hash identically)."""
    d = read_table(spark, sf, "documents")
    from .operators.dedup import tokenize

    return d.filter(F.size(tokenize(F.col("text"))) >= 3).select(
        "doc_id",
        F.concat_ws(",", winnow_fingerprint(F.col("text"), k=3, m=4))
        .alias("fingerprint"),
    )


# --- near-duplicate suite -------------------------------------------------

_SIMHASH_VOTES = "\n         , ".join(
    f"sum(CASE WHEN (h1 & {1 << i}) != 0 THEN 1 ELSE -1 END) AS a{i}"
    for i in range(SIMHASH_BITS)
) + "\n         , " + "\n         , ".join(
    f"sum(CASE WHEN (h2 & {1 << i}) != 0 THEN 1 ELSE -1 END) AS c{i}"
    for i in range(SIMHASH_BITS)
)
_SIMHASH_FP1 = " + ".join(
    f"(CASE WHEN a{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
)
_SIMHASH_FP2 = " + ".join(
    f"(CASE WHEN c{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
)


@q(
    "doc_ngram_jaccard_pairs",
    """
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(range(len(w) - 2),
               i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        FROM (SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w
              FROM documents)
        WHERE len(w) >= 3
    )
    SELECT a.doc_id                                    AS id_a,
           b.doc_id                                    AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(a.sh || b.sh)) >= 0.2
    """,
)
def doc_ngram_jaccard_pairs(spark, sf):
    """EXACT word-3-gram Jaccard near-dup pairs via shared-shingle blocking
    (no O(n^2)); the oracle brute-forces all pairs with list_intersect — an
    independent method, so a hash match validates the blocking logic."""
    d = read_table(spark, sf, "documents")
    return ngram_jaccard_pairs(d, k=3, threshold=0.2)


@q(
    "doc_simhash_pairs",
    f"""
    WITH w AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(word), 1, 15)) AS BIGINT) AS h1,
               CAST(concat('0x', substring(md5(word), 17, 15)) AS BIGINT) AS h2
        FROM w
    ),
    s AS (SELECT doc_id, {_SIMHASH_VOTES} FROM h GROUP BY doc_id),
    f AS (SELECT doc_id, {_SIMHASH_FP1} AS fp1, {_SIMHASH_FP2} AS fp2 FROM s)
    SELECT a.doc_id AS id_a,
           b.doc_id AS id_b,
           (bit_count(xor(a.fp1, b.fp1))
            + bit_count(xor(a.fp2, b.fp2)))::BIGINT AS hamming
    FROM f a JOIN f b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp1, b.fp1)) + bit_count(xor(a.fp2, b.fp2)) <= 5
    """,
)
def doc_simhash_pairs(spark, sf):
    """EXACT SimHash near-dup pairs (120-bit fingerprint as two 60-bit
    halves, hamming <= 5) via hierarchical two-level pigeonhole banding
    (band x complement-sub-block, ~37-bit keys: still Theta(n^2) random
    collisions but with a /2^34 constant — practical to ~10^9 docs);
    oracle brute-forces all fingerprint pairs. The testdata table is a
    single parquet file, so spread docs across cores first — the 120-sum
    vote aggregate is the heavy map side (a real corpus arrives in many
    splits and needs no repartition)."""
    d = read_table(spark, sf, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return simhash_pairs(d, max_hamming=5)


@q(
    "doc_minhash_lsh_pairs",
    """
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(range(len(w) - 2),
               i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        FROM (SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w
              FROM documents)
        WHERE len(w) >= 3
    ),
    shh AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)
                   % 2147483647 AS h
        FROM (SELECT doc_id, unnest(sh) AS s FROM d)
    ),
    perms AS (
        SELECT j,
               CASE WHEN (1103515245 * (j + 1) + 12345) % 2147483647 = 0
                    THEN 1
                    ELSE (1103515245 * (j + 1) + 12345) % 2147483647
               END AS a,
               (69069 * (j + 1) + 1) % 2147483647 AS b
        FROM (SELECT unnest(range(0, 64)) AS j)
    ),
    sig AS (
        SELECT shh.doc_id, p.j,
               min((p.a * shh.h + p.b) % 2147483647) AS mh
        FROM shh CROSS JOIN perms p
        GROUP BY 1, 2
    ),
    bands AS (
        SELECT doc_id, j // 4 AS band,
               string_agg(mh::VARCHAR, ',' ORDER BY j) AS band_key
        FROM sig
        GROUP BY doc_id, j // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(da.sh, db.sh))::DOUBLE
                 / len(list_distinct(da.sh || db.sh)), 6) AS jaccard
    FROM cand c
    JOIN d da ON da.doc_id = c.id_a
    JOIN d db ON db.doc_id = c.id_b
    WHERE len(list_intersect(da.sh, db.sh))::DOUBLE
          / len(list_distinct(da.sh || db.sh)) >= 0.2
    """,
)
def doc_minhash_lsh_pairs(spark, sf):
    """MinHash(64) + LSH(16x4) near-dup pairs, candidates verified with
    exact Jaccard — the sub-quadratic 100 TB path. Although recall is
    probabilistic in the abstract, the whole pipeline is DETERMINISTIC
    (fixed LCG permutations over md5 shingle hashes), so the DuckDB
    oracle replays it end-to-end — signatures, banding, candidate join,
    exact-Jaccard verification — and the hash must match value-for-value
    (r03; was rows-only). Precision/recall properties are additionally
    asserted in tests/test_dedup.py."""
    d = read_table(spark, sf, "documents")
    return minhash_lsh_pairs(d, k=3, threshold=0.2)


@q(
    "doc_dup_components",
    """
    WITH RECURSIVE d AS (
        SELECT doc_id, list_distinct(list_transform(range(len(w) - 2),
               i -> array_to_string(w[i+1:i+3], ' '))) AS sh
        FROM (SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w
              FROM documents)
        WHERE len(w) >= 3
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
              / len(list_distinct(a.sh || b.sh)) >= 0.2
    ),
    e AS (SELECT id_a AS s, id_b AS t FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(node, r) AS (
        SELECT s, s FROM e
        UNION
        SELECT e.s, reach.r FROM e JOIN reach ON e.t = reach.node
    )
    SELECT node AS doc_id, MIN(r)::BIGINT AS component_id
    FROM reach GROUP BY node
    """,
)
def doc_dup_components(spark, sf):
    """Duplicate-cluster assignment: near-dup relations are not
    transitive, so pair output must be grouped into connected components
    before electing one canonical doc per cluster. Spark side runs the
    scalable alternating large-star/small-star algorithm
    (operators/components.py, O(log n) rounds of bounded shuffles); the
    oracle computes the same components by recursive-CTE transitive
    closure — an independent method, so a hash match validates the star
    alternation end-to-end. component_id = min doc_id of the cluster."""
    from .operators.components import connected_components

    d = read_table(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b")
    # the backing checkpoint is registered with plans.lifetime by the
    # operator itself; the harness's lifetime.scope() frees it
    return comp.select(F.col("node").alias("doc_id"), "component_id")


@q(
    "doc_stratified_sample",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000000
          < CASE lang WHEN 'en' THEN 300000
                      WHEN 'zh' THEN 1000000
                      WHEN 'de' THEN 500000
                      ELSE 100000 END
    """,
)
def doc_stratified_sample(spark, sf):
    """Deterministic stratified corpus sampling (language rebalancing:
    keep 30% of English, all Chinese, 50% of German, 10% of the rest).
    Hash-threshold on doc_id, not RNG — the sample is a pure function of
    the data, identical under retries/repartitioning/engines, which is
    why the DuckDB oracle can reproduce it row-for-row
    (operators/sample.py). One narrow JVM-side filter: no shuffle."""
    from .operators.sample import stratified_sample

    d = read_table(spark, sf, "documents")
    return stratified_sample(
        d.select("doc_id", "lang", "n_chars"),
        key_col="doc_id",
        fractions={"en": 0.3, "zh": 1.0, "de": 0.5},
        strata_col="lang",
        default_fraction=0.1,
    )


@q(
    "doc_global_shuffle",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)))
               AS shuffle_rank
    FROM documents
    """,
)
def doc_global_shuffle(spark, sf):
    """Deterministic global training-order shuffle: rank every document by
    the hash of its key. RNG-free (reproducible across runs/engines —
    the oracle replays it) and single-task-free: the rank is the two-stage
    range-partition + local row_number + broadcast offsets of
    operators/rank.py, so the 'global sort' never funnels the corpus
    through one task — the exact shape a 100 TB epoch-order shuffle
    needs. md5 hex is unique per key, so the rank is total."""
    from .operators.rank import distributed_rank

    d = read_table(spark, sf, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    # hex_key: partition ids derive from the md5 prefix itself — no
    # sampled boundaries, so no persisted intermediate (ADVICE r03: the
    # query path pinned an O(N) rank cache for the whole session)
    return distributed_rank(
        d, "_h", "shuffle_rank", cast="bigint", hex_key=True
    ).select("doc_id", "shuffle_rank")


@q(
    "doc_pack_offsets",
    """
    SELECT doc_id,
           n_chars::BIGINT                                  AS size,
           (sum(n_chars) OVER w - n_chars)::BIGINT          AS start_off,
           (sum(n_chars) OVER w)::BIGINT                    AS end_off,
           ((sum(n_chars) OVER w - n_chars) // 4096)::BIGINT AS first_bin,
           ((sum(n_chars) OVER w - 1) // 4096)::BIGINT      AS last_bin
    FROM documents
    WINDOW w AS (ORDER BY md5(CAST(doc_id AS VARCHAR))
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def doc_pack_offsets(spark, sf):
    """Concat-then-chunk sequence packing: each document's interval in the
    md5-ordered packed stream and the 4096-unit context windows it spans —
    the dataloader metadata for packed pretraining batches. One
    distributed prefix-sum (range partition + local cumsum + broadcast
    offsets, operators/pack.py); the oracle is a plain SQL running-sum
    window, so the layout is verified value-for-value."""
    from .operators.pack import pack_offsets

    d = read_table(spark, sf, "documents")
    return pack_offsets(d, key_col="doc_id", size_col="n_chars", capacity=4096)


@q("media_pipeline", None)
def media_pipeline(spark, sf):
    """Multimodal plumbing end-to-end: deterministic synth media table ->
    fake-decode statistics -> byte-histogram features -> per-kind summary
    (the real-codec seam is gated; see operators/multimodal.py).
    Rows-only: payload bytes have no SQL analogue."""
    from .operators.multimodal import decode_media, extract_features, synth_media

    m = synth_media(spark, 120)
    d = decode_media(m)
    f = extract_features(m, dim=16)
    return (
        d.join(f, "media_id")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("mean_byte"), 4).alias("avg_mean_byte"),
            F.round(F.avg(F.element_at("features", 1)), 6).alias("avg_f0"),
        )
        .orderBy("kind")
    )


def _ann_oracle_sql(n_planes: int = 6, dim: int = 64, k: int = 10) -> str:
    """DuckDB replay of the hyperplane-LSH probe (VERDICT r03 #3): the
    plane components are pure md5 functions of (plane, dim)
    (operators/ann.py _plane_component), so they are embedded as literal
    DOUBLE lists and the oracle recomputes every vector's bucket, the
    query bucket, the hamming-1 probe set, and the exact unit-cosine
    rescoring — the entire index + query path, independently."""
    from .operators.ann import hyperplanes

    planes = hyperplanes(n_planes, dim)

    def plane_lit(row) -> str:
        return "[" + ", ".join(repr(float(x)) for x in row) + "]"

    def bucket(vexpr: str) -> str:
        return "\n           + ".join(
            f"(CASE WHEN list_dot_product({vexpr}, {plane_lit(planes[p])}) > 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    probes = ", ".join(["q.b"] + [f"xor(q.b, {1 << p})" for p in range(n_planes)])
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
    qb AS (SELECT {bucket('qv')} AS b, qv FROM q),
    cand AS (SELECT e.vec_id, e.v, {bucket('e.v')} AS bucket FROM e)
    SELECT c.vec_id,
           round(list_dot_product(
               list_transform(c.v, x -> x / sqrt(list_dot_product(c.v, c.v))),
               list_transform(q.qv, x -> x / sqrt(list_dot_product(q.qv, q.qv)))
           ), 6) AS cosine
    FROM cand c, qb q
    WHERE c.vec_id <> (SELECT min(vec_id) FROM e)
      AND c.bucket IN ({probes})
    ORDER BY cosine DESC, c.vec_id
    LIMIT {k}
    """


@q("emb_ann_topk", _ann_oracle_sql())
def emb_ann_topk(spark, sf):
    """LSH-bucketed ANN top-10 for the first vector (the sub-quadratic
    scale path of emb_cosine_topk). FULL oracle (r04): the hyperplanes
    are deterministic md5 functions, so the DuckDB SQL rebuilds the
    index (bucket per vector), the multi-probe set and the candidate
    rescoring from scratch; recall >= 0.8 on clustered data is
    additionally asserted in tests/test_ann.py."""
    from .operators.ann import ann_index, ann_query

    e = read_table(spark, sf, "embeddings")
    qrow = (
        e.orderBy("vec_id")
        .select("vec_id", F.col("embedding").cast("array<double>"))
        .first()
    )
    idx = ann_index(e, n_planes=6)
    return ann_query(idx, qrow[1], k=10, n_planes=6, exclude_id=qrow[0])


@q("emb_ivf_topk", None)
def emb_ivf_topk(spark, sf):
    """IVF (k-means inverted-file) ANN top-10 for the first vector — the
    data-adaptive sibling of the hyperplane index (task brief: "an IVF or
    LSH-bucketed variant as the scale path"; this engine ships BOTH).
    Rows-only BY PROOF (VERDICT r03 #3): Spark ML's k-means|| init draws
    from its internal XORShiftRandom stream and every Lloyd iteration
    reduces float sums in partition order, so no SQL engine can replay
    the trained centroids bit-for-bit, and ulp-level centroid drift
    flips boundary assignments — there is nothing stable for DuckDB to
    recompute. The machine checks instead: emb_ivf_topk_allprobe below
    (index plumbing == brute force under full probing, full DuckDB
    oracle) and tests/test_ann.py (recall >= 0.8, list pruning)."""
    from .operators.ann import ivf_index, ivf_query

    e = read_table(spark, sf, "embeddings")
    qrow = (
        e.orderBy("vec_id")
        .select("vec_id", F.col("embedding").cast("array<double>"))
        .first()
    )
    idx, cents = ivf_index(e, n_lists=16)
    return ivf_query(idx, cents, qrow[1], k=10, n_probe=4, exclude_id=qrow[0])


@q(
    "emb_ivf_topk_allprobe",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = (SELECT min(vec_id) FROM e))
    SELECT e.vec_id,
           round(list_dot_product(
               list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v))),
               list_transform(q.qv, x -> x / sqrt(list_dot_product(q.qv, q.qv)))
           ), 6) AS cosine
    FROM e, q
    WHERE e.vec_id <> (SELECT min(vec_id) FROM e)
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def emb_ivf_topk_allprobe(spark, sf):
    """IVF lossless-partitioning invariant, machine-checked: with EVERY
    inverted list probed, the IVF result must equal exact brute-force
    top-k — i.e. k-means assignment puts each vector in exactly one
    list and the probe union loses nothing. The oracle is the
    brute-force unit-cosine top-k in SQL, independent of the trained
    centroids, so this pins the index/query plumbing even though the
    centroids themselves are not SQL-replayable (see emb_ivf_topk)."""
    from .operators.ann import ivf_index, ivf_query

    e = read_table(spark, sf, "embeddings")
    qrow = (
        e.orderBy("vec_id")
        .select("vec_id", F.col("embedding").cast("array<double>"))
        .first()
    )
    idx, cents = ivf_index(e, n_lists=16)
    return ivf_query(idx, cents, qrow[1], k=10, n_probe=16, exclude_id=qrow[0])


@q(
    "emb_neardup_pairs",
    """
    WITH u AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[]))) AS v
        FROM embeddings
    )
    SELECT a.vec_id                              AS id_a,
           b.vec_id                              AS id_b,
           round(list_dot_product(a.v, b.v), 6)  AS cosine
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) >= 0.45
    """,
)
def emb_neardup_pairs(spark, sf):
    """EXACT embedding near-dup pairs (cosine >= 0.45) — the brute-force
    correctness baseline for ANN (scale path: operators/ann.py)."""
    e = read_table(spark, sf, "embeddings")
    return embedding_neardup_pairs(e, threshold=0.45)


@q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark, sf):
    d = read_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", "\\s+", " "))).alias("fingerprint"),
    )


@q(
    "emb_cosine_topk",
    """
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    )
    SELECT e.vec_id,
           round(
             list_dot_product(e.embedding::DOUBLE[], q.qv) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def emb_cosine_topk(spark, sf):
    """Brute-force cosine top-k (the exact ANN baseline): JVM-side
    zip_with/aggregate fold, query vector broadcast as a literal."""
    e = read_table(spark, sf, "embeddings")
    qrow = (
        e.orderBy("vec_id").select("vec_id", F.col("embedding").cast("array<double>"))
        .first()
    )
    qv = F.lit(qrow[1]).cast("array<double>")
    emb = F.col("embedding").cast("array<double>")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    return (
        e.filter(F.col("vec_id") != qrow[0])
        .select(
            "vec_id",
            F.round(
                dot(emb, qv) / (F.sqrt(dot(emb, emb)) * F.sqrt(dot(qv, qv))), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# KAPRA flagship (UDF pipeline -> rows-only driver check; exactness is
# covered by the pytest oracle gate instead)
# ---------------------------------------------------------------------------

@q("kapra_user_activity", None)
def kapra_user_activity(spark, sf):
    ev = read_table(spark, sf, "events")
    series = user_activity_series(ev)
    res = kapra_anonymize(series, K=8, P=2, sax_level=8, t=8)
    register_cache(res.records)
    return res.records.select(
        "original_index", "group_id", "pattern", "level",
        F.round("pl", 6).alias("pl"), F.round("vl", 6).alias("vl"),
    )


@q("naive_output_table", None)
def naive_output_table(spark, sf):
    """Reference-shaped NAIVE output (naive_anonymization.py:264-312):
    GroupID, raw-value '[lo-hi]' interval strings (no int cast — the
    naive/KAPRA formatting difference, SURVEY §4.4), per-record Pattern,
    ordered by GroupID like the reference's final sort. Rows-only."""
    ev = read_table(spark, sf, "events")
    series = user_activity_series(ev)
    res = naive_anonymize(series, K=8, P=2, max_level=10, t=8)
    rec = res.records
    iv = [
        F.concat(
            F.lit("["), F.col("lower")[i].cast("string"), F.lit("-"),
            F.col("upper")[i].cast("string"), F.lit("]"),
        ).alias(f"H{i + 1}")
        for i in range(8)
    ]
    register_cache(rec)
    return rec.select(
        F.col("group_id").alias("GroupID"), *iv,
        F.col("pattern").alias("Pattern"), "original_index",
    ).orderBy("GroupID", "original_index")


@q("naive_user_activity", None)
def naive_user_activity(spark, sf):
    """Naive top-down (k,P) pipeline (Mondrian + node splitting + bad-leaf
    absorption) on the same derived series; rows-only driver check — exact
    parity is enforced by the pytest oracle gate."""
    ev = read_table(spark, sf, "events")
    series = user_activity_series(ev)
    res = naive_anonymize(series, K=8, P=2, max_level=10, t=8)
    register_cache(res.records)
    return res.records.select(
        "original_index", "group_id", "leaf_seq", "pattern", "level",
        F.round("vl", 4).alias("vl"),
    )


# ---------------------------------------------------------------------------
# Range-query error — the reference's published utility metric
# (docs/naive-algo.md:91: "Range Query Error < 10%"); operators/range_error.py
# ---------------------------------------------------------------------------

@q(
    "range_query_truth",
    """
    WITH lohi AS (SELECT epoch(min(ts)) AS lo, epoch(max(ts)) AS hi FROM events),
    b AS (
        SELECT user_id,
               least(floor((epoch(ts) - lo) / (hi - lo) * 8), 7)::INT AS pos,
               count(*)::DOUBLE AS c
        FROM events, lohi GROUP BY 1, 2
    ),
    spine AS (
        SELECT user_id, unnest(range(8))::INT AS pos
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    filled AS (
        SELECT s.user_id, s.pos, coalesce(b.c, 0.0) AS c
        FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.pos = b.pos
    ),
    dom AS (SELECT min(c) AS vmin, max(c) AS vmax FROM filled),
    us AS (
        SELECT qid,
               CAST(concat('0x', substring(md5('rq:' || qid || ':t'), 1, 12))
                    AS BIGINT) / 281474976710656.0 AS ut,
               CAST(concat('0x', substring(md5('rq:' || qid || ':w'), 1, 12))
                    AS BIGINT) / 281474976710656.0 AS uw,
               CAST(concat('0x', substring(md5('rq:' || qid || ':a'), 1, 12))
                    AS BIGINT) / 281474976710656.0 AS ua
        FROM (SELECT unnest(range(50))::INT AS qid)
    ),
    qs AS (
        SELECT qid,
               (floor(ut * 8))::INT % 8 AS t_idx,
               vmin + ua * ((vmax - vmin)
                            - (0.05 + 0.45 * uw) * (vmax - vmin)) AS q_lo,
               (vmin + ua * ((vmax - vmin)
                             - (0.05 + 0.45 * uw) * (vmax - vmin)))
                 + (0.05 + 0.45 * uw) * (vmax - vmin) AS q_hi
        FROM us, dom
    )
    SELECT q.qid, q.t_idx,
           round(q.q_lo, 6) AS q_lo, round(q.q_hi, 6) AS q_hi,
           sum(CASE WHEN f.c >= q.q_lo AND f.c <= q.q_hi
                    THEN 1 ELSE 0 END)::BIGINT AS true_cnt
    FROM qs q JOIN filled f ON f.pos = q.t_idx
    GROUP BY 1, 2, 3, 4
    """,
)
def range_query_truth_counts(spark, sf):
    """Ground-truth side of the range-query workload: 50 deterministic
    md5-derived range predicates over the derived activity series, each
    answered exactly on the raw data. The DuckDB oracle regenerates the
    identical predicates (same md5 uniforms, same expression order —
    operators/range_error.py range_predicates) and recounts, so the
    predicate arithmetic and truth counting are machine-checked; the
    envelope-side estimates below are then pinned against a numpy replay
    in tests/test_range_error.py (the tree pipelines themselves are not
    SQL-expressible)."""
    from .operators.range_error import range_query_truth

    ev = read_table(spark, sf, "events")
    series = user_activity_series(ev)
    return range_query_truth(series, t=8, n_queries=50)


@q("naive_range_query_error", None)
def naive_range_query_error(spark, sf):
    """Range-query error of the naive pipeline's envelopes at the
    reference's best-trade-off config (K=5, P=2, MaxLevel=10 — the one
    the "< 10%" claim is published at). Rows-only: the envelope side
    depends on the tree algorithm; tests/test_range_error.py holds the
    3,000-record golden run under the published 10% bound."""
    from .operators.range_error import range_query_error

    ev = read_table(spark, sf, "events")
    series = user_activity_series(ev)
    res = naive_anonymize(series, K=5, P=2, max_level=10, t=8)
    register_cache(res.records)
    return range_query_error(res.records, series, t=8, n_queries=50)


@q("kapra_range_query_error", None)
def kapra_range_query_error(spark, sf):
    """Same metric over the KAPRA pipeline's group envelopes (K=5, P=2,
    level 8) — the cross-pipeline utility comparison the reference's
    docs make qualitatively (KAPRA trades VL for PL). Rows-only, same
    pytest pinning as the naive variant."""
    from .operators.range_error import range_query_error

    ev = read_table(spark, sf, "events")
    series = user_activity_series(ev)
    res = kapra_anonymize(series, K=5, P=2, sax_level=8, t=8)
    register_cache(res.records)
    return range_query_error(res.records, series, t=8, n_queries=50)
