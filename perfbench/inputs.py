"""Seeded input generators. The same seed gives the same inputs; the
engine sees only the files written here.

Every generator draws from ``numpy.random.default_rng([seed, salt])`` so
the workloads use independent streams of one seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01 00:00:00 UTC; every generated timestamp is whole seconds
#: after it
T0_S = 1_704_067_200

_WORDS = ("plan step tool result check run query data merge scan sort "
          "join fetch parse emit retry").split()
_SENTENCES = [" ".join(_WORDS[(i * 7 + j * 3) % len(_WORDS)]
                       for j in range(5 + i % 4)) for i in range(64)]
_TOOLS = ["search", "code", "browse", "none"]


@dataclass
class Conversations:
    """Turns of generated conversations, in (conversation, turn) order."""

    conv_ids: np.ndarray  # str, one per conversation
    conv: np.ndarray      # int64 conversation number per turn
    turn_idx: np.ndarray  # int32
    ts_s: np.ndarray      # int64 epoch seconds
    gap_s: np.ndarray     # int64 seconds since the previous turn (0 first)


def conversations(rng: np.random.Generator, n_convs: int, turns_lo: int,
                  turns_hi: int, gap_mean_s: float, start_spread_s: int,
                  pace_sigma: float = 0.75) -> Conversations:
    """Conversations of ``turns_lo..turns_hi`` turns. Each one has its own
    pace: gaps are exponential with a per-conversation mean drawn around
    ``gap_mean_s`` (log-normal, ``pace_sigma``), with occasional long
    pauses, so per-conversation turn rates differ in shape and not only
    in scale."""
    n_turns = rng.integers(turns_lo, turns_hi + 1, size=n_convs)
    conv = np.repeat(np.arange(n_convs, dtype=np.int64), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn_idx = (np.arange(conv.size) - np.repeat(starts, n_turns)).astype(
        np.int32)
    pace = rng.lognormal(0.0, pace_sigma, size=n_convs) * gap_mean_s
    gap = np.ceil(rng.exponential(1.0, size=conv.size) * pace[conv])
    pause = rng.random(conv.size) < 0.04
    gap[pause] *= rng.integers(10, 60, size=int(pause.sum()))
    gap = np.maximum(gap, 1).astype(np.int64)
    gap[starts] = 0
    t_start = T0_S + rng.integers(0, start_spread_s, size=n_convs)
    ts = t_start[conv] + _segment_cumsum(gap, starts)
    conv_ids = np.array([f"c{i:09d}" for i in range(n_convs)], dtype=object)
    return Conversations(conv_ids, conv, turn_idx, ts, gap)


def _segment_cumsum(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    c = np.cumsum(x)
    lens = np.diff(np.append(starts, x.size))
    return c - np.repeat(c[starts] - x[starts], lens)


def _dict(indices: np.ndarray, values) -> pa.DictionaryArray:
    return pa.DictionaryArray.from_arrays(
        pa.array(indices, pa.int32()), pa.array(list(values), pa.string()))


def _ts(ts_s: np.ndarray) -> pa.Array:
    return pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC"))


def write_transcripts(c: Conversations, rng: np.random.Generator,
                      path: str) -> int:
    """Write turns in the engine's transcript schema (conv_id, turn_idx,
    role, text, tool, ts). Returns the row count."""
    n = c.conv.size
    is_tool = rng.random(n) < 1 / 11
    role = np.where(is_tool, 2, c.turn_idx % 2)
    tool = np.where(is_tool, rng.integers(0, len(_TOOLS), size=n), 4)
    table = pa.table({
        "conv_id": _dict(c.conv, c.conv_ids),
        "turn_idx": pa.array(c.turn_idx),
        "role": _dict(role, ["user", "assistant", "tool"]),
        "text": _dict(rng.integers(0, len(_SENTENCES), size=n), _SENTENCES),
        "tool": _dict(tool, [*_TOOLS, ""]),
        "ts": _ts(c.ts_s),
    })
    pq.write_table(table, path)
    return n


def write_points(c: Conversations, path: str) -> int:
    """Point stream derived from turns: key = conversation, value = the
    inter-turn gap in seconds."""
    table = pa.table({
        "conv_id": _dict(c.conv, c.conv_ids),
        "ts": _ts(c.ts_s),
        "value": pa.array(c.gap_s.astype(np.float64)),
    })
    pq.write_table(table, path)
    return c.conv.size


def turn_rate_series(c: Conversations, n_buckets: int = 8) -> np.ndarray:
    """Per-conversation turn counts in ``n_buckets`` equal buckets of the
    conversation's own span, computed in numpy with the same float
    operations as the definition: bucket = min(floor((ts - lo) / span *
    n_buckets), n_buckets - 1), span = max(hi - lo, 1e-9)."""
    n_convs = c.conv_ids.size
    ts = c.ts_s.astype(np.float64)
    lo = np.full(n_convs, np.inf)
    hi = np.full(n_convs, -np.inf)
    np.minimum.at(lo, c.conv, ts)
    np.maximum.at(hi, c.conv, ts)
    span = np.maximum(hi - lo, 1e-9)[c.conv]
    b = np.minimum(np.floor((ts - lo[c.conv]) / span * n_buckets),
                   n_buckets - 1).astype(np.int64)
    out = np.zeros((n_convs, n_buckets))
    np.add.at(out, (c.conv, b), 1.0)
    return out
