"""Connected components over near-duplicate pair graphs (dedup clustering).

A 100 TB dedup pipeline does not stop at PAIRS: near-duplicate relations
(MinHash/SimHash/Jaccard) are not transitive, so keeping "one doc per
duplicate relation" requires grouping pairs into connected components and
electing one canonical document per component. The classic scalable
algorithm is alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): each round is
two bounded shuffles (a groupBy-min and a join back), the edge set only
ever shrinks toward per-component stars, and convergence takes
O(log^2 n) rounds in the worst case — O(log n) in practice — versus the
O(diameter) rounds of naive label propagation (a 10^6-long chain would
take 10^6 rounds under label-prop, ~20 here; test_components pins this).

Spark-first shape: everything is DataFrame groupBy/join (hash shuffles on
node id, AQE-coalesced); per-round state is an eagerly localCheckpointed
edge set (plan truncation — the loop would otherwise double the logical
plan each round), and the only driver traffic is the O(1) convergence
signature (edge count + xor of edge hashes) per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.lifetime import _release_local_checkpoint, register_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component_id) for every node appearing in ``edges``;
    component_id = the smallest node id in the component.

    Node ids must be castable to long. Duplicate / reversed edges are
    tolerated; self-loops are ignored (a node with ONLY self-loops is
    absent from the output, as is any node not in ``edges``).
    Deterministic: the result depends only on the edge SET.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"),  # canonical: u > v
            F.least("a", "b").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    prev_ckpt = e
    for _ in range(max_iter):
        # -- large-star: for every node u, attach its LARGER neighbors to
        # m = min(neighborhood(u) + u). Output edges all point big -> small.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        ls = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: for every node u, re-hang its SMALLER neighbors
        # (plus u itself) off m = min of them. Edges stay big -> small.
        smin = ls.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (
            ls.join(smin, "u")
            .select(F.col("v").alias("x"), "m")
            .unionByName(smin.select(F.col("u").alias("x"), "m"))
            .filter(F.col("x") != F.col("m"))
            .select(
                F.greatest("x", "m").alias("u"),
                F.least("x", "m").alias("v"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # O(1) convergence signature to the driver; at the fixpoint every
        # component is a star rooted at its minimum
        sig = e2.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: an order-insensitive set checksum that
            # cannot overflow under ANSI arithmetic
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        _release_local_checkpoint(prev_ckpt)
        e, prev_ckpt = e2, e2
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"no convergence in {max_iter} star rounds")
    # stars: children u -> root v, plus the roots themselves. The final
    # round's checkpoint backs the result and must outlive it; it is
    # registered with the session lifetime registry (r05, ADVICE r04:
    # the old `_result_ckpt` attribute vanished across any caller
    # transformation and pinned blocks for callers that didn't know the
    # convention) — the harness frees it via plans.lifetime.release_all()
    # AFTER materializing the result; re-collecting after that raises
    # rather than recomputing (a localCheckpoint has no lineage).
    register_checkpoint(e)
    return e.select(
        F.col("u").alias("node"), F.col("v").alias("component_id")
    ).unionByName(e.select("v", "v").distinct().toDF("node", "component_id"))
