"""Connected components: verified pairs -> cluster assignments.

Reference analog: the dedup index resolves every duplicate to a single
*backward* reference — the first occurrence wins, deterministically, thanks
to the serialized index ring (/root/reference/rabin/rabin_dedup.c:1466-1467,
/root/reference/pcompress.c:2610-2617). Here "first" becomes "lexicographic
minimum conv_id of the component" — the same acyclicity invariant
("all duplicate references will be backward references",
/root/reference/rabin/rabin_dedup.c:1606-1617) with no serialization: the
shuffle is the index and min() is associative.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond") — O(log^2 n) rounds worst case, 2-3
rounds on dedup graphs (clusters are near-cliques with tiny diameter).
Physical two-path strategy: edge sets small enough to fit the driver's
broadcast budget (cfg.cc_local_edges, 16 B/edge) skip the distributed
rounds entirely and run a vectorized numpy union-find — each distributed
round costs several driver-synchronized jobs whose scheduling latency is
independent of core count, i.e. pure serial fraction under N->4N scaling.
The decision is size-gated, logged to metrics, and bit-identical in output;
the distributed loop remains the path for web-scale edge sets.

Scale-first formulation: each half-round is groupBy().min() + a join —
NO collect_set/collect_list, so a giant component (every near-copy of one
viral boilerplate doc) never materializes a multi-million-element array in
one task. The groupBy min is map-side combinable; the join back is AQE
skew-splittable. ``localCheckpoint`` truncates lineage each round so the
plan doesn't grow superlinearly with iterations.

Convergence is detected by an order-insensitive edge-set checksum
(count + sum of xxhash64(u,v)) — one cheap agg per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    nbrs = edges.select(F.col("u"), F.col("v")).union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("mu"), F.least("mn", "u").alias("m"))
    )
    return (
        nbrs.alias("nb")
        .join(mins.alias("mi"), F.col("nb.u") == F.col("mi.mu"))
        .where(F.col("nb.v") > F.col("nb.u"))
        .select(F.col("nb.v").alias("u"), F.col("mi.m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges hi->lo; per hi: m = min(lo); emit (lo, m) for lo != m
    plus (hi, m)."""
    oriented = edges.select(
        F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
    ).distinct()
    mins = (
        oriented.groupBy("hi")
        .agg(F.min("lo").alias("m"))
        .select(F.col("hi").alias("mhi"), "m")
    )
    lo_edges = (
        oriented.alias("or")
        .join(mins.alias("mi"), F.col("or.hi") == F.col("mi.mhi"))
        .where(F.col("or.lo") != F.col("mi.m"))
        .select(F.col("or.lo").alias("u"), F.col("mi.m").alias("v"))
    )
    hi_edges = mins.select(F.col("mhi").alias("u"), F.col("m").alias("v"))
    return lo_edges.union(hi_edges).where(F.col("u") != F.col("v")).distinct()


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: ANSI-safe (no long overflow) and exact
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def union_find(u, v, max_iters: int):
    """Driver union-find over int64 edge arrays ``u``/``v`` -> (ids, labs):
    the sorted distinct endpoint values and, per id, the minimum value of
    its component. Spark-free: vectorized numpy
    min-hooking with full path compression, bit-identical labels to the
    distributed star fixpoint. The single union-find of the engine — the
    connected-components fast path and the incremental clusters driver
    path (functions/incremental.py) both call it.

    This is the physical fast path behind ``cfg.cc_local_edges``: when the
    verified pair list fits in the same budget a broadcast join would ship
    through the driver anyway, running O(log n) DISTRIBUTED rounds pays
    nothing but per-job scheduling latency — a fixed serial cost that
    dominates the clusters stage at bench scale and is pure Amdahl fraction
    at N->4N. The reference makes the same move in the opposite direction:
    its index auto-switches simple->segmented only past a memory budget
    (rabin/global/index.c:119-215)."""
    import numpy as np

    u, v = np.asarray(u), np.asarray(v)
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    eu, ev = inv[: u.size], inv[u.size:]
    parent = np.arange(ids.size, dtype=np.int64)
    for _ in range(max_iters):
        pu, pv = parent[eu], parent[ev]
        if np.array_equal(pu, pv):
            break
        # hook the larger root under the smaller (min-label invariant) ...
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        # ... then compress paths to fixpoint (np.unique sorts ids, so index
        # order == value order and the component's root index IS its min id)
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
    else:
        raise RuntimeError(
            f"local union-find did not converge in {max_iters} iters")
    return ids, ids[parent]


def connected_components(
    all_nodes: DataFrame, pairs: DataFrame, cfg: DedupConfig,
    stats: dict | None = None,
) -> DataFrame:
    """all_nodes: (conv_id, id_hash) for every doc, clustered or not;
    pairs: (..., ih_a, ih_b) long edge keys. Returns (conv_id, cluster_id)
    where cluster_id = min conv_id of the component (singletons map to
    self). ``stats`` (optional dict) receives {"n_edges", "path"} so the
    caller can log the physical-path decision to metrics (no silent
    strategy switches).

    Every CC round shuffles only 8-byte node ids (the id_hash longs), never
    conv_id strings — at 10^12 nodes the string keys would ~4x every
    iteration's exchange. The final labels table (tiny: clustered nodes
    only) is mapped back to conv_ids with two small joins, and the
    representative is still the LEXICOGRAPHIC min conv_id of the component
    — identical output to a string-keyed run."""
    edges = (
        pairs.select(F.col("ih_a").alias("u"), F.col("ih_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Path dispatch in ONE driver round-trip: fetch at most budget+1 edges.
    # If fewer than budget+1 come back, that fetch IS the whole edge set
    # (set-equality; union-find is order-independent) and the local path
    # proceeds with zero further jobs — no count job, no cache
    # materialization. Only an over-budget set pays the (bounded,
    # broadcast-sized) discarded fetch before taking the distributed loop,
    # where one extra bounded job is noise against O(log n) shuffle rounds.
    probe = (
        edges.limit(cfg.cc_local_edges + 1).toPandas()
        if cfg.cc_local_edges > 0
        else None
    )
    local = probe is not None and len(probe) <= cfg.cc_local_edges
    if local:
        if stats is not None:
            stats["n_edges"] = int(len(probe))
            stats["path"] = "local_union_find"
        import pandas as pd

        ids, labs = union_find(probe["u"].to_numpy(dtype="int64"),
                               probe["v"].to_numpy(dtype="int64"),
                               cfg.cc_max_iters)
        labels = pairs.sparkSession.createDataFrame(
            pd.DataFrame({"id_hash": ids, "lab": labs}),
            "id_hash long, lab long")
    else:
        edges = cached = edges.cache()
        prev = _edge_checksum(edges)
        if stats is not None:
            stats["n_edges"] = prev[0]
            stats["path"] = "distributed_star"
        if prev[0] > 0:
            for _ in range(cfg.cc_max_iters):
                edges = _small_star(_large_star(edges)).localCheckpoint()
                cur = _edge_checksum(edges)
                if cur == prev:
                    break
                prev = cur
            else:
                raise RuntimeError(f"connected components did not converge in {cfg.cc_max_iters} iters")
        # the loop's localCheckpoints carry the converged edge set from here
        # on; the input cache would otherwise outlive this call for the
        # whole session (Spark's cache holds strong references — a
        # corpus-scale leak per connected_components invocation)
        cached.unpersist()
        # converged: every edge is (node, component_min) over id_hash longs
        labels = (
            edges.select(F.greatest("u", "v").alias("id_hash"), F.least("u", "v").alias("lab"))
            .groupBy("id_hash")
            .agg(F.min("lab").alias("lab"))
        )
    comp = (
        all_nodes.select("conv_id", "id_hash")
        .join(labels, "id_hash", "left")
        .select("conv_id", F.coalesce("lab", "id_hash").alias("lab"))
    )
    reps = comp.groupBy("lab").agg(F.min("conv_id").alias("cluster_id"))
    return comp.join(reps, "lab").select("conv_id", "cluster_id")
