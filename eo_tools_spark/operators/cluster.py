"""Near-duplicate clustering: connected components over the pair graph.

Dedup pipelines don't stop at PAIRS — to actually drop duplicates each
document needs a canonical cluster id (keep min-id per component, drop
the rest). This is the missing reduce after dedup.lsh_pairs /
dedup.simhash_pairs / image_pipeline.phash_neardup.

Algorithm: alternating large-star/small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014), all
DataFrame ops. It converges in O(log n) alternations regardless of
component diameter — near-dup graphs CHAIN (doc i pairs with i±1, so
components stretch), and a 1023-node path closes in ~11 alternations.

Scale shape (100 TB): state per round is the canonical edge set —
O(E) — and each round shuffles on vertex id only. Every round's frame
is localCheckpoint'ed: each round REFERENCES THE PREVIOUS FRAME MORE
THAN ONCE (join + union), so without per-round plan truncation the
logical plan doubles every round — exponential analysis time
(measured: a 1023-node path goes from ~12 s to >10 min when 7 of 8
rounds persist instead of checkpoint). The superseded round's
checkpoint blocks are released deterministically
(_free_local_checkpoint) as soon as the new round is materialized, so
at most two O(E) snapshots are alive at any time — no reliance on the
nondeterministic context-cleaner GC.

Round latency: each round costs exactly ONE Spark job — the
convergence statistics (edge count + order-independent set
fingerprint) ride the eager-localCheckpoint materialization job itself
via ``DataFrame.observe``, instead of a separate count/agg action per
round. The loop is round-latency-bound, so this is the dominant
wall-clock term at any data scale (the per-round compute grows with
data, the per-action fixed cost does not).

Two exits. The same observe metrics MEASURE the edge set's bytes each
round; once the (shrinking) edge set fits a driver budget (default
256 MB) the remaining alternations — each ~1 s of fixed distributed
cost regardless of data — are replaced by one Arrow collect + a
vectorized numpy union-find (_finish_locally). Otherwise the loop runs
until the edge set is a set of stars and labels them distributed. At
100 TB the early rounds run distributed; the local finish only fires
when the contracted graph is genuinely small.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F


def _free_local_checkpoint(df: DataFrame) -> None:
    """Deterministically release a superseded localCheckpoint's blocks.

    ``df`` must be the frame RETURNED by ``localCheckpoint`` (its plan
    root is the LogicalRDD holding the block reference) and must never
    be used again — local-checkpoint blocks cannot be recomputed, so
    any later action on it raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    Best-effort: on any reflection failure the blocks are simply left
    to the context cleaner (the pre-existing behavior)."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass


def _checkpoint_observed(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """Eager-localCheckpoint ``df`` and return (checkpointed frame,
    observed metric dict) — the metrics are computed BY the
    materialization job itself (one Spark action total), not by a
    second pass over the checkpointed data. On an empty frame
    aggregate metrics come back NULL; callers coalesce."""
    obs = Observation()
    ck = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return ck, obs.get


def _uf_core(ids: pa.Array, n_edges: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact connected components on the driver. Edge i is
    (ids[i], ids[n_edges + i]); ids from 2·n_edges on are extra
    vertices (each its own component unless an edge also reaches it).
    Duplicate edges and duplicate ids are harmless.

    Returns (doc_id, cluster_id) arrays over the distinct ids,
    cluster_id = the component's minimum id. Vectorized
    (Shiloach–Vishkin shape: simultaneous min-label hooking over all
    edges + pointer-doubling flatten, O(log n) rounds of O(E) numpy
    ops — no Python-level per-edge loop). Arrow dictionary-encodes the
    ids, so string ids never materialize as one Python object per
    edge endpoint."""
    enc = ids.dictionary_encode()
    codes = enc.indices.to_numpy().astype(np.int64)
    uniq = enc.dictionary.to_numpy(zero_copy_only=False)
    n = len(uniq)
    # dictionary codes are first-appearance order, NOT value order — map
    # to rank codes so "min code" == "min id" and hooking can stay
    # purely numeric. pandas ordering equals Spark's for int ids, and
    # for strings too (UTF-8 byte-wise comparison is code-point order,
    # which is Python's).
    rank = pd.Series(uniq).rank(method="dense").to_numpy(np.int64) - 1
    a, b = rank[codes[:n_edges]], rank[codes[n_edges : 2 * n_edges]]
    by_rank = np.empty(n, dtype=uniq.dtype)
    by_rank[rank] = uniq
    parent = np.arange(n, dtype=np.int64)
    for _ in range(2 * max(n.bit_length(), 1) + 4):
        pa_, pb_ = parent[a], parent[b]  # roots: parent is flat here
        hi, lo = np.maximum(pa_, pb_), np.minimum(pa_, pb_)
        live = hi != lo
        if not live.any():
            break
        np.minimum.at(parent, hi[live], lo[live])
        while True:  # pointer doubling until the forest is flat again
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
    else:  # pragma: no cover — O(log n) bound is a theorem
        raise RuntimeError("_uf_core: hooking did not converge")
    return by_rank, by_rank[parent]


def _finish_locally(
    pairs: DataFrame, id_a: str, id_b: str, edges: DataFrame, rounds: int
) -> DataFrame:
    """Label every id of ``pairs`` from the (budget-checked) edge set
    ``edges`` (columns lo, hi) with the driver-side union-find.

    Exact at any round: star alternations preserve the component
    structure over ORIGINAL vertex ids and keep every edged vertex
    edged, so components of ``edges`` equal components of the input.
    ``edges`` may also be the RAW, possibly-duplicated lo<hi frame —
    a duplicate edge re-unions the same pair. The only input ids
    without an edge are those of pairs dropped as lo == hi (self-pairs,
    and pairs with one NULL side: least/greatest skip NULLs); one
    filter scan of ``pairs`` finds them, and they label themselves. So
    no distributed vertex set or label join is needed; the result is a
    driver-local frame.

    Does not free ``edges``: the caller owns it."""
    import pyspark.sql.types as T

    tab = edges.toArrow()
    lo = F.least(id_a, id_b)
    singles = (
        pairs.where(lo == F.greatest(id_a, id_b))
        .select(lo.alias("id"))
        .distinct()
        .toArrow()
    )
    ids = pa.chunked_array(
        tab.column("lo").chunks
        + tab.column("hi").chunks
        + singles.column("id").chunks,
        type=tab.schema.field("lo").type,
    ).combine_chunks()
    doc, clu = _uf_core(ids, tab.num_rows)
    id_type = pairs.schema[id_a].dataType
    out = pairs.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": doc, "cluster_id": clu}),
        schema=T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
        ),
    )
    out._eo_cc_rounds = rounds
    out._eo_cc_local_finish = True
    return out


def _both_ways(edges: DataFrame) -> DataFrame:
    """Directed (u, v) view of the canonical lo<hi edge set."""
    return edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star alternation over canonical edges.

    - large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
      v > u  — canonical (m, v) since m ≤ u < v.
    - small-star(u): N = {v ∈ Γ(u): v < u}; m = min(N); emit (v, m)
      for v ∈ N \\ {m} plus (u, m) — all canonical (m, ·)."""
    sym = _both_ways(edges)
    m = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    m = m.select("u", F.least("u", "_mn").alias("m"))
    large = (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    smaller = _both_ways(large).where(F.col("v") < F.col("u"))
    m2 = smaller.groupBy("u").agg(F.min("v").alias("m"))
    return (
        smaller.join(m2, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
        .unionByName(m2.select(F.col("m").alias("lo"), F.col("u").alias("hi")))
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _label_stars(
    pairs: DataFrame, id_a: str, id_b: str, edges: DataFrame, rounds: int
) -> DataFrame:
    """Distributed labelling of a converged edge set: every component is
    a star centered on its min, so label = min of the vertex and its
    neighbours. Does not free ``edges``: the caller owns it."""
    labels = (
        _both_ways(edges)
        .groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select(F.col("u").alias("doc_id"), F.least("u", "_mn").alias("cluster_id"))
    )
    verts = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    # totality: a vertex whose component fully contracted away from it
    # must still be labeled (defensive — the contraction invariant keeps
    # every vertex edged, but a silent drop here would be an unlabeled
    # document)
    out = (
        verts.join(labels, verts["id"] == labels["doc_id"], "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("cluster_id", "id").alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    # introspection: alternations used (incl. the stable one)
    out._eo_cc_rounds = rounds
    out._eo_cc_local_finish = False
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    algorithm: str = "star",
    local_finish_bytes: int | None = 256 << 20,
) -> DataFrame:
    """(doc_id, cluster_id) for every id appearing in ``pairs`` —
    cluster_id = the component's minimum id. Ids must be orderable
    (any Spark-comparable type).

    Star contraction (see module doc): state between rounds is the
    CANONICAL undirected edge set {(lo, hi): lo < hi}; each alternation
    is two groupBy-min + join passes, and the edge set provably
    converges to per-component stars centered on the component min in
    O(log n) alternations. Raises after ``max_iters`` non-converged
    alternations instead of silently returning partial labels.

    ``algorithm`` accepts only "star" and raises ValueError otherwise;
    it is kept so call sites that name the algorithm keep working.

    ``local_finish_bytes``: once the edge set's MEASURED size (an
    observe metric riding the same checkpoint job — no extra pass)
    fits this budget, it is collected and finished with the driver-side
    union-find instead of paying ~1 s of distributed-round fixed cost
    per remaining alternation. Same measured-bytes philosophy as the
    dedup broadcast decisions (dedup.self_join_probe_side). The driver
    transient is a small multiple of the measured bytes: Arrow buffers
    and int64 code arrays, with Python objects only for the distinct
    string ids. ``None`` disables it (pure distributed loop, the 100 TB
    path until the quotient graph actually collapses).

    Convergence = canonical edge set unchanged, detected for free: the
    checkpoint job observes (count, bit_xor of xxhash64(lo, hi)) — an
    order-independent set fingerprint — and only when BOTH match the
    previous round does a one-sided exceptAll CONFIRM true equality
    (equal-size distinct sets with empty difference are equal). On
    forests the edge count never changes, so a count-only trigger would
    pay the exceptAll every round; the fingerprint makes the
    confirmation run essentially once, and the exactness guarantee
    never rests on the hash.
    """
    if algorithm != "star":
        raise ValueError(f"unknown algorithm {algorithm!r} (only 'star')")
    from eo_tools_spark.operators.dedup import _row_bytes_expr

    canon_raw = pairs.select(
        F.least(id_a, id_b).alias("lo"), F.greatest(id_a, id_b).alias("hi")
    ).where(F.col("lo") != F.col("hi"))
    # measured size of the (shrinking) edge set — None for
    # un-measurable id types (then no local finish)
    bexpr = (
        _row_bytes_expr(canon_raw) if local_finish_bytes is not None else None
    )
    if bexpr is not None and (
        pairs.storageLevel.useMemory or pairs.storageLevel.useDisk
    ):
        # Round-0 pre-measure on the RAW (un-deduped) edge set: one
        # map-side-combinable scalar agg — no wide exchange. When even
        # the raw set fits the driver budget, collect it as-is: the
        # union-find is idempotent under duplicate edges and rank-maps
        # labels by VALUE, so the canonicalizing ``.distinct()`` — a
        # full exchange of every edge — is dropped outright from the
        # hot path (guide §2.4). Raw bytes ≥ canonical bytes, so the
        # gate is conservative; bigger graphs fall through to the
        # distinct + measured-checkpoint loop (the pre-measure then
        # costs one extra scan). Gated on the input being PERSISTED:
        # only then is the extra pass a cache read — on a lazy 100 TB
        # pair plan it would re-run the whole upstream join, so those
        # inputs keep the single-pass distinct+checkpoint measurement.
        raw_bytes = canon_raw.agg(F.sum(bexpr)).collect()[0][0] or 0
        if raw_bytes <= local_finish_bytes:
            # canon_raw is a projection over the caller's frame, not a
            # checkpoint of ours: nothing to free
            return _finish_locally(pairs, id_a, id_b, canon_raw, 0)

    # bit_xor, not sum: an order-independent set fingerprint that cannot
    # overflow under ANSI mode (elements are distinct, so XOR
    # self-cancellation never applies)
    _stats = lambda: [  # noqa: E731 — fresh exprs per Observation
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("fp"),
    ] + ([F.coalesce(F.sum(bexpr), F.lit(0)).alias("bytes")] if bexpr is not None else [])

    edges, got = _checkpoint_observed(canon_raw.distinct(), *_stats())
    rounds = 0
    while bexpr is None or got["bytes"] > local_finish_bytes:
        if rounds == max_iters:
            _free_local_checkpoint(edges)
            raise RuntimeError(
                f"connected_components: no convergence in {max_iters} "
                "alternations — raise max_iters"
            )
        emit, got_new = _checkpoint_observed(_star_round(edges), *_stats())
        rounds += 1
        converged = (
            got_new["n"] == got["n"]
            and got_new["fp"] == got["fp"]
            # fingerprint match is only a trigger — equality is
            # CONFIRMED exactly before declaring convergence
            and emit.exceptAll(edges).limit(1).count() == 0
        )
        _free_local_checkpoint(edges)
        edges, got = emit, got_new
        if converged:
            out = _label_stars(pairs, id_a, id_b, edges, rounds)
            _free_local_checkpoint(edges)
            return out
    out = _finish_locally(pairs, id_a, id_b, edges, rounds)
    _free_local_checkpoint(edges)
    return out
