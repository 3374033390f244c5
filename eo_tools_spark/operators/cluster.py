"""Near-duplicate clustering: connected components over the pair graph.

Dedup pipelines don't stop at PAIRS — to actually drop duplicates each
document needs a canonical cluster id (keep min-id per component, drop
the rest). This is the missing reduce after dedup.lsh_pairs /
dedup.simhash_pairs / image_pipeline.phash_neardup.

Algorithm: iterative min-label propagation, all DataFrame ops —
    label(v) ← min(label(v), min_{u ∈ N(v)} label(u))
per round (one equi-join + one groupBy-min, both map-side combinable),
with a driver-side convergence check. Rounds needed = eccentricity of
each component's min vertex ≤ component diameter. Near-dup graphs are
dense blobs of mutually-similar documents (diameter 1-3), so this
converges in a handful of rounds. For high-diameter graphs (near-dup
CHAINS: doc i pairs with i±1, so components stretch) pass
``algorithm="star"``: the alternating large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014) converges in O(log n) rounds regardless of diameter — a
1023-node path closes in ~11 alternations where label propagation
needs 1022 rounds.

Scale shape (100 TB): state per round = (vertex, label) pairs — O(V) —
plus the edge set; each round shuffles on vertex id only. Every
round's frame is localCheckpoint'ed: each round REFERENCES THE
PREVIOUS FRAME MORE THAN ONCE (join + union), so without per-round
plan truncation the logical plan doubles every round — exponential
analysis time (measured: a 1023-node path goes from ~12 s to >10 min
when 7 of 8 rounds persist instead of checkpoint). The superseded
round's checkpoint blocks are released deterministically
(_free_local_checkpoint) as soon as the new round is materialized, so
at most two O(V) snapshots are alive at any time — no reliance on the
nondeterministic context-cleaner GC.

Round latency: each round costs exactly ONE Spark job — the
convergence statistics (changed-count for label propagation; edge
count + order-independent set fingerprint for star contraction) ride
the eager-localCheckpoint materialization job itself via
``DataFrame.observe``, instead of a separate count/agg action per
round. With ~10 alternations that cuts ~30 driver actions to ~11;
the loops are round-latency-bound, so this is the dominant wall-clock
term at any data scale (the per-round compute grows with data, the
per-action fixed cost does not).

Local finish (star): the same observe metrics also MEASURE the edge
set's bytes each round; once the shrinking quotient graph fits a
driver budget (default 256 MB) the remaining alternations — each ~1 s
of fixed distributed-round cost regardless of data — are replaced by
one collect + a vectorized numpy union-find (_local_components),
bit-identical labels (test-pinned against the pure-distributed path).
At 100 TB the early rounds run distributed exactly as before; the
finish only fires when the contracted graph is genuinely small.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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


def _local_components(ids_a: np.ndarray, ids_b: np.ndarray) -> pd.DataFrame:
    """Exact connected components of an edge list that fits on the
    driver, vectorized (Shiloach–Vishkin shape: simultaneous min-label
    hooking over all edges + pointer-doubling flatten, O(log n) rounds
    of O(E) numpy ops — no Python-level per-edge loop).

    Returns (doc_id, cluster_id) for every id in the edge list,
    cluster_id = the component's minimum id under pandas ordering —
    identical to Spark's for int ids, and for strings too (UTF-8
    byte-wise comparison is code-point order, which is Python's)."""
    codes, uniq = pd.factorize(np.concatenate([ids_a, ids_b]))
    n = len(uniq)
    a, b = codes[: len(ids_a)], codes[len(ids_a):]
    # factorize codes are first-appearance order, NOT value order — map
    # to rank codes so "min code" == "min id" and hooking can stay
    # purely numeric (original values only reappear at the very end)
    order = pd.Series(uniq).rank(method="dense").to_numpy(np.int64) - 1
    a, b = order[a], order[b]
    by_rank = np.empty(n, dtype=np.asarray(uniq).dtype)
    by_rank[order] = uniq
    parent = np.arange(n, dtype=np.int64)
    for _ in range(2 * max(n.bit_length(), 1) + 4):
        pa, pb = parent[a], parent[b]  # roots: parent is flat here
        hi, lo = np.maximum(pa, pb), np.minimum(pa, pb)
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
        raise RuntimeError("_local_components: hooking did not converge")
    return pd.DataFrame(
        {"doc_id": by_rank[np.arange(n)], "cluster_id": by_rank[parent]}
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    algorithm: str = "label",
    local_finish_bytes: int | None = 256 << 20,
) -> DataFrame:
    """(doc_id, cluster_id) for every id appearing in ``pairs`` —
    cluster_id = the component's minimum id (the exact_dedup keep-id
    convention). Ids must be orderable (any Spark-comparable type).

    ``algorithm``: "label" (min-label propagation, rounds = component
    diameter — right for dense near-dup blobs) or "star" (alternating
    star contraction, O(log n) rounds — right for long-chain /
    high-diameter graphs). Both raise after ``max_iters`` non-converged
    rounds instead of silently returning partial labels.

    ``local_finish_bytes`` (star only): the contraction shrinks the
    edge set round over round; once its MEASURED size (an observe
    metric riding the same checkpoint job — no extra pass) fits this
    budget, the remaining edges are collected and finished with a
    vectorized driver-side union-find (_local_components) instead of
    paying ~1 s of distributed-round fixed cost per remaining
    alternation. Same measured-bytes philosophy as the dedup broadcast
    decisions (dedup.self_join_probe_side). Driver transient is ~4× the
    measured bytes for string ids (Python object overhead) — the
    default 256 MB budget means ≲1 GB peak, well inside the 24 GB
    driver. ``None`` disables (pure distributed loop, the 100 TB path
    until the quotient graph actually collapses).
    """
    if algorithm not in ("label", "star"):
        raise ValueError(
            f"unknown algorithm {algorithm!r} (expected 'label' or 'star')"
        )
    if algorithm == "star":
        return _star_components(pairs, id_a, id_b, max_iters, local_finish_bytes)
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    cur = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        for rnd in range(max_iters):
            labels = cur.select("id", "label")
            nbr_min = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            # the changed-count rides the checkpoint job: one action/round
            stepped, got = _checkpoint_observed(
                labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
                .select(
                    "id",
                    F.col("label").alias("old_label"),
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", "label")
                    ).alias("label"),
                ),
                F.sum(
                    (F.col("label") != F.col("old_label")).cast("long")
                ).alias("changed"),
            )
            changed = got["changed"] or 0
            _free_local_checkpoint(cur)
            cur = stepped
            if changed == 0:
                # a projection over the final checkpoint: durable and
                # replay-free (the loop's lineage is gone)
                out = cur.select(
                    F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
                )
                # introspection: rounds used (incl. the no-change round)
                out._eo_cc_rounds = rnd + 1
                out._eo_cc_local_finish = False
                return out
        _free_local_checkpoint(cur)
        raise RuntimeError(
            f"connected_components: no convergence in {max_iters} rounds "
            "(component diameter exceeds the bound — raise max_iters or "
            "pass algorithm='star' for O(log n) rounds)"
        )
    finally:
        edges.unpersist()


def _finish_locally_round0(
    pairs: DataFrame, id_a: str, id_b: str, edges: DataFrame
) -> DataFrame:
    """Round-0 local finish: the collected edge set covers the input
    pairs (``edges`` may be the RAW, possibly-duplicated lo<hi frame —
    duplicate edges re-union the same pair, a no-op, and labels are
    rank-mapped by VALUE, so no canonicalizing distinct is required),
    so the output vertex set is derivable LOCALLY — every vertex of a
    non-self pair is an edge endpoint, and the only others are
    self-pair-only ids (one cheap filter scan). That removes the
    distributed verts union+distinct (an O(2E) exchange) and the
    label join entirely; the result is a driver-local frame (measured:
    the verts+join leg was ~2.3 s of the bench q13 at 2.5M edges).

    Collection goes through Arrow (``toArrow`` + ``dictionary_encode``)
    instead of toPandas + pandas object factorize — string ids never
    materialize as 5M Python objects. Labels are bit-identical to
    ``_local_components`` (same rank mapping, same numeric core)."""
    import pyarrow as pa
    import pyspark.sql.types as T

    spark = pairs.sparkSession
    tab = edges.toArrow()
    combo = pa.chunked_array(
        tab.column(0).chunks + tab.column(1).chunks
    ).combine_chunks()
    ne = len(tab)
    _free_local_checkpoint(edges)
    id_type = pairs.schema[id_a].dataType
    schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
    )
    if ne == 0:
        uniq = np.empty(0, dtype=object)
        doc = clu = uniq
    else:
        enc = combo.dictionary_encode()
        codes = enc.indices.to_numpy().astype(np.int64)
        uniq = enc.dictionary.to_numpy(zero_copy_only=False)
        parent = _uf_core(codes[:ne], codes[ne:], uniq)
        doc, clu = uniq[np.arange(len(uniq))], uniq[parent]
    # self-pair-only vertices label themselves (same as the defensive
    # left-join of the general path)
    self_ids = (
        pairs.where(F.col(id_a) == F.col(id_b))
        .select(F.col(id_a).alias("id"))
        .distinct()
        .toPandas()["id"]
        .to_numpy()
    )
    if len(self_ids):
        seen = set(uniq.tolist())
        extra = np.array(
            [s for s in self_ids if s not in seen], dtype=uniq.dtype
        )
        if len(extra):
            doc = np.concatenate([doc, extra])
            clu = np.concatenate([clu, extra])
    out = spark.createDataFrame(
        pd.DataFrame({"doc_id": doc, "cluster_id": clu}), schema=schema
    )
    out._eo_cc_rounds = 0
    out._eo_cc_local_finish = True
    return out


def _uf_core(a: np.ndarray, b: np.ndarray, uniq: np.ndarray) -> np.ndarray:
    """The numeric union-find shared by _local_components and the
    round-0 finish: takes first-appearance codes + the dictionary,
    returns per-code parent as RANK-MAPPED-BACK first-appearance codes'
    parents in first-appearance space... (see _local_components for the
    rank-mapping rationale). Returns ``parent`` indexed like ``uniq``."""
    n = len(uniq)
    order = pd.Series(uniq).rank(method="dense").to_numpy(np.int64) - 1
    a, b = order[a], order[b]
    by_rank_idx = np.empty(n, dtype=np.int64)
    by_rank_idx[order] = np.arange(n)
    parent = np.arange(n, dtype=np.int64)
    for _ in range(2 * max(n.bit_length(), 1) + 4):
        pa_, pb_ = parent[a], parent[b]
        hi, lo = np.maximum(pa_, pb_), np.minimum(pa_, pb_)
        live = hi != lo
        if not live.any():
            break
        np.minimum.at(parent, hi[live], lo[live])
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
    else:  # pragma: no cover — O(log n) bound is a theorem
        raise RuntimeError("_uf_core: hooking did not converge")
    # map rank-space parents back to uniq (first-appearance) indices,
    # per ORIGINAL code position
    return by_rank_idx[parent[order]]


def _finish_locally(edges: DataFrame, verts: DataFrame, rounds: int) -> DataFrame:
    """Collect the (budget-checked) edge set and label every vertex via
    the driver-side vectorized union-find. Mid-loop this is exact: star
    alternations preserve the component structure over ORIGINAL vertex
    ids and keep every edged vertex edged, so components of the current
    edge set equal components of the input; vertices only ever seen in
    self-pairs take their own id via the same defensive left-join the
    distributed path uses."""
    import pyspark.sql.types as T

    pdf = edges.toPandas()
    labels = _local_components(pdf["lo"].to_numpy(), pdf["hi"].to_numpy())
    id_type = verts.schema["id"].dataType
    labels_df = verts.sparkSession.createDataFrame(
        labels,
        schema=T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
        ),
    )
    out = (
        verts.join(labels_df, verts["id"] == labels_df["doc_id"], "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("cluster_id", "id").alias("cluster_id"),
        )
        # LAZY checkpoint: the loop's plan-growth problem is over once
        # the finish is local, so an EAGER materialization here was one
        # whole extra Spark job per call (~1 s of fixed cost at any
        # scale); eager=False keeps the repeat-action durability (first
        # caller action materializes the checkpoint, later actions
        # reuse it) without the standalone job.
        .localCheckpoint(eager=False)
    )
    _free_local_checkpoint(edges)
    out._eo_cc_rounds = rounds
    out._eo_cc_local_finish = True
    return out


def _star_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iters: int,
    local_finish_bytes: int | None = None,
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    SoCC 2014). State between rounds is the CANONICAL undirected edge
    set {(lo, hi): lo < hi}; each alternation is two groupBy-min +
    join passes, and the edge set provably converges to per-component
    stars centered on the component min in O(log n) alternations.

    - large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
      v > u  — canonical (m, v) since m ≤ u < v.
    - small-star(u): N = {v ∈ Γ(u): v < u}; m = min(N); emit (v, m)
      for v ∈ N \\ {m} plus (u, m) — all canonical (m, ·).

    Same memory/plan discipline as label propagation: every
    alternation localCheckpoints its edge set (each round references
    the previous frame several times — without truncation the plan
    grows exponentially) and deterministically frees the superseded
    checkpoint. Convergence = canonical edge set unchanged, detected
    for free: the checkpoint-materialization job observes
    (count, bit_xor of xxhash64(lo, hi)) — an order-independent set
    fingerprint — and only when BOTH match the previous round does a
    one-sided exceptAll CONFIRM true equality (equal-size distinct
    sets with empty difference are equal). On forests the edge count
    never changes, so a count-only trigger would pay the exceptAll
    every round; the fingerprint makes the confirmation run
    essentially once, and the exactness guarantee never rests on the
    hash. Per round: ONE Spark job (+ the single confirm at the end).
    """
    from eo_tools_spark.operators.dedup import _row_bytes_expr

    canon_raw = pairs.select(
        F.least(id_a, id_b).alias("lo"), F.greatest(id_a, id_b).alias("hi")
    ).where(F.col("lo") != F.col("hi"))
    # measured size of the (shrinking) edge set — None for
    # un-measurable id types (then no local finish)
    bexpr = (
        _row_bytes_expr(canon_raw) if local_finish_bytes is not None else None
    )
    _persisted_input = bool(
        pairs.storageLevel.useMemory or pairs.storageLevel.useDisk
    )
    if bexpr is not None and _persisted_input:
        # Round-0 pre-measure on the RAW (un-deduped) edge set: one
        # map-side-combinable scalar agg — no wide exchange. When even
        # the raw set fits the driver budget, collect it as-is: the
        # union-find is idempotent under duplicate edges and rank-maps
        # labels by VALUE, so the canonicalizing ``.distinct()`` — a
        # full exchange of every edge — is dropped outright from the
        # hot path (guide §2.4). Raw bytes ≥ canonical bytes, so the
        # gate is conservative; bigger graphs fall through to the
        # distinct + measured-checkpoint loop exactly as before (the
        # pre-measure then costs one extra scan). Gated on the input
        # being PERSISTED: only then is the extra pass a cache read —
        # on a lazy 100 TB pair plan it would re-run the whole
        # upstream join, so those inputs keep the single-pass
        # distinct+checkpoint measurement.
        got0 = canon_raw.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(bexpr), F.lit(0)).alias("bytes"),
        ).collect()[0]
        if int(got0["bytes"]) <= local_finish_bytes:
            return _finish_locally_round0(pairs, id_a, id_b, canon_raw)
    canon = canon_raw.distinct()
    # bit_xor, not sum: an order-independent set fingerprint that cannot
    # overflow under ANSI mode (elements are distinct, so XOR
    # self-cancellation never applies)
    _stats = lambda: [  # noqa: E731 — fresh exprs per Observation
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("fp"),
    ] + ([F.coalesce(F.sum(bexpr), F.lit(0)).alias("bytes")] if bexpr is not None else [])

    def fits_driver(got: dict) -> bool:
        return bexpr is not None and got["bytes"] <= local_finish_bytes

    edges, got = _checkpoint_observed(canon, *_stats())
    n_edges, fp_edges = got["n"], got["fp"]
    if fits_driver(got):
        # round 0: the collected edge set is the canonical input —
        # vertex totality is derivable locally, no verts frame at all
        return _finish_locally_round0(pairs, id_a, id_b, edges)
    # verts is only needed by the distributed paths (mid-loop finish /
    # converged-star labeling)
    verts = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .persist()
    )
    try:
        for rnd in range(max_iters):
            sym = edges.select(
                F.col("lo").alias("u"), F.col("hi").alias("v")
            ).unionByName(
                edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            )
            m = sym.groupBy("u").agg(F.min("v").alias("_mn"))
            m = m.select("u", F.least("u", "_mn").alias("m"))
            large = (
                sym.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                .where(F.col("lo") != F.col("hi"))
                .distinct()
            )
            sym2 = large.select(
                F.col("lo").alias("u"), F.col("hi").alias("v")
            ).unionByName(
                large.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            )
            smaller = sym2.where(F.col("v") < F.col("u"))
            m2 = smaller.groupBy("u").agg(F.min("v").alias("m"))
            emit, got = _checkpoint_observed(
                smaller.join(m2, "u")
                .where(F.col("v") != F.col("m"))
                .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                .unionByName(
                    m2.select(F.col("m").alias("lo"), F.col("u").alias("hi"))
                )
                .where(F.col("lo") != F.col("hi"))
                .distinct(),
                *_stats(),
            )
            n_new, fp_new = got["n"], got["fp"]
            if fits_driver(got):
                _free_local_checkpoint(edges)
                return _finish_locally(emit, verts, rounds=rnd + 1)
            converged = (
                n_new == n_edges
                and fp_new == fp_edges
                # fingerprint match is only a trigger — equality is
                # CONFIRMED exactly before declaring convergence
                and emit.exceptAll(edges).limit(1).count() == 0
            )
            _free_local_checkpoint(edges)
            edges, n_edges, fp_edges = emit, n_new, fp_new
            if converged:
                star_sym = edges.select(
                    F.col("lo").alias("u"), F.col("hi").alias("v")
                ).unionByName(
                    edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
                )
                labels = star_sym.groupBy("u").agg(F.min("v").alias("_mn"))
                labels = labels.select(
                    F.col("u").alias("doc_id"),
                    F.least("u", "_mn").alias("cluster_id"),
                )
                # totality: a vertex whose component fully contracted
                # away from it must still be labeled (defensive — the
                # contraction invariant keeps every vertex edged, but a
                # silent drop here would be an unlabeled document)
                out = (
                    verts.join(labels, verts["id"] == labels["doc_id"], "left")
                    .select(
                        F.col("id").alias("doc_id"),
                        F.coalesce("cluster_id", "id").alias("cluster_id"),
                    )
                    .localCheckpoint(eager=True)
                )
                _free_local_checkpoint(edges)
                # introspection: alternations used (incl. the stable one)
                out._eo_cc_rounds = rnd + 1
                out._eo_cc_local_finish = False
                return out
        _free_local_checkpoint(edges)
        raise RuntimeError(
            f"connected_components(star): no convergence in {max_iters} "
            "alternations — raise max_iters"
        )
    finally:
        verts.unpersist()


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    algorithm: str = "label",
    local_finish_bytes: int | None = 256 << 20,
) -> DataFrame:
    """The end product of a dedup pipeline: ``docs`` annotated with
    (cluster_id, keep) — ``keep`` is true for the canonical (min-id)
    member of each near-dup cluster and for every unclustered doc.
    Filtering ``keep`` yields the deduplicated corpus.
    ``algorithm``/``max_iters``/``local_finish_bytes`` forward to
    connected_components — pass ``algorithm="star"`` when the pair
    graph chains (see module doc)."""
    comp = connected_components(
        pairs,
        max_iters=max_iters,
        algorithm=algorithm,
        local_finish_bytes=local_finish_bytes,
    )
    return (
        docs.join(
            comp.withColumnRenamed("doc_id", id_col), id_col, "left"
        )
        .withColumn(
            "cluster_id", F.coalesce("cluster_id", F.col(id_col))
        )
        .withColumn("keep", F.col("cluster_id") == F.col(id_col))
    )
