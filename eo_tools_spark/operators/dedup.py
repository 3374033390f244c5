"""Deduplication operators for web-scale corpora.

Scale design (100 TB): signatures are computed map-side (one pass, Arrow
batches, one md5 per UNIQUE token per batch then a uint64 affine hash
family — not H hashes per token); the only shuffles are (a) the band-key
groupBy whose key cardinality ≈ corpus size / dup rate, and (b) the
candidate-pair self-join, whose volume LSH keeps near-linear. Exact
verification touches only candidate pairs.

Operators:
- minhash_signatures   H=64 minhash over word tokens (mapInPandas)
- lsh_pairs            banded LSH candidate pairs + exact-jaccard verify
- simhash_signatures   64-bit simhash (mapInPandas)
- simhash_pairs        hamming≤k near-dup pairs via chunk banding
- winnow_candidates    shared-fingerprint candidate pairs (winnowing)

The pair operators (and ``image_pipeline.phash_neardup``) share one
capped banded self-join core, ``_banded_self_join``; the hamming ones
also share its first-match/popcount tail, ``_hamming_pairs``.
"""

from __future__ import annotations

import hashlib
import logging
import operator
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

log = logging.getLogger("eo_tools_spark.dedup")


def cap_hot_buckets(
    banded: DataFrame,
    key_cols: list[str],
    max_bucket: int | None,
    label: str = "lsh",
    hot_broadcast_rows: int = 4_000_000,
    hot_broadcast_bytes: int = 128 << 20,
) -> DataFrame:
    """Drop LSH band buckets with more than ``max_bucket`` members.

    A degenerate band key (boilerplate text, all-zero phash regions)
    makes one bucket quadratic in the candidate self-join — the classic
    100 TB scale-killer. Buckets above the cap are removed BEFORE the
    join. Exact duplicates inside a dropped bucket should be canonicalized
    first (one md5 groupBy) — the cap loses only near-dup pairs whose
    bucket exceeded ``max_bucket``, which at that size are almost always
    exact-dup families.

    Mechanism (skew-immune counting): bucket sizes come from a groupBy
    count — partial map-side aggregation collapses even a degenerate
    key to one row per task, so the counting pass itself cannot blow up
    on the skew it guards against. (A window count CANNOT be used here:
    WindowExec buffers each partition-key frame in an
    ExternalAppendOnlyUnsafeRowArray, so a hot bucket materializes
    inside the guard — measured OOM at 2M clustered phashes.) NULL-key
    rows are filtered out up front (a NULL hash cannot pair through an
    equi-join anyway, and an anti-join would silently pass them).

    The counting aggregation runs EAGERLY at plan-build time (it was
    always going to run; running it first buys three things):

    1. **No-skew fast path**: when the measured max bucket is ≤ the cap
       there is nothing to drop — the anti-join is skipped entirely and
       the downstream self-join never pays for insurance it doesn't
       need (at sf0.1 this is most of q8's round-2 regression).
    2. **Measured anti-join strategy**: when hot keys exist, the hot
       set is ≤ N/max_bucket rows, *measured* by the same pass — both
       its ROW COUNT and its BYTES (``_row_bytes_expr`` over the key
       projection, summed across hot buckets in the same metrics
       aggregation: a row bound alone says nothing when a
       caller-supplied key is a 100-byte URL, and the collect lands on
       the driver). Sets small BOTH ways (≤ ``hot_broadcast_rows`` AND
       ≤ ``hot_broadcast_bytes``, with the bytes measurable) are
       collected ONCE at build into a local broadcast frame — the
       anti-join never recomputes the counting aggregation at action
       time and the big banded side never shuffles for the cap.
       Anything bigger, or with a key type _row_bytes_expr cannot
       bound, switches to a lazy sort-merge anti-join instead of
       sailing into the driver/broadcast cliff.
    3. **Immediate, accurate audit**: drop metrics are known at build —
       the WARNING logs right away, the report cannot be clobbered by a
       concurrent same-label query (it rides on the returned frame as
       ``_eo_drop_report``), and the same metrics are ALSO exported as
       Spark ``observe`` metrics on the counting job for UI/listener
       monitoring.

    Scan accounting, honestly (signatures recompute per scan unless the
    frame is persisted — the pair operators' core persists it and
    exposes it for unpersist-after-action, see _banded_self_join):
    no-skew = 1 build scan + 2 self-join scans (3, same as the
    round-2 lazy design, minus all anti-join work); broadcast-skew =
    2 build scans (stats + hot-key collect) + 2 action scans (4 — one
    more than round-2, buying a repeat-action-free local anti-join
    side); merge-skew = 1 + 3 (4 — the hot side must stay lazy at that
    cardinality).

    In a SELF-join it suffices to cap ONE side: a hot bucket with zero
    rows on the capped side produces zero pairs however large the other
    side's bucket is, and non-hot pairs survive exactly once via the
    id_a < id_b predicate.
    """
    if max_bucket is None:
        return banded
    banded = filter_null_keys(banded, key_cols)
    bytes_expr = _row_bytes_expr(banded)
    # bytes of ONE key row per bucket (evaluated on the counts frame,
    # where each bucket is a single row) — the size of the hot-key set
    # a broadcast would collect to the driver
    key_bytes_expr = _row_bytes_expr(banded.select(*key_cols))
    aggs = [F.count(F.lit(1)).alias("_bucket_n")]
    if bytes_expr is not None:
        aggs.append(F.sum(bytes_expr).alias("_bucket_bytes"))
    counts = banded.groupBy(*key_cols).agg(*aggs)
    metrics = [
        F.coalesce(F.max("_bucket_n"), F.lit(0)).alias("max_bucket_n"),
        F.coalesce(
            F.sum((F.col("_bucket_n") > max_bucket).cast("long")), F.lit(0)
        ).alias("n_hot_buckets"),
        F.coalesce(
            F.sum(F.when(F.col("_bucket_n") > max_bucket, F.col("_bucket_n"))),
            F.lit(0),
        ).alias("rows_dropped"),
        F.coalesce(F.sum("_bucket_n"), F.lit(0)).alias("n_rows"),
    ]
    if bytes_expr is not None:
        metrics.append(
            F.coalesce(F.sum("_bucket_bytes"), F.lit(0)).alias("n_bytes")
        )
    if key_bytes_expr is not None:
        metrics.append(
            F.coalesce(
                F.sum(
                    F.when(F.col("_bucket_n") > max_bucket, key_bytes_expr)
                ),
                F.lit(0),
            ).alias("hot_key_bytes")
        )
    try:  # listener/UI visibility of the cap on the job that runs it
        from pyspark.sql import Observation

        counts = counts.observe(Observation(f"cap_hot_buckets:{label}"), *metrics)
    except Exception:
        pass
    stats = counts.agg(*metrics).collect()[0]
    report = {
        "label": label,
        "max_bucket": max_bucket,
        "max_bucket_n": int(stats["max_bucket_n"]),
        "n_hot_buckets": int(stats["n_hot_buckets"]),
        "rows_dropped": int(stats["rows_dropped"]),
        "n_rows": int(stats["n_rows"]),
        "n_bytes": int(stats["n_bytes"]) if bytes_expr is not None else None,
        "hot_key_bytes": (
            int(stats["hot_key_bytes"]) if key_bytes_expr is not None else None
        ),
        "anti_join": "skipped",
    }
    if report["n_hot_buckets"] == 0:
        out = banded
    else:
        if (
            report["n_hot_buckets"] <= hot_broadcast_rows
            and report["hot_key_bytes"] is not None
            and report["hot_key_bytes"] <= hot_broadcast_bytes
        ):
            # measured-small: collect the hot keys NOW — the anti-join
            # side becomes a local frame, so actions on the returned
            # plan never re-run the counting aggregation
            report["anti_join"] = "broadcast"
            # Arrow both ways: .collect() would materialize up to
            # hot_broadcast_rows PYTHON Row objects on the driver and
            # pickle them back out — toPandas/createDataFrame(pdf) keep
            # the round-trip columnar (keys are numeric in every caller)
            hot_pdf = (
                counts.where(F.col("_bucket_n") > max_bucket)
                .select(*key_cols)
                .toPandas()
            )
            # expose the collected hot set: callers that can express
            # "this band was dropped" as a predicate (hot-aware
            # first-match emission, see first_match_band_pred) reuse
            # it instead of paying a candidate-dedup exchange
            report["hot_keys"] = hot_pdf
            spark = banded.sparkSession
            hot = F.broadcast(
                spark.createDataFrame(hot_pdf, banded.select(*key_cols).schema)
            )
        else:
            report["anti_join"] = "merge"
            hot = (
                counts.where(F.col("_bucket_n") > max_bucket)
                .select(*key_cols)
                .hint("merge")
            )
        out = banded.join(hot, key_cols, "left_anti")
        log.warning(
            "%s: hot-bucket cap will drop %s banded rows across %s hot buckets "
            "at execution (max bucket %s > cap %s; %s anti-join)",
            label, report["rows_dropped"], report["n_hot_buckets"],
            report["max_bucket_n"], max_bucket, report["anti_join"],
        )
    out._eo_drop_report = report
    return out


def filter_null_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Drop NULL band-key rows: a NULL key cannot pair through an
    equi-join, an anti-join would silently PASS it, and on the probe
    side it is dead broadcast weight. Callers filter once and feed the
    SAME frame to cap_hot_buckets and self_join_probe_side, so the
    measured n_rows/n_bytes describe exactly the frame that gets
    broadcast."""
    for k in key_cols:
        df = df.where(F.col(k).isNotNull())
    return df


def _row_bytes_expr(df: DataFrame):
    """Per-row serialized-size estimate (bytes) as a Column, or None if
    the schema contains a type we can't bound (then callers must treat
    the frame as un-measurable and refuse to broadcast it). Fixed-width
    fields count their width; strings/binaries their octet_length;
    arrays of fixed-width elements size*width — each variable field
    plus the row itself carries a small overhead constant."""
    import pyspark.sql.types as T

    fixed = {
        T.LongType: 8, T.IntegerType: 4, T.DoubleType: 8, T.FloatType: 4,
        T.ShortType: 2, T.ByteType: 1, T.BooleanType: 1,
        T.TimestampType: 8, T.DateType: 4,
    }
    total = F.lit(8)
    for f in df.schema.fields:
        t = type(f.dataType)
        if t in fixed:
            total = total + F.lit(fixed[t] + 1)
        elif t in (T.StringType, T.BinaryType):
            total = total + F.coalesce(
                F.octet_length(F.col(f.name)), F.lit(0)
            ) + F.lit(16)
        elif t is T.ArrayType and type(f.dataType.elementType) in fixed:
            w = fixed[type(f.dataType.elementType)]
            total = total + F.coalesce(
                F.size(F.col(f.name)) * w, F.lit(0)
            ) + F.lit(16)
        else:
            return None
    return total.cast("long")


def self_join_probe_side(
    banded: DataFrame,
    report: dict | None,
    banded_broadcast_bytes: int = 128 << 20,
    banded_broadcast_rows: int = 250_000,
) -> DataFrame:
    """Pick the un-capped side's join strategy for the banded SELF-join
    by MEASURED size. Spark's own size estimate of an exploded
    mapInPandas frame is garbage — it broadcast a 2.2 GB side under the
    64 MB threshold (measured OOM at 2M rows) — so the estimate is
    never trusted. The cap's counting pass measured the exact row count
    AND a schema-derived byte total (report["n_bytes"]): frames
    provably small BOTH ways (≤ ``banded_broadcast_bytes`` AND
    ≤ ``banded_broadcast_rows``) are broadcast (recovers the round-2
    sort-merge insurance cost on small inputs); everything else —
    bigger, un-counted (cap disabled), or un-measurable (a schema type
    _row_bytes_expr can't bound) — takes the spill-safe sort-merge
    path. Bytes bound a URL-sized id; the ROW bound caps the
    driver-collect + per-task hash-build cost a byte bound cannot see
    (measured at local[32]: broadcasting a 2.8M-row / 70 MB fingerprint
    frame cost ~1.5 s over the cached-input sort-merge join — the
    round-2 broadcast win only holds for genuinely small banded
    frames)."""
    if (
        report is not None
        and report.get("n_bytes") is not None
        and report["n_bytes"] <= banded_broadcast_bytes
        and report.get("n_rows") is not None
        and report["n_rows"] <= banded_broadcast_rows
    ):
        return F.broadcast(banded)
    return banded.hint("merge")


def drop_report(frame: DataFrame) -> dict | None:
    """Hot-bucket drop metrics of the DataFrame returned by
    cap_hot_buckets or a capped pair operator (the report rides on the
    frame, so concurrent same-label queries cannot clobber it); None
    when no cap ran."""
    return getattr(frame, "_eo_drop_report", None)


def hamming_band_cols(hash_col: str, max_hamming: int, min_width: int = 12) -> Column:
    """posexplode(band, key) banding scheme for a hamming ≤ k self-join
    on a 64-bit hash column.

    - Wide chunks (64/(k+1) ≥ min_width): classic pigeonhole — split
      into c = k+1 chunks; ≤k errors leave ≥1 clean chunk.
    - Narrow chunks (large k, e.g. phash k=6 → 9-bit chunks, only 512
      distinct keys → huge buckets): chunk-PAIR banding — split into
      c = k+2 chunks; ≤k errors leave ≥2 clean chunks, so some PAIR of
      chunks matches exactly. C(c,2) keys of 2× width: the exploded
      fan-out grows ~(c-1)/2×, but bucket occupancy drops by the wider
      key space and candidate pairs drop QUADRATICALLY with it.

    Both schemes are deterministic supersets of the true pair set — the
    exact popcount verify downstream keeps results identical.
    """
    c = max_hamming + 1
    width = 64 // c
    if width >= min_width:
        # width == 64 (k=0): mask literal (1<<64)-1 overflows BIGINT —
        # the full value IS the key
        key = (
            hash_col if width >= 64
            else f"({hash_col} >> (c * {width})) & {(1 << width) - 1}"
        )
        return F.posexplode(
            F.expr(f"transform(sequence(0, {c - 1}), c -> {key})")
        )
    c = max_hamming + 2
    width = 64 // c
    mask = (1 << width) - 1

    def chunk(i: int) -> str:
        return f"(shiftright({hash_col}, {i * width}) & {mask})"

    keys = ", ".join(
        f"(shiftleft({chunk(i)}, {width}) | {chunk(j)})"
        for i in range(c)
        for j in range(i + 1, c)
    )
    return F.posexplode(F.expr(f"array({keys})"))

def hot_keys_by_band(
    report: "dict | None", max_literal: int = 65536
) -> "dict[int, list[int]] | None":
    """Per-band hot-key lists for the hot-aware first-match predicate,
    from a cap_hot_buckets drop report — or None when the predicate
    cannot be used (hot set not collected because the anti-join took
    the merge path, or bigger than ``max_literal``: the keys become
    plan literals, so an unbounded set would bloat the physical plan —
    those callers keep the candidate ``.distinct()``). Zero drops is
    the caller's own fast path (plain first-match, no hot set)."""
    if report is None:
        return None
    hk = report.get("hot_keys")
    if hk is None or len(hk) > max_literal:
        return None
    band_col, key_col = list(hk.columns)[:2]
    return {
        int(band): [int(k) for k in grp[key_col]]
        for band, grp in hk.groupby(band_col)
    }


def first_match_band_pred(
    xor_expr: str,
    chunk_col: str,
    max_hamming: int,
    min_width: int = 12,
    hash_expr: str | None = None,
    hot_by_band: "dict[int, list[int]] | None" = None,
) -> Column | None:
    """Predicate TRUE iff ``chunk_col`` is the FIRST band index that
    EMITS this pair — CLASSIC pigeonhole banding only (returns None for
    the chunk-pair scheme; those callers keep ``.distinct()``).

    Replaces the candidate ``.distinct()`` outright: a pair matching in
    several bands is emitted by exactly the lowest-index one, so the
    join output is already duplicate-free and the distinct's exchange
    (which shipped every true pair up to c× — guide §2.4 "remove
    shuffles outright") disappears. Pure bit ops on the hash xor, fully
    codegen; must mirror ``hamming_band_cols``'s classic chunking
    (band j key = (hash >> j·width) & mask, so xor chunk j == 0 ⇔ the
    band-j keys are equal).

    ``hot_by_band`` (+ ``hash_expr``, the CAPPED side's hash column):
    hot-bucket awareness. With the one-sided cap, band j emits a pair
    only when the keys match AND the capped side's (band j, key) bucket
    survived — so under drops "an earlier band already emitted this
    pair" is ``xor chunk j == 0 AND key_j ∉ hot_j``. The plain
    predicate (no hot set) would KILL a pair whose earliest matching
    band was dropped (the sf1 bug the cap gate fixed); with the
    collected hot set the kill condition gains ``OR key_j IN hot_j`` —
    an O(1) InSet probe per row once the list passes Spark's
    inSetConversionThreshold — and first-match emission stays exactly
    equal to the distinct's pair set. Callers bound the literal size
    (the hot set rides the physical plan) and fall back to
    ``.distinct()`` beyond it."""
    c = max_hamming + 1
    width = 64 // c
    if width < min_width:
        return None
    mask = (1 << width) - 1

    def differs(j: int) -> str:
        return f"(shiftright({xor_expr}, {j * width}) & {mask}) != 0"

    def emitted_earlier_negated(j: int) -> str:
        hot = (hot_by_band or {}).get(j)
        if not hot:
            return differs(j)
        if hash_expr is None:
            raise ValueError("hot_by_band requires hash_expr")
        key_j = f"(shiftright({hash_expr}, {j * width}) & {mask})"
        in_list = ", ".join(str(int(k)) for k in hot)
        return f"({differs(j)} OR {key_j} IN ({in_list}))"

    conds = [
        f"WHEN {chunk_col} = {ch} THEN "
        f"({' AND '.join(emitted_earlier_negated(j) for j in range(ch))})"
        for ch in range(1, c)
    ]
    if not conds:  # c == 1: a single band cannot duplicate
        return F.lit(True)
    return F.expr("CASE " + " ".join(conds) + " ELSE true END")


def _persist_if_eager(
    frame: DataFrame, max_bucket: int | None
) -> tuple[DataFrame, "DataFrame | None"]:
    """Persist the exploded banded/chunk frame when an eager hot-bucket
    cap will materialize it anyway (``max_bucket`` set): the counting
    pass populates the cache and the two self-join sides then REUSE the
    computed rows instead of re-running the explode (and whatever scan
    feeds it) twice more — the same pattern winnow_candidates measured
    at 7.3 s → ~4 s on its fingerprint frame. The frame is (id, band,
    key) — three numeric/short columns, compact at any scale, and
    MEMORY_AND_DISK is LRU-evictable so a leaked entry degrades, never
    OOMs. Returned as the second element so callers can expose it as
    ``out._eo_persisted`` for unpersist-after-action; ``max_bucket=
    None`` (fully lazy plan) persists nothing."""
    if max_bucket is None:
        return frame, None
    from pyspark import StorageLevel

    p = frame.persist(StorageLevel.MEMORY_AND_DISK)
    return p, p


def _banded_self_join(
    banded: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket: int | None,
    label: str,
) -> tuple[DataFrame, dict | None, "DataFrame | None"]:
    """THE capped banded self-join every pair operator runs: NULL-key
    filter → persist → one-sided ``cap_hot_buckets`` → probe side by
    measured size (``self_join_probe_side``) → equi-join on the band
    keys with ``a.id < b.id``. Returns ``(joined, report, persisted)``:
    the joined frame with sides aliased ``a``/``b``, the drop report
    (None when uncapped) and the persisted banded frame (or None).
    Callers add their own tail (distinct, groupBy, popcount verify) and
    hand report and persisted on via ``_with_audit``.

    EAGER BUILD: with ``max_bucket`` set, merely CONSTRUCTING the join
    runs the hot-bucket counting job (1-2 scans of the banded frame) —
    building a plan you never execute still pays it, and the collected
    hot-key set / drop report snapshot the source AS OF build time (a
    source mutated between build and action is not re-counted). The
    banded frame is persisted for that job and both join sides; the
    operator's output exposes it as ``_eo_persisted`` (unpersist after
    the action) and the report as ``_eo_drop_report``.
    ``max_bucket=None`` builds a fully lazy, uncapped plan that
    persists nothing."""
    banded = filter_null_keys(banded, key_cols)
    banded, persisted = _persist_if_eager(banded, max_bucket)
    capped = cap_hot_buckets(banded, key_cols, max_bucket, label)
    report = drop_report(capped)
    cond = reduce(
        operator.and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    joined = capped.alias("a").join(
        self_join_probe_side(banded, report).alias("b"), cond
    )
    return joined, report, persisted


def _with_audit(
    out: DataFrame, report: dict | None, persisted: "DataFrame | None"
) -> DataFrame:
    """Attach the core's drop report and persisted frame to ``out``."""
    out._eo_drop_report = report
    out._eo_persisted = persisted
    return out


def _hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    max_bucket: int | None,
    label: str,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(hash) ≤ ``max_hamming``
    over a 64-bit hash column — the shared body of simhash_pairs and
    image_pipeline.phash_neardup.

    Pigeonhole banding (``hamming_band_cols``) through the capped core,
    then the exact popcount verify. Classic banding replaces the
    candidate distinct by first-match emission (``first_match_band_pred``
    — each pair leaves the join exactly once, no dedup exchange).
    Under hot-bucket DROPS the plain predicate is unsound: a pair whose
    earliest matching band sat in a dropped bucket must still be
    emitted by a later intact band (found at sf1: 184.5M -> 140.8M
    pairs). So when the cap's broadcast path COLLECTED the hot set, the
    predicate gains per-band "OR key ∈ hot" membership and stays
    exactly equal to the distinct's pair set; an uncollected or
    oversized hot set (``hot_keys_by_band`` → None), like chunk-pair
    banding, keeps the distinct. The popcount verify runs BEFORE
    whichever dedup applies (guide §2.3); hamming is a pure function of
    the pair, so the pair set is identical either way."""
    chunks = df.select(
        id_col,
        hash_col,
        hamming_band_cols(hash_col, max_hamming).alias("chunk", "ckey"),
    )
    cand, report, persisted = _banded_self_join(
        chunks, id_col, ["chunk", "ckey"], max_bucket, label
    )
    xor = f"a.{hash_col} ^ b.{hash_col}"
    # zero drops (or no cap): the plain predicate, no hot set needed
    hot = hot_keys_by_band(report) if report and report["n_hot_buckets"] else {}
    fm = None if hot is None else first_match_band_pred(
        xor, "a.chunk", max_hamming, hash_expr=f"a.{hash_col}", hot_by_band=hot
    )
    if fm is not None:
        cand = cand.where(fm)
    out = cand.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.bit_count(F.expr(xor)).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
    if fm is None:
        out = out.distinct()
    return _with_audit(out, report, persisted)


# deterministic affine family over uint64 (odd multipliers)
_RNG = np.random.default_rng(0xE0705)
_A = (_RNG.integers(1, 2**63, size=256, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
_B = _RNG.integers(0, 2**63, size=256, dtype=np.uint64)


def _token_base_hash(tokens: np.ndarray) -> np.ndarray:
    """Deterministic uint64 per token, fully vectorized
    (pandas.util.hash_array: SipHash-1-3 over utf-8 bytes with pandas'
    fixed hash key — no Python-level loop). Hashes every token
    INSTANCE directly: the earlier unique-then-scatter layout paid a
    sort-based ``np.unique`` over object strings that costs 5-8× the
    hash itself (measured: 2.9 s unique vs 0.33 s direct hash on 1.6M
    ~13-byte shingles), and the hash is per-instance-priced either
    way. Values are identical to hashing uniques and scattering, so
    signatures are unchanged. The round-2 md5 loop, kept below as
    _token_base_hash_md5 for the bench comparison, spends ~10× more
    per token in interpreter dispatch and so DOES still unique first."""
    return pd.util.hash_array(tokens, categorize=False).astype(np.uint64)


def _token_base_hash_md5(unique_tokens: np.ndarray) -> np.ndarray:
    """Round-2 per-token md5 Python loop — retained ONLY as the
    baseline side of the signature-stage speedup measurement
    (bench.py q11) and the determinism cross-check in tests."""
    out = np.empty(len(unique_tokens), dtype=np.uint64)
    for i, t in enumerate(unique_tokens):
        out[i] = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
    return out


def band_key_cols(bands: int, sig_col: str = "sig") -> Column:
    """posexplode(band, key) over a minhash signature: key = xxhash64 of
    the band's slice (band index mixed in). THE banding function of the
    ``lsh_pairs`` self-join."""
    return F.posexplode(
        F.expr(
            # the guard makes the "signature length must divide evenly
            # into bands" precondition a hard error — the truncating
            # CAST otherwise silently drops the trailing hashes and
            # mis-sizes every band. JVM-side, no extra job, and the
            # xxhash64 input is untouched so keys stay identical.
            f"transform(sequence(0, {bands} - 1), "
            f"b -> if(size({sig_col}) % {bands} = 0, "
            f"xxhash64(b, slice({sig_col}, b * CAST(size({sig_col})/{bands} AS INT) + 1, "
            f"CAST(size({sig_col})/{bands} AS INT))), "
            f"raise_error('signature length not divisible by bands={bands}')))"
        )
    ).alias("band", "key")


def _flat_shingles(
    texts: np.ndarray, shingle: int, short_whole: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """ONE flat object array of every doc's word ``shingle``-gram
    strings (in document/position order) plus per-doc counts — no
    intermediate per-doc lists (list.extend into a single buffer +
    shifted-zip string adds measure ~1.5× faster than the per-doc
    comprehension + re-flatten it replaced, with byte-identical
    strings). Shared by minhash_signatures (set semantics) and
    winnow_fingerprints_fast (which additionally relies on the
    position order within each doc's segment).

    ``short_whole`` controls docs with fewer than ``shingle`` tokens:
    False emits one gram per token (minhash set semantics), True emits
    ONE whole-text gram — the same degenerate shape as the SQL path's
    ``slice(tokens, i, k)`` truncation (split-then-join on ' ' is the
    identity, so the single gram string is the text itself)."""
    buf: list[str] = []
    lens = np.empty(len(texts), dtype=np.int64)
    if shingle <= 1:
        for d, t in enumerate(texts):
            toks = t.split(" ")
            buf.extend(toks)
            lens[d] = len(toks)
    elif shingle == 2:
        for d, t in enumerate(texts):
            toks = t.split(" ")
            if len(toks) < 2:
                if short_whole:
                    buf.append(t)
                    lens[d] = 1
                else:
                    buf.extend(toks)
                    lens[d] = len(toks)
            else:
                buf.extend(
                    [a + " " + b for a, b in zip(toks, toks[1:])]
                )
                lens[d] = len(toks) - 1
    else:
        for d, t in enumerate(texts):
            toks = t.split(" ")
            if len(toks) < shingle:
                if short_whole:
                    buf.append(t)
                    lens[d] = 1
                else:
                    buf.extend(toks)
                    lens[d] = len(toks)
            else:
                buf.extend(
                    " ".join(w)
                    for w in zip(*(toks[i:] for i in range(shingle)))
                )
                lens[d] = len(toks) - shingle + 1
    return np.array(buf, dtype=object), lens


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle: int = 1,
    token_hash: str = "fast",
) -> DataFrame:
    """(id, sig:array<long>) — minhash over word ``shingle``-grams.

    Use shingle=2+ for short texts (captions): unigram sets of short
    docs over a small vocabulary collide constantly, flooding LSH with
    false candidates; n-gram shingles decorrelate them.

    ``token_hash``: "fast" (vectorized SipHash, the production path) or
    "md5" (round-2 Python loop, kept for the bench speedup baseline)."""
    id_field = df.schema[id_col]
    schema = StructType([id_field, StructField("sig", ArrayType(LongType()))])
    if num_hashes > len(_A):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the {len(_A)} pre-derived "
            "hash families — slicing would silently return fewer hashes"
        )
    A, B = _A[:num_hashes], _B[:num_hashes]
    if token_hash not in ("fast", "md5"):
        raise ValueError(
            f"unknown token_hash {token_hash!r} (expected 'fast' or 'md5')"
        )
    def flat_shingles(texts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return _flat_shingles(texts, shingle)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].to_numpy()
            if len(texts) == 0:  # reduceat rejects empty segments
                yield pd.DataFrame({id_col: pdf[id_col], "sig": []})
                continue
            flat, lens = flat_shingles(texts)
            # tokens are laid out contiguously per doc, so the per-doc
            # min is a segmented reduce (reduceat ≈ 4.6× faster than a
            # minimum.at scatter — measured); split() always yields ≥1
            # token so no segment is empty
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            if token_hash == "fast":
                # per-instance C-level SipHash — no object-string sort
                base = _token_base_hash(flat)
            else:
                # legacy baseline: the exact round-2 computation
                # (unique + per-token md5 loop), kept for bench q11
                uniq, inv = np.unique(flat, return_inverse=True)
                base = _token_base_hash_md5(uniq)[inv]
            sigs = np.empty((len(texts), len(A)), dtype=np.uint64)
            for h in range(len(A)):
                vals = base * A[h] + B[h]  # wraps mod 2^64 — intended
                sigs[:, h] = np.minimum.reduceat(vals, starts)
            # to signed int64 for Spark LongType (bit pattern preserved)
            sigs_signed = sigs.view(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "sig": list(sigs_signed)}
            )

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)


def lsh_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    id_col: str = "doc_id",
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, distinct).

    sig length must be divisible by ``bands``. Band keys are xxhash64 of
    the band slice (engine-internal key — no cross-engine parity needed).
    Buckets over ``max_bucket`` members are dropped with an observe
    metric (audit via drop_report, see cap_hot_buckets) — canonicalize
    the exact-dup families that create such buckets first (one md5
    groupBy).

    EAGER BUILD with ``max_bucket`` set (see ``_banded_self_join``);
    ``max_bucket=None`` keeps the plan fully lazy.
    """
    joined, report, persisted = _banded_self_join(
        sig_df.select(id_col, band_key_cols(bands)),
        id_col, ["band", "key"], max_bucket, "lsh_pairs",
    )
    out = joined.select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    ).distinct()
    return _with_audit(out, report, persisted)


def winnow_fingerprints_fast(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, fp) — distinct winnowing fingerprints, PRODUCTION path.

    Arrow-batched kernel: the word-k-gram stream is built once per
    batch into a flat buffer (``_flat_shingles`` — position order
    preserved inside each doc's segment), hashed with the same
    vectorized SipHash as minhash (one C-level ``pd.util.hash_array``
    call per batch), then each doc takes a vectorized sliding
    window-min (``sliding_window_view``) + ``np.unique``.

    Exists because the dual-dialect SQL path (``functions/text.
    kgram_hashes``) is a Catalyst HIGHER-ORDER function — Spark
    evaluates lambda bodies interpreted, per element, outside
    whole-stage codegen, and the per-k-gram md5 there measures ~160k
    hashes/s across 32 cores (~60 s for 24k long docs) where this
    kernel does the same stream in ~2 s. Different (coherent) hash
    family than the SQL path, so fingerprint VALUES differ; the
    winnowing guarantee — a shared token run of ≥ w+k-1 yields a
    shared fingerprint — holds for any consistent family
    (pytest-pinned on planted dups). Docs shorter than k tokens
    emit ONE whole-text fingerprint (``short_whole=True``) — the
    same degenerate structure as the SQL path, so the CANDIDATE
    PAIR sets of token_hash='fast' and 'sql' agree on short docs
    too (two distinct short docs sharing one token no longer pair
    under 'fast' at min_shared=1)."""
    id_field = df.schema[id_col]
    schema = StructType([id_field, StructField("fp", LongType())])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            texts = pdf[text_col].to_numpy()
            ids = pdf[id_col].to_numpy()
            if len(texts) == 0:
                yield pd.DataFrame({id_col: ids, "fp": []})
                continue
            flat, lens = _flat_shingles(texts, k, short_whole=True)
            base = _token_base_hash(flat)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            out_ids, out_fps = [], []
            for d in range(len(texts)):
                h = base[bounds[d]:bounds[d + 1]]
                if len(h) == 0:
                    continue
                if len(h) <= w:
                    fps = h.min(keepdims=True)
                else:
                    fps = np.unique(sliding_window_view(h, w).min(axis=1))
                out_ids.append(np.full(len(fps), ids[d], dtype=ids.dtype))
                out_fps.append(fps)
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_ids),
                    "fp": np.concatenate(out_fps).view(np.int64),
                }
            )

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)


def winnow_candidates(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 4096,
    token_hash: str = "fast",
) -> DataFrame:
    """Winnowing rolling-hash fingerprints (Schleimer et al., SIGMOD
    2003) → near-dup candidate pairs ``(id_a, id_b, n_shared)``.

    The operator/scale path of ``text_queries.winnow_pairs``.
    ``token_hash="fast"`` (default) extracts fingerprints with the
    Arrow-vectorized SipHash kernel (``winnow_fingerprints_fast`` —
    the production path); ``"sql"`` uses the dual-dialect Catalyst
    array SQL (``functions/text.kgram_hashes`` + ``winnow_mins``),
    whose pairs are identical to the DuckDB oracle recomputation
    (pytest-pinned) but whose per-k-gram md5 runs interpreted inside a
    Catalyst higher-order function — keep it for oracle parity, not
    for volume. Either way the pair stage is the same equi-join shape
    as ``lsh_pairs`` with the posting list per fingerprint as the
    bucket, so boilerplate phrases (a hot fingerprint shared by
    millions of docs at 100 TB) go through the same skew-immune
    ``cap_hot_buckets`` guard — counting pass, no-skew fast path,
    measured-size broadcast — instead of detonating the self-join.
    EAGER BUILD with ``max_bucket`` set (see ``_banded_self_join``);
    ``None`` builds a fully lazy, uncapped plan.
    """
    joined, report, persisted = _banded_self_join(
        _winnow_fp_frame(df, k, w, text_col, id_col, token_hash),
        id_col, ["fp"], max_bucket, "winnow",
    )
    out = (
        joined.groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return _with_audit(out, report, persisted)


def _winnow_fp_frame(
    df: DataFrame,
    k: int,
    w: int,
    text_col: str,
    id_col: str,
    token_hash: str,
) -> DataFrame:
    """(id, fp) distinct winnowing fingerprints via the chosen hash
    family — 'fast' (Arrow SipHash kernel, production) or 'sql' (the
    dual-dialect Catalyst md5 path, DuckDB-reproducible for oracles)."""
    if token_hash not in ("fast", "sql"):
        raise ValueError(
            f"unknown token_hash {token_hash!r} (expected 'fast' or 'sql')"
        )
    if token_hash == "fast":
        f = winnow_fingerprints_fast(df, k=k, w=w, text_col=text_col, id_col=id_col)
    else:
        from ..functions import text as _T

        h = _T.kgram_hashes(text_col, k, "spark")
        fps = _T.winnow_mins("h", w, "spark")
        f = (
            df.select(F.col(id_col), F.expr(h).alias("h"))
            .select(id_col, F.explode(F.expr(fps)).alias("fp"))
        )
    return filter_null_keys(f, ["fp"])


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str = "bench_id",
    token_hash: str = "fast",
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥
    ``min_shared`` winnowing fingerprints with any benchmark/eval
    document → ``(id_col, bench_id_col, n_shared)``.

    The standard training-data hygiene step (engine addition — the
    reference has no text ops): before training, drop every corpus doc
    that textually overlaps the eval sets, or the benchmark numbers
    measure memorization. Winnowing (Schleimer et al., SIGMOD 2003)
    gives the guarantee the thresholding needs: any corpus doc sharing
    a verbatim run of ≥ w+k-1 tokens with a benchmark doc is CAUGHT
    (shares ≥ 1 fingerprint), at ~2/(w+1) fingerprint retention.

    100 TB shape: the benchmark side is small by construction (eval
    sets are 10³-10⁶ docs vs a 100 TB corpus), so its fingerprint
    frame is BROADCAST — the corpus fingerprint stream is consumed
    map-side by the join and never shuffles; the only exchange is the
    groupBy over MATCHED rows (bounded by true contamination, not
    corpus size).

    ``token_hash``: 'fast' (Arrow SipHash, production) or 'sql' (the
    dual-dialect md5 family, reproducible in DuckDB — the driver
    query's oracle gate runs the whole chain under it).
    """
    if bench_text_col is None:
        bench_text_col = text_col
    if id_col == bench_id_col:
        raise ValueError(
            f"id_col and bench_id_col must differ (both {id_col!r})"
        )
    cf = _winnow_fp_frame(corpus, k, w, text_col, id_col, token_hash)
    bf = _winnow_fp_frame(benchmark, k, w, bench_text_col, bench_id_col, token_hash)
    return (
        cf.join(F.broadcast(bf), "fp")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def verify_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    docs_broadcast_rows: int = 250_000,
    docs_broadcast_bytes: int = 64 << 20,
) -> DataFrame:
    """Exact distinct-token jaccard on candidate pairs; keeps ≥ threshold.
    Token-set ops are native Catalyst array functions (JVM-side).

    EAGER BUILD: the docs side is measured here (one count+bytes agg
    over the pruned (id, text) projection) and, when provably small
    BOTH ways, broadcast into the two token joins — the planner has no
    usable size estimate for either side and picked sort-merge joins
    that shuffled the tokenized docs twice plus the pair frame
    (measured: 2.0 s → 1.1 s on the 60k-doc bench corpus). Oversized
    docs keep the spill-safe planner choice; thresholds follow
    self_join_probe_side's row/byte bounds."""
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.octet_length(F.col(text_col))), F.lit(0)
        ).alias("b"),
    ).collect()[0]
    t = docs.select(
        F.col(id_col), F.array_distinct(F.split(F.col(text_col), " ")).alias("toks")
    )
    if (
        int(stats["n"]) <= docs_broadcast_rows
        and int(stats["b"]) <= docs_broadcast_bytes
    ):
        t = F.broadcast(t)
    out = (
        pairs.join(t.withColumnRenamed(id_col, "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
        .join(t.withColumnRenamed(id_col, "id_b").withColumnRenamed("toks", "toks_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
            / (
                F.size("toks_a") + F.size("toks_b")
                - F.size(F.array_intersect("toks_a", "toks_b"))
            ).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "fast",
) -> DataFrame:
    """64-bit simhash over word tokens (sign of per-bit weighted sums).

    ``token_hash``: "fast" (vectorized SipHash, the production path) or
    "md5" — the dual-dialect 60-bit md5 hash (functions/text.md5_bigint:
    first 15 md5 hex chars), reproducible in DuckDB SQL so the whole
    simhash chain can be gated by an independent external oracle (the
    ``simhash_pairs`` driver query). Under "md5" the top 4 simhash bits
    are always 0 (every token contributes −1 there)."""
    if token_hash not in ("fast", "md5"):
        raise ValueError(
            f"unknown token_hash {token_hash!r} (expected 'fast' or 'md5')"
        )
    id_field = df.schema[id_col]
    schema = StructType([id_field, StructField("simhash", LongType())])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_cols = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for pdf in batches:
            texts = pdf[text_col].to_numpy()
            if len(texts) == 0:  # reduceat rejects empty segments
                yield pd.DataFrame({id_col: pdf[id_col], "simhash": []})
                continue
            tok_lists = [t.split(" ") for t in texts]
            flat = np.array([t for toks in tok_lists for t in toks], dtype=object)
            lens = np.array([len(t) for t in tok_lists])
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            if token_hash == "fast":
                # hash the flat array directly — hash(unique)[inverse]
                # is value-identical but pays a sort-based np.unique
                # over object strings (~5-8× the hash cost, the same
                # lesson as minhash's SipHash fast path)
                base = _token_base_hash(flat)
            else:
                # the md5 baseline hashes per-token in Python — there
                # dedup via unique IS the win
                uniq, inv = np.unique(flat, return_inverse=True)
                # md5_bigint parity: 15 hex chars = top 60 bits of the
                # digest, i.e. the 64-bit big-endian prefix >> 4
                base = (_token_base_hash_md5(uniq) >> np.uint64(4))[inv]
            # ±1 per bit, accumulated per doc: bits (n_tok, 64);
            # segmented reduce over the contiguous per-doc layout
            # (see minhash_signatures)
            # int32 halves the dominant (n_tok, 64) transient; per-doc
            # ±1 sums cannot overflow int32 at any realistic doc length
            bits = ((base[:, None] & bit_cols[None, :]) != 0).astype(np.int32) * 2 - 1
            acc = np.add.reduceat(bits, starts, axis=0)
            sig = (acc > 0) @ bit_cols.astype(object)  # python ints avoid overflow
            sig64 = np.array([int(s) for s in sig], dtype=np.uint64).view(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "simhash": sig64})

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)


def simhash_pairs(
    sim_df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole banding (hamming_band_cols): chunk equality (or
    chunk-pair equality for narrow chunks) → candidates, then exact
    popcount verify (JVM bit ops; see ``_hamming_pairs``). Hot buckets
    (degenerate simhashes, e.g. boilerplate) are capped with an
    observe-metric drop (cap_hot_buckets; audit via drop_report).

    EAGER BUILD with ``max_bucket`` set (see ``_banded_self_join``);
    ``max_bucket=None`` keeps the plan fully lazy.
    """
    return _hamming_pairs(
        sim_df, id_col, "simhash", max_hamming, max_bucket, "simhash_pairs"
    )
