"""Dual-dialect (Spark SQL / DuckDB) query builders for the text, dedup
and similarity driver queries.

Each builder returns ``(spark_sql, duck_sql)`` computing bit-identical
results. The Spark string is real engine code — it compiles to native
Catalyst expressions (whole-stage codegen, zero Python); the DuckDB
string is the independent oracle. The probabilistic/scale variants of the
same operators (numpy minhash H=64, hyperplane LSH, IVF) live in
operators/dedup.py and operators/similarity.py and are pinned by pytest
oracles instead (they are not bit-reproducible in SQL).
"""

from __future__ import annotations

from eo_tools_spark.functions import text as T


def _docs_aug(dialect: str) -> str:
    return f"docs AS ({T.DOCS_AUG_SQL})"


def dedup_exact() -> tuple[str, str]:
    q = (
        "WITH {docs} "
        "SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies "
        "FROM docs GROUP BY md5(text)"
    )
    return q.format(docs=_docs_aug("spark")), q.format(docs=_docs_aug("duck"))


def _bigrams(d: str) -> str:
    """Distinct word-bigram shingle set from a precomputed ``toks``
    array column. Word bigrams (not unigrams) so random docs over the
    tiny shared vocabulary don't all look similar."""
    if d == "spark":
        return (
            "array_distinct(transform(sequence(1, greatest(size(toks) - 1, 1)), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
        )
    return (
        "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1), "
        "i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]))"
    )


def _set_jaccard(d: str, a: str = "a.sh", b: str = "b.sh") -> str:
    """Jaccard of two precomputed distinct-element array columns."""
    if d == "spark":
        inter = f"size(array_intersect({a}, {b}))"
        union = f"(size({a}) + size({b}) - {inter})"
    else:
        inter = f"len(list_intersect({a}, {b}))"
        union = f"(len({a}) + len({b}) - {inter})"
    return f"CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE)"


def minhash_lsh_pairs(bands: int = 4, rows_per_band: int = 2, threshold: float = 0.5) -> tuple[str, str]:
    """Banded minhash-LSH candidate pairs + exact jaccard verify, fully
    in SQL (H = bands×rows_per_band md5-family minhashes over word-bigram
    shingles; shingle arrays precomputed once per doc in a CTE)."""

    def build(d: str) -> str:
        split = "split(text, ' ')" if d == "spark" else "string_split(text, ' ')"
        mh = []
        for b in range(bands):
            rows = []
            for r in range(rows_per_band):
                seed = b * rows_per_band + r
                seeded = f"concat('s{seed}_', t)" if d == "spark" else f"'s{seed}_' || t"
                lam = f"t -> {T.md5_bigint(seeded, d)}"
                arr = (
                    f"transform(sh, {lam})" if d == "spark" else f"list_transform(sh, {lam})"
                )
                amin = f"array_min({arr})" if d == "spark" else f"list_min({arr})"
                cast = "STRING" if d == "spark" else "VARCHAR"
                rows.append(f"CAST({amin} AS {cast})")
            joiner = ", '_', ".join(rows) if d == "spark" else " || '_' || ".join(rows)
            key = f"md5(concat({joiner}))" if d == "spark" else f"md5({joiner})"
            mh.append(f"{key} AS bk{b}")
        if d == "spark":
            # single equi-join on exploded (band, key) — Spark inlines
            # CTEs, so UNION-per-band would recompute the md5 signature
            # CTE once per branch; posexplode keeps it to one pass/side
            keys = ", ".join(f"bk{b}" for b in range(bands))
            cand = (
                f"SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM "
                f"(SELECT doc_id, band, bk FROM sigs "
                f"LATERAL VIEW posexplode(array({keys})) pe AS band, bk) a JOIN "
                f"(SELECT doc_id, band, bk FROM sigs "
                f"LATERAL VIEW posexplode(array({keys})) pe AS band, bk) b "
                f"ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id"
            )
        else:
            cand = " UNION ".join(
                f"SELECT a.doc_id AS id_a, b.doc_id AS id_b "
                f"FROM sigs a JOIN sigs b ON a.bk{b} = b.bk{b} AND a.doc_id < b.doc_id"
                for b in range(bands)
            )
        jac = _set_jaccard(d, "ta.sh", "tb.sh")
        return (
            f"WITH {_docs_aug(d)}, "
            f"tokd AS (SELECT doc_id, {split} AS toks FROM docs), "
            f"shd AS (SELECT doc_id, {_bigrams(d)} AS sh FROM tokd), "
            f"sigs AS (SELECT doc_id, {', '.join(mh)} FROM shd), "
            f"cand AS ({cand}) "
            f"SELECT cand.id_a, cand.id_b, {jac} AS jaccard "
            f"FROM cand JOIN shd ta ON ta.doc_id = cand.id_a "
            f"JOIN shd tb ON tb.doc_id = cand.id_b "
            f"WHERE {jac} >= {threshold}"
        )

    return build("spark"), build("duck")


def ngram_jaccard_pairs(n: int = 3, threshold: float = 0.3) -> tuple[str, str]:
    """Character-n-gram jaccard near-dup pairs; candidates bucketed by
    length band (length//16) — same pruning both engines."""

    def build(d: str) -> str:
        ln = "length(text)" if d == "spark" else "len(text)"
        jac = _set_jaccard(d)
        return (
            f"WITH {_docs_aug(d)}, "
            f"b AS (SELECT doc_id, {T.shingles('text', n, d)} AS sh, "
            f"CAST(FLOOR({ln} / 16) AS BIGINT) AS lb FROM docs) "
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jac} AS jaccard "
            f"FROM b a JOIN b b ON a.doc_id < b.doc_id AND a.lb = b.lb "
            f"WHERE {jac} >= {threshold}"
        )

    return build("spark"), build("duck")


def langid() -> tuple[str, str]:
    """Language-ID over documents: 25-language Cavnar–Trenkle
    character-n-gram profiles with confidence margin + und rule
    (functions/langid.py — replaced the 3×5 stopword toy, round-4
    verdict task 2). Integer scoring → exact cross-engine parity."""
    from eo_tools_spark.functions.langid import langid_select

    def build(d: str) -> str:
        return langid_select("documents", "text", "doc_id", d)

    return build("spark"), build("duck")


def langid_mixed() -> tuple[str, str]:
    """Per-SEGMENT language-ID + code-switch flag over documents
    (functions/langid.langid_segments_select, round-5 verdict task 8):
    20-word windows voted per doc → majority lang_pred, n_segs,
    n_langs, mixed. Same integer scoring as ``langid`` → exact
    cross-engine parity."""
    from eo_tools_spark.functions.langid import langid_segments_select

    def build(d: str) -> str:
        return langid_segments_select("documents", "text", "doc_id", d)

    return build("spark"), build("duck")


def quality_score() -> tuple[str, str]:
    def build(d: str) -> str:
        cols = ", ".join(
            f"{expr} AS {name}" for name, expr in T.quality_columns("text", d).items()
        )
        return (
            f"SELECT doc_id, {cols}, {T.fingerprint('text', d)} AS fingerprint "
            f"FROM documents"
        )

    return build("spark"), build("duck")


def token_stats() -> tuple[str, str]:
    """Token counting both ways a training-data pipeline needs it:
    whitespace tokens (the cheap budget proxy) and a BPE-ish regex
    tokenization (letter runs | digit runs | single non-alnum marks —
    the GPT-2 pre-tokenizer shape without the unicode categories),
    plus their ratio. Pure ASCII character classes so Java regex
    (Spark) and RE2 (DuckDB) agree symbol for symbol."""
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

    def build(d: str) -> str:
        # the synthetic corpus is pure space-separated words, on which
        # any tokenizer degenerates to the whitespace count — suffix a
        # deterministic digits+punctuation token per doc so the two
        # counts genuinely diverge and the oracle exercises the regex
        cast = "STRING" if d == "spark" else "VARCHAR"
        txt = f"concat(text, ' v', CAST(doc_id AS {cast}), '.jpg!')"
        ws = (
            f"size(split({txt}, ' '))" if d == "spark"
            else f"len(string_split({txt}, ' '))"
        )
        bpe = (
            f"regexp_count({txt}, '{pat}')" if d == "spark"
            else f"len(regexp_extract_all({txt}, '{pat}'))"
        )
        return (
            f"SELECT doc_id, CAST({ws} AS BIGINT) AS n_ws_tokens, "
            f"CAST({bpe} AS BIGINT) AS n_bpe_tokens, "
            f"CAST({bpe} AS DOUBLE) / CAST({ws} AS DOUBLE) AS bpe_per_ws "
            "FROM documents"
        )

    return build("spark"), build("duck")


def repetition_stats(n: int = 5) -> tuple[str, str]:
    """Gopher/MassiveText-style repetition quality filters (Rae et al.
    2021, appendix A1.1 — the public quality-filter recipe): per doc,
    the duplicate-token fraction (1 − distinct/total), the duplicate
    word-n-gram fraction, and the token fraction covered by the single
    most frequent bigram. Training pipelines drop docs above
    thresholds on these — the signal that catches boilerplate and
    degenerate repetition that exact/near dedup misses (repetition is
    WITHIN a doc, not across docs).

    Scale shape: the two dup ratios are pure per-row Catalyst array
    scalars (whole-stage codegen, zero exchange); the top-bigram pass
    is explode → partial-agg count — the groupBy keys on (doc_id,
    gram) so map-side combine collapses each doc's histogram before
    the (bounded) shuffle."""

    def build(d: str) -> str:
        # plant within-doc repetition deterministically (doc_id % 13 ==
        # 2 → the doc self-concatenated): random synthetic docs never
        # repeat an n-gram, so without this the dup_ngram_ratio column
        # would be 0 everywhere and the oracle couldn't tell a broken
        # implementation from a working one
        selfcat = (
            "concat(text, ' ', text)" if d == "spark" else "text || ' ' || text"
        )
        split = "split(text, ' ')" if d == "spark" else "string_split(text, ' ')"
        # single-token docs have NO bigram: guard with an empty array
        # (greatest(...,1) flooring would fabricate a NULL pseudo-gram
        # via out-of-range element_at, scoring top_bigram_ratio = 2.0 —
        # and both dialects would agree on the wrong answer, so the
        # oracle gate can't see it)
        if d == "spark":
            sz, dist, un = "size", "array_distinct", "explode(bg)"
            g5 = (
                f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)), "
                f"i -> concat_ws(' ', slice(toks, i, {n})))"
            )
            bg = (
                "CASE WHEN size(toks) < 2 THEN array() "
                "ELSE transform(sequence(1, size(toks) - 1), "
                "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END"
            )
        else:
            sz, dist, un = "len", "list_distinct", "unnest(bg)"
            g5 = (
                f"list_transform(range(1, greatest(len(toks) - {n - 1}, 1) + 1), "
                f"i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + {n - 1}], ' '))"
            )
            bg = (
                "CASE WHEN len(toks) < 2 THEN [] "
                "ELSE list_transform(range(1, len(toks)), "
                "i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]) END"
            )
        return (
            f"WITH {_docs_aug(d)}, "
            f"rdocs AS (SELECT doc_id, CASE WHEN doc_id % 13 = 2 "
            f"THEN {selfcat} ELSE text END AS text FROM docs), "
            f"t AS (SELECT doc_id, {split} AS toks FROM rdocs), "
            f"g AS (SELECT doc_id, toks, {g5} AS g5, {bg} AS bg FROM t), "
            f"s AS (SELECT doc_id, {sz}(toks) AS ntok, "
            f"1.0 - CAST({sz}({dist}(toks)) AS DOUBLE) / CAST({sz}(toks) AS DOUBLE) AS dup_token_ratio, "
            f"1.0 - CAST({sz}({dist}(g5)) AS DOUBLE) / CAST({sz}(g5) AS DOUBLE) AS dup_ngram_ratio, "
            f"bg FROM g), "
            f"x AS (SELECT doc_id, {un} AS gram FROM s), "
            f"c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM x GROUP BY doc_id, gram), "
            f"top AS (SELECT doc_id, MAX(cnt) AS mc FROM c GROUP BY doc_id) "
            f"SELECT s.doc_id, CAST(s.ntok AS BIGINT) AS n_tokens, "
            f"s.dup_token_ratio, s.dup_ngram_ratio, "
            # LEFT JOIN + COALESCE: a bigram-less (single-token) doc
            # has no `top` row and scores 0, not a dropped row
            f"COALESCE(CAST(2 * top.mc AS DOUBLE) / CAST(s.ntok AS DOUBLE), 0.0) "
            f"AS top_bigram_ratio "
            f"FROM s LEFT JOIN top ON s.doc_id = top.doc_id"
        )

    return build("spark"), build("duck")


def winnow_pairs(k: int = 4, w: int = 5, min_shared: int = 2) -> tuple[str, str]:
    """Winnowing rolling-hash document fingerprints (Schleimer et al.,
    SIGMOD 2003) → near-dup candidate pairs by shared fingerprints.

    Per doc: hash every overlapping word-k-gram (the rolling-hash
    stream), keep the distinct minima of each length-w window — any two
    docs sharing a run of ≥ w+k-1 identical tokens are GUARANTEED to
    share a fingerprint, at ~2/(w+1) retention. Pairs = an equi-join on
    fingerprint + count ≥ min_shared (suppresses single-collision
    noise). All array ops — runs whole-stage-codegen JVM-side; the
    100 TB shape is the LSH bucket join (posting list per fingerprint),
    with hot-fingerprint skew handled by ``dedup.winnow_candidates``'s
    ``cap_hot_buckets`` on the operator path.
    """

    def build(d: str) -> str:
        h = T.kgram_hashes("text", k, d)
        fps = T.winnow_mins("h", w, d)
        un = "explode(fps)" if d == "spark" else "unnest(fps)"
        return (
            f"WITH {_docs_aug(d)}, "
            f"b AS (SELECT doc_id, {h} AS h FROM docs), "
            f"wm AS (SELECT doc_id, {fps} AS fps FROM b), "
            f"f AS (SELECT doc_id, {un} AS fp FROM wm) "
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            f"CAST(COUNT(*) AS BIGINT) AS n_shared "
            f"FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id "
            f"GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= {min_shared}"
        )

    return build("spark"), build("duck")


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
)
_DUCK_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), "
    "(acc, z) -> acc + z)"
)


def _cosine(d: str, a: str, b: str) -> str:
    dot = (_DOT if d == "spark" else _DUCK_DOT)
    return (
        f"({dot.format(a=a, b=b)}) / "
        f"(sqrt({dot.format(a=a, b=a)}) * sqrt({dot.format(a=b, b=b)}))"
    )


def ann_topk(k: int = 10, n_queries: int = 5) -> tuple[str, str]:
    """Exact top-k cosine per query (queries = first n_queries vec_ids)
    via identical left-fold arithmetic → identical doubles → identical
    ranks in both engines."""

    def build(d: str) -> str:
        cos = _cosine(d, "q.embedding", "v.embedding")
        return (
            f"WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings "
            f"WHERE vec_id < {n_queries}), "
            f"s AS (SELECT q.query_id, v.vec_id, {cos} AS cosine "
            f"FROM q, embeddings v), "
            f"r AS (SELECT query_id, vec_id, cosine, CAST(ROW_NUMBER() OVER "
            f"(PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank "
            f"FROM s) "
            f"SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= {k}"
        )

    return build("spark"), build("duck")


def neardup_embedding(threshold: float = 0.4) -> tuple[str, str]:
    """All-pairs cosine ≥ τ (exact, pure SQL; no LSH-bucketed operator
    backs it)."""

    def build(d: str) -> str:
        cos = _cosine(d, "a.embedding", "b.embedding")
        return (
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine "
            f"FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
            f"WHERE {cos} >= {threshold}"
        )

    return build("spark"), build("duck")


# ------------------------------------------------------------------
# SAR-geometry relational queries (SURVEY §2.5-§2.7) — derived inputs so
# DuckDB can recompute them exactly.

def stitch_lines() -> tuple[str, str]:
    """Burst stitching as a window query: per output line, the LAST
    burst covering it wins (process.py:2633-2682 write-order made
    declarative). 4 bursts × 100 lines, offsets 90 apart, overlap 10."""

    def build(d: str) -> str:
        # FLOOR before CAST: DuckDB CAST(double->int) rounds, Spark truncates
        if d == "spark":
            gen = (
                "bursts AS (SELECT CAST(FLOOR(id / 100) AS INT) + 1 AS burst, "
                "CAST(id % 100 AS INT) AS line FROM range(400))"
            )
        else:
            gen = (
                "bursts AS (SELECT CAST(FLOOR(i / 100) AS INT) + 1 AS burst, "
                "CAST(i % 100 AS INT) AS line FROM range(400) t(i))"
            )
        return (
            f"WITH {gen}, "
            "placed AS (SELECT burst, line, (burst - 1) * 90 AS az_off, "
            "CASE WHEN burst = 1 THEN 0 ELSE 10 END AS ovl, "
            "burst * 1000 + line AS val FROM bursts), "
            "kept AS (SELECT burst, line, az_off + line AS out_line, val "
            "FROM placed WHERE line >= CAST(ovl / 2 AS INT)), "
            "ranked AS (SELECT out_line, burst, val, ROW_NUMBER() OVER "
            "(PARTITION BY out_line ORDER BY burst DESC) AS rn FROM kept) "
            "SELECT out_line, burst, val FROM ranked WHERE rn = 1"
        )

    return build("spark"), build("duck")


def minby_poly() -> tuple[str, str]:
    """Top-1 as-of selection: the annotation polynomial nearest in time
    to each product's mid-time (core.py:587-592 argmin|t-t_mid| →
    min_by/arg_min)."""

    def build(d: str) -> str:
        # row_number with (distance, id) ordering instead of
        # min_by/arg_min: those are engine-nondeterministic on
        # equidistant ties, this is reproducible in both
        return (
            "WITH polys AS (SELECT o_orderkey % 20 AS product, "
            "CAST(o_orderkey % 97 AS DOUBLE) AS poly_t, o_orderkey AS poly_id "
            "FROM orders), "
            "mid AS (SELECT product, AVG(poly_t) AS t_mid FROM polys GROUP BY product), "
            "ranked AS (SELECT polys.product, poly_id, ROW_NUMBER() OVER "
            "(PARTITION BY polys.product ORDER BY ABS(poly_t - t_mid), poly_id) AS rn "
            "FROM polys JOIN mid ON polys.product = mid.product) "
            "SELECT product, poly_id AS nearest_poly FROM ranked WHERE rn = 1"
        )

    return build("spark"), build("duck")


def subswath_union() -> tuple[str, str]:
    """Set-op parity: union + distinct of per-product subswath
    selections (process.py:331-334 np.unique(concatenate) analog)."""
    from eo_tools_spark.sources.derived import AOI_BOXES, SCENES_SQL_BODY

    def build(d: str) -> str:
        body = SCENES_SQL_BODY if d == "duck" else SCENES_SQL_BODY.replace("AS VARCHAR", "AS STRING")
        x0, y0, x1, y1 = AOI_BOXES["aoi_hot"]
        a0, b0, a1, b1 = AOI_BOXES["aoi_mid"]
        return (
            f"WITH scenes AS ({body}) "
            "SELECT DISTINCT product_id, subswath FROM ("
            f"SELECT product_id, subswath FROM scenes WHERE lon >= {x0} AND lon <= {x1} "
            f"AND lat >= {y0} AND lat <= {y1} "
            "UNION ALL "
            f"SELECT product_id, subswath FROM scenes WHERE lon >= {a0} AND lon <= {a1} "
            f"AND lat >= {b0} AND lat <= {b1})"
        )

    return build("spark"), build("duck")


def validation_antijoin() -> tuple[str, str]:
    """Partial-availability validation as an anti-join: requested
    (subswath, pol) pairs not present in the manifest → the rows that
    would raise (core.py:145-149, process.py:560-579 error contract)."""
    from eo_tools_spark.sources.derived import SCENES_SQL_BODY

    def build(d: str) -> str:
        body = SCENES_SQL_BODY if d == "duck" else SCENES_SQL_BODY.replace("AS VARCHAR", "AS STRING")
        req = (
            "requested(subswath, pol) AS (VALUES ('IW1', 'vv'), ('IW2', 'vv'), "
            "('IW3', 'hh'), ('IW9', 'vv'))"
        )
        avail = (
            "available AS (SELECT DISTINCT subswath, CASE WHEN burst % 2 = 0 "
            "THEN 'vv' ELSE 'hh' END AS pol FROM scenes)"
        )
        if d == "spark":
            anti = (
                "SELECT r.subswath, r.pol FROM requested r LEFT ANTI JOIN available a "
                "ON r.subswath = a.subswath AND r.pol = a.pol"
            )
        else:
            anti = (
                "SELECT r.subswath, r.pol FROM requested r ANTI JOIN available a "
                "ON r.subswath = a.subswath AND r.pol = a.pol"
            )
        return f"WITH scenes AS ({body}), {req}, {avail} {anti}"

    return build("spark"), build("duck")


def amplitude_proj() -> tuple[str, str]:
    """Amplitude projection |z| = sqrt(re²+im²) over derived complex
    samples (process.py:1611; sqrt is IEEE correctly-rounded →
    bit-identical across engines)."""
    q = (
        "SELECT l_orderkey AS k, l_linenumber AS line, "
        "sqrt(CAST((l_partkey % 13 - 6) * (l_partkey % 13 - 6) "
        "+ (l_suppkey % 7 - 3) * (l_suppkey % 7 - 3) AS DOUBLE)) AS amplitude "
        "FROM lineitem"
    )
    return q, q


def s2_scaling() -> tuple[str, str]:
    """S2 reflectance scaling (DN+offset)/QV clipped ≥0, offset only
    when baseline ≥ 4 (S2.py:198-202) — pure projection arithmetic."""
    q = (
        "SELECT l_orderkey AS k, l_linenumber AS line, "
        "GREATEST((CAST(l_quantity AS DOUBLE) * 1000.0 + "
        "CASE WHEN l_suppkey % 2 = 0 THEN -1000.0 ELSE 0.0 END) / 10000.0, 0.0) "
        "AS reflectance FROM lineitem"
    )
    return q, q


def pairing_offset() -> tuple[str, str]:
    """Burst-pairing join with the 1%-tolerance overlap predicate and
    offset derivation (process.py:510-526 semantics) on derived 1-D
    azimuth intervals: prm burst b spans [90b, 90b+100); sec bursts are
    the same grid shifted one burst step → all pairs share offset 1."""

    def build(d: str) -> str:
        if d == "spark":
            gen_p = "prm AS (SELECT CAST(id AS INT) + 1 AS burst FROM range(9))"
            gen_s = "sec AS (SELECT CAST(id AS INT) + 2 AS burst FROM range(9))"
        else:
            gen_p = "prm AS (SELECT CAST(i AS INT) + 1 AS burst FROM range(9) t(i))"
            gen_s = "sec AS (SELECT CAST(i AS INT) + 2 AS burst FROM range(9) u(i))"
        # interval [90(b-1), 90(b-1)+100): overlap/min-length ratio
        ratio = (
            "CAST(GREATEST(0, LEAST(90 * (p.burst - 1) + 100, 90 * (s.burst - 2) + 100) "
            "- GREATEST(90 * (p.burst - 1), 90 * (s.burst - 2))) AS DOUBLE) / 100.0"
        )
        return (
            f"WITH {gen_p}, {gen_s} "
            f"SELECT p.burst AS burst_prm, s.burst AS burst_sec, "
            f"s.burst - p.burst AS burst_offset, {ratio} AS overlap "
            f"FROM prm p JOIN sec s ON {ratio} >= 0.99"
        )

    return build("spark"), build("duck")


def orders_rollup() -> tuple[str, str]:
    """Relational baseline: 3-way join customer⋈orders⋈lineitem +
    grouped revenue aggregation (exercises shuffle joins + partial
    aggregation on the driver's star schema)."""

    def build(d: str) -> str:
        # DuckDB SUM(BIGINT) widens to HUGEINT (hashes as a different
        # dtype); re-narrow in the duck dialect only.
        s = "SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT))"
        if d == "duck":
            s = f"CAST({s} AS BIGINT)"
        return (
            "SELECT c_nationkey AS nation, o_orderpriority AS pri, "
            f"COUNT(*) AS n_items, {s} AS revenue_cents "
            "FROM customer "
            "JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' "
            "GROUP BY c_nationkey, o_orderpriority"
        )

    return build("spark"), build("duck")


def dem_cache_key() -> tuple[str, str]:
    """Deterministic DEM cache identity: md5 over the WKT-ish bbox
    string + params (core.py:313-317 md5(wkt+upscale+name) semantics;
    filename-uniqueness fixture tests/test_s1_core.py:220-334).
    Coordinates stay in plain-decimal range so double→string formatting
    agrees across engines."""

    def build(d: str) -> str:
        cast = "STRING" if d == "spark" else "VARCHAR"
        minx = "CAST(o_orderkey % 100 AS DOUBLE) / 8.0"
        miny = "CAST(o_custkey % 50 AS DOUBLE) / 4.0"
        wkt = (
            f"concat('POLYGON ((', CAST({minx} AS {cast}), ' ', CAST({miny} AS {cast}), "
            f"', ', CAST({minx} + 1.0 AS {cast}), ' ', CAST({miny} + 1.0 AS {cast}), '))')"
        )
        return (
            f"SELECT o_orderkey AS k, md5(concat({wkt}, '_2_', 'nasadem')) AS cache_key "
            "FROM orders"
        )

    return build("spark"), build("duck")


def annotation_vectors() -> tuple[str, str]:
    """Annotation ETL: space-separated number vectors parsed to int
    arrays (calibration vectors / valid-sample arrays, core.py:652-664,
    716-719) → size + exact sum."""

    def build(d: str) -> str:
        cast = "STRING" if d == "spark" else "VARCHAR"
        vec = (
            f"concat(CAST(l_partkey AS {cast}), ' ', CAST(l_suppkey AS {cast}), "
            f"' ', CAST(l_linenumber AS {cast}))"
        )
        if d == "spark":
            arr = f"transform(split({vec}, ' '), x -> CAST(x AS BIGINT))"
            return (
                f"SELECT l_orderkey AS k, l_linenumber AS line, size({arr}) AS n_vals, "
                f"aggregate({arr}, CAST(0 AS BIGINT), (a, x) -> a + x) AS vec_sum "
                "FROM lineitem"
            )
        arr = f"list_transform(string_split({vec}, ' '), x -> CAST(x AS BIGINT))"
        return (
            f"SELECT l_orderkey AS k, l_linenumber AS line, CAST(len({arr}) AS INT) AS n_vals, "
            f"CAST(list_sum({arr}) AS BIGINT) AS vec_sum FROM lineitem"
        )

    return build("spark"), build("duck")


def events_hourly() -> tuple[str, str]:
    """Tumbling 1-hour window aggregation; money summed in exact cents
    (ROUND before CAST — double sums are order-dependent, int sums not)."""

    def build(d: str) -> str:
        trunc = "date_trunc('HOUR', ts)" if d == "spark" else "date_trunc('hour', ts)"
        s = "SUM(CAST(ROUND(value * 100, 0) AS BIGINT))"
        if d == "duck":
            # DuckDB SUM(BIGINT) → HUGEINT; re-narrow so dtypes hash equal
            s = f"CAST({s} AS BIGINT)"
        return (
            f"SELECT {trunc} AS hour, event_type, COUNT(*) AS n_events, "
            f"{s} AS sum_cents "
            f"FROM events GROUP BY {trunc}, event_type"
        )

    return build("spark"), build("duck")


def sessionize(gap_minutes: int = 30) -> tuple[str, str]:
    """Gap-based sessionization via lag + running sum window — the
    batch analog of a streaming session window."""
    gap = gap_minutes * 60

    def build(d: str) -> str:
        # FLOOR before cast: Spark unix_timestamp floors sub-second parts,
        # DuckDB CAST(double AS BIGINT) would round them
        epoch = "unix_timestamp(ts)" if d == "spark" else "CAST(FLOOR(epoch(ts)) AS BIGINT)"
        # DuckDB window SUM(INT) → HUGEINT; re-narrow so session_id
        # dtypes hash equal across engines
        sess_sum = (
            "SUM(new_session) OVER (PARTITION BY user_id ORDER BY t "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        if d == "duck":
            sess_sum = f"CAST({sess_sum} AS BIGINT)"
        return (
            f"WITH e AS (SELECT user_id, ts, {epoch} AS t FROM events), "
            "lagged AS (SELECT user_id, t, CASE WHEN t - LAG(t) OVER "
            "(PARTITION BY user_id ORDER BY t) > "
            f"{gap} THEN 1 ELSE 0 END AS new_session FROM e), "
            f"sess AS (SELECT user_id, t, {sess_sum} AS session_id FROM lagged) "
            "SELECT user_id, session_id, COUNT(*) AS n_events, "
            "MAX(t) - MIN(t) AS duration_sec "
            "FROM sess GROUP BY user_id, session_id"
        )

    return build("spark"), build("duck")
