"""Training-data pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing (BASELINE.json north-star extensions).

Oracles: DuckDB brute-force equivalents. The Spark side uses the
scale path (LSH bucket joins, broadcast query sides); the oracle uses
O(N²) enumeration — same result set, different cost shape, which is
exactly the point.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import textstats as ts
from ..operators.util import materialize
from .registry import register


@register(
    "dedup_exact",
    oracle="""
SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS canonical_id,
       COUNT(*)    AS n_copies
FROM documents
GROUP BY 1
""",
    category="pipeline",
)
def dedup_exact(spark, t):
    """Exact dedup: normalized-text md5 groups, canonical min-id."""
    return dd.exact_dedup_groups(t.documents, "text", "doc_id")


@register(
    "dedup_near_minhash",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])
              ELSE [] END AS s
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
""",
    category="pipeline",
)
def dedup_near_minhash(spark, t):
    """MinHash+LSH near-dup pairs, exact-verified at Jaccard ≥ 0.6.
    Spark runs the banded-LSH bucket join (operators/dedup.py);
    the oracle brute-forces all pairs — identical result set (LSH
    miss probability ≈ 4e-10 at the threshold)."""
    return dd.near_duplicate_pairs(
        t.documents, "doc_id", "text", threshold=0.6
    )


def _simhash_oracle() -> str:
    """Synthesized exact oracle for ``dedup_simhash`` (rows-only →
    hash-green upgrade, verdict r9 residual #2): DuckDB reproduces
    Spark's ``xxhash64`` bit-for-bit via the generated XXH64 SQL
    (``hdp2_5_hive_spark/xxh64_sql.py``, verified against
    ``F.xxhash64`` across length boundaries + UTF-8 in
    tests/test_xxh64_sql.py), then replays the whole pipeline
    exactly:

    - 64 SimHash bit votes per doc over whitespace-token occurrences
      (counts, not distinct), fingerprint bit j set iff vote > 0;
    - minhash lanes ``min((h*a_i + b_i) mod 2**64 as signed long)``
      over per-doc distinct 3-gram shingles with the same
      ``_perm_consts`` family (operators/dedup.py:99-114);
    - banded candidates join on the (band, lane-pair) VALUES — Spark
      buckets by ``xxhash64(band, mh0, mh1)``, so value-equality is
      the same candidate set up to 2**-64 bucket collisions;
    - final pairs filtered at Hamming ≤ 8 via UBIGINT xor+bit_count.
    """
    from ..operators.dedup import _perm_consts
    from ..xxh64_sql import M32, M64, signed64, xxh64_cte

    # Permutation constants pre-split into 32-bit halves so the
    # per-row wraparound multiply is ~7 HUGEINT ops instead of a
    # textual var×var mul64 (whose CASE-wrapped signed64 re-evaluated
    # it 3× — measured 17 s over the 1M lane rows, vs <1 s split).
    lanes_rows = ", ".join(
        f"({i}, {(a % M64) % M32}::HUGEINT, {(a % M64) // M32}::HUGEINT,"
        f" {b % M64}::HUGEINT)"
        for i, (a, b) in enumerate(_perm_consts(64))
    )
    pow2 = ", ".join(f"{1 << j}::HUGEINT" for j in range(64))
    lane_val = signed64(
        f"((hlo * alo + ((hhi * alo + hlo * ahi) % {M32}) * {M32} + b)"
        f" % {M64})"
    )
    return f"""
WITH
tokc AS MATERIALIZED (
  SELECT doc_id, w, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents) _
  GROUP BY doc_id, w
),
toks AS MATERIALIZED (SELECT DISTINCT w FROM tokc),
{xxh64_cte('toks', ('w',), 'w', 'wh')[1:]},
tbits AS MATERIALIZED (
  SELECT w, lpad(bin(CAST(h AS UBIGINT)), 64, '0') AS bs FROM wh
),
votes AS MATERIALIZED (
  SELECT t.doc_id, j.j,
         SUM(CASE WHEN substr(b.bs, 64 - j.j, 1) = '1'
                  THEN t.cnt ELSE -t.cnt END) AS v
  FROM tokc t JOIN tbits b USING (w)
  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
  GROUP BY t.doc_id, j.j
),
fp AS MATERIALIZED (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN ([{pow2}])[j + 1]
                       ELSE 0::HUGEINT END) AS UBIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
shing AS MATERIALIZED (
  SELECT doc_id, unnest(sh) AS s FROM (
    SELECT doc_id,
           CASE WHEN len(w) >= 3
                THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    for i in range(1, len(w) - 1)])
                ELSE [] END AS sh
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
          FROM documents) _
  ) _
),
shs AS MATERIALIZED (SELECT DISTINCT s FROM shing),
{xxh64_cte('shs', ('s',), 's', 'shh')[1:]},
lanes(i, alo, ahi, b) AS (VALUES {lanes_rows}),
shh2 AS MATERIALIZED (
  SELECT s, h % {M32} AS hlo, h // {M32} AS hhi FROM shh
),
perm AS MATERIALIZED (
  SELECT s, l.i, {lane_val} AS mh
  FROM shh2 CROSS JOIN lanes l
),
lanemin AS MATERIALIZED (
  SELECT g.doc_id, p.i, MIN(p.mh) AS mh
  FROM shing g JOIN perm p USING (s)
  GROUP BY g.doc_id, p.i
),
bandsig AS MATERIALIZED (
  SELECT doc_id, i // 2 AS band,
         MIN(CASE WHEN i % 2 = 0 THEN mh END) AS mh0,
         MIN(CASE WHEN i % 2 = 1 THEN mh END) AS mh1
  FROM lanemin GROUP BY doc_id, i // 2
),
cand AS MATERIALIZED (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bandsig x JOIN bandsig y
    ON x.band = y.band AND x.mh0 = y.mh0 AND x.mh1 = y.mh1
   AND x.doc_id < y.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
FROM cand c
JOIN fp fa ON fa.doc_id = c.id_a
JOIN fp fb ON fb.doc_id = c.id_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 8
"""


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    category="pipeline",
)
def dedup_simhash(spark, t):
    """SimHash fingerprints + near-dup pairs at Hamming ≤ 8 over LSH
    candidates. Oracle: full replay — generated XXH64 SQL (bit-exact
    Spark xxhash64 twin), same 64-lane minhash permutation family,
    band-value candidate join, UBIGINT xor/bit_count Hamming."""
    d = t.documents
    # The fingerprint table feeds both verify sides; without the
    # persist the per-doc 64-bit fold ran twice per action.
    fp = materialize(
        dd.simhash_fingerprints(d, "doc_id", "text"), "dedup_simhash.fingerprints"
    )
    cands = dd.lsh_candidate_pairs(d, "doc_id", "text")
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", dd.hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .filter(F.col("hamming") <= 8)
    )


@register(
    "ann_cosine_topk",
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.e, c.e), z -> z[1] * z[2]),
                     (x, y) -> x + y)
         / ( SQRT(list_reduce(list_transform(q.e, x -> x * x), (x, y) -> x + y))
           * SQRT(list_reduce(list_transform(c.e, x -> x * x), (x, y) -> x + y)) )
           AS cosine
  FROM v q JOIN v c ON q.vec_id < 30 AND c.vec_id <> q.vec_id
),
ranked AS MATERIALIZED (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
""",
    category="pipeline",
)
def ann_cosine_topk(spark, t):
    """Brute-force cosine top-5 for query vectors (vec_id < 30)
    against the full corpus. Sequential left-fold dot/norms →
    bit-identical ranking across engines (operators/similarity.py)."""
    emb = t.embeddings
    return sim.cosine_topk(
        emb.filter(F.col("vec_id") < 30), emb, k=5
    ).select("query_id", "neighbor_id", "rank", "cosine")


def _ann_lsh_oracle(dim: int = 64, n_planes: int = 6, n_tables: int = 4,
                    k: int = 5) -> str:
    """Synthesized exact-REPLAY oracle for ``ann_lsh_bucketed``
    (rows-only → hash-green upgrade). A recall gate against
    brute-force would be dishonest for a single-probe sign-LSH — but
    an exact replay is not approximate at all: the hyperplanes are
    sha256-derived constants (similarity._plane_matrix — no RNG), so
    the oracle embeds the very same plane matrix as literals,
    recomputes each vector's per-table sign bucket, scores only
    same-(table, bucket) pairs with the identical sequential-fold
    cosine, and applies the same (cosine DESC, neighbor_id) top-k.

    Two data-dependent simplifications, both PINNED in
    tests/test_pipeline.py::test_lsh_oracle_preconditions:

    - the salt guard is identity (no bucket anywhere near
      max_bucket_rows=4096 at oracle SFs — max measured 67 at
      sf0.1), so the salt key is omitted;
    - numpy's BLAS dot (Spark side, pandas-UDF matmul) and DuckDB's
      left-fold dot may differ ~1e-15 in the last ulps, which could
      flip a sign only if a plane dot were ~0 — measured min |dot|
      is 2.7e-6 across every SF, nine orders of magnitude of margin.
    """
    from ..operators.similarity import _plane_matrix

    planes = _plane_matrix(dim, n_planes, n_tables)

    def dot(col: str, j: int) -> str:
        # repr(float(...)): numpy >= 2.0 reprs scalars as
        # "np.float64(x)", which is not SQL; float() keeps the exact
        # shortest round-trip literal on any numpy.
        lit = "[" + ", ".join(repr(float(planes[i, j])) for i in range(dim)) + "]"
        return (
            f"list_reduce(list_transform(list_zip({col}, {lit}),"
            f" z -> z[1] * z[2]), (x, y) -> x + y)"
        )

    table_selects = []
    for t in range(n_tables):
        bucket = " + ".join(
            f"(CASE WHEN {dot('e', t * n_planes + p)} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        table_selects.append(
            f"SELECT vec_id, e, {t} AS tbl, {bucket} AS bucket FROM v"
        )
    buckets = "\n  UNION ALL ".join(table_selects)
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
b AS MATERIALIZED (
  {buckets}
),
scored AS MATERIALIZED (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(a.e, c.e), z -> z[1] * z[2]),
                     (x, y) -> x + y)
         / ( SQRT(list_reduce(list_transform(a.e, x -> x * x), (x, y) -> x + y))
           * SQRT(list_reduce(list_transform(c.e, x -> x * x), (x, y) -> x + y)) )
           AS cosine
  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
                   AND a.vec_id <> c.vec_id
),
dedup AS MATERIALIZED (
  SELECT query_id, neighbor_id, MAX(cosine) AS cosine
  FROM scored GROUP BY query_id, neighbor_id
),
ranked AS MATERIALIZED (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM dedup
)
SELECT query_id, neighbor_id, rank, ROUND(cosine, 8) AS cosine
FROM ranked WHERE rank <= {k}
"""


@register(
    "ann_lsh_bucketed",
    oracle=_ann_lsh_oracle(),
    category="pipeline",
)
def ann_lsh_bucketed(spark, t):
    """Sign-LSH bucketed ANN (the 100 TB path): only same-bucket
    pairs scored; top-5 per query within bucket; oversized buckets
    salt-split (similarity._salted_buckets) to bound the quadratic;
    4 independent hash tables (OR-amplification) — measured
    planted-near-dup recall 0.18 (1 table) -> 0.63 (4) -> 0.81 (8)
    at cosine≈0.97, pinned in tests/test_pipeline.py."""
    return sim.lsh_bucket_topk(
        t.embeddings, dim=64, n_planes=6, k=5, n_tables=4
    ).select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 8).alias("cosine")
    )


@register(
    "text_profile",
    oracle="""
SELECT doc_id,
       CAST(LEN(text) AS BIGINT) AS n_chars,
       CAST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) AS BIGINT) AS n_words,
       ROUND(CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.,;:!?''"()\\[\\]{}]')) AS DOUBLE)
             / LEN(text), 6) AS punct_ratio,
       CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT_REGEX(LOWER(text), '\\s+')),
                 ['the','a','of','and','to','in','is'])) AS BIGINT) AS stopword_hits,
       ROUND(CAST(LEN(text) - (LEN(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) - 1) AS DOUBLE)
             / LEN(STRING_SPLIT_REGEX(LOWER(text), '\\s+')), 6) AS mean_word_len,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]')) AS BIGINT)
         AS n_bpe_tokens,
       MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
    category="pipeline",
)
def text_profile(spark, t):
    """Quality scoring + token counting + fingerprint in one pass
    (operators/textstats.py). lang_guess exercised separately
    (text_langid) to keep this oracle portable."""
    return ts.text_profile(t.documents, "text", "doc_id").drop("lang_guess")


@register(
    "text_langid",
    oracle="""
WITH words AS (
  SELECT doc_id, lang, STRING_SPLIT_REGEX(LOWER(text), '\\s+') AS w FROM documents
), scores AS (
  SELECT doc_id, lang,
    LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['der','die','das','und','ist','nicht','ein'], x))) AS de,
    LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','of','and','to','in','is'], x))) AS en,
    LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['el','la','los','y','es','un','una'], x))) AS es,
    LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['le','la','les','et','est','un','une'], x))) AS fr,
    LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['的','是','了','在','和','有','不'], x))) AS zh
  FROM words
)
SELECT doc_id, lang AS lang_label,
       CASE WHEN GREATEST(de, en, es, fr, zh) = 0 THEN 'und'
            WHEN zh >= GREATEST(de, en, es, fr) THEN 'zh'
            WHEN fr >= GREATEST(de, en, es) THEN 'fr'
            WHEN es >= GREATEST(de, en) THEN 'es'
            WHEN en >= de THEN 'en'
            ELSE 'de' END AS lang_guess
FROM scores
""",
    category="pipeline",
)
def text_langid(spark, t):
    """Stopword-marker language ID (operators/textstats.py lang_id):
    argmax score, ties broken toward the later language code —
    mirrored in the oracle's CASE cascade."""
    return t.documents.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        ts.lang_id(F.col("text")).alias("lang_guess"),
    )


@register(
    "multimodal_meta",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'text/plain' AS mime,
       CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       SHA256(text) AS sha
FROM documents
""",
    category="pipeline",
)
def multimodal_meta(spark, t):
    """Binary-payload plumbing (operators/multimodal.py): attach a
    binary column + typed metadata struct; project the metadata.
    The payload itself round-trips through the mapInPandas feature
    path in multimodal_features (rows-only)."""
    media = mm.attach_binary_payload(t.documents, "text", "doc_id", mime="text/plain")
    return media.select(
        "media_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha").alias("sha"),
    )


@register(
    "multimodal_features",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       ROUND(CAST(CAST(
           CAST(concat('0x', substr(sha256(text), 1, 2)) AS INTEGER) / 255.0
           AS REAL) AS DOUBLE), 6) AS f0,
       CAST(8 AS INTEGER) AS feat_dim
FROM documents
""",
    category="pipeline",
)
def multimodal_features(spark, t):
    """Arrow-batched mapInPandas feature extraction over binary
    payloads (stub decode kernel — see operators/multimodal.py). The
    stub feature is sha256(payload) bytes / 255, so the oracle
    restates it exactly: DuckDB sha256 over the same utf-8 payload,
    first byte via hex-literal cast, float32-quantized like the
    engine's array<float> column."""
    media = mm.attach_binary_payload(t.documents, "text", "doc_id")
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.size("feature").alias("feat_dim"),
    )


@register(
    "events_sessionize",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR DATE_DIFF('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM e
)
SELECT user_id, event_id,
       CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
FROM flagged
""",
    category="pipeline",
)
def events_sessionize(spark, t):
    """Sessionization (30-min gap): lag + cumulative-sum session ids —
    the batch equivalent of streaming session windows (SURVEY.md
    §2.10 maps Hive's ingest-only streaming to Structured Streaming;
    the batch form is fully oracle-checkable)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    e = t.events.select(
        "user_id", "event_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
        1,
    ).otherwise(0)
    return e.select(
        "user_id",
        "event_id",
        F.sum(new_sess).over(wrun).alias("session_id"),
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE vec_id < 500
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_reduce(list_transform(list_zip(a.e, b.e), z -> z[1] * z[2]),
                         (x, y) -> x + y)
       / ( SQRT(list_reduce(list_transform(a.e, x -> x * x), (x, y) -> x + y))
         * SQRT(list_reduce(list_transform(b.e, x -> x * x), (x, y) -> x + y)) ),
         6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_reduce(list_transform(list_zip(a.e, b.e), z -> z[1] * z[2]),
                  (x, y) -> x + y)
      / ( SQRT(list_reduce(list_transform(a.e, x -> x * x), (x, y) -> x + y))
        * SQRT(list_reduce(list_transform(b.e, x -> x * x), (x, y) -> x + y)) )
      >= 0.35
""",
    category="pipeline",
)
def dedup_embedding_cosine(spark, t):
    """Embedding-cosine near-duplicate pairs (cosine >= 0.35,
    id_a < id_b). Exact all-pairs self-join, CAPPED at vec_id < 500:
    this is a correctness fixture only — quadratic by construction,
    it validates the LSH-bucketed scale path. ``ann_lsh_bucketed``
    (operators/similarity.py) is the production path at 100 TB.
    Sequential left-fold math keeps it bit-identical to DuckDB."""
    from ..operators import similarity as s

    v = t.embeddings.filter(F.col("vec_id") < 500).select("vec_id", "embedding")
    a = v.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = s.cosine_col(F.col("ea"), F.col("eb"))
    return pairs.select(
        "id_a", "id_b", F.round(cos, 6).alias("cosine")
    ).filter(cos >= 0.35)


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
  WHERE doc_id < 200
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2
              THEN list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])
              ELSE [] END AS s
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
""",
    category="pipeline",
)
def dedup_ngram_jaccard(spark, t):
    """Exact bigram-shingle Jaccard over all pairs (doc_id < 200
    slice): the no-LSH baseline for near-dedup — quadratic by
    construction, used to validate the MinHash path's recall."""
    from ..operators import dedup as d

    docs = t.documents.filter(F.col("doc_id") < 200)
    sh = docs.select(
        F.col("doc_id"), d.shingles_col(F.col("text"), 2).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    jac = d.jaccard_col(F.col("sa"), F.col("sb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(jac >= 0.2)
    )


@register(
    "text_token_counts",
    oracle=r"""
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
         AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]'))
         AS n_bpe_tokens
FROM documents
""",
    category="pipeline",
)
def text_token_counts(spark, t):
    """Token counting two ways: whitespace tokens and BPE-ish regex
    tokens (word chunks + individual punctuation marks)."""
    from ..operators import textstats as x

    return t.documents.select(
        "doc_id",
        x.token_count(F.col("text")).alias("n_ws_tokens"),
        x.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


@register(
    "text_rolling_fingerprint",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
FROM documents
WHERE length(text) > 0
""",
    category="pipeline",
)
def text_rolling_fingerprint(spark, t):
    """Rabin–Karp rolling-hash document fingerprint: h = (h*31 +
    code) mod 1e9+7 over the char stream — portable across engines
    because the modulo is applied per step (no int64 overflow)."""
    from ..operators import textstats as x

    return t.documents.filter(F.length("text") > 0).select(
        "doc_id", x.rolling_hash(F.col("text")).alias("fp")
    )


_MINHASH_PAIR_CTE = """
toks AS MATERIALIZED (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])
              ELSE [] END AS s
  FROM toks
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
), reach AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
)
"""


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIR_CTE}
SELECT node AS doc_id, MIN(label) AS component_id
FROM reach GROUP BY node
""",
    category="pipeline",
)
def dedup_components(spark, t):
    """Transitive closure of the near-dup pair set (the dedup
    pipeline's resolution stage): MinHash-LSH pairs → iterative
    hash-min connected components (operators/components.py). The
    oracle recomputes the same clusters via brute-force pairs + a
    recursive CTE — different algorithm, identical fixpoint."""
    from ..operators import components as cc

    pairs = dd.near_duplicate_pairs(t.documents, "doc_id", "text", threshold=0.6)
    comps = cc.connected_components(pairs, "id_a", "id_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    )


@register(
    "dedup_components_star",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIR_CTE}
SELECT node AS doc_id, MIN(label) AS component_id
FROM reach GROUP BY node
""",
    category="pipeline",
)
def dedup_components_star(spark, t):
    """Same clusters as ``dedup_components`` via the alternating
    large-star/small-star algorithm (Kiveris SoCC'14,
    operators/components.connected_components_star) — O(log n)
    rounds on ANY graph shape, where hash-min needs O(diameter);
    the variant to run when candidate graphs may contain long chains
    (boilerplate-heavy crawls). Oracle identical to hash-min's: both
    must reach the same fixpoint."""
    from ..operators import components as cc

    pairs = dd.near_duplicate_pairs(t.documents, "doc_id", "text", threshold=0.6)
    comps = cc.connected_components_star(pairs, "id_a", "id_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    )


@register(
    "dedup_keep_list",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIR_CTE}
SELECT node AS doc_id, MIN(label) AS canonical_id,
       node = MIN(label) AS is_kept
FROM reach GROUP BY node
""",
    category="pipeline",
)
def dedup_keep_list(spark, t):
    """Dedup resolution: one kept (canonical = min-id) doc per
    near-dup cluster, drop decisions for the rest — what a corpus
    pipeline feeds into the filter stage. Projection over the
    component labels; no shuffle beyond the components themselves."""
    from ..operators import components as cc

    pairs = dd.near_duplicate_pairs(t.documents, "doc_id", "text", threshold=0.6)
    comps = cc.connected_components(pairs, "id_a", "id_b")
    return cc.keep_list(comps).select(
        F.col("node").alias("doc_id"), "canonical_id", "is_kept"
    )


@register(
    "ann_ivf_topk",
    oracle="""
SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_pairs_exact,
       TRUE AS recall_ge_half
FROM embeddings WHERE vec_id < 200
""",
    category="pipeline",
)
def ann_ivf_topk(spark, t):
    """IVF-cell ANN (FAISS IndexIVFFlat shape, DataFrame-native):
    spherical-kmeans coarse quantizer trained on a deterministic
    bounded sample, Arrow-batched numpy assignment, cell-keyed join,
    n_probe=3 of 8 cells. The second scale path next to sign-LSH
    (ann_lsh_bucketed). The output is the derived correctness fact:
    recall@5 against the exact brute-force baseline over a bounded
    200-query probe is ≥ 0.5 (measured 0.64-0.66 on the RANDOM
    testdata vectors — IVF's worst case, no cluster structure; real
    embedding corpora cluster and recall rises accordingly)."""
    ann = sim.ivf_topk(t.embeddings, n_cells=8, n_probe=3, k=5).filter(
        F.col("query_id") < 200
    )
    exact = sim.cosine_topk(
        t.embeddings.filter(F.col("vec_id") < 200), t.embeddings, k=5
    )
    hits = ann.join(exact.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = exact.agg(F.count(F.lit(1)).alias("n_pairs_exact"))
    return total.crossJoin(hits).select(
        "n_pairs_exact",
        (F.col("n_hits") / F.col("n_pairs_exact") >= 0.5).alias(
            "recall_ge_half"
        ),
    )


@register(
    "multimodal_resize",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
blk AS (
  SELECT doc_id, X, Y,
         SUM((doc_id * 7  + 13 * ((2*Y+dy) * 8 + 2*X+dx)) % 256) // 4 AS r,
         SUM((doc_id * 11 + 17 * ((2*Y+dy) * 8 + 2*X+dx)) % 256) // 4 AS g,
         SUM((doc_id * 13 + 19 * ((2*Y+dy) * 8 + 2*X+dx)) % 256) // 4 AS b
  FROM ids,
       generate_series(0, 3) AS tx(X),
       generate_series(0, 1) AS ty(Y),
       generate_series(0, 1) AS tdx(dx),
       generate_series(0, 1) AS tdy(dy)
  GROUP BY doc_id, X, Y
)
SELECT doc_id AS media_id,
       CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
       CAST(SUM(r) AS BIGINT) AS r_sum,
       CAST(SUM(g) AS BIGINT) AS g_sum,
       CAST(SUM(b) AS BIGINT) AS b_sum,
       CAST(SUM((1 + Y*4 + X) * (r + 2*g + 3*b)) AS BIGINT) AS wsum
FROM blk GROUP BY doc_id
""",
    category="pipeline",
)
def multimodal_resize(spark, t):
    """REAL image resize (upgraded from the r2 stub): synthesize 8x4
    PPMs, 2x2 box-filter downsample to 4x2 (all-integer floor-mean —
    operators/multimodal.resize_area), then a position-weighted
    checksum of the RESIZED raster. The oracle reconstructs every
    output pixel from the synthesis formula with the same floor
    division — resampling, indexing, and re-encode are all pinned
    (a flipped or transposed raster changes wsum)."""
    media = mm.synthesize_ppm_media(
        t.documents.filter(F.col("doc_id") < 100), "doc_id"
    )
    return mm.extract_image_checksum(mm.resize_images_area(media, factor=2))


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id AS media_id, COUNT(*) AS n_frames,
       CAST(SUM(fi) AS BIGINT) AS frame_idx_sum
FROM documents, (SELECT UNNEST([0,1,2,3]) AS fi)
WHERE doc_id < 100 AND length(text) >= 4
GROUP BY doc_id
""",
    category="pipeline",
)
def multimodal_frame_sample(spark, t):
    """Video frame-sampling plumbing: UDTF-shaped 1→N mapInPandas
    fan-out (stub frame cut). Oracle pins the fan-out contract —
    exactly 4 frames with indices 0..3 per payload of length ≥ 4."""
    docs = t.documents.filter((F.col("doc_id") < 100) & (F.length("text") >= 4))
    media = mm.attach_binary_payload(docs, "text", "doc_id")
    frames = mm.sample_frames(media, n_frames=4)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_idx").alias("frame_idx_sum"),
    )


@register(
    "corpus_clean",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIR_CTE},
dropped AS (
  SELECT node FROM reach GROUP BY node HAVING node <> MIN(label)
),
quality AS (
  SELECT doc_id, lang, text,
         LEN(text) AS n_chars,
         LEN(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) AS n_words
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM quality
WHERE doc_id NOT IN (SELECT node FROM dropped)
  AND n_words >= 5 AND n_chars >= 20
GROUP BY lang
""",
    category="pipeline",
)
def corpus_clean(spark, t):
    """Flagship end-to-end training-corpus cleaning pipeline in ONE
    plan: MinHash near-dup pairs → connected components → drop
    non-canonical docs (anti join) → length quality gate → per-lang
    corpus statistics. The composition a 100 TB pre-training pipeline
    runs nightly; every stage is the scale path (banded LSH, hash-min
    components, codegen'd filters) and the whole thing is one
    hash-checkable result."""
    from ..operators import components as cc

    pairs = dd.near_duplicate_pairs(t.documents, "doc_id", "text", threshold=0.6)
    comps = cc.connected_components(pairs, "id_a", "id_b")
    dropped = cc.keep_list(comps).filter(~F.col("is_kept")).select(
        F.col("node").alias("doc_id")
    )
    words = F.split(F.lower(F.col("text")), r"\s+")
    # no broadcast hint on the drop list: at 100 TB the duplicate
    # fraction of a crawl is a large share of the corpus — AQE picks
    # broadcast only when the list actually fits.
    kept = (
        t.documents.join(dropped, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            F.length("text").alias("n_chars"),
            F.size(words).alias("n_words"),
        )
        .filter((F.col("n_words") >= 5) & (F.col("n_chars") >= 20))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "dedup_cluster_keep_best",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIR_CTE},
comp AS (SELECT node AS doc_id, MIN(label) AS cid FROM reach GROUP BY node),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS cid, d.n_chars
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
best AS (
  SELECT cid, doc_id AS keeper FROM (
    SELECT cid, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cid
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM alldocs) t WHERE rn = 1
)
SELECT a.doc_id, b.keeper AS canonical_id, a.doc_id = b.keeper AS is_kept
FROM alldocs a JOIN best b USING (cid)
""",
    category="pipeline",
)
def dedup_cluster_keep_best(spark, t):
    """Quality-aware canonical selection: near-dup clusters keep the
    LONGEST document (tie → lowest id), not the lowest id — the
    production dedup policy (keep the richest copy of boilerplate
    variants) vs ``dedup_keep_list``'s min-id baseline. Pipeline:
    MinHash-LSH pairs → connected components → per-cluster top-1
    window (WindowGroupLimit pushes the rank below the shuffle);
    singleton docs are their own canonical. One extra shuffle over
    keep-list, keyed on cluster id. Oracle: brute-force pairs +
    recursive-CTE closure + the same argmax."""
    from pyspark.sql import Window as W

    from ..operators import components as cc

    docs = t.documents
    pairs = dd.near_duplicate_pairs(docs, "doc_id", "text", threshold=0.6)
    comps = cc.connected_components(pairs, "id_a", "id_b")
    full = (
        docs.select("doc_id", "n_chars")
        .join(comps.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component", "doc_id").alias("cid"),
        )
    )
    w = W.partitionBy("cid").orderBy(F.desc("n_chars"), "doc_id")
    best = (
        full.select("cid", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("cid", F.col("doc_id").alias("canonical_id"))
    )
    return full.join(best, "cid").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_kept"),
    )
