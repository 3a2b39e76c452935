"""Corpus-preparation queries: decontamination, sequence packing,
repetition quality, vocabulary heavy hitters (operators/corpus.py).

Training-pipeline extensions beyond the reference surface (SURVEY
§2.14): each query is the scale-shaped Spark plan; the DuckDB oracle
recomputes the same result with list comprehensions / window SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import corpus as cp
from ..operators import dedup as dd
from .registry import register

# DuckDB k-gram list comprehension fragments (match
# operators/dedup.words_col = split(lower(text), ' ')).
_TOKS = "SELECT doc_id, source, string_split(lower(text), ' ') AS w FROM documents"
_G5 = (
    "CASE WHEN len(w) >= 5 THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' "
    "|| w[i+3] || ' ' || w[i+4] for i in range(1, len(w) - 3)] ELSE [] END"
)
_G2 = (
    "CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] "
    "for i in range(1, len(w))] ELSE [] END"
)


@register(
    "decontaminate_eval_overlap",
    oracle=f"""
WITH toks AS ({_TOKS}),
grams AS (
  SELECT doc_id, source, list_distinct({_G5}) AS g FROM toks
),
ev AS (
  SELECT DISTINCT gram
  FROM (SELECT unnest(g) AS gram FROM grams WHERE source = 'src0')
),
evl AS (SELECT list(gram) AS egrams FROM ev)
SELECT doc_id,
       CAST(len(g) AS BIGINT) AS n_grams,
       CAST(len(list_intersect(g, egrams)) AS BIGINT) AS n_matched,
       ROUND(CAST(len(list_intersect(g, egrams)) AS DOUBLE) / len(g), 6)
         AS contamination,
       CAST(len(list_intersect(g, egrams)) AS DOUBLE) / len(g) >= 0.5
         AS is_contaminated
FROM grams, evl
WHERE source <> 'src0' AND len(g) > 0
""",
    category="pipeline",
)
def decontaminate_eval_overlap(spark, t):
    """Test-set decontamination: treat source='src0' docs as the
    held-out benchmark; flag training docs whose distinct 5-gram
    overlap with the benchmark gram set is ≥ 50%. Spark side joins
    8-byte gram hashes against a broadcast eval-set hash table
    (operators/corpus.decontaminate); the oracle intersects the gram
    strings directly."""
    d = t.documents
    return cp.decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        k=5,
        threshold=0.5,
    ).select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "contamination",
        "is_contaminated",
    )


@register(
    "pack_sequences_ctx512",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM toks
)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS bin_id,
       (start_offset // 512) <>
         ((start_offset + greatest(n_tokens, 1) - 1) // 512)
         AS crosses_boundary
FROM cum
""",
    category="pipeline",
)
def pack_sequences_ctx512(spark, t):
    """Concat-and-chunk sequence packing into 512-token bins. The
    global token-stream offset comes from a two-phase distributed
    prefix sum (operators/corpus.distributed_prefix_sum) — no
    single-partition window; the oracle uses plain window SQL."""
    return cp.pack_sequences(t.documents, ctx_len=512)


@register(
    "pack_bin_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM toks
),
packed AS (
  SELECT doc_id, n_tokens, start_offset // 512 AS bin_id,
         (start_offset // 512) <>
           ((start_offset + greatest(n_tokens, 1) - 1) // 512)
           AS crosses
  FROM cum
)
SELECT CAST(bin_id AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN NOT crosses THEN n_tokens ELSE 0 END) AS BIGINT)
         AS contained_tokens
FROM packed GROUP BY 1
""",
    category="pipeline",
)
def pack_bin_stats(spark, t):
    """Per-bin fill statistics over the ctx-512 packing assignment
    (keyed partial aggregate over the packed table)."""
    return cp.packing_stats(cp.pack_sequences(t.documents, ctx_len=512))


@register(
    "text_repetition_stats",
    oracle=f"""
WITH toks AS ({_TOKS}),
ex AS (SELECT doc_id, unnest(w) AS word FROM toks),
pw AS (SELECT doc_id, word, COUNT(*) AS c FROM ex GROUP BY 1, 2),
sh AS (
  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct, MAX(c) AS topc
  FROM pw GROUP BY 1
),
g2 AS (SELECT doc_id, {_G2} AS g FROM toks)
SELECT s.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_word_ratio,
       ROUND(CAST(topc AS DOUBLE) / n_words, 6) AS top_word_share,
       CASE WHEN len(g) > 0
            THEN ROUND(1 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
            ELSE 0.0 END AS dup_2gram_ratio
FROM sh s JOIN g2 USING (doc_id)
""",
    category="pipeline",
)
def text_repetition_stats(spark, t):
    """Gopher-style repetition signals per document: distinct-word
    ratio, top-word share (two map-side-combining keyed aggs), and
    duplicate-2-gram fraction (computed inline with array
    expressions — never leaves the row)."""
    return cp.repetition_stats(t.documents)


@register(
    "vocab_top_ngrams",
    oracle=f"""
WITH toks AS ({_TOKS}),
g2 AS (SELECT doc_id, {_G2} AS g FROM toks),
ex AS (SELECT unnest(g) AS gram FROM g2)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS occurrences
FROM ex GROUP BY 1
ORDER BY occurrences DESC, gram
LIMIT 20
""",
    category="pipeline",
)
def vocab_top_ngrams(spark, t):
    """Global top-20 word 2-grams (exact-count heavy hitters —
    Hive ngrams() UDAF analogue, GenericUDAFnGrams.java). Partial
    agg collapses the gram space map-side; TakeOrdered returns the
    head without a global sort."""
    return cp.top_ngrams(t.documents, k=2, top=20)


@register(
    "retrieval_bm25",
    oracle="""
WITH corpus AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id >= 5
),
q AS (
  SELECT doc_id AS query_id, list_distinct(string_split(lower(text), ' ')) AS qw
  FROM documents WHERE doc_id < 5
),
ex AS (SELECT doc_id, unnest(w) AS term FROM corpus),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM ex GROUP BY 1),
stats AS (
  SELECT (SELECT COUNT(*) FROM corpus) AS n_docs,
         (SELECT AVG(dl) FROM dl) AS avgdl
),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
qt AS (SELECT query_id, unnest(qw) AS term FROM q)
SELECT qt.query_id, tf.doc_id,
       ROUND(SUM(
         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
       ), 4) AS score
FROM qt
JOIN tf USING (term)
JOIN dft USING (term)
JOIN dl ON tf.doc_id = dl.doc_id, stats
GROUP BY 1, 2
""",
    category="pipeline",
)
def retrieval_bm25(spark, t):
    """BM25 lexical retrieval (operators/retrieval.py): docs with
    doc_id < 5 act as queries against the rest of the corpus. The
    corpus shuffles once, split on doc_id, and tf, doc lengths and
    the corpus scalars all read that split; query terms, their
    document frequencies and the scalars broadcast, and only the
    (query, doc) partial sums exchange for scoring."""
    from ..operators import retrieval as rt

    d = t.documents
    return rt.bm25_scores(
        d.filter(F.col("doc_id") >= 5),
        d.filter(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("query_id"), "text"
        ),
    )


@register(
    "multimodal_decode_stats",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
px AS (
  SELECT doc_id, i,
         (doc_id * 7  + i * 13) % 256 AS r,
         (doc_id * 11 + i * 17) % 256 AS g,
         (doc_id * 13 + i * 19) % 256 AS b
  FROM ids, generate_series(0, 31) AS t(i)
)
SELECT doc_id AS media_id,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(SUM(r) AS DOUBLE) / 32 AS mean_r,
       CAST(SUM(g) AS DOUBLE) / 32 AS mean_g,
       CAST(SUM(b) AS DOUBLE) / 32 AS mean_b
FROM px GROUP BY 1
""",
    category="pipeline",
)
def multimodal_decode_stats(spark, t):
    """REAL image decode end-to-end: synthesize binary PPM (P6)
    payloads per doc (deterministic pixel formula), decode them with
    the numpy kernel (header parse + frombuffer — no codec stub), and
    emit per-image channel means. The oracle recomputes the means
    from the pixel formula alone — it never sees the bytes, so a
    decode bug cannot cancel out."""
    from ..operators import multimodal as mm

    media = mm.synthesize_ppm_media(
        t.documents.filter(F.col("doc_id") < 100), "doc_id"
    )
    return mm.extract_image_stats(media)


@register(
    "multimodal_png_stats",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
px AS (
  SELECT doc_id, i,
         (doc_id * 7  + i * 13) % 256 AS r,
         (doc_id * 11 + i * 17) % 256 AS g,
         (doc_id * 13 + i * 19) % 256 AS b
  FROM ids, generate_series(0, 31) AS t(i)
)
SELECT doc_id AS media_id,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(SUM(r) AS DOUBLE) / 32 AS mean_r,
       CAST(SUM(g) AS DOUBLE) / 32 AS mean_g,
       CAST(SUM(b) AS DOUBLE) / 32 AS mean_b
FROM px GROUP BY 1
""",
    category="pipeline",
)
def multimodal_png_stats(spark, t):
    """REAL PNG decode end-to-end with NO codec library: synthesize
    8-bit RGB PNGs (deflate IDAT via stdlib zlib, scanline filters
    cycling through all five spec types), decode them from scratch
    (chunk walk → inflate → unfilter), emit channel means. The oracle
    recomputes means from the pixel formula alone — identical to the
    PPM oracle, so a filter/inflate bug cannot cancel out. Public
    spec: www.w3.org/TR/png-3; reference serde surface:
    ql/io/parquet + contrib serde readers (format-decode parity)."""
    from ..operators import multimodal as mm

    media = mm.synthesize_png_media(
        t.documents.filter(F.col("doc_id") < 100), "doc_id"
    )
    return mm.extract_image_stats(media)


@register(
    "multimodal_audio_stats",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
smp AS (
  SELECT doc_id, i,
         ((doc_id * 31 + i * 7) % 65536) - 32768 AS s
  FROM ids, generate_series(0, 63) AS t(i)
)
SELECT doc_id AS media_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(64 AS BIGINT) AS n_samples,
       CAST(SUM(s * s) AS DOUBLE) / 64 AS mean_square,
       CAST(MAX(ABS(s)) AS INT) AS peak
FROM smp GROUP BY 1
""",
    category="pipeline",
)
def multimodal_audio_stats(spark, t):
    """REAL audio decode end-to-end: synthesize RIFF/PCM16 WAV clips
    per doc (deterministic sample formula), walk the RIFF chunks and
    decode with numpy, emit rate / length / energy / peak. The
    oracle recomputes from the sample formula — bytes-blind, so a
    chunk-walk or endianness bug cannot cancel out."""
    from ..operators import multimodal as mm

    media = mm.synthesize_wav_media(
        t.documents.filter(F.col("doc_id") < 100), "doc_id"
    )
    return mm.extract_audio_stats(media)


@register(
    "multimodal_jpeg_stats",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
blk AS (
  SELECT doc_id, j, (doc_id * 7 + j * 13) % 256 AS g
  FROM ids, generate_series(0, 3) AS t(j)
)
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(SUM(g) AS DOUBLE) / 4 AS mean_r,
       CAST(SUM(g) AS DOUBLE) / 4 AS mean_g,
       CAST(SUM(g) AS DOUBLE) / 4 AS mean_b
FROM blk GROUP BY 1
""",
    category="pipeline",
)
def multimodal_jpeg_stats(spark, t):
    """REAL baseline-JPEG decode end-to-end with NO codec library:
    synthesize entropy-coded JPEGs per doc (operators/jpeg_py.py —
    FDCT, quantize, zigzag run-length, canonical Huffman, byte
    stuffing), decode them from scratch (marker walk, file-declared
    Huffman tables, IDCT), emit channel means. Block-constant fixture
    + unit quant tables make the lossy codec exact here (DC-only
    blocks), so the bytes-blind oracle predicts the decoded means
    from the block-gray formula alone — a Huffman/zigzag/DCT bug
    cannot cancel out. General-image loss bounds are property-tested
    in tests/test_multimodal.py."""
    from ..operators import multimodal as mm

    media = mm.synthesize_jpeg_media(
        t.documents.filter(F.col("doc_id") < 100), "doc_id"
    )
    return mm.extract_image_stats(media)


@register(
    "multimodal_video_frames",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
fr AS (SELECT UNNEST([0, 2, 4, 6]) AS f),
blk AS (
  SELECT doc_id, f, j, (doc_id * 7 + f * 29 + j * 13) % 256 AS g
  FROM ids, fr, generate_series(0, 3) AS t(j)
)
SELECT doc_id AS media_id,
       CAST(f AS INT) AS frame_idx,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(SUM(g) AS DOUBLE) / 4 AS mean_r,
       CAST(SUM(g) AS DOUBLE) / 4 AS mean_g,
       CAST(SUM(g) AS DOUBLE) / 4 AS mean_b
FROM blk GROUP BY 1, 2
""",
    category="pipeline",
)
def multimodal_video_frames(spark, t):
    """REAL video frame sampling end-to-end: synthesize MJPEG-in-AVI
    payloads (RIFF container, one baseline JPEG per '00dc' chunk),
    walk the RIFF tree, pick 4 of 8 evenly spaced frames, decode each
    with the from-scratch JPEG decoder, emit per-frame channel means.
    The oracle recomputes every sampled frame's means from the
    (id, frame, block) gray formula — bytes-blind through TWO
    container layers (AVI chunk walk AND JPEG entropy decode).
    Upgrades the former byte-slice frame-sampling stub to genuine
    video decode; the 1->N UDTF fan-out contract is unchanged."""
    from ..operators import multimodal as mm

    media = mm.synthesize_avi_media(
        t.documents.filter(F.col("doc_id") < 50), "doc_id"
    )
    return mm.sample_video_frames_decoded(media, n_frames=4)


@register(
    "corpus_clean_v2",
    oracle=f"""
WITH RECURSIVE toks0 AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])
              ELSE [] END AS s
  FROM toks0
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
), dup_dropped AS (
  SELECT node FROM reach GROUP BY node HAVING node <> MIN(label)
), toks AS (
  SELECT doc_id, source, lang, text, string_split(lower(text), ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source, list_distinct({_G5}) AS g FROM toks
), ev AS (
  SELECT DISTINCT gram
  FROM (SELECT unnest(g) AS gram FROM grams WHERE source = 'src0')
), evl AS (SELECT list(gram) AS egrams FROM ev),
contaminated AS (
  SELECT doc_id FROM grams, evl
  WHERE source <> 'src0' AND len(g) > 0
    AND CAST(len(list_intersect(g, egrams)) AS DOUBLE) / len(g) >= 0.5
), rep AS (
  SELECT doc_id, {_G2} AS g2 FROM toks
), kept AS (
  SELECT t.doc_id, t.lang,
         LEN(t.text) AS n_chars,
         LEN(STRING_SPLIT_REGEX(LOWER(t.text), '\\s+')) AS n_words
  FROM toks t JOIN rep r USING (doc_id)
  WHERE t.source <> 'src0'
    AND t.doc_id NOT IN (SELECT node FROM dup_dropped)
    AND t.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND (len(r.g2) = 0 OR
         1 - CAST(len(list_distinct(r.g2)) AS DOUBLE) / len(r.g2) <= 0.12)
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept
WHERE n_words >= 5 AND n_chars >= 20
GROUP BY lang
""",
    category="pipeline",
)
def corpus_clean_v2(spark, t):
    """Flagship v2: the full pre-training corpus pipeline in ONE
    plan — MinHash-LSH near-dup resolution (keep-list anti join) +
    test-set decontamination (≥50% 5-gram overlap with the src0
    benchmark dropped) + repetition gate (dup-2-gram ratio ≤ 0.12,
    computed inline — never leaves the row) + length quality gates →
    per-language corpus stats. Every stage is the scale path; the
    oracle rebuilds the whole chain from brute force."""
    from ..operators import components as cc
    from ..operators import corpus as cp
    from ..operators import dedup as dd

    docs = t.documents
    pairs = dd.near_duplicate_pairs(docs, "doc_id", "text", threshold=0.6)
    comps = cc.connected_components(pairs, "id_a", "id_b")
    dup_dropped = cc.keep_list(comps).filter(~F.col("is_kept")).select(
        F.col("node").alias("doc_id")
    )
    corpus = docs.filter(F.col("source") != "src0")
    eval_df = docs.filter(F.col("source") == "src0")
    contaminated = (
        cp.decontaminate(corpus, eval_df, k=5, threshold=0.5)
        .filter(F.col("is_contaminated"))
        .select("doc_id")
    )
    words = F.split(F.lower(F.col("text")), r"\s+")
    kept = (
        corpus.join(dup_dropped, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        # Bound-once gate (corpus.dup_kgram_ratio_gate): the pushed
        # scan filter otherwise re-derives the interpreted 2-gram
        # transform per alias reference (3 copies per row here).
        .filter(cp.dup_kgram_ratio_gate(F.col("text"), 2, 0.12))
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
    "split_train_holdout",
    oracle="""
WITH b AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('split-v1' || text), 1, 8) AS BIGINT) % 100
           AS bucket
  FROM documents
)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CASE WHEN bucket >= 95 THEN 'holdout' ELSE 'train' END AS split
FROM b
""",
    category="pipeline",
)
def split_train_holdout(spark, t):
    """Deterministic 95/5 train-holdout split keyed on content md5
    (operators/corpus.train_holdout_split): duplicates cannot
    straddle the split, any engine re-derives it byte-for-byte, and
    the plan is map-only (no RNG, no shuffle)."""
    from ..operators import corpus as cp

    return cp.train_holdout_split(t.documents)


@register(
    "corpus_line_dedup",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
ex AS (
  SELECT doc_id, w,
         unnest([i for i in range(0, CAST(ceil(len(w) / 10.0) AS INT))])
           AS chunk_idx
  FROM toks
),
ch AS (
  SELECT doc_id, chunk_idx,
         array_to_string(
           list_slice(w, chunk_idx * 10 + 1, chunk_idx * 10 + 10), ' ')
           AS chunk
  FROM ex
),
kept AS (
  SELECT doc_id, chunk_idx, chunk,
         row_number() OVER (
           PARTITION BY chunk ORDER BY doc_id, chunk_idx
         ) AS rn
  FROM ch
)
SELECT doc_id,
       string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_clean,
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept WHERE rn = 1 GROUP BY doc_id
""",
    category="pipeline",
)
def corpus_line_dedup(spark, t):
    """C4-style corpus-global line dedup (10-word chunks standing in
    for lines — the testdata has no newlines): a chunk repeated
    anywhere in the corpus survives only at its first (doc_id,
    chunk_idx) occurrence; docs rebuild in chunk order. One exchange
    on the chunk hash + one on doc_id — the scalable recipe shape.
    The duplicate documents planted in the testdata make the filter
    fire corpus-wide."""
    from ..operators.corpus import line_dedup

    return line_dedup(t.documents, "doc_id", "text", chunk_words=10)


@register(
    "text_redact_pii",
    oracle="""
WITH fixture AS (
  SELECT doc_id,
         text || ' reach me at user' || CAST(doc_id % 50 AS VARCHAR)
              || '@mail.example.com or 555-' ||
              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS text
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
           '<EMAIL>', 'g'),
         '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS text_redacted,
       CAST(len(regexp_extract_all(
         text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{4}\\b')) AS INT)
         AS n_phones
FROM fixture
""",
    category="pipeline",
)
def text_redact_pii(spark, t):
    """PII redaction over a deterministically injected fixture (the
    corpus ships no emails/phones, so both engines append the same
    synthetic contact tail): email/phone regexes -> typed
    placeholders + per-doc match counts. JVM regexp codegen on the
    Spark side; identical RE2-compatible patterns in the oracle."""
    from ..operators.corpus import redact_pii

    docs = t.documents.filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach me at user"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_pii(docs, "doc_id", "text")


@register(
    "multimodal_audio_spectrogram",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
smp AS (
  SELECT doc_id, i,
         ((doc_id * 31 + i * 7) % 65536) - 32768 AS s
  FROM ids, generate_series(0, 63) AS t(i)
)
SELECT doc_id AS media_id,
       CAST(4 AS INT) AS n_frames,
       CAST(SUM(s) AS DOUBLE) AS dc_total,
       CAST(SUM(CASE WHEN i % 2 = 0 THEN s ELSE -s END) AS DOUBLE)
         AS nyquist_total,
       TRUE AS parseval_ok
FROM smp GROUP BY 1
""",
    category="pipeline",
)
def multimodal_audio_spectrogram(spark, t):
    """Spectrogram front-end over REAL WAV decode: frame the PCM into
    16-sample frames, rfft each (vectorized 2-D FFT per Arrow batch),
    and emit FFT-bin features the oracle derives WITHOUT an FFT:
    bin-0 (= plain sample sum), the Nyquist bin (= sign-alternating
    sum — catches framing/order bugs), and a Parseval energy check.
    DC/Nyquist bins of integer samples are exact in float64 at these
    magnitudes, so the hashes match bit-for-bit."""
    from ..operators import multimodal as mm

    media = mm.synthesize_wav_media(
        t.documents.filter(F.col("doc_id") < 100), "doc_id"
    )
    return mm.extract_audio_spectrogram(media, frame_len=16)


@register(
    "text_hash_features",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM toks WHERE tok <> '' GROUP BY 1, 2
""",
    category="pipeline",
)
def text_hash_features(spark, t):
    """Hashing-trick featurization (HashingTF shape, md5 buckets so
    the oracle reproduces the exact hash): sparse (doc, bucket,
    count) term vectors in one explode + one shuffle — the standard
    fixed-width, vocabulary-free first featurization of a corpus."""
    from ..operators.features import hash_token_features

    return hash_token_features(
        t.documents.filter(F.col("doc_id") < 300), "doc_id", "text", dim=64
    )


@register(
    "dedup_hash_cosine",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE doc_id < 300
),
sp AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 256 AS bucket,
         COUNT(*) AS cnt
  FROM toks WHERE tok <> '' GROUP BY 1, 2
),
norms AS (
  SELECT doc_id, sqrt(SUM(cnt * cnt)) AS norm FROM sp GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.cnt * b.cnt) AS dot
  FROM sp a JOIN sp b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, dot / (na.norm * nb.norm) AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE dot / (na.norm * nb.norm) >= 0.95
""",
    category="pipeline",
)
def dedup_hash_cosine(spark, t):
    """Near-duplicate detection via hashed bag-of-words cosine over
    the INVERTED-INDEX join (pairs meet only on shared buckets —
    never an all-pairs product; the df-cut dial in
    operators/features.sparse_cosine_pairs caps hot posting lists at
    scale). Every arithmetic step (integer dots, IEEE sqrt/divide)
    is reproduced exactly by the SQL oracle."""
    from ..operators.features import hash_token_features, sparse_cosine_pairs

    sparse = hash_token_features(
        t.documents.filter(F.col("doc_id") < 300), "doc_id", "text", dim=256
    )
    return sparse_cosine_pairs(sparse, "doc_id", threshold=0.95)
