r"""LLM-pipeline queries, round 7: PII redaction, URL-host blocklist
filtering, winnowing fingerprints, and token-distribution drift.

Beyond-reference operators under the training-data-pipeline mandate
(SURVEY §6). Design rules as in pipeline/pipeline2-4: every plan is
built-in-functions only (regexp/split/window/join — JVM codegen, no
Python in the hot path), every shuffle is keyed or broadcast, and
each query carries a DuckDB oracle that re-derives the semantics
from portable primitives. Regex patterns are restricted to the
RE2 ∩ java.util.regex common subset (character classes, bounded
quantifiers, ``\b``, non-capturing groups) so both engines match
byte-for-byte.

The synthetic documents table is letters-only word salad, so the PII
and URL queries INJECT deterministic PII/URLs derived from doc_id —
identically on both sides — before detecting them: the operator is
exercised on text with known ground truth instead of vacuously
passing on hit-free input.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import register

# RE2 ∩ Java-regex portable PII patterns. Order of application:
# email first (its local part may contain dots/digits that the IP
# pattern could nibble), then IP (dots), then phone (dashes) — the
# three never overlap on the remaining text.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


@register(
    "text_pii_redact",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-123-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
           AS raw
  FROM documents WHERE doc_id < 3000
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(raw,
         '{PII_EMAIL}', '<EMAIL>', 'g'),
         '{PII_IP}', '<IP>', 'g'),
         '{PII_PHONE}', '<PHONE>', 'g') AS text_redacted,
       CAST(len(regexp_extract_all(raw, '{PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(raw, '{PII_IP}')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(raw, '{PII_PHONE}')) AS BIGINT) AS n_phone
FROM seeded
""",
    category="pipeline",
)
def text_pii_redact(spark, t):
    """PII scrubbing — the redaction pass every training-data
    pipeline runs before release (emails / IPv4s / phone numbers →
    typed placeholders, plus per-doc hit counts for audit). Map-only:
    three chained ``regexp_replace`` + three ``regexp_count``, all
    JVM codegen on one projection — at 100 TB this is a pure scan
    with zero shuffles, and the counts aggregate partials if a
    corpus-level audit total is wanted. Patterns are anchored with
    ``\\b`` and kept in the RE2-compatible subset so the DuckDB
    oracle replays them exactly. PII is injected deterministically
    from doc_id (identically in the oracle) because the synthetic
    corpus is letters-only — ground truth per row: 1 email, 1 IP,
    1 phone."""
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1"),
    )
    doc = t.documents.filter(F.col("doc_id") < 3000).select(
        "doc_id", raw.alias("raw")
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), PII_EMAIL, "<EMAIL>"),
            PII_IP,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return doc.select(
        "doc_id",
        red.alias("text_redacted"),
        F.regexp_count(F.col("raw"), F.lit(PII_EMAIL))
        .cast("long")
        .alias("n_email"),
        F.regexp_count(F.col("raw"), F.lit(PII_IP))
        .cast("long")
        .alias("n_ip"),
        F.regexp_count(F.col("raw"), F.lit(PII_PHONE))
        .cast("long")
        .alias("n_phone"),
    )


@register(
    "text_url_host_filter",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' || source || '-' || CAST(doc_id % 3 AS VARCHAR)
           || '.example'
           || CASE doc_id % 3 WHEN 0 THEN '.com'
                              WHEN 1 THEN '.org' ELSE '.net' END
           || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
hosts AS (
  SELECT doc_id, regexp_extract(url, 'https://([^/]+)/', 1) AS host
  FROM urls
),
blocked(host) AS (VALUES ('src0-0.example.com'), ('src1-1.example.org'))
SELECT h.host, COUNT(*) AS n_docs
FROM hosts h LEFT JOIN blocked b ON h.host = b.host
WHERE b.host IS NULL
GROUP BY h.host
""",
    category="pipeline",
)
def text_url_host_filter(spark, t):
    """URL-host blocklist filtering (the RefinedWeb/CCNet curation
    step: drop documents whose source host is on a deny list). Hive
    surface: ``parse_url(url, 'HOST')``
    (``udf/generic/GenericUDFParseUrl.java``) extracts the host
    JVM-side; the blocklist joins as a BROADCAST left-anti — at
    100 TB the deny list is a few MB of hosts against billions of
    docs, so the anti join must never shuffle the corpus. URLs are
    synthesized deterministically from (source, doc_id) on both
    sides; the oracle extracts the host with the equivalent regex."""
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example"),
        F.when(F.col("doc_id") % 3 == 0, ".com")
        .when(F.col("doc_id") % 3 == 1, ".org")
        .otherwise(".net"),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    hosts = t.documents.select(
        "doc_id", F.parse_url(url, F.lit("HOST")).alias("host")
    )
    blocked = spark.createDataFrame(
        [("src0-0.example.com",), ("src1-1.example.org",)], "host string"
    )
    kept = hosts.join(F.broadcast(blocked), "host", "left_anti")
    return kept.groupBy("host").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "text_winnow_fingerprints",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t
  FROM documents WHERE doc_id < 200
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+4], ' ')) AS h,
         len(t) - 4 AS n_grams
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) s
  WHERE len(t) >= 5
),
wins AS (
  SELECT doc_id, pos, n_grams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM grams
)
SELECT DISTINCT doc_id, fp
FROM wins WHERE pos <= n_grams - 3
""",
    category="pipeline",
)
def text_winnow_fingerprints(spark, t):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    SIGMOD 2003 — the MOSS algorithm): hash every k-gram (k=5
    tokens), slide a w=4 window over consecutive gram hashes, keep
    the window minimum, emit the distinct (doc, fingerprint) set.
    Guarantee: any shared run of w+k-1 tokens between two documents
    yields at least one identical fingerprint, with ~2/(w+1)
    selection density — the local-dedup sweet spot between full
    k-gram shingling (pipeline MinHash) and whole-doc hashing.

    Plan: split → posexplode → md5 (all codegen), one window
    function partitioned BY DOCUMENT (never a global sort — each
    doc's grams sort within its partition), then a keyed distinct.
    At 100 TB the only shuffle is the per-doc window + distinct, both
    on doc-sized groups. md5 keeps the fingerprint engine-portable
    for the oracle; a production deployment would swap xxhash64."""
    toks = F.split(F.lower(F.col("text")), " ")
    grams = (
        t.documents.filter(F.col("doc_id") < 200)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 5)
        .select(
            "doc_id",
            "toks",
            (F.size("toks") - 4).alias("n_grams"),
            F.explode(F.sequence(F.lit(1), F.size("toks") - 4)).alias(
                "pos"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "pos",
            F.md5(F.concat_ws(" ", F.expr("slice(toks, pos, 5)"))).alias(
                "h"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    wins = grams.select(
        "doc_id", "pos", "n_grams", F.min("h").over(w).alias("fp")
    )
    return wins.filter(
        F.col("pos") <= F.col("n_grams") - 3
    ).select("doc_id", "fp").distinct()


@register(
    "corpus_token_drift",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok
),
totals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM counts GROUP BY source
),
vocab AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS cg FROM counts GROUP BY tok
),
grand AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng FROM vocab),
present AS (
  SELECT c.source,
         CAST(SUM(abs(c.c * (g.ng - t.n_tokens)
                      - (v.cg - c.c) * t.n_tokens)) AS BIGINT) AS term,
         CAST(SUM(v.cg) AS BIGINT) AS cg_present
  FROM counts c
  JOIN vocab v USING (tok)
  JOIN totals t ON c.source = t.source
  CROSS JOIN grand g
  GROUP BY c.source
)
SELECT t.source, t.n_tokens,
       CAST(p.term + (g.ng - p.cg_present) * t.n_tokens AS BIGINT)
         AS l1_drift_scaled
FROM totals t JOIN present p ON t.source = p.source CROSS JOIN grand g
""",
    category="pipeline",
)
def corpus_token_drift(spark, t):
    """Token-distribution drift per source vs the rest of the corpus
    — the mixing-validation check run after domain reweighting
    (corpus_mix_temperature) to see whether a source's unigram
    distribution diverges from the pool. Metric: total-variation
    distance scaled to stay in EXACT integer arithmetic,
    ``sum_tok |c_s·(N-N_s) − (c−c_s)·N_s|`` — equal to
    ``2·N_s·(N−N_s)·TVD(P_s, P_rest)`` without a single float, so
    the cross-engine compare is exact where a float KL would drift
    in the last ulp (same discipline as dsum's decimal trick).

    Plan: one keyed token count (map-side combine); the zero-count
    tokens' contribution is computed in CLOSED FORM
    (``(N_G − Σ_present c_g)·N_s``) instead of materializing the
    dense |sources|×|vocab| matrix — at 100 TB the vocabulary is
    tens of millions of tokens, so the dense cross join this
    replaces would be the bottleneck. Remaining joins: token-keyed
    equi joins plus two 1-row scalar broadcasts (the whitelisted
    scalar-crossJoin idiom)."""
    toks = t.documents.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens")
    )
    vocab = counts.groupBy("tok").agg(F.sum("c").cast("long").alias("cg"))
    ng = vocab.agg(F.sum("cg").cast("long").alias("ng"))
    present = (
        counts.join(vocab, "tok")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(ng))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    F.col("c") * (F.col("ng") - F.col("n_tokens"))
                    - (F.col("cg") - F.col("c")) * F.col("n_tokens")
                )
            )
            .cast("long")
            .alias("term"),
            F.sum("cg").cast("long").alias("cg_present"),
        )
    )
    return (
        totals.join(present, "source")
        .crossJoin(F.broadcast(ng))
        .select(
            "source",
            "n_tokens",
            (
                F.col("term")
                + (F.col("ng") - F.col("cg_present")) * F.col("n_tokens")
            )
            .cast("long")
            .alias("l1_drift_scaled"),
        )
    )


@register(
    "corpus_clean_v5",
    oracle=f"""
WITH hosts AS (
  SELECT doc_id, text, source,
         source || '-' || CAST(doc_id % 3 AS VARCHAR) || '.example'
           || CASE doc_id % 3 WHEN 0 THEN '.com'
                              WHEN 1 THEN '.org' ELSE '.net' END AS host
  FROM documents WHERE doc_id < 1200
),
allowed AS (
  SELECT h.* FROM hosts h
  LEFT JOIN (VALUES ('src0-0.example.com'), ('src1-1.example.org'))
    b(host) ON h.host = b.host
  WHERE b.host IS NULL
),
seeded AS (
  SELECT doc_id, source,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com' AS raw
  FROM allowed
),
red AS (
  SELECT doc_id, source,
         regexp_replace(raw, '{PII_EMAIL}', '<EMAIL>', 'g') AS text,
         CAST(len(regexp_extract_all(raw, '{PII_EMAIL}')) AS BIGINT)
           AS n_pii
  FROM seeded
),
toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM red
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+4], ' ')) AS h,
         len(t) - 4 AS n_grams
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) s
  WHERE len(t) >= 5
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos, n_grams,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM grams) w
  WHERE pos <= n_grams - 3
),
common AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50
),
pairs AS (
  SELECT a.doc_id AS keep_id, b.doc_id AS drop_id
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN common c ON a.fp = c.fp
  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
),
kept AS (
  SELECT r.* FROM red r
  LEFT JOIN (SELECT DISTINCT drop_id FROM pairs) d
    ON r.doc_id = d.drop_id
  WHERE d.drop_id IS NULL
)
SELECT source,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(n_pii) AS BIGINT) AS n_pii_redactions,
       CAST(SUM(CASE WHEN text LIKE '%<EMAIL>%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_redacted
FROM kept GROUP BY source
""",
    category="pipeline",
)
def corpus_clean_v5(spark, t):
    """Flagship composed pipeline v5 — the round-7 operators chained
    the way a privacy-first curation run actually executes them:

      URL-host blocklist (broadcast anti join, corpus never shuffles)
      → PII redaction (map-only regexp chain + audit counts)
      → winnowing near-dup drop (per-doc window fingerprints; pairs
        via the fingerprint postings join with a 50-doc
        stop-fingerprint cap so no posting list can explode the
        join — the same bound MinHash banding uses; lower doc_id
        wins, HAVING >= 2 shared fingerprints)
      → per-source report (docs kept, PII redactions, docs touched).

    One composed DuckDB oracle re-derives the whole chain. Scale
    story: two corpus-wide passes (redact+fingerprint), one
    fingerprint-keyed self-join bounded by the stop cap, one keyed
    aggregate; every other input is dimension-sized or broadcast."""
    base = t.documents.filter(F.col("doc_id") < 1200)
    host = F.concat(
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example"),
        F.when(F.col("doc_id") % 3 == 0, ".com")
        .when(F.col("doc_id") % 3 == 1, ".org")
        .otherwise(".net"),
    )
    blocked = spark.createDataFrame(
        [("src0-0.example.com",), ("src1-1.example.org",)], "host string"
    )
    allowed = (
        base.withColumn("host", host)
        .join(F.broadcast(blocked), "host", "left_anti")
        .drop("host")
    )
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com"),
    )
    red = allowed.select(
        "doc_id",
        "source",
        F.regexp_replace(raw, PII_EMAIL, "<EMAIL>").alias("text"),
        F.regexp_count(raw, F.lit(PII_EMAIL)).cast("long").alias("n_pii"),
    )
    toks = F.split(F.lower(F.col("text")), " ")
    # slice() needs toks in scope post-explode — keep it through
    grams = (
        red.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 5)
        .select(
            "doc_id",
            "toks",
            (F.size("toks") - 4).alias("n_grams"),
            F.explode(F.sequence(F.lit(1), F.size("toks") - 4)).alias(
                "pos"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "pos",
            F.md5(F.concat_ws(" ", F.expr("slice(toks, pos, 5)"))).alias(
                "h"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fps = (
        grams.select(
            "doc_id", "pos", "n_grams", F.min("h").over(w).alias("fp")
        )
        .filter(F.col("pos") <= F.col("n_grams") - 3)
        .select("doc_id", "fp")
        .distinct()
    )
    common = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 50
    )
    a = fps.join(common.select("fp"), "fp").select(
        "fp", F.col("doc_id").alias("keep_id")
    )
    b = fps.select("fp", F.col("doc_id").alias("drop_id"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .groupBy("keep_id", "drop_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
    )
    drops = pairs.select(F.col("drop_id").alias("doc_id")).distinct()
    kept = red.join(drops, "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_pii").cast("long").alias("n_pii_redactions"),
        F.sum(
            F.when(F.col("text").contains("<EMAIL>"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_docs_redacted"),
    )


@register(
    "corpus_assign_row_ids",
    oracle="""
SELECT COUNT(*) AS n,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(0 AS BIGINT) AS min_id,
       COUNT(*) - 1 AS max_id,
       COUNT(*) AS n_distinct_ids
FROM documents
""",
    category="pipeline",
)
def corpus_assign_row_ids(spark, t):
    """Dense surrogate row ids 0..n-1 (operators/util.assign_row_ids
    — the scalable zipWithIndex: count-per-partition pass, broadcast
    offsets, map-only tag; Hive's ROW__ID assignment per bucket is
    the same shape). The DENSITY contract is what downstream
    array-addressed structures (PQ code arrays, bitmap indexes)
    need and what monotonically_increasing_id cannot give; the
    oracle checks it exactly: n ids, all distinct, min 0, max n−1.
    The id→row mapping itself is partitioning-dependent by design
    (like RDD.zipWithIndex), so the invariants — not the arbitrary
    assignment — are the contract."""
    from ..operators.util import assign_row_ids

    tagged = assign_row_ids(t.documents)
    return tagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("row__id").alias("min_id"),
        F.max("row__id").alias("max_id"),
        F.countDistinct("row__id").alias("n_distinct_ids"),
    )


@register(
    "quality_gopher_gate",
    oracle="""
WITH feats AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_words,
         (length(replace(text, ' ', '')) * 1.0)
           / len(string_split(text, ' ')) AS mean_word_len,
         len(list_filter(string_split(text, ' '),
                         w -> w IN ('the','a','of','to','and','in')))
           AS n_stop
  FROM documents
),
gated AS (
  SELECT source,
         CASE WHEN n_words >= 15 AND n_words <= 500
               AND mean_word_len >= 2.5 AND mean_word_len <= 9.0
               AND n_stop >= 1
              THEN 1 ELSE 0 END AS keep
  FROM feats
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_kept
FROM gated GROUP BY source
""",
    category="pipeline",
)
def quality_gopher_gate(spark, t):
    """Composite Gopher-style quality GATE (Rae et al. 2021 §A1.1 —
    the rule set every web-corpus pipeline applies before model
    training): word-count bounds, mean-word-length bounds, and
    required stopword presence, combined into one boolean keep
    decision and reported per source. One projection + one keyed
    aggregate — at 100 TB this is scan-bound with map-side combine;
    the rules are pure JVM expressions (split/size/translate), no
    UDF. Thresholds are tuned to SPLIT the synthetic corpus (letters-
    only word salad) so the gate is exercised, not vacuous; the
    repetition-based Gopher rules live in pipeline2
    (quality_repetition_stats) and compose with this gate."""
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mean_wlen = (
        F.length(F.regexp_replace(F.col("text"), " ", "")) / n_words
    )
    stop = F.size(
        F.filter(
            toks,
            lambda w: w.isin("the", "a", "of", "to", "and", "in"),
        )
    )
    keep = (
        (n_words >= 15)
        & (n_words <= 500)
        & (mean_wlen >= 2.5)
        & (mean_wlen <= 9.0)
        & (stop >= 1)
    )
    return (
        t.documents.select(
            "source", keep.cast("int").alias("keep")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
        )
    )


@register(
    "dedup_containment_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t
  FROM documents WHERE doc_id < 800
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) s
  WHERE len(t) >= 5
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
rare AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 50),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM grams a JOIN rare r ON a.g = r.g
  JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(ROUND(c.shared * 1.0 / LEAST(sa.n, sb.n), 6) AS DOUBLE)
         AS containment
FROM cand c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE c.shared * 1.0 / LEAST(sa.n, sb.n) >= 0.8
""",
    category="pipeline",
)
def dedup_containment_pairs(spark, t):
    """CONTAINMENT near-dup pairs — the asymmetric overlap measure
    ``|A∩B| / min(|A|,|B|)`` that catches SUBSET duplication
    (a document quoted or embedded inside a longer one), which
    symmetric Jaccard dilutes below threshold as the host document
    grows. Shape: distinct 5-gram sets per doc, candidates keyed on
    RARE grams (posting lists capped at 50 docs — the same bound as
    PPJoin/winnow keeps the join linear), shared-gram counts, then
    the exact containment on candidates only; never all-pairs. The
    oracle re-derives the identical candidate rule and measure."""
    toks = F.split(F.lower(F.col("text")), " ")
    grams = (
        t.documents.filter(F.col("doc_id") < 800)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - 4)
            ).alias("pos"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.expr("slice(toks, pos, 5)")).alias("g"),
        )
        .distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 50
    )
    a = grams.join(rare.select("g"), "g").select(
        "g", F.col("doc_id").alias("id_a")
    )
    b = grams.select("g", F.col("doc_id").alias("id_b"))
    cand = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    # sizes are PER-DOC (corpus-sized at warehouse scale) — keyed
    # joins, never broadcast; cand is already keyed by the same ids
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.col("shared") / F.least(F.col("na"), F.col("nb")), 6
            ).cast("double"),
        )
        .filter(
            F.col("shared") / F.least(F.col("na"), F.col("nb")) >= 0.8
        )
    )
    return out.select("id_a", "id_b", "containment")


@register(
    "corpus_boilerplate_filter",
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
tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
boiler AS (
  SELECT chunk FROM (
    SELECT chunk, COUNT(DISTINCT doc_id) AS dfreq FROM ch GROUP BY chunk
  ), tot
  WHERE dfreq >= greatest(3, CAST(ceil(n_docs * 0.005) AS BIGINT))
)
SELECT ch.doc_id,
       string_agg(
         CASE WHEN b.chunk IS NULL THEN ch.chunk END,
         ' ' ORDER BY ch.chunk_idx) AS text_clean,
       CAST(COUNT(*) FILTER (WHERE b.chunk IS NULL) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE b.chunk IS NOT NULL) AS BIGINT)
         AS n_dropped
FROM ch LEFT JOIN boiler b ON ch.chunk = b.chunk
GROUP BY ch.doc_id
""",
    category="pipeline",
)
def corpus_boilerplate_filter(spark, t):
    """C4-recipe boilerplate removal by document frequency
    (operators/corpus.boilerplate_filter): a 10-word chunk appearing
    in ≥ max(3, 0.5% of corpus) DISTINCT documents is dropped from
    EVERY document — the complement of `corpus_line_dedup`'s
    keep-first semantics (C4 §2.1 drops such lines outright). Three
    keyed exchanges: chunk explode → two-phase distinct-agg on the
    chunk hash → null-flag LEFT join back + doc rebuild; the corpus
    doc count rides along as a 1-row broadcast, so the threshold is
    computed inside the plan, not on the driver. The planted
    duplicate families in the testdata push 15 chunks over the
    sf0.01 threshold — non-vacuous both ways."""
    from ..operators.corpus import boilerplate_filter

    return boilerplate_filter(
        t.documents, "doc_id", "text",
        chunk_words=10, min_docs=3, max_doc_frac=0.005,
    )


@register(
    "retrieval_rrf_hybrid",
    oracle="""
WITH corpus AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id >= 5
),
q AS (
  SELECT doc_id AS query_id,
         list_distinct(string_split(lower(text), ' ')) AS qw
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
qt AS (SELECT query_id, unnest(qw) AS term FROM q),
lex AS (
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
),
lexr AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS lex_rank
  FROM lex QUALIFY lex_rank <= 20
),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cos AS (
  SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
         list_reduce(list_transform(list_zip(qv.e, c.e), z -> z[1] * z[2]),
                     (x, y) -> x + y)
         / ( SQRT(list_reduce(list_transform(qv.e, x -> x * x), (x, y) -> x + y))
           * SQRT(list_reduce(list_transform(c.e, x -> x * x), (x, y) -> x + y)) )
           AS cosine
  FROM v qv JOIN v c ON qv.vec_id < 5 AND c.vec_id >= 5
),
semr AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id) AS sem_rank
  FROM cos QUALIFY sem_rank <= 20
),
fused AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rank, s.sem_rank,
         ROUND(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
             + coalesce(CAST(1 AS DOUBLE) / (60 + s.sem_rank), 0), 6)
           AS rrf
  FROM lexr l
  FULL JOIN semr s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
)
SELECT query_id, doc_id, lex_rank, sem_rank, rrf,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY rrf DESC, doc_id) AS hybrid_rank
FROM fused QUALIFY hybrid_rank <= 10
""",
    category="pipeline",
)
def retrieval_rrf_hybrid(spark, t):
    """Hybrid lexical+semantic retrieval with reciprocal-rank fusion
    (Cormack et al. SIGIR 2009, the standard BM25⊕dense ensemble):
    docs 0-4 are the queries on BOTH signals (their text against the
    corpus text via BM25, their embedding against the corpus
    embeddings via exact cosine); each signal keeps its top-20 ranks,
    a FULL OUTER join on (query, doc) unions the candidate sets, and
    rrf = Σ 1/(60+rank) over the signals present — rounded to 6 dp
    BEFORE the final ranking so the order is ulp-robust across
    engines. Plan: the BM25 side splits the corpus once on doc_id
    (broadcast query terms/dfs/scalars, one keyed partial-sum
    exchange); the cosine side broadcasts the 5 query vectors; fusion
    is a keyed (query, doc) join of two ≤20-row-per-query rank lists —
    at 100 TB both rank lists are corpus-independent sizes, so fusion
    cost is O(queries · k), not corpus-sized."""
    from pyspark.sql import Window as W

    from ..operators import retrieval as rt
    from ..operators import similarity as sim

    d = t.documents
    emb = t.embeddings
    lex = rt.bm25_scores(
        d.filter(F.col("doc_id") >= 5),
        d.filter(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("query_id"), "text"
        ),
    )
    wlex = W.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    lexr = (
        lex.select(
            "query_id", "doc_id",
            F.row_number().over(wlex).alias("lex_rank"),
        )
        .filter(F.col("lex_rank") <= 20)
    )
    semr = sim.cosine_topk(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 5),
        k=20,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    fused = lexr.join(semr, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("sem_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return fused.select(
        "*", F.row_number().over(wf).alias("hybrid_rank")
    ).filter(F.col("hybrid_rank") <= 10)


@register(
    "corpus_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT doc_id, md5(text) AS h FROM documents
),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
           AS h
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 100000, md5('fresh page ' || CAST(doc_id AS VARCHAR))
  FROM documents WHERE doc_id % 19 = 0
)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            WHEN old.h <> new.h THEN 'changed' END AS status
FROM old FULL JOIN new ON old.doc_id = new.doc_id
WHERE CASE WHEN old.doc_id IS NULL THEN 'added'
           WHEN new.doc_id IS NULL THEN 'removed'
           WHEN old.h <> new.h THEN 'changed' END IS NOT NULL
""",
    category="pipeline",
)
def corpus_snapshot_diff(spark, t):
    """Incremental re-crawl snapshot diff
    (operators/corpus.snapshot_diff): the v2 corpus is derived
    deterministically from v1 — docs with id%17=0 vanish (removed),
    id%13=0 get re-crawled content (changed), and id%19=0 spawn a
    fresh page at id+100000 (added); identical re-fetches are NOT
    churn because the compare is by content md5, not by presence.
    Each side collapses to (id, digest) map-side before the single
    full-outer hash join, so at 100 TB the exchange carries 32-byte
    digests, never document text, and the output is churn-sized."""
    from ..operators.corpus import snapshot_diff

    d = t.documents
    new = d.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionAll(
        d.filter(F.col("doc_id") % 19 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("fresh page "), F.col("doc_id").cast("string"))
                .alias("text"),
        )
    )
    return snapshot_diff(d, new, "doc_id", "text")


@register(
    "multimodal_video_keyframe_dedup",
    oracle=None,  # DCT pHash bit patterns have no SQL twin →
    # rows-only; exact planted-pair recovery and perturbation
    # robustness are pinned in tests/test_phash.py.
    category="pipeline",
)
def multimodal_video_keyframe_dedup(spark, t):
    """Near-duplicate VIDEO detection (operators/phash.video_near_dups):
    synthesize an MJPEG-AVI per document (doc_id < 300; real RIFF
    container + baseline JPEG noise-raster frames keyed on id%256 —
    structurally unrelated ids measure ~30+ pHash bits apart, NOT
    mere brightness shifts, which pHash rightly ignores) → RIFF-walk 4 evenly-spaced keyframes → per-frame DCT
    pHash → 16-bit-band bucket join + Hamming ≤ 6 confirm → videos
    with ≥ 2 matching keyframes pair up. The mod-256 gray arithmetic
    makes ids i and i+256 render IDENTICAL frames from different AVI
    payloads, planting exactly the (i, i+256) pairs — re-encoded
    copies that byte-level dedup can never find. Per video the join
    sees n_frames·4 band rows: corpus-linear, never frames×frames."""
    from ..operators import phash as ph
    from ..operators.multimodal import synthesize_structured_avi

    media = synthesize_structured_avi(
        t.documents.filter(F.col("doc_id") < 300), "doc_id"
    )
    return ph.video_near_dups(
        media, n_frames=4, max_distance=6, min_matched=2
    ).orderBy("id_a", "id_b")


@register(
    "multimodal_audio_fingerprint_dedup",
    oracle=None,  # FFT dominant-bin landmarks have no SQL twin →
    # rows-only; planted-pair exactness, amplitude invariance, and
    # noise robustness are pinned in tests/test_multimodal.py.
    category="pipeline",
)
def multimodal_audio_fingerprint_dedup(spark, t):
    """Near-duplicate AUDIO detection (operators/audiofp.py,
    constellation fingerprints after Wang 2003): synthesize a
    tone-sequence WAV per document (doc_id < 300, tone track keyed
    on doc_id%200, amplitude keyed on doc_id%89 so byte dedup finds
    nothing) → frame+FFT → dominant-bin landmark triples → 64-bit
    gram hash-equality join → clips sharing ≥ 4 grams pair up. Ids
    equal mod 200 share their entire landmark track at different
    volumes — exactly the planted (i, i+200) pairs, 100 at sf0.01.
    Per clip the join sees O(n_frames) gram rows: corpus-linear,
    never clips × clips."""
    from ..operators.audiofp import audio_near_dups, synthesize_tone_wavs

    media = synthesize_tone_wavs(
        t.documents.filter(F.col("doc_id") < 300), "doc_id"
    )
    return audio_near_dups(
        media, frame_len=64, min_shared=4
    ).orderBy("id_a", "id_b")


@register(
    "corpus_url_dedup",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'HTTPS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM'
         || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
         || '/Article/' || CAST(doc_id % 40 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0
                   THEN '?utm_source=feed&page=2'
                 WHEN doc_id % 2 = 0
                   THEN '?utm_source=feed&utm_campaign=x'
                 WHEN doc_id % 7 = 0 THEN '?page=2'
                 ELSE '' END AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         regexp_replace(url, '#.*$', '', 'g') AS u1
  FROM urls
),
split AS (
  SELECT doc_id,
         regexp_replace(
           lower(regexp_extract(u1,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)),
           ':(80|443)$', '') AS auth,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(u1,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
               '&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
             '\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&?', '?', 'g'),
           '[?&]+$', '') AS rest
  FROM parts
),
canon AS (
  SELECT doc_id,
         auth || CASE WHEN contains(rest, '?') THEN rest
                      ELSE regexp_replace(rest, '/+$', '') END
           AS canonical_url
  FROM split
)
SELECT canonical_url, MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM canon GROUP BY 1 HAVING COUNT(*) >= 2
""",
    category="pipeline",
)
def corpus_url_dedup(spark, t):
    """URL-level dedup (operators/corpus.canonical_url_col — the
    C4/CCNet first dedup tier): raw crawl URLs synthesized per doc
    with upper-cased scheme/host, default :443 ports, trailing
    slashes, tracking params (sometimes mixed with a REAL ``page``
    param that must survive), all deterministic from doc_id mods on
    both engines. Canonicalization lowercases scheme+authority only
    (path case survives: '/Article/' stays), strips default ports /
    fragments / utm_*-fbclid-gclid / dangling separators / query-less
    trailing slashes, then ONE hash aggregate groups the corpus by
    canonical key. Pure JVM regex — the cheapest dedup tier at any
    scale."""
    d5 = (F.col("doc_id") % 5).cast("string")
    d40 = (F.col("doc_id") % 40).cast("string")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), d5, F.lit(".COM"),
        F.when(F.col("doc_id") % 4 == 0, ":443").otherwise(""),
        F.lit("/Article/"), d40,
        F.when(F.col("doc_id") % 3 == 0, "/").otherwise(""),
        F.when(
            (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 7 == 0),
            "?utm_source=feed&page=2",
        )
        .when(F.col("doc_id") % 2 == 0, "?utm_source=feed&utm_campaign=x")
        .when(F.col("doc_id") % 7 == 0, "?page=2")
        .otherwise(""),
    )
    from ..operators.corpus import url_dedup_groups

    withurl = t.documents.select("doc_id", url.alias("url"))
    return url_dedup_groups(withurl, "doc_id", "url")


def _pagerank_oracle_sql(n_iter: int = 15, damping: float = 0.85) -> str:
    """Synthesized DuckDB oracle for the FIXED-ROUND damped power
    iteration (verdict r9 #3, scalars2.py synthesized-oracle
    pattern): the 15 rounds unroll into a chained-CTE pipeline —
    per round one dangling-mass aggregate, one src-join partial sum,
    one rank recompute — mirroring operators/pagerank.py term by
    term (same float64 literal forms: ``(1.0 - 0.85) / n``, so both
    engines evaluate identical IEEE expressions; per-node sums span
    ≤35 edges, far below the 2-decimal ppm rounding).

    ``AS MATERIALIZED`` is load-bearing: DuckDB inlines plain CTEs
    at every reference, so an unrolled 15-round chain otherwise
    re-expands ~3^15 scans of ``documents``."""
    sql = """WITH
edges AS MATERIALIZED (
  SELECT DISTINCT (doc_id % 40) AS src,
         ((doc_id * doc_id + 1) % 40) AS dst
  FROM documents WHERE (doc_id % 40) < 35
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS MATERIALIZED (
  SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
base AS MATERIALIZED (
  SELECT n.node, d.deg FROM nodes n LEFT JOIN deg d USING (node)),
r0 AS MATERIALIZED (
  SELECT node, deg, 1.0 / (SELECT n FROM nn) AS rank FROM base)"""
    prev = "r0"
    for i in range(1, n_iter + 1):
        sql += f""",
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {prev} WHERE deg IS NULL),
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(p.rank / p.deg) AS inflow
  FROM {prev} p JOIN edges e ON p.node = e.src GROUP BY e.dst),
r{i} AS MATERIALIZED (
  SELECT b.node, b.deg,
         (1.0 - {damping}) / (SELECT n FROM nn)
         + {damping} * (COALESCE(c.inflow, 0.0)
                        + (SELECT dm FROM d{i}) / (SELECT n FROM nn))
           AS rank
  FROM base b LEFT JOIN c{i} c USING (node))"""
        prev = f"r{i}"
    sql += f"""
SELECT node AS host, ROUND(rank * 1e6, 2) AS rank_ppm
FROM {prev} ORDER BY host"""
    return sql


@register(
    "graph_pagerank_hosts",
    oracle=_pagerank_oracle_sql(),  # upgraded from rows-only
    # (verdict r9 #3): the fixed-round iteration IS SQL-expressible
    # once unrolled; ranks additionally pinned against a sequential
    # numpy power iteration (tolerance 1e-9, dangling mass
    # conserved) and partition-invariance in tests/test_components.py.
    category="pipeline",
)
def graph_pagerank_hosts(spark, t):
    """Host-level PageRank (operators/pagerank.py) — the link-graph
    authority weight crawl curation pipelines attach to documents
    (CommonCrawl publishes exactly these host ranks). A 40-host link
    graph is synthesized deterministically from doc_id arithmetic:
    src = doc_id%40 for doc_id%40 < 35, dst = (doc_id·doc_id+1)%40
    (36 reachable hosts; host 37 = 6²+1 receives links but emits
    none, exercising the dangling-mass redistribution). 15 damped rounds, each ONE keyed join + ONE
    partial-sum exchange over the edge list, ranks localCheckpoint-ed
    per round. Output (host, rank·1e6 rounded) sums to ~10^6."""
    from ..operators.pagerank import pagerank

    edges = (
        t.documents.filter(F.col("doc_id") % 40 < 35)
        .select(
            (F.col("doc_id") % 40).alias("src"),
            ((F.col("doc_id") * F.col("doc_id") + 1) % 40).alias("dst"),
        )
    )
    pr = pagerank(edges, n_iter=15)
    return pr.select(
        F.col("node").alias("host"),
        F.round(F.col("rank") * 1e6, 2).alias("rank_ppm"),
    ).orderBy("host")


@register(
    "quality_stupid_backoff",
    oracle="""
WITH tr AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id % 2 = 0
),
ho AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id % 2 = 1
),
tg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM tr, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
  WHERE len(w) >= 2
),
bigrams AS (SELECT w1, w2, COUNT(*) AS c12 FROM tg GROUP BY w1, w2),
context AS (SELECT w1, SUM(c12) AS c1 FROM bigrams GROUP BY w1),
unigram AS (
  SELECT u.w2, COUNT(*) AS cu FROM (
    SELECT unnest(w) AS w2 FROM tr
  ) u GROUP BY u.w2
),
tot AS (SELECT SUM(cu) AS n_total FROM unigram),
sg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM ho, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
  WHERE len(w) >= 2
),
doc_gram AS (
  SELECT doc_id, w1, w2, COUNT(*) AS dc FROM sg GROUP BY doc_id, w1, w2
),
scored AS (
  SELECT d.doc_id, d.dc, b.c12,
         CASE WHEN b.c12 IS NOT NULL
                THEN CAST(b.c12 AS DOUBLE) / CAST(c.c1 AS DOUBLE)
              WHEN u.cu IS NOT NULL
                THEN 0.4 * CAST(u.cu AS DOUBLE) / CAST(t.n_total AS DOUBLE)
              ELSE 0.4 / CAST(t.n_total AS DOUBLE) END AS p
  FROM doc_gram d
  LEFT JOIN bigrams b USING (w1, w2)
  LEFT JOIN context c USING (w1)
  LEFT JOIN unigram u USING (w2)
  CROSS JOIN tot t
)
SELECT doc_id,
       CAST(SUM(dc) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN c12 IS NULL THEN dc ELSE 0 END) AS BIGINT)
         AS n_backoff,
       FLOOR(
         CAST(SUM(CAST(ROUND(-LOG2(p), 6) AS DECIMAL(38,6)) * dc)
              AS DOUBLE)
         / CAST(SUM(dc) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bits_per_bigram
FROM scored GROUP BY doc_id
""",
    category="pipeline",
)
def quality_stupid_backoff(spark, t):
    """Held-out stupid-backoff LM scoring (Brants et al. 2007;
    operators/quality.stupid_backoff_bits): even doc_ids train the
    bigram/unigram counts, odd doc_ids are scored — so unseen
    bigrams and OOV words genuinely hit the α·C(w2)/N and α/N
    backoff tiers (n_backoff reports how often, non-vacuously).
    Model tables are keyed partial aggregates; scoring is three
    keyed LEFT joins + a broadcast scalar N; per-gram bits round to
    6 dp into DECIMAL(38,6) so both engines sum exactly."""
    from ..operators.quality import stupid_backoff_bits

    d = t.documents
    return stupid_backoff_bits(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
    )


@register(
    "corpus_dataset_card",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, lang,
         string_split(lower(text), ' ') AS w
  FROM documents
),
base AS (
  SELECT doc_id, source, lang, len(w) AS n_tok, w FROM toks
),
ex AS (
  SELECT doc_id, w,
         unnest([i for i in range(0, CAST(ceil(len(w) / 10.0) AS INT))])
           AS chunk_idx
  FROM toks
),
ch AS (
  SELECT doc_id,
         array_to_string(
           list_slice(w, chunk_idx * 10 + 1, chunk_idx * 10 + 10), ' ')
           AS chunk
  FROM ex
),
dup_chunks AS (
  SELECT chunk FROM (
    SELECT chunk, COUNT(DISTINCT doc_id) AS d FROM ch GROUP BY chunk
  ) WHERE d >= 2
),
flagged AS (
  SELECT DISTINCT ch.doc_id FROM ch JOIN dup_chunks USING (chunk)
),
lang_rank AS (
  SELECT source, lang, COUNT(*) AS c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY COUNT(*) DESC, lang) AS rn
  FROM base GROUP BY source, lang
),
per_source AS (
  SELECT b.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(b.n_tok) AS BIGINT) AS total_tokens,
         CAST(ROUND(CAST(SUM(b.n_tok) AS DOUBLE) / COUNT(*), 4)
              AS DOUBLE) AS avg_tokens,
         CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS flagged_docs,
         CAST(ROUND(CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1
                               ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
              AS DOUBLE) AS flagged_rate,
         CAST(COUNT(DISTINCT b.lang) AS BIGINT) AS n_langs
  FROM base b LEFT JOIN flagged f ON b.doc_id = f.doc_id
  GROUP BY b.source
)
SELECT p.*, lr.lang AS top_lang,
       CAST(ROUND(CAST(lr.c AS DOUBLE) / p.n_docs, 6) AS DOUBLE)
         AS top_lang_share
FROM per_source p JOIN lang_rank lr
  ON p.source = lr.source AND lr.rn = 1
""",
    category="pipeline",
)
def corpus_dataset_card(spark, t):
    """Dataset-card audit report — the per-source summary a corpus
    release ships (docs, token mass, duplication exposure, language
    mix): ONE composed plan over the documents table. The
    duplication signal is "contains a corpus-duplicated 10-word
    chunk" (the testdata's planted near-dup families are never
    byte-identical, so md5 dup-rate would be vacuously 0 — chunk-DF
    is the signal that actually fires), reusing the same
    doc_chunks explode + two-phase distinct-agg shape as
    corpus_boilerplate_filter; language mix is a keyed count + one
    per-source WindowGroupLimit for the top language (count-desc,
    lang-asc deterministic tie-break). Everything aggregates with
    map-side combine; per-source output is sources-sized, never
    corpus-sized."""
    from pyspark.sql import Window as W

    from ..operators.corpus import doc_chunks

    d = t.documents
    base = d.select(
        "doc_id", "source", "lang",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tok"),
    )
    ch = doc_chunks(d, "doc_id", "text", 10)
    dup_chunks = (
        ch.groupBy("chunk")
        .agg(F.countDistinct("_id").alias("d"))
        .filter(F.col("d") >= 2)
        .select("chunk")
    )
    flagged = (
        ch.join(dup_chunks, "chunk")
        .select(F.col("_id").alias("doc_id"))
        .distinct()
        .withColumn("_flag", F.lit(1))
    )
    per_source = (
        base.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("n_tok").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_tokens"),
            F.sum(F.coalesce(F.col("_flag"), F.lit(0)))
            .cast("bigint")
            .alias("flagged_docs"),
            F.round(
                F.sum(F.coalesce(F.col("_flag"), F.lit(0))).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("flagged_rate"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
    )
    lr = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.desc("c"), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return per_source.join(
        lr.select("source", F.col("lang").alias("top_lang"), "c"),
        "source",
    ).select(
        "source", "n_docs", "total_tokens", "avg_tokens",
        "flagged_docs", "flagged_rate", "n_langs", "top_lang",
        F.round(
            F.col("c").cast("double") / F.col("n_docs"), 6
        ).alias("top_lang_share"),
    )


@register(
    "corpus_clean_v6",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'HTTPS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM'
         || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
         || '/Article/' || CAST(doc_id % 40 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0
                   THEN '?utm_source=feed&page=2'
                 WHEN doc_id % 2 = 0
                   THEN '?utm_source=feed&utm_campaign=x'
                 WHEN doc_id % 7 = 0 THEN '?page=2'
                 ELSE '' END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         (SELECT regexp_replace(lower(regexp_extract(u1,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)), ':(80|443)$', '')
          || CASE WHEN contains(r3, '?') THEN r3
                  ELSE regexp_replace(r3, '/+$', '') END
          FROM (SELECT regexp_replace(url, '#.*$', '', 'g') AS u1,
                       regexp_replace(regexp_replace(regexp_replace(
                         regexp_replace(
                           regexp_replace(url, '#.*$', '', 'g'),
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
                         '&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
                         '\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&?', '?', 'g'),
                       '[?&]+$', '') AS r3)
         ) AS canonical_url
  FROM urls
),
url_kept AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY canonical_url
                              ORDER BY doc_id) AS rn
    FROM canon
  ) WHERE rn = 1
),
survivors AS (
  SELECT d.doc_id, d.source, string_split(lower(d.text), ' ') AS w
  FROM documents d JOIN url_kept USING (doc_id)
),
ex AS (
  SELECT doc_id, w,
         unnest([i for i in range(0, CAST(ceil(len(w) / 10.0) AS INT))])
           AS chunk_idx
  FROM survivors
),
ch AS (
  SELECT doc_id, chunk_idx,
         array_to_string(
           list_slice(w, chunk_idx * 10 + 1, chunk_idx * 10 + 10), ' ')
           AS chunk
  FROM ex
),
tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM survivors),
boiler AS (
  SELECT chunk FROM (
    SELECT chunk, COUNT(DISTINCT doc_id) AS dfreq FROM ch GROUP BY chunk
  ), tot
  WHERE dfreq >= greatest(3, CAST(ceil(n_docs * 0.005) AS BIGINT))
),
cleaned AS (
  SELECT ch.doc_id,
         CAST(COUNT(*) FILTER (WHERE b.chunk IS NULL) AS BIGINT)
           AS n_kept_chunks,
         CAST(COUNT(*) FILTER (WHERE b.chunk IS NOT NULL) AS BIGINT)
           AS n_boiler_chunks,
         COALESCE(SUM(len(string_split(ch.chunk, ' ')))
                    FILTER (WHERE b.chunk IS NULL), 0) AS n_tok_clean
  FROM ch LEFT JOIN boiler b ON ch.chunk = b.chunk
  GROUP BY ch.doc_id
)
SELECT s.doc_id, s.source, c.n_kept_chunks, c.n_boiler_chunks,
       CAST(c.n_tok_clean AS BIGINT) AS n_tok_clean
FROM survivors s JOIN cleaned c ON s.doc_id = c.doc_id
WHERE c.n_kept_chunks > 0 AND c.n_tok_clean >= 8
""",
    category="pipeline",
)
def corpus_clean_v6(spark, t):
    """Flagship pipeline v6 — the cheap-tier-first curation chain
    every crawl pipeline runs BEFORE content hashing: URL-level
    dedup (canonical key, keep lowest doc_id) → C4 boilerplate
    removal by chunk document-frequency over the SURVIVOR set (the
    threshold is computed from the post-URL-dedup corpus size,
    in-plan) → minimum-length gate (≥ 8 clean tokens, all-boiler
    docs dropped). ONE composed plan; the oracle re-derives the
    identical chain as a single DuckDB CTE stack. Stage costs at
    100 TB: a regex projection + one hash aggregate (URL tier),
    the chunk-DF shape of corpus_boilerplate_filter, a map-only
    gate — nothing corpus-quadratic anywhere."""
    from pyspark.sql import Window as W

    from ..operators.corpus import boilerplate_filter, canonical_url_col

    d = t.documents
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 5).cast("string"), F.lit(".COM"),
        F.when(F.col("doc_id") % 4 == 0, ":443").otherwise(""),
        F.lit("/Article/"), (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, "/").otherwise(""),
        F.when(
            (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 7 == 0),
            "?utm_source=feed&page=2",
        )
        .when(F.col("doc_id") % 2 == 0, "?utm_source=feed&utm_campaign=x")
        .when(F.col("doc_id") % 7 == 0, "?page=2")
        .otherwise(""),
    )
    url_kept = (
        d.select(
            "doc_id", canonical_url_col(url).alias("cu")
        )
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("cu").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    survivors = d.join(url_kept, "doc_id")
    cleaned = boilerplate_filter(
        survivors, "doc_id", "text",
        chunk_words=10, min_docs=3, max_doc_frac=0.005,
    ).select(
        "doc_id",
        F.col("n_kept").alias("n_kept_chunks"),
        F.col("n_dropped").alias("n_boiler_chunks"),
        F.coalesce(
            F.size(F.split(F.col("text_clean"), " ")), F.lit(0)
        ).alias("n_tok_clean"),
    )
    return (
        survivors.select("doc_id", "source")
        .join(cleaned, "doc_id")
        .filter(
            (F.col("n_kept_chunks") > 0) & (F.col("n_tok_clean") >= 8)
        )
        .select(
            "doc_id", "source", "n_kept_chunks", "n_boiler_chunks",
            F.col("n_tok_clean").cast("bigint").alias("n_tok_clean"),
        )
    )


@register(
    "ann_pq_rerank_recall",
    oracle="""
SELECT CAST(100 AS BIGINT) AS n_planted,
       CAST(true AS BOOLEAN) AS recall_ok,
       CAST(true AS BOOLEAN) AS rerank_no_worse
""",
    category="pipeline",
)
def ann_pq_rerank_recall(spark, t):
    """Two-stage retrieval — PQ shortlist + EXACT re-rank (the
    standard production ANN shape, FAISS's search-then-refine): ADC
    over 4-byte codes proposes a 25-candidate shortlist per query
    (cheap, whole-corpus), then ONLY shortlist rows join back to
    their float vectors (keyed join on neighbor_id — corpus-linear
    shuffle of shortlist size, never the corpus) for exact-cosine
    top-5. Gates, driver-checked: planted-pair recall ≥ 70% AND
    re-ranked recall ≥ raw-ADC recall on the identical shortlist —
    the refine stage can only fix ADC quantization mistakes, never
    introduce them (same 100-pair sha256-planted corpus as
    ann_pq_recall)."""
    from ..operators import quantize as qz
    from ..operators.similarity import cosine_from_norms, with_norm
    from .pipeline4 import _planted_df
    from pyspark.sql import Window as W

    df = _planted_df(spark)
    books = qz.pq_train(df, "vec_id", "embedding", m=4, k=16, n_iter=6)
    codes = qz.pq_encode(df, books, "vec_id", "embedding")
    # ONE ADC pass serves both stages (localCheckpoint: the two
    # downstream branches must not re-run the code scan)
    shortlist = qz.pq_topk(
        codes, df, books, "vec_id", "embedding", k_top=25
    ).localCheckpoint()

    def planted_recall(topk):
        hits = topk.filter(
            F.expr(
                "substring(query_id, 2) = substring(neighbor_id, 2)"
                " AND query_id != neighbor_id"
            )
        )
        return (
            hits.select(
                F.substring("query_id", 2, 10).alias("pair")
            )
            .distinct()
            .count()
        )

    # raw ADC top-5 = first 5 of the (adist, neighbor_id)-ordered
    # shortlist; re-rank replaces the metric with exact cosine
    adc5 = (
        shortlist.withColumn(
            "sl_rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    "adist", "neighbor_id"
                )
            ),
        )
        .filter(F.col("sl_rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    qv = with_norm(
        df.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
        ),
        "q_vec",
        "q_norm",
    )
    cv = with_norm(
        df.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
        ),
        "c_vec",
        "c_norm",
    )
    rer = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"),
                F.col("q_norm"), F.col("c_norm"),
            ).alias("cos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.desc("cos"), "neighbor_id"
                )
            ),
        )
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    r_adc = planted_recall(adc5)
    r_rer = planted_recall(rer)
    return spark.createDataFrame(
        [(100, r_rer >= 70, r_rer >= r_adc)],
        "n_planted bigint, recall_ok boolean, rerank_no_worse boolean",
    )


@register(
    "quality_ccnet_buckets",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
doc_word AS (
  SELECT doc_id, w, COUNT(*) AS dc FROM words GROUP BY doc_id, w
),
vocab AS (SELECT w, SUM(dc) AS c FROM doc_word GROUP BY w),
tot AS (SELECT SUM(c) AS n_total FROM vocab),
scored AS (
  SELECT doc_id,
         CAST(SUM(dc) AS BIGINT) AS n_tokens,
         FLOOR(
           CAST(SUM(CAST(ROUND(-LOG2(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)), 6)
                         AS DECIMAL(38,6)) * dc) AS DOUBLE)
           / CAST(SUM(dc) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bits_per_token
  FROM doc_word JOIN vocab USING (w), tot
  GROUP BY doc_id
),
tiled AS (
  SELECT s.doc_id, d.lang, s.n_tokens, s.bits_per_token,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.bits_per_token, s.doc_id) AS tile
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, n_tokens, bits_per_token,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket
FROM tiled
""",
    category="pipeline",
)
def quality_ccnet_buckets(spark, t):
    """CCNet head/middle/tail corpus split (Wenzek et al. 2020
    §4.4; operators/quality.ccnet_perplexity_buckets): per-language
    perplexity terciles over the unigram-LM bits/token signal,
    assigned by exact ntile over a (bits, doc_id) total order so
    both engines agree on every boundary doc. The oracle re-derives
    the whole chain — token counts, DECIMAL-exact bits, windowed
    ntile — from raw text in SQL."""
    from ..operators import quality as ql

    return ql.ccnet_perplexity_buckets(t.documents, "doc_id", "text", "lang")


@register(
    "dedup_edit_distance_blocked",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN substr(md5(CAST(doc_id // 2 AS VARCHAR)), 1, 12)
              ELSE concat(substr(md5(CAST(doc_id // 2 AS VARCHAR)), 1, 5),
                          'Z',
                          substr(md5(CAST(doc_id // 2 AS VARCHAR)), 7, 6))
         END AS title
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 1
""",
    category="pipeline",
)
def dedup_edit_distance_blocked(spark, t):
    """Blocked edit-distance title dedup
    (operators/dedup.edit_distance_pairs): every pair within
    levenshtein 1, found via prefix-block ∪ suffix-block equality
    joins (complete for distance 1 — one edit cannot change both the
    first and last 3 chars of a 12-char string), never an all-pairs
    join. Titles are derived deterministically from doc_id on BOTH
    sides — consecutive (2g, 2g+1) docs share an md5-prefix title
    with one mid-string substitution planted ('Z' never occurs in
    hex, so each pair is at distance exactly 1). The brute-force
    oracle proves candidate COMPLETENESS, not just precision."""
    from ..operators import dedup as dd

    g = F.expr("CAST(doc_id DIV 2 AS STRING)")
    base = F.substring(F.md5(g), 1, 12)
    titled = t.documents.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, base)
        .otherwise(
            F.concat(
                F.substring(F.md5(g), 1, 5),
                F.lit("Z"),
                F.substring(F.md5(g), 7, 6),
            )
        )
        .alias("title"),
    )
    return dd.edit_distance_pairs(titled, "doc_id", "title", max_dist=1)


@register(
    "text_char_entropy",
    oracle="""
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
),
counts AS (
  SELECT doc_id, c, COUNT(*) AS cc FROM chars
  WHERE c <> '' GROUP BY doc_id, c
),
totals AS (SELECT doc_id, SUM(cc) AS n FROM counts GROUP BY doc_id)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_uniq_chars,
       FLOOR(
         CAST(SUM(CAST(ROUND(-LOG2(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                       AS DECIMAL(38,6)) * cc) AS DOUBLE)
         / CAST(MAX(n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bits_per_char,
       FLOOR(
         CAST(SUM(CAST(ROUND(-LOG2(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                       AS DECIMAL(38,6)) * cc) AS DOUBLE)
         / CAST(MAX(n) AS DOUBLE) * 1000000 + 0.5) / 1000000 < 4.0 AS is_low_entropy
FROM counts JOIN totals USING (doc_id)
GROUP BY doc_id
""",
    category="pipeline",
)
def text_char_entropy(spark, t):
    """Character-entropy gibberish signal
    (operators/textstats.char_entropy): per-doc Shannon bits/char
    with the DECIMAL-exact accumulation discipline, plus a 4.0-bit
    low-entropy flag (splits the letters-only synthetic corpus
    non-vacuously — repetitive word salad sits either side). The
    oracle recomputes character counts and the rounded-log sum from
    raw text."""
    from ..operators import textstats as ts

    out = ts.char_entropy(t.documents, "doc_id", "text")
    return out.withColumn(
        "is_low_entropy", F.col("bits_per_char") < 4.0
    )


@register(
    "corpus_attributes_two_phase",
    oracle="""
WITH attrs AS (
  SELECT doc_id, lang, source,
         CAST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) AS BIGINT)
           AS n_words,
         CAST(LEN(LIST_INTERSECT(
                LIST_DISTINCT(STRING_SPLIT_REGEX(LOWER(text), '\\s+')),
                ['the','a','of','and','to','in','is'])) AS BIGINT)
           AS stopword_hits
  FROM documents
)
SELECT doc_id, lang, source, n_words, stopword_hits
FROM attrs
WHERE n_words >= 40 AND stopword_hits >= 1
""",
    category="pipeline",
)
def corpus_attributes_two_phase(spark, t):
    """Dolma-style decoupled attributes pipeline (Soldaini et al.
    2024, the Dolma toolkit's tag-then-filter architecture): phase 1
    MATERIALIZES per-doc quality attributes to their own parquet
    dataset partitioned by lang (computed once, reused by every
    downstream filter iteration — at 100 TB you re-run the cheap
    attribute JOIN, never the signal computation); phase 2 reads the
    attribute dataset back and keeps docs passing the filter rules
    (word-count + stopword evidence: 327/500 at sf0.01 —
    non-vacuous). The join back to documents is keyed on doc_id;
    partition pruning on lang applies to any per-language filter
    run. Signals come from the same quality_features expressions the
    text_profile oracle pins byte-for-byte."""
    from ..operators.textstats import quality_features
    from ..scratch import scratch_dir

    d = scratch_dir("attrs_") + "/attributes"
    feats = quality_features(F.col("text"))
    (
        t.documents.select(
            "doc_id",
            "lang",
            "source",
            feats["n_words"].alias("n_words"),
            feats["stopword_hits"].alias("stopword_hits"),
        )
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(d)
    )
    attrs = spark.read.parquet(d)
    kept = attrs.filter(
        (F.col("n_words") >= 40) & (F.col("stopword_hits") >= 1)
    )
    # second phase joins attributes back to the corpus by id — the
    # documents side contributes nothing new here (attrs carries the
    # output columns) but the join IS the two-phase contract: text
    # never re-tokenizes in phase 2
    return (
        kept.join(t.documents.select("doc_id"), "doc_id")
        .select("doc_id", "lang", "source", "n_words", "stopword_hits")
    )


@register(
    "dedup_edit_distance_symdelete",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN substr(md5(CAST(doc_id // 2 AS VARCHAR)), 1, 12)
              ELSE concat(substr(md5(CAST(doc_id // 2 AS VARCHAR)), 1, 4),
                          'Z',
                          substr(md5(CAST(doc_id // 2 AS VARCHAR)), 6, 3),
                          'Q',
                          substr(md5(CAST(doc_id // 2 AS VARCHAR)), 10, 3))
         END AS title
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 2
""",
    category="pipeline",
)
def dedup_edit_distance_symdelete(spark, t):
    """Radius-2 edit-distance dedup via the deletion neighborhood
    (operators/dedup.edit_distance_pairs_symdelete — FastSS/
    SymSpell): candidates = equality join on all <=2-deletion
    variants, complete because <=2 edits delete at most 2 aligned
    chars from each side; verify = built-in levenshtein. Planted
    pairs sit at distance EXACTLY 2 (two substitutions, 'Z'/'Q'
    never occur in hex), outside any distance-1 method's reach.
    Brute-force oracle proves completeness at the wider radius."""
    from ..operators import dedup as dd

    g = F.expr("CAST(doc_id DIV 2 AS STRING)")
    md = F.md5(g)
    titled = t.documents.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.substring(md, 1, 12))
        .otherwise(
            F.concat(
                F.substring(md, 1, 4),
                F.lit("Z"),
                F.substring(md, 6, 3),
                F.lit("Q"),
                F.substring(md, 10, 3),
            )
        )
        .alias("title"),
    )
    return dd.edit_distance_pairs_symdelete(
        titled, "doc_id", "title", max_dist=2
    )


@register(
    "corpus_epoch_plan",
    oracle="""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars // 4) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
sm AS (
  SELECT *, CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6)
                 AS DECIMAL(38,6)) AS smooth
  FROM per_src
),
tot AS (SELECT SUM(smooth) AS z FROM sm)
SELECT source, n_docs, n_tokens,
       CAST(ROUND(CAST(smooth AS DOUBLE) / CAST(z AS DOUBLE), 6) AS DOUBLE)
         AS weight,
       CAST(ROUND(145000 * ROUND(CAST(smooth AS DOUBLE) / CAST(z AS DOUBLE), 6), 0)
         AS BIGINT) AS planned_tokens,
       CAST(ROUND(ROUND(145000 * ROUND(CAST(smooth AS DOUBLE) / CAST(z AS DOUBLE), 6), 0)
             / CAST(n_tokens AS DOUBLE), 3) AS DOUBLE) AS epochs,
       ROUND(ROUND(145000 * ROUND(CAST(smooth AS DOUBLE) / CAST(z AS DOUBLE), 6), 0)
             / CAST(n_tokens AS DOUBLE), 3) > 4.0 AS over_cap
FROM sm, tot
""",
    category="pipeline",
)
def corpus_epoch_plan(spark, t):
    """Data-constrained mixing planner (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): given a token
    budget and temperature-smoothed source weights (α=0.5 — the
    multilingual-sampling exponent), emit the per-source epoch
    (repetition) table a training run would consume, flagging
    sources whose plan exceeds the ~4-epoch point of diminishing
    returns. Pure keyed aggregate + 1-row total; determinism
    discipline: sqrt weights round to 6 decimals into DECIMAL(38,6)
    before the normalizing sum, so both engines add exactly."""
    budget = 145_000
    per_src = t.documents.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.expr("n_chars DIV 4")).cast("bigint").alias("n_tokens"),
    )
    sm = per_src.withColumn(
        "smooth",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast(
            "decimal(38,6)"
        ),
    )
    tot = sm.agg(F.sum("smooth").alias("z"))
    w = F.round(
        F.col("smooth").cast("double") / F.col("z").cast("double"), 6
    )
    planned = F.round(F.lit(budget) * w, 0).cast("bigint")
    epochs = F.round(planned / F.col("n_tokens").cast("double"), 3)
    return (
        sm.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            w.cast("double").alias("weight"),
            planned.alias("planned_tokens"),
            epochs.cast("double").alias("epochs"),
            (epochs > 4.0).alias("over_cap"),
        )
    )


@register(
    "text_html_extract",
    oracle="""
WITH seeded AS (
  SELECT doc_id,
         concat(
           '<html><head><script type="text/javascript">var v=', CAST(doc_id AS VARCHAR),
           ';</script><style>p{margin:0}</style></head><body>',
           '<h1 class="t">Doc ', CAST(doc_id AS VARCHAR), '</h1>',
           '<p>', substr(text, 1, 80), ' &amp; more &lt;stuff&gt;</p>',
           '<div class="nav">home | about</div></body></html>'
         ) AS html
  FROM documents
),
ex AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                       '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                     '(?s)<[^>]+>', ' ', 'g'),
                   '&lt;', '<', 'g'),
                 '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
             '&#39;', '''', 'g'),
           '[ \t\n\r\f]+', ' ', 'g')) AS almost
  FROM seeded
),
fin AS (
  SELECT doc_id,
         regexp_extract((SELECT html FROM seeded s WHERE s.doc_id = ex.doc_id),
                        '(?s)<h1[^>]*>(.*?)</h1>', 1) AS title,
         replace(almost, '&amp;', '&') AS text_extracted
  FROM ex
)
SELECT doc_id, title, text_extracted,
       CAST(LEN(text_extracted) AS BIGINT) AS n_chars_extracted
FROM fin
""",
    category="pipeline",
)
def text_html_extract(spark, t):
    """HTML -> text extraction (operators/textstats.html_extract):
    the WET-style first pass of a crawl pipeline — script/style
    subtrees dropped, tags stripped, the five XML entities decoded,
    whitespace collapsed, <h1> title pulled before stripping. The
    synthetic corpus is plain text, so deterministic HTML wrappers
    (entities included) are injected from doc_id/text identically on
    both sides; the oracle replays the identical RE2-safe regex
    chain in SQL."""
    from ..operators import textstats as ts

    seeded = t.documents.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><script type="text/javascript">var v='),
            F.col("doc_id").cast("string"),
            F.lit(";</script><style>p{margin:0}</style></head><body>"),
            F.lit('<h1 class="t">Doc '),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.substring(F.col("text"), 1, 80),
            F.lit(" &amp; more &lt;stuff&gt;</p>"),
            F.lit('<div class="nav">home | about</div></body></html>'),
        ).alias("html"),
    )
    return ts.html_extract(seeded, "doc_id", "html")


@register(
    "corpus_clean_v7",
    oracle="""
WITH seeded AS (
  SELECT doc_id, lang,
         concat(
           '<html><head><script type="text/javascript">var v=', CAST(doc_id AS VARCHAR),
           ';</script><style>p{margin:0}</style></head><body>',
           '<h1 class="t">Doc ', CAST(doc_id AS VARCHAR), '</h1>',
           '<p>', substr(text, 1, 400), ' &amp; more &lt;stuff&gt;</p>',
           '<div class="nav">home | about</div></body></html>'
         ) AS html
  FROM documents
),
extracted AS (
  SELECT doc_id, lang,
         replace(trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                       '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                     '(?s)<[^>]+>', ' ', 'g'),
                   '&lt;', '<', 'g'),
                 '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
             '&#39;', '''', 'g'),
           '[ \t\n\r\f]+', ' ', 'g')), '&amp;', '&') AS text
  FROM seeded
),
chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM extracted
),
ccounts AS (
  SELECT doc_id, c, COUNT(*) AS cc FROM chars WHERE c <> '' GROUP BY doc_id, c
),
ctot AS (SELECT doc_id, SUM(cc) AS n FROM ccounts GROUP BY doc_id),
ent AS (
  SELECT doc_id,
         FLOOR(
           CAST(SUM(CAST(ROUND(-LOG2(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                         AS DECIMAL(38,6)) * cc) AS DOUBLE)
           / CAST(MAX(n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bits_per_char
  FROM ccounts JOIN ctot USING (doc_id) GROUP BY doc_id
),
survivors AS (
  SELECT e.doc_id, e.lang, e.text FROM extracted e JOIN ent USING (doc_id)
  WHERE ent.bits_per_char >= 4.0
),
words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM survivors
),
doc_word AS (
  SELECT doc_id, w, COUNT(*) AS dc FROM words GROUP BY doc_id, w
),
vocab AS (SELECT w, SUM(dc) AS c FROM doc_word GROUP BY w),
tot AS (SELECT SUM(c) AS n_total FROM vocab),
scored AS (
  SELECT doc_id,
         CAST(SUM(dc) AS BIGINT) AS n_tokens,
         FLOOR(
           CAST(SUM(CAST(ROUND(-LOG2(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)), 6)
                         AS DECIMAL(38,6)) * dc) AS DOUBLE)
           / CAST(SUM(dc) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bits_per_token
  FROM doc_word JOIN vocab USING (w), tot
  GROUP BY doc_id
),
tiled AS (
  SELECT s.doc_id, v.lang, s.n_tokens, s.bits_per_token,
         ntile(3) OVER (PARTITION BY v.lang
                        ORDER BY s.bits_per_token, s.doc_id) AS tile
  FROM scored s JOIN survivors v USING (doc_id)
)
SELECT doc_id, lang, n_tokens, bits_per_token,
       CASE tile WHEN 1 THEN 'head' ELSE 'middle' END AS bucket
FROM tiled WHERE tile <= 2
""",
    category="pipeline",
)
def corpus_clean_v7(spark, t):
    """Flagship pipeline v7 — the web-crawl front half this round
    completed, as ONE composed plan: HTML -> text extraction
    (script/style/tag strip + entity decode), character-entropy
    gibberish gate (keep >= 4.0 bits/char), then CCNet per-language
    perplexity terciles over the SURVIVOR corpus (the unigram model
    is fit post-gate, as CCNet fits its LM on cleaned text) keeping
    head+middle. Every stage is a keyed aggregate or map-only
    projection; the oracle replays the identical chain as a single
    CTE stack. Stage costs at 100 TB: regex projection (map-only),
    (doc,char) + (doc,word) partial-agg shuffles, one per-language
    ntile sort."""
    from ..operators import quality as ql
    from ..operators import textstats as ts

    seeded = t.documents.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit('<html><head><script type="text/javascript">var v='),
            F.col("doc_id").cast("string"),
            F.lit(";</script><style>p{margin:0}</style></head><body>"),
            F.lit('<h1 class="t">Doc '),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.substring(F.col("text"), 1, 400),
            F.lit(" &amp; more &lt;stuff&gt;</p>"),
            F.lit('<div class="nav">home | about</div></body></html>'),
        ).alias("html"),
    )
    extracted = ts.html_extract(seeded, "doc_id", "html").join(
        seeded.select("doc_id", "lang"), "doc_id"
    ).select(
        "doc_id", "lang", F.col("text_extracted").alias("text")
    )
    ent = ts.char_entropy(extracted, "doc_id", "text").select(
        "doc_id", "bits_per_char"
    )
    survivors = extracted.join(ent, "doc_id").filter(
        F.col("bits_per_char") >= 4.0
    ).select("doc_id", "lang", "text")
    buckets = ql.ccnet_perplexity_buckets(
        survivors, "doc_id", "text", "lang"
    )
    return buckets.filter(F.col("bucket") != "tail").select(
        "doc_id", "lang", "n_tokens", "bits_per_token", "bucket"
    )


@register(
    "agg_misra_gries_heavy",
    oracle="""
WITH t AS (
  SELECT l_returnflag || l_linestatus AS grp FROM lineitem
),
exact AS (SELECT grp, COUNT(*) AS exact_cnt FROM t GROUP BY grp),
n AS (SELECT COUNT(*) AS n_total FROM t)
SELECT grp,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       exact_cnt * 3 > n_total   AS is_heavy,
       TRUE                      AS guarantee_ok
FROM exact, n
ORDER BY grp
""",
    category="aggregates",
)
def agg_misra_gries_heavy(spark, t):
    """Misra-Gries mergeable heavy hitters (operators/sketches.py
    mg_summaries/mg_merge; Misra & Gries 1982, merge rule Agarwal et
    al. 2013) over the classic TPC-H q1 grouping — the one genuinely
    SKEWED key in the schema (returnflag+linestatus ≈ 50/25/25/1%).
    k=2 counters per partition (fewer than the 4 distinct keys, so
    decrements actually fire in every partition), merged by one SUM
    groupBy over ≤ k rows per partition. The output certifies the MG
    contract the oracle can state as a literal: every key with exact
    count > N/(k+1) is PRESENT in the merged summary with
      exact - N/(k+1) <= c <= exact
    (guarantee_ok — partition-layout-invariant, hence deterministic,
    even though the summary contents themselves are not). Hive's
    analogue is the bounded partial-agg flush of
    ``ql/.../GroupByOperator.java``; MG bounds the partial state at
    O(k) with a proven error instead of a heuristic memory ratio."""
    from ..operators import sketches as sk

    k = 2
    toks = t.lineitem.select(
        F.concat("l_returnflag", "l_linestatus").alias("grp")
    )
    merged = sk.mg_merge(sk.mg_summaries(toks, "grp", k=k)).select(
        F.col("token").alias("grp"), "c"
    )
    exact = toks.groupBy("grp").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    n_total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    joined = exact.join(merged, "grp", "left").crossJoin(
        F.broadcast(n_total)
    )
    is_heavy = F.col("exact_cnt") * (k + 1) > F.col("n_total")
    # c <= exact (no overestimate) and c*(k+1) >= exact*(k+1) - N
    # (undercount bounded by N/(k+1)) hold for EVERY key; presence
    # (c IS NOT NULL) is only guaranteed for heavy ones.
    bounds_ok = (F.col("c") <= F.col("exact_cnt")) & (
        F.col("c") * (k + 1)
        >= F.col("exact_cnt") * (k + 1) - F.col("n_total")
    )
    guarantee = F.when(F.col("c").isNull(), ~is_heavy).otherwise(
        bounds_ok
    )
    return (
        joined.select(
            "grp",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            is_heavy.alias("is_heavy"),
            guarantee.alias("guarantee_ok"),
        )
        .orderBy("grp")
    )


def _unigram_seg_block(tag: str, logp_cte: str, words_cte: str,
                       max_pieces: int = 12) -> str:
    """Segmentation CTE block: enumerate EVERY segmentation of each
    word in ``words_cte`` into pieces of ``logp_cte`` (expand one
    piece per unrolled round, accumulating the path score
    left-to-right exactly like the trainer's Viterbi DP), then take
    the per-word argmax. Brute-force argmax equals Viterbi whenever
    the best full-path score is UNIQUE per word — pinned on the
    oracle SFs in
    tests/test_unigram_lm.py::test_unigram_oracle_preconditions
    (along with the ≤12-piece bound). The argmax scans COMPLETE
    paths only (``start > length(w)``): a word needing more than
    ``max_pieces`` pieces drops out of ``ubest{tag}`` entirely, so a
    precondition violation surfaces as a loud missing-row mismatch
    instead of silently preferring an incomplete prefix path.
    Emits ``ubest{tag}`` (w, toks)."""
    parts = [
        f"""
s{tag}0 AS MATERIALIZED (
  SELECT w, 1 AS start, CAST([] AS VARCHAR[]) AS toks,
         CAST(0 AS DOUBLE) AS score
  FROM {words_cte}
)"""
    ]
    for k in range(max_pieces):
        parts.append(
            f"""
s{tag}{k + 1} AS MATERIALIZED (
  SELECT w, start, toks, score FROM s{tag}{k} WHERE start > length(w)
  UNION ALL
  SELECT t.w, t.start + length(v.piece) AS start,
         list_append(t.toks, v.piece) AS toks,
         t.score + v.lp AS score
  FROM s{tag}{k} t JOIN {logp_cte} v
    ON t.start <= length(t.w)
   AND v.piece = substr(t.w, t.start, length(v.piece))
)"""
        )
    parts.append(
        f"""
ubest{tag} AS MATERIALIZED (
  SELECT w, toks FROM (
    SELECT w, toks,
           ROW_NUMBER() OVER (PARTITION BY w
             ORDER BY score DESC, array_to_string(toks, chr(1))) AS rn
    FROM s{tag}{max_pieces}
    WHERE start > length(w)) _
  WHERE rn = 1
)"""
    )
    return ",".join(parts)


def _unigram_mstep(src: str, out: str) -> str:
    """M-step CTEs: add-one-smooth single chars, drop zero-count
    multis, log-probabilities ``ln(c) - ln(total)`` (integer inputs →
    bit-identical doubles on both engines)."""
    return f"""
{out}_sm AS MATERIALIZED (
  SELECT piece, CASE WHEN length(piece) = 1 THEN cnt + 1 ELSE cnt END AS c
  FROM {src} WHERE cnt > 0 OR length(piece) = 1
),
{out} AS MATERIALIZED (
  SELECT piece, LN(CAST(c AS DOUBLE))
                - (SELECT LN(CAST(SUM(c) AS DOUBLE)) FROM {out}_sm) AS lp
  FROM {out}_sm
)"""


def _unigram_rounds_sql(*, vocab_size: int = 48, seed_size: int = 256,
                        n_rounds: int = 3) -> str:
    """Unrolled-round DuckDB replay of
    ``operators/unigram_lm.train_unigram_lm`` (Kudo 2018 hard-EM,
    shrink-from-seed): substring-seed → n_rounds × (segment → count →
    char-coverage → prune to max(vocab_size - n_chars, 75% of multis)
    → M-step) → final segment + M-step. Emits ``uvocab`` (piece,
    cnt — the final vocab_size-truncated vocabulary) and ``ulogpF``.
    Same static-unroll discipline as pipeline4._bpe_rounds_sql."""
    parts = [
        """
uwf AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) _
  WHERE w <> '' GROUP BY w
),
useed_sub AS MATERIALIZED (
  SELECT sub, SUM(freq) AS cnt FROM (
    SELECT substr(w, i.i, l.l) AS sub, freq
    FROM uwf,
         LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) i,
         LATERAL (SELECT unnest(range(1, least(6, length(w) - i.i + 1) + 1)) AS l) l
  ) _ GROUP BY sub
),
useed AS MATERIALIZED (
  SELECT sub AS piece, cnt FROM useed_sub WHERE length(sub) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT sub AS piece, cnt FROM useed_sub WHERE length(sub) >= 2
    ORDER BY cnt * length(sub) DESC, sub LIMIT """ + str(seed_size) + """) _
)"""
    ]
    parts.append(_unigram_mstep("useed", "ulogp0"))
    for r in range(n_rounds):
        parts.append(_unigram_seg_block(f"r{r}", f"ulogp{r}", "uwf"))
        parts.append(
            f"""
ucnt{r} AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT w, unnest(toks) AS piece FROM ubestr{r}) t
  JOIN uwf USING (w) GROUP BY piece
),
ucov{r} AS MATERIALIZED (
  SELECT piece, cnt FROM ucnt{r}
  UNION ALL
  SELECT piece, 0 AS cnt FROM ulogp{r}
  WHERE length(piece) = 1 AND piece NOT IN (SELECT piece FROM ucnt{r})
),
ukeep{r} AS MATERIALIZED (
  SELECT piece, cnt FROM ucov{r} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM ucov{r} WHERE length(piece) > 1) _
  WHERE rn <= (
    SELECT GREATEST(
      {vocab_size} - (SELECT COUNT(*) FROM ucov{r} WHERE length(piece) = 1),
      CAST(FLOOR((SELECT COUNT(*) FROM ucov{r} WHERE length(piece) > 1)
                 * 0.75) AS BIGINT)))
)"""
        )
        parts.append(_unigram_mstep(f"ukeep{r}", f"ulogp{r + 1}"))
    # final E-step + unpruned M-step + vocab_size truncation
    parts.append(_unigram_seg_block("F", f"ulogp{n_rounds}", "uwf"))
    parts.append(
        f"""
ucntF AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT w, unnest(toks) AS piece FROM ubestF) t
  JOIN uwf USING (w) GROUP BY piece
),
ucovF AS MATERIALIZED (
  SELECT piece, cnt FROM ucntF
  UNION ALL
  SELECT piece, 0 AS cnt FROM ulogp{n_rounds}
  WHERE length(piece) = 1 AND piece NOT IN (SELECT piece FROM ucntF)
)"""
    )
    parts.append(_unigram_mstep("ucovF", "ulogpF"))
    parts.append(
        f"""
ufin AS MATERIALIZED (
  SELECT piece, cnt FROM ucovF WHERE cnt > 0 OR length(piece) = 1
),
uvocab AS MATERIALIZED (
  SELECT piece, cnt FROM ufin WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM ufin WHERE length(piece) > 1) _
  WHERE rn <= (SELECT GREATEST({vocab_size} - COUNT(*), 0)
               FROM ufin WHERE length(piece) = 1)
)"""
    )
    return ",".join(parts)


def _unigram_lm_oracle() -> str:
    """Synthesized oracle for ``vocab_unigram_lm`` (rows-only →
    hash-green upgrade): the final ranked vocab table from the
    unrolled Viterbi-EM replay."""
    return f"""
WITH {_unigram_rounds_sql()}
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) - 1 AS INTEGER)
         AS rank,
       piece, CAST(cnt AS BIGINT) AS piece_count,
       FLOOR(lp * 1000000 + 0.5) / 1000000 AS logprob
FROM uvocab JOIN ulogpF USING (piece)
"""


def _unigram_apply_oracle() -> str:
    """Synthesized oracle for ``vocab_unigram_apply``: train via the
    unrolled replay, restrict log-probs to the final vocab, Viterbi-
    decode the doc_id ≤ 60 slice via the same enumeration argmax,
    and rebuild documents (empty docs keep tokens='', n_pieces=0)."""
    from .oracle_parts import doc_rebuild_sql

    return f"""
WITH {_unigram_rounds_sql()},
uvlp AS MATERIALIZED (
  SELECT piece, lp FROM uvocab JOIN ulogpF USING (piece)
),
uaw AS MATERIALIZED (
  SELECT DISTINCT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE doc_id <= 60) _
  WHERE w <> ''
),
{_unigram_seg_block("A", "uvlp", "uaw")},
uwtok AS MATERIALIZED (
  SELECT w, array_to_string(toks, ' ') AS toks, len(toks) AS nt
  FROM ubestA
),
{doc_rebuild_sql(wtok_cte='uwtok', sums=[('nt', 'n_pieces')],
                 doc_where='WHERE doc_id <= 60')}
"""


@register(
    "vocab_unigram_lm",
    oracle=_unigram_lm_oracle(),
    category="pipeline",
)
def vocab_unigram_lm(spark, t):
    """Unigram-LM subword vocabulary training (Kudo 2018,
    SentencePiece's model; operators/unigram_lm.py) — the shrink-
    from-seed counterpart of vocab_bpe_merges. 3 Viterbi-EM rounds
    over the distinct-word frequency table: seed = frequent
    substrings (freq×len score), E-step = map-only Arrow Viterbi
    pass with the piece table in the closure, M-step + prune on the
    vocab-bounded driver count table. Hard-EM counts are integers,
    so the result is exact under any partitioning."""
    from ..operators import unigram_lm as ul

    return ul.unigram_vocab_table(
        t.documents, "text",
        vocab_size=48, seed_size=256, n_rounds=3, max_piece_len=6,
    )


@register(
    "vocab_unigram_apply",
    oracle=_unigram_apply_oracle(),
    category="pipeline",
)
def vocab_unigram_apply(spark, t):
    """Viterbi tokenization with the learned unigram vocab (the
    deterministic decode of Kudo 2018). Train once (bounded jobs),
    then one map-only Arrow pass with per-word memoization — the
    inference half every training-data pipeline runs over the full
    corpus, so it must not shuffle: only the vocab moves."""
    from ..operators import unigram_lm as ul

    vocab = ul.train_unigram_lm(
        t.documents, "text",
        vocab_size=48, seed_size=256, n_rounds=3, max_piece_len=6,
    )
    return ul.apply_unigram_lm(
        t.documents.filter(F.col("doc_id") <= 60), vocab
    ).orderBy("doc_id")


@register(
    "text_tfidf_topk",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
w AS (SELECT doc_id, w FROM words WHERE w <> ''),
dc AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
dfreq AS (SELECT w, COUNT(*) AS df FROM dc GROUP BY w),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM w),
scored AS (
  SELECT doc_id, w,
         CAST(tf AS BIGINT) AS tf,
         ROUND(CAST(tf AS DOUBLE) *
               (LN((CAST(n_docs AS DOUBLE) + 1.0)
                   / (CAST(df AS DOUBLE) + 1.0)) + 1.0), 6) AS tfidf
  FROM dc JOIN dfreq USING (w), n
),
ranked AS (
  SELECT doc_id, w, tf, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, w) AS rnk
  FROM scored
)
SELECT doc_id, w AS term, CAST(rnk AS INT) AS rnk, tf, tfidf
FROM ranked WHERE rnk <= 3
""",
    category="pipeline",
)
def text_tfidf_topk(spark, t):
    """Per-document TF-IDF keyword extraction with a per-doc top-3
    (operators/textstats.tfidf_topk — smoothed IDF, WindowGroupLimit
    top-k; see the operator docstring for the scale shape)."""
    from ..operators.textstats import tfidf_topk

    return tfidf_topk(t.documents, "doc_id", "text", k=3)


@register(
    "vocab_zipf_fit",
    oracle="""
WITH words AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
w AS (SELECT source, w FROM words WHERE w <> ''),
vocab AS (SELECT source, w, COUNT(*) AS c FROM w GROUP BY source, w),
ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, w) AS rnk
  FROM vocab
),
terms AS (
  SELECT source,
         CAST(ROUND(LN(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(38,6)) AS x,
         CAST(ROUND(LN(CAST(c AS DOUBLE)), 6) AS DECIMAL(38,6)) AS y,
         CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * LN(CAST(rnk AS DOUBLE)), 6)
              AS DECIMAL(38,6)) AS xx,
         CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * LN(CAST(c AS DOUBLE)), 6)
              AS DECIMAL(38,6)) AS xy
  FROM ranked
),
sums AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
         SUM(x) AS sx, SUM(y) AS sy, SUM(xx) AS sxx, SUM(xy) AS sxy
  FROM terms GROUP BY source
)
SELECT source, n_terms,
       FLOOR(CAST(n_terms * sxy - sx * sy AS DOUBLE)
             / CAST(n_terms * sxx - sx * sx AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS zipf_slope
FROM sums WHERE n_terms >= 3
ORDER BY source
""",
    category="pipeline",
)
def vocab_zipf_fit(spark, t):
    """Per-source Zipf-law fit — the dataset-health diagnostic (a
    natural-language source has slope ≈ −1; templated/synthetic junk
    flattens or steepens it). Least-squares slope of ln(freq) on
    ln(rank) in CLOSED FORM: per-term ln values round to 6 and
    accumulate as DECIMAL(38,6) (exact, order-independent — the
    dsum discipline), the final slope is one pround quotient, so
    both engines agree bit-for-bit. Scale shape: one vocab groupBy,
    one per-source rank window, one keyed aggregate; n_terms-bounded
    output."""
    from pyspark.sql import Window

    from ..functions.hive_compat import pround
    from ..operators.dedup import words_col

    w = t.documents.select(
        "source", F.explode(words_col(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    vocab = w.groupBy("source", "w").agg(F.count("*").alias("c"))
    rnk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("c"), F.col("w"))
    )
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    dec = "decimal(38,6)"
    terms = vocab.withColumn("rnk", rnk).select(
        "source",
        F.round(lx, 6).cast(dec).alias("x"),
        F.round(ly, 6).cast(dec).alias("y"),
        F.round(lx * lx, 6).cast(dec).alias("xx"),
        F.round(lx * ly, 6).cast(dec).alias("xy"),
    )
    sums = terms.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("xy").alias("sxy"),
    )
    slope = pround(
        (
            F.col("n_terms") * F.col("sxy")
            - F.col("sx") * F.col("sy")
        ).cast("double")
        / (
            F.col("n_terms") * F.col("sxx")
            - F.col("sx") * F.col("sx")
        ).cast("double")
    )
    return (
        sums.filter(F.col("n_terms") >= 3)
        .select("source", "n_terms", slope.alias("zipf_slope"))
        .orderBy("source")
    )


@register(
    "quality_kneser_ney",
    oracle="""
WITH tr AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id % 2 = 0
),
ho AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id % 2 = 1
),
tg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM tr, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
  WHERE len(w) >= 2
),
bigrams AS (SELECT w1, w2, COUNT(*) AS c12 FROM tg GROUP BY w1, w2),
context AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS nf FROM bigrams GROUP BY w1
),
cont AS (SELECT w2, COUNT(*) AS tc FROM bigrams GROUP BY w2),
tot AS (
  SELECT (SELECT COUNT(*) FROM bigrams) AS t_types,
         (SELECT COUNT(DISTINCT u.w) FROM
            (SELECT unnest(w) AS w FROM tr) u) AS v_size
),
sg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM ho, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
  WHERE len(w) >= 2
),
doc_gram AS (
  SELECT doc_id, w1, w2, COUNT(*) AS dc FROM sg GROUP BY doc_id, w1, w2
),
scored AS (
  SELECT d.doc_id, d.dc, b.c12,
         CASE WHEN c.c1 IS NOT NULL THEN
             GREATEST(CAST(COALESCE(b.c12, 0) AS DOUBLE) - 0.75, 0.0)
               / CAST(c.c1 AS DOUBLE)
             + 0.75 * CAST(c.nf AS DOUBLE) / CAST(c.c1 AS DOUBLE)
               * ((CAST(COALESCE(n.tc, 0) AS DOUBLE) + 0.5)
                  / (CAST(t.t_types AS DOUBLE)
                     + 0.5 * (CAST(t.v_size AS DOUBLE) + 1.0)))
           ELSE
             (CAST(COALESCE(n.tc, 0) AS DOUBLE) + 0.5)
             / (CAST(t.t_types AS DOUBLE)
                + 0.5 * (CAST(t.v_size AS DOUBLE) + 1.0))
           END AS p
  FROM doc_gram d
  LEFT JOIN bigrams b USING (w1, w2)
  LEFT JOIN context c USING (w1)
  LEFT JOIN cont n USING (w2)
  CROSS JOIN tot t
)
SELECT doc_id,
       CAST(SUM(dc) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN c12 IS NULL THEN dc ELSE 0 END) AS BIGINT)
         AS n_unseen,
       FLOOR(
         CAST(SUM(CAST(ROUND(-LOG2(p), 6) AS DECIMAL(38,6)) * dc)
              AS DOUBLE)
         / CAST(SUM(dc) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bits_per_bigram
FROM scored GROUP BY doc_id
""",
    category="pipeline",
)
def quality_kneser_ney(spark, t):
    """Interpolated Kneser-Ney bigram perplexity on held-out docs
    (operators/quality.kneser_ney_bits): even doc_ids train the
    model, odd doc_ids score, so absolute discounting AND the
    continuation backoff genuinely fire (n_unseen reported). The
    smoothing tier above quality_stupid_backoff — same three keyed
    left joins + one (T, V) scalar broadcast, probabilities in
    closed form over integer counts, DECIMAL-exact bit sums."""
    from ..operators.quality import kneser_ney_bits

    return kneser_ney_bits(
        t.documents.filter(F.col("doc_id") % 2 == 0),
        t.documents.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
    )


@register(
    "corpus_clean_v8",
    oracle="""
WITH tr AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id % 2 = 0
),
ho AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id % 2 = 1
),
tg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM tr, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
  WHERE len(w) >= 2
),
bigrams AS (SELECT w1, w2, COUNT(*) AS c12 FROM tg GROUP BY w1, w2),
context AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS nf FROM bigrams GROUP BY w1
),
cont AS (SELECT w2, COUNT(*) AS tc FROM bigrams GROUP BY w2),
tot AS (
  SELECT (SELECT COUNT(*) FROM bigrams) AS t_types,
         (SELECT COUNT(DISTINCT u.w) FROM
            (SELECT unnest(w) AS w FROM tr) u) AS v_size
),
sg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM ho, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
  WHERE len(w) >= 2
),
doc_gram AS (
  SELECT doc_id, w1, w2, COUNT(*) AS dc FROM sg GROUP BY doc_id, w1, w2
),
scored AS (
  SELECT d.doc_id, d.dc,
         CASE WHEN c.c1 IS NOT NULL THEN
             GREATEST(CAST(COALESCE(b.c12, 0) AS DOUBLE) - 0.75, 0.0)
               / CAST(c.c1 AS DOUBLE)
             + 0.75 * CAST(c.nf AS DOUBLE) / CAST(c.c1 AS DOUBLE)
               * ((CAST(COALESCE(n.tc, 0) AS DOUBLE) + 0.5)
                  / (CAST(t.t_types AS DOUBLE)
                     + 0.5 * (CAST(t.v_size AS DOUBLE) + 1.0)))
           ELSE
             (CAST(COALESCE(n.tc, 0) AS DOUBLE) + 0.5)
             / (CAST(t.t_types AS DOUBLE)
                + 0.5 * (CAST(t.v_size AS DOUBLE) + 1.0))
           END AS p
  FROM doc_gram d
  LEFT JOIN bigrams b USING (w1, w2)
  LEFT JOIN context c USING (w1)
  LEFT JOIN cont n USING (w2)
  CROSS JOIN tot t
),
doc_bits AS (
  SELECT doc_id,
         FLOOR(
           CAST(SUM(CAST(ROUND(-LOG2(p), 6) AS DECIMAL(38,6)) * dc)
                AS DOUBLE)
           / CAST(SUM(dc) AS DOUBLE) * 1000000 + 0.5) / 1000000
           AS bits_per_bigram
  FROM scored GROUP BY doc_id
),
tiled AS (
  SELECT b.doc_id, d.lang, d.source, d.text, b.bits_per_bigram,
         ntile(2) OVER (PARTITION BY d.lang
                        ORDER BY b.bits_per_bigram, b.doc_id) AS tile
  FROM doc_bits b JOIN documents d USING (doc_id)
),
survivors AS (SELECT * FROM tiled WHERE tile = 1),
words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM survivors
),
sw AS (SELECT doc_id, w FROM words WHERE w <> ''),
sdc AS (SELECT doc_id, w, COUNT(*) AS tf FROM sw GROUP BY doc_id, w),
sdf AS (SELECT w, COUNT(*) AS df FROM sdc GROUP BY w),
sn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM sw),
kw AS (
  SELECT doc_id, w,
         ROUND(CAST(tf AS DOUBLE) *
               (LN((CAST(n_docs AS DOUBLE) + 1.0)
                   / (CAST(df AS DOUBLE) + 1.0)) + 1.0), 6) AS tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY CAST(tf AS DOUBLE) *
                    (LN((CAST(n_docs AS DOUBLE) + 1.0)
                        / (CAST(df AS DOUBLE) + 1.0)) + 1.0) DESC, w
         ) AS rnk
  FROM sdc JOIN sdf USING (w), sn
)
SELECT s.doc_id, s.lang, s.source, s.bits_per_bigram,
       k.w AS top_term, k.tfidf AS top_tfidf
FROM survivors s JOIN kw k USING (doc_id)
WHERE k.rnk = 1
""",
    category="pipeline",
)
def corpus_clean_v8(spark, t):
    """Flagship pipeline v8 (LM-quality back half): held-out
    Kneser-Ney perplexity (even docs train, odd docs score —
    operators/quality.kneser_ney_bits) → keep the LOWER per-language
    half (exact ntile(2) on the (bits, doc_id) total order, the
    threshold-free CCNet-style gate) → TF-IDF keyword tagging REFIT
    on the survivor corpus (operators/textstats.tfidf_topk, top-1 —
    the dataset-card tag; IDF from survivors only, as v7 refits its
    LM post-gate). ONE composed plan vs one CTE-stack oracle: the
    model tables are keyed aggregates, the gate is one window, the
    tagger adds two keyed aggregates + a WindowGroupLimit top-k —
    nothing rescans raw text more than the three tokenizations."""
    from pyspark.sql import Window

    from ..operators.quality import kneser_ney_bits
    from ..operators.textstats import tfidf_topk
    from ..operators.util import materialize

    docs = t.documents
    bits = kneser_ney_bits(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
    ).select("doc_id", "bits_per_bigram")
    tiled = bits.join(docs, "doc_id").withColumn(
        "tile",
        F.ntile(2).over(
            Window.partitionBy("lang").orderBy(
                "bits_per_bigram", "doc_id"
            )
        ),
    )
    # the survivor set feeds the tfidf refit AND the final join —
    # persist the branch point or the whole KN-score + window subtree
    # replays per branch
    survivors = materialize(
        tiled.filter(F.col("tile") == 1).select(
            "doc_id", "lang", "source", "text", "bits_per_bigram"
        ),
        "corpus_clean_v8.survivors",
    )
    kw = tfidf_topk(survivors, "doc_id", "text", k=1)
    return survivors.join(kw, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        "bits_per_bigram",
        F.col("term").alias("top_term"),
        F.col("tfidf").alias("top_tfidf"),
    )


@register(
    "join_interval_overlap",
    oracle="""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS s,
         date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
           + CAST(l_quantity AS INT) AS e
  FROM lineitem WHERE l_orderkey <= 2000
),
promo AS (
  SELECT n_nationkey AS promo_id,
         50 + n_nationkey * 90 AS ps,
         75 + n_nationkey * 90 AS pe
  FROM nation
)
SELECT l_orderkey, l_linenumber, promo_id,
       CAST(LEAST(e, pe) - GREATEST(s, ps) + 1 AS BIGINT) AS overlap_days
FROM li JOIN promo ON s <= pe AND ps <= e
ORDER BY l_orderkey, l_linenumber, promo_id
""",
    category="joins",
)
def join_interval_overlap(spark, t):
    """Interval × interval OVERLAP join (operators/rangejoin.
    interval_overlap_join) — shipment exposure windows [shipdate,
    shipdate + quantity days] against 25 promo windows. The pure
    inequality predicate would plan nested-loop; the banded form is
    an EQUI-join on 32-day bands with the canonical-band rule
    (emit only where band == band(greatest(lo))), so the result is
    provably complete AND duplicate-free with no DISTINCT exchange.
    The registry-wide nested-loop sweep holds this query to that
    claim."""
    from ..operators.rangejoin import interval_overlap_join

    s = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
    )
    li = t.lineitem.filter(F.col("l_orderkey") <= 2000).select(
        "l_orderkey",
        "l_linenumber",
        s.alias("s"),
        (s + F.col("l_quantity").cast("int")).alias("e"),
    )
    promo = t.nation.select(
        F.col("n_nationkey").alias("promo_id"),
        (50 + F.col("n_nationkey") * 90).alias("ps"),
        (75 + F.col("n_nationkey") * 90).alias("pe"),
    )
    out = interval_overlap_join(li, promo, "s", "e", "ps", "pe", band=32)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "promo_id",
        (
            F.least(F.col("e"), F.col("pe"))
            - F.greatest(F.col("s"), F.col("ps"))
            + 1
        ).cast("bigint").alias("overlap_days"),
    ).orderBy("l_orderkey", "l_linenumber", "promo_id")


@register(
    "corpus_stats_incremental",
    oracle="""
WITH docs AS (
  SELECT doc_id, source, len(string_split(lower(text), ' ')) AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS qk
  FROM documents
),
ranked AS (
  SELECT source, n_toks, qk,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY qk) AS r
  FROM docs
),
samp AS (
  SELECT source,
         ROUND(quantile_cont(CAST(n_toks AS DOUBLE), 0.5), 6)
           AS p50_sample
  FROM ranked WHERE r <= 64 GROUP BY source
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(MAX(n_toks) AS BIGINT) AS max_tokens,
       MAX(s.p50_sample) AS p50_sample
FROM docs d JOIN samp s USING (source)
GROUP BY d.source ORDER BY d.source
""",
    category="pipeline",
)
def corpus_stats_incremental(spark, t):
    """Incremental corpus-stats maintenance — the nightly-ingest
    discipline at 100 TB: per-source stats are kept as MERGEABLE
    state (counts/sums/max fold by re-aggregation; the quantile is
    the deterministic bottom-k sample of operators/sketches.qsketch —
    bottomk(A∪B) == bottomk(bottomk(A)∪bottomk(B))), so day-2 stats
    = stored day-1 partials ⊕ day-2 partials. The OLD corpus is
    NEVER re-scanned: batch 1 (doc_id % 3 != 2) materializes its
    partial table to parquet, batch 2 computes only its own partials,
    and the merge is a KB-sized groupBy. The oracle recomputes from
    the full corpus — proving merge == recompute exactly."""
    from pyspark.sql import Window

    from ..scratch import scratch_dir

    def partials(docs):
        base = docs.select(
            "source",
            F.size(F.split(F.lower(F.col("text")), " ")).alias("n_toks"),
            F.md5(F.col("doc_id").cast("string")).alias("qk"),
        )
        stats = base.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.max("n_toks").alias("max_tokens"),
        )
        r = F.row_number().over(
            Window.partitionBy("source").orderBy("qk")
        )
        sample = (
            base.withColumn("r", r).filter(F.col("r") <= 64)
            .select("source", "qk", "n_toks")
        )
        return stats, sample

    state = scratch_dir("corpus_stats_") + "/state"
    b1_stats, b1_sample = partials(
        t.documents.filter(F.col("doc_id") % 3 != 2)
    )
    b1_stats.write.parquet(state + "/stats")
    b1_sample.write.parquet(state + "/sample")

    b2_stats, b2_sample = partials(
        t.documents.filter(F.col("doc_id") % 3 == 2)
    )
    merged_stats = (
        spark.read.parquet(state + "/stats")
        .unionByName(b2_stats)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.max("max_tokens").cast("bigint").alias("max_tokens"),
        )
    )
    r = F.row_number().over(Window.partitionBy("source").orderBy("qk"))
    merged_sample = (
        spark.read.parquet(state + "/sample")
        .unionByName(b2_sample)
        .withColumn("r", r)
        .filter(F.col("r") <= 64)
    )
    p50 = merged_sample.groupBy("source").agg(
        F.round(
            F.expr("percentile(CAST(n_toks AS DOUBLE), 0.5)"), 6
        ).alias("p50_sample")
    )
    return (
        merged_stats.join(p50, "source")
        .select("source", "n_docs", "n_tokens", "max_tokens", "p50_sample")
        .orderBy("source")
    )


@register(
    "sample_exact_split",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang AS stratum,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('split3-v1' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rnk
  FROM documents
),
counts AS (SELECT stratum, COUNT(*) AS n FROM ranked GROUP BY stratum),
alloc AS (
  SELECT stratum,
         CAST((n*80 - (n*80)%100)/100 AS BIGINT)
           + CASE WHEN 1 + CAST((n*10)%100 > (n*80)%100 AS INT)
                        + CAST((n*10)%100 > (n*80)%100 AS INT)
                  <= n - CAST((n*80 - (n*80)%100)/100 AS BIGINT)
                       - 2*CAST((n*10 - (n*10)%100)/100 AS BIGINT)
                  THEN 1 ELSE 0 END AS c_tr,
         CAST((n*10 - (n*10)%100)/100 AS BIGINT)
           + CASE WHEN 1 + CAST((n*80)%100 >= (n*10)%100 AS INT)
                        + CAST((n*10)%100 > (n*10)%100 AS INT)
                  <= n - CAST((n*80 - (n*80)%100)/100 AS BIGINT)
                       - 2*CAST((n*10 - (n*10)%100)/100 AS BIGINT)
                  THEN 1 ELSE 0 END AS c_va
  FROM counts
)
SELECT r.doc_id, r.stratum, CAST(r.rnk AS INT) AS rnk,
       CASE WHEN r.rnk <= a.c_tr THEN 'train'
            WHEN r.rnk <= a.c_tr + a.c_va THEN 'val'
            ELSE 'test' END AS bucket
FROM ranked r JOIN alloc a USING (stratum)
ORDER BY stratum, rnk
""",
    category="pipeline",
)
def sample_exact_split(spark, t):
    """Exact-count train/val/test split, 80/10/10 per language, via
    largest-remainder allocation (operators/corpus.
    exact_proportion_split): integer arithmetic end to end, docs fill
    buckets in md5-shuffled rank order — deterministic on any
    partitioning, and per-stratum sizes are exactly the Hamilton
    apportionment (the hash-bucket split gives proportions only in
    expectation). One rank window + a |strata|-row broadcast."""
    from ..operators.corpus import exact_proportion_split

    return exact_proportion_split(
        t.documents, "doc_id", "lang", pcts=(80, 10, 10)
    ).orderBy("stratum", "rnk")


@register(
    "agg_weighted_median",
    oracle="""
WITH w AS (
  SELECT l_returnflag AS flag, l_extendedprice AS v,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
),
cum AS (
  SELECT flag, v, wt,
         SUM(wt) OVER (PARTITION BY flag ORDER BY v, wt
                       ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(wt) OVER (PARTITION BY flag) AS tw
  FROM w
)
SELECT flag,
       MIN(v)                  AS weighted_median,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM cum WHERE cw * 2 >= tw
GROUP BY flag ORDER BY flag
""",
    category="aggregates",
)
def agg_weighted_median(spark, t):
    """Grouped WEIGHTED median (quantity-weighted price per return
    flag) — the aggregate Hive/Spark both lack natively: the smallest
    value whose cumulative weight reaches half the group total, via
    one cumulative-sum window + an integer threshold compare
    (cw·2 ≥ tw — no float division anywhere, so both engines agree
    exactly). Scale note: one keyed exchange for the window; for a
    true full-corpus percentile the mergeable bottom-k sketch is the
    cheap path — this is the EXACT tier."""
    from pyspark.sql import Window

    w = t.lineitem.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    win = (
        Window.partitionBy("flag")
        .orderBy("v", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = w.select(
        "flag",
        "v",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(Window.partitionBy("flag")).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("v").alias("weighted_median"),
            F.max("tw").cast("bigint").alias("total_weight"),
        )
        .orderBy("flag")
    )


@register(
    "corpus_quality_contract",
    oracle="""
WITH checks AS (
  SELECT 'doc_id_unique' AS check_name,
         CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_violations,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM documents
  UNION ALL
  SELECT 'text_nonempty',
         CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'lang_in_domain',
         CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','it','pt',
                                         'nl','pl','ru','ja','zh','ko')
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'tokens_in_range',
         CAST(SUM(CASE WHEN len(string_split(lower(text), ' '))
                            NOT BETWEEN 1 AND 100000
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'source_nonnull',
         CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM documents
)
SELECT check_name, n_violations, n_rows,
       n_violations = 0 AS passed
FROM checks ORDER BY check_name
""",
    category="pipeline",
)
def corpus_quality_contract(spark, t):
    """Data-contract validation (the dbt-tests / Deequ pattern — a
    pre-training corpus ships with EXPECTATIONS, not hope): one pass
    per contract family over the corpus producing a (check,
    violations, rows, passed) audit table — uniqueness, non-empty
    text, language domain, token-count range, source completeness.
    Every check is a SUM(CASE) aggregate with map-side combine;
    uniqueness is the one count-distinct. At 100 TB this is the
    nightly gate BEFORE any training job reads the table."""
    d = t.documents
    n_tok = F.size(F.split(F.lower(F.col("text")), " "))
    langs = [
        "en", "de", "fr", "es", "it", "pt",
        "nl", "pl", "ru", "ja", "zh", "ko",
    ]

    def check(name, bad):
        return d.agg(
            F.lit(name).alias("check_name"),
            F.sum(F.when(bad, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )

    uniq = d.agg(
        F.lit("doc_id_unique").alias("check_name"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id"))
        .cast("bigint")
        .alias("n_violations"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    out = (
        uniq.unionByName(
            check(
                "text_nonempty",
                F.col("text").isNull() | (F.col("text") == ""),
            )
        )
        .unionByName(check("lang_in_domain", ~F.col("lang").isin(langs)))
        .unionByName(
            check("tokens_in_range", ~n_tok.between(1, 100000))
        )
        .unionByName(check("source_nonnull", F.col("source").isNull()))
    )
    return out.select(
        "check_name",
        "n_violations",
        "n_rows",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("check_name")


@register(
    "retrieval_rm3_expansion",
    oracle="""
WITH corpus AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id >= 5
),
q AS (
  SELECT doc_id AS query_id,
         list_distinct(string_split(lower(text), ' ')) AS qw
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
qt AS (SELECT query_id, unnest(qw) AS term FROM q),
c1 AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(ROUND(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))),
           6) AS DECIMAL(38,6)) AS c
  FROM qt JOIN tf USING (term) JOIN dft USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats
),
s1 AS (
  SELECT query_id, doc_id, SUM(c) AS s FROM c1 GROUP BY 1, 2
),
top3 AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s DESC, doc_id) AS r
    FROM s1
  ) WHERE r <= 3
),
fbtf AS (
  SELECT t3.query_id, tf.term, SUM(tf.tf) AS fbtf
  FROM top3 t3 JOIN tf ON t3.doc_id = tf.doc_id
  GROUP BY 1, 2
),
cand AS (
  SELECT f.query_id, f.term, f.fbtf
  FROM fbtf f ANTI JOIN qt ON f.query_id = qt.query_id
                          AND f.term = qt.term
),
expt AS (
  SELECT query_id, term FROM (
    SELECT c.query_id, c.term,
           ROW_NUMBER() OVER (
             PARTITION BY c.query_id
             ORDER BY ROUND(c.fbtf *
               ln(1 + (n_docs - d.df + 0.5) / (d.df + 0.5)), 6) DESC,
               c.term
           ) AS r
    FROM cand c JOIN dft d USING (term), stats
  ) WHERE r <= 3
),
c2 AS (
  SELECT e.query_id, tf.doc_id,
         CAST(ROUND(
           (0.5 * ln(1 + (n_docs - df + 0.5) / (df + 0.5)))
           * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))),
           6) AS DECIMAL(38,6)) AS c
  FROM expt e JOIN tf USING (term) JOIN dft USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats
),
allc AS (
  SELECT query_id, doc_id, s AS c FROM s1
  UNION ALL
  SELECT query_id, doc_id, c FROM c2
)
SELECT query_id, doc_id,
       FLOOR(CAST(SUM(c) AS DOUBLE) * 10000 + 0.5) / 10000 AS score
FROM allc GROUP BY 1, 2
""",
    category="pipeline",
)
def retrieval_rm3_expansion(spark, t):
    """Pseudo-relevance feedback retrieval (RM3-lite;
    operators/retrieval.rm3_expand_rescore): BM25 first pass → top-3
    feedback docs per query → top-3 non-query expansion terms
    (feedback tf × corpus idf) → rescore with expansion
    contributions at half weight. The vocabulary-mismatch fix every
    lexical retriever eventually grows; contributions round to 6
    into DECIMAL(38,6) so both scoring passes are order-exact."""
    from ..operators.retrieval import rm3_expand_rescore

    d = t.documents
    return rm3_expand_rescore(
        d.filter(F.col("doc_id") >= 5),
        d.filter(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("query_id"), "text"
        ),
    )


@register(
    "quality_gopher_rules",
    oracle="""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' ### ... ## ... #'
              ELSE text END AS text
  FROM documents
),
sig AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(replace(text, ' ', '')) AS n_nonspace,
         (len(text) - len(replace(text, '#', ''))) AS n_hash,
         (len(text) - len(replace(text, '...', ''))) / 3 AS n_ellipsis
  FROM seeded
),
rules AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         FLOOR(CAST(n_nonspace AS DOUBLE) / CAST(n_words AS DOUBLE)
               * 1000000 + 0.5) / 1000000 AS mean_word_len,
         FLOOR(CAST(n_hash + n_ellipsis AS DOUBLE)
               / CAST(n_words AS DOUBLE) * 1000000 + 0.5) / 1000000
           AS symbol_ratio
  FROM sig
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio,
       n_words BETWEEN 50 AND 100000          AS r_wordcount,
       mean_word_len BETWEEN 3 AND 10         AS r_mean_wlen,
       symbol_ratio <= 0.1                    AS r_symbol,
       (n_words BETWEEN 50 AND 100000)
         AND (mean_word_len BETWEEN 3 AND 10)
         AND symbol_ratio <= 0.1              AS gopher_keep
FROM rules ORDER BY doc_id
""",
    category="pipeline",
)
def quality_gopher_rules(spark, t):
    """The Gopher rule battery (Rae et al. 2021 Table A1 — the
    word-level subset that is meaningful on this corpus): word-count
    bounds [50, 100k] (223/500 docs fail at sf0.01 — genuinely
    gating), mean-word-length bounds [3, 10], and the
    symbol-to-word ratio (# and ... occurrences; deterministic
    symbol noise injected on doc_id % 7 so the rule fires) — plus
    the combined keep flag. Pure string arithmetic (replace-length
    counting, no regex), map-only, pround on the two
    small-denominator ratios. The stopword rule lives in
    text_profile; the line-shape rules need newlines this corpus
    lacks — both documented as out of battery here."""
    from ..functions.hive_compat import pround

    text = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" ### ... ## ... #")),
    ).otherwise(F.col("text"))
    d = t.documents.select("doc_id", text.alias("text"))
    n_words = F.size(F.split(F.col("text"), " "))
    n_nonspace = F.length(F.regexp_replace("text", " ", ""))
    n_hash = F.length("text") - F.length(
        F.regexp_replace("text", "#", "")
    )
    n_ellipsis = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / 3
    sig = d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        pround(
            n_nonspace.cast("double") / n_words.cast("double")
        ).alias("mean_word_len"),
        pround(
            (n_hash + n_ellipsis).cast("double")
            / n_words.cast("double")
        ).alias("symbol_ratio"),
    )
    r_wc = F.col("n_words").between(50, 100000)
    r_mw = F.col("mean_word_len").between(3, 10)
    r_sy = F.col("symbol_ratio") <= 0.1
    return sig.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        r_wc.alias("r_wordcount"),
        r_mw.alias("r_mean_wlen"),
        r_sy.alias("r_symbol"),
        (r_wc & r_mw & r_sy).alias("gopher_keep"),
    ).orderBy("doc_id")


@register(
    "emb_label_centroid_drift",
    oracle="""
WITH dims AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS v
  FROM embeddings
),
cent AS (
  -- DECIMAL(18,6): small enough that s*s fits a 38-digit decimal
  -- EXACTLY on both engines (Spark reduces the scale of overflowing
  -- decimal products silently — 38,6 x 38,6 would round to scale 6)
  SELECT label, pos,
         CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(38,6)))
              AS DECIMAL(18,6)) AS s
  FROM dims GROUP BY label, pos
),
norms AS (
  SELECT label, SUM(s * s) AS n2 FROM cent GROUP BY label
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(a.s * b.s) AS dot
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       FLOOR(CAST(dot AS DOUBLE)
             / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS centroid_cosine
FROM dots
JOIN norms na ON na.label = label_a
JOIN norms nb ON nb.label = label_b
ORDER BY label_a, label_b
""",
    category="pipeline",
)
def emb_label_centroid_drift(spark, t):
    """Embedding-space drift matrix: pairwise cosine between
    per-label centroids — the cheap monitor for cluster collapse /
    source contamination in embedding space (labels whose centroids
    converge are merging). EXACT despite floats: cosine is scale-
    invariant, so per-dim SUMS stand in for means (no division), the
    per-dim sums accumulate 6-rounded DECIMALs, and dot/norms are
    DECIMAL products summed exactly — one double op chain (the final
    quotient+sqrt) under pround. Scale shape: posexplode →
    (label, dim) keyed agg with map-side combine; everything after
    is a |labels|×dims table (640 rows here) — at any corpus size
    the pairwise stage is label-count-bounded, never row-bounded."""
    from ..functions.hive_compat import pround

    dims = t.embeddings.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    cent = dims.groupBy("label", "pos").agg(
        # (18,6): products stay exact — a (38,6)x(38,6) multiply
        # overflows precision 38 and Spark silently rounds its scale
        F.sum(
            F.round(F.col("v").cast("double"), 6).cast("decimal(38,6)")
        )
        .cast("decimal(18,6)")
        .alias("s")
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("n2")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("n2").alias("na")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("n2").alias("nb")
    )
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            pround(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("na").cast("double")
                    * F.col("nb").cast("double")
                )
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "vocab_heaps_fit",
    oracle="""
WITH toks AS (
  SELECT doc_id, generate_subscripts(string_split(lower(text), ' '), 1)
           AS idx,
         unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
pos AS (
  SELECT w, ROW_NUMBER() OVER (ORDER BY doc_id, idx) AS p FROM toks
),
firsts AS (SELECT w, MIN(p) AS fp FROM pos GROUP BY w),
n AS (SELECT COUNT(*) AS n_total FROM pos),
cks AS (
  SELECT k, (n_total * k - (n_total * k) % 10) / 10 AS n_at
  FROM n, (SELECT unnest(range(1, 11)) AS k)
),
growth AS (
  SELECT c.k, CAST(c.n_at AS BIGINT) AS n_at,
         CAST((SELECT COUNT(*) FROM firsts f WHERE f.fp <= c.n_at)
              AS BIGINT) AS v_at
  FROM cks c
),
terms AS (
  SELECT k, n_at, v_at,
         CAST(ROUND(LN(CAST(n_at AS DOUBLE)), 6) AS DECIMAL(38,6)) AS x,
         CAST(ROUND(LN(CAST(v_at AS DOUBLE)), 6) AS DECIMAL(38,6)) AS y,
         CAST(ROUND(LN(CAST(n_at AS DOUBLE)) * LN(CAST(n_at AS DOUBLE)),
                    6) AS DECIMAL(38,6)) AS xx,
         CAST(ROUND(LN(CAST(n_at AS DOUBLE)) * LN(CAST(v_at AS DOUBLE)),
                    6) AS DECIMAL(38,6)) AS xy
  FROM growth
),
fit AS (
  SELECT FLOOR(CAST(10 * SUM(xy) - SUM(x) * SUM(y) AS DOUBLE)
               / CAST(10 * SUM(xx) - SUM(x) * SUM(x) AS DOUBLE)
               * 1000000 + 0.5) / 1000000 AS heaps_beta
  FROM terms
)
SELECT t.k, t.n_at, t.v_at, f.heaps_beta
FROM terms t, fit f ORDER BY t.k
""",
    category="pipeline",
)
def vocab_heaps_fit(spark, t):
    """Heaps'-law vocabulary growth fit — the Zipf fit's companion
    diagnostic: V(n) ≈ K·n^β over ten corpus-prefix checkpoints;
    natural language grows β ≈ 0.5, a saturating synthetic/templated
    vocabulary flattens toward 0 (this corpus: 31 words — the fit
    SHOWS the saturation, which is the point of the monitor). Global
    token positions come from doc-offset prefix sums + in-doc index
    (at warehouse scale the doc-offset window is
    corpus.distributed_prefix_sum's block scan; |docs| rows here),
    first-occurrence = min(position) per token, checkpoints are a
    broadcast of 10 rows, and the regression is the same
    DECIMAL-exact closed form as vocab_zipf_fit."""
    from pyspark.sql import Window

    from ..functions.hive_compat import pround

    words = F.split(F.lower(F.col("text")), " ")
    toks = t.documents.select(
        "doc_id", F.posexplode(words).alias("idx0", "w")
    ).select("doc_id", (F.col("idx0") + 1).alias("idx"), "w")
    # global position = doc offset + in-doc index: the offset window
    # runs over the |docs|-row count table (block-scan prefix sum at
    # warehouse scale), NEVER a global sort of the token stream
    doc_counts = toks.groupBy("doc_id").agg(F.count("*").alias("nt"))
    woff = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = doc_counts.select(
        "doc_id",
        F.coalesce(F.sum("nt").over(woff), F.lit(0)).alias("off"),
    )
    firsts = (
        toks.join(offsets, "doc_id")
        .select("w", (F.col("off") + F.col("idx")).alias("p"))
        .groupBy("w")
        .agg(F.min("p").alias("fp"))
    )
    n_total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    cks = ks.crossJoin(F.broadcast(n_total)).select(
        "k",
        (
            (F.col("n_total") * F.col("k")
             - (F.col("n_total") * F.col("k")) % 10) / 10
        ).cast("long").alias("n_at"),
    )
    growth = (
        firsts.crossJoin(F.broadcast(cks))
        .groupBy("k", "n_at")
        .agg(
            F.sum(F.when(F.col("fp") <= F.col("n_at"), 1).otherwise(0))
            .cast("bigint")
            .alias("v_at")
        )
    )
    lx = F.log(F.col("n_at").cast("double"))
    ly = F.log(F.col("v_at").cast("double"))
    dec = "decimal(38,6)"
    terms = growth.select(
        "k",
        F.col("n_at").cast("bigint").alias("n_at"),
        "v_at",
        F.round(lx, 6).cast(dec).alias("x"),
        F.round(ly, 6).cast(dec).alias("y"),
        F.round(lx * lx, 6).cast(dec).alias("xx"),
        F.round(lx * ly, 6).cast(dec).alias("xy"),
    )
    fit = terms.agg(
        pround(
            (10 * F.sum("xy") - F.sum("x") * F.sum("y")).cast("double")
            / (10 * F.sum("xx") - F.sum("x") * F.sum("x")).cast("double")
        ).alias("heaps_beta")
    )
    return (
        terms.select("k", "n_at", "v_at")
        .crossJoin(F.broadcast(fit))
        .orderBy("k")
    )
