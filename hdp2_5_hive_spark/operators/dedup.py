"""Deduplication operators for large-scale document pipelines.

The reference engine has no dedup operators (its surface is SQL-only);
these are the training-data-pipeline extensions (BASELINE.json
north-star). All are pure DataFrame compositions — no Python in the
row path — so they scale as ordinary shuffles:

- exact dedup: hash-groupBy on a normalized fingerprint. Map-side
  partial agg collapses duplicates before the shuffle.
- MinHash + LSH near-dedup: shingle → k minhashes → banded bucket
  join. Candidate generation is |bands|×N rows hashed into buckets;
  only same-bucket pairs are compared, then exact-verified. At 100 TB
  the bucket join replaces the O(N²) pair enumeration; skewed buckets
  (boilerplate docs) are handled by AQE skew-join.
- SimHash: 64-bit sign-vector fingerprint via per-token hash bit
  votes; near-dups differ in few bits.

Determinism: every hash is xxhash64 with fixed seeds, so results are
reproducible across runs/cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import materialize

# ---------------------------------------------------------------------------
# tokenization / shingling
# ---------------------------------------------------------------------------


def words_col(text: Column) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.split(F.lower(text), " ")


def shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles (order-insensitive set).

    Guarded for docs shorter than k words (empty set). The token
    array is BOUND ONCE as a lambda variable (``transform(array(w),
    wa -> ...)``): naively closing over the split() expression would
    inline one split per element_at — k token-array recomputations
    per gram position, O(n²k) per doc (measured 14× slower on the
    sf0.1 shingle scan)."""

    def from_words(w: Column) -> Column:
        n = F.size(w)
        idx = F.sequence(F.lit(1), n - (k - 1))  # 1-based start positions
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(w, i + off) for off in range(k)]
        )
        return F.when(
            n >= k, F.array_distinct(F.transform(idx, gram))
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(words_col(text)), from_words), 1)


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string-array *sets* (already distinct).
    Integer-count division → bit-identical across engines."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalize_text(text: Column) -> Column:
    """Canonical form for exact duplicate detection: lowercase,
    collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical (normalized) texts: keep min id as canonical,
    report group size. One hash-shuffle on the md5 fingerprint."""
    # No repartition here: md5+normalize is cheap enough that a
    # pre-shuffle of the raw text costs more than it buys (measured).
    fp = F.md5(normalize_text(F.col(text_col)).cast("binary"))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Odd multipliers/offsets for the permutation family h_i = a_i*h + b_i
# (mod 2^64, Java long wrap). Derived from splitmix64-style constants;
# fixed seeds → reproducible on any cluster.
_PERM_A = 0x9E3779B97F4A7C15
_PERM_B = 0xBF58476D1CE4E5B9


def _perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    def to_long(x: int) -> int:  # two's-complement into signed 64-bit
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= 1 << 63 else x

    return [
        (to_long(_PERM_A * (2 * i + 1)), to_long(_PERM_B * (i + 1)))
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-doc minhash signature as columns _mh0.._mh{k-1}.

    Shape: explode shingles → hash each shingle ONCE (xxhash64) →
    derive the k lanes as integer permutations a_i*h+b_i (wrap-around
    64-bit multiply — the classic universal-hash family) → ONE
    hash-aggregate with k vectorized MINs. One string hash per
    shingle instead of k cuts the dominant CPU cost k-fold; map-side
    partial mins mean the shuffle carries k longs per doc — the
    layout that survives 100 TB.
    """
    return _signatures_from_shingles(
        _shingle_table(df, id_col, text_col, shingle_k), num_hashes
    )


def _shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(_id, _sh: array<string>) — the one place shingles are built.
    Input is re-split if the scan under-parallelized (single-file
    tables): shingling is the CPU-dominant stage."""
    from .util import ensure_parallelism

    return ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        shingles_col(F.col(text_col), shingle_k).alias("_sh"),
    )


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    hashed = sh.select(
        "_id", F.explode("_sh").alias("_s")
    ).select("_id", F.xxhash64(F.col("_s")).alias("_h"))
    # SQL-string aggregates instead of Column-object composition: the
    # 64-lane build was ~320 py4j round trips re-paid per SESSION by
    # every family consumer (measured 1.0-1.5s per construction;
    # expr strings parse JVM-side in ~0.15s). Identical integer
    # arithmetic — `{a}L` renders the same signed two's-complement
    # long literal F.lit(a) produced — pinned value-equal in
    # tests/test_plan_audit.py's signature pins and the oracle
    # replays.
    consts = _perm_consts(num_hashes)
    aggs = [
        F.expr(f"min(_h * {a}L + {b}L) AS _mh{i}")
        for i, (a, b) in enumerate(consts)
    ]
    return hashed.groupBy("_id").agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b), deduplicated.

    bands = num_hashes / rows_per_band. With 32 bands × 2 rows a true
    pair at Jaccard 0.7 is missed with p ≈ (1-0.49)^32 ≈ 4e-10 —
    effectively exhaustive recall above any dedup threshold, while
    only same-bucket pairs are ever enumerated.
    """
    with_sig = _signatures_from_shingles(
        _shingle_table(df, id_col, text_col, shingle_k), num_hashes
    )
    # The banded bucket table feeds BOTH self-join sides and aliased
    # subtrees are not reused (the near_duplicate_pairs audit), so
    # without the persist the whole shingle+signature pipeline — the
    # dominant cost — ran twice per action. Narrow (id, band, bucket)
    # rows.
    bands = materialize(
        _banded_buckets(with_sig, num_hashes, rows_per_band), "dedup.lsh_bands"
    )
    left = bands.select(
        F.col("_id").alias("id_a"), "band", "bucket"
    )
    right = bands.select(F.col("_id").alias("id_b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _banded_buckets(
    sig: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(_id, band, bucket) — one bucket id per (doc, band), bucket =
    xxhash64 over the band's signature rows. Built as ONE stack()
    expression string instead of a 32-struct array + explode: same
    values (integer literals hash as INT exactly like F.lit did;
    value-parity asserted against the Column-object form before the
    swap), ~10x cheaper per-session plan construction (guide §1:
    this family's isolated cost is plan build, not executor work)."""
    n_bands = num_hashes // rows_per_band
    stack = ", ".join(
        "{b}, xxhash64({b}, {mhs})".format(
            b=b,
            mhs=", ".join(
                f"_mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return sig.selectExpr(
        "_id", f"stack({n_bands}, {stack}) AS (band, bucket)"
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.6,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection",
    WWW'08): the deterministic complement to MinHash-LSH. LSH is
    probabilistic (recall < 1 in theory); prefix filtering prunes
    with a guarantee — two sets with J ≥ θ MUST share a token within
    each one's first |x| - ⌈θ·|x|⌉ + 1 tokens when every set is
    ordered by ascending global token frequency. Candidates share a
    PREFIX token; everything else is provably below threshold.

    Output: (id_a, id_b, jaccard), id_a < id_b — identical to the
    O(N²) brute force.

    Scale shape: one explode + token-count aggregate (map-side
    combine), one window per doc (partition by doc id — parallel),
    a candidate join keyed on prefix tokens — the RAREST tokens of
    each set by construction, so join keys are low-frequency and the
    skew a naive token join hits on stopwords never materializes —
    then pair-distinct + one verify join. Every shuffle is keyed;
    nothing is quadratic except provably-candidate pairs."""
    from .util import ensure_parallelism

    # The shingle table feeds the prefix build, BOTH candidate-join
    # sides and BOTH verify sides; aliased subtrees are not reused, so
    # without the persist the shingling pass ran ~5x per action.
    sets = materialize(
        ensure_parallelism(df).select(
            F.col(id_col).alias("_id"),
            shingles_col(F.col(text_col), shingle_k).alias("_s"),
        ).filter(F.size("_s") > 0),
        "dedup.prefix_sets",
    )
    toks = sets.select("_id", F.size("_s").alias("_n"), F.explode("_s").alias("_t"))
    freq = toks.groupBy("_t").agg(F.count("*").alias("_df"))
    # Rarity order (ties broken by token text) → prefix length
    # p = n - ceil(θ·n) + 1 of each doc's sorted token list.
    w = Window.partitionBy("_id").orderBy("_df", "_t")
    prefix = (
        toks.join(freq, "_t")
        .withColumn("_rank", F.row_number().over(w))
        .filter(
            # ceil of the FP product can overshoot the true integer
            # ceiling (0.56 * 25 = 14.000000000000002 -> ceil 15, not
            # 14), which would SHORTEN the prefix and silently break
            # the completeness guarantee. The 1e-9 backoff makes the
            # bound err only downward (a 1-token-longer prefix = a few
            # more candidates, never a missed pair); it exceeds the
            # product's representation error for any realistic set
            # size (n * ulp(theta) < 1e-9 for n < 1e7).
            F.col("_rank")
            <= F.col("_n")
            - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9))
            + 1
        )
        .select("_id", "_t", "_n", "_rank")
    )
    # Positional filter (PPJoin, Xiao et al. WWW'08): a joined row at
    # token t with ranks (i, j) bounds the overlap by
    # 1 + min(|A|−i, |B|−j) — every other common token ranks after t
    # on the side where t is their FIRST common token. J ≥ θ needs
    # overlap ≥ θ·(|A|+|B|)/(1+θ); a true pair's first-common-token
    # row always satisfies the bound (ranks there are minimal on both
    # sides), so filtering every row and THEN taking distinct pairs
    # is complete — proven pair-set-identical to the unfiltered join
    # on sf0.01 and sf0.1 before landing. The 1e-9 backoff errs only
    # toward keeping a candidate (same discipline as the prefix
    # bound above).
    _alpha = threshold / (1.0 + threshold)
    cand = (
        prefix.alias("p1")
        .join(prefix.alias("p2"), "_t")
        .filter(
            (F.col("p1._id") < F.col("p2._id"))
            & (
                1
                + F.least(
                    F.col("p1._n") - F.col("p1._rank"),
                    F.col("p2._n") - F.col("p2._rank"),
                )
                >= F.lit(_alpha) * (F.col("p1._n") + F.col("p2._n"))
                - F.lit(1e-9)
            )
        )
        .select(
            F.col("p1._id").alias("_ida"), F.col("p2._id").alias("_idb")
        )
        .distinct()
    )
    a = sets.select(F.col("_id").alias("_ida"), F.col("_s").alias("_sa"))
    b = sets.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb"))
    return (
        cand.join(a, "_ida")
        .join(b, "_idb")
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            jaccard_col(F.col("_sa"), F.col("_sb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.6,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash-LSH candidates exact-verified by n-gram Jaccard ≥
    threshold. Output: (id_a, id_b, jaccard). Semantically equal to
    the O(N²) brute force (the oracle), at bucket-join cost.

    Two bounded caches, built once and persisted for the run:

    - the shingle table (heavy strings): the signature path explodes
      it, the verification path joins it — without the persist the
      expensive tokenize+shingle projection runs three times;
    - the signature table (64 longs/doc — far smaller than the
      shingles): the banded bucket self-join consumes it on BOTH
      sides, and Catalyst does not ReuseExchange across the two
      aliased subtrees (audited: 0 ReusedExchange nodes), so without
      this persist the explode→hash→64-lane-min aggregation — the
      pipeline's dominant shuffle — runs twice per action at ANY
      scale.

    Only the most recent call's tables stay cached
    (``util.materialize``)."""
    sh = materialize(
        _shingle_table(df, id_col, text_col, shingle_k), "dedup.shingles"
    )
    sig = materialize(
        _signatures_from_shingles(sh, num_hashes), "dedup.signatures"
    )
    bands = _banded_buckets(sig, num_hashes, rows_per_band)
    cands = (
        bands.select(F.col("_id").alias("id_a"), "band", "bucket")
        .join(bands.select(F.col("_id").alias("id_b"), "band", "bucket"),
              ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_col(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _bit_mask(j: int) -> int:
    """Mask for bit j of a signed 64-bit long (bit 63 = sign bit;
    1<<63 overflows, use its two's-complement value)."""
    return (1 << j) if j < 63 else -(1 << 63)


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: (id_col, simhash).

    Single explode of the token stream, then one hash-aggregate with
    64 vectorized bit-vote SUMs (sign of each vote -> fingerprint
    bit). Map-side partial sums collapse the shuffle to 64 longs per
    doc -- the same one-pass shape as minhash_signatures.
    """
    from .util import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        F.explode(words_col(F.col(text_col))).alias("_w"),
    ).select("_id", F.xxhash64(F.col("_w")).alias("_h"))
    votes = toks.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.col("_h").bitwiseAND(F.lit(_bit_mask(j))) != 0, 1).otherwise(
                    -1
                )
            ).alias(f"_v{j}")
            for j in range(64)
        ]
    )
    fp = F.lit(0).cast("long")
    for j in range(64):
        fp = fp.bitwiseOR(
            F.when(F.col(f"_v{j}") > 0, F.lit(_bit_mask(j)))
            .otherwise(F.lit(0))
            .cast("long")
        )
    return votes.select(F.col("_id").alias(id_col), fp.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs a persisted MinHash index
# ---------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Build the reusable dedup index for a corpus: (shingle table
    ``(_id, _sh)``, banded bucket table ``(_id, band, bucket)``).

    This is the production shape of dedup at warehouse scale: the
    corpus index is computed ONCE, written to storage, and every
    incoming batch joins against it — re-shingling 100 TB per
    ingest batch is the anti-pattern this API removes. Both outputs
    are plain DataFrames: persist, write to parquet, or register as
    tables; ``near_duplicates_against`` consumes them as-is.

    The shingle table is persisted for the run (last call only,
    ``util.materialize``): the bucket output's signature lineage
    explodes it and the caller's verify join reads it — without the
    persist the tokenize+shingle projection ran once per consumer
    per action."""
    sh = materialize(
        _shingle_table(df, id_col, text_col, shingle_k), "dedup.index_shingles"
    )
    sig = _signatures_from_shingles(sh, num_hashes)
    return sh, _banded_buckets(sig, num_hashes, rows_per_band)


def near_duplicates_against(
    index_shingles: DataFrame,
    index_buckets: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.6,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Incremental near-dup: pairs (batch_id, matched_id, jaccard)
    where a NEW batch document near-duplicates an INDEXED document
    at Jaccard ≥ threshold, plus pairs among batch docs themselves
    (reported once, with the lexicographically-lower id as id_old).

    Ids carry NO ordering contract: a batch doc matching an indexed
    doc is reported regardless of how their ids compare (UUIDs,
    lexicographic '99' vs '400' all work). The ``id_old < id_new``
    tie-break applies ONLY to batch-batch pairs, where it exists
    purely to emit each unordered pair once.

    RE-INGESTED ids (a batch id already present in the index) are
    treated as REPLACEMENTS: the index's version of that id is
    dropped from both candidate generation and verification (anti
    join on batch ids), so the new text is compared against the rest
    of the corpus — not against its own stale copy, and without the
    duplicate output rows a naive index∪batch union would produce.

    Scale shape: only the batch is shingled/hashed (its size, not the
    corpus's); candidates come from two band-bucket equality joins —
    batch buckets vs index buckets (unfiltered) and batch buckets vs
    themselves (half-pair filtered) — and the exact-verify join
    touches only candidate shingle rows. The corpus index is read,
    never recomputed.

    The batch shingle AND bucket tables are persisted for the run
    under their own ``materialize`` keys — deliberately NOT
    minhash_index's, whose table the caller's corpus-index call may
    still be using: each feeds three consumers (ids/verify/union; two
    candidate joins + the self-join side), so without the persists
    the batch signature pipeline ran ~3x per action."""
    b_sh = materialize(
        _shingle_table(batch, id_col, text_col, shingle_k),
        "dedup.against_shingles",
    )
    b_buckets = materialize(
        _banded_buckets(
            _signatures_from_shingles(b_sh, num_hashes),
            num_hashes,
            rows_per_band,
        ),
        "dedup.against_buckets",
    )
    # Replacement ids must come from the SHINGLE table (one row per
    # batch doc unconditionally), not the bucket table: a re-ingested
    # doc whose new text is too short to shingle produces no
    # signature/bucket rows, and deriving the id set from buckets
    # would leave its stale index copy in candidate generation.
    batch_ids = b_sh.select("_id").distinct()
    idx_buckets = index_buckets.join(batch_ids, "_id", "left_anti")
    new_b = b_buckets.select(F.col("_id").alias("id_new"), "band", "bucket")
    vs_index = new_b.join(
        idx_buckets.select(F.col("_id").alias("id_old"), "band", "bucket"),
        ["band", "bucket"],
    )
    vs_batch = new_b.join(
        b_buckets.select(F.col("_id").alias("id_old"), "band", "bucket"),
        ["band", "bucket"],
    ).filter(F.col("id_old") < F.col("id_new"))
    cands = (
        vs_index.unionByName(vs_batch).select("id_new", "id_old").distinct()
    )
    all_sh = index_shingles.join(batch_ids, "_id", "left_anti").unionByName(
        b_sh
    )
    a = b_sh.select(F.col("_id").alias("id_new"), F.col("_sh").alias("sh_n"))
    o = all_sh.select(F.col("_id").alias("id_old"), F.col("_sh").alias("sh_o"))
    return (
        cands.join(a, "id_new")
        .join(o, "id_old")
        .select(
            "id_new",
            "id_old",
            jaccard_col(F.col("sh_n"), F.col("sh_o")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_dist: int = 1,
    block: int = 3,
) -> DataFrame:
    """Blocked edit-distance similarity join (record-linkage /
    title-dedup): all pairs with ``levenshtein <= max_dist``,
    without the all-pairs cross join.

    Completeness argument (the reason this is exact, not a
    heuristic): a single edit (insert/delete/substitute) touches one
    position, so for strings of length >= 2*block any pair within
    distance 1 agrees byte-for-byte on the first ``block`` chars OR
    on the last ``block`` chars — the edit cannot be inside both.
    Candidates are therefore the union of a prefix-block equality
    join and a suffix-block equality join (each a plain shuffled
    hash join on a short key), deduped, then filtered with the
    built-in ``levenshtein`` (JVM codegen, no UDF). Strings SHORTER
    than 2*block (where the two blocks would overlap and the theorem
    fails) route through a deletion-neighborhood candidate join
    (FastSS, complete for d=1 at any length, <= 2*block + 1 keys per
    row) so the "all pairs" contract holds for every length. For
    ``max_dist`` > 1 the same argument needs ``max_dist + 1``
    blocks (q-gram pigeonhole); this implementation keeps the
    2-block form and therefore REQUIRES ``max_dist == 1`` — it
    raises otherwise rather than silently missing pairs.

    Scale shape: two equality joins keyed on ``block``-char keys
    (broadcast-convertible when one side is small; AQE handles skew
    on popular prefixes), a distinct over candidate ids, one
    levenshtein filter. Never a CartesianProduct — plan-gated in
    tests. Output: (id_a, id_b, dist), id_a < id_b.
    """
    if max_dist != 1:
        raise NotImplementedError(
            "2-block (prefix|suffix) candidates are complete only for "
            "max_dist=1; use q-gram pigeonhole blocking for larger radii"
        )
    base_all = df.select(F.col(id_col).alias("_id"), F.col(s_col).alias("_s"))
    base = base_all.filter(F.length("_s") >= 2 * block)
    pre = base.withColumn("_k", F.substring("_s", 1, block))
    suf = base.withColumn(
        "_k", F.substring("_s", -block, block)
    )
    # Strings SHORTER than 2*block fall outside the prefix|suffix
    # theorem; silently dropping them would violate the "all pairs"
    # contract (e.g. 'cat'/'bat' at dist 1). Any partner of a short
    # string within dist 1 has length <= 2*block, so the population
    # of length <= 2*block routes through a deletion-neighborhood
    # join (FastSS, complete for d=1 at ANY length: a substitution
    # shares the both-sides-deleted variant, an insert/delete shares
    # the shorter string itself). Keys per row <= 2*block + 1;
    # boundary-length pairs appearing in both paths collapse in the
    # candidate distinct.
    short = base_all.filter(F.length("_s") <= 2 * block)
    short_keys = short.select(
        "_id",
        "_s",
        F.explode(
            F.expr(
                "array_distinct(concat(array(_s), "
                "IF(length(_s) >= 1, transform(sequence(1, length(_s)), "
                "i -> concat(substring(_s, 1, i-1), "
                "substring(_s, i+1, length(_s)))), "
                "CAST(array() AS ARRAY<STRING>))))"
            )
        ).alias("_k"),
    )

    def _pairs(side: DataFrame) -> DataFrame:
        a = side.select(
            F.col("_k"),
            F.col("_id").alias("id_a"),
            F.col("_s").alias("s_a"),
        )
        b = side.select(
            F.col("_k"),
            F.col("_id").alias("id_b"),
            F.col("_s").alias("s_b"),
        )
        return a.join(b, "_k").filter(F.col("id_a") < F.col("id_b"))

    cands = (
        _pairs(pre)
        .unionByName(_pairs(suf))
        .unionByName(_pairs(short_keys.select("_k", "_id", "_s")))
        # length band is implied by dist<=1 but pruning before the
        # distinct keeps the candidate set tight on skewed blocks
        .filter(
            F.abs(F.length("s_a") - F.length("s_b")) <= max_dist
        )
        .select("id_a", "id_b", "s_a", "s_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "dist", F.levenshtein(F.col("s_a"), F.col("s_b"))
        )
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def edit_distance_pairs_symdelete(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Deletion-neighborhood edit-distance join (FastSS, Bocek et al.
    2007; the SymSpell candidate scheme) — the general-radius
    companion to ``edit_distance_pairs``: all pairs with
    ``levenshtein <= max_dist`` for ``max_dist`` in {1, 2}.

    Completeness: every edit operation (insert/delete/substitute)
    removes at most one character from each side's alignment, so
    ``lev(r, s) <= d`` implies r and s share a common string
    reachable by <= d single-character DELETIONS from each. The
    candidate join is therefore an equality join on the deletion
    neighborhood (all variants with 0..d chars deleted) — a strict
    superset of the true pair set, verified exactly with the
    built-in ``levenshtein``. Neighborhood size is C(L,0)+C(L,1)
    [+C(L,2)] keys per string (~80 for 12-char titles at d=2),
    which is why d > 2 raises instead of silently exploding.

    Scale shape: one generated-column explode (JVM ``transform``/
    ``flatten``/``array_distinct``, no Python), one equality
    self-join on the variant key (AQE-skew-safe like any bucket
    join), distinct on the id pair, one levenshtein verify. Never a
    cross join. Output: (id_a, id_b, dist), id_a < id_b.
    """
    if max_dist not in (1, 2):
        raise NotImplementedError(
            "deletion neighborhood is C(L,d) keys per string — "
            "d>2 needs segment (PassJoin) blocking instead"
        )
    # Per-expression length guards (not a row filter): sequence(1, n)
    # runs DESCENDING for n < 1 and would emit junk variants, but
    # dropping whole rows shorter than max_dist costs completeness —
    # e.g. 'ab'/'abc' at d=2 both qualify and must keep their
    # neighborhoods (any two strings of length <= d are trivially
    # within d and meet at the fully-deleted '' key; those pairs ARE
    # the answer set, so their quadratic cost is output-bound, not a
    # blow-up the guard needs to prevent).
    del1 = (
        "IF(length(_s) >= 1, transform(sequence(1, length(_s)), i -> "
        "concat(substring(_s, 1, i-1), substring(_s, i+1, length(_s)))), "
        "CAST(array() AS ARRAY<STRING>))"
    )
    del2 = (
        "IF(length(_s) >= 2, "
        "flatten(transform(sequence(1, length(_s) - 1), i -> "
        "transform(sequence(i + 1, length(_s)), j -> "
        "concat(substring(_s, 1, i-1), substring(_s, i+1, j-i-1), "
        "substring(_s, j+1, length(_s)))))), "
        "CAST(array() AS ARRAY<STRING>))"
    )
    parts = ["array(_s)", del1] + ([del2] if max_dist == 2 else [])
    variants = (
        "array_distinct(concat(" + ", ".join(parts) + "))"
    )
    base = df.select(
        F.col(id_col).alias("_id"), F.col(s_col).alias("_s")
    ).filter(F.col("_s").isNotNull())
    keyed = base.select(
        "_id", "_s", F.explode(F.expr(variants)).alias("_v")
    )
    a = keyed.select(
        F.col("_v"), F.col("_id").alias("id_a"), F.col("_s").alias("s_a")
    )
    b = keyed.select(
        F.col("_v"), F.col("_id").alias("id_b"), F.col("_s").alias("s_b")
    )
    cands = (
        a.join(b, "_v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "s_a", "s_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "dist", F.levenshtein(F.col("s_a"), F.col("s_b"))
        )
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT asymmetric-containment self-join:
    ``|S(A) ∩ S(B)| / |S(A)| ≥ θ`` — doc-in-doc detection (quotes,
    boilerplate wrappers, snippet expansions), where symmetric
    Jaccard fails by construction: a snippet inside a 100× larger
    page has Jaccard ≈ |A|/|B| ≈ 0 but containment 1.

    Prefix filtering still prunes, one-sided: if containment ≥ θ,
    at least one of A's ``|A| − ⌈θ·|A|⌉ + 1`` globally-RAREST
    shingles must appear in B (otherwise the intersection is at most
    ⌈θ·|A|⌉ − 1 < θ·|A|). So candidates are A-prefix shingles
    equi-joined against the FULL inverted index — the join keys are
    rare by global-frequency construction, so posting lists stay
    short; B's stopword postings shuffle but never match. Verify is
    one pair join computing the exact intersection.

    Output: (id_in, id_of, containment) for ordered pairs A≠B — A
    contained in B. All shuffles keyed; completeness is provable,
    not probabilistic."""
    from .util import ensure_parallelism

    # NOT persisted (r14 A/B at sf0.1, 3 runs each: with persist
    # 3.7-3.8s warm, without 2.9-3.7s; r13's own A/B was already
    # neutral): caching the heavy string-array shingle column costs
    # more than re-running the projection, and an unearned persist
    # occupies executor memory at scale (verdict r13 #3).
    sets = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            shingles_col(F.col(text_col), shingle_k).alias("_s"),
        )
        .filter(F.size("_s") > 0)
    )
    toks = sets.select(
        "_id", F.size("_s").alias("_n"), F.explode("_s").alias("_t")
    )
    freq = toks.groupBy("_t").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_t")
    prefix = (
        toks.join(freq, "_t")
        .withColumn("_rank", F.row_number().over(w))
        .filter(
            # ceil of the FP product can overshoot the true integer
            # ceiling (0.56 * 25 = 14.000000000000002 -> ceil 15, not
            # 14), which would SHORTEN the prefix and silently break
            # the completeness guarantee. The 1e-9 backoff makes the
            # bound err only downward (a 1-token-longer prefix = a few
            # more candidates, never a missed pair); it exceeds the
            # product's representation error for any realistic set
            # size (n * ulp(theta) < 1e-9 for n < 1e7).
            F.col("_rank")
            <= F.col("_n")
            - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9))
            + 1
        )
        .select("_id", "_t", "_n")
    )
    cand = (
        prefix.alias("p")
        .join(toks.select("_id", "_t", "_n").alias("ix"), "_t")
        .filter(
            (F.col("p._id") != F.col("ix._id"))
            # Length bound: containment ≥ θ needs |A∩B| ≥ θ·|A| and
            # |A∩B| ≤ |B|, so any true pair has |B| ≥ θ·|A|. The 1e-9
            # backoff errs only toward KEEPING a candidate (same
            # discipline as the prefix-length ceil above), so
            # completeness is preserved while short-B postings are
            # pruned before the distinct + verify joins (verdict r13
            # next-round #7; parity proven against the unfiltered
            # plan on sf0.01/sf0.1 — identical pair sets).
            & (
                F.col("ix._n").cast("double")
                >= F.lit(threshold) * F.col("p._n") - F.lit(1e-9)
            )
        )
        .select(
            F.col("p._id").alias("_idin"), F.col("ix._id").alias("_idof")
        )
        .distinct()
    )
    a = sets.select(F.col("_id").alias("_idin"), F.col("_s").alias("_sa"))
    b = sets.select(F.col("_id").alias("_idof"), F.col("_s").alias("_sb"))
    contain = F.size(F.array_intersect("_sa", "_sb")) / F.size("_sa")
    return (
        cand.join(a, "_idin")
        .join(b, "_idof")
        .select(
            F.col("_idin").alias("id_in"),
            F.col("_idof").alias("id_of"),
            contain.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
