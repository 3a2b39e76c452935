"""Property tests for the pipeline operators that have no SQL oracle
(LSH recall, SimHash locality, multimodal plumbing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdp2_5_hive_spark.catalog import load_table
from hdp2_5_hive_spark.operators import dedup as dd
from hdp2_5_hive_spark.operators import multimodal as mm
from hdp2_5_hive_spark.operators import similarity as sim


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Banded-LSH candidates must contain every true pair at the
    dedup threshold (recall 1.0 in practice at these band settings)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"),
        dd.shingles_col(F.col("text")).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dd.jaccard_col(F.col("sh_a"), F.col("sh_b")).alias("j"))
        .filter(F.col("j") >= 0.6)
    )
    truth = {(r.id_a, r.id_b) for r in brute.collect()}
    lsh = dd.near_duplicate_pairs(docs, "doc_id", "text", threshold=0.6)
    found = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert found == truth
    assert truth, "fixture should contain planted near-duplicates"


def test_simhash_locality(spark, sf_dir):
    """Near-duplicate docs (Jaccard ≥ 0.9) must have small SimHash
    Hamming distance; random pairs should average much larger."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.near_duplicate_pairs(docs, "doc_id", "text", threshold=0.9)
    fp = dd.simhash_fingerprints(docs, "doc_id", "text")
    fa = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    fb = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    joined = pairs.join(fa, "id_a").join(fb, "id_b").select(
        dd.hamming64(F.col("sa"), F.col("sb")).alias("h")
    )
    rows = joined.collect()
    assert rows, "expect planted near-dups"
    assert all(r.h <= 16 for r in rows), [r.h for r in rows]


def test_ann_lsh_is_subset_of_bruteforce_scores(spark, sf_dir):
    """Bucketed ANN returns correctly-scored pairs (cosine matches the
    exact computation for the same pair)."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = sim.lsh_bucket_topk(emb, dim=64, n_planes=6, k=3)
    exact = sim.cosine_topk(emb, emb, k=1_000_000)  # all scored pairs
    j = approx.select("query_id", "neighbor_id", F.col("cosine").alias("ac")).join(
        exact.select("query_id", "neighbor_id", F.col("cosine").alias("ec")),
        ["query_id", "neighbor_id"],
    )
    rows = j.collect()
    assert rows
    assert all(abs(r.ac - r.ec) < 1e-12 for r in rows)


def test_lsh_oracle_preconditions(sf_dir):
    """The two data-dependent simplifications the synthesized
    ann_lsh_bucketed oracle makes (queries/pipeline._ann_lsh_oracle)
    hold on the oracle SFs:

    1. salt guard identity — every (table, bucket) population stays
       far below max_bucket_rows=4096, so omitting the salt key from
       the oracle's candidate join loses nothing;
    2. sign margin — min |plane dot| is orders of magnitude above
       the ~1e-13 numpy-BLAS vs left-fold summation discrepancy, so
       no bucket bit can flip between engines.
    """
    import numpy as np
    import pyarrow.parquet as pq

    from hdp2_5_hive_spark.operators.similarity import _plane_matrix

    planes = _plane_matrix(64, 6, 4)
    weights = (1 << np.arange(6, dtype=np.int64))[None, :]
    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        x = np.vstack(
            pq.read_table(f"{sf}/embeddings.parquet")["embedding"].to_numpy()
        ).astype(np.float64)
        d = x @ planes
        assert np.abs(d).min() > 1e-9, sf  # 4+ orders above FP noise
        signs = d > 0
        for t in range(4):
            b = (signs[:, t * 6 : (t + 1) * 6] * weights).sum(axis=1)
            _, counts = np.unique(b, return_counts=True)
            assert counts.max() <= 2048, (sf, t, counts.max())


def test_multimodal_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = mm.attach_binary_payload(docs, "text", "doc_id")
    f1 = {r.media_id: r.feature for r in mm.extract_features(media).collect()}
    f2 = {r.media_id: r.feature for r in mm.extract_features(media).collect()}
    assert f1 == f2
    assert all(len(v) == 8 for v in f1.values())
    assert all(0.0 <= x <= 1.0 for v in f1.values() for x in v)


def test_multimodal_stub_raises_on_missing_payload():
    import pytest

    with pytest.raises(NotImplementedError):
        mm.decode_image_stub(None)


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF with n_probe=3/8 cells must recover most of the exact
    top-5 (recall pinned ≥ 0.6 on RANDOM vectors — IVF's worst case;
    the scale/recall dial is n_probe), and every returned pair's
    cosine must equal the exact score."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = sim.ivf_topk(emb, n_cells=8, n_probe=3, k=5)
    exact = sim.cosine_topk(emb, emb, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.6, f"recall {len(a & e) / len(e):.3f}"
    # score fidelity on the overlap
    j = approx.select("query_id", "neighbor_id", F.col("cosine").alias("ac")).join(
        sim.cosine_topk(emb, emb, k=1_000_000).select(
            "query_id", "neighbor_id", F.col("cosine").alias("ec")
        ),
        ["query_id", "neighbor_id"],
    )
    assert all(abs(r.ac - r.ec) < 1e-12 for r in j.collect())


def test_ann_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """n_probe == n_cells degenerates to exact brute force — the
    recall dial's upper endpoint."""
    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    approx = sim.ivf_topk(emb, n_cells=4, n_probe=4, k=3)
    exact = sim.cosine_topk(emb, emb, k=3)
    a = {(r.query_id, r.neighbor_id, r.rank) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id, r.rank) for r in exact.collect()}
    assert a == e


def test_simhash_one_token_perturbation(spark):
    """Quantified SimHash locality on a seeded corpus: documents
    differing by ONE token of 60 stay within Hamming 8 (measured max
    6 at seed 42); unrelated random docs stay above 18 (measured min
    21, mean ≈31 — the binomial(64, .5) bulk). Deterministic end to
    end: seeded corpus, xxhash64 planes, exact integer votes."""
    import random

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(5000)]
    docs = []
    for i in range(30):
        toks = rng.sample(vocab, 60)
        docs.append((f"orig_{i}", " ".join(toks)))
        pert = list(toks)
        pert[rng.randrange(60)] = rng.choice(vocab)
        docs.append((f"pert_{i}", " ".join(pert)))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    fp = {r.doc_id: r.simhash for r in
          dd.simhash_fingerprints(df, "doc_id", "text").collect()}

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    matched = [ham(fp[f"orig_{i}"], fp[f"pert_{i}"]) for i in range(30)]
    unrelated = [
        ham(fp[f"orig_{i}"], fp[f"orig_{j}"])
        for i in range(30)
        for j in range(i + 1, 30)
    ]
    assert max(matched) <= 8, matched
    assert min(unrelated) >= 18, min(unrelated)
    assert sum(unrelated) / len(unrelated) >= 28


def test_lsh_multi_table_recall_pinned(spark):
    """OR-amplification recall gate on planted near-duplicates
    (cosine ≈ 0.97, seeded): measured recall 0.18 (1 table) → 0.63
    (4 tables). Pins: T=4 ≥ 0.55, and multi-table strictly beats
    single-table — the property that makes ann_lsh_bucketed's
    n_tables=4 default honest."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(100):
        v = rng.normal(size=64)
        v = v / np.linalg.norm(v)
        rows.append((f"b{i}", [float(x) for x in v]))
        p = v + rng.normal(scale=0.12, size=64)
        p = p / np.linalg.norm(p)
        rows.append((f"d{i}", [float(x) for x in p]))
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    planted = {(f"b{i}", f"d{i}") for i in range(100)} | {
        (f"d{i}", f"b{i}") for i in range(100)
    }

    def recall(n_tables: int) -> float:
        out = sim.lsh_bucket_topk(
            df, dim=64, n_planes=6, k=3, n_tables=n_tables
        )
        got = {(r.query_id, r.neighbor_id) for r in out.collect()}
        return len(got & planted) / len(planted)

    r1, r4 = recall(1), recall(4)
    assert r4 >= 0.55, f"T=4 recall {r4:.3f}"
    assert r4 > r1, (r1, r4)


def test_lsh_bucket_guard_bounds_degenerate_bucket(spark):
    """All-identical vectors land in ONE bucket — the degenerate case
    where unguarded LSH goes quadratic. The salt guard must split it
    into ~n/max groups with no group far above max_bucket_rows, and
    lsh_bucket_topk must still return well-formed top-k."""
    from pyspark.sql import functions as F

    from hdp2_5_hive_spark.operators import similarity as sim

    n, cap = 2000, 100
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    salted = sim._salted_buckets(
        df, id_col="vec_id", vec_col="embedding", dim=8, n_planes=6,
        max_bucket_rows=cap,
    )
    groups = salted.groupBy("_bucket", "_salt").count().collect()
    assert len(groups) >= n // cap  # actually split
    # hash-salt split is approximately even; 2x cap = loud failure
    # only for a real guard regression, not hash jitter
    assert max(g["count"] for g in groups) <= 2 * cap
    out = sim.lsh_bucket_topk(
        df, dim=8, n_planes=6, k=3, max_bucket_rows=cap
    )
    # every query found neighbors within its salt group; ranks valid
    head = out.filter(F.col("rank") > 3).count()
    assert head == 0 and out.count() > 0


def test_incremental_dedup_matches_full_and_survives_parquet(
    spark, sf_dir, tmp_path
):
    """Index-reuse contract: (a) batch-vs-index results equal the
    pairs a full recompute finds that touch the batch; (b) the index
    works after a parquet write/read round-trip (the production
    shape: build once, store, join every ingest batch against it)."""
    import hdp2_5_hive_spark.operators.dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter("doc_id < 400")
    batch = docs.filter("doc_id >= 400")

    idx_sh, idx_b = dd.minhash_index(corpus, "doc_id", "text")
    sh_path, b_path = str(tmp_path / "sh"), str(tmp_path / "b")
    idx_sh.write.parquet(sh_path)
    idx_b.write.parquet(b_path)
    got = {
        (r.id_new, r.id_old): round(r.jaccard, 9)
        for r in dd.near_duplicates_against(
            spark.read.parquet(sh_path),
            spark.read.parquet(b_path),
            batch,
            "doc_id",
            "text",
            threshold=0.6,
        ).collect()
    }

    full = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): round(r.jaccard, 9)
        for r in dd.near_duplicate_pairs(
            docs, "doc_id", "text", threshold=0.6
        ).collect()
        if max(r.id_a, r.id_b) >= 400
    }
    assert got == full
    assert got, "expected at least one cross-batch near-dup at sf0.01"


def test_incremental_dedup_id_order_free(spark):
    """Regression (ADVICE r5, operators/dedup.py): a batch doc that
    near-duplicates an indexed doc whose id sorts ABOVE the batch id
    ('99' > '400' lexicographically) must still be reported — the
    id_old < id_new tie-break applies only to batch-batch pairs."""
    import hdp2_5_hive_spark.operators.dedup as dd

    shared = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [("99", shared), ("zz", "entirely different words nothing common")],
        "id string, text string",
    )
    batch = spark.createDataFrame(
        [("400", shared), ("401", shared)], "id string, text string"
    )
    idx_sh, idx_b = dd.minhash_index(corpus, "id", "text")
    got = {
        (r.id_new, r.id_old)
        for r in dd.near_duplicates_against(
            idx_sh, idx_b, batch, "id", "text", threshold=0.6
        ).collect()
    }
    # both batch docs match the indexed doc despite '99' sorting last
    assert ("400", "99") in got and ("401", "99") in got
    # batch-batch pair emitted exactly once, lower id as id_old
    assert ("401", "400") in got and ("400", "401") not in got


def test_lsh_salt_guard_on_degenerate_identical_corpus(spark):
    """Salt guard under the worst case (verdict r4 #6): an
    all-identical corpus lands every row in ONE bucket per table;
    the guard must still cap per-(bucket, salt) group size."""
    from hdp2_5_hive_spark.operators import similarity as sim

    n, cap = 4000, 256
    vec = [float((i % 7) - 3) for i in range(16)]
    df = spark.createDataFrame(
        [(f"v{i}", vec) for i in range(n)],
        "vec_id string, embedding array<double>",
    )
    salted = sim._salted_buckets(
        df, id_col="vec_id", vec_col="embedding", dim=16, n_planes=6,
        max_bucket_rows=cap,
    )
    groups = salted.groupBy("_bucket", "_salt").count().collect()
    assert len(groups) >= n // cap
    assert max(g["count"] for g in groups) <= 2 * cap


def test_incremental_dedup_reingested_id_replaces(spark):
    """A batch id already present in the index is a REPLACEMENT: its
    stale index copy is excluded (no self-match, no duplicate pair
    rows with conflicting jaccards), and the new text is compared
    against the rest of the corpus."""
    import hdp2_5_hive_spark.operators.dedup as dd

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different replacement text with no overlap at all yes"
    corpus = spark.createDataFrame(
        [("X", t1), ("Y", t1), ("Z", t2)], "id string, text string"
    )
    idx_sh, idx_b = dd.minhash_index(corpus, "id", "text")
    # re-ingest X with CHANGED text matching Z, not its old self
    batch = spark.createDataFrame([("X", t2)], "id string, text string")
    rows = dd.near_duplicates_against(
        idx_sh, idx_b, batch, "id", "text", threshold=0.6
    ).collect()
    pairs = [(r.id_new, r.id_old) for r in rows]
    assert pairs.count(("X", "Z")) == 1  # exactly once, no dup rows
    assert ("X", "X") not in pairs  # stale self excluded
    assert ("X", "Y") not in pairs  # old text no longer matches


def test_incremental_dedup_short_reingest_still_replaces(spark):
    """Regression: replacement ids must come from the batch's SHINGLE
    table, not its bucket table. A re-ingested doc whose new text is
    too short to shingle (< k words) produces no signature/bucket
    rows; deriving the replacement set from buckets left its STALE
    index copy in the candidate set, so a fresh batch doc with the
    old text still matched the supposedly-replaced id."""
    import hdp2_5_hive_spark.operators.dedup as dd

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [("X", t1), ("Y", t1)], "id string, text string"
    )
    idx_sh, idx_b = dd.minhash_index(corpus, "id", "text")
    # X is re-ingested with a 2-word text (no 3-gram shingles);
    # N is a brand-new doc carrying X's OLD text.
    batch = spark.createDataFrame(
        [("X", "too short"), ("N", t1)], "id string, text string"
    )
    rows = dd.near_duplicates_against(
        idx_sh, idx_b, batch, "id", "text", threshold=0.6
    ).collect()
    pairs = [(r.id_new, r.id_old) for r in rows]
    assert ("N", "X") not in pairs  # X's stale copy is GONE
    assert pairs.count(("N", "Y")) == 1  # the live duplicate remains


def test_semantic_dedup_finds_planted_duplicates(spark):
    """SemDeDup recipe (cluster then within-cluster cosine): planted
    near-identical vector pairs (cosine ~0.97) must be found — they
    quantize to the same k-means cell — while unrelated vectors pair
    with nothing at threshold 0.9; every reported pair's cosine is
    above threshold and correctly valued."""
    from hdp2_5_hive_spark.operators import similarity as sim
    from hdp2_5_hive_spark.queries.pipeline4 import _planted_vectors

    df = spark.createDataFrame(
        _planted_vectors(n_pairs=60), "vec_id string, embedding array<double>"
    )
    pairs = sim.semantic_dedup_pairs(df, k=6, threshold=0.9).collect()
    got = {tuple(sorted((r.id_a, r.id_b))) for r in pairs}
    planted = {tuple(sorted((f"b{i}", f"d{i}"))) for i in range(60)}
    found = got & planted
    # same-cell quantization: expect nearly all planted pairs found
    assert len(found) >= 54, len(found)
    assert all(r.cosine >= 0.9 for r in pairs)
    # false pairs are rare at 0.9 on random 64-dim vectors
    assert len(got - planted) <= 3, len(got - planted)


def test_stupid_backoff_tiers_hand_computed(spark):
    """All three stupid-backoff tiers on a hand corpus: seen bigram
    -> MLE; unseen bigram of seen words -> 0.4*C(w2)/N; OOV -> 0.4/N."""
    import math

    from hdp2_5_hive_spark.operators.quality import stupid_backoff_bits

    train = spark.createDataFrame(
        [(0, "a b a b c")], "doc_id long, text string"
    )  # bigrams: ab ba ab bc ; C(a.)=2, C(b.)=2 ; unigrams a2 b2 c1, N=5
    score = spark.createDataFrame(
        [(1, "a b"),      # seen: C(ab)/C(a.) = 2/2 = 1 -> 0 bits
         (2, "c a"),      # unseen bigram, seen words: 0.4*2/5
         (3, "a zzz")],   # OOV: 0.4/5
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in stupid_backoff_bits(train, score).collect()
    }
    assert out[1].bits_per_bigram == 0.0 and out[1].n_backoff == 0
    assert out[2].n_backoff == 1
    assert abs(
        out[2].bits_per_bigram - round(-math.log2(0.4 * 2 / 5), 6)
    ) < 1e-9
    assert out[3].n_backoff == 1
    assert abs(
        out[3].bits_per_bigram - round(-math.log2(0.4 / 5), 6)
    ) < 1e-9


def test_edit_distance_pairs_complete_vs_brute_force(spark):
    """Edits planted at EVERY position class (prefix, middle,
    suffix; substitute/insert/delete): the blocked join must find
    exactly the brute-force distance<=1 pair set."""
    import itertools

    from hdp2_5_hive_spark.operators.dedup import edit_distance_pairs

    bases = [
        "abcdefgh", "qrstuvwx", "mnopqrst", "aaaabbbb", "zyxwvuts",
    ]
    strs = []
    for i, b in enumerate(bases):
        strs.append(b)
        strs.append("Z" + b[1:])          # substitute at position 0
        strs.append(b[:4] + "Z" + b[5:])  # substitute mid
        strs.append(b[:-1] + "Z")         # substitute at last char
        strs.append(b[:4] + "Z" + b[4:])  # insert mid
        strs.append(b[1:])                # delete first char
    # short strings (< 2*block chars) — the prefix|suffix theorem
    # does not apply to them, so they exercise the
    # deletion-neighborhood path (regression: they used to be
    # silently dropped, missing e.g. cat/bat at dist 1 and the
    # boundary pair abcde/abcdef)
    strs += ["cat", "bat", "at", "a", "", "abcde", "abcdef"]
    rows = [(i, s) for i, s in enumerate(strs)]

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (ca != cb)
                )
        return d[len(b)]

    expect = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 1
    }
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_pairs(df, "id", "s").collect()
    }
    assert got == expect and len(expect) > 10


def test_edit_distance_pairs_never_cartesian(spark):
    from hdp2_5_hive_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgx")], "id long, s string"
    )
    plan = edit_distance_pairs(df, "id", "s")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_edit_distance_pairs_rejects_wide_radius(spark):
    import pytest as _pytest

    from hdp2_5_hive_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "abcdefgh")], "id long, s string")
    with _pytest.raises(NotImplementedError):
        edit_distance_pairs(df, "id", "s", max_dist=2)


def test_symdelete_pairs_complete_vs_brute_force_radius2(spark):
    """Distance-2 perturbations of every operation mix (2 subs,
    sub+insert, 2 deletes, insert+delete, edits at string ends):
    deletion-neighborhood join finds exactly the brute-force
    distance<=2 pair set — including pairs distance-1 methods
    cannot see."""
    import itertools

    from hdp2_5_hive_spark.operators.dedup import (
        edit_distance_pairs_symdelete,
    )

    bases = ["abcdefghij", "qrstuvwxyz", "mnopqrstuv"]
    strs = []
    for b in bases:
        strs += [
            b,
            "Z" + b[1:-1] + "Q",          # sub first + sub last
            b[:3] + "ZQ" + b[5:],         # two mid subs
            b[2:],                        # two deletes (prefix)
            b[:4] + "Z" + b[4:-1],        # insert + delete
            b + "ZQ",                     # two inserts (suffix)
        ]
    # tiny strings (length <= max_dist) — regression: they used to
    # be silently dropped, missing e.g. ab/abc at dist 1 and every
    # pair among <=2-char strings (all trivially within d=2)
    strs += ["ab", "abc", "a", "b", ""]
    rows = [(i, s) for i, s in enumerate(strs)]

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (ca != cb)
                )
        return d[len(b)]

    expect = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 2
    }
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_pairs_symdelete(df, "id", "s").collect()
    }
    assert got == expect
    assert any(d == 2 for _, _, d in expect)  # radius genuinely used


def test_symdelete_never_cartesian_and_rejects_wide_radius(spark):
    import pytest as _pytest

    from hdp2_5_hive_spark.operators.dedup import (
        edit_distance_pairs_symdelete,
    )

    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdexgh")], "id long, s string"
    )
    plan = (
        edit_distance_pairs_symdelete(df, "id", "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    with _pytest.raises(NotImplementedError):
        edit_distance_pairs_symdelete(df, "id", "s", max_dist=3)


def test_tfidf_topk_hand_computed(spark, tmp_path):
    """3 tiny docs: the doc-specific word must out-rank the shared
    one; scores match the smoothed-IDF closed form."""
    import math

    from hdp2_5_hive_spark.queries import all_queries

    spark.createDataFrame(
        [
            (1, "alpha alpha shared", "s", "en"),
            (2, "beta shared shared", "s", "en"),
            (3, "gamma shared", "s", "en"),
        ],
        "doc_id long, text string, source string, lang string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    df = all_queries()["text_tfidf_topk"].fn(spark, str(tmp_path))
    out = {(r.doc_id, r.rnk): (r.term, r.tfidf) for r in df.collect()}
    idf_rare = math.log(4.0 / 2.0) + 1.0
    assert out[(1, 1)][0] == "alpha"
    assert abs(out[(1, 1)][1] - round(2 * idf_rare, 6)) < 1e-9
    assert out[(3, 1)][0] == "gamma"


def test_zipf_fit_hand_computed(spark, tmp_path):
    """A perfect Zipf corpus (freq = 60/rank for ranks 1..4) fits
    slope -1 to within the 6-decimal term rounding."""
    from hdp2_5_hive_spark.queries import all_queries

    words = ["w1"] * 60 + ["w2"] * 30 + ["w3"] * 20 + ["w4"] * 15
    spark.createDataFrame(
        [(1, " ".join(words), "z", "en")],
        "doc_id long, text string, source string, lang string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = all_queries()["vocab_zipf_fit"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert abs(rows[0].zipf_slope + 1.0) < 1e-3, rows


def test_kneser_ney_matches_independent_reference(spark):
    """KN bits on a tiny held-out split, recomputed by an independent
    Counter-based reference (same declared formula, separate code);
    all three tiers fire: seen bigram, seen-context/unseen-bigram,
    unseen context."""
    import math
    from collections import Counter

    from hdp2_5_hive_spark.operators.quality import kneser_ney_bits

    train_texts = {
        0: "the cat sat on the mat",
        2: "the cat ate the fish",
    }
    score_texts = {
        1: "the cat sat",          # seen bigrams
        3: "the dog sat on mats",  # unseen context (dog) + unseen bigrams
    }

    def rows(d):
        return [(i, t, "s", "en") for i, t in d.items()]

    schema = "doc_id long, text string, source string, lang string"
    tr = spark.createDataFrame(rows(train_texts), schema)
    ho = spark.createDataFrame(rows(score_texts), schema)
    got = {
        r.doc_id: r
        for r in kneser_ney_bits(tr, ho, "doc_id", "text").collect()
    }

    bi = Counter()
    for t in train_texts.values():
        w = t.split()
        for a, b in zip(w, w[1:]):
            bi[(a, b)] += 1
    c1 = Counter()
    nf = Counter()
    tc = Counter()
    for (a, b), c in bi.items():
        c1[a] += c
        nf[a] += 1
        tc[b] += 1
    T = len(bi)
    V = len({w for t in train_texts.values() for w in t.split()})

    def p(a, b):
        pc = (tc.get(b, 0) + 0.5) / (T + 0.5 * (V + 1))
        if a in c1:
            return (
                max(bi.get((a, b), 0) - 0.75, 0.0) / c1[a]
                + 0.75 * nf[a] / c1[a] * pc
            )
        return pc

    for doc_id, text in score_texts.items():
        w = text.split()
        grams = list(zip(w, w[1:]))
        from decimal import Decimal

        s = sum(
            Decimal(str(round(-math.log2(p(a, b)), 6)))
            for a, b in grams
        )
        want = math.floor(float(s) / len(grams) * 1e6 + 0.5) / 1e6
        assert got[doc_id].n_bigrams == len(grams)
        assert abs(got[doc_id].bits_per_bigram - want) < 1e-9, doc_id
        unseen = sum(1 for g in grams if g not in bi)
        assert got[doc_id].n_unseen == unseen
    # tier coverage: doc 1 all-seen, doc 3 has unseen ctx + bigrams
    assert got[1].n_unseen == 0 and got[3].n_unseen >= 2


def test_rm3_expansion_changes_ranking(spark):
    """PRF sanity on a crafted vocabulary-mismatch corpus: the query
    says 'car', the feedback doc pairs 'car' with 'automobile', and
    the rescore must now surface the automobile-only doc, which the
    first pass scored zero."""
    from hdp2_5_hive_spark.operators.retrieval import (
        bm25_scores,
        rm3_expand_rescore,
    )

    corpus = spark.createDataFrame(
        [
            (10, "car car automobile road"),
            (11, "automobile automobile engine"),
            (12, "banana fruit salad"),
            (13, "road trip music"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "car")], "query_id long, text string"
    )
    first = {
        r.doc_id
        for r in bm25_scores(corpus, queries).collect()
    }
    assert first == {10}  # vocabulary mismatch: doc 11 invisible
    second = {
        r.doc_id: r.score
        for r in rm3_expand_rescore(
            corpus, queries, fb_docs=1, fb_terms=2
        ).collect()
    }
    assert 11 in second  # expansion term 'automobile' recalled it
    assert second[10] > second[11] > 0


def _bm25_reference(corpus, queries, k1=1.2, b=0.75):
    """Pure-Python BM25 over (doc_id, text) and (query_id, text) rows,
    unrounded: tokens are ``text.lower().split(" ")``; n_docs counts
    every corpus row; a non-null id's tf and dl sum over all of its
    rows; avgdl averages dl over the non-null ids with a token; df
    counts the non-null ids containing the term."""
    import math
    from collections import Counter

    tf: dict = {}
    for doc_id, text in corpus:
        if doc_id is not None and text is not None:
            tf.setdefault(doc_id, Counter()).update(text.lower().split(" "))
    dl = {i: sum(c.values()) for i, c in tf.items()}
    avgdl = sum(dl.values()) / len(dl)
    df = Counter(term for c in tf.values() for term in c)
    n_docs = len(corpus)
    out: dict = {}
    for qid, text in queries:
        for term in set(text.lower().split(" ")):
            if term not in df:
                continue
            idf = math.log(1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5))
            for i, c in tf.items():
                if term in c:
                    t = c[term]
                    part = t * (k1 + 1) / (t + k1 * (1 - b + b * dl[i] / avgdl))
                    out[(qid, i)] = out.get((qid, i), 0.0) + idf * part
    return out


def test_bm25_edge_cases_match_reference(spark):
    """Null text, a null doc_id, a duplicated doc_id (one of its rows
    with null text), an empty string and runs of spaces (whose empty
    tokens are terms, as in ``split``): the scores equal the reference
    to within the 4-dp rounding, so a null text counted as -1 tokens
    (``size(null)``) in a doc length or in avgdl shows up."""
    from hdp2_5_hive_spark.operators.retrieval import bm25_scores

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "The dog  sat   down"),
        (3, None),
        (None, "cat dog bird"),
        (4, "cat cat bird"),
        (4, "dog"),
        (4, None),
        (5, ""),
        (6, "bird watching  is fun"),
    ]
    queries = [(100, "cat sat"), (101, "dog  bird"), (102, "mat fun")]
    got = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(
            spark.createDataFrame(corpus, "doc_id long, text string"),
            spark.createDataFrame(queries, "query_id long, text string"),
        ).collect()
    }
    want = _bm25_reference(corpus, queries)
    assert set(got) == set(want)
    for key, score in want.items():
        assert abs(got[key] - score) <= 5e-5 + 1e-9, (key, got[key], score)


def test_planted_df_matches_list_path(spark):
    """_planted_df (Arrow/pandas construction — no pickled-row Python
    scan per action) must produce bit-identical rows to the original
    list-based createDataFrame."""
    from hdp2_5_hive_spark.queries.pipeline4 import (
        _planted_df,
        _planted_vectors,
    )

    via_arrow = _planted_df(spark, n_pairs=20).orderBy("vec_id").collect()
    via_list = (
        spark.createDataFrame(
            _planted_vectors(n_pairs=20),
            "vec_id string, embedding array<double>",
        )
        .orderBy("vec_id")
        .collect()
    )
    assert via_arrow == via_list  # exact, including float64 bits
