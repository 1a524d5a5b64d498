"""Near-dup detection semantics on planted duplicates."""

import pytest
from pyspark.sql import functions as F

from mpower_feature_analysis_spark.functions.dedup_text import (
    exact_text_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from mpower_feature_analysis_spark.functions.text import (
    fingerprint,
    language_id,
    token_count,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "and the crowd cheers loudly under the bright evening sky tonight"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(40):
        rows.append((i, f"document number {i} " + " ".join(f"w{i}_{j}" for j in range(30)), "en"))
    # planted near-dups of BASE: tweak 1-2 words
    rows += [
        (100, BASE, "en"),
        (101, BASE.replace("dog", "cat"), "en"),
        (102, BASE.replace("band plays", "group performs"), "en"),
        (103, BASE, "en"),  # exact dup of 100
        (104, "completely different short text", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_keeps_min_id(spark, docs):
    out = exact_text_dedup(docs)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 100 in ids and 103 not in ids
    assert len(ids) == docs.count() - 1


def test_minhash_finds_planted_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, num_hashes=32, bands=16).collect()
    }
    assert (100, 103) in pairs  # exact dup always collides
    assert (100, 101) in pairs or (100, 102) in pairs  # near-dups collide
    # unrelated docs don't flood the candidate set
    unrelated = [p for p in pairs if p[0] < 40 and p[1] < 40]
    assert len(unrelated) < 20


def test_minhash_signature_similarity_ordering(spark, docs):
    sigs = {r.doc_id: r.minhash for r in minhash_signatures(docs, num_hashes=64).collect()}
    sim = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64
    assert sim(100, 103) == 1.0
    assert sim(100, 101) > sim(100, 104)
    assert sim(100, 101) > 0.5


def test_simhash_near_dups(spark, docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(docs, max_hamming=6).collect()}
    assert pairs.get((100, 103)) == 0
    assert all(h <= 6 for h in pairs.values())


def test_ngram_jaccard_verifies(spark, docs):
    cands = minhash_lsh_candidates(docs, num_hashes=32, bands=16)
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(cands, docs, min_jaccard=0.5).collect()
    }
    assert verified.get((100, 103)) == 1.0
    assert all(j >= 0.5 for j in verified.values())
    for (a, b), j in verified.items():
        if a == 100 and b in (101, 102):
            assert 0.5 <= j < 1.0


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "two  words"), (4, "a b  c\td")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n for r in df.select("doc_id", token_count("text", "n").alias("n")).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 2, 4: 4}


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is happy"),
            (1, "der hund und die katze sind nicht da"),
            (2, "le chat et les chiens mangent des croissants"),
            (3, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr" and got[3] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "  hello world "), (2, "hello worlds")],
        "doc_id long, text string",
    )
    fps = [r.fp for r in df.select(fingerprint("text", "fp").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_simhash_arrow_equals_jvm(spark, docs):
    """The numpy-batched SimHash fold reproduces the all-JVM reference fold
    exactly (same token hashes, same vote rule, same 63-bit assembly)."""
    import references as ref
    from mpower_feature_analysis_spark.functions.dedup_text import simhash64
    a = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    b = {r.doc_id: r.simhash for r in ref.simhash64(docs).collect()}
    assert a == b


def test_minhash_hot_bucket_cap(spark):
    """A planted hot bucket (identical boilerplate docs) produces O(n) star
    pairs under the cap instead of O(n^2), and transitive closure over the
    pairs still connects every member to the canonical min id."""
    boiler = " ".join(f"tpl{j}" for j in range(40))
    rows = [(i, boiler, "en") for i in range(100)]
    rows += [(200 + i, f"unique doc {i} " + " ".join(f"u{i}_{j}" for j in range(30)), "en")
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    capped = minhash_lsh_candidates(df, num_hashes=32, bands=8, max_bucket_size=16)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    hot_pairs = [p for p in pairs if p[0] < 100 and p[1] < 100]
    assert len(hot_pairs) == 99           # star: one edge per non-canonical member
    assert all(a == 0 for a, _ in hot_pairs)  # all anchored at the min id
    # skip mode drops the hot bucket entirely
    skipped = minhash_lsh_candidates(
        df, num_hashes=32, bands=8, max_bucket_size=16, hot_bucket_mode="skip"
    )
    assert all(r.id_a >= 100 for r in skipped.collect())


def test_minhash_cap_preserves_small_buckets(spark, docs):
    """With a cap far above every bucket size, capped output == exact."""
    exact = {(r.id_a, r.id_b) for r in
             minhash_lsh_candidates(docs, num_hashes=32, bands=16).collect()}
    capped = {(r.id_a, r.id_b) for r in
              minhash_lsh_candidates(docs, num_hashes=32, bands=16,
                                     max_bucket_size=1000).collect()}
    assert exact == capped


def test_ngram_jaccard_exact_full_recall(spark, docs):
    """The shingle-share-blocked exact path finds EVERY pair with
    jaccard >= τ (brute-force python oracle), unlike the probabilistic
    MinHash candidates."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )
    rows = docs.collect()

    def shingles(t):
        w = t.strip().lower().split()
        if len(w) < 5:
            return {" ".join(w)}
        return {" ".join(w[i:i + 5]) for i in range(len(w) - 4)}

    sh = {r.doc_id: shingles(r.text) for r in rows}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            u = len(sh[a] | sh[b])
            j = len(sh[a] & sh[b]) / max(u, 1)
            if j >= 0.5:
                want[(a, b)] = j
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_exact_pairs(docs, min_jaccard=0.5).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_ngram_jaccard_exact_true_mode_matches_hashed(spark, docs):
    """The string-exact mode — the capped path, which verifies survivors
    against TRUE shingle-string sets (zero hash epsilon) — with a cap no
    bucket reaches must produce the identical pair set + bit-identical
    jaccard values as the default xxhash64-keyed uncapped path on a
    collision-free corpus."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )
    hashed = {(r.id_a, r.id_b): r.jaccard
              for r in ngram_jaccard_exact_pairs(docs, min_jaccard=0.5).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_exact_pairs(
                 docs, min_jaccard=0.5,
                 max_shingle_freq=docs.count()).collect()}
    assert exact == hashed and len(exact) > 0


def test_ngram_jaccard_exact_hot_shingle_cap(spark):
    """max_shingle_freq drops corpus-frequent shingles from candidate
    generation, bounding the join blowup from boilerplate."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )
    boiler = " ".join(f"b{j}" for j in range(10))
    rows = [(i, boiler + f" unique tail {i} " + " ".join(f"t{i}_{j}" for j in range(20)), "en")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # the boilerplate shingles appear in all 30 docs; the unique tails never
    capped = ngram_jaccard_exact_pairs(df, min_jaccard=0.1, max_shingle_freq=5)
    assert capped.count() == 0  # every shared shingle is hot → no candidates
    uncapped = ngram_jaccard_exact_pairs(df, min_jaccard=0.1)
    assert uncapped.count() == 30 * 29 / 2


def _ngram_paths():
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )

    def verify(df):
        cands = df.sparkSession.createDataFrame(
            [(a, b) for a in range(1, 5) for b in range(1, 5)],
            "id_a long, id_b long")
        return ngram_jaccard_pairs(cands, df, min_jaccard=0.0)

    return {
        "uncapped": lambda df: ngram_jaccard_exact_pairs(df, min_jaccard=0.0),
        "capped": lambda df: ngram_jaccard_exact_pairs(
            df, min_jaccard=0.0, max_shingle_freq=8),
        "verify": verify,
    }


@pytest.mark.parametrize("path", sorted(_ngram_paths()))
def test_ngram_jaccard_duplicate_doc_id(spark, path):
    """Input rows that repeat an (id, text) pair count once on every n-gram
    entry point: the output equals, row for row, that of the de-duplicated
    corpus — no ``id_a == id_b`` self-pair, no pair twice, no Jaccard
    above 1, and no failed task (ANSI division by zero)."""
    text = " ".join(f"w{j}" for j in range(17))  # 13 distinct 5-shingles
    rows = [(1, text), (1, text), (2, text),
            (3, text.replace("w16", "x16")), (4, "an unrelated short doc"),
            (3, text.replace("w16", "x16"))]
    schema = "doc_id long, text string"
    uniq = spark.createDataFrame(sorted(set(rows)), schema)
    dup = spark.createDataFrame(rows, schema)
    run = _ngram_paths()[path]

    def pairs(df):
        return sorted((r.id_a, r.id_b, r.jaccard) for r in run(df).collect())

    want = pairs(uniq)
    assert want and all(a != b and 0.0 <= j <= 1.0 for a, b, j in want)
    assert pairs(dup) == want


def test_exploded_shingles_arrow_equals_expression(spark, docs):
    """The Arrow shingle-hash kernel keeps exactly the distinct shingles of
    the JVM expression path: per doc, its row count and its ``sz`` stamp
    equal ``size(array_distinct(word_shingles))``, short/empty texts
    included."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        exploded_shingle_hashes,
    )
    from mpower_feature_analysis_spark.functions.text import word_shingles
    extra = spark.createDataFrame(
        [(900, "", "en"), (901, "   ", "en"), (902, "one two", "en"),
         (903, "a b c d e a b c d e", "en")],
        "doc_id long, text string, lang string",
    )
    d = docs.unionByName(extra)
    exh = exploded_shingle_hashes(d).collect()
    rows, stamps = {}, {}
    for r in exh:
        rows[r.doc_id] = rows.get(r.doc_id, 0) + 1
        stamps.setdefault(r.doc_id, set()).add(r.sz)
    expr = {
        r.doc_id: r.n
        for r in d.select(
            "doc_id",
            F.size(F.array_distinct(word_shingles("text", 5, "sh"))).alias("n"),
        ).collect()
    }
    assert rows == expr
    assert stamps == {i: {n} for i, n in expr.items()}


def test_simhash_hot_bucket_cap(spark):
    """1,000 empty/whitespace docs all fold to simhash=0 and share every
    16-bit chunk — the uncapped self-join would emit ~500k pairs. Under the
    cap the hot chunks go star: O(n) pairs, all anchored at the min id, and
    transitive closure still connects the whole degenerate group."""
    rows = [(i, "   " if i % 2 else "", "en") for i in range(1000)]
    rows += [(2000 + i, f"real doc {i} " + " ".join(f"r{i}_{j}" for j in range(30)), "en")
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    capped = simhash_near_dups(df, max_hamming=3, max_bucket_size=16)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    hot_pairs = [p for p in pairs if p[0] < 1000 and p[1] < 1000]
    assert len(hot_pairs) == 999              # star: one edge per member
    assert all(a == 0 for a, _ in hot_pairs)  # anchored at the canonical
    # skip mode drops the degenerate bucket entirely
    skipped = simhash_near_dups(
        df, max_hamming=3, max_bucket_size=16, hot_bucket_mode="skip"
    )
    assert all(r.id_a >= 1000 for r in skipped.collect())


def test_simhash_cap_preserves_small_buckets(spark, docs):
    """With a cap far above every bucket size, capped output == exact,
    hamming values included."""
    exact = {(r.id_a, r.id_b, r.hamming) for r in
             simhash_near_dups(docs, max_hamming=10).collect()}
    capped = {(r.id_a, r.id_b, r.hamming) for r in
              simhash_near_dups(docs, max_hamming=10, max_bucket_size=1000).collect()}
    assert exact == capped


def test_exploded_shingles_string_ids(spark):
    """ADVICE round 2: the kernel's output schema derives the id type from
    the input schema — string doc ids must round-trip."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        exploded_shingle_hashes,
    )
    df = spark.createDataFrame(
        [("docA", "one two three four five six"), ("docB", "alpha beta")],
        "doc_id string, text string",
    )
    got = exploded_shingle_hashes(df, k=5).collect()
    assert sorted((r.doc_id, r.sz) for r in got) == [
        ("docA", 2), ("docA", 2), ("docB", 1)]


def test_simhash_block_layout_pigeonhole_guarantee():
    """Property (numpy simulation, no Spark): for any 64-bit value and any
    <= max_hamming bit flips, the original and flipped value share at least
    one compound block key, for every supported layout width."""
    import numpy as np
    from mpower_feature_analysis_spark.functions.dedup_text import (
        simhash_block_layout,
    )
    rng = np.random.default_rng(7)
    for blocks in (4, 5, 6, 8):
        offsets, widths, combos = simhash_block_layout(blocks, 3)
        assert sum(widths) == 64 and offsets[0] == 0
        for _ in range(200):
            x = int(rng.integers(0, 1 << 63))
            flips = rng.choice(64, size=int(rng.integers(0, 4)), replace=False)
            y = x
            for f in flips:
                y ^= 1 << int(f)

            def keys(v):
                out = set()
                for ci, combo in enumerate(combos):
                    chunk_vals = tuple(
                        (v >> offsets[i]) & ((1 << widths[i]) - 1) for i in combo
                    )
                    out.add((ci, chunk_vals))
                return out

            assert keys(x) & keys(y), (blocks, x, list(flips))


def test_simhash_block_layout_rejects_bad_params():
    from mpower_feature_analysis_spark.functions.dedup_text import (
        simhash_block_layout,
    )
    import pytest
    with pytest.raises(ValueError, match="must exceed max_hamming"):
        simhash_block_layout(3, 3)
    with pytest.raises(ValueError, match="blocks > 16"):
        simhash_block_layout(17, 3)


def test_auto_simhash_blocks_thresholds():
    """The adaptive rule widens the layout exactly when the minimal one's
    key space saturates (h=3: 16-bit space good to ~262k docs at
    occupancy 4, then 24-bit, then 30-bit)."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        auto_simhash_blocks,
    )
    assert auto_simhash_blocks(10_000, 3) == 4
    assert auto_simhash_blocks(262_144, 3) == 4
    assert auto_simhash_blocks(1_000_000, 3) == 5
    assert auto_simhash_blocks(100_000_000, 3) == 6
    # hamming budget 6 -> minimal layout is 7 blocks
    assert auto_simhash_blocks(1_000, 6) == 7


def test_simhash_wide_blocks_same_pairs(spark, docs):
    """Output pairs are layout-invariant: the verify stage is exact, so
    blocks=4/5/6 (and 'auto') emit the identical pair set."""
    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dups(docs, max_hamming=3, blocks=4).collect()
    }
    for b in (5, 6, "auto"):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_near_dups(docs, max_hamming=3, blocks=b).collect()
        }
        assert got == base, b


def test_simhash_wide_blocks_planted_recall(spark):
    """Planted near-identical docs (hamming <= 3 by construction of shared
    text) are recovered by the widened layout with full recall — the
    scale fix must not silently lose the pigeonhole guarantee."""
    base_words = ["tok%d" % i for i in range(60)]
    rows = []
    for d in range(40):
        words = list(base_words)
        words[0] = "doc%d" % d          # distinct docs
        rows.append((2 * d, " ".join(words)))
        # near-dup: one extra word changed -> tiny simhash perturbation
        words[1] = "alt%d" % d
        rows.append((2 * d + 1, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from mpower_feature_analysis_spark.functions.dedup_text import simhash64
    sims = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    planted = {
        (2 * d, 2 * d + 1)
        for d in range(40)
        if bin(sims[2 * d] ^ sims[2 * d + 1]).count("1") <= 3
    }
    assert planted  # the construction must actually plant close pairs
    for b in (5, 6):
        pairs = {
            (r.id_a, r.id_b)
            for r in simhash_near_dups(df, max_hamming=3, blocks=b).collect()
        }
        assert planted <= pairs, (b, planted - pairs)


def test_materialize_unpersist_all(spark, docs):
    """'persist'-mode frames are parked in the registry and released by
    unpersist_all (round-5 advice: CacheManager holds strong refs, so a
    long-lived session needs an explicit release hook). Round-7: minhash,
    simhash and the uncapped ngram path became single-consumer plans with
    no materialize barrier, so the CAPPED ngram path's shingle frame
    (freq aggregate + both join sides) is now the persist-mode exemplar."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )
    from mpower_feature_analysis_spark.utils import _PERSISTED, unpersist_all

    unpersist_all()  # drain anything earlier tests parked
    out = ngram_jaccard_exact_pairs(docs, max_shingle_freq=50)
    out.count()  # materialize → the shingle frame is now cached
    assert len(_PERSISTED) >= 1
    cached = [df for df in _PERSISTED if df.storageLevel.useMemory or df.storageLevel.useDisk]
    assert cached, "persist mode did not mark any frame persisted"
    released = unpersist_all()
    assert released >= 1
    assert not _PERSISTED
    assert all(not (df.storageLevel.useMemory or df.storageLevel.useDisk)
               for df in cached)


def test_ngram_exact_capped_persists_no_single_consumer_frame(spark, docs):
    """With a cap, the exploded shingle frame feeds only the candidate
    groupBy, so it takes no materialize barrier: the call parks exactly
    two frames (candidates + verify shingle arrays)."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )
    from mpower_feature_analysis_spark.utils import _PERSISTED, unpersist_all

    unpersist_all()
    capped = ngram_jaccard_exact_pairs(docs, min_jaccard=0.3, max_shingle_freq=3)
    n_parked = len(_PERSISTED)
    got = capped.collect()
    unpersist_all()
    assert n_parked == 2
    assert len(got) > 0


def test_ngram_kernel_pairs_equal_self_join(spark, docs):
    """Round-7: the uncapped hashed path's bucket-pairs kernel must
    reproduce the old shingle self-join EXACTLY — same pair set, bit-equal
    jaccard — including on edge docs (empty / NULL / short / unicode /
    multi-space) and on a corpus with a hot shingle shared by many docs."""
    from mpower_feature_analysis_spark.functions.dedup_text import (
        exploded_shingle_hashes,
        ngram_jaccard_exact_pairs,
    )

    edge = spark.createDataFrame(
        [(200, ""), (201, None), (202, "one two"), (203, "  spaced   out  "),
         (204, "ünï çōdé wörds hère tōdây ünï çōdé wörds hère"),
         (205, "ünï çōdé wörds hère tōdây ünï çōdé wörds hère")],
        "doc_id long, text string",
    ).select("doc_id", "text", F.lit("en").alias("lang"))
    corpus = docs.unionByName(edge)

    new = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_exact_pairs(corpus, min_jaccard=0.0).collect()}

    # reference: the pre-kernel self-join + aggregate form, verbatim
    exh = exploded_shingle_hashes(corpus, "doc_id", "text", 5)
    a, b = exh.alias("a"), exh.alias("b")
    ref_df = (
        a.join(b, (F.col("a.gh") == F.col("b.gh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("isz"),
             F.min("a.sz").alias("sa"), F.min("b.sz").alias("sb"))
        .withColumn("jaccard", F.col("isz").cast("double")
                    / F.greatest(F.col("sa") + F.col("sb") - F.col("isz"), F.lit(1)))
    )
    ref = {(r.id_a, r.id_b): r.jaccard for r in ref_df.collect()}
    assert new == ref and len(new) > 0


def test_ngram_capped_bucket_groupby_equals_freq_join(spark, docs):
    """Round-7 (late): the CAPPED path's single bucket-groupBy candidate
    generation + candidate-doc-only string verify must reproduce the old
    freq-aggregate + cap-join + self-join + full-corpus-verify form
    EXACTLY — same pair set, bit-equal jaccard — on edge docs and around
    the cap boundary of a planted hot shingle."""
    import references as ref_
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )

    edge = spark.createDataFrame(
        [(200, ""), (201, None), (202, "one two"), (203, "  spaced   out  "),
         (204, "ünï çōdé wörds hère tōdây ünï çōdé wörds hère"),
         (205, "ünï çōdé wörds hère tōdây ünï çōdé wörds hère")],
        "doc_id long, text string",
    ).select("doc_id", "text", F.lit("en").alias("lang"))
    boiler = " ".join(f"b{j}" for j in range(6))
    hot = spark.createDataFrame(
        [(300 + i, boiler + " " + " ".join(f"t{i}_{j}" for j in range(6)), "en")
         for i in range(8)],
        "doc_id long, text string, lang string",
    )
    corpus = docs.unionByName(edge).unionByName(hot)

    # caps straddle the hot shingle's frequency (8) and the dup-group size
    for cap in (4, 8, 64):
        new = {(r.id_a, r.id_b): r.jaccard
               for r in ngram_jaccard_exact_pairs(
                   corpus, min_jaccard=0.0, max_shingle_freq=cap).collect()}
        ref = {(r.id_a, r.id_b): r.jaccard for r in
               ref_.ngram_jaccard_capped_pairs(corpus, cap).collect()}
        assert new == ref, (cap, len(new), len(ref))
    assert len(ref) > 0


def test_minhash_arrow_equals_jvm(spark, docs):
    """The mapInArrow signature fold must be BIT-equal to the JVM
    transform+array_min reference chain, including NULL/empty/short
    texts (null shingle arrays → all-null signatures)."""
    import references as ref
    from mpower_feature_analysis_spark.functions.dedup_text import (
        minhash_signatures,
    )
    edge = spark.createDataFrame(
        [(300, ""), (301, None), (302, "a"), (303, "one two three four"),
         (304, "exactly five words right here now")],
        "doc_id long, text string",
    ).select("doc_id", "text", F.lit("en").alias("lang"))
    corpus = docs.unionByName(edge)
    a = {r.doc_id: r.minhash
         for r in minhash_signatures(corpus, num_hashes=8).collect()}
    b = {r.doc_id: r.minhash
         for r in ref.minhash_signatures(corpus, num_hashes=8).collect()}
    assert a == b and len(a) == corpus.count()


def test_xxh64_numpy_twins_match_jvm(spark):
    """_xxh64_long / _xxh64_int are bit-exact twins of Spark's xxhash64
    over long / chained int columns (the contract minhash_signatures'
    Arrow kernel rests on)."""
    import numpy as np
    from mpower_feature_analysis_spark.functions.dedup_text import (
        _xxh64_int,
        _xxh64_long,
    )
    vals = [0, 1, -1, 42, -42, 2**63 - 1, -2**63, 123456789, -987654321]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    arr = np.array(vals, np.int64).view(np.uint64)
    jvm = [r[0] for r in df.select(F.xxhash64("v")).collect()]
    assert list(_xxh64_long(arr, np.uint64(42)).view(np.int64)) == jvm
    for i in (0, 3, 31):
        jvm2 = [r[0] for r in df.select(F.xxhash64("v", F.lit(i))).collect()]
        h = _xxh64_int(np.uint64(i), _xxh64_long(arr, np.uint64(42)))
        assert list(h.view(np.int64)) == jvm2


def test_minhash_simhash_null_doc_id(spark):
    """A NULL doc id never pairs, and never fails the task, capped or not:
    the pairs equal those of the corpus without the NULL row."""
    rows = [(1, BASE), (2, BASE), (3, "another short text here"), (None, BASE)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    clean = df.filter("doc_id IS NOT NULL")
    for cap in (None, 1):
        mh = dict(num_hashes=32, bands=8, max_bucket_size=cap)
        sh = dict(max_hamming=3, max_bucket_size=cap)
        for fn, kw in ((minhash_lsh_candidates, mh), (simhash_near_dups, sh)):
            got = sorted(tuple(r) for r in fn(df, **kw).collect())
            assert got == sorted(tuple(r) for r in fn(clean, **kw).collect())
            assert got and got[0][:2] == (1, 2), (fn.__name__, cap, got)


def test_minhash_simhash_duplicate_doc_id_no_self_pair(spark):
    """A doc id repeated across input rows yields no ``id_a == id_b``
    self-pair, capped or not; the pairs equal those of the same corpus
    with unique ids."""
    rows = [(1, BASE), (2, BASE)]
    schema = "doc_id long, text string"
    uniq = spark.createDataFrame(rows, schema)
    dup = spark.createDataFrame(rows + [(1, BASE)], schema)
    for cap in (None, 1):
        mh = dict(num_hashes=32, bands=8, max_bucket_size=cap)
        sh = dict(max_hamming=3, max_bucket_size=cap)
        for fn, kw in ((minhash_lsh_candidates, mh), (simhash_near_dups, sh)):
            got = sorted(tuple(r) for r in fn(dup, **kw).collect())
            assert got == sorted(tuple(r) for r in fn(uniq, **kw).collect())
            assert [p[:2] for p in got] == [(1, 2)], (fn.__name__, cap, got)


def test_bucket_callers_equal_references(spark, batches_of_32):
    """MinHash candidates, SimHash near-dups and capped n-gram pairs equal
    their bucket self-join references (``==`` on sorted rows) under 32-row
    Arrow batches, on a corpus with a NULL id, a duplicated id, singletons,
    planted near-dups and a hot bucket above the cap, uncapped and capped
    in 'star' and 'skip'."""
    import references as ref
    from mpower_feature_analysis_spark.functions.dedup_text import (
        ngram_jaccard_exact_pairs,
    )

    boiler = " ".join(f"tpl{j}" for j in range(40))
    rows = [(None, BASE), (1, BASE), (1, BASE), (2, BASE),
            (3, BASE.replace("dog", "cat")), (4, BASE.replace("band", "group")),
            (5, ""), (6, "   ")]
    rows += [(10 + i, f"single doc {i} " + " ".join(f"s{i}_{j}" for j in range(20)))
             for i in range(20)]
    rows += [(100 + i, boiler) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def rows_of(frame):
        return sorted(tuple(r) for r in frame.collect())

    for cap, mode in ((None, "star"), (16, "star"), (16, "skip")):
        kw = dict(max_bucket_size=cap, hot_bucket_mode=mode)
        want = rows_of(ref.minhash_lsh_candidates(df, bands=8, **kw))
        assert rows_of(minhash_lsh_candidates(df, bands=8, **kw)) == want, kw
        assert want
        want = rows_of(ref.simhash_near_dups(df, blocks=4, **kw))
        assert rows_of(simhash_near_dups(df, blocks=4, **kw)) == want, kw
        assert want
    for cap in (4, 16):
        want = rows_of(ref.ngram_jaccard_capped_pairs(df, cap))
        got = rows_of(ngram_jaccard_exact_pairs(
            df, min_jaccard=0.0, max_shingle_freq=cap))
        assert got == want and want, cap
