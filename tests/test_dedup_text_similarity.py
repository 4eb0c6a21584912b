"""Training-data pipeline ops: dedup (exact/minhash/simhash/jaccard), text
analysis, embedding similarity — over the driver-provided documents /
embeddings tables plus controlled micro-fixtures."""

import math

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs_small(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The  quick brown fox jumps over the lazy dog"),  # dup after norm
        (4, "the quick brown fox jumps over the lazy cat"),  # near dup
        (5, "completely different content about spark engines"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---- text analysis ------------------------------------------------------


def test_token_counts(spark, docs_small):
    out = docs_small.select(
        "doc_id", text.token_count(F.col("text")).alias("n")
    ).collect()
    by_id = {r["doc_id"]: r["n"] for r in out}
    assert by_id[1] == 9
    assert by_id[6] == 0


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([("hello, world! x2",)], "t string")
    n = df.select(text.bpe_ish_token_count(F.col("t")).alias("n")).collect()[0]["n"]
    # hello , world ! x 2 → 6
    assert n == 6


def test_quality_and_ratios(docs_small):
    out = docs_small.select(
        "doc_id",
        text.stopword_ratio(F.col("text")).alias("sw"),
        text.punct_ratio(F.col("text")).alias("p"),
        text.mean_word_length(F.col("text")).alias("mwl"),
        text.quality_score(F.col("text")).alias("q"),
    ).collect()
    r1 = next(r for r in out if r["doc_id"] == 1)
    assert r1["sw"] == pytest.approx(2 / 9)  # "the" ×2
    assert r1["p"] == 0.0
    assert r1["mwl"] == pytest.approx(35 / 9)
    assert 0 < r1["q"] <= 1


def test_detect_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is happy"),
            (2, "el gato esta en la casa de los abuelos"),
            (3, "le chat est dans la maison pour les vacances"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", text.detect_lang(F.col("text")).alias("lang")
    ).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_fingerprint_normalization(docs_small):
    fps = docs_small.select("doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()
    by_id = {r["doc_id"]: r["fp"] for r in fps}
    assert by_id[1] == by_id[2] == by_id[3]
    assert by_id[1] != by_id[4]


def test_rolling_fingerprints(spark):
    df = spark.createDataFrame([("a" * 200,)], "t string")
    out = df.select(
        F.size(text.rolling_fingerprints(F.col("t"), k=50, stride=25)).alias("n")
    ).collect()[0]["n"]
    assert out == 7  # starts 1,26,...,151


def test_analyze_documents_on_testdata(documents):
    out = text.analyze_documents(documents)
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    assert row["n_chars_computed"] == row["n_chars"]  # matches generator column
    assert row["n_tokens"] > 0
    assert row["fp"] is not None


# ---- dedup --------------------------------------------------------------


def test_exact_duplicate_groups(docs_small):
    groups = dedup.exact_duplicate_groups(docs_small).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 3
    assert g["keep_id"] == 1
    assert g["doc_ids"] == [1, 2, 3]


def test_exact_duplicate_groups_id_cap(spark):
    # one pathological group (7 identical docs) + a distinct doc; cap at 3:
    # n_docs stays exact, doc_ids holds the 3 smallest ids, and the capped
    # plan has no unbounded collect (row_number window reuses the groupBy's
    # hash distribution — exactly one exchange on fp)
    rows = [(i, "same text") for i in range(10, 17)] + [(1, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = dedup.exact_duplicate_groups(df, max_group_ids=3).collect()
    assert len(g) == 1
    assert g[0]["n_docs"] == 7
    assert g[0]["keep_id"] == 10
    assert g[0]["doc_ids"] == [10, 11, 12]
    plan = dedup.exact_duplicate_groups(df, max_group_ids=3)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_exact_dedup_keeps_one(docs_small):
    kept = dedup.exact_dedup(docs_small)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert ids == [1, 4, 5, 6]


def test_minhash_lsh_finds_near_dups(docs_small):
    pairs = dedup.minhash_dedup_pairs(
        docs_small.filter("doc_id < 6"), threshold=0.5, num_hashes=64, bands=16
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # exact dups must be found with est_jaccard 1.0
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    # near-dup (fox/cat) shares most shingles
    assert any(a == 1 and b == 4 for a, b in got)
    # unrelated doc 5 pairs must not appear
    assert not any(5 in p for p in got)


def test_simhash(docs_small):
    sigs = dedup.simhash_signatures(docs_small.filter("doc_id < 6"))
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=3)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 0
    assert (1, 5) not in got


def test_simhash_banding_recall_spread_bits(spark):
    """Pigeonhole completeness at default chunks: a pair whose 8 differing
    bits land in every 16-bit quarter (the old chunks=4 default silently
    missed it) must be found at max_hamming=8."""
    spread = 0
    for bit in (0, 8, 16, 24, 32, 40, 48, 56):
        spread |= 1 << bit
    sigs = spark.createDataFrame(
        [(1, 0), (2, spread)], "doc_id long, simhash long"
    )
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=8).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 8


def test_simhash_banding_rejects_incomplete_chunks(spark):
    sigs = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(sigs, max_hamming=8, chunks=4)


def test_simhash_banding_negative_signature(spark):
    """Top-bit-set (negative long) signatures band correctly — the top chunk
    must use a logical, not arithmetic, shift."""
    a = -(1 << 63)  # only bit 63 set
    sigs = spark.createDataFrame(
        [(1, a), (2, a ^ 1)], "doc_id long, simhash long"
    )
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=1).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 1


def test_token_jaccard(docs_small):
    pairs = dedup.token_jaccard_pairs(docs_small, threshold=0.5)
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    # docs 1 vs 4: 8 distinct tokens each ("the" dedups), |∩|=7, |∪|=9
    assert got[(1, 4)] == pytest.approx(7 / 9)
    assert (1, 5) not in got


def test_token_jaccard_max_df_exact_on_surviving_pairs(spark):
    """Stop-word-heavy corpus: df-pruning keeps the join linear (hot tokens
    never self-join) while reported jaccard stays exact — the pruned run
    must equal the exact run whenever every qualifying pair shares at least
    one rare token."""
    stop = "the a of and to"
    rows = []
    for i in range(0, 40, 2):
        rows.append((i, f"{stop} uniq{i}a uniq{i}b uniq{i}c"))
        rows.append((i + 1, f"{stop} uniq{i}a uniq{i}b uniq{i}d"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.token_jaccard_pairs(df, threshold=0.5).collect()
    }
    pruned = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.token_jaccard_pairs(df, threshold=0.5, max_df=10).collect()
    }
    assert exact == pruned
    assert len(exact) == 20  # the (i, i+1) pairs, each 7/9
    assert all(v == pytest.approx(7 / 9) for v in exact.values())


def test_token_jaccard_max_df_recall_contract(spark):
    """Documented recall gap: a pair sharing ONLY hot tokens is not a
    candidate under max_df (its jaccard is bounded by the hot overlap)."""
    stop = "the a of and to"
    rows = [(i, stop) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = dedup.token_jaccard_pairs(df, threshold=0.9).collect()
    pruned = dedup.token_jaccard_pairs(df, threshold=0.9, max_df=5).collect()
    assert len(exact) == 190 and len(pruned) == 0


def test_token_jaccard_prefix_filter_matches_brute_force(spark):
    """The default (prefix-filter) path is EXACT: on a random corpus spanning
    hot stop words and rare tokens it must produce byte-identical pairs to a
    driver-side brute-force Jaccard at several thresholds — including pairs
    whose overlap is entirely stop words (the case legacy max_df pruning
    misses)."""
    import itertools
    import random

    rng = random.Random(1234)
    vocab_hot = ["the", "a", "of", "and", "to"]
    vocab_rare = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(40):
        n_hot = rng.randint(0, 5)
        n_rare = rng.randint(0, 6)
        toks = rng.sample(vocab_hot, n_hot) + rng.sample(vocab_rare, n_rare)
        if not toks:
            toks = ["the"]
        rng.shuffle(toks)
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sets = {i: set(t.split()) for i, t in rows}
    for thr in (0.3, 0.6, 0.9):
        expected = {}
        for x, y in itertools.combinations(sorted(sets), 2):
            inter = len(sets[x] & sets[y])
            if inter:
                j = inter / len(sets[x] | sets[y])
                if j >= thr:
                    expected[(x, y)] = pytest.approx(j)
        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in dedup.token_jaccard_pairs(df, threshold=thr).collect()
        }
        assert got == expected, f"threshold {thr}"


def test_minhash_on_testdata_documents(documents):
    """Sanity at realistic shape: runs end-to-end, est_jaccard within [0,1]."""
    pairs = dedup.minhash_dedup_pairs(documents.limit(200), threshold=0.8)
    rows = pairs.collect()
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0


# ---- similarity ---------------------------------------------------------


def test_brute_force_topk(spark, embeddings):
    qrow = embeddings.filter(F.col("vec_id") == 0).collect()[0]
    q = list(qrow["embedding"])
    top = similarity.brute_force_topk(embeddings, q, k=5).collect()
    assert top[0]["vec_id"] == 0
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recall(spark, embeddings):
    qrow = embeddings.filter(F.col("vec_id") == 0).collect()[0]
    q = list(qrow["embedding"])
    exact = [r["vec_id"] for r in similarity.brute_force_topk(embeddings, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.lsh_topk(
            embeddings, q, k=10, n_planes=8, multi_probe_hamming=2
        ).collect()
    ]
    # the query itself must be found; recall@10 should be reasonable
    assert 0 in approx
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5


def test_embedding_near_dup_pairs(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base * 2.0]),  # same direction → cosine 1
        (3, [float(x) for x in base + rng.standard_normal(16) * 0.01]),
        (4, [float(x) for x in rng.standard_normal(16)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_duplicate_pairs(df, threshold=0.99, n_planes=8)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got
    assert not any(4 in p for p in got)
    # LSH result ⊆ exact result
    exact = {
        (r["a"], r["b"])
        for r in similarity.brute_force_pairs(df, threshold=0.99).collect()
    }
    assert got <= exact


def test_distributed_documents_deterministic(spark):
    from great_expectations_spark.testing.documents import distributed_documents_df

    a = distributed_documents_df(spark, 500, partitions=4)
    b = distributed_documents_df(spark, 500, partitions=8)
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_ivf_topk_recall(spark, embeddings):
    """IVF (kmeans-bucketed) ANN: recall@10 vs brute force with a modest
    probe budget, and perfect recall when probing every list."""
    q = embeddings.select("embedding").first()[0]
    C = similarity.train_ivf_centroids(
        embeddings, n_centroids=16, sample_size=5000, seed=7
    )
    assert C.shape[0] == 16
    indexed = similarity.ivf_assign(embeddings, C).persist()
    try:
        exact = [r["vec_id"] for r in similarity.brute_force_topk(embeddings, q, k=10).collect()]
        approx = [
            r["vec_id"]
            for r in similarity.ivf_topk(indexed, C, q, k=10, n_probe=4).collect()
        ]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.6, (recall, exact, approx)
        full = [
            r["vec_id"]
            for r in similarity.ivf_topk(indexed, C, q, k=10, n_probe=16).collect()
        ]
        assert full == exact  # probing every list == exact search
    finally:
        indexed.unpersist()


def test_duplicate_clusters_transitive(spark):
    """A~B, B~C, C~D chain collapses into ONE cluster (transitive closure),
    separate cliques stay separate, and convergence needs multiple
    propagation rounds (chain diameter > 1)."""
    from great_expectations_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10)], ["a", "b"]
    )
    out = {r["node"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_dedup_by_clusters_keeps_canonical_and_singletons(spark):
    from great_expectations_spark.operators.dedup import dedup_by_clusters

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["a", "b"])
    kept = sorted(r["doc_id"] for r in dedup_by_clusters(df, pairs).collect())
    # clusters {1,2,3} -> keep 1; {5,6} -> keep 5; 4 and 7 untouched
    assert kept == [1, 4, 5, 7]


def test_clusters_from_minhash_pipeline(spark):
    """End-to-end: corpus -> MinHash+LSH pairs -> clusters -> canonical rows."""
    from great_expectations_spark.operators.dedup import (
        dedup_by_clusters,
        minhash_dedup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 10
    rows = [
        (1, base), (2, base + "!"), (3, base + " extra tail"),
        (4, "completely different text about spark dataframes " * 12),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_dedup_pairs(df, threshold=0.8, bands=16)
    kept = sorted(r["doc_id"] for r in dedup_by_clusters(df, pairs).collect())
    assert 4 in kept            # the unrelated doc survives
    assert kept[0] == 1         # canonical of the near-dup cluster is min id
    assert len(kept) < 4        # at least one near-dup dropped


def test_duplicate_clusters_long_chain_louds_or_converges(spark):
    """Pointer jumping makes a path graph converge in O(log diameter)
    rounds: a 41-node chain (diameter 40) collapses to cluster 0 within 10
    iterations (plain propagation would need 40). With too few iterations
    the operator RAISES instead of returning silently-wrong labels."""
    from great_expectations_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], ["a", "b"])
    stats = {}
    out = duplicate_clusters(chain, max_iterations=10, stats=stats).collect()
    assert all(r["cluster_id"] == 0 for r in out) and len(out) == 41
    # telemetry out-param: converged within the O(log diameter) budget
    assert stats["converged"] is True and 1 <= stats["iterations"] <= 10

    with pytest.raises(ValueError, match="did not converge"):
        duplicate_clusters(chain, max_iterations=2)


def test_duplicate_clusters_releases_its_checkpoints(spark):
    """Each round's local checkpoints are released once superseded: a
    converged call leaves only the returned labels persisted, a call that
    does not converge leaves nothing (the chain used to leave 2 per round
    plus 1)."""
    from test_planner_lifecycle import _persistent_rdds, _rdd_mark

    from great_expectations_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], ["a", "b"])
    mark = _rdd_mark(spark)
    stats = {}
    labels = duplicate_clusters(chain, max_iterations=10, stats=stats)
    assert stats["iterations"] > 1
    assert _persistent_rdds(spark, mark) <= 1
    assert labels.count() == 41 and labels.agg(F.max("cluster_id")).first()[0] == 0

    mark = _rdd_mark(spark)
    with pytest.raises(ValueError, match="did not converge"):
        duplicate_clusters(chain, max_iterations=2)
    assert _persistent_rdds(spark, mark) == 0


def test_similarity_zero_norm_and_null_embeddings(spark):
    """Zero-norm embeddings (failed-embedding artifacts) must not crash under
    ANSI mode: they drop out of top-k/pairs; nulls get IVF list -1; a
    zero-norm QUERY raises a clear error."""
    from great_expectations_spark.operators.similarity import (
        brute_force_pairs,
        brute_force_topk,
        ivf_assign,
        train_ivf_centroids,
    )
    import numpy as np

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("z", [0.0, 0.0]), ("n", None)],
        "vec_id string, embedding array<double>",
    )
    top = brute_force_topk(df, [1.0, 0.0], k=10).collect()
    assert [r["vec_id"] for r in top] == ["a", "b"]  # z and n dropped

    pairs = brute_force_pairs(df.filter("embedding is not null"), threshold=0.5).collect()
    assert {(p["a"], p["b"]) for p in pairs} == {("a", "b")}

    C = train_ivf_centroids(df, n_centroids=2, sample_size=10)
    assigned = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(df, C).collect()}
    assert assigned["n"] == -1          # null embedding -> sentinel list
    assert assigned["a"] >= 0

    with pytest.raises(ValueError, match="zero norm"):
        brute_force_topk(df, [0.0, 0.0], k=3)


# ---- substring-span dedup (duplicated n-gram spans) ---------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_spans_cross_doc_exact_boundaries(spark):
    # docs 1 and 2 share tokens 2..7 (6 tokens, "c d e f g h"); k=4 means
    # shared 4-grams at starts 2,3,4 in doc 1 → merged span [2, 8)
    d1 = "a b c d e f g h x y z w q r"          # 14 tokens
    d2 = "p q2 c d e f g h m n o"               # shared run at positions 2..7
    df = _mk_docs(spark, [(1, d1), (2, d2)])
    spans = dedup.duplicate_ngram_spans(df, k=4).collect()
    by_id = {(r["doc_id"]): (r["start_token"], r["end_token"], r["dup_grams"]) for r in spans}
    assert by_id[1] == (2, 8, 3)
    assert by_id[2] == (2, 8, 3)


def test_ngram_spans_within_doc_repetition(spark):
    # one doc repeating an 8-token boilerplate twice, different filler around
    boiler = "t1 t2 t3 t4 t5 t6 t7 t8"
    df = _mk_docs(spark, [(1, f"s1 s2 {boiler} m1 m2 m3 {boiler} e1 e2")])
    spans = dedup.duplicate_ngram_spans(df, k=8).collect()
    got = sorted((r["start_token"], r["end_token"]) for r in spans)
    # boilerplate occupies tokens [2,10) and [13,21)
    assert got == [(2, 10), (13, 21)]


def test_ngram_spans_no_dups_and_short_docs(spark):
    df = _mk_docs(
        spark,
        [(1, "alpha beta gamma delta"), (2, "one two"), (3, ""), (4, "x")],
    )
    assert dedup.duplicate_ngram_spans(df, k=3).count() == 0


def test_ngram_spans_adjacent_spans_merge(spark):
    # two docs sharing two runs separated by exactly k tokens of unique
    # filler per doc: gap > k → two distinct spans, not one
    run1, run2 = "c1 c2 c3 c4", "d1 d2 d3 d4"
    df = _mk_docs(
        spark,
        [
            (1, f"{run1} u1 u2 u3 u4 u5 {run2}"),
            (2, f"z1 z2 {run1} v1 v2 v3 v4 v5 {run2} z3"),
        ],
    )
    rows = dedup.duplicate_ngram_spans(df, k=4).collect()
    d1 = sorted((r["start_token"], r["end_token"]) for r in rows if r["doc_id"] == 1)
    assert d1 == [(0, 4), (9, 13)]


def test_duplicated_token_stats(spark):
    d1 = "a b c d e f g h x y z w q r"
    d2 = "p q2 c d e f g h m n o"
    df = _mk_docs(spark, [(1, d1), (2, d2), (3, "unique only here")])
    spans = dedup.duplicate_ngram_spans(df, k=4)
    stats = {
        r["doc_id"]: r
        for r in dedup.duplicated_token_stats(df, spans).collect()
    }
    assert stats[1]["n_tokens"] == 14 and stats[1]["dup_tokens"] == 6
    assert stats[1]["dup_fraction"] == pytest.approx(6 / 14)
    assert stats[2]["dup_tokens"] == 6 and stats[2]["n_spans"] == 1
    assert stats[3]["dup_tokens"] == 0 and stats[3]["dup_fraction"] == 0.0


def test_ngram_spans_min_count_threshold(spark):
    # a run shared by exactly 2 docs disappears at min_count=3, stays with a
    # third copy present
    run = "r1 r2 r3 r4 r5"
    df2 = _mk_docs(spark, [(1, f"{run} a1 a2"), (2, f"b1 {run} b2")])
    assert dedup.duplicate_ngram_spans(df2, k=5, min_count=3).count() == 0
    df3 = _mk_docs(
        spark, [(1, f"{run} a1 a2"), (2, f"b1 {run} b2"), (3, f"c1 c2 {run}")]
    )
    assert dedup.duplicate_ngram_spans(df3, k=5, min_count=3).count() == 3


def test_benchmark_contamination(spark):
    bench = _mk_docs(spark, [(100, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")])
    corpus = _mk_docs(
        spark,
        [
            # contains bench tokens 0..9 verbatim → grams 5..14 of this doc
            # hit; doc has 20 tokens → 13 grams, 3 contaminated (the 10-token
            # run yields 3 k=8 grams)
            (1, "a1 a2 a3 a4 a5 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 b1 b2 b3 b4 b5"),
            (2, "clean doc with no benchmark overlap at all whatsoever here"),
            (3, "tiny"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.benchmark_contamination(corpus, bench, k=8).collect()
    }
    assert out[1]["n_grams"] == 13
    assert out[1]["contaminated_grams"] == 3
    assert out[1]["contamination_fraction"] == pytest.approx(3 / 13)
    assert out[2]["contaminated_grams"] == 0 and out[2]["contamination_fraction"] == 0.0
    assert out[3]["n_grams"] == 0 and out[3]["contamination_fraction"] == 0.0


def test_benchmark_contamination_full_overlap(spark):
    text = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    bench = _mk_docs(spark, [(1, text)])
    corpus = _mk_docs(spark, [(7, text)])
    row = dedup.benchmark_contamination(corpus, bench, k=8).collect()[0]
    assert row["n_grams"] == 2 and row["contaminated_grams"] == 2
    assert row["contamination_fraction"] == 1.0


# ---- PII detection / scrubbing ------------------------------------------


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (1, "contact me at jane.doe+x@example.co.uk or (555) 123-4567"),
        (2, "ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0.255.1"),
        (3, "perfectly clean text with numbers like 42 and 2026"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pii_counts_and_total(pii_docs):
    out = {
        r["doc_id"]: r
        for r in pii_docs.select(
            "doc_id",
            text.pii_counts(F.col("text")).alias("c"),
            text.pii_total(F.col("text")).alias("total"),
        ).collect()
    }
    assert out[1]["c"]["email"] == 1 and out[1]["c"]["phone"] == 1
    assert out[1]["c"]["ssn"] == 0
    assert out[2]["c"]["ssn"] == 1
    assert out[2]["c"]["credit_card"] == 1
    assert out[2]["c"]["ipv4"] == 1
    assert out[3]["total"] == 0 and out[4]["total"] == 0
    assert out[1]["total"] >= 2


def test_pii_scrub(pii_docs):
    out = {
        r["doc_id"]: r["s"]
        for r in pii_docs.select(
            "doc_id", text.scrub_pii(F.col("text")).alias("s")
        ).collect()
    }
    assert "example.co.uk" not in out[1] and "[PII]" in out[1]
    assert "123-45-6789" not in out[2] and "4111" not in out[2]
    assert out[3] == "perfectly clean text with numbers like 42 and 2026"
    # subset scrub leaves other types in place
    only_email = pii_docs.filter("doc_id = 1").select(
        text.scrub_pii(F.col("text"), pii_types=["email"]).alias("s")
    ).collect()[0]["s"]
    assert "123-4567" in only_email and "@" not in only_email


def test_pii_unknown_type_raises(pii_docs):
    with pytest.raises(ValueError, match="unknown pii_types"):
        pii_docs.select(text.pii_total(F.col("text"), ["email", "nope"]))
    with pytest.raises(ValueError, match="unknown pii_types"):
        pii_docs.select(text.scrub_pii(F.col("text"), pii_types=["nope"]))


def test_expect_no_pii_expectation(spark, pii_docs):
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine

    suite = ExpectationSuite(name="pii")
    suite.add("expect_column_values_to_not_contain_pii", column="text", mostly=0.5)
    suite.add(
        "expect_column_values_to_not_contain_pii",
        column="text",
        pii_types=["ssn"],
    )
    res = SparkValidationEngine(spark).validate(pii_docs, suite)
    r_all, r_ssn = res.results
    # docs 1 and 2 contain PII → 2/4 unexpected, mostly=0.5 passes
    assert r_all.result["unexpected_count"] == 2
    assert r_all.success is True
    # only doc 2 has an SSN → 1 unexpected, default mostly=1.0 fails
    assert r_ssn.result["unexpected_count"] == 1
    assert r_ssn.success is False
    # scan provenance: a consumer quoting this as a compliance gate can see
    # which detection-grade inventory was scanned
    assert r_all.result["details"]["patterns_version"] == text.PII_PATTERNS_VERSION
    assert r_all.result["details"]["pii_types_scanned"] == list(text.PII_PATTERNS)
    assert r_ssn.result["details"]["pii_types_scanned"] == ["ssn"]


# ---- URL canonicalization / corpus n-grams ------------------------------


def test_canonical_url(spark):
    rows = [
        ("HTTPS://Example.COM:443/Path/?utm_source=x&q=1#frag", "https://example.com/Path/?q=1"),
        ("http://example.com:80/", "http://example.com"),
        ("https://example.com/path?a=1&utm_campaign=c&b=2", "https://example.com/path?a=1&b=2"),
        ("https://example.com/path?utm_source=a&gclid=b&q=1", "https://example.com/path?q=1"),
        ("https://example.com/?utm_source=only", "https://example.com"),
        ("https://example.com/p?q=1&fbclid=zz", "https://example.com/p?q=1"),
        # default ports are SCHEME-specific: http:443 / https:80 name
        # different resources and must survive canonicalization
        ("http://example.com:443/login", "http://example.com:443/login"),
        ("https://example.com:80/login", "https://example.com:80/login"),
        ("http://example.com:80/login", "http://example.com/login"),
        ("https://example.com:443/login", "https://example.com/login"),
    ]
    df = spark.createDataFrame(rows, "u string, want string")
    bad = df.filter(text.canonical_url(F.col("u")) != F.col("want")).count()
    assert bad == 0


def test_url_host(spark):
    df = spark.createDataFrame(
        [("https://Sub.Example.com:8443/x?y=1",)], "u string"
    )
    assert df.select(text.url_host(F.col("u")).alias("h")).collect()[0]["h"] == "sub.example.com"


def test_top_ngrams(spark, docs_small):
    uni = text.top_ngrams(docs_small, n=1, k=3).collect()
    assert uni[0]["ngram"] == "the" and uni[0]["occurrences"] == 8
    # docs 1-4 share the sentence → every bigram in it occurs 4x; ties break
    # ngram-ascending
    bi = text.top_ngrams(docs_small, n=2, k=2).collect()
    assert [r["ngram"] for r in bi] == ["brown fox", "fox jumps"]
    assert all(r["occurrences"] == 4 for r in bi)
    with pytest.raises(ValueError):
        text.top_ngrams(docs_small, n=0)


def test_simhash_cross_matches(spark):
    spread = 0
    for bit in (0, 8, 16, 24, 32, 40, 48, 56):
        spread |= 1 << bit
    sigs = spark.createDataFrame(
        [(1, 0), (2, spread), (3, -1)], "doc_id long, simhash long"
    )
    bench = spark.createDataFrame(
        [(10, 0), (11, 3)], "doc_id long, simhash long"
    )
    out = {
        r["doc_id"]: (r["matched_id"], r["hamming"])
        for r in dedup.simhash_cross_matches(sigs, bench, max_hamming=8).collect()
    }
    assert out[1] == (10, 0)
    # doc 2 is hamming 8 from BOTH benchmarks → tie breaks to min id
    assert out[2] == (10, 8)
    # all-ones signature is 56+ bits from every benchmark → absent
    assert 3 not in out


def test_ngram_spans_randomized_vs_python_reference(spark):
    """Differential test: 40 random small corpora (tokens drawn from a tiny
    vocab to force repeats) checked against a brute-force Python
    implementation of the span semantics. Corpora share one Spark job —
    per-corpus token prefixes keep their gram universes disjoint, so
    corpus-global occurrence counts stay independent."""
    import random

    rng = random.Random(1234)
    vocab = [f"t{i}" for i in range(6)]
    k = 3
    rows, expected = [], {}
    for corpus in range(40):
        docs = {}
        for d in range(rng.randint(1, 6)):
            n = rng.randint(0, 18)
            docs[d] = [f"c{corpus}_{rng.choice(vocab)}" for _ in range(n)]
        # brute force: count k-gram occurrences, mark positions, merge spans
        from collections import Counter

        grams: Counter = Counter()
        glists = {}
        for d, toks in docs.items():
            glists[d] = [tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            grams.update(glists[d])
        for d, gl in glists.items():
            doc_id = corpus * 100 + d
            rows.append((doc_id, " ".join(docs[d])))
            spans, last, start, cnt = [], None, None, 0
            for p, g in enumerate(gl):
                if grams[g] < 2:
                    continue
                if last is not None and p <= last + k:
                    last, cnt = p, cnt + 1
                else:
                    if last is not None:
                        spans.append((start, last + k, cnt))
                    start, last, cnt = p, p, 1
            if last is not None:
                spans.append((start, last + k, cnt))
            if spans:
                expected[doc_id] = sorted(spans)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict = {}
    for r in dedup.duplicate_ngram_spans(df, k=k).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["start_token"], r["end_token"], r["dup_grams"])
        )
    got = {d: sorted(v) for d, v in got.items()}
    assert got == expected


def test_pii_empty_types_raise(pii_docs):
    with pytest.raises(ValueError, match="non-empty"):
        text.pii_total(F.col("text"), [])
    with pytest.raises(ValueError, match="non-empty"):
        text.scrub_pii(F.col("text"), pii_types=[])


def test_ngram_spans_null_ids_dropped(spark):
    """NULL doc ids must not coalesce into one pseudo-document: two null-id
    docs sharing no content would otherwise fabricate grams spanning both
    (window partition NULL groups together)."""
    run = "r1 r2 r3"
    rows = [(None, f"{run} a b c"), (None, f"x y z {run}"), (7, f"{run} tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.duplicate_ngram_spans(df, k=3).collect()
    # null-id rows dropped → the run occurs once (doc 7 only) → no spans;
    # the pre-fix pseudo-document made it count 3x and emitted spans
    assert out == []


def test_is_valid_url_and_expectation(spark):
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import SparkValidationEngine

    rows = [
        (1, "https://example.com/a?b=1#c"),
        (2, "ftp://files.example.com/pub"),
        (3, "not a url"),
        (4, "https://bad host/x"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "i long, u string")
    got = {
        r["i"]: (r["any"], r["web"])
        for r in df.select(
            "i",
            text.is_valid_url(F.col("u")).alias("any"),
            text.is_valid_url(F.col("u"), schemes=["http", "https"]).alias("web"),
        ).collect()
    }
    assert got[1] == (True, True)
    assert got[2] == (True, False)
    assert got[3] == (False, False) and got[4] == (False, False)

    suite = ExpectationSuite(name="urls")
    suite.add("expect_column_values_to_be_valid_urls", column="u", mostly=0.5)
    suite.add(
        "expect_column_values_to_be_valid_urls",
        column="u",
        schemes=["http", "https"],
    )
    res = SparkValidationEngine(spark).validate(df, suite)
    # nulls excluded: 2/4 non-null are valid → mostly 0.5 passes
    assert res.results[0].success is True
    assert res.results[1].result["unexpected_count"] == 3
    assert res.results[1].success is False


def test_is_valid_url_scheme_escaping(spark):
    df = spark.createDataFrame(
        [(1, "git+ssh://host/repo"), (2, "gitXssh://host/x")], "i long, u string"
    )
    got = {
        r["i"]: r["v"]
        for r in df.select(
            "i", text.is_valid_url(F.col("u"), schemes=["git+ssh"]).alias("v")
        ).collect()
    }
    assert got[1] is True and got[2] is False


def test_benchmark_contamination_null_benchmark_ids(spark):
    """An eval set loaded WITHOUT ids must still contaminate — the benchmark
    side uses surrogate ids, never the null id column."""
    bench = _mk_docs(spark, [(None, "q1 q2 q3 q4 q5 q6 q7 q8")])
    corpus = _mk_docs(spark, [(1, "x1 q1 q2 q3 q4 q5 q6 q7 q8 x2")])
    row = dedup.benchmark_contamination(corpus, bench, k=8).collect()[0]
    assert row["contaminated_grams"] == 1 and row["contamination_fraction"] > 0


# ---- sequence packing ----------------------------------------------------


def test_pack_sequences_invariants(spark):
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([5, 7, 3, 9, 2, 8, 4, 6, 1, 10])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = text.pack_sequences(df, max_tokens=10, num_buckets=2).collect()
    assert len(packed) == 10  # every doc assigned exactly once
    by_pack: dict = {}
    for r in packed:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for pid, members in by_pack.items():
        total = sum(m["n_tokens"] for m in members)
        # no pack exceeds the budget unless it is a single oversize doc
        assert total <= 10 or (len(members) == 1)
        # pack_pos is 0..k-1 in id order
        ordered = sorted(members, key=lambda m: m["doc_id"])
        assert [m["pack_pos"] for m in ordered] == list(range(len(members)))
    # determinism
    again = {r["doc_id"]: r["pack_id"] for r in text.pack_sequences(df, max_tokens=10, num_buckets=2).collect()}
    assert again == {r["doc_id"]: r["pack_id"] for r in packed}


def test_pack_sequences_oversize_and_precomputed(spark):
    df = spark.createDataFrame(
        [(1, "irrelevant", 100), (2, "x", 3), (3, "y", 4)],
        "doc_id long, text string, n long",
    )
    packed = {
        r["doc_id"]: r
        for r in text.pack_sequences(
            df, max_tokens=8, token_count_col="n", num_buckets=1
        ).collect()
    }
    # oversize doc 1 sits alone in its pack
    p1 = packed[1]["pack_id"]
    assert [d for d, r in packed.items() if r["pack_id"] == p1] == [1]
    # docs 2+3 fit together (3+4 <= 8)
    assert packed[2]["pack_id"] == packed[3]["pack_id"]
    with pytest.raises(ValueError):
        text.pack_sequences(df, max_tokens=0)


def test_pack_sequences_null_token_counts(spark):
    """NULL text / NULL precomputed counts pack as 0 tokens instead of
    crashing the Arrow kernel (a nullable long reaches pandas as float64
    with NaN, and int(NaN) raised mid-stage)."""
    df = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, "d e")], "doc_id long, text string"
    )
    packed = {r["doc_id"]: r for r in text.pack_sequences(df, max_tokens=5).collect()}
    assert len(packed) == 3
    assert packed[1]["n_tokens"] == 0

    df2 = spark.createDataFrame(
        [(1, "x", None), (2, "y", -7), (3, "z", 3)],
        "doc_id long, text string, n long",
    )
    packed2 = {
        r["doc_id"]: r
        for r in text.pack_sequences(
            df2, max_tokens=5, token_count_col="n", num_buckets=1
        ).collect()
    }
    assert packed2[1]["n_tokens"] == 0 and packed2[2]["n_tokens"] == 0
    assert packed2[3]["n_tokens"] == 3


def test_pack_sequences_randomized_invariants(spark):
    import random

    rng = random.Random(77)
    rows = [(i, " ".join(["t"] * rng.randint(0, 30))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = text.pack_sequences(df, max_tokens=16, num_buckets=4).collect()
    assert len(packed) == 60 and len({r["doc_id"] for r in packed}) == 60
    by_pack: dict = {}
    for r in packed:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for members in by_pack.values():
        total = sum(m["n_tokens"] for m in members)
        assert total <= 16 or len(members) == 1
        ordered = sorted(members, key=lambda m: m["doc_id"])
        assert [m["pack_pos"] for m in ordered] == list(range(len(members)))


# ---- PQ (product quantization) --------------------------------------------


def test_pq_exact_when_codebook_representable(spark):
    """ADC cosine == brute-force cosine when every vector's blocks ARE
    codebook centroids (train on 8 vectors whose per-subspace values are
    all distinct, k=8 → every point is its own centroid, reconstruction
    exact) — the deterministic invariant behind the recall claims."""
    rows = [
        (i, [float(i), i + 0.5, 10.0 + 3 * i, 0.25 * i + 1, i * i + 0.125, 7.0 - i])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = similarity.train_pq_codebooks(df, m=3, k=8, seed=11)
    assert books.shape == (3, 8, 2)
    enc = similarity.pq_encode(df, books)
    q = rows[3][1]
    exact = similarity.brute_force_topk(df, q, k=8).collect()
    approx = similarity.pq_topk(enc, books, q, k=8).collect()
    assert [r["vec_id"] for r in approx] == [r["vec_id"] for r in exact]
    for a, e in zip(approx, exact):
        assert a["cosine"] == pytest.approx(e["cosine"], abs=1e-9)
    assert approx[0]["vec_id"] == 3
    assert approx[0]["cosine"] == pytest.approx(1.0, abs=1e-9)


def test_pq_recall_on_testdata_embeddings(spark, embeddings):
    """Realistic shape: the testdata embeddings are near-random (exact
    top-10 cosines 0.27-0.33, barely above the 0.13σ noise floor — the
    HARD case for any quantizer), so blocks must be narrow: m=16 4-dim
    blocks at k=64 recall 7/10 deterministically; m=4 recalls only 2/10.
    Floor asserted at 6 — honest, not flattering."""
    qrow = embeddings.filter(F.col("vec_id") == 0).collect()[0]
    q = list(qrow["embedding"])
    books = similarity.train_pq_codebooks(embeddings, m=16, k=64, seed=42)
    enc = similarity.pq_encode(embeddings, books).persist()
    try:
        exact = [
            r["vec_id"]
            for r in similarity.brute_force_topk(embeddings, q, k=10).collect()
        ]
        approx = [
            r["vec_id"] for r in similarity.pq_topk(enc, books, q, k=10).collect()
        ]
        assert len(set(exact) & set(approx)) >= 6
        assert approx and 0 in approx[:3]  # self-match survives quantization
    finally:
        enc.unpersist()


def test_pq_encode_nulls_codes_and_plan(spark, tmp_path):
    """NULL embeddings encode to NULL and are excluded from top-k; codes are
    bounded by k; and scoring a PERSISTED code table (the at-scale shape —
    codes are written once, raw vectors never read again) runs with no
    Python UDF anywhere in the plan, pure codegen + TakeOrderedAndProject."""
    rows = [(0, [1.0, 0.0, 0.0, 1.0]), (1, None), (2, [0.5, 0.5, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = similarity.train_pq_codebooks(df, m=2, k=4, seed=3)
    enc = similarity.pq_encode(df, books)
    got = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    assert got[1] is None
    assert all(0 <= c < 4 for vid in (0, 2) for c in got[vid])
    enc.select("vec_id", "pq_code").write.parquet(str(tmp_path / "codes"))
    codes = spark.read.parquet(str(tmp_path / "codes"))
    top = similarity.pq_topk(codes, books, [1.0, 0.0, 0.0, 1.0], k=5)
    assert sorted(r["vec_id"] for r in top.collect()) == [0, 2]
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    with pytest.raises(ValueError, match="divisible"):
        similarity.train_pq_codebooks(df, m=3)
    with pytest.raises(ValueError, match="query dim"):
        similarity.pq_topk(enc, books, [1.0, 0.0], k=2)


def test_ivfpq_topk_composition(spark, embeddings):
    """IVF probe pruning + PQ codegen scoring compose: the probed candidate
    set shrinks (scan prunes), the self-match still tops the list, and the
    result is exactly pq_topk restricted to the probed lists."""
    qrow = embeddings.filter(F.col("vec_id") == 0).collect()[0]
    q = list(qrow["embedding"])
    cents = similarity.train_ivf_centroids(embeddings, n_centroids=8, seed=3)
    books = similarity.train_pq_codebooks(embeddings, m=16, k=64, seed=42)
    indexed = similarity.pq_encode(
        similarity.ivf_assign(embeddings, cents), books
    ).select("vec_id", "centroid_id", "pq_code").persist()
    try:
        got = similarity.ivfpq_topk(indexed, cents, books, q, k=5, n_probe=2)
        rows = got.collect()
        assert rows[0]["vec_id"] == 0
        probed = indexed.filter(
            F.col("centroid_id").isin([r["centroid_id"] for r in indexed.filter(F.col("vec_id") == 0).collect()])
        ).count()
        assert 0 < probed < indexed.count()  # pruning really happened
        full = {r["vec_id"] for r in similarity.pq_topk(indexed, books, q, k=5).collect()}
        assert rows[0]["vec_id"] in full
    finally:
        indexed.unpersist()
