"""End-to-end corpus-cleaning composition (great_expectations_spark.pipeline)."""

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.pipeline import clean_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    long_en = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps in the warm sun for a long time with great joy " * 3
    )
    rows = [
        (1, long_en),
        (2, long_en),                                   # exact dup of 1
        (3, "el gato esta en la casa de los abuelos y la familia come pan con queso en la mesa grande todos los dias del ano para celebrar"),
        (4, "x"),                                        # too short
        (5, "the data team ships the model and the eval set is in the "
            "vault so that nobody trains on it by accident ever again ok " * 3),
        (6, "contact the admin at admin@example.com for the keys to the "
            "cluster and the storage and the backup vault today please now " * 3),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_clean_corpus_stages(spark, corpus):
    bench = corpus.filter("doc_id = 5")
    res = clean_corpus(
        corpus,
        min_quality=0.2,
        min_tokens=5,
        languages=["en"],
        scrub_pii=True,
        dedup="exact",
        benchmark=bench,
        max_contamination=0.1,
        count_stages=True,
    )
    assert res.stages == [
        "quality", "language", "pii_scrub", "dedup_exact", "decontaminate"
    ]
    rows = {r["doc_id"]: r["text"] for r in res.df.collect()}
    # spanish doc 3 dropped by language gate; short doc 4 by quality gate;
    # dup doc 2 dropped (1 kept); doc 5 dropped as contaminated
    assert set(rows) == {1, 6}
    assert "admin@example.com" not in rows[6] and "[PII]" in rows[6]
    # audit counts are monotone non-increasing along the funnel
    seq = [res.stage_counts[s] for s in res.stages]
    assert seq == sorted(seq, reverse=True)
    assert res.params["dedup"] == "exact"


def test_clean_corpus_minhash_and_disable_stages(spark, corpus):
    res = clean_corpus(
        corpus,
        min_quality=None,
        min_tokens=None,
        languages=None,
        dedup="minhash",
        dedup_threshold=0.8,
    )
    assert res.stages == ["dedup_minhash"]
    ids = {r["doc_id"] for r in res.df.select("doc_id").collect()}
    assert 1 in ids and 2 not in ids  # near-dup cluster keeps the min id
    assert {3, 4, 5, 6} <= ids
    # the minhash signature cache is tracked, not leaked for the app
    # lifetime — unpersist() releases it
    assert res.caches and all(c.is_cached for c in res.caches)
    released = list(res.caches)
    res.unpersist()
    assert not res.caches and not any(c.is_cached for c in released)

    with pytest.raises(ValueError, match="unknown dedup"):
        clean_corpus(corpus, dedup="nope")


def test_clean_corpus_span_filter(spark):
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, f"{boiler} unique tail one two three"),
        (2, f"{boiler} other ending four five six"),   # shares the 12-token run
        (3, "a wholly original document with no repeats anywhere at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = clean_corpus(
        df, min_quality=None, min_tokens=None, dedup=None,
        max_dup_fraction=0.5, dup_span_k=8, count_stages=True,
    )
    assert res.stages == ["span_filter"]
    ids = {r["doc_id"] for r in res.df.collect()}
    # docs 1,2 are ~70% covered by the shared boilerplate run → dropped
    assert ids == {3}
    assert res.params["max_dup_fraction"] == 0.5


def test_clean_corpus_persist_intermediate(spark, corpus):
    res = clean_corpus(
        corpus, min_quality=None, min_tokens=None, dedup="exact",
        persist_intermediate=True, count_stages=True,
    )
    assert res.stages[0] == "persist"
    assert {r["doc_id"] for r in res.df.collect()} == {1, 3, 4, 5, 6}
    spark.catalog.clearCache()


def test_clean_image_corpus(spark):
    import numpy as np

    from great_expectations_spark.functions.image_codec import encode_image

    rng = np.random.RandomState(9)

    def enc(i):
        px = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
        return bytearray(encode_image(px, "png"))

    # phashes need WIDE Hamming separation between groups (small ints are
    # all within a few bits of each other — 100 vs 2^62 is hamming 4!)
    a, c, d = 0, 0x5555555555555555, 0x3333333333333333
    rows = [
        (1, enc(1), a),            # canonical of cluster {1, 2}
        (2, enc(2), a ^ 1),        # hamming 1 from image 1 → deduped
        (3, bytearray(b"not an image"), 200),   # undecodable → dropped
        (4, enc(3), c),            # hamming 2 from the benchmark → decontaminated
        (5, enc(4), d),            # hamming ≥ 30 from everything → survives
    ]
    df = spark.createDataFrame(rows, "image_id long, bytes binary, phash long")
    bench = spark.createDataFrame([(90, c ^ 3)], "image_id long, phash long")

    from great_expectations_spark.pipeline import clean_image_corpus

    res = clean_image_corpus(
        df, dedup_max_hamming=4, benchmark=bench, benchmark_max_hamming=8,
        count_stages=True,
    )
    assert res.stages == ["decodable", "dedup_phash", "decontaminate"]
    ids = {r["image_id"] for r in res.df.collect()}
    assert ids == {1, 5}
    assert res.stage_counts["decodable"] == 4

    # phash_col=None: the recomputed phash drives dedup but stays
    # pipeline-internal — the returned corpus keeps the input schema and
    # params record the caller's None, not the internal name
    res_auto = clean_image_corpus(
        df.drop("phash"), phash_col=None, dedup_max_hamming=4,
    )
    assert "_recomputed_phash" not in res_auto.df.columns
    assert set(res_auto.df.columns) == {"image_id", "bytes"}
    assert res_auto.params["phash_col"] is None
    # decode-derived dedup still collapsed the near-dup pair {1, 2}? The
    # synthetic codec's phash comes from pixels, so only EXACT re-encodes
    # collide — assert the undecodable row dropped and no column leaked
    assert 3 not in {r["image_id"] for r in res_auto.df.collect()}


def test_token_budget_sample_contract(spark):
    """Per-source token budgets: kept totals never exceed the budget and
    undershoot by less than one document; same seed → identical subset;
    unbudgeted sources drop; zero budget keeps nothing; a budget above the
    source total keeps everything."""
    from great_expectations_spark.operators.text import token_budget_sample

    rows = []
    for i in range(200):
        rows.append((i, "web", "w " * ((i % 13) + 1)))
    for i in range(200, 260):
        rows.append((i, "code", "c " * ((i % 7) + 1)))
    for i in range(260, 280):
        rows.append((i, "books", "b " * 5))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    out = token_budget_sample(df, {"web": 300, "code": 10_000, "books": 0})
    got = out.groupBy("source").agg(
        F.sum(F.expr("size(split(trim(text), ' +'))")).alias("toks"),
        F.count(F.lit(1)).alias("docs"),
    ).collect()
    by_src = {r["source"]: r for r in got}
    # web: capped under 300, undershoot < max doc (13 tokens)
    assert 300 - 13 < by_src["web"]["toks"] <= 300
    # code: budget exceeds the source total -> everything kept
    assert by_src["code"]["docs"] == 60
    # books: zero budget; unbudgeted sources would also be absent
    assert "books" not in by_src

    ids1 = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"]
        for r in token_budget_sample(
            df, {"web": 300, "code": 10_000, "books": 0}
        ).select("doc_id").collect()
    )
    assert ids1 == ids2  # seed-deterministic
    ids3 = sorted(
        r["doc_id"]
        for r in token_budget_sample(df, {"web": 300}, seed=7)
        .select("doc_id").collect()
    )
    assert ids3 != [i for i in ids1 if i < 200]  # different seed, different docs

    with pytest.raises(ValueError, match="at least one source"):
        token_budget_sample(df, {})
    with pytest.raises(ValueError, match=">= 0"):
        token_budget_sample(df, {"web": -1})


def test_token_budget_sample_precomputed_and_nulls(spark):
    """token_count_col path + null source/id/token exclusion + output keeps
    the caller's columns (no _tb_ helpers leak)."""
    from great_expectations_spark.operators.text import token_budget_sample

    rows = [
        (1, "a", 10), (2, "a", 10), (3, "a", 10),
        (None, "a", 10), (4, None, 10), (5, "a", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    out = token_budget_sample(
        df, {"a": 20}, token_count_col="n_tok", text_col="n_tok"
    )
    got = out.collect()
    assert len(got) == 2 and all(r["source"] == "a" for r in got)
    assert set(out.columns) == {"doc_id", "source", "n_tok"}


def test_clean_corpus_token_budget_stage(spark):
    """token_budgets runs as the LAST cleaning stage — over what survived
    the gates — and the audit trail records it."""
    from great_expectations_spark.pipeline import clean_corpus

    rows = [
        (i, "web" if i < 40 else "code", "tok " * 20) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    res = clean_corpus(
        df, min_quality=None, min_tokens=5, dedup=None,
        token_budgets={"web": 100, "code": 10_000},
        count_stages=True,
    )
    assert res.stages[-1] == "token_budget"
    got = res.df.groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in got}
    assert by["code"] == 20          # budget above total -> all kept
    assert 1 <= by["web"] <= 5       # 100 tokens / 20-token docs
    assert res.params["token_budgets"] == {"web": 100, "code": 10_000}
