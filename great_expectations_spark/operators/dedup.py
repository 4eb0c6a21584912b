"""Deduplication operators for training-data pipelines over a documents
table.

Five strategies, all shuffle-bounded DataFrame compositions (no windows over
global orderings, no driver-side loops):

- exact:            md5(normalized text) hash-groupBy
- minhash_lsh:      shingles → 64 minhashes (F.hash with per-permutation
                    seeds) → banded LSH buckets → candidate pairs →
                    exact-Jaccard verify
- simhash:          token hashes → bitwise weighted sum → 64-bit signature →
                    banded lookup for near-neighbors within Hamming distance
- token_jaccard:    distinct-token explode → self-join on token → pairwise
                    |∩| / |∪|
- embedding cosine: see similarity.py (near_duplicate_pairs)

Scale notes: every strategy partial-aggregates map-side before its shuffle;
band/bucket joins broadcast nothing and AQE skew-split handles hot buckets
(e.g. boilerplate shingles). Candidate verification touches only candidate
pairs, never the full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.operators.text import normalize_text, tokens


from great_expectations_spark.operators.text import ensure_parallelism as _ensure_parallelism  # noqa: E501  (shared with text.py operators; defined in the leaf module to avoid a cycle)


# ---- exact dedup --------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_group_ids: int | None = 10_000,
) -> DataFrame:
    """Groups of exact duplicates (after normalization).

    → (fp, n_docs, keep_id, doc_ids) for groups with n_docs > 1.
    ``n_docs``/``keep_id`` are always exact; ``doc_ids`` lists the first
    ``max_group_ids`` member ids (ascending). The cap is applied BEFORE the
    collect via a per-fp row_number, so the aggregation buffer is bounded
    even for pathological groups (e.g. millions of empty documents sharing
    one fingerprint) — a post-agg slice would still materialize the full
    list per group. The row_number window partitions by fp (never a global
    ordering), and the groupBy reuses the window's hash distribution — one
    shuffle total. ``max_group_ids=None`` restores the unbounded list."""
    fp = df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
    if max_group_ids is None:
        collected = F.sort_array(F.collect_list(id_col))
    else:
        from pyspark.sql import Window

        fp = fp.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("fp").orderBy(F.col(id_col))),
        )
        collected = F.sort_array(
            F.collect_list(F.when(F.col("_rn") <= max_group_ids, F.col(id_col)))
        )
    return (
        fp.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            collected.alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per normalized-text group.

    Implemented as groupBy→min + semi-join (two hash shuffles on the same
    key; no global window)."""
    keep = (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("__keep"))
        .select(F.col("__keep").alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---- shingles / minhash LSH --------------------------------------------


def _permutation_constants(num_hashes: int, seed: int = 1_000_003) -> list[tuple[int, int, int]]:
    """Deterministic (xor_pre, rot, xor_post) triples for bijective 64-bit
    mixing h -> rot(h ^ a, r) ^ b — shifts and xors only, so the expression
    is safe under Spark's ANSI overflow checking (a*h+b would raise).
    Splitmix-ish constant derivation."""
    out = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for i in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        a = x
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        b = x
        r = (i * 37) % 63 + 1
        out.append((_to_signed64(a), r, _to_signed64(b)))
    return out


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _permute64(col: Column, a: int, r: int, b: int) -> Column:
    """rot_left(col ^ a, r) ^ b — bijective, ANSI-safe (no arithmetic)."""
    x = col.bitwiseXOR(F.lit(a))
    rotated = F.shiftleft(x, r).bitwiseOR(F.shiftrightunsigned(x, 64 - r))
    return rotated.bitwiseXOR(F.lit(b))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig array<long>) — min over shingles of num_hashes permutations.

    Each shingle is string-hashed ONCE (xxhash64); the num_hashes
    permutations are bijective xor-rotate-xor mixes of that long, so the
    per-shingle cost is one string hash + num_hashes shift/xor triples
    instead of num_hashes string hashes (~10× less CPU at num_hashes=64).
    One explode + one groupBy(id) with min() partials — map-side combine
    keeps the shuffle at num_hashes longs per doc."""
    normed = _ensure_parallelism(
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")),
        id_col,
    )
    # shingle via position-explode + substr: a plain codegen'd projection.
    # (array-of-substrings via transform() runs an interpreted lambda per
    # element — ~100× slower; and min() is indifferent to duplicate
    # shingles, so no array_distinct is needed either.)
    k = shingle_k
    hashed = normed.select(
        F.col(id_col),
        F.col("_norm"),
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("_norm") - F.lit(k - 1), F.lit(1))
            )
        ).alias("_pos"),
    ).select(
        F.col(id_col),
        F.xxhash64(F.col("_norm").substr(F.col("_pos"), F.lit(k))).alias("th"),
    )
    consts = _permutation_constants(num_hashes)
    aggs = [
        F.min(_permute64(F.col("th"), a, r, b)).alias(f"h{i}")
        for i, (a, r, b) in enumerate(consts)
    ]
    sig = hashed.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket → candidate pairs (a < b)."""
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.hash(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # self-join via alias (renames above the join) so AQE can reuse the
    # banded-side shuffle exchange when `signatures` is unpersisted — see
    # simhash_near_pairs for the measured 2× effect of the rename-below shape
    return (
        banded.alias("l")
        .join(banded.alias("r"), on=["band", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .dropDuplicates()
    )


def minhash_estimate_jaccard(
    signatures: DataFrame, candidates: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """candidates × signatures → estimated jaccard = matching minhash frac.

    zip_with/filter here is deliberate, NOT an interpreted-lambda mistake:
    measured at dim 64 × 200k rows, the HOF pipeline (one tight pass over
    primitive arrays) is ~5× FASTER than unrolling to 64 positional
    sig_a[i]==sig_b[i] terms (64 GetArrayItem calls + an Add tree too big
    for whole-stage codegen). The HOF trap applies to re-evaluating heavy
    OUTER expressions inside lambdas, not to flat element arithmetic."""
    sa = signatures.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    joined = candidates.join(sa, "a").join(sb, "b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return joined.select(
        "a", "b", (matches / F.size(F.col("sig_a"))).alias("est_jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup pairs with estimated jaccard ≥ τ.

    Persists the signature table internally (it feeds BOTH the band join
    and the est-jaccard verify) and cannot release it — the cache lives
    until the session ends or ``spark.catalog.clearCache()``. Long-lived
    applications should compose ``minhash_signatures`` /
    ``minhash_lsh_candidates`` / ``minhash_estimate_jaccard`` directly and
    manage the persist themselves (clean_corpus does exactly that)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    sigs = sigs.persist()
    cands = minhash_lsh_candidates(sigs, id_col, bands, rows_per_band)
    est = minhash_estimate_jaccard(sigs, cands, id_col)
    return est.filter(F.col("est_jaccard") >= threshold)


# ---- simhash ------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(id, simhash long): sign of per-bit weighted sums of token hashes.

    explode(tokens) → for each bit: sum(±1 by token-hash bit) → assemble.
    One shuffle (groupBy id), `bits` tiny agg columns."""
    exploded = _ensure_parallelism(
        df.select(
            F.col(id_col), F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok")
        ),
        id_col,
    ).withColumn("th", F.xxhash64("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    perbit = exploded.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return perbit.select(F.col(id_col), sig.alias("simhash"))


def _hamming_band_exprs(max_hamming: int, chunks: int | None) -> list[Column]:
    """Pigeonhole-complete Hamming-LSH band keys over a 64-bit ``simhash``
    column: split into c contiguous chunks, join on every k-chunk
    combination. A pair within Hamming distance h has ≥ c − h untouched
    chunks, so an all-untouched k-subset exists whenever c ≥ k + h — that
    subset's band collides. k is chosen so band keys stay ≥ ~12 bits
    (single-chunk banding at h=8 would mean 7-bit keys → 128 buckets → a
    near-quadratic candidate join on a large corpus):

      h ≤ 4 → k=1, c=h+1   (chunk width ≥ 12 bits, classic banding)
      h ≥ 5 → k=2, c=h+2   (C(c,2) bands of 2 chunks, e.g. h=8 → 45
                            bands of ~12 bits)
    """
    from itertools import combinations

    if chunks is not None:
        # explicit chunk count → classic 1-chunk bands; still must be complete
        if chunks <= max_hamming:
            raise ValueError(
                f"chunk banding is complete only for chunks > max_hamming "
                f"(pigeonhole); got chunks={chunks}, max_hamming={max_hamming}"
            )
        k, c = 1, min(int(chunks), 64)
    elif max_hamming <= 4:
        k, c = 1, max_hamming + 1
    else:
        k, c = 2, min(max_hamming + 2, 64)
    bounds = [i * 64 // c for i in range(c + 1)]
    chunk_exprs = []
    for i in range(c):
        lo, width = bounds[i], bounds[i + 1] - bounds[i]
        shifted = (
            F.col("simhash") if lo == 0 else F.shiftrightunsigned(F.col("simhash"), lo)
        )
        if width < 64:
            shifted = shifted.bitwiseAND(F.lit((1 << width) - 1))
        chunk_exprs.append(shifted.cast("long"))
    if k == 1:
        return chunk_exprs
    return [
        F.xxhash64(F.lit(i), *(chunk_exprs[j] for j in combo))
        for i, combo in enumerate(combinations(range(c), k))
    ]


def simhash_near_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int | None = None,
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming via pigeonhole-complete
    combination banding (see ``_hamming_band_exprs``), then exact
    bit_count(xor) verify. ``chunks`` forces classic single-chunk banding
    with that many chunks (must exceed max_hamming, else raises — narrower
    guarantees silently lose recall)."""
    band_exprs = _hamming_band_exprs(max_hamming, chunks)
    banded = signatures.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_val"),
    )
    # Self-join `banded` with ITSELF via alias, renaming only ABOVE the join.
    # Renaming below (a left projection to a/sig_a, a right one to b/sig_b)
    # makes the two join inputs canonically different plans, so AQE cannot
    # reuse the shuffle exchange and the whole signature aggregation runs
    # twice when `signatures` is unpersisted — measured 2× wall on the
    # sf0.1 corpus. With identical subtrees the right side reads the left's
    # shuffle output (AQE runtime stage reuse; output verified identical).
    # exact verify BEFORE the pair-dedup: bit_count(xor) is two codegen'd
    # instructions per joined row, so filtering first means the
    # dropDuplicates shuffle carries only TRUE near-dup pairs instead of
    # every band collision (the candidate set is the expensive part of
    # complete 45-band Hamming-8 banding)
    dist = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        banded.alias("l")
        .join(banded.alias("r"), on=["band_idx", "band_val"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )


def simhash_cross_matches(
    signatures: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int | None = None,
) -> DataFrame:
    """Closest benchmark signature (min Hamming, tie → min benchmark id)
    for every input signature within ``max_hamming`` — the cross-set
    counterpart of ``simhash_near_pairs`` for decontamination: which corpus
    items near-match an evaluation set. Both inputs need a ``simhash``
    column. Returns (id_col, matched_id, hamming); unmatched inputs are
    absent (inner semantics — anti-join the result for the clean set).

    Same pigeonhole-complete combination banding and exact
    bit_count(xor) verify as the self-join path; the benchmark side is
    usually small enough that AQE broadcasts its banded form."""
    band_exprs = _hamming_band_exprs(max_hamming, chunks)

    def banded(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(idc),
            F.col("simhash"),
            F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_val"),
        )

    # same early-verify as simhash_near_pairs: filter to true matches
    # before the dedup shuffle
    dist = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    hits = (
        banded(signatures, id_col)
        .alias("l")
        .join(banded(benchmark, bench_id_col).alias("r"), ["band_idx", "band_val"])
        .select(
            F.col(f"l.{id_col}").alias("_cid"),
            F.col(f"r.{bench_id_col}").alias("_bid"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["_cid", "_bid"])
    )
    best = hits.groupBy("_cid").agg(
        F.min(F.struct(F.col("hamming"), F.col("_bid"))).alias("_best")
    )
    return best.select(
        F.col("_cid").alias(id_col),
        F.col("_best._bid").alias("matched_id"),
        F.col("_best.hamming").alias("hamming"),
    )


# ---- token-set jaccard --------------------------------------------------


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard ≥ τ — scale-safe BY DEFAULT via prefix
    filtering (the SSJoin/PPJoin candidate bound: Chaudhuri-Ganti-Kaushik
    ICDE'06 Lemma 1, Xiao et al. WWW'08).

    |∩| from a token equi-join, |A|,|B| from a pre-agg;
    jaccard = c/(na+nb-c). Output is EXACT on both paths.

    Default path (``max_df=None``): a naive token self-join has candidate
    cardinality Σ df(tok)² — stop-word-grade tokens appearing in ~every doc
    make that quadratic in corpus size, which AQE skew-splitting cannot fix
    (it splits tasks, not the O(n²) candidate count). Instead, tokens are
    globally ordered rarest-first (df asc, token asc) and each doc
    contributes only its PREFIX — the first ``n - ⌈τ·n⌉ + 1`` of its n
    tokens in that order — to candidate generation. Any pair with
    jaccard ≥ τ has overlap ≥ ⌈τ·max(n_a, n_b)⌉, and two sets whose overlap
    is ≥ α must collide within their (n-α+1)-prefixes under a shared total
    order, so recall is COMPLETE (no missed pairs). The hottest tokens fall
    out of every prefix, so candidate volume is bounded by the rare end of
    the df distribution; truly duplicate-heavy corpora still pay output
    size, which is inherent. Verification recomputes the exact intersection
    per candidate from sorted per-doc token arrays (codegen'd
    array_intersect), so false candidates only cost the verify join.

    Explicit ``max_df=D``: legacy bounded mode — drops tokens with df > D
    from candidate generation; jaccard for SURVIVING pairs stays exact
    (rare-token matches from the join + hot-token overlap via per-doc
    hot-token arrays), but a pair sharing NO rare token is missed: its
    jaccard ≤ h/(na+nb−h) for per-doc hot-set size h. Prefer the default;
    keep D only where the df histogram is already known and tighter."""
    tok = _ensure_parallelism(
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(normalize_text(F.col(text_col))))).alias("tok"),
        ),
        id_col,
    )
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    hot_sets = None
    if max_df is not None:
        docfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
        tok = tok.join(docfreq, "tok")
        rare = tok.filter(F.col("_df") <= max_df).select(id_col, "tok")
        # per-doc sorted hot-token arrays: small (≤ vocab of hot tokens) and
        # joined only onto candidate pairs, never self-joined
        hot_sets = (
            tok.filter(F.col("_df") > max_df)
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_set("tok")).alias("_hot"))
        )
    else:
        docfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
        # rarest-first global order (df asc, tok asc), per-doc prefix of
        # length n - ceil(τ·n) + 1; slice() is clamped to the array length
        # so τ=0 (prefix n+1) degrades to the full set
        ranked = (
            tok.join(docfreq, "tok")
            .groupBy(id_col)
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_df"), F.col("tok")))
                ).alias("_arr")
            )
        )
        plen = (
            F.size(F.col("_arr"))
            - F.ceil(F.lit(float(threshold)) * F.size(F.col("_arr"))).cast("int")
            + F.lit(1)
        )
        rare = ranked.select(
            F.col(id_col),
            F.explode(
                F.slice(F.col("_arr"), F.lit(1), F.greatest(plen, F.lit(1)))
            ).alias("_pt"),
        ).select(F.col(id_col), F.col("_pt.tok").alias("tok"))
    # self-join via alias (renames above the join) — identical join-input
    # subtrees let AQE reuse the token-explode side's shuffle exchange
    # instead of recomputing the explode per side (see simhash_near_pairs)
    if max_df is None:
        # prefix-filter candidates, then EXACT verify: the prefix join only
        # proves a pair CAN reach τ — the true intersection comes from the
        # full sorted per-doc token arrays (one codegen'd array_intersect
        # per candidate, never a token self-join on the hot vocabulary)
        cand = (
            rare.alias("ja")
            .join(rare.alias("jb"), "tok")
            .filter(F.col(f"ja.{id_col}") < F.col(f"jb.{id_col}"))
            .select(
                F.col(f"ja.{id_col}").alias("a"), F.col(f"jb.{id_col}").alias("b")
            )
            .distinct()
        )
        full_sets = tok.groupBy(id_col).agg(
            F.sort_array(F.collect_set("tok")).alias("_toks")
        )
        fa = full_sets.select(F.col(id_col).alias("a"), F.col("_toks").alias("_ta"))
        fb = full_sets.select(F.col(id_col).alias("b"), F.col("_toks").alias("_tb"))
        inter = (
            cand.join(fa, "a")
            .join(fb, "b")
            .select(
                "a",
                "b",
                F.size(F.array_intersect(F.col("_ta"), F.col("_tb"))).alias("c"),
            )
        )
    else:
        inter = (
            rare.alias("ja")
            .join(rare.alias("jb"), "tok")
            .filter(F.col(f"ja.{id_col}") < F.col(f"jb.{id_col}"))
            .groupBy(
                F.col(f"ja.{id_col}").alias("a"), F.col(f"jb.{id_col}").alias("b")
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
    if hot_sets is not None:
        ha = hot_sets.select(F.col(id_col).alias("a"), F.col("_hot").alias("_hot_a"))
        hb = hot_sets.select(F.col(id_col).alias("b"), F.col("_hot").alias("_hot_b"))
        inter = (
            inter.join(ha, "a", "left")
            .join(hb, "b", "left")
            .select(
                "a",
                "b",
                (
                    F.col("c")
                    + F.size(
                        F.array_intersect(
                            F.coalesce(F.col("_hot_a"), F.array()),
                            F.coalesce(F.col("_hot_b"), F.array()),
                        )
                    )
                ).alias("c"),
            )
        )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            (
                F.col("c")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---- near-dup clustering (pairs -> connected components -> canonical) ----


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "a",
    id_b: str = "b",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs — the step a real
    dedup pipeline needs between pair generation (minhash_dedup_pairs /
    simhash_near_pairs / token_jaccard_pairs emit edges) and row dropping:
    transitive closure groups A~B, B~C into one cluster {A,B,C}.

    Returns (node, cluster_id) for every id that appears in ``pairs``;
    cluster_id = the minimum member id of the component.

    Algorithm: distributed min-label propagation with pointer jumping —
    per iteration every node adopts min(own label, neighbors' labels), then
    shortcuts to its label's label (L(v) <- L(L(v)), path compression).
    Each iteration is shuffle-bounded (a union of two projected joins + one
    groupBy-min + one label self-join; no windows, no driver-side graph).
    Labels are monotonically non-increasing and both steps are stable
    exactly at the true components, so the fingerprint convergence test is
    exact. Pass a dict as ``stats`` to receive
    ``{"iterations": n, "converged": bool}`` (scale-rehearsal telemetry). Near-dup components from LSH bucketing are near-cliques
    (diameter 2-3, <5 rounds); the jump step bounds chain-shaped components
    (templated pages with drifting boilerplate can link A~B~C~... at corpus
    scale) at O(log diameter) rounds instead of O(diameter), so the default
    max_iterations covers any realistic component. ``localCheckpoint``
    truncates the per-iteration lineage so the plan stays flat. Convergence
    is detected with one scalar per iteration (xor-hash of (node,label) —
    no extra join)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )

    def _fingerprint(lab: DataFrame) -> int:
        # bit_xor, not sum: ANSI mode raises on long-sum overflow, and xor
        # is order-independent with no overflow
        row = lab.agg(
            F.expr("bit_xor(xxhash64(node, cluster_id))").alias("h")
        ).collect()[0]
        return int(row["h"] or 0)

    # every local checkpoint but the returned labels is released as soon as
    # it is superseded, and the labels too when the call raises
    labels = propagated = None
    converged = False
    try:
        labels = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
            .select(F.col("node"), F.col("node").alias("cluster_id"))
            .localCheckpoint()
        )
        fp = _fingerprint(labels)
        iterations = 0
        for _ in range(max_iterations):
            iterations += 1
            msgs = (
                edges.join(labels, edges["src"] == labels["node"])
                .select(F.col("dst").alias("node"), F.col("cluster_id"))
                .union(
                    edges.join(labels, edges["dst"] == labels["node"]).select(
                        F.col("src").alias("node"), F.col("cluster_id")
                    )
                )
                .union(labels)
            )
            propagated = (
                msgs.groupBy("node")
                .agg(F.min("cluster_id").alias("cluster_id"))
                # checkpoint BEFORE the jump self-join: the two join sides
                # hash on different keys (cluster_id vs node), so without a
                # materialization the groupBy subtree would run twice
                .localCheckpoint()
            )
            # pointer jump: every label is itself a node id, so adopt the
            # label's label (left+coalesce is defensive; the join always hits)
            ptr = propagated.select(
                F.col("node").alias("_ptr"), F.col("cluster_id").alias("_ptr_label")
            )
            new_labels = (
                propagated.join(ptr, propagated["cluster_id"] == ptr["_ptr"], "left")
                .select(
                    "node",
                    F.coalesce(F.col("_ptr_label"), F.col("cluster_id")).alias(
                        "cluster_id"
                    ),
                )
                .localCheckpoint()
            )
            _release_local_checkpoint(propagated)
            _release_local_checkpoint(labels)
            labels, propagated = new_labels, None
            new_fp = _fingerprint(labels)
            if new_fp == fp:
                converged = True
                break
            fp = new_fp
        if stats is not None:
            stats["iterations"] = iterations
            stats["converged"] = converged
        if not converged:
            # propagation needs O(component diameter) rounds; a silent stop
            # would return WRONG cluster ids for the unconverged components
            raise ValueError(
                f"duplicate_clusters did not converge in {max_iterations} "
                "iterations — the pair graph has a component with diameter "
                f"> {max_iterations} (unusual for LSH near-dup graphs, which "
                "are near-cliques); raise max_iterations"
            )
    finally:
        edges.unpersist()
        for frame in (propagated, None if converged else labels):
            if frame is not None:
                _release_local_checkpoint(frame)
    return labels


def _release_local_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint()`` frame.
    ``DataFrame.unpersist()`` does not reach them: the checkpointed RDD sits
    under the frame's plan, not in the cache manager, and would otherwise
    stay persisted until the JVM collects it."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "a",
    id_b: str = "b",
) -> DataFrame:
    """Drop every near-duplicate except one canonical row per cluster (the
    minimum-id member); rows that appear in no pair pass through untouched.
    One anti-join against the (small) non-canonical member set — never a
    shuffle of the full corpus beyond the join itself."""
    clusters = duplicate_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---- substring-span dedup (duplicated n-gram spans) ----------------------


def _rot_xor_fold(cols: list[Column]) -> Column:
    """xor-fold of per-offset bit-rotations of k 64-bit columns
    (order-sensitive, ANSI-safe — no multiply/add overflow)."""
    out = None
    for j, v in enumerate(cols):
        r = (13 * j + 5) % 63 + 1
        rot = F.shiftleft(v, r).bitwiseOR(F.shiftrightunsigned(v, 64 - r))
        out = rot if out is None else out.bitwiseXOR(rot)
    return out


def _gram_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, gh): the 64-bit hash of the token k-gram starting at each
    0-based position of the normalized-whitespace tokenization. Built as
    posexplode(token hashes) → k-1 ``lead`` window columns → codegen'd
    rot/xor projection; a transform-lambda with k ``F.get``s per element
    runs interpreted at ~0.5 ms/gram (measured 130 s for 270k tokens at
    sf0.1) — this shape is 40×+ faster and its doc-keyed shuffle replaces
    the repartition the explode needed anyway. Tail positions (no full
    k-gram) are dropped."""
    from pyspark.sql import Window

    # a NULL id would coalesce every null-id document into ONE window
    # partition, fabricating grams that span unrelated documents — drop
    # such rows rather than emit garbage
    norm = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
    )
    toked = norm.select(id_col, tokens(F.col("_norm")).alias("_toks"))
    tok_pos = _ensure_parallelism(
        toked.select(id_col, F.posexplode(F.col("_toks")).alias("pos", "_tok")),
        id_col,
    ).select(id_col, "pos", F.xxhash64("_tok").alias("_th"))
    wlead = Window.partitionBy(id_col).orderBy("pos")
    with_leads = tok_pos.select(
        id_col,
        "pos",
        "_th",
        *[F.lead("_th", j).over(wlead).alias(f"_th{j}") for j in range(1, k)],
    )
    gh_in = [F.col("_th")] + [F.col(f"_th{j}") for j in range(1, k)]
    return with_leads.filter(
        F.col(f"_th{k - 1}").isNotNull() if k > 1 else F.lit(True)
    ).select(id_col, "pos", _rot_xor_fold(gh_in).alias("gh"))


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document — substring-level exact
    dedup in the style of the published train-data dedup recipe (suffix
    duplicates ≈ repeated k-grams; public literature, e.g. Lee et al. 2022,
    arXiv:2107.06499): a token k-gram occurring ``min_count``+ times
    anywhere in the corpus (across documents OR repeated within one) marks
    its positions duplicated; overlapping/adjacent duplicated grams merge
    into maximal spans.

    Returns (id_col, start_token, end_token, dup_grams): token-index span
    [start, end) over the normalized-whitespace tokenization, and the count
    of duplicated k-grams merged into the span. Duplicated token count for
    a doc = Σ (end - start) — spans are maximal, so no double counting.

    Plan shape (scales to corpus size, no all-pairs anything):
      1. posexplode token hashes to (id, pos, th) — only longs, never gram
         strings — then build each gram hash from k-1 ``lead`` window
         columns over (id, pos) and a codegen'd rot/xor projection. A
         transform-lambda with k ``F.get``s per element runs interpreted at
         ~0.5 ms/gram (measured 130 s for 270k tokens at sf0.1); this
         window shape is 40×+ faster and its doc-keyed shuffle replaces the
         repartition the explode needed anyway;
      2. gram occurrence counts: groupBy(gh) with map-side combine; the
         positions←counts inner join re-keys by gh, so AQE reuses the
         exchange; hot grams (boilerplate) inflate a COUNT, not a pair
         count — unlike a self-join there is no df² term;
      3. span merge: partition-local window over (id, pos) — keyed by
         document, never a global ordering.

    Gram identity is the 64-bit hash, not the gram text: a collision could
    mark a span duplicated spuriously (~2⁻⁶⁴ per gram pair; negligible at
    any corpus size where this matters). min_count counts OCCURRENCES, so
    a k-gram repeated min_count times inside a single document also
    qualifies — that is the semantics that removes boilerplate.

    Rows with a NULL ``id_col`` are DROPPED (they cannot be reported
    per-document, and keeping them would coalesce every null-id doc into
    one bogus window partition); their grams therefore do not contribute
    to occurrence counts — assign surrogate ids upstream if they should.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    pos = _gram_positions(df, id_col, text_col, k)
    counts = pos.groupBy("gh").agg(F.count(F.lit(1)).alias("_cnt"))
    dup = (
        pos.join(counts.filter(F.col("_cnt") >= min_count), "gh")
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        dup.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") > F.col("_prev") + k), 1
            ).otherwise(0),
        )
        .withColumn("_span", F.sum("_new").over(w))
        .groupBy(id_col, "_span")
        .agg(
            F.min("pos").alias("start_token"),
            (F.max("pos") + F.lit(k)).alias("end_token"),
            F.count(F.lit(1)).alias("dup_grams"),
        )
        .select(id_col, "start_token", "end_token", "dup_grams")
    )
    return spans


def duplicated_token_stats(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-token totals from ``duplicate_ngram_spans``
    output: (id, n_tokens, dup_tokens, dup_fraction, n_spans). Docs with no
    duplicated span report 0 / 0.0 — one small aggregate joined back to the
    doc-length projection, no re-scan of span inputs."""
    lens = df.select(
        F.col(id_col),
        F.size(tokens(normalize_text(F.col(text_col)))).alias("n_tokens"),
    )
    per = spans.groupBy(id_col).agg(
        F.sum(F.col("end_token") - F.col("start_token")).alias("dup_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return (
        lens.join(per, id_col, "left")
        .na.fill({"dup_tokens": 0, "n_spans": 0})
        .select(
            id_col,
            "n_tokens",
            "dup_tokens",
            # spans are maximal and non-overlapping with end ≤ n_tokens,
            # so the ratio is already bounded to [0, 1]
            F.when(F.col("n_tokens") > 0, F.col("dup_tokens") / F.col("n_tokens"))
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
            "n_spans",
        )
    )


def benchmark_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Per-document benchmark contamination: the fraction of a training
    document's token k-grams that also occur anywhere in an evaluation
    ("benchmark") corpus — the standard n-gram-overlap decontamination
    check for training data (public practice, e.g. the GPT-3 and Dolma
    decontamination recipes).

    Returns (id_col, n_grams, contaminated_grams, contamination_fraction).
    Documents shorter than k tokens report 0 grams and fraction 0.0.

    Plan shape: both sides run the shared explode + lead-window + codegen
    gram-hash pipeline (``_gram_positions``); the benchmark side gets
    surrogate row ids (``bench_id_col`` is accepted for symmetry but its
    values never influence the result) and collapses
    to its DISTINCT gram-hash set (groupBy with map-side combine) before an
    equi-join against corpus gram positions — hot boilerplate grams meet a
    distinct set, so the join output is bounded by corpus gram count, never
    a cross product. The benchmark set is typically orders of magnitude
    smaller than the corpus; AQE broadcasts it when it fits, and the join
    degrades to a plain shuffle join when it does not — both correct.
    Gram identity is the 64-bit rot/xor hash (collision odds ~2⁻⁶⁴ per
    gram pair, negligible at any realistic corpus size).
    """
    corp = _gram_positions(df, id_col, text_col, k)
    # the benchmark side only contributes its distinct gram SET — ids are
    # semantically irrelevant there, so assign surrogates rather than let
    # _gram_positions's null-id drop silently fail-open the check on an
    # eval set loaded without ids
    bench_src = benchmark.select(
        F.monotonically_increasing_id().alias("_bid"),
        F.col(bench_text_col).alias("_btext"),
    )
    bench = _gram_positions(bench_src, "_bid", "_btext", k).select("gh").distinct()
    per_doc = corp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hit = (
        corp.join(bench, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_grams"))
    )
    lens = df.select(id_col)
    return (
        lens.join(per_doc, id_col, "left")
        .join(hit, id_col, "left")
        .na.fill({"n_grams": 0, "contaminated_grams": 0})
        .select(
            id_col,
            "n_grams",
            "contaminated_grams",
            F.when(
                F.col("n_grams") > 0,
                F.col("contaminated_grams") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("contamination_fraction"),
        )
    )
