"""Deduplication operators for training-data pipelines (SURVEY §2.C):
exact, n-gram Jaccard, containment, MinHash+LSH, SimHash.

Scale design: nothing here is O(n²) on documents. Exact dedup is a
hash-groupBy; near-dup methods build an inverted index (shingle → doc
or band-bucket → doc) and only join within index buckets, with an
optional frequency cap to bound bucket fan-out on skewed corpora.
Everything is built-in column expressions — no Python in the hot path.

Every near-duplicate search here and in ``operators.multimodal`` /
``text.cdc_chunk_pairs`` meets its pairs through one join,
``_bucket_pairs``: cap the hot buckets, then self-join on the bucket
key.

MinHash has two hash families: the xxhash64 one
(``minhash_lsh_pairs``; fastest, engine-specific, so it is checked
rows-only / by pytest equivalence — the ``corpus_dedup`` benchmark
workload runs it) and the ``*_portable`` md5 one (~1.5× the wall time;
every step reproduces bit-for-bit in ANSI SQL, so the oracle-checked
batch keys and every streaming key use it). SimHash is portable only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import tokens

__all__ = [
    "DEFAULT_MAX_SHINGLE_FREQ",
    "DEFAULT_MAX_BAND_BUCKET",
    "exact_dedup",
    "shingles",
    "token_hashes",
    "hashed_gram_ids",
    "ngram_jaccard_pairs",
    "fuzzy_levenshtein_pairs",
    "containment_pairs",
    "shared_spans",
    "excise_shared_spans",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_signatures_portable",
    "minhash_lsh_pairs_portable",
    "simhash_portable",
    "simhash_pairs_portable",
    "connected_components",
]


# Library-default skew guards (VERDICT r2 §Next-round 3). At corpus
# scale a single hot inverted-index bucket — a boilerplate shingle or
# an empty-document MinHash band shared by 10⁶ docs — makes the bucket
# self-join quadratic (10¹² rows from one key). The caps bound every
# bucket's fan-out so worst-case join output is ≤ cap² per bucket,
# independent of corpus size. Values are deliberately generous: real
# near-duplicate buckets hold a handful of docs, so dropping >cap
# buckets only sheds "too common to be informative" mass (for banded
# sketches, members of a dropped bucket still pair through any less
# crowded band). Exact/oracle-checked paths pass ``None`` explicitly.
DEFAULT_MAX_SHINGLE_FREQ = 1000
DEFAULT_MAX_BAND_BUCKET = 500


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-row work can use every core.

    A small parquet input arrives as one partition; sketching ops are
    compute-heavy per row, so a single partition serializes the whole
    job. Repartition only when under-parallel — at real scale inputs
    already have ≥cores partitions and this is a no-op (no shuffle).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _drop_hot_buckets(
    index: DataFrame, keys: list[str], cap: int | None
) -> DataFrame:
    """``index`` without the buckets (rows equal on ``keys``) that hold
    more than ``cap`` rows; ``cap=None`` keeps every bucket."""
    if cap is None:
        return index
    ok = index.groupBy(*keys).count().filter(F.col("count") <= cap).select(*keys)
    return index.join(ok, keys, "left_semi")


def _bucket_pairs(
    index: DataFrame,
    keys: list[str],
    cap: int | None,
    carry: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Document pairs that share an inverted-index bucket — the one
    near-duplicate join behind every pair search of the LLM-data layer.

    ``index`` holds rows ``(doc_id, *keys, *carry)``. Buckets of more
    than ``cap`` rows drop first (``_drop_hot_buckets``: the skew guard
    that bounds join output by cap² per bucket); the rest self-join on
    ``keys`` and keep ``doc_a < doc_b``, so a document listed twice in
    one bucket never pairs with itself. One row per such pair of index
    rows: ``*keys, doc_a, *carry·a, doc_b, *carry·b``, where carried
    column ``c`` comes back once per side as ``c + "a"`` and
    ``c + "b"``.
    """
    index = _drop_hot_buckets(index, keys, cap)

    def side(s: str) -> DataFrame:
        return index.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(c + s) for c in carry],
            *keys,
        )

    return side("a").join(side("b"), keys).filter(F.col("doc_a") < F.col("doc_b"))


def _overlap_counts(index: DataFrame, key: str, cap: int | None) -> DataFrame:
    """Columns ``doc_a, doc_b, n_common, n_a, n_b`` over an index of
    distinct ``(doc_id, key)`` rows: the shared-key count of every pair
    that shares a key, and both documents' key counts — all over the
    capped index, so a capped key leaves the intersection and the sizes
    alike. The set-overlap scores (Jaccard, containment) are formulas
    over these five columns."""
    index = _drop_hot_buckets(index, [key], cap)
    sizes = index.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        _bucket_pairs(index, [key], None)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return common.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
        "doc_b",
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash.

    Groups on sha2-256 of the text (fixed-width key → balanced
    shuffle, no giant string keys moving through the exchange); keeps
    the minimum id as the canonical survivor.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_hash"))
        .agg(
            F.min(id_col).cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from an ALREADY-MATERIALIZED token
    array column.

    Implemented as ``arrays_zip`` of n equal-length shifted slices +
    one ``transform`` over the zipped structs: the slices copy in
    native array code and the lambda does one struct access per field,
    where the earlier sequence/element_at formulation paid an
    interpreted positional lookup per token per offset — measured 8×
    on the sf0.1 documents. ``toks`` should still be a plain column
    reference so the slices don't re-evaluate a nested expression.
    """
    # number of shingles, floored at 0 so short docs zip to an empty
    # array instead of needing a when() branch
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, k + 1, m).alias(f"t{k}") for k in range(n)]
    )
    out = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)])
    )
    # Public contract: a NULL token array yields an EMPTY shingle array
    # (the pre-arrays_zip behavior) — without this coalesce the slices
    # would propagate NULL to callers that relied on [] (ADVICE r6).
    return F.coalesce(out, F.array().cast("array<string>"))


def _with_shingles(
    df: DataFrame, n: int, text_col: str, id_col: str, distinct: bool
) -> DataFrame:
    """(doc_id, shingle array) with tokens materialized in between.

    ``_spread`` first: shingling + hashing is CPU-bound per row, and a
    small parquet input arriving as one partition would serialize it.
    """
    tokenized = _spread(df).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )
    grams = shingles_from_tokens(F.col("__toks"), n)
    if distinct:
        grams = F.array_distinct(grams)
    return tokenized.select("doc_id", grams.alias("shingles"))


def token_hashes(text: Column | str) -> Column:
    """Token array → xxhash64 array (project this into a NAMED column
    before feeding ``hashed_gram_ids`` — an inlined expression would
    re-evaluate per index inside the higher-order lambda)."""
    return F.transform(tokens(text), lambda t: F.xxhash64(t))


def hashed_gram_ids(th: Column, n: int, distinct: bool = True) -> Column:
    """Shingle ids as xxhash64 over slices of a MATERIALIZED token-hash
    array column.

    The fast shingle representation shared by MinHash, Jaccard, and
    repetition stats: hash each token once, then a shingle id is one
    xxhash64 over the n-slice — ~4× cheaper than building shingle
    *strings* (3× concat per index, interpreted), and longs, not text,
    ride every downstream shuffle. 64-bit collisions at corpus shingle
    cardinality (~2⁻⁶⁴·k²/2) are immaterial to similarity values.
    """
    grams = F.transform(
        F.sequence(F.lit(0), F.size(th) - n),
        lambda i: F.xxhash64(F.slice(th, (i + 1).cast("int"), n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(th) >= n, grams).otherwise(F.array().cast("array<long>"))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (single-expression form; prefer
    ``_with_shingles`` / ``shingles_from_tokens`` in operator plans)."""
    return shingles_from_tokens(tokens(text), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Inverted-index plan: distinct (doc, shingle) → self-join on the
    shingle (co-occurrence counts) → |A∩B| / (|A|+|B|-|A∩B|). The
    self-join only meets documents that actually share a shingle, so
    cost tracks true near-duplicate density, not n².

    ``max_shingle_freq`` drops shingles occurring in more than K
    documents — the standard skew guard at corpus scale (a boilerplate
    shingle shared by 1M docs would otherwise create 10¹² join rows).
    Defaults ON (``DEFAULT_MAX_SHINGLE_FREQ``) so the scale-safe
    behavior is what a caller gets without reading the docs; pass
    ``None`` explicitly for exact semantics (the oracle-checked mode).
    Note the cap changes *reported similarity*, not just recall: capped
    shingles leave both the intersection and the sizes.

    Shingles are hashed ids, not strings (``hashed_gram_ids``): the
    inverted index keys and self-join shuffle move longs. Similarity
    values are exact up to a ~2⁻⁶⁴·k² hash-collision chance.
    """
    # Referenced three times below (sizes + both join sides) — a lazy
    # localCheckpoint materializes the shingle explode+distinct once at
    # first action and, unlike persist(), is released by the context
    # cleaner when the result plan is garbage-collected, so repeated
    # calls in a long-lived session don't accumulate storage.
    doc_shingles = (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__th"))
        .select("doc_id", F.explode(hashed_gram_ids(F.col("__th"), n)).alias("shingle"))
        .localCheckpoint(eager=False)
    )
    jaccard = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        _overlap_counts(doc_shingles, "shingle", max_shingle_freq)
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Asymmetric near-containment pairs by n-gram containment.

    Containment ``C(A|B) = |A∩B| / |A|`` catches the duplication mode
    symmetric Jaccard structurally misses: a document embedded inside
    a much larger one (quote farms, concatenated dumps, boilerplate
    wrappers) has high containment but arbitrarily low Jaccard because
    the union is dominated by the big doc. Training-data pipelines
    dedup on BOTH (Lee et al.-style near-dedup uses Jaccard; corpus
    hygiene uses containment to strip subsumed fragments).

    Same inverted-index shape as ``ngram_jaccard_pairs`` — distinct
    (doc, shingle) → shingle self-join → per-pair intersection counts
    joined back to sizes — so cost tracks shared-shingle density, not
    n². Emits one row per (doc_a < doc_b) pair with containment in
    both directions where the larger direction clears ``threshold``.
    """
    doc_shingles = (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__th"))
        .select("doc_id", F.explode(hashed_gram_ids(F.col("__th"), n)).alias("shingle"))
        .localCheckpoint(eager=False)
    )
    cont_a = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    cont_b = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return (
        _overlap_counts(doc_shingles, "shingle", max_shingle_freq)
        .select(
            "doc_a",
            "doc_b",
            # raw double division — bit-identical on any IEEE engine,
            # so the oracle compares exactly without rounding
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
        )
        .filter(F.greatest("containment_a", "containment_b") >= threshold)
    )


def shared_spans(
    df: DataFrame,
    n: int = 3,
    min_span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Maximal shared verbatim token spans between document pairs —
    substring-level exact dedup (duplicated-span detection), the
    Lee-et-al.-style "dedup the span, not the document" primitive the
    token-SET family (Jaccard/MinHash/containment) structurally
    misses: a long quoted passage inside two otherwise-distinct docs.

    Positioned hashed-shingle index → inverted-index self-join →
    diagonal run merge, all SQL-expressible: each matching n-gram at
    positions (pa, pb) lies on the diagonal ``delta = pb − pa``; within
    one (doc_a, doc_b, delta) group, consecutive pa values form a
    shared run, merged by the gaps-and-islands trick
    (``pa − row_number()`` is constant exactly on a run). A run of m
    consecutive matching n-grams certifies a shared span of
    ``m + n − 1`` tokens. Emits one row per maximal span ≥
    ``min_span_tokens`` with both start offsets (0-based token
    positions), ready for span excision or weighting.

    Scale shape: candidate volume is bounded by the per-shingle
    frequency cap (hot boilerplate shingles dropped, same rationale as
    ``DEFAULT_MAX_SHINGLE_FREQ`` everywhere else); the islands window
    partitions by (pair, delta) — one matched diagonal, never a
    corpus-sized partition. No all-pairs anything.
    """
    tokenized = _spread(df).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )
    grams = shingles_from_tokens(F.col("__toks"), n)
    # p = the shingle's 0-based token position; pairs carry it as pa/pb
    ix = tokenized.select(
        "doc_id", F.posexplode(grams).alias("p", "shingle")
    ).localCheckpoint(eager=False)
    matches = _bucket_pairs(ix, ["shingle"], max_shingle_freq, carry=["p"]).select(
        "doc_a", "doc_b", "pa", "pb", (F.col("pb") - F.col("pa")).alias("delta")
    )
    w = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
    islands = matches.withColumn(
        "__grp", F.col("pa") - F.row_number().over(w)
    )
    spans = (
        islands.groupBy("doc_a", "doc_b", "delta", "__grp")
        .agg(
            F.min("pa").cast("bigint").alias("start_a"),
            F.min("pb").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + (n - 1)).cast("bigint").alias("span_tokens"),
        )
    )
    return spans.filter(
        F.col("span_tokens") >= min_span_tokens
    ).select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")


def excise_shared_spans(
    df: DataFrame,
    n: int = 3,
    min_span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Remove duplicated spans from documents — the excision step that
    completes ``shared_spans`` into Lee-et-al.-style substring dedup:
    for every shared span, the FIRST document (smaller id) keeps its
    copy and every later document loses the covered tokens.

    One row per AFFECTED document: the remaining text (tokens outside
    every excised range, original order), plus before/removed token
    counts. Untouched documents are omitted — at corpus scale the
    excision output is patch-sized, never a corpus rewrite; apply it
    as a left join + coalesce over the corpus downstream.

    Plan: ``shared_spans`` (bounded by the shingle-frequency caps) →
    explode span ranges into a distinct (doc, pos) removal set → anti
    join against positioned tokens → per-doc ordered re-assembly
    (array_sort over (pos, token) structs — partitions are single
    documents, bounded by document length).
    """
    spans = shared_spans(
        df, n, min_span_tokens, text_col, id_col, max_shingle_freq
    )
    remove = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("span_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds the anti join AND counts
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    affected = remove.select("doc_id").distinct()
    kept = (
        toks.join(affected, "doc_id", "left_semi")
        .join(remove, ["doc_id", "pos"], "left_anti")
    )
    n_removed = remove.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    # a doc whose EVERY token was excised has no kept rows — outer join
    # so it still reports (n_kept = 0, empty text)
    return (
        n_removed.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("n_kept"), F.lit(0)) + F.col("n_removed"))
            .cast("bigint")
            .alias("n_tokens"),
            F.col("n_removed").cast("bigint").alias("n_removed"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
        )
    )


NUM_PERMS = 64
LSH_BANDS = 16  # 16 bands × 4 rows


def minhash_signatures(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature (64 permutations) per document.

    Shingle ids and per-permutation rehashes both use ``xxhash64`` —
    no wrap-around multiply anywhere, so the sketch is correct whether
    or not the session runs ANSI mode (Spark 4 defaults ANSI *on*,
    where a raw 64-bit polynomial combine raises ARITHMETIC_OVERFLOW).
    """
    # Shingles as combined token hashes, never as strings (see
    # ``hashed_gram_ids``): skips 3× string concatenation and shuffles
    # longs instead of text.
    tokenized = _spread(df).select(
        F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__th")
    )
    exploded = tokenized.select(
        "doc_id", F.explode(hashed_gram_ids(F.col("__th"), n)).alias("h")
    )
    # One codegen'd hash-aggregate computes all 64 permutation minima —
    # higher-order array functions are interpreted row-at-a-time in
    # Spark, so explode+agg beats transform/array_min by ~10×. Each
    # "permutation" is xxhash64 seeded by the permutation index (hash
    # chaining over (h, i) — overflow-free, ANSI-safe). Cheaper
    # families were tried and rejected: Kirsch–Mitzenmacher double
    # hashing (h₁ + i·h₂) needs either wrap-around multiply (ANSI
    # breaks) or pmod-bounded terms, and bounding makes the i·h₂ term
    # negligible against h₁ — one shingle then wins every permutation
    # and the sketch degenerates to 1 effective permutation (measured:
    # ~40× candidate inflation). Docs with no shingles (fewer than n
    # tokens) have no signature rows.
    mins = exploded.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"__m{i}")
            for i in range(NUM_PERMS)
        ]
    )
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"__m{i}") for i in range(NUM_PERMS)]).alias("signature"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signatures split into 16 bands of 4; a pair is a candidate iff it
    collides in ≥1 band (bucket join on the band hash — the inverted
    index again, never an all-pairs product). Candidates verify by the
    estimated Jaccard (fraction of equal signature components).

    ``max_band_bucket`` drops band buckets holding more than K
    documents — the skew guard at corpus scale: a boilerplate cluster
    of 1M identical docs otherwise lands in one bucket and the
    self-join emits 10¹² rows. Dropped buckets are exactly the "too
    common to be interesting" mass (their members still pair through
    any *less* crowded band). Defaults ON (``DEFAULT_MAX_BAND_BUCKET``);
    pass ``None`` explicitly for exhaustive candidates (the
    oracle-checked mode).
    """
    return _lsh_pairs(
        minhash_signatures(df, n, text_col, id_col),
        F.xxhash64,
        threshold,
        max_band_bucket,
    )


def _lsh_pairs(
    sigs: DataFrame,
    band_key,
    threshold: float,
    max_band_bucket: int | None,
) -> DataFrame:
    """Banded LSH over ``(doc_id, signature)`` rows, shared by both
    MinHash families: ``LSH_BANDS`` bands of ``NUM_PERMS / LSH_BANDS``
    components, ``band_key`` maps one band's slice to its bucket key,
    candidates are ``_bucket_pairs`` over (band_idx, band_key), and
    each verifies by the estimated Jaccard (fraction of equal
    signature components)."""
    # Signatures feed the band explode AND both sides of the verify
    # join — a lazy localCheckpoint computes the sketch once
    # (~0.5 KB/doc) and is context-cleaner-released when the result
    # plan is GC'd (persist() would pin it in the cache manager until
    # an explicit unpersist nobody owns).
    sigs = sigs.filter(F.col("signature").isNotNull()).localCheckpoint(eager=False)
    rows_per_band = NUM_PERMS // LSH_BANDS
    # Bucket index carries only (doc_id, band) — signatures rejoin later
    # so 64-long arrays never ride through the band shuffle.
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: band_key(
                    F.slice(
                        F.col("signature"),
                        (b * rows_per_band + 1).cast("int"),
                        rows_per_band,
                    )
                ),
            )
        ).alias("band_idx", "band_key"),
    )
    candidates = (
        _bucket_pairs(bands, ["band_idx", "band_key"], max_band_bucket)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / NUM_PERMS
    )
    return (
        candidates.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


PORTABLE_PRIME = 2_147_483_647  # 2³¹−1, the double-hash modulus


def _portable_words(shingle: Column, k: int = 2) -> list[Column]:
    """``k`` independent 32-bit hash streams (k ≤ 4) from one md5 of
    the shingle string — hex-sliced exactly as DuckDB's
    ``CAST(concat('0x', substr(md5(s), …)) AS BIGINT)`` computes them,
    so both engines derive bit-identical values."""
    digest = F.md5(shingle)
    return [
        F.conv(F.substring(digest, 8 * m + 1, 8), 16, 10).cast("long")
        for m in range(k)
    ]


def _portable_h1_h2(shingle: Column) -> tuple[Column, Column]:
    h1, h2 = _portable_words(shingle, 2)
    return h1, h2


def minhash_signatures_portable(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signatures from an ENGINE-PORTABLE hash family.

    ``minhash_signatures`` chains xxhash64 — fast, but engine-specific,
    which forces its queries to rows-only checks. This variant uses
    Kirsch–Mitzenmacher double hashing over two md5-derived 32-bit
    streams: ``sig_p = min over shingles of (h1 + p·h2) mod (2³¹−1)``.
    Every term is < 2³⁸ (no overflow, ANSI-safe) and every step — md5,
    hex slice, modular arithmetic — evaluates identically in DuckDB,
    so the full signature (and everything banded on top of it) is
    value-oracle-able. The family degeneration that ruled K-M out for
    the xxhash64 path (bounded i·h₂ vanishing against a full-range h₁)
    doesn't apply here: both streams live in [0, 2³²) and the final
    modulus wraps the sum uniformly for every p.

    Shingles are the same word-3-grams as the Jaccard oracle
    (``TOKS_SQL`` semantics: split on single space, drop empties,
    distinct shingle strings per doc).
    """
    shingled = _with_shingles(df, n, text_col, id_col, distinct=True)
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    h1, h2 = _portable_h1_h2(F.col("shingle"))
    hashed = exploded.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h1") + F.lit(p) * F.col("h2")) % F.lit(PORTABLE_PRIME)
            ).alias(f"__m{p}")
            for p in range(NUM_PERMS)
        ]
    )
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"__m{p}") for p in range(NUM_PERMS)]).alias(
            "signature"
        ),
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """``minhash_lsh_pairs`` over the portable signature family — same
    banded inverted-index shape (16 bands × 4, bucket join, skew cap),
    but the band key is the comma-joined component string instead of a
    rehash, so a DuckDB oracle reproduces the exact candidate set and
    the estimated Jaccard values hash-match."""
    return _lsh_pairs(
        minhash_signatures_portable(df, n, text_col, id_col),
        lambda band: F.array_join(band, ","),
        threshold,
        max_band_bucket,
    )


PORTABLE_SIMHASH_BITS = 128  # md5 yields exactly four 32-bit streams


def simhash_portable(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """128 SimHash sign bits per document from the portable family.

    Bit j is the sign of ``Σ_shingles (2·bit_j(h) − 1)`` where the four
    32-bit md5-hex streams supply bits [32m, 32m+32) — pure integer
    shifts and sums, identical in DuckDB. 128 bits (vs the classic 64)
    is the scale choice: banded Hamming-≤7 search needs ≥8 bands, and
    8 bands over 64 bits leaves 8-bit keys — 256 buckets per band, so
    candidates grow Θ(n²/256): measured 400k candidate pairs for 229
    real near-dups at sf0.1. Over 128 bits the same 8 bands carry
    16-bit keys (65 536 buckets) and random collisions drop 256-fold.

    The bits PACK into four 32-bit words ``w0…w3`` (Σ bit·2ʲ — stays
    positive in a signed 64-bit): band keys, candidate joins, and
    Hamming all move four longs per doc, not 128 int columns.
    """
    shingled = _with_shingles(df, n, text_col, id_col, distinct=True)
    exploded = shingled.filter(F.size("shingles") > 0).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    words = _portable_words(F.col("shingle"), 4)
    hashed = exploded.select(
        "doc_id", *[w.alias(f"h{m}") for m, w in enumerate(words)]
    )
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col(f"h{j // 32}"), j % 32) % 2) * 2 - 1
            ).alias(f"__s{j}")
            for j in range(PORTABLE_SIMHASH_BITS)
        ]
    )
    word = lambda lo: sum(  # noqa: E731 — Σ bit_j · 2^(j−lo), j ∈ [lo, lo+32)
        (F.col(f"__s{lo + k}") >= 0).cast("long") * F.lit(1 << k)
        for k in range(32)
    )
    return bit_sums.select(
        "doc_id",
        *[word(32 * m).alias(f"w{m}") for m in range(PORTABLE_SIMHASH_BITS // 32)],
    )


def simhash_pairs_portable(
    df: DataFrame,
    max_hamming: int = 7,
    n: int = 3,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs ``(doc_a, doc_b, hamming)`` within Hamming
    ``max_hamming`` over the 128-bit ``simhash_portable`` sketch, by
    banded search (``_banded_hamming_pairs``: ``bands`` > ``max_hamming``
    keeps the pigeonhole recall guarantee) on bit-slice band keys — the
    whole pipeline, sketch included, reproduces in DuckDB."""
    return _banded_hamming_pairs(
        simhash_portable(df, n, text_col, id_col),
        PORTABLE_SIMHASH_BITS,
        max_hamming,
        bands,
        max_band_bucket,
    )


def _banded_hamming_pairs(
    sketch: DataFrame,
    n_bits: int,
    max_hamming: int,
    bands: int,
    max_band_bucket: int | None,
) -> DataFrame:
    """Pairs within Hamming ``max_hamming`` over ``(doc_id, w0…)`` rows,
    an ``n_bits``-bit hash packed into 32-bit words (the shape of
    ``simhash_portable`` and ``multimodal.phash_words``).

    Each doc explodes into ``bands`` (band_idx, band_key) rows, band
    key = that band's bit slice; candidates are ``_bucket_pairs`` over
    the band buckets (never all pairs), and the exact Hamming check
    (``bit_count(xor)`` over the words) filters them. A pair within
    ``max_hamming`` differs in at most that many bands, so with
    ``bands > max_hamming`` at least one band matches: ``max_hamming
    >= bands`` would silently miss pairs and raises instead, as does a
    band width that does not divide 32 (a band may not straddle two
    words). Recall is approximate only for members of buckets larger
    than ``max_band_bucket``, which any less crowded band still pairs.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs more than {bands} bands "
            "for guaranteed recall (pigeonhole: a qualifying pair must "
            "share at least one unchanged band)."
        )
    if n_bits % bands or 32 % (n_bits // bands):
        raise ValueError(
            f"bands={bands} must divide {n_bits} with a band width "
            "dividing 32 (band slices may not straddle the packed words)."
        )
    sk = sketch.localCheckpoint(eager=False)
    bits_per_band = n_bits // bands
    mask = (1 << bits_per_band) - 1

    def band_key(b: int):
        lo = b * bits_per_band
        return F.shiftright(F.col(f"w{lo // 32}"), lo % 32).bitwiseAND(
            F.lit(mask)
        )

    banded = sk.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(b) for b in range(bands)])
        ).alias("band_idx", "band_key"),
    )
    candidates = (
        _bucket_pairs(banded, ["band_idx", "band_key"], max_band_bucket)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    n_words = n_bits // 32
    a = sk.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"w{m}").alias(f"a{m}") for m in range(n_words)],
    )
    b = sk.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"w{m}").alias(f"c{m}") for m in range(n_words)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{m}").bitwiseXOR(F.col(f"c{m}")))
        for m in range(n_words)
    ).cast("bigint")
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 25,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-duplicate pair list, labeled by the component's minimum id.

    The step every dedup pipeline needs after pair generation — pairs
    say "A≈B"; the pipeline keeps one doc per *cluster*, and clusters
    are the transitive closure of the pair relation.

    Iterative min-label propagation with pointer jumping: each round
    every node takes the minimum label among itself and its neighbors
    (one join + one map-side-combinable min-aggregate), then labels
    short-circuit through their own labels (``label ← label(label)``,
    one more equi-join). The jump doubles the propagation horizon per
    round, so a chain of length d converges in O(log d) rounds instead
    of O(d) — on near-dup graphs (tiny cliques/chains) both are small,
    but pathological long paths no longer approach ``max_iterations``.
    Labels are eagerly localCheckpoint-ed each round: iterative
    self-referential plans otherwise grow exponentially deep lineage.
    The convergence probe (``limit(1).count()``) is a control-plane
    action per round, same as any iterative driver loop (cf. Lloyd's in
    ``ivf_topk``).

    Raises ``RuntimeError`` if the loop exits without converging —
    partial labels are silently-wrong cluster assignments, never
    returned (with pointer jumping, hitting this needs a path of
    length ~2^max_iterations).

    Like a broadcast-join decision, the execution strategy is picked at
    runtime from the data's actual size: the pair graph is orders of
    magnitude smaller than the corpus it came from (it holds only
    near-duplicates), so when the edge count — a control-plane scalar
    read off the already-materialized edge checkpoint — is at most
    ``small_graph_edges``, a single collect + path-compressed
    union-find on the driver replaces the iterative loop (identical
    labels, none of the per-round shuffle/checkpoint/probe job
    overhead, which dominates wall time when components are tiny).
    Larger graphs take the distributed loop unchanged. The driver path
    streams edges partition-at-a-time via ``toLocalIterator`` (the
    union-find is single-pass and order-insensitive), so peak driver
    memory is the parent dict — up to 2·edges Python int entries,
    ~100-200 B each (≈ several hundred MB at the 2M-edge default), plus
    one partition of Row objects — never the whole edge list at once.
    """
    spark = pairs.sparkSession
    und = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint(eager=False)
    n_edges = und.count()  # materializes the checkpoint; one scalar back

    if n_edges <= small_graph_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # toLocalIterator schedules one job per partition — coalesce
        # the (small) edge list so the driver pulls a few large
        # partitions with prefetch instead of dozens of tiny jobs,
        # while still never holding the whole edge list as Rows.
        few = und.coalesce(max(1, und.rdd.getNumPartitions() // 8))
        for row in few.toLocalIterator(prefetchPartitions=True):
            u, v = row[0], row[1]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union-by-min keeps every root the component minimum,
                # matching the distributed loop's min-label semantics
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv

        node_type = pairs.schema[a_col].dataType
        out_schema = T.StructType(
            [
                T.StructField("doc_id", node_type),
                T.StructField("cluster_id", node_type),
            ]
        )
        return spark.createDataFrame(
            [(n, find(n)) for n in parent], out_schema
        )

    edges = (
        und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=False)  # reused every round
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_iterations):
        neigh = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        propagated = (
            labels.join(neigh, labels["node"] == neigh["u"], "left")
            .select(
                labels["node"].alias("node"),
                labels["label"].alias("prev"),
                F.least(
                    labels["label"], F.coalesce(F.col("nlabel"), labels["label"])
                ).alias("label"),
            )
            # Feeds both sides of the jump self-join below — materialize
            # the neighbor-min once, not twice.
            .localCheckpoint(eager=False)
        )
        # Pointer jump: follow the label one hop (labels are node ids,
        # so label(label) is defined; min-propagation keeps every label
        # a member of the node's own component and non-increasing, so
        # the jump preserves correctness while halving rounds-to-
        # convergence on chains). Carry ``prev`` through so the
        # convergence probe reads the already-materialized checkpoint.
        lab2 = propagated.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        updated = (
            propagated.join(lab2, propagated["label"] == lab2["jnode"], "left")
            .select(
                "node",
                "prev",
                F.least(
                    propagated["label"], F.coalesce(F.col("jlabel"), propagated["label"])
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("label") != F.col("prev")).limit(1).count()
        labels = updated.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (labels would be partial "
            "and wrong, so none are returned)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def fuzzy_levenshtein_pairs(
    df: DataFrame,
    max_dist: int = 40,
    prefix_len: int = 16,
    probe_len: int = 120,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by edit distance on prefix-blocked probes.

    The character-level complement to the token-set family (Jaccard /
    MinHash miss single-character-heavy edits; edit distance catches
    them): documents are blocked on their first ``prefix_len``
    characters — near-dups overwhelmingly share an exact prefix — and
    only within-block pairs pay the O(probe_len²) Levenshtein DP,
    computed on ``probe_len``-capped probes so the cost per pair is a
    constant, not document-length-squared. Emits (doc_a, doc_b, dist,
    sim) with ``sim = 1 − dist / max(probe lengths)``.

    Scale shape: one shuffle on the block key; join output is bounded
    by ``max_block``² per block (the library skew cap rides the same
    rationale as DEFAULT_MAX_SHINGLE_FREQ — a boilerplate prefix
    shared by 10⁶ docs must not go quadratic). ``max_block=None``
    disables the cap for oracle-exact runs.
    """
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.substring(text_col, 1, prefix_len).alias("__blk"),
        F.substring(text_col, 1, probe_len).alias("__probe"),
        F.least(F.length(text_col), F.lit(probe_len)).alias("__plen"),
    )
    if max_block is not None:
        w = Window.partitionBy("__blk").orderBy("doc_id")
        d = (
            d.withColumn("__bn", F.row_number().over(w))
            .filter(F.col("__bn") <= max_block)
            .drop("__bn")
        )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__blk"),
        F.col("__probe").alias("__pa"),
        F.col("__plen").alias("__la"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__blk"),
        F.col("__probe").alias("__pb"),
        F.col("__plen").alias("__lb"),
    )
    # Bounded-threshold DP (banded O(probe_len · max_dist) cells with
    # a built-in length early-exit; returns −1 above the bound, the
    # exact distance below it) — measured ~1.35× the full-table form
    # on the sf0.1 corpus, and the gap widens as max_dist shrinks.
    dist = F.levenshtein(F.col("__pa"), F.col("__pb"), max_dist)
    return (
        a.join(b, ["__blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("__d", dist)
        .filter(F.col("__d") >= 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("__d").alias("dist"),
            F.round(
                F.lit(1.0)
                - F.col("__d")
                / F.greatest("__la", "__lb", F.lit(1)).cast("double"),
                6,
            ).alias("sim"),
        )
    )

