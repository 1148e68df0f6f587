"""Text-analysis operators for large-scale document pipelines
(SURVEY §2.C): tokenization stats, quality scores, language ID,
fingerprinting.

All operators are pure ``pyspark.sql.functions`` column expressions —
no Python UDFs — so they run inside whole-stage codegen and cost one
narrow pass over the documents table regardless of scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_stats",
    "quality_scores",
    "quality_filter",
    "language_id",
    "fingerprint",
    "hashed_ngram_features",
    "word_vocab",
    "doc_frequency_hitters",
    "cms_sketch",
    "cms_heavy_hitters",
    "scrub_pii",
    "repetition_stats",
    "contamination_flags",
    "unigram_logprob",
    "bigram_logprob",
    "pmi_bigrams",
    "char_entropy",
    "cdc_chunks",
    "cdc_chunk_pairs",
    "cdc_excise",
    "STOPWORDS",
    "LANG_MARKERS",
    "CDC_WINDOW",
    "CDC_BASE",
    "CDC_MOD",
    "CDC_POWS",
]

# Word-ish / punctuation pattern — a BPE-style pre-tokenizer split.
BPE_PATTERN = r"\w+|[^\w\s]"

# Small in-expression stopword list for quality scoring (ratio feature,
# not linguistics — the list just needs to be fixed and cheap).
STOPWORDS = ("the", "a", "of", "and", "to", "value", "table", "row")

# Per-language marker words for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "de", "y", "los"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "das", "und", "von"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed (array<string> column)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(text, " "), lambda x: x != "")


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Occurrences (with repeats) of any of ``words`` in the token array."""
    vocab = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(vocab, x)))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + chars."""
    toks = tokens(text_col)
    return df.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN))
        .cast("bigint")
        .alias("bpe_tokens"),
        F.length(text_col).cast("bigint").alias("chars"),
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features: alpha/punct/stopword ratios
    and mean word length — the usual pretraining-filter signals."""
    text = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(text).cast("double")
    n_toks = F.size(toks).cast("double")
    alpha = F.regexp_count(text, F.lit("[A-Za-z]")).cast("double")
    punct = F.regexp_count(text, F.lit(r"[.,;:!?]")).cast("double")
    stop = _hits(toks, STOPWORDS).cast("double")
    return df.select(
        "doc_id",
        (alpha / n_chars).alias("alpha_ratio"),
        (punct / n_chars).alias("punct_ratio"),
        (stop / n_toks).alias("stopword_ratio"),
        ((n_chars - n_toks + 1) / n_toks).alias("mean_word_len"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic with a fixed tie-break order.

    Argmax over per-language marker hit counts (en > es > fr > de on
    ties, ``und`` when nothing matches) — deterministic, one codegen
    pass, no model dependency.
    """
    toks = tokens(text_col)
    hits = {lang: _hits(toks, words) for lang, words in LANG_MARKERS.items()}
    en, es, fr, de = hits["en"], hits["es"], hits["fr"], hits["de"]
    pred = (
        F.when((en + es + fr + de) == 0, "und")
        .when((en >= es) & (en >= fr) & (en >= de), "en")
        .when((es >= fr) & (es >= de), "es")
        .when(fr >= de, "fr")
        .otherwise("de")
    )
    return df.select(
        "doc_id",
        pred.alias("pred_lang"),
        en.cast("bigint").alias("en_hits"),
        es.cast("bigint").alias("es_hits"),
        fr.cast("bigint").alias("fr_hits"),
        de.cast("bigint").alias("de_hits"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_alpha_ratio: float = 0.55,
    min_tokens: int = 5,
    min_chars: int = 30,
    max_chars: int = 20_000,
) -> DataFrame:
    """Pretraining quality gate: keep documents passing all thresholds.

    The standard corpus-cleaning filter (Gopher/C4-style rules): enough
    alphabetic content, enough tokens, length within bounds. Pure
    column predicates — Catalyst pushes the ``length`` bounds into the
    scan and the whole gate runs in one codegen pass, so filtering
    100 TB costs exactly one read.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    alpha_ratio = F.regexp_count(text, F.lit("[A-Za-z]")).cast("double") / n_chars.cast(
        "double"
    )
    n_toks = F.size(tokens(text_col))
    return df.filter(
        (alpha_ratio >= min_alpha_ratio)
        & (n_toks >= min_tokens)
        & n_chars.between(min_chars, max_chars)
    )


def word_vocab(df: DataFrame, text_col: str = "text", top_k: int = 100) -> DataFrame:
    """Top-``top_k`` lowercase-word vocabulary with deterministic ranks.

    Corpus-level token frequency (the first step of any tokenizer /
    vocab build): lowercase, split on non-letter runs, explode, count.
    The count aggregation is map-side combinable, so the shuffle
    carries one row per distinct word per partition — vocab-sized, not
    corpus-sized. Only the aggregated vocab (≪ corpus) is sorted for
    top-k, and the rank window runs on the ``top_k`` surviving rows,
    so the single-partition window is O(top_k), never O(corpus).
    """
    words = F.explode(
        F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != "")
    ).alias("word")
    counts = df.select(words).groupBy("word").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(top_k)
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return top.select(
        "word",
        F.col("n").cast("bigint").alias("n"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_ranks: int = 200
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary — the
    standard corpus-health diagnostic (natural text slopes near −1;
    boilerplate-heavy or deduplicated-to-death corpora drift off it).

    Least-squares line through (ln rank, ln freq) for the top
    ``top_ranks`` words: the frequency aggregation is map-side
    combinable (vocab-sized shuffle, the word_vocab plan), the rank
    window runs on the ``top_ranks`` rows surviving a TakeOrdered
    LIMIT — bounded by construction, never by data volume. Regression
    sums follow the plans.numeric determinism convention: ln values
    round to 12dp, per-row products round to 12dp and sum as exact
    DECIMAL, and the slope/intercept quotients are composed from the
    identical doubles on both engines (each IEEE op exactly rounded,
    same expression tree ⇒ same bits; intercept uses the ROUNDED
    slope so it cannot smuggle in an unrounded intermediate).
    """
    words = F.explode(
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
        )
    ).alias("word")
    counts = df.select(words).groupBy("word").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(
        top_ranks
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    ranked = top.withColumn("rank", F.row_number().over(w))
    x = F.round(F.log(F.col("rank").cast("double")), 12)
    y = F.round(F.log(F.col("n").cast("double")), 12)
    d = "decimal(28,12)"
    terms = ranked.select(
        x.cast(d).alias("x"),
        y.cast(d).alias("y"),
        F.round(x * y, 12).cast(d).alias("xy"),
        F.round(x * x, 12).cast(d).alias("xx"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    nd = F.col("n_ranks").cast("double")
    slope = F.round(
        (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (nd * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    return s.select(
        "n_ranks",
        slope.alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / nd, 6
        ).alias("intercept"),
    )


def doc_frequency_hitters(
    df: DataFrame,
    min_doc_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide document-frequency heavy hitters: tokens present in
    at least ``min_doc_frac`` of all documents.

    The boilerplate/stopword sweep of a corpus audit — ``word_vocab``
    ranks raw occurrence counts, but boilerplate detection needs DOC
    frequency (a token repeated 1000× in one doc is content; a token
    in 90% of docs is template). Plan: per-doc distinct tokens
    (explode of ``array_distinct``, so the exchange carries one row
    per (doc, distinct token)), combinable count per token, and the
    corpus size as an in-plan 1-row broadcast scalar — no collect, one
    shuffle on the token. Emits ``(word, doc_freq, doc_frac, idf)``
    with smoothed idf ``ln((1+N)/(1+df))``.
    """
    toks = tokens(text_col)
    per_doc = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(toks)).alias("word"),
    )
    dfreq = per_doc.groupBy("word").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    # raw double division (bit-identical across engines); only the log
    # is rounded — transcendental libm results can differ in the last
    # ULP between engines.
    return (
        dfreq.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "doc_frac",
            F.col("doc_freq").cast("double") / F.col("__n").cast("double"),
        )
        .filter(F.col("doc_frac") >= min_doc_frac)
        .select(
            "word",
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            "doc_frac",
            F.round(
                F.log(
                    (1 + F.col("__n")).cast("double")
                    / (1 + F.col("doc_freq")).cast("double")
                ),
                6,
            ).alias("idf"),
        )
    )


CMS_PRIME = 2147483647  # 2^31-1, the minhash family's Mersenne modulus


def _cms_h1_h2(key: Column) -> tuple[Column, Column]:
    """The portable (h1, h2) pair-hash: md5 hex slices cast through
    BIGINT — bit-identical to DuckDB's ``CAST(concat('0x',
    substr(md5(k), …)) AS BIGINT)`` (the minhash family's engine-
    parity derivation, operators/dedup.py)."""
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint"),
        F.conv(F.substring(F.md5(key), 9, 8), 16, 10).cast("bigint"),
    )


def _cms_buckets(keyed: DataFrame, key_col: str, depth: int, width: int) -> DataFrame:
    """One ``(key, i, bucket)`` row per key occurrence × depth: h1/h2
    computed ONCE per occurrence BEFORE the depth explode, rows i
    derive by integer arithmetic ``(h1 + i·h2) mod P mod width``
    (Carter–Wegman). A consumer that drops the key column lets the
    optimizer prune it from every projection."""
    i = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i")
    h1, h2 = _cms_h1_h2(F.col(key_col))
    return (
        keyed.select(key_col, h1.alias("__h1"), h2.alias("__h2"))
        .select(key_col, "__h1", "__h2", i)
        .select(
            key_col,
            "i",
            F.pmod(
                (F.col("__h1") + F.col("i") * F.col("__h2"))
                % F.lit(CMS_PRIME),
                F.lit(width),
            ).alias("bucket"),
        )
    )


def cms_sketch(
    keyed: DataFrame,
    key_col: str = "word",
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Count-min sketch of a key stream as a ``(i, bucket, c)`` cell
    table — the MERGEABLE frequency sketch for unbounded key domains
    (the streaming heavy-hitter problem at 100 TB, VERDICT r13 #4).

    Each occurrence maps to ``depth`` cells; the cell counts are a
    plain combinable ``groupBy`` — map-side partial state is capped at
    ``depth × width`` cells per task REGARDLESS of key cardinality
    (the whole point: an exact count over 10¹¹ distinct n-grams
    shuffles the full key domain, the sketch shuffles ≤ d·w bounded
    rows per partition). Two sketch tables over disjoint splits merge
    by summing cells — the same re-aggregation algebra as the bitmap
    words and HLL buckets. Estimates are biased HIGH:
    ``min_i c[i][h_i(x)] ≥ true(x)`` always, and exceeds
    ``true(x) + 2N/width`` with probability ≤ 2^-depth (Cormode &
    Muthukrishnan 2005, public construction).

    The hash is the md5 pair-hash ``(h1 + i·h2) mod P mod width`` —
    replayable bit-for-bit in ANSI SQL, so the WHOLE sketch (and the
    estimates derived from it) is value-oracled, not just rows-only.
    """
    return (
        _cms_buckets(keyed, key_col, depth, width)
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 4,
    width: int = 4096,
    top_k: int = 20,
    candidate_permille: int = 50,
) -> DataFrame:
    """Top-``top_k`` token heavy hitters estimated from a count-min
    sketch — the batch face of the classic sketch + candidate-stream
    heavy-hitter construction.

    Two bounded passes over the token stream: (1) the ``cms_sketch``
    cell table (≤ depth × width rows total); (2) a DETERMINISTIC
    per-occurrence hash sample proposes candidate keys — a key with
    true frequency f survives with probability 1 − (1−p)^f, so any
    heavy hitter (f ≫ 1/p) is proposed w.p. ~1 while the candidate
    set stays ~p × stream-size at worst. Candidates then look their
    estimate up via a BROADCAST join against the sketch (the cell
    table is bounded, never shuffles the candidates), ``min`` over
    the ``depth`` rows, and a TakeOrdered top-k. No exact per-key
    count ever shuffles the unbounded key domain. Sampling salt is
    (doc, position, token) hashed by the same md5 pair-hash as the
    sketch, so the whole construction is deterministic and replayable
    in ANSI SQL end-to-end: the registered key carries a FULL value
    oracle (estimate vs TRUTH accuracy stays pytest-gated,
    tests/test_round14_ops.py).
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(tokens(text_col)).alias("__pos", "word"),
    )
    sketch = cms_sketch(toks, "word", depth=depth, width=width)
    salt = F.concat_ws(":", "__doc", "__pos", "word")
    samp = F.pmod(_cms_h1_h2(salt)[0], F.lit(1000))
    candidates = (
        toks.where(samp < F.lit(candidate_permille)).select("word").distinct()
    )
    cand_cells = _cms_buckets(candidates, "word", depth, width)
    est = (
        cand_cells.join(F.broadcast(sketch), ["i", "bucket"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce("c", F.lit(0))).cast("bigint").alias("est_freq"))
    )
    return (
        est.orderBy(F.col("est_freq").desc(), F.col("word").asc())
        .limit(top_k)
        .select("word", "est_freq")
    )


def pack_spans(
    df: DataFrame,
    capacity: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    small_corpus_rows: int = 1_000_000,
) -> DataFrame:
    """Sequence-packing span assignment (GPT-style concat-and-chunk):
    documents concatenate in ``id_col`` order into a single token
    stream cut every ``capacity`` tokens; each doc reports the bin its
    first token lands in and how many bins it spans — the placement
    table a pretraining data loader materializes.

    The global running token sum is the scale hazard (a naive
    ``SUM OVER (ORDER BY id)`` plans as ONE task). So the plan adapts
    to the input's size: corpora under ``small_corpus_rows`` run the
    single-partition window explicitly bounded by the threshold;
    larger corpora range-repartition by id, cumsum within partitions,
    and add per-partition token totals collected as a
    ≤-#partitions-row control-plane map — bit-identical to the global
    window for any input, so the SQL oracle reproduces it.
    """
    spark = df.sparkSession
    toks = (
        df.select(F.col(id_col), F.size(tokens(text_col)).alias("n_tokens"))
        .localCheckpoint(eager=False)
    )
    n_rows = toks.count()  # materializes the checkpoint
    if n_rows <= small_corpus_rows:
        keyed = toks.repartition(1).withColumn("__pid", F.spark_partition_id())
        offset_expr = F.lit(0).cast("bigint")
    else:
        n_parts = max(1, spark.sparkContext.defaultParallelism)
        parted = toks.repartitionByRange(
            n_parts, F.col(id_col)
        ).localCheckpoint(eager=False)
        keyed = parted.withColumn("__pid", F.spark_partition_id())
        counts = sorted(
            (r["__pid"], r["t"])
            for r in keyed.groupBy("__pid")
            .agg(F.sum("n_tokens").alias("t"))
            .collect()
        )
        offsets, running = {}, 0
        for pid, t in counts:
            offsets[pid] = running
            running += int(t)
        offset_expr = F.element_at(
            F.create_map(
                *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
            ),
            F.col("__pid"),
        ).cast("bigint")
    w = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.sum("n_tokens").over(w) + offset_expr).alias("cum")
    spans = keyed.select(id_col, "n_tokens", cum)
    start_bin = F.floor((F.col("cum") - F.col("n_tokens")) / capacity)
    end_bin = F.floor((F.col("cum") - 1) / capacity)
    return spans.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        start_bin.cast("bigint").alias("start_bin"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(end_bin - start_bin + 1)
        .cast("int")
        .alias("n_bins_spanned"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 200,
    stride: int = 150,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping fixed-size character chunks —
    the RAG / context-window preparation step (1→N row expansion).

    Pure codegen: one ``explode(sequence(...))`` per row generates the
    chunk offsets (``ceil(len/stride)`` chunks, consecutive chunks
    overlapping by ``chunk_chars − stride``), and each chunk emits its
    offset, length, and sha256 — the chunk table a downstream indexer
    ingests, without duplicating the corpus text through the shuffle.
    Narrow (no shuffle); output size is corpus × (1/stride) rows.
    """
    n = F.length(F.col(text_col))
    idx = F.explode(
        F.sequence(F.lit(0), F.floor((n - 1) / F.lit(stride)))
    ).alias("chunk_idx")
    start = F.col("chunk_idx") * stride
    piece = F.substring(F.col(text_col), start + 1, chunk_chars)
    return (
        df.filter(n > 0)
        .select(F.col(id_col), F.col(text_col), idx)
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            start.cast("bigint").alias("chunk_start"),
            F.length(piece).cast("bigint").alias("chunk_len"),
            F.sha2(piece, 256).alias("chunk_sha"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 6,
) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document (keyword extraction /
    sparse-retrieval feature build).

    Same tokenization as ``word_vocab`` (lowercase, non-letter split).
    Three map-side-combinable aggregations and one vocab-keyed join:
    term counts per (doc, word), document frequency per word (off the
    already-aggregated tf — one row per distinct (doc, word), never a
    corpus re-scan), and the corpus document count as a 1-row
    broadcast scalar (the q11/pagerank in-plan-scalar pattern, no
    driver round trip). The tf ⋈ df join keys on word — vocab-sized
    build side, AQE picks broadcast vs shuffle by its actual size.
    Scores use the smoothed idf ``ln((N+1)/(df+1)) + 1`` and round to
    ``decimals`` BEFORE ranking (ties → word asc), so the per-doc
    top-k is stable across engines and summation orders. The rank
    window partitions by doc — no global sort anywhere.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != "")
        ).alias("word"),
    )
    # tf feeds BOTH the df aggregation and the scoring join; without a
    # pin the tokenize+aggregate subtree plans twice (no ReusedExchange
    # across the differing projections). One eager localCheckpoint
    # materializes the aggregated (doc, word, tf) relation once — the
    # same single-derivation pattern as the q2/q11 partsupp pin.
    tf = (
        words.groupBy(id_col, "word")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "word",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                decimals,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


# PII patterns kept to syntax both Java regex (Spark) and RE2 (DuckDB
# et al.) evaluate identically — no lookaround, no backreferences.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing pass: mask emails then phone-shaped digit runs.

    The standard pre-training redaction step. Two ``regexp_replace``
    projections in one codegen pass — emails first so digits inside an
    address can't double-match as a phone; counts are taken on the
    original text so they report what was masked.
    """
    text = F.col(text_col)
    no_email = F.regexp_replace(text, EMAIL_PATTERN, "[EMAIL]")
    scrubbed = F.regexp_replace(no_email, PHONE_PATTERN, "[PHONE]")
    return df.select(
        id_col,
        scrubbed.alias("scrubbed"),
        F.regexp_count(text, F.lit(EMAIL_PATTERN)).cast("bigint").alias("n_emails"),
        F.regexp_count(no_email, F.lit(PHONE_PATTERN))
        .cast("bigint")
        .alias("n_phones"),
    )


def repetition_stats(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition ratio over word n-grams.

    rep_ratio = 1 − distinct/total shingles — the Gopher-style
    duplicated-n-gram fraction used to drop boilerplate/spam.
    Documents shorter than ``n`` tokens are excluded (no shingles to
    measure). Shingles are hashed ids (``dedup.hashed_gram_ids``) —
    the ratio is exact up to a ~2⁻⁶⁴·k² per-doc collision chance.

    Shape: explode + one map-side-combinable aggregate. The gram array
    evaluates exactly once per document — keeping it as an array column
    would let CollapseProject inline the (interpreted, expensive)
    transform into every consumer expression and evaluate it 3×.
    """
    from .dedup import hashed_gram_ids, token_hashes  # local: dedup imports text

    tokenized = df.select(
        F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__th")
    )
    exploded = tokenized.select(
        "doc_id",
        F.explode(hashed_gram_ids(F.col("__th"), n, distinct=False)).alias("__h"),
    )
    total = F.count("__h").cast("bigint")
    distinct = F.count_distinct("__h").cast("bigint")
    return exploded.groupBy("doc_id").agg(
        total.alias("n_shingles"),
        distinct.alias("n_distinct"),
        (F.lit(1.0) - distinct.cast("double") / total.cast("double")).alias(
            "rep_ratio"
        ),
    )


def contamination_flags(
    train: DataFrame,
    bench: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    ``n``-gram with the benchmark set, with the count of distinct
    overlapping shingles per doc.

    The standard eval-leakage sweep before pretraining. Inverted-index
    shape: both sides reduce to (id, shingle-id) via the shared hashed
    shingle path, the benchmark side dedupes to a distinct shingle set,
    and one equi-join (semi on the benchmark side) scores overlaps —
    cost tracks shared-shingle density, never |train|×|bench|.
    """
    from .dedup import hashed_gram_ids, token_hashes

    tr = train.select(
        F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__th")
    ).select("doc_id", F.explode(hashed_gram_ids(F.col("__th"), n)).alias("__g"))
    be = (
        bench.select(token_hashes(text_col).alias("__th"))
        .select(F.explode(hashed_gram_ids(F.col("__th"), n)).alias("__g"))
        .distinct()
    )
    return (
        tr.join(be, "__g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_contaminated"))
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram negative log-likelihood under the
    corpus's own MLE word distribution — the cheap "perplexity-ish"
    quality signal (fluent text scores low, gibberish/rare-token spam
    scores high).

    Two aggregates: corpus word counts (map-side combinable,
    vocab-sized shuffle), then a token→frequency equi-join and a
    per-doc mean. The frequency table is vocab-sized — broadcastable
    for natural-language vocabularies; AQE falls back to a shuffle
    join if a pathological corpus exceeds the threshold.
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != "")
        ).alias("word"),
    )
    totals = words.groupBy("word").agg(F.count("*").alias("__n"))
    corpus_n = totals.agg(F.sum("__n").alias("__total"))
    scored = (
        words.join(totals, "word")
        .join(F.broadcast(corpus_n))
        .select(
            "doc_id",
            (-F.log(F.col("__n").cast("double") / F.col("__total"))).alias("__nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("__nll"), 6).alias("mean_nll"),
        F.count("*").cast("bigint").alias("n_words"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Per-document mean NLL under an interpolated bigram LM trained on
    the corpus itself — one modeling order above ``unigram_logprob``'s
    perplexity proxy (catches scrambled-word-salad that unigram
    frequencies can't).

    p(w2|w1) = λ·c(w1w2)/c(w1) + (1−λ)·c(w2)/N  (MLE bigram with
    unigram interpolation — never zero, so no smoothing epsilon).
    Docs with < 2 tokens have no bigrams and drop out. The expression
    is written with the literal shapes ``λ`` and ``(1.0 − λ)`` so an
    oracle reproduces the identical doubles.

    Plan: bigram + unigram count aggregations (map-side combinable,
    vocab²-/vocab-sized shuffles), broadcast frequency tables onto the
    per-doc bigram instances, one per-doc mean. Same 100 TB shape as
    ``unigram_logprob``; AQE falls back to shuffle joins if a
    pathological vocab exceeds the broadcast threshold.
    """
    t = tokens(text_col)
    m = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(t, 1, m).alias("w1"), F.slice(t, 2, m).alias("w2")
    )
    big = df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("p")
    ).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = df.select(F.explode(t).alias("w"))
    # vocab-sized aggregates feed multiple consumers (total + two
    # broadcasts) — materialize once (§4 multi-branch rule); the
    # corpus-sized ``big`` deliberately re-derives from the pruned
    # scan instead (a corpus-sized checkpoint costs more than the
    # second narrow explode)
    ucnt = (
        uni.groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    total = ucnt.agg(F.sum("c").cast("double").alias("__n"))
    bcnt = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)
    )
    p = (
        F.lit(lam) * (F.col("c12").cast("double") / F.col("__c1").cast("double"))
        + (F.lit(1.0) - F.lit(lam))
        * (F.col("__c2").cast("double") / F.col("__n"))
    )
    scored = (
        big.join(F.broadcast(bcnt), ["w1", "w2"])
        .join(
            F.broadcast(
                ucnt.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                ucnt.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
            ),
            "w2",
        )
        .join(F.broadcast(total))
        .select("doc_id", (-F.log(p)).alias("__nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("__nll"), 6).alias("mean_nll"),
        F.count("*").cast("bigint").alias("n_bigrams"),
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Top-``top_k`` PMI-scored bigram collocations over the corpus
    (phrase mining / tokenizer-merge candidates).

    PMI(w1,w2) = ln( p(w1 w2) / (p(w1)·p(w2)) ) with unigram and
    bigram MLE probabilities, computed as the SUM-OF-LOGS
    ``ln n + 2·ln N1 − ln N2 − ln c1 − ln c2`` — never the ratio of
    integer products, whose ``N1²`` factor overflows int64 on a
    100 TB corpus. Both count aggregations are map-side combinable
    (vocab-/vocab²-sized shuffles); the frequency tables broadcast;
    and like ``word_vocab`` the rank window runs only on the already-
    limited top-k rows, so no corpus-sized single-partition stage
    exists. ``min_count`` is the standard low-frequency PMI guard
    (rare pairs otherwise dominate with noise-inflated scores).
    """
    t = tokens(text_col)
    m = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(t, 1, m).alias("w1"), F.slice(t, 2, m).alias("w2")
    )
    big = df.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = df.select(F.explode(t).alias("w"))
    # ucnt feeds the corpus total AND two broadcast frequency tables;
    # bcnt feeds its total AND the scored join — materialize the
    # vocab-/vocab²-sized aggregates once (§4 multi-branch rule: was
    # 5 corpus scans, now 2 — the two distinct explodes)
    ucnt = (
        uni.groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    n1 = ucnt.agg(F.sum("c").cast("double").alias("__n1"))
    bcnt = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    n2 = bcnt.agg(F.sum("n").cast("double").alias("__n2"))
    scored = (
        bcnt.filter(F.col("n") >= min_count)
        .join(
            F.broadcast(
                ucnt.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                ucnt.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
            ),
            "w2",
        )
        .join(F.broadcast(n1))
        .join(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.log(F.col("n").cast("double"))
                + F.lit(2.0) * F.log("__n1")
                - F.log("__n2")
                - F.log(F.col("__c1").cast("double"))
                - F.log(F.col("__c2").cast("double")),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(top_k)
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy in bits (the
    classic gibberish/compression-quality filter signal: natural text
    sits ~4 bits, repeated-char spam near 0, random bytes high).

    Engine-portable determinism: each term p·ln p rounds to 12
    decimals and sums as exact DECIMAL (the ``plans.numeric``
    convention — a float sum would be partition-order-dependent), then
    converts to bits with one double division by ln 2. Shuffle cost is
    one (doc, char) count aggregation — map-side combinable, ≤ alphabet
    size per doc — and the per-doc total reuses the same partitioning
    via a window, no second shuffle.
    """
    import math

    chars = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), ""), lambda x: x != "")
        ).alias("ch"),
    )
    cnt = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    wdoc = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.col("__n").cast("double")
    term = F.round(p * F.log(p), 12).cast("decimal(28,12)")
    return (
        cnt.withColumn("__n", F.sum("c").over(wdoc))
        .groupBy("doc_id")
        .agg(
            F.max("__n").cast("bigint").alias("n_chars"),
            F.count("*").cast("int").alias("n_distinct"),
            F.round(
                (-F.sum(term)).cast("double") / F.lit(math.log(2.0)), 6
            ).alias("entropy_bits"),
        )
    )


FP_MOD = 1_000_000_007


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    n_features: int = 1024,
) -> DataFrame:
    """Feature-hashing (hashing-trick) BIGRAM counts per document —
    the fastText/Vowpal-style sparse featurizer a training pipeline
    runs before a linear quality/language classifier (r12).

    Each whitespace bigram maps to ``portable_hash(gram) mod
    n_features`` — the md5-hex-slice hash (``conv(substring(md5(g), 1,
    8), 16, 10)``), bit-identical in ANSI SQL, so the whole
    featurization is value-oracled.

    The output is the sparse COO form ``(doc_id, feature, n)``:
    per-doc rows ≤ min(n_bigrams, n_features), the groupBy is
    map-side combinable, and everything is whole-stage codegen — no
    Python, no vocabulary state (the trick's whole point: no vocab
    build pass, collisions traded for a fixed feature space).
    """
    toks = tokens(text_col)
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                "_", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select("doc_id", F.explode(grams).alias("g"))
    feature = F.pmod(
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_features),
    )
    return (
        exploded.select("doc_id", feature.alias("feature"))
        .groupBy("doc_id", "feature")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Position-weighted token fingerprint (rolling-hash style).

    fp(doc) = Σ_i (len(tok_i)·131 + ascii(tok_i[0])) · i  mod 1e9+7 —
    engine-agnostic integer arithmetic (the same formula is expressible
    in ANSI SQL), robust to column/row order, computed with
    posexplode + sum: one narrow generate + one key-wise aggregation.
    """
    toks = tokens(text_col)
    exploded = df.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    contrib = (
        (F.length("tok").cast("bigint") * 131 + F.ascii("tok").cast("bigint"))
        * (F.col("pos") + 1).cast("bigint")
    )
    return (
        exploded.groupBy("doc_id")
        .agg((F.sum(contrib) % FP_MOD).cast("bigint").alias("fingerprint"))
    )


# Content-defined chunking (CDC): boundaries are a pure LOCAL property
# of the text — position i ends a chunk when the rolling hash of the
# CDC_WINDOW chars ending at i lands on 0 mod the divisor — so an
# insertion near the front shifts every fixed-size chunk but CDC
# boundaries re-synchronize at the next hash hit. That shift-robustness
# is why dedup storage systems (LBFS, Venti, restic/borg) and
# training-corpus pipelines chunk this way. Gear/FastCDC swap in a
# cheaper rolling hash; the plan shape is identical.
CDC_WINDOW = 8
CDC_BASE = 257
CDC_MOD = 1 << 25  # max term 121·2²⁵ ≈ 2³², 8-term sum ≈ 2³⁵ — int64-safe
CDC_POWS = tuple(pow(CDC_BASE, j, CDC_MOD) for j in range(CDC_WINDOW))


def _cdc_hash(codes: Column, i: Column) -> Column:
    """Polynomial hash of the CDC_WINDOW codepoints ending at 1-based
    position ``i``: (Σⱼ code[i−W+1+j] · BASEʲ mod M) mod M. An inlined
    8-term sum (constant-size codegen), identical in ANSI SQL."""
    total = F.lit(0).cast("long")
    for j, p in enumerate(CDC_POWS):
        total = total + F.element_at(
            codes, (i - CDC_WINDOW + 1 + j).cast("int")
        ) * F.lit(p)
    return total % CDC_MOD


def cdc_chunks(
    df: DataFrame,
    divisor: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunk table: (doc_id, chunk_idx, chunk_start
    0-based, chunk_len, chunk_sha). Expected chunk length ≈ divisor
    chars; documents shorter than the hash window are one whole-doc
    chunk; empty documents emit nothing.

    One shuffle-free narrow pass: per doc, the codepoint array is
    built once, boundary positions fall out of a filter over candidate
    positions, and the chunk structs (offsets + sha256) are assembled
    doc-side so only the small chunk array replicates through the
    ``posexplode`` — the corpus text never fans out 1-per-chunk. At
    100 TB this is embarrassingly parallel; downstream consumers join
    or aggregate on ``chunk_sha``.
    """
    from .dedup import _spread

    n = F.col("__n")
    codes = F.col("__codes")
    src = _spread(df.filter(F.length(text_col) > 0)).select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.length(text_col).cast("long").alias("__n"),
        F.transform(
            F.split(F.col(text_col), ""), lambda c: F.ascii(c).cast("long")
        ).alias("__codes"),
    )
    bounds = F.filter(
        F.when(
            n >= CDC_WINDOW,
            F.sequence(F.lit(CDC_WINDOW).cast("long"), n),
        ).otherwise(F.array().cast("array<long>")),
        lambda i: _cdc_hash(codes, i) % divisor == 0,
    )
    ends = F.array_sort(F.array_distinct(F.concat(bounds, F.array(n))))
    # Generate barrier before the chunk transform indexes into the
    # boundary array: element_at over a derived array re-evaluates the
    # whole upstream expression per element (SURVEY §4, measured on
    # mm_video_dedup) — here that would re-run the full boundary-hash
    # filter once per chunk.
    staged = src.select(
        F.col(id_col),
        F.col("__t"),
        F.explode(F.array(F.struct(ends.alias("ends")))).alias("__e"),
    )
    materialized = F.col("__e.ends")
    chunks = F.transform(
        materialized,
        lambda e, k: F.struct(
            k.cast("int").alias("idx"),
            F.when(k == 0, F.lit(0).cast("long"))
            .otherwise(F.element_at(materialized, k.cast("int")))
            .alias("start"),
            e.alias("end"),
        ),
    )
    doc_chunks = staged.select(id_col, "__t", F.explode(chunks).alias("__c"))
    start, end = F.col("__c.start"), F.col("__c.end")
    piece = F.expr("substring(__t, CAST(__c.start AS INT) + 1, CAST(__c.end - __c.start AS INT))")
    return doc_chunks.select(
        id_col,
        F.col("__c.idx").alias("chunk_idx"),
        start.alias("chunk_start"),
        (end - start).alias("chunk_len"),
        F.sha2(piece, 256).alias("chunk_sha"),
    )


def cdc_chunk_pairs(
    df: DataFrame,
    min_containment: float = 0.4,
    divisor: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chunk_freq: int | None = 500,
) -> DataFrame:
    """Document pairs sharing CDC chunks: (doc_a, doc_b, n_shared,
    containment) with containment = |shared| / min(|A|, |B|) ≥ the
    threshold — chunk-level dedup that survives prefix insertions and
    edits, which fixed-offset chunk comparison cannot.

    Inverted-index plan (``dedup._overlap_counts``): distinct (doc,
    chunk_sha) → per-sha frequency cap (boilerplate chunks shared by
    everyone would create c² join rows) → self-join on sha → per-pair
    counts.
    """
    from .dedup import _overlap_counts  # local: dedup imports text

    tab = (
        cdc_chunks(df, divisor=divisor, text_col=text_col, id_col=id_col)
        .select(F.col(id_col).alias("doc_id"), "chunk_sha")
        .distinct()
        .localCheckpoint(eager=False)
    )
    containment = F.round(
        F.col("n_common") / F.least("n_a", "n_b").cast("double"), 6
    )
    return (
        _overlap_counts(tab, "chunk_sha", max_chunk_freq)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").alias("n_shared"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
    )


def cdc_excise(
    df: DataFrame,
    divisor: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level dedup excision: every CDC chunk whose content
    (sha256) already occurred EARLIER in the corpus — ordered by
    (doc_id, chunk_start), the deterministic twin of
    ``dedup.excise_shared_spans``'s first-occurrence rule — is removed,
    and each affected document is re-assembled from its kept chunks.
    Emits only affected docs: (doc_id, n_removed, new_len, new_sha),
    patch-sized output; a fully-duplicated doc empties out
    (new_sha = sha256('')) rather than disappearing.

    Plan: chunk table (one narrow pass) → first-occurrence rank, a
    window partitioned BY CHUNK SHA (corpus-wide cardinality, tiny
    partitions — hot shas are exactly the duplicates being excised,
    bounded per sha by the corpus's true duplication) → per-doc ordered
    re-assembly via sort_array(collect_list(struct(start, piece)))
    (the deterministic ordered-agg pattern of ``ind_series_export``;
    kept text moves through the shuffle once, bounded by doc length).
    """
    from pyspark.sql import Window

    chunks = cdc_chunks(df, divisor=divisor, text_col=text_col, id_col=id_col)
    docs = df.select(F.col(id_col), F.col(text_col).alias("__t"))
    w = Window.partitionBy("chunk_sha").orderBy(id_col, "chunk_start")
    ranked = chunks.withColumn("__rk", F.row_number().over(w))
    flagged = ranked.join(docs, id_col).select(
        id_col,
        "chunk_start",
        (F.col("__rk") > 1).alias("__removed"),
        F.expr(
            "substring(__t, CAST(chunk_start AS INT) + 1,"
            " CAST(chunk_len AS INT))"
        ).alias("__piece"),
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.sum(F.col("__removed").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__removed"),
                            F.struct(
                                F.col("chunk_start").alias("s"),
                                F.col("__piece").alias("p"),
                            ),
                        )
                    )
                ),
                lambda x: x["p"],
            ),
            "",
        ).alias("__new"),
    )
    return rebuilt.filter(F.col("n_removed") > 0).select(
        id_col,
        F.col("n_removed").cast("bigint").alias("n_removed"),
        F.length("__new").cast("bigint").alias("new_len"),
        F.sha2(F.col("__new"), 256).alias("new_sha"),
    )


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary-health scalars: type count, token count,
    hapax-legomenon count and ratio, type-token ratio — the standard
    "is this corpus diverse or boilerplate" diagnostic before
    tokenizer training (a high hapax share means a long vocabulary
    tail; a collapsing TTR means duplication).

    Same tokenization as ``word_vocab`` (lowercase, non-letter split).
    Two combinable aggregation levels — word counts (vocab-sized
    shuffle, map-side combined), then a single global fold — and all
    counts are exact integers; the two ratios are composed once at the
    output (plans.numeric convention).
    """
    words = F.explode(
        F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != "")
    ).alias("word")
    counts = df.select(words).groupBy("word").agg(F.count("*").alias("n"))
    return counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    ).select(
        "n_types",
        "n_tokens",
        "n_hapax",
        F.round(
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
            6,
        ).alias("hapax_ratio"),
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
    )
