"""Training-data pipeline queries (SURVEY §2.C): dedup family, text
analysis, similarity search, multimodal plumbing — over the
``documents`` and ``embeddings`` tables.

Oracle notes: token/shingle semantics are defined identically in both
engines (split on single space, drop empties). MinHash and SimHash run
on the engine-portable md5 double-hash family (operators/dedup.py
``*_portable``) so they carry FULL value oracles next to the exact
counterparts (sha2 exact dedup, n-gram Jaccard); only the
embedding-space ANN approximations and the rolling-hash fingerprint
remain rows-only (xxhash64 stays in the streaming dedup path, where
speed matters and a batch-equivalence pytest covers it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, sampling, similarity, text
from ..sources import parquet_row_count, read_table
from .registry import query

TOKS_SQL = (
    "SELECT doc_id, text, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents"
)


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (hash-groupBy, min-id survivor)."""
    return dedup.exact_dedup(read_table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS ({TOKS_SQL}),
    doc_shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]) AS shingle
            FROM toks WHERE len(t) >= 3
        )
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM doc_shingles a
        JOIN doc_shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM doc_shingles GROUP BY 1)
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard via shingle inverted index.

    ``max_shingle_freq=None``: the skew cap (library default ON) is
    disabled here because the oracle computes *exact* Jaccard. The REGISTERED demo runs the uncapped exact-oracle mode; production deployments keep the library's freq-cap default — do not benchmark the uncapped mode at scale."""
    return dedup.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.2, max_shingle_freq=None
    )


# Engine-portable hash streams (operators/dedup.py _portable_h1_h2):
# md5 hex slices cast through 0x-prefixed BIGINTs — bit-identical to
# Spark's conv(substring(md5(s), …), 16, 10).
_PORTABLE_HASHES_SQL = f"""
    toks AS ({TOKS_SQL}),
    doc_shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]) AS shingle
            FROM toks WHERE len(t) >= 3
        )
    ),
    hashes AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h1,
               CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT) AS h2
        FROM doc_shingles
    )
"""

_MH_MINS = ", ".join(
    f"MIN((h1 + {p} * h2) % 2147483647) AS m{p}" for p in range(64)
)
_MH_BANDS = "\n    UNION ALL\n    ".join(
    "SELECT doc_id, {b} AS band_idx, concat({key}) AS band_key FROM sigs".format(
        b=b,
        key=", ',', ".join(f"m{4 * b + k}" for k in range(4)),
    )
    for b in range(16)
)
_MH_MATCHES = " + ".join(f"CAST(sa.m{p} = sb.m{p} AS INT)" for p in range(64))


@query(
    "dedup_minhash",
    oracle=f"""
    WITH {_PORTABLE_HASHES_SQL},
    sigs AS (
        SELECT doc_id, {_MH_MINS}
        FROM hashes GROUP BY doc_id
    ),
    bands AS (
    {_MH_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, est_jaccard FROM (
        SELECT doc_a, doc_b, ({_MH_MATCHES}) / 64.0 AS est_jaccard
        FROM cand
        JOIN sigs sa ON doc_a = sa.doc_id
        JOIN sigs sb ON doc_b = sb.doc_id
    ) WHERE est_jaccard >= 0.4
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs (banded bucket join).

    Value-oracled (VERDICT r5 stretch): the signature family is the
    engine-portable md5 double hash, so DuckDB reproduces signatures,
    band buckets, candidate set, and estimated Jaccard exactly.
    ``max_band_bucket=None``: exhaustive candidates match the
    uncapped oracle; the library default caps hot buckets."""
    return dedup.minhash_lsh_pairs_portable(
        read_table(spark, sf_dir, "documents"), threshold=0.4, max_band_bucket=None
    )


# Shared recursive-CTE prefix: exact-Jaccard pair graph → transitive
# closure (near-dup clusters labeled by component-minimum doc id).
# Used by the dedup_clusters oracle and the dedup_survivors oracle.
_CLUSTERS_CTE_SQL = f"""
    WITH RECURSIVE toks AS ({TOKS_SQL}),
    doc_shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]) AS shingle
            FROM toks WHERE len(t) >= 3
        )
    ),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM doc_shingles a
        JOIN doc_shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM doc_shingles GROUP BY 1),
    pairs AS (
        SELECT doc_a, doc_b FROM co
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    clusters AS (
        SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
    )
"""


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_CTE_SQL + "SELECT doc_id, cluster_id FROM clusters",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: transitive closure of the exact-Jaccard
    pair relation, labeled by component-minimum doc id.

    The Spark side is iterative min-label propagation
    (``operators.dedup.connected_components``); the oracle computes the
    same closure with a recursive CTE — a genuinely iterative operator
    still held to a full value-level oracle because the pair input
    (exact Jaccard, not hashes) is engine-deterministic.
    """
    pairs = dedup.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.2, max_shingle_freq=None
    )
    return dedup.connected_components(pairs)


@query(
    "dedup_survivors",
    oracle=_CLUSTERS_CTE_SQL
    + """
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: keep exactly one representative (the
    minimum doc id) per near-duplicate cluster, plus every doc with no
    near-dup at all — the operator a training-data pipeline actually
    runs after pair generation and clustering.

    Plan shape: pairs (bucketed inverted index) → components (runtime
    driver/distributed pick) → one LEFT ANTI join of the corpus
    against the non-representative members. The anti-join's right side
    is cluster-membership rows minus one per cluster — orders of
    magnitude smaller than the corpus, so at 100 TB it broadcasts.
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.2, max_shingle_freq=None)
    clusters = dedup.connected_components(pairs)
    dropped = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    return docs.join(F.broadcast(dropped), "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


@query(
    "text_scrub_pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
               '\+?[0-9][0-9()\- ]{7,}[0-9]', '[PHONE]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
               '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones
    FROM documents
    """,
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: emails/phone-shaped runs masked, counts kept."""
    return text.scrub_pii(read_table(spark, sf_dir, "documents"))


@query(
    "text_repetition",
    oracle=f"""
    WITH toks AS ({TOKS_SQL}),
    sh AS (
        SELECT doc_id,
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                FOR i IN range(1, len(t) - 1)] AS shingles
        FROM toks WHERE len(t) >= 3
    )
    SELECT doc_id,
           CAST(len(shingles) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE) / len(shingles)
               AS rep_ratio
    FROM sh
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document n-gram repetition ratio (boilerplate signal)."""
    return text.repetition_stats(read_table(spark, sf_dir, "documents"))


@query(
    "text_decontaminate",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                       || t[i+3] || ' ' || t[i+4]
                       FOR i IN range(1, len(t) - 3)]) AS shingle
        FROM toks WHERE len(t) >= 5
    ),
    bench_g AS (SELECT DISTINCT shingle FROM grams WHERE source = 'src0'),
    train_g AS (
        SELECT DISTINCT doc_id, shingle FROM grams WHERE source <> 'src0'
    )
    SELECT doc_id, COUNT(*) AS n_contaminated
    FROM train_g JOIN bench_g USING (shingle)
    GROUP BY doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage sweep: training docs (source ≠ src0) sharing any
    5-gram with the benchmark set (source = src0), scored by distinct
    overlapping shingles. Inverted-index semi-join — never an
    all-pairs document product."""
    docs = read_table(spark, sf_dir, "documents")
    return text.contamination_flags(
        train=docs.filter(F.col("source") != "src0"),
        bench=docs.filter(F.col("source") == "src0"),
        n=5,
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        FROM documents
    ),
    totals AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    corpus AS (SELECT SUM(n) AS total FROM totals)
    SELECT doc_id,
           round(AVG(-ln(CAST(n AS DOUBLE) / total)), 6) AS mean_nll,
           COUNT(*) AS n_words
    FROM words JOIN totals USING (word), corpus
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-MLE unigram NLL per document (perplexity-proxy quality)."""
    return text.unigram_logprob(read_table(spark, sf_dir, "documents"))


@query(
    "text_bigram_logprob",
    # Interpolated bigram LM: identical literal shapes on both engines
    # (CAST(0.7 AS DOUBLE), (1.0 − 0.7) — NOT the literal 0.3, a
    # different double) so every p(w2|w1) is bit-identical.
    oracle=f"""
    WITH toks AS ({TOKS_SQL}),
    uni AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM ucnt),
    big AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])
                   AS bg
        FROM toks WHERE len(t) >= 2
    ),
    inst AS (
        SELECT doc_id, split_part(bg, ' ', 1) AS w1,
               split_part(bg, ' ', 2) AS w2
        FROM big
    ),
    bcnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM inst GROUP BY w1, w2),
    scored AS (
        SELECT inst.doc_id,
               -ln(CAST(0.7 AS DOUBLE)
                   * (CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE))
                   + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                   * (CAST(u2.c AS DOUBLE) / tot.n)) AS nll
        FROM inst
        JOIN bcnt b ON b.w1 = inst.w1 AND b.w2 = inst.w2
        JOIN ucnt u1 ON u1.w = inst.w1
        JOIN ucnt u2 ON u2.w = inst.w2, tot
    )
    SELECT doc_id, round(AVG(nll), 6) AS mean_nll,
           COUNT(*) AS n_bigrams
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM NLL per document (order-2 quality)."""
    return text.bigram_logprob(read_table(spark, sf_dir, "documents"))


@query(
    "sample_temperature",
    # T = 2 rates reduce to sqrt(c_min/c_g) — correctly rounded IEEE
    # sqrt over an exact integer-count ratio, engine-identical.
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS mn FROM c),
    r AS (
        SELECT lang, sqrt(CAST(mn AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
        FROM c, m
    )
    SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
    FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
    WHERE CAST(concat('0x', substr(md5(concat('temp',
              CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
          / 4294967296.0 < r.rate
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=2 temperature rebalancing of the language mix (mT5-style:
    rare languages keep everything, dominant ones downsample)."""
    kept = sampling.temperature_sample(
        read_table(spark, sf_dir, "documents"),
        group_col="lang",
        key_col="doc_id",
        temperature=2.0,
    )
    return kept.select("doc_id", "lang", "rate")


@query(
    "text_pmi_bigrams",
    # Sum-of-logs PMI: the identical left-associated expression on both
    # engines (ln n + 2·ln N1 − ln N2 − ln c1 − ln c2) — the integer-
    # product form would overflow int64 at corpus scale.
    oracle=f"""
    WITH toks AS ({TOKS_SQL}),
    uni AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    n1 AS (SELECT CAST(SUM(c) AS DOUBLE) AS n1 FROM ucnt),
    big AS (
        SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])
            AS bg
        FROM toks WHERE len(t) >= 2
    ),
    bcnt AS (
        SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
               COUNT(*) AS n
        FROM big GROUP BY 1, 2
    ),
    n2 AS (SELECT CAST(SUM(n) AS DOUBLE) AS n2 FROM bcnt),
    scored AS (
        SELECT w1, w2, CAST(n AS BIGINT) AS n,
               round(ln(CAST(n AS DOUBLE)) + 2.0 * ln(n1.n1) - ln(n2.n2)
                     - ln(CAST(u1.c AS DOUBLE)) - ln(CAST(u2.c AS DOUBLE)),
                     6) AS pmi
        FROM bcnt
        JOIN ucnt u1 ON u1.w = bcnt.w1
        JOIN ucnt u2 ON u2.w = bcnt.w2, n1, n2
        WHERE n >= 5
    )
    SELECT w1, w2, n, pmi, CAST(ROW_NUMBER() OVER (
        ORDER BY pmi DESC, w1, w2) AS INTEGER) AS rank
    FROM scored QUALIFY rank <= 100
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI bigram collocations (phrase-mining pass)."""
    return text.pmi_bigrams(read_table(spark, sf_dir, "documents"))


@query(
    "text_entropy",
    # p·ln p terms round to 12dp and sum as exact DECIMAL on both
    # engines, so the per-doc entropy is partition-order-independent.
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest(list_filter(
            string_split(text, ''), x -> x <> '')) AS ch
        FROM documents
    ),
    cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
    tot AS (
        SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM cnt
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS INTEGER) AS n_distinct,
           round(CAST(-SUM(CAST(round(
                     (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                 AS DECIMAL(28,12))) AS DOUBLE) / ln(2.0), 6)
               AS entropy_bits
    FROM tot GROUP BY doc_id
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character Shannon entropy in bits (gibberish filter)."""
    return text.char_entropy(read_table(spark, sf_dir, "documents"))


# 128-bit simhash: four 32-bit md5 streams (operators/dedup.py
# SIMHASH_BITS), 8 bands × 16-bit keys.
_SH_HASHES_SQL = f"""
    toks AS ({TOKS_SQL}),
    doc_shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]) AS shingle
            FROM toks WHERE len(t) >= 3
        )
    ),
    hashes AS (
        SELECT doc_id,
               {", ".join(
                   f"CAST(concat('0x', substr(md5(shingle), {8 * m + 1}, 8)) AS BIGINT) AS h{m}"
                   for m in range(4)
               )}
        FROM doc_shingles
    )
"""
_SH_SUMS = ", ".join(
    f"SUM(((h{j // 32} >> {j % 32}) % 2) * 2 - 1) AS s{j}"
    for j in range(128)
)
_SH_WORDS = ", ".join(
    " + ".join(
        f"CAST(s{32 * m + k} >= 0 AS BIGINT) * {1 << k}" for k in range(32)
    )
    + f" AS w{m}"
    for m in range(4)
)
_SH_BANDS = "\n    UNION ALL\n    ".join(
    f"SELECT doc_id, {b} AS band_idx, "
    f"((w{(b * 16) // 32} >> {(b * 16) % 32}) & 65535) AS band_key "
    "FROM words"
    for b in range(8)
)
_SH_HAMMING = " + ".join(
    f"bit_count(xor(sa.w{m}, sb.w{m}))" for m in range(4)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SH_HASHES_SQL},
    bitsums AS (
        SELECT doc_id, {_SH_SUMS}
        FROM hashes GROUP BY doc_id
    ),
    words AS (
        SELECT doc_id, {_SH_WORDS} FROM bitsums
    ),
    bands AS (
    {_SH_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
               CAST({_SH_HAMMING} AS BIGINT) AS hamming
        FROM cand
        JOIN words sa ON doc_a = sa.doc_id
        JOIN words sb ON doc_b = sb.doc_id
    ) WHERE hamming <= 7
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (banded Hamming ≤ 7, guaranteed recall:
    8 bands > max_hamming, so every qualifying pair shares a band).

    Value-oracled (VERDICT r5 stretch): the sketch derives from the
    portable md5 bit streams, so DuckDB reproduces the sign bits, band
    buckets, and Hamming distances exactly. ``max_band_bucket=None``
    keeps the recall guarantee unconditional to match the uncapped
    oracle; the library default caps buckets."""
    return dedup.simhash_pairs_portable(
        read_table(spark, sf_dir, "documents"), max_hamming=7, max_band_bucket=None
    )


@query(
    "text_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS ws_tokens,
           CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS chars
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-style-regex token counts per document."""
    return text.token_stats(read_table(spark, sf_dir, "documents"))


@query(
    "text_quality",
    oracle=f"""
    WITH toks AS ({TOKS_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
               / length(text) AS alpha_ratio,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_filter(t, x -> list_contains(
               ['the','a','of','and','to','value','table','row'], x))) AS DOUBLE)
               / len(t) AS stopword_ratio,
           (CAST(length(text) AS DOUBLE) - len(t) + 1) / len(t) AS mean_word_len
    FROM toks
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-filter quality features (alpha/punct/stopword/word-len)."""
    return text.quality_scores(read_table(spark, sf_dir, "documents"))


@query(
    "text_langid",
    oracle=f"""
    WITH toks AS ({TOKS_SQL}),
    hits AS (
        SELECT doc_id,
            len(list_filter(t, x -> list_contains(['the','a','and','of','is'], x))) AS en,
            len(list_filter(t, x -> list_contains(['el','la','de','y','los'], x))) AS es,
            len(list_filter(t, x -> list_contains(['le','la','de','et','les'], x))) AS fr,
            len(list_filter(t, x -> list_contains(['der','die','das','und','von'], x))) AS de
        FROM toks
    )
    SELECT doc_id,
           CASE WHEN en + es + fr + de = 0 THEN 'und'
                WHEN en >= es AND en >= fr AND en >= de THEN 'en'
                WHEN es >= fr AND es >= de THEN 'es'
                WHEN fr >= de THEN 'fr'
                ELSE 'de' END AS pred_lang,
           CAST(en AS BIGINT) AS en_hits, CAST(es AS BIGINT) AS es_hits,
           CAST(fr AS BIGINT) AS fr_hits, CAST(de AS BIGINT) AS de_hits
    FROM hits
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic with deterministic tie-break."""
    return text.language_id(read_table(spark, sf_dir, "documents"))


@query(
    "text_fingerprint",
    oracle=f"""
    WITH toks AS ({TOKS_SQL}),
    exploded AS (
        SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS i
        FROM toks
    )
    SELECT doc_id,
           CAST(SUM((length(tok) * 131 + ascii(tok)) * i) % 1000000007 AS BIGINT)
               AS fingerprint
    FROM exploded GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling-hash document fingerprint."""
    return text.fingerprint(read_table(spark, sf_dir, "documents"))


@query(
    "sim_bruteforce_topk",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the query set vec_id < 10.

    Cosines round to 6dp *before* ranking so the ranking (and the
    oracle comparison) is stable under summation-order differences.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.4 — runtime-adaptive (r12):
    exact all-pairs below the quadratic crossover, recall-gated LSH
    banding above it; the corpus size comes from parquet footer
    metadata (free) since the input is the unfiltered table scan."""
    return similarity.embedding_cosine_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=0.4,
        n_rows=_emb_rows(sf_dir),
    )


def _emb_rows(sf_dir: str) -> int | None:
    n = parquet_row_count(sf_dir, "embeddings")
    return n if n >= 0 else None


@query(
    "dedup_embedding_cosine_banded",
    # Same exact-pairs oracle as dedup_embedding_cosine: the banded
    # generator's recall at this corpus/threshold is 1.0 by measured
    # construction (L=24, auto p=2 at n=500 → per-pair miss ≈ 5e-6
    # even AT the 0.40 boundary, deterministic formula planes), so the
    # scale path itself carries a FULL value oracle and driver stamps.
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding_cosine_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-gated LSH-banded pair generator run FIRST-CLASS (the
    path ``dedup_embedding_cosine`` routes to above the ~100k-row
    crossover, forced here at demo scale so the driver's correctness
    gate exercises the scale path itself, not only the exact twin).
    Candidates meet only inside hyperplane buckets; exact scoring
    keeps precision 1.0; recall at this corpus/threshold is 1.0
    (pytest-pinned identical to the exact path, SCALE.md
    §pair-crossover for the general recall curve)."""
    return similarity.banded_cosine_pairs(
        read_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_rows=_emb_rows(sf_dir),
    )


@query(
    "emb_cosine_clusters",
    # The scored-pairs CTE is dedup_embedding_cosine's replay; the
    # recursive closure is dedup_clusters' — the third face of one
    # clustering spec (text shingles / image phash / embedding cosine).
    oracle="""
    WITH RECURSIVE e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    prs AS (
        SELECT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        ) WHERE cos_sim >= 0.4
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM prs
        UNION ALL
        SELECT id_b, id_a FROM prs
    ),
    reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT ed.u, reach.r FROM edges ed JOIN reach ON ed.v = reach.u
    )
    SELECT u AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY u
    """,
)
def emb_cosine_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-duplicate CLUSTERS over the embedding-cosine pair
    graph — the third face of the clustering spec (text shingle pairs
    → dedup_clusters, image phash pairs → mm_phash_clusters, and now
    embedding cosine ≥ 0.4 → component-min canonical ids), the
    "semantic dedup" pass of a training-data pipeline.

    Composition of two independently-oracled operators:
    ``similarity.embedding_cosine_pairs`` (exact pairwise cosine at
    demo scale — the registered ANN stack is the scale path for the
    pair generation) and ``operators.dedup.connected_components``.
    The oracle replays the cosine pair CTE and the recursive closure
    verbatim.
    """
    pairs = similarity.embedding_cosine_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=0.4,
        n_rows=_emb_rows(sf_dir),
    )
    return dedup.connected_components(
        pairs, a_col="id_a", b_col="id_b"
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id")


@query(
    "sim_lsh_ann",
    # FULL value oracle (round-7 graduation): the hyperplane matrix is
    # formula-derived — component(t,p,j) = ((t·1000003 + p·10007 +
    # j·131)·2654435761 mod 10⁴)/10⁴ − 0.5, every intermediate <2⁶³ so
    # DuckDB's checked BIGINT arithmetic reproduces numpy's (never-
    # triggered) wrapping multiply exactly. Sign bits only flip if a
    # dot product sits within fp-summation error (~1e-15) of zero —
    # never observed on continuous embeddings — so the candidate SET
    # is engine-identical, and the exact re-rank rounds to 6dp like
    # sim_bruteforce_topk.
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    comp AS (
        SELECT t, p, j,
               (((t*1000003 + p*10007 + j*131) * 2654435761) % 10000)
                   / 10000.0 - 0.5 AS c
        FROM range(12) rt(t), range(4) rp(p),
             (SELECT unnest(range((SELECT max(len(v)) FROM e))) AS j)
    ),
    dots AS (
        SELECT e.vec_id, c.t, c.p, SUM(e.v[c.j + 1] * c.c) AS dot
        FROM e CROSS JOIN comp c GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT vec_id, t,
               SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END)
                   + (t * 16) AS bucket
        FROM dots GROUP BY vec_id, t
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buckets q JOIN buckets c USING (bucket)
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM cand JOIN e a ON a.vec_id = cand.query_id
                  JOIN e b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN top-5 (scale path; recall < 1)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.hyperplane_lsh_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "sim_lsh_ann_multiprobe",
    # sim_lsh_ann's oracle with the query-side multi-probe replayed:
    # each query ALSO probes, per table, the bucket reached by
    # flipping its least-confident sign bit (smallest |dot|, ties on
    # the lower plane index — ROW_NUMBER ORDER BY abs(dot), p). The
    # |dot| ordering is engine-stable for the same reason the sign
    # bits are (distinct planes' dots differ by ≫ fp-summation
    # error), so the candidate set — and therefore the exact re-rank —
    # is engine-identical.
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    comp AS (
        SELECT t, p, j,
               (((t*1000003 + p*10007 + j*131) * 2654435761) % 10000)
                   / 10000.0 - 0.5 AS c
        FROM range(12) rt(t), range(4) rp(p),
             (SELECT unnest(range((SELECT max(len(v)) FROM e))) AS j)
    ),
    dots AS (
        SELECT e.vec_id, c.t, c.p, SUM(e.v[c.j + 1] * c.c) AS dot
        FROM e CROSS JOIN comp c GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT vec_id, t,
               SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END)
                   + (t * 16) AS bucket
        FROM dots GROUP BY vec_id, t
    ),
    weakest AS (
        SELECT vec_id, t, p FROM (
            SELECT vec_id, t, p, ROW_NUMBER() OVER (
                PARTITION BY vec_id, t ORDER BY abs(dot), p
            ) AS r FROM dots WHERE vec_id < 10
        ) WHERE r = 1
    ),
    qprobe AS (
        SELECT vec_id, bucket FROM buckets WHERE vec_id < 10
        UNION
        SELECT b.vec_id, xor(b.bucket, 1 << w.p) AS bucket
        FROM buckets b JOIN weakest w
          ON b.vec_id = w.vec_id AND b.t = w.t
        WHERE b.vec_id < 10
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM qprobe q JOIN buckets c USING (bucket)
        WHERE c.vec_id <> q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM cand JOIN e a ON a.vec_id = cand.query_id
                  JOIN e b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_lsh_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side MULTI-PROBE hyperplane-LSH ANN top-5 (r12): each
    query additionally probes, per table, the bucket its
    least-confident sign bit flips into — recall rises toward the
    brute-force top-k for (1 + 1)× probe rows per query while corpus
    state is untouched (multi-probe LSH, Lv et al. VLDB'07; the
    corpus-side variant serves the banded pair generators). FULL
    value oracle: the probe-key derivation replays in SQL."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.hyperplane_lsh_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        k=5,
        query_probes=1,
    )


@query(
    "emb_knn_graph",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    knn AS (
        SELECT src, dst, cos_sim FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY src ORDER BY cos_sim DESC, dst
            ) AS r FROM scored
        ) WHERE r <= 5
    )
    SELECT x.src AS id_a, x.dst AS id_b, x.cos_sim
    FROM knn x JOIN knn y ON x.src = y.dst AND x.dst = y.src
    WHERE x.src < x.dst
    """,
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mutual-5-NN edge list over all embeddings (the graph-
    construction primitive for density clustering / graph dedup)."""
    return similarity.knn_graph(
        read_table(spark, sf_dir, "embeddings"), k=5,
        n_rows=_emb_rows(sf_dir),
    )


def _ivf_oracle_sql(
    n_cent: int = 16,
    iters: int = 5,
    m: int = 256,
    n_probe: int = 6,
    d: int = 64,
    k: int = 5,
) -> str:
    """Unrolled SQL replay of ``ivf_topk`` (FULL value oracle, round-7
    graduation): first-m-by-id sample → spherical Lloyd's (argmax-dot
    assign, mean, renormalize) × ``iters`` → corpus cell assignment →
    per-query top-``n_probe`` cell probe → exact 6dp cosine re-rank.
    The codebook floats need NOT be bit-identical across engines: the
    output depends on them only through DISCRETE choices (cell argmax,
    probe top-6) whose margins dwarf float-summation ulps, plus exact
    cosines over raw vectors — so the operator needed NO changes.
    MATERIALIZED CTEs for the same re-evaluation reasons as the
    k-means oracle."""

    def dot(a, b):
        return (
            f"list_sum(list_transform(range(1, {d + 1}),"
            f" i -> ({a}[i])*({b}[i])))"
        )

    def unit(v, n):
        return (
            f"list_transform({v}, x -> x / (CASE WHEN {n} = 0"
            f" THEN 1.0 ELSE {n} END))"
        )

    def nrm(v):
        return f"sqrt(list_sum(list_transform({v}, x -> x*x)))"

    sql = [
        "WITH e0 AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "samp AS MATERIALIZED (SELECT vec_id, v, ROW_NUMBER() OVER ("
        f" ORDER BY vec_id) AS pos FROM e0 QUALIFY pos <= {m})",
        "su AS MATERIALIZED (SELECT pos, " + unit("v", "nrm") + " AS u"
        " FROM (SELECT pos, v, " + nrm("v") + " AS nrm FROM samp))",
        "cent0 AS MATERIALIZED (SELECT pos - 1 AS cluster, u AS cv"
        f" FROM su WHERE pos <= {n_cent})",
    ]
    for t in range(iters):
        sql.append(
            f"asg{t} AS MATERIALIZED (SELECT pos, u, cluster FROM (\n"
            f"  SELECT su.pos, su.u, c.cluster, ROW_NUMBER() OVER ("
            f"PARTITION BY su.pos ORDER BY {dot('su.u', 'c.cv')} DESC,"
            f" c.cluster) AS rn FROM su, cent{t} c) WHERE rn = 1),\n"
            f"mean{t} AS (SELECT cluster, list(m ORDER BY dim) AS mv FROM (\n"
            f"  SELECT cluster, i.i AS dim, AVG(u[i.i+1]) AS m"
            f" FROM asg{t}, range({d}) i(i) GROUP BY cluster, i.i)"
            " GROUP BY cluster),\n"
            f"cent{t + 1} AS MATERIALIZED (SELECT p.cluster,"
            " COALESCE(n.cv2, p.cv) AS cv"
            f" FROM cent{t} p LEFT JOIN (SELECT cluster, "
            + unit("mv", "nrm") + " AS cv2 FROM (SELECT cluster, mv, "
            + nrm("mv") + " AS nrm"
            f" FROM mean{t})) n USING (cluster))"
        )
    sql.append(
        "eu AS MATERIALIZED (SELECT vec_id, " + unit("v", "nrm") + " AS u"
        " FROM (SELECT vec_id, v, " + nrm("v") + " AS nrm FROM e0))"
    )
    sql.append(
        "cells AS MATERIALIZED (SELECT vec_id, cell FROM (\n"
        "  SELECT eu.vec_id, c.cluster AS cell, ROW_NUMBER() OVER ("
        f"PARTITION BY eu.vec_id ORDER BY {dot('eu.u', 'c.cv')} DESC,"
        f" c.cluster) AS rn FROM eu, cent{iters} c) WHERE rn = 1)"
    )
    sql.append(
        "qprobe AS (SELECT query_id, cell FROM (\n"
        "  SELECT eu.vec_id AS query_id, c.cluster AS cell,"
        " ROW_NUMBER() OVER (PARTITION BY eu.vec_id"
        f" ORDER BY {dot('eu.u', 'c.cv')} DESC, c.cluster) AS rn"
        f" FROM eu, cent{iters} c WHERE eu.vec_id < 10)"
        f" WHERE rn <= {n_probe})"
    )
    sql.append(
        "cand AS (SELECT p.query_id, s.vec_id AS neighbor_id"
        " FROM qprobe p JOIN cells s ON s.cell = p.cell"
        " WHERE s.vec_id <> p.query_id),\n"
        "scored AS (SELECT cand.query_id, cand.neighbor_id,"
        " round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim"
        " FROM cand JOIN e0 a ON a.vec_id = cand.query_id"
        " JOIN e0 b ON b.vec_id = cand.neighbor_id)"
    )
    return (
        ",\n".join(sql)
        + "\nSELECT query_id, neighbor_id, cos_sim, rank FROM ("
        "SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id"
        " ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank"
        f" FROM scored) WHERE rank <= {k}"
    )


@query("sim_ivf_ann", oracle=_ivf_oracle_sql())
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN top-5 (scale path; recall < 1)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 20 docs per language under
    md5(doc_id) ordering — reproducible across engines and runs."""
    docs = read_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, ["lang"], "doc_id", k=20).select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "sample_train_test",
    oracle="""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'cc'
                THEN 'test' ELSE 'train' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """,
)
def sample_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed train/test split (~80/20), summarized per split ×
    language. The split is a pure map over md5(doc_id) — no shuffle."""
    docs = sampling.hash_split(read_table(spark, sf_dir, "documents"), "doc_id")
    return docs.groupBy("split", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


_MIX_RATES = {"en": 1.0, "zh": 0.35, "de": 0.6, "fr": 0.8, "es": 0.5}


@query(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE CAST(concat('0x', substr(md5(concat('ws', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
          / 4294967296.0
          < CASE lang
              {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_RATES.items()))}
              ELSE 0.9 END
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-mix importance sampling: keep a doc iff
    its portable md5 uniform falls under its language's acceptance
    rate — the data-mixing step of a training pipeline, as a pure
    narrow map whose survivor set is a function of doc ids only."""
    kept = sampling.weighted_sample(
        read_table(spark, sf_dir, "documents"),
        rates=_MIX_RATES,
        rate_col="lang",
        key_col="doc_id",
        default_rate=0.9,
    )
    return kept.select("doc_id", "lang")


@query(
    "text_heavy_hitters",
    oracle="""
    WITH per_doc AS (
        SELECT doc_id, unnest(list_distinct(
            list_filter(string_split(text, ' '), x -> x <> ''))) AS word
        FROM documents
    ),
    dfreq AS (SELECT word, COUNT(*) AS doc_freq FROM per_doc GROUP BY word),
    corpus AS (SELECT COUNT(*) AS n FROM documents)
    SELECT word,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(doc_freq AS DOUBLE) / CAST(n AS DOUBLE) AS doc_frac,
           round(ln(CAST(1 + n AS DOUBLE) / CAST(1 + doc_freq AS DOUBLE)), 6)
               AS idf
    FROM dfreq, corpus
    WHERE CAST(doc_freq AS DOUBLE) / CAST(n AS DOUBLE) >= 0.5
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency heavy hitters (boilerplate/stopword sweep):
    tokens present in ≥ 50% of documents, with doc frequency and
    smoothed idf. Distinct-per-doc explode + combinable count + in-plan
    1-row corpus scalar — one shuffle, no collect."""
    return text.doc_frequency_hitters(
        read_table(spark, sf_dir, "documents"), min_doc_frac=0.5
    )


@query(
    "q_cms_heavy_hitters",
    oracle="""
    WITH base AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(t) AS word, generate_subscripts(t, 1) - 1 AS pos
        FROM base
    ),
    wh AS (
        SELECT doc_id, pos, word,
               CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) AS h1,
               CAST(concat('0x', substr(md5(word), 9, 8)) AS BIGINT) AS h2
        FROM toks
    ),
    sketch AS (
        SELECT r.i, ((h1 + r.i * h2) % 2147483647) % 4096 AS bucket,
               COUNT(*) AS c
        FROM wh CROSS JOIN (SELECT unnest(range(4)) AS i) r
        GROUP BY 1, 2
    ),
    cands AS (
        SELECT DISTINCT word, h1, h2 FROM wh
        WHERE CAST(concat('0x',
                substr(md5(doc_id || ':' || pos || ':' || word), 1, 8))
              AS BIGINT) % 1000 < 50
    ),
    est AS (
        SELECT cc.word, MIN(COALESCE(s.c, 0)) AS est_freq
        FROM (
            SELECT word, r.i, ((h1 + r.i * h2) % 2147483647) % 4096 AS bucket
            FROM cands CROSS JOIN (SELECT unnest(range(4)) AS i) r
        ) cc
        LEFT JOIN sketch s ON s.i = cc.i AND s.bucket = cc.bucket
        GROUP BY 1
    )
    SELECT word, CAST(est_freq AS BIGINT) AS est_freq
    FROM est ORDER BY est_freq DESC, word LIMIT 20
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token heavy hitters (VERDICT r13 #4): the
    mergeable frequency sketch for UNBOUNDED key domains — the one
    regime where text_heavy_hitters' exact vocab-grain count stops
    scaling (10¹¹ distinct n-grams shuffle the whole key domain; the
    sketch shuffles ≤ depth×width bounded cells per partition).

    Registered with the portable md5 pair-hash family, so — unlike
    the HLL/approx-percentile sketches, whose engine internals no
    second system can replay — the ENTIRE construction (cell table,
    hash-sampled candidate stream, min-over-rows estimates, top-k) is
    a FULL value oracle: DuckDB re-derives the identical sketch in
    ANSI SQL. Estimate-vs-TRUTH accuracy (estimates ≥ truth,
    overestimate ≤ bound, true top-10 recalled) stays pytest-gated
    (tests/test_round14_ops.py). See operators/text.py cms_sketch /
    cms_heavy_hitters."""
    return text.cms_heavy_hitters(
        read_table(spark, sf_dir, "documents")
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH toks AS ({TOKS_SQL}),
    doc_shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]) AS shingle
            FROM toks WHERE len(t) >= 3
        )
    ),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM doc_shingles a
        JOIN doc_shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM doc_shingles GROUP BY 1)
    SELECT doc_a, doc_b, containment_a, containment_b FROM (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / sa.n_sh AS containment_a,
               CAST(n_common AS DOUBLE) / sb.n_sh AS containment_b
        FROM co
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    ) WHERE greatest(containment_a, containment_b) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (doc-inside-doc detection —
    the duplication mode symmetric Jaccard misses). Same inverted-index
    plan as the Jaccard pairs; ``max_shingle_freq=None`` for the exact
    oracle-checked mode. The REGISTERED demo runs the uncapped exact-oracle mode; production deployments keep the library's freq-cap default — do not benchmark the uncapped mode at scale."""
    return dedup.containment_pairs(
        read_table(spark, sf_dir, "documents"),
        threshold=0.8,
        max_shingle_freq=None,
    )


@query(
    "dedup_shared_spans",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
    ),
    ix AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(w[i+1:i+3], ' ') AS shingle
        FROM toks, LATERAL unnest(range(0, greatest(len(w) - 2, 0))) t(i)
    ),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb, b.pos - a.pos AS delta
        FROM ix a
        JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    g AS (
        SELECT *, pa - row_number() OVER (
            PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
        FROM m
    ),
    s AS (
        SELECT doc_a, doc_b,
               CAST(MIN(pa) AS BIGINT) AS start_a,
               CAST(MIN(pb) AS BIGINT) AS start_b,
               CAST(COUNT(*) + 2 AS BIGINT) AS span_tokens
        FROM g GROUP BY doc_a, doc_b, delta, grp
    )
    SELECT doc_a, doc_b, start_a, start_b, span_tokens
    FROM s WHERE span_tokens >= 8
    """,
)
def dedup_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared verbatim token spans ≥ 8 tokens between document
    pairs (VERDICT r7 #7 — duplicated-span detection, the substring-
    level mode the token-set dedups miss). Positioned shingle inverted
    index → diagonal (delta) run merge via gaps-and-islands; FULL
    value oracle replays positions, diagonals, and island merges.
    ``max_shingle_freq=None`` for the exact oracle-checked mode; the
    library default caps hot shingles. The REGISTERED demo runs the uncapped exact-oracle mode; production deployments keep the library's freq-cap default — do not benchmark the uncapped mode at scale."""
    return dedup.shared_spans(
        read_table(spark, sf_dir, "documents"),
        min_span_tokens=8,
        max_shingle_freq=None,
    )


@query(
    "dedup_span_excise",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
    ),
    ix AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(w[i+1:i+3], ' ') AS shingle
        FROM toks, LATERAL unnest(range(0, greatest(len(w) - 2, 0))) t(i)
    ),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb, b.pos - a.pos AS delta
        FROM ix a
        JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    g AS (
        SELECT *, pa - row_number() OVER (
            PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
        FROM m
    ),
    s AS (
        SELECT doc_a, doc_b, MIN(pb) AS start_b,
               COUNT(*) + 2 AS span_tokens
        FROM g GROUP BY doc_a, doc_b, delta, grp
        HAVING COUNT(*) + 2 >= 8
    ),
    rm AS (
        SELECT DISTINCT doc_b AS doc_id, CAST(p AS BIGINT) AS pos
        FROM s, LATERAL unnest(range(start_b, start_b + span_tokens)) t(p)
    ),
    toks_pos AS (
        SELECT tk.doc_id, CAST(i AS BIGINT) AS pos, w[i + 1] AS tok
        FROM toks tk
        JOIN (SELECT DISTINCT doc_id FROM rm) aff USING (doc_id),
        LATERAL unnest(range(0, len(w))) t(i)
    ),
    kept AS (
        SELECT tp.* FROM toks_pos tp
        WHERE NOT EXISTS (
            SELECT 1 FROM rm
            WHERE rm.doc_id = tp.doc_id AND rm.pos = tp.pos
        )
    ),
    nrem AS (SELECT doc_id, COUNT(*) AS n_removed FROM rm GROUP BY doc_id),
    reb AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(coalesce(n_kept, 0) + n_removed AS BIGINT) AS n_tokens,
           CAST(n_removed AS BIGINT) AS n_removed,
           coalesce(cleaned_text, '') AS cleaned_text
    FROM nrem LEFT JOIN reb USING (doc_id)
    """,
)
def dedup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span excision (round 8): remove each duplicated ≥ 8-token span
    from every document after its first occurrence — the step that
    turns shared-span DETECTION into substring-level dedup. One row
    per affected doc (patch-sized output, never a corpus rewrite) with
    the cleaned text and before/removed token counts; FULL value
    oracle replays spans, removal ranges, anti join, and the ordered
    re-assembly. The REGISTERED demo runs the uncapped exact-oracle mode; production deployments keep the library's freq-cap default — do not benchmark the uncapped mode at scale."""
    return dedup.excise_shared_spans(
        read_table(spark, sf_dir, "documents"),
        min_span_tokens=8,
        max_shingle_freq=None,
    )


@query(
    "text_word_vocab",
    oracle="""
    WITH words AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word)
    SELECT word, CAST(n AS BIGINT) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS INTEGER) AS rank
    FROM counts
    QUALIFY rank <= 100
    """,
)
def text_word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 word vocabulary build (tokenizer/vocab first pass)."""
    return text.word_vocab(read_table(spark, sf_dir, "documents"), top_k=100)


@query(
    "text_hashed_ngrams",
    # The hashing-trick featurizer replayed in SQL: same whitespace
    # bigrams, same md5-hex-slice portable hash mod 1024 — a hash
    # match proves the featurization (including collision behavior)
    # bit-identical across engines.
    oracle=f"""
    WITH toks AS ({{TOKS}}),
    grams AS (
        SELECT doc_id,
               unnest([t[i] || '_' || t[i+1] FOR i IN range(1, len(t))])
                   AS g
        FROM toks WHERE len(t) >= 2
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 1024
                AS BIGINT) AS feature,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY 1, 2
    """.replace("{TOKS}", TOKS_SQL),
)
def text_hashed_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed bigram counts per document (hashing trick, 1024
    features) — the sparse featurizer before a linear quality /
    language classifier; no vocabulary pass, collisions traded for a
    fixed feature space. Pure codegen; the portable md5 hash makes the
    whole featurization value-oracled."""
    return text.hashed_ngram_features(
        read_table(spark, sf_dir, "documents"), n_features=1024
    )


@query(
    "text_quality_filter",
    oracle="""
    WITH q AS (
        SELECT doc_id, source, length(text) AS n_chars,
               CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
                   / length(text) AS alpha_ratio,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks
        FROM documents
    )
    SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM q
    WHERE alpha_ratio >= 0.55 AND n_toks >= 5 AND n_chars BETWEEN 30 AND 20000
    GROUP BY source
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality gate (C4/Gopher-style rules) summarized per
    source: documents surviving the alpha/token/length thresholds."""
    kept = text.quality_filter(read_table(spark, sf_dir, "documents"))
    return kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum(F.length("text")).cast("bigint").alias("kept_chars"),
    )


@query(
    "mm_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(length(text) % 640 AS INTEGER) AS width,
           CAST(length(text) * 7 % 480 AS INTEGER) AS height,
           CAST(length(text) % 30 + 1 AS INTEGER) AS n_frames,
           CAST(list_sum(list_transform(
               range(1, least(16, length(text)) + 1),
               j -> ascii(text[j]))) AS BIGINT) AS checksum
    FROM documents
    """,
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: binary payload → mapInPandas feature
    extraction (deterministic stub codec, real Arrow/partition path)."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.decode_features(multimodal.attach_binary_payload(docs))


@query(
    "mm_resize_stub",
    oracle="""
    SELECT doc_id,
           CAST(least(length(text), 64 * 48) AS BIGINT) AS out_bytes,
           CAST(64 AS INTEGER) AS width,
           CAST(48 AS INTEGER) AS height,
           CAST(list_sum(list_transform(
               range(1, least(16, length(text)) + 1),
               j -> ascii(text[j]))) AS BIGINT) AS checksum
    FROM documents
    """,
)
def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: 1→1 payload transform with target metadata."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.resize_images(
        multimodal.attach_binary_payload(docs), width=64, height=48
    )


@query(
    "mm_frame_sample",
    oracle="""
    WITH meta AS (
        SELECT doc_id, length(text) AS n, length(text) % 30 + 1 AS n_frames
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(ascii(text[CAST(i * (n // n_frames) AS INTEGER) + 1]) AS BIGINT)
               AS frame_checksum
    FROM meta
    JOIN documents USING (doc_id),
    LATERAL unnest(range(0, n_frames, 2)) AS t(i)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: 1→N row expansion per video payload."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(
        multimodal.attach_binary_payload(docs), stride=2
    )


# -- mm_phash_dedup oracle fragments, parameterized on the hash width
# (128-bit aHash → 4 packed words, 8 bands × 16-bit keys; 256-bit →
# 8 words, 8 bands × 32-bit keys — the documented growth step) --
def _ph_fragments(n_bits: int, n_bands: int = 8) -> dict[str, str | int]:
    n_words = n_bits // 32
    band_width = n_bits // n_bands
    g = ", ".join(
        f"CAST(concat('0x', substring(hx, "
        f"CAST(2*(FLOOR({i}*n/{n_bits}.0)+1)-1 AS INT), 2)) AS INT) AS g{i}"
        for i in range(n_bits)
    )
    # chunked sum: a flat n_bits-term chain exceeds DuckDB's 128-deep
    # binder recursion limit; 32-term parenthesized chunks keep the
    # depth shallow at any width
    gsum = " + ".join(
        "(" + "+".join(f"g{i}" for i in range(lo, lo + 32)) + ")"
        for lo in range(0, n_bits, 32)
    )
    words = ", ".join(
        " + ".join(
            f"CAST(g{32 * m + k} > mean AS BIGINT) * {1 << k}"
            for k in range(32)
        )
        + f" AS w{m}"
        for m in range(n_words)
    )
    bands = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"((w{(b * band_width) // 32} >> {(b * band_width) % 32})"
        f" & {(1 << band_width) - 1}) AS band_key FROM words"
        for b in range(n_bands)
    )
    hamming = " + ".join(
        f"bit_count(xor(sa.w{m}, sb.w{m}))" for m in range(n_words)
    )
    return {
        "G": g, "SUM": gsum, "WORDS": words, "BANDS": bands,
        "HAMMING": hamming, "NBITS": n_bits,
    }


_PH = _ph_fragments(multimodal.PHASH_BITS)
_PH_G, _PH_SUM, _PH_WORDS = _PH["G"], _PH["SUM"], _PH["WORDS"]
_PH_BANDS, _PH_HAMMING = _PH["BANDS"], _PH["HAMMING"]
_PH_NBITS = _PH["NBITS"]


@query(
    "mm_phash_dedup",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, replace(text, 'e', 'f') FROM documents
    ),
    p AS (
        SELECT doc_id, concat(hex(encode(coalesce(text,''))), '00') AS hx,
               octet_length(encode(coalesce(text,''))) AS n
        FROM corpus
    ),
    g AS (SELECT doc_id, {_PH_G} FROM p),
    m AS (SELECT *, ({_PH_SUM})/{_PH_NBITS}.0 AS mean FROM g),
    words AS (SELECT doc_id, {_PH_WORDS} FROM m),
    bands AS (
    {_PH_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b, CAST({_PH_HAMMING} AS BIGINT) AS hamming
        FROM cand
        JOIN words sa ON doc_a = sa.doc_id
        JOIN words sb ON doc_b = sb.doc_id
    ) WHERE hamming <= 6
    """,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over binary media
    payloads (VERDICT r7 #6 — the multimodal family's first real
    operator): 128-bit average-hash per payload (``PHASH_BITS``),
    banded 8×16-bit Hamming-≤6 search, FULL value oracle.

    The demo corpus pairs every document payload with a benignly
    "re-encoded" variant (``replace(text,'e','f')`` — a +1 nudge on
    sampled bytes, the fake-codec analog of re-encoding noise);
    the banded search recovers original↔variant pairs at low Hamming
    while byte-identical machinery (byte-array stride sampling, mean
    threshold, packed words, pigeonhole banding) replays in DuckDB.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("replace(text, 'e', 'f')").alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(variants))
    return multimodal.phash_pairs(corpus, max_hamming=6)


@query(
    "mm_phash_dedup_capped",
    # mm_phash_dedup's replay with the PRODUCTION bucket cap: the
    # bands_ok CTE keeps only band buckets of ≤64 members — the same
    # CTE mm_phash_clusters' oracle uses, now carried by the pairs
    # face itself.
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, replace(text, 'e', 'f') FROM documents
    ),
    p AS (
        SELECT doc_id, concat(hex(encode(coalesce(text,''))), '00') AS hx,
               octet_length(encode(coalesce(text,''))) AS n
        FROM corpus
    ),
    g AS (SELECT doc_id, {_PH_G} FROM p),
    m AS (SELECT *, ({_PH_SUM})/{_PH_NBITS}.0 AS mean FROM g),
    words AS (SELECT doc_id, {_PH_WORDS} FROM m),
    bands AS (
    {_PH_BANDS}
    ),
    bands_ok AS (
        SELECT band_idx, band_key FROM bands
        GROUP BY band_idx, band_key HAVING COUNT(*) <= 64
    ),
    bandsc AS (
        SELECT bands.* FROM bands JOIN bands_ok
        USING (band_idx, band_key)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandsc a
        JOIN bandsc b ON a.band_idx = b.band_idx
                     AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b, CAST({_PH_HAMMING} AS BIGINT) AS hamming
        FROM cand
        JOIN words sa ON doc_a = sa.doc_id
        JOIN words sb ON doc_b = sb.doc_id
    ) WHERE hamming <= 6
    """,
)
def mm_phash_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mm_phash_dedup``'s PRODUCTION twin (VERDICT r10 #4): the same
    128-bit banded Hamming-≤6 search with the §4 banded-signature cap
    ACTIVE — ``max_band_bucket=64`` drops saturated band buckets
    before pair expansion, which is the only mode that survives 100 TB
    (uncapped candidates grow ~K² once the 16-bit band grid saturates;
    the 27× probe measured ratio 23.6 uncapped vs 3.3 capped —
    SCALE.md §Round-10). The uncapped sibling stays registered as the
    oracle-exhaustive pairs DEMO, the way the jaccard family carries
    both faces; the oracle here replays the cap in the ``bands_ok``
    CTE, so the value hash proves cap parity, not just pair recall.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("replace(text, 'e', 'f')").alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(variants))
    return multimodal.phash_pairs(corpus, max_hamming=6, max_band_bucket=64)


@query(
    "mm_phash_clusters",
    # The pair CTE is mm_phash_dedup's replay verbatim; the recursive
    # closure and component-min labeling are dedup_clusters' — one
    # spec, now proven over the MULTIMODAL pair graph too.
    oracle=f"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, replace(text, 'e', 'f') FROM documents
    ),
    p AS (
        SELECT doc_id, concat(hex(encode(coalesce(text,''))), '00') AS hx,
               octet_length(encode(coalesce(text,''))) AS n
        FROM corpus
    ),
    g AS (SELECT doc_id, {_PH_G} FROM p),
    m AS (SELECT *, ({_PH_SUM})/{_PH_NBITS}.0 AS mean FROM g),
    words AS (SELECT doc_id, {_PH_WORDS} FROM m),
    bands AS (
    {_PH_BANDS}
    ),
    bands_ok AS (
        SELECT band_idx, band_key FROM bands
        GROUP BY band_idx, band_key HAVING COUNT(*) <= 64
    ),
    bandsc AS (
        SELECT bands.* FROM bands JOIN bands_ok
        USING (band_idx, band_key)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandsc a
        JOIN bandsc b ON a.band_idx = b.band_idx
                     AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
    ),
    prs AS (
        SELECT doc_a, doc_b FROM (
            SELECT doc_a, doc_b, CAST({_PH_HAMMING} AS BIGINT) AS hamming
            FROM cand
            JOIN words sa ON doc_a = sa.doc_id
            JOIN words sb ON doc_b = sb.doc_id
        ) WHERE hamming <= 6
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM prs
        UNION ALL
        SELECT doc_b, doc_a FROM prs
    ),
    reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    )
    SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
    """,
)
def mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate CLUSTERS: connected components over the
    128-bit perceptual-hash pair graph — the multimodal dedup story
    end-to-end (pairs → transitive closure → component-min canonical
    id), exactly parallel to the text side's
    ngram-pairs → dedup_clusters → dedup_survivors chain.

    Composition of two independently-oracled operators: the pair graph
    is ``multimodal.phash_pairs`` (mm_phash_dedup's banded Hamming
    search) run in PRODUCTION mode — ``max_band_bucket=64``, the §4
    banded-signature cap, replayed in the oracle's ``bands_ok`` CTE —
    and the closure is ``operators.dedup.connected_components``. The
    cap is load-bearing here where the pairs-only demo runs uncapped:
    at 27× corpus the 16-bit band grid saturates and UNCAPPED
    candidates grow ~K² (measured ratio 23.6 vs 2.9 capped —
    SCALE.md §Round-10), exactly the blowup the r9 rule predicts.
    Capped buckets bound the pair graph, never all pairs.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("replace(text, 'e', 'f')").alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(variants))
    pairs = multimodal.phash_pairs(corpus, max_hamming=6, max_band_bucket=64)
    return dedup.connected_components(pairs)


_PH256 = _ph_fragments(256)


@query(
    "mm_phash_dedup_256",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, replace(text, 'e', 'f') FROM documents
    ),
    p AS (
        SELECT doc_id, concat(hex(encode(coalesce(text,''))), '00') AS hx,
               octet_length(encode(coalesce(text,''))) AS n
        FROM corpus
    ),
    g AS (SELECT doc_id, {_PH256["G"]} FROM p),
    m AS (SELECT *, ({_PH256["SUM"]})/{_PH256["NBITS"]}.0 AS mean FROM g),
    words AS (SELECT doc_id, {_PH256["WORDS"]} FROM m),
    bands AS (
    {_PH256["BANDS"]}
    ),
    bands_ok AS (
        SELECT band_idx, band_key FROM bands
        GROUP BY band_idx, band_key HAVING COUNT(*) <= 64
    ),
    bandsc AS (
        SELECT bands.* FROM bands JOIN bands_ok
        USING (band_idx, band_key)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bandsc a
        JOIN bandsc b ON a.band_idx = b.band_idx
                     AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b, CAST({_PH256["HAMMING"]} AS BIGINT) AS hamming
        FROM cand
        JOIN words sa ON doc_a = sa.doc_id
        JOIN words sb ON doc_b = sb.doc_id
    ) WHERE hamming <= 6
    """,
)
def mm_phash_dedup_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-bit perceptual-hash near-duplicate detection (VERDICT r8
    #3 — the documented band-key growth step): the same aHash / banded
    Hamming-≤6 machinery as ``mm_phash_dedup`` at ``n_bits=256``, so
    each of the 8 bands carries a 32-bit key (~4.3·10⁹ buckets per
    band vs 65 536 at 128 bits). RANDOM band-bucket collisions —
    the candidate-volume driver at large corpora — drop by ~2¹⁶;
    this retires the ~10⁵-doc collision ceiling documented on the
    128-bit grid while keeping the pigeonhole recall guarantee
    (8 bands > Hamming 6). The higher-order-fold codegen is
    constant-size at any width — this key is config + oracle, no new
    machinery (operators/multimodal.py: phash_words/phash_pairs
    ``n_bits``).

    The key registers WITH the bucket cap (max_band_bucket=64,
    replayed in the oracle): payloads shorter than the grid repeat
    consecutive samples, so their bit patterns carry long constant
    runs and a few STRUCTURALLY hot band keys (all-zeros/all-ones)
    emerge — the wider grid fixes random collisions, the cap bounds
    the structural ones (measured 8× probe: uncapped 10.5×, cap 64 →
    2.18×, with planted-pair recall identical at every cap; real
    ≥256-sample image grids don't repeat samples, but the cap is the
    correct production default regardless). FULL value oracle: hash,
    bands, cap, and Hamming replay in SQL at 256 bits.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("replace(text, 'e', 'f')").alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(variants))
    return multimodal.phash_pairs(
        corpus, max_hamming=6, n_bits=256, max_band_bucket=64
    )



@query(
    "mm_scene_cuts",
    oracle="""
    WITH meta AS (
        SELECT doc_id, text, length(text) AS n, length(text) % 30 + 1 AS n_frames
        FROM documents WHERE length(text) > 0
    ),
    fr AS (
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               CAST(ascii(text[CAST(i * (n // n_frames) AS INT) + 1]) AS BIGINT)
                   AS cs
        FROM meta, LATERAL unnest(range(0, n_frames)) t(i)
    ),
    d AS (
        SELECT doc_id, frame_idx, cs,
               abs(cs - lag(cs) OVER (PARTITION BY doc_id ORDER BY frame_idx))
                   AS diff
        FROM fr
    ),
    c AS (
        SELECT doc_id, frame_idx,
               CASE WHEN diff IS NULL OR diff > 64 THEN 1 ELSE 0 END AS cut
        FROM d
    ),
    s AS (
        SELECT doc_id, frame_idx,
               SUM(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                   AS scene_idx
        FROM c
    )
    SELECT doc_id, CAST(scene_idx AS BIGINT) AS scene_idx,
           CAST(MIN(frame_idx) AS INT) AS start_frame,
           CAST(MAX(frame_idx) AS INT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM s GROUP BY doc_id, scene_idx
    """,
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene segmentation: frame-to-frame checksum jumps above a
    threshold open scene cuts; consecutive frames roll up into scene
    rows (running-sum-of-cuts). Frame extraction is the codegen twin of
    the ``sample_frames`` fake codec (``operators.multimodal.
    frame_checksums``) so the whole pipeline — decode, diff, cut,
    rollup — replays bit-identically in the oracle. Windows partition
    by doc_id (one video = one partition, ≤30 fake frames)."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.scene_cuts(
        multimodal.attach_binary_payload(docs), threshold=64
    )


@query(
    "mm_scene_signatures",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               concat(substr(text, 1, length(text)//2),
                      upper(substr(text, length(text)//2 + 1)))
        FROM documents
    ),
    meta AS (
        SELECT doc_id, text, length(text) AS n,
               length(text) % 30 + 1 AS n_frames
        FROM corpus WHERE length(text) > 0
    ),
    fr AS (
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               CAST(ascii(text[CAST(i * (n // n_frames) AS INT) + 1])
                    AS BIGINT) AS cs
        FROM meta, LATERAL unnest(range(0, n_frames)) t(i)
    ),
    d AS (
        SELECT doc_id, frame_idx, cs,
               abs(cs - lag(cs) OVER (PARTITION BY doc_id
                   ORDER BY frame_idx)) AS diff
        FROM fr
    ),
    s AS (
        SELECT doc_id, frame_idx, cs,
               SUM(CASE WHEN diff IS NULL OR diff > 64 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY frame_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1 AS scene_idx
        FROM d
    ),
    sig0 AS (
        SELECT doc_id, scene_idx, cs,
               SUM(cs) OVER ws AS ssum,
               COUNT(*) OVER ws AS sn,
               row_number() OVER (PARTITION BY doc_id, scene_idx
                                  ORDER BY frame_idx) AS rn
        FROM s WINDOW ws AS (PARTITION BY doc_id, scene_idx)
    ),
    sig AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(MAX(ssum) AS BIGINT) AS scene_sum,
               CAST(COALESCE(SUM(CASE WHEN cs * sn > ssum
                   THEN CAST(1 AS BIGINT) << CAST(rn - 1 AS INT)
                   ELSE 0 END), 0) AS BIGINT) AS signature
        FROM sig0 GROUP BY doc_id, scene_idx
    ),
    dsig AS (
        SELECT DISTINCT doc_id, signature, n_frames, scene_sum
        FROM sig WHERE n_frames >= 2
    ),
    ok AS (
        SELECT signature, n_frames, scene_sum FROM dsig
        GROUP BY signature, n_frames, scene_sum HAVING COUNT(*) <= 200
    ),
    dc AS (
        SELECT dsig.* FROM dsig
        JOIN ok USING (signature, n_frames, scene_sum)
    ),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM dc a JOIN dc b
          ON a.signature = b.signature AND a.n_frames = b.n_frames
         AND a.scene_sum = b.scene_sum AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS shared_scenes
    FROM m GROUP BY doc_a, doc_b HAVING COUNT(*) >= 2
    """,
)
def mm_scene_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-level video partial-copy detection (VERDICT r8 #7 — the
    scene_cuts × phash composition those operators were built for):
    per-scene aHash signatures (bit i = frame i's checksum · n >
    scene checksum sum — the mean compare cleared of division, so it
    replays as exact integer SQL) keyed with the scene's length and
    exact checksum total, frequency-capped inverted index, shared-
    scene counting with a ≥2-scene floor.

    The demo corpus pairs every document with a SAME-LENGTH variant
    whose second half is scrambled (uppercased): the untouched half's
    scenes carry identical signatures — the clip-from-longer-video
    shape — while whole-video signatures all differ. Signatures
    depend only on scene content, never scene position. FULL value
    oracle: decode, cuts, per-scene bit packing, cap, and pair
    counting all replay in SQL.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.expr("substr(text, 1, CAST(length(text)/2 AS INT))"),
            F.upper(F.expr("substr(text, CAST(length(text)/2 AS INT) + 1)")),
        ).alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(variants))
    return multimodal.scene_copy_matches(corpus, min_shared=2)


@query(
    "mm_audio_match",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, substr(text, 16) FROM documents
    ),
    p AS (
        SELECT doc_id, text, length(coalesce(text, '')) AS n FROM corpus
    ),
    w AS (
        SELECT doc_id, CAST(i AS BIGINT) AS t,
            list_sum(list_transform(range(0, 15),
                j -> CAST(ascii(text[CAST(i*5+j AS INT)+1]) // 16 AS BIGINT)
                     * (CAST(1 AS BIGINT) << CAST(4*j AS INT)))) AS fp
        FROM p, LATERAL unnest(range(0, greatest((n-15)//5 + 1, 0))) u(i)
        WHERE n >= 15
    ),
    ok AS (SELECT fp FROM w GROUP BY fp HAVING COUNT(*) <= 500),
    wc AS (SELECT w.* FROM w JOIN ok USING (fp)),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.t - a.t AS t_offset
        FROM wc a JOIN wc b ON a.fp = b.fp AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, t_offset, CAST(COUNT(*) AS BIGINT) AS votes
    FROM m GROUP BY doc_a, doc_b, t_offset
    HAVING COUNT(*) >= 5
    """,
)
def mm_audio_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shazam-style audio fingerprint matching: 60-bit quantized
    sub-fingerprints every AUDIO_STRIDE bytes, inverted-index join,
    diagonal offset voting (``operators.multimodal.
    audio_offset_matches``). The demo corpus pairs every payload with
    a CLIPPED variant (first 15 bytes dropped = 3 whole strides), so
    true matches land on the t_offset = −3 diagonal with ~full-clip
    votes — the alignment property that makes fingerprinting robust
    to clipping. FULL value oracle replays windows, quantization,
    frequency cap, and voting."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    clipped = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(text, 16)").alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(clipped))
    return multimodal.audio_offset_matches(corpus, min_votes=5)


@query(
    "mm_audio_landmarks",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, substr(text, 16) FROM documents
    ),
    p AS (
        SELECT doc_id, text, length(coalesce(text, '')) AS n FROM corpus
    ),
    w AS (
        SELECT doc_id, CAST(i AS BIGINT) AS t,
            list_sum(list_transform(range(0, 15),
                j -> CAST(ascii(text[CAST(i*5+j AS INT)+1]) // 16 AS BIGINT)
                     * (CAST(1 AS BIGINT) << CAST(4*j AS INT)))) AS fp
        FROM p, LATERAL unnest(range(0, greatest((n-15)//5 + 1, 0))) u(i)
        WHERE n >= 15
    ),
    pk AS (
        SELECT doc_id, t, fp FROM (
            SELECT doc_id, t, fp,
                max(fp) OVER (PARTITION BY doc_id ORDER BY t
                    ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS pm,
                max(fp) OVER (PARTITION BY doc_id ORDER BY t
                    ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS nm
            FROM w
        ) WHERE (pm IS NULL OR fp > pm) AND (nm IS NULL OR fp >= nm)
    ),
    lm0 AS (
        SELECT doc_id, t, fp AS fp_a,
               lead(fp, 1) OVER wd1 AS fp_b,
               lead(t, 1) OVER wd1 - t AS dt
        FROM pk WINDOW wd1 AS (PARTITION BY doc_id ORDER BY t)
        UNION ALL
        SELECT doc_id, t, fp AS fp_a,
               lead(fp, 2) OVER wd2 AS fp_b,
               lead(t, 2) OVER wd2 - t AS dt
        FROM pk WINDOW wd2 AS (PARTITION BY doc_id ORDER BY t)
        UNION ALL
        SELECT doc_id, t, fp AS fp_a,
               lead(fp, 3) OVER wd3 AS fp_b,
               lead(t, 3) OVER wd3 - t AS dt
        FROM pk WINDOW wd3 AS (PARTITION BY doc_id ORDER BY t)
    ),
    lm AS (
        SELECT * FROM lm0 WHERE fp_b IS NOT NULL AND dt <= 20
    ),
    ok AS (
        SELECT fp_a, fp_b, dt FROM lm
        GROUP BY fp_a, fp_b, dt HAVING COUNT(*) <= 50
    ),
    lc AS (SELECT lm.* FROM lm JOIN ok USING (fp_a, fp_b, dt)),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               b.t - a.t AS t_offset
        FROM lc a JOIN lc b
          ON a.fp_a = b.fp_a AND a.fp_b = b.fp_b AND a.dt = b.dt
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, t_offset, CAST(COUNT(*) AS BIGINT) AS votes
    FROM m GROUP BY doc_a, doc_b, t_offset
    HAVING COUNT(*) >= 3
    """,
)
def mm_audio_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-pair audio matching (VERDICT r8 #4 — the actual Shazam
    key shape): peak sub-fingerprints (local-max rule over the window
    stream) paired with their next ≤3 peaks within 20 windows; the
    composite (fp_a, fp_b, Δt) landmark key is the index key, so a
    collision needs two agreeing peaks AND their exact spacing — a
    ~10× tighter frequency cap (50 vs 500) and lower vote floor (3 vs
    5) than ``mm_audio_match`` for the same clip recovery. The demo
    corpus pairs every payload with the same 3-stride clipped variant;
    matches land on the t_offset = −3 diagonal. FULL value oracle:
    windows, quantization, peak rule, fan-out leads, frequency cap,
    and voting all replay in SQL.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    clipped = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substr(text, 16)").alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(clipped))
    return multimodal.audio_landmark_matches(corpus, min_votes=3)



def _jl_oracle_sql(out_dim: int = 16, in_dim: int = 64) -> str:
    """DuckDB twin of ``similarity.sign_projection``: same formula
    matrix, same left-to-right list fold (``list_sum`` over an
    index-comprehension list), same scale literal — bit-identical
    doubles."""
    from ..operators.similarity import projection_sign

    scale = repr(1.0 / float(__import__("numpy").sqrt(out_dim)))
    selects = []
    for j in range(out_dim):
        signs = "[" + ",".join(
            str(projection_sign(i, j)) for i in range(in_dim)
        ) + "]"
        selects.append(
            f"SELECT vec_id, {j} AS dim, "
            f"list_sum([CAST(embedding[i] AS DOUBLE) * ({signs})[i] "
            f"FOR i IN range(1, {in_dim + 1})]) * {scale} AS value "
            "FROM embeddings"
        )
    return "\n    UNION ALL\n    ".join(selects)


@query("emb_random_projection", oracle=_jl_oracle_sql())
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection 64→16 dims (pre-ANN
    compression; distance-preservation asserted in tests).

    Value-oracled (round-6 upgrade): the Achlioptas ±1 matrix is
    formula-derived and the per-component fold runs in index order in
    BOTH engines, so projected values are bit-identical doubles — no
    rounding needed. Flattened to one ``(vec_id, dim, value)`` row per
    output dimension (mirroring ``emb_label_centroids``)."""
    projected = similarity.sign_projection(
        read_table(spark, sf_dir, "embeddings"), out_dim=16
    )
    return projected.select(
        "vec_id",
        F.posexplode("projected").alias("dim", "value"),
    )


@query(
    "emb_pca_cov",
    # The PCA first pass replayed exactly in SQL: quantize each
    # coordinate to floor(x·1e6) int64 (floor — half-rounding modes
    # differ across engines; the IEEE product is identical, so the
    # floor is), then integer count / sums / upper-triangle second
    # moments. Integer addition is associative, so DuckDB's row-order
    # sums match Spark's per-partition Arrow partials bit-for-bit —
    # the FULL value oracle emb_pca itself cannot have (its
    # eigendecomposition is engine-specific; its float64 partials are
    # order-sensitive). Closes the only non-approximate rows-only gap
    # (VERDICT r12 #4).
    oracle="""
    WITH q AS (
        SELECT [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                FOR x IN embedding] AS v
        FROM embeddings
    ),
    dims AS (
        -- derive d from the data (ADVICE r13): a dimensionality
        -- change must not silently row-count-mismatch against a
        -- hardcoded 64 while the Spark side adapts
        SELECT DISTINCT CAST(u.i AS INTEGER) - 1 AS i
        FROM (SELECT embedding FROM embeddings LIMIT 1) e,
             unnest(generate_series(1, len(e.embedding))) u(i)
    )
    SELECT CAST(-1 AS INTEGER) AS i, CAST(-1 AS INTEGER) AS j,
           CAST(COUNT(*) AS BIGINT) AS s
    FROM q
    UNION ALL
    SELECT d.i AS i, CAST(-1 AS INTEGER) AS j,
           CAST(SUM(v[d.i + 1]) AS BIGINT) AS s
    FROM q, dims d GROUP BY d.i
    UNION ALL
    SELECT di.i AS i, dj.i AS j,
           CAST(SUM(v[di.i + 1] * v[dj.i + 1]) AS BIGINT) AS s
    FROM q, dims di, dims dj
    WHERE di.i <= dj.i
    GROUP BY di.i, dj.i
    """,
)
def emb_pca_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point covariance partials for PCA (the oracled
    first pass): count, per-dim sums, upper-triangle second moments
    as (i, j, s) int64 rows — 2145 rows at d=64, combined map-side,
    partition-order-proof because integer sums are associative. See
    operators/similarity.py pca_cov_partials_exact."""
    return similarity.pca_cov_partials_exact(
        read_table(spark, sf_dir, "embeddings")
    )


@query("emb_pca")  # rows-only: eigendecomposition is engine-specific
def emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection 64→8 dims: streamed covariance
    partials (one bounded row per partition), driver-side d×d
    eigendecomposition, closure-shipped projection pass — see
    operators/similarity.py pca_project. Flattened to
    (vec_id, dim, value) rows like emb_random_projection."""
    projected = similarity.pca_project(
        read_table(spark, sf_dir, "embeddings"), out_dim=8
    )
    return projected.select(
        "vec_id",
        F.posexplode("projected").alias("dim", "value"),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


def _kmeans_oracle_sql(k: int = 8, d: int = 64, m: int = 64, iters: int = 10) -> str:
    """Unrolled SQL replay of the PORTABLE k-means (FULL value oracle,
    round-7 graduation): md5-ordered sample → maximin seeding (k−1
    argmax steps) → ``iters`` Lloyd rounds with exact scaled-DECIMAL
    centroid sums. Converged centroids are a Lloyd fixed point, so the
    static unroll agrees with the operator's exact-fixed-point early
    stop. CTEs are MATERIALIZED: inlining would re-evaluate cent{t}
    twice per round (2^iters blowup) and re-open the parquet view per
    reference."""

    def dist(v, c):
        return (
            f"list_sum(list_transform(range(1, {d + 1}),"
            f" i -> ({v}[i]-{c}[i])*({v}[i]-{c}[i])))"
        )

    sql = [
        "WITH e0 AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "samp AS MATERIALIZED (SELECT vec_id, v, ROW_NUMBER() OVER ("
        " ORDER BY md5(concat('km', CAST(vec_id AS VARCHAR))), vec_id)"
        f" AS pos FROM e0 QUALIFY pos <= {m})",
        "c0 AS (SELECT 0 AS cluster, v AS cv FROM samp WHERE pos = 1)",
    ]
    union = "SELECT * FROM c0"
    for j in range(1, k):
        sql.append(
            f"ch{j} AS MATERIALIZED ({union}),\n"
            f"dm{j} AS (SELECT s.pos, s.v, MIN({dist('s.v', 'c.cv')}) AS dmin"
            f" FROM samp s, ch{j} c GROUP BY s.pos, s.v),\n"
            f"c{j} AS MATERIALIZED (SELECT {j} AS cluster, v AS cv"
            f" FROM dm{j} ORDER BY dmin DESC, pos LIMIT 1)"
        )
        union += f" UNION ALL SELECT * FROM c{j}"
    sql.append(f"cent0 AS MATERIALIZED ({union})")
    for t in range(iters):
        sql.append(
            f"asg{t} AS MATERIALIZED (SELECT vec_id, v, cluster FROM (\n"
            f"  SELECT e0.vec_id, e0.v, c.cluster, ROW_NUMBER() OVER ("
            f"PARTITION BY e0.vec_id ORDER BY {dist('e0.v', 'c.cv')},"
            f" c.cluster) AS rn FROM e0, cent{t} c) WHERE rn = 1),\n"
            f"sums{t} AS (SELECT cluster, i.i AS dim,"
            " SUM(CAST(CAST(round(v[i.i+1] * 1000000000000.0) AS BIGINT)"
            " AS DECIMAL(38,0))) AS s, COUNT(*) AS cnt"
            f" FROM asg{t}, range({d}) i(i) GROUP BY cluster, i.i),\n"
            f"cent{t + 1} AS MATERIALIZED (SELECT p.cluster,"
            " COALESCE(n.nv, p.cv) AS cv"
            f" FROM cent{t} p LEFT JOIN (SELECT cluster,"
            " list((CAST(s AS DOUBLE) / 1000000000000.0) / cnt"
            f" ORDER BY dim) AS nv FROM sums{t} GROUP BY cluster) n"
            " USING (cluster))"
        )
    sql.append(
        "final AS (SELECT vec_id, cluster,"
        " round(sqrt(GREATEST(dist, 0)), 6) AS dist FROM (\n"
        "  SELECT e0.vec_id, c.cluster,"
        f" {dist('e0.v', 'c.cv')} AS dist, ROW_NUMBER() OVER ("
        f"PARTITION BY e0.vec_id ORDER BY {dist('e0.v', 'c.cv')},"
        f" c.cluster) AS rn FROM e0, cent{iters} c) WHERE rn = 1)"
    )
    return (
        ",\n".join(sql)
        + "\nSELECT vec_id, CAST(cluster AS INTEGER) AS cluster, dist FROM final"
    )


@query("emb_kmeans", oracle=_kmeans_oracle_sql())
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means cluster assignments over the
    embedding corpus (k=8): broadcast-closure centroids, Arrow BLAS
    assignment, combinable (cluster, dim) mean update — see
    operators/similarity.py kmeans for the scale argument. Runs in
    PORTABLE mode (md5 sample order, deterministic maximin seeding,
    exact scaled-decimal Lloyd partials), so the full iterative
    algorithm carries a value oracle: the SQL unrolls seeding + 10
    Lloyd rounds and reproduces every centroid double bit-for-bit.
    Pytest asserts monotone inertia, nearest-centroid consistency,
    and inertia within 10% of numpy k-means++."""
    return similarity.kmeans(
        read_table(spark, sf_dir, "embeddings"), k=8, n_iter=10, portable=True
    )


@query(
    "emb_l2_norm",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(
               CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm
    FROM embeddings
    """,
)
def emb_l2_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm — the normalize step of an embedding pipeline."""
    return similarity.l2_norms(read_table(spark, sf_dir, "embeddings"))


@query(
    "emb_matryoshka",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(
               CAST(embedding[1:8] AS DOUBLE[]), x -> x * x))), 6)
               AS prefix_norm,
           round(sqrt(list_sum(list_transform(
                     CAST(embedding[1:8] AS DOUBLE[]), x -> x * x)))
                 / sqrt(list_sum(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> x * x))), 6)
               AS norm_ratio
    FROM embeddings
    """,
)
def emb_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-truncation report (Kusupati et al.
    NeurIPS'22): per-vector L2 norm of the first 8 dims and the
    retained-norm fraction — the cosine a truncated-embedding index
    retains vs the full vector, i.e. the pre-flight check before
    serving MRL embeddings at a cheaper dimension. One narrow codegen
    pass, no shuffle; sqrt is IEEE-exact so 6dp rounds are
    engine-stable (the emb_l2_norm convention)."""
    return similarity.matryoshka_norms(
        read_table(spark, sf_dir, "embeddings"), prefix_dims=8
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH words AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    top AS (SELECT word, n FROM counts ORDER BY n DESC, word LIMIT 200),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM top
    ),
    terms AS (
        SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 12)
                   AS DECIMAL(28,12)) AS x,
               CAST(round(ln(CAST(n AS DOUBLE)), 12)
                   AS DECIMAL(28,12)) AS y,
               CAST(round(round(ln(CAST(rank AS DOUBLE)), 12)
                          * round(ln(CAST(n AS DOUBLE)), 12), 12)
                   AS DECIMAL(28,12)) AS xy,
               CAST(round(round(ln(CAST(rank AS DOUBLE)), 12)
                          * round(ln(CAST(rank AS DOUBLE)), 12), 12)
                   AS DECIMAL(28,12)) AS xx
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(xy) AS DOUBLE) AS sxy,
               CAST(SUM(xx) AS DOUBLE) AS sxx
        FROM terms
    )
    SELECT n_ranks,
           round((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_ranks AS DOUBLE) * sxx - sx * sx), 6) AS slope,
           round((sy - round((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_ranks AS DOUBLE) * sxx - sx * sx), 6) * sx)
                 / CAST(n_ranks AS DOUBLE), 6) AS intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope over the top-200 vocabulary — the
    corpus-health diagnostic (natural text ≈ −1; boilerplate or
    over-dedup drifts it). Combinable vocab aggregation, LIMIT-bounded
    rank frame, 12dp-rounded ln terms folded as exact DECIMAL, slope /
    intercept composed from identical doubles on both engines
    (operators.text.zipf_fit)."""
    return text.zipf_fit(read_table(spark, sf_dir, "documents"))


@query(
    "text_tfidf",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, word, tfidf, rank FROM (
        SELECT t.doc_id, t.word,
               round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6)
                   AS tfidf,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0))
                                          + 1.0), 6) DESC, t.word
               ) AS INTEGER) AS rank
        FROM tf t JOIN dfreq d USING (word), n
    ) WHERE rank <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (keyword extraction / sparse
    retrieval features): combinable tf and df aggregations, in-plan
    1-row corpus count, round-before-rank for engine-stable top-k."""
    return text.tfidf_topk(read_table(spark, sf_dir, "documents"), top_k=3)


@query(
    "text_chunk",
    oracle="""
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(i * 150 AS BIGINT) AS chunk_start,
           CAST(length(substr(text, CAST(i * 150 + 1 AS INTEGER), 200))
                AS BIGINT) AS chunk_len,
           sha256(substr(text, CAST(i * 150 + 1 AS INTEGER), 200)) AS chunk_sha
    FROM documents,
    LATERAL unnest(range(0, (length(text) - 1) // 150 + 1)) AS t(i)
    WHERE length(text) > 0
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 200-char chunks at stride 150 per document (RAG /
    context-window preparation): 1→N codegen expansion emitting chunk
    offset, length, and sha256 — no corpus text through the shuffle."""
    return text.chunk_documents(
        read_table(spark, sf_dir, "documents"), chunk_chars=200, stride=150
    )


@query(
    "text_pack_bins",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY doc_id ROWS UNBOUNDED PRECEDING
               ) AS c
        FROM toks
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((c - n_tokens) // 512 AS BIGINT) AS start_bin,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                     ELSE (c - 1) // 512 - (c - n_tokens) // 512 + 1
                END AS INTEGER) AS n_bins_spanned
    FROM cum
    """,
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing placement (concat-and-chunk at 512 tokens):
    each doc's starting bin and bin span under doc_id concatenation
    order — adaptive two-phase cumsum, never an unbounded single-task
    window at scale (operators/text.py pack_spans)."""
    return text.pack_spans(
        read_table(spark, sf_dir, "documents"), capacity=512
    )


@query(
    "emb_int8_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) / 127.0 AS scale
        FROM embeddings
    ),
    err AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0
                    THEN list_transform(e, x -> 0.0)
                    ELSE list_transform(e, x -> abs(round(x / scale, 0)
                                                    * scale - x))
               END AS errs,
               len(e) AS d
        FROM v
    )
    SELECT vec_id,
           round(scale, 6) AS q_scale,
           round(list_max(errs), 6) AS max_abs_err,
           round(list_sum(errs) / d, 6) AS mean_abs_err
    FROM err
    """,
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit per vector: scale plus
    max/mean reconstruction error — the 4×-compression validation
    step of an embedding index. One narrow codegen pass, no shuffle."""
    return similarity.int8_quantize_stats(
        read_table(spark, sf_dir, "embeddings")
    )


def _ivfpq_oracle_sql(n_cent=16, n_probe=8, n_sub=8, pq_cent=16, iters=5,
                      m_samp=256, d=64, k=5, rerank_factor=32):
    """Unrolled SQL replay of ``ivfpq_topk`` (FULL value oracle,
    round-7 graduation — the last ANN key): spherical coarse codebook +
    8 per-sub-space PQ codebooks (both Lloyd-unrolled as in the
    sim_ivf_ann / emb_pq_codes oracles), corpus cell + code assignment,
    per-query probe, LUT approximate distances, the GLOBAL
    (approx_d2, id)-ordered shortlist of rerank_factor*k, and the exact
    6dp cosine re-rank. Oracle-able because the operator's shortlist
    cut is global and id-tie-broken (the partition-local heads are a
    true prefix of the same order), so the output depends on codebook
    floats only through discrete choices + rounded exacts."""
    sub = d // n_sub
    short = rerank_factor * k

    def dot(a, b, nd=d):
        return (f"list_sum(list_transform(range(1, {nd + 1}),"
                f" i -> ({a}[i])*({b}[i])))")

    def dist(a, b, nd):
        return (f"list_sum(list_transform(range(1, {nd + 1}),"
                f" i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))")

    def unit(v, n):
        return (f"list_transform({v}, x -> x / (CASE WHEN {n} = 0"
                f" THEN 1.0 ELSE {n} END))")

    def nrm(v):
        return f"sqrt(list_sum(list_transform({v}, x -> x*x)))"

    sql = [
        "WITH e0 AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "samp AS MATERIALIZED (SELECT vec_id, v, ROW_NUMBER() OVER ("
        f" ORDER BY vec_id) AS pos FROM e0 QUALIFY pos <= {m_samp})",
        "su AS MATERIALIZED (SELECT pos, " + unit("v", "nrm") + " AS u"
        " FROM (SELECT pos, v, " + nrm("v") + " AS nrm FROM samp))",
        "co0 AS MATERIALIZED (SELECT pos - 1 AS cluster, u AS cv"
        f" FROM su WHERE pos <= {n_cent})",
    ]
    # spherical coarse codebook (argmax dot, mean, renormalize)
    for t in range(iters):
        sql.append(
            f"ca{t} AS MATERIALIZED (SELECT pos, u, cluster FROM (\n"
            f"  SELECT su.pos, su.u, c.cluster, ROW_NUMBER() OVER ("
            f"PARTITION BY su.pos ORDER BY {dot('su.u', 'c.cv')} DESC,"
            f" c.cluster) AS rn FROM su, co{t} c) WHERE rn = 1),\n"
            f"cm{t} AS (SELECT cluster, list(m ORDER BY dim) AS mv FROM (\n"
            f"  SELECT cluster, i.i AS dim, AVG(u[i.i+1]) AS m"
            f" FROM ca{t}, range({d}) i(i) GROUP BY cluster, i.i)"
            " GROUP BY cluster),\n"
            f"co{t + 1} AS MATERIALIZED (SELECT p.cluster,"
            " COALESCE(n.cv2, p.cv) AS cv"
            f" FROM co{t} p LEFT JOIN (SELECT cluster, "
            + unit("mv", "nrm") + " AS cv2 FROM (SELECT cluster, mv, "
            + nrm("mv") + " AS nrm FROM cm{t})) n USING (cluster))".replace(
                "{t}", str(t))
        )
    # PQ codebooks per sub-space on the UNIT sample blocks
    for m in range(n_sub):
        lo, hi = m * sub + 1, (m + 1) * sub
        sql.append(
            f"sb{m} AS MATERIALIZED (SELECT pos, u[{lo}:{hi}] AS b FROM su),\n"
            f"bk{m}0 AS MATERIALIZED (SELECT pos - 1 AS cluster, b AS cv"
            f" FROM sb{m} WHERE pos <= {pq_cent})"
        )
        for t in range(iters):
            sql.append(
                f"ba{m}{t} AS MATERIALIZED (SELECT pos, b, cluster FROM (\n"
                f"  SELECT s.pos, s.b, c.cluster, ROW_NUMBER() OVER ("
                f"PARTITION BY s.pos ORDER BY {dist('s.b', 'c.cv', sub)},"
                f" c.cluster) AS rn FROM sb{m} s, bk{m}{t} c) WHERE rn = 1),\n"
                f"bm{m}{t} AS (SELECT cluster, list(mm ORDER BY dim) AS mv FROM (\n"
                f"  SELECT cluster, i.i AS dim, AVG(b[i.i+1]) AS mm"
                f" FROM ba{m}{t}, range({sub}) i(i) GROUP BY cluster, i.i)"
                " GROUP BY cluster),\n"
                f"bk{m}{t + 1} AS MATERIALIZED (SELECT p.cluster,"
                f" COALESCE(n.mv, p.cv) AS cv FROM bk{m}{t} p"
                f" LEFT JOIN bm{m}{t} n USING (cluster))"
            )
    # unit corpus, cells, per-sub-space codes
    sql.append(
        "eu AS MATERIALIZED (SELECT vec_id, " + unit("v", "nrm") + " AS u"
        " FROM (SELECT vec_id, v, " + nrm("v") + " AS nrm FROM e0))"
    )
    sql.append(
        "cells AS MATERIALIZED (SELECT vec_id, cell FROM (\n"
        "  SELECT eu.vec_id, c.cluster AS cell, ROW_NUMBER() OVER ("
        f"PARTITION BY eu.vec_id ORDER BY {dot('eu.u', 'c.cv')} DESC,"
        f" c.cluster) AS rn FROM eu, co{iters} c) WHERE rn = 1)"
    )
    for m in range(n_sub):
        lo, hi = m * sub + 1, (m + 1) * sub
        sql.append(
            f"c{m} AS MATERIALIZED (SELECT vec_id, cluster AS code FROM (\n"
            f"  SELECT eu.vec_id, c.cluster, ROW_NUMBER() OVER ("
            f"PARTITION BY eu.vec_id"
            f" ORDER BY {dist(f'eu.u[{lo}:{hi}]', 'c.cv', sub)}, c.cluster)"
            f" AS rn FROM eu, bk{m}{iters} c) WHERE rn = 1)"
        )
    # query probes + per-(query, sub-space, code) LUT
    sql.append(
        "qprobe AS (SELECT query_id, cell FROM (\n"
        "  SELECT eu.vec_id AS query_id, c.cluster AS cell,"
        " ROW_NUMBER() OVER (PARTITION BY eu.vec_id"
        f" ORDER BY {dot('eu.u', 'c.cv')} DESC, c.cluster) AS rn"
        f" FROM eu, co{iters} c WHERE eu.vec_id < 10)"
        f" WHERE rn <= {n_probe})"
    )
    for m in range(n_sub):
        lo, hi = m * sub + 1, (m + 1) * sub
        sql.append(
            f"lut{m} AS MATERIALIZED (SELECT eu.vec_id AS query_id,"
            f" c.cluster AS code, {dist(f'eu.u[{lo}:{hi}]', 'c.cv', sub)}"
            f" AS dd FROM eu, bk{m}{iters} c WHERE eu.vec_id < 10)"
        )
    lut_joins = " ".join(
        f"JOIN c{m} ON c{m}.vec_id = cand.neighbor_id"
        f" JOIN lut{m} l{m} ON l{m}.query_id = cand.query_id"
        f" AND l{m}.code = c{m}.code"
        for m in range(n_sub)
    )
    approx = " + ".join(f"l{m}.dd" for m in range(n_sub))
    sql.append(
        "cand AS (SELECT p.query_id, s.vec_id AS neighbor_id"
        " FROM qprobe p JOIN cells s ON s.cell = p.cell"
        " WHERE s.vec_id <> p.query_id),\n"
        f"short AS (SELECT query_id, neighbor_id FROM (\n"
        f"  SELECT cand.query_id, cand.neighbor_id, ROW_NUMBER() OVER ("
        f"PARTITION BY cand.query_id ORDER BY {approx}, cand.neighbor_id)"
        f" AS rn FROM cand {lut_joins}) WHERE rn <= {short}),\n"
        "scored AS (SELECT short.query_id, short.neighbor_id,"
        " round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim"
        " FROM short JOIN e0 a ON a.vec_id = short.query_id"
        " JOIN e0 b ON b.vec_id = short.neighbor_id)"
    )
    return (
        ",\n".join(sql)
        + "\nSELECT query_id, neighbor_id, cos_sim, rank FROM ("
        "SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id"
        " ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank"
        f" FROM scored) WHERE rank <= {k}"
    )



@query("sim_ivfpq_ann", oracle=_ivfpq_oracle_sql())
def sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 (the billion-vector index search: coarse probe
    → PQ-LUT prefilter → exact re-rank of the shortlist). recall@10 ≥
    0.8 vs brute force pytest-gated at default dials."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


def _pq_oracle_sql(n_sub=8, n_cent=16, iters=5, m_samp=256, d=64, qfilter=None):
    """Unrolled SQL replay of ``pq_codes`` (FULL value oracle, round-7
    graduation): per sub-space, first-m-by-id sample -> Lloyd's
    (argmin-distance assign, mean) x iters -> whole-corpus code
    assignment; reconstruction error is the 6dp-rounded sqrt of the
    per-sub-space minimal distances. Codes are DISCRETE argmins and the
    error is rounded, so codebook float ulp differences between numpy
    and SQL cannot surface (the sim_ivf_ann argument). Flattened to
    (vec_id, subspace, code, recon_err) to match the registered query.
    MATERIALIZED CTEs as in the k-means oracle."""
    sub = d // n_sub

    def dist(a, b, nd):
        return (f"list_sum(list_transform(range(1, {nd + 1}),"
                f" i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))")

    sql = [
        "WITH e0 AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "samp AS MATERIALIZED (SELECT vec_id, v, ROW_NUMBER() OVER ("
        f" ORDER BY vec_id) AS pos FROM e0 QUALIFY pos <= {m_samp})",
    ]
    for m in range(n_sub):
        lo, hi = m * sub + 1, (m + 1) * sub
        sql.append(
            f"s{m} AS MATERIALIZED (SELECT pos, v[{lo}:{hi}] AS b FROM samp),\n"
            f"bk{m}0 AS MATERIALIZED (SELECT pos - 1 AS cluster, b AS cv"
            f" FROM s{m} WHERE pos <= {n_cent})"
        )
        for t in range(iters):
            sql.append(
                f"a{m}{t} AS MATERIALIZED (SELECT pos, b, cluster FROM (\n"
                f"  SELECT s.pos, s.b, c.cluster, ROW_NUMBER() OVER ("
                f"PARTITION BY s.pos ORDER BY {dist('s.b', 'c.cv', sub)},"
                f" c.cluster) AS rn FROM s{m} s, bk{m}{t} c) WHERE rn = 1),\n"
                f"mn{m}{t} AS (SELECT cluster, list(mm ORDER BY dim) AS mv FROM (\n"
                f"  SELECT cluster, i.i AS dim, AVG(b[i.i+1]) AS mm"
                f" FROM a{m}{t}, range({sub}) i(i) GROUP BY cluster, i.i)"
                " GROUP BY cluster),\n"
                f"bk{m}{t + 1} AS MATERIALIZED (SELECT p.cluster,"
                f" COALESCE(n.mv, p.cv) AS cv FROM bk{m}{t} p"
                f" LEFT JOIN mn{m}{t} n USING (cluster))"
            )
        sql.append(
            f"c{m} AS MATERIALIZED (SELECT vec_id, cluster, dd FROM (\n"
            f"  SELECT e0.vec_id, c.cluster,"
            f" {dist(f'e0.v[{lo}:{hi}]', 'c.cv', sub)} AS dd,"
            f" ROW_NUMBER() OVER (PARTITION BY e0.vec_id"
            f" ORDER BY {dist(f'e0.v[{lo}:{hi}]', 'c.cv', sub)}, c.cluster)"
            f" AS rn FROM e0, bk{m}{iters} c) WHERE rn = 1)"
        )
    joins = " ".join(
        f"JOIN c{m} ON c{m}.vec_id = e0.vec_id" for m in range(n_sub)
    )
    errs = " + ".join(f"GREATEST(c{m}.dd, 0)" for m in range(n_sub))
    sql.append(
        f"err AS MATERIALIZED (SELECT e0.vec_id,"
        f" round(sqrt({errs}), 6) AS recon_err FROM e0 {joins}),\n"
        "flat AS ("
        + " UNION ALL ".join(
            f"SELECT vec_id, {m} AS subspace, cluster AS code FROM c{m}"
            for m in range(n_sub)
        )
        + ")"
    )
    return (
        ",\n".join(sql)
        + "\nSELECT f.vec_id, CAST(f.subspace AS INTEGER) AS subspace,"
        " CAST(f.code AS INTEGER) AS code, e.recon_err"
        " FROM flat f JOIN err e USING (vec_id)"
    )



@query("emb_pq_codes", oracle=_pq_oracle_sql())
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (8 sub-spaces × 16 centroids): each vector
    as 8 codebook codes + its L2 reconstruction error — the
    compression layer of an IVF-PQ billion-vector index. Codebooks
    train driver-side on a deterministic sample (control-plane), the
    encode pass is narrow Arrow/BLAS. Flattened to (vec_id, subspace,
    code, recon_err) rows; accuracy pinned in pytest (PQ reconstructs
    strictly better than the rank-equivalent scalar baseline)."""
    coded = similarity.pq_codes(read_table(spark, sf_dir, "embeddings"))
    return coded.select(
        "vec_id",
        F.posexplode("codes").alias("subspace", "code"),
        "recon_err",
    ).select(
        "vec_id",
        F.col("subspace").cast("int").alias("subspace"),
        F.col("code").cast("int").alias("code"),
        "recon_err",
    )


@query(
    "emb_label_centroids",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           round(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6)))
                 AS DOUBLE) / COUNT(*), 6) AS centroid,
           COUNT(*) AS n_vectors
    FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY label, i
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (one row per dimension): the
    k-means-style class-prototype aggregation over embeddings."""
    return similarity.label_centroids(read_table(spark, sf_dir, "embeddings"))


@query(
    "dedup_fuzzy_levenshtein",
    # Same blocking, probes, and DP -> identical integer distances;
    # sim is one division on identical ints.
    oracle="""
    WITH d AS (
        SELECT doc_id, substr(text, 1, 16) AS blk,
               substr(text, 1, 120) AS probe,
               least(length(text), 120) AS plen
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.probe, b.probe) AS dist,
           round(1.0 - levenshtein(a.probe, b.probe)
                 / CAST(greatest(a.plen, b.plen, 1) AS DOUBLE), 6) AS sim
    FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.probe, b.probe) <= 40
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: edit distance on 120-char probes
    within 16-char-prefix blocks (the complement to the token-set
    dedup family). ``max_block=None``: skew cap off for oracle
    exactness — the library default caps hot prefixes."""
    pairs = dedup.fuzzy_levenshtein_pairs(
        read_table(spark, sf_dir, "documents"), max_block=None
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("dist").cast("int").alias("dist"), "sim"
    )


@query(
    "sample_priority",
    oracle="""
    WITH p AS (
        SELECT lang, doc_id, n_chars,
               CAST(n_chars AS DOUBLE) /
               greatest(CAST(concat('0x', substr(md5(concat('prio',
                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
                / 4294967296.0, 1.1641532182693481e-10) AS priority
        FROM documents
    )
    SELECT lang, doc_id, n_chars, CAST(rn AS INT) AS rk,
           round(priority, 6) AS priority
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY priority DESC, doc_id
        ) AS rn FROM p
    )
    WHERE rn <= 20
    """,
)
def sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted top-20-per-language document sample via priority
    sampling (w/u keys from the portable md5 uniform) — deterministic
    weighted subset selection for training-data curation."""
    docs = read_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    return sampling.priority_sample(
        docs, weight_col="n_chars", key_col="doc_id", n=20,
        group_cols=["lang"],
    ).select("lang", "doc_id", "n_chars", F.col("rk").cast("int").alias("rk"), "priority")


def _cdc_boundary_sql(divisor: int = 32) -> str:
    """DuckDB predicate deciding whether 1-based position ``i`` ends a
    CDC chunk — the same 8-term polynomial the Spark operator inlines
    (``operators.text._cdc_hash``), built from the same constants."""
    terms = " + ".join(
        f"CAST(ascii(text[CAST(i - {text.CDC_WINDOW - 1 - j} AS INT)])"
        f" AS BIGINT) * {p}"
        for j, p in enumerate(text.CDC_POWS)
    )
    return f"({terms}) % {text.CDC_MOD} % {divisor} = 0"


def _cdc_chunk_sql(corpus_cte: str, divisor: int = 32) -> str:
    """Chunk-table SQL over a named corpus CTE with (doc_id, text)."""
    return f"""
    d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM {corpus_cte} WHERE length(text) > 0
    ),
    b AS (
        SELECT doc_id, CAST(i AS BIGINT) AS e
        FROM d, LATERAL unnest(range({text.CDC_WINDOW}, n + 1)) t(i)
        WHERE {_cdc_boundary_sql(divisor)}
        UNION
        SELECT doc_id, n FROM d
    ),
    s AS (
        SELECT doc_id, e AS chunk_end,
               coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0)
                   AS chunk_start,
               row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1
                   AS chunk_idx
        FROM b
    ),
    chunks AS (
        SELECT s.doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(chunk_start AS BIGINT) AS chunk_start,
               CAST(chunk_end - chunk_start AS BIGINT) AS chunk_len,
               sha256(substr(text, CAST(chunk_start + 1 AS INT),
                             CAST(chunk_end - chunk_start AS INT)))
                   AS chunk_sha
        FROM s JOIN d USING (doc_id)
    )
    """


@query(
    "text_cdc_chunks",
    oracle="WITH "
    + _cdc_chunk_sql("documents")
    + "SELECT * FROM chunks",
)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (``operators.text.cdc_chunks``):
    boundaries where the rolling 8-char polynomial hash hits 0 mod 32,
    so chunk edges are a local content property and re-synchronize
    after insertions — the storage-dedup primitive fixed-size chunking
    can't provide. One shuffle-free narrow pass; the FULL value oracle
    replays the hash, boundary set, offsets, and per-chunk sha256."""
    docs = read_table(spark, sf_dir, "documents")
    return text.cdc_chunks(docs)


@query(
    "dedup_cdc_chunks",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               repeat('x', CAST(doc_id % 17 + 3 AS INT)) || ' ' || text
        FROM documents
    ),
    """
    + _cdc_chunk_sql("corpus")
    + """,
    tab AS (SELECT DISTINCT doc_id, chunk_sha FROM chunks),
    ok AS (
        SELECT chunk_sha FROM tab GROUP BY chunk_sha
        HAVING COUNT(*) <= 500
    ),
    capped AS (SELECT tab.* FROM tab JOIN ok USING (chunk_sha)),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_chunks FROM capped GROUP BY doc_id
    ),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM capped a JOIN capped b
          ON a.chunk_sha = b.chunk_sha AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, n_shared,
           round(n_shared / CAST(least(sa.n_chunks, sb.n_chunks) AS DOUBLE),
                 6) AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared / CAST(least(sa.n_chunks, sb.n_chunks) AS DOUBLE)
          >= 0.4
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup over CDC chunks
    (``operators.text.cdc_chunk_pairs``): pairs sharing enough content
    chunks, containment = |shared| / min(|A|, |B|). The demo corpus
    pairs every document with a variant carrying a PER-DOC-LENGTH
    prefix insertion — exactly the edit that defeats fixed-offset
    chunk comparison; CDC boundaries re-sync at the first hash hit, so
    originals and variants still share nearly all chunks. Same
    freq-capped inverted-index plan as the n-gram dedup family."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.expr("repeat('x', CAST(doc_id % 17 + 3 AS INT))"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    return text.cdc_chunk_pairs(docs.unionByName(variants))


# Brightness-shift "re-encode" for the video-dedup demo: every
# printable char maps one codepoint up (32…125 → 33…126) — a uniform
# +1 on every payload byte, the fake-codec analog of a level/gamma
# shift. Identical translate() alphabets feed Spark and the oracle.
_SHIFT_FROM = "".join(chr(c) for c in range(32, 126))
_SHIFT_TO = "".join(chr(c + 1) for c in range(32, 126))


def _video_dedup_oracle() -> str:
    """DuckDB twin of ``multimodal.video_dedup_pairs`` over the
    original ∪ brightness-shifted corpus: replays frames, deltas,
    27-bit shingle packing, the hot-shingle cap, and Jaccard."""
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               translate(text, '{esc(_SHIFT_FROM)}', '{esc(_SHIFT_TO)}')
        FROM documents
    ),
    meta AS (
        SELECT doc_id, text, length(text) AS n,
               length(text) % 30 + 1 AS n_frames
        FROM corpus WHERE length(text) > 0
    ),
    fr AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               CAST(ascii(text[CAST(i * (n // n_frames) AS INT) + 1])
                    AS BIGINT) AS cs,
               n_frames
        FROM meta, LATERAL unnest(range(0, n_frames)) t(i)
    ),
    de AS (
        SELECT doc_id, i,
               cs - lag(cs) OVER (PARTITION BY doc_id ORDER BY i) AS d,
               n_frames
        FROM fr
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               (d1 + 256) * 262144 + (d2 + 256) * 512 + (d3 + 256)
                   AS shingle
        FROM (
            SELECT doc_id, d AS d1,
                   lead(d, 1) OVER w AS d2, lead(d, 2) OVER w AS d3
            FROM de WHERE d IS NOT NULL
            WINDOW w AS (PARTITION BY doc_id ORDER BY i)
        )
        WHERE d2 IS NOT NULL AND d3 IS NOT NULL
    ),
    ok AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 500
    ),
    capped AS (SELECT sh.* FROM sh JOIN ok USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM capped GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) /
               CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) /
              CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
    """


@query("mm_video_dedup", oracle=_video_dedup_oracle())
def mm_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based video copy detection
    (``operators.multimodal.video_dedup_pairs``): Jaccard over 3-frame
    checksum-DELTA shingles — deltas cancel uniform level shifts, so
    the demo's brightness-shifted re-encodes (translate, +1 on every
    payload byte) match their originals at jaccard 1.0 even though
    every absolute signature (phash words, raw checksums) differs.
    Freq-capped inverted-index plan, same shape as the n-gram text
    dedup; FULL value oracle replays frames → deltas → 27-bit shingles
    → cap → Jaccard."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.translate(F.col("text"), _SHIFT_FROM, _SHIFT_TO).alias("text"),
    )
    corpus = multimodal.attach_binary_payload(docs.unionByName(variants))
    return multimodal.video_dedup_pairs(corpus, threshold=0.8)


@query(
    "dedup_cdc_excise",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               repeat('x', CAST(doc_id % 17 + 3 AS INT)) || ' ' || text
        FROM documents
    ),
    """
    + _cdc_chunk_sql("corpus")
    + """,
    r AS (
        SELECT doc_id, chunk_start, chunk_len, chunk_sha,
               row_number() OVER (PARTITION BY chunk_sha
                                  ORDER BY doc_id, chunk_start) AS rk
        FROM chunks
    ),
    f AS (
        SELECT r.doc_id, chunk_start, rk > 1 AS removed,
               substr(text, CAST(chunk_start + 1 AS INT),
                      CAST(chunk_len AS INT)) AS piece
        FROM r JOIN d USING (doc_id)
    ),
    g AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
               coalesce(string_agg(CASE WHEN NOT removed THEN piece END,
                                   '' ORDER BY chunk_start), '')
                   AS new_text
        FROM f GROUP BY doc_id
    )
    SELECT doc_id, n_removed,
           CAST(length(new_text) AS BIGINT) AS new_len,
           sha256(new_text) AS new_sha
    FROM g WHERE n_removed > 0
    """,
)
def dedup_cdc_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup EXCISION (``operators.text.cdc_excise``):
    every CDC chunk whose content already occurred earlier in the
    corpus — (doc_id, chunk_start) order, the first-occurrence rule of
    dedup_span_excise at chunk granularity — is removed and affected
    docs re-assemble from their kept chunks (patch-sized output;
    fully-duplicated docs empty out rather than disappear). Same demo
    corpus as dedup_cdc_chunks: prefix-inserted variants lose their
    post-resync duplicate chunks and keep roughly the prefix. FULL
    value oracle replays ranking, excision, ordered re-assembly, and
    the rebuilt docs' sha256."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.expr("repeat('x', CAST(doc_id % 17 + 3 AS INT))"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    return text.cdc_excise(docs.unionByName(variants))


@query(
    "sim_mips_topk",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_inner_product(q.qv,
                     CAST(e.embedding AS DOUBLE[])), 6) AS dot
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, dot, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY dot DESC, neighbor_id
        ) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-5 for the query set vec_id < 10
    — the recommendation-retrieval semantics (user·item), distinct
    from cosine because MIPS rewards magnitude.

    Same partition-local BLAS top-k shape as sim_bruteforce_topk
    (merge cost k·|queries| per partition, corpus-size independent).
    The SCALE path is the norm-augmentation reduction
    (``operators.similarity.mips_augment``): append sqrt(M²−‖x‖²) to
    corpus vectors and 0 to queries, and cosine order in the
    augmented space equals dot order — so MIPS reuses any cosine ANN
    index (sim_lsh_ann / sim_ivf_ann) unchanged; the order
    equivalence is pytest-pinned.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_mips_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "text_vocab_stats",
    # corpus vocabulary health: exact integer counts via the
    # word_vocab tokenization; the two ratios compose once from
    # identical doubles on both engines.
    oracle="""
    WITH words AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           round(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
               AS type_token_ratio
    FROM counts
    """,
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary-health scalars: types, tokens, hapax
    legomena, hapax ratio, type-token ratio (the pre-tokenizer
    diversity diagnostic)."""
    return text.vocab_stats(read_table(spark, sf_dir, "documents"))


@query(
    "emb_dim_stats",
    # per-dimension profile: generate_subscripts/unnest align
    # positionally in DuckDB; cross-row means ride DECIMAL(18,9)
    # component casts so the sum is exact under any partitioning.
    oracle="""
    WITH u AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_v,
           round(MIN(v), 6) AS min_v,
           round(MAX(v), 6) AS max_v
    FROM u GROUP BY dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution profile — dead-dimension
    and normalization-drift detection over an embedding feed."""
    return similarity.dim_stats(read_table(spark, sf_dir, "embeddings"))


@query(
    "sample_entity_split",
    # ENTITY-consistent train/test split: the split key is md5 of the
    # USER, not the row, so every event of a user lands in one split —
    # the leakage-safe discipline for per-entity features (a row-level
    # split trains on half of a user's history and tests on the rest).
    oracle="""
    WITH s AS (
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
                         >= 'cc'
                    THEN 'test' ELSE 'train' END AS split,
               user_id, event_type
        FROM events
    )
    SELECT split, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s GROUP BY split, event_type
    """,
)
def sample_entity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-consistent (leakage-safe) train/test split: events split
    by md5 of USER id so a user's whole history lands in one split,
    summarized per split × event_type.

    A pure map over the portable md5 stream (no shuffle to assign, no
    RNG state, identical on any engine) + one combinable aggregate
    with a two-phase distinct count. The invariant — no user appears
    in both splits — is pytest-pinned."""
    ev = read_table(spark, sf_dir, "events")
    split = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 2) >= "cc",
        F.lit("test"),
    ).otherwise(F.lit("train"))
    return (
        ev.select(split.alias("split"), "user_id", "event_type")
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@query(
    "emb_outlier_dist",
    # Distance-to-label-centroid outliers: centroid means ride the
    # DECIMAL(18,9) convention (exact under any partitioning, rounded
    # once), per-vector squared distances fold as DECIMAL(18,12) casts
    # of identical doubles, and only the 20 survivors see a rank
    # window.
    oracle="""
    WITH u AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings
    ),
    c AS (
        SELECT label, dim,
               round(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*), 6) AS c
        FROM u GROUP BY label, dim
    ),
    d AS (
        SELECT u.vec_id, u.label,
               round(sqrt(CAST(SUM(CAST((u.v - c.c) * (u.v - c.c)
                                        AS DECIMAL(18,12))) AS DOUBLE)),
                     6) AS dist
        FROM u JOIN c ON u.label = c.label AND u.dim = c.dim
        GROUP BY u.vec_id, u.label
    )
    SELECT vec_id, CAST(label AS INT) AS label, dist,
           CAST(ROW_NUMBER() OVER (ORDER BY dist DESC, vec_id) AS INT)
               AS rank
    FROM d
    QUALIFY rank <= 20
    """,
)
def emb_outlier_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier report: the 20 vectors farthest from their
    label's centroid — mislabeled/contaminated-sample detection over
    an embedding feed.

    Centroids are the d×labels per-dimension exact-decimal means
    (posexplode + combinable agg — the emb_dim_stats spine, label-
    keyed); they broadcast back onto the exploded vectors, squared
    distances fold per vector as DECIMAL casts of identical doubles
    (engine-stable), and the top-20 cut is a TakeOrdered — only the
    survivors see the rank window.
    """
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    u = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    c = u.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    diff = F.col("v") - F.col("c")
    d = (
        u.join(F.broadcast(c), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum((diff * diff).cast("decimal(18,12)")).cast(
                        "double"
                    )
                ),
                6,
            ).alias("dist")
        )
    )
    top = d.orderBy(F.col("dist").desc(), F.col("vec_id")).limit(20)
    wr = Window.orderBy(F.col("dist").desc(), F.col("vec_id"))
    return top.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "dist",
        F.row_number().over(wr).cast("int").alias("rank"),
    )


@query(
    "dedup_templates",
    # Skeleton dedup: normalize volatile spans (digit runs -> 0), then
    # reduce each document to its SORTED DISTINCT token set — a
    # word-order- and multiplicity-invariant skeleton that catches
    # shuffled/re-ordered boilerplate exact dedup misses and MinHash
    # only finds after paying shingling. Same groupBy shape as
    # dedup_exact (sha of the skeleton, min-id survivor).
    oracle="""
    WITH t AS (
        SELECT doc_id,
               sha256(array_to_string(list_sort(list_distinct(
                   list_filter(string_split(
                       regexp_replace(lower(text), '[0-9]+', '0', 'g'),
                       ' '), x -> x <> ''))), ' ')) AS skel_hash,
               sha256(text) AS text_hash
        FROM documents
    )
    SELECT skel_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text_hash) AS BIGINT) AS n_variants
    FROM t GROUP BY skel_hash
    HAVING COUNT(*) > 1
    """,
)
def dedup_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-skeleton dedup: digit runs collapse to ``0`` and each
    document reduces to its sorted distinct token set, so copies that
    differ only in IDs/counters OR in word order/repetition share one
    skeleton — the machine-generated-boilerplate catcher between
    exact dedup (misses both) and MinHash (finds them, but pays
    shingle explosion for what one narrow normalize decides).

    One narrow codegen pass (split -> filter -> distinct -> sort ->
    join -> sha2) + the dedup_exact groupBy shape (min-id survivor,
    distinct-variant count); emits only skeletons with >1 document.
    Map-side combinable end to end.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0"), " "
        ),
        lambda x: x != "",
    )
    skel = F.sha2(
        F.array_join(F.array_sort(F.array_distinct(toks)), " "), 256
    )
    t = docs.select(
        "doc_id",
        skel.alias("skel_hash"),
        F.sha2(F.col("text"), 256).alias("text_hash"),
    )
    return (
        t.groupBy("skel_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("text_hash").cast("bigint").alias("n_variants"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "text_vocab_coverage",
    # Tokenizer sizing: what share of all corpus TOKENS the top-K
    # vocabulary covers, for K in {10, 100, 1000}. Each top-K sum is
    # a TakeOrdered over the vocab-sized count frame (never a global
    # rank window); the scalar total broadcasts; shares compose once.
    oracle="""
    WITH words AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM counts
    ),
    tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT k,
           CAST((SELECT SUM(n) FROM ranked WHERE rank <= k) AS BIGINT)
               AS covered_tokens,
           round(CAST((SELECT SUM(n) FROM ranked WHERE rank <= k)
                      AS DOUBLE) / (SELECT t FROM tot), 6) AS coverage
    FROM (VALUES (10), (100), (1000)) ks(k)
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of all corpus tokens
    the top-10 / top-100 / top-1000 words cover — the
    how-big-must-the-vocab-be diagnostic before tokenizer training
    (flat coverage growth means a long tail BPE must handle).

    One vocab-sized combinable count shuffle, then each top-K sum is
    an ``orderBy().limit(K)`` TakeOrdered fold — no global rank
    window ever materializes the full vocabulary in one task; the
    token total is a 1-row broadcast scalar and the shares compose
    once.
    """
    docs = read_table(spark, sf_dir, "documents")
    words = F.explode(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
        )
    ).alias("word")
    counts = (
        docs.select(words)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(F.sum("n").alias("t"))
    parts = []
    for k in (10, 100, 1000):
        topk = (
            counts.orderBy(F.col("n").desc(), F.col("word"))
            .limit(k)
            .agg(F.sum("n").alias("c"))
            .select(F.lit(k).alias("k"), "c")
        )
        parts.append(topk)
    u = parts[0].unionAll(parts[1]).unionAll(parts[2])
    return u.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("int").alias("k"),
        F.col("c").cast("bigint").alias("covered_tokens"),
        F.round(
            F.col("c").cast("double") / F.col("t").cast("double"), 6
        ).alias("coverage"),
    )
