"""[EXT] queries: text analysis, dedup, similarity search (SURVEY.md
section 2.10, north-star training-data-pipeline scope).

Cross-engine determinism: token counts are exact integers, ratios are single
double divisions of exact integers, hashes are md5 (identical in both
engines), and cosine similarities are computed element-sequentially in double
precision with identical association order, then rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.operators import textstats
from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
    BPE_RE,
    LANG_PRIORITY,
    TOKEN_RE,
    duck_lang_arr,
    duck_stop_list,
    with_fingerprints,
    with_lang_guess,
    with_quality_score,
    with_token_stats,
)
from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
    duck_hash_uniform,
)
from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import load_table, parallel_scan
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
    drain,
    replay_feed,
)

_DUCK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"

# ---------------------------------------------------------------------------
# E3: per-document quality metrics.
# ---------------------------------------------------------------------------
_QUALITY_SQL = f"""
WITH s AS (
  SELECT doc_id, lang, source,
         CAST(len({_DUCK_TOK}) AS BIGINT) AS n_tokens,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
         CAST(len(list_distinct({_DUCK_TOK})) AS BIGINT) AS n_distinct_tokens,
         CAST(list_sum(list_transform({_DUCK_TOK}, x -> length(x))) AS BIGINT) AS total_token_chars,
         CAST(len(list_filter({_DUCK_TOK}, x -> list_contains({duck_stop_list()}, x))) AS BIGINT) AS n_stopword_tokens
  FROM documents
)
SELECT doc_id, lang, source, n_tokens, n_ws_tokens, n_distinct_tokens,
       total_token_chars, n_stopword_tokens,
       CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS ttr,
       CAST(total_token_chars AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(n_stopword_tokens AS DOUBLE) / n_tokens AS stopword_ratio,
       round(0.4 * (CAST(n_distinct_tokens AS DOUBLE) / n_tokens)
             + 0.3 * least(1.0, n_tokens / 100.0)
             + 0.3 * (1.0 - CAST(n_stopword_tokens AS DOUBLE) / n_tokens), 6) AS quality_score
FROM s
"""


@register(
    "text_quality",
    oracle=_QUALITY_SQL,
    doc="E3: per-doc token stats + composite quality score (codegen-only array exprs)",
    tags=("ext", "text", "bench"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    out = with_quality_score(with_token_stats(docs))
    return out.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("long"),
        F.col("n_ws_tokens").cast("long"),
        F.col("n_distinct_tokens").cast("long"),
        F.col("total_token_chars").cast("long"),
        F.col("n_stopword_tokens").cast("long"),
        "ttr",
        "avg_token_len",
        "stopword_ratio",
        "quality_score",
    )


# ---------------------------------------------------------------------------
# E3: stopword-hit language ID, confusion summary vs the labeled lang.
# ---------------------------------------------------------------------------
_score_sql = ",\n         ".join(
    f"CAST(len(list_intersect({_DUCK_TOK}, {duck_lang_arr(lang)})) AS BIGINT) AS score_{lang}"
    for lang in LANG_PRIORITY
)
_mx = "greatest(" + ", ".join(f"score_{lang}" for lang in LANG_PRIORITY) + ")"
_case = "CASE " + " ".join(
    f"WHEN score_{lang} = {_mx} THEN '{lang}'" for lang in LANG_PRIORITY
) + " END"

_LANGID_SQL = f"""
WITH scored AS (
  SELECT lang,
         {_score_sql}
  FROM documents
)
SELECT lang, {_case} AS lang_guess, count(*) AS n
FROM scored
GROUP BY 1, 2
"""


@register(
    "lang_id_confusion",
    oracle=_LANGID_SQL,
    doc="E3: n-gram/stopword language-ID heuristic, label-vs-guess confusion counts",
    tags=("ext", "text"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    guessed = with_lang_guess(docs)
    return guessed.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# E3: token counting under both token models, per source.
# ---------------------------------------------------------------------------
_TOKCOUNT_SQL = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len({_DUCK_TOK})) AS BIGINT) AS total_word_tokens,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_ws_tokens,
       CAST(sum(len(regexp_extract_all(lower(text), '{BPE_RE}'))) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
"""


@register(
    "token_counts_by_source",
    oracle=_TOKCOUNT_SQL,
    doc="E3: whitespace + word-regex + BPE-ish token counts per source",
    tags=("ext", "text"),
)
def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    # Spark SQL string literals are backslash-escaped (DuckDB's are not):
    # regex backslashes must be doubled on this side only.
    bpe_spark = BPE_RE.replace("\\", "\\\\")
    word = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
    ws = "split(trim(text), '\\\\s+')"
    bpe = f"regexp_extract_all(lower(text), '{bpe_spark}', 0)"
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr(f"size({word})")).cast("long").alias("total_word_tokens"),
        F.sum(F.expr(f"size({ws})")).cast("long").alias("total_ws_tokens"),
        F.sum(F.expr(f"size({bpe})")).cast("long").alias("total_bpe_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# E3: document fingerprints (content hash + char-5-gram hash extremes).
# ---------------------------------------------------------------------------
_FP_SQL = """
SELECT doc_id,
       md5(text) AS content_hash,
       list_min(list_transform(range(1, greatest(length(lower(text)) - 4, 1) + 1),
                               i -> md5(substr(lower(text), i, 5)))) AS min_gram_hash,
       list_max(list_transform(range(1, greatest(length(lower(text)) - 4, 1) + 1),
                               i -> md5(substr(lower(text), i, 5)))) AS max_gram_hash
FROM documents
"""


@register(
    "doc_fingerprints",
    oracle=_FP_SQL,
    doc="E3: md5 content hash + min/max char-5-gram rolling hashes per doc",
    tags=("ext", "text"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    return with_fingerprints(docs).select(
        "doc_id", "content_hash", "min_gram_hash", "max_gram_hash"
    )


# ===========================================================================
# E1: deduplication suite
# ===========================================================================
from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (  # noqa: E402
    duck_band_union,
    duck_minhash_cols,
    duck_shingles,
    shingles_expr,
    lsh_candidate_pairs,
    simhash_near_pairs,
    simhash_signatures,
    simhash_signatures_centered,
    simhash_words,
    simhash_words_centered,
    verified_jaccard,
    with_bands,
    with_minhash,
    with_shingles,
    SIMHASH_BITS,
    SIMHASH_BANDS,
    SIMHASH_BAND_BITS,
    SIMHASH_MAX_HAMMING,
    SIMHASH_REPORT_HAMMING,
    SIMHASH_WIDE_BITS,
    SIMHASH_WIDE_BAND_BITS,
    SIMHASH_WIDE_MAX_HAMMING,
    simhash_wide_near_pairs,
    wide_band_combos,
    _salted_band_self_join,
    jaccard_allpairs_pairs,
)

_EXACT_SUMMARY_SQL = """
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct_texts,
       count(*) - count(DISTINCT md5(text)) AS n_dup_docs
FROM documents
GROUP BY source
"""


@register(
    "dedup_exact_summary",
    oracle=_EXACT_SUMMARY_SQL,
    doc="E1: exact-duplicate accounting per source (hash-groupBy distinct)",
    tags=("ext", "dedup"),
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dup_docs"),
    )


_EXACT_GROUPS_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register(
    "dedup_exact_groups",
    oracle=_EXACT_GROUPS_SQL,
    doc="E1: exact dedup groups — canonical keeper (min doc_id) per content hash",
    tags=("ext", "dedup"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_MINHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, {duck_shingles()} AS sh FROM documents
),
mh AS (
  SELECT doc_id, sh,
         {duck_minhash_cols()}
  FROM tok
),
bands AS (
  {duck_band_union()}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
)
SELECT p.doc_a, p.doc_b,
       round(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
             / len(list_distinct(ta.sh || tb.sh)), 6) AS jaccard
FROM pairs p
JOIN tok ta ON ta.doc_id = p.doc_a
JOIN tok tb ON tb.doc_id = p.doc_b
"""


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_SQL,
    doc="E1: MinHash(12)+LSH(4x3) candidate pairs with exact Jaccard verification",
    tags=("ext", "dedup", "bench"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    shingled = with_shingles(docs).select("doc_id", "sh")
    banded = with_bands(with_minhash(shingled))
    pairs = lsh_candidate_pairs(banded)
    return verified_jaccard(pairs, shingled)


def _simhash_bands_union(bands_per_key: int) -> str:
    """DuckDB twin of simhash_near_pairs' C(8, b) composite-key explode —
    one UNION ALL leg per unordered b-subset of the 8 bands."""
    from itertools import combinations

    return "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, sig, {idx} AS band_idx, "
        + " || ".join(
            f"substr(sig, {i * SIMHASH_BAND_BITS + 1}, {SIMHASH_BAND_BITS})"
            for i in combo
        )
        + " AS band_key FROM sigs"
        for idx, combo in enumerate(
            combinations(range(SIMHASH_BANDS), bands_per_key)
        )
    )


_SIMHASH_BANDS_UNION = _simhash_bands_union(2)


def _simhash_wide_bands_union() -> str:
    """DuckDB twin of simhash_wide_near_pairs' half-split 140-key explode —
    one UNION ALL leg per 4-band combo within each 8-band half (see the
    SIMHASH_WIDE_* design comment in operators/dedup.py)."""
    bb = SIMHASH_WIDE_BAND_BITS
    return "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, sig, {idx} AS band_idx, "
        + " || ".join(f"substr(sig, {i * bb + 1}, {bb})" for i in combo)
        + " AS band_key FROM sigs"
        for idx, combo in enumerate(wide_band_combos())
    )


def _simhash_hamming(bits: int) -> str:
    """Per-character Hamming distance between x.sig and y.sig in DuckDB.
    Terms are grouped into parenthesized chunks of 32: a flat 128-term
    ``+`` chain binds left-recursively and exceeds DuckDB's 128-deep
    binder recursion limit."""
    terms = [
        f"(CASE WHEN substr(x.sig, {i + 1}, 1) <> substr(y.sig, {i + 1}, 1) THEN 1 ELSE 0 END)"
        for i in range(bits)
    ]
    chunks = [
        "(" + " + ".join(terms[i : i + 32]) + ")" for i in range(0, bits, 32)
    ]
    return " + ".join(chunks)


def _duck_centered_sig_ctes(source: str = "documents", bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of operators.dedup.simhash_signatures_centered: the
    toks/raw/dr/cv/sigs CTE block ending in sigs(doc_id, sig). All-integer
    centering v'_i = F * v_i - n_tokens * S_i (see the operator docstring
    for the bias story)."""
    s_tok = lambda i: (  # noqa: E731
        "(CASE WHEN ((instr('0123456789abcdef', substr(md5(tok), "
        f"{i // 4 + 1}, 1)) - 1) // {1 << (i % 4)}) % 2 = 1 THEN 1 ELSE -1 END)"
    )
    votes = ",\n         ".join(f"sum({s_tok(i)}) AS r_{i}" for i in range(bits))
    drift = ",\n         ".join(f"sum({s_tok(i)}) AS s_{i}" for i in range(bits))
    cvote = ",\n         ".join(
        f"d.f0 * v.r_{i} - v.nt * d.s_{i} AS v_{i}" for i in range(bits)
    )
    # Variadic concat(): a ||-chain of 128 CASE terms binds left-recursively
    # and exceeds DuckDB's 128-deep binder recursion limit.
    sig = "concat(" + ", ".join(
        f"(CASE WHEN v_{i} > 0 THEN '1' ELSE '0' END)" for i in range(bits)
    ) + ")"
    return f"""toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM {source}
),
raw AS (
  SELECT doc_id, count(*) AS nt,
         {votes}
  FROM toks GROUP BY doc_id
),
dr AS (
  SELECT count(*) AS f0,
         {drift}
  FROM toks
),
cv AS (SELECT v.doc_id, {cvote} FROM raw v CROSS JOIN dr d),
sigs AS MATERIALIZED (SELECT doc_id, {sig} AS sig FROM cv)"""




# ---------------------------------------------------------------------------
# Fuzzy-blocking recall audit: dedup_fuzzy_edit's SimHash gate is a
# recall/cost trade (Manku ships k=3/64-bit for 8B docs); this query pins
# the ACTUAL recall on data — all-pairs prefix-Levenshtein truth on a
# deterministically thinned sample (mod = ceil(n/target), bounded at every
# tier) vs the production centered-sig band-triple blocking on the SAME
# sample. recall_ppm is checked output: a blocking regression (bias
# returning, band misconfig) moves it and fails the oracle hash.
# ---------------------------------------------------------------------------


_SIMHASH_VOTES = ",\n         ".join(
    f"sum(CASE WHEN ((instr('0123456789abcdef', substr(md5(tok), {i // 4 + 1}, 1)) - 1) // {1 << (i % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS v_{i}"
    for i in range(SIMHASH_BITS)
)
_SIMHASH_SIG = " || ".join(
    f"(CASE WHEN v_{i} > 0 THEN '1' ELSE '0' END)" for i in range(SIMHASH_BITS)
)
_SIMHASH_HAMMING = " + ".join(
    f"(CASE WHEN substr(x.sig, {i + 1}, 1) <> substr(y.sig, {i + 1}, 1) THEN 1 ELSE 0 END)"
    for i in range(SIMHASH_BITS)
)

_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
votes AS (
  SELECT doc_id,
         {_SIMHASH_VOTES}
  FROM toks GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {_SIMHASH_SIG} AS sig FROM votes
),
bands AS (
  {_SIMHASH_BANDS_UNION}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST({_SIMHASH_HAMMING} AS BIGINT) AS hamming
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {SIMHASH_REPORT_HAMMING}
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_SQL,
    doc=f"E1: {SIMHASH_BITS}-bit SimHash near-dup pairs (Manku 2007 band-pair "
    f"join, reported at the production Hamming <= {SIMHASH_REPORT_HAMMING} "
    f"threshold — candidate generation is lossless to <= {SIMHASH_MAX_HAMMING} "
    f"by 2-of-{SIMHASH_BANDS} pigeonhole)",
    tags=("ext", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    sigs = simhash_words(docs)
    return simhash_near_pairs(sigs, max_hamming=SIMHASH_REPORT_HAMMING)


# ---------------------------------------------------------------------------
# SimHash at the FULL pigeonhole-lossless threshold with an exact verify
# stage. dedup_simhash reports at the production <= 3 threshold because on
# dense corpora the raw loose-gate pair set itself grows ~quadratically
# (round-6 tier: output exponent 2.8 — bit-agreement by chance, not
# duplication). The fix is the dedup_fuzzy_edit pattern: generate
# candidates at the full lossless gate, then keep only pairs whose
# word-3-gram sets pass integer Jaccard dominance 2*|I| >= |U| (J >= 1/2).
# Chance bit-agreement has near-zero shingle overlap, so REPORTED pairs
# track true duplication (~linear); the verify join runs over candidates
# only, never all-pairs.
#
# Round-8: signatures widened 64 -> 128 bits with half-split 4-of-8-band
# keys (32-bit keys, 140 tables, lossless to Hamming <= 9) — the 64-bit
# config's 16-bit band-pair keys saturated at the sf100 tier (chance
# collisions ~28 * n^2 / 2^16 GC-thrashed the verify at 5M docs). Gate
# <= 9 on 128 bits ~= the old <= 6 on 64 angularly, so reported semantics
# track the same near-dup operating point on twice the bits.
# ---------------------------------------------------------------------------
_SIMHASH_VERIFIED_SQL = f"""
WITH {_duck_centered_sig_ctes(bits=SIMHASH_WIDE_BITS)},
bands AS (
  {_simhash_wide_bands_union()}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST({_simhash_hamming(SIMHASH_WIDE_BITS)} AS BIGINT) AS hamming
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
),
tok AS (
  SELECT doc_id, {duck_shingles()} AS sh FROM documents
)
SELECT p.doc_a, p.doc_b, p.hamming,
       CAST(1000000 * len(list_intersect(ta.sh, tb.sh))
            // len(list_distinct(ta.sh || tb.sh)) AS BIGINT) AS jaccard_ppm
FROM pairs p
JOIN tok ta ON ta.doc_id = p.doc_a
JOIN tok tb ON tb.doc_id = p.doc_b
WHERE p.hamming <= {SIMHASH_WIDE_MAX_HAMMING}
  AND 2 * len(list_intersect(ta.sh, tb.sh)) >= len(list_distinct(ta.sh || tb.sh))
"""


@register(
    "dedup_simhash_verified",
    oracle=_SIMHASH_VERIFIED_SQL,
    doc=f"E1: CENTERED wide-SimHash ({SIMHASH_WIDE_BITS}-bit) near-dup pairs "
    f"at the FULL lossless Hamming <= {SIMHASH_WIDE_MAX_HAMMING} half-split "
    "band threshold, verified by exact word-3-gram Jaccard dominance "
    "(2|I| >= |U|) so reported pairs stay ~linear on dense corpora (closes "
    "the r06 dedup_simhash output-growth caveat; verify runs on candidates "
    "only, never all-pairs)",
    tags=("ext", "dedup"),
)
def dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: salted half-split band self-join generates O(near-dup)
    candidates (32-bit keys: chance-collision mass ~140 * n^2 / 2^33 stays
    negligible through ~10^8 docs where the r07 16-bit band-pair keys
    exploded at 5M); the shingle-set verify is a hash join of the candidate
    list against the shingled corpus (two shuffles on doc id, both
    candidate-bounded); integer ppm output keeps the hash oracle-exact.
    Signatures are CENTERED (round-7): raw-sig bits are corpus-biased on
    boilerplate-heavy corpora and saturate band buckets at any key width."""
    docs = parallel_scan(spark, sf_dir, "documents")
    sigs = simhash_words_centered(docs, bits=SIMHASH_WIDE_BITS)
    cand = simhash_wide_near_pairs(sigs, max_hamming=SIMHASH_WIDE_MAX_HAMMING)
    shingled = with_shingles(docs).select("doc_id", "sh")
    a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_i", F.expr("size(array_intersect(sh_a, sh_b))").cast("long"))
        .withColumn("n_u", F.expr("size(array_union(sh_a, sh_b))").cast("long"))
        .filter(F.col("n_i") * 2 >= F.col("n_u"))
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            F.expr("CAST(1000000 * n_i div n_u AS BIGINT)").alias("jaccard_ppm"),
        )
    )


_NGRAM_JACCARD_THRESHOLD = 0.2

_NGRAM_JACCARD_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, {duck_shingles()} AS sh FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.source,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
FROM tok a
JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(a.sh || b.sh)) >= {_NGRAM_JACCARD_THRESHOLD}
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_SQL,
    doc="E1: exact word-3-gram Jaccard near-dups, source-blocked pairwise "
    "(blocking bounds the pair count; the LSH query is the unblocked scale path)",
    tags=("ext", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    shingled = with_shingles(docs).select("doc_id", "source", "sh")
    a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("source"), F.col("sh").alias("sh_a")
    )
    b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("source"), F.col("sh").alias("sh_b")
    )
    jac = F.expr("size(array_intersect(sh_a, sh_b))").cast("double") / F.expr(
        "size(array_union(sh_a, sh_b))"
    )
    return (
        a.join(b, "source")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= _NGRAM_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "source", F.round("jac_raw", 6).alias("jaccard"))
    )


# ===========================================================================
# E2/E4: embedding similarity suite
# ===========================================================================
from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (  # noqa: E402
    assign_ivf_flat_clusters,
    brute_force_topk,
    cosine_expr,
    cosine_precomp,
    duck_bucket,
    duck_cosine,
    topk_per_query,
    with_lsh_bucket,
    with_sq_norm,
)

_NEARDUP_COS_THRESHOLD = 0.3

_EMB_NEARDUP_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_NEARDUP_COS_THRESHOLD}
"""


@register(
    "embedding_near_dups",
    oracle=_EMB_NEARDUP_SQL,
    doc="E1/E2: same-label embedding pairs above a cosine threshold (blocked all-pairs)",
    tags=("ext", "similarity"),
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallel_scan(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("label"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("label"), F.col("embedding").alias("emb_b"))
    cos = cosine_expr("emb_a", "emb_b")
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _NEARDUP_COS_THRESHOLD)
        .select("vec_a", "vec_b", "label", F.round("cos_raw", 6).alias("cosine"))
    )


_ANN_QUERY_LIMIT = 50
_ANN_K = 10

_ANN_BRUTE_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {duck_cosine('q.embedding', 'v.embedding')} AS cos_raw
  FROM embeddings q
  JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
FROM ranked WHERE rank <= {_ANN_K}
"""


@register(
    "ann_topk_bruteforce",
    oracle=_ANN_BRUTE_SQL,
    doc="E2: exact cosine top-10 neighbors for a broadcast query set (baseline ANN)",
    tags=("ext", "similarity", "bench"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallel_scan(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT)
    return brute_force_topk(emb, queries, k=_ANN_K)


_ANN_LSH_SQL = f"""
WITH buckets AS (
  SELECT vec_id, label, embedding, {duck_bucket('embedding')} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
       round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
FROM buckets a
JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
"""


@register(
    "ann_lsh_bucketed",
    oracle=_ANN_LSH_SQL,
    doc="E2: random-hyperplane LSH buckets (md5-derived planes) -> in-bucket candidate pairs",
    tags=("ext", "similarity"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallel_scan(spark, sf_dir, "embeddings")
    bucketed = with_lsh_bucket(emb)
    a = bucketed.select(F.col("vec_id").alias("vec_a"), F.col("bucket"), F.col("embedding").alias("emb_a"))
    b = bucketed.select(F.col("vec_id").alias("vec_b"), F.col("bucket"), F.col("embedding").alias("emb_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", "bucket",
            F.round(cosine_expr("emb_a", "emb_b"), 6).alias("cosine"),
        )
    )


# ===========================================================================
# E4: multimodal columns (opaque binary payload + typed metadata; decode is
# a clearly-marked stub — the Spark plumbing is the deliverable).
# ===========================================================================
from amazon_kinesis_data_streams_health_check_spark.operators.multimodal import (  # noqa: E402
    decode_media,
    frame_sample,
    synthesize_media,
)

_MEDIA_STATS_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         encode(text) AS payload,
         n_chars % 640 + 1 AS width,
         n_chars % 480 + 1 AS height,
         n_chars * 10 AS duration_ms
  FROM documents
)
SELECT kind,
       count(*) AS n_media,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       CAST(min(width) AS BIGINT) AS min_width,
       CAST(max(height) AS BIGINT) AS max_height,
       CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
FROM media
GROUP BY kind
"""


@register(
    "media_stats",
    oracle=_MEDIA_STATS_SQL,
    doc="E4: binary media columns + typed metadata, grouped byte/dimension stats",
    tags=("ext", "multimodal"),
)
def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(parallel_scan(spark, sf_dir, "documents"))
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.length("payload")).cast("long").alias("total_bytes"),
        F.min("width").cast("long").alias("min_width"),
        F.max("height").cast("long").alias("max_height"),
        F.sum("duration_ms").cast("long").alias("total_duration_ms"),
    )


def _media_feature_chunk_sql(i: int) -> str:
    """DuckDB twin of one ``np.array_split(bytes, 8)`` chunk mean: l = n//8,
    r = n%8; chunk i is size l+1 starting at i*(l+1) for i<r, else size l
    starting at r + i*l. ascii() == byte value because the corpus is ASCII
    (same documented equivalence as the media_frame_sample oracle)."""
    sz = f"(CASE WHEN {i} < (n % 8) THEN n // 8 + 1 ELSE n // 8 END)"
    st = f"(CASE WHEN {i} < (n % 8) THEN {i} * (n // 8 + 1) ELSE (n % 8) + {i} * (n // 8) END)"
    return (
        f"CASE WHEN {sz} = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
        f"round(CAST(CAST(list_avg(list_transform(range({st} + 1, {st} + {sz} + 1),"
        f" j -> ascii(substr(text, j, 1)))) AS REAL) AS DOUBLE), 6) END AS f{i}"
    )


_MEDIA_FEATURES_SQL = (
    """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text)) AS n,
         text
  FROM documents
)
SELECT media_id, kind, CAST(n AS BIGINT) AS n_bytes,
       """
    + ",\n       ".join(_media_feature_chunk_sql(i) for i in range(8))
    + "\nFROM m"
)


@register(
    "media_features",
    # The fake featurizer (mean byte of 8 np.array_split chunks, float32-
    # rounded) is deterministic and expressible over the ASCII corpus, so the
    # mapInPandas path gets a full value-hash oracle, not just a rows check.
    oracle=_MEDIA_FEATURES_SQL,
    doc="E4: Arrow-batched mapInPandas feature extraction over binary payloads "
    "(fake decoder; feature vector projected to scalar f0..f7 for the "
    "cross-engine hash)",
    tags=("ext", "multimodal"),
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(parallel_scan(spark, sf_dir, "documents"))
    feats = decode_media(media, decoder="fake")
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[
            F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(f"f{i}")
            for i in range(8)
        ],
    )


_FRAME_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text, octet_length(encode(text)) AS n_bytes
  FROM documents
),
video AS (
  SELECT media_id, text,
         least(greatest(n_bytes // 64, 1), 8) AS n
  FROM media WHERE kind = 'video'
)
SELECT media_id,
       unnest(range(0, n)) AS frame_idx,
       unnest(range(0, n)) * 64 AS byte_offset,
       md5(substring(text, unnest(range(0, n)) * 64 + 1, 64)) AS frame_md5
FROM video
"""


@register(
    "media_frame_sample",
    # The oracle slices VARCHAR where Spark slices BINARY: equivalent because
    # the corpus is ASCII (byte n == char n) — a property the hash-compare
    # itself would catch if the testdata ever grew multibyte text.
    oracle=_FRAME_SQL,
    doc="E4: video frame sampling plumbing (explode to frame rows with byte "
    "offsets; frames projected as md5 for the cross-engine hash check)",
    tags=("ext", "multimodal"),
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(parallel_scan(spark, sf_dir, "documents"))
    return frame_sample(media).select(
        "media_id",
        "frame_idx",
        "byte_offset",
        F.md5("frame_bytes").alias("frame_md5"),
    )


_AUDIO_WINDOWS_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, least(n_chars * 10, 4000) AS total
  FROM documents WHERE doc_id % 3 = 1
),
w AS (
  SELECT media_id, unnest(range(0, (total - 256) // 128 + 1)) AS widx
  FROM m WHERE total >= 256
),
s AS (SELECT media_id, widx, unnest(range(0, 256)) AS k FROM w),
v AS (
  SELECT media_id, widx,
         (media_id * 31 + (widx * 128 + k) * 7) % 256 - 128 AS sv
  FROM s
)
SELECT media_id,
       CAST(widx AS BIGINT) AS widx,
       CAST(widx * 128 AS BIGINT) AS start_ms,
       CAST(256 AS BIGINT) AS n_samples,
       CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
       CAST(max(abs(sv)) AS BIGINT) AS peak
FROM v GROUP BY media_id, widx
"""


@register(
    "media_audio_windows",
    # The fake PCM is pure integer arithmetic over (media_id, sample index),
    # so generate_series reproduces every sample; the stats are BIGINT-exact
    # (no float accumulation order anywhere).
    oracle=_AUDIO_WINDOWS_SQL,
    doc="E4: audio analysis-window framing — overlapping 256-sample windows "
    "at 128-sample hop over deterministic fake PCM, integer-exact energy "
    "(sum of squares) and peak per window, full-window-only tail handling",
    tags=("ext", "multimodal"),
)
def media_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one Arrow ``mapInPandas`` pass, zero shuffle — each
    audio row expands to its windows inside its partition, numpy frames the
    PCM with a strided view (no Python per-sample loop). The windowing
    geometry, Arrow batch shape, and full-window tail rule are the real
    engineering; a production build swaps the fake decoder for the codec
    behind ``_real_decode``."""
    from amazon_kinesis_data_streams_health_check_spark.operators.multimodal import (
        audio_windows,
    )

    media = synthesize_media(parallel_scan(spark, sf_dir, "documents"))
    return audio_windows(media)


# ---------------------------------------------------------------------------
# E2: ANN quality + IVF scale path.
# ---------------------------------------------------------------------------
_LSH_RECALL_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {duck_cosine('q.embedding', 'v.embedding')} AS cos_raw
  FROM embeddings q
  JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_ANN_K}
),
buckets AS (
  SELECT vec_id, {duck_bucket('embedding')} AS bucket FROM embeddings
),
cand AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id
  FROM buckets q JOIN buckets v ON q.bucket = v.bucket AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
)
SELECT t.query_id,
       count(*) AS n_topk,
       CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS recall
FROM topk t
LEFT JOIN cand c ON t.query_id = c.query_id AND t.neighbor_id = c.neighbor_id
GROUP BY t.query_id
"""


@register(
    "ann_lsh_recall",
    oracle=_LSH_RECALL_SQL,
    doc="E2: per-query recall of LSH bucket candidates vs exact top-k "
    "(self-measurement of the approximate path)",
    tags=("ext", "similarity"),
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallel_scan(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT)
    topk = brute_force_topk(emb, queries, k=_ANN_K).select("query_id", "neighbor_id")
    bucketed = with_lsh_bucket(emb).select("vec_id", "bucket")
    cand = (
        bucketed.filter(F.col("vec_id") < _ANN_QUERY_LIMIT)
        .select(F.col("vec_id").alias("query_id"), "bucket")
        .join(bucketed.select(F.col("vec_id").alias("neighbor_id"), "bucket"), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .withColumn("is_cand", F.lit(1))
    )
    merged = topk.join(cand, ["query_id", "neighbor_id"], "left")
    return merged.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_topk"),
        F.sum(F.coalesce("is_cand", F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("is_cand", F.lit(0))).cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


_IVF_CONTRACT_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       TRUE AS all_results_in_probed_cluster,
       TRUE AS no_result_beats_exact_top1,
       TRUE AS mean_recall_ge_150_milli
FROM embeddings WHERE vec_id < {_ANN_QUERY_LIMIT}
"""


@register(
    "ann_ivf",
    oracle=_IVF_CONTRACT_SQL,
    doc="E2: IVF ANN accuracy contract — KMeans coarse quantizer "
    "(pyspark.ml), nprobe=1 probe, exact cosine re-rank in the probed "
    "cluster; the learned clustering is not SQL-expressible, so the hash "
    "carries its CONTRACT: results stay inside the probed cluster, never "
    "beat the exact top-1, and mean recall@k clears a floor well above "
    "the 1/k random baseline (oracle asserts TRUE, the "
    "approx_quantile_contract device)",
    tags=("ext", "similarity"),
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: train the quantizer on a sample, broadcast the centroids
    (model.transform is a JVM-side map), partition the corpus by cluster id;
    a query then touches ~1/k of the data instead of all of it. Here
    nprobe=1 and full-corpus training keep the example small.

    Contract floor: measured mean recall@10 is ~0.29-0.33 at sf0.001/sf0.01
    vs the 1/16 = 0.0625 random-assignment baseline; the 0.150 floor fails
    a broken quantizer loudly while tolerating KMeans run variance. The
    exact top-k twin exists HERE to measure the approximate leg (the
    ann_lsh_recall pattern); production keeps only the IVF leg."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = parallel_scan(spark, sf_dir, "embeddings")
    feat = emb.select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(k=16, seed=42, maxIter=5).fit(feat)
    assigned = model.transform(feat).select(
        "vec_id", "embedding", F.col("prediction").alias("cluster")
    )
    assigned = assigned.localCheckpoint(eager=False)  # quantizer feeds 3 legs
    queries = assigned.filter(F.col("vec_id") < _ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        "cluster",
    )
    cands = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        "cluster",
    )
    scored = (
        with_sq_norm(queries, "emb_q", "nq2")
        .join(with_sq_norm(cands, "emb_n", "nn2"), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", cosine_precomp("emb_q", "emb_n", "nq2", "nn2"))
    )
    ivf = topk_per_query(scored, k=_ANN_K)
    ivf = ivf.localCheckpoint(eager=False)  # feeds 3 audit legs

    # --- contract audits (all wide inputs are queries x k sized) ---
    clusters = assigned.select("vec_id", "cluster")
    in_cluster = (
        ivf.join(
            clusters.select(
                F.col("vec_id").alias("query_id"), F.col("cluster").alias("qc")
            ),
            "query_id",
        )
        .join(
            clusters.select(
                F.col("vec_id").alias("neighbor_id"), F.col("cluster").alias("nc")
            ),
            "neighbor_id",
        )
        .agg(
            F.coalesce(F.min((F.col("qc") == F.col("nc")).cast("int")), F.lit(1))
            .cast("boolean")
            .alias("all_results_in_probed_cluster")
        )
    )
    exact = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT), k=_ANN_K
    )
    exact = exact.localCheckpoint(eager=False)  # feeds top1 AND recall legs
    ivf_top1 = ivf.groupBy("query_id").agg(F.max("cosine").alias("ivf_top1"))
    exact_top1 = exact.groupBy("query_id").agg(F.max("cosine").alias("exact_top1"))
    # Monotone rounding: true ivf cosine <= true exact top-1, and both sides
    # round identically (topk_per_query), so <= survives the round to 6.
    bounded = ivf_top1.join(exact_top1, "query_id").agg(
        F.coalesce(
            F.min((F.col("ivf_top1") <= F.col("exact_top1")).cast("int")), F.lit(1)
        )
        .cast("boolean")
        .alias("no_result_beats_exact_top1")
    )
    recall = (
        exact.select("query_id", "neighbor_id")
        .join(
            ivf.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("h"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            (F.avg(F.col("h") / F.col("n")) >= 0.150).alias(
                "mean_recall_ge_150_milli"
            ),
        )
    )
    return (
        recall.crossJoin(F.broadcast(in_cluster))
        .crossJoin(F.broadcast(bounded))
        .select(
            "n_queries",
            "all_results_in_probed_cluster",
            "no_result_beats_exact_top1",
            "mean_recall_ge_150_milli",
        )
    )


_IVF_FLAT_NC = 16

_IVF_FLAT_SQL = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id,
         embedding AS emb_c
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {_IVF_FLAT_NC}
),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {duck_cosine('e.embedding', 'c.emb_c')} DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
cand AS (
  SELECT q.vec_id AS query_id, q.cluster, v.vec_id AS neighbor_id,
         {duck_cosine('q.embedding', 'v.embedding')} AS cos_raw
  FROM assigned q
  JOIN assigned v ON v.cluster = q.cluster AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
)
SELECT query_id, cluster, neighbor_id, round(cos_raw, 6) AS cosine, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
  ) AS rank
  FROM cand
) WHERE rank <= {_ANN_K}
"""


@register(
    "ann_ivf_flat",
    oracle=_IVF_FLAT_SQL,
    doc="E2: IVF ANN with a deterministic coarse quantizer (centroids = the "
    f"{_IVF_FLAT_NC} md5-smallest vectors, argmax-cosine assignment) — the "
    "fully reproducible, SQL-expressible twin of the KMeans ann_ivf, so the "
    "whole IVF mechanism (assign, nprobe=1 probe, exact re-rank) is "
    "value-hash-checked against DuckDB",
    tags=("ext", "similarity"),
)
def ann_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the centroid set is tiny and broadcast; assignment is a
    map-side min(struct) partial agg (no window); the probe join shuffles on
    ``cluster`` (bounded fan-out, uniform for pseudo-random centroids) and
    the re-rank is the two-phase :func:`topk_per_query` merge. KMeans gives
    better centroids but is not cross-engine reproducible; the quantizer is
    pluggable — everything downstream of ``(vec_id, cluster)`` is identical."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    assigned = (
        assign_ivf_flat_clusters(emb, n_centroids=_IVF_FLAT_NC)
        .join(emb, "vec_id")
        .select("vec_id", "cluster", "embedding")
    )
    queries = assigned.filter(F.col("vec_id") < _ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"), "cluster", F.col("embedding").alias("emb_q")
    )
    cands = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "cluster", F.col("embedding").alias("emb_n")
    )
    scored = (
        with_sq_norm(queries, "emb_q", "nq2")
        .join(with_sq_norm(cands, "emb_n", "nn2"), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", cosine_precomp("emb_q", "emb_n", "nq2", "nn2"))
    )
    topk = topk_per_query(scored, k=_ANN_K)
    return topk.join(
        assigned.select(F.col("vec_id").alias("query_id"), "cluster"), "query_id"
    ).select("query_id", "cluster", "neighbor_id", "cosine", "rank")


from amazon_kinesis_data_streams_health_check_spark.operators.multimodal import (  # noqa: E402
    resize_media,
)

_MEDIA_RESIZE_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         encode(text) AS payload,
         n_chars % 640 + 1 AS width,
         n_chars % 480 + 1 AS height,
         least(1.0, 64.0 / greatest(n_chars % 640 + 1, n_chars % 480 + 1)) AS scale
  FROM documents WHERE doc_id % 3 = 0
)
SELECT media_id,
       CAST(greatest(floor(width * scale), 1) AS INTEGER) AS new_width,
       CAST(greatest(floor(height * scale), 1) AS INTEGER) AS new_height,
       CAST(least(octet_length(payload),
                  greatest(CAST(greatest(floor(width * scale), 1) AS INTEGER)
                           * CAST(greatest(floor(height * scale), 1) AS INTEGER), 1))
            AS BIGINT) AS n_bytes
FROM media
"""


@register(
    "media_resize",
    oracle=_MEDIA_RESIZE_SQL,
    doc="E4: aspect-preserving resize plumbing — dims JVM-side, byte transform "
    "in Arrow-batched mapInPandas (fake subsample; real codec is the stub seam)",
    tags=("ext", "multimodal"),
)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(parallel_scan(spark, sf_dir, "documents"))
    return resize_media(media, max_dim=64).select(
        "media_id", "new_width", "new_height", "n_bytes"
    )


# ===========================================================================
# Mergeable sketch rollup (DataSketches HLL + KLL) — the pre-aggregation
# pattern for any-range distinct/quantile queries at 100 TB.
# ===========================================================================
_SKETCH_ROLLUP_SQL = """
SELECT event_type AS key,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS users_est_ok,
       TRUE AS p50_est_ok,
       TRUE AS p99_est_ok
FROM events
GROUP BY event_type
"""


@register(
    "sketch_rollup_merge",
    oracle=_SKETCH_ROLLUP_SQL,
    doc="EXT: per-day HLL/KLL sketch rollup unioned to whole-range distinct "
    "users + value quantiles (mergeable pre-aggregation; merged estimates are "
    "bit-equal to single-pass sketches), checked via an accuracy contract",
    tags=("ext", "sketch"),
)
def sketch_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches blobs have no DuckDB twin, so (like event_sketches) the
    registry entry hash-checks exact twin columns plus booleans asserting the
    merged estimates honor their published error envelopes: HLL at lgK=12
    (rse ~1.6%) within 8% of the exact distinct count (~5 sigma); KLL (k=200,
    rank error ~1.65%) p50/p99 inside the exact [p40, p60] / [p94, max] value
    bands. The oracle emits literal TRUE. merge==direct bit-equality stays
    pinned in tests/test_sketches.py; the 100 TB deployment stores only the
    per-day sketch rows and never computes the exact twins."""
    from amazon_kinesis_data_streams_health_check_spark.operators.sketches import (
        daily_sketch_rollup,
        merge_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    merged = merge_rollup(daily_sketch_rollup(events))
    # count(DISTINCT) kept out of the percentile groupBy — mixing them makes
    # Spark pre-group on (key, user_id) and merge a percentile state per
    # distinct user (see event_sketches plan note); split + tiny-key join.
    pct = events.groupBy(F.col("event_type").alias("key")).agg(
        F.expr("percentile(value, array(0.40, 0.60, 0.94))").alias("_ep"),
        F.max("value").alias("_vmax"),
    )
    cd = events.groupBy(F.col("event_type").alias("key")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    exact = pct.join(cd, "key")
    return merged.join(exact, "key").select(
        "key",
        F.col("n_rows").cast("long").alias("n_rows"),
        "exact_users",
        (
            F.abs(F.col("est_distinct_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.08)
        ).alias("users_est_ok"),
        (
            (F.col("value_p50") >= F.col("_ep")[0])
            & (F.col("value_p50") <= F.col("_ep")[1])
        ).alias("p50_est_ok"),
        (
            (F.col("value_p99") >= F.col("_ep")[2])
            & (F.col("value_p99") <= F.col("_vmax"))
        ).alias("p99_est_ok"),
    )


# ===========================================================================
# Corpus vocabulary: the tokenizer-building / frequency-pruning pass every
# training-data pipeline runs before BPE training.
# ===========================================================================
_VOCAB_TOP = 100

_VOCAB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
  FROM documents
),
per_doc AS (
  SELECT token, doc_id, count(*) AS c FROM toks GROUP BY token, doc_id
),
vocab AS (
  SELECT token, CAST(sum(c) AS BIGINT) AS n_occurrences, count(*) AS n_docs
  FROM per_doc GROUP BY token
),
total AS (SELECT count(*) AS n FROM documents)
SELECT token, n_occurrences, n_docs,
       round(CAST(n_docs AS DOUBLE) / n, 6) AS doc_freq
FROM vocab, total
ORDER BY n_occurrences DESC, token
LIMIT {_VOCAB_TOP}
"""


@register(
    "vocab_stats",
    oracle=_VOCAB_SQL,
    doc="EXT/E3: corpus vocabulary — occurrence and document frequency per "
    f"token, top {_VOCAB_TOP} (the tokenizer-training / min-frequency-pruning "
    "pass of an LLM data pipeline)",
    tags=("ext", "text"),
)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: token explode -> two-phase aggregation. The first groupBy
    keys on (token, doc_id) — far finer than token alone — so the stop-word
    skew that would hammer a direct groupBy(token) + countDistinct(doc_id)
    (one reducer per hot word, plus Spark's distinct expand) is spread across
    doc_ids; the second groupBy then only merges pre-counted (token, doc)
    rows: sum(c) = occurrences, count(*) = document frequency, exactly."""
    docs = parallel_scan(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)")).alias("token")
    )
    per_doc = toks.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    vocab = per_doc.groupBy("token").agg(
        F.sum("c").cast("long").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "token",
            "n_occurrences",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("n"), 6).alias("doc_freq"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(_VOCAB_TOP)
    )


# ===========================================================================
# Per-label embedding centroids, exploded to scalar (label, dim) cells.
# Cross-engine determinism: float sums are order-sensitive, so components are
# summed in exact integer micro-units (round(x*1e6) -> BIGINT) — order-free —
# and divided back once at the end.
# ===========================================================================
_CENTROID_SQL = """
WITH cells AS (
  SELECT label, i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS micro
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
)
SELECT label, CAST(dim AS INTEGER) AS dim,
       count(*) AS n_vecs,
       round(CAST(sum(micro) AS DOUBLE) / (count(*) * 1000000.0), 6) AS centroid
FROM cells
GROUP BY label, dim
"""


@register(
    "embedding_centroids",
    oracle=_CENTROID_SQL,
    doc="EXT/E2: per-label embedding centroids as scalar (label, dim, value) "
    "cells — class prototypes for similarity routing / cluster seeding, "
    "summed in exact integer micro-units for engine-identical doubles",
    tags=("ext", "similarity"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: posexplode -> single keyed agg on (label, dim) — uniform
    ~|labels|x|dims| key space, map-side partial sums, no window, no UDF.
    The integer-micro-unit trick keeps the reduction associative-exact, so
    partial aggregation order (and engine) cannot change the result."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("micro"),
    )
    return cells.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum("micro").cast("double") / (F.count(F.lit(1)) * F.lit(1000000.0)), 6
        ).alias("centroid"),
    )


# ===========================================================================
# Benchmark decontamination: which training documents share long n-grams
# with the held-out eval slice.
# ===========================================================================
_CONTAM_NGRAM = 8
_CONTAM_EVAL_MOD = 23
_CONTAM_MIN_SHARED = 2
#: Bounded-benchmark slice (round-8, same law as corpus_queries' _CONTAM
#: family): a fixed 1/23 fraction grows the eval side linearly with the
#: corpus; mod = greatest(23, ceil(n / 2176)) caps the slice at ~2176 docs
#: while leaving sf <= 0.1 outputs bit-identical (5000/2176 rounds below
#: 23). Real benchmarks are constant-size.
_CONTAM_EVAL_TARGET = 2176

_CONTAM_DUCK_MOD = (
    f"(SELECT greatest({_CONTAM_EVAL_MOD}, (count(*) + {_CONTAM_EVAL_TARGET - 1})"
    f" // {_CONTAM_EVAL_TARGET}) FROM documents)"
)

_CONTAM_SQL = f"""
WITH ev AS (
  SELECT doc_id AS eval_id, unnest({duck_shingles('text', _CONTAM_NGRAM)}) AS g
  FROM documents WHERE doc_id % {_CONTAM_DUCK_MOD} = 0
),
tr AS (
  SELECT doc_id AS train_id, unnest({duck_shingles('text', _CONTAM_NGRAM)}) AS g
  FROM documents WHERE doc_id % {_CONTAM_DUCK_MOD} <> 0
)
SELECT train_id, eval_id, count(*) AS shared_ngrams
FROM tr JOIN ev USING (g)
GROUP BY train_id, eval_id
HAVING count(*) >= {_CONTAM_MIN_SHARED}
"""


def _contam_eval_mod(n_docs: int) -> int:
    return max(
        _CONTAM_EVAL_MOD,
        (n_docs + _CONTAM_EVAL_TARGET - 1) // _CONTAM_EVAL_TARGET,
    )


@register(
    "contamination_check",
    oracle=_CONTAM_SQL,
    doc=f"EXT/E1: benchmark decontamination — training docs sharing >= "
    f"{_CONTAM_MIN_SHARED} word-{_CONTAM_NGRAM}-grams with the held-out eval "
    "slice (doc_id % derived mod == 0, slice capped at ~2176 docs at every "
    "tier), the pre-training leakage scan",
    tags=("ext", "dedup"),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the eval corpus is the small side by construction, so its
    exploded n-gram set is BROADCAST and the training scan never shuffles —
    one narrow pass over training text, partial-aggregated counts on
    (train_id, eval_id). Shingles are distinct per doc (shingles_expr), so
    count(*) counts distinct shared n-grams."""
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
        corpus_count,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    sh = shingles_expr("text", _CONTAM_NGRAM)
    emod = _contam_eval_mod(corpus_count(spark, sf_dir))
    ev = docs.filter(F.col("doc_id") % emod == 0).select(
        F.col("doc_id").alias("eval_id"), F.explode(F.expr(sh)).alias("g")
    )
    tr = docs.filter(F.col("doc_id") % emod != 0).select(
        F.col("doc_id").alias("train_id"), F.explode(F.expr(sh)).alias("g")
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= _CONTAM_MIN_SHARED)
    )


_IVF_RECALL_SQL = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id,
         embedding AS emb_c
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {_IVF_FLAT_NC}
),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {duck_cosine('e.embedding', 'c.emb_c')} DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {duck_cosine('q.embedding', 'v.embedding')} AS cos_raw
  FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_ANN_K}
),
cand AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id
  FROM assigned q JOIN assigned v ON v.cluster = q.cluster AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
)
SELECT t.query_id,
       count(*) AS n_topk,
       CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS recall
FROM topk t
LEFT JOIN cand c ON t.query_id = c.query_id AND t.neighbor_id = c.neighbor_id
GROUP BY t.query_id
"""


@register(
    "ann_ivf_recall",
    oracle=_IVF_RECALL_SQL,
    doc="E2: per-query recall of the deterministic IVF nprobe=1 candidate set "
    "vs exact top-k (self-measurement of the quantizer's pruning loss, the "
    "IVF counterpart of ann_lsh_recall)",
    tags=("ext", "similarity"),
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallel_scan(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT)
    topk = brute_force_topk(emb, queries, k=_ANN_K).select("query_id", "neighbor_id")
    assigned = assign_ivf_flat_clusters(emb, n_centroids=_IVF_FLAT_NC)
    cand = (
        assigned.filter(F.col("vec_id") < _ANN_QUERY_LIMIT)
        .select(F.col("vec_id").alias("query_id"), "cluster")
        .join(
            assigned.select(F.col("vec_id").alias("neighbor_id"), "cluster"), "cluster"
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .withColumn("is_cand", F.lit(1))
    )
    merged = topk.join(cand, ["query_id", "neighbor_id"], "left")
    return merged.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_topk"),
        F.sum(F.coalesce("is_cand", F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("is_cand", F.lit(0))).cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# E2 scale path: int8 scalar quantization of the embedding column — 4x less
# memory per vector is what makes a 100 TB ANN index fit a cluster. The whole
# quantize -> reconstruct -> error pipeline is elementwise IEEE-double
# arithmetic with identical operation order in both engines, so the oracle is
# a FULL value-hash match (q-vector hash + error metrics), not an envelope.
# ---------------------------------------------------------------------------
_QUANT_LEVELS = 255

_QUANT_SQL = f"""
WITH dims AS (
  SELECT i AS dim,
         min(CAST(embedding[i] AS DOUBLE)) AS mn,
         max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
  GROUP BY i
),
arrs AS (
  SELECT list(mn ORDER BY dim) AS minarr, list(mx ORDER BY dim) AS maxarr
  FROM dims
),
q AS (
  SELECT vec_id, embedding, minarr, maxarr,
         list_transform(range(1, len(embedding) + 1), i ->
           CASE WHEN maxarr[i] = minarr[i] THEN 0
           ELSE CAST(round((CAST(embedding[i] AS DOUBLE) - minarr[i])
                           / (maxarr[i] - minarr[i]) * {_QUANT_LEVELS}.0) AS INT)
           END) AS qv
  FROM embeddings, arrs
),
rc AS (
  SELECT vec_id, embedding, qv,
         list_transform(range(1, len(qv) + 1), i ->
           minarr[i] + CAST(qv[i] AS DOUBLE) / {_QUANT_LEVELS}.0
                       * (maxarr[i] - minarr[i])) AS recon
  FROM q
)
SELECT vec_id,
       md5(array_to_string(qv, ',')) AS q_hash,
       round(list_max(list_transform(range(1, len(qv) + 1), i ->
             abs(CAST(embedding[i] AS DOUBLE) - recon[i]))), 6) AS max_abs_err,
       round({duck_cosine('embedding', 'recon')}, 6) AS cos_sim
FROM rc
"""


def _with_quantized_recon(emb: DataFrame) -> DataFrame:
    """Append int8 codes ``qv`` and dequantized ``recon`` to a vector frame.

    Per-dim min/max is one shuffle over n_dims keys with map-side partial
    aggregation (each task emits <= n_dims rows regardless of input size);
    the dim-stats row broadcasts back (BroadcastNestedLoopJoin of a 1-row
    side); quantize/reconstruct are narrow codegen'd array transforms."""
    dims = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"), F.col("x").cast("double").alias("x")
    )
    stats = dims.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    arrs = stats.groupBy().agg(
        F.expr("transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)").alias(
            "minarr"
        ),
        F.expr("transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)").alias(
            "maxarr"
        ),
    )
    L = _QUANT_LEVELS
    quant = emb.join(F.broadcast(arrs)).withColumn(
        "qv",
        F.expr(
            f"transform(sequence(1, size(embedding)), i -> "
            f"CASE WHEN element_at(maxarr, i) = element_at(minarr, i) THEN 0 "
            f"ELSE cast(round((cast(element_at(embedding, i) as double) - element_at(minarr, i)) "
            f"/ (element_at(maxarr, i) - element_at(minarr, i)) * {L}.0) as int) END)"
        ),
    )
    return quant.withColumn(
        "recon",
        F.expr(
            f"transform(sequence(1, size(qv)), i -> "
            f"element_at(minarr, i) + cast(element_at(qv, i) as double) / {L}.0 "
            f"* (element_at(maxarr, i) - element_at(minarr, i)))"
        ),
    )


@register(
    "embedding_quantization",
    oracle=_QUANT_SQL,
    doc="E2 scale path: per-dimension min/max int8 scalar quantization of "
    "the embedding column, with reconstruction error and original-vs-"
    "reconstructed cosine per vector — full value-hash oracle",
    tags=("ext", "similarity"),
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: see :func:`_with_quantized_recon` — one 64-key partial-
    aggregated shuffle + broadcast-back, then narrow array work. The int8
    codes are what a 100 TB deployment would store — 4x smaller,
    rescannable for re-ranking via the kept (min, max) pair."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    recon = _with_quantized_recon(emb)
    return recon.select(
        "vec_id",
        F.md5(F.concat_ws(",", F.col("qv").cast("array<string>")).cast("binary")).alias(
            "q_hash"
        ),
        F.round(
            F.expr(
                "array_max(transform(sequence(1, size(qv)), i -> "
                "abs(cast(element_at(embedding, i) as double) - element_at(recon, i))))"
            ),
            6,
        ).alias("max_abs_err"),
        F.round(cosine_expr("embedding", "recon"), 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# Recall of top-k search over DEQUANTIZED vectors vs exact top-k — the
# quality measurement that justifies shipping the 4x-smaller codes.
# ---------------------------------------------------------------------------
_QREC_RECON_CTES = f"""
dims AS (
  SELECT i AS dim,
         min(CAST(embedding[i] AS DOUBLE)) AS mn,
         max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
  GROUP BY i
),
arrs AS (
  SELECT list(mn ORDER BY dim) AS minarr, list(mx ORDER BY dim) AS maxarr
  FROM dims
),
rc AS (
  SELECT vec_id, embedding,
         list_transform(range(1, len(embedding) + 1), i ->
           CASE WHEN maxarr[i] = minarr[i] THEN minarr[i]
           ELSE minarr[i]
                + CAST(CAST(round((CAST(embedding[i] AS DOUBLE) - minarr[i])
                      / (maxarr[i] - minarr[i]) * {_QUANT_LEVELS}.0) AS INT) AS DOUBLE)
                  / {_QUANT_LEVELS}.0 * (maxarr[i] - minarr[i])
           END) AS recon
  FROM embeddings, arrs
)
"""

_QUANT_RECALL_SQL = f"""
WITH {_QREC_RECON_CTES},
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {duck_cosine('q.embedding', 'v.embedding')} DESC, v.vec_id
           ) AS rank
    FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {_ANN_QUERY_LIMIT}
  ) WHERE rank <= {_ANN_K}
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {duck_cosine('q.recon', 'v.recon')} DESC, v.vec_id
           ) AS rank
    FROM rc q JOIN rc v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {_ANN_QUERY_LIMIT}
  ) WHERE rank <= {_ANN_K}
)
SELECT e.query_id,
       count(*) AS n_topk,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS recall
FROM exact e
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


@register(
    "ann_quantized_recall",
    oracle=_QUANT_RECALL_SQL,
    doc="E2: per-query recall@k of cosine top-k over int8-dequantized "
    "vectors vs exact top-k — the quantization-quality measurement "
    "(both rankings via the two-phase top-k, never a per-query window)",
    tags=("ext", "similarity"),
)
def ann_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both rankings reuse brute_force_topk (broadcast query
    side, two-phase local/merge top-k); the quantize/dequantize adds one
    64-key partial-agg shuffle + broadcast-back. The intersection join is
    keyed on (query_id, neighbor_id) — k rows per query per side."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    exact = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT), k=_ANN_K
    ).select("query_id", "neighbor_id")
    rq = _with_quantized_recon(emb).select("vec_id", "recon")
    approx = (
        brute_force_topk(
            rq,
            rq.filter(F.col("vec_id") < _ANN_QUERY_LIMIT),
            k=_ANN_K,
            vec_col="recon",
        )
        .select("query_id", "neighbor_id")
        .withColumn("is_hit", F.lit(1))
    )
    merged = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return merged.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_topk"),
        F.sum(F.coalesce("is_hit", F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("is_hit", F.lit(0))).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# E1 at ingest time: incremental MinHash-LSH index maintenance. At 100 TB a
# new ingest batch must NOT re-LSH the corpus: the band index is persisted
# once, each batch probes it and appends its own bands.
# ---------------------------------------------------------------------------
_INC_MINHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, {duck_shingles()} AS sh FROM documents
),
mh AS (
  SELECT doc_id, sh,
         {duck_minhash_cols()}
  FROM tok
),
bands AS (
  {duck_band_union()}
),
hist AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
inc AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
pairs AS (
  SELECT DISTINCT i.doc_id AS new_doc, h.doc_id AS hist_doc
  FROM inc i JOIN hist h
    ON h.band_idx = i.band_idx AND h.band_key = i.band_key
),
ver AS (
  SELECT p.new_doc,
         CAST(len(list_intersect(ti.sh, th.sh)) AS DOUBLE)
           / len(list_distinct(ti.sh || th.sh)) AS j
  FROM pairs p
  JOIN tok ti ON ti.doc_id = p.new_doc
  JOIN tok th ON th.doc_id = p.hist_doc
),
cand AS (
  SELECT new_doc, count(*) AS n_cand,
         max(CASE WHEN j >= 0.6 THEN 1 ELSE 0 END) AS dup
  FROM ver GROUP BY new_doc
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_new_docs,
       CAST(coalesce(sum(c.n_cand), 0) AS BIGINT) AS n_candidate_links,
       CAST(coalesce(sum(c.dup), 0) AS BIGINT) AS n_near_dup_docs
FROM documents d LEFT JOIN cand c ON c.new_doc = d.doc_id
WHERE d.doc_id % 2 = 1
GROUP BY d.source
"""


@register(
    "incremental_minhash_index",
    oracle=_INC_MINHASH_SQL,
    doc="E1 ingest path: MinHash band index persisted in the snapshot lake; "
    "a new batch probes the STORED index for near-dups vs history (exact "
    "Jaccard verify, tau=0.6) and appends its own bands — index "
    "maintenance, not corpus recompute",
    tags=("ext", "dedup", "lake"),
)
def incremental_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the probe joins the batch's band rows against the
    persisted index on uniformly-distributed md5 band keys — cost scales
    with the BATCH, not the corpus; a genuinely giant duplicate class makes
    a band key hot on both sides, which AQE skew-join splits at runtime.
    The verify join touches candidates only. Maintenance is an append-only
    lake commit (new band files join the manifest), so the index version
    history doubles as an ingest audit log.

    The history/increment split is doc_id parity (deterministic); the probe
    reads the bands BACK from the lake, so a persistence bug changes the
    counts and fails the oracle hash."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
        snapshot_overwrite,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    # Shingle sets feed the minhash chain AND both verify-join legs; band
    # rows feed the history write and the increment probe. Pin each once —
    # without it Catalyst re-derives the tokenize/md5 work per consumer.
    shingled = (
        with_shingles(docs)
        .select("doc_id", "source", "sh")
        .localCheckpoint(eager=False)
    )
    banded = with_bands(with_minhash(shingled.select("doc_id", "sh")))
    bands_long = (
        banded.select(
            "doc_id",
            F.posexplode(
                F.array(*[F.col(f"band_{b}") for b in range(4)])
            ).alias("band_idx", "band_key"),
        )
        .withColumn("pband", F.concat(F.lit("b"), F.col("band_idx")))
        .localCheckpoint(eager=False)
    )

    lake = _tf.mkdtemp(prefix="minhash_index_")
    hist_bands = bands_long.filter(F.col("doc_id") % 2 == 0)
    inc_bands = bands_long.filter(F.col("doc_id") % 2 == 1)
    snapshot_overwrite(spark, hist_bands, lake, partition_col="pband")

    # Probe the PERSISTED index (manifest-listed files, not the lineage df).
    index = read_snapshot(spark, lake)
    pairs = (
        inc_bands.alias("i")
        .join(
            index.alias("h"),
            (F.col("h.band_idx") == F.col("i.band_idx"))
            & (F.col("h.band_key") == F.col("i.band_key")),
        )
        .select(
            F.col("i.doc_id").alias("new_doc"), F.col("h.doc_id").alias("hist_doc")
        )
        .distinct()
    )
    sh_i = shingled.select(F.col("doc_id").alias("new_doc"), F.col("sh").alias("sh_i"))
    sh_h = shingled.select(F.col("doc_id").alias("hist_doc"), F.col("sh").alias("sh_h"))
    ver = (
        pairs.join(sh_i, "new_doc")
        .join(sh_h, "hist_doc")
        .select(
            "new_doc",
            (
                F.expr("size(array_intersect(sh_i, sh_h))").cast("double")
                / F.expr("size(array_union(sh_i, sh_h))")
            ).alias("j"),
        )
    )
    cand = ver.groupBy("new_doc").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.max(F.when(F.col("j") >= 0.6, 1).otherwise(0)).alias("dup"),
    )
    # Maintenance: the batch's bands join the index (append-only commit).
    snapshot_append(spark, inc_bands, lake, partition_col="pband")

    new_docs = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source")
    return (
        new_docs.join(cand, new_docs.doc_id == cand.new_doc, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new_docs"),
            F.coalesce(F.sum("n_cand"), F.lit(0)).cast("long").alias("n_candidate_links"),
            F.coalesce(F.sum("dup"), F.lit(0)).cast("long").alias("n_near_dup_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Continuous-ingest dedup: the STREAMING twin of incremental_minhash_index.
# Structured Streaming drives the ingest cadence (pinned 2-batch feed:
# even docs bootstrap the index, odd docs arrive as "today's crawl"); each
# micro-batch probes the PERSISTED band index for near-dups vs everything
# ingested before it, then appends its own bands + shingle sets as lake
# commits. With this batch split the latest ingest report is EXACTLY the
# batch twin's relation, so _INC_MINHASH_SQL is the oracle verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_dedup_index_ingest",
    oracle=_INC_MINHASH_SQL,
    doc="E1 streaming ingest: continuous dedup-index maintenance — each "
    "micro-batch probes the persisted MinHash band index for near-dups vs "
    "all earlier ingests (exact Jaccard verify, tau=0.6) and appends its "
    "bands/shingles as atomic lake commits; the latest ingest report "
    "value-hashes against the batch twin's SQL",
    tags=("ext", "dedup", "lake", "streaming"),
)
def streaming_dedup_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per batch, the probe joins the BATCH's band rows against
    the stored index (cost scales with the ingest, not the corpus) and the
    verify join touches candidates only; maintenance is an append-only
    manifest commit per micro-batch. This is the deployment shape for a
    crawl pipeline that must reject near-dups of anything already ingested
    without ever re-LSHing history."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
        snapshot_history,
    )

    docs = parallel_scan(spark, sf_dir, "documents").select("doc_id", "source", "text")
    stream, _ = replay_feed(
        spark,
        [docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == i) for i in range(2)],
        "dedup_ingest_src_",
    )

    bands_lake = _tf.mkdtemp(prefix="dedup_ingest_bands_")
    sh_lake = _tf.mkdtemp(prefix="dedup_ingest_sh_")
    report_dir = _tf.mkdtemp(prefix="dedup_ingest_report_")

    def _ingest(batch_df, batch_id: int) -> None:
        shingled = (
            with_shingles(batch_df)
            .select("doc_id", "source", "sh")
            .localCheckpoint(eager=False)  # feeds probe verify AND the commit
        )
        bands_long = (
            with_bands(with_minhash(shingled.select("doc_id", "sh")))
            .select(
                "doc_id",
                F.posexplode(
                    F.array(*[F.col(f"band_{b}") for b in range(4)])
                ).alias("band_idx", "band_key"),
            )
            .withColumn("pband", F.concat(F.lit("b"), F.col("band_idx")))
            .localCheckpoint(eager=False)  # feeds the probe AND the commit
        )
        if snapshot_history(spark, bands_lake):
            index = read_snapshot(spark, bands_lake)
            pairs = (
                bands_long.alias("i")
                .join(
                    index.alias("h"),
                    (F.col("h.band_idx") == F.col("i.band_idx"))
                    & (F.col("h.band_key") == F.col("i.band_key")),
                )
                .select(
                    F.col("i.doc_id").alias("new_doc"),
                    F.col("h.doc_id").alias("hist_doc"),
                )
                .distinct()
            )
            sh_i = shingled.select(
                F.col("doc_id").alias("new_doc"), F.col("sh").alias("sh_i")
            )
            sh_h = read_snapshot(spark, sh_lake).select(
                F.col("doc_id").alias("hist_doc"), F.col("sh").alias("sh_h")
            )
            ver = (
                pairs.join(sh_i, "new_doc")
                .join(sh_h, "hist_doc")
                .select(
                    "new_doc",
                    (
                        F.expr("size(array_intersect(sh_i, sh_h))").cast("double")
                        / F.expr("size(array_union(sh_i, sh_h))")
                    ).alias("j"),
                )
            )
            cand = ver.groupBy("new_doc").agg(
                F.count(F.lit(1)).alias("n_cand"),
                F.max(F.when(F.col("j") >= 0.6, 1).otherwise(0)).alias("dup"),
            )
            report = (
                shingled.select("doc_id", "source")
                .join(cand, shingled.doc_id == cand.new_doc, "left")
                .groupBy("source")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_new_docs"),
                    F.coalesce(F.sum("n_cand"), F.lit(0))
                    .cast("long")
                    .alias("n_candidate_links"),
                    F.coalesce(F.sum("dup"), F.lit(0))
                    .cast("long")
                    .alias("n_near_dup_docs"),
                )
            )
        else:  # bootstrap ingest: empty index, nothing to probe
            report = shingled.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_new_docs"),
                F.lit(0).cast("long").alias("n_candidate_links"),
                F.lit(0).cast("long").alias("n_near_dup_docs"),
            )
        # Latest-ingest report (overwritten per batch), then index maintenance.
        report.write.mode("overwrite").parquet(report_dir)
        snapshot_append(spark, bands_long, bands_lake, partition_col="pband")
        snapshot_append(
            spark,
            shingled.select("doc_id", "sh").withColumn("p", F.lit("all")),
            sh_lake,
            partition_col="p",
        )

    drain(stream.writeStream.foreachBatch(_ingest), "dedup_index_ingest")
    if len(snapshot_history(spark, bands_lake)) != 2:
        raise RuntimeError("ingest drive incomplete: expected 2 index commits")
    return spark.read.parquet(report_dir)


# ---------------------------------------------------------------------------
# Count-Min heavy hitters: the mergeable frequency-estimation sketch
# (HLL = distincts, KLL = quantiles, CM = counts — this completes the set).
# ---------------------------------------------------------------------------
_CM_ROWS = 4
_CM_WIDTH = 256
_CM_TOPK = 20

_CM_BUCKET = (
    "('0x' || substr(md5(CAST({r} AS VARCHAR) || '|' "
    "|| CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {w}"
)

_CM_SQL = f"""
WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
rows_e AS (
  SELECT d, user_id, r.range AS r,
         {_CM_BUCKET.format(r='r.range', w=_CM_WIDTH)} AS bucket
  FROM e, range(0, {_CM_ROWS}) r
),
daily AS (
  SELECT d, r, bucket, count(*) AS c FROM rows_e GROUP BY d, r, bucket
),
merged AS (
  SELECT r, bucket, sum(c) AS c FROM daily GROUP BY r, bucket
),
truth AS (SELECT user_id, count(*) AS true_count FROM e GROUP BY user_id),
probe AS (
  SELECT t.user_id, t.true_count, r.range AS r,
         {_CM_BUCKET.format(r='r.range', w=_CM_WIDTH)} AS bucket
  FROM truth t, range(0, {_CM_ROWS}) r
),
est AS (
  SELECT p.user_id,
         CAST(max(p.true_count) AS BIGINT) AS true_count,
         CAST(min(m.c) AS BIGINT) AS est_count
  FROM probe p JOIN merged m ON m.r = p.r AND m.bucket = p.bucket
  GROUP BY p.user_id
)
SELECT user_id, est_count, true_count, est_count - true_count AS overestimate
FROM est
ORDER BY est_count DESC, user_id
LIMIT {_CM_TOPK}
"""


def _cm_bucket_col(r) -> F.Column:
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(r.cast("string"), F.lit("|"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_CM_WIDTH),
    )


@register(
    "sketch_heavy_hitters",
    oracle=_CM_SQL,
    doc="Mergeable Count-Min sketch: per-day (row, bucket) count grids "
    "merged by addition across days, point estimates = min over rows, "
    "top-20 heavy hitters with their (never-negative) overestimate vs "
    "exact truth",
    tags=("ext", "sketch"),
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the sketch is the aggregation state — per day it is a
    fixed 4x256 integer grid whatever the event volume, so the daily build
    partial-aggregates map-side and the cross-day merge moves O(days *
    1024) rows. Point estimation probes only the (tiny) merged grid,
    broadcast-joined against the candidate keys. md5-derived bucket hashes
    keep the grid bit-identical across engines; all counts are BIGINT-exact.
    The CM guarantee (estimate >= truth) is part of the checked output via
    the overestimate column."""
    events = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    r = F.explode(F.sequence(F.lit(0), F.lit(_CM_ROWS - 1))).alias("r")
    rows_e = events.select("d", "user_id", r).withColumn(
        "bucket", _cm_bucket_col(F.col("r"))
    )
    daily = rows_e.groupBy("d", "r", "bucket").agg(F.count(F.lit(1)).alias("c"))
    merged = daily.groupBy("r", "bucket").agg(F.sum("c").alias("c"))
    truth = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    probe = truth.select("user_id", "true_count", r).withColumn(
        "bucket", _cm_bucket_col(F.col("r"))
    )
    est = (
        probe.join(F.broadcast(merged), ["r", "bucket"])
        .groupBy("user_id")
        .agg(
            F.max("true_count").cast("long").alias("true_count"),
            F.min("c").cast("long").alias("est_count"),
        )
    )
    return (
        est.select(
            "user_id",
            "est_count",
            "true_count",
            (F.col("est_count") - F.col("true_count")).alias("overestimate"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(_CM_TOPK)
    )


# ---------------------------------------------------------------------------
# Fuzzy near-dup via EDIT DISTANCE — the character-level dedup mode (typo
# families, OCR noise) that set-based Jaccard/Hamming misses. Blocking comes
# from the SimHash bands (cheap, already salted); the verify is exact
# Levenshtein over a fixed text prefix.
# ---------------------------------------------------------------------------
_FUZZY_PREFIX = 80
_FUZZY_MAX_EDITS = 20
#: Blocking config, round-8 (third redesign, each forced by a measured
#: tier defect — the full history lives on simhash_wide_near_pairs'
#: design comment in operators/dedup.py): 128-bit CENTERED signatures,
#: half-split 4-of-8-band keys (140 tables, 32-bit keys), gate at the
#: full lossless Hamming <= 9 — angularly ~= the r07 production <= 5 on
#: 64 bits (measured truth-pair recall 80% vs 92% on the same sample; the
#: r07 24-bit triple keys saturated at the 5M-doc sf100 tier). One fixed
#: config at every corpus size: the 32-bit keyspace holds to ~10^8 docs,
#: so the r07 corpus-size-adaptive band-width knob (which traded table
#: count against key width on the narrow 64-bit signature) has nothing
#: left to adapt. Recall vs the all-pairs edit truth stays pinned ON DATA
#: by fuzzy_blocking_recall below.
_FUZZY_BLOCK_HAMMING = SIMHASH_WIDE_MAX_HAMMING

_FUZZY_EDIT_SQL = f"""
WITH {_duck_centered_sig_ctes(bits=SIMHASH_WIDE_BITS)},
bands AS (
  {_simhash_wide_bands_union()}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
  WHERE {_simhash_hamming(SIMHASH_WIDE_BITS)} <= {_FUZZY_BLOCK_HAMMING}
),
pfx AS (
  SELECT doc_id, substr(text, 1, {_FUZZY_PREFIX}) AS p FROM documents
)
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS edit_dist
FROM cand c
JOIN pfx pa ON pa.doc_id = c.doc_a
JOIN pfx pb ON pb.doc_id = c.doc_b
WHERE abs(length(pa.p) - length(pb.p)) <= {_FUZZY_MAX_EDITS}
  AND levenshtein(pa.p, pb.p) <= {_FUZZY_MAX_EDITS}
"""


@register(
    "dedup_fuzzy_edit",
    oracle=_FUZZY_EDIT_SQL,
    doc=f"E1: character-level fuzzy near-dup — CENTERED {SIMHASH_WIDE_BITS}-bit "
    f"SimHash half-split band blocking (32-bit keys, lossless to Hamming <= "
    f"{_FUZZY_BLOCK_HAMMING}; centering de-biases signature bits on "
    "boilerplate-heavy corpora), "
    f"exact Levenshtein verify on the {_FUZZY_PREFIX}-char prefix, keep "
    f"pairs within {_FUZZY_MAX_EDITS} edits; blocking recall pinned on "
    "data by fuzzy_blocking_recall",
    tags=("ext", "dedup", "bench"),
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: candidates come from the salted half-split wide-band
    self-join (never all-pairs); the O(prefix^2) Levenshtein DP runs only
    on candidate pairs and only over a fixed-width prefix, so verify cost
    is bounded per pair regardless of document length. Prefixes ride the
    candidate pair via two doc_id-keyed joins — full text never enters the
    band shuffle."""
    docs = parallel_scan(spark, sf_dir, "documents")
    # Candidates = SimHash-near pairs (the cheap XOR+popcount Hamming gate
    # culls the band collisions BEFORE any quadratic string work); verify =
    # exact Levenshtein, guarded by the |len_a - len_b| <= d lower bound so
    # the DP only runs where it could possibly pass.
    sigs = simhash_words_centered(docs, bits=SIMHASH_WIDE_BITS)
    cand = simhash_wide_near_pairs(sigs, max_hamming=_FUZZY_BLOCK_HAMMING).select(
        "doc_a", "doc_b"
    )
    # Prefix legs read via load_table, NOT parallel_scan: they only take an
    # 80-char substring per row before being broadcast, so the round-robin
    # repartition parallel_scan adds for CPU-heavy pipelines is a pure extra
    # exchange of the full text column here (round-10; guide section 2.4).
    pfx = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, _FUZZY_PREFIX).alias("p")
    )
    pa = pfx.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    pb = pfx.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .filter(
            F.abs(F.length("pa") - F.length("pb")) <= F.lit(_FUZZY_MAX_EDITS)
        )
        # Banded DP: the 3-arg levenshtein(threshold) computes only the
        # +/-threshold diagonal band — O(prefix * edits) per pair instead of
        # O(prefix^2) — and returns -1 above the bound (filtered with the
        # same predicate, so the pair set is unchanged).
        .withColumn(
            "edit_dist",
            F.expr(f"levenshtein(pa, pb, {_FUZZY_MAX_EDITS})").cast("long"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _FUZZY_MAX_EDITS))
        .select("doc_a", "doc_b", "edit_dist")
    )


#: Same bounded-sample stance as simhash_blocking_recall's target (defined
#: later in this module): mod = ceil(n / target) keeps the all-pairs truth
#: leg ~constant-size at every tier.
_FBR_SAMPLE_TARGET = 1250

_FBR_SQL = f"""
WITH smod AS (
  SELECT greatest(1, (count(*) + {_FBR_SAMPLE_TARGET} - 1) // {_FBR_SAMPLE_TARGET})
         AS m
  FROM documents
),
samp AS MATERIALIZED (
  SELECT * FROM documents
  WHERE {duck_hash_uniform('doc_id')} % (SELECT m FROM smod) = 0
),
{_duck_centered_sig_ctes("samp", bits=SIMHASH_WIDE_BITS)},
bands AS (
  {_simhash_wide_bands_union()}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
  WHERE {{hamming}} <= {_FUZZY_BLOCK_HAMMING}
),
pfx AS (SELECT doc_id, substr(text, 1, {_FUZZY_PREFIX}) AS p FROM samp),
truth AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pfx a JOIN pfx b ON a.doc_id < b.doc_id
  WHERE abs(length(a.p) - length(b.p)) <= {_FUZZY_MAX_EDITS}
    AND levenshtein(a.p, b.p) <= {_FUZZY_MAX_EDITS}
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST(count(*) AS BIGINT) AS n_found,
       CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
            ELSE 1000000 * count(*) // (SELECT count(*) FROM truth)
            END AS BIGINT) AS recall_ppm
FROM truth t JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
""".format(hamming=_simhash_hamming(SIMHASH_WIDE_BITS))


@register(
    "fuzzy_blocking_recall",
    oracle=_FBR_SQL,
    doc="Blocking-recall audit for dedup_fuzzy_edit's centered wide-SimHash "
    "half-split band gate: exact all-pairs prefix-Levenshtein truth on a "
    "corpus-size-derived md5 sample vs the production blocking on the "
    "same sample — n_true / n_found / recall_ppm as hash-checked data "
    "(the Manku-style gate is an explicit recall/cost trade; this keeps "
    "the trade measured instead of assumed)",
    tags=("ext", "dedup", "eval"),
)
def fuzzy_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the all-pairs truth leg runs ONLY on the bounded md5
    sample (broadcast self-join, ~target^2/2 banded-Levenshtein pairs at
    any tier); the blocking leg is the production centered wide-sig
    half-split band join on the same sample. Centering drift is computed over the sample
    as its own corpus — identically in both engines."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    all_docs = parallel_scan(spark, sf_dir, "documents")
    smod = all_docs.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(count(*) + {_FBR_SAMPLE_TARGET} - 1) div {_FBR_SAMPLE_TARGET}"
            ),
        ).alias("sample_mod")
    )
    samp = (
        all_docs.crossJoin(F.broadcast(smod))
        .filter(hash_uniform("doc_id") % F.col("sample_mod") == 0)
        .drop("sample_mod")
        .localCheckpoint(eager=False)  # feeds sigs, prefixes, and truth
    )
    cand = simhash_wide_near_pairs(
        simhash_words_centered(samp, bits=SIMHASH_WIDE_BITS),
        max_hamming=_FUZZY_BLOCK_HAMMING,
    ).select("doc_a", "doc_b")
    pfx = samp.select("doc_id", F.substring("text", 1, _FUZZY_PREFIX).alias("p"))
    a = pfx.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    b = pfx.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    truth = (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.abs(F.length("pa") - F.length("pb")) <= F.lit(_FUZZY_MAX_EDITS)
        )
        .withColumn(
            "ed", F.expr(f"levenshtein(pa, pb, {_FUZZY_MAX_EDITS})").cast("long")
        )
        .filter((F.col("ed") >= 0) & (F.col("ed") <= _FUZZY_MAX_EDITS))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # feeds the count AND the found-join
    )
    found = truth.join(cand, ["doc_a", "doc_b"])
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    return (
        found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
        .crossJoin(F.broadcast(n_true))
        .select(
            "n_true",
            "n_found",
            F.expr(
                "CAST(CASE WHEN n_true = 0 THEN NULL"
                " ELSE 1000000 * n_found div n_true END AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup over media payloads: a dHash-style 32-bit gradient
# signature on stride-sampled payload bytes, compared by banded Hamming
# distance — the image-dedup stage of a multimodal pipeline, runnable on the
# opaque-binary representation (the real pixel decoder slots in at the same
# seam as decode_media).
# ---------------------------------------------------------------------------
_PHASH_BITS = 32
_PHASH_STRIDE = 2
#: Prefix covered by the probes: 1 + 32*2 = 65 bytes; shorter payloads skip.
_PHASH_MIN_BYTES = 1 + _PHASH_BITS * _PHASH_STRIDE + _PHASH_STRIDE
_PHASH_MAX_HAMMING = 3


def _phash_pos(k: str | int) -> str:
    """1-based sample position k (0..32): FIXED stride over the payload
    prefix, not length-relative — an edit near the tail of a near-dup then
    leaves every probe untouched (length-relative strides shift all 33
    probes on any insertion, which destroyed recall on real near-dups)."""
    return f"(1 + ({k}) * {_PHASH_STRIDE})"


_PHASH_SPARK_SIG = " + ".join(
    f"(CASE WHEN ascii(substr(text, {_phash_pos(k + 1)}, 1)) > "
    f"ascii(substr(text, {_phash_pos(k)}, 1)) THEN {1 << (_PHASH_BITS - 1 - k)} ELSE 0 END)"
    for k in range(_PHASH_BITS)
)

_PHASH_DUCK_SIG = " + ".join(
    f"(CASE WHEN ascii(substr(text, {_phash_pos(k + 1)}, 1)) > "
    f"ascii(substr(text, {_phash_pos(k)}, 1)) THEN {1 << (_PHASH_BITS - 1 - k)} ELSE 0 END)"
    for k in range(_PHASH_BITS)
).replace(" div ", " // ")

_PHASH_DUCK_BANDS = "\n  UNION ALL\n  ".join(
    f"SELECT media_id, sig, {b} AS band_idx, (sig // {1 << (8 * b)}) % 256 AS band_key FROM sigs"
    for b in range(4)
)

_PHASH_SQL = f"""
WITH m AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) >= {_PHASH_MIN_BYTES}
),
sigs AS (
  SELECT media_id, CAST({_PHASH_DUCK_SIG} AS BIGINT) AS sig FROM m
),
bands AS (
  {_PHASH_DUCK_BANDS}
),
pairs AS (
  SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b,
         CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.media_id < y.media_id
)
SELECT media_a, media_b, hamming FROM pairs
WHERE hamming <= {_PHASH_MAX_HAMMING}
"""


@register(
    "media_phash_dedup",
    oracle=_PHASH_SQL,
    doc=f"E4/E1: perceptual-hash media dedup — {_PHASH_BITS}-bit dHash-style "
    f"gradient signature over stride-sampled payload bytes, banded Hamming "
    f"join (<= {_PHASH_MAX_HAMMING} bit flips) over fixed-stride prefix probes",
    tags=("ext", "multimodal", "dedup"),
)
def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the signature is one narrow codegen'd expression per row
    (33 byte probes, fixed cost regardless of payload size); pairing reuses
    the salted 8-bit band self-join, and the exact Hamming verify is one
    XOR + popcount per candidate. Byte probes address the text column under
    the documented ASCII-corpus equivalence (ascii(substr) == payload byte,
    as in the media_features oracle); a real pixel decoder would produce
    the same integer rows from decoded luma instead."""
    docs = parallel_scan(spark, sf_dir, "documents")
    media = docs.filter(
        F.length(F.encode("text", "UTF-8")) >= _PHASH_MIN_BYTES
    ).select(
        F.col("doc_id").alias("media_id"),
        "text",
        F.length(F.encode("text", "UTF-8")).alias("n"),
    )
    sigs = media.select(
        "media_id", F.expr(_PHASH_SPARK_SIG).cast("long").alias("sig")
    )
    bands = sigs.select(
        "media_id",
        F.col("sig").alias("sig_int"),
        F.posexplode(
            F.array(
                *[
                    F.expr(f"(sig div {1 << (8 * b)}) % 256").cast("long")
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    pairs = _salted_band_self_join(
        bands, "media_id", extra_cols=("sig_int",)
    ).select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        F.expr("bit_count(sig_int_a ^ sig_int_b)").cast("long").alias("hamming"),
    )
    return pairs.filter(F.col("hamming") <= _PHASH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# Product quantization: the FAISS-style ANN compression completing the
# vector-compression family (int8 scalar quantization: embedding_quantization
# / ann_quantized_recall). M subspace codebooks of K entries => M bytes per
# vector instead of 4*dim.
# ---------------------------------------------------------------------------
_PQ_M = 4
_PQ_K = 64
_PQ_DIM = 64
_PQ_SUB = _PQ_DIM // _PQ_M


def _pq_duck_dist(s: int, a: str = "e.embedding", b: str = "c.emb_c") -> str:
    lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return f"list_sum(list_transform(range({lo}, {hi} + 1), i -> {d} * {d}))"


_PQ_CODES_CTES = f"""cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id,
         embedding AS emb_c
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {_PQ_K}
),
dists AS (
  SELECT e.vec_id, c.centroid_id, c.emb_c,
         {", ".join(f"{_pq_duck_dist(s)} AS d{s}" for s in range(_PQ_M))}
  FROM embeddings e CROSS JOIN cent c
),
long AS (
  {" UNION ALL ".join(f"SELECT vec_id, {s} AS s, centroid_id, d{s} AS d FROM dists" for s in range(_PQ_M))}
),
best AS (
  SELECT vec_id, s, centroid_id FROM (
    SELECT vec_id, s, centroid_id,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, centroid_id) AS rn
    FROM long
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id,
         {", ".join(f"max(CASE WHEN s = {s} THEN centroid_id END) AS code_{s}" for s in range(_PQ_M))}
  FROM best GROUP BY vec_id
)"""

_PQ_SQL = f"""
WITH {_PQ_CODES_CTES},
recon AS (
  SELECT codes.vec_id,
         {", ".join(f"codes.code_{s}" for s in range(_PQ_M))},
         {" || ".join(f"c{s}.emb_c[{s * _PQ_SUB + 1}:{(s + 1) * _PQ_SUB}]" for s in range(_PQ_M))} AS r
  FROM codes
  {" ".join(f"JOIN cent c{s} ON c{s}.centroid_id = codes.code_{s}" for s in range(_PQ_M))}
)
SELECT r.vec_id,
       {", ".join(f"CAST(r.code_{s} AS BIGINT) AS code_{s}" for s in range(_PQ_M))},
       round(list_max(list_transform(range(1, {_PQ_DIM} + 1),
             i -> abs(CAST(e.embedding[i] AS DOUBLE) - CAST(r.r[i] AS DOUBLE)))), 6)
         AS max_abs_err,
       round({duck_cosine("e.embedding", "r.r")}, 6) AS cos_sim
FROM recon r JOIN embeddings e ON e.vec_id = r.vec_id
"""


@register(
    "ann_pq_codes",
    oracle=_PQ_SQL,
    doc=f"E2 scale path: product quantization — {_PQ_M} subspace codebooks "
    f"of {_PQ_K} deterministic entries (md5-smallest vectors), argmin-L2 "
    f"codes + reconstruction error + original-vs-recon cosine; "
    f"{_PQ_M} bytes/vector vs {4 * _PQ_DIM} raw",
    tags=("ext", "similarity"),
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: see :func:`pq_codes` — broadcast codebooks, map-side
    min(struct) assignment, uniform vec_id shuffle only. The codes are what
    a 100 TB deployment stores; asymmetric-distance search (query vs
    codebook lookup tables) reads them without touching raw vectors."""
    from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (
        pq_codes,
    )

    emb = parallel_scan(spark, sf_dir, "embeddings")
    pq = pq_codes(emb, m=_PQ_M, k=_PQ_K, dim=_PQ_DIM)
    orig = emb.select("vec_id", "embedding")
    return pq.join(orig, "vec_id").select(
        "vec_id",
        *[F.col(f"code_{s}").cast("long").alias(f"code_{s}") for s in range(_PQ_M)],
        F.round(
            F.expr(
                f"array_max(transform(sequence(1, {_PQ_DIM}), i -> "
                "abs(cast(element_at(embedding, i) as double)"
                " - cast(element_at(recon, i) as double))))"
            ),
            6,
        ).alias("max_abs_err"),
        F.round(cosine_expr("embedding", "recon"), 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC): queries build an M x K lookup table
# of subspace distances against the codebooks; candidate distance is M table
# lookups summed — the raw vectors are never read at search time. Recall@k
# vs exact L2 measures what the compression costs.
# ---------------------------------------------------------------------------
def _pq_l2_full(a: str, b: str) -> str:
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return f"list_sum(list_transform(range(1, {_PQ_DIM} + 1), i -> {d} * {d}))"


_PQ_ADC_SQL = f"""
WITH {_PQ_CODES_CTES},
q AS (
  SELECT vec_id AS query_id, embedding AS emb_q FROM embeddings
  WHERE vec_id < {_ANN_QUERY_LIMIT}
),
lut AS (
  SELECT q.query_id, c.centroid_id AS cid,
         {", ".join(f"{_pq_duck_dist(s, 'q.emb_q', 'c.emb_c')} AS d{s}" for s in range(_PQ_M))}
  FROM q CROSS JOIN cent c
),
adc AS (
  SELECT l0.query_id, codes.vec_id,
         ((l0.d0 + l1.d1) + l2.d2) + l3.d3 AS dist
  FROM codes
  JOIN lut l0 ON l0.cid = codes.code_0
  JOIN lut l1 ON l1.cid = codes.code_1 AND l1.query_id = l0.query_id
  JOIN lut l2 ON l2.cid = codes.code_2 AND l2.query_id = l0.query_id
  JOIN lut l3 ON l3.cid = codes.code_3 AND l3.query_id = l0.query_id
  WHERE codes.vec_id <> l0.query_id
),
approx AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= {_ANN_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, v.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_pq_l2_full('q.emb_q', 'v.embedding')}, v.vec_id
           ) AS rn
    FROM q JOIN embeddings v ON v.vec_id <> q.query_id
  ) WHERE rn <= {_ANN_K}
)
SELECT e.query_id,
       count(*) AS n_topk,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS recall
FROM exact e
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


@register(
    "ann_pq_adc_recall",
    oracle=_PQ_ADC_SQL,
    doc=f"E2: PQ asymmetric-distance search — per-query {_PQ_M}x{_PQ_K} "
    "subspace lookup tables, candidate distance = table-lookup sums (codes "
    "only, raw vectors never read at search time), recall@k vs exact L2",
    tags=("ext", "similarity"),
)
def ann_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the lookup table is |queries| x K rows and BROADCAST;
    the search pass reads only the M-small-int code columns (the 100 TB
    point of PQ: the scan is codes, not floats), sums M lookups per
    (candidate, query), and ranks through the two-phase topk_per_query
    merge. The exact-L2 baseline is the broadcast brute-force pass over the
    same fixed-order squared-difference fold the oracle uses."""
    from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (
        _sub_sq_dist,
        ivf_flat_centroids,
        pq_codes,
        topk_per_query,
    )

    emb = parallel_scan(spark, sf_dir, "embeddings")
    cent = ivf_flat_centroids(emb, _PQ_K).select("centroid_id", "emb_c")
    codes = pq_codes(emb, m=_PQ_M, k=_PQ_K, dim=_PQ_DIM).select(
        "vec_id", *[f"code_{s}" for s in range(_PQ_M)]
    )
    queries = emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_q")
    )
    lut = queries.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "centroid_id",
        *[
            F.expr(
                _sub_sq_dist("emb_q", "emb_c", s * _PQ_SUB + 1, (s + 1) * _PQ_SUB)
            ).alias(f"d{s}")
            for s in range(_PQ_M)
        ],
    )
    lut = lut.localCheckpoint(eager=False)  # tiny; feeds 4 join legs
    adc = codes.join(
        F.broadcast(
            lut.select(
                "query_id", F.col("centroid_id").alias("code_0"), F.col("d0").alias("t0")
            )
        ),
        "code_0",
    )
    for s in range(1, _PQ_M):
        adc = adc.join(
            F.broadcast(
                lut.select(
                    "query_id",
                    F.col("centroid_id").alias(f"code_{s}"),
                    F.col(f"d{s}").alias(f"t{s}"),
                )
            ),
            ["query_id", f"code_{s}"],
        )
    scored = adc.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            -(
                (F.col("t0") + F.col("t1")) + F.col("t2") + F.col("t3")
            )
        ).alias("cos_raw"),
    )
    approx = topk_per_query(scored, k=_ANN_K).select("query_id", "neighbor_id")
    ex_scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb_n"))
        .crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (-F.expr(_sub_sq_dist("emb_q", "emb_n", 1, _PQ_DIM))).alias("cos_raw"),
        )
    )
    exact = topk_per_query(ex_scored, k=_ANN_K).select("query_id", "neighbor_id")
    merged = exact.join(
        approx.withColumn("is_hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return merged.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_topk"),
        F.sum(F.coalesce("is_hit", F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("is_hit", F.lit(0))).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Containment near-dup: the ASYMMETRIC overlap measure |A∩B| / min(|A|,|B|).
# A short document quoted inside a long one scores near 1.0 here while its
# Jaccard stays low — the quote-inclusion dup class the symmetric measures
# miss (the reason corpus pipelines run containment alongside Jaccard).
# ---------------------------------------------------------------------------
_CONTAINMENT_THRESHOLD = 0.5

_CONTAINMENT_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, {duck_shingles()} AS sh FROM documents
)
SELECT doc_a, doc_b, source,
       round(containment, 6) AS containment, round(jaccard, 6) AS jaccard
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.source,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / least(len(a.sh), len(b.sh)) AS containment,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(a.sh || b.sh)) AS jaccard
  FROM tok a
  JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
)
WHERE containment >= {_CONTAINMENT_THRESHOLD}
"""


@register(
    "dedup_containment",
    oracle=_CONTAINMENT_SQL,
    doc="E1: asymmetric containment near-dups — |A∩B| / min(|A|,|B|) over "
    "word-3-gram shingles, source-blocked; catches quote-inclusion dups "
    "whose symmetric Jaccard stays low",
    tags=("ext", "dedup"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to dedup_ngram_jaccard — shingles distinct
    narrowly within the doc, source blocking bounds the pair count (the
    unblocked scale path gates through MinHash bands first; containment's
    S-curve needs the same band keys). Both measures come from one
    intersect per pair."""
    docs = parallel_scan(spark, sf_dir, "documents")
    shingled = with_shingles(docs).select("doc_id", "source", "sh")
    a = shingled.select(
        F.col("doc_id").alias("doc_a"), "source", F.col("sh").alias("sh_a")
    )
    b = shingled.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("source_b"),
        F.col("sh").alias("sh_b"),
    )
    paired = a.join(
        b,
        (F.col("source") == F.col("source_b")) & (F.col("doc_a") < F.col("doc_b")),
    ).withColumn("_inter", F.expr("size(array_intersect(sh_a, sh_b))").cast("double"))
    return (
        paired.withColumn(
            "containment",
            F.col("_inter") / F.least(F.expr("size(sh_a)"), F.expr("size(sh_b)")),
        )
        .withColumn("jaccard", F.col("_inter") / F.expr("size(array_union(sh_a, sh_b))"))
        .filter(F.col("containment") >= _CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "source",
            F.round("containment", 6).alias("containment"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# EXACT all-pairs Jaccard join via prefix filtering (the AllPairs/PPJoin
# family): MinHash-LSH trades recall for speed; this is the LOSSLESS scale
# path. Order every doc's shingles by global rarity; a pair with Jaccard
# >= t MUST share a token inside both prefixes of length
# |X| - ceil(t*|X|) + 1 (if a doc's whole prefix were non-shared it would
# have too many non-common tokens to reach t), so joining on prefix tokens
# generates every qualifying pair — no bands, no blocking, no misses.
# ---------------------------------------------------------------------------
_APJ_T_NUM, _APJ_T_DEN = 1, 2  # threshold t = 1/2 as an exact rational

_APJ_SQL = f"""
WITH tok AS (
  SELECT doc_id, {duck_shingles()} AS sh FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
FROM tok a
JOIN tok b ON a.doc_id < b.doc_id
WHERE {_APJ_T_DEN} * len(list_intersect(a.sh, b.sh))
      >= {_APJ_T_NUM} * len(list_distinct(a.sh || b.sh))
"""


@register(
    "dedup_jaccard_allpairs",
    oracle=_APJ_SQL,
    doc=f"E1: EXACT all-pairs Jaccard >= {_APJ_T_NUM}/{_APJ_T_DEN} via "
    "lossless prefix filtering (AllPairs/PPJoin) — rarity-ordered shingles, "
    "candidates share a prefix token, exact verify; no blocking, no LSH "
    "recall loss (oracle is the brute-force join)",
    tags=("ext", "dedup"),
)
def dedup_jaccard_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the rarity order means prefix tokens are the RARE ones,
    so the candidate join key distribution is anti-skewed by construction —
    the frequent shingles that would explode a naive token join never enter
    a prefix unless the doc is tiny. Stages: one shingle-keyed frequency
    count, one doc-keyed regroup into rarity-sorted arrays, prefix explode
    (narrow), candidate self-join on the uniform (rare-token) key, exact
    verify on the candidate set only. The threshold compare stays in
    integers (2*|intersect| >= |union|)."""
    docs = parallel_scan(spark, sf_dir, "documents")
    return jaccard_allpairs_pairs(docs, t_num=_APJ_T_NUM, t_den=_APJ_T_DEN)


# ---------------------------------------------------------------------------
# IVF-PQ: the canonical production ANN index — coarse IVF probe narrows the
# candidate set to one cluster, PQ asymmetric distance ranks inside it from
# codes alone. Composes the two oracle-verified mechanisms (ann_ivf_flat's
# coarse quantizer, ann_pq_adc_recall's lookup-table search); recall@k vs
# global exact L2 measures what probe + compression cost together.
# ---------------------------------------------------------------------------
_IVFPQ_SQL = f"""
WITH {_PQ_CODES_CTES},
coarse AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id,
         embedding AS emb_c
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {_IVF_FLAT_NC}
),
assigned AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {duck_cosine('e.embedding', 'c.emb_c')} DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN coarse c
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS emb_q FROM embeddings
  WHERE vec_id < {_ANN_QUERY_LIMIT}
),
lut AS (
  SELECT q.query_id, c.centroid_id AS cid,
         {", ".join(f"{_pq_duck_dist(s, 'q.emb_q', 'c.emb_c')} AS d{s}" for s in range(_PQ_M))}
  FROM q CROSS JOIN cent c
),
adc AS (
  SELECT l0.query_id, codes.vec_id, aq.cluster,
         ((l0.d0 + l1.d1) + l2.d2) + l3.d3 AS dist
  FROM codes
  JOIN assigned av ON av.vec_id = codes.vec_id
  JOIN q ON TRUE
  JOIN assigned aq ON aq.vec_id = q.query_id AND aq.cluster = av.cluster
  JOIN lut l0 ON l0.cid = codes.code_0 AND l0.query_id = q.query_id
  JOIN lut l1 ON l1.cid = codes.code_1 AND l1.query_id = q.query_id
  JOIN lut l2 ON l2.cid = codes.code_2 AND l2.query_id = q.query_id
  JOIN lut l3 ON l3.cid = codes.code_3 AND l3.query_id = q.query_id
  WHERE codes.vec_id <> q.query_id
),
approx AS (
  SELECT query_id, cluster, vec_id AS neighbor_id FROM (
    SELECT query_id, cluster, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
    FROM adc
  ) WHERE rn <= {_ANN_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, v.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_pq_l2_full('q.emb_q', 'v.embedding')}, v.vec_id
           ) AS rn
    FROM q JOIN embeddings v ON v.vec_id <> q.query_id
  ) WHERE rn <= {_ANN_K}
)
SELECT e.query_id,
       max(a2.cluster) AS cluster,
       count(*) AS n_topk,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS recall
FROM exact e
JOIN assigned a2 ON a2.vec_id = e.query_id
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


@register(
    "ann_ivfpq_recall",
    oracle=_IVFPQ_SQL,
    doc=f"E2: IVF-PQ — nprobe=1 coarse probe ({_IVF_FLAT_NC} clusters) + "
    f"asymmetric-distance ranking from {_PQ_M}-byte codes inside the probed "
    "cluster; recall@k vs global exact L2 (the production FAISS config, "
    "both mechanisms composed and value-hash oracled)",
    tags=("ext", "similarity"),
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the coarse assignment is the broadcast argmax pass of
    ann_ivf_flat (per-vector independence keeps maintenance incremental);
    the search pass reads codes + cluster ids only, joins the broadcast
    per-query lookup tables, and restricts candidates to the query's
    cluster BEFORE any distance math — candidate volume is |cluster|, not
    |corpus|. Ranking and recall reuse the two-phase top-k merge."""
    from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (
        _sub_sq_dist,
        assign_ivf_flat_clusters,
        ivf_flat_centroids,
        pq_codes,
        topk_per_query,
    )

    emb = parallel_scan(spark, sf_dir, "embeddings")
    assigned = assign_ivf_flat_clusters(emb, n_centroids=_IVF_FLAT_NC)
    cent = ivf_flat_centroids(emb, _PQ_K).select("centroid_id", "emb_c")
    codes = pq_codes(emb, m=_PQ_M, k=_PQ_K, dim=_PQ_DIM).select(
        "vec_id", *[f"code_{s}" for s in range(_PQ_M)]
    )
    queries = (
        emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_q"))
        .join(
            assigned.select(
                F.col("vec_id").alias("query_id"), F.col("cluster").alias("q_cluster")
            ),
            "query_id",
        )
    )
    lut = queries.select("query_id", "emb_q").crossJoin(F.broadcast(cent)).select(
        "query_id",
        "centroid_id",
        *[
            F.expr(
                _sub_sq_dist("emb_q", "emb_c", s * _PQ_SUB + 1, (s + 1) * _PQ_SUB)
            ).alias(f"d{s}")
            for s in range(_PQ_M)
        ],
    )
    lut = lut.localCheckpoint(eager=False)
    cand = codes.join(assigned.select("vec_id", "cluster"), "vec_id").join(
        F.broadcast(queries.select("query_id", F.col("q_cluster").alias("cluster"))),
        "cluster",
    )
    adc = cand.join(
        F.broadcast(
            lut.select(
                "query_id", F.col("centroid_id").alias("code_0"), F.col("d0").alias("t0")
            )
        ),
        ["query_id", "code_0"],
    )
    for s in range(1, _PQ_M):
        adc = adc.join(
            F.broadcast(
                lut.select(
                    "query_id",
                    F.col("centroid_id").alias(f"code_{s}"),
                    F.col(f"d{s}").alias(f"t{s}"),
                )
            ),
            ["query_id", f"code_{s}"],
        )
    scored = adc.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (-((F.col("t0") + F.col("t1")) + F.col("t2") + F.col("t3"))).alias("cos_raw"),
    )
    approx = topk_per_query(scored, k=_ANN_K).select("query_id", "neighbor_id")
    ex_scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb_n"))
        .crossJoin(F.broadcast(queries.select("query_id", "emb_q")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (-F.expr(_sub_sq_dist("emb_q", "emb_n", 1, _PQ_DIM))).alias("cos_raw"),
        )
    )
    exact = topk_per_query(ex_scored, k=_ANN_K).select("query_id", "neighbor_id")
    merged = exact.join(
        approx.withColumn("is_hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    ).join(
        queries.select("query_id", F.col("q_cluster").alias("cluster")), "query_id"
    )
    return merged.groupBy("query_id").agg(
        F.max("cluster").cast("long").alias("cluster"),
        F.count(F.lit(1)).alias("n_topk"),
        F.sum(F.coalesce("is_hit", F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("is_hit", F.lit(0))).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )


# ===========================================================================
# SemDeDup-style semantic dedup: cluster-blocked cosine pairs with a
# keep-the-member-closest-to-the-centroid drop rule.
# ===========================================================================
_SEM_TAU = 0.35
#: Quantized-centroid integer division, truncation-toward-zero spelled
#: portably (Spark `div` truncates, DuckDB `//` floors — they agree only on
#: nonnegative operands, so the sign is factored out).
_SEM_CMICRO_DUCK = "CASE WHEN csum >= 0 THEN csum // n ELSE -((-csum) // n) END"
_SEM_CMICRO_SPARK = "CASE WHEN csum >= 0 THEN csum div n ELSE -((-csum) div n) END"

_SEM_DEDUP_SQL = f"""
WITH m AS (
  SELECT vec_id, label,
         list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
  FROM embeddings
),
mm AS (
  SELECT vec_id, label, mv,
         list_sum(list_transform(mv, v -> CAST(v AS DOUBLE) * v)) AS n2
  FROM m
),
cells AS (
  SELECT label, i AS dim, CAST(sum(mv[i]) AS BIGINT) AS csum,
         CAST(count(*) AS BIGINT) AS n
  FROM mm, unnest(range(1, len(mv) + 1)) AS t(i)
  GROUP BY label, i
),
cent AS (
  SELECT label,
         list_transform(
           list_sort(list(ROW(dim, {_SEM_CMICRO_DUCK}))), r -> r[2]) AS cv
  FROM cells GROUP BY label
),
cn AS (
  SELECT label, cv,
         list_sum(list_transform(cv, v -> CAST(v AS DOUBLE) * v)) AS c_n2
  FROM cent
),
members AS (
  SELECT mm.vec_id, mm.label, mm.mv, mm.n2,
         CASE WHEN mm.n2 * cn.c_n2 > 0 THEN
           list_sum(list_transform(range(1, len(mm.mv) + 1),
              i -> CAST(mm.mv[i] AS DOUBLE) * cn.cv[i]))
           / sqrt(mm.n2 * cn.c_n2)
         ELSE 0.0 END AS sim_c
  FROM mm JOIN cn ON mm.label = cn.label
),
drops AS (
  SELECT DISTINCT CASE WHEN a.sim_c > b.sim_c THEN b.vec_id
                       WHEN b.sim_c > a.sim_c THEN a.vec_id
                       ELSE greatest(a.vec_id, b.vec_id) END AS vec_id
  FROM members a JOIN members b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE a.n2 > 0 AND b.n2 > 0
    AND list_sum(list_transform(range(1, len(a.mv) + 1),
          i -> CAST(a.mv[i] AS DOUBLE) * b.mv[i])) / sqrt(a.n2 * b.n2)
        >= {_SEM_TAU}
)
SELECT m.vec_id, m.label, round(m.sim_c, 6) AS centroid_sim,
       d.vec_id IS NULL AS keep
FROM members m LEFT JOIN drops d ON m.vec_id = d.vec_id
"""


@register(
    "dedup_semantic",
    oracle=_SEM_DEDUP_SQL,
    doc="SemDeDup-style semantic dedup: cluster-blocked pairwise cosine "
    f"(tau={_SEM_TAU}) with keep = the member closest to the integer-"
    "quantized cluster centroid (vec_id tie-break); full keep/drop list "
    "with centroid similarity per vector",
    tags=("ext", "dedup", "similarity"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) composition: cluster assignment blocks
    the candidate space, pairwise cosine runs only within a cluster, and the
    canonical survivor of a near-dup pair is the member nearest its cluster
    centroid. The precomputed ``label`` column stands in for the k-means
    step (ann_ivf covers learned centroid assignment; the semantics here are
    the keep-rule and the blocked pair scan).

    Scale shape: the pair join is label-blocked — quadratic only within a
    cluster, the knob SemDeDup itself exposes via k (clusters are sized so
    members fit a partition; the join key is the uniform cluster id).
    Centroids are one keyed integer aggregation (|clusters| x |dims| cells)
    broadcast back to members; every dot product is exact-integer micro
    units folded sequentially into doubles, so similarities — and therefore
    the keep/drop verdicts — are bit-identical across engines and across
    partitionings.
    """
    emb = parallel_scan(spark, sf_dir, "embeddings")
    mm = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("mv"),
    ).withColumn(
        "n2",
        F.expr(
            "aggregate(mv, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * v)"
        ),
    )
    cells = mm.select(
        "label", F.posexplode("mv").alias("dim0", "micro")
    ).groupBy("label", F.col("dim0")).agg(
        F.sum("micro").cast("long").alias("csum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cent = (
        cells.select("label", "dim0", F.expr(_SEM_CMICRO_SPARK).alias("cmicro"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim0, cmicro))), r -> r.cmicro)"
            ).alias("cv")
        )
        .withColumn(
            "c_n2",
            F.expr(
                "aggregate(cv, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * v)"
            ),
        )
    )
    members = mm.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        "mv",
        "n2",
        F.expr(
            "CASE WHEN n2 * c_n2 > 0 THEN "
            "aggregate(zip_with(mv, cv, (x, y) -> CAST(x AS DOUBLE) * y),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v) / sqrt(n2 * c_n2) "
            "ELSE 0.0 END"
        ).alias("sim_c"),
    ).localCheckpoint(eager=False)
    a = members.select(
        F.col("label"),
        F.col("vec_id").alias("va"),
        F.col("mv").alias("mva"),
        F.col("n2").alias("n2a"),
        F.col("sim_c").alias("sca"),
    )
    b = members.select(
        F.col("label"),
        F.col("vec_id").alias("vb"),
        F.col("mv").alias("mvb"),
        F.col("n2").alias("n2b"),
        F.col("sim_c").alias("scb"),
    )
    pairs = (
        a.join(b, "label")
        .filter((F.col("va") < F.col("vb")) & (F.col("n2a") > 0) & (F.col("n2b") > 0))
        .withColumn(
            "cos",
            F.expr(
                "aggregate(zip_with(mva, mvb, (x, y) -> CAST(x AS DOUBLE) * y),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v) / sqrt(n2a * n2b)"
            ),
        )
        .filter(F.col("cos") >= _SEM_TAU)
    )
    drops = pairs.select(
        F.when(F.col("sca") > F.col("scb"), F.col("vb"))
        .when(F.col("scb") > F.col("sca"), F.col("va"))
        .otherwise(F.greatest("va", "vb"))
        .alias("vec_id")
    ).distinct()
    return members.join(drops.withColumn("_d", F.lit(1)), "vec_id", "left").select(
        "vec_id",
        "label",
        F.round("sim_c", 6).alias("centroid_sim"),
        F.col("_d").isNull().alias("keep"),
    )


# ---------------------------------------------------------------------------
# Dimensionality reduction: top principal component, exact-integer and
# engine-identical end to end.
# ---------------------------------------------------------------------------
_PCA_D = 64          # embedding dimensionality (TESTDATA.md)
_PCA_T = 6           # fixed power-iteration count
_PCA_Q = 10_000      # quantization scale: |e| < 1 => |q| < 2^14


def _pca_gram(q: DataFrame) -> DataFrame:
    """Distributed X^T X over a quantized-vector column ``q``: each row
    narrowly emits its d^2 outer-product terms, which partial-aggregate
    map-side onto d^2 keys (exposed separately so the plan shape is
    pin-testable — the stage is consumed eagerly by the driver iteration)."""
    pairs = q.select(
        F.explode(
            F.expr(
                "flatten(transform(q, (qi, i) -> transform(q, (qj, j) ->"
                " named_struct('i', i, 'j', j, 'p', qi * qj))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.p")
    return pairs.groupBy("i", "j").agg(F.sum("p").alias("g"))


def _pca_oracle_sql() -> str:
    """DuckDB twin of the integer power iteration: gram matrix from the
    quantized vectors, T chained matvec+renormalize CTEs, projection join.
    Every step is BIGINT-exact, so the iteration is bit-identical to the
    driver-side Python mirror in :func:`embedding_pca_project`."""
    head = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {_PCA_Q}) AS BIGINT)) AS q
  FROM embeddings
),
e1 AS (SELECT vec_id, q, unnest(range({_PCA_D})) AS i FROM q),
e2 AS (SELECT vec_id, q, i, q[i + 1] AS qi FROM e1),
e3 AS (SELECT i, unnest(range({_PCA_D})) AS j, qi, q FROM e2),
g AS (
  SELECT i, j, CAST(sum(qi * q[j + 1]) AS BIGINT) AS g
  FROM e3 GROUP BY i, j
),
gm AS (
  SELECT i, j,
         (CASE WHEN g >= 0 THEN 1 ELSE -1 END)
           * (abs(g) // (SELECT max(abs(g)) // 1099511627776 + 1 FROM g)) AS g
  FROM g
),
v0 AS (SELECT unnest(range({_PCA_D})) AS i, CAST(1024 AS BIGINT) AS val)"""
    steps = []
    for t in range(1, _PCA_T + 1):
        steps.append(f""",
w{t} AS (
  SELECT gm.i AS i, CAST(sum(gm.g * v{t - 1}.val) AS BIGINT) AS w
  FROM gm JOIN v{t - 1} ON gm.j = v{t - 1}.i GROUP BY gm.i
),
v{t} AS (
  SELECT i,
         (CASE WHEN w >= 0 THEN 1 ELSE -1 END)
           * (abs(w) // ((SELECT max(abs(w)) FROM w{t}) // 1024 + 1)) AS val
  FROM w{t}
)""")
    tail = f"""
SELECT q.vec_id, q.label,
       CAST(sum(q.q[v.i + 1] * v.val) AS BIGINT) AS proj
FROM q, v{_PCA_T} AS v
GROUP BY q.vec_id, q.label
"""
    return head + "".join(steps) + tail


@register(
    "embedding_pca_project",
    oracle=_pca_oracle_sql(),
    doc="Top principal component (uncentered) of the embedding corpus via an "
    "exact-integer gram matrix and a fixed-count integer power iteration; "
    "every vector's projection onto the component is returned as an exact "
    "BIGINT — deterministic across engines, layouts, and retries",
    tags=("ext", "embedding"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the only O(data) work is the gram accumulation — each row
    narrowly emits its d^2 quantized outer-product terms, which partial-
    aggregate map-side onto d^2 = 4096 keys (the canonical distributed
    X^T X matmul; shuffle volume is O(partitions * d^2), independent of row
    count). The 64x64 eigen-solve itself is metadata-sized, so it runs as an
    integer power iteration on the driver and re-enters the plan as a
    broadcast literal for the projection pass; DuckDB replays the identical
    iteration in SQL, which is what makes the per-vector projections
    hash-comparable as exact integers. Quantization at 1e4 bounds gram
    entries by 2^28 * n_rows, so the BIGINT arithmetic is overflow-safe to
    ~2^34 vectors; the renormalizing divisor (max//1024 + 1) keeps every
    matvec term under 2^56."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_PCA_Q}) AS BIGINT))"
        ).alias("q"),
    ).localCheckpoint(eager=False)  # feeds the gram pass AND the projection
    grows = _pca_gram(q).collect()
    # Driver-side integer power iteration over the 64x64 gram — bounded
    # metadata, mirrored step-for-step by the oracle's SQL CTE chain.
    gmax = max(abs(r.g) for r in grows)
    s = gmax // (1 << 40) + 1
    gm = {(r.i, r.j): (1 if r.g >= 0 else -1) * (abs(r.g) // s) for r in grows}
    v = [1024] * _PCA_D
    for _ in range(_PCA_T):
        w = [
            sum(gm.get((i, j), 0) * v[j] for j in range(_PCA_D))
            for i in range(_PCA_D)
        ]
        nd = max(abs(x) for x in w) // 1024 + 1
        v = [(1 if x >= 0 else -1) * (abs(x) // nd) for x in w]
    vlit = ", ".join(f"{x}L" for x in v)
    return q.select(
        "vec_id",
        "label",
        F.expr(
            f"aggregate(zip_with(q, array({vlit}), (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("proj"),
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd's algorithm), exact-integer and engine-identical.
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_T = 3
_KM_D = 64
_KM_Q = 10_000  # same quantization scale as PCA: |q| < 2^14


def _km_oracle_sql() -> str:
    """DuckDB twin: md5-deterministic seeding, then T assignment+update
    rounds as chained CTEs. Distances and centroid updates are exact BIGINT
    (squared L2 of quantized ints; sign-aware truncating-division means);
    ties break on the smaller centroid id, so every round is bit-identical
    to the Spark loop."""
    head = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {_KM_Q}) AS BIGINT)) AS q
  FROM embeddings
),
seeded AS (
  SELECT vec_id, q,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_KM_K} AS bucket,
         md5(CAST(vec_id AS VARCHAR)) AS h
  FROM q
),
c0 AS MATERIALIZED (
  SELECT bucket AS j, q AS c
  FROM (SELECT bucket, q,
               row_number() OVER (PARTITION BY bucket ORDER BY h, vec_id) AS rn
        FROM seeded)
  WHERE rn = 1
)"""
    steps = []
    for t in range(1, _KM_T + 1):
        steps.append(f""",
a{t} AS (
  SELECT vec_id, q, j, dist
  FROM (
    SELECT q.vec_id, q.q, c.j,
           CAST(list_sum(list_transform(range(1, {_KM_D} + 1),
             i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))) AS BIGINT) AS dist,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY CAST(list_sum(list_transform(range(1, {_KM_D} + 1),
                                i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))) AS BIGINT), c.j) AS rn
    FROM q CROSS JOIN c{t - 1} c
  ) WHERE rn = 1
),
u{t} AS (
  SELECT j, i AS d,
         (CASE WHEN sum(v) >= 0 THEN 1 ELSE -1 END)
           * (abs(CAST(sum(v) AS BIGINT)) // CAST(count(*) AS BIGINT)) AS val
  FROM (SELECT j, unnest(range(1, {_KM_D} + 1)) AS i, unnest(q) AS v FROM a{t})
  GROUP BY j, i
),
c{t} AS MATERIALIZED (
  SELECT prev.j,
         coalesce(upd.c, prev.c) AS c
  FROM c{t - 1} prev
  LEFT JOIN (SELECT j, list(val ORDER BY d) AS c FROM u{t} GROUP BY j) upd
    ON prev.j = upd.j
)"""
        )
    tail = f"""
SELECT a.j AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a.dist) AS BIGINT) AS inertia_last_assign,
       (SELECT CAST(list_sum(list_transform(range(1, {_KM_D} + 1),
          i -> i * c.c[i])) AS BIGINT) FROM c{_KM_T} c WHERE c.j = a.j)
         AS centroid_checksum
FROM a{_KM_T} a GROUP BY a.j
"""
    return head + "".join(steps) + tail


@register(
    "kmeans_lloyd_exact",
    oracle=_km_oracle_sql(),
    doc="K-means with REAL Lloyd iterations (k=8, 3 rounds), every step "
    "exact-integer: md5-seeded initial centroids, BIGINT squared-L2 "
    "assignment with id tie-breaks, sign-aware integer-mean updates, empty "
    "clusters keep their centroid — bit-identical across engines, layouts, "
    "and retries (unlike float k-means, which is none of those)",
    tags=("ext", "embedding", "similarity"),
)
def kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape per round: assignment is a narrow argmin over k=8
    broadcast centroid literals (an array-of-structs min — no join, no
    shuffle); the update is one keyed aggregation onto k*d = 512 keys with
    map-side partial sums. The only driver traffic is the 512-int centroid
    table per round — the same bounded control-plane contract as IVF/PCA.
    Integer arithmetic is what makes a distributed iterative clusterer
    reproducible: float centroid sums would differ by partition order every
    round and compound across iterations."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_KM_Q}) AS BIGINT))"
        ).alias("q"),
    ).localCheckpoint(eager=False)  # consumed once per round + final agg

    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    seeded = q.select(
        "vec_id",
        "q",
        (hash_uniform("vec_id") % _KM_K).alias("bucket"),
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("bucket").orderBy("h", "vec_id")
    )
    c_rows = (
        seeded.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(F.col("bucket").alias("j"), "q")
        .collect()
    )
    centroids = {r.j: list(r.q) for r in c_rows}

    def assign_df():
        cand = ", ".join(
            "named_struct('dist', CAST(aggregate(zip_with(q, array({vals}), "
            "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT), "
            "'j', {j})".format(
                vals=", ".join(f"{v}L" for v in centroids[j]), j=j
            )
            for j in sorted(centroids)
        )
        return q.select(
            "vec_id",
            "q",
            F.expr(f"array_min(array({cand}))").alias("best"),
        ).select(
            "vec_id", "q", F.col("best.j").alias("j"), F.col("best.dist").alias("dist")
        )

    assigned = None
    for _ in range(_KM_T):
        assigned = assign_df()
        sums = (
            assigned.select("j", F.expr("posexplode(q) AS (d, v)"))
            .groupBy("j", "d")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        upd: dict[int, list[int]] = {}
        for r in sums:
            upd.setdefault(r.j, [0] * _KM_D)[r.d] = (
                1 if r.s >= 0 else -1
            ) * (abs(r.s) // r.n)
        for j in centroids:
            if j in upd:
                centroids[j] = upd[j]
    final = assigned.groupBy("j").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("dist").cast("long").alias("inertia_last_assign"),
    )
    cs_rows = [
        (j, sum((i + 1) * v for i, v in enumerate(centroids[j])))
        for j in sorted(centroids)
    ]
    cs = spark.createDataFrame(cs_rows, "j int, centroid_checksum long")
    return final.join(F.broadcast(cs), "j").select(
        F.col("j").alias("cluster"),
        "n_members",
        "inertia_last_assign",
        "centroid_checksum",
    )


# ---------------------------------------------------------------------------
# LSH recall evaluation against the exact pair set.
# ---------------------------------------------------------------------------
_LSH_EVAL_SQL = f"""
WITH tok AS (
  SELECT doc_id, {duck_shingles()} AS sh FROM documents
),
true_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE 2 * len(list_intersect(a.sh, b.sh))
        >= len(list_distinct(a.sh || b.sh))
    AND len(a.sh) > 0 AND len(b.sh) > 0
),
mh AS (
  SELECT doc_id, sh, {duck_minhash_cols()} FROM tok
),
bands AS (
  {duck_band_union()}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
),
det AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN tok a ON a.doc_id = c.doc_a JOIN tok b ON b.doc_id = c.doc_b
  WHERE 2 * len(list_intersect(a.sh, b.sh))
        >= len(list_distinct(a.sh || b.sh))
    AND len(a.sh) > 0 AND len(b.sh) > 0
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM true_pairs) AS n_true_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM det) AS n_detected,
       CASE WHEN (SELECT count(*) FROM true_pairs) = 0 THEN NULL
            ELSE round(CAST((SELECT count(*) FROM det) AS DOUBLE)
                       / (SELECT count(*) FROM true_pairs), 6) END AS recall,
       CASE WHEN (SELECT count(*) FROM cand) = 0 THEN NULL
            ELSE round(CAST((SELECT count(*) FROM det) AS DOUBLE)
                       / (SELECT count(*) FROM cand), 6) END AS candidate_precision
"""


@register(
    "dedup_lsh_recall",
    oracle=_LSH_EVAL_SQL,
    doc="LSH quality evaluation: MinHash(12)+LSH(4x3) candidate pairs "
    "measured against the EXACT Jaccard>=1/2 pair set (AllPairs prefix "
    "filtering) — recall and candidate precision as one audited row, the "
    "measurement that turns LSH parameter choices into evidence",
    tags=("ext", "dedup"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact side is the lossless prefix-filter join (no
    brute force anywhere in the Spark plan — the O(n^2) join lives only in
    the oracle); the LSH side is the salted band self-join; both verify
    with the integer threshold (2*|intersect| >= |union|, no float
    compare). The three counts fold to one row via broadcast joins of
    1-row aggregates."""
    from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
        jaccard_allpairs_pairs,
        lsh_candidate_pairs,
        with_bands,
        with_minhash,
        with_shingles,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    sh = with_shingles(docs).select("doc_id", "sh").localCheckpoint(eager=False)
    n_true = (
        jaccard_allpairs_pairs(docs)
        .agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    )
    cand = lsh_candidate_pairs(with_bands(with_minhash(sh))).localCheckpoint(
        eager=False
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    det = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(
            (F.expr("2 * size(array_intersect(sa, sb))")
             >= F.expr("size(array_distinct(concat(sa, sb)))"))
            & (F.expr("size(sa)") > 0)
            & (F.expr("size(sb)") > 0)
        )
    )
    n_det = det.agg(F.count(F.lit(1)).cast("long").alias("n_detected"))
    out = n_true.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(n_det))
    return out.select(
        "n_true_pairs",
        "n_candidates",
        "n_detected",
        F.when(F.col("n_true_pairs") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("n_detected").cast("double")
                / F.col("n_true_pairs").cast("double"),
                6,
            )
        )
        .alias("recall"),
        F.when(F.col("n_candidates") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("n_detected").cast("double")
                / F.col("n_candidates").cast("double"),
                6,
            )
        )
        .alias("candidate_precision"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation recall: how much ANN quality survives keeping only
# the FIRST 8 of 64 dimensions — the measurement behind
# Matryoshka-representation deployment (truncate first, rerank later).
# Same harness as ann_quantized_recall: exact cosine top-k vs truncated
# cosine top-k, per-query recall@k; truncation is a narrow slice, so the
# candidate scan reads 4x fewer floats per vector.
# ---------------------------------------------------------------------------
_MRL_DIMS = 8

_MRL_RECALL_SQL = f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {duck_cosine('q.embedding', 'v.embedding')} DESC, v.vec_id
           ) AS rank
    FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {_ANN_QUERY_LIMIT}
  ) WHERE rank <= {_ANN_K}
),
tr AS (
  SELECT vec_id, embedding[1:{_MRL_DIMS}] AS t FROM embeddings
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {duck_cosine('q.t', 'v.t')} DESC, v.vec_id
           ) AS rank
    FROM tr q JOIN tr v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {_ANN_QUERY_LIMIT}
  ) WHERE rank <= {_ANN_K}
)
SELECT e.query_id,
       count(*) AS n_topk,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS recall
FROM exact e
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


@register(
    "ann_matryoshka_recall",
    oracle=_MRL_RECALL_SQL,
    doc=f"E2: Matryoshka truncation quality — per-query recall@{_ANN_K} of "
    f"cosine top-k over the first {_MRL_DIMS} of 64 dims vs the exact "
    "full-dimension ranking (truncate-then-rerank deployment measurement)",
    tags=("ext", "similarity"),
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to ann_quantized_recall's harness — both
    rankings run through brute_force_topk (broadcast query side, two-phase
    local/merge top-k); the truncation is a narrow slice() so the
    truncated scan moves dims/4 of the bytes. The intersection join is
    keyed (query_id, neighbor_id), k rows per query per side. At corpus
    scale the truncated pass is the cheap first stage that gates the
    full-dimension rerank."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    exact = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT), k=_ANN_K
    ).select("query_id", "neighbor_id")
    tr = emb.select(
        "vec_id", F.expr(f"slice(embedding, 1, {_MRL_DIMS})").alias("t")
    )
    approx = (
        brute_force_topk(
            tr,
            tr.filter(F.col("vec_id") < _ANN_QUERY_LIMIT),
            k=_ANN_K,
            vec_col="t",
        )
        .select("query_id", "neighbor_id")
        .withColumn("is_hit", F.lit(1))
    )
    merged = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return merged.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_topk"),
        F.sum(F.coalesce("is_hit", F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("is_hit", F.lit(0))).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Embedding dispersion WITHOUT the pairwise join: the mean pairwise cosine
# within a label satisfies  sum_{i!=j} <v_i, v_j> = ||sum_i v_i||^2 - n
# for unit vectors — so one vector-sum pass replaces the O(n^2) similarity
# join entirely. To keep the identity exact across engines, unit vectors
# are quantized per row to integer milli components (deterministic floor),
# making every sum and dot product BIGINT arithmetic; n * 1e6 is then the
# exact "self" term of the quantized vectors' norms... which is itself
# summed exactly rather than assumed, so the identity holds bit-for-bit.
# ---------------------------------------------------------------------------
_EMB_DIM = 64

_DISP_SQL = """
WITH q AS (
  SELECT label,
         list_transform(embedding, x -> CAST(floor(x * 1000
           / nullif(sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * y))), 0))
           AS BIGINT)) AS v
  FROM embeddings
),
comp AS (
  SELECT label, i, CAST(sum(x) AS BIGINT) AS s
  FROM (
    SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS i FROM q
  ) GROUP BY label, i
),
sv AS (
  SELECT label, CAST(sum(s * s) AS BIGINT) AS sumvec_dot FROM comp GROUP BY label
),
base AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(list_sum(list_transform(v, x -> x * x))) AS BIGINT) AS self_dot
  FROM q GROUP BY label
)
SELECT b.label, b.n, b.self_dot, sv.sumvec_dot,
       CAST((sv.sumvec_dot - b.self_dot) * 1000000 // (b.n * (b.n - 1))
            AS BIGINT) AS mean_pair_dot_scaled
FROM base b JOIN sv ON sv.label = b.label
WHERE b.n > 1
"""


@register(
    "embedding_dispersion",
    oracle=_DISP_SQL,
    doc="Per-label embedding dispersion with ZERO pairwise work: mean "
    "pairwise dot of milli-quantized unit vectors via the sum-vector "
    "identity sum_{i!=j}<vi,vj> = ||sum vi||^2 - sum||vi||^2 — one "
    "aggregation pass replaces the O(n^2) similarity join",
    tags=("ext", "similarity", "stats"),
)
def embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the whole statistic is one keyed aggregation — per
    label, a 32-component integer vector sum plus two scalar sums, all
    map-side partial. The algebraic identity is the 100 TB story: cluster
    cohesion/dispersion metrics never need the pairwise join that a naive
    implementation reaches for. Quantizing each row to integer milli
    BEFORE summing makes the identity exact in BIGINT (a float vector sum
    would be reduction-order-dependent)."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 1000"
            " / nullif(sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (a, y) -> a + CAST(y AS DOUBLE) * y)), 0)) AS BIGINT))"
        ).alias("v"),
    )
    persum = q.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.expr("aggregate(v, CAST(0 AS BIGINT), (a, x) -> a + x * x)")
        )
        .cast("long")
        .alias("self_dot"),
        F.array(
            *[
                F.sum(F.expr(f"element_at(v, {i})")).cast("long")
                for i in range(1, _EMB_DIM + 1)
            ]
        ).alias("sumvec"),
    )
    return (
        persum.filter(F.col("n") > 1)
        .select(
            "label",
            "n",
            "self_dot",
            F.expr("aggregate(sumvec, CAST(0 AS BIGINT), (a, x) -> a + x * x)")
            .cast("long")
            .alias("sumvec_dot"),
            F.expr(
                "(aggregate(sumvec, CAST(0 AS BIGINT), (a, x) -> a + x * x)"
                " - self_dot) * 1000000 div (n * (n - 1))"
            )
            .cast("long")
            .alias("mean_pair_dot_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup method agreement: do the exact and near-dup detectors tell one
# story? Exact duplicates (md5 text groups) are BY CONSTRUCTION a subset of
# MinHash-LSH near-duplicates — identical text means identical shingles,
# identical signature, identical bands, so the pair can't be missed and its
# verified Jaccard is 1. The report counts the Venn cells and carries
# n_exact_only (which must be 0) in the value hash: a banding or signature
# regression that breaks the containment breaks the query.
# ---------------------------------------------------------------------------
_AGREE_J_THRESH_MILLI = 500

_AGREE_SQL = f"""
WITH tok AS (
  SELECT doc_id, {duck_shingles()} AS sh FROM documents
),
mh AS (
  SELECT doc_id, sh,
         {duck_minhash_cols()}
  FROM tok
),
bands AS (
  {duck_band_union()}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
),
near_pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN tok ta ON ta.doc_id = p.doc_a
  JOIN tok tb ON tb.doc_id = p.doc_b
  WHERE 1000 * len(list_intersect(ta.sh, tb.sh))
        >= {_AGREE_J_THRESH_MILLI} * len(list_distinct(ta.sh || tb.sh))
),
near_docs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM near_pairs
    UNION ALL SELECT doc_b AS doc_id FROM near_pairs
  )
),
exact_docs AS (
  SELECT doc_id FROM (
    SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS n_copies
    FROM documents
  ) WHERE n_copies > 1
),
flags AS (
  SELECT d.doc_id,
         e.doc_id IS NOT NULL AS in_exact,
         n.doc_id IS NOT NULL AS in_near
  FROM documents d
  LEFT JOIN exact_docs e ON e.doc_id = d.doc_id
  LEFT JOIN near_docs n ON n.doc_id = d.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN in_near THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
       CAST(sum(CASE WHEN in_exact AND in_near THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(sum(CASE WHEN in_exact AND NOT in_near THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_only,
       CAST(sum(CASE WHEN in_near AND NOT in_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_only,
       CAST(sum(CASE WHEN NOT in_exact AND NOT in_near THEN 1 ELSE 0 END)
            AS BIGINT) AS n_neither
FROM flags
"""


@register(
    "dedup_method_agreement",
    oracle=_AGREE_SQL,
    doc="Dedup governance report: Venn cells of exact (md5 groups) vs "
    "MinHash-LSH near-dup (verified Jaccard >= 0.5) doc sets — "
    "n_exact_only is a structural invariant (identical text cannot evade "
    "LSH) and sits in the value hash",
    tags=("ext", "dedup", "quality"),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: reuses the production minhash pipeline (salted band
    self-join, verify only candidates) and the exact-dup window; the two
    doc-id flag sets join back onto the corpus on the uniform doc key and
    reduce to ONE summary row. The division-free Jaccard threshold
    (1000*|intersect| >= 500*|union|) keeps the near set integer-exact."""
    docs = parallel_scan(spark, sf_dir, "documents")
    docs = docs.localCheckpoint(eager=False)  # exact window AND minhash legs
    shingled = with_shingles(docs).select("doc_id", "sh")
    shingled = shingled.localCheckpoint(eager=False)
    banded = with_bands(with_minhash(shingled))
    pairs = lsh_candidate_pairs(banded)
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    near_pairs = (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .filter(
            1000 * F.size(F.array_intersect("sh_a", "sh_b"))
            >= _AGREE_J_THRESH_MILLI
            * F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
        )
        .select("doc_a", "doc_b")
    )
    near_docs = (
        near_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(near_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("in_near_f", F.lit(1))
    )
    from pyspark.sql import Window

    exact_docs = (
        docs.select(
            "doc_id",
            F.count(F.lit(1)).over(Window.partitionBy(F.md5("text"))).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("doc_id")
        .withColumn("in_exact_f", F.lit(1))
    )
    flags = (
        docs.select("doc_id")
        .join(exact_docs, "doc_id", "left")
        .join(near_docs, "doc_id", "left")
        .select(
            F.col("in_exact_f").isNotNull().alias("in_exact"),
            F.col("in_near_f").isNotNull().alias("in_near"),
        )
    )
    c = lambda cond: F.sum(cond.cast("int")).cast("long")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        c(F.col("in_exact")).alias("n_exact"),
        c(F.col("in_near")).alias("n_near"),
        c(F.col("in_exact") & F.col("in_near")).alias("n_both"),
        c(F.col("in_exact") & ~F.col("in_near")).alias("n_exact_only"),
        c(F.col("in_near") & ~F.col("in_exact")).alias("n_near_only"),
        c(~F.col("in_exact") & ~F.col("in_near")).alias("n_neither"),
    )


# ---------------------------------------------------------------------------
# Retrieval ranking quality (nDCG@k, MRR): recall contracts elsewhere in the
# registry check WHAT the ANN candidates contain; ranking metrics check the
# ORDER a retrieval system puts them in — the number a RAG or search stack
# actually tunes against. Binary relevance = same label as the query.
# Exactness device: the rank discounts 1/log2(i+1) are precomputed integer
# micro-weights (one shared literal table in both engines), so DCG, IDCG
# and nDCG are pure integer arithmetic — no runtime logarithm, no float
# divergence.
# ---------------------------------------------------------------------------
import math as _math

_NDCG_K = 10
_NDCG_QUERIES = 20
#: floor(1e9 / (1e3 * floor(log2(i+1) * 1e3))) * 1e3-scale: integer micro
#: discount weights w_i = 1_000_000_000 // log2_milli(i + 1), i = 1.._NDCG_K.
_NDCG_W = tuple(
    1_000_000_000 // int(_math.log2(i + 1) * 1000) for i in range(1, _NDCG_K + 1)
)
#: Ideal-DCG prefix sums: IDCG(n) = sum of the first min(n, k) weights.
_NDCG_IDCG = tuple(
    sum(_NDCG_W[:n]) for n in range(1, _NDCG_K + 1)
)

_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"
_NDCG_IDCG_SQL = "[" + ", ".join(str(s) for s in _NDCG_IDCG) + "]"

_NDCG_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         v.vec_id AS neighbor_id, v.label AS n_label,
         {duck_cosine('q.embedding', 'v.embedding')} AS cos_raw
  FROM embeddings q
  JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {_NDCG_QUERIES}
),
ranked AS (
  SELECT query_id, q_label, n_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
),
rel_corpus AS (
  SELECT q.vec_id AS query_id, CAST(count(*) AS BIGINT) AS n_rel_corpus
  FROM embeddings q JOIN embeddings v
    ON v.label = q.label AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {_NDCG_QUERIES}
  GROUP BY q.vec_id
),
topk AS (
  SELECT query_id, q_label,
         CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_at_k,
         CAST(sum(CASE WHEN n_label = q_label
                       THEN {_NDCG_W_SQL}[rank] ELSE 0 END) AS BIGINT)
           AS dcg_micro,
         CAST(min(CASE WHEN n_label = q_label THEN rank END) AS BIGINT)
           AS first_rel_rank
  FROM ranked WHERE rank <= {_NDCG_K}
  GROUP BY query_id, q_label
)
SELECT t.query_id, t.q_label AS label, r.n_rel_corpus, t.n_rel_at_k,
       t.dcg_micro,
       CAST(1000000 * t.dcg_micro
            // {_NDCG_IDCG_SQL}[least(r.n_rel_corpus, {_NDCG_K})] AS BIGINT)
         AS ndcg_ppm,
       CAST(COALESCE(1000000 // t.first_rel_rank, 0) AS BIGINT) AS mrr_ppm
FROM topk t JOIN rel_corpus r ON r.query_id = t.query_id
"""


@register(
    "retrieval_ndcg",
    oracle=_NDCG_SQL,
    doc=f"IR ranking quality: nDCG@{_NDCG_K} and MRR of the exact-cosine "
    "retrieval ranking against same-label binary relevance — rank "
    "discounts are a shared precomputed integer micro-weight table, so "
    "DCG/IDCG/nDCG are pure integer arithmetic with no runtime logarithm",
    tags=("ext", "similarity", "eval"),
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ranking under evaluation is the shared two-phase
    top-k (broadcast query side); relevance totals are one keyed count on
    the bounded label dimension; the metric itself is element_at into two
    broadcast literal arrays plus a per-query aggregation — evaluation
    adds nothing wider than the retrieval it measures."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    emb = emb.localCheckpoint(eager=False)  # feeds corpus, queries AND labels
    queries = emb.filter(F.col("vec_id") < _NDCG_QUERIES)
    topk = brute_force_topk(emb, queries, k=_NDCG_K)
    labels = emb.select("vec_id", "label")
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    rel_corpus = (
        qlab.join(
            labels.withColumnRenamed("label", "n_label"),
            on=[
                F.col("q_label") == F.col("n_label"),
                F.col("vec_id") != F.col("query_id"),
            ],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel_corpus"))
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    idcg_arr = F.array(*[F.lit(s) for s in _NDCG_IDCG])
    judged = (
        topk.join(F.broadcast(qlab), "query_id")
        .join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")
                        .withColumnRenamed("label", "n_label")),
            "neighbor_id",
        )
        .withColumn("rel", (F.col("n_label") == F.col("q_label")).cast("int"))
    )
    per_q = judged.groupBy("query_id", "q_label").agg(
        F.sum("rel").cast("long").alias("n_rel_at_k"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.element_at(w_arr, F.col("rank").cast("int")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg_micro"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).cast("long").alias(
            "first_rel_rank"
        ),
    )
    return per_q.join(F.broadcast(rel_corpus), "query_id").select(
        "query_id",
        F.col("q_label").alias("label"),
        "n_rel_corpus",
        "n_rel_at_k",
        "dcg_micro",
        F.expr(
            f"CAST(1000000 * dcg_micro div element_at(array({', '.join(str(s) for s in _NDCG_IDCG)}),"
            f" CAST(least(n_rel_corpus, {_NDCG_K}) AS INT)) AS BIGINT)"
        ).alias("ndcg_ppm"),
        F.expr(
            "CAST(COALESCE(1000000 div first_rel_rank, 0) AS BIGINT)"
        ).alias("mrr_ppm"),
    )


# ---------------------------------------------------------------------------
# Interleaved multimodal sequence packing (the MMC4/Flamingo construction):
# each document carries one media item (the synthesize_media table); the
# media's TOKEN COST is modality-derived — images cost their ViT patch grid
# ceil(w/32)*ceil(h/32), audio its 12.5 tok/s encoder frames, video 16
# patches per 4 s sampled frame — and the item is spliced at an md5-derived
# offset inside the document's token stream (plus 2 boundary sentinels).
# Docs then pack into fixed multimodal context windows per source by the
# deterministic concat-and-chunk cumsum. The per-bin budget sheet (text vs
# media tokens, modality mix, fill) is what a multimodal pretraining run
# provisions against.
# ---------------------------------------------------------------------------
_MIP_CTX = 4096  # multimodal context window (tokens)
_MIP_PATCH = 32  # ViT patch edge
_MIP_AUDIO_MS_PER_TOK = 80  # 12.5 tokens/s speech encoder
_MIP_VIDEO_FRAME_MS = 4000  # one sampled frame per 4 s
_MIP_VIDEO_TOK_PER_FRAME = 16

_MIP_SQL = f"""
WITH m AS (
  SELECT doc_id, source,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(len({_DUCK_TOK}) AS BIGINT) AS n_text,
         n_chars % 640 + 1 AS width,
         n_chars % 480 + 1 AS height,
         n_chars * 10 AS duration_ms,
         {duck_hash_uniform('doc_id')} AS h
  FROM documents
),
cost AS (
  SELECT doc_id, source, kind, n_text, h,
         CASE kind
           WHEN 'image' THEN ((width + {_MIP_PATCH} - 1) // {_MIP_PATCH})
                             * ((height + {_MIP_PATCH} - 1) // {_MIP_PATCH})
           WHEN 'audio' THEN duration_ms // {_MIP_AUDIO_MS_PER_TOK} + 1
           ELSE (duration_ms // {_MIP_VIDEO_FRAME_MS} + 1)
                * {_MIP_VIDEO_TOK_PER_FRAME}
         END AS media_tokens,
         h % (n_text + 1) AS insert_pos
  FROM m
),
packed AS (
  SELECT *,
         n_text + media_tokens + 2 AS doc_total,
         (sum(n_text + media_tokens + 2) OVER (
            PARTITION BY source ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
           // {_MIP_CTX} AS bin
  FROM cost
)
SELECT source, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE kind = 'image') AS BIGINT) AS n_image,
       CAST(count(*) FILTER (WHERE kind = 'audio') AS BIGINT) AS n_audio,
       CAST(count(*) FILTER (WHERE kind = 'video') AS BIGINT) AS n_video,
       CAST(sum(n_text) AS BIGINT) AS text_tokens,
       CAST(sum(media_tokens) AS BIGINT) AS media_tokens,
       CAST(sum(doc_total) AS BIGINT) AS total_tokens,
       CAST(1000000 * sum(doc_total) // {_MIP_CTX} AS BIGINT) AS fill_ppm,
       CAST(sum(insert_pos) AS BIGINT) AS sum_insert_pos
FROM packed GROUP BY source, bin
"""


@register(
    "media_interleave_pack",
    oracle=_MIP_SQL,
    doc="E4/EXT: interleaved multimodal packing — per-doc media priced by "
    "modality (ViT patch grid / 12.5 tok-s audio frames / 16 tok per 4 s "
    "video frame), spliced at an md5-derived offset with boundary "
    "sentinels, then concat-and-chunk packed into 4096-token multimodal "
    "context windows per source; the per-bin text/media budget sheet",
    tags=("ext", "multimodal", "curation"),
)
def media_interleave_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: everything up to the pack is a narrow projection (token
    count, metadata arithmetic, md5 hash — no text ever shuffles); the pack
    window partitions by source exactly like ``pack_sequences`` (a global
    order would serialize at 100 TB; per-source streams are what training
    mixes anyway), and the final aggregation is keyed on (source, bin) —
    bounded by corpus-tokens / 4096."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    cost = docs.select(
        "doc_id",
        "source",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"))
        .cast("long")
        .alias("n_text"),
        (F.col("n_chars") % 640 + 1).alias("width"),
        (F.col("n_chars") % 480 + 1).alias("height"),
        (F.col("n_chars") * 10).alias("duration_ms"),
        hash_uniform("doc_id").alias("h"),
    ).select(
        "doc_id",
        "source",
        "kind",
        "n_text",
        "h",
        F.expr(
            f"CASE kind"
            f" WHEN 'image' THEN ((width + {_MIP_PATCH} - 1) div {_MIP_PATCH})"
            f"   * ((height + {_MIP_PATCH} - 1) div {_MIP_PATCH})"
            f" WHEN 'audio' THEN duration_ms div {_MIP_AUDIO_MS_PER_TOK} + 1"
            f" ELSE (duration_ms div {_MIP_VIDEO_FRAME_MS} + 1)"
            f"   * {_MIP_VIDEO_TOK_PER_FRAME} END"
        )
        .cast("long")
        .alias("media_tokens"),
        (F.col("h") % (F.col("n_text") + 1)).alias("insert_pos"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        cost.withColumn("doc_total", F.col("n_text") + F.col("media_tokens") + 2)
        .withColumn("cum", F.sum("doc_total").over(w))
        .withColumn("bin", F.expr(f"(cum - 1) div {_MIP_CTX}").cast("long"))
    )
    img = F.count(F.when(F.col("kind") == "image", 1)).cast("long")
    aud = F.count(F.when(F.col("kind") == "audio", 1)).cast("long")
    vid = F.count(F.when(F.col("kind") == "video", 1)).cast("long")
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        img.alias("n_image"),
        aud.alias("n_audio"),
        vid.alias("n_video"),
        F.sum("n_text").cast("long").alias("text_tokens"),
        F.sum("media_tokens").cast("long").alias("media_tokens"),
        F.sum("doc_total").cast("long").alias("total_tokens"),
        F.expr(f"CAST(1000000 * sum(doc_total) div {_MIP_CTX} AS BIGINT)").alias(
            "fill_ppm"
        ),
        F.sum("insert_pos").cast("long").alias("sum_insert_pos"),
    )


# ---------------------------------------------------------------------------
# Streaming novelty ingest: the continuous-crawl monitor for
# ngram_novelty_decay — each micro-batch measures how many of its distinct
# trigrams have NEVER been seen by any earlier ingest (anti-join against the
# persisted first-seen shingle index), then commits its novel shingles to
# the index. The per-batch novelty curve is the live "is this crawl still
# paying?" signal. The 3-batch feed slices docs by doc_id % 3 in mtime
# order, so a shingle's first batch is min(doc_id % 3) over its docs and
# the whole drive value-hashes against batch arithmetic.
# ---------------------------------------------------------------------------
_SNI_BATCHES = 3

_SNI_SQL = f"""
WITH sh AS (
  SELECT doc_id % {_SNI_BATCHES} AS b, unnest({{SH}}) AS s FROM documents
),
per AS (
  SELECT b, CAST(count(DISTINCT s) AS BIGINT) AS n_batch_shingles
  FROM sh GROUP BY b
),
firsts AS (SELECT s, min(b) AS fb FROM sh GROUP BY s),
novel AS (
  SELECT fb AS b, CAST(count(*) AS BIGINT) AS n_novel FROM firsts GROUP BY fb
),
nd AS (
  SELECT doc_id % {_SNI_BATCHES} AS b, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY b
)
SELECT nd.b AS batch_id, nd.n_docs, p.n_batch_shingles, v.n_novel,
       CAST(1000000 * v.n_novel // p.n_batch_shingles AS BIGINT)
         AS novelty_ppm
FROM nd JOIN per p ON p.b = nd.b JOIN novel v ON v.b = nd.b
""".replace("{SH}", duck_shingles())


@register(
    "streaming_novelty_ingest",
    oracle=_SNI_SQL,
    doc="EXT streaming ingest: per-micro-batch trigram novelty against the "
    "persisted first-seen shingle index (anti-join probe, append-only "
    "index commits) — the live diminishing-returns monitor of a continuous "
    "crawl; 3-batch mtime-pinned feed value-hashes against batch "
    "arithmetic",
    tags=("ext", "corpus", "dedup", "lake", "streaming"),
)
def streaming_novelty_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per batch, the probe anti-joins the BATCH's distinct
    shingles against the stored index on uniform text keys (cost scales
    with the ingest, not the corpus-so-far, because the anti-join prunes
    with the batch side as the build); maintenance appends only NOVEL
    shingles, so the index is the distinct-shingle set, never the stream.
    The report is one row per ingest."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
        with_shingles,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
        snapshot_history,
    )

    docs = parallel_scan(spark, sf_dir, "documents").select("doc_id", "source", "text")
    stream, _ = replay_feed(
        spark,
        [
            docs.filter(F.pmod(F.col("doc_id"), F.lit(_SNI_BATCHES)) == i)
            for i in range(_SNI_BATCHES)
        ],
        "novelty_src_",
    )

    index_lake = _tf.mkdtemp(prefix="novelty_index_")
    report_dir = _tf.mkdtemp(prefix="novelty_report_")

    def _ingest(batch_df, batch_id: int) -> None:
        batch_sh = (
            with_shingles(batch_df)
            .select(F.explode("sh").alias("s"))
            .distinct()
            .localCheckpoint(eager=False)  # feeds the probe AND the commit
        )
        if snapshot_history(spark, index_lake):
            seen = read_snapshot(spark, index_lake).select("s")
            novel = batch_sh.join(seen, "s", "left_anti")
        else:
            novel = batch_sh
        novel = novel.localCheckpoint(eager=False)  # counted AND committed
        n_docs = batch_df.count()
        n_batch = batch_sh.count()
        n_novel = novel.count()
        report = spark.createDataFrame(
            [(batch_id, n_docs, n_batch, n_novel, 1_000_000 * n_novel // n_batch)],
            "batch_id bigint, n_docs bigint, n_batch_shingles bigint,"
            " n_novel bigint, novelty_ppm bigint",
        )
        report.write.mode("append").parquet(report_dir)
        snapshot_append(
            spark,
            novel.withColumn("p", F.lit("all")),
            index_lake,
            partition_col="p",
        )

    drain(stream.writeStream.foreachBatch(_ingest), "novelty_ingest")
    if len(snapshot_history(spark, index_lake)) != _SNI_BATCHES:
        raise RuntimeError(
            f"novelty ingest incomplete: expected {_SNI_BATCHES} index commits"
        )
    return spark.read.parquet(report_dir)


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT-style) MaxSim retrieval: each item is a BAG of
# sub-vectors (here the 64-d embedding split into 8x8 — the same multi-
# vector plumbing per-token encoders produce), and relevance is
# sum over query sub-vectors of the max dot product against any document
# sub-vector. Single-vector cosine collapses a document to one point;
# MaxSim lets each query facet match its own best region, which is why
# late-interaction rankers beat bi-encoders on multi-topic documents.
# Scores are exact BIGINT micro-unit dot products, so both engines rank
# identically with no float-order caveats.
# ---------------------------------------------------------------------------
_MAXSIM_SUBS = 8
_MAXSIM_SUBDIM = 8
_MAXSIM_NQ = 4  # query vectors: vec_id < 4
_MAXSIM_K = 5

_MAXSIM_SQL = f"""
WITH em AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS em
  FROM embeddings
),
sub AS (
  SELECT vec_id,
         list_transform(range(0, {_MAXSIM_SUBS}),
           s -> em[(s * {_MAXSIM_SUBDIM} + 1):(s * {_MAXSIM_SUBDIM} + {_MAXSIM_SUBDIM})]) AS subs
  FROM em
),
q AS (SELECT vec_id AS query_id, subs AS qsubs FROM sub WHERE vec_id < {_MAXSIM_NQ}),
d AS (SELECT vec_id AS neighbor_id, subs AS dsubs FROM sub),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum(list_transform(qsubs, qs ->
            list_max(list_transform(dsubs, ds ->
               list_sum(list_transform(range(1, len(qs) + 1), i -> qs[i] * ds[i]))
            ))
         )) AS BIGINT) AS maxsim
  FROM q, d WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, maxsim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY maxsim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, maxsim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_MAXSIM_K}
"""


@register(
    "maxsim_late_interaction",
    oracle=_MAXSIM_SQL,
    doc="ColBERT-style late-interaction retrieval: items as bags of 8 "
    "sub-vectors, score = sum over query sub-vectors of the best dot "
    "product against any document sub-vector — exact BIGINT micro-unit "
    "arithmetic, top-5 per query via the two-phase local-slice merge",
    tags=("ext", "similarity"),
)
def maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the query bag broadcasts (|Q| << corpus) onto one
    narrow scan pass; the 8x8 dot-product lattice per pair runs entirely
    inside codegen'd higher-order functions (no explode — the sub-vector
    axis never becomes rows); top-k uses the two-phase local-slice merge,
    so wide stages move O(partitions * k) rows per query, never the scored
    corpus. The real ColBERT difference at 100 TB is |doc| sub-vectors per
    document, which changes the constants, not the plan."""
    emb = parallel_scan(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("em"),
    )
    sub = emb.select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {_MAXSIM_SUBS - 1}),"
            f" s -> slice(em, s * {_MAXSIM_SUBDIM} + 1, {_MAXSIM_SUBDIM}))"
        ).alias("subs"),
    )
    q = sub.filter(F.col("vec_id") < _MAXSIM_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("subs").alias("qsubs")
    )
    d = sub.select(
        F.col("vec_id").alias("neighbor_id"), F.col("subs").alias("dsubs")
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "maxsim",
            F.expr(
                "aggregate(qsubs, 0L, (acc, qs) -> acc +"
                " array_max(transform(dsubs, ds ->"
                " aggregate(zip_with(qs, ds, (x, y) -> x * y),"
                " 0L, (a, v) -> a + v))))"
            ),
        )
    )
    cand = F.struct(
        (-F.col("maxsim")).alias("neg"), F.col("neighbor_id").alias("nid")
    )
    local = scored.groupBy("query_id", F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list(cand)), 1, _MAXSIM_K).alias("cands")
    )
    merged = local.groupBy("query_id").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("cands"))), 1, _MAXSIM_K
        ).alias("topk")
    )
    return merged.select(
        "query_id", F.posexplode("topk").alias("pos", "c")
    ).select(
        "query_id",
        F.col("c.nid").alias("neighbor_id"),
        (-F.col("c.neg")).alias("maxsim"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Dedup threshold PR curve: dedup_lsh_recall measures ONE operating point
# (tau = 1/2); this is the whole calibration sheet. Both the exact pair set
# and the LSH candidate set are materialized ONCE at the loosest threshold
# (1/3) with their intersection/union sizes, then every candidate tau in
# {1/3, 1/2, 2/3, 4/5} is evaluated by integer cross-multiplication over a
# bounded explode — no per-threshold recompute, no float compare. The
# recall-vs-tau column IS the banding decision: where it sags below
# tolerance, 4x3 bands are not enough for that similarity regime.
# ---------------------------------------------------------------------------
_PRC_TAUS = ((1, 3), (1, 2), (2, 3), (4, 5))

_PRC_TAU_VALUES = ", ".join(f"({p}, {q})" for p, q in _PRC_TAUS)

_PRC_SQL = f"""
WITH tok AS (
  SELECT doc_id, {duck_shingles()} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
         CAST(len(list_distinct(a.sh || b.sh)) AS BIGINT) AS u
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
),
mh AS (
  SELECT doc_id, sh, {duck_minhash_cols()} FROM tok
),
bands AS (
  {duck_band_union()}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
),
n_cand AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
cpairs AS (
  SELECT p.i, p.u FROM cand c JOIN pairs p
    ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
),
thr(p, q) AS (VALUES {_PRC_TAU_VALUES}),
truth_t AS (
  SELECT t.p, t.q, CAST(count(*) AS BIGINT) AS n_true
  FROM pairs, thr t WHERE q * i >= p * u GROUP BY t.p, t.q
),
tp_t AS (
  SELECT t.p, t.q, CAST(count(*) AS BIGINT) AS n_tp
  FROM cpairs, thr t WHERE q * i >= p * u GROUP BY t.p, t.q
)
SELECT CAST(tr.p AS BIGINT) AS tau_num, CAST(tr.q AS BIGINT) AS tau_den,
       tr.n_true, coalesce(tp.n_tp, 0) AS n_detected, nc.n_candidates,
       CAST(1000000 * coalesce(tp.n_tp, 0) // tr.n_true AS BIGINT)
         AS recall_ppm,
       CAST(1000000 * coalesce(tp.n_tp, 0) // nc.n_candidates AS BIGINT)
         AS verify_yield_ppm
FROM truth_t tr
LEFT JOIN tp_t tp ON tp.p = tr.p AND tp.q = tr.q
CROSS JOIN n_cand nc
"""


@register(
    "dedup_threshold_pr_curve",
    oracle=_PRC_SQL,
    doc="Dedup calibration sheet: exact pair set and LSH candidates "
    "materialized once at tau=1/3 with (intersect, union) sizes, then "
    "recall and verification yield evaluated at every tau in "
    "{1/3, 1/2, 2/3, 4/5} by integer cross-multiplication — the full "
    "LSH S-curve as evidence, extending dedup_lsh_recall's single point",
    tags=("ext", "dedup"),
)
def dedup_threshold_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact side is the lossless prefix-filter join at
    the loosest threshold (brute force exists only in the oracle); the LSH
    side is the salted band self-join; sizes computed once per pair, the
    tau sweep is a 4-way bounded explode over the PAIR relations (far
    smaller than the corpus), and every count folds through broadcast
    1-row aggregates."""
    from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
        jaccard_allpairs_pairs,
        lsh_candidate_pairs,
        with_bands,
        with_minhash,
        with_shingles,
    )

    p_min, q_min = _PRC_TAUS[0]
    docs = parallel_scan(spark, sf_dir, "documents")
    truth = (
        jaccard_allpairs_pairs(docs, p_min, q_min, keep_sizes=True)
        .select(F.col("n_inter").alias("i"), F.col("n_union").alias("u"))
        .localCheckpoint(eager=False)  # feeds every tau leg
    )
    sh = with_shingles(docs).select("doc_id", "sh").localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(with_bands(with_minhash(sh))).localCheckpoint(
        eager=False
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    cpairs = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter((F.expr("size(sa)") > 0) & (F.expr("size(sb)") > 0))
        .select(
            F.expr("size(array_intersect(sa, sb))").cast("long").alias("i"),
            F.expr("size(array_union(sa, sb))").cast("long").alias("u"),
        )
        .filter(F.lit(q_min) * F.col("i") >= F.lit(p_min) * F.col("u"))
        .localCheckpoint(eager=False)
    )
    taus = F.explode(
        F.array(
            *[
                F.struct(F.lit(p).cast("long").alias("p"), F.lit(q).cast("long").alias("q"))
                for p, q in _PRC_TAUS
            ]
        )
    ).alias("t")
    truth_t = (
        truth.select("i", "u", taus)
        .filter(F.col("t.q") * F.col("i") >= F.col("t.p") * F.col("u"))
        .groupBy("t.p", "t.q")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    )
    tp_t = (
        cpairs.select("i", "u", taus)
        .filter(F.col("t.q") * F.col("i") >= F.col("t.p") * F.col("u"))
        .groupBy("t.p", "t.q")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tp"))
    )
    out = (
        truth_t.join(tp_t, ["p", "q"], "left")
        .na.fill({"n_tp": 0})
        .crossJoin(F.broadcast(n_cand))
    )
    return out.select(
        F.col("p").alias("tau_num"),
        F.col("q").alias("tau_den"),
        "n_true",
        F.col("n_tp").alias("n_detected"),
        "n_candidates",
        F.expr("CAST(1000000 * n_tp div n_true AS BIGINT)").alias("recall_ppm"),
        F.expr("CAST(1000000 * n_tp div n_candidates AS BIGINT)").alias(
            "verify_yield_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Filter-agreement audit: three independent quality filters (composite
# quality score, language-label mismatch, short-document) vote on every
# document, and each pair's agreement is summarized as Cohen's kappa — the
# chance-corrected statistic that tells a curation team whether two filters
# are redundant (kappa -> 1), independent (kappa -> 0), or contradictory
# (kappa < 0). Raw agreement alone lies when one filter rarely fires; the
# kappa denominator prices that in. All arithmetic is exact: counts are
# BIGINTs, the kappa ratio is one sign-split integer division in ppm
# (truncation toward zero made explicit so both engines agree on negatives).
# ---------------------------------------------------------------------------
_KAPPA_QMIN = 0.61  # ~10th percentile of the composite score: a real minority flag
_KAPPA_SHORT = 20

_KAPPA_SQL = f"""
WITH base AS (
  SELECT lang,
         {_score_sql},
         CAST(len({_DUCK_TOK}) AS BIGINT) AS n_tokens,
         {{qscore}} AS qscore
  FROM documents
),
f AS (
  SELECT (n_tokens = 0 OR qscore < {_KAPPA_QMIN}) AS fq,
         ({_case} <> lang) AS fl,
         (n_tokens < {_KAPPA_SHORT}) AS fs
  FROM base
),
pf AS (
  SELECT 'quality~langmis' AS pair, fq AS x, fl AS y FROM f
  UNION ALL SELECT 'quality~short', fq, fs FROM f
  UNION ALL SELECT 'langmis~short', fl, fs FROM f
),
agg AS (
  SELECT pair,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE x AND y) AS BIGINT) AS n11,
         CAST(count(*) FILTER (WHERE x AND NOT y) AS BIGINT) AS n10,
         CAST(count(*) FILTER (WHERE NOT x AND y) AS BIGINT) AS n01,
         CAST(count(*) FILTER (WHERE NOT x AND NOT y) AS BIGINT) AS n00
  FROM pf GROUP BY pair
),
k AS (
  SELECT pair, n, n11, n10, n01, n00,
         CAST(n AS HUGEINT) * (n11 + n00)
           - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
              + CAST(n - n11 - n10 AS HUGEINT) * (n - n11 - n01)) AS num,
         CAST(n AS HUGEINT) * n
           - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
              + CAST(n - n11 - n10 AS HUGEINT) * (n - n11 - n01)) AS den
  FROM agg
)
SELECT pair, n, n11, n10, n01, n00,
       CASE WHEN den = 0 THEN NULL
            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                      * ((1000000 * abs(num)) // den) AS BIGINT) END
         AS kappa_ppm
FROM k
"""


from amazon_kinesis_data_streams_health_check_spark.plans.curation_queries import (  # noqa: E402
    _KEEP_QSCORE,
)

_KAPPA_SQL_FULL = _KAPPA_SQL.format(
    qscore=_KEEP_QSCORE.format(tok=_DUCK_TOK, stop=duck_stop_list())
)


@register(
    "filter_agreement_kappa",
    oracle=_KAPPA_SQL_FULL,
    doc="Filter-agreement audit: composite-quality, language-mismatch and "
    "short-document filters vote on every document; each pair's agreement "
    "is Cohen's kappa in exact ppm (chance-corrected — raw agreement lies "
    "when a filter rarely fires), sign-split integer division so both "
    "engines truncate negatives identically",
    tags=("ext", "quality"),
)
def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE narrow scan computes all three flags (token stats,
    stopword-hit lang id, quality score are codegen'd expressions); the
    pair melt is a bounded 3-way explode and the kappa arithmetic runs on
    a 3-row aggregate. Nothing joins, nothing sorts."""
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        with_lang_guess,
        with_quality_score,
        with_token_stats,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    scored = with_lang_guess(with_quality_score(with_token_stats(docs)))
    flags = scored.select(
        (
            (F.col("n_tokens") == 0) | (F.col("quality_score") < _KAPPA_QMIN)
        ).alias("fq"),
        (F.col("lang_guess") != F.col("lang")).alias("fl"),
        (F.col("n_tokens") < _KAPPA_SHORT).alias("fs"),
    )
    pf = flags.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quality~langmis").alias("pair"),
                    F.col("fq").alias("x"),
                    F.col("fl").alias("y"),
                ),
                F.struct(
                    F.lit("quality~short").alias("pair"),
                    F.col("fq").alias("x"),
                    F.col("fs").alias("y"),
                ),
                F.struct(
                    F.lit("langmis~short").alias("pair"),
                    F.col("fl").alias("x"),
                    F.col("fs").alias("y"),
                ),
            )
        ).alias("t")
    ).select("t.pair", "t.x", "t.y")
    agg = pf.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(count_if(x AND y) AS BIGINT)").alias("n11"),
        F.expr("CAST(count_if(x AND NOT y) AS BIGINT)").alias("n10"),
        F.expr("CAST(count_if(NOT x AND y) AS BIGINT)").alias("n01"),
        F.expr("CAST(count_if(NOT x AND NOT y) AS BIGINT)").alias("n00"),
    )
    dec = "DECIMAL(38,0)"
    k = agg.select(
        "*",
        F.expr(
            f"CAST(n AS {dec}) * (n11 + n00)"
            f" - (CAST(n11 + n10 AS {dec}) * (n11 + n01)"
            f"    + CAST(n - n11 - n10 AS {dec}) * (n - n11 - n01))"
        ).alias("num"),
        F.expr(
            f"CAST(n AS {dec}) * n"
            f" - (CAST(n11 + n10 AS {dec}) * (n11 + n01)"
            f"    + CAST(n - n11 - n10 AS {dec}) * (n - n11 - n01))"
        ).alias("den"),
    )
    return k.select(
        "pair",
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "CASE WHEN den = 0 THEN NULL"
            " ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
            "      * ((1000000 * abs(num)) div den) AS BIGINT) END"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# LSH S-curve validation: the MinHash(12)+LSH(4x3) banding scheme has an
# ANALYTIC collision probability 1 - (1 - s^3)^4 at Jaccard s. Because
# s = i/u is rational, the whole prediction is exact integer arithmetic
# per pair: ppm = 1e6 * (u^12 - (u^3 - i^3)^4) / u^12 — no float pow, no
# cross-engine rounding. Bucketing true pairs by similarity decile and
# placing the measured candidate-hit rate next to the analytic curve turns
# the banding parameters into a validated model instead of folklore. The
# u^12 product is guarded loudly at the DECIMAL(38)/HUGEINT bound.
# ---------------------------------------------------------------------------
_SCURVE_U_MAX = 1450  # u^12 < 1e38 requires u <= 1468; guard with margin

_SCURVE_SQL = f"""
WITH tok AS (
  SELECT doc_id, {duck_shingles()} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
         CASE WHEN len(list_distinct(a.sh || b.sh)) > {_SCURVE_U_MAX}
              THEN CAST(error('lsh_s_curve_validation: union size exceeds exact-arithmetic bound') AS BIGINT)
              ELSE CAST(len(list_distinct(a.sh || b.sh)) AS BIGINT) END AS u
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
    AND 3 * len(list_intersect(a.sh, b.sh))
        >= len(list_distinct(a.sh || b.sh))
),
mh AS (
  SELECT doc_id, sh, {duck_minhash_cols()} FROM tok
),
bands AS (
  {duck_band_union()}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
),
scored AS (
  SELECT p.i, p.u,
         CAST(10 * p.i // p.u AS BIGINT) AS sim_decile,
         CAST(1000000 * (CAST(p.u AS HUGEINT) * p.u * p.u * p.u * p.u * p.u
                           * p.u * p.u * p.u * p.u * p.u * p.u
                         - (CAST(p.u AS HUGEINT) * p.u * p.u
                            - CAST(p.i AS HUGEINT) * p.i * p.i)
                           * (CAST(p.u AS HUGEINT) * p.u * p.u
                              - CAST(p.i AS HUGEINT) * p.i * p.i)
                           * (CAST(p.u AS HUGEINT) * p.u * p.u
                              - CAST(p.i AS HUGEINT) * p.i * p.i)
                           * (CAST(p.u AS HUGEINT) * p.u * p.u
                              - CAST(p.i AS HUGEINT) * p.i * p.i))
              // (CAST(p.u AS HUGEINT) * p.u * p.u * p.u * p.u * p.u
                  * p.u * p.u * p.u * p.u * p.u * p.u) AS BIGINT) AS pred_ppm,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM pairs p
  LEFT JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
)
SELECT sim_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(pred_ppm) // count(*) AS BIGINT) AS pred_collision_ppm,
       CAST(1000000 * sum(hit) // count(*) AS BIGINT) AS measured_collision_ppm
FROM scored GROUP BY sim_decile
"""


@register(
    "lsh_s_curve_validation",
    oracle=_SCURVE_SQL,
    doc="LSH S-curve validation: the analytic collision probability "
    "1-(1-s^3)^4 computed EXACTLY per true pair (s = i/u rational, integer "
    "powers in HUGEINT/DECIMAL(38), loud overflow guard) vs the measured "
    "candidate-hit rate, bucketed by similarity decile — the banding "
    "parameters as a validated model, closing the dedup calibration stack "
    "(recall point -> PR curve -> analytic curve)",
    tags=("ext", "dedup"),
)
def lsh_s_curve_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: true pairs from the lossless prefix-filter join at
    tau=1/3 (brute force only in the oracle); candidates from the salted
    band self-join; the prediction is a narrow exact-integer expression
    per pair and the final fold groups on 10 deciles. The hit flag is a
    keyed left join on the pair id."""
    from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
        jaccard_allpairs_pairs,
        lsh_candidate_pairs,
        with_bands,
        with_minhash,
        with_shingles,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    pairs = jaccard_allpairs_pairs(docs, 1, 3, keep_sizes=True).select(
        "doc_a",
        "doc_b",
        F.col("n_inter").alias("i"),
        F.when(
            F.col("n_union") > _SCURVE_U_MAX,
            F.raise_error(
                F.lit(
                    "lsh_s_curve_validation: union size exceeds "
                    "exact-arithmetic bound"
                )
            ).cast("long"),
        )
        .otherwise(F.col("n_union"))
        .alias("u"),
    )
    sh = with_shingles(docs).select("doc_id", "sh")
    cand = lsh_candidate_pairs(with_bands(with_minhash(sh))).withColumn(
        "hit", F.lit(1)
    )
    dec = "DECIMAL(38,0)"
    scored = pairs.join(cand, ["doc_a", "doc_b"], "left").select(
        F.expr("CAST(10 * i div u AS BIGINT)").alias("sim_decile"),
        F.expr(
            f"CAST(1000000 * (CAST(u AS {dec}) * u * u * u * u * u * u * u * u * u * u * u"
            f" - (CAST(u AS {dec}) * u * u - CAST(i AS {dec}) * i * i)"
            f"   * (CAST(u AS {dec}) * u * u - CAST(i AS {dec}) * i * i)"
            f"   * (CAST(u AS {dec}) * u * u - CAST(i AS {dec}) * i * i)"
            f"   * (CAST(u AS {dec}) * u * u - CAST(i AS {dec}) * i * i))"
            f" div (CAST(u AS {dec}) * u * u * u * u * u * u * u * u * u * u * u)"
            " AS BIGINT)"
        ).alias("pred_ppm"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
    )
    return scored.groupBy("sim_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(sum(pred_ppm) div count(1) AS BIGINT)").alias(
            "pred_collision_ppm"
        ),
        F.expr("CAST(1000000 * sum(hit) div count(1) AS BIGINT)").alias(
            "measured_collision_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Cosine -> duplicate-probability calibration: the curve that turns a
# similarity score into a dedup THRESHOLD. Ground truth = exact text
# duplication (md5 of the lowercased text); score = embedding cosine on
# the label-blocked pair set; the isotonic fit (operators/calibrate.py,
# second consumer after the NB margin curve) is the monotone
# P(duplicate | cosine bin) a pipeline reads the operating point off.
# ---------------------------------------------------------------------------
from amazon_kinesis_data_streams_health_check_spark.operators.calibrate import (  # noqa: E402
    duckdb_isotonic_ctes,
    isotonic_fit,
)

_COSCAL_BINS = 10  # cosine deciles over [-1, 1], width 0.2

_COSCAL_BIN_EXPR = "least(9, greatest(0, CAST(floor((cos_raw + 1.0) * 5.0) AS BIGINT)))"

_COSCAL_SAMPLE_PCT = 25  # deterministic md5 pair sample — the 100 TB knob

_COSCAL_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {duck_cosine('a.embedding', 'b.embedding')} AS cos_raw,
         CASE WHEN da.h = db.h THEN 1 ELSE 0 END AS is_dup
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN (SELECT doc_id, md5(lower(text)) AS h FROM documents) da
    ON da.doc_id = a.vec_id
  JOIN (SELECT doc_id, md5(lower(text)) AS h FROM documents) db
    ON db.doc_id = b.vec_id
  WHERE {duck_hash_uniform("a.vec_id || '_' || b.vec_id")} * 100
        < {_COSCAL_SAMPLE_PCT} * 4294967296
),
bins AS (
  SELECT {_COSCAL_BIN_EXPR} AS cos_bin,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(is_dup) AS BIGINT) AS n_dups
  FROM pairs GROUP BY 1
),{duckdb_isotonic_ctes("bins", "cos_bin", "n_dups", "n_pairs")}
SELECT b.cos_bin,
       CAST(b.cos_bin * 200 - 1000 AS BIGINT) AS cos_lo_milli,
       b.n_pairs, b.n_dups,
       CAST(1000000 * b.n_dups // b.n_pairs AS BIGINT) AS dup_rate_ppm,
       CAST(floor(iso.iso_avg * 1000000) AS BIGINT) AS iso_dup_rate_ppm,
       iso.iso_avg <> CAST(b.n_dups AS DOUBLE) / CAST(b.n_pairs AS DOUBLE)
         AS pooled
FROM bins b JOIN iso ON iso.cos_bin = b.cos_bin
"""


@register(
    "isotonic_cosine_dup_curve",
    oracle=_COSCAL_SQL,
    doc="Dedup-threshold calibration: exact-duplicate rate per embedding-"
    "cosine decile on the label-blocked pair set, with the isotonic (PAV) "
    "monotone fit — the P(duplicate | cosine) curve a pipeline reads its "
    "dedup operating point off; second consumer of the shared isotonic "
    "operator",
    tags=("ext", "similarity", "ml"),
)
def isotonic_cosine_dup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pair generation is the label-blocked self-join (the
    embedding_near_dups stance) THINNED by a deterministic md5 pair sample
    ({_COSCAL_SAMPLE_PCT}% — calibration needs a rate estimate per bin,
    not every pair, and the sample rate is the knob that keeps the
    within-block quadratic growth paid only at the rate the curve needs);
    the md5 text-hash attach broadcasts the 2-column doc digest; the
    corpus then reduces to <= {_COSCAL_BINS} bins and the PAV fit runs on
    that bounded table via broadcast-nested-loop self-joins."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    docs = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower("text")).alias("h")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), "label",
        F.col("embedding").alias("emb_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), "label",
        F.col("embedding").alias("emb_b"),
    )
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    pairs = (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            hash_uniform("concat(CAST(vec_a AS STRING), '_', CAST(vec_b AS STRING))")
            * 100
            < F.lit(_COSCAL_SAMPLE_PCT) * F.lit(4294967296)
        )
        .join(
            F.broadcast(docs.select(F.col("doc_id").alias("vec_a"),
                                    F.col("h").alias("ha"))),
            "vec_a",
        )
        .join(
            F.broadcast(docs.select(F.col("doc_id").alias("vec_b"),
                                    F.col("h").alias("hb"))),
            "vec_b",
        )
        .select(
            cosine_expr("emb_a", "emb_b").alias("cos_raw"),
            (F.col("ha") == F.col("hb")).cast("int").alias("is_dup"),
        )
    )
    bins = pairs.groupBy(F.expr(_COSCAL_BIN_EXPR).alias("cos_bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
    )
    fitted = isotonic_fit(bins, "cos_bin", "n_dups", "n_pairs")
    return fitted.select(
        "cos_bin",
        (F.col("cos_bin") * 200 - 1000).cast("long").alias("cos_lo_milli"),
        "n_pairs",
        "n_dups",
        F.expr("CAST(1000000 * n_dups div n_pairs AS BIGINT)").alias(
            "dup_rate_ppm"
        ),
        F.floor(F.col("iso_avg") * 1000000).cast("long").alias(
            "iso_dup_rate_ppm"
        ),
        (
            F.col("iso_avg")
            != F.col("n_dups").cast("double") / F.col("n_pairs").cast("double")
        ).alias("pooled"),
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup pruning —
# k-means-cluster the embedding corpus, then WITHIN each cluster drop every
# vector that is eps-cosine-close to a higher-ranked member, where rank is
# distance-to-centroid DESC (the paper's "keep the examples least similar
# to the centroid" rule). Closes the last named dedup family from the
# training-data literature: exact / MinHash / SimHash / containment /
# fuzzy-edit / suffix-array substring / SEMANTIC.
#
# Cross-engine exactness: the whole pipeline is the kmeans_lloyd_exact
# integer machinery (quantized BIGINT vectors, md5 seeding, exact squared-
# L2 argmin with id tie-breaks, sign-aware integer-mean updates), and the
# eps-cosine test is the exact integer predicate
#     dot > 0  AND  DEN * dot^2 >= NUM * |a|^2 * |b|^2
# evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — no sqrt, no
# float, so keep/drop decisions are bit-identical across engines.
#
# Scale design: cluster granularity is the fan-out knob — k grows with the
# corpus (smallest power of two with k * 64 >= n, the paper's k ~ n/1000
# stance at its 134M scale), so expected cluster size stays ~constant and
# the within-cluster pair set stays ~linear in n. Pairs never cross
# clusters.
# ---------------------------------------------------------------------------
_SEM_D = 64
_SEM_Q = 10_000
_SEM_T = 3
_SEM_CAP = 64  # target mean cluster size — bounds within-cluster fan-out
_SEM_KS = (4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
_SEM_NUM = 900  # eps^2 as a rational: eps = 0.3 -> 900 / 10000 — the
# corpus near-dup operating point (embedding_near_dups uses cos >= 0.3;
# the driver embedding table tops out at cos ~0.45, so a web-corpus-ish
# 0.8 would never fire here)
_SEM_DEN = 10_000


def _sem_k(n: int) -> int:
    """Smallest power-of-two k with k * CAP >= n (clamped to the table) —
    the identical formula the oracle evaluates in SQL."""
    for p in _SEM_KS:
        if p * _SEM_CAP >= n:
            return p
    return _SEM_KS[-1]


def _sem_dot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {_SEM_D} + 1),"
        f" i -> {a}.q[i] * {b}.q[i])) AS HUGEINT)"
    )


def _sem_k1(k: int) -> int:
    """Coarse-level centroid count: smallest power of two with k1^2 >= k
    (so both levels stay ~sqrt(k) wide) — identical formula in the SQL
    twin's k1p CTE."""
    k1 = 1
    while k1 * k1 < k:
        k1 <<= 1
    return k1


def _sem_lloyd_sql(where: str = "") -> str:
    """The shared hierarchical-k-means CTE chain (round-7 sf1->sf10 tier
    fix): coarse level — md5 seeding + _SEM_T exact integer Lloyd rounds
    over k1 ~ sqrt(k) centroids; each vector's coarse cell g is then fixed
    and a second seeded Lloyd chain fits k2 = k/k1 FINE centroids WITHIN each
    cell (assignment joins on g, so per-round cost is n*(k1 + k2)*d
    instead of the flat n*k*d that measured ~40x per decade at sf10).
    Ends at CTE `fin` (vec_id, q, g, j2, dist, j = g*k2 + j2) — used by
    the batch SemDeDup oracle and (restricted to the bootstrap half) the
    streaming ingest oracle."""
    ks = ", ".join(f"({p})" for p in _SEM_KS)
    # k1 domain: ALL powers of two from 1 (not _SEM_KS, which starts at 4 —
    # Spark's _sem_k1 can return 1 or 2 for tiny corpora and the engines
    # must agree bit-for-bit).
    k1s = ", ".join(f"({1 << i})" for i in range(13))
    dist = (
        "CAST(list_sum(list_transform(range(1, {d} + 1),"
        " i -> ({a}.q[i] - {c}.c[i]) * ({a}.q[i] - {c}.c[i]))) AS BIGINT)"
    )
    head = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {_SEM_Q}) AS BIGINT)) AS q
  FROM embeddings{where}
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
kp AS (
  SELECT CAST(min(p) AS BIGINT) AS k
  FROM (VALUES {ks}) t(p), np
  WHERE p * {_SEM_CAP} >= np.n OR p = {_SEM_KS[-1]}
),
k1p AS (
  SELECT CAST(min(p) AS BIGINT) AS k1
  FROM (VALUES {k1s}) t(p), kp
  WHERE p * p >= kp.k
),
k2p AS (SELECT CAST(kp.k // k1p.k1 AS BIGINT) AS k2 FROM kp, k1p),
seeded AS (
  SELECT vec_id, q,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % (SELECT k1 FROM k1p) AS bucket,
         md5(CAST(vec_id AS VARCHAR)) AS h
  FROM q
),
c0 AS (
  SELECT bucket AS j, q AS c
  FROM (SELECT bucket, q,
               row_number() OVER (PARTITION BY bucket ORDER BY h, vec_id) AS rn
        FROM seeded)
  WHERE rn = 1
)"""
    steps = []
    for t in range(1, _SEM_T + 1):
        d_expr = dist.format(d=_SEM_D, a="q", c="c")
        steps.append(f""",
a{t} AS (
  SELECT vec_id, q, j, dist
  FROM (
    SELECT q.vec_id, q.q, c.j,
           {d_expr} AS dist,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d_expr}, c.j) AS rn
    FROM q CROSS JOIN c{t - 1} c
  ) WHERE rn = 1
),
u{t} AS (
  SELECT j, i AS d,
         (CASE WHEN sum(v) >= 0 THEN 1 ELSE -1 END)
           * (abs(CAST(sum(v) AS BIGINT)) // CAST(count(*) AS BIGINT)) AS val
  FROM (SELECT j, unnest(range(1, {_SEM_D} + 1)) AS i, unnest(q) AS v FROM a{t})
  GROUP BY j, i
),
c{t} AS (
  SELECT prev.j,
         coalesce(upd.c, prev.c) AS c
  FROM c{t - 1} prev
  LEFT JOIN (SELECT j, list(val ORDER BY d) AS c FROM u{t} GROUP BY j) upd
    ON prev.j = upd.j
)"""
        )
    d_c = dist.format(d=_SEM_D, a="q", c="c")
    mid = f""",
ga AS MATERIALIZED (
  SELECT vec_id, q, j AS g
  FROM (
    SELECT q.vec_id, q.q, c.j,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d_c}, c.j) AS rn
    FROM q CROSS JOIN c{_SEM_T} c
  ) WHERE rn = 1
),
seeded2 AS (
  SELECT vec_id, q, g,
         CAST(('0x' || substr(md5(CAST('f|' || CAST(vec_id AS VARCHAR) AS VARCHAR)), 1, 8)) AS BIGINT)
           % (SELECT k2 FROM k2p) AS b2,
         md5(CAST(vec_id AS VARCHAR)) AS h
  FROM ga
),
f0 AS MATERIALIZED (
  SELECT g, b2 AS j2, q AS c
  FROM (SELECT g, b2, q,
               row_number() OVER (PARTITION BY g, b2 ORDER BY h, vec_id) AS rn
        FROM seeded2)
  WHERE rn = 1
)"""
    fsteps = []
    for t in range(1, _SEM_T + 1):
        d_expr = dist.format(d=_SEM_D, a="ga", c="f")
        fsteps.append(f""",
fa{t} AS (
  SELECT vec_id, q, g, j2, dist
  FROM (
    SELECT ga.vec_id, ga.q, ga.g, f.j2,
           {d_expr} AS dist,
           row_number() OVER (PARTITION BY ga.vec_id
                              ORDER BY {d_expr}, f.j2) AS rn
    FROM ga JOIN f{t - 1} f ON f.g = ga.g
  ) WHERE rn = 1
),
fu{t} AS (
  SELECT g, j2, i AS d,
         (CASE WHEN sum(v) >= 0 THEN 1 ELSE -1 END)
           * (abs(CAST(sum(v) AS BIGINT)) // CAST(count(*) AS BIGINT)) AS val
  FROM (SELECT g, j2, unnest(range(1, {_SEM_D} + 1)) AS i, unnest(q) AS v FROM fa{t})
  GROUP BY g, j2, i
),
f{t} AS MATERIALIZED (
  SELECT prev.g, prev.j2,
         coalesce(upd.c, prev.c) AS c
  FROM f{t - 1} prev
  LEFT JOIN (SELECT g, j2, list(val ORDER BY d) AS c FROM fu{t} GROUP BY g, j2) upd
    ON prev.g = upd.g AND prev.j2 = upd.j2
)"""
        )
    d_f = dist.format(d=_SEM_D, a="ga", c="f")
    tail = f""",
fin AS MATERIALIZED (
  SELECT vec_id, q, g, j2, dist,
         g * (SELECT k2 FROM k2p) + j2 AS j
  FROM (
    SELECT ga.vec_id, ga.q, ga.g, f.j2,
           {d_f} AS dist,
           row_number() OVER (PARTITION BY ga.vec_id
                              ORDER BY {d_f}, f.j2) AS rn
    FROM ga JOIN f{_SEM_T} f ON f.g = ga.g
  ) WHERE rn = 1
)"""
    return head + "".join(steps) + mid + "".join(fsteps) + tail


#: The within-cluster rank + eps-cosine prune tail over a `fin` CTE
#: (vec_id, q, j, dist) — shared by the full-fit and sampled-fit oracles.
_SEM_PRUNE_TAIL = f""",
r AS MATERIALIZED (
  SELECT vec_id, q, j, dist,
         row_number() OVER (PARTITION BY j ORDER BY dist DESC, vec_id)
           AS c_rank,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
  FROM fin
),
sz AS (SELECT j, CAST(count(*) AS BIGINT) AS cluster_size FROM r GROUP BY j),
drops AS (
  SELECT DISTINCT a.vec_id
  FROM r a JOIN r b ON a.j = b.j AND b.c_rank < a.c_rank
  WHERE {_sem_dot('a', 'b')} > 0
    AND {_SEM_DEN} * {_sem_dot('a', 'b')} * {_sem_dot('a', 'b')}
        >= {_SEM_NUM} * CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT)
)
SELECT r.vec_id,
       CAST(r.j AS BIGINT) AS cluster,
       sz.cluster_size,
       CAST(r.c_rank AS BIGINT) AS c_rank,
       d.vec_id IS NULL AS keep
FROM r
JOIN sz ON sz.j = r.j
LEFT JOIN drops d ON d.vec_id = r.vec_id
"""


def _sem_oracle_sql() -> str:
    return _sem_lloyd_sql() + _SEM_PRUNE_TAIL


#: Sampled-fit target: fit points per centroid. k still scales with the
#: FULL corpus (SemDeDup's stance), but the Lloyd chains only ever see
#: ~k * 16 vectors — the FAISS train-on-sample stance that bounds the
#: by-design-superlinear fit (k = n/64 until the 4096 cap; past the cap
#: the fit sample is a CONSTANT ~65k vectors whatever the corpus does).
#: 16/centroid is deliberately small-but-sane (FAISS warns below ~39);
#: semantic_blocking_recall_sampled keeps the quality cost measured.
_SEMS_PER_CENT = 16


def _sems_mod(n: int, k: int) -> int:
    target = k * _SEMS_PER_CENT
    return max(1, (n + target - 1) // target)


def _sem_sampled_sql() -> str:
    """The SAMPLED-fit hierarchical chain: identical Lloyd machinery to
    _sem_lloyd_sql but fitted on a corpus-size-derived md5 sample (qf);
    the full corpus is then assigned in the same two broadcast hops
    against the fitted tables, with the coarse table restricted to cells
    that own fine centroids (a cell with zero sample members after the
    final coarse assignment has no fine table — restricting the argmin
    domain to covered cells keeps every full-corpus vector assigned, the
    FAISS empty-cell-drop stance; when the sample IS the corpus this
    restriction is a no-op because every chosen cell is covered by its
    choosers). Ends at fin (vec_id, q, g, j2, dist, j)."""
    ks = ", ".join(f"({p})" for p in _SEM_KS)
    k1s = ", ".join(f"({1 << i})" for i in range(13))
    dist = (
        "CAST(list_sum(list_transform(range(1, {d} + 1),"
        " i -> ({a}.q[i] - {c}.c[i]) * ({a}.q[i] - {c}.c[i]))) AS BIGINT)"
    )
    head = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {_SEM_Q}) AS BIGINT)) AS q
  FROM embeddings
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
kp AS (
  SELECT CAST(min(p) AS BIGINT) AS k
  FROM (VALUES {ks}) t(p), np
  WHERE p * {_SEM_CAP} >= np.n OR p = {_SEM_KS[-1]}
),
k1p AS (
  SELECT CAST(min(p) AS BIGINT) AS k1
  FROM (VALUES {k1s}) t(p), kp
  WHERE p * p >= kp.k
),
k2p AS (SELECT CAST(kp.k // k1p.k1 AS BIGINT) AS k2 FROM kp, k1p),
sfmod AS (
  SELECT greatest(1, (np.n + kp.k * {_SEMS_PER_CENT} - 1)
                     // (kp.k * {_SEMS_PER_CENT})) AS m
  FROM np, kp
),
qf AS MATERIALIZED (
  SELECT vec_id, q FROM q
  WHERE {duck_hash_uniform('vec_id')} % (SELECT m FROM sfmod) = 0
),
seeded AS (
  SELECT vec_id, q,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % (SELECT k1 FROM k1p) AS bucket,
         md5(CAST(vec_id AS VARCHAR)) AS h
  FROM qf
),
c0 AS (
  SELECT bucket AS j, q AS c
  FROM (SELECT bucket, q,
               row_number() OVER (PARTITION BY bucket ORDER BY h, vec_id) AS rn
        FROM seeded)
  WHERE rn = 1
)"""
    steps = []
    for t in range(1, _SEM_T + 1):
        d_expr = dist.format(d=_SEM_D, a="qf", c="c")
        steps.append(f""",
a{t} AS (
  SELECT vec_id, q, j, dist
  FROM (
    SELECT qf.vec_id, qf.q, c.j,
           {d_expr} AS dist,
           row_number() OVER (PARTITION BY qf.vec_id
                              ORDER BY {d_expr}, c.j) AS rn
    FROM qf CROSS JOIN c{t - 1} c
  ) WHERE rn = 1
),
u{t} AS (
  SELECT j, i AS d,
         (CASE WHEN sum(v) >= 0 THEN 1 ELSE -1 END)
           * (abs(CAST(sum(v) AS BIGINT)) // CAST(count(*) AS BIGINT)) AS val
  FROM (SELECT j, unnest(range(1, {_SEM_D} + 1)) AS i, unnest(q) AS v FROM a{t})
  GROUP BY j, i
),
c{t} AS (
  SELECT prev.j,
         coalesce(upd.c, prev.c) AS c
  FROM c{t - 1} prev
  LEFT JOIN (SELECT j, list(val ORDER BY d) AS c FROM u{t} GROUP BY j) upd
    ON prev.j = upd.j
)"""
        )
    d_c = dist.format(d=_SEM_D, a="qf", c="c")
    mid = f""",
gaf AS MATERIALIZED (
  SELECT vec_id, q, j AS g
  FROM (
    SELECT qf.vec_id, qf.q, c.j,
           row_number() OVER (PARTITION BY qf.vec_id
                              ORDER BY {d_c}, c.j) AS rn
    FROM qf CROSS JOIN c{_SEM_T} c
  ) WHERE rn = 1
),
seeded2 AS (
  SELECT vec_id, q, g,
         CAST(('0x' || substr(md5(CAST('f|' || CAST(vec_id AS VARCHAR) AS VARCHAR)), 1, 8)) AS BIGINT)
           % (SELECT k2 FROM k2p) AS b2,
         md5(CAST(vec_id AS VARCHAR)) AS h
  FROM gaf
),
f0 AS MATERIALIZED (
  SELECT g, b2 AS j2, q AS c
  FROM (SELECT g, b2, q,
               row_number() OVER (PARTITION BY g, b2 ORDER BY h, vec_id) AS rn
        FROM seeded2)
  WHERE rn = 1
)"""
    fsteps = []
    for t in range(1, _SEM_T + 1):
        d_expr = dist.format(d=_SEM_D, a="gaf", c="f")
        fsteps.append(f""",
fa{t} AS (
  SELECT vec_id, q, g, j2, dist
  FROM (
    SELECT gaf.vec_id, gaf.q, gaf.g, f.j2,
           {d_expr} AS dist,
           row_number() OVER (PARTITION BY gaf.vec_id
                              ORDER BY {d_expr}, f.j2) AS rn
    FROM gaf JOIN f{t - 1} f ON f.g = gaf.g
  ) WHERE rn = 1
),
fu{t} AS (
  SELECT g, j2, i AS d,
         (CASE WHEN sum(v) >= 0 THEN 1 ELSE -1 END)
           * (abs(CAST(sum(v) AS BIGINT)) // CAST(count(*) AS BIGINT)) AS val
  FROM (SELECT g, j2, unnest(range(1, {_SEM_D} + 1)) AS i, unnest(q) AS v FROM fa{t})
  GROUP BY g, j2, i
),
f{t} AS MATERIALIZED (
  SELECT prev.g, prev.j2,
         coalesce(upd.c, prev.c) AS c
  FROM f{t - 1} prev
  LEFT JOIN (SELECT g, j2, list(val ORDER BY d) AS c FROM fu{t} GROUP BY g, j2) upd
    ON prev.g = upd.g AND prev.j2 = upd.j2
)"""
        )
    d_full = dist.format(d=_SEM_D, a="q", c="c")
    d_f = dist.format(d=_SEM_D, a="ga", c="f")
    tail = f""",
cfin AS MATERIALIZED (
  SELECT c.j, c.c FROM c{_SEM_T} c
  WHERE c.j IN (SELECT DISTINCT g FROM f{_SEM_T})
),
ga AS MATERIALIZED (
  SELECT vec_id, q, j AS g
  FROM (
    SELECT q.vec_id, q.q, c.j,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d_full}, c.j) AS rn
    FROM q CROSS JOIN cfin c
  ) WHERE rn = 1
),
fin AS MATERIALIZED (
  SELECT vec_id, q, g, j2, dist,
         g * (SELECT k2 FROM k2p) + j2 AS j
  FROM (
    SELECT ga.vec_id, ga.q, ga.g, f.j2,
           {d_f} AS dist,
           row_number() OVER (PARTITION BY ga.vec_id
                              ORDER BY {d_f}, f.j2) AS rn
    FROM ga JOIN f{_SEM_T} f ON f.g = ga.g
  ) WHERE rn = 1
)"""
    return head + "".join(steps) + mid + "".join(fsteps) + tail


def _sem_quantized(df: DataFrame) -> DataFrame:
    """vec_id + the BIGINT-quantized embedding (the cross-engine-exact
    representation every SemDeDup stage runs on)."""
    return df.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_SEM_Q}) AS BIGINT))"
        ).alias("q"),
    )


def _sem_assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Exact-integer argmin assignment: broadcast the k-row centroid table,
    partial-aggregatable min(struct(dist, j)) — no shuffle wider than one
    row per vector."""
    scored = q.join(F.broadcast(cents)).select(
        "vec_id",
        "q",
        "j",
        F.expr(
            "aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dist"),
    )
    return scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "j")).alias("b"),
        F.any_value("q").alias("q"),  # identical across the k copies
    ).select(
        "vec_id", "q", F.col("b.j").alias("j"), F.col("b.dist").alias("dist")
    )


def _sem_fit_centroids(
    spark: SparkSession, q: DataFrame, k: int | None = None
) -> DataFrame:
    """kmeans_lloyd_exact fit (md5 seeding, _SEM_T sign-aware integer-mean
    rounds) returning the k-row centroid table (j int, c array<bigint>).
    Only k*d control-plane ints ever reach the driver per round."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    if k is None:
        k = _sem_k(q.count())
    rn = F.row_number().over(
        Window.partitionBy("bucket").orderBy("h", "vec_id")
    )
    c_rows = (
        q.select(
            "vec_id",
            "q",
            (hash_uniform("vec_id") % k).alias("bucket"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(F.col("bucket").alias("j"), "q")
        .collect()
    )
    centroids = {int(r.j): list(r.q) for r in c_rows}

    def mk_cents() -> DataFrame:
        return spark.createDataFrame(
            [(j, centroids[j]) for j in sorted(centroids)],
            "j int, c array<bigint>",
        )

    for _ in range(_SEM_T):
        sums = (
            _sem_assign(q, mk_cents())
            .select("j", F.expr("posexplode(q) AS (d, v)"))
            .groupBy("j", "d")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: k * d rows of control-plane ints
        )
        upd: dict[int, list[int]] = {}
        for r in sums:
            upd.setdefault(int(r.j), [0] * _SEM_D)[r.d] = (
                1 if r.s >= 0 else -1
            ) * (abs(r.s) // r.n)
        for j, c in upd.items():
            centroids[j] = c
    return mk_cents()


def _sem_assign_fine(ga: DataFrame, fine: DataFrame) -> DataFrame:
    """Fine-level argmin WITHIN each coarse cell: broadcast the k-row
    (g, j2, c) table, join on g (each vector compares only its own cell's
    <= k2 centroids), min(struct(dist, j2)) tie-break — per-vector cost
    k2*d instead of k*d."""
    scored = ga.join(F.broadcast(fine), "g").select(
        "vec_id",
        "q",
        "g",
        "j2",
        F.expr(
            "aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dist"),
    )
    return scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "j2")).alias("b"),
        F.any_value("q").alias("q"),
        F.any_value("g").alias("g"),  # constant across the cell's copies
    ).select(
        "vec_id", "q", "g", F.col("b.j2").alias("j2"), F.col("b.dist").alias("dist")
    )


def _sem_fit_hier(
    spark: SparkSession, q: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Hierarchical SemDeDup fit (round-7 sf1->sf10 tier fix): the flat
    n*k*d assignment measured ~40x per decade at sf10 (k capped at 4096,
    131G integer ops per pass at 500k vectors). Coarse level fits
    k1 ~ sqrt(k) centroids with the flat machinery; each vector's cell g
    is then FIXED and k2 = k/k1 fine centroids are fitted within cells
    (seeded per (g, hash2 % k2), Lloyd updates grouped by (g, j2)) — per-
    round cost n*(k1 + k2)*d, the paper's own coarse-quantizer (IVF)
    stance. Returns (coarse, fine, ga, k2) where ga is the lazily-
    checkpointed coarse assignment reused by callers."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    k = _sem_k(q.count())
    k1 = _sem_k1(k)
    k2 = k // k1
    coarse = _sem_fit_centroids(spark, q, k=k1)
    ga = (
        _sem_assign(q, coarse)
        .select("vec_id", "q", F.col("j").alias("g"))
        .localCheckpoint(eager=False)  # feeds T Lloyd rounds + final assign
    )
    return coarse, _sem_fit_fine(spark, ga, k2), ga, k2


def _sem_fit_fine(spark: SparkSession, ga: DataFrame, k2: int) -> DataFrame:
    """The fine-level Lloyd chain of the hierarchical fit: seed k2 fine
    centroids per coarse cell from ga's members, run _SEM_T exact integer
    rounds grouped by (g, j2); returns the (g, j2, c) fine centroid table
    (<= k rows of control-plane ints)."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    hu2 = hash_uniform("concat('f|', CAST(vec_id AS STRING))")
    rn = F.row_number().over(Window.partitionBy("g", "b2").orderBy("h", "vec_id"))
    f_rows = (
        ga.select(
            "vec_id",
            "q",
            "g",
            (hu2 % k2).alias("b2"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("g", F.col("b2").alias("j2"), "q")
        .collect()  # bounded: <= k rows of d control-plane ints
    )
    fine: dict[tuple[int, int], list[int]] = {
        (int(r.g), int(r.j2)): list(r.q) for r in f_rows
    }

    def mk_fine() -> DataFrame:
        return spark.createDataFrame(
            [(g, j2, fine[(g, j2)]) for g, j2 in sorted(fine)],
            "g int, j2 int, c array<bigint>",
        )

    for _ in range(_SEM_T):
        sums = (
            _sem_assign_fine(ga, mk_fine())
            .select("g", "j2", F.expr("posexplode(q) AS (d, v)"))
            .groupBy("g", "j2", "d")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: k * d rows of control-plane ints
        )
        upd: dict[tuple[int, int], list[int]] = {}
        for r in sums:
            upd.setdefault((int(r.g), int(r.j2)), [0] * _SEM_D)[r.d] = (
                1 if r.s >= 0 else -1
            ) * (abs(r.s) // r.n)
        for gj, c in upd.items():
            fine[gj] = c
    return mk_fine()


@register(
    "dedup_semantic_clusters",
    oracle=_sem_oracle_sql(),
    doc="SemDeDup (Abbas et al. 2023): corpus-scaled exact-integer "
    "HIERARCHICAL k-means over the embeddings (k = smallest power of two "
    "with k*64 >= n; coarse k1 ~ sqrt(k) cells, then k2 = k/k1 fine "
    "centroids per cell, 3 Lloyd rounds each — the paper's IVF coarse-"
    "quantizer stance), then within each cluster drop every vector eps-cosine-"
    "close (eps = 0.3, exact integer predicate) to a member ranked farther "
    "from the centroid — per vector its cluster, cluster size, centroid-"
    "distance rank, and keep flag; the semantic member of the dedup "
    "family, catching paraphrases and re-encodings no lexical signal sees "
    "(dedup_semantic is the label-blocked stand-in; this runs the REAL "
    "fitted-k-means pipeline end to end, per the round-5 verdict item 7)",
    tags=("ext", "embedding", "dedup", "similarity"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (round-7 sf1->sf10 redesign): assignment is TWO
    broadcast joins — the k1-row coarse table, then the k-row fine table
    restricted by the join on g to the vector's own cell — so per-vector
    cost is (k1 + k2)*d = 2*sqrt(k)*d instead of the flat k*d that
    measured ~40x per decade at sf10 (500k vectors x k=4096 x 64 dims =
    131G integer ops PER PASS). The argmin stays a partial-aggregatable
    min(struct); each Lloyd update aggregates onto at most k*d keys with
    map-side partial sums and only k*d centroid ints ever reach the
    driver (the PCA/k-means bounded-control-plane contract). The within-cluster pair join keys on cluster id with
    expected fan-out CAP^2 per cluster; k growing with n keeps the total
    pair set ~linear (SemDeDup's own scaling stance), and a degenerate
    giant cluster is AQE-skew-split territory, not a plan change.
    Reference cost anchor: the reference repo has no embedding surface —
    this extends SURVEY.md section 2.10's north-star scope."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_SEM_Q}) AS BIGINT))"
        ).alias("q"),
    ).localCheckpoint(eager=False)  # feeds count, seeding, T+1 assignment passes
    _coarse, fine, ga, k2 = _sem_fit_hier(spark, q)
    return _sem_rank_prune(_sem_assign_fine(ga, fine), k2)


def _sem_rank_prune(fin: DataFrame, k2: int) -> DataFrame:
    """The SemDeDup within-cluster rank + eps-cosine prune over a fine
    assignment (vec_id, q, g, j2, dist) — the Spark twin of
    _SEM_PRUNE_TAIL, shared by the full-fit and sampled-fit queries."""
    from pyspark.sql import Window

    ranked = (
        fin
        .select(
            "vec_id",
            "q",
            (F.col("g").cast("long") * k2 + F.col("j2")).alias("j"),
            "dist",
            F.expr(
                "aggregate(zip_with(q, q, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("n2"),
        )
        .withColumn(
            "c_rank",
            F.row_number().over(
                Window.partitionBy("j").orderBy(F.desc("dist"), "vec_id")
            ),
        )
        .localCheckpoint(eager=False)  # feeds sizes + both pair-join sides
    )
    sizes = ranked.groupBy("j").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    a = ranked.select(
        F.col("vec_id").alias("va"),
        F.col("j").alias("ja"),
        F.col("c_rank").alias("ra"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na2"),
    )
    b = ranked.select(
        F.col("j").alias("jb"),
        F.col("c_rank").alias("rb"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb2"),
    )
    dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    drops = (
        a.join(b, (F.col("ja") == F.col("jb")) & (F.col("rb") < F.col("ra")))
        .withColumn("dot", F.expr(dot))
        .filter(
            (F.col("dot") > 0)
            & (
                F.expr(
                    f"CAST({_SEM_DEN} AS DECIMAL(38, 0))"
                    " * CAST(dot AS DECIMAL(38, 0)) * CAST(dot AS DECIMAL(38, 0))"
                )
                >= F.expr(
                    f"CAST({_SEM_NUM} AS DECIMAL(38, 0))"
                    " * CAST(na2 AS DECIMAL(38, 0)) * CAST(nb2 AS DECIMAL(38, 0))"
                )
            )
        )
        .select(F.col("va").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        ranked.join(sizes, "j")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("j").cast("long").alias("cluster"),
            "cluster_size",
            F.col("c_rank").cast("long").alias("c_rank"),
            F.col("dropped").isNull().alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic blocking-recall audit — completes the blocking-audit family
# (simhash_blocking_recall, fuzzy_blocking_recall, dedup_lsh_recall): unlike
# Manku banding, SemDeDup's k-means cell blocking carries NO losslessness
# guarantee — every eps-cosine pair whose members land in different cells is
# silently never compared (the paper accepts this; the audit MEASURES it).
# Ground truth is exact all-pairs integer eps-cosine on a corpus-size-derived
# md5 sample; "found" is truth pairs co-located in one fitted (g, j2) cell of
# the PRODUCTION full-corpus hierarchical fit.
# ---------------------------------------------------------------------------
_SEMBR_SAMPLE_TARGET = 1000
#: eps^2 grid as rationals over _SEM_DEN (0.3^2, 0.35^2, 0.4^2): from the
#: production SemDeDup operating point up toward the corpus's cos ceiling
#: (~0.45) — recall must rise with the threshold; the curve shows where the
#: cell blocking becomes trustworthy.
_SEMBR_NUMS = (900, 1225, 1600)

#: The recall-curve tail over a `fin` CTE — shared by the full-fit and
#: sampled-fit blocking-recall audits.
_SEMBR_TAIL = f""",
smod AS (
  SELECT greatest(1, (count(*) + {_SEMBR_SAMPLE_TARGET} - 1) // {_SEMBR_SAMPLE_TARGET})
         AS m
  FROM embeddings
),
samp AS MATERIALIZED (
  SELECT vec_id, q, j,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
  FROM fin
  WHERE {duck_hash_uniform('vec_id')} % (SELECT m FROM smod) = 0
),
tr AS MATERIALIZED (
  SELECT a.j = b.j AS same_cell,
         {_sem_dot('a', 'b')} AS dot,
         CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT) AS nn
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
  WHERE {_sem_dot('a', 'b')} > 0
)
SELECT CAST(e.num AS BIGINT) AS eps_sq_x10k,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(*) FILTER (same_cell) AS BIGINT) AS n_found,
       CAST(1000000 * (count(*) FILTER (same_cell)) // count(*)
            AS BIGINT) AS recall_ppm
FROM tr JOIN (VALUES {", ".join(f"({n})" for n in _SEMBR_NUMS)}) e(num)
  ON {_SEM_DEN} * dot * dot >= e.num * nn
GROUP BY e.num
"""

_SEMBR_SQL = _sem_lloyd_sql() + _SEMBR_TAIL


@register(
    "semantic_blocking_recall",
    oracle=_SEMBR_SQL,
    doc="Blocking-recall audit for SemDeDup's k-means cell blocking: exact "
    "all-pairs integer eps-cosine truth on a corpus-size-derived md5 vector "
    "sample vs co-location in the production full-corpus hierarchical fit's "
    "(g, j2) cells, as a recall CURVE over eps in {0.3, 0.35, 0.4} — k-means "
    "blocking has NO pigeonhole guarantee (boundary-straddling pairs are "
    "never compared), so its miss rate must be a measured curve, not an "
    "assumption; completes the blocking-audit family alongside "
    "simhash/fuzzy/LSH recall",
    tags=("ext", "embedding", "dedup", "eval"),
)
def semantic_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the quadratic truth leg runs ONLY on the md5-thinned
    sample (mod = ceil(n / target), so the broadcast self-join stays
    ~constant-size at every tier — the calibration-thinning stance); the
    blocking under audit is the REAL production fit over the FULL corpus
    (two broadcast-join assignment hops, bounded control-plane Lloyd
    updates), with cell ids riding the sampled rows — no extra pass over
    the un-sampled corpus beyond the fit itself."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = _sem_quantized(emb).localCheckpoint(eager=False)  # count + fit + assign
    _coarse, fine, ga, k2 = _sem_fit_hier(spark, q)
    return _sembr_measure(spark, emb, _sembr_fin(ga, fine, k2))


def _sem_fit_hier_sampled(
    spark: SparkSession, q: DataFrame, n: int
) -> tuple[DataFrame, DataFrame, int]:
    """Sampled-fit hierarchical SemDeDup (the FAISS train-on-sample
    stance): k still scales with the FULL corpus, but both Lloyd chains
    see only the ~k*16-vector md5 sample, so the fit cost is bounded by a
    constant once k hits its cap while the full corpus rides the same two
    linear broadcast-assignment hops. The coarse argmin domain for the
    full corpus is restricted to cells that own fine centroids (a coarse
    cell with zero sample members after the final coarse pass has no fine
    table; dropping empty cells is FAISS's own stance, and when the
    sample is the whole corpus the restriction is a no-op). Returns
    (fine, ga, k2) with ga the full-corpus coarse assignment."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    k = _sem_k(n)
    k1 = _sem_k1(k)
    k2 = k // k1
    qf = q.filter(
        hash_uniform("vec_id") % F.lit(_sems_mod(n, k)) == 0
    ).localCheckpoint(eager=False)  # feeds seeding + T+1 fit passes
    coarse = _sem_fit_centroids(spark, qf, k=k1)
    gaf = (
        _sem_assign(qf, coarse)
        .select("vec_id", "q", F.col("j").alias("g"))
        .localCheckpoint(eager=False)  # feeds T fine rounds + coverage
    )
    fine = _sem_fit_fine(spark, gaf, k2)
    coarse_cov = coarse.join(
        fine.select(F.col("g").alias("j")).distinct(), "j", "left_semi"
    )
    ga = _sem_assign(q, coarse_cov).select("vec_id", "q", F.col("j").alias("g"))
    return fine, ga, k2


@register(
    "dedup_semantic_sampled",
    oracle=_sem_sampled_sql() + _SEM_PRUNE_TAIL,
    doc="SemDeDup with a SAMPLED fit (verdict-scoped r08 variant): k scales "
    "with the full corpus per the paper, but the hierarchical k-means is "
    f"fitted on a corpus-derived md5 sample of ~{_SEMS_PER_CENT} vectors "
    "per centroid (FAISS's train-on-sample stance) — the by-design-"
    "superlinear fit becomes a bounded constant past the k cap while the "
    "full corpus is assigned via the same two broadcast hops; same "
    "cluster/rank/eps-prune output sheet as dedup_semantic_clusters",
    tags=("ext", "embedding", "dedup", "similarity"),
)
def dedup_semantic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to dedup_semantic_clusters' assignment path
    (two broadcast argmin hops, bounded control-plane Lloyd updates, the
    within-cluster CAP^2-fan-out prune) — but the Lloyd chains run on the
    bounded fit sample, so the FIT leg's per-round cost is sample*(k1+k2)*d
    = a constant once k caps, where the full fit measured superlinear by
    design (k = n/64 growth)."""
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
        corpus_count,
    )

    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = _sem_quantized(emb).localCheckpoint(eager=False)  # sample + assign
    n = corpus_count(spark, sf_dir, "embeddings")
    fine, ga, k2 = _sem_fit_hier_sampled(spark, q, n)
    return _sem_rank_prune(_sem_assign_fine(ga, fine), k2)


@register(
    "semantic_blocking_recall_sampled",
    oracle=_sem_sampled_sql() + _SEMBR_TAIL,
    doc="Blocking-recall audit for the SAMPLED SemDeDup fit "
    "(dedup_semantic_sampled): the same exact all-pairs eps-cosine truth "
    "sample scored against co-location in the sample-fitted (g, j2) cells "
    "— measures what the train-on-sample shortcut costs in recall next to "
    "semantic_blocking_recall's full-fit curve",
    tags=("ext", "embedding", "dedup", "eval"),
)
def semantic_blocking_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the fit leg is the bounded sampled fit; the truth leg
    is the same md5-thinned constant-size broadcast self-join as the
    full-fit audit."""
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
        corpus_count,
    )

    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = _sem_quantized(emb).localCheckpoint(eager=False)
    n = corpus_count(spark, sf_dir, "embeddings")
    fine, ga, k2 = _sem_fit_hier_sampled(spark, q, n)
    return _sembr_measure(spark, emb, _sembr_fin(ga, fine, k2))


def _sembr_fin(ga: DataFrame, fine: DataFrame, k2: int) -> DataFrame:
    """Fine assignment projected to (vec_id, q, j, n2) for the recall legs."""
    return _sem_assign_fine(ga, fine).select(
        "vec_id",
        "q",
        (F.col("g").cast("long") * k2 + F.col("j2")).alias("j"),
        F.expr(
            "aggregate(zip_with(q, q, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("n2"),
    )


def _sembr_measure(spark: SparkSession, emb: DataFrame, fin: DataFrame) -> DataFrame:
    """The shared recall-curve measurement (Spark twin of _SEMBR_TAIL):
    md5-thinned truth sample, broadcast all-pairs integer eps-cosine,
    co-location scored per eps rung."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    smod = emb.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(count(*) + {_SEMBR_SAMPLE_TARGET} - 1) div {_SEMBR_SAMPLE_TARGET}"
            ),
        ).alias("sample_mod")
    )
    samp = (
        fin.crossJoin(F.broadcast(smod))
        .filter(hash_uniform("vec_id") % F.col("sample_mod") == 0)
        .select("vec_id", "q", "j", "n2")
        .localCheckpoint(eager=False)  # feeds both sides of the pair join
    )
    x = samp.select(
        F.col("vec_id").alias("va"),
        F.col("q").alias("qa"),
        F.col("j").alias("ja"),
        F.col("n2").alias("na2"),
    )
    y = samp.select(
        F.col("vec_id").alias("vb"),
        F.col("q").alias("qb"),
        F.col("j").alias("jb"),
        F.col("n2").alias("nb2"),
    )
    dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    tr = (
        x.join(F.broadcast(y), F.col("va") < F.col("vb"))
        .withColumn("dot", F.expr(dot))
        .filter(F.col("dot") > 0)
        .select(
            (F.col("ja") == F.col("jb")).alias("same_cell"),
            F.expr(
                "CAST(dot AS DECIMAL(38, 0)) * CAST(dot AS DECIMAL(38, 0))"
            ).alias("dd"),
            F.expr(
                "CAST(na2 AS DECIMAL(38, 0)) * CAST(nb2 AS DECIMAL(38, 0))"
            ).alias("nn"),
        )
    )
    eps = spark.createDataFrame([(n,) for n in _SEMBR_NUMS], "num long")
    return (
        tr.join(
            F.broadcast(eps),
            F.expr(f"CAST({_SEM_DEN} AS DECIMAL(38, 0)) * dd")
            >= F.col("num") * F.col("nn"),
        )
        .groupBy("num")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.count_if(F.col("same_cell")).cast("long").alias("n_found"),
            F.expr(
                "CAST(1000000 * count_if(same_cell) div count(*) AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .select(
            F.col("num").cast("long").alias("eps_sq_x10k"),
            "n_true",
            "n_found",
            "recall_ppm",
        )
    )


# ---------------------------------------------------------------------------
# SimHash blocking-recall audit: does the 2-of-8 band-pair candidate
# generation really lose nothing up to Hamming 6 (the pigeonhole claim),
# and what does the collision tail look like above it? Ground truth is the
# EXACT all-pairs Hamming histogram on a deterministically thinned doc
# sample (the calibration-query thinning pattern — never the full corpus);
# candidates are the production band-pair join on the same sample. The
# recall column is checked DATA: any value below 10^6 for h <= 6 is a
# blocking bug surfaced by the oracle hash.
# ---------------------------------------------------------------------------
#: Sample-size TARGET for the all-pairs truth leg. The sampling mod is
#: DERIVED from the corpus row count — mod = ceil(n / target) — so the
#: sampled table (and hence the broadcast + O(sample^2) truth join) stays
#: ~constant-size at every tier instead of growing with the corpus
#: (round-6 ADVICE: the old fixed mod 4 made the audit quadratic again).
_SBR_SAMPLE_TARGET = 1250
_SBR_MAX_H = SIMHASH_MAX_HAMMING

_SBR_SQL = f"""
WITH smod AS (
  SELECT greatest(1, (count(*) + {_SBR_SAMPLE_TARGET} - 1) // {_SBR_SAMPLE_TARGET})
         AS m
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
  WHERE {duck_hash_uniform('doc_id')} % (SELECT m FROM smod) = 0
),
votes AS (
  SELECT doc_id,
         {_SIMHASH_VOTES}
  FROM toks GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {_SIMHASH_SIG} AS sig FROM votes
),
truth AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST({_SIMHASH_HAMMING} AS BIGINT) AS hamming
  FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
  WHERE {_SIMHASH_HAMMING} <= {_SBR_MAX_H}
),
bands AS (
  {_SIMHASH_BANDS_UNION}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST({_SIMHASH_HAMMING} AS BIGINT) AS hamming
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
  WHERE {_SIMHASH_HAMMING} <= {_SBR_MAX_H}
),
t AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_true FROM truth GROUP BY hamming),
c AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY hamming)
SELECT t.hamming, t.n_true, coalesce(c.n_cand, 0) AS n_cand,
       CAST(1000000 * coalesce(c.n_cand, 0) // t.n_true AS BIGINT) AS recall_ppm
FROM t LEFT JOIN c ON c.hamming = t.hamming
"""


@register(
    "simhash_blocking_recall",
    oracle=_SBR_SQL,
    doc="Blocking-recall audit for the Manku band-pair SimHash join: exact "
    "all-pairs Hamming truth on a deterministic corpus-size-derived doc "
    "sample (mod = ceil(n/target), bounded at every tier) vs the "
    "production candidate generator on the same sample, per Hamming value "
    "— recall_ppm must be 1000000 up to the pigeonhole bound (<= 6), and "
    "the hash-checked output proves it on real data, not just on paper",
    tags=("ext", "dedup", "eval"),
)
def simhash_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the all-pairs truth leg runs ONLY on the md5-thinned
    sample (the explicitly-thinned calibration stance — the mod is derived
    from the corpus row count, mod = ceil(n / {_SBR_SAMPLE_TARGET}), so the
    sampled pair set stays bounded at 100 TB),
    via a broadcast self-join on the sampled signature table; the
    candidate leg is the production salted band-pair join, also on the
    sample. Both legs fold to per-Hamming counts before the tiny
    comparison join."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    all_docs = parallel_scan(spark, sf_dir, "documents")
    # mod = ceil(n / target), computed as a broadcast 1-row aggregate (no
    # driver collect): the sampled table stays ~_SBR_SAMPLE_TARGET rows at
    # every tier, keeping the truth leg's broadcast and pair count bounded.
    smod = all_docs.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(count(*) + {_SBR_SAMPLE_TARGET} - 1) div {_SBR_SAMPLE_TARGET}"
            ),
        ).alias("sample_mod")
    )
    docs = (
        all_docs.crossJoin(F.broadcast(smod))
        .filter(hash_uniform("doc_id") % F.col("sample_mod") == 0)
        .drop("sample_mod")
    )
    sigs = simhash_words(docs).localCheckpoint(
        eager=False
    )  # feeds the truth self-join AND the band-pair candidates
    ints = sigs.select(
        "doc_id", F.col("sw0").alias("hi"), F.col("sw1").alias("lo")
    )
    x = ints.select(
        F.col("doc_id").alias("doc_a"), F.col("hi").alias("hi_a"), F.col("lo").alias("lo_a")
    )
    y = ints.select(
        F.col("doc_id").alias("doc_b"), F.col("hi").alias("hi_b"), F.col("lo").alias("lo_b")
    )
    truth = (
        x.join(F.broadcast(y), F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            (
                F.expr("bit_count(hi_a ^ hi_b)") + F.expr("bit_count(lo_a ^ lo_b)")
            ).cast("long"),
        )
        .filter(F.col("hamming") <= _SBR_MAX_H)
    )
    t = truth.groupBy("hamming").agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    cand = simhash_near_pairs(sigs, max_hamming=_SBR_MAX_H)
    c = cand.groupBy("hamming").agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    return t.join(c, "hamming", "left").select(
        "hamming",
        "n_true",
        F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
        F.expr(
            "CAST(1000000 * coalesce(n_cand, 0) div n_true AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: nDCG@k and MRR for the brute-force cosine top-k,
# with binary relevance = "neighbor shares the query's cluster label" (the
# corpus ground truth the embeddings carry). Discounts 1/log2(i+1) are
# IRRATIONAL, so both engines consume the same precomputed floor(1e6 /
# log2(i+1)) integer table — metric arithmetic is then pure BIGINT and the
# scores hash-compare exactly.
# ---------------------------------------------------------------------------
import math as _math

_NDCG_K = _ANN_K
_NDCG_D = [int(_math.floor(1_000_000 / _math.log2(i + 1))) for i in range(1, _NDCG_K + 1)]
_NDCG_P = [0]
for _d in _NDCG_D:
    _NDCG_P.append(_NDCG_P[-1] + _d)

_NDCG_D_SQL = "[" + ", ".join(str(d) for d in _NDCG_D) + "]"
_NDCG_P_SQL = "[" + ", ".join(str(p) for p in _NDCG_P[1:]) + "]"
_NDCG_D_SPARK = "array(" + ", ".join(f"{d}L" for d in _NDCG_D) + ")"
_NDCG_P_SPARK = "array(" + ", ".join(f"{p}L" for p in _NDCG_P[1:]) + ")"

_NDCG_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         v.vec_id AS neighbor_id, v.label AS n_label,
         {duck_cosine('q.embedding', 'v.embedding')} AS cos_raw
  FROM embeddings q
  JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
),
topk AS (
  SELECT query_id, q_label, n_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
  QUALIFY rank <= {_NDCG_K}
),
per_q AS (
  SELECT query_id,
         CAST(sum(CASE WHEN n_label = q_label
                       THEN ({_NDCG_D_SQL})[rank] ELSE 0 END) AS BIGINT) AS dcg_micro,
         CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk,
         min(CASE WHEN n_label = q_label THEN rank END) AS first_rel_rank
  FROM topk GROUP BY query_id
),
rtot AS (
  SELECT q.vec_id AS query_id,
         CAST(count(*) FILTER (WHERE v.label = q.label AND v.vec_id <> q.vec_id)
              AS BIGINT) AS r_tot
  FROM embeddings q, embeddings v
  WHERE q.vec_id < {_ANN_QUERY_LIMIT}
  GROUP BY q.vec_id
)
SELECT p.query_id, p.n_rel_topk, r.r_tot,
       p.dcg_micro,
       CASE WHEN r.r_tot = 0 THEN 0
            ELSE CAST(1000000 * p.dcg_micro
                      // ({_NDCG_P_SQL})[least(r.r_tot, {_NDCG_K})] AS BIGINT)
       END AS ndcg_ppm,
       CASE WHEN p.first_rel_rank IS NULL THEN 0
            ELSE CAST(1000000 // p.first_rel_rank AS BIGINT)
       END AS mrr_micro
FROM per_q p JOIN rtot r ON r.query_id = p.query_id
"""


@register(
    "retrieval_ndcg_mrr",
    oracle=_NDCG_SQL,
    doc=f"Retrieval eval: nDCG@{_NDCG_K} and MRR for the brute-force cosine "
    "top-k with label-match binary relevance — discount table precomputed "
    "as floor(1e6/log2(i+1)) integers so both engines score in exact "
    "BIGINT; the metric sheet that judges every ANN variant in the repo",
    tags=("ext", "embedding", "eval"),
)
def retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical cost class to ann_topk_bruteforce — the
    bounded query set (vec_id < limit) broadcasts against the corpus, the
    per-query top-k is a rank window over the query-partitioned scores,
    and r_tot folds from a label-keyed corpus aggregate joined back
    broadcast. Metrics are pure per-group integer folds."""
    from pyspark.sql import Window

    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("emb_q"),
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            F.col("embedding").alias("emb_n"),
        )
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "n_label",
            cosine_expr("emb_q", "emb_n").alias("cos_raw"),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), "neighbor_id")
    )
    topk = scored.withColumn("rank", rank).filter(F.col("rank") <= _NDCG_K)
    per_q = topk.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("n_label") == F.col("q_label"),
                F.expr(f"element_at({_NDCG_D_SPARK}, rank)"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("dcg_micro"),
        F.sum(
            F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
        ).cast("long").alias("n_rel_topk"),
        F.min(
            F.when(F.col("n_label") == F.col("q_label"), F.col("rank"))
        ).alias("first_rel_rank"),
    )
    lbl = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_lbl"))
    rtot = (
        q.join(F.broadcast(lbl), q["q_label"] == lbl["label"])
        .select("query_id", (F.col("n_lbl") - 1).cast("long").alias("r_tot"))
    )
    return per_q.join(rtot, "query_id").select(
        "query_id",
        "n_rel_topk",
        "r_tot",
        "dcg_micro",
        F.expr(
            f"CASE WHEN r_tot = 0 THEN 0"
            f" ELSE CAST(1000000 * dcg_micro"
            f" div element_at({_NDCG_P_SPARK},"
            f" CAST(least(r_tot, {_NDCG_K}) AS INT)) AS BIGINT) END"
        ).alias("ndcg_ppm"),
        F.expr(
            "CASE WHEN first_rel_rank IS NULL THEN 0"
            " ELSE CAST(1000000 div first_rel_rank AS BIGINT) END"
        ).alias("mrr_micro"),
    )


# ---------------------------------------------------------------------------
# STREAMING SemDeDup ingest: the semantic member of the continuous-ingest
# dedup family (exact = streaming_dedup_index_ingest's fingerprint probe,
# lexical = its MinHash band probe, semantic = THIS). Pinned 2-batch feed:
# even vec_ids bootstrap the index — the full kmeans_lloyd_exact fit runs
# on them and centroids + assigned members persist as lake commits; odd
# vec_ids arrive as "today's crawl" and are broadcast-assigned to the
# STORED centroids, then probed against the stored members of their own
# cluster with the exact integer eps-cosine predicate. Report: one row per
# new vector (cluster, historical cluster size, is_dup). The oracle is the
# shared Lloyd CTE chain restricted to the bootstrap half + the probe in
# SQL — hash-exact because every stage is the integer machinery.
# ---------------------------------------------------------------------------
def _sem_ingest_oracle_sql() -> str:
    dist_c = (
        "CAST(list_sum(list_transform(range(1, {d} + 1),"
        " i -> (n.q[i] - c.c[i]) * (n.q[i] - c.c[i]))) AS BIGINT)"
    ).format(d=_SEM_D)
    dist_f = (
        "CAST(list_sum(list_transform(range(1, {d} + 1),"
        " i -> (ng.q[i] - f.c[i]) * (ng.q[i] - f.c[i]))) AS BIGINT)"
    ).format(d=_SEM_D)
    tail = f""",
m AS MATERIALIZED (
  SELECT vec_id, q, g, j2,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
  FROM fin
),
newq AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {_SEM_Q}) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id % 2 = 1
),
ng AS (
  SELECT vec_id, q, j AS g
  FROM (
    SELECT n.vec_id, n.q, c.j,
           row_number() OVER (PARTITION BY n.vec_id
                              ORDER BY {dist_c}, c.j) AS rn
    FROM newq n CROSS JOIN c{_SEM_T} c
  ) WHERE rn = 1
),
na AS MATERIALIZED (
  SELECT vec_id, q, g, j2,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
  FROM (
    SELECT ng.vec_id, ng.q, ng.g, f.j2,
           row_number() OVER (PARTITION BY ng.vec_id
                              ORDER BY {dist_f}, f.j2) AS rn
    FROM ng JOIN f{_SEM_T} f ON f.g = ng.g
  ) WHERE rn = 1
),
sz AS (SELECT g, j2, CAST(count(*) AS BIGINT) AS n_hist FROM m GROUP BY g, j2),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM na b JOIN m a ON a.g = b.g AND a.j2 = b.j2
  WHERE {_sem_dot('a', 'b')} > 0
    AND {_SEM_DEN} * {_sem_dot('a', 'b')} * {_sem_dot('a', 'b')}
        >= {_SEM_NUM} * CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT)
)
SELECT b.vec_id,
       CAST(b.g AS BIGINT) AS cluster_g,
       CAST(b.j2 AS BIGINT) AS cluster_f,
       coalesce(sz.n_hist, 0) AS n_hist,
       d.vec_id IS NOT NULL AS is_dup
FROM na b
LEFT JOIN sz ON sz.g = b.g AND sz.j2 = b.j2
LEFT JOIN dups d ON d.vec_id = b.vec_id
"""
    return _sem_lloyd_sql(" WHERE vec_id % 2 = 0") + tail


@register(
    "streaming_semantic_ingest",
    oracle=_sem_ingest_oracle_sql(),
    doc="EXT streaming ingest, semantic member of the continuous-dedup "
    "family: bootstrap batch fits SemDeDup's exact integer HIERARCHICAL "
    "k-means (coarse cells + per-cell fine centroids) and persists both "
    "centroid tables + assigned members to the lake; each later "
    "micro-batch broadcast-assigns its vectors in two hops to the STORED "
    "centroids and probes the stored members of its own (g, j2) cluster "
    "with the exact integer eps-cosine predicate — per new vector its "
    "cluster, the historical cluster size, and the is_dup verdict, "
    "value-hashed against the batch SQL",
    tags=("ext", "embedding", "dedup", "similarity", "lake", "streaming"),
)
def streaming_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bootstrap fit is the batch query's bounded-control-
    plane k-means (k*d ints to the driver per round); every later batch is
    ONE broadcast join against the k-row stored centroid table (argmin as
    map-side min(struct)) plus a cluster-keyed join against stored members
    — cost scales with the ingest batch and the probed clusters' sizes,
    never with the full history, and k growing with the bootstrap corpus
    keeps expected cluster size ~constant (the SemDeDup stance). Index
    maintenance is append-only lake commits; no vector is ever re-fit."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
        snapshot_history,
    )

    emb = parallel_scan(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stream, _ = replay_feed(
        spark,
        [emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == i) for i in range(2)],
        "semingest_src_",
    )

    cent_lake = _tf.mkdtemp(prefix="semingest_cents_")
    fine_lake = _tf.mkdtemp(prefix="semingest_fine_")
    member_lake = _tf.mkdtemp(prefix="semingest_members_")
    report_dir = _tf.mkdtemp(prefix="semingest_report_")

    def _ingest(batch_df, batch_id: int) -> None:
        q = _sem_quantized(batch_df).localCheckpoint(eager=False)
        if not snapshot_history(spark, cent_lake):
            # Bootstrap: hierarchical fit on this batch, persist coarse +
            # fine centroid tables and the assigned members.
            coarse, fine, ga, _k2 = _sem_fit_hier(spark, q)
            members = _sem_assign_fine(ga, fine).select(
                "q",
                "g",
                "j2",
                F.expr(
                    "aggregate(zip_with(q, q, (x, y) -> x * y),"
                    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                ).alias("n2"),
            )
            snapshot_append(
                spark,
                coarse.withColumn("p", F.lit("all")),
                cent_lake,
                partition_col="p",
            )
            snapshot_append(
                spark,
                fine.withColumn("p", F.lit("all")),
                fine_lake,
                partition_col="p",
            )
            snapshot_append(
                spark,
                members.withColumn("pj", F.pmod(F.col("g"), F.lit(8))),
                member_lake,
                partition_col="pj",
            )
            return
        # Ingest batch: two broadcast-assign hops against the STORED
        # centroid tables, then probe the STORED members of the cell.
        coarse = read_snapshot(spark, cent_lake).select("j", "c")
        fine = read_snapshot(spark, fine_lake).select("g", "j2", "c")
        ga_new = _sem_assign(q, coarse).select(
            "vec_id", "q", F.col("j").alias("g")
        )
        na = _sem_assign_fine(ga_new, fine).select(
            "vec_id",
            "q",
            "g",
            "j2",
            F.expr(
                "aggregate(zip_with(q, q, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("n2"),
        ).localCheckpoint(eager=False)  # feeds sizes join AND the pair probe
        m = read_snapshot(spark, member_lake)
        sz = m.groupBy("g", "j2").agg(
            F.count(F.lit(1)).cast("long").alias("n_hist")
        )
        a = m.select(
            F.col("g").alias("ja_g"), F.col("j2").alias("ja_f"),
            F.col("q").alias("qa"), F.col("n2").alias("na2"),
        )
        b = na.select(
            "vec_id", F.col("g").alias("jb_g"), F.col("j2").alias("jb_f"),
            F.col("q").alias("qb"), F.col("n2").alias("nb2"),
        )
        dot = (
            "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        dups = (
            b.join(
                a,
                (F.col("ja_g") == F.col("jb_g")) & (F.col("ja_f") == F.col("jb_f")),
            )
            .withColumn("dot", F.expr(dot))
            .filter(
                (F.col("dot") > 0)
                & (
                    F.expr(
                        f"CAST({_SEM_DEN} AS DECIMAL(38, 0))"
                        " * CAST(dot AS DECIMAL(38, 0)) * CAST(dot AS DECIMAL(38, 0))"
                    )
                    >= F.expr(
                        f"CAST({_SEM_NUM} AS DECIMAL(38, 0))"
                        " * CAST(na2 AS DECIMAL(38, 0)) * CAST(nb2 AS DECIMAL(38, 0))"
                    )
                )
            )
            .select("vec_id")
            .distinct()
            .withColumn("hit", F.lit(True))
        )
        report = (
            na.join(sz, ["g", "j2"], "left")
            .join(dups, "vec_id", "left")
            .select(
                "vec_id",
                F.col("g").cast("long").alias("cluster_g"),
                F.col("j2").cast("long").alias("cluster_f"),
                F.coalesce("n_hist", F.lit(0)).cast("long").alias("n_hist"),
                F.col("hit").isNotNull().alias("is_dup"),
            )
        )
        report.write.mode("overwrite").parquet(report_dir)
        # Maintenance: today's vectors join the member index.
        snapshot_append(
            spark,
            na.select("q", "g", "j2", "n2").withColumn(
                "pj", F.pmod(F.col("g"), F.lit(8))
            ),
            member_lake,
            partition_col="pj",
        )

    drain(stream.writeStream.foreachBatch(_ingest), "semantic_ingest")
    if len(snapshot_history(spark, member_lake)) != 2:
        raise RuntimeError("semantic ingest drive incomplete: expected 2 member commits")
    return spark.read.parquet(report_dir)
