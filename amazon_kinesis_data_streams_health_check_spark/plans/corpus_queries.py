"""[EXT] Corpus-hygiene queries: intra-document repetition metrics,
cross-document substring duplication, deterministic dataset splits, and a
bucketed kNN graph (SURVEY.md section 2.10 north-star scope — the data-audit
stages an LLM training-data pipeline runs between ingestion and sampling).

Cross-engine determinism: token/n-gram construction is pure integer indexing
over ``regexp_extract_all`` arrays (same RE subset in Java regex and RE2);
fractions are exact-integer ratios divided as IEEE doubles (correctly-rounded
op, engine-identical) then rounded to 6 places; membership checksums sum the
md5-uint32 of row keys (exact BIGINT arithmetic, order-free).

Scale stance (100 TB):

- repetition metrics shuffle on ``(doc_id, gram)`` — a uniform compound key;
  nothing ever groups an unbounded set onto one task (per-doc groups are
  bounded by document length).
- substring duplication first distincts shingles *within* the document
  narrowly (``array_distinct`` before explode — no shuffle spent
  deduplicating what a single row already knows), then shuffles once on the
  uniform shingle-md5 key.
- split assignment is a pure narrow map over the scan (the decision is a
  function of the row key alone, so it is stable under repartitioning,
  retries, and scale-out) followed by one tiny keyed aggregation.
- the kNN graph only pairs vectors sharing an LSH bucket (candidate count
  ~ n^2 / 2^planes) and merges per-query top-k with the two-phase
  local-then-merge pattern — never a single-key window over a full
  candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
    duck_hash_uniform,
    hash_uniform,
    label_propagation,
)
from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (
    cosine_expr,
    cosine_precomp,
    duck_bucket,
    duck_cosine,
    topk_per_query,
    with_lsh_bucket,
    with_sq_norm,
)
from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
    LSH_BANDS,
    duck_band_union,
    duck_minhash_cols,
    duck_shingles,
    with_bands,
    with_minhash,
    with_shingles,
)
from amazon_kinesis_data_streams_health_check_spark.operators.textstats import TOKEN_RE
from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.session import configure_session
from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
    corpus_count,
    load_table,
    parallel_scan,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
    drain,
    replay_feed,
)

_SPARK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
_DUCK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"


def _spark_ngrams(tok_col: str, n: int) -> str:
    """Word n-grams of a token-array column as a string array (narrow).

    Guarded: Spark's ``sequence(1, 0)`` DESCENDS instead of returning empty,
    so short docs explicitly map to an empty array.
    """
    parts = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(n))
    return (
        f"if(size({tok_col}) >= {n},"
        f" transform(sequence(1, size({tok_col}) - {n - 1}),"
        f" i -> concat_ws(' ', {parts})),"
        f" cast(array() as array<string>))"
    )


def _duck_ngrams(tok_col: str, n: int) -> str:
    """DuckDB twin of :func:`_spark_ngrams` (1-based list indexing; ``range``
    already returns empty when start >= stop)."""
    parts = " || ' ' || ".join(f"{tok_col}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({tok_col}) >= {n}"
        f" THEN list_transform(range(1, len({tok_col}) - {n - 2}), i -> {parts})"
        f" ELSE CAST([] AS VARCHAR[]) END"
    )


# ---------------------------------------------------------------------------
# Intra-document repetition metrics (Gopher-style quality rules).
# ---------------------------------------------------------------------------
_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id, source, {_DUCK_TOK} AS t FROM documents
),
g AS (
  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
         {_duck_ngrams('t', 2)} AS g2,
         {_duck_ngrams('t', 3)} AS g3
  FROM base
),
c2 AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY doc_id, gram
),
a2 AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS nd2, max(c) AS top2
  FROM c2 GROUP BY doc_id
),
a3 AS (
  SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS nd3
  FROM (SELECT doc_id, unnest(g3) AS gram FROM g) GROUP BY doc_id
)
SELECT g.doc_id, g.source, g.n_tokens,
       CAST(len(g.g2) AS BIGINT) AS n_2grams,
       coalesce(a2.nd2, 0) AS n_distinct_2grams,
       coalesce(a2.top2, 0) AS top_2gram_n,
       CASE WHEN len(g.g2) > 0 THEN round(
         CAST(len(g.g2) - coalesce(a2.nd2, 0) AS DOUBLE) / CAST(len(g.g2) AS DOUBLE), 6)
         ELSE 0.0 END AS dup_2gram_frac,
       CASE WHEN len(g.g2) > 0 THEN round(
         CAST(coalesce(a2.top2, 0) AS DOUBLE) / CAST(len(g.g2) AS DOUBLE), 6)
         ELSE 0.0 END AS top_2gram_frac,
       CASE WHEN len(g.g3) > 0 THEN round(
         CAST(len(g.g3) - coalesce(a3.nd3, 0) AS DOUBLE) / CAST(len(g.g3) AS DOUBLE), 6)
         ELSE 0.0 END AS dup_3gram_frac
FROM g LEFT JOIN a2 ON g.doc_id = a2.doc_id LEFT JOIN a3 ON g.doc_id = a3.doc_id
"""


@register(
    "repetition_stats",
    oracle=_REPETITION_SQL,
    doc="Gopher-style intra-document repetition metrics: duplicate 2/3-gram "
    "fractions and most-frequent-2-gram share — the standard quality rules "
    "that down-weight looping / boilerplate-heavy documents",
    tags=("ext", "corpus"),
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: n-gram arrays are built narrowly per row (no
    self-join/window over positions); the only wide stages group on the
    uniform compound key ``(doc_id, gram)`` and then on ``doc_id``. Totals
    (``n_2grams``) come free from ``size()`` on the narrow side, so the
    aggregation only carries distinct/max."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    # The n-gram arrays feed three consumers (narrow totals + the 2-gram and
    # 3-gram aggregations); pin the tokenize+ngram stage once so Catalyst
    # does not re-derive it per consumer.
    g = docs.select(
        "doc_id",
        "source",
        F.expr(f"size({_SPARK_TOK})").cast("long").alias("n_tokens"),
        F.expr(_spark_ngrams(_SPARK_TOK, 2)).alias("g2"),
        F.expr(_spark_ngrams(_SPARK_TOK, 3)).alias("g3"),
    ).localCheckpoint(eager=False)
    base = g.select(
        "doc_id",
        "source",
        "n_tokens",
        F.size("g2").cast("long").alias("n_2grams"),
        F.size("g3").cast("long").alias("n_3grams"),
    )
    a2 = (
        g.select("doc_id", F.explode("g2").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("nd2"), F.max("c").alias("top2"))
    )
    a3 = (
        g.select("doc_id", F.explode("g3").alias("gram"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("nd3"))
    )
    out = (
        base.join(a2, "doc_id", "left")
        .join(a3, "doc_id", "left")
        .withColumn("n_distinct_2grams", F.coalesce("nd2", F.lit(0)).cast("long"))
        .withColumn("top_2gram_n", F.coalesce("top2", F.lit(0)).cast("long"))
        .withColumn("nd3c", F.coalesce("nd3", F.lit(0)).cast("long"))
    )

    def _frac(num: F.Column, den: str) -> F.Column:
        return F.when(
            F.col(den) > 0,
            F.round(num.cast("double") / F.col(den).cast("double"), 6),
        ).otherwise(F.lit(0.0))

    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        "n_2grams",
        "n_distinct_2grams",
        "top_2gram_n",
        _frac(F.col("n_2grams") - F.col("n_distinct_2grams"), "n_2grams").alias(
            "dup_2gram_frac"
        ),
        _frac(F.col("top_2gram_n"), "n_2grams").alias("top_2gram_frac"),
        _frac(F.col("n_3grams") - F.col("nd3c"), "n_3grams").alias(
            "dup_3gram_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-document substring duplication (exact-substring dedup signal).
# ---------------------------------------------------------------------------
_SHINGLE_N = 8

_SUBSTR_DUP_SQL = f"""
WITH base AS (
  SELECT doc_id, source, {_DUCK_TOK} AS t FROM documents
),
sh AS (
  SELECT doc_id, source,
         CASE WHEN len(t) >= {_SHINGLE_N}
           THEN list_distinct(list_transform(range(1, len(t) - {_SHINGLE_N - 2}),
                i -> md5(array_to_string(t[i:i + {_SHINGLE_N - 1}], ' '))))
           ELSE CAST([] AS VARCHAR[]) END AS shs
  FROM base
),
pairs AS (
  SELECT doc_id, unnest(shs) AS sh FROM sh
),
gram_docs AS (
  SELECT sh, CAST(count(*) AS BIGINT) AS n_docs FROM pairs GROUP BY sh
),
per_doc AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN g.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM pairs p JOIN gram_docs g ON p.sh = g.sh
  GROUP BY p.doc_id
)
SELECT sh.doc_id, sh.source,
       coalesce(per_doc.n_shingles, 0) AS n_shingles,
       coalesce(per_doc.n_shared, 0) AS n_shared,
       CASE WHEN coalesce(per_doc.n_shingles, 0) > 0 THEN round(
         CAST(per_doc.n_shared AS DOUBLE) / CAST(per_doc.n_shingles AS DOUBLE), 6)
         ELSE 0.0 END AS shared_frac
FROM sh LEFT JOIN per_doc ON sh.doc_id = per_doc.doc_id
"""


@register(
    "substring_dup_frac",
    oracle=_SUBSTR_DUP_SQL,
    doc="Exact-substring duplication signal: fraction of each document's "
    "word-8-gram shingles that also appear in at least one other document "
    "(the per-doc audit behind substring-level train-set dedup)",
    tags=("ext", "corpus", "dedup"),
)
def substring_dup_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: shingles are md5'd and ``array_distinct``'d narrowly per
    row BEFORE the explode, so the shuffle dedup work a distinct would do is
    already done row-locally; one shuffle groups the uniform shingle key, one
    joins it back, one groups per doc. Join keys are 32-hex md5 — short and
    uniform regardless of shingle text length."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    parts = ", ".join(f"element_at(t, i + {j})" for j in range(_SHINGLE_N))
    sh = docs.select(
        "doc_id", "source", F.expr(_SPARK_TOK).alias("t")
    ).select(
        "doc_id",
        "source",
        F.expr(
            f"if(size(t) >= {_SHINGLE_N},"
            f" array_distinct(transform(sequence(1, size(t) - {_SHINGLE_N - 1}),"
            f" i -> md5(concat_ws(' ', {parts})))),"
            f" cast(array() as array<string>))"
        ).alias("shs"),
    )
    # The shingle arrays feed three consumers (the explode twice — count
    # side and join side — plus the final doc join); without pinning,
    # Catalyst re-derives the tokenize+md5 chain per consumer, tripling the
    # dominant narrow work. Lazy localCheckpoint = one computation, and the
    # ContextCleaner reclaims it when the plan is garbage-collected.
    sh = sh.localCheckpoint(eager=False)
    pairs = sh.select("doc_id", F.explode("shs").alias("sh"))
    gram_docs = pairs.groupBy("sh").agg(F.count("*").alias("n_docs"))
    per_doc = (
        pairs.join(gram_docs, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_shared"),
        )
    )
    # Doc identity comes from the raw scan (column-pruned to two columns) —
    # joining back through `sh` would drag the shingle arrays into the plan
    # a second time for no reason.
    out = docs.select("doc_id", "source").join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        "source",
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        F.when(
            F.coalesce("n_shingles", F.lit(0)) > 0,
            F.round(
                F.col("n_shared").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("shared_frac"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated SPANS (positional exact-substring dedup).
# ---------------------------------------------------------------------------
_SPAN_N = _SHINGLE_N  # same 8-token granularity as the fraction audit

_DUP_SPAN_SQL = f"""
WITH base AS (
  SELECT doc_id, source, {_DUCK_TOK} AS t FROM documents
),
sh AS (
  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
         CASE WHEN len(t) >= {_SPAN_N} THEN
           list_transform(range(1, len(t) - {_SPAN_N - 2}),
             i -> md5(array_to_string(t[i:i + {_SPAN_N - 1}], ' ')))
           ELSE CAST([] AS VARCHAR[]) END AS hs
  FROM base
),
pos AS (
  SELECT doc_id,
         unnest(range(1, len(hs) + 1)) AS pos,
         unnest(hs) AS h
  FROM sh
),
shared_h AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM pos)
  GROUP BY h HAVING count(*) >= 2
),
marks AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w != 1
              THEN 1 ELSE 0 END AS run_flag,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w >= {_SPAN_N}
              THEN 1 ELSE 0 END AS cov_flag
  FROM pos WHERE h IN (SELECT h FROM shared_h)
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
ids AS (
  SELECT doc_id, pos,
         sum(run_flag) OVER w AS run_id,
         sum(cov_flag) OVER w AS cov_id
  FROM marks WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING)
),
runs AS (
  SELECT doc_id, run_id, CAST(count(*) AS BIGINT) AS run_len
  FROM ids GROUP BY doc_id, run_id
),
run_agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(max(run_len) + {_SPAN_N - 1} AS BIGINT) AS max_span_tokens
  FROM runs GROUP BY doc_id
),
covs AS (
  SELECT doc_id, cov_id, min(pos) AS lo, max(pos) AS hi
  FROM ids GROUP BY doc_id, cov_id
),
cov_agg AS (
  SELECT doc_id, CAST(sum(hi - lo + {_SPAN_N}) AS BIGINT) AS covered_tokens
  FROM covs GROUP BY doc_id
)
SELECT sh.doc_id, sh.source, sh.n_tokens,
       coalesce(run_agg.n_spans, 0) AS n_spans,
       coalesce(run_agg.max_span_tokens, 0) AS max_span_tokens,
       coalesce(cov_agg.covered_tokens, 0) AS covered_tokens,
       CASE WHEN sh.n_tokens > 0 THEN round(
         CAST(coalesce(cov_agg.covered_tokens, 0) AS DOUBLE)
           / CAST(sh.n_tokens AS DOUBLE), 6)
         ELSE 0.0 END AS covered_frac
FROM sh
LEFT JOIN run_agg ON sh.doc_id = run_agg.doc_id
LEFT JOIN cov_agg ON sh.doc_id = cov_agg.doc_id
"""


@register(
    "dup_span_stats",
    oracle=_DUP_SPAN_SQL,
    doc="Positional exact-substring duplication: maximal runs of consecutive "
    "word-8-gram shingles shared with another document (span count, longest "
    "span, and the exact token coverage of the merged duplicated intervals) "
    "— the per-document signal substring-level train-set dedup cuts on",
    tags=("ext", "corpus", "dedup"),
)
def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where ``substring_dup_frac`` answers "how much of this doc is
    duplicated somewhere", this locates the duplication: gaps-and-islands
    over the POSITIONS of cross-document-shared shingles yields maximal
    duplicated spans (run islands) and exact union coverage (intervals
    merged when gaps are < N, since [p, p+N-1] windows overlap there).

    Scale shape: the positional explode is narrow; the only wide stages are
    a distinct + count on the uniform shingle-md5 key, a left-semi join of
    positions against the shared-key set (keys only — span text never
    shuffles), and per-doc windows whose partitions are bounded by document
    length. No self-join over positions, no global sort."""
    from pyspark.sql import Window

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    parts = ", ".join(f"element_at(t, i + {j})" for j in range(_SPAN_N))
    sh = docs.select(
        "doc_id", "source", F.expr(_SPARK_TOK).alias("t")
    ).select(
        "doc_id",
        "source",
        F.expr("size(t)").cast("long").alias("n_tokens"),
        F.expr(
            f"if(size(t) >= {_SPAN_N},"
            f" transform(sequence(1, size(t) - {_SPAN_N - 1}),"
            f" i -> md5(concat_ws(' ', {parts}))),"
            f" cast(array() as array<string>))"
        ).alias("hs"),
    )
    # The shingle arrays feed the distinct-count side AND the positional
    # side; pin the tokenize+md5 chain once (same rationale as
    # substring_dup_frac).
    sh = sh.localCheckpoint(eager=False)
    pos = sh.select("doc_id", F.expr("posexplode(hs) AS (p0, h)")).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), "h"
    )
    shared_h = (
        pos.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("pos").over(w)
    ids = (
        pos.join(shared_h, "h", "leftsemi")
        .select("doc_id", "pos")
        .withColumn(
            "run_flag",
            F.when(prev.isNull() | (F.col("pos") - prev != 1), 1).otherwise(0),
        )
        .withColumn(
            "cov_flag",
            F.when(prev.isNull() | (F.col("pos") - prev >= _SPAN_N), 1).otherwise(0),
        )
        .withColumn("run_id", F.sum("run_flag").over(wsum))
        .withColumn("cov_id", F.sum("cov_flag").over(wsum))
    ).localCheckpoint(eager=False)  # feeds the run- and coverage-side aggs
    run_agg = (
        ids.groupBy("doc_id", "run_id")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            (F.max("run_len") + F.lit(_SPAN_N - 1)).cast("long").alias("max_span_tokens"),
        )
    )
    cov_agg = (
        ids.groupBy("doc_id", "cov_id")
        .agg(F.min("pos").alias("lo"), F.max("pos").alias("hi"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("hi") - F.col("lo") + F.lit(_SPAN_N))
            .cast("long")
            .alias("covered_tokens")
        )
    )
    out = (
        sh.select("doc_id", "source", "n_tokens")
        .join(run_agg, "doc_id", "left")
        .join(cov_agg, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("max_span_tokens", F.lit(0)).cast("long").alias("max_span_tokens"),
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("covered_frac"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment.
# ---------------------------------------------------------------------------
_TRAIN_PCT, _VAL_PCT = 90, 5  # test gets the remainder

_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT source, n_chars,
         {duck_hash_uniform('doc_id')} AS h,
         CASE WHEN {duck_hash_uniform('doc_id')} % 100 < {_TRAIN_PCT} THEN 'train'
              WHEN {duck_hash_uniform('doc_id')} % 100 < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(h) AS BIGINT) AS membership_sum
FROM assigned GROUP BY source, split
"""


@register(
    "split_assign",
    oracle=_SPLIT_SQL,
    doc="Deterministic 90/5/5 train/val/test split by md5-uint32 of the doc "
    "key — repartition/retry/scale-invariant assignment with an exact "
    "membership checksum per (source, split) cell",
    tags=("ext", "corpus", "curation"),
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the split decision is a pure function of the row key —
    a narrow map over the scan (same stance as ``stratified_sample``; never
    ``rand()``, whose draw depends on partition layout) — then ONE keyed
    aggregation on the tiny (source, split) key space. ``membership_sum``
    (exact BIGINT sum of the per-row hash) pins assignment identity, not
    just counts."""
    configure_session(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    h = hash_uniform("doc_id")
    bucket = h % 100
    assigned = docs.select(
        "source",
        "n_chars",
        h.alias("h"),
        F.when(bucket < _TRAIN_PCT, F.lit("train"))
        .when(bucket < _TRAIN_PCT + _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return assigned.groupBy("source", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("h").cast("long").alias("membership_sum"),
    )


# ---------------------------------------------------------------------------
# Bucketed kNN graph over the embedding table.
# ---------------------------------------------------------------------------
_KNN_K = 5

_KNN_SQL = f"""
WITH buckets AS (
  SELECT vec_id, embedding, {duck_bucket('embedding')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {duck_cosine('a.embedding', 'b.embedding')} AS cos_raw
  FROM buckets a
  JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_KNN_K}
"""


# ---------------------------------------------------------------------------
# Hybrid search: metadata filter + exact cosine top-k over the survivors.
# ---------------------------------------------------------------------------
_HYBRID_K = 5
_HYBRID_QUERIES = 10
_HYBRID_MIN_CHARS = 150

_HYBRID_SQL = f"""
WITH corpus AS (
  SELECT e.vec_id, e.embedding, d.source
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.lang = 'en' AND d.n_chars >= {_HYBRID_MIN_CHARS}
),
q AS (
  SELECT vec_id AS query_id, embedding AS qemb FROM embeddings
  WHERE vec_id < {_HYBRID_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.source,
         {duck_cosine('q.qemb', 'c.embedding')} AS cos_raw
  FROM corpus c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, source, round(cos_raw, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_HYBRID_K}
"""


@register(
    "hybrid_search",
    oracle=_HYBRID_SQL,
    doc="Hybrid retrieval: metadata predicate (lang + min length, pushed to "
    "the parquet scan) restricts the corpus, then exact cosine top-5 per "
    "broadcast query vector over the survivors — the filtered-vector-search "
    "pattern of RAG / curation pipelines",
    tags=("ext", "corpus", "similarity"),
)
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the metadata predicate is applied on the ``documents``
    scan (pushdown-eligible: plain comparisons on top-level columns) BEFORE
    any vector math, so the expensive cosine work runs only on survivors;
    the doc->vector join is id-keyed; the query side broadcasts; top-k is
    the shared two-phase merge. Plan-pinned: filters reach PushedFilters,
    no per-query window."""
    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= _HYBRID_MIN_CHARS)
    )
    corpus = with_sq_norm(
        emb.join(
            docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
        ).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("emb_n"),
            "source",
        ),
        "emb_n",
        "nn2",
    )
    q = with_sq_norm(
        emb.filter(F.col("vec_id") < _HYBRID_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_q")
        ),
        "emb_q",
        "nq2",
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", cosine_precomp("emb_q", "emb_n", "nq2", "nn2"))
    )
    topk = topk_per_query(
        scored.select("query_id", "neighbor_id", "cos_raw"), _HYBRID_K
    )
    # Re-attach the (tiny) survivor metadata to the q*k result rows.
    side = corpus.select("neighbor_id", "source")
    return topk.join(F.broadcast(side), "neighbor_id").select(
        "query_id", "neighbor_id", "source", "cosine", "rank"
    )


@register(
    "knn_graph_lsh",
    oracle=_KNN_SQL,
    doc="Bucketed kNN graph: top-5 cosine neighbors per vector among "
    "LSH-bucket mates (the candidate-generation step of semantic dedup / "
    "cluster-based curation over the full corpus)",
    tags=("ext", "corpus", "similarity"),
)
def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the self-join pairs only bucket mates (uniform
    sign-pattern key, candidate count ~ n^2 / 2^planes, tunable by plane
    count) — never the full n^2; squared norms are computed once per row on
    the narrow side; the per-query top-k is the two-phase local-then-merge
    pattern shared with the ANN queries. This is the whole-corpus analogue
    of ``ann_lsh_bucketed`` (every vector is a query, directed edges)."""
    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    # Both self-join legs consume the bucket+norm projection; pin it once
    # (lazy localCheckpoint) so the sign-pattern and squared-norm arithmetic
    # is not re-derived per leg.
    bucketed = with_sq_norm(with_lsh_bucket(emb), "embedding", "n2").localCheckpoint(
        eager=False
    )
    a = bucketed.select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket"),
        F.col("embedding").alias("emb_q"),
        F.col("n2").alias("nq2"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket"),
        F.col("embedding").alias("emb_n"),
        F.col("n2").alias("nn2"),
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cosine_precomp("emb_q", "emb_n", "nq2", "nn2"))
    )
    return topk_per_query(scored, _KNN_K)


# ---------------------------------------------------------------------------
# Single-pass table profiling (data-catalog column statistics).
# ---------------------------------------------------------------------------
_PROFILE_COLS = (
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
)

# Space-separated (not ISO 'T') so the pattern nests cleanly inside the
# stack() SQL string; still lexicographically == chronologically ordered.
_ISO = "yyyy-MM-dd HH:mm:ss"


def _profile_oracle() -> str:
    """The oracle states per-column truths independently (6 scans is fine for
    DuckDB at sf0.01); the Spark side must produce them in ONE scan."""
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            key = f"printf('%.6f', CAST({c} AS DOUBLE))"
            min_num = f"round(min(CAST({c} AS DOUBLE)), 6)"
            max_num = f"round(max(CAST({c} AS DOUBLE)), 6)"
            min_str, max_str = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            key = c if kind == "str" else f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
            min_num, max_num = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            min_str, max_str = f"min({key})", f"max({key})"
        parts.append(
            f"SELECT '{c}' AS col_name,"
            f" CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
            f" CAST(count(DISTINCT {key}) AS BIGINT) AS n_distinct,"
            f" {min_num} AS min_num, {max_num} AS max_num,"
            f" {min_str} AS min_str, {max_str} AS max_str"
            f" FROM lineitem"
        )
    return " UNION ALL ".join(parts)


@register(
    "table_profile",
    oracle=_profile_oracle(),
    doc="Single-pass multi-column profile of lineitem (row/null/distinct "
    "counts, typed min/max) — the data-catalog statistics pass, exact "
    "distincts via melt + two-phase aggregation, never an Expand",
    tags=("ext", "corpus", "profile"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE scan of the fact table; ``stack`` melts the profiled
    columns into (col_name, value_key) rows (a Generate — the row
    multiplication any exact multi-column distinct pays, made explicit and
    partial-aggregatable, unlike multi-countDistinct's Expand); phase 1
    groups on the uniform (col_name, value_key) pair carrying count + typed
    extrema, phase 2 folds per column. Both shuffles partial-aggregate
    map-side; no column ever concentrates on one task."""
    configure_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    rows = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            # NULL guard: format_string renders SQL NULL as the string
            # 'null' (unlike DuckDB's printf, which propagates NULL) — a
            # NULL-bearing numeric column would under-count n_nulls and
            # count a phantom 'null' distinct key without it.
            key = (
                f"if({c} is null, null,"
                f" format_string('%.6f', CAST({c} AS DOUBLE)))"
            )
            num = f"CAST({c} AS DOUBLE)"
        else:
            key = c if kind == "str" else f"date_format({c}, '{_ISO}')"
            num = "CAST(NULL AS DOUBLE)"
        rows.append(f"'{c}', {key}, {num}")
    melt = li.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, "
            + ", ".join(rows)
            + ") as (col_name, value_key, value_num)"
        )
    )
    # Phase 1 carries NO string aggregates (a string min/max buffer would
    # demote the whole aggregate to SortAggregate over the raw melted rows);
    # string extrema come free in phase 2 from value_key, which phase 1
    # groups on.
    phase1 = melt.groupBy("col_name", "value_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value_num").alias("mn"),
        F.max("value_num").alias("mx"),
    )
    str_cols = [c for c, kind in _PROFILE_COLS if kind != "num"]
    str_key = F.when(F.col("col_name").isin(str_cols), F.col("value_key"))
    return phase1.groupBy("col_name").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("value_key").isNull(), F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_nulls"),
        F.count(F.col("value_key")).cast("long").alias("n_distinct"),
        F.round(F.min("mn"), 6).alias("min_num"),
        F.round(F.max("mx"), 6).alias("max_num"),
        F.min(str_key).alias("min_str"),
        F.max(str_key).alias("max_str"),
    )


# ---------------------------------------------------------------------------
# PageRank over the kNN graph — iterative algorithm, integer-exact.
# ---------------------------------------------------------------------------
_PR_ITERS = 3
_PR_SCALE = 1_000_000  # rank micro-units
_PR_BASE = 150_000     # 0.15 * scale

def _pr_iter_sql(prev: str, out: str) -> str:
    """One integer-exact PageRank step: contrib = (r*85) // (100*outdeg)
    (floor division of positive BIGINTs — engine-identical), summed
    order-free as BIGINTs."""
    return f"""
{out} AS (
  SELECT n.vec_id,
         {_PR_BASE} + coalesce(sum((p.r * 85) // (100 * od.d)), 0) AS r
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.vec_id
  LEFT JOIN {prev} p ON p.vec_id = e.src
  LEFT JOIN outdeg od ON od.vec_id = e.src
  GROUP BY n.vec_id
)"""


_PAGERANK_SQL = (
    f"""
WITH knn AS ({_KNN_SQL}),
edges AS (SELECT query_id AS src, neighbor_id AS dst FROM knn),
nodes AS (SELECT vec_id FROM embeddings),
outdeg AS (SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
r0 AS (SELECT vec_id, CAST({_PR_SCALE} AS BIGINT) AS r FROM nodes),"""
    + ",".join(_pr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS))
    + f"""
SELECT vec_id, CAST(r AS BIGINT) AS rank_micros,
       round(CAST(r AS DOUBLE) / {_PR_SCALE}.0, 6) AS rank
FROM r{_PR_ITERS}
"""
)


@register(
    "pagerank_knn",
    oracle=_PAGERANK_SQL,
    doc="PageRank (3 iterations, damping 0.85) over the LSH-kNN neighbor "
    "graph — document-centrality scoring for curation; integer micro-unit "
    "arithmetic makes the iteration order-free and engine-exact",
    tags=("ext", "corpus", "graph"),
)
def pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the edge set is computed ONCE (lazy ``localCheckpoint``
    pins it, same stance as connected_components — without it every
    iteration would replay the LSH + top-k pipeline and the lineage would
    grow per round); each iteration is one uniform-key join + one keyed sum
    whose contributions are BIGINT micro-units — order-free, so the result
    is independent of partitioning and identical to the unrolled SQL."""
    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    edges = (
        knn_graph_lsh(spark, sf_dir)
        .select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .localCheckpoint(eager=False)
    )
    nodes = emb.select("vec_id")
    outdeg = edges.groupBy("src").agg(F.count("*").alias("d"))
    ew = edges.join(outdeg, "src")
    ranks = nodes.withColumn("r", F.lit(_PR_SCALE).cast("long"))
    for _ in range(_PR_ITERS):
        contrib = ew.join(
            ranks.select(F.col("vec_id").alias("src"), "r"), "src"
        ).select("dst", F.expr("(r * 85) div (100 * d)").alias("c"))
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(
            sums.withColumnRenamed("dst", "vec_id"), "vec_id", "left"
        ).select(
            "vec_id",
            (F.lit(_PR_BASE) + F.coalesce("s", F.lit(0))).cast("long").alias("r"),
        )
    return ranks.select(
        "vec_id",
        F.col("r").alias("rank_micros"),
        F.round(F.col("r").cast("double") / _PR_SCALE, 6).alias("rank"),
    )


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence pairs (word2vec-style context preparation).
# ---------------------------------------------------------------------------
_SKIP_WINDOW = 2   # positions ahead paired with each token
_SKIP_TOP_K = 20

_SKIPGRAM_SQL = f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOK} AS t FROM documents
),
prs AS (
  SELECT unnest(flatten(list_transform(range(1, len(t) + 1), i ->
           list_transform(range(i + 1, least(i + {_SKIP_WINDOW}, len(t)) + 1), j ->
             CASE WHEN t[i] <= t[j] THEN t[i] || ' ' || t[j]
                  ELSE t[j] || ' ' || t[i] END)))) AS pair
  FROM base WHERE len(t) >= 2
),
counted AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS n FROM prs GROUP BY pair
),
ranked AS (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rnk
  FROM counted
)
SELECT pair, n, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= {_SKIP_TOP_K}
"""


@register(
    "skipgram_pairs",
    oracle=_SKIPGRAM_SQL,
    doc="Skip-gram co-occurrence: unordered token pairs within a +/-2 "
    "position window (word2vec context prep), global top-20 by count — "
    "pair construction narrow, counting keyed, top-k two-phase",
    tags=("ext", "corpus"),
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: context pairs are built narrowly per row from the token
    array (position window = array indexing, no positional self-join);
    counting shuffles once on the uniform pair key; the global top-k is the
    two-phase slice — the only single-task stage merges ``partitions x k``
    candidate rows, never the full pair-count table."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    # i stops at size-1: for i = size, Spark's sequence(size+1, size)
    # DESCENDS instead of returning empty and fabricates null pairs from
    # out-of-bounds element_at — the same guard rule as _spark_ngrams.
    pair_expr = (
        f"flatten(transform(sequence(1, size(t) - 1), i ->"
        f" transform(sequence(i + 1, least(i + {_SKIP_WINDOW}, size(t))), j ->"
        f" if(element_at(t, i) <= element_at(t, j),"
        f" concat(element_at(t, i), ' ', element_at(t, j)),"
        f" concat(element_at(t, j), ' ', element_at(t, i))))))"
    )
    prs = (
        docs.select(F.expr(_SPARK_TOK).alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("pair"))
    )
    counted = prs.groupBy("pair").agg(F.count("*").alias("n"))
    cand = F.struct((-F.col("n")).alias("neg"), F.col("pair").alias("pair"))
    local = counted.groupBy(F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list(cand)), 1, _SKIP_TOP_K).alias("c")
    )
    merged = local.select(F.explode("c").alias("c")).select(
        F.col("c.pair").alias("pair"), (-F.col("c.neg")).alias("n")
    )
    from pyspark.sql import Window

    # Final merge: bounded partitions x k rows — the single-partition window
    # here numbers a constant-size set (same stance as ann_ivf_flat's
    # centroid numbering).
    w = Window.orderBy(F.desc("n"), "pair")
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _SKIP_TOP_K)
        .select("pair", "n", "rank")
    )


# ---------------------------------------------------------------------------
# Batch model inference: deterministic linear scorer over embeddings.
# ---------------------------------------------------------------------------
_SCORE_CLASSES = 4

#: Weight component i of class c is md5-derived in {-7.5 ... 7.5} — the same
#: reproducible-pseudo-random device as the LSH hyperplanes, so any engine
#: recomputes the identical model.
_HEX_DIGITS = "0123456789abcdef"


def _duck_score(cls: int) -> str:
    h = f"(instr('{_HEX_DIGITS}', substr(md5('w{cls}_' || i), 1, 1)) - 1) - 7.5"
    return (
        f"list_sum(list_transform(range(1, len(embedding) + 1),"
        f" i -> CAST(embedding[i] AS DOUBLE) * ({h})))"
    )


_LINEAR_SCORES_SQL = f"""
WITH scored AS (
  SELECT vec_id, label,
         {', '.join(f'{_duck_score(c)} AS s{c}' for c in range(_SCORE_CLASSES))}
  FROM embeddings
),
pred AS (
  SELECT vec_id, label, s0, s1, s2, s3,
         CASE greatest(s0, s1, s2, s3)
           WHEN s0 THEN 0 WHEN s1 THEN 1 WHEN s2 THEN 2 ELSE 3 END AS predicted
  FROM scored
)
SELECT CAST(label AS BIGINT) AS label, CAST(predicted AS BIGINT) AS predicted,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(greatest(s0, s1, s2, s3) * 1000) AS BIGINT)) AS BIGINT)
         AS sum_margin_milli
FROM pred GROUP BY label, predicted
"""


@register(
    "embedding_linear_scores",
    oracle=_LINEAR_SCORES_SQL,
    doc="Batch model inference: a 4-class linear scorer (md5-derived frozen "
    "weights) applied to every embedding JVM-side; confusion cells "
    "(label x argmax-class) with floor-milli margin sums — the 'score the "
    "whole corpus with a small model' stage of a curation pipeline",
    tags=("ext", "corpus", "similarity"),
)
def embedding_linear_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: scoring is a narrow codegen'd expression per row (one
    ``aggregate(zip_with(...))`` per class — no Python, no shuffle); the
    only wide stage is the bounded (label x class) confusion aggregation.
    A real model swaps the weight expression for a broadcast weight array;
    the plan shape is identical."""
    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")

    def spark_score(cls: int) -> str:
        h = f"(instr('{_HEX_DIGITS}', substr(md5(concat('w{cls}_', i)), 1, 1)) - 1) - 7.5"
        return (
            f"aggregate(zip_with(embedding, sequence(1, size(embedding)),"
            f" (x, i) -> CAST(x AS DOUBLE) * ({h})),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    scored = emb.select(
        "vec_id",
        "label",
        *[F.expr(spark_score(c)).alias(f"s{c}") for c in range(_SCORE_CLASSES)],
    )
    best = F.greatest(*[F.col(f"s{c}") for c in range(_SCORE_CLASSES)])
    pred = F.when(best == F.col("s0"), 0)
    for c in range(1, _SCORE_CLASSES - 1):
        pred = pred.when(best == F.col(f"s{c}"), c)
    pred = pred.otherwise(_SCORE_CLASSES - 1)
    return (
        scored.withColumn("predicted", pred)
        .groupBy(
            F.col("label").cast("long").alias("label"),
            F.col("predicted").cast("long").alias("predicted"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(best * 1000).cast("long")).alias("sum_margin_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (per-source top-k).
# ---------------------------------------------------------------------------
_WSAMPLE_K = 3

_WSAMPLE_SQL = f"""
WITH pri AS (
  SELECT source, doc_id, n_chars,
         CAST({duck_hash_uniform('doc_id')} AS DOUBLE) / CAST(n_chars AS DOUBLE)
           AS p
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars,
         CAST(floor(p * 1000) AS BIGINT) AS priority_milli,
         row_number() OVER (PARTITION BY source ORDER BY p, doc_id) AS rnk
  FROM pri
)
SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       priority_milli, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= {_WSAMPLE_K}
"""


@register(
    "curation_weighted_sample",
    oracle=_WSAMPLE_SQL,
    doc="Weighted sampling without replacement: priority = md5-uniform(key) "
    "/ weight (longer docs more likely to win), k=3 smallest priorities per "
    "source via the two-phase slice — reproducible under repartitioning, "
    "retries, and scale-out, unlike any rand()-based draw",
    tags=("ext", "corpus", "curation"),
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the priority is a pure narrow function of (key, weight)
    — IEEE division of the same integers is bit-identical in every engine —
    and the per-source selection is the two-phase local-slice + merge, so
    no source's full candidate set ever sits in one task. This is the
    weight-proportional analogue of ``stratified_sample``'s rate-based
    filter (both: data-keyed decisions, zero randomness)."""
    configure_session(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    pri = docs.withColumn(
        "p", hash_uniform("doc_id").cast("double") / F.col("n_chars").cast("double")
    )
    cand = F.struct(
        F.col("p").alias("p"),
        F.col("doc_id").alias("doc_id"),
        F.col("n_chars").alias("n_chars"),
    )
    local = pri.groupBy("source", F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list(cand)), 1, _WSAMPLE_K).alias("c")
    )
    merged = local.groupBy("source").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("c"))), 1, _WSAMPLE_K).alias(
            "topk"
        )
    )
    return merged.select("source", F.posexplode("topk").alias("pos", "c")).select(
        "source",
        F.col("c.doc_id").alias("doc_id"),
        F.col("c.n_chars").cast("long").alias("n_chars"),
        F.floor(F.col("c.p") * 1000).cast("long").alias("priority_milli"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Triangle census of the kNN graph — the third graph primitive (with
# connected components and PageRank): triangle density separates tight
# semantic clusters from hub-and-spoke noise in curation graphs.
# ---------------------------------------------------------------------------
_TRIANGLE_SQL = f"""
WITH knn AS ({_KNN_SQL}),
und AS (
  SELECT DISTINCT least(query_id, neighbor_id) AS a,
                  greatest(query_id, neighbor_id) AS b
  FROM knn
),
deg AS (
  SELECT v, count(*) AS d
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v
),
tri AS (
  SELECT count(*) AS t
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
w AS (SELECT sum(d * (d - 1) // 2) AS wedges FROM deg)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT wedges FROM w) AS BIGINT) AS n_wedges,
       CAST(3000000 * (SELECT t FROM tri) // (SELECT wedges FROM w) AS BIGINT)
         AS clustering_micro
"""


@register(
    "triangle_count_knn",
    oracle=_TRIANGLE_SQL,
    doc="Graph: exact triangle census of the undirected kNN graph "
    "(canonical a<b<c edge-join closure) + global clustering coefficient "
    "in integer micro-units",
    tags=("ext", "corpus", "graph"),
)
def triangle_count_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: edges are canonicalized (a<b), so each triangle is
    counted exactly once by the two-hop join a->b->c closed by (a,c) — the
    standard distributed triangle count. Joins shuffle on vertex ids; at
    real scale the classic refinement is orienting edges by degree so the
    wedge build fans out from low-degree endpoints, which this canonical
    form approximates for kNN graphs (bounded out-degree k). All outputs
    integer-exact; the coefficient is floor micro-units (engine-identical
    BIGINT division)."""
    configure_session(spark)
    edges = knn_graph_lsh(spark, sf_dir)
    und = (
        edges.select(
            F.least("query_id", "neighbor_id").alias("a"),
            F.greatest("query_id", "neighbor_id").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    nedges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    wedges = deg.agg(F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"))
    return (
        nodes.crossJoin(F.broadcast(nedges))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("t").cast("long").alias("n_triangles"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.expr("3000000 * t div n_wedges").cast("long").alias("clustering_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle with a GLOBAL training position — the "write
# the training order" step of a data pipeline. Spark has no scalable global
# row_number (an empty-over window collapses to one partition); the standard
# distributed form is prefix-bucket + per-bucket rank + broadcast cumulative
# offsets, which this implements declaratively.
# ---------------------------------------------------------------------------
_EPOCH_SEED = "epoch1"
_EPOCH_SQL = f"""
SELECT doc_id, source,
       CAST(row_number() OVER (
         ORDER BY md5('{_EPOCH_SEED}|' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS global_pos
FROM documents
"""


@register(
    "epoch_global_index",
    oracle=_EPOCH_SQL,
    doc="Curation: deterministic epoch shuffle with exact global training "
    "position — hash-keyed order, 65536 prefix buckets, per-bucket rank + "
    "broadcast cumulative offsets (no single-partition global sort)",
    tags=("ext", "corpus", "curation"),
)
def epoch_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the shuffle key is the first 4 hex chars of the order
    key, so ordering by (bucket, key) IS ordering by key; the data-plane
    work is one 65536-way hash shuffle + per-bucket ``row_number`` (bounded
    partitions, uniform md5 buckets). The ONLY unpartitioned stage is the
    cumulative-sum window over the <=65536-row bucket-count aggregate —
    control-plane sized at any corpus scale — whose offsets broadcast back.
    Epoch reshuffle = change the seed; the order is reproducible under
    repartitioning, retries, and cluster size by construction."""
    from pyspark.sql import Window

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit(f"{_EPOCH_SEED}|"), F.col("doc_id").cast("string"))).alias(
            "_k"
        ),
    ).withColumn("_bucket", F.substring("_k", 1, 4))
    offsets = (
        keyed.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_bucket", "_offset")
    )
    ranked = keyed.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_bucket").orderBy("_k", "doc_id")
        ),
    )
    return ranked.join(F.broadcast(offsets), "_bucket").select(
        "doc_id",
        "source",
        (F.col("_offset") + F.col("_rn")).cast("long").alias("global_pos"),
    )


# ---------------------------------------------------------------------------
# Pairwise corpus overlap between sources: exact Jaccard over distinct
# document-text hashes — the "how much do my crawls overlap" audit that
# decides whether two sources should be deduplicated jointly or sampled
# independently.
# ---------------------------------------------------------------------------
_OVERLAP_SQL = """
WITH h AS (
  SELECT DISTINCT source, md5(text) AS h FROM documents
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT sa.source AS source_a, sb.source AS source_b,
       sa.n AS n_a, sb.n AS n_b,
       coalesce(i.n_common, 0) AS n_common,
       round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
             / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.source < sb.source
LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source
"""


@register(
    "source_overlap_jaccard",
    oracle=_OVERLAP_SQL,
    doc="Corpus audit: exact pairwise Jaccard overlap between sources over "
    "distinct doc-text hashes (md5-keyed equi-join, zero-overlap pairs "
    "included via the broadcast source grid)",
    tags=("ext", "corpus", "dedup"),
)
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the data-plane work is one distinct on (source, md5) and
    one self-equi-join on the uniform md5 key — linear shuffle volume, no
    all-pairs anything. The per-source sizes and the source-pair grid are
    |sources|-bounded and broadcast; zero-overlap pairs surface from the
    grid's left join rather than being silently dropped by the inner join."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    h = docs.select("source", F.md5("text").alias("h")).distinct()
    h = h.localCheckpoint(eager=False)  # feeds sizes AND both join legs
    sizes = h.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = h.alias("a"), h.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    grid = sa.join(
        F.broadcast(sb), F.col("sa.source") < F.col("sb.source")
    ).select(
        F.col("sa.source").alias("source_a"),
        F.col("sb.source").alias("source_b"),
        F.col("sa.n").alias("n_a"),
        F.col("sb.n").alias("n_b"),
    )
    return (
        grid.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Adaptive per-source quality gate: the filter threshold is LEARNED from the
# distribution (p10 of doc length per source) instead of hard-coded — the
# two-pass "profile, broadcast, filter" shape every corpus-specific quality
# gate at scale uses.
# ---------------------------------------------------------------------------
_ADAPTIVE_Q = 0.10
_ADAPTIVE_SQL = f"""
WITH thr AS (
  SELECT source, quantile_cont(n_chars, {_ADAPTIVE_Q}) AS thr
  FROM documents GROUP BY source
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.n_chars >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN d.n_chars < t.thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       round(max(t.thr), 6) AS thr_chars
FROM documents d JOIN thr t ON d.source = t.source
GROUP BY d.source
"""


@register(
    "adaptive_quality_filter",
    oracle=_ADAPTIVE_SQL,
    doc=f"Corpus hygiene: adaptive per-source length gate — the p{int(_ADAPTIVE_Q * 100)} "
    "threshold is learned per source, broadcast, and applied in a second "
    "narrow pass (profile -> broadcast -> filter)",
    tags=("ext", "corpus", "quality"),
)
def adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pass 1 is a keyed percentile over (source) — exact here
    so the DuckDB twin (quantile_cont, same linear interpolation) hash-
    matches; the 100 TB deployment swaps in approx_percentile, which is
    mergeable and map-side partial. The |sources|-row threshold table
    broadcasts; pass 2 is a narrow scan + broadcast join + counting
    aggregation. No data-sized shuffle carries document text anywhere."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    thr = docs.groupBy("source").agg(
        F.expr(f"percentile(n_chars, {_ADAPTIVE_Q})").alias("thr")
    )
    return (
        docs.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_chars") >= F.col("thr")).cast("int"))
            .cast("long")
            .alias("n_kept"),
            F.sum((F.col("n_chars") < F.col("thr")).cast("int"))
            .cast("long")
            .alias("n_dropped"),
            F.round(F.max("thr"), 6).alias("thr_chars"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "n_kept",
            "n_dropped",
            "thr_chars",
        )
    )


# ---------------------------------------------------------------------------
# Unigram surprisal scoring — the CCNet-style "language-model quality" gate,
# made integer-exact: cross-engine ln() differs in the last ulp (measured),
# so the per-token surprisal is floor(log2(N / c)) bits computed as
# length(bin(N div c)) - 1 — pure integer arithmetic, bit-identical
# everywhere, and monotone in the true -log p.
# ---------------------------------------------------------------------------
_SURPRISAL_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOK}) AS t FROM documents
),
vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
scored AS (
  SELECT tok.doc_id,
         CAST(length(bin(n.total // vocab.c)) - 1 AS BIGINT) AS bits
  FROM tok JOIN vocab ON tok.t = vocab.t CROSS JOIN n
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(bits) AS BIGINT) AS sum_bits,
       CAST(1000000 * sum(bits) // count(*) AS BIGINT) AS score_micro_bits
FROM scored GROUP BY doc_id
"""


@register(
    "doc_surprisal_score",
    oracle=_SURPRISAL_SQL,
    doc="Corpus quality: integer-exact unigram surprisal score — per-token "
    "floor(log2(N/c)) bits against the corpus-wide unigram table, averaged "
    "per doc in micro-units (the LM-perplexity gate without cross-engine "
    "float log)",
    tags=("ext", "corpus", "quality"),
)
def doc_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pass 1 builds the unigram table (one token-keyed
    aggregation, map-side partial); pass 2 re-scans tokens and joins the
    table BROADCAST — the vocabulary is orders of magnitude smaller than
    the corpus (Heaps' law), and broadcasting it keeps the scoring pass
    narrow: no token-keyed shuffle, so the 'the'-sized hot keys never
    concentrate on one reducer. (A vocabulary too big to broadcast would
    fall back to an AQE skew join.) The total-count scalar rides the same
    broadcast. Per-doc aggregation shuffles on doc_id — uniform."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_SPARK_TOK)).alias("t"))
    tok = tok.localCheckpoint(eager=False)  # feeds vocab AND the scoring pass
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    scored = (
        tok.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.length(F.expr("bin(total div c)")) - 1).cast("long").alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").cast("long").alias("sum_bits"),
        F.expr("1000000 * sum(bits) div count(1)").cast("long").alias("score_micro_bits"),
    )


# ---------------------------------------------------------------------------
# Distribution drift per source: EXACT total-variation distance between each
# source's unigram distribution and the rest of the corpus — the "did this
# crawl shift?" audit. TVD instead of KL because it needs no logarithm:
# cross-engine ln() differs in the last ulp (doc_surprisal_score note), while
# TVD is one |integer cross-product| sum in DECIMAL(38) and a single
# correctly-rounded double division at the end.
# ---------------------------------------------------------------------------
_DRIFT_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_TOK}) AS t FROM documents
),
cst AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, t
),
vocab AS (
  SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM cst GROUP BY t
),
srcs AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS ns,
         CAST(count(*) AS BIGINT) AS vocab_src
  FROM cst GROUP BY source
),
tot AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM srcs),
grid AS (
  SELECT s.source, v.t, v.ct, s.ns, s.vocab_src, (tot.n - s.ns) AS nr,
         coalesce(c.c, 0) AS c
  FROM vocab v
  CROSS JOIN srcs s
  CROSS JOIN tot
  LEFT JOIN cst c ON c.source = s.source AND c.t = v.t
)
SELECT source, ns AS n_tokens_src, vocab_src,
       round(CAST(sum(CAST(abs(c * nr - (ct - c) * ns) AS DECIMAL(38, 0))) AS DOUBLE)
             / (2.0 * CAST(ns AS DOUBLE) * CAST(nr AS DOUBLE)), 6) AS tvd
FROM grid
GROUP BY source, ns, nr, vocab_src
"""


@register(
    "source_token_drift",
    oracle=_DRIFT_SQL,
    doc="Corpus audit: exact total-variation distance between each source's "
    "unigram distribution and the rest of the corpus — integer cross-"
    "products summed in DECIMAL(38), one correctly-rounded double division "
    "at the end (no cross-engine float log)",
    tags=("ext", "corpus", "quality"),
)
def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (source, token) keyed count, a token-keyed vocab
    rollup, and a |vocab| x |sources| grid built by cross-joining the
    BROADCAST |sources|-row totals onto the vocabulary — linear in vocab,
    never in corpus. Zero-count cells are materialized by the grid (a
    source missing a token still contributes |0 - c_rest * N_s|), which a
    naive join-only formulation silently drops. DECIMAL(38) sums make the
    reduction order-free."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.expr(_SPARK_TOK)).alias("t"))
    cst = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    cst = cst.localCheckpoint(eager=False)  # feeds vocab, srcs, and the grid
    vocab = cst.groupBy("t").agg(F.sum("c").cast("long").alias("ct"))
    srcs = cst.groupBy("source").agg(
        F.sum("c").cast("long").alias("ns"),
        F.count(F.lit(1)).cast("long").alias("vocab_src"),
    )
    tot = srcs.agg(F.sum("ns").cast("long").alias("n"))
    srcs_n = srcs.crossJoin(F.broadcast(tot)).select(
        "source", "ns", "vocab_src", (F.col("n") - F.col("ns")).alias("nr")
    )
    grid = (
        vocab.crossJoin(F.broadcast(srcs_n))
        .join(cst, ["source", "t"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    term = F.abs(
        F.col("c") * F.col("nr") - (F.col("ct") - F.col("c")) * F.col("ns")
    ).cast("decimal(38,0)")
    return (
        grid.groupBy("source", "ns", "nr", "vocab_src")
        .agg(F.sum(term).alias("s"))
        .select(
            "source",
            F.col("ns").alias("n_tokens_src"),
            "vocab_src",
            F.round(
                F.col("s").cast("double")
                / (F.lit(2.0) * F.col("ns").cast("double") * F.col("nr").cast("double")),
                6,
            ).alias("tvd"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive pair mining: positives + hard negatives per anchor.
# ---------------------------------------------------------------------------
_CPM_K = 3

_CPM_SQL = f"""
WITH buckets AS (
  SELECT vec_id, label, embedding, {duck_bucket('embedding')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CASE WHEN a.label = b.label THEN 'pos' ELSE 'neg' END AS pair_type,
         {duck_cosine('a.embedding', 'b.embedding')} AS cos_raw
  FROM buckets a
  JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, pair_type, cos_raw,
         row_number() OVER (PARTITION BY query_id, pair_type
                            ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, pair_type,
       round(cos_raw, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_CPM_K}
"""


@register(
    "contrastive_pairs_mining",
    oracle=_CPM_SQL,
    doc="Contrastive training-pair mining: per anchor vector, the top-3 "
    "same-label positives and top-3 different-label HARD negatives among "
    "its LSH-bucket mates — the highest-cosine wrong-label neighbors that "
    "make metric-learning batches informative",
    tags=("ext", "corpus", "similarity"),
)
def contrastive_pairs_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical candidate generation to ``knn_graph_lsh``
    (bucket-mate self-join on the uniform sign-pattern key, squared norms
    hoisted, scored pairs pinned once for both consumers); the per-anchor
    selection runs the shared two-phase top-k once per pair class, so wide
    stages move O(partitions * k) rows per anchor, never the candidate set.
    Hard negatives fall out of the same pass as positives — no second
    scoring job."""
    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    bucketed = with_sq_norm(with_lsh_bucket(emb), "embedding", "n2").localCheckpoint(
        eager=False
    )
    a = bucketed.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("label_q"),
        "bucket",
        F.col("embedding").alias("emb_q"),
        F.col("n2").alias("nq2"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("label_n"),
        "bucket",
        F.col("embedding").alias("emb_n"),
        F.col("n2").alias("nn2"),
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(F.col("label_q") == F.col("label_n"), "pos")
            .otherwise("neg")
            .alias("pair_type"),
            cosine_precomp("emb_q", "emb_n", "nq2", "nn2").alias("cos_raw"),
        )
        .localCheckpoint(eager=False)  # feeds both pair-class top-k passes
    )
    out = None
    for ptype in ("pos", "neg"):
        part = topk_per_query(
            scored.filter(F.col("pair_type") == ptype).select(
                "query_id", "neighbor_id", "cos_raw"
            ),
            _CPM_K,
        ).withColumn("pair_type", F.lit(ptype))
        out = part if out is None else out.unionByName(part)
    return out.select("query_id", "neighbor_id", "pair_type", "cosine", "rank")


# ---------------------------------------------------------------------------
# Grouped OLS: per-source linear fit from exact integer moment sums.
# ---------------------------------------------------------------------------
# Exact-arithmetic precondition: every BIGINT intermediate is bounded by
# n^2 * max(|x|,|y|)^2, so with x,y <= 1000 the fit is overflow-safe to
# n <= ~2e6 rows per group; both engines fail LOUDLY and identically past
# the bound (Spark would otherwise wrap where DuckDB raises).
_FIT_XY_MAX = 1_000
_FIT_N_MAX = 2_000_000

_FIT_SQL = f"""
WITH xy AS (
  SELECT source,
         CASE WHEN n_chars > {_FIT_XY_MAX} OR len({_DUCK_TOK}) > {_FIT_XY_MAX}
              THEN CAST(error('grouped_linear_fit: x/y exceeds exact-arithmetic bound') AS BIGINT)
              ELSE CAST(n_chars AS BIGINT) END AS x,
         CAST(len({_DUCK_TOK}) AS BIGINT) AS y
  FROM documents
),
m AS (
  SELECT source,
         CASE WHEN count(*) > {_FIT_N_MAX}
              THEN CAST(error('grouped_linear_fit: group size exceeds exact-arithmetic bound') AS BIGINT)
              ELSE CAST(count(*) AS BIGINT) END AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM xy GROUP BY source
)
SELECT source, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE round((CAST(sy AS DOUBLE) * CAST(n * sxx - sx * sx AS DOUBLE)
                        - CAST(n * sxy - sx * sy AS DOUBLE) * CAST(sx AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n * sxx - sx * sx AS DOUBLE)), 6)
       END AS intercept,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
            ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
                        * CAST(n * sxy - sx * sy AS DOUBLE))
                       / (CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS r2
FROM m
"""


@register(
    "grouped_linear_fit",
    oracle=_FIT_SQL,
    doc="Per-source OLS of token count on character count from exact BIGINT "
    "moment sums (n, sx, sy, sxx, sxy, syy): slope/intercept/r^2 each a "
    "single correctly-rounded division of exact integers — the grouped-"
    "regression primitive of feature-drift and length-model audits",
    tags=("ext", "corpus"),
)
def grouped_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the fit is pure partial-aggregatable moment sums — one
    narrow pass computes (x, y) per row, one keyed aggregation produces six
    BIGINTs per group, and the closed-form normal-equation solve happens on
    those six numbers. No iteration, no float accumulation (engine-ordered
    float sums can't drift because there are none: every sum is exact, and
    each output is ONE IEEE division of exactly-representable integers).
    Group-size/value preconditions are guarded with identical lazy error
    branches in both engines."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    x_raw = F.col("n_chars").cast("long")
    y_raw = F.expr(f"CAST(size({_SPARK_TOK}) AS BIGINT)")
    xy = docs.select(
        "source",
        F.when(
            (x_raw > _FIT_XY_MAX) | (y_raw > _FIT_XY_MAX),
            F.raise_error(
                F.lit("grouped_linear_fit: x/y exceeds exact-arithmetic bound")
            ).cast("long"),
        )
        .otherwise(x_raw)
        .alias("x"),
        y_raw.alias("y"),
    )
    n_raw = F.count("*").cast("long")
    m = xy.groupBy("source").agg(
        F.when(
            n_raw > _FIT_N_MAX,
            F.raise_error(
                F.lit("grouped_linear_fit: group size exceeds exact-arithmetic bound")
            ).cast("long"),
        )
        .otherwise(n_raw)
        .alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "source",
        "n",
        F.when(
            den_x == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(num.cast("double") / den_x.cast("double"), 6)
        ).alias("slope"),
        F.when(
            den_x == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(
                (
                    F.col("sy").cast("double") * den_x.cast("double")
                    - num.cast("double") * F.col("sx").cast("double")
                )
                / (F.col("n").cast("double") * den_x.cast("double")),
                6,
            )
        ).alias("intercept"),
        F.when(
            (den_x == 0) | (den_y == 0), F.lit(None).cast("double")
        ).otherwise(
            F.round(
                (num.cast("double") * num.cast("double"))
                / (den_x.cast("double") * den_y.cast("double")),
                6,
            )
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Bigram conditional surprisal — the context-aware LM-quality gate.
# ---------------------------------------------------------------------------
_BIGRAM_SQL = f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOK} AS t FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
           THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
           ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM base
),
uni AS (
  SELECT t1, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT split_part(g, ' ', 1) AS t1 FROM bg) GROUP BY t1
),
v AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS vsz FROM bg),
bic AS (
  SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY g
),
scored AS (
  SELECT bg.doc_id,
         CAST(length(bin((uni.c1 + v.vsz) // (bic.c2 + 1))) - 1 AS BIGINT)
           AS bits
  FROM bg
  JOIN bic ON bg.g = bic.g
  JOIN uni ON split_part(bg.g, ' ', 1) = uni.t1
  CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(bits) AS BIGINT) AS sum_bits,
       CAST(1000000 * sum(bits) // count(*) AS BIGINT) AS score_micro_bits
FROM scored GROUP BY doc_id
"""


@register(
    "doc_bigram_surprisal",
    oracle=_BIGRAM_SQL,
    doc="Context-aware LM quality: per-bigram add-one-smoothed conditional "
    "surprisal floor(log2((c1+V)/(c12+1))) bits against corpus-wide bigram/"
    "prefix tables — integer-exact like the unigram gate, but sensitive to "
    "word-order scrambling the unigram score cannot see",
    tags=("ext", "corpus", "quality", "bench"),
)
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow bigram construction pass feeds three keyed
    aggregations (bigram counts, prefix counts, distinct-bigram V — all
    uniform string keys with map-side partials); scoring re-joins the
    bigram table on its uniform key (at corpus scale the bigram table can
    outgrow a broadcast, so this leg is a shuffle join by design — the
    prefix table broadcasts). The smoothing keeps every ratio a positive
    integer division, so the floor-log2 bits are exact in both engines."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    # Tokenize ONCE into a projected array column before the bigram lambda:
    # inlining the regexp_extract_all into size()/element_at() re-runs the
    # regex per reference (measured 1.5x slower on this explode at sf0.1 —
    # codegen does not CSE across the lambda boundary).
    bg = docs.select("doc_id", F.expr(_SPARK_TOK).alias("t")).select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(t) >= 2,"
                " transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i),"
                " element_at(t, i + 1))),"
                " cast(array() as array<string>))"
            )
        ).alias("g"),
    ).localCheckpoint(eager=False)  # feeds the count pass AND the scoring pass
    # One counting pass over the token stream; the unigram-prefix counts and
    # the vocabulary size both fold from the (small) bigram TYPE table —
    # c1(t1) = sum of c2 over types starting with t1, V = |types| — so the
    # big exploded table is scanned exactly twice (counts + scoring), not
    # four times.
    bic = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    bic = bic.localCheckpoint(eager=False)  # type table feeds uni, V, scoring
    uni = (
        bic.select(F.expr("split_part(g, ' ', 1)").alias("t1"), "c2")
        .groupBy("t1")
        .agg(F.sum("c2").alias("c1"))
    )
    v = bic.agg(F.count(F.lit(1)).alias("vsz"))
    scored = (
        bg.join(bic, "g")
        .withColumn("t1", F.expr("split_part(g, ' ', 1)"))
        .join(F.broadcast(uni), "t1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            (F.length(F.expr("bin((c1 + vsz) div (c2 + 1))")) - 1)
            .cast("long")
            .alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("sum_bits"),
        F.expr("1000000 * sum(bits) div count(1)")
        .cast("long")
        .alias("score_micro_bits"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing: the redaction pass every public-web training corpus runs
# before anything else touches the text. The test corpus carries no PII, so
# the query plants it deterministically (email / phone / IPv4 keyed on
# doc_id — the same device as utf8_strict_parity's malformed-byte injection)
# and then detects, counts, and redacts with engine-portable regexes (shared
# Java-regex / RE2 subset: classes + counted repetition, no lookaround).
# The in-query audit column re-scans the REDACTED text and must be all-zero,
# so "the scrub actually removed what it found" is part of the hash.
# ---------------------------------------------------------------------------
_PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
_PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

_PII_SQL = f"""
WITH planted AS (
  SELECT doc_id, source,
         text || CASE CAST(doc_id % 7 AS BIGINT)
           WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           WHEN 1 THEN ' call 555-01' || lpad(CAST(doc_id % 10 AS VARCHAR), 1, '0')
                       || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                       || CAST(doc_id % 100 AS VARCHAR) || ' down'
           ELSE '' END AS text
  FROM documents
),
scanned AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS n_phone,
         len(regexp_extract_all(text, '{_PII_IP_RE}')) AS n_ip,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PII_PHONE_RE}', '<PHONE>', 'g'),
           '{_PII_IP_RE}', '<IP>', 'g') AS redacted
  FROM planted
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS n_emails,
       CAST(sum(n_phone) AS BIGINT) AS n_phones,
       CAST(sum(n_ip) AS BIGINT) AS n_ips,
       CAST(sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(sum(len(regexp_extract_all(redacted, '{_PII_EMAIL_RE}'))
              + len(regexp_extract_all(redacted, '{_PII_PHONE_RE}'))
              + len(regexp_extract_all(redacted, '{_PII_IP_RE}'))) AS BIGINT)
         AS residual_matches,
       CAST(sum({duck_hash_uniform("redacted")}) AS BIGINT) AS redacted_checksum
FROM scanned GROUP BY source
"""


@register(
    "pii_redaction_stats",
    oracle=_PII_SQL,
    doc="Corpus hygiene: PII detection + redaction (email / phone / IPv4 "
    "regexes in the shared Java/RE2 subset) over deterministically planted "
    "PII, with an in-query audit that re-scans the redacted text — "
    "residual_matches must be 0 and is part of the value hash",
    tags=("ext", "corpus", "quality"),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the whole scrub is ONE narrow codegen'd pass — plant,
    three regexp_extract_all counts, three chained regexp_replace, the
    audit re-scan, and the md5 checksum are all per-row expressions; the
    only shuffle is the final |sources|-key counting aggregation (map-side
    partial). At 100 TB this is the ideal operator shape: embarrassingly
    parallel, zero data-plane shuffle, scan-bound."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    plant = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.concat(
                F.lit(" call 555-01"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 100).cast("string"),
                F.lit(" down"),
            ),
        )
        .otherwise(F.lit(""))
    )
    planted = docs.select(
        "doc_id", "source", F.concat(F.col("text"), plant).alias("text")
    )

    def n_matches(col: str, re: str) -> F.Column:
        return F.size(F.expr(f"regexp_extract_all({col}, '{re}', 0)"))

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE,
            "<PHONE>",
        ),
        _PII_IP_RE,
        "<IP>",
    )
    scanned = planted.select(
        "source",
        n_matches("text", _PII_EMAIL_RE).alias("n_email"),
        n_matches("text", _PII_PHONE_RE).alias("n_phone"),
        n_matches("text", _PII_IP_RE).alias("n_ip"),
        redacted.alias("redacted"),
    )
    residual = (
        n_matches("redacted", _PII_EMAIL_RE)
        + n_matches("redacted", _PII_PHONE_RE)
        + n_matches("redacted", _PII_IP_RE)
    )
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_email").cast("long").alias("n_emails"),
        F.sum("n_phone").cast("long").alias("n_phones"),
        F.sum("n_ip").cast("long").alias("n_ips"),
        F.sum(((F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0).cast("int"))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum(residual).cast("long").alias("residual_matches"),
        F.sum(hash_uniform("redacted")).cast("long").alias("redacted_checksum"),
    )


# ---------------------------------------------------------------------------
# Multi-source BFS over the kNN graph: how much of the corpus is within h
# hops of a seed set — the reachability/expansion probe (label spreading,
# influence radius) completing the graph family next to components,
# PageRank, and triangles. Fixed-depth frontier expansion: each round is
# one edge join + one anti-join against the visited set.
# ---------------------------------------------------------------------------
_BFS_ROUNDS = 3
_BFS_SEED_MOD = 50  # vec_id % 50 == 0 => seed


def _duck_bfs_round(r: int) -> str:
    return f"""
frontier_{r} AS (
  SELECT DISTINCT adj.b AS v
  FROM adj JOIN frontier_{r - 1} f ON adj.a = f.v
  WHERE adj.b NOT IN (SELECT v FROM reached_{r - 1})
),
reached_{r} AS (
  SELECT v FROM reached_{r - 1} UNION ALL SELECT v FROM frontier_{r}
)"""


_BFS_SQL = (
    f"""
WITH knn AS ({_KNN_SQL}),
adj AS (
  SELECT query_id AS a, neighbor_id AS b FROM knn
  UNION
  SELECT neighbor_id AS a, query_id AS b FROM knn
),
frontier_0 AS (
  SELECT DISTINCT a AS v FROM adj WHERE a % {_BFS_SEED_MOD} = 0
),
reached_0 AS (SELECT v FROM frontier_0),"""
    + ",".join(_duck_bfs_round(r) for r in range(1, _BFS_ROUNDS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS hop,"
        f" CAST((SELECT count(*) FROM frontier_{r}) AS BIGINT) AS n_frontier,"
        f" CAST((SELECT count(*) FROM reached_{r}) AS BIGINT) AS n_reached"
        for r in range(0, _BFS_ROUNDS + 1)
    )
)


@register(
    "knn_graph_bfs_reach",
    oracle=_BFS_SQL,
    doc=f"Graph traversal: multi-source BFS from the vec_id%{_BFS_SEED_MOD}"
    f"==0 seed set over the undirected kNN graph, {_BFS_ROUNDS} hops — "
    "per-hop frontier and cumulative reach counts",
    tags=("ext", "corpus", "graph"),
)
def knn_graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each hop is one shuffle join of the edge list against
    the (much smaller) frontier plus one anti-join against the visited set
    — the textbook distributed BFS; depth is a fixed constant so the DAG
    is bounded, and frontier/visited sets are localCheckpoint-pinned per
    round to keep lineage flat (the dedup_clusters discipline). Vertex ids
    are uniform keys; nothing ever collects the graph to one task."""
    configure_session(spark)
    edges = knn_graph_lsh(spark, sf_dir)
    adj = (
        edges.select(F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"))
        .unionAll(
            edges.select(F.col("neighbor_id").alias("a"), F.col("query_id").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = (
        adj.select(F.col("a").alias("v"))
        .filter(F.col("v") % _BFS_SEED_MOD == 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    reached = frontier

    def counts(hop: int, fr: DataFrame, re: DataFrame) -> DataFrame:
        nf = fr.agg(F.count(F.lit(1)).cast("long").alias("n_frontier"))
        nr = re.agg(F.count(F.lit(1)).cast("long").alias("n_reached"))
        return (
            nf.crossJoin(F.broadcast(nr))
            .select(
                F.lit(hop).cast("long").alias("hop"), "n_frontier", "n_reached"
            )
        )

    out = [counts(0, frontier, reached)]
    for r in range(1, _BFS_ROUNDS + 1):
        nxt = (
            adj.join(frontier.withColumnRenamed("v", "a"), "a")
            .select(F.col("b").alias("v"))
            .distinct()
            .join(reached, "v", "left_anti")
            .localCheckpoint(eager=False)
        )
        reached = reached.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt
        out.append(counts(r, frontier, reached))
    res = out[0]
    for part in out[1:]:
        res = res.unionByName(part)
    return res


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion: combine a lexical ranker (token-set overlap) and a
# vector ranker (cosine) without score calibration — RRF only consumes
# RANKS, which is why it is the default fusion in hybrid retrieval stacks.
# Contributions are exact integers (1e6 div (60 + rank)); candidates missing
# from one ranker contribute 0 from it. Both per-ranker top-20s come from
# the two-phase top-k, so no per-query window ever sees the full corpus.
# ---------------------------------------------------------------------------
_RRF_QUERIES = 5
_RRF_K = 20
_RRF_OUT_K = 10
_RRF_C = 60

_RRF_RANKERS_CTE = f"""qdocs AS (
  SELECT doc_id AS query_id, list_distinct({_DUCK_TOK}) AS qtok
  FROM documents WHERE doc_id < {_RRF_QUERIES}
),
corpus AS (
  SELECT doc_id, list_distinct({_DUCK_TOK}) AS tok FROM documents
),
lex AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.query_id, c.doc_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY len(list_intersect(q.qtok, c.tok)) DESC, c.doc_id
           ) AS rank
    FROM qdocs q JOIN corpus c ON c.doc_id <> q.query_id
  ) WHERE rank <= {_RRF_K}
),
vec AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {duck_cosine('q.embedding', 'v.embedding')} DESC, v.vec_id
           ) AS rank
    FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {_RRF_QUERIES}
  ) WHERE rank <= {_RRF_K}
)"""

_RRF_SQL = f"""
WITH {_RRF_RANKERS_CTE},
fused AS (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         COALESCE(l.neighbor_id, v.neighbor_id) AS neighbor_id,
         l.rank AS lex_rank, v.rank AS vec_rank,
         CAST(COALESCE(1000000 // ({_RRF_C} + l.rank), 0)
              + COALESCE(1000000 // ({_RRF_C} + v.rank), 0) AS BIGINT)
           AS rrf_micro
  FROM lex l FULL OUTER JOIN vec v
    ON v.query_id = l.query_id AND v.neighbor_id = l.neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(vec_rank AS BIGINT) AS vec_rank,
       rrf_micro,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id
       ) AS BIGINT) AS fused_rank
FROM fused
QUALIFY fused_rank <= {_RRF_OUT_K}
"""


def _rrf_rankers(spark: SparkSession, sf_dir: str):
    """The two top-k rankers rrf_fusion_search and ranker_agreement_tau
    share: lexical token-overlap and exact cosine, each a broadcast-query
    two-phase top-k. (lex_rank / vec_rank columns.)"""
    docs = parallel_scan(spark, sf_dir, "documents")
    emb = parallel_scan(spark, sf_dir, "embeddings")
    corpus = docs.select(
        "doc_id", F.expr(f"array_distinct({_SPARK_TOK})").alias("tok")
    )
    qdocs = corpus.filter(F.col("doc_id") < _RRF_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("tok").alias("qtok")
    )
    lex_scored = (
        corpus.crossJoin(F.broadcast(qdocs))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.size(F.array_intersect("qtok", "tok")).cast("double").alias("cos_raw"),
        )
    )
    lex = topk_per_query(lex_scored, k=_RRF_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("lex_rank")
    )
    from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (
        brute_force_topk,
    )

    vec = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _RRF_QUERIES), k=_RRF_K
    ).select("query_id", "neighbor_id", F.col("rank").alias("vec_rank"))
    return lex, vec


@register(
    "rrf_fusion_search",
    oracle=_RRF_SQL,
    doc=f"Hybrid retrieval: reciprocal-rank fusion of a lexical token-"
    f"overlap top-{_RRF_K} and a cosine top-{_RRF_K} — integer 1e6 div "
    f"({_RRF_C}+rank) contributions, top-{_RRF_OUT_K} fused per query",
    tags=("ext", "corpus", "similarity"),
)
def rrf_fusion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both rankers broadcast the (constant-size) query set
    and score candidates narrowly; both top-20s are the two-phase
    local/merge slice. The fusion join and the final per-query window
    operate on <= 2k rows per query (the two top-k lists), which is the
    point of fuse-by-rank: the expensive full-corpus stages never meet.
    """
    configure_session(spark)
    from pyspark.sql import Window

    lex, vec = _rrf_rankers(spark, sf_dir)
    fused = (
        lex.withColumnRenamed("query_id", "lq")
        .withColumnRenamed("neighbor_id", "ln")
        .join(
            vec.withColumnRenamed("query_id", "vq").withColumnRenamed(
                "neighbor_id", "vn"
            ),
            (F.col("lq") == F.col("vq")) & (F.col("ln") == F.col("vn")),
            "full_outer",
        )
        .select(
            F.coalesce("lq", "vq").alias("query_id"),
            F.coalesce("ln", "vn").alias("neighbor_id"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            (
                F.coalesce(F.expr(f"1000000 div ({_RRF_C} + lex_rank)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000 div ({_RRF_C} + vec_rank)"), F.lit(0))
            )
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_micro"), "neighbor_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= _RRF_OUT_K)
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: the training-order counterpart of epoch_global_index
# — easy-first phase stratification (global length quartiles as the
# difficulty proxy) with a reproducible md5 shuffle INSIDE each phase and
# one contiguous global position across phases. Same scale trick as the
# epoch shuffle: ordering by (phase, bucket, key) IS the curriculum order,
# so the only unpartitioned stage is the cumulative-sum window over the
# <= 4 x 65536-row (phase, bucket) count table — control-plane sized at
# any corpus scale.
# ---------------------------------------------------------------------------
_CURR_SEED = "curriculum-e0"

_CURRICULUM_SQL = f"""
WITH thr AS (
  SELECT quantile_cont(n_chars, 0.25) AS t1,
         quantile_cont(n_chars, 0.50) AS t2,
         quantile_cont(n_chars, 0.75) AS t3
  FROM documents
),
keyed AS (
  SELECT d.doc_id, d.n_chars,
         CASE WHEN d.n_chars < t.t1 THEN 0
              WHEN d.n_chars < t.t2 THEN 1
              WHEN d.n_chars < t.t3 THEN 2
              ELSE 3 END AS phase,
         md5('{_CURR_SEED}|' || CAST(d.doc_id AS VARCHAR)) AS k
  FROM documents d, thr t
),
b AS (SELECT *, substr(k, 1, 4) AS bucket FROM keyed),
offs AS (
  SELECT phase, bucket, count(*) AS n FROM b GROUP BY phase, bucket
),
offs2 AS (
  SELECT phase, bucket,
         COALESCE(sum(n) OVER (ORDER BY phase, bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS off
  FROM offs
),
r AS (
  SELECT doc_id, n_chars, phase, bucket,
         row_number() OVER (PARTITION BY phase, bucket ORDER BY k, doc_id)
           AS rn
  FROM b
)
SELECT r.doc_id, CAST(r.phase AS BIGINT) AS phase, r.n_chars,
       CAST(o.off + r.rn AS BIGINT) AS global_pos
FROM r JOIN offs2 o ON r.phase = o.phase AND r.bucket = o.bucket
"""


@register(
    "curriculum_order",
    oracle=_CURRICULUM_SQL,
    doc="EXT curation: curriculum training order — easy-first phases from "
    "global length quartiles, reproducible md5 shuffle inside each phase, "
    "one contiguous global position (epoch_global_index's bucket-offset "
    "trick stratified by phase); new epoch or new curriculum = new seed",
    tags=("ext", "corpus", "curation"),
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: quartile thresholds are one exact-percentile aggregate
    broadcast back (the 100 TB deployment swaps in mergeable
    approx_percentile, same as adaptive_quality_filter); the shuffle key's
    first 4 hex chars are the hash-shuffle bucket, so per-(phase, bucket)
    ``row_number`` runs on bounded uniform partitions and only the
    (phase, bucket) COUNT table — control-plane sized — sees an
    unpartitioned cumulative window before its offsets broadcast back."""
    from pyspark.sql import Window

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    thr = docs.agg(
        F.expr("percentile(n_chars, 0.25)").alias("t1"),
        F.expr("percentile(n_chars, 0.50)").alias("t2"),
        F.expr("percentile(n_chars, 0.75)").alias("t3"),
    )
    keyed = (
        docs.select("doc_id", "n_chars")
        .crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "n_chars",
            F.when(F.col("n_chars") < F.col("t1"), 0)
            .when(F.col("n_chars") < F.col("t2"), 1)
            .when(F.col("n_chars") < F.col("t3"), 2)
            .otherwise(3)
            .alias("phase"),
            F.md5(
                F.concat(F.lit(f"{_CURR_SEED}|"), F.col("doc_id").cast("string"))
            ).alias("_k"),
        )
        .withColumn("_bucket", F.substring("_k", 1, 4))
    )
    keyed = keyed.localCheckpoint(eager=False)  # feeds offsets AND ranks
    offsets = (
        keyed.groupBy("phase", "_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("phase", "_bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("phase", "_bucket", "_offset")
    )
    ranked = keyed.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("phase", "_bucket").orderBy("_k", "doc_id")
        ),
    )
    return ranked.join(F.broadcast(offsets), ["phase", "_bucket"]).select(
        "doc_id",
        F.col("phase").cast("long").alias("phase"),
        "n_chars",
        (F.col("_offset") + F.col("_rn")).cast("long").alias("global_pos"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM: the production n-gram smoother (and the
# quality-filter scorer add-one cannot match) — mass is discounted from seen
# bigrams and redistributed by CONTINUATION counts (how many distinct
# contexts a word completes), not raw frequency, so "francisco" (frequent
# but only after "san") stops stealing probability from genuinely versatile
# words. With discount D = 3/4 the interpolated estimate is
#   P(w2|w1) = (c12 - D)/c1 + D*N1+(w1,.)/c1 * N1+(.,w2)/T
# which over the common denominator 4*c1*T is the SINGLE exact division
#   ((4*c12 - 3)*T + 3*N1r*N1l) / (4*c1*T)
# — integer numerator and denominator (DECIMAL(38)/HUGEINT products so
# nothing wraps), one double divide, one round: bit-identical cross-engine.
# ---------------------------------------------------------------------------
_KN_MIN_C12 = 5  # report bigrams seen at least this often (bounded output)

_KN_SQL = f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOK} AS t FROM documents
),
bg AS (
  SELECT unnest(CASE WHEN len(t) >= 2
           THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
           ELSE CAST([] AS VARCHAR[]) END) AS g
  FROM base
),
bic AS (
  SELECT split_part(g, ' ', 1) AS t1, split_part(g, ' ', 2) AS t2,
         CAST(count(*) AS BIGINT) AS c12
  FROM bg GROUP BY g
),
pre AS (
  SELECT t1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1r
  FROM bic GROUP BY t1
),
suf AS (
  SELECT t2, CAST(count(*) AS BIGINT) AS n1l FROM bic GROUP BY t2
),
tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bic)
SELECT b.t1, b.t2, b.c12, p.c1, p.n1r, s.n1l,
       round(CAST((4 * CAST(b.c12 AS HUGEINT) - 3) * tt.t_types
                  + 3 * CAST(p.n1r AS HUGEINT) * s.n1l AS DOUBLE)
             / CAST(4 * CAST(p.c1 AS HUGEINT) * tt.t_types AS DOUBLE),
             6) AS p_kn
FROM bic b
JOIN pre p ON p.t1 = b.t1
JOIN suf s ON s.t2 = b.t2
CROSS JOIN tt
WHERE b.c12 >= {_KN_MIN_C12}
"""


@register(
    "kneser_ney_bigram",
    oracle=_KN_SQL,
    doc="Kneser-Ney interpolated bigram LM (D=3/4): discounted mass "
    "redistributed by CONTINUATION counts over the exact common denominator "
    "4*c1*T — integer numerator/denominator, one double divide, one round, "
    "bit-identical cross-engine; bigrams seen >= 5 times reported with "
    "their prefix/suffix continuation statistics",
    tags=("ext", "corpus", "tokenizer"),
)
def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: bigram construction is one narrow explode; every count
    table (bigram types, prefix totals+fanout, suffix fanout) derives from
    the TYPE relation ``bic`` — Heaps-bounded, far smaller than the corpus
    — so the joins are keyed on uniform word types and the threshold filter
    lands before the join. The token stream itself is touched exactly once;
    at 100 TB the LM fits in the type tables, never in the stream."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    bg = docs.select(F.expr(_SPARK_TOK).alias("t")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                " ELSE array() END"
            )
        ).alias("g")
    )
    bic = (
        bg.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .select(
            F.split("g", " ").getItem(0).alias("t1"),
            F.split("g", " ").getItem(1).alias("t2"),
            "c12",
        )
    )
    bic = bic.localCheckpoint(eager=False)  # feeds pre, suf, T, and itself
    pre = bic.groupBy("t1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1r"),
    )
    suf = bic.groupBy("t2").agg(F.count(F.lit(1)).cast("long").alias("n1l"))
    tt = bic.agg(F.count(F.lit(1)).cast("long").alias("t_types"))
    dec = "DECIMAL(38,0)"
    return (
        bic.filter(F.col("c12") >= _KN_MIN_C12)
        .join(pre, "t1")
        .join(suf, "t2")
        .crossJoin(F.broadcast(tt))
        .select(
            "t1",
            "t2",
            "c12",
            "c1",
            "n1r",
            "n1l",
            F.round(
                F.expr(
                    f"CAST((4 * CAST(c12 AS {dec}) - 3) * t_types"
                    f" + 3 * CAST(n1r AS {dec}) * n1l AS DOUBLE)"
                    f" / CAST(4 * CAST(c1 AS {dec}) * t_types AS DOUBLE)"
                ),
                6,
            ).alias("p_kn"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram novelty decay: how fast a growing corpus stops contributing new
# trigrams — the diminishing-returns curve behind "is more crawl worth
# deduplicating in?". Each document's distinct trigram shingles are split
# into novel (this doc is the corpus-order first occurrence) vs seen;
# aggregated over corpus-position deciles the novel fraction decays, and
# the decile curve is the dedup-ROI dashboard. Novelty attribution needs NO
# join-back: a shingle's novel occurrence IS its min-doc_id row, so the
# shingle-keyed aggregation emits (first_doc, novel_count) directly.
# ---------------------------------------------------------------------------
_NOVELTY_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(__SHINGLES__) AS s FROM documents
),
tot AS (
  SELECT doc_id, CAST(len(__SHINGLES__) AS BIGINT) AS n_sh FROM documents
),
firsts AS (
  SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
),
novel AS (
  SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
  FROM firsts GROUP BY first_doc
),
mx AS (SELECT max(doc_id) AS m FROM documents),
perdoc AS (
  SELECT t.doc_id, t.n_sh, COALESCE(n.n_novel, 0) AS n_novel,
         CAST(t.doc_id * 10 // (mx.m + 1) AS BIGINT) AS decile
  FROM tot t LEFT JOIN novel n ON n.doc_id = t.doc_id CROSS JOIN mx
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       CAST(sum(n_novel) AS BIGINT) AS n_novel,
       CAST(1000000 * sum(n_novel) // greatest(sum(n_sh), 1) AS BIGINT)
         AS novelty_ppm
FROM perdoc GROUP BY decile
""".replace("__SHINGLES__", duck_shingles())


@register(
    "ngram_novelty_decay",
    oracle=_NOVELTY_SQL,
    doc="EXT corpus: trigram novelty decay over corpus-position deciles — "
    "per-shingle first-occurrence attribution (the min-doc_id row IS the "
    "novel occurrence, no join-back), novel-fraction ppm per decile; the "
    "diminishing-returns curve that prices further crawl ingestion",
    tags=("ext", "corpus", "dedup", "bench"),
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one shingle-keyed counting aggregation (the same class
    as the MinHash/inverted-index passes — uniform md5-ish text keys,
    map-side partial min), one narrow per-doc size projection, and a
    broadcast of the 1-row max; the decile rollup is 10 rows. Nothing
    quadratic, nothing ordered globally."""
    from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
        with_shingles,
    )

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    shingled = with_shingles(docs).select("doc_id", "sh")
    shingled = shingled.localCheckpoint(eager=False)  # feeds totals + firsts
    tot = shingled.select("doc_id", F.size("sh").cast("long").alias("n_sh"))
    novel = (
        shingled.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
        .withColumnRenamed("first_doc", "doc_id")
    )
    mx = docs.agg(F.max("doc_id").alias("m"))
    perdoc = (
        tot.join(novel, "doc_id", "left")
        .na.fill({"n_novel": 0})
        .crossJoin(F.broadcast(mx))
        .select(
            "n_sh",
            "n_novel",
            F.expr("CAST(doc_id * 10 div (m + 1) AS BIGINT)").alias("decile"),
        )
    )
    return perdoc.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_sh").cast("long").alias("n_shingles"),
        F.sum("n_novel").cast("long").alias("n_novel"),
        F.expr(
            "CAST(1000000 * sum(n_novel) div greatest(sum(n_sh), 1) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# Heaps' law fit: the corpus scaling-law audit — vocabulary grows as
# V ~ K * n^beta, and beta per source is what sizing a tokenizer vocab (or
# pricing dedup ROI) extrapolates from. Each source gets 8 ingestion-order
# checkpoints (doc-count octiles by doc_id rank); vocab-at-checkpoint comes
# from word FIRST-RANK (the min-rank row is the vocab increment — same
# no-join-back device as ngram_novelty_decay), tokens-at-checkpoint from a
# rank cumsum. The fit is the house integer OLS over (floor-log2 tokens,
# floor-log2 vocab) pairs — slope = beta-hat in bits per bit, exact micro
# output, no float logarithm anywhere.
# ---------------------------------------------------------------------------
_HEAPS_POINTS = 8

_HEAPS_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id, {_DUCK_TOK} AS t,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
  FROM documents
),
nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM ranked GROUP BY source),
cps AS (
  SELECT source, k.range AS k, CAST(k.range * n_docs // {_HEAPS_POINTS} AS BIGINT) AS c
  FROM nd, range(1, {_HEAPS_POINTS} + 1) k
),
toks AS (
  SELECT source, r, CAST(len(t) AS BIGINT) AS m FROM ranked
),
cum AS (
  SELECT source, r,
         sum(m) OVER (PARTITION BY source ORDER BY r
                      ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
),
firsts AS (
  SELECT source, word, min(r) AS first_r
  FROM (SELECT source, r, unnest(t) AS word FROM ranked)
  GROUP BY source, word
),
vat AS (
  SELECT c.source, c.k, CAST(count(f.word) AS BIGINT) AS vocab_at
  FROM cps c LEFT JOIN firsts f
    ON f.source = c.source AND f.first_r <= c.c
  GROUP BY c.source, c.k
),
tat AS (
  SELECT c.source, c.k, CAST(m.cum_tokens AS BIGINT) AS tokens_at
  FROM cps c JOIN cum m ON m.source = c.source AND m.r = c.c
),
pts AS (
  SELECT v.source,
         CAST(length(bin(greatest(t.tokens_at, 1))) - 1 AS BIGINT) AS x,
         CAST(length(bin(greatest(v.vocab_at, 1))) - 1 AS BIGINT) AS y
  FROM vat v JOIN tat t ON t.source = v.source AND t.k = v.k
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY source
)
SELECT source, n AS n_points,
       CASE WHEN n * sxx - sx * sx = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST(1000000 * (n * sxy - sx * sy) // (n * sxx - sx * sx)
                      AS BIGINT) END AS beta_micro,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
            THEN CAST(NULL AS BIGINT)
            ELSE CAST(1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy)
                      // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                      AS BIGINT) END AS r2_micro
FROM m
"""


@register(
    "heaps_law_fit",
    oracle=_HEAPS_SQL,
    doc="Corpus scaling law: per-source Heaps exponent beta-hat from 8 "
    "ingestion-order checkpoints — vocab via word first-rank (the min-rank "
    "row IS the vocab increment), tokens via a rank cumsum, integer OLS "
    "over floor-log2 pairs (exact micro slope and r2, no float log); what "
    "tokenizer-vocab sizing and dedup-ROI extrapolation read",
    tags=("ext", "corpus", "mining"),
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one word-typed counting aggregation for first ranks
    (uniform text keys, map-side min), one per-source rank window over a
    narrow token-count projection, and the checkpoint grid is BOUNDED
    (sources x 8) so both probe joins broadcast it. The fit consumes 8
    integer points per source — the statistics never see the corpus."""
    from pyspark.sql import Window

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.select(
        "source",
        "doc_id",
        F.expr(_SPARK_TOK).alias("t"),
        F.row_number().over(w_rank).alias("r"),
    )
    ranked = ranked.localCheckpoint(eager=False)  # feeds counts, cumsum, firsts
    nd = ranked.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    cps = nd.crossJoin(
        F.broadcast(
            ranked.sparkSession.range(1, _HEAPS_POINTS + 1).select(
                F.col("id").cast("long").alias("k")
            )
        )
    ).select(
        "source", "k", F.expr(f"CAST(k * n_docs div {_HEAPS_POINTS} AS BIGINT)").alias("c")
    )
    cps = cps.localCheckpoint(eager=False)  # bounded; feeds both probes
    w_cum = (
        Window.partitionBy("source")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ranked.select(
        "source", "r", F.size("t").cast("long").alias("m")
    ).withColumn("cum_tokens", F.sum("m").over(w_cum))
    firsts = (
        ranked.select("source", "r", F.explode("t").alias("word"))
        .groupBy("source", "word")
        .agg(F.min("r").alias("first_r"))
    )
    # cps shares lineage with ranked — rename its key so the probe joins
    # are unambiguous self-joins.
    grid = cps.select(F.col("source").alias("cs"), "k", "c")
    vat = (
        firsts.join(
            F.broadcast(grid),
            (firsts.source == grid.cs) & (firsts.first_r <= grid.c),
        )
        .groupBy("cs", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_at"))
        .withColumnRenamed("cs", "source")
    )
    tat = (
        cum.join(F.broadcast(grid), (cum.source == grid.cs) & (cum.r == grid.c))
        .select(
            F.col("cs").alias("source"),
            "k",
            F.col("cum_tokens").cast("long").alias("tokens_at"),
        )
    )
    pts = vat.join(tat, ["source", "k"]).select(
        "source",
        (F.length(F.bin(F.greatest("tokens_at", F.lit(1)))) - 1)
        .cast("long")
        .alias("x"),
        (F.length(F.bin(F.greatest("vocab_at", F.lit(1)))) - 1)
        .cast("long")
        .alias("y"),
    )
    m = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.select(
        "source",
        F.col("n").alias("n_points"),
        F.when(F.expr("n * sxx - sx * sx") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "CAST(1000000 * (n * sxy - sx * sy) div (n * sxx - sx * sx)"
                " AS BIGINT)"
            )
        )
        .alias("beta_micro"),
        F.when(
            F.expr("(n * sxx - sx * sx) * (n * syy - sy * sy)") == 0,
            F.lit(None).cast("long"),
        )
        .otherwise(
            F.expr(
                "CAST(1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy)"
                " div ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS BIGINT)"
            )
        )
        .alias("r2_micro"),
    )


# ---------------------------------------------------------------------------
# Zipf-law exponent fit: the frequency-side companion of heaps_law_fit.
# Word frequency decays as f(r) ~ r^(-s); sampling the rank-frequency
# curve AT POWER-OF-TWO RANKS gives exactly one point per log2 bin (the
# natural weighting for a log-log fit — using every word would let the
# million-word f=1 tail swamp the slope), and makes x = log2(rank) EXACT.
# y = floor(log2(freq)) via length(bin(f)) - 1; the integer OLS slope is
# negative, so the micro division is sign-split (abs + explicit sign) —
# DuckDB floors negative // while Spark div truncates, and the split makes
# both truncate identically.
# ---------------------------------------------------------------------------
_ZIPF_SQL = f"""
WITH wc AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT source, unnest({_DUCK_TOK}) AS word FROM documents)
  GROUP BY source, word
),
ranked AS (
  SELECT source, f,
         row_number() OVER (PARTITION BY source ORDER BY f DESC, word) AS r
  FROM wc
),
pts AS (
  SELECT source,
         CAST(length(bin(r)) - 1 AS BIGINT) AS x,
         CAST(length(bin(f)) - 1 AS BIGINT) AS y
  FROM ranked
  WHERE (r & (r - 1)) = 0
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY source
)
SELECT source, n AS n_points,
       CASE WHEN n * sxx - sx * sx = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
                      * ((1000000 * abs(n * sxy - sx * sy))
                         // (n * sxx - sx * sx)) AS BIGINT) END
         AS zipf_slope_micro,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
            THEN CAST(NULL AS BIGINT)
            ELSE CAST(1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy)
                      // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                      AS BIGINT) END AS r2_micro
FROM m
"""


@register(
    "zipf_law_fit",
    oracle=_ZIPF_SQL,
    doc="Corpus scaling law: per-source Zipf exponent from the "
    "rank-frequency curve sampled at power-of-two ranks (one point per "
    "log2 bin — the f=1 tail cannot swamp the slope, and x = log2(rank) "
    "is exact); integer OLS with a sign-split micro division so the "
    "negative slope truncates identically cross-engine; heaps_law_fit's "
    "frequency-side companion",
    tags=("ext", "corpus", "tokenizer"),
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one word-count aggregation (uniform keys, map-side
    partials), one rank window per source over the Heaps-bounded VOCAB
    relation (never the token stream), a power-of-two filter that keeps
    ~log2(V) rows per source, and a bounded OLS fold. The token stream is
    touched exactly once."""
    from pyspark.sql import Window

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(F.expr(_SPARK_TOK)).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    ranked = wc.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.col("f").desc(), "word")
        ),
    )
    pts = ranked.filter(F.expr("(r & (r - 1)) = 0")).select(
        "source",
        F.expr("CAST(length(bin(r)) - 1 AS BIGINT)").alias("x"),
        F.expr("CAST(length(bin(f)) - 1 AS BIGINT)").alias("y"),
    )
    m = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.select(
        "source",
        F.col("n").alias("n_points"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST((CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)"
            "      * ((1000000 * abs(n * sxy - sx * sy))"
            "         div (n * sxx - sx * sx)) AS BIGINT) END"
        ).alias("zipf_slope_micro"),
        F.expr(
            "CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0"
            " THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy)"
            "      div ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            "      AS BIGINT) END"
        ).alias("r2_micro"),
    )


# ---------------------------------------------------------------------------
# Link prediction on the kNN graph — the fourth graph primitive (after
# components, PageRank, triangles): non-adjacent document pairs sharing
# at least 2 neighbors, scored by common-neighbor count and neighborhood
# Jaccard. In a curation graph these are the "should-have-been-duplicates"
# the similarity threshold just missed — the human-review queue dedup
# teams actually triage. Everything is exact integers; the wedge join is
# the same bounded-out-degree shape as the triangle census.
# ---------------------------------------------------------------------------
_LINKPRED_MIN_COMMON = 2

_LINKPRED_SQL = f"""
WITH knn AS ({_KNN_SQL}),
und AS (
  SELECT DISTINCT least(query_id, neighbor_id) AS a,
                  greatest(query_id, neighbor_id) AS b
  FROM knn
),
adj AS (
  SELECT a AS m, b AS v FROM und UNION ALL SELECT b AS m, a AS v FROM und
),
deg AS (SELECT m AS v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY m),
wedge AS (
  SELECT x.v AS doc_a, y.v AS doc_b, CAST(count(*) AS BIGINT) AS n_common
  FROM adj x JOIN adj y ON x.m = y.m AND x.v < y.v
  GROUP BY x.v, y.v
),
pred AS (
  SELECT w.doc_a, w.doc_b, w.n_common
  FROM wedge w
  LEFT JOIN und e ON e.a = w.doc_a AND e.b = w.doc_b
  WHERE e.a IS NULL AND w.n_common >= {_LINKPRED_MIN_COMMON}
)
SELECT p.doc_a, p.doc_b, p.n_common,
       da.d AS deg_a, db.d AS deg_b,
       CAST(1000000 * p.n_common
            // (da.d + db.d - p.n_common) AS BIGINT) AS jaccard_ppm
FROM pred p
JOIN deg da ON da.v = p.doc_a
JOIN deg db ON db.v = p.doc_b
"""


@register(
    "link_prediction_knn",
    oracle=_LINKPRED_SQL,
    doc="Link prediction on the kNN graph: non-adjacent doc pairs with "
    ">= 2 common neighbors, scored by common-neighbor count and exact "
    "neighborhood-Jaccard ppm — the near-miss-duplicate review queue; "
    "wedge join + anti-join on canonical edges, all integer arithmetic",
    tags=("ext", "corpus", "graph"),
)
def link_prediction_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the wedge join fans out from each middle vertex over
    its bounded kNN degree (the same O(sum d^2) shape as the triangle
    census), shuffling on vertex ids; existing edges are removed by a
    keyed anti-join; degrees attach by two uniform-key joins. No windows,
    no global sort — output is the data-bounded prediction set itself."""
    configure_session(spark)
    edges = knn_graph_lsh(spark, sf_dir)
    und = (
        edges.select(
            F.least("query_id", "neighbor_id").alias("a"),
            F.greatest("query_id", "neighbor_id").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds adjacency AND the anti-join
    )
    adj = (
        und.select(F.col("a").alias("m"), F.col("b").alias("v"))
        .unionAll(und.select(F.col("b").alias("m"), F.col("a").alias("v")))
        .localCheckpoint(eager=False)  # feeds the wedge join AND degrees
    )
    deg = adj.groupBy(F.col("m").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    x, y = adj.alias("x"), adj.alias("y")
    wedge = (
        x.join(y, (F.col("x.m") == F.col("y.m")) & (F.col("x.v") < F.col("y.v")))
        .groupBy(F.col("x.v").alias("doc_a"), F.col("y.v").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    pred = wedge.filter(F.col("n_common") >= _LINKPRED_MIN_COMMON).join(
        und,
        (F.col("doc_a") == F.col("a")) & (F.col("doc_b") == F.col("b")),
        "left_anti",
    )
    da = deg.select(F.col("v").alias("doc_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("v").alias("doc_b"), F.col("d").alias("deg_b"))
    return (
        pred.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(
                "CAST(1000000 * n_common div (deg_a + deg_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Ranker agreement: Kendall tau between two retrieval rankers over the
# items BOTH placed in their top-k — the measurement that justifies (or
# refutes) adding a second ranker: tau near 1 means it is redundant, near
# 0 means it adds diversity, negative means outright disagreement. The
# rankers are raw token overlap |q n d| and its length-normalized Jaccard
# twin (1e6 * |q n d| div |q u d|) — same candidate pool, different
# weighting, so the shared sets are large and the disagreements are real
# (normalization demotes long documents). row_number ranks are strict, so
# tau-a is exact: tau = (2C - P) / P over P = C(n,2) shared pairs, with
# the sign-split division both engines truncate identically.
# ---------------------------------------------------------------------------
_TAU_SQL = f"""
WITH qdocs AS (
  SELECT doc_id AS query_id, list_distinct({_DUCK_TOK}) AS qtok
  FROM documents WHERE doc_id < {_RRF_QUERIES}
),
corpus AS (
  SELECT doc_id, list_distinct({_DUCK_TOK}) AS tok FROM documents
),
scored AS (
  SELECT q.query_id, c.doc_id AS neighbor_id,
         CAST(len(list_intersect(q.qtok, c.tok)) AS BIGINT) AS i,
         CAST(len(list_distinct(q.qtok || c.tok)) AS BIGINT) AS u
  FROM qdocs q JOIN corpus c ON c.doc_id <> q.query_id
),
ra AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY i DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_RRF_K}
),
rb AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY 1000000 * i // u DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_RRF_K}
),
shared AS (
  SELECT a.query_id, a.neighbor_id,
         CAST(a.rank AS BIGINT) AS lr, CAST(b.rank AS BIGINT) AS vr
  FROM ra a JOIN rb b
    ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
),
prs AS (
  SELECT a.query_id,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(*) FILTER (WHERE a.vr < b.vr) AS BIGINT) AS n_conc
  FROM shared a JOIN shared b
    ON b.query_id = a.query_id AND a.lr < b.lr
  GROUP BY a.query_id
),
cnt AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_shared FROM shared GROUP BY query_id
)
SELECT c.query_id, c.n_shared,
       COALESCE(p.n_pairs, 0) AS n_pairs,
       COALESCE(p.n_conc, 0) AS n_concordant,
       CASE WHEN COALESCE(p.n_pairs, 0) = 0 THEN NULL
            ELSE CAST((CASE WHEN 2 * p.n_conc - p.n_pairs < 0 THEN -1 ELSE 1 END)
                      * ((1000000 * abs(2 * p.n_conc - p.n_pairs)) // p.n_pairs)
                      AS BIGINT) END AS tau_ppm
FROM cnt c LEFT JOIN prs p ON p.query_id = c.query_id
"""


@register(
    "ranker_agreement_tau",
    oracle=_TAU_SQL,
    doc="Ranker agreement: exact Kendall tau-a between the raw-overlap and "
    "Jaccard-normalized lexical rankers over their shared top-k items "
    "(strict ranks => no ties), per query — sign-split integer ppm; the "
    "redundancy measurement run before adding a ranker to a fusion stack",
    tags=("ext", "corpus", "similarity"),
)
def ranker_agreement_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: candidates scored once (broadcast query set, narrow
    intersection/union sizes), both rankers are two-phase top-k slices of
    the SAME scored pass, and the pair join runs on the <= k-row shared
    lists per query (k^2 bounded). The corpus is touched exactly once."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id", F.expr(f"array_distinct({_SPARK_TOK})").alias("tok")
    )
    qdocs = corpus.filter(F.col("doc_id") < _RRF_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("tok").alias("qtok")
    )
    scored = (
        corpus.crossJoin(F.broadcast(qdocs))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.size(F.array_intersect("qtok", "tok")).cast("long").alias("i"),
            F.expr("CAST(size(array_distinct(concat(qtok, tok))) AS BIGINT)").alias(
                "u"
            ),
        )
        .localCheckpoint(eager=False)  # feeds both rankers
    )
    ra = topk_per_query(
        scored.select(
            "query_id", "neighbor_id", F.col("i").cast("double").alias("cos_raw")
        ),
        k=_RRF_K,
    ).select("query_id", "neighbor_id", F.col("rank").alias("lr"))
    rb = topk_per_query(
        scored.select(
            "query_id",
            "neighbor_id",
            F.expr("CAST(1000000 * i div u AS DOUBLE)").alias("cos_raw"),
        ),
        k=_RRF_K,
    ).select("query_id", "neighbor_id", F.col("rank").alias("vr"))
    shared = (
        ra.join(rb, ["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "lr", "vr")
        .localCheckpoint(eager=False)  # feeds the pair join twice + counts
    )
    a = shared.select(
        F.col("query_id").alias("qa"), F.col("lr").alias("alr"), F.col("vr").alias("avr")
    )
    b = shared.select(
        F.col("query_id").alias("qb"), F.col("lr").alias("blr"), F.col("vr").alias("bvr")
    )
    prs = (
        a.join(b, (F.col("qa") == F.col("qb")) & (F.col("alr") < F.col("blr")))
        .groupBy(F.col("qa").alias("query_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("CAST(count_if(avr < bvr) AS BIGINT)").alias("n_conc"),
        )
    )
    cnt = shared.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
    return (
        cnt.join(prs, "query_id", "left")
        .na.fill({"n_pairs": 0, "n_conc": 0})
        .select(
            "query_id",
            "n_shared",
            "n_pairs",
            F.col("n_conc").alias("n_concordant"),
            F.expr(
                "CASE WHEN n_pairs = 0 THEN NULL"
                " ELSE CAST((CASE WHEN 2 * n_conc - n_pairs < 0 THEN -1 ELSE 1 END)"
                "      * ((1000000 * abs(2 * n_conc - n_pairs)) div n_pairs)"
                "      AS BIGINT) END"
            ).alias("tau_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate scrub (the CCNet / RefinedWeb preprocessing step):
# lines whose hash repeats across >= _BOILER_DF distinct documents of the
# same source are boilerplate and removed; unique lines survive. The corpus
# is synthesized with known boilerplate — every doc gets a source-branded
# header line, md5-even docs also a footer — so the scrub's accounting
# (occurrences, chars removed, fully-scrubbed docs, header detection) is
# exactly checkable. Exact-duplicate documents make their BODY line cross
# the threshold too, which is precisely the line-level/doc-level dedup
# interaction the real step exhibits.
# ---------------------------------------------------------------------------
_BOILER_DF = 5

_BOILER_SQL = f"""
WITH lines AS (
  SELECT source, doc_id, 0 AS line_no,
         'begin ' || source || ' standard header notice all rights reserved'
           AS line
  FROM documents
  UNION ALL
  SELECT source, doc_id, 1, text FROM documents
  UNION ALL
  SELECT source, doc_id, 2,
         'contact ' || source || ' support desk to request removal'
  FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 2 = 0
),
hashed AS (
  SELECT source, doc_id, line_no, length(line) AS len, md5(line) AS h
  FROM lines
),
dfs AS (
  SELECT source, h, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM hashed GROUP BY 1, 2
),
joined AS (
  SELECT x.source, x.doc_id, x.line_no, x.len, d.df >= {_BOILER_DF} AS boiler
  FROM hashed x JOIN dfs d ON d.source = x.source AND d.h = x.h
),
per_doc AS (
  SELECT source, doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         CAST(sum(len) AS BIGINT) AS chars,
         CAST(sum(CASE WHEN boiler THEN len ELSE 0 END) AS BIGINT) AS chars_rm,
         min(boiler) AS all_boiler,
         max(CASE WHEN line_no = 0 THEN boiler END) AS header_flagged
  FROM joined GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       CAST(sum(n_boiler) AS BIGINT) AS n_boiler_occurrences,
       CAST(sum(chars) AS BIGINT) AS chars_total,
       CAST(sum(chars_rm) AS BIGINT) AS chars_removed,
       CAST(1000000 * sum(chars_rm) // sum(chars) AS BIGINT) AS removal_ppm,
       CAST(sum(CASE WHEN all_boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_fully_scrubbed,
       bool_and(header_flagged) AS header_detected
FROM per_doc GROUP BY 1
"""


@register(
    "boilerplate_line_scrub",
    oracle=_BOILER_SQL,
    doc="CCNet-style line-level boilerplate removal: line hashes repeating "
    "across >= 5 distinct docs of a source are scrubbed; planted per-source "
    "header/footer lines make the accounting (occurrences, chars removed "
    "ppm, fully-scrubbed docs, header detection) exactly verifiable, and "
    "exact-duplicate documents show the body-line/doc-dedup interaction "
    "the real preprocessing step has",
    tags=("ext", "corpus", "dedup", "text"),
)
def boilerplate_line_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: lines are built narrowly from ONE scan (posexplode of a
    per-row array — no triple scan), the doc-frequency table shuffles once
    on the uniform (source, hash) key and joins back on the same key, then
    two keyed rollups (doc, source). Nothing is ever sorted globally; the
    hot key domain is line hashes, uniform by construction."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    lines = docs.select(
        "source",
        "doc_id",
        F.posexplode(
            F.expr(
                "CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2 = 0"
                " THEN array("
                "   'begin ' || source || ' standard header notice all rights reserved',"
                "   text,"
                "   'contact ' || source || ' support desk to request removal')"
                " ELSE array("
                "   'begin ' || source || ' standard header notice all rights reserved',"
                "   text)"
                " END"
            )
        ).alias("line_no", "line"),
    )
    hashed = lines.select(
        "source",
        "doc_id",
        "line_no",
        F.length("line").alias("len"),
        F.md5("line").alias("h"),
    ).localCheckpoint(eager=False)  # feeds the df table AND the join-back
    dfs = hashed.groupBy("source", "h").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    joined = hashed.join(dfs, ["source", "h"]).select(
        "source",
        "doc_id",
        "line_no",
        "len",
        (F.col("df") >= _BOILER_DF).alias("boiler"),
    )
    per_doc = joined.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("boiler").cast("int")).cast("long").alias("n_boiler"),
        F.sum("len").cast("long").alias("chars"),
        F.sum(F.expr("CASE WHEN boiler THEN len ELSE 0 END"))
        .cast("long")
        .alias("chars_rm"),
        F.min("boiler").alias("all_boiler"),
        F.max(F.expr("CASE WHEN line_no = 0 THEN boiler END")).alias(
            "header_flagged"
        ),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum("n_boiler").cast("long").alias("n_boiler_occurrences"),
        F.sum("chars").cast("long").alias("chars_total"),
        F.sum("chars_rm").cast("long").alias("chars_removed"),
        F.expr("CAST(1000000 * sum(chars_rm) div sum(chars) AS BIGINT)").alias(
            "removal_ppm"
        ),
        F.sum(F.col("all_boiler").cast("int"))
        .cast("long")
        .alias("n_docs_fully_scrubbed"),
        F.min("header_flagged").alias("header_detected"),
    )


# ---------------------------------------------------------------------------
# Suffix-array-style exact-substring dedup (distributed formulation).
#
# The single-node approach ("Deduplicating Training Data Makes Language
# Models Better", Lee et al. 2022) builds one suffix array over the
# concatenated corpus and marks any substring with >=2 occurrences. The
# distributed re-expression: a duplicated substring of >= N tokens implies
# two corpus suffixes sharing an N-token prefix, so grouping suffixes by
# their leading word-N-gram hash puts every such pair in one group, and
# within a group the maximum common prefix of a suffix is attained at a
# NEIGHBOR in suffix-sorted order (the suffix-array LCP property). Each
# suffix ships only a BOUNDED window (anchor N plus an extension, MAX_T
# tokens total), so exact duplicated-substring lengths are measured in
# [N, MAX_T] and longer runs are reported as the MAX_T cap.
# ---------------------------------------------------------------------------
_SFX_N = _SPAN_N  # 8-token anchor, same granularity as the span family
_SFX_MAX_T = 32  # bounded suffix window (tokens) = exact-length cap
_SFX_L = 16  # report positions whose duplicated run reaches 2x the anchor


def _duck_lcp(a: str, b: str) -> str:
    """Token-LCP of two DuckDB lists; 0 when the neighbor is absent.

    ``list_position(..., false)`` yields 0 (not NULL) when every probe
    position matched — which can only happen for equal-length fully-equal
    lists, so ``nullif`` routes that case to ``len(a)``.
    """
    probe = (
        f"list_position(list_transform(range(1, greatest(len({a}), len({b})) + 1),"
        f" i -> coalesce({a}[i] = {b}[i], false)), false)"
    )
    return (
        f"CASE WHEN {b} IS NULL THEN 0"
        f" ELSE coalesce(nullif({probe}, 0) - 1, len({a})) END"
    )


# Shared CTE prefixes: suffixes (consumed by the ingest probe too), then
# per-position scores — consumed by the per-doc report AND the scrub plan.
_SFX_BASE_CTES = f"""
WITH base AS (
  SELECT doc_id, source, {_DUCK_TOK} AS t FROM documents
),
docs AS (
  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens, t FROM base
),
pos AS (
  SELECT doc_id, unnest(range(1, len(t) - {_SFX_N - 2})) AS p, t
  FROM docs WHERE len(t) >= {_SFX_N}
),
sfx AS (
  SELECT doc_id, p,
         md5(array_to_string(t[p:p + {_SFX_N - 1}], ' ')) AS anchor,
         t[p:p + {_SFX_MAX_T - 1}] AS ext
  FROM pos
)"""

_SFX_SCORE_CTES = _SFX_BASE_CTES + f""",
nb AS (
  SELECT doc_id, p, ext,
         lag(ext) OVER w AS pe,
         lead(ext) OVER w AS ne
  FROM sfx
  WINDOW w AS (PARTITION BY anchor ORDER BY ext, doc_id, p)
),
sc AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         greatest({_duck_lcp("ext", "pe")}, {_duck_lcp("ext", "ne")}) AS maxdup
  FROM nb
)"""

_EXACT_SUBSTRING_SQL = (
    _SFX_SCORE_CTES
    + f""",
agg AS (
  SELECT doc_id,
         CAST(max(maxdup) AS BIGINT) AS longest_dup_tokens,
         CAST(sum(CASE WHEN maxdup >= {_SFX_L} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_positions
  FROM sc GROUP BY doc_id
)
SELECT d.doc_id, d.source, d.n_tokens,
       coalesce(agg.longest_dup_tokens, 0) AS longest_dup_tokens,
       coalesce(agg.n_dup_positions, 0) AS n_dup_positions,
       CASE WHEN d.n_tokens >= {_SFX_N} THEN round(
         CAST(coalesce(agg.n_dup_positions, 0) AS DOUBLE)
           / CAST(d.n_tokens - {_SFX_N - 1} AS DOUBLE), 6)
         ELSE 0.0 END AS dup_pos_frac
FROM docs d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""
)


def _spark_lcp(a: str, b: str) -> str:
    """Token-LCP via zip_with null-safe equality; 0 when neighbor absent.

    ``zip_with`` pads the shorter array with NULL, so ``x <=> y`` turns a
    length mismatch into the first ``false`` — identical semantics to the
    DuckDB twin's out-of-range NULL -> false coalesce.
    """
    arr = f"zip_with({a}, {b}, (x, y) -> x <=> y)"
    return (
        f"CASE WHEN {b} IS NULL THEN 0"
        f" WHEN array_position({arr}, false) = 0 THEN size({a})"
        f" ELSE array_position({arr}, false) - 1 END"
    )


def _sfx_suffixes(spark: SparkSession, sf_dir: str):
    """Checkpointed tokenized docs + the (doc_id, p, anchor, ext) suffix
    relation — mirrors the ``_SFX_BASE_CTES`` SQL prefix."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.expr(_SPARK_TOK).alias("t")
    ).select(
        "doc_id",
        "source",
        F.expr("size(t)").cast("long").alias("n_tokens"),
        "t",
    )
    # Feeds the identity side and the suffix side; pin the tokenize once.
    tok = tok.localCheckpoint(eager=False)
    sfx = (
        tok.filter(F.col("n_tokens") >= _SFX_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {_SFX_N - 1}),"
                    f" p -> named_struct("
                    f"   'p', p,"
                    f"   'anchor', md5(concat_ws(' ', slice(t, p, {_SFX_N}))),"
                    f"   'ext', slice(t, p, {_SFX_MAX_T})))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.p", "s.anchor", "s.ext")
    )
    return tok, sfx


def _sfx_scores(spark: SparkSession, sf_dir: str):
    """Shared Spark legs of the suffix family: the checkpointed tokenized
    docs table and the per-position (doc_id, p, maxdup) score relation —
    mirrors the ``_SFX_SCORE_CTES`` SQL prefix."""
    from pyspark.sql import Window

    tok, sfx = _sfx_suffixes(spark, sf_dir)
    w = Window.partitionBy("anchor").orderBy("ext", "doc_id", "p")
    # Round-9: token-LCP is symmetric, so lcp(ext_i, ext_{i+1}) is exactly
    # the NEXT row's lcp-with-prev — compute the zip_with LCP once per
    # adjacent pair and fetch the other side with lead() over the same
    # window (same partitioning and ordering: no extra exchange or sort,
    # one more WindowExec pass over sorted rows). Halves the zip_with
    # evaluations and drops the lead(ext) 32-token array from the window
    # buffers. greatest() ignores the NULL lead on each group's last row,
    # matching the old "no next neighbor -> 0" (lcp values are >= 0).
    sc = (
        sfx.withColumn("pe", F.lag("ext").over(w))
        .withColumn("lcpp", F.expr(f"CAST({_spark_lcp('ext', 'pe')} AS BIGINT)"))
        .withColumn("maxdup", F.greatest("lcpp", F.lead("lcpp").over(w)))
        .selectExpr("doc_id", "CAST(p AS BIGINT) AS p", "maxdup")
    )
    return tok, sc


@register(
    "dedup_exact_substring",
    oracle=_EXACT_SUBSTRING_SQL,
    doc="Suffix-array-style exact-substring dedup: suffixes grouped by their "
    "leading 8-gram hash, suffix-sorted within each group, neighbor token-LCP "
    "= the exact maximal duplicated-substring length at every corpus position "
    "(measured up to a 32-token window); per-doc longest run, count of "
    "positions with >=16-token runs, and their fraction — the cut signal "
    "substring-level train-set dedup (Lee et al. 2022) removes on",
    tags=("ext", "corpus", "dedup", "bench"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where ``dup_span_stats`` chains fixed 8-gram matches into runs, this
    measures EXACT duplicated-substring lengths the way a suffix array
    does — including runs whose copies diverge mid-shingle — at the cost of
    a capped measurement window.

    Scale shape: the suffix explode is narrow and each row carries at most
    ``_SFX_MAX_T`` tokens (the corpus ships ~MAX_T/1 amplified once — the
    same factor Lee et al.'s sharded suffix arrays pay). ONE wide stage
    does all the comparison work: a window sort within anchor groups
    (partition count = distinct 8-grams, sizes = their occurrence counts —
    the documented skew knob; a stop-gram cap on group size is the 100 TB
    escape hatch). Neighbor LCP is whole-stage-codegen'd ``zip_with``; the
    per-doc rollup is an ordinary groupBy. No self-join, no all-pairs."""
    tok, sc = _sfx_scores(spark, sf_dir)
    agg = sc.groupBy("doc_id").agg(
        F.max("maxdup").cast("long").alias("longest_dup_tokens"),
        F.sum((F.col("maxdup") >= _SFX_L).cast("long"))
        .cast("long")
        .alias("n_dup_positions"),
    )
    out = tok.select("doc_id", "source", "n_tokens").join(agg, "doc_id", "left")
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce("longest_dup_tokens", F.lit(0)).cast("long").alias(
            "longest_dup_tokens"
        ),
        F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias(
            "n_dup_positions"
        ),
        F.when(
            F.col("n_tokens") >= _SFX_N,
            F.round(
                F.coalesce("n_dup_positions", F.lit(0)).cast("double")
                / (F.col("n_tokens") - F.lit(_SFX_N - 1)).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_pos_frac"),
    )


# ---------------------------------------------------------------------------
# Exact-substring SCRUB PLAN: where `dedup_exact_substring` reports the
# signal, this emits the cut sheet — per document the merged token
# intervals that substring-level dedup (Lee et al. 2022 remove EVERY
# occurrence of a >=L-token duplicated run) would excise, and what
# survives. Interval merge is gaps-and-islands per doc: a position p with
# maxdup >= L covers [p, p + maxdup); overlapping covers pool into
# islands via the running-max-end device.
# ---------------------------------------------------------------------------
_SCRUB_SQL = (
    _SFX_SCORE_CTES
    + f""",
cuts AS (
  SELECT doc_id, p, p + maxdup AS e FROM sc WHERE maxdup >= {_SFX_L}
),
isl AS (
  SELECT doc_id, p, e,
         CASE WHEN p > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS is_new
  FROM cuts
),
isl2 AS (
  SELECT doc_id, p, e,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island,
         min(p) AS span_start, max(e) AS span_end
  FROM isl2 GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_cut_spans,
         CAST(sum(span_end - span_start) AS BIGINT) AS tokens_cut
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id, d.source, d.n_tokens,
       coalesce(pd.n_cut_spans, 0) AS n_cut_spans,
       coalesce(pd.tokens_cut, 0) AS tokens_cut,
       d.n_tokens - coalesce(pd.tokens_cut, 0) AS tokens_kept,
       CASE WHEN d.n_tokens > 0 THEN round(
         CAST(coalesce(pd.tokens_cut, 0) AS DOUBLE)
           / CAST(d.n_tokens AS DOUBLE), 6)
         ELSE 0.0 END AS cut_frac
FROM docs d LEFT JOIN per_doc pd ON pd.doc_id = d.doc_id
"""
)


@register(
    "exact_substring_scrub",
    oracle=_SCRUB_SQL,
    doc="Substring-dedup cut sheet: merged per-doc token intervals covered "
    "by >=16-token exact duplicated runs (gaps-and-islands over the suffix "
    "LCP scores), with tokens cut/kept and the cut fraction — the actual "
    "removal plan substring-level train-set dedup executes",
    tags=("ext", "corpus", "dedup"),
)
def exact_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to `dedup_exact_substring` up to the shared
    per-position score relation (`_sfx_scores`); the interval merge adds
    two windows partitioned by doc_id — bounded by document length, the
    same contract as the span family — and a per-doc rollup. Nothing
    beyond the one anchor-partitioned wide stage touches corpus-scale
    data."""
    from pyspark.sql import Window

    tok, sc = _sfx_scores(spark, sf_dir)
    cuts = sc.filter(F.col("maxdup") >= _SFX_L).select(
        "doc_id", "p", (F.col("p") + F.col("maxdup")).alias("e")
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = cuts.withColumn(
        "is_new",
        (
            F.col("p") > F.coalesce(F.max("e").over(wprev), F.lit(-1))
        ).cast("int"),
    ).withColumn("island", F.sum("is_new").over(wrun))
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("span_start"), F.max("e").alias("span_end")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cut_spans"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("long")
        .alias("tokens_cut"),
    )
    out = tok.select("doc_id", "source", "n_tokens").join(
        per_doc, "doc_id", "left"
    )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce("n_cut_spans", F.lit(0)).cast("long").alias("n_cut_spans"),
        F.coalesce("tokens_cut", F.lit(0)).cast("long").alias("tokens_cut"),
        (F.col("n_tokens") - F.coalesce("tokens_cut", F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("tokens_cut", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("cut_frac"),
    )


# ---------------------------------------------------------------------------
# Label-propagation communities over the kNN graph (synchronous LPA,
# Raghavan et al. 2007) — where connected_components answers "which docs
# are transitively linked", LPA finds DENSE neighborhoods inside a
# component: the cluster structure semantic curation samples from.
# Determinism device: each round's new label is the neighbor-majority
# label with ties broken by SMALLEST label, computed as min() over
# fixed-width-encoded (inverted-count || label) strings — a total order,
# so synchronous rounds are engine-identical with zero floats.
# ---------------------------------------------------------------------------
_LPA_ITERS = 4
#: count inversion base for the min()-as-argmax encoding; 10^18 with 19/19
#: field widths covers the full BIGINT label range (lpad truncates
#: over-length strings, so undersized fields would corrupt the decode).
_LPA_INV = 10**18


def _lpa_enc_sql(cnt: str, label: str) -> str:
    return (
        f"lpad(CAST({_LPA_INV} - {cnt} AS STRING), 19, '0')"
        f" || lpad(CAST({label} AS STRING), 19, '0')"
    )


def _lpa_round_sql(k: int) -> str:
    return f""",
cnt{k} AS (
  SELECT e.dst, l.label, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN lab{k} l ON l.vec_id = e.src
  GROUP BY e.dst, l.label
),
best{k} AS (
  SELECT dst, min({_lpa_enc_sql('c', 'label')}) AS enc
  FROM cnt{k} GROUP BY dst
),
lab{k + 1} AS MATERIALIZED (
  SELECT n.vec_id,
         coalesce(CAST(substr(b.enc, 20) AS BIGINT), l.label) AS label
  FROM nodes n
  LEFT JOIN best{k} b ON b.dst = n.vec_id
  JOIN lab{k} l ON l.vec_id = n.vec_id
)"""


_LPA_SQL = (
    f"""
WITH knn AS ({_KNN_SQL}),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT query_id AS src, neighbor_id AS dst FROM knn
    UNION ALL
    SELECT neighbor_id, query_id FROM knn
  )
),
nodes AS MATERIALIZED (SELECT vec_id FROM embeddings),
lab0 AS (SELECT vec_id, CAST(vec_id AS BIGINT) AS label FROM nodes)"""
    + "".join(_lpa_round_sql(k) for k in range(_LPA_ITERS))
    + f""",
final AS (SELECT vec_id, label FROM lab{_LPA_ITERS}),
members AS (
  SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
  FROM final GROUP BY label
),
edge_labels AS (
  SELECT ls.label AS src_label, ld.label AS dst_label
  FROM edges e
  JOIN final ls ON ls.vec_id = e.src
  JOIN final ld ON ld.vec_id = e.dst
),
per_comm AS (
  SELECT src_label AS community,
         CAST(sum(CASE WHEN src_label = dst_label THEN 1 ELSE 0 END) // 2
              AS BIGINT) AS n_internal_edges,
         CAST(sum(CASE WHEN src_label <> dst_label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_boundary_edges
  FROM edge_labels GROUP BY src_label
)
SELECT m.community, m.n_members,
       coalesce(p.n_internal_edges, 0) AS n_internal_edges,
       coalesce(p.n_boundary_edges, 0) AS n_boundary_edges
FROM members m LEFT JOIN per_comm p ON p.community = m.community
"""
)


@register(
    "knn_label_propagation",
    oracle=_LPA_SQL,
    doc="Community detection on the LSH-kNN document graph: 4 synchronous "
    "label-propagation rounds (Raghavan et al. 2007) with neighbor-majority "
    "labels and min-label tie-breaks via the fixed-width (inverted-count, "
    "label) min()-encoding — per community its size, internal edge count, "
    "and boundary edge count; the dense-cluster structure semantic "
    "curation samples from, one level finer than connected components",
    tags=("ext", "corpus", "graph"),
)
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the symmetrized edge set is computed once and pinned
    (lazy localCheckpoint — the pagerank_knn stance); each round is one
    uniform-key join + two keyed aggregations whose argmax is a string
    min() (order-free, partitioning-independent). Rounds unroll into one
    lazy DAG — Pregel-by-joins, the classic Spark formulation. At 100 TB
    the per-round shuffle keys on (dst, label): bounded by the kNN fanout,
    no skew beyond community size itself."""
    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    knn = knn_graph_lsh(spark, sf_dir).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    edges = (
        knn.unionAll(knn.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)  # one LSH+top-k compute for all rounds
    )
    nodes = emb.select("vec_id").localCheckpoint(eager=False)
    labels = label_propagation(edges, nodes, iterations=_LPA_ITERS)
    final = labels.localCheckpoint(eager=False)  # members AND edge labels
    members = final.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    edge_labels = edges.join(
        final.select(F.col("vec_id").alias("src"), F.col("label").alias("src_label")),
        "src",
    ).join(
        final.select(F.col("vec_id").alias("dst"), F.col("label").alias("dst_label")),
        "dst",
    )
    per_comm = edge_labels.groupBy(F.col("src_label").alias("community")).agg(
        F.expr(
            "CAST(sum(CASE WHEN src_label = dst_label THEN 1 ELSE 0 END)"
            " div 2 AS BIGINT)"
        ).alias("n_internal_edges"),
        F.sum((F.col("src_label") != F.col("dst_label")).cast("int"))
        .cast("long")
        .alias("n_boundary_edges"),
    )
    return members.join(per_comm, "community", "left").select(
        "community",
        "n_members",
        F.coalesce("n_internal_edges", F.lit(0))
        .cast("long")
        .alias("n_internal_edges"),
        F.coalesce("n_boundary_edges", F.lit(0))
        .cast("long")
        .alias("n_boundary_edges"),
    )


# ---------------------------------------------------------------------------
# MMR diversified retrieval (maximal marginal relevance, Carbonell &
# Goldstein 1998): greedy top-k where each pick maximizes
# lambda*rel - (1-lambda)*max-sim-to-already-picked — the de-duplicating
# retrieval step RAG context assembly and diverse few-shot selection use
# so the k results aren't k near-copies. lambda = 1/2 (exact double
# halves); ties broken by neighbor id, so the greedy sequence is
# deterministic in both engines.
# ---------------------------------------------------------------------------
_MMR_QUERIES = 10
_MMR_POOL = 8  # relevance candidates per query entering the greedy stage
_MMR_K = 3  # diversified picks emitted


_MMR_CTES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qemb FROM embeddings
  WHERE vec_id < {_MMR_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS cid, e.embedding,
         {duck_cosine('q.qemb', 'e.embedding')} AS rel
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
cands AS MATERIALIZED (
  SELECT query_id, cid, embedding, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cid) AS rnk
    FROM scored
  ) WHERE rnk <= {_MMR_POOL}
),
pairsim AS MATERIALIZED (
  SELECT a.query_id, a.cid AS ca, b.cid AS cb,
         {duck_cosine('a.embedding', 'b.embedding')} AS sim
  FROM cands a JOIN cands b
    ON a.query_id = b.query_id AND a.cid <> b.cid
),
s1 AS MATERIALIZED (
  SELECT query_id, cid, rel, rel AS mmr FROM (
    SELECT query_id, cid, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, cid) AS rn
    FROM cands
  ) WHERE rn = 1
),
r2 AS (
  SELECT c.query_id, c.cid, c.rel,
         0.5 * c.rel - 0.5 * p.sim AS mmr
  FROM cands c
  JOIN s1 ON s1.query_id = c.query_id AND c.cid <> s1.cid
  JOIN pairsim p ON p.query_id = c.query_id
                AND p.ca = c.cid AND p.cb = s1.cid
),
s2 AS MATERIALIZED (
  SELECT query_id, cid, rel, mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cid) AS rn
    FROM r2
  ) WHERE rn = 1
),
r3 AS (
  SELECT c.query_id, c.cid, c.rel,
         0.5 * c.rel - 0.5 * greatest(p1.sim, p2.sim) AS mmr
  FROM cands c
  JOIN s1 ON s1.query_id = c.query_id AND c.cid <> s1.cid
  JOIN s2 ON s2.query_id = c.query_id AND c.cid <> s2.cid
  JOIN pairsim p1 ON p1.query_id = c.query_id
                 AND p1.ca = c.cid AND p1.cb = s1.cid
  JOIN pairsim p2 ON p2.query_id = c.query_id
                 AND p2.ca = c.cid AND p2.cb = s2.cid
),
s3 AS (
  SELECT query_id, cid, rel, mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cid) AS rn
    FROM r3
  ) WHERE rn = 1
)"""

_MMR_SQL = (
    _MMR_CTES
    + """
SELECT query_id, 1 AS mmr_rank, cid AS vec_id,
       round(rel, 6) AS cosine, round(mmr, 6) AS mmr_score FROM s1
UNION ALL
SELECT query_id, 2, cid, round(rel, 6), round(mmr, 6) FROM s2
UNION ALL
SELECT query_id, 3, cid, round(rel, 6), round(mmr, 6) FROM s3
"""
)


def _mmr_parts(spark: SparkSession, sf_dir: str):
    """Shared MMR legs: (cands, pairsim, s1, s2, s3) — the pool, the
    pool-pairwise sims, and the three greedy picks; mirrors the
    ``_MMR_CTES`` SQL prefix."""
    from pyspark.sql import Window

    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cid"),
            "embedding",
            cosine_expr("qemb", "embedding").alias("rel"),
        )
    )
    wrel = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "cid")
    cands = (
        scored.withColumn("rnk", F.row_number().over(wrel))
        .filter(F.col("rnk") <= _MMR_POOL)
        .drop("rnk")
        .localCheckpoint(eager=False)  # pool feeds pairsim + every round
    )
    a = cands.select(
        "query_id", F.col("cid").alias("ca"), F.col("embedding").alias("ea")
    )
    b = cands.select(
        F.col("query_id").alias("qb"),
        F.col("cid").alias("cb"),
        F.col("embedding").alias("eb"),
    )
    pairsim = (
        a.join(F.broadcast(b), (a.query_id == b.qb) & (a.ca != b.cb))
        .select("query_id", "ca", "cb", cosine_expr("ea", "eb").alias("sim"))
        .localCheckpoint(eager=False)  # read by rounds 2..k
    )

    def pick(df, score_col):
        w = Window.partitionBy("query_id").orderBy(
            F.col(score_col).desc(), "cid"
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("query_id", "cid", "rel", F.col(score_col).alias("mmr"))
        )

    s1 = F.broadcast(pick(cands.withColumn("mmr0", F.col("rel")), "mmr0"))
    p1 = F.broadcast(pairsim.select(
        F.col("query_id").alias("q1"), F.col("ca").alias("ca1"),
        F.col("cb").alias("cb1"), F.col("sim").alias("sim1"),
    ))
    r2 = (
        cands.join(
            s1.select("query_id", F.col("cid").alias("s1cid")), "query_id"
        )
        .filter(F.col("cid") != F.col("s1cid"))
        .join(
            p1,
            (F.col("q1") == F.col("query_id"))
            & (F.col("ca1") == F.col("cid"))
            & (F.col("cb1") == F.col("s1cid")),
        )
        .select(
            "query_id", "cid", "rel",
            (0.5 * F.col("rel") - 0.5 * F.col("sim1")).alias("mmr2"),
        )
    )
    s2 = F.broadcast(pick(r2, "mmr2"))
    p2 = F.broadcast(pairsim.select(
        F.col("query_id").alias("q2"), F.col("ca").alias("ca2"),
        F.col("cb").alias("cb2"), F.col("sim").alias("sim2"),
    ))
    r3 = (
        cands.join(
            s1.select("query_id", F.col("cid").alias("s1cid")), "query_id"
        )
        .join(
            s2.select(F.col("query_id").alias("qs2"), F.col("cid").alias("s2cid")),
            F.col("qs2") == F.col("query_id"),
        )
        .filter((F.col("cid") != F.col("s1cid")) & (F.col("cid") != F.col("s2cid")))
        .join(
            p1,
            (F.col("q1") == F.col("query_id"))
            & (F.col("ca1") == F.col("cid"))
            & (F.col("cb1") == F.col("s1cid")),
        )
        .join(
            p2,
            (F.col("q2") == F.col("query_id"))
            & (F.col("ca2") == F.col("cid"))
            & (F.col("cb2") == F.col("s2cid")),
        )
        .select(
            cands.query_id, "cid", "rel",
            (
                0.5 * F.col("rel")
                - 0.5 * F.greatest("sim1", "sim2")
            ).alias("mmr3"),
        )
    )
    s3 = pick(r3, "mmr3")
    return cands, pairsim, s1, s2, s3


@register(
    "mmr_diversified_topk",
    oracle=_MMR_SQL,
    doc=f"MMR diversified retrieval (Carbonell-Goldstein): per query the "
    f"top-{_MMR_POOL} relevance pool, then {_MMR_K} greedy picks each "
    "maximizing 0.5*rel - 0.5*max-sim-to-picked with id tie-breaks — the "
    "near-copy-suppressing retrieval step RAG context assembly and "
    "diverse few-shot selection run after ANN",
    tags=("ext", "corpus", "similarity"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: relevance scoring broadcasts the bounded query set over
    the corpus (one narrow pass, the hybrid_search stance) and keeps only
    the per-query pool via TakeOrdered-style rank <= {_MMR_POOL}; the
    greedy stage then touches ONLY pool-sized relations — the pairwise
    sim table is |pool|^2 per query — with per-query windows (bounded
    frames) and broadcast joins of the 1-row-per-query picks. The greedy
    depth is the plan-unroll constant; doubling k adds two bounded
    stages, never another corpus pass."""
    cands, pairsim, s1, s2, s3 = _mmr_parts(spark, sf_dir)

    def out(df, rank):
        return df.select(
            "query_id",
            F.lit(rank).cast("int").alias("mmr_rank"),
            F.col("cid").alias("vec_id"),
            F.round("rel", 6).alias("cosine"),
            F.round("mmr", 6).alias("mmr_score"),
        )

    return out(s1, 1).unionAll(out(s2, 2)).unionAll(out(s3, 3))


# ---------------------------------------------------------------------------
# Earth-mover drift between per-source length distributions: the transport
# metric the drift family was missing next to PSI (embedding_drift_psi)
# and KS (ks_drift_test) — unlike both, EMD weighs HOW FAR mass moved, so
# a one-bin shift and a ten-bin shift stop looking alike. Over a bounded
# fixed-bin histogram, 1-D EMD = sum of |cumulative differences|, which is
# exact integer arithmetic in ppm mass units — zero floats.
# ---------------------------------------------------------------------------
_EMD_BIN_W = 64  # doc-length (tokens) bin width
_EMD_BINS = 32  # fixed bin count; the tail shares the top bin

_EMD_SQL = f"""
WITH lens AS (
  SELECT source,
         least({_EMD_BINS - 1}, CAST(len({_DUCK_TOK}) AS BIGINT)
               // {_EMD_BIN_W}) AS bin
  FROM documents
),
per_src AS (
  SELECT source, bin, CAST(count(*) AS BIGINT) AS c
  FROM lens GROUP BY source, bin
),
src_tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM per_src GROUP BY source
),
gbins AS (
  SELECT bin, CAST(sum(c) AS BIGINT) AS gc FROM per_src GROUP BY bin
),
glob_tot AS (SELECT CAST(sum(gc) AS BIGINT) AS gn FROM gbins),
grid AS (
  SELECT s.source, b.bin,
         coalesce(p.c, 0) AS c, s.n, coalesce(g.gc, 0) AS gc, t.gn
  FROM src_tot s
  CROSS JOIN (SELECT unnest(range(0, {_EMD_BINS})) AS bin) b
  LEFT JOIN per_src p ON p.source = s.source AND p.bin = b.bin
  LEFT JOIN gbins g ON g.bin = b.bin
  CROSS JOIN glob_tot t
),
cum AS (
  SELECT source, bin,
         sum(1000000 * c // n) OVER w AS cum_src_ppm,
         sum(1000000 * gc // gn) OVER w AS cum_glob_ppm
  FROM grid
  WINDOW w AS (PARTITION BY source ORDER BY bin ROWS UNBOUNDED PRECEDING)
)
SELECT source,
       CAST(sum(abs(cum_src_ppm - cum_glob_ppm)) AS BIGINT)
         AS emd_ppm_bins,
       CAST(max(abs(cum_src_ppm - cum_glob_ppm)) AS BIGINT) AS ks_ppm,
       CAST(sum(CASE WHEN cum_src_ppm <> cum_glob_ppm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bins_moved
FROM cum GROUP BY source
"""


@register(
    "length_emd_drift",
    oracle=_EMD_SQL,
    doc=f"Distribution drift as transport cost: 1-D earth-mover distance "
    f"(sum of |cumulative differences| over {_EMD_BINS} fixed "
    f"{_EMD_BIN_W}-token length bins, exact integer ppm-mass units) of "
    "each source's doc-length histogram vs the pooled corpus, with the "
    "KS statistic and moved-bin count riding the same cumsum — the drift "
    "metric that distinguishes a one-bin shift from a ten-bin shift "
    "where PSI and KS cannot",
    tags=("ext", "corpus", "quality"),
)
def length_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one corpus pass into a (source, bin)-keyed aggregate
    (bounded: |sources| * {_EMD_BINS} rows); the grid densification,
    cumulative sums, and EMD rollup all run on that bounded table — the
    windows partition by source over {_EMD_BINS}-row frames."""
    from pyspark.sql import Window

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    lens = docs.select(
        "source",
        F.least(
            F.lit(_EMD_BINS - 1),
            F.expr(f"CAST(size({_SPARK_TOK}) AS BIGINT) div {_EMD_BIN_W}"),
        ).alias("bin"),
    )
    per_src = lens.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_src = per_src.localCheckpoint(eager=False)  # feeds 3 aggregates
    src_tot = per_src.groupBy("source").agg(
        F.sum("c").cast("long").alias("n")
    )
    glob = per_src.groupBy("bin").agg(F.sum("c").cast("long").alias("gc"))
    glob_tot = per_src.agg(F.sum("c").cast("long").alias("gn"))
    bins = spark.range(_EMD_BINS).select(F.col("id").cast("long").alias("bin"))
    grid = (
        src_tot.crossJoin(F.broadcast(bins))
        .join(per_src, ["source", "bin"], "left")
        .join(F.broadcast(glob), "bin", "left")
        .crossJoin(F.broadcast(glob_tot))
        .select(
            "source",
            "bin",
            F.coalesce("c", F.lit(0)).alias("c"),
            "n",
            F.coalesce("gc", F.lit(0)).alias("gc"),
            "gn",
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "source",
        "bin",
        F.sum(F.expr("1000000 * c div n")).over(w).alias("cum_src_ppm"),
        F.sum(F.expr("1000000 * gc div gn")).over(w).alias("cum_glob_ppm"),
    )
    return cum.groupBy("source").agg(
        F.sum(F.abs(F.col("cum_src_ppm") - F.col("cum_glob_ppm")))
        .cast("long")
        .alias("emd_ppm_bins"),
        F.max(F.abs(F.col("cum_src_ppm") - F.col("cum_glob_ppm")))
        .cast("long")
        .alias("ks_ppm"),
        F.sum(
            (F.col("cum_src_ppm") != F.col("cum_glob_ppm")).cast("int")
        )
        .cast("long")
        .alias("n_bins_moved"),
    )


# ---------------------------------------------------------------------------
# Exact-substring INGEST PROBE: incremental form of dedup_exact_substring.
# At 100 TB a new ingest batch must not re-sort the corpus suffix index:
# the (anchor, ext) rows of history are PERSISTED once in the snapshot
# lake, and each batch probes the stored index for its own duplicated
# runs against history — per new doc the longest cross-corpus run, the
# count of >=16-token positions, and the contamination fraction. This is
# also exactly the decontamination shape ("does the new batch overlap the
# held-out set") with history = the protected corpus.
# ---------------------------------------------------------------------------
_SFX_PROBE_SQL = (
    _SFX_BASE_CTES
    + f""",
hist AS (SELECT * FROM sfx WHERE doc_id % 2 = 0),
inc AS (SELECT * FROM sfx WHERE doc_id % 2 = 1),
probe AS (
  SELECT i.doc_id, i.p,
         max({_duck_lcp('i.ext', 'h.ext')}) AS maxdup
  FROM inc i JOIN hist h ON h.anchor = i.anchor
  GROUP BY i.doc_id, i.p
),
agg AS (
  SELECT doc_id,
         CAST(max(maxdup) AS BIGINT) AS longest_hist_dup,
         CAST(sum(CASE WHEN maxdup >= {_SFX_L} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hist_dup_positions
  FROM probe GROUP BY doc_id
)
SELECT d.doc_id, d.source, d.n_tokens,
       coalesce(agg.longest_hist_dup, 0) AS longest_hist_dup,
       coalesce(agg.n_hist_dup_positions, 0) AS n_hist_dup_positions,
       CASE WHEN d.n_tokens >= {_SFX_N} THEN round(
         CAST(coalesce(agg.n_hist_dup_positions, 0) AS DOUBLE)
           / CAST(d.n_tokens - {_SFX_N - 1} AS DOUBLE), 6)
         ELSE 0.0 END AS hist_dup_frac
FROM docs d LEFT JOIN agg ON agg.doc_id = d.doc_id
WHERE d.doc_id % 2 = 1
"""
)

#: Session-scoped scratch lakes for the ingest probe, keyed by sf_dir.
#: One dir per (process, scale factor), wiped at the start of each
#: invocation (snapshot versions would otherwise accumulate) and removed
#: at interpreter exit — repeated bench/correctness runs must not leak the
#: persisted suffix index (one row per corpus position) on disk.
_SFX_PROBE_LAKES: dict[str, str] = {}


def _sfx_probe_lake(sf_dir: str) -> str:
    import atexit
    import os
    import shutil
    import tempfile as _tf

    lake = _SFX_PROBE_LAKES.get(sf_dir)
    if lake is None:
        lake = _tf.mkdtemp(prefix="sfx_index_")
        _SFX_PROBE_LAKES[sf_dir] = lake
        atexit.register(shutil.rmtree, lake, ignore_errors=True)
    else:
        # Fresh invocation: drop the previous snapshot versions. Any
        # still-lazy DataFrame from a PRIOR call goes stale here — the
        # probe's contract is consume-before-recompute.
        shutil.rmtree(lake, ignore_errors=True)
        os.makedirs(lake, exist_ok=True)
    return lake


@register(
    "exact_substring_ingest_probe",
    oracle=_SFX_PROBE_SQL,
    doc="Incremental substring dedup at ingest: the history suffix index "
    "(anchor-keyed 32-token windows) is persisted in the snapshot lake "
    "once; a new batch probes the STORED index for >=16-token exact runs "
    "against history — per new doc the longest cross-corpus run and "
    "contamination fraction. Index maintenance, not corpus recompute; "
    "identical shape to a held-out decontamination check",
    tags=("ext", "corpus", "dedup", "lake"),
)
def exact_substring_ingest_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the probe joins the BATCH's suffix rows against the
    persisted index on the md5 anchor key — cost scales with the batch
    times the anchor-group hit sizes (the documented stop-gram knob;
    boilerplate anchors are exactly where a cap belongs), never with
    corpus x corpus. Per-pair LCP is codegen'd ``zip_with``; the per-
    position max and per-doc rollup are ordinary keyed aggregations. The
    index read comes BACK from the lake manifest, so a persistence bug
    changes the counts and fails the oracle hash. The history/increment
    split is doc_id parity (deterministic)."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_overwrite,
    )

    tok, sfx = _sfx_suffixes(spark, sf_dir)
    sfx = sfx.localCheckpoint(eager=False)  # feeds the index write AND probe

    lake = _sfx_probe_lake(sf_dir)
    hist = sfx.filter(F.col("doc_id") % 2 == 0).withColumn(
        "panchor", F.substring("anchor", 1, 1)
    )
    snapshot_overwrite(spark, hist, lake, partition_col="panchor")

    index = read_snapshot(spark, lake).select(
        F.col("anchor").alias("h_anchor"), F.col("ext").alias("h_ext")
    )
    inc = sfx.filter(F.col("doc_id") % 2 == 1)
    probe = (
        inc.join(index, inc["anchor"] == index["h_anchor"])
        .selectExpr(
            "doc_id",
            "p",
            f"{_spark_lcp('ext', 'h_ext')} AS lcp",
        )
        .groupBy("doc_id", "p")
        .agg(F.max("lcp").alias("maxdup"))
    )
    agg = probe.groupBy("doc_id").agg(
        F.max("maxdup").cast("long").alias("longest_hist_dup"),
        F.sum((F.col("maxdup") >= _SFX_L).cast("long"))
        .cast("long")
        .alias("n_hist_dup_positions"),
    )
    out = (
        tok.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "source", "n_tokens")
        .join(agg, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce("longest_hist_dup", F.lit(0))
        .cast("long")
        .alias("longest_hist_dup"),
        F.coalesce("n_hist_dup_positions", F.lit(0))
        .cast("long")
        .alias("n_hist_dup_positions"),
        F.when(
            F.col("n_tokens") >= _SFX_N,
            F.round(
                F.coalesce("n_hist_dup_positions", F.lit(0)).cast("double")
                / (F.col("n_tokens") - F.lit(_SFX_N - 1)).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("hist_dup_frac"),
    )


# ---------------------------------------------------------------------------
# Held-out perplexity: the eval-hygiene twin of doc_surprisal_score. The
# unigram LM is fit on the md5-deterministic TRAIN split only and scores
# the HELD-OUT split (Laplace add-one over the train vocabulary, so OOV
# tokens get the max cost instead of crashing the log) — the
# generalization gap (held-out minus train mean bits) is the number that
# catches leakage, over-filtering, and distribution mismatch before a
# training run does. Integer floor-log2 bits end to end.
# ---------------------------------------------------------------------------
_HELDOUT_PCT = 20  # md5(doc_id) bucket: ~20% held out

_HELDOUT_SQL = f"""
WITH split AS (
  SELECT doc_id, source, text,
         {duck_hash_uniform('doc_id')} * 100 < {_HELDOUT_PCT} * 4294967296
           AS held_out
  FROM documents
),
tok AS (
  SELECT doc_id, source, held_out, unnest({_DUCK_TOK}) AS t FROM split
),
vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE NOT held_out GROUP BY t
),
vstats AS (
  SELECT CAST(sum(c) AS BIGINT) AS train_total,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
),
scored AS (
  SELECT tok.source, tok.held_out,
         CAST(length(bin((s.train_total + s.v + 1)
                         // (coalesce(vc.c, 0) + 1))) - 1 AS BIGINT) AS bits,
         CASE WHEN vc.c IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok
  LEFT JOIN vocab vc ON vc.t = tok.t
  CROSS JOIN vstats s
)
SELECT source,
       CAST(sum(CASE WHEN held_out THEN 1 ELSE 0 END) AS BIGINT)
         AS heldout_tokens,
       CAST(sum(CASE WHEN NOT held_out THEN 1 ELSE 0 END) AS BIGINT)
         AS train_tokens,
       CAST(1000000 * sum(CASE WHEN held_out THEN bits ELSE 0 END)
            // sum(CASE WHEN held_out THEN 1 ELSE 0 END) AS BIGINT)
         AS heldout_micro_bits,
       CAST(1000000 * sum(CASE WHEN NOT held_out THEN bits ELSE 0 END)
            // sum(CASE WHEN NOT held_out THEN 1 ELSE 0 END) AS BIGINT)
         AS train_micro_bits,
       CAST(1000000 * sum(CASE WHEN held_out THEN bits ELSE 0 END)
            // sum(CASE WHEN held_out THEN 1 ELSE 0 END)
          - 1000000 * sum(CASE WHEN NOT held_out THEN bits ELSE 0 END)
            // sum(CASE WHEN NOT held_out THEN 1 ELSE 0 END) AS BIGINT)
         AS generalization_gap_micro,
       CAST(1000000 * sum(CASE WHEN held_out THEN oov ELSE 0 END)
            // sum(CASE WHEN held_out THEN 1 ELSE 0 END) AS BIGINT)
         AS heldout_oov_ppm
FROM scored
GROUP BY source
HAVING sum(CASE WHEN held_out THEN 1 ELSE 0 END) > 0
   AND sum(CASE WHEN NOT held_out THEN 1 ELSE 0 END) > 0
"""


@register(
    "heldout_unigram_perplexity",
    oracle=_HELDOUT_SQL,
    doc=f"Eval hygiene: unigram LM fit on the md5-deterministic "
    f"{100 - _HELDOUT_PCT}% train split, scored on the {_HELDOUT_PCT}% "
    "held-out split with Laplace add-one (OOV gets the max cost) — per "
    "source the held-out vs train mean surprisal, the generalization gap "
    "that catches leakage/over-filtering, and the held-out OOV rate; "
    "integer floor-log2 bits throughout",
    tags=("ext", "corpus", "quality", "eval"),
)
def heldout_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one corpus pass tags the split (a pure md5 projection —
    no shuffle); the train-only vocabulary is Heaps-bounded and BROADCASTS
    into the single scoring pass over ALL tokens (train and held-out score
    in the same pass, split by a CASE); the rollup keys on the bounded
    source dimension."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "source",
        "text",
        (hash_uniform("doc_id") * 100 < _HELDOUT_PCT * 4294967296).alias(
            "held_out"
        ),
    )
    tok = split.select(
        "source", "held_out", F.explode(F.expr(_SPARK_TOK)).alias("t")
    )
    tok = tok.localCheckpoint(eager=False)  # feeds vocab AND scoring
    vocab = tok.filter(~F.col("held_out")).groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vstats = vocab.agg(
        F.sum("c").cast("long").alias("train_total"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    scored = (
        tok.join(F.broadcast(vocab), "t", "left")
        .crossJoin(F.broadcast(vstats))
        .select(
            "source",
            "held_out",
            F.expr(
                "CAST(length(bin((train_total + v + 1) div (coalesce(c, 0)"
                " + 1))) - 1 AS BIGINT)"
            ).alias("bits"),
            F.col("c").isNull().cast("int").alias("oov"),
        )
    )
    ho = F.when(F.col("held_out"), F.col("bits")).otherwise(0)
    tr = F.when(~F.col("held_out"), F.col("bits")).otherwise(0)
    hn = F.sum(F.col("held_out").cast("int"))
    tn = F.sum((~F.col("held_out")).cast("int"))
    return (
        scored.groupBy("source")
        .agg(
            hn.cast("long").alias("heldout_tokens"),
            tn.cast("long").alias("train_tokens"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN held_out THEN bits ELSE 0 END)"
                " div sum(CASE WHEN held_out THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("heldout_micro_bits"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN NOT held_out THEN bits ELSE 0 END)"
                " div sum(CASE WHEN NOT held_out THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("train_micro_bits"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN held_out THEN bits ELSE 0 END)"
                " div sum(CASE WHEN held_out THEN 1 ELSE 0 END)"
                " - 1000000 * sum(CASE WHEN NOT held_out THEN bits ELSE 0 END)"
                " div sum(CASE WHEN NOT held_out THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("generalization_gap_micro"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN held_out THEN oov ELSE 0 END)"
                " div sum(CASE WHEN held_out THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("heldout_oov_ppm"),
        )
        .filter(
            (F.col("heldout_tokens") > 0) & (F.col("train_tokens") > 0)
        )
    )


# ---------------------------------------------------------------------------
# Directional source containment over content shingles: where
# source_overlap_jaccard compares WHOLE-DOC hashes (symmetric, misses
# partial mirrors), this measures, per ordered source pair, what fraction
# of A's distinct 3-gram shingles also occur in B — the asymmetric
# "is A essentially inside B" signal (CommonCrawl-derivative detection)
# that decides whether two sources should dedup jointly, and in which
# direction survivorship should point.
# ---------------------------------------------------------------------------
_CONTAIN_SQL = f"""
WITH sh AS (
  SELECT DISTINCT source, unnest({duck_shingles()}) AS s FROM documents
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_shingles
  FROM sh GROUP BY source
),
sets AS (
  SELECT s, list_sort(list(source)) AS srcs FROM sh GROUP BY s
),
combos AS (
  SELECT srcs, CAST(count(*) AS BIGINT) AS cnt FROM sets GROUP BY srcs
),
pairs AS (
  SELECT a AS source_a, b AS source_b, CAST(sum(cnt) AS BIGINT) AS n_common
  FROM (
    SELECT cnt, unnest(srcs) AS a, srcs FROM combos
  ), LATERAL (SELECT unnest(srcs) AS b) u
  WHERE a <> b
  GROUP BY a, b
)
SELECT sa.source AS source_a, sb.source AS source_b,
       sa.n_shingles AS n_shingles_a,
       coalesce(i.n_common, 0) AS n_common,
       CAST(1000000 * coalesce(i.n_common, 0) // sa.n_shingles AS BIGINT)
         AS containment_ppm
FROM sizes sa
JOIN sizes sb ON sa.source <> sb.source
LEFT JOIN pairs i ON i.source_a = sa.source AND i.source_b = sb.source
"""


@register(
    "source_containment_matrix",
    oracle=_CONTAIN_SQL,
    doc="Corpus audit: directional containment matrix — per ordered source "
    "pair, the ppm fraction of A's distinct 3-gram shingles that also "
    "occur in B; the asymmetric partial-mirror signal (doc-hash overlap "
    "misses near-derivatives) that orients joint dedup and survivorship",
    tags=("ext", "corpus", "dedup", "bench"),
)
def source_containment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: NO shingle self-join, and the corpus crosses exactly
    ONE shuffle. Shingles are deduped WITHIN each doc (``array_distinct``
    before the explode — pure map work) and the (source, shingle) distinct
    is folded into the shingle-keyed ``collect_set`` aggregation, whose
    map-side partial dedups before the exchange. Everything downstream of
    that single aggregation is bounded metadata: per-shingle SOURCE SETS
    (<= |sources| wide), distinct-set counts (<= 2^|sources| rows in
    theory, hundreds in practice), per-source sizes from exploding the
    counted sets. Pair counts never touch per-shingle pairs, so work is
    linear in shingle positions regardless of how many sources share a
    shingle — the saturation blow-up the naive self-join formulation
    measured (growth exponent 0.79) is gone, and the round-5 version's
    second corpus-scale shuffle (a pre-aggregation ``distinct``) with it."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    # Round-10: pin COMBOS (distinct source-sets, hundreds of rows), not the
    # per-shingle SETS relation (~|distinct shingles| rows). Same two
    # exchanges either way, but the checkpoint materializes a tiny relation
    # instead of a corpus-scale one, and per-source sizes fold from the
    # counted combos by linearity (n_shingles(src) = sum of cnt over combos
    # containing src — exactly the old explode-the-sets count), so the
    # second corpus-scale consumer scan AND its checkpoint are gone
    # (guide section 2: fewer materializations on the serial path).
    combos = (
        with_shingles(docs)
        .select(
            "source",
            F.explode(F.array_distinct("sh")).alias("s"),
        )
        .groupBy("s")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .groupBy("srcs")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds sizes AND the pair fold
    )
    sizes = F.broadcast(
        combos.select(F.explode("srcs").alias("source"), "cnt")
        .groupBy("source")
        .agg(F.sum("cnt").cast("long").alias("n_shingles"))
    )
    pairs = (
        combos.select("cnt", F.explode("srcs").alias("source_a"), "srcs")
        .select("cnt", "source_a", F.explode("srcs").alias("source_b"))
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum("cnt").cast("long").alias("n_common"))
    )
    grid = (
        sizes.select(F.col("source").alias("source_a"), "n_shingles")
        .crossJoin(
            F.broadcast(sizes.select(F.col("source").alias("source_b")))
        )
        .filter(F.col("source_a") != F.col("source_b"))
    )
    return grid.join(pairs, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.col("n_shingles").alias("n_shingles_a"),
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.expr(
            "CAST(1000000 * coalesce(n_common, 0) div n_shingles AS BIGINT)"
        ).alias("containment_ppm"),
    )


# ---------------------------------------------------------------------------
# MMR diversity audit: what did diversification BUY and COST? Per query,
# compare the MMR picks against the plain relevance top-k on two axes —
# mean relevance (the cost) and mean intra-set pairwise similarity (the
# gain) — in order-free integer micro-cosines (each value is rounded to
# micro units BEFORE summing, so group aggregation order cannot perturb
# the mean). The sheet that justifies (or rejects) the lambda choice.
# ---------------------------------------------------------------------------
_MMR_AUDIT_SQL = (
    _MMR_CTES
    + f""",
picks_mmr AS (
  SELECT query_id, cid, rel FROM s1
  UNION ALL SELECT query_id, cid, rel FROM s2
  UNION ALL SELECT query_id, cid, rel FROM s3
),
picks_top AS (
  SELECT query_id, cid, rel FROM (
    SELECT query_id, cid, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, cid) AS rn
    FROM cands
  ) WHERE rn <= {_MMR_K}
),
rels AS (
  SELECT m.query_id,
         CAST(count(*) AS BIGINT) AS n_picks,
         CAST(sum(CAST(round(t.rel * 1000000) AS BIGINT)) // count(*)
              AS BIGINT) AS rel_top_micro,
         CAST(sum(CAST(round(m.rel * 1000000) AS BIGINT)) // count(*)
              AS BIGINT) AS rel_mmr_micro
  FROM (SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id ORDER BY cid) AS i
        FROM picks_mmr) m
  JOIN (SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id ORDER BY cid) AS i
        FROM picks_top) t
    ON t.query_id = m.query_id AND t.i = m.i
  GROUP BY m.query_id
),
intra AS (
  SELECT a.query_id, 'mmr' AS tag,
         CAST(sum(CAST(round(p.sim * 1000000) AS BIGINT)) // count(*)
              AS BIGINT) AS intra_micro
  FROM picks_mmr a
  JOIN picks_mmr b ON b.query_id = a.query_id AND a.cid < b.cid
  JOIN pairsim p ON p.query_id = a.query_id
                AND p.ca = a.cid AND p.cb = b.cid
  GROUP BY a.query_id
  UNION ALL
  SELECT a.query_id, 'top',
         CAST(sum(CAST(round(p.sim * 1000000) AS BIGINT)) // count(*)
              AS BIGINT)
  FROM picks_top a
  JOIN picks_top b ON b.query_id = a.query_id AND a.cid < b.cid
  JOIN pairsim p ON p.query_id = a.query_id
                AND p.ca = a.cid AND p.cb = b.cid
  GROUP BY a.query_id
)
SELECT r.query_id, r.n_picks, r.rel_top_micro, r.rel_mmr_micro,
       coalesce(it.intra_micro, 0) AS intra_top_micro,
       coalesce(im.intra_micro, 0) AS intra_mmr_micro,
       coalesce(it.intra_micro, 0) - coalesce(im.intra_micro, 0)
         AS diversity_gain_micro,
       r.rel_top_micro - r.rel_mmr_micro AS relevance_cost_micro
FROM rels r
LEFT JOIN intra im ON im.query_id = r.query_id AND im.tag = 'mmr'
LEFT JOIN intra it ON it.query_id = r.query_id AND it.tag = 'top'
"""
)


@register(
    "mmr_diversity_audit",
    oracle=_MMR_AUDIT_SQL,
    doc="The lambda justification sheet for MMR: per query, mean relevance "
    "and mean intra-set pairwise cosine of the MMR picks vs the plain "
    "relevance top-k (order-free integer micro-cosines — values rounded "
    "to micro units BEFORE summing), with the diversity gain and the "
    "relevance cost side by side",
    tags=("ext", "corpus", "similarity"),
)
def mmr_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: shares `_mmr_parts` with the retrieval query — one
    corpus-scale broadcast pass, then everything here runs on pick-sized
    relations (3 rows per query, 3 intra pairs) with broadcast joins and
    per-query windows. Micro-rounding before summation makes every mean
    independent of aggregation order."""
    from pyspark.sql import Window

    cands, pairsim, s1, s2, s3 = _mmr_parts(spark, sf_dir)
    picks_mmr = (
        s1.select("query_id", "cid", "rel")
        .unionAll(s2.select("query_id", "cid", "rel"))
        .unionAll(s3.select("query_id", "cid", "rel"))
        .localCheckpoint(eager=False)  # rels AND intra legs
    )
    wtop = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "cid")
    picks_top = (
        cands.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _MMR_K)
        .select("query_id", "cid", "rel")
        .localCheckpoint(eager=False)
    )
    def rel_mean(df, name):
        return df.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{name}"),
            F.expr(
                "CAST(sum(CAST(round(rel * 1000000) AS BIGINT))"
                " div count(1) AS BIGINT)"
            ).alias(f"rel_{name}_micro"),
        )

    def intra_mean(df, name):
        a = df.select("query_id", F.col("cid").alias("ia"))
        b = df.select(
            F.col("query_id").alias("qb"), F.col("cid").alias("ib")
        )
        pj = pairsim.select(
            F.col("query_id").alias("qp"), "ca", "cb", "sim"
        )
        return (
            a.join(F.broadcast(b), (a.query_id == b.qb) & (a.ia < b.ib))
            .join(
                F.broadcast(pj),
                (F.col("qp") == F.col("query_id"))
                & (F.col("ca") == F.col("ia"))
                & (F.col("cb") == F.col("ib")),
            )
            .groupBy("query_id")
            .agg(
                F.expr(
                    "CAST(sum(CAST(round(sim * 1000000) AS BIGINT))"
                    " div count(1) AS BIGINT)"
                ).alias(f"intra_{name}_micro")
            )
        )

    rels = rel_mean(picks_top, "top").join(
        rel_mean(picks_mmr, "mmr"), "query_id"
    )
    out = (
        rels.join(intra_mean(picks_top, "top"), "query_id", "left")
        .join(intra_mean(picks_mmr, "mmr"), "query_id", "left")
    )
    return out.select(
        "query_id",
        F.col("n_mmr").alias("n_picks"),
        "rel_top_micro",
        "rel_mmr_micro",
        F.coalesce("intra_top_micro", F.lit(0))
        .cast("long")
        .alias("intra_top_micro"),
        F.coalesce("intra_mmr_micro", F.lit(0))
        .cast("long")
        .alias("intra_mmr_micro"),
        (
            F.coalesce("intra_top_micro", F.lit(0))
            - F.coalesce("intra_mmr_micro", F.lit(0))
        )
        .cast("long")
        .alias("diversity_gain_micro"),
        (F.col("rel_top_micro") - F.col("rel_mmr_micro"))
        .cast("long")
        .alias("relevance_cost_micro"),
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by the log-likelihood ratio
# of a TARGET distribution vs the RAW distribution under hashed-bigram
# unigram models. Here the target is the English slice (the "domain you
# want more of"); features are md5-hashed bigrams in 1024 buckets; both
# models are Laplace-smoothed bucket frequencies; the per-bucket log ratio
# is the floor-log2 bits device (length(bin(tot // (c+1))) differences),
# so weights are exact integers in both engines.
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 1024
_DSIR_TARGET_LANG = "en"

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, {_DUCK_TOK} AS t FROM documents
),
bg AS (
  SELECT doc_id, lang, unnest({_duck_ngrams('t', 2)}) AS g FROM tok
),
bk AS (
  SELECT doc_id, lang,
         {duck_hash_uniform('g')} % {_DSIR_BUCKETS} AS bucket
  FROM bg
),
counts AS MATERIALIZED (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS c_r,
         CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
  FROM bk GROUP BY bucket
),
tots AS (
  SELECT CAST(sum(c_r) + {_DSIR_BUCKETS} AS BIGINT) AS tot_r,
         CAST(sum(c_t) + {_DSIR_BUCKETS} AS BIGINT) AS tot_t
  FROM counts
),
delta AS (
  SELECT c.bucket,
         CAST(length(bin(t.tot_r // (c.c_r + 1)))
              - length(bin(t.tot_t // (c.c_t + 1))) AS BIGINT) AS dbits
  FROM counts c CROSS JOIN tots t
),
scored AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(d.dbits) AS BIGINT) AS dsir_weight_bits
  FROM bk b JOIN delta d ON d.bucket = b.bucket
  GROUP BY b.doc_id
)
SELECT t.doc_id, t.lang,
       coalesce(s.n_bigrams, 0) AS n_bigrams,
       coalesce(s.dsir_weight_bits, 0) AS dsir_weight_bits,
       coalesce(s.dsir_weight_bits, 0) > 0 AS target_leaning
FROM tok t LEFT JOIN scored s ON s.doc_id = t.doc_id
"""


@register(
    "dsir_importance_weights",
    oracle=_DSIR_SQL,
    doc="DSIR data selection (Xie et al. 2023): per-doc importance weight "
    "= hashed-bigram log-likelihood ratio of the English target slice vs "
    "the raw corpus (1024 md5 buckets, Laplace-smoothed, exact floor-log2 "
    "integer bits) with the target-leaning selection flag — the importance-"
    "resampling scorer that upsamples domain-matched raw data",
    tags=("ext", "corpus", "curation"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one exploded-bigram pass builds the 1024-bucket count
    table (keyed aggregation with map-side partials onto a FIXED key
    space); totals ride a 1-row cross join; the per-doc score re-joins the
    exploded stream against the BROADCAST 1024-row delta table and folds
    per doc_id. Nothing anywhere scales worse than the token stream, and
    the model state is bucket-bounded exactly as in the paper."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    tok = docs.select(
        "doc_id", "lang", F.expr(_SPARK_TOK).alias("t")
    ).localCheckpoint(eager=False)  # feeds the bigram stream AND final join
    bk = tok.select(
        "doc_id",
        "lang",
        F.explode(F.expr(_spark_ngrams("t", 2))).alias("g"),
    ).select(
        "doc_id",
        "lang",
        (hash_uniform("g") % _DSIR_BUCKETS).alias("bucket"),
    ).localCheckpoint(eager=False)  # feeds the count pass AND the scoring pass
    counts = bk.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c_r"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("long").alias("c_t"),
    )
    tots = counts.agg(
        (F.sum("c_r") + F.lit(_DSIR_BUCKETS)).cast("long").alias("tot_r"),
        (F.sum("c_t") + F.lit(_DSIR_BUCKETS)).cast("long").alias("tot_t"),
    )
    delta = counts.crossJoin(F.broadcast(tots)).select(
        "bucket",
        F.expr(
            "CAST(length(bin(tot_r div (c_r + 1)))"
            " - length(bin(tot_t div (c_t + 1))) AS BIGINT)"
        ).alias("dbits"),
    )
    scored = (
        bk.join(F.broadcast(delta), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("dbits").cast("long").alias("dsir_weight_bits"),
        )
    )
    return tok.select("doc_id", "lang").join(scored, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("dsir_weight_bits", F.lit(0)).cast("long").alias("dsir_weight_bits"),
        (F.coalesce("dsir_weight_bits", F.lit(0)) > 0).alias("target_leaning"),
    )


# ---------------------------------------------------------------------------
# Eval-benchmark contamination check — the GPT-3 appendix-C / PaLM
# methodology: a training document is contaminated if it shares any
# 13-gram with the held-out evaluation set. The "benchmark" here is the
# deterministic ~1% doc slice (md5 % 97 == 0) standing in for an external
# eval set; the report is the per-source contamination sheet a release
# runs before training.
# ---------------------------------------------------------------------------
_CONTAM_N = 13
_CONTAM_MOD = 97
#: Bounded-benchmark slice (round-8): a FIXED 1/97 fraction made the
#: "bounded broadcast" eval-gram index grow linearly with the corpus
#: (measured ~4M grams at the 5M-doc sf100 tier — exponent 1.24 on
#: contamination_span_stats). Real benchmarks are constant-size, so the
#: slice mod is now DERIVED: mod = greatest(97, ceil(n / 512)) caps the
#: eval slice at ~512 docs at every tier while leaving sf <= 0.1 outputs
#: bit-identical (their ceil(n/512) < 97). Same formula in both engines.
_CONTAM_EVAL_TARGET = 512


def _contam_eval_mod(n_docs: int) -> int:
    return max(
        _CONTAM_MOD,
        (n_docs + _CONTAM_EVAL_TARGET - 1) // _CONTAM_EVAL_TARGET,
    )


#: DuckDB twin of _contam_eval_mod over the documents view.
_CONTAM_DUCK_MOD = (
    f"(SELECT greatest({_CONTAM_MOD}, (count(*) + {_CONTAM_EVAL_TARGET - 1})"
    f" // {_CONTAM_EVAL_TARGET}) FROM documents)"
)

_CONTAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, {_DUCK_TOK} AS t,
         {duck_hash_uniform('doc_id')} % {_CONTAM_DUCK_MOD} = 0 AS is_bench
  FROM documents
),
grams AS (
  SELECT doc_id, source, is_bench,
         unnest(list_distinct({_duck_ngrams('t', _CONTAM_N)})) AS g
  FROM tok
),
bench_grams AS MATERIALIZED (
  SELECT DISTINCT g FROM grams WHERE is_bench
),
hits AS (
  SELECT DISTINCT gr.doc_id
  FROM grams gr JOIN bench_grams b ON b.g = gr.g
  WHERE NOT gr.is_bench
),
train AS (
  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens
  FROM tok WHERE NOT is_bench
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_train_docs,
       CAST(sum(CASE WHEN t.n_tokens >= {_CONTAM_N} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_checkable_docs,
       CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
       CAST(1000000 * count(h.doc_id) // count(*) AS BIGINT)
         AS contamination_ppm
FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
GROUP BY t.source
"""


@register(
    "eval_contamination_13gram",
    oracle=_CONTAM_SQL,
    doc=f"Benchmark-contamination check (the GPT-3/PaLM {_CONTAM_N}-gram "
    "rule): per source, how many training docs share any 13-gram with the "
    "deterministic ~1% eval slice — the decontamination sheet a release "
    "runs before training; docs shorter than 13 tokens are reported as "
    "uncheckable",
    tags=("ext", "corpus", "dedup", "eval"),
)
def eval_contamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the benchmark's distinct 13-grams are bounded by the
    EVAL SET size (tiny by construction — real benchmarks are thousands of
    docs, not billions), so the contamination probe is one broadcast
    semi-join against the exploded training grams; per-doc grams are
    deduped before the explode. Nothing shuffles wider than the per-source
    rollup."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.expr(_SPARK_TOK).alias("t"),
        (hash_uniform("doc_id") % F.lit(_contam_eval_mod(corpus_count(spark, sf_dir))) == 0).alias("is_bench"),
    ).localCheckpoint(eager=False)  # feeds bench grams, train grams, rollup
    grams = tok.select(
        "doc_id",
        "is_bench",
        F.explode(
            F.expr(f"array_distinct({_spark_ngrams('t', _CONTAM_N)})")
        ).alias("g"),
    )
    bench_grams = grams.filter("is_bench").select("g").distinct()
    hits = (
        grams.filter(~F.col("is_bench"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    train = tok.filter(~F.col("is_bench")).select(
        "doc_id", "source", F.expr("CAST(size(t) AS BIGINT)").alias("n_tokens")
    )
    return (
        train.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum(
                F.when(F.col("n_tokens") >= _CONTAM_N, 1).otherwise(0)
            ).cast("long").alias("n_checkable_docs"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias(
                "n_contaminated"
            ),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN hit THEN 1 ELSE 0 END)"
                " div count(*) AS BIGINT)"
            ).alias("contamination_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup benchmark decontamination — the FUZZY complement of the 13-gram
# rule above (the Llama-2 / GPT-4 practice: exact n-gram overlap misses
# reformatted or lightly-edited benchmark copies, so releases also run a
# MinHash near-dup pass between the training corpus and the eval set).
# Same deterministic ~1% eval slice; blocking = the production MinHash
# band index of the EVAL side (bounded, broadcast), verify = exact integer
# Jaccard dominance at tau = 0.5 on word-3-gram shingle sets.
# ---------------------------------------------------------------------------
_NDCON_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, source, {duck_shingles('text', 3)} AS sh,
         {duck_hash_uniform('doc_id')} % {_CONTAM_DUCK_MOD} = 0 AS is_bench
  FROM documents
),
mh AS MATERIALIZED (
  SELECT doc_id, {duck_minhash_cols()} FROM sh
),
bands AS MATERIALIZED (
  {duck_band_union()}
),
bench_bands AS MATERIALIZED (
  SELECT b.band_idx, b.band_key, b.doc_id AS eval_id
  FROM bands b JOIN sh f ON f.doc_id = b.doc_id
  WHERE f.is_bench
),
cand AS (
  SELECT DISTINCT b.doc_id AS train_id, e.eval_id
  FROM bands b
  JOIN sh f ON f.doc_id = b.doc_id AND NOT f.is_bench
  JOIN bench_bands e ON e.band_idx = b.band_idx AND e.band_key = b.band_key
),
ver AS (
  SELECT DISTINCT c.train_id
  FROM cand c
  JOIN sh t ON t.doc_id = c.train_id
  JOIN sh e ON e.doc_id = c.eval_id
  WHERE 2 * len(list_intersect(t.sh, e.sh))
        >= len(t.sh) + len(e.sh) - len(list_intersect(t.sh, e.sh))
),
cd AS (SELECT DISTINCT train_id FROM cand),
train AS (SELECT doc_id, source FROM sh WHERE NOT is_bench)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_train_docs,
       CAST(count(c.train_id) AS BIGINT) AS n_candidate_docs,
       CAST(count(v.train_id) AS BIGINT) AS n_flagged,
       CAST(1000000 * count(v.train_id) // count(*) AS BIGINT) AS flagged_ppm
FROM train t
LEFT JOIN cd c ON c.train_id = t.doc_id
LEFT JOIN ver v ON v.train_id = t.doc_id
GROUP BY t.source
"""


@register(
    "eval_decontamination_neardup",
    oracle=_NDCON_SQL,
    doc="Near-dup benchmark decontamination (the Llama-2/GPT-4 fuzzy "
    "complement of the 13-gram rule): per source, training docs sharing a "
    "MinHash LSH band with the deterministic ~1% eval slice, then verified "
    "at exact word-3-gram Jaccard >= 0.5 (integer dominance test) — "
    "catches reformatted benchmark copies exact n-gram overlap misses",
    tags=("ext", "corpus", "dedup", "eval"),
)
def eval_decontamination_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the eval set is bounded by construction (real
    benchmarks are thousands of docs), so its band index BROADCASTS and the
    training side never shuffles — band explode is a narrow map, the probe
    a broadcast hash join, and the exact-Jaccard verify touches only
    candidate pairs (eval shingle sets ride the same broadcast). The only
    exchange is the final per-source rollup."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    sh = (
        with_shingles(docs)
        .select(
            "doc_id",
            "source",
            "sh",
            (hash_uniform("doc_id") % F.lit(_contam_eval_mod(corpus_count(spark, sf_dir))) == 0).alias("is_bench"),
        )
        .localCheckpoint(eager=False)  # feeds bands, verify sides, rollup
    )
    bands_long = with_bands(with_minhash(sh)).select(
        "doc_id",
        "is_bench",
        F.posexplode(
            F.array(*[F.col(f"band_{b}") for b in range(LSH_BANDS)])
        ).alias("band_idx", "band_key"),
    )
    bench_bands = bands_long.filter("is_bench").select(
        "band_idx", "band_key", F.col("doc_id").alias("eval_id")
    )
    cand = (
        bands_long.filter(~F.col("is_bench"))
        .join(F.broadcast(bench_bands), ["band_idx", "band_key"])
        .select(F.col("doc_id").alias("train_id"), "eval_id")
        .distinct()
    )
    tsh = sh.select(F.col("doc_id").alias("train_id"), F.col("sh").alias("sh_t"))
    esh = sh.filter("is_bench").select(
        F.col("doc_id").alias("eval_id"), F.col("sh").alias("sh_e")
    )
    ver = (
        cand.join(tsh, "train_id")
        .join(F.broadcast(esh), "eval_id")
        .withColumn("isz", F.expr("size(array_intersect(sh_t, sh_e))"))
        .filter(
            F.col("isz") * 2 >= F.expr("size(sh_t)") + F.expr("size(sh_e)") - F.col("isz")
        )
        .select("train_id")
        .distinct()
        .withColumn("flagged", F.lit(True))
    )
    cd = cand.select("train_id").distinct().withColumn("is_cand", F.lit(True))
    train = sh.filter(~F.col("is_bench")).select(
        F.col("doc_id").alias("train_id"), "source"
    )
    return (
        train.join(cd, "train_id", "left")
        .join(ver, "train_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.count_if(F.col("is_cand")).cast("long").alias("n_candidate_docs"),
            F.count_if(F.col("flagged")).cast("long").alias("n_flagged"),
            F.expr(
                "CAST(1000000 * count_if(flagged) div count(*) AS BIGINT)"
            ).alias("flagged_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming decontamination gate — the continuous-ingest twin of
# eval_contamination_13gram. In production the benchmark set exists BEFORE
# the crawl, so the eval 13-gram index is registered once as a lake
# snapshot; every micro-batch of incoming training docs probes it
# (broadcast semi-join) and appends its per-doc verdicts as a lake commit.
# The flag is a pure function of (doc, static index) — batch slicing cannot
# change it — so the cumulative sheet IS the batch twin's relation and
# _CONTAM_SQL is the oracle verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_decontamination_gate",
    oracle=_CONTAM_SQL,
    doc="Streaming ingest-time benchmark decontamination: the eval slice's "
    f"{_CONTAM_N}-gram index is persisted once (benchmarks predate the "
    "crawl); each micro-batch of training docs probes it with a broadcast "
    "semi-join and appends per-doc verdicts as atomic lake commits; the "
    "cumulative per-source sheet value-hashes against the batch twin's SQL",
    tags=("ext", "corpus", "dedup", "eval", "streaming", "lake"),
)
def streaming_decontamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per batch the probe cost scales with the INGEST, not
    the corpus — gram explode is a narrow map over the batch, the index is
    bounded by the eval set (broadcast), and the verdict append is an
    atomic manifest commit; nothing ever re-reads or re-tokenizes history.
    The final rollup reads the verdict lake, not the stream lineage, so a
    persistence bug changes the counts and fails the oracle hash."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
        snapshot_history,
        snapshot_overwrite,
    )

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    is_bench = (
        hash_uniform("doc_id")
        % F.lit(_contam_eval_mod(corpus_count(spark, sf_dir)))
        == 0
    )

    # Register the benchmark once: its distinct 13-grams become the gate's
    # persisted index (read back through the manifest, never the lineage).
    gram_lake = _tf.mkdtemp(prefix="decon_gate_grams_")
    bench_grams = (
        docs.filter(is_bench)
        .select(F.expr(_SPARK_TOK).alias("t"))
        .select(
            F.explode(
                F.expr(f"array_distinct({_spark_ngrams('t', _CONTAM_N)})")
            ).alias("g")
        )
        .distinct()
        .withColumn("p", F.lit("all"))
    )
    snapshot_overwrite(spark, bench_grams, gram_lake, partition_col="p")

    train = docs.filter(~is_bench)
    stream, _ = replay_feed(
        spark,
        [train.filter(F.pmod(F.col("doc_id"), F.lit(2)) == i) for i in range(2)],
        "decon_gate_src_",
    )

    flags_lake = _tf.mkdtemp(prefix="decon_gate_flags_")

    def _gate(batch_df, batch_id: int) -> None:
        tok = batch_df.select(
            "doc_id", "source", F.expr(_SPARK_TOK).alias("t")
        ).localCheckpoint(eager=False)  # feeds the probe AND the verdicts
        grams = tok.select(
            "doc_id",
            F.explode(
                F.expr(f"array_distinct({_spark_ngrams('t', _CONTAM_N)})")
            ).alias("g"),
        )
        idx = read_snapshot(spark, gram_lake).select("g")
        hits = (
            grams.join(F.broadcast(idx), "g", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("hit", F.lit(True))
        )
        verdicts = (
            tok.select(
                "doc_id",
                "source",
                F.expr("CAST(size(t) AS BIGINT)").alias("n_tokens"),
            )
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                "source",
                "n_tokens",
                F.coalesce("hit", F.lit(False)).alias("hit"),
            )
            .withColumn("p", F.lit("all"))
        )
        snapshot_append(spark, verdicts, flags_lake, partition_col="p")

    drain(stream.writeStream.foreachBatch(_gate), "decontamination_gate")
    if len(snapshot_history(spark, flags_lake)) != 2:
        raise RuntimeError("gate drive incomplete: expected 2 verdict commits")
    flags = read_snapshot(spark, flags_lake)
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_docs"),
        F.sum(
            F.when(F.col("n_tokens") >= _CONTAM_N, 1).otherwise(0)
        ).cast("long").alias("n_checkable_docs"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias(
            "n_contaminated"
        ),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN hit THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("contamination_ppm"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): slide a w-window over the k-gram hash sequence and select
# each window's RIGHTMOST MINIMUM; the selected (position, hash) set is a
# position-local fingerprint with the guarantee that any shared substring
# of >= w + k - 1 tokens shares at least one fingerprint, at expected
# density 2/(w+1). Complements the repo's dedup family: MinHash is a
# whole-doc set sketch, the suffix family is exact but global — winnowing
# is the bounded-density LOCAL fingerprint plagiarism/clone detection
# uses.
# ---------------------------------------------------------------------------
_WIN_K = 4  # k-gram width (tokens)
_WIN_W = 5  # winnowing window (k-gram positions); guarantee t = w + k - 1 = 8


def _win_duck_fps() -> str:
    """DuckDB twin over a `hs` BIGINT-list column (same encoding:
    position * 2^32 + hash as ONE BIGINT per fingerprint)."""
    m = "len(hs)"
    wlen = f"least({_WIN_W}, {m})"
    sel = (
        f"list_transform(range(1, greatest({m} - {_WIN_W} + 1, 1) + 1),"
        f" j -> CAST(j - 1 + list_max(list_transform(range(1, {wlen} + 1),"
        f" o -> CASE WHEN hs[j + o - 1]"
        f" = list_min(hs[j : j + {wlen} - 1]) THEN o ELSE 0 END)) AS BIGINT)"
        f" * 4294967296 + list_min(hs[j : j + {wlen} - 1]))"
    )
    return f"CASE WHEN {m} >= 1 THEN list_distinct({sel}) ELSE CAST([] AS BIGINT[]) END"


_WINNOW_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, {_DUCK_TOK} AS t FROM documents
),
hashed AS (
  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
         list_transform({_duck_ngrams('t', _WIN_K)},
           g -> CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)) AS hs
  FROM tok
),
fps AS MATERIALIZED (
  SELECT doc_id, source, n_tokens, CAST(len(hs) AS BIGINT) AS n_kgrams,
         {_win_duck_fps()} AS fp
  FROM hashed
),
hash_docs AS (
  SELECT v, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (SELECT doc_id, unnest(list_distinct(list_transform(fp, x -> x % 4294967296))) AS v
        FROM fps)
  GROUP BY v
),
shared AS (
  SELECT e.doc_id,
         CAST(count(*) AS BIGINT) AS n_fp_hashes,
         CAST(sum(CASE WHEN h.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_fp_hashes
  FROM (SELECT doc_id, unnest(list_distinct(list_transform(fp, x -> x % 4294967296))) AS v
        FROM fps) e
  JOIN hash_docs h ON h.v = e.v
  GROUP BY e.doc_id
)
SELECT f.doc_id, f.source, f.n_tokens, f.n_kgrams,
       CAST(len(f.fp) AS BIGINT) AS n_fingerprints,
       CASE WHEN f.n_kgrams = 0 THEN 0
            ELSE CAST(1000000 * len(f.fp) // f.n_kgrams AS BIGINT)
       END AS density_ppm,
       coalesce(s.n_fp_hashes, 0) AS n_fp_hashes,
       coalesce(s.n_shared_fp_hashes, 0) AS n_shared_fp_hashes
FROM fps f LEFT JOIN shared s ON s.doc_id = f.doc_id
"""


@register(
    "winnowing_fingerprints",
    oracle=_WINNOW_SQL,
    doc=f"Winnowing (Schleimer et al. 2003, MOSS): rightmost-minimum "
    f"fingerprints over {_WIN_K}-gram hashes in {_WIN_W}-windows — any "
    f"shared run of >= {_WIN_W + _WIN_K - 1} tokens shares a fingerprint "
    "at expected density 2/(w+1); per doc the fingerprint count, density, "
    "and how many of its fingerprint hashes appear in other docs (the "
    "local clone-detection signal MinHash's whole-doc sketch cannot give)",
    tags=("ext", "corpus", "dedup"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: fingerprint selection is a pure codegen'd higher-order
    expression per row (O(n * w) with w = 5 — no explode of the k-gram
    stream, no shuffle); only the DISTINCT fingerprint hashes explode into
    the sharing aggregation, and winnowing's density guarantee bounds that
    at ~2/(w+1) of the token stream. The sharing join is keyed on the
    md5-uniform hash value."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    grams = _spark_ngrams("t", _WIN_K)
    fps = (
        docs.select(
            "doc_id",
            "source",
            F.expr(_SPARK_TOK).alias("t"),
        )
        .select(
            "doc_id",
            "source",
            F.expr("CAST(size(t) AS BIGINT)").alias("n_tokens"),
            F.expr(
                f"transform({grams},"
                " g -> CAST(conv(substr(md5(g), 1, 8), 16, 10) AS BIGINT))"
            ).alias("hs"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr("CAST(size(hs) AS BIGINT)").alias("n_kgrams"),
            F.expr(_win_spark_fps_over_hs()).alias("fp"),
        )
        .localCheckpoint(eager=False)  # feeds the sharing agg AND final join
    )
    ex = fps.select(
        "doc_id",
        F.explode(
            F.expr("array_distinct(transform(fp, x -> x % 4294967296L))")
        ).alias("v"),
    )
    hash_docs = ex.groupBy("v").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    shared = (
        ex.join(hash_docs, "v")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fp_hashes"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_fp_hashes"),
        )
    )
    return fps.join(shared, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_tokens",
        "n_kgrams",
        F.expr("CAST(size(fp) AS BIGINT)").alias("n_fingerprints"),
        F.expr(
            "CASE WHEN n_kgrams = 0 THEN 0"
            " ELSE CAST(1000000 * size(fp) div n_kgrams AS BIGINT) END"
        ).alias("density_ppm"),
        F.coalesce("n_fp_hashes", F.lit(0)).cast("long").alias("n_fp_hashes"),
        F.coalesce("n_shared_fp_hashes", F.lit(0))
        .cast("long")
        .alias("n_shared_fp_hashes"),
    )


def _win_spark_fps_over_hs() -> str:
    """Spark SQL fingerprint selection over a prebuilt `hs` column. Each
    fingerprint is ONE BIGINT, position * 2^32 + hash (both < 2^32), so
    distinct-set arithmetic works identically in both engines (DuckDB's
    list_distinct cannot handle struct lists)."""
    m = "size(hs)"
    wlen = f"least({_WIN_W}, {m})"
    sel = (
        f"transform(sequence(1, greatest({m} - {_WIN_W} + 1, 1)),"
        f" j -> CAST(j - 1 + array_max(transform(sequence(1, {wlen}),"
        f" o -> if(element_at(hs, j + o - 1)"
        f" = array_min(slice(hs, j, {wlen})), o, 0))) AS BIGINT)"
        f" * 4294967296 + array_min(slice(hs, j, {wlen})))"
    )
    return (
        f"CASE WHEN {m} >= 1 THEN array_distinct({sel})"
        f" ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


# ---------------------------------------------------------------------------
# Bloom-filter exact-dedup FPR audit (the Dolma production design: doc-level
# exact dedup at trillion-token scale is done against a FIXED-memory Bloom
# filter, trading a bounded false-positive rate for never holding the key
# set; Soldaini et al. 2024 section 4.1). The audit makes that trade a
# MEASURED quantity instead of an assumption: build the filter from one
# deterministic half of the corpus, probe the other half, and score the
# flags against exact-match truth — per (bits-per-key, hash-count) config a
# measured fill ratio, FPR, and the structural no-false-negative invariant.
# ---------------------------------------------------------------------------
#: (cfg_id, bits-per-key multiplier, hash count) — k ~= m/n * ln 2 rounded
#: to the nearest odd, capped at _BLOOM_MAXK=7: the 4- and 8-bits-per-key
#: configs sit near their optima (2.77, 5.55), while the 16-bits-per-key
#: config runs below its ~11-hash optimum by design (7 hashes keep the
#: per-doc probe cost flat; its measured FPR is scored against the SAME
#: k=7 theory curve, so the audit stays apples-to-apples).
_BLOOM_CFGS: tuple[tuple[int, int, int], ...] = ((1, 4, 3), (2, 8, 5), (3, 16, 7))
_BLOOM_MAXK = 7

_BLOOM_CFG_VALUES = ", ".join(f"({c}, {m}, {k})" for c, m, k in _BLOOM_CFGS)

#: position of key `tk` under hash j in an m_bits-bit filter (48-bit md5
#: prefix, exact in BIGINT, modulo the filter width).
_BLOOM_POS_SPARK = (
    "CAST(conv(substr(md5(concat(CAST(j AS STRING), ':', tk)), 1, 12),"
    " 16, 10) AS BIGINT) % m_bits"
)

_BLOOM_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, md5(text) AS tk,
         {duck_hash_uniform('doc_id')} % 2 AS side
  FROM documents
),
bk AS MATERIALIZED (SELECT DISTINCT tk FROM base WHERE side = 0),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build FROM bk),
cfgm AS MATERIALIZED (
  SELECT cfg_id, m_mult, k,
         GREATEST(m_mult * n_build, 1) AS m_bits, n_build
  FROM (VALUES {_BLOOM_CFG_VALUES}) AS c(cfg_id, m_mult, k), nb
),
js AS (SELECT unnest(range(0, {_BLOOM_MAXK})) AS j),
bpos AS MATERIALIZED (
  SELECT DISTINCT c.cfg_id,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || b.tk), 1, 12))
              AS BIGINT) % c.m_bits AS pos
  FROM bk b, cfgm c, js j
  WHERE j.j < c.k
),
probe AS MATERIALIZED (SELECT doc_id, tk FROM base WHERE side = 1),
ppos AS (
  SELECT p.doc_id, c.cfg_id,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || p.tk), 1, 12))
              AS BIGINT) % c.m_bits AS pos
  FROM probe p, cfgm c, js j
  WHERE j.j < c.k
),
hit AS (
  SELECT pp.doc_id, pp.cfg_id,
         CAST(count(*) AS BIGINT) AS npos,
         CAST(count(bp.pos) AS BIGINT) AS nhit
  FROM ppos pp LEFT JOIN bpos bp
    ON bp.cfg_id = pp.cfg_id AND bp.pos = pp.pos
  GROUP BY pp.doc_id, pp.cfg_id
),
truth AS (
  SELECT p.doc_id, (b.tk IS NOT NULL) AS is_dup
  FROM probe p LEFT JOIN bk b ON b.tk = p.tk
),
bits AS (
  SELECT cfg_id, CAST(count(*) AS BIGINT) AS bits_set FROM bpos GROUP BY cfg_id
)
SELECT c.m_mult, c.k, c.m_bits,
       c.n_build AS n_build_keys,
       COALESCE(bits.bits_set, 0) AS bits_set,
       CAST(1000000 * COALESCE(bits.bits_set, 0) // c.m_bits AS BIGINT)
         AS fill_ppm,
       CAST(count(*) AS BIGINT) AS n_probe,
       CAST(count_if(t.is_dup) AS BIGINT) AS true_dups,
       CAST(count_if(h.npos = h.nhit) AS BIGINT) AS flagged,
       CAST(count_if(h.npos = h.nhit AND NOT t.is_dup) AS BIGINT) AS false_pos,
       CAST(count_if(t.is_dup AND h.npos > h.nhit) AS BIGINT) AS missed,
       CASE WHEN count_if(NOT t.is_dup) = 0 THEN 0
            ELSE CAST(1000000 * count_if(h.npos = h.nhit AND NOT t.is_dup)
                      // count_if(NOT t.is_dup) AS BIGINT) END AS fpr_ppm
FROM hit h
JOIN truth t ON t.doc_id = h.doc_id
JOIN cfgm c ON c.cfg_id = h.cfg_id
LEFT JOIN bits ON bits.cfg_id = h.cfg_id
GROUP BY c.m_mult, c.k, c.m_bits, c.n_build, bits.bits_set
"""


@register(
    "bloom_dedup_fpr_audit",
    oracle=_BLOOM_SQL,
    doc="Bloom-filter exact-dedup FPR audit (Dolma's fixed-memory doc-level "
    "dedup design): build the k-hash filter from the deterministic md5-half "
    "of the corpus, probe the other half, and score flags against "
    "exact-match truth — per (bits-per-key, k) config the measured fill "
    "ratio, false-positive rate, and the no-false-negative invariant",
    tags=("ext", "corpus", "dedup"),
)
def bloom_dedup_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the filter IS bounded state — `bpos` is capped at
    m_bits rows (the memory bound is the entire reason Dolma dedups
    trillions of tokens against one). Note the cap itself is
    corpus-proportional here: this AUDIT sizes m_bits = m_mult * n_build
    per config so every tier measures the same bits-per-key operating
    points, which means the broadcast grows linearly with the corpus and a
    production run at the top tiers would instead pre-size m_bits to a
    fixed constant (Dolma's stance) and accept the FPR the fill ratio
    implies — that production variant exists as the companion
    `bloom_dedup_presized` below (constant 2^26-bit packed-word filter,
    broadcast capped at ~1.07M rows at every corpus size). Given that sizing, bpos broadcasts and the probe side is a
    narrow map + broadcast hash join; the per-doc
    all-k-present check partial-aggregates in place (the k position rows of
    a doc are born co-partitioned), leaving one exchange for the per-config
    rollup. Build-side distinct is the only corpus-sized shuffle and is
    capped at min(k * n_build, m_bits) rows."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.md5("text").alias("tk"),
        (hash_uniform("doc_id") % 2).alias("side"),
    )
    bk = (
        base.filter("side = 0")
        .select("tk")
        .distinct()
        .localCheckpoint(eager=False)  # feeds bpos, nb, and the truth join
    )
    nb = bk.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
    cfg = spark.createDataFrame(
        list(_BLOOM_CFGS), "cfg_id long, m_mult long, k long"
    )
    cfgm = cfg.crossJoin(F.broadcast(nb)).withColumn(
        "m_bits", F.greatest(F.col("m_mult") * F.col("n_build"), F.lit(1))
    )
    js = F.explode(F.expr(f"sequence(0, {_BLOOM_MAXK - 1})")).alias("j")
    bpos = (
        bk.crossJoin(F.broadcast(cfgm))
        .select("cfg_id", "m_bits", "k", "tk", js)
        .filter("j < k")
        .select("cfg_id", F.expr(_BLOOM_POS_SPARK).alias("pos"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds the bit count AND the probe join
    )
    probe = base.filter("side = 1").select("doc_id", "tk")
    ppos = (
        probe.crossJoin(F.broadcast(cfgm))
        .select("doc_id", "cfg_id", "m_bits", "k", "tk", js)
        .filter("j < k")
        .select("doc_id", "cfg_id", F.expr(_BLOOM_POS_SPARK).alias("pos"))
    )
    hit = (
        ppos.join(
            F.broadcast(bpos.withColumn("present", F.lit(True))),
            ["cfg_id", "pos"],
            "left",
        )
        .groupBy("doc_id", "cfg_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("npos"),
            F.count("present").cast("long").alias("nhit"),
        )
    )
    truth = (
        probe.join(bk.withColumn("dup", F.lit(True)), "tk", "left")
        .select("doc_id", F.coalesce("dup", F.lit(False)).alias("is_dup"))
    )
    bits = bpos.groupBy("cfg_id").agg(
        F.count(F.lit(1)).cast("long").alias("bits_set")
    )
    return (
        hit.join(truth, "doc_id")
        .groupBy("cfg_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probe"),
            F.count_if(F.col("is_dup")).cast("long").alias("true_dups"),
            F.count_if(F.col("npos") == F.col("nhit"))
            .cast("long")
            .alias("flagged"),
            F.count_if((F.col("npos") == F.col("nhit")) & ~F.col("is_dup"))
            .cast("long")
            .alias("false_pos"),
            F.count_if(F.col("is_dup") & (F.col("npos") > F.col("nhit")))
            .cast("long")
            .alias("missed"),
            F.expr(
                "CASE WHEN count_if(NOT is_dup) = 0 THEN 0"
                " ELSE CAST(1000000 * count_if(npos = nhit AND NOT is_dup)"
                " div count_if(NOT is_dup) AS BIGINT) END"
            ).alias("fpr_ppm"),
        )
        .join(F.broadcast(bits), "cfg_id", "left")
        .join(F.broadcast(cfgm), "cfg_id")
        .select(
            "m_mult",
            "k",
            "m_bits",
            F.col("n_build").alias("n_build_keys"),
            F.coalesce("bits_set", F.lit(0)).cast("long").alias("bits_set"),
            F.expr(
                "CAST(1000000 * coalesce(bits_set, 0) div m_bits AS BIGINT)"
            ).alias("fill_ppm"),
            "n_probe",
            "true_dups",
            "flagged",
            "false_pos",
            "missed",
            "fpr_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Production-shaped fixed-memory Bloom dedup (round-8 verdict item 3: the
# FPR AUDIT above deliberately sizes m_bits = m_mult * n_build per tier so
# every tier measures the same bits-per-key operating points — which makes
# its broadcast corpus-proportional. This is the variant whose memory is
# genuinely CONSTANT: m_bits is pre-sized ONCE for the target corpus
# (Dolma's production stance — Soldaini et al. 2024 section 4.1 sizes the
# filter from the expected document count before the run starts) and the
# measured FPR is whatever the fill ratio implies at each tier. The filter
# is a packed bitmap — positions fold into 63-bit words (bit 63 is unused:
# DuckDB's `<<` raises on 1 << 63, and the sign bit buys nothing) — so the
# broadcast state is capped at ceil(m_bits / 63) (word_idx, word) rows
# (~17 MB at the 2^26 sizing) NO MATTER how many documents are ingested.
# ---------------------------------------------------------------------------
#: Pre-sized filter width: 2^26 bits ~= 8 bits/key at an ~8M-key target
#: corpus (the sf100 tier's 5M docs sit inside that capacity), fixed at
#: every tier. k = 5 is near-optimal for that design point (m/n * ln 2
#: ~= 5.5) and keeps the per-doc probe cost at five hashes.
_BLOOMP_M_BITS = 1 << 26
_BLOOMP_K = 5

_BLOOMP_SQL = f"""
WITH base AS (
  SELECT doc_id, md5(text) AS tk,
         {duck_hash_uniform('doc_id')} % 2 AS side
  FROM documents
),
bk AS MATERIALIZED (SELECT DISTINCT tk FROM base WHERE side = 0),
js AS (SELECT unnest(range(0, {_BLOOMP_K})) AS j),
bpos AS (
  SELECT CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || b.tk), 1, 12))
              AS BIGINT) % {_BLOOMP_M_BITS} AS pos
  FROM bk b, js j
),
words AS MATERIALIZED (
  SELECT pos // 63 AS word_idx,
         bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS word
  FROM bpos GROUP BY pos // 63
),
probe AS MATERIALIZED (SELECT doc_id, tk FROM base WHERE side = 1),
ppos AS (
  SELECT p.doc_id,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || p.tk), 1, 12))
              AS BIGINT) % {_BLOOMP_M_BITS} AS pos
  FROM probe p, js j
),
hit AS (
  SELECT pp.doc_id, CAST(count(*) AS BIGINT) AS npos,
         CAST(count_if(w.word IS NOT NULL AND
              (w.word & (1::BIGINT << CAST(pp.pos % 63 AS INTEGER))) != 0)
              AS BIGINT) AS nhit
  FROM ppos pp LEFT JOIN words w ON w.word_idx = pp.pos // 63
  GROUP BY pp.doc_id
),
truth AS (
  SELECT p.doc_id, (b.tk IS NOT NULL) AS is_dup
  FROM probe p LEFT JOIN bk b ON b.tk = p.tk
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build_keys FROM bk),
wstats AS (
  SELECT CAST(count(*) AS BIGINT) AS words_present,
         CAST(COALESCE(sum(bit_count(word)), 0) AS BIGINT) AS bits_set
  FROM words
)
SELECT CAST({_BLOOMP_M_BITS} AS BIGINT) AS m_bits,
       CAST({_BLOOMP_K} AS BIGINT) AS k,
       (SELECT n_build_keys FROM nb) AS n_build_keys,
       (SELECT words_present FROM wstats) AS words_present,
       (SELECT bits_set FROM wstats) AS bits_set,
       CAST(1000000 * (SELECT bits_set FROM wstats) // {_BLOOMP_M_BITS}
            AS BIGINT) AS fill_ppm,
       CAST(count(*) AS BIGINT) AS n_probe,
       CAST(count_if(t.is_dup) AS BIGINT) AS true_dups,
       CAST(count_if(h.npos = h.nhit) AS BIGINT) AS flagged,
       CAST(count_if(h.npos = h.nhit AND NOT t.is_dup) AS BIGINT) AS false_pos,
       CAST(count_if(t.is_dup AND h.npos > h.nhit) AS BIGINT) AS missed,
       CASE WHEN count_if(NOT t.is_dup) = 0 THEN 0
            ELSE CAST(1000000 * count_if(h.npos = h.nhit AND NOT t.is_dup)
                      // count_if(NOT t.is_dup) AS BIGINT) END AS fpr_ppm
FROM hit h
JOIN truth t ON t.doc_id = h.doc_id
"""


@register(
    "bloom_dedup_presized",
    oracle=_BLOOMP_SQL,
    doc="Fixed-memory Bloom exact-dedup at a PRE-SIZED operating point "
    "(Dolma's production stance: m_bits chosen once for the target corpus, "
    "never resized): build a 2^26-bit / 5-hash packed-bitmap filter from "
    "the deterministic md5-half of the corpus, probe the other half, and "
    "report the measured fill ratio and FPR that sizing implies at this "
    "tier — the filter state is capped at ceil(m_bits/63) words regardless "
    "of corpus size",
    tags=("ext", "corpus", "dedup"),
)
def bloom_dedup_presized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the companion `bloom_dedup_fpr_audit` sizes its filter
    per-tier (same bits-per-key everywhere) so its broadcast grows with the
    corpus; HERE m_bits is the constant 2^26 and positions fold into 63-bit
    words before the build-side aggregation, so the broadcast filter is
    capped at ceil(2^26 / 63) ~= 1.07M (word_idx, word) rows (~17 MB) at
    EVERY corpus size — the memory bound that lets Dolma dedup trillions of
    tokens on one box. Build side: one distinct over build keys, one
    partial-aggregating groupBy on the uniform word index (rows cap at the
    word count, map-side combine does the packing). Probe side: narrow
    5-hash map + broadcast hash join on word_idx + per-doc partial agg;
    the only corpus-sized shuffles are the build-key distinct and the
    per-doc rollup, both on uniform keys. No corpus-proportional state
    anywhere — this is the variant that clears the audit's documented
    corpus-proportional-broadcast caveat."""
    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.md5("text").alias("tk"),
        (hash_uniform("doc_id") % 2).alias("side"),
    )
    bk = (
        base.filter("side = 0")
        .select("tk")
        .distinct()
        .localCheckpoint(eager=False)  # feeds words, n_build, and truth
    )
    pos_expr = (
        "CAST(conv(substr(md5(concat(CAST(j AS STRING), ':', tk)), 1, 12),"
        f" 16, 10) AS BIGINT) % {_BLOOMP_M_BITS}"
    )
    js = F.explode(F.expr(f"sequence(0, {_BLOOMP_K - 1})")).alias("j")
    words = (
        bk.select("tk", js)
        .select(F.expr(pos_expr).alias("pos"))
        .groupBy(F.expr("pos div 63").alias("word_idx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))"
            ).alias("word")
        )
        .localCheckpoint(eager=False)  # feeds the bit stats AND the probe join
    )
    probe = base.filter("side = 1").select("doc_id", "tk")
    ppos = (
        probe.select("doc_id", "tk", js)
        .select("doc_id", F.expr(pos_expr).alias("pos"))
        .select(
            "doc_id",
            "pos",
            F.expr("pos div 63").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias(
                "mask"
            ),
        )
    )
    hit = (
        ppos.join(F.broadcast(words), "word_idx", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("npos"),
            F.count_if(
                F.col("word").isNotNull()
                & (F.col("word").bitwiseAND(F.col("mask")) != 0)
            )
            .cast("long")
            .alias("nhit"),
        )
    )
    truth = (
        probe.join(bk.withColumn("dup", F.lit(True)), "tk", "left")
        .select("doc_id", F.coalesce("dup", F.lit(False)).alias("is_dup"))
    )
    nb = bk.agg(F.count(F.lit(1)).cast("long").alias("n_build_keys"))
    wstats = words.agg(
        F.count(F.lit(1)).cast("long").alias("words_present"),
        F.expr("CAST(coalesce(sum(bit_count(word)), 0) AS BIGINT)").alias(
            "bits_set"
        ),
    )
    return (
        hit.join(truth, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probe"),
            F.count_if(F.col("is_dup")).cast("long").alias("true_dups"),
            F.count_if(F.col("npos") == F.col("nhit"))
            .cast("long")
            .alias("flagged"),
            F.count_if((F.col("npos") == F.col("nhit")) & ~F.col("is_dup"))
            .cast("long")
            .alias("false_pos"),
            F.count_if(F.col("is_dup") & (F.col("npos") > F.col("nhit")))
            .cast("long")
            .alias("missed"),
            F.expr(
                "CASE WHEN count_if(NOT is_dup) = 0 THEN 0"
                " ELSE CAST(1000000 * count_if(npos = nhit AND NOT is_dup)"
                " div count_if(NOT is_dup) AS BIGINT) END"
            ).alias("fpr_ppm"),
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(wstats))
        .select(
            F.lit(_BLOOMP_M_BITS).cast("long").alias("m_bits"),
            F.lit(_BLOOMP_K).cast("long").alias("k"),
            "n_build_keys",
            "words_present",
            "bits_set",
            F.expr(
                f"CAST(1000000 * bits_set div {_BLOOMP_M_BITS} AS BIGINT)"
            ).alias("fill_ppm"),
            "n_probe",
            "true_dups",
            "flagged",
            "false_pos",
            "missed",
            "fpr_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Span-level contamination accounting. eval_contamination_13gram answers
# "WHICH training docs share any 13-gram with the benchmark slice"; this
# answers "HOW MUCH of them" — the GPT-3 appendix-C / PaLM analysis that
# splits flagged docs into lightly-touched vs mostly-copied ("dirty") by
# the token mass their contaminated spans cover. Matched 13-gram START
# positions per doc are condensed by gaps-and-islands into maximal runs
# (longest shared span = run length + 12) and merged coverage intervals
# ([p, p+12] windows overlap while gaps < 13), same idiom as
# dup_span_stats but against the bounded eval-gram index.
# ---------------------------------------------------------------------------
_CSPAN_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, {_DUCK_TOK} AS t,
         {duck_hash_uniform('doc_id')} % {_CONTAM_DUCK_MOD} = 0 AS is_bench
  FROM documents
),
g AS MATERIALIZED (
  SELECT doc_id, source, is_bench, CAST(len(t) AS BIGINT) AS n_tokens,
         {_duck_ngrams('t', _CONTAM_N)} AS gs
  FROM tok
),
bench_grams AS MATERIALIZED (
  SELECT DISTINCT unnest(gs) AS bg FROM g WHERE is_bench
),
pos AS (
  SELECT doc_id, unnest(range(1, len(gs) + 1)) AS pos, unnest(gs) AS gr
  FROM g WHERE NOT is_bench
),
mpos AS (
  SELECT doc_id, pos FROM pos WHERE gr IN (SELECT bg FROM bench_grams)
),
marks AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w != 1
              THEN 1 ELSE 0 END AS run_flag,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w >= {_CONTAM_N}
              THEN 1 ELSE 0 END AS cov_flag
  FROM mpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
ids AS (
  SELECT doc_id, pos,
         sum(run_flag) OVER w AS run_id,
         sum(cov_flag) OVER w AS cov_id
  FROM marks WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING)
),
runs AS (
  SELECT doc_id, run_id, count(*) AS run_len FROM ids GROUP BY doc_id, run_id
),
docs_run AS (
  SELECT doc_id, CAST(max(run_len) + {_CONTAM_N - 1} AS BIGINT) AS max_span
  FROM runs GROUP BY doc_id
),
covs AS (
  SELECT doc_id, cov_id, min(pos) AS lo, max(pos) AS hi
  FROM ids GROUP BY doc_id, cov_id
),
docs_cov AS (
  SELECT doc_id, CAST(sum(hi - lo + {_CONTAM_N}) AS BIGINT) AS covered
  FROM covs GROUP BY doc_id
),
train AS (SELECT doc_id, source, n_tokens FROM g WHERE NOT is_bench)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_train_docs,
       CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(r.doc_id) AS BIGINT) AS n_contaminated,
       CAST(COALESCE(max(r.max_span), 0) AS BIGINT) AS max_span_tokens,
       CAST(COALESCE(sum(c.covered), 0) AS BIGINT) AS contaminated_tokens,
       CASE WHEN sum(t.n_tokens) = 0 THEN 0
            ELSE CAST(1000000 * COALESCE(sum(c.covered), 0) // sum(t.n_tokens)
                      AS BIGINT) END AS contaminated_token_ppm,
       CAST(count_if(c.covered IS NOT NULL AND 2 * c.covered >= t.n_tokens)
            AS BIGINT) AS n_dirty_docs
FROM train t
LEFT JOIN docs_run r ON r.doc_id = t.doc_id
LEFT JOIN docs_cov c ON c.doc_id = t.doc_id
GROUP BY t.source
"""


@register(
    "contamination_span_stats",
    oracle=_CSPAN_SQL,
    doc=f"Span-level benchmark-contamination accounting (the GPT-3 "
    f"appendix-C analysis behind the {_CONTAM_N}-gram rule): per source, "
    "the longest contiguous token span shared with the eval slice, the "
    "exact token mass covered by merged contaminated spans, and how many "
    "flagged docs are 'dirty' (over half their tokens contaminated) vs "
    "lightly touched",
    tags=("ext", "corpus", "dedup", "eval"),
)
def contamination_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the eval slice's gram set is bounded by the BENCHMARK
    size, so position matching is a broadcast left-semi join over the
    narrow positional explode — span text never shuffles, only (doc_id,
    pos) pairs of MATCHED grams survive into the windows, and those
    partitions are bounded by document length. One exchange for the
    per-source rollup; no self-join, no global sort."""
    from pyspark.sql import Window

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents")
    g = (
        docs.select(
            "doc_id",
            "source",
            F.expr(_SPARK_TOK).alias("t"),
            (hash_uniform("doc_id") % F.lit(_contam_eval_mod(corpus_count(spark, sf_dir))) == 0).alias("is_bench"),
        )
        .select(
            "doc_id",
            "source",
            "is_bench",
            F.expr("CAST(size(t) AS BIGINT)").alias("n_tokens"),
            F.expr(_spark_ngrams("t", _CONTAM_N)).alias("gs"),
        )
        .localCheckpoint(eager=False)  # feeds bench index, positions, rollup
    )
    bench = (
        g.filter("is_bench")
        .select(F.explode(F.expr("array_distinct(gs)")).alias("gr"))
        .distinct()
    )
    pos = (
        g.filter(~F.col("is_bench"))
        .select("doc_id", F.expr("posexplode(gs) AS (p0, gr)"))
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gr")
    )
    mpos = pos.join(F.broadcast(bench), "gr", "leftsemi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("pos").over(w)
    ids = (
        mpos.withColumn(
            "run_flag",
            F.when(prev.isNull() | (F.col("pos") - prev != 1), 1).otherwise(0),
        )
        .withColumn(
            "cov_flag",
            F.when(
                prev.isNull() | (F.col("pos") - prev >= _CONTAM_N), 1
            ).otherwise(0),
        )
        .withColumn("run_id", F.sum("run_flag").over(wsum))
        .withColumn("cov_id", F.sum("cov_flag").over(wsum))
    ).localCheckpoint(eager=False)  # feeds the run- and coverage-side aggs
    docs_run = (
        ids.groupBy("doc_id", "run_id")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_id")
        .agg(
            (F.max("run_len") + F.lit(_CONTAM_N - 1))
            .cast("long")
            .alias("max_span")
        )
    )
    docs_cov = (
        ids.groupBy("doc_id", "cov_id")
        .agg(F.min("pos").alias("lo"), F.max("pos").alias("hi"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("hi") - F.col("lo") + F.lit(_CONTAM_N))
            .cast("long")
            .alias("covered")
        )
    )
    train = g.filter(~F.col("is_bench")).select("doc_id", "source", "n_tokens")
    return (
        train.join(docs_run, "doc_id", "left")
        .join(docs_cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.count("max_span").cast("long").alias("n_contaminated"),
            F.coalesce(F.max("max_span"), F.lit(0))
            .cast("long")
            .alias("max_span_tokens"),
            F.coalesce(F.sum("covered"), F.lit(0))
            .cast("long")
            .alias("contaminated_tokens"),
            F.expr(
                "CASE WHEN sum(n_tokens) = 0 THEN 0"
                " ELSE CAST(1000000 * coalesce(sum(covered), 0)"
                " div sum(n_tokens) AS BIGINT) END"
            ).alias("contaminated_token_ppm"),
            F.count_if(
                F.col("covered").isNotNull()
                & (F.lit(2) * F.col("covered") >= F.col("n_tokens"))
            )
            .cast("long")
            .alias("n_dirty_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming Bloom-dedup ingest — the production twin of
# bloom_dedup_fpr_audit (Dolma runs its Bloom filter exactly this way: one
# fixed-size filter, every incoming doc probed then inserted). Semantics
# are FIRST-SETTER, which makes the result batch-slicing-invariant: doc d
# is flagged iff every one of its k bit positions was first set by some
# doc with a smaller doc_id — within a micro-batch the within-batch
# min(doc_id) per position plays history, across batches the persisted
# position index does (the ascending feed guarantees history ids are
# smaller). The oracle is the same relation computed globally: min(doc_id)
# per position, flag iff all k firsts precede the doc. Exact-match truth
# (earliest doc per text key) rides alongside for FP accounting, as in the
# batch audit.
# ---------------------------------------------------------------------------
_SBLOOM_MULT = 16  # filter bits per corpus doc (sized once, up front)
_SBLOOM_K = 5

_SBLOOM_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, source, md5(text) AS tk FROM documents
),
nb AS (SELECT GREATEST({_SBLOOM_MULT} * count(*), 1) AS m_bits FROM base),
pos AS MATERIALIZED (
  SELECT b.doc_id,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || b.tk), 1, 12))
              AS BIGINT) % nb.m_bits AS pos
  FROM base b, nb, (SELECT unnest(range(0, {_SBLOOM_K})) AS j) j
),
firstset AS (SELECT pos, min(doc_id) AS first_doc FROM pos GROUP BY pos),
flags AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS npos,
         CAST(count_if(f.first_doc < p.doc_id) AS BIGINT) AS nprior
  FROM pos p JOIN firstset f ON f.pos = p.pos
  GROUP BY p.doc_id
),
truth AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY tk) < doc_id AS is_dup
  FROM base
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count_if(t.is_dup) AS BIGINT) AS true_dups,
       CAST(count_if(fl.npos = fl.nprior) AS BIGINT) AS flagged,
       CAST(count_if(fl.npos = fl.nprior AND NOT t.is_dup) AS BIGINT)
         AS false_pos,
       CAST(count_if(t.is_dup AND fl.npos > fl.nprior) AS BIGINT) AS missed,
       CASE WHEN count_if(NOT t.is_dup) = 0 THEN 0
            ELSE CAST(1000000 * count_if(fl.npos = fl.nprior AND NOT t.is_dup)
                      // count_if(NOT t.is_dup) AS BIGINT) END AS fpr_ppm
FROM base b
JOIN flags fl ON fl.doc_id = b.doc_id
JOIN truth t ON t.doc_id = b.doc_id
GROUP BY b.source
"""


def _sbloom_drive(spark: SparkSession, sf_dir: str, n_chunks: int = 3) -> DataFrame:
    """Drive the Bloom ingest over an ascending-doc_id file feed; return the
    cumulative per-source verdict sheet (hash-equal to the global
    first-setter relation whatever the slicing).

    Scale shape: per batch the probe joins the BATCH's k position rows
    against the persisted index — cost scales with the ingest; the index
    itself can never exceed m_bits rows (the fixed-memory property that IS
    the design), and maintenance appends only positions never seen before,
    so total index writes over the stream's life are also bounded by
    m_bits. The exact-truth key lake rides the same pattern for FP
    accounting. Nothing ever re-hashes history."""
    import tempfile as _tf

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
        snapshot_history,
    )

    configure_session(spark)
    docs = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Size the filter once, up front (metadata-only count) — production
    # fixes filter capacity before the crawl; the oracle derives the same
    # m_bits from the corpus it replays.
    m_bits = max(_SBLOOM_MULT * docs.count(), 1)
    pos_expr = (
        "CAST(conv(substr(md5(concat(CAST(j AS STRING), ':', tk)), 1, 12),"
        f" 16, 10) AS BIGINT) % {m_bits}"
    )

    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:  # empty corpus: no chunks to feed, no verdicts to emit
        return spark.createDataFrame(
            [],
            "source string, n_docs bigint, true_dups bigint, flagged bigint,"
            " false_pos bigint, missed bigint, fpr_ppm bigint",
        )
    span = int(hi) - int(lo) + 1
    step = max(1, (span + n_chunks - 1) // n_chunks)
    stream, n_files = replay_feed(
        spark,
        [
            docs.filter(
                (F.col("doc_id") >= int(lo) + i * step)
                & (F.col("doc_id") < int(lo) + (i + 1) * step)
            )
            for i in range(n_chunks)
        ],
        "sbloom_src_",
    )

    pos_lake = _tf.mkdtemp(prefix="sbloom_pos_")
    tk_lake = _tf.mkdtemp(prefix="sbloom_tk_")
    verdict_lake = _tf.mkdtemp(prefix="sbloom_verdicts_")

    def _ingest(batch_df, batch_id: int) -> None:
        tkdf = batch_df.select(
            "doc_id", "source", F.md5("text").alias("tk")
        ).localCheckpoint(eager=False)  # feeds positions, truth, verdicts
        bpos = (
            tkdf.select(
                "doc_id",
                "tk",
                F.explode(F.expr(f"sequence(0, {_SBLOOM_K - 1})")).alias("j"),
            )
            .select("doc_id", F.expr(pos_expr).alias("pos"))
            .localCheckpoint(eager=False)  # feeds probe AND maintenance
        )
        batch_first = bpos.groupBy("pos").agg(
            F.min("doc_id").alias("batch_first")
        )
        tk_first = tkdf.groupBy("tk").agg(F.min("doc_id").alias("tk_first"))
        if snapshot_history(spark, pos_lake):
            hist = read_snapshot(spark, pos_lake).select("pos", "first_doc")
            hist_tk = read_snapshot(spark, tk_lake).select(
                "tk", F.lit(True).alias("seen")
            )
        else:  # bootstrap: empty filter, empty key set
            hist = spark.createDataFrame([], "pos bigint, first_doc bigint")
            hist_tk = spark.createDataFrame([], "tk string, seen boolean")
        first = (
            batch_first.join(hist, "pos", "left")
            .select(
                "pos",
                F.least(F.col("first_doc"), F.col("batch_first")).alias("fd"),
                F.col("first_doc").isNull().alias("is_new"),
            )
            .localCheckpoint(eager=False)  # feeds the flag join AND the commit
        )
        flags = (
            bpos.join(first, "pos")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("npos"),
                F.count_if(F.col("fd") < F.col("doc_id"))
                .cast("long")
                .alias("nprior"),
            )
        )
        truth = (
            tkdf.join(tk_first, "tk")
            .join(hist_tk, "tk", "left")
            .select(
                "doc_id",
                (
                    F.coalesce("seen", F.lit(False))
                    | (F.col("tk_first") < F.col("doc_id"))
                ).alias("is_dup"),
            )
        )
        verdicts = (
            tkdf.select("doc_id", "source")
            .join(flags, "doc_id")
            .join(truth, "doc_id")
            .select(
                "doc_id",
                "source",
                (F.col("npos") == F.col("nprior")).alias("flagged"),
                (F.col("npos") > F.col("nprior")).alias("has_unset"),
                "is_dup",
            )
            .withColumn("p", F.lit("all"))
        )
        snapshot_append(spark, verdicts, verdict_lake, partition_col="p")
        # Filter maintenance: only never-seen positions enter the index, so
        # its row count (and lifetime write volume) is capped at m_bits.
        new_pos = (
            first.filter("is_new")
            .select("pos", F.col("fd").alias("first_doc"))
            .withColumn("p", F.lit("all"))
        )
        snapshot_append(spark, new_pos, pos_lake, partition_col="p")
        new_tk = (
            tk_first.join(hist_tk, "tk", "left_anti")
            .select("tk")
            .withColumn("p", F.lit("all"))
        )
        snapshot_append(spark, new_tk, tk_lake, partition_col="p")

    drain(stream.writeStream.foreachBatch(_ingest), "bloom_ingest")
    if len(snapshot_history(spark, verdict_lake)) != n_files:
        raise RuntimeError(
            f"ingest drive incomplete: expected {n_files} verdict commits"
        )
    v = read_snapshot(spark, verdict_lake)
    return v.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("is_dup")).cast("long").alias("true_dups"),
        F.count_if(F.col("flagged")).cast("long").alias("flagged"),
        F.count_if(F.col("flagged") & ~F.col("is_dup"))
        .cast("long")
        .alias("false_pos"),
        F.count_if(F.col("is_dup") & F.col("has_unset"))
        .cast("long")
        .alias("missed"),
        F.expr(
            "CASE WHEN count_if(NOT is_dup) = 0 THEN 0"
            " ELSE CAST(1000000 * count_if(flagged AND NOT is_dup)"
            " div count_if(NOT is_dup) AS BIGINT) END"
        ).alias("fpr_ppm"),
    )


@register(
    "streaming_bloom_ingest",
    oracle=_SBLOOM_SQL,
    doc="Streaming Bloom-dedup ingest (Dolma's filter run as a continuous "
    "crawl gate): each micro-batch probes the persisted fixed-size position "
    "index, flags docs whose k bits were all first set by earlier docs "
    "(first-setter semantics — batch-slicing-invariant), appends per-doc "
    "verdicts plus only never-seen positions as lake commits; the "
    "cumulative sheet value-hashes against the global first-setter SQL "
    "with exact-match truth for FP accounting",
    tags=("ext", "corpus", "dedup", "streaming", "lake"),
)
def streaming_bloom_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sbloom_drive(spark, sf_dir, n_chunks=3)
