"""[EXT] Text-pipeline queries: chunking, scrubbing, term statistics, index
building, and length bucketing over the ``documents`` table (SURVEY.md
section 2.10 north-star scope — the preprocessing stages of an LLM
training-data pipeline that sit between dedup and packing).

Cross-engine determinism: chunk boundaries are integer arithmetic, scrub
counts are exact regex-match counts (same RE syntax subset in Java regex and
RE2), term scores are pure BIGINT products (a deliberately integer-exact
tf-idf surrogate ``tf * (N - df)`` — monotone in tf, antitone in df — so no
``ln()`` ULP divergence between engines), and bucket assignment is standard
``ntile`` over a unique total order.

Scale stance (100 TB):

- chunking and scrubbing are fully narrow — zero shuffles, scan-bound,
  whole-stage codegen'd string work; they parallelize with the input splits.
- term stats shuffle on ``(source, term)`` / ``(term, doc_id)`` — uniform
  high-cardinality keys — and the final per-group top-k / capped-postings
  use the two-phase local-then-merge pattern (never a single-key window
  over an unbounded group).
- ``ntile`` partitions by ``source`` (bounded corpus-catalog cardinality,
  same stance as ``top_suppliers_per_nation``); a global ntile would be a
  single-partition sort and is deliberately not offered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark import pyworker
from amazon_kinesis_data_streams_health_check_spark.operators.textstats import TOKEN_RE
from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import load_table, parallel_scan

_DUCK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
_SPARK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"

# ---------------------------------------------------------------------------
# Overlapping document chunking (context-window preparation).
# ---------------------------------------------------------------------------
CHUNK_SIZE = 160
CHUNK_STRIDE = 120

_CHUNKS_SQL = f"""
WITH offs AS (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(length(text) - 1, 0), {CHUNK_STRIDE})) AS off
  FROM documents
)
SELECT doc_id,
       CAST(off / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(length(substr(text, off + 1, {CHUNK_SIZE})) AS BIGINT) AS chunk_len,
       md5(substr(text, off + 1, {CHUNK_SIZE})) AS chunk_md5
FROM offs
"""


@register(
    "doc_chunks",
    oracle=_CHUNKS_SQL,
    doc="Overlapping fixed-window chunking (size 160, stride 120) for "
    "context-window preparation; emits per-chunk length + content hash",
    tags=("ext", "textpipe"),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ZERO shuffles — offsets come from ``sequence`` + explode
    (codegen'd generator, no Python), the substring/md5 are narrow string
    ops; at 100 TB this runs scan-bound across however many input splits
    the lake provides. Chunk ids are ``offset / stride`` so downstream
    packing can reconstruct adjacency without re-reading the parent doc."""
    docs = parallel_scan(spark, sf_dir, "documents")
    offs = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.length("text") - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("off"),
    )
    chunk = F.expr(f"substring(text, off + 1, {CHUNK_SIZE})")
    return offs.select(
        "doc_id",
        (F.col("off") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk.cast("binary")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Denylist scrubbing (PII-lexicon shaped redaction).
# ---------------------------------------------------------------------------
#: Terms scrubbed from training text (stand-in for a PII / banned-term
#: lexicon; the synthetic corpus has no digit/email shapes, so the denylist
#: uses corpus-present words to keep the operator observable end-to-end).
DENYLIST = ("customer", "vector", "stream")
_DENY_RE = r"\b(?:" + "|".join(DENYLIST) + r")\b"

_SCRUB_SQL = f"""
SELECT doc_id, source,
       CAST(len(regexp_extract_all(text, '{_DENY_RE}')) AS BIGINT) AS n_hits,
       CAST(length(regexp_replace(text, '{_DENY_RE}', '<TERM>', 'g')) AS BIGINT) AS scrubbed_len,
       md5(regexp_replace(text, '{_DENY_RE}', '<TERM>', 'g')) AS scrubbed_md5
FROM documents
"""


@register(
    "denylist_scrub",
    oracle=_SCRUB_SQL,
    doc="Denylist term scrub (PII-lexicon pattern): word-boundary regex "
    "redaction with per-doc hit counts and scrubbed-content hash",
    tags=("ext", "textpipe"),
)
def denylist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: fully narrow regex work (Java regex, codegen'd) — the
    pattern subset used (alternation, non-capturing group, ``\\b``) behaves
    identically in Java regex and RE2, so the DuckDB twin hash-matches the
    scrubbed bytes, not just the counts."""
    docs = parallel_scan(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace("text", F.lit(_DENY_RE), F.lit("<TERM>"))
    return docs.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_DENY_RE), F.lit(0)))
        .cast("long")
        .alias("n_hits"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Integer-exact tf-idf surrogate: top distinctive terms per source.
# ---------------------------------------------------------------------------
TOP_TERMS_K = 5

_TOP_TERMS_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_DUCK_TOK}) AS term FROM documents
),
tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY source, term
),
docfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.source, tf.term, tf.tf, docfreq.df,
         tf.tf * (n.n_docs - docfreq.df) AS score
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT source, term, tf, df, score, CAST(rnk AS BIGINT) AS rank
FROM ranked WHERE rnk <= {TOP_TERMS_K}
"""


@register(
    "tfidf_top_terms",
    oracle=_TOP_TERMS_SQL,
    doc="Top distinctive terms per source by the integer-exact tf-idf "
    "surrogate tf*(N-df) — term frequency weighted against document "
    "frequency without cross-engine float log drift",
    tags=("ext", "textpipe"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: tokenize narrow; two keyed aggregations shuffle on the
    uniform high-cardinality keys ``(source, term)`` and ``term``; the term
    join is term-keyed (vocabulary-sized sides). The per-source top-k is the
    two-phase local-then-merge slice — never ``row_number`` over a full
    per-source candidate set, whose partitions would hold the whole
    vocabulary per source at 100 TB."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.expr(_SPARK_TOK)).alias("term")
    )
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    docfreq = (
        tok.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.groupBy().agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs") - F.col("df")))
    )
    # Two-phase per-source top-k (struct sort on (-score, term) == the
    # window's ORDER BY score DESC, term ASC; tf/df ride along — they are
    # functions of (source, term) so they never influence the order).
    cand = F.struct(
        (-F.col("score")).alias("neg"),
        F.col("term").alias("term"),
        F.col("tf").alias("tf"),
        F.col("df").alias("df"),
    )
    local = scored.groupBy("source", F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list(cand)), 1, TOP_TERMS_K).alias("c")
    )
    merged = local.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("c"))), 1, TOP_TERMS_K
        ).alias("topk")
    )
    return merged.select("source", F.posexplode("topk").alias("pos", "c")).select(
        "source",
        F.col("c.term").alias("term"),
        F.col("c.tf").alias("tf"),
        F.col("c.df").alias("df"),
        (-F.col("c.neg")).alias("score"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Inverted index with capped postings lists.
# ---------------------------------------------------------------------------
POSTINGS_CAP = 10

_INVIDX_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, unnest({_DUCK_TOK}) AS term FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_sort(array_agg(doc_id))[1:{POSTINGS_CAP}], ',') AS postings
FROM pairs GROUP BY term
"""


@register(
    "inverted_index",
    oracle=_INVIDX_SQL,
    doc="Inverted index build: term -> document frequency + capped sorted "
    "postings sample (search-engine / contamination-lookup building block)",
    tags=("ext", "textpipe"),
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: distinct ``(term, doc_id)`` pairs shuffle once on the
    uniform compound key; postings are capped with the two-phase pattern —
    per input partition a sorted slice of at most ``POSTINGS_CAP`` ids, then
    a merge over ``partitions x cap`` ids per term. An uncapped
    ``collect_list`` per term would hold a stopword's entire posting list
    (billions of ids at 100 TB) in one aggregation buffer; this never
    materializes more than ``cap`` ids per (term, partition)."""
    docs = parallel_scan(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id", F.explode(F.expr(_SPARK_TOK)).alias("term")
    ).distinct()
    local = pairs.groupBy("term", F.spark_partition_id().alias("_pid")).agg(
        F.count("*").alias("cnt"),
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, POSTINGS_CAP).alias("p"),
    )
    merged = local.groupBy("term").agg(
        F.sum("cnt").alias("df"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("p"))), 1, POSTINGS_CAP
        ).alias("postings_arr"),
    )
    return merged.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.concat_ws(",", F.col("postings_arr").cast("array<string>")).alias(
            "postings"
        ),
    )


# ---------------------------------------------------------------------------
# Per-source length quartiles (curriculum / batch-shape analysis).
# ---------------------------------------------------------------------------
_QUARTILES_SQL = """
WITH r AS (
  SELECT source, doc_id, n_chars,
         ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS q
  FROM documents
)
SELECT source, CAST(q AS BIGINT) AS quartile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM r GROUP BY source, q
"""


@register(
    "length_quartiles",
    oracle=_QUARTILES_SQL,
    doc="Per-source document-length quartiles via ntile over the unique "
    "(n_chars, doc_id) order — length-distribution profiling for batch "
    "shaping and curriculum design",
    tags=("ext", "textpipe"),
)
def length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ntile window partitions by ``source`` (bounded
    corpus-catalog cardinality — same stance as ``top_suppliers_per_nation``;
    a GLOBAL ntile would force a single-partition total sort and is
    deliberately not offered). Both engines assign ntile identically over
    the unique total order (n_chars, doc_id)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("source", "quartile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution-position rankings (percent_rank / cume_dist) per source.
# ---------------------------------------------------------------------------
_RANKINGS_SQL = """
SELECT doc_id, source, n_chars,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
"""


@register(
    "doc_length_rankings",
    oracle=_RANKINGS_SQL,
    doc="Ranking-function family: percent_rank + cume_dist of each doc's "
    "length within its source (curriculum position signals); unique "
    "(n_chars, doc_id) order makes both exact integer ratios",
    tags=("ext", "textpipe"),
)
def doc_length_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one window partitioned by ``source`` (bounded corpus-
    catalog cardinality); over a unique total order percent_rank and
    cume_dist are (rank-1)/(n-1) and rank/n — exact integer ratios, so the
    doubles are engine-identical."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


# ---------------------------------------------------------------------------
# Robust outlier flags via grouped Arrow pandas (applyInPandas): per-source
# median/MAD over doc lengths. Median and MAD over integers are exact
# (worst case a .5 — exactly representable), so the grouped-pandas path gets
# a FULL value-hash oracle, which pins the Arrow batch semantics themselves.
# ---------------------------------------------------------------------------
_MAD_K = 3.0

_OUTLIER_SQL = f"""
WITH med AS (
  SELECT source, median(CAST(n_chars AS DOUBLE)) AS med
  FROM documents GROUP BY source
),
dev AS (
  SELECT d.doc_id, d.source, d.n_chars, med.med,
         abs(CAST(d.n_chars AS DOUBLE) - med.med) AS adev
  FROM documents d JOIN med ON d.source = med.source
),
mad AS (
  SELECT source, median(adev) AS mad FROM dev GROUP BY source
)
SELECT dev.doc_id, dev.source, CAST(dev.n_chars AS BIGINT) AS n_chars,
       dev.med, mad.mad,
       dev.adev > {_MAD_K} * mad.mad AS is_outlier
FROM dev JOIN mad ON dev.source = mad.source
"""


@register(
    "doc_length_outliers_mad",
    oracle=_OUTLIER_SQL,
    doc="Grouped-pandas (applyInPandas) robust outliers: per-source "
    "median/MAD of doc length, |x - med| > 3*MAD flags — integer medians "
    "are exact, so the Arrow path carries a full value-hash oracle",
    tags=("ext", "textpipe"),
)
def doc_length_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately the ``applyInPandas`` formulation (a window/percentile
    composition could express it too): this pins the grouped-Arrow batch
    path — group = one pandas frame, vectorized numpy math, schema-declared
    output — which the multimodal ops rely on. Scale shape: one shuffle on
    ``source`` (bounded groups by the corpus-catalog stance); each group is
    processed in one Arrow batch, no driver collection."""
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )

    def _mad(pdf: pd.DataFrame) -> pd.DataFrame:
        pyworker.ready()
        x = pdf["n_chars"].to_numpy(dtype="float64")
        med = float(np.median(x))
        adev = np.abs(x - med)
        mad = float(np.median(adev))
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "n_chars": pdf["n_chars"],
                "med": med,
                "mad": mad,
                "is_outlier": adev > _MAD_K * mad,
            }
        )

    return docs.groupBy("source").applyInPandas(
        _mad,
        schema="doc_id long, source string, n_chars long, med double, "
        "mad double, is_outlier boolean",
    )


# ---------------------------------------------------------------------------
# Chunk-level retrieval with document rollup — the RAG indexing composition:
# chunk (the doc_chunks windows) -> deterministic feature-hash embedding
# (signed token counts in 32 md5-addressed buckets, integer-exact) ->
# chunk-vs-chunk cosine -> best-chunk score per document pair -> top-3
# similar documents per query doc.
# ---------------------------------------------------------------------------
_CR_DIM = 32
_CR_QUERY_DOCS = 20
_CR_TOP = 3
_HEXD = "0123456789abcdef"


def _cr_bucket(h: str) -> str:
    """Bucket 0..31 from the first two hex digits of a precomputed md5
    column (pure instr math — portable; Spark's conv() returns strings and
    DuckDB lacks conv; hashing once per token instead of per-use matters:
    md5 dominates the embedding pass)."""
    c1 = f"(instr('{_HEXD}', substr({h}, 1, 1)) - 1)"
    c2 = f"(instr('{_HEXD}', substr({h}, 2, 1)) - 1)"
    return f"(({c1} * 16 + {c2}) % {_CR_DIM})"


def _cr_sign(h: str) -> str:
    return (
        f"(CASE WHEN (instr('{_HEXD}', substr({h}, 3, 1)) - 1) % 2 = 1 "
        f"THEN 1 ELSE -1 END)"
    )


def _cr_votes() -> str:
    return ",\n         ".join(
        f"CAST(sum(CASE WHEN b = {i} THEN s ELSE 0 END) AS BIGINT) AS v{i}"
        for i in range(_CR_DIM)
    )


_CR_VEC = "[" + ", ".join(f"v{i}" for i in range(_CR_DIM)) + "]"
_CR_DOT_QC = (
    f"list_sum(list_transform(range(1, {_CR_DIM} + 1),"
    " i -> CAST(q.vec[i] AS DOUBLE) * CAST(c.vec[i] AS DOUBLE)))"
)

_CHUNK_RETRIEVAL_SQL = f"""
WITH offs AS (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(length(text) - 1, 0), {CHUNK_STRIDE})) AS off
  FROM documents
),
chunks AS (
  SELECT doc_id, CAST(off / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
         substr(text, off + 1, {CHUNK_SIZE}) AS ctext
  FROM offs
),
th AS (
  SELECT doc_id, chunk_id, md5(t.tok) AS h
  FROM chunks, unnest(regexp_extract_all(lower(ctext), '{TOKEN_RE}')) AS t(tok)
),
tok AS (
  SELECT doc_id, chunk_id,
         {_cr_bucket('h')} AS b, {_cr_sign('h')} AS s
  FROM th
),
votes AS (
  SELECT doc_id, chunk_id,
         {_cr_votes()}
  FROM tok GROUP BY doc_id, chunk_id
),
vecs AS (
  SELECT doc_id, chunk_id, {_CR_VEC} AS vec,
         list_sum(list_transform({_CR_VEC}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS n2
  FROM votes
),
nz AS (SELECT * FROM vecs WHERE n2 > 0),
scored AS (
  SELECT q.doc_id AS query_doc, c.doc_id AS cand_doc,
         {_CR_DOT_QC} / sqrt(q.n2 * c.n2) AS cos_raw
  FROM nz q JOIN nz c ON c.doc_id <> q.doc_id
  WHERE q.doc_id < {_CR_QUERY_DOCS}
),
best AS (
  SELECT query_doc, cand_doc, max(cos_raw) AS score
  FROM scored GROUP BY query_doc, cand_doc
)
SELECT query_doc, cand_doc, round(score, 6) AS score, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_doc ORDER BY score DESC, cand_doc
  ) AS rnk
  FROM best
) WHERE rnk <= {_CR_TOP}
"""


@register(
    "chunk_retrieval_rollup",
    oracle=_CHUNK_RETRIEVAL_SQL,
    doc=f"RAG indexing composition: overlapping chunks -> {_CR_DIM}-bucket "
    "signed feature-hash embeddings (integer-exact) -> chunk cosine -> "
    f"best-chunk score per doc pair -> top-{_CR_TOP} similar docs per "
    f"query doc (doc_id < {_CR_QUERY_DOCS})",
    tags=("ext", "textpipe", "similarity"),
)
def chunk_retrieval_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: embeddings are one narrow pass (chunk explode + token
    explode) into a single keyed aggregation of 32 conditional sums —
    integer-exact, so vectors are bit-identical cross-engine; the retrieval
    pass broadcasts the (small) query-chunk side, the doc-pair rollup is a
    keyed max, and the final ranking is the two-phase top-k merge. At
    100 TB the all-chunk candidate leg would first gate through an LSH
    bucket (knn_graph_lsh) — the rollup and ranking stages are unchanged."""
    from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (
        topk_per_query,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    chunks = (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.expr(
                    f"sequence(0, greatest(length(text) - 1, 0), {CHUNK_STRIDE})"
                )
            ).alias("off"),
        )
        .select(
            "doc_id",
            (F.col("off") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.expr(f"substr(text, off + 1, {CHUNK_SIZE})").alias("ctext"),
        )
    )
    tok = chunks.select(
        "doc_id",
        "chunk_id",
        F.explode(F.expr(f"regexp_extract_all(lower(ctext), '{TOKEN_RE}', 0)")).alias(
            "tok"
        ),
    ).select(
        "doc_id",
        "chunk_id",
        F.md5(F.col("tok").cast("binary")).alias("h"),
    ).select(
        "doc_id",
        "chunk_id",
        F.expr(_cr_bucket("h")).alias("b"),
        F.expr(_cr_sign("h")).alias("s"),
    )
    votes = tok.groupBy("doc_id", "chunk_id").agg(
        *[
            F.sum(F.when(F.col("b") == i, F.col("s")).otherwise(0))
            .cast("long")
            .alias(f"v{i}")
            for i in range(_CR_DIM)
        ]
    )
    vecs = votes.select(
        "doc_id",
        "chunk_id",
        F.array(*[F.col(f"v{i}") for i in range(_CR_DIM)]).alias("vec"),
    ).withColumn(
        "n2",
        F.expr(
            "aggregate(vec, CAST(0 AS DOUBLE),"
            " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
        ),
    ).filter(F.col("n2") > 0)
    vecs = vecs.localCheckpoint(eager=False)  # feeds both join legs
    q = vecs.filter(F.col("doc_id") < _CR_QUERY_DOCS).select(
        F.col("doc_id").alias("query_doc"),
        F.col("vec").alias("vec_q"),
        F.col("n2").alias("nq2"),
    )
    c = vecs.select(
        F.col("doc_id").alias("cand_doc"),
        F.col("vec").alias("vec_c"),
        F.col("n2").alias("nc2"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_doc") != F.col("query_doc"))
        .select(
            "query_doc",
            "cand_doc",
            (
                F.expr(
                    "aggregate(zip_with(vec_q, vec_c, (x, y) ->"
                    " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
                )
                / F.sqrt(F.col("nq2") * F.col("nc2"))
            ).alias("cos_raw"),
        )
    )
    best = scored.groupBy("query_doc", "cand_doc").agg(F.max("cos_raw").alias("cos_raw"))
    ranked = topk_per_query(
        best.select(
            F.col("query_doc").alias("query_id"),
            F.col("cand_doc").alias("neighbor_id"),
            "cos_raw",
        ),
        k=_CR_TOP,
    )
    return ranked.select(
        F.col("query_id").alias("query_doc"),
        F.col("neighbor_id").alias("cand_doc"),
        F.col("cosine").alias("score"),
        "rank",
    )
