"""[EXT] Training-data curation queries: deterministic stratified sampling,
mixture planning, sequence packing, duplicate-cluster resolution.

The post-dedup half of an LLM data pipeline (SURVEY.md section 2.10 scope).
Everything is reproducible by construction — md5-keyed decisions, exact
integer thresholds — so a 1000-executor rerun selects byte-identical
training sets (operators/curation.py documents the idiom).

Oracle parity notes: the md5-uint32 idiom is bit-identical in both engines;
window cumsums order by (md5-shuffle, doc_id) with the tiebreak making the
frame total-ordered; connected components uses a DuckDB recursive CTE as the
oracle for the Spark label-propagation loop (same fixpoint, different
algorithm — exactly what an oracle should be).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
    HASH_SPACE,
    connected_components,
    duck_hash_uniform,
    hash_uniform,
    mixture_plan,
    pack_sequences,
    stratified_sample,
)
from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
    LSH_CONFIG_LADDER,
    duck_band_union,
    duck_minhash_cols,
    duck_shingles,
    lsh_candidate_pairs,
    lsh_config_for,
    shingles_expr,
    with_bands,
    with_minhash,
    with_shingles,
)
from amazon_kinesis_data_streams_health_check_spark.operators.textstats import TOKEN_RE, duck_stop_list
from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
    load_table,
    parallel_scan,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
    drain,
    replay_feed,
)

# ---------------------------------------------------------------------------
# Deterministic stratified sampling: rebalance languages (downsample the
# dominant one, keep the rare ones) — the canonical curation move.
# ---------------------------------------------------------------------------
_SAMPLE_RATES: dict[str, int] = {"en": 25, "de": 75, "fr": 50, "es": 50, "zh": 100}

_DUCK_RATE = (
    "CASE lang "
    + " ".join(f"WHEN '{s}' THEN {p}" for s, p in _SAMPLE_RATES.items())
    + " ELSE 0 END"
)

_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {duck_hash_uniform('doc_id')} * 100 < ({_DUCK_RATE}) * {HASH_SPACE}
"""


@register(
    "curation_stratified_sample",
    oracle=_STRATIFIED_SQL,
    doc="EXT curation: md5-keyed stratified sampling by language "
    "(reproducible under repartitioning/retries, unlike rand()-based sample)",
    tags=("ext", "curation"),
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", _SAMPLE_RATES).select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------------
# Mixture planning: largest token budget honoring target language weights.
# ---------------------------------------------------------------------------
_MIX_WEIGHTS: dict[str, int] = {"en": 5, "de": 2, "fr": 1, "es": 1, "zh": 1}
_MIX_W_TOTAL = sum(_MIX_WEIGHTS.values())

_DUCK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"

_MIX_VALUES = ", ".join(f"('{s}', {p})" for s, p in _MIX_WEIGHTS.items())

_MIXTURE_SQL = f"""
WITH avail AS (
  SELECT lang AS stratum, CAST(sum(len({_DUCK_TOK})) AS BIGINT) AS avail
  FROM documents GROUP BY lang
),
w(stratum, weight) AS (VALUES {_MIX_VALUES}),
per AS (SELECT a.stratum, avail, weight FROM avail a JOIN w USING (stratum)),
cap AS (SELECT min(floor(avail * {_MIX_W_TOTAL} / weight)) AS t_max FROM per)
SELECT stratum, avail, weight,
       CAST(floor(weight * t_max / {_MIX_W_TOTAL}) AS BIGINT) AS take_tokens,
       round(CAST(floor(weight * t_max / {_MIX_W_TOTAL}) AS DOUBLE) / avail, 6)
         AS utilization
FROM per, cap
"""


@register(
    "curation_mixture_plan",
    oracle=_MIXTURE_SQL,
    doc="EXT curation: integer mixture planner — max token budget T with "
    "w_s/W * T <= available_s, per-language takes and utilization",
    tags=("ext", "curation"),
)
def curation_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy(F.col("lang").alias("stratum")).agg(
        F.sum(F.expr(f"size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0))"))
        .cast("long")
        .alias("avail")
    )
    return mixture_plan(avail, _MIX_WEIGHTS)


# ---------------------------------------------------------------------------
# Sequence packing: md5-shuffled per-source greedy concat into token bins.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 512

_PACK_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, CAST(len({_DUCK_TOK}) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source
           ORDER BY {duck_hash_uniform('doc_id')}, doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM tok
)
SELECT source, CAST(floor((cum_tokens - 1) / {_PACK_BUDGET}) AS BIGINT) AS bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM packed
GROUP BY 1, 2
"""


@register(
    "curation_pack_sequences",
    oracle=_PACK_SQL,
    doc=f"EXT curation: deterministic-shuffle greedy packing into "
    f"{_PACK_BUDGET}-token bins per source (window cumsum; per-source "
    "partitioning keeps the window parallel at scale)",
    tags=("ext", "curation"),
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.expr(f"size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0))")
        .cast("long")
        .alias("n_tokens"),
    )
    packed = pack_sequences(tok, _PACK_BUDGET)
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: near-dup pairs -> connected components ->
# canonical keep-doc per cluster. Oracle = recursive-CTE transitive closure
# (a different algorithm arriving at the same fixpoint).
# ---------------------------------------------------------------------------
_CLUSTER_JACCARD = 0.2

_CLUSTERS_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, source, {duck_shingles()} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM tok a
  JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(a.sh || b.sh)) >= {_CLUSTER_JACCARD}
),
edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS cluster_id
FROM reach GROUP BY src
"""


def _near_dup_pairs(docs: DataFrame) -> DataFrame:
    """Source-blocked exact-Jaccard near-dup pairs (a < b) over shingles."""
    shingled = with_shingles(docs).select("doc_id", "source", "sh")
    a = shingled.select(
        F.col("doc_id").alias("a"), F.col("source"), F.col("sh").alias("sh_a")
    )
    b = shingled.select(
        F.col("doc_id").alias("b"), F.col("source"), F.col("sh").alias("sh_b")
    )
    jac = F.expr("size(array_intersect(sh_a, sh_b))").cast("double") / F.expr(
        "size(array_union(sh_a, sh_b))"
    )
    return (
        a.join(b, "source")
        .filter(F.col("a") < F.col("b"))
        .filter(jac >= _CLUSTER_JACCARD)
        .select("a", "b")
    )


@register(
    "dedup_clusters",
    oracle=_CLUSTERS_SQL,
    doc="EXT dedup: connected components over n-gram-Jaccard near-dup pairs "
    "(distributed min-label propagation vs a recursive-CTE closure oracle); "
    "cluster_id = canonical min doc_id to keep",
    tags=("ext", "dedup"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallel_scan(spark, sf_dir, "documents")
    return connected_components(_near_dup_pairs(docs))


# ---------------------------------------------------------------------------
# End-to-end curation pipeline: quality gate -> deterministic stratified
# sample -> per-source packing -> bin summary. One composed plan (single
# documents scan, narrow ops until the final tiny aggregation) proving the
# stages fuse — at 100 TB this whole pipeline is a scan + one window + one
# aggregation exchange.
# ---------------------------------------------------------------------------
_PIPE_MIN_QUALITY = 0.55
_PIPE_BUDGET = 512

_PIPELINE_SQL = f"""
WITH s AS (
  SELECT doc_id, lang, source,
         CAST(len({_DUCK_TOK}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({_DUCK_TOK})) AS BIGINT) AS n_distinct_tokens,
         CAST(len(list_filter({_DUCK_TOK}, x -> list_contains({duck_stop_list()}, x)))
           AS BIGINT) AS n_stopword_tokens
  FROM documents
),
scored AS (
  SELECT *,
         round(0.4 * (CAST(n_distinct_tokens AS DOUBLE) / n_tokens)
               + 0.3 * least(1.0, n_tokens / 100.0)
               + 0.3 * (1.0 - CAST(n_stopword_tokens AS DOUBLE) / n_tokens), 6)
           AS quality_score
  FROM s WHERE n_tokens > 0
),
kept AS (
  SELECT * FROM scored
  WHERE quality_score >= {_PIPE_MIN_QUALITY}
    AND {duck_hash_uniform('doc_id')} * 100 < ({_DUCK_RATE}) * {HASH_SPACE}
),
packed AS (
  SELECT source, quality_score, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source
           ORDER BY {duck_hash_uniform('doc_id')}, doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM kept
)
SELECT source,
       CAST(floor((cum_tokens - 1) / {_PIPE_BUDGET}) AS BIGINT) AS bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       round(avg(quality_score), 6) AS avg_quality
FROM packed
GROUP BY 1, 2
"""


@register(
    "curation_pipeline",
    oracle=_PIPELINE_SQL,
    doc="EXT curation: composed quality-gate -> md5 stratified sample -> "
    "per-source packing pipeline (single scan, one window, one agg exchange)",
    tags=("ext", "curation"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        with_quality_score,
        with_token_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(with_token_stats(docs)).filter(F.col("n_tokens") > 0)
    kept = stratified_sample(
        scored.filter(F.col("quality_score") >= _PIPE_MIN_QUALITY),
        "lang",
        "doc_id",
        _SAMPLE_RATES,
    ).select("doc_id", "source", "n_tokens", "quality_score")
    packed = pack_sequences(kept, _PIPE_BUDGET)
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Full dedup DECISION list: every document (singletons included) gets its
# cluster, the cluster size, and a keep/drop verdict — canonical member =
# highest quality score, doc_id tie-break. This is the artifact a training
# pipeline actually consumes ("which rows survive dedup"), completing the
# pair-finding -> clustering -> resolution chain.
# ---------------------------------------------------------------------------
_KEEP_QSCORE = f"""
CASE WHEN len({{tok}}) = 0 THEN 0.0 ELSE
  round(0.4 * (CAST(len(list_distinct({{tok}})) AS DOUBLE) / len({{tok}}))
        + 0.3 * least(1.0, len({{tok}}) / 100.0)
        + 0.3 * (1.0 - CAST(len(list_filter({{tok}}, x -> list_contains({{stop}}, x)))
                       AS DOUBLE) / len({{tok}})), 6)
END
""".strip()

_KEEP_LIST_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, source, {duck_shingles()} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM tok a
  JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(a.sh || b.sh)) >= {_CLUSTER_JACCARD}
),
edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
q AS (
  SELECT doc_id,
         {_KEEP_QSCORE.format(tok=f"regexp_extract_all(lower(text), '{TOKEN_RE}')", stop=duck_stop_list())} AS qscore
  FROM documents
),
alld AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, q.qscore
  FROM documents d
  LEFT JOIN labels l ON d.doc_id = l.doc_id
  JOIN q ON q.doc_id = d.doc_id
),
best AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
         min({{'nq': -qscore, 'id': doc_id}}) AS b
  FROM alld GROUP BY cluster_id
)
SELECT a.doc_id, a.cluster_id, best.cluster_size, a.qscore,
       a.doc_id = best.b.id AS keep
FROM alld a JOIN best ON a.cluster_id = best.cluster_id
"""


@register(
    "dedup_keep_list",
    oracle=_KEEP_LIST_SQL,
    doc="EXT dedup: full keep/drop decision list — every doc (singletons "
    "included) with cluster id, cluster size, quality score, and a keep "
    "flag for the highest-quality member (doc_id tie-break)",
    tags=("ext", "dedup"),
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pairs/labels cost scales with the near-dup EDGE set
    (connected_components contract); singleton docs never enter the loop —
    they join in with a left join and label themselves. The canonical pick
    is one keyed min-aggregation over ``struct(-qscore, doc_id)`` (partial-
    aggregatable — a giant cluster never concentrates rows on one task),
    and cluster metadata flows back via a cluster_id-keyed shuffle join."""
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        with_quality_score,
        with_token_stats,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    labels = connected_components(_near_dup_pairs(docs))
    scored = with_quality_score(with_token_stats(docs))
    q = scored.select(
        "doc_id",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.col("quality_score"))
        .alias("qscore"),
    )
    # ``alld`` feeds the per-cluster pick AND the final join; pin it once so
    # the tokenize/quality chain and the CC labels are not re-derived per
    # consumer.
    alld = (
        q.join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .select("doc_id", "cluster_id", "qscore")
        .localCheckpoint(eager=False)
    )
    best = alld.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(
            F.struct((-F.col("qscore")).alias("nq"), F.col("doc_id").alias("id"))
        ).alias("b"),
    )
    return alld.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "qscore",
        (F.col("doc_id") == F.col("b.id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe splits: assignment at the duplicate-GROUP level.
# ---------------------------------------------------------------------------
_LEAK_TRAIN_PCT, _LEAK_VAL_PCT = 90, 5

_LEAKAGE_SPLIT_SQL = f"""
WITH grouped AS (
  SELECT doc_id, source, n_chars, md5(text) AS fp FROM documents
),
assigned AS (
  SELECT doc_id, source, n_chars, fp,
         CASE WHEN CAST(('0x' || substr(md5(fp), 1, 8)) AS BIGINT) % 100
                   < {_LEAK_TRAIN_PCT} THEN 'train'
              WHEN CAST(('0x' || substr(md5(fp), 1, 8)) AS BIGINT) % 100
                   < {_LEAK_TRAIN_PCT + _LEAK_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM grouped
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_groups,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT)) AS BIGINT) AS membership_sum
FROM assigned GROUP BY source, split
"""


@register(
    "leakage_safe_split",
    oracle=_LEAKAGE_SPLIT_SQL,
    doc="Leakage-safe train/val/test split: the 90/5/5 assignment keys on "
    "the duplicate-GROUP fingerprint (md5 of text), not the document, so "
    "copies of one document can never straddle train and test; the builder "
    "re-derives straddling groups and raises if any exist",
    tags=("ext", "curation"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-contamination failure mode ``split_assign`` leaves open:
    doc-keyed hashing puts exact/near duplicates of a training document
    into the test set, inflating eval. Keying the hash on the duplicate
    group's fingerprint closes it — every member inherits the group's
    split. Scale shape: one narrow fingerprint pass, the same
    hash-threshold assignment (repartition/retry-invariant), one keyed
    aggregation; the straddle audit is a 2-column distinct + group-by on
    the uniform fingerprint key."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    assigned = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5("text").alias("fp"),
    ).withColumn(
        "split",
        F.when(hash_uniform("fp") % 100 < _LEAK_TRAIN_PCT, "train")
        .when(hash_uniform("fp") % 100 < _LEAK_TRAIN_PCT + _LEAK_VAL_PCT, "val")
        .otherwise("test"),
    ).localCheckpoint(eager=False)  # feeds the audit AND the rollup
    straddlers = (
        assigned.select("fp", "split")
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    if straddlers:
        raise RuntimeError(
            f"{straddlers} duplicate groups straddle splits — leakage"
        )
    return assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_groups"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(hash_uniform("doc_id")).cast("long").alias("membership_sum"),
    )


# ---------------------------------------------------------------------------
# Token-budget water-filling: allocate a global training-token budget across
# sources so small sources keep everything and large sources are capped at
# a common waterline L with sum(min(n_s, L)) <= B — the standard fair
# allocation for mixture building. The waterline is found in CLOSED FORM
# from the sorted per-source sizes: for each rank i, the candidate level
# (B - prefix_{i-1}) div (K - i + 1) is valid iff it clears size_{i-1};
# the largest valid rank gives L. All integer arithmetic, no iteration.
# ---------------------------------------------------------------------------
_WF_BUDGET_FRAC = 2  # budget B = total_tokens div 2


def _wf_tok_count(text_expr: str) -> str:
    return f"len(regexp_extract_all(lower({text_expr}), '[a-z0-9]+'))"


_WF_SQL = f"""
WITH sz AS (
  SELECT source, CAST(sum({_wf_tok_count("text")}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         CAST(sum(n_tokens) // {_WF_BUDGET_FRAC} AS BIGINT) AS budget,
         CAST(count(*) AS BIGINT) AS k
  FROM sz
),
ranked AS (
  SELECT source, n_tokens,
         row_number() OVER (ORDER BY n_tokens, source) AS i,
         sum(n_tokens) OVER (ORDER BY n_tokens, source
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS p
  FROM sz
),
cand AS (
  SELECT r.i,
         COALESCE(lag(r.n_tokens) OVER (ORDER BY r.i), 0) AS s_prev,
         COALESCE(lag(r.p) OVER (ORDER BY r.i), 0) AS p_prev
  FROM ranked r
),
wl AS (
  SELECT max(CAST((t.budget - c.p_prev) // (t.k - c.i + 1) AS BIGINT))
           FILTER (WHERE (t.budget - c.p_prev) // (t.k - c.i + 1) >= c.s_prev)
           AS waterline
  FROM cand c CROSS JOIN tot t
)
SELECT s.source, s.n_tokens,
       CAST(least(s.n_tokens, w.waterline) AS BIGINT) AS allocated,
       s.n_tokens > w.waterline AS capped,
       CAST(w.waterline AS BIGINT) AS waterline,
       t.budget
FROM sz s CROSS JOIN wl w CROSS JOIN tot t
"""


@register(
    "token_budget_waterfill",
    oracle=_WF_SQL,
    doc="Mixture building: closed-form water-filling allocation of a "
    "global token budget (half the corpus) across sources — sorted prefix "
    "sums give every candidate waterline in one window pass, the largest "
    "valid one wins; exact integers, no iteration",
    tags=("ext", "curation"),
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-source sizes are one counting aggregation over the
    corpus; everything after runs on the |sources|-row table (window over
    K rows, broadcast scalars). The closed form matters at scale because
    the naive alternative — iterate 'lower the waterline until the budget
    fits' — is a driver-side loop with a corpus-sized re-aggregation per
    step. Monotonicity of (B - P_{{i-1}}) div (K-i+1) validity makes the
    max-valid-rank selection correct (the waterline function is the
    classic one from max-min fair allocation)."""
    from pyspark.sql import Window

    docs = parallel_scan(spark, sf_dir, "documents")
    sz = docs.groupBy("source").agg(
        F.sum(F.expr(f"size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0))"))
        .cast("long")
        .alias("n_tokens")
    )
    sz = sz.localCheckpoint(eager=False)  # feeds totals, ranking, AND output
    tot = sz.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.expr(f"sum(n_tokens) div {_WF_BUDGET_FRAC}").cast("long").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    w_rank = Window.orderBy("n_tokens", "source")
    ranked = sz.select(
        "n_tokens",
        F.row_number().over(w_rank).alias("i"),
        F.sum("n_tokens")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("p"),
    )
    w_i = Window.orderBy("i")
    cand = ranked.select(
        "i",
        F.coalesce(F.lag("n_tokens").over(w_i), F.lit(0)).alias("s_prev"),
        F.coalesce(F.lag("p").over(w_i), F.lit(0)).alias("p_prev"),
    )
    lvl = F.expr("(budget - p_prev) div (k - i + 1)")
    wl = (
        cand.crossJoin(F.broadcast(tot))
        .select(F.when(lvl >= F.col("s_prev"), lvl).alias("valid_level"))
        .agg(F.max("valid_level").cast("long").alias("waterline"))
    )
    return (
        sz.crossJoin(F.broadcast(wl))
        .crossJoin(F.broadcast(tot.select("budget")))
        .select(
            "source",
            "n_tokens",
            F.least("n_tokens", "waterline").cast("long").alias("allocated"),
            (F.col("n_tokens") > F.col("waterline")).alias("capped"),
            "waterline",
            "budget",
        )
    )


# ---------------------------------------------------------------------------
# Span-corruption objective planning (T5-style denoising): pretraining
# pipelines don't just select and pack text — they construct the training
# objective, replacing contiguous token spans with sentinels and emitting
# the spans as targets. The plan must be reproducible (same doc => same
# masks across retries and epochs-with-offset), so randomness is md5-keyed
# on (doc, window): tokens are cut into fixed windows and each window
# masks one deterministic span (hash-placed start, hash-sized length,
# clipped) — giving ~independent spans with no sequential scan, the same
# trick production corruption kernels use to stay parallel.
# ---------------------------------------------------------------------------
_SPANC_WINDOW = 8  # tokens per corruption window
_SPANC_MAXLEN = 3  # span length 1.._SPANC_MAXLEN (mean 2 => ~25% of window)

_SPAN_CORRUPT_SQL = f"""
WITH tok AS (
  SELECT doc_id, len({_DUCK_TOK}) AS n_tokens FROM documents
),
wins AS (
  SELECT doc_id, n_tokens, w.range AS win,
         least((w.range + 1) * {_SPANC_WINDOW}, n_tokens)
           - w.range * {_SPANC_WINDOW} AS win_len
  FROM tok, range(0, 100000) w
  WHERE w.range * {_SPANC_WINDOW} < n_tokens
),
spans AS (
  SELECT doc_id, n_tokens, win, win_len,
         1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(win AS VARCHAR) || ':len'), 1, 8)) AS BIGINT)
             % {_SPANC_MAXLEN} AS want_len,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
               CAST(win AS VARCHAR) || ':pos'), 1, 8)) AS BIGINT)
             % {_SPANC_WINDOW} AS want_start
  FROM wins
),
clipped AS (
  SELECT doc_id, n_tokens, win,
         least(want_start, win_len - 1) AS start_off,
         least(least(want_start, win_len - 1) + want_len, win_len)
           - least(want_start, win_len - 1) AS span_len
  FROM spans
)
SELECT doc_id,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(span_len) AS BIGINT) AS n_masked,
       CAST(1000000 * sum(span_len) // max(n_tokens) AS BIGINT)
         AS corruption_ppm,
       CAST(max(n_tokens) - sum(span_len) + count(*) AS BIGINT)
         AS n_input_tokens,
       CAST(sum(span_len) + count(*) AS BIGINT) AS n_target_tokens
FROM clipped GROUP BY doc_id
"""


@register(
    "span_corruption_plan",
    oracle=_SPAN_CORRUPT_SQL,
    doc="EXT objective construction: T5-style span-corruption planning — "
    "md5-keyed deterministic mask spans (one hash-placed, hash-sized, "
    "clipped span per fixed token window), per-doc span/masked counts, "
    "corruption ppm, and the sentinel-adjusted encoder/decoder token "
    "budgets packing needs downstream; reproducible by construction",
    tags=("ext", "curation"),
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: token counting is a narrow expression over the scan;
    windows explode as ``sequence()`` per doc (no join against a range
    relation — the DuckDB range() twin exists only because SQL lacks
    per-row sequence explode), and every span decision is per-row md5
    arithmetic — zero shuffles before the final per-doc aggregation,
    which map-side combines on the parallel scan's layout. Same-doc =>
    same masks under any partitioning, retry, or epoch replay."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0))")
        .cast("long")
        .alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    wins = tok.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.expr(
                f"sequence(0, cast((n_tokens - 1) div {_SPANC_WINDOW} as int))"
            )
        ).alias("win"),
    ).select(
        "doc_id",
        "n_tokens",
        "win",
        (
            F.least((F.col("win") + 1) * _SPANC_WINDOW, F.col("n_tokens"))
            - F.col("win") * _SPANC_WINDOW
        ).alias("win_len"),
    )
    h = lambda suffix: F.expr(  # noqa: E731
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', "
        f"CAST(win AS STRING), ':{suffix}')), 1, 8), 16, 10) AS BIGINT)"
    )
    spans = wins.select(
        "doc_id",
        "n_tokens",
        "win",
        "win_len",
        (1 + h("len") % _SPANC_MAXLEN).alias("want_len"),
        (h("pos") % _SPANC_WINDOW).alias("want_start"),
    )
    clipped = spans.select(
        "doc_id",
        "n_tokens",
        F.least("want_start", F.col("win_len") - 1).alias("start_off"),
        "want_len",
        "win_len",
    ).select(
        "doc_id",
        "n_tokens",
        (
            F.least(F.col("start_off") + F.col("want_len"), F.col("win_len"))
            - F.col("start_off")
        ).alias("span_len"),
    )
    return clipped.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_len").cast("long").alias("n_masked"),
        F.expr(
            "CAST(1000000 * sum(span_len) div max(n_tokens) AS BIGINT)"
        ).alias("corruption_ppm"),
        (F.max("n_tokens") - F.sum("span_len") + F.count(F.lit(1)))
        .cast("long")
        .alias("n_input_tokens"),
        (F.sum("span_len") + F.count(F.lit(1)))
        .cast("long")
        .alias("n_target_tokens"),
    )


# ---------------------------------------------------------------------------
# Distribution-matched importance resampling: the curation move AFTER
# stratified sampling — instead of hand-set per-stratum rates, each source's
# length profile is resampled to match the GLOBAL length mix (the device
# used to make a noisy crawl source match a reference corpus profile).
# Buckets are floor(log2(n_chars)) (the integer bin() device — no float
# log); the acceptance test per document is the exact integer cross-product
# inequality  h * (n_sb * n) < 2^32 * (n_b * n_s), i.e. keep with
# probability min(1, target_share / actual_share), decided by the document's
# own md5 hash so a 1000-executor rerun selects the identical set. Products
# reach ~1e21 at sf1, so both sides are compared in DECIMAL(38,0)/HUGEINT —
# exact, never floating.
# ---------------------------------------------------------------------------
_QMR_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(length(bin(greatest(n_chars, 1))) - 1 AS BIGINT) AS bucket,
         {duck_hash_uniform('doc_id')} AS h
  FROM documents
),
csb AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_sb
  FROM base GROUP BY source, bucket
),
cb AS (SELECT bucket, CAST(sum(n_sb) AS BIGINT) AS n_b FROM csb GROUP BY bucket),
cs AS (SELECT source, CAST(sum(n_sb) AS BIGINT) AS n_s FROM csb GROUP BY source),
tot AS (SELECT CAST(sum(n_sb) AS BIGINT) AS n FROM csb),
accepted AS (
  SELECT b.source, b.bucket, CAST(count(*) AS BIGINT) AS n_after
  FROM base b
  JOIN csb ON csb.source = b.source AND csb.bucket = b.bucket
  JOIN cb ON cb.bucket = b.bucket
  JOIN cs ON cs.source = b.source
  CROSS JOIN tot t
  WHERE CAST(b.h AS HUGEINT) * (CAST(csb.n_sb AS HUGEINT) * t.n)
      < CAST({HASH_SPACE} AS HUGEINT) * (CAST(cb.n_b AS HUGEINT) * cs.n_s)
  GROUP BY b.source, b.bucket
)
SELECT csb.source, csb.bucket, csb.n_sb AS n_before,
       COALESCE(a.n_after, 0) AS n_after,
       CAST(1000000 * cb.n_b // t.n AS BIGINT) AS target_ppm,
       CAST(1000000 * csb.n_sb // cs.n_s AS BIGINT) AS before_ppm,
       csb.n_sb * t.n <= cb.n_b * cs.n_s AS kept_all
FROM csb
JOIN cb ON cb.bucket = csb.bucket
JOIN cs ON cs.source = csb.source
CROSS JOIN tot t
LEFT JOIN accepted a ON a.source = csb.source AND a.bucket = csb.bucket
"""


@register(
    "quality_matched_resample",
    oracle=_QMR_SQL,
    doc="EXT curation: distribution-matched importance resampling — each "
    "source's floor-log2 length profile is resampled toward the GLOBAL "
    "profile via the exact integer acceptance test h*(n_sb*n) < "
    "2^32*(n_b*n_s) (keep-probability min(1, target/actual) decided by the "
    "document's own md5 hash, reproducible under any partitioning); "
    "DECIMAL(38)/HUGEINT cross-products so nothing floats",
    tags=("ext", "curation"),
)
def quality_matched_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow projection of the corpus (doc_id hash +
    length bucket — no text moves), one (source, bucket) counting
    aggregation whose result is BOUNDED (sources x ~30 buckets) and
    broadcast back onto the projection for the per-document acceptance
    filter, then a second bounded aggregation of survivors. Two scan-shaped
    passes, zero wide shuffles — the decision table a 100 TB resample
    actually ships to every executor."""
    docs = parallel_scan(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        (F.length(F.bin(F.greatest("n_chars", F.lit(1)))) - 1)
        .cast("long")
        .alias("bucket"),
        hash_uniform("doc_id").alias("h"),
    )
    base = base.localCheckpoint(eager=False)  # feeds counts AND acceptance
    csb = base.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_sb")
    )
    csb = csb.localCheckpoint(eager=False)  # bounded; feeds 4 consumers
    cb = csb.groupBy("bucket").agg(F.sum("n_sb").cast("long").alias("n_b"))
    cs = csb.groupBy("source").agg(F.sum("n_sb").cast("long").alias("n_s"))
    tot = csb.agg(F.sum("n_sb").cast("long").alias("n"))
    dims = (
        csb.join(cb, "bucket")
        .join(cs, "source")
        .crossJoin(tot)
    )
    dec = "DECIMAL(38,0)"
    accepted = (
        base.join(F.broadcast(dims), ["source", "bucket"])
        .filter(
            F.expr(
                f"CAST(h AS {dec}) * (CAST(n_sb AS {dec}) * n)"
                f" < CAST({HASH_SPACE} AS {dec}) * (CAST(n_b AS {dec}) * n_s)"
            )
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_after"))
    )
    return (
        dims.join(F.broadcast(accepted), ["source", "bucket"], "left")
        .na.fill({"n_after": 0})
        .select(
            "source",
            "bucket",
            F.col("n_sb").alias("n_before"),
            "n_after",
            F.expr("CAST(1000000 * n_b div n AS BIGINT)").alias("target_ppm"),
            F.expr("CAST(1000000 * n_sb div n_s AS BIGINT)").alias("before_ppm"),
            F.expr(
                f"CAST(n_sb AS {dec}) * n <= CAST(n_b AS {dec}) * n_s"
            ).alias("kept_all"),
        )
    )


# ---------------------------------------------------------------------------
# Padded-batch waste: pad-to-max batching cost of length-sorted vs
# md5-shuffled batch formation — the inference/eval counterpart of
# pack_sequences (training concatenates; serving PADS). Every sequence in a
# batch of 32 is padded to the batch max, so a batch costs count * max(len);
# length bucketing exists precisely to shrink that padding, and this query
# measures exactly what it buys per source in integer ppm. Both orderings
# carry a doc_id tiebreak, so batch membership — and therefore every number
# here — is bit-deterministic in both engines.
# ---------------------------------------------------------------------------
_PBW_BATCH = 32

_PBW_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT)
           AS n_tokens,
         {duck_hash_uniform('doc_id')} AS h
  FROM documents
),
ordered AS (
  SELECT source, n_tokens,
         (row_number() OVER (PARTITION BY source
                             ORDER BY n_tokens DESC, doc_id) - 1)
           // {_PBW_BATCH} AS batch_sorted,
         (row_number() OVER (PARTITION BY source
                             ORDER BY h, doc_id) - 1)
           // {_PBW_BATCH} AS batch_random
  FROM base
),
srt AS (
  SELECT source, batch_sorted,
         CAST(count(*) * max(n_tokens) AS BIGINT) AS padded
  FROM ordered GROUP BY source, batch_sorted
),
rnd AS (
  SELECT source, batch_random,
         CAST(count(*) * max(n_tokens) AS BIGINT) AS padded
  FROM ordered GROUP BY source, batch_random
),
tok AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS token_sum
  FROM base GROUP BY source
)
SELECT t.source, t.n_docs, t.token_sum,
       s.n_batches,
       s.padded_sorted,
       r.padded_random,
       CAST(1000000 * (s.padded_sorted - t.token_sum) // s.padded_sorted
            AS BIGINT) AS waste_sorted_ppm,
       CAST(1000000 * (r.padded_random - t.token_sum) // r.padded_random
            AS BIGINT) AS waste_random_ppm,
       CAST(1000000 * (r.padded_random - s.padded_sorted) // r.padded_random
            AS BIGINT) AS savings_ppm
FROM tok t
JOIN (SELECT source, CAST(count(*) AS BIGINT) AS n_batches,
             CAST(sum(padded) AS BIGINT) AS padded_sorted
      FROM srt GROUP BY source) s ON s.source = t.source
JOIN (SELECT source, CAST(sum(padded) AS BIGINT) AS padded_random
      FROM rnd GROUP BY source) r ON r.source = t.source
"""


@register(
    "padded_batch_waste",
    oracle=_PBW_SQL,
    doc="EXT curation: pad-to-max batching waste — per-source padded token "
    "cost (count x batch-max) of 32-sequence batches under length-sorted "
    "vs md5-shuffled formation, with the exact ppm savings length "
    "bucketing buys; doc_id tiebreaks make batch membership "
    "bit-deterministic cross-engine",
    tags=("ext", "curation"),
)
def padded_batch_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow token-count projection (text never moves),
    two per-source row_number windows over that projection — partitioned by
    source, so no global range sort; at 100 TB each source's ordering is an
    independent partition-local sort — and three bounded keyed
    aggregations. Each window lives on its own leg over the pinned
    projection, so both stay optimizer-visible and partition-local."""
    from pyspark.sql import Window

    docs = parallel_scan(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.size(F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"))
        .cast("long")
        .alias("n_tokens"),
        hash_uniform("doc_id").alias("h"),
    )
    base = base.localCheckpoint(eager=False)  # feeds both windows + totals
    w_sorted = Window.partitionBy("source").orderBy(
        F.desc("n_tokens"), F.col("doc_id")
    )
    w_random = Window.partitionBy("source").orderBy("h", "doc_id")
    # Each batch-formation leg carries only ITS window, so both stay visible
    # to the optimizer (and the plan pin): one partition-local sort per leg
    # over the pinned narrow projection.
    by_sorted = base.select(
        "source",
        "n_tokens",
        ((F.row_number().over(w_sorted) - 1) / _PBW_BATCH)
        .cast("long")
        .alias("batch_sorted"),
    )
    by_random = base.select(
        "source",
        "n_tokens",
        ((F.row_number().over(w_random) - 1) / _PBW_BATCH)
        .cast("long")
        .alias("batch_random"),
    )
    srt = (
        by_sorted.groupBy("source", "batch_sorted")
        .agg((F.count(F.lit(1)) * F.max("n_tokens")).cast("long").alias("padded"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("padded").cast("long").alias("padded_sorted"),
        )
    )
    rnd = (
        by_random.groupBy("source", "batch_random")
        .agg((F.count(F.lit(1)) * F.max("n_tokens")).cast("long").alias("padded"))
        .groupBy("source")
        .agg(F.sum("padded").cast("long").alias("padded_random"))
    )
    tok = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_sum"),
    )
    return (
        tok.join(srt, "source")
        .join(rnd, "source")
        .select(
            "source",
            "n_docs",
            "token_sum",
            "n_batches",
            "padded_sorted",
            "padded_random",
            F.expr(
                "CAST(1000000 * (padded_sorted - token_sum) div padded_sorted"
                " AS BIGINT)"
            ).alias("waste_sorted_ppm"),
            F.expr(
                "CAST(1000000 * (padded_random - token_sum) div padded_random"
                " AS BIGINT)"
            ).alias("waste_random_ppm"),
            F.expr(
                "CAST(1000000 * (padded_random - padded_sorted) div padded_random"
                " AS BIGINT)"
            ).alias("savings_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# KV-cache prefix-sharing estimate: serving-side counterpart of packing —
# requests that share a token prefix can reuse the cached KV states of the
# common prefix, and the capacity planner needs to know how many prefill
# tokens that actually saves at each radix depth. For L in {4, 8, 16}: group
# requests (docs with >= L tokens) by their exact first-L tokens; a group of
# c requests prefills the prefix once and reuses it c-1 times, saving
# (c-1)*L tokens. The (source, depth) sheet shows where deeper prefix
# caching stops paying.
# ---------------------------------------------------------------------------
_PCH_LEVELS = (4, 8, 16)


def _pch_level_sql(lvl: int) -> str:
    tok = "regexp_extract_all(lower(text), '__TOKRE__')"
    return f"""
  SELECT source, CAST({lvl} AS BIGINT) AS depth,
         array_to_string(({tok})[1:{lvl}], ' ') AS prefix
  FROM documents WHERE len({tok}) >= {lvl}"""


_PCH_SQL = (
    """
WITH lv AS (
"""
    + "\n  UNION ALL\n".join(_pch_level_sql(l) for l in _PCH_LEVELS)
    + """
),
grp AS (
  SELECT source, depth, prefix, CAST(count(*) AS BIGINT) AS c
  FROM lv GROUP BY source, depth, prefix
)
SELECT source, depth,
       CAST(count(*) AS BIGINT) AS n_prefix_groups,
       CAST(sum(c) AS BIGINT) AS n_requests,
       CAST(sum(c - 1) AS BIGINT) AS n_cache_hits,
       CAST(sum((c - 1) * depth) AS BIGINT) AS tokens_saved,
       CAST(1000000 * sum((c - 1) * depth) // (sum(c) * depth) AS BIGINT)
         AS prefill_saved_ppm
FROM grp GROUP BY source, depth
"""
).replace("__TOKRE__", TOKEN_RE)


@register(
    "prefix_cache_hit_estimate",
    oracle=_PCH_SQL,
    doc="EXT serving: KV-cache prefix-sharing estimate — requests grouped "
    "by their exact first-L tokens at radix depths 4/8/16; a c-request "
    "group saves (c-1)*L prefill tokens, and the (source, depth) ppm sheet "
    "prices how deep prefix caching pays",
    tags=("ext", "curation"),
)
def prefix_cache_hit_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per depth, one narrow prefix projection (a bounded
    L-token slice — never the full text) and one (source, depth, prefix)-
    keyed counting aggregation; the three depths union BEFORE the shuffle
    so the plan is one scan per depth feeding a single exchange, all
    partial-aggregated map-side. Prefix keys are near-uniform; the rollup
    output is (source x 3) rows."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
    levels = None
    for lvl in _PCH_LEVELS:
        one = docs.filter(F.expr(f"size({tok}) >= {lvl}")).select(
            "source",
            F.lit(lvl).cast("long").alias("depth"),
            F.expr(f"array_join(slice({tok}, 1, {lvl}), ' ')").alias("prefix"),
        )
        levels = one if levels is None else levels.unionByName(one)
    grp = levels.groupBy("source", "depth", "prefix").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return grp.groupBy("source", "depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_prefix_groups"),
        F.sum("c").cast("long").alias("n_requests"),
        F.sum(F.col("c") - 1).cast("long").alias("n_cache_hits"),
        F.sum((F.col("c") - 1) * F.col("depth")).cast("long").alias("tokens_saved"),
        F.expr(
            "CAST(1000000 * sum((c - 1) * depth) div (sum(c) * depth) AS BIGINT)"
        ).alias("prefill_saved_ppm"),
    )


# ---------------------------------------------------------------------------
# Dedup survivorship audit: did near-dup resolution BIAS the corpus? The
# keep/drop decision (dedup_keep_list's highest-quality-member rule) is
# re-derived and the kept vs dropped populations are compared per source —
# counts and mean quality in exact integer micro units (quality is already
# 6dp-rounded, so micro-quality is a lossless integer bijection and the
# means are integer divisions, never float sums in engine-dependent order).
# A dropped mean ABOVE the kept mean in any source is the bias smell this
# audit exists to catch.
# ---------------------------------------------------------------------------
_SURV_QMICRO = (
    "CAST(round(1000000 * ("
    + _KEEP_QSCORE.format(
        tok=f"regexp_extract_all(lower(text), '{TOKEN_RE}')", stop="{stop}"
    )
    + ")) AS BIGINT)"
)

_SURVIVORSHIP_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, source, {duck_shingles()} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM tok a
  JOIN tok b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(a.sh || b.sh)) >= {_CLUSTER_JACCARD}
),
edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
q AS (
  SELECT doc_id, source,
         {_SURV_QMICRO.format(stop=duck_stop_list())} AS q_micro
  FROM documents
),
alld AS (
  SELECT q.doc_id, q.source, coalesce(l.cluster_id, q.doc_id) AS cluster_id,
         q.q_micro
  FROM q LEFT JOIN labels l ON q.doc_id = l.doc_id
),
best AS (
  SELECT cluster_id, min({{'nq': -q_micro, 'id': doc_id}}) AS b
  FROM alld GROUP BY cluster_id
),
flagged AS (
  SELECT a.source, a.q_micro, a.doc_id = best.b.id AS keep
  FROM alld a JOIN best ON a.cluster_id = best.cluster_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
       CAST(sum(q_micro) FILTER (WHERE keep)
            // count(*) FILTER (WHERE keep) AS BIGINT) AS kept_mean_q_micro,
       CASE WHEN count(*) FILTER (WHERE NOT keep) = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST(sum(q_micro) FILTER (WHERE NOT keep)
                      // count(*) FILTER (WHERE NOT keep) AS BIGINT)
       END AS dropped_mean_q_micro
FROM flagged GROUP BY source
"""


@register(
    "dedup_survivorship_audit",
    oracle=_SURVIVORSHIP_SQL,
    doc="EXT dedup: survivorship-bias audit of the keep/drop rule — kept vs "
    "dropped counts and mean quality per source in exact integer micro "
    "units (6dp quality is a lossless micro bijection; means are integer "
    "divisions, never order-dependent float sums); a dropped mean above "
    "the kept mean flags a biased resolution rule",
    tags=("ext", "dedup", "curation"),
)
def dedup_survivorship_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical cost class to dedup_keep_list (near-dup edge
    set + one cluster-keyed min-struct pick, partial-aggregatable); the
    audit itself adds only a source-keyed fold of integer micro scores.
    Nothing here re-tokenizes per consumer — the scored projection is
    pinned once."""
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        with_quality_score,
        with_token_stats,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    labels = connected_components(_near_dup_pairs(docs))
    scored = with_quality_score(with_token_stats(docs))
    q = scored.select(
        "doc_id",
        "source",
        F.round(
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(F.col("quality_score"))
            * 1_000_000
        )
        .cast("long")
        .alias("q_micro"),
    )
    alld = (
        q.join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .select("doc_id", "source", "cluster_id", "q_micro")
        .localCheckpoint(eager=False)  # feeds the pick AND the audit join
    )
    best = alld.groupBy("cluster_id").agg(
        F.min(
            F.struct((-F.col("q_micro")).alias("nq"), F.col("doc_id").alias("id"))
        ).alias("b")
    )
    flagged = alld.join(best, "cluster_id").select(
        "source", "q_micro", (F.col("doc_id") == F.col("b.id")).alias("keep")
    )
    kept_n = F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long")
    drop_n = F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long")
    kept_q = F.sum(F.when(F.col("keep"), F.col("q_micro")).otherwise(0))
    drop_q = F.sum(F.when(~F.col("keep"), F.col("q_micro")).otherwise(0))
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        kept_n.alias("n_kept"),
        drop_n.alias("n_dropped"),
        F.expr(
            "CAST(sum(CASE WHEN keep THEN q_micro ELSE 0 END)"
            " div sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("kept_mean_q_micro"),
        F.when(drop_n == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "CAST(sum(CASE WHEN NOT keep THEN q_micro ELSE 0 END)"
                " div sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)"
            )
        )
        .alias("dropped_mean_q_micro"),
    )


# ---------------------------------------------------------------------------
# Context-window truncation loss: the capacity decision packing and padding
# both sit on — for each candidate max sequence length C, how many tokens
# does hard truncation throw away, and how many documents are cut at all?
# One token-count pass, one bounded explode over the candidate lengths,
# exact integer ppm per (source, C): the sheet that picks max_seq_len.
# ---------------------------------------------------------------------------
_CTL_WINDOWS = (512, 1024, 2048, 4096)

_CTL_SQL = f"""
WITH tok AS (
  SELECT source, CAST(len({_DUCK_TOK}) AS BIGINT) AS n FROM documents
),
sweep AS (
  SELECT source, n, c.c
  FROM tok, (VALUES {", ".join(f"({c})" for c in _CTL_WINDOWS)}) c(c)
)
SELECT source, CAST(c AS BIGINT) AS max_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE n > c) AS BIGINT) AS n_truncated,
       CAST(sum(n) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN n > c THEN n - c ELSE 0 END) AS BIGINT) AS tokens_lost,
       CAST(1000000 * sum(CASE WHEN n > c THEN n - c ELSE 0 END) // sum(n)
            AS BIGINT) AS loss_ppm
FROM sweep GROUP BY source, c
"""


@register(
    "context_truncation_loss",
    oracle=_CTL_SQL,
    doc="EXT curation: hard-truncation loss sweep over candidate context "
    "windows {512,1024,2048,4096} — per (source, C): docs cut, tokens "
    "thrown away, exact loss ppm; the capacity sheet that picks "
    "max_seq_len before packing/padding even start",
    tags=("ext", "curation"),
)
def context_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow token-count projection, a 4-way explode of
    the candidate lengths, one bounded (source, C) keyed aggregation with
    map-side partials. Text never moves; no join, no window."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.expr(f"size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0))")
        .cast("long")
        .alias("n"),
    )
    sweep = tok.select(
        "source",
        "n",
        F.explode(
            F.array(*[F.lit(c).cast("long") for c in _CTL_WINDOWS])
        ).alias("c"),
    )
    return sweep.groupBy("source", F.col("c").alias("max_len")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n") > F.col("c"), 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.sum("n").cast("long").alias("tokens_total"),
        F.sum(F.when(F.col("n") > F.col("c"), F.col("n") - F.col("c")).otherwise(0))
        .cast("long")
        .alias("tokens_lost"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN n > c THEN n - c ELSE 0 END)"
            " div sum(n) AS BIGINT)"
        ).alias("loss_ppm"),
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture reweighting: the multilingual/multi-domain
# sampling formula (weight proportional to n^alpha, alpha = 1/2) that keeps
# big sources from drowning small ones without the uniform-sampling
# degeneracy. The square root is taken EXACTLY: floor(sqrt(n)) from the
# double sqrt, then corrected by +-1 against the integer squares, so both
# engines derive identical weights; every downstream ratio is a
# DECIMAL(38)/HUGEINT cross-product with one integer division.
# ---------------------------------------------------------------------------
_TEMP_MIX_SQL = f"""
WITH tok AS (
  SELECT source, CAST(sum(len({_DUCK_TOK})) AS BIGINT) AS n
  FROM documents GROUP BY source
),
root AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS r0
  FROM tok
),
isq AS (
  SELECT source, n,
         r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= n THEN 1 ELSE 0 END)
            - (CASE WHEN r0 * r0 > n THEN 1 ELSE 0 END) AS w
  FROM root
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, CAST(sum(w) AS BIGINT) AS wt
  FROM isq
)
SELECT i.source, i.n AS n_tokens, i.w AS weight,
       CAST(1000000 * CAST(i.n AS HUGEINT) // t.total AS BIGINT) AS natural_ppm,
       CAST(1000000 * CAST(i.w AS HUGEINT) // t.wt AS BIGINT) AS sample_ppm,
       CAST(1000000 * CAST(i.w AS HUGEINT) * t.total
            // (CAST(t.wt AS HUGEINT) * i.n) AS BIGINT) AS boost_ppm,
       CAST(CAST(i.w AS HUGEINT) * t.total // t.wt AS BIGINT) AS draw_tokens,
       CAST(1000 * (CAST(i.w AS HUGEINT) * t.total // t.wt) // i.n AS BIGINT)
         AS epochs_milli,
       (1000 * (CAST(i.w AS HUGEINT) * t.total // t.wt) // i.n) > 1000
         AS upsampled
FROM isq i, tot t
"""


@register(
    "mixture_temperature_reweight",
    oracle=_TEMP_MIX_SQL,
    doc="EXT curation: temperature-based mixture reweighting (w_s = "
    "isqrt(n_s), the alpha=1/2 multilingual sampling rule) — exact integer "
    "square roots, sampling vs natural ppm, per-source boost, draw tokens "
    "at budget T = corpus total, and epochs (upsampling flagged where a "
    "source must repeat)",
    tags=("ext", "curation"),
)
def mixture_temperature_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one token-count aggregation per source (map-side
    partials over the scan — the only stage that grows with the corpus),
    then pure integer arithmetic on the source-bounded relation with the
    2-value total as a broadcast. The sqrt correction keeps the weights
    engine-exact for any n < 2^53."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.expr(
            f"CAST(sum(size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0)))"
            " AS BIGINT)"
        ).alias("n")
    )
    isq = tok.select(
        "source",
        "n",
        F.expr(
            "CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
            " + (CASE WHEN (CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1)"
            "          * (CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1) <= n"
            "     THEN 1 ELSE 0 END)"
            " - (CASE WHEN CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
            "          * CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) > n"
            "     THEN 1 ELSE 0 END)"
        ).alias("w"),
    )
    isq = isq.localCheckpoint(eager=False)  # source-bounded; feeds tot + output
    tot = isq.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum("w").cast("long").alias("wt"),
    )
    dec = "DECIMAL(38,0)"
    return isq.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("w").alias("weight"),
        F.expr(f"CAST(1000000 * CAST(n AS {dec}) div total AS BIGINT)").alias(
            "natural_ppm"
        ),
        F.expr(f"CAST(1000000 * CAST(w AS {dec}) div wt AS BIGINT)").alias(
            "sample_ppm"
        ),
        F.expr(
            f"CAST(1000000 * CAST(w AS {dec}) * total"
            f" div (CAST(wt AS {dec}) * n) AS BIGINT)"
        ).alias("boost_ppm"),
        F.expr(f"CAST(CAST(w AS {dec}) * total div wt AS BIGINT)").alias(
            "draw_tokens"
        ),
        F.expr(
            f"CAST(1000 * (CAST(w AS {dec}) * total div wt) div n AS BIGINT)"
        ).alias("epochs_milli"),
        F.expr(
            f"(1000 * (CAST(w AS {dec}) * total div wt) div n) > 1000"
        ).alias("upsampled"),
    )


# ---------------------------------------------------------------------------
# Dataset card: the datasheet every released corpus ships with, as ONE
# query — per source: volume (docs, tokens, chars), language profile
# (dominant declared lang + spread), exact-duplicate rate, quality-score
# quartiles, and the short-doc fraction. Each number is an exact integer
# or the engines' shared linear-interpolation percentile over exactly-
# representable inputs; the whole card derives from a single scan.
# ---------------------------------------------------------------------------
_CARD_SHORT = 20

_CARD_SQL = f"""
WITH base AS (
  SELECT source, lang, n_chars,
         md5(text) AS h,
         CAST(len({_DUCK_TOK}) AS BIGINT) AS n_tokens,
         {{qscore}} AS qscore
  FROM documents
),
lang_counts AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS nl
  FROM base GROUP BY source, lang
),
dominant AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_langs,
         min({{'nn': -nl, 'l': lang}}) AS d
  FROM lang_counts GROUP BY source
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(b.n_chars) AS BIGINT) AS total_chars,
       d.n_langs,
       d.d.l AS dominant_lang,
       CAST(1000000 * (count(*) - count(DISTINCT b.h)) // count(*) AS BIGINT)
         AS exact_dup_ppm,
       CAST(1000000 * count(*) FILTER (WHERE b.n_tokens < {_CARD_SHORT})
            // count(*) AS BIGINT) AS short_doc_ppm,
       round(quantile_cont(b.qscore, 0.25), 6) AS q25,
       round(quantile_cont(b.qscore, 0.50), 6) AS q50,
       round(quantile_cont(b.qscore, 0.75), 6) AS q75
FROM base b JOIN dominant d ON d.source = b.source
GROUP BY b.source, d.n_langs, d.d.l
"""


# .replace, not .format: the SQL contains DuckDB struct literals whose
# braces str.format would try to interpret.
_CARD_SQL_FULL = _CARD_SQL.replace(
    "{qscore}", _KEEP_QSCORE.format(tok=_DUCK_TOK, stop=duck_stop_list())
)


@register(
    "dataset_card_summary",
    oracle=_CARD_SQL_FULL,
    doc="Dataset card: per-source datasheet in one query — docs / tokens / "
    "chars, language spread + dominant declared lang, exact-duplicate ppm "
    "(md5 distinct), short-doc ppm, and quality-score quartiles (shared "
    "linear-interpolation percentile) — the release artifact a corpus "
    "ships with, derived from a single scan",
    tags=("ext", "curation", "quality"),
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow scan computes hash, token count and quality
    per doc; everything folds through source-keyed aggregations with
    map-side partials (the single countDistinct is per-source and alone,
    so no Expand multiplication); the language profile joins back as a
    broadcast of the source-bounded dominant table."""
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        with_quality_score,
        with_token_stats,
    )

    docs = parallel_scan(spark, sf_dir, "documents")
    base = with_quality_score(with_token_stats(docs)).select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("quality_score").alias("qscore"),
    )
    base = base.localCheckpoint(eager=False)  # feeds the card AND lang profile
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("nl")
    )
    dominant = lang_counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.min(F.struct((-F.col("nl")).alias("nn"), F.col("lang").alias("l"))).alias(
            "d"
        ),
    )
    card = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("h").cast("long").alias("n_distinct"),
        F.expr(f"CAST(count_if(n_tokens < {_CARD_SHORT}) AS BIGINT)").alias(
            "n_short"
        ),
        F.round(F.expr("percentile(qscore, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(qscore, 0.50)"), 6).alias("q50"),
        F.round(F.expr("percentile(qscore, 0.75)"), 6).alias("q75"),
    )
    return card.join(F.broadcast(dominant), "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "total_chars",
        "n_langs",
        F.col("d.l").alias("dominant_lang"),
        F.expr(
            "CAST(1000000 * (n_docs - n_distinct) div n_docs AS BIGINT)"
        ).alias("exact_dup_ppm"),
        F.expr("CAST(1000000 * n_short div n_docs AS BIGINT)").alias(
            "short_doc_ppm"
        ),
        "q25",
        "q50",
        "q75",
    )


# ---------------------------------------------------------------------------
# Layout-determinism audit, driver-visible: the reproducibility contract
# (same rows whatever the physical layout) exists as a test suite
# (tests/test_invariance.py); this promotes it into the verified query
# surface. Three md5-keyed curation components — stratified sample,
# sequence packing, mixture plan — run TWICE inside one query under
# different shuffle-partition settings; each run reduces distributedly to
# an order-free fingerprint (exact count + sum of per-row md5 prefixes),
# and the emitted boolean says the two runs were byte-identical. The
# oracle checks the counts and asserts every boolean TRUE, so a
# layout-dependent regression driver-fails loudly instead of living only
# in the test suite.
# ---------------------------------------------------------------------------
_DET_SQL = f"""
SELECT 'stratified_sample' AS component,
       (SELECT CAST(count(*) AS BIGINT) FROM ({_STRATIFIED_SQL})) AS n_rows,
       TRUE AS layout_invariant
UNION ALL
SELECT 'pack_sequences',
       (SELECT CAST(count(*) AS BIGINT) FROM ({_PACK_SQL})),
       TRUE
UNION ALL
SELECT 'mixture_plan',
       (SELECT CAST(count(*) AS BIGINT) FROM ({_MIXTURE_SQL})),
       TRUE
"""


def _det_fingerprint(df: DataFrame) -> tuple[int, int]:
    """(n_rows, sum of uint32 md5 prefixes over canonicalized rows) — an
    order-free exact fingerprint computed distributedly. Spark-to-Spark
    comparison only, so the string canonicalization never crosses engines."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    canon = "concat_ws('|', " + ", ".join(
        f"CAST({c} AS STRING)" for c in df.columns
    ) + ")"
    keyed = df.select(hash_uniform(canon).alias("h"))
    row = keyed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("h"), F.lit(0)).cast("long").alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


@register(
    "layout_determinism_audit",
    oracle=_DET_SQL,
    doc="Reproducibility as a verified query: three md5-keyed curation "
    "components run twice under different shuffle-partition layouts inside "
    "one builder; order-free fingerprints (count + md5-prefix sum) must "
    "match run-to-run, and the oracle asserts every boolean TRUE — a "
    "cluster resize can't silently change the corpus",
    tags=("ext", "curation", "ops"),
)
def layout_determinism_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each component runs exactly as registered (their own
    scale stories apply); the fingerprint is one extra narrow projection +
    1-row aggregate per run. The double execution is the audit's point —
    it is how you PROVE a pipeline re-run reproduces, and at 100 TB you
    run it on a sampled slice with identical semantics."""
    components = {
        "stratified_sample": curation_stratified_sample,
        "pack_sequences": curation_pack_sequences,
        "mixture_plan": curation_mixture_plan,
    }
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    rows = []
    try:
        for name, builder in components.items():
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            fp_a = _det_fingerprint(builder(spark, sf_dir))
            spark.conf.set("spark.sql.shuffle.partitions", saved)
            fp_b = _det_fingerprint(builder(spark, sf_dir))
            rows.append((name, fp_b[0], fp_a == fp_b))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    return spark.createDataFrame(
        rows, "component string, n_rows long, layout_invariant boolean"
    )


# ---------------------------------------------------------------------------
# Multiplicative-weights domain reweighting (the Arora-Hazan-Kale update
# w <- w * (1 + eta * gain), the exact step DoReMi's Group-DRO reweighting
# instantiates with a proxy-model loss): domains whose tokens carry more
# excess surprisal under the corpus unigram LM (harder / rarer text) get
# upweighted, capped, and renormalized. Everything is integer-exact —
# surprisal in floor-log2 bits, means in micro-bits, the multiplier and
# the renormalized mixture in ppm — so both engines emit identical rows
# (no exp(), no float summation).
# ---------------------------------------------------------------------------
_MW_ETA_DIV = 8  # eta = 1/8 per micro-bit of excess
_MW_MULT_MIN = 250_000  # clamp: no domain shrinks below 1/4 ...
_MW_MULT_MAX = 4_000_000  # ... or grows beyond 4x in one step

_MW_REWEIGHT_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_TOK}) AS t FROM documents
),
vocab AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t
),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
scored AS (
  SELECT tok.source,
         CAST(length(bin(n.total // vocab.c)) - 1 AS BIGINT) AS bits
  FROM tok JOIN vocab ON tok.t = vocab.t CROSS JOIN n
),
per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(bits) AS BIGINT) AS sum_bits,
         CAST(1000000 * sum(bits) // count(*) AS BIGINT) AS mean_micro_bits
  FROM scored GROUP BY source
),
gstats AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS all_tokens,
         CAST(1000000 * sum(sum_bits) // sum(n_tokens) AS BIGINT)
           AS global_micro_bits
  FROM per_src
),
stepped AS (
  SELECT s.source, s.n_tokens, s.mean_micro_bits,
         CAST(1000000 * s.n_tokens // g.all_tokens AS BIGINT)
           AS token_share_ppm,
         s.mean_micro_bits - g.global_micro_bits AS excess_micro_bits,
         greatest({_MW_MULT_MIN}, least({_MW_MULT_MAX},
           1000000 + (s.mean_micro_bits - g.global_micro_bits)
                     // {_MW_ETA_DIV})) AS mult_ppm
  FROM per_src s CROSS JOIN gstats g
)
SELECT source, n_tokens, token_share_ppm, mean_micro_bits,
       excess_micro_bits, mult_ppm,
       CAST(CAST(token_share_ppm AS HUGEINT) * mult_ppm * 1000000
            // (SELECT sum(CAST(token_share_ppm AS HUGEINT) * mult_ppm)
                FROM stepped) AS BIGINT) AS new_weight_ppm
FROM stepped
"""


@register(
    "domain_mw_reweight",
    oracle=_MW_REWEIGHT_SQL,
    doc="DoReMi-style domain reweighting as one exact multiplicative-"
    "weights step (Arora-Hazan-Kale): per-source mean unigram surprisal "
    "in integer micro-bits, excess vs the corpus mean, a clamped "
    "1 + eta*excess multiplier in ppm, and the renormalized mixture — "
    "upweights the domains the LM finds hardest without a single float",
    tags=("ext", "curation", "ml"),
)
def domain_mw_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the unigram vocabulary is Heaps-bounded and BROADCASTS
    into the one corpus-scale scoring pass (no token-keyed shuffle, so
    stop-word hot keys never pile up); per-source sums are a bounded-key
    aggregation and the MW step itself runs on the |sources|-row table
    with a 1-row broadcast of the global mean."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)")
        ).alias("t"),
    )
    tok = tok.localCheckpoint(eager=False)  # feeds vocab, total AND scoring
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    per_src = (
        tok.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            (F.length(F.expr("bin(total div c)")) - 1)
            .cast("long")
            .alias("bits"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("sum_bits"),
            F.expr(
                "CAST(1000000 * sum(bits) div count(1) AS BIGINT)"
            ).alias("mean_micro_bits"),
        )
    )
    per_src = per_src.localCheckpoint(eager=False)  # feeds glob AND the step
    glob = per_src.agg(
        F.sum("n_tokens").cast("long").alias("all_tokens"),
        F.expr(
            "CAST(1000000 * sum(sum_bits) div sum(n_tokens) AS BIGINT)"
        ).alias("global_micro_bits"),
    )
    stepped = per_src.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_tokens",
        "mean_micro_bits",
        F.expr("CAST(1000000 * n_tokens div all_tokens AS BIGINT)").alias(
            "token_share_ppm"
        ),
        (F.col("mean_micro_bits") - F.col("global_micro_bits")).alias(
            "excess_micro_bits"
        ),
        F.expr(
            f"greatest({_MW_MULT_MIN}, least({_MW_MULT_MAX},"
            f" 1000000 + (mean_micro_bits - global_micro_bits)"
            f" div {_MW_ETA_DIV}))"
        ).alias("mult_ppm"),
    )
    stepped = stepped.localCheckpoint(eager=False)  # feeds norm AND output
    norm = stepped.agg(
        F.sum(
            F.col("token_share_ppm").cast("decimal(38,0)")
            * F.col("mult_ppm").cast("decimal(38,0)")
        ).alias("z")
    )
    return stepped.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_tokens",
        "token_share_ppm",
        "mean_micro_bits",
        "excess_micro_bits",
        "mult_ppm",
        F.expr(
            "CAST(CAST(token_share_ppm AS DECIMAL(38,0)) * mult_ppm"
            " * 1000000 div z AS BIGINT)"
        ).alias("new_weight_ppm"),
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021, "Scaling Language Models",
# appendix A1.1) — the canonical pre-training heuristic filter: word-count
# bounds, mean-word-length bounds, symbol-to-word ratio, bullet/ellipsis
# line fractions, alphabetic-word fraction, stop-word presence. Every rule
# is an EXACT integer comparison (3 <= mean <= 10 becomes 3n <= chars AND
# chars <= 10n), so flags are engine-identical with zero float division.
# ---------------------------------------------------------------------------
_GOPHER_STOPS = ("and", "be", "have", "of", "that", "the", "to", "with")


def _gopher_flags(n, chars, sym, bull, ell_l, lines, alpha, stops):
    """(spark_sql, duck_sql)-shared flag expressions over named count
    columns — the rule arithmetic is identical in both dialects."""
    return {
        "r_word_count": f"{n} BETWEEN 50 AND 100000",
        "r_mean_word_len": f"{n} > 0 AND 3 * {n} <= {chars} AND {chars} <= 10 * {n}",
        "r_symbol_ratio": f"{n} > 0 AND 10 * {sym} <= {n}",
        "r_bullet_lines": f"10 * {bull} <= 9 * {lines}",
        "r_ellipsis_lines": f"10 * {ell_l} <= 3 * {lines}",
        "r_alpha_words": f"{n} > 0 AND 5 * {alpha} >= 4 * {n}",
        "r_stop_words": f"{stops} >= 2",
    }


_GOPHER_FLAGS = _gopher_flags(
    "n_tokens", "total_chars", "n_symbols", "n_bullet_lines",
    "n_ellipsis_lines", "n_lines", "n_alpha_words", "n_stops_present",
)
_GOPHER_STOP_ARR = "(" + ", ".join(f"'{w}'" for w in _GOPHER_STOPS) + ")"

_GOPHER_SQL = f"""
WITH c AS (
  SELECT doc_id, source,
         CAST(len({{tok}}) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform({{tok}}, x -> length(x))), 0) AS BIGINT) AS total_chars,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
              l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
              l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis_lines,
         CAST(len(list_filter({{tok}}, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
         CAST(len(list_filter({{stops}}, w -> list_contains({{tok}}, w))) AS BIGINT) AS n_stops_present
  FROM documents
)
SELECT doc_id, source, n_tokens,
       {", ".join(f"({e}) AS {k}" for k, e in _GOPHER_FLAGS.items())},
       ({") AND (".join(_GOPHER_FLAGS.values())}) AS passes_gopher
FROM c
""".format(
    tok=f"regexp_extract_all(lower(text), '{TOKEN_RE}')",
    stops="[" + ", ".join(f"'{w}'" for w in _GOPHER_STOPS) + "]",
)


@register(
    "gopher_quality_rules",
    oracle=_GOPHER_SQL,
    doc="Gopher rule battery (Rae et al. 2021 A1.1): per doc the seven "
    "canonical heuristic-filter flags — word-count bounds, mean word "
    "length 3-10, symbol-to-word ratio, bullet/ellipsis line fractions, "
    "80% alphabetic words, >=2 core stop words — plus the overall pass, "
    "every rule an exact integer comparison",
    tags=("ext", "curation", "quality"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow codegen'd projection over the documents scan
    — zero joins, zero shuffles, zero UDFs; the whole rule battery rides
    WholeStageCodegen and scales exactly with scan bandwidth (the ideal
    100 TB filter stage). Reference scope: quality filtering extends
    SURVEY.md section 2.10's curation block."""
    docs = parallel_scan(spark, sf_dir, "documents")
    return gopher_flags_df(docs)


def gopher_flags_df(docs: DataFrame) -> DataFrame:
    """The rule battery as a reusable projection (shared by the batch query
    and the streaming gate's feed)."""
    tok = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
    stops_arr = "array(" + ", ".join(f"'{w}'" for w in _GOPHER_STOPS) + ")"
    c = docs.select(
        "doc_id",
        "source",
        F.expr(f"CAST(size({tok}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({tok}, x -> CAST(length(x) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("total_chars"),
        F.expr(
            "CAST(length(text) - length(replace(text, '#', ''))"
            " + (length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)"
        ).alias("n_symbols"),
        F.expr(r"CAST(size(split(text, '\n', -1)) AS BIGINT)").alias("n_lines"),
        F.expr(
            r"CAST(size(filter(split(text, '\n', -1),"
            " l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT)"
        ).alias("n_bullet_lines"),
        F.expr(
            r"CAST(size(filter(split(text, '\n', -1),"
            " l -> l LIKE '%...')) AS BIGINT)"
        ).alias("n_ellipsis_lines"),
        F.expr(
            f"CAST(size(filter({tok}, x -> x rlike '[a-z]')) AS BIGINT)"
        ).alias("n_alpha_words"),
        F.expr(
            f"CAST(size(filter({stops_arr}, w -> array_contains({tok}, w))) AS BIGINT)"
        ).alias("n_stops_present"),
    )
    flags = [F.expr(e).alias(k) for k, e in _GOPHER_FLAGS.items()]
    passes = F.expr("(" + ") AND (".join(_GOPHER_FLAGS.values()) + ")")
    return c.select(
        "doc_id", "source", "n_tokens", *flags, passes.alias("passes_gopher")
    )


# ---------------------------------------------------------------------------
# Packing-efficiency audit: what does each candidate token budget COST in
# tail waste and document fragmentation? Concat-and-chunk packing fills
# every bin exactly except each source's last (tail waste) but SPLITS docs
# across bin boundaries (attention discontinuities at training time) — the
# budget choice trades the two. One corpus pass sweeps all budgets.
# ---------------------------------------------------------------------------
_PACK_AUDIT_BUDGETS = (128, 256, 512, 1024)

_PACK_AUDIT_SQL = f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_tokens
  FROM documents
),
b AS (SELECT unnest([{", ".join(str(b) for b in _PACK_AUDIT_BUDGETS)}]) AS budget),
packed AS (
  SELECT b.budget, t.doc_id, t.source, t.n_tokens,
         sum(t.n_tokens) OVER (
           PARTITION BY b.budget, t.source
           ORDER BY {duck_hash_uniform('t.doc_id')}, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM tok t CROSS JOIN b
),
per_doc AS (
  SELECT budget, source, doc_id, n_tokens, cum,
         CASE WHEN n_tokens > 0
              AND (cum - n_tokens) // budget < (cum - 1) // budget
              THEN 1 ELSE 0 END AS straddles
  FROM packed
),
per_source AS (
  SELECT budget, source,
         max(cum) AS src_tokens,
         CAST(sum(straddles) AS BIGINT) AS n_straddling,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY budget, source
)
SELECT budget,
       CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum((src_tokens + budget - 1) // budget) AS BIGINT) AS n_bins,
       CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
       CAST(sum((budget - src_tokens % budget) % budget) AS BIGINT) AS tail_waste_tokens,
       CAST(sum(n_straddling) AS BIGINT) AS straddling_docs,
       CAST(1000000 * sum(n_straddling) // sum(n_docs) AS BIGINT) AS straddle_ppm
FROM per_source GROUP BY budget
"""


@register(
    "pack_efficiency_audit",
    oracle=_PACK_AUDIT_SQL,
    doc="Packing-budget sweep: for each candidate training sequence length "
    "(128/256/512/1024), the bins used, tail waste, and how many docs get "
    "split across bin boundaries by concat-and-chunk packing — the sheet "
    "that picks the budget, from ONE corpus pass",
    tags=("ext", "curation"),
)
def pack_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the corpus is tokenized once; the budget sweep rides a
    4-row broadcast cross join, so the only wide operation is one window
    cumsum partitioned by (budget, source) — the same per-source
    independence argument as pack_sequences, 4x the rows. Straddle and
    waste both fold from per-source aggregates (no per-bin grouping)."""
    docs = parallel_scan(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id",
        "source",
        F.expr(
            f"CAST(size(regexp_extract_all(lower(text), '{TOKEN_RE}', 0)) AS BIGINT)"
        ).alias("n_tokens"),
    )
    b = spark.createDataFrame(
        [(int(x),) for x in _PACK_AUDIT_BUDGETS], "budget long"
    )
    w = (
        Window.partitionBy("budget", "source")
        .orderBy(hash_uniform("doc_id"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = tok.crossJoin(F.broadcast(b)).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    per_doc = packed.withColumn(
        "straddles",
        F.expr(
            "CASE WHEN n_tokens > 0"
            " AND (cum - n_tokens) div budget < (cum - 1) div budget"
            " THEN 1 ELSE 0 END"
        ),
    )
    per_source = per_doc.groupBy("budget", "source").agg(
        F.max("cum").alias("src_tokens"),
        F.sum("straddles").cast("long").alias("n_straddling"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return per_source.groupBy("budget").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.expr("CAST(sum((src_tokens + budget - 1) div budget) AS BIGINT)").alias("n_bins"),
        F.sum("src_tokens").cast("long").alias("total_tokens"),
        F.expr(
            "CAST(sum((budget - src_tokens % budget) % budget) AS BIGINT)"
        ).alias("tail_waste_tokens"),
        F.sum("n_straddling").cast("long").alias("straddling_docs"),
        F.expr(
            "CAST(1000000 * sum(n_straddling) div sum(n_docs) AS BIGINT)"
        ).alias("straddle_ppm"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation cascade (the FineWeb / RedPajama pipeline shape):
# structural quality rules -> exact dedup -> near-dedup -> perplexity
# filter, each stage computed ON THE PREVIOUS STAGE'S SURVIVORS, reported
# as the funnel sheet (docs / tokens / kept_ppm per stage) every dataset
# release publishes. Every stage reuses a proven engine device: the Gopher
# integer rules (minus the stop-word rule — this corpus's synthetic vocab
# contains no English stop words, which would zero the funnel), md5
# canonical exact dedup, source-blocked 3-gram Jaccard dominance
# (2*|intersect| >= |union| — integer cross-multiplication, no float), and
# CCNet tail-tercile drop under a lang-conditioned unigram LM fit on the
# stage's own survivors.
# ---------------------------------------------------------------------------
_PIPE_STAGES = ("raw", "quality", "exact_dedup", "near_dedup", "ppl_filter")


#: Corpus-count memo (sf_dir -> n_docs): the banding ladder needs one
#: metadata-only count per corpus, not one per query build.
_CORPUS_NDOCS_CACHE: dict[str, int] = {}


def _corpus_ndocs(docs: DataFrame, sf_dir: str) -> int:
    n = _CORPUS_NDOCS_CACHE.get(sf_dir)
    if n is None:
        n = _CORPUS_NDOCS_CACHE.setdefault(sf_dir, docs.count())
    return n


def _duck_adaptive_bands(src: str = "sh2") -> str:
    """DuckDB twin of the corpus-size-adaptive MinHash banding ladder
    (operators.dedup.lsh_config_for): one gated mh/bands CTE chain per
    ladder rung, with each rung's source filtered by the RAW corpus count
    so exactly one rung is non-empty (the filter runs before the minhash
    projections — the inactive rungs' md5 work never executes). Ends in
    bands(doc_id, band_idx, band_key)."""
    chains, legs = [], []
    prev_cap = 0
    for cap, bands_n, rows_n in LSH_CONFIG_LADDER:
        tag = f"c{cap}"
        gate = f"(SELECT n FROM csz) > {prev_cap} AND (SELECT n FROM csz) <= {cap}"
        if prev_cap == 0:
            gate = f"(SELECT n FROM csz) <= {cap}"
        chains.append(
            f"mh_{tag} AS (\n  SELECT doc_id,\n         "
            + duck_minhash_cols(bands_n * rows_n)
            + f"\n  FROM {src} WHERE {gate}\n)"
        )
        legs.append(duck_band_union(bands_n, rows_n, src=f"mh_{tag}"))
        prev_cap = cap
    return (
        "csz AS (SELECT count(*) AS n FROM documents),\n"
        + ",\n".join(chains)
        + ",\nbands AS (\n  "
        + "\n  UNION ALL\n  ".join(legs)
        + "\n)"
    )

#: Shared CTE prefix (stages 0-3): the streaming cascade twin's oracle is
#: EXACTLY these CTEs + the 4-row funnel — one source of truth, zero drift.
_PIPE_CTES = f"""
WITH base AS (
  SELECT doc_id, source, lang, text,
         CAST(len({{tok}}) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform({{tok}}, x -> length(x))), 0)
              AS BIGINT) AS total_chars,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_symbols,
         CAST(len(list_filter({{tok}}, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha
  FROM documents
),
s1 AS MATERIALIZED (
  SELECT doc_id, source, lang, text, n_tokens FROM base
  WHERE n_tokens BETWEEN 50 AND 100000
    AND 3 * n_tokens <= total_chars AND total_chars <= 10 * n_tokens
    AND 10 * n_symbols <= n_tokens
    AND 5 * n_alpha >= 4 * n_tokens
),
s2 AS MATERIALIZED (
  SELECT doc_id, source, lang, text, n_tokens
  FROM (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canon FROM s1)
  WHERE doc_id = canon
),
sh2 AS MATERIALIZED (SELECT doc_id, source, lang, text, n_tokens,
               {{shingles}} AS sh FROM s2),
{{adaptive_bands}},
cpairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x
  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
),
drops3 AS (
  SELECT DISTINCT p.doc_b AS doc_id
  FROM cpairs p
  JOIN sh2 a ON a.doc_id = p.doc_a
  JOIN sh2 b ON b.doc_id = p.doc_b
  WHERE 2 * len(list_intersect(a.sh, b.sh))
        >= len(list_distinct(a.sh || b.sh))
),
s3 AS MATERIALIZED (
  SELECT v.doc_id, v.source, v.lang, v.text, v.n_tokens
  FROM sh2 v LEFT JOIN drops3 d ON d.doc_id = v.doc_id
  WHERE d.doc_id IS NULL
)
"""

_PIPE_SQL = (_PIPE_CTES + """,
tok3 AS (SELECT doc_id, lang, unnest({tok}) AS w FROM s3),
cnt3 AS MATERIALIZED (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tok3 GROUP BY lang, w
),
tot3 AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cnt3 GROUP BY lang),
scored3 AS (
  SELECT k.doc_id,
         CAST(1000000 * sum(length(bin(t.t // c.c)) - 1) // count(*)
              AS BIGINT) AS micro_bits
  FROM tok3 k
  JOIN cnt3 c ON c.lang = k.lang AND c.w = k.w
  JOIN tot3 t ON t.lang = k.lang
  GROUP BY k.doc_id
),
s4 AS (
  SELECT s.doc_id, s.n_tokens
  FROM (
    SELECT s3.doc_id, s3.n_tokens,
           ntile(3) OVER (PARTITION BY s3.lang
                          ORDER BY sc.micro_bits, s3.doc_id) AS tc
    FROM s3 JOIN scored3 sc ON sc.doc_id = s3.doc_id
  ) s WHERE s.tc <= 2
),
funnel AS (
  -- coalesce(sum(...), 0): an emptied stage must report 0 tokens (and so
  -- kept_tokens_ppm 0), matching the Spark stage_row's coalesce — a bare
  -- sum() over zero rows is NULL in DuckDB and would hash-diverge.
  SELECT 0 AS stage_idx, 'raw' AS stage,
         CAST(count(*) AS BIGINT) AS docs,
         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS tokens FROM base
  UNION ALL
  SELECT 1, 'quality', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'near_dedup', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s3
  UNION ALL
  SELECT 4, 'ppl_filter', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s4
)
SELECT f.stage_idx, f.stage, f.docs, f.tokens,
       CAST(CASE WHEN r.docs = 0 THEN NULL
            ELSE 1000000 * f.docs // r.docs END AS BIGINT) AS kept_docs_ppm,
       CAST(CASE WHEN r.tokens = 0 THEN NULL
            ELSE 1000000 * f.tokens // r.tokens END AS BIGINT) AS kept_tokens_ppm
FROM funnel f CROSS JOIN (SELECT docs, tokens FROM funnel WHERE stage_idx = 0) r
""").format(
    tok=f"regexp_extract_all(lower(text), '{TOKEN_RE}')",
    shingles=duck_shingles(),
    adaptive_bands=_duck_adaptive_bands(),
)


@register(
    "curation_pipeline_e2e",
    oracle=_PIPE_SQL,
    doc="The full curation cascade as ONE query (FineWeb/RedPajama shape): "
    "structural Gopher rules -> md5-canonical exact dedup -> "
    "MinHash-LSH near-dedup (candidates + exact integer Jaccard verify, "
    "the FineWeb production shape) -> CCNet "
    "tail-tercile perplexity drop, each stage on the prior stage's "
    "survivors — the release funnel sheet (docs/tokens/kept ppm per stage)",
    tags=("ext", "curation", "dedup", "quality"),
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each stage is a proven engine device on a shrinking
    relation — the quality stage is pure codegen'd scan work; exact dedup
    is one md5-keyed window min; near-dedup is the PRODUCTION shape —
    salted MinHash-LSH band candidates verified by exact integer Jaccard
    dominance (drop the larger id of every verified pair), never an
    all-pairs scan; the LM stage re-fits on survivors via the Heaps-
    bounded (lang, token) type table. Survivor sets are pinned with lazy
    localCheckpoints so no stage re-derives its predecessors."""
    from pyspark.sql import Window

    docs = parallel_scan(spark, sf_dir, "documents")
    tok_expr = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.expr(f"CAST(size({tok_expr}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({tok_expr}, x -> CAST(length(x) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("total_chars"),
        F.expr(
            "CAST(length(text) - length(replace(text, '#', ''))"
            " + (length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)"
        ).alias("n_symbols"),
        F.expr(
            f"CAST(size(filter({tok_expr}, x -> x rlike '[a-z]')) AS BIGINT)"
        ).alias("n_alpha"),
    ).localCheckpoint(eager=False)  # raw stage feeds s1 AND the funnel row
    s1 = base.filter(
        F.expr(
            "n_tokens BETWEEN 50 AND 100000"
            " AND 3 * n_tokens <= total_chars AND total_chars <= 10 * n_tokens"
            " AND 10 * n_symbols <= n_tokens"
            " AND 5 * n_alpha >= 4 * n_tokens"
        )
    ).select("doc_id", "source", "lang", "text", "n_tokens")
    canon = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    s2 = (
        s1.withColumn("canon", canon)
        .filter(F.col("doc_id") == F.col("canon"))
        .drop("canon")
    )
    # feeds the signature chain, BOTH verify sides, and the survivor set
    sh2 = s2.withColumn("sh", F.expr(shingles_expr())).localCheckpoint(
        eager=False
    )
    # Corpus-size-adaptive banding (metadata-only count, memoized): rows
    # per band grow ~log n so chance band collisions stay linear — see
    # LSH_CONFIG_LADDER. Derived from the RAW corpus size (pre-sizing, the
    # production stance), identically in the oracle's csz gate.
    bands_n, rows_n = lsh_config_for(_corpus_ndocs(docs, sf_dir))
    cpairs = lsh_candidate_pairs(
        with_bands(
            with_minhash(sh2.select("doc_id", "sh"), perms=bands_n * rows_n),
            bands=bands_n,
            rows=rows_n,
        ),
        bands=bands_n,
    )
    a = sh2.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh2.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    drops3 = (
        cpairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(
            F.expr(
                "2 * size(array_intersect(sh_a, sh_b))"
                " >= size(array_union(sh_a, sh_b))"
            )
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = (
        sh2.join(drops3, "doc_id", "left_anti")
        .select("doc_id", "lang", "text", "n_tokens")
        .localCheckpoint(eager=False)  # feeds LM fit, scoring, funnel
    )
    tok3 = s3.select(
        "doc_id", "lang", F.explode(F.expr(tok_expr)).alias("w")
    ).localCheckpoint(eager=False)
    cnt3 = tok3.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot3 = cnt3.groupBy("lang").agg(F.sum("c").cast("long").alias("t"))
    scored3 = (
        tok3.join(cnt3, ["lang", "w"])
        .join(F.broadcast(tot3), "lang")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST(1000000 * sum(length(bin(t div c)) - 1) div count(*)"
                " AS BIGINT)"
            ).alias("micro_bits")
        )
    )
    tc = F.ntile(3).over(
        Window.partitionBy("lang").orderBy("micro_bits", "doc_id")
    )
    s4 = (
        s3.join(scored3, "doc_id")
        .withColumn("tc", tc)
        .filter(F.col("tc") <= 2)
        .select("doc_id", "n_tokens")
    )

    def stage_row(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tokens"),
        )

    funnel = (
        stage_row(0, "raw", base)
        .unionByName(stage_row(1, "quality", s1))
        .unionByName(stage_row(2, "exact_dedup", s2))
        .unionByName(stage_row(3, "near_dedup", s3))
        .unionByName(stage_row(4, "ppl_filter", s4))
    )
    raw = funnel.filter(F.col("stage_idx") == 0).select(
        F.col("docs").alias("r_docs"), F.col("tokens").alias("r_tokens")
    )
    return funnel.crossJoin(F.broadcast(raw)).select(
        "stage_idx",
        "stage",
        "docs",
        "tokens",
        F.expr("CAST(1000000 * docs div r_docs AS BIGINT)").alias("kept_docs_ppm"),
        F.expr("CAST(1000000 * tokens div r_tokens AS BIGINT)").alias(
            "kept_tokens_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# STREAMING curation cascade (round-6 verdict item 7): the production shape
# of FineWeb-style ingestion — a crawl feed arrives in micro-batches and
# each batch's docs flow quality -> exact-dup-vs-history -> near-dup-vs-
# history, with the dedup indexes PERSISTED in the snapshot lake and
# maintained per batch (the streaming_dedup_index_ingest device, composed
# with the streaming Gopher gate).
#
# Slicing invariance is the correctness claim: because the feed arrives in
# ascending-doc_id order, "first arrival" == the batch cascade's
# min(doc_id) canon, and "near-dups any earlier s2 survivor" == the batch
# cascade's doc_a < doc_b band-collision drop — so the cumulative funnel
# after the last batch is EXACTLY the batch twin's stage-0..3 relation,
# whatever the chunking. The oracle is therefore the batch cascade's OWN
# CTE prefix (_PIPE_CTES, one source of truth) + the 4-row funnel; the
# model test re-drives with a different chunk count and pins equality.
# The batch stage-4 (CCNet tercile drop) is deliberately absent: its LM is
# fit on the FULL s3 survivor set, which no prefix-consistent streaming
# operator can know mid-feed — release-time filtering stays batch.
# ---------------------------------------------------------------------------
_SCC_SQL = (_PIPE_CTES + """,
funnel AS (
  SELECT 0 AS stage_idx, 'raw' AS stage,
         CAST(count(*) AS BIGINT) AS docs,
         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS tokens FROM base
  UNION ALL
  SELECT 1, 'quality', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'near_dedup', CAST(count(*) AS BIGINT), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s3
)
SELECT f.stage_idx, f.stage, f.docs, f.tokens,
       CAST(CASE WHEN r.docs = 0 THEN NULL
            ELSE 1000000 * f.docs // r.docs END AS BIGINT) AS kept_docs_ppm,
       CAST(CASE WHEN r.tokens = 0 THEN NULL
            ELSE 1000000 * f.tokens // r.tokens END AS BIGINT) AS kept_tokens_ppm
FROM funnel f CROSS JOIN (SELECT docs, tokens FROM funnel WHERE stage_idx = 0) r
""").format(
    tok=f"regexp_extract_all(lower(text), '{TOKEN_RE}')",
    shingles=duck_shingles(),
    adaptive_bands=_duck_adaptive_bands(),
)

_SCC_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
_SCC_QUALITY = (
    "n_tokens BETWEEN 50 AND 100000"
    " AND 3 * n_tokens <= total_chars AND total_chars <= 10 * n_tokens"
    " AND 10 * n_symbols <= n_tokens"
    " AND 5 * n_alpha >= 4 * n_tokens"
)


def _scc_base(df: DataFrame) -> DataFrame:
    """The batch cascade's `base` projection, applied to a micro-batch."""
    return df.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.expr(f"CAST(size({_SCC_TOK}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({_SCC_TOK}, x -> CAST(length(x) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("total_chars"),
        F.expr(
            "CAST(length(text) - length(replace(text, '#', ''))"
            " + (length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)"
        ).alias("n_symbols"),
        F.expr(
            f"CAST(size(filter({_SCC_TOK}, x -> x rlike '[a-z]')) AS BIGINT)"
        ).alias("n_alpha"),
    )


def _scc_drive(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Drive the cascade over an ascending-doc_id file feed; return the
    cumulative 4-row funnel (hash-equal to the batch stage-0..3 relation).

    Scale shape: per batch, quality is codegen'd scan work on the BATCH;
    the exact-dup probe is an anti-join against the persisted fingerprint
    set on uniformly-distributed md5 keys; the near-dup probe joins the
    batch's band rows against the persisted band index (cost scales with
    the ingest, not the corpus) and the dominance verify touches
    candidates only; index maintenance is three append-only lake commits.
    Nothing ever re-LSHes history.
    """
    import tempfile as _tf

    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
        snapshot_history,
    )

    docs = parallel_scan(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    # Banding config is PRE-SIZED once for the whole feed from the corpus
    # it will replay (the Bloom-filter stance: capacity precedes the
    # crawl) — a per-batch choice would break slicing invariance.
    bands_n, rows_n = lsh_config_for(_corpus_ndocs(docs, sf_dir))
    # Ascending doc_id ranges (bounded 1-row control-plane collect): the
    # feed's arrival order IS the batch cascade's min(doc_id) canon order.
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
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
        "scc_src_",
    )

    fp_lake = _tf.mkdtemp(prefix="scc_fp_")
    band_lake = _tf.mkdtemp(prefix="scc_bands_")
    sh_lake = _tf.mkdtemp(prefix="scc_sh_")
    stats_dir = _tf.mkdtemp(prefix="scc_stats_")

    def _ingest(batch_df, batch_id: int) -> None:
        base_b = _scc_base(batch_df).localCheckpoint(eager=False)
        s1_b = (
            base_b.filter(F.expr(_SCC_QUALITY))
            .select("doc_id", "source", "lang", "text", "n_tokens")
            .withColumn("fp", F.md5("text"))
        )
        have_hist = bool(snapshot_history(spark, fp_lake))
        if have_hist:
            hist_fp = read_snapshot(spark, fp_lake).select("fp")
            s1_new = s1_b.join(hist_fp, "fp", "left_anti")
        else:
            s1_new = s1_b
        canon = F.min("doc_id").over(Window.partitionBy("fp"))
        s2_b = (
            s1_new.withColumn("canon", canon)
            .filter(F.col("doc_id") == F.col("canon"))
            .drop("canon")
        )
        # feeds the signature chain, the verify legs, the funnel row, and
        # BOTH index commits
        sh2_b = s2_b.withColumn("sh", F.expr(shingles_expr())).localCheckpoint(
            eager=False
        )
        banded_b = with_bands(
            with_minhash(sh2_b.select("doc_id", "sh"), perms=bands_n * rows_n),
            bands=bands_n,
            rows=rows_n,
        ).localCheckpoint(eager=False)
        bands_long_b = banded_b.select(
            "doc_id",
            F.posexplode(
                F.array(*[F.col(f"band_{b}") for b in range(bands_n)])
            ).alias("band_idx", "band_key"),
        ).withColumn("pband", F.concat(F.lit("b"), F.col("band_idx")))
        # Candidates: within-batch LSH pairs (doc_a < doc_b) + batch bands
        # probed against the persisted index (history doc_ids are all
        # smaller by the ascending feed, so hist doc = doc_a always).
        cand = lsh_candidate_pairs(banded_b, bands=bands_n).select("doc_a", "doc_b")
        sh_a_pool = sh2_b.select("doc_id", "sh")
        if have_hist:
            index = read_snapshot(spark, band_lake)
            histc = (
                bands_long_b.alias("i")
                .join(
                    index.alias("h"),
                    (F.col("h.band_idx") == F.col("i.band_idx"))
                    & (F.col("h.band_key") == F.col("i.band_key")),
                )
                .select(
                    F.col("h.doc_id").alias("doc_a"),
                    F.col("i.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            cand = cand.unionByName(histc).distinct()
            sh_a_pool = sh_a_pool.unionByName(
                read_snapshot(spark, sh_lake).select("doc_id", "sh")
            )
        a = sh_a_pool.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        b = sh2_b.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        drops = (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .filter(
                F.expr(
                    "2 * size(array_intersect(sh_a, sh_b))"
                    " >= size(array_union(sh_a, sh_b))"
                )
            )
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        s3_b = sh2_b.join(drops, "doc_id", "left_anti")

        def _agg(df, tag):
            return df.agg(
                F.count(F.lit(1)).cast("long").alias(f"{tag}_docs"),
                F.coalesce(F.sum("n_tokens"), F.lit(0))
                .cast("long")
                .alias(f"{tag}_tokens"),
            )

        stats = (
            _agg(base_b, "raw")
            .crossJoin(_agg(s1_b, "q"))
            .crossJoin(_agg(s2_b, "e"))
            .crossJoin(_agg(s3_b, "nd"))
        )
        stats.write.mode("append").parquet(stats_dir)
        # Index maintenance: three append-only commits per micro-batch.
        snapshot_append(
            spark,
            s2_b.select("fp").withColumn("p", F.lit("all")),
            fp_lake,
            partition_col="p",
        )
        snapshot_append(spark, bands_long_b, band_lake, partition_col="pband")
        snapshot_append(
            spark,
            sh2_b.select("doc_id", "sh").withColumn("p", F.lit("all")),
            sh_lake,
            partition_col="p",
        )

    drain(stream.writeStream.foreachBatch(_ingest), "curation_cascade")
    n_commits = len(snapshot_history(spark, fp_lake))
    if n_commits != n_files:
        raise RuntimeError(
            f"cascade drive incomplete: {n_commits} of {n_files} commits"
        )

    tot = spark.read.parquet(stats_dir).agg(
        *[
            F.sum(c).cast("long").alias(c)
            for c in (
                "raw_docs",
                "raw_tokens",
                "q_docs",
                "q_tokens",
                "e_docs",
                "e_tokens",
                "nd_docs",
                "nd_tokens",
            )
        ]
    )
    funnel = tot.selectExpr(
        "stack(4,"
        " CAST(0 AS BIGINT), 'raw', raw_docs, raw_tokens,"
        " CAST(1 AS BIGINT), 'quality', q_docs, q_tokens,"
        " CAST(2 AS BIGINT), 'exact_dedup', e_docs, e_tokens,"
        " CAST(3 AS BIGINT), 'near_dedup', nd_docs, nd_tokens"
        ") AS (stage_idx, stage, docs, tokens)"
    )
    raw = funnel.filter(F.col("stage_idx") == 0).select(
        F.col("docs").alias("r_docs"), F.col("tokens").alias("r_tokens")
    )
    return funnel.crossJoin(F.broadcast(raw)).select(
        "stage_idx",
        "stage",
        "docs",
        "tokens",
        F.expr("CAST(1000000 * docs div r_docs AS BIGINT)").alias("kept_docs_ppm"),
        F.expr("CAST(1000000 * tokens div r_tokens AS BIGINT)").alias(
            "kept_tokens_ppm"
        ),
    )


@register(
    "streaming_curation_cascade",
    oracle=_SCC_SQL,
    doc="Streaming twin of curation_pipeline_e2e stages 0-3: a 4-chunk "
    "ascending-doc_id crawl feed where each micro-batch runs quality -> "
    "exact-dup-vs-history -> near-dup-vs-history against PERSISTED "
    "fingerprint/band/shingle lake indexes (appended per batch); the "
    "cumulative funnel value-hashes against the batch cascade's own "
    "stage-0..3 SQL — slicing invariance pinned by the model test",
    tags=("ext", "streaming", "curation", "dedup", "quality"),
)
def streaming_curation_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scc_drive(spark, sf_dir, n_chunks=4)
