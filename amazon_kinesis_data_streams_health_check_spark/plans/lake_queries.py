"""[LAKE] Snapshot-lake queries: incremental materialized-aggregate
maintenance driven end-to-end through the manifest layer
(sources/snapshots.py) and oracle-checked against a full recompute.

The lake features themselves (time travel, rollback, compaction, vacuum,
exactly-once streaming ingest) are exercised in tests/test_snapshots.py;
this module puts the headline capability — "a nightly 100 TB rollup costs
one delta scan, not one table scan" — on the driver-verified query surface:
the maintained state after N incremental refreshes must hash-match the
aggregate DuckDB computes in one pass over the source table.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.session import configure_session
from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
    read_snapshot,
    refresh_incremental_agg,
    snapshot_append,
    snapshot_overwrite,
)
from amazon_kinesis_data_streams_health_check_spark.sources.tables import load_table
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import (
    drain,
    replay_feed,
)

_INGEST_BATCHES = 3

_INC_AGG_SQL = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM events GROUP BY user_id, event_type
"""


@register(
    "incremental_agg_maintenance",
    oracle=_INC_AGG_SQL,
    doc="Snapshot-lake incremental materialized aggregate: events ingested "
    "in 3 append commits, per-(user,type) count/sum state refreshed from "
    "each commit's DELTA files only; final state must equal a one-pass "
    "recompute (micro-unit integer sums keep the merge associative-exact)",
    tags=("lake",),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each refresh reads ONLY the files the latest lake commit
    added (manifest diff against the state's ``absorbed`` bookkeeping — no
    data-directory listing, no re-scan of absorbed history), aggregates them
    with a partial-aggregatable count/sum, and folds into the key-grouped
    state. The builder self-checks the maintenance mode: a refresh that
    silently fell back to a full rescan raises instead of returning —
    correctness AND incrementality are both load-bearing here.
    """
    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    lake = tempfile.mkdtemp(prefix="incagg_lake_")
    state = tempfile.mkdtemp(prefix="incagg_state_")
    for i in range(_INGEST_BATCHES):
        batch = events.filter(
            F.pmod(F.col("event_id"), F.lit(_INGEST_BATCHES)) == i
        ).select("user_id", "event_type", "val_micros")
        snapshot_append(spark, batch, lake, partition_col="event_type")
        info = refresh_incremental_agg(
            spark,
            lake,
            state,
            keys=["user_id", "event_type"],
            sums=["val_micros"],
            state_partition_col="event_type",
        )
        if info["mode"] != "incremental":
            raise RuntimeError(
                f"refresh {i} was {info['mode']}, expected incremental: {info}"
            )
    return read_snapshot(spark, state).select(
        "user_id",
        "event_type",
        F.col("n_rows").alias("n_events"),
        F.round(F.col("sum_val_micros").cast("double") / 1e6, 6).alias(
            "sum_value"
        ),
    )


@register(
    "streaming_incremental_agg",
    oracle=_INC_AGG_SQL,
    doc="Streaming ingest -> snapshot lake -> incremental aggregate: a "
    "3-micro-batch file stream foreachBatch-appends to the lake and "
    "refreshes the materialized count/sum from each commit's delta files; "
    "final state must equal a one-pass recompute (full value-hash oracle)",
    tags=("lake", "streaming"),
)
def streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment shape for a 100 TB metrics rollup: Structured
    Streaming drives ingest cadence (availableNow drain of a bounded
    backfill, maxFilesPerTrigger=1 => one lake commit per micro-batch), the
    manifest layer makes each commit atomic, and the maintained aggregate
    only ever reads delta files. The foreachBatch hook raises if any refresh
    silently degrades to a full rescan."""
    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    stream, _ = replay_feed(
        spark,
        [
            events.filter(F.pmod(F.col("event_id"), F.lit(_INGEST_BATCHES)) == i)
            .select("user_id", "event_type", "val_micros")
            for i in range(_INGEST_BATCHES)
        ],
        "incagg_stream_src_",
    )
    lake = tempfile.mkdtemp(prefix="incagg_stream_lake_")
    state = tempfile.mkdtemp(prefix="incagg_stream_state_")

    def _ingest(batch_df, batch_id: int) -> None:
        snapshot_append(spark, batch_df, lake, partition_col="event_type")
        info = refresh_incremental_agg(
            spark,
            lake,
            state,
            keys=["user_id", "event_type"],
            sums=["val_micros"],
            state_partition_col="event_type",
        )
        if info["mode"] != "incremental":
            raise RuntimeError(
                f"batch {batch_id} refresh was {info['mode']}: {info}"
            )

    drain(stream.writeStream.foreachBatch(_ingest), "incremental_agg")
    return read_snapshot(spark, state).select(
        "user_id",
        "event_type",
        F.col("n_rows").alias("n_events"),
        F.round(F.col("sum_val_micros").cast("double") / 1e6, 6).alias(
            "sum_value"
        ),
    )


# ---------------------------------------------------------------------------
# Time-travel diff: what changed between two snapshot versions.
# ---------------------------------------------------------------------------
_DIFF_SQL = """
WITH v1 AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS s
  FROM events WHERE event_id % 2 = 0 GROUP BY user_id
),
v2 AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY user_id
)
SELECT coalesce(v2.user_id, v1.user_id) AS user_id,
       CASE WHEN v1.user_id IS NULL THEN 'added'
            WHEN v2.user_id IS NULL THEN 'removed'
            WHEN v1.n <> v2.n OR v1.s <> v2.s THEN 'changed'
            ELSE 'unchanged' END AS status,
       v1.n AS n_before, v2.n AS n_after,
       round(CAST(v1.s AS DOUBLE) / 1000000.0, 6) AS sum_before,
       round(CAST(v2.s AS DOUBLE) / 1000000.0, 6) AS sum_after
FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
"""


@register(
    "snapshot_diff",
    oracle=_DIFF_SQL,
    doc="Time-travel diff: per-key added/removed/changed/unchanged status "
    "between snapshot v1 (half the events) and v2 (all events) of a keyed "
    "rollup table, read via the manifest layer's version pinning",
    tags=("lake",),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both versions resolve to explicit manifest file lists
    (no directory listing, no re-aggregation of the source); the diff is one
    full-outer shuffle join on the rollup key — state-sized, not
    fact-sized. The audit query every lake needs: 'what did last night's
    load change?'."""
    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("val_micros").cast("long").alias("s"),
            )
            .withColumn("pbucket", F.pmod(F.col("user_id"), F.lit(8)))
        )

    lake = tempfile.mkdtemp(prefix="diff_lake_")
    v1 = snapshot_overwrite(
        spark,
        rollup(events.filter(F.col("event_id") % 2 == 0)),
        lake,
        partition_col="pbucket",
    )
    v2 = snapshot_overwrite(spark, rollup(events), lake, partition_col="pbucket")
    a = read_snapshot(spark, lake, version=v1).select(
        F.col("user_id").alias("uid_a"), F.col("n").alias("n_before"), F.col("s").alias("s_a")
    )
    b = read_snapshot(spark, lake, version=v2).select(
        F.col("user_id").alias("uid_b"), F.col("n").alias("n_after"), F.col("s").alias("s_b")
    )
    joined = a.join(b, a.uid_a == b.uid_b, "full_outer")
    return joined.select(
        F.coalesce("uid_b", "uid_a").alias("user_id"),
        F.when(F.col("uid_a").isNull(), "added")
        .when(F.col("uid_b").isNull(), "removed")
        .when(
            (F.col("n_before") != F.col("n_after")) | (F.col("s_a") != F.col("s_b")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("status"),
        "n_before",
        "n_after",
        F.round(F.col("s_a").cast("double") / 1e6, 6).alias("sum_before"),
        F.round(F.col("s_b").cast("double") / 1e6, 6).alias("sum_after"),
    )


# ---------------------------------------------------------------------------
# Zone-map pruned scan: manifest column metrics skip files before any IO.
# ---------------------------------------------------------------------------
_PRUNE_LO, _PRUNE_HI = 100.0, 150.0

_PRUNED_SCAN_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM events
WHERE value BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}
GROUP BY event_type
"""


@register(
    "lake_pruned_scan",
    oracle=_PRUNED_SCAN_SQL,
    doc="Zone-map file skipping: events range-clustered on value into the "
    "snapshot lake with per-file min/max metrics in the manifest; a range "
    "scan reads only overlapping files (builder raises if nothing was "
    "pruned) and must equal the full-scan filter",
    tags=("lake",),
)
def lake_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ``repartitionByRange`` on the ingest side gives files
    disjoint value ranges; the manifest stores each file's [min, max] so the
    reader prunes from metadata alone — at 100 TB a selective range scan
    touches the handful of overlapping files, not the table. The residual
    row filter keeps results exact even for the files that do overlap."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot_pruned,
        snapshot_append_with_stats,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    lake = tempfile.mkdtemp(prefix="zonemap_lake_")
    clustered = events.repartitionByRange(8, "value").withColumn(
        "shard", F.lit("all")
    )
    snapshot_append_with_stats(
        spark, clustered, lake, partition_col="shard", stats_cols=["value"]
    )
    df, info = read_snapshot_pruned(spark, lake, "value", _PRUNE_LO, _PRUNE_HI)
    if not info["files_read"] < info["files_total"]:
        raise RuntimeError(f"zone maps pruned nothing: {info}")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.round(F.col("value") * 1e6).cast("long")).cast("double") / 1e6,
            6,
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new ingest batch vs fingerprint history (lake-native).
# ---------------------------------------------------------------------------
_INC_DEDUP_SQL = """
WITH hist AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
),
inc AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
)
SELECT inc.source,
       CAST(count(*) AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN hist.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_history,
       CAST(sum(CASE WHEN hist.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fresh
FROM inc LEFT JOIN hist ON inc.fp = hist.fp
GROUP BY inc.source
"""


@register(
    "incremental_dedup",
    oracle=_INC_DEDUP_SQL,
    doc="Lake-native incremental dedup: a second ingest commit's rows "
    "(identified via the manifest change feed, not a directory diff) are "
    "fingerprint-checked against the v1 snapshot's history — the 'dedup "
    "only the increment' pattern of a continuously-ingesting corpus",
    tags=("lake", "dedup"),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the increment is recovered from ``snapshot_cdc`` whose
    scan is manifest-pruned to partitions the v1->v2 commit touched (an
    append-only commit => exactly the new files); the history side is a
    time-travel read of v1 projected to fingerprints only; the dedup join
    shuffles on uniform md5 keys. At 100 TB the increment is a delta scan,
    the history side would be a maintained fingerprint table (same join) —
    re-derived here from v1 so the oracle can see the whole computation.
    """
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_cdc,
    )

    configure_session(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    lake = tempfile.mkdtemp(prefix="incdedup_lake_")
    v1 = snapshot_append(
        spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 0), lake, partition_col="source"
    )
    v2 = snapshot_append(
        spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 1), lake, partition_col="source"
    )
    inc_keys = snapshot_cdc(spark, lake, v1, v2, key_cols=["doc_id"]).filter(
        F.col("change") == "insert"
    ).select("doc_id")
    inc = inc_keys.join(read_snapshot(spark, lake, version=v2), "doc_id").select(
        "doc_id", "source", "fp"
    )
    hist = read_snapshot(spark, lake, version=v1).select("fp").distinct()
    joined = inc.join(hist.withColumnRenamed("fp", "hfp"), inc.fp == F.col("hfp"), "left")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_added"),
        F.sum(F.col("hfp").isNotNull().cast("long")).alias("n_dup_vs_history"),
        F.sum(F.col("hfp").isNull().cast("long")).alias("n_fresh"),
    )


# ---------------------------------------------------------------------------
# Row-level erasure (right-to-be-forgotten) with manifest pruning.
# ---------------------------------------------------------------------------
_ERASE_SOURCES = ("src0", "src1", "src2")

_ERASE_IN = "(" + ", ".join(f"'{s}'" for s in _ERASE_SOURCES) + ")"

_ERASURE_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE NOT (doc_id % 13 = 0 AND source IN {_ERASE_IN})
GROUP BY source
"""


@register(
    "lake_user_erasure",
    oracle=_ERASURE_SQL,
    doc="Right-to-be-forgotten: snapshot_delete rewrites ONLY the partitions "
    "holding erased keys (3 of 20 here — the rest carry by manifest "
    "reference, zero IO) and the surviving table hash-matches the filtered "
    "oracle",
    tags=("lake",),
)
def lake_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the erase-key set broadcasts into one semi-join (find
    touched partitions) and one anti-join (rewrite survivors); the builder
    self-checks the pruning contract — a delete that silently rewrote
    untouched partitions raises instead of returning."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append,
        snapshot_delete,
        snapshot_history,
    )

    configure_session(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    lake = tempfile.mkdtemp(prefix="erasure_lake_")
    snapshot_append(spark, docs, lake, partition_col="source")
    keys = docs.filter(
        (F.pmod("doc_id", F.lit(13)) == 0)
        & F.col("source").isin(*_ERASE_SOURCES)
    ).select("doc_id")
    snapshot_delete(spark, lake, keys, ["doc_id"], partition_col="source")
    hist = snapshot_history(spark, lake)
    m1, m2 = hist[-2]["files"], hist[-1]["files"]
    untouched = {p for p in m1 if p.split("=", 1)[1] not in _ERASE_SOURCES}
    rewritten = {p for p in untouched if m1[p] != m2.get(p)}
    if rewritten:
        raise RuntimeError(f"erasure rewrote untouched partitions: {rewritten}")
    return read_snapshot(spark, lake).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# Persisted IVF index with incremental maintenance (vector index on the lake).
# ---------------------------------------------------------------------------
from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (  # noqa: E402
    assign_to_centroids,
    cosine_precomp,
    duck_cosine,
    ivf_flat_centroids,
    topk_per_query,
    with_sq_norm,
)

_IVFP_NC = 16
_IVFP_QUERIES = 10
_IVFP_K = 10

_IVFP_SQL = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id,
         embedding AS emb_c
  FROM embeddings WHERE vec_id % 2 = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {_IVFP_NC}
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
  WHERE q.vec_id < {_IVFP_QUERIES}
)
SELECT query_id, cluster, neighbor_id, round(cos_raw, 6) AS cosine, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
  ) AS rank
  FROM cand
) WHERE rank <= {_IVFP_K}
"""


@register(
    "ann_ivf_persisted",
    oracle=_IVFP_SQL,
    doc="Vector index as a lake table: IVF assignments built for batch 1, "
    "frozen centroids, batch 2 added by INCREMENTAL append (only new "
    "vectors assigned, old partitions untouched — self-checked); probe + "
    "exact re-rank runs against the persisted cluster-partitioned index "
    "and hash-matches the all-at-once oracle",
    tags=("lake", "similarity"),
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: index maintenance is per-vector independent (frozen
    centroids), so each ingest batch assigns ONLY its own vectors — the
    incremental == full-rebuild equivalence the oracle checks is the whole
    point of an IVF index at 100 TB. The persisted index partitions by
    ``cluster``; the probe is a cluster-keyed join against broadcast
    queries; re-rank is the shared two-phase top-k."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append,
        snapshot_history,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
        parallel_scan,
    )

    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    batch1 = emb.filter(F.pmod("vec_id", F.lit(2)) == 0)
    batch2 = emb.filter(F.pmod("vec_id", F.lit(2)) == 1)
    cent = ivf_flat_centroids(batch1, _IVFP_NC).localCheckpoint(eager=False)

    lake = tempfile.mkdtemp(prefix="ivf_index_")
    for batch in (batch1, batch2):
        rows = assign_to_centroids(batch, cent).join(batch, "vec_id").select(
            "vec_id", "cluster", "embedding"
        )
        snapshot_append(spark, rows, lake, partition_col="cluster")

    # Incremental contract: the second commit may only ADD files — every
    # batch-1 file must survive in place in the v2 manifest.
    h1, h2 = snapshot_history(spark, lake)[-2:]
    for part, rels in h1["files"].items():
        if not set(rels) <= set(h2["files"].get(part, [])):
            raise RuntimeError(f"incremental append rewrote {part}")

    index = with_sq_norm(read_snapshot(spark, lake), "embedding", "nn2").select(
        F.col("vec_id").alias("neighbor_id"),
        "cluster",
        F.col("embedding").alias("emb_n"),
        "nn2",
    )
    queries = with_sq_norm(
        emb.filter(F.col("vec_id") < _IVFP_QUERIES), "embedding", "nq2"
    )
    q = assign_to_centroids(queries, cent).join(queries, "vec_id").select(
        F.col("vec_id").alias("query_id"),
        "cluster",
        F.col("embedding").alias("emb_q"),
        "nq2",
    )
    scored = (
        index.join(F.broadcast(q), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", cosine_precomp("emb_q", "emb_n", "nq2", "nn2"))
    )
    topk = topk_per_query(scored.select("query_id", "cos_raw", "neighbor_id"), _IVFP_K)
    return topk.join(
        F.broadcast(q.select("query_id", "cluster")), "query_id"
    ).select("query_id", "cluster", "neighbor_id", "cosine", "rank")


# ---------------------------------------------------------------------------
# Small-file compaction on the driver surface.
# ---------------------------------------------------------------------------
_COMPACT_BATCHES = 4

_COMPACT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_value_micros
FROM events GROUP BY event_type
"""


@register(
    "lake_compaction_effect",
    oracle=_COMPACT_SQL,
    doc="Small-file compaction: 4 fragmenting append commits -> "
    "compact_snapshot folds every partition to one file (self-checked "
    "file-count drop) and the compacted table hash-matches the one-pass "
    "oracle — content-identical, readers undisturbed",
    tags=("lake",),
)
def lake_compaction_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: compaction reads ONLY fragmented partitions (others carry
    by manifest reference) and routes each partition value to one writer
    task; it is itself a commit, so time travel still reaches the
    fragmented versions until vacuum. The builder raises if compaction
    failed to reduce the file count — the operational contract, not just
    the data contract."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        compact_snapshot,
        snapshot_append,
        snapshot_history,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("value_micros"),
    )
    lake = tempfile.mkdtemp(prefix="compact_lake_")
    for i in range(_COMPACT_BATCHES):
        snapshot_append(
            spark,
            events.filter(F.pmod("event_id", F.lit(_COMPACT_BATCHES)) == i),
            lake,
            partition_col="event_type",
        )
    compact_snapshot(spark, lake, min_files=2, partition_col="event_type")
    h = snapshot_history(spark, lake)
    before = sum(len(r) for r in h[-2]["files"].values())
    after = sum(len(r) for r in h[-1]["files"].values())
    if not after < before:
        raise RuntimeError(f"compaction did not reduce files: {before} -> {after}")
    return read_snapshot(spark, lake).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_micros").cast("long").alias("sum_value_micros"),
    )


# ---------------------------------------------------------------------------
# Lake + layout composition: clustered snapshot commits published as
# bucketed catalog tables -> the orders<->lineitem join runs shuffle-free.
# ---------------------------------------------------------------------------
_BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0, 2) AS sum_price
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@register(
    "lake_bucketed_join",
    oracle=_BUCKETED_JOIN_SQL,
    doc="Lake + layout: orders/lineitem snapshot commits (range-clustered on "
    "the join key) published as same-bucket-count catalog tables; the join "
    "runs with NO shuffle exchange (builder raises otherwise) and must equal "
    "the plain join aggregate",
    tags=("lake", "layout"),
)
def lake_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the fact-to-fact equi-join is the dominant recurring
    exchange at 100 TB. Publishing both snapshot versions into the bucketed
    serving layout pays that hash shuffle ONCE per version; every subsequent
    join or keyed aggregation on the bucket key is exchange-free (asserted
    on the physical plan here — a silent layout regression fails the query,
    not just a benchmark). Clustered snapshot commits double as zone-map
    sources for range scans on the same key."""
    import contextlib
    import io

    from amazon_kinesis_data_streams_health_check_spark.sources.bucketed import (
        co_located_join,
        snapshot_as_bucketed_table,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_overwrite_clustered,
    )

    configure_session(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    ).withColumn("shard", F.lit("all"))
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    ).withColumn("shard", F.lit("all"))

    opath = tempfile.mkdtemp(prefix="lake_orders_")
    lpath = tempfile.mkdtemp(prefix="lake_lineitem_")
    snapshot_overwrite_clustered(
        spark, orders, opath, cluster_cols=["orderkey"], partition_col="shard"
    )
    snapshot_overwrite_clustered(
        spark, lineitem, lpath, cluster_cols=["orderkey"], partition_col="shard"
    )
    for tbl in ("lake_orders_b", "lake_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # A previous SESSION's managed-table directory survives in the
        # warehouse while the in-memory catalog starts empty — DROP above
        # is then a no-op and saveAsTable fails with LOCATION_ALREADY_EXISTS.
        # Clear the stale location explicitly.
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "file:./spark-warehouse"
        )
        p = spark._jvm.org.apache.hadoop.fs.Path(f"{wh}/{tbl}")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
    snapshot_as_bucketed_table(
        spark, opath, "lake_orders_b", ["orderkey"], 8, sort_cols=["orderkey"]
    )
    snapshot_as_bucketed_table(
        spark, lpath, "lake_lineitem_b", ["orderkey"], 8, sort_cols=["orderkey"]
    )
    joined = co_located_join(spark, "lake_orders_b", "lake_lineitem_b", ["orderkey"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain()
    if "Exchange hashpartitioning" in buf.getvalue():
        raise RuntimeError("bucketed lake join plan contains a shuffle exchange")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("double")
            / 100.0,
            2,
        ).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Z-order clustered lake scan: multi-column zone-map pruning from ONE layout.
# ---------------------------------------------------------------------------
_Z_LO, _Z_HI = 100.0, 150.0

_ZORDER_SCAN_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM events
WHERE value BETWEEN {_Z_LO} AND {_Z_HI}
GROUP BY event_type
"""


@register(
    "lake_zorder_scan",
    oracle=_ZORDER_SCAN_SQL,
    doc="Z-order (Morton) clustered snapshot commit over (user_id, value): "
    "a range scan on the SECOND cluster column still skips files via the "
    "manifest zone maps (builder raises if nothing was pruned) and must "
    "equal the full-scan filter",
    tags=("lake", "layout"),
)
def lake_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: lexicographic clustering only prunes the leading
    column; the Morton key keeps locality in EVERY dimension, so one layout
    serves range predicates on any cluster column (the OPTIMIZE ZORDER
    contract). Files own compact curve segments, the manifest stores tight
    per-file min/max for both columns, and the reader skips from metadata
    alone; the residual row filter keeps results exact."""
    from amazon_kinesis_data_streams_health_check_spark.sources.layout import (
        zorder_key,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot_pruned,
        snapshot_append_with_stats,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    keyed = (
        zorder_key(events, ["user_id", "value"])
        .repartitionByRange(8, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .withColumn("shard", F.lit("all"))
    )
    lake = tempfile.mkdtemp(prefix="zorder_lake_")
    snapshot_append_with_stats(
        spark, keyed, lake, partition_col="shard", stats_cols=["user_id", "value"]
    )
    df, info = read_snapshot_pruned(spark, lake, "value", _Z_LO, _Z_HI)
    if not info["files_read"] < info["files_total"]:
        raise RuntimeError(f"z-order zone maps pruned nothing on 'value': {info}")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.round(F.col("value") * 1e6).cast("long")).cast("double") / 1e6,
            6,
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Schema evolution: a later commit widens the table; files written before the
# column existed surface it as NULL under the latest declared schema, while
# time travel to the old version still reads the old shape. This is the
# Iceberg-style schema-tracking contract _read_manifest_files implements —
# here it goes on the driver-verified surface.
# ---------------------------------------------------------------------------
_SCHEMA_EVO_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_val,
       CAST(sum(CASE WHEN event_id % 2 = 1
                     THEN CAST(round(value * 1000000) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS val_micros_sum
FROM events GROUP BY event_type
"""


@register(
    "lake_schema_evolution",
    oracle=_SCHEMA_EVO_SQL,
    doc="Snapshot-lake schema evolution: commit 1 writes (user,type), commit "
    "2 appends a val_micros column; the latest read back-fills NULL for "
    "pre-evolution files and time travel to v1 still reads the old shape "
    "(builder self-checks both)",
    tags=("lake",),
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: schema changes are manifest metadata — no data rewrite,
    no mergeSchema footer sweep over the table (the read plans every file
    under the DECLARED schema of the version being read). The widening
    commit costs exactly its own data; history stays readable because old
    manifests keep their own schema JSON."""
    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    lake = tempfile.mkdtemp(prefix="schema_evo_lake_")
    v1 = snapshot_overwrite(
        spark,
        events.filter(F.col("event_id") % 2 == 0).select("user_id", "event_type"),
        lake,
        partition_col="event_type",
    )
    snapshot_append(
        spark,
        events.filter(F.col("event_id") % 2 == 1).select(
            "user_id", "event_type", "val_micros"
        ),
        lake,
        partition_col="event_type",
    )
    old = read_snapshot(spark, lake, version=v1)
    if "val_micros" in old.columns:
        raise RuntimeError("time-travel read leaked the evolved column into v1")
    cur = read_snapshot(spark, lake)
    if "val_micros" not in cur.columns:
        raise RuntimeError("latest read lost the evolved column")
    return cur.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("val_micros").isNotNull().cast("int"))
        .cast("long")
        .alias("n_with_val"),
        F.sum(F.coalesce("val_micros", F.lit(0))).cast("long").alias("val_micros_sum"),
    )


# ---------------------------------------------------------------------------
# MERGE upsert on the driver surface: snapshot_merge was previously
# exercised only by tests; this puts the latest-wins key resolution —
# including cross-partition key migration and carried-by-reference
# untouched partitions — behind a value-hash oracle.
# ---------------------------------------------------------------------------
_MERGE_SQL = """
SELECT user_id, event_type,
       CAST(event_id AS BIGINT) AS last_event_id,
       CAST(round(value * 1000000) AS BIGINT) AS val_micros
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY event_id DESC
  ) AS rn
  FROM events
) WHERE rn = 1
"""


@register(
    "lake_merge_upsert",
    oracle=_MERGE_SQL,
    doc="Snapshot-lake MERGE: events applied in two latest-wins upsert "
    "commits keyed on (user_id, event_type) with event_id as the version; "
    "the final table must equal a one-pass keep-latest over all events "
    "(full value-hash oracle)",
    tags=("lake",),
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each MERGE resolves only the partitions its updates
    touch (typed semi-join against the update keys/partitions — untouched
    partitions carry into the new manifest by reference, zero IO), and the
    latest-wins pick is a per-key window over touched rows only. The
    version column (event_id) is globally unique, so resolution is
    deterministic under any batch slicing."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_merge,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    lake = tempfile.mkdtemp(prefix="merge_lake_")
    for i in range(2):
        batch = events.filter(F.pmod(F.col("event_id"), F.lit(2)) == i)
        snapshot_merge(
            spark,
            batch,
            lake,
            key_cols=["user_id", "event_type"],
            version_col="event_id",
        )
    return read_snapshot(spark, lake).select(
        "user_id",
        "event_type",
        F.col("event_id").cast("long").alias("last_event_id"),
        F.col("val_micros").alias("val_micros"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter file skipping: point lookups on a hash-distributed key.
# ---------------------------------------------------------------------------
_BLOOM_USER = 7

_BLOOM_SKIP_SQL = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM events
WHERE user_id = {_BLOOM_USER}
GROUP BY event_type
"""


@register(
    "lake_bloom_skip",
    oracle=_BLOOM_SKIP_SQL,
    doc="Bloom-filter file skipping: events hash-clustered on user_id into "
    "the snapshot lake with per-file Bloom bitsets in the manifest; a "
    "user_id point lookup reads only the files whose bloom admits the value "
    "(builder raises if nothing was skipped) and must equal the full-scan "
    "filter",
    tags=("lake",),
)
def lake_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: zone maps can't prune a point predicate on a
    hash-distributed key (every file spans ~the full user_id range), which
    is exactly the lookup shape of erasure audits and per-entity debugging
    at 100 TB. The writer hash-repartitions on user_id (so each user lands
    in one file) and records an m=1024-bit Bloom bitset per file — built in
    one distributed pass whose aggregate state is bounded by m, not file
    rows. The reader tests the key against each file's bitset driver-side
    (manifest-only, zero data IO) and scans just the admitted files; the
    residual equality filter absorbs Bloom false positives, so the result
    is exact."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot_point,
        snapshot_append_with_blooms,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    lake = tempfile.mkdtemp(prefix="bloom_lake_")
    clustered = events.repartition(16, "user_id").withColumn("shard", F.lit("all"))
    snapshot_append_with_blooms(
        spark, clustered, lake, partition_col="shard", bloom_cols=["user_id"]
    )
    df, info = read_snapshot_point(spark, lake, "user_id", _BLOOM_USER)
    if not info["files_read"] < info["files_total"]:
        raise RuntimeError(f"blooms pruned nothing: {info}")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.round(F.col("value") * 1e6).cast("long")).cast("double") / 1e6,
            6,
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Exactly-once streaming ingest: txn-stamped commits survive a full replay.
# ---------------------------------------------------------------------------
_LAKE_INGEST_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM events GROUP BY event_type
"""


@register(
    "streaming_lake_ingest",
    oracle=_LAKE_INGEST_SQL,
    doc="Exactly-once streaming ingest into the snapshot lake: a "
    "4-micro-batch file stream appends through txn-stamped commits "
    "(Delta-style app_id/batch_id writer dedup), then the ENTIRE stream is "
    "replayed from a fresh checkpoint — the builder raises unless the "
    "replay commits nothing; final content must equal one batch pass",
    tags=("lake", "streaming"),
)
def streaming_lake_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-least-once -> exactly-once seam, driven for real: foreachBatch
    re-delivers (app_id, batch_id) after any crash between sink write and
    checkpoint advance, and the manifest's txn stamp is what makes the
    re-delivery a no-op. The worst-case recovery (checkpoint lost entirely,
    every batch replayed) is simulated by draining the same pinned-order
    source twice with independent checkpoints under one app_id; the lake
    version must not advance in the second drain. At 100 TB this is the
    difference between an idempotent ingest pipeline and silent row
    duplication on every executor hiccup."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_history,
        snapshot_stream_sink,
    )

    configure_session(spark)
    n_batches = 4
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    stream, _ = replay_feed(
        spark,
        [
            events.filter(F.pmod(F.col("event_id"), F.lit(n_batches)) == i)
            .select("user_id", "event_type", "val_micros")
            for i in range(n_batches)
        ],
        "lake_ingest_src_",
    )
    lake = tempfile.mkdtemp(prefix="lake_ingest_lake_")

    def _drain(ckpt_prefix: str) -> None:
        q = snapshot_stream_sink(
            stream,
            lake,
            tempfile.mkdtemp(prefix=ckpt_prefix),
            app_id="lake-ingest",
            partition_col="event_type",
        )
        drain(q, "lake_ingest")

    _drain("lake_ingest_ckpt1_")
    v_first = snapshot_history(spark, lake)[-1]["version"]
    if v_first != n_batches:
        raise RuntimeError(f"expected {n_batches} commits, got v{v_first}")
    # Worst-case recovery: checkpoint gone, every batch re-delivered.
    _drain("lake_ingest_ckpt2_")
    v_replay = snapshot_history(spark, lake)[-1]["version"]
    if v_replay != v_first:
        raise RuntimeError(
            f"replay was not idempotent: v{v_first} -> v{v_replay}"
        )
    return read_snapshot(spark, lake).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("val_micros").cast("double") / 1e6, 6).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Partition-spec evolution: mixed-layout commits behind one table.
# ---------------------------------------------------------------------------
_PE_TYPE = "purchase"

_PART_EVOLUTION_SQL = f"""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS metric_day,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS sum_value
FROM events
WHERE event_type = '{_PE_TYPE}'
GROUP BY 1
"""


@register(
    "lake_partition_evolution",
    oracle=_PART_EVOLUTION_SQL,
    doc="Partition-spec evolution: half the events committed under "
    "partitionBy(event_type), half later under partitionBy(metric_date); "
    "one evolved read unions both layouts, dir-prunes the event_type "
    "predicate inside the old-spec group only (builder raises if nothing "
    "was pruned), and must equal a full-scan filter",
    tags=("lake",),
)
def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-rewrite partition migration: at 100 TB a table whose query
    pattern shifted (type-major -> date-major) cannot afford a rewrite, so
    new commits adopt the new spec while committed files keep the old
    layout. The manifest's relpath prefixes name each file's spec, the
    reader scans one group per spec under the declared schema (partition
    values resurface from dir names, the other column rides in the data
    files), and predicates prune at dir level exactly where the layout
    allows — conservative everywhere else, with row-level residual filters
    keeping results exact."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot_evolved,
        snapshot_append,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date(F.date_trunc("day", "ts")).alias("metric_date"),
    )
    lake = tempfile.mkdtemp(prefix="part_evo_lake_")
    snapshot_append(
        spark,
        events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0),
        lake,
        partition_col="event_type",
    )
    snapshot_append(
        spark,
        events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1),
        lake,
        partition_col="metric_date",
    )
    df, info = read_snapshot_evolved(
        spark, lake, partition_filters={"event_type": _PE_TYPE}
    )
    if not info["files_read"] < info["files_total"]:
        raise RuntimeError(f"spec-aware pruning skipped nothing: {info}")
    return df.groupBy(
        F.col("metric_date").cast("string").alias("metric_day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.round(F.col("value") * 1e6).cast("long")).cast("double") / 1e6,
            6,
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Vacuum / orphan GC: crash debris removed, live snapshot untouched.
# ---------------------------------------------------------------------------
_VACUUM_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros
FROM events GROUP BY event_type
"""


@register(
    "lake_vacuum_orphan_audit",
    oracle=_VACUUM_SQL,
    doc="Vacuum + orphan GC: a crashed writer's never-committed data file "
    "is planted in the data dir, history is folded to the latest manifest, "
    "and vacuum must delete the orphan and the retired version's files "
    "while the live snapshot still equals a one-pass batch aggregate "
    "(builder raises on surviving debris or a vacuumed live file)",
    tags=("lake",),
)
def lake_vacuum_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GC contract that keeps a 100 TB lake's storage bill and listing
    cost bounded: snapshot isolation means a crash before manifest publish
    leaves ONLY unreferenced files (never a torn table), so vacuum can
    reclaim them from a manifest-vs-listing diff; retention folding then
    drops history the operator no longer needs. The audit is structural
    (orphan gone, live files intact, retired manifest gone) plus semantic
    (post-vacuum read hash-matches the oracle)."""
    import os as _os

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_history,
        vacuum_snapshots,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    lake = tempfile.mkdtemp(prefix="vacuum_lake_")
    # v1: a half-table the operator later retires; v2: the full overwrite.
    snapshot_overwrite(
        spark,
        events.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0),
        lake,
        partition_col="event_type",
    )
    snapshot_overwrite(spark, events, lake, partition_col="event_type")
    # Crashed writer: a data file that no manifest will ever reference.
    orphan_dir = _os.path.join(lake, "data", "event_type=orphan")
    events.limit(10).drop("event_type").coalesce(1).write.mode("overwrite").parquet(
        orphan_dir
    )
    n_deleted = vacuum_snapshots(spark, lake, keep_last=1)
    if _os.path.isdir(orphan_dir) and any(
        f.endswith(".parquet") for f in _os.listdir(orphan_dir)
    ):
        raise RuntimeError("vacuum left the orphaned write behind")
    if n_deleted == 0:
        raise RuntimeError("vacuum deleted nothing — audit is vacuous")
    if [m["version"] for m in snapshot_history(spark, lake)] != [2]:
        raise RuntimeError("retention folding did not drop the retired manifest")
    return read_snapshot(spark, lake).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("val_micros").cast("long").alias("sum_micros"),
    )


# ---------------------------------------------------------------------------
# Branch workflow: isolated staging commits, fast-forward publish.
# ---------------------------------------------------------------------------
_BRANCH_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros
FROM events GROUP BY event_type
"""


@register(
    "lake_branch_workflow",
    oracle=_BRANCH_SQL,
    doc="Git-like lake branches: half the events land on main, the rest on "
    "a staging branch whose commits are invisible to main readers (builder "
    "raises if isolation leaks); fast-forward merge then publishes the "
    "branch head as the next main version, which must equal a one-pass "
    "batch aggregate — and a diverged main must refuse the merge",
    tags=("lake",),
)
def lake_branch_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-audit-publish pattern at 100 TB: risky ingest goes to a
    branch (same shared append-only data files, separate manifest line), QA
    reads the branch while production reads main, and the publish is a
    metadata-only fast-forward — zero data movement, atomic via the same
    if-absent manifest rename as every other commit. Divergence is a
    conflict by design, verified here by attempting a second merge after
    main advanced."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        SnapshotConflictError,
        branch_append,
        branch_create,
        branch_fast_forward,
        read_branch,
        snapshot_append,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    lake = tempfile.mkdtemp(prefix="branch_lake_")
    half = F.pmod(F.col("event_id"), F.lit(2))
    snapshot_append(spark, events.filter(half == 0), lake, partition_col="event_type")
    n_main_before = read_snapshot(spark, lake).count()
    branch_create(spark, lake, "staging")
    branch_append(spark, events.filter(half == 1), lake, "staging", "event_type")
    # Isolation: the branch sees everything, main still only its half.
    if read_snapshot(spark, lake).count() != n_main_before:
        raise RuntimeError("branch commit leaked into main")
    if read_branch(spark, lake, "staging").count() <= n_main_before:
        raise RuntimeError("branch read does not include its own commit")
    branch_fast_forward(spark, lake, "staging")
    # Divergence: merging the (now stale) branch again must conflict.
    try:
        branch_fast_forward(spark, lake, "staging")
        raise RuntimeError("fast-forward onto a diverged main did not conflict")
    except SnapshotConflictError:
        pass
    return read_snapshot(spark, lake).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("val_micros").cast("long").alias("sum_micros"),
    )


# ---------------------------------------------------------------------------
# Metadata-only aggregation: counts answered from the manifest.
# ---------------------------------------------------------------------------
_META_COUNT_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY event_type
"""


@register(
    "lake_metadata_counts",
    oracle=_META_COUNT_SQL,
    doc="Metadata-only count(*): events committed with per-file row counts "
    "in the manifest; per-partition totals come from the manifest alone "
    "(zero data IO — the plan the builder returns is a local scan of "
    "driver-computed rows) and must equal a full-table aggregation",
    tags=("lake",),
)
def lake_metadata_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg metadata-table trick: a commit-time footer read (counts
    only, no data pages) makes every later ``count(*)`` / per-partition
    count O(manifest) instead of O(table) — at 100 TB that is the
    difference between milliseconds and a cluster-wide scan. Two appends
    exercise count accumulation across commits; the result enters the plan
    as a local relation, so the query executes zero distributed jobs over
    the data."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append_counted,
        snapshot_partition_counts,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    lake = tempfile.mkdtemp(prefix="metacount_lake_")
    for i in range(2):
        snapshot_append_counted(
            spark,
            events.filter(F.pmod(F.col("event_id"), F.lit(2)) == i),
            lake,
            partition_col="event_type",
        )
    rows = [
        (part.split("=", 1)[1], n)
        for part, n in snapshot_partition_counts(spark, lake)
    ]
    return spark.createDataFrame(rows, "event_type string, n_rows long")


# ---------------------------------------------------------------------------
# Timestamp time travel: as-of reads resolve to the right manifest.
# ---------------------------------------------------------------------------
_ASOF_TT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_v1,
       CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_even
FROM events
WHERE event_id % 2 = 0
GROUP BY event_type
"""


@register(
    "lake_time_travel_asof",
    oracle=_ASOF_TT_SQL,
    doc="Timestamp time travel: after a second commit doubles the table, an "
    "as-of read pinned between the two commit instants must resolve to v1 "
    "exactly (the even-id half); the builder also raises unless the latest "
    "read sees both halves",
    tags=("lake",),
)
def lake_time_travel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit-query contract of a snapshot lake: 'what did the table say
    at 14:03' must be answerable forever. The as-of resolver picks the last
    manifest committed at or before the probe instant; probing the midpoint
    between the two commits' recorded times pins v1 regardless of clock
    granularity. Zero data movement — as-of is pure manifest selection."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append,
        snapshot_history,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    lake = tempfile.mkdtemp(prefix="asof_lake_")
    half = F.pmod(F.col("event_id"), F.lit(2))
    snapshot_append(spark, events.filter(half == 0), lake, partition_col="event_type")
    snapshot_append(spark, events.filter(half == 1), lake, partition_col="event_type")
    hist = snapshot_history(spark, lake)
    t1, t2 = hist[0]["committed_at"], hist[1]["committed_at"]
    if not t1 < t2:
        raise RuntimeError(f"commit times not increasing: {t1} vs {t2}")
    n_latest = read_snapshot(spark, lake).count()
    n_total = events.count()
    if n_latest != n_total:
        raise RuntimeError(f"latest read saw {n_latest} of {n_total} rows")
    v1 = read_snapshot(spark, lake, as_of=(t1 + t2) / 2)
    return v1.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_v1"),
        F.sum((F.pmod(F.col("event_id"), F.lit(2)) == 0).cast("long"))
        .cast("long")
        .alias("n_even"),
    )


# ---------------------------------------------------------------------------
# Partition backfill: recompute one partition, republish atomically.
# ---------------------------------------------------------------------------
_BACKFILL_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros
FROM events GROUP BY event_type
"""


@register(
    "lake_partition_backfill",
    oracle=_BACKFILL_SQL,
    doc="Dynamic-partition backfill: one partition is ingested CORRUPTED "
    "(values doubled), then recomputed and republished via a partition-"
    "scoped overwrite commit — untouched partitions carry by reference, "
    "the corrupted version stays time-travelable, and the final table must "
    "equal the clean batch aggregate (builder raises unless the corruption "
    "was visible before the backfill)",
    tags=("lake",),
)
def lake_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common lake operation after append: yesterday's job wrote
    garbage into one partition and the fix must not rewrite the table. The
    partition-scoped overwrite drops only the bad partition's files from
    the new manifest (data files are never deleted, so the pre-fix version
    remains auditable) and re-links everything else — commit cost is
    O(recomputed partition), not O(table). The in-query audit proves the
    corruption was really there before claiming the fix."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append,
        snapshot_overwrite_partitions,
    )

    configure_session(spark)
    bad_type = "purchase"
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    lake = tempfile.mkdtemp(prefix="backfill_lake_")
    corrupted = events.withColumn(
        "val_micros",
        F.when(
            F.col("event_type") == bad_type, F.col("val_micros") * 2
        ).otherwise(F.col("val_micros")),
    )
    snapshot_append(spark, corrupted, lake, partition_col="event_type")
    bad_sum = (
        read_snapshot(spark, lake)
        .filter(F.col("event_type") == bad_type)
        .agg(F.sum("val_micros"))
        .collect()[0][0]
    )
    good_sum = (
        events.filter(F.col("event_type") == bad_type)
        .agg(F.sum("val_micros"))
        .collect()[0][0]
    )
    if bad_sum != 2 * good_sum:
        raise RuntimeError("corruption not visible before backfill")
    snapshot_overwrite_partitions(
        spark,
        events.filter(F.col("event_type") == bad_type),
        lake,
        partition_col="event_type",
    )
    return read_snapshot(spark, lake).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("val_micros").cast("long").alias("sum_micros"),
    )


# ---------------------------------------------------------------------------
# Replica anti-entropy: content checksums across divergent commit histories.
# ---------------------------------------------------------------------------
_REPLICA_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                || CAST(CAST(round(value * 1000000) AS BIGINT) AS VARCHAR)),
                1, 8)) AS BIGINT)) AS BIGINT) AS content_checksum
FROM events GROUP BY event_type
"""


@register(
    "lake_replica_divergence",
    oracle=_REPLICA_SQL,
    doc="Replica anti-entropy audit: the same events land in two lakes "
    "through DIFFERENT commit histories (1 commit vs 3); per-partition "
    "order-free content checksums must match partition-for-partition, and "
    "a planted extra row in one replica must be localized to exactly its "
    "partition (builder raises otherwise) — Merkle-style repair targeting",
    tags=("lake",),
)
def lake_replica_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-region replication and backup verification can't diff commit
    histories (they legitimately differ); they diff CONTENT. Order-free
    BIGINT checksums over row fingerprints make per-partition comparison
    exact and layout/history-independent, and a mismatch names the
    partition to repair instead of forcing a full resync — at 100 TB the
    difference between re-shipping one partition and re-shipping the lake.
    The audit runs both directions (match before tamper, localized
    divergence after)."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("long").alias("val_micros"),
    )
    lake_a = tempfile.mkdtemp(prefix="replica_a_")
    lake_b = tempfile.mkdtemp(prefix="replica_b_")
    snapshot_append(spark, events, lake_a, partition_col="event_type")
    for i in range(3):
        snapshot_append(
            spark,
            events.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            lake_b,
            partition_col="event_type",
        )

    fp = F.expr(
        "CAST(conv(substr(md5(concat(CAST(event_id AS STRING), ':',"
        " CAST(val_micros AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )

    def sums(path: str) -> dict[str, tuple[int, int]]:
        rows = (
            read_snapshot(spark, path)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(fp).alias("cs"))
            .collect()
        )
        return {r.event_type: (r.n, r.cs) for r in rows}

    a, b = sums(lake_a), sums(lake_b)
    if a != b:
        raise RuntimeError(f"equal-content replicas diverged: {a} vs {b}")
    # Tamper: one extra row in one partition of replica B.
    tampered_part = sorted(a)[0]
    snapshot_append(
        spark,
        events.filter(F.col("event_type") == tampered_part).limit(1),
        lake_b,
        partition_col="event_type",
    )
    b2 = sums(lake_b)
    diverged = {k for k in a if a[k] != b2.get(k)}
    if diverged != {tampered_part}:
        raise RuntimeError(
            f"divergence not localized: expected {{{tampered_part!r}}}, got {diverged}"
        )
    return (
        read_snapshot(spark, lake_a)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(fp).cast("long").alias("content_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Write-side constraints: rejects quarantined, table clean by construction.
# ---------------------------------------------------------------------------
_CONSTRAINT_SQL = """
WITH flagged AS (
  SELECT event_type,
         CASE WHEN event_id % 97 = 0 THEN -1000000
              ELSE CAST(round(value * 1000000) AS BIGINT) END AS val_micros,
         CASE WHEN event_id % 89 = 0 THEN NULL ELSE user_id END AS user_id
  FROM events
),
tagged AS (
  SELECT event_type, val_micros,
         CASE WHEN val_micros < 0 AND user_id IS NULL THEN 'both'
              WHEN val_micros < 0 THEN 'nonnegative_value'
              WHEN user_id IS NULL THEN 'user_present'
              ELSE 'kept' END AS status
  FROM flagged
)
SELECT event_type, status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(val_micros) AS BIGINT) AS sum_micros
FROM tagged GROUP BY event_type, status
"""


@register(
    "lake_write_constraints",
    oracle=_CONSTRAINT_SQL,
    doc="Write-side CHECK constraints: deterministically planted violations "
    "(negative values, NULL users) are quarantined at commit with the list "
    "of violated checks; the committed table contains zero violations by "
    "construction (builder re-audits and raises) and kept+quarantined "
    "accounting must equal the oracle's replay of the same planting",
    tags=("lake",),
)
def lake_write_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side DQ (dq_violations) finds bad rows after they pollute the
    table; write-side enforcement keeps them out, which at 100 TB is the
    difference between every consumer carrying cleansing filters and none
    of them needing one. Scale shape: constraint evaluation is one narrow
    pass tagging each row with its violated-check list; the valid/reject
    split reuses the same tagged frame; the quarantine output keeps full
    rows + reasons for repair pipelines."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append_constrained,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.pmod("event_id", F.lit(97)) == 0, F.lit(-1_000_000))
        .otherwise(F.round(F.col("value") * 1e6).cast("long"))
        .cast("long")
        .alias("val_micros"),
        F.when(F.pmod("event_id", F.lit(89)) == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
    )
    lake = tempfile.mkdtemp(prefix="constraint_lake_")
    _, quarantine = snapshot_append_constrained(
        spark,
        events,
        lake,
        partition_col="event_type",
        checks={
            "nonnegative_value": "val_micros >= 0",
            "user_present": "user_id IS NOT NULL",
        },
    )
    committed = read_snapshot(spark, lake)
    n_bad_committed = committed.filter(
        (F.col("val_micros") < 0) | F.col("user_id").isNull()
    ).count()
    if n_bad_committed:
        raise RuntimeError(f"{n_bad_committed} constraint violations committed")
    kept = committed.select(
        "event_type", "val_micros", F.lit("kept").alias("status")
    )
    quar = quarantine.select(
        "event_type",
        "val_micros",
        F.when(F.size("_violated") == 2, "both")
        .otherwise(F.element_at("_violated", 1))
        .alias("status"),
    )
    return kept.unionByName(quar).groupBy("event_type", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val_micros").cast("long").alias("sum_micros"),
    )


# ---------------------------------------------------------------------------
# Tombstoned vector deletes + cluster compaction: production vector indexes
# must delete (user erasure, stale docs) without rewriting the index on
# every delete — so deletes land as TOMBSTONE commits (merge-on-read: the
# probe anti-joins the tombstone set), and a compactor later rewrites only
# the clusters whose dead fraction crossed a threshold. Both halves are
# exercised for real here: the probe right after the tombstone commit, the
# physical rewrite of flagged clusters into a compacted lake, and a probe
# against the hybrid (compacted clusters read clean, others still
# merge-on-read) proven identical to the pre-compaction probe — the
# correctness contract compaction must keep.
# ---------------------------------------------------------------------------
_TOMB_MOD = 5  # vec_id % 5 == 3 deleted => 20% dead overall
_TOMB_COMPACT_PPM = 150_000  # rewrite clusters past 15% dead

_TOMB_SQL = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS centroid_id,
         embedding AS emb_c
  FROM embeddings WHERE vec_id % 2 = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {_IVFP_NC}
),
assigned AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {duck_cosine('e.embedding', 'c.emb_c')} DESC, c.centroid_id
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(sum(CASE WHEN vec_id % {_TOMB_MOD} = 3 THEN 0 ELSE 1 END)
            AS BIGINT) AS n_live,
       CAST(sum(CASE WHEN vec_id % {_TOMB_MOD} = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dead,
       CAST(1000000 * sum(CASE WHEN vec_id % {_TOMB_MOD} = 3 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS dead_ppm,
       1000000 * sum(CASE WHEN vec_id % {_TOMB_MOD} = 3 THEN 1 ELSE 0 END)
         // count(*) > {_TOMB_COMPACT_PPM} AS compacted,
       TRUE AS probe_consistent
FROM assigned GROUP BY cluster
"""


@register(
    "ann_index_tombstones",
    oracle=_TOMB_SQL,
    doc="Vector-index deletes done the lake way: tombstone commits with "
    "merge-on-read probes (anti-join the tombstone set), per-cluster dead "
    "fraction driving a threshold compactor that physically rewrites only "
    "flagged clusters, and a hybrid probe (compacted clusters clean, "
    "others merge-on-read) proven identical to the pre-compaction probe — "
    "the boolean rides in the value hash",
    tags=("lake", "similarity"),
)
def ann_index_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the index and tombstone set are both cluster-partitioned
    lake tables; the tombstone anti-join keys on vec_id (broadcast — the
    delete set is always small relative to the index), compaction touches
    only flagged clusters' files, and both probes are the shared
    cluster-keyed broadcast-query join + two-phase top-k. The probe
    equivalence is a symmetric-difference count, not a sort. The compactor
    picks flagged clusters with a driver-side collect of at most
    ``_IVFP_NC`` cluster ids — bounded metadata, the same pattern as the
    PCA/k-means iterations."""
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import (
        parallel_scan,
    )

    configure_session(spark)
    emb = parallel_scan(spark, sf_dir, "embeddings")
    cent = ivf_flat_centroids(
        emb.filter(F.pmod("vec_id", F.lit(2)) == 0), _IVFP_NC
    ).localCheckpoint(eager=False)

    index_lake = tempfile.mkdtemp(prefix="ivf_tomb_index_")
    rows = assign_to_centroids(emb, cent).join(emb, "vec_id").select(
        "vec_id", "cluster", "embedding"
    )
    snapshot_append(spark, rows, index_lake, partition_col="cluster")

    # Tombstone commit: deletes land as data, the index files stay put.
    tomb_lake = tempfile.mkdtemp(prefix="ivf_tombstones_")
    tombs = emb.select("vec_id").filter(
        F.pmod("vec_id", F.lit(_TOMB_MOD)) == 3
    )
    snapshot_append(
        spark, tombs.withColumn("cluster", F.lit(0)), tomb_lake,
        partition_col="cluster",
    )
    tomb_set = read_snapshot(spark, tomb_lake).select("vec_id")

    index = read_snapshot(spark, index_lake).select(
        "vec_id", "cluster", "embedding"
    )
    index = index.localCheckpoint(eager=False)  # stats, probe AND compaction

    def probe(idx: DataFrame) -> DataFrame:
        live = idx.join(F.broadcast(tomb_set), "vec_id", "left_anti")
        neigh = with_sq_norm(live, "embedding", "nn2").select(
            F.col("vec_id").alias("neighbor_id"), "cluster",
            F.col("embedding").alias("emb_n"), "nn2",
        )
        queries = with_sq_norm(
            emb.filter(F.col("vec_id") < _IVFP_QUERIES), "embedding", "nq2"
        )
        q = assign_to_centroids(queries, cent).join(queries, "vec_id").select(
            F.col("vec_id").alias("query_id"), "cluster",
            F.col("embedding").alias("emb_q"), "nq2",
        )
        scored = (
            neigh.join(F.broadcast(q), "cluster")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos_raw", cosine_precomp("emb_q", "emb_n", "nq2", "nn2"))
        )
        return topk_per_query(
            scored.select("query_id", "cos_raw", "neighbor_id"), _IVFP_K
        ).select("query_id", "neighbor_id", "rank")

    stats = index.groupBy("cluster").agg(
        F.sum(
            (F.pmod("vec_id", F.lit(_TOMB_MOD)) != 3).cast("int")
        ).cast("long").alias("n_live"),
        F.sum(
            (F.pmod("vec_id", F.lit(_TOMB_MOD)) == 3).cast("int")
        ).cast("long").alias("n_dead"),
        F.expr(
            f"CAST(1000000 * sum(CAST(vec_id % {_TOMB_MOD} = 3 AS INT))"
            " div count(1) AS BIGINT)"
        ).alias("dead_ppm"),
    ).withColumn("compacted", F.col("dead_ppm") > _TOMB_COMPACT_PPM)
    stats = stats.localCheckpoint(eager=False)  # output AND compaction pick

    # Physical compaction: rewrite ONLY flagged clusters without dead rows.
    flagged = [
        r.cluster for r in stats.filter("compacted").select("cluster").collect()
    ]
    compact_lake = tempfile.mkdtemp(prefix="ivf_compacted_")
    rewritten = index.filter(F.col("cluster").isin(flagged)).join(
        F.broadcast(tomb_set), "vec_id", "left_anti"
    )
    snapshot_append(spark, rewritten, compact_lake, partition_col="cluster")

    hybrid = read_snapshot(spark, compact_lake).select(
        "vec_id", "cluster", "embedding"
    ).unionByName(index.filter(~F.col("cluster").isin(flagged)))

    before, after = probe(index), probe(hybrid)
    diff = before.exceptAll(after).unionByName(after.exceptAll(before))
    consistent = diff.agg(
        (F.count(F.lit(1)) == 0).alias("probe_consistent")
    )
    return stats.crossJoin(F.broadcast(consistent)).select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_live",
        "n_dead",
        "dead_ppm",
        "compacted",
        "probe_consistent",
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning: the runtime counterpart of zone maps. The fact
# table is laid out partitioned BY ship month; which months matter is only
# known after the dim side runs (months in which an URGENT 1995 order was
# placed — a predicate on a DIFFERENT table no static optimizer can push
# into the fact scan). Spark must inject the dim's join keys into the fact
# scan's partition filters at runtime (dynamicpruningexpression reusing the
# broadcast); the builder raises loudly if the plan lost it, because at
# 100 TB DPP is the difference between scanning a dozen partitions and all
# of them — file listing included.
# ---------------------------------------------------------------------------
_DPP_SQL = """
WITH dim AS (
  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ym
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND strftime(o_orderdate, '%Y') = '1995'
)
SELECT l.ym,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ym, l_extendedprice, l_discount
      FROM lineitem) l
JOIN dim ON l.ym = dim.ym
GROUP BY l.ym
"""


@register(
    "lake_dpp_join",
    oracle=_DPP_SQL,
    doc="Dynamic partition pruning: lineitem laid out partitioned by ship "
    "month, joined to the months containing urgent 1995 orders (a filter "
    "on a different table static pushdown cannot see); the fact scan must "
    "carry a dynamicpruningexpression partition filter (loud raise if the "
    "plan lost it) and the result equals the plain filter-join",
    tags=("lake",),
)
def lake_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the dim leg is a filtered distinct over orders (tiny,
    broadcast); the fact leg is a partitioned scan whose partition filter
    arrives AT RUNTIME from the broadcast join side (reused broadcast, no
    extra job). At 100 TB with years of monthly partitions this skips the
    cold months entirely — which zone maps (lake_pruned_scan) cannot do
    for join-driven predicates."""
    configure_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        "l_discount",
        F.date_format("l_shipdate", "yyyy-MM").alias("ym"),
    )
    lake = tempfile.mkdtemp(prefix="dpp_lake_")
    li.write.partitionBy("ym").mode("overwrite").parquet(lake)
    fact = spark.read.parquet(lake)

    orders = load_table(spark, sf_dir, "orders")
    dim = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.date_format("o_orderdate", "yyyy") == "1995")
        )
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .distinct()
    )
    out = fact.join(F.broadcast(dim), "ym").groupBy("ym").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(
            F.expr(
                "CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
            )
        )
        .cast("double")
        .alias("revenue"),
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    if "dynamicpruning" not in plan.lower():
        raise RuntimeError(
            "dynamic partition pruning missing from the fact scan — "
            "the partitioned join would scan every month"
        )
    return out


# ---------------------------------------------------------------------------
# Clustering-depth audit: THE lakehouse layout-quality metric (Delta
# OPTIMIZE / Iceberg rewrite reports call it overlap depth). For each
# layout, every file's zone-map interval is swept: average depth = how many
# files a uniformly-random point predicate must read, max depth = the worst
# stabbing count. A value-clustered layout audits at depth ~1 (disjoint
# zone maps); the same rows hash-distributed audit at depth ~n_files
# (every file spans the domain) — the number that explains WHY
# lake_pruned_scan prunes. Buckets are value-range assigned (deterministic,
# exactly one file per bucket), so the manifest stats — and the audit —
# are reproducible arithmetic both engines compute.
# ---------------------------------------------------------------------------
_DEPTH_BUCKETS = 8

_DEPTH_SQL = f"""
WITH b AS (
  SELECT CAST(min(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS lo,
         CAST(max(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS hi
  FROM events
),
v AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS vm,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_DEPTH_BUCKETS} AS hb
  FROM events
),
assigned AS (
  SELECT vm, hb,
         least({_DEPTH_BUCKETS - 1},
               (vm - b.lo) * {_DEPTH_BUCKETS} // (b.hi - b.lo + 1)) AS cb
  FROM v, b
),
files AS (
  SELECT 'clustered' AS layout, cb AS f,
         CAST(min(vm) AS BIGINT) AS fmin, CAST(max(vm) AS BIGINT) AS fmax
  FROM assigned GROUP BY cb
  UNION ALL
  SELECT 'hashed', hb, CAST(min(vm) AS BIGINT), CAST(max(vm) AS BIGINT)
  FROM assigned GROUP BY hb
),
bounds AS (
  SELECT layout, unnest([{{'p': fmin, 'd': 1}}, {{'p': fmax + 1, 'd': -1}}]) AS e
  FROM files
),
sweep AS (
  SELECT layout,
         sum((e).d) OVER (PARTITION BY layout ORDER BY (e).p, (e).d
                          ROWS UNBOUNDED PRECEDING) AS depth
  FROM bounds
),
agg AS (
  SELECT f.layout,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(f.fmax - f.fmin + 1) AS BIGINT) AS covered
  FROM files f GROUP BY f.layout
),
mx AS (
  SELECT layout, CAST(max(depth) AS BIGINT) AS max_depth FROM sweep GROUP BY layout
)
SELECT a.layout, a.n_files,
       CAST(1000 * a.covered // (b.hi - b.lo + 1) AS BIGINT) AS avg_depth_milli,
       m.max_depth
FROM agg a JOIN mx m ON m.layout = a.layout CROSS JOIN b
"""


@register(
    "lake_clustering_depth",
    oracle=_DEPTH_SQL,
    doc="Clustering-depth audit from manifest zone maps alone: average and "
    "max file-overlap depth for a value-clustered vs hash-distributed "
    "layout of the same rows — clustered audits at ~1 (disjoint "
    "intervals), hashed at ~n_files; the O(manifest) metric that explains "
    "why zone-map pruning works, computed without touching data files",
    tags=("lake",),
)
def lake_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both layouts are written through the real stats-
    collecting commit path (one file per deterministic bucket); the audit
    reads ONLY the manifests — a bounded (files x 2) relation — so the
    boundary sweep's windows run on metadata, exactly how a table-format
    maintenance job decides whether to rewrite. The event scan happens
    once per layout at write time."""
    from pyspark.sql import Window

    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append_with_stats,
        snapshot_column_stats,
    )

    configure_session(spark)
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    vm = events.select(
        "event_id", F.round(F.col("value") * 1e6).cast("long").alias("vm")
    )
    b = vm.agg(F.min("vm").alias("lo"), F.max("vm").alias("hi")).collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    assigned = vm.select(
        "vm",
        F.least(
            F.lit(_DEPTH_BUCKETS - 1),
            F.expr(f"(vm - {lo}) * {_DEPTH_BUCKETS} div ({hi} - {lo} + 1)"),
        ).alias("cb"),
        (hash_uniform("event_id") % _DEPTH_BUCKETS).alias("hb"),
    )
    lakes = {}
    for layout, col in (("clustered", "cb"), ("hashed", "hb")):
        lake = tempfile.mkdtemp(prefix=f"depth_{layout}_")
        snapshot_append_with_stats(
            spark,
            assigned.repartition(_DEPTH_BUCKETS, col).select(
                "vm", F.col(col).alias("bucket")
            ),
            lake,
            partition_col="bucket",
            stats_cols=["vm"],
        )
        lakes[layout] = lake
    rows = []
    for layout, lake in lakes.items():
        for _part, _rel, mn, mx in snapshot_column_stats(spark, lake, "vm"):
            rows.append((layout, int(mn), int(mx)))
    files = spark.createDataFrame(rows, "layout string, fmin long, fmax long")
    if files.count() != 2 * _DEPTH_BUCKETS:
        raise RuntimeError(
            f"expected {2 * _DEPTH_BUCKETS} stats-bearing files, "
            f"got {files.count()}"
        )
    bounds = files.select(
        "layout",
        F.explode(
            F.array(
                F.struct(F.col("fmin").alias("p"), F.lit(1).alias("d")),
                F.struct((F.col("fmax") + 1).alias("p"), F.lit(-1).alias("d")),
            )
        ).alias("e"),
    ).select("layout", "e.p", "e.d")
    sweep = bounds.withColumn(
        "depth",
        F.sum("d").over(
            Window.partitionBy("layout")
            .orderBy("p", "d")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    agg = files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.col("fmax") - F.col("fmin") + 1).cast("long").alias("covered"),
    )
    mx = sweep.groupBy("layout").agg(F.max("depth").cast("long").alias("max_depth"))
    return agg.join(F.broadcast(mx), "layout").select(
        "layout",
        "n_files",
        F.expr(f"CAST(1000 * covered div ({hi} - {lo} + 1) AS BIGINT)").alias(
            "avg_depth_milli"
        ),
        "max_depth",
    )


# ---------------------------------------------------------------------------
# CDC changelog application: a Debezium-shaped I/U/D operation log is
# applied latest-version-wins with DELETE tombstones — the step that turns
# a replicated change stream back into table state. The changelog is
# synthesized deterministically from orders (every key INSERTs at v1, 1/3
# UPDATE at v2 with a one-unit price bump, 1/5 DELETE at v3), applied via
# arg-max-by-version per key, and audited against the closed-form direct
# state (the CASE expression a human would write) — the equality boolean
# rides in the value hash, so the apply mechanism is verified, not assumed.
# ---------------------------------------------------------------------------
_CDC_SQL = """
WITH keys AS (
  SELECT o_orderkey AS ok, o_orderpriority AS pri,
         CAST(floor(o_totalprice * 1000) AS BIGINT) AS price_milli,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':u'), 1, 8))
              AS BIGINT) % 3 = 0 AS has_u,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':d'), 1, 8))
              AS BIGINT) % 5 = 0 AS has_d
  FROM orders
),
changelog AS (
  SELECT ok, pri, 1 AS version, 'I' AS op, price_milli FROM keys
  UNION ALL
  SELECT ok, pri, 2, 'U', price_milli + 1000000 FROM keys WHERE has_u
  UNION ALL
  SELECT ok, pri, 3, 'D', CAST(NULL AS BIGINT) FROM keys WHERE has_d
),
applied AS (
  SELECT ok, pri,
         CAST(count(*) AS BIGINT) AS n_ops,
         arg_max(op, version) AS final_op,
         arg_max(price_milli, version) AS final_price
  FROM changelog GROUP BY 1, 2
),
direct AS (
  SELECT ok,
         NOT has_d AS live_direct,
         CASE WHEN has_d THEN NULL
              WHEN has_u THEN price_milli + 1000000
              ELSE price_milli END AS price_direct
  FROM keys
),
checked AS (
  SELECT a.pri, a.n_ops,
         a.final_op <> 'D' AS live,
         CASE WHEN a.final_op = 'D' THEN NULL ELSE a.final_price END AS price,
         (a.final_op <> 'D') = d.live_direct
           AND COALESCE(CASE WHEN a.final_op = 'D' THEN NULL
                             ELSE a.final_price END, -1)
             = COALESCE(d.price_direct, -1) AS agree
  FROM applied a JOIN direct d ON d.ok = a.ok
)
SELECT pri AS o_orderpriority,
       CAST(sum(n_ops) AS BIGINT) AS n_changelog_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN live THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(sum(CASE WHEN NOT live THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(sum(CASE WHEN live THEN price ELSE 0 END) AS BIGINT)
         AS live_price_milli,
       bool_and(agree) AS applied_equals_direct
FROM checked GROUP BY 1
"""


@register(
    "cdc_apply_changelog",
    oracle=_CDC_SQL,
    doc="CDC apply: a Debezium-shaped INSERT/UPDATE/DELETE changelog "
    "(synthesized deterministically from orders) collapsed to table state "
    "by arg-max-on-version per key with DELETE tombstones, audited row-for-"
    "row against the closed-form direct state — per-priority live/deleted "
    "counts, surviving price totals, and the apply==direct boolean in the "
    "value hash. The changelog-to-state operator lake_merge_upsert's "
    "upsert-only MERGE lacks",
    tags=("ext", "lake", "dq"),
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the changelog melt is narrow (one scan, bounded 3 rows
    per key), the apply is ONE aggregation on the uniform order key
    (arg-max by version — no window over the changelog), and the audit
    join is key-to-key co-partitioned. At 100 TB this is exactly the
    nightly CDC compaction shape: shuffle on the key, never sort the log."""
    configure_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderpriority").alias("pri"),
        F.expr("CAST(floor(o_totalprice * 1000) AS BIGINT)").alias("price_milli"),
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING) || ':u'), 1, 8),"
            " 16, 10) AS BIGINT) % 3 = 0"
        ).alias("has_u"),
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING) || ':d'), 1, 8),"
            " 16, 10) AS BIGINT) % 5 = 0"
        ).alias("has_d"),
    ).localCheckpoint(eager=False)  # feeds the changelog melt AND the direct twin
    changelog = keys.select(
        "ok",
        "pri",
        F.expr(
            "explode(concat("
            " array(struct(1 AS version, 'I' AS op, price_milli AS price_milli)),"
            " CASE WHEN has_u THEN array(struct(2 AS version, 'U' AS op,"
            "   price_milli + 1000000 AS price_milli)) ELSE array() END,"
            " CASE WHEN has_d THEN array(struct(3 AS version, 'D' AS op,"
            "   CAST(NULL AS BIGINT) AS price_milli)) ELSE array() END)) AS entry"
        ),
    ).select("ok", "pri", "entry.version", "entry.op", "entry.price_milli")
    applied = changelog.groupBy("ok", "pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_ops"),
        F.expr("max_by(op, version)").alias("final_op"),
        F.expr("max_by(price_milli, version)").alias("final_price"),
    )
    direct = keys.select(
        "ok",
        (~F.col("has_d")).alias("live_direct"),
        F.expr(
            "CASE WHEN has_d THEN NULL"
            " WHEN has_u THEN price_milli + 1000000"
            " ELSE price_milli END"
        ).alias("price_direct"),
    )
    checked = applied.join(direct, "ok").select(
        "pri",
        "n_ops",
        (F.col("final_op") != "D").alias("live"),
        F.expr("CASE WHEN final_op = 'D' THEN NULL ELSE final_price END").alias(
            "price"
        ),
        F.expr(
            "((final_op <> 'D') = live_direct)"
            " AND COALESCE(CASE WHEN final_op = 'D' THEN NULL ELSE final_price END,"
            " -1) = COALESCE(price_direct, -1)"
        ).alias("agree"),
    )
    return checked.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.sum("n_ops").cast("long").alias("n_changelog_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("live").cast("int")).cast("long").alias("n_live"),
        F.sum((~F.col("live")).cast("int")).cast("long").alias("n_deleted"),
        F.sum(F.expr("CASE WHEN live THEN price ELSE 0 END"))
        .cast("long")
        .alias("live_price_milli"),
        F.min("agree").alias("applied_equals_direct"),
    )
