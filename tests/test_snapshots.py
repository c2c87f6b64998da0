"""Snapshot-isolated lake (sources/snapshots.py): MERGE parity with the
in-place sink, time travel, as-of reads, rollback, and vacuum."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
    read_snapshot,
    rollback_snapshot,
    snapshot_history,
    snapshot_merge,
    snapshot_overwrite,
    vacuum_snapshots,
)
from amazon_kinesis_data_streams_health_check_spark.streaming.pipeline import drain

SCHEMA = "key string, ts string, version int, payload string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn("ts", F.to_timestamp("ts"))


def _content(df):
    return {
        (r.key, str(r.metric_date), r.version, r.payload)
        for r in df.select("key", "metric_date", "version", "payload").collect()
    }


BASE = [
    ("k1", "2024-01-01 10:00:00", 1, "old-day1"),
    ("k2", "2024-01-01 11:00:00", 1, "keep-me"),
    ("k3", "2024-01-02 10:00:00", 1, "day2"),
]
UPD1 = [
    ("k1", "2024-01-01 10:00:00", 2, "v2-new"),   # higher version wins
    ("k2", "2024-01-01 11:00:00", 0, "stale"),    # lower version loses
    ("k4", "2024-01-01 12:00:00", 1, "insert"),   # brand-new key
]
UPD2 = [
    ("k3", "2024-01-03 09:00:00", 2, "moved"),    # key migrates 01-02 -> 01-03
]


def test_snapshot_merge_matches_in_place_merge(spark, tmp_path):
    """Same update sequence through snapshot_merge and the in-place
    merge_upsert_partitioned lands on identical content."""
    from amazon_kinesis_data_streams_health_check_spark.sources.partitioned import (
        merge_upsert_partitioned,
    )

    snap, plain = str(tmp_path / "snap"), str(tmp_path / "plain")
    for batch in (BASE, UPD1, UPD2):
        snapshot_merge(spark, _df(spark, batch), snap, ["key"], "version")
        merge_upsert_partitioned(spark, _df(spark, batch), plain, ["key"], "version")
    assert _content(read_snapshot(spark, snap)) == _content(spark.read.parquet(plain))
    # The migrated-away partition is empty in the live view...
    assert ("k3", "2024-01-02", 1, "day2") not in _content(read_snapshot(spark, snap))
    # ...but v2 still serves it: nothing was deleted (snapshot isolation).
    assert ("k3", "2024-01-02", 1, "day2") in _content(
        read_snapshot(spark, snap, version=2)
    )


def test_time_travel_and_as_of(spark, tmp_path):
    path = str(tmp_path / "snap")
    v1 = snapshot_merge(spark, _df(spark, BASE), path, ["key"], "version")
    t_between = time.time()
    time.sleep(0.01)
    v2 = snapshot_merge(spark, _df(spark, UPD1), path, ["key"], "version")
    assert (v1, v2) == (1, 2)

    assert _content(read_snapshot(spark, path, version=1)) == _content(
        _df(spark, BASE).withColumn("metric_date", F.to_date("ts"))
    )
    assert _content(read_snapshot(spark, path, as_of=t_between)) == _content(
        read_snapshot(spark, path, version=1)
    )
    assert _content(read_snapshot(spark, path, as_of=time.time())) == _content(
        read_snapshot(spark, path, version=2)
    )
    hist = snapshot_history(spark, path)
    assert [m["version"] for m in hist] == [1, 2]
    assert hist[1]["parent"] == 1 and hist[1]["operation"] == "merge"


def test_rollback_is_a_new_commit(spark, tmp_path):
    path = str(tmp_path / "snap")
    snapshot_merge(spark, _df(spark, BASE), path, ["key"], "version")
    snapshot_merge(spark, _df(spark, UPD1), path, ["key"], "version")
    v3 = rollback_snapshot(spark, path, 1)
    assert v3 == 3
    assert _content(read_snapshot(spark, path)) == _content(
        read_snapshot(spark, path, version=1)
    )
    # History is append-only: v2 still readable after the rollback.
    assert ("k1", "2024-01-01", 2, "v2-new") in _content(
        read_snapshot(spark, path, version=2)
    )


def test_overwrite_then_vacuum(spark, tmp_path):
    path = str(tmp_path / "snap")
    snapshot_merge(spark, _df(spark, BASE), path, ["key"], "version")
    snapshot_merge(spark, _df(spark, UPD1), path, ["key"], "version")
    snapshot_overwrite(spark, _df(spark, UPD2), path)
    before = _content(read_snapshot(spark, path))

    # An orphan from a "crashed" write (data file, no manifest) gets cleaned.
    orphan = os.path.join(path, "data", "metric_date=2024-01-09")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-orphan.parquet"), "w") as f:
        f.write("junk")

    deleted = vacuum_snapshots(spark, path, keep_last=1)
    assert deleted > 0
    assert not os.path.exists(os.path.join(orphan, "part-orphan.parquet"))
    assert _content(read_snapshot(spark, path)) == before
    assert [m["version"] for m in snapshot_history(spark, path)] == [3]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_snapshot(spark, path, version=1)


def test_reader_gets_manifest_file_list_not_directory_listing(spark, tmp_path):
    """The scan's file index must come from the manifest: after a merge, the
    data dir holds BOTH old and new files for a touched partition, but the
    live read sees exactly one row per live key (no double-reads)."""
    path = str(tmp_path / "snap")
    snapshot_merge(spark, _df(spark, BASE), path, ["key"], "version")
    snapshot_merge(spark, _df(spark, UPD1), path, ["key"], "version")
    day1 = os.path.join(path, "data", "metric_date=2024-01-01")
    parquet_files = [f for f in os.listdir(day1) if f.endswith(".parquet")]
    assert len(parquet_files) > 1  # append-only: old + rewritten files coexist
    live = read_snapshot(spark, path)
    assert live.filter(F.col("metric_date") == "2024-01-01").count() == 3  # k1 k2 k4


def test_compaction_is_content_identical_and_reduces_files(spark, tmp_path):
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        compact_snapshot,
    )

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append,
    )

    path = str(tmp_path / "snap")
    snapshot_append(spark, _df(spark, BASE), path)
    snapshot_append(spark, _df(spark, UPD1), path)
    before = _content(read_snapshot(spark, path))
    assert len(before) == len(BASE) + len(UPD1)  # append keeps every row
    day1 = "metric_date=2024-01-01"
    hist_files = snapshot_history(spark, path)[-1]["files"]
    assert len(hist_files[day1]) >= 2  # fragmented by the two appends

    v = compact_snapshot(spark, path)
    assert v == 3
    m = snapshot_history(spark, path)[-1]
    assert m["operation"] == "compact"
    # One file per compacted partition; content identical; history intact.
    assert all(len(rels) == 1 for rels in m["files"].values()), m["files"]
    assert _content(read_snapshot(spark, path)) == before
    assert _content(read_snapshot(spark, path, version=2)) == before
    # Already-compact table: no-op commit (same version returned).
    assert compact_snapshot(spark, path) == 3
    # Vacuum reclaims the superseded fragments; live content unchanged.
    vacuum_snapshots(spark, path, keep_last=1)
    assert _content(read_snapshot(spark, path)) == before


def test_snapshot_lake_matches_dict_model_over_random_batches(spark, tmp_path):
    """Model check: a random sequence of MERGE batches must leave every
    snapshot equal to a plain latest-wins dict replay of its prefix."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    counter = itertools.count()

    batch = st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),      # key
            st.integers(1, 3),                        # day
            st.integers(0, 5),                        # version
        ),
        min_size=1,
        max_size=4,
    )

    @settings(
        max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
    )
    @given(batches=st.lists(batch, min_size=1, max_size=3))
    def run(batches):
        path = str(tmp_path / f"snap_{next(counter)}")
        model: dict[str, tuple] = {}
        expected_by_snap = []
        for rows in batches:
            # Dedup keys inside a batch the way the window tie-break does:
            # highest version wins; among ties the later row is arbitrary but
            # both resolve identically because rows are (key, version)-unique
            # after this reduction.
            per_key: dict[str, tuple] = {}
            for key, day, ver in rows:
                cur = per_key.get(key)
                if cur is None or ver >= cur[2]:
                    per_key[key] = (key, day, ver)
            df = _df(
                spark,
                [
                    (k, f"2024-01-0{d} 10:00:00", v, f"{k}@{v}")
                    for k, d, v in per_key.values()
                ],
            )
            snapshot_merge(spark, df, path, ["key"], "version")
            for k, d, v in per_key.values():
                cur = model.get(k)
                # Incoming wins ties (the MERGE's _is_new tie-break).
                if cur is None or v >= cur[2]:
                    model[k] = (k, d, v)
            expected_by_snap.append(dict(model))
        for i, expected in enumerate(expected_by_snap, start=1):
            got = {
                r.key: (r.key, int(str(r.metric_date)[9]), r.version)
                for r in read_snapshot(spark, path, version=i).collect()
            }
            assert got == expected, (i, got, expected)

    run()


def test_streaming_exactly_once_into_snapshot_lake(spark, tmp_path):
    """foreachBatch ingest stamps (app_id, batch_id) into each manifest and
    skips re-delivered batches: a full replay from a fresh checkpoint adds
    ZERO rows, while a genuine restart picks up only new input."""
    import json as _json

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        last_committed_txn,
        snapshot_stream_sink,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    path = str(tmp_path / "lake")
    row = lambda k, d, v: _json.dumps(
        {"key": k, "ts": f"2024-01-0{d}T10:00:00.000Z", "version": v, "payload": k}
    )
    (src / "f1.json").write_text(row("a", 1, 1) + "\n" + row("b", 1, 1))
    (src / "f2.json").write_text(row("c", 2, 1))

    def run(ckpt):
        stream = (
            spark.readStream.schema(
                "key string, ts timestamp, version int, payload string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        drain(
            snapshot_stream_sink(stream, path, str(tmp_path / ckpt), app_id="ingest-a"),
            "snapshot_ingest",
        )

    run("ckpt1")
    assert read_snapshot(spark, path).count() == 3
    assert last_committed_txn(spark, path, "ingest-a") == 1
    hist = snapshot_history(spark, path)
    assert [m["txn"]["batch_id"] for m in hist if "txn" in m] == [0, 1]

    # Crash-replay simulation: fresh checkpoint re-delivers batches 0 and 1
    # with the same ids -> the txn guard must drop both.
    run("ckpt2")
    assert read_snapshot(spark, path).count() == 3
    assert len(snapshot_history(spark, path)) == len(hist)

    # Genuine restart on the original checkpoint: only the new file lands.
    (src / "f3.json").write_text(row("d", 3, 1))
    run("ckpt1")
    assert read_snapshot(spark, path).count() == 4
    assert last_committed_txn(spark, path, "ingest-a") == 2
    # A different writer identity is NOT deduped against this one.
    assert last_committed_txn(spark, path, "ingest-b") == -1


def test_schema_evolution_add_column(spark, tmp_path):
    """The manifest's declared schema governs each read: a commit that adds a
    column surfaces NULL for pre-existing rows, and older versions still read
    with the schema they were committed under."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_append,
    )

    path = str(tmp_path / "snap")
    snapshot_append(spark, _df(spark, BASE), path)
    widened = _df(spark, UPD2).withColumn("extra", F.lit(7))
    snapshot_append(spark, widened, path)

    live = read_snapshot(spark, path)
    assert "extra" in live.columns
    rows = {(r.key, r.extra) for r in live.select("key", "extra").collect()}
    assert rows == {("k1", None), ("k2", None), ("k3", None), ("k3", 7)}
    assert "extra" not in read_snapshot(spark, path, version=1).columns


def test_incremental_agg_refresh_modes_and_parity(spark, tmp_path):
    """Refresh reads only delta files; noop when nothing new; the state
    always equals a direct one-pass aggregate of the live lake."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        compact_snapshot,
        refresh_incremental_agg,
        snapshot_append,
    )

    lake = str(tmp_path / "lake")
    state = str(tmp_path / "state")

    def mk(rows):
        return spark.createDataFrame(rows, "k string, grp string, v long")

    def direct():
        return {
            (r.k, r.grp, r.n_rows, r.sum_v)
            for r in read_snapshot(spark, lake)
            .groupBy("k", "grp")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v"))
            .collect()
        }

    def maintained():
        return {
            (r.k, r.grp, r.n_rows, r.sum_v)
            for r in read_snapshot(spark, state)
            .select("k", "grp", "n_rows", F.col("sum_v").alias("sum_v"))
            .collect()
        }

    args = dict(keys=["k", "grp"], sums=["v"], state_partition_col="grp")

    snapshot_append(spark, mk([("a", "g1", 1), ("b", "g2", 10)]), lake, "grp")
    i1 = refresh_incremental_agg(spark, lake, state, **args)
    assert i1["mode"] == "incremental" and i1["files_read"] >= 1
    assert maintained() == direct()

    # Second append: only the new files are read.
    lake_files_before = i1["files_read"]
    snapshot_append(spark, mk([("a", "g1", 5), ("c", "g1", 7)]), lake, "grp")
    i2 = refresh_incremental_agg(spark, lake, state, **args)
    assert i2["mode"] == "incremental"
    assert maintained() == direct()

    # Nothing new -> noop, state version unchanged.
    i3 = refresh_incremental_agg(spark, lake, state, **args)
    assert i3["mode"] == "noop" and i3["state_version"] == i2["state_version"]

    # Compaction rewrites absorbed files -> deltas unrecoverable -> full
    # re-baseline, still exact.
    compact_snapshot(spark, lake, min_files=2, partition_col="grp")
    snapshot_append(spark, mk([("b", "g2", -3)]), lake, "grp")
    i4 = refresh_incremental_agg(spark, lake, state, **args)
    assert i4["mode"] == "full"
    assert maintained() == direct()

    # And incremental resumes after the re-baseline.
    snapshot_append(spark, mk([("d", "g2", 2)]), lake, "grp")
    i5 = refresh_incremental_agg(spark, lake, state, **args)
    assert i5["mode"] == "incremental"
    assert maintained() == direct()
    del lake_files_before


def test_snapshot_cdc_prunes_to_changed_partitions(spark, tmp_path):
    """CDC between versions reads only manifest-changed partitions and
    reports exactly the inserted/deleted/updated keys (latest-wins no-op
    updates excluded)."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_cdc,
        snapshot_changed_partitions,
    )

    lake = str(tmp_path / "cdc_lake")
    v1 = snapshot_merge(spark, _df(spark, BASE), lake, ["key"], "version")
    v2 = snapshot_merge(spark, _df(spark, UPD1), lake, ["key"], "version")

    changed = snapshot_changed_partitions(spark, lake, v1, v2)
    # UPD1 touches only 2024-01-01; the 01-02 partition must be pruned.
    assert changed == ["metric_date=2024-01-01"], changed

    rows = {
        r.key: r.change
        for r in snapshot_cdc(spark, lake, v1, v2, ["key"]).collect()
    }
    # k1 upgraded (v2 wins), k2's stale update lost (no change row),
    # k4 inserted, k3 lives in the pruned partition (no row).
    assert rows == {"k1": "update", "k4": "insert"}, rows

    # Key migration: k3 moves 01-02 -> 01-03; both partitions now change.
    v3 = snapshot_merge(spark, _df(spark, UPD2), lake, ["key"], "version")
    changed23 = snapshot_changed_partitions(spark, lake, v2, v3)
    assert "metric_date=2024-01-02" in changed23
    assert "metric_date=2024-01-03" in changed23
    rows23 = {
        (r.key, r.change)
        for r in snapshot_cdc(spark, lake, v2, v3, ["key"]).collect()
    }
    assert rows23 == {("k3", "update")}, rows23


def test_zone_map_pruning_skips_files_and_stays_exact(spark, tmp_path):
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot_pruned,
        snapshot_append_with_stats,
    )

    lake = str(tmp_path / "zone_lake")
    rows = [(i, float(i)) for i in range(1000)]
    df = (
        spark.createDataFrame(rows, "id long, v double")
        .repartitionByRange(10, "v")
        .withColumn("shard", F.lit("all"))
    )
    snapshot_append_with_stats(spark, df, lake, "shard", stats_cols=["v"])

    pruned, info = read_snapshot_pruned(spark, lake, "v", 250.0, 349.0)
    assert info["files_read"] < info["files_total"], info
    got = sorted(r.id for r in pruned.collect())
    assert got == list(range(250, 350))

    # Appending unclustered data keeps pruning conservative but correct.
    extra = spark.createDataFrame(
        [(2000, 300.5)], "id long, v double"
    ).withColumn("shard", F.lit("all"))
    snapshot_append_with_stats(spark, extra, lake, "shard", stats_cols=["v"])
    pruned2, info2 = read_snapshot_pruned(spark, lake, "v", 250.0, 349.0)
    assert {r.id for r in pruned2.collect()} == set(range(250, 350)) | {2000}
    assert info2["files_read"] < info2["files_total"]


def test_snapshot_delete_prunes_and_time_travels(spark, tmp_path):
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_delete,
    )

    path = str(tmp_path / "snap")
    base = [
        ("k1", "2024-01-01 10:00:00", 1, "a"),
        ("k2", "2024-01-01 11:00:00", 1, "b"),
        ("k3", "2024-01-02 10:00:00", 1, "c"),
        ("k4", "2024-01-03 10:00:00", 1, "d"),
    ]
    v1 = snapshot_overwrite(spark, _df(spark, base), path)
    keys = spark.createDataFrame([("k1",), ("k3",)], "key string")
    v2 = snapshot_delete(spark, path, keys, ["key"])

    # Survivors only; the 01-02 partition (every row erased) disappears.
    after = read_snapshot(spark, path)
    assert {r.key for r in after.collect()} == {"k2", "k4"}
    hist = snapshot_history(spark, path)
    m1 = next(m for m in hist if m["version"] == v1)["files"]
    m2 = next(m for m in hist if m["version"] == v2)["files"]
    assert "metric_date=2024-01-02" not in m2
    # Untouched partition carried by reference (identical file list).
    assert m2["metric_date=2024-01-03"] == m1["metric_date=2024-01-03"]
    # Erasure is logical until vacuum: time travel still sees v1.
    assert {r.key for r in read_snapshot(spark, path, version=v1).collect()} == {
        "k1",
        "k2",
        "k3",
        "k4",
    }


def test_snapshot_delete_with_escaped_partition_values(spark, tmp_path):
    """Partition values needing Spark's partition-path escaping (space, ':')
    must still be erased cleanly: touched directories are resolved from the
    on-disk file paths, not from hand-formatted f"{col}={value}" strings —
    the latter would miss the escaped manifest key and leave the old files
    referenced alongside the rewritten survivors (duplicate rows)."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        snapshot_delete,
    )

    path = str(tmp_path / "snap_esc")
    df = spark.createDataFrame(
        [
            ("k1", "grp a:1", "x"),
            ("k2", "grp a:1", "y"),
            ("k3", "grp/b 2", "z"),
        ],
        "key string, grp string, payload string",
    )
    v1 = snapshot_overwrite(spark, df, path, partition_col="grp")
    keys = spark.createDataFrame([("k1",), ("k3",)], "key string")
    snapshot_delete(spark, path, keys, ["key"], partition_col="grp")

    after = read_snapshot(spark, path)
    rows = [(r.key, r.grp, r.payload) for r in after.collect()]
    # No duplicates, no resurrected rows: exactly the one survivor.
    assert rows == [("k2", "grp a:1", "y")]
    # The fully-erased escaped partition is gone from the manifest.
    hist = snapshot_history(spark, path)
    m2 = hist[0]["files"] if hist[0]["version"] != v1 else hist[1]["files"]
    assert not any("b 2" in part or "b%202" in part for part in m2), m2


def test_concurrent_commit_from_same_parent_raises_conflict(spark, tmp_path):
    """Optimistic concurrency: two writers resolving the same parent must
    not both publish vN+1 — the second rename-if-absent loses and gets a
    SnapshotConflictError instead of silently orphaning the winner's commit."""
    import pytest as _pytest

    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        SnapshotConflictError,
        _commit,
        _resolve_manifest,
        snapshot_overwrite,
    )

    lake = str(tmp_path / "conflict_lake")
    df = spark.range(10).select(
        F.col("id").alias("user_id"), F.lit("a").alias("part")
    )
    v1 = snapshot_overwrite(spark, df, lake, partition_col="part")
    m = _resolve_manifest(spark, lake)
    # Writer A commits v2 from parent v1.
    _commit(spark, lake, dict(m["files"]), "append", m["schema"], v1)
    # Writer B, still holding parent v1, must conflict instead of clobbering.
    with _pytest.raises(SnapshotConflictError):
        _commit(spark, lake, dict(m["files"]), "append", m["schema"], v1)
    # The winning v2 survived and the lake still resolves.
    assert _resolve_manifest(spark, lake)["version"] == 2


def test_append_retries_past_conflicting_writer(spark, tmp_path, monkeypatch):
    """snapshot_append loses the manifest race once, re-resolves, and lands
    its files in the NEXT version — appends are commutative so both
    writers' rows survive."""
    from amazon_kinesis_data_streams_health_check_spark.sources import snapshots as sn

    lake = str(tmp_path / "retry_lake")
    base = spark.range(5).select(F.col("id").alias("user_id"), F.lit("a").alias("part"))
    sn.snapshot_overwrite(spark, base, lake, partition_col="part")

    real_commit = sn._commit
    calls = {"n": 0}

    def racing_commit(spark_, path_, files_, op_, schema_, parent_, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            # An INDEPENDENT writer lands v2 first (its manifest carries only
            # the files it can see — never this writer's still-private ones);
            # this writer's commit then collides for real.
            current = sn._resolve_manifest(spark_, path_)
            real_commit(
                spark_, path_, dict(current["files"]), "append", schema_, parent_
            )
            raise sn.SnapshotConflictError("simulated race")
        return real_commit(spark_, path_, files_, op_, schema_, parent_, **kw)

    monkeypatch.setattr(sn, "_commit", racing_commit)
    extra = spark.range(100, 103).select(
        F.col("id").alias("user_id"), F.lit("a").alias("part")
    )
    v = sn.snapshot_append(spark, extra, lake, partition_col="part")
    assert v == 3  # retried past the conflicting v2
    rows = [r.user_id for r in sn.read_snapshot(spark, lake).collect()]
    assert sorted(rows) == [0, 1, 2, 3, 4, 100, 101, 102]  # exact — no dup reads


def test_bloom_point_lookup_skips_and_stays_exact(spark, tmp_path):
    """Per-file Bloom bitsets: a point lookup reads a file subset, matches a
    full-scan filter exactly, returns empty (not wrong) for absent values,
    and keeps files from bloom-less commits (conservative pruning)."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot,
        read_snapshot_point,
        snapshot_append,
        snapshot_append_with_blooms,
    )

    path = str(tmp_path / "bloomlake")
    rows = [(i, f"u{i % 8}", i * 10) for i in range(64)]
    df = spark.createDataFrame(rows, "id long, owner string, v long").withColumn(
        "shard", F.lit("all")
    )
    # hash-cluster owners across 8 files so each owner lands in few files
    snapshot_append_with_blooms(
        spark, df.repartition(8, "owner"), path, "shard", bloom_cols=["owner"]
    )

    hit, info = read_snapshot_point(spark, path, "owner", "u3")
    assert info["files_read"] < info["files_total"]
    expect = {(r.id, r.v) for r in read_snapshot(spark, path).filter("owner = 'u3'").collect()}
    assert {(r.id, r.v) for r in hit.collect()} == expect and expect

    # absent value: bitsets reject it from (almost) every file; the residual
    # filter guarantees emptiness even on false positives
    miss, miss_info = read_snapshot_point(spark, path, "owner", "nobody")
    assert miss.count() == 0
    assert miss_info["files_read"] <= miss_info["files_total"]

    # a later bloom-less append must stay visible to point reads
    extra = spark.createDataFrame([(999, "u3", 1)], "id long, owner string, v long").withColumn(
        "shard", F.lit("all")
    )
    snapshot_append(spark, extra, path, partition_col="shard")
    hit2, _ = read_snapshot_point(spark, path, "owner", "u3")
    assert {(r.id, r.v) for r in hit2.collect()} == expect | {(999, 1)}


def test_partition_spec_evolution_reads_union_of_layouts(spark, tmp_path):
    """Commits under different partition columns stay one readable table;
    dir-level pruning applies only inside the matching spec group and
    results always equal a full-scan filter."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        read_snapshot_evolved,
        snapshot_append,
    )

    path = str(tmp_path / "evolake")
    rows1 = [(1, "a", "d1"), (2, "b", "d1"), (3, "a", "d2")]
    rows2 = [(4, "a", "d2"), (5, "b", "d3")]
    schema = "id long, cat string, day string"
    snapshot_append(spark, spark.createDataFrame(rows1, schema), path, "cat")
    snapshot_append(spark, spark.createDataFrame(rows2, schema), path, "day")

    full, info = read_snapshot_evolved(spark, path)
    assert info == {"files_total": info["files_total"], "files_read": info["files_total"]}
    assert {r.id for r in full.collect()} == {1, 2, 3, 4, 5}

    # filter on the v1 spec column: prunes v1 dirs, scans all v2 files
    cat_a, info_a = read_snapshot_evolved(spark, path, partition_filters={"cat": "a"})
    assert {r.id for r in cat_a.collect()} == {1, 3, 4}
    assert info_a["files_read"] < info_a["files_total"]

    # filter on the v2 spec column: prunes v2 dirs, scans all v1 files
    d2, info_d = read_snapshot_evolved(spark, path, partition_filters={"day": "d2"})
    assert {r.id for r in d2.collect()} == {3, 4}
    assert info_d["files_read"] < info_d["files_total"]


def test_branch_isolation_and_fast_forward(spark, tmp_path):
    """Branch commits are invisible to main; fast-forward publishes the
    branch head; a diverged main refuses the merge."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        SnapshotConflictError,
        branch_append,
        branch_create,
        branch_fast_forward,
        read_branch,
        read_snapshot,
        snapshot_append,
        snapshot_history,
    )

    path = str(tmp_path / "branchlake")
    schema = "id long, part string"
    snapshot_append(spark, spark.createDataFrame([(1, "a")], schema), path, "part")
    branch_create(spark, path, "dev")
    branch_append(
        spark, spark.createDataFrame([(2, "b")], schema), path, "dev", "part"
    )
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1}
    assert {r.id for r in read_branch(spark, path, "dev").collect()} == {1, 2}

    # diverged main blocks the merge
    snapshot_append(spark, spark.createDataFrame([(3, "c")], schema), path, "part")
    with pytest.raises(SnapshotConflictError):
        branch_fast_forward(spark, path, "dev")

    # clean fork merges, and the merge is metadata-only (a new main version)
    branch_create(spark, path, "dev2")
    branch_append(
        spark, spark.createDataFrame([(4, "d")], schema), path, "dev2", "part"
    )
    v = branch_fast_forward(spark, path, "dev2")
    assert v == snapshot_history(spark, path)[-1]["version"]
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 3, 4}


def test_partition_overwrite_scopes_to_touched_partitions(spark, tmp_path):
    """Partition-scoped overwrite replaces only the partitions in the new
    df; others carry by file reference, and the old version time-travels."""
    from amazon_kinesis_data_streams_health_check_spark.sources.snapshots import (
        _resolve_manifest,
        read_snapshot,
        snapshot_append,
        snapshot_overwrite_partitions,
    )

    path = str(tmp_path / "bf")
    schema = "id long, part string, v long"
    snapshot_append(
        spark,
        spark.createDataFrame([(1, "a", 10), (2, "b", 99)], schema),
        path,
        "part",
    )
    m1 = _resolve_manifest(spark, path)
    snapshot_overwrite_partitions(
        spark, spark.createDataFrame([(2, "b", 20)], schema), path, "part"
    )
    m2 = _resolve_manifest(spark, path)
    # untouched partition: identical file references; touched: replaced
    assert m2["files"]["part=a"] == m1["files"]["part=a"]
    assert set(m2["files"]["part=b"]).isdisjoint(m1["files"]["part=b"])
    assert {(r.id, r.v) for r in read_snapshot(spark, path).collect()} == {
        (1, 10),
        (2, 20),
    }
    assert {(r.id, r.v) for r in read_snapshot(spark, path, version=1).collect()} == {
        (1, 10),
        (2, 99),
    }
