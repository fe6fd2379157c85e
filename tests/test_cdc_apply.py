"""End-to-end batch CDC apply vs independent oracles.

Mirrors the reference's fixture-driven final-state assertions
(ONeo4jImporterTest.java:119-151,229-266) per FIXTURES.md §3.
"""

import os

import pytest

from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes, lww_resolve, lww_resolve_salted, lww_resolve_window
from orientdb_neo4j_importer_plugin_spark.feedgen import gen_feed, write_feed_chunks
from orientdb_neo4j_importer_plugin_spark.lake import SnapshotTable
from orientdb_neo4j_importer_plugin_spark.oracle import (
    reduce_events_duckdb,
    table_matches_oracle,
)
from orientdb_neo4j_importer_plugin_spark.schema import TRANSCRIPTS, TRANSCRIPTS_V1

OUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def final_state(table, snapshot=None):
    df = table.read(snapshot=snapshot).orderBy("conv_id", "turn_idx")
    cols = [c for c in OUT_COLS if c in df.columns]
    return [tuple(r) for r in df.select(*cols).collect()]


def oracle_state(feed_dir, has_tool):
    rel = reduce_events_duckdb(f"{feed_dir}/*.parquet", has_tool=has_tool)
    return [tuple(r) for r in rel.fetchall()]


def run_fixture(spark, tmp_path, feed, schema, name, batch_split=None):
    feed_dir = str(tmp_path / f"feed_{name}")
    write_feed_chunks(feed, feed_dir, chunk_size=1000)
    table = SnapshotTable.create(
        spark, str(tmp_path / f"table_{name}"), schema, "conv_id", num_buckets=8
    )
    batch = spark.read.parquet(feed_dir)
    if batch_split is None:
        apply_changes(batch, table, batch_id="b0")
    else:
        lo = batch.filter(batch.lsn < batch_split)
        hi = batch.filter(batch.lsn >= batch_split)
        apply_changes(lo, table, batch_id="b0")
        apply_changes(hi, table, batch_id="b1")
    return table, feed_dir


def test_feed_empty(spark, tmp_path):
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS, "conv_id", num_buckets=8
    )
    empty = spark.createDataFrame([], "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, source_part int")
    res = apply_changes(empty, table, batch_id="b0")
    assert res.events_in == 0
    assert table.read().count() == 0
    assert table.is_batch_committed("b0")


def test_mor_apply_job_count(spark, tmp_path):
    """A small MOR apply runs the LWW aggregate and the delta write, and
    nothing else: its counters ride the write on an Observation instead
    of a collect of their own."""
    feed = gen_feed(spark, n_convs=4, turns_per_conv=5, updates_per_key=1,
                    delete_every=4, duplicate=True)
    batch = spark.createDataFrame(feed.collect(), feed.schema)  # no scan job
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_V1, "conv_id", num_buckets=4
    )
    sc = spark.sparkContext
    group = f"mor-apply-{os.getpid()}-{id(table)}"
    sc.setJobGroup(group, "MOR apply job-count guard")
    try:
        res = apply_changes(batch, table, batch_id="m0", mode="mor")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, jobs
    n_keys = 4 * 5
    assert (res.events_in, res.keys_changed) == (batch.count(), n_keys)
    assert res.deletes == len([i for i in range(n_keys) if i % 4 == 1])
    assert res.upserts == n_keys - res.deletes
    lin = table.current().lineage[-1]
    assert lin["keys_changed"] == n_keys and lin["touched_buckets"]


@pytest.mark.parametrize("kind", ["all_filtered", "empty"])
def test_mor_empty_batch_is_ledgered(spark, tmp_path, kind):
    """A MOR batch with nothing to merge (every row filtered by policy, or
    no rows at all) still ledgers its batch id with events_in == 0, and a
    replay of it is a no-op that leaves the version alone."""
    from pyspark.sql import functions as F

    feed = gen_feed(spark, n_convs=2, turns_per_conv=3)
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_V1, "conv_id", num_buckets=4
    )
    apply_changes(feed, table, batch_id="m0", mode="mor")
    before = final_state(table)
    if kind == "empty":
        batch, kw = feed.limit(0), {}
    else:
        batch, kw = feed, {"event_filter": F.lit(False)}
    res = apply_changes(batch, table, batch_id="m1", mode="mor", **kw)
    v = table.current().version
    assert res.events_in == 0 and res.snapshot_version == v
    assert res.filtered_out == (6 if kind == "all_filtered" else 0)
    lin = table.current().lineage[-1]
    assert lin["batch_id"] == "m1" and lin["events_in"] == 0
    assert table.is_batch_committed("m1")
    again = apply_changes(batch, table, batch_id="m1", mode="mor", **kw)
    assert again.skipped_replay and again.snapshot_version == v
    assert table.current().version == v
    assert final_state(table) == before


def test_feed_inserts_only(spark, tmp_path):
    feed = gen_feed(spark, n_convs=3, turns_per_conv=10)
    table, feed_dir = run_fixture(spark, tmp_path, feed, TRANSCRIPTS_V1, "ins")
    rows = final_state(table)
    assert len(rows) == 30
    ok, msg = table_matches_oracle(rows, oracle_state(feed_dir, has_tool=False))
    assert ok, msg
    # per-conversation counts == 10 (shouldImportNodesOnlyDb analogue)
    per_conv = table.read().groupBy("conv_id").count().collect()
    assert all(r["count"] == 10 for r in per_conv) and len(per_conv) == 3


def test_feed_updates_lww(spark, tmp_path):
    feed = gen_feed(spark, n_convs=5, turns_per_conv=8, updates_per_key=3)
    table, feed_dir = run_fixture(spark, tmp_path, feed, TRANSCRIPTS_V1, "upd")
    ok, msg = table_matches_oracle(
        final_state(table), oracle_state(feed_dir, has_tool=False)
    )
    assert ok, msg
    # updated keys must carry the highest revision text
    updated = (
        table.read().filter("conv_id = 'conv_000000' and turn_idx = 0").collect()
    )
    assert len(updated) == 1 and updated[0]["text"].endswith("rev 3")


def test_feed_updates_multi_batch(spark, tmp_path):
    feed = gen_feed(spark, n_convs=5, turns_per_conv=8, updates_per_key=3)
    table, feed_dir = run_fixture(
        spark, tmp_path, feed, TRANSCRIPTS_V1, "updmb", batch_split=60
    )
    ok, msg = table_matches_oracle(
        final_state(table), oracle_state(feed_dir, has_tool=False)
    )
    assert ok, msg


def test_feed_deletes(spark, tmp_path):
    feed = gen_feed(spark, n_convs=4, turns_per_conv=10, delete_every=5)
    table, feed_dir = run_fixture(spark, tmp_path, feed, TRANSCRIPTS_V1, "del")
    rows = final_state(table)
    oracle = oracle_state(feed_dir, has_tool=False)
    assert len(rows) < 40  # something was deleted
    ok, msg = table_matches_oracle(rows, oracle)
    assert ok, msg


def test_feed_duplicates_idempotent(spark, tmp_path):
    feed = gen_feed(spark, n_convs=3, turns_per_conv=10, duplicate=True)
    table, feed_dir = run_fixture(spark, tmp_path, feed, TRANSCRIPTS_V1, "dup")
    rows = final_state(table)
    assert len(rows) == 30  # duplicates collapse (unique-index analogue)
    ok, msg = table_matches_oracle(rows, oracle_state(feed_dir, has_tool=False))
    assert ok, msg


def test_batch_replay_is_noop(spark, tmp_path):
    feed = gen_feed(spark, n_convs=3, turns_per_conv=5)
    feed_dir = str(tmp_path / "feed_replay")
    write_feed_chunks(feed, feed_dir)
    table = SnapshotTable.create(
        spark, str(tmp_path / "t_replay"), TRANSCRIPTS_V1, "conv_id", num_buckets=8
    )
    batch = spark.read.parquet(feed_dir)
    r1 = apply_changes(batch, table, batch_id="b0")
    v1 = table.current().version
    r2 = apply_changes(batch, table, batch_id="b0")  # exactly-once replay
    assert r2.skipped_replay and table.current().version == v1
    assert not r1.skipped_replay


def test_feed_schema_v2_evolution(spark, tmp_path):
    # v1 events then v2 events carrying `tool` (FIXTURES feed_schema_v2)
    v1 = gen_feed(spark, n_convs=3, turns_per_conv=10)
    v2 = gen_feed(
        spark, n_convs=3, turns_per_conv=10, updates_per_key=1, v2_from_lsn=30
    ).filter("lsn >= 30")
    table = SnapshotTable.create(
        spark, str(tmp_path / "t_evo"), TRANSCRIPTS_V1, "conv_id", num_buckets=8
    )
    apply_changes(v1, table, batch_id="b0")
    assert "tool" not in [f.name for f in table.current().schema.fields]
    apply_changes(v2, table, batch_id="b1")
    schema_cols = [f.name for f in table.current().schema.fields]
    assert "tool" in schema_cols  # existsProperty analogue
    df = table.read()
    # v1-only rows null-backfilled; updated rows carry tool values
    assert df.filter("tool is not null").count() > 0
    assert df.filter("tool is null").count() > 0


def test_feed_hot_key_skew(spark, tmp_path):
    feed = gen_feed(spark, n_convs=4, turns_per_conv=5, hot_conv_share=0.5)
    table, feed_dir = run_fixture(spark, tmp_path, feed, TRANSCRIPTS_V1, "hot")
    ok, msg = table_matches_oracle(
        final_state(table), oracle_state(feed_dir, has_tool=False)
    )
    assert ok, msg


def test_out_of_order_batches(spark, tmp_path):
    """A batch with lower lsns applied AFTER a higher-lsn batch must not
    overwrite newer rows, and deletes must not be resurrected (tombstones)."""
    feed = gen_feed(spark, n_convs=6, turns_per_conv=6, updates_per_key=2, delete_every=4)
    feed_dir = str(tmp_path / "feed_ooo")
    write_feed_chunks(feed, feed_dir)
    table = SnapshotTable.create(
        spark, str(tmp_path / "t_ooo"), TRANSCRIPTS_V1, "conv_id", num_buckets=8
    )
    full = spark.read.parquet(feed_dir)
    mid = 36
    hi = full.filter(full.lsn >= mid)
    lo = full.filter(full.lsn < mid)
    apply_changes(hi, table, batch_id="late-first")  # updates+deletes first
    apply_changes(lo, table, batch_id="early-second")  # inserts arrive late
    ok, msg = table_matches_oracle(
        final_state(table), oracle_state(feed_dir, has_tool=False)
    )
    assert ok, msg
    # tombstones present, then vacuumed away once past the retention lsn
    raw = table.read(raw=True)
    n_tombstones = raw.filter("__deleted").count()
    assert n_tombstones > 0
    max_lsn = feed.agg({"lsn": "max"}).collect()[0][0]
    table.vacuum_tombstones(below_lsn=max_lsn + 1)
    assert table.read(raw=True).filter("__deleted").count() == 0
    ok, msg = table_matches_oracle(
        final_state(table), oracle_state(feed_dir, has_tool=False)
    )
    assert ok, msg


def test_lww_formulations_agree(spark):
    feed = gen_feed(
        spark, n_convs=4, turns_per_conv=5, updates_per_key=2, duplicate=True
    )
    a = lww_resolve(feed).orderBy("conv_id", "turn_idx").collect()
    b = lww_resolve_window(feed).select(*[c.name for c in lww_resolve(feed).schema]).orderBy("conv_id", "turn_idx").collect()
    c = lww_resolve_salted(feed).orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in c]
    key_of = lambda r: (r["conv_id"], r["turn_idx"], r["lsn"], r["text"])
    assert sorted(map(key_of, a)) == sorted(map(key_of, b))


def test_overwrite_flag(spark, tmp_path):
    root = str(tmp_path / "t_ow")
    SnapshotTable.create(spark, root, TRANSCRIPTS, "conv_id")
    with pytest.raises(FileExistsError):
        SnapshotTable.create(spark, root, TRANSCRIPTS, "conv_id")
    SnapshotTable.create(spark, root, TRANSCRIPTS, "conv_id", overwrite=True)


def test_metrics_table(spark, tmp_path):
    """Snapshot-level metrics: one row per commit, counters from lineage,
    events_per_sec derived from commit-epoch gaps."""
    from orientdb_neo4j_importer_plugin_spark.feedgen import gen_feed
    from orientdb_neo4j_importer_plugin_spark.lake import SnapshotTable
    from orientdb_neo4j_importer_plugin_spark.schema import TRANSCRIPTS_V1

    feed = gen_feed(spark, n_convs=6, turns_per_conv=4, updates_per_key=1)
    table = SnapshotTable.create(
        spark, str(tmp_path / "m"), TRANSCRIPTS_V1, "conv_id", num_buckets=4
    )
    apply_changes(feed.filter("lsn < 20"), table, batch_id="m0", mode="mor")
    apply_changes(feed.filter("lsn >= 20"), table, batch_id="m1", mode="mor")
    m = table.metrics().orderBy("seq").collect()
    assert [r.batch_id for r in m] == ["m0", "m1"]
    assert all(r.mode == "mor" for r in m)
    assert all(r.events_in > 0 and r.keys_changed >= 0 for r in m)
    assert m[1].events_per_sec is None or m[1].events_per_sec > 0
    assert '"batch_id": "m1"' in m[1].raw


def test_file_stats_and_changes_since(spark, tmp_path):
    """Manifest-carried file stats (rows/lsn-range/tombstones) and the
    incremental scan: changes_since(v) reads exactly the files added
    after v."""
    feed = gen_feed(spark, n_convs=6, turns_per_conv=5, updates_per_key=1,
                    delete_every=5)
    table = SnapshotTable.create(
        spark, str(tmp_path / "fs"), TRANSCRIPTS_V1, "conv_id", num_buckets=4
    )
    mid = 25
    apply_changes(feed.filter(feed.lsn < mid), table, batch_id="b0", mode="mor")
    v0 = table.current().version
    apply_changes(feed.filter(feed.lsn >= mid), table, batch_id="b1", mode="mor")

    # stats cover every file, straight from manifests (fresh handle: no
    # warm in-memory cache — proves persistence)
    t2 = SnapshotTable.load(spark, str(tmp_path / "fs"))
    stats = t2.file_stats()
    snap = t2.current()
    assert set(stats) == set(snap.all_files())
    # stats count PHYSICAL rows (pre-LWW-merge union of base + deltas)
    total_rows = sum(s["rows"] for s in stats.values())
    physical = t2._read_files(snap.all_files(), snap.schema).count()
    assert total_rows == physical > 0
    assert any(s["tombstones"] for s in stats.values())
    assert all(
        s["lsn_min"] is not None and s["lsn_min"] <= s["lsn_max"]
        for s in stats.values()
    )

    # incremental scan: exactly batch b1's winner rows (MOR deltas)
    inc = t2.changes_since(v0, raw=True)
    assert inc.count() > 0
    assert inc.agg({"__lsn": "min"}).collect()[0][0] >= mid
    # and nothing from before v0's commit
    assert t2.changes_since(snap.version, raw=True).count() == 0


def test_vacuum_tombstones_prunes_from_metadata(spark, tmp_path):
    """With full stats coverage the tombstone vacuum picks candidate
    buckets from manifests (no table scan) and still converges."""
    feed = gen_feed(spark, n_convs=6, turns_per_conv=6, updates_per_key=2,
                    delete_every=4)
    feed_dir = str(tmp_path / "feed_vs")
    write_feed_chunks(feed, feed_dir)
    table = SnapshotTable.create(
        spark, str(tmp_path / "t_vs"), TRANSCRIPTS_V1, "conv_id", num_buckets=8
    )
    apply_changes(spark.read.parquet(feed_dir), table, batch_id="b0")
    stats = table.file_stats()
    assert set(stats) == set(table.current().all_files())  # metadata path taken
    max_lsn = feed.agg({"lsn": "max"}).collect()[0][0]
    table.vacuum_tombstones(below_lsn=max_lsn + 1)
    assert table.read(raw=True).filter("__deleted").count() == 0
    ok, msg = table_matches_oracle(
        final_state(table), oracle_state(feed_dir, has_tool=False)
    )
    assert ok, msg


def test_rollback_restores_state_and_ledger(spark, tmp_path):
    """rollback(v): state reverts, history moves FORWARD (old versions
    retained for time travel), and the ledger reverts so post-rollback
    replays of the abandoned batch re-apply instead of no-oping."""
    feed = gen_feed(spark, n_convs=5, turns_per_conv=4, updates_per_key=1)
    table = SnapshotTable.create(
        spark, str(tmp_path / "rb"), TRANSCRIPTS_V1, "conv_id", num_buckets=4
    )
    mid = 15
    apply_changes(feed.filter(feed.lsn < mid), table, batch_id="b0", mode="mor")
    v1 = table.current().version
    state_v1 = final_state(table)
    apply_changes(feed.filter(feed.lsn >= mid), table, batch_id="b1", mode="mor")
    assert final_state(table) != state_v1

    snap = table.rollback(v1)
    assert snap.version == v1 + 2  # forward commit, not a pointer rewind
    assert final_state(table) == state_v1
    assert "b1" not in snap.ledger and "b0" in snap.ledger
    assert snap.lineage[-1]["rollback_to"] == v1
    # time travel over the abandoned version still works
    assert table.snapshot_at(v1 + 1).version == v1 + 1
    # the abandoned batch re-applies (ledger was restored)
    res = apply_changes(feed.filter(feed.lsn >= mid), table, batch_id="b1", mode="mor")
    assert not res.skipped_replay
    assert final_state(table) != state_v1
    # rollback to the current version is a no-op
    assert table.rollback(table.current().version).version == table.current().version


def test_rebucket_preserves_state(spark, tmp_path):
    """Bucket-count migration: state identical, new layout used by
    subsequent applies, deltas folded, conflict loses to a live writer."""
    feed = gen_feed(spark, n_convs=6, turns_per_conv=5, updates_per_key=1,
                    delete_every=6)
    feed_dir = str(tmp_path / "feed_rbk")
    write_feed_chunks(feed, feed_dir)
    table = SnapshotTable.create(
        spark, str(tmp_path / "rbk"), TRANSCRIPTS_V1, "conv_id", num_buckets=4
    )
    full = spark.read.parquet(feed_dir)
    mid = 20
    apply_changes(full.filter(full.lsn < mid), table, batch_id="b0", mode="mor")
    before = final_state(table)
    snap = table.rebucket(16)
    assert snap.num_buckets == 16
    assert not snap.deltas  # folded
    assert all(int(b) < 16 for b in snap.buckets)
    assert final_state(table) == before
    # later batches hash into the NEW layout and still converge
    apply_changes(full.filter(full.lsn >= mid), table, batch_id="b1", mode="mor")
    table.compact()
    ok, msg = table_matches_oracle(
        final_state(table), oracle_state(feed_dir, has_tool=False)
    )
    assert ok, msg
    # no-op when already at the target count
    assert table.rebucket(16).version == table.current().version


def test_numeric_widening_through_apply(spark, tmp_path):
    """Lossless numeric widening (int->long, float->double) flows through
    batch apply: the table type widens, old files read through the widened
    schema, and values beyond the narrow range round-trip exactly. The
    lossless subset of the reference's tolerated numeric coercions
    (Migrator.java:313-327)."""
    from pyspark.sql.types import (
        FloatType,
        IntegerType,
        LongType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("val", IntegerType(), True),
            StructField("x", FloatType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "t_widen"), schema, "k", num_buckets=4,
        key_columns=["k"],
    )
    b1 = spark.createDataFrame(
        [(1, "I", "a", 5, 1.5), (2, "I", "b", 6, 2.5)],
        "lsn long, op string, k string, val int, x float",
    )
    apply_changes(b1, table, batch_id="w1", mode="mor")
    big = 2**40
    b2 = spark.createDataFrame(
        [(3, "I", "c", big, 0.25)],
        "lsn long, op string, k string, val long, x double",
    )
    apply_changes(b2, table, batch_id="w2", mode="mor")
    cur = table.current().schema
    assert cur["val"].dataType == LongType()
    assert cur["x"].dataType == DoubleType()
    got = sorted((r.k, r.val, r.x) for r in table.read().collect())
    assert got == [("a", 5, 1.5), ("b", 6, 2.5), ("c", big, 0.25)]
    # compaction rewrites old int32 files through the widened schema
    table.compact()
    assert sorted((r.k, r.val, r.x) for r in table.read().collect()) == got
    # point lookup through the widened read path
    assert table.lookup({"k": "a"}).collect()[0]["val"] == 5


def test_snapshot_as_of_wall_clock(spark, tmp_path):
    """snapshot_as_of(ts): timestamp time travel resolves to the newest
    retained snapshot committed <= ts; pre-retention as-of raises."""
    feed = gen_feed(spark, n_convs=5, turns_per_conv=4, updates_per_key=1)
    table = SnapshotTable.create(
        spark, str(tmp_path / "asof"), TRANSCRIPTS_V1, "conv_id", num_buckets=4
    )
    mid = 15
    apply_changes(feed.filter(feed.lsn < mid), table, batch_id="b0", mode="mor")
    s1 = table.current()
    state_v1 = final_state(table)
    apply_changes(feed.filter(feed.lsn >= mid), table, batch_id="b1", mode="mor")
    s2 = table.current()
    assert s2.committed_at >= s1.committed_at

    # between the two commits -> the earlier snapshot; read() composes
    between = (s1.committed_at + s2.committed_at) / 2
    if between in (s1.committed_at, s2.committed_at):  # pragma: no cover
        pytest.skip("commits landed in the same clock tick")
    got = table.snapshot_as_of(between)
    assert got.version == s1.version
    assert final_state(table, snapshot=got) == state_v1
    # at/after the head commit -> the head snapshot
    assert table.snapshot_as_of(s2.committed_at).version == s2.version
    assert table.snapshot_as_of(s2.committed_at + 1e6).version == s2.version
    # before all history -> error naming the retention horizon
    with pytest.raises(ValueError, match="expire_snapshots"):
        table.snapshot_as_of(-1.0)
    # after expiry, an as-of pointing into removed history raises too
    table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError):
        table.snapshot_as_of(between)
