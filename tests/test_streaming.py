"""Streaming CDC: checkpointed tail of a WAL directory -> lake table.

Mirrors FIXTURES.md feed_resume / feed_late_events and the reference's
job-lifecycle semantics (ONeo4jImporterJob.java:74,102).
"""

import datetime
import glob
import json
import os
import shutil
import time

import duckdb
import pytest
from pyspark.sql.types import StringType

from orientdb_neo4j_importer_plugin_spark.feedgen import gen_feed, write_feed_chunks
from orientdb_neo4j_importer_plugin_spark.functions.xxhash import spark_xxhash64
from orientdb_neo4j_importer_plugin_spark.lake import SnapshotTable
from orientdb_neo4j_importer_plugin_spark.oracle import (
    reduce_events_duckdb,
    table_matches_oracle,
)
from orientdb_neo4j_importer_plugin_spark.schema import (
    CHANGE_EVENT_V1,
    TRANSCRIPTS_V1,
)
from orientdb_neo4j_importer_plugin_spark.streaming import CdcStreamRunner

OUT_COLS = ["conv_id", "turn_idx", "role", "text", "ts"]


def final_state(table):
    return [
        tuple(r)
        for r in table.read()
        .orderBy("conv_id", "turn_idx")
        .select(*OUT_COLS)
        .collect()
    ]


def oracle_state(feed_dir):
    return [
        tuple(r)
        for r in reduce_events_duckdb(f"{feed_dir}/*.parquet", has_tool=False).fetchall()
    ]


def make_runner(spark, tmp_path, name, feed_dir, **kw):
    table_root = str(tmp_path / f"table_{name}")
    if SnapshotTable.exists(table_root):
        table = SnapshotTable.load(spark, table_root)
    else:
        table = SnapshotTable.create(
            spark, table_root, TRANSCRIPTS_V1, "conv_id", num_buckets=8
        )
    return CdcStreamRunner(
        spark,
        feed_dir,
        table,
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        event_schema=CHANGE_EVENT_V1,
        status_path=str(tmp_path / f"status_{name}.json"),
        **kw,
    )


def test_stream_end_to_end(spark, tmp_path):
    feed = gen_feed(spark, n_convs=6, turns_per_conv=8, updates_per_key=2, delete_every=6)
    feed_dir = str(tmp_path / "feed")
    write_feed_chunks(feed, feed_dir, chunk_size=64)
    runner = make_runner(spark, tmp_path, "e2e", feed_dir, max_files_per_trigger=2)
    metrics = runner.run_to_completion(timeout_sec=300)
    assert metrics.status == "FINISHED"
    assert metrics.batches >= 2  # really micro-batched
    ok, msg = table_matches_oracle(final_state(runner.table), oracle_state(feed_dir))
    assert ok, msg
    status = json.load(open(runner.status_path))
    assert status["events_in"] == feed.count()
    assert status["events_per_sec"] > 0


def test_stream_incremental_resume(spark, tmp_path):
    """New files arriving after a finished run are picked up from the same
    checkpoint; already-processed files are not reprocessed."""
    feed = gen_feed(spark, n_convs=6, turns_per_conv=8, updates_per_key=2)
    all_dir = str(tmp_path / "all")
    chunks = write_feed_chunks(feed, all_dir, chunk_size=48)
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    half = len(chunks) // 2
    for c in chunks[:half]:
        shutil.copy(c, feed_dir)

    r1 = make_runner(spark, tmp_path, "resume", feed_dir, max_files_per_trigger=1)
    m1 = r1.run_to_completion(timeout_sec=300)
    assert m1.batches > 0

    for c in chunks[half:]:
        shutil.copy(c, feed_dir)
    r2 = make_runner(spark, tmp_path, "resume", feed_dir, max_files_per_trigger=1)
    m2 = r2.run_to_completion(timeout_sec=300)
    # second run only saw the new events
    assert m2.events_in == feed.count() - m1.events_in
    ok, msg = table_matches_oracle(final_state(r2.table), oracle_state(all_dir))
    assert ok, msg
    # third run: nothing new -> zero batches with data
    r3 = make_runner(spark, tmp_path, "resume", feed_dir)
    m3 = r3.run_to_completion(timeout_sec=300)
    assert m3.events_in == 0
    ok, msg = table_matches_oracle(final_state(r3.table), oracle_state(all_dir))
    assert ok, msg


def test_stream_kill_and_resume(spark, tmp_path):
    """Stop the query mid-feed; restart from checkpoint; final state is
    identical to an uninterrupted run (exactly-once replay)."""
    feed = gen_feed(spark, n_convs=8, turns_per_conv=8, updates_per_key=3, delete_every=9)
    feed_dir = str(tmp_path / "feed_kill")
    write_feed_chunks(feed, feed_dir, chunk_size=32)

    runner = make_runner(spark, tmp_path, "kill", feed_dir, max_files_per_trigger=1)
    q = runner.start(available_now=True)
    deadline = time.time() + 120
    while time.time() < deadline:
        if runner.metrics.batches >= 2:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    assert runner.metrics.batches < 20  # actually interrupted mid-feed

    resumed = make_runner(spark, tmp_path, "kill", feed_dir, max_files_per_trigger=1)
    resumed.run_to_completion(timeout_sec=300)
    ok, msg = table_matches_oracle(final_state(resumed.table), oracle_state(feed_dir))
    assert ok, msg
    # ledger contains each stream batch exactly once
    ledger = resumed.table.current().ledger
    assert len(ledger) == len(set(ledger))


def test_stream_late_event_policy(spark, tmp_path):
    """With a late-drop policy, events older than hwm - delay are dropped,
    deterministically and replayably (FIXTURES feed_late_events)."""
    feed = gen_feed(spark, n_convs=4, turns_per_conv=6)
    feed_dir = str(tmp_path / "feed_late")
    write_feed_chunks(feed, feed_dir, chunk_size=1000)

    r1 = make_runner(
        spark, tmp_path, "late", feed_dir, late_drop_delay_seconds=10
    )
    r1.run_to_completion(timeout_sec=300)
    before = final_state(r1.table)

    # a late update: lsn above everything, but event-time far in the past
    late = spark.createDataFrame(
        [
            (
                10_000,  # lsn
                "U",  # op
                0,  # source_part
                "conv_000000",
                0,
                "user",
                "SHOULD BE DROPPED",
                datetime.datetime(2020, 1, 1),
            )
        ],
        CHANGE_EVENT_V1,
    )
    late_dir = str(tmp_path / "late_chunk")
    late.coalesce(1).write.parquet(late_dir)
    for f in os.listdir(late_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(late_dir, f), os.path.join(feed_dir, "chunk-zzz.parquet"))

    r2 = make_runner(
        spark, tmp_path, "late", feed_dir, late_drop_delay_seconds=10
    )
    m2 = r2.run_to_completion(timeout_sec=300)
    assert m2.late_dropped == 1
    assert final_state(r2.table) == before  # late event had no effect


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Optional state-store dedup path (north-star wording: watermark +
    dropDuplicates): a duplicate-heavy feed converges identically with the
    pre-shuffle dedup enabled."""
    feed = gen_feed(spark, n_convs=4, turns_per_conv=6, updates_per_key=1, duplicate=True)
    feed_dir = str(tmp_path / "feed_wm")
    write_feed_chunks(feed, feed_dir, chunk_size=48)
    runner = make_runner(
        spark,
        tmp_path,
        "wm",
        feed_dir,
        max_files_per_trigger=2,
        stream_dedup_watermark="1 hour",
    )
    m = runner.run_to_completion(timeout_sec=300)
    assert m.batches >= 1
    ok, msg = table_matches_oracle(final_state(runner.table), oracle_state(feed_dir))
    assert ok, msg


def test_stream_quarantine_poison_records(spark, tmp_path):
    """Poison events in a micro-batch divert to the dead-letter table and
    the stream keeps running (reference: per-record error isolation,
    Migrator:274-283,585-594)."""
    feed = gen_feed(spark, n_convs=4, turns_per_conv=6, updates_per_key=1)
    feed_dir = str(tmp_path / "feed_q")
    write_feed_chunks(feed, feed_dir, chunk_size=48)
    ts = datetime.datetime(2024, 1, 1, 10, 0, 0)
    poison = spark.createDataFrame(
        [
            (9_000_001, "X", "conv_q", 0, "user", "bad op", ts, 0),
            (None, "I", "conv_q", 1, "user", "null lsn", ts, 0),
        ],
        "lsn long, op string, conv_id string, turn_idx int, role string, text string, ts timestamp, source_part int",
    )
    pdir = str(tmp_path / "poison_chunk")
    poison.coalesce(1).write.parquet(pdir)
    for f in os.listdir(pdir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(pdir, f), os.path.join(feed_dir, "chunk-poison.parquet"))

    runner = make_runner(spark, tmp_path, "quar", feed_dir, quarantine=True)
    m = runner.run_to_completion(timeout_sec=300)
    assert m.quarantined == 2
    q = runner.table.read_quarantine()
    assert {r.reason for r in q.collect()} == {"bad_op", "null_lsn"}
    # good rows still match the oracle (poison rows never reach the table);
    # the oracle reads only the well-formed chunks
    oracle = [
        tuple(r)
        for r in reduce_events_duckdb(
            f"{feed_dir}/chunk-0*.parquet", has_tool=False
        ).fetchall()
    ]
    ok, msg = table_matches_oracle(final_state(runner.table), oracle)
    assert ok, msg
    status = json.load(open(runner.status_path))
    assert status["quarantined"] == 2


def _source_batches(ckpt_dir):
    """Micro-batch id -> the files it read, from the file source's
    metadata log in the checkpoint (compacted log files repeat entries)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt_dir, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    path = e["path"].removeprefix("file://")
                    out.setdefault(int(e["batchId"]), set()).add(path)
    return out


COUNTERS = ("events_in", "keys_changed", "deletes", "upserts", "lsn_range",
            "touched_buckets", "event_ts_max", "filtered_out", "quarantined")


def _duckdb_counters(batches, num_buckets, delay=None, quarantine=False):
    """Per micro-batch lineage counters, recomputed in DuckDB from the
    batch's files alone: the late-drop cutoff follows the cumulative
    event-time watermark of the admitted rows of earlier batches, poison
    rows are set aside like the engine's quarantine, and touched buckets
    come from the driver-side xxhash64 of each admitted conv_id."""
    con = duckdb.connect()
    hwm, out = None, {}
    for b in sorted(batches):
        files = sorted(batches[b])
        flt = (
            "TRUE" if delay is None or hwm is None
            else f"(ts IS NULL OR ts >= TIMESTAMP '{hwm}' - INTERVAL {delay} SECOND)"
        )
        poison = (
            "(lsn IS NULL OR op IS NULL OR op NOT IN ('I', 'U', 'D') "
            "OR conv_id IS NULL OR turn_idx IS NULL)" if quarantine else "FALSE"
        )
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW ev AS SELECT lsn, op, conv_id, "
            f"turn_idx, ts::TIMESTAMP AS ts, {flt} AS flt, {poison} AS poison "
            f"FROM read_parquet({files!r}, union_by_name=true)"
        )
        con.execute("CREATE OR REPLACE TEMP VIEW adm AS "
                    "SELECT * FROM ev WHERE flt AND NOT poison")
        n, lo, hi, tmax = con.execute(
            "SELECT count(*), min(lsn), max(lsn), max(ts) FROM adm").fetchone()
        filtered, quar = con.execute(
            "SELECT count(*) FILTER (WHERE NOT flt), "
            "count(*) FILTER (WHERE flt AND poison) FROM ev").fetchone()
        k, d = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE op = 'D') FROM "
            "(SELECT arg_max(op, lsn) AS op FROM adm GROUP BY conv_id, turn_idx)"
        ).fetchone()
        convs = [r[0] for r in con.execute("SELECT DISTINCT conv_id FROM adm").fetchall()]
        exp = {"events_in": n}
        if n:
            hwm = max(x for x in (hwm, tmax) if x is not None)
            exp.update(
                keys_changed=k, deletes=d, upserts=k - d, lsn_range=[lo, hi],
                touched_buckets=sorted(
                    {spark_xxhash64(c, StringType()) % num_buckets for c in convs}
                ),
                event_ts_max=str(hwm),
            )
        if filtered:
            exp["filtered_out"] = filtered
        if quar:
            exp["quarantined"] = quar
        out[b] = {c: exp.get(c) for c in COUNTERS}
    return out


@pytest.mark.parametrize("admission", [False, True], ids=["plain", "late_quarantine"])
def test_stream_mor_lineage_counters_match_duckdb(spark, tmp_path, admission):
    """Every MOR micro-batch's lineage counters (summed by an Observation
    on the delta write inside foreachBatch) equal the same counters
    recomputed in DuckDB from the files the checkpoint says the batch
    read. The admission variant adds a late-drop policy and quarantine: a
    second run over the same checkpoint meets a late event and poison rows,
    one of them carrying a far-future timestamp that must not reach the
    committed watermark (event_ts_max)."""
    feed = gen_feed(spark, n_convs=6, turns_per_conv=8, updates_per_key=2,
                    delete_every=5, duplicate=True)
    feed_dir = str(tmp_path / "feed_cnt")
    write_feed_chunks(feed, feed_dir, chunk_size=40)
    kw = dict(late_drop_delay_seconds=10, quarantine=True) if admission else {}
    runner = make_runner(spark, tmp_path, "cnt", feed_dir, mode="mor",
                         max_files_per_trigger=2, **kw)
    runner.run_to_completion(timeout_sec=300)
    if admission:
        late_ts = datetime.datetime(2020, 1, 1)
        extra = spark.createDataFrame(
            [
                (10_000, "U", "conv_000000", 0, "user", "late", late_ts, 0),
                (10_001, "U", "conv_000001", 1, "user", "fresh", None, 0),
                (9_000_001, "X", "conv_q", 0, "user", "bad op",
                 datetime.datetime(2099, 1, 1), 0),
                (None, "I", "conv_q", 1, "user", "null lsn", None, 0),
            ],
            "lsn long, op string, conv_id string, turn_idx int, role string, "
            "text string, ts timestamp, source_part int",
        )
        xdir = str(tmp_path / "extra_chunk")
        extra.coalesce(1).write.parquet(xdir)
        for f in os.listdir(xdir):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(xdir, f),
                            os.path.join(feed_dir, "chunk-zzz.parquet"))
        runner = make_runner(spark, tmp_path, "cnt", feed_dir, mode="mor",
                             max_files_per_trigger=2, **kw)
        runner.run_to_completion(timeout_sec=300)
    else:
        ok, msg = table_matches_oracle(final_state(runner.table), oracle_state(feed_dir))
        assert ok, msg

    batches = _source_batches(str(tmp_path / "ckpt_cnt"))
    assert len(batches) >= 2
    lineage = {
        int(e["batch_id"].rsplit("-", 1)[1]): e
        for e in runner.table.current().lineage
        if str(e.get("batch_id", "")).startswith(runner.batch_id_prefix + "-")
    }
    assert sorted(lineage) == sorted(batches)
    expected = _duckdb_counters(
        batches, runner.table.current().num_buckets,
        delay=10 if admission else None, quarantine=admission,
    )
    got = {b: {c: e.get(c) for c in COUNTERS} for b, e in lineage.items()}
    assert got == expected
    if admission:
        assert sum(e["filtered_out"] or 0 for e in expected.values()) >= 1
        assert sum(e["quarantined"] or 0 for e in expected.values()) == 2


def test_stream_with_patch_events(spark, tmp_path):
    """allow_patches=True: op='P' partial updates stream through the
    exactly-once micro-batch path; anchors arrive in earlier files, the
    patch file later (maxFilesPerTrigger=1 forces separate batches), and
    the final state equals the sequential fold."""
    import datetime

    from pyspark.sql import Row

    base_ts = datetime.datetime(2024, 1, 1)
    anchors = [
        Row(lsn=1, op="I", source_part=0, conv_id="c1", turn_idx=0,
            role="user", text="t0", ts=base_ts),
        Row(lsn=2, op="I", source_part=0, conv_id="c2", turn_idx=0,
            role="user", text="t2", ts=base_ts),
        Row(lsn=3, op="D", source_part=0, conv_id="c2", turn_idx=0,
            role=None, text=None, ts=base_ts),
    ]
    patches = [
        Row(lsn=10, op="P", source_part=0, conv_id="c1", turn_idx=0,
            role=None, text="patched", ts=None),       # applies
        Row(lsn=11, op="P", source_part=0, conv_id="c2", turn_idx=0,
            role=None, text="ghost", ts=None),         # deleted: ignored
        Row(lsn=12, op="P", source_part=0, conv_id="c9", turn_idx=0,
            role=None, text="orphan", ts=None),        # absent: ignored
    ]
    feed_dir = str(tmp_path / "pfeed")
    os.makedirs(feed_dir)
    spark.createDataFrame(anchors, CHANGE_EVENT_V1).coalesce(1).write.parquet(
        feed_dir + "/c_000"
    )
    spark.createDataFrame(patches, CHANGE_EVENT_V1).coalesce(1).write.parquet(
        feed_dir + "/c_001"
    )
    # file-source ordering: the two chunk DIRS stream as separate batches
    runner = make_runner(
        spark, tmp_path, "patch",
        feed_dir + "/c_00*",
        max_files_per_trigger=1, allow_patches=True, mode="mor",
    )
    m = runner.run_to_completion(timeout_sec=300)
    assert m.status == "FINISHED"
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
        for r in runner.table.read().collect()
    }
    assert got == {("c1", 0): ("user", "patched")}


def test_stream_restart_with_widened_schema(spark, tmp_path):
    """A feed whose numeric column widened (int -> long) between deploys:
    the restarted stream evolves the table type losslessly and pre-widening
    rows stay readable — no SchemaEvolutionError, no reload."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    payload_v1 = StructType(
        [
            StructField("conv_id", StringType(), False),
            StructField("turn_idx", IntegerType(), False),
            StructField("score", IntegerType(), True),
            StructField("ts", TimestampType(), True),
        ]
    )
    payload_v2 = StructType(
        [f if f.name != "score" else StructField("score", LongType(), True)
         for f in payload_v1.fields]
    )
    from orientdb_neo4j_importer_plugin_spark.schema import change_event_schema

    ts = datetime.datetime(2024, 1, 1)
    feed_dir = str(tmp_path / "wfeed")
    os.makedirs(feed_dir)
    spark.createDataFrame(
        [(i, "I", 0, f"c{i}", 0, i * 10, ts) for i in range(4)],
        change_event_schema(payload_v1),
    ).coalesce(1).write.parquet(feed_dir + "/chunk-000")

    table = SnapshotTable.create(
        spark, str(tmp_path / "t_widen_stream"), payload_v1, "conv_id",
        num_buckets=4,
    )
    r1 = CdcStreamRunner(
        spark, feed_dir + "/chunk-000", table,
        checkpoint_dir=str(tmp_path / "ck_w1"),
        event_schema=change_event_schema(payload_v1),
        status_path=str(tmp_path / "st_w1.json"),
    )
    m1 = r1.run_to_completion(timeout_sec=300)
    assert m1.status == "FINISHED" and m1.events_in == 4

    big = 2**40
    spark.createDataFrame(
        [(100, "I", 0, "c_big", 0, big, ts)],
        change_event_schema(payload_v2),
    ).coalesce(1).write.parquet(feed_dir + "/chunk-001")
    r2 = CdcStreamRunner(
        spark, feed_dir + "/chunk-001", table,
        checkpoint_dir=str(tmp_path / "ck_w2"),
        event_schema=change_event_schema(payload_v2),
        status_path=str(tmp_path / "st_w2.json"),
    )
    m2 = r2.run_to_completion(timeout_sec=300)
    assert m2.status == "FINISHED" and m2.events_in == 1
    from pyspark.sql.types import LongType as _LT

    assert table.current().schema["score"].dataType == _LT()
    got = sorted((r.conv_id, r.score) for r in table.read().collect())
    assert got == [("c0", 0), ("c1", 10), ("c2", 20), ("c3", 30), ("c_big", big)]
