"""cdc/lww.lww_resolve_patch: column-level LWW for partial-update feeds.

Hand-crafted edge cases plus a Hypothesis property: the single algebraic
aggregation must equal a pure-Python sequential fold of the events in lsn
order (patches apply only to live rows, only their non-null columns).
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from orientdb_neo4j_importer_plugin_spark.cdc.lww import lww_resolve_patch

SCHEMA = "k string, lsn long, op string, a string, b string"


def _resolve(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    out = lww_resolve_patch(df, keys=["k"])
    return {
        r["k"]: (r["op"], r["a"], r["b"], r["lsn"]) for r in out.collect()
    }


def _fold(rows):
    """Sequential per-key fold in lsn order — the semantics oracle."""
    state = {}
    for r in sorted(rows, key=lambda r: r[1]):
        k, _, op, a, b = r
        if op in ("I", "U"):
            state[k] = {"alive": True, "a": a, "b": b}
        elif op == "D":
            state[k] = {"alive": False}
        elif state.get(k, {}).get("alive"):
            if a is not None:
                state[k]["a"] = a
            if b is not None:
                state[k]["b"] = b
    return {
        k: (v["a"], v["b"]) for k, v in state.items() if v.get("alive")
    }


def test_patch_merges_per_column(spark):
    got = _resolve(
        spark,
        [
            ("k1", 1, "I", "a0", "b0"),
            ("k1", 2, "P", "a1", None),  # patches a only
            ("k1", 3, "P", None, "b1"),  # patches b only
        ],
    )
    assert got["k1"] == ("I", "a1", "b1", 3)


def test_full_write_overrides_earlier_patches(spark):
    got = _resolve(
        spark,
        [
            ("k1", 1, "I", "a0", "b0"),
            ("k1", 2, "P", "ax", "bx"),
            ("k1", 3, "U", "a2", None),  # full row: b becomes NULL
        ],
    )
    assert got["k1"] == ("U", "a2", None, 3)


def test_patch_on_deleted_or_absent_key_is_ignored(spark):
    got = _resolve(
        spark,
        [
            ("k1", 1, "I", "a0", "b0"),
            ("k1", 2, "D", None, None),
            ("k1", 3, "P", "ghost", None),  # after delete: no revive
            ("k2", 1, "P", "orphan", None),  # no anchor ever: dropped
        ],
    )
    assert got["k1"][0] == "D"  # caller filters tombstones
    assert "k2" not in got


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),
            st.sampled_from(["I", "U", "D", "P"]),
            st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
            st.one_of(st.none(), st.sampled_from(["p", "q"])),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_patch_resolve_equals_sequential_fold(spark, seq):
    rows = [
        (k, lsn, op, a, b) for lsn, (k, op, a, b) in enumerate(seq)
    ]
    got = {
        k: (a, b)
        for k, (op, a, b, _) in _resolve(spark, rows).items()
        if op != "D"
    }
    assert got == _fold(rows)


def _patch_table(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField, StructType

    from orientdb_neo4j_importer_plugin_spark.lake import SnapshotTable

    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("a", StringType(), True),
            StructField("b", StringType(), True),
        ]
    )
    return SnapshotTable.create(
        spark, str(tmp_path / "pt"), schema, "k", num_buckets=4,
        key_columns=["k"],
    )


def _state(table):
    return {r["k"]: (r["a"], r["b"]) for r in table.read().collect()}


def test_apply_patch_changes_end_to_end(spark, tmp_path):
    """Patches through the table apply path: merge against current state,
    ignore patches on deleted/absent keys, ledger replay no-op, late
    patches below the stored anchor are inert."""
    from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes
    from orientdb_neo4j_importer_plugin_spark.cdc.apply import (
        apply_patch_changes,
    )

    table = _patch_table(spark, tmp_path)
    anchors = spark.createDataFrame(
        [
            ("k1", 1, "I", "a0", "b0"),
            ("k2", 2, "I", "a2", "b2"),
            ("k2", 3, "D", None, None),
        ],
        SCHEMA,
    )
    apply_changes(anchors, table, batch_id="a", mode="mor")
    patches = spark.createDataFrame(
        [
            ("k1", 10, "P", None, "b9"),   # live: apply b only
            ("k2", 11, "P", "zz", None),   # deleted: ignore
            ("k3", 12, "P", "zz", None),   # absent: ignore
        ],
        SCHEMA,
    )
    apply_patch_changes(patches, table, batch_id="p", mode="mor")
    assert _state(table) == {"k1": ("a0", "b9")}
    v = table.current().version
    res = apply_patch_changes(patches, table, batch_id="p", mode="mor")
    assert res.skipped_replay and table.current().version == v  # ledger

    late = spark.createDataFrame([("k1", 0, "P", "OLD", None)], SCHEMA)
    apply_patch_changes(late, table, batch_id="late", mode="mor")
    assert _state(table) == {"k1": ("a0", "b9")}  # below anchor: inert
    table.compact()
    assert _state(table) == {"k1": ("a0", "b9")}


def test_apply_patch_before_anchor_is_merge_semantics(spark, tmp_path):
    """A patch arriving before its base row is a documented no-op (MERGE
    whenMatched semantics) — it must not create a row, and the later
    anchor lands unpatched."""
    from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes
    from orientdb_neo4j_importer_plugin_spark.cdc.apply import (
        apply_patch_changes,
    )

    table = _patch_table(spark, tmp_path)
    early = spark.createDataFrame([("k1", 10, "P", "px", None)], SCHEMA)
    apply_patch_changes(early, table, batch_id="p0", mode="mor")
    assert _state(table) == {}
    anchor = spark.createDataFrame([("k1", 1, "I", "a0", "b0")], SCHEMA)
    apply_changes(anchor, table, batch_id="a0", mode="mor")
    assert _state(table) == {"k1": ("a0", "b0")}


def test_apply_patch_quarantine_and_filter_on_raw_events(spark, tmp_path):
    """Admission policies run on the RAW events in patch mode: poison rows
    reach the dead-letter table (not swallowed by the resolve), a patch
    row's null admission column passes the filter, and counters describe
    the raw batch."""
    from pyspark.sql import functions as F

    from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes
    from orientdb_neo4j_importer_plugin_spark.cdc.apply import (
        apply_patch_changes,
    )

    table = _patch_table(spark, tmp_path)
    apply_changes(
        spark.createDataFrame([("k1", 1, "I", "a0", "b0")], SCHEMA),
        table, batch_id="a", mode="mor",
    )
    batch = spark.createDataFrame(
        [
            ("k1", 10, "P", None, "b9"),   # good patch (null a: untouched)
            ("k1", 11, "X", "zz", None),   # poison: unknown op
            ("k1", 12, "U", "drop", "me"),  # excluded by the filter
        ],
        SCHEMA,
    )
    res = apply_patch_changes(
        batch, table, batch_id="p", mode="mor",
        event_filter=F.col("lsn") != 12, quarantine=True,
    )
    assert _state(table) == {"k1": ("a0", "b9")}
    assert (res.events_in, res.filtered_out, res.quarantined) == (1, 1, 1)
    q = table.read_quarantine().collect()
    assert len(q) == 1 and q[0]["reason"] == "bad_op"


def test_apply_patch_cross_column_out_of_order_is_exact(spark, tmp_path):
    """Exact cross-column fold (per-column versions in storage): a late
    patch to column a applies even though a HIGHER-lsn patch to column b
    was applied first — and a second delivery below a's new setter is
    superseded per column, not per row."""
    from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes
    from orientdb_neo4j_importer_plugin_spark.cdc.apply import (
        apply_patch_changes,
    )

    table = _patch_table(spark, tmp_path)
    apply_changes(
        spark.createDataFrame([("k1", 10, "I", "a0", "b0")], SCHEMA),
        table, batch_id="a", mode="mor",
    )
    apply_patch_changes(
        spark.createDataFrame([("k1", 100, "P", None, "b1")], SCHEMA),
        table, batch_id="p1", mode="mor",
    )
    assert _state(table) == {"k1": ("a0", "b1")}
    # lsn 50 > anchor 10: exact fold applies it to column a; column b keeps
    # its higher setter 100
    apply_patch_changes(
        spark.createDataFrame([("k1", 50, "P", "a5", "bx")], SCHEMA),
        table, batch_id="p2", mode="mor",
    )
    assert _state(table) == {"k1": ("a5", "b1")}
    # per-column supersession: 40 < 50 for a, but 40 > 10 would have won
    # under whole-row rules — must stay inert per column
    apply_patch_changes(
        spark.createDataFrame([("k1", 40, "P", "a4", None)], SCHEMA),
        table, batch_id="p3", mode="mor",
    )
    assert _state(table) == {"k1": ("a5", "b1")}
    table.compact()
    assert _state(table) == {"k1": ("a5", "b1")}


def test_apply_patch_late_full_write_slots_under_patches(spark, tmp_path):
    """A late full write ABOVE the anchor but BELOW applied patches becomes
    the new anchor: unpatched columns take its values, patched columns keep
    their higher setters. A late delete above the anchor kills the row even
    though a higher-lsn patch was applied first; a later full write above
    the delete revives with recorded residue applied."""
    from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes
    from orientdb_neo4j_importer_plugin_spark.cdc.apply import (
        apply_patch_changes,
    )

    table = _patch_table(spark, tmp_path)
    apply_changes(
        spark.createDataFrame([("k1", 10, "I", "a0", "b0")], SCHEMA),
        table, batch_id="a", mode="mor",
    )
    apply_patch_changes(
        spark.createDataFrame([("k1", 100, "P", None, "b1")], SCHEMA),
        table, batch_id="p1", mode="mor",
    )
    # late full write @50: new anchor; a from the write, b keeps patch@100
    apply_patch_changes(
        spark.createDataFrame([("k1", 50, "U", "a5", "b5")], SCHEMA),
        table, batch_id="u1", mode="mor",
    )
    assert _state(table) == {"k1": ("a5", "b1")}
    # late delete @70 > anchor 50: row dies (patch@100 does not revive)
    apply_patch_changes(
        spark.createDataFrame([("k1", 70, "D", None, None)], SCHEMA),
        table, batch_id="d1", mode="mor",
    )
    assert _state(table) == {}
    # full write @80 > delete 70 revives; patch residue b@100 re-applies
    apply_patch_changes(
        spark.createDataFrame([("k1", 80, "U", "a8", "b8")], SCHEMA),
        table, batch_id="u2", mode="mor",
    )
    assert _state(table) == {"k1": ("a8", "b1")}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),
            st.sampled_from(["I", "U", "D", "P", "P", "P"]),
            st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
            st.one_of(st.none(), st.sampled_from(["p", "q"])),
            st.integers(0, 2),  # batch assignment
        ),
        min_size=1,
        max_size=18,
    ),
    st.permutations([0, 1, 2]),
)
def test_apply_patch_incremental_equals_global_fold(spark, seq, order):
    """THE exactness property (per-column versions in storage): applying an
    adversarially batched and REORDERED event stream through
    apply_patch_changes lands on the same live state as the one-shot fold
    of all events in lsn order — cross-column out-of-order patches, late
    full writes, and late deletes included. Precondition (documented MERGE
    semantics): every key exists before its first patch — guaranteed here
    by a seed batch of I@0 events."""
    import tempfile

    from orientdb_neo4j_importer_plugin_spark.cdc import apply_changes
    from orientdb_neo4j_importer_plugin_spark.cdc.apply import (
        apply_patch_changes,
    )
    from orientdb_neo4j_importer_plugin_spark.lake import SnapshotTable
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("a", StringType(), True),
            StructField("b", StringType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix="patch_hyp_")
    table = SnapshotTable.create(
        spark, f"{root}/t", schema, "k", num_buckets=2, key_columns=["k"]
    )
    seed = [(k, -3 + i, "I", f"seed_a_{k}", f"seed_b_{k}")
            for i, k in enumerate(["k1", "k2", "k3"])]
    rows = [
        (k, lsn, op, a, b)
        for lsn, (k, op, a, b, _grp) in enumerate(seq, start=1)
    ]
    apply_changes(
        spark.createDataFrame(seed, SCHEMA), table, batch_id="seed", mode="mor"
    )
    for i, grp in enumerate(order):
        batch = [r for r, (_, _, _, _, g) in zip(rows, seq) if g == grp]
        if not batch:
            continue
        apply_patch_changes(
            spark.createDataFrame(batch, SCHEMA),
            table,
            batch_id=f"b{i}",
            mode="mor",
        )
    table.compact()
    got = _state(table)
    want = _fold([(k, lsn, op, a, b) for k, lsn, op, a, b in seed + rows])
    assert got == want
