"""Apply one batch of change events to the lake table (the MERGE).

This is the engine's core operator — the Spark-first re-expression of the
reference's write loop (``addVertexToGraph`` + per-1000-records transactional
commit, ``ONeo4jImporterVerticesAndEdgesMigrator.java:268-272,698-723``):

    dedup -> LWW resolve -> copy-on-write bucket MERGE -> atomic snapshot

Equivalent Iceberg SQL (what this compiles to when a real Iceberg catalog is
attached)::

    MERGE INTO transcripts t
    USING winners s
      ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND s.op = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *

Scale design:

* The MERGE reads ONLY the buckets containing changed keys
  (metadata-pruned, like Iceberg partition pruning + file skipping).
* The COW rewrite is ONE bucket-keyed shuffle of (existing ∪ winners) with an
  in-partition LWW argmax — no join at all. The rewrite must move the touched
  buckets' bytes once anyway (they are being rewritten); the aggregate rides
  that same exchange, so the merge adds zero extra passes over the table
  (round 6; previously an anti-join + semi-join evaluated the bucket scan
  twice and shuffled both sides per join).
* LWW is an algebraic aggregate (map-side combinable), so a hot conversation
  never concentrates on one reducer (see ``lww.py``).
* Everything stays JVM-side whole-stage-codegen; zero Python row functions.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..lake.table import (
    BUCKET_COL,
    COL_LSNS_COL,
    DELETED_COL,
    LSN_COL,
    SnapshotTable,
    bucket_expr,
)
from ..schema import CDC_META_COLUMNS
from .lww import lww_resolve_with_stats

def poison_reason_expr(
    events_schema: StructType,
    target: StructType,
    keys: list[str],
    allowed_ops: tuple[str, ...] = ("I", "U", "D"),
) -> Column:
    """NULL for well-formed events, else a reason label — the per-record
    error-isolation predicate (reference: catch-per-record, log, continue,
    ``ONeo4jImporterVerticesAndEdgesMigrator.java:274-283,585-594``).

    Poison classes: null lsn, unknown/null op (outside `allowed_ops` —
    patch-admitting callers extend it with 'P'), null key column, and (for
    non-deletes) a payload value the target type can't represent
    (``try_cast`` null while the source value is non-null).
    """
    in_types = {f.name: f.dataType for f in events_schema.fields}
    checks: list[tuple[Column, str]] = [
        (F.col("lsn").isNull(), "null_lsn"),
        (F.col("op").isNull() | ~F.col("op").isin(*allowed_ops), "bad_op"),
    ]
    for k in keys:
        if k in in_types:
            checks.append((F.col(k).isNull(), f"null_key:{k}"))
    for f in target.fields:
        it = in_types.get(f.name)
        if it is not None and it != f.dataType:
            # KEY columns must cast for deletes too: a tombstone whose key
            # nulls out targets a row that can never exist (and a null
            # partition key would route to a null bucket directory)
            gate = F.lit(True) if f.name in keys else (F.col("op") != "D")
            checks.append(
                (
                    gate
                    & F.col(f.name).isNotNull()
                    & F.col(f.name).try_cast(f.dataType).isNull(),
                    f"uncastable:{f.name}",
                )
            )
    reason = F.lit(None).cast("string")
    for cond, label in reversed(checks):
        reason = F.when(cond, F.lit(label)).otherwise(reason)
    return reason


def _jsonable(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    return v


@dataclass
class ApplyResult:
    """Counters — the reference's running-statistics analogue
    (``ONeo4jImporterStatistics.java:30-63``)."""

    batch_id: str | None
    skipped_replay: bool = False
    events_in: int = 0
    keys_changed: int = 0
    deletes: int = 0
    upserts: int = 0
    touched_buckets: int = 0
    snapshot_version: int | None = None
    lsn_min: int | None = None
    lsn_max: int | None = None
    filtered_out: int = 0  # rows failing event_filter (e.g. late policy)
    quarantined: int = 0  # poison rows diverted to the quarantine table
    extra: dict = field(default_factory=dict)  # extra_lineage_stats results


def apply_changes(
    events: DataFrame,
    table: SnapshotTable,
    batch_id: str | None = None,
    evolve_schema: bool = True,
    lineage_extra: dict | None = None,
    mode: str = "cow",
    collect_stats: bool = True,
    event_filter: Column | None = None,
    quarantine: bool = False,
    extra_lineage_stats: dict[str, Column] | None = None,
) -> ApplyResult:
    """Merge a (possibly huge) batch of change events into `table`.

    `events` columns: lsn, op, source_part, + payload columns (key columns
    non-null; payload nullable, null for deletes). Idempotent per `batch_id`:
    a replayed batch is a committed no-op (exactly-once ledger).

    mode:
      * "cow" (copy-on-write): rewrite touched buckets — fastest reads,
        write cost O(touched buckets). Right when batches are large or
        concentrated.
      * "mor" (merge-on-read): append winner rows as delta files — write
        cost O(batch) regardless of table size; readers LWW-merge
        base ∪ deltas until table.compact() folds them in. Right for
        high-frequency small batches (the 10^10-events/day regime); pair
        with periodic compaction (streaming runner's compact_every).

    Batch counters (events_in, lsn range, keys/deletes/upserts, touched
    buckets, event-time max) ride the LWW aggregate as per-key stats. In
    mode="mor" they are summed by an Observation on the delta write itself,
    so the apply is the LWW aggregate plus the write and nothing else; COW
    collects them from the persisted winners first, because the rewrite
    must know its touched buckets before it reads them.

    event_filter (optional) excludes rows from the merge as *policy* (e.g.
    late-data drop); they are counted in res.filtered_out. quarantine=True
    diverts poison rows (see poison_reason_expr) to the table's quarantine
    side table with a reason column instead of failing the batch — the
    reference's per-record error isolation (``Migrator:274-283,585-594``);
    counted in res.quarantined. Both need one aggregate job over the raw
    batch, which also evaluates extra_lineage_stats (caller aggregate
    expressions, recorded in lineage + res.extra).

    collect_stats has no effect; it is kept so existing callers still bind.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    res = ApplyResult(batch_id=batch_id)
    if batch_id is not None and table.is_batch_committed(batch_id):
        res.skipped_replay = True
        res.snapshot_version = table.current().version
        return res

    snap = table.current()
    key = snap.partition_key
    nb = snap.num_buckets
    keys = snap.keys  # full PK from table metadata, not a global

    # --- schema evolution: reconcile BEFORE the merge (SURVEY §7.3) --------
    incoming_payload = StructType(
        [
            StructField(f.name, f.dataType, f.name not in keys)
            for f in events.schema.fields
            # __col_lsns is row metadata from the patch resolve, never payload
            if f.name not in CDC_META_COLUMNS and f.name != COL_LSNS_COL
        ]
    )
    schema = table.evolve_schema(incoming_payload) if evolve_schema else snap.schema
    payload_cols = [f.name for f in schema.fields]
    # route on the key cast to the TABLE's key type: xxhash64 is
    # width-sensitive, so a batch carrying a wider-but-castable key type
    # (upstream int->long drift) must hash at the storage type or its rows
    # land in buckets no reader probes (no-op cast when types match)
    pk_t = next(f.dataType for f in schema.fields if f.name == key)

    # --- admission predicates: policy filter first, then poison check ------
    flt = F.coalesce(event_filter, F.lit(False)) if event_filter is not None else F.lit(True)
    reason = (
        poison_reason_expr(events.schema, schema, keys) if quarantine else None
    )
    keep = flt & reason.isNull() if reason is not None else flt
    extra_stats = extra_lineage_stats or {}
    admission = event_filter is not None or reason is not None or bool(extra_stats)

    # --- raw-batch stats: only admission predicates and caller extras need
    # a pass over the raw batch (filtered/quarantined counts, extras); ONE
    # job, which also answers whether anything is left to merge -----------
    if admission:
        agg = events.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((~flt).cast("long")).alias("n_filtered"),
            F.sum((flt & reason.isNotNull()).cast("long")).alias("n_quar")
            if reason is not None
            else F.lit(0).alias("n_quar"),
            *[e.alias(f"__x_{n}") for n, e in extra_stats.items()],
        ).collect()[0]
        res.filtered_out = agg["n_filtered"] or 0
        res.quarantined = agg["n_quar"] or 0
        res.events_in = agg["n_total"] - res.filtered_out - res.quarantined
        res.extra = {n: _jsonable(agg[f"__x_{n}"]) for n in extra_stats}

    # --- quarantine write: poison rows become queryable, the batch commits -
    if res.quarantined:
        table.quarantine_append(
            events.filter(flt & reason.isNotNull()).select(
                F.lit(str(batch_id)).alias("batch_id"),
                reason.alias("reason"),
                F.col("lsn").try_cast("long").alias("lsn"),
                F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias(
                    "event_json"
                ),
            ),
            batch_id=batch_id,  # per-batch overwrite: idempotent on retries
        )
    if event_filter is not None or reason is not None:
        events = events.filter(keep)

    lineage = {
        **{n: _jsonable(v) for n, v in res.extra.items()},
        **(lineage_extra or {}),
    }
    if res.filtered_out:
        lineage["filtered_out"] = res.filtered_out
    if res.quarantined:
        lineage["quarantined"] = res.quarantined

    # --- dedup + LWW: one algebraic aggregate does both --------------------
    # Duplicate deliveries (same lsn, same row) collapse in the same max()
    # that resolves the winner — no separate dropDuplicates pass. Per-key
    # stats ride the same map-side-combinable shuffle; the globals below
    # sum them over the (few) winner rows, never over the raw batch.
    has_ts = "ts" in events.columns
    winners = lww_resolve_with_stats(
        events, keys=keys, ts_col="ts" if has_ts else None
    ).withColumn(BUCKET_COL, bucket_expr(key, nb, pk_t))
    stats = [
        F.coalesce(F.sum("__n_events"), F.lit(0)).alias("n"),
        F.min("__lsn_min").alias("lo"),
        F.max("lsn").alias("hi"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("d"),
        F.collect_set(F.col(BUCKET_COL)).alias("buckets"),
        *([F.max("__ts_max").alias("tmax")] if has_ts else []),
    ]

    def _cumulative_hwm(batch_max):
        # CUMULATIVE event-time high watermark: carrying forward the last
        # committed value keeps the watermark monotone even after the entry
        # that held the true max rolls out of the bounded lineage window
        prev_hwm = next(
            (
                e["event_ts_max"]
                for e in reversed(snap.lineage)
                if e.get("event_ts_max") is not None
            ),
            None,
        )
        cur_hwm = _jsonable(batch_max) if batch_max is not None else None
        return max((x for x in (prev_hwm, cur_hwm) if x is not None), default=None)

    def counters(g) -> dict:
        """Lineage counters from one row of `stats`."""
        if not g["n"]:
            return {"events_in": 0}
        k, dl = g["k"], g["d"] or 0
        out = {
            "events_in": int(g["n"]),
            "lsn_range": [g["lo"], g["hi"]],
            "keys_changed": k,
            "deletes": dl,
            "upserts": k - dl,
            "touched_buckets": sorted(g["buckets"]),
        }
        if has_ts:
            # over admitted rows only: a quarantined row's corrupt future
            # timestamp must never advance the committed watermark (it
            # would late-drop all good events)
            hwm = _cumulative_hwm(g["tmax"])
            if hwm is not None:
                out["event_ts_max"] = hwm
        return out

    # --- incoming winners as storage rows: payload + __lsn + __deleted. ----
    # Deletes become tombstones so that a later-arriving batch with lower
    # lsns for the same key cannot resurrect the row (out-of-order apply).
    types = {f.name: f.dataType for f in schema.fields}

    def to_storage(df: DataFrame) -> DataFrame:
        meta = [
            F.col("lsn").alias(LSN_COL),
            (F.col("op") == "D").alias(DELETED_COL),
        ]
        if COL_LSNS_COL in df.columns:  # patch resolve: persist the vector
            meta.append(F.col(COL_LSNS_COL))
        return df.select(
            *[
                F.col(c).cast(types[c]).alias(c)
                for c in payload_cols
                if c in df.columns
            ],
            *meta,
            F.col(BUCKET_COL),
        )

    def empty_commit() -> ApplyResult:
        # empty-feed no-op (reference: shouldImportEmptyDb) — still ledger the
        # batch id so a replayed empty batch stays a no-op.
        new = table.commit_bucket_rewrite(
            table.spark.createDataFrame(
                [],
                StructType(schema.fields + [StructField(BUCKET_COL, IntegerType(), True)]),
            ),
            touched_buckets=[],
            batch_id=batch_id,
            new_schema=schema,
            lineage={**lineage, "events_in": 0},
        )
        res.events_in = 0
        res.snapshot_version = new.version
        return res

    if res.events_in == 0 and admission:
        return empty_commit()

    if mode == "mor":
        # counters ride the WRITE job via an Observation — no extra driver
        # action; deferred into the commit's metadata build, which runs
        # after the data write (metrics ready) and lands them in lineage
        # atomically with the snapshot (multi-writer safe). The write runs
        # in the winners' own session, which is where the Observation
        # completes (a foreachBatch batch lives in a cloned session).
        obs = Observation()

        def lineage_fn() -> dict:
            # an EMPTY metrics row means Spark pruned the observed branch as
            # provably empty (AQE empty-relation propagation): no events.
            # Observation.get fails on that row, so fetch it once and convert
            # it the way Observation.get does (pyspark 4.1.2 internals).
            jrow = obs._jo.getRow()
            if not jrow.length():
                return counters({"n": 0})
            utils = getattr(obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
            return counters(CPickleSerializer().loads(utils.toPyRow(jrow)))

        new_snap = table.commit_delta_append(
            to_storage(winners.observe(obs, *stats)),
            touched_buckets=[],
            batch_id=batch_id,
            new_schema=schema,
            lineage=lineage,
            lineage_fn=lineage_fn,
            base_snapshot=snap,  # bucket ids derive from snap's layout
        )
    else:
        winners = winners.persist()
        try:
            lineage.update(counters(winners.agg(*stats).collect()[0]))
            if lineage["events_in"] == 0:
                return empty_commit()
            touched = lineage["touched_buckets"]
            # read and rewrite from the SAME snapshot, and tell the commit
            # which one: conflict validation must cover the window between
            # this read and the commit (a concurrent delta landing in a
            # touched bucket would otherwise be silently folded away)
            base_snap = table.current()
            if base_snap.num_buckets != nb:
                # a rebucket landed after this apply captured the layout;
                # the winners' bucket ids are stale — caller recomputes
                from ..lake import CommitConflictError

                raise CommitConflictError(
                    f"table was rebucketed ({nb} -> {base_snap.num_buckets}) "
                    "during apply; re-run the batch"
                )
            existing = table.read_buckets(
                touched, snapshot=base_snap, raw=True
            ).withColumn(BUCKET_COL, bucket_expr(key, nb, pk_t))
            # ONE bucket-keyed shuffle + in-partition argmax replaces the
            # previous anti-join + semi-join + union (round 6): the joins
            # evaluated the touched-bucket scan TWICE and shuffled both
            # sides per join, and the rewrite then repartitioned the result
            # by bucket anyway. Per key the argmax over (existing ∪ batch
            # winners) is exactly survivors ∪ resolved: an untouched key's
            # only row is its existing row; a contested key resolves by the
            # same max(struct(__lsn, ...)) LWW. HashPartitioning(bucket)
            # clusters the primary key (bucket is a function of the
            # partition key), so the aggregate runs without a further
            # exchange, and the write still lands one file per bucket dir.
            unioned = existing.unionByName(to_storage(winners), allowMissingColumns=True)
            unioned = unioned.repartition(
                max(len(touched), 1), F.col(BUCKET_COL)
            )
            rest = [
                c
                for c in unioned.columns
                if c not in keys and c not in (LSN_COL, BUCKET_COL)
            ]
            w = F.max(
                F.struct(F.col(LSN_COL), *[F.col(c) for c in rest])
            ).alias("__w")
            new_data = (
                unioned.groupBy(F.col(BUCKET_COL), *keys)
                .agg(w)
                .select(
                    *keys,
                    F.col(f"__w.{LSN_COL}").alias(LSN_COL),
                    *[F.col(f"__w.{c}").alias(c) for c in rest],
                    F.col(BUCKET_COL),
                )
            )
            new_snap = table.commit_bucket_rewrite(
                new_data,
                touched_buckets=touched,
                batch_id=batch_id,
                new_schema=schema,
                lineage=lineage,
                base_snapshot=base_snap,
            )
        finally:
            winners.unpersist()
    # counters come back through committed lineage (works even when a
    # concurrent writer committed the same batch_id first — their entry
    # carries the same winners); never block on obs.get here: on a replay
    # no-op the write job may not have run at all
    last = new_snap.lineage[-1] if new_snap.lineage else {}
    if last.get("batch_id") == batch_id and "events_in" in last:
        res.events_in = last["events_in"]
        res.lsn_min, res.lsn_max = last.get("lsn_range", [None, None])
        res.keys_changed = last.get("keys_changed", 0)
        res.deletes = last.get("deletes", 0)
        res.upserts = last.get("upserts", 0)
        res.touched_buckets = len(last["touched_buckets"])
    else:
        # the committed entry is another writer's: counts unknown (-1),
        # except events_in when the raw-batch admission job measured it
        res.keys_changed = res.deletes = res.upserts = -1
        if not admission:
            res.events_in = -1
    res.snapshot_version = new_snap.version
    return res


def apply_patch_changes(
    events: DataFrame,
    table: SnapshotTable,
    batch_id: str | None = None,
    mode: str = "mor",
    event_filter: Column | None = None,
    quarantine: bool = False,
    **apply_kwargs,
):
    """`apply_changes` for feeds carrying PARTIAL updates (op='P', null
    payload columns mean "untouched" — see ``cdc/lww.lww_resolve_patch``).

    A patch must merge against the CURRENT live row of its key, so this
    wrapper (1) runs the admission policies (event_filter, quarantine) on
    the RAW events — a patch row's null ts passes a late-data filter, and
    poison rows land in the dead-letter table instead of vanishing inside
    the resolve, (2) bucket-prune-reads the table state of exactly the
    patch-affected keys, (3) turns live rows into anchor events at their
    stored lsn, (4) resolves admitted events with ``lww_resolve_patch``
    over anchors ∪ batch, and (5) hands the resulting SELF-CONTAINED
    I/U/D rows to the ordinary ``apply_changes`` — storage rows remain
    whole (MOR readers keep the plain row-level LWW fold; no reader
    change), with the ledger / lineage / schema-evolution machinery
    reused untouched, including exactly-once replay of the batch_id.
    The returned counters (events_in / filtered_out / quarantined)
    describe the RAW batch, not the resolved upsert set; the lineage
    lsn_range describes the rows actually applied (a re-emitted stored
    anchor can therefore carry a pre-batch lsn into the range's minimum).

    SEMANTICS (exact event-fold): storage rows of patch tables carry a
    per-column version vector (``__col_lsns``: anchor lsn + per-column
    setter lsns, null when the whole row sits at one lsn), so the merge
    equals the exact fold of ALL events seen so far regardless of
    cross-batch ordering — a late patch to column A applies even after a
    later patch to column B was already applied, a late full write slots
    under surviving patches per column, and a late delete above the true
    anchor kills the row even when a higher-lsn patch was applied first
    (see cdc/lww._resolve_patch_exact for the sufficiency argument).
    Unchanged keys are not rewritten. A patch on a deleted key records
    residue on the tombstone (no revive until a real I/U above the
    delete); a patch on an ABSENT key writes nothing — the one remaining
    deviation from the pure event-fold (MERGE whenMatched semantics,
    pinned in test_patch_lww).

    Cost over plain apply: ONE detection/stats aggregate over the
    (persisted) batch; patch-free batches then take the plain
    ``apply_changes`` path with no extra transformation, and patch
    batches add the bucket-pruned state read + the resolve —
    O(batch + touched buckets).
    """
    from .lww import lww_resolve_patch

    snap = table.current()
    if batch_id is not None and table.is_batch_committed(batch_id):
        return apply_changes(
            events, table, batch_id=batch_id, mode=mode, **apply_kwargs
        )  # ledger no-op, same ApplyResult shape
    keys = list(snap.keys)
    key, nb = snap.partition_key, snap.num_buckets
    # patches never evolve the key type; still route at the storage type so
    # a wider-typed patch feed prunes/reads the buckets readers actually use
    pk_t = next(f.dataType for f in snap.schema.fields if f.name == key)
    # once a table has patch history, EVERY batch must merge through the
    # exact resolve: stored rows carry storage-ordering tokens above their
    # true event lsns, so a plain row-level LWW would wrongly drop a late
    # full write that the per-column fold accepts (tables with
    # patch_cols are written via apply_patch_changes by contract)
    table_exact = snap.patch_cols
    events = events.persist()
    try:
        # --- admission on RAW events + patch detection: ONE aggregate ----
        flt = (
            F.coalesce(event_filter, F.lit(False))
            if event_filter is not None
            else F.lit(True)
        )
        reason = (
            poison_reason_expr(
                events.schema, snap.schema, keys,
                allowed_ops=("I", "U", "D", "P"),
            )
            if quarantine
            else None
        )
        keep = flt & (reason.isNull() if reason is not None else F.lit(True))
        agg = events.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((~flt).cast("long")).alias("n_filtered"),
            (
                F.sum((flt & reason.isNotNull()).cast("long"))
                if reason is not None
                else F.lit(0)
            ).alias("n_quar"),
            F.collect_set(
                F.when(
                    keep if table_exact else (keep & (F.col("op") == "P")),
                    bucket_expr(key, nb, pk_t),
                )
            ).alias("pbuckets"),
        ).collect()[0]
        n_filtered = int(agg["n_filtered"] or 0)
        n_quar = int(agg["n_quar"] or 0)
        if reason is not None and n_quar > 0:
            table.quarantine_append(
                events.filter(flt & reason.isNotNull()).select(
                    F.lit(str(batch_id)).alias("batch_id"),
                    reason.alias("reason"),
                    F.col("lsn").try_cast("long").alias("lsn"),
                    F.to_json(
                        F.struct(*[F.col(c) for c in events.columns])
                    ).alias("event_json"),
                ),
                batch_id=batch_id,
            )
        admitted = (
            events.filter(keep)
            if (event_filter is not None or reason is not None)
            else events
        )
        touched = sorted(b for b in agg["pbuckets"] if b is not None)
        if touched:
            # first patch ever: flip the snapshot flag so the storage read
            # schema (and all files from here on) carries the version vector
            psnap = table.enable_patch_cols()
            pkeys = (
                admitted
                if table_exact
                else admitted.filter(F.col("op") == "P")
            ).select(*keys).distinct()
            # tombstones included: a dead row is an anchor too (op='D'), so
            # a late full write above the delete revives exactly, and patch
            # residue recorded on the tombstone survives until then
            state = table.read_buckets(touched, snapshot=psnap, raw=True).join(
                pkeys, on=keys, how="left_semi"
            )
            payload = [f.name for f in psnap.schema.fields]
            anchors = state.select(
                F.col(LSN_COL).alias("lsn"),
                F.when(F.col(DELETED_COL), F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                *[F.col(c) for c in payload],
                F.col(COL_LSNS_COL),
                F.col(LSN_COL).alias("__state_lsn"),
            )
            to_apply = lww_resolve_patch(
                admitted.unionByName(
                    anchors, allowMissingColumns=True
                ).drop("source_part"),
                keys=keys,
                col_lsns_col=COL_LSNS_COL,
                state_lsn_col="__state_lsn",
            )
        else:
            to_apply = admitted  # patch-free: the plain path, unresolved
        res = apply_changes(
            to_apply, table, batch_id=batch_id, mode=mode, **apply_kwargs
        )
        # counters describe the RAW batch (resolution collapses rows and
        # synthesizes anchors; those are not "events in")
        if not res.skipped_replay and res.events_in >= 0:
            res.events_in = int(agg["n_total"]) - n_filtered - n_quar
            res.filtered_out = n_filtered
            res.quarantined = n_quar
        return res
    finally:
        events.unpersist(blocking=False)
