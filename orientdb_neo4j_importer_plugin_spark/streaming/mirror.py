"""Continuous table-to-table mirroring: tail a SnapshotTable's change feed
and apply it onto a replica table, exactly-once.

This is the streaming form of `sources.debezium.replicate_changelog`: where
that drains a version RANGE in one batch, `MirrorRunner` subscribes to the
source's commit log through the ``lake_cdf`` Python Data Source and keeps a
downstream replica converged as the source advances — the fan-out stage a
multi-cluster pipeline needs after ingest (upstream WAL -> primary lake ->
N replicas), without re-reading the upstream WAL.

Reference analogue: the importer's one-shot copy (``ONeo4jImporter.java:
66-188``) is source-database -> target-database; the mirror closes the same
loop target -> further targets, which the one-shot design simply cannot
express (a re-run is a full drop-and-rebuild, ``ONeo4jImporter.java:
105-112`` — here resume is a checkpoint offset).

Correctness composition (each link proven by its own tests):

* the ``lake_cdf`` source emits every committed winner row with its
  ORIGINAL lsn (version offsets in the checkpoint),
* the replica apply is the ordinary idempotent LWW merge — original lsns
  mean the replica resolves ties exactly like the source did,
* ledger keys are scoped to the checkpoint lineage (inherited from
  `CdcStreamRunner`), so a replayed micro-batch is a no-op and
  kill-and-resume converges.

Scale notes: per trigger the work is O(source data committed since the
last trigger) — file-level change emission, no state store, no diff join.
A COW source (or a compaction commit on a MOR source) surfaces whole
rewritten buckets as changes; the replica apply stays convergent (LWW
idempotence) but pays O(rewritten bucket) IO for those commits — mirror
MOR-mode sources and run replica-side compaction locally
(``compact_every``) for the sustained configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import SnapshotTable
from .cdf_source import LSN_OUT_COL, VERSION_COL, LakeCdfDataSource
from .runner import CdcStreamRunner


class MirrorRunner(CdcStreamRunner):
    """One streaming query source-table -> replica-table.

    Inherits the exactly-once sink, metrics, status JSON, and replica-side
    compaction cadence from `CdcStreamRunner`; only the source differs —
    the table's own commit log instead of a WAL directory. The WAL-side
    policy knobs (late-drop, stream dedup, patches) are deliberately not
    exposed: they belong at ingest, and applying them again at the mirror
    would make replicas diverge from the primary.
    """

    def __init__(
        self,
        spark: SparkSession,
        source: SnapshotTable,
        table: SnapshotTable,
        checkpoint_dir: str,
        starting_version: int = 0,
        status_path: str | None = None,
        batch_id_prefix: str | None = None,
        mode: str = "cow",
        compact_every: int = 0,
        max_versions_per_trigger: int | None = None,
    ):
        super().__init__(
            spark,
            feed_dir=source.root,
            table=table,
            checkpoint_dir=checkpoint_dir,
            status_path=status_path,
            batch_id_prefix=batch_id_prefix,
            mode=mode,
            compact_every=compact_every,
        )
        self.source = source
        self.starting_version = starting_version
        # bound each streamed micro-batch to N source versions — the
        # admission control that keeps a mirror resuming from an old
        # checkpoint from planning one giant catch-up batch through
        # start() alone (the lake_cdf reader self-caps latestOffset, the
        # same mechanism its rowlevel mode uses for the materialization
        # horizon). catch_up(window) remains the batch-path alternative.
        self.max_versions_per_trigger = max_versions_per_trigger

    @staticmethod
    def _to_events(df: DataFrame) -> DataFrame:
        payload = [
            c for c in df.columns if c not in (VERSION_COL, LSN_OUT_COL, "op")
        ]
        return df.select(
            F.col(LSN_OUT_COL).alias("lsn"), F.col("op"), *payload
        )

    def _source(self) -> DataFrame:
        self.spark.dataSource.register(LakeCdfDataSource)
        # keep _commit_version through to the batch handler: it records the
        # replication position in replica lineage (dropped before apply so
        # it never enters the replica's schema)
        # startingVersion doubles as the reader's admission-control anchor
        # (it seeds _position; a real checkpoint overrides initialOffset).
        # Anchoring at the replica's recorded position (>= the checkpointed
        # offset at rest — lineage is written before the offset commits)
        # means a restarted capped query's first latestOffset offers forward
        # of real progress instead of ramping again from starting_version.
        start_v = max(self.starting_version, self._mirror_position())
        reader = (
            self.spark.readStream.format("lake_cdf")
            .option("path", self.source.root)
            .option("startingVersion", start_v)
        )
        if self.max_versions_per_trigger is not None:
            reader = reader.option(
                "maxVersionsPerTrigger", self.max_versions_per_trigger
            )
        return reader.load()

    def _for_each_batch(self, batch: DataFrame, batch_id: int) -> None:
        from ..cdc.apply import apply_changes

        # source-version watermark from the CHECKPOINT OFFSET LOG (round 6):
        # Spark writes this batch's end offset before foreachBatch runs, so
        # the version this batch planned through is driver-side metadata —
        # the previous max-agg over the batch cost one full extra pass
        # through the Python data source per micro-batch. The offset end can
        # exceed the max version that carried rows (trailing empty commits);
        # recording the higher value is still correct — everything up to it
        # has been applied — and _mirror_position() is a max over lineage,
        # so a parse fallback to starting_version can never regress it.
        vmax = self._checkpoint_position()
        res = apply_changes(
            self._to_events(self._widen(batch)),
            self.table,
            batch_id=f"{self.batch_id_prefix}-{batch_id}",
            mode=self.mode,
            lineage_extra=(
                {"mirror_source_version": int(vmax)} if vmax is not None else None
            ),
        )
        self.metrics.record(res)
        if not res.skipped_replay and self.compact_every > 0:
            self._batches_since_compact += 1
            if self._batches_since_compact >= self.compact_every:
                self.table.compact()
                self._batches_since_compact = 0
        from .runner import _write_status

        _write_status(self.status_path, self.metrics)

    def run_to_completion(self, timeout_sec: float | None = None):
        """Drain the source's current backlog, then finish.

        With `max_versions_per_trigger` set this loops availableNow passes:
        Spark's availableNow trigger pins its target at the FIRST
        latestOffset of the run, and a capped reader offers at most N
        versions there — so one pass drains one bounded micro-batch and
        ends. Each pass re-anchors at the replica's recorded position and
        the loop exits when replication lag reaches zero (or raises if a
        pass makes no progress, rather than spinning)."""
        if self.max_versions_per_trigger is None:
            return super().run_to_completion(timeout_sec)
        import time as _time

        from .runner import _write_status

        deadline = (
            None if timeout_sec is None else _time.monotonic() + timeout_sec
        )
        # progress = max(replica lineage, streaming checkpoint offset): an
        # all-empty source version advances only the checkpoint (no rows ->
        # no lineage record), and a catch_up()-applied range advances only
        # lineage — either alone would stall the loop on the other's path.
        def _pos() -> int:
            return max(self._mirror_position(), self._checkpoint_position())

        while True:
            before = _pos()
            budget = (
                None if deadline is None else max(1.0, deadline - _time.monotonic())
            )
            q = self.start(available_now=True)
            q.awaitTermination(budget)
            if q.isActive:
                q.stop()
                q.awaitTermination(30)
            if _pos() >= self.source.current().version:
                break
            if _pos() <= before:
                raise RuntimeError(
                    "bounded mirror drain made no progress at source version "
                    f"{before} (lag {self.lag()})"
                )
            if deadline is not None and _time.monotonic() >= deadline:
                break
        self.metrics.status = "FINISHED"
        _write_status(self.status_path, self.metrics)
        return self.metrics

    def _checkpoint_position(self) -> int:
        """Highest source version the streaming checkpoint has planned
        through (the end offset of the newest entry in <ckpt>/offsets), or
        starting_version when the checkpoint doesn't exist yet. Driver-side
        file metadata only."""
        import json as _json
        import os as _os

        odir = _os.path.join(self.checkpoint_dir, "offsets")
        try:
            batches = [n for n in _os.listdir(odir) if n.isdigit()]
        except FileNotFoundError:
            return self.starting_version
        if not batches:
            return self.starting_version
        latest = _os.path.join(odir, max(batches, key=int))
        try:
            with open(latest) as fh:
                last = [ln.strip() for ln in fh if ln.strip()][-1]
            off = _json.loads(last)
            if isinstance(off, str):  # python-source offsets are
                off = _json.loads(off)  # JSON-string-encoded dicts
            return int(off["version"])
        except (OSError, ValueError, KeyError, IndexError, TypeError):
            return self.starting_version

    def lag(self) -> int:
        """Replication lag in source commits: source head minus the highest
        source version recorded as applied to the replica (0 = caught up).
        Driver-side metadata only — no Spark job."""
        return max(
            0, self.source.current().version - self._mirror_position()
        )

    # -- bounded catch-up ----------------------------------------------------

    def _mirror_position(self) -> int:
        """Highest source version already applied to the replica, from the
        replica's own commit lineage (`mirror_source_version`, recorded by
        both the streamed and windowed paths); `starting_version` when none
        is found. Lineage keeps the
        most recent 1000 batch entries — a suffix, so the max survives
        pruning; if the replica's history was truncated further the resync
        restarts earlier and the idempotent apply absorbs the overlap."""
        pos = self.starting_version
        for lin in self.table.current().lineage:
            v = lin.get("mirror_source_version")
            if v is not None and int(v) > pos:
                pos = int(v)
        return pos

    def catch_up(self, window: int = 8) -> list:
        """Drain source -> replica in BOUNDED version windows via batch
        ``lake_cdf`` reads — the batch-side rate-limited drain (the
        streaming path bounds itself the same way via
        ``max_versions_per_trigger``). Each window is one exactly-once apply keyed
        ``{prefix}-v{from}-{to}`` with the window's end version recorded in
        replica lineage; re-running any window is a ledger no-op, and the
        next catch_up resumes from the lineage position — no streaming
        checkpoint involved, so `catch_up` and `start()` can be mixed
        (overlap between the two is absorbed by idempotence).

        The source head is pinned ONCE at entry: against a source that
        commits at least one version per window drain, chasing a re-read
        head would never terminate (and a `--window` CLI run would never
        print its status). Commits that land mid-drain are picked up by the
        next catch_up call or the streaming tail.

        Returns the per-window ApplyResult list."""
        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        from ..cdc.apply import apply_changes

        self.spark.dataSource.register(LakeCdfDataSource)
        out = []
        pos = self._mirror_position()
        head = self.source.current().version
        while pos < head:
            to_v = min(pos + window, head)
            batch = self._to_events(
                self.spark.read.format("lake_cdf")
                .option("path", self.source.root)
                .option("fromVersion", pos)
                .option("toVersion", to_v)
                .load()
            )
            res = apply_changes(
                batch,
                self.table,
                batch_id=f"{self.batch_id_prefix}-v{pos}-{to_v}",
                mode=self.mode,
                lineage_extra={"mirror_source_version": to_v},
            )
            self.metrics.record(res)
            out.append(res)
            if not res.skipped_replay and self.compact_every > 0:
                self._batches_since_compact += 1
                if self._batches_since_compact >= self.compact_every:
                    self.table.compact()
                    self._batches_since_compact = 0
            pos = to_v
        return out
