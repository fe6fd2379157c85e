"""Streamed maintenance of sketch/rollup views as incrementally-updated
state tables — the sketch-family analogue of `materialize.IncrementalView`.

The family contract (every member identical, implemented once in
`StreamedCellView`):

* State is a SnapshotTable of CELLS — per cell a key plus one or more
  counter columns, each a COMMUTATIVE GROUP under insert(+1)/delete(-1).
  A member chooses the smallest delete-algebraic sufficient statistic for
  its read-back artifact: e.g. the histogram sketch's bins are defined by
  the group's global (min, max), so a single out-of-range insert — or any
  delete — invalidates every bin; the exact per-(group, value) multiset IS
  the smallest statistic that survives deletes and reproduces the sketch
  bit-identically (`temporal.hist_from_cells` is a pure function of it).
* Deletes require PRE-IMAGES — the consumer must learn the value that
  vanished — which is exactly why Delta Lake's CDF emits
  `update_preimage`/`delete` rows with old payloads. The source side here
  is `SnapshotTable.changelog_delta` (same diff join as `changelog()`,
  old payload kept instead of discarded). A member's `cell_delta` maps
  that changelog to signed per-cell counter deltas in ONE combinable
  aggregate; an update that kept the measured columns cancels its own
  pre/post pair there — zero state touches.
* The refresh MERGE is bucket-pruned to the touched cells: collect the
  delta's bucket ids (bounded by the state table's num_buckets), read only
  those buckets, semi-join them down to the delta's keys, then write U
  rows for surviving cells and D rows for cells whose primary counter
  reached zero.
* Exactly-once composes the same way as IncrementalView: the refresh's
  source-version range is its ledger batch tag and the watermark
  (`<tag>_source_version`) rides state lineage, committed atomically with
  the cell deltas — kill-and-resume replays are committed no-ops.

Cost per refresh at 10^10 rows/day: changelog_delta is O(that window's
changed data) (bucket-pruned candidates), the delta aggregate is one
combinable shuffle of O(distinct changed cells), and the state MERGE
touches only those cells' buckets. Reading the artifact costs O(cells) —
never a source scan.

Reference analogue: the plugin's import summary keeps running counters
updated per record (``ONeo4jImporterCounters.java``); these maintain full
distribution sketches and rollups, not just counts, under the same
keep-it-current-as-data-flows contract.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.temporal import HIST_BINS, hist_from_cells
from ..operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    _cms_addresses,
    cms_estimate_from_cells,
)
from .table import SnapshotTable, bucket_expr_for


class StreamedCellView(ABC):
    """Shared skeleton of the streamed-sketch family: delta build ->
    touched-bucket prune -> read-modify-write -> exactly-once apply (see
    the module docstring for the contract). A new member supplies its
    state schema, the counter columns, and a `cell_delta` hook — typically
    ~30 lines."""

    #: short tag: ledger batch ids are "<tag>-<from>-<to>" and the lineage
    #: watermark key is "<tag>_source_version"
    VIEW_TAG: str
    #: counter columns (each a commutative group under insert/delete)
    counter_cols: tuple[str, ...]
    #: the counter whose zero means "cell is dead" -> D row
    primary_counter: str
    #: non-key, non-counter payload columns carried from the delta into
    #: the state row (e.g. the CMS (r, c) coordinates, denormalized from
    #: cell_id for readability)
    extra_cols: tuple[str, ...] = ()

    def __init__(self, source: SnapshotTable, state: SnapshotTable):
        expected = [f.name for f in self.state_schema().fields]
        got = state.current().schema.names
        if list(got) != expected:
            raise ValueError(
                f"state table schema {list(got)} != expected {expected} "
                f"(create it with {type(self).__name__}.create_state)"
            )
        self.source = source
        self.state = state

    # -- per-member hooks ------------------------------------------------

    @abstractmethod
    def state_schema(self) -> StructType:
        """Schema of the state table (keys + extra cols + counters)."""

    @abstractmethod
    def cell_delta(self, changes: DataFrame) -> DataFrame:
        """Map a `changelog_delta` window (pre/post-image rows tagged with
        `_change_type`) to signed per-cell counter deltas: one row per
        touched cell with the cell key columns, the extra cols, and a
        `d_<counter>` column per counter. Must already drop cells whose
        deltas all cancelled to zero."""

    # -- derived shapes ----------------------------------------------------

    @property
    def cell_keys(self) -> list[str]:
        """Cell identity columns = state schema minus counters and extras.
        Always led by `cell_id` (the xxhash64 routing key — uniform, so
        the state table never skews); keeping the natural columns in the
        key makes a hash collision two distinct rows instead of silent
        corruption."""
        skip = set(self.counter_cols) | set(self.extra_cols)
        return [f.name for f in self.state_schema().fields if f.name not in skip]

    @property
    def _lineage_key(self) -> str:
        return f"{self.VIEW_TAG}_source_version"

    # -- the shared maintenance loop ---------------------------------------

    def last_refreshed_version(self) -> int:
        """Source version covered by the newest refresh (0 = never);
        rides state lineage so it survives restarts and is committed
        atomically with the cell deltas."""
        for entry in reversed(self.state.current().lineage):
            v = entry.get(self._lineage_key)
            if v is not None:
                return int(v)
        return 0

    def refresh(self, mode: str = "mor") -> dict[str, Any]:
        """Fold the source's commits in (watermark, current] into the
        cells: one combinable aggregate over the window's changed rows
        (`cell_delta`) + a bucket-pruned MERGE of the touched cells."""
        from ..cdc.apply import apply_changes

        from_v = self.last_refreshed_version()
        snap = self.source.current()
        if snap.version <= from_v:
            return {
                "source_version": from_v,
                "cells_changed": 0,
                "skipped": True,
            }
        changes, cand = self.source._changelog_delta_with_cache(
            from_v, snap.version
        )
        delta = self.cell_delta(changes).persist()
        try:
            st_snap = self.state.current()
            touched = [
                row.b
                for row in delta.select(bucket_expr_for(st_snap).alias("b"))
                .distinct()
                .collect()
            ]
            on = self.cell_keys
            cur = self.state.read_buckets(touched, snapshot=st_snap).select(
                *on,
                *[F.col(c).alias(f"__old_{c}") for c in self.counter_cols],
            )
            # prune current cells to the delta's keys first (broadcast
            # semi), so the read-modify-write joins two delta-sized frames
            cur = cur.join(
                F.broadcast(delta.select(*on)), on=on, how="left_semi"
            )
            new = {
                c: F.coalesce(F.col(f"__old_{c}"), F.lit(0)) + F.col(f"d_{c}")
                for c in self.counter_cols
            }
            alive = new[self.primary_counter] != 0
            events = delta.join(cur, on=on, how="left").select(
                F.lit(snap.version).cast("long").alias("lsn"),
                F.when(alive, F.lit("U")).otherwise(F.lit("D")).alias("op"),
                *[F.col(c) for c in on],
                *[F.col(c) for c in self.extra_cols],
                *[
                    F.when(alive, new[c]).cast("long").alias(c)
                    for c in self.counter_cols
                ],
            )
            res = apply_changes(
                events,
                self.state,
                batch_id=f"{self.VIEW_TAG}-{from_v}-{snap.version}",
                mode=mode,
                lineage_extra={self._lineage_key: snap.version},
            )
        finally:
            delta.unpersist(blocking=False)
            cand.unpersist(blocking=False)
        return {
            "source_version": snap.version,
            "cells_changed": res.keys_changed,
            "skipped": res.skipped_replay,
        }

    def stream(
        self,
        checkpoint_dir: str,
        mode: str = "mor",
        available_now: bool = True,
    ):
        """Continuous maintenance: the file-level `lake_cdf` feed is the
        wake-up signal (offsets = source versions, checkpointed by Spark);
        each trigger calls `refresh()`, which re-reads its own watermark
        from state lineage — duplicate triggers and checkpoint replays are
        ledger no-ops, a missed trigger is absorbed by the next (same
        trigger contract as IncrementalView.stream rowlevel=False)."""
        from ..streaming.cdf_source import LakeCdfDataSource

        spark = self.state.spark
        spark.dataSource.register(LakeCdfDataSource)
        stream = (
            spark.readStream.format("lake_cdf")
            .option("path", self.source.root)
            .option("startingVersion", self.last_refreshed_version())
            .load()
        )

        def on_batch(batch: DataFrame, batch_id: int) -> None:
            self.refresh(mode=mode)

        writer = stream.writeStream.foreachBatch(on_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    @staticmethod
    def _signed_weight() -> Any:
        """+1 for post-images/inserts, -1 for pre-images/deletes — the
        sign every member's counters fold under."""
        add = F.col("_change_type").isin("insert", "update_postimage")
        return F.when(add, F.lit(1)).otherwise(F.lit(-1))


def cells_schema(group_col: str) -> StructType:
    """Hist state-table schema: one row per (group, value) cell. `cell_id`
    is the routing key (xxhash64 of group+value — high-cardinality,
    uniform); the real identity is the full (cell_id, group, value) key."""
    return StructType(
        [
            StructField("cell_id", LongType(), False),
            StructField(group_col, StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("cnt", LongType(), True),
        ]
    )


class StreamedHistView(StreamedCellView):
    """Maintains `state` = per-(group, value) live-row counts of `source`,
    from which `hist()` reads the quantile sketch bit-identically to
    `value_quantiles_hist` over the source's live rows. The multiset
    detour exists because the sketch's bins are NOT delete-algebraic (see
    the module docstring); the multiset is."""

    VIEW_TAG = "hist"
    counter_cols = ("cnt",)
    primary_counter = "cnt"

    def __init__(
        self,
        source: SnapshotTable,
        state: SnapshotTable,
        group_col: str = "event_type",
        value_col: str = "value",
        bins: int = HIST_BINS,
    ):
        self.group_col = group_col
        self.value_col = value_col
        self.bins = bins
        super().__init__(source, state)

    @classmethod
    def create_state(
        cls,
        spark: SparkSession,
        root: str,
        group_col: str = "event_type",
        num_buckets: int = 16,
        overwrite: bool = False,
    ) -> SnapshotTable:
        return SnapshotTable.create(
            spark,
            root,
            cells_schema(group_col),
            partition_key="cell_id",
            num_buckets=num_buckets,
            key_columns=["cell_id", group_col, "value"],
            overwrite=overwrite,
        )

    def state_schema(self) -> StructType:
        return cells_schema(self.group_col)

    def cell_delta(self, changes: DataFrame) -> DataFrame:
        return (
            changes.filter(F.col(self.value_col).isNotNull())
            .select(
                F.col(self.group_col),
                F.col(self.value_col).cast("double").alias("value"),
                self._signed_weight().alias("w"),
            )
            .groupBy(self.group_col, "value")
            .agg(F.sum("w").cast("long").alias("d_cnt"))
            # an update that kept the value (or changed another column)
            # cancels its own pre/post pair here — no state touch at all
            .filter(F.col("d_cnt") != 0)
            .withColumn(
                "cell_id", F.xxhash64(F.col(self.group_col), F.col("value"))
            )
        )

    def hist(self) -> DataFrame:
        """The quantile sketch read off the maintained cells — identical
        rows to `value_quantiles_hist(source live rows)` (tested exact)."""
        cells = self.state.read().select(
            F.col(self.group_col).alias("event_type"), "value", "cnt"
        )
        return hist_from_cells(cells, self.bins)


def cms_cells_schema() -> StructType:
    """CMS state-table schema: one row per non-zero sketch counter.
    `cell_id` = r * (width + 1) + c (the +1 stride reserves a per-row
    sentinel slot for the null-hash cell so it cannot collide with the
    next row's column 0)."""
    return StructType(
        [
            StructField("cell_id", LongType(), False),
            StructField("r", LongType(), True),
            StructField("c", LongType(), True),
            StructField("cnt", LongType(), True),
        ]
    )


class StreamedCmsView(StreamedCellView):
    """Incrementally-maintained count-min sketch of `value_col`'s
    frequency distribution over the live rows of `source`.

    CMS counters are a commutative group under insert(+1)/delete(-1), so
    unlike the histogram no multiset detour is needed: the cells ARE the
    delete-algebraic sufficient statistic. Each changed row touches
    exactly `depth` cells; a refresh merges at most depth x width cells.
    `estimate()` reads probes against the maintained cells bit-identically
    to a fresh `cms_build` over the live rows (counters are exact longs)."""

    VIEW_TAG = "cms"
    counter_cols = ("cnt",)
    primary_counter = "cnt"
    extra_cols = ("r", "c")

    def __init__(
        self,
        source: SnapshotTable,
        state: SnapshotTable,
        value_col: str,
        depth: int = CMS_DEPTH,
        width: int = CMS_WIDTH,
    ):
        self.value_col = value_col
        self.depth = depth
        self.width = width
        super().__init__(source, state)

    @classmethod
    def create_state(
        cls,
        spark: SparkSession,
        root: str,
        num_buckets: int = 4,
        overwrite: bool = False,
    ) -> SnapshotTable:
        return SnapshotTable.create(
            spark,
            root,
            cms_cells_schema(),
            partition_key="cell_id",
            num_buckets=num_buckets,
            key_columns=["cell_id"],
            overwrite=overwrite,
        )

    def state_schema(self) -> StructType:
        return cms_cells_schema()

    def cell_delta(self, changes: DataFrame) -> DataFrame:
        addr = F.explode(
            _cms_addresses(F.col(self.value_col), self.depth, self.width)
        )
        return (
            changes.select(
                addr.alias("__cell"),
                self._signed_weight().alias("w"),
            )
            .select(
                F.col("__cell.__cms_r").cast("long").alias("r"),
                F.col("__cell.__cms_c").cast("long").alias("c"),
                "w",
            )
            .groupBy("r", "c")
            .agg(F.sum("w").cast("long").alias("d_cnt"))
            .filter(F.col("d_cnt") != 0)
            .withColumn(
                "cell_id",
                F.col("r") * (self.width + 1)
                + F.coalesce(F.col("c"), F.lit(self.width)),
            )
        )

    def cells(self) -> DataFrame:
        """Maintained sketch cells (r, c, cnt) — same shape `cms_build`
        emits over the live rows."""
        return self.state.read().select("r", "c", "cnt")

    def estimate(self, probes: DataFrame, probe_value) -> DataFrame:
        """Estimated frequency of each probe row's value against the
        maintained cells — bit-identical to `cms_estimate` over the
        source's live rows (tested exact)."""
        return cms_estimate_from_cells(
            self.cells(), probes, probe_value, self.depth, self.width
        )


def vocab_cells_schema() -> StructType:
    """Vocabulary state-table schema: one row per live token. `occ` =
    total occurrences across live rows, `docs` = live rows containing the
    token — the two counters `repetition.vocab_topk` ranks on, each a
    commutative group under insert/delete."""
    return StructType(
        [
            StructField("cell_id", LongType(), False),
            StructField("token", StringType(), True),
            StructField("occ", LongType(), True),
            StructField("docs", LongType(), True),
        ]
    )


class StreamedVocabView(StreamedCellView):
    """Incrementally-maintained corpus vocabulary over the live rows of
    `source` (a table with a text payload column). The training-data use
    is vocabulary drift monitoring: the token head of a continuously-
    ingested transcript corpus stays current without corpus rescans.

    Sufficient statistic per token: (total occurrences, containing-row
    count). Both are delete-algebraic given pre-images — a vanished or
    rewritten row contributes its OLD text's token counts with weight -1,
    the post-image with +1. `topk(k)` reads back bit-identically to
    `repetition.vocab_topk` over the source's live rows (tested exact).

    State is O(live vocabulary), sharded by token hash — natural-language
    vocabularies grow sublinearly in corpus size (Heaps' law), so the
    state table stays far smaller than the corpus it summarizes."""

    VIEW_TAG = "vocab"
    counter_cols = ("occ", "docs")
    primary_counter = "occ"

    def __init__(
        self,
        source: SnapshotTable,
        state: SnapshotTable,
        text_col: str = "text",
    ):
        self.text_col = text_col
        super().__init__(source, state)

    @classmethod
    def create_state(
        cls,
        spark: SparkSession,
        root: str,
        num_buckets: int = 16,
        overwrite: bool = False,
    ) -> SnapshotTable:
        return SnapshotTable.create(
            spark,
            root,
            vocab_cells_schema(),
            partition_key="cell_id",
            num_buckets=num_buckets,
            key_columns=["cell_id", "token"],
            overwrite=overwrite,
        )

    def state_schema(self) -> StructType:
        return vocab_cells_schema()

    def cell_delta(self, changes: DataFrame) -> DataFrame:
        """Two-level aggregate mirroring `vocab_topk`'s shape: per
        (token, image) occurrence counts first — an image is one side of
        one changed row, identified by the source key columns plus
        `_change_type` — then per-token (occ, docs) deltas."""
        from ..functions.hashes import tokens

        keys = self.source.current().keys
        per_img = (
            changes.filter(F.col(self.text_col).isNotNull())
            .select(
                *keys,
                self._signed_weight().alias("w"),
                F.explode(tokens(F.col(self.text_col))).alias("token"),
            )
            .groupBy("token", "w", *keys)
            .agg(F.count("*").alias("c"))
        )
        return (
            per_img.groupBy("token")
            .agg(
                F.sum(F.col("w") * F.col("c")).cast("long").alias("d_occ"),
                F.sum("w").cast("long").alias("d_docs"),
            )
            # an update that kept the text cancels its own pre/post pair
            .filter((F.col("d_occ") != 0) | (F.col("d_docs") != 0))
            .withColumn("cell_id", F.xxhash64(F.col("token")))
        )

    def topk(self, k: int = 50) -> DataFrame:
        """The vocabulary head off the maintained counters — identical
        rows to `vocab_topk(live rows)` (count desc, token asc: a total
        order, so the cut is deterministic in both engines)."""
        return (
            self.state.read()
            .select(
                "token",
                F.col("occ").alias("n_occurrences"),
                F.col("docs").alias("n_docs"),
            )
            .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
            .limit(k)
        )


def tool_usage_cells_schema() -> StructType:
    """Tool-usage state-table schema: one row per live (tool, conv_id)
    incidence. `calls` / `tok` are the per-incidence call and token
    counters — each a commutative group under insert/delete, which is
    what makes the per-tool rollup (incl. the DISTINCT-conversation
    count: live incidence rows per tool) exactly maintainable."""
    return StructType(
        [
            StructField("cell_id", LongType(), False),
            StructField("tool", StringType(), True),
            StructField("conv_id", StringType(), True),
            StructField("calls", LongType(), True),
            StructField("tok", LongType(), True),
        ]
    )


class StreamedToolUsageView(StreamedCellView):
    """Incrementally-maintained per-tool usage counters over the live
    rows of a transcripts `source`. The agent-ops use: tool-adoption
    dashboards over a continuously-ingested corpus without rescans.

    Sufficient statistic per (tool, conv_id): (call count, token count).
    Both are delete-algebraic given pre-images — a turn that switches
    tools decrements one cell and increments another inside the same
    combinable aggregate. `usage()` reads back the ALGEBRAIC columns of
    `transcripts.tool_usage_stats` (n_calls, n_convs, n_tokens)
    bit-identically over live rows; the turn-position envelope
    (min/max turn_idx) is deliberately absent — min/max are not
    delete-algebraic, so a streamed view could only approximate them
    (monotone under inserts, stale under deletes), which this family's
    bit-identical contract forbids.

    State is O(live (tool, conv) incidences) — bounded by conversations
    times the tiny tool vocabulary, far smaller than the corpus."""

    VIEW_TAG = "toolusage"
    counter_cols = ("calls", "tok")
    primary_counter = "calls"

    @classmethod
    def create_state(
        cls,
        spark: SparkSession,
        root: str,
        num_buckets: int = 16,
        overwrite: bool = False,
    ) -> SnapshotTable:
        return SnapshotTable.create(
            spark,
            root,
            tool_usage_cells_schema(),
            partition_key="cell_id",
            num_buckets=num_buckets,
            key_columns=["cell_id", "tool", "conv_id"],
            overwrite=overwrite,
        )

    def state_schema(self) -> StructType:
        return tool_usage_cells_schema()

    def cell_delta(self, changes: DataFrame) -> DataFrame:
        from ..operators.transcripts import _ws_tokens

        return (
            changes.filter(F.col("tool").isNotNull())
            .select(
                "tool",
                "conv_id",
                self._signed_weight().alias("w"),
                _ws_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("t"),
            )
            .groupBy("tool", "conv_id")
            .agg(
                F.sum("w").cast("long").alias("d_calls"),
                F.sum(F.col("w") * F.col("t")).cast("long").alias("d_tok"),
            )
            # an update that kept (tool, text) cancels its own pre/post pair
            .filter((F.col("d_calls") != 0) | (F.col("d_tok") != 0))
            .withColumn(
                "cell_id",
                F.xxhash64(F.concat_ws("|", F.col("tool"), F.col("conv_id"))),
            )
        )

    def usage(self) -> DataFrame:
        """Per-tool rollup off the maintained cells — identical rows to
        the algebraic columns of `transcripts.tool_usage_stats` over the
        source's live rows."""
        return (
            self.state.read()
            .groupBy("tool")
            .agg(
                F.sum("calls").cast("long").alias("n_calls"),
                F.count("*").cast("long").alias("n_convs"),
                F.sum("tok").cast("long").alias("n_tokens"),
            )
            .orderBy("tool")
        )


def lang_cells_schema() -> StructType:
    """Language-distribution state-table schema: one row per live
    (lang, role) cell. `turns` = live turns classified to that language,
    `tok` = their token total — each a commutative group under
    insert/delete."""
    return StructType(
        [
            StructField("cell_id", LongType(), False),
            StructField("lang", StringType(), True),
            StructField("role", StringType(), True),
            StructField("turns", LongType(), True),
            StructField("tok", LongType(), True),
        ]
    )


class StreamedLangDistView(StreamedCellView):
    """Incrementally-maintained language mix over the live turns of a
    transcripts `source` — the fifth family member, written against the
    `StreamedCellView` base to prove the extension contract (state schema
    + counters + one `cell_delta` hook; everything else inherited).

    The training-data use is language-drift monitoring: a continuously
    ingested multilingual corpus's language distribution stays current
    without corpus rescans. Classification is `textstats.LANG_MARKERS`'s
    deterministic marker-word argmax — a pure row-local column expression,
    so a change-image row's language is recomputable on BOTH its pre- and
    post-image: a turn rewritten from English to Spanish decrements the
    (en, role) cell and increments (es, role) inside the same combinable
    aggregate. `dist()` reads back bit-identically to the same rollup
    computed from scratch over the live rows (oracle-twinned).

    State is O(languages x roles) — constant-sized, the smallest state
    table in the family."""

    VIEW_TAG = "langdist"
    counter_cols = ("turns", "tok")
    primary_counter = "turns"

    def __init__(
        self,
        source: SnapshotTable,
        state: SnapshotTable,
        text_col: str = "text",
    ):
        self.text_col = text_col
        super().__init__(source, state)

    @classmethod
    def create_state(
        cls,
        spark: SparkSession,
        root: str,
        num_buckets: int = 4,
        overwrite: bool = False,
    ) -> SnapshotTable:
        return SnapshotTable.create(
            spark,
            root,
            lang_cells_schema(),
            partition_key="cell_id",
            num_buckets=num_buckets,
            key_columns=["cell_id", "lang", "role"],
            overwrite=overwrite,
        )

    def state_schema(self) -> StructType:
        return lang_cells_schema()

    def cell_delta(self, changes: DataFrame) -> DataFrame:
        from ..functions.hashes import tokens
        from ..operators.textstats import LANG_MARKERS, _pick_best_lang

        toks = tokens(F.coalesce(F.col(self.text_col), F.lit("")))

        # F.filter introspects lambda arity (2 args = element+index), so the
        # marker list must be captured via closure, not a default arg
        def _is_marker(ms):
            return lambda t: t.isin(*[F.lit(m) for m in ms])

        hits = [
            F.size(F.filter(toks, _is_marker(ms))).alias(f"hits_{lg}")
            for lg, ms in LANG_MARKERS.items()
        ]
        guess, _ = _pick_best_lang(list(LANG_MARKERS), "hits_{}")
        return (
            changes.select(
                "role",
                self._signed_weight().alias("w"),
                F.size(toks).alias("t"),
                *hits,
            )
            .select(guess.alias("lang"), "role", "w", "t")
            .groupBy("lang", "role")
            .agg(
                F.sum("w").cast("long").alias("d_turns"),
                F.sum(F.col("w") * F.col("t")).cast("long").alias("d_tok"),
            )
            # an update that kept the text cancels its own pre/post pair
            .filter((F.col("d_turns") != 0) | (F.col("d_tok") != 0))
            .withColumn(
                "cell_id",
                F.xxhash64(F.concat_ws("|", F.col("lang"), F.col("role"))),
            )
        )

    def dist(self) -> DataFrame:
        """The language mix off the maintained cells — identical rows to
        the same (lang, role) rollup computed from scratch over the
        source's live rows (tested exact)."""
        return (
            self.state.read()
            .groupBy("lang", "role")
            .agg(
                F.sum("turns").cast("long").alias("n_turns"),
                F.sum("tok").cast("long").alias("n_tokens"),
            )
            .orderBy("lang", "role")
        )
