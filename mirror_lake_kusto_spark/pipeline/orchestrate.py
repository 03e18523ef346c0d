"""MirrorPipeline: incremental, exactly-once Delta->table sync
(SURVEY §3.2/§3.3 — the reference's entire runtime, Spark-first).

One ``run_once()`` = one transaction batch, mirroring
DeltaTableOrchestration.ProcessTransactionBatchAsync
(Orchestrations/DeltaTableOrchestration.cs:85-133):

1. discover   — new commits past the processed high-water mark,
                coalesced into one batch with add/remove cancellation
                (C1/O2/O3; Storage/TransactionLog.cs:72-164);
2. persist    — every action becomes a TransactionItem row
                (state=Initial) in the state store
                (PersistNewLogsAsync, DeltaTableOrchestration.cs:337-351);
3. analyze    — empty files -> Done (O4); go-back retention skip via the
                user's creation-time expression evaluated over distinct
                partition tuples in ONE Spark job (J1/O5/O7;
                BlobAnalysisOrchestration.cs:67-244);
4. stage+load — read surviving blobs in one scan, with partition
                values (D5/O6/A7) and lineage columns (H5) joined in
                from a broadcast per-file frame — data, not literals,
                so every batch reuses the same generated code — then
                ONE atomic sink commit carrying a Delta
                ``txn`` action for idempotence (K5/O11/I3 — the
                staging-table + `.move extents` dance collapses into
                write-then-commit);
5. removes    — each remove joins its historical add (C3,
                BlobLoadingOrchestration.cs:96-115): skipped add =>
                skipped remove; otherwise one `.delete`-records commit
                keyed on MLK_BlobPath (K6, :117-138);
6. done       — items flip to Done; state compacts periodically (O10).

Crash recovery (I3, DeltaTableOrchestration.cs:76-81,181-200): an
incomplete batch is re-detected from the state store; whether its data
already landed is decided by the sink's ``txn`` version — never by our
own bookkeeping — so a crash between sink-commit and state-persist does
not double-ingest.  Deletes are idempotent by construction (deleting
rows of already-deleted blob paths matches nothing).

Scale: all data movement is executor-side (`spark.read.parquet` ->
`sink.append`); the driver handles only the batch's action metadata.
Lineage column MLK_BlobPath (TableDefinition.cs:16,58-69) is a column
of that per-file frame, keyed on the scan-time file identity — no
shuffle.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..sources import delta_log as DL
from ..sources.delta_sink import DeltaSink
from .delta_state import DeltaStateStore
from .state import COMPLETE_STATES


class SchemaChangedError(NotImplementedError):
    """Mid-stream schema / partition-column change — unsupported, as in
    the reference (Storage/TransactionLog.cs:153-157)."""


def _row_field(r, key):
    """Field access across the row shapes discovery produces (pyspark
    Row from the DataFrame paths, plain dict from the driver-local
    path); missing field -> None."""
    try:
        v = r[key]
    except (KeyError, ValueError, TypeError):
        return None
    return v


def _dv_norm(d) -> dict | None:
    """Normalize a deletionVector descriptor (Row or dict) to a plain
    dict; None when absent or empty (cardinality 0)."""
    if d is None:
        return None
    if hasattr(d, "asDict"):
        d = d.asDict(recursive=True)
    if not (d.get("cardinality") or 0):
        return None
    return dict(d)


def _dv_id(desc: dict | None) -> str | None:
    """Stable identity of a DV descriptor for change detection — must
    stay in lockstep with the SQL twin in ``_dv_delta_snapshot``."""
    if desc is None:
        return None
    return (
        f"{desc.get('storageType') or ''}:"
        f"{desc.get('pathOrInlineDv') or ''}:"
        f"{desc.get('offset') or 0}"
    )


def _item_dv(it: dict) -> tuple[dict | None, bool]:
    """(descriptor, restage) recorded in an Add item's internal_state."""
    raw = it.get("internal_state")
    if not raw or not str(raw).startswith("{"):
        return None, False
    try:
        d = json.loads(raw)
    except (ValueError, TypeError):
        return None, False
    return d.get("dv"), bool(d.get("restage"))


def _utcnow() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


class MirrorPipeline:
    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        target_path: str,
        state_dir: str,
        table_name: str = "mirror",
        go_back_days: int | None = None,
        creation_time_expr: str | None = None,
        now_fn=None,
        compact_every: int = 8,
        optimize_target_every: int | None = None,
        max_items_per_batch: int = 100_000,
        on_schema_change: str = "fail",
        optimize_target_zorder_by: list[str] | None = None,
        optimize_target_cluster_by: list[str] | None = None,
        commit_coordinator=None,
        on_dv: str = "fail",
        creation_time_dialect: str = "auto",
    ):
        self.spark = spark
        self.source = source_path
        self.table = table_name
        # commit_coordinator passes through to the sink — REQUIRED for
        # raw-S3 targets, where plain create is not conditional and
        # DeltaSink refuses to run without one
        self.sink = DeltaSink(
            spark, target_path, commit_coordinator=commit_coordinator
        )
        # state rows in a Delta table: driver LWW map while small,
        # Spark-side view past the threshold; a state dir written by
        # the retired CSV backend migrates in place on open
        self.state = DeltaStateStore(spark, state_dir)
        self.go_back_days = go_back_days
        self.creation_time_expr = creation_time_expr
        if creation_time_dialect not in ("spark", "kql", "auto"):
            raise ValueError(
                "creation_time_dialect must be 'spark', 'kql' or "
                f"'auto', got {creation_time_dialect!r}"
            )
        #: the reference's users write --creation-time in KQL
        #: (todatetime(strcat(p0,'-01-01')), ElectricTestBase.cs:12);
        #: this engine evaluates Spark SQL.  'kql' translates through
        #: kql_parse.translate_expr up front; 'auto' (default) keeps
        #: the Spark spelling when it analyzes and falls back to the
        #: KQL translation when it does not — the migration papercut
        #: remover (round-10 VERDICT ask #4).
        self.creation_time_dialect = creation_time_dialect
        self._ct_expr_resolved: str | None = None
        if on_schema_change not in (
            "fail",
            "evolve-add",
            "evolve-rename",
            "widen",
            "evolve-drop",
        ):
            raise ValueError(
                f"on_schema_change must be 'fail', 'evolve-add', "
                f"'evolve-rename', 'widen' or 'evolve-drop', "
                f"got {on_schema_change!r}"
            )
        # "fail" = reference parity (TransactionLog.cs:153-157 throws);
        # "evolve-add" = Kusto `.create-merge` posture (K1): purely
        # ADDITIVE column changes re-record the schema and continue —
        # earlier mirror rows read null for the new columns;
        # "evolve-rename" = evolve-add PLUS column-mapping renames:
        # a source RENAME (same physical identity, new logical name)
        # re-records the schema and renames the target metadata-only
        # via DeltaSink.evolve_rename — drop/retype still fail loudly;
        # "widen" = evolve-add PLUS lossless type widenings (int->long,
        # float->double, decimal growth — PROTOCOL.md Type Widening):
        # when the SOURCE widens a column, the TARGET metaData is
        # widened via DeltaSink.evolve_widen (typeWidening feature +
        # typeChanges history) and the mirror continues — narrow files
        # on both sides promote natively on read.  Lossy retypes and
        # drops still fail loudly
        self.on_schema_change = on_schema_change
        if on_dv not in ("fail", "materialize"):
            raise ValueError(
                f"on_dv must be 'fail' or 'materialize', got {on_dv!r}"
            )
        # "fail" = reference parity (TransactionLogEntry.cs:341-342
        # throws on unsupported log shapes): a DV-carrying source add
        # refuses loudly.  "materialize" (round 9): stage the file's
        # SURVIVING rows (bitmap applied at read by the same
        # delta_log.scan_with_file_frame read_snapshot uses) and record
        # the DV descriptor as provenance in the item state; when a
        # path's DV changes later (merge-on-read delete grows the
        # bitmap), the path re-stages — old lineage rows are deleted
        # in the same guarded staging step, so re-stages stay
        # idempotent and exactly-once
        self.on_dv = on_dv
        self.now_fn = now_fn or _utcnow
        self.app_id = f"mlk-mirror:{table_name}"
        self.compact_every = compact_every
        # many small incremental syncs leave many small target files;
        # periodic dataChange=false compaction is the Delta analogue of
        # Kusto's extent merge (which the reference delegates, K2)
        self.optimize_target_every = optimize_target_every
        # optional z-curve clustering during periodic target compaction:
        # multi-column data skipping on the mirror's own read side
        if optimize_target_zorder_by and optimize_target_cluster_by:
            raise ValueError(
                "optimize_target_zorder_by and optimize_target_cluster_by "
                "are mutually exclusive"
            )
        self.optimize_target_zorder_by = optimize_target_zorder_by
        # liquid alternative: DECLARE clustering on the target (the
        # clustering writer feature + delta.clustering domain) so every
        # periodic OPTIMIZE lays data out along the Hilbert curve
        self.optimize_target_cluster_by = optimize_target_cluster_by
        # driver-metadata ceiling (SURVEY §7.4): one batch materializes
        # at most this many TransactionItems on the driver.  Larger
        # spans are processed in multiple batches — by commit boundary
        # on the incremental path, by path order on the snapshot-diff
        # path.  None (uncapped) is a driver-OOM hatch at 100 TB —
        # millions of snapshot adds would collect at once — so it is
        # rejected outright; pass a large explicit cap if you really
        # want near-unbounded batches on a small table.
        if max_items_per_batch is None:
            raise ValueError(
                "max_items_per_batch=None would collect an unbounded "
                "snapshot to the driver; pass an explicit item cap "
                "(default 100_000)"
            )
        if max_items_per_batch < 1:
            raise ValueError("max_items_per_batch must be >= 1")
        self.max_items_per_batch = max_items_per_batch
        self._batches_run = 0

    # -- public -------------------------------------------------------------

    def run_once(self) -> dict[str, Any]:
        """Process ONE coalesced batch of new commits; returns a summary.
        Call repeatedly to drain (one-shot mode processes each pending
        batch; continuous mode wraps this in a poll loop, I1)."""
        resumed = self.state.incomplete_batch(self.table)
        if resumed is not None and self._only_partial_staging_open(resumed):
            # previous snapshot-diff chunk finished its items; the batch
            # stays open purely to hold back the high-water mark —
            # discover computes the NEXT chunk (processed state excludes
            # everything already chunked through)
            resumed = None
        if resumed is not None:
            items = resumed
            start_tx = items[0]["start_tx_id"]
            end_tx = items[0]["end_tx_id"]
        else:
            discovered = self._discover()
            if discovered is None:
                return {"status": "up-to-date"}
            items, start_tx, end_tx = discovered
            self.state.persist(items)

        self._analyze(items, end_tx)
        n_staged = self._stage_and_load(items, end_tx)
        n_deleted_paths = self._apply_removes(items)
        partial = any(
            it["action"] == "StagingTable"
            and it.get("internal_state") == "snapshot-chunk-partial"
            for it in items
        )
        for it in items:
            if it["state"] not in COMPLETE_STATES:
                if partial and it["action"] == "StagingTable":
                    it["state"] = "Analyzed"  # keep the batch open
                else:
                    it["state"] = "Done"
        self._stamp_and_persist(items)
        self._batches_run += 1
        if self._batches_run % self.compact_every == 0:
            self.state.compact()
        if (
            self.optimize_target_every
            and self._batches_run % self.optimize_target_every == 0
        ):
            if self.optimize_target_cluster_by:
                # declare once (idempotent), then a bare OPTIMIZE
                # Hilbert-clusters on the declared columns.  A target
                # with no data yet (empty source, all adds skipped)
                # has nothing to declare ON — degrade to a no-op like
                # the zorder twin, don't wedge the pipeline
                if DL.latest_metadata(self.spark, self.sink.path) is not None:
                    self.sink.set_cluster_by(self.optimize_target_cluster_by)
                    self.sink.optimize()
            else:
                self.sink.optimize(zorder_by=self.optimize_target_zorder_by)
        return {
            "status": "processed",
            "start_tx": start_tx,
            "end_tx": end_tx,
            "adds_staged": n_staged,
            "removes_applied": n_deleted_paths,
            "resumed": resumed is not None,
            "n_items": len(items),
            "partial": partial,
        }

    @staticmethod
    def _only_partial_staging_open(items: list[dict]) -> bool:
        """True when the batch's only open item is its StagingTable
        marker carrying the snapshot-chunk-partial flag."""
        for it in items:
            if it["state"] in COMPLETE_STATES:
                continue
            if (
                it["action"] == "StagingTable"
                and it.get("internal_state") == "snapshot-chunk-partial"
            ):
                continue
            return False
        return any(
            it["action"] == "StagingTable"
            and it.get("internal_state") == "snapshot-chunk-partial"
            for it in items
        )

    def run_until_idle(self, max_batches: int | None = None) -> list[dict[str, Any]]:
        """One-shot mode: drain all pending commits (I1 without the poll
        delay; Trigger.AvailableNow semantics)."""
        out = []
        while max_batches is None or len(out) < max_batches:
            r = self.run_once()
            if r["status"] == "up-to-date":
                break
            out.append(r)
        return out

    def run_continuous(
        self, poll_seconds: float = 5.0, max_polls: int | None = None
    ) -> None:
        """Continuous mode: infinite poll loop, 5 s default probe delay
        (I1; CommandLineOptions.cs:10-14, BETWEEN_TX_PROBE_DELAY at
        DeltaTableOrchestration.cs:16)."""
        polls = 0
        while max_polls is None or polls < max_polls:
            r = self.run_once()
            if r["status"] == "up-to-date":
                time.sleep(poll_seconds)
                polls += 1

    def mirror_df(self) -> DataFrame:
        """The mirrored table's current contents."""
        return self.sink.to_df()

    # -- phases -------------------------------------------------------------

    def _discover(self):
        hwm = self.state.high_water(self.table)
        versions = DL.list_commit_versions(self.source)
        if not versions or versions[-1] <= hwm:
            # a coordinated/catalog source can look "up-to-date" on the
            # filesystem while the coordinator holds staged commits the
            # mirror can never serve — stall LOUDLY, not silently
            # (round 8; the staleness branch of the protocol check)
            if versions and DL.unbackfilled_commit_versions(self.source):
                DL.check_protocol_supported(self.source)
            return None
        end_tx = versions[-1]
        # the incremental path must not outrun the reader's protocol
        # support: a v2Checkpoint/unknown-feature upgrade makes future
        # log shapes unreadable — stop BEFORE ingesting past it
        # (reference throw: TransactionLogEntry.cs:341-342)
        DL.check_protocol_supported(self.source, end_tx)
        start_tx = hwm + 1
        snapshot_chunk = None  # set on the snapshot-diff path
        if versions[0] > hwm + 1:
            # commits (hwm, versions[0]) were vacuumed/truncated: fall
            # back to the checkpoint snapshot diffed against processed
            # state (C2, TransactionLog.cs:116-164 / O1 checkpoint path,
            # DeltaTableGateway.cs:71-122).  This includes the FRESH
            # mirror (hwm=-1) of an already-vacuumed source: the
            # surviving JSON commits alone miss every checkpoint-only
            # file, and with empty processed state the snapshot diff
            # yields exactly the full active snapshot.
            schema_item = self._check_schema(hwm, end_tx)
            add_rows, remove_rows, snapshot_chunk = self._chunked_diff(
                end_tx
            )
        else:
            end_tx, first_n = self._cap_span(hwm, end_tx)
            schema_item = self._check_schema(hwm, end_tx)
            if first_n > self.max_items_per_batch:
                # FAT COMMIT: one commit alone exceeds the driver item
                # budget (a 100k-file backfill commit).  The coalesced
                # segment would collect it whole — route through the
                # same path-ordered snapshot-diff chunking the vacuumed
                # path uses: at most `cap` items reach the driver per
                # batch, and the diff recomputes smaller each round as
                # processed state grows
                add_rows, remove_rows, snapshot_chunk = (
                    self._chunked_diff(end_tx)
                )
            else:
                local = DL.coalesced_segment_local(
                    self.source, after=hwm, upto=end_tx
                )
                if local is not None:
                    # driver-scale segment: the reference's own hash-set
                    # cancellation, no cluster round trip
                    add_rows, remove_rows = local
                else:
                    adds, removes = DL.coalesced_segment(
                        self.spark, self.source, after=hwm, upto=end_tx
                    )
                    add_rows, remove_rows = adds.collect(), removes.collect()
        dv_extra_adds: list[dict] = []
        if self.on_dv == "materialize":
            # DV'd adds are legal: surviving rows are staged with the
            # bitmap applied.  The coalesced view HIDES a DV recommit
            # (remove(P)+add(P,DV) cancels), so a dedicated delta pass
            # finds paths whose DV changed vs recorded provenance
            if snapshot_chunk is not None and versions[0] > hwm + 1:
                dv_extra_adds = self._dv_delta_snapshot(end_tx)
            else:
                dv_extra_adds = self._dv_delta_incremental(
                    hwm, end_tx, add_rows
                )
        else:
            self._check_no_deletion_vectors(add_rows)
            # the coalesced/cancelled view above can HIDE a delete_dv
            # commit (remove(P) + add(P, DV) on one path cancels to
            # nothing) — scan the RAW span too, else the mirror
            # silently diverges from the source
            self._check_span_has_no_dvs(hwm, end_tx)
        now = self.now_fn().isoformat()
        staging = self._item(start_tx, end_tx, "StagingTable", "Initial", now)
        if snapshot_chunk is not None:
            staging["internal_state"] = snapshot_chunk
        items: list[dict[str, Any]] = [staging]
        if schema_item is not None:
            # persisted WITH the batch so a crash here leaves no
            # complete-looking partial batch in the state store
            items.append(schema_item)
        for r in list(add_rows) + dv_extra_adds:
            it = self._item(start_tx, end_tx, "Add", "Initial", now)
            pv = _row_field(r, "partitionValues")
            if hasattr(pv, "asDict"):
                pv = pv.asDict()
            it.update(
                blob_path=r["path"],
                partition_values=json.dumps(pv or {}),
                size=_row_field(r, "size"),
                record_count=_row_field(r, "numRecords"),
                delta_timestamp=str(_row_field(r, "modificationTime")),
            )
            if self.on_dv == "materialize":
                desc = _dv_norm(_row_field(r, "deletionVector"))
                restage = bool(_row_field(r, "_mlk_restage"))
                if desc is not None or restage:
                    it["internal_state"] = json.dumps(
                        {
                            "dv": desc,
                            "dv_id": _dv_id(desc),
                            "restage": restage,
                        }
                    )
            items.append(it)
        for r in remove_rows:
            it = self._item(start_tx, end_tx, "Remove", "Initial", now)
            it.update(
                blob_path=r["path"],
                partition_values=json.dumps(r["partitionValues"] or {}),
            )
            items.append(it)
        return items, start_tx, end_tx

    def _chunked_diff(self, end_tx: int):
        """Path-ordered chunk of (active snapshot at end_tx) ∖ processed:
        at most ``max_items_per_batch`` items reach the driver per
        batch.  Returns (add_rows, remove_rows, chunk_state) where
        chunk_state is ``snapshot-chunk-partial`` while more chunks
        remain (the StagingTable item stays open, holding back the
        high-water mark) and ``snapshot-chunk-final`` on the last."""
        cap = self.max_items_per_batch
        adds, removes = self._snapshot_diff(end_tx)
        add_rows = adds.orderBy("path").limit(cap + 1).collect()
        if len(add_rows) > cap:
            return add_rows[:cap], [], "snapshot-chunk-partial"
        remove_rows = removes.orderBy("path").limit(cap + 1).collect()
        if len(remove_rows) > cap:
            return add_rows, remove_rows[:cap], "snapshot-chunk-partial"
        return add_rows, remove_rows, "snapshot-chunk-final"

    def _cap_span(self, hwm: int, end_tx: int) -> tuple[int, int]:
        """Commit-boundary chunking: choose the largest prefix of the
        pending versions whose cumulative action count stays under
        max_items_per_batch (always at least one commit).  Counts are
        line counts of the commit JSONs — a cheap streaming read, and a
        safe overestimate (metaData/protocol/txn lines count too).
        Returns (chosen end_tx, first commit's action count) — a first
        count above the cap means even a single-commit batch would
        blow the driver budget and the caller must chunk WITHIN it."""
        cap = self.max_items_per_batch
        pending = [
            v
            for v in DL.list_commit_versions(self.source)
            if hwm < v <= end_tx
        ]
        total = 0
        chosen = pending[0]
        first_n = 0
        from ..sources import fs as _fsmod

        src_fs = _fsmod.get_fs(self.source)
        for v in pending:
            text = src_fs.read_text(DL._commit_file(self.source, v))
            n = sum(1 for line in text.splitlines() if line.strip())
            if v == pending[0]:
                first_n = n
            if total + n > cap and v != pending[0]:
                break
            total += n
            chosen = v
        return chosen, first_n

    def _snapshot_diff(self, end_tx: int):
        """C2: newAdds = current snapshot ∖ processed adds; newRemoves =
        processed live adds absent from the snapshot.  Consistency: a
        'remove' of a path we never processed is an error (the reference
        throws a MirrorException for broken removes,
        TransactionLog.cs:137-151 — here impossible by construction
        since removes are derived FROM processed state)."""
        import pyspark.sql.functions as F2

        active = self._active_files(end_tx)
        # processed state stays a DataFrame end-to-end — past the
        # steering threshold the driver never materializes the
        # historical add list
        processed = (
            self.state.adds_df(self.table)
            .select(F.col("blob_path").alias("path"), "partition_values")
            .dropDuplicates(["path"])
        )
        # removes already applied must not resurface as missing adds
        removed = (
            self.state.removes_df(self.table)
            .select(F.col("blob_path").alias("path"))
            .dropDuplicates(["path"])
        )
        live_processed = processed.join(removed, "path", "left_anti")
        new_adds = active.join(processed, "path", "left_anti")
        new_removes = live_processed.join(active, "path", "left_anti").select(
            "path",
            F2.from_json(
                "partition_values", "map<string,string>"
            ).alias("partitionValues"),
        )
        return new_adds, new_removes

    def _active_files(self, end_tx: int) -> DataFrame:
        """Active file set at ``end_tx`` as a DataFrame — the same
        argmax replay snapshot_files performs, kept distributed for
        the snapshot-diff anti-joins and the DV-provenance join."""
        import pyspark.sql.functions as F2

        current = DL.file_actions(self.spark, self.source, upto=end_tx)
        return (
            current.groupBy("path")
            .agg(
                F2.max_by(
                    F2.struct(
                        "is_add", "partitionValues", "size", "numRecords",
                        "modificationTime", "deletionVector",
                    ),
                    F2.struct("tx_id", F2.col("is_add").cast("int")),
                ).alias("last")
            )
            .filter(F2.col("last.is_add"))
            .select(
                "path",
                F2.col("last.partitionValues").alias("partitionValues"),
                F2.col("last.size").alias("size"),
                F2.col("last.numRecords").alias("numRecords"),
                F2.col("last.modificationTime").alias("modificationTime"),
                F2.col("last.deletionVector").alias("deletionVector"),
            )
        )

    def _item(self, start_tx, end_tx, action, state, now) -> dict[str, Any]:
        return {
            "table_name": self.table,
            "start_tx_id": start_tx,
            "end_tx_id": end_tx,
            "action": action,
            "state": state,
            "mirror_timestamp": now,
            "delta_timestamp": None,
            "blob_path": None,
            "partition_values": None,
            "size": None,
            "record_count": None,
            "partition_columns": None,
            "schema": None,
            "internal_state": None,
        }

    def _check_schema(self, hwm: int, end_tx: int) -> dict[str, Any] | None:
        """Schema fixed per mirror lifetime; change mid-stream throws
        (TransactionLog.cs:153-157 parity).  Returns the Schema item to
        record on first discovery, else None."""
        meta = DL.latest_metadata(self.spark, self.source, upto=end_tx)
        if meta is None:
            raise ValueError(f"no metaData action in {self.source}")
        recorded = self._recorded_schema()
        if recorded is None:
            return self._schema_item(hwm, end_tx, meta)
        same_parts = json.loads(recorded["partition_columns"]) == (
            meta.get("partitionColumns") or []
        )
        if (
            json.loads(recorded["schema"]) == json.loads(meta["schemaString"])
            and same_parts
        ):
            return None
        if (
            self.on_schema_change
            in ("evolve-add", "evolve-rename", "evolve-drop")
            and same_parts
            and self._is_additive(recorded["schema"], meta["schemaString"])
        ):
            # record the widened schema; loads already read old files
            # under the latest schema (missing columns -> null).
            # A column-mapped TARGET (possible after a prior rename in
            # evolve-rename mode) cannot take the widened schema via
            # append's implicit metaData — _commit refuses schema-
            # changing appends on mapped tables — so evolve it
            # explicitly (idempotent no-op on crash replay)
            if (
                self.on_schema_change in ("evolve-rename", "evolve-drop")
                and self.sink._current_mapping()
            ):
                self.sink.evolve_add(meta["schemaString"])
            return self._schema_item(hwm, end_tx, meta)
        if self.on_schema_change == "widen" and same_parts:
            widen_map = self._widen_delta(
                recorded["schema"], meta["schemaString"]
            )
            if widen_map is not None:
                # follow the source's widening on the TARGET before any
                # load: evolve_widen rewrites the target metaData with
                # the typeWidening feature + per-field typeChanges
                # history (its old narrow files promote on read), and
                # is a replay-safe no-op when a crash already applied
                # it.  A never-appended target simply takes the wide
                # schema on its first append.  The load path reads
                # every source file — narrow pre-widen ones included —
                # under the schema at end_tx, so one batch may span
                # commits before AND after the widen.
                tgt_meta = DL.latest_metadata(self.spark, self.sink.path)
                if widen_map and tgt_meta is not None:
                    # only columns the target actually carries: a
                    # column ADDED and then widened on the source
                    # before any of its data reached the target has
                    # nothing to evolve — its first append arrives
                    # wide (the rename path filters identically)
                    tgt_names = {
                        f["name"]
                        for f in json.loads(tgt_meta["schemaString"])[
                            "fields"
                        ]
                    }
                    present = {
                        c: t
                        for c, t in widen_map.items()
                        if c in tgt_names
                    }
                    if present:
                        self.sink.evolve_widen(present)
                added = {
                    f["name"]
                    for f in json.loads(meta["schemaString"])["fields"]
                } - {
                    f["name"]
                    for f in json.loads(recorded["schema"])["fields"]
                }
                if added and self.sink._current_mapping():
                    # additions on a column-mapped target need explicit
                    # mapping identities (same rule as evolve-rename)
                    self.sink.evolve_add(meta["schemaString"])
                return self._schema_item(hwm, end_tx, meta)
        if self.on_schema_change == "evolve-rename":
            renames = self._rename_delta(recorded, meta)
            if renames is not None:
                # metadata-only rename: relabel the TARGET first, then
                # re-record.  Filtered against the target's CURRENT
                # columns so a crash-replay (rename applied, state not
                # yet persisted) computes an empty delta and skips —
                # and a never-appended target simply gets the new
                # names on its first append
                tgt_meta = DL.latest_metadata(self.spark, self.sink.path)
                tgt_names = (
                    {
                        f["name"]
                        for f in json.loads(tgt_meta["schemaString"])[
                            "fields"
                        ]
                    }
                    if tgt_meta is not None
                    else set()
                )
                target_renames = {
                    o: n
                    for o, n in renames.items()
                    if o != n and o in tgt_names
                }
                if target_renames:
                    self.sink.evolve_rename(target_renames)
                return self._schema_item(hwm, end_tx, meta)
        if self.on_schema_change == "evolve-drop" and same_parts:
            dropped = self._drop_delta(
                recorded["schema"], meta["schemaString"]
            )
            if dropped is not None:
                # follow the source's drop on the TARGET before any
                # load: evolve_drop is metadata-only, and filtering to
                # the columns the target still carries makes a crash
                # replay a no-op.  Loads read source files (wide
                # pre-drop ones included) under the schema at end_tx —
                # parquet readers ignore physical columns the schema
                # no longer names
                tgt_meta = DL.latest_metadata(self.spark, self.sink.path)
                if tgt_meta is not None:
                    tgt_names = {
                        f["name"]
                        for f in json.loads(tgt_meta["schemaString"])[
                            "fields"
                        ]
                    }
                    present = sorted(set(dropped) & tgt_names)
                    if present:
                        self.sink.evolve_drop(present)
                added = {
                    f["name"]
                    for f in json.loads(meta["schemaString"])["fields"]
                } - {
                    f["name"]
                    for f in json.loads(recorded["schema"])["fields"]
                }
                if added and self.sink._current_mapping():
                    self.sink.evolve_add(meta["schemaString"])
                return self._schema_item(hwm, end_tx, meta)
        raise SchemaChangedError(
            "source schema or partition columns changed mid-stream"
            + (
                " (non-additive change; evolve-add only accepts "
                "added columns)"
                if self.on_schema_change == "evolve-add"
                else " (not a pure rename/add; evolve-rename accepts "
                "added columns and column-mapping renames, never "
                "drop/retype)"
                if self.on_schema_change == "evolve-rename"
                else " (not an add or lossless widening; widen accepts "
                "added columns and PROTOCOL.md Type Widening retypes — "
                "int->long, float->double, decimal growth — never "
                "drops or lossy retypes)"
                if self.on_schema_change == "widen"
                else " (not an add or drop; evolve-drop accepts added "
                "and dropped columns, never renames or retypes)"
                if self.on_schema_change == "evolve-drop"
                else ""
            )
        )

    def _schema_item(self, hwm: int, end_tx: int, meta: dict) -> dict:
        """The Schema state-store item recording ``meta``'s schema +
        partition columns for the span starting at hwm+1 — one shape,
        shared by every _check_schema branch."""
        return {
            **self._item(
                hwm + 1, end_tx, "Schema", "Done", self.now_fn().isoformat()
            ),
            "schema": meta["schemaString"],
            "partition_columns": json.dumps(
                meta.get("partitionColumns") or []
            ),
        }

    def _drop_delta(
        self, old_json: str, new_json: str
    ) -> list[str] | None:
        """Columns the source DROPPED when the schema change is
        adds + drops only (surviving fields keep name and type);
        None when any surviving field was retyped, or when a
        "dropped" field's column-mapping physical identity reappears
        under a new logical name — that is a RENAME, and following it
        as drop+null-re-add would silently blank the target column
        (renames always carry mapping metadata: Delta requires
        columnMapping for them)."""
        old_f = {f["name"]: f for f in json.loads(old_json)["fields"]}
        new_f = {f["name"]: f for f in json.loads(new_json)["fields"]}
        dropped = sorted(set(old_f) - set(new_f))
        if not dropped:
            return None
        for name in set(old_f) & set(new_f):
            if old_f[name]["type"] != new_f[name]["type"]:
                return None

        def phys(f: dict) -> str:
            return (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )

        dropped_phys = {phys(old_f[n]) for n in dropped}
        for n in set(new_f) - set(old_f):
            if phys(new_f[n]) in dropped_phys:
                return None  # rename-shaped, not a drop
        return dropped

    def _widen_delta(
        self, old_json: str, new_json: str
    ) -> dict[str, str] | None:
        """{column -> new Delta type} of every safely WIDENED column
        when the schema change is adds + lossless widenings only (the
        dict is empty for a pure add); None when any old field is
        dropped or retyped outside the widening matrix."""
        from ..sources.delta_log import is_type_widening

        old = {f["name"]: f for f in json.loads(old_json)["fields"]}
        new = {f["name"]: f for f in json.loads(new_json)["fields"]}
        if not (set(old) <= set(new)):
            return None  # dropped column: never follow
        out: dict[str, str] = {}
        for name, f in old.items():
            new_t = new[name]["type"]
            if f["type"] == new_t:
                continue
            if is_type_widening(f["type"], new_t):
                out[name] = new_t
            else:
                return None
        return out

    def _rename_delta(self, recorded, meta) -> dict[str, str] | None:
        """Old-logical -> new-logical name map when the schema change
        is a pure column-mapping RENAME (plus optionally added fields):
        every recorded field must survive in the new schema with the
        same PHYSICAL identity (``delta.columnMapping.physicalName``,
        which a rename never changes — a field that lacked one gets
        its then-logical name as physical identity at mapping
        enablement) and an identical type.  Returns None when any old
        field is dropped or retyped (not a rename)."""

        def phys(f):
            return (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )

        old_fields = json.loads(recorded["schema"])["fields"]
        new_fields = json.loads(meta["schemaString"])["fields"]
        new_by_phys = {phys(f): f for f in new_fields}
        renames: dict[str, str] = {}
        for f in old_fields:
            nf = new_by_phys.get(phys(f))
            if nf is None or nf["type"] != f["type"]:
                return None  # dropped or retyped: not a rename
            renames[f["name"]] = nf["name"]
        # partition columns must map through the same rename (keys in
        # the new metaData may be physical under column mapping)
        from ..sources.delta_log import column_mapping_of

        mapping = column_mapping_of(meta)
        log_of = {v: k for k, v in (mapping or {}).items()}
        new_parts = [
            log_of.get(c, c) for c in (meta.get("partitionColumns") or [])
        ]
        old_parts = json.loads(recorded["partition_columns"] or "[]")
        if [renames.get(c, c) for c in old_parts] != new_parts:
            return None
        return renames

    @staticmethod
    def _is_additive(old_json: str, new_json: str) -> bool:
        """True when every old field survives with an identical type and
        the new schema only ADDS fields."""
        old = {f["name"]: f for f in json.loads(old_json)["fields"]}
        new = {f["name"]: f for f in json.loads(new_json)["fields"]}
        return set(old) <= set(new) and all(
            old[n]["type"] == new[n]["type"] for n in old
        )

    def _recorded_schema(self) -> dict | None:
        rows = self.state.current_items(self.table, "Schema")
        return max(rows, key=lambda r: r["start_tx_id"]) if rows else None

    def _analyze(self, items: list[dict], end_tx: int) -> None:
        """O4 empty-file skip + O5 go-back retention skip, with the
        creation-time expression batched over distinct partition tuples
        (one createDataFrame + F.expr round trip = the reference's ONE
        parameterized print/union query, O7)."""
        add_items = [i for i in items if i["action"] == "Add" and i["state"] == "Initial"]
        for it in add_items:
            if it["record_count"] == 0 and not _item_dv(it)[1]:
                # empty file, nothing to ingest — UNLESS this is a DV
                # re-stage, whose staging step still owes the delete
                # of the previously mirrored rows
                it["state"] = "Done"
        if self.go_back_days is None:
            for it in add_items:
                if it["state"] == "Initial":
                    it["state"] = "Analyzed"
            return
        cutoff = self.now_fn() - _dt.timedelta(days=self.go_back_days)
        pending = [i for i in add_items if i["state"] == "Initial"]
        creation = self._creation_times(pending)
        for it in pending:
            if _item_dv(it)[1]:
                # a DV re-stage CORRECTS rows already in the mirror
                # (prior add was staged, not skipped — _dv_delta only
                # sets restage then); the retention skip is about not
                # ingesting old data, and skipping here would swallow
                # the owed delete, stranding source-deleted rows
                # forever (round-9 review finding)
                it["state"] = "Analyzed"
                continue
            ct = creation.get(it["blob_path"])
            if ct is not None and ct < cutoff:
                it["state"] = "Skipped"  # O5: predates retention window
            else:
                it["state"] = "Analyzed"

    def _resolved_creation_expr(self, part_cols: list[str]) -> str:
        """The creation-time expression as SPARK SQL, honoring
        creation_time_dialect: 'spark' passes through, 'kql' translates
        via kql_parse.translate_expr, 'auto' keeps the Spark spelling
        when it ANALYZES against the p0..pn probe columns and falls
        back to the KQL translation otherwise.  Resolved once per
        pipeline (analysis only — no job)."""
        if self._ct_expr_resolved is not None:
            return self._ct_expr_resolved
        expr = self.creation_time_expr
        if self.creation_time_dialect == "kql":
            from ..functions.kql_parse import translate_expr

            expr = translate_expr(expr)
        elif self.creation_time_dialect == "auto":
            probe = self.spark.createDataFrame(
                [tuple("1" for _ in part_cols) or ("1",)],
                ", ".join(f"{c} string" for c in part_cols) or "p0 string",
            )
            try:
                probe.select(F.expr(expr).cast("timestamp")).schema
            except Exception:
                from ..functions.kql_parse import translate_expr

                translated = translate_expr(self.creation_time_expr)
                # the translation must itself analyze, or we surface
                # ITS error (the user meant one of the two dialects)
                probe.select(F.expr(translated).cast("timestamp")).schema
                expr = translated
        self._ct_expr_resolved = expr
        return expr

    def _creation_times(self, items: list[dict]) -> dict[str, _dt.datetime]:
        """blob path -> creation time.  With an expression: evaluate it
        server-side over p0..pn partition-value columns (J1); without:
        the blob's delta modificationTime."""
        if not items:
            return {}
        if self.creation_time_expr is None:
            return {
                i["blob_path"]: _dt.datetime.utcfromtimestamp(
                    int(i["delta_timestamp"]) / 1000.0
                )
                for i in items
                if i["delta_timestamp"] is not None
            }
        meta = DL.latest_metadata(self.spark, self.source)
        part_cols = meta.get("partitionColumns") or []
        ct_expr = self._resolved_creation_expr(
            [f"p{j}" for j in range(len(part_cols))]
        )
        if not part_cols:
            row = self.spark.range(1).select(
                F.expr(ct_expr).cast("timestamp").alias("_ct")
            ).first()
            return (
                {i["blob_path"]: row["_ct"] for i in items}
                if row["_ct"] is not None
                else {}
            )
        tuples = {}
        for i in items:
            pv = json.loads(i["partition_values"] or "{}")
            tuples.setdefault(tuple(pv.get(c) for c in part_cols), []).append(
                i["blob_path"]
            )
        rows = [list(k) for k in tuples]
        cols = [f"p{j}" for j in range(len(part_cols))]
        df = DL.local_frame(
            self.spark, rows, ", ".join(f"{c} string" for c in cols)
        )
        evaluated = df.withColumn(
            "_ct", F.expr(ct_expr).cast("timestamp")
        ).collect()
        out: dict[str, _dt.datetime] = {}
        for r in evaluated:
            key = tuple(r[c] for c in cols)
            for path in tuples[key]:
                if r["_ct"] is not None:
                    out[path] = r["_ct"]
        return out

    def _stage_and_load(self, items: list[dict], end_tx: int) -> int:
        """Read surviving add blobs in ONE scan whatever their partition
        tuples, attach typed partition values (O6/A7) and lineage
        columns (H5) from one broadcast per-file frame
        (``delta_log.scan_with_file_frame``), and publish with ONE
        idempotent atomic commit (K5/O11/I3)."""
        todo = [i for i in items if i["action"] == "Add" and i["state"] == "Analyzed"]
        if not todo:
            return 0
        app_id = self.app_id
        staging = next(
            (i for i in items if i["action"] == "StagingTable"), None
        )
        if staging is not None and (
            staging.get("internal_state") or ""
        ).startswith("snapshot-chunk"):
            # snapshot-diff chunks share one end_tx, so each chunk needs
            # its own idempotence key: a digest of its blob-path set —
            # deterministically re-derivable from the persisted items on
            # crash recovery (I3 survives chunking)
            import hashlib

            digest = hashlib.sha256(
                "\n".join(sorted(i["blob_path"] for i in todo)).encode()
            ).hexdigest()[:16]
            app_id = f"{self.app_id}#chunk-{digest}"
        last_v = DL.last_txn_version(self.spark, self.sink.path, app_id)
        if last_v is not None and last_v >= end_tx:
            # crash happened after the data commit: nothing to redo (I3)
            for it in todo:
                it["state"] = "Staged"
            return len(todo)
        # DV re-stages (materialize mode): the path's previously
        # mirrored rows come out FIRST, keyed on lineage and bounded to
        # PRIOR batches (MLK_BatchTxId < end_tx), so a crash-and-resume
        # re-issues an idempotent no-op delete and the guarded append
        # below never double-lands rows
        dv_descs: dict[str, dict] = {}
        restage_paths: list[str] = []
        for it in todo:
            desc, restage = _item_dv(it)
            if desc is not None:
                dv_descs[it["blob_path"]] = desc
            if restage:
                restage_paths.append(it["blob_path"])
        if restage_paths:
            abs_paths = [self._lineage_path(p) for p in sorted(restage_paths)]
            quoted = ", ".join(
                "'" + p.replace("'", "\\'") + "'" for p in abs_paths
            )
            self.sink.delete(
                f"MLK_BlobPath IN ({quoted}) "
                f"AND MLK_BatchTxId < {int(end_tx)}"
            )
        meta = DL.latest_metadata(self.spark, self.source, upto=end_tx)
        # source row tracking: carry every row's SOURCE identity into
        # the mirror as a lineage column — repacking would otherwise
        # silently strip the lineage the source guaranteed
        rt_src = (
            str(
                (meta.get("configuration") or {}).get(
                    "delta.enableRowTracking", ""
                )
            ).lower()
            == "true"
        )
        base_of = (
            {
                f["path"]: f.get("baseRowId")
                for f in DL.snapshot_files(self.spark, self.source, upto=end_tx)
            }
            if rt_src
            else {}
        )
        # every batch constant is a column of the per-file frame, not a
        # literal: consecutive batches generate identical code.  DV'd
        # files keep only their SURVIVING rows
        out = DL.scan_with_file_frame(
            self.spark,
            self.source,
            meta,
            [
                {
                    "path": it["blob_path"],
                    "partitionValues": json.loads(
                        it["partition_values"] or "{}"
                    ),
                    "deletionVector": dv_descs.get(it["blob_path"]),
                    "baseRowId": base_of.get(it["blob_path"]),
                    "MLK_BlobPath": self._lineage_path(it["blob_path"]),
                    "MLK_BatchTxId": end_tx,
                }
                for it in todo
            ],
            StructType(
                [
                    StructField("MLK_BlobPath", StringType()),
                    StructField("MLK_BatchTxId", LongType()),
                ]
            ),
            apply_dvs=True,
            # lineage column: the SOURCE's stable row id per mirrored row
            row_ids=("MLK_SourceRowId", None) if rt_src else None,
        )
        extra_actions: list[dict] = []
        # preserve the source's app-domain metadata (PROTOCOL.md
        # "Domain Metadata"): a consumer of the MIRROR must see the
        # domains the SOURCE carried.  delta.* domains are per-table
        # internals (row-id watermarks, clustering state) and stay put.
        for domain, conf in DL.latest_domain_metadata(
            self.source, upto=end_tx
        ).items():
            if domain.startswith("delta."):
                continue
            extra_actions.append(
                {
                    "domainMetadata": {
                        "domain": domain,
                        "configuration": conf,
                        "removed": False,
                    }
                }
            )
        self.sink.append(
            out, txn=(app_id, end_tx), extra_actions=extra_actions
        )
        for it in todo:
            it["state"] = "Staged"
        return len(todo)

    def _check_span_has_no_dvs(self, hwm: int, end_tx: int) -> None:
        """Raw-commit scan of (hwm, end_tx] for deletion-vector adds:
        a merge-on-read DELETE writes remove(P)+add(P,DV) on the SAME
        path, which the coalesced segment cancels away entirely — the
        guard must look at the uncancelled actions (driver-side JSON,
        the same data _cap_span already line-counts)."""
        from ..sources.delta_log import UnsupportedTableFeature

        for v in DL.list_commit_versions(self.source):
            if not (hwm < v <= end_tx):
                continue
            for act in DL._read_commit(self.source, v):
                dv = (act.get("add") or {}).get("deletionVector") or {}
                if dv.get("cardinality"):
                    raise UnsupportedTableFeature(
                        f"source commit {v} rewrites "
                        f"{act['add']['path']} with a deletion vector "
                        f"({dv['cardinality']} deleted rows); mirroring "
                        "merge-on-read tables is not supported — REORG "
                        "the source to materialize deletes first"
                    )

    def _latest_add_items(
        self, paths: set[str]
    ) -> dict[str, tuple[str, str | None]]:
        """blob_path -> (state, internal_state) of the LATEST Add item
        per path, for a bounded probe set — driver map under the
        steering threshold, broadcast-probe join past it."""
        if not paths:
            return {}
        if not self.state.steering_is_driver_side():
            probe = DL.local_frame(
                self.spark, [(p,) for p in sorted(paths)], "blob_path string"
            )
            latest = (
                self.state.adds_df(self.table)
                .join(F.broadcast(probe), "blob_path")
                .groupBy("blob_path")
                .agg(
                    F.max_by(
                        F.struct("state", "internal_state"),
                        F.struct("start_tx_id", "end_tx_id"),
                    ).alias("last")
                )
            )
            return {
                r["blob_path"]: (r["last"]["state"], r["last"]["internal_state"])
                for r in latest.collect()
            }
        out: dict[str, tuple[str, str | None]] = {}
        # current_items sorts ascending by start_tx — last write wins
        for it in self.state.current_items(self.table, "Add"):
            if it["blob_path"] in paths:
                out[it["blob_path"]] = (it["state"], it.get("internal_state"))
        return out

    def _dv_delta_incremental(
        self, hwm: int, end_tx: int, add_rows
    ) -> list[dict]:
        """Materialize-mode DV delta over the raw span (hwm, end_tx]:
        paths whose FINAL span action is an add but which the
        coalescing cancelled (remove(P)+add(P,DV) pairs) are compared
        against recorded DV provenance; a changed bitmap synthesizes a
        re-stage Add (old lineage rows deleted in the staging step).
        Driver cost: the same commit JSONs _cap_span already read."""
        final: dict[str, dict | None] = {}
        for v in DL.list_commit_versions(self.source):
            if not (hwm < v <= end_tx):
                continue
            # two passes per commit — removes then adds — so a commit
            # carrying both actions for one path resolves ADD-WINS
            # regardless of physical line order, matching the
            # argmax(tx_id, is_add) tie-break the snapshot replay uses
            # (round-9 review finding: a writer emitting [add, remove]
            # order must not hide the DV change)
            acts = DL._read_commit(self.source, v)
            for act in acts:
                if "remove" in act:
                    final[act["remove"]["path"]] = None
            for act in acts:
                if "add" in act:
                    final[act["add"]["path"]] = act["add"]
        live_paths = {r["path"] for r in add_rows}
        candidates = {
            p: a
            for p, a in final.items()
            if a is not None and p not in live_paths
        }
        if not candidates:
            return []
        prior = self._latest_add_items(set(candidates))
        extra: list[dict] = []
        for p, a in sorted(candidates.items()):
            desc = _dv_norm(a.get("deletionVector"))
            state, internal = prior.get(p, (None, None))
            rec_desc, _ = _item_dv({"internal_state": internal})
            if desc is None and rec_desc is None:
                # no DV on either side: plain coalescing churn (or a
                # pending later chunk on the fat-commit path) — keep
                # the existing cancellation semantics
                continue
            if _dv_id(desc) == _dv_id(rec_desc):
                continue  # DV unchanged
            if state == "Skipped":
                # the reference invariant (BlobLoadingOrchestration.cs:
                # 96-115): a skipped add skips its follow-ups.  Record
                # the new provenance (so detection converges) but do
                # not resurrect skipped data — the item re-enters
                # analyze, which re-applies the same skip policy
                restage = False
            else:
                restage = state is not None
            extra.append(
                {
                    "path": p,
                    "partitionValues": dict(a.get("partitionValues") or {}),
                    "size": a.get("size"),
                    "numRecords": DL._num_records(a.get("stats")),
                    "modificationTime": a.get("modificationTime"),
                    "deletionVector": desc,
                    "_mlk_restage": restage,
                }
            )
        if len(extra) > self.max_items_per_batch:
            # same driver-item ceiling the snapshot twin enforces — a
            # fat delete_dv commit must not sneak an unbounded item
            # list past max_items_per_batch via the DV delta
            raise ValueError(
                f"more than {self.max_items_per_batch} DV-changed "
                "files in one batch; raise max_items_per_batch or "
                "sync the source more often"
            )
        return extra

    def _dv_delta_snapshot(self, end_tx: int) -> list[dict]:
        """Materialize-mode DV delta on the vacuumed-log snapshot path:
        commits are gone, so changed bitmaps are found by joining the
        active file set against recorded provenance in the state —
        one metadata-scale shuffle, collected bounded.  Fresh adds
        need no handling here: the inner join against PROCESSED state
        excludes them, and their provenance records from their own
        add rows."""
        import pyspark.sql.functions as F2

        active = self._active_files(end_tx)
        latest = self.state.adds_df(self.table).groupBy("blob_path").agg(
            F2.max_by(
                F2.struct("state", "internal_state"),
                F2.struct("start_tx_id", "end_tx_id"),
            ).alias("last")
        )
        # SQL twin of _dv_id — keep in lockstep
        act_id = F2.when(
            F2.col("deletionVector").isNotNull()
            & (F2.coalesce(F2.col("deletionVector.cardinality"), F2.lit(0)) > 0),
            F2.concat_ws(
                ":",
                F2.coalesce(F2.col("deletionVector.storageType"), F2.lit("")),
                F2.coalesce(
                    F2.col("deletionVector.pathOrInlineDv"), F2.lit("")
                ),
                F2.coalesce(F2.col("deletionVector.offset"), F2.lit(0)),
            ),
        )
        rec_id = F2.get_json_object(F2.col("last.internal_state"), "$.dv_id")
        changed = (
            active.join(
                latest, active["path"] == latest["blob_path"], "inner"
            )
            .filter(~act_id.eqNullSafe(rec_id))
            .select(
                "path", "partitionValues", "size", "numRecords",
                "modificationTime", "deletionVector",
                F2.col("last.state").alias("_prior_state"),
            )
        )
        cap = self.max_items_per_batch
        rows = changed.limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"more than {cap} DV-changed files in one snapshot "
                "batch; raise max_items_per_batch or sync the source "
                "more often"
            )
        extra: list[dict] = []
        for r in rows:
            desc = _dv_norm(r["deletionVector"])
            extra.append(
                {
                    "path": r["path"],
                    "partitionValues": dict(r["partitionValues"] or {}),
                    "size": r["size"],
                    "numRecords": r["numRecords"],
                    "modificationTime": r["modificationTime"],
                    "deletionVector": desc,
                    "_mlk_restage": r["_prior_state"] != "Skipped",
                }
            )
        return extra

    @staticmethod
    def _check_no_deletion_vectors(add_rows) -> None:
        """The mirror ingests FILES; an add carrying a deletion vector
        means some of that file's rows are logically deleted, and
        copying the file as-is would resurrect them.  The QUERY side
        reads DV tables fine (delta_log.read_snapshot applies the
        bitmaps); the mirror refuses loudly — reference parity with
        its own unsupported-log-shape throw
        (TransactionLogEntry.cs:341-342)."""
        from ..sources.delta_log import UnsupportedTableFeature

        for r in add_rows:
            try:
                d = r["deletionVector"]
            except (KeyError, ValueError, TypeError):
                continue
            card = (d["cardinality"] if d is not None else None) or 0
            if card > 0:
                raise UnsupportedTableFeature(
                    f"source file {r['path']} carries a deletion vector "
                    f"({card} deleted rows); mirroring merge-on-read "
                    "tables is not supported — OPTIMIZE/REORG the "
                    "source to materialize deletes first"
                )

    def _lineage_path(self, rel: str) -> str:
        """The MLK_BlobPath spelling for a source-relative blob path —
        must match the ingestion column byte-for-byte: full path with a
        ``file:`` scheme stripped (other schemes kept) and percent-
        encoding undone, exactly what
        ``url_decode(regexp_replace(input_file_name(), '^file:(//)?', ''))``
        records at scan time."""
        from ..sources import fs as _fsmod

        return _fsmod.data_path_spelling(self.source, rel)

    def _apply_removes(self, items: list[dict]) -> int:
        """C3 + K6: match removes to their historical adds; a skipped
        add skips its remove (BlobLoadingOrchestration.cs:88-153); the
        rest become one row-level delete keyed on MLK_BlobPath."""
        removes = [
            i
            for i in items
            if i["action"] == "Remove" and i["state"] not in COMPLETE_STATES
        ]
        if not removes:
            return 0
        # look up only THIS batch's remove paths, not the full
        # historical add list
        hist = {
            p: state
            for p, (state, _internal) in self._latest_add_items(
                {i["blob_path"] for i in removes}
            ).items()
        }
        # adds staged in THIS batch are in `items`, possibly not yet persisted
        for i in items:
            if i["action"] == "Add":
                hist[i["blob_path"]] = i["state"]
        to_delete: list[str] = []
        for it in removes:
            add_state = hist.get(it["blob_path"])
            if add_state is None:
                raise ValueError(
                    f"remove without historical add: {it['blob_path']}"
                )  # consistency check, BlobLoadingOrchestration.cs:109-115
            if add_state == "Skipped":
                it["state"] = "Skipped"  # skipped add => skipped remove (O5)
            else:
                to_delete.append(it["blob_path"])
                it["state"] = "Staged"
        if to_delete:
            abs_paths = [self._lineage_path(p) for p in to_delete]
            quoted = ", ".join("'" + p.replace("'", "\\'") + "'" for p in abs_paths)
            self.sink.delete(f"MLK_BlobPath IN ({quoted})")
        return len(to_delete)

    def _stamp_and_persist(self, items: list[dict]) -> None:
        now = self.now_fn().isoformat()
        for it in items:
            it["mirror_timestamp"] = now
        self.state.persist(items)
