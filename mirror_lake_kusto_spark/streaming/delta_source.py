"""``mlk_delta``: a Structured Streaming source for Delta tables,
implemented with Spark 4's Python DataSource API (SURVEY §2.I — the
Delta commit stream consumed as real micro-batches instead of a poll
loop).

    spark.dataSource.register(DeltaLogDataSource)
    df = (spark.readStream.format("mlk_delta")
            .option("path", table_path)
            .load())

Semantics (matching Delta's own streaming source, which the reference's
log tailer hand-rolls at DeltaTableGateway.cs:71-159):

- offsets are commit versions; each micro-batch covers the adds of
  ``(start, end]`` commits — one InputPartition per data file, so read
  parallelism equals file count (O8's capacity-bounded parallelism is
  Spark's scheduler here);
- ``dataChange=false`` actions (OPTIMIZE churn) are ignored — the
  streaming twin of the mirror's add/remove cancellation (O2);
- a ``dataChange=true`` remove makes the source raise unless
  ``skipChangeCommits`` is set (Delta's option of the same name) or
  the commit is delete-only under ``ignoreDeletes``: streams cannot
  retract rows;
- the INITIAL SNAPSHOT (vacuumed table materialized from its
  checkpoint) has batch semantics, so deletion-vector'd files are
  read with their bitmaps APPLIED — only mid-stream DVs are
  retractions;
- ``readChangeFeed`` streams versioned insert/delete ROWS instead
  (``_change_type`` + ``_commit_version`` columns) — the continuous
  twin of ``DeltaSink.changes``; mutually exclusive with
  ``skipChangeCommits``.  A commit carrying ``cdc`` actions (DML
  under ``delta.enableChangeDataFeed``) streams exclusively from its
  ``_change_data`` files — exact row-level deletes/updates with
  ``_change_type`` read from the file;
- partition-column values are injected typed from the add action's
  partitionValues (A7/O6) — they are not stored in the data files;
- reads return Arrow RecordBatches (zero row-at-a-time Python cost).

Planning (offsets, file listing) is driver-side metadata read through
the batch reader's log functions (``delta_log``: the ``fs`` layer, a
coordinated table's ratified staged tail); the data path is
executor-side pyarrow, Arrow all the way into the JVM.
"""

from __future__ import annotations

import dataclasses
import json
import os
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..sources import delta_log as DL

def _head(path: str) -> int:
    """Newest readable version: the last commit (a coordinated table's
    ratified staged tail included) or the checkpoint, whichever is
    later; -1 for an empty log."""
    return DL.log_segment(path).version


def _driver_snapshot(path: str, upto: int) -> list[dict]:
    """Active files at ``upto`` via the batch reader's driver-side
    replay (checkpoint + JSON tail, no Spark job) — the initial
    snapshot's materialization.  DV'd files keep their descriptor: the
    initial snapshot has batch semantics, so the reader applies the
    bitmap at scan time — only MID-STREAM deletion vectors are
    retractions and refuse.  A log whose JSON tail exceeds the driver
    budget fails with a pointer at the batch reader (such tables have
    checkpoints; write one)."""
    try:
        return DL._live_files(path, DL.log_segment(path, upto))
    except DL._LogTooBig:
        raise ValueError(
            f"initialSnapshot of {path}: the JSON log tail exceeds the "
            "driver replay budget — checkpoint the table first (the "
            "snapshot then materializes from the checkpoint)"
        ) from None


def _schema_fingerprint(schema_string: "str | None") -> "str | None":
    """Canonical form of a metaData schemaString for the mid-stream
    evolution guard: NULLABILITY is normalized away (the sink re-emits
    metaData whenever an appended frame's nullable flags differ, e.g.
    spark.range's NOT NULL id — a change that never affects what a
    reader must do), while names, types, ORDER, and field metadata
    (collations, column-mapping physicalName) all stay significant."""
    if schema_string is None:
        return None
    try:
        parsed = json.loads(schema_string)
    except ValueError:
        return schema_string

    def norm(node):
        if isinstance(node, dict):
            return {
                k: (True if k in ("nullable", "containsNull",
                                  "valueContainsNull") else norm(v))
                for k, v in node.items()
            }
        if isinstance(node, list):
            return [norm(x) for x in node]
        return node

    return json.dumps(norm(parsed), sort_keys=True)


LINEAGE_COL = "MLK_BlobPath"
#: changeRowIds columns: the (file, index-in-file) physical identity of
#: each change row — Delta row tracking's (base file, row index) pair,
#: synthesizable for free because every change partition knows exactly
#: which file rows it emits (full file, DV survivors, or a bitmap delta)
ROW_ID_FILE_COL = "_mlk_src_file"
ROW_ID_IDX_COL = "_mlk_src_row_idx"


@dataclasses.dataclass
class _FilePartition(InputPartition):
    file_path: str
    partition_values: dict
    schema_json: str
    # change-feed annotations (readChangeFeed mode); inserts at -1 mean
    # the plain-stream path where the columns are absent
    change_type: str = "insert"
    commit_version: int = -1
    # serialized roaring bitmap of deleted row indices (initial-
    # snapshot files under merge-on-read; KB-scale, expanded
    # executor-side)
    dv_payload: "bytes | None" = None
    # how dv_payload filters the file: "apply" drops its indices
    # (survivors stream), "select_delta" keeps exactly the indices in
    # dv_payload MINUS dv_old_payload (the bitmap delta a DV-rewrite
    # commit contributes to the change feed)
    dv_mode: str = "apply"
    dv_old_payload: "bytes | None" = None


class DeltaLogStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        table_path: str,
        schema: StructType,
        skip_change_commits: bool,
        max_commits_per_trigger: int | None = None,
        read_change_feed: bool = False,
        starting_version: int | None = None,
        max_bytes_per_trigger: int | None = None,
        ignore_deletes: bool = False,
        initial_snapshot: bool = False,
        on_dv: str = "fail",
        guard_anchor: "tuple[int, str | None] | None" = None,
    ):
        self.path = table_path
        self._schema = schema
        self.skip_change_commits = skip_change_commits
        #: Delta's ignoreDeletes: commits that ONLY remove data (a
        #: retention delete of whole files/partitions) are skipped;
        #: commits that remove AND add (updates, DV rewrites) still
        #: raise — those need skipChangeCommits, which drops the adds
        #: too.  The narrower of the two opt-outs.
        self.ignore_deletes = ignore_deletes
        #: Delta's default semantics as an OPT-IN: materialize the
        #: net snapshot at stream start (DVs applied) and stream only
        #: commits past it — no retraction errors from historical
        #: deletes.  Default stays replay-from-v0 (this source's
        #: established stream==batch-per-commit contract).
        self.initial_snapshot = initial_snapshot
        #: onDv='materialize': files BORN with a deletion vector stream
        #: their SURVIVING rows (the bitmap applied at scan, exactly
        #: like the initial snapshot); DV REWRITES of already-emitted
        #: files still refuse — an append-only stream cannot retract.
        #: Default 'fail' keeps the loud refusal on any DV'd add.
        self.on_dv = on_dv
        self.max_commits_per_trigger = max_commits_per_trigger
        self.max_bytes_per_trigger = max_bytes_per_trigger
        self.read_change_feed = read_change_feed
        #: mid-stream schema-evolution guard (round 11): the stream's
        #: schema is pinned at load, so a metaData change LANDING AFTER
        #: this reader started would silently drop new columns (or
        #: mis-read renamed ones) from every subsequent batch.  Delta's
        #: own source fails the stream on schema change; so do we.
        #: Historical evolution (commits at/below the head we loaded
        #: from) replays fine: files are read WITH the latest schema
        #: (null-fill added columns, cast widened ones).  The anchor
        #: (head, schemaString) comes from DataSource.schema() — the
        #: SAME metadata read that pinned the stream schema — so an
        #: evolution racing between the two reads cannot disarm the
        #: guard (round-11 review); re-derived here only when a
        #: user-supplied schema bypassed schema().
        if guard_anchor is None:
            snap = DL.snapshot(table_path)
            guard_anchor = (
                snap.version,
                (snap.metadata or {}).get("schemaString"),
            )
        self._init_head = guard_anchor[0]
        self._declared_schema_fp = _schema_fingerprint(guard_anchor[1])
        #: per-version cache of this reader's emitted-entry lists
        #: (driver metadata; bounded)
        self._entries_cache: dict[int, list] = {}
        #: Delta's startingVersion option: begin at this COMMIT instead
        #: of materializing the initial snapshot ('latest' resolved to
        #: head+1 by the DataSource).  None = snapshot-then-stream.
        self.starting_version = starting_version
        # progress floor for admission control: learned from
        # initialOffset (fresh query) and each planned batch's END
        # offset in partitions().  The Python DataSource API calls
        # latestOffset with no view of the start offset (and does not
        # deliver commit() to the planner instance — verified
        # empirically), so on a RESTARTED query the first batch is
        # unbounded; every batch after it is capped (I5 latency tuning,
        # the maxFilesPerTrigger analogue).  A position is
        # (version, index): index None = commit fully consumed,
        # index k = the commit's first k emitted files consumed
        # (maxBytesPerTrigger splits a fat commit mid-way).
        self._floor: "tuple[int, int | None] | None" = None

    @staticmethod
    def _pos(off: dict) -> "tuple[int, int | None]":
        return off["version"], off.get("index")

    @staticmethod
    def _off(pos: "tuple[int, int | None]") -> dict:
        v, idx = pos
        return {"version": v} if idx is None else {"version": v, "index": idx}

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            # begin at the requested commit: offsets are exclusive
            # starts, so version N streams from commit N on, and the
            # checkpoint-snapshot materialization path (which triggers
            # only at offset -1) is skipped by construction
            self._floor = (self.starting_version - 1, None)
            return {"version": self.starting_version - 1}
        self._floor = (-1, None)
        return {"version": -1}

    def latestOffset(self) -> dict:
        # one read of the log: the commit listing admission walks, and
        # the head (a fully-vacuumed log's checkpoint is its only
        # readable state)
        snap = DL.snapshot(self.path)
        vs = snap.commits
        seg = snap.segment
        latest = seg.version
        cap = self.max_commits_per_trigger
        max_bytes = self.max_bytes_per_trigger
        if (cap is None and max_bytes is None) or self._floor is None:
            return {"version": latest}
        floor_v, floor_idx = self._floor
        if floor_v == -1 and self.initial_snapshot:
            # initialSnapshot: the net snapshot at stream start is one
            # indivisible unit and forms the whole first batch at the
            # HEAD version — a commit boundary, never mid-commit.
            # Byte-capped admission must not plan a (v, k) end here:
            # partitions() materializes the FULL snapshot at v while
            # the floor would record (v, k), re-emitting commit v's
            # entries[k:] next trigger (duplicates).  Commit/byte
            # admission control starts on the NEXT trigger.
            return {"version": latest}
        if floor_v == -1 and vs and vs[0] > 0:
            # initial batch of a vacuumed table: the checkpoint
            # snapshot is one indivisible unit and forms the whole
            # first batch; commit/byte admission control starts on
            # the NEXT trigger (floor then sits at the checkpoint)
            if seg.checkpoint is not None:
                return {"version": seg.checkpoint}
        pos: "tuple[int, int | None]" = (floor_v, floor_idx)
        commits_used = 0
        bytes_used = 0
        admitted_any = False
        for v in vs:
            start_k = 0
            if v < floor_v or (v == floor_v and floor_idx is None):
                continue
            if v == floor_v:
                start_k = floor_idx
            if cap is not None and commits_used >= cap:
                break
            entries = self._commit_entries(v)
            remaining = entries[start_k:]
            if max_bytes is None:
                pos = (v, None)
                commits_used += 1
                admitted_any = True
                continue
            took = 0
            for e in remaining:
                size = int(e.get("size") or 0)
                if admitted_any and bytes_used + size > max_bytes:
                    break
                bytes_used += size
                took += 1
                admitted_any = True
            if took < len(remaining):
                if took or start_k:
                    pos = (v, start_k + took)
                break
            pos = (v, None)
            commits_used += 1
            # a commit that emitted nothing (metaData-only, skipped
            # change commit) is free; only data-carrying commits count
            if not remaining:
                commits_used -= 1
        return self._off(pos)

    def commit(self, end: dict) -> None:
        pass  # offsets derive from the immutable log; nothing to ack

    def _dv_possible(self, acts: list[dict]):
        """Zero-arg thunk answering "does the protocol advertise
        deletionVectors?" for classify_mor_commit — evaluated ONLY
        when a descriptor-less remove actually needs it.  ONE
        latest_protocol scan per reader lifetime: True is sticky
        (features are add-only in practice; a stale True only costs
        extra prior-descriptor lookups, never wrongness), and False
        can only flip via a protocol action in a LATER commit — whose
        acts this reader scans as it streams (the in-commit check
        below), so no rescans (the r10 reviews caught first the
        per-commit and then the per-version O(commits²) shapes)."""
        if any(
            "deletionVectors"
            in ((a.get("protocol") or {}).get("readerFeatures") or [])
            for a in acts
        ):
            self._dv_flag = True

        def thunk() -> bool:
            flag = getattr(self, "_dv_flag", None)
            if flag is None:
                flag = "deletionVectors" in (
                    (DL.latest_protocol(self.path) or {}).get(
                        "readerFeatures"
                    )
                    or []
                )
                self._dv_flag = flag
            return flag

        return thunk

    def _commit_entries(self, v: int) -> list[dict]:
        """The files commit ``v`` emits under this reader's mode, in
        the commit's own (stable) order: {path, partitionValues,
        change_type, size} dicts.  Shared by latestOffset's byte-based
        admission control and partitions() so both always agree on
        file identity and order.  Driver-side metadata; memoized."""
        if v in self._entries_cache:
            return self._entries_cache[v]
        acts = DL._read_commit(self.path, v)
        if v > self._init_head:
            for a in acts:
                md = a.get("metaData")
                if (
                    md is not None
                    and self._declared_schema_fp is not None
                    and _schema_fingerprint(md.get("schemaString"))
                    != self._declared_schema_fp
                ):
                    # post-load schema evolution: this stream's schema
                    # is pinned — continuing would silently drop the
                    # new/renamed columns from every later batch.
                    # Fail like Delta's own source; a RESTART picks up
                    # the new schema (offsets live in the checkpoint)
                    raise ValueError(
                        f"schema of {self.path} changed at version {v} "
                        "after this stream started; restart the stream "
                        "to pick up the new schema (the streaming "
                        "checkpoint resumes from the stored offset)"
                    )
        out: list[dict] = []
        if self.read_change_feed:
            # a commit carrying cdc actions (DML under
            # delta.enableChangeDataFeed) streams EXCLUSIVELY from
            # its _change_data files: exact row-level changes with
            # _change_type stored in the file — the add/remove
            # churn of the same commit is layout, not change
            cdc_acts = [a["cdc"] for a in acts if a.get("cdc") is not None]
            if cdc_acts and ROW_ID_IDX_COL in self._schema.fieldNames():
                # _change_data files carry row VALUES, not positions in
                # the table's data files — there is no positional
                # identity to mint.  Refuse loudly rather than emit ids
                # that could never match the rows' insert-side identity
                raise ValueError(
                    f"commit {v} of {self.path} carries _change_data "
                    "files (delta.enableChangeDataFeed); changeRowIds "
                    "needs the synthesized feed's positional identity. "
                    "Disable the table's change-data files or drop "
                    "changeRowIds"
                )
            if cdc_acts:
                for act in cdc_acts:
                    full = os.path.join(self.path, act["path"])
                    if not os.path.exists(full):
                        raise ValueError(
                            f"change file {act['path']} (commit {v}) "
                            "was vacuumed; its change rows are gone"
                        )
                    out.append(
                        {
                            "path": full,
                            "partitionValues": act.get("partitionValues")
                            or {},
                            "change_type": "insert",  # stored in-file
                            "size": act.get("size") or 0,
                        }
                    )
            else:
                # CDF mode: removes stream as delete rows instead of
                # erroring — the continuous twin of DeltaSink.changes.
                # Merge-on-read commits synthesize from the bitmaps;
                # classification is SHARED with delta_log.read_changes
                # (classify_mor_commit — stream ≡ batch lives there).
                # Compressed payloads ride the partition; expansion
                # stays executor-side in read(), which skips the file
                # read entirely when a delta selection is empty (the
                # grow-only delete case's resurrect twin).
                if not hasattr(self, "_dv_blob_cache"):
                    self._dv_blob_cache = {}
                if len(self._dv_blob_cache) > 64:
                    self._dv_blob_cache.clear()  # bounded reader cache
                for e in DL.classify_mor_commit(
                    self.path,
                    acts,
                    v,
                    self._dv_possible(acts),
                    self._dv_blob_cache,
                ):
                    base = {
                        "path": os.path.join(self.path, e["path"]),
                        "partitionValues": e["pv"],
                        "size": e["size"],
                    }
                    kind = e["kind"]
                    if kind in ("delete", "delete_apply") and not (
                        os.path.exists(base["path"])
                    ):
                        raise ValueError(
                            f"removed file {e['path']} (commit {v}) "
                            "was vacuumed; its change rows are gone"
                        )
                    if kind == "insert":
                        out.append({**base, "change_type": "insert"})
                    elif kind == "delete":
                        out.append({**base, "change_type": "delete"})
                    elif kind == "insert_apply":
                        out.append(
                            {
                                **base,
                                "change_type": "insert",
                                "dv_payload": e["payload"],
                            }
                        )
                    elif kind == "delete_apply":
                        out.append(
                            {
                                **base,
                                "change_type": "delete",
                                "dv_payload": e["payload"],
                            }
                        )
                    else:  # delta: new∖old deletes + old∖new inserts
                        out.append(
                            {
                                **base,
                                "change_type": "delete",
                                "dv_payload": e["new_payload"],
                                "dv_mode": "select_delta",
                                "dv_old_payload": e["old_payload"],
                            }
                        )
                        if e["old_payload"] is not None:
                            # a SHRINKING vector (RESTORE) resurrects
                            # old∖new as inserts; normally empty —
                            # read() short-circuits before the file
                            out.append(
                                {
                                    **base,
                                    "change_type": "insert",
                                    "dv_payload": e["old_payload"],
                                    "dv_mode": "select_delta",
                                    "dv_old_payload": e["new_payload"],
                                    "size": 0,
                                }
                            )
        else:
            has_data_remove = any(
                a["remove"].get("dataChange", True)
                for a in acts
                if "remove" in a
            )
            if has_data_remove and not self.skip_change_commits:
                delete_only = not any(
                    a["add"].get("dataChange", True)
                    for a in acts
                    if "add" in a
                )
                if not (self.ignore_deletes and delete_only):
                    rm_paths = {
                        a["remove"]["path"]
                        for a in acts
                        if "remove" in a
                        and a["remove"].get("dataChange", True)
                    }
                    dv_restage = any(
                        (a["add"].get("deletionVector") or {}).get(
                            "cardinality"
                        )
                        and a["add"]["path"] in rm_paths
                        for a in acts
                        if "add" in a
                    )
                    if dv_restage and self.on_dv == "materialize":
                        # documented limit: materialize covers files
                        # BORN with DVs; a rewrite retracts rows this
                        # stream may already have emitted
                        raise ValueError(
                            f"commit {v} re-stages files with changed "
                            "deletion vectors; an append-only stream "
                            "cannot retract rows it already emitted — "
                            "onDv='materialize' covers only files BORN "
                            "with deletion vectors.  Stream row-level "
                            "deletes with readChangeFeed, or drop "
                            "rewrite commits with skipChangeCommits"
                        )
                    raise ValueError(
                        f"commit {v} removes data; streams cannot "
                        "retract rows (set ignoreDeletes to skip "
                        "delete-only commits, or skipChangeCommits to "
                        "drop data-rewriting commits wholesale)"
                    )
            if not has_data_remove:
                # one blob cache per commit: many DV-born files often
                # pack their bitmaps into ONE shared .bin
                dv_blob_cache: dict = {}
                for a in acts:
                    add = a.get("add")
                    if add and add.get("dataChange", True):
                        desc = add.get("deletionVector")
                        desc = (
                            desc
                            if (desc or {}).get("cardinality")
                            else None
                        )
                        dv_payload = None
                        if desc is not None:
                            if self.on_dv != "materialize":
                                raise ValueError(
                                    f"commit {v} adds {add['path']} "
                                    "with a deletion vector; streaming "
                                    "it raw would resurrect deleted "
                                    "rows (set onDv='materialize' to "
                                    "stream its surviving rows)"
                                )
                            from ..sources import dv as _dv

                            dv_payload = _dv.dv_payload(
                                self.path, desc, dv_blob_cache
                            )
                        out.append(
                            {
                                "path": os.path.join(
                                    self.path, add["path"]
                                ),
                                "partitionValues": add.get(
                                    "partitionValues"
                                )
                                or {},
                                "change_type": "insert",
                                "dv_payload": dv_payload,
                                "size": add.get("size") or 0,
                            }
                        )
            # skip_change_commits with a data remove: whole commit
            # dropped (Delta's skipChangeCommits) -> out stays []
        if len(self._entries_cache) > 1024:
            self._entries_cache.clear()
        self._entries_cache[v] = out
        return out

    def partitions(self, start: dict, end: dict):
        # learn progress from the planned END: the engine commits this
        # batch at `end`, so the next latestOffset may admit past it (a
        # failed batch replans from the checkpointed start and simply
        # admits a larger range — never a gap)
        end_pos = self._pos(end)

        def _key(pos):
            v, idx = pos
            return (v, float("inf") if idx is None else idx)

        if self._floor is None or _key(end_pos) > _key(self._floor):
            self._floor = end_pos
        sv, sidx = self._pos(start)
        ev, eidx = self._pos(end)
        parts: list[_FilePartition] = []
        schema_json = self._schema.json()
        versions = DL.list_commit_versions(self.path)
        # first unconsumed position: mid-commit (sv, sidx) or sv+1
        begin_v = sv if sidx is not None else sv + 1
        if sv == -1 and sidx is None and (
            self.initial_snapshot or not versions or versions[0] > 0
        ):
            if self.initial_snapshot:
                # initialSnapshot option: materialize the snapshot AT
                # THE PLANNED END (delta-spark's default semantics —
                # net state, no retraction errors from historical
                # deletes), then stream commits past it.  The replay
                # starts from the checkpoint when one exists, so this
                # honors the option's contract on a VACUUMED log too
                # (the JSON tail past the checkpoint folds into the
                # snapshot instead of streaming raw and retracting).
                snap_v = ev
                snap_files = _driver_snapshot(self.path, upto=ev)
            else:
                # initial offset on a vacuumed/truncated log: the
                # surviving JSON commits miss every checkpoint-only
                # file — materialize the checkpoint the read at `ev`
                # starts from as the first batch, then stream commits
                # past it (log_segment raises when no checkpoint
                # bridges the gap)
                snap_v = DL.log_segment(self.path, ev).checkpoint
                snap_files = (
                    None
                    if snap_v is None
                    else _driver_snapshot(self.path, upto=snap_v)
                )
            if snap_files is not None and snap_v <= ev:
                blob_cache: dict = {}
                for f in snap_files:
                    desc = f.get("deletionVector") or {}
                    payload = None
                    if desc.get("cardinality"):
                        # resolve the KB-scale bitmap driver-side (the
                        # shared .bin read once per blob); expansion
                        # to row indices runs in read()
                        from ..sources import dv as _dv

                        payload = _dv.dv_payload(
                            self.path, desc, blob_cache
                        )
                    parts.append(
                        _FilePartition(
                            file_path=os.path.join(self.path, f["path"]),
                            partition_values=f.get("partitionValues") or {},
                            schema_json=schema_json,
                            commit_version=snap_v,
                            dv_payload=payload,
                        )
                    )
                begin_v = snap_v + 1  # commits <= snap_v are in the snapshot
        expect = begin_v
        for v in versions:
            if not (begin_v <= v <= ev):
                continue
            if v != expect:
                raise ValueError(
                    f"transaction log of {self.path} is missing commits "
                    f"[{expect}, {v}) — refusing to silently under-read"
                )
            expect = v + 1
            entries = self._commit_entries(v)
            lo = sidx if (v == sv and sidx is not None) else 0
            hi = eidx if (v == ev and eidx is not None) else len(entries)
            for e in entries[lo:hi]:
                parts.append(
                    _FilePartition(
                        file_path=e["path"],
                        partition_values=e["partitionValues"],
                        schema_json=schema_json,
                        change_type=e["change_type"],
                        commit_version=v,
                        dv_payload=e.get("dv_payload"),
                        dv_mode=e.get("dv_mode", "apply"),
                        dv_old_payload=e.get("dv_old_payload"),
                    )
                )
        return parts

    def read(self, partition: _FilePartition):
        # executor-side: parquet -> Arrow batches, partition constants
        # appended typed, columns ordered to the declared schema
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        if (
            partition.dv_payload is not None
            and partition.dv_mode == "select_delta"
        ):
            # compute the selection BEFORE touching the file: the
            # resurrect twin of a grow-only DV rewrite selects
            # old∖new == ∅, and skipping the parquet read entirely
            # halves the scan cost of every ordinary delete_dv commit
            from ..sources import dv as _dv

            keep_idx = _dv.decode(partition.dv_payload)
            if partition.dv_old_payload is not None:
                keep_idx = np.setdiff1d(
                    keep_idx,
                    _dv.decode(partition.dv_old_payload),
                    assume_unique=True,
                )
            if not len(keep_idx):
                return

        parsed = json.loads(partition.schema_json)
        schema = StructType.fromJson(parsed)
        # column mapping (PROTOCOL.md): data files and partitionValues
        # carry PHYSICAL names; the declared schema is logical.  A
        # field that never went through a rename has physicalName ==
        # its logical name, so this is a no-op on unmapped tables.
        phys_of = {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            for f in parsed["fields"]
        }
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        want_row_ids = any(f.name == ROW_ID_IDX_COL for f in arrow_schema)
        table = pq.read_table(partition.file_path)
        row_idx = None  # original in-file indices of the emitted rows
        if partition.dv_payload is not None:
            # merge-on-read: "apply" drops the deletion vector's row
            # indices (survivors stream); "select_delta" keeps exactly
            # the indices in dv_payload MINUS dv_old_payload (the
            # bitmap delta a DV-rewrite commit contributes to the
            # change feed).  Expansion happens HERE, executor-side.
            from ..sources import dv as _dv

            if partition.dv_mode == "apply":
                mask = np.ones(table.num_rows, dtype=bool)
                mask[_dv.decode(partition.dv_payload)] = False
            else:
                # keep_idx computed (non-empty) before the file read
                mask = np.zeros(table.num_rows, dtype=bool)
                mask[keep_idx] = True
            table = table.filter(pa.array(mask))
            if want_row_ids:
                row_idx = np.nonzero(mask)[0]
        elif want_row_ids:
            row_idx = np.arange(table.num_rows, dtype=np.int64)
        n = table.num_rows
        cols = []
        for field in arrow_schema:
            phys = phys_of.get(field.name, field.name)
            if phys in table.column_names:
                cols.append(table.column(phys).cast(field.type))
            elif field.name == "_change_type":
                cols.append(
                    pa.array([partition.change_type] * n, type=pa.string())
                )
            elif field.name == "_commit_version":
                cols.append(
                    pa.array([partition.commit_version] * n, type=pa.int64())
                )
            elif field.name == LINEAGE_COL:
                # source-level lineage (H5): the per-row blob path the
                # reference injects via its SourceLocation mapping
                # (BlobStagingOrchestration.cs:309-316)
                cols.append(pa.array([partition.file_path] * n, type=pa.string()))
            elif field.name == ROW_ID_FILE_COL:
                cols.append(
                    pa.array([partition.file_path] * n, type=pa.string())
                )
            elif field.name == ROW_ID_IDX_COL:
                cols.append(pa.array(row_idx, type=pa.int64()))
            else:
                # partitionValues keys are physical under mapping
                raw = partition.partition_values.get(
                    phys, partition.partition_values.get(field.name)
                )
                cols.append(
                    pa.array([raw] * n, type=pa.string()).cast(field.type)
                )
        out = pa.table(cols, schema=arrow_schema)
        yield from out.to_batches(max_chunksize=65536)

class DeltaLogDataSource(DataSource):
    """format("mlk_delta") — options: path, skipChangeCommits,
    ignoreDeletes (skip commits that ONLY remove data — retention
    deletes of whole files; commits that rewrite data still raise),
    onDv ('fail' default | 'materialize': files BORN with deletion
    vectors stream their surviving rows, bitmap applied at scan; DV
    REWRITES of already-streamed files still refuse with a pointer —
    an append-only stream cannot retract.  readChangeFeed needs no
    option: DV rewrites there synthesize the bitmap DELTA as row-level
    delete rows, matching delta_log.read_changes),
    changeRowIds (readChangeFeed only: stamp every change row with its
    physical (file, index-in-file) identity — _mlk_src_file +
    _mlk_src_row_idx — the MERGE key a change-consuming replica needs;
    refuses _change_data commits, which carry values, not positions),
    initialSnapshot (materialize the net snapshot — DVs applied — as
    the first batch and stream commits past it, Delta's default
    semantics; this source's default remains commit replay),
    maxCommitsPerTrigger, maxBytesPerTrigger (admission control by add-
    file bytes: a fat commit splits across triggers at file granularity
    — the knob that bounds executor memory when commit sizes are
    skewed; at least one file is always admitted), readChangeFeed (stream versioned
    insert/delete rows instead of erroring on removes — the continuous
    twin of ``DeltaSink.changes``), startingVersion (an int commit to
    begin from instead of the initial snapshot, or 'latest' = only
    commits after the stream starts), startingTimestamp (a wall-clock
    point resolved to the first commit at-or-after it via the table's
    commit clocks — inCommitTimestamp when the feature is on)."""

    @classmethod
    def name(cls) -> str:
        return "mlk_delta"

    def _cdf(self) -> bool:
        cdf = str(self.options.get("readchangefeed", "false")).lower() == "true"
        skip = str(self.options.get("skipchangecommits", "false")).lower() == "true"
        ign = str(self.options.get("ignoredeletes", "false")).lower() == "true"
        if cdf and (skip or ign):
            raise ValueError(
                "readChangeFeed and skipChangeCommits/ignoreDeletes are "
                "mutually exclusive: the feed's whole point is "
                "delivering removes"
            )
        return cdf

    def schema(self) -> StructType:
        if (
            self.options.get("startingversion") is not None
            and self.options.get("startingtimestamp") is not None
        ):
            # fail at load() time, not first trigger: the two options
            # contradict each other
            raise ValueError(
                "startingVersion and startingTimestamp are mutually "
                "exclusive"
            )
        if str(
            self.options.get("initialsnapshot", "false")
        ).lower() == "true" and (
            self.options.get("startingversion") is not None
            or self.options.get("startingtimestamp") is not None
        ):
            raise ValueError(
                "initialSnapshot and startingVersion/startingTimestamp "
                "are mutually exclusive: the latter SKIP the snapshot"
            )
        if str(self.options.get("ondv", "fail")).lower() not in (
            "fail",
            "materialize",
        ):
            # fail at load() time, not first trigger
            raise ValueError(
                "onDv must be 'fail' or 'materialize', got "
                f"{self.options.get('ondv')!r}"
            )
        # evolution-guard anchor (round-11 review): the head and the
        # metadata come from ONE snapshot, so the schema fingerprint the
        # reader guards with is exactly the schema at the anchored
        # head, the one the stream pins — any metaData commit past it
        # that differs raises
        try:
            snap = DL.snapshot(self.options["path"])
            guard_head, meta = snap.version, snap.metadata
        except ValueError:
            # the log cannot rebuild its head (a missing commit, history
            # truncated past every checkpoint): nothing can be pinned,
            # and the query fails at its first trigger, where the
            # reader reads the head again — the same error a gap that
            # opens mid-stream raises
            return StructType([])
        if meta is None:
            raise ValueError(f"no Delta metaData under {self.options['path']}")
        self._guard_anchor = (guard_head, meta.get("schemaString"))
        # fail at load() time on a malformed mapped table (mapping mode
        # active but a field lacks physicalName): the batch reader's
        # refuse-to-guess rule — read() would otherwise emit NULLs for
        # the unresolvable column
        DL.column_mapping_of(meta)
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        from pyspark.sql.types import LongType, StringType, StructField

        if str(self.options.get("lineage", "false")).lower() == "true":
            schema = StructType([*schema.fields, StructField(LINEAGE_COL, StringType())])
        row_ids = (
            str(self.options.get("changerowids", "false")).lower() == "true"
        )
        if row_ids and not self._cdf():
            raise ValueError(
                "changeRowIds requires readChangeFeed: positional row "
                "identity only exists on change rows"
            )
        if self._cdf():
            schema = StructType(
                [
                    *schema.fields,
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
            if row_ids:
                # stable physical row identity (file, index-in-file) —
                # the key a change-consuming replica MERGEs on: a row's
                # identity never changes while its file lives, deletes
                # synthesized from deletion-vector deltas target the
                # exact index, and a copy-on-write rewrite retires the
                # whole old file's identities and mints new ones
                schema = StructType(
                    [
                        *schema.fields,
                        StructField(ROW_ID_FILE_COL, StringType()),
                        StructField(ROW_ID_IDX_COL, LongType()),
                    ]
                )
        return schema

    def streamReader(self, schema: StructType) -> DeltaLogStreamReader:
        skip = str(self.options.get("skipchangecommits", "false")).lower() == "true"
        cdf = self._cdf()
        max_commits = self.options.get("maxcommitspertrigger")
        max_bytes = self.options.get("maxbytespertrigger")
        starting = self.options.get("startingversion")
        starting_ts = self.options.get("startingtimestamp")
        if starting is not None and starting_ts is not None:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually "
                "exclusive"
            )
        starting_version: int | None = None
        if starting_ts is not None:
            # resolve against the table's commit clocks — authoritative
            # inCommitTimestamp when the writer feature is on, else
            # commitInfo/mtime with Delta's monotonic fix-up; a
            # timestamp past the head starts an empty stream that waits
            # for future commits (delta-spark's startingTimestamp)
            starting_version = DL.resolve_timestamp(
                self.options["path"], starting_ts, mode="at_or_after"
            )
        elif starting is not None:
            if str(starting).lower() == "latest":
                starting_version = _head(self.options["path"]) + 1
            else:
                starting_version = int(starting)
                if starting_version < 0:
                    raise ValueError(
                        f"startingVersion must be >= 0 or 'latest', "
                        f"got {starting!r}"
                    )
        initial_snapshot = (
            str(self.options.get("initialsnapshot", "false")).lower()
            == "true"
        )
        if initial_snapshot and starting_version is not None:
            raise ValueError(
                "initialSnapshot and startingVersion/startingTimestamp "
                "are mutually exclusive: the latter SKIP the snapshot"
            )
        on_dv = str(self.options.get("ondv", "fail")).lower()
        if on_dv not in ("fail", "materialize"):
            raise ValueError(
                f"onDv must be 'fail' or 'materialize', got {on_dv!r}"
            )
        return DeltaLogStreamReader(
            self.options["path"],
            schema,
            skip,
            max_commits_per_trigger=int(max_commits) if max_commits else None,
            read_change_feed=cdf,
            starting_version=starting_version,
            max_bytes_per_trigger=int(max_bytes) if max_bytes else None,
            ignore_deletes=str(
                self.options.get("ignoredeletes", "false")
            ).lower()
            == "true",
            initial_snapshot=initial_snapshot,
            on_dv=on_dv,
            guard_anchor=getattr(self, "_guard_anchor", None),
        )


def register_source(spark) -> None:
    """Idempotently register ``mlk_delta`` on ``spark``.

    Re-registering the same DataSource class is a harmless overwrite
    in Spark 4 (DataSourceManager logs a WARN and replaces), so the
    only exceptions ``register`` can raise are GENUINE failures — API
    mismatch, broken import — which must propagate instead of
    resurfacing later as a confusing "unknown data source mlk_delta"
    at ``start()`` (round-11 advice: call sites wrapped this in a bare
    ``except Exception: pass``).  A per-session flag skips the repeat
    call purely to avoid the replace-WARN log noise."""
    if getattr(spark, "_mlk_delta_registered", False):
        return
    spark.dataSource.register(DeltaLogDataSource)
    spark._mlk_delta_registered = True
