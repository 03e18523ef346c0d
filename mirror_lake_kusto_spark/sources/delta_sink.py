"""Minimal Delta-protocol table writer (no delta-spark dependency).

The reference *consumes* Delta tables that Spark jobs author
(MirrorLakeKustoTest authors them with PySpark scripts, e.g.
Simple/Scripts/DoingCheckpointTx.py:2-4) and publishes into Kusto with
an O(metadata) atomic `.move extents` (BlobLoadingOrchestration.cs:57-86,
K5/O11).  This module provides both halves for an environment without
the delta-spark package, speaking the public Delta transaction-log
protocol (delta-io PROTOCOL.md, cited by the reference at
Storage/DeltaLake/TransactionLogEntry.cs:15):

- data files are regular parquet written by Spark executors;
- a commit = one atomically-created ``_delta_log/<20-digit>.json`` of
  newline-delimited add/remove/metaData actions — creation with
  ``open(..., "x")`` is the optimistic-concurrency point, exactly
  Delta's rename-based commit;
- every ``checkpoint_interval`` commits a parquet checkpoint +
  ``_last_checkpoint`` pointer is written (what the reference reads at
  DeltaTableGateway.cs:20-26 / TransactionLogEntry.cs:365-398).

Scale posture: data moves only through ``df.write.parquet`` (executors,
columnar, never collected); the driver touches metadata only (file
names, sizes, row counts from parquet footers) — same split as Delta
itself.  Commits list O(files-per-commit) entries; snapshot
reconstruction is the reader's job (delta_log.py) and runs as a Spark
job over the log files.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from . import fs as _fs
from .delta_log import (
    Snapshot,
    _backfilled_commit_versions,
    _read_commit,
    log_dir,
    partition_dir_segment,
    partition_subdir,
    snapshot,
)
from .skipping import file_stats_json
from .tables import read_parquet

TX_FMT = "{:020d}"


class ConcurrentCommitConflict(RuntimeError):
    """A concurrent writer committed actions touching the same files
    between this commit's attempt and its retry (optimistic-concurrency
    loser with a real conflict — caller must re-plan from the new
    snapshot)."""


# Legacy features implied by pre-table-features protocol versions
# (PROTOCOL.md "Table Features" upgrade rules): bumping a table to
# minWriterVersion 7 / minReaderVersion 3 must ENUMERATE everything the
# old version numbers implicitly enabled, or external writers stop
# enforcing them (appendOnly, invariants, ...).
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}


def upgraded_protocol(
    cur: dict | None,
    reader_features: Sequence[str] = (),
    writer_features: Sequence[str] = (),
) -> dict:
    """Feature-upgrade merge per PROTOCOL.md: take the table's current
    protocol, add the requested table features, and — when crossing
    from a legacy version into table-features versions — enumerate the
    legacy features the previous minReader/WriterVersion implied.
    Reader features are mirrored into writerFeatures (the spec requires
    reader-writer features listed in both)."""
    cur = cur or {}
    old_r = cur.get("minReaderVersion") or 1
    old_w = cur.get("minWriterVersion") or 2
    rf = set(cur.get("readerFeatures") or []) | set(reader_features)
    wf = set(cur.get("writerFeatures") or []) | set(writer_features)
    if old_w < 7:
        for ver, feats in _LEGACY_WRITER_FEATURES.items():
            if ver <= old_w:
                wf.update(feats)
    # a WRITER-ONLY upgrade (e.g. changeDataFeed) must not raise the
    # reader version: minWriterVersion 7 + any reader version is legal
    # per PROTOCOL.md, and bumping readers to 3 with an empty feature
    # list would lock out every reader for no reason
    bump_reader = bool(rf) or old_r >= 3
    if bump_reader and old_r < 3:
        for ver, feats in _LEGACY_READER_FEATURES.items():
            if ver <= old_r:
                rf.update(feats)
    wf |= rf
    out = {
        "minReaderVersion": max(old_r, 3) if bump_reader else old_r,
        "minWriterVersion": max(old_w, 7),
        "writerFeatures": sorted(wf),
    }
    if bump_reader:
        out["readerFeatures"] = sorted(rf)
    return out



def _safe_parquet_meta(path: str):
    """Footer metadata, or None when the footer carries a logical type
    pyarrow cannot parse (Spark's parquet VARIANT annotation is newer
    than pyarrow's Thrift enum) — callers fall back to a distributed
    row count and stat-less adds (stats are advisory)."""
    try:
        return _fs.parquet_metadata(path)
    except OSError:
        return None


def _spark_row_counts(spark, root: str) -> dict[str, int]:
    """Rows per parquet file under ``root``, keyed by the file's path
    below ``root`` as spelled on disk, in ONE distributed job — the
    footer-free fallback for files pyarrow cannot open."""
    below = f"/{root.rstrip('/').rsplit('/', 1)[-1]}/"
    rows = (
        spark.read.parquet(root)
        .groupBy(
            F.substring_index(
                _fs.spark_scan_path(F.col("_metadata.file_path")), below, -1
            ).alias("p")
        )
        .count()
        .collect()
    )
    return {r["p"]: int(r["count"]) for r in rows}


class CommitCoordinator:
    """The commit-point seam: atomically create commit file ``path``
    with ``data`` IF ABSENT, else raise FileExistsError.  Every Delta
    implementation needs this primitive; where the filesystem provides
    it (POSIX open(x), HDFS/ABFS/GCS create-no-overwrite, MemoryFS
    setdefault) the default FsCommitCoordinator suffices.  Raw
    S3-family stores CANNOT (delta-io documents the same gap — its
    answer is the LogStore/commit-coordinator plugin); there, plug a
    coordinator backed by a conditional-put service (DynamoDB-style)
    or a shared lock."""

    def create_commit(self, fs, path: str, data: str) -> None:
        raise NotImplementedError


class FsCommitCoordinator(CommitCoordinator):
    """Default: delegate to the backend's atomic create-if-absent."""

    def create_commit(self, fs, path: str, data: str) -> None:
        fs.create_exclusive(path, data)


class LockCommitCoordinator(CommitCoordinator):
    """Exclusive-create via a shared lock + exists-check + write: the
    correct shape for stores whose create is NOT conditional (raw S3),
    as long as every writer routes commits through the same lock —
    this in-process registry covers multi-threaded writers and is the
    test double for an external lock/lease service (the reference's
    analogue is the checkpoint temp-blob/rename dance,
    CheckpointGateway.cs:96-104)."""

    _locks: dict = {}
    _registry_lock = threading.Lock()

    @classmethod
    def _lock_for(cls, table_path: str):
        with cls._registry_lock:
            return cls._locks.setdefault(table_path, threading.Lock())

    def __init__(self, table_path: str):
        self._lock = self._lock_for(table_path)

    def create_commit(self, fs, path: str, data: str) -> None:
        with self._lock:
            if fs.exists(path):
                raise FileExistsError(path)
            fs.write_text(path, data)


class StagedCommitCoordinator(CommitCoordinator):
    """Coordinated-commits WRITER (round 9, PROTOCOL.md coordinated
    commits): instead of creating the plain ``<v>.json``, stage the
    commit as ``_delta_log/_commits/<v>.<uuid>.json`` and ask the
    NAMED coordinator client to RATIFY it — the client is the single
    arbiter of which staged candidate wins a version, so this works on
    stores with no conditional create at all (the raw-S3 gap).  A
    ratification conflict surfaces as FileExistsError, driving
    DeltaSink._commit's ordinary rebase-and-retry loop.  Version 0
    bootstraps PLAIN (the spec requires commit 0 backfilled) so any
    reader can discover the table and its declared coordinator.
    Race-loser staged files are simply never ratified; readers through
    the client ignore them, and :meth:`DeltaSink.backfill_commits`
    publishes only ratified spellings."""

    def __init__(self, name: str):
        from .coordinator import (
            CommitCoordinatorClient,
            commit_coordinator_for,
        )

        client = commit_coordinator_for(name)
        if client is None:
            raise ValueError(
                f"no registered commit coordinator {name!r}; register "
                "one via coordinator.register_commit_coordinator"
            )
        # a client that cannot arbitrate (base-class commit()) must
        # never see a staged candidate: its ratification failure would
        # strand a sole staged file that a uniqueness-inferring reader
        # (FileSystemCommitCoordinator) then serves as ratified — a
        # FAILED commit becoming readable is the atomicity violation
        # this writer exists to prevent.
        if type(client).commit is CommitCoordinatorClient.commit:
            raise ValueError(
                f"commit coordinator {name!r} "
                f"({type(client).__name__}) is read-only — it cannot "
                "arbitrate staged candidates; write through an "
                "arbitrating client (e.g. TrackingCommitCoordinator)"
            )
        self.name = name
        self.client = client

    @classmethod
    def for_catalog(cls, table_path: str) -> "StagedCommitCoordinator":
        """Resolve the arbitrating client through the CATALOG BINDING
        (round 10): catalogManaged tables carry no coordinator name in
        their metaData — the managing catalog is bound per path via
        coordinator.register_catalog_table."""
        from .coordinator import catalog_for_table

        name = catalog_for_table(table_path)
        if name is None:
            raise ValueError(
                f"{table_path} is not bound to a managing catalog; "
                "bind it with coordinator.register_catalog_table("
                "path, client_name) before writing catalog-managed"
            )
        return cls(name)

    def create_commit(self, fs, path: str, data: str) -> None:
        import os as _os
        import re as _re
        import uuid as _uuid

        from .coordinator import CommitConflict

        m = _re.search(r"(\d{20})\.json$", path)
        if not m:
            raise ValueError(f"not a commit path: {path}")
        v = int(m.group(1))
        if v == 0:
            fs.create_exclusive(path, data)  # bootstrap stays plain
            return
        log = _os.path.dirname(path)
        rel = f"_commits/{v:020d}.{_uuid.uuid4()}.json"
        fs.makedirs(f"{log}/_commits")
        fs.write_text(f"{log}/{rel}", data)
        try:
            self.client.commit(_os.path.dirname(log), v, rel)
        except CommitConflict as exc:
            # our candidate LOST — remove it so no uniqueness-inferring
            # reader can ever mistake it for the winner;
            # FileExistsError is the retry signal _commit understands
            self._discard(fs, f"{log}/{rel}")
            raise FileExistsError(str(exc)) from exc
        except Exception as commit_err:
            # ratification status unknown (client crashed mid-call).
            # Deleting blindly can DESTROY a commit the client DID
            # record before failing (its only copy is the staged file,
            # and backfill copies from it); keeping it blindly risks a
            # torn read via ratified-by-uniqueness inference.  Ask the
            # client what it actually recorded:
            try:
                recorded = self.client.get_commits(
                    _os.path.dirname(log), v
                ).get(v)
            except Exception:
                # client unreachable for reads too: keep the file (it
                # may be the ratified copy) and surface the ORIGINAL
                # commit error, not the probe's — a later read
                # resolves through the client, never through
                # uniqueness, because writers on this path are
                # arbitrating clients by construction
                raise commit_err from None
            if recorded == rel:
                return  # the commit actually succeeded
            # not ratified (or another candidate won): safe to discard
            self._discard(fs, f"{log}/{rel}")
            raise

    @staticmethod
    def _discard(fs, staged_path: str) -> None:
        try:
            fs.remove(staged_path)
        except Exception:
            pass  # best-effort: an arbitrating reader ignores it anyway


#: schemes whose plain create cannot be made conditional — commits
#: there MUST go through an explicit coordinator or they can tear
#: under concurrent writers (delta-io's S3 single-cluster caveat)
_UNSAFE_EXCLUSIVE_SCHEMES = {"s3", "s3a", "s3n"}


def _actions_parquet_bytes(rows: list[dict], spark_schema) -> bytes:
    """Serialize driver-side action rows to checkpoint parquet bytes
    with pyarrow — the checkpoint state already lives on the driver,
    so a Spark write job would only round-trip it through a pickled
    Python RDD (measured seconds of overhead per checkpoint even for
    tiny logs).  The arrow schema is derived from the SAME Spark
    schema the readers use, so spark.read.parquet and the pyarrow
    checkpoint-column reader see byte-identical layouts."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(spark_schema))
    buf = pa.BufferOutputStream()
    pq.write_table(tbl, buf, compression="snappy")
    return buf.getvalue().to_pybytes()


#: the DML core's per-row tag: NULL (untouched), 'delete' or 'update'
_ACT = "__mlk_act"


def _union(frames: list[DataFrame]) -> DataFrame:
    """Union by name; a column some frame lacks reads NULL there."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _remove(f: dict, now: int, data_change: bool = True) -> dict:
    """Remove action for snapshot file ``f``."""
    return {
        "remove": {
            "path": f["path"],
            "deletionTimestamp": now,
            "dataChange": data_change,
            "partitionValues": f["partitionValues"] or {},
        }
    }


def _operation(method):
    """A public :class:`DeltaSink` operation: the outermost one reads
    ONE snapshot of the table when it starts, every nested operation
    reads the same one, and it is dropped when the outermost ends."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        outer = self._depth == 0
        if outer:
            self._snap = snapshot(self.path)
            self._own_commit = None
        self._depth += 1
        try:
            return method(self, *args, **kwargs)
        finally:
            self._depth -= 1
            if outer:
                self._snap = None

    return run


def _stamp_mapping_identity(
    fields: list[dict], conf: dict
) -> tuple[list[dict], int]:
    """Column-mapping enablement: assign every field missing one its
    physical identity — ``physicalName`` = the current logical
    spelling (what the EXISTING parquet files carry) plus the next
    ``columnMapping.id``.  Shared by evolve_rename and evolve_drop so
    the enablement rules can never diverge.  Returns (stamped field
    copies, new maxColumnId)."""
    max_id = int(conf.get("delta.columnMapping.maxColumnId") or 0)
    out = []
    for f in fields:
        md = dict(f.get("metadata") or {})
        if "delta.columnMapping.physicalName" not in md:
            md["delta.columnMapping.physicalName"] = f["name"]
        if "delta.columnMapping.id" not in md:
            max_id += 1
            md["delta.columnMapping.id"] = max_id
        out.append({**f, "metadata": md})
    return out, max_id


class DeltaSink:
    """Append / delete / optimize on a local or shared-FS Delta table.

    Row-level DML runs ONE pipeline, :meth:`_dml`: skip → match →
    touched files → write strategy → CDF → actions → :meth:`_commit`.
    The copy-on-write verbs (``delete``/``update``/``merge``) and their
    deletion-vector twins (``delete_dv``/``update_dv``/``merge_dv``)
    differ only in the strategy flag; each verb plugs in its matcher
    (a predicate, which also skips files by their stats, or
    ``_merge``'s key join), its
    new-rows step (none, ``_update``'s cast assignments, ``_merge``'s
    source join) and — through the tags its matcher sets — its change
    types.  Every read goes through :meth:`_dml_scan` — the table
    reader's own :func:`delta_log.scan_with_file_frame` — every staged
    file through :meth:`_stage_adds`; ``reorg`` and ``optimize`` reuse
    the same scan and rewrite (:meth:`_rewrite`).

    One snapshot per operation: each public operation reads ONE
    :class:`delta_log.Snapshot` of the table when it starts
    (:meth:`_state`), and everything it derives from the table —
    column mapping, column types and fields, in-commit timestamps, row
    tracking and its high-water mark, identity columns, the live
    files — comes from that snapshot, so nothing outlives the
    operation.  Its commits start from the version it read:
    :meth:`_commit` checks its actions against every commit made since
    that version (snapshot isolation with a conflict check, as Delta
    writers do), then re-reads the snapshot at the new head before it
    builds the commit.  An operation that commits more than once reads
    at its own last commit before the next one."""

    #: the snapshot the running operation reads; None outside one, and
    #: after its own commit until it reads again
    _snap: Snapshot | None = None
    #: nesting depth of running operations
    _depth = 0
    #: the running operation's last commit, which its next read sees
    _own_commit: int | None = None

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        partition_by: Sequence[str] = (),
        checkpoint_interval: int = 10,
        checkpoint_parts: int | None = None,
        checkpoint_format: str = "classic",
        commit_coordinator: CommitCoordinator | None = None,
        coordinated_commits: str | None = None,
        catalog_managed: bool = False,
    ):
        self.spark = spark
        self.path = table_path
        if sum(
            x is not None
            for x in (commit_coordinator, coordinated_commits)
        ) + bool(catalog_managed) > 1:
            raise ValueError(
                "pass at most one of commit_coordinator, "
                "coordinated_commits, catalog_managed"
            )
        if coordinated_commits is not None:
            commit_coordinator = StagedCommitCoordinator(coordinated_commits)
        elif catalog_managed:
            # catalogManaged WRITE (round 10): commits stage and are
            # ratified by the catalog client bound to this path; the
            # metaData carries NO coordinator name (the spec leaves
            # the catalog identity out-of-band), and the v0 bootstrap
            # advertises the catalogManaged reader+writer feature so
            # unbound filesystem readers fail closed
            commit_coordinator = StagedCommitCoordinator.for_catalog(
                table_path
            )
        self.coordinated_commits = coordinated_commits
        self.catalog_managed = bool(catalog_managed)
        self.partition_by = list(partition_by)
        self.checkpoint_interval = checkpoint_interval
        self.checkpoint_parts = checkpoint_parts
        if checkpoint_format not in ("classic", "v2"):
            raise ValueError(
                f"checkpoint_format must be 'classic' or 'v2', "
                f"got {checkpoint_format!r}"
            )
        self.checkpoint_format = checkpoint_format
        if commit_coordinator is None:
            if _fs.scheme_of(table_path) in _UNSAFE_EXCLUSIVE_SCHEMES:
                raise ValueError(
                    f"{table_path}: raw S3 cannot do atomic "
                    "create-if-absent, so concurrent writers could tear "
                    "a commit — pass commit_coordinator= (a conditional"
                    "-put service adapter, or LockCommitCoordinator if "
                    "all writers share this process / an external lock)"
                )
            commit_coordinator = FsCommitCoordinator()
        self.coordinator = commit_coordinator
        self._pending_schema = "{}"
        #: configuration for the NEXT metaData action (clone copies the
        #: source's properties through this); None = carry forward
        self._pending_configuration: dict | None = None
        self.fs = _fs.get_fs(table_path)
        self.fs.makedirs(log_dir(table_path))
        if self.catalog_managed:
            self._adopt_catalog_managed()

    def _adopt_catalog_managed(self) -> None:
        """Adopting an EXISTING table as catalog-managed publishes the
        catalogManaged protocol upgrade as a PLAIN (backfilled) commit
        BEFORE any staged writes: a staged upgrade is invisible to
        unbound filesystem readers, who would then silently serve the
        stale published prefix instead of failing closed (round-10
        review finding).  No-op for new tables (the v0 bootstrap
        declares the feature) and already-declared tables."""
        import json as _json

        for _ in range(5):
            v = self._next_version()
            if v == 0:
                return  # new table: bootstrap declares the feature
            cur = self._state().protocol
            up = upgraded_protocol(
                cur, ("catalogManaged",), ("catalogManaged",)
            )
            if up == cur:
                return
            target = _fs.join(
                log_dir(self.path), TX_FMT.format(v) + ".json"
            )
            try:
                self.fs.create_exclusive(
                    target, _json.dumps({"protocol": up}) + "\n"
                )
                return
            except FileExistsError:
                continue  # lost a race to the plain spelling: re-read
        raise ConcurrentCommitConflict(
            f"{self.path}: could not publish the catalogManaged "
            "protocol upgrade after 5 attempts — concurrent writers "
            "keep taking the next version"
        )

    # -- commit machinery ---------------------------------------------------

    def _state(self) -> Snapshot:
        """The snapshot the running operation reads (a fresh one
        outside any operation)."""
        if self._depth == 0:
            return snapshot(self.path)
        if self._snap is None:
            self._snap = snapshot(self.path, self._own_commit)
        return self._snap

    def _next_version(self) -> int:
        """Head+1 over BOTH the JSON commits and the checkpoint: after
        log truncation (vacuum at head, v2-checkpoint conversion) no
        JSON may survive, and a writer that fell back to version 0
        would commit BEHIND the checkpoint — invisible to every
        reader."""
        from .delta_log import read_last_checkpoint

        vs = _backfilled_commit_versions(self.path)
        ckpt = read_last_checkpoint(self.path)
        cands = vs[-1:] + ([ckpt] if ckpt is not None else [])
        if isinstance(self.coordinator, StagedCommitCoordinator):
            # ratified-but-unbackfilled tail counts toward the head
            rat = self.coordinator.client.get_commits(self.path, 0)
            if rat:
                cands.append(max(rat))
        return (max(cands) + 1) if cands else 0

    def backfill_commits(self, upto: int | None = None) -> int:
        """Publish ratified staged commits as plain ``<v>.json`` files
        (PROTOCOL.md backfill rules): version order, idempotent, and
        tolerant of a concurrent backfiller (losing the exclusive
        create means someone else already published the identical
        bytes).  After backfill the staged spellings become published
        duplicates every reader tolerates.  Returns the number of
        commits published."""
        if not isinstance(self.coordinator, StagedCommitCoordinator):
            raise ValueError(
                "backfill_commits needs a coordinated sink "
                "(coordinated_commits=...)"
            )
        log = log_dir(self.path)
        n = 0
        for v, rel in sorted(
            self.coordinator.client.get_commits(self.path, 0).items()
        ):
            if upto is not None and v > upto:
                break
            plain = _fs.join(log, TX_FMT.format(v) + ".json")
            if self.fs.exists(plain):
                continue
            try:
                self.fs.create_exclusive(
                    plain, self.fs.read_text(_fs.join(log, rel))
                )
            except FileExistsError:
                continue
            n += 1
        return n

    @_operation
    def _commit(
        self,
        actions: list[dict],
        operation: str | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Atomically create the next numbered commit file.  ``open(x)``
        fails if a concurrent writer won the version — retry with the
        next number (optimistic concurrency, Delta-style).

        The commit starts from the version the operation read: it first
        tries the version after it, and every commit past it is checked
        against ``actions`` (:meth:`_check_conflicts`); when none
        conflicts, the snapshot is re-read at the new head, so the
        commit's metaData, row ids and timestamps are built on the
        state it lands on.  A bare commit, made outside any operation
        (its actions read nothing through this sink), starts at
        :meth:`_next_version` and is checked from there.
        ``operation`` records a Delta-style ``commitInfo`` action (the
        audit row ``history()`` surfaces).  ``expected_version`` makes
        the commit compare-and-swap: it must land at exactly that
        version or raise ConcurrentCommitConflict — for a commit whose
        actions name their own version (the row-id backfill's
        ``defaultRowCommitVersion``)."""
        if operation is not None:
            actions = [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": operation,
                        "operationParameters": {},
                    }
                },
                *actions,
            ]
        # the last version these actions are validated against
        validated = self._state().version if self._depth > 1 else None
        v = None if validated is None else validated + 1
        # per-_commit marker: which adds THIS call stamped (so a retry
        # re-stamps them from the fresh watermark, while adds that
        # arrived pre-assigned are never touched)
        self._rt_stamped_ids = set()
        while True:
            if v is None:
                v = self._next_version()
            if expected_version is not None and v != expected_version:
                raise ConcurrentCommitConflict(
                    f"expected to commit version {expected_version} but "
                    f"head moved to {v - 1}; re-read and retry"
                )
            if validated is None:
                validated = v - 1
            elif v - 1 > validated:
                # other writers committed (validated, v): re-submitting
                # is only safe when none of them conflicts with what
                # this operation read and writes (concurrent
                # DELETE/OPTIMIZE can otherwise both remove the same
                # path) — Delta's conflict-detection rule, simplified
                # to fail-on-overlap
                self._check_conflicts(range(validated + 1, v), actions)
                validated = v - 1
            if self._state().version != validated:
                self._snap = snapshot(self.path, validated)
            target = _fs.join(log_dir(self.path), TX_FMT.format(v) + ".json")
            body = []
            real_actions = [a for a in actions if "commitInfo" not in a]
            if v == 0:
                if not real_actions and self._pending_schema == "{}":
                    # first-ever operation wrote no data and no schema is
                    # known (OPTIMIZE/DELETE on an empty table): a v0
                    # bootstrap would record the "{}" placeholder and
                    # leave the table unreadable — skip the commit
                    return -1
                proto = {"minReaderVersion": 1, "minWriterVersion": 2}
                if getattr(self, "coordinated_commits", None):
                    # writer feature only: readers read the backfilled
                    # prefix normally; writers must route through the
                    # coordinator or they could tear versions
                    proto = upgraded_protocol(
                        proto, (), ("coordinatedCommits",)
                    )
                if getattr(self, "catalog_managed", False):
                    # reader AND writer feature: the filesystem log can
                    # lag the catalog-owned truth, so unbound readers
                    # must fail closed (delta_log._FEATURE_NOTES)
                    proto = upgraded_protocol(
                        proto, ("catalogManaged",), ("catalogManaged",)
                    )
                if self._schema_uses_variant():
                    # VARIANT columns are feature-gated (PROTOCOL.md
                    # "Variant Data Type"): readers that don't know the
                    # shredded layout must refuse, so the bootstrap
                    # protocol must advertise it
                    proto = upgraded_protocol(
                        proto, ("variantType",), ("variantType",)
                    )
                body.append({"protocol": proto})
                body.append({"metaData": self._metadata_action()})
            elif (
                prev_ss := self._schema_changed_from(actions)
            ) is not None:
                # appending a different schema records new metaData, so
                # readers (and the mirror's schema guard) see the change
                # (skipped when the caller supplies metaData explicitly,
                # e.g. evolve_rename)
                record_meta = True
                if self._current_mapping():
                    def _nn(key):
                        # nullability-normalized: an incoming frame
                        # with tighter nullability (spark.range's NOT
                        # NULL id) is storable under the recorded
                        # nullable schema as-is
                        def relax(node):
                            if isinstance(node, dict):
                                return {
                                    k: (True if k == "nullable" else relax(v))
                                    for k, v in node.items()
                                }
                            if isinstance(node, list):
                                return [relax(v) for v in node]
                            return node

                        return relax(key)

                    if _nn(self._schema_key(prev_ss)) == _nn(
                        self._schema_key(self._pending_schema)
                    ):
                        # nullability-only drift on a mapped table:
                        # keep the recorded metaData (round 12 — the
                        # unmapped path re-records it; here recording
                        # would clobber the mapping annotations)
                        self._pending_schema = prev_ss
                        record_meta = False
                    else:
                        raise ValueError(
                            "schema-changing append on a column-mapped "
                            "table would clobber the logical->physical "
                            "mapping; rename via evolve_rename(), add "
                            "columns via evolve_add(), then append "
                            "under the current logical schema"
                        )
                if record_meta:
                    # a retype inside the change: lossless widenings
                    # are legal but make the old (narrow) files
                    # readable only under typeWidening promotion —
                    # annotate the per-field delta.typeChanges history
                    # and gate the feature; anything lossy fails loudly
                    # (silently recording the new type would corrupt
                    # old rows on read)
                    widened = self._annotate_type_changes(prev_ss)
                    feats = []
                    if self._schema_uses_variant():
                        feats.append("variantType")
                    if widened:
                        feats.append("typeWidening")
                    if feats:
                        cur = self._state().protocol
                        need = [
                            f
                            for f in feats
                            if f
                            not in ((cur or {}).get("readerFeatures") or [])
                        ]
                        if need:
                            pr = upgraded_protocol(
                                cur, tuple(need), tuple(need)
                            )
                            if pr != cur:
                                body.append({"protocol": pr})
                    body.append({"metaData": self._metadata_action()})
            body.extend(actions)
            if not [a for a in body if "commitInfo" not in a]:
                # nothing to record (e.g. OPTIMIZE/DELETE that matched
                # nothing): a commit carrying at most commitInfo is
                # protocol noise — skip it and report the current version
                return v - 1
            self._stamp_row_ids(v, body)
            self._stamp_ict(v, body)
            try:
                self.coordinator.create_commit(
                    self.fs,
                    target,
                    "\n".join(json.dumps(a) for a in body) + "\n",
                )
            except FileExistsError:
                v = None  # lost the race: validate the winners, rebase
                continue
            meta = next(
                (a["metaData"] for a in body if "metaData" in a),
                self._state().metadata,
            )
            # the operation's next read sees its own commit
            self._snap = None
            self._own_commit = v
            if (v + 1) % self.checkpoint_interval == 0 and not getattr(
                self, "_ckpt_suspended", False
            ):
                self._write_checkpoint(v, meta)
            return v

    @staticmethod
    def _conf_on(meta: dict | None, key: str) -> bool:
        """Is the boolean table property ``key`` true in ``meta``?"""
        conf = (meta or {}).get("configuration") or {}
        return str(conf.get(key, "")).lower() == "true"

    def _body_or_table_on(self, body, key: str) -> bool:
        """Is table property ``key`` on for THIS commit?  A metaData
        action in the body overrides the table state (the enabling
        commit itself already carries the feature)."""
        for a in body or ():
            if a.get("metaData") is not None:
                return self._conf_on(a["metaData"], key)
        return self._conf_on(self._state().metadata, key)

    def _ict_enabled(self, body: list[dict]) -> bool:
        """Is in-commit-timestamp stamping on for THIS commit?  The
        enabling commit itself already stamps (PROTOCOL.md "In-Commit
        Timestamps": required from the enablement commit onward)."""
        return self._body_or_table_on(body, "delta.enableInCommitTimestamps")

    def _stamp_ict(self, v: int, body: list[dict]) -> None:
        """Write ``commitInfo.inCommitTimestamp`` = max(now, prev + 1)
        when the inCommitTimestamp writer feature is active — the
        table-internal clock that survives file copies and makes
        timestamp time travel authoritative (PROTOCOL.md "In-Commit
        Timestamps").  One driver-side metadata read of the head
        commit per write, only on ICT tables."""
        if not self._ict_enabled(body):
            return
        from .delta_log import _commit_info_of

        now = int(time.time() * 1000)
        prev = 0
        if v > 0:
            try:
                info = _commit_info_of(self.path, v - 1) or {}
                prev = int(
                    info.get("inCommitTimestamp")
                    or info.get("timestamp")
                    or 0
                )
            except FileNotFoundError:
                prev = 0
        ict = max(now, prev + 1)
        key = "delta.enableInCommitTimestamps"
        if not self._conf_on(self._state().metadata, key):
            # the enabling commit records its own version and the
            # inCommitTimestamp actually stamped into it as the
            # enablement provenance (PROTOCOL.md); a retry at another
            # version re-stamps both
            for a in body:
                md = a.get("metaData")
                if md is not None:
                    md["configuration"] = {
                        **(md.get("configuration") or {}),
                        "delta.inCommitTimestampEnablementVersion": str(v),
                        "delta.inCommitTimestampEnablementTimestamp": str(ict),
                    }
        for a in body:
            if "commitInfo" in a:
                a["commitInfo"]["inCommitTimestamp"] = ict
                return
        body.insert(
            0,
            {
                "commitInfo": {
                    "timestamp": now,
                    "inCommitTimestamp": ict,
                    "operation": "WRITE",
                    "operationParameters": {},
                }
            },
        )

    def _rt_enabled(self, body: list[dict] | None = None) -> bool:
        """Is row tracking (PROTOCOL.md "Row Tracking") on for THIS
        commit?  A metaData action in the body overrides the table
        state (the enabling commit itself already assigns ids)."""
        return self._body_or_table_on(body, "delta.enableRowTracking")

    def _rt_hwm(self) -> int:
        """Current row-id high-water mark from the delta.rowTracking
        domain metadata (-1 when no id was ever assigned)."""
        conf = self._state().domains.get("delta.rowTracking")
        return int(json.loads(conf).get("rowIdHighWaterMark", -1)) if conf else -1

    def _stamp_row_ids(self, v: int, body: list[dict]) -> None:
        """Assign fresh ``baseRowId`` / ``defaultRowCommitVersion`` to
        every add and advance the ``delta.rowTracking`` high-water mark
        in the SAME commit (PROTOCOL.md "Row Tracking": writers with
        the feature MUST do both).  Re-stamps idempotently on each
        optimistic-concurrency retry — a race loser re-reads the
        winner's advanced watermark and rebases its id range.  Adds
        that arrive with a baseRowId already set (DV re-adds, the
        backfill) keep it: those rows' identities must not change."""
        if not self._rt_enabled(body):
            return
        stamped = self._rt_stamped_ids
        adds = [
            a["add"]
            for a in body
            if "add" in a
            and (
                a["add"].get("baseRowId") is None
                or id(a["add"]) in stamped
            )
        ]
        if not adds:
            # nothing to stamp: a caller-supplied watermark action
            # (the backfill commit) must survive untouched
            return
        # drop any watermark action a previous (lost) iteration OR the
        # caller added — we are about to write a superseding one
        caller_hwm = -1
        kept: list[dict] = []
        for a in body:
            dm = a.get("domainMetadata") or {}
            if dm.get("domain") == "delta.rowTracking":
                try:
                    caller_hwm = int(
                        json.loads(dm.get("configuration") or "{}").get(
                            "rowIdHighWaterMark", -1
                        )
                    )
                except ValueError:
                    pass
                continue
            kept.append(a)
        body[:] = kept
        # fresh ids start past the stored watermark, any range the
        # caller pre-assigned in THIS commit, and the caller's own
        # watermark — never overlapping any of them
        pre_end = max(
            (
                int(a["add"]["baseRowId"])
                + int(
                    json.loads(a["add"].get("stats") or "{}").get(
                        "numRecords", 1
                    )
                )
                - 1
                for a in body
                if "add" in a
                and a["add"].get("baseRowId") is not None
                and id(a["add"]) not in stamped
            ),
            default=-1,
        )
        hwm = max(self._rt_hwm(), pre_end, caller_hwm)
        for add in adds:
            stamped.add(id(add))
            try:
                n = int(json.loads(add.get("stats") or "{}")["numRecords"])
            except (KeyError, ValueError):
                raise ValueError(
                    f"row tracking needs numRecords stats to size the "
                    f"fresh id range; add for {add.get('path')!r} has "
                    "none"
                ) from None
            add["baseRowId"] = hwm + 1
            add["defaultRowCommitVersion"] = v
            hwm += n
        body.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": hwm}
                    ),
                    "removed": False,
                }
            }
        )

    def _enable_row_tracking(self) -> dict[str, str]:
        """Feature upgrade + id backfill for delta.enableRowTracking.
        Returns the extra configuration (materialized column names)
        the property commit must carry.  Backfill = one dataChange=
        false commit re-adding every current file with a fresh
        baseRowId range + the watermark domain metadata — the same
        shape delta-spark's ALTER TABLE backfill writes."""
        cur = self._state().protocol
        have = set((cur or {}).get("writerFeatures") or [])
        if not {"rowTracking", "domainMetadata"} <= have:
            self._commit_protocol_upgrade(
                writer_features=("rowTracking", "domainMetadata")
            )
        for _attempt in range(5):
            snap = self._state()
            todo = [f for f in snap.files(self.spark) if f.get("baseRowId") is None]
            if not todo:
                break
            hwm = self._rt_hwm()
            # the commit must land right after the version read (CAS),
            # so defaultRowCommitVersion can be written INTO the
            # backfill adds themselves
            expected = snap.version + 1
            acts: list[dict] = []
            for f in sorted(todo, key=lambda f: f["path"]):
                n = f.get("numRecords")
                if n is None:
                    raise ValueError(
                        f"cannot backfill row ids: {f['path']} has no "
                        "numRecords stats"
                    )
                add = {
                    "path": f["path"],
                    "partitionValues": f["partitionValues"] or {},
                    "size": f["size"],
                    "modificationTime": 0,
                    "dataChange": False,
                    "stats": f.get("stats")
                    or json.dumps({"numRecords": n}),
                    "deletionVector": f.get("deletionVector"),
                    "baseRowId": hwm + 1,
                    "defaultRowCommitVersion": expected,
                }
                if f.get("tags"):
                    # the backfill re-add points at the SAME physical
                    # file — its clustered-provenance tag must survive
                    # or the next OPTIMIZE re-clusters it for nothing
                    add["tags"] = f["tags"]
                acts.append({"add": add})
                hwm += int(n)
            acts.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": hwm}
                        ),
                        "removed": False,
                    }
                }
            )
            try:
                self._commit(
                    acts,
                    operation="ROW TRACKING BACKFILL",
                    expected_version=expected,
                )
                break
            except ConcurrentCommitConflict:
                self._snap = snapshot(self.path)  # re-read, re-plan
        else:
            raise ConcurrentCommitConflict(
                f"{self.path}: row-id backfill kept losing the commit "
                "race"
            )
        # idempotent re-enable: regenerating the materialized column
        # names would orphan every id already materialized under the
        # old names — keep the configured ones when present
        cur_id, cur_rcv = self._rt_mat_cols()
        if cur_id and cur_rcv:
            return {
                "delta.rowTracking.materializedRowIdColumnName": cur_id,
                "delta.rowTracking."
                "materializedRowCommitVersionColumnName": cur_rcv,
            }
        suffix = uuid.uuid4().hex[:8]
        return {
            "delta.rowTracking.materializedRowIdColumnName":
                f"_row-id-col-{suffix}",
            "delta.rowTracking.materializedRowCommitVersionColumnName":
                f"_row-commit-version-col-{suffix}",
        }

    def _rt_mat_cols(self) -> tuple:
        """(materializedRowIdColumnName, materializedRowCommitVersion
        ColumnName) from the table configuration — (None, None) when
        not configured."""
        conf = (self._state().metadata or {}).get("configuration") or {}
        return (
            conf.get("delta.rowTracking.materializedRowIdColumnName"),
            conf.get(
                "delta.rowTracking.materializedRowCommitVersionColumnName"
            ),
        )

    def _check_conflicts(self, versions, actions: list[dict]) -> None:
        """Delta's logical conflict rules (delta-io PROTOCOL.md +
        OptimisticTransaction semantics), applied by a commit-race
        LOSER before it rebases onto the winner's head and retries.
        The reference never faces this — it is single-writer by
        construction (checkpoint temp-blob/rename dance,
        Storage/CheckpointGateway.cs:96-104); a Delta mirror sharing a
        table with other writers does, daily.

        Benign (rebase + retry, no error): append vs append on
        disjoint files; OPTIMIZE (``dataChange: false`` adds/removes)
        racing an append in either direction; a winner's metaData
        that is schema-identical to mine (e.g. the two-writer
        bootstrap race) with unchanged partitioning/constraints; a
        winner's DELETE of files my commit never touches.

        True conflicts (raise ConcurrentCommitConflict — caller must
        re-plan from the new snapshot):

        - winner changed the protocol (this commit was validated
          against the old feature set);
        - winner changed metadata while this commit carries metaData
          (blind re-submit would overwrite the winner's state), or
          changed the schema / partition columns / CHECK constraints
          my staged files were written and validated under;
        - file overlap: winner added or removed a path this commit
          also adds/removes (double-remove, or an OPTIMIZE add
          resurrecting concurrently-deleted rows);
        - winner added ``dataChange: true`` files while this commit
          is a READING transaction (it removed files with
          ``dataChange: true`` — DELETE/MERGE computed from a
          snapshot): rows matching the predicate may exist in the new
          files (write-skew; Delta's WriteSerializable rule).  Blind
          appends and OPTIMIZE (``dataChange: false`` removes) are
          exempt;
        - winner advanced the same ``txn`` appId (the idempotence
          watermark this commit is about to assert would go
          backwards)."""
        mine = {
            a[k]["path"] for a in actions for k in ("add", "remove") if k in a
        }
        mine_meta = any("metaData" in a for a in actions)
        mine_adds = any("add" in a for a in actions)
        i_read_data = any(
            a["remove"].get("dataChange", True)
            for a in actions
            if "remove" in a
        )
        my_txn_apps = {
            a["txn"]["appId"] for a in actions if "txn" in a
        }
        my_domains = {
            (a["domainMetadata"].get("domain") or "")
            for a in actions
            if "domainMetadata" in a
        }
        my_schema_key = (
            self._schema_key(self._pending_schema)
            if mine_adds and self._pending_schema != "{}"
            else None
        )
        for v in versions:
            # _read_commit resolves a coordinated table's ratified
            # staged tail: an unbackfilled winner is checked too
            for act in _read_commit(self.path, v):
                if "protocol" in act:
                    self._check_protocol_conflict(v, act["protocol"])
                if "metaData" in act:
                    self._check_meta_conflict(
                        v, act["metaData"], mine_meta, my_schema_key
                    )
                if "txn" in act and act["txn"].get("appId") in my_txn_apps:
                    raise ConcurrentCommitConflict(
                        f"concurrent commit {v} advanced txn appId "
                        f"{act['txn']['appId']!r}; re-check "
                        "last_txn_version before retrying"
                    )
                if "domainMetadata" in act:
                    dom = act["domainMetadata"].get("domain") or ""
                    # the winner advancing the row-id watermark is NOT
                    # a conflict: the rebased commit re-reads it and
                    # restamps its id range
                    if dom != "delta.rowTracking" and dom in my_domains:
                        raise ConcurrentCommitConflict(
                            f"concurrent commit {v} wrote domain "
                            f"metadata for {dom!r} this commit also "
                            "sets; re-read and retry"
                        )
                for k in ("add", "remove"):
                    if k in act and act[k]["path"] in mine:
                        raise ConcurrentCommitConflict(
                            f"concurrent commit {v} touched "
                            f"{act[k]['path']}; retry the operation "
                            f"from the new snapshot"
                        )
                if (
                    i_read_data
                    and "add" in act
                    and act["add"].get("dataChange", True)
                ):
                    raise ConcurrentCommitConflict(
                        f"concurrent commit {v} appended data while "
                        "this commit deletes by predicate — new rows "
                        "may match; re-run the delete from the new "
                        "snapshot"
                    )

    #: writer features whose semantics this sink actually enforces on
    #: its own writes — a winner's protocol upgrade WITHIN this set is
    #: a benign rebase; anything outside it means our retried commit
    #: could violate an obligation we don't implement (e.g.
    #: identityColumns: appends must assign identity values)
    _SINK_WRITER_FEATURES = frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "generatedColumns",
            "changeDataFeed",
            "columnMapping",
            "deletionVectors",
            "v2Checkpoint",
            "vacuumProtocolCheck",
            "timestampNtz",
            "inCommitTimestamp",
            "rowTracking",
            "domainMetadata",
            # this sink writes variant tables itself (_schema_uses_
            # variant gate) — a rival's variantType upgrade must
            # rebase, not hard-fail the bootstrap race
            "variantType",
            "variantType-preview",
            # round 6: appends assign identity values and advance the
            # high water mark (add_identity_column)
            "identityColumns",
            # round 7: this sink widens columns itself (widen_column)
            # and upcasts narrow appends to the table schema — a
            # rival's typeWidening upgrade rebases cleanly
            "typeWidening",
            "typeWidening-preview",
            # round 7: liquid clustering (set_cluster_by + Hilbert
            # OPTIMIZE); the feature imposes no obligations on plain
            # appends, so a rival's upgrade rebases cleanly
            "clustering",
        }
    )

    def _check_protocol_conflict(self, v: int, proto: dict) -> None:
        """A winner's protocol action conflicts only when it demands
        writer obligations this sink does not implement — the
        two-writer bootstrap race (both try to commit the identical
        v0 protocol) and an upgrade within the enforced feature set
        rebase cleanly."""
        w = proto.get("minWriterVersion") or 2
        wf = set(proto.get("writerFeatures") or [])
        rf = set(proto.get("readerFeatures") or [])
        ok = (
            w in (1, 2, 3, 4, 5, 6)  # legacy versions whose implied
            # features (appendOnly/invariants/checkConstraints/CDF/
            # generatedColumns/columnMapping/identityColumns) this
            # sink enforces
            or (w == 7 and not (wf - self._SINK_WRITER_FEATURES))
        ) and not (rf - self._SINK_WRITER_FEATURES)
        if not ok:
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} upgraded the table protocol to "
                f"minWriterVersion={w} writerFeatures={sorted(wf)}; "
                "this writer cannot prove its retried commit honors "
                "those obligations — re-validate and retry"
            )

    def _check_meta_conflict(
        self, v: int, winner_md: dict, mine_meta: bool, my_schema_key
    ) -> None:
        """metaData-vs-metaData is always a conflict (blind overwrite);
        a winner's metaData under MY data commit conflicts only when it
        invalidates my staged files: different schema, different
        partition columns, or new CHECK constraints my rows were never
        validated against.  Anything else (a property tweak, the
        schema-identical bootstrap race) is a benign rebase."""
        if mine_meta:
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} changed table metadata; "
                "re-read and retry"
            )
        if my_schema_key is None:
            return
        winner_key = self._schema_key(winner_md.get("schemaString") or "{}")
        if winner_key != my_schema_key:
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} changed the table schema; "
                "staged files no longer conform — re-plan the write"
            )
        if list(winner_md.get("partitionColumns") or []) != list(
            self.partition_by
        ):
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} changed the partition "
                "columns; staged files are laid out for the old ones"
            )
        conf = winner_md.get("configuration") or {}
        if any(k.startswith("delta.constraints.") for k in conf):
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} added a CHECK constraint this "
                "commit's rows were never validated against; re-run"
            )

    def _schema_uses_variant(self) -> bool:
        """Does the pending schema contain a VARIANT anywhere (top
        level or nested)?  Proper JSON walk — a column literally named
        'variant' must not trip the feature gate."""
        def walk(node) -> bool:
            if node == "variant":
                return True
            if isinstance(node, dict):
                return any(
                    walk(node.get(k))
                    for k in ("type", "elementType", "keyType",
                              "valueType", "fields")
                    if k in node
                )
            if isinstance(node, list):
                return any(walk(x) for x in node)
            return False

        try:
            return walk(json.loads(self._pending_schema))
        except ValueError:
            return False

    @staticmethod
    def _strip_field_metadata(node):
        """Schema-JSON comparison key: drop per-field ``metadata``
        recursively.  A column-mapped table's recorded schema carries
        ``delta.columnMapping.*`` field metadata the incoming frame's
        ``df.schema.json()`` never has — names/types/nullability are
        the actual schema identity."""
        if isinstance(node, dict):
            return {
                k: DeltaSink._strip_field_metadata(v)
                for k, v in node.items()
                if k != "metadata"
            }
        if isinstance(node, list):
            return [DeltaSink._strip_field_metadata(x) for x in node]
        return node

    @classmethod
    def _schema_key(cls, schema_json: str):
        """Schema identity for the append guard: per-field metadata
        stripped (column-mapping annotations are not schema identity)
        and TOP-LEVEL fields sorted by name — parquet/Delta access is
        by name throughout this engine, so a frame whose columns
        arrive in a different order (e.g. the mirror appending
        [src..., lineage...] after evolve_add put the new column last)
        is the same schema.  Nested struct field order is kept: there
        it IS part of the type."""
        parsed = cls._strip_field_metadata(json.loads(schema_json))
        if isinstance(parsed.get("fields"), list):
            parsed["fields"] = sorted(
                parsed["fields"], key=lambda f: f.get("name", "")
            )
        return parsed

    def _schema_changed_from(self, actions) -> str | None:
        """The previous schemaString when this commit's pending schema
        differs from it (and no caller-supplied metaData overrides it),
        else None.  The previous schema is the table's latest metaData
        (checkpoint included, so a schema change after log truncation
        is still recorded), looked up once and reused by the
        typeChanges annotation."""
        if self._pending_schema == "{}" or any(
            "metaData" in a for a in actions
        ):
            return None
        meta = self._state().metadata
        prev = None if meta is None else meta["schemaString"]
        if prev is None or self._schema_key(prev) == self._schema_key(
            self._pending_schema
        ):
            return None
        return prev

    def _annotate_type_changes(self, prev_ss: str) -> bool:
        """Called when an append's schema differs from the table's:
        classify every per-field RETYPE against the previous schema.
        Lossless widenings annotate the field's ``delta.typeChanges``
        history (recomputed from the PREVIOUS schema's entries, so the
        commit retry loop stays idempotent) and return True — the
        caller must gate the typeWidening feature.  A retype outside
        the widening matrix raises: recording it silently would make
        every old file's column read wrong.  Complex-type changes
        (nested struct evolution) pass through untouched — they keep
        the historical permissive record-metaData behavior.  Fields
        whose type is unchanged still CARRY FORWARD prior typeChanges
        history (a later added column must not erase it)."""
        from .delta_log import is_type_widening

        prev_fields = {
            f["name"]: f for f in json.loads(prev_ss)["fields"]
        }
        parsed = json.loads(self._pending_schema)
        widened = False
        dirty = False
        for f in parsed["fields"]:
            pf = prev_fields.get(f["name"])
            if pf is None:
                continue
            old_t, new_t = pf["type"], f["type"]
            prior = (pf.get("metadata") or {}).get("delta.typeChanges")
            if old_t == new_t:
                if prior and not (f.get("metadata") or {}).get(
                    "delta.typeChanges"
                ):
                    f["metadata"] = {
                        **(f.get("metadata") or {}),
                        "delta.typeChanges": prior,
                    }
                    dirty = True
                continue
            if not (isinstance(old_t, str) and isinstance(new_t, str)):
                continue  # nested evolution: historical behavior
            if not is_type_widening(old_t, new_t):
                raise ValueError(
                    f"append retypes column {f['name']!r} "
                    f"{old_t!r} -> {new_t!r}, which is not a lossless "
                    "widening (PROTOCOL.md Type Widening matrix) — "
                    "old files would read wrong; cast the input or "
                    "rewrite the table"
                )
            f["metadata"] = {
                **(f.get("metadata") or {}),
                "delta.typeChanges": list(prior or [])
                + [{"fromType": old_t, "toType": new_t}],
            }
            widened = dirty = True
        if dirty:
            self._pending_schema = json.dumps(parsed)
        return widened

    def _metadata_action(self, df: DataFrame | None = None) -> dict:
        schema_string = df.schema.json() if df is not None else self._pending_schema
        # the table id is stable for the table's lifetime and the
        # configuration (TBLPROPERTIES) must survive schema-evolving
        # commits — both carry forward from the previous metaData
        # instead of being regenerated/blanked
        prev = self._state().metadata
        conf = getattr(self, "_pending_configuration", None)
        if conf is None:
            conf = dict((prev or {}).get("configuration") or {})
        else:
            self._pending_configuration = None
        if getattr(self, "coordinated_commits", None):
            # declare the coordinator so READERS can resolve the
            # registered client and serve the staged tail
            conf.setdefault(
                "delta.coordinatedCommits.commitCoordinator-preview",
                self.coordinated_commits,
            )
        # field metadata the TABLE owns (generation expressions) must
        # survive a schema-evolving append: an input frame's schema
        # never carries it, so regenerating schemaString from the df
        # would silently erase delta.generationExpression and disable
        # generated-column enforcement from then on
        if prev is not None:
            try:
                prev_meta = {
                    f["name"]: (f.get("metadata") or {})
                    for f in json.loads(prev["schemaString"])["fields"]
                }
                parsed = json.loads(schema_string)
                changed = False
                for f in parsed["fields"]:
                    keep = {
                        k: v
                        for k, v in prev_meta.get(f["name"], {}).items()
                        if k.startswith("delta.generationExpression")
                        or k == "CURRENT_DEFAULT"
                    }
                    if keep and not (f.get("metadata") or {}):
                        f["metadata"] = keep
                        changed = True
                if changed:
                    schema_string = json.dumps(parsed)
            except (KeyError, ValueError, TypeError):
                pass
        return {
            "id": (prev or {}).get("id") or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": self.partition_by,
            "configuration": conf,
            "createdTime": int(time.time() * 1000),
        }

    def _write_checkpoint(self, version: int, meta: dict | None = None) -> None:
        """Flatten the whole log into ``<v>.checkpoint.parquet`` (or the
        protocol's multi-part ``<v>.checkpoint.<i>.<n>.parquet`` when
        ``checkpoint_parts`` > 1 — the shape a 10M-file table needs so
        the checkpoint itself writes and reads distributed) +
        ``_last_checkpoint`` (read path: DeltaTableGateway.cs:285-300).
        ``checkpoint_format='v2'`` writes the manifest+sidecar layout
        instead (see _write_checkpoint_v2).  ``meta`` is the table's
        metaData at ``version`` when the caller holds it."""
        # the delta.checkpointPolicy TABLE PROPERTY is authoritative
        # when set (Delta's own switch — a foreign writer or
        # set_properties can flip a table to v2 checkpoints without
        # every writer changing its constructor args); the
        # constructor's checkpoint_format is the fallback
        conf = (meta or self._state().metadata or {}).get("configuration")
        policy = (conf or {}).get("delta.checkpointPolicy") or self.checkpoint_format
        if policy == "v2":
            return self._write_checkpoint_v2(version)
        from .delta_log import ACTIONS_SCHEMA, reconciled_action_rows

        rows = reconciled_action_rows(self.spark, self.path, upto=version)
        log = log_dir(self.path)
        n_parts = min(self.checkpoint_parts or 1, max(1, len(rows)))
        pointer: dict = {"version": version, "size": len(rows)}
        if n_parts == 1:
            dests = [
                _fs.join(log, TX_FMT.format(version) + ".checkpoint.parquet")
            ]
            chunks = [rows]
        else:
            dests = [
                _fs.join(
                    log,
                    TX_FMT.format(version)
                    + f".checkpoint.{i:010d}.{n_parts:010d}.parquet",
                )
                for i in range(1, n_parts + 1)
            ]
            # striped split: every part non-empty whenever
            # len(rows) >= n_parts (replay order is irrelevant)
            chunks = [rows[i::n_parts] for i in range(n_parts)]
            pointer["parts"] = n_parts
        # write-then-move so a concurrent reader listing the log never
        # sees a torn checkpoint file under its final name
        for dest, chunk in zip(dests, chunks):
            tmp = _fs.join(log, f"_tmp_ckpt_{uuid.uuid4().hex}.parquet")
            self.fs.write_bytes(
                tmp, _actions_parquet_bytes(chunk, ACTIONS_SCHEMA)
            )
            self.fs.move(tmp, dest)
        self.fs.write_text(
            _fs.join(log, "_last_checkpoint"), json.dumps(pointer)
        )

    def _commit_protocol_upgrade(
        self,
        reader_features: tuple[str, ...] = (),
        writer_features: tuple[str, ...] = (),
    ) -> int:
        """Commit a feature-upgrade protocol action to the LOG (so JSON
        replay and checkpoint replay agree on the table protocol —
        PROTOCOL.md requires the feature to be enabled in the table
        protocol before any behavior depending on it).  Checkpointing
        is suspended for this inner commit to avoid recursion when
        ``checkpoint_interval`` is small."""
        pr = upgraded_protocol(
            self._state().protocol, reader_features, writer_features
        )
        self._ckpt_suspended = True
        try:
            return self._commit(
                [{"protocol": pr}], operation="UPGRADE PROTOCOL"
            )
        finally:
            self._ckpt_suspended = False

    def _write_checkpoint_v2(self, version: int) -> None:
        """V2 (manifest + sidecar) checkpoint (PROTOCOL.md "V2 Spec"):
        file actions land in ``_delta_log/_sidecars/*.parquet`` written
        DISTRIBUTED by Spark (``checkpoint_parts`` shards them — the
        shape that parallelizes a 10M-file table's checkpoint), and a
        small uuid-named manifest carries protocol/metaData/txn plus
        the sidecar references.  The ``v2Checkpoint`` table feature is
        COMMITTED to the log first (never invented inside the manifest:
        checkpoint replay and JSON replay must agree on the protocol),
        and the manifest carries the table's actual committed
        protocol."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from .delta_log import ACTIONS_SCHEMA, reconciled_action_rows

        cur = self._state().protocol or {}
        if "v2Checkpoint" not in set(
            cur.get("readerFeatures") or []
        ) or "v2Checkpoint" not in set(cur.get("writerFeatures") or []):
            version = self._commit_protocol_upgrade(
                reader_features=("v2Checkpoint",),
                writer_features=("v2Checkpoint",),
            )
        all_rows = reconciled_action_rows(self.spark, self.path, upto=version)
        log = log_dir(self.path)
        side_dir = _fs.join(log, "_sidecars")
        self.fs.makedirs(side_dir)
        file_rows = [
            {"add": r.get("add"), "remove": r.get("remove")}
            for r in all_rows
            if r.get("add") is not None or r.get("remove") is not None
        ]
        sidecar_file_schema = StructType(
            [ACTIONS_SCHEMA["add"], ACTIONS_SCHEMA["remove"]]
        )
        n_parts = min(
            self.checkpoint_parts or 1, max(1, len(file_rows))
        )
        sidecars: list[dict] = []
        now = int(time.time() * 1000)
        for i in range(n_parts):
            # striped split: every shard non-empty when there are at
            # least n_parts file actions
            chunk = file_rows[i::n_parts]
            name = f"{uuid.uuid4()}.parquet"
            dst = _fs.join(side_dir, name)
            self.fs.write_bytes(
                dst, _actions_parquet_bytes(chunk, sidecar_file_schema)
            )
            sidecars.append(
                {
                    "path": name,
                    "sizeInBytes": self.fs.getsize(dst),
                    "modificationTime": now,
                }
            )
        non_file = [
            r
            for r in all_rows
            if r.get("metaData") is not None
            or r.get("protocol") is not None
            or r.get("txn") is not None
            or r.get("domainMetadata") is not None
        ]
        sidecar_schema = StructType(
            [
                StructField("path", StringType()),
                StructField("sizeInBytes", LongType()),
                StructField("modificationTime", LongType()),
            ]
        )
        manifest_schema = StructType(
            [
                ACTIONS_SCHEMA["metaData"],
                ACTIONS_SCHEMA["protocol"],
                ACTIONS_SCHEMA["txn"],
                # domainMetadata must survive v2 checkpointing too —
                # the row-id high-water mark lives there
                ACTIONS_SCHEMA["domainMetadata"],
                StructField("sidecar", sidecar_schema),
                StructField(
                    "checkpointMetadata",
                    StructType([StructField("version", LongType())]),
                ),
            ]
        )
        blank = {
            "metaData": None,
            "protocol": None,
            "txn": None,
            "domainMetadata": None,
            "sidecar": None,
            "checkpointMetadata": None,
        }
        rows = [
            {**blank, "checkpointMetadata": {"version": version}},
        ]
        for r in non_file:
            rows.append(
                {
                    **blank,
                    "metaData": r.get("metaData"),
                    "protocol": r.get("protocol"),
                    "txn": r.get("txn"),
                    "domainMetadata": r.get("domainMetadata"),
                }
            )
        rows.extend({**blank, "sidecar": sc} for sc in sidecars)
        manifest_name = f"{TX_FMT.format(version)}.checkpoint.{uuid.uuid4()}.parquet"
        tmp2 = _fs.join(log, f"_tmp_ckptm_{uuid.uuid4().hex}.parquet")
        self.fs.write_bytes(
            tmp2, _actions_parquet_bytes(rows, manifest_schema)
        )
        self.fs.move(tmp2, _fs.join(log, manifest_name))
        self.fs.write_text(
            _fs.join(log, "_last_checkpoint"),
            json.dumps({"version": version, "size": len(rows)}),
        )
    # -- data operations ----------------------------------------------------

    def _cluster_batch(self, df: DataFrame):
        """WRITE-TIME liquid clustering (round 8): when the table
        declares CLUSTER BY, order every fresh append along the same
        Hilbert curve OPTIMIZE uses, so per-file min/max stats prune
        BETWEEN optimize passes — a freshly-ingested, never-OPTIMIZEd
        clustered table already reads clustered.  The adds carry the
        clustering provenance tag, so the incremental OPTIMIZE leaves
        them in place (O(new data) maintenance; generations may
        overlap in key space — ``optimize(full=True)`` consolidates).

        Curve bounds = the table's per-file-stats fold (driver
        metadata, free) UNIONED with the batch's own min/max (one
        aggregate over the incoming frame — the one extra pass
        write-time clustering costs).  The union matters: monotonic
        appends (timestamps, increasing keys) land past the table's
        known range, and without batch bounds every row would clamp
        into the curve's edge cell and never separate.

        Returns (possibly re-ordered df, add tags or None)."""
        import pyspark.sql.functions as F

        from .skipping import (
            bounds_from_file_stats,
            hilbert_column,
            numeric_proxy,
        )

        ccols = self._clustering_columns()
        if not ccols or any(c not in df.columns for c in ccols):
            # no declaration, or schema drift — the schema-change
            # handling downstream owns that failure mode
            return df, None
        type_of = {f.name: f.dataType for f in df.schema.fields}
        try:
            proxies = {c: numeric_proxy(c, type_of[c]) for c in ccols}
        except ValueError:
            return df, None  # legacy non-orderable declaration
        row = df.agg(
            *[F.min(proxies[c]).alias(f"lo_{c}") for c in ccols],
            *[F.max(proxies[c]).alias(f"hi_{c}") for c in ccols],
        ).collect()[0]
        bounds: dict[str, tuple[float, float]] = {}
        for c in ccols:
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            if lo is None:  # all-null / empty batch
                lo = hi = 0.0
            bounds[c] = (float(lo), float(hi))
        files = self._state().files(self.spark)
        if files:
            got = bounds_from_file_stats(ccols, type_of, files)
            if got is not None:
                bounds = {
                    c: (
                        min(bounds[c][0], got[c][0]),
                        max(bounds[c][1], got[c][1]),
                    )
                    for c in ccols
                }
        z = hilbert_column(ccols, bounds, df.schema)
        n = max(1, df.rdd.getNumPartitions())
        out = df.withColumn("_mlk_z", z)
        out = (
            out.repartitionByRange(n, "_mlk_z") if n > 1 else out.coalesce(1)
        )
        out = out.sortWithinPartitions("_mlk_z").drop("_mlk_z")
        return out, {"MLK_CLUSTERED_BY": ",".join(ccols)}

    @_operation
    def append(
        self,
        df: DataFrame,
        data_change: bool = True,
        txn: tuple[str, int] | None = None,
        extra_actions: Sequence[dict] = (),
    ) -> int:
        """Write ``df``'s rows as new parquet files + one atomic commit.

        The parquet write runs distributed; the subsequent file moves and
        the commit are driver-side metadata ops (O(new files)) — the
        Delta analogue of the reference's `.move extents` publish (K5):
        data becomes visible only at the commit point.

        ``txn=(app_id, version)`` embeds a Delta ``txn`` action in the
        same commit, making the append idempotent: a writer that crashed
        after committing discovers the fact via last_txn_version and
        does not re-append (I3 exactly-once).
        """
        df = self._apply_defaults(df)
        df = self._apply_generated(df, "WRITE")
        df = self._upcast_widened(df)
        idents = self._identity_cols()
        if idents:
            df = self._assign_identity(df, idents)
        self._pending_schema = df.schema.json()
        self._enforce_constraints(df, "WRITE")
        cluster_tags = None
        if data_change:
            df, cluster_tags = self._cluster_batch(df)
        adds = self._stage_adds(df, data_change, tags=cluster_tags)
        if idents:
            wm = self._identity_watermark_action(adds, idents)
            if wm is not None:
                adds.insert(0, wm)
                self._pending_schema = wm["metaData"]["schemaString"]
        op = "WRITE" if data_change else "WRITE (dataChange=false)"
        if txn is not None:
            adds.insert(0, self._txn_action(txn))
        return self._commit([*extra_actions, *adds], operation=op)

    @staticmethod
    def _txn_action(txn: tuple[str, int]) -> dict:
        """Delta ``txn`` action for ``txn=(app_id, version)``: riding
        the data commit, it lets a writer that crashed after committing
        find the fact via last_txn_version and not re-apply (I3
        exactly-once) — append's and merge's idempotence contract."""
        return {
            "txn": {
                "appId": txn[0],
                "version": txn[1],
                "lastUpdated": int(time.time() * 1000),
            }
        }

    def _upcast_widened(self, df: DataFrame) -> DataFrame:
        """Delta writer semantics after a type widening: input NARROWER
        than the table schema is cast up before staging, so
        ``widen_column`` doesn't strand narrow producers and — crucially
        — a narrow append can never clobber the table's wide metaData
        back down via the implicit schema-change path.  Only lossless
        widenings cast; any other mismatch flows through to the
        schema-change handling in _commit unchanged."""
        from .delta_log import is_type_widening

        tbl = {f["name"]: f["type"] for f in self._table_fields()}
        if not tbl:
            return df
        casts = {}
        for f in json.loads(df.schema.json())["fields"]:
            t = tbl.get(f["name"])
            if t is not None and is_type_widening(f["type"], t):
                from pyspark.sql.types import StructField

                casts[f["name"]] = StructField.fromJson(
                    {
                        "name": f["name"],
                        "type": t,
                        "nullable": True,
                        "metadata": {},
                    }
                ).dataType
        if not casts:
            return df
        import pyspark.sql.functions as F

        return df.withColumns(
            {n: F.col(n).cast(dt) for n, dt in casts.items()}
        )

    def _current_mapping(self) -> dict | None:
        """Logical -> physical names when THIS table uses column
        mapping (after evolve_rename), else None."""
        from .delta_log import column_mapping_of

        return column_mapping_of(self._state().metadata)

    def _stage_adds(
        self,
        df: DataFrame,
        data_change: bool = True,
        skip_empty: bool = False,
        tags: dict[str, str] | None = None,
        part_values: dict[str, str] | None = None,
        cdc: bool = False,
    ) -> list[dict]:
        """The ONE staged-file publisher: a distributed parquet write to
        a fresh ``_staging_<uuid>`` dir, then O(new files) driver-side
        footer reads and moves into place — returns the actions (adds
        with full stats) for the caller's commit.  Zero-row files are
        kept only for a plain append (empty adds are a legitimate log
        shape the mirror must handle, O4); ``skip_empty`` and change
        files drop them.

        Layout: by default ``df`` carries the partition columns and the
        write partitions by them (partitionValues read back off the
        directories).  ``part_values`` instead places a rewrite's
        partition-free rows into that one partition's directory.
        ``cdc`` stages change-data files under ``_change_data/`` and
        returns ``cdc`` actions (always ``dataChange: false``, never
        checkpointed — PROTOCOL.md "Add CDC File").

        On a column-mapped table (post-``evolve_rename``) the files
        must carry PHYSICAL column names (PROTOCOL.md "Column Mapping":
        add.partitionValues keys, directory names, and file stats are
        all physical; change files store their columns exactly as data
        files do) — the logical frame is renamed right before the
        write, so partition dirs and stats come out physical for free.

        A failure anywhere removes the staging dir and every file
        already moved, then re-raises: nothing is left behind that no
        commit will ever reference (``vacuum`` skips ``_staging_``)."""
        mapping = self._current_mapping() or {}
        if mapping:
            df = df.select(
                *[df[c].alias(mapping.get(c, c)) for c in df.columns]
            )
        part_by = (
            [] if part_values is not None
            else [mapping.get(c, c) for c in self.partition_by]
        )
        tmp = _fs.join(self.path, f"_staging_{uuid.uuid4().hex}")
        actions: list[dict] = []
        moved: list[str] = []
        try:
            writer = df.write
            if part_by:
                writer = writer.partitionBy(*part_by)
            writer.parquet(tmp)
            # NOTE (r13, measured): the commit-assembly tail below
            # (footer read + rename per file) was suspected as the
            # per-commit floor's next lever and rebuilt with a
            # 16-thread pool — the pool measured 14x SLOWER on this
            # page-cached local FS (footer reads are ~46 µs serial and
            # do not release the GIL long enough to overlap; 1024
            # files: 0.047 s serial vs 0.64 s pooled), and the whole
            # serial tail is ~1.5 % of a 1024-file commit (0.07 s of
            # 4.5 s — the write JOB is the floor).  Reverted; see
            # OPTIMIZATION_r13.md.  On
            # an object store (ms-latency round trips) a pool would
            # win — revisit only with such a backend to measure
            # against.
            counts: dict[str, int] | None = None
            for dirpath, _dirs, files in self.fs.walk(tmp):
                rel_dir = dirpath[len(tmp):].strip("/")
                if part_values is not None:
                    pv, rel_dir = part_values, partition_subdir(part_values)
                else:
                    pv = dict(
                        partition_dir_segment(seg)
                        for seg in rel_dir.split("/")
                        if seg
                    )
                if cdc:
                    rel_dir = "/".join(p for p in ("_change_data", rel_dir) if p)
                for name in files:
                    if not name.endswith(".parquet"):
                        continue
                    src = _fs.join(dirpath, name)
                    meta = _safe_parquet_meta(src)
                    if meta is None:
                        if counts is None:
                            counts = _spark_row_counts(self.spark, tmp)
                        nrows = counts.get(src[len(tmp):].lstrip("/"), 0)
                    else:
                        nrows = meta.num_rows
                    if nrows == 0 and (skip_empty or cdc):
                        continue
                    new_name = (
                        f"{'cdc' if cdc else 'part'}-{uuid.uuid4().hex}"
                        ".snappy.parquet"
                    )
                    rel = f"{rel_dir}/{new_name}" if rel_dir else new_name
                    dst = _fs.join(self.path, rel)
                    self.fs.makedirs(dst.rsplit("/", 1)[0])
                    moved.append(dst)
                    self.fs.move(src, dst)
                    act = {
                        "path": rel,
                        "partitionValues": dict(pv),
                        "size": self.fs.getsize(dst),
                    }
                    if cdc:
                        actions.append({"cdc": {**act, "dataChange": False}})
                        continue
                    act.update(
                        modificationTime=int(time.time() * 1000),
                        dataChange=data_change,
                        stats=file_stats_json(meta)
                        if meta is not None
                        else json.dumps({"numRecords": nrows}),
                    )
                    if tags:
                        act["tags"] = dict(tags)
                    actions.append({"add": act})
        except BaseException:
            for dst in moved:
                try:
                    self.fs.remove(dst)
                except OSError:
                    pass
            raise
        finally:
            self.fs.rmtree(tmp)
        return actions


    @_operation
    def add_constraint(self, name: str, expr: str) -> int:
        """ADD CONSTRAINT (PROTOCOL.md "CHECK Constraints"): record
        ``delta.constraints.<name> = <expr>`` in the table metadata and
        commit the ``checkConstraints`` writer feature.  Every
        subsequent append/merge enforces the predicate and refuses the
        whole commit on any violating row (writers that cannot enforce
        must not write — hence the feature gate).  The expression must
        already hold on the CURRENT rows (Delta's own ADD CONSTRAINT
        validates existing data)."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"constraint name must be a bare word: {name!r}")
        from .delta_log import read_snapshot

        try:
            current = read_snapshot(self.spark, self.path)
        except FileNotFoundError:
            current = None
        if current is not None:
            bad = current.filter(f"NOT coalesce(({expr}), false)").limit(1)
            rows = bad.collect()
            if rows:
                raise ValueError(
                    f"cannot add constraint {name}: existing row "
                    f"violates ({expr}): {rows[0].asDict()}"
                )
        self._commit_protocol_upgrade(
            writer_features=("checkConstraints",)
        )
        return self.set_properties({f"delta.constraints.{name}": expr})

    @_operation
    def drop_constraint(self, name: str) -> int:
        """DROP CONSTRAINT: unset the property (the writer feature
        stays — features are never removed from a protocol)."""
        return self.set_properties({}, unset=(f"delta.constraints.{name}",))

    def _constraints(self) -> dict[str, str]:
        conf = (self._state().metadata or {}).get("configuration") or {}
        pfx = "delta.constraints."
        return {
            k[len(pfx):]: v for k, v in conf.items() if k.startswith(pfx)
        }

    def _enforce_constraints(self, df: DataFrame, op: str) -> None:
        """Refuse the write when any row violates a CHECK constraint —
        one ``limit(1)`` probe per constraint, only when constraints
        exist (zero cost on the common path).  NULL predicate results
        count as violations (Delta's CHECK semantics: the constraint
        must evaluate to true)."""
        for name, expr in self._constraints().items():
            rows = df.filter(f"NOT coalesce(({expr}), false)").limit(1).collect()
            if rows:
                raise ValueError(
                    f"{op} violates CHECK constraint {name} ({expr}): "
                    f"{rows[0].asDict()}"
                )

    @_operation
    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> int:
        """ADD an IDENTITY column (PROTOCOL.md "Identity Columns"):
        append a BIGINT field whose ``delta.identity.start`` / ``step``
        / ``allowExplicitInsert: false`` metadata makes every
        subsequent append assign system-generated values.  Existing
        files read NULL for it (like generated columns, assignment is
        a write-time behavior).

        Assignment is pure JVM and shuffle-free: value = watermark +
        step * (1 + partition_id + local_row_index * 65536), derived
        from ``monotonically_increasing_id``'s (partition, index)
        encoding — unique by construction, MONOTONIC per Delta's
        contract, and gap-tolerant exactly as Delta documents
        ("identity values are not guaranteed contiguous").  The high
        water mark advances to the true MAX of each batch (read from
        the add-file stats, falling back to one max() scan), recorded
        as ``delta.identity.highWaterMark`` field metadata in the SAME
        commit as the data — crash-safe like everything else here."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"column name must be a bare word: {name!r}")
        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"{self.path}: no table metadata yet")
        parsed = json.loads(meta["schemaString"])
        if name in {f["name"] for f in parsed["fields"]}:
            raise ValueError(f"column {name!r} already exists")
        self._commit_protocol_upgrade(
            writer_features=("identityColumns",)
        )
        field = {
            "name": name,
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.identity.start": start,
                "delta.identity.step": step,
                "delta.identity.allowExplicitInsert": False,
            },
        }
        new_schema = json.dumps(
            {**parsed, "fields": parsed["fields"] + [field]}
        )
        self._pending_schema = new_schema
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation="ADD COLUMNS (identity)",
        )

    def _identity_cols(self) -> dict[str, dict]:
        """name -> {start, step, highWaterMark?} from field metadata."""
        out = {}
        for f in self._table_fields():
            md = f.get("metadata") or {}
            if "delta.identity.start" in md:
                out[f["name"]] = {
                    "start": int(md["delta.identity.start"]),
                    "step": int(md["delta.identity.step"]),
                    "hwm": md.get("delta.identity.highWaterMark"),
                    "allow": bool(
                        md.get("delta.identity.allowExplicitInsert")
                    ),
                }
        return out

    def _assign_identity(self, df: DataFrame, idents: dict) -> DataFrame:
        """Assign values for every identity column absent from ``df``
        (present + allowExplicitInsert=false refuses, Delta's GENERATED
        ALWAYS contract).  Dense interleave, delta-spark's own scheme:
        k = 1 + partition_id + local_row_index * numPartitions — unique
        because partition_id < numPartitions, and nearly gap-free.  The
        planned partition count is pinned from the frame; should a
        runtime re-plan ever yield MORE partitions, the guard raises
        instead of silently colliding.  Pure JVM, shuffle-free."""
        nparts = max(df.rdd.getNumPartitions(), 1)
        mid = F.monotonically_increasing_id()
        pid = F.shiftright(mid, 33)
        idx = mid.bitwiseAND(F.lit((1 << 33) - 1))
        for name, info in idents.items():
            if name in df.columns:
                if not info["allow"]:
                    raise ValueError(
                        f"identity column {name!r} is GENERATED ALWAYS "
                        "— remove it from the input frame"
                    )
                continue
            base = (
                int(info["hwm"])
                if info["hwm"] is not None
                else info["start"] - info["step"]
            )
            k = F.lit(1) + pid + idx * F.lit(nparts)
            value = F.lit(base) + F.lit(info["step"]) * k
            guarded = F.when(pid < F.lit(nparts), value).otherwise(
                F.expr(
                    "raise_error('identity assignment planned "
                    f"{nparts} partitions but saw more at runtime — "
                    "re-run the write')"
                )
            )
            df = df.withColumn(name, guarded.cast("long"))
        return df

    def _identity_watermark_action(
        self, adds: list[dict], idents: dict
    ) -> dict | None:
        """New metaData action advancing each identity column's
        highWaterMark to the batch's true MAX (from the add stats;
        one max() scan over the new files when a stats entry is
        missing).  None when nothing advanced."""
        new_hwm: dict[str, int] = {}
        mapping = self._current_mapping() or {}
        for name, info in idents.items():
            # stats keys (and the fallback scan's columns) are
            # PHYSICAL on a column-mapped table
            pname = mapping.get(name, name)
            vals = []
            missing = []
            stat_key = "maxValues" if info["step"] > 0 else "minValues"
            for a in adds:
                add = a.get("add")
                if add is None:
                    continue
                st = json.loads(add.get("stats") or "{}")
                v = (st.get(stat_key) or {}).get(pname)
                if v is None:
                    if st.get("numRecords", 1):
                        missing.append(add["path"])
                else:
                    vals.append(int(v))
            if missing:
                scan = read_parquet(
                    self.spark, *[_fs.join(self.path, p) for p in missing]
                )
                agg = F.max(pname) if info["step"] > 0 else F.min(pname)
                row = scan.agg(agg).collect()[0]
                if row[0] is not None:
                    vals.append(int(row[0]))
            if not vals:
                continue
            # the water mark is the extreme in the STEP's direction
            # (a negative step descends: its mark is the minimum)
            batch_max = max(vals) if info["step"] > 0 else min(vals)
            prev = (
                int(info["hwm"])
                if info["hwm"] is not None
                else info["start"] - info["step"]
            )
            if (info["step"] > 0 and batch_max > prev) or (
                info["step"] < 0 and batch_max < prev
            ):
                new_hwm[name] = batch_max
        if not new_hwm:
            return None
        meta = self._state().metadata
        parsed = json.loads(meta["schemaString"])
        for f in parsed["fields"]:
            if f["name"] in new_hwm:
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    "delta.identity.highWaterMark": new_hwm[f["name"]],
                }
        return {"metaData": {**meta, "schemaString": json.dumps(parsed)}}

    @_operation
    def add_generated_column(
        self, name: str, sql_type: str, expr: str
    ) -> int:
        """ADD a generated column (PROTOCOL.md "Generated Columns"):
        append a field whose ``delta.generationExpression`` metadata
        records the expression, and commit the ``generatedColumns``
        writer feature.  Existing files read NULL for the column
        (generation applies at write time, Delta's own semantics);
        subsequent appends/merges compute it when absent from the
        input and validate it (null-safe equality) when present.

        Generated partition columns are the headline use: a ``day``
        column generated from an event timestamp gives storage-layer
        partition pruning without trusting every writer to derive it
        consistently."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"column name must be a bare word: {name!r}")
        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"{self.path}: no table metadata yet")
        parsed = json.loads(meta["schemaString"])
        if name in {f["name"] for f in parsed["fields"]}:
            raise ValueError(f"column {name!r} already exists")
        self._commit_protocol_upgrade(
            writer_features=("generatedColumns",)
        )
        field = {
            "name": name,
            "type": sql_type,
            "nullable": True,
            "metadata": {"delta.generationExpression": expr},
        }
        new_schema = json.dumps(
            {**parsed, "fields": parsed["fields"] + [field]}
        )
        self._pending_schema = new_schema
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation="ADD COLUMNS (generated)",
        )

    @_operation
    def set_column_default(self, column: str, sql_expr: str) -> int:
        """ALTER COLUMN ... SET DEFAULT (PROTOCOL.md "Default
        Columns", writer feature ``allowColumnDefaults``): the
        expression lands in the field's ``CURRENT_DEFAULT`` metadata,
        and an append whose frame OMITS the column gets the default
        evaluated per row (an explicitly supplied value always wins —
        defaults are a writer-side fill, never validation).  Writer-
        only feature: readers see ordinary data, so the reader version
        stays put.  Existing rows are untouched (Delta's own
        semantics: SET DEFAULT affects future writes only)."""
        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"no Delta table at {self.path}")
        parsed = json.loads(meta["schemaString"])
        field = next(
            (f for f in parsed["fields"] if f["name"] == column), None
        )
        if field is None:
            raise ValueError(f"no such column: {column!r}")
        # fail at DECLARATION if the expression doesn't evaluate or
        # can't cast to the column's type — not at every later append.
        # The null-check (not just the cast) makes this independent of
        # spark.sql.ansi.enabled: with ANSI off a bad cast returns
        # NULL instead of raising, which would otherwise defer the
        # failure to silent NULL fills on every later append
        from ..schema import delta_type_to_spark

        tname = delta_type_to_spark(field["type"]).simpleString()
        probe = self.spark.sql(
            f"SELECT ({sql_expr}) AS v, "
            f"TRY_CAST(({sql_expr}) AS {tname}) AS c"
        ).collect()[0]
        if probe.v is not None and probe.c is None:
            raise ValueError(
                f"default ({sql_expr}) does not cast to {column}'s "
                f"type {tname}"
            )
        self._commit_protocol_upgrade(
            writer_features=("allowColumnDefaults",)
        )
        field.setdefault("metadata", {})["CURRENT_DEFAULT"] = sql_expr
        new_schema = json.dumps(parsed)
        self._pending_schema = new_schema
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation=f"ALTER COLUMN (set default {column})",
        )

    @_operation
    def drop_column_default(self, column: str) -> int:
        """ALTER COLUMN ... DROP DEFAULT: removes ``CURRENT_DEFAULT``
        from the field metadata (the feature stays in the protocol —
        Delta features are never retracted by ordinary DDL)."""
        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"no Delta table at {self.path}")
        parsed = json.loads(meta["schemaString"])
        field = next(
            (f for f in parsed["fields"] if f["name"] == column), None
        )
        if field is None or "CURRENT_DEFAULT" not in (
            field.get("metadata") or {}
        ):
            raise ValueError(f"no default on column: {column!r}")
        del field["metadata"]["CURRENT_DEFAULT"]
        new_schema = json.dumps(parsed)
        self._pending_schema = new_schema
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation=f"ALTER COLUMN (drop default {column})",
        )

    def _defaults(self) -> dict[str, tuple[str, str]]:
        """name -> (default expression, Delta type) from field
        metadata ``CURRENT_DEFAULT``."""
        fields = self._table_fields()
        return {
            f["name"]: (f["metadata"]["CURRENT_DEFAULT"], f["type"])
            for f in fields
            if (f.get("metadata") or {}).get("CURRENT_DEFAULT")
        }

    def _table_fields(self) -> list[dict]:
        """The table schema's field dicts ([] before the first
        metaData), shared by the defaults fill, the identity columns
        and the append upcast."""
        meta = self._state().metadata
        return [] if meta is None else json.loads(meta["schemaString"])["fields"]

    def _apply_defaults(self, df: DataFrame) -> DataFrame:
        """Fill columns ABSENT from the frame with their declared
        default (cast to the column's table type); supplied values —
        including explicit NULLs — always win.  Runs before generated-
        column handling so a generation expression may reference a
        defaulted column.  ONE metadata read, and none of this touches
        the plan when the table declares no defaults."""
        import pyspark.sql.functions as F

        from ..schema import delta_type_to_spark

        defaults = self._defaults()
        missing = [n for n in defaults if n not in df.columns]
        if not missing:
            return df
        df = df.withColumns(
            {
                n: F.expr(defaults[n][0]).cast(
                    delta_type_to_spark(defaults[n][1])
                )
                for n in missing
            }
        )
        # keep the table's declared column order where possible, so a
        # defaults-filled append doesn't reorder the metaData schema
        order = [f["name"] for f in self._table_fields()]
        if set(order) == set(df.columns):
            df = df.select(*order)
        return df

    def _generated(self) -> dict[str, str]:
        """name -> generation expression, from schema field metadata."""
        return {
            f["name"]: f["metadata"]["delta.generationExpression"]
            for f in self._table_fields()
            if (f.get("metadata") or {}).get("delta.generationExpression")
        }

    def _apply_generated(self, df: DataFrame, op: str) -> DataFrame:
        """Compute absent generated columns; validate present ones
        (null-safe equality, limit-1 probe) — a writer supplying a
        value that disagrees with the generation expression must fail,
        not silently diverge (the generatedColumns feature contract)."""
        import pyspark.sql.functions as F

        for name, expr in self._generated().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
                continue
            rows = (
                df.filter(f"NOT coalesce(({name}) <=> ({expr}), false)")
                .limit(1)
                .collect()
            )
            if rows:
                raise ValueError(
                    f"{op} violates generated column {name} = ({expr}): "
                    f"{rows[0].asDict()}"
                )
        return df

    def _cdf_enabled(self) -> bool:
        """True when the table property ``delta.enableChangeDataFeed``
        is set — the DML paths then also stage row-level change files
        (PROTOCOL.md "Add CDC File")."""
        return self._conf_on(self._state().metadata, "delta.enableChangeDataFeed")

    @staticmethod
    def _groups(files) -> list[tuple[dict, list[dict]]]:
        """Snapshot file dicts grouped by partition tuple:
        ``[(partitionValues, [file, ...]), ...]`` — one rewrite (and
        one partition directory) per group."""
        groups: dict[tuple, list[dict]] = {}
        for f in files:
            key = tuple(sorted((f["partitionValues"] or {}).items()))
            groups.setdefault(key, []).append(f)
        return [(dict(k), g) for k, g in groups.items()]

    def _dml_scan(self, meta, files, dvs=False, row_ids=False) -> DataFrame:
        """The one scan behind the DML, reorg and optimize paths:
        LOGICAL rows of ``files`` through
        :func:`delta_log.scan_with_file_frame`, which owns the
        physical→logical respelling and the partition values (they
        live in the log, not the file, A7/O6).  ``dvs`` anti-joins the
        rows the files' existing deletion vectors delete.  ``row_ids``
        MATERIALIZES the row-tracking columns, so a rewrite or an
        appended post-image keeps every row's identity (PROTOCOL.md
        "Row Tracking").  Probes (``row_ids`` off) carry each row's
        physical identity: ``_f``, the file in
        :func:`fs.data_path_spelling`'s spelling, and ``_ridx``, its
        row index."""
        from .delta_log import scan_with_file_frame

        mats = self._rt_mat_cols() if row_ids and self._rt_enabled() else ()
        df = scan_with_file_frame(
            self.spark,
            self.path,
            meta,
            files,
            identity=not row_ids,
            apply_dvs=dvs,
            row_ids=mats if mats and mats[0] else None,
        )
        if row_ids:
            return df
        return df.withColumnsRenamed(
            {"__mlk_file": "_f", "__mlk_ridx": "_ridx"}
        )

    def _rewrite(
        self,
        meta,
        files,
        transform,
        data_change: bool,
        now: int,
        tags: dict[str, str] | None = None,
        dvs: bool = False,
    ) -> list:
        """Copy-on-write rewrite thunks, one per partition group of
        ``files``: remove the group's files and publish ``transform``
        of their rows (:meth:`_dml_scan`, row ids materialized, rows
        in existing deletion vectors purged when ``dvs``) into the
        group's partition directory.  Partition columns stay OUT of
        the data files (injected at read, A7/O6).  The DML fans the
        thunks out through :meth:`_concurrent_stage`; maintenance runs
        them in turn, one write job at a time, as it always has."""

        def run(pv, group):
            rows = self._dml_scan(meta, group, dvs, row_ids=True)
            adds = self._stage_adds(
                transform(rows).drop(_ACT, *pv),
                data_change,
                skip_empty=True,
                tags=tags,
                part_values=pv,
            )
            return [_remove(f, now, data_change) for f in group] + adds

        return [
            lambda pv=pv, group=group: run(pv, group)
            for pv, group in self._groups(files)
        ]

    def _concurrent_stage(self, thunks):
        """Run independent staging jobs — each its own Spark action plus
        driver-side file moves — CONCURRENTLY, returning their action
        lists in the thunks' order (deterministic commit assembly).

        Spark's scheduler happily overlaps jobs; they are sequential
        only because driver code awaits them one at a time (guide
        §2.6).  Inside one DML commit the per-partition-group rewrites,
        the insert staging, and the CDC staging share no state (each
        writes to its own uuid staging dir; the fs layer is
        lock-protected), so the next job's tasks back-fill executors
        freed by the previous job's tail — on the 100 TB posture the
        tail of a skewed rewrite no longer serializes the whole
        commit's staging.  2-3 jobs in flight is enough to fill the
        tail without fighting for executors."""
        if len(thunks) <= 1:
            return [t() for t in thunks]
        from concurrent.futures import (
            FIRST_EXCEPTION,
            ThreadPoolExecutor,
            wait,
        )

        # fail fast: when one staging job raises, queued siblings are
        # skipped (running ones finish at pool exit — threads cannot
        # be killed) instead of the whole fan running to completion
        # before the failure propagates (r12 ADVICE).  future.cancel()
        # alone is racy — a freed worker dequeues the next thunk
        # before the waiter can cancel it — so each thunk re-checks a
        # shared flag at dequeue time.
        fail_flag = threading.Event()

        def _guarded(t):
            def run():
                if fail_flag.is_set():
                    return None  # skipped: a sibling already failed
                try:
                    return t()
                except BaseException:
                    fail_flag.set()
                    raise

            return run

        with ThreadPoolExecutor(max_workers=min(len(thunks), 3)) as pool:
            futures = [pool.submit(_guarded(t)) for t in thunks]
            done, not_done = wait(futures, return_when=FIRST_EXCEPTION)
            if any(f.exception() is not None for f in done):
                for f in not_done:
                    f.cancel()
        failed = next(
            (
                f
                for f in futures
                if not f.cancelled() and f.exception() is not None
            ),
            None,
        )
        if failed is not None:
            # best-effort: unstage the completed siblings' files —
            # they were already moved into the table dir and the
            # failed commit will never reference them (only add/cdc
            # actions name NEW files; removes point at existing ones)
            for f in futures:
                if f is failed or f.cancelled() or f.exception() is not None:
                    continue
                for act in f.result() or []:
                    rel = (act.get("add") or act.get("cdc") or {}).get(
                        "path"
                    )
                    if rel:
                        try:
                            self.fs.remove(_fs.join(self.path, rel))
                        except OSError:
                            pass
            raise failed.exception()
        return [f.result() for f in futures]

    def _require_no_dvs(self, op: str, files=None) -> None:
        """Copy-on-write rewrites read data files RAW — on a file with
        a deletion vector that would resurrect its deleted rows.  The
        CoW paths therefore refuse until ``reorg()`` materializes the
        DVs (Delta's own REORG TABLE ... APPLY (PURGE) prerequisite)."""
        if files is None:
            files = self._state().files(self.spark)
        n = sum(
            1
            for f in files
            if (f.get("deletionVector") or {}).get("cardinality")
        )
        if n:
            raise ValueError(
                f"{op} on a table with deletion vectors "
                f"({n} file(s)) would resurrect deleted rows — "
                "run reorg() first to materialize them"
            )

    def _data_schema(self):
        """(partition-col types, data-col StructType, metaData) from the
        table metadata — driver-side reads.  The StructType is LOGICAL;
        on a column-mapped table the rewrite paths read through
        :func:`delta_log.scan_with_file_frame` and write physically
        through _stage_adds (round 12 — mapped tables previously
        refused outright).  Mapped AND partitioned stays loud: the
        rewrite paths' partition directories and _stage_adds'
        partitionValues are keyed by logical name, and Delta keys them
        physically under mapping."""
        from .delta_log import UnsupportedTableFeature, column_mapping_of

        from pyspark.sql.types import StructType as _St

        meta = self._state().metadata
        if meta is None:
            return {}, None, None
        if column_mapping_of(meta) is not None and (
            meta.get("partitionColumns") or []
        ):
            raise UnsupportedTableFeature(
                f"table {self.path} uses Delta column mapping AND "
                "partitioning; DeltaSink rewrite operations support "
                "mapping on unpartitioned tables only (reads work via "
                "delta_log.read_snapshot)"
            )
        schema = _St.fromJson(json.loads(meta["schemaString"]))
        part_cols = set(meta.get("partitionColumns") or [])
        types = {f.name: f.dataType for f in schema.fields if f.name in part_cols}
        return (
            types,
            _St([f for f in schema.fields if f.name not in part_cols]),
            meta,
        )

    # -- row-level DML: one pipeline, two write strategies -----------------

    def _dml(
        self,
        op: str,
        dv: bool,
        match=None,
        new_rows=None,
        inserts=None,
        txn: tuple[str, int] | None = None,
        schema=None,
        where: str | None = None,
    ) -> int:
        """The ONE row-level DML pipeline behind delete/update/merge and
        their ``_dv`` twins: skip → match → touched files → write
        strategy → CDF → actions → :meth:`_commit`.  A verb supplies:

        - ``where``, the predicate of delete/update (rows where it is
          TRUE match, tagged ``'update'`` when there are ``new_rows``,
          else ``'delete'``), or ``match(df)`` (merge): tags each
          scanned row's ``__mlk_act`` with NULL (untouched),
          ``'delete'`` or ``'update'``;
        - ``new_rows(df)``: the post-image of every ``'update'`` row,
          leaving other rows as they are;
        - ``inserts(hits)``: rows that matched no target row (merge),
          given the matched rows (None when no file was touched);
        - ``dv``, the strategy.  Copy-on-write (False): ONE probe
          collect finds the touched files, and each partition group of
          them is rewritten with deletes dropped and updates replaced.
          Merge-on-read (True): the matches become merged deletion
          vectors (ONE ``_pack_merged_dvs`` collect) and post-images
          append as new files, with the inserts.

        Either way every later frame — post-images, inserts, the change
        feed (delete / update_preimage by tag, update_postimage,
        insert) — rescans only the TOUCHED files, and all staging jobs
        run through one :meth:`_concurrent_stage` into one commit.

        A ``where`` first skips files through
        :func:`delta_log.skip_files`, the stats and Bloom pruning
        ``read_snapshot`` uses, so the probe reads only files that may
        hold a match.  A delete without CDF also takes the files the
        stats prove wholly matched (:func:`skipping.cover_files`) as
        plain removes, unread; when every touched file is covered the
        DML runs no Spark job."""
        from .delta_log import skip_files

        types, data_schema, meta = schema or self._data_schema()
        if data_schema is None:
            return -1  # empty table: nothing to match
        now = int(time.time() * 1000)
        files = self._state().files(self.spark)
        if not dv:
            self._require_no_dvs(op, files)
        cdf = self._cdf_enabled()
        covered = []
        if where is not None:
            # rows where the predicate is TRUE match (a NULL result
            # matches nothing, SQL WHERE semantics)
            act = F.lit("delete" if new_rows is None else "update")
            match = lambda df: df.withColumn(  # noqa: E731
                _ACT, F.when(F.expr(where), act)
            )
            if files:
                files, covered = skip_files(
                    self.spark,
                    self.path,
                    meta,
                    files,
                    where,
                    cover=new_rows is None and not cdf,
                )
                gone = {f["path"] for f in covered}
                files = [f for f in files if f["path"] not in gone]
                if not files:
                    # nothing left to probe: still analyze the predicate
                    # (no job), so a bad one raises as on the probe path
                    match(
                        self.spark.createDataFrame(
                            [],
                            StructType.fromJson(json.loads(meta["schemaString"])),
                        )
                    )
        mat_rcv = self._rt_mat_cols()[1] if self._rt_enabled() else None
        by_f = {_fs.data_path_spelling(self.path, f["path"]): f for f in files}
        # rows already in a deletion vector are logically gone: they
        # must never match again wherever matched ROWS are consumed
        # (bitmaps merge idempotently, so a plain delete_dv skips the
        # old-vector expansion)
        dvs = dv and (new_rows is not None or cdf)
        hit = F.col(_ACT).isNotNull()
        upd = F.col(_ACT) == "update"
        touched, packed = [], []
        if files:
            probe = match(self._dml_scan(meta, files, dvs)).filter(hit)
            if not dv:
                touched = [
                    by_f[r["_f"]]
                    for r in probe.select("_f").distinct().collect()
                ]
            else:
                old_descs = self._old_dv_desc_df(files)
                for r in self._pack_merged_dvs(probe, old_descs):
                    f = by_f[r["_f"]]
                    # merged bitmap == old bitmap (every match already
                    # deleted): a re-add would be log churn and, under
                    # CDF, a DV change with no cdc action
                    dvc = (f.get("deletionVector") or {}).get("cardinality")
                    if r["card"] > (dvc or 0):
                        touched.append(f)
                        packed.append((f, r))

        def image(df):
            """Rows after the DML: deletes dropped, updates replaced,
            and an updated row's materialized commit version reset so it
            reads as THIS commit's (PROTOCOL.md Row Tracking)."""
            out = new_rows(df) if new_rows is not None else df
            if mat_rcv and mat_rcv in out.columns:
                out = out.withColumn(
                    mat_rcv,
                    F.when(upd, F.lit(None).cast("long")).otherwise(
                        F.col(mat_rcv)
                    ),
                )
            return out.filter(~F.col(_ACT).eqNullSafe("delete"))

        hits = post = None
        if touched and (cdf or new_rows is not None or inserts is not None):
            hits = match(
                self._dml_scan(meta, touched, dvs, row_ids=True)
            ).filter(hit)
            if new_rows is not None:
                post = image(hits.filter(upd))
        ins = inserts(hits) if inserts is not None else None
        landing = [d for d in (post, ins) if d is not None]
        if landing:
            self._enforce_constraints(_union(landing), op)
        thunks = []
        if touched and not dv:
            thunks += self._rewrite(
                meta,
                touched,
                lambda df: image(match(df)),
                data_change=True,
                now=now,
            )
        appended = [d for d in (post if dv else None, ins) if d is not None]
        if appended:
            new_files = _union(appended).drop("_f", "_ridx", _ACT)
            thunks.append(
                lambda: self._stage_adds(new_files, skip_empty=True)
            )
        if cdf:
            cols = [*data_schema.fieldNames(), *types]
            ct = "_change_type"
            changes = []
            if hits is not None:
                changes.append(
                    hits.select(
                        *cols,
                        F.when(F.col(_ACT) == "delete", "delete")
                        .otherwise("update_preimage")
                        .alias(ct),
                    )
                )
            if post is not None:
                changes.append(
                    post.select(*cols, F.lit("update_postimage").alias(ct))
                )
            if ins is not None:
                changes.append(ins.select(*cols, F.lit("insert").alias(ct)))
            if changes:
                cdc_df = _union(changes)
                thunks.append(lambda: self._stage_adds(cdc_df, cdc=True))
        staged = self._concurrent_stage(thunks)
        actions = [self._txn_action(txn)] if txn is not None else []
        actions += [_remove(f, now) for f in covered]
        if packed:
            actions += self._dv_actions(packed, now)
        for acts in staged:
            actions += acts
        return self._commit(
            actions, operation=op + (" (merge-on-read)" if dv else "")
        )

    def _dv_actions(self, packed, now: int) -> list[dict]:
        """Commit actions for a merge-on-read DML's merged bitmaps
        (``packed`` = (file, packed row) pairs): the deletionVectors
        protocol upgrade, MERGED with whatever the table declares
        (overwriting would drop features an external writer recorded)
        and enumerating the legacy features old version numbers
        implied; a plain remove for a file whose every row is now
        deleted; otherwise a remove plus a re-add of the SAME file with
        its new descriptor — same physical file, so its row ids
        (``baseRowId``/``defaultRowCommitVersion``, PROTOCOL.md Row
        Tracking) and clustering tags stay.  All of a commit's bitmaps
        share one .bin (:func:`dv.pack_dv_file`)."""
        from . import dv as _dv

        cur = self._state().protocol
        pr = upgraded_protocol(cur, ("deletionVectors",), ("deletionVectors",))
        actions: list[dict] = [] if pr == cur else [{"protocol": pr}]
        partial = []
        for f, r in packed:
            actions.append(_remove(f, now))
            n_rec = f.get("numRecords")
            if n_rec is None or r["card"] < n_rec:
                partial.append((f, r))
        if not partial:
            return actions
        descs = _dv.pack_dv_file(
            self.path,
            [(bytes(r["payload"]), int(r["card"])) for _f, r in partial],
        )
        for (f, _r), desc in zip(partial, descs):
            add = {
                "path": f["path"],
                "partitionValues": f["partitionValues"] or {},
                "size": f["size"],
                "modificationTime": now,
                "dataChange": True,
                "stats": f.get("stats"),
                "deletionVector": desc,
                "baseRowId": f.get("baseRowId"),
                "defaultRowCommitVersion": f.get("defaultRowCommitVersion"),
            }
            if f.get("tags"):
                add["tags"] = dict(f["tags"])
            actions.append({"add": add})
        return actions

    @_operation
    def delete(self, predicate: str) -> int:
        """Row-level delete: rewrite only the FILES that contain matching
        rows — K6's `.delete table records` as copy-on-write.

        The files' stats first skip every file that cannot hold a
        match, and remove outright (no scan, no rewrite) every file
        they prove wholly matched — unless the change feed is on, which
        needs the deleted rows.  One probe scan over the files left
        (partition values injected per group, data predicates pushed
        down to parquet) finds the affected ones; each is then
        rewritten without its matching rows.  All removes and rewrites
        land in ONE atomic commit: at most two jobs — probe + rewrite —
        and none when every affected file is covered."""
        return self._dml("DELETE", False, where=predicate)

    def _check_update_assignments(
        self, assignments: dict[str, str], types, data_schema, gen
    ) -> None:
        """Shared UPDATE validation (copy-on-write and merge-on-read):
        no partition-column assignment (rows would move across
        partitions), no direct generated-column assignment, no unknown
        columns, and no assignment a generated PARTITION column
        depends on."""
        data_cols = (
            {f.name for f in data_schema.fields}
            if data_schema is not None
            else set()
        )
        for c in assignments:
            if c in self.partition_by or c in (types or {}):
                raise ValueError(
                    f"UPDATE cannot assign partition column {c!r} "
                    "(rows would move across partitions); delete + "
                    "re-append instead"
                )
            if c in gen:
                raise ValueError(
                    f"column {c!r} is generated ({gen[c]}); assign its "
                    "source columns and it recomputes"
                )
            if data_cols and c not in data_cols:
                raise ValueError(f"unknown column {c!r}")
        for name, gexpr in gen.items():
            if name in (types or {}) and any(
                re.search(rf"\b{re.escape(c)}\b", gexpr)
                for c in assignments
            ):
                raise ValueError(
                    f"generated PARTITION column {name} = ({gexpr}) "
                    "depends on an assigned column; its rows would "
                    "move across partitions"
                )

    @_operation
    def update(self, predicate: str, assignments: dict[str, str]) -> int:
        """UPDATE ... SET — Delta's copy-on-write UPDATE: rewrite only
        the FILES containing matching rows, applying every assignment
        to the matching rows (all right-hand sides see the PRE-update
        row, SQL semantics) and leaving the rest byte-stable.

        - every right-hand side is cast to its column's DECLARED type
          (a bare ``v + 0.5`` on a long column would otherwise fork
          the rewritten file's physical schema off the table's);
        - generated columns recompute from the new values and may not
          be assigned directly (the generatedColumns contract);
        - CHECK constraints re-validate the updated rows BEFORE any
          file is rewritten;
        - partition columns may not be assigned (a value change would
          move rows across partition directories — Delta's UPDATE
          rewrites those too; this engine refuses loudly instead);
        - under CDF the commit stages update_preimage /
          update_postimage row pairs (Delta's UPDATE change types);
        - under row tracking the rewrite preserves each row's id and
          RESETS the materialized commit version of updated rows, so
          their _row_commit_version reads as the UPDATE's commit (the
          new add's defaultRowCommitVersion) — PROTOCOL.md Row
          Tracking's UPDATE semantics.

        The reference never updates in place (K6 is delete-only,
        DeltaTableOrchestration.cs:85-133); this is standalone-engine
        surface past that parity point.  For the merge-on-read shape
        (DV the old rows, append only the new) see :meth:`update_dv`."""
        return self._update(predicate, assignments, dv=False)

    def _update(self, predicate, assignments, dv: bool) -> int:
        """UPDATE's inputs to :meth:`_dml`: validation, the predicate
        matcher, and the assignment step — every right-hand side sees
        the PRE-update row and is cast to the column's declared type;
        generated data columns recompute from the new values."""
        types, data_schema, meta = self._data_schema()
        if data_schema is None:
            return -1  # empty table: nothing to update
        gen = self._generated()
        self._check_update_assignments(assignments, types, data_schema, gen)
        field_type = {f.name: f.dataType for f in data_schema.fields}
        upd = F.col(_ACT) == "update"

        def assign(df):
            df = df.withColumns(
                {
                    c: F.when(upd, F.expr(e).cast(field_type[c])).otherwise(
                        F.col(c)
                    )
                    for c, e in assignments.items()
                }
            )
            regen = {
                n: F.when(upd, F.expr(g).cast(field_type[n])).otherwise(
                    F.col(n)
                )
                for n, g in gen.items()
                if n in field_type
            }
            return df.withColumns(regen) if regen else df

        return self._dml(
            "UPDATE",
            dv,
            new_rows=assign,
            schema=(types, data_schema, meta),
            where=predicate,
        )

    #: DV'd-file count up to which existing-DV DESCRIPTORS (not
    #: payloads — ~200 bytes each, already in the driver's snapshot
    #: listing) ship to executors as one sc.broadcast dict; above it
    #: they ride as a DataFrame joined per affected file so driver
    #: memory stays flat (~40 MB at the bound)
    _DV_DESC_BROADCAST_FILES = 200_000

    def _old_dv_desc_df(self, files):
        """Handle on the table's EXISTING deletion-vector DESCRIPTORS
        (never payloads), or None when it carries none.  Descriptors
        are ~200 bytes each and already live in the driver's snapshot
        listing, so up to ``_DV_DESC_BROADCAST_FILES`` of them ship as
        one ``sc.broadcast`` dict that ``_pack_merged_dvs`` consults
        executor-side with zero extra Spark jobs; past that bound they
        become a (file, descriptor-JSON) DataFrame joined in instead.
        Either way old payloads are fetched + deserialized
        executor-side only for AFFECTED files (r12: replaces the r11
        shape that EXPLODED every old bitmap to (file, row) rows)."""
        import json as _json

        dv_files = [
            f
            for f in files
            if (f.get("deletionVector") or {}).get("cardinality")
        ]
        if not dv_files:
            return None
        if len(dv_files) <= self._DV_DESC_BROADCAST_FILES:
            return self.spark.sparkContext.broadcast(
                {
                    _fs.data_path_spelling(self.path, f["path"]): f[
                        "deletionVector"
                    ]
                    for f in dv_files
                }
            )
        return self.spark.createDataFrame(
            [
                (
                    _fs.data_path_spelling(self.path, f["path"]),
                    _json.dumps(f["deletionVector"]),
                )
                for f in dv_files
            ],
            "_f string, _desc string",
        )

    def _pack_merged_dvs(self, matched_pairs, old_descs):
        """Per-file merged bitmaps: the matched NEW (file, row) pairs
        are grouped per file with a JVM ``collect_list`` (partial,
        map-side aggregation — guide §2.3), the per-file descriptor
        rows of EXISTING vectors join on afterwards (broadcast when
        driver-bounded small), and ONE ``mapInPandas`` pass fetches +
        deserializes each affected file's old payload executor-side
        and packs the merged bitmap — no payload broadcast, no driver
        dict, no row-level explosion of old bitmaps.  Replaces the
        earlier two-input Python cogroup, which shipped BOTH inputs
        through sort-based Python grouping (measured ~2x slower at
        identical data).  Old files with no newly-matched rows drop
        out at the join (bitmap unchanged, nothing deserializes).
        Returns collected (_f, payload, card) rows (one per AFFECTED
        file — batch-metadata-scale)."""
        import pyspark.sql.functions as F
        from pyspark.broadcast import Broadcast

        pairs = matched_pairs.select("_f", "_ridx")
        agg = pairs.groupBy("_f").agg(F.collect_list("_ridx").alias("_rows"))
        table_path = self.path

        if old_descs is None or isinstance(old_descs, Broadcast):
            desc_bc = old_descs

            def pack(batches):
                import pandas as pd

                from mirror_lake_kusto_spark.sources import dv as _dvx

                descs = desc_bc.value if desc_bc is not None else {}
                for pdf in batches:
                    out_f, out_p, out_c = [], [], []
                    for fpath, ridxs in zip(pdf["_f"], pdf["_rows"]):
                        rows = set(int(i) for i in ridxs)
                        desc = descs.get(fpath)
                        if desc is not None:
                            payload = _dvx.dv_payload(table_path, desc)
                            rows.update(
                                _dvx.deserialize(bytes(payload))
                            )
                        ordered = sorted(rows)
                        out_f.append(fpath)
                        out_p.append(_dvx.serialize(ordered))
                        out_c.append(len(ordered))
                    yield pd.DataFrame(
                        {"_f": out_f, "payload": out_p, "card": out_c}
                    ).astype({"card": "int64"})

            try:
                return (
                    agg.mapInPandas(
                        pack, "_f string, payload binary, card long"
                    ).collect()
                )
            finally:
                # the collect above is the broadcast's ONLY consumer:
                # release its blocks now instead of waiting for the
                # 2-min periodic GC — repeated DML on heavily-DV'd
                # tables otherwise accrues up to ~40 MB per commit
                # until a driver collection (r12 VERDICT item 6)
                if desc_bc is not None:
                    desc_bc.destroy()

        # descriptor count exceeds the broadcast bound: join the
        # descriptor rows on instead (plain equi-join; the planner is
        # free to pick its strategy from real sizes)
        joined = agg.join(old_descs, "_f", "left")

        def pack_joined(batches):
            import json as _j

            import pandas as pd

            from mirror_lake_kusto_spark.sources import dv as _dvx

            for pdf in batches:
                out_f, out_p, out_c = [], [], []
                for fpath, ridxs, desc in zip(
                    pdf["_f"], pdf["_rows"], pdf["_desc"]
                ):
                    rows = set(int(i) for i in ridxs)
                    # null _desc arrives as None or NaN depending on
                    # the pandas version; only a real JSON string
                    # means an existing vector
                    if isinstance(desc, str):
                        payload = _dvx.dv_payload(
                            table_path, _j.loads(desc)
                        )
                        rows.update(_dvx.deserialize(bytes(payload)))
                    ordered = sorted(rows)
                    out_f.append(fpath)
                    out_p.append(_dvx.serialize(ordered))
                    out_c.append(len(ordered))
                yield pd.DataFrame(
                    {"_f": out_f, "payload": out_p, "card": out_c}
                ).astype({"card": "int64"})

        return (
            joined.mapInPandas(
                pack_joined, "_f string, payload binary, card long"
            ).collect()
        )

    @_operation
    def update_dv(self, predicate: str, assignments: dict[str, str]) -> int:
        """Merge-on-read UPDATE ... SET: matched rows join each
        affected file's DELETION VECTOR and the post-update rows
        append as NEW files — write cost O(updated rows + KB-scale
        bitmaps), never the wholesale file rewrite of copy-on-write
        :meth:`update`.  At 100 TB an update matching 1% of rows must
        not rewrite 100% of the touched bytes; this is the DV-based
        UPDATE shape current Delta writers use.

        Semantics match :meth:`update` exactly (the
        tests/test_r6_update.py contract — both run the same
        assignment step): every assignment RHS sees the PRE-update
        row, cast to the column's declared type; generated columns
        recompute from the new values; CHECK constraints re-validate
        the updated rows before anything lands; CDF stages
        update_preimage/update_postimage pairs; row tracking keeps
        every updated row's id (the original id is MATERIALIZED into
        the appended files) while its commit version moves to this
        commit (materialized NULL reads fall back to the new add's
        defaultRowCommitVersion).  Rows already in a deletion vector
        are logically gone and never match or re-report.
        :meth:`reorg` purges these DVs like any other.  The reference
        never updates in place — K6 is delete-only
        (DeltaTableOrchestration.cs:85-133)."""
        return self._update(predicate, assignments, dv=True)

    def _prep_merge(self, source, key_cols, delete_keys):
        """Shared MERGE validation (copy-on-write and merge-on-read):
        partition columns must ride the key, duplicate source keys
        raise (Delta's multiple-source-rows-matched error), delete
        keys must be disjoint from upsert keys, generated columns
        apply, and the source's column set must equal the target's
        (CHECK constraints enforce on the rows that land, in
        :meth:`_dml`).  Returns (keys, del_keys, source, types,
        data_schema, fill_cols)."""
        import pyspark.sql.functions as F

        keys = list(key_cols)
        if self.partition_by and not set(self.partition_by) <= set(keys):
            raise ValueError(
                f"partitioned merge requires the partition columns "
                f"{self.partition_by} inside key_cols — otherwise an "
                "update could silently move a row across partitions"
            )
        dup = source.groupBy(*keys).count().filter(F.col("count") > 1)
        dup_msg = (
            f"merge source has duplicate keys on {keys} — each target "
            "row may match at most one source row"
        )
        del_keys = None
        if delete_keys is not None:
            missing_k = [k for k in keys if k not in delete_keys.columns]
            if missing_k:
                raise ValueError(
                    f"delete_keys is missing key columns {missing_k}"
                )
            del_keys = delete_keys.select(*keys).distinct()
            overlap = source.select(*keys).join(del_keys, keys, "inner")
            # ONE validation action for both probes: each
            # `.limit(1).count()` is its own fixed-overhead Spark job,
            # and every merge commit paid two of them back to back
            # (guide §1.2: per-task work after job shape)
            flags = {
                r["_k"]
                for r in (
                    dup.limit(1)
                    .select(F.lit("dup").alias("_k"))
                    .unionAll(
                        overlap.limit(1)
                        .select(F.lit("overlap").alias("_k"))
                    )
                    .collect()
                )
            }
            if "dup" in flags:
                raise ValueError(dup_msg)
            if "overlap" in flags:
                raise ValueError(
                    "a key appears in both source and delete_keys — "
                    "upsert-then-delete has no defined order inside one "
                    "atomic commit; split them across batches"
                )
        elif dup.limit(1).count():
            raise ValueError(dup_msg)
        fill_cols = [
            n for n in self._defaults() if n not in source.columns
        ]
        source = self._apply_defaults(source)
        source = self._apply_generated(source, "MERGE")
        types, data_schema, meta = self._data_schema()
        if data_schema is not None:
            # column-set guard: a wider source would write columns the
            # table metadata doesn't record (readers silently drop
            # them), a narrower one would null-fill on rewrite — both
            # are silent drift; Delta's MERGE without autoMerge raises
            target_cols = set(types) | {f.name for f in data_schema.fields}
            if set(source.columns) != target_cols:
                extra = sorted(set(source.columns) - target_cols)
                missing = sorted(target_cols - set(source.columns))
                raise ValueError(
                    f"merge source schema mismatch: extra={extra} "
                    f"missing={missing} — project the source to the "
                    "target's columns first"
                )
        return keys, del_keys, source, types, data_schema, meta, fill_cols

    @_operation
    def merge(
        self,
        source: DataFrame,
        key_cols: Sequence[str],
        txn: tuple[str, int] | None = None,
        delete_keys: DataFrame | None = None,
    ) -> int:
        """Copy-on-write upsert (Delta's MERGE INTO with matched-update
        + not-matched-insert, keyed on ``key_cols``): files containing
        a matching key are rewritten with those rows replaced by the
        source's, and source rows matching no file append as new files.
        One atomic commit carries every remove/add.

        Scale shape mirrors ``delete``: one probe scan finds affected
        files (only the key columns of the source broadcast into the
        probe), each affected file is rewritten once via a join against
        the source that replaces matched rows' values in place, and
        unmatched source rows are computed with one anti-join against
        the (small) affected-file row set's keys — at 100 TB the
        rewrite cost is proportional to files TOUCHED, never table
        size.  Duplicate keys in ``source`` raise (Delta's own
        multiple-source-rows-matched error).

        ``delete_keys`` adds whenMatchedDelete semantics: a DataFrame
        of key tuples whose matching target rows are removed in the
        SAME commit.  The keys stay executor-side end-to-end — they
        ride the probe broadcast and the rewrite's key join; nothing
        collects to the driver (vs the reference's driver-built delete
        predicates, ``Storage/TransactionLog.cs``).  A key present in
        both ``source`` and ``delete_keys`` raises: upsert-then-delete
        has no defined order inside one atomic commit."""
        return self._merge(source, key_cols, txn, delete_keys, dv=False)

    def _merge(self, source, key_cols, txn, delete_keys, dv: bool) -> int:
        """MERGE's inputs to :meth:`_dml`: the key matcher (source keys
        tag ``'update'``, delete keys ``'delete'``, one broadcast
        left join), the matched-update join (one output per matched
        TARGET row carrying the source's values cast to the declared
        types — Delta's matched-update multiplicity; columns the
        source omitted and the prep default-filled keep the TARGET
        row's value, UPDATE SET * semantics) and the inserts (source
        rows whose key no live target row holds)."""
        keys, del_keys, source, types, data_schema, meta, fill_cols = (
            self._prep_merge(source, key_cols, delete_keys)
        )
        if data_schema is None:
            # empty table: a merge is a plain first append, deletes are
            # no-ops — the txn ledger entry must still ride it (I3
            # exactly-once)
            return self.append(source, txn=txn)
        marks = source.select(*keys).distinct().withColumn(_ACT, F.lit("update"))
        if del_keys is not None:
            marks = marks.unionByName(
                del_keys.withColumn(_ACT, F.lit("delete"))
            )
        field_type = {f.name: f.dataType for f in data_schema.fields}
        sets = [c for c in source.columns if c not in keys + fill_cols]
        src = source.select(
            *keys, *[F.col(c).alias(f"__mlk_src_{c}") for c in sets]
        )
        upd = F.col(_ACT) == "update"

        def upsert(df):
            # no forced broadcast: the source can be arbitrarily large
            # — AQE broadcasts it only when it actually fits
            return (
                df.join(src, keys, "left")
                .withColumns(
                    {
                        c: F.when(
                            upd, F.col(f"__mlk_src_{c}").cast(field_type[c])
                        ).otherwise(F.col(c))
                        for c in sets
                    }
                )
                .drop(*[f"__mlk_src_{c}" for c in sets])
            )

        def inserts(hits):
            if hits is None:
                return source
            return source.join(hits.select(*keys).distinct(), keys, "left_anti")

        return self._dml(
            "MERGE",
            dv,
            lambda df: df.join(F.broadcast(marks), keys, "left"),
            upsert,
            inserts,
            txn=txn,
            schema=(types, data_schema, meta),
        )

    @_operation
    def merge_dv(
        self,
        source: DataFrame,
        key_cols: Sequence[str],
        txn: tuple[str, int] | None = None,
        delete_keys: DataFrame | None = None,
    ) -> int:
        """Merge-on-read MERGE (DV-writing upsert): target rows whose
        key matches the source (or ``delete_keys``) join their file's
        DELETION VECTOR, and the source rows — matched updates and
        unmatched inserts alike — append as new files.  One atomic
        commit; write cost O(source rows + KB-scale bitmaps), never
        copy-on-write :meth:`merge`'s wholesale rewrite of every file
        containing a matched key.  At 100 TB a merge touching 1% of
        keys must not rewrite 100% of the touched bytes.

        Validation, matched-update multiplicity (one output per
        matched TARGET row carrying the source's values), CDF change
        types (insert / update_preimage / update_postimage / delete),
        row tracking (updated rows keep their ids, materialized into
        the appended files; inserts mint fresh ones) and txn
        idempotence all match :meth:`merge` — both run the same
        matched-update join.  A target row already in a deletion
        vector is logically gone: its key does NOT count as matched,
        so the source row inserts instead.  :meth:`reorg` purges these
        DVs like any other."""
        return self._merge(source, key_cols, txn, delete_keys, dv=True)

    @_operation
    def delete_dv(self, predicate: str) -> int:
        """Merge-on-read row-level delete: instead of rewriting every
        file containing a match (copy-on-write ``delete``), write a
        roaring-bitmap DELETION VECTOR per affected file and re-add the
        file with its descriptor — one commit, KBs of new bytes.

        At 100 TB this is the difference between rewriting terabytes to
        delete a few rows and appending kilobytes: the scan cost is the
        same probe as ``delete`` — over the files the stats do not skip,
        and with the files they prove wholly matched removed unread
        when the change feed is off — and the write cost is
        O(deleted-row bitmap).  Readers apply the bitmaps via
        ``read_snapshot``;
        copy-on-write maintenance refuses until ``reorg()``
        materializes them (Delta's REORG APPLY PURGE model).

        Executor-side end-to-end: matching (file, row_index) pairs are
        found by a distributed scan and grouped per file with a JVM
        ``collect_list``; ONE ``mapInPandas`` pass then merges any
        EXISTING vector (fetched executor-side, never expanded on the
        driver) and serializes each file's bitmap, and the driver
        collects only the compressed payloads.  A file whose every row
        is deleted gets a plain remove instead of a DV; a file whose
        matches were all already deleted is left alone.  The commit
        also upgrades the protocol to readerVersion 3 +
        deletionVectors."""
        return self._dml("DELETE", True, where=predicate)

    @_operation
    def reorg(self) -> int:
        """REORG TABLE ... APPLY (PURGE): materialize every deletion
        vector by rewriting only the DV'd files without their deleted
        rows (dataChange=false — logical content is unchanged, so the
        mirror and the change feed ignore the churn, O2).  After this
        the copy-on-write paths (delete/merge/optimize) work again."""
        files = [
            f
            for f in self._state().files(self.spark)
            if (f.get("deletionVector") or {}).get("cardinality")
        ]
        actions: list[dict] = []
        if files:
            thunks = self._rewrite(
                self._data_schema()[2],
                files,
                lambda df: df,
                data_change=False,
                now=int(time.time() * 1000),
                dvs=True,
            )
            actions = [a for run in thunks for a in run()]
        return self._commit(actions, operation="REORG (PURGE)")

    @_operation
    def properties(self) -> dict[str, str]:
        """Table properties from the latest metaData's configuration —
        the engine's K2 table-policy store (Kusto merge/retention/
        caching policies map onto Delta TBLPROPERTIES)."""
        meta = self._state().metadata
        return dict((meta or {}).get("configuration") or {})

    @_operation
    def set_properties(
        self, props: dict[str, str], unset: Sequence[str] = ()
    ) -> int:
        """SET/UNSET TBLPROPERTIES — merge into the table's
        configuration and commit new metaData (table id and schema are
        preserved; only the configuration changes).  The K2 analogue:
        the reference drives Kusto table policies (merge batching,
        retention) at setup; here the same knobs live in the table
        itself and the engine reads them (``mlk.optimize.
        targetFileBytes`` steers OPTIMIZE's output sizing)."""
        for key in ("mlk.optimize.targetFileBytes",):
            if key in props:
                try:
                    int(str(props[key]))
                except ValueError:
                    raise ValueError(
                        f"property {key} must be an integer byte count, "
                        f"got {props[key]!r}"
                    ) from None
        # enabling the change feed is a WRITER-FEATURE behavior: the
        # feature must be committed to the table protocol before the
        # property takes effect (PROTOCOL.md "Change Data Feed")
        if (
            str(props.get("delta.enableChangeDataFeed", "")).lower()
            == "true"
        ):
            cur = self._state().protocol
            if "changeDataFeed" not in (
                (cur or {}).get("writerFeatures") or []
            ):
                self._commit_protocol_upgrade(
                    writer_features=("changeDataFeed",)
                )
        # row tracking (PROTOCOL.md "Row Tracking"): commit the writer
        # features, BACKFILL ids for existing files (re-add them with
        # fresh baseRowIds, dataChange=false) and pick the materialized
        # column names rewrites will preserve ids through
        if (
            str(props.get("delta.enableRowTracking", "")).lower()
            == "true"
        ):
            props = {**props, **self._enable_row_tracking()}
        # in-commit timestamps are likewise feature-gated: commit the
        # writer feature first (_stamp_ict records the enablement
        # provenance in the commit that turns them on)
        if (
            str(props.get("delta.enableInCommitTimestamps", "")).lower()
            == "true"
        ):
            cur = self._state().protocol
            if "inCommitTimestamp" not in (
                (cur or {}).get("writerFeatures") or []
            ):
                self._commit_protocol_upgrade(
                    writer_features=("inCommitTimestamp",)
                )
        # read-modify-write under optimistic concurrency: a metaData
        # commit made since this operation read (schema evolution,
        # another property writer) makes _commit raise via the
        # metaData conflict rule — re-read and retry so no winner's
        # state is ever overwritten blind
        for _attempt in range(5):
            meta = self._state().metadata
            if meta is None:
                raise ValueError(
                    f"{self.path}: no table metadata yet — write data "
                    "first"
                )
            conf = dict(meta.get("configuration") or {})
            conf.update({k: str(v) for k, v in props.items()})
            for k in unset:
                conf.pop(k, None)
            md = {**meta, "configuration": conf}
            try:
                return self._commit(
                    [{"metaData": md}], operation="SET TBLPROPERTIES"
                )
            except ConcurrentCommitConflict:
                self._snap = snapshot(self.path)  # re-read, retry
        raise ConcurrentCommitConflict(
            f"{self.path}: metadata kept changing under set_properties"
        )

    @_operation
    def evolve_rename(self, renames: dict[str, str]) -> int:
        """Metadata-only column RENAME via Delta column mapping
        ('name' mode, PROTOCOL.md "Column Mapping"): no data file is
        touched.  First use assigns every field its physical identity
        — ``physicalName`` = the spelling the EXISTING parquet files
        carry (its current logical name) plus a stable
        ``columnMapping.id`` — flips ``delta.columnMapping.mode`` to
        ``name``, and commits the columnMapping protocol feature with
        the new metaData in one atomic commit.  Later appends write
        physical names (see _stage_adds); reads stay logical via
        read_snapshot.  The reference hard-stops on any rename
        (Storage/TransactionLog.cs:153-157) — this is the
        mapping-aware evolution beyond that parity point.

        Drop/retype still raise loudly elsewhere; this method only
        relabels existing fields."""
        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to rename")
        parsed = json.loads(meta["schemaString"])
        known = {f["name"] for f in parsed["fields"]}
        missing = set(renames) - known
        if missing:
            raise ValueError(
                f"rename of unknown column(s): {sorted(missing)}"
            )
        new_names = [
            renames.get(f["name"], f["name"]) for f in parsed["fields"]
        ]
        if len(set(new_names)) != len(new_names):
            raise ValueError(
                f"rename would produce duplicate column names: {new_names}"
            )
        conf = dict(meta.get("configuration") or {})
        stamped, max_id = _stamp_mapping_identity(parsed["fields"], conf)
        new_fields = [
            {**f, "name": renames.get(f["name"], f["name"])}
            for f in stamped
        ]
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        new_schema = json.dumps({**parsed, "fields": new_fields})
        new_meta = {
            **meta,
            "schemaString": new_schema,
            "configuration": conf,
            "partitionColumns": [
                renames.get(c, c)
                for c in (meta.get("partitionColumns") or [])
            ],
        }
        actions: list[dict] = []
        cur_pr = self._state().protocol
        if "columnMapping" not in set(
            (cur_pr or {}).get("readerFeatures") or []
        ):
            pr = upgraded_protocol(
                cur_pr, ("columnMapping",), ("columnMapping",)
            )
            if pr != cur_pr:
                actions.append({"protocol": pr})
        actions.append({"metaData": new_meta})
        # keep this writer's own view consistent with the new metadata
        self.partition_by = [
            renames.get(c, c) for c in self.partition_by
        ]
        self._pending_schema = new_schema
        return self._commit(actions, operation="RENAME COLUMN")

    @_operation
    def evolve_add(self, new_schema_json: str) -> int:
        """ADDITIVE schema evolution on a column-mapped table: every
        existing logical field must survive with an identical type;
        new fields are appended with fresh mapping identities
        (physicalName = ``col-<uuid>`` under 'name'-mode mapping —
        Delta's own convention, which guarantees a column RE-ADDED
        after evolve_drop can never resurrect the dropped column's
        bytes from old files — and the next columnMapping.id).  Idempotent: when the
        recorded schema already covers every incoming field, no commit
        is written.  This is the path the mirror's evolve-rename mode
        uses when the SOURCE adds a column after a rename — a plain
        schema-changing append would clobber the mapping metadata
        (_commit refuses exactly that)."""
        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to evolve")
        parsed = json.loads(meta["schemaString"])
        have = {f["name"]: f for f in parsed["fields"]}
        incoming = json.loads(new_schema_json)["fields"]
        for f in incoming:
            old = have.get(f["name"])
            if old is not None and old["type"] != f["type"]:
                raise ValueError(
                    f"evolve_add: field {f['name']!r} changes type "
                    f"{old['type']!r} -> {f['type']!r} (not additive)"
                )
        new_fields = [f for f in incoming if f["name"] not in have]
        if not new_fields:
            return -1  # nothing to add — replay-safe no-op
        conf = dict(meta.get("configuration") or {})
        max_id = int(conf.get("delta.columnMapping.maxColumnId") or 0)
        mapped = conf.get("delta.columnMapping.mode") == "name"
        added = []
        for f in new_fields:
            max_id += 1
            added.append(
                {
                    **f,
                    "metadata": {
                        **(f.get("metadata") or {}),
                        "delta.columnMapping.physicalName": (
                            f"col-{uuid.uuid4()}" if mapped else f["name"]
                        ),
                        "delta.columnMapping.id": max_id,
                    },
                }
            )
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        new_schema = json.dumps(
            {**parsed, "fields": parsed["fields"] + added}
        )
        self._pending_schema = new_schema
        return self._commit(
            [
                {
                    "metaData": {
                        **meta,
                        "schemaString": new_schema,
                        "configuration": conf,
                    }
                }
            ],
            operation="ADD COLUMNS",
        )

    @_operation
    def evolve_drop(self, columns: Sequence[str]) -> int:
        """ALTER TABLE DROP COLUMN via column mapping (PROTOCOL.md
        "Column Mapping"): metadata-only — the dropped fields leave
        the logical schema while every data file keeps its bytes, so
        the drop is O(1) regardless of table size.  First use enables
        'name'-mode mapping exactly like :meth:`evolve_rename`
        (physicalName = current spelling for every SURVIVING field,
        so old files keep reading).  A column later re-added via
        :meth:`evolve_add` gets a fresh ``col-<uuid>`` physical name,
        so the dropped bytes can never resurrect under the new field.

        Refused loudly for: partition columns (the directory layout
        IS the column), clustering columns (OPTIMIZE would lose its
        curve), columns referenced by a CHECK constraint or by a
        surviving field's generation expression, and dropping every
        column."""
        import re as _re

        cols = list(columns)
        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to evolve")
        parsed = json.loads(meta["schemaString"])
        known = {f["name"] for f in parsed["fields"]}
        missing = set(cols) - known
        if missing:
            raise ValueError(
                f"drop of unknown column(s): {sorted(missing)}"
            )
        if len(cols) >= len(parsed["fields"]):
            raise ValueError("cannot drop every column")
        part_hit = set(cols) & set(meta.get("partitionColumns") or [])
        if part_hit:
            raise ValueError(
                f"cannot drop partition column(s) {sorted(part_hit)}"
            )
        ccols = self._clustering_columns() or []
        clust_hit = set(cols) & set(ccols)
        if clust_hit:
            raise ValueError(
                f"cannot drop clustering column(s) {sorted(clust_hit)}"
            )
        conf = dict(meta.get("configuration") or {})
        # IGNORECASE + backtick spellings: Spark resolves identifiers
        # case-insensitively, so a constraint written (PRICE > 0) or
        # (`price` > 0) still references column `price` (round-9 ADVICE)
        word = {
            c: _re.compile(
                rf"(?:\b|`){_re.escape(c)}(?:\b|`)", _re.IGNORECASE
            )
            for c in cols
        }
        for k, expr in conf.items():
            if k.startswith("delta.constraints."):
                hit = [c for c in cols if word[c].search(expr)]
                if hit:
                    raise ValueError(
                        f"cannot drop {hit}: referenced by CHECK "
                        f"constraint {k.removeprefix('delta.constraints.')}"
                        f" = ({expr})"
                    )
        for f in parsed["fields"]:
            if f["name"] in cols:
                continue
            gen = (f.get("metadata") or {}).get(
                "delta.generationExpression"
            )
            if gen:
                hit = [c for c in cols if word[c].search(gen)]
                if hit:
                    raise ValueError(
                        f"cannot drop {hit}: referenced by generated "
                        f"column {f['name']} = ({gen})"
                    )
        # stamp identity on the SURVIVORS only — allocating mapping
        # ids to fields being dropped would burn them permanently
        survivors, max_id = _stamp_mapping_identity(
            [f for f in parsed["fields"] if f["name"] not in cols], conf
        )
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        new_schema = json.dumps({**parsed, "fields": survivors})
        actions: list[dict] = []
        cur_pr = self._state().protocol
        if "columnMapping" not in set(
            (cur_pr or {}).get("readerFeatures") or []
        ):
            pr = upgraded_protocol(
                cur_pr, ("columnMapping",), ("columnMapping",)
            )
            if pr != cur_pr:
                actions.append({"protocol": pr})
        actions.append(
            {
                "metaData": {
                    **meta,
                    "schemaString": new_schema,
                    "configuration": conf,
                }
            }
        )
        self._pending_schema = new_schema
        return self._commit(
            actions, operation=f"DROP COLUMNS ({', '.join(cols)})"
        )

    @_operation
    def widen_column(self, column: str, to_type: str) -> int:
        """ALTER COLUMN ... TYPE, restricted to PROTOCOL.md's lossless
        Type Widening matrix: the table's metaData records the wide
        type while every existing data file keeps its narrow physical
        type (no rewrite), so the commit must also enable the
        ``typeWidening`` reader+writer feature — readers that don't
        promote on read would return wrong values.  ``to_type`` is a
        Delta JSON type string ('long', 'double', 'decimal(12,2)',
        'timestamp_ntz').  The reference refuses every retype
        (Storage/TransactionLog.cs:153-157); this is the evolution
        beyond that parity point."""
        return self.evolve_widen({column: to_type})

    @_operation
    def evolve_widen(self, widen_map: dict[str, str]) -> int:
        """Apply several column widenings in ONE commit (the mirror's
        ``on_schema_change='widen'`` follow path).  Per column: no-op
        when the table already has the target type (crash-replay
        idempotence), loud refusal when the change is not in the
        lossless widening matrix.  Each widened field's metadata gains
        a ``delta.typeChanges`` history entry ({fromType, toType} —
        PROTOCOL.md "Type Change Metadata"), appended to any prior
        entries so a twice-widened column keeps its full lineage.
        Column-mapping metadata (physicalName/id) rides along
        untouched, so mapped tables widen too.  Returns the commit
        version, or -1 when every column was already wide."""
        from .delta_log import is_type_widening

        meta = self._state().metadata
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to widen")
        parsed = json.loads(meta["schemaString"])
        by_name = {f["name"]: f for f in parsed["fields"]}
        missing = sorted(set(widen_map) - set(by_name))
        if missing:
            raise ValueError(f"widen of unknown column(s): {missing}")
        changed = False
        for name, to_t in widen_map.items():
            f = by_name[name]
            if f["type"] == to_t:
                continue  # already wide: replay-safe no-op
            if not is_type_widening(f["type"], to_t):
                raise ValueError(
                    f"widen_column: {name!r} {f['type']!r} -> {to_t!r} "
                    "is not a lossless widening (PROTOCOL.md Type "
                    "Widening matrix); a lossy retype needs a full "
                    "table rewrite"
                )
            md = dict(f.get("metadata") or {})
            md["delta.typeChanges"] = list(
                md.get("delta.typeChanges") or []
            ) + [{"fromType": f["type"], "toType": to_t}]
            f["metadata"] = md
            f["type"] = to_t
            changed = True
        if not changed:
            return -1
        new_schema = json.dumps(parsed)
        actions: list[dict] = []
        cur_pr = self._state().protocol
        if "typeWidening" not in set(
            (cur_pr or {}).get("readerFeatures") or []
        ):
            pr = upgraded_protocol(
                cur_pr, ("typeWidening",), ("typeWidening",)
            )
            if pr != cur_pr:
                actions.append({"protocol": pr})
        actions.append(
            {"metaData": {**meta, "schemaString": new_schema}}
        )
        self._pending_schema = new_schema
        return self._commit(actions, operation="CHANGE COLUMN")

    @_operation
    def set_cluster_by(self, cols: Sequence[str]) -> int:
        """Declare LIQUID CLUSTERING on the table (Delta's
        ``ALTER TABLE ... CLUSTER BY``): one commit carrying the
        ``clustering`` + ``domainMetadata`` writer features and the
        ``delta.clustering`` domain whose configuration records
        ``{"clusteringColumns": [["col"], ...]}`` (physical names on a
        column-mapped table, per the spec).  Writer-only: readers need
        nothing new.  From then on a bare :meth:`optimize` lays data
        out along the Hilbert curve over these columns — the
        incremental, no-partition-boundaries layout that replaced
        ZORDER as the default for new tables.  Idempotent when the
        same columns are already declared (returns -1)."""
        cols = list(cols)
        if not cols:
            raise ValueError("set_cluster_by needs at least one column")
        meta = self._state().metadata
        if meta is None:
            raise ValueError(
                f"{self.path}: set_cluster_by before the table exists — "
                "append first"
            )
        mapping = self._current_mapping()  # logical -> physical
        # partitionColumns are PHYSICAL on a column-mapped table —
        # translate to logical before comparing against `cols`, or a
        # renamed partition column slips past the exclusivity check
        from .delta_log import column_mapping_of

        log_of = {v: k for k, v in (column_mapping_of(meta) or {}).items()}
        part_cols = {
            log_of.get(c, c) for c in (meta.get("partitionColumns") or [])
        }
        bad = [c for c in cols if c in part_cols]
        if bad:
            raise ValueError(
                f"cluster columns {bad} are partition columns — liquid "
                "clustering and hive partitioning are exclusive per key"
            )
        known = {
            f["name"] for f in json.loads(meta["schemaString"])["fields"]
        }
        missing = [c for c in cols if c not in known]
        if missing:
            raise ValueError(f"unknown cluster column(s): {missing}")
        # curve-eligibility at DECLARATION time: a non-orderable type
        # (array/map/struct/binary) has no numeric proxy, so every
        # later bare optimize() — including MirrorPipeline's periodic
        # pass — would raise mid-sync.  Fail the misconfiguration here.
        from ..schema import parse_delta_schema_string
        from .skipping import numeric_proxy

        type_of = {
            f.name: f.dataType
            for f in parse_delta_schema_string(meta["schemaString"]).fields
        }
        for c in cols:
            try:
                numeric_proxy(c, type_of[c])
            except ValueError:
                raise ValueError(
                    f"cluster column {c!r} has type "
                    f"{type_of[c].simpleString()}, which has no "
                    "order-preserving numeric proxy — liquid clustering "
                    "needs an orderable scalar (numeric, string, date, "
                    "timestamp, boolean)"
                ) from None
        stored = [[mapping.get(c, c) if mapping else c] for c in cols]
        cur = self._state().domains.get("delta.clustering")
        if cur is not None and (
            json.loads(cur).get("clusteringColumns") == stored
        ):
            return -1  # already declared: replay-safe no-op
        actions: list[dict] = []
        pr = self._state().protocol
        have_w = set((pr or {}).get("writerFeatures") or [])
        need = [
            f
            for f in ("clustering", "domainMetadata")
            if f not in have_w
        ]
        if need:
            up = upgraded_protocol(pr, (), tuple(need))
            if up != pr:
                actions.append({"protocol": up})
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": stored}
                    ),
                    "removed": False,
                }
            }
        )
        return self._commit(actions, operation="CLUSTER BY")

    def _clustering_columns(self) -> list[str] | None:
        """LOGICAL clustering columns declared in the
        ``delta.clustering`` domain, or None."""
        conf = self._state().domains.get("delta.clustering")
        if not conf:
            return None
        paths = json.loads(conf).get("clusteringColumns") or []
        mapping = self._current_mapping()
        log_of = {v: k for k, v in (mapping or {}).items()}
        out: list[str] = []
        for p in paths:
            name = p[0] if isinstance(p, list) else p
            if isinstance(p, list) and len(p) != 1:
                raise ValueError(
                    f"nested clustering path {p} is not supported"
                )
            out.append(log_of.get(name, name))
        return out or None

    @_operation
    def optimize(
        self,
        target_file_bytes: int | None = None,
        zorder_by: Sequence[str] | None = None,
        partition_predicate: str | None = None,
        cluster_by: Sequence[str] | None = None,
        full: bool = False,
    ) -> int:
        """Compact each partition group toward ``target_file_bytes``-sized
        files; every action carries ``dataChange: false`` — the churn
        the mirror must NOT re-ingest (O2; reference test
        Electric/Scripts/Optimize.py + LoadTest.cs:31-48).

        Output file count = ceil(group bytes / target), so a 1 TB
        partition compacts to ~8000 healthy files, never one; groups
        already at or below their target count are left untouched.

        ``zorder_by`` clusters rows along the interleaved-bit z-curve
        over the named data columns before writing (range-partitioned +
        sorted within partitions), so every output file covers a tight
        [min, max] range on ALL the named columns at once — the layout
        that makes stats-based data skipping (``to_df(predicate=...)``)
        selective on multi-column workloads.  Kusto's analogue is the
        extent row-order policy its planner exploits via the min/max
        index.  Z-ordering rewrites every group (the point is to move
        rows), still as ``dataChange: false``.

        ``partition_predicate`` (SQL over partition columns) scopes the
        maintenance to matching partitions — Delta's ``OPTIMIZE WHERE``:
        at 100 TB you compact/cluster the partitions that churned, not
        the whole table.

        ``cluster_by`` lays rows out along the HILBERT curve instead of
        the z-curve (liquid clustering's layout: no diagonal jumps, so
        per-file [min, max] is strictly tighter on every key).  When
        neither ``zorder_by`` nor ``cluster_by`` is given and the table
        DECLARES clustering (:meth:`set_cluster_by`), the declared
        columns apply automatically — Delta's ``OPTIMIZE`` semantics on
        a clustered table.  Clustered OPTIMIZE is INCREMENTAL by
        default: already-clustered files (tagged by a prior rewrite
        under the same keys) stay put and only new data rewrites —
        O(new data), not O(table), per maintenance pass.  ``full=True``
        forces a whole-table re-cluster (``OPTIMIZE FULL``)."""
        import math as _math

        from .delta_log import _prune_partitions

        self._require_no_dvs("OPTIMIZE")
        if zorder_by is not None and cluster_by is not None:
            raise ValueError(
                "zorder_by and cluster_by are mutually exclusive"
            )
        if zorder_by is None and cluster_by is None:
            cluster_by = self._clustering_columns()
        if target_file_bytes is None:
            # per-table policy wins over the 128 MB default (K2: the
            # reference sets Kusto merge policies; here the knob lives
            # in TBLPROPERTIES and the engine honors it).  One metadata
            # scan, not a properties() + _data_schema() double-read.
            meta0 = self._state().metadata
            raw = ((meta0 or {}).get("configuration") or {}).get(
                "mlk.optimize.targetFileBytes"
            )
            try:
                target_file_bytes = int(raw) if raw else 128 << 20
            except ValueError:
                raise ValueError(
                    "table property mlk.optimize.targetFileBytes is not "
                    f"an integer: {raw!r} — fix it with set_properties"
                ) from None
        now = int(time.time() * 1000)
        _, data_schema, meta = self._data_schema()
        hilbert = zorder_by is None and bool(cluster_by)
        zcols = list(zorder_by or cluster_by or [])
        if zcols:
            if data_schema is None:
                return self._commit([])
            missing = [c for c in zcols if c not in data_schema.names]
            if missing:
                raise ValueError(
                    f"{'cluster_by' if hilbert else 'zorder_by'} columns "
                    f"{missing} are not data columns "
                    "(partition columns are already file-separated)"
                )
        # one log walk, shared by bounds (stats fold) and the groups
        files = self._state().files(self.spark)
        if zcols:
            bounds = self._zorder_bounds(zcols, data_schema, files)
        if partition_predicate is not None and files and meta is not None:
            files = _prune_partitions(
                self.spark, files, meta, partition_predicate
            )
        cluster_tag = ",".join(zcols) if hilbert else None
        thunks = []
        for _pv, files in self._groups(files):
            if hilbert and not full:
                # INCREMENTAL clustering (the liquid model, and the
                # 100 TB requirement): files a previous CLUSTER BY
                # rewrite produced under the SAME key set are already
                # tight and stay put; only new/unclustered files (and
                # files clustered under different keys) rewrite.
                # Generations may overlap in key space — that is the
                # accepted trade for O(new data) maintenance instead
                # of O(table); pass full=True to re-cluster everything.
                # EXCEPTION: clustered files well under the target
                # size (write-time clustering emits one small
                # generation per append) re-enter the rewrite — they
                # compact together along the curve and then stay put,
                # so repeated small appends converge instead of
                # accumulating a small-file tail forever.
                floor = target_file_bytes // 4
                files = [
                    f
                    for f in files
                    if (f.get("tags") or {}).get("MLK_CLUSTERED_BY")
                    != cluster_tag
                    or (f["size"] or 0) < floor
                ]
                if len(files) <= 1 and all(
                    (f.get("tags") or {}).get("MLK_CLUSTERED_BY")
                    == cluster_tag
                    for f in files
                ):
                    continue  # one small clustered file alone: no-op
                if not files:
                    continue
            total = sum(f["size"] or 0 for f in files)
            n_out = max(1, _math.ceil(total / target_file_bytes))
            if not zcols and len(files) <= n_out:
                continue
            if zcols:
                from .skipping import hilbert_column, zvalue_column

                curve = hilbert_column if hilbert else zvalue_column

                def transform(df, n=n_out, s=data_schema, b=bounds):
                    z = curve(zcols, b, s)
                    out = df.withColumn("_mlk_z", z)
                    if n > 1:
                        out = out.repartitionByRange(n, "_mlk_z")
                    else:
                        out = out.coalesce(1)
                    return out.sortWithinPartitions("_mlk_z").drop("_mlk_z")
            else:
                def transform(df, n=n_out):
                    return df.coalesce(n)
            thunks += self._rewrite(
                meta,
                files,
                transform,
                data_change=False,
                now=now,
                tags={"MLK_CLUSTERED_BY": cluster_tag} if cluster_tag else None,
            )
        actions = [a for run in thunks for a in run()]
        return self._commit(
            actions,
            operation="OPTIMIZE CLUSTER BY"
            if (zcols and hilbert)
            else "OPTIMIZE ZORDER"
            if zcols
            else "OPTIMIZE",
        )

    def _zorder_bounds(
        self, zcols, data_schema, files=None
    ) -> dict[str, tuple[float, float]]:
        """Global [min, max] of each curve column's numeric proxy.

        Fast path: fold the PER-FILE min/max stats already sitting in
        the add actions — pure driver metadata, O(files), no data
        read.  This is what keeps an INCREMENTAL clustered OPTIMIZE
        from paying an O(table) bounds scan at 100 TB just to rewrite
        a 1% delta.  Falls back to one column-pruned aggregate over
        the snapshot when any non-empty file lacks min/max for a
        needed column (decimals, NaN-poisoned doubles, truncated
        strings).  Bounds only scale the curve — stats-exact and
        scan-exact bounds cluster identically."""
        import pyspark.sql.functions as F

        from .skipping import bounds_from_file_stats, numeric_proxy

        type_of = {f.name: f.dataType for f in data_schema.fields}
        if files is not None:
            got = bounds_from_file_stats(zcols, type_of, files)
            if got is not None:
                return got
        df = self.to_df().select(
            *[numeric_proxy(c, type_of[c]).alias(c) for c in zcols]
        )
        row = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in zcols],
            *[F.max(c).alias(f"hi_{c}") for c in zcols],
        ).collect()[0]
        return {
            c: (
                row[f"lo_{c}"] if row[f"lo_{c}"] is not None else 0.0,
                row[f"hi_{c}"] if row[f"hi_{c}"] is not None else 0.0,
            )
            for c in zcols
        }

    @_operation
    def vacuum(self, retention_hours: float | None = None) -> dict:
        """Physically delete data files no longer referenced by the
        current snapshot, and truncate commit JSONs older than the last
        checkpoint (Delta's VACUUM + metadata cleanup).  After this,
        readers MUST take the checkpoint path (O1) and incremental
        consumers past the truncation point must snapshot-diff (C2) —
        both exercised in tests.

        ``retention_hours`` is Delta's ``VACUUM ... RETAIN N HOURS``
        window: an unreferenced file is deleted only once its
        tombstone (the remove action's deletionTimestamp; file mtime
        as the fallback for untracked garbage like superseded DV
        bins) is older than the window — so time travel within the
        window and in-flight readers keep working, exactly the
        guarantee Delta's default 168 h exists for.  Commit JSONs
        that still carry an in-window tombstone survive the metadata
        truncation too (they are below the checkpoint, so replay
        ignores them; they persist only to keep the tombstone clock
        honest for the NEXT vacuum).  ``None`` keeps this sink's
        historical aggressive default (retain nothing) — fine for
        single-writer mirror targets whose readers replay from the
        checkpoint, wrong for shared production tables: pass 168
        there."""
        from .delta_log import read_last_checkpoint

        from . import dv as _dv

        retention_ms = int((retention_hours or 0.0) * 3_600_000)
        cutoff = int(time.time() * 1000) - retention_ms
        ckpt = read_last_checkpoint(self.path)
        # ONE pass over the commit JSONs collects both the tombstone
        # clocks (retention) and the cdc references — these files can
        # live on slow object storage, so vacuum must not parse the
        # log twice
        tomb: dict[str, int] = {}
        commit_rm_ts: dict[int, int] = {}
        cdc_by_commit: dict[int, set] = {}
        for v in _backfilled_commit_versions(self.path):
            if retention_ms <= 0 and ckpt is not None and v <= ckpt:
                # no retention: this commit truncates below, so its
                # cdc files are garbage and its removes irrelevant
                continue
            for act in _read_commit(self.path, v):
                if retention_ms > 0:
                    r = act.get("remove")
                    if r and r.get("path"):
                        ts = int(r.get("deletionTimestamp") or 0)
                        tomb[r["path"]] = max(tomb.get(r["path"], 0), ts)
                        commit_rm_ts[v] = max(commit_rm_ts.get(v, 0), ts)
                c = act.get("cdc")
                if c is not None:
                    cdc_by_commit.setdefault(v, set()).add(c["path"])

        def _expired(rel: str, full: str) -> bool:
            """True when the unreferenced file's tombstone clock (or
            mtime, for untracked garbage) has left the window."""
            if retention_ms <= 0:
                return True
            ts = tomb.get(rel)
            if ts is None:
                try:
                    ts = self.fs.getmtime_ms(full)
                except OSError:
                    return False
            return ts < cutoff

        snap = self._state().files(self.spark)
        live = {f["path"] for f in snap}
        # deletion-vector .bin files referenced by live adds must
        # survive; superseded ones (older DV generations) are garbage
        live_dv = {
            _dv.dv_file_rel_path(f["deletionVector"])
            for f in snap
            if (f.get("deletionVector") or {}).get("cardinality")
        } - {None}
        # change-data files referenced by commits that SURVIVE the
        # metadata truncation below must survive too (they are never in
        # the snapshot's live set — the feed for the retained span
        # would silently vanish); cdc files of truncated commits are
        # garbage like their commits
        live_cdc: set[str] = set()
        for v, paths in cdc_by_commit.items():
            if (
                ckpt is None
                or v > ckpt
                or commit_rm_ts.get(v, 0) >= cutoff
            ):
                live_cdc |= paths
        removed_data = 0
        root = self.path.rstrip("/")
        for dirpath, _dirs, files in self.fs.walk(self.path):
            if "_delta_log" in dirpath or "_staging_" in dirpath:
                continue
            for name in files:
                full = _fs.join(dirpath, name)
                rel = full[len(root):].lstrip("/")
                if rel.startswith("_change_data/"):
                    if (
                        name.endswith(".parquet")
                        and rel not in live_cdc
                        and _expired(rel, full)
                    ):
                        self.fs.remove(full)
                        removed_data += 1
                    continue
                if (
                    name.endswith(".parquet")
                    and rel not in live
                    and _expired(rel, full)
                ):
                    self.fs.remove(full)
                    removed_data += 1
                elif (
                    name.startswith("deletion_vector_")
                    and name.endswith(".bin")
                    and rel not in live_dv
                    and _expired(rel, full)
                ):
                    self.fs.remove(full)
                    removed_data += 1
        removed_commits = 0
        if ckpt is not None:
            for v in _backfilled_commit_versions(self.path):
                if v <= ckpt and commit_rm_ts.get(v, 0) < cutoff:
                    self.fs.remove(
                        _fs.join(log_dir(self.path), TX_FMT.format(v) + ".json")
                    )
                    removed_commits += 1
        return {"data_files": removed_data, "log_files": removed_commits}

    # -- reads --------------------------------------------------------------

    def to_df(
        self,
        partition_predicate: str | None = None,
        version: int | None = None,
        predicate: str | None = None,
    ) -> DataFrame:
        """Snapshot read (log replay + partition-injected scan);
        ``partition_predicate`` prunes partition groups before any data
        file is opened (O6); ``predicate`` additionally skips files via
        per-file min/max stats then row-filters (data skipping);
        ``version`` time-travels to that commit (files must not have
        been vacuumed since)."""
        from .delta_log import read_snapshot

        return read_snapshot(
            self.spark,
            self.path,
            upto=version,
            partition_predicate=partition_predicate,
            predicate=predicate,
        )

    @_operation
    def detail(self) -> DataFrame:
        """DESCRIBE DETAIL: one row of table-level metadata — format,
        id, location, createdTime, partition/clustering columns, live
        file count + bytes, properties, and the protocol (versions +
        table features).  Pure driver-side metadata: the file
        count/size folds over the snapshot's add actions, never the
        data (Delta's utility of the same name)."""
        snap = self._state()
        meta = snap.metadata or {}
        proto = snap.protocol or {}
        files = snap.files(self.spark)
        feats = sorted(
            set(proto.get("readerFeatures") or [])
            | set(proto.get("writerFeatures") or [])
        )
        row = {
            "format": (meta.get("format") or {}).get("provider")
            or "parquet",
            "id": meta.get("id"),
            "location": self.path,
            "createdAt": meta.get("createdTime"),
            "partitionColumns": list(meta.get("partitionColumns") or []),
            "clusteringColumns": self._clustering_columns() or [],
            "numFiles": len(files),
            "sizeInBytes": sum(f["size"] or 0 for f in files),
            "properties": dict(meta.get("configuration") or {}),
            "minReaderVersion": proto.get("minReaderVersion") or 1,
            "minWriterVersion": proto.get("minWriterVersion") or 2,
            "tableFeatures": feats,
        }
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            LongType,
            MapType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("format", StringType()),
                StructField("id", StringType()),
                StructField("location", StringType()),
                StructField("createdAt", LongType()),
                StructField("partitionColumns", ArrayType(StringType())),
                StructField("clusteringColumns", ArrayType(StringType())),
                StructField("numFiles", LongType()),
                StructField("sizeInBytes", LongType()),
                StructField(
                    "properties", MapType(StringType(), StringType())
                ),
                StructField("minReaderVersion", IntegerType()),
                StructField("minWriterVersion", IntegerType()),
                StructField("tableFeatures", ArrayType(StringType())),
            ]
        )
        return self.spark.createDataFrame([row], schema)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per retained commit — version,
        commitInfo timestamp/operation (null for commits written before
        operations were recorded), add/remove counts.  Pure driver-side
        metadata over the log; O(commits)."""
        rows = []
        for v in _backfilled_commit_versions(self.path):
            info = {"timestamp": None, "operation": None}
            n_add = n_remove = 0
            text = self.fs.read_text(
                _fs.join(log_dir(self.path), TX_FMT.format(v) + ".json")
            )
            for line in text.splitlines():
                if not line.strip():
                    continue
                act = json.loads(line)
                if "commitInfo" in act:
                    info = act["commitInfo"]
                n_add += "add" in act
                n_remove += "remove" in act
            rows.append(
                (
                    v,
                    info.get("timestamp"),
                    info.get("operation"),
                    n_add,
                    n_remove,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp long, operation string, "
            "n_adds long, n_removes long",
        )

    @_operation
    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION: one commit whose adds/removes turn
        the current snapshot back into the snapshot at ``version`` —
        metadata-only when the old data files still exist (raises if
        any was vacuumed).  The restore itself is a new commit, so
        history moves forward (Delta's RESTORE semantics); the schema
        recorded at ``version`` is re-recorded when it differs."""
        now = int(time.time() * 1000)
        then = self._state().at(version)
        target = {f["path"]: f for f in then.files(self.spark)}
        current = {f["path"]: f for f in self._state().files(self.spark)}
        def _dv_key(f):
            d = f.get("deletionVector") or {}
            return (d.get("pathOrInlineDv"), d.get("offset")) if d.get(
                "cardinality"
            ) else None

        actions: list[dict] = []
        for p, f in target.items():
            if p in current and _dv_key(current[p]) == _dv_key(f):
                continue
            full = _fs.join(self.path, p)
            if not self.fs.exists(full):
                raise ValueError(
                    f"cannot restore to {version}: file {p} was vacuumed"
                )
            add = {
                "path": p,
                "partitionValues": f["partitionValues"] or {},
                "size": f["size"],
                "modificationTime": now,
                "dataChange": True,
                "stats": f.get("stats"),
            }
            if (f.get("deletionVector") or {}).get("cardinality"):
                # the historical snapshot's merge-on-read state restores
                # verbatim — dropping the DV would resurrect its rows
                add["deletionVector"] = dict(f["deletionVector"])
            if f.get("tags"):
                # clustered-provenance tags restore with the file, so
                # the next incremental OPTIMIZE doesn't re-cluster it
                add["tags"] = dict(f["tags"])
            actions.append({"add": add})
        for p, f in current.items():
            if p in target and _dv_key(target[p]) == _dv_key(f):
                continue
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now,
                        "dataChange": True,
                        "partitionValues": f["partitionValues"] or {},
                    }
                }
            )
        old_meta = then.metadata
        if old_meta is not None:
            # re-record the historical schema if it has since changed
            self._pending_schema = old_meta["schemaString"]
        return self._commit(actions, operation=f"RESTORE (version={version})")

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Batch change feed (Delta CDF analogue): data rows +
        ``_change_type`` (insert/delete) + ``_commit_version`` for the
        commit span — see ``delta_log.read_changes``."""
        from .delta_log import read_changes

        return read_changes(self.spark, self.path, from_version, to_version)

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        table_path: str,
        checkpoint_interval: int = 10,
    ) -> "DeltaSink":
        """CONVERT TO DELTA: author a Delta log IN PLACE over an
        existing plain-parquet directory (flat or hive-partitioned
        ``k=v`` layout) — the public Delta migration entry point.

        Data files are NOT rewritten or moved: the commit lists every
        existing parquet file as an add action with full footer stats
        (so data skipping works immediately), and hive partition
        directories become Delta partition columns.  O(files) driver
        metadata, zero data movement — which is the entire point at
        100 TB: conversion cost is a directory walk plus one commit.
        After conversion the table is a first-class engine citizen:
        append/delete/merge/optimize/time-travel, a mirrorable source,
        and a change-feed producer.

        Mixed layouts (some files under ``k=v`` dirs, some not) raise —
        a silent guess would scatter rows across wrong partitions.
        """
        if _backfilled_commit_versions(table_path):
            raise ValueError(f"{table_path} is already a Delta table")
        now = int(time.time() * 1000)
        entries: list[tuple[str, dict]] = []  # (relpath, partitionValues)
        part_keys: list[str] | None = None
        cfs = _fs.get_fs(table_path)
        croot = table_path.rstrip("/")
        for dirpath, dirs, names in cfs.walk(table_path):
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            rel_dir = dirpath[len(croot):].strip("/") or "."
            segs = [] if rel_dir == "." else rel_dir.split("/")
            pv: dict[str, str | None] = {}
            hive = all("=" in s for s in segs)
            for s in segs if hive else []:
                k, v = partition_dir_segment(s)
                pv[k] = v
            for name in sorted(names):
                if not name.endswith(".parquet") or name.startswith("_"):
                    continue
                if segs and not hive:
                    raise ValueError(
                        f"non-hive nested layout at {rel_dir!r} — cannot "
                        "infer partition values"
                    )
                keys = list(pv)
                if part_keys is None:
                    part_keys = keys
                elif keys != part_keys:
                    raise ValueError(
                        f"inconsistent partition depth: {keys} vs "
                        f"{part_keys}"
                    )
                entries.append(
                    ("/".join([*segs, name]) if segs else name, pv)
                )
        if not entries:
            raise ValueError(f"no parquet files under {table_path}")
        # schema inference: Spark's reader resolves hive partition
        # columns + data columns in one pass (types from dir values)
        schema = spark.read.parquet(table_path).schema
        sink = cls(
            spark,
            table_path,
            partition_by=part_keys or (),
            checkpoint_interval=checkpoint_interval,
        )
        sink._pending_schema = schema.json()
        adds = []
        for rel, pv in entries:
            full = _fs.join(table_path, rel)
            meta = _fs.parquet_metadata(full)
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": pv,
                        "size": cfs.getsize(full),
                        "modificationTime": now,
                        "dataChange": True,
                        "stats": file_stats_json(meta),
                    }
                }
            )
        sink._commit(adds, operation="CONVERT")
        return sink

    @classmethod
    def shallow_clone(
        cls,
        spark: SparkSession,
        source_path: str,
        target_path: str,
        version: int | None = None,
        checkpoint_interval: int = 10,
    ) -> "DeltaSink":
        """SHALLOW CLONE (Delta's zero-copy table copy): the target's
        first commit references the source snapshot's data files by
        ABSOLUTE path — no data moves, the clone is writable
        immediately, and source and clone evolve independently from
        that point (copy-on-write delete/merge on the clone rewrite
        into the clone's own directory; the source never changes).

        ``version`` clones a historical snapshot (time-travel clone).

        At 100 TB this is the dev/test/experiment idiom: a full-table
        sandbox for the cost of one metadata commit.  Safety: the
        clone's ``vacuum`` walks only the clone's directory, so it can
        never delete source files; conversely vacuuming the SOURCE can
        break clones that still reference removed files — the same
        documented caveat as Delta's own shallow clones."""
        if _backfilled_commit_versions(target_path):
            raise ValueError(f"{target_path} is already a Delta table")
        src = snapshot(source_path, version)
        files = src.files(spark)
        meta = src.metadata
        if meta is None:
            raise ValueError(f"no Delta table at {source_path}")
        sink = cls(
            spark,
            target_path,
            partition_by=list(meta.get("partitionColumns") or []),
            checkpoint_interval=checkpoint_interval,
        )
        sink._pending_schema = meta["schemaString"]
        # real Delta shallow clones copy table properties — so do we
        sink._pending_configuration = dict(meta.get("configuration") or {})
        now = int(time.time() * 1000)
        src_abs = (
            source_path.rstrip("/")
            if _fs.scheme_of(source_path)
            else os.path.abspath(source_path)
        )
        adds = []
        for f in files:
            stats = f.get("stats")
            if not stats and f.get("numRecords") is not None:
                # legacy count-only files: keep the row count so the
                # clone's skipping/observability paths see it
                stats = json.dumps({"numRecords": f["numRecords"]})
            adds.append(
                {
                    "add": {
                        "path": _fs.join(src_abs, f["path"]),
                        "partitionValues": f.get("partitionValues") or {},
                        "size": f.get("size"),
                        "modificationTime": now,
                        "dataChange": True,
                        "stats": stats,
                    }
                }
            )
        sink._commit(adds, operation="CLONE (shallow)")
        return sink
