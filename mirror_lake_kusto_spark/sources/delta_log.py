"""Delta transaction-log reader in pure PySpark (SURVEY §2.A rows A1-A5).

Re-expresses the reference's hand-rolled log machinery Spark-first:

- A1 JSON commit scan   (TransactionLogEntry.cs:123-172)  ->
  ``spark.read.schema(...).json`` over ``_delta_log/*.json`` with the
  commit txId regex-extracted from the file name (A5,
  DeltaTableGateway.cs:247-262).
- A2 checkpoint scan    (TransactionLogEntry.cs:365-398)  ->
  ``tables.read_parquet`` — Spark decodes the nested add/remove structs
  natively (the reference spends ~190 LoC reassembling repetition
  levels by hand; Catalyst's vectorized reader does it for free).
- A3 ``_last_checkpoint`` pointer (DeltaTableGateway.cs:20-26,264-283).
- O1 checkpoint-based log pruning (DeltaTableGateway.cs:71-122): read
  the checkpoint plus only trailing JSON commits.
- C1 add/remove cancellation within a segment
  (Storage/TransactionLog.cs:84-98): two ``left_anti`` joins.
- Log replay to a snapshot: per-path argmax(txId) keeps the last action
  for every file; files whose last action is an add are active — the
  DataFrame twin of snapshot diffing (TransactionLog.cs:116-164).

Everything here is metadata-scale (file listings, not data); the
actions DataFrame distributes fine when a 100 TB table's checkpoint has
millions of add entries.

Log replay.  Every question about the table's state at a version —
its active files, metaData, protocol, txn versions, domain metadata,
a file's prior deletion vector — is answered from one
:class:`Snapshot`, which :func:`snapshot` builds from ONE commit
listing and ONE ``_last_checkpoint`` read: its :func:`log_segment` is
the ``_last_checkpoint`` checkpoint when it is at or before the
version (else the newest complete one the listing shows at or before
it), plus the commits after it, which must run without a gap to the
version.  A version the log can no longer rebuild (history truncated
past every usable checkpoint, or a missing commit) raises ValueError
naming the earliest readable version, instead of answering from a
partial log.  The answers are lazy folds over one newest-first
iterator (:func:`_replay`: commits from newest to oldest, then only
the checkpoint columns asked for), each run at most once per
snapshot: metaData and protocol stop at the first hit, txn and domain
metadata keep the newest action per key, and a file's newest action
decides whether it is live.  The public lookups (``latest_metadata``,
``snapshot_files``, ...) each take their own snapshot; a caller with
several questions takes one and asks it all of them.  The snapshot's
version is also a writer's conflict window: ``DeltaSink`` checks a
commit against every commit made after the version its operation read.
"""

from __future__ import annotations

import json
import os
import re
import zlib
from typing import Any, Iterator, NamedTuple

import pyarrow.parquet as _pq
import pyspark.sql.functions as F

from . import fs as _fs
from .tables import read_parquet
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

_FORMAT = StructType(
    [
        StructField("provider", StringType()),
        StructField("options", MapType(StringType(), StringType())),
    ]
)
METADATA_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("format", _FORMAT),
        StructField("schemaString", StringType()),
        StructField("partitionColumns", ArrayType(StringType())),
        StructField("configuration", MapType(StringType(), StringType())),
        StructField("createdTime", LongType()),
    ]
)
DV_SCHEMA = StructType(
    [
        StructField("storageType", StringType()),
        StructField("pathOrInlineDv", StringType()),
        StructField("offset", LongType()),
        StructField("sizeInBytes", LongType()),
        StructField("cardinality", LongType()),
    ]
)

ADD_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("partitionValues", MapType(StringType(), StringType())),
        StructField("size", LongType()),
        StructField("modificationTime", LongType()),
        StructField("dataChange", BooleanType()),
        StructField("stats", StringType()),
        StructField("deletionVector", DV_SCHEMA),
        # row tracking (PROTOCOL.md "Row Tracking"): the first fresh
        # row id in the file and the commit version its rows default to
        StructField("baseRowId", LongType()),
        StructField("defaultRowCommitVersion", LongType()),
        # writer-private provenance (PROTOCOL.md allows arbitrary
        # string tags); this engine marks Hilbert-clustered rewrites
        # so OPTIMIZE can be INCREMENTAL (skip already-clustered files)
        StructField("tags", MapType(StringType(), StringType())),
    ]
)
REMOVE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("deletionTimestamp", LongType()),
        StructField("dataChange", BooleanType()),
        StructField("partitionValues", MapType(StringType(), StringType())),
    ]
)
PROTOCOL_SCHEMA = StructType(
    [
        StructField("minReaderVersion", LongType()),
        StructField("minWriterVersion", LongType()),
        StructField("readerFeatures", ArrayType(StringType())),
        StructField("writerFeatures", ArrayType(StringType())),
    ]
)
TXN_SCHEMA = StructType(
    [
        StructField("appId", StringType()),
        StructField("version", LongType()),
        StructField("lastUpdated", LongType()),
    ]
)
DOMAIN_METADATA_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("configuration", StringType()),
        StructField("removed", BooleanType()),
    ]
)
ACTIONS_SCHEMA = StructType(
    [
        StructField("metaData", METADATA_SCHEMA),
        StructField("add", ADD_SCHEMA),
        StructField("remove", REMOVE_SCHEMA),
        StructField("protocol", PROTOCOL_SCHEMA),
        StructField("txn", TXN_SCHEMA),
        StructField("domainMetadata", DOMAIN_METADATA_SCHEMA),
    ]
)

#: version extractor for log file names — plain commits/checkpoints
#: AND staged coordinated commits (<version>.<uuid>.json)
_TX_RE = r"(\d{20})(?:\.[0-9a-fA-F-]+)?\.(?:json|checkpoint\.parquet)$"

# JSON commits up to this total size are parsed on the driver (a commit
# is O(files-touched) metadata, KBs-to-MBs even on huge tables — the log
# IS driver-scale data, which is exactly how Delta itself treats it);
# beyond it we fall back to a distributed spark.read.json.
_DRIVER_JSON_BYTES = 64 << 20


def log_dir(table_path: str) -> str:
    return _fs.join(table_path, "_delta_log")


#: last resolved coordinated tail per table — REFRESHED by every
#: list_commit_versions call (which all log-reading flows perform
#: before resolving individual commit files), READ here without
#: recomputation so _commit_file stays a pure string join for the
#: overwhelmingly-common uncoordinated table (a per-call
#: staged-dir listdir would add 2-3 remote LISTs per commit read)
_TAIL_CACHE: dict[str, dict[int, str]] = {}


def _norm_table(table_path: str) -> str:
    return (
        table_path
        if _fs.scheme_of(table_path)
        else os.path.abspath(table_path)
    )


def _commit_file(table_path: str, version: int) -> str:
    tail = _TAIL_CACHE.get(_norm_table(table_path))
    if tail and version in tail:
        return _fs.join(log_dir(table_path), tail[version])
    return _fs.join(log_dir(table_path), f"{version:020d}.json")


#: (normalized table path, backfilled head, last checkpoint) ->
#: declared coordinator name.  The checkpoint version is part of the
#: key because a fully vacuumed coordinated table keeps NO plain
#: JSONs — its backfilled head pins at -1, and a coordinator name
#: (re)declared via a NEWER checkpoint's metaData must invalidate the
#: cached resolution.
_COORD_NAME_CACHE: dict[tuple, str | None] = {}


def _declared_coordinator(table_path: str) -> str | None:
    """The commit-coordinator name the table's metaData declares
    (``delta.coordinatedCommits.commitCoordinator[-preview]``), read
    from the BACKFILLED prefix only (newest-first commit scan, then
    checkpoint metaData) — staged commits are exactly what we cannot
    read yet."""
    versions = _backfilled_commit_versions(table_path)
    last_ckpt = read_last_checkpoint(table_path)
    key = (
        table_path if _fs.scheme_of(table_path) else os.path.abspath(table_path),
        versions[-1] if versions else -1,
        -1 if last_ckpt is None else last_ckpt,
    )
    if key in _COORD_NAME_CACHE:
        return _COORD_NAME_CACHE[key]

    def conf_name(meta) -> str | None:
        conf = (meta or {}).get("configuration") or {}
        if not isinstance(conf, dict):
            # checkpoint parquet MAP columns surface as key/value pairs
            conf = dict(conf)
        for k in (
            "delta.coordinatedCommits.commitCoordinator-preview",
            "delta.coordinatedCommits.commitCoordinator",
        ):
            if conf.get(k):
                return conf[k]
        return None

    name = None
    for v in reversed(versions):
        metas = [
            a["metaData"]
            for a in _read_backfilled_commit(table_path, v)
            if "metaData" in a
        ]
        if metas:
            name = conf_name(metas[-1])
            break
    else:
        if last_ckpt is not None:
            metas = _checkpoint_columns(table_path, last_ckpt, ("metaData",))
            for m in metas["metaData"]:
                name = conf_name(m)
    _COORD_NAME_CACHE[key] = name
    if len(_COORD_NAME_CACHE) > 4096:
        _COORD_NAME_CACHE.clear()
    return name


def _coordinated_tail(
    table_path: str, backfilled: list[int] | None = None
) -> dict[int, str]:
    """{version: path-under-_delta_log} of the RATIFIED staged tail —
    non-empty only when staged commits exist past the backfilled head
    AND the table names a coordinator this process has a registered
    client for."""
    from . import coordinator as _coord

    staged = _coord.staged_files(table_path)
    if not staged:
        return {}
    versions = (
        backfilled
        if backfilled is not None
        else _backfilled_commit_versions(table_path)
    )
    head = versions[-1] if versions else -1
    # a vacuumed coordinated table may keep NO plain JSONs: the
    # checkpoint is then the published head, and the tail must splice
    # after IT (head=-1 would demand a tail starting at version 0)
    ckpt = read_last_checkpoint(table_path)
    if ckpt is not None:
        head = max(head, ckpt)
    if not any(v > head for v in staged):
        return {}
    # resolution order: the metaData-declared coordinator name, then a
    # catalog binding registered for this path (catalogManaged tables
    # carry no in-log name — the managing catalog is out-of-band)
    client = _coord.commit_coordinator_for(
        _declared_coordinator(table_path)
        or _coord.catalog_for_table(table_path)
    )
    if client is None:
        return {}
    out = {
        v: p
        for v, p in client.get_commits(table_path, head + 1).items()
        if v > head
    }
    # contiguity: a ratified tail with a hole would replay a torn log
    expect = head + 1
    for v in sorted(out):
        if v != expect:
            raise UnsupportedTableFeature(
                f"coordinated table {table_path}: ratified tail "
                f"{sorted(out)} is not contiguous after backfilled "
                f"head {head} — refusing a torn snapshot"
            )
        expect += 1
    return out


def _read_backfilled_commit(table_path: str, version: int) -> list[dict]:
    """Like _read_commit but never consults the coordinator — used by
    the coordinator-resolution path itself to avoid recursion."""
    text = _fs.get_fs(table_path).read_text(
        _fs.join(log_dir(table_path), f"{version:020d}.json")
    )
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def _read_commit(
    table_path: str, version: int, kinds: tuple[str, ...] | None = None
) -> list[dict]:
    """One commit's newline-delimited JSON actions, driver-side (A1);
    with ``kinds``, only the lines that can hold one of those actions
    are parsed (a state lookup skips the add actions' stats)."""
    fs = _fs.get_fs(table_path)
    try:
        text = fs.read_text(_commit_file(table_path, version))
    except FileNotFoundError:
        # the process-global _TAIL_CACHE may have been cleared/evicted
        # by a CONCURRENT reader of another coordinated table between
        # our list_commit_versions and this read — a ratified tail
        # version would then resolve to the nonexistent plain
        # <v>.json.  Re-resolve the tail authoritatively before
        # failing: the coordinator, not the cache, owns ratification.
        tail = _coordinated_tail(table_path)
        if version not in tail:
            raise
        text = fs.read_text(_fs.join(log_dir(table_path), tail[version]))
    lines = text.splitlines()
    if kinds is not None:
        # an action line opens with its key: skip other actions
        # unparsed, parse anything else (a malformed line must fail)
        lines = [
            ln
            for ln in lines
            if not ln.startswith('{"') or ln[2 : ln.find('"', 2)] in kinds
        ]
    return [json.loads(line) for line in lines if line.strip()]


def _conform(value: Any, dtype) -> Any:
    """Shape a parsed-JSON action value to a Spark schema (drop unknown
    keys, coerce ints/bools) so createDataFrame accepts it verbatim."""
    if value is None:
        return None
    if isinstance(dtype, StructType):
        return {f.name: _conform(value.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, MapType):
        return dict(value)
    if isinstance(dtype, ArrayType):
        return list(value)
    if isinstance(dtype, LongType):
        return int(value)
    if isinstance(dtype, BooleanType):
        return bool(value)
    return value


def _driver_commit_rows(table_path: str, versions: list[int]) -> list[dict]:
    rows: list[dict] = []
    for v in versions:
        for act in _read_commit(table_path, v):
            row = {
                f.name: _conform(act.get(f.name), f.dataType)
                for f in ACTIONS_SCHEMA.fields
            }
            row["tx_id"] = v
            rows.append(row)
    return rows


def _backfilled_commit_versions(table_path: str) -> list[int]:
    """A4/A5: enumerate plain JSON commit txIds from blob names."""
    return _versions_of(_fs.get_fs(table_path).listdir(log_dir(table_path)))


def _versions_of(names) -> list[int]:
    return sorted(
        int(n[:20])
        for n in names
        if n.endswith(".json") and len(n) == 25 and n[:20].isdigit()
    )


def list_commit_versions(table_path: str) -> list[int]:
    """Readable commit versions: the backfilled prefix plus — for a
    coordinated table naming a REGISTERED coordinator — the ratified
    staged tail (round 9).  ONE directory listing for the common
    uncoordinated table: the staged dirs are subdirectories of
    _delta_log, so their presence is read from the same listing and
    the tail machinery only engages when one exists.  The resolved
    tail is cached per table so _commit_file (called once per commit
    read by every replay flow, always after an enumeration through
    here) resolves staged spellings without re-listing."""
    from . import coordinator as _coord

    names = _fs.get_fs(table_path).listdir(log_dir(table_path))
    out = _versions_of(names)
    key = _norm_table(table_path)
    tail = {}
    if any(n in _coord.STAGED_COMMIT_DIRS for n in names):
        tail = _coordinated_tail(table_path, backfilled=out)
    if tail:
        _TAIL_CACHE[key] = tail
        if len(_TAIL_CACHE) > 1024:
            _TAIL_CACHE.clear()
            _TAIL_CACHE[key] = tail
        out = sorted(set(out) | set(tail))
    else:
        _TAIL_CACHE.pop(key, None)
    return out


def _commit_info_of(table_path: str, version: int) -> dict | None:
    """The commit's ``commitInfo`` action (writers put it first; scan
    defensively), parsed line-by-line so a fat commit costs one text
    read, not a JSON parse of every add action."""
    text = _fs.get_fs(table_path).read_text(_commit_file(table_path, version))
    for line in text.splitlines():
        if not line.strip():
            continue
        act = json.loads(line)
        if "commitInfo" in act:
            return act["commitInfo"]
    return None


def commit_timestamps(table_path: str) -> list[tuple[int, int]]:
    """``(version, epoch-millis)`` for every surviving JSON commit, in
    version order, monotonically adjusted (Delta's commit-timestamp
    fix-up: a commit's effective clock is ``max(prev + 1, own)``, so
    out-of-order file mtimes — blob copies, clock skew between writers
    — can never make time travel non-deterministic).

    Per-commit clock priority (delta-spark DeltaHistoryManager +
    PROTOCOL.md "In-Commit Timestamps"):

    1. ``commitInfo.inCommitTimestamp`` — authoritative when the
       ``inCommitTimestamp`` writer feature is on (the table's clock
       survives file copies / log rewrites);
    2. ``commitInfo.timestamp`` — the wall clock ``history()`` shows;
    3. the commit file's modification time.

    O(surviving commits) driver-side metadata; vacuumed/checkpointed-
    away history is not resolvable by timestamp, exactly like Delta
    (reference analogue: the go-back date cutoff walks blob dates the
    same way, BlobAnalysisOrchestration.cs:137-159)."""
    fs = _fs.get_fs(table_path)
    out: list[tuple[int, int]] = []
    prev = -(1 << 62)
    for v in list_commit_versions(table_path):
        info = _commit_info_of(table_path, v) or {}
        ts = info.get("inCommitTimestamp") or info.get("timestamp")
        if ts is None:
            ts = fs.getmtime_ms(_commit_file(table_path, v))
        ts = max(int(ts), prev + 1)
        out.append((v, ts))
        prev = ts
    return out


def _to_epoch_ms(ts) -> int:
    """Normalize a user timestamp — datetime, ISO-8601 / SQL string
    (naive = UTC), or epoch MILLIS int/float — to epoch millis."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return int(ts.timestamp() * 1000)
    if isinstance(ts, str):
        parsed = _dt.datetime.fromisoformat(ts)
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=_dt.timezone.utc)
        return int(parsed.timestamp() * 1000)
    return int(ts)


def resolve_timestamp(table_path: str, ts, mode: str = "at_or_before") -> int:
    """Timestamp -> commit version.

    ``at_or_before`` (TIMESTAMP AS OF): the LATEST version whose commit
    time <= ts; raises if ts predates the earliest surviving commit or
    exceeds the latest (Delta's own timestampAsOf contract — a silent
    clamp would time-travel somewhere the user didn't ask for).

    ``at_or_after`` (startingTimestamp): the EARLIEST version whose
    commit time >= ts; a ts beyond the head resolves to head+1 — a
    stream that starts there simply waits for future commits."""
    target = _to_epoch_ms(ts)
    pairs = commit_timestamps(table_path)
    if not pairs:
        raise FileNotFoundError(f"{table_path}: no Delta commits")
    if mode == "at_or_before":
        if target < pairs[0][1]:
            raise ValueError(
                f"timestamp {ts!r} is before the earliest available "
                f"commit ({pairs[0][1]} ms at version {pairs[0][0]})"
            )
        if target > pairs[-1][1]:
            raise ValueError(
                f"timestamp {ts!r} is after the latest commit "
                f"({pairs[-1][1]} ms at version {pairs[-1][0]}); "
                "read the head without timestamp instead"
            )
        return max(v for v, t in pairs if t <= target)
    if mode == "at_or_after":
        later = [v for v, t in pairs if t >= target]
        return min(later) if later else pairs[-1][0] + 1
    raise ValueError(f"unknown mode {mode!r}")


def read_last_checkpoint(table_path: str) -> int | None:
    """A3: the ``_last_checkpoint`` JSON pointer -> checkpoint txId."""
    fs = _fs.get_fs(table_path)
    p = _fs.join(log_dir(table_path), "_last_checkpoint")
    if not fs.isfile(p):
        return None
    return int(json.loads(fs.read_text(p))["version"])


#: checkpoint file names: classic ``<v>.checkpoint.parquet``, multi-part
#: ``<v>.checkpoint.<part>.<parts>.parquet`` (groups 2, 3) and the v2
#: manifest ``<v>.checkpoint.<uuid>.parquet``
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint(?:\.(\d+)\.(\d+)|\.[^.]+)?\.parquet$")


def list_checkpoint_versions(table_path: str) -> list[int]:
    """Every COMPLETE on-disk checkpoint version (classic, v2 manifest,
    or a multi-part checkpoint with all of its parts listed),
    ascending — not just the ``_last_checkpoint`` pointer, which
    cannot name a checkpoint older than the newest one."""
    fs = _fs.get_fs(table_path)
    try:
        names = fs.listdir(log_dir(table_path))
    except (FileNotFoundError, NotADirectoryError, OSError):
        return []
    out: set[int] = set()
    parts: dict[tuple[int, int], set[int]] = {}
    for n in names:
        m = _CKPT_RE.match(n)
        if m is None:
            continue
        if m.group(3) is None:
            out.add(int(m.group(1)))
        else:
            parts.setdefault((int(m.group(1)), int(m.group(3))), set()).add(
                int(m.group(2))
            )
    out |= {v for (v, n), got in parts.items() if len(got) == n}
    return sorted(out)


class LogSegment(NamedTuple):
    """What replaying the log to one version reads: the checkpoint to
    start from (or None) and the commits after it, ascending."""

    version: int
    checkpoint: int | None
    commits: list[int]


def _cut_segment(
    table_path: str, commits: list[int], pointer: int | None, upto: int | None
) -> LogSegment:
    """The segment at ``upto`` cut from one commit listing and one
    ``_last_checkpoint`` read (see :func:`log_segment`)."""
    head = max(commits[-1] if commits else -1, -1 if pointer is None else pointer)
    version = head if upto is None else min(upto, head)
    ckpt = pointer
    if ckpt is None or ckpt > version:
        older = [c for c in list_checkpoint_versions(table_path) if c <= version]
        ckpt = older[-1] if older else None
    start = 0 if ckpt is None else ckpt + 1
    tail = [v for v in commits if start <= v <= version]
    if tail == list(range(start, version + 1)):
        return LogSegment(version, ckpt, tail)
    have = set(tail)
    missing = next(v for v in range(start, version + 1) if v not in have)
    found = next((v for v in tail if v > missing), version + 1)
    readable = set(list_checkpoint_versions(table_path)) | (
        {0} if commits and commits[0] == 0 else set()
    )
    raise ValueError(
        f"{table_path}: the state at version {version} cannot be rebuilt: "
        f"the transaction log is missing commits [{missing}, {found}) after "
        + ("no checkpoint" if ckpt is None else f"checkpoint {ckpt}")
        + "; the earliest readable version is "
        + (str(min(readable)) if readable else "none")
    )


class Snapshot:
    """The table's state at one version, read once: one
    :class:`LogSegment` and the commit listing it was cut from.  Each
    question about that state is a lazy fold over the segment's
    newest-first replay, run at most once per snapshot: ``metadata``,
    ``protocol`` (and the :meth:`check_protocol` verdict), ``files``
    (the live add actions), ``domains`` and ``txns``.  Built only by
    :func:`snapshot`; :meth:`at` re-cuts an older version from the
    same listing without listing the log again.  Values handed out are
    fresh copies, so a caller may edit them."""

    def __init__(
        self,
        table_path: str,
        commits: list[int],
        pointer: int | None,
        upto: int | None,
    ):
        self.table_path = table_path
        #: every readable commit version the listing showed, ascending
        self.commits = commits
        self._pointer = pointer
        self._upto = upto
        self.segment = _cut_segment(table_path, commits, pointer, upto)
        self._folds: dict[str, Any] = {}

    @property
    def version(self) -> int:
        return self.segment.version

    def at(self, version: int) -> "Snapshot":
        """The snapshot at ``version``, cut from the same listing; it
        shares this one's folds when it is the same segment."""
        snap = Snapshot(self.table_path, self.commits, self._pointer, version)
        if snap.segment == self.segment:
            snap._folds = self._folds
        return snap

    def _fold(self, key, compute):
        if key not in self._folds:
            self._folds[key] = compute()
        return self._folds[key]

    def _first(self, kind: str):
        return self._fold(
            kind,
            lambda: next(_newest_first(self.table_path, self.segment, kind), None),
        )

    @property
    def metadata(self) -> dict[str, Any] | None:
        """The newest metaData action (schema, partition columns,
        configuration), or None."""
        return _conform(self._first("metaData"), METADATA_SCHEMA)

    @property
    def protocol(self) -> dict | None:
        """The newest protocol action, or None."""
        return _conform(self._first("protocol"), PROTOCOL_SCHEMA)

    def check_protocol(self) -> None:
        """Raise UnsupportedTableFeature unless this engine can read
        the table at this version (:func:`check_protocol_supported`)."""
        # the verdict depends on the version asked for, not only on
        # the segment read (a staged tail past the head is refused)
        err = self._fold(("verdict", self._upto), self._verdict)
        if err is not None:
            raise err

    def _verdict(self) -> Exception | None:
        try:
            _check_protocol(self.table_path, self, self._upto)
        except UnsupportedTableFeature as exc:
            return exc
        return None

    def files(self, spark: SparkSession | None) -> list[dict[str, Any]]:
        """The live files (the protocol is checked first): the
        driver-side replay, or a Spark replay of the segment when its
        commits exceed ``_DRIVER_JSON_BYTES``."""
        self.check_protocol()

        def live():
            try:
                return _live_files(self.table_path, self.segment)
            except _LogTooBig:
                return _spark_live_files(spark, self.table_path, self.segment)

        return [dict(f) for f in self._fold("files", live)]

    @property
    def domains(self) -> dict[str, str]:
        """Live domain metadata: domain -> configuration JSON
        (PROTOCOL.md "Domain Metadata": per domain the newest action
        wins; a ``removed: true`` tombstone drops it)."""
        return dict(self._fold("domains", self._live_domains))

    def _live_domains(self) -> dict[str, str]:
        newest: dict[str, dict] = {}
        for dm in _newest_first(self.table_path, self.segment, "domainMetadata"):
            newest.setdefault(dm.get("domain") or "", dm)
        return {
            d: dm.get("configuration") or ""
            for d, dm in sorted(newest.items())
            if not dm.get("removed")
        }

    @property
    def txns(self) -> dict[str, int]:
        """The newest ``txn`` version per idempotent-writer appId."""
        return dict(self._fold("txns", self._txn_versions))

    def _txn_versions(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in _newest_first(self.table_path, self.segment, "txn"):
            if t.get("appId") and t.get("version") is not None:
                out.setdefault(t["appId"], int(t["version"]))
        return out


def snapshot(table_path: str, upto: int | None = None) -> Snapshot:
    """The table's :class:`Snapshot` at ``upto`` (default, or past the
    head: the head): ONE :func:`list_commit_versions` listing and ONE
    :func:`read_last_checkpoint` read, cut into the segment that
    :func:`log_segment` describes."""
    commits = list_commit_versions(table_path)
    return Snapshot(table_path, commits, read_last_checkpoint(table_path), upto)


def log_segment(table_path: str, upto: int | None = None) -> LogSegment:
    """The checkpoint plus commit tail that rebuilds the table state at
    ``upto`` (default, or past the head: the head; -1 for an empty
    log).  The checkpoint is ``_last_checkpoint`` when it is at or
    before the version, else the newest complete checkpoint at or
    before it that the listing shows; the commits (from
    :func:`list_commit_versions`, a coordinated tail included) must
    run without a gap from it — or from v0 — to the version.  Raises
    ValueError, naming the earliest readable version, when they do
    not: answering from a partial log returns wrong state."""
    return snapshot(table_path, upto).segment


def checkpoint_files(table_path: str, version: int) -> list[str]:
    """The checkpoint's parquet file(s) at ``version`` — classic
    single-file ``v.checkpoint.parquet`` or the protocol's multi-part
    ``v.checkpoint.<part>.<parts>.parquet`` layout (a 10M-file table's
    checkpoint is GBs; Delta shards it so writers parallelize and
    readers scan it distributed)."""
    fs = _fs.get_fs(table_path)
    d = log_dir(table_path)
    single = _fs.join(d, f"{version:020d}.checkpoint.parquet")
    if fs.isfile(single):
        return [single]
    prefix = f"{version:020d}.checkpoint."
    parts = sorted(
        _fs.join(d, n)
        for n in fs.listdir(d)
        if n.startswith(prefix) and n.endswith(".parquet")
    )
    if not parts:
        raise FileNotFoundError(
            f"no checkpoint parquet for version {version} under {d}"
        )
    return parts


def _conform_field(expr, have_type, want_type):
    """Recursively reshape ``expr`` of ``have_type`` into
    ``want_type``: missing struct fields null-fill, extra fields drop,
    leaves cast — tolerant of every writer generation's struct shape."""
    if isinstance(want_type, StructType):
        if not isinstance(have_type, StructType):
            return F.lit(None).cast(want_type)
        have = {f.name: f.dataType for f in have_type.fields}
        return F.when(
            expr.isNotNull(),
            F.struct(
                *[
                    (
                        _conform_field(
                            expr[f.name], have[f.name], f.dataType
                        ).alias(f.name)
                        if f.name in have
                        else F.lit(None).cast(f.dataType).alias(f.name)
                    )
                    for f in want_type.fields
                ]
            ),
        )
    if have_type == want_type:
        return expr
    return expr.cast(want_type)


def _conform_action_structs(df: DataFrame) -> DataFrame:
    """Conform every action column a checkpoint/sidecar frame carries
    to the canonical ACTIONS_SCHEMA shape: null-fill missing struct
    fields (older writers lack add.deletionVector; sidecars carry only
    file actions; newer writers' extra fields drop) so unions and
    downstream column references resolve uniformly."""
    for col in (
        "metaData", "add", "remove", "protocol", "txn", "domainMetadata",
    ):
        want = ACTIONS_SCHEMA[col].dataType
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast(want))
            continue
        have = df.schema[col].dataType
        if have == want:
            continue
        df = df.withColumn(
            col, _conform_field(F.col(col), have, want)
        )
    return df


def _checkpoint_part_columns(path: str, columns) -> dict[str, list]:
    """The named top-level columns of one checkpoint part or sidecar
    that its SCHEMA has (a classic checkpoint has no ``sidecar``
    column; a v2 manifest may carry no ``add``), in one read through
    the scheme-dispatched fs backend (so abfss://, s3a://, memory://
    tables work — pyarrow alone cannot open those paths).  Any other
    failure — corruption, permissions, network — raises, because
    silently skipping a checkpoint part yields a silently wrong
    snapshot."""
    with _fs.get_fs(path).open_input(path) as h:
        pf = _pq.ParquetFile(h)
        have = [c for c in columns if c in pf.schema_arrow.names]
        if not have:
            return {}
        t = pf.read(columns=have)
        return {c: t.column(c).to_pylist() for c in have}


def _checkpoint_part_column(path: str, column: str) -> list | None:
    """One column of a checkpoint part; None when its schema lacks it."""
    return _checkpoint_part_columns(path, (column,)).get(column)


def _sidecar_paths(table_path: str, sidecars) -> list[str]:
    """Data paths of a v2 manifest's ``sidecar`` actions (relative ones
    live under ``_delta_log/_sidecars/``)."""
    out: list[str] = []
    for sc in sidecars:
        if sc is None or not sc.get("path"):
            continue
        sp = sc["path"]
        if _fs.scheme_of(sp) or sp.startswith("/"):
            out.append(sp)
        else:
            out.append(_fs.join(log_dir(table_path), "_sidecars", sp))
    return out


def sidecar_files(table_path: str, version: int) -> list[str]:
    """V2-checkpoint sidecars (PROTOCOL.md "V2 Spec"): the manifest
    checkpoint stores file actions in separate parquet files under
    ``_delta_log/_sidecars/``, referenced by ``sidecar`` actions in
    the manifest.  Returns [] for classic checkpoints.  Driver-side
    column-projected read — the manifest is KB-scale metadata."""
    out: list[str] = []
    for path in checkpoint_files(table_path, version):
        out += _sidecar_paths(
            table_path, _checkpoint_part_column(path, "sidecar") or ()
        )
    return out


def read_actions(
    spark: SparkSession,
    table_path: str,
    after: int = -1,
    upto: int | None = None,
    use_checkpoint: bool = True,
) -> DataFrame:
    """All log actions with their commit ``tx_id``; a read from the
    start (``after < 0``) is the :func:`log_segment` at ``upto`` — its
    checkpoint plus the commits after it (O1)."""
    if use_checkpoint and after < 0:
        seg = log_segment(table_path, upto)
        return _segment_actions(spark, table_path, seg.checkpoint, seg.commits)
    versions = [
        v
        for v in list_commit_versions(table_path)
        if after < v and (upto is None or v <= upto)
    ]
    return _segment_actions(spark, table_path, None, versions)


def _segment_actions(
    spark: SparkSession,
    table_path: str,
    ckpt_version: int | None,
    versions: list[int],
) -> DataFrame:
    """The actions of the checkpoint at ``ckpt_version`` (if any) and
    of the commits ``versions``, each row tagged with its ``tx_id``."""
    srcs: list[DataFrame] = []
    if ckpt_version is not None:
        ckpt = read_parquet(spark, *checkpoint_files(table_path, ckpt_version))
        side = sidecar_files(table_path, ckpt_version)
        keep = [
            "metaData", "add", "remove", "protocol", "txn",
            "domainMetadata",
        ]
        ckpt = _conform_action_structs(ckpt).select(*keep)
        if side:
            # v2 checkpoint: the manifest holds protocol/metaData (and
            # possibly no file actions); adds/removes live in sidecars
            sdf = _conform_action_structs(
                read_parquet(spark, *side)
            ).select(*keep)
            ckpt = ckpt.unionByName(sdf)
        srcs.append(
            ckpt.select(*keep).withColumn("tx_id", F.lit(ckpt_version))
        )
    if versions:
        # _commit_file resolves a coordinated table's ratified tail
        # versions to their staged <v>.<uuid>.json spelling
        paths = [_commit_file(table_path, v) for v in versions]
        row_schema = StructType(
            [*ACTIONS_SCHEMA.fields, StructField("tx_id", LongType())]
        )
        if (
            sum(_fs.get_fs(table_path).getsize(p) for p in paths)
            <= _DRIVER_JSON_BYTES
        ):
            # local relation: no file-scan job, no schema pass over the
            # cluster — commit JSONs are driver-scale metadata
            srcs.append(
                spark.createDataFrame(
                    _driver_commit_rows(table_path, versions), row_schema
                )
            )
        else:
            srcs.append(
                spark.read.schema(ACTIONS_SCHEMA)
                .json(paths)
                .withColumn(
                    "tx_id",
                    F.regexp_extract(F.input_file_name(), _TX_RE, 1).cast("long"),
                )
            )
    if not srcs:
        return spark.createDataFrame(
            [], StructType([*ACTIONS_SCHEMA.fields, StructField("tx_id", LongType())])
        )
    out = srcs[0]
    for s in srcs[1:]:
        out = out.unionByName(s)
    return out


#: (kinds, ((part path, size, mtime), ...)) -> the non-file columns
#: of a checkpoint: KB-scale, and every metaData/protocol/txn lookup
#: whose commit tail lacks the action ends in the checkpoint
_CKPT_COLUMNS: dict[tuple, dict[str, list]] = {}


def _checkpoint_columns(
    table_path: str, version: int, kinds: tuple[str, ...]
) -> dict[str, list]:
    """kind -> the non-null values of that action column in the
    checkpoint at ``version`` (single, multi-part, or v2 manifest plus
    sidecars), each part opened once, read driver-side with column
    projection (pyarrow)."""
    parts = checkpoint_files(table_path, version)
    files = bool({"add", "remove"} & set(kinds))
    key = None
    if not files:
        fs = _fs.get_fs(table_path)
        key = (kinds, tuple((p, fs.getsize(p), fs.getmtime_ms(p)) for p in parts))
        if key in _CKPT_COLUMNS:
            return _CKPT_COLUMNS[key]
    out: dict[str, list] = {k: [] for k in kinds}
    sidecars: list[str] = []
    for path in parts:
        cols = _checkpoint_part_columns(
            path, (*kinds, "sidecar") if files else kinds
        )
        # v2 checkpoints keep file actions in sidecars
        sidecars += _sidecar_paths(table_path, cols.pop("sidecar", ()))
        for k, vals in cols.items():
            out[k] += [v for v in vals if v is not None]
    for path in sidecars:
        for k, vals in _checkpoint_part_columns(path, kinds).items():
            out[k] += [v for v in vals if v is not None]
    if key is not None:
        if len(_CKPT_COLUMNS) >= 256:
            _CKPT_COLUMNS.clear()
        _CKPT_COLUMNS[key] = out
    return out


def _replay(
    table_path: str, seg: LogSegment, kinds: tuple[str, ...]
) -> Iterator[tuple[int, list[dict]]]:
    """``(version, actions)`` over ``seg``, newest first: each commit's
    ``kinds`` actions in file order, then — only if the caller reads
    that far — the checkpoint's ``kinds`` columns as one action list."""
    for v in reversed(seg.commits):
        yield v, _read_commit(table_path, v, kinds)
    if seg.checkpoint is not None:
        cols = _checkpoint_columns(table_path, seg.checkpoint, kinds)
        yield seg.checkpoint, [{k: a} for k in kinds for a in cols[k]]


def _newest_first(table_path: str, seg: LogSegment, kind: str) -> Iterator[dict]:
    """Every ``kind`` action of ``seg``, newest first."""
    for _v, acts in _replay(table_path, seg, (kind,)):
        for a in reversed(acts):
            if a.get(kind) is not None:
                yield a[kind]


def _file_states(
    table_path: str, seg: LogSegment, paths=None
) -> dict[str, dict | None]:
    """path -> its add action at ``seg.version``, or None when the
    path's newest action is a remove.  The newest commit touching a
    path decides; within one commit an add beats a remove of the same
    path and the last add wins.  ``paths`` limits the fold to those
    paths and stops it once all are decided."""
    out: dict[str, dict | None] = {}
    want = None if paths is None else set(paths)
    for _v, acts in _replay(table_path, seg, ("add", "remove")):
        if want is not None and len(out) == len(want):
            break
        adds: dict[str, dict] = {}
        removes: set[str] = set()
        for a in acts:
            if a.get("add") is not None:
                adds[a["add"]["path"]] = a["add"]
            elif a.get("remove") is not None:
                removes.add(a["remove"]["path"])
        for p in adds.keys() | removes:
            if p not in out and (want is None or p in want):
                out[p] = adds.get(p)
    return out


def latest_metadata(
    spark: SparkSession, table_path: str, upto: int | None = None
) -> dict[str, Any] | None:
    """Latest metaData action ≤ upto (schema + partition columns) — F3's
    'latest schema at txId' (TableStatus.cs:99-106).  Driver-side: the
    first hit of the newest-first replay, so one lookup reads at most
    the commits since the last checkpoint."""
    return snapshot(table_path, upto).metadata


def file_actions(
    spark: SparkSession,
    table_path: str,
    after: int = -1,
    upto: int | None = None,
    use_checkpoint: bool = True,
) -> DataFrame:
    """Normalized add/remove stream: one row per action with
    ``(tx_id, path, is_add, partitionValues, size, numRecords,
    dataChange, modificationTime)``; numRecords parsed from add.stats
    (H7, TransactionLogEntry.cs:345-361)."""
    return _file_rows(read_actions(spark, table_path, after, upto, use_checkpoint))


def _file_rows(acts: DataFrame) -> DataFrame:
    """:func:`file_actions` over an actions frame."""
    adds = acts.filter(F.col("add").isNotNull()).select(
        "tx_id",
        F.col("add.path").alias("path"),
        F.lit(True).alias("is_add"),
        F.col("add.partitionValues").alias("partitionValues"),
        F.col("add.size").alias("size"),
        F.get_json_object("add.stats", "$.numRecords").cast("long").alias("numRecords"),
        F.col("add.stats").alias("stats"),
        F.col("add.dataChange").alias("dataChange"),
        F.col("add.modificationTime").alias("modificationTime"),
        F.col("add.deletionVector").alias("deletionVector"),
        F.col("add.baseRowId").alias("baseRowId"),
        F.col("add.defaultRowCommitVersion").alias(
            "defaultRowCommitVersion"
        ),
        F.col("add.tags").alias("tags"),
    )
    removes = acts.filter(F.col("remove").isNotNull()).select(
        "tx_id",
        F.col("remove.path").alias("path"),
        F.lit(False).alias("is_add"),
        F.col("remove.partitionValues").alias("partitionValues"),
        F.lit(None).cast("long").alias("size"),
        F.lit(None).cast("long").alias("numRecords"),
        F.lit(None).cast("string").alias("stats"),
        F.col("remove.dataChange").alias("dataChange"),
        F.col("remove.deletionTimestamp").alias("modificationTime"),
        F.lit(None).cast(DV_SCHEMA).alias("deletionVector"),
        F.lit(None).cast("long").alias("baseRowId"),
        F.lit(None).cast("long").alias("defaultRowCommitVersion"),
        F.lit(None).cast("map<string,string>").alias("tags"),
    )
    return adds.unionByName(removes)


def coalesced_segment(
    spark: SparkSession, table_path: str, after: int, upto: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """C1: merge commits (after, upto] into one batch; paths both added
    AND removed inside the span cancel (compaction/OPTIMIZE churn never
    reaches the sink — O2).  Returns (adds, removes) DataFrames."""
    seg = file_actions(spark, table_path, after=after, upto=upto, use_checkpoint=False)
    # a path re-committed by a later add (stats recompute, dataChange
    # toggles) must appear ONCE with its latest action — without this
    # argmax the anti-join would keep both rows and double-ingest
    adds = (
        seg.filter("is_add")
        .groupBy("path")
        .agg(
            F.max_by(
                F.struct(
                    "partitionValues",
                    "size",
                    "numRecords",
                    "modificationTime",
                    "deletionVector",
                ),
                "tx_id",
            ).alias("last")
        )
        .select("path", "last.*")
    )
    removes = (
        seg.filter("NOT is_add")
        .groupBy("path")
        .agg(F.max_by(F.struct("partitionValues"), "tx_id").alias("last"))
        .select("path", "last.*")
    )
    live_adds = adds.join(removes.select("path"), "path", "left_anti")
    live_removes = removes.join(adds.select("path"), "path", "left_anti")
    return live_adds, live_removes


def coalesced_segment_local(
    table_path: str, after: int, upto: int | None = None
) -> tuple[list[dict], list[dict]] | None:
    """Driver-side twin of ``coalesced_segment`` — the reference's exact
    hash-set cancellation (TransactionLog.cs:84-98) over parsed commit
    actions.  Returns None when the segment exceeds the driver-parse
    budget (caller falls back to the DataFrame path)."""
    versions = [
        v
        for v in list_commit_versions(table_path)
        if v > after and (upto is None or v <= upto)
    ]
    if (
        sum(
            _fs.get_fs(table_path).getsize(_commit_file(table_path, v))
            for v in versions
        )
        > _DRIVER_JSON_BYTES
    ):
        return None
    adds: dict[str, dict] = {}
    removes: dict[str, dict] = {}
    for v in versions:
        for act in _read_commit(table_path, v):
            if "add" in act:
                a = act["add"]
                adds[a["path"]] = {
                    "path": a["path"],
                    "partitionValues": dict(a.get("partitionValues") or {}),
                    "size": a.get("size"),
                    "numRecords": _num_records(a.get("stats")),
                    "modificationTime": a.get("modificationTime"),
                    "deletionVector": a.get("deletionVector"),
                }
            elif "remove" in act:
                r = act["remove"]
                removes[r["path"]] = {
                    "path": r["path"],
                    "partitionValues": dict(r.get("partitionValues") or {}),
                }
    live_adds = [a for p, a in sorted(adds.items()) if p not in removes]
    live_removes = [r for p, r in sorted(removes.items()) if p not in adds]
    return live_adds, live_removes


#: integer digits each integral type may carry — the floor a decimal's
#: (precision - scale) must clear to hold it losslessly
_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}

#: string-to-string widenings that are always lossless (PROTOCOL.md
#: "Type Widening" supported type changes; Spark 4's parquet readers
#: perform every one of these promotions natively on read, so files
#: written before the change stay valid as-is)
_WIDENINGS = {
    "byte": {"short", "integer", "long", "double"},
    "short": {"integer", "long", "double"},
    "integer": {"long", "double"},
    "float": {"double"},
    "date": {"timestamp_ntz"},
}


def _decimal_params(t: str) -> tuple[int, int] | None:
    """(precision, scale) of a Delta JSON 'decimal(p,s)' type string."""
    if not (t.startswith("decimal(") and t.endswith(")")):
        return None
    try:
        p, s = t[len("decimal("):-1].split(",")
        return int(p), int(s)
    except ValueError:
        return None


def is_type_widening(from_t, to_t) -> bool:
    """True when changing a column's Delta type ``from_t`` -> ``to_t``
    is one of PROTOCOL.md's lossless Type Widening changes — the ONLY
    retypes a table may take while keeping its existing (narrower)
    data files:

    - byte -> short -> integer -> long, and any of those -> double
    - float -> double
    - date -> timestamp_ntz
    - decimal(p,s) -> decimal(p',s') with p'-s' >= p-s and s' >= s
    - byte/short/integer/long -> decimal with p-s >= the integral
      type's digit count

    Complex (struct/array/map) types never widen as a unit, and equal
    types are NOT a widening (callers treat same-type as no-op)."""
    if not (isinstance(from_t, str) and isinstance(to_t, str)):
        return False
    if from_t == to_t:
        return False
    if to_t in _WIDENINGS.get(from_t, ()):
        return True
    to_dec = _decimal_params(to_t)
    if to_dec is None:
        return False
    p2, s2 = to_dec
    if from_t in _INT_DIGITS:
        return s2 >= 0 and p2 - s2 >= _INT_DIGITS[from_t]
    from_dec = _decimal_params(from_t)
    if from_dec is None:
        return False
    p1, s1 = from_dec
    return s2 >= s1 and p2 - s2 >= p1 - s1


def collations_of(meta: dict | None) -> dict[str, str]:
    """Non-default collations declared in the schema's field metadata
    (Delta "collations" preview: StructField metadata key
    ``__COLLATIONS`` maps field paths to ``<provider>.<name>``
    identifiers).  Returns {top-level column -> collation} for every
    column declaring anything other than the UTF8_BINARY default.
    Values READ normally — parquet string bytes are collation-agnostic
    — but collation-SENSITIVE file skipping must be disabled on these
    columns: per-file min/max stats are binary-ordered, and a range
    predicate pruned in binary order can drop files that match under
    the declared collation.

    Round 10: comparators are HONORED, not merely surfaced —
    ``StructType.fromJson`` parses ``__COLLATIONS`` into Spark 4's
    native collated string types, and read_snapshot builds every scan
    from that schema, so filters/sorts/joins/groupings on a collated
    column compare under the DECLARED collation inside Catalyst (both
    SPARK.* and ICU.* providers; pinned in test_r10_collation).  This
    map is therefore only needed where collation must be EXCLUDED:
    the binary-ordered stats/bloom/partition pruners above."""
    if not meta:
        return {}
    try:
        fields = json.loads(meta["schemaString"])["fields"]
    except (KeyError, TypeError, ValueError):
        return {}
    out: dict[str, str] = {}
    for f in fields:
        coll = (f.get("metadata") or {}).get("__COLLATIONS") or {}
        for _path, ident in coll.items():
            if (
                isinstance(ident, str)
                and ident.split(".", 1)[-1].upper() != "UTF8_BINARY"
            ):
                out[f["name"]] = ident
    return out


class UnsupportedTableFeature(RuntimeError):
    """The table's Delta protocol requires reader features this engine
    does not implement (deletion vectors, column mapping, ...).
    Reading anyway would return WRONG rows — e.g. a deletion-vector
    table's deleted rows would silently resurface — so the read must
    fail loudly instead.  Mirrors the reference's own throw on
    unsupported log shapes (TransactionLogEntry.cs:341-342)."""


#: Known-but-unsupported reader features: the fail-closed error names
#: WHAT the feature changes so the user knows why blind reads are
#: wrong and what to do about it (not just an opaque feature string).
#: Keys are the stable feature names; "-preview" suffixes match too.
_FEATURE_NOTES: dict[str, str] = {
    "catalogManaged": (
        "commits are coordinated through a catalog, so the filesystem "
        "_delta_log is no longer the source of truth — the latest "
        "commits may live only in the catalog and a filesystem read "
        "can return a stale or torn snapshot; read this table through "
        "its managing catalog"
    ),
    "catalogOwned": (
        "the table is owned by a catalog (coordinated commits): the "
        "filesystem log can lag the true head — read through the "
        "owning catalog"
    ),
    "coordinatedCommits": (
        "commit ordering is delegated to an external commit "
        "coordinator; unbacked filesystem commits may be missing — "
        "read through the coordinator"
    ),
}


def unbackfilled_commit_versions(table_path: str) -> list[int]:
    """Versions staged in the log's ``_commits`` / ``_staged_commits``
    directory — the coordinator-owned tail of a coordinated-commits /
    catalog-managed table.  A staged version ≤ the backfilled head is
    a published duplicate; versions PAST it are commits a filesystem
    reader cannot serve (without a registered coordinator client)."""
    from . import coordinator as _coord

    return sorted(_coord.staged_files(table_path))


#: catalog-coordination features (stable names): the backfilled prefix
#: of such a table's filesystem log is still a correct, immutable
#: Delta log — serve it; refuse only a VISIBLY unpublished tail
_CATALOG_FEATURES = {"catalogManaged", "catalogOwned", "coordinatedCommits"}


#: (abs table path, head version, upto) triples already verified OK
_PROTOCOL_OK: set[tuple] = set()


def check_protocol_supported(table_path: str, upto: int | None = None) -> None:
    """Raise UnsupportedTableFeature unless the table's LATEST protocol
    action (at or before ``upto``) is readable with basic reader
    version 1; a table with no protocol action anywhere is treated as
    version 1."""
    snapshot(table_path, upto).check_protocol()


def _check_protocol(table_path: str, snap: Snapshot, upto: int | None) -> None:
    """:func:`check_protocol_supported` over an already-read snapshot."""
    head = snap.version
    cache_key = (_norm_table(table_path), head, upto)
    if cache_key in _PROTOCOL_OK:
        return
    try:
        proto = snap._first("protocol")
    except UnsupportedTableFeature:
        raise
    except Exception as exc:
        # fail CLOSED: an unreadable protocol (a checkpoint column the
        # engine cannot decode) is exactly the foreign-table shape this
        # guard exists for
        raise UnsupportedTableFeature(
            f"table {table_path}: cannot determine the protocol "
            f"(log unreadable: {exc}) — refusing to read blind"
        ) from exc
    if proto is not None:
        reader = proto.get("minReaderVersion") or 1
        features = set(proto.get("readerFeatures") or [])
        # reader v2 = column mapping (legacy form); reader v3 tables
        # advertise table features explicitly — we read deletionVectors
        # (merge-on-read row filter) and columnMapping (physical->
        # logical rename), both applied in read_snapshot.  Anything
        # else — v2Checkpoint, timestampNtz, ... — still fails loudly:
        # reading blind returns wrong rows.
        supported = {
            "deletionVectors",
            "columnMapping",
            "timestampNtz",       # Spark reads TIMESTAMP_NTZ natively
            "vacuumProtocolCheck",  # read-side no-op by definition
            "v2Checkpoint",       # manifest+sidecar checkpoints (below)
            # typeWidening: old files keep the narrow physical type
            # while metaData records the widened one; read_snapshot
            # reads every file with the LATEST schema and Spark 4's
            # parquet readers promote int->long/double, float->double,
            # decimal growth, int->decimal, date->timestamp_ntz
            # natively (verified in test_r6_type_widening)
            "typeWidening",
            "typeWidening-preview",
            # variantType: Spark 4 reads both unshredded
            # (metadata/value) and shredded (typed_value) physical
            # variant layouts natively (test_r6_variant)
            "variantType",
            "variantType-preview",
            # collations (round 8): parquet string BYTES are
            # collation-agnostic, so values read normally and the
            # declared collation surfaces through the schema's field
            # metadata (__COLLATIONS); what MUST not happen is
            # collation-sensitive file skipping — read_snapshot
            # disables stats/bloom/partition pruning on collated
            # columns (binary min/max order is not the collation's
            # order).  Predicates still evaluate with Spark's
            # UTF8_BINARY semantics (surfaced, not re-collated).
            "collations",
            "collations-preview",
        }
        ok = (
            reader == 1
            or reader == 2
            or (reader == 3 and features and not (features - supported))
        )
        if not ok:
            unknown = sorted(features - supported) if reader == 3 else []
            notes = "".join(
                f"\n  - {f}: {_FEATURE_NOTES[k]}"
                for f in unknown
                for k in (f.removesuffix("-preview"),)
                if k in _FEATURE_NOTES
            )
            if unknown and all(
                f.removesuffix("-preview") in _CATALOG_FEATURES
                for f in unknown
            ):
                # coordinated-commits PARTIAL READ (round 8): the
                # BACKFILLED prefix of the filesystem log is immutable
                # and totally ordered (PROTOCOL.md backfill rules), so
                # a snapshot at or below the last backfilled commit is
                # exact.  Refuse only when the staged (coordinator-
                # owned) tail is VISIBLY unpublished past the read
                # point — and say how stale the filesystem view is.
                staged = unbackfilled_commit_versions(table_path)
                pending = [v for v in staged if v > head]
                if upto is not None and upto <= head:
                    pending = []  # historical read below head: exact
                if not pending:
                    # serve the backfilled snapshot.  NOT cached in
                    # _PROTOCOL_OK: a staged commit can appear without
                    # moving the backfilled head, and the staleness
                    # courtesy must stay exact.
                    return
                raise UnsupportedTableFeature(
                    f"table {table_path}: commits "
                    f"{pending} are staged by the commit coordinator "
                    "but not yet backfilled — a filesystem read would "
                    f"serve a STALE snapshot at version {head}, "
                    f"{len(pending)} commit(s) behind v{max(pending)}; "
                    "read through the owning catalog (register a "
                    "client and bind it with "
                    "coordinator.register_catalog_table), or retry "
                    "after backfill" + notes
                )
            raise UnsupportedTableFeature(
                f"table {table_path} requires minReaderVersion={reader} "
                f"readerFeatures={sorted(features)}; this engine "
                f"implements reader versions 1-2 plus "
                f"{sorted(supported)} — reading anyway would return "
                "wrong rows" + notes
            )
    # cache the OK verdict per (table, head) — the guard otherwise
    # re-parses every post-checkpoint commit on each read; a new
    # commit changes `head` and invalidates naturally
    _PROTOCOL_OK.add(cache_key)
    if len(_PROTOCOL_OK) > 4096:
        _PROTOCOL_OK.clear()


def snapshot_files(
    spark: SparkSession, table_path: str, upto: int | None = None
) -> list[dict[str, Any]]:
    """Log replay: active files at version ``upto`` (default: latest).
    Per-path argmax(tx_id) — the D3 arg_max pattern applied to the log
    itself.

    Driver fast path (checkpoint via pyarrow + JSON commits via json)
    when the log is driver-scale; the Spark replay remains the fallback
    for logs past _DRIVER_JSON_BYTES."""
    return snapshot(table_path, upto).files(spark)


def _spark_live_files(
    spark: SparkSession, table_path: str, seg: LogSegment
) -> list[dict[str, Any]]:
    """The Spark twin of :func:`_live_files`: per-path argmax(tx_id)
    over the segment's actions, for a segment past the driver budget."""
    fa = _file_rows(_segment_actions(spark, table_path, seg.checkpoint, seg.commits))
    latest = (
        fa.groupBy("path")
        .agg(
            F.max_by(
                F.struct(
                    "is_add",
                    "partitionValues",
                    "size",
                    "numRecords",
                    "stats",
                    "deletionVector",
                    "baseRowId",
                    "defaultRowCommitVersion",
                    "tags",
                ),
                F.struct("tx_id", F.col("is_add").cast("int")),
            ).alias("last")
        )
        .filter(F.col("last.is_add"))
        .select(
            "path",
            F.col("last.partitionValues").alias("partitionValues"),
            F.col("last.size").alias("size"),
            F.col("last.numRecords").alias("numRecords"),
            F.col("last.stats").alias("stats"),
            F.col("last.deletionVector").alias("deletionVector"),
            F.col("last.baseRowId").alias("baseRowId"),
            F.col("last.defaultRowCommitVersion").alias(
                "defaultRowCommitVersion"
            ),
            F.col("last.tags").alias("tags"),
        )
    )
    return [r.asDict(recursive=True) for r in latest.collect()]


class _LogTooBig(Exception):
    pass


def _num_records(stats: str | None) -> int | None:
    if not stats:
        return None
    n = json.loads(stats).get("numRecords")
    return int(n) if n is not None else None


def _live_files(table_path: str, seg: LogSegment) -> list[dict[str, Any]]:
    """The active files at ``seg.version`` — the driver-side replay of
    :func:`_file_states` — as sorted file dicts; raises _LogTooBig when
    the segment's commits exceed the driver budget."""
    tfs = _fs.get_fs(table_path)
    if (
        sum(tfs.getsize(_commit_file(table_path, v)) for v in seg.commits)
        > _DRIVER_JSON_BYTES
    ):
        raise _LogTooBig
    return [
        {
            "path": path,
            # pyarrow reads checkpoint maps as (key, value) tuple lists
            "partitionValues": dict(a.get("partitionValues") or {}),
            "size": a.get("size"),
            "numRecords": _num_records(a.get("stats")),
            "stats": a.get("stats"),
            "deletionVector": a.get("deletionVector"),
            "baseRowId": a.get("baseRowId"),
            "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
            "tags": dict(a["tags"]) if a.get("tags") else None,
        }
        for path, a in sorted(_file_states(table_path, seg).items())
        if a is not None
    ]


def column_mapping_of(meta: dict | None) -> dict[str, str] | None:
    """Logical -> physical column names when the table uses Delta
    column mapping (PROTOCOL.md "Column Mapping"): the metaData
    configuration carries ``delta.columnMapping.mode`` and every
    schema field records its ``delta.columnMapping.physicalName``
    (both ``name`` and ``id`` modes do — matching by physical name
    covers both for tables whose files were written under this
    mapping).  None when mapping is off."""
    if meta is None:
        return None
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in ("none", None, ""):
        return None
    fields = json.loads(meta["schemaString"])["fields"]
    out = {}
    for f in fields:
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        )
        if phys is None:
            raise UnsupportedTableFeature(
                f"column mapping mode {mode!r} is active but field "
                f"{f['name']!r} records no physicalName — refusing to "
                "guess"
            )
        out[f["name"]] = phys
    return out


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    upto: int | None = None,
    partition_predicate: str | None = None,
    predicate: str | None = None,
    timestamp=None,
    row_ids: bool = False,
) -> DataFrame:
    """Current table contents, read through :func:`scan_with_file_frame`
    (partition values, deletion vectors, column mapping, widening eras
    and — with ``row_ids`` — ``_row_id`` / ``_row_commit_version``).

    ``partition_predicate`` (SQL over partition columns only) prunes
    whole partition groups BEFORE any data file is opened — classic
    partition pruning, evaluated once per distinct tuple on a
    metadata-sized DataFrame.

    ``predicate`` (general SQL over any columns) additionally prunes
    individual FILES via the per-file min/max/nullCount stats the sink
    records on every add action (data skipping — see
    ``sources/skipping.py``), then re-applies the full predicate as a
    row filter so the result is identical with pruning on or off.  At
    100 TB this is the difference between opening every file and
    opening only the few whose [min, max] range can match.

    ``timestamp`` (TIMESTAMP AS OF: datetime / ISO string / epoch ms)
    resolves to a version via ``resolve_timestamp`` — commitInfo's
    inCommitTimestamp when the writer feature is on, else commit
    clocks with Delta's monotonic fix-up.  Mutually exclusive with
    ``upto``."""
    if timestamp is not None:
        if upto is not None:
            raise ValueError("pass either upto= or timestamp=, not both")
        upto = resolve_timestamp(table_path, timestamp)
    snap = snapshot(table_path, upto)
    files = snap.files(spark)
    meta = snap.metadata
    if row_ids and str(
        ((meta or {}).get("configuration") or {}).get(
            "delta.enableRowTracking", ""
        )
    ).lower() != "true":
        raise ValueError(
            f"{table_path}: row_ids=True needs row tracking "
            "(delta.enableRowTracking) on the table"
        )
    if meta is None:
        return spark.createDataFrame([], StructType([]))
    mapping = column_mapping_of(meta)  # logical -> physical, or None
    if partition_predicate is not None and files:
        # pruning reads partition values by LOGICAL name; under column
        # mapping add.partitionValues (and metaData.partitionColumns in
        # some writers) are keyed by physical name
        parts = _logical_partition_columns(meta)
        files = _prune_partitions(
            spark,
            [
                {
                    **f,
                    "partitionValues": {
                        c: _partition_value(f, c, mapping) for c in parts
                    },
                }
                for f in files
            ],
            {**meta, "partitionColumns": parts},
            partition_predicate,
        )
    if predicate is not None and files:
        files, _ = skip_files(spark, table_path, meta, files, predicate)
    if not files:
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(meta["schemaString"]))
        )
    out = scan_with_file_frame(
        spark,
        table_path,
        meta,
        files,
        apply_dvs=True,
        row_ids=("_row_id", "_row_commit_version") if row_ids else None,
    )
    if predicate is not None:
        # pruning is advisory; the row filter guarantees exactness
        out = out.filter(predicate)
    return out


def skip_files(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    files: list[dict],
    predicate: str,
    cover: bool = False,
) -> tuple[list[dict], list[dict]]:
    """Stats and Bloom skipping of ``files`` for ``predicate``, the one
    pruning step behind ``read_snapshot`` and ``DeltaSink``'s DML:
    ``(kept, covered)``.  ``kept`` are the files that may hold a
    matching row — advisory, callers still filter rows.  ``covered``
    (only when ``cover``) are the kept files every row of which
    matches, by :func:`skipping.cover_files` — a proof.

    Both are skipped under column mapping (stats JSON is keyed by
    physical names), and when ``spark.sql.parser.escapedStringLiterals``
    makes Spark read a backslash in a literal as itself."""
    from .bloom import prune_files_bloom
    from .skipping import cover_files, prune_files

    if column_mapping_of(meta) is not None or (
        "\\" in predicate
        and spark.conf.get(
            "spark.sql.parser.escapedStringLiterals", "false"
        ).lower()
        == "true"
    ):
        return files, []
    pred_schema = StructType.fromJson(json.loads(meta["schemaString"]))
    parts = list(meta.get("partitionColumns") or [])
    collated = collations_of(meta)
    # collated columns prune collation-AWARE: stats min/max are
    # binary-ordered, so prune_files applies the case-variant interval
    # test on the SPARK.UTF8_LCASE family (equality/IN only) and keeps
    # every other collation's conjuncts non-prunable
    files = prune_files(
        files, predicate, pred_schema, parts, collations=collated
    )
    covered = (
        cover_files(files, predicate, pred_schema, parts, collated)
        if cover
        else []
    )
    # a Bloom sidecar (if built) additionally prunes equality/IN
    # lookups on high-cardinality columns; advisory and stale-safe.
    # Blooms hash raw bytes — a case VARIANT of the literal would
    # miss — so collated columns stay outside the bloom's view
    bloom_schema = (
        StructType([f for f in pred_schema.fields if f.name not in collated])
        if collated
        else pred_schema
    )
    return (
        prune_files_bloom(table_path, files, predicate, bloom_schema),
        covered,
    )


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A driver-built frame sent through Arrow, so it plans as
    ``LocalTableScan``: the rows ride in the plan itself.  The same
    rows passed to ``createDataFrame`` as Python tuples plan as ``Scan
    ExistingRDD`` over a PythonRDD, which every evaluation decodes
    again in Python workers.  ``schema`` is a StructType or a DDL
    string; ``rows`` are tuples in its field order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return spark.createDataFrame(
        pa.table(
            [pa.array(c, type=t) for c, t in zip(cols, arrow.types)],
            schema=arrow,
        )
    )


def _logical_partition_columns(meta: dict) -> list[str]:
    """``metaData.partitionColumns`` by LOGICAL name (some writers
    record the physical names of a column-mapped table)."""
    log_of = {p: l for l, p in (column_mapping_of(meta) or {}).items()}
    return [log_of.get(c, c) for c in meta.get("partitionColumns") or []]


def _partition_value(f: dict, col: str, mapping: dict | None):
    """File ``f``'s raw partition value of logical column ``col``:
    ``add.partitionValues`` is keyed by physical name under column
    mapping, by logical name once a reader has normalized it."""
    pv = f.get("partitionValues") or {}
    return pv[col] if col in pv else pv.get((mapping or {}).get(col, col))


def _has_dv(f: dict) -> bool:
    """Does file ``f`` carry a deletion vector that deletes rows?  Its
    ``deletionVector`` is a log descriptor or an already-fetched
    payload (the change feed's)."""
    dv = f.get("deletionVector")
    return bool(dv.get("cardinality")) if isinstance(dv, dict) else bool(dv)


def scan_with_file_frame(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    files: list[dict],
    consts: StructType | None = None,
    file_cols: list[StructField] = (),
    identity: bool = False,
    apply_dvs: bool = False,
    row_ids: tuple[str, str | None] | None = None,
) -> DataFrame:
    """The ONE place add actions become rows: LOGICAL rows of ``files``
    (``path`` relative to ``table_path``) of the table whose
    ``metaData`` is ``meta`` — the reference's ConstValue ingestion
    mapping (A7/O6, BlobStagingOrchestration.cs:291-308).  Everything
    is derived from ``meta``: the physical→logical respelling under
    column mapping, the logical partition columns (their values come
    from each file dict's ``partitionValues``, cast from the log's raw
    strings), the read schema, and the widening eras Spark cannot
    promote natively (:func:`legacy_promote_cols`; one scan per era
    variant, :func:`physical_read_groups`).  Each distinct path is
    scanned once, in ONE parquet scan — usually exactly one.

    Output: the schema's fields in order, then ``file_cols`` (physical
    columns outside the schema, read from the files and null where a
    file lacks them), then ``consts``, then the optional outputs:

    - ``identity``: ``__mlk_file`` (:func:`fs.data_path_spelling`) and
      ``__mlk_ridx`` (the physical row index);
    - ``apply_dvs``: rows deleted by the deletion vector of any file
      dict that carries one (descriptor or fetched payload) anti-join
      away (:func:`dv.deleted_rows`) — Delta merge-on-read;
    - ``row_ids``: output names for the row id and, unless None, the
      row commit version (PROTOCOL.md "Row Tracking"): the
      materialized column when a rewrite preserved it, else the fresh
      ``add.baseRowId`` + row index (and ``defaultRowCommitVersion``).

    Per-file values — partition values, ``consts`` (read from the
    file dicts by field name), base row ids — arrive through ONE
    broadcast join of a :func:`local_frame`, never as literals, so two
    reads of the same shape generate identical code and the plan is
    O(1) in files and partition tuples.  A path may appear in several
    file dicts (the change feed lists a file inserted at one version
    and removed at a later one): each dict is one frame row, so the
    join yields one copy of the file's rows per dict.  With nothing
    per-file to join (unpartitioned, no ``consts``, no row ids) there
    is no frame: the identity comes straight off the scan's
    ``_metadata``.

    Join key: when every distinct path's BASENAME is unique and
    contains only join-safe characters (no URL-encoding ambiguity
    between the log spelling and the scan's ``_metadata`` spelling —
    real writers name files ``part-<uuid>.snappy.parquet``),
    ``_metadata.file_name``: a constant-per-file string with zero
    per-row canonicalization work.  Otherwise the canonical full path
    (``spark_scan_path`` / ``data_path_spelling``), which pays a
    per-row url_decode + regexp but is exact for any spelling.  The
    join runs on the key's CRC-32 whenever the distinct keys' CRCs
    differ (the scan reads only the frame's files, so equal CRCs then
    mean equal files): a long key broadcasts as a ~1 MB
    ``LongHashedRelation``, a string key as an ``UnsafeHashedRelation``
    whose first page is a whole ``spark.buffer.pageSize`` (64 MB on a
    7 GB driver) however few files it holds."""
    from . import dv as _dv

    schema_json = json.loads(meta["schemaString"])
    schema = StructType.fromJson(schema_json)
    mapping = column_mapping_of(meta) or {}
    part_cols = _logical_partition_columns(meta)
    conf = meta.get("configuration") or {}
    mat_cols: list[str] = []
    fresh: dict[str, Any] = {}
    if row_ids:
        # the materialized row-id/commit-version columns are PHYSICAL
        # only (never part of the logical schema): files written before
        # materialization lack them and null-fill
        for out_name, mat, base in zip(
            row_ids,
            (
                conf.get("delta.rowTracking.materializedRowIdColumnName"),
                conf.get(
                    "delta.rowTracking.materializedRowCommitVersionColumnName"
                ),
            ),
            (F.col("__mlk_base") + F.col("__mlk_ridx"), F.col("__mlk_rcv")),
        ):
            if out_name is None:
                continue
            fresh[out_name] = F.coalesce(F.col(mat), base) if mat else base
            if mat:
                mat_cols.append(mat)
    read_schema = StructType(
        [
            StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
            if f.name not in part_cols
        ]
        + list(file_cols)
        + [StructField(c, LongType(), True) for c in mat_cols]
    )
    problem_cols = {
        mapping.get(c, c): schema[c].dataType
        for c in legacy_promote_cols(schema_json["fields"])
    }
    dv_files = [f for f in files if _has_dv(f)] if apply_dvs else []
    need_ident = identity or bool(dv_files)
    framed = bool(part_cols or consts or row_ids)
    paths = list(dict.fromkeys(f["path"] for f in files))
    scanned: dict[str, Any] = {}
    if framed:
        basenames = [p.rsplit("/", 1)[-1] for p in paths]
        if len(set(basenames)) == len(paths) and all(
            re.fullmatch(r"[A-Za-z0-9._=-]+", b) for b in basenames
        ):
            key_of = dict(zip(paths, basenames))
            scan_key = F.col("_metadata.file_name")
        else:
            key_of = {p: _fs.data_path_spelling(table_path, p) for p in paths}
            scan_key = _fs.spark_scan_path(F.col("_metadata.file_path"))
        crc_of = {p: zlib.crc32(k.encode()) for p, k in key_of.items()}
        key_type = StringType()
        if len(set(crc_of.values())) == len(crc_of):
            key_of, key_type = crc_of, LongType()
            scan_key = F.crc32(scan_key.cast("binary"))
        scanned["__mlk_key"] = scan_key
    elif need_ident:
        # identity alone: straight off the scan, no join
        scanned["__mlk_file"] = _fs.spark_scan_path(
            F.col("_metadata.file_path")
        )
    if need_ident or row_ids:
        scanned["__mlk_ridx"] = F.col("_metadata.row_index")
    full = [_fs.join(table_path, p) for p in paths]
    out = None
    for ps, variant, cast_cols in (
        physical_read_groups(full, read_schema, problem_cols)
        if problem_cols
        else [(full, read_schema, [])]
    ):
        df = spark.read.schema(variant).parquet(*ps).withColumns(
            {
                **{c: F.col(c).cast(problem_cols[c]) for c in cast_cols},
                **scanned,
            }
        )
        out = df if out is None else out.unionByName(df)
    consts = consts or StructType([])
    if framed:
        fields = [StructField("__mlk_key", key_type, False)]
        if need_ident:
            fields.append(StructField("__mlk_file", StringType()))
        fields += [
            StructField(f"__mlk_pv{i}", StringType())
            for i in range(len(part_cols))
        ]
        fields += consts.fields
        if row_ids:
            fields += [
                StructField("__mlk_base", LongType()),
                StructField("__mlk_rcv", LongType()),
            ]
        rows = []
        for f in files:
            row = [key_of[f["path"]]]
            if need_ident:
                row.append(_fs.data_path_spelling(table_path, f["path"]))
            row += [_partition_value(f, c, mapping) for c in part_cols]
            row += [f.get(c) for c in consts.names]
            if row_ids:
                row += [f.get("baseRowId"), f.get("defaultRowCommitVersion")]
            rows.append(tuple(row))
        frame = local_frame(spark, rows, StructType(fields))
        out = out.join(F.broadcast(frame), "__mlk_key", "left")
    pv_of = {c: i for i, c in enumerate(part_cols)}
    ident = ["__mlk_file", "__mlk_ridx"] if need_ident else []
    out = out.select(
        *[
            F.col(f"__mlk_pv{pv_of[f.name]}").cast(f.dataType).alias(f.name)
            if f.name in pv_of
            else F.col(mapping.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ],
        *[f.name for f in file_cols],
        *consts.names,
        *[c.alias(n) for n, c in fresh.items()],
        *ident,
    )
    if dv_files:
        cols = out.columns if identity else out.columns[: -len(ident)]
        deleted = _dv.deleted_rows(
            spark,
            table_path,
            [
                (
                    _fs.data_path_spelling(table_path, f["path"]),
                    f["deletionVector"],
                )
                for f in dv_files
            ],
            *ident,
        )
        # a USING anti-join moves its keys first: restore the order
        out = out.join(deleted, ident, "left_anti").select(*cols)
    return out


#: fromTypes whose parquet annotation (INT(8)/INT(16)) Spark's
#: vectorized reader cannot promote to DECIMAL — the one hole in the
#: otherwise-native Type Widening read path (probed on Spark 4.1)
_VECTOR_BLIND_FROM = {"byte", "short"}


def legacy_promote_cols(schema_fields: list[dict]) -> set[str]:
    """Names of columns whose ``delta.typeChanges`` history makes the
    CURRENT type unreadable by Spark's native parquet promotion: a
    byte/short-era physical column under a decimal logical type.
    Every other spec widening (byte->short->int->long, int/long->
    decimal, ->double, float->double, date->timestamp_ntz, decimal
    growth) promotes natively and never lands here."""
    out: set[str] = set()
    for f in schema_fields:
        t = f.get("type")
        if not (isinstance(t, str) and t.startswith("decimal(")):
            continue
        for ch in (f.get("metadata") or {}).get("delta.typeChanges") or []:
            if ch.get("fromType") in _VECTOR_BLIND_FROM:
                out.add(f["name"])
                break
    return out


def _arrow_to_spark_type(at):
    import pyarrow as pa
    from pyspark.sql.types import (
        ByteType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    if pa.types.is_int8(at):
        return ByteType()
    if pa.types.is_int16(at):
        return ShortType()
    if pa.types.is_int32(at):
        return IntegerType()
    if pa.types.is_int64(at):
        return LongType()
    if pa.types.is_decimal(at):
        return DecimalType(at.precision, at.scale)
    if pa.types.is_float32(at):
        return FloatType()
    if pa.types.is_float64(at):
        return DoubleType()
    if pa.types.is_date(at):
        return DateType()
    return None


#: (file path, problem-column tuple) -> sniffed (era key, overrides);
#: parquet files are immutable so entries never invalidate
_SNIFF_CACHE: dict[tuple, tuple] = {}


def physical_read_groups(
    paths: list[str],
    read_schema,
    problem_cols: dict,
) -> list[tuple[list[str], "StructType", list[str]]]:
    """Era-split for type-widened columns Spark cannot promote
    natively: group ``paths`` by the SNIFFED physical type of each
    problem column (footer-only driver reads, KB each — same metadata
    class as the log itself) and return ``(paths, schema_variant,
    cast_cols)`` groups.  Each group scans natively/vectorized with
    the file's own physical type, and the caller casts ``cast_cols``
    to the logical type right after the scan — exact, era-proof
    (survives vacuumed logs: no commit-version guesswork), and the
    data path stays whole-stage-codegen.  ``problem_cols`` maps the
    column name AS IT APPEARS IN read_schema to its logical type."""
    names = sorted(problem_cols)
    by_key: dict[tuple, list[str]] = {}
    key_types: dict[tuple, dict] = {}
    for p in paths:
        cache_key = (p, tuple(names))
        cached = _SNIFF_CACHE.get(cache_key)
        if cached is None:
            # parquet files are immutable: one footer read per
            # (file, column-set), ever — without this a table that
            # EVER recorded a byte/short->decimal change would pay
            # O(files) footer fetches on every read
            arrow = _fs.parquet_metadata(p).schema.to_arrow_schema()
            key = []
            types = {}
            for c in names:
                idx = arrow.get_field_index(c)
                st = (
                    _arrow_to_spark_type(arrow.field(idx).type)
                    if idx >= 0
                    else None
                )
                if st is not None and st == problem_cols[c]:
                    st = None  # already the logical type: no override
                key.append(None if st is None else st.simpleString())
                if st is not None:
                    types[c] = st
            cached = (tuple(key), types)
            _SNIFF_CACHE[cache_key] = cached
            if len(_SNIFF_CACHE) > 262_144:
                _SNIFF_CACHE.clear()
                _SNIFF_CACHE[cache_key] = cached
        k, types = cached
        by_key.setdefault(k, []).append(p)
        key_types[k] = types
    out = []
    for k, ps in by_key.items():
        types = key_types[k]
        if not types:
            out.append((ps, read_schema, []))
            continue
        variant = StructType(
            [
                StructField(f.name, types.get(f.name, f.dataType), f.nullable)
                for f in read_schema.fields
            ]
        )
        out.append((ps, variant, sorted(types)))
    return out


def prior_dv_descs(
    table_path: str, paths, before_version: int
) -> dict[str, dict | None]:
    """The deletion-vector descriptor each of ``paths`` carried just
    BEFORE ``before_version``: the :func:`_file_states` fold at
    ``before_version - 1`` limited to ``paths``.  ``None`` for files
    with no DV (or removed).  Driver metadata only — payloads stay
    compressed; shared by the batch change feed and the streaming
    source's DV-delta synthesis.  One newest-first replay resolves
    every path (a per-path replay re-parses each commit once per
    rewritten file).  Raises when the log can no longer rebuild that
    version or never mentions a path: defaulting to None would emit a
    full-bitmap retract, re-deleting rows that were already dead."""
    try:
        seg = log_segment(table_path, before_version - 1)
    except ValueError as exc:
        raise ValueError(
            f"cannot resolve prior deletion vectors before version "
            f"{before_version} of {table_path}: {exc}"
        ) from exc
    states = _file_states(table_path, seg, paths)
    unknown = sorted(set(paths) - set(states))
    if unknown:
        # every requested path was live at before_version (they come
        # from the commit's own removes and rewrites): one the whole
        # replay never saw is an inconsistent log
        raise ValueError(
            f"cannot resolve prior deletion vectors before version "
            f"{before_version} of {table_path}: no action for "
            f"{unknown!r} in the log up to version {seg.version}"
        )
    out: dict[str, dict | None] = {}
    for p, a in states.items():
        d = (a or {}).get("deletionVector")
        out[p] = d if (d or {}).get("cardinality") else None
    return out


def classify_mor_commit(
    table_path: str,
    acts: list[dict],
    v: int,
    dv_possible,
    blob_cache: dict | None = None,
) -> list[dict]:
    """Classify one commit's dataChange adds/removes into change-feed
    entries — the SINGLE home of the merge-on-read synthesis semantics
    shared by :func:`read_changes` and the mlk_delta streaming
    source's readChangeFeed mode (stream ≡ batch lives here, pinned in
    test_r10_dv_stream).

    Entry kinds (each ``{"path": rel, "pv": dict, "size": int, ...}``):

    - ``insert`` / ``delete``: plain file-granularity change (the
      caller performs its own vacuum-existence check on deletes);
    - ``insert_apply``: a file BORN with a DV — its SURVIVORS insert
      (``payload`` = the new bitmap, applied as a drop-mask);
    - ``delete_apply``: a DV'd file fully removed — only its LIVE rows
      retract (``payload`` = the prior bitmap);
    - ``delta``: a DV rewrite (remove(P)+add(P,DV')) — the bitmap
      delta: rows in new∖old are deletes, rows in old∖new (a RESTORE
      shrinking the vector) are resurrecting inserts
      (``new_payload``/``old_payload``/``cardinality``).

    Prior descriptors resolve in ONE batched backward replay
    (:func:`prior_dv_descs`); ``dv_possible`` — a bool or a zero-arg
    callable evaluated ONLY when a descriptor-less remove actually
    needs it (protocol scans are not free; round-10 review) — gates
    those lookups so plain CoW tables pay nothing.  ``blob_cache``
    lets a multi-commit caller share .bin reads across the span
    (consecutive delete_dv commits reuse each other's blobs).
    Compressed payloads only — the caller expands them
    (:func:`dv.deleted_rows`)."""
    from . import dv as _dv

    if blob_cache is None:
        blob_cache = {}
    adds_d: dict[str, dict] = {}
    removes_d: dict[str, dict] = {}
    for a in acts:
        ad = a.get("add")
        if ad is not None and ad.get("dataChange", True):
            adds_d[ad["path"]] = ad
        rm = a.get("remove")
        if rm is not None and rm.get("dataChange", True):
            removes_d[rm["path"]] = rm

    def _card(action) -> int:
        return int(
            (action.get("deletionVector") or {}).get("cardinality") or 0
        )

    # one batched backward replay resolves every prior descriptor this
    # commit needs: rewritten paths (old side of the delta), removes
    # with no recorded descriptor, AND rewrites whose NEW add carries
    # no vector (a RESTORE-in-place: the remove still needs the prior
    # bitmap or previously-dead rows would wrongly retract)
    need_prior: set[str] = {
        # a rewrite carrying a NEW vector always needs the old side,
        # feature flag or not (the vector in hand IS the evidence)
        p
        for p, a in adds_d.items()
        if p in removes_d and _card(a)
    }
    undescribed_removes = {
        p
        for p, r in removes_d.items()
        if not _card(r) and not _card(adds_d.get(p, {}))
    }
    if undescribed_removes and (
        dv_possible() if callable(dv_possible) else dv_possible
    ):
        need_prior |= undescribed_removes
    prior = prior_dv_descs(table_path, need_prior, v) if need_prior else {}

    def _payload(desc):
        return _dv.dv_payload(table_path, desc, blob_cache)

    out: list[dict] = []
    for p, a in sorted(adds_d.items()):
        desc = a.get("deletionVector")
        desc = desc if (desc or {}).get("cardinality") else None
        base = {
            "path": p,
            "pv": dict(a.get("partitionValues") or {}),
            "size": int(a.get("size") or 0),
        }
        if desc is None:
            old = prior.get(p) if p in removes_d else None
            if old:
                # RESTORE-in-place: the re-add DROPS the prior vector
                # (all deletions undone).  A shrink-to-empty delta —
                # the change is exactly the resurrected rows, not a
                # full retract+reinsert of the file
                removes_d.pop(p)
                out.append(
                    {
                        **base,
                        "kind": "delta",
                        "new_payload": _dv.serialize([]),
                        "old_payload": _payload(old),
                        "cardinality": int(old["cardinality"]),
                    }
                )
            else:
                out.append({**base, "kind": "insert"})
            continue
        new_payload = _payload(desc)
        if p in removes_d:
            removes_d.pop(p)
            old = prior.get(p)
            out.append(
                {
                    **base,
                    "kind": "delta",
                    "new_payload": new_payload,
                    "old_payload": _payload(old) if old else None,
                    "cardinality": int(desc["cardinality"]),
                }
            )
        else:
            out.append(
                {
                    **base,
                    "kind": "insert_apply",
                    "payload": new_payload,
                    "cardinality": int(desc["cardinality"]),
                }
            )
    for p, r in sorted(removes_d.items()):
        base = {
            "path": p,
            "pv": dict(r.get("partitionValues") or {}),
            # the removed file is RE-READ to stream its delete rows, so
            # byte-based admission control must charge its size
            "size": int(r.get("size") or 0),
        }
        old = r.get("deletionVector")
        old = old if (old or {}).get("cardinality") else None
        if old is None:
            # no second protocol-gate evaluation here: rewritten paths
            # were popped from removes_d above, so a pure remove's
            # entry in `prior` can only have been populated through
            # the undescribed_removes lookup — which already ran under
            # the dv_possible gate (round-10 review: the previous
            # `and dv_possible` tested the truthiness of the CALLABLE,
            # silently bypassing the gate at this site)
            old = prior.get(p)
        if old:
            out.append(
                {
                    **base,
                    "kind": "delete_apply",
                    "payload": _payload(old),
                    "cardinality": int(old["cardinality"]),
                }
            )
        else:
            out.append({**base, "kind": "delete"})
    return out


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Batch change feed over [from_version, to_version] — Delta CDF
    (PROTOCOL.md "Change Data Feed").  A commit carrying ``cdc``
    actions (written by the DML paths when
    ``delta.enableChangeDataFeed`` is set) is read EXCLUSIVELY from
    its ``_change_data/`` files: exact row-level ``delete`` /
    ``update_preimage`` / ``update_postimage`` / ``insert`` rows.
    Commits without cdc actions synthesize at file granularity:
    ``insert`` rows from files added with ``dataChange: true``,
    ``delete`` rows from files removed with ``dataChange: true`` (a
    pre-CDF copy-on-write DELETE therefore appears as the full old
    file deleted + survivors re-inserted, exactly the remove⋈add
    stream the mirror itself consumes — C1/C3).  ``dataChange:
    false`` layout churn (OPTIMIZE / ZORDER / REORG) produces no
    change rows (O2).

    Merge-on-read commits (round 10) synthesize from the bitmaps: a DV
    REWRITE (remove(P)+add(P,DV') — the delete_dv/update_dv/merge_dv
    shape) contributes the bitmap DELTA (rows in new∖old as deletes;
    rows in old∖new, a RESTORE shrinking the vector, as resurrecting
    inserts), a file BORN with a DV contributes its survivors as
    inserts, and a remove of a DV'd file retracts only its LIVE rows.
    Compressed payloads stay driver-side metadata; expansion to row
    indices happens executor-side.  The mlk_delta streaming source's
    readChangeFeed mode implements the SAME semantics (stream ≡ batch,
    pinned in test_r10_dv_stream).

    Output = data columns (partition values injected, A7) plus
    ``_change_type`` and ``_commit_version``.  Every plain inserted or
    removed file and every cdc file of the span is read in ONE
    :func:`scan_with_file_frame` call, the commit version, change kind
    and partition values riding its per-file frame as data; the
    merge-on-read entries add one call per commit and entry kind.
    Classification is O(commits) driver metadata; file reads stay
    distributed and parallel.  Raises
    if the span predates the retained log or a removed file was
    vacuumed — silent under-reporting is the one failure mode an
    incremental consumer cannot detect."""
    snap = snapshot(table_path, to_version)
    snap.check_protocol()
    versions = snap.commits
    span = [
        v
        for v in versions
        if v >= from_version and (to_version is None or v <= to_version)
    ]
    if not versions or (versions and from_version < versions[0]):
        raise ValueError(
            f"change feed from {from_version} predates the retained log "
            f"(first commit: {versions[0] if versions else 'none'}); "
            "read a snapshot instead"
        )
    # An EXPLICIT span must be fully covered by committed versions —
    # asking for [from, to] when `to` doesn't exist yet would silently
    # return fewer change rows, the same undetectable under-reporting
    # the predate check exists for.  (to_version=None means "up to
    # head": an empty poll past head is a valid incremental read — the
    # consumer missed nothing because nothing was committed.)
    head = versions[-1]
    if to_version is not None:
        if to_version > head:
            raise ValueError(
                f"change feed to {to_version} is beyond the latest "
                f"commit ({head}); the span is not fully committed yet"
            )
        if from_version > to_version:
            raise ValueError(
                f"empty change span: from {from_version} > to {to_version}"
            )
    meta = snap.metadata
    if meta is None:
        raise ValueError(f"no table metadata at {table_path}")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    from . import dv as _dv

    # per-file change data, read from the file dicts by
    # scan_with_file_frame: the commit, and the change kind of a
    # synthesized file (None for a cdc file, whose _change_type column
    # lives IN the file)
    change = StructType(
        [
            StructField("_commit_version", LongType()),
            StructField("__mlk_change", StringType()),
        ]
    )
    #: plain inserted/removed data files and cdc files: ONE scan
    plain: list[dict] = []
    #: merge-on-read entries, per commit (dv.deleted_rows pairs are
    #: keyed by (file, row index), which repeats across commits):
    #: v -> (one-sided masks, DV rewrites)
    mor: dict[int, tuple[list[dict], list[dict]]] = {}
    _dv_blob_cache: dict = {}  # span-wide: consecutive delete_dv
    # commits share .bin blobs (old side == previous new side)
    proto = snap.protocol
    dv_possible = "deletionVectors" in (
        (proto or {}).get("readerFeatures") or []
    )

    def present(rel: str, v: int, what: str) -> None:
        if not _fs.get_fs(table_path).exists(_fs.join(table_path, rel)):
            raise ValueError(
                f"{what} {rel} (commit {v}) was vacuumed; the change "
                "feed for this span is gone"
            )

    for v in span:
        acts = _read_commit(table_path, v)
        cdc_acts = [a["cdc"] for a in acts if a.get("cdc") is not None]
        if cdc_acts:
            # PROTOCOL.md: when a commit carries cdc actions, readers
            # use them EXCLUSIVELY — the add/remove churn of the same
            # commit (CoW rewrite survivors, DV re-adds) is layout,
            # not change
            for a in cdc_acts:
                present(a["path"], v, "change file")
                plain.append({**a, "_commit_version": v})
            continue
        for e in classify_mor_commit(
            table_path, acts, v, dv_possible, _dv_blob_cache
        ):
            kind = e["kind"]
            if kind in ("delete", "delete_apply"):
                present(e["path"], v, "removed file")
            f = {
                "path": e["path"],
                "partitionValues": e["pv"],
                "_commit_version": v,
                "__mlk_change": kind.split("_")[0],
            }
            if kind in ("insert", "delete"):
                plain.append(f)
            elif kind == "delta":
                mor.setdefault(v, ([], []))[1].append({**f, **e})
            else:  # insert_apply / delete_apply: survivors only
                mor.setdefault(v, ([], []))[0].append(
                    {**f, "deletionVector": e["payload"]}
                )

    def logical(df: DataFrame, change_type) -> DataFrame:
        return df.select(
            *schema.names, change_type.alias("_change_type"), "_commit_version"
        )

    parts: list[DataFrame] = []
    if plain:
        df = scan_with_file_frame(
            spark,
            table_path,
            meta,
            plain,
            change,
            file_cols=[StructField("_change_type", StringType())],
        )
        parts.append(logical(df, F.coalesce("_change_type", "__mlk_change")))
    for applies, deltas in mor.values():
        if applies:
            # one-sided mask: survivors only (fresh DV-born file's
            # inserts, or the live rows of a fully-removed DV'd file
            # as deletes)
            df = scan_with_file_frame(
                spark, table_path, meta, applies, change, apply_dvs=True
            )
            parts.append(logical(df, F.col("__mlk_change")))
        if deltas:
            # the bitmap delta: inner join keeps exactly the changed
            # rows, _change_type rides the pair (delete for new∖old,
            # insert for the old∖new of a shrinking vector)
            pairs = _dv.deleted_rows(
                spark,
                table_path,
                [
                    (
                        _fs.data_path_spelling(table_path, e["path"]),
                        e["new_payload"],
                        e["old_payload"],
                    )
                    for e in deltas
                ],
                "__mlk_file",
                "__mlk_ridx",
                "_change_type",
            )
            df = scan_with_file_frame(
                spark, table_path, meta, deltas, change, identity=True
            ).join(pairs, ["__mlk_file", "__mlk_ridx"])
            parts.append(logical(df, F.col("_change_type")))
    if not parts:
        empty = StructType(
            schema.fields
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )
        return spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _prune_partitions(
    spark: SparkSession,
    files: list[dict[str, Any]],
    meta: dict[str, Any],
    predicate: str,
) -> list[dict[str, Any]]:
    """Keep only the files whose partition tuple satisfies ``predicate``
    (evaluated typed, one row per distinct tuple — never touches data)."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    if not part_cols:
        return files
    type_of = {f.name: f.dataType for f in schema.fields}
    tuples = sorted(
        {
            tuple((f["partitionValues"] or {}).get(c) for c in part_cols)
            for f in files
        },
        # null partition values (hive default partition) sort last —
        # a bare sorted() raises on None vs str
        key=lambda t: tuple((v is None, v or "") for v in t),
    )
    # raw strings ride along untyped so the kept-set keys match the
    # add-action partitionValues exactly (no cast-then-format drift)
    raw_cols = [f"_raw_{i}" for i in range(len(part_cols))]
    df = local_frame(
        spark,
        [list(t) * 2 for t in tuples],
        ", ".join(f"{c} string" for c in [*part_cols, *raw_cols]),
    )
    for c in part_cols:
        df = df.withColumn(c, F.col(c).cast(type_of.get(c, StringType())))
    kept = {
        tuple(r[rc] for rc in raw_cols) for r in df.filter(predicate).collect()
    }
    return [
        f
        for f in files
        if tuple((f["partitionValues"] or {}).get(c) for c in part_cols) in kept
    ]


#: the directory name Spark's partitioned writer gives a null value
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
#: characters Spark writes as ``%XX`` in a partition directory name
#: (``ExternalCatalogUtils.escapePathName``)
_PATH_ESCAPES = frozenset(
    '"#%\'*/:=?\\\x7f{[]^' + "".join(map(chr, range(1, 32)))
)


def _escape_path_name(v: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in v)


def partition_subdir(part_values: dict[str, str | None]) -> str:
    """Hive-style ``k=v/..`` relative dir for a partition tuple, spelled
    as Spark's partitioned writer spells it (the inverse of
    :func:`partition_dir_segment`)."""
    return "/".join(
        f"{_escape_path_name(k)}="
        + (HIVE_NULL if v is None else _escape_path_name(str(v)))
        for k, v in sorted(part_values.items())
    )


def partition_dir_segment(seg: str) -> tuple[str, str | None]:
    """(column, value) of one hive ``k=v`` directory segment as the
    log must record it: Spark's ``%XX`` escapes undone and the hive
    default partition read as null."""
    import urllib.parse as _up

    k, _, v = seg.partition("=")
    return _up.unquote(k), None if v == HIVE_NULL else _up.unquote(v)


def latest_domain_metadata(
    table_path: str, upto: int | None = None
) -> dict[str, str]:
    """Live domain metadata at ``upto``: domain -> configuration JSON
    (PROTOCOL.md "Domain Metadata" reconciliation: per domain keep the
    newest action; a ``removed: true`` tombstone drops it)."""
    return snapshot(table_path, upto).domains


def reconciled_action_rows(
    spark: SparkSession, table_path: str, upto: int | None = None
) -> list[dict]:
    """Checkpoint content: active adds + latest metaData + protocol,
    in the standard checkpoint column layout, as driver-side row
    dicts.  ``upto`` pins the log replay to that version — a
    checkpoint file named v must embed exactly the state at v even if
    a concurrent writer lands v+1 mid-write (else upto=v time-travel
    reads are corrupted).  Driver-side on purpose: the snapshot state
    already lives on the driver (snapshot_files), so the checkpoint
    writer serializes it straight to parquet with pyarrow instead of
    round-tripping every row through a Spark job (measured ~300x
    faster on small logs; at 10M files the pyarrow path is a single
    sequential columnar encode, still cheaper than pickling rows into
    a Python-RDD-backed plan)."""
    snap = snapshot(table_path, upto)
    files = snap.files(spark)
    blank = {
        "metaData": None,
        "add": None,
        "remove": None,
        "protocol": None,
        "txn": None,
        "domainMetadata": None,
    }
    acts: list[dict] = [{**blank, "metaData": snap.metadata}]
    # carry the table's ACTUAL protocol: hardcoding the basic one would
    # silently downgrade a DV/feature table once the JSON history is
    # truncated past the checkpoint
    acts.append(
        {
            **blank,
            "protocol": snap.protocol
            or {"minReaderVersion": 1, "minWriterVersion": 2},
        }
    )
    # carry forward the newest txn version per appId (Delta checkpoints
    # retain txn actions so idempotent-writer recovery survives log
    # truncation)
    for app_id, version in sorted(snap.txns.items()):
        acts.append(
            {**blank, "txn": {"appId": app_id, "version": version, "lastUpdated": 0}}
        )
    # live domain metadata survives checkpointing (PROTOCOL.md: a
    # checkpoint that drops it loses the row-id high-water mark once
    # the JSON history is truncated)
    for domain, conf in snap.domains.items():
        acts.append(
            {
                **blank,
                "domainMetadata": {
                    "domain": domain,
                    "configuration": conf,
                    "removed": False,
                },
            }
        )
    for f in files:
        acts.append(
            {
                **blank,
                "add": {
                    "path": f["path"],
                    "partitionValues": f["partitionValues"] or {},
                    "size": f["size"],
                    "modificationTime": 0,
                    "dataChange": False,
                    # preserve full stats (min/max skipping survives
                    # checkpointing); legacy dicts fall back to count-only
                    "stats": f.get("stats")
                    or (
                        json.dumps({"numRecords": f["numRecords"]})
                        if f["numRecords"] is not None
                        else None
                    ),
                    # a DV'd add MUST checkpoint with its vector: a
                    # checkpoint that drops it resurrects the deleted
                    # rows once the JSON history is truncated
                    "deletionVector": _conform(
                        f.get("deletionVector"), DV_SCHEMA
                    ),
                    # row tracking: base ids must survive checkpointing
                    # or every row id silently changes after truncation
                    "baseRowId": f.get("baseRowId"),
                    "defaultRowCommitVersion": f.get(
                        "defaultRowCommitVersion"
                    ),
                    # clustered-provenance tags survive too, or the
                    # next incremental OPTIMIZE re-clusters everything
                    "tags": f.get("tags"),
                },
            }
        )
    return acts


def latest_protocol(
    table_path: str, upto: int | None = None
) -> dict | None:
    """Latest protocol action at-or-before ``upto`` (driver-side, the
    first hit of the newest-first replay) — None if none recorded."""
    return snapshot(table_path, upto).protocol


def last_txn_version(spark: SparkSession, table_path: str, app_id: str) -> int | None:
    """Newest committed ``txn`` version for an idempotent writer —
    exactly-once recovery reads this instead of trusting its own state
    (I3; the Delta analogue of the reference's restart re-detection,
    DeltaTableOrchestration.cs:76-81).  Driver-side: the newest-first
    replay (commits, then the checkpoint's carried-forward txn
    actions)."""
    return snapshot(table_path).txns.get(app_id)
