"""One snapshot per operation, and commits checked from the version read.

Each public ``DeltaSink`` operation reads ONE ``delta_log.Snapshot`` of
its table and derives every table-level behavior from it; its commit
is checked against every commit made since that version.  These tests
pin what that buys:

- a second writer's property change reaches this writer's next append
  (row tracking, in-commit timestamps): nothing is remembered across
  operations;
- a row-level DML whose table changed between its read and its commit
  raises ``ConcurrentCommitConflict`` instead of landing at the next
  version and undoing the other writer's change — on a plain table and
  on a coordinated table whose winning commit is still staged;
- one ``read_snapshot``, one warm append and one stream
  ``latestOffset`` each list ``_delta_log`` once.
"""

import pytest

from mirror_lake_kusto_spark.sources import coordinator as COORD
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import (
    ConcurrentCommitConflict,
    DeltaSink,
)

_ROWS = [(i, i * 10) for i in range(10)]


def _table(spark, path, **kw):
    """One file of ten rows ``(id, v)``."""
    sink = DeltaSink(spark, path, checkpoint_interval=10**6, **kw)
    sink.append(spark.createDataFrame(_ROWS, "id long, v long").coalesce(1))
    return sink


def _rows(spark, path):
    return sorted(tuple(r) for r in DL.read_snapshot(spark, path).collect())


# -- nothing outlives an operation ------------------------------------------


def test_row_tracking_enabled_by_another_writer_reaches_next_append(
    spark, tmp_path
):
    path = str(tmp_path / "rt")
    a = _table(spark, path)
    a.append(spark.createDataFrame([(10, 100)], "id long, v long"))
    DeltaSink(spark, path).set_properties({"delta.enableRowTracking": "true"})
    a.append(spark.createDataFrame([(11, 110)], "id long, v long"))
    files = DL.snapshot_files(spark, path)
    assert all(f["baseRowId"] is not None for f in files)
    rows = DL.read_snapshot(spark, path, row_ids=True).collect()
    ids = [r["_row_id"] for r in rows]
    assert len(rows) == 12 and None not in ids and len(set(ids)) == 12


def test_ict_enabled_by_another_writer_reaches_next_append(spark, tmp_path):
    path = str(tmp_path / "ict")
    a = _table(spark, path)
    a.append(spark.createDataFrame([(10, 100)], "id long, v long"))
    DeltaSink(spark, path).set_properties(
        {"delta.enableInCommitTimestamps": "true"}
    )
    conf = DL.latest_metadata(spark, path)["configuration"]
    enabled_at = int(conf["delta.inCommitTimestampEnablementVersion"])
    info = DL._commit_info_of(path, enabled_at)
    assert conf["delta.inCommitTimestampEnablementTimestamp"] == str(
        info["inCommitTimestamp"]
    )
    v = a.append(spark.createDataFrame([(11, 110)], "id long, v long"))
    assert "inCommitTimestamp" in DL._commit_info_of(path, v)


# -- commits checked from the version read ----------------------------------


def _verbs(spark):
    def merge(sink, i):
        src = spark.createDataFrame([(i, i * 1000)], "id long, v long")
        return sink.merge(src, ["id"])

    return {
        "delete": lambda sink, i: sink.delete(f"id = {i}"),
        "update": lambda sink, i: sink.update(f"id = {i}", {"v": str(i * 1000)}),
        "delete_dv": lambda sink, i: sink.delete_dv(f"id = {i}"),
        "merge": merge,
    }


def _expected(verb, i):
    if verb in ("delete", "delete_dv"):
        return sorted(r for r in _ROWS if r[0] != i)
    return sorted((k, i * 1000 if k == i else v) for k, v in _ROWS)


@pytest.mark.parametrize("verb", ["delete", "update", "delete_dv", "merge"])
def test_dml_raced_between_read_and_commit_raises(spark, tmp_path, verb):
    """B changes the same file after A read the table and before A
    commits: A's first attempt would land at the next version, so only
    a check from A's read version stops it undoing B's change."""
    path = str(tmp_path / verb)
    a = _table(spark, path)
    b = DeltaSink(spark, path, checkpoint_interval=10**6)
    run = _verbs(spark)[verb]
    commit = a._commit

    def raced(*args, **kwargs):
        a._commit = commit
        run(b, 2)
        return commit(*args, **kwargs)

    a._commit = raced
    with pytest.raises(ConcurrentCommitConflict):
        run(a, 1)
    assert _rows(spark, path) == _expected(verb, 2)


@pytest.fixture
def tracker():
    t = COORD.TrackingCommitCoordinator()
    COORD.register_commit_coordinator("snapiso", t)
    yield t
    COORD.unregister_commit_coordinator("snapiso")


def test_coordinated_delete_losing_to_overlapping_delete_raises(
    spark, tmp_path, tracker
):
    """The winner's commit is ratified but still staged (no plain
    ``<v>.json``): the loser must read it through the coordinator and
    find the overlap."""
    path = str(tmp_path / "coord")
    a = _table(spark, path, coordinated_commits="snapiso")
    a.append(spark.createDataFrame([(10, 100)], "id long, v long"))  # staged
    b = DeltaSink(
        spark, path, checkpoint_interval=10**6, coordinated_commits="snapiso"
    )
    create = a.coordinator.create_commit

    def lose(fs, target, data):
        a.coordinator.create_commit = create
        b.delete("id = 2")
        return create(fs, target, data)

    a.coordinator.create_commit = lose
    with pytest.raises(ConcurrentCommitConflict):
        a.delete("id = 1")
    assert _rows(spark, path) == sorted(
        [r for r in _ROWS if r[0] != 2] + [(10, 100)]
    )


# -- one listing per read ---------------------------------------------------


def _count_listings(monkeypatch):
    calls = {"list": 0, "ckpt": 0}
    listing, pointer = DL.list_commit_versions, DL.read_last_checkpoint

    def counted_listing(table_path):
        calls["list"] += 1
        return listing(table_path)

    def counted_pointer(table_path):
        calls["ckpt"] += 1
        return pointer(table_path)

    monkeypatch.setattr(DL, "list_commit_versions", counted_listing)
    monkeypatch.setattr(DL, "read_last_checkpoint", counted_pointer)
    return calls


def test_read_snapshot_lists_the_log_once(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "read")
    _table(spark, path)
    calls = _count_listings(monkeypatch)
    DL.read_snapshot(spark, path)
    assert calls == {"list": 1, "ckpt": 1}


def test_warm_append_reads_its_table_state_once(spark, tmp_path, monkeypatch):
    """One snapshot: the commit tries the version after the one read."""
    path = str(tmp_path / "append")
    sink = _table(spark, path)
    calls = _count_listings(monkeypatch)
    sink.append(spark.createDataFrame([(10, 100)], "id long, v long"))
    assert calls == {"list": 1, "ckpt": 1}


def test_stream_latest_offset_lists_the_log_once(spark, tmp_path, monkeypatch):
    from mirror_lake_kusto_spark.streaming.delta_source import (
        DeltaLogStreamReader,
    )

    path = str(tmp_path / "stream")
    sink = _table(spark, path)
    sink.append(spark.createDataFrame([(10, 100)], "id long, v long"))
    reader = DeltaLogStreamReader(
        path, spark.range(1).schema, False, max_commits_per_trigger=1
    )
    reader.initialOffset()
    calls = _count_listings(monkeypatch)
    assert reader.latestOffset() == {"version": 0}
    assert calls["list"] == 1
