"""One log segment, one replay.

Every table-state question (snapshot files, metaData, protocol, txn,
domain metadata, prior deletion vectors) is answered from the same
``delta_log.log_segment``: a checkpoint plus the contiguous commits
after it.  These tests pin what that buys:

- a schema change appended after ``vacuum()`` is recorded (the sink's
  previous-schema lookup reads the checkpoint too);
- a version the truncated log can no longer rebuild raises instead of
  answering from a partial log (empty snapshot, missing metaData, a
  RESTORE that empties the table);
- an older checkpoint still rebuilds a version below the newest one;
- every version of a table that went through every action kind
  replays identically on the driver and in Spark, and matches the
  rows captured when that version was committed;
- a state lookup reads at most the commits since the last checkpoint.
"""

import json
import os

import pytest

from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _vacuumed_12(spark, tmp_path):
    """12 appends (checkpoint at v9), then vacuum: JSON v10-v11 only."""
    path = str(tmp_path / "t12")
    sink = DeltaSink(spark, path)
    for i in range(12):
        sink.append(spark.createDataFrame([(i,)], "id int"))
    sink.vacuum()
    names = os.listdir(os.path.join(path, "_delta_log"))
    assert sorted(n for n in names if n.endswith(".json")) == [
        f"{v:020d}.json" for v in (10, 11)
    ]
    return sink


def test_schema_change_after_vacuum_is_recorded(spark, tmp_path):
    path = str(tmp_path / "evolve")
    sink = DeltaSink(spark, path)
    for i in range(10):  # v0..v9, checkpoint at v9
        sink.append(spark.createDataFrame([(i,)], "id int"))
    sink.vacuum()  # no commit JSON survives
    sink.append(spark.createDataFrame([(10, "x")], "id int, extra string"))
    assert DL.read_snapshot(spark, path).columns == ["id", "extra"]
    meta = DL.latest_metadata(spark, path)
    assert [f["name"] for f in json.loads(meta["schemaString"])["fields"]] == [
        "id",
        "extra",
    ]
    assert DL.read_snapshot(spark, path).count() == 11


def test_truncated_history_reads_raise(spark, tmp_path):
    sink = _vacuumed_12(spark, tmp_path)
    with pytest.raises(ValueError, match="earliest readable version is 9"):
        DL.read_snapshot(spark, sink.path, upto=5)
    with pytest.raises(ValueError, match="cannot be rebuilt"):
        DL.latest_metadata(spark, sink.path, upto=5)
    # the versions the checkpoint and the tail still cover read fine
    assert DL.read_snapshot(spark, sink.path, upto=9).count() == 10
    assert DL.read_snapshot(spark, sink.path).count() == 12


def test_restore_past_truncated_log_raises_and_commits_nothing(spark, tmp_path):
    sink = _vacuumed_12(spark, tmp_path)
    with pytest.raises(ValueError, match="cannot be rebuilt"):
        sink.restore(5)
    assert DL.list_commit_versions(sink.path)[-1] == 11
    assert DL.read_snapshot(spark, sink.path).count() == 12


def test_older_checkpoint_rebuilds_version_below_newest(spark, tmp_path):
    path = str(tmp_path / "older")
    sink = DeltaSink(spark, path, checkpoint_interval=2)
    for i in range(4):  # checkpoints at v1 and v3
        sink.append(spark.createDataFrame([(i,)], "id int"))
    assert DL.list_checkpoint_versions(path) == [1, 3]
    for v in (0, 1):
        os.unlink(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    assert _rows(DL.read_snapshot(spark, path, upto=2)) == [(0,), (1,), (2,)]
    seg = DL.log_segment(path, 2)
    assert (seg.checkpoint, seg.commits) == (1, [2])


def test_incomplete_multipart_checkpoint_is_not_used(spark, tmp_path):
    path = str(tmp_path / "parts")
    sink = DeltaSink(spark, path, checkpoint_interval=2, checkpoint_parts=2)
    for i in range(4):  # multi-part checkpoints at v1 and v3
        sink.append(spark.createDataFrame([(i,)], "id int"))
    assert DL.list_checkpoint_versions(path) == [1, 3]
    log = os.path.join(path, "_delta_log")
    os.unlink(os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))
    assert DL.list_checkpoint_versions(path) == [3]
    # v2 replays from v0, not from the half-listed checkpoint at v1
    assert _rows(DL.read_snapshot(spark, path, upto=2)) == [(0,), (1,), (2,)]
    assert DL.log_segment(path, 2) == (2, None, [0, 1, 2])


def _comparable(files):
    return sorted(
        (
            f["path"],
            tuple(sorted((f["partitionValues"] or {}).items())),
            f["size"],
            f["numRecords"],
            f["stats"],
            json.dumps(DL._conform(f["deletionVector"], DL.DV_SCHEMA), sort_keys=True),
            f["baseRowId"],
            f["defaultRowCommitVersion"],
        )
        for f in files
    )


def test_every_version_replays_the_same(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "every")
    sink = DeltaSink(spark, path, checkpoint_interval=2)
    captured: dict[int, list] = {}
    steps = [
        lambda: sink.append(spark.range(10).selectExpr("cast(id as int) id")),
        lambda: sink.delete("id = 1"),
        lambda: sink.delete_dv("id = 2"),
        lambda: sink.append(
            spark.createDataFrame([(10,)], "id int"), txn=("app", 7)
        ),
        lambda: sink.append(
            spark.createDataFrame([(11, "x")], "id int, extra string")
        ),
        lambda: sink.set_cluster_by(["id"]),
    ]
    for step in steps:
        step()
        head = DL.list_commit_versions(path)[-1]
        captured[head] = _rows(DL.read_snapshot(spark, path))
    head = max(captured)
    assert sorted(captured) == list(range(head + 1))  # one commit per step
    assert DL.list_checkpoint_versions(path) == [1, 3, 5]
    for v in range(head + 1):
        assert _rows(DL.read_snapshot(spark, path, upto=v)) == captured[v], v
    driver = {v: DL.snapshot_files(spark, path, upto=v) for v in range(head + 1)}
    monkeypatch.setattr(DL, "_DRIVER_JSON_BYTES", 0)
    for v in range(head + 1):
        assert _comparable(DL.snapshot_files(spark, path, upto=v)) == _comparable(
            driver[v]
        ), v
    monkeypatch.undo()
    assert DL.last_txn_version(spark, path, "app") == 7
    assert "delta.clustering" in DL.latest_domain_metadata(path)
    assert DL.latest_domain_metadata(path, upto=head - 1) == {}


def test_state_lookups_read_only_the_commit_tail(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "sixty")
    sink = DeltaSink(spark, path, checkpoint_interval=10)
    sink.append(spark.createDataFrame([(0,)], "id int"), txn=("app", 0))
    for i in range(1, 60):
        sink.append(spark.createDataFrame([(i,)], "id int"))
    reads: list[int] = []
    real = DL._read_commit

    def counting(table_path, version, *kinds):
        reads.append(version)
        return real(table_path, version, *kinds)

    monkeypatch.setattr(DL, "_read_commit", counting)
    for lookup in (
        lambda: DL.latest_metadata(spark, path),
        lambda: DL.latest_metadata(spark, path, upto=55),
        lambda: DL.last_txn_version(spark, path, "app"),
    ):
        reads.clear()
        assert lookup() is not None
        assert len(reads) <= 10, reads
    assert DL.last_txn_version(spark, path, "app") == 0
