"""Round-9 coordinated-commits TAIL READ through a pluggable
coordinator client.

Round 8 served the backfilled prefix and refused a visibly-unpublished
staged tail.  Round 9 adds the seam: a table whose metaData names a
commit coordinator (``delta.coordinatedCommits.commitCoordinator``)
that this process has a REGISTERED client for gets its ratified
staged commits spliced into the readable log
(delta_log.list_commit_versions / _commit_file); unknown coordinators
keep the round-8 fail-closed staleness error.
"""

import json as _json
import os as _os
import shutil as _shutil
import uuid as _uuid

import pytest

from mirror_lake_kusto_spark.sources import coordinator as COORD
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _coordinated_with_tail(spark, tmp_path, name, coord_name):
    """A real table: v0/v1 data, v2 declares the catalog feature + the
    coordinator name, v3 is a REAL data commit staged (unbackfilled)
    in _delta_log/_commits.  Returns (table_path, staged_rel_path)."""
    path = str(tmp_path / name)
    sink = DeltaSink(spark, path)
    sink.append(spark.range(5).toDF("id"))        # v0
    sink.append(spark.range(5, 8).toDF("id"))     # v1
    meta = DL.latest_metadata(spark, path)
    conf = dict(meta.get("configuration") or {})
    conf["delta.coordinatedCommits.commitCoordinator-preview"] = coord_name
    log = _os.path.join(path, "_delta_log")
    with open(_os.path.join(log, "%020d.json" % 2), "w") as f:  # v2
        f.write(
            _json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["catalogManaged"],
                        "writerFeatures": ["catalogManaged"],
                    }
                }
            )
            + "\n"
            + _json.dumps({"metaData": {**meta, "configuration": conf}})
            + "\n"
        )
    # author the staged v3 data commit from an auxiliary table: copy
    # its parquet file in, re-point the add action at it
    aux = DeltaSink(spark, str(tmp_path / f"{name}_aux"))
    aux.append(spark.range(8, 12).toDF("id").coalesce(1))
    aux_add = next(
        a["add"] for a in DL._read_commit(aux.path, 0) if "add" in a
    )
    _shutil.copy(
        _os.path.join(aux.path, aux_add["path"]),
        _os.path.join(path, aux_add["path"]),
    )
    staged_dir = _os.path.join(log, "_commits")
    _os.makedirs(staged_dir, exist_ok=True)
    staged_name = "%020d.%s.json" % (3, _uuid.uuid4())
    with open(_os.path.join(staged_dir, staged_name), "w") as f:
        f.write(_json.dumps({"add": aux_add}) + "\n")
    return path, f"_commits/{staged_name}"


def test_filesystem_coordinator_serves_ratified_tail(spark, tmp_path):
    path, _rel = _coordinated_with_tail(spark, tmp_path, "cft", "filesystem")
    assert sorted(
        r.id for r in DL.read_snapshot(spark, path).collect()
    ) == list(range(12))
    assert DL.list_commit_versions(path) == [0, 1, 2, 3]


def test_unknown_coordinator_still_refuses(spark, tmp_path):
    path, _rel = _coordinated_with_tail(
        spark, tmp_path, "cun", "some-proprietary-catalog"
    )
    with pytest.raises(DL.UnsupportedTableFeature) as ei:
        DL.snapshot_files(spark, path)
    assert "staged by the commit coordinator" in str(ei.value)
    assert "[3]" in str(ei.value)


def test_filesystem_coordinator_refuses_ambiguous_candidates(spark, tmp_path):
    path, _rel = _coordinated_with_tail(spark, tmp_path, "camb", "filesystem")
    # a race loser's abandoned attempt for the same version
    with open(
        _os.path.join(
            path, "_delta_log", "_commits", "%020d.%s.json" % (3, _uuid.uuid4())
        ),
        "w",
    ) as f:
        f.write("{}\n")
    with pytest.raises(ValueError, match="staged candidates"):
        DL.read_snapshot(spark, path).collect()


def test_tracking_coordinator_serves_only_ratified(spark, tmp_path):
    path, rel = _coordinated_with_tail(spark, tmp_path, "ctrk", "tracker")
    # an unratified race loser alongside the real commit
    with open(
        _os.path.join(
            path, "_delta_log", "_commits", "%020d.%s.json" % (3, _uuid.uuid4())
        ),
        "w",
    ) as f:
        f.write("{}\n")
    tracker = COORD.TrackingCommitCoordinator()
    COORD.register_commit_coordinator("tracker", tracker)
    try:
        tracker.ratify(path, 3, rel)
        assert sorted(
            r.id for r in DL.read_snapshot(spark, path).collect()
        ) == list(range(12))
    finally:
        COORD.unregister_commit_coordinator("tracker")


def test_noncontiguous_ratified_tail_refuses(spark, tmp_path):
    path, rel = _coordinated_with_tail(spark, tmp_path, "chole", "tracker2")
    tracker = COORD.TrackingCommitCoordinator()
    COORD.register_commit_coordinator("tracker2", tracker)
    try:
        tracker.ratify(path, 4, rel)  # hole: v3 missing
        with pytest.raises(DL.UnsupportedTableFeature, match="not contiguous"):
            DL.read_snapshot(spark, path).collect()
    finally:
        COORD.unregister_commit_coordinator("tracker2")


def test_mirror_pipeline_follows_coordinated_tail(spark, tmp_path):
    """The mirror ingests THROUGH the staged tail: discovery, staging
    and the high-water mark all see v3."""
    from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline

    path, _rel = _coordinated_with_tail(spark, tmp_path, "cmir", "filesystem")
    pipe = MirrorPipeline(
        spark,
        path,
        str(tmp_path / "dst"),
        str(tmp_path / "state"),
        table_name="cmir",
    )
    pipe.run_until_idle()
    assert sorted(r.id for r in pipe.mirror_df().collect()) == list(range(12))
    assert pipe.state.high_water("cmir") == 3


def test_backfill_after_tail_read_is_stable(spark, tmp_path):
    """Backfilling the staged commit (plain <v>.json appears) must not
    change the snapshot or double-serve the version."""
    path, rel = _coordinated_with_tail(spark, tmp_path, "cbf", "filesystem")
    before = sorted(r.id for r in DL.read_snapshot(spark, path).collect())
    log = _os.path.join(path, "_delta_log")
    _shutil.copy(
        _os.path.join(log, rel), _os.path.join(log, "%020d.json" % 3)
    )
    after = sorted(r.id for r in DL.read_snapshot(spark, path).collect())
    assert before == after == list(range(12))
    assert DL.list_commit_versions(path) == [0, 1, 2, 3]


def test_vacuumed_coordinated_table_tail_after_checkpoint(spark, tmp_path):
    """A coordinated table whose plain JSON prefix was vacuumed below
    a checkpoint: the published head is the CHECKPOINT, and the
    ratified staged tail splices after it (head=-1 from the empty
    JSON listing must not demand a tail starting at version 0)."""
    path, rel = _coordinated_with_tail(spark, tmp_path, "cvac", "filesystem")
    # checkpoint at the backfilled head (v2), drop all plain JSONs
    sink = DeltaSink(spark, path)
    sink._write_checkpoint(2)
    for v in (0, 1, 2):
        _os.remove(_os.path.join(path, "_delta_log", "%020d.json" % v))
    assert DL.list_commit_versions(path) == [3]
    assert sorted(
        r.id for r in DL.read_snapshot(spark, path).collect()
    ) == list(range(12))


def test_stream_reads_ratified_tail(spark, tmp_path):
    """The mlk_delta stream lists and reads commits through the batch
    log reader, so it sees the same ratified staged tail: the stream
    yields exactly the rows ``read_snapshot`` does."""
    from mirror_lake_kusto_spark.streaming.delta_source import (
        DeltaLogDataSource,
    )

    path, _rel = _coordinated_with_tail(spark, tmp_path, "cstr", "filesystem")
    spark.dataSource.register(DeltaLogDataSource)
    rows: list = []
    q = (
        spark.readStream.format("mlk_delta")
        .option("path", path)
        .load()
        .writeStream.foreachBatch(lambda bdf, _bid: rows.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "cstr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = sorted(r.id for r in DL.read_snapshot(spark, path).collect())
    assert batch == list(range(12))
    assert sorted(r.id for r in rows) == batch
