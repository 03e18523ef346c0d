"""Delta-backed state store: the SURVEY §7.4 scale path — state rows in
a Delta table, LWW view computed by Spark, driver holds at most one
batch of items.  Replays the core mirror scenarios, pins the store's
steering reads against hand-computed values, and migrates a legacy
CSV state dir."""

from __future__ import annotations

import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _mk(spark, tmp_path, name, **kw):
    return MirrorPipeline(
        spark,
        str(tmp_path / f"{name}_src"),
        str(tmp_path / f"{name}_dst"),
        str(tmp_path / f"{name}_state"),
        table_name=name,
        **kw,
    )


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_delta_state_basic_sync_and_idempotence(spark, tmp_path):
    p = _mk(spark, tmp_path, "ds_basic")
    src = DeltaSink(spark, p.source)
    src.append(spark.range(20).toDF("id"))
    assert p.run_once()["status"] == "processed"
    assert _ids(p.mirror_df()) == list(range(20))
    assert p.run_once()["status"] == "up-to-date"
    src.append(spark.range(20, 30).toDF("id"))
    p.run_until_idle()
    assert _ids(p.mirror_df()) == list(range(30))


def test_delta_state_delete_and_optimize(spark, tmp_path):
    p = _mk(spark, tmp_path, "ds_del")
    src = DeltaSink(spark, p.source)
    for i in range(4):
        src.append(spark.range(i * 10, (i + 1) * 10).toDF("id"))
    p.run_until_idle()
    src.delete("id % 7 = 0")
    src.optimize()
    p.run_until_idle()
    assert _ids(p.mirror_df()) == [i for i in range(40) if i % 7 != 0]


def test_delta_state_vacuumed_source_snapshot_diff(spark, tmp_path):
    """The snapshot-diff path runs entirely on DataFrames with this
    backend (processed/removed state never collects)."""
    p = _mk(spark, tmp_path, "ds_vac", max_items_per_batch=5)
    src = DeltaSink(spark, p.source, checkpoint_interval=10)
    for i in range(12):
        src.append(spark.createDataFrame([(i,)], "id long"))
    src.vacuum()
    results = p.run_until_idle()
    assert len(results) >= 3  # 12 files / cap 5 -> chunked
    assert _ids(p.mirror_df()) == list(range(12))
    assert p.run_once()["status"] == "up-to-date"


def test_delta_state_crash_recovery(spark, tmp_path):
    """Crash between sink commit and state persist; the delta-backed
    incomplete_batch drives resume without double ingest."""
    p = _mk(spark, tmp_path, "ds_crash")
    DeltaSink(spark, p.source).append(spark.range(50).toDF("id"))
    orig = MirrorPipeline._stamp_and_persist
    try:
        def crash(self, items):
            raise RuntimeError("boom")

        MirrorPipeline._stamp_and_persist = crash
        with pytest.raises(RuntimeError):
            p.run_once()
    finally:
        MirrorPipeline._stamp_and_persist = orig
    p2 = _mk(spark, tmp_path, "ds_crash")
    r = p2.run_once()
    assert r["status"] == "processed" and r["resumed"]
    assert _ids(p2.mirror_df()) == list(range(50))
    assert p2.run_once()["status"] == "up-to-date"


def test_delta_state_store_semantics(spark, tmp_path):
    """An item stream of two batches, the second still open: the LWW
    view, high-water mark and incomplete-batch steering are exactly the
    hand-computed ones, before and after compaction."""
    from mirror_lake_kusto_spark.pipeline.delta_state import DeltaStateStore

    dlt = DeltaStateStore(spark, str(tmp_path / "dlt_state"))

    def item(start, end, action, state, path=None):
        return {
            "table_name": "t", "start_tx_id": start, "end_tx_id": end,
            "action": action, "state": state, "mirror_timestamp": "x",
            "delta_timestamp": None, "blob_path": path,
            "partition_values": None, "size": None, "record_count": None,
            "partition_columns": None, "schema": None, "internal_state": None,
        }

    batches = [
        [item(0, 1, "StagingTable", "Initial"),
         item(0, 1, "Add", "Initial", "a.parquet"),
         item(0, 1, "Add", "Initial", "b.parquet")],
        [item(0, 1, "StagingTable", "Done"),
         item(0, 1, "Add", "Done", "a.parquet"),
         item(0, 1, "Add", "Done", "b.parquet")],
        [item(2, 2, "StagingTable", "Initial"),
         item(2, 2, "Remove", "Initial", "a.parquet")],
    ]
    for b in batches:
        dlt.persist([dict(i) for i in b])
    expect_view = {
        (0, 1, "StagingTable", None): "Done",
        (0, 1, "Add", "a.parquet"): "Done",
        (0, 1, "Add", "b.parquet"): "Done",
        (2, 2, "StagingTable", None): "Initial",
        (2, 2, "Remove", "a.parquet"): "Initial",
    }

    def view():
        return {
            (r["start_tx_id"], r["end_tx_id"], r["action"], r["blob_path"]):
            r["state"]
            for r in dlt.current_items("t")
        }

    def steering():
        return dlt.high_water("t"), [
            (i["start_tx_id"], i["end_tx_id"], i["action"], i["blob_path"])
            for i in dlt.incomplete_batch("t")
        ]

    # batch (0, 1) is done, (2, 2) is the open one
    expect_steering = (
        1,
        [(2, 2, "Remove", "a.parquet"), (2, 2, "StagingTable", None)],
    )
    assert view() == expect_view
    assert steering() == expect_steering
    dlt.compact()  # OPTIMIZE+VACUUM keeps the view intact
    assert view() == expect_view
    assert steering() == expect_steering


def test_delta_backend_is_the_default(spark, tmp_path):
    """SURVEY §7.4 posture: a MirrorPipeline keeps its state in the
    Delta state store."""
    from mirror_lake_kusto_spark.pipeline.delta_state import DeltaStateStore

    p = MirrorPipeline(
        spark,
        str(tmp_path / "def_src"),
        str(tmp_path / "def_dst"),
        str(tmp_path / "def_state"),
        table_name="def",
    )
    assert isinstance(p.state, DeltaStateStore)


def test_csv_state_migrates_in_place_to_delta(spark, tmp_path):
    """A state dir left by the retired CSV backend (append-only
    ``ix_<seq>_<uuid>.csv`` files, last writer wins per item key)
    migrates in place on open: the LWW view and the high-water mark
    survive, and the next sync resumes incrementally (no re-ingest, no
    data loss)."""
    import csv
    import os
    import shutil

    from mirror_lake_kusto_spark.pipeline.state import COLUMNS

    src_path = str(tmp_path / "mig_src")
    dst_path = str(tmp_path / "mig_dst")
    state_dir = str(tmp_path / "mig_state")
    src = DeltaSink(spark, src_path)
    src.append(spark.range(20).toDF("id"))
    first = MirrorPipeline(
        spark, src_path, dst_path, state_dir, table_name="mig",
    )
    first.run_until_idle()
    items = first.state.current_items("mig")
    hwm = first.state.high_water("mig")
    assert hwm >= 0

    # the same state in the legacy layout: a flush of Initial rows,
    # then a later flush of the final states for the same keys
    shutil.rmtree(state_dir)
    os.makedirs(state_dir)
    flushes = [[{**i, "state": "Initial"} for i in items], items]
    for seq, rows in enumerate(flushes):
        name = f"ix_{seq:010d}_{seq:032x}.csv"
        with open(os.path.join(state_dir, name), "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=COLUMNS)
            w.writeheader()
            w.writerows(rows)

    # new commits land before the state dir is reopened
    src.append(spark.range(20, 30).toDF("id"))
    new = MirrorPipeline(
        spark, src_path, dst_path, state_dir, table_name="mig",
    )  # CSV files migrate on open
    assert not any(n.startswith("ix_") for n in os.listdir(state_dir))
    assert new.state.current_items("mig") == items
    assert new.state.high_water("mig") == hwm
    r = new.run_once()
    assert r["status"] == "processed"
    assert _ids(new.mirror_df()) == list(range(30))
    # only the new commit's file was ingested (migration preserved Done states)
    assert new.run_once()["status"] == "up-to-date"


def test_driver_and_distributed_steering_paths_agree(spark, tmp_path):
    """The driver LWW fast path (under DRIVER_STATE_MAX_BYTES) and the
    distributed steering path (past it) must give identical answers for
    every steering read."""
    from mirror_lake_kusto_spark.pipeline.delta_state import DeltaStateStore

    def item(start, end, action, state, path=None):
        return {
            "table_name": "t", "start_tx_id": start, "end_tx_id": end,
            "action": action, "state": state, "mirror_timestamp": "x",
            "delta_timestamp": None, "blob_path": path,
            "partition_values": None, "size": 10, "record_count": 5,
            "partition_columns": None, "schema": None, "internal_state": None,
        }

    batches = [
        [item(0, 1, "Add", "Initial", "a"), item(0, 1, "Add", "Initial", "b")],
        [item(0, 1, "Add", "Done", "a"), item(0, 1, "Add", "Done", "b")],
        [item(2, 2, "Add", "Initial", "c"), item(2, 2, "Remove", "Initial", "a")],
    ]
    fast = DeltaStateStore(spark, str(tmp_path / "fast"))
    slow = DeltaStateStore(spark, str(tmp_path / "slow"))
    slow.DRIVER_STATE_MAX_BYTES = -1  # force the distributed path
    for b in batches:
        fast.persist([dict(i) for i in b])
        slow.persist([dict(i) for i in b])
    assert fast._lww_map() is not None
    assert slow._lww_map() is None
    assert fast.high_water("t") == slow.high_water("t") == 1
    fi, si = fast.incomplete_batch("t"), slow.incomplete_batch("t")
    assert [(i["action"], i["blob_path"], i["state"]) for i in fi] == [
        (i["action"], i["blob_path"], i["state"]) for i in si
    ]
    assert fast.current_items("t") == slow.current_items("t")
    fa = sorted(r["blob_path"] for r in fast.adds_df("t").collect())
    sa = sorted(r["blob_path"] for r in slow.adds_df("t").collect())
    assert fa == sa == ["a", "b", "c"]
    assert fast.adds_df("t").columns == slow.adds_df("t").columns
    # a rehydration from disk equals the write-through map
    re = DeltaStateStore(spark, str(tmp_path / "fast"))
    assert re._lww_map() == fast._lww_map()


def test_lww_threshold_crossover_switches_to_distributed(spark, tmp_path):
    """When the write-through map crosses the driver threshold, the
    store drops to the distributed steering path mid-session and every
    read still answers identically."""
    from mirror_lake_kusto_spark.pipeline.delta_state import DeltaStateStore

    store = DeltaStateStore(spark, str(tmp_path / "xo_state"))
    # shrink the threshold so a handful of items crosses it (must sit
    # above one 5-item parquet file's fixed overhead, ~5 KB, and below
    # the in-memory estimate of 30 items x 200 B = 6 KB)
    store.DRIVER_STATE_MAX_BYTES = 5500

    def item(i, state):
        return {
            "table_name": "t", "start_tx_id": 0, "end_tx_id": 0,
            "action": "Add", "state": state, "mirror_timestamp": "x",
            "delta_timestamp": None, "blob_path": f"f{i:03d}",
            "partition_values": None, "size": 1, "record_count": 1,
            "partition_columns": None, "schema": None, "internal_state": None,
        }

    store.persist([item(i, "Initial") for i in range(5)])
    assert store.steering_is_driver_side()
    store.persist([item(i, "Initial") for i in range(5, 30)])  # crosses
    assert not store.steering_is_driver_side()
    # distributed path serves the same answers
    assert store.high_water("t") == -1
    ib = store.incomplete_batch("t")
    assert len(ib) == 30
    store.persist([item(i, "Done") for i in range(30)])
    assert store.high_water("t") == 0
    assert store.incomplete_batch("t") is None
    assert len(store.current_items("t", "Add")) == 30


def test_corrupt_state_commit_raises(spark, tmp_path):
    """An unreadable state commit fails the steering read instead of
    hydrating an empty state (which would restart the mirror from
    version 0 without an error)."""
    from mirror_lake_kusto_spark.pipeline.delta_state import DeltaStateStore

    def item(state):
        return {
            "table_name": "t", "start_tx_id": 0, "end_tx_id": 0,
            "action": "Add", "state": state, "blob_path": "a.parquet",
        }

    store = DeltaStateStore(spark, str(tmp_path / "bad_state"))
    store.persist([item("Initial")])
    store.persist([item("Done")])
    assert store.high_water("t") == 0
    newest = DL.list_commit_versions(store.dir)[-1]
    with open(DL._commit_file(store.dir, newest), "w") as f:
        f.write("{not json\n")
    with pytest.raises(ValueError):
        DeltaStateStore(spark, store.dir).high_water("t")
