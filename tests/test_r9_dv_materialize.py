"""Round-9 DV-materializing mirror mode (``on_dv='materialize'``).

The reference refuses DV-carrying sources outright
(TransactionLogEntry.cs:341-342); modern Delta writers enable deletion
vectors by default, so the engine goes further: stage each DV'd file's
SURVIVING rows (bitmap anti-join at read), record the DV descriptor as
provenance in the item state, and when a path's bitmap changes later
re-stage it — deleting the previously mirrored rows inside the same
exactly-once staging step (delete bounded to MLK_BatchTxId < end_tx,
append guarded by the sink txn ledger, so crash/resume never
double-lands or double-deletes).
"""

import datetime
import os

import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _src(spark, tmp_path, n=100):
    src = DeltaSink(spark, str(tmp_path / "src"))
    src.append(
        spark.range(n).selectExpr("id", "id % 7 AS k")
    )
    return src


def _pipe(spark, tmp_path, tag="t", **kw):
    return MirrorPipeline(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / f"dst_{tag}"),
        str(tmp_path / f"state_{tag}"),
        table_name=tag,
        on_dv="materialize",
        **kw,
    )


def _ids(pipe):
    return sorted(r.id for r in pipe.mirror_df().collect())


def test_on_dv_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="on_dv"):
        MirrorPipeline(
            spark,
            str(tmp_path / "s"),
            str(tmp_path / "d"),
            str(tmp_path / "st"),
            on_dv="nope",
        )


def test_incremental_dv_delete_and_growth(spark, tmp_path):
    src = _src(spark, tmp_path)
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    assert _ids(pipe) == list(range(100))
    src.delete_dv("k = 3")
    pipe.run_until_idle()
    assert _ids(pipe) == [i for i in range(100) if i % 7 != 3]
    # second merge-on-read delete GROWS the same files' bitmaps
    src.delete_dv("k = 5")
    pipe.run_until_idle()
    expect = [i for i in range(100) if i % 7 not in (3, 5)]
    assert _ids(pipe) == expect
    # idempotence: re-running changes nothing
    pipe.run_until_idle()
    assert _ids(pipe) == expect


def test_one_shot_equals_two_shot(spark, tmp_path):
    """The VERDICT acceptance: a mirror built AFTER the DV commits
    equals one that followed them incrementally."""
    src = _src(spark, tmp_path)
    stepwise = _pipe(spark, tmp_path, "step")
    stepwise.run_until_idle()
    src.delete_dv("k = 2")
    stepwise.run_until_idle()
    oneshot = _pipe(spark, tmp_path, "once")
    oneshot.run_until_idle()
    assert _ids(oneshot) == _ids(stepwise) == [
        i for i in range(100) if i % 7 != 2
    ]


def test_provenance_recorded_and_stable(spark, tmp_path):
    """The DV descriptor lands in the Add item's internal_state, and a
    no-change rerun does NOT synthesize another restage item."""
    import json

    src = _src(spark, tmp_path)
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    src.delete_dv("k = 3")
    pipe.run_until_idle()
    adds = pipe.state.current_items("t", "Add")
    prov = [
        json.loads(a["internal_state"])
        for a in adds
        if a["internal_state"] and str(a["internal_state"]).startswith("{")
    ]
    assert prov and all(p["dv"]["cardinality"] > 0 for p in prov)
    assert all(p["dv_id"] for p in prov)
    n_items = len(adds)
    pipe.run_until_idle()
    assert len(pipe.state.current_items("t", "Add")) == n_items


def test_default_mode_still_refuses(spark, tmp_path):
    src = _src(spark, tmp_path)
    src.delete_dv("k = 3")
    p = MirrorPipeline(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "dst_f"),
        str(tmp_path / "state_f"),
        table_name="f",
    )
    with pytest.raises(DL.UnsupportedTableFeature, match="deletion vector"):
        p.run_until_idle()


def test_skipped_add_skips_dv_restage(spark, tmp_path):
    """Reference invariant (BlobLoadingOrchestration.cs:96-115): a
    skipped add skips its follow-ups — a DV change on a path whose add
    was retention-skipped records the new provenance but resurrects
    nothing, and the pipeline converges (no endless re-detection)."""
    src = _src(spark, tmp_path)
    future = datetime.datetime.utcnow() + datetime.timedelta(days=365)
    pipe = _pipe(
        spark, tmp_path, go_back_days=30, now_fn=lambda: future
    )
    pipe.run_until_idle()
    assert pipe.mirror_df().count() == 0  # everything retention-skipped
    src.delete_dv("k = 3")
    pipe.run_until_idle()
    assert pipe.mirror_df().count() == 0
    states = {
        i["state"] for i in pipe.state.current_items("t", "Add")
    }
    assert states == {"Skipped"}
    assert pipe.run_once()["status"] == "up-to-date"  # converged


def test_vacuumed_snapshot_path_follows_dv(spark, tmp_path):
    """DV change discovered through the SNAPSHOT-DIFF path: commits
    vacuumed below a checkpoint, so the changed bitmap is found by
    joining the active set against recorded provenance."""
    src = _src(spark, tmp_path)
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    src.delete_dv("k = 3")
    src.append(spark.range(100, 120).selectExpr("id", "id % 7 AS k"))
    vers = DL.list_commit_versions(src.path)
    src._write_checkpoint(vers[-1])
    for v in vers[:-1]:
        os.remove(
            os.path.join(src.path, "_delta_log", f"{v:020d}.json")
        )
    pipe.run_until_idle()
    expect = sorted(
        [i for i in range(100) if i % 7 != 3] + list(range(100, 120))
    )
    assert _ids(pipe) == expect
    pipe.run_until_idle()
    assert _ids(pipe) == expect  # idempotent


def test_fresh_mirror_of_dv_source(spark, tmp_path):
    """First sync of a source that ALREADY carries DVs: the span's
    cancelled remove+add pairs still surface the DV'd files."""
    src = _src(spark, tmp_path)
    src.delete_dv("k = 0")
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    assert _ids(pipe) == [i for i in range(100) if i % 7 != 0]


def test_fully_deleted_file_restage(spark, tmp_path):
    """A bitmap covering EVERY row of a file: the re-stage still owes
    (and performs) the delete of the previously mirrored rows."""
    src = _src(spark, tmp_path)
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    src.delete_dv("id >= 0")  # everything
    pipe.run_until_idle()
    assert pipe.mirror_df().count() == 0


def test_crash_between_delete_and_append_recovers(spark, tmp_path):
    """Crash AFTER the restage delete but BEFORE the guarded append:
    resume re-issues a no-op delete and lands the surviving rows
    exactly once."""
    src = _src(spark, tmp_path)
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    src.delete_dv("k = 3")

    real_append = pipe.sink.append
    calls = {"n": 0}

    def dying_append(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("simulated crash before append")

    pipe.sink.append = dying_append
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.run_once()
    pipe.sink.append = real_append
    pipe.run_until_idle()  # resume from persisted items
    assert _ids(pipe) == [i for i in range(100) if i % 7 != 3]


def test_partitioned_source_dv_materialize(spark, tmp_path):
    """DV'd files of a PARTITIONED source: partition constants inject
    correctly on the DV-filtered scan path too."""
    src = DeltaSink(
        spark, str(tmp_path / "src"), partition_by=["k"]
    )
    src.append(
        spark.range(100).selectExpr("id", "CAST(id % 4 AS INT) AS k")
    )
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    src.delete_dv("id % 10 = 3")
    pipe.run_until_idle()
    rows = {r.id: r.k for r in pipe.mirror_df().collect()}
    assert sorted(rows) == [i for i in range(100) if i % 10 != 3]
    assert all(rows[i] == i % 4 for i in rows)


def test_row_tracked_source_dv_materialize(spark, tmp_path):
    """A source with BOTH row tracking and deletion vectors: surviving
    rows keep their SOURCE row ids through the DV-filtered staging
    scan (the physical row index must survive the bitmap anti-join)."""
    src = DeltaSink(
        spark, str(tmp_path / "src"), checkpoint_interval=10**6
    )
    src.append(spark.range(0, 20).toDF("id").coalesce(1))
    src.set_properties({"delta.enableRowTracking": "true"})
    src.append(spark.range(20, 30).toDF("id").coalesce(1))
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    before = {
        r["id"]: r["MLK_SourceRowId"]
        for r in pipe.mirror_df().select("id", "MLK_SourceRowId").collect()
    }
    src.delete_dv("id % 5 = 1")
    pipe.run_until_idle()
    after = {
        r["id"]: r["MLK_SourceRowId"]
        for r in pipe.mirror_df().select("id", "MLK_SourceRowId").collect()
    }
    assert sorted(after) == [i for i in range(30) if i % 5 != 1]
    # surviving rows keep the ids they had before the DV re-stage
    assert all(after[i] == before[i] for i in after)


def test_column_mapped_source_dv_materialize(spark, tmp_path):
    """Column-mapped source (files store physical names) + DV: the
    bitmap applies on the physical staging scan, logical names come
    out.  The DV commit is hand-authored (a foreign writer's shape —
    this sink's own DML refuses mapped tables by design)."""
    import json

    from mirror_lake_kusto_spark.sources import dv as DVMOD

    src = DeltaSink(spark, str(tmp_path / "src"))
    src.append(spark.range(50).selectExpr("id", "id * 2 AS v").coalesce(1))
    src.evolve_rename({"v": "doubled"})  # flips on 'name' mapping
    # foreign merge-on-read delete of rows 40..49 (row order = id
    # order in the single coalesced file)
    add0 = next(
        a["add"] for a in DL._read_commit(src.path, 0) if "add" in a
    )
    desc = DVMOD.pack_dv_file(
        src.path, [(DVMOD.serialize(list(range(40, 50))), 10)]
    )[0]
    v = DL.list_commit_versions(src.path)[-1] + 1
    lines = [
        json.dumps(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors", "columnMapping"],
                    "writerFeatures": ["deletionVectors", "columnMapping"],
                }
            }
        ),
        json.dumps(
            {
                "remove": {
                    "path": add0["path"],
                    "deletionTimestamp": 0,
                    "dataChange": True,
                    "partitionValues": {},
                }
            }
        ),
        json.dumps({"add": {**add0, "deletionVector": desc}}),
    ]
    with open(
        os.path.join(src.path, "_delta_log", f"{v:020d}.json"), "w"
    ) as f:
        f.write("\n".join(lines) + "\n")
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    rows = {r.id: r.doubled for r in pipe.mirror_df().collect()}
    assert sorted(rows) == list(range(40))
    assert all(rows[i] == 2 * i for i in rows)


def test_retention_window_does_not_swallow_restage(spark, tmp_path):
    """Round-9 review finding: a DV re-stage CORRECTS already-mirrored
    rows; the O5 retention skip must not swallow its owed delete even
    when the re-added file's creation time predates the go-back
    cutoff (e.g. the mirror catches up a year later)."""
    import datetime as dt

    clock = {"now": dt.datetime.utcnow()}
    src = _src(spark, tmp_path)
    pipe = _pipe(
        spark, tmp_path, go_back_days=30, now_fn=lambda: clock["now"]
    )
    pipe.run_until_idle()
    assert len(_ids(pipe)) == 100  # fresh: admitted
    src.delete_dv("k = 3")
    clock["now"] += dt.timedelta(days=365)  # the mirror wakes up late
    pipe.run_until_idle()
    # the restage ran: source-deleted rows are OUT, not stranded
    assert _ids(pipe) == [i for i in range(100) if i % 7 != 3]


def test_add_before_remove_commit_order_detected(spark, tmp_path):
    """Round-9 review finding: a writer emitting [add(P,DV),
    remove(P)] in that physical line order must still resolve
    ADD-WINS (the same tie-break the snapshot replay uses)."""
    import json

    src = _src(spark, tmp_path)
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    src.delete_dv("k = 3")
    # rewrite the DV commit with its action lines REVERSED
    v = DL.list_commit_versions(src.path)[-1]
    cf = os.path.join(src.path, "_delta_log", f"{v:020d}.json")
    acts = [json.loads(ln) for ln in open(cf) if ln.strip()]
    order = {"add": 0, "remove": 1, "commitInfo": 2, "protocol": 3}
    acts.sort(key=lambda a: order.get(next(iter(a)), 9))
    with open(cf, "w") as f:
        f.write("\n".join(json.dumps(a) for a in acts) + "\n")
    pipe.run_until_idle()
    assert _ids(pipe) == [i for i in range(100) if i % 7 != 3]


def test_incremental_dv_delta_respects_item_cap(spark, tmp_path):
    """Round-9 review finding: the incremental DV delta enforces the
    same driver-item ceiling the snapshot twin does."""
    src = DeltaSink(spark, str(tmp_path / "src"))
    src.append(
        spark.range(100).selectExpr("id", "id % 7 AS k").repartition(4)
    )
    pipe = _pipe(spark, tmp_path)
    pipe.run_until_idle()
    src.delete_dv("k = 3")  # DVs land on every file
    pipe.max_items_per_batch = 1
    with pytest.raises(ValueError, match="DV-changed"):
        pipe.run_until_idle()
