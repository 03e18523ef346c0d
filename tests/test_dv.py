"""Deletion vectors (sources/dv.py + delta_log merge-on-read): codec
roundtrips against the public Delta PROTOCOL.md / RoaringFormatSpec
layouts, snapshot reads excluding DV'd rows for inline and UUID-file
storage, protocol-guard acceptance of reader v3 + deletionVectors (and
continued loud rejection of anything else), and the mirror/change-feed
guards that refuse to ingest merge-on-read files."""

from __future__ import annotations

import json
import random

import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources import dv as dvm
from mirror_lake_kusto_spark.sources import fs as FS
from mirror_lake_kusto_spark.sources.delta_log import UnsupportedTableFeature
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


# -- codec ----------------------------------------------------------------


def _assert_decodes(payload, expected):
    """The numpy decoder, its list twin and the header-only cardinality
    all agree with the expected row indices."""
    got = dvm.decode(payload)
    assert got.dtype.name == "int64"
    assert got.tolist() == expected
    assert dvm.deserialize(payload) == expected
    assert dvm.cardinality(payload) == len(expected)


def test_roaring_roundtrip_container_shapes():
    cases = [
        [],  # empty DV: zero bitmaps
        [0],
        [1, 3],
        list(range(5000)),  # spans two keys, array containers
        list(range(0, 65536, 3)),  # >4096 in one key -> bitset container
        list(range(65536)),  # a full key: all-ones bitset
        [7, 65536 * 3 + 2, (1 << 32) + 5, (3 << 32) + 1],  # multi-bitmap
        # >= 2^32, with an empty bitmap between two populated ones and
        # a bitset container in a high bitmap
        [(2 << 32) + v for v in range(0, 30000, 5)] + [(4 << 32) + 65535],
        # >= 4 containers: the offset table is present
        [k << 16 | 9 for k in range(6)]
        + [(1 << 32) | k << 16 for k in range(5)],
    ]
    rng = random.Random(42)
    cases.append(sorted(rng.sample(range(1 << 20), 9000)))
    cases.append(rng.sample(range(1 << 34), 3000))  # many high bitmaps
    for idx in cases:
        _assert_decodes(dvm.serialize(list(idx)), sorted(set(idx)))


def _run_cookie_bitmap(containers):
    """One standard roaring bitmap under the RUN cookie (the layout
    foreign writers emit; our writer never does) from (key, kind,
    values) containers, kind run / array / bitset.  The offset table
    is present only from 4 containers on, as the spec requires."""
    import struct

    n = len(containers)
    run_bits = bytearray((n + 7) // 8)
    desc, bodies = b"", []
    for i, (key, kind, vals) in enumerate(containers):
        desc += struct.pack("<HH", key, len(vals) - 1)
        if kind == "run":
            run_bits[i // 8] |= 1 << (i % 8)
            runs: list[list[int]] = []
            for v in vals:
                if runs and v == runs[-1][0] + runs[-1][1] + 1:
                    runs[-1][1] += 1
                else:
                    runs.append([v, 0])
            bodies.append(
                struct.pack("<H", len(runs))
                + b"".join(struct.pack("<HH", a, ln) for a, ln in runs)
            )
        elif kind == "array":
            bodies.append(struct.pack(f"<{len(vals)}H", *vals))
        else:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            bodies.append(struct.pack("<1024Q", *words))
    head = struct.pack("<I", (n - 1) << 16 | 12347) + bytes(run_bits) + desc
    if n >= 4:
        off, offsets = len(head) + 4 * n, []
        for b in bodies:
            offsets.append(off)
            off += len(b)
        head += struct.pack(f"<{n}I", *offsets)
    return head + b"".join(bodies)


def test_roaring_reads_run_containers():
    """Foreign writers may emit run containers — hand-build them, mixed
    with array and bitset containers, and read them."""
    import struct

    def payload(*bitmaps):
        return struct.pack("<iq", dvm.MAGIC, len(bitmaps)) + b"".join(
            _run_cookie_bitmap(b) for b in bitmaps
        )

    def expected(*bitmaps):
        return sorted(
            hi << 32 | key << 16 | v
            for hi, b in enumerate(bitmaps)
            for key, _kind, vals in b
            for v in vals
        )

    cases = [
        # one run container [10, 14] ∪ [100, 100]
        [[(0, "run", [10, 11, 12, 13, 14, 100])]],
        # two containers, no offset table
        [[(0, "run", list(range(3, 40))), (1, "array", [0, 7, 65535])]],
        # five containers (offset table): runs, array, bitset, full key
        [
            [
                (0, "run", list(range(0, 9)) + list(range(20, 30)) + [99]),
                (1, "array", [5, 500, 5000]),
                (2, "bitset", list(range(0, 65536, 7))),
                (3, "run", list(range(65536))),
                (9, "run", [65535]),
            ]
        ],
        # row indices >= 2^32: runs in the second and third bitmaps
        [
            [(0, "array", [1])],
            [(0, "run", list(range(100, 200)))],
            [(4, "run", list(range(60000, 65536))), (5, "array", [2])],
        ],
    ]
    for bitmaps in cases:
        _assert_decodes(payload(*bitmaps), expected(*bitmaps))


def test_z85_roundtrip():
    import os

    for n in (4, 16, 40, 120):
        b = os.urandom(n)
        assert dvm.z85_decode(dvm.z85_encode(b)) == b


def test_dv_payload_crc_check(tmp_path):
    desc = dvm.write_dv_file(str(tmp_path), [1, 2, 3], prefix="ab")
    # corrupt one payload byte -> CRC must catch it
    rel = FS.get_fs(str(tmp_path)).listdir(str(tmp_path / "ab"))[0]
    full = str(tmp_path / "ab" / rel)
    blob = bytearray(FS.get_fs(full).read_bytes(full))
    blob[10] ^= 0xFF
    FS.get_fs(full).write_bytes(full, bytes(blob))
    with pytest.raises(ValueError, match="CRC"):
        dvm.dv_payload(str(tmp_path), desc)


# -- snapshot reads ---------------------------------------------------------


def _author_dv_table(spark, path, deleted, storage="i"):
    sink = DeltaSink(spark, path)
    df = (
        spark.range(10)
        .toDF("n")
        .selectExpr("n", "concat('v', n) as v")
        .orderBy("n")
        .coalesce(1)
    )
    sink.append(df)
    f = DL.snapshot_files(spark, path)[0]
    desc = (
        dvm.inline_descriptor(deleted)
        if storage == "i"
        else dvm.write_dv_file(path, deleted, prefix="xy")
    )
    acts = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "add": {
                "path": f["path"],
                "partitionValues": {},
                "size": f["size"],
                "modificationTime": 0,
                "dataChange": True,
                "stats": f["stats"],
                "deletionVector": desc,
            }
        },
    ]
    FS.get_fs(path).write_text(
        DL._commit_file(path, 1),
        "\n".join(json.dumps(a) for a in acts) + "\n",
    )
    return sink


def test_read_snapshot_applies_inline_dv(spark, tmp_path):
    path = str(tmp_path / "t")
    _author_dv_table(spark, path, [1, 3], storage="i")
    got = sorted(r["n"] for r in DL.read_snapshot(spark, path).collect())
    assert got == [0, 2, 4, 5, 6, 7, 8, 9]
    # helper columns never leak into the result schema
    assert DL.read_snapshot(spark, path).columns == ["n", "v"]


def test_read_snapshot_applies_uuid_file_dv(spark, tmp_path):
    path = str(tmp_path / "t")
    _author_dv_table(spark, path, [0, 9], storage="u")
    got = sorted(r["n"] for r in DL.read_snapshot(spark, path).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8]


def test_dv_read_with_predicate_still_exact(spark, tmp_path):
    path = str(tmp_path / "t")
    _author_dv_table(spark, path, [1, 3])
    got = sorted(
        r["n"]
        for r in DL.read_snapshot(spark, path, predicate="n >= 2").collect()
    )
    assert got == [2, 4, 5, 6, 7, 8, 9]


def test_dv_expansion_runs_no_python_worker_within_bounds(
    spark, tmp_path, monkeypatch
):
    """Within the broadcast bound the driver decodes the bitmaps: the
    executed plan of a DV read has no Python node.  Past the bounds
    (forced to 0) executors decode, through one mapInArrow pass, and
    the rows are identical."""
    sink = DeltaSink(spark, str(tmp_path / "t"))
    for lo in (0, 50):
        sink.append(
            spark.range(lo, lo + 50)
            .selectExpr("id", "id % 7 AS k")
            .coalesce(2)
        )
    sink.delete_dv("k = 3")

    def read():
        df = DL.read_snapshot(spark, sink.path)
        rows = sorted(r.id for r in df.collect())
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return rows, plan

    rows, plan = read()
    assert rows == [i for i in range(100) if i % 7 != 3]
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    monkeypatch.setattr(dvm, "DRIVER_DECODE_ROWS", 0)
    monkeypatch.setattr(dvm, "DRIVER_DECODE_FILES", 0)
    dist_rows, dist_plan = read()
    assert "MapInArrow" in dist_plan
    assert dist_rows == rows


def test_protocol_guard_still_rejects_unknown_features(spark, tmp_path):
    path = str(tmp_path / "t")
    sink = DeltaSink(spark, path)
    sink.append(spark.createDataFrame([(1,)], "n long"))
    acts = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors", "someFutureFeature"],
            }
        }
    ]
    FS.get_fs(path).write_text(
        DL._commit_file(path, 1), json.dumps(acts[0]) + "\n"
    )
    with pytest.raises(UnsupportedTableFeature, match="someFutureFeature"):
        DL.read_snapshot(spark, path).collect()


def test_mirror_refuses_dv_source(spark, tmp_path):
    src = str(tmp_path / "src")
    _author_dv_table(spark, src, [1])
    pipe = MirrorPipeline(
        spark,
        source_path=src,
        target_path=str(tmp_path / "dst"),
        state_dir=str(tmp_path / "state"),
        table_name="dv_guard",
    )
    with pytest.raises(UnsupportedTableFeature, match="deletion vector"):
        pipe.run_once()


def test_change_feed_synthesizes_dv_add(spark, tmp_path):
    """Round 10: the change feed no longer refuses DV commits — an
    add carrying a deletion vector (no same-commit remove: the
    born-with-DV shape) contributes its SURVIVORS as inserts."""
    path = str(tmp_path / "t")
    _author_dv_table(spark, path, [1])
    got = sorted(
        (r["n"], r["_change_type"])
        for r in DL.read_changes(spark, path, 1).collect()
    )
    assert got == [(n, "insert") for n in range(10) if n != 1]


# -- write side: merge-on-read delete + reorg -----------------------------


def _fresh(spark, tmp_path, name, rows=10):
    sink = DeltaSink(spark, str(tmp_path / name))
    df = (
        spark.range(rows)
        .toDF("n")
        .selectExpr("n", "concat('v', n) as v")
        .orderBy("n")
        .coalesce(1)
    )
    sink.append(df)
    return sink


def test_delete_dv_basic(spark, tmp_path):
    sink = _fresh(spark, tmp_path, "t")
    v = sink.delete_dv("n IN (1, 3)")
    assert v == 1
    got = sorted(r["n"] for r in DL.read_snapshot(spark, sink.path).collect())
    assert got == [0, 2, 4, 5, 6, 7, 8, 9]
    # the data file was NOT rewritten (merge-on-read): same physical file
    files = DL.snapshot_files(spark, sink.path)
    assert len(files) == 1 and files[0]["deletionVector"]["cardinality"] == 2


def test_delete_dv_merges_existing_vector(spark, tmp_path):
    sink = _fresh(spark, tmp_path, "t")
    sink.delete_dv("n = 1")
    sink.delete_dv("n = 5")
    got = sorted(r["n"] for r in DL.read_snapshot(spark, sink.path).collect())
    assert got == [0, 2, 3, 4, 6, 7, 8, 9]
    f = DL.snapshot_files(spark, sink.path)[0]
    assert f["deletionVector"]["cardinality"] == 2  # union of both deletes


def test_delete_dv_full_file_becomes_remove(spark, tmp_path):
    sink = _fresh(spark, tmp_path, "t", rows=4)
    sink.delete_dv("n >= 0")
    assert DL.read_snapshot(spark, sink.path).count() == 0
    assert DL.snapshot_files(spark, sink.path) == []


def test_cow_paths_refuse_until_reorg(spark, tmp_path):
    sink = _fresh(spark, tmp_path, "t")
    sink.delete_dv("n = 1")
    with pytest.raises(ValueError, match="reorg"):
        sink.delete("n = 2")
    with pytest.raises(ValueError, match="reorg"):
        sink.optimize()
    sink.reorg()
    # DVs materialized: snapshot identical, no DV'd files left
    got = sorted(r["n"] for r in DL.read_snapshot(spark, sink.path).collect())
    assert got == [0, 2, 3, 4, 5, 6, 7, 8, 9]
    assert all(
        not (f.get("deletionVector") or {}).get("cardinality")
        for f in DL.snapshot_files(spark, sink.path)
    )
    # ...and copy-on-write works again
    sink.delete("n = 2")
    got = sorted(r["n"] for r in DL.read_snapshot(spark, sink.path).collect())
    assert got == [0, 3, 4, 5, 6, 7, 8, 9]


def test_reorg_is_data_change_false(spark, tmp_path):
    """REORG churn must be invisible to the change feed (O2) — but a
    DV'd span already refuses, so assert via the commit JSON."""
    sink = _fresh(spark, tmp_path, "t")
    sink.delete_dv("n = 1")
    v = sink.reorg()
    acts = DL._read_commit(sink.path, v)
    for a in acts:
        for k in ("add", "remove"):
            if k in a:
                assert a[k]["dataChange"] is False


def test_vacuum_drops_stale_dv_files(spark, tmp_path):
    import os as _os

    sink = _fresh(spark, tmp_path, "t")
    sink.delete_dv("n = 1")
    sink.delete_dv("n = 5")  # supersedes the first .bin
    bins = [
        n
        for n in _os.listdir(sink.path)
        if n.startswith("deletion_vector_")
    ]
    assert len(bins) == 2
    sink.vacuum()
    bins_after = [
        n
        for n in _os.listdir(sink.path)
        if n.startswith("deletion_vector_")
    ]
    assert len(bins_after) == 1  # live one kept, stale one gone
    got = sorted(r["n"] for r in DL.read_snapshot(spark, sink.path).collect())
    assert got == [0, 2, 3, 4, 6, 7, 8, 9]


def test_restore_preserves_dv_state(spark, tmp_path):
    sink = _fresh(spark, tmp_path, "t")
    sink.delete_dv("n = 1")  # v1: DV {1}
    sink.delete_dv("n = 5")  # v2: DV {1,5}
    sink.restore(1)
    got = sorted(r["n"] for r in DL.read_snapshot(spark, sink.path).collect())
    assert got == [0, 2, 3, 4, 5, 6, 7, 8, 9]  # n=5 back, n=1 still deleted


def test_delete_dv_partitioned(spark, tmp_path):
    sink = DeltaSink(spark, str(tmp_path / "pt"), partition_by=["p"])
    sink.append(
        spark.createDataFrame(
            [(i, "A" if i < 5 else "B") for i in range(10)], "n long, p string"
        ).repartition(1)
    )
    sink.delete_dv("n IN (2, 7)")
    got = sorted(
        (r["n"], r["p"])
        for r in DL.read_snapshot(spark, sink.path).collect()
    )
    assert [n for n, _ in got] == [0, 1, 3, 4, 5, 6, 8, 9]
    # partition pruning still applies DVs
    got_b = sorted(
        r["n"]
        for r in DL.read_snapshot(
            spark, sink.path, partition_predicate="p = 'B'"
        ).collect()
    )
    assert got_b == [5, 6, 8, 9]


def test_dv_survives_checkpoint_and_vacuum(spark, tmp_path):
    """A checkpoint written on a DV table must carry the vectors and
    the upgraded protocol — after vacuum truncates the JSON history,
    deleted rows must stay deleted and the feature must stay declared."""
    sink = DeltaSink(spark, str(tmp_path / "t"), checkpoint_interval=100)
    df = (
        spark.range(8)
        .toDF("n")
        .selectExpr("n", "concat('v', n) as v")
        .orderBy("n")
        .coalesce(1)
    )
    sink.append(df)
    sink.delete_dv("n IN (2, 5)")
    sink._write_checkpoint(max(DL.list_commit_versions(sink.path)))
    sink.vacuum()  # truncates JSON commits <= checkpoint
    assert DL.list_commit_versions(sink.path) == []
    got = sorted(r["n"] for r in DL.read_snapshot(spark, sink.path).collect())
    assert got == [0, 1, 3, 4, 6, 7]
    proto = DL.latest_protocol(sink.path)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in (proto["readerFeatures"] or [])


def test_delete_dv_on_shallow_clone(spark, tmp_path):
    """Merge-on-read delete on a SHALLOW CLONE: the clone's add actions
    reference the source's files by absolute path, the DV .bin lands in
    the clone's own directory, deleted rows vanish from the clone only
    — the source never changes (the zero-copy-sandbox contract)."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    DeltaSink(spark, src).append(spark.range(6).toDF("n"))
    clone = DeltaSink.shallow_clone(spark, src, tgt)
    clone.delete_dv("n IN (1, 4)")
    got = sorted(r["n"] for r in DL.read_snapshot(spark, tgt).collect())
    assert got == [0, 2, 3, 5]
    assert sorted(
        r["n"] for r in DL.read_snapshot(spark, src).collect()
    ) == [0, 1, 2, 3, 4, 5]
    # and reorg materializes into the CLONE's directory (copy-on-write)
    clone.reorg()
    got = sorted(r["n"] for r in DL.read_snapshot(spark, tgt).collect())
    assert got == [0, 2, 3, 5]
    assert sorted(
        r["n"] for r in DL.read_snapshot(spark, src).collect()
    ) == [0, 1, 2, 3, 4, 5]


def test_mirror_refuses_delete_dv_commit(spark, tmp_path):
    """A delete_dv commit writes remove(P)+add(P, DV) on ONE path — the
    coalesced segment cancels the pair away, so the guard must scan the
    RAW span; otherwise the mirror silently keeps the deleted rows."""
    src = str(tmp_path / "src")
    sink = DeltaSink(spark, src)
    sink.append(spark.range(6).toDF("n").coalesce(1))
    pipe = MirrorPipeline(
        spark,
        source_path=src,
        target_path=str(tmp_path / "dst"),
        state_dir=str(tmp_path / "state"),
        table_name="dv_mor",
    )
    pipe.run_until_idle()  # mirror the clean table first
    sink.delete_dv("n = 2")
    with pytest.raises(UnsupportedTableFeature, match="deletion vector"):
        pipe.run_once()
    # mirror state unchanged (still the pre-delete snapshot, no silent
    # divergence marker advanced)
    assert sorted(r["n"] for r in pipe.mirror_df().collect()) == list(range(6))


def test_stream_source_refuses_dv_add(spark, tmp_path):
    from mirror_lake_kusto_spark.streaming.delta_source import (
        DeltaLogDataSource,
    )

    src = str(tmp_path / "src")
    sink = DeltaSink(spark, src)
    sink.append(spark.range(4).toDF("n").coalesce(1))
    sink.delete_dv("n = 1")
    try:
        spark.dataSource.register(DeltaLogDataSource)
    except Exception:
        pass  # already registered by an earlier test
    q = (
        spark.readStream.format("mlk_delta")
        .option("path", src)
        .load()
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    # delete_dv commits carry a remove, so either loud guard is
    # acceptable — what matters is the stream REFUSES
    with pytest.raises(Exception, match="deletion vector|removes data"):
        q.awaitTermination()


def test_stream_source_refuses_pure_dv_add(spark, tmp_path):
    """An append-with-DV commit (no remove — the foreign-writer shape)
    must hit the dedicated DV guard, not slip through as a plain add."""
    import json as _json

    from mirror_lake_kusto_spark.streaming.delta_source import (
        DeltaLogDataSource,
    )

    src = str(tmp_path / "src")
    _author_dv_table(spark, src, [1], storage="i")  # add WITH DV, no remove
    try:
        spark.dataSource.register(DeltaLogDataSource)
    except Exception:
        pass
    q = (
        spark.readStream.format("mlk_delta")
        .option("path", src)
        .load()
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    with pytest.raises(Exception, match="deletion vector"):
        q.awaitTermination()
