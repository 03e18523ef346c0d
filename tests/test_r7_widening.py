"""Round-7 type widening, writer side + mirror follow.

Writer side (DeltaSink.widen_column): ALTER COLUMN ... TYPE restricted
to PROTOCOL.md's lossless Type Widening matrix — metaData records the
wide type, old files keep narrow physical types, the commit enables
the typeWidening reader+writer feature and appends per-field
delta.typeChanges history.  Narrow appends AFTER a widen are cast up
(Delta writer semantics), never clobbering the wide metaData.

Mirror side (on_schema_change='widen'): when the SOURCE widens a
column mid-stream, the mirror follows — evolve_widen on the target —
instead of stranding (the one schema change a current Delta 4.x
producer commonly makes; reference analogue surpassed:
Storage/TransactionLog.cs:153-157 refuses all changes).
"""

import json

import pyspark.sql.functions as F
import pytest

from mirror_lake_kusto_spark.pipeline.orchestrate import (
    MirrorPipeline,
    SchemaChangedError,
)
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink


def _field(spark, path, name):
    meta = DL.latest_metadata(spark, path)
    return next(
        f
        for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == name
    )


def test_widen_column_roundtrip(spark, tmp_path):
    """widen -> append NARROW again -> read back promoted; protocol
    and typeChanges assertions."""
    path = str(tmp_path / "w1")
    sink = DeltaSink(spark, path)
    sink.append(
        spark.range(5).select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") * 1.5).cast("float").alias("x"),
        )
    )
    v = sink.widen_column("id", "long")
    assert v == 1
    sink.widen_column("x", "double")
    # a narrow producer keeps appending ints/floats: cast up on write
    sink.append(
        spark.range(5, 10).select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") * 1.5).cast("float").alias("x"),
        )
    )
    df = DL.read_snapshot(spark, path)
    assert dict(df.dtypes) == {"id": "bigint", "x": "double"}
    rows = {r["id"]: r["x"] for r in df.collect()}
    assert set(rows) == set(range(10))
    assert abs(rows[7] - 10.5) < 1e-6
    # protocol: typeWidening as reader AND writer feature
    pr = DL.latest_protocol(path)
    assert "typeWidening" in (pr.get("readerFeatures") or [])
    assert "typeWidening" in (pr.get("writerFeatures") or [])
    # per-field history
    f_id = _field(spark, path, "id")
    assert f_id["type"] == "long"
    assert f_id["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]
    # the post-widen append recorded no new metaData (upcast made the
    # schemas identical): the LAST commit must be data-only
    versions = sorted(
        int(n[:20])
        for n in __import__("os").listdir(path + "/_delta_log")
        if n.endswith(".json")
    )
    acts = [
        json.loads(line)
        for line in open(
            path + f"/_delta_log/{versions[-1]:020d}.json"
        )
        if line.strip()
    ]
    assert not any("metaData" in a for a in acts)


def test_widen_column_decimal_and_date(spark, tmp_path):
    path = str(tmp_path / "w2")
    sink = DeltaSink(spark, path)
    sink.append(
        spark.range(3).select(
            F.col("id").cast("decimal(10,2)").alias("d"),
            F.lit("2024-01-15").cast("date").alias("dt"),
        )
    )
    sink.widen_column("d", "decimal(14,4)")
    sink.widen_column("dt", "timestamp_ntz")
    df = DL.read_snapshot(spark, path)
    assert dict(df.dtypes) == {"d": "decimal(14,4)", "dt": "timestamp_ntz"}
    assert df.filter("d = 2.0000").count() == 1
    assert df.filter("dt = TIMESTAMP_NTZ '2024-01-15 00:00:00'").count() == 3


def test_widen_column_refuses_lossy(spark, tmp_path):
    path = str(tmp_path / "w3")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(3).selectExpr("id", "string(id) AS s"))
    with pytest.raises(ValueError, match="not a lossless widening"):
        sink.widen_column("id", "integer")  # narrowing
    with pytest.raises(ValueError, match="not a lossless widening"):
        sink.widen_column("s", "long")  # lossy retype
    with pytest.raises(ValueError, match="unknown column"):
        sink.widen_column("nope", "long")


def test_widen_idempotent_and_history_accumulates(spark, tmp_path):
    path = str(tmp_path / "w4")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(3).selectExpr("cast(id AS smallint) AS id"))
    sink.widen_column("id", "integer")
    assert sink.evolve_widen({"id": "integer"}) == -1  # replay no-op
    sink.widen_column("id", "long")  # widen twice: history accumulates
    f = _field(spark, path, "id")
    assert f["metadata"]["delta.typeChanges"] == [
        {"fromType": "short", "toType": "integer"},
        {"fromType": "integer", "toType": "long"},
    ]
    assert [r["id"] for r in DL.read_snapshot(spark, path).orderBy("id").collect()] == [0, 1, 2]


def test_append_lossy_retype_raises(spark, tmp_path):
    """The implicit schema-changing append refuses lossy retypes —
    silently recording them would corrupt old rows on read."""
    path = str(tmp_path / "w5")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(3).toDF("id"))
    with pytest.raises(ValueError, match="not a lossless widening"):
        sink.append(spark.range(3).selectExpr("string(id) AS id"))


def test_append_widening_retype_gates_feature(spark, tmp_path):
    """An append that widens implicitly (wide frame onto narrow table)
    must ALSO commit the typeWidening feature + typeChanges history —
    the old narrow files are only readable under promotion."""
    path = str(tmp_path / "w6")
    sink = DeltaSink(spark, path)
    sink.append(spark.range(3).selectExpr("cast(id AS int) AS id"))
    sink.append(spark.range(3, 6).selectExpr("cast(id AS bigint) AS id"))
    pr = DL.latest_protocol(path)
    assert "typeWidening" in (pr.get("readerFeatures") or [])
    f = _field(spark, path, "id")
    assert f["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]
    assert DL.read_snapshot(spark, path).count() == 6


def _mk_pipe(spark, tmp_path, src_path, tag):
    return MirrorPipeline(
        spark,
        src_path,
        str(tmp_path / f"{tag}_dst"),
        str(tmp_path / f"{tag}_state"),
        table_name=tag,
        on_schema_change="widen",
    )


def _narrow(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 1.5).cast("float").alias("x"),
    )


def _wide(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("bigint").alias("id"),
        (F.col("id") * 1.5).cast("double").alias("x"),
    )


def test_mirror_widen_mode_follows_source(spark, tmp_path):
    """Source widens mid-stream; the widen-mode mirror follows: target
    metaData wide + typeWidening feature, rows == source, and the
    second sync spans narrow commits, the widen, AND wide commits in
    ONE batch."""
    src_path = str(tmp_path / "mw_src")
    src = DeltaSink(spark, src_path)
    src.append(_narrow(spark, 0, 10))                      # v0 narrow
    p = _mk_pipe(spark, tmp_path, src_path, "mw")
    p.run_until_idle()                                     # target narrow
    src.append(_narrow(spark, 10, 20))                     # v1 narrow
    src.widen_column("id", "long")                         # v2
    src.widen_column("x", "double")                        # v3
    src.append(_wide(spark, 20, 30))                       # v4 wide
    res = p.run_until_idle()
    assert len(res) == 1  # one sync covered v1..v4
    out = p.mirror_df().select("id", "x")
    assert dict(out.dtypes) == {"id": "bigint", "x": "double"}
    assert sorted(r["id"] for r in out.collect()) == list(range(30))
    pr = DL.latest_protocol(p.sink.path)
    assert "typeWidening" in (pr.get("readerFeatures") or [])
    f = _field(spark, p.sink.path, "id")
    assert {"fromType": "integer", "toType": "long"} in f["metadata"][
        "delta.typeChanges"
    ]
    assert p.run_once()["status"] == "up-to-date"


def test_mirror_widen_one_shot_equals_two_shot(spark, tmp_path):
    """A FRESH widen-mode mirror over the full history (narrow commits,
    widen, wide commits) lands the same rows/types as the incremental
    two-shot mirror."""
    src_path = str(tmp_path / "mw2_src")
    src = DeltaSink(spark, src_path)
    src.append(_narrow(spark, 0, 10))
    src.widen_column("id", "long")
    src.widen_column("x", "double")
    src.append(_wide(spark, 10, 20))
    p = _mk_pipe(spark, tmp_path, src_path, "mw2")
    p.run_until_idle()
    out = p.mirror_df().select("id", "x").orderBy("id")
    assert dict(out.dtypes) == {"id": "bigint", "x": "double"}
    got = [(r["id"], r["x"]) for r in out.collect()]
    assert [g[0] for g in got] == list(range(20))
    for i, x in got:
        assert abs(x - i * 1.5) < 1e-6


def test_mirror_widen_plus_added_column(spark, tmp_path):
    """Widen + add in the same source change: both followed."""
    src_path = str(tmp_path / "mw3_src")
    src = DeltaSink(spark, src_path)
    src.append(_narrow(spark, 0, 5))
    p = _mk_pipe(spark, tmp_path, src_path, "mw3")
    p.run_until_idle()
    src.widen_column("id", "long")
    src.append(
        spark.range(5, 10).selectExpr(
            "id", "cast(id * 1.5 AS float) AS x", "string(id) AS tag"
        )
    )
    p.run_until_idle()
    out = p.mirror_df()
    assert dict(out.select("id", "tag").dtypes) == {
        "id": "bigint",
        "tag": "string",
    }
    assert out.filter("tag IS NULL").count() == 5  # pre-add rows
    assert out.filter("tag = '7'").count() == 1


def test_mirror_widen_refuses_lossy_retype(spark, tmp_path):
    src_path = str(tmp_path / "mw4_src")
    src = DeltaSink(spark, src_path)
    src.append(spark.range(5).toDF("id"))
    p = _mk_pipe(spark, tmp_path, src_path, "mw4")
    p.run_until_idle()
    # author a lossy retype on the source log directly (our own sink
    # refuses to write one)
    meta = DL.latest_metadata(spark, src_path)
    parsed = json.loads(meta["schemaString"])
    parsed["fields"][0]["type"] = "integer"  # long -> int: narrowing
    with open(src_path + "/_delta_log/%020d.json" % 1, "w") as f:
        f.write(
            json.dumps(
                {"metaData": {**meta, "schemaString": json.dumps(parsed)}}
            )
            + "\n"
        )
    with pytest.raises(SchemaChangedError, match="widen accepts"):
        p.run_until_idle()


def test_widened_read_keeps_filter_pushdown(spark, tmp_path):
    """Filters on a WIDENED column must still reach the parquet scan
    as PushedFilters even though the files' physical type is narrower
    than the declared schema — losing pushdown here would silently
    turn every post-widen query into a full scan."""
    path = str(tmp_path / "wpush")
    sink = DeltaSink(spark, path)
    sink.append(
        spark.range(1000).selectExpr(
            "cast(id AS int) AS id", "cast(id*1.5 AS float) AS x"
        )
    )
    sink.widen_column("id", "long")
    sink.widen_column("x", "double")
    df = DL.read_snapshot(spark, path).filter("id > 990").select("id", "x")
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "GreaterThan(id,990)" in plan  # pushed into the scan
    assert "struct<id:bigint,x:double>" in plan  # promoted ReadSchema
    assert df.count() == 9


def test_widen_partition_column(spark, tmp_path):
    """Partition columns widen too: values live as STRINGS in
    partitionValues and directory names, so the retype is purely a
    cast-at-read change — both old and new partition dirs read under
    the wide type."""
    path = str(tmp_path / "wpart")
    sink = DeltaSink(spark, path, partition_by=["bucket"])
    sink.append(
        spark.range(10).selectExpr("id", "cast(id % 3 AS int) AS bucket")
    )
    sink.widen_column("bucket", "long")
    sink.append(
        spark.range(10, 20).selectExpr(
            "id", "cast(id % 3 AS bigint) AS bucket"
        )
    )
    df = DL.read_snapshot(spark, path)
    assert dict(df.dtypes) == {"id": "bigint", "bucket": "bigint"}
    counts = {
        r["bucket"]: r["count"]
        for r in df.groupBy("bucket").count().collect()
    }
    assert counts == {0: 7, 1: 7, 2: 6}
    # partition pruning still works under the widened type
    assert (
        DL.read_snapshot(
            spark, path, partition_predicate="bucket = 1"
        ).count()
        == 7
    )


def test_mirror_follows_partition_column_widen(spark, tmp_path):
    """The widen-mode mirror follows a PARTITION column widening on
    the source (same column names, wider type): partition constants
    inject under the wide type on both sides of the widen."""
    src_path = str(tmp_path / "mwp_src")
    src = DeltaSink(spark, src_path, partition_by=["bucket"])
    src.append(
        spark.range(8).selectExpr("id", "cast(id % 2 AS int) AS bucket")
    )
    p = _mk_pipe(spark, tmp_path, src_path, "mwp")
    p.run_until_idle()
    src.widen_column("bucket", "long")
    src.append(
        spark.range(8, 16).selectExpr(
            "id", "cast(id % 2 AS bigint) AS bucket"
        )
    )
    p.run_until_idle()
    out = p.mirror_df()
    assert dict(out.select("id", "bucket").dtypes) == {
        "id": "bigint",
        "bucket": "bigint",
    }
    assert sorted(r["id"] for r in out.collect()) == list(range(16))
    assert out.filter("bucket = 1").count() == 8


def test_mirror_widen_of_column_never_on_target(spark, tmp_path):
    """Source ADDs a column metadata-only, then widens it before any of
    its data reaches the target: the widen follow must skip columns the
    target doesn't carry (its first append arrives wide) instead of
    wedging the pipeline on evolve_widen(unknown column)."""
    src_path = str(tmp_path / "mw6_src")
    src = DeltaSink(spark, src_path)
    src.append(spark.range(5).toDF("id"))
    p = _mk_pipe(spark, tmp_path, src_path, "mw6")
    p.run_until_idle()                       # target: (id)
    # v1: metadata-only ADD COLUMN c int (no data file carries it)
    meta = DL.latest_metadata(spark, src_path)
    parsed = json.loads(meta["schemaString"])
    parsed["fields"].append(
        {"name": "c", "type": "integer", "nullable": True, "metadata": {}}
    )
    with open(src_path + "/_delta_log/%020d.json" % 1, "w") as f:
        f.write(
            json.dumps(
                {"metaData": {**meta, "schemaString": json.dumps(parsed)}}
            )
            + "\n"
        )
    p.run_until_idle()                       # records (id, c int)
    src._pending_schema = "{}"
    src.widen_column("c", "long")            # v2: widen the absent col
    src.append(
        spark.range(5, 8).selectExpr("id", "cast(id AS long) AS c")
    )                                        # v3: first data with c
    p.run_until_idle()                       # must NOT raise
    out = p.mirror_df()
    assert dict(out.select("id", "c").dtypes) == {"id": "bigint", "c": "bigint"}
    assert out.filter("c IS NULL").count() == 5
    assert out.filter("c = 7").count() == 1


def test_mirror_widen_crash_replay_is_idempotent(spark, tmp_path):
    """Crash after the target widen but before state persist: the
    rerun recomputes the widen delta, evolve_widen no-ops, and the
    batch completes exactly once."""
    src_path = str(tmp_path / "mw5_src")
    src = DeltaSink(spark, src_path)
    src.append(_narrow(spark, 0, 8))

    def mk():
        return _mk_pipe(spark, tmp_path, src_path, "mw5")

    p = mk()
    p.run_until_idle()
    src.widen_column("id", "long")
    src.append(_wide(spark, 8, 16))
    orig = MirrorPipeline._stamp_and_persist
    calls = {"n": 0}

    def crashing(self, items):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("crash before state persist")
        return orig(self, items)

    MirrorPipeline._stamp_and_persist = crashing
    try:
        with pytest.raises(RuntimeError):
            p.run_until_idle()
    finally:
        MirrorPipeline._stamp_and_persist = orig
    p2 = mk()
    p2.run_until_idle()
    rows = sorted(r["id"] for r in p2.mirror_df().collect())
    assert rows == list(range(16))  # complete, no duplicates
    # exactly one CHANGE COLUMN commit on the target
    ops = [
        r["operation"]
        for r in p2.sink.history().collect()
        if r["operation"] == "CHANGE COLUMN"
    ]
    assert len(ops) == 1
    assert p2.run_once()["status"] == "up-to-date"
