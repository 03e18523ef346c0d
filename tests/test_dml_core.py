"""One DML core behind DeltaSink's six row-level verbs.

``delete``/``update``/``merge`` (copy-on-write) and ``delete_dv``/
``update_dv``/``merge_dv`` (deletion vectors) share one match, staging
and commit path, so on identical tables — partitioned, change data
feed and row tracking on — both strategies of a verb must agree on:

- the logical snapshot;
- the change feed of the DML's commit (as a row multiset);
- every surviving row's ``_row_id``;
- ``_row_commit_version`` moving for exactly the updated rows.

Both strategies also cast UPDATE assignments to the column's declared
type, and a DML that fails while staging leaves neither files nor a
commit behind.
"""

from __future__ import annotations

import os
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

VERBS = ["delete", "update", "merge"]
STRATEGIES = {"cow": "", "dv": "_dv"}


def _table(spark, path, rows=30):
    sink = DeltaSink(spark, path, partition_by=["p"], checkpoint_interval=10**6)
    sink.append(
        spark.range(rows)
        .selectExpr("id", "cast(id % 3 as string) as p", "id * 10 as v")
        .repartition(2)
    )
    sink.set_properties(
        {
            "delta.enableChangeDataFeed": "true",
            "delta.enableRowTracking": "true",
        }
    )
    return sink


def _args(spark, verb):
    if verb == "delete":
        return ("id % 4 = 0 OR v > 250",), {}
    if verb == "update":
        return ("id % 5 = 1", {"v": "v + 7"}), {}
    source = spark.range(20, 36).selectExpr(
        "id", "cast(id % 3 as string) as p", "id * 100 as v"
    )
    dels = spark.createDataFrame(
        [(1, "1"), (2, "2"), (4, "1")], "id long, p string"
    )
    return (source, ["id", "p"]), {"delete_keys": dels}


def _rows(spark, path):
    return {
        r.id: (r.p, r.v, r._row_id, r._row_commit_version)
        for r in DL.read_snapshot(spark, path, row_ids=True).collect()
    }


def _listing(path, dirs=True):
    """Every file, and with ``dirs`` every directory, under ``path``."""
    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, subdirs, names in os.walk(path)
        for n in names + (subdirs if dirs else [])
    )


@pytest.mark.parametrize("verb", VERBS)
def test_strategies_agree(spark, tmp_path, verb):
    out = {}
    for strategy, suffix in STRATEGIES.items():
        path = str(tmp_path / strategy)
        sink = _table(spark, path)
        before = _rows(spark, path)
        args, kwargs = _args(spark, verb)
        v = getattr(sink, verb + suffix)(*args, **kwargs)
        after = _rows(spark, path)
        changes = sorted(
            tuple(r)
            for r in sink.changes(v, v)
            .select("id", "p", "v", "_change_type")
            .collect()
        )
        assert changes, f"{verb}{suffix} changed no rows"
        updated = {c[0] for c in changes if c[3] == "update_postimage"}
        assert updated or verb == "delete"
        for i, (_p, _v, rid, rcv) in after.items():
            if i not in before:  # a merge insert: fresh id, this commit
                assert rcv == v
                continue
            assert rid == before[i][2], f"{verb}{suffix}: id of row {i}"
            assert rcv == (v if i in updated else before[i][3]), (
                f"{verb}{suffix}: commit version of row {i}"
            )
        out[strategy] = (
            {i: r[:2] for i, r in after.items()},
            changes,
        )
    assert out["cow"] == out["dv"]


@pytest.mark.parametrize("suffix", STRATEGIES.values())
def test_update_keeps_declared_type(spark, tmp_path, suffix):
    path = str(tmp_path / "t")
    sink = _table(spark, path, rows=12)
    getattr(sink, "update" + suffix)("id < 6", {"v": "v + 0.5"})
    for f in DL.snapshot_files(spark, path):
        schema = pq.read_schema(
            os.path.join(path, urllib.parse.unquote(f["path"]))
        )
        assert schema.field("v").type == pa.int64(), f["path"]
    # decimal -> bigint truncates: every value reads back unchanged
    assert sorted(
        (r.id, r.v) for r in DL.read_snapshot(spark, path).collect()
    ) == [(i, i * 10) for i in range(12)]


def _fail_in_staging(sink, monkeypatch):
    """Every published file fails right after its move into the table:
    the publisher must take back what it moved and its staging dir."""
    move = sink.fs.move

    def boom(src, dst):
        move(src, dst)
        raise RuntimeError("boom")

    monkeypatch.setattr(sink.fs, "move", boom)


@pytest.mark.parametrize(
    "method", [v + s for v in VERBS for s in STRATEGIES.values()]
)
def test_failed_staging_leaves_table_unchanged(
    spark, tmp_path, monkeypatch, method
):
    path = str(tmp_path / "t")
    sink = _table(spark, path)
    # files only: a partition directory made for the moved file may stay
    files, rows = _listing(path, dirs=False), _rows(spark, path)
    args, kwargs = _args(spark, method.removesuffix("_dv"))
    with monkeypatch.context() as m:
        _fail_in_staging(sink, m)
        with pytest.raises(RuntimeError, match="boom"):
            getattr(sink, method)(*args, **kwargs)
    assert _listing(path, dirs=False) == files
    assert _rows(spark, path) == rows


@pytest.mark.parametrize("suffix", STRATEGIES.values())
def test_failed_assignment_leaves_table_unchanged(spark, tmp_path, suffix):
    path = str(tmp_path / "t")
    sink = _table(spark, path)
    listing, rows = _listing(path), _rows(spark, path)
    with pytest.raises(Exception, match="boom"):
        getattr(sink, "update" + suffix)(
            "p = '1'", {"v": "raise_error('boom')"}
        )
    assert _listing(path) == listing  # no _staging_ dir left behind
    assert _rows(spark, path) == rows
