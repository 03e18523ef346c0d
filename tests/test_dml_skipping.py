"""Row-level DML skips files by their stats: the predicate verbs prune
the files their probe reads through ``delta_log.skip_files`` (the
pruning ``read_snapshot`` uses), and ``delete``/``delete_dv`` without a
change feed remove the files the stats prove wholly matched
(``skipping.cover_files``) unread.

Also pins what pruning now decides deletes with: quoted literals read
as Spark reads them, ``IN`` lists and ``BETWEEN`` split outside quotes,
the mirror's lineage predicates quoted once for both readers, and
partition values recorded unescaped.
"""

from __future__ import annotations

import json

import hypothesis.strategies as st
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
from mirror_lake_kusto_spark.sources import delta_log as DL
from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink
from mirror_lake_kusto_spark.sources.skipping import (
    _parse_literal,
    cover_files,
    prune_files,
    split_conjuncts,
    sql_string_literal,
)

_VS = StructType([StructField("v", LongType()), StructField("s", StringType())])


def _file(path, rows, parts=None):
    """A file dict whose stats are exact for ``rows`` of (v, s)."""
    stats = {"numRecords": len(rows), "minValues": {}, "maxValues": {},
             "nullCount": {}}
    for i, col in enumerate(("v", "s")):
        vals = [r[i] for r in rows if r[i] is not None]
        stats["nullCount"][col] = len(rows) - len(vals)
        if vals:
            stats["minValues"][col] = min(vals)
            stats["maxValues"][col] = max(vals)
    return {"path": path, "partitionValues": parts or {},
            "stats": json.dumps(stats)}


def _jobs(spark) -> set[int]:
    """Ids of every job the driver has finished so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return set(sc.statusTracker().getJobIdsForGroup(None))


# -- literals as Spark reads them ---------------------------------------------


def test_backslash_literals_decode_like_spark():
    assert _parse_literal(r"'a\\b'", StringType()) == "a\\b"
    assert _parse_literal(r"'it\'s'", StringType()) == "it's"
    assert _parse_literal(r"'say \"hi\"'", StringType()) == 'say "hi"'
    # Spark reads \b as a backspace, \101 as 'A', \% as two characters:
    # such literals neither prune nor cover
    for lit in (r"'a\b'", r"'\101'", r"'100\%'", r"'a\nb'"):
        assert _parse_literal(lit, StringType()) is None
    for value in ("a\\b", "it's", "\\'", "plain"):
        assert _parse_literal(sql_string_literal(value), StringType()) == value


def test_backslash_quote_does_not_end_the_string():
    # Spark reads ONE conjunct: s = "x' AND v = 20 AND s = "
    pred = r"s = 'x\' AND v = 20 AND s = '"
    assert split_conjuncts(pred) == [pred]
    files = [_file("f0", [(1, "x' AND v = 20 AND s = ")])]
    assert prune_files(files, pred, _VS) == files


def test_in_list_splits_outside_quotes():
    files = [_file("f0", [(1, "a,b")]), _file("f1", [(1, "m")])]
    kept = prune_files(files, "s IN ('a,b', 'z')", _VS)
    assert [f["path"] for f in kept] == ["f0"]
    assert [f["path"] for f in cover_files(files, "s IN ('a,b', 'z')", _VS)] == ["f0"]


def test_between_is_one_conjunct_and_prunes():
    files = [_file("f0", [(v, "a") for v in range(10)]),
             _file("f1", [(v, "a") for v in range(10, 20)])]
    assert split_conjuncts("v BETWEEN 10 AND 19 AND s = 'a'") == [
        "v BETWEEN 10 AND 19", "s = 'a'"
    ]
    kept = prune_files(files, "v BETWEEN 10 AND 19 AND s = 'a'", _VS)
    assert [f["path"] for f in kept] == ["f1"]
    covered = cover_files(files, "v BETWEEN 10 AND 19 AND s = 'a'", _VS)
    assert [f["path"] for f in covered] == ["f1"]
    # NOT BETWEEN is a disjunction: nothing prunes, nothing covers
    assert prune_files(files, "v NOT BETWEEN 0 AND 9", _VS) == files
    assert cover_files(files, "v NOT BETWEEN 10 AND 19", _VS) == []
    # the AND inside a quoted bound is not the BETWEEN's
    sfiles = [_file("g0", [(1, "b")]), _file("g1", [(1, "q")])]
    kept = prune_files(sfiles, "s BETWEEN 'a AND b' AND 'c'", _VS)
    assert [f["path"] for f in kept] == ["g0"]


def test_read_snapshot_backslash_literal_matches_filter(spark, tmp_path):
    sink = DeltaSink(spark, str(tmp_path / "bs"))
    sink.append(spark.createDataFrame([("a\\b", 1)], "c string, v long"))
    sink.append(spark.createDataFrame([("zz", 2)], "c string, v long"))
    pred = r"c = 'a\\b'"
    want = sink.to_df().filter(pred).count()
    assert want == 1
    assert DL.read_snapshot(spark, sink.path, predicate=pred).count() == want


# -- covering is a proof --------------------------------------------------------

_STRS = ["a", "b", "it's", "a\\b", "z"]


def _truth(kind, op, lits, val):
    if kind == "isnull":
        return val is None
    if kind == "notnull":
        return val is not None
    if val is None:
        return False
    if kind == "in":
        return val in lits
    if kind == "between":
        return lits[0] <= val <= lits[1]
    return {"=": val == lits[0], "!=": val != lits[0], "<": val < lits[0],
            "<=": val <= lits[0], ">": val > lits[0],
            ">=": val >= lits[0]}[op]


def _atom(col_vals):
    return st.one_of(
        st.tuples(st.just("cmp"), st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
                  st.lists(col_vals, min_size=1, max_size=1)),
        st.tuples(st.just("in"), st.none(), st.lists(col_vals, min_size=1, max_size=3)),
        st.tuples(st.just("between"), st.none(),
                  st.lists(col_vals, min_size=2, max_size=2)),
        st.tuples(st.just("isnull"), st.none(), st.just([])),
        st.tuples(st.just("notnull"), st.none(), st.just([])),
    )


def _sql(col, kind, op, lits, lit_sql):
    if kind == "isnull":
        return f"{col} IS NULL"
    if kind == "notnull":
        return f"{col} IS NOT NULL"
    if kind == "in":
        return f"{col} IN ({', '.join(map(lit_sql, lits))})"
    if kind == "between":
        return f"{col} BETWEEN {lit_sql(lits[0])} AND {lit_sql(lits[1])}"
    return f"{col} {op} {lit_sql(lits[0])}"


@settings(max_examples=300, deadline=None)
@given(
    files=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(_STRS)),  # partition p
            st.lists(
                st.tuples(st.one_of(st.none(), st.integers(0, 6)),
                          st.one_of(st.none(), st.sampled_from(_STRS))),
                min_size=1, max_size=5,
            ),
        ),
        min_size=1, max_size=4,
    ),
    atoms=st.lists(
        st.one_of(
            st.tuples(st.just("v"), _atom(st.integers(-1, 7))),
            st.tuples(st.just("s"), _atom(st.sampled_from(_STRS))),
            st.tuples(st.just("p"), _atom(st.sampled_from(_STRS))),
        ),
        min_size=1, max_size=3,
    ),
)
def test_covered_files_hold_only_matching_rows(files, atoms):
    """For ANY layout and conjunctive predicate: every row of every file
    cover_files returns satisfies the predicate (the pure-Python twin
    of test_pruning_never_drops_matching_rows, for the opposite claim)."""
    schema = StructType([*_VS.fields, StructField("p", StringType())])
    dicts = [
        _file(f"f{i}", rows, {"p": p}) for i, (p, rows) in enumerate(files)
    ]

    def lit_sql(x):
        return sql_string_literal(x) if isinstance(x, str) else str(x)

    predicate = " AND ".join(
        _sql(col, kind, op, lits, lit_sql) for col, (kind, op, lits) in atoms
    )
    covered = {f["path"] for f in cover_files(dicts, predicate, schema, ["p"])}
    for i, (p, rows) in enumerate(files):
        if f"f{i}" not in covered:
            continue
        for v, s in rows:
            row = {"v": v, "s": s, "p": p}
            assert all(
                _truth(kind, op, lits, row[col]) for col, (kind, op, lits) in atoms
            ), f"f{i} covered for {predicate!r} but holds {row!r}"


def test_no_cover_without_proof():
    one = [_file("f0", [(5, "a"), (5, "a")])]
    assert cover_files(one, "v = 5", _VS) == one
    assert cover_files(one, "v = 5 AND s = 'a'", _VS) == one
    # a conjunct that does not parse, a top-level OR, a float literal
    for pred in ("v = 5 AND lower(s) = 'a'", "v = 5 OR s = 'a'", "v = 5.0",
                 "v != 4", "s = a"):
        assert cover_files(one, pred, _VS) == [], pred
    # a file without stats, or with a null in the column
    assert cover_files([{"path": "n", "partitionValues": {}, "stats": None}],
                       "v = 5", _VS) == []
    assert cover_files([_file("f1", [(5, "a"), (None, "a")])], "v = 5", _VS) == []
    # a timestamp column: its stats may be truncated to ms
    ts = StructType([StructField("t", TimestampType())])
    tfile = [{"path": "t", "partitionValues": {}, "stats": json.dumps(
        {"numRecords": 1, "minValues": {"t": "2024-01-01 00:00:00"},
         "maxValues": {"t": "2024-01-01 00:00:00"}, "nullCount": {"t": 0}})}]
    assert prune_files(tfile, "t = '2024-01-01 00:00:00'", ts) == tfile
    assert cover_files(tfile, "t = '2024-01-01 00:00:00'", ts) == []
    # a collated column, even where the collation prunes
    lcase = {"s": "SPARK.UTF8_LCASE"}
    assert prune_files(one, "s = 'a'", _VS, collations=lcase) == one
    assert cover_files(one, "s = 'a'", _VS, collations=lcase) == []


def test_no_cover_under_column_mapping(spark):
    mapped = StructType([
        StructField(f.name, f.dataType, metadata={
            "delta.columnMapping.physicalName": f"col-{f.name}"
        })
        for f in _VS.fields
    ])
    meta = {
        "schemaString": mapped.json(),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
    }
    one = [_file("f0", [(5, "a")])]
    kept, covered = DL.skip_files(spark, "/nonexistent", meta, one, "v = 5", cover=True)
    assert kept == one and covered == []
    meta["configuration"] = {}
    assert DL.skip_files(spark, "/nonexistent", meta, one, "v = 5", cover=True)[1] == one


# -- the DML: covered files are plain removes -----------------------------------


def _table(spark, path, cdf=False):
    """Four appends of ten ids, one file per partition g each."""
    sink = DeltaSink(spark, path, partition_by=["g"])
    for lo in (0, 10, 20, 30):
        sink.append(
            spark.range(lo, lo + 10).select(
                "id", (F.col("id") % 2).alias("g"), F.lit(lo).alias("batch")
            ).coalesce(1)
        )
    if cdf:
        sink.set_properties({"delta.enableChangeDataFeed": "true"})
    return sink


@pytest.mark.parametrize("verb", ["delete", "delete_dv"])
def test_covered_delete_equals_probe_path(spark, tmp_path, verb):
    preds = [
        "batch = 10",  # covers both files of one append
        "batch IN (0, 30) AND g = 0",  # covers two files
        "batch >= 20 AND id % 3 = 0",  # prunes, covers nothing
        "id BETWEEN 5 AND 24",  # covers two files, probes four
    ]
    for i, pred in enumerate(preds):
        fast = _table(spark, str(tmp_path / f"fast{i}"))
        slow = _table(spark, str(tmp_path / f"slow{i}"))
        getattr(fast, verb)(pred)
        # a top-level OR neither prunes nor covers: the plain probe path
        getattr(slow, verb)(f"({pred}) OR 1 = 0")
        want = sorted(
            map(tuple, spark.range(40).select(
                "id", (F.col("id") % 2).alias("g"),
                (F.floor(F.col("id") / 10) * 10).cast("int").alias("batch"),
            ).filter(f"NOT ({pred})").collect())
        )
        for sink in (fast, slow):
            got = sink.to_df().select("id", "g", "batch").collect()
            assert sorted(map(tuple, got)) == want, (pred, sink.path)


def test_covered_delete_runs_no_spark_job(spark, tmp_path):
    sink = _table(spark, str(tmp_path / "nojob"))
    before = _jobs(spark)
    sink.delete("batch = 10")
    assert len(_jobs(spark) - before) == 0
    sink.delete_dv("batch = 20 AND g = 1")
    assert len(_jobs(spark) - before) == 0
    assert sorted(r["id"] for r in sink.to_df().collect()) == (
        list(range(10)) + [20, 22, 24, 26, 28] + list(range(30, 40))
    )


def test_bad_predicate_raises_when_every_file_is_skipped(spark, tmp_path):
    from pyspark.errors import AnalysisException

    sink = _table(spark, str(tmp_path / "bad"))
    with pytest.raises(AnalysisException):
        sink.delete("batch = 999 AND no_such_column = 1")
    assert sink.to_df().count() == 40


def test_cdf_on_keeps_the_deleted_rows_in_the_feed(spark, tmp_path):
    sink = _table(spark, str(tmp_path / "cdf"), cdf=True)
    v = sink.delete("batch = 10")
    changes = sink.changes(v, v).filter("_change_type = 'delete'")
    assert sorted(r["id"] for r in changes.collect()) == list(range(10, 20))


def test_mirror_remove_of_single_path_files_runs_no_spark_job(spark, tmp_path):
    p = MirrorPipeline(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "state"),
        table_name="nojob",
    )
    src = DeltaSink(spark, p.source)
    for lo in (0, 10, 20):
        # one source file per sync: each target file holds one path
        src.append(spark.range(lo, lo + 10).coalesce(1))
        p.run_until_idle()
    src.delete("id < 10")  # removes the first file whole
    jobs = []
    delete = p.sink.delete

    def counted(pred):
        before = _jobs(spark)
        out = delete(pred)
        jobs.append(len(_jobs(spark) - before))
        return out

    p.sink.delete = counted
    p.run_until_idle()
    assert jobs == [0]
    assert sorted(r["id"] for r in p.mirror_df().select("id").collect()) == list(
        range(10, 30)
    )


# -- quoting and partition values round-trip --------------------------------


def test_mirror_removes_a_path_with_a_backslash(spark, tmp_path):
    p = MirrorPipeline(
        spark,
        str(tmp_path / "bsrc"),
        str(tmp_path / "bdst"),
        str(tmp_path / "bstate"),
        table_name="bs",
    )
    src = DeltaSink(spark, p.source, partition_by=["p"])
    src.append(spark.createDataFrame(
        [("a\\b", 1), ("a\\b", 2), ("a\\b", 3)], "p string, v long"
    ).coalesce(1))
    p.run_until_idle()
    src.delete("v = 1")
    p.run_until_idle()
    want = sorted(r["v"] for r in src.to_df().collect())
    assert want == [2, 3]
    assert sorted(r["v"] for r in p.mirror_df().collect()) == want


def test_appended_partition_values_round_trip(spark, tmp_path):
    sink = DeltaSink(spark, str(tmp_path / "pv"), partition_by=["p"])
    rows = [("12:30", 1), ("12:30", 2), ("a\\b", 3), ("a\\b", 4),
            (None, 5), (None, 6)]
    sink.append(spark.createDataFrame(rows, "p string, v long").coalesce(1))

    def read(df):
        return sorted(map(tuple, df.select("p", "v").collect()), key=lambda r: r[1])

    assert read(sink.to_df()) == rows
    assert read(DL.read_snapshot(spark, sink.path)) == rows
    files = DL.snapshot_files(spark, sink.path)
    assert {f["partitionValues"]["p"] for f in files} == {"12:30", "a\\b", None}
    for value, v in (("12:30", 1), ("a\\b", 3)):
        pred = f"p = {sql_string_literal(value)}"
        got = read(DL.read_snapshot(spark, sink.path, predicate=pred))
        assert got == [(value, v), (value, v + 1)]
    # each partial delete rewrites into the directory Spark's writer used
    dirs = {f["path"].split("/")[0] for f in files}
    sink.delete("v IN (1, 3, 5)")
    assert read(sink.to_df()) == [("12:30", 2), ("a\\b", 4), (None, 6)]
    files = DL.snapshot_files(spark, sink.path)
    assert {f["path"].split("/")[0] for f in files} == dirs == {
        "p=12%3A30", "p=a%5Cb", "p=__HIVE_DEFAULT_PARTITION__"
    }
