"""KQL facade lowers to the same results as plain DataFrame programs
(and through them, the DuckDB-checked SURVEY §2 semantics)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mirror_lake_kusto_spark.functions.kql import KqlFrame
from mirror_lake_kusto_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_where_project_extend(spark):
    li = load_table(spark, "lineitem", SF_DIR)
    got = (
        KqlFrame(li)
        .where("l_returnflag == 'R'")
        .extend(net="round(l_extendedprice * (1 - l_discount), 4)")
        .project("l_orderkey", "l_linenumber", "net")
        .to_df()
    )
    want = (
        li.filter(F.col("l_returnflag") == "R")
        .withColumn("net", F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
        .select("l_orderkey", "l_linenumber", "net")
    )
    assert _rows(got) == _rows(want)


def test_summarize_by(spark):
    li = load_table(spark, "lineitem", SF_DIR)
    got = (
        KqlFrame(li)
        .summarize(by=["l_returnflag", "l_linestatus"], qty="sum(l_quantity)", n="count(*)")
        .to_df()
    )
    want = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("sum(l_quantity)").alias("qty"), F.count("*").alias("n")
    )
    assert _rows(got) == _rows(want)


def test_summarize_distinct(spark):
    ev = load_table(spark, "events", SF_DIR)
    got = KqlFrame(ev).summarize(by=["user_id", "event_type"]).to_df()
    assert _rows(got) == _rows(ev.select("user_id", "event_type").distinct())


def test_arg_max(spark):
    """arg_max(ts, *) by user_id == the reference's state-view dedup
    (DatabaseGateway.cs:93)."""
    ev = load_table(spark, "events", SF_DIR)
    got = KqlFrame(ev).arg_max("ts", by=["user_id"]).to_df()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    want = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
        .select(*got.columns)
    )
    assert _rows(got) == _rows(want)


def test_arg_max_plan_has_no_window(spark):
    ev = load_table(spark, "events", SF_DIR)
    df = KqlFrame(ev).arg_max("ts", by=["user_id"]).to_df()
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Window" not in plan  # single-shuffle agg, not a ranking sort


def test_top_lowers_to_take_ordered(spark):
    orders = load_table(spark, "orders", SF_DIR)
    kf = KqlFrame(orders).top(5, "o_totalprice")
    plan = spark._jvm.PythonSQLUtils.explainString(
        kf.df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan
    got = [r["o_orderkey"] for r in kf.collect()]
    want = [
        r["o_orderkey"]
        for r in orders.orderBy(F.desc("o_totalprice")).limit(5).collect()
    ]
    assert got == want


def test_join_kinds_and_union(spark):
    cust = KqlFrame(load_table(spark, "customer", SF_DIR))
    orders = KqlFrame(load_table(spark, "orders", SF_DIR))
    lonely = cust.join(
        orders.project(c_custkey="o_custkey"), on=["c_custkey"], kind="leftanti"
    )
    # facade anti-join == DataFrame left_anti (C1's shape)
    want = cust.df.join(
        orders.df.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    )
    assert lonely.df.count() == want.count()
    # anti + semi partition the customer set
    semi = cust.join(
        orders.project(c_custkey="o_custkey"), on=["c_custkey"], kind="leftsemi"
    )
    assert lonely.df.count() + semi.df.count() == cust.df.count()
    u = cust.union(cust)
    assert u.df.count() == 2 * cust.df.count()


def test_count_and_take(spark):
    r = KqlFrame(load_table(spark, "region", SF_DIR))
    assert r.count().collect()[0]["count_"] == 5
    assert len(r.take(3).collect()) == 3


def test_distinct_mv_expand_has(spark):
    li = KqlFrame(load_table(spark, "lineitem", SF_DIR))
    # distinct on a column subset
    flags = li.distinct("l_returnflag").collect()
    assert sorted(r["l_returnflag"] for r in flags) == ["A", "N", "R"]
    # mv-expand: tokens of a synthesized array column; empty arrays keep a row
    f = KqlFrame(
        spark.createDataFrame(
            [(1, ["a", "b"]), (2, [])], "id long, toks array<string>"
        )
    )
    rows = f.mv_expand("toks", alias="tok").collect()
    assert sorted((r["id"], r["tok"]) for r in rows) == [(1, "a"), (1, "b"), (2, None)]
    assert "toks" not in f.mv_expand("toks", alias="tok").df.columns
    # has: whole-term only (B6) — 'ship' must not match 'shipping'
    t = KqlFrame(
        spark.createDataFrame(
            [(1, "fast ship today"), (2, "shipping costs"), (3, "SHIP it")],
            "id long, note string",
        )
    )
    got = sorted(r["id"] for r in t.where_has("note", "ship").collect())
    assert got == [1, 3]


# -- KQL string parser (functions/kql_parse.py) ------------------------------


def test_parse_where_extend_summarize(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], "id long, k string, v double"
    )
    out = kql(
        spark,
        "t | where v > 5 | extend w = v * 2 | summarize s = sum(w), n = count() by k"
        " | order by k asc",
        tables={"t": df},
    ).collect()
    assert [(r.k, r.s, r.n) for r in out] == [("a", 60.0, 2), ("b", 60.0, 1)]


def test_parse_string_operators(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "PROMO BURNISHED"), (2, "PROMOTION X"), (3, "other Promo")],
        "id long, s string",
    )
    t = {"t": df}
    has = kql(spark, "t | where s has 'promo' | project id", tables=t).collect()
    assert sorted(r.id for r in has) == [1, 3]  # term match, case-insensitive
    contains = kql(spark, "t | where s contains 'promo' | project id", tables=t)
    assert contains.count() == 3  # substring matches PROMOTION too
    neg = kql(spark, "t | where s !has 'promo' | project id", tables=t).collect()
    assert [r.id for r in neg] == [2]
    starts = kql(spark, "t | where s startswith 'promo' | project id", tables=t)
    assert sorted(r.id for r in starts.collect()) == [1, 2]


def test_parse_default_sort_is_desc_and_top(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    out = kql(spark, "t | order by x | take 3", tables={"t": df}).collect()
    assert [r.x for r in out] == [9, 8, 7]  # KQL order by defaults DESC
    top = kql(spark, "t | top 2 by x asc", tables={"t": df}).collect()
    assert [r.x for r in top] == [0, 1]


def test_parse_project_away_rename_distinct_mvexpand(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "a", [1, 2]), (1, "a", [3])], "id long, k string, xs array<long>"
    )
    t = {"t": df}
    away = kql(spark, "t | project-away xs", tables=t)
    assert away.columns == ["id", "k"]
    ren = kql(spark, "t | project-rename key = k", tables=t)
    assert "key" in ren.columns and "k" not in ren.columns
    dis = kql(spark, "t | distinct id, k", tables=t)
    assert dis.count() == 1
    mv = kql(spark, "t | mv-expand x = xs | project id, x", tables=t).collect()
    assert sorted(r.x for r in mv) == [1, 2, 3]


def test_parse_union_and_casts(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    a = spark.createDataFrame([(1,)], "x long")
    b = spark.createDataFrame([(2,)], "x long")
    out = kql(spark, "a | union b | order by x asc", tables={"a": a, "b": b})
    assert [r.x for r in out.collect()] == [1, 2]
    cast = kql(
        spark, "a | extend s = strcat(tostring(x), '!') | project s",
        tables={"a": a},
    ).collect()
    assert cast[0].s == "1!"


def test_parse_errors_are_loud(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(KqlParseError, match="unsupported evaluate plugin"):
        kql(spark, "t | evaluate mystery_plugin()", tables={"t": df})
    # autocluster IS supported now, but stays loud without attributes
    with pytest.raises(KqlParseError, match="no string attribute"):
        kql(spark, "t | evaluate autocluster()", tables={"t": df})
    # bag_unpack IS supported, but stays loud when the column has no JSON
    with pytest.raises(KqlParseError, match="no JSON objects found"):
        kql(spark, "t | evaluate bag_unpack(x)", tables={"t": df})
    # fork is now supported — but the single-result API stays loud
    with pytest.raises(KqlParseError, match="kql_multi"):
        kql(spark, "t | fork (where x > 0) (where x < 0)", tables={"t": df})
    with pytest.raises(KqlParseError, match="unsupported operator"):
        kql(spark, "t | consume", tables={"t": df})
    with pytest.raises(KqlParseError, match="top needs"):
        kql(spark, "t | top x", tables={"t": df})
    with pytest.raises(KqlParseError, match="source must be"):
        kql(spark, "t | where x > 0 | union 1+1", tables={"t": df})


def test_reference_status_view_kql_runs_verbatim(spark, tmp_path):
    """The reference's ONE emitted KQL function — the externaldata
    status view (DatabaseGateway.cs:85-95) — runs through the parser
    against a real mirror's state checkpoint and agrees with the
    engine's own LWW view.  The reference reads CSV blobs; this
    engine's checkpoint is a Delta table, so the same query reads its
    parquet blobs (every row ever persisted, like the append blob)."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql
    from mirror_lake_kusto_spark.pipeline.orchestrate import MirrorPipeline
    from mirror_lake_kusto_spark.sources.delta_sink import DeltaSink

    src_path = str(tmp_path / "sv_src")
    state_dir = str(tmp_path / "sv_state")
    src = DeltaSink(spark, src_path)
    src.append(spark.range(20).toDF("id"))
    src.append(spark.range(20, 30).toDF("id"))
    p = MirrorPipeline(
        spark, src_path, str(tmp_path / "sv_dst"), state_dir,
        table_name="sv",
    )
    p.run_until_idle()
    src.delete("id < 5")
    p.run_until_idle()

    schema_decl = (
        "table_name:string, start_tx_id:long, end_tx_id:long, "
        "action:string, state:string, mirror_timestamp:string, "
        "delta_timestamp:string, blob_path:string, "
        "partition_values:string, size:long, record_count:long, "
        "partition_columns:string, schema:string, internal_state:string"
    )
    got = kql(
        spark,
        f"""
        externaldata({schema_decl})
        [
           '{state_dir}/*.parquet;impersonate'
        ]
        with(format='parquet')
        | summarize arg_max(mirror_timestamp, *)
            by table_name, start_tx_id, end_tx_id, action, blob_path
        | order by table_name asc, start_tx_id asc, action asc, blob_path asc
        | project table_name, start_tx_id, action, blob_path, state
        """,
    ).collect()
    expect = p.state.current_items("sv")
    assert [
        (r["table_name"], r["start_tx_id"], r["action"], r["blob_path"], r["state"])
        for r in got
    ] == [
        (r["table_name"], r["start_tx_id"], r["action"], r["blob_path"], r["state"])
        for r in expect
    ]
    assert all(r["state"] in ("Done", "Skipped") for r in got)


def test_externaldata_csv_skips_header(spark, tmp_path):
    """externaldata's CSV reader: declared schema, header row dropped
    with ignoreFirstRecord, RFC 4180 doubled quotes inside a cell."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    (tmp_path / "a.csv").write_text(
        'name,n,doc\nx,1,"{""k"":1}"\ny,2,\n'
    )
    got = kql(
        spark,
        f"""
        externaldata(name:string, n:long, doc:string)
        [ '{tmp_path}/*.csv;impersonate' ]
        with(format='csv', ignoreFirstRecord=true)
        | order by n asc
        """,
    ).collect()
    assert [tuple(r) for r in got] == [("x", 1, '{"k":1}'), ("y", 2, None)]


def test_parse_percentile_stdev(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v double")
    out = kql(
        spark,
        "t | summarize p50 = percentile(v, 50), sd = round(stdev(v), 4)",
        tables={"t": df},
    ).collect()[0]
    assert out.p50 == 50.5  # Kusto percent scale -> exact percentile
    assert abs(out.sd - 29.0115) < 1e-3


def test_translate_datetime_timespan_forms():
    from mirror_lake_kusto_spark.functions.kql_parse import translate_expr as T

    assert "3600000000" in T("bin(ts, 1h)")  # epoch-aligned µs floor
    assert T("bin(x, 10)") == "(FLOOR((x) / (10)) * (10))"
    assert T("bin(ts, time(30m))") == T("bin(ts, 30m)")
    assert T("x + 1d") == "x + INTERVAL '1' day"
    assert T("x + 1.5h") == "x + INTERVAL '5400' second"  # fractional -> s
    assert T("x - 500ms") == "x - INTERVAL '500' millisecond"
    assert T("s contains '30m'") == "contains(lower(s), '30m')"  # quoted safe
    assert T("now()") == "current_timestamp()"
    assert T("startofday(ts)") == "date_trunc('day', ts)"
    assert T("datetime_diff('day', a, b)") == "timestampdiff(day, b, a)"
    assert (
        T("ts between (datetime(2024-01-01) .. datetime(2024-02-01))")
        == "((ts >= TIMESTAMP'2024-01-01') AND (ts <= TIMESTAMP'2024-02-01'))"
    )
    assert T("x !between (1 .. 5)") == "NOT ((x >= 1) AND (x <= 5))"


def test_parse_datetime_bin_matches_date_trunc(spark):
    """bin(ts, 1h) must agree with Spark's own date_trunc on real data
    (both epoch-aligned for whole-hour widths)."""
    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.functions.kql_parse import kql
    from mirror_lake_kusto_spark.sources.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    got = kql(
        spark,
        "events | summarize n = count() by h = bin(ts, 1h) | order by h asc",
        tables={"events": ev},
    ).collect()
    ref = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
        .orderBy("h")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_parse_between_and_timespan_arith(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 06:00:00"),
         (3, "2024-01-02 00:00:01")],
        "id long, s string",
    ).selectExpr("id", "CAST(s AS TIMESTAMP) AS ts")
    out = kql(
        spark,
        "t | where ts between (datetime(2024-01-01) .. datetime(2024-01-01) + 1d)"
        " | project id",
        tables={"t": df},
    ).collect()
    assert sorted(r.id for r in out) == [1, 2]


def test_parse_let_statements(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 5.0)], "id long, v double"
    )
    # scalar let substitutes; tabular let resolves lazily; later lets
    # see earlier scalar bindings
    out = kql(
        spark,
        "let cutoff = 2; let big = t | where id >= cutoff; "
        "big | summarize s = sum(v)",
        tables={"t": df},
    ).first()
    assert out["s"] == 25.0


def test_parse_let_tabular_referenced_twice_and_union(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = kql(
        spark,
        "let a = t | where id == 1; a | union a | count",
        tables={"t": df},
    ).first()
    assert out["Count"] == 2


def test_parse_serialize_window_fns(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 5.0)], "id long, v double"
    )
    rows = kql(
        spark,
        "t | order by id asc | serialize"
        " | extend cum = row_cumsum(v), p = prev(v), nx = next(v),"
        " rn = row_number()",
        tables={"t": df},
    ).collect()
    got = [(r.id, r.cum, r.p, r.nx, r.rn) for r in rows]
    assert got == [
        (1, 10.0, None, 20.0, 1),
        (2, 30.0, 10.0, 5.0, 2),
        (3, 35.0, 20.0, None, 3),
    ]


def test_parse_serialized_fns_require_order(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(KqlParseError, match="order by"):
        kql(spark, "t | extend p = prev(id)", tables={"t": df})
    with pytest.raises(KqlParseError, match="order by"):
        kql(spark, "t | serialize", tables={"t": df})
    with pytest.raises(KqlParseError, match="end with a let"):
        kql(spark, "let a = 1; let b = 2", tables={"t": df})


def test_translate_json_and_case_forms():
    from mirror_lake_kusto_spark.functions.kql_parse import translate_expr as T

    assert T("extract('(\\d+)', 1, s)") == "regexp_extract(s, '(\\d+)', 1)"
    assert (
        T("extractjson('$.k', props)") == "get_json_object(props, '$.k')"
    )
    # dynamic access lowers onto VARIANT: one try_parse_json per bag
    # (shared via codegen subexpression elimination), O(binary) path
    # access — not a get_json_object re-parse per path
    assert T("tolong(todynamic(props).k)") == (
        "CAST(cast(try_variant_get(try_parse_json(props), '$.k') "
        "as string) AS BIGINT)"
    )
    assert T("parse_json(props).a.b") == (
        "cast(try_variant_get(try_parse_json(props), '$.a.b') as string)"
    )
    assert (
        T("case(x > 1, 'big', 'small')")
        == "(CASE WHEN x > 1 THEN 'big' ELSE 'small' END)"
    )
    assert T("array_length(split(s, ' '))") == "size(split(s, ' '))"


def test_parse_json_and_case_end_to_end(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, '{"k": 95}')], "id long, props string"
    )
    rows = kql(
        spark,
        "t | extend k = tolong(todynamic(props).k)"
        " | extend bucket = case(k >= 90, 'hot', 'cold')"
        " | project id, k, bucket | order by id asc",
        tables={"t": df},
    ).collect()
    assert [(r.id, r.k, r.bucket) for r in rows] == [
        (1, 5, "cold"),
        (2, 95, "hot"),
    ]


def test_parse_range_print_datatable_sources(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    assert [r.x for r in kql(spark, "range x from 1 to 5 step 2").collect()] == [1, 3, 5]
    # datetime axis, inclusive bounds
    days = kql(
        spark,
        "range d from datetime(2024-01-01) to datetime(2024-01-03) step 1d | count",
    ).first()
    assert days["Count"] == 3
    row = kql(spark, "print a = 1 + 1, b = strcat('x', 'y')").first()
    assert (row["a"], row["b"]) == (2, "xy")
    rows = kql(
        spark,
        "datatable(id: long, name: string) [1, 'a', 2, 'b'] | order by id asc",
    ).collect()
    assert [(r.id, r.name) for r in rows] == [(1, "a"), (2, "b")]


def test_parse_keep_reorder_getschema_as_hints(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(1, "a", 2.0)], "id long, k string, v double")
    t = {"t": df}
    # project-keep preserves the TABLE's column order
    assert kql(spark, "t | project-keep v, id", tables=t).columns == ["id", "v"]
    assert kql(spark, "t | project-reorder v", tables=t).columns == ["v", "id", "k"]
    schema = {(r.ColumnName, r.ColumnType) for r in kql(spark, "t | getschema", tables=t).collect()}
    assert schema == {("id", "bigint"), ("k", "string"), ("v", "double")}
    # `as` names the stream for reuse; hint.* tokens are dropped
    out = kql(
        spark,
        "t | as snap | join kind=inner (snap | project id) on id"
        " | summarize hint.shufflekey=id n = count() by id",
        tables=t,
    ).first()
    assert (out["id"], out["n"]) == (1, 1)


def test_parse_pivot_binat_withsource(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        kql,
        translate_expr as T,
    )

    # bin_at anchors bins to the given origin, not the epoch
    assert "unix_micros(TIMESTAMP'2024-01-01 12:00:00')" in T(
        "bin_at(ts, 1d, datetime(2024-01-01 12:00:00))"
    )
    assert T("bin_at(x, 10, 5)") == "(FLOOR(((x) - (5)) / (10)) * (10) + (5))"

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0), ("a", "x", 4.0)],
        "k string, p string, v double",
    )
    out = {
        r["k"]: (r["x"], r["y"])
        for r in kql(
            spark, "t | evaluate pivot(p, sum(v))", tables={"t": df}
        ).collect()
    }
    assert out == {"a": (5.0, 2.0), "b": (3.0, None)}
    u = {
        r["Src"]: r["n"]
        for r in kql(
            spark,
            "t | union withsource=Src (t | where k == 'b')"
            " | summarize n = count() by Src",
            tables={"t": df},
        ).collect()
    }
    assert u == {"t": 4, "source1": 1}


def test_parse_lookup_broadcasts_and_top_nested(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame(
        [("r1", "a", 10.0), ("r1", "b", 1.0), ("r1", "c", 5.0),
         ("r2", "a", 100.0), ("r3", "a", 1.0), ("r2", "b", 7.0)],
        "region string, prod string, v double",
    )
    dim = spark.createDataFrame([("a", "Alpha"), ("b", "Beta")],
                                "prod string, name string")
    t = {"t": df, "d": dim}
    enriched = kql(spark, "t | lookup kind=leftouter d on prod", tables=t)
    plan = spark._jvm.PythonSQLUtils.explainString(
        enriched._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan  # lookup = broadcast by contract
    assert enriched.filter("name IS NULL").count() == 1  # prod 'c'

    rows = kql(
        spark,
        "t | top-nested 2 of region by sum(v),"
        " top-nested 1 of prod by sum(v) | order by region asc",
        tables=t,
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("r1", 16.0, "a", 10.0),
        ("r2", 107.0, "a", 100.0),
    ]
    with pytest.raises(KqlParseError, match="sum/count/min/max"):
        kql(spark, "t | top-nested 2 of region by dcount(prod)", tables=t)


def test_parse_conditional_aggregates_and_renames(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        kql,
        translate_expr as T,
    )

    assert T("sumif(x, y > 1)") == "sum(x) FILTER (WHERE y > 1)"
    assert T("dcountif(k, p)") == "count(DISTINCT k) FILTER (WHERE p)"
    assert T("replace_string(s, 'a', 'b')") == "replace(s, 'a', 'b')"
    assert T("take_any(x)") == "any_value(x)"
    assert T("array_strcat(xs, ',')") == "array_join(xs, ',')"

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 5.0, "b")],
        "id long, v double, k string",
    )
    rows = kql(
        spark,
        "t | summarize s = sumif(v, id >= 2), m = maxif(v, k == 'a'),"
        " d = dcountif(id, v > 6), lst = make_list_if(id, v > 6) by k"
        " | order by k asc",
        tables={"t": df},
    ).collect()
    assert [(r.k, r.s, r.m, r.d, sorted(r.lst)) for r in rows] == [
        ("a", 20.0, 20.0, 2, [1, 2]),
        ("b", 5.0, None, 0, []),
    ]


def test_parse_bag_unpack(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame(
        [
            (1, '{"a": 1, "b": "x", "c": 1.5, "d": true}'),
            (2, '{"a": 2, "e": "late-key"}'),
            (3, None),
        ],
        "id long, props string",
    )
    out = kql(
        spark, "t | evaluate bag_unpack(props) | order by id asc",
        tables={"t": df},
    )
    assert out.columns == ["id", "a", "b", "c", "d", "e"]
    types = dict(out.dtypes)
    assert types["a"] == "bigint" and types["c"] == "double"
    assert types["d"] == "boolean" and types["e"] == "string"
    rows = out.collect()
    assert (rows[0]["a"], rows[0]["d"], rows[0]["e"]) == (1, True, None)
    assert (rows[1]["a"], rows[1]["e"]) == (2, "late-key")
    assert rows[2]["a"] is None  # null bag -> all-null row survives
    # prefix form
    pre = kql(spark, "t | evaluate bag_unpack(props, 'p_')", tables={"t": df})
    assert "p_a" in pre.columns
    with pytest.raises(KqlParseError, match="no JSON objects"):
        kql(
            spark,
            "t | evaluate bag_unpack(id2)",
            tables={"t": df.selectExpr("CAST(id AS STRING) AS id2")},
        )


# -- parse / search / sample / top-hitters -----------------------------------


def test_parse_simple_extracts_typed_columns(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("FTP: alice:42 done",), ("FTP: bob:7 done",), ("garbage",)],
        "msg string",
    )
    out = kql(
        spark,
        "t | parse msg with 'FTP: ' user ':' n:long ' done'",
        tables={"t": df},
    ).collect()
    got = {(r.user, r.n) for r in out}
    assert ("alice", 42) in got and ("bob", 7) in got
    # non-matching row survives parse with empty/null extractions
    assert len(out) == 3
    bad = [r for r in out if r.msg == "garbage"][0]
    assert bad.user == "" and bad.n is None


def test_parse_where_drops_nonmatching(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("x=1",), ("x=2",), ("nope",)], "line string"
    )
    out = kql(
        spark, "t | parse-where line with 'x=' v:int", tables={"t": df}
    ).collect()
    assert sorted(r.v for r in out) == [1, 2]


def test_parse_kind_regex(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([("id: 007 end",)], "s string")
    out = kql(
        spark,
        r"t | parse kind=regex s with 'id:\s+' code:long ' end'",
        tables={"t": df},
    ).collect()
    assert out[0].code == 7


def test_search_across_string_columns(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "Alpha", "x"), (2, "beta", "ALPHA"), (3, "gamma", "y")],
        "id long, a string, b string",
    )
    out = kql(spark, "t | search 'alpha'", tables={"t": df}).collect()
    assert sorted(r.id for r in out) == [1, 2]


def test_sample_and_sample_distinct_deterministic(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, g long")
    s1 = kql(spark, "t | sample 5", tables={"t": df}).collect()
    s2 = kql(spark, "t | sample 5", tables={"t": df}).collect()
    assert len(s1) == 5 and sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    sd = kql(spark, "t | sample-distinct 2 of g", tables={"t": df}).collect()
    assert len(sd) == 2 and len({r.g for r in sd}) == 2


def test_top_hitters_count_and_sum(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 10), ("b", 10), ("c", 100)],
        "k string, v long",
    )
    byc = kql(spark, "t | top-hitters 2 of k", tables={"t": df}).collect()
    assert [(r.k, r.approximate_count_k) for r in byc] == [("a", 3), ("b", 2)]
    bys = kql(spark, "t | top-hitters 1 of k by v", tables={"t": df}).collect()
    assert bys[0].k == "c" and bys[0].approximate_sum_v == 100


def test_string_scalar_rewrites(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([("hello world", "l")], "s string, sub string")
    out = kql(
        spark,
        "t | extend sub2 = substring(s, 0, 5), ix = indexof(s, 'world'), "
        "n = countof(s, 'l'), nn = isnotnull(s), z = isnull(s), "
        "h = hash(s, 100)",
        tables={"t": df},
    ).collect()[0]
    assert out.sub2 == "hello"
    assert out.ix == 6
    assert out.n == 3
    assert out.nn is True and out.z is False
    assert 0 <= out.h < 100


def test_in_ci_and_has_any_all(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "Widget PROMO pack"), (2, "plain box"), (3, "PROMO and BONUS")],
        "id long, s string",
    )
    out = kql(
        spark, "t | where s has_any ('promo', 'bonus')", tables={"t": df}
    ).collect()
    assert sorted(r.id for r in out) == [1, 3]
    out = kql(
        spark, "t | where s has_all ('promo', 'bonus')", tables={"t": df}
    ).collect()
    assert [r.id for r in out] == [3]
    df2 = spark.createDataFrame([("Apple",), ("pear",)], "f string")
    out = kql(spark, "t | where f in~ ('APPLE', 'plum')", tables={"t": df2})
    assert [r.f for r in out.collect()] == ["Apple"]


def test_array_index_of_zero_based(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(1,)], "id long")
    out = kql(
        spark,
        "t | extend a = array_index_of(split('x,y,z', ','), 'y'), "
        "miss = array_index_of(split('x,y,z', ','), 'q')",
        tables={"t": df},
    ).collect()[0]
    assert out.a == 1 and out.miss == -1


def test_mv_apply_summarize_per_row(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "a", [1, 2, 3]), (2, "b", [10, 20])],
        "id long, k string, xs array<long>",
    )
    out = kql(
        spark,
        "t | mv-apply x = xs on ( where x > 1 | summarize s = sum(x), n = count() )"
        " | project id, k, s, n | order by id asc",
        tables={"t": df},
    ).collect()
    assert [(r.id, r.k, r.s, r.n) for r in out] == [(1, "a", 5, 2), (2, "b", 30, 2)]


def test_mv_apply_top_per_row(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, [5, 9, 2]), (2, [7, 1])], "id long, xs array<long>"
    )
    out = kql(
        spark,
        "t | mv-apply x = xs on ( top 1 by x ) | project id, x | order by id asc",
        tables={"t": df},
    ).collect()
    assert [(r.id, r.x) for r in out] == [(1, 9), (2, 7)]


def test_mv_apply_same_name_and_extend(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(1, [1, 2])], "id long, xs array<long>")
    out = kql(
        spark,
        "t | mv-apply xs on ( extend y = xs * 10 | summarize m = max(y) )",
        tables={"t": df},
    ).collect()
    assert out[0].m == 20 and out[0].id == 1


def test_mv_apply_rejects_unknown_inner_verb(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame([(1, [1])], "id long, xs array<long>")
    with pytest.raises(KqlParseError, match="unsupported inner verb"):
        kql(spark, "t | mv-apply x = xs on ( join y )", tables={"t": df})


def test_series_functions_in_kql_strings(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, [None, 10.0, None, 40.0]), (2, [5.0, None, None, None])],
        "id long, arr array<double>",
    )
    out = kql(
        spark,
        "t | extend ff = series_fill_forward(arr), "
        "fb = series_fill_backward(arr), "
        "fc = series_fill_const(arr, -1.5), "
        "lin = series_fill_linear(arr) "
        "| project id, ff, fb, fc, lin | order by id asc",
        tables={"t": df},
    ).collect()
    assert out[0].ff == [None, 10.0, 10.0, 40.0]
    assert out[0].fb == [10.0, 10.0, 40.0, 40.0]
    assert out[0].fc == [-1.5, 10.0, -1.5, 40.0]
    assert out[0].lin == [10.0, 10.0, 25.0, 40.0]
    assert out[1].ff == [5.0, 5.0, 5.0, 5.0]
    assert out[1].fb == [5.0, None, None, None]
    assert out[1].fc == [5.0, -1.5, -1.5, -1.5]


def test_series_outliers_in_kql_make_series_chain(spark):
    import datetime as dt

    from mirror_lake_kusto_spark.functions.kql_parse import kql

    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(hours=i), float(v))
            for i, v in enumerate([1, 2, 1, 2, 100, 2, 1, 2])]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = kql(
        spark,
        "t | make-series total = sum(v) default = 0 on ts "
        "from datetime(2024-01-01) to datetime(2024-01-01 08:00:00) step 1h"
        " | extend sc = series_outliers(total)",
        tables={"t": df},
    ).collect()[0]
    peak = max(out.sc)
    assert out.sc.index(peak) == 4  # the planted spike scores highest


def test_toscalar_let_binding(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0)], "id long, v double"
    )
    out = kql(
        spark,
        "let hi = toscalar(t | summarize max(v));"
        "t | where v >= hi * 0.6 | project id | order by id asc",
        tables={"t": df},
    ).collect()
    assert [r.id for r in out] == [2, 3]
    # string scalar binds quoted
    out2 = kql(
        spark,
        "let who = toscalar(t | where id == 2 | project s = tostring(id));"
        "t | where tostring(id) == who | project v",
        tables={"t": df},
    ).collect()
    assert out2[0].v == 30.0


def test_mv_apply_single_rowid_evaluation_no_selfjoin(spark):
    """mv-apply's row id (monotonically_increasing_id) is
    nondeterministic across evaluations, so the plan must evaluate it
    exactly once — outer columns carried through the inner pipeline,
    never joined back to a second evaluation of the tagged frame."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, "x", [3.0, 1.0, 2.0]), (2, "y", [5.0, 4.0])],
        "id long, tag string, arr array<double>",
    )
    out = kql(
        spark,
        "t | mv-apply v = arr on (summarize s = sum(v), n = count())",
        tables={"t": df},
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert plan.count("monotonically_increasing_id") <= 1
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan, f"mv-apply plan self-joins via {join}"
    rows = {r["id"]: (r["tag"], r["s"], r["n"]) for r in out.collect()}
    assert rows == {1: ("x", 6.0, 3), 2: ("y", 9.0, 2)}


# -- round-3 surface: partition / facet / scalar batch -----------------------


def test_partition_by_cap_raises(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS g")
    with pytest.raises(KqlParseError, match="more than 64"):
        kql(spark, "t | partition by g (take 1)", tables={"t": df})


def test_partition_by_runs_inner_pipeline_per_key(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 2), ("b", 9), ("c", 4)], "g string, v int"
    )
    out = kql(
        spark,
        "t | partition by g (summarize mx = max(v) | extend tag = strcat('k', tostring(mx)))",
        tables={"t": df},
    ).collect()
    assert sorted((r["mx"], r["tag"]) for r in out) == [
        (4, "k4"), (5, "k5"), (9, "k9")
    ]


def test_facet_with_subquery_raises(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame([("a", 1)], "g string, v int")
    with pytest.raises(KqlParseError, match="facet .* unsupported"):
        kql(spark, "t | facet by g with (take 1)", tables={"t": df})


def test_scalar_batch_values(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    got = kql(
        spark,
        """
        print s = split('a.b.c', '.', 2),
              t = trim('-', '--x--'),
              p = pack('k', 1),
              u = set_union(pack_array(1,2), pack_array(2,3)),
              sl = array_slice(pack_array(10,20,30), 1, 2),
              h = tohex(255),
              b = base64_decode_tostring(base64_encode_tostring('ok')),
              r = strrep('ab', 2),
              ra = repeat(7, 2),
              m = max_of(1, 9, 4),
              tr = translate('ab', 'xy', 'aabb'),
              da = datetime_add('day', 1, datetime(2024-02-28))
        """,
    ).collect()[0]
    assert got["s"] == "c"
    assert got["t"] == "x"
    assert got["p"] == '{"k":1}'
    assert got["u"] == [1, 2, 3]
    assert got["sl"] == [20, 30]
    assert got["h"] == "ff"
    assert got["b"] == "ok"
    assert got["r"] == "abab"
    assert got["ra"] == [7, 7]
    assert got["m"] == 9
    assert got["tr"] == "xxyy"
    assert str(got["da"]).startswith("2024-02-29")


def test_scan_two_step_funnel_with_restart(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    rows = [
        (1, "signup"), (2, "signup"), (3, "purchase"),  # match 1: 2,3
        (4, "purchase"),                                # no active seq
        (5, "noise"), (6, "signup"), (7, "purchase"),   # match 2: 6,7
        (8, "signup"),                                  # never completes
    ]
    df = spark.createDataFrame(rows, "seq long, kind string")
    out = kql(
        spark,
        """
        t
        | order by seq asc
        | scan with_match_id=mid with (
            step started: kind == 'signup';
            step converted: kind == 'purchase'; )
        """,
        tables={"t": df},
    ).collect()
    got = sorted((r["seq"], r["_scan_step"], r["mid"]) for r in out)
    assert got == [
        (2, "started", 1), (3, "converted", 1),
        (6, "started", 2), (7, "converted", 2),
    ]


def test_scan_three_step_restart_mid_sequence(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    rows = [(1, "a"), (2, "b"), (3, "a"), (4, "b"), (5, "c")]
    df = spark.createDataFrame(rows, "seq long, kind string")
    out = kql(
        spark,
        """
        t
        | order by seq asc
        | scan with (
            step s1: kind == 'a';
            step s2: kind == 'b';
            step s3: kind == 'c'; )
        """,
        tables={"t": df},
    ).collect()
    # the 'a' at seq=3 restarts the buffer mid-sequence
    assert sorted((r["seq"], r["_scan_step"]) for r in out) == [
        (3, "s1"), (4, "s2"), (5, "s3")
    ]


def test_scan_error_paths(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame([(1, "a")], "seq long, kind string")
    with pytest.raises(KqlParseError, match="declare"):
        kql(
            spark,
            "t | order by seq asc | scan declare (n:long) with (step s: kind == 'a';)",
            tables={"t": df},
        )
    with pytest.raises(KqlParseError, match="order by"):
        kql(spark, "t | scan with (step s: kind == 'a';)", tables={"t": df})
    with pytest.raises(KqlParseError, match="assignments"):
        kql(
            spark,
            "t | order by seq asc | scan with (step s: kind == 'a' => n = 1;)",
            tables={"t": df},
        )


def test_join_innerunique_dedups_left(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    left = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k long, v string")
    right = spark.createDataFrame([(1, "r1"), (2, "r2")], "k long, r string")
    out = kql(
        spark, "l | join kind=innerunique (r) on k", tables={"l": left, "r": right}
    ).collect()
    assert sorted((row["k"], row["r"]) for row in out) == [(1, "r1"), (2, "r2")]


def test_join_rightsemi_rightanti(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(2, "b"), (3, "c")], "k long, r string")
    semi = kql(spark, "l | join kind=rightsemi (r) on k", tables={"l": left, "r": right})
    assert [tuple(r) for r in semi.collect()] == [(2, "b")]
    assert semi.columns == ["k", "r"]  # right table's columns
    anti = kql(spark, "l | join kind=rightanti (r) on k", tables={"l": left, "r": right})
    assert [tuple(r) for r in anti.collect()] == [(3, "c")]


def test_evaluate_narrow_requires_order(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(KqlParseError, match="order by"):
        kql(spark, "t | evaluate narrow()", tables={"t": df})
    out = kql(
        spark, "t | order by id asc | evaluate narrow()", tables={"t": df}
    ).collect()
    assert sorted((r["Row"], r["Column"], r["Value"]) for r in out) == [
        (1, "id", "1"), (1, "s", "a")
    ]


def test_let_materialize_caches_subquery(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v long"
    )
    out = kql(
        spark,
        """
        let agg = materialize(t | summarize s = sum(v) by k);
        agg | join kind=inner (agg | project k, s2 = s) on k | order by k asc
        """,
        tables={"t": df},
    )
    rows = [(r["k"], r["s"], r["s2"]) for r in out.collect()]
    assert rows == [("a", 3, 3), ("b", 3, 3)]
    # the one-shot frame backs both references: the plan reads the
    # eagerly-materialized snapshot (localCheckpoint since round 9 —
    # blocks free with the frame's GC, unlike a session-lifetime
    # persist), never the source twice
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "ExistingRDD" in plan or "InMemory" in plan
    # and the aggregation ran ONCE at let-time: neither join input
    # re-derives it (no HashAggregate below the join)
    assert "HashAggregate" not in plan


def test_scan_state_survives_arrow_batch_boundaries(spark):
    """The scan automaton's closure state must carry across Arrow
    batches within the single ordered partition: force tiny batches
    and match a sequence that straddles them."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(i, "noise") for i in range(200)]
        rows[3] = (3, "start")      # batch 1
        rows[150] = (150, "finish") # many batches later
        df = spark.createDataFrame(rows, "seq long, kind string")
        out = kql(
            spark,
            """
            t
            | order by seq asc
            | scan with_match_id=m with (
                step a: kind == 'start';
                step b: kind == 'finish'; )
            """,
            tables={"t": df},
        ).collect()
        assert sorted((r["seq"], r["_scan_step"]) for r in out) == [
            (3, "a"), (150, "b")
        ]
        assert {r["m"] for r in out} == {1}
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_scan_composes_under_partition_by(spark):
    """The documented distributed-scan pattern: per-entity sequences
    via partition by (entity) ( sort | scan ... )."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    rows = [
        ("u1", 1, "signup"), ("u1", 2, "purchase"),
        ("u2", 1, "purchase"),  # no signup first -> no match
        ("u3", 1, "signup"), ("u3", 2, "noise"), ("u3", 3, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user string, seq long, kind string")
    out = kql(
        spark,
        """
        t
        | partition by user (
            order by seq asc
            | scan with (
                step s: kind == 'signup';
                step p: kind == 'purchase'; ) )
        | project user, seq, _scan_step
        """,
        tables={"t": df},
    ).collect()
    got = sorted((r["user"], r["seq"], r["_scan_step"]) for r in out)
    assert got == [
        ("u1", 1, "s"), ("u1", 2, "p"), ("u3", 1, "s"), ("u3", 3, "p")
    ]


def test_invoke_lambda_function(spark):
    """let f = (T:(*), args...) { body }; T | invoke f(...) — the
    Kusto user-function idiom.  Declared defaults fill omitted
    trailing arguments; the call is one declarative plan."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("R", 5), ("R", 9), ("A", 50), ("R", 2)], "f string, qty long"
    )
    out = kql(
        spark,
        """
        let big = (T:(*), lo:long, flag:string = 'R') {
            T | where qty >= lo and f == flag
              | summarize n = count(), s = sum(qty)
        };
        t | invoke big(5)
        """,
        tables={"t": df},
    ).collect()
    assert [(r["n"], r["s"]) for r in out] == [(2, 14)]
    out2 = kql(
        spark,
        """
        let big = (T:(*), lo:long, flag:string = 'R') {
            T | where qty >= lo and f == flag | summarize n = count()
        };
        t | invoke big(1, 'A')
        """,
        tables={"t": df},
    ).collect()
    assert out2[0]["n"] == 1


def test_invoke_errors_are_loud(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import KqlParseError, kql

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(KqlParseError, match="unknown function"):
        kql(spark, "t | invoke nosuch()", tables={"t": df})
    with pytest.raises(KqlParseError, match="tabular first parameter"):
        kql(
            spark,
            "let f = (n:long) { t }; t | invoke f(1)",
            tables={"t": df},
        )
    with pytest.raises(KqlParseError, match="missing argument"):
        kql(
            spark,
            "let f = (T:(*), n:long) { T | where x > n }; t | invoke f()",
            tables={"t": df},
        )


def test_invoke_binding_restored_after_call(spark):
    """A tabular parameter shadowing an existing let binding must not
    clobber it — later references see the original."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    out = kql(
        spark,
        """
        let T = t | where x >= 2;
        let f = (T:(*)) { T | summarize n = count() };
        let ignored = t | invoke f();
        T | summarize m = count()
        """,
        tables={"t": df},
    ).collect()
    assert out[0]["m"] == 2


def test_invoke_string_literals_survive_substitution(spark):
    """A literal containing a parameter's name must not be rewritten."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(5,)], "x long")
    out = kql(
        spark,
        """
        let f = (T:(*), n:long) {
            T | extend lbl = strcat('n=', tostring(n)) | where x >= n
        };
        t | invoke f(5)
        """,
        tables={"t": df},
    ).collect()
    assert out[0]["lbl"] == "n=5"


def test_top_nested_with_others_nested_bucket(spark):
    """The others bucket is a real group: deeper levels run inside it."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    rows = [
        ("x", "a", 5), ("x", "b", 3), ("x", "c", 1),
        ("y", "a", 9), ("y", "d", 2),
    ]
    df = spark.createDataFrame(rows, "g string, k string, v long")
    out = kql(
        spark,
        """
        t
        | top-nested 1 of g by gs = sum(v),
          top-nested 1 of k with others = 'rest' by s = sum(v)
        """,
        tables={"t": df},
    ).collect()
    got = sorted((r["g"], r["gs"], r["k"], r["s"]) for r in out)
    assert got == [("y", 11, "a", 9), ("y", 11, "rest", 2)]


def test_fork_multi_results(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
        kql_multi,
    )

    df = spark.createDataFrame(
        [("a", 1), ("b", 5), ("a", 3)], "k string, v long"
    )
    out = kql_multi(
        spark,
        """
        t
        | fork
            (where k == 'a' | summarize n = count())
            (big = (where v >= 3 | project k, v))
        """,
        tables={"t": df},
    )
    assert set(out) == {"fork_1", "big"}
    assert out["fork_1"].collect()[0]["n"] == 2
    assert sorted((r["k"], r["v"]) for r in out["big"].collect()) == [
        ("a", 3), ("b", 5)
    ]
    # the single-result API refuses multi-output queries loudly
    with pytest.raises(KqlParseError, match="kql_multi"):
        kql(spark, "t | fork (count) (project k)", tables={"t": df})
    # fork-less kql_multi wraps the single result
    single = kql_multi(spark, "t | count", tables={"t": df})
    assert list(single) == ["result"]


def test_case_sensitivity_operator_family(spark):
    """Kusto's case rules: unsuffixed has/contains/startswith are
    case-INsensitive, the _cs variants sensitive, and =~/!~ compare
    strings case-insensitively."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("Hello World",), ("hello world",), ("HELLO planet",)],
        "s string",
    )

    def run(q):
        return sorted(
            r["s"] for r in kql(spark, q, tables={"t": df}).collect()
        )

    assert len(run("t | where s has 'hello'")) == 3
    assert run("t | where s has_cs 'hello'") == ["hello world"]
    assert run("t | where s contains_cs 'Hello'") == ["Hello World"]
    assert run("t | where s startswith_cs 'Hello'") == ["Hello World"]
    assert run("t | where s =~ 'hello world'") == [
        "Hello World", "hello world"
    ]
    assert run("t | where s !~ 'hello world'") == ["HELLO planet"]


def test_scalar_batch_round3b(spark):
    """array math, crypto hashes, strcmp, url bag, exp10, isfinite."""
    import hashlib

    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], "b", "https://h.example:8080/p/q?x=1#frag")],
        "xs array<double>, s string, u string",
    )
    out = kql(
        spark,
        """
        t
        | extend total = array_sum(xs), mean = array_avg(xs),
                 sha = hash_sha256(s), cmp1 = strcmp('a', s),
                 cmp2 = strcmp(s, s), e10 = exp10(2.0),
                 fin = isfinite(1.5), inf = isinf(1.5),
                 enc = url_encode('a b'), dec = url_decode('a%20b'),
                 bag = parse_url(u)
        | project total, mean, sha, cmp1, cmp2, e10, fin, inf, enc, dec,
                  host = extractjson('$.Host', bag),
                  port = extractjson('$.Port', bag)
        """,
        tables={"t": df},
    ).collect()[0]
    assert out["total"] == 6.0 and out["mean"] == 2.0
    assert out["sha"] == hashlib.sha256(b"b").hexdigest()
    assert (out["cmp1"], out["cmp2"]) == (-1, 0)
    assert out["e10"] == 100.0
    assert out["fin"] is True and out["inf"] is False
    assert out["enc"] == "a+b" and out["dec"] == "a b"
    assert out["host"] == "h.example" and out["port"] == "8080"


def test_has_metacharacters_are_literal(spark):
    """Term operators must treat regex metacharacters as literal text
    (the SQL literal layer eats one level of backslashes — pinned)."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("a.b",), ("aXb",), ("f(x) call",), ("fx call",)], "s string"
    )
    t = {"t": df}
    assert [
        r["s"] for r in kql(spark, "t | where s has 'a.b'", tables=t).collect()
    ] == ["a.b"]
    assert [
        r["s"]
        for r in kql(spark, "t | where s has_cs 'f(x)'", tables=t).collect()
    ] == ["f(x) call"]


def test_cieq_quote_aware_and_operand_strict(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("Hello", "A =~ B"), ("world", "x")], "s string, lit string"
    )
    t = {"t": df}
    # =~ inside a function call captures the identifier, not 'iif(name'
    out = kql(
        spark, "t | extend f = iif(s =~ 'HELLO', 1, 0) | project f", tables=t
    ).collect()
    assert [r["f"] for r in out] == [1, 0]
    # '=~' inside a string literal survives untouched
    assert [
        r["s"]
        for r in kql(spark, "t | where lit == 'A =~ B'", tables=t).collect()
    ] == ["Hello"]


def test_fork_named_legs_and_guards(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql_multi,
    )

    df = spark.createDataFrame([(1, "x")], "id long, s string")
    out = kql_multi(
        spark,
        "t | fork aaa = (where id > 0) "
        "bbb = (extend p = strcat(s, ')') | count)",
        tables={"t": df},
    )
    assert sorted(out) == ["aaa", "bbb"]
    assert out["bbb"].collect()[0][0] == 1
    with pytest.raises(KqlParseError, match="after fork"):
        kql_multi(spark, "t | fork (count) | take 5", tables={"t": df})


def test_top_nested_others_label_collision(spark):
    """A genuine key equal to the others label stays its own row."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [("Other", 10), ("b", 7), ("c", 2), ("d", 1)], "k string, v long"
    )
    out = kql(
        spark,
        "t | top-nested 2 of k with others = 'Other' by s = sum(v)",
        tables={"t": df},
    ).collect()
    assert sorted((r["k"], r["s"]) for r in out) == [
        ("Other", 3), ("Other", 10), ("b", 7)
    ]


def test_strcmp_null_propagates(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(None,), ("a",)], "s string")
    out = kql(
        spark, "t | extend c = strcmp(s, 'a')", tables={"t": df}
    ).collect()
    got = {r["s"]: r["c"] for r in out}
    assert got[None] is None and got["a"] == 0


def test_externaldata_json_and_parquet(spark, tmp_path):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    jl = tmp_path / "rows.json"
    jl.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    out = kql(
        spark,
        f"externaldata(a:long, b:string) ['{jl}'] with(format='json')"
        " | order by a asc",
        tables={},
    ).collect()
    assert [(r["a"], r["b"]) for r in out] == [(1, "x"), (2, "y")]
    pq_dir = str(tmp_path / "rows_pq")
    spark.createDataFrame([(3, "z")], "a long, b string").write.parquet(pq_dir)
    out2 = kql(
        spark,
        f"externaldata(a:long, b:string) ['{pq_dir}'] "
        "with(format='parquet') | count",
        tables={},
    ).collect()
    assert out2[0][0] == 1


def test_series_stats_dynamic(spark):
    import json as _json

    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([([4.0, 1.0, 7.0, 2.0],)], "xs array<double>")
    out = kql(
        spark,
        "t | extend b = series_stats_dynamic(xs) | project b",
        tables={"t": df},
    ).collect()[0]["b"]
    bag = _json.loads(out)
    assert bag["min"] == 1.0 and bag["min_idx"] == 1
    assert bag["max"] == 7.0 and bag["max_idx"] == 2
    assert abs(bag["avg"] - 3.5) < 1e-9
    assert abs(bag["variance"] - 5.25) < 1e-9


def test_pack_all_array_iff_bag_merge(spark):
    import json as _json

    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([(1, "x")], "a long, b string")
    row = kql(
        spark, "t | extend bag = pack_all() | project bag", tables={"t": df}
    ).collect()[0]
    assert _json.loads(row["bag"]) == {"a": 1, "b": "x"}

    df2 = spark.createDataFrame(
        [([True, False, True], [1, 2, 3], [9, 8, 7])],
        "c array<boolean>, t array<long>, f array<long>",
    )
    out = kql(
        spark,
        "t | extend r = array_iff(c, t, f) | project r",
        tables={"t": df2},
    ).collect()[0]["r"]
    assert list(out) == [1, 8, 3]

    df3 = spark.createDataFrame(
        [('{"a": "1", "b": "2"}', '{"b": "ZZ", "c": "3"}')],
        "x string, y string",
    )
    merged = kql(
        spark,
        "t | extend m = bag_merge(x, y) | project m",
        tables={"t": df3},
    ).collect()[0]["m"]
    # Kusto keeps the FIRST bag's value on key collision
    assert _json.loads(merged) == {"a": "1", "b": "2", "c": "3"}


def test_array_iff_edge_cases_and_variadic_bag_merge(spark):
    import json as _json

    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    df = spark.createDataFrame(
        [([], [1], [9]), ([True, True, False], [1], [9, 8, 7])],
        "c array<boolean>, t array<long>, f array<long>",
    )
    out = kql(
        spark, "t | extend r = array_iff(c, t, f) | project r", tables={"t": df}
    ).collect()
    # empty condition -> []; short value array null-pads (Kusto)
    assert [list(r["r"]) for r in out] == [[], [1, None, 7]]
    out2 = kql(
        spark, "t | extend r = array_iff(c, 1, 0) | project r", tables={"t": df}
    ).collect()
    assert [list(r["r"]) for r in out2] == [[], [1, 1, 0]]
    df3 = spark.createDataFrame(
        [('{"a":"1"}', '{"b":"2"}', '{"a":"X","c":"3"}')],
        "x string, y string, z string",
    )
    m = kql(
        spark, "t | extend m = bag_merge(x, y, z) | project m", tables={"t": df3}
    ).collect()[0]["m"]
    assert _json.loads(m) == {"a": "1", "b": "2", "c": "3"}
    with pytest.raises(KqlParseError, match="pack_all"):
        kql(spark, "t | extend p = pack_all(true)", tables={"t": df3})
    with pytest.raises(KqlParseError, match="at least two"):
        kql(spark, "t | extend m = bag_merge(x)", tables={"t": df3})


def test_comments_stripped_outside_strings_only(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(1,)], "id long")
    out = kql(
        spark,
        "T // trailing comment\n"
        "| extend u = 'https://x.com/p' // another\n"
        "| project u",
        tables={"T": t},
    ).first()
    assert out["u"] == "https://x.com/p"


def test_dynamic_literals(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(1,)], "id long")

    def one(e):
        return kql(
            spark, f"T | extend r = {e} | project r", tables={"T": t}
        ).first()["r"]

    assert one("dynamic([1, 2, 3])") == [1, 2, 3]
    assert one("dynamic([[1,2],[3]])") == [[1, 2], [3]]
    assert one("dynamic(['a', 'b'])") == ["a", "b"]
    assert one('dynamic({"a": 1})') == '{"a": 1}'


def test_round4_scalar_batch(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(1, "hello world")], "id long, s string")
    cases = {
        "countof_regex(s, 'l+')": 2,
        "array_rotate_left(dynamic([1,2,3]), 1)": [2, 3, 1],
        "array_rotate_right(dynamic([1,2,3]), 1)": [3, 1, 2],
        "array_rotate_left(dynamic([1,2,3]), -1)": [3, 1, 2],
        "array_shift_left(dynamic([1,2,3]), 1)": [2, 3, None],
        "array_shift_left(dynamic([1,2,3]), -1)": [None, 1, 2],
        "array_shift_right(dynamic([1,2,3]), 1, 0)": [0, 1, 2],
        "array_split(dynamic([1,2,3,4]), 2)": [[1, 2], [3, 4]],
        "set_has_element(dynamic([1,2]), 2)": True,
        "week_of_year(todatetime('2024-01-04'))": 1,
        "tostring(endofday(todatetime('2024-01-02 05:00:00')))":
            "2024-01-02 23:59:59.999999",
        "tostring(endofmonth(todatetime('2024-02-02')))":
            "2024-02-29 23:59:59.999999",
        "isascii('abc')": True,
        "isutf8('x')": True,
        "tostring(parse_version('1.2.3.4'))":
            "1000000020000000300000004",
        "parse_ipv4('192.168.1.1')": 3232235777,
        "ipv4_is_private('10.0.0.1')": True,
        "ipv4_is_private('8.8.8.8')": False,
        "ipv4_is_in_range('192.168.1.5', '192.168.1.0/24')": True,
        "ipv4_is_in_range('192.168.2.5', '192.168.1.0/24')": False,
        "extract_all('(l+)', s)": ["ll", "l"],
        "zip(dynamic([1,2]), dynamic([3,4]))": [[1, 3], [2, 4]],
        "repeat_string('ab', 2)": "abab",
        "strlen(new_guid()) = 36": True,
        'bag_remove_keys(dynamic({"a": 1, "b": 2}), dynamic([\'a\']))':
            '{"b":"2"}',
    }
    for e, want in cases.items():
        got = kql(
            spark, f"T | extend r = {e} | project r", tables={"T": t}
        ).first()["r"]
        assert got == want, f"{e}: got {got!r} want {want!r}"
    jac = kql(
        spark,
        "T | extend r = jaccard_index(dynamic([1,2]), dynamic([2,3])) "
        "| project r",
        tables={"T": t},
    ).first()["r"]
    assert abs(jac - 1 / 3) < 1e-12


def test_round4_aggregate_batch(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", 3.0), (3, "b", 5.0)],
        "id long, g string, v double",
    )

    def one(agg):
        return {
            r["g"]: r["r"]
            for r in kql(
                spark, f"T | summarize r = {agg} by g", tables={"T": t}
            ).collect()
        }

    assert one("percentiles(v, 0, 100)") == {"a": [2.0, 3.0], "b": [5.0, 5.0]}
    assert one("stdevp(v)") == {"a": 0.5, "b": 0.0}
    assert one("variancep(v)") == {"a": 0.25, "b": 0.0}
    assert one("make_list(v, 1)") == {"a": [2.0], "b": [5.0]}
    assert one("make_set_if(g, v > 2)") == {"a": ["a"], "b": ["b"]}
    assert one("take_anyif(id, v > 2)") == {"a": 2, "b": 3}
    assert one("binary_all_or(id)") == {"a": 3, "b": 3}
    assert one("binary_all_and(id)") == {"a": 0, "b": 3}
    assert one("binary_all_xor(id)") == {"a": 3, "b": 3}
    assert one("count_distinctif(g, v > 2)") == {"a": 1, "b": 1}
    assert one("make_bag(pack('k', g))") == {
        "a": '{"k":"a"}',
        "b": '{"k":"b"}',
    }
    # HLL sketch round trip: build -> merge -> estimate
    d = kql(
        spark,
        "T | summarize h = hll(g) by g "
        "| summarize m = hll_merge(h) | project d = dcount_hll(m)",
        tables={"T": t},
    ).first()["d"]
    assert d == 2


def test_not_in_and_nulls_modifier(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, g string"
    )
    assert (
        kql(spark, "T | where g !in ('a') | count", tables={"T": t}).first()[
            "Count"
        ]
        == 1  # NULL never matches a NOT IN, SQL three-valued logic
    )
    rows = kql(
        spark, "T | order by g desc nulls first | project id", tables={"T": t}
    ).collect()
    assert [r["id"] for r in rows] == [3, 2, 1]
    rows = kql(
        spark, "T | top 3 by g asc nulls last | project id", tables={"T": t}
    ).collect()
    assert [r["id"] for r in rows] == [1, 2, 3]


def test_row_rank_functions(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 20.0)], "id long, v double"
    )
    rows = kql(
        spark,
        "T | order by v asc, id asc "
        "| extend d = row_rank_dense(v), m = row_rank_min(v) "
        "| project id, d, m",
        tables={"T": t},
    ).collect()
    got = {r["id"]: (r["d"], r["m"]) for r in rows}
    assert got == {1: (1, 1), 2: (1, 1), 3: (2, 3)}


def test_column_ifexists(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(1, 5.0)], "id long, v double")
    got = kql(
        spark,
        "T | extend c = column_ifexists('v', 0.0) | project c",
        tables={"T": t},
    ).first()["c"]
    assert got == 5.0
    got = kql(
        spark,
        "T | extend c = todouble(column_ifexists('nope', 42.0)) | project c",
        tables={"T": t},
    ).first()["c"]
    assert got == 42.0
    # resolves against the CURRENT stage: a projected-away column
    # falls back to the default
    got = kql(
        spark,
        "T | project id "
        "| extend c = todouble(column_ifexists('v', -1.0)) | project c",
        tables={"T": t},
    ).first()["c"]
    assert got == -1.0


def test_sequence_detect_semantics(spark):
    import datetime as dt

    from mirror_lake_kusto_spark.functions.kql_parse import kql

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), "view"),
        (1, dt.datetime(2024, 1, 1, 0, 30), "click"),
        (2, dt.datetime(2024, 1, 1, 0, 0), "view"),
        (2, dt.datetime(2024, 1, 1, 5, 0), "click"),  # > 1h step gap
        (3, dt.datetime(2024, 1, 1, 1, 0), "click"),  # click BEFORE view
        (3, dt.datetime(2024, 1, 1, 2, 0), "view"),
    ]
    t = spark.createDataFrame(rows, "user_id long, ts timestamp, et string")
    out = kql(
        spark,
        """
        T
        | extend a = et == 'view', b = et == 'click'
        | evaluate sequence_detect(ts, 1h, 1d, a, b, user_id)
        """,
        tables={"T": t},
    ).collect()
    assert len(out) == 1 and out[0]["user_id"] == 1
    assert out[0]["a_ts"] == dt.datetime(2024, 1, 1, 0, 0)
    assert out[0]["b_ts"] == dt.datetime(2024, 1, 1, 0, 30)


def test_row_rank_follows_serialized_direction(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0)], "id long, v double"
    )
    rows = kql(
        spark,
        "T | order by v desc "
        "| extend d = row_rank_dense(v) | project id, d",
        tables={"T": t},
    ).collect()
    got = {r["id"]: r["d"] for r in rows}
    # rank 1 belongs to the FIRST serialized rows (largest v)
    assert got == {2: 1, 3: 1, 1: 2}


def test_parse_ipv4_ignores_mask_suffix(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(1,)], "id long")

    def one(e):
        return kql(
            spark, f"T | extend r = {e} | project r", tables={"T": t}
        ).first()["r"]

    assert one("parse_ipv4('10.99.0.0/16')") == 174_260_224
    assert one("parse_ipv4('10.99.0.0')") == 174_260_224
    assert one("ipv4_is_private('10.1.2.3/8')") is True


def test_geo_functions(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(1,)], "id long")

    def one(e):
        return kql(
            spark, f"T | extend r = {e} | project r", tables={"T": t}
        ).first()["r"]

    # Paris -> London great-circle ~ 343.5 km (spherical haversine)
    d = one("geo_distance_2points(2.3522, 48.8566, -0.1276, 51.5072)")
    assert 342_000 < d < 345_000
    assert one("geo_distance_2points(10.0, 20.0, 10.0, 20.0)") == 0.0
    assert one(
        "geo_point_in_circle(2.36, 48.86, 2.3522, 48.8566, 1000.0)"
    ) is True
    assert one(
        "geo_point_in_circle(3.0, 48.86, 2.3522, 48.8566, 1000.0)"
    ) is False


def test_conversion_bit_datetime_batch(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(5, "ab", 3.7)], "id long, s string, v double")

    def one(e):
        return kql(
            spark, f"T | extend r = {e} | project r", tables={"T": t}
        ).first()["r"]

    assert one("gettype(v)") == "real"
    assert one("gettype(s)") == "string"
    assert one("binary_and(12, 10)") == 8
    assert one("binary_or(12, 10)") == 14
    assert one("binary_xor(12, 10)") == 6
    assert one("binary_shift_left(1, 4)") == 16
    assert one("binary_shift_right(16, 2)") == 4
    assert one("bitset_count_ones(255)") == 8
    assert one("around(v, 3.5, 0.5)") is True
    assert one("around(v, 3.0, 0.5)") is False
    assert one("floor(v, 0.5)") == 3.5
    assert one("tostring(make_datetime(2024, 1, 2))") == "2024-01-02 00:00:00"
    assert (
        one("tostring(make_datetime(2024, 1, 2, 3, 4, 5.5))")
        == "2024-01-02 03:04:05.5"
    )
    assert (
        one("tostring(todatetime('2024-01-01') + make_timespan(1, 2, 3))")
        == "2024-01-01 01:02:03"
    )
    assert (
        one("tostring(todatetime('2024-01-01') + totimespan('01:02:03'))")
        == "2024-01-01 01:02:03"
    )
    assert one("estimate_data_size(id, s)") == 3
    assert (
        one("toguid('10000000-0000-0000-0000-00000000ABCD')")
        == "10000000-0000-0000-0000-00000000abcd"
    )
    assert one("toguid('nope')") is None
    assert one("has_any_index(s, dynamic(['z', 'b']))") == 1
    assert one("has_any_index(s, dynamic(['z']))") == -1
    assert one("unicode_codepoints_from_string('ab')") == [97, 98]
    assert one("indexof_regex(s, 'b')") == 1
    assert one("indexof_regex(s, 'zz')") == -1
    assert one("regex_quote('a.[b]')") == "a\\.\\[b\\]"


def test_graph_match_linear_and_cycle(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 20), (3, 1, 30), (2, 4, 40), (4, 5, 50)],
        "src long, dst long, w long",
    )
    # linear 2-hop with edge-property predicate and derived nodes
    rows = kql(
        spark,
        """
        E
        | make-graph src --> dst
        | graph-match (a)-[e1]->(b)-[e2]->(c)
          where e1.w < e2.w
          project a0 = a.id, c0 = c.id, tot = e1.w + e2.w
        | order by a0 asc, c0 asc
        """,
        tables={"E": edges},
    ).collect()
    assert [(r.a0, r.c0, r.tot) for r in rows] == [
        (1, 3, 30),
        (1, 4, 50),
        (2, 1, 50),
        (2, 5, 90),
    ]
    # repeated node variable = cycle (1->2->3->1)
    rows = kql(
        spark,
        """
        E
        | make-graph src --> dst
        | graph-match (a)-[e1]->(b)-[e2]->(c)-[e3]->(a)
          project a0 = a.id
        """,
        tables={"E": edges},
    ).collect()
    assert sorted(r.a0 for r in rows) == [1, 2, 3]


def test_graph_match_nodes_table_and_errors(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "s long, d long")
    nodes = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "nid long, kind string"
    )
    rows = kql(
        spark,
        """
        E
        | make-graph s --> d with N on nid
        | graph-match (a)-[e]->(b)
          where b.kind == 'z'
          project pa = a.nid, pb = b.nid
        """,
        tables={"E": edges, "N": nodes},
    ).collect()
    assert [(r.pa, r.pb) for r in rows] == [(2, 3)]

    with pytest.raises(KqlParseError, match="must immediately follow"):
        kql(
            spark,
            "E | graph-match (a)-[e]->(b) project x = a.id",
            tables={"E": edges},
        )
    # variable-length edges expand to a bounded union of chains
    rows = kql(
        spark,
        "E | make-graph s --> d | graph-match (a)-[e*1..3]->(b) "
        "project pa = a.id, pb = b.id",
        tables={"E": edges},
    ).collect()
    assert sorted((r.pa, r.pb) for r in rows) == [(1, 2), (1, 3), (2, 3)]
    # ...but a starred edge names a PATH: its properties must raise
    with pytest.raises(KqlParseError, match="variable-length"):
        kql(
            spark,
            "E | make-graph s --> d | graph-match (a)-[e*1..3]->(b) "
            "project x = e.s",
            tables={"E": edges},
        )
    with pytest.raises(KqlParseError, match="expansion cap"):
        kql(
            spark,
            "E | make-graph s --> d | graph-match "
            "(a)-[e*1..5]->(b)-[f*1..5]->(c) project x = a.id",
            tables={"E": edges},
        )
    with pytest.raises(KqlParseError, match="project clause"):
        kql(
            spark,
            "E | make-graph s --> d | graph-match (a)-[e]->(b)",
            tables={"E": edges},
        )
    with pytest.raises(KqlParseError, match="unknown column"):
        kql(
            spark,
            "E | make-graph nope --> d | graph-match (a)-[e]->(b) "
            "project x = a.id",
            tables={"E": edges},
        )


def test_dcount_intersect_null_sketch_is_empty_set(spark):
    """Round-5 review finding: a group where one cohort has NO members
    aggregates that hll() to NULL; the intersection counts must read 0
    (empty set), never NULL."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 11), (1, "b", 10), (2, "a", 20)],
        "grp long, kind string, uid long",
    )
    rows = kql(
        spark,
        """
        T
        | summarize ha = hll(iff(kind == 'a', uid, tolong(null))),
                    hb = hll(iff(kind == 'b', uid, tolong(null)))
            by grp
        | evaluate dcount_intersect(ha, hb)
        | order by grp asc
        """,
        tables={"T": t},
    ).collect()
    # grp 1: A={10,11}, B={10} -> s0=2, s1=1; grp 2: A={20}, B={} ->
    # s0=1, s1=0 (previously NULL)
    assert [(r.grp, r.s0, r.s1) for r in rows] == [(1, 2, 1), (2, 1, 0)]


def test_session_count_and_rolling_percentile_semantics(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 10.0),
            (2, "2024-01-01 11:00:00", 20.0),
            (1, "2024-01-03 10:00:00", 30.0),
            (3, "2024-01-04 10:00:00", 40.0),
        ],
        "uid long, ts string, v double",
    ).selectExpr("uid", "CAST(ts AS TIMESTAMP) ts", "v")
    rows = kql(
        spark,
        """
        T
        | evaluate session_count(uid, ts,
            datetime(2024-01-01), datetime(2024-01-06), 1d, 2d)
        | order by ts asc
        """,
        tables={"T": t},
    ).collect()
    # day0: {1,2}; day1: lookback covers day0 -> {1,2}; day2: {1};
    # day3: {1 (day2), 3}; day4: {3}
    assert [r["count"] for r in rows] == [2, 2, 1, 2, 1]

    rows = kql(
        spark,
        """
        T
        | evaluate rolling_percentile(v, 50, ts,
            datetime(2024-01-01), datetime(2024-01-06), 1d, 2)
        | order by ts asc
        """,
        tables={"T": t},
    ).collect()
    # bin0 values {10,20}; bin1 window {10,20}; bin2 {30};
    # bin3 {30,40}; bin4 {40}
    assert [r["rolling_50_percentile_v"] for r in rows] == [
        15.0, 15.0, 30.0, 35.0, 40.0,
    ]


def test_rows_near_requires_order_and_windows_correctly(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    t = spark.createDataFrame(
        [(i, "error" if i == 5 else "ok") for i in range(10)],
        "i long, s string",
    )
    rows = kql(
        spark,
        """
        T
        | order by i asc
        | evaluate rows_near(s == 'error', 2, 1)
        | order by i asc
        """,
        tables={"T": t},
    ).collect()
    assert [r.i for r in rows] == [3, 4, 5, 6]

    with pytest.raises(KqlParseError, match="order by"):
        kql(
            spark,
            "T | evaluate rows_near(s == 'error', 2)",
            tables={"T": t},
        )


def test_ipv4_lookup_matches_and_unmatched(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    nets = spark.createDataFrame(
        [("10.0.0.0/8", "corp"), ("192.168.1.0/24", "lan"),
         ("8.8.8.8", "dns")],
        "network string, label string",
    )
    ips = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "192.168.1.77"), (3, "192.168.2.1"),
         (4, "8.8.8.8")],
        "rid long, ip string",
    )
    inner = kql(
        spark,
        "T | evaluate ipv4_lookup(N, ip, network) "
        "| project rid, label | order by rid asc",
        tables={"T": ips, "N": nets},
    ).collect()
    assert [(r.rid, r.label) for r in inner] == [
        (1, "corp"), (2, "lan"), (4, "dns"),
    ]
    left = kql(
        spark,
        "T | evaluate ipv4_lookup(N, ip, network, true) "
        "| project rid, label | order by rid asc",
        tables={"T": ips, "N": nets},
    ).collect()
    assert [(r.rid, r.label) for r in left] == [
        (1, "corp"), (2, "lan"), (3, None), (4, "dns"),
    ]
    wide = spark.createDataFrame(
        [("1.0.0.0/4", "x")], "network string, label string"
    )
    with pytest.raises(KqlParseError, match="wider than /8"):
        kql(
            spark,
            "T | evaluate ipv4_lookup(N, ip, network)",
            tables={"T": ips, "N": wide},
        )


def test_diffpatterns_and_autocluster_profile(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    rows = [
        ("case", "chrome", "US"), ("case", "chrome", "US"),
        ("case", "safari", "EU"), ("ctrl", "chrome", "EU"),
        ("ctrl", "firefox", "EU"), ("ctrl", "firefox", "US"),
    ]
    t = spark.createDataFrame(rows, "grp string, b string, r string")
    top = kql(
        spark,
        "T | evaluate diffpatterns(grp, 'case', 'ctrl') | take 1",
        tables={"T": t},
    ).collect()[0]
    # (chrome, US): 2/3 of case vs 0/3 of ctrl — the widest diff
    assert (top.b, top.r, top.CountA, top.CountB) == ("chrome", "US", 2, 0)
    assert top.PercentDiffAB == 66.67

    ac = kql(
        spark, "T | evaluate autocluster() | take 2", tables={"T": t}
    ).collect()
    # singles rank first by count: chrome (3) and firefox/EU (... EU=3)
    assert ac[0].Count == 3 and ac[0].SegmentId == 0

    with pytest.raises(KqlParseError, match="no string attribute"):
        kql(
            spark,
            "N | evaluate diffpatterns(k, 1, 2)",
            tables={"N": spark.createDataFrame([(1,)], "k long")},
        )
    with pytest.raises(KqlParseError, match="SizeWeight"):
        kql(spark, "T | evaluate autocluster(2.5)", tables={"T": t})


def test_graph_match_node_property_access_is_left_join(spark):
    # An edge endpoint ABSENT from the explicit node table is still a
    # node (Kusto: it just has no properties) — reading a property off
    # it must not shrink the match set relative to reading only its id.
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(1, "root")], "nid long, kind string")
    ids_only = kql(
        spark,
        """
        E
        | make-graph src --> dst with N on nid
        | graph-match (a)-[e]->(b) project pa = a.nid, pb = b.nid
        """,
        tables={"E": edges, "N": nodes},
    ).collect()
    with_prop = kql(
        spark,
        """
        E
        | make-graph src --> dst with N on nid
        | graph-match (a)-[e]->(b)
          project pa = a.nid, pb = b.nid, k = b.kind
        """,
        tables={"E": edges, "N": nodes},
    ).collect()
    assert [(r.pa, r.pb) for r in ids_only] == [(1, 2)]
    assert [(r.pa, r.pb, r.k) for r in with_prop] == [(1, 2, None)]


def test_make_graph_terminal_raises(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(KqlParseError, match="not tabular"):
        kql(spark, "E | make-graph src --> dst", tables={"E": edges})


def test_ipv4_lookup_bad_masks_are_loud(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    src = spark.createDataFrame([("10.0.0.1",)], "ip string")
    for bad in ("10.0.0.0/40", "10.0.0.0/x"):
        look = spark.createDataFrame([(bad, "z")], "net string, zone string")
        with pytest.raises(KqlParseError, match="mask"):
            kql(
                spark,
                "S | evaluate ipv4_lookup(L, ip, net)",
                tables={"S": src, "L": look},
            )


def test_diffpatterns_null_data_value_is_not_a_wildcard(spark):
    # A null DATA value would be indistinguishable from the
    # wildcard-null grouping spelling — those pattern rows are dropped,
    # never surfaced as phantom all-wildcard segments.
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    rows = [("case", None, "US")] * 5 + [
        ("case", "chrome", "US"), ("ctrl", "firefox", "EU"),
    ]
    t = spark.createDataFrame(rows, "grp string, b string, r string")
    out = kql(
        spark,
        "T | evaluate diffpatterns(grp, 'case', 'ctrl')",
        tables={"T": t},
    ).collect()
    # no row may have EVERY attribute null (the all-wildcard shape the
    # plugin never legitimately emits)
    assert all(r.b is not None or r.r is not None for r in out)
    # autocluster's attributes include grp (no split column) — the
    # all-wildcard shape there is all THREE attrs null
    ac = kql(spark, "T | evaluate autocluster()", tables={"T": t}).collect()
    assert all(
        r.grp is not None or r.b is not None or r.r is not None for r in ac
    )
    # the (b=null-data) pattern is gone but (r='US') survives with the
    # null-b rows still COUNTED in it
    us = [r for r in out if r.r == "US" and r.b is None]
    assert us and us[0].CountA == 6


def test_rolling_percentile_emits_full_timeline_grid(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql
    import datetime as dt

    t = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), 10.0)], "ts timestamp, v double"
    )
    out = kql(
        spark,
        """
        T
        | evaluate rolling_percentile(v, 50, ts,
            datetime(2024-01-01), datetime(2024-01-06), 1d, 2)
        | order by ts asc
        """,
        tables={"T": t},
    ).collect()
    # full 5-day grid; the single value covers days 0-1, the rest null
    assert len(out) == 5
    vals = [r["rolling_50_percentile_v"] for r in out]
    assert vals == [10.0, 10.0, None, None, None]


def test_series_elementwise_family(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [([1.0, 2.0, 4.0], [2.0, 2.0, 2.0])],
        "x array<double>, y array<double>",
    )
    r = kql(
        spark,
        """
        T
        | extend s = series_add(x, y), d = series_divide(x, 2),
                 m = series_multiply(x, y), sub = series_subtract(x, y),
                 g = series_greater(x, 1.5), ge = series_greater_equals(x, 2),
                 eq = series_equals(x, y), p = series_pow(x, 2),
                 ab = series_abs(series_subtract(x, y)),
                 fl = series_floor(series_divide(x, 2)),
                 su = series_sum(x), pr = series_product(x),
                 dp = series_dot_product(x, y),
                 mag = series_magnitude(y),
                 cs = series_cosine_similarity(x, x)
        | project s, d, m, sub, g, ge, eq, p, ab, fl, su, pr, dp, mag, cs
        """,
        tables={"T": df},
    ).collect()[0]
    assert r.s == [3.0, 4.0, 6.0]
    assert r.d == [0.5, 1.0, 2.0]
    assert r.m == [2.0, 4.0, 8.0]
    assert r.sub == [-1.0, 0.0, 2.0]
    assert r.g == [False, True, True]
    assert r.ge == [False, True, True]
    assert r.eq == [False, True, False]
    assert r.p == [1.0, 4.0, 16.0]
    assert r.ab == [1.0, 0.0, 2.0]
    assert r.fl == [0.0, 1.0, 2.0]
    assert (r.su, r.pr, r.dp) == (7.0, 8.0, 14.0)
    assert abs(r.mag - 12.0 ** 0.5) < 1e-12
    assert abs(r.cs - 1.0) < 1e-12


def test_series_iir_recursion(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame([([1.0, 2.0, 4.0],)], "x array<double>")
    # y[n] = x[n] + 0.5*y[n-1]  (b=[1], a=[1, -0.5])
    r = kql(
        spark,
        "T | project y = series_iir(x, dynamic([1.0]), dynamic([1.0, -0.5]))",
        tables={"T": df},
    ).collect()[0]
    assert r.y == [1.0, 2.5, 5.25]
    # pure FIR through the iir form (a = [1]): the sequence(1, 0)
    # guard must not feed back
    r2 = kql(
        spark,
        "T | project y = series_iir(x, dynamic([2.0, 1.0]), dynamic([1.0]))",
        tables={"T": df},
    ).collect()[0]
    assert r2.y == [2.0, 5.0, 10.0]
    # normalization by a[0] != 1
    r3 = kql(
        spark,
        "T | project y = series_iir(x, dynamic([1.0]), dynamic([2.0]))",
        tables={"T": df},
    ).collect()[0]
    assert r3.y == [0.5, 1.0, 2.0]


def test_scalar_toolkit4_edges(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    df = spark.createDataFrame(
        [("C:\\docs\\rep.v1.txt:hidden",)], "p string"
    )
    r = kql(
        spark,
        """
        T
        | project pp = parse_path(p),
                  fb = format_bytes(1023),
                  fk = format_bytes(1536, 1),
                  fm = format_bytes(1536000, 3, 'MB'),
                  ft = format_timespan(totimespan('26:03:05'),
                                       'd.hh:mm:ss'),
                  tf = format_timespan(totimespan('01:02:03'),
                                       'hh:mm:ss.fff')
        """,
        tables={"T": df},
    ).collect()[0]
    import json

    pp = json.loads(r.pp)
    assert pp["RootPath"] == "C:"
    assert pp["Filename"] == "rep.v1.txt"
    assert pp["Extension"] == "txt"
    assert pp["AlternateDataStreamName"] == "hidden"
    assert pp["DirectoryName"] == "docs"
    assert r.fb == "1023 Bytes"
    assert r.fk == "1.5 KB"
    assert r.fm == "1.465 MB"
    assert r.ft == "1.02:03:05"
    assert r.tf == "01:02:03.000"

    with pytest.raises(KqlParseError, match="units"):
        kql(spark, "T | project x = format_bytes(1, 1, 'XB')",
            tables={"T": df})
    with pytest.raises(KqlParseError, match="precision"):
        kql(spark, "T | project x = format_bytes(1, p)",
            tables={"T": df})
    with pytest.raises(KqlParseError, match="literal"):
        kql(spark, "T | project x = format_timespan(totimespan('1:0:0'), p)",
            tables={"T": df})


def test_startofweek_is_sunday(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 7),), (dt.datetime(2024, 1, 10, 13),),
         (dt.datetime(2024, 1, 13, 23, 59),)],
        "ts timestamp",
    )
    rows = kql(
        spark,
        "T | project sw = startofweek(ts), ew = endofweek(ts)",
        tables={"T": df},
    ).collect()
    assert all(r.sw == dt.datetime(2024, 1, 7) for r in rows)
    assert all(
        r.ew == dt.datetime(2024, 1, 13, 23, 59, 59, 999999) for r in rows
    )


def test_find_operator_project_smart_and_errors(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    a = spark.createDataFrame([(1, "x", 9500.0)], "key long, name string, bal double")
    b = spark.createDataFrame(
        [(7, "z", 9900.0, "EU")], "key long, name string, bal double, region string"
    )
    # project-smart default: source_ + common columns + pack_ bag of
    # each row's own-table extras
    rows = kql(
        spark,
        "find in (A, B) where bal > 9000 | order by key asc",
        tables={"A": a, "B": b},
    ).collect()
    assert [r.source_ for r in rows] == ["A", "B"]
    assert rows[0].pack_ == "{}"
    assert rows[1].pack_ == '{"region":"EU"}'
    # a predicate on a column one table lacks: that table sees null
    rows2 = kql(
        spark,
        "find in (A, B) where region == 'EU' project name",
        tables={"A": a, "B": b},
    ).collect()
    assert [(r.source_, r.name) for r in rows2] == [("B", "z")]
    with pytest.raises(KqlParseError, match="find needs"):
        kql(spark, "find in (A)", tables={"A": a})


def test_reduce_operator_patterns(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    logs = spark.createDataFrame(
        [("user 1234 logged in from 10.0.0.1",),
         ("user 99 logged in from 10.0.0.2",),
         ("disk deadbeef01 failed",)],
        "msg string",
    )
    rows = kql(
        spark,
        "L | reduce by msg | order by Count desc, Pattern asc",
        tables={"L": logs},
    ).collect()
    assert [(r.Pattern, r.Count) for r in rows] == [
        ("user * logged in from *.*.*.*", 2),
        ("disk * failed", 1),
    ]
    assert rows[0].Representative == "user 1234 logged in from 10.0.0.1"
    with pytest.raises(KqlParseError, match="threshold"):
        kql(spark, "L | reduce by msg with (threshold=2)", tables={"L": logs})


def test_geohash_encode_decode(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    t = spark.createDataFrame([(1,)], "id long")

    def one(e):
        return kql(
            spark, f"T | extend r = {e} | project r", tables={"T": t}
        ).first()["r"]

    # textbook vectors (geohash.org reference implementation)
    assert one("geo_point_to_geohash(-5.6, 42.6, 5)") == "ezs42"
    assert (
        one("geo_point_to_geohash(-122.3493, 47.6205, 9)") == "c22yzv5cw"
    )
    assert one("geo_point_to_geohash(13.361389, 38.115556, 8)") == "sqc8b49r"
    # precision 1 covers a 45x45 degree cell
    assert one("geo_point_to_geohash(0.0, 0.0, 1)") == "s"
    # decode returns the cell center as GeoJSON; re-encoding the
    # center lands in the same cell
    import json

    ctr = json.loads(
        one("geo_geohash_to_central_point('ezs42')")
    )
    assert ctr["type"] == "Point"
    lon, lat = ctr["coordinates"]
    assert abs(lon - (-5.603)) < 0.03 and abs(lat - 42.605) < 0.03
    assert (
        one(
            "geo_point_to_geohash("
            f"{lon!r}, {lat!r}, 5)"
        )
        == "ezs42"
    )
    # invalid characters (a/i/l/o, uppercase) and bad length -> null
    assert one("geo_geohash_to_central_point('EZS42')") is None
    assert one("geo_geohash_to_central_point('ali0')") is None
    assert one("geo_geohash_to_central_point('')") is None
    # precision must be a literal in range
    with pytest.raises(KqlParseError, match="precision"):
        one("geo_point_to_geohash(1.0, 2.0, 0)")
    with pytest.raises(KqlParseError, match="precision"):
        one("geo_point_to_geohash(1.0, 2.0, id)")


def test_series_seasonal_and_periods_detect(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    sig = [10.0, 2.0, 3.0, 2.0] * 6  # planted period 4
    df = spark.createDataFrame([(1, sig)], "id long, arr array<double>")
    out = kql(
        spark,
        "t | extend pd = series_periods_detect(arr, 2, 10, 3), "
        "ss = series_seasonal(arr, 4) | project id, pd, ss",
        tables={"t": df},
    ).collect()[0]
    assert out.pd.periods[0] == 4.0  # the planted period wins
    assert out.pd.scores[0] > 0.8
    assert out.pd.scores == sorted(out.pd.scores, reverse=True)
    assert out.ss[:4] == [10.0, 2.0, 3.0, 2.0]  # exact periodic medians
    assert out.ss == out.ss[:4] * 6

    # nulls excluded from the phase median; even counts interpolate
    df2 = spark.createDataFrame(
        [(1, [1.0, None, 3.0, 4.0, 5.0, 6.0])], "id long, arr array<double>"
    )
    s = kql(
        spark, "t | extend s = series_seasonal(arr, 2) | project s",
        tables={"t": df2},
    ).collect()[0].s
    assert s == [3.0, 5.0, 3.0, 5.0, 3.0, 5.0]

    # constant series: every autocorrelation degenerates to score 0
    df3 = spark.createDataFrame([(1, [5.0] * 12)], "id long, arr array<double>")
    pd3 = kql(
        spark,
        "t | extend pd = series_periods_detect(arr, 2, 4, 2) | project pd",
        tables={"t": df3},
    ).collect()[0].pd
    assert list(pd3.scores) == [0.0, 0.0]


def test_ipv6_toolkit(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame([(1,)], "id long")

    def one(e):
        return kql(
            spark, f"T | extend r = {e} | project r", tables={"T": t}
        ).first()["r"]

    full = "fe80:0000:0000:0000:0000:0000:0000:0001"
    assert one("parse_ipv6('fe80::1')") == full
    assert one("parse_ipv6('::')") == "0000:" * 7 + "0000"
    assert (
        one("parse_ipv6('2001:db8::ff00:42:8329')")
        == "2001:0db8:0000:0000:0000:ff00:0042:8329"
    )
    # embedded and bare IPv4 map into the last two groups
    v4 = "0000:0000:0000:0000:0000:ffff:c0a8:0101"
    assert one("parse_ipv6('::ffff:192.168.1.1')") == v4
    assert one("parse_ipv6('192.168.1.1')") == v4
    # '/len' suffix strips; uppercase folds to lowercase
    assert (
        one("parse_ipv6('2001:DB8::/48')")
        == "2001:0db8:0000:0000:0000:0000:0000:0000"
    )
    # malformed -> null (bad hex, wide group, too many groups)
    assert one("parse_ipv6('garbage')") is None
    assert one("parse_ipv6('12345::1')") is None
    assert one("parse_ipv6('1:2:3:4:5:6:7:8:9')") is None
    # multiple '::' and out-of-range IPv4 octets are malformed too
    assert one("parse_ipv6('1::2::3')") is None
    assert one("parse_ipv6('::ffff:1.2.3.300')") is None

    assert one("ipv6_compare('fe80::1', 'fe80::1')") == 0
    assert one("ipv6_compare('fe80::1', 'fe80::2')") == -1
    assert one("ipv6_compare('fe80::2', 'fe80::1')") == 1
    # explicit prefix masks the compared bits
    assert one("ipv6_compare('fe80::1', 'fe80::ff', 120)") == 0
    assert one("ipv6_compare('fe80::1', 'fe81::1', 15)") == 0
    assert one("ipv6_compare('fe80::1', 'fe81::1', 16)") == -1
    # '/len' carried by an address caps the effective prefix
    assert one("ipv6_compare('fe80::1/120', 'fe80::ff')") == 0
    # v4 and its mapped form are the same address
    assert one("ipv6_is_match('192.168.1.5', '::ffff:192.168.1.5')") is True
    assert one("ipv6_is_match('fe80::1', 'fe80::2')") is False
    assert one("ipv6_is_match('fe80::1', 'fe80::2', 126)") is True
    assert one("ipv6_compare('garbage', 'fe80::1')") is None


def test_series_decompose_family_in_kql(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    sig = [10.0, 2.0, 3.0, 2.0] * 6
    sig[5] = 50.0  # planted anomaly
    df = spark.createDataFrame([(1, sig)], "id long, arr array<double>")
    out = kql(
        spark,
        "t | extend d = series_decompose(arr, 4, 'linefit'), "
        "ad = series_decompose_anomalies(arr, 4), "
        "fc = series_decompose_forecast(arr, 4, 4) "
        "| project id, d, ad, fc",
        tables={"t": df},
    ).collect()[0]
    # decompose identity: baseline + residual == value (rounded)
    for v, b, r in zip(sig, out.d.baseline, out.d.residual):
        assert abs((b + r) - v) < 1e-9
    # only the planted spike flags
    assert out.ad[5] == 1 and sum(abs(x) for x in out.ad) == 1
    # forecast = whole-series baseline + 4 extrapolated points
    assert len(out.fc) == 28
    assert out.fc[:24] == out.d.baseline

    # array kernel reproduces the row-level operator EXACTLY
    import pyspark.sql.functions as F

    from mirror_lake_kusto_spark.operators.timeseries import (
        series_decompose,
    )

    rows = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(sig)], "idx int, v double"
    ).withColumn("key", F.lit("k"))
    op = (
        series_decompose(rows, ["key"], "idx", "v", period=4,
                         trend="linefit")
        .orderBy("idx")
        .collect()
    )
    assert [r["baseline"] for r in op] == list(out.d.baseline)
    assert [r["seasonal"] for r in op] == list(out.d.seasonal)
    assert [r["residual"] for r in op] == list(out.d.residual)


def test_mv_expand_with_itemindex_and_prev_default(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, [])], "id long, xs array<string>"
    )
    out = kql(
        spark,
        "t | mv-expand with_itemindex=ix x = xs "
        "| project id, ix, x | order by id asc, ix asc",
        tables={"t": df},
    ).collect()
    assert [(r.id, r.ix, r.x) for r in out] == [
        (1, 0, "a"), (1, 1, "b"), (1, 2, "c"), (2, None, None),
    ]

    df2 = spark.createDataFrame([(i, i * 10) for i in range(4)], "i long, v long")
    out2 = kql(
        spark,
        "t | order by i asc | extend p = prev(v, 1, -1) | project i, p",
        tables={"t": df2},
    ).collect()
    assert [r.p for r in out2] == [-1, 0, 10, 20]

    with pytest.raises(KqlParseError, match="restart"):
        kql(
            spark,
            "t | order by i asc | extend c = row_cumsum(v, i == 2)",
            tables={"t": df2},
        )


def test_parse_kv_operator(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    df = spark.createDataFrame(
        [(1, "level=INFO code=200 ms=12.5 user=bob"),
         (2, "level=WARN code=503 ms=991.0")],
        "id long, msg string",
    )
    out = kql(
        spark,
        "t | parse-kv msg as (level: string, code: long, ms: real, "
        "user: string) with (pair_delimiter=' ', kv_delimiter='=') "
        "| project id, level, code, ms, user | order by id asc",
        tables={"t": df},
    ).collect()
    assert (out[0].level, out[0].code, out[0].ms, out[0].user) == (
        "INFO", 200, 12.5, "bob",
    )
    assert out[1].user is None  # missing key -> null

    # custom delimiters; defaults are space + '='
    df2 = spark.createDataFrame([(1, "a:1,b:2")], "id long, s string")
    r = kql(
        spark,
        "t | parse-kv s as (a: long, b: long) "
        "with (pair_delimiter=',', kv_delimiter=':') | project a, b",
        tables={"t": df2},
    ).collect()[0]
    assert (r.a, r.b) == (1, 2)

    # duplicate keys and repeated delimiters must not crash the query
    # (str_to_map would throw): first occurrence wins
    df3 = spark.createDataFrame(
        [(1, "retry=1  x=2 retry=3 ")], "id long, s string"
    )
    r3 = kql(
        spark,
        "t | parse-kv s as (retry: long, x: long) | project retry, x",
        tables={"t": df3},
    ).collect()[0]
    assert (r3.retry, r3.x) == (1, 2)

    with pytest.raises(KqlParseError, match="unsupported option"):
        kql(spark, "t | parse-kv s as (a: long) with (regex_mode=true)",
            tables={"t": df2})
    with pytest.raises(KqlParseError, match="no columns"):
        kql(spark, "t | parse-kv s as ()", tables={"t": df2})


def test_series_decompose_auto_period(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    sig = [10.0, 2.0, 3.0, 2.0] * 8  # planted period 4
    df = spark.createDataFrame([(1, sig)], "id long, arr array<double>")
    out = kql(
        spark,
        "t | extend d = series_decompose(arr, -1, 'linefit'), "
        "dx = series_decompose(arr, 4, 'linefit'), "
        "fc = series_decompose_forecast(arr, -1, 4) "
        "| project d, dx, fc",
        tables={"t": df},
    ).collect()[0]
    # auto-detect lands on the planted period: identical decomposition
    assert list(out.d.seasonal) == list(out.dx.seasonal)
    assert list(out.d.baseline) == list(out.dx.baseline)
    assert len(out.fc) == len(sig) + 4

    # no significant period (monotone ramp) -> pure-trend model
    ramp = [float(i) for i in range(16)]
    df2 = spark.createDataFrame([(1, ramp)], "id long, arr array<double>")
    d2 = kql(
        spark,
        "t | extend d = series_decompose(arr, -1, 'linefit') | project d",
        tables={"t": df2},
    ).collect()[0].d
    assert all(s == 0.0 for s in d2.seasonal)
    assert all(abs(r) < 1e-6 for r in d2.residual)  # linefit is exact


def test_weighted_percentiles_covariance_make_list_with_nulls(spark):
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    df = spark.createDataFrame(
        [(1, 1.0, 1, 2.0), (1, 2.0, 1, 4.0), (1, 3.0, 8, 6.0),
         (1, None, 1, 8.0)],
        "g long, x double, w long, y double",
    )
    out = kql(
        spark,
        "t | summarize pw = percentilew(x, w, 50), "
        "psw = percentilesw(x, w, 25, 75), "
        "p50 = percentile(x, 50), "
        "cv = covariance(x, y), cvp = covariancep(x, y), "
        "ln = make_list_with_nulls(x) by g",
        tables={"t": df},
    ).collect()[0]
    # weight-expanded series [1, 2, 3x8]: every quartile lands on 3
    assert out.pw == 3.0
    assert list(out.psw) == [3.0, 3.0]
    # the unweighted percentile next to it is untouched by the
    # weighted rewrite (regression: ordering of the two rewrites)
    assert out.p50 == 2.0
    # covar over (1,2,3) vs (2,4,6): samp 2, pop 4/3
    assert abs(out.cv - 2.0) < 1e-9
    assert abs(out.cvp - 4.0 / 3.0) < 1e-9
    # make_list_with_nulls keeps the null element collect_list drops
    assert len(out.ln) == 4 and sum(1 for v in out.ln if v is None) == 1


def test_r8_scalar_batch5_sha1_and_pack_dictionary(spark):
    """hash_sha1 (no DuckDB twin — verified against hashlib) and
    pack_dictionary arity validation."""
    import hashlib

    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    df = kql(
        spark,
        "t | project h = hash_sha1(s), d = pack_dictionary('k', s)",
        tables={"t": spark.createDataFrame([("abc",)], "s string")},
    )
    row = df.collect()[0]
    assert row.h == hashlib.sha1(b"abc").hexdigest()
    assert row.d == '{"k":"abc"}'
    import pytest as _pytest

    with _pytest.raises(KqlParseError):
        kql(
            spark,
            "t | project d = pack_dictionary('k')",
            tables={"t": spark.createDataFrame([("x",)], "s string")},
        )


def test_r8_agg_batch(spark):
    """count_distinct / stdevp / variancep / stdev / make_bag_if."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    t = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 4.0), (2, None, 8.0)],
        "g int, s string, v double",
    )
    rows = kql(
        spark,
        """t | summarize nd = count_distinct(s),
              sp = round(stdevp(v), 4), vp = round(variancep(v), 4),
              sd = round(stdev(v), 4),
              bag = make_bag_if(pack('s', s), isnotempty(s))
           by g | order by g asc""",
        tables={"t": t},
    ).collect()
    assert [(r.g, r.nd, r.sp, r.vp, r.sd, r.bag) for r in rows] == [
        (1, 2, 0.5, 0.25, 0.7071, '{"s":"b"}'),
        (2, 1, 2.0, 4.0, 2.8284, '{"s":"a"}'),
    ]


def test_r8_scalar_batch5_edge_cases(spark):
    """Review-pinned edges: duplicate/empty query params (first
    occurrence wins, no crash), out-of-range ipv4 prefix -> NULL,
    nanosecond conversion keeps exact microseconds at 1e18 scale."""
    from mirror_lake_kusto_spark.functions.kql_parse import kql

    r = kql(
        spark,
        """t | project
          dup = parse_urlquery('a=1&a=2&&b=3'),
          m33 = parse_ipv4_mask('1.2.3.4', 33),
          mneg = parse_ipv4_mask('1.2.3.4', -1),
          ns = unixtime_nanoseconds_todatetime(1600000000000000999)""",
        tables={"t": spark.createDataFrame([("x",)], "s string")},
    ).collect()[0]
    assert r.dup == '{"Query Parameters":{"a":"1","b":"3"}}'
    assert r.m33 is None and r.mneg is None
    assert r.ns.microsecond == 0 and r.ns.second == 40


def test_r8_basket_exact_threshold_and_arity(spark):
    """A pattern landing EXACTLY on the threshold passes (integer
    cross-multiply, not binary-double 0.05), and active_users_count
    rejects trailing dimension args loudly instead of silently
    dropping them."""
    from mirror_lake_kusto_spark.functions.kql_parse import (
        KqlParseError,
        kql,
    )

    # 20 rows, one value appears exactly once: 1/20 == 0.05 exactly
    t = spark.createDataFrame(
        [(("rare" if i == 0 else "common"),) for i in range(20)],
        "s string",
    )
    rows = kql(
        spark, "t | evaluate basket(0.05)", tables={"t": t}
    ).collect()
    got = {(r.s): r.Count for r in rows}
    assert got == {"common": 19, "rare": 1}
    import pytest as _pytest

    ev = spark.createDataFrame(
        [(1, "2024-01-01T00:00:00", "x")], "id long, ts string, d string"
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) AS ts", "d")
    with _pytest.raises(KqlParseError, match="dimension"):
        kql(
            spark,
            "e | evaluate active_users_count(id, ts, "
            "datetime(2024-01-01), datetime(2024-01-02), 1d, 1d, 1, d)",
            tables={"e": ev},
        )
