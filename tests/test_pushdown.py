"""Filters over the XML scan. Like spark-xml (a ``PrunedScan``), the scan
takes no predicate: Spark applies every filter after it, so a filtered
read returns exactly the rows Spark's own filter keeps over the same data
— SQL three-valued null logic, NaN ordering and text joined across
comments and PIs included — on both scan paths (the columnar tier and the
generic parser, see ``_row_path``), and a reused relation never replays an
earlier query's filter. ``filterPushdown`` is an unknown option, ignored
like any other.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_xml_spark.sources import read_xml, register, write_xml

# the flat reference files, rebuilt in-repo (cars, books)
FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_option_no_pushdown_despite_conf(spark):
    """Spark's Python-source pushdown conf changes nothing: the filter
    stays in Spark's plan and a reused relation does not replay it."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = read_xml(spark, f"{FIX}/books.xml", rowTag="book")
        assert df.filter(F.col("price") > 10).count() == 4
        assert df.count() == 12  # reused relation: must NOT replay the filter
        plan = _physical(df.filter(F.col("price") > 10))
        assert "Filter (" in plan  # filter stayed Spark-side
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


@pytest.mark.parametrize(
    "extra", [{}, {"filterPushdown": "true"}], ids=["plain", "filterPushdown"]
)
def test_reused_relation_counts_match_fresh_reads(spark, tmp_path, extra):
    """One relation runs a filtered count, an unfiltered count and a count
    under a filter Spark cannot hand a Python data source (an OR across
    columns); each equals the count over a fresh read of the same files."""
    src = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, score double"
    )
    out = str(tmp_path / "t_xml")
    write_xml(src, out, rowTag="item")

    def read():
        return read_xml(spark, out, rowTag="item", schema=src.schema, **extra)

    reused = read()
    conds = [
        F.col("id") == 5,
        None,
        F.col("id").isin(1, 2, 3) | (F.col("score") > 95.0),
    ]
    want = [1, 100, 7]
    for cond, n in zip(conds, want):
        fresh, got = read(), reused
        if cond is not None:
            fresh, got = fresh.filter(cond), got.filter(cond)
        assert fresh.count() == n, str(cond)
        assert got.count() == n, str(cond)


def test_pushdown_results_match_unpushed(spark, tmp_path):
    """Every comparison operator selects, over the XML read, the rows it
    selects over the in-memory frame that was written, including
    null-comparison semantics, on every scalar type and on both scan
    paths (see ``_row_path``). One relation serves every condition."""
    import datetime
    import decimal

    def row(i):
        return (
            i,
            None if i % 5 == 0 else f"name{i:03d}",
            float(i) if i % 7 else None,
            None if i % 6 == 0 else datetime.date(2020, 1, 1 + i % 10),
            None if i % 8 == 0 else decimal.Decimal(i * 25) / 100,
            None if i % 3 == 0 else i % 2 == 0,
        )

    src = spark.createDataFrame(
        [row(i) for i in range(100)],
        "id long, name string, score double, day date, amt decimal(10,2), "
        "flag boolean",
    )
    out = str(tmp_path / "t_xml")
    write_xml(src, out, rowTag="item")

    d = datetime.date
    dec = decimal.Decimal
    conds = [
        F.col("id") > 90,
        F.col("name") == "name042",
        F.col("name").isNull(),
        F.col("score").isNotNull() & (F.col("score") <= 3.0),
        ~F.col("name").isin("name001", "name002"),
        F.col("name").startswith("name09"),
        F.col("name").contains("042"),
        F.col("name").endswith("7"),
        F.col("id").isin(1, 2, 3) | (F.col("score") > 95.0),
        F.col("day") == d(2020, 1, 3),
        F.col("day") < d(2020, 1, 3),
        F.col("day").isin(d(2020, 1, 2), d(2020, 1, 5)),
        F.col("day").isNull(),
        F.col("amt") == dec("2.50"),
        F.col("amt") < dec("5.00"),
        F.col("amt").isin(dec("1.25"), dec("10.00")),
        F.col("amt").isNull(),
        F.col("flag") == True,  # noqa: E712
        F.col("flag") < True,
        F.col("flag").isin(False),
        F.col("flag").isNull(),
    ]
    for schema in (src.schema, _row_path(src.schema)):
        df = read_xml(spark, out, rowTag="item", schema=schema)
        df = df.select(*src.columns)
        for cond in conds:
            expected = sorted(map(tuple, src.filter(cond).collect()))
            got = sorted(map(tuple, df.filter(cond).collect()))
            assert got == expected, (str(cond), schema.names)
            assert expected, f"test condition selected nothing: {cond}"


def test_pushdown_failfast_still_raises(spark, tmp_path):
    """FAILFAST raises on a malformed record even when the query's filter
    would drop its row."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    p = tmp_path / "bad.xml"
    p.write_text(
        "<ROWS><ROW><a>ok</a><n>1</n></ROW>"
        "<ROW><a>zzz</a><n>not_a_number</n></ROW></ROWS>"
    )
    df = read_xml(
        spark, str(p), rowTag="ROW", mode="FAILFAST",
        schema="a string, n long",
    )
    with pytest.raises((Py4JJavaError, PythonException, Exception)):
        df.filter(F.col("a") == "ok").collect()


def test_pushdown_permissive_corrupt_consistency(spark, tmp_path):
    """PERMISSIVE: a corrupt record has null data fields, so an equality
    drops it and IsNull keeps it, on one reused relation."""
    p = tmp_path / "mix.xml"
    p.write_text(
        "<ROWS><ROW><a>ok</a><n>1</n></ROW>"
        "<ROW><a>bad</a><n>oops</n></ROW></ROWS>"
    )
    schema = "a string, n long, _corrupt_record string"
    df = read_xml(spark, str(p), rowTag="ROW", schema=schema)
    assert df.filter(F.col("n") == 1).count() == 1
    assert df.filter(F.col("n").isNull()).count() == 1


def test_pushdown_through_sql_ddl(spark, tmp_path):
    """A catalog table declared with the retired ``filterPushdown`` option
    still reads, and Spark applies the query's filter."""
    import uuid

    col = f"v{uuid.uuid4().hex[:8]}"  # unique schema: catalog stash is
    src = spark.createDataFrame(      # keyed by schema fingerprint
        [(i, f"v{i}") for i in range(50)], f"id long, {col} string"
    )
    out = str(tmp_path / "ddl_xml")
    write_xml(src, out, rowTag="r")
    register(spark)
    spark.sql("DROP TABLE IF EXISTS push_t")
    spark.sql(
        f"CREATE TABLE push_t USING `xml-graft` "
        f"OPTIONS (path '{out}', rowTag 'r', filterPushdown 'true')"
    )
    try:
        got = spark.sql(f"SELECT id, {col} FROM push_t WHERE {col} = 'v7'").collect()
        assert [tuple(r) for r in got] == [(7, "v7")]
    finally:
        spark.sql("DROP TABLE IF EXISTS push_t")


def _row_path(schema):
    """``schema`` plus a ``_corrupt_record`` column and a struct column no
    record fills; the struct sends the scan down the row path (the generic
    parser instead of the columnar tier)."""
    return T.StructType(
        schema.fields
        + [
            T.StructField("_corrupt_record", T.StringType()),
            T.StructField("absent", T.StructType([T.StructField("x", T.StringType())])),
        ]
    )


def test_pushdown_columnar_vs_row_paths_agree(spark, tmp_path):
    """The columnar and row scan paths must select the same rows under
    one filter, and exactly the rows computed by hand."""
    df = spark.createDataFrame(
        [(k, f"n{k % 7}", float(k) if k % 5 else None) for k in range(400)],
        "k bigint, name string, v double",
    )
    out = str(tmp_path / "t")
    write_xml(df.repartition(2), out, rowTag="row")

    def run(schema):
        d = read_xml(spark, out, rowTag="row", schema=schema)
        return {
            tuple(r)
            for r in d.filter(
                (F.col("k") > 17)
                & (F.col("v").isNotNull())
                & F.col("name").isin("n1", "n3")
                & F.col("name").startswith("n")
            ).select("k", "name", "v").collect()
        }

    a = run(df.schema)
    b = run(_row_path(df.schema))
    assert a == b
    assert a  # non-empty selection
    expect = {
        (k, f"n{k % 7}", float(k))
        for k in range(400)
        if k > 17 and k % 5 and (k % 7) in (1, 3)
    }
    assert a == expect


def test_pushdown_not_in_with_null_three_valued(spark, tmp_path):
    """x NOT IN (1, NULL) is UNKNOWN for every x != 1 and FALSE for x = 1,
    so it selects ZERO rows (three-valued logic)."""
    src = spark.createDataFrame(
        [(i, None if i % 10 == 0 else i % 3) for i in range(30)],
        "id long, v long",
    )
    out = str(tmp_path / "t_xml")
    write_xml(src, out, rowTag="item")
    schema = src.schema

    cond = ~F.col("v").isin(1, None)
    # sanity: the in-memory frame selects nothing either
    assert src.filter(cond).count() == 0
    for read_schema in (schema, _row_path(schema)):
        df = read_xml(spark, out, rowTag="item", schema=read_schema)
        assert df.filter(cond).count() == 0, read_schema
        # positive control: without the NULL member NOT IN keeps exactly
        # the non-member, non-null rows
        got = sorted(
            r.v for r in df.filter(~F.col("v").isin(1)).select("v").collect()
        )
        want = sorted(i % 3 for i in range(30) if i % 10 != 0 and i % 3 != 1)
        assert got == want, read_schema


def test_pushdown_not_eqnullsafe_keeps_null_rows(spark, tmp_path):
    """NOT (x <=> v) is never UNKNOWN: null rows satisfy it and are KEPT."""
    src = spark.createDataFrame(
        [(i, None if i % 4 == 0 else i % 2) for i in range(20)],
        "id long, v long",
    )
    out = str(tmp_path / "t_xml")
    write_xml(src, out, rowTag="item")
    schema = src.schema

    cond = ~F.col("v").eqNullSafe(1)
    expected = sorted(map(tuple, src.filter(cond).collect()))
    assert any(v is None for _, v in expected)  # null rows ARE selected
    for read_schema in (schema, _row_path(schema)):
        df = read_xml(spark, out, rowTag="item", schema=read_schema)
        got = sorted(map(tuple, df.filter(cond).select("id", "v").collect()))
        assert got == expected, read_schema


@pytest.mark.parametrize("corrupt", [False, True], ids=["columnar", "row"])
def test_pushdown_nan_matches_spark(spark, tmp_path, corrupt):
    """Spark holds NaN = NaN and orders NaN above every number, unlike
    IEEE comparison in Python and Arrow: a comparison on a double column
    of the read selects the rows Spark's own filter does in memory."""
    src = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 9.0), (4, float("nan"))],
        "k long, v double",
    )
    out = str(tmp_path / "nan_xml")
    write_xml(src, out, rowTag="item")
    schema = _row_path(src.schema) if corrupt else src.schema
    nan = float("nan")
    conds = {
        "v > 5": (F.col("v") > 5, [2, 3, 4]),
        "v >= 9": (F.col("v") >= 9.0, [2, 3, 4]),
        "v = NaN": (F.col("v") == nan, [2, 4]),
        "v IN (NaN)": (F.col("v").isin(nan), [2, 4]),
        "v <=> NaN": (F.col("v").eqNullSafe(nan), [2, 4]),
        "NOT v < 5": (~(F.col("v") < 5), [2, 3, 4]),
        "v IS NOT NULL": (F.col("v").isNotNull(), [1, 2, 3, 4]),
    }
    df = read_xml(spark, out, rowTag="item", schema=schema)
    for name, (cond, want) in conds.items():
        got = sorted(r.k for r in df.filter(cond).select("k").collect())
        ref = sorted(r.k for r in src.filter(cond).select("k").collect())
        assert ref == want, name
        assert got == want, name


@pytest.mark.parametrize("corrupt", [False, True], ids=["columnar", "row"])
def test_pushdown_string_split_by_comment_or_pi(spark, tmp_path, corrupt):
    """The parser joins text around comments, PIs and CDATA, so a value
    can equal a literal that never appears verbatim in the raw record:
    a filter on the value still selects it."""
    p = tmp_path / "split.xml"
    p.write_text(
        "<ROWS>"
        "<ROW><id>1</id><name>ab<!-- x -->cd</name></ROW>"
        "<ROW><id>2</id><name>abcd</name></ROW>"
        "<ROW><id>3</id><name>ab<?pi data?>cd</name></ROW>"
        "<ROW><id>4</id><name>a<!--x-->b<?p?>c<![CDATA[d]]></name></ROW>"
        "<ROW><id>5</id><name>zzzz</name></ROW>"
        "</ROWS>"
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    if corrupt:
        schema = _row_path(schema)
    conds = {
        "==": F.col("name") == "abcd",
        "contains": F.col("name").contains("bc"),
        "startswith": F.col("name").startswith("abc"),
        "endswith": F.col("name").endswith("bcd"),
    }
    df = read_xml(spark, str(p), rowTag="ROW", schema=schema)
    for name, cond in conds.items():
        got = sorted(r.id for r in df.filter(cond).select("id").collect())
        assert got == [1, 2, 3, 4], name
