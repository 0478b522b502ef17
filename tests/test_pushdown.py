"""Catalyst filter pushdown into the XML scan (Spark 4.1 Python Data
Source pushFilters API). Pushed predicates are evaluated as Arrow masks
on the scan's batches with SQL null semantics, so results must be
bit-identical to Spark-side filtering — and the Filter node disappears
from the physical plan. The raw-text prefilter additionally skips the
parse for records that cannot match a string literal.

Pushdown is strictly OPT-IN per read (option ``filterPushdown=true``):
Spark 4.1 caches the Python read plan per relation, so the first query's
pushed predicates would be replayed by every later query on a reused
DataFrame/view. The default path must therefore never engage pushdown.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_xml_spark.sources import read_xml, write_xml

# the flat reference files, rebuilt in-repo (cars, books)
FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def push(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pushed_filter_removed_from_plan(push):
    import pyspark.sql.functions as F

    df = read_xml(push, f"{FIX}/cars.xml", rowTag="ROW", filterPushdown="true")
    flt = df.filter((F.col("year") > 2012) & (F.col("make") == "Chevy"))
    plan = _physical(flt)
    assert "Filter (" not in plan, plan  # no post-scan Filter node remains
    rows = flt.collect()
    assert [(r.make, r.year) for r in rows] == [("Chevy", 2015)]


def test_no_option_no_pushdown_despite_conf(push):
    """Without the opt-in option, the scan must not push filters even when
    the session conf is on — the relation-cache hazard makes implicit
    pushdown unsafe (filtered query then unfiltered reuse of one df)."""
    import pyspark.sql.functions as F

    df = read_xml(push, f"{FIX}/books.xml", rowTag="book")
    assert df.filter(F.col("price") > 10).count() == 4
    assert df.count() == 12  # reused relation: must NOT replay the filter
    plan = _physical(df.filter(F.col("price") > 10))
    assert "Filter (" in plan  # filter stayed Spark-side


def test_pushdown_results_match_unpushed(push, tmp_path):
    """Every supported operator produces the same rows with and without
    pushdown, including null-comparison semantics, on every pushable type
    and on both scan paths (see ``_row_path``)."""
    import datetime
    import decimal

    import pyspark.sql.functions as F

    def row(i):
        return (
            i,
            None if i % 5 == 0 else f"name{i:03d}",
            float(i) if i % 7 else None,
            None if i % 6 == 0 else datetime.date(2020, 1, 1 + i % 10),
            None if i % 8 == 0 else decimal.Decimal(i * 25) / 100,
            None if i % 3 == 0 else i % 2 == 0,
        )

    src = push.createDataFrame(
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
        F.col("id").isin(1, 2, 3) | (F.col("score") > 95.0),  # OR: not pushable
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
        plain = read_xml(push, out, rowTag="item", schema=schema)
        for cond in conds:
            expected = sorted(map(tuple, plain.filter(cond).collect()))
            # one pushed relation per query: a reused one replays the
            # filters an earlier query pushed (see the module docstring)
            pushed = read_xml(
                push, out, rowTag="item", schema=schema, filterPushdown="true"
            )
            got = sorted(map(tuple, pushed.filter(cond).collect()))
            assert got == expected, (str(cond), schema.names)
            assert expected, f"test condition selected nothing: {cond}"


def test_pushdown_failfast_still_raises(push, tmp_path):
    """FAILFAST must keep raising on malformed records even when a pushed
    string filter would have allowed skipping their parse."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    p = tmp_path / "bad.xml"
    p.write_text(
        "<ROWS><ROW><a>ok</a><n>1</n></ROW>"
        "<ROW><a>zzz</a><n>not_a_number</n></ROW></ROWS>"
    )
    import pyspark.sql.functions as F

    df = read_xml(
        push, str(p), rowTag="ROW", mode="FAILFAST",
        schema="a string, n long", filterPushdown="true",
    )
    with pytest.raises((Py4JJavaError, PythonException, Exception)):
        df.filter(F.col("a") == "ok").collect()


def test_pushdown_permissive_corrupt_consistency(push, tmp_path):
    """PERMISSIVE: a corrupt record has null data fields, so a pushed
    equality drops it — identical to Spark-side filtering; IsNull keeps
    it on both paths."""
    import pyspark.sql.functions as F

    p = tmp_path / "mix.xml"
    p.write_text(
        "<ROWS><ROW><a>ok</a><n>1</n></ROW>"
        "<ROW><a>bad</a><n>oops</n></ROW></ROWS>"
    )
    schema = "a string, n long, _corrupt_record string"
    for extra in ({}, {"filterPushdown": "true"}):
        df = read_xml(push, str(p), rowTag="ROW", schema=schema, **extra)
        assert df.filter(F.col("n") == 1).count() == 1
        df2 = read_xml(push, str(p), rowTag="ROW", schema=schema, **extra)
        assert df2.filter(F.col("n").isNull()).count() == 1


def test_pushdown_through_sql_ddl(push, tmp_path):
    """filterPushdown survives the catalog-table option stash."""
    import os
    import uuid

    col = f"v{uuid.uuid4().hex[:8]}"  # unique schema: catalog stash is
    src = push.createDataFrame(       # keyed by schema fingerprint
        [(i, f"v{i}") for i in range(50)], f"id long, {col} string"
    )
    out = str(tmp_path / "ddl_xml")
    write_xml(src, out, rowTag="r")
    push.sql("DROP TABLE IF EXISTS push_t")
    push.sql(
        f"CREATE TABLE push_t USING `xml-graft` "
        f"OPTIONS (path '{out}', rowTag 'r', filterPushdown 'true')"
    )
    try:
        got = push.sql(f"SELECT id, {col} FROM push_t WHERE {col} = 'v7'").collect()
        assert [tuple(r) for r in got] == [(7, "v7")]
    finally:
        push.sql("DROP TABLE IF EXISTS push_t")


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
    """The columnar and row scan paths, each masking its own Arrow
    batches, must select the same rows, and exactly the rows computed by
    hand."""
    df = spark.createDataFrame(
        [(k, f"n{k % 7}", float(k) if k % 5 else None) for k in range(400)],
        "k bigint, name string, v double",
    )
    out = str(tmp_path / "t")
    write_xml(df.repartition(2), out, rowTag="row")

    def run(schema):
        d = read_xml(
            spark, out, rowTag="row", filterPushdown="true", schema=schema
        )
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


def test_pushdown_not_in_with_null_three_valued(push, tmp_path):
    """x NOT IN (1, NULL) is UNKNOWN for every x != 1 and FALSE for x = 1,
    so it selects ZERO rows — an In filter whose value list contains a
    null must therefore be refused (left Spark-side), because the pushed
    Not wrapper would wrongly keep non-member rows (three-valued logic)."""
    src = push.createDataFrame(
        [(i, None if i % 10 == 0 else i % 3) for i in range(30)],
        "id long, v long",
    )
    out = str(tmp_path / "t_xml")
    write_xml(src, out, rowTag="item")
    schema = src.schema

    for read_schema in (schema, _row_path(schema)):
        pushed = read_xml(
            push, out, rowTag="item", schema=read_schema,
            filterPushdown="true",
        )
        cond = ~F.col("v").isin(1, None)
        assert pushed.filter(cond).count() == 0, read_schema
        # sanity: same condition without pushdown also selects nothing
        plain = read_xml(push, out, rowTag="item", schema=schema)
        assert plain.filter(cond).count() == 0
        # positive control: without the NULL member the pushed NOT IN
        # keeps exactly the non-member, non-null rows
        got = sorted(
            r.v for r in pushed.filter(~F.col("v").isin(1)).select("v").collect()
        )
        want = sorted(i % 3 for i in range(30) if i % 10 != 0 and i % 3 != 1)
        assert got == want, read_schema


def test_pushdown_not_eqnullsafe_keeps_null_rows(push, tmp_path):
    """NOT (x <=> v) is never UNKNOWN: null rows satisfy it and must be
    KEPT by the pushed predicate (plain negation, no null-drop wrapper)."""
    src = push.createDataFrame(
        [(i, None if i % 4 == 0 else i % 2) for i in range(20)],
        "id long, v long",
    )
    out = str(tmp_path / "t_xml")
    write_xml(src, out, rowTag="item")
    schema = src.schema

    cond = ~F.col("v").eqNullSafe(1)
    plain = read_xml(push, out, rowTag="item", schema=schema)
    expected = sorted(map(tuple, plain.filter(cond).collect()))
    assert any(v is None for _, v in expected)  # null rows ARE selected
    for read_schema in (schema, _row_path(schema)):
        pushed = read_xml(
            push, out, rowTag="item", schema=read_schema,
            filterPushdown="true",
        )
        got = sorted(map(tuple, pushed.filter(cond).select("id", "v").collect()))
        assert got == expected, read_schema


@pytest.mark.parametrize("corrupt", [False, True], ids=["columnar", "row"])
def test_pushdown_nan_matches_spark(push, tmp_path, corrupt):
    """Spark holds NaN = NaN and orders NaN above every number, unlike
    IEEE comparison in Python and Arrow: a pushed comparison on a double
    column must select the same rows as Spark's own filter."""
    src = push.createDataFrame(
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
    pushed = read_xml(push, out, rowTag="item", schema=schema,
                      filterPushdown="true")
    plain = read_xml(push, out, rowTag="item", schema=schema)
    for name, (cond, want) in conds.items():
        got = sorted(r.k for r in pushed.filter(cond).select("k").collect())
        ref = sorted(r.k for r in plain.filter(cond).select("k").collect())
        assert ref == want, name
        assert got == want, name


@pytest.mark.parametrize("corrupt", [False, True], ids=["columnar", "row"])
def test_pushdown_string_split_by_comment_or_pi(push, tmp_path, corrupt):
    """The parser joins text around comments, PIs and CDATA, so a value
    can equal a literal that never appears verbatim in the raw record:
    the raw-text prefilter must not reject such records."""
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
    pushed = read_xml(push, str(p), rowTag="ROW", schema=schema,
                      filterPushdown="true")
    plain = read_xml(push, str(p), rowTag="ROW", schema=schema)
    for name, cond in conds.items():
        ref = sorted(r.id for r in plain.filter(cond).select("id").collect())
        got = sorted(r.id for r in pushed.filter(cond).select("id").collect())
        assert ref == [1, 2, 3, 4], name
        assert got == ref, name
