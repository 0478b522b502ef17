"""End-to-end DataSource + column function tests on a live SparkSession.

Mirrors the reference's XmlSuite end-to-end coverage
(/root/reference/src/test/scala/com/databricks/spark/xml/XmlSuite.scala) —
read DSL, SQL over temp views, write/read roundtrips, from_xml family.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import Row, functions as F, types as T

from spark_xml_spark.functions import (
    from_xml,
    from_xml_string,
    schema_of_xml,
    to_xml,
)
from spark_xml_spark.sources import read_xml, register, write_xml

RES = "/root/reference/src/test/resources"
# the flat reference files, rebuilt in-repo (cars, cars-malformed, books)
FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_read_cars(spark):
    df = read_xml(spark, f"{FIX}/cars.xml", rowTag="ROW")
    assert df.schema.simpleString() == (
        "struct<comment:string,make:string,model:string,year:bigint>"
    )
    assert df.count() == 3
    got = df.select("year").where(F.col("year") == 2012).collect()
    assert [r.year for r in got] == [2012]


def test_read_books_sql(spark):
    df = read_xml(spark, f"{FIX}/books.xml", rowTag="book")
    df.createOrReplaceTempView("books")
    got = spark.sql(
        "SELECT _id, price FROM books WHERE price > 10 ORDER BY price DESC LIMIT 2"
    ).collect()
    assert len(got) == 2 and got[0].price >= got[1].price
    assert spark.sql("SELECT count(*) AS n FROM books").first().n == 12


def test_read_explicit_schema_pruning(spark):
    schema = T.StructType(
        [
            T.StructField("make", T.StringType()),
            T.StructField("year", T.LongType()),
        ]
    )
    df = read_xml(spark, f"{FIX}/cars.xml", schema=schema, rowTag="ROW")
    assert df.columns == ["make", "year"]
    assert {r.make for r in df.collect()} == {"Tesla", "Ford", "Chevy"}


def test_read_gzip_and_attributes(spark):
    df = read_xml(spark, f"{RES}/fias_house.xml.gz", rowTag="House")
    assert df.count() == 37
    assert df.where(F.col("_HOUSEID").isNotNull()).count() == 37


def test_parse_modes_end_to_end(spark):
    df = read_xml(
        spark, f"{FIX}/cars-malformed.xml", rowTag="ROW", mode="DROPMALFORMED"
    )
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.make, r.model, r.year) == ("Chevy", "Volt", 2015)

    df2 = read_xml(
        spark,
        f"{FIX}/cars-malformed.xml",
        rowTag="ROW",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_malformed_records",
    )
    rows2 = df2.collect()
    assert len(rows2) == 3
    bad = [r for r in rows2 if r["_malformed_records"] is not None]
    assert len(bad) == 2


def test_write_read_roundtrip(spark, tmp_path):
    data = [
        Row(
            _id=f"id{i}",
            name=f"n&<{i}>",
            price=float(i) * 1.5,
            tags=[f"t{i}", "x"],
            when=dt.datetime(2024, 1, 1, 12, 0, i % 60),
            day=dt.date(2024, 1, (i % 28) + 1),
            ok=i % 2 == 0,
        )
        for i in range(100)
    ]
    df = spark.createDataFrame(data).repartition(4)
    out = str(tmp_path / "xmlout")
    write_xml(df, out, rowTag="item", rootTag="items")
    back = read_xml(spark, out, rowTag="item", schema=df.schema)
    assert back.count() == 100
    a = sorted(df.collect(), key=lambda r: r._id)
    b = sorted(back.collect(), key=lambda r: r._id)
    assert a == b


def test_write_overwrite_mode(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1)], "a long")
    out = str(tmp_path / "ow")
    write_xml(df, out, rowTag="r")
    write_xml(df, out, rowTag="r")  # overwrite is default
    assert read_xml(spark, out, rowTag="r").count() == 1
    with pytest.raises(Exception):
        write_xml(df, out, mode="append", rowTag="r")


def test_write_overwrite_clears_stale_marker_only_dir(spark, tmp_path):
    """A target dir holding only marker files (_SUCCESS from an aborted or
    foreign writer) must be deleted on overwrite — dir_has_data() treats it
    as empty, but its stale contents must not survive into the new output."""
    out = tmp_path / "ow_stale"
    out.mkdir()
    (out / "_SUCCESS").write_text("")
    (out / ".hidden_tmp").write_text("junk")
    df = spark.createDataFrame([Row(a=7)], "a long")
    write_xml(df, str(out), rowTag="r")
    assert not (out / "_SUCCESS").exists()
    assert not (out / ".hidden_tmp").exists()
    assert read_xml(spark, str(out), rowTag="r").count() == 1


def test_sql_ddl_using_format(spark, tmp_path):
    register(spark)
    spark.sql("DROP TABLE IF EXISTS cars_xml")
    spark.sql(
        f"""CREATE TABLE cars_xml
        USING `xml-graft`
        OPTIONS (path '{FIX}/cars.xml', rowTag 'ROW',
                 schema_hint 'unused')"""
    )
    try:
        assert spark.sql("SELECT count(*) AS n FROM cars_xml").first().n == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS cars_xml")


def test_register_keys_live_sessions_not_ids():
    """A new session that gets a dead session's id() is still registered,
    and a dead session leaves the registry."""
    from types import SimpleNamespace

    from spark_xml_spark.sources import api

    calls = []

    class Session:  # register() touches only .dataSource
        dataSource = SimpleNamespace(register=calls.append)

    before = len(api._REGISTERED_SESSIONS)
    for _ in range(100):
        dead = Session()
        register(dead)
        register(dead)
        dead_id = id(dead)
        del dead
        fresh = Session()
        if id(fresh) == dead_id:
            break
    assert id(fresh) == dead_id  # CPython reused the freed address
    assert len(api._REGISTERED_SESSIONS) == before
    n = len(calls)
    register(fresh)
    assert len(calls) == n + 1
    assert len(api._REGISTERED_SESSIONS) == before + 1


def test_catalog_tables_with_identical_schemas_disambiguate(spark, tmp_path):
    """Catalog tables with byte-identical column layouts read THEIR OWN
    rows under THEIR OWN options, also when they share a directory: each
    table's options ride in its schema's metadata, so nothing outside the
    catalog (a temp-dir file, say) is needed to read it."""
    import shutil
    import tempfile

    register(spark)
    dirs = {}
    for name, vals in (("xgt_a", (1, 2)), ("xgt_b", (10, 20, 30))):
        d = tmp_path / name
        d.mkdir()
        with open(d / "data.xml", "w") as fh:
            fh.write(
                "<rs>" + "".join(f"<r><v>{v}</v></r>" for v in vals) + "</rs>"
            )
        dirs[name] = str(d)
    shared = tmp_path / "shared"
    shared.mkdir()
    (shared / "data.xml").write_text(
        "<rs><r><name>NA</name><u>x</u></r><r><name>bob</name><u>y</u></r></rs>"
    )
    tables = {
        "xgt_a": f"path '{dirs['xgt_a']}', rowTag 'r'",
        "xgt_b": f"path '{dirs['xgt_b']}', rowTag 'r'",
        "t_plain": f"path '{shared}', rowTag 'r'",
        "t_na": f"path '{shared}', rowTag 'r', nullValue 'NA'",
    }

    def names(table):
        rows = spark.sql(f"SELECT name FROM {table} ORDER BY u").collect()
        return [r.name for r in rows]

    try:
        for name, opts in tables.items():
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            spark.sql(f"CREATE TABLE {name} USING `xml-graft` OPTIONS ({opts})")
            if name == "t_plain":
                assert names("t_plain") == ["NA", "bob"]
        a = spark.sql("SELECT v FROM xgt_a ORDER BY v").collect()
        b = spark.sql("SELECT v FROM xgt_b ORDER BY v").collect()
        assert [r.v for r in a] == [1, 2]
        assert [r.v for r in b] == [10, 20, 30]
        assert names("t_plain") == ["NA", "bob"]
        assert names("t_na") == [None, "bob"]
        # no file under the temp dir is needed to read them
        shutil.rmtree(
            os.path.join(tempfile.gettempdir(), "xml_graft_catalog"),
            ignore_errors=True,
        )
        assert names("t_plain") == ["NA", "bob"]
        assert names("t_na") == [None, "bob"]
    finally:
        for name in tables:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_schema_inference_writes_nothing_to_temp_dir(
    spark, tmp_path, monkeypatch
):
    """The data source's schema() and read_xml(inferSchema=False) leave
    the temp dir as they found it: a table's options live in its schema."""
    import tempfile

    from spark_xml_spark.sources.api import _source_options
    from spark_xml_spark.sources.datasource import XmlDataSource

    data = tmp_path / "data"
    data.mkdir()
    (data / "a.xml").write_text("<rs><r><v>1</v></r><r><v>2</v></r></rs>")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    opts = {"rowTag": "r", "inferSchema": "false"}
    XmlDataSource(_source_options(opts, str(data))).schema()
    df = read_xml(spark, str(data), rowTag="r", inferSchema=False)
    assert sorted(r.v for r in df.collect()) == ["1", "2"]
    assert list(tmp.iterdir()) == []


def test_catalog_table_with_column_list_says_so(spark, tmp_path):
    """A table declared with a column list never has schema() called, so
    its reader gets neither options nor a tagged schema: the error says
    to declare the table without one."""
    d = tmp_path / "cl"
    d.mkdir()
    (d / "a.xml").write_text("<rs><r><k>1</k></r></rs>")
    register(spark)
    spark.sql("DROP TABLE IF EXISTS xgt_cols")
    spark.sql(
        f"CREATE TABLE xgt_cols (k long) USING `xml-graft` "
        f"OPTIONS (path '{d}', rowTag 'r')"
    )
    try:
        with pytest.raises(
            Exception, match="declared with a column list is unsupported"
        ):
            spark.sql("SELECT k FROM xgt_cols").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS xgt_cols")


def test_from_xml_and_schema_of_xml(spark):
    rows = [
        Row(x='<r><a>1</a><b>x</b></r>'),
        Row(x='<r><a>2</a><b>y</b></r>'),
        Row(x=None),
    ]
    df = spark.createDataFrame(rows)
    schema = schema_of_xml(spark, df, column="x")
    assert schema.simpleString() == "struct<a:bigint,b:string>"
    parsed = df.select(from_xml("x", schema).alias("p")).select("p.*")
    got = parsed.collect()
    assert (got[0].a, got[0].b) == (1, "x")
    assert got[2].a is None

    # malformed -> null struct (PERMISSIVE downgrades without corrupt col)
    df2 = spark.createDataFrame([Row(x="<r><a>oops</r>")])
    p = df2.select(from_xml("x", schema).alias("p")).first().p
    assert p is None


def test_from_xml_string_driver():
    row = from_xml_string(
        '<person><age born="1990-02-24">25</age><name>H</name></person>',
        "struct<age:struct<_VALUE:bigint,_born:date>,name:string>",
    )
    assert row == ((25, dt.date(1990, 2, 24)), "H")
    # named-field access (reference returns a Row, package.scala:154-157)
    assert row["name"] == "H"
    assert row["age"]["_VALUE"] == 25
    assert row["age"]["_born"] == dt.date(1990, 2, 24)


def test_to_xml_from_xml_inverse(spark):
    df = spark.range(50).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("val"),
        F.concat(F.lit("name"), F.col("id")).alias("name"),
    )
    st = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("name", T.StringType()),
        ]
    )
    xml_df = df.select(
        to_xml(F.struct("id", "val", "name"), st, {"rowTag": "rec"}).alias("x")
    )
    back = xml_df.select(from_xml("x", st).alias("p")).select("p.*")
    assert sorted(back.collect()) == sorted(df.collect())


@pytest.mark.parametrize(
    "opts", [{}, {"indent": "true"}, {"nullValue": "NA"}],
    ids=["default", "indent", "nullValue"],
)
def test_to_xml_flat_matches_generic_writer(spark, opts):
    """A flat all-scalar struct takes the writer's precompiled generator;
    its fragments are byte-identical to the generic per-row writer's, an
    all-null row included."""
    from decimal import Decimal

    from spark_xml_spark.options import XmlOptions
    from spark_xml_spark.xmlcore import generator

    st = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("name", T.StringType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("day", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("price", T.DecimalType(12, 2)),
        ]
    )
    rows = [
        (i, i * 2.5, f"n<{i}>&", i % 2 == 0, dt.date(2024, 1, i % 28 + 1),
         dt.datetime(2024, 1, 2, 3, 4, i % 60), Decimal(i) / 4)
        for i in range(40)
    ] + [(None,) * len(st.fields)]
    df = spark.createDataFrame(rows, st)
    xo = XmlOptions.from_dict(dict(opts, rowTag="rec"))
    assert generator.FastFlatGenerator.try_build(st, xo) is not None
    got = [
        r.x
        for r in df.select(
            to_xml(F.struct(*st.names), st, dict(opts, rowTag="rec")).alias("x")
        ).collect()
    ]
    want = [generator.row_to_xml(st, r, xo) for r in df.collect()]
    assert got == want


def test_read_xml_columns_pruning(spark):
    from spark_xml_spark.sources.api import read_xml

    df = read_xml(
        spark,
        f"{FIX}/cars.xml",
        rowTag="ROW",
        columns=["year", "make"],
    )
    assert df.columns == ["make", "year"] or set(df.columns) == {"year", "make"}
    assert {(r["year"], r["make"]) for r in df.collect()} == {
        (2012, "Tesla"),
        (1997, "Ford"),
        (2015, "Chevy"),
    }
    import pytest

    with pytest.raises(ValueError, match="columns not in schema"):
        read_xml(
            spark,
            f"{FIX}/cars.xml",
            rowTag="ROW",
            columns=["nope"],
        )


def test_sql_insert_overwrite(spark, tmp_path):
    """Reference S4/S16: INSERT OVERWRITE rewrites the table; append is
    rejected (XmlRelation.scala:61-84, DefaultSource.scala:83-106)."""
    import shutil
    import hashlib

    from spark_xml_spark.sources.api import register, write_xml

    register(spark)
    tag = "c_" + hashlib.sha256(str(tmp_path).encode()).hexdigest()[:12]
    d = str(tmp_path / "ins_tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], f"k long, {tag} string")
    write_xml(df, d, rowTag="r")
    spark.sql("DROP TABLE IF EXISTS ins_ovr_t")
    spark.sql(
        f"CREATE TABLE ins_ovr_t USING `xml-graft` OPTIONS (path '{d}', rowTag 'r')"
    )
    try:
        assert {
            tuple(r) for r in spark.sql(f"SELECT k, {tag} FROM ins_ovr_t").collect()
        } == {(1, "a"), (2, "b")}
        spark.sql("INSERT OVERWRITE TABLE ins_ovr_t VALUES ('A', 11), ('B', 12)")
        assert {
            tuple(r) for r in spark.sql(f"SELECT k, {tag} FROM ins_ovr_t").collect()
        } == {(11, "A"), (12, "B")}
        import pytest

        with pytest.raises(Exception, match="Append mode is not supported"):
            spark.sql("INSERT INTO ins_ovr_t VALUES ('z', 99)")
    finally:
        spark.sql("DROP TABLE IF EXISTS ins_ovr_t")
        shutil.rmtree(d, ignore_errors=True)


def test_concurrent_reads(spark, tmp_path):
    """XmlSuite.scala:1475-1508 concurrency smoke: parallel reads of the
    same and different XML inputs from multiple threads."""
    from concurrent.futures import ThreadPoolExecutor

    from spark_xml_spark.sources.api import read_xml

    paths = []
    for i in range(4):
        p = tmp_path / f"t{i}.xml"
        with open(p, "w") as fh:
            fh.write("<RS>")
            for j in range(50):
                fh.write(f"<R><a>{i * 1000 + j}</a></R>")
            fh.write("</RS>")
        paths.append(str(p))

    def work(i):
        df = read_xml(spark, paths[i % 4], rowTag="R")
        return df.count(), df.agg({"a": "min"}).first()[0]

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(work, range(16)))
    for i, (n, mn) in enumerate(results):
        assert n == 50
        assert mn == (i % 4) * 1000


def test_option_validation_errors(spark):
    """XmlSuite.scala:842-886: invalid option combinations raise."""
    from spark_xml_spark.options import XmlOptions

    with pytest.raises(ValueError, match="rowTag"):
        XmlOptions.from_dict({"rowTag": ""})
    with pytest.raises(ValueError, match="angle brackets"):
        XmlOptions.from_dict({"rowTag": "<ROW>"})
    with pytest.raises(ValueError, match="angle brackets"):
        XmlOptions.from_dict({"rootTag": "<ROWS>"})
    with pytest.raises(ValueError, match="valueTag"):
        XmlOptions.from_dict({"valueTag": ""})
    with pytest.raises(ValueError, match="should not be the same"):
        XmlOptions.from_dict({"valueTag": "#", "attributePrefix": "#"})
    with pytest.raises(ValueError, match="samplingRatio"):
        XmlOptions.from_dict({"samplingRatio": "0"})


def test_sampling_ratio_inference(spark, tmp_path):
    """XmlSuite.scala:521-530: sampled inference still finds the schema on
    homogeneous data."""
    p = tmp_path / "s.xml"
    with open(p, "w") as fh:
        fh.write("<RS>")
        for i in range(400):
            fh.write(f"<R><a>{i}</a><b>x{i}</b></R>")
        fh.write("</RS>")
    df = read_xml(spark, str(p), rowTag="R", samplingRatio=0.3)
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"
    assert df.count() == 400


def test_utf16_charset_roundtrip(spark, tmp_path):
    """Non-ASCII-compatible charset: whole-file decode path."""
    out = str(tmp_path / "u16")
    df = spark.createDataFrame([(1, "héllo"), (2, "wörld")], "k long, v string")
    write_xml(df, out, rowTag="r", charset="UTF-16")
    back = read_xml(spark, out, rowTag="r", charset="UTF-16")
    assert {(r["k"], r["v"]) for r in back.collect()} == {(1, "héllo"), (2, "wörld")}


def test_ebcdic_charset_write_read_roundtrip(spark, tmp_path):
    """EBCDIC end-to-end THROUGH SPARK: write cp037 (TextIOWrapper honors
    any Python codec), read back split-parallel (forced tiny
    targetSplitSize so the per-split transcode scanner actually splits)
    with exact values."""
    out = str(tmp_path / "ebcdic")
    rows = [(i, f"val-{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v string")
    write_xml(df.repartition(1), out, rowTag="r", charset="cp037")
    back = read_xml(spark, out, rowTag="r", charset="cp037",
                    targetSplitSize="512")
    assert back.rdd.getNumPartitions() > 1  # genuinely split-parallel
    assert {(r["k"], r["v"]) for r in back.collect()} == set(rows)


class TestSessionTimezone:
    """Reference parity: the session timeZone is injected as the default
    ``timezone`` option (DefaultSource.scala:70-74), so zone-less timestamp
    strings read as session-local wall time while instant-shaped strings
    (the writer's own output) stay exact."""

    def test_naive_strings_read_in_session_zone(self, spark, tmp_path):
        import datetime as dt

        from spark_xml_spark.sources.api import read_xml

        p = tmp_path / "tz"
        p.mkdir()
        (p / "a.xml").write_text(
            "<rows><r><ts>2024-06-15 12:00:00</ts><k>1</k></r></rows>"
        )
        schema = "ts timestamp, k bigint"
        from pyspark.sql.types import StructType

        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
            df = read_xml(spark, str(p), rowTag="r")
            got = df.collect()[0]["ts"]
            # PySpark collect() returns naive datetimes in the process-local
            # zone (UTC under conftest); LA noon in June (UTC-7) is 19:00 UTC
            assert got == dt.datetime(2024, 6, 15, 19, 0, 0)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        # same file under UTC session: naive string IS the instant
        df = read_xml(spark, str(p), rowTag="r")
        assert df.collect()[0]["ts"] == dt.datetime(2024, 6, 15, 12, 0, 0)

    def test_instant_round_trip_any_session_zone(self, spark, tmp_path):
        import datetime as dt

        from spark_xml_spark.sources.api import read_xml, write_xml

        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
            df = spark.sql(
                "SELECT timestamp'2024-06-15 12:00:00 UTC' AS ts, 2 AS k"
            )
            out = str(tmp_path / "rt")
            write_xml(df, out, rowTag="r")
            back = read_xml(spark, out, rowTag="r")
            assert back.collect()[0]["ts"] == dt.datetime(2024, 6, 15, 12, 0, 0)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
