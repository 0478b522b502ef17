"""``read_xml`` plans its scan on the driver and runs it as one
``mapInArrow`` job; ``spark.read.format("xml-graft")`` plans through
Spark's Python Data Source planner. Both read through ``XmlReader``, so
they must agree in schema and rows on every input shape, and the scan
function's pickled size must not grow with the number of partitions."""

import os

import pytest
from pyspark.sql import types as T

from spark_xml_spark.sources import infer_xml_schema, read_xml, register

FLAT = "".join(
    f"<r><id>{i}</id><name>n{i}</name><score>{i}.5</score>"
    f"<ts>2024-03-0{i % 9 + 1}T10:20:30</ts></r>"
    for i in range(30)
)
NESTED = "".join(
    f'<r id="{i}"><title>t{i}</title>'
    f"<rev><n>{i}</n><tag>a</tag><tag>b{i}</tag></rev><rev><n>{i + 1}</n></rev>"
    f"<meta><k>{i % 3}</k></meta></r>"
    for i in range(30)
)
BROKEN = FLAT + "<r><id>oops</id><name>x</r><r><id>7</id><name>ok</name></r>"


def _write(path, body):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("<rows>" + body + "</rows>")


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    root = tmp_path_factory.mktemp("route")
    _write(str(root / "flat" / "a.xml"), FLAT)
    _write(str(root / "nested" / "a.xml"), NESTED)
    _write(str(root / "broken" / "a.xml"), BROKEN)
    for k in (1, 2):
        _write(str(root / "hive" / f"k={k}" / "a.xml"), FLAT[: 400 * k])
    os.makedirs(root / "empty")
    return str(root)


def _bare(schema):
    # the data source tags its inferred schema's first field with its
    # options (how catalog tables get them); the shape is what must agree
    return T.StructType(
        [T.StructField(f.name, f.dataType, f.nullable) for f in schema.fields]
    )


def _format(spark, path, schema=None, **options):
    register(spark)
    reader = spark.read.format("xml-graft").options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def _same(a, b, bare=True):
    if bare:
        assert _bare(a.schema) == _bare(b.schema)
    else:
        assert a.schema == b.schema
    assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect()))


def _scans(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("layout", ["flat", "nested", "hive"])
def test_inferred_read_matches_data_source(spark, data, layout):
    path = os.path.join(data, layout)
    got = read_xml(spark, path, rowTag="r")
    assert "MapInArrow xml_graft_scan" in _scans(got)
    assert got.count() > 0
    _same(got, _format(spark, path, rowTag="r"))


def test_explicit_schema_matches_data_source(spark, data):
    path = os.path.join(data, "nested")
    schema = infer_xml_schema(spark, path, rowTag="r")
    _same(
        read_xml(spark, path, schema, rowTag="r"),
        _format(spark, path, schema, rowTag="r"),
        bare=False,
    )


@pytest.mark.parametrize("mode", ["PERMISSIVE", "DROPMALFORMED"])
def test_corrupt_records_match_data_source(spark, data, mode):
    path = os.path.join(data, "broken")
    ddl = "id long, name string, _corrupt_record string"
    got = read_xml(spark, path, ddl, rowTag="r", mode=mode)
    want = _format(spark, path, ddl, rowTag="r", mode=mode)
    _same(got, want, bare=False)
    malformed = got.filter("_corrupt_record IS NOT NULL").count()
    assert malformed == (1 if mode == "PERMISSIVE" else 0)


def test_failfast_raises_like_data_source(spark, data):
    path = os.path.join(data, "broken")
    for df in (
        read_xml(spark, path, "id long", rowTag="r", mode="FAILFAST"),
        _format(spark, path, "id long", rowTag="r", mode="FAILFAST"),
    ):
        with pytest.raises(Exception, match="Malformed line in FAILFAST mode"):
            df.collect()


def test_columns_match_pruned_data_source(spark, data):
    path = os.path.join(data, "nested")
    schema = infer_xml_schema(spark, path, rowTag="r")
    got = read_xml(spark, path, schema, columns=["title", "_id"], rowTag="r")
    pruned = T.StructType([f for f in schema.fields if f.name in ("title", "_id")])
    assert got.columns == ["_id", "title"]
    _same(got, _format(spark, path, pruned, rowTag="r"), bare=False)


def test_ddl_string_schema_matches_data_source(spark, data):
    path = os.path.join(data, "flat")
    ddl = "name string, id int, score double, missing string"
    got = read_xml(spark, path, ddl, rowTag="r")
    assert got.schema == T.StructType.fromDDL(ddl)
    _same(got, _format(spark, path, ddl, rowTag="r"), bare=False)


def test_infer_schema_false_matches_data_source(spark, data):
    path = os.path.join(data, "nested")
    got = read_xml(spark, path, rowTag="r", inferSchema=False)
    want = _format(spark, path, rowTag="r", inferSchema="false")
    assert "MapInArrow xml_graft_scan" in _scans(got)
    _same(got, want, bare=False)
    assert {f.dataType for f in got.schema.fields} >= {T.StringType()}


def test_session_time_zone_matches_data_source(spark, data):
    path = os.path.join(data, "flat")
    zone = "America/New_York"
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        got = read_xml(spark, path, "id long, ts timestamp", rowTag="r")
        # the raw format path cannot see the session conf: it is told
        want = _format(spark, path, "id long, ts timestamp", rowTag="r",
                       timezone=zone)
        _same(got, want, bare=False)
        utc = _format(spark, path, "id long, ts timestamp", rowTag="r")
        assert sorted(got.collect()) != sorted(utc.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_empty_directory_raises_like_data_source(spark, data):
    path = os.path.join(data, "empty")
    with pytest.raises(Exception, match="No input files found"):
        read_xml(spark, path, "id long", rowTag="r").collect()
    with pytest.raises(Exception, match="No input files found"):
        _format(spark, path, "id long", rowTag="r").collect()


def test_filter_pushdown_read_stays_on_data_source(spark, data):
    """``filterPushdown`` is an unknown option: such a read takes the
    planned route like any other, and Spark applies the filter."""
    path = os.path.join(data, "flat")
    df = read_xml(spark, path, "id long", rowTag="r", filterPushdown="true")
    plan = _scans(df.filter("id < 5"))
    assert "MapInArrow xml_graft_scan" in plan and "BatchScan" not in plan
    assert df.filter("id < 5").count() == 5


@pytest.mark.parametrize(
    "extra", [{}, {"filterPushdown": "true"}], ids=["plain", "filterPushdown"]
)
def test_list_of_paths_reads_every_file(spark, tmp_path, extra):
    paths = []
    for name, lo in (("a", 0), ("b", 10)):
        path = str(tmp_path / f"{name}.xml")
        _write(path, "".join(f"<r><id>{i}</id></r>" for i in range(lo, lo + 3)))
        paths.append(path)
    schema = infer_xml_schema(spark, paths, rowTag="r", **extra)
    assert schema.fieldNames() == ["id"]
    for df in (
        read_xml(spark, paths, rowTag="r", **extra),
        read_xml(spark, paths, "id long", rowTag="r", **extra),
    ):
        assert sorted(r.id for r in df.collect()) == [0, 1, 2, 10, 11, 12]


def test_read_needs_no_registered_data_source(spark, data, monkeypatch):
    """Neither ``read_xml`` nor ``infer_xml_schema`` registers the data
    source: registration starts Spark's data-source lookup worker the
    first time a JVM registers one."""
    from pyspark.sql.datasource import DataSourceRegistration

    from spark_xml_spark.sources import api

    def refuse(self, source):
        raise AssertionError("read registered the data source")

    # a session this module already registered would skip the call
    monkeypatch.setattr(
        api, "_REGISTERED_SESSIONS", type(api._REGISTERED_SESSIONS)()
    )
    monkeypatch.setattr(DataSourceRegistration, "register", refuse)
    path = os.path.join(data, "flat")
    assert infer_xml_schema(spark, path, rowTag="r").fieldNames()
    assert read_xml(spark, path, rowTag="r").count() == 30
    assert read_xml(spark, path, "id long", rowTag="r").count() == 30
    assert read_xml(spark, path, rowTag="r", inferSchema=False).count() == 30


def test_size_estimate_and_partitions_match_data_source(spark, data):
    """Spark picks join strategies from the size estimate: a read that
    looked small would be broadcast into every join it takes part in."""
    from spark_xml_spark.sources.datasource import XmlReader

    def size(df):
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    path = os.path.join(data, "hive")
    opts = {"rowTag": "r", "targetSplitSize": "300"}
    got = read_xml(spark, path, "id long, k int", **opts)
    assert size(got) == size(_format(spark, path, "id long, k int", **opts))
    parts = XmlReader(dict(opts, path=path), T.StructType()).partitions()
    assert got.rdd.getNumPartitions() == len(parts) > 2


def _scan_functions(spark, monkeypatch, tmp_path, n_records):
    """The functions read_xml and infer_xml_schema hand mapInArrow, on a
    file planned into one partition per record (and one for the root
    tag); no job runs."""
    path = tmp_path / f"{n_records}" / "p.xml"
    _write(str(path), "<r><a>1</a></r>" * n_records)
    # one 15-byte record per split, each split its own partition
    opts = {"rowTag": "r", "targetSplitSize": "15"}
    seen = []

    class Captured(Exception):
        pass

    def capture(self, func, schema, *args, **kwargs):
        seen.append(func)
        raise Captured

    monkeypatch.setattr(type(spark.range(0)), "mapInArrow", capture)
    for call in (
        lambda: read_xml(spark, str(path), "a long", **opts),
        lambda: infer_xml_schema(spark, str(path), **opts),
    ):
        with pytest.raises(Captured):
            call()
    monkeypatch.undo()
    return seen


def test_scan_function_size_does_not_grow_with_partitions(
    spark, monkeypatch, tmp_path
):
    from pyspark import cloudpickle

    from spark_xml_spark.sources.datasource import XmlReader

    n_big = 4000
    big_path = tmp_path / f"{n_big}" / "p.xml"
    small = _scan_functions(spark, monkeypatch, tmp_path, 4)
    big = _scan_functions(spark, monkeypatch, tmp_path, n_big)
    parts = XmlReader(
        {"path": str(big_path), "rowTag": "r", "targetSplitSize": "15"},
        T.StructType(),
    ).partitions()
    assert len(parts) >= n_big
    sizes = [
        (len(cloudpickle.dumps(s)), len(cloudpickle.dumps(b)))
        for s, b in zip(small, big)
    ]
    spark.sparkContext._pickled_broadcast_vars.clear()
    for s, b in sizes:
        # equal but for the broadcast id, whose encoding may take a byte
        # more; the plan itself pickles to tens of kilobytes
        assert abs(s - b) <= 4, sizes
        assert b < len(cloudpickle.dumps(parts)) // 20, sizes
