"""Hive-style partitioned-directory XML reads.

The reference inherits partition discovery/pruning from Spark's
FileFormat machinery (PartitioningAwareFileIndex — public Spark
behavior); the Python data source reimplements it: discovery in
sources/partitions.py, pruning + value attachment in
sources/datasource.py.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_xml_spark.sources.api import read_xml
from spark_xml_spark.sources.partitions import (
    append_partition_fields,
    discover_partitions,
)


def _tree(base, layout):
    """layout: {(year, region): [(id, name), ...]} -> partitioned XML."""
    for (year, region), rows in layout.items():
        d = os.path.join(base, f"year={year}", f"region={region}")
        os.makedirs(d, exist_ok=True)
        body = "".join(
            f"<rec><id>{i}</id><name>{n}</name></rec>" for i, n in rows
        )
        with open(os.path.join(d, "part.xml"), "w") as fh:
            fh.write(f"<root>{body}</root>")


LAYOUT = {
    (2023, "EU"): [(1, "a"), (2, "b")],
    (2023, "US"): [(3, "c")],
    (2024, "EU"): [(4, "d"), (5, "e")],
}


def test_discover_partitions_types_and_nulls(tmp_path):
    base = str(tmp_path)
    _tree(base, LAYOUT)
    os.makedirs(f"{base}/year=__HIVE_DEFAULT_PARTITION__/region=EU")
    with open(
        f"{base}/year=__HIVE_DEFAULT_PARTITION__/region=EU/part.xml", "w"
    ) as fh:
        fh.write("<root><rec><id>9</id><name>z</name></rec></root>")
    files, pcols = discover_partitions(base)
    assert pcols == [("year", "bigint"), ("region", "string")]
    assert len(files) == 4
    vals = {pv for _, _, pv in files}
    assert (None, "EU") in vals and ("2024", "EU") in vals
    # mixed top-level data file + partition dirs -> conflict error
    with open(f"{base}/stray.xml", "w") as fh:
        fh.write("<root/>")
    with pytest.raises(ValueError, match="conflicting partition"):
        discover_partitions(base)


def test_discover_flat_dir_unchanged(tmp_path):
    p = tmp_path / "x.xml"
    p.write_text("<root/>")
    files, pcols = discover_partitions(str(tmp_path))
    assert pcols == [] and [pv for _, _, pv in files] == [()]


def test_append_partition_fields_collision():
    sch = T.StructType([T.StructField("year", T.LongType())])
    with pytest.raises(ValueError, match="collide"):
        append_partition_fields(sch, [("year", "bigint")])


def test_partitioned_read_schema_values_and_order(spark, tmp_path):
    base = str(tmp_path)
    _tree(base, LAYOUT)
    df = read_xml(spark, base, rowTag="rec")
    assert df.columns == ["id", "name", "year", "region"]
    assert dict(df.dtypes)["year"] == "bigint"
    got = {(r.id, r.year, r.region) for r in df.collect()}
    assert got == {
        (1, 2023, "EU"), (2, 2023, "EU"), (3, 2023, "US"),
        (4, 2024, "EU"), (5, 2024, "EU"),
    }


def test_partition_filter_prunes_files_before_read(spark, tmp_path):
    """Reader-level proof: a pushed partition filter removes whole
    partition-value groups from the planned splits (no byte of a pruned
    file is opened), and a data filter rides along as a row filter."""
    from pyspark.sql import datasource as ds

    from spark_xml_spark.sources.datasource import XmlPushdownReader

    base = str(tmp_path)
    _tree(base, LAYOUT)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("year", T.LongType()),
            T.StructField("region", T.StringType()),
        ]
    )
    r = XmlPushdownReader(
        {"path": base, "rowTag": "rec", "filterPushdown": "true"}, schema
    )
    remaining = r.pushFilters(
        [ds.EqualTo(("year",), 2024), ds.GreaterThan(("id",), 4)]
    )
    assert remaining == []
    parts = r.partitions()
    files = {s[0] for p in parts for s in p.splits}
    assert all("year=2024" in f for f in files) and files
    assert {p.pvals for p in parts} == {("2024", "EU")}
    rows = []
    for p in parts:
        for item in r.read(p):
            rows.extend(
                item.to_pylist() if hasattr(item, "to_pylist") else [item]
            )
    assert [(row["id"], row["year"]) for row in rows] == [(5, 2024)]


def test_partitioned_end_to_end_pushdown_plan(spark, tmp_path):
    base = str(tmp_path)
    _tree(base, LAYOUT)
    df = read_xml(spark, base, rowTag="rec", filterPushdown="true")
    pr = df.filter((F.col("year") == 2024) & (F.col("id") >= 5))
    plan = pr._jdf.queryExecution().executedPlan().toString()
    # both filters consumed by the scan: no Filter NODE remains
    assert ") Filter " not in plan and "+- Filter " not in plan
    assert [(r.id, r.year) for r in pr.collect()] == [(5, 2024)]


def test_explicit_schema_without_partition_cols_is_data_only(spark, tmp_path):
    base = str(tmp_path)
    _tree(base, LAYOUT)
    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    df = read_xml(spark, base, schema=sch, rowTag="rec")
    assert df.columns == ["id", "name"] and df.count() == 5


def test_partition_cols_must_be_schema_tail(spark, tmp_path):
    base = str(tmp_path)
    _tree(base, LAYOUT)
    bad = T.StructType(
        [
            T.StructField("year", T.LongType()),  # pcol first: rejected
            T.StructField("id", T.LongType()),
            T.StructField("region", T.StringType()),
        ]
    )
    with pytest.raises(Exception, match="LAST fields"):
        read_xml(spark, base, schema=bad, rowTag="rec").collect()
    # the stream source plans through the same rule
    from spark_xml_spark.streaming.source import XmlStreamReader

    r = XmlStreamReader({"path": base, "rowTag": "rec"}, bad)
    with pytest.raises(ValueError, match="LAST fields"):
        r.partitions(r.initialOffset(), r.latestOffset())


def test_partitioned_write_roundtrip(spark, tmp_path):
    """write_xml(partition_by=...) lays out col=value/ dirs with the
    partition columns OMITTED from file content; a partitioned read
    recovers them typed, NULL values land in __HIVE_DEFAULT_PARTITION__,
    and pruning works on the written layout."""
    rows = [
        (1, "a", 2023), (2, "b", 2023), (3, "c", 2024),
        (4, "d", None),
    ]
    df = spark.createDataFrame(rows, "id long, name string, year long")
    out = str(tmp_path / "out")
    from spark_xml_spark.sources.api import write_xml

    write_xml(df, out, rowTag="rec", partition_by="year")
    import glob

    dirs = sorted(os.path.basename(d) for d in glob.glob(f"{out}/year=*"))
    assert dirs == ["year=2023", "year=2024", "year=__HIVE_DEFAULT_PARTITION__"]
    # partition column not in the file content
    content = open(glob.glob(f"{out}/year=2024/*.xml")[0]).read()
    assert "<year>" not in content and "<id>3</id>" in content
    back = read_xml(spark, out, rowTag="rec")
    got = {(r.id, r.name, r.year) for r in back.collect()}
    assert got == {(1, "a", 2023), (2, "b", 2023), (3, "c", 2024),
                   (4, "d", None)}
    pruned = read_xml(spark, out, rowTag="rec", filterPushdown="true").filter(
        F.col("year") == 2023
    )
    assert sorted(r.id for r in pruned.collect()) == [1, 2]
    # special chars escape like Spark's escapePathName and round-trip
    df2 = spark.createDataFrame([(1, "x", "a/b c")],
                                "id long, name string, src string")
    out2 = str(tmp_path / "out2")
    write_xml(df2, out2, rowTag="rec", partition_by=["src"])
    assert glob.glob(f"{out2}/src=a%2Fb%20c/*.xml")
    back2 = read_xml(spark, out2, rowTag="rec")
    assert [r.src for r in back2.collect()] == ["a/b c"]
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_xml(df2, out2, rowTag="rec", partition_by=["nope"])


def test_sql_ddl_over_partitioned_layout(spark, tmp_path):
    """CREATE TABLE ... USING xml-graft on a Hive-partitioned directory:
    schema() appends the typed partition columns, SQL filters on them
    work through the catalog path (options recovered via the stash)."""
    from spark_xml_spark.sources.api import register

    base = str(tmp_path)
    _tree(base, LAYOUT)
    register(spark)
    spark.sql("DROP TABLE IF EXISTS part_xml")
    spark.sql(
        f"""CREATE TABLE part_xml USING `xml-graft`
        OPTIONS (path '{base}', rowTag 'rec')"""
    )
    try:
        got = spark.sql(
            "SELECT id, year, region FROM part_xml "
            "WHERE year = 2023 ORDER BY id"
        ).collect()
        assert [(r.id, r.year, r.region) for r in got] == [
            (1, 2023, "EU"), (2, 2023, "EU"), (3, 2023, "US")
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS part_xml")


def test_path_glob_filter_limits_listing(spark, tmp_path):
    """pathGlobFilter (Spark file-source option): only base names matching
    the glob are scanned — sidecar files sharing the directory are
    invisible to the reader, on both the read_xml and DDL paths."""
    (tmp_path / "a.xml").write_text("<rs><r><id>1</id></r></rs>")
    (tmp_path / "b.txt").write_text("<rs><r><id>99</id></r></rs>")
    (tmp_path / "c.xml").write_text("<rs><r><id>2</id></r></rs>")
    df = read_xml(spark, str(tmp_path), rowTag="r", pathGlobFilter="*.xml")
    assert sorted(r.id for r in df.collect()) == [1, 2]
    # without the filter the .txt rows leak in
    assert read_xml(spark, str(tmp_path), rowTag="r").count() == 3
    # no file matches -> pointed error, not an empty scan
    with pytest.raises(Exception, match="pathGlobFilter"):
        read_xml(spark, str(tmp_path), rowTag="r", pathGlobFilter="*.json")


def test_recursive_file_lookup_disables_partition_inference(spark, tmp_path):
    """recursiveFileLookup (Spark file-source option): every file under the
    tree is scanned — including non-name=value subdirectories the
    partition walk ignores — and partition inference is DISABLED (Spark's
    documented exclusivity), so name=value dirs contribute no columns."""
    part = tmp_path / "year=2023"
    part.mkdir()
    (part / "a.xml").write_text("<rs><r><id>1</id></r></rs>")
    raw = tmp_path / "raw" / "nested"
    raw.mkdir(parents=True)
    (raw / "b.xml").write_text("<rs><r><id>2</id></r></rs>")

    # partition walk: sees only the name=value branch, with a year column
    d1 = read_xml(spark, str(tmp_path), rowTag="r")
    assert d1.columns == ["id", "year"]
    assert [(r.id, r.year) for r in d1.collect()] == [(1, 2023)]

    # recursive lookup: both files, no partition column
    d2 = read_xml(
        spark, str(tmp_path), rowTag="r", recursiveFileLookup="true"
    )
    assert d2.columns == ["id"]
    assert sorted(r.id for r in d2.collect()) == [1, 2]

    # composes with pathGlobFilter
    d3 = read_xml(
        spark, str(tmp_path), rowTag="r",
        recursiveFileLookup="true", pathGlobFilter="b.xml",
    )
    assert [r.id for r in d3.collect()] == [2]


def test_path_glob_filter_zero_match_with_explicit_schema(spark, tmp_path):
    """The zero-match pathGlobFilter error must surface on the
    explicit-schema reader path too (the listing fallback previously
    swallowed it and scanned the whole directory unfiltered)."""
    (tmp_path / "a.xml").write_text("<rs><r><id>1</id></r></rs>")
    from spark_xml_spark.sources.api import register

    register(spark)
    df = (
        spark.read.format("xml-graft")
        .schema("id bigint")
        .option("rowTag", "r")
        .option("path", str(tmp_path))
        .option("pathGlobFilter", "*.json")
        .load()
    )
    with pytest.raises(Exception, match="pathGlobFilter"):
        df.collect()


def _stream_rows(spark, src, schema, name, **options):
    """Rows of an availableNow xml-graft stream over ``src`` (memory sink)."""
    reader = spark.readStream.format("xml-graft").schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load(src)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect()


@pytest.mark.parametrize(
    "ytype,year",
    [("long", 2023), ("int", 2023), ("string", "2023"), ("double", 2023.0)],
)
def test_declared_partition_type_batch_and_stream(spark, tmp_path, ytype, year):
    """A partition column declared in an explicit schema takes the DECLARED
    type on both readers (Spark's file sources cast partition values to
    the user schema), not the type discovery would infer."""
    from spark_xml_spark.sources.api import register

    register(spark)
    src = tmp_path / "src"
    (src / "year=2023").mkdir(parents=True)
    (src / "year=2023" / "a.xml").write_text(
        "<rec><id>1</id></rec><rec><id>2</id></rec>"
    )
    schema = f"id long, year {ytype}"
    batch = (
        spark.read.format("xml-graft")
        .schema(schema)
        .option("rowTag", "rec")
        .load(str(src))
        .collect()
    )
    stream = _stream_rows(
        spark, str(src), schema, f"ptype_{ytype}", rowTag="rec"
    )
    got = sorted((r.id, r.year) for r in batch)
    assert got == sorted((r.id, r.year) for r in stream)
    assert got == [(1, year), (2, year)]
    assert all(type(r.year) is type(year) for r in batch + stream)


def test_declared_int_partition_filter_prunes(spark, tmp_path):
    """An ``int`` partition column's pushed filter compiles against the
    declared type and prunes the other value groups before any read."""
    from pyspark.sql import datasource as ds

    from spark_xml_spark.sources.api import register
    from spark_xml_spark.sources.datasource import XmlPushdownReader

    register(spark)
    src = tmp_path / "src"
    for y, ids in ((2023, (1, 2)), (2024, (3,))):
        (src / f"year={y}").mkdir(parents=True)
        (src / f"year={y}" / "a.xml").write_text(
            "".join(f"<rec><id>{i}</id></rec>" for i in ids)
        )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("year", T.IntegerType())]
    )
    r = XmlPushdownReader(
        {"path": str(src), "rowTag": "rec", "filterPushdown": "true"}, schema
    )
    assert r.pushFilters([ds.EqualTo(("year",), 2024)]) == []
    parts = r.partitions()
    assert {s[0] for p in parts for s in p.splits} == {
        str(src / "year=2024" / "a.xml")
    }
    df = (
        spark.read.format("xml-graft")
        .schema(schema)
        .option("rowTag", "rec")
        .option("filterPushdown", "true")
        .load(str(src))
        .filter(F.col("year") == 2024)
    )
    assert [(r.id, r.year) for r in df.collect()] == [(3, 2024)]


@pytest.mark.parametrize(
    "zone,hour", [(None, 3), ("America/New_York", 8)], ids=["unset", "new_york"]
)
def test_declared_timestamp_partition_batch_and_stream(spark, tmp_path, zone, hour):
    """A zone-less partition timestamp reads in the reader's ``timezone``
    option, or UTC when it is unset (the rule element text follows), on
    both readers."""
    import datetime as dt

    from spark_xml_spark.sources.api import register

    register(spark)
    src = tmp_path / "src"
    (src / "ts=2024-01-02 03%3A04%3A05").mkdir(parents=True)
    (src / "ts=2024-01-02 03%3A04%3A05" / "a.xml").write_text(
        "<rec><id>1</id></rec>"
    )
    opts = {"rowTag": "rec"}
    if zone:
        opts["timezone"] = zone
    schema = "id long, ts timestamp"
    reader = spark.read.format("xml-graft").schema(schema)
    for k, v in opts.items():
        reader = reader.option(k, v)
    batch = reader.load(str(src)).collect()
    stream = _stream_rows(
        spark, str(src), schema, f"pts_{zone or 'unset'}".replace("/", "_"),
        **opts,
    )
    # the session and the process zone are UTC: naive values are UTC
    want = [(1, dt.datetime(2024, 1, 2, hour, 4, 5))]
    assert [(r.id, r.ts) for r in batch] == want
    assert [(r.id, r.ts) for r in stream] == want


def test_partition_timestamp_date_only_and_unparseable(tmp_path):
    """A date-only partition timestamp reads as its midnight (in the
    ``timezone`` option), ``timestampFormat`` does not apply to directory
    names, and a value that is no ISO timestamp raises naming itself."""
    import datetime as dt

    from spark_xml_spark.sources.datasource import XmlReader

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )

    def read(value, **opts):
        src = tmp_path / value
        (src / f"ts={value}").mkdir(parents=True)
        (src / f"ts={value}" / "a.xml").write_text("<rec><id>1</id></rec>")
        r = XmlReader({"path": str(src), "rowTag": "rec", **opts}, schema)
        return [row for p in r.partitions() for b in r.read(p) for row in b.to_pylist()]

    utc = dt.timezone.utc
    assert read("2024-01-02") == [
        {"id": 1, "ts": dt.datetime(2024, 1, 2, tzinfo=utc)}
    ]
    assert read("2024-01-03", timezone="America/New_York") == [
        {"id": 1, "ts": dt.datetime(2024, 1, 3, 5, tzinfo=utc)}
    ]
    with pytest.raises(ValueError, match="'02-01-2024'"):
        read("02-01-2024", timestampFormat="dd-MM-yyyy")


def test_pushdown_reader_pickles_without_file_listing(tmp_path, monkeypatch):
    """Spark pickles the read function, which closes over the reader, into
    every read task before it calls partitions(): after pushFilters the
    reader must not carry the file listing, partitions() plans from the
    one listing pushFilters classified against, and the pushed read's
    rows stay the same."""
    import pickle

    from pyspark.sql import datasource as ds

    from spark_xml_spark.sources import partitions as pmod
    from spark_xml_spark.sources.datasource import XmlPushdownReader

    src = tmp_path / "src"
    for y in range(2000, 2020):
        d = src / f"year={y}"
        d.mkdir(parents=True)
        for k in range(100):
            (d / f"f{k:03d}.xml").write_text(f"<rec><id>{k}</id></rec>")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("year", T.IntegerType())]
    )
    r = XmlPushdownReader(
        {"path": str(src), "rowTag": "rec", "filterPushdown": "true"}, schema
    )
    fresh = len(pickle.dumps(r))
    listings = []
    discover = pmod.discover_partitions
    monkeypatch.setattr(
        pmod, "discover_partitions",
        lambda *a, **k: listings.append(a) or discover(*a, **k),
    )
    assert r.pushFilters(
        [ds.EqualTo(("year",), 2005), ds.GreaterThanOrEqual(("id",), 90)]
    ) == []
    assert len(pickle.dumps(r)) < 2048, (fresh, len(pickle.dumps(r)))
    rows = sorted(
        (row["id"], row["year"])
        for p in r.partitions()
        for b in r.read(p)
        for row in b.to_pylist()
    )
    assert rows == [(k, 2005) for k in range(90, 100)]
    assert len(listings) == 1
