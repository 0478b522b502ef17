"""``from_xml`` / ``read_xml_strings`` semantics, pinned value by value.

The column function parses each string on its own against the requested
schema (the reference's ``XmlDataToCatalyst`` → ``parseColumn``):

- a null string gives a null struct, and a null list a null list;
- PERMISSIVE without the corrupt-record column is DROPMALFORMED: a
  malformed record gives a null struct (StaxXmlParser.scala:54-66);
- PERMISSIVE with the column keeps the partial values and the raw record;
- FAILFAST fails the query;
- ``array<string>`` input parses element by element
  (XmlDataToCatalyst.scala:48-52).
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_xml_spark.functions import from_xml, read_xml_strings

FLAT = "a bigint, b string"
CORRUPT = "_corrupt_record"


def _parse(spark, strings, schema, options=None):
    df = spark.createDataFrame(
        [(k, s) for k, s in enumerate(strings)], "k int, x string"
    )
    out = df.select("k", from_xml("x", schema, options).alias("p"))
    return [r.p for r in sorted(out.collect(), key=lambda r: r.k)]


def test_null_and_malformed_without_corrupt_column(spark):
    got = _parse(
        spark,
        ["<r><a>1</a><b>x</b></r>", None, "<r><a>oops</a></r>", "<r><a>2</a>"],
        FLAT,
    )
    assert got == [Row(a=1, b="x"), None, None, None]


def test_array_of_structs(spark):
    schema = T.ArrayType(T._parse_datatype_string(FLAT))
    df = spark.createDataFrame(
        [
            (0, ["<r><a>1</a><b>x</b></r>", None, "<r><a>bad</a></r>"]),
            (1, None),
            (2, []),
            (3, ["<r><b>y</b><a>2</a></r>", "<r><a>3</a><b>z</b></r>"]),
        ],
        "k int, xs array<string>",
    )
    got = [
        r.p
        for r in sorted(
            df.select("k", from_xml("xs", schema).alias("p")).collect(),
            key=lambda r: r.k,
        )
    ]
    assert got == [
        [Row(a=1, b="x"), None, None],
        None,
        [],
        [Row(a=2, b="y"), Row(a=3, b="z")],
    ]


def test_explicit_dropmalformed_nulls_the_struct(spark):
    schema = f"a bigint, b string, {CORRUPT} string"
    got = _parse(
        spark,
        ["<r><a>1</a><b>x</b></r>", "<r><a>oops</a><b>y</b></r>", "<r><a>"],
        schema,
        {"mode": "DROPMALFORMED"},
    )
    assert got == [Row(a=1, b="x", _corrupt_record=None), None, None]


def test_failfast_raises(spark):
    with pytest.raises(Exception, match="FAILFAST"):
        _parse(
            spark,
            ["<r><a>1</a></r>", "<r><a>oops</a></r>"],
            FLAT,
            {"mode": "FAILFAST"},
        )


def test_permissive_corrupt_column_flat(spark):
    schema = f"a bigint, c bigint, {CORRUPT} string"
    bad_cast = "<r><a>1</a><c>notanint</c></r>"
    truncated = "<r><a>2</a><c>3</c>"
    got = _parse(spark, ["<r><a>1</a><c>2</c></r>", bad_cast, truncated], schema)
    assert got == [
        Row(a=1, c=2, _corrupt_record=None),
        Row(a=1, c=None, _corrupt_record=bad_cast),  # partial values kept
        Row(a=None, c=None, _corrupt_record=truncated),
    ]


def test_permissive_corrupt_column_nested(spark):
    schema = f"a bigint, s struct<x:bigint,y:string>, {CORRUPT} string"
    bad = "<r><a>5</a><s><x>bad</x><y>q</y></s></r>"
    got = _parse(
        spark, ["<r><a>4</a><s><x>1</x><y>p</y></s></r>", bad, None], schema
    )
    assert got == [
        Row(a=4, s=Row(x=1, y="p"), _corrupt_record=None),
        Row(a=5, s=None, _corrupt_record=bad),
        None,
    ]


def test_root_attributes(spark):
    schema = "_id bigint, _k string, a bigint"
    got = _parse(
        spark,
        ['<r id="7" k=\'v\'><a>1</a></r>', '<r k="w"><a>2</a></r>', "<r><a>3</a></r>"],
        schema,
    )
    assert got == [
        Row(_id=7, _k="v", a=1),
        Row(_id=None, _k="w", a=2),
        Row(_id=None, _k=None, a=3),
    ]


def test_fields_in_another_order(spark):
    recs = []
    for k in range(60):
        if k % 3 == 2:
            recs.append(f"<r><b>s{k}</b><a>{k}</a></r>")
        else:
            recs.append(f"<r><a>{k}</a><b>s{k}</b></r>")
    got = _parse(spark, recs, FLAT)
    assert got == [Row(a=k, b=f"s{k}") for k in range(60)]


def test_many_arrow_batches_with_a_late_malformed_record(spark):
    """25,000 strings in one task: the function sees several Arrow batches
    (10,000 rows each by default), and a malformed record in the third
    still nulls only its own slot."""
    n, bad = 25_000, 21_003
    df = spark.range(0, n, 1, 1).select(
        F.col("id"),
        F.when(F.col("id") == bad, F.lit("<r><a>x</a><b>broken</b></r>"))
        .when(F.col("id") % 1000 == 999, F.lit(None))
        .otherwise(
            F.concat(
                F.lit("<r><a>"), F.col("id").cast("string"),
                F.lit("</a><b>s</b></r>"),
            )
        )
        .alias("x"),
    )
    p = df.select("id", from_xml("x", FLAT).alias("p"))
    agg = p.agg(
        F.count("p").alias("n"), F.sum("p.a").alias("s")
    ).first()
    nulls = {k for k in range(n) if k % 1000 == 999} | {bad}
    assert agg.n == n - len(nulls)
    assert agg.s == sum(k for k in range(n) if k not in nulls)
    got_nulls = {r.id for r in p.filter(F.col("p").isNull()).collect()}
    assert got_nulls == nulls


def test_row_validation_xsd_path_is_not_applied(spark, tmp_path):
    """from_xml parses without the XSD row validation that the file reader
    applies: an XSD-invalid record still parses by the schema."""
    xsd = tmp_path / "r.xsd"
    xsd.write_text(
        """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
          <xs:element name="r">
            <xs:complexType><xs:sequence>
              <xs:element name="n" type="xs:long"/>
            </xs:sequence></xs:complexType>
          </xs:element>
        </xs:schema>"""
    )
    schema = f"n string, {CORRUPT} string"
    got = _parse(
        spark,
        ["<r><n>42</n></r>", "<r><n>forty-two</n></r>", "<r></r>"],
        schema,
        {"rowValidationXSDPath": str(xsd)},
    )
    assert got == [
        Row(n="42", _corrupt_record=None),
        Row(n="forty-two", _corrupt_record=None),
        Row(n=None, _corrupt_record=None),
    ]


def test_read_xml_strings_dropmalformed(spark):
    frags = [
        "<r><id>1</id><name>a</name></r>",
        None,
        "<r><id>x</id><name>b</name></r>",
        "<r><name>c</name><id>3</id></r>",
        "<r><id>4</id>",
    ]
    out = read_xml_strings(
        spark,
        spark.createDataFrame([(f,) for f in frags], "xml string"),
        schema="id bigint, name string",
        options={"rowTag": "r", "mode": "DROPMALFORMED"},
    )
    assert out.columns == ["id", "name"]
    assert sorted((r.id, r.name) for r in out.collect()) == [(1, "a"), (3, "c")]
