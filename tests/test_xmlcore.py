"""Unit tests for the pure-Python XML core (no SparkSession needed).

Cases are distilled from the reference's golden fixtures and suite
assertions — see FIXTURES.md F1-F11 and
/root/reference/src/test/scala/com/databricks/spark/xml/XmlSuite.scala.
"""

import datetime as dt
import decimal

import pytest
from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions, DROPMALFORMED, FAILFAST
from spark_xml_spark.xmlcore import casts, infer, parser, tokenizer
from spark_xml_spark.xmlcore.generator import row_to_xml

UTC = dt.timezone.utc


def ddl(schema: T.StructType) -> str:
    return schema.simpleString()


# ---------------------------------------------------------------- casts

def test_sniffers():
    assert casts.is_long("9223372036854775807")
    assert not casts.is_long("9223372036854775808")
    assert casts.is_integer("+123") and casts.is_integer("-123")
    assert not casts.is_integer("2147483648")
    assert casts.is_double("10.05") and casts.is_double(".5")
    assert not casts.is_double("10.0d") and not casts.is_double("1F")
    assert not casts.is_double("1_0")
    assert casts.is_boolean("True") and not casts.is_boolean("1")


def test_cast_scalars():
    o = XmlOptions()
    assert casts.cast_to("10", T.IntegerType(), o) == 10
    assert casts.cast_to("+10", T.LongType(), o) == 10
    assert casts.cast_to("-10", T.LongType(), o) == -10
    assert casts.cast_to("1,00", T.DoubleType(), o) == 100.0  # US grouping
    assert casts.cast_to("true", T.BooleanType(), o) is True
    assert casts.cast_to("1", T.BooleanType(), o) is True
    assert casts.cast_to("0", T.BooleanType(), o) is False
    assert casts.cast_to("10,000.01", T.DecimalType(10, 3), o) == decimal.Decimal(
        "10000.010"
    )
    with pytest.raises(ValueError):
        casts.cast_to("maybe", T.BooleanType(), o)


def test_cast_timestamps():
    # parsed timestamps are UTC-aware instants
    o = XmlOptions()
    assert casts.cast_to("2002-05-30 21:46:54", T.TimestampType(), o) == dt.datetime(
        2002, 5, 30, 21, 46, 54, tzinfo=UTC
    )
    assert casts.cast_to("2002-05-30T21:46:54", T.TimestampType(), o) == dt.datetime(
        2002, 5, 30, 21, 46, 54, tzinfo=UTC
    )
    assert casts.cast_to("2002-05-30T21:46:54+06:00", T.TimestampType(), o) == dt.datetime(
        2002, 5, 30, 15, 46, 54, tzinfo=UTC
    )
    assert casts.cast_to("2002-05-30T21:46:54.1234Z", T.TimestampType(), o) == dt.datetime(
        2002, 5, 30, 21, 46, 54, 123400, tzinfo=UTC
    )
    # custom format with zone abbreviation (XmlSuite date/time matrix)
    o2 = XmlOptions(timestamp_format="MM-dd-yyyy HH:mm:ss z")
    got = casts.cast_to("12-03-2011 10:15:30 PST", T.TimestampType(), o2)
    assert got == dt.datetime(2011, 12, 3, 18, 15, 30, tzinfo=UTC)  # epoch 1322936130
    # format without zone: timezone option applies
    o3 = XmlOptions(timestamp_format="yyyy/MM/dd HH:mm:ss", timezone="UTC")
    assert casts.cast_to("2011/12/03 10:15:30", T.TimestampType(), o3) == dt.datetime(
        2011, 12, 3, 10, 15, 30, tzinfo=UTC
    )


def test_cast_dates():
    o = XmlOptions()
    assert casts.cast_to("2011-12-03", T.DateType(), o) == dt.date(2011, 12, 3)
    assert casts.cast_to("2011-12-03+01:00", T.DateType(), o) == dt.date(2011, 12, 3)
    o2 = XmlOptions(date_format="dd.MM.yyyy")
    assert casts.cast_to("03.12.2011", T.DateType(), o2) == dt.date(2011, 12, 3)
    assert not casts.is_timestamp("2011-12-03", o)  # date-only is not a timestamp


def test_null_semantics():
    o = XmlOptions(null_value="-")
    assert casts.cast_to("-", T.IntegerType(), o) is None
    o2 = XmlOptions(treat_empty_values_as_nulls=True)
    assert casts.cast_to("", T.StringType(), o2) is None


# ---------------------------------------------------------------- infer

def _infer(xmls, **opts) -> T.StructType:
    return infer.infer_schema_from_records(xmls, XmlOptions(**opts))


def test_infer_flat_row_f1():
    xml = "<ROW><year>2012</year><make>Tesla</make><model>S</model><comment>No comment</comment></ROW>"
    s = _infer([xml])
    assert ddl(s) == (
        "struct<comment:string,make:string,model:string,year:bigint>"
    )


def test_infer_attributes_and_date_f2():
    xml = (
        '<book id="bk101"><author>Gambardella</author><title>T</title>'
        "<genre>Computer</genre><price>44.95</price>"
        "<publish_date>2000-10-01</publish_date><description>d</description></book>"
    )
    s = _infer([xml])
    assert ddl(s) == (
        "struct<_id:string,author:string,description:string,genre:string,"
        "price:double,publish_date:date,title:string>"
    )


def test_infer_valuetag_f3():
    xmls = [
        '<book id="bk1"><author>a</author><price unit="$">5.95</price></book>',
        '<book id="bk2"><author>b</author><price>twenty</price></book>',
    ]
    s = _infer(xmls)
    assert ddl(s) == (
        "struct<_id:string,author:string,price:struct<_VALUE:string,_unit:string>>"
    )


def test_infer_value_tag_attribute_f4():
    xml = '<person><age born="1990-02-24">25</age><name>Hyukjin</name></person>'
    s = _infer([xml])
    assert ddl(s) == (
        "struct<age:struct<_VALUE:bigint,_born:date>,name:string>"
    )


def test_infer_repeated_to_array_f6():
    xml = (
        "<book><author>a</author><publish_date>2000-10-01</publish_date>"
        "<publish_date>2001-10-01</publish_date></book>"
    )
    s = _infer([xml])
    assert ddl(s) == "struct<author:string,publish_date:array<date>>"


def test_infer_merge_across_records():
    s = _infer(["<r><a>1</a></r>", "<r><a>1.5</a></r>", "<r><a/></r>"])
    assert ddl(s) == "struct<a:double>"
    s2 = _infer(["<r><a>1</a></r>", "<r><a>x</a></r>"])
    assert ddl(s2) == "struct<a:string>"
    # array vs scalar merges to array
    s3 = _infer(["<r><a>1</a><a>2</a></r>", "<r><a>3</a></r>"])
    assert ddl(s3) == "struct<a:array<bigint>>"


def test_infer_struct_vs_scalar_valuetag_merge():
    s = _infer(
        ['<r><p unit="$">5</p></r>', "<r><p>7</p></r>"]
    )
    assert ddl(s) == "struct<p:struct<_VALUE:bigint,_unit:string>>"


# ---------------------------------------------------------------- parser

def _parse(xml, schema, **opts):
    return parser.parse_record(xml, schema, XmlOptions(**opts))


def test_parse_flat():
    schema = T.StructType(
        [
            T.StructField("comment", T.StringType()),
            T.StructField("make", T.StringType()),
            T.StructField("model", T.StringType()),
            T.StructField("year", T.LongType()),
        ]
    )
    xml = "<ROW><year>2012</year><make>Tesla</make><model>S</model><comment>No comment</comment></ROW>"
    assert _parse(xml, schema) == ("No comment", "Tesla", "S", 2012)


def test_parse_comments_ignored():
    schema = T.StructType([T.StructField("year", T.LongType())])
    xml = "<ROW><!-- c --><year>2012</year><!-- after --></ROW>"
    assert _parse(xml, schema) == (2012,)


def test_parse_attributes_and_nested():
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField(
                "genre",
                T.StructType(
                    [
                        T.StructField("genreid", T.LongType()),
                        T.StructField("name", T.StringType()),
                    ]
                ),
            ),
            T.StructField("price", T.DoubleType()),
        ]
    )
    xml = (
        '<book id="bk109"><genre><genreid>1</genreid><name>sf</name></genre>'
        "<price>6.99</price></book>"
    )
    assert _parse(xml, schema) == ("bk109", (1, "sf"), 6.99)


def test_parse_valuetag():
    schema = T.StructType(
        [
            T.StructField(
                "price",
                T.StructType(
                    [
                        T.StructField("_VALUE", T.StringType()),
                        T.StructField("_unit", T.StringType()),
                    ]
                ),
            )
        ]
    )
    assert _parse('<book><price unit="$">5.95</price></book>', schema) == (
        ("5.95", "$"),
    )
    # attribute missing
    assert _parse("<book><price>5.95</price></book>", schema) == (("5.95", None),)


def test_parse_arrays_and_sibling_fields():
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField("b", T.LongType()),
        ]
    )
    assert _parse("<r><a>1</a><a>2</a><b>3</b></r>", schema) == ([1, 2], 3)


def test_parse_array_of_structs():
    schema = T.StructType(
        [
            T.StructField(
                "entry",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("key", T.LongType()),
                            T.StructField("value", T.StringType()),
                        ]
                    )
                ),
            )
        ]
    )
    xml = (
        "<basket>\n  <entry><key>9027</key><value>glove</value></entry>\n"
        "  <entry><key>9028</key><value>hat</value></entry>\n</basket>"
    )
    assert _parse(xml, schema) == ([(9027, "glove"), (9028, "hat")],)


def test_parse_map():
    schema = T.StructType(
        [T.StructField("integer_map", T.MapType(T.StringType(), T.IntegerType()))]
    )
    xml = "<r><integer_map><a>123</a><b>345</b></integer_map></r>"
    assert _parse(xml, schema) == ({"a": 123, "b": 345},)


def test_parse_pruned_skips_subtrees():
    schema = T.StructType([T.StructField("keep", T.LongType())])
    xml = "<r><skip><deep><deeper>x</deeper></deep></skip><keep>1</keep></r>"
    assert _parse(xml, schema) == (1,)


def test_parse_wildcard():
    schema = T.StructType(
        [
            T.StructField("author", T.StringType()),
            T.StructField("xs_any", T.StringType()),
        ]
    )
    xml = "<book><author>a</author><title>Some Title</title></book>"
    assert _parse(xml, schema) == ("a", "Some Title")

    schema2 = T.StructType(
        [
            T.StructField("author", T.StringType()),
            T.StructField("xs_any", T.ArrayType(T.StringType())),
        ]
    )
    xml2 = "<book><author>a</author><t1>x</t1><t2>y</t2></book>"
    assert _parse(xml2, schema2) == ("a", ["x", "y"])


def test_parse_mixed_content_as_string():
    schema = T.StructType([T.StructField("foo", T.StringType())])
    xml = "<r><foo>lorem <bar>2</bar> ipsum</foo></r>"
    assert _parse(xml, schema) == ("lorem <bar>2</bar> ipsum",)


def test_parse_empty_vs_missing_struct_f10():
    schema = T.StructType(
        [
            T.StructField(
                "b",
                T.StructType(
                    [
                        T.StructField(
                            "es",
                            T.StructType(
                                [
                                    T.StructField("e", T.StringType()),
                                    T.StructField("f", T.StringType()),
                                ]
                            ),
                        )
                    ]
                ),
            )
        ]
    )
    assert _parse("<r><b><other>x</other></b></r>", schema) == (((None,),))
    assert _parse("<r><b><es></es></b></r>", schema) == ((((None, None),),))
    assert _parse("<r><b><es><e>E</e></es></b></r>", schema) == (((("E", None),),))
    assert _parse("<r><b><es><e>E</e><f/></es></b></r>", schema) == (((("E", ""),),))


def test_parse_self_closing():
    schema = T.StructType(
        [
            T.StructField("non-empty-tag", T.IntegerType()),
            T.StructField("self-closing-tag", T.IntegerType()),
        ]
    )
    xml = "<row><non-empty-tag>1</non-empty-tag><self-closing-tag/></row>"
    assert _parse(xml, schema) == (1, None)


def test_parse_modes_f7():
    schema = T.StructType(
        [
            T.StructField("make", T.StringType()),
            T.StructField("model", T.StringType()),
            T.StructField("year", T.LongType()),
        ]
    )
    bad = "<ROW><year>2012<make>Tesla</make><model>>S</model></ROW"
    good = "<ROW><year>2015</year><make>Chevy</make><model>Volt</model></ROW>"
    # DROPMALFORMED
    assert parser.parse_record(bad, schema, XmlOptions(mode=DROPMALFORMED)) is None
    assert parser.parse_record(good, schema, XmlOptions(mode=DROPMALFORMED)) == (
        "Chevy",
        "Volt",
        2015,
    )
    # FAILFAST
    with pytest.raises(parser.MalformedRecordError, match="FAILFAST"):
        parser.parse_record(bad, schema, XmlOptions(mode=FAILFAST))
    # PERMISSIVE with corrupt column
    schema2 = schema.add("_malformed_records", T.StringType())
    row = parser.parse_record(
        bad, schema2, XmlOptions(column_name_of_corrupt_record="_malformed_records")
    )
    assert row[:3] == (None, None, None) and row[3] == bad
    row2 = parser.parse_record(
        good, schema2, XmlOptions(column_name_of_corrupt_record="_malformed_records")
    )
    assert row2 == ("Chevy", "Volt", 2015, None)


def test_parse_partial_results_f8():
    schema = T.StructType(
        [
            T.StructField("integer_value", T.IntegerType()),
            T.StructField("string_value", T.StringType()),
            T.StructField("integer_array", T.ArrayType(T.IntegerType())),
            T.StructField("_malformed_records", T.StringType()),
        ]
    )
    xml = (
        "<r><integer_value>10.0</integer_value><string_value>Ten</string_value>"
        "<integer_array>1.0</integer_array><integer_array>2</integer_array></r>"
    )
    row = parser.parse_record(
        xml, schema, XmlOptions(column_name_of_corrupt_record="_malformed_records")
    )
    assert row == (None, "Ten", [2], xml)


def test_effective_mode_downgrade():
    schema = T.StructType([T.StructField("a", T.LongType())])
    assert parser.effective_mode_for_column(schema, XmlOptions()) == DROPMALFORMED
    schema2 = schema.add("_corrupt_record", T.StringType())
    assert parser.effective_mode_for_column(schema2, XmlOptions()) == "PERMISSIVE"


# ---------------------------------------------------------------- tokenizer

def _scan(text, row_tag="ROW"):
    return list(tokenizer.scan_string(text, row_tag))


def test_tokenizer_basic():
    doc = "<ROWS>\n<ROW><a>1</a></ROW>\n<ROW><a>2</a></ROW>\n</ROWS>"
    assert _scan(doc) == ["<ROW><a>1</a></ROW>", "<ROW><a>2</a></ROW>"]


def test_tokenizer_attributes_self_closing_nested():
    doc = (
        '<ROWS><ROW id="1"><x>1</x></ROW><ROW id="2"/>'
        "<ROW><ROW>inner</ROW><y>2</y></ROW></ROWS>"
    )
    recs = _scan(doc)
    assert recs == [
        '<ROW id="1"><x>1</x></ROW>',
        '<ROW id="2"/>',
        "<ROW><ROW>inner</ROW><y>2</y></ROW>",
    ]


def test_tokenizer_ignores_comments_and_cdata():
    doc = (
        "<ROWS><!-- <ROW>not me</ROW> --><ROW><a><![CDATA[</ROW>]]></a></ROW></ROWS>"
    )
    recs = _scan(doc)
    assert recs == ["<ROW><a><![CDATA[</ROW>]]></a></ROW>"]


def test_tokenizer_quote_aware_attrs():
    doc = '<ROWS><ROW label="a>b"><a>1</a></ROW></ROWS>'
    assert _scan(doc) == ['<ROW label="a>b"><a>1</a></ROW>']


def test_tokenizer_end_tag_inside_quoted_attr():
    # an end-tag byte sequence inside a nested element's quoted attribute
    # must not close the record, on both the fast and slow scan paths
    # (fast path would otherwise accept it: no nested <ROW, no markup)
    doc = '<ROWS><ROW><a note="</ROW>">x</a></ROW><ROW><b>2</b></ROW></ROWS>'
    assert _scan(doc) == ['<ROW><a note="</ROW>">x</a></ROW>', "<ROW><b>2</b></ROW>"]


def test_tokenizer_overlong_balanced_tag_degrades(monkeypatch):
    # a start tag longer than _MAX_TAG_BYTES with BALANCED quotes must
    # degrade to the quote-naive first-'>' rule, not silently drop the
    # record (bound shrunk so the test stays fast)
    monkeypatch.setattr(tokenizer, "_MAX_TAG_BYTES", 64)
    big_attr = "x " * 60  # > 64 bytes of quoted attribute value, no '>'
    doc = f'<ROWS><ROW a="{big_attr}"><v>1</v></ROW><ROW><v>2</v></ROW></ROWS>'
    recs = _scan(doc)
    assert recs == [f'<ROW a="{big_attr}"><v>1</v></ROW>', "<ROW><v>2</v></ROW>"]
    # unbalanced quote beyond the bound still recovers via the same rule:
    # the mis-framed record surfaces (for the parser's mode policy) and the
    # NEXT record is intact
    doc2 = f'<ROWS><ROW a="{big_attr}<v>1</v></ROW><ROW><v>2</v></ROW></ROWS>'
    recs2 = _scan(doc2)
    assert recs2[-1] == "<ROW><v>2</v></ROW>"


def test_tokenizer_split_ownership(tmp_path):
    # records straddling split boundaries are read exactly once
    rows = "".join(f"<ROW><v>{i:04d}</v></ROW>\n" for i in range(200))
    doc = f"<ROWS>\n{rows}</ROWS>\n"
    p = tmp_path / "t.xml"
    p.write_text(doc)
    size = p.stat().st_size
    for split_size in (97, 500, 1000, size):
        splits = tokenizer.plan_splits(str(p), target_split_size=split_size)
        recs = []
        for s in splits:
            recs.extend(tokenizer.scan_split(s, "ROW"))
        assert len(recs) == 200, f"split_size={split_size}"
        assert sorted(recs) == sorted(
            f"<ROW><v>{i:04d}</v></ROW>" for i in range(200)
        )


def test_tokenizer_gzip(tmp_path):
    import gzip as gz

    doc = "<ROWS><ROW><a>1</a></ROW><ROW><a>2</a></ROW></ROWS>"
    p = tmp_path / "t.xml.gz"
    with gz.open(p, "wt") as f:
        f.write(doc)
    splits = tokenizer.plan_splits(str(p))
    assert len(splits) == 1 and splits[0].compression == "gzip"
    assert len(list(tokenizer.scan_split(splits[0], "ROW"))) == 2


# ---------------------------------------------------------------- generator

def test_generator_roundtrip_simple():
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("author", T.StringType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("publish_date", T.DateType()),
        ]
    )
    o = XmlOptions(row_tag="book")
    row = ("bk101", "G&amp;co <x>", 44.95, dt.date(2000, 10, 1))
    xml = row_to_xml(schema, ("bk101", "G&co <x>", 44.95, dt.date(2000, 10, 1)), o)
    assert xml.startswith('<book id="bk101">')
    back = parser.parse_record(xml, schema, o)
    assert back == ("bk101", "G&co <x>", 44.95, dt.date(2000, 10, 1))


def test_generator_roundtrip_nested_arrays_nulls():
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("_attr", T.StringType()),
                        T.StructField("inner", T.StringType()),
                    ]
                ),
            ),
            T.StructField("n", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    o = XmlOptions(row_tag="r")
    row = ([1, 2, 3], ("x", "y"), None, dt.datetime(2002, 5, 30, 21, 46, 54, tzinfo=UTC))
    xml = row_to_xml(schema, row, o)
    assert "<a>1</a><a>2</a><a>3</a>" in xml
    assert '<s attr="x">' in xml
    assert "<n>" not in xml  # null element omitted
    assert "2002-05-30T21:46:54Z" in xml
    back = parser.parse_record(xml, schema, o)
    assert back == row


def test_generator_valuetag_roundtrip():
    schema = T.StructType(
        [
            T.StructField(
                "price",
                T.StructType(
                    [
                        T.StructField("_VALUE", T.DoubleType()),
                        T.StructField("_unit", T.StringType()),
                    ]
                ),
            )
        ]
    )
    o = XmlOptions(row_tag="book")
    xml = row_to_xml(schema, ((5.95, "$"),), o)
    assert xml == '<book><price unit="$">5.95</price></book>'
    assert parser.parse_record(xml, schema, o) == ((5.95, "$"),)


def test_generator_nested_array_item_wrapper():
    schema = T.StructType(
        [T.StructField("aa", T.ArrayType(T.ArrayType(T.LongType())))]
    )
    o = XmlOptions(row_tag="r")
    xml = row_to_xml(schema, ([[1, 2], [3]],), o)
    assert xml == "<r><aa><item>1</item><item>2</item></aa><aa><item>3</item></aa></r>"


def test_columnar_inference_differential():
    """Columnar per-column inference must produce the identical schema to
    the per-record fold across value classes, including every mask
    boundary (sign prefixes, >int64 ints, Infinity, calendar-invalid
    timestamps, bools vs 1/0, empties, absent tags, nesting/attr
    fallbacks), and every record shape the shared flat-record learner
    must prove or refuse (root attributes in either quote, prefixed tags
    with and without ignoreNamespace, excludeAttribute, a CR, a repeated
    tag)."""
    import random

    from spark_xml_spark.options import XmlOptions
    from spark_xml_spark.xmlcore import infer

    rng = random.Random(4242)
    vals = [
        lambda i: f"<id>{i}</id>",
        lambda i: f"<price>{rng.random()*1000:.2f}</price>",
        lambda i: "<flag>true</flag>",
        lambda i: "<flag>1</flag>",
        lambda i: "<note>hello world</note>",
        lambda i: "<note></note>",
        lambda i: "<ts>2024-01-03T10:00:05Z</ts>",
        lambda i: "<ts>2024-13-03T10:00:05Z</ts>",  # invalid month -> string
        lambda i: "<d>2024-01-03</d>",
        lambda i: "<x>+12</x>",
        lambda i: "<x>99999999999999999999</x>",
        lambda i: "<x>Infinity</x>",
        lambda i: "<x>1e3</x>",
        lambda i: "<n><deep>1</deep></n>",
        lambda i: '<a k="v">1</a>',
        lambda i: "<w>   </w>",
        lambda i: f"<ns:q>{i}</ns:q>",  # a prefixed tag
        lambda i: "<ns:note>x</ns:note>",  # one name under ignoreNamespace
        lambda i: "<cr>a\r\nb</cr>",  # line-end normalization: row path
        lambda i: "<rep>1</rep><rep>x</rep>",  # repeated tag -> array
    ]
    # root open tags: none, double- and single-quoted attributes
    roots = ["<r>", "<r>", "<r k='v'>", f"<r id=\"7\" k='w'>", "<r id='x'>"]
    for options in (
        {"rowTag": "r"},
        {"rowTag": "r", "ignoreNamespace": "true"},
        {"rowTag": "r", "excludeAttribute": "true"},
    ):
        for trial in range(4):
            # a record carrying one text-only value per tag first, so the
            # learner has a pattern that many of the random records match
            records = [
                "<r id='1' k=\"v\">"
                + "".join(vals[k](0) for k in (0, 1, 2, 4, 6, 8, 9, 15, 16))
                + "</r>"
            ]
            for i in range(800):
                # mostly text-only values, in the learning record's order
                picks = rng.sample(range(len(vals)), rng.randrange(1, 5))
                if rng.random() < 0.75:
                    picks = [p for p in picks if p not in (13, 14, 18, 19)]
                records.append(
                    rng.choice(roots)
                    + "".join(vals[p](i) for p in sorted(picks)) + "</r>"
                )
            opts = XmlOptions.from_dict(options)
            s_col = infer.infer_schema_from_records(iter(records), opts)
            orig = infer._columnar_infer_ok
            infer._columnar_infer_ok = lambda o: False
            try:
                s_row = infer.infer_schema_from_records(iter(records), opts)
            finally:
                infer._columnar_infer_ok = orig
            assert s_col == s_row, (options, trial, s_col.json(), s_row.json())


def test_columnar_inference_homogeneous_exact():
    """Uniform flat records: the columnar path is used and exact."""
    from spark_xml_spark.options import XmlOptions
    from spark_xml_spark.xmlcore import infer

    records = [
        f"<r><k>{i}</k><v>{i/4}</v><s>w{i}</s><t>2024-01-0{1+i%9}T00:00:0{i%10}Z</t></r>"
        for i in range(2000)
    ]
    opts = XmlOptions.from_dict({"rowTag": "r"})
    s = infer.infer_schema_from_records(iter(records), opts)
    assert s.simpleString() == "struct<k:bigint,s:string,t:timestamp,v:double>"


def test_cast_locale_aware_floats():
    """Reference parity gap closed: TypeCast.scala:57-60 falls back to the
    JVM default locale's NumberFormat; here the locale is an explicit
    option (deterministic across executors). Unset keeps US semantics."""
    us = XmlOptions()
    assert casts.cast_to("1,00", T.DoubleType(), us) == 100.0

    fr = XmlOptions(locale="fr-FR")
    assert casts.cast_to("1,00", T.DoubleType(), fr) == 1.0
    assert casts.cast_to("1 234,5", T.DoubleType(), fr) == 1234.5
    assert casts.cast_to("1 234,5", T.DoubleType(), fr) == 1234.5
    assert casts.cast_to("2.5", T.DoubleType(), fr) == 2.5  # plain parse first

    de = XmlOptions(locale="de")
    assert casts.cast_to("1.234,56", T.DoubleType(), de) == 1234.56
    assert casts.cast_to("1.234,56", T.DecimalType(10, 2), de) == decimal.Decimal(
        "1234.56"
    )

    ch = XmlOptions(locale="de-CH")
    assert casts.cast_to("1'234.5", T.DoubleType(), ch) == 1234.5

    with pytest.raises(ValueError):
        casts.cast_to("1,2,3", T.DoubleType(), fr)  # two decimal commas
    with pytest.raises(ValueError):
        casts.cast_to("1,5", T.DoubleType(), XmlOptions(locale="xx-YY"))


def test_locale_option_through_read(spark, tmp_path):
    """locale threads from the reader option into both the generic and the
    FastFlatParser cast paths."""
    from spark_xml_spark.sources import read_xml

    p = tmp_path / "fr.xml"
    p.write_text(
        "<rows>"
        "<r><id>1</id><v>1,5</v></r>"
        "<r><id>2</id><v>1 234,25</v></r>"
        "</rows>"
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    got = {
        r.id: r.v
        for r in read_xml(
            spark, str(p), schema=schema, rowTag="r", locale="fr-FR"
        ).collect()
    }
    assert got == {1: 1.5, 2: 1234.25}


def test_columnar_inference_root_attributes():
    """The batch column-typing inference path handles ROOT attributes
    (attributePrefix fields) and must produce exactly the event path's
    schema, including '' -> NullType folding, struct-vs-scalar merges
    from child-attribute oddballs, and pattern misses going exact."""
    from spark_xml_spark.options import XmlOptions
    from spark_xml_spark.xmlcore import infer

    recs = [
        f'<order id="{i}" status="O"><totalprice>{i}.25</totalprice></order>'
        for i in range(200)
    ]
    recs += [
        '<order id="" status="F"><totalprice>1.5</totalprice></order>',
        '<order status="P"><totalprice>2.0</totalprice><note>n</note></order>',
        '<order id="x&amp;y"><totalprice>1.5</totalprice></order>',
        '<order id="7"><totalprice cur="USD">2.5</totalprice></order>',
    ]
    opts = XmlOptions.from_dict({"rowTag": "order"})
    got = infer.infer_schema_from_records(iter(recs), opts)
    merged = infer.T.StructType([])
    for xml in recs:
        rt = infer.infer_record(xml, opts)
        if rt is not None:
            merged = infer.compatible_type(merged, rt, opts)
    exact = infer.canonicalize_type(merged)
    assert got == exact
    assert dict((f.name, f.dataType.simpleString()) for f in got.fields)[
        "_id"
    ] == "string"  # entity record widens bigint -> string

    # excludeAttribute drops attrs on both paths
    opts2 = XmlOptions.from_dict({"rowTag": "order", "excludeAttribute": "true"})
    got2 = infer.infer_schema_from_records(iter(recs), opts2)
    names = {f.name for f in got2.fields}
    assert "_id" not in names and "_status" not in names
