"""Columnar flat-scan fast path: exact equivalence with the row path.

The columnar consumer (sources/datasource._columnar_batches) must
be invisible: same values, same nulls, same malformed-record policy as the
per-row parse for every record shape, falling back wherever equivalence
isn't provable. Schemas it does not accept (attribute-only struct children
among them) take the reader's row path; those tests read through the
reader and check the generic parser's answers.
"""

import json
import re

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.sources import datasource as D
from spark_xml_spark.xmlcore import parser


def _table(batches):
    return pa.Table.from_batches(batches) if batches else None


def _row_table(records, schema, opts):
    rows = parser.parse_records(records, schema, opts)
    return _table(list(D._rows_to_arrow_batches(rows, schema, 512)))


def _columnar_batches(records, schema, opts):
    """The columnar consumer fed plain records, as the reader feeds it."""
    return D._columnar_batches(records, schema, opts, 512)


def _both_paths(records, schema, opts):
    return _row_table(records, schema, opts), _table(
        list(_columnar_batches(records, schema, opts))
    )


SCHEMA = T.StructType(
    [
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _rec(i="1", s="x", d="1.5", b="true", dt="2021-02-01", ts="2021-02-01T12:30:45Z"):
    parts = ["<r>"]
    for tag, v in (("i", i), ("s", s), ("d", d), ("b", b), ("dt", dt), ("ts", ts)):
        if v is not None:
            parts.append(f"<{tag}>{v}</{tag}>")
    parts.append("</r>")
    return "".join(parts)


OPTS = XmlOptions.from_dict({"rowTag": "r", "timezone": "UTC"})


def test_clean_batch_identical():
    recs = [_rec(i=str(k), d=f"{k}.25") for k in range(100)]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)


def test_missing_and_empty_fields():
    recs = [
        _rec(),
        _rec(s=None),            # missing tag -> null
        _rec(s=""),              # empty string element -> ""
        _rec(i=""),              # empty numeric element -> null
        _rec(i=None, d=None, b=None, dt=None, ts=None),
    ]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["s"].to_pylist()[1:3] == [None, ""]
    assert ct["i"].to_pylist()[3] is None


def test_plus_sign_and_grouping_fall_back_to_python():
    """Arrow rejects '+12' and '1,234.5'; the Python casters accept both —
    results must match the row path exactly."""
    recs = [_rec(i="+12", d="1,234.5"), _rec(i="-7", d="2.5")]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["i"].to_pylist() == [12, -7]
    assert ct["d"].to_pylist() == [1234.5, 2.5]


def test_date_only_timestamp_is_malformed_both_paths():
    """Arrow would happily cast '2021-02-01' to a midnight timestamp; the
    row path treats it as malformed (PERMISSIVE -> all-null row). The
    guard regex must force agreement."""
    recs = [_rec(), _rec(ts="2021-02-01")]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["ts"].to_pylist()[1] is None
    # PERMISSIVE keeps the partial row (other fields parsed)
    assert ct["i"].to_pylist()[1] == 1


def test_entities_fall_back():
    recs = [_rec(s="a&amp;b"), _rec(s="plain")]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["s"].to_pylist()[0] == "a&b"


def test_whitespace_only_numeric_policy():
    recs = [_rec(i="  "), _rec()]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)


def test_dropmalformed():
    opts = XmlOptions.from_dict(
        {"rowTag": "r", "timezone": "UTC", "mode": "DROPMALFORMED"}
    )
    recs = [_rec(), _rec(i="notanint"), _rec(i="5")]
    rt, ct = _both_paths(recs, SCHEMA, opts)
    assert rt.equals(ct)
    assert ct.num_rows == 2


def test_failfast_raises():
    opts = XmlOptions.from_dict(
        {"rowTag": "r", "timezone": "UTC", "mode": "FAILFAST"}
    )
    recs = [_rec(), _rec(i="notanint")]
    with pytest.raises(Exception):
        list(_columnar_batches(recs, SCHEMA, opts))


def test_reordered_fields_fall_back():
    recs = [_rec(), "<r><s>y</s><i>9</i></r>"]
    rt, ct = _both_paths(recs, SCHEMA, OPTS)
    assert rt.equals(ct)
    row = {n: ct[n].to_pylist()[1] for n in ("i", "s")}
    assert row == {"i": 9, "s": "y"}


def test_qualifier_rejects_non_defaults():
    """The columnar scan takes every flat all-scalar schema, under the
    empty/null/space options too (the Python casters apply them); an XSD
    row validation, a nested struct or an array sends the read to the
    generic parser."""
    assert D._columnar_ok(SCHEMA, OPTS)
    for extra in (
        {"nullValue": "NA"},
        {"ignoreSurroundingSpaces": "true"},
        {"treatEmptyValuesAsNulls": "true"},
    ):
        o = XmlOptions.from_dict({"rowTag": "r", **extra})
        assert D._columnar_ok(SCHEMA, o), extra
    o = XmlOptions.from_dict({"rowTag": "r", "rowValidationXSDPath": "/tmp/x.xsd"})
    assert not D._columnar_ok(SCHEMA, o)
    # a corrupt-record column does not disqualify: a matched record is
    # well-formed (null cell), the row path fills it for every other
    with_corrupt = T.StructType(
        SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    assert D._columnar_ok(with_corrupt, OPTS)
    nested = T.StructType(
        [T.StructField("x", T.StructType([T.StructField("y", T.LongType())]))]
    )
    assert not D._columnar_ok(nested, OPTS)
    array = T.StructType(
        [T.StructField("i", T.LongType()),
         T.StructField("k", T.ArrayType(T.LongType()))]
    )
    assert not D._columnar_ok(array, OPTS)


ATTR_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("_status", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _arec(i='id="1"', s='status="O"', p="12.5"):
    attrs = " ".join(a for a in (i, s) if a)
    body = f"<price>{p}</price>" if p is not None else ""
    return f"<r {attrs}>{body}</r>" if attrs else f"<r>{body}</r>"


def test_attr_batch_identical():
    recs = [_arec(i=f'id="{k}"', p=f"{k}.25") for k in range(100)]
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist()[:3] == [0, 1, 2]
    assert ct["_status"].to_pylist()[0] == "O"


def test_attr_missing_reordered_quotes_entities():
    recs = [
        _arec(),
        _arec(s=""),                              # missing attr -> null
        '<r status="P" id="4"><price>2.0</price></r>',   # reordered
        "<r id='5' status='Q'><price>3.0</price></r>",   # single quotes
        '<r id="6" status="a&amp;b"><price>4.0</price></r>',  # entity
        '<r id="7" status=""><price>5.0</price></r>',    # empty string attr
        '<r id="8" status="X" extra="z"><price>6.0</price></r>',  # unmapped
    ]
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist() == [1, 1, 4, 5, 6, 7, 8]
    assert ct["_status"].to_pylist() == ["O", None, "P", "Q", "a&b", "", "X"]


def test_attr_empty_numeric_is_malformed_both_paths():
    """An empty attribute value does NOT null-coerce (unlike an empty
    element): cast_to('') raises for long -> PERMISSIVE all-null row."""
    recs = [_arec(), '<r id="" status="E"><price>9.0</price></r>']
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist()[1] is None
    assert ct["_status"].to_pylist()[1] is None  # whole row nulled


def test_attr_element_collision_element_wins():
    """A child element literally named like the prefixed field overwrites
    the root attribute, matching convert_object ordering."""
    recs = [
        '<r id="1" status="A"><price>1.0</price><_id>99</_id></r>',
        '<r id="2" status="B"><price>2.0</price><_id>98</_id></r>',
    ]
    rt, ct = _both_paths(recs, ATTR_SCHEMA, OPTS)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist() == [99, 98]


def test_unclosed_tag_is_malformed_both_paths():
    """An unclosed tag can satisfy the '<'-count arithmetic by standing in
    for the root close; the root-close suffix check must reject it so the
    parse policy fires exactly as on the generic path (regression: these
    fragments silently parsed as partial rows)."""
    from spark_xml_spark.options import XmlOptions as XO

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("src", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    o = XO()
    bads = ["<d><id>0</id><src>", "<d><id>1</id></src>", "<d><id>1</id><d>"]
    good = "<d><id>1</id><src>ok</src></d>"
    # the good record first (the pattern is learned from it), and again
    # after the fragments, which must not match the learned pattern
    recs = [good] + bads + [good] + bads
    rt, ct = _both_paths(recs, schema, o)
    assert rt.equals(ct)
    assert ct["_corrupt_record"].to_pylist() == ([None] + bads) * 2


def _rows_by_name(df, cols):
    """The rows of ``df`` as hashable tuples of ``cols``, matched by name
    (nested structs compare by field name too)."""
    from pyspark.sql import Row

    def norm(v):
        if isinstance(v, Row):
            return tuple(sorted((k, norm(x)) for k, x in v.asDict().items()))
        return v

    return {tuple(norm(r[c]) for c in cols) for r in df.collect()}


def test_attr_spark_end_to_end(spark, tmp_path):
    """Writer emits _-prefixed fields as attributes; the columnar read of
    that output returns exactly the rows that were written."""
    from spark_xml_spark.sources.api import read_xml, write_xml

    df = spark.createDataFrame(
        [(k, "FO"[k % 2], k * 1.5) for k in range(500)],
        "_id bigint, _status string, price double",
    )
    out = str(tmp_path / "t")
    write_xml(df.repartition(2), out, rowTag="row")
    a = read_xml(spark, out, rowTag="row")
    assert _rows_by_name(a, df.columns) == _rows_by_name(df, df.columns)
    assert a.count() == 500


def test_spark_end_to_end_matches_cached_table(spark, tmp_path):
    """Full engine read (columnar path active) returns exactly the rows
    that were written, on a real generated file."""
    from spark_xml_spark.sources.api import read_xml, write_xml

    df = spark.createDataFrame(
        [(k, f"n{k}", k * 1.5) for k in range(500)],
        "k bigint, name string, v double",
    )
    out = str(tmp_path / "t")
    write_xml(df.repartition(2), out, rowTag="row")
    a = read_xml(spark, out, rowTag="row")
    assert _rows_by_name(a, df.columns) == _rows_by_name(df, df.columns)
    assert a.count() == 500


VT_SCHEMA = T.StructType(
    [
        T.StructField("okey", T.LongType()),
        T.StructField(
            "price",
            T.StructType(
                [
                    T.StructField("_VALUE", T.DoubleType()),
                    T.StructField("_prio", T.StringType()),
                ]
            ),
        ),
        T.StructField("note", T.StringType()),
    ]
)

VT_OPTS = XmlOptions.from_dict({"rowTag": "order", "timezone": "UTC"})


def _row_and_reader(read, records, schema):
    """Attribute-only struct children: the generic row path, and the
    reader over a real file (which routes such schemas to that path)."""
    return _row_table(records, schema, VT_OPTS), _table(
        read(records, schema, rowTag="order", timezone="UTC")
    )


def test_struct_columnar_identical(reader_batches):
    recs = [
        f'<order><okey>{k}</okey><price prio="P{k % 3}">{k}.25</price>'
        f"<note>n{k}</note></order>"
        for k in range(200)
    ]
    rt, ct = _row_and_reader(reader_batches, recs, VT_SCHEMA)
    assert rt.equals(ct)
    assert ct["price"].to_pylist()[1] == {"_VALUE": 1.25, "_prio": "P1"}


def test_struct_columnar_edge_shapes(reader_batches):
    recs = [
        '<order><okey>1</okey><price prio="H">5.5</price><note>n1</note></order>',
        '<order><okey>2</okey><price prio="L">1.5</price></order>',   # no note
        '<order><okey>3</okey><price>2.5</price><note></note></order>',  # no attr, empty note
        '<order><okey>4</okey><note>x</note></order>',                # struct absent -> null
        '<order><okey>5</okey><price prio="X"></price></order>',      # empty body -> _VALUE null
        '<order><okey>6</okey><price prio="Z" extra="e">3.0</price></order>',  # unknown attr
        '<order><okey>7</okey><price prio="R">bad</price></order>',   # malformed -> policy
        "<order><okey>8</okey><price prio='Q'>4.0</price></order>",   # single quotes
    ]
    rt, ct = _row_and_reader(reader_batches, recs, VT_SCHEMA)
    assert rt.equals(ct)
    got = ct["price"].to_pylist()
    assert got[3] is None                       # absent element = null struct
    assert got[4] == {"_VALUE": None, "_prio": "X"}
    assert ct["okey"].to_pylist()[6] == 7       # PERMISSIVE partial row


def test_struct_columnar_string_value_empty_body(reader_batches):
    schema = T.StructType(
        [
            T.StructField(
                "tag",
                T.StructType(
                    [
                        T.StructField("_VALUE", T.StringType()),
                        T.StructField("_k", T.StringType()),
                    ]
                ),
            )
        ]
    )
    recs = [
        '<order><tag k="a">txt</tag></order>',
        '<order><tag k="b"></tag></order>',  # string body: END event -> null
    ]
    rt, ct = _row_and_reader(reader_batches, recs, schema)
    assert rt.equals(ct)
    assert ct["tag"].to_pylist() == [
        {"_VALUE": "txt", "_k": "a"},
        {"_VALUE": None, "_k": "b"},
    ]


def test_struct_columnar_spark_end_to_end(spark, tmp_path):
    from spark_xml_spark.sources.api import read_xml, write_xml
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(
        [(k, (k * 1.5, f"p{k % 4}")) for k in range(400)],
        "okey bigint, price struct<_VALUE:double,_prio:string>",
    )
    out = str(tmp_path / "vt")
    write_xml(df.repartition(2), out, rowTag="order")
    a = read_xml(spark, out, rowTag="order")
    assert _rows_by_name(a, df.columns) == _rows_by_name(df, df.columns)
    assert a.count() == 400


def test_attr_captured_when_element_absent():
    """Regression: the learned pattern suppressed the root-attr capture
    whenever the learning record also had a same-named element, silently
    NULLing the attribute on later records without the element. The
    learner now refuses a record that names a field twice, so such a
    record takes the generic parser (element wins, in document order)
    and the pattern is learned from a later record."""
    schema = T.StructType(
        [T.StructField("_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    recs = [
        '<r id="A"><_id>E</_id><v>1</v></r>',  # learning record: both
        '<r id="B"><v>2</v></r>',              # attr only
        "<r><v>3</v></r>",                     # neither
    ]
    # a second pass runs every record against the pattern learned in the
    # first
    rt, ct = _both_paths(recs * 2, schema, opts)
    assert rt.equals(ct)
    assert ct["_id"].to_pylist() == ["E", "B", None] * 2


def test_duplicate_tag_columnar_falls_back():
    """Regression: a duplicated tag in the learning record compiled two
    capture groups for one field and the columnar transpose crashed on
    mismatched column lengths; the learner now refuses such a record,
    which takes the row path."""
    schema = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.StringType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    recs = ["<r><a>1</a><a>2</a><b>x</b></r>", "<r><a>3</a><b>y</b></r>"]
    rt, ct = _both_paths(recs, schema, opts)
    assert rt.equals(ct)
    assert ct["a"].to_pylist() == ["2", "3"]  # last occurrence wins


# --- scanned records from forced-small splits -> _columnar_batches ---------
# (the test names keep the retired clean-window tier's: the same corpora
# now check per-record matching)


def _scanned_vs_row_paths(doc: str, schema, opts, row_tag="r",
                          target=512, charset="utf-8"):
    """Write doc, scan via forced-small splits, and feed the scanned
    records to the columnar consumer and to the row path; return
    (columnar_tbl, row_tbl, records)."""
    import os
    import tempfile

    from spark_xml_spark.xmlcore import tokenizer as tok

    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "wb") as fh:
        fh.write(doc.encode(charset))
    recs = [
        r
        for s in tok.plan_splits(p, charset, target)
        for r in tok.scan_split(s, row_tag, charset)
    ]
    got = list(D._columnar_batches(iter(recs), schema, opts, 256))
    ct = pa.Table.from_batches(got) if got else None
    return ct, _row_table(recs, schema, opts), recs


def test_window_path_identical_clean_data():
    doc = "<root>" + "".join(_rec(i=str(k)) for k in range(900)) + "</root>"
    ct, rt, recs = _scanned_vs_row_paths(doc, SCHEMA, OPTS)
    assert len(recs) == 900
    assert ct.num_rows == 900
    assert ct.equals(rt)


def test_window_path_null_elided_and_entities():
    """Records with missing fields fail the strict pattern and match the
    optional one; entity-bearing records take the row path. Results must
    equal the row path."""
    recs = []
    for k in range(300):
        if k % 7 == 0:
            recs.append(_rec(i=str(k), s=None, d=None))  # null-elided
        elif k % 11 == 0:
            recs.append(_rec(i=str(k), s="a&amp;b"))  # entity
        else:
            recs.append(_rec(i=str(k)))
    doc = "<root>" + "".join(recs) + "</root>"
    ct, rt, _ = _scanned_vs_row_paths(doc, SCHEMA, OPTS)
    assert ct.num_rows == 300
    assert ct.equals(rt)
    # null elision really produced nulls
    scol = ct.column("s").to_pylist()
    assert scol[0] is None and scol[1] == "x"


def test_window_path_quoted_attr_windows_fall_back():
    """Quote-bearing records (root attributes) match the learned pattern
    like any other; results still equal the row path."""
    schema = T.StructType(
        [T.StructField("_a", T.StringType()), T.StructField("i", T.LongType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    doc = "<root>" + "".join(
        f'<r a="v{k}"><i>{k}</i></r>' for k in range(200)
    ) + "</root>"
    ct, rt, _ = _scanned_vs_row_paths(doc, schema, opts)
    assert ct.num_rows == 200
    assert ct.equals(rt)
    assert ct.column("_a").to_pylist()[:2] == ["v0", "v1"]


def test_window_path_learns_on_dirty_window_corpora():
    """On an attribute corpus every record carries quotes; the
    consumer must learn the pattern there too, or the scan silently runs
    the row tier forever (~10x)."""
    import os
    import tempfile

    from spark_xml_spark.xmlcore import tokenizer as tok

    schema = T.StructType(
        [T.StructField("_a", T.StringType()), T.StructField("i", T.LongType())]
    )
    opts = XmlOptions.from_dict({"rowTag": "r"})
    doc = "<root>" + "".join(
        f'<r a="v{k}"><i>{k}</i></r>' for k in range(2000)
    ) + "</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "w") as fh:
        fh.write(doc)

    def records():
        for s in tok.plan_splits(p, "utf-8", 1 << 20):
            yield from tok.scan_split(s, "r", "utf-8")

    tally = D._TierTally()
    batches = list(
        D._columnar_batches(records(), schema, opts, 256, tally=tally)
    )
    assert pa.Table.from_batches(batches).num_rows == 2000
    # the learned-pattern tier served everything; zero rows on the row tier
    assert tally.counts.get("columnar_flat") == 2000
    assert "row_fallback" not in tally.counts


# --- per-record isolation on the write_roundtrip flat shape ----------------

_LINEITEM = T.StructType(
    [
        T.StructField("orderkey", T.LongType()),
        T.StructField("partkey", T.LongType()),
        T.StructField("suppkey", T.LongType()),
        T.StructField("linenumber", T.IntegerType()),
        T.StructField("quantity", T.DecimalType(12, 2)),
        T.StructField("extendedprice", T.DecimalType(12, 2)),
        T.StructField("discount", T.DoubleType()),
        T.StructField("tax", T.DoubleType()),
        T.StructField("returnflag", T.StringType()),
        T.StructField("linestatus", T.StringType()),
        T.StructField("shipdate", T.DateType()),
        T.StructField("commitdate", T.DateType()),
        T.StructField("shipmode", T.StringType()),
        T.StructField("comment", T.StringType()),
    ]
)


def _lineitems(n, dirty):
    """``n`` lineitem records as the XML writer lays them out, every 500th
    one's comment made ``dirty``."""
    import random

    rng = random.Random(1)
    words = "final regular pending bold quick ironic deposits accounts".split()
    out = []
    for k in range(n):
        comment = " ".join(rng.choice(words) for _ in range(rng.randint(2, 7)))
        if k % 500 == 0:
            comment = dirty(comment)
        vals = (
            k, rng.randint(1, 200_000), rng.randint(1, 10_000),
            rng.randint(1, 7), f"{rng.randint(100, 5000) / 100:.2f}",
            f"{rng.randint(90_000, 10_000_000) / 100:.2f}",
            f"{rng.randint(0, 10) / 100:.2f}", f"{rng.randint(0, 8) / 100:.2f}",
            rng.choice("ANR"), rng.choice("OF"),
            f"199{rng.randint(2, 8)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}",
            f"199{rng.randint(2, 8)}-0{rng.randint(1, 9)}-2{rng.randint(0, 8)}",
            rng.choice(("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")), comment,
        )
        out.append(
            "    <item>"
            + "".join(f"<{f.name}>{v}</{f.name}>" for f, v in zip(_LINEITEM, vals))
            + "</item>"
        )
    return out


@pytest.mark.parametrize(
    "dirty",
    [lambda c: f"<![CDATA[{c}]]>", lambda c: c + " &amp; more"],
    ids=["cdata", "amp"],
)
def test_dirty_records_take_the_row_path_alone(tmp_path, monkeypatch, dirty):
    """One dirty record every 500 (a CDATA section, or an entity
    reference) takes the row path by itself: the read equals the row
    path, the row tier serves exactly the dirty records and the columnar
    tier every other one."""
    import glob

    recs = _lineitems(8000, dirty)
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.xml").write_text(
        '<?xml version="1.0"?>\n<lineitems>\n' + "\n".join(recs)
        + "\n</lineitems>\n"
    )
    got, tiers = _read_with_tiers(tmp_path, monkeypatch, src, _LINEITEM)
    opts = XmlOptions.from_dict({"rowTag": "item"})
    assert got.sort_by("orderkey").equals(
        _row_table([r.strip() for r in recs], _LINEITEM, opts)
    )
    assert tiers.get("row_fallback") == 16, tiers
    assert tiers.get("columnar_flat") == 8000 - 16, tiers


def _read_with_tiers(tmp_path, monkeypatch, src, schema, **options):
    """Read ``src`` through the reader in-process, rowTag ``item``: the
    table (partitions in plan order) and the rows each tier served."""
    import glob

    stats = tmp_path / "stats"
    stats.mkdir()
    monkeypatch.setenv("SPARK_XML_TIER_STATS_DIR", str(stats))
    reader = D.XmlReader({"path": str(src), "rowTag": "item", **options}, schema)
    got = pa.Table.from_batches(
        [b for p in reader.partitions() for b in reader.read(p)]
    )
    tiers = {}
    for f in glob.glob(str(stats / "*.jsonl")):
        for line in open(f):
            t = json.loads(line)
            tiers[t["tier"]] = tiers.get(t["tier"], 0) + t["rows"]
    return got, tiers


def _dense_records():
    """3000 lineitems: every third one with an entity reference, every
    seventh truncated (its ``</shipmode>`` gone, so malformed)."""
    recs = [r.strip() for r in _lineitems(3000, lambda c: c)]
    for k in range(len(recs)):
        if k % 3 == 1:
            recs[k] = recs[k].replace("</comment>", " &amp; more</comment>")
        if k % 7 == 2:
            recs[k] = recs[k].replace("</shipmode>", "")
    return recs


@pytest.mark.parametrize("mode", ["PERMISSIVE", "DROPMALFORMED"])
def test_dense_interleaving_keeps_record_order(mode):
    """Every third record an entity reference and every seventh truncated
    (malformed): the consumer's output equals the row path's in record
    order, DROPMALFORMED drops only the malformed records, and the row
    tier serves exactly the records the pattern misses."""
    recs = _dense_records()
    opts = XmlOptions.from_dict({"rowTag": "item", "mode": mode})
    tally = D._TierTally()
    got = _table(list(D._columnar_batches(recs, _LINEITEM, opts, 512, tally)))
    assert got.equals(_row_table(recs, _LINEITEM, opts))
    missed = sum(1 for k in range(len(recs)) if k % 3 == 1 or k % 7 == 2)
    assert tally.counts["row_fallback"] == missed
    assert tally.counts["columnar_flat"] == len(recs) - missed
    if mode == "DROPMALFORMED":
        assert got.num_rows == len(recs) - len(range(2, len(recs), 7))


def test_dense_interleaving_with_corrupt_column(tmp_path, monkeypatch):
    """The same records read with a corrupt-record column: the read still
    takes the columnar scan, equals the row path in record order (the
    truncated records keep their partial values and raw text), and the
    row tier serves only the records the pattern misses."""
    recs = _dense_records()
    schema = T.StructType(
        _LINEITEM.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.xml").write_text(
        "<lineitems>\n" + "\n".join(recs) + "\n</lineitems>\n"
    )
    got, tiers = _read_with_tiers(
        tmp_path, monkeypatch, src, schema, maxPartitionBytes=str(1 << 30)
    )
    opts = XmlOptions.from_dict({"rowTag": "item"})
    assert got.equals(_row_table(recs, schema, opts))
    truncated = len(range(2, len(recs), 7))
    assert got.column("_corrupt_record").null_count == len(recs) - truncated
    missed = sum(1 for k in range(len(recs)) if k % 3 == 1 or k % 7 == 2)
    assert tiers.get("row_fallback") == missed, tiers
    assert tiers.get("columnar_flat") == len(recs) - missed, tiers
    assert "row_arrow" not in tiers, tiers


@pytest.mark.parametrize(
    "extra",
    [
        {"nullValue": "NA"},
        {"ignoreSurroundingSpaces": "true"},
        {"treatEmptyValuesAsNulls": "true"},
    ],
    ids=["nullValue", "ignoreSurroundingSpaces", "treatEmptyValuesAsNulls"],
)
def test_null_and_space_options_stay_columnar(tmp_path, monkeypatch, extra):
    """Under each of the empty/null/space options a flat read stays on the
    columnar scan (its Python casters apply the option) and equals the
    generic parser, on string cells that each option rewrites."""
    recs = [r.strip() for r in _lineitems(3000, lambda c: c)]
    planted = ("NA", "  padded  ", "", "   ")
    for k in range(0, len(recs), 5):
        head, rest = recs[k].split("<comment>")
        recs[k] = f"{head}<comment>{planted[k // 5 % 4]}</comment></item>"
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.xml").write_text(
        "<lineitems>\n" + "\n".join(recs) + "\n</lineitems>\n"
    )
    got, tiers = _read_with_tiers(tmp_path, monkeypatch, src, _LINEITEM, **extra)
    opts = XmlOptions.from_dict({"rowTag": "item", **extra})
    ref = _row_table(recs, _LINEITEM, opts)
    assert got.equals(ref)
    assert tiers.get("columnar_flat") == len(recs), tiers
    assert "row_fallback" not in tiers and "row_arrow" not in tiers, tiers
    # the option did rewrite some planted cell
    default = _row_table(recs, _LINEITEM, XmlOptions.from_dict({"rowTag": "item"}))
    assert got.column("comment") != default.column("comment")


@pytest.mark.parametrize(
    "extra",
    [{}, {"ignoreSurroundingSpaces": "true"}, {"mode": "DROPMALFORMED"}],
    ids=["default", "ignoreSurroundingSpaces", "DROPMALFORMED"],
)
def test_uncastable_records_take_the_row_path_alone(extra):
    """Matched records whose numeric cell a caster rejects (whitespace
    only, or not a number), a few in every batch: only those records take
    the exact parser, their neighbours stay columnar, and the output
    equals the generic parser in record order."""
    recs = [r.strip() for r in _lineitems(3000, lambda c: c)]
    for k in range(3, len(recs), 200):
        recs[k] = re.sub("<orderkey>[^<]*<", "<orderkey>   <", recs[k])
    for k in range(7, len(recs), 200):
        recs[k] = re.sub("<discount>[^<]*<", "<discount>x1<", recs[k])
    opts = XmlOptions.from_dict({"rowTag": "item", **extra})
    tally = D._TierTally()
    got = _table(list(D._columnar_batches(recs, _LINEITEM, opts, 512, tally)))
    assert got.equals(_row_table(recs, _LINEITEM, opts))
    rejected = 2 * len(range(3, len(recs), 200))
    assert tally.counts["row_fallback"] == rejected
    assert tally.counts["columnar_flat"] == len(recs) - rejected
    if extra.get("mode") == "DROPMALFORMED":
        assert got.num_rows == len(recs) - rejected
