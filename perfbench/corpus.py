"""Seeded corpus generator for the three benchmark workloads.

Every corpus is a pure function of ``(workload, seed)``: the same seed gives
byte-identical files and identical expected values. Next to the files, in
``expected.json``, the generator records for every job the workloads run
the values a correct read must return (counts, checksums, the filter-match
count, the malformed count and the XSD-valid count), computed here in
Python from the rows it serialized — never by the program under test.

Sizes, against a 4-core, 15 GB machine:

- ``flat_scan``: 16 uncompressed files, about 6.6 MB of XML and 16,000
  rows: 4 splits per core. The corpus is ~0.05% of RAM, so every read is
  served from the page cache.
- ``nested_bz2_scan``: 2 multi-block bzip2 files (100 kB blocks), about
  0.85 MB of XML and 1,000 pages, read in 4 byte-range splits per file: 2
  splits per core.
- ``write_roundtrip``: an 8,000-row flat frame and an 800-page nested
  frame (about 4 MB of XML together), cached in the JVM.

At these sizes a job costs little more than the data source's fixed cost
per query (0.7–1.5 s on a shared 4-core machine), so three rounds of jobs
fit in a run.

Run ``python3 perfbench/corpus.py <workload> <seed> <out_dir>`` to write a
corpus and print its expected values.
"""

from __future__ import annotations

import bz2
import datetime as _dt
import json
import os
import random
import sys
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Dict, List, Optional, Tuple
from xml.sax.saxutils import escape

from pyspark.sql import types as T

WORKLOADS = ("flat_scan", "nested_bz2_scan", "write_roundtrip")

CORRUPT = "_corrupt_record"

# (files, rows per file) per workload and dataset
FLAT_SCAN_SHAPE = (16, 1000)
NESTED_SCAN_SHAPE = (2, 500)
WRITE_FLAT_SHAPE = (4, 2000)
WRITE_NESTED_SHAPE = (2, 400)

MALFORMED_EVERY = 97  # one planted malformed page per this many pages
XSD_INVALID_EVERY = 53  # one well-formed page whose <model> breaks the XSD
FILTER_PARTKEY_BELOW = 2001  # partkey uniform on [1, 200000]: keeps ~1%

_WORDS = (
    "carefully final deposits sleep quickly regular packages haggle "
    "furiously ironic accounts boost slyly even requests wake blithely "
    "bold pinto beans nag express theodolites cajole silent foxes"
).split()
_SHIPMODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
_TITLE_WORDS = (
    "Zürich", "東京", "Ελλάδα", "Café", "naïve", "Москва", "São Paulo",
    "Kraków", "Ångström", "Straße", "A&B", "x<y", "Łódź", "İstanbul",
    "History", "of", "the", "river", "Dvořák", "Reykjavík",
)
_USERS = ("Ælfred", "Bob", "Chloé", "Dmitri", "Eve", "Fátima", "Grzegorz")
_EPOCH = _dt.datetime(2001, 1, 15, tzinfo=_dt.timezone.utc)
_DATE0 = _dt.date(1992, 1, 1)


def flat_schema() -> T.StructType:
    """Lineitem-shaped record: int, decimal, double, date and string leaves."""
    f = T.StructField
    return T.StructType([
        f("orderkey", T.LongType()),
        f("partkey", T.LongType()),
        f("suppkey", T.LongType()),
        f("linenumber", T.IntegerType()),
        f("quantity", T.DecimalType(12, 2)),
        f("extendedprice", T.DecimalType(12, 2)),
        f("discount", T.DoubleType()),
        f("tax", T.DoubleType()),
        f("returnflag", T.StringType()),
        f("linestatus", T.StringType()),
        f("shipdate", T.DateType()),
        f("commitdate", T.DateType()),
        f("shipmode", T.StringType()),
        f("comment", T.StringType()),
    ])


# the schema infer_xml_schema must find on the flat corpus
FLAT_INFERRED = {
    "orderkey": "bigint", "partkey": "bigint", "suppkey": "bigint",
    "linenumber": "bigint", "quantity": "double", "extendedprice": "double",
    "discount": "double", "tax": "double", "returnflag": "string",
    "linestatus": "string", "shipdate": "date", "commitdate": "date",
    "shipmode": "string", "comment": "string",
}


def nested_schema() -> T.StructType:
    """Wikipedia-dump ``<page>``: nested structs, a repeated ``<revision>``,
    attributes and optional children."""
    f = T.StructField
    revision = T.StructType([
        f("id", T.LongType()),
        f("parentid", T.LongType()),
        f("timestamp", T.TimestampType()),
        f("contributor", T.StructType([
            f("username", T.StringType()), f("id", T.LongType()),
        ])),
        f("comment", T.StringType()),
        f("model", T.StringType()),
        f("text", T.StructType([
            f("_VALUE", T.StringType()), f("_bytes", T.LongType()),
        ])),
        f("sha1", T.StringType()),
    ])
    return T.StructType([
        f("title", T.StringType()),
        f("ns", T.LongType()),
        f("id", T.LongType()),
        f("redirect", T.StructType([f("_title", T.StringType())])),
        f("revision", T.ArrayType(revision)),
    ])


def with_corrupt(schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT, T.StringType())]
    )


@dataclass
class Dataset:
    """One set of files with the rows behind them and the answers."""

    name: str  # "flat" or "nested"
    row_tag: str
    root_tag: str
    schema: T.StructType  # fields of the rows the generator emitted
    read_schema: T.StructType  # schema for explicit-schema reads
    files: List[str]
    codec: Optional[str]  # None or "bz2"
    xml_bytes: int  # uncompressed XML bytes over all files
    xsd_path: str
    rows: List[tuple] = field(repr=False)  # well-formed rows, file order
    records: List[str] = field(repr=False)  # every record, file order
    leaves: List[Tuple[str, T.DataType]] = field(repr=False)
    expected: Dict[str, object] = field(default_factory=dict)

    @property
    def directory(self) -> str:
        return os.path.dirname(self.files[0])


@dataclass
class Corpus:
    workload: str
    seed: int
    datasets: List[Dataset]

    def dataset(self, name: str) -> Dataset:
        return next(d for d in self.datasets if d.name == name)


# --- flat -----------------------------------------------------------------


def _flat_row(rng: random.Random):
    qc = rng.randint(100, 5000)
    pc = rng.randint(90_000, 10_000_000)
    return (
        rng.randint(1, 6_000_000),
        rng.randint(1, 200_000),
        rng.randint(1, 10_000),
        rng.randint(1, 7),
        Decimal(qc).scaleb(-2),
        Decimal(pc).scaleb(-2),
        rng.randint(0, 10) / 100,
        rng.randint(0, 8) / 100,
        rng.choice("ANR"),
        rng.choice("OF"),
        _DATE0 + _dt.timedelta(days=rng.randint(0, 2500)),
        _DATE0 + _dt.timedelta(days=rng.randint(0, 2500)),
        rng.choice(_SHIPMODES),
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 7))),
    )


def _flat_text(v) -> str:
    if isinstance(v, float):
        return f"{v:.2f}"
    return str(v)


def _flat_record(names, row) -> str:
    return "<item>" + "".join(
        f"<{n}>{_flat_text(v)}</{n}>" for n, v in zip(names, row)
    ) + "</item>"


def _flat_expected(rows) -> dict:
    groups: Dict[str, list] = {}
    for r in rows:
        g = groups.setdefault(f"{r[8]}|{r[9]}", [0, Decimal(0)])
        g[0] += 1
        g[1] += r[4]
    return {
        "count": len(rows),
        "sum_orderkey": sum(r[0] for r in rows),
        "sum_quantity": str(sum((r[4] for r in rows), Decimal(0))),
        "sum_comment_len": sum(len(r[13]) for r in rows),
        "max_shipdate": max(r[10] for r in rows).isoformat(),
        "filter_count": sum(1 for r in rows if r[1] < FILTER_PARTKEY_BELOW),
        "groups": {k: [n, str(q)] for k, (n, q) in sorted(groups.items())},
        "inferred": FLAT_INFERRED,
        "malformed": 0,
        "xsd_valid": len(rows),
    }


_FLAT_XSD_TYPES = {
    "orderkey": "xs:long", "partkey": "xs:long", "suppkey": "xs:long",
    "linenumber": "xs:int", "quantity": "xs:decimal",
    "extendedprice": "xs:decimal", "discount": "xs:double",
    "tax": "xs:double", "returnflag": "xs:string", "linestatus": "xs:string",
    "shipdate": "xs:date", "commitdate": "xs:date", "shipmode": "xs:string",
    "comment": "xs:string",
}


def _flat_xsd() -> str:
    elems = "".join(
        f'<xs:element name="{n}" type="{t}"/>' for n, t in _FLAT_XSD_TYPES.items()
    )
    return (
        '<?xml version="1.0"?>\n'
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        f'<xs:element name="item"><xs:complexType><xs:sequence>{elems}'
        "</xs:sequence></xs:complexType></xs:element></xs:schema>\n"
    )


def make_flat(rng: random.Random, out_dir: str, n_files: int, per_file: int) -> Dataset:
    os.makedirs(out_dir, exist_ok=True)
    schema = flat_schema()
    names = [f.name for f in schema.fields]
    rows, records, files, leaves = [], [], [], []
    xml_bytes = 0
    for k in range(n_files):
        chunk = [_flat_row(rng) for _ in range(per_file)]
        recs = [_flat_record(names, r) for r in chunk]
        doc = (
            '<?xml version="1.0" encoding="UTF-8"?>\n<lineitems>\n'
            + "\n".join(recs) + "\n</lineitems>\n"
        ).encode("utf-8")
        path = os.path.join(out_dir, f"lineitem-{k:03d}.xml")
        with open(path, "wb") as fh:
            fh.write(doc)
        files.append(path)
        xml_bytes += len(doc)
        rows.extend(chunk)
        records.extend(recs)
    for r in rows:
        leaves.extend(
            (_flat_text(v), f.dataType) for v, f in zip(r, schema.fields)
        )
    xsd_path = out_dir.rstrip("/") + ".xsd"  # beside, not in, the data dir
    with open(xsd_path, "w", encoding="utf-8") as fh:
        fh.write(_flat_xsd())
    return Dataset(
        name="flat", row_tag="item", root_tag="lineitems", schema=schema,
        read_schema=schema, files=files, codec=None, xml_bytes=xml_bytes,
        xsd_path=xsd_path, rows=rows, records=records, leaves=leaves,
        expected=_flat_expected(rows),
    )


# --- nested ---------------------------------------------------------------


def _title(rng: random.Random) -> str:
    return " ".join(rng.choice(_TITLE_WORDS) for _ in range(rng.randint(1, 4)))


def _escaped(text: str) -> str:
    # entities of both kinds: named (&amp; &lt;) and numeric (&#233;)
    return escape(text).replace("é", "&#233;")


def _revision(rng: random.Random, rev_id: int, model: str):
    ts = _EPOCH + _dt.timedelta(seconds=rng.randint(0, 500_000_000))
    body = " ".join(rng.choice(_TITLE_WORDS) for _ in range(rng.randint(3, 30)))
    cdata = rng.random() < 0.3
    if cdata:
        body = f"<b>{body}</b> {{{{cite|{rng.randint(1, 999)}}}}}"
    return (
        rev_id,
        rev_id - rng.randint(1, 9999) if rng.random() < 0.7 else None,
        ts,
        (rng.choice(_USERS), rng.randint(1, 99_999)),
        _escaped_comment(rng),
        model,
        (body, len(body.encode("utf-8"))),
        "%032x" % rng.getrandbits(128),
    ), cdata


def _escaped_comment(rng: random.Random) -> Optional[str]:
    if rng.random() < 0.5:
        return None
    return " ".join(rng.choice(_WORDS + ["«edit»", "→"]) for _ in range(rng.randint(1, 6)))


def _revision_xml(rev, cdata: bool, rng: random.Random) -> str:
    rid, parent, ts, (user, uid), comment, model, (body, nbytes), sha1 = rev
    parts = {
        "id": f"<id>{rid}</id>",
        "timestamp": f"<timestamp>{ts.strftime('%Y-%m-%dT%H:%M:%SZ')}</timestamp>",
        "contributor": (
            f"<contributor><username>{_escaped(user)}</username>"
            f"<id>{uid}</id></contributor>"
        ),
        "model": f"<model>{model}</model>",
        "text": (
            f'<text bytes="{nbytes}">'
            + (f"<![CDATA[{body}]]>" if cdata else _escaped(body))
            + "</text>"
        ),
        "sha1": f"<sha1>{sha1}</sha1>",
    }
    order = ["id", "timestamp", "contributor", "model", "text", "sha1"]
    if parent is not None:
        order.insert(1, "parentid")
        parts["parentid"] = f"<parentid>{parent}</parentid>"
    if comment is not None:
        order.insert(order.index("model"), "comment")
        parts["comment"] = f"<comment>{_escaped(comment)}</comment>"
    if rng.random() < 0.25:  # reordered children (the XSD uses xs:all)
        i, j = order.index("timestamp"), order.index("contributor")
        order[i], order[j] = order[j], order[i]
    if rng.random() < 0.1:
        i, j = order.index("text"), order.index("sha1")
        order[i], order[j] = order[j], order[i]
    return "<revision>" + "".join(parts[k] for k in order) + "</revision>"


def _page(rng: random.Random, page_id: int, next_rev: int, xsd_invalid: bool):
    title = _title(rng)
    ns = rng.choice((0, 0, 0, 1, 4))
    redirect = (_title(rng),) if rng.random() < 0.15 else None
    revs, xml_revs = [], []
    n = rng.choice((1, 1, 2, 3))
    bad = rng.randrange(n) if xsd_invalid else -1
    for k in range(n):
        rev, cdata = _revision(rng, next_rev + k, "css" if k == bad else "wikitext")
        revs.append(rev)
        xml_revs.append(_revision_xml(rev, cdata, rng))
    row = (title, ns, page_id, redirect, revs)
    xml = (
        f"<page><title>{_escaped(title)}</title><ns>{ns}</ns><id>{page_id}</id>"
        + (
            f'<redirect title="{_escaped(redirect[0])}"/>' if redirect else ""
        )
        + "".join(xml_revs)
        + "</page>"
    )
    return row, xml


def _malformed_page(page_id: int) -> str:
    # an unclosed <revision>: framed by <page>...</page>, so the tokenizer
    # delivers it whole and the parser must reject it
    return (
        f"<page><title>Broken {page_id}</title><ns>0</ns><id>{page_id}</id>"
        f"<revision><id>{page_id}</id></page>"
    )


def _nested_expected(rows, n_malformed: int, n_xsd_invalid: int) -> dict:
    revs = [r for row in rows for r in row[4]]
    return {
        "count": len(rows) + n_malformed,
        "malformed": n_malformed,
        "xsd_valid": len(rows) - n_xsd_invalid,
        "sum_id": sum(row[2] for row in rows),
        "sum_title_len": sum(len(row[0]) for row in rows),
        "n_redirect": sum(1 for row in rows if row[3] is not None),
        "n_revisions": len(revs),
        "sum_revision_id": sum(r[0] for r in revs),
        "sum_text_len": sum(len(r[6][0]) for r in revs),
        # flatten_xml explodes revisions; explode_outer keeps one row per
        # malformed page (its revision array is null)
        "flat_rows": len(revs) + n_malformed,
        # top-level fields infer_xml_schema must find; malformed records
        # add the corrupt-record column
        "inferred_fields": sorted(
            ["id", "ns", "redirect", "revision", "title"]
            + ([CORRUPT] if n_malformed else [])
        ),
    }


_NESTED_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="page">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="title" type="xs:string"/>
        <xs:element name="ns" type="xs:int"/>
        <xs:element name="id" type="xs:long"/>
        <xs:element name="redirect" minOccurs="0">
          <xs:complexType>
            <xs:attribute name="title" type="xs:string"/>
          </xs:complexType>
        </xs:element>
        <xs:element name="revision" maxOccurs="unbounded">
          <xs:complexType>
            <xs:all>
              <xs:element name="id" type="xs:long"/>
              <xs:element name="parentid" type="xs:long" minOccurs="0"/>
              <xs:element name="timestamp" type="xs:dateTime"/>
              <xs:element name="contributor">
                <xs:complexType>
                  <xs:sequence>
                    <xs:element name="username" type="xs:string"/>
                    <xs:element name="id" type="xs:long"/>
                  </xs:sequence>
                </xs:complexType>
              </xs:element>
              <xs:element name="comment" type="xs:string" minOccurs="0"/>
              <xs:element name="model">
                <xs:simpleType>
                  <xs:restriction base="xs:string">
                    <xs:enumeration value="wikitext"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
              <xs:element name="text">
                <xs:complexType>
                  <xs:simpleContent>
                    <xs:extension base="xs:string">
                      <xs:attribute name="bytes" type="xs:long"/>
                    </xs:extension>
                  </xs:simpleContent>
                </xs:complexType>
              </xs:element>
              <xs:element name="sha1" type="xs:string"/>
            </xs:all>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def _nested_leaves(rows) -> List[Tuple[str, T.DataType]]:
    out: List[Tuple[str, T.DataType]] = []
    s, lg, ts = T.StringType(), T.LongType(), T.TimestampType()
    for title, ns, pid, redirect, revs in rows:
        out += [(title, s), (str(ns), lg), (str(pid), lg)]
        for rid, parent, t, (user, uid), comment, model, (body, nb), sha1 in revs:
            out += [
                (str(rid), lg), (t.strftime("%Y-%m-%dT%H:%M:%SZ"), ts),
                (user, s), (str(uid), lg), (body, s), (str(nb), lg),
            ]
            if parent is not None:
                out.append((str(parent), lg))
    return out


def make_nested(rng: random.Random, out_dir: str, n_files: int, per_file: int,
                codec: Optional[str], plant: bool = True) -> Dataset:
    os.makedirs(out_dir, exist_ok=True)
    rows, records, files = [], [], []
    n_malformed = n_invalid = 0
    xml_bytes = 0
    page_id = rng.randint(1, 1000)
    next_rev = 10_000_000 + rng.randint(0, 1000)
    for k in range(n_files):
        recs = []
        for i in range(per_file):
            page_id += rng.randint(1, 40)
            if plant and (len(records) + len(recs)) % MALFORMED_EVERY == 50:
                recs.append(_malformed_page(page_id))
                n_malformed += 1
                continue
            invalid = plant and (len(records) + len(recs)) % XSD_INVALID_EVERY == 7
            row, xml = _page(rng, page_id, next_rev, invalid)
            next_rev += len(row[4]) + rng.randint(0, 50)
            n_invalid += invalid
            rows.append(row)
            recs.append(xml)
        doc = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<mediawiki xml:lang="en">\n  '
            + "\n  ".join(recs) + "\n</mediawiki>\n"
        ).encode("utf-8")
        name = f"pages-{k:03d}.xml"
        path = os.path.join(out_dir, name)
        if codec == "bz2":
            path += ".bz2"
            data = bz2.compress(doc, 1)  # 100 kB blocks: many per file
        else:
            data = doc
        with open(path, "wb") as fh:
            fh.write(data)
        files.append(path)
        xml_bytes += len(doc)
        records.extend(recs)
    xsd_path = out_dir.rstrip("/") + ".xsd"
    with open(xsd_path, "w", encoding="utf-8") as fh:
        fh.write(_NESTED_XSD)
    schema = nested_schema()
    return Dataset(
        name="nested", row_tag="page", root_tag="mediawiki", schema=schema,
        read_schema=with_corrupt(schema), files=files, codec=codec,
        xml_bytes=xml_bytes, xsd_path=xsd_path, rows=rows, records=records,
        leaves=_nested_leaves(rows),
        expected=_nested_expected(rows, n_malformed, n_invalid),
    )


# --- entry points -----------------------------------------------------------


def generate(workload: str, seed: int, out_dir: str) -> Corpus:
    """Write the corpus of ``workload`` for ``seed`` under ``out_dir``."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    # one stream per workload, so corpora of different workloads differ
    rng = random.Random(f"{workload}:{seed}")
    if workload == "flat_scan":
        sets = [make_flat(rng, os.path.join(out_dir, "flat"), *FLAT_SCAN_SHAPE)]
    elif workload == "nested_bz2_scan":
        sets = [make_nested(rng, os.path.join(out_dir, "nested"),
                            *NESTED_SCAN_SHAPE, codec="bz2")]
    else:
        sets = [
            make_flat(rng, os.path.join(out_dir, "flat"), *WRITE_FLAT_SHAPE),
            make_nested(rng, os.path.join(out_dir, "nested"),
                        *WRITE_NESTED_SHAPE, codec=None, plant=False),
        ]
    corpus = Corpus(workload=workload, seed=seed, datasets=sets)
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as fh:
        json.dump(describe(corpus), fh, indent=2, sort_keys=True)
    return corpus


def describe(corpus: Corpus) -> dict:
    """Sizes and expected values, as printed next to the corpus."""
    return {
        d.name: {
            "files": len(d.files),
            "codec": d.codec,
            "xml_mb": round(d.xml_bytes / 1e6, 3),
            "records": len(d.records),
            "expected": d.expected,
        }
        for d in corpus.datasets
    }


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: corpus.py <workload> <seed> <out_dir>")
    c = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(describe(c), indent=2))
