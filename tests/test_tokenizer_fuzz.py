"""Split-point fuzz of the record scanner against the generator's oracle.

Hypothesis builds documents from records and gaps whose text hides row
tags in every place the scanner must see through: quoted attribute values
holding '>' and '</r>', comments, CDATA and processing instructions,
self-closing and nested same-name rows, and non-ASCII text. The oracle is
the record list the generator wrote, never the scanner's own output.

Split points are drawn from the positions the ownership contract covers:
a split may start anywhere except strictly inside a construct that hides
markup (comment, CDATA, PI, a tag with a quoted attribute) or inside a
record that holds a same-name row. There, as in the reference's
``XmlInputFormat``, the first scan after a boundary is context-free (see
``tokenizer.scan_split``).
"""

import bz2
import functools
import random
import re
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_xml_spark.xmlcore import tokenizer

_TEXT = st.sampled_from(["x", "42", "é", "日本語", "a→b", "it's", '"q"', "&amp;", ""])
_HIDDEN = st.sampled_from(
    ["<r>", "</r>", "<r/>", "<r a='>'>", "<!--", "]]>", "?>", "x > y"]
)
_VALUE = st.sampled_from([">", "</r>", "<r>", "a>b</r>", "it's", "", "é"])


class _Doc:
    """Byte-level builder that records the spans split points must avoid."""

    def __init__(self):
        self.parts = []
        self.size = 0
        self.unsafe = []  # (lo, hi): no split may start in lo < p < hi

    def add(self, text, unsafe=False):
        b = text.encode("utf-8")
        if unsafe:
            self.unsafe.append((self.size, self.size + len(b)))
        self.parts.append(b)
        self.size += len(b)

    def data(self):
        return b"".join(self.parts)

    def safe_points(self):
        cut = set()
        for lo, hi in self.unsafe:
            cut.update(range(lo + 1, hi))
        return [p for p in range(1, self.size) if p not in cut]


def _markup(draw):
    kind = draw(st.sampled_from(["comment", "cdata", "pi"]))
    h = draw(_HIDDEN)
    if kind == "comment":
        return f"<!-- {h.replace('--', '')} -->"
    if kind == "cdata":
        return f"<![CDATA[{h.replace(']]>', '')}]]>"
    return f"<?pi {h.replace('?>', '')} ?>"


def _child(draw, doc, depth=0):
    """One element inside a record, added to ``doc``."""
    kind = draw(st.sampled_from(
        ["text", "quoted", "empty", "markup", "nested"] if depth < 2
        else ["text", "quoted", "empty", "markup"]
    ))
    if kind == "text":
        doc.add(f"<a>{draw(_TEXT)}</a>")
    elif kind == "quoted":
        q = draw(st.sampled_from(['"', "'"]))
        v = draw(_VALUE).replace(q, "")
        doc.add(f"<a t={q}{v}{q} u='1'>", unsafe=True)
        doc.add(f"{draw(_TEXT)}</a>")
    elif kind == "empty":
        doc.add("<b/>")
    elif kind == "markup":
        doc.add("<c>")
        doc.add(_markup(draw), unsafe=True)
        doc.add("</c>")
    else:
        doc.add("<d>")
        _child(draw, doc, depth + 1)
        doc.add("</d>")


@st.composite
def documents(draw, n_max=12):
    """(document bytes, oracle record list, split-safe positions)."""
    doc = _Doc()
    doc.add('<?xml version="1.0" encoding="UTF-8"?>\n<rows>', unsafe=True)
    records = []
    for _ in range(draw(st.integers(0, n_max))):
        gap = draw(st.sampled_from(["", "\n", "  ", "markup", "other", "prefix"]))
        if gap == "markup":
            doc.add(_markup(draw), unsafe=True)
        elif gap == "other":
            doc.add(f'<other t="{draw(_VALUE)}">', unsafe=True)
            doc.add("y</other>")
        elif gap == "prefix":
            doc.add(f"<rx>{draw(_TEXT)}</rx>")
        else:
            doc.add(gap)
        start = doc.size
        n0 = len(doc.parts)
        shape = draw(st.sampled_from(
            ["plain", "attrs", "self", "nested", "nested_self", "spaced"]
        ))
        if shape == "self":
            doc.add('<r k="/>"/>', unsafe=True)
        elif shape == "attrs":
            q = draw(st.sampled_from(['"', "'"]))
            v = draw(_VALUE).replace(q, "")
            doc.add(f"<r k={q}{v}{q}>", unsafe=True)
        elif shape == "spaced":
            doc.add("<r\n>")
        else:
            doc.add("<r>")
        if shape != "self":
            if shape == "nested":
                doc.add("<r>")
                _child(draw, doc)
                doc.add("</r>")
            elif shape == "nested_self":
                doc.add("<r/>")
            for _ in range(draw(st.integers(0, 3))):
                _child(draw, doc)
            doc.add("</r >" if shape == "spaced" else "</r>")
        if shape in ("nested", "nested_self"):
            doc.unsafe.append((start, doc.size + 1))
        records.append(b"".join(doc.parts[n0:]).decode("utf-8"))
    doc.add("\n</rows>\n")
    return doc.data(), records, doc.safe_points()


def _cuts(draw_points, safe):
    if not safe:
        return []
    return sorted({safe[i % len(safe)] for i in draw_points})


@settings(derandomize=True, deadline=None, max_examples=150)
@given(documents(), st.lists(st.integers(0, 1 << 30), max_size=8))
def test_plain_splits_join_to_oracle(tmp_path_factory, gen, points):
    data, records, safe = gen
    path = str(tmp_path_factory.mktemp("fuzz") / "d.xml")
    with open(path, "wb") as fh:
        fh.write(data)
    bounds = [0] + _cuts(points, safe) + [len(data)]
    splits = [tokenizer.FileSplit(path, a, b) for a, b in zip(bounds, bounds[1:])]
    got = [r for s in splits for r in tokenizer.scan_split(s, "r")]
    assert got == records
    # every clean stretch on the lean regex, however short
    with mock.patch.object(tokenizer, "_LEAN_MIN", 1):
        got = [r for s in splits for r in tokenizer.scan_split(s, "r")]
    assert got == records
    # the windowed view carries the same records in the same order
    # and a window only ever holds clean records: no quote, comment,
    # CDATA, DOCTYPE or PI, and no nested or self-closing same-name row
    flat = []
    for s in splits:
        for item in tokenizer.scan_split_windows(s, "r"):
            if item[0] == "rec":
                flat.append(item[1])
                continue
            text = item[1]
            assert not re.search(r"[\"']|<[!?]", text)
            recs = [text[a:b] for a, b in item[2]]
            assert not any(re.search(r"<r[\s/>]", r[1:]) or r.endswith("/>")
                           for r in recs)
            flat.extend(recs)
    assert flat == records
    assert list(tokenizer.scan_string(data.decode("utf-8"), "r")) == records


@functools.lru_cache(maxsize=1)
def _filler():
    """A multi-block bzip2 stream (level 1: 100 kB blocks) of plain
    records, and those records: block boundaries fall at arbitrary bytes
    inside them, which the contract covers."""
    rng = random.Random(7)
    recs = [
        f"<r><a>{i}</a><b>{rng.getrandbits(320):080x}</b></r>" for i in range(2400)
    ]
    head = '<?xml version="1.0"?>\n<rows>\n' + "\n".join(recs) + "\n"
    return bz2.compress(head.encode(), 1), recs


@settings(derandomize=True, deadline=None, max_examples=40)
@given(documents(), st.lists(st.integers(0, 1 << 30), max_size=6),
       st.sampled_from([2048, 9000, 1 << 30]))
def test_bz2_splits_join_to_oracle(tmp_path_factory, gen, points, target):
    """Multi-block, multi-stream bzip2: the filler stream spans several
    blocks, then every piece of the generated document between two drawn
    split points is its own stream (one block), so block ownership
    boundaries land exactly on the drawn points."""
    data, records, safe = gen
    head, filler = _filler()
    body = data[data.index(b"<rows>") + len(b"<rows>"):]
    safe = [p - (len(data) - len(body)) for p in safe if p > len(data) - len(body)]
    bounds = [0] + _cuts(points, safe) + [len(body)]
    pieces = [body[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    path = str(tmp_path_factory.mktemp("fuzz") / "d.xml.bz2")
    with open(path, "wb") as fh:
        fh.write(head + b"".join(bz2.compress(p, 1) for p in pieces))
    splits = tokenizer.plan_splits(path, "UTF-8", target)
    got = [r for s in splits for r in tokenizer.scan_split(s, "r")]
    assert got == filler + records


def test_record_larger_than_three_chunks(tmp_path):
    """One record of more than 3 x _CHUNK bytes, with a quoted '>' and
    '</r>' and a comment at its far end, between two small records: every
    split size returns the three records whole."""
    n = 3 * tokenizer._CHUNK // 9
    big = (
        '<r><a t="x>y</r>">'
        + "".join(f"<v>{i % 997}</v>" for i in range(n))
        + "<!-- </r> --></a></r>"
    )
    records = ["<r><a>1</a></r>", big, "<r><a>2</a></r>"]
    doc = "<rows>\n" + "\n".join(records) + "\n</rows>\n"
    path = tmp_path / "big.xml"
    path.write_text(doc)
    assert len(big) > 3 * tokenizer._CHUNK
    for target in (len(doc) // 7, len(doc) // 2, 1 << 30):
        splits = tokenizer.plan_splits(str(path), target_split_size=target)
        got = [r for s in splits for r in tokenizer.scan_split(s, "r")]
        assert got == records, target


def test_windows_across_refills_hold_no_offenders(tmp_path):
    """Past the first loaded chunk, a record with a quoted attribute is
    still a ``"rec"`` item, never part of a clean window."""
    records = [
        f'<r k="{i}"><a>{i}</a></r>' if i % 3 == 0 else f"<r><a>{i}</a></r>"
        for i in range(3 * tokenizer._CHUNK // 20)
    ]
    path = tmp_path / "many.xml"
    path.write_text("<rows>\n" + "\n".join(records) + "\n</rows>\n")
    got = []
    for item in tokenizer.scan_split_windows(
        tokenizer.FileSplit(str(path), 0, -1), "r"
    ):
        if item[0] == "rec":
            got.append(item[1])
        else:
            assert '"' not in item[1]
            got.extend(item[1][a:b] for a, b in item[2])
    assert got == records


@pytest.mark.parametrize("quoted", [False, True])
@pytest.mark.parametrize("shift", range(22))
def test_row_tags_cut_by_chunk_boundary(tmp_path, shift, quoted):
    """The end of the first loaded chunk falls on every byte of a row open
    and close tag in turn, in clean and in quote-bearing data: the scan
    loads more bytes and frames every record."""
    rec = '<r k="1"><a>{}</a></r>' if quoted else "<r><a>{}</a></r>"
    records = [rec.format(i % 10) for i in range(tokenizer._CHUNK // 14)]
    doc = "<rows>" + " " * shift + "".join(records) + "</rows>"
    path = tmp_path / "cut.xml"
    path.write_text(doc)
    got = list(tokenizer.scan_split(tokenizer.FileSplit(str(path), 0, -1), "r"))
    assert got == records
