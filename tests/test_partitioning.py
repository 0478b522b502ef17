"""Split/compression correctness, mirroring the reference's
XmlPartitioningSuite.scala:27-72: forced tiny splits over uncompressed,
gzip, and bzip2 variants must produce exact record counts (no loss, no
duplication at split boundaries), with FAILFAST so malformed reads throw.
"""

import bz2 as _bz2
import os

import pytest

from spark_xml_spark.sources.api import read_xml
from spark_xml_spark.xmlcore import bz2split, tokenizer

RES = "/root/reference/src/test/resources"


@pytest.mark.parametrize("target", [500, 8342, 100000])
def test_uncompressed_forced_splits(target):
    recs = [
        r
        for s in tokenizer.plan_splits(f"{RES}/fias_house.large.xml", "UTF-8", target)
        for r in tokenizer.scan_split(s, "House")
    ]
    # 740 rows = 20 repetitions of 37 distinct houses; the exact count is
    # the no-loss/no-duplication invariant (XmlPartitioningSuite asserts
    # counts the same way)
    assert len(recs) == 740
    assert len(set(recs)) == 37


@pytest.mark.parametrize("target", [500, 8342])
def test_bzip2_forced_splits(target):
    splits = tokenizer.plan_splits(f"{RES}/fias_house.large.xml.bz2", "UTF-8", target)
    assert len(splits) > 1, "bz2 file should be split"
    recs = [r for s in splits for r in tokenizer.scan_split(s, "House")]
    assert len(recs) == 740
    assert len(set(recs)) == 37


def test_gzip_whole_file():
    splits = tokenizer.plan_splits(f"{RES}/fias_house.large.xml.gz", "UTF-8", 500)
    assert len(splits) == 1 and splits[0].whole_file
    recs = [r for s in splits for r in tokenizer.scan_split(s, "House")]
    assert len(recs) == 740


def test_small_fias_files():
    for suffix, tag in [(".xml", "House"), (".xml.gz", "House"), (".xml.bz2", "House")]:
        splits = tokenizer.plan_splits(f"{RES}/fias_house{suffix}", "UTF-8", 500)
        recs = [r for s in splits for r in tokenizer.scan_split(s, tag)]
        assert len(recs) == 37, suffix


def test_bz2_block_scan_exact(tmp_path):
    """The bit-level block scanner finds exactly the true block magics."""
    raw = (b"<r><a>" + b"x" * 50 + b"</a></r>\n") * 20000
    path = str(tmp_path / "t.bz2")
    with open(path, "wb") as fh:
        fh.write(_bz2.compress(raw, 1))
    size = os.path.getsize(path)
    got = bz2split.find_block_bits(path, 0, size)
    data = int.from_bytes(open(path, "rb").read(), "big")
    nbits = size * 8
    truth = [
        bit
        for bit in range(0, nbits - 48 + 1)
        if (data >> (nbits - 48 - bit)) & ((1 << 48) - 1) == bz2split.BLOCK_MAGIC
    ]
    assert got == truth and len(got) >= 2


def test_bz2_multi_block_splits(tmp_path):
    """Multi-block archive: every forced split size yields the exact record
    set (the BYBLOCK ownership invariant)."""
    rows = "".join(f"<r><a>{i}</a></r>\n" for i in range(30000))
    doc = f"<R>\n{rows}</R>\n".encode()
    path = str(tmp_path / "m.bz2")
    with open(path, "wb") as fh:
        fh.write(_bz2.compress(doc, 1))
    expected = 30000
    for target in [4096, 16384, os.path.getsize(path) + 1]:
        splits = tokenizer.plan_splits(path, "UTF-8", target)
        recs = [r for s in splits for r in tokenizer.scan_split(s, "r")]
        assert len(recs) == expected, f"target={target}"
        assert len(set(recs)) == expected


def test_bz2_through_datasource_failfast(spark, tmp_path):
    df = read_xml(
        spark,
        f"{RES}/fias_house.large.xml.bz2",
        rowTag="House",
        mode="FAILFAST",
        targetSplitSize=8342,
    )
    assert df.count() == 740


def _write_multistream(tmp_path, n_streams=4, rows_per=4000, levels=None):
    """pbzip2-style archive: independent bz2 streams concatenated."""
    import random

    chunks = []
    total = n_streams * rows_per
    for s in range(n_streams):
        rnd = random.Random(s)
        lo, hi = s * rows_per, (s + 1) * rows_per
        body = "".join(
            f"<r><a>{i}</a><b>{rnd.getrandbits(256):064x}</b></r>"
            for i in range(lo, hi)
        )
        if s == 0:
            body = "<R>" + body
        if s == n_streams - 1:
            body = body + "</R>"
        level = levels[s] if levels else 1
        chunks.append(_bz2.compress(body.encode(), level))
    path = str(tmp_path / "ms.bz2")
    with open(path, "wb") as fh:
        fh.write(b"".join(chunks))
    return path, total


def test_bz2_multistream_splits_exactly(tmp_path):
    """pbzip2-style concatenated streams ARE block-split: the chained
    reader validates interior stream footers and resumes at the next
    stream's first block, so every forced split size yields the exact
    record set — the scenario pbzip2 produces at scale."""
    path, total = _write_multistream(tmp_path, n_streams=4, rows_per=4000)
    assert bz2split.looks_multistream(path)
    for target in [4096, 16384]:
        splits = tokenizer.plan_splits(path, "UTF-8", target)
        assert len(splits) > 1, f"target={target}: should block-split"
        recs = [r for s in splits for r in tokenizer.scan_split(s, "r")]
        assert len(recs) == total, f"target={target}"
        assert len(set(recs)) == total


def test_bz2_multistream_mixed_levels(tmp_path):
    """Streams compressed at different levels chain with each stream's own
    level digit (the synthesized header must match the real block size)."""
    path, total = _write_multistream(
        tmp_path, n_streams=3, rows_per=3000, levels=[1, 9, 1]
    )
    splits = tokenizer.plan_splits(path, "UTF-8", 4096)
    assert len(splits) > 1
    recs = [r for s in splits for r in tokenizer.scan_split(s, "r")]
    assert len(recs) == total
    assert len(set(recs)) == total


def test_bz2_multistream_whole_file_still_exact(tmp_path):
    """Small multi-stream files stay whole-file and read exactly."""
    path, total = _write_multistream(tmp_path, n_streams=2, rows_per=1000)
    splits = tokenizer.plan_splits(path, "UTF-8", 10 << 20)
    assert len(splits) == 1 and splits[0].whole_file
    recs = [r for s in splits for r in tokenizer.scan_split(s, "r")]
    assert len(recs) == total


def _drain(chained):
    got = b""
    while True:
        chunk = chained.read(1 << 16)
        if not chunk:
            break
        got += chunk
    chained.close()
    return got


def test_bz2_false_start_magic_retries(tmp_path):
    """A false-positive 48-bit block magic as a candidate start must not
    silently drop the range: the chained reader's first-block holdback
    discards the failed attempt and retries from the next candidate."""
    import random

    raw = random.Random(7).randbytes(400_000)  # incompressible -> 4 blocks
    path = str(tmp_path / "f.bz2")
    with open(path, "wb") as fh:
        fh.write(_bz2.compress(raw, 1))
    size = os.path.getsize(path)
    real = bz2split.find_block_bits(path, 0, size)
    assert len(real) >= 3
    eof = bz2split.find_footer_bit(path)
    # sanity: all real candidates reproduce the file exactly
    assert _drain(bz2split.ChainedBz2Stream(path, real, eof, b"1")) == raw
    # a bogus bit inside block 1's data as the first candidate: the
    # attempt must fail without surfacing bytes, then resume at block 2
    bogus = real[0] + 1037
    assert bogus not in real and bogus < real[1]
    from_block2 = _drain(bz2split.ChainedBz2Stream(path, real[1:], eof, b"1"))
    got = _drain(
        bz2split.ChainedBz2Stream(path, [bogus] + real[1:], eof, b"1")
    )
    assert got == from_block2
    assert len(got) > 0 and raw.endswith(got)


def test_bz2_corruption_after_commit_raises(tmp_path):
    """Corrupt block data past the first committed block surfaces as an
    error instead of a silent truncation."""
    import random

    raw = random.Random(11).randbytes(1 << 20)
    comp = bytearray(_bz2.compress(raw, 1))
    assert len(comp) > 500_000
    # flip bits mid-file, inside block data (away from header/footer)
    for off in range(len(comp) // 2, len(comp) // 2 + 64):
        comp[off] ^= 0xFF
    path = str(tmp_path / "c.bz2")
    with open(path, "wb") as fh:
        fh.write(bytes(comp))
    eof = bz2split.find_footer_bit(path)
    first = bz2split.find_block_bits(path, 0, 1 << 18)
    assert first
    chained = bz2split.ChainedBz2Stream(path, first[:1], eof, b"1")
    with pytest.raises(OSError):
        while chained.read(1 << 16):
            pass
    chained.close()


def test_batch_scan_equals_generic(tmp_path):
    """The records of every split, joined, are exactly the records the
    document was built from, on synthetic shapes that exercise every
    scanner branch (attributes, comments, CDATA, self-closing rows,
    nested same-name tags); on each reference fixture present, the joined
    splits equal the whole-file scan."""
    import glob as _glob

    from spark_xml_spark.xmlcore import tokenizer as tk

    records = (
        [f"<r><a>{i}</a><b>x{i}</b></r>" for i in range(200)]
        + [
            "<r at='1'><a>q</a></r>",
            "<r><!-- <r> comment --><a>c</a></r>",
            "<r><a><![CDATA[</r>]]></a></r>",
            "<r/>",
            "<r><r><a>nested</a></r></r>",
        ]
        + [f"<r><a>{i}</a></r>" for i in range(100)]
    )
    synth = tmp_path / "synth.xml"
    synth.write_text(
        "<?xml version=\"1.0\"?>\n<rows>\n"
        + "".join(r + "\n" for r in records)
        + "</rows>\n"
    )
    for target in (400, 4096, 1 << 30):
        splits = tk.plan_splits(str(synth), target_split_size=target)
        got = [r for s in splits for r in tk.scan_split(s, "r")]
        assert got == records, target
    fixtures = [
        (f, tag)
        for pat, tag in [
            ("/root/reference/src/test/resources/cars.xml", "ROW"),
            ("/root/reference/src/test/resources/books*.xml", "book"),
            ("/root/reference/src/test/resources/fias_house.xml", "House"),
        ]
        for f in sorted(_glob.glob(pat))
    ]
    for path, tag in fixtures:
        whole = list(tk.scan_split(tk.FileSplit(path, 0, -1), tag))
        for target in (400, 4096, 1 << 30):
            splits = tk.plan_splits(path, target_split_size=target)
            got = [r for s in splits for r in tk.scan_split(s, tag)]
            assert got == whole, (path, tag, target)
            if path.endswith(("cars.xml", "fias_house.xml")):
                assert got, (path, tag)


def test_batch_scan_randomized_differential(tmp_path):
    """Randomized shapes (whitespace layouts, attributes, empty and
    self-closing elements, same-name nesting, markup, quotes in text)
    under several forced split sizes: the records of every split, joined,
    are exactly the records the document was built from."""
    import random

    from spark_xml_spark.xmlcore import tokenizer as tk

    rng = random.Random(20260813)
    parts = ["<?xml version=\"1.0\"?>", "<rows>"]
    records = []
    for i in range(400):
        shape = rng.randrange(8)
        ws = rng.choice(["", "\n", "  ", "\n    "])
        if shape == 0:
            rec = f"<r><a>{i}</a></r>"
        elif shape == 1:
            rec = f"<r><a>{i}</a><b>t{i}</b></r>"
        elif shape == 2:
            rec = f"<r k=\"{i}\"><a>{i}</a></r>"
        elif shape == 3:
            rec = "<r><a></a><b/></r>"
        elif shape == 4:
            rec = "<r/>"
        elif shape == 5:
            rec = f"<r><r><a>{i}</a></r><a>outer</a></r>"
        elif shape == 6:
            rec = f"<r><!-- </r> --><a>{i}</a></r>"
        else:
            rec = f"<r><a>it's \"{i}\"</a></r>"
        parts.append(ws + rec)
        records.append(rec)
    parts.append("</rows>")
    p = tmp_path / "rand.xml"
    p.write_text("\n".join(parts))
    for target in (256, 1777, 16384, 1 << 30):
        splits = tk.plan_splits(str(p), target_split_size=target)
        got = [r for s in splits for r in tk.scan_split(s, "r")]
        assert got == records, target


def test_pack_splits_bins_small_files(tmp_path):
    """Spark FilePartition semantics: many small files bin-pack into few
    partitions under the open-cost accounting; large byte-range splits
    stay one per partition; no split is lost or duplicated."""
    from spark_xml_spark.sources.datasource import _pack_splits

    files = []
    for i in range(100):
        p = tmp_path / f"f{i}.xml"
        p.write_text("<r><a>1</a></r>")
        files.append(str(p))
    splits = tokenizer.plan_splits(str(tmp_path), "UTF-8", 128 * 1024 * 1024)
    assert len(splits) == 100
    # open_cost 1MB, max 8MB -> ~8 files per partition
    parts = _pack_splits(splits, 8 * 1024 * 1024, 1024 * 1024)
    assert 10 <= len(parts) <= 15
    flat = [s for p in parts for s in p.splits]
    assert sorted(s[0] for s in flat) == sorted(files)
    # byte-range splits near max_split_bytes do not share partitions
    big = tokenizer.FileSplit(files[0], 0, 8 * 1024 * 1024, None, False)
    parts2 = _pack_splits([big] * 4, 8 * 1024 * 1024, 1024 * 1024)
    assert len(parts2) == 4


def test_split_target_follows_spark_max_split_bytes(tmp_path):
    """Spark's maxSplitBytes sums size + openCost per file and nothing
    more: four 0.8 MB files on four cores make a 4.8 MB target, which no
    two files (0.8 MB + 4 MB open cost + 0.8 MB) fit under together."""
    from pyspark.sql import types as T

    from spark_xml_spark.sources.datasource import XmlReader

    rec = "<r><a>" + "x" * 990 + "</a></r>"
    for i in range(4):
        (tmp_path / f"f{i}.xml").write_text("<rows>" + rec * 800 + "</rows>")
    reader = XmlReader(
        {"path": str(tmp_path), "rowTag": "r", "minPartitions": "4"},
        T.StructType(),
    )
    parts = reader.partitions()
    assert len(parts) == 4
    assert sorted(len(p.splits) for p in parts) == [1, 1, 1, 1]


def test_small_file_read_counts(spark, tmp_path):
    """End-to-end: a directory of many tiny XML files reads complete and
    with far fewer partitions than files."""
    import glob

    from spark_xml_spark.sources.api import write_xml

    df = spark.createDataFrame([(k, f"v{k}") for k in range(300)], "k bigint, v string")
    out = str(tmp_path / "many")
    write_xml(df.repartition(60), out, rowTag="row")
    n_files = len(glob.glob(out + "/*.xml"))
    assert n_files >= 50
    back = read_xml(spark, out, rowTag="row")
    assert back.count() == 300
    assert back.rdd.getNumPartitions() < n_files


def test_infer_bin_packs_small_files(spark, tmp_path):
    """Schema inference plans with the reader's own partitions: 100 small
    files infer as a few bin-packed tasks of one stage, not one task per
    file, and a direct call (no read_xml) plans the same splits."""
    from spark_xml_spark.sources.api import infer_xml_schema

    for i in range(100):
        (tmp_path / f"f{i:03d}.xml").write_text(
            f"<rows><row><k>{i}</k><v>x{i}</v></row></rows>"
        )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("infer-bin-pack", "infer over 100 small files")
    try:
        schema = infer_xml_schema(spark, str(tmp_path), rowTag="row")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("k", "bigint"), ("v", "string")
    ]
    stages = [
        tracker.getStageInfo(st)
        for job in tracker.getJobIdsForGroup("infer-bin-pack")
        for st in tracker.getJobInfo(job).stageIds
    ]
    assert len(stages) == 1
    assert 1 <= stages[0].numTasks <= sc.defaultParallelism


# --- UTF-16/32 split-parallel scan (reference InputStreamReader-per-split
# shape, XmlInputFormat.scala:76-122) -- replaces the whole-file degrade ----

import os
import tempfile

import pytest

from spark_xml_spark.xmlcore import tokenizer as _tok


def _unit_roundtrip(charset, n=400, target=256, extra=""):
    recs = [f"<r><a>{i}</a><b>v{i}{extra}</b></r>" for i in range(n)]
    doc = "<root>\n" + "\n".join(recs) + "\n</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "wb") as fh:
        fh.write(doc.encode(charset))
    splits = _tok.plan_splits(p, charset, target)
    got = []
    for s in splits:
        got.extend(_tok.scan_split(s, "r", charset))
    return splits, recs, got


@pytest.mark.parametrize(
    "charset",
    ["utf-16", "utf-16le", "utf-16be", "utf-32", "utf-32le", "utf-32be"],
)
def test_utf16_32_split_parallel_exact(charset):
    """Forced-small splits over a UTF-16/32 fixture: many byte-range
    splits (NOT one whole-file partition), exact record counts and
    byte-identical record text -- no loss, no duplication at any
    boundary (VERDICT r6 gap 2)."""
    splits, recs, got = _unit_roundtrip(charset)
    assert len(splits) > 10  # genuinely split-parallel
    assert got == recs


def test_utf16_astral_straddling_boundaries():
    """Surrogate pairs (astral chars) straddling split boundaries decode
    correctly: the incremental decoder holds the high surrogate across
    the boundary; record text is exact."""
    _, recs, got = _unit_roundtrip("utf-16", n=300, target=64,
                                   extra="\U0001F600\U0001F601")
    assert got == recs
    _, recs32, got32 = _unit_roundtrip("utf-32", n=300, target=128,
                                       extra="\U0001F600")
    assert got32 == recs32


def test_utf16_unaligned_split_targets():
    """Odd (non-unit-multiple) split targets still produce unit-aligned
    consistent ownership: exact counts."""
    for cs, tgt in (("utf-16", 333), ("utf-32", 777)):
        _, recs, got = _unit_roundtrip(cs, n=400, target=tgt)
        assert got == recs, cs


@pytest.mark.parametrize("charset", ["cp037", "cp500", "cp1026", "cp424"])
def test_ebcdic_single_byte_split_parallel_exact(charset):
    """EBCDIC-family charsets (stateless single-byte codecs, NOT
    ASCII-compatible — '<' is 0x4C in cp037) split in parallel through
    the same per-split incremental-transcode scanner as UTF-16/32: many
    byte-range splits, exact record counts, byte-identical record text
    at every boundary. Closes the last reference charset-parity delta
    (InputStreamReader decodes any charset per split,
    XmlInputFormat.scala:76-122)."""
    assert _tok.unit_width(charset) == 1
    splits, recs, got = _unit_roundtrip(charset)
    assert len(splits) > 10  # genuinely split-parallel, not whole-file
    assert got == recs


@pytest.mark.parametrize(
    "charset,extra",
    [
        ("shift_jis", "テスト日本語"),
        ("cp932", "日本語ソ能表"),  # bytes whose trails hit ASCII letters
        ("big5", "測試中文字"),
        ("euc_jp", "日本語えほん"),
        ("euc_kr", "한국어시험"),
        ("gbk", "测试中文字"),
        ("gb18030", "测试𠀋中文"),  # 4-byte GB18030 form included
    ],
)
def test_multibyte_cjk_split_parallel_exact(charset, extra):
    """Multi-byte CJK charsets split in parallel through the '<'-aligned
    per-split transcode (lt_safe_multibyte probe: 0x3C never occurs
    inside a multi-byte sequence, so every '<' byte is a character
    boundary a fresh decoder may start at): many byte-range splits,
    exact record counts, character-identical record text at every
    boundary — mirroring the cp037/UTF-16 cases and closing the last
    charset-parity delta vs the reference's per-split
    InputStreamReader decode (XmlInputFormat.scala:76-122)."""
    assert _tok.lt_safe_multibyte(charset)
    splits, recs, got = _unit_roundtrip(charset, n=300, target=256,
                                        extra=extra)
    assert len(splits) > 10  # genuinely split-parallel, not whole-file
    assert got == recs


def test_multibyte_cjk_non_ascii_rowtag_and_boundary_chars():
    """Non-ASCII rowTag (encoded in the charset on disk, matched in
    transcoded UTF-8 space) and multi-byte chars straddling every split
    boundary (tiny target) stay exact."""
    recs = [f"<データ><a>漢字{i}</a></データ>" for i in range(200)]
    doc = "<root>" + "".join(recs) + "</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "wb") as fh:
        fh.write(doc.encode("shift_jis"))
    splits = _tok.plan_splits(p, "shift_jis", 64)
    assert len(splits) > 20
    got = []
    for s in splits:
        got.extend(_tok.scan_split(s, "データ", "shift_jis"))
    assert got == recs


def test_multibyte_cjk_gzip_whole_file_decode():
    """Compressed CJK: gzip forces one whole-file split; the lt-aligned
    scanner's owned=-1 path must decode the decompressed Shift-JIS
    stream exactly."""
    import gzip

    recs = [f"<r><a>日本語{i}</a></r>" for i in range(40)]
    doc = "<root>" + "".join(recs) + "</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml.gz")
    with gzip.open(p, "wb") as fh:
        fh.write(doc.encode("shift_jis"))
    splits = _tok.plan_splits(p, "shift_jis", 64)
    assert len(splits) == 1 and splits[0].whole_file
    got = list(_tok.scan_split(splits[0], "r", "shift_jis"))
    assert got == recs


def test_stateful_codecs_stay_whole_file():
    """Codecs where a raw 0x3C byte is AMBIGUOUS (ISO-2022's shifted
    2-byte codes include 0x3C; HZ likewise) must fail the probe and
    degrade to whole-file splits (correctness over parallelism) — and
    the whole-file decode must still be exact."""
    for cs in ("iso2022-jp", "hz", "utf-7", "utf_7"):
        assert _tok.lt_safe_multibyte(cs) is False, cs
        assert _tok.unit_width(cs) is None, cs
    recs_j = [f"<r><a>日本語{i}</a></r>" for i in range(50)]
    doc = "<root>" + "".join(recs_j) + "</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "wb") as fh:
        fh.write(doc.encode("iso2022_jp"))
    splits = _tok.plan_splits(p, "iso2022_jp", 64)
    assert len(splits) == 1 and splits[0].whole_file
    got = list(_tok.scan_split(splits[0], "r", "iso2022_jp"))
    assert got == recs_j


def test_utf7_set_o_encoding_stays_whole_file_and_exact():
    """UTF-7 regression: RFC 2152 makes the direct form of '<' OPTIONAL
    — a conformant producer (e.g. .NET UTF7Encoding) writes '<' as
    '+ADw-', leaving ZERO 0x3C bytes in the file, so '<'-aligned
    byte-range splits would lose every record whose split head has no
    raw '<'. The probe must reject UTF-7 BY NAME (it passes every byte
    sweep); the whole-file path must decode the set-O form exactly."""
    recs = [f"<r><a>{i}</a></r>" for i in range(50)]
    doc = "<root>" + "".join(recs) + "</root>"
    # encode with NO direct set-O characters: '<' -> +ADw-, '>' -> +AD4-
    enc = doc.replace("<", "+ADw-").replace(">", "+AD4-").encode("ascii")
    assert b"<" not in enc  # the file genuinely has no 0x3C byte
    assert enc.decode("utf-7") == doc  # and is valid UTF-7
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "wb") as fh:
        fh.write(enc)
    splits = _tok.plan_splits(p, "utf-7", 64)
    assert len(splits) == 1 and splits[0].whole_file
    got = list(_tok.scan_split(splits[0], "r", "utf-7"))
    assert got == recs


def test_single_byte_probe_rejects_multibyte_codecs():
    """unit_width (the stateless SINGLE-BYTE probe) must keep rejecting
    multi-byte codecs — they are served by the lt-aligned path, not the
    unit-width path."""
    for cs in ("shift-jis", "iso2022-jp", "big5", "gb2312", "utf-7"):
        assert _tok.unit_width(cs) is None, cs
    # and the probe result is consistent: a cp037 doc scanned whole-file
    # vs split-parallel yields identical records
    recs = [f"<r><a>{i}</a></r>" for i in range(50)]
    doc = "<root>" + "".join(recs) + "</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml")
    with open(p, "wb") as fh:
        fh.write(doc.encode("cp037"))
    whole = list(_tok.scan_split(
        _tok.FileSplit(p, 0, -1, None, whole_file=True), "r", "cp037"
    ))
    split_par = []
    for s in _tok.plan_splits(p, "cp037", 64):
        split_par.extend(_tok.scan_split(s, "r", "cp037"))
    assert whole == split_par == recs


def test_ebcdic_gzip_whole_file_decode():
    """Compressed EBCDIC: gzip forces a whole-file split; the transcode
    scanner must decode the decompressed cp037 stream exactly (the
    compression branch of _scan_unit_width_range with owned=-1)."""
    import gzip

    recs = [f"<r><a>{i}</a></r>" for i in range(40)]
    doc = "<root>" + "".join(recs) + "</root>"
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.xml.gz")
    with gzip.open(p, "wb") as fh:
        fh.write(doc.encode("cp037"))
    splits = _tok.plan_splits(p, "cp037", 64)
    assert len(splits) == 1 and splits[0].whole_file
    got = []
    for s in splits:
        got.extend(_tok.scan_split(s, "r", "cp037"))
    assert got == recs
