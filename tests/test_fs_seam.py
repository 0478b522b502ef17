"""Filesystem seam (xmlcore.fs): remote-scheme URIs through pyarrow.fs,
file:// URIs through the local fast path, and streaming replay
determinism against the size recorded in the committed offset."""

import os

import pytest
from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.xmlcore import fs, tokenizer
from spark_xml_spark.xmlcore.parser import parse_records

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


@pytest.fixture()
def mockfs(tmp_path):
    """A 'remote' filesystem: pyarrow SubTreeFileSystem rooted at a tmp dir,
    registered under the mockfs:// scheme. Everything flowing through it
    uses the same pyarrow FileSystem interface an S3/GCS/HDFS URI would."""
    from pyarrow import fs as pafs

    root = tmp_path / "remote-root"
    root.mkdir()
    sub = pafs.SubTreeFileSystem(str(root), pafs.LocalFileSystem())
    fs.register_filesystem("mockfs", sub)
    yield root
    fs._REGISTERED.pop("mockfs", None)


def test_remote_write_read_roundtrip(mockfs):
    """Full writer -> split planner -> scanner -> parser chain over
    mockfs:// URIs, via the actual DataSource reader/writer classes."""
    from spark_xml_spark.sources.datasource import (
        XmlReader,
        XmlWriter,
    )

    rows = [(i, f"name-{i}") for i in range(500)]
    writer = XmlWriter(
        {"path": "mockfs://data/xml", "rowTag": "r"}, SCHEMA, overwrite=True
    )
    msg = writer.write(iter(rows))
    assert msg.count == 500
    # the bytes physically landed under the subtree root
    assert any(f.endswith(".xml") for f in os.listdir(mockfs / "data" / "xml"))

    reader = XmlReader({"path": "mockfs://data/xml", "rowTag": "r"}, SCHEMA)
    parts = reader.partitions()
    assert parts, "split planning over the remote listing"
    got = []
    for p in parts:
        for out in reader.read(p):
            if hasattr(out, "to_pylist"):  # arrow batch
                got.extend((d["k"], d["v"]) for d in out.to_pylist())
            else:
                got.append(tuple(out))
    assert sorted(got) == rows


def test_remote_byte_range_splits(mockfs):
    """Forced multi-split remote scan: ranged reads, no loss/dup."""
    xml_dir = mockfs / "big"
    xml_dir.mkdir()
    recs = "".join(f"<r><k>{i}</k><v>x{i}</v></r>\n" for i in range(2000))
    (xml_dir / "a.xml").write_text(f"<rows>\n{recs}</rows>\n")
    splits = tokenizer.plan_splits("mockfs://big", target_split_size=8 * 1024)
    assert len(splits) > 3, "byte-range splits over the remote file"
    opts = XmlOptions.from_dict({"rowTag": "r"})
    got = []
    for s in splits:
        got.extend(
            r[0] for r in parse_records(
                tokenizer.scan_split(s, "r"), SCHEMA, opts
            )
        )
    assert sorted(got) == list(range(2000))


def test_file_uri_through_local_path(tmp_path):
    (tmp_path / "f.xml").write_text("<rows><r><k>1</k><v>a</v></r></rows>")
    paths = tokenizer.expand_paths(f"file://{tmp_path}")
    assert paths == [str(tmp_path / "f.xml")]


def test_stream_replay_clamps_to_offset_size(tmp_path):
    """A file that grows between latestOffset and read yields exactly the
    rows present at snapshot time; a rewritten-smaller file is skipped."""
    from spark_xml_spark.streaming.source import XmlStreamReader

    d = tmp_path / "stream"
    d.mkdir()
    f = d / "a.xml"
    body1 = "<rows>" + "".join(
        f"<r><k>{i}</k><v>v{i}</v></r>" for i in range(50)
    ) + "</rows>"
    f.write_text(body1)

    reader = XmlStreamReader({"path": str(d), "rowTag": "r"}, SCHEMA)
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end["files"][str(f)] == len(body1)

    # file grows (appended records + new closing tag past the snapshot)
    f.write_text(
        body1[: -len("</rows>")]
        + "".join(f"<r><k>{i}</k><v>v{i}</v></r>" for i in range(50, 80))
        + "</rows>"
    )
    parts = reader.partitions(start, end)
    got = sorted(
        row["k"]
        for p in parts
        for batch in reader.read(p)
        for row in batch.to_pylist()
    )
    # the record count at snapshot time: every <r> fully inside body1
    assert got == list(range(50))

    # rewritten smaller -> not replayable -> skipped
    f.write_text("<rows><r><k>999</k><v>z</v></r></rows>")
    parts = reader.partitions(start, end)
    got = [
        row
        for p in parts
        for batch in reader.read(p)
        for row in batch.to_pylist()
    ]
    assert got == []
