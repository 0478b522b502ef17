"""One timestamp convention on every path, whatever the process-local zone.

Parsed timestamps are UTC-aware instants, and a naive value handed to the
writer or ``to_xml`` is process-local time, as in PySpark. A Spark job in
a process whose zone is not UTC must then read and write the same instant
through the batch reader, the streaming reader, ``from_xml``, ``to_xml``
and ``write_xml``.
"""

import json
import os
import subprocess
import sys
import textwrap

_TZ_SCRIPT = textwrap.dedent(
    """
    import glob, json, os, sys

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from spark_xml_spark.functions import from_xml, to_xml
    from spark_xml_spark.sources import read_xml, register, write_xml

    work = sys.argv[1]
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    schema = "id long, ts timestamp"
    record = "<r><id>1</id><ts>2020-01-01T00:00:00Z</ts></r>"
    src = os.path.join(work, "src")
    os.makedirs(src)
    with open(os.path.join(src, "a.xml"), "w") as fh:
        fh.write("<rows>" + record + "</rows>")

    def epoch(df):
        return df.select(F.col("ts").cast("long")).first()[0]

    got = {}
    got["read_xml"] = epoch(read_xml(spark, src, schema=schema, rowTag="r"))

    q = (
        spark.readStream.format("xml-graft").schema(schema)
        .option("rowTag", "r").option("path", src).load()
        .writeStream.format("memory").queryName("tz_stream")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got["readStream"] = epoch(spark.table("tz_stream"))

    strings = spark.createDataFrame([(record,)], "x string")
    got["from_xml"] = epoch(strings.select(from_xml("x", schema).alias("s")).select("s.*"))

    frame = spark.sql("SELECT 1L AS id, timestamp'2020-01-01 00:00:00' AS ts")
    got["to_xml"] = frame.select(
        to_xml(F.struct("id", "ts"), schema, {"rowTag": "r"})
    ).first()[0]

    out = os.path.join(work, "out")
    write_xml(frame.coalesce(1), out, rowTag="r")
    text = "".join(open(p).read() for p in glob.glob(os.path.join(out, "part-*")))
    got["write_xml"] = text
    spark.stop()
    print(json.dumps(got))
    """
)


def test_one_instant_on_every_path_outside_utc(tmp_path):
    # a subprocess: the zone must be set before Spark and its workers start
    script = tmp_path / "probe.py"
    script.write_text(_TZ_SCRIPT)
    work = tmp_path / "work"
    work.mkdir()
    import spark_xml_spark

    root = os.path.dirname(spark_xml_spark.__path__[0])
    out = subprocess.run(
        [sys.executable, str(script), str(work)],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "PYTHONPATH": root, "TZ": "America/New_York"},
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    instant = 1577836800  # 2020-01-01T00:00:00Z
    text = "<ts>2020-01-01T00:00:00Z</ts>"
    wrong = {
        k: v
        for k, v in got.items()
        if (text not in v if k in ("to_xml", "write_xml") else v != instant)
    }
    assert sorted(got) == [
        "from_xml", "readStream", "read_xml", "to_xml", "write_xml"
    ]
    assert not wrong, wrong
