import os
import time

import pytest

# Tier-1 compares collect() output (naive datetimes in the process-local
# zone) with UTC wall times: pin the test process, and the Spark JVM and
# Python workers it starts, to UTC whatever the host's zone.
os.environ["TZ"] = "UTC"
time.tzset()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("spark_xml_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def reader_batches():
    """Read records through the data source's reader in-process (no Spark
    session): the records are written as one document under a ``<root>``
    tag, then every planned partition is read. Returns the Arrow batches."""
    import os
    import tempfile

    from spark_xml_spark.sources.datasource import XmlReader

    def run(records, schema, **options):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "t.xml")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write("<root>" + "".join(records) + "</root>")
            reader = XmlReader({"path": path, **options}, schema)
            return [b for part in reader.partitions() for b in reader.read(part)]

    return run
