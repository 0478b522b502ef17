"""User-facing read/write API: ``read_xml`` / ``write_xml`` / ``register``.

The Python analogue of the reference's reader/writer surface
(/root/reference/src/main/scala/com/databricks/spark/xml/XmlReader.scala:27-204,
package.scala:26-115): ``spark.read.format("xml-graft")`` via registration,
plus convenience functions that add the piece the plain data source can't do
idiomatically — *distributed* schema inference as a Spark job before the
scan (the reference's two-pass inferred read, XmlRelation.scala:39-49 +
InferSchema.scala:67-101).

Distributed-inference shape (100 TB-safe): one narrow stage with one task
per reader partition (the same splits, bin-packing and partition-value
groups the scan plans), each inferring a partial schema over its own
records and emitting a single schema JSON; the driver folds the tiny JSONs
with the compatible-type lattice. Data never moves; only schemas do (the
treeReduce-style partial+final aggregation noted in SURVEY.md §2 S5).
"""

from __future__ import annotations

import weakref
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.sources import partitions as pmod
from spark_xml_spark.sources.datasource import FORMAT_NAME, XmlDataSource, XmlReader
from spark_xml_spark.xmlcore import infer, tokenizer

# keyed on the live session, not id(): a new session may get a dead one's id
_REGISTERED_SESSIONS = weakref.WeakSet()


def register(spark: SparkSession) -> None:
    """Idempotently register the data source for this session."""
    if spark not in _REGISTERED_SESSIONS:
        spark.dataSource.register(XmlDataSource)
        _REGISTERED_SESSIONS.add(spark)


def _inject_session_timezone(spark: SparkSession, options: dict) -> dict:
    """Default the ``timezone`` option to ``spark.sql.session.timeZone`` —
    the reference injects the session zone at relation creation
    (DefaultSource.scala:70-74), so zone-less timestamp strings are read as
    session-local instants. Explicit user ``timezone`` wins. Instant-shaped
    strings (trailing 'Z'/offset, what the writer emits) are unaffected.
    The raw ``spark.read.format(...)`` path cannot see the session conf
    from its worker process; pass ``timezone`` explicitly there."""
    if any(k.lower() == "timezone" for k in options):
        return options
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        return options
    out = dict(options)
    if tz:
        out["timezone"] = tz
    return out


def _inject_parallelism(spark: SparkSession, options: dict) -> dict:
    """Default the ``minPartitions`` option to the session's
    defaultParallelism. Split planning runs in Spark's Python planner
    worker process, where no SparkSession is reachable, so the dynamic
    maxSplitBytes computation (Spark's bytesPerCore term) needs the core
    count delivered as an option; without it the planner falls back to
    os.cpu_count() of the planner host, which can undercount a cluster."""
    keys = {k.lower() for k in options}
    if "minpartitions" in keys or "targetsplitsize" in keys or "maxpartitionbytes" in keys:
        return options
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:
        return options
    out = dict(options)
    out["minPartitions"] = str(par)
    return out


def _inject_filter_pushdown(spark: SparkSession, options: dict) -> dict:
    """Filter pushdown is strictly OPT-IN per read (reader option
    ``filterPushdown=true``) and is never defaulted from the session conf:
    Spark 4.1 caches the Python read plan per relation, so the FIRST
    query's pushed predicates would be replayed by every later query on a
    reused DataFrame/view (verified: a filtered count followed by an
    unfiltered count on the same df returns the filtered number). Safe
    usage is one read per filtered pipeline. When the option is set, this
    enables the required session conf so the read doesn't fail."""
    if not any(
        k.lower() == "filterpushdown" and str(v).lower() == "true"
        for k, v in options.items()
    ):
        return options
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    return options


def infer_xml_schema(
    spark: SparkSession, path, **options
) -> T.StructType:
    """Distributed schema inference: per-partition partial schemas merged
    on the driver. Respects ``samplingRatio`` (Bernoulli per record, seed 1
    per task — the reference's sample semantics, InferSchema.scala:68-72).

    The driver plans with the reader's own ``XmlReader.partitions()``, so
    inference reads exactly the tasks the scan will; each task of
    ``spark.range(n, numPartitions=n)`` looks its partition up by id."""
    options = _inject_session_timezone(spark, options)
    options = _inject_parallelism(spark, options)
    xopts = XmlOptions.from_dict(options)
    reader = XmlReader(dict(options, path=path), T.StructType())
    parts = reader.partitions()
    # Hive-style layouts: the partitions cover the DISCOVERED (possibly
    # nested) files; append the typed partition columns after inference —
    # the read schema a partition-aware scan produces
    pcols = reader._pcols
    opts_dict = dict(options)

    def infer_partitions(batches):
        import random as _random

        import pyarrow as pa

        xo = XmlOptions.from_dict(opts_dict)
        for batch in batches:
            for pid in batch.column(0).to_pylist():
                records = (
                    r
                    for s in parts[pid].splits
                    for r in tokenizer.scan_split(
                        tokenizer.FileSplit(*s), xo.row_tag, xo.charset
                    )
                )
                if xo.sampling_ratio < 1.0:
                    rng = _random.Random(1)
                    records = (
                        r for r in records if rng.random() < xo.sampling_ratio
                    )
                yield pa.RecordBatch.from_pydict(
                    {"schema_json": [infer.partial_schema_json(records, xo)]}
                )

    jsons = [
        r.schema_json
        for r in spark.range(len(parts), numPartitions=max(len(parts), 1))
        .mapInArrow(infer_partitions, "schema_json string")
        .collect()
    ]
    schema = infer.merge_schema_jsons(jsons, xopts)
    if not schema.fields:
        raise ValueError(
            f"no XML rows with rowTag '{xopts.row_tag}' found in {path}"
        )
    return pmod.append_partition_fields(schema, pcols)


def read_xml(
    spark: SparkSession,
    path,
    schema: Optional[T.StructType] = None,
    columns: Optional[list] = None,
    **options,
) -> DataFrame:
    """Read XML files into a DataFrame.

    ``read_xml(spark, "books.xml", rowTag="book")`` — the equivalent of the
    reference's ``spark.read.format("xml").option("rowTag","book").load(...)``
    (README.md:34-101 option surface). Schema priority: explicit arg >
    ``inferSchema=false`` (all strings) > distributed inference job.

    ``columns`` prunes the scan to the named top-level fields: the parser
    skips unrequested subtrees without allocating (the reference's
    PrunedScan path, XmlRelation.scala:51-58). Spark 4.1's Python Data
    Source API does not push projection pruning down to readers, so this is
    the explicit equivalent.
    """
    register(spark)
    options = _inject_session_timezone(spark, options)
    options = _inject_filter_pushdown(spark, options)
    options = _inject_parallelism(spark, options)
    xopts = XmlOptions.from_dict(options)
    if schema is None and xopts.infer_schema:
        schema = infer_xml_schema(spark, path, **options)
    if columns is not None and schema is not None:
        wanted = set(columns)
        missing = wanted - {f.name for f in schema.fields}
        if missing:
            raise ValueError(f"columns not in schema: {sorted(missing)}")
        schema = T.StructType([f for f in schema.fields if f.name in wanted])
    reader = spark.read.format(FORMAT_NAME).options(**_stringify(options))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path if isinstance(path, str) else ",".join(path))


def write_xml(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by=None, **options) -> None:
    """Write a DataFrame as XML documents (one per partition).

    SaveMode semantics follow the reference (DefaultSource.scala:83-106):
    append is unsupported.

    ``partition_by`` writes a Hive-style layout (``col=value/`` dirs,
    partition columns omitted from the XML content — the partitioned
    read re-derives them from the directory names). Rows are
    repartitioned AND sorted on the partition columns first, so each
    (task, value) group streams into one file with O(1) writer memory;
    Spark's own ``DataFrameWriter.partitionBy`` does not reach Python
    data sources, hence the explicit parameter."""
    if mode.lower() == "append":
        raise ValueError("Append mode is not supported by the xml data source")
    register(df.sparkSession)
    options = _inject_session_timezone(df.sparkSession, options)
    if partition_by:
        cols = ([partition_by] if isinstance(partition_by, str)
                else list(partition_by))
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"partition_by column(s) {missing} not in DataFrame")
        df = df.repartition(*cols).sortWithinPartitions(*cols)
        options = dict(options, partitionBy=",".join(cols))
    (
        df.write.format(FORMAT_NAME)
        .mode(mode)
        .options(**_stringify(options))
        .save(path)
    )


def _stringify(options: dict) -> dict:
    return {
        k: (str(v).lower() if isinstance(v, bool) else str(v))
        for k, v in options.items()
        if v is not None
    }
