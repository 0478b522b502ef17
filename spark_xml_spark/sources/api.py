"""User-facing read/write API: ``read_xml`` / ``write_xml`` / ``register``.

The Python analogue of the reference's reader/writer surface
(/root/reference/src/main/scala/com/databricks/spark/xml/XmlReader.scala:27-204,
package.scala:26-115): ``spark.read.format("xml-graft")`` via registration,
plus convenience functions that add the piece the plain data source can't do
idiomatically — *distributed* schema inference as a Spark job before the
scan (the reference's two-pass inferred read, XmlRelation.scala:39-49 +
InferSchema.scala:67-101).

Both plan on the driver and run one ``mapInArrow`` job over the data
source's own partitions (``_planned_scan``), so they start no planner
worker and need no ``register``. Spark applies every filter after the
scan, as it does for the reference (a ``PrunedScan``).

Distributed-inference shape (100 TB-safe): one narrow stage with one task
per reader partition (the same splits, bin-packing and partition-value
groups the scan plans), each inferring a partial schema over its own
records and emitting a single schema JSON; the driver folds the tiny JSONs
with the compatible-type lattice. Data never moves; only schemas do (the
treeReduce-style partial+final aggregation noted in SURVEY.md §2 S5).
"""

from __future__ import annotations

import random
import weakref
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import CaseInsensitiveDict

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.sources import partitions as pmod
from spark_xml_spark.sources.datasource import FORMAT_NAME, XmlDataSource, XmlReader
from spark_xml_spark.xmlcore import infer, tokenizer

# keyed on the live session, not id(): a new session may get a dead one's id
_REGISTERED_SESSIONS = weakref.WeakSet()


def register(spark: SparkSession) -> None:
    """Idempotently register the data source for this session: what
    ``spark.read.format("xml-graft")``, ``USING xml-graft`` tables and
    streams need. ``read_xml`` and ``infer_xml_schema`` do not."""
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
    defaultParallelism, the core count of the dynamic maxSplitBytes
    computation (Spark's bytesPerCore term). ``read_xml`` and
    ``infer_xml_schema`` plan their splits here on the driver, but
    ``XmlReader`` takes the count from its options only: it also plans
    ``spark.read.format`` reads in Spark's Python planner worker, where no
    SparkSession is reachable and the fallback, os.cpu_count() of the
    planner host, can undercount a cluster."""
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


def _planned_scan(
    spark: SparkSession, reader: XmlReader, per_partition, schema
) -> DataFrame:
    """Plan ``reader``'s partitions on the driver and run
    ``per_partition(reader, partition)`` over each in one
    ``spark.range(n, numPartitions=n).mapInArrow`` job; task ``i`` reads
    partition ``i``. The reader and its plan ride one broadcast, fetched
    once per worker process, so a task's command does not grow with the
    plan. No ``create_data_source`` or ``plan_data_source_read`` worker
    runs: the job's tasks are the only Python it starts."""
    parts = reader.partitions()
    plan = spark.sparkContext.broadcast((reader, parts))

    def xml_graft_scan(batches):
        reader, parts = plan.value
        for batch in batches:
            for pid in batch.column(0).to_pylist():
                yield from per_partition(reader, parts[pid])

    n = len(parts)
    ids = spark.range(n, numPartitions=max(n, 1))._jdf
    # the ids' rows as an RDD-backed relation, which reports no size, as
    # the data source's scan reports none: Range's 8 bytes per id would make
    # every XML read look small enough for Spark to broadcast into a join
    ids = spark._jsparkSession.internalCreateDataFrame(
        ids.queryExecution().toRdd(), ids.schema(), False
    )
    return DataFrame(ids, spark).mapInArrow(xml_graft_scan, schema)


def _partial_schema(reader: XmlReader, partition) -> Iterator:
    """One inference task: the partial schema JSON of the partition's
    records, Bernoulli-sampled by ``samplingRatio`` with seed 1."""
    import pyarrow as pa

    xo = XmlOptions.from_dict(reader._opts_dict)
    records = (
        r
        for s in partition.splits
        for r in tokenizer.scan_split(tokenizer.FileSplit(*s), xo.row_tag, xo.charset)
    )
    if xo.sampling_ratio < 1.0:
        rng = random.Random(1)
        records = (r for r in records if rng.random() < xo.sampling_ratio)
    yield pa.RecordBatch.from_pydict(
        {"schema_json": [infer.partial_schema_json(records, xo)]}
    )


def _source_options(options: dict, path) -> CaseInsensitiveDict:
    """The options as the data source receives them from
    ``spark.read.format(...).load(path)``: string values, keys lower-cased."""
    return CaseInsensitiveDict(_stringify(options), path=path)


def infer_xml_schema(
    spark: SparkSession, path, **options
) -> T.StructType:
    """Distributed schema inference: per-partition partial schemas merged
    on the driver. Respects ``samplingRatio`` (Bernoulli per record, seed 1
    per task — the reference's sample semantics, InferSchema.scala:68-72).

    Inference reads exactly the tasks the scan will: ``_planned_scan``
    plans with the reader's own ``XmlReader.partitions()``."""
    options = _inject_session_timezone(spark, options)
    options = _inject_parallelism(spark, options)
    xopts = XmlOptions.from_dict(options)
    reader = XmlReader(_source_options(options, path), T.StructType())
    jsons = [
        r.schema_json
        for r in _planned_scan(
            spark, reader, _partial_schema, "schema_json string"
        ).collect()
    ]
    schema = infer.merge_schema_jsons(jsons, xopts)
    if not schema.fields:
        raise ValueError(
            f"no XML rows with rowTag '{xopts.row_tag}' found in {path}"
        )
    # Hive-style layouts: the partitions cover the DISCOVERED (possibly
    # nested) files; append the typed partition columns after inference —
    # the read schema a partition-aware scan produces
    return pmod.append_partition_fields(schema, reader._pcols)


def read_xml(
    spark: SparkSession,
    path,
    schema=None,
    columns: Optional[list] = None,
    **options,
) -> DataFrame:
    """Read XML files into a DataFrame.

    ``read_xml(spark, "books.xml", rowTag="book")`` — the equivalent of the
    reference's ``spark.read.format("xml").option("rowTag","book").load(...)``
    (README.md:34-101 option surface). Schema priority: explicit arg (a
    ``StructType`` or a DDL string) > ``inferSchema=false`` (all strings,
    the data source's own sampled field discovery) > distributed inference
    job.

    ``columns`` prunes the scan to the named top-level fields: the parser
    skips unrequested subtrees without allocating (the reference's
    PrunedScan path, XmlRelation.scala:51-58). Spark 4.1's Python Data
    Source API does not push projection pruning down to readers, so this is
    the explicit equivalent.

    The scan is planned here on the driver, as the reference plans its
    scan in the JVM driver (XmlRelation.buildScan), and runs as one
    ``mapInArrow`` job (``_planned_scan``). Filters run in Spark after the
    scan, as the reference's PrunedScan leaves them.
    """
    given = options
    options = _inject_session_timezone(spark, options)
    options = _inject_parallelism(spark, options)
    xopts = XmlOptions.from_dict(options)
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if schema is None and xopts.infer_schema:
        schema = infer_xml_schema(spark, path, **options)
    elif schema is None:
        # the options as given: the zone and split count do not shape an
        # all-string schema, and the schema's metadata then matches what
        # format("xml-graft") infers
        schema = XmlDataSource(_source_options(given, path)).schema()
    if columns is not None:
        wanted = set(columns)
        missing = wanted - {f.name for f in schema.fields}
        if missing:
            raise ValueError(f"columns not in schema: {sorted(missing)}")
        schema = T.StructType([f for f in schema.fields if f.name in wanted])
    reader = XmlReader(_source_options(options, path), schema)
    return _planned_scan(spark, reader, XmlReader.read, schema)


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
