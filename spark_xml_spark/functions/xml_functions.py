"""Column-level XML functions: ``from_xml``, ``to_xml``, ``schema_of_xml``,
``from_xml_string``.

The Python-native analogue of the reference's expression surface
(/root/reference/src/main/scala/com/databricks/spark/xml/functions.scala:35-38,
XmlDataToCatalyst.scala:28-63, package.scala:124-157). The reference's
``XmlDataToCatalyst`` is a CodegenFallback expression (interpreted per row);
our equivalent is an Arrow-batched Python UDF — same semantics, batched
transfer instead of py4j round trips (README.md:146-172 shows what reference
users had to do from Python).

Semantics kept bit-for-bit:
- PERMISSIVE silently downgrades to DROPMALFORMED (null result) when the
  schema lacks the corrupt-record column (StaxXmlParser.scala:54-66)
- array<string> input parses each element to the array element schema
  (XmlDataToCatalyst.scala:48-52)
- null input -> null output (null-safe eval)
"""

from __future__ import annotations

from typing import Iterable, Optional, Union

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.xmlcore import generator, infer, parser


def _as_schema(schema: Union[str, T.DataType]) -> T.DataType:
    if isinstance(schema, str):
        parsed = T._parse_datatype_string(schema)
        return parsed
    return schema


def from_xml(
    col: Union[str, Column],
    schema: Union[str, T.StructType, T.ArrayType],
    options: Optional[dict] = None,
) -> Column:
    """Parse a string column of XML fragments into a struct column
    (or array<string> -> array<struct>)."""
    dt = _as_schema(schema)
    opts_dict = dict(options or {})

    # Options and mode resolution are computed ONCE here on the driver and
    # captured by value in the closure — never per row (the reference builds
    # XmlOptions once per expression too, XmlDataToCatalyst.scala:28-36).
    xo = XmlOptions.from_dict(opts_dict)

    if isinstance(dt, T.ArrayType):
        elem = dt.elementType
        if not isinstance(elem, T.StructType):
            raise TypeError("array schema for from_xml must be array<struct<...>>")
        mode = parser.effective_mode_for_column(elem, xo)
        fast_arr = parser.FastFlatParser.try_build(elem, xo)

        @F.udf(returnType=dt, useArrow=True)
        def parse_array(values):
            if values is None:
                return None
            return [
                None
                if v is None
                else parser.parse_record(v, elem, xo, mode=mode, fast=fast_arr)
                for v in values
            ]

        return parse_array(col)

    if not isinstance(dt, T.StructType):
        raise TypeError("schema for from_xml must be struct or array<struct>")
    mode = parser.effective_mode_for_column(dt, xo)
    fast = parser.FastFlatParser.try_build(dt, xo)

    @F.udf(returnType=dt, useArrow=True)
    def parse_one(value):
        if value is None:
            return None
        return parser.parse_record(value, dt, xo, mode=mode, fast=fast)

    return parse_one(col)


def _tuple_to_row(value, dt: T.DataType):
    """Recursively convert parse_record's plain tuples into pyspark Rows so
    callers get named-field access (the reference returns a Row,
    package.scala:154-157)."""
    if value is None:
        return None
    if isinstance(dt, T.StructType):
        return Row(**{
            f.name: _tuple_to_row(v, f.dataType)
            for f, v in zip(dt.fields, value)
        })
    if isinstance(dt, T.ArrayType):
        return [_tuple_to_row(v, dt.elementType) for v in value]
    if isinstance(dt, T.MapType):
        return {k: _tuple_to_row(v, dt.valueType) for k, v in value.items()}
    return value


def from_xml_string(
    xml: str, schema: Union[str, T.StructType], options: Optional[dict] = None
):
    """Driver-side single-record parse (reference package.scala:154-157).
    Returns a ``pyspark.sql.Row`` (nested structs as Rows) or None when the
    record is dropped by the parse-mode policy."""
    dt = _as_schema(schema)
    xo = XmlOptions.from_dict(options or {})
    return _tuple_to_row(parser.parse_record(xml, dt, xo), dt)


def to_xml(
    col: Union[str, Column],
    schema: Union[str, T.StructType],
    options: Optional[dict] = None,
) -> Column:
    """Serialize a struct column to XML fragments (the write-path generator
    as a column function; no reference counterpart — spark-xml only writes
    whole files — but required for streaming/bench pipelines)."""
    st = _as_schema(schema)
    if not isinstance(st, T.StructType):
        raise TypeError("schema for to_xml must be a struct")
    xo = XmlOptions.from_dict(dict(options or {}))

    @F.udf(returnType=T.StringType(), useArrow=True)
    def gen_one(row):
        if row is None:
            return None
        return generator.row_to_xml(st, row, xo)

    return gen_one(col)


def schema_of_xml(
    spark: SparkSession,
    data: Union[DataFrame, Iterable[str]],
    options: Optional[dict] = None,
    column: Optional[str] = None,
) -> T.StructType:
    """Infer the schema of a collection of XML fragments
    (reference package.scala:124-135 ``schema_of_xml``/``schema_of_xml_df``).

    ``data`` may be a DataFrame (first/named string column used; inference
    runs distributed with a partial-per-partition merge) or any iterable of
    strings (driver-side)."""
    xo = XmlOptions.from_dict(options or {})
    if isinstance(data, DataFrame):
        colname = column or data.columns[0]
        opts_dict = dict(options or {})

        def infer_partition(batches):
            import pyarrow as pa

            xo2 = XmlOptions.from_dict(opts_dict)
            texts = []
            for batch in batches:
                texts.extend(x for x in batch.column(0).to_pylist() if x is not None)
            yield pa.RecordBatch.from_pydict(
                {"schema_json": [infer.partial_schema_json(texts, xo2)]}
            )

        parts = [
            r.schema_json
            for r in data.select(colname)
            .mapInArrow(infer_partition, "schema_json string")
            .collect()
        ]
        return infer.merge_schema_jsons(parts, xo)
    return infer.infer_schema_from_records(data, xo)


def schema_of_xml_array(
    spark: SparkSession,
    data: Union[DataFrame, Iterable[Iterable[str]]],
    options: Optional[dict] = None,
    column: Optional[str] = None,
) -> T.ArrayType:
    """Schema for arrays of XML fragments (package.scala:139-146)."""
    if isinstance(data, DataFrame):
        colname = column or data.columns[0]
        flat = data.select(F.explode(F.col(colname)).alias("x"))
        return T.ArrayType(schema_of_xml(spark, flat, options, "x"))
    flat_strings = [x for arr in data for x in arr]
    return T.ArrayType(schema_of_xml(spark, flat_strings, options))


def read_xml_strings(
    spark: SparkSession,
    data: Union[DataFrame, Iterable[str]],
    column: Optional[str] = None,
    schema: Optional[Union[str, T.StructType]] = None,
    options: Optional[dict] = None,
) -> DataFrame:
    """Parse a collection of XML record strings into a DataFrame — the
    reference's ``XmlReader.xmlDataset``/``xmlRdd`` entry point
    (XmlReader.scala:147-204: infer the schema over the strings unless one
    is given, then parse each string as one row). ``data`` is a DataFrame
    holding the strings (``column`` or its first column) or any iterable
    of strings (parallelized first). The row-level parse, mode handling
    (PERMISSIVE/DROPMALFORMED/FAILFAST, corrupt-record column) and
    casts are exactly ``from_xml``'s; inference is the distributed
    ``schema_of_xml`` merge, so both halves scale with the input."""
    if not isinstance(data, DataFrame):
        data = spark.createDataFrame(
            [(s,) for s in data], T.StructType([T.StructField("value", T.StringType())])
        )
    colname = column or data.columns[0]
    if schema is None:
        schema = schema_of_xml(spark, data, options, colname)
    dt = _as_schema(schema)
    if not isinstance(dt, T.StructType):
        raise TypeError("schema for read_xml_strings must be a struct")
    parsed = data.select(
        from_xml(F.col(colname), dt, options).alias("_rec")
    )
    xo = XmlOptions.from_dict(options or {})
    if xo.mode == "DROPMALFORMED":
        # from_xml downgrades a malformed record to NULL under
        # DROPMALFORMED (a column cannot drop rows); the dataset-level
        # reader CAN, matching the reference's relation semantics
        parsed = parsed.filter(F.col("_rec").isNotNull())
    return parsed.select("_rec.*")
