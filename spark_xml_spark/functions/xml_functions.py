"""Column-level XML functions: ``from_xml``, ``to_xml``, ``schema_of_xml``,
``from_xml_string``.

The Python-native analogue of the reference's expression surface
(/root/reference/src/main/scala/com/databricks/spark/xml/functions.scala:35-38,
XmlDataToCatalyst.scala:28-63, package.scala:124-157). The reference's
``XmlDataToCatalyst`` is a CodegenFallback expression running the scan's
parser on each value; our ``from_xml`` is an Arrow UDF over the scan's own
records -> Arrow step (``decode_records``) — same semantics, batched
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

from dataclasses import replace
from typing import Iterable, Optional, Union

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from spark_xml_spark.options import DROPMALFORMED, PERMISSIVE, XmlOptions
from spark_xml_spark.sources.datasource import decode_records
from spark_xml_spark.xmlcore import generator, infer, parser


def _as_schema(schema: Union[str, T.DataType]) -> T.DataType:
    if isinstance(schema, str):
        parsed = T._parse_datatype_string(schema)
        return parsed
    return schema


def _struct_decoder(schema: T.StructType, xo: XmlOptions):
    """``pa.StringArray`` -> ``pa.StructArray``, one slot per string (null
    for null), through the scan's records -> Arrow step. Rows are not
    XSD-validated. Under the effective DROPMALFORMED mode a malformed record
    must null its slot, not drop it: records decode PERMISSIVE with a
    private corrupt-record column, and the struct is null where it is set."""
    xo = replace(xo, row_validation_xsd_path=None)
    drop = parser.effective_mode_for_column(schema, xo) == DROPMALFORMED
    dschema = schema
    if drop:
        # no element or attribute name has a space: no record can fill it
        private = " from_xml corrupt record"
        while private in schema.fieldNames():
            private += " "
        xo = replace(xo, mode=PERMISSIVE, column_name_of_corrupt_record=private)
        dschema = T.StructType(
            schema.fields + [T.StructField(private, T.StringType())]
        )
    arrow_schema = to_arrow_schema(dschema)
    struct_fields = list(to_arrow_type(schema))

    def decode(strings: pa.Array) -> pa.Array:
        values = strings.to_pylist()
        at = [i for i, v in enumerate(values) if v is not None]
        table = pa.Table.from_batches(
            list(decode_records((values[i] for i in at), dschema, xo)),
            arrow_schema,
        )
        cols = [c.combine_chunks() for c in table.columns]
        bad = cols.pop().is_valid() if drop else None
        structs = pa.StructArray.from_arrays(
            cols, fields=struct_fields, mask=bad
        )
        if len(at) == len(values):
            return structs
        slots = [None] * len(values)
        for j, i in enumerate(at):
            slots[i] = j
        return structs.take(pa.array(slots, pa.int64()))

    return decode


def from_xml(
    col: Union[str, Column],
    schema: Union[str, T.StructType, T.ArrayType],
    options: Optional[dict] = None,
) -> Column:
    """Parse a string column of XML fragments into a struct column
    (or array<string> -> array<struct>)."""
    dt = _as_schema(schema)
    # Options and the decoder are built ONCE here on the driver, never per
    # batch (the reference builds XmlOptions once per expression too,
    # XmlDataToCatalyst.scala:28-36).
    xo = XmlOptions.from_dict(dict(options or {}))

    if isinstance(dt, T.ArrayType):
        if not isinstance(dt.elementType, T.StructType):
            raise TypeError("array schema for from_xml must be array<struct<...>>")
        decode = _struct_decoder(dt.elementType, xo)
        list_type = to_arrow_type(dt)

        def parse_lists(lists: pa.Array) -> pa.Array:
            # decode the values, then rebuild the lists around them
            import pyarrow.compute as pc

            lengths = pc.fill_null(pc.list_value_length(lists), 0)
            offsets = pa.concat_arrays([
                pa.array([0], pa.int32()),
                pc.cumulative_sum(lengths).cast(pa.int32()),
            ])
            return pa.ListArray.from_arrays(
                offsets, decode(lists.flatten()), type=list_type,
                mask=lists.is_null(),
            )

        return arrow_udf(parse_lists, dt)(col)

    if not isinstance(dt, T.StructType):
        raise TypeError("schema for from_xml must be struct or array<struct>")
    return arrow_udf(_struct_decoder(dt, xo), dt)(col)


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
    # An Arrow UDF like from_xml, so that from_xml(to_xml(...)) chains in
    # one Python worker per task (UDFs of different kinds cannot); rows
    # reach the generator as the Row values an Arrow-optimized F.udf gets,
    # through PySpark's own converter.
    to_row = ArrowTableToRowsConversion._create_converter(st)
    # flat all-scalar structs take the writer's precompiled generator,
    # as generator.rows_to_document does for files
    fast = generator.FastFlatGenerator.try_build(st, xo)
    if fast is not None:
        write = lambda row: fast.row_to_xml(row, xo.row_tag)  # noqa: E731
    else:
        write = lambda row: generator.row_to_xml(st, row, xo)  # noqa: E731

    def gen(rows: pa.Array) -> pa.Array:
        return pa.array(
            [None if r is None else write(to_row(r)) for r in rows.to_pylist()],
            pa.string(),
        )

    return arrow_udf(gen, T.StringType())(col)


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
