"""Schema inference over XML records.

Python re-implementation of the reference's InferSchema
(/root/reference/src/main/scala/com/databricks/spark/xml/util/InferSchema.scala):

- per-value sniffing order: null/empty -> Null, long, integer, double,
  boolean, timestamp, date, else string (InferSchema.scala:103-125)
- repeated sibling elements merge into ArrayType (InferSchema.scala:220-228)
- attributes become prefixed fields; text+attribute elements get a valueTag
  field (InferSchema.scala:166-232)
- struct fields sorted by name — "other code relies on this sorting for
  correctness" (InferSchema.scala:230-231)
- the compatible-type lattice: numeric precedence
  Byte<Short<Int<Long<Float<Double<Timestamp<Decimal(38,18), struct/struct
  field-union, array wraps mismatched sides, scalar merges into a struct's
  valueTag, fallback String (InferSchema.scala:39-59,267-332)
- canonicalization: Null->String, empty structs deleted
  (InferSchema.scala:237-262)
- columnar inference (below): under default options, flat records that
  match the pattern ``parser.match_flat_batch`` learns (the columnar
  scan's rule) are typed per column, with the per-record fold's result
  exactly

The distributed plan (the reference's RDD fold, InferSchema.scala:67-101) is
re-expressed in Spark as a per-partition partial merge + driver final merge —
see sources/api.py. At 100 TB the driver only ever sees one partial schema
per partition, never data.
"""

from __future__ import annotations

import json
from typing import Iterable, List, Optional, Sequence, Tuple

from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions, PERMISSIVE
from spark_xml_spark.xmlcore import events as ev
from spark_xml_spark.xmlcore.casts import (
    is_boolean,
    is_date,
    is_double,
    is_integer,
    is_long,
    is_timestamp,
)

# Numeric widening precedence, copied from Catalyst's TypeCoercion via
# InferSchema.scala:39-48.
_NUMERIC_PRECEDENCE: List[T.DataType] = [
    T.ByteType(),
    T.ShortType(),
    T.IntegerType(),
    T.LongType(),
    T.FloatType(),
    T.DoubleType(),
    T.TimestampType(),
    T.DecimalType(38, 18),
]


def infer_from(datum: Optional[str], options: XmlOptions) -> T.DataType:
    """Sniff one string value's type (InferSchema.scala:103-125)."""
    value = datum
    if value is not None and options.ignore_surrounding_spaces:
        value = value.strip()
    if not options.infer_schema:
        return T.StringType()
    if value is None or value == "":
        return T.NullType()
    if is_long(value):
        return T.LongType()
    if is_integer(value):
        return T.IntegerType()
    if is_double(value):
        return T.DoubleType()
    if is_boolean(value):
        return T.BooleanType()
    if is_timestamp(value, options):
        return T.TimestampType()
    if is_date(value, options):
        return T.DateType()
    return T.StringType()


def infer_field(stream: ev.EventStream, options: XmlOptions) -> T.DataType:
    """Infer the type of the current element body (InferSchema.scala:128-161).
    Leaves the element's own EndElement unconsumed."""
    while True:
        kind, payload = stream.peek()
        if kind in (ev.END, ev.END_DOC):
            return T.NullType()
        if kind == ev.START:
            return infer_object(stream, options)
        # CHARS
        data = payload
        if ev.is_whitespace(data):
            stream.next()
            nk, _ = stream.peek()
            if nk == ev.START:
                return infer_object(stream, options)
            if nk in (ev.END, ev.END_DOC):
                if data == "" or options.treat_empty_values_as_nulls:
                    return T.NullType()
                return T.StringType()
            continue
        character_type = infer_from(data, options)
        stream.next()
        nk, _ = stream.peek()
        if nk == ev.START:
            # Mixed content: some elements follow, ignore the characters
            # (InferSchema.scala:149-153).
            return infer_object(stream, options)
        return character_type


def infer_object(
    stream: ev.EventStream,
    options: XmlOptions,
    root_attributes: Optional[List[Tuple[str, str]]] = None,
) -> T.DataType:
    """Infer a struct from the element's children (InferSchema.scala:166-232)."""
    name_to_types: dict = {}

    for f, v in ev.attributes_to_values_map(root_attributes or [], options):
        name_to_types.setdefault(f, []).append(infer_from(v, options))

    while True:
        kind, payload = stream.next()
        if kind == ev.START:
            name, attrs = payload
            values_map = ev.attributes_to_values_map(attrs, options)
            inferred = infer_field(stream, options)
            if values_map:
                if isinstance(inferred, T.StructType):
                    nested = {f.name: f.dataType for f in inferred.fields}
                else:
                    nested = {options.value_tag: inferred}
                for f, v in values_map:
                    nested[f] = infer_from(v, options)
                inferred = T.StructType(
                    [
                        T.StructField(n, dt, True)
                        for n, dt in sorted(nested.items())
                    ]
                )
            field = ev.get_name(name, options)
            name_to_types.setdefault(field, []).append(inferred)
        elif kind == ev.END:
            if ev.check_end_element(stream):
                break
        elif kind == ev.END_DOC:
            break

    fields = []
    for name, dts in name_to_types.items():
        if len(dts) > 1:
            merged = dts[0]
            for dt in dts[1:]:
                merged = compatible_type(merged, dt, options)
            fields.append(T.StructField(name, T.ArrayType(merged), True))
        else:
            fields.append(T.StructField(name, dts[0], True))
    # Sorted by name — schema goldens depend on it (InferSchema.scala:230-231).
    return T.StructType(sorted(fields, key=lambda f: f.name))


def _numeric_index(dt: T.DataType) -> int:
    for i, t in enumerate(_NUMERIC_PRECEDENCE):
        if type(t) is type(dt):
            return i
    return -1


def compatible_type(t1: T.DataType, t2: T.DataType, options: XmlOptions) -> T.DataType:
    """Most general type covering both (InferSchema.scala:267-332)."""
    if t1 == t2:
        return t1
    i1, i2 = _numeric_index(t1), _numeric_index(t2)
    if i1 >= 0 and i2 >= 0:
        # Decimal merging keeps precision when it fits (InferSchema.scala:278-286)
        if isinstance(t1, T.DecimalType) and isinstance(t2, T.DecimalType):
            scale = max(t1.scale, t2.scale)
            rng = max(t1.precision - t1.scale, t2.precision - t2.scale)
            if rng + scale > 38:
                return T.DoubleType()
            return T.DecimalType(rng + scale, scale)
        if (isinstance(t1, T.DoubleType) and isinstance(t2, T.DecimalType)) or (
            isinstance(t1, T.DecimalType) and isinstance(t2, T.DoubleType)
        ):
            return T.DoubleType()
        return _NUMERIC_PRECEDENCE[max(i1, i2)]

    if isinstance(t1, T.StructType) and isinstance(t2, T.StructType):
        merged: dict = {}
        for f in list(t1.fields) + list(t2.fields):
            if f.name in merged:
                merged[f.name] = compatible_type(merged[f.name], f.dataType, options)
            else:
                merged[f.name] = f.dataType
        return T.StructType(
            [T.StructField(n, dt, True) for n, dt in sorted(merged.items())]
        )

    if isinstance(t1, T.ArrayType) and isinstance(t2, T.ArrayType):
        return T.ArrayType(
            compatible_type(t1.elementType, t2.elementType, options),
            t1.containsNull or t2.containsNull,
        )
    # Array absorbs the other side (InferSchema.scala:300-306)
    if isinstance(t1, T.ArrayType):
        return T.ArrayType(compatible_type(t1.elementType, t2, options))
    if isinstance(t2, T.ArrayType):
        return T.ArrayType(compatible_type(t1, t2.elementType, options))

    # Scalar vs struct-with-valueTag merges into the valueTag
    # (InferSchema.scala:308-323)
    for st, other, flip in ((t1, t2, False), (t2, t1, True)):
        if isinstance(st, T.StructType) and options.value_tag in st.fieldNames():
            fields = []
            for f in st.fields:
                if f.name == options.value_tag:
                    merged_dt = (
                        compatible_type(other, f.dataType, options)
                        if flip
                        else compatible_type(f.dataType, other, options)
                    )
                    fields.append(T.StructField(f.name, merged_dt, True))
                else:
                    fields.append(f)
            return T.StructType(fields)

    if isinstance(t2, T.NullType):
        return t1
    if isinstance(t1, T.NullType):
        return t2
    return T.StringType()


def canonicalize_type(dt: T.DataType) -> Optional[T.DataType]:
    """Null->String; empty structs removed (InferSchema.scala:237-262)."""
    if isinstance(dt, T.ArrayType):
        inner = canonicalize_type(dt.elementType)
        if inner is None:
            return None
        return T.ArrayType(inner, dt.containsNull)
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            if not f.name:
                continue
            inner = canonicalize_type(f.dataType)
            if inner is not None:
                fields.append(T.StructField(f.name, inner, f.nullable))
        if fields:
            return T.StructType(fields)
        return None
    if isinstance(dt, T.NullType):
        return T.StringType()
    return dt


def infer_record(
    xml: str, options: XmlOptions, validator=None
) -> Optional[T.DataType]:
    """Schema of a single record; PERMISSIVE failures contribute a lone
    corrupt-record column (InferSchema.scala:77-91). Like the reference,
    inference itself validates against the XSD when rowValidationXSDPath is
    set (InferSchema.scala:75-81), so invalid rows surface the corrupt
    column in the inferred schema."""
    try:
        if validator is not None:
            validator(xml)
        stream = ev.filtered_reader(xml)
        root_attributes = ev.gather_root_attributes(stream)
        return infer_object(stream, options, root_attributes)
    except Exception:
        if options.mode == PERMISSIVE:
            return T.StructType(
                [T.StructField(options.column_name_of_corrupt_record, T.StringType(), True)]
            )
        return None


# --- columnar inference ----------------------------------------------------
# For flat records, type sniffing moves from per-cell Python to per-column
# C regex classification: the capture groups of the pattern the parser's
# one flat-record learner learned give a column of cell strings per field
# (an attribute "" infers NullType exactly like an empty element, so
# attribute columns share the typer). The masks below are DISJOINT and
# each implies exactly one infer_from outcome for DEFAULT options (no
# custom formats, no trimming, no empty-as-null). Any value no mask can
# claim falls back to the per-cell infer_from — so the folded column type
# is always identical to the per-record path.
# one sign, ASCII digits only (is_long uses isdecimal + int64 bounds; <=18
# digits is provably in bounds — longer or unicode-digit values fall back)
_COL_LONG = r"^-?[0-9]{1,18}$"
# requires a dot or exponent (so it cannot claim integers) and starts with
# a digit or dot like is_double; mantissa capped to provably-safe lengths
_COL_DOUBLE = (
    r"^-?(?:[0-9]{1,15}\.[0-9]*|\.[0-9]+|[0-9]{1,15}\.?[0-9]*[eE][+-]?[0-9]{1,3})$"
)
_COL_BOOL = r"(?i)^(?:true|false)$"  # is_boolean excludes 1/0 (those are long)
# ISO timestamp with mandatory seconds; calendar validity still checked by
# an Arrow cast over the matched subset
_COL_TS = (
    r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}"
    r"(?:\.[0-9]{1,6})?(?:Z|[+-][0-9]{2}:[0-9]{2})?$"
)
_COL_DATE = r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"
# a value that starts with none of [0-9 + - .] can only be boolean or
# string under infer_from's sniff order; the bool mask is disjoint, so
# everything else here is String without a per-cell check
_COL_STRINGISH = r"^[^0-9+\-.]"


def _columnar_infer_ok(options: XmlOptions) -> bool:
    return (
        options.infer_schema
        and not options.row_validation_xsd_path
        and not options.ignore_surrounding_spaces
        and not options.treat_empty_values_as_nulls
        and options.timestamp_format is None
        and options.date_format is None
        and options.null_value is None
    )


def _column_infer_type(vals: Sequence[Optional[str]], options: XmlOptions):
    """Fold of infer_from over one column's cell strings (None = absent)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    types: List[T.DataType] = []
    rest = [v for v in vals if v is not None and v != ""]
    if any(v == "" for v in vals):
        types.append(T.NullType())
    if rest:
        arr = pa.array(rest, pa.string())
        covered = None
        for regex, dtype, validators in (
            (_COL_LONG, T.LongType(), None),
            (_COL_DOUBLE, T.DoubleType(), None),
            (_COL_BOOL, T.BooleanType(), None),
            # a timestamp column is usually all-zoned or all-naive; Arrow
            # validates each form with a different target type, so try
            # both — a mixed column (or calendar-invalid values like
            # month 13) falls back to exact per-cell sniffing
            (_COL_TS, T.TimestampType(),
             (pa.timestamp("us", tz="UTC"), pa.timestamp("us"))),
            (_COL_DATE, T.DateType(), (pa.date32(),)),
            (_COL_STRINGISH, T.StringType(), None),
        ):
            m = pc.match_substring_regex(arr, regex)
            if dtype == T.StringType() and covered is not None:
                m = pc.and_(m, pc.invert(covered))  # bool values start with t/f
            if pc.any(m).as_py():
                if validators is not None:
                    sub = arr.filter(m)
                    for target in validators:
                        try:
                            pc.cast(sub, target)
                            break
                        except Exception:
                            continue
                    else:
                        return _fold_types(
                            types + [infer_from(v, options) for v in rest], options
                        )
                types.append(dtype)
            covered = m if covered is None else pc.or_(covered, m)
        leftovers = arr.filter(pc.invert(covered))
        if leftovers:
            types.extend(infer_from(v, options) for v in leftovers.to_pylist())
    return _fold_types(types, options)


def _fold_types(types: List[T.DataType], options: XmlOptions) -> T.DataType:
    merged: T.DataType = T.NullType()
    for t in types:
        merged = compatible_type(merged, t, options)
    return merged


def _columnar_fold(records: Iterable[str], options: XmlOptions) -> T.DataType:
    """Fold record schemas batch-wise: records that match the batch's flat
    pattern (``parser.match_flat_batch``, the scan's learning rule) are
    typed per column (C regex + Arrow validity); everything else goes
    through the exact per-record path. Inference folds are commutative, so
    batching does not change the result."""
    import itertools

    from spark_xml_spark.xmlcore.parser import match_flat_batch

    merged: T.DataType = T.StructType([])
    flat = None
    records = iter(records)
    while True:
        batch = list(itertools.islice(records, 4096))
        if not batch:
            return merged
        flat, caps, hit = match_flat_batch(flat, batch, options)
        for xml, m in zip(batch, caps):
            if m is None:
                rt = infer_record(xml, options)
                if rt is not None:
                    merged = compatible_type(merged, rt, options)
        if hit:
            fields = [
                T.StructField(tag, _column_infer_type(vals, options), True)
                for tag, vals in zip(
                    flat.names, zip(*(caps[i].groups() for i in hit))
                )
                # a tag absent from every matched record adds no field
                if any(v is not None for v in vals)
            ]
            if fields:
                batch_struct = T.StructType(sorted(fields, key=lambda f: f.name))
                merged = compatible_type(merged, batch_struct, options)


def infer_schema_from_records(
    records: Iterable[str], options: XmlOptions
) -> T.StructType:
    """Driver-side / per-partition inference: fold record schemas with
    compatible_type, then canonicalize (InferSchema.scala:67-101). Under
    default options, whole batches of flat records are typed per COLUMN
    (C regex masks + Arrow validity casts, exact fallback per cell)."""
    merged: T.DataType = T.StructType([])
    validator = None
    if options.row_validation_xsd_path:
        from spark_xml_spark.xsd import get_validator

        validator = get_validator(options.row_validation_xsd_path)
    if validator is None and _columnar_infer_ok(options):
        merged = _columnar_fold(records, options)
    else:
        for xml in records:
            rt = infer_record(xml, options, validator=validator)
            if rt is not None:
                merged = compatible_type(merged, rt, options)
    out = canonicalize_type(merged)
    if isinstance(out, T.StructType):
        return out
    return T.StructType([])


def partial_schema_json(records: Iterable[str], options: XmlOptions) -> str:
    """Serialized partial schema for the distributed merge (executor side)."""
    return infer_schema_from_records(records, options).json()


def merge_schema_jsons(parts: Iterable[str], options: XmlOptions) -> T.StructType:
    """Driver-side final merge of per-partition partial schemas."""
    merged: T.DataType = T.StructType([])
    for p in parts:
        st = T.StructType.fromJson(json.loads(p))
        merged = compatible_type(merged, st, options)
    out = canonicalize_type(merged)
    if isinstance(out, T.StructType):
        return out
    return T.StructType([])
