"""Row -> XML text generation (the write path).

Python re-implementation of the reference's generator semantics
(/root/reference/src/main/scala/com/databricks/spark/xml/parsers/
StaxXmlGenerator.scala:40-159):

- struct fields whose names start with ``attributePrefix`` (and are not the
  valueTag) are written as XML attributes, before child elements
- the valueTag field writes bare character data (no wrapping element)
- null fields are omitted unless ``nullValue`` is set, in which case the
  element/attribute is written with that value (StaxXmlGenerator.scala:50-52,
  65-69, 85)
- arrays unroll into repeated elements of the field name; arrays nested
  directly inside arrays wrap items in ``arrayElementName``
  (StaxXmlGenerator.scala:74-77,110-113)
- maps write attribute-prefixed keys as attributes, the rest as child
  elements (StaxXmlGenerator.scala:115-123)
- timestamps default to ISO-8601 instant format, dates to ISO date,
  overridable with timestampFormat/dateFormat (StaxXmlGenerator.scala:87-95)

Document framing (declaration + rootTag with optional inline attributes, one
complete document per partition) follows XmlFile.scala:88-155 and lives in
the writer (sources/datasource.py).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import time
from typing import Any, Iterable, Iterator, List

from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.xmlcore.casts import java_time_pattern_to_strptime


def _escape_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(s: str) -> str:
    return _escape_text(s).replace('"', "&quot;")


def _java_strftime(fmt_pattern: str, dt: _dt.datetime) -> str:
    return dt.strftime(java_time_pattern_to_strptime(fmt_pattern))


_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def format_timestamp(v: _dt.datetime, options: XmlOptions) -> str:
    """ISO_INSTANT by default; custom pattern + timezone honored
    (StaxXmlGenerator.scala:87-91). A naive value is process-local time,
    as PySpark hands ``TimestampType`` values to Python writers and UDFs;
    it is read the way ``TimestampType.toInternal`` reads it (``mktime``,
    which unlike ``astimezone`` also covers year 1)."""
    if v.tzinfo is None:
        v = _EPOCH + _dt.timedelta(
            seconds=int(time.mktime(v.timetuple())), microseconds=v.microsecond
        )
    else:
        v = v.astimezone(_dt.timezone.utc)
    if options.timestamp_format:
        if options.timezone:
            try:
                from zoneinfo import ZoneInfo

                v = v.astimezone(ZoneInfo(options.timezone))
            except Exception:
                pass
        return _java_strftime(options.timestamp_format, v)
    # strftime %Y does not zero-pad years < 1000; ISO_INSTANT requires it
    base = (
        f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
        f"T{v.hour:02d}:{v.minute:02d}:{v.second:02d}"
    )
    if v.microsecond:
        frac = f"{v.microsecond:06d}".rstrip("0")
        # pad to 3/6 digits like java.time's ISO_INSTANT millis/micros groups
        width = 3 if len(frac) <= 3 else 6
        base += "." + frac.ljust(width, "0")
    return base + "Z"


def format_date(v: _dt.date, options: XmlOptions) -> str:
    if options.date_format:
        return _java_strftime(options.date_format, _dt.datetime(v.year, v.month, v.day))
    return v.isoformat()


def _scalar_text(dt: T.DataType, v: Any, options: XmlOptions) -> str:
    if isinstance(dt, T.TimestampType):
        return format_timestamp(v, options)
    if isinstance(dt, T.DateType):
        return format_date(v, options)
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return repr(float(v))
    if isinstance(dt, T.DecimalType) and isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode("ascii")
    return str(v)


def _field_values(v: Any, schema: T.StructType) -> List[Any]:
    """Struct value as a positional list (Row, tuple, or dict accepted)."""
    if v is None:
        return [None] * len(schema.fields)
    if isinstance(v, dict):
        return [v.get(f.name) for f in schema.fields]
    return list(v)


class _Writer:
    __slots__ = ("out", "options", "pretty", "depth", "_stack")

    def __init__(self, options: XmlOptions, pretty: bool = False, depth: int = 0):
        self.out: List[str] = []
        self.options = options
        # pretty mode mirrors the reference's IndentingXMLStreamWriter
        # (XmlFile.scala:108-109): newline + 4-space indent before every
        # child element open; the close tag moves to its own line only when
        # the element contained child elements (text-only stays inline)
        self.pretty = pretty
        self.depth = depth  # indent level of the next child element
        self._stack: List[bool] = []  # per open element: wrote child elements?

    def _write_element(self, dt: T.DataType, v: Any) -> None:
        opts = self.options
        if v is None:
            if opts.null_value is not None:
                self.out.append(_escape_text(opts.null_value))
            return
        if isinstance(dt, T.StructType):
            self._write_struct_body(dt, v)
        elif isinstance(dt, T.ArrayType):
            # Array directly inside an array: wrap in arrayElementName
            # (StaxXmlGenerator.scala:110-113).
            for e in v:
                self._write_child(opts.array_element_name, dt.elementType, e)
        elif isinstance(dt, T.MapType):
            # Attribute-prefixed keys were emitted as attributes by
            # _write_child_element (StaxXmlGenerator.scala:115-123).
            for k, val in v.items():
                k = str(k)
                if k.startswith(opts.attribute_prefix) and k != opts.value_tag:
                    continue
                self._write_child(k, dt.valueType, val)
        else:
            self.out.append(_escape_text(_scalar_text(dt, v, opts)))

    def _write_struct_body(self, schema: T.StructType, v: Any) -> None:
        opts = self.options
        values = _field_values(v, schema)
        # Attribute-prefixed fields were emitted by _write_child_element /
        # row_to_xml via _struct_attrs; only elements remain here.
        for f, fv in zip(schema.fields, values):
            if f.name.startswith(opts.attribute_prefix) and f.name != opts.value_tag:
                continue
            self._write_child(f.name, f.dataType, fv)

    def _struct_attrs(self, schema: T.StructType, v: Any) -> List[str]:
        opts = self.options
        values = _field_values(v, schema)
        parts = []
        for f, fv in zip(schema.fields, values):
            if f.name.startswith(opts.attribute_prefix) and f.name != opts.value_tag:
                name = f.name[len(opts.attribute_prefix):]
                if fv is None or isinstance(f.dataType, T.NullType):
                    if opts.null_value is not None:
                        parts.append(f' {name}="{_escape_attr(opts.null_value)}"')
                else:
                    parts.append(
                        f' {name}="{_escape_attr(_scalar_text(f.dataType, fv, opts))}"'
                    )
        return parts

    def _map_attrs(self, dt: T.MapType, v: dict) -> List[str]:
        opts = self.options
        parts = []
        for k, val in (v or {}).items():
            k = str(k)
            if k.startswith(opts.attribute_prefix) and k != opts.value_tag:
                name = k[len(opts.attribute_prefix):]
                if val is None:
                    if opts.null_value is not None:
                        parts.append(f' {name}="{_escape_attr(opts.null_value)}"')
                else:
                    parts.append(
                        f' {name}="{_escape_attr(_scalar_text(dt.valueType, val, opts))}"'
                    )
        return parts

    def _write_child(self, name: str, dt: T.DataType, v: Any) -> None:
        opts = self.options
        if name.startswith(opts.attribute_prefix) and name != opts.value_tag:
            # handled as attribute by the enclosing element
            return
        if isinstance(dt, T.ArrayType):
            for e in v if v is not None else []:
                self._write_child_element(name, dt.elementType, e)
        else:
            self._write_child_element(name, dt, v)

    def _write_child_element(self, name: str, dt: T.DataType, v: Any) -> None:
        opts = self.options
        if (v is None or isinstance(dt, T.NullType)) and opts.null_value is None:
            return  # null elements are simply not written
        if name == opts.value_tag:
            self._write_element(dt, v)  # bare character data: stays inline
            return
        if self.pretty:
            if self._stack:
                self._stack[-1] = True
            self.out.append("\n" + "    " * self.depth)
        self.out.append(f"<{name}")
        if v is not None:
            if isinstance(dt, T.StructType):
                self.out.extend(self._struct_attrs(dt, v))
            elif isinstance(dt, T.MapType):
                self.out.extend(self._map_attrs(dt, v))
        self.out.append(">")
        self.depth += 1
        self._stack.append(False)
        self._write_element(dt, v)
        self.depth -= 1
        if self._stack.pop() and self.pretty:
            self.out.append("\n" + "    " * self.depth)
        self.out.append(f"</{name}>")


def row_to_xml(
    schema: T.StructType, row: Any, options: XmlOptions, base_depth: int = 1
) -> str:
    """One row -> one ``<rowTag>...</rowTag>`` fragment
    (StaxXmlGenerator.scala:140-158). With options.indent, the fragment is
    pretty-printed at ``base_depth`` indent levels (the writer prepends the
    first line's indent)."""
    w = _Writer(options, pretty=options.indent, depth=base_depth + 1)
    w._stack.append(False)
    w.out.append(f"<{options.row_tag}")
    w.out.extend(w._struct_attrs(schema, row))
    w.out.append(">")
    w._write_struct_body(schema, row)
    if w._stack.pop() and w.pretty:
        w.out.append("\n" + "    " * base_depth)
    w.out.append(f"</{options.row_tag}>")
    return "".join(w.out)


class FastFlatGenerator:
    """Precompiled writer for FLAT all-scalar schemas: per-field open/close
    tags are rendered once and each row becomes one join over formatted
    values — no per-field type dispatch in the row loop (~2x generate).
    Output is byte-identical to row_to_xml for qualifying schemas; anything
    else (structs, arrays, maps, attribute fields, valueTag) uses the
    generic writer."""

    __slots__ = ("parts", "row_open", "row_close", "null_value", "indent")

    @classmethod
    def try_build(cls, schema: T.StructType, options: XmlOptions):
        names = [f.name for f in schema.fields]
        if options.value_tag in names:
            return None
        if any(n.startswith(options.attribute_prefix) for n in names):
            return None
        scalar = (
            T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.BooleanType, T.DateType,
            T.TimestampType, T.DecimalType, T.BinaryType,
        )
        if not all(type(f.dataType) in scalar for f in schema.fields):
            return None
        return cls(schema, options)

    def __init__(self, schema: T.StructType, options: XmlOptions):
        self.null_value = options.null_value
        self.indent = options.indent
        self.parts = []
        for f in schema.fields:
            dt = f.dataType
            if isinstance(dt, T.StringType):
                fmt = _escape_text
            elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
                fmt = str
            elif isinstance(dt, (T.DoubleType, T.FloatType)):
                fmt = lambda v: repr(float(v))  # noqa: E731
            elif isinstance(dt, T.BooleanType):
                fmt = lambda v: "true" if v else "false"  # noqa: E731
            elif isinstance(dt, T.TimestampType):
                fmt = lambda v, o=options: format_timestamp(v, o)  # noqa: E731
            elif isinstance(dt, T.DateType):
                fmt = lambda v, o=options: format_date(v, o)  # noqa: E731
            else:  # Decimal / Binary: shared scalar path
                fmt = lambda v, d=dt, o=options: _scalar_text(d, v, o)  # noqa: E731
            self.parts.append((f"<{f.name}>", fmt, f"</{f.name}>"))

    def row_to_xml(self, row: Any, row_tag: str, base_depth: int = 1) -> str:
        if isinstance(row, dict):
            row = [row.get(open_t[1:-1]) for open_t, _, _ in self.parts]
        out = [f"<{row_tag}>"]
        nv = self.null_value
        pre = ("\n" + "    " * (base_depth + 1)) if self.indent else ""
        for (open_t, fmt, close_t), v in zip(self.parts, row):
            if v is None:
                if nv is not None:
                    out.append(pre + open_t + _escape_text(nv) + close_t)
                continue
            out.append(pre + open_t + fmt(v) + close_t)
        if self.indent and len(out) > 1:
            out.append("\n" + "    " * base_depth)
        out.append(f"</{row_tag}>")
        return "".join(out)


def rows_to_document(
    schema: T.StructType, rows: Iterable[Any], options: XmlOptions
) -> Iterator[str]:
    """Frame a partition of rows as one complete XML document
    (XmlFile.scala:104-155): declaration, rootTag (optionally carrying inline
    attributes, e.g. rootTag="books foo='bar'"), one row fragment per line,
    closing rootTag."""
    if options.declaration:
        yield f"<?xml {options.declaration}?>"
    root_tag = options.root_tag
    yield f"<{root_tag}>"
    root_name = root_tag.split(" ")[0]
    fast = FastFlatGenerator.try_build(schema, options)
    if fast is not None:
        tag = options.row_tag
        for row in rows:
            yield "    " + fast.row_to_xml(row, tag)
    else:
        for row in rows:
            yield "    " + row_to_xml(schema, row, options)
    yield f"</{root_name}>"
