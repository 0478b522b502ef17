"""XML record string -> row values, driven by a requested schema.

Python re-implementation of the reference's StAX pull-parser semantics
(/root/reference/src/main/scala/com/databricks/spark/xml/parsers/
StaxXmlParser.scala:129-373):

- structs, arrays (repeated sibling elements), maps (child name -> key)
- attributes as ``attributePrefix``-prefixed fields, valueTag for
  attribute+text elements, wildcard column absorbing unmatched children
- mixed content: character data ignored when complex children follow, but
  captured verbatim when the schema says StringType
- column pruning: subtrees of unrequested fields are skipped without
  allocation (StaxXmlParser.scala:352-354)
- three parse modes (PERMISSIVE partial rows + corrupt column /
  DROPMALFORMED / FAILFAST, StaxXmlParser.scala:54-124) with partial-result
  propagation (PartialResultException.scala:25-28)

Event-consumption invariant (mirrors the reference's loop structure): every
``convert_*`` call parses an element's *body* and leaves the element's own
EndElement unconsumed; the enclosing object loop consumes child ENDs one at a
time and stops when the event *after* a consumed END is itself an END.

Rows are returned as Python tuples (nested structs = tuples, arrays = lists,
maps = dicts) ready for Spark conversion.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, List, Optional, Tuple

from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions, PERMISSIVE, DROPMALFORMED, FAILFAST
from spark_xml_spark.xmlcore import events as ev
from spark_xml_spark.xmlcore.casts import cast_to


class PartialResultError(Exception):
    """Carries the partially-parsed row alongside the failure cause
    (reference PartialResultException.scala:25-28)."""

    def __init__(self, partial: tuple, cause: Exception):
        super().__init__(str(cause))
        self.partial = partial
        self.cause = cause


class MalformedRecordError(ValueError):
    pass


def _convert_complicated(stream, dt: T.DataType, options: XmlOptions, attributes):
    if isinstance(dt, T.StructType):
        return convert_object(stream, dt, options)
    if isinstance(dt, T.MapType):
        return _convert_map(stream, dt.valueType, options, attributes)
    if isinstance(dt, T.ArrayType):
        return convert_field(stream, dt.elementType, options)
    if isinstance(dt, T.StringType):
        return cast_to(ev.current_structure_as_string(stream), T.StringType(), options)
    raise ValueError(f"cannot parse nested element as {dt.simpleString()}")


def convert_field(
    stream: ev.EventStream,
    data_type: T.DataType,
    options: XmlOptions,
    attributes: Optional[List[Tuple[str, str]]] = None,
) -> Any:
    """Parse the current element body as ``data_type``
    (StaxXmlParser.scala:129-197)."""
    attributes = attributes or []
    kind, payload = stream.peek()

    if kind == ev.START:
        return _convert_complicated(stream, data_type, options, attributes)

    if kind in (ev.END, ev.END_DOC):
        if isinstance(data_type, T.StringType):
            # Empty element: "" unless nulls are explicitly configured
            # (StaxXmlParser.scala:145-151).
            if options.treat_empty_values_as_nulls or options.null_value == "":
                return None
            return ""
        return None

    # kind == CHARS — case order mirrors StaxXmlParser.scala:153-192.
    data = payload

    if isinstance(data_type, T.ArrayType):
        # Element of a repeated field; values merge in convert_object
        # (StaxXmlParser.scala:153-155).
        return cast_to(data, data_type.elementType, options)

    if isinstance(data_type, T.StructType):
        # Either an attribute-only element whose text lands in valueTag, or
        # mixed content where characters are ignored
        # (StaxXmlParser.scala:156-176).
        attributes_only = all(
            f.name == options.value_tag or f.name.startswith(options.attribute_prefix)
            for f in data_type.fields
        )
        if attributes_only:
            for f in data_type.fields:
                if f.name == options.value_tag:
                    return cast_to(data, f.dataType, options)
            return None
        stream.next()
        if stream.peek()[0] in (ev.END, ev.END_DOC):
            return None
        return convert_object(stream, data_type, options)

    if isinstance(data_type, T.StringType):
        return cast_to(ev.current_structure_as_string(stream), T.StringType(), options)

    if ev.is_whitespace(data):
        # Space between elements, or an all-whitespace scalar
        # (StaxXmlParser.scala:179-190).
        stream.next()
        nk, _ = stream.peek()
        if nk == ev.START:
            return _convert_complicated(stream, data_type, options, attributes)
        if nk in (ev.END, ev.END_DOC):
            if data == "" or options.treat_empty_values_as_nulls:
                return None
            return cast_to(data, data_type, options)
        return convert_field(stream, data_type, options, attributes)

    return cast_to(data, data_type, options)


def _convert_map(stream, value_type: T.DataType, options: XmlOptions, attributes):
    """Child element names become map keys (StaxXmlParser.scala:202-224)."""
    pairs: dict = {}
    for name, value in attributes or []:
        pairs[options.attribute_prefix + name] = value
    while True:
        kind, payload = stream.next()
        if kind == ev.START:
            name, _attrs = payload
            pairs[ev.get_name(name, options)] = convert_field(stream, value_type, options)
        elif kind == ev.END:
            if ev.check_end_element(stream):
                break
        elif kind == ev.END_DOC:
            break
    return pairs


def _name_index(schema: T.StructType) -> dict:
    """Per-schema name->index map, cached on the schema object itself — the
    reference rebuilds this inside its per-key loops
    (StaxXmlParser.scala:235-237), a known hazard SURVEY §4 says to hoist."""
    cached = schema.__dict__.get("_xml_graft_nti")
    if cached is None:
        cached = {f.name: i for i, f in enumerate(schema.fields)}
        schema.__dict__["_xml_graft_nti"] = cached
    return cached


def _convert_attributes(attributes, schema: T.StructType, options: XmlOptions) -> dict:
    """Typed attribute values for the fields present in the schema
    (StaxXmlParser.scala:229-242)."""
    out = {}
    name_to_index = _name_index(schema)
    for f, v in ev.attributes_to_values_map(attributes, options):
        i = name_to_index.get(f)
        if i is not None:
            out[f] = cast_to(v, schema.fields[i].dataType, options)
    return out


def _convert_object_with_attributes(
    stream, schema: T.StructType, options: XmlOptions, attributes
) -> tuple:
    """Nested element -> struct row, merging its attributes
    (StaxXmlParser.scala:249-286). A present-but-empty element yields a
    struct of nulls, not a null struct (test XmlSuite.scala:750-767)."""
    row: List[Any] = [None] * len(schema.fields)

    value = convert_field(stream, schema, options)
    if isinstance(value, tuple):
        row = list(value)
    elif value is not None:
        vt_index = _name_index(schema).get(options.value_tag)
        if vt_index is not None:
            row[vt_index] = value

    attributes_map = _convert_attributes(attributes or [], schema, options)
    if attributes_map:
        name_to_index = _name_index(schema)
        for f, v in attributes_map.items():
            row[name_to_index[f]] = v

    return tuple(row)


def convert_object(
    stream: ev.EventStream,
    schema: T.StructType,
    options: XmlOptions,
    root_attributes: Optional[List[Tuple[str, str]]] = None,
) -> tuple:
    """Parse an object per the requested schema; unrequested fields are
    skipped cheaply (StaxXmlParser.scala:292-373)."""
    fields = schema.fields
    row: List[Any] = [None] * len(fields)
    name_to_index = _name_index(schema)

    if root_attributes:
        for f, v in _convert_attributes(root_attributes, schema, options).items():
            row[name_to_index[f]] = v

    wildcard = options.wildcard_col_name
    wildcard_index = name_to_index.get(wildcard)
    bad_exception: Optional[Exception] = None

    while True:
        kind, payload = stream.next()
        if kind == ev.START:
            try:
                name, attrs = payload
                field = ev.get_name(name, options)
                index = name_to_index.get(field)
                if index is not None:
                    dt = fields[index].dataType
                    if isinstance(dt, T.StructType):
                        row[index] = _convert_object_with_attributes(
                            stream, dt, options, attrs
                        )
                    elif isinstance(dt, T.ArrayType):
                        values = row[index] if isinstance(row[index], list) else []
                        et = dt.elementType
                        if isinstance(et, T.StructType):
                            values.append(
                                _convert_object_with_attributes(stream, et, options, attrs)
                            )
                        else:
                            values.append(convert_field(stream, et, options))
                        row[index] = values
                    else:
                        row[index] = convert_field(stream, dt, options, attrs)
                elif wildcard_index is not None:
                    # Wildcard column absorbs any unmatched child as XML text
                    # (StaxXmlParser.scala:337-351).
                    new_value = convert_field(stream, T.StringType(), options)
                    wdt = fields[wildcard_index].dataType
                    if isinstance(wdt, T.ArrayType):
                        values = (
                            row[wildcard_index]
                            if isinstance(row[wildcard_index], list)
                            else []
                        )
                        values.append(new_value)
                        row[wildcard_index] = values
                    else:
                        row[wildcard_index] = new_value
                else:
                    ev.skip_children(stream)
            except Exception as e:  # field-level failure under PERMISSIVE
                if options.mode == PERMISSIVE:
                    if bad_exception is None:
                        bad_exception = e
                else:
                    raise
        elif kind == ev.END:
            if ev.check_end_element(stream):
                break
        elif kind == ev.END_DOC:
            break
        # CHARS between/after elements are ignored here (already folded into
        # field values by convert_field where relevant).

    result = tuple(row)
    if bad_exception is not None:
        raise PartialResultError(result, bad_exception)
    return result


def parse_record(
    xml: str,
    schema: T.StructType,
    options: XmlOptions,
    mode: Optional[str] = None,
    validator=None,
    fast=None,
) -> Optional[tuple]:
    """Parse one record string into a row tuple, applying the parse-mode
    policy (StaxXmlParser.scala:71-124). Returns None when the record is
    dropped (DROPMALFORMED). ``fast`` is an optional FastFlatParser; its
    failures re-route through the generic path so policy semantics are
    unchanged."""
    mode = mode or options.mode
    try:
        if validator is not None:
            validator(xml)
        if fast is not None:
            try:
                return fast.parse(xml)
            except Exception:
                pass  # generic parse below decides the policy outcome
        stream = ev.filtered_reader(xml)
        root_attributes = ev.gather_root_attributes(stream)
        return convert_object(stream, schema, options, root_attributes)
    except PartialResultError as e:
        return _failed_record(xml, options, mode, schema, partial=e.partial, cause=e.cause)
    except Exception as e:
        return _failed_record(xml, options, mode, schema, cause=e)


def _failed_record(
    record: str,
    options: XmlOptions,
    mode: str,
    schema: T.StructType,
    partial: Optional[tuple] = None,
    cause: Optional[Exception] = None,
) -> Optional[tuple]:
    if mode == FAILFAST:
        raise MalformedRecordError("Malformed line in FAILFAST mode") from cause
    if mode == DROPMALFORMED:
        return None
    # PERMISSIVE: keep partial values, raw record into the corrupt column
    # (StaxXmlParser.scala:111-122).
    row: List[Any] = [None] * len(schema.fields)
    corrupt = options.column_name_of_corrupt_record
    for i, f in enumerate(schema.fields):
        if f.name == corrupt:
            row[i] = record
        elif partial is not None:
            row[i] = partial[i]
    return tuple(row)


def effective_mode_for_column(schema: T.StructType, options: XmlOptions) -> str:
    """from_xml downgrade: PERMISSIVE becomes DROPMALFORMED when the schema
    has no corrupt-record column (StaxXmlParser.scala:54-66)."""
    if options.mode == PERMISSIVE and not any(
        f.name == options.column_name_of_corrupt_record for f in schema.fields
    ):
        return DROPMALFORMED
    return options.mode


class _FastFallback(Exception):
    """Raised inside the flat fast path when the record needs the generic
    parser (nested elements, cast anomalies)."""


import re as _re

# Regex-path guards: any record containing attributes/entities/CDATA/
# comments/PIs/self-closing tags, or a CR (XML line-end normalization turns
# CRLF and lone CR into LF, XML 1.0 §2.11), drops to the expat path (whose
# anomaly handling is in turn backed by the generic parser). A '=' inside
# the ROOT open tag alone is re-tried by the attribute-aware branch of
# _parse_regex.
_FLAT_DISQUALIFIER = _re.compile(r"[=&\r]|<!|/>|<\?")
# One flat field: <tag>text-without-markup</tag> (closing name must match).
_FLAT_FIELD = _re.compile(r"<([^\s>/]+)>([^<]*)</\1>")
# Root open tag with optional attributes: <name a="v" b='v'>. The name must
# start like an XML name so comments/PIs can never match; attr values are
# quote-delimited and may not contain markup ('<' and '&' are always escaped
# by conformant writers, and '&' already routed the record to expat) nor a
# tab, LF or CR, which attribute-value normalization turns into spaces
# (XML 1.0 §3.3.3) — such records are left to expat.
_ROOT_OPEN_ATTRS = _re.compile(
    r"\s*<([A-Za-z_:][^\s>/=]*)"
    r"((?:\s+[^\s=>/]+=(?:\"[^\"<\t\n\r]*\"|'[^'<\t\n\r]*'))*)\s*>"
)
# One attribute inside the captured blob; exactly one of the two value
# groups is non-None (double- vs single-quoted).
_ATTR_PAIR = _re.compile(
    r"([^\s=>/]+)=(?:\"([^\"<\t\n\r]*)\"|'([^'<\t\n\r]*)')"
)


def _attr_value(q: str) -> str:
    """Regex body of a ``q``-quoted attribute value the regex tiers may take
    verbatim (the value classes of _ROOT_OPEN_ATTRS / _ATTR_PAIR)."""
    return f"[^{q}<\\t\\n\\r]*"


# Attribute-free root open tag (the '=' disqualifier already proved there
# are no attributes anywhere in the record).
_ROOT_OPEN_PLAIN = _re.compile(r"\s*<([A-Za-z_:][^\s>/=]*)\s*>")


class FastFlatParser:
    """Specialized parser for FLAT all-scalar schemas (no structs, arrays,
    maps, valueTag, or wildcard). Attribute-prefixed fields are supported
    when they name ROOT-element attributes (the only flat-scalar shape an
    attribute can produce — a child element with attributes infers as a
    struct and is rejected above).

    Two tiers, both falling back to the generic parser on ANY anomaly so
    the parse-mode policy and partial-row behavior are always the generic
    path's:

    1. regex tier: one C-speed ``findall`` of ``<tag>text</tag>`` over the
       record. Valid only when the record has no entities, CDATA,
       comments, PIs, self-closing tags, or attributes outside the root
       open tag (single pre-scan), and the total ``<`` count proves every
       element was matched at field depth (nested levels or malformed tags
       break the arithmetic and drop to tier 2). ~10x over per-event
       Python callbacks.
    2. expat tier: callbacks fill the row directly, skipping the generic
       event-list machinery (~2x).

    Casts are hoisted per field at build time (same code paths as
    ``cast_to``, specialized for the scalar types; anything unusual
    delegates to ``cast_to`` itself). Attribute cells use the generic
    attribute semantics (attributes_to_values_map + cast_to), which differ
    from element cells: an empty attribute value is NOT null-coerced.
    """

    __slots__ = (
        "schema", "options", "index", "types", "is_string", "n", "strip_ns",
        "casters", "seq_pattern", "strict_seq_pattern", "group_map",
        "attr_index", "attr_casters", "array_fields",
    )

    @classmethod
    def try_build(cls, schema: T.StructType, options: XmlOptions):
        names = [f.name for f in schema.fields]
        if options.wildcard_col_name in names or options.value_tag in names:
            return None
        prefix = options.attribute_prefix
        if not prefix and names:
            # no way to tell attr fields from element fields — stay generic
            return None
        for f in schema.fields:
            if isinstance(f.dataType, (T.StructType, T.MapType)):
                return None
            if isinstance(f.dataType, T.ArrayType) and isinstance(
                f.dataType.elementType, (T.StructType, T.ArrayType, T.MapType)
            ):
                # repeated-tag scalar arrays parse on tiers 1/2 (variable
                # occurrence counts are inexpressible in the tier-0
                # pattern); complex element types stay generic
                return None
        return cls(schema, options)

    def __init__(self, schema: T.StructType, options: XmlOptions):
        self.schema = schema
        self.options = options
        self.index = {f.name: i for i, f in enumerate(schema.fields)}
        self.types = [f.dataType for f in schema.fields]
        self.is_string = [isinstance(f.dataType, T.StringType) for f in schema.fields]
        self.n = len(schema.fields)
        self.strip_ns = options.ignore_namespace
        # repeated-tag scalar arrays: the cell caster runs on the ELEMENT
        # type; occurrences append in document order (convert_object's
        # ArrayType branch)
        self.array_fields = {
            i
            for i, f in enumerate(schema.fields)
            if isinstance(f.dataType, T.ArrayType)
        }
        self.casters = [
            self._build_caster(
                f.dataType.elementType
                if isinstance(f.dataType, T.ArrayType)
                else f.dataType
            )
            for f in schema.fields
        ]
        # Root-attribute fields: bare attr name -> field index. With
        # excludeAttribute the generic path never maps attributes (the
        # fields can still be hit by literally-named elements), so leave
        # the map empty to match.
        prefix = options.attribute_prefix
        self.attr_index = (
            {}
            if options.exclude_attribute
            else {
                f.name[len(prefix):]: i
                for i, f in enumerate(schema.fields)
                if f.name.startswith(prefix)
            }
        )
        self.attr_casters = [
            self._build_attr_caster(f.dataType) for f in schema.fields
        ]
        # Tier-0 whole-record pattern, learned from the first clean record:
        # one C-speed match with a capturing group per schema field in the
        # record's observed attr+tag order (every field optional — null
        # elision drops tags). Records in a different order fall to tier 1.
        self.seq_pattern = None
        self.strict_seq_pattern = None
        self.group_map: List[tuple] = []

    def _build_caster(self, dt: T.DataType):
        """Per-field CELL converter: the empty/whitespace element semantics
        of the generic path (empty scalar -> None; whitespace-only scalar
        -> fall back so the parse policy decides) fused with the exact
        ``cast_to`` branch for the common scalar types (dispatch + options
        resolved once); unusual types delegate to ``cast_to`` itself."""
        from spark_xml_spark.xmlcore.casts import (
            _INT64_MIN, _INT64_MAX, _INT32_MIN, _INT32_MAX,
            _float_with_grouping,
        )

        o = self.options
        strip = o.ignore_surrounding_spaces
        nullv = o.null_value
        empty_null = o.treat_empty_values_as_nulls
        empty_str_is_null = empty_null or nullv == ""
        tname = dt.typeName()

        if tname == "string":

            def c_string(v):
                if v == "":
                    # empty element: generic END-branch semantics
                    return None if empty_str_is_null else ""
                if strip:
                    v = v.strip()
                if v == nullv or (empty_null and v == ""):
                    return None
                return v

            return c_string

        if tname in ("long", "integer"):
            lo, hi = (
                (_INT64_MIN, _INT64_MAX) if tname == "long"
                else (_INT32_MIN, _INT32_MAX)
            )

            def c_int(v):
                if v == "":
                    return None
                v2 = v.strip() if strip else v
                if v2 == "":
                    raise _FastFallback()  # whitespace-only: policy decides
                if v2 == nullv:
                    return None
                neg = v2.startswith("-")
                body = v2[1:] if v2[:1] in ("+", "-") else v2
                if "_" in body:
                    raise ValueError(f"For input string: {v2}")
                iv = int(body)
                if neg:
                    iv = -iv
                if not lo <= iv <= hi:
                    raise ValueError(f"value out of range: {v2}")
                return iv

            return c_int

        if tname in ("double", "float"):

            def c_float(v):
                if v == "":
                    return None
                v2 = v.strip() if strip else v
                if v2 == "":
                    raise _FastFallback()
                if v2 == nullv:
                    return None
                neg = v2.startswith("-")
                body = v2[1:] if v2[:1] in ("+", "-") else v2
                if "_" in body:
                    raise ValueError(f"For input string: {v2}")
                fv = _float_with_grouping(body, o.locale)
                return -fv if neg else fv

            return c_float

        if tname == "boolean":

            def c_bool(v):
                if v == "":
                    return None
                v2 = v.strip() if strip else v
                if v2 == "":
                    raise _FastFallback()
                if v2 == nullv:
                    return None
                lv = v2.lower()
                if lv in ("true", "1"):
                    return True
                if lv in ("false", "0"):
                    return False
                raise ValueError(f"For input string: {v2}")

            return c_bool

        def c_generic(v, _dt=dt):
            if v == "":
                return None
            if v.strip() == "":
                raise _FastFallback()
            return cast_to(v, _dt, o)

        return c_generic

    def _build_attr_caster(self, dt: T.DataType):
        """Per-field ATTRIBUTE converter: attributes_to_values_map's
        whitespace-to-null (treatEmptyValuesAsNulls) fused with the plain
        ``cast_to`` the generic path applies to attribute values
        (StaxXmlParserUtils.scala:92-107 + StaxXmlParser.scala:229-242).
        Cast failures raise — parse_record re-runs the generic path, which
        raises the same error into the parse-mode policy."""
        o = self.options
        if o.treat_empty_values_as_nulls:

            def c_attr_empty(v, _dt=dt):
                if v.strip() == "":
                    return None
                return cast_to(v, _dt, o)

            return c_attr_empty

        def c_attr(v, _dt=dt):
            return cast_to(v, _dt, o)

        return c_attr

    def parse(self, xml: str) -> tuple:
        # entities need real unescaping, CR line-end normalization -> expat
        if "&" in xml or "\r" in xml:
            return self._parse_expat(xml)
        pat = self.seq_pattern
        if pat is not None:
            m = pat.match(xml)
            if m is not None:
                row: List[Any] = [None] * self.n
                casters = self.casters
                attr_casters = self.attr_casters
                for g, i, is_attr in self.group_map:
                    text = m.group(g)
                    if text is not None:
                        row[i] = (attr_casters if is_attr else casters)[i](text)
                return tuple(row)
        row = self._parse_regex(xml)
        if row is not None:
            return row
        return self._parse_expat(xml)

    def _parse_regex(self, xml: str):
        """Tier-1 extraction; None when the record needs a real parser.
        The first success also compiles the tier-0 whole-record pattern."""
        attrs: list = []
        body = xml
        body_extra_lt = 2  # '<' of root open + close tags
        root = None
        if _FLAT_DISQUALIFIER.search(xml):
            # Salvageable only when every '=' lives in the root open tag's
            # attributes (root attrs map to attributePrefix fields exactly
            # like the generic path's gather_root_attributes).
            m = _ROOT_OPEN_ATTRS.match(xml)
            if m is None or not m.group(2):
                return None
            body = xml[m.end():]
            if _FLAT_DISQUALIFIER.search(body):
                return None
            # finditer, not findall: findall folds a non-participating
            # value group to '' which is indistinguishable from a real
            # empty value
            attrs = [
                (am.group(1), am.group(2) if am.group(2) is not None else am.group(3))
                for am in _ATTR_PAIR.finditer(m.group(2))
            ]
            body_extra_lt = 1  # root open tag already consumed
            root = m.group(1)
        else:
            rm = _ROOT_OPEN_PLAIN.match(xml)
            if rm is None:
                return None
            root = rm.group(1)
        fields = _FLAT_FIELD.findall(body)
        # Structural proof: a flat record has exactly one '<' per start/end
        # tag — root open+close plus one pair per matched field — AND the
        # record ends with the root's close tag. The count alone can be
        # fooled by an unclosed tag standing in for the root close
        # (e.g. "<d><id>1</id><src>"); the suffix check closes that hole.
        if body.count("<") != body_extra_lt + 2 * len(fields):
            return None
        if not body.rstrip().endswith(f"</{root}>"):
            return None
        row: List[Any] = [None] * self.n
        index = self.index
        casters = self.casters
        strip_ns = self.strip_ns
        # attributes first — matching elements overwrite, as in
        # convert_object (root attrs set before the element loop)
        if attrs:
            attr_index = self.attr_index
            attr_casters = self.attr_casters
            for name, value in attrs:
                if strip_ns and ":" in name:
                    name = name.rsplit(":", 1)[-1]
                i = attr_index.get(name, -1)
                if i >= 0:
                    row[i] = attr_casters[i](value)
        arrays = self.array_fields
        for tag, text in fields:
            if strip_ns and ":" in tag:
                tag = tag.rsplit(":", 1)[-1]
            i = index.get(tag, -1)
            if i >= 0:
                if i in arrays:
                    v = casters[i](text)
                    if isinstance(row[i], list):
                        row[i].append(v)
                    else:
                        row[i] = [v]
                else:
                    row[i] = casters[i](text)
        if self.seq_pattern is None and not arrays:
            # variable occurrence counts are inexpressible in the fixed
            # tier-0 pattern; array schemas stay on tier 1/2
            self._compile_seq_pattern(xml, [t for t, _ in fields])
        return tuple(row)

    def _compile_seq_pattern(self, xml: str, tags: List[str]) -> None:
        root_m = _ROOT_OPEN_ATTRS.match(xml)
        if root_m is None:
            self.seq_pattern = None
            return
        parts = ["\\s*<", _re.escape(root_m.group(1))]
        # strict variant: every probe-observed part REQUIRED and no
        # inter-tag whitespace (the dominant machine-generated shape) — the
        # regex engine skips both the per-part optionality branch and the
        # \s* scans, ~2x faster than the optional pattern. A strict match
        # produces byte-identical captures to the optional pattern (same
        # groups, same order, sequential-greedy over the same parts), so
        # the columnar path tries strict on each record first and falls
        # back to the optional pattern when the record diverges (null-
        # elided field, extra attr, reordering, indentation).
        strict_parts = ["<", _re.escape(root_m.group(1))]
        gmap: List[tuple] = []
        g = 0
        # A field CAN be captured by several groups (a root attr plus a
        # same-named element, or a duplicated tag): the parse loop applies
        # groups in document order and only overwrites on a non-None
        # capture, which reproduces convert_object's attrs-first,
        # present-elements-overwrite semantics. (An earlier version
        # suppressed the attr capture when an element targeted the same
        # field — that silently NULLed the attribute whenever a later
        # record had the attribute but not the element.) The columnar
        # transpose cannot express multi-group fields and skips the
        # pattern when group_map has duplicate targets.
        for am in _ATTR_PAIR.finditer(root_m.group(2)):
            name = am.group(1)
            q = '"' if am.group(2) is not None else "'"
            esc = _re.escape(name)
            base = (
                name.rsplit(":", 1)[-1] if self.strip_ns and ":" in name else name
            )
            i = self.attr_index.get(base, -1)
            if i >= 0:
                g += 1
                gmap.append((g, i, True))
                parts.append(f"(?:\\s+{esc}={q}({_attr_value(q)}){q})?")
                strict_parts.append(f"\\s+{esc}={q}({_attr_value(q)}){q}")
            else:
                parts.append(f"(?:\\s+{esc}={q}{_attr_value(q)}{q})?")
                strict_parts.append(f"\\s+{esc}={q}{_attr_value(q)}{q}")
        parts.append("\\s*>")
        strict_parts.append(">")
        for tag in tags:
            name = tag.rsplit(":", 1)[-1] if self.strip_ns and ":" in tag else tag
            i = self.index.get(name, -1)
            esc = _re.escape(tag)
            if i >= 0:
                g += 1
                gmap.append((g, i, False))
                parts.append(f"(?:\\s*<{esc}>([^<]*)</{esc}>)?")
                strict_parts.append(f"<{esc}>([^<]*)</{esc}>")
            else:
                parts.append(f"(?:\\s*<{esc}>[^<]*</{esc}>)?")
                strict_parts.append(f"<{esc}>[^<]*</{esc}>")
        parts.extend(["\\s*</", _re.escape(root_m.group(1)), ">\\s*\\Z"])
        strict_parts.extend(["</", _re.escape(root_m.group(1)), ">\\Z"])
        try:
            self.seq_pattern = _re.compile("".join(parts))
            self.group_map = gmap
        except _re.error:
            self.seq_pattern = None
            return
        try:
            self.strict_seq_pattern = _re.compile("".join(strict_parts))
        except _re.error:
            self.strict_seq_pattern = None

    def _parse_expat(self, xml: str) -> tuple:
        from xml.parsers import expat

        row: List[Any] = [None] * self.n
        state = [0, -1]  # depth, current field index
        buf: List[str] = []
        index = self.index
        options = self.options

        def start(name, attrs):
            state[0] += 1
            d = state[0]
            if d == 1:
                if attrs and self.attr_index:
                    # root attributes in document order; same-named child
                    # elements overwrite later (convert_object order)
                    for an, av in attrs.items():
                        if self.strip_ns:
                            an = an.split(":")[-1]
                        i = self.attr_index.get(an, -1)
                        if i >= 0:
                            row[i] = self.attr_casters[i](av)
            elif d == 2:
                if self.strip_ns:
                    name = name.split(":")[-1]
                i = index.get(name, -1)
                state[1] = i
                if i >= 0:
                    buf.clear()
            elif d > 2:
                # nested content under a scalar field: generic semantics
                raise _FastFallback()

        def end(name):
            d = state[0]
            if d == 2:
                i = state[1]
                if i >= 0:
                    v = self._convert(i, "".join(buf))
                    if i in self.array_fields:
                        if isinstance(row[i], list):
                            row[i].append(v)
                        else:
                            row[i] = [v]
                    else:
                        row[i] = v
                    state[1] = -1
            state[0] = d - 1

        def chard(data):
            if state[0] == 2 and state[1] >= 0:
                buf.append(data)

        def hardening(*_a, **_k):
            raise ev.XmlSecurityError("DTD/external entities are not supported")

        p = expat.ParserCreate(namespace_separator=None)
        p.buffer_text = True
        p.StartElementHandler = start
        p.EndElementHandler = end
        p.CharacterDataHandler = chard
        p.StartDoctypeDeclHandler = hardening
        p.ExternalEntityRefHandler = hardening
        p.Parse(xml, True)
        return tuple(row)

    def _convert(self, i: int, text: str):
        # empty/whitespace element semantics live inside the cell converters
        return self.casters[i](text)


def parse_records(
    records: Iterable[str], schema: T.StructType, options: XmlOptions
) -> Iterator[tuple]:
    """Bulk entry point used by the data source reader: one validator per
    partition (ValidatorUtil.scala:30-55 semantics), rows streamed out.
    Flat all-scalar schemas take the FastFlatParser path."""
    validator = None
    if options.row_validation_xsd_path:
        from spark_xml_spark.xsd import get_validator

        validator = get_validator(options.row_validation_xsd_path)
    fast = FastFlatParser.try_build(schema, options)
    for xml in records:
        row = parse_record(xml, schema, options, validator=validator, fast=fast)
        if row is not None:
            yield row
