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

The flat-record pattern learner (``learn_flat_pattern``, with the per-batch
rule ``match_flat_batch``) and the per-field casts of flat schemas
(``FastFlatParser``) serve the columnar scan (sources/datasource.py) and
columnar inference. They parse no record themselves: ``convert_object`` is
the one parser of every record the scan's pattern does not match.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, List, NamedTuple, Optional, Tuple

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
    validator=None,
) -> Optional[tuple]:
    """Parse one record string into a row tuple, applying the parse-mode
    policy (StaxXmlParser.scala:71-124). Returns None when the record is
    dropped (DROPMALFORMED)."""
    try:
        if validator is not None:
            validator(xml)
        stream = ev.filtered_reader(xml)
        root_attributes = ev.gather_root_attributes(stream)
        return convert_object(stream, schema, options, root_attributes)
    except PartialResultError as e:
        return _failed_record(xml, options, schema, partial=e.partial, cause=e.cause)
    except Exception as e:
        return _failed_record(xml, options, schema, cause=e)


def _failed_record(
    record: str,
    options: XmlOptions,
    schema: T.StructType,
    partial: Optional[tuple] = None,
    cause: Optional[Exception] = None,
) -> Optional[tuple]:
    if options.mode == FAILFAST:
        raise MalformedRecordError("Malformed line in FAILFAST mode") from cause
    if options.mode == DROPMALFORMED:
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


import itertools
import re as _re

# Flat-proof guards: a record containing attributes/entities/CDATA/
# comments/PIs/self-closing tags, or a CR (XML line-end normalization turns
# CRLF and lone CR into LF, XML 1.0 §2.11), is not provably flat and takes
# the generic parser. A '=' inside the ROOT open tag alone is allowed:
# _flat_proof reads root attributes.
_FLAT_DISQUALIFIER = _re.compile(r"[=&\r]|<!|/>|<\?")
# One flat field: <tag>text-without-markup</tag> (closing name must match).
_FLAT_FIELD = _re.compile(r"<([^\s>/]+)>([^<]*)</\1>")
# Root open tag with optional attributes: <name a="v" b='v'>. The name must
# start like an XML name so comments/PIs can never match; attr values are
# quote-delimited and may not contain markup ('<' and '&' are always escaped
# by conformant writers, and a record holding '&' is never proved flat) nor
# a tab, LF or CR, which attribute-value normalization turns into spaces
# (XML 1.0 §3.3.3) — such records are left to the generic parser.
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
    """Regex body of a ``q``-quoted attribute value a learned pattern may
    take verbatim (the value classes of _ROOT_OPEN_ATTRS / _ATTR_PAIR)."""
    return f"[^{q}<\\t\\n\\r]*"


def _flat_proof(xml: str):
    """``(root, attrs, fields)`` when ``xml`` is provably one root element
    holding only text-only children, else None: root attributes as
    ``(name, quote, value)``, children as ``(tag, text)``, in document
    order. A flat record has exactly one '<' per start/end tag — root open
    and close plus one pair per matched field — AND ends with the root's
    close tag. The count alone can be fooled by an unclosed tag standing in
    for the root close (e.g. "<d><id>1</id><src>"); the suffix check closes
    that hole."""
    m = _ROOT_OPEN_ATTRS.match(xml)
    if m is None:
        return None
    root = m.group(1)
    attrs: list = []
    body = xml
    body_extra_lt = 2  # '<' of root open + close tags
    if m.group(2):
        # every '=' must live in the root open tag's attributes
        body = xml[m.end():]
        if _FLAT_DISQUALIFIER.search(body):
            return None
        # finditer, not findall: findall folds a non-participating value
        # group to '' which is indistinguishable from a real empty value
        attrs = [
            (am.group(1), '"', am.group(2)) if am.group(2) is not None
            else (am.group(1), "'", am.group(3))
            for am in _ATTR_PAIR.finditer(m.group(2))
        ]
        body_extra_lt = 1  # root open tag already consumed
    elif _FLAT_DISQUALIFIER.search(xml):
        return None
    fields = _FLAT_FIELD.findall(body)
    if body.count("<") != body_extra_lt + 2 * len(fields):
        return None
    if not body.rstrip().endswith(f"</{root}>"):
        return None
    return root, attrs, fields


class FlatPattern(NamedTuple):
    """Whole-record patterns learned from one flat record. Group ``g``
    of either pattern captures field ``names[g - 1]``; the first ``attrs``
    names are root attributes (``attributePrefix`` + name)."""

    loose: _re.Pattern
    strict: _re.Pattern
    names: List[str]
    attrs: int


def learn_flat_pattern(xml: str, options: XmlOptions) -> Optional[FlatPattern]:
    """The one flat-record pattern learner (the columnar scan, columnar
    inference): None unless ``xml`` passes :func:`_flat_proof` and names
    each field once — a repeated tag, or a root attribute and a same-named
    element, has no fixed field per group and takes the generic parser.
    One group per root attribute (none under excludeAttribute) and child,
    in the record's order. The loose pattern makes every part optional and
    allows whitespace between tags; the strict one, about 2x faster,
    requires every part and no whitespace. Where both match their captures
    are identical, so callers may try strict first."""
    proof = _flat_proof(xml)
    if proof is None:
        return None
    root, attrs, fields = proof

    def local(name: str) -> str:
        return name.rsplit(":", 1)[-1] if options.ignore_namespace else name

    esc_root = _re.escape(root)
    loose = ["\\s*<", esc_root]
    strict = ["<", esc_root]
    names: List[str] = []
    for name, q, _value in attrs:
        value = _attr_value(q)
        if not options.exclude_attribute:
            names.append(options.attribute_prefix + local(name))
            value = f"({value})"
        esc = _re.escape(name)
        loose.append(f"(?:\\s+{esc}={q}{value}{q})?")
        strict.append(f"\\s+{esc}={q}{value}{q}")
    n_attrs = len(names)
    loose.append("\\s*>")
    strict.append(">")
    for tag, _text in fields:
        names.append(local(tag))
        esc = _re.escape(tag)
        loose.append(f"(?:\\s*<{esc}>([^<]*)</{esc}>)?")
        strict.append(f"<{esc}>([^<]*)</{esc}>")
    if not names or len(set(names)) != len(names):
        return None
    loose.extend(["\\s*</", esc_root, ">\\s*\\Z"])
    strict.extend(["</", esc_root, ">\\Z"])
    try:
        return FlatPattern(
            _re.compile("".join(loose)), _re.compile("".join(strict)),
            names, n_attrs,
        )
    except _re.error:
        return None


def match_flat_batch(
    flat: Optional[FlatPattern], batch: List[str], options: XmlOptions
) -> Tuple[Optional[FlatPattern], list, list]:
    """``(pattern, matches, hit)``: per record of ``batch``, its match
    against the pattern (strict first, then loose), or None when the
    generic parser must parse it — a miss, an entity reference, or a CR
    that line-end normalization must rewrite; and the indexes of the
    matched records. With no ``flat`` yet, the pattern is learned from the
    first of up to 16 entity-free records of the batch that yields one (so
    a batch that opens with records no pattern describes, a comment or a
    CDATA field, still learns); once learned it is kept. The columnar scan
    and columnar inference share this rule."""
    if flat is None:
        learned = (
            learn_flat_pattern(r, options)
            for r in itertools.islice((r for r in batch if "&" not in r), 16)
        )
        flat = next((f for f in learned if f is not None), None)
        if flat is None:
            return None, [None] * len(batch), []
    strict, loose = flat.strict.match, flat.loose.match
    caps = [
        None if "&" in r or "\r" in r else strict(r) or loose(r)
        for r in batch
    ]
    return flat, caps, [i for i, m in enumerate(caps) if m is not None]


class FastFlatParser:
    """The casts of the columnar scan, for FLAT all-scalar schemas (no
    structs, arrays, maps, valueTag, or wildcard): per schema field, the
    element caster and the root-attribute caster, plus the learned
    whole-record pattern (:meth:`learn`) and which of its groups fill
    which field. Attribute-prefixed fields name ROOT-element attributes
    (the only flat-scalar shape an attribute can produce — a child element
    with attributes infers as a struct, which try_build rejects). It parses
    no record itself: every record the pattern misses takes the generic
    parser.

    The casters reproduce the generic path's cell semantics exactly (same
    code paths as ``cast_to``, specialized for the scalar types; anything
    unusual delegates to ``cast_to`` itself) and raise ``ValueError``
    wherever the generic path might decide otherwise, which sends the
    record to it. Attribute cells use the generic attribute semantics
    (attributes_to_values_map + cast_to), which differ from element cells:
    an empty attribute value is NOT null-coerced.
    """

    __slots__ = (
        "schema", "options", "index", "casters", "attr_casters", "flat",
        "group_map",
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
            if isinstance(f.dataType, (T.StructType, T.MapType, T.ArrayType)):
                return None
        return cls(schema, options)

    def __init__(self, schema: T.StructType, options: XmlOptions):
        self.schema = schema
        self.options = options
        self.index = {f.name: i for i, f in enumerate(schema.fields)}
        self.casters = [self._build_caster(f.dataType) for f in schema.fields]
        self.attr_casters = [
            self._build_attr_caster(f.dataType) for f in schema.fields
        ]
        # the pattern, and (group, field index, is attr) per field group
        self.flat: Optional[FlatPattern] = None
        self.group_map: List[tuple] = []

    def _build_caster(self, dt: T.DataType):
        """Per-field CELL converter: the empty/whitespace element semantics
        of the generic path (empty scalar -> None; whitespace-only scalar
        -> ValueError, so the generic parser decides) fused with the exact
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
                    raise ValueError("whitespace-only value")  # policy decides
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
                    raise ValueError("whitespace-only value")
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
                    raise ValueError("whitespace-only value")
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
                raise ValueError("whitespace-only value")
            return cast_to(v, _dt, o)

        return c_generic

    def _build_attr_caster(self, dt: T.DataType):
        """Per-field ATTRIBUTE converter: attributes_to_values_map's
        whitespace-to-null (treatEmptyValuesAsNulls) fused with the plain
        ``cast_to`` the generic path applies to attribute values
        (StaxXmlParserUtils.scala:92-107 + StaxXmlParser.scala:229-242).
        Cast failures raise — the scan then re-runs the record through the
        generic parser, which raises the same error into the parse-mode
        policy."""
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

    def learn(self, flat: FlatPattern) -> None:
        """Adopt ``flat`` and map its groups onto the schema's fields."""
        self.flat = flat
        self.group_map = [
            (g, self.index[name], g <= flat.attrs)
            for g, name in enumerate(flat.names, 1) if name in self.index
        ]


def parse_records(
    records: Iterable[str], schema: T.StructType, options: XmlOptions
) -> Iterator[tuple]:
    """Bulk entry point used by the data source reader: one validator per
    partition (ValidatorUtil.scala:30-55 semantics), rows streamed out."""
    validator = None
    if options.row_validation_xsd_path:
        from spark_xml_spark.xsd import get_validator

        validator = get_validator(options.row_validation_xsd_path)
    for xml in records:
        row = parse_record(xml, schema, options, validator=validator)
        if row is not None:
            yield row
