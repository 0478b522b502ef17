"""String -> typed-value casting and type sniffing.

Behavioral parity with the reference's TypeCast
(/root/reference/src/main/scala/com/databricks/spark/xml/util/TypeCast.scala):

- cast dispatch incl. XML booleans "true"/"1"/"false"/"0" (TypeCast.scala:78-84)
- grouping-separator fallback for float/double ("1,00" -> 100, US-locale
  NumberFormat behavior, TypeCast.scala:57-60)
- comma-stripped decimals (TypeCast.scala:62-63)
- 4 built-in timestamp formats + optional timestampFormat/timezone
  (TypeCast.scala:114-164), ISO date + optional dateFormat (86-112)
- sign-prefix handling for int/long/float/double (TypeCast.scala:268-318)
- nullValue / treatEmptyValuesAsNulls short-circuit (TypeCast.scala:48-50,177-179)
- is* sniffers with the digit-first shortcut and the d/D/f/F-suffix rejection
  (TypeCast.scala:203-266)

All timestamps are returned as UTC-aware datetimes (``tzinfo=UTC``): the
instants they are, read the same by pyarrow and by Spark's Python
converters in every process-local zone and session time zone.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import re
from typing import Any, Optional

from pyspark.sql import types as T

from spark_xml_spark.options import XmlOptions

_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1
_INT8_MIN, _INT8_MAX = -(2**7), 2**7 - 1
_INT16_MIN, _INT16_MAX = -(2**15), 2**15 - 1

_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}")

# Common timezone abbreviations for custom timestampFormat patterns ending in
# a zone name (Java pattern letter 'z'); Python's %Z cannot parse these.
_TZ_ABBREV = {
    "UTC": 0, "GMT": 0, "Z": 0,
    "EST": -5 * 60, "EDT": -4 * 60,
    "CST": -6 * 60, "CDT": -5 * 60,
    "MST": -7 * 60, "MDT": -6 * 60,
    "PST": -8 * 60, "PDT": -7 * 60,
}


def _strip_sign(value: str) -> str:
    if value.startswith("+") or value.startswith("-"):
        return value[1:]
    return value


def is_boolean(value: str) -> bool:
    return value.lower() in ("true", "false")


def is_long(value: str) -> bool:
    v = _strip_sign(value)
    if not v or not v[0].isdigit() or "_" in v:
        return False
    # isdecimal is both the cheap reject (no ValueError cost for doubles)
    # and more faithful: Java Long.parseLong rejects trailing whitespace,
    # which Python int() would accept
    if not v.isdecimal():
        return False
    return _INT64_MIN <= int(v) <= _INT64_MAX


def is_integer(value: str) -> bool:
    v = _strip_sign(value)
    if not v or not v[0].isdigit() or "_" in v:
        return False
    if not v.isdecimal():
        return False
    return _INT32_MIN <= int(v) <= _INT32_MAX


def is_double(value: str) -> bool:
    v = _strip_sign(value)
    if not v or not (v[0].isdigit() or v[0] == ".") or "_" in v:
        return False
    # Strings ending in d/D/f/F parse as double in Java but are disallowed
    # (TypeCast.scala:222-228).
    if value[-1] in "dDfF":
        return False
    try:
        float(v)
        return True
    except ValueError:
        return False


def parse_xml_date(value: str, options: XmlOptions) -> Optional[_dt.date]:
    """ISO_DATE (optionally with a trailing zone offset, which is dropped),
    then the user ``dateFormat`` (TypeCast.scala:86-112)."""
    if value and value[0].isdigit() and _DATE_RE.match(value):
        head = value[:10]
        tail = value[10:]
        if tail in ("", "Z") or (tail and tail[0] in "+-"):
            try:
                return _dt.date.fromisoformat(head)
            except ValueError:
                pass
    if options.date_format:
        try:
            fmt = java_time_pattern_to_strptime(options.date_format)
            return _dt.datetime.strptime(value, fmt).date()
        except ValueError:
            pass
    return None


def _finish_ts(dt: _dt.datetime, default_tz: Optional[_dt.tzinfo]) -> _dt.datetime:
    """Normalize to a UTC-aware instant: the value Spark and pyarrow both
    read as the instant it is, whatever the process-local zone."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=default_tz or _dt.timezone.utc)
    return dt.astimezone(_dt.timezone.utc)


def _zone_of(options: XmlOptions) -> Optional[_dt.tzinfo]:
    if options.timezone:
        try:
            from zoneinfo import ZoneInfo

            return ZoneInfo(options.timezone)
        except Exception:
            return None
    return None


def parse_xml_timestamp(value: str, options: XmlOptions) -> Optional[_dt.datetime]:
    """The reference's 4 built-in formats (TypeCast.scala:114-129) are all
    ISO-8601 shapes ('T' or ' ' separator, optional fraction, optional
    offset/'Z'); zone-less values are UTC. Then the user ``timestampFormat``
    with options.timezone applied when the pattern has no zone
    (TypeCast.scala:143-162)."""
    if value and value[0].isdigit():
        try:
            dt = _dt.datetime.fromisoformat(value)
            # Reject date-only strings: ISO timestamps must have a time part.
            if "T" in value or " " in value:
                # Zone-less values resolve in the configured zone (the
                # session timeZone when injected at the API layer,
                # DefaultSource.scala:70-74); offset/'Z' values are exact.
                return _finish_ts(dt, _zone_of(options) or _dt.timezone.utc)
        except ValueError:
            pass
    if options.timestamp_format:
        fs = options.timestamp_format
        has_zone = any(c in fs for c in "VzOXxZ")
        text = value
        tz_override: Optional[_dt.tzinfo] = None
        fmt = java_time_pattern_to_strptime(fs)
        if "%Z" in fmt:
            # Parse a trailing zone abbreviation ourselves (CPython %Z is
            # unreliable for non-local zones).
            m = re.search(r"\s([A-Za-z]{1,5})$", text)
            if m and m.group(1) in _TZ_ABBREV:
                tz_override = _dt.timezone(_dt.timedelta(minutes=_TZ_ABBREV[m.group(1)]))
                text = text[: m.start()]
                fmt = fmt.replace(" %Z", "").replace("%Z", "")
        try:
            dt = _dt.datetime.strptime(text, fmt)
            if tz_override is not None:
                dt = dt.replace(tzinfo=tz_override)
            default = _zone_of(options) if not has_zone else _dt.timezone.utc
            return _finish_ts(dt, default or _dt.timezone.utc)
        except ValueError:
            pass
    return None


def is_timestamp(value: str, options: XmlOptions) -> bool:
    return parse_xml_timestamp(value, options) is not None


def is_date(value: str, options: XmlOptions) -> bool:
    return parse_xml_date(value, options) is not None


_JAVA_TOKENS = [
    ("yyyy", "%Y"), ("yyy", "%Y"), ("yy", "%y"),
    ("MM", "%m"), ("dd", "%d"),
    ("HH", "%H"), ("hh", "%I"), ("mm", "%M"), ("ss", "%S"),
    ("SSSSSS", "%f"), ("SSS", "%f"),
    ("a", "%p"),
    ("XXX", "%z"), ("XX", "%z"), ("X", "%z"),
    ("xxx", "%z"), ("ZZ", "%z"), ("Z", "%z"),
    ("zzz", "%Z"), ("zz", "%Z"), ("z", "%Z"),
    ("EEE", "%a"), ("MMM", "%b"),
]


def java_time_pattern_to_strptime(pattern: str) -> str:
    """Translate the common subset of java.time format patterns to strptime.

    Covers the patterns exercised by the reference's tests
    (e.g. ``MM-dd-yyyy HH:mm:ss``, ``yyyy/MM/dd HH:mm:ss``,
    ``yyyy-MM-dd HH:mm:ss.SSSXXX``, ``dd.MM.yyyy``). Quoted literals ('T')
    are unwrapped.
    """
    out = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "'":
            j = pattern.find("'", i + 1)
            if j == -1:
                out.append(pattern[i + 1:])
                i = n
            else:
                out.append(pattern[i + 1: j].replace("%", "%%"))
                i = j + 1
            continue
        for tok, repl in _JAVA_TOKENS:
            if pattern.startswith(tok, i):
                out.append(repl)
                i += len(tok)
                break
        else:
            out.append(c.replace("%", "%%"))
            i += 1
    return "".join(out)


# language (or full lang-REGION override) -> (decimal sep, grouping seps).
# Grouping is a string of ACCEPTED separator chars (space-grouping locales
# accept regular/no-break/narrow-no-break spaces interchangeably).
_LOCALE_SEPS = {
    "en": (".", ","), "ja": (".", ","), "ko": (".", ","), "zh": (".", ","),
    "th": (".", ","), "hi": (".", ","), "he": (".", ","), "ar": (".", ","),
    "de": (",", "."), "es": (",", "."), "it": (",", "."), "pt": (",", "."),
    "nl": (",", "."), "da": (",", "."), "tr": (",", "."), "id": (",", "."),
    "vi": (",", "."), "el": (",", "."), "ro": (",", "."), "hr": (",", "."),
    "sl": (",", "."),
    "fr": (",", "   "), "ru": (",", "   "),
    "pl": (",", "   "), "cs": (",", "   "),
    "sv": (",", "   "), "nb": (",", "   "),
    "no": (",", "   "), "fi": (",", "   "),
    "uk": (",", "   "), "sk": (",", "   "),
    "de-CH": (".", "'’"), "fr-CH": (".", "'’"),
    "it-CH": (".", "'’"), "en-IN": (".", ","),
}


def _locale_seps(locale: Optional[str]):
    """(decimal, grouping) separators for a BCP-47 tag; US semantics when
    unset. Unknown locales raise at first use (loud, like unknown codecs)."""
    if not locale:
        return ".", ","
    tag = locale.replace("_", "-")
    lang = tag.split("-", 1)[0].lower()
    exact = next(
        (v for k, v in _LOCALE_SEPS.items() if k.lower() == tag.lower()), None
    )
    seps = exact or _LOCALE_SEPS.get(lang)
    if seps is None:
        raise ValueError(f"Unsupported locale for number parsing: {locale!r}")
    return seps


def _float_with_grouping(value: str, locale: Optional[str] = None) -> float:
    """NumberFormat-style fallback (TypeCast.scala:57-60): grouping
    separators are stripped, the locale's decimal separator maps to '.'.
    Default (no locale) keeps the longstanding US behavior: '1,00' parses
    to 100. With locale='fr-FR', '1,00' parses to 1.0 and '1 234,5' to
    1234.5."""
    try:
        return float(value)
    except ValueError:
        dec, grp = _locale_seps(locale)
        stripped = value
        for g in grp:
            stripped = stripped.replace(g, "")
        if dec != ".":
            if "." in stripped:  # '.' is not valid in a comma-decimal locale
                raise
            stripped = stripped.replace(dec, ".", 1)
        return float(stripped)


def _decimal_lexical(value: str, locale: Optional[str] = None) -> str:
    """Decimal string with grouping separators removed (TypeCast.scala:
    62-63 comma-strip, generalized to the configured locale)."""
    dec, grp = _locale_seps(locale)
    out = value
    for g in grp:
        out = out.replace(g, "")
    if dec != "." and "." not in out:
        out = out.replace(dec, ".", 1)
    return out


def cast_to(datum: Optional[str], data_type: T.DataType, options: XmlOptions) -> Any:
    """Cast one string to the given Spark type (TypeCast.scala:44-76 +
    convertTo:168-198, merged: trim when ignoreSurroundingSpaces, then null
    checks, then sign-safe numeric parsing). Raises on failure — callers route
    that into the parse-mode policy."""
    value = datum
    if value is not None and options.ignore_surrounding_spaces:
        value = value.strip()
    if value is None or value == options.null_value or (
        options.treat_empty_values_as_nulls and value == ""
    ):
        return None

    tname = data_type.typeName()
    if tname == "string":
        return value
    if tname == "boolean":
        lv = value.lower()
        if lv in ("true", "1"):
            return True
        if lv in ("false", "0"):
            return False
        raise ValueError(f"For input string: {value}")
    if tname in ("byte", "short", "integer", "long"):
        neg = value.startswith("-")
        body = _strip_sign(value)
        if "_" in body:
            raise ValueError(f"For input string: {value}")
        iv = int(body)
        if neg:
            iv = -iv
        lo, hi = {
            "byte": (_INT8_MIN, _INT8_MAX),
            "short": (_INT16_MIN, _INT16_MAX),
            "integer": (_INT32_MIN, _INT32_MAX),
            "long": (_INT64_MIN, _INT64_MAX),
        }[tname]
        if not lo <= iv <= hi:
            raise ValueError(f"value out of range for {tname}: {value}")
        return iv
    if tname in ("double", "float"):
        neg = value.startswith("-")
        body = _strip_sign(value)
        if "_" in body:
            raise ValueError(f"For input string: {value}")
        fv = _float_with_grouping(body, options.locale)
        return -fv if neg else fv
    if tname == "decimal":
        d = _decimal.Decimal(_decimal_lexical(value, options.locale))
        return d.quantize(
            _decimal.Decimal(1).scaleb(-data_type.scale),
            rounding=_decimal.ROUND_HALF_UP,
        )
    if tname == "timestamp":
        ts = parse_xml_timestamp(value, options)
        if ts is None:
            raise ValueError(f"cannot convert value {value} to Timestamp")
        return ts
    if tname == "date":
        dv = parse_xml_date(value, options)
        if dv is None:
            raise ValueError(f"cannot convert value {value} to Date")
        return dv
    if tname == "void":  # NullType: treated as string (convertTo, :182)
        return value
    raise ValueError(f"Unsupported type: {tname}")
