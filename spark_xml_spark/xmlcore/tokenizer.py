"""Row-region extraction: find ``<rowTag ...>...</rowTag>`` byte regions.

Python re-implementation of the *semantics* of the reference's Hadoop input
format (/root/reference/src/main/scala/com/databricks/spark/xml/
XmlInputFormat.scala:193-313):

- a "record" is the byte region from a rowTag start tag through its matching
  end tag, found by raw stream matching without parsing the whole document
- start tags may carry attributes (scan to '>' — XmlInputFormat.scala:211-217)
  and may be self-closing (``<tag .../>`` — XmlInputFormat.scala:290-298)
- nested same-name tags are depth-counted (XmlInputFormat.scala:226-313)
- split ownership: a record belongs to the byte range where its start tag
  begins; scanning stops once the cursor passes the range end
  (XmlInputFormat.scala:198), so records straddling a boundary are read by
  exactly one task — the no-loss/no-duplication invariant asserted by
  XmlPartitioningSuite.scala:27-72

One scanner serves every byte path (plain ranges, bzip2 block ranges,
transcoded charsets, in-memory strings): :func:`_record_spans` counts rowTag
depth over the matches of one scanner regex (:func:`_scanner`), so the
per-byte work runs in the regex engine's C loop; stretches that memchr
proves free of quotes and markup take its lean open/close-only form. The
regex steps over comments, CDATA sections, processing instructions and
declarations whole, and reads attribute values quote-aware, so a row tag,
'>' or an end tag inside any of them cannot count — strictly more robust
than the reference scanner, with no behavior change on its fixtures. A tag
whose quote never closes degrades to the reference's first-'>' rule
(:func:`_settle`).

Scale note: each Spark task scans only its own byte range with a bounded
buffer (memory ~ max record size + chunk), so the scan parallelizes to
arbitrary file sizes. gzip is not splittable -> whole-file range; bzip2 IS
splittable: byte-range splits over the compressed file with block-aligned
ownership (bz2split module; the reference's BYBLOCK mode,
XmlInputFormat.scala:93-103).
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

from spark_xml_spark.xmlcore import codecs, fs

_CHUNK = 1 << 20

# Charsets where '<', '>', '/', '"' are single ASCII bytes (safe to scan raw).
_ASCII_COMPAT_PREFIXES = ("utf-8", "utf8", "ascii", "latin", "iso-8859", "cp12", "koi8")


def is_ascii_compatible(charset: str) -> bool:
    c = charset.lower().replace("_", "-")
    return c.startswith(_ASCII_COMPAT_PREFIXES)


# Fixed code-unit widths for the UTF-16/32 families: these split in
# parallel via the transcoding scanner (_scan_unit_width_range). Other
# non-ASCII-compatible charsets probe as width-1 below when their codec
# is provably stateless single-byte (EBCDIC family etc.); multi-byte CJK
# codecs split via the '<'-aligned transcode when lt_safe_multibyte
# proves re-sync (_scan_lt_aligned_range); only charsets where a raw
# 0x3C is ambiguous (ISO-2022, HZ) stay whole-file.
_UNIT_WIDTHS = {
    "utf-16": 2, "utf-16-le": 2, "utf-16-be": 2, "utf-16le": 2, "utf-16be": 2,
    "utf-32": 4, "utf-32-le": 4, "utf-32-be": 4, "utf-32le": 4, "utf-32be": 4,
}


@functools.lru_cache(maxsize=64)
def _single_byte_codec_width(charset: str) -> Optional[int]:
    """1 when ``charset`` is a stateless single-byte Python codec: every
    byte fed ALONE decodes to exactly one char with nothing buffered, so
    any byte offset is a character boundary and byte-range splits are
    safe through the per-split incremental transcode (the reference
    decodes any charset per split via InputStreamReader,
    XmlInputFormat.scala:76-122 — this is the same guarantee, proven
    against the codec instead of assumed). Multi-byte or stateful codecs
    buffer on some lead/escape byte (0 chars out) and are rejected."""
    import codecs as _pyc

    try:
        dec = _pyc.getincrementaldecoder(charset)(errors="replace")
    except LookupError:
        return None
    for b in range(256):
        if len(dec.decode(bytes((b,)))) != 1:
            return None
    if dec.decode(b"", final=True):
        return None
    return 1


def unit_width(charset: str) -> Optional[int]:
    c = charset.lower().replace("_", "-")
    w = _UNIT_WIDTHS.get(c)
    if w is not None:
        return w
    if is_ascii_compatible(charset):
        # raw byte scanner + clean-window fast path own these; routing
        # them through the transcoder would be a regression
        return None
    return _single_byte_codec_width(c)


@functools.lru_cache(maxsize=64)
def lt_safe_multibyte(charset: str) -> bool:
    """True when ``charset`` is a multi-byte codec where the byte 0x3C
    ('<') appears ONLY as the one-byte encoding of '<' itself — never
    inside a multi-byte sequence and never as a lead byte of anything
    else — and no shift/escape state exists. Then every 0x3C in the raw
    stream is a character boundary where a fresh decoder may start, so
    byte-range splits are safe: each task aligns its scan to the first
    '<' at/after its range start and transcodes from there (the per-
    split InputStreamReader decode of XmlInputFormat.scala:76-122,
    extended to CJK codecs with a PROVEN alignment rule instead of an
    assumed one).

    Holds for Shift-JIS/cp932 (trail bytes 0x40+), Big5/cp950 (trail
    0x40+), EUC-JP/KR (all components 0x80+), GBK/GB2312/GB18030
    (trails 0x40+; 4-byte form uses digit bytes 0x30-0x39). Rejects
    ISO-2022-* (ESC-stateful; 0x3C is a legal second byte of a shifted
    2-byte code) and HZ (shift sequences), proven by the sweep below
    rather than by a charset allowlist; UTF-7 is rejected BY NAME — it
    passes every sweep, but RFC 2152 makes the direct form of '<'
    optional, so a conformant file may contain no 0x3C byte at all."""
    c = charset.lower().replace("_", "-")
    if is_ascii_compatible(charset) or unit_width(charset) is not None:
        return False
    import codecs as _pyc

    try:
        canonical = _pyc.lookup(c).name
    except LookupError:
        return False
    if canonical == "utf-7":
        # UTF-7 passes every byte-sweep below (Python's encoder emits
        # '<' directly and base64 runs never contain 0x3C), but the
        # SPEC (RFC 2152) makes direct encoding of set-O chars like '<'
        # OPTIONAL: a conformant producer (e.g. .NET UTF7Encoding) may
        # write '<' as '+ADw-', leaving ZERO 0x3C bytes in the file —
        # '<'-alignment would silently lose every record. No sweep of
        # OUR codec can prove a negative over all conformant encoders,
        # so the alternative-representation family is rejected by name.
        return False
    # the structural chars the transcoded scanner emits patterns for
    # must be ASCII-identical (they are re-encoded as UTF-8 after the
    # transcode, so only '<' alignment strictly needs it — but a codec
    # that remaps ASCII punctuation is not in this family anyway)
    try:
        for ch in "<>/\"' \t\r\n=!?[]-":
            if ch.encode(c) != ch.encode("ascii"):
                return False
    except (UnicodeEncodeError, LookupError):
        return False
    # sweep the BMP (+ an astral sample for 4-byte GB18030 forms):
    # 0x3C anywhere in a non-'<' encoding breaks alignment; 0x1B (ESC) /
    # 0x0E / 0x0F mark shift-state codecs where a fresh decoder cannot
    # start at a raw '<'
    probe = list(range(0x80, 0x10000)) + list(range(0x10000, 0x10200)) \
        + [0x20000, 0x2A6D6]
    multi = False
    samples = []
    for cp in probe:
        if 0xD800 <= cp <= 0xDFFF:
            continue
        try:
            b = chr(cp).encode(c)
        except UnicodeEncodeError:
            continue
        if 0x3C in b or 0x1B in b or 0x0E in b or 0x0F in b:
            return False
        if len(b) > 1:
            multi = True
            if len(samples) < 64 and cp % 251 == 0:
                samples.append(chr(cp))
    if not multi:
        return False
    # functional re-sync proof: encode a STREAM (stateful encoders may
    # merge runs across chars), cut it at the 0x3C byte, and require a
    # fresh decoder on the tail to reproduce '<r>' + suffix exactly —
    # the exact operation the split scanner performs at its boundary
    for s in samples[:16]:
        stream = (s + "<r>" + s).encode(c)
        i = stream.find(b"<")
        if i < 0:
            return False
        if stream[i:].decode(c, errors="replace") != "<r>" + s:
            return False
    return True


@dataclass(frozen=True)
class FileSplit:
    """One reader task's byte range. end == -1 means 'to EOF'."""

    path: str
    start: int
    end: int  # exclusive owner boundary for record *starts*
    compression: Optional[str] = None  # None | 'gzip' | 'bz2' | 'xz' | 'deflate'
    whole_file: bool = False
    # Treat the file as ending at this byte (-1 = real EOF). Streaming
    # replay sets this to the size recorded in the committed offset so a
    # file that grew between snapshot and read yields identical rows; for
    # compressed files it caps the COMPRESSED stream.
    eof: int = -1


class _CapReader:
    """Wrap a binary stream, serving at most ``remaining`` further bytes."""

    __slots__ = ("_fh", "_remaining")

    def __init__(self, fh, remaining: int):
        self._fh = fh
        self._remaining = max(remaining, 0)

    def read(self, n: int = -1) -> bytes:
        if self._remaining <= 0:
            return b""
        if n is None or n < 0 or n > self._remaining:
            n = self._remaining
        chunk = self._fh.read(n)
        self._remaining -= len(chunk)
        return chunk

    def close(self) -> None:
        self._fh.close()


def _strip_scheme(p: str) -> str:
    return fs.strip_local_scheme(p)


def expand_paths(path) -> List[str]:
    """Resolve a path / directory / glob (or list of them) to data files.
    Local paths and ``file:`` URIs use the stdlib; any other scheme
    (s3://, gs://, hdfs://, ...) routes through the pyarrow.fs seam
    (xmlcore.fs), so remote filesystems work end-to-end."""
    return [p for p, _ in _expand_with_sizes(path)]


def _expand_with_sizes(path) -> List[tuple]:
    paths = [path] if isinstance(path, str) else list(path)
    out: List[tuple] = []
    for p in paths:
        out.extend(fs.list_data_files(p))
    if not out:
        raise FileNotFoundError(f"No input files found under: {path}")
    return out


def _compression_of(path: str) -> Optional[str]:
    return codecs.compression_of(path)


def plan_splits(
    path,
    charset: str = "UTF-8",
    target_split_size: int = 128 * 1024 * 1024,
    files: Optional[List[tuple]] = None,
) -> List[FileSplit]:
    """Driver-side split planning: uncompressed files in any
    ASCII-compatible, fixed-unit-width (UTF-16/32), stateless
    single-byte (EBCDIC family), or '<'-unambiguous multi-byte
    (Shift-JIS/Big5/EUC/GBK — lt_safe_multibyte) charset are carved
    into byte ranges (the analogue of HDFS splits); compressed files
    (except splittable bz2) and shift-state charsets (ISO-2022, HZ)
    become one whole-file split each. ``files`` accepts a pre-listed
    [(path, size), ...] so callers that already enumerated the tree
    don't list it twice."""
    splits: List[FileSplit] = []
    for f, size in (files if files is not None else _expand_with_sizes(path)):
        comp = _compression_of(f)
        if comp == "bz2" and is_ascii_compatible(charset):
            # bzip2 is block-splittable (Hadoop BYBLOCK semantics,
            # XmlInputFormat.scala:93-103): byte-range splits over the
            # compressed file; each task owns the blocks starting in its
            # range. Multi-stream (pbzip2-style) archives split too — the
            # block reader chains across validated interior stream footers.
            from spark_xml_spark.xmlcore import bz2split

            if bz2split.read_level(f) is None or size <= target_split_size:
                splits.append(FileSplit(f, 0, -1, comp, whole_file=True))
                continue
            n = (size + target_split_size - 1) // target_split_size
            step = (size + n - 1) // n
            for i in range(0, size, step):
                splits.append(FileSplit(f, i, min(i + step, size), comp))
            continue
        if comp is not None or not (
            is_ascii_compatible(charset) or unit_width(charset)
            or lt_safe_multibyte(charset)
        ):
            splits.append(FileSplit(f, 0, -1, comp, whole_file=True))
            continue
        if size <= target_split_size:
            splits.append(FileSplit(f, 0, size if size else 1))
            continue
        n = (size + target_split_size - 1) // target_split_size
        step = (size + n - 1) // n
        w = unit_width(charset)
        if w:
            step += (-step) % w  # unit-aligned boundaries for UTF-16/32
        for i in range(0, size, step):
            splits.append(FileSplit(f, i, min(i + step, size)))
    return splits


class _Buffer:
    """Incrementally-loaded window over a binary stream, addressed by absolute
    offset. Memory stays bounded: consumed prefixes are discarded."""

    __slots__ = ("_fh", "_buf", "_base")

    def __init__(self, fh, base: int = 0):
        self._fh = fh
        self._buf = b""
        self._base = base

    @property
    def end_loaded(self) -> int:
        return self._base + len(self._buf)

    def load(self) -> bool:
        """Append one chunk; False at EOF."""
        chunk = self._fh.read(_CHUNK)
        if chunk:
            self._buf += chunk
        return bool(chunk)

    def ensure(self, abs_pos: int) -> bool:
        """Load until abs_pos is buffered (exclusive). False once EOF blocks it."""
        while self.end_loaded < abs_pos:
            if not self.load():
                return False
        return True

    def discard_to(self, abs_pos: int) -> None:
        """Lazy prefix discard: slicing the buffer per record would memcpy
        the remaining window every time (quadratic per chunk); only compact
        once the consumed prefix is sizeable."""
        if abs_pos - self._base >= _CHUNK // 2:
            self._buf = self._buf[abs_pos - self._base:]
            self._base = abs_pos


def _open_stream(split: FileSplit):
    if split.compression is not None:
        raw = fs.open_input(split.path)
        if split.eof >= 0:
            raw = _CapReader(raw, split.eof)
        return codecs.wrap_read(raw, split.compression)
    # random-access handle: scan_split seeks to the split start, so a task
    # never pulls bytes before its range (ranged reads on remote stores)
    return fs.open_input_at(split.path, 0)


class _Utf8Transcoder:
    """Binary-stream adapter: serves the UTF-8 transcoding of a unit-width
    charset stream (UTF-16/32) so the byte-space record scanner
    (_record_spans, with its quote/comment/CDATA/depth rules) applies
    unchanged — the analogue of the reference's per-split InputStreamReader
    decode (XmlInputFormat.scala:76-122).

    Ownership: ``owned_src_bytes`` counts source bytes belonging to this
    split (unit-aligned; -1 = unbounded). Reads are split exactly at that
    boundary, so ``owned_utf8_end`` — the transcoded offset of the first
    byte produced from unowned source — is exact. A surrogate pair
    straddling the boundary is held in decoder state and materializes on
    the unowned side; '<' is a single BMP unit and can never straddle, so
    record-start ownership is unaffected.
    """

    __slots__ = ("_fh", "_dec", "_owned_left", "owned_utf8_end", "_produced",
                 "_src_eof")

    def __init__(self, fh, py_charset: str, owned_src_bytes: int):
        import codecs as _pyc

        self._fh = fh
        self._dec = _pyc.getincrementaldecoder(py_charset)(errors="replace")
        self._owned_left = owned_src_bytes
        self.owned_utf8_end: Optional[int] = None
        self._produced = 0
        self._src_eof = False

    def read(self, n: int = -1) -> bytes:
        while not self._src_eof:
            if self._owned_left > 0:
                src = self._fh.read(min(_CHUNK, self._owned_left))
            else:
                src = self._fh.read(_CHUNK)
            if not src:
                self._src_eof = True
                out = self._dec.decode(b"", final=True).encode("utf-8")
                self._produced += len(out)
                return out
            crossing = False
            if self._owned_left > 0:
                self._owned_left -= len(src)
                crossing = self._owned_left == 0
            out = self._dec.decode(src).encode("utf-8")
            self._produced += len(out)
            if crossing:
                # boundary reached exactly at this chunk's end: everything
                # produced so far came from owned source bytes
                self.owned_utf8_end = self._produced
                self._owned_left = -1
            if out:
                return out
        return b""


def _resolve_unit_charset(split: FileSplit, charset: str, w: int) -> str:
    """Endianness-explicit Python codec name for a unit-width charset.

    Bare 'utf-16'/'utf-32' with a mid-file split needs the file-head BOM
    (there is none mid-stream); absent BOM falls back to LE, matching
    Python's own bare-codec default. Whole-stream reads (split.start == 0
    or compressed) keep the bare codec, which consumes the BOM itself."""
    c = charset.lower().replace("_", "-")
    if c in ("utf-16", "utf-32") and split.start > 0 and split.compression is None:
        with fs.open_input_at(split.path, 0) as fh:
            head = fh.read(w)
        if c == "utf-16":
            return "utf-16-be" if head[:2] == b"\xfe\xff" else "utf-16-le"
        if head[:4] == b"\x00\x00\xfe\xff":
            return "utf-32-be"
        return "utf-32-le"
    return c


def _scan_unit_width_range(
    split: FileSplit, row_tag: str, charset: str, w: int
) -> Iterator[str]:
    """Split-parallel scan for UTF-16/32: transcode the owned unit-aligned
    byte range (plus unowned overflow for the last straddling record) to
    UTF-8 and run the standard byte scanner over it. Ownership contract
    identical to scan_split: a record belongs to the split where its start
    tag's first source byte lies; both neighbours align the boundary to
    the same unit grid (BOM is exactly one unit, so the grid is byte 0)."""
    cs = _resolve_unit_charset(split, charset, w)
    if split.compression is not None:
        fh = _open_stream(split)  # decompressed whole stream, all owned
        owned = -1
    else:
        start = split.start - (split.start % w)
        end = split.end if split.end < 0 else split.end - (split.end % w)
        fh = _seek_or_skip(_open_stream(split), start, split.eof)
        owned = -1 if end < 0 else max(end - start, 0)
        if owned == 0 and end >= 0:
            fh.close()
            return
    yield from _scan_transcoded(fh, cs, owned, row_tag)


def _seek_or_skip(fh, start: int, eof: int):
    """Position ``fh`` at ``start`` (seek, or read-skip for non-seekable
    streams) and apply the committed-offset cap when ``eof`` >= 0 —
    the shared preamble of every ranged transcoding scanner."""
    try:
        fh.seek(start)
    except (OSError, ValueError):
        left = start
        while left > 0:
            skipped = fh.read(min(_CHUNK, left))
            if not skipped:
                break
            left -= len(skipped)
    if eof >= 0:
        fh = _CapReader(fh, eof - start)
    return fh


class _PrefixedReader:
    """Serve ``head`` bytes, then the rest of ``fh`` — used when the
    '<'-alignment search has already consumed part of the stream."""

    __slots__ = ("_head", "_fh")

    def __init__(self, head: bytes, fh):
        self._head = head
        self._fh = fh

    def read(self, n: int = -1) -> bytes:
        if self._head:
            out = self._head if n < 0 else self._head[:n]
            self._head = self._head[len(out):]
            return out
        return self._fh.read(n)

    def close(self) -> None:
        self._fh.close()


def _scan_lt_aligned_range(
    split: FileSplit, row_tag: str, charset: str
) -> Iterator[str]:
    """Split-parallel scan for lt-safe multi-byte charsets (Shift-JIS,
    Big5, EUC-JP/KR, GBK/GB18030 — :func:`lt_safe_multibyte`): byte
    offsets are not character boundaries, but every 0x3C byte IS one
    (proven by the probe), so each task aligns to the first '<' at/after
    its range start and transcodes from there. Ownership: a record
    belongs to the split whose [start, end) contains its start-tag's
    '<' source byte — the left neighbour's transcoder stops admitting
    record starts at the same boundary (owned_utf8_end), and no '<' can
    exist in the unaligned gap [start, first-'<'), so the partition is
    exact: no loss, no duplication. The reference decodes any charset
    per split (XmlInputFormat.scala:76-122) but ASSUMES re-sync; this
    path only runs for codecs where the probe proved it."""
    cs = charset.lower().replace("_", "-")
    if split.compression is not None:
        # decompressed whole stream, all owned (gzip etc.: one split)
        yield from _scan_transcoded(_open_stream(split), cs, -1, row_tag)
        return
    start = split.start
    fh = _seek_or_skip(_open_stream(split), start, split.eof)
    if start == 0:
        # file head: decode the prologue too, no alignment needed
        owned = -1 if split.end < 0 else split.end
        if owned == 0 and split.end >= 0:
            fh.close()
            return
        yield from _scan_transcoded(fh, cs, owned, row_tag)
        return
    # align: find the first 0x3C at/after start (a guaranteed character
    # boundary); record starts can only live at '<' bytes, so nothing
    # ownable precedes it. The search is BOUNDED by split.end: a '<' at
    # or beyond end is the right neighbour's to own, so a split whose
    # range lies inside a '<'-free region (huge text node) must not
    # stream to EOF looking for one — each task reads only its range
    # plus at most one chunk.
    pos = start
    head = b""
    while True:
        chunk = fh.read(_CHUNK)
        if not chunk:
            fh.close()
            return  # no '<' in the remainder: nothing starts here
        i = chunk.find(b"<")
        if i >= 0:
            pos += i
            head = chunk[i:]
            break
        pos += len(chunk)
        if split.end >= 0 and pos >= split.end:
            fh.close()
            return  # no '<' in the owned range: nothing starts here
    if split.end >= 0 and pos >= split.end:
        fh.close()
        return  # first '<' lies beyond the owned range
    owned = -1 if split.end < 0 else split.end - pos
    yield from _scan_transcoded(_PrefixedReader(head, fh), cs, owned,
                                row_tag)


def _scan_transcoded(fh, cs: str, owned: int, row_tag: str) -> Iterator[str]:
    """Shared scan loop over a :class:`_Utf8Transcoder` stream: UTF-16/32
    unit-aligned ranges and lt-aligned multi-byte ranges both run the
    record scanner over the transcoded UTF-8 stream; ``owned`` source
    bytes bound where new record starts are admitted."""
    tc = _Utf8Transcoder(fh, cs, owned)

    def owns(pos: int) -> bool:
        # None until the transcoder crosses the source boundary: every
        # byte produced before that IS owned
        limit = tc.owned_utf8_end
        return limit is None or pos < limit

    try:
        yield from _decoded(
            _record_spans(_Buffer(tc), row_tag.encode("utf-8"), 0, owns),
            "utf-8",
        )
    finally:
        fh.close()


def _decoded(batches, charset: str) -> Iterator[str]:
    for data, base, spans, _irregular in batches:
        for s, e in spans:
            yield data[s - base:e - base].decode(charset, errors="replace")


def scan_split(split: FileSplit, row_tag: str, charset: str = "UTF-8") -> Iterator[str]:
    """Yield decoded record strings whose start tag begins inside the split.

    Ownership contract: same-name tags nested INSIDE a record are depth-
    counted correctly once the record's start is owned, but the first-
    start scan after a split boundary is context-free — a rowTag element
    nested inside itself directly after the boundary is claimed as a
    record (records are never lost, the nested fragment may duplicate).
    This is byte-for-byte the reference's behavior
    (XmlInputFormat.scala:193-224 readUntilStartElement); the supported
    contract is rowTag elements that do not self-nest. Property-tested in
    tests/test_property_roundtrip.py."""
    for item in scan_split_windows(split, row_tag, charset):
        if item[0] == "rec":
            yield item[1]
        else:
            text, spans = item[1], item[2]
            for s, e in spans:
                yield text[s:e]


# single-byte charsets: one byte == one character, so byte offsets from the
# scanner are valid str offsets after decoding
_SINGLE_BYTE_PREFIXES = ("ascii", "latin", "iso-8859", "cp12", "koi8")


def scan_split_windows(
    split: FileSplit, row_tag: str, charset: str = "UTF-8"
) -> Iterator[tuple]:
    """Window-granular variant of :func:`scan_split` — the fused-scan
    interface for the columnar reader. Yields, in document order:

    - ``("win", text, spans)``: a run of consecutive clean records decoded
      ONCE; ``spans`` are ``(start, end)`` *str* offsets of the owned
      records inside ``text``. A record is clean when the bytes from the
      previous record's end through its own end hold no quote, no ``<!``
      and no ``<?``, and it holds no nested or self-closing same-name row.
      Emitted only when byte offsets are valid str offsets (single-byte
      charset, or an all-ASCII run under an ASCII-compatible charset) — so
      downstream can run a learned whole-record regex straight over the
      window without per-record slicing/decoding.
    - ``("rec", record_str)``: one decoded record (dirty records,
      compressed bz2 ranges, transcoded charsets, non-ASCII runs).

    scan_split() is the flattening wrapper, so both views share one
    scanner and one ownership rule."""
    if split.compression == "bz2" and not split.whole_file:
        for r in _scan_bz2_range(split, row_tag, charset):
            yield ("rec", r)
        return
    w = unit_width(charset)
    if w is not None:
        # UTF-16/32: split-parallel via per-split transcode (the
        # reference's InputStreamReader-per-split shape,
        # XmlInputFormat.scala:76-122) — no whole-file degrade
        for r in _scan_unit_width_range(split, row_tag, charset, w):
            yield ("rec", r)
        return
    if not is_ascii_compatible(charset):
        if lt_safe_multibyte(charset):
            # Shift-JIS/Big5/EUC/GBK family: split-parallel via the
            # '<'-aligned per-split transcode (compressed files arrive
            # as one whole-file split and take the owned=-1 path)
            for r in _scan_lt_aligned_range(split, row_tag, charset):
                yield ("rec", r)
            return
        # Stateful exotics (ISO-2022, HZ): decode the whole stream
        # (decompressing if needed) and scan text.
        fh = fs.open_input(split.path)
        try:
            if split.eof >= 0:
                fh = _CapReader(fh, split.eof)
            if split.compression is not None:
                fh = codecs.wrap_read(fh, split.compression)
            text = fh.read().decode(charset)
        finally:
            fh.close()
        for r in scan_string(text, row_tag):
            yield ("rec", r)
        return

    single_byte = charset.lower().replace("_", "-").startswith(
        _SINGLE_BYTE_PREFIXES
    )
    fh = _open_stream(split)
    try:
        if split.start > 0:
            # cheap skip: stream to the start offset (seek on plain files)
            try:
                fh.seek(split.start)
                if split.compression is None and split.eof >= 0:
                    fh = _CapReader(fh, split.eof - split.start)
                buf = _Buffer(fh, base=split.start)
            except (OSError, ValueError):
                if split.compression is None and split.eof >= 0:
                    fh = _CapReader(fh, split.eof)
                buf = _Buffer(fh)
                buf.ensure(split.start)
                buf.discard_to(split.start)
        else:
            if split.compression is None and split.eof >= 0:
                fh = _CapReader(fh, split.eof)
            buf = _Buffer(fh)
        limit = split.end  # only record *starts* before this belong to us
        batches = _record_spans(
            buf, row_tag.encode(charset), split.start,
            (lambda pos: pos < limit) if limit != -1 else (lambda pos: True),
        )
        yield from _window_items(batches, split.start, charset, single_byte)
    finally:
        fh.close()


# bytes after which a stretch is no longer clean: quotes (row-tag bytes can
# hide in attribute values), comments/CDATA/DOCTYPE ('<!') and processing
# instructions ('<?')
_OFFENDERS = (b'"', b"'", b"<!", b"<?")


def _next_offender(data: bytes, at: int, end: int, hits: List[int]) -> int:
    """First offender in ``data[at:end]`` (``end`` when none). ``hits``
    holds each offender's next position from earlier calls; only those
    that ``at`` has passed are searched again. Each search is a memchr
    for the offender's last byte (a two-byte ``bytes.find`` runs ~70x
    slower on tag-dense data)."""
    for k, h in enumerate(hits):
        if h < at:
            pat = _OFFENDERS[k]
            w = len(pat) - 1
            h = data.find(pat[w:], at + w, end)
            while h >= 0 and not data.startswith(pat, h - w):
                h = data.find(pat[w:], h + 1, end)
            hits[k] = h - w if h >= 0 else end
    return min(hits)


def _window_items(batches, prev: int, charset: str, single_byte: bool):
    """Turn the scanner's batches into scan_split_windows items: runs of
    clean records become one ``"win"``, the rest ``"rec"``. ``prev`` is
    where the bytes the first record answers for begin (the scan start)."""
    for data, base, spans, irregular in batches:
        hi = spans[-1][1] - base
        hits = [-1] * len(_OFFENDERS)
        first = -1  # next offender at/after prev (relative)
        run: List[Tuple[int, int]] = []
        for i, (s, e) in enumerate(spans):
            lo = max(prev - base, 0)  # a refill may have dropped the gap
            if first < lo:
                first = _next_offender(data, lo, hi, hits)
            if first >= hi and not irregular:
                run.extend(spans[i:])  # the rest of the batch is clean
                break
            if first >= e - base and s not in irregular:
                run.append((s, e))
            else:
                if run:
                    yield from _window(data, base, run, charset, single_byte)
                    run = []
                yield ("rec", data[s - base:e - base].decode(
                    charset, errors="replace"))
            prev = e
        prev = spans[-1][1]
        if run:
            yield from _window(data, base, run, charset, single_byte)


def _window(data: bytes, base: int, run, charset: str, single_byte: bool):
    lo, hi = run[0][0], run[-1][1]
    wb = data[lo - base:hi - base]
    if single_byte or wb.isascii():
        yield ("win", wb.decode(charset, errors="replace"),
               [(s - lo, e - lo) for s, e in run])
    else:
        for s, e in run:
            yield ("rec", data[s - base:e - base].decode(
                charset, errors="replace"))


# A start tag (name + attributes) longer than this is declared malformed:
# bounds the quote-aware scan when an UNBALANCED attribute quote would
# otherwise swallow the rest of the stream.
_MAX_TAG_BYTES = 1 << 20

# Attributes, quote-aware, in unrolled form: every quoted value is consumed
# whole, so '>' or an end tag inside it cannot end anything. Possessive
# quantifiers: a failed match never backtracks into the run it consumed.
_ATTRS = rb"""[^"'>]*+(?:(?:"[^"]*+"|'[^']*+')[^"'>]*+)*+"""
_ATTRS_TO_END = re.compile(_ATTRS + rb"\Z")


@functools.lru_cache(maxsize=64)
def _scanner(tag: bytes):
    """The record-scanning regex for ``tag``, and its lean form.

    Every match starts at a '<' and names its kind in an empty marker
    group (``m.lastgroup``). Markup the scan steps over whole has no
    marker: comments, CDATA, PIs, ``<!...>`` declarations. ``close``/
    ``open`` are rowTag tags; ``tag`` is any other tag with a quoted
    attribute, consumed whole so '>' or an end tag inside its value cannot
    count. ``more`` (markup) and ``moretag`` run past the loaded bytes:
    load more, or at EOF / past _MAX_TAG_BYTES apply the degrade rule of
    :func:`_settle`. A tag with no quote and another name never matches:
    nothing in it can matter. Every alternative starts with a literal or a
    class, so the engine rejects a plain tag's '<' in a few byte compares
    and one scan of its name (a naive alternation over the same markup ran
    ~70x slower).

    The lean form keeps only the ``close`` and ``open`` branches: it is the
    same scanner over bytes that hold no quote, ``<!`` or ``<?`` and end on
    a complete tag, where no other branch can match (:func:`_matches`)."""
    t = re.escape(tag)
    close = rb"/" + t + rb"(?=[ \t\r\n>])[^>]*+>(?P<close>)"
    open_ = t + rb"(?=[ \t\r\n/>])" + _ATTRS + rb">(?P<open>)"
    full = re.compile(
        rb"<(?:"
        rb"!(?:--[^-]*+(?:-(?!->)[^-]*+)*+-->"
        rb"|\[CDATA\[[^\]]*+(?:\](?!\]>)[^\]]*+)*+\]\]>"
        rb"|(?!--|\[CDATA\[)[^>]*+>)"
        rb"|\?(?:[^?]*+(?:\?(?!>)[^?]*+)*+\?)?>"
        rb"|" + close + rb"|" + open_ +
        rb"|[!?](?P<more>)"
        rb"|[^\"'>]*+(?:(?:\"[^\"]*+\"|'[^']*+')" + _ATTRS + rb">(?P<tag>)"
        rb"|(?=[\"']|\Z)(?P<moretag>))"
        rb")"
    )
    return full, re.compile(rb"<(?:" + close + rb"|" + open_ + rb")")


# a clean stretch shorter than this stays on the full regex, and dirty data
# is looked at again only this many bytes on, so quote-dense data does not
# pay an offender search per quote
_LEAN_MIN = 4096


def _matches(tag: bytes, data: bytes, i: int):
    """The full scanner's matches over ``data[i:]``, in order. A clean
    stretch (no offender, found with memchr-speed finds) holds no markup
    and no quoted attribute, so only rowTag tags can match in it: it takes
    the lean regex, which rejects a plain tag's '<' several times faster.
    A stretch ends at the last '<' before the next offender (or the end of
    the loaded bytes): the construct there, which may hold the offender or
    be cut short by the end of the loaded bytes, is the full regex's."""
    full, lean = _scanner(tag)
    n = len(data)
    hits = [-1] * len(_OFFENDERS)
    off = _next_offender(data, i, n, hits)
    while True:
        if off - i >= _LEAN_MIN:
            cut = data.rfind(b"<", i, off + 1)
            if cut > i:
                yield from lean.finditer(data, i, cut)
                i = cut
        for m in full.finditer(data, i):
            yield m
            if m.end() > off:
                i = m.end()
                off = _next_offender(data, i, n, hits)
                if off - i >= _LEAN_MIN:
                    break
                off = i + _LEAN_MIN  # dirty here: look again this far on
        else:
            return


_NAME_END = frozenset(b" \t\r\n>/")
_RETRY = -2


def _self_closing(data: bytes, s: int, e: int) -> bool:
    """Tag data[s:e] ends in '/>' (whitespace allowed before '>')."""
    return data[s:e - 1].rstrip(b" \t\r\n").endswith(b"/")


def _settle(buf: _Buffer, s: int, oversize: bool) -> int:
    """Resolve the construct at '<' ``s`` that the scanner could not close
    within the loaded bytes (or whose tag exceeds _MAX_TAG_BYTES).

    Returns _RETRY after loading more bytes, -1 when the scan must stop
    (unterminated markup, or an unterminated tag with balanced quotes at
    EOF: a split/stream boundary), else the end of the tag under the
    degrade rule. Malformed-quote recovery: a tag whose quote is still
    open at EOF, or that runs past _MAX_TAG_BYTES, ends at its first '>'
    — the reference's quote-naive rule (XmlInputFormat does no quote
    tracking at all) — so one bad record cannot swallow the split's
    remaining records; the parser's mode policy judges the mis-framed
    record itself."""
    rel = s - buf._base
    nxt = buf._buf[rel + 1:rel + 2]
    markup = nxt in (b"!", b"?")
    if not oversize and (markup or buf.end_loaded - s <= _MAX_TAG_BYTES + 1):
        if buf.load():
            return _RETRY
        if markup or not nxt or _ATTRS_TO_END.match(buf._buf, rel + 1):
            return -1
    while True:
        j = buf._buf.find(b">", s + 1 - buf._base)
        if j >= 0:
            return buf._base + j + 1
        if not buf.load():
            return -1


def _record_spans(buf: _Buffer, tag: bytes, pos: int, owns):
    """The record scanner behind every byte path. From ``pos``, count
    rowTag depth over the scanner regex's matches (:func:`_matches`) and
    yield, per loaded
    window, ``(data, base, spans, irregular)``: ``spans`` are absolute
    ``(start, end)`` byte ranges of complete records in ``data`` (which
    starts at absolute offset ``base``); ``irregular`` holds the starts of
    records that are self-closing or contain a same-name row.

    Ownership: a record belongs to the caller when ``owns(start)`` holds
    for its start tag's '<'; the first unowned start (or unowned position
    at depth 0) ends the scan. On a refill the scan resumes where it
    stopped with its depth carried forward — it never rescans a record. An
    unterminated trailing record yields nothing."""
    ntag = len(tag)
    depth = 0
    rec = -1
    odd = False  # the open record holds a nested same-name row
    buf.ensure(pos + _CHUNK)
    while True:
        data, base = buf._buf, buf._base
        spans: List[Tuple[int, int]] = []
        irregular = set()
        resume = -1
        done = False
        for m in _matches(tag, data, pos - base):
            kind = m.lastgroup
            if kind is None:
                continue
            if kind == "close":
                if depth:
                    depth -= 1
                    if not depth:
                        spans.append((rec, base + m.end()))
                        if odd:
                            irregular.add(rec)
                continue
            s, e = base + m.start(), base + m.end()
            unclosed = kind in ("more", "moretag")
            if unclosed or e - s > _MAX_TAG_BYTES + 1:
                if not depth and not owns(s):
                    done = True
                    break
                e = _settle(buf, s, not unclosed)
                if e == _RETRY:
                    resume = s
                    break
                if e < 0:
                    done = True
                    break
                data = buf._buf  # _settle may have loaded; base is unchanged
                k = s - base + 1 + ntag
                kind = "open" if (data.startswith(tag, s - base + 1)
                                  and data[k] in _NAME_END) else "tag"
                resume = e
            if kind == "open":
                if not depth:
                    if not owns(s):
                        done = True
                        break
                    rec, odd = s, False
                else:
                    odd = True
                b = data[e - base - 2]
                if not (b == 47 or b in b" \t\r\n"
                        and _self_closing(data, s - base, e - base)):
                    depth += 1
                elif not depth:
                    spans.append((s, e))
                    irregular.add(s)
            if resume >= 0:
                break
        if spans:
            yield buf._buf, base, spans, irregular
        if done:
            return
        if resume >= 0:
            pos = resume
        else:
            pos = buf.end_loaded
            if not depth and not owns(pos):
                return
            if not buf.load():
                return  # EOF: an unterminated trailing record yields nothing
        buf.discard_to(rec if depth else pos)


def _scan_bz2_range(split: FileSplit, row_tag: str, charset: str) -> Iterator[str]:
    """Block-aligned bzip2 split scan: decompress from the first owned
    block, own every record whose start tag begins inside the owned blocks'
    bytes, continue into subsequent blocks only to finish a straddling
    record (Hadoop BYBLOCK semantics — see bz2split module docstring)."""
    from spark_xml_spark.xmlcore import bz2split

    end = split.end if split.end != -1 else fs.size_of(split.path)
    stream = bz2split.open_block_range(split.path, split.start, end)
    if stream is None:
        return
    try:
        yield from _decoded(
            _record_spans(_Buffer(stream), row_tag.encode(charset), 0,
                          stream.owns),
            charset,
        )
    finally:
        stream.close()


def scan_string(text: str, row_tag: str) -> Iterator[str]:
    """Scan an in-memory document (used for non-ASCII charsets and for
    schema_of_xml over whole documents)."""
    import io

    buf = _Buffer(io.BytesIO(text.encode("utf-8")))
    yield from _decoded(
        _record_spans(buf, row_tag.encode("utf-8"), 0, lambda pos: True),
        "utf-8",
    )
