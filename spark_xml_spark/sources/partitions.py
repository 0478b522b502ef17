"""Hive-style partition discovery for XML directory layouts.

The reference, being a Spark ``FileFormat``, inherits partitioned-directory
reads from Spark itself: ``/data/year=2024/region=EU/part.xml`` exposes
``year``/``region`` as typed partition columns (PartitioningAwareFileIndex —
public Spark behavior, not reference code). A Python data source gets none
of that for free; this module reimplements the discovery, and
``sources/datasource.py`` attaches the values. Filters on partition
columns run in Spark after the scan: no directory is pruned.

Semantics (matching Spark's discovery where noted):
- Only directories named ``name=value`` are descended into; other
  subdirectories are ignored (the flat reader never recursed, and silently
  mixing unrelated trees into one scan would be worse than skipping them).
- Values are URL-decoded (Spark escapes special chars on write);
  ``__HIVE_DEFAULT_PARTITION__`` decodes to NULL.
- Every file must carry the same partition-key sequence — a tree where
  one branch says ``year=.../region=...`` and another says ``region=...``
  is rejected, as is a mix of partitioned and top-level data files
  (Spark's "conflicting directory structures" error).
- Column types are inferred over all discovered values: bigint if every
  non-null value parses as a 64-bit integer, else double if every one
  parses as a float, else string. (Spark additionally infers dates; a
  date-looking value types as string here — cast in the query.) These
  types only shape an inferred schema: the reader casts the raw strings
  to whatever type the read schema declares.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Sequence, Tuple
from urllib.parse import unquote

from spark_xml_spark.xmlcore import fs

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class NoMatchingFilesError(FileNotFoundError):
    """pathGlobFilter matched zero files. A DISTINCT type because the
    reader's listing fallbacks swallow generic OSErrors (a missing path
    surfaces later in split planning) — but a zero-match filter must
    surface as the user's pointed error, never as a silent unfiltered
    scan of the whole directory."""


def _parse_segment(name: str) -> Optional[Tuple[str, Optional[str]]]:
    """'year=2024' -> ('year', '2024'); non-partition names -> None."""
    if "=" not in name or name.startswith(("_", ".")):
        return None
    key, _, raw = name.partition("=")
    if not key:
        return None
    val = unquote(raw)
    return key, (None if val == HIVE_NULL else val)


def _walk_local(base: str) -> List[Tuple[str, int, List[Tuple[str, Optional[str]]]]]:
    out: List[Tuple[str, int, List[Tuple[str, Optional[str]]]]] = []

    def rec(d: str, pvals: List[Tuple[str, Optional[str]]]) -> None:
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isfile(p):
                if not name.startswith(("_", ".")):
                    out.append((p, os.path.getsize(p), pvals))
            elif os.path.isdir(p):
                seg = _parse_segment(name)
                if seg is not None:
                    rec(p, pvals + [seg])

    rec(base, [])
    return out


def _walk_local_recursive(base: str) -> List[Tuple[str, int]]:
    """recursiveFileLookup listing: every data file under the tree,
    partition semantics ignored (hidden files/dirs still skipped)."""
    out: List[Tuple[str, int]] = []
    for d, dirnames, filenames in os.walk(base):
        dirnames[:] = sorted(
            n for n in dirnames if not n.startswith(("_", "."))
        )
        for name in sorted(filenames):
            if not name.startswith(("_", ".")):
                p = os.path.join(d, name)
                out.append((p, os.path.getsize(p)))
    return out


def _walk_remote(
    path: str, any_dir: bool = False
) -> List[Tuple[str, int, List[Tuple[str, Optional[str]]]]]:
    from pyarrow import fs as pafs

    filesystem, inner = fs._resolve(path)
    scheme = fs.scheme_of(path)
    sel = pafs.FileSelector(inner, recursive=True)
    out = []
    root = inner.rstrip("/")
    for fi in sorted(filesystem.get_file_info(sel), key=lambda x: x.path):
        if fi.type != pafs.FileType.File:
            continue
        rel = fi.path[len(root):].lstrip("/")
        segs = rel.split("/")
        base = segs[-1]
        if base.startswith(("_", ".")):
            continue
        if any(s.startswith(("_", ".")) for s in segs[:-1]):
            continue  # hidden directory anywhere on the path
        pvals: List[Tuple[str, Optional[str]]] = []
        ok = True
        for s in segs[:-1]:
            seg = _parse_segment(s)
            if seg is None:
                ok = False  # nested non-partition dir: skip (as local walk)
                break
            pvals.append(seg)
        if any_dir:
            # recursiveFileLookup: keep every file, no partition values
            out.append((f"{scheme}://{fi.path}", fi.size, []))
        elif ok:
            out.append((f"{scheme}://{fi.path}", fi.size, pvals))
    return out


def _is_int64(s: str) -> bool:
    try:
        return -(2**63) <= int(s) <= 2**63 - 1
    except ValueError:
        return False


def _is_float(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def discover_partitions(
    path,
    glob_filter: Optional[str] = None,
    recursive_lookup: bool = False,
) -> Tuple[List[Tuple[str, int, Tuple[Optional[str], ...]]], List[Tuple[str, str]]]:
    """Expand ``path`` (str or list) into
    ``([(file, size, raw_value_tuple)], [(column, spark_type)])``.

    For unpartitioned layouts the second element is ``[]`` and every
    value tuple is ``()`` — callers can treat that case exactly like the
    flat listing. Raises on inconsistent key sequences or a mix of
    partitioned and top-level data files under one directory.

    ``glob_filter`` is Spark's ``pathGlobFilter``: a glob matched against
    each data file's BASE NAME after listing (``*.xml`` skips sidecars
    sharing the directory); it filters files only, never partition
    directories. ``recursive_lookup`` is Spark's ``recursiveFileLookup``:
    every file under the tree is scanned and partition inference is
    DISABLED (Spark's documented exclusivity) — nested directories are
    descended into whether or not they are name=value shaped."""
    paths = [path] if isinstance(path, str) else list(path)
    walked: List[Tuple[str, int, List[Tuple[str, Optional[str]]]]] = []
    for p in paths:
        if fs.scheme_of(p) is None:
            local = fs.strip_local_scheme(p)
            if os.path.isdir(local):
                if recursive_lookup:
                    walked.extend(
                        (f, sz, []) for f, sz in _walk_local_recursive(local)
                    )
                else:
                    walked.extend(_walk_local(local))
            else:
                # file or glob: never partitioned
                walked.extend(
                    (f, sz, []) for f, sz in fs.list_data_files(p)
                )
        else:
            from pyarrow import fs as pafs

            filesystem, inner = fs._resolve(p)
            info = filesystem.get_file_info(inner)
            if info.type == pafs.FileType.Directory:
                if recursive_lookup:
                    walked.extend(
                        (f, sz, [])
                        for f, sz, _ in _walk_remote(p, any_dir=True)
                    )
                else:
                    walked.extend(_walk_remote(p))
            else:
                walked.extend(
                    (f, sz, []) for f, sz in fs.list_data_files(p)
                )
    if glob_filter:
        import fnmatch

        walked = [
            t
            for t in walked
            if fnmatch.fnmatch(os.path.basename(t[0].rstrip("/")), glob_filter)
        ]
        if not walked:
            raise NoMatchingFilesError(
                f"No input files under {path} match "
                f"pathGlobFilter {glob_filter!r}"
            )
    if not walked:
        raise FileNotFoundError(f"No input files found under: {path}")
    key_seqs = {tuple(k for k, _ in pv) for _, _, pv in walked}
    if len(key_seqs) > 1:
        raise ValueError(
            "conflicting partition directory structures under "
            f"{path!r}: found key sequences {sorted(key_seqs)}; every "
            "data file must sit under the same ordered set of "
            "name=value directories"
        )
    keys = next(iter(key_seqs))
    if not keys:
        return [(f, sz, ()) for f, sz, _ in walked], []
    # type inference per column over all raw values
    types: List[str] = []
    for i, k in enumerate(keys):
        vals = [pv[i][1] for _, _, pv in walked if pv[i][1] is not None]
        if vals and all(_is_int64(v) for v in vals):
            types.append("bigint")
        elif vals and all(_is_float(v) for v in vals):
            types.append("double")
        else:
            types.append("string")
    files = [
        (f, sz, tuple(v for _, v in pv)) for f, sz, pv in walked
    ]
    return files, list(zip(keys, types))


def append_partition_fields(schema, pcols):
    """schema + the discovered partition columns (typed, nullable) at the
    END — matching where the reader attaches their values. Raises on a
    name collision with a data field (a file element shadowing a
    directory key has no unambiguous value)."""
    from pyspark.sql import types as T

    if not pcols:
        return schema
    existing = {f.name for f in schema.fields}
    clash = [n for n, _ in pcols if n in existing]
    if clash:
        raise ValueError(
            f"partition column(s) {clash} collide with XML data fields; "
            "rename the directory keys or the elements"
        )
    tmap = {"bigint": T.LongType(), "double": T.DoubleType()}
    return T.StructType(
        list(schema.fields)
        + [T.StructField(n, tmap.get(t, T.StringType())) for n, t in pcols]
    )


def partition_values_of(base: str, filepath: str):
    """Derive the (key, value) sequence for one file from its path
    relative to ``base`` — a pure path function (no filesystem access),
    so executors and offset replays re-derive identical values. Returns
    [] for a file directly under base."""
    b = fs.strip_local_scheme(base).rstrip("/")
    f = fs.strip_local_scheme(filepath)
    rel = f[len(b):].lstrip("/") if f.startswith(b) else f
    out = []
    for seg in rel.split("/")[:-1]:
        parsed = _parse_segment(seg)
        if parsed is None:
            return []  # non-partition subdir: treat as unpartitioned
        out.append(parsed)
    return out
