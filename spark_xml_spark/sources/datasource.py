"""Python Data Source: ``spark.read.format("xml-graft")`` / ``df.write.format("xml-graft")``.

The idiomatic Spark-4 equivalent of the reference's DefaultSource /
XmlRelation / XmlInputFormat stack (/root/reference/src/main/scala/com/
databricks/spark/xml/DefaultSource.scala:29-111, XmlRelation.scala:29-84,
XmlInputFormat.scala:32-340), built on ``pyspark.sql.datasource``:

- ``partitions()`` plans byte-range file splits on the driver (the HDFS-split
  analogue); each ``read(partition)`` task scans only its range with the
  record-ownership rule, then decodes them (``decode_records``, which
  ``from_xml`` shares). Flat all-scalar schemas, a corrupt-record column
  included, take the columnar scan under any empty/null/space options:
  each record is matched on its own against a whole-record pattern
  (``parser.match_flat_batch``) learned from the data, the matched ones are
  cast in one columnar pass per batch, and the rest take the exact parser.
  XSD-validated reads and schemas with arrays, structs or maps take the
  exact parser for every record.
- ``schema()`` resolves the user-provided ``schema`` option or runs sampled
  inference (the reference's 2-pass inferred-read semantics,
  XmlRelation.scala:43-49). For cluster-distributed inference use
  ``spark_xml_spark.sources.api.read_xml``, which runs the partial/final
  schema merge as a Spark job, then plans this reader's ``partitions()`` on
  the driver and runs its ``read()`` in a ``mapInArrow`` job of its own.
  The schema carries the options in its first field's metadata: that is
  how a catalog table's reader and writer, handed no options, get them.
- the writer emits one complete XML document per partition
  (declaration + rootTag framing, XmlFile.scala:104-155).

Scale notes: split planning is O(#files) driver metadata only; tasks never
materialize more than one record + a chunk buffer; no shuffle anywhere on
the read path; every path hands Spark Arrow record batches, built with
Spark's own type mapping from values already in Spark's convention
(timestamps UTC-aware, structs as tuples, maps as dicts).
"""

from __future__ import annotations

import os
import random
import uuid
from dataclasses import dataclass, replace
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema

from spark_xml_spark.options import XmlOptions
from spark_xml_spark.xmlcore import generator, infer, parser, tokenizer

FORMAT_NAME = "xml-graft"

# --- tier-adoption instrumentation (env-gated; off = zero cost) -------------
# Which parse tier actually served each record is invisible from the plan
# (the fallbacks are per-batch, inside the Python reader). When
# SPARK_XML_TIER_STATS_DIR names a directory, every read task appends one
# JSON line per (tier, phase-time) tally on exhaustion; perfbench's traced
# run (``--trace 1``) sums them into its ``datasource.tier_rows.*``
# metrics. Local-diagnostics only: on a real cluster the env var is unset
# and none of this code runs.
_TIER_STATS_ENV = "SPARK_XML_TIER_STATS_DIR"


def _tier_stats_dir() -> Optional[str]:
    d = os.environ.get(_TIER_STATS_ENV)
    return d if d and os.path.isdir(d) else None


class _TierTally:
    __slots__ = ("counts", "times")

    def __init__(self):
        self.counts: dict = {}
        self.times: dict = {}

    def add(self, tier: str, rows: int, secs: float = 0.0) -> None:
        self.counts[tier] = self.counts.get(tier, 0) + rows
        self.times[tier] = self.times.get(tier, 0.0) + secs

    def flush(self) -> None:
        d = _tier_stats_dir()
        if not d or not self.counts:
            return
        import json as _json

        lines = "".join(
            _json.dumps(
                {"tier": t, "rows": n, "secs": round(self.times.get(t, 0.0), 4)}
            )
            + "\n"
            for t, n in self.counts.items()
        )
        try:
            with open(os.path.join(d, f"tally-{os.getpid()}.jsonl"), "a") as fh:
                fh.write(lines)
        except OSError:
            pass  # diagnostics must never fail the scan


def _listing_opts(opts: dict):
    """(pathGlobFilter, recursiveFileLookup) from a case-insensitive
    option dict — Spark's standard file-source listing options."""
    gf = opts.get("pathGlobFilter") or opts.get("pathglobfilter")
    rl = str(
        opts.get("recursiveFileLookup")
        or opts.get("recursivefilelookup")
        or "false"
    ).lower() == "true"
    return gf, rl


# --- catalog tables --------------------------------------------------------
# Spark 4.1 hands reader() and writer() EMPTY options for a catalog table
# (CREATE TABLE ... USING xml-graft), for SELECT and INSERT OVERWRITE alike;
# only schema() sees the table's OPTIONS. Field metadata that schema()
# returns does reach reader(schema) and writer(schema), so the table's
# options ride in its first field's metadata.
_OPTIONS_META = "xml_graft_options"


def _tag_schema_options(schema: T.StructType, options: dict) -> T.StructType:
    """``schema`` with ``options`` (the string-valued ones, ``path`` set) as
    sorted-key JSON in the first field's metadata: each table carries its
    own options, visible in df.schema for raw ``format('xml-graft')`` reads."""
    import json

    opts = {k: v for k, v in dict(options).items() if isinstance(v, str)}
    opts["path"] = options.get("path") or options.get("location")
    first = schema.fields[0]
    meta = dict(first.metadata or {})
    meta[_OPTIONS_META] = json.dumps(opts, sort_keys=True)
    return T.StructType(
        [T.StructField(first.name, first.dataType, first.nullable, meta)]
        + schema.fields[1:]
    )


def _table_options(options: dict, schema: T.StructType) -> Tuple[dict, str]:
    """The options a reader or writer runs with, and its data path: the
    given ones when they name a path, else a catalog table's, from the
    schema's metadata (``_tag_schema_options``)."""
    import json

    opts = dict(options)
    path = opts.get("path") or opts.get("location")
    if not path:
        for f in schema.fields:
            if _OPTIONS_META in (f.metadata or {}):
                opts = json.loads(f.metadata[_OPTIONS_META])
                path = opts["path"]
                break
    if not path:
        raise ValueError(
            "path option is required for the xml data source; a catalog "
            "table declared with a column list is unsupported: create it "
            "without one (CREATE TABLE t USING `xml-graft` OPTIONS (...)), "
            "so that the schema is inferred and the options travel with it"
        )
    return opts, path


def _strip_scheme_local(p: str) -> str:
    if p.startswith("file://"):
        return p[7:]
    if p.startswith("file:"):
        return p[5:]
    return p


@dataclass
class XmlInputPartition(InputPartition):
    # One task reads these splits sequentially. Small files are bin-packed
    # Spark-style (FilePartition/maxSplitBytes semantics) so a million
    # 1 MB files does not mean a million tasks; a large file's byte-range
    # splits stay one per partition. Each split is a tokenizer.FileSplit
    # as a tuple. ``pvals`` carries the raw Hive-style partition-directory
    # strings shared by every split in the partition (splits are packed
    # within one partition-value group only); read() casts them to the
    # read schema's own types.
    splits: Tuple[Tuple[str, int, int, Optional[str], bool, int], ...]
    pvals: Tuple = ()


def _pack_splits(splits, max_split_bytes: int, open_cost: int,
                 sizes: Optional[dict] = None,
                 pvals: Tuple = ()) -> List[XmlInputPartition]:
    """Greedy size-descending bin-packing of file splits into partitions,
    mirroring Spark's FilePartition.getFilePartitions: a partition closes
    when adding the next split would exceed ``max_split_bytes``, and every
    split charges ``open_cost`` on top of its bytes (so tiny files don't
    pack without bound)."""
    sized = []
    for s in splits:
        if s.end >= 0:
            size = s.end - s.start
        else:  # whole-file split (compressed / non-seekable)
            size = (sizes or {}).get(s.path)
            if size is None:
                try:
                    size = os.path.getsize(s.path)
                except OSError:
                    size = max_split_bytes
        sized.append((size, s))
    sized.sort(key=lambda t: (-t[0], t[1].path, t[1].start))
    parts: List[List] = []
    cur: List = []
    cur_cost = 0
    for size, s in sized:
        if cur and cur_cost + size > max_split_bytes:
            parts.append(cur)
            cur, cur_cost = [], 0
        cur.append(s)
        cur_cost += size + open_cost
    if cur:
        parts.append(cur)
    return [
        XmlInputPartition(
            tuple(
                (s.path, s.start, s.end, s.compression, s.whole_file, s.eof)
                for s in g
            ),
            pvals,
        )
        for g in parts
    ]


def _exposes(schema: T.StructType, keys) -> bool:
    """Whether the read schema carries the partition columns ``keys``:
    True when they are its LAST fields in order, False when it names none
    of them (data-only output — an explicit schema without partition
    columns). Any other placement raises."""
    if not keys:
        return False
    tail = [f.name for f in schema.fields[-len(keys):]]
    if tail == list(keys):
        return True
    if set(keys) & set(schema.fieldNames()):
        raise ValueError(
            f"partition columns {list(keys)} must be the LAST fields of the "
            f"schema, in discovery order; got schema tail {tail}"
        )
    return False


def _pvals_batch(rows, fields, xopts: XmlOptions):
    """Raw partition-value tuples -> one Arrow batch, a row per tuple,
    each column cast to its read-schema field's Arrow type — the values
    read() appends, as Spark's file sources cast partition values to the
    declared schema. A zone-less timestamp reads in the ``timezone``
    option, or UTC when it is unset, as element text does
    (casts.iso_instant); a value with an offset keeps it, and a date alone
    is its midnight. ``timestampFormat`` governs element text
    only, never directory names."""
    import pyarrow as pa

    from spark_xml_spark.xmlcore import casts

    schema = to_arrow_schema(T.StructType(list(fields)))
    cols = []
    for col, f in zip(zip(*rows), schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            ts = []
            for v in col:
                dt = None if v is None else casts.iso_instant(v, xopts)
                if v is not None and dt is None:
                    raise ValueError(
                        f"partition value {v!r} of column {f.name!r} is "
                        "not an ISO-8601 timestamp"
                    )
                ts.append(dt)
            cols.append(pa.array(ts, f.type))
        else:
            cols.append(pa.array(col, pa.string()).cast(f.type))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


# --- Arrow batch output ----------------------------------------------------
# Spark 4's Python DataSource accepts ``pyarrow.RecordBatch`` from read();
# batching rows into Arrow skips the per-row pickle + JVM-side converter
# (the biggest scan-path cost after the parse itself). Every batch carries
# ``to_arrow_schema(schema)``, the mapping Spark's data-source worker itself
# applies to the reader's schema (timestamps as UTC instants).

# Rows per Arrow batch: fewer IPC batches and JVM per-batch setups than 4096.
_BATCH_SIZE = 8192


def _rows_to_arrow_batches(rows, schema: T.StructType,
                           batch_size: int = _BATCH_SIZE):
    """Yield pyarrow.RecordBatch objects from parsed row tuples. pyarrow
    takes the parser's values as they are: structs as tuples, maps as
    dicts, timestamps as UTC-aware datetimes."""
    import itertools

    import pyarrow as pa

    arrow_schema = to_arrow_schema(schema)
    rows = iter(rows)
    while True:
        buf = list(itertools.islice(rows, batch_size))
        if not buf:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(col, type=t) for col, t in zip(zip(*buf), arrow_schema.types)],
            schema=arrow_schema,
        )


# --- columnar flat scan ----------------------------------------------------
# For flat all-scalar schemas (the dominant shape for large tabular XML),
# record batches skip per-row tuples entirely: the learned whole-record
# pattern collects raw field STRINGS per column, and pyarrow compute casts
# them to the target types in C. Exactness is preserved by construction:
# any record the pattern can't prove flat re-runs through the exact parser,
# and any value Arrow's (stricter) parser rejects or a guard regex misses
# takes the exact row-path casts — Arrow only ever handles values whose
# Python-side result would be identical. ~2x scan throughput on clean
# tabular data.

# C-level validity guards where Arrow's string parser is MORE lenient than
# the row path (it must never accept a value the row path would reject):
# date-only strings cast to timestamp, exotic offsets, non-canonical bools.
_C_CAST_GUARDS = {
    "boolean": r"(?i)^(true|false|1|0)$",
    "date": r"^\d{4}-\d{2}-\d{2}$",
    "timestamp": (
        r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
        r"(\.\d{1,6})?(Z|[+-]\d{2}:\d{2})$"
    ),
}

# Zone-LESS ISO timestamps ("1997-02-15 00:00:00", the overwhelmingly
# common shape) may take the Arrow cast only when no `timezone` option is
# set: the row path then resolves zone-less values as UTC, which is
# exactly Arrow's string->timestamp cast. With a timezone option the
# zone-less value is interpreted in that zone (shifted), so such columns
# must stay on the Python caster. timestampFormat does NOT affect
# guard-passing values — the ISO branch runs before the custom format
# (parse_xml_timestamp).
_C_TS_GUARD_NO_TZ = (
    r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
    r"(\.\d{1,6})?(Z|[+-]\d{2}:\d{2})?$"
)


def _cast_guards(xopts: "XmlOptions") -> dict:
    if xopts.timezone:
        return _C_CAST_GUARDS
    g = dict(_C_CAST_GUARDS)
    g["timestamp"] = _C_TS_GUARD_NO_TZ
    return g

# Types Arrow casts from string with semantics identical to casts.cast_to
# (given the guards above); everything else uses the per-cell Python caster.
_C_CASTABLE = ("string", "long", "integer", "short", "byte",
               "double", "float", "boolean", "date", "timestamp")


def _columnar_ok(schema: T.StructType, xopts: XmlOptions) -> bool:
    """The columnar scan takes every flat all-scalar schema
    (``FastFlatParser.try_build``) unless XSD row validation must see each
    record. Under nullValue, ignoreSurroundingSpaces or
    treatEmptyValuesAsNulls every column takes the field's Python caster
    (_cast_ladder). A corrupt-record cell is null for a matched
    (well-formed) record; the exact parser fills it for the rest."""
    return (
        not xopts.row_validation_xsd_path
        and parser.FastFlatParser.try_build(schema, xopts) is not None
    )


def _py_cast_column(vals, caster, target_type, rejected):
    """``vals`` through the Python ``caster``. A value the caster rejects
    (malformed, whitespace-only) becomes null and its position joins
    ``rejected``: the caller re-runs that record through the exact row
    path so the parse-mode policy applies."""
    import pyarrow as pa

    try:
        cells = [None if v is None else caster(v) for v in vals]
    except Exception:
        cells = [None] * len(vals)
        for k, v in enumerate(vals):
            if v is not None:
                try:
                    cells[k] = caster(v)
                except Exception:
                    rejected.add(k)
    return pa.array(cells, type=target_type)


def _cast_column(vals, dt: T.DataType, caster, target_type, rejected,
                 guards=None, is_attr=False):
    """One column of raw strings -> Arrow array. C casts when provably
    equivalent; Python casters otherwise, which add the positions of the
    values they reject to ``rejected`` (:func:`_py_cast_column`).
    ``guards`` defaults to the conservative option-free
    set; pass _cast_guards(xopts) for the option-aware set. ``is_attr``
    columns carry ATTRIBUTE cell semantics: an empty value is NOT
    null-coerced (plain cast_to — raises for non-string scalars, which
    must surface through the row path's parse policy)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tname = dt.typeName()
    if tname not in _C_CASTABLE:
        return _py_cast_column(vals, caster, target_type, rejected)
    arr = pa.array(vals, pa.string())
    if tname == "string":
        return arr  # defaults only (see _cast_ladder): "" stays "", no nullValue
    empties = pc.equal(arr, "")
    if pc.any(empties).as_py():
        if is_attr:
            # empty attribute on a non-string scalar: the generic path
            # raises from cast_to -> parse policy; route via the Python
            # caster so the caller re-runs the records on the row path
            return _py_cast_column(vals, caster, target_type, rejected)
        # empty element -> null for every non-string scalar (row-path END
        # branch); whitespace-only is NOT empty and falls to the casters
        arr = pc.if_else(empties, pa.scalar(None, pa.string()), arr)
    guard = (guards if guards is not None else _C_CAST_GUARDS).get(tname)
    if guard is not None:
        ok = pc.match_substring_regex(arr, guard)
        if not pc.all(pc.fill_null(ok, True)).as_py():
            return _py_cast_column(vals, caster, target_type, rejected)
    try:
        if tname == "float":
            # two-step to reproduce the row path's double-rounding
            # (python float() -> float32 storage)
            return pc.cast(pc.cast(arr, pa.float64()), pa.float32())
        if (
            tname == "timestamp"
            and pa.types.is_timestamp(target_type)
            and target_type.tz is not None
        ):
            # zone-less column first (the dominant shape; guard-checked
            # ISO): zone-less is UTC on the row path, so attach the zone
            # without shifting. The doomed-parse branch order matters:
            # each branch either raises or is correct, and trying the
            # common case first saves a full failed parse pass per batch
            # (~65% of all cast time on a timestamp-bearing scan).
            try:
                naive = pc.cast(arr, pa.timestamp(target_type.unit))
                return pc.assume_timezone(naive, target_type.tz)
            except Exception:
                # all-zoned column: Arrow parses the offsets and converts
                return pc.cast(arr, target_type)
        return pc.cast(arr, target_type)
    except Exception:
        return _py_cast_column(vals, caster, target_type, rejected)


def _group_columns(groups, group_map, ncols, nrec):
    """Transpose per-record capture tuples into one raw-string column per
    schema field (all-None for fields the pattern does not capture)."""
    gcols = list(zip(*groups))  # C-speed transpose: one tuple per group
    cols: List[list] = [None] * ncols  # type: ignore[list-item]
    for g, i, _is_attr in group_map:
        cols[i] = list(gcols[g - 1])
    for i in range(ncols):
        if cols[i] is None:
            cols[i] = [None] * nrec
    return cols


def _cast_ladder(cols, fast, arrow_schema, guards):
    """Raw-string columns -> ``(batch, rejected)``: one Arrow record batch,
    each column through the field's element or root-attribute caster
    (_cast_column under default options, the Python caster alone under
    nullValue, ignoreSurroundingSpaces or treatEmptyValuesAsNulls, which
    the C casts know none of), and the positions of the records holding a
    value a Python caster rejected. ``(None, ())`` when Arrow cannot hold
    a cast value — the caller then re-runs every record through the exact
    row path."""
    import pyarrow as pa

    o = fast.options
    py_only = (
        o.null_value is not None
        or o.ignore_surrounding_spaces
        or o.treat_empty_values_as_nulls
    )
    attr_cols = {i for _g, i, is_attr in fast.group_map if is_attr}
    rejected: set = set()
    try:
        arrays = []
        for i, f in enumerate(fast.schema.fields):
            caster = (fast.attr_casters if i in attr_cols else fast.casters)[i]
            target = arrow_schema.field(i).type
            arrays.append(
                _py_cast_column(cols[i], caster, target, rejected) if py_only
                else _cast_column(cols[i], f.dataType, caster, target,
                                  rejected, guards, is_attr=i in attr_cols)
            )
    except Exception:
        return None, ()
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema), rejected


def _columnar_batches(
    records, schema: T.StructType, xopts: XmlOptions,
    batch_size: int = _BATCH_SIZE, tally=None,
):
    """The columnar scan (schemas _columnar_ok accepts): one Arrow batch
    out per ``batch_size`` records in. Each record is matched on its own
    against the learned pattern (``parser.match_flat_batch``). The
    batch's matched records are transposed and cast in one columnar pass;
    its unmatched records, and the matched ones whose values a Python
    caster rejects, take the exact parser, and one ``take`` restores
    record order. So a batch costs a fixed number of Arrow calls however
    dirty records interleave with clean ones, a dirty record never drags
    its clean neighbours to the exact parser, and DROPMALFORMED drops only
    the records it rejects."""
    import itertools

    import pyarrow as pa

    fast = parser.FastFlatParser.try_build(schema, xopts)  # once per scan
    ncols = len(schema.fields)
    arrow_schema = to_arrow_schema(schema)
    guards = _cast_guards(xopts)
    timer = __import__("time").perf_counter if tally is not None else None
    records = iter(records)
    while True:
        batch = list(itertools.islice(records, batch_size))
        if not batch:
            return
        t0 = timer() if timer else 0.0
        flat, caps, hit = parser.match_flat_batch(fast.flat, batch, xopts)
        if flat is not fast.flat:
            fast.learn(flat)
        cast, rejected = None, ()
        if hit:
            cast, rejected = _cast_ladder(
                _group_columns(
                    [caps[i].groups() for i in hit], fast.group_map, ncols,
                    len(hit),
                ),
                fast, arrow_schema, guards,
            )
        if rejected:
            # a caster rejected a value: those records leave the cast
            # batch and take the exact parser alone
            for k in rejected:
                caps[hit[k]] = None
            keep = [k for k in range(len(hit)) if k not in rejected]
            hit = [hit[k] for k in keep]
            cast = cast.take(pa.array(keep, pa.int64())) if keep else None
        if cast is None:
            # nothing castable matched, or Arrow could not hold a cast
            # value: the exact parser decides the whole batch
            hit, miss = [], range(len(batch))
        else:
            if tally is not None:
                tally.add("columnar_flat", len(hit), timer() - t0)
                t0 = timer()
            if len(hit) == len(batch):
                yield cast
                continue
            miss = [i for i, m in enumerate(caps) if m is None]
        rows = [parser.parse_record(batch[i], schema, xopts) for i in miss]
        parsed = [r for r in rows if r is not None]
        out = list(_rows_to_arrow_batches(parsed, schema, batch_size))
        if hit and parsed:
            # cast rows first, parsed rows after: take them back in
            # record order (a dropped record has no row)
            src = hit + [i for i, row in zip(miss, rows) if row is not None]
            out = pa.Table.from_batches([cast] + out).take(
                sorted(range(len(src)), key=src.__getitem__)
            ).combine_chunks().to_batches()
        elif hit:
            out = [cast]
        if tally is not None:
            tally.add("row_fallback", len(miss), timer() - t0)
        yield from out


def _tallied(batches, tally, tier: str):
    """Book each batch's rows to ``tier`` as it passes."""
    for b in batches:
        tally.add(tier, b.num_rows)
        yield b


def decode_records(records, schema: T.StructType, xopts: XmlOptions,
                   tally=None) -> Iterator:
    """Record strings -> Arrow batches of ``schema``, one row per record
    the parse mode keeps, in record order: the decoder of the scan and of
    ``from_xml``. The columnar scan where _columnar_ok allows, else
    ``parse_records`` into Arrow batches."""
    if _columnar_ok(schema, xopts):
        return _columnar_batches(records, schema, xopts, tally=tally)
    batches = _rows_to_arrow_batches(
        parser.parse_records(records, schema, xopts), schema
    )
    if tally is not None:
        batches = _tallied(batches, tally, "row_arrow")
    return batches


class XmlReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._opts_dict, self._path = _table_options(options, schema)
        self._schema = schema

    def _opt(self, *names):
        # Spark lower-cases option keys (CaseInsensitiveDict) — look up both.
        for n in names:
            v = self._opts_dict.get(n) or self._opts_dict.get(n.lower())
            if v is not None:
                return v
        return None

    def partitions(self) -> List[InputPartition]:
        """Driver-side Hive-style partition discovery, then split planning.
        The read path needs no listing — partitions carry their raw values
        and read() types them by the schema."""
        from spark_xml_spark.sources import partitions as pmod

        gf, rl = _listing_opts(self._opts_dict)
        try:
            pfiles, pcols = pmod.discover_partitions(
                self._path, glob_filter=gf, recursive_lookup=rl
            )
        except pmod.NoMatchingFilesError:
            raise  # zero-match pathGlobFilter: never scan unfiltered
        except OSError:
            pfiles = [
                (f, sz, ()) for f, sz in tokenizer._expand_with_sizes(self._path)
            ]
            pcols = []
        self._pcols = pcols  # [(name, type)]: small, for infer_xml_schema
        return self._plan(pfiles, [n for n, _ in pcols])

    def _plan(
        self, files, keys, snapshot: bool = False
    ) -> List[XmlInputPartition]:
        """The split planner of the batch and the stream reader. ``files``
        is [(file, size, raw partition values)], ``keys`` the partition
        column names. Splits pack WITHIN one partition-value group (a
        task's rows share one value tuple; an unpartitioned layout is the
        single group ``()``), and each group's raw values ride the
        partitions when the schema exposes ``keys``. ``snapshot`` makes
        every split end its file at the listed size: a stream offset's
        replay bound."""
        xopts = XmlOptions.from_dict(self._opts_dict)
        open_cost = int(self._opt("openCostBytes") or 4 * 1024 * 1024)
        target = self._split_target(open_cost, [(f, sz) for f, sz, _ in files])
        groups: dict = {}
        for f, sz, pv in files:
            groups.setdefault(pv, []).append((f, sz))
        values = sorted(
            groups, key=lambda t: tuple("" if v is None else v for v in t)
        )
        attach = _exposes(self._schema, keys)
        out: List[XmlInputPartition] = []
        for pv in values:
            sizes = dict(groups[pv])
            splits = tokenizer.plan_splits(
                self._path, xopts.charset, target, files=groups[pv]
            )
            if snapshot:
                splits = [replace(s, eof=sizes[s.path]) for s in splits]
            out.extend(
                _pack_splits(
                    splits, target, open_cost, sizes, pv if attach else ()
                )
            )
        return out

    def _split_target(self, open_cost: int, listed) -> int:
        explicit = self._opt("targetSplitSize", "maxPartitionBytes")
        if explicit is not None:
            return int(explicit)
        # Spark's maxSplitBytes: min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/minPartitionNum)) — small corpora split finer to feed
        # every core, huge corpora cap at 128 MB per task, and the open
        # cost keeps a million tiny files from becoming a million tasks.
        # totalBytes sums size + openCost per file, as Spark's does.
        total = sum(size + open_cost for _f, size in listed or ())
        par = int(self._opt("minPartitions") or 0)
        if par <= 0:
            # a format() read plans in Spark's Python planner worker,
            # where getActiveSession() is None, and falls back to the
            # planner host's cores; read_xml and infer_xml_schema plan on
            # the driver and inject defaultParallelism as minPartitions
            par = os.cpu_count() or 8
        bytes_per_core = total // max(par, 1)
        return min(128 * 1024 * 1024, max(open_cost, bytes_per_core))

    def read(self, partition: XmlInputPartition) -> Iterator:
        tally = _TierTally() if _tier_stats_dir() else None
        if tally is None:
            gen = self._read_impl(partition, None)
        else:
            # Pre-warm the heavy lazy imports OUTSIDE any timed region,
            # booked to an explicit "setup" tally (once per worker
            # process; ~0 on reuse). Without this, each worker's first
            # timed batch absorbed the one-time pyarrow.compute import
            # (~0.3s), so a tiny tier could report secs wildly out of
            # proportion to its rows and corrupt tier economics.
            import time as _time

            t0 = _time.perf_counter()
            import pyarrow  # noqa: F401
            import pyarrow.compute  # noqa: F401

            # pyarrow's first pa.array() lazily imports pandas through
            # its _pandas_api shim (~0.35s/worker) — trigger it here or
            # the first timed cast batch absorbs it
            pyarrow.array(["x"], pyarrow.string())
            tally.add("setup", 0, _time.perf_counter() - t0)
            gen = self._read_tallied(partition, tally)
        if partition.pvals:
            gen = self._attach_pvals(gen, partition.pvals)
        yield from gen

    def _read_tallied(self, partition, tally) -> Iterator:
        try:
            yield from self._read_impl(partition, tally)
        finally:
            tally.flush()

    def _attach_pvals(self, gen, pv) -> Iterator:
        """Append the partition-directory constants to every output batch
        as constant arrays typed as the schema's last ``len(pv)`` fields:
        the parser never sees these columns (they are not in the file
        content) — the analogue of Spark appending partition values
        outside the FileFormat reader."""
        import pyarrow as pa

        consts = _pvals_batch(
            [pv], self._schema.fields[-len(pv):],
            XmlOptions.from_dict(self._opts_dict),
        ).columns
        names = self._schema.fieldNames()
        for batch in gen:
            yield pa.RecordBatch.from_arrays(
                list(batch.columns)
                + [pa.repeat(c[0], batch.num_rows) for c in consts],
                names=names,
            )

    def _read_impl(self, partition: XmlInputPartition, tally) -> Iterator:
        """One pipeline: records -> Arrow batches (decode_records, the
        decoder ``from_xml`` shares); read() appends the partition
        constants. The batch and the stream reader both read through it."""
        xopts = XmlOptions.from_dict(self._opts_dict)
        fields = self._schema.fields
        dschema = T.StructType(fields[: len(fields) - len(partition.pvals)])
        splits = [tokenizer.FileSplit(*s) for s in partition.splits]
        records = (
            rec
            for split in splits
            for rec in tokenizer.scan_split(split, xopts.row_tag, xopts.charset)
        )
        yield from decode_records(records, dschema, xopts, tally)


@dataclass
class XmlCommitMessage(WriterCommitMessage):
    # ``files`` are RELATIVE to the sink root (partitioned writes prefix
    # the col=value/ dirs) so abort can delete every file this task wrote
    # — the old single-last-file field missed earlier rolls of a
    # partitioned task and lacked the directory prefix.
    files: Tuple[str, ...]
    count: int


def iter_partition_groups(schema: T.StructType, iterator, pby: List[str]):
    """Split a row iterator into Hive-style partition groups: yields
    (relative directory, data-only schema, group-row iterator) per run of
    equal partition-column values, for write_task_files. Values escape
    like Spark's escapePathName (NULL -> __HIVE_DEFAULT_PARTITION__);
    partition columns are dropped from the yielded rows — the
    partitioned read re-derives them from the directory names. The
    caller MUST exhaust each group's iterator before advancing (a group
    streams straight to a file).
    Files roll on value change: sorted-within-partition input gives one
    file per (task, value); unsorted input stays correct but produces
    more files. O(1) memory either way."""
    from urllib.parse import quote

    names = [f.name for f in schema.fields]
    missing = [c for c in pby if c not in names]
    if missing:
        raise ValueError(f"partitionBy column(s) {missing} not in schema")
    pidx = [names.index(c) for c in pby]
    didx = [i for i in range(len(names)) if i not in pidx]
    dschema = T.StructType([schema.fields[i] for i in didx])

    def dirname(vals) -> str:
        segs = []
        for c, v in zip(pby, vals):
            s = (
                "__HIVE_DEFAULT_PARTITION__"
                if v is None
                else quote(str(v), safe="")
            )
            segs.append(f"{c}={s}")
        return "/".join(segs)

    _SENTINEL = object()
    it = iter(iterator)
    pending = next(it, _SENTINEL)
    while pending is not _SENTINEL:
        cur = tuple(pending[i] for i in pidx)

        def group():
            nonlocal pending
            while (
                pending is not _SENTINEL
                and tuple(pending[i] for i in pidx) == cur
            ):
                row = pending
                pending = next(it, _SENTINEL)
                yield tuple(row[i] for i in didx)

        yield dirname(cur), dschema, group()


def write_document_file(
    directory: str, schema: T.StructType, rows, xopts, pid: int, seq: int
):
    """Stream one complete XML document file into ``directory`` (created
    if needed), honoring the compression codec; returns (file name, row
    count). One per write_task_files group."""
    import io

    from spark_xml_spark.xmlcore import codecs as _codecs
    from spark_xml_spark.xmlcore import fs as _fs
    from spark_xml_spark.xmlcore import generator

    _fs.makedirs(directory)
    suffix = ".xml"
    if xopts.compression:
        suffix = ".xml" + _codecs.WRITE_SUFFIX[xopts.compression]
    name = f"part-{pid:05d}-{seq:03d}-{uuid.uuid4().hex[:8]}{suffix}"
    target = directory.rstrip("/") + "/" + name
    count = 0

    def counted(it):
        nonlocal count
        for row in it:
            count += 1
            yield row

    raw = _fs.open_output(target)
    body = raw
    try:
        if xopts.compression:
            body = _codecs.wrap_write(raw, xopts.compression)
        fh = io.TextIOWrapper(body, encoding=xopts.charset)
        for line in generator.rows_to_document(schema, counted(rows), xopts):
            fh.write(line)
            fh.write("\n")
        fh.close()  # flushes + closes the compression wrapper
    finally:
        try:
            raw.close()  # GzipFile/BZ2File leave the raw stream open
        except Exception:
            pass
    return name, count


def write_task_files(path: str, schema: T.StructType, iterator, opts: dict):
    """One writer task's body, shared by the batch and streaming XML
    writers: one document file for the task, or with the ``partitionBy``
    option a Hive-style partitioned write (iter_partition_groups) whose
    partition columns become <col>=<value>/ directories and are NOT
    written into the XML content — the read side re-derives them from the
    directory names. Returns [(file relative to ``path``, row count)]."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    xopts = XmlOptions.from_dict(opts)
    raw = opts.get("partitionBy") or opts.get("partitionby")
    pby = [c.strip() for c in raw.split(",") if c.strip()] if raw else []
    if not pby:
        return [write_document_file(path, schema, iterator, xopts, pid, 0)]
    written = []
    for seq, (reldir, dschema, rows) in enumerate(
        iter_partition_groups(schema, iterator, pby)
    ):
        name, n = write_document_file(
            path.rstrip("/") + "/" + reldir, dschema, rows, xopts, pid, seq
        )
        written.append((reldir + "/" + name, n))
    return written


class XmlWriter(DataSourceWriter):
    """One complete XML document per partition (XmlFile.scala:104-155);
    SaveMode semantics follow DefaultSource.scala:83-106 (Append unsupported,
    Overwrite deletes, ErrorIfExists/Ignore resolved by the caller)."""

    def __init__(self, options: dict, schema: T.StructType, overwrite: bool):
        self._opts_dict, self._path = _table_options(options, schema)
        self._schema = schema
        from spark_xml_spark.xmlcore import fs as _fs

        if not _fs.is_remote(self._path):
            self._path = _strip_scheme_local(self._path)
        existing = _fs.dir_has_data(self._path)
        if not overwrite and existing:
            # reference semantics: only INSERT OVERWRITE is supported
            # (XmlRelation.scala:61-84, DefaultSource.scala:83-106)
            raise ValueError(
                "Append mode is not supported by the xml data source; "
                "use INSERT OVERWRITE / mode('overwrite')"
            )
        if overwrite and _fs.dir_exists(self._path):
            # whenever the target exists at all — a stale dir holding only
            # _SUCCESS/hidden files must not survive into the new output
            _fs.delete_dir(self._path)

    def write(self, iterator) -> XmlCommitMessage:
        written = write_task_files(
            self._path, self._schema, iterator, self._opts_dict
        )
        return XmlCommitMessage(
            files=tuple(f for f, _ in written),
            count=sum(n for _, n in written),
        )

    def commit(self, messages) -> None:
        pass

    def abort(self, messages) -> None:
        from spark_xml_spark.xmlcore import fs as _fs

        for m in messages:
            for f in getattr(m, "files", ()) if m is not None else ():
                try:
                    _fs.delete_file(self._path.rstrip("/") + "/" + f)
                except OSError:
                    pass


class XmlDataSource(DataSource):
    """Register with ``spark.dataSource.register(XmlDataSource)`` then use
    ``spark.read.format("xml-graft")`` — the Python-native analogue of the
    reference's DataSourceRegister service (DefaultSource.scala:29-38)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        xopts = XmlOptions.from_dict(self.options)
        path = self.options.get("path") or self.options.get("location")
        if not path:
            raise ValueError("path option is required for the xml data source")
        # Driver-side sampled inference (the inference *semantics* of
        # XmlRelation.scala:43-49 + InferSchema.scala:68-72). read_xml()
        # distributes this as a Spark job for big inputs and reads with the
        # resolved schema, skipping this path (it calls it on the driver
        # for inferSchema=false, all-string field discovery). To keep the raw
        # format path (SQL DDL / spark.read.format) from parking the cluster
        # behind a single-threaded driver scan of the whole corpus, this path
        # is bounded by ``inferLimit`` records by default (0 = unbounded,
        # matching the reference's full extra pass).
        ratio = xopts.sampling_ratio
        rng = random.Random(1)
        limit_raw = (
            self.options.get("inferLimit")
            or self.options.get("inferlimit")
            or _DEFAULT_INFER_LIMIT
        )
        limit = int(limit_raw) or None

        from spark_xml_spark.sources import partitions as pmod

        gf, rl = _listing_opts(dict(self.options))
        pfiles, pcols = pmod.discover_partitions(
            path, glob_filter=gf, recursive_lookup=rl
        )
        flat = [(f, sz) for f, sz, _ in pfiles]

        def sampled() -> Iterator[str]:
            n = 0
            for s in tokenizer.plan_splits(path, xopts.charset, files=flat):
                for rec in tokenizer.scan_split(s, xopts.row_tag, xopts.charset):
                    if ratio >= 1.0 or rng.random() < ratio:
                        n += 1
                        yield rec
                        if limit and n >= limit:
                            # Fields first appearing past the cap would be
                            # silently absent from the schema — say so
                            # (ADVICE r2); the distributed read_xml path
                            # has no cap, and inferLimit=0 forces the
                            # reference's full extra pass here too.
                            import warnings

                            warnings.warn(
                                f"XML schema inference stopped after "
                                f"{limit} sampled records (inferLimit); "
                                f"fields first appearing later are not in "
                                f"the schema. Set inferLimit=0 for a full "
                                f"pass or provide an explicit schema.",
                                stacklevel=2,
                            )
                            return

        # With infer_schema=false, infer_from() types every leaf as string but
        # field *discovery* still walks all sampled records — the reference's
        # InferSchema.inferFrom inferSchema=false branch (InferSchema.scala
        # still unions field names; only types are forced to string).
        schema = infer.infer_schema_from_records(sampled(), xopts)
        if not schema.fields:
            raise ValueError(f"no XML rows with rowTag '{xopts.row_tag}' found in {path}")
        schema = pmod.append_partition_fields(schema, pcols)
        return _tag_schema_options(schema, self.options)

    def reader(self, schema: T.StructType) -> XmlReader:
        return XmlReader(self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> XmlWriter:
        return XmlWriter(self.options, schema, overwrite)

    def streamReader(self, schema: T.StructType):
        from spark_xml_spark.streaming.source import XmlStreamReader

        return XmlStreamReader(dict(self.options), schema)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        from spark_xml_spark.streaming.source import XmlStreamWriter

        return XmlStreamWriter(dict(self.options), schema)


# Default cap on driver-side inference for the raw format/DDL path; the
# distributed path (sources.api.read_xml) has no cap — it infers as a Spark
# job. Override with option inferLimit (0 = unbounded full pass).
_DEFAULT_INFER_LIMIT = 10000
