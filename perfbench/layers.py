"""Traced run: each layer's public functions called on the workload's inputs.

Spans are recorded here, around the calls into each layer, never inside the
program. Every layer runs on every workload's corpus, so each traced run
reports the full per-layer table; ``LAYER_MAP`` says which end-to-end
metric each layer metric should move, and on which workload. Inputs a layer
needs but the corpus lacks (a bzip2 copy of an uncompressed corpus, cached
DataFrames for the column functions) are prepared untraced beforehand.

The in-process probes run three times: once to warm caches, once traced
and once untraced; the traced minus the untraced wall time is the tracing
overhead. The tier tally that ``XmlReader.read`` writes when
``SPARK_XML_TIER_STATS_DIR`` is set is turned on for the traced pass only.
"""

from __future__ import annotations

import bz2
import gc
import glob
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, List, Tuple

import corpus as C
from jobs import nested_read_options
from stats import median
from spans import Tracer, self_times

TIERS = ("columnar_window", "columnar_flat", "columnar_struct",
         "row_fallback", "row_arrow", "row_tuple")
LAYERS = ("api", "datasource", "tokenizer", "bz2split", "codecs", "infer",
          "parser", "casts", "generator", "functions", "xsd", "spark")
XSD_SAMPLE = 4000  # records validated per dataset
CASTS_SAMPLE = 200_000  # leaf values cast per dataset
FLOOR_REPEATS = 5
OPEN_COST = 4 * 1024 * 1024  # the reader's default openCostBytes

# layer metric -> (end-to-end metric it should move, workload where it should)
LAYER_MAP: Dict[str, Tuple[str, str]] = {
    "api.read_xml_s": ("job_s_p50", "write_roundtrip, flat_scan"),
    "api.infer_xml_schema_s": ("infer_s_p50", "nested_bz2_scan, flat_scan"),
    "datasource.partitions_s": ("job_s_p50", "write_roundtrip, flat_scan"),
    "datasource.partitions_n": ("rows_per_s", "write_roundtrip, flat_scan"),
    "datasource.read_rows_per_s": ("rows_per_s", "write_roundtrip, flat_scan"),
    **{f"datasource.tier_rows.{t}": ("rows_per_s", "write_roundtrip, flat_scan") for t in TIERS},
    "datasource.row_fallback_share": ("rows_per_s", "write_roundtrip, flat_scan"),
    "datasource.write_rows_per_s": ("rows_per_s", "write_roundtrip"),
    "tokenizer.plan_splits_s": ("mb_per_s", "write_roundtrip, flat_scan"),
    "tokenizer.splits_n": ("mb_per_s", "write_roundtrip, flat_scan"),
    "tokenizer.scan_mb_per_s": ("mb_per_s", "write_roundtrip, flat_scan"),
    "tokenizer.records_n": ("mb_per_s", "write_roundtrip, flat_scan"),
    "tokenizer.clean_window_share": ("mb_per_s", "write_roundtrip, flat_scan"),
    "bz2split.find_block_bits_s": ("mb_per_s", "nested_bz2_scan"),
    "bz2split.blocks_n": ("mb_per_s", "nested_bz2_scan"),
    "codecs.read_mb_per_s": ("mb_per_s", "nested_bz2_scan"),
    "codecs.write_mb_per_s": ("mb_per_s", "write_roundtrip"),
    "infer.records_per_s": ("infer_s_p50", "nested_bz2_scan, flat_scan"),
    "infer.merge_s": ("infer_s_p50", "nested_bz2_scan, flat_scan"),
    "parser.rows_per_s": ("rows_per_s", "nested_bz2_scan, write_roundtrip"),
    "parser.malformed_n": ("rows_per_s", "nested_bz2_scan"),
    "casts.values_per_s": ("rows_per_s", "nested_bz2_scan"),
    "generator.rows_per_s": ("rows_per_s", "write_roundtrip"),
    "generator.bytes_per_row": ("out_bytes_per_row", "write_roundtrip"),
    "functions.from_xml_s": ("rows_per_s", "write_roundtrip"),
    "functions.to_xml_s": ("rows_per_s", "write_roundtrip"),
    "functions.udf_overhead_s": ("rows_per_s", "write_roundtrip"),
    "functions.flatten_xml_s": ("job_s_p50", "nested_bz2_scan"),
    "xsd.to_schema_s": ("job_s_p50", "nested_bz2_scan"),
    "xsd.validate_rows_per_s": ("job_s_p50", "nested_bz2_scan"),
    "spark.floor_s": ("job_s_p50", "all"),
    **{f"{layer}.self_s": ("job_s_p50", "the layer's workloads")
       for layer in LAYERS + ("bench",)},
    "trace.overhead_s": ("none: cost of the tracing itself", "all"),
    "trace.overhead_share": ("none: cost of the tracing itself", "all"),
}


@dataclass
class Prepared:
    """Untraced inputs of one dataset's probes."""

    ds: C.Dataset
    opts: Dict[str, str]
    split_target: int
    bz2_files: List[str]
    docs: List[bytes] = field(repr=False)  # uncompressed file contents
    work: str  # scratch directory of this dataset's probes


@dataclass
class Tally:
    """Work counts of one in-process pass (the same on every pass)."""

    splits: int = 0
    records: int = 0
    window_records: int = 0
    blocks: int = 0
    codec_read_bytes: int = 0
    codec_write_bytes: int = 0
    infer_records: int = 0
    parsed: int = 0
    malformed: int = 0
    leaves: int = 0
    generated: int = 0
    generated_bytes: int = 0
    partitions: int = 0
    read_rows: int = 0
    written_rows: int = 0
    validated: int = 0


def _split_target(ds: C.Dataset, cores: int) -> int:
    if ds.codec == "bz2":
        return int(nested_read_options(ds)["targetSplitSize"])
    # the reader's maxSplitBytes rule for uncompressed files
    total = OPEN_COST + sum(os.path.getsize(f) + OPEN_COST for f in ds.files)
    return min(128 * 1024 * 1024, max(OPEN_COST, total // cores))


def prepare(corpus: C.Corpus, work: str, cores: int) -> List[Prepared]:
    out = []
    for ds in corpus.datasets:
        dwork = os.path.join(work, f"layers_{ds.name}")
        os.makedirs(dwork, exist_ok=True)
        docs = []
        for f in ds.files:
            with open(f, "rb") as fh:
                data = fh.read()
            docs.append(bz2.decompress(data) if ds.codec == "bz2" else data)
        if ds.codec == "bz2":
            bz2_files = list(ds.files)
        else:
            # a multi-block bzip2 copy of the first file for bz2split/codecs
            copy = os.path.join(dwork, os.path.basename(ds.files[0]) + ".bz2")
            with open(copy, "wb") as fh:
                fh.write(bz2.compress(docs[0], 1))
            bz2_files = [copy]
        opts = {"rowTag": ds.row_tag, "timezone": "UTC"}
        if ds.codec == "bz2":
            opts.update(nested_read_options(ds))
        else:
            opts["minPartitions"] = str(cores)
        out.append(Prepared(ds, opts, _split_target(ds, cores), bz2_files,
                            docs, dwork))
    return out


def _probe_dataset(tr: Tracer, p: Prepared, n: Tally) -> None:
    from spark_xml_spark import xsd
    from spark_xml_spark.options import XmlOptions
    from spark_xml_spark.sources.datasource import XmlDataSource
    from spark_xml_spark.xmlcore import (
        bz2split, casts, codecs, generator, infer, parser, tokenizer,
    )

    ds = p.ds
    xo = XmlOptions.from_dict(p.opts)

    with tr.span("tokenizer.plan_splits"):
        splits = tokenizer.plan_splits(ds.files, target_split_size=p.split_target)
    per_split: List[List[str]] = []
    with tr.span("tokenizer.scan"):
        for s in splits:
            recs: List[str] = []
            for item in tokenizer.scan_split_windows(s, ds.row_tag):
                if item[0] == "win":
                    text = item[1]
                    recs.extend(text[a:b] for a, b in item[2])
                    n.window_records += len(item[2])
                else:
                    recs.append(item[1])
            per_split.append(recs)
    records = [r for recs in per_split for r in recs]
    n.splits += len(splits)
    n.records += len(records)

    with tr.span("bz2split.find_block_bits"):
        for f in p.bz2_files:
            n.blocks += len(bz2split.find_block_bits(f, 0, os.path.getsize(f)))
    with tr.span("codecs.read"):
        for f in p.bz2_files:
            with open(f, "rb") as raw:
                r = codecs.wrap_read(raw, "bz2")
                while True:
                    chunk = r.read(1 << 20)
                    if not chunk:
                        break
                    n.codec_read_bytes += len(chunk)
                r.close()
    with tr.span("codecs.write"):
        with open(os.path.join(p.work, "codec.xml.gz"), "wb") as raw:
            w = codecs.wrap_write(raw, "gzip")
            for doc in p.docs:
                w.write(doc)
                n.codec_write_bytes += len(doc)
            w.close()

    with tr.span("infer.partial_schema_json"):
        parts = [infer.partial_schema_json(recs, xo) for recs in per_split]
    with tr.span("infer.merge_schema_jsons"):
        infer.merge_schema_jsons(parts, xo)
    n.infer_records += len(records)

    with tr.span("parser.parse_records"):
        rows = list(parser.parse_records(records, ds.read_schema, xo))
    n.parsed += len(records)
    if C.CORRUPT in ds.read_schema.names:
        corrupt = ds.read_schema.names.index(C.CORRUPT)
        n.malformed += sum(1 for r in rows if r[corrupt] is not None)

    leaves = ds.leaves[:CASTS_SAMPLE]
    with tr.span("casts.cast_to"):
        for value, dt in leaves:
            casts.cast_to(value, dt, xo)
    n.leaves += len(leaves)

    gen_opts = XmlOptions.from_dict({"rowTag": ds.row_tag, "rootTag": ds.root_tag})
    with tr.span("generator.rows_to_document"):
        doc = "\n".join(generator.rows_to_document(ds.schema, ds.rows, gen_opts))
    n.generated += len(ds.rows)
    n.generated_bytes += len(doc.encode("utf-8"))

    reader = XmlDataSource(dict(p.opts, path=ds.directory)).reader(ds.read_schema)
    with tr.span("datasource.partitions"):
        parts = reader.partitions()
    n.partitions += len(parts)
    with tr.span("datasource.read"):
        for part in parts:
            for b in reader.read(part):
                n.read_rows += getattr(b, "num_rows", 1)
    target = os.path.join(p.work, "written")
    with tr.span("datasource.write"):
        writer = XmlDataSource(
            {"path": target, "rowTag": ds.row_tag, "rootTag": ds.root_tag}
        ).writer(ds.schema, True)
        writer.write(iter(ds.rows))
    n.written_rows += len(ds.rows)

    with tr.span("xsd.xsd_to_schema"):
        xsd.xsd_to_schema(ds.xsd_path)
    sample = records[:XSD_SAMPLE]
    with tr.span("xsd.validate"):
        validate = xsd.get_validator(ds.xsd_path)
        for rec in sample:
            try:
                validate(rec)
            except ValueError:
                pass  # invalid and malformed records are part of the input
    n.validated += len(sample)


def in_process_pass(tr: Tracer, prepared: List[Prepared]) -> Tally:
    n = Tally()
    for p in prepared:
        with tr.span(f"bench.dataset.{p.ds.name}"):
            _probe_dataset(tr, p, n)
    return n


def _tier_rows(tally_dir: str) -> Dict[str, int]:
    rows = {t: 0 for t in TIERS}
    for path in glob.glob(os.path.join(tally_dir, "*.jsonl")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                if rec["tier"] in rows:
                    rows[rec["tier"]] += rec["rows"]
    return rows


def spark_pass(tr: Tracer, spark, prepared: List[Prepared], cores: int) -> None:
    """Layers reached only through a Spark job, traced once."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spark_xml_spark.functions import flatten_xml, from_xml, to_xml
    from spark_xml_spark.sources import infer_xml_schema, read_xml

    for p in prepared:
        ds = p.ds
        opts = {k: v for k, v in p.opts.items() if k != "minPartitions"}
        fopts = {"rowTag": ds.row_tag}
        strings = spark.createDataFrame(
            [(r,) for r in ds.records],
            T.StructType([T.StructField("value", T.StringType())]),
        ).cache()
        strings.count()
        frame = spark.createDataFrame(ds.rows, ds.schema).cache()
        frame.count()
        parsed = read_xml(spark, ds.directory, schema=ds.read_schema, **opts).cache()
        parsed.count()

        with tr.span("api.read_xml"):
            read_xml(spark, ds.directory, schema=ds.read_schema, **opts)
        with tr.span("api.infer_xml_schema"):
            infer_xml_schema(spark, ds.directory, **opts)
        with tr.span("functions.from_xml"):
            strings.select(
                from_xml("value", ds.read_schema, fopts).alias("r")
            ).agg(F.count("r")).collect()
        with tr.span("functions.to_xml"):
            frame.select(
                to_xml(F.struct(*frame.columns), ds.schema, fopts).alias("x")
            ).agg(F.sum(F.length("x"))).collect()
        with tr.span("functions.flatten_xml"):
            flatten_xml(parsed).agg(F.count("*")).collect()
        for df in (strings, frame, parsed):
            df.unpersist()

    for _ in range(FLOOR_REPEATS):
        with tr.span("spark.floor"):
            (spark.range(1000, numPartitions=cores).repartition(cores)
             .groupBy().count().collect())


def run(spark, corpus: C.Corpus, work: str, cores: int, run_id: str):
    """The traced run: returns (per-layer metrics, tracer, counts)."""
    prepared = prepare(corpus, work, cores)
    in_process_pass(Tracer(run_id, enabled=False), prepared)  # warm caches

    tally_dir = os.path.join(work, "tier_tally")
    os.makedirs(tally_dir, exist_ok=True)
    os.environ["SPARK_XML_TIER_STATS_DIR"] = tally_dir
    tr = Tracer(run_id)
    gc.collect()  # neither timed pass inherits the other's garbage
    t0 = time.perf_counter()
    n = in_process_pass(tr, prepared)
    traced_s = time.perf_counter() - t0
    del os.environ["SPARK_XML_TIER_STATS_DIR"]
    tiers = _tier_rows(tally_dir)

    gc.collect()
    t0 = time.perf_counter()
    in_process_pass(Tracer(run_id, enabled=False), prepared)
    untraced_s = time.perf_counter() - t0

    spark_pass(tr, spark, prepared, cores)
    for p in prepared:
        shutil.rmtree(p.work, ignore_errors=True)
    counts = dict(asdict(n), **{f"tier_rows.{t}": v for t, v in tiers.items()})
    return metrics(tr, n, tiers, prepared, cores, traced_s, untraced_s), tr, counts


def _rate(work: float, seconds: float) -> float:
    return work / seconds if seconds > 0 else 0.0


def metrics(tr: Tracer, n: Tally, tiers: Dict[str, int], prepared: List[Prepared],
            cores: int, traced_s: float, untraced_s: float) -> Dict[str, Tuple[float, str]]:
    b = tr.busy
    xml_mb = sum(p.ds.xml_bytes for p in prepared) / 1e6
    attempted = sum(tiers.values())
    floors = [s.end - s.start for s in tr.spans if s.name == "spark.floor"]
    # the column functions' jobs minus the parser/generator work they wrap,
    # spread over the cores that run it
    udf_overhead = (
        b("functions.from_xml") - b("parser.parse_records") / cores
        + b("functions.to_xml") - b("generator.rows_to_document") / cores
    )
    selfs = self_times(tr.spans)
    m = {
        "api.read_xml_s": (b("api.read_xml"), "s"),
        "api.infer_xml_schema_s": (b("api.infer_xml_schema"), "s"),
        "datasource.partitions_s": (b("datasource.partitions"), "s"),
        "datasource.partitions_n": (n.partitions, "count"),
        "datasource.read_rows_per_s": (_rate(n.read_rows, b("datasource.read")), "rows/s"),
        **{f"datasource.tier_rows.{t}": (tiers[t], "rows") for t in TIERS},
        "datasource.row_fallback_share": (
            tiers["row_fallback"] / attempted if attempted else 0.0, "ratio"),
        "datasource.write_rows_per_s": (
            _rate(n.written_rows, b("datasource.write")), "rows/s"),
        "tokenizer.plan_splits_s": (b("tokenizer.plan_splits"), "s"),
        "tokenizer.splits_n": (n.splits, "count"),
        "tokenizer.scan_mb_per_s": (_rate(xml_mb, b("tokenizer.scan")), "MB/s"),
        "tokenizer.records_n": (n.records, "count"),
        "tokenizer.clean_window_share": (
            n.window_records / n.records if n.records else 0.0, "ratio"),
        "bz2split.find_block_bits_s": (b("bz2split.find_block_bits"), "s"),
        "bz2split.blocks_n": (n.blocks, "count"),
        "codecs.read_mb_per_s": (_rate(n.codec_read_bytes / 1e6, b("codecs.read")), "MB/s"),
        "codecs.write_mb_per_s": (
            _rate(n.codec_write_bytes / 1e6, b("codecs.write")), "MB/s"),
        "infer.records_per_s": (
            _rate(n.infer_records, b("infer.partial_schema_json")), "records/s"),
        "infer.merge_s": (b("infer.merge_schema_jsons"), "s"),
        "parser.rows_per_s": (_rate(n.parsed, b("parser.parse_records")), "rows/s"),
        "parser.malformed_n": (n.malformed, "count"),
        "casts.values_per_s": (_rate(n.leaves, b("casts.cast_to")), "values/s"),
        "generator.rows_per_s": (
            _rate(n.generated, b("generator.rows_to_document")), "rows/s"),
        "generator.bytes_per_row": (
            n.generated_bytes / n.generated if n.generated else 0.0, "B"),
        "functions.from_xml_s": (b("functions.from_xml"), "s"),
        "functions.to_xml_s": (b("functions.to_xml"), "s"),
        "functions.udf_overhead_s": (udf_overhead, "s"),
        "functions.flatten_xml_s": (b("functions.flatten_xml"), "s"),
        "xsd.to_schema_s": (b("xsd.xsd_to_schema"), "s"),
        "xsd.validate_rows_per_s": (_rate(n.validated, b("xsd.validate")), "rows/s"),
        "spark.floor_s": (median(floors), "s"),
        **{
            f"{layer}.self_s": (
                sum(v for k, v in selfs.items() if k.split(".")[0] == layer), "s")
            for layer in LAYERS + ("bench",)
        },
        "trace.overhead_s": (traced_s - untraced_s, "s"),
        "trace.overhead_share": ((traced_s - untraced_s) / untraced_s, "ratio"),
    }
    return m
