"""End-to-end jobs of each workload, run as a closed loop with one client.

Each job drives the public API (``read_xml``, ``infer_xml_schema``,
``write_xml``, ``flatten_xml``, ``from_xml``, ``to_xml``) through Spark and
returns the values it observed; :func:`run_job` times it and compares those
values with the ones the corpus generator computed. A wrong value counts as
a failure, exactly like an exception.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

import corpus as C

# Observed values of a job and, for jobs that infer a schema, the seconds
# spent in infer_xml_schema.
Observed = Tuple[Dict[str, object], Optional[float]]


@dataclass
class Job:
    kind: str
    run: Callable[[], Observed]
    expected: Dict[str, object]
    rows: int  # rows the job reads, writes or converts
    xml_bytes: int  # uncompressed XML bytes the job reads or writes


@dataclass
class Outcome:
    kind: str
    seconds: float
    rows: int
    xml_bytes: int
    ok: bool
    infer_s: Optional[float] = None
    problems: List[str] = field(default_factory=list)
    peak_mb: float = 0.0  # peak RSS of the process tree during the job


def mismatches(observed: Dict[str, object], expected: Dict[str, object]) -> List[str]:
    """Every expected key whose observed value differs."""
    return [
        f"{k}: expected {v!r}, got {observed.get(k, '<missing>')!r}"
        for k, v in expected.items()
        if observed.get(k, "<missing>") != v
    ]


def run_job(job: Job) -> Outcome:
    t0 = time.perf_counter()
    infer_s = None
    try:
        observed, infer_s = job.run()
        problems = mismatches(observed, job.expected)
    except Exception:
        problems = ["exception: " + traceback.format_exc()]
    seconds = time.perf_counter() - t0
    if problems:
        print(f"job {job.kind} FAILED: " + "; ".join(problems), file=sys.stderr)
    return Outcome(job.kind, seconds, job.rows, job.xml_bytes, not problems,
                   infer_s, problems)


ROUND_S = 5.0  # nominal seconds of one round on a 4-core machine
MIN_ROUNDS = 3  # a kind's median over three rounds leaves out its first job


def rounds_for(seconds: float, jobs_per_round: int, min_jobs: int) -> int:
    """Rounds a run times: one per ``ROUND_S`` seconds asked for, at least
    ``MIN_ROUNDS``, and enough for ``min_jobs`` jobs. The count depends on
    the arguments only, never on how fast the program is, so two versions
    of the program time the same jobs and ``job_s_tail`` is the same
    percentile on both."""
    return max(MIN_ROUNDS, -(-min_jobs // jobs_per_round), round(seconds / ROUND_S))


def closed_loop(jobs: List[Job], rounds: int,
                peak_mb: Callable[[], float] = lambda: 0.0) -> List[Outcome]:
    """Run ``rounds`` whole rounds of ``jobs`` back to back: the next job
    starts when the previous one returns. Whole rounds keep the mix of job
    kinds the same in every run. ``peak_mb`` returns the memory peak since
    its last call; each outcome keeps the peak of its own job."""
    out: List[Outcome] = []
    for _ in range(rounds):
        for j in jobs:
            peak_mb()
            o = run_job(j)
            o.peak_mb = peak_mb()
            out.append(o)
    return out


# --- helpers over Spark ----------------------------------------------------


def _first(df, *cols):
    return df.agg(*cols).collect()[0]


def _schema_types(schema) -> Dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    )


# --- flat_scan -------------------------------------------------------------


def flat_scan_jobs(spark, ds: C.Dataset) -> List[Job]:
    from pyspark.sql import functions as F

    from spark_xml_spark.sources import infer_xml_schema, read_xml

    path, opts, e = ds.directory, {"rowTag": ds.row_tag}, ds.expected
    n, nb = e["count"], ds.xml_bytes

    def full():
        df = read_xml(spark, path, schema=ds.read_schema, **opts)
        r = _first(df, F.count("*"), F.sum("orderkey"), F.sum("quantity"),
                   F.sum(F.length("comment")), F.max("shipdate"))
        return {"count": r[0], "sum_orderkey": r[1], "sum_quantity": str(r[2]),
                "sum_comment_len": r[3], "max_shipdate": r[4].isoformat()}, None

    def pruned():
        df = read_xml(spark, path, schema=ds.read_schema, **opts,
                      columns=["orderkey", "quantity", "returnflag", "shipdate"])
        r = _first(df, F.count("*"), F.sum("orderkey"), F.sum("quantity"))
        return {"count": r[0], "sum_orderkey": r[1], "sum_quantity": str(r[2])}, None

    def filtered():
        df = read_xml(spark, path, schema=ds.read_schema, filterPushdown="true",
                      **opts)
        got = df.filter(F.col("partkey") < C.FILTER_PARTKEY_BELOW).count()
        return {"filter_count": got}, None

    def grouped():
        df = read_xml(spark, path, schema=ds.read_schema, **opts)
        rows = (df.groupBy("returnflag", "linestatus")
                .agg(F.count("*"), F.sum("quantity")).collect())
        return {"groups": {f"{r[0]}|{r[1]}": [r[2], str(r[3])]
                           for r in sorted(rows)}}, None

    inferred: Dict[str, object] = {}

    def infer():
        t0 = time.perf_counter()
        inferred["schema"] = schema = infer_xml_schema(spark, path, **opts)
        return {"inferred": _schema_types(schema)}, time.perf_counter() - t0

    def inferred_read():
        # reads with the schema the previous job inferred
        df = read_xml(spark, path, schema=inferred["schema"], **opts)
        r = _first(df, F.count("*"), F.sum("orderkey"))
        return {"count": r[0], "sum_orderkey": r[1]}, None

    pick = lambda *ks: {k: e[k] for k in ks}  # noqa: E731
    return [
        Job("full_checksum", full, pick("count", "sum_orderkey", "sum_quantity",
                                        "sum_comment_len", "max_shipdate"), n, nb),
        Job("pruned_4col", pruned, pick("count", "sum_orderkey", "sum_quantity"),
            n, nb),
        Job("filter_pushdown", filtered, pick("filter_count"), n, nb),
        Job("group_by", grouped, pick("groups"), n, nb),
        Job("infer", infer, pick("inferred"), n, nb),
        Job("inferred_read", inferred_read, pick("count", "sum_orderkey"), n, nb),
    ]


# --- nested_bz2_scan -------------------------------------------------------


def nested_read_options(ds: C.Dataset) -> Dict[str, str]:
    """Options of every read of the nested corpus: byte-range splits small
    enough that each bzip2 file is read by block split in four tasks."""
    size = max(os.path.getsize(f) for f in ds.files)
    return {"rowTag": ds.row_tag, "targetSplitSize": str(size // 4 + 1)}


def nested_scan_jobs(spark, ds: C.Dataset) -> List[Job]:
    from pyspark.sql import functions as F

    from spark_xml_spark.functions import flatten_xml
    from spark_xml_spark.sources import infer_xml_schema, read_xml

    path, opts, e = ds.directory, nested_read_options(ds), ds.expected
    n, nb = e["count"], ds.xml_bytes

    inferred: Dict[str, object] = {}

    def infer():
        t0 = time.perf_counter()
        inferred["schema"] = schema = infer_xml_schema(spark, path, **opts)
        return {"inferred_fields": sorted(schema.names)}, time.perf_counter() - t0

    def flattened():
        # reads with the schema the previous job inferred
        df = read_xml(spark, path, schema=inferred["schema"], **opts)
        r = _first(flatten_xml(df), F.count("*"), F.sum("revision_id"),
                   F.sum(F.length("revision_text__VALUE")))
        return {"flat_rows": r[0], "sum_revision_id": r[1],
                "sum_text_len": r[2]}, None

    def explicit():
        df = read_xml(spark, path, schema=ds.read_schema, **opts)
        ok = F.col(C.CORRUPT).isNull()
        r = _first(df, F.count("*"), F.count(C.CORRUPT), F.sum("id"),
                   F.sum(F.length("title")), F.count("redirect"),
                   F.sum(F.when(ok, F.size("revision"))))
        return {"count": r[0], "malformed": r[1], "sum_id": r[2],
                "sum_title_len": r[3], "n_redirect": r[4],
                "n_revisions": r[5]}, None

    def validated():
        df = read_xml(spark, path, schema=ds.read_schema,
                      rowValidationXSDPath=ds.xsd_path, **opts)
        r = _first(df, F.count("*"),
                   F.sum(F.when(F.col(C.CORRUPT).isNull(), 1).otherwise(0)))
        return {"count": r[0], "xsd_valid": r[1]}, None

    pick = lambda *ks: {k: e[k] for k in ks}  # noqa: E731
    return [
        Job("infer", infer, pick("inferred_fields"), n, nb),
        Job("inferred_flatten_agg", flattened,
            pick("flat_rows", "sum_revision_id", "sum_text_len"), n, nb),
        Job("explicit_read", explicit,
            pick("count", "malformed", "sum_id", "sum_title_len", "n_redirect",
                 "n_revisions"), n, nb),
        Job("xsd_validated_read", validated, pick("count", "xsd_valid"), n, nb),
    ]


# --- write_roundtrip -------------------------------------------------------


def cached_frames(spark, corpus: C.Corpus) -> Dict[str, object]:
    """The corpus rows as DataFrames, cached and materialised before timing."""
    frames = {}
    for ds in corpus.datasets:
        df = spark.createDataFrame(ds.rows, ds.schema).cache()
        df.count()
        frames[ds.name] = df
    return frames


def _readback_checks(ds: C.Dataset):
    from pyspark.sql import functions as F

    if ds.name == "flat":
        return ((F.count("*"), F.sum("orderkey"), F.sum("quantity")),
                lambda r: {"count": r[0], "sum_orderkey": r[1],
                           "sum_quantity": str(r[2])},
                ("count", "sum_orderkey", "sum_quantity"))
    return ((F.count("*"), F.sum("id"), F.sum(F.size("revision"))),
            lambda r: {"count": r[0], "sum_id": r[1], "n_revisions": r[2]},
            ("count", "sum_id", "n_revisions"))


def out_bytes_per_row(work: str, corpus: C.Corpus) -> float:
    """Uncompressed bytes per row that ``write_xml`` wrote, from the plain
    outputs of the write jobs."""
    total = sum(_dir_bytes(os.path.join(work, f"out_{ds.name}_plain"))
                for ds in corpus.datasets)
    return total / sum(len(ds.rows) for ds in corpus.datasets)


def write_jobs(spark, corpus: C.Corpus, frames, work: str) -> List[Job]:
    """Write and convert jobs; their byte counts are the corpus's own XML
    size, a fixed unit of work whatever the writer emits."""
    from pyspark.sql import functions as F

    from spark_xml_spark.functions import from_xml, to_xml
    from spark_xml_spark.sources import read_xml, write_xml

    jobs: List[Job] = []
    for first, ds in enumerate(corpus.datasets):
        aggs, view, keys = _readback_checks(ds)
        expected = {k: ds.expected[k] for k in keys}
        n, nb = len(ds.rows), ds.xml_bytes
        # the codec alternates call by call, and the frames start on
        # different codecs, so every round writes once plain and once gzip
        calls = [first]

        written: Dict[str, str] = {}

        def write(ds=ds, calls=calls, written=written):
            codec = (None, "gzip")[calls[0] % 2]
            calls[0] += 1
            target = os.path.join(work, f"out_{ds.name}_{codec or 'plain'}")
            write_xml(frames[ds.name], target, rowTag=ds.row_tag,
                      rootTag=ds.root_tag, compression=codec)
            written["path"] = target
            return {}, None

        def read_back(ds=ds, aggs=aggs, view=view, written=written):
            back = read_xml(spark, written["path"], schema=ds.schema,
                            rowTag=ds.row_tag)
            return view(_first(back, *aggs)), None

        # the write is checked by the read-back that follows it
        jobs.append(Job(f"write_{ds.name}", write, {}, n, nb))
        jobs.append(Job(f"read_back_{ds.name}", read_back, expected, n, nb))

        def roundtrip(ds=ds, aggs=aggs, view=view):
            opts = {"rowTag": ds.row_tag}
            df = frames[ds.name]
            xml = to_xml(F.struct(*df.columns), ds.schema, opts)
            back = df.select(from_xml(xml, ds.schema, opts).alias("r")).select("r.*")
            return view(_first(back, *aggs)), None

        jobs.append(Job(f"to_from_xml_{ds.name}", roundtrip, expected,
                        2 * n, 2 * nb))
    return jobs
