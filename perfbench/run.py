"""spark-xml benchmark: one seeded workload per run, on ``local[<cores>]``.

    python3 perfbench/run.py --workload nested_bz2_scan --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its corpus from the seed
under ``.perfbench_work/`` (removed at exit), starts Spark, and then either

- ``--trace 0``: times the workload's jobs as a closed loop with one client
  and prints the end-to-end metrics, or
- ``--trace 1``: calls each layer's public functions on the same corpus,
  records spans, and prints the per-layer metrics and the tracing overhead
  (the spans are kept in ``.perfbench_work/spans-<workload>-<seed>.jsonl``).

Every line but the last is for people; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. A job whose result
differs from the generator's expected values counts as failed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import time
from typing import Dict, List, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

N_SETUPS = 3  # setup_s is the median of this many session set-ups
MIN_JOBS = 11  # job_s_tail needs more than 10 timed jobs


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("flat_scan", "nested_bz2_scan", "write_roundtrip"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# --- Spark session lifecycle -------------------------------------------------


def _conf(work: str, cores: int) -> Dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a pre-touched, fixed-size heap: the JVM's RSS does not depend on
        # when it last collected, so peak_rss_mb follows the Python side.
        # A JVM that lives for one run spends less CPU beside the Python
        # workers with the C1 compiler only and a single-threaded collector.
        # No perf data file: the JVM would write it under /tmp.
        "spark.driver.memory": "1g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch "
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData",
    }


def launch_jvm(work: str, cores: int) -> None:
    """Start the JVM alone, so that every timed set-up starts from the same
    state: a running JVM and no Spark session."""
    from pyspark import SparkConf, SparkContext

    conf = SparkConf(loadDefaults=False).setAll(_conf(work, cores).items())
    SparkContext._ensure_initialized(conf=conf)


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in _conf(work, cores).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up_file(work: str) -> str:
    path = os.path.join(work, "warmup", "w.xml")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("<rows>" + "".join(f"<r><a>{i}</a></r>" for i in range(8)) + "</rows>")
    return path


def set_up(work: str, cores: int, sessions: list):
    """Session start, ``register``, and one warm-up job (a tiny XML read,
    which starts the Python workers and imports the package in them)."""
    from pyspark.sql import types as T

    from spark_xml_spark.sources import read_xml, register

    spark = start_session(work, cores)
    sessions.append(spark)  # keep alive: register() keys sessions by id()
    register(spark)
    schema = T.StructType([T.StructField("a", T.LongType())])
    got = read_xml(spark, _warm_up_file(work), schema=schema, rowTag="r").count()
    if got != 8:
        raise RuntimeError(f"warm-up read returned {got} rows, expected 8")
    return spark


def shut_down(spark) -> None:
    """Stop Spark (if a session started) and the JVM (if it launched), and
    wait for every child process to end."""
    from pyspark import SparkContext

    from stats import descendants

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(1)
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


# --- reporting -----------------------------------------------------------------


def _show(workload: str, name: str, value: float, unit: str, note: str = "") -> None:
    print(f"{workload:16s} {name:34s} {value:14.6g} {unit:10s} {note}".rstrip())


def end_to_end(workload: str, outcomes, setups: List[float],
               out_bytes_per_row: float) -> Dict[str, Tuple[float, str]]:
    """Print every end-to-end metric and return those ``BENCHMARK.json``
    bounds. The tail and the infer median move too much from run to run on
    a shared machine to hold a bound (the IQR of ten runs reached a quarter
    of the median), failed_share can be 0 and out_bytes_per_row exists on
    one workload, so these four are printed only."""
    from stats import median, tail

    kinds: Dict[str, List] = {}
    for o in outcomes:
        kinds.setdefault(o.kind, []).append(o)
    # one round at each kind's median latency: a stray slow job moves
    # neither the rates nor the median
    kind_s = {k: median([o.seconds for o in group]) for k, group in kinds.items()}
    round_s = sum(kind_s.values())
    round_rows = sum(group[0].rows for group in kinds.values())
    round_bytes = sum(group[0].xml_bytes for group in kinds.values())
    n = len(outcomes)
    per_kind = f"{len(kinds)} job kinds, n={n}"
    m = {
        "setup_s": (median(setups), "s"),
        "rows_per_s": (round_rows / round_s, "rows/s"),
        "mb_per_s": (round_bytes / 1e6 / round_s, "MB/s"),
        "job_s_p50": (median(list(kind_s.values())), "s"),
        "peak_rss_mb": (median([o.peak_mb for o in outcomes]), "MB"),
    }
    notes = {
        "setup_s": f"median of {len(setups)} set-ups",
        "rows_per_s": f"{round_rows} rows per round of {per_kind}",
        "mb_per_s": f"{round_bytes} B per round of {per_kind}",
        "job_s_p50": f"median of kind medians, {per_kind}",
        "peak_rss_mb": f"driver + JVM + Python workers, median of job peaks, n={n}",
    }
    for k, (v, u) in m.items():
        _show(workload, k, v, u, notes[k])
    tail_v, tail_p, _ = tail([o.seconds for o in outcomes])
    _show(workload, "job_s_tail", tail_v, "s", f"p{tail_p:.1f}, n={n}")
    # the first call pays lazy start-up (see untraced)
    infer = [o.infer_s for o in outcomes if o.infer_s is not None][1:]
    if infer:
        _show(workload, "infer_s_p50", median(infer), "s",
              f"n={len(infer)}, the run's first call left out")
    failed = sum(not o.ok for o in outcomes)
    _show(workload, "failed_share", failed / n, "ratio", f"{failed} of {n} jobs")
    if out_bytes_per_row:
        _show(workload, "out_bytes_per_row", out_bytes_per_row, "B",
              "uncompressed write_xml output")
    for kind, s in kind_s.items():
        _show(workload, f"job {kind}", s, "s", f"median, n={len(kinds[kind])}")
    return m


# --- main ----------------------------------------------------------------------


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "spark_xml_spark")):
        print("perfbench: run from the root of a spark_xml_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # everything Spark, its workers and the program write stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # spark-submit's launcher JVM, like the driver's (see _conf), would
    # write a perf data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()

    import corpus as C
    from stats import PeakRss

    cores = _cores()
    spark = None
    try:
        t0 = time.perf_counter()
        corp = C.generate(args.workload, args.seed, os.path.join(work, "corpus"))
        gen_s = time.perf_counter() - t0
        # the corpus's rows and records stay in this process; frozen, they
        # are left out of every later garbage collection, which would
        # otherwise walk them at random points of the timed jobs
        gc.collect()
        gc.freeze()
        for name, d in C.describe(corp).items():
            print(f"corpus {args.workload} seed={args.seed} {name}: {d['files']} files, "
                  f"{d['xml_mb']} MB XML, {d['records']} records, codec={d['codec']} "
                  f"(generated in {gen_s:.2f} s, not a metric; {cores} cores)")
        sessions: list = []
        setups = []
        with PeakRss() as rss:
            t0 = time.perf_counter()
            launch_jvm(work, cores)
            print(f"JVM launch {time.perf_counter() - t0:.2f} s (not a metric)")
            for i in range(N_SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = set_up(work, cores, sessions)
                setups.append(time.perf_counter() - t0)
            if args.trace:
                result = traced(spark, corp, work, cores, args, work_root)
            else:
                result = untraced(spark, corp, work, args, setups, rss)
    finally:
        shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def untraced(spark, corp, work, args, setups, rss) -> dict:
    import jobs as J

    if args.workload == "flat_scan":
        js = J.flat_scan_jobs(spark, corp.dataset("flat"))
    elif args.workload == "nested_bz2_scan":
        js = J.nested_scan_jobs(spark, corp.dataset("nested"))
    else:
        js = J.write_jobs(spark, corp, J.cached_frames(spark, corp), work)
    # The first job of each kind in a new session pays lazy start-up in the
    # Python workers (a first infer_xml_schema about 2 s). Each kind's median
    # over at least three rounds leaves that job out, infer_s_p50 drops the
    # first call, and the tail sits below the slowest ten jobs.
    outcomes = J.closed_loop(js, J.rounds_for(args.seconds, len(js), MIN_JOBS),
                             rss.take_mb)
    failed = sum(not o.ok for o in outcomes)
    per_row = (J.out_bytes_per_row(work, corp)
               if args.workload == "write_roundtrip" else 0.0)
    m = end_to_end(args.workload, outcomes, setups, per_row)
    return {
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }


def traced(spark, corp, work, cores, args, work_root) -> dict:
    import layers

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    m, tracer, counts = layers.run(spark, corp, work, cores, run_id)
    tracer.write(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"),
                 counts)
    for k, (v, u) in m.items():
        moves, where = layers.LAYER_MAP[k]
        _show(args.workload, k, v, u, f"moves {moves} on {where}")
    # the traced run checks its counts against the generator's
    records = sum(len(d.records) for d in corp.datasets)
    malformed = sum(d.expected["malformed"] for d in corp.datasets)
    checks = {
        "tokenizer.records_n": (m["tokenizer.records_n"][0], records),
        "parser.malformed_n": (m["parser.malformed_n"][0], malformed),
    }
    failed = 0
    for k, (got, want) in checks.items():
        if got != want:
            failed += 1
            print(f"check {k} FAILED: expected {want}, got {got}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
