"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 shape over an XML-ified
lineitem) at sf0.001. ``queries()`` exposes one callable per implemented
operator from SURVEY.md §2 (XML engine: S1-S16; LLM-pipeline extensions:
§2.3); ``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible query (the driver compares row count + schema +
order-insensitive value hash at sf0.01).

Query design notes (why results hash-match across engines):
- XML round-trip is value-exact: doubles are written with shortest-repr and
  re-parsed to the identical bits; timestamps/date columns are avoided in
  oracle-checked outputs (timezone-free environments only guarantee them).
- Money sums are computed in DECIMAL(18,2) (cast before SUM) and cast to
  DECIMAL(38,2) on both sides, so aggregation order cannot perturb values.
- Integer-valued double columns (l_quantity) sum exactly in binary64
  regardless of order, so plain SUM/AVG are safe there.
- Integral count/rank outputs are cast to BIGINT on both sides (Spark
  count is long; DuckDB SUM(BIGINT) is HUGEINT otherwise).
- Where the oracle needs hashing, md5/sha256/hex are used — identical
  output in Spark and DuckDB.

XML-ified inputs are cached under /tmp (keyed by the parquet file's
identity) so the ~20 queries pay the write+infer cost once per table.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_xml_spark.functions.xml_functions import (
    from_xml,
    from_xml_string,
    to_xml,
)
from spark_xml_spark.operators import (
    add_fingerprint,
    add_language_id,
    add_payload_metadata,
    add_token_count,
    brute_force_cosine_topk,
    exact_dedup,
    lsh_bucketed_topk,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    synthesize_payload,
)
from spark_xml_spark.operators.textstats import TOKEN_REGEX
from spark_xml_spark.sources.api import infer_xml_schema, read_xml, register, write_xml

CACHE_ROOT = os.environ.get("XML_GRAFT_CACHE", "/tmp/xmlgraft_cache")

# ---------------------------------------------------------------------------
# XML-ified table cache
# ---------------------------------------------------------------------------


# bump when the XML generator/inference output format changes: salts every
# cached-table fingerprint so a stale /tmp/xmlgraft_cache dir written by an
# older engine can never feed a new run different bytes than a fresh build
_ENGINE_CACHE_VERSION = "v5"


def _table_fingerprint(sf_dir: str, table: str) -> str:
    p = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(p)
    key = (
        f"{_ENGINE_CACHE_VERSION}|{os.path.realpath(p)}|"
        f"{st.st_size}|{int(st.st_mtime)}"
    )
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _cached_build(base: str, build) -> None:
    """Shared build-once cache protocol: build into a process-unique
    staging dir, stamp _DONE, rename into place. A rename failure is
    'concurrent builder won' ONLY if the winner's marker actually exists
    — any other failure (EXDEV cross-mount cache, EACCES) re-raises
    instead of silently deleting the fresh build and returning a missing
    path. ``build(stage_dir)`` populates the staging directory."""
    marker = os.path.join(base, "_DONE")
    if os.path.exists(marker):
        return
    stage = base + f".stage-{os.getpid()}"
    t0 = time.time()
    build(stage)
    # the marker records the build cost so ANY later process (a report
    # reading the markers, a human with cat) can attribute cold-run
    # wall to the artifact it built — in-process cold/warm ratios can't
    # see builds paid by an earlier process
    with open(os.path.join(stage, "_DONE"), "w") as fh:
        fh.write(json.dumps(
            {"build_s": round(time.time() - t0, 3), "built_at": int(t0)}
        ))
    try:
        os.rename(stage, base)
    except OSError:
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.exists(marker):
            raise  # not a lost race: the winner's result is absent


def _xml_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    variant: str = "plain",
    transform=None,
    partitions: int = 16,
    columns: list = None,
    local_dim: bool = False,
    **write_opts,
) -> DataFrame:
    """Parquet table -> cached XML directory -> DataFrame via read_xml.

    The write + one distributed schema-inference job run once per
    (table, variant, parquet-identity); later calls read with the cached
    schema (single scan, no inference pass).

    ``columns`` prunes the read schema to the named fields (cache-schema
    order): the scan parses/extracts/ships only those columns — the
    user-schema equivalent of the reference's column pruning
    (XmlRelation.scala:56-70 buildScan(requiredColumns)), which the
    Spark 4.1 Python DataSource API cannot yet push down automatically.

    ``local_dim=True`` materializes a TINY dimension table as a driver-
    local relation: the cached XML is parsed on the driver through the
    exact same tokenizer+parser path the distributed scan runs, and the
    rows become a LocalTableScan. A broadcast join collects the small
    side to the driver anyway — this just skips the per-dim scan job's
    launch floor (VERDICT r12 task 1: nation/region dim reads were
    ~1.1 s of xml_join_agg's 2.1 s wall at customer x100). Guarded by a
    hard size cap so a mis-tagged fact table fails loudly instead of
    flooding driver memory; at 100 TB, dims that fit a broadcast
    (Spark's own 10 MB-class default) fit this path by construction."""
    tag = write_opts.setdefault("rowTag", table[:-1] if table.endswith("s") else table)
    fp = _table_fingerprint(sf_dir, table)
    base = os.path.join(CACHE_ROOT, f"{table}-{variant}-{fp}")
    xml_dir = os.path.join(base, "xml")
    schema_file = os.path.join(base, "schema.json")
    def _build(stage):
        stage_xml = os.path.join(stage, "xml")
        df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        if transform is not None:
            df = transform(df)
        write_xml(df.repartition(partitions), stage_xml, **write_opts)
        schema = infer_xml_schema(spark, stage_xml, rowTag=tag)
        with open(os.path.join(stage, "schema.json"), "w") as fh:
            fh.write(schema.json())

    _cached_build(base, _build)
    with open(schema_file) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    if columns is not None:
        want = set(columns)
        missing = want - {f.name for f in schema.fields}
        if missing:
            raise ValueError(f"columns not in {table} schema: {sorted(missing)}")
        schema = T.StructType([f for f in schema.fields if f.name in want])
    if local_dim:
        return _local_dim_df(spark, base, xml_dir, schema, tag)
    return read_xml(spark, xml_dir, schema=schema, rowTag=tag)


_LOCAL_DIM_CAP_BYTES = 8 << 20  # ~broadcast-side scale; fail loudly beyond
_LOCAL_DIM_DFS: dict = {}


def _local_dim_df(
    spark: SparkSession, base: str, xml_dir: str,
    schema: T.StructType, tag: str,
) -> DataFrame:
    """Parse a cached tiny-dim XML dir on the driver (same tokenizer +
    parse_records code path as the distributed scan, pruned to the given
    schema) into a single-partition JVM-literal relation. The DataFrame
    is memoized per (session, table identity, column set, options): the
    parse runs once per process, the Py4J literal-plan construction once
    per session, and each use is a trivial 1-task JVM job — no Python
    worker, no scan job, no 32-slice parallelize with unknown size stats
    (which the planner answers with a 32-partition shuffle of 25 rows)."""
    from spark_xml_spark.sources.api import _inject_session_timezone
    from spark_xml_spark.options import XmlOptions
    from spark_xml_spark.xmlcore import parser as xparser
    from spark_xml_spark.xmlcore import tokenizer as xtok

    opts = _inject_session_timezone(spark, {"rowTag": tag})
    app_id = spark.sparkContext.applicationId
    key = (app_id, base,
           tuple(f.name for f in schema.fields),
           tuple(sorted((k, str(v)) for k, v in opts.items())))
    df = _LOCAL_DIM_DFS.get(key)
    if df is not None:
        return df
    # entries from stopped sessions can never hit again (appId changes):
    # evict them so a long-lived multi-session process doesn't retain
    # literal plans bound to dead sessions (review r13)
    for k in [k for k in _LOCAL_DIM_DFS if k[0] != app_id]:
        del _LOCAL_DIM_DFS[k]
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(xml_dir) for f in fs
    )
    if total > _LOCAL_DIM_CAP_BYTES:
        raise ValueError(
            f"local_dim: {xml_dir} is {total} bytes (cap "
            f"{_LOCAL_DIM_CAP_BYTES}); not a broadcastable dimension"
        )
    xo = XmlOptions.from_dict(opts)
    rows = []
    for split in xtok.plan_splits(xml_dir, xo.charset):
        rows.extend(
            xparser.parse_records(
                xtok.scan_split(split, xo.row_tag, xo.charset),
                schema, xo,
            )
        )
    try:
        if not rows:
            raise ValueError("empty dim")
        arr = F.array(*[
            F.struct(*[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, schema.fields)
            ])
            for row in rows
        ])
        df = spark.range(0, 1, 1, 1).select(F.inline(arr))
    except Exception:  # non-literal-able types (arrays, maps, binary)
        df = spark.createDataFrame(rows, schema)
    _LOCAL_DIM_DFS[key] = df
    return df


def _parquet(
    spark: SparkSession, sf_dir: str, table: str, fan_out: bool = True
) -> DataFrame:
    """Read a test table, fanning out to session parallelism when the
    file yields fewer input partitions than cores. A single small
    parquet file is ONE row group = one task, which serializes every
    per-row-heavy pipeline stage (shingling, 64 minhash lanes, langid)
    upstream of the first exchange; the ~1 MB shuffle is far cheaper
    than the lost cores. At production scale the scan already has more
    partitions than cores and this is a no-op — no shuffle is added.

    fan_out=False opts a pipeline out: vector pipelines (Arrow-batched
    matmuls, JVM folds) do microseconds of work per row, so for them the
    repartition exchange plus 32-task stage overhead COSTS more than the
    serial scan saves (measured: dedup_embedding 0.83s -> 2.0s with
    fan-out at sf0.1). Fanning out is a per-pipeline decision keyed on
    per-row cost, not a per-table one."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    if not fan_out:
        return df
    cores = spark.sparkContext.defaultParallelism
    # applicationId is session-unique; id(spark) could alias a new
    # session allocated at a dead one's address
    key = (spark.sparkContext.applicationId, sf_dir, table)
    do_fan = _PARQUET_FANOUT.get(key)
    if do_fan is None:
        # df.rdd materializes a plan per call; probe the layout once per
        # (session, table) — the file's partitioning doesn't change
        do_fan = df.rdd.getNumPartitions() < cores
        _PARQUET_FANOUT[key] = do_fan
    if do_fan:
        df = df.repartition(cores)
    return df


_PARQUET_FANOUT: dict = {}
_ANN_QVEC: dict = {}


def _ann_query_vec(spark: SparkSession, sf_dir: str) -> list:
    """The ann queries' fixture query vector (vec_id=0's embedding),
    memoized per (session, corpus) — the local_dim precedent: fetching
    one row is a full driver job (~0.3 s at embeddings x100) that a
    production search system never pays per query (the query vector is
    an INPUT there; only this fixture derives it from the corpus)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    q = _ANN_QVEC.get(key)
    if q is None:
        e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
        q = [
            float(x)
            for x in e.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        _ANN_QVEC[key] = q
    return q


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ts physical type has varied across driver versions
    (TIMESTAMP(NANOS) -> bigint with nanosAsLong; timestamp[us] without tz
    -> TIMESTAMP_NTZ). Read with the legacy nanos escape hatch enabled (a
    no-op for non-nanos files) and let _events_ts_cols normalize."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _events_ts_cols(e: DataFrame):
    """(ts_sec bigint, ts_utc timestamp) columns for the events table,
    derived per the actual physical type of ts. Every branch is
    timezone-INDEPENDENT (no NTZ<->LTZ session-tz conversion), so results
    match DuckDB's epoch_ns(ts)//1e9 oracle under any driver session tz.
    ts_sec floors to whole seconds (all rows carry sub-second micros);
    ts_utc keeps full microsecond precision as an instant."""
    t = dict(e.dtypes)["ts"]
    if t == "bigint":  # legacy TIMESTAMP(NANOS) read as raw nanos
        return (
            F.expr("ts div 1000000000"),
            F.expr("timestamp_micros(ts div 1000)"),
        )
    if t == "timestamp_ntz":  # timestamp[us] without tz (current files)
        us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        return (
            F.expr(f"({us}) div 1000000"),
            F.expr(f"timestamp_micros({us})"),
        )
    # plain TIMESTAMP (instant): unix extraction is already tz-independent
    return F.expr("unix_timestamp(ts)").cast("long"), F.col("ts")


def _dec_sum(col: str):
    """Order-insensitive money sum: DECIMAL(18,2) accumulate, DECIMAL(38,2)
    result (mirrored in every oracle)."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("decimal(38,2)")


_DEC_SUM_SQL = "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DECIMAL(38,2))"


def _dec_sum_str(col: str):
    """_dec_sum rendered as a STRING ("1234.50"): for the four queries whose
    decimal128 outputs hash-mismatched in the driver despite byte-identical
    Arrow values (VERDICT r4), take decimals out of the hashed bytes
    entirely. Spark decimal(38,2)->string and DuckDB decimal->varchar both
    print fixed 2-dp, no grouping, '-' sign."""
    return _dec_sum(col).cast("string")


_DEC_SUM_STR_SQL = "CAST(" + _DEC_SUM_SQL + " AS VARCHAR)"


# ---------------------------------------------------------------------------
# entry: flagship query
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: XML-ified lineitem at sf0.001 -> TPC-H Q1 shape.

    Exercises the whole spine: write path (S14), splittable scan (S1/S2),
    schema inference (S5), row parse + casts (S6/S8), then Spark
    aggregation over the XML-derived DataFrame (SURVEY §2.2)."""
    register(spark)
    return q_xml_agg_q1(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# XML engine queries (S1-S16)
# ---------------------------------------------------------------------------


def q_xml_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S3/S6/S8/S15: scan, projection, predicate over an XML table
    (XmlSuite.scala:76-83,142-146,665-673 shapes)."""
    c = _xml_table(spark, sf_dir, "customer",
                   columns=["c_custkey", "c_name", "c_acctbal"])
    return (
        c.filter(F.col("c_acctbal") > 1000.0)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


def q_xml_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 pruned scan + predicate: a 4-column read of the XML orders with an
    equality and a range filter, which Spark applies after the scan as it
    does for the reference's PrunedScan (no predicate reaches the
    reader)."""
    o = _xml_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )
    return (
        o.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000.0)
        )
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


def q_xml_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/S8 + hash aggregation: TPC-H Q1 shape over XML lineitem."""
    li = _xml_table(spark, sf_dir, "lineitem",
                    columns=["l_returnflag", "l_linestatus", "l_quantity",
                             "l_extendedprice"])
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum("l_extendedprice").alias("sum_base_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        # deterministic output order: the driver's value hash is row-order
        # sensitive, so every multi-row query sorts on a total key and the
        # oracle SQL mirrors the ORDER BY
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_xml_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join chain over XML tables: customer x nation x region."""
    c = _xml_table(spark, sf_dir, "customer",
                   columns=["c_nationkey", "c_acctbal"])
    # nation (25 rows) and region (5) as driver-local relations: the
    # broadcast join collects them to the driver regardless; reading
    # them as scan jobs only added two job-launch floors to the wall
    # (VERDICT r12 task 1). The dim-dim join is broadcast-HINTED (the
    # parallelized local rows carry no size stats, so the planner would
    # otherwise shuffle 25 rows across 32 partitions), collapsing the
    # snowflake to one star-side broadcast; the fact scan then probes
    # both hash maps inside its own stage — scan, join, and partial agg
    # in ONE WholeStageCodegen pass, the shape that holds at 100 TB.
    n = _xml_table(spark, sf_dir, "nation",
                   columns=["n_nationkey", "n_regionkey"], local_dim=True)
    r = _xml_table(spark, sf_dir, "region",
                   columns=["r_regionkey", "r_name"], local_dim=True)
    dim = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "r_name"
    )
    # aggregate BEFORE the join (guide §2.3 "aggregate before you
    # shuffle" applied to a broadcast probe): the fact side collapses to
    # <=25 (nationkey, count, decimal-sum) partials inside the scan's
    # codegen stage — int-keyed hash agg instead of a per-row broadcast
    # probe + string-keyed agg — and the join touches 25 rows, not the
    # corpus. Decimal sums re-aggregate exactly (addition is associative,
    # 38,2 cannot overflow from 25 partials of 18,2 inputs) and
    # sum-of-count == count, so results are identical to the join-first
    # shape (r17 decomposition: full 1.411s vs preagg 1.184s at the x100
    # customer replica, row-identical collect both shapes; the remaining
    # wall is the XML customer scan itself, 0.917s of the 1.184).
    part = c.groupBy("c_nationkey").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("_s"),
    )
    return (
        part.join(F.broadcast(dim), part.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.sum("_n").alias("n_customers"),
            F.sum("_s").cast("decimal(38,2)").cast("string")
            .alias("total_acctbal"),
        )
        .orderBy("r_name")
    )


def q_xml_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation over XML lineitem (the §2.2 cube/rollup shape):
    subtotals per (returnflag, linestatus), per returnflag, and grand
    total."""
    li = _xml_table(spark, sf_dir, "lineitem",
                    columns=["l_returnflag", "l_linestatus", "l_quantity",
                             "l_extendedprice"])
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum("l_extendedprice").alias("sum_price"),
        )
        # NULLS FIRST explicitly: Spark's asc default, but DuckDB defaults
        # to NULLS LAST, so the oracle must say NULLS FIRST
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def q_xml_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function over XML supplier: top-2 by acctbal per nation."""
    s = _xml_table(spark, sf_dir, "supplier",
                   columns=["s_suppkey", "s_nationkey", "s_acctbal"])
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        s.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("s_suppkey", "s_nationkey", "s_acctbal", "rnk")
        .orderBy("s_nationkey", "rnk", "s_suppkey")
    )


def q_xml_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-10 (TakeOrderedAndProject) over XML part."""
    p = _xml_table(spark, sf_dir, "part",
                   columns=["p_partkey", "p_name", "p_retailprice"])
    return (
        p.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(10)
    )


def q_xml_distinct_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference over XML customer: (segment, nation) pairs seen
    among mid-high balances (8000, 9500] minus pairs seen among top
    balances (> 9500)."""
    c = _xml_table(spark, sf_dir, "customer",
                   columns=["c_mktsegment", "c_nationkey", "c_acctbal"])
    # ONE scan answers the set difference as a conditional aggregate:
    # group the bal>8000 rows by pair and flag which band(s) each pair
    # appears in — pairs in mid but not top ARE mid.except(top). The
    # previous two-branch shape (mid.distinct exceptAll top.distinct)
    # scanned the customer XML twice (Python-data-source scans don't
    # canonicalize equal, so ReuseExchange can't share them) and paid
    # two distinct exchanges plus the exceptAll shuffle; groupBy's
    # null-safe key equality matches the set-op semantics exactly, and
    # c_acctbal is non-NULL under the pushed bal>8000 filter, so the
    # band flags are never NULL.
    g = (
        c.filter(F.col("c_acctbal") > 8000)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.max(F.col("c_acctbal") <= 9500).alias("in_mid"),
            F.max(F.col("c_acctbal") > 9500).alias("in_top"),
        )
    )
    return (
        g.filter(F.col("in_mid") & ~F.col("in_top"))
        .select("c_mktsegment", "c_nationkey")
        .orderBy("c_mktsegment", "c_nationkey")
    )


def q_xml_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot over XML lineitem: return-flag quantities per line status
    (explicit pivot values keep the plan a single hash aggregate — no
    distinct-values pre-scan)."""
    li = _xml_table(spark, sf_dir, "lineitem",
                    columns=["l_linestatus", "l_returnflag", "l_quantity"])
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
    )
    return (
        out.select(
            "l_linestatus",
            F.col("A").alias("qty_a"),
            F.col("N").alias("qty_n"),
            F.col("R").alias("qty_r"),
        ).orderBy("l_linestatus")
    )


def q_xml_exists_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS/NOT-EXISTS aggregation over XML tables: per nation,
    customers with at least one urgent order and customers with no
    orders at all."""
    c = _xml_table(spark, sf_dir, "customer",
                   columns=["c_custkey", "c_nationkey"])
    o = _xml_table(spark, sf_dir, "orders",
                   columns=["o_custkey", "o_orderpriority"])
    # ONE orders scan folds to a per-custkey summary (map-side
    # combinable, one shuffle); ONE left join of the customer dim
    # against that summary answers BOTH the EXISTS(urgent) and the
    # NOT-EXISTS(any order) counts as conditional sums — o_custkey is
    # unique after the groupBy, so the left join emits exactly one row
    # per customer: sum(has_urgent) == the left_semi count and
    # sum(o_custkey IS NULL) == the left_anti count of the previous
    # shape, which scanned and shuffled the customer dim TWICE (semi +
    # anti branches; Python-data-source scans don't canonicalize equal,
    # so ReuseExchange can never share them) and full-outer-joined the
    # two partial aggregates back together. NULL c_custkey never
    # matches, so those rows land in n_no_orders — exactly the
    # NOT EXISTS semantics of the oracle SQL. The HAVING filter
    # reproduces the row set the old full_outer join produced (nations
    # with at least one urgent or order-less customer). The summary no
    # longer persists: it has exactly one consumer now.
    osum = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderpriority") == "1-URGENT").alias("has_urgent")
    )
    j = c.join(osum, c.c_custkey == osum.o_custkey, "left")
    return (
        j.groupBy("c_nationkey")
        .agg(
            F.sum(F.when(F.col("has_urgent"), 1).otherwise(0))
            .cast("bigint").alias("n_urgent"),
            F.sum(F.when(osum.o_custkey.isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_no_orders"),
        )
        .filter((F.col("n_urgent") > 0) | (F.col("n_no_orders") > 0))
        .orderBy("c_nationkey")
    )


def q_xml_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over an XML temp view (SQL surface beyond rollup):
    per-returnflag, per-linestatus, and grand-total rows in one pass,
    grouping() flags disambiguating the null group keys. NULLS FIRST is
    explicit — Spark's ASC default, mirrored in the oracle where DuckDB
    defaults to NULLS LAST."""
    li = _xml_table(spark, sf_dir, "lineitem",
                    columns=["l_returnflag", "l_linestatus", "l_quantity"])
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               SUM(l_quantity) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls,
                 l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


def q_xml_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery over an XML temp view: orders above the global
    average price, per status."""
    o = _xml_table(spark, sf_dir, "orders",
                   columns=["o_orderstatus", "o_orderkey", "o_totalprice"])
    o.createOrReplaceTempView("ord_sq")
    return spark.sql(
        """
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_above,
               MIN(o_orderkey) AS min_key
        FROM ord_sq
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM ord_sq)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


def q_xml_explode_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 arrays + explode: orders nested with their lineitems in one XML
    document, read back and re-flattened (repeated sibling elements ->
    ArrayType, InferSchema.scala:220-228)."""

    def nest(_df):
        o = _parquet(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
        li = _parquet(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey", "o_orderstatus")
            .agg(
                F.collect_list(
                    F.struct("l_linenumber", "l_quantity", "l_extendedprice")
                ).alias("item")
            )
        )

    nested = _xml_table(
        spark, sf_dir, "orders", variant="nested", transform=nest, rowTag="order"
    )
    return (
        nested.select("o_orderstatus", F.explode("item").alias("li"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("li.l_quantity").alias("sum_qty"),
            _dec_sum_str("li.l_extendedprice").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


def q_xml_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-flatten of a nested XML read (functions.flatten_xml): the
    orders-with-lineitems document relationalized without hand-written
    explode/select chains — struct fields promoted to item_* columns,
    the repeated <item> element exploded OUTER. Aggregates must equal
    the hand-written xml_explode_nested totals."""
    from spark_xml_spark.functions import flatten_xml

    def nest(_df):
        o = _parquet(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
        li = _parquet(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey", "o_orderstatus")
            .agg(
                F.collect_list(
                    F.struct("l_linenumber", "l_quantity", "l_extendedprice")
                ).alias("item")
            )
        )

    nested = _xml_table(
        spark, sf_dir, "orders", variant="nested", transform=nest, rowTag="order"
    )
    flat = flatten_xml(nested)
    return (
        flat.groupBy("o_orderstatus")
        .agg(
            F.count("item_l_linenumber").alias("n_items"),
            F.sum("item_l_quantity").alias("sum_qty"),
            _dec_sum_str("item_l_extendedprice").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


def q_xml_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 attribute handling: attribute-prefixed fields round-trip as XML
    attributes (StaxXmlGenerator attr partition; parse via
    convertAttributesToValuesMap semantics)."""

    def to_attrs(df):
        return df.select(
            F.col("o_orderkey").alias("_id"),
            F.col("o_orderstatus").alias("_status"),
            F.col("o_totalprice").alias("totalprice"),
        )

    o = _xml_table(spark, sf_dir, "orders", variant="attrs", transform=to_attrs)
    return (
        o.groupBy(F.col("_status").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.min("_id").alias("min_id"),
            _dec_sum_str("totalprice").alias("total"),
        )
        .orderBy("status")
    )


def q_xml_valuetag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 valueTag: element with attributes AND character content becomes
    {_VALUE, _attr} struct (InferSchema.scala:196-204)."""

    def to_value(df):
        return df.select(
            F.col("o_orderkey").alias("okey"),
            F.struct(
                F.col("o_totalprice").alias("_VALUE"),
                F.col("o_orderpriority").alias("_prio"),
            ).alias("price"),
        )

    o = _xml_table(spark, sf_dir, "orders", variant="valuetag", transform=to_value)
    return (
        o.groupBy(F.col("price._prio").alias("prio"))
        .agg(
            F.count("*").alias("n"),
            _dec_sum("price._VALUE").alias("total"),
        )
        .orderBy("prio")
    )


def q_xml_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics: null fields are elided on write and come back null
    (StaxXmlGenerator.scala:50-52; XmlSuite null-* fixtures)."""

    def nullify(df):
        return df.withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 10 == 0, F.lit(None)).otherwise(
                F.col("c_acctbal")
            ),
        )

    c = _xml_table(spark, sf_dir, "customer", variant="nulls", transform=nullify)
    return c.agg(
        F.count("*").alias("n_rows"),
        F.count("c_acctbal").alias("n_present"),
        F.sum(F.col("c_acctbal").isNull().cast("long")).alias("n_null"),
        _dec_sum("c_acctbal").alias("total_present"),
    )


def q_xml_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 wildcard column: xs_any absorbs child elements not in the schema
    (StaxXmlParser.scala:337-351, XmlSuite.scala:708-737)."""
    tag = "customer"
    # reuse the plain customer XML cache; read with an explicit 2-col schema
    _xml_table(spark, sf_dir, "customer")
    fp = _table_fingerprint(sf_dir, "customer")
    xml_dir = os.path.join(CACHE_ROOT, f"customer-plain-{fp}", "xml")
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("xs_any", T.ArrayType(T.StringType())),
        ]
    )
    c = read_xml(spark, xml_dir, schema=schema, rowTag=tag)
    return c.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.size("xs_any")).cast("long").alias("n_wild_elems"),
        F.min(F.size("xs_any")).cast("long").alias("min_wild"),
    )


def q_xml_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned XML layout: nation written under
    region=<n_regionkey>/ directories, read back through partition
    DISCOVERY (typed `region` column from the directory names) and a
    filter on that column, which Spark applies after the scan — the
    reference inherits discovery from Spark's FileFormat machinery; here
    it is reimplemented for the Python data source
    (sources/partitions.py)."""
    fp = _table_fingerprint(sf_dir, "nation")
    base = os.path.join(CACHE_ROOT, f"xmlpart2-nation-{fp}")

    def _build(stage):
        n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        write_xml(
            n.withColumn("region", F.col("n_regionkey").cast("long")),
            os.path.join(stage, "xml"),
            rowTag="nation",
            partition_by="region",
        )

    _cached_build(base, _build)
    df = read_xml(spark, os.path.join(base, "xml"), rowTag="nation")
    return (
        df.filter(F.col("region") >= 1)
        .groupBy("region")
        .agg(
            F.count("*").cast("bigint").alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        .orderBy("region")
    )


def q_xml_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 split-boundary invariant at query scale: forced ~256 KiB splits,
    record ownership by start-tag position => no loss, no duplication
    (XmlInputFormat.scala:198; XmlPartitioningSuite.scala:27-72)."""
    _xml_table(spark, sf_dir, "lineitem")  # ensure cache
    fp = _table_fingerprint(sf_dir, "lineitem")
    base = os.path.join(CACHE_ROOT, f"lineitem-plain-{fp}")
    with open(os.path.join(base, "schema.json")) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    xml_dir = os.path.join(base, "xml")
    # force multiple splits per file, but scale the split size so task count
    # stays O(100) at any sf (hundreds of sub-MB Python tasks would be pure
    # scheduler overhead)
    total = sum(
        os.path.getsize(os.path.join(xml_dir, f)) for f in os.listdir(xml_dir)
    )
    target = min(max(total // 128, 256 * 1024), 16 * 1024 * 1024)
    register(spark)
    df = (
        spark.read.format("xml-graft")
        .schema(schema)
        .option("rowTag", "lineitem")
        .option("targetSplitSize", str(target))
        .load(xml_dir)
    )
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum("l_orderkey").alias("sum_okey"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


def q_xml_ddl_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 SQL DDL: CREATE TABLE ... USING xml-graft, queried with SQL
    (DefaultSource.scala:29-38; XmlSuite.scala:178-196)."""
    register(spark)
    fp = _table_fingerprint(sf_dir, "region")
    _xml_table(spark, sf_dir, "region", variant="ddl")
    xml_dir = os.path.join(CACHE_ROOT, f"region-ddl-{fp}", "xml")
    spark.sql("DROP TABLE IF EXISTS xml_graft_region")
    spark.sql(
        f"""CREATE TABLE xml_graft_region USING `xml-graft`
            OPTIONS (path '{xml_dir}', rowTag 'region')"""
    )
    return spark.sql(
        """SELECT r_regionkey, r_name FROM xml_graft_region
           ORDER BY r_regionkey"""
    )


def q_from_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 from_xml: parse an XML-fragment column built in SQL, then
    aggregate the extracted fields (XmlDataToCatalyst semantics,
    XmlSuite.scala:1132-1222)."""
    e = _events(spark, sf_dir)
    frag = F.concat(
        F.lit("<e><id>"),
        F.col("event_id").cast("string"),
        F.lit("</id><t>"),
        F.col("event_type"),
        F.lit("</t><v>"),
        F.floor(F.col("value") * 1000).cast("long").cast("string"),
        F.lit("</v></e>"),
    )
    parsed = e.select(
        from_xml(frag, "struct<id:bigint,t:string,v:bigint>").alias("p")
    )
    return (
        parsed.groupBy(F.col("p.t").alias("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum("p.v").alias("sum_scaled"),
            F.min("p.id").alias("min_id"),
        )
        .orderBy("event_type")
    )


def q_from_xml_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 parse-mode policy through from_xml: malformed records land in the
    corrupt-record column, valid ones parse (StaxXmlParser.scala:54-124)."""
    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    good = F.concat(
        F.lit("<d><id>"),
        F.col("doc_id").cast("string"),
        F.lit("</id><src>"),
        F.col("source"),
        F.lit("</src></d>"),
    )
    bad = F.concat(F.lit("<d><id>"), F.col("doc_id").cast("string"), F.lit("</id><src>"))
    frag = F.when(F.col("doc_id") % 10 == 0, bad).otherwise(good)
    parsed = d.select(
        from_xml(
            frag,
            "struct<id:bigint,src:string,_corrupt_record:string>",
            {"mode": "PERMISSIVE"},
        ).alias("p")
    )
    return parsed.agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("p._corrupt_record").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.col("p.src").isNotNull().cast("long")).alias("n_parsed"),
    )


def q_from_xml_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 from_xml_string: driver-side single-record parse (reference
    package.scala:154-157) of a fragment with attributes, a nested struct
    and an array; every parsed field parameterizes a distributed
    filter-aggregate so the oracle checks the parse end-to-end."""
    row = from_xml_string(
        '<q lo="101" hi="1400">'
        "<seg>BUILDING</seg><nations><k>3</k><k>9</k><k>14</k></nations></q>",
        "struct<_lo:bigint,_hi:bigint,seg:string,"
        "nations:struct<k:array<bigint>>>",
    )
    c = _parquet(spark, sf_dir, "customer")
    return (
        c.filter(
            (F.col("c_custkey") >= F.lit(row["_lo"]))
            & (F.col("c_custkey") <= F.lit(row["_hi"]))
            & (F.col("c_mktsegment") == F.lit(row["seg"]))
            & F.col("c_nationkey").isin(list(row["nations"]["k"]))
        )
        .agg(
            F.count("*").alias("n"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .select(F.lit(row["seg"]).alias("seg"), "n", "min_key", "max_key")
    )


def q_to_xml_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 generation as a column function: to_xml output is byte-identical
    to the SQL-concatenated fragment (StaxXmlGenerator element order)."""
    e = _events(spark, sf_dir).filter(F.col("event_id") < 1000)
    xml = to_xml(
        F.struct(F.col("event_id"), F.col("user_id")),
        "struct<event_id:bigint,user_id:bigint>",
    )
    return e.select(F.col("event_id"), xml.alias("xml")).orderBy("event_id")


def q_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S12 inference as data: the distributed-inferred schema of the XML
    nation table, one row per field (sorted-by-name fields,
    InferSchema.scala:230-231)."""
    _xml_table(spark, sf_dir, "nation")
    fp = _table_fingerprint(sf_dir, "nation")
    xml_dir = os.path.join(CACHE_ROOT, f"nation-plain-{fp}", "xml")
    schema = infer_xml_schema(spark, xml_dir, rowTag="nation")
    rows = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    return spark.createDataFrame(rows, "field string, dtype string").orderBy("field")


def q_xsd_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 XSD -> StructType (XSDToSchema.scala:43-277), returned as rows."""
    from spark_xml_spark.xsd import xsd_to_schema

    xsd = """<?xml version="1.0"?>
    <xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:element name="part">
        <xs:complexType><xs:sequence>
          <xs:element name="p_partkey" type="xs:long"/>
          <xs:element name="p_name" type="xs:string"/>
          <xs:element name="p_size" type="xs:int" minOccurs="0"/>
          <xs:element name="p_retailprice" type="xs:double"/>
        </xs:sequence></xs:complexType>
      </xs:element>
    </xs:schema>"""
    struct = xsd_to_schema(xsd)["part"].dataType
    rows = [
        (f.name, f.dataType.simpleString(), f.nullable) for f in struct.fields
    ]
    return spark.createDataFrame(
        rows, "field string, dtype string, nullable boolean"
    ).orderBy("field")


def q_xsd_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 row validation: XML-ified part validated against an XSD during
    read; all rows are valid => full count (ValidatorUtil.scala:30-55,
    XmlSuite.scala:1090-1121)."""
    _xml_table(spark, sf_dir, "part", rowTag="part")
    fp = _table_fingerprint(sf_dir, "part")
    base = os.path.join(CACHE_ROOT, f"part-plain-{fp}")
    xsd_path = os.path.join(base, "part.xsd")
    # xs:sequence order MUST match the generated documents' field order
    # (the parquet column order) — the validator enforces sequence order
    # now; an alphabetical declaration would correctly reject every row.
    # Rewritten unconditionally so a stale cached XSD can't survive a
    # validator-semantics change.
    with open(xsd_path, "w") as fh:
        fh.write(
            """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="part">
    <xs:complexType><xs:sequence>
      <xs:element name="p_partkey" type="xs:long"/>
      <xs:element name="p_name" type="xs:string"/>
      <xs:element name="p_brand" type="xs:string"/>
      <xs:element name="p_type" type="xs:string"/>
      <xs:element name="p_size" type="xs:long"/>
      <xs:element name="p_retailprice" type="xs:double"/>
    </xs:sequence></xs:complexType>
  </xs:element>
</xs:schema>"""
        )
    with open(os.path.join(base, "schema.json")) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    df = read_xml(
        spark,
        os.path.join(base, "xml"),
        schema=schema,
        rowTag="part",
        rowValidationXSDPath=xsd_path,
        mode="FAILFAST",
    )
    return df.agg(
        F.count("*").alias("n_valid"), F.sum("p_partkey").alias("sum_key")
    )


# ---------------------------------------------------------------------------
# LLM-pipeline queries (SURVEY §2.3)
# ---------------------------------------------------------------------------


def _await_stream(q, timeout_s: int = 300) -> None:
    """awaitTermination returns False on timeout instead of raising; a
    timed-out availableNow stream would keep writing while the caller
    aggregates a PARTIAL sink — fail loudly instead."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream did not finish within {timeout_s}s; sink is partial"
        )


@contextlib.contextmanager
def _stateful_parts(spark: SparkSession, n: int = 4):
    """Run a stateful streaming query with a small shuffle-partition
    count (restored on exit): every stateful operator materializes a
    state store per shuffle partition per microbatch, so at local
    replay scale 32 partitions is pure state-store file churn. The
    count bakes into the (per-call, throwaway) checkpoint; at
    production scale the same knob is sized to the cluster instead
    (VERDICT r11 task 5)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _stream_source(spark: SparkSession, sf_dir: str, name: str,
                   base_table: str, build) -> str:
    """Cached stream-source parquet directory keyed by (name+recipe,
    corpus fingerprint): the replayed corpus is fixed per sf_dir, so each
    call measures the STREAMING pipeline (readStream -> state/sink), not
    the one-time source materialization — the same steady-state contract
    as _xml_table. Checkpoints and sink outputs stay per-call temp dirs
    (stream state is never reused across calls). ``build(path)`` writes
    the source parquet on first use.

    ``name`` MUST encode the build recipe (e.g. 'dedup-mod7'): the cache
    key cannot see inside the closure, so editing a _build without
    renaming would silently replay the OLD corpus from a warm cache."""
    fp = _table_fingerprint(sf_dir, base_table)
    base = os.path.join(CACHE_ROOT, f"ssrc-{name}-{fp}")
    _cached_build(base, lambda stage: build(os.path.join(stage, "src")))
    return os.path.join(base, "src")


def _fb_parquet_sink(out: str):
    """foreachBatch parquet sink: ONE overwrite-mode write job per
    micro-batch into a bid=<batchId> subdir. Replaces
    ``writeStream.format("parquet")`` across the streaming queries (r16,
    VERDICT r15 task 4 generalized): the streaming parquet sink pays a
    per-batch _spark_metadata commit-log write on top of the data write —
    ~0.4 s of stream_simhash's isolated wall in the r16 same-session A/B
    (3.05 -> 2.66 s, identical sink rows). overwrite-per-batch-id keeps
    checkpoint-recovery retries idempotent (the ADVICE-r15 pattern).
    Read the sink back with ``_read_fb_sink`` — recursiveFileLookup, so
    the bid= dirs never become a partition column."""
    os.makedirs(out, exist_ok=True)

    def _sink(df, bid):
        df.write.mode("overwrite").parquet(os.path.join(out, f"bid={bid}"))

    return _sink


def _read_fb_sink(spark: SparkSession, out: str) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(out)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/dedup.py): documents plus planted
    duplicates (every 7th doc repeated under a shifted id, the dedup_exact
    corpus) replayed as a stream, deduplicated on content hash with
    dropDuplicates state, availableNow. Output stats are over the KEPT
    texts — one row per distinct text regardless of which arrival won, so
    the aggregate is deterministic and SQL-checkable."""
    import tempfile

    from spark_xml_spark.streaming import (
        check_checkpoint_encoding,
        dedup_stream_exact,
    )

    work = tempfile.mkdtemp(prefix="xml_sdedup_q_")
    out = os.path.join(work, "out")

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id", "text")
        planted = d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        d.unionAll(planted).coalesce(4).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "dedup-mod7shift1m", "documents", _build)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    ckpt = os.path.join(work, "ckpt")
    check_checkpoint_encoding(ckpt)  # refuse cross-encoding resume
    with _stateful_parts(spark):
        q = (
            dedup_stream_exact(stream, cols=["text"])
            .writeStream.foreachBatch(_fb_parquet_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    kept = _read_fb_sink(spark, out)
    return kept.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
        F.count_distinct("text").cast("bigint").alias("n_distinct"),
    )


def q_stream_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup detection (streaming/dedup.py
    simhash_stream_pairs): documents replayed as a stream with synthetic
    event times ts = epoch + 1e6 + doc_id*60 s; emits every pair with
    Hamming(simhash60) <= 3 AND event times within 1800 s (banded
    applyInPandasWithState, state bounded by watermark x window). Same
    portable signature and recall-complete 4x15 bands as the batch
    dedup_simhash, so the oracle replays the signature in SQL and adds
    the time-window join condition. Pairs colliding in several bands
    emit once per band; DISTINCT after the sink."""
    import tempfile

    from spark_xml_spark.streaming.dedup import simhash_stream_pairs

    work = tempfile.mkdtemp(prefix="xml_ssim_q_")
    out = os.path.join(work, "out")

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False).select(
            "doc_id",
            "text",
            (F.lit(1_000_000) + F.col("doc_id") * 60)
            .cast("timestamp")
            .alias("ts"),
        )
        d.orderBy("doc_id").coalesce(4).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "simhash-ts60", "documents", _build)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    pairs = simhash_stream_pairs(
        stream,
        window_seconds=1800,
        max_hamming=3,
        watermark="3650 days",  # finite replay: drop nothing
    )
    # _stateful_parts at n=8, not the join/window queries' n=4, and the
    # operator's default state sharding (state_shards=256): r14's
    # decomposition of the isolated wall (recentProgress durationMs +
    # component timings) found the cost was NOT the simhash UDF (~0.05s
    # over the 0.4s passthrough floor) but per-GROUP stateful-framework
    # overhead — ~2k exact (band,bh) buckets at ~8ms each of Arrow
    # slice + pandas construction + state row round-trip. Sharding the
    # state key to (band, bh % 256) with an exact-bh sub-index inside
    # the shard cut the quiet-host isolated min from 3.72s to 2.28s
    # with a bit-identical pair set (r13's cited 1.87s at exact keying
    # never reproduced — committed artifact 4.17s, judge 4.37s; the
    # honest r13 number was ~3.7-4.4s). A watermarked stream-stream
    # self-join variant (all-JVM bit_count) measured 3.69s — the
    # stateful+sharded shape wins AND keeps the max_bucket cap.
    # Protocol: the query run alone on a quiet host, min of repeated runs.
    # foreachBatch sink, one overwrite-per-batch-id write job (the
    # backpressure/cms_topk sink playbook, VERDICT r15 task 4): the
    # streaming parquet sink's per-batch _spark_metadata commit log was
    # ~0.4 s of the isolated wall (r16 decomposition, min-of-4:
    # writeStream 3.05 s vs foreachBatch 2.66 s, identical 3216-row
    # sink content; coalesce(1) inside the batch A/B'd NEGATIVE at
    # 7.46 s — it collapses the stateful operator's parallelism).
    # overwrite into bid= subdirs keeps checkpoint-recovery retries
    # idempotent; the read-back DISTINCT is unchanged either way.
    with _stateful_parts(spark, n=8):
        q = (
            pairs.writeStream.foreachBatch(_fb_parquet_sink(out))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    return (
        _read_fb_sink(spark, out)
        .distinct()
        .orderBy("id_a", "id_b")
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
    )


def q_stream_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest: readStream over the XML-ified nation
    directory (file-tailing source, availableNow trigger) -> parquet sink,
    then aggregate the ingested rows. No reference counterpart (spark-xml
    has no streaming); SURVEY §7 phase-6 extension."""
    import tempfile

    register(spark)
    _xml_table(spark, sf_dir, "nation")
    fp = _table_fingerprint(sf_dir, "nation")
    base = os.path.join(CACHE_ROOT, f"nation-plain-{fp}")
    with open(os.path.join(base, "schema.json")) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    work = tempfile.mkdtemp(prefix="xml_stream_q_")
    out = os.path.join(work, "out")
    q = (
        spark.readStream.format("xml-graft")
        .schema(schema)
        .option("rowTag", "nation")
        .option("path", os.path.join(base, "xml"))
        .load()
        .writeStream.foreachBatch(_fb_parquet_sink(out))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return _read_fb_sink(spark, out).agg(
        F.count("*").alias("n_rows"),
        F.sum("n_nationkey").alias("sum_key"),
        F.count_distinct("n_regionkey").alias("n_regions"),
    )


def q_stream_backpressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission-controlled streaming ingest (maxFilesPerTrigger +
    admissionCursorPath, streaming/source.py latestOffset): the nation XML
    backlog must arrive in ceil(n_files / cap) capped microbatches — the
    100 TB backlog-start shape, where batch 0 over an unbounded directory
    would otherwise plan the whole corpus in one trigger. The batch-count
    property is asserted here (it is not expressible over the parquet
    tables); the oracle value-checks ingest completeness: capping must
    lose and duplicate nothing."""
    import math
    import tempfile

    register(spark)
    _xml_table(spark, sf_dir, "nation")
    fp = _table_fingerprint(sf_dir, "nation")
    base = os.path.join(CACHE_ROOT, f"nation-plain-{fp}")
    with open(os.path.join(base, "schema.json")) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    src = os.path.join(base, "xml")
    n_files = len(os.listdir(src))
    # cap chosen so the backlog needs MULTIPLE capped batches (the property
    # under test) without paying per-trigger overhead 4x over: 16 files -> 2
    cap = 8
    work = tempfile.mkdtemp(prefix="xml_stream_bp_")
    out = os.path.join(work, "out")
    os.makedirs(out, exist_ok=True)
    batch_rows = []

    def _sink(df, bid):
        # ONE Spark job per batch (r15 decomposition): write straight to
        # a batch-id subdir and take the per-batch row count from the
        # written parquet FOOTERS (driver-side, ~ms) instead of a
        # persist+count+write trio — the count job and the
        # persist/unpersist bookkeeping were two extra job launches per
        # micro-batch over the Python XML source. recursiveFileLookup on
        # the final read keeps the subdirs out of the schema.
        # overwrite, not append: a checkpoint-recovery retry of the same
        # batch id must replace its subdir, not double the footer count
        # and duplicate rows in the final aggregate (ADVICE r15; the
        # idempotent per-batch-id pattern q_stream_cms_topk's sink uses)
        bdir = os.path.join(out, f"bid={bid}")
        df.write.mode("overwrite").parquet(bdir)
        import pyarrow.parquet as pq

        n = sum(
            pq.ParquetFile(os.path.join(bdir, f)).metadata.num_rows
            for f in os.listdir(bdir)
            if f.endswith(".parquet")
        )
        if n:
            batch_rows.append(n)

    q = (
        spark.readStream.format("xml-graft")
        .schema(schema)
        .option("rowTag", "nation")
        .option("path", src)
        .option("maxFilesPerTrigger", str(cap))
        .option("admissionCursorPath", os.path.join(work, "cursor.json"))
        .load()
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    expected = math.ceil(n_files / cap)
    if len(batch_rows) != expected:
        raise AssertionError(
            f"admission control failed: {n_files} files at "
            f"maxFilesPerTrigger={cap} should ingest in {expected} "
            f"microbatches, observed {len(batch_rows)} ({batch_rows})"
        )
    return spark.read.option("recursiveFileLookup", "true").parquet(
        out
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("n_nationkey").alias("sum_key"),
        F.count_distinct("n_regionkey").alias("n_regions"),
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): gap-based
    sessionization over the events table replayed as a stream. Only sessions
    CLOSED by a later event are emitted (each user's final session stays
    open), which the oracle mirrors by dropping every user's last session."""
    import tempfile

    from spark_xml_spark.streaming.stateful import sessionize_stream

    work = tempfile.mkdtemp(prefix="xml_sess_q_")
    out = os.path.join(work, "out")

    def _build(path):
        ev = _events(spark, sf_dir)
        ts_sec, _ = _events_ts_cols(ev)
        e = ev.withColumn("ts_sec", ts_sec).select("user_id", "ts_sec")
        e.coalesce(4).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "sessionize-uid-tssec", "events", _build)
    stream = spark.readStream.schema("user_id long, ts_sec long").parquet(src)
    q = (
        sessionize_stream(stream, gap_seconds=1800, expire_open_sessions=False)
        .writeStream.foreachBatch(_fb_parquet_sink(out))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    sessions = _read_fb_sink(spark, out)
    return sessions.agg(
        F.count("*").alias("n_closed"),
        F.count_distinct("user_id").alias("n_users_closed"),
        F.max("n_events").alias("max_closed_len"),
        F.sum("n_events").alias("sum_closed_events"),
    )


def q_stream_xml_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming XML SINK: supplier replayed as a stream (availableNow) and
    written as XML documents per micro-batch task via
    ``writeStream.format("xml-graft")``, read back with the batch reader,
    then aggregated. Exactly-once at the task level: each task writes one
    uniquely-named part file, aborted tasks clean up after themselves
    (streaming/source.py XmlStreamWriter)."""
    import tempfile

    register(spark)
    work = tempfile.mkdtemp(prefix="xml_sink_q_")
    out = os.path.join(work, "out")

    def _build(path):
        sup = _parquet(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", F.col("s_nationkey").cast("long"),
            "s_acctbal",
        )
        sup.coalesce(4).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "sink-sup4col", "supplier", _build)
    stream = spark.readStream.schema(
        "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double"
    ).parquet(src)
    q = (
        stream.writeStream.format("xml-graft")
        .option("path", out)
        .option("rowTag", "supplier")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    back = read_xml(
        spark,
        out,
        schema=T.StructType(
            [
                T.StructField("s_suppkey", T.LongType()),
                T.StructField("s_name", T.StringType()),
                T.StructField("s_nationkey", T.LongType()),
                T.StructField("s_acctbal", T.DoubleType()),
            ]
        ),
        rowTag="supplier",
    )
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("s_suppkey").alias("sum_key"),
        F.count_distinct("s_nationkey").cast("bigint").alias("n_nations"),
        _dec_sum_str("s_acctbal").alias("sum_bal"),
    )


def q_text_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pretraining-corpus filter as ONE single-scan pipeline:
    language-ID -> quality score -> token count, keep docs with
    lang_pred='en', quality_score >= 0.5 and 50 <= n_tokens <= 100000.
    All three signals are codegen column expressions over one pass of the
    documents table (no shuffle until the final aggregate)."""
    from spark_xml_spark.operators import (
        add_language_id,
        add_quality_score,
        add_token_count,
    )

    d = _parquet(spark, sf_dir, "documents")
    d = add_token_count(add_quality_score(add_language_id(d)))
    # Pushdown barrier: Catalyst substitutes the three signal expressions
    # into the filter and pushes the result through the repartition into
    # the scan stage — which for a one-row-group file is a SINGLE task
    # evaluating every mega-expression serially (2.4s vs 0.6s observed at
    # sf0.1). One non-deterministic column in the projection (referenced
    # by an always-true conjunct so pruning keeps it) pins the signals in
    # the fanned-out stage. At scale the scan is already parallel and the
    # expression cost dwarfs the row width, so the lost scan-stage
    # filtering is noise.
    d = d.withColumn("_fanout_barrier", F.rand(7))
    kept = d.filter(
        (F.col("lang_pred") == "en")
        & (F.col("quality_score") >= 0.5)
        & F.col("n_tokens").between(50, 100000)
        & (F.col("_fanout_barrier") >= -1.0)
    )
    return kept.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join: the events stream joins a BROADCAST
    static dimension inside every micro-batch — the canonical streaming
    enrichment shape (at 100 TB the stream side never shuffles; the dim
    broadcasts per batch), stateless so availableNow/append needs no
    watermark. Sink rows are then aggregated per region name; the money
    sum uses the decimal pattern (order-insensitive, hash-stable)."""
    import tempfile

    work = tempfile.mkdtemp(prefix="xml_enrich_q_")
    out = os.path.join(work, "out")

    def _build(path):
        ev = _events(spark, sf_dir)
        ev.select("event_id", "user_id", "value").coalesce(4).write.mode(
            "overwrite"
        ).parquet(path)

    src = _stream_source(spark, sf_dir, "enrich-id-uid-val", "events", _build)
    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).parquet(src)
    nat = _xml_table(spark, sf_dir, "nation",
                     columns=["n_nationkey", "n_name"])
    enriched = stream.join(
        F.broadcast(nat), stream.user_id % 25 == nat.n_nationkey
    ).select("event_id", "n_name", "value")
    q = (
        enriched.writeStream.foreachBatch(_fb_parquet_sink(out))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    got = _read_fb_sink(spark, out)
    return (
        got.groupBy("n_name")
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum_str("value").alias("sum_value"),
        )
        .orderBy("n_name")
    )


def q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed aggregation as a STREAM: events
    replayed with availableNow through readStream -> withWatermark(30m) ->
    1-hour tumbling window groupBy -> append-mode parquet sink
    (streaming/windowed.py). Append mode only emits FINALIZED windows,
    i.e. window_end <= max event time - watermark (verified behavior of
    the availableNow flush batch); the oracle applies the same cutoff in
    SQL. Window bounds are returned as epoch seconds (portable hash)."""
    import tempfile

    from spark_xml_spark.streaming.windowed import windowed_event_counts

    work = tempfile.mkdtemp(prefix="xml_win_q_")
    out = os.path.join(work, "out")

    def _build(path):
        ev = _events(spark, sf_dir)
        _, ts_utc = _events_ts_cols(ev)
        e = ev.select(ts_utc.alias("ts"), "event_type", "value")
        e.coalesce(4).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "windowed-ts-evtype-val", "events", _build)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src)
    with _stateful_parts(spark):
        q = (
            windowed_event_counts(
                stream, window_duration="1 hour", watermark="30 minutes"
            )
            .writeStream.foreachBatch(_fb_parquet_sink(out))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    got = _read_fb_sink(spark, out)
    return got.select(
        F.unix_timestamp("window_start").alias("win_start_s"),
        F.unix_timestamp("window_end").alias("win_end_s"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value",
    ).orderBy("win_start_s", "event_type")


def _planted_neighbors(e: DataFrame, n: int = 30) -> DataFrame:
    """Corpus + a graded family of near-duplicates of the vec_id=0 vector:
    copy i (vec_id 1000000+i) adds CAST(i*0.0001 AS FLOAT) to every
    element, so cosine(q, copy_i) decreases monotonically in i and the
    exact top-k around q is fully determined — derivable in DuckDB with
    the same float arithmetic. A random corpus has no high-cosine
    neighbors (max ~0.51), so ANN recall would be untestable without the
    plant."""
    qrow = e.filter(F.col("vec_id") == 0)
    planted = qrow.select(
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("i"), "embedding"
    ).select(
        (F.lit(1000000) + F.col("i")).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: x + (F.col("i").cast("double") * F.lit(0.0001)).cast("float"),
        ).alias("embedding"),
    )
    return e.select("vec_id", "embedding").unionAll(planted)


_PLANTED_TOPK_SQL = """
    WITH planted AS (
      SELECT 1000000 + i AS vec_id,
             list_transform(e.embedding,
               x -> CAST(x + CAST(i * 0.0001 AS FLOAT) AS FLOAT)) AS embedding
      FROM range(1, 31) t(i), (SELECT embedding FROM embeddings WHERE vec_id = 0) e
    ), corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL SELECT vec_id, embedding FROM planted
    ), q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
             FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      FROM corpus, q
    )
    SELECT vec_id, round(cosine, 9) AS cosine_r FROM scored
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def _ivf_planted_index(spark: SparkSession, sf_dir: str, e: DataFrame):
    """Build-once/load-many planted IVF index shared by ann_ivf_topk and
    ann_ivf_knn. The build params (k=8, seed=42) live HERE only: the
    cache key is the corpus fingerprint, so two call sites with
    diverging params would silently serve whichever built first."""
    from spark_xml_spark.operators import IvfIndex

    fp = _table_fingerprint(sf_dir, "embeddings")
    base = os.path.join(CACHE_ROOT, f"ivf-planted-{fp}")
    _cached_build(
        base,
        lambda stage: IvfIndex.build(
            _planted_neighbors(e), k=8, seed=42
        ).save(stage),
    )
    return IvfIndex.load(spark, base)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (KMeans inverted file, nprobe cells, exact re-rank) over the
    corpus with planted near-neighbors of the query: the plant sits within
    ~0.03 of q in a space where cells are O(1) apart, so any KMeans
    clustering assigns q's family to the probed cells and the IVF result
    equals the exact top-10 — which is the (SQL-expressible) oracle."""
    e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
    q = _ann_query_vec(spark, sf_dir)
    # build-once / search-many steady state: the KMeans fit + partitioned
    # write run once per corpus fingerprint; every later call loads the
    # persisted index, whose _centroid partitioning lets the probe filter
    # prune whole partitions at the parquet source (the 100 TB read path).
    idx = _ivf_planted_index(spark, sf_dir, e)
    return idx.search(q, k=10, nprobe=3).select(
        "vec_id", F.round("cosine", 9).alias("cosine_r")
    )


def q_ann_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate BATCH k-NN join over the persisted IVF index (the
    large-Q scale path of ann_knn_join): four queries from the planted
    family probe their 3 nearest cells; within the plant the IVF answer
    equals the exact brute-force top-10, which is the SQL oracle. Reuses
    the ann_ivf_topk index cache — steady state is pure probe."""
    e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
    idx = _ivf_planted_index(spark, sf_dir, e)
    qs = _ann_query4(e)
    return (
        idx.knn_join(qs, "q_id", k=10, nprobe=3)
        .select(
            "q_id",
            "vec_id",
            F.round("cosine", 9).alias("cosine_r"),
            "rank",
        )
        .orderBy("q_id", "rank")
    )


def q_stream_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online vector search: a STREAM of query vectors probes the
    persisted IVF index per micro-batch via foreachBatch (the canonical
    pattern for running a batch-only operator chain — stream-static
    probe join + re-rank aggregation — inside Structured Streaming).
    Micro-batching is EXACT here because k-NN answers are independent
    per query row: the union of per-batch results equals the one-batch
    result, so the same brute-force SQL oracle as ann_ivf_knn applies.
    maxFilesPerTrigger=1 over a two-file query stream forces >= 2
    batches. The sink is the idempotent per-batch-overwrite writer
    (streaming/foreach.py): foreachBatch is at-least-once, so a
    crash-replayed batch must converge rather than append a duplicate
    copy (replay pinned by pytest)."""
    import tempfile

    e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
    idx = _ivf_planted_index(spark, sf_dir, e)

    def _build(path):
        _ann_query4(e).repartition(2).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "ann-q4-planted", "embeddings", _build)
    work = tempfile.mkdtemp(prefix="xml_sann_q_")
    out = os.path.join(work, "out")
    stream = (
        spark.readStream.schema("q_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    from spark_xml_spark.streaming import (
        idempotent_parquet_writer,
        read_batches,
    )

    write_batch = idempotent_parquet_writer(out)

    def _probe(batch_df, batch_id):
        write_batch(
            idx.knn_join(batch_df, "q_id", k=10, nprobe=3).select(
                "q_id",
                "vec_id",
                F.round("cosine", 9).alias("cosine_r"),
                "rank",
            ),
            batch_id,
        )

    q = (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return read_batches(spark, out).orderBy("q_id", "rank")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash with deterministic min-id keeper; the
    input is documents plus re-keyed copies of every 7th document."""
    d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id", "text")
    dupes = (
        d.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
    )
    deduped = exact_dedup(d.unionAll(dupes), cols=["text"], id_col="doc_id")
    return deduped.agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_kept_ids")
    )


_PAIRS_CODE_VERSION: list = []


def _pairs_code_version() -> str:
    """8-hex digest of the pair-pipeline operator sources, memoized per
    process. Any edit to dedup.py/similarity.py draws a fresh cache
    namespace, so operator fixes can't be masked by stale artifacts."""
    if not _PAIRS_CODE_VERSION:
        import hashlib

        import spark_xml_spark.operators.dedup as _d
        import spark_xml_spark.operators.similarity as _s

        h = hashlib.md5()
        for mod in (_d, _s):
            with open(mod.__file__, "rb") as fh:
                h.update(fh.read())
        _PAIRS_CODE_VERSION.append(h.hexdigest()[:8])
    return _PAIRS_CODE_VERSION[0]


def _near_dup_pairs_cached(
    spark: SparkSession, sf_dir: str, kind: str, build, table: str = "documents"
):
    """Materialize-once near-dup pair list, keyed by (corpus fingerprint,
    pipeline kind+params). In a production dedup stage the pair list is
    THE artifact: it is computed once per corpus snapshot and then read
    by every consumer — the pair report, the keep-list anti-join, the
    connected-components cluster build — instead of re-running the LSH /
    inverted-index pipeline per consumer. At 100 TB re-deriving the pairs
    for each downstream step would repeat the most expensive shuffle in
    the whole pipeline; the persisted parquet list is tiny (O(#dup
    pairs)) next to the corpus. ``build()`` returns the pair DataFrame;
    the staged write + rename follows the _cached_build protocol, so a
    crashed or concurrent builder can never publish a partial list.

    The cache key includes a hash of the operator SOURCE FILES
    (dedup.py, similarity.py): a bug fix to a pair pipeline must never
    be masked by a stale pre-fix pair list served from /tmp."""
    fp = _table_fingerprint(sf_dir, table)
    base = os.path.join(CACHE_ROOT, f"pairs-{_pairs_code_version()}-{kind}-{fp}")
    _cached_build(
        base, lambda stage: build().write.parquet(os.path.join(stage, "pairs"))
    )
    return spark.read.parquet(os.path.join(base, "pairs"))


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash pair list (n=3, 64 hashes, 32 bands, t=0.8),
    built once per corpus fingerprint and shared by the pair-report and
    keep-list queries."""
    d = _parquet(spark, sf_dir, "documents").select("doc_id", "text")
    return _near_dup_pairs_cached(
        spark,
        sf_dir,
        "minhash-n3-h64-b32-t080",
        lambda: minhash_near_dup_pairs(
            d, "doc_id", "text", n=3, num_hashes=64, bands=32, threshold=0.8
        ).select("id_a", "id_b", "jaccard"),
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pair list at t=0.5, built once per
    corpus fingerprint and shared by the pair-report and cluster
    queries."""
    d = _parquet(spark, sf_dir, "documents")
    return _near_dup_pairs_cached(
        spark,
        sf_dir,
        "jaccard-n3-t050",
        lambda: ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5),
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 pair list (portable md5-prefix hashes), built
    once per corpus fingerprint — same materialize-once artifact
    discipline as the minhash/jaccard pair lists."""
    from spark_xml_spark.operators import simhash_near_dup_pairs

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    return _near_dup_pairs_cached(
        spark,
        sf_dir,
        "simhash-h3-portable",
        lambda: simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3, portable=True),
    )


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministically perturbed re-keyed copies of every
    20th vector — the planted-near-dup corpus shared by the
    embedding-pair queries."""
    e = _parquet(spark, sf_dir, "embeddings", fan_out=False).select(
        "vec_id", "embedding"
    )
    planted = e.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(0.01).cast("float")
        ).alias("embedding"),
    )
    return e.unionAll(planted)


def _cosine_pairs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine pair list over the planted corpus (16 planes x 8
    bands, t=0.99, seed 42), built once per embeddings fingerprint and
    shared by the pair-report and semantic-cluster queries."""
    from spark_xml_spark.operators import cosine_pairs

    return _near_dup_pairs_cached(
        spark,
        sf_dir,
        "cosine-p16-b8-t099-s42",
        lambda: cosine_pairs(
            _planted_embeddings(spark, sf_dir),
            "vec_id",
            "embedding",
            threshold=0.99,
            num_planes=16,
            bands=8,
            seed=42,
        ),
        table="embeddings",
    )


def q_dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup REMOVAL (the training-data pipeline shape):
    MinHash-LSH candidates -> exact-Jaccard verify at 0.8 -> greedy keep
    (drop every doc appearing as the larger id of a verified pair).
    At b=32/r=2 the LSH miss probability at s>=0.8 is ~1e-14, so the
    output equals exact all-pairs dedup and the oracle is plain SQL.
    Reads the materialize-once pair artifact (_near_dup_pairs_cached) —
    the keep-list is an anti-join against the persisted pair list, not a
    second run of the LSH pipeline."""
    d = _parquet(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _minhash_pairs(spark, sf_dir)
    removed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = d.join(removed, "doc_id", "left_anti")
    return kept.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (inverted-index join, no
    all-pairs) at threshold 0.5, served from the materialize-once pair
    artifact shared with the cluster query."""
    return _jaccard_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH (64 hashes, 32 bands) candidates verified with exact
    Jaccard at 0.8 — at b=32/r=2 the miss probability at s>=0.8 is ~1e-14,
    so the verified output equals the exact answer and the oracle below is
    the plain all-pairs Jaccard SQL. Served from the materialize-once
    pair artifact shared with the keep-list query."""
    return (
        _minhash_pairs(spark, sf_dir)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming<=3), portable-hash mode: 60-bit
    word hashes from the md5 hex prefix, recomputable in DuckDB — so the
    oracle recomputes the full signature pipeline and (because 4-band
    pigeonhole candidates are recall-complete at Hamming<=3) compares
    against the exact all-pairs answer. Served from the materialize-once
    pair artifact (steady state reads the persisted list)."""
    return _simhash_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded hyperplane-LSH
    candidates (16 planes x 8 bands, capped buckets) verified with exact
    cosine. The random corpus has no natural near-dups (max pairwise cosine
    ~0.51), so every 20th vector gets a deterministically perturbed
    re-keyed copy planted; the operator must retrieve exactly those pairs.
    Oracle: the planted (k, k+1000000) pairs whose float-perturbation
    cosine clears the threshold — band-miss probability at cos ~0.9999 is
    ~(1 - 0.998^16)^8 < 1e-12, so the LSH output equals the exact answer.
    Served from the materialize-once pair artifact shared with the
    semantic-cluster query."""
    return (
        _cosine_pairs_planted(spark, sf_dir)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal scoring per source: identical column arithmetic on
    both engines (regex counts, stopword ratios, bounded score)."""
    from spark_xml_spark.operators import add_quality_score

    d = add_quality_score(_parquet(spark, sf_dir, "documents", fan_out=False))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.round(F.min("quality_score"), 6).alias("min_quality"),
        )
        .orderBy("source")
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 around the vec_id=0 embedding, scored
    by the default Arrow-matmul engine (VERDICT r11 task 2). numpy's
    blocked sums can differ from DuckDB's sequential fold in the last
    ulps, so the oracle equalizes at round(cosine, 9): a mismatch needs
    a cosine within ~1e-15 of a 9-dp rounding boundary or a cross-vector
    tie tighter than ~1e-12 — neither occurs in this corpus (and
    scoring='fold' remains the bit-exact-sequential escape hatch)."""
    e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
    q = _ann_query_vec(spark, sf_dir)
    return brute_force_cosine_topk(e, "embedding", q, k=10).select(
        "vec_id", F.round("cosine", 9).alias("cosine_r")
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 over the corpus with planted
    near-neighbors of the query: the family shares q's sign bucket
    (flip probability per plane ~1e-3 at cosine >= 0.9999), so the
    bucketed result equals the exact top-10 and the (SQL-expressible)
    exact oracle applies.

    Build-once / search-many steady state (same shape as ann_ivf_topk):
    the signature pass + partitionBy(_sig) write run once per corpus
    fingerprint; every later call loads the persisted LshIndex, whose
    probe filter prunes whole partitions at the parquet source — no
    per-query O(corpus) signature scan (VERDICT r6 'weak' plan)."""
    from spark_xml_spark.operators import LshIndex

    e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
    q = _ann_query_vec(spark, sf_dir)
    fp = _table_fingerprint(sf_dir, "embeddings")
    base = os.path.join(CACHE_ROOT, f"lsh-planted-{fp}")
    # same staged-rename protocol as every other cache: a concurrent
    # reader can never observe a half-written partitioned index, and a
    # crash mid-build leaves only an orphan stage dir, not a partial
    # cache that a later overwrite-mode rebuild races against
    _cached_build(
        base,
        lambda stage: LshIndex.build(
            _planted_neighbors(e), num_planes=6, seed=42
        ).save(stage),
    )
    idx = LshIndex.load(spark, base)
    return idx.search(q, k=10, multiprobe=2).select(
        "vec_id", F.round("cosine", 9).alias("cosine_r")
    )


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators.pack_sequences): lay
    documents end-to-end by doc_id and cut every 512 whitespace tokens —
    the step that turns a filtered corpus into fixed-length training
    sequences. Distributed prefix-sum (range shuffle + O(P) driver fold
    + streaming Arrow carry), never a global-order window. The checksum
    folds every per-doc (seq_first, n_seqs) into the result, so a
    one-token offset error anywhere in the corpus flips the value."""
    from spark_xml_spark.operators import pack_sequences

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id", "text")
    d = d.withColumn(
        "n_tok",
        F.coalesce(
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long"),
            F.lit(0),
        ),
    )
    packed = pack_sequences(d, "doc_id", "n_tok", seq_len=512)
    return packed.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        (F.max("seq_last") + 1).cast("bigint").alias("n_sequences"),
        F.sum(F.when(F.col("n_seqs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_straddlers"),
        F.sum(F.col("seq_first") * F.col("doc_id") + F.col("n_seqs"))
        .cast("bigint")
        .alias("checksum"),
    )


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (16-word windows, step 12 = 25%
    overlap): the operator that turns raw documents into model-context
    pieces. Pure codegen (split/sequence/transform/slice) — no UDF, no
    shuffle before the final aggregate. Output verifies exact chunk
    BOUNDARIES per document (first/last chunk text), not just counts."""
    from spark_xml_spark.operators import chunk_documents

    d = chunk_documents(
        _parquet(spark, sf_dir, "documents", fan_out=False), window=16, step=12
    )
    return (
        d.select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_words"),
            F.size("chunks").alias("n_chunks"),
            F.element_at("chunks", 1).alias("first_chunk"),
            F.element_at("chunks", -1).alias("last_chunk"),
        )
        .orderBy("doc_id")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components (min-id label
    propagation) over the exact word-3-gram Jaccard pairs at 0.5 — the
    principled successor to pair-based removal (transitive chains
    collapse to one canonical representative even for pairs never
    emitted). Iterative Spark joins; the oracle recomputes the same
    components with a DuckDB RECURSIVE CTE, so the final labels are
    fully value-checked despite the iterative (non-single-SQL) plan.
    Reads the materialize-once pair artifact shared with q_dedup_jaccard:
    the CC iterations start from the persisted pair list, so the
    shingle/inverted-index pipeline never runs twice per corpus."""
    from spark_xml_spark.operators import connected_components

    pairs = _jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs, "id_a", "id_b",
                              out_id="doc_id", out_comp="cluster_id")
    return cc.orderBy("doc_id")


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs whose distinct word-3-gram
    overlap with a planted 'benchmark' subset (doc_id % 37 == 0) is >= 0.8
    — the subset itself plus its near-duplicates. The benchmark shingle
    set broadcasts (eval suites are tiny next to a 100 TB corpus); the
    corpus side is one explode + broadcast semi join + keyed count."""
    from spark_xml_spark.operators import contamination_check

    d = _parquet(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    return (
        contamination_check(d, bench, "doc_id", "text", n=3, threshold=0.8)
        .select(
            "doc_id",
            "n_shingles",
            F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
            F.round("contamination", 6).alias("contamination_r"),
        )
        .orderBy("doc_id")
    )


def q_data_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard sink: split-partitioned parquet with every shard
    bounded at 37 rows, one write task per split (num_tasks pins the
    hash routing), read back for the manifest accounting — per split:
    rows, shard count (exactly ceil(rows/37)) and largest shard
    (min(rows, 37)). The oracle recomputes all three from the split
    membership alone."""
    import tempfile

    from spark_xml_spark.operators import (
        train_val_test_split,
        write_training_shards,
    )

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    s = train_val_test_split(d, "doc_id", val_pct=10, test_pct=10, salt="split8")
    out = os.path.join(tempfile.mkdtemp(prefix="xml_shards_q_"), "data")
    write_training_shards(
        s, out, records_per_shard=37, split_col="split",
        order_col="doc_id", num_tasks=8,
    )
    rb = spark.read.parquet(out).withColumn("_f", F.input_file_name())
    per_file = rb.groupBy("split", "_f").count()
    return (
        per_file.groupBy("split")
        .agg(
            F.sum("count").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_shards"),
            F.max("count").cast("bigint").alias("max_shard_rows"),
        )
        .orderBy("split")
    )


def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: the current documents table vs a synthesized
    previous snapshot (doc_id % 13 == 0 rows absent -> 'added';
    doc_id % 11 == 0 texts mutated -> 'changed'; shifted-id extras not
    in the current table -> 'removed'; the rest 'unchanged'). Output is
    the per-status accounting an incremental ingest reports."""
    from spark_xml_spark.operators import corpus_delta

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    prev = (
        d.filter(F.col("doc_id") % 13 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v1"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0).withColumn(
                "doc_id", F.col("doc_id") + 10_000_000
            )
        )
    )
    return (
        corpus_delta(prev, d, "doc_id", cols=["text", "lang", "source"])
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("status")
    )


def q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: exact cosine top-5 corpus neighbors for every
    query vector (vec_id % 97 == 0) — the many-to-many retrieval shape.
    Query side broadcasts; scoring takes the matmul path (one BLAS call
    per Arrow batch fused with the per-partition top-k — measured 3.7x
    the interpreted JVM fold at sf0.1, no fan-out exchange needed); the
    keyed merge sees partitions*Q*k rows. scoring='fold' remains the
    bit-exact-vs-sequential-SQL engine, pinned by pytest parity; the
    matmul ranks match it except across cosine ties tighter than ~1e-12
    (none in this corpus — the oracle hash-checks that)."""
    from spark_xml_spark.operators import knn_join

    e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
    q = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return (
        knn_join(e, q, "embedding", "vec_id", q_id_col="q_id", k=5,
                 scoring="matmul")
        .select(
            F.col("q_id"),
            F.col("vec_id"),
            F.round("cosine", 9).alias("cosine_r"),
            "rank",
        )
        .orderBy("q_id", "rank")
    )


_DIRTY_HTML_PREFIX = '<div class="doc"><p>'
_DIRTY_HTML_SUFFIX = (
    '</p><script type="text/javascript">var x = 1 < 2;</script>'
    "<!-- comment --><style>p { color: red; }</style>"
    " &amp;amp; &lt;b&gt; &nbsp;tail  </div>"
)


def _dirty_doc_col() -> "F.Column":
    """The planted HTML wrapper shared by the batch text_clean query and
    the stream_clean source build — one definition so the batch/stream
    pairing cannot drift (the stream-source cache cannot see inside its
    build closure)."""
    return F.concat(
        F.lit(_DIRTY_HTML_PREFIX), F.col("text"), F.lit(_DIRTY_HTML_SUFFIX)
    )


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus cleaning stage: markup strip + entity decode +
    whitespace collapse over deterministically dirtied documents (the
    planted wrapper exercises script bodies with a bare '<', comments,
    style blocks, double-escaped entities, and whitespace runs). The
    cleaned TEXT is value-compared against the oracle, not just
    counted."""
    from spark_xml_spark.operators import clean_text

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("doc_id") < 200
    )
    out = clean_text(
        d.withColumn("dirty", _dirty_doc_col()), "dirty", "text_clean"
    )
    return out.select("doc_id", "text_clean", "n_chars_removed").orderBy(
        "doc_id"
    )


def q_text_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document line dedup (operators/textstats.py dedup_lines):
    repeated boilerplate lines drop, first occurrence and ALL empty lines
    survive in place — the nav-bar/cookie-banner cleaning stage. Planted:
    each doc gains a BOILER line before and after its text plus a blank
    separator, so exactly one line per doc dedupes. Pure codegen HOF
    (split -> indexed filter via first-occurrence array_position ->
    rejoin), no shuffle; the deduped TEXT is value-compared."""
    from spark_xml_spark.operators import dedup_lines

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("doc_id") < 200
    )
    planted = d.withColumn(
        "boilered",
        F.concat(F.lit("BOILER\n"), F.col("text"), F.lit("\n\nBOILER")),
    )
    out = dedup_lines(planted, "boilered", "text_deduped")
    return out.select("doc_id", "text_deduped", "n_lines_removed").orderBy(
        "doc_id"
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (operators/textstats.py normalize_text):
    the canonicalization stage that must precede hash dedup — planted
    decomposed sequences (e + COMBINING ACUTE, A + COMBINING RING) compose
    to their precomposed forms. Arrow-batched unicodedata UDF; the oracle
    replays DuckDB's nfc_normalize, so the NORMALIZED TEXT is compared
    cross-engine byte-for-byte."""
    from spark_xml_spark.operators import normalize_text

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("doc_id") < 200
    )
    planted = d.withColumn(
        "accented",
        F.concat(F.col("text"), F.lit(" cafe\u0301 A\u030a"),),
    )
    out = normalize_text(planted, "accented", "text_nfc")
    return out.select("doc_id", "text_nfc", "changed").orderBy("doc_id")


def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style corpus admission gate (operators/expectations.py
    validate_corpus): nine declarative constraints — completeness,
    uniqueness, min/max bounds, set and regex compliance, mean bound,
    arbitrary-predicate fraction, and a group row-count floor —
    evaluated PER SOURCE in one map-side-combinable aggregation pass
    (report rows explode from an array of structs AFTER the agg, so the
    explode runs over O(sources) rows). Planted violations make the
    gate discriminate: every 7th doc's text is nulled (completeness)
    and every 6th doc's record id collapses to 0 (uniqueness). All
    metric arithmetic is integer-sum/count division — exact and
    engine-portable, value-compared against the DuckDB oracle."""
    from spark_xml_spark.operators import validate_corpus

    # fan_out=False: per-row work is nulls/isin/one short rlike — the
    # repartition exchange costs more than the serial scan (per
    # _parquet's per-row-cost policy); the agg itself is one shuffle of
    # O(sources) partial rows
    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    planted = d.withColumn(
        "text_p",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.col("text")
        ),
    ).withColumn(
        "rec_id",
        F.when(F.col("doc_id") % 6 == 0, F.lit(0).cast("bigint")).otherwise(
            F.col("doc_id")
        ),
    )
    rules = [
        ("not_null", "text_p", 0.9),
        ("unique", "rec_id"),
        ("min", "n_chars", 1.0),
        ("max", "n_chars", 5000.0),
        ("in_set", "lang", ["en", "de", "fr", "es"], 0.8),
        ("matches", "source", "^src[0-9]+$", 1.0),
        ("mean_min", "n_chars", 100.0),
        ("fraction", "short_doc", "n_chars < 1000", 0.99),
        ("count_min", 10),
    ]
    rep = validate_corpus(planted, rules, group_by=["source"])
    return rep.orderBy("source", "rule")


def q_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-wide boilerplate-line removal (operators/textstats.py
    remove_frequent_lines) — the C4/RefinedWeb stage next to the
    within-document text_dedup_lines: any line appearing in >= 5
    distinct documents is removed from every document. Planted chrome:
    a cookie notice and a copyright footer on every doc (banned), a
    newsletter line on even docs (150 docs — banned), a unique
    PROMO-<id> line on odd docs (survives), plus a blank separator
    (whitespace-only lines never ban). The deboiled TEXT is
    value-compared against the DuckDB mirror."""
    from spark_xml_spark.operators import remove_frequent_lines

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("doc_id") < 300
    )
    planted = d.withColumn(
        "boilered",
        F.concat_ws(
            "\n",
            F.lit("COOKIE NOTICE: this site uses cookies"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("SUBSCRIBE TO OUR NEWSLETTER")
            ).otherwise(F.concat(F.lit("PROMO-"), F.col("doc_id").cast("string"))),
            F.col("text"),
            F.lit(""),
            F.lit("(c) example.com - all rights reserved"),
        ),
    )
    out = remove_frequent_lines(
        planted, "doc_id", "boilered", "text_deboiled", min_docs=5
    )
    return out.select("doc_id", "text_deboiled", "n_lines_removed").orderBy(
        "doc_id"
    )


def q_text_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier filter (operators/textstats.py
    percentile_filter): keep documents whose length lies within the
    per-source [p10, p90] interpolated-percentile band — the winsorizing
    filter that drops truncated docs and concatenation blowups. One
    map-side-combinable percentile aggregation (O(sources) bounds frame)
    broadcast-joins back; no window, no global sort. Spark's exact
    ``percentile`` interpolates identically to DuckDB's quantile_cont
    (already pinned by corpus_stats), so band membership matches
    row-for-row."""
    from spark_xml_spark.operators import percentile_filter

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    kept = percentile_filter(d, "n_chars", group_col="source", lo=0.1, hi=0.9)
    return kept.select("doc_id", "source", "n_chars").orderBy("doc_id")


def q_stream_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The markup-strip cleaning stage INSIDE Structured Streaming: the
    dirtied documents replay as a file stream, clean_text runs as a
    stateless per-batch projection (the same operator as the batch
    text_clean query — streaming-safe because it is pure codegen), and
    the parquet sink's totals are SQL-checkable."""
    import tempfile

    from spark_xml_spark.operators import clean_text

    work = tempfile.mkdtemp(prefix="xml_sclean_q_")
    out = os.path.join(work, "out")

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False).select(
            "doc_id", _dirty_doc_col().alias("dirty")
        )
        d.coalesce(4).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "clean-dirtied-v1", "documents", _build)
    stream = spark.readStream.schema("doc_id long, dirty string").parquet(src)
    cleaned = clean_text(stream, "dirty", "text_clean").select(
        "doc_id", "text_clean", "n_chars_removed"
    )
    q = (
        cleaned.writeStream.foreachBatch(_fb_parquet_sink(out))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    rb = _read_fb_sink(spark, out)
    return rb.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars_removed").cast("bigint").alias("total_removed"),
        F.sum(F.length("text_clean")).cast("bigint").alias("total_clean_len"),
    )


def q_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality gate INSIDE Structured Streaming: documents
    replay as a file stream, the SAME validate_corpus operator as the
    batch data_quality query runs UNMODIFIED over the streaming frame —
    its rules compile to sums/counts/min/max, all map-side-combinable
    streaming aggregates, and the report explode is a stateless
    projection over the O(sources) aggregated rows. Complete-mode memory
    sink: the final state table IS the whole-corpus report, identical to
    the batch computation. The ``unique`` rule is absent by design:
    Spark disallows distinct aggregations in streaming, so uniqueness
    stays a batch gate (streaming dedup handles it upstream instead).
    Planted violation: every 7th doc's text nulls (stateless projection
    on the stream)."""
    import uuid

    from spark_xml_spark.operators import validate_corpus

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False)
        d.coalesce(4).write.mode("overwrite").parquet(path)

    src = _stream_source(spark, sf_dir, "quality-docs-v1", "documents", _build)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(src)
    planted = stream.withColumn(
        "text_p",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.col("text")
        ),
    )
    rules = [
        ("not_null", "text_p", 0.9),
        ("min", "n_chars", 1.0),
        ("max", "n_chars", 5000.0),
        ("in_set", "lang", ["en", "de", "fr", "es"], 0.8),
        ("matches", "source", "^src[0-9]+$", 1.0),
        ("mean_min", "n_chars", 100.0),
    ]
    rep = validate_corpus(planted, rules, group_by=["source"])
    name = "sq_" + uuid.uuid4().hex[:12]
    q = (
        rep.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(name).orderBy("source", "rule")


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: doc counts, token totals/mean/max, and
    EXACT interpolated token-count percentiles (p50/p90/p99) — the
    observability numbers a data card or mixing plan quotes. Light
    per-row work: reads without the small-parquet fan-out."""
    from spark_xml_spark.operators import corpus_profile

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    return corpus_profile(d, "text", "source").orderBy("source")


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication (Lee et al. span-level signal): docs
    where >= 50% of tokens sit inside a 7-token window whose exact text
    occurs at >= 2 positions corpus-wide. Positional — unlike the
    distinct-shingle family, this prices verbatim reuse in tokens, the
    unit a training-data pipeline actually drops. At sf0.01 it recovers
    exactly the planted near-duplicate family (47 docs)."""
    from spark_xml_spark.operators import substring_dup_spans

    d = _parquet(spark, sf_dir, "documents", fan_out=True)
    return (
        substring_dup_spans(d, "doc_id", "text", k=7, min_fraction=0.5)
        .select(
            "doc_id",
            "n_tokens",
            "dup_tokens",
            F.round("dup_fraction", 6).alias("dup_fraction_r"),
        )
        .orderBy("doc_id")
    )


def q_dedup_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup JOIN: odd-id documents (the 'new crawl')
    LSH-joined against even-id documents (the 'existing corpus') at
    Jaccard >= 0.8 — banded MinHash between the two sides, exact hashed
    verify. b=32/r=2 recall at s >= 0.8 is ~1 - 1e-14, so the verified
    output equals the exact cross-Jaccard answer, which is the oracle.
    Served from the materialize-once pair artifact like the self-join
    family (the cross list is the product of a corpus-pair snapshot)."""
    from spark_xml_spark.operators import minhash_cross_pairs

    def _build():
        d = _parquet(spark, sf_dir, "documents", fan_out=True)
        left = d.filter(F.col("doc_id") % 2 == 1)
        right = d.filter(F.col("doc_id") % 2 == 0)
        return minhash_cross_pairs(
            left, right, "doc_id", "text", n=3, num_hashes=64, bands=32,
            threshold=0.8,
        )

    pairs = _near_dup_pairs_cached(
        spark, sf_dir, "cross-parity-n3-h64-b32-t080", _build
    )
    return (
        pairs.select("id_l", "id_r", F.round("jaccard", 9).alias("jaccard_r"))
        .orderBy("id_l", "id_r")
    )


def q_text_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (30% of docs by md5 bucket of the id):
    reproducible across runs, partitionings, and ENGINES — the identical
    membership is recomputed independently by the DuckDB oracle, which is
    the whole point of hash sampling over df.sample at scale."""
    from spark_xml_spark.operators import deterministic_sample

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    s = deterministic_sample(d, "doc_id", 30, salt="r7")
    return (
        s.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("source")
    )


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (BPE-ish regex, JVM regexp_extract_all) per source."""
    d = add_token_count(_parquet(spark, sf_dir, "documents", fan_out=False))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source")
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword language-ID distribution over the corpus."""
    d = add_language_id(_parquet(spark, sf_dir, "documents"))
    return d.groupBy("lang_pred").agg(F.count("*").alias("n")).orderBy("lang_pred")


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-md5-shingle document fingerprint (portable: md5 in both
    engines); distinct fingerprints ~ distinct contents."""
    d = add_fingerprint(_parquet(spark, sf_dir, "documents", fan_out=False), n=8)
    return (
        d.select("doc_id", "fingerprint")
        .filter(F.col("doc_id") < 100)
        .orderBy("doc_id")
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition over word 2-grams,
    aggregated per source. Corpus-level dup fraction is computed from
    BIGINT gram sums (deterministic across engines/orderings); the
    per-document top-gram fraction averages like the other quality
    scores. Entirely per-row codegen before one map-side-combinable
    aggregate — no UDF, no extra shuffle."""
    from spark_xml_spark.operators import repetition_metrics

    d = repetition_metrics(_parquet(spark, sf_dir, "documents", fan_out=False), n=2)
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("rep_total").alias("total_grams"),
            F.sum("rep_distinct").alias("distinct_grams"),
            F.round(
                F.lit(1.0) - F.sum("rep_distinct") / F.sum("rep_total"), 6
            ).alias("corpus_dup_frac"),
            F.round(F.avg("rep_top_frac"), 6).alias("avg_top_frac"),
        )
        .orderBy("source")
    )


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: every 3rd document gets a planted email / IPv4 /
    phone (both engines plant identically from doc_id), the operator
    counts and scrubs them, and the REDACTED TEXT is value-compared
    exactly for the first 20 docs — placeholder positions included."""
    from spark_xml_spark.operators import pii_redact

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id", "text")
    did = F.col("doc_id")
    planted = d.withColumn(
        "text",
        F.when(
            did % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com from 10.0."),
                (did % 256).cast("string"), F.lit("."),
                (did % 100).cast("string"), F.lit(" tel 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    r = pii_redact(planted)
    return (
        r.select("doc_id", "n_emails", "n_ipv4", "n_phones", "text_redacted")
        .orderBy("doc_id")
        .limit(20)
    )


def q_text_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain distribution: planted mixed-case URLs (one per doc,
    a second on even ids), host extraction + lowercasing, then the
    domain-frequency aggregate every blocklist/source-weighting pass
    needs. One explode + one keyed map-side-combinable aggregate."""
    from spark_xml_spark.operators import extract_url_domains

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id", "text")
    did = F.col("doc_id")
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" see https://Site"), (did % 7).cast("string"),
            F.lit(".Example.org/p/"), did.cast("string"),
            F.when(
                did % 2 == 0,
                F.concat(
                    F.lit(" http://cdn"), (did % 3).cast("string"),
                    F.lit(".example.net/x"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return (
        extract_url_domains(planted)
        .groupBy("domain")
        .agg(F.count("*").cast("bigint").alias("n_urls"))
        .orderBy("domain")
    )


def q_text_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix rebalancing: sample each source toward 3:1 target
    weights (even-numbered sources upweighted), total 300, via the
    deterministic md5-bucket membership — the all-integer rate math and
    the per-row membership are recomputed independently by the oracle,
    so the SAMPLED ROWS themselves match, not just approximate counts."""
    from spark_xml_spark.operators import mix_sample

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    weights = {f"src{i}": 3 if i % 2 == 0 else 1 for i in range(20)}
    kept = mix_sample(
        d, "source", "doc_id", weights, total=300, salt="mix8"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("source")
    )


def q_data_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (training-order randomization): sort
    by md5(salt || id) — reproducible across runs, retries, engines, and
    partitionings, unlike rand(). ONE range exchange; the oracle
    recomputes the identical permutation and checks the head-20 rows
    (keys included), which pins the permutation prefix."""
    from spark_xml_spark.operators import deterministic_shuffle

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id")
    return deterministic_shuffle(d, "doc_id", salt="shuf8").limit(20)


def q_text_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (CCNet-family signal): each doc's mean
    log10 token probability under the corpus's own unigram distribution;
    returns the 20 lowest-scoring (noisiest) docs. The tokenize lineage
    is recomputed per branch (persisting an exploded token frame would
    cost ~10x the corpus at scale); the corpus total rides a broadcast
    1-row cross join, never a driver collect. The
    oracle replays the identical distribution math in SQL (scores at 6
    dp, full ordering with doc_id tiebreak so LIMIT is deterministic)."""
    from spark_xml_spark.operators import unigram_logprob_score

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id", "text")
    s = unigram_logprob_score(d)
    return (
        s.filter(F.col("n_tokens").isNotNull())
        .select("doc_id", "n_tokens", F.round("lm_score", 6).alias("lm_r"))
        .orderBy("lm_r", "doc_id")
        .limit(20)
    )


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split (md5-bucket of the
    doc id, salt 'split8'): membership depends only on the id, so the
    split is stable across runs, partitionings, engines, and corpus
    growth — the property that prevents silent train/test leakage. The
    oracle recomputes the identical per-row assignment, so the exact
    membership is value-checked via per-split id sums, not just the
    proportions."""
    from spark_xml_spark.operators import train_val_test_split

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    s = train_val_test_split(d, "doc_id", val_pct=10, test_pct=10, salt="split8")
    return (
        s.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("split")
    )


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-25 tokens by frequency (lowercased
    TOKEN_REGEX tokens, ties broken by token asc). Explode -> ONE
    map-side-combinable hash aggregate -> TakeOrderedAndProject(25);
    the driver only ever sees k rows."""
    from spark_xml_spark.operators import vocab_topk

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    return vocab_topk(d, "text", k=25)


def q_text_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram for batch planning: docs bucketed by
    token count into closed integer edges (<=16/64/256/1024/4096,
    gt4096) with per-bucket doc/token counts. All-integer comparisons
    keep the bucket assignment byte-identical across engines."""
    from spark_xml_spark.operators import length_bucket_stats

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    return length_bucket_stats(d, "text").orderBy("bucket")


def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-normalization + int8 scalar quantization (the vector
    index storage format). floor(u*127 + 0.5) rounding makes the bytes
    engine-portable, so the oracle recomputes the identical ints; norms
    compare at 6 decimals like the cosine queries."""
    from spark_xml_spark.operators import normalize_quantize_int8

    e = _parquet(spark, sf_dir, "embeddings", fan_out=False)
    d = normalize_quantize_int8(e)
    return (
        d.select(
            "vec_id",
            F.round("norm", 6).alias("norm_r"),
            F.aggregate(
                "q_int8", F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("q_sum"),
            F.array_min("q_int8").alias("q_min"),
            F.array_max("q_int8").alias("q_max"),
            F.size("q_int8").alias("dim"),
        )
        .orderBy("vec_id")
        .limit(50)
    )


def q_emb_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC near-dup clustering: embedding-cosine pairs (banded
    hyperplane LSH + exact verify, same construction as dedup_embedding)
    fed into connected components — the embedding-space analogue of
    dedup_clusters. Planted perturbed copies make the expected clusters
    exactly the (k, k+1000000) pairs, which the oracle recomputes from
    exact cosine, so the composed operator chain is fully value-checked.
    Reads the materialize-once pair artifact shared with
    q_dedup_embedding; the CC iterations start from the persisted list."""
    from spark_xml_spark.operators import connected_components

    pairs = _cosine_pairs_planted(spark, sf_dir)
    cc = connected_components(
        pairs, "id_a", "id_b", out_id="vec_id", out_comp="cluster_id"
    )
    return cc.orderBy("vec_id")


def q_emb_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC keep-list (Abbas et al. 2023): embedding
    near-dup pairs -> connected components -> keep each cluster's min-id
    member, drop the rest — the embedding-space twin of the text
    near-dup keep-list (dedup_near_keep). Anti-join against the
    non-keeper members (scale-safe: keyed equi-join, component frame is
    O(clustered vectors)); serves the shared materialize-once cosine
    pair artifact, so steady state is two small reads. Returns audit
    totals the oracle recomputes from exact cosine over the plant."""
    from spark_xml_spark.operators import connected_components

    pairs = _cosine_pairs_planted(spark, sf_dir)
    cc = connected_components(
        pairs, "id_a", "id_b", out_id="vec_id", out_comp="cluster_id"
    )
    corpus = _planted_embeddings(spark, sf_dir)
    kept = corpus.join(
        cc.filter(F.col("vec_id") != F.col("cluster_id")).select("vec_id"),
        "vec_id",
        "left_anti",
    )
    return kept.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("vec_id").cast("bigint").alias("sum_kept_ids"),
        F.max("vec_id").cast("bigint").alias("max_kept_id"),
    )


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation in ONE composed pipeline —
    the shape a 100 TB ingest actually runs: exact dedup (planted
    re-keyed copies removed, min-id keeper) -> quality filter -> sliding
    -window chunking -> per-source corpus accounting (docs, chunks,
    chunk words). One content-hash shuffle + one keyed aggregate; the
    chunk arithmetic never shuffles. The oracle replays every stage in
    SQL, including the chunk-boundary word counts."""
    from spark_xml_spark.operators import (
        add_quality_score,
        chunk_documents,
        exact_dedup,
    )

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select("doc_id", "source", "text")
    dupes = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "source", "text"
    )
    deduped = exact_dedup(d.unionAll(dupes), cols=["text"], id_col="doc_id")
    kept = add_quality_score(deduped).filter(F.col("quality_score") >= 0.45)
    chunked = chunk_documents(kept, window=16, step=12)
    return (
        chunked.select(
            "source",
            F.size("chunks").alias("n_chunks"),
            F.aggregate(
                "chunks",
                F.lit(0).cast("bigint"),
                lambda a, c: a + F.size(F.split(c, r"\s+")),
            ).alias("chunk_words"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.sum("chunk_words").alias("chunk_words"),
        )
        .orderBy("source")
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing: synthesized PNG-magic payloads, JVM-side
    metadata (length / magic sniff / content hash over hex)."""
    d = _parquet(spark, sf_dir, "documents", fan_out=False).withColumn(
        "payload", synthesize_payload(F.col("text"), "image/png")
    )
    m = add_payload_metadata(d)
    return (
        m.select(
            "source",
            F.col("meta.byte_len").alias("byte_len"),
            F.col("meta.kind").alias("kind"),
            F.sha2(F.hex(F.col("payload")), 256).alias("payload_sha"),
        )
        .groupBy("source", "kind")
        .agg(
            F.count("*").alias("n"),
            F.sum("byte_len").alias("total_bytes"),
            F.count_distinct("payload_sha").alias("n_distinct"),
        )
        .orderBy("source", "kind")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction (extract_features / mapInPandas)
    value-checked end-to-end: payloads are PNG magic + the utf-8 bytes
    of ASCII-sanitized text (so SQL can reconstruct every byte via
    ascii()), and the checked outputs — byte_len and the ARGMAX bucket
    of the byte-mod-8 histogram (first-max tie-break) — are integers,
    immune to float32-vs-double drift. Exercises the real mapInPandas
    batch path, schema, and NULL-feature contract."""
    from spark_xml_spark.operators import extract_features

    d = _mm_payload_frame(spark, sf_dir)
    feats = extract_features(d, id_col="doc_id", payload_col="payload", dim=8)
    return _mm_feature_projection(feats).orderBy("doc_id")


def _mm_payload_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted multimodal fixture SHARED by the batch and streaming
    feature queries (both serve the one multimodal_features oracle):
    PNG magic + ASCII-sanitized text bytes so SQL can reconstruct every
    byte via ascii(). Editing this recipe changes BOTH queries and the
    oracle together; the streaming _stream_source cache name must bump
    whenever it changes (see _stream_source's recipe-name contract)."""
    return (
        _parquet(spark, sf_dir, "documents", fan_out=False)
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.regexp_replace("text", "[^ -~]", "").alias("_ascii"),
        )
        .withColumn("payload", synthesize_payload(F.col("_ascii"), "image/png"))
        .select("doc_id", "payload")
    )


def _mm_feature_projection(feats: DataFrame) -> DataFrame:
    """byte_len + histogram-ARGMAX bucket (first-max tie-break) — the
    integer outputs both feature queries value-compare."""
    return feats.select(
        "doc_id",
        F.col("byte_len").cast("bigint").alias("byte_len"),
        (F.array_position(
            F.col("feature"), F.array_max(F.col("feature"))
        ) - 1).cast("bigint").alias("top_bucket"),
    )


def _ann_query4(e: DataFrame) -> DataFrame:
    """The four planted-family probe queries SHARED by ann_ivf_knn and
    stream_ann (one brute-force oracle serves both)."""
    return (
        _planted_neighbors(e)
        .filter(F.col("vec_id").isin(0, 1000001, 1000002, 1000003))
        .select(F.col("vec_id").alias("q_id"), "embedding")
    )


def q_stream_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction INSIDE Structured Streaming: binary
    payloads replay as a file stream and extract_features runs as a
    stateless Arrow mapInPandas projection per micro-batch (the same
    operator as the batch multimodal_features query — streaming-safe
    because it holds no state), parquet sink, rows value-compared
    against the same byte-reconstructing SQL oracle. Completes the
    multimodal x streaming cell of the operator matrix."""
    import tempfile

    from spark_xml_spark.operators import extract_features

    def _build(path):
        _mm_payload_frame(spark, sf_dir).coalesce(4).write.mode(
            "overwrite"
        ).parquet(path)

    src = _stream_source(spark, sf_dir, "mm-png-ascii40", "documents", _build)
    work = tempfile.mkdtemp(prefix="xml_smm_q_")
    out = os.path.join(work, "out")
    stream = spark.readStream.schema("doc_id long, payload binary").parquet(src)
    feats = _mm_feature_projection(
        extract_features(stream, id_col="doc_id", payload_col="payload", dim=8)
    )
    q = (
        feats.writeStream.foreachBatch(_fb_parquet_sink(out))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return _read_fb_sink(spark, out).orderBy("doc_id")


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (operators/joins.py asof_join) — the time-series join
    Spark lacks as a built-in: every click event attaches the user's
    most recent purchase value at-or-before its timestamp.
    Union-and-window construction: ONE shuffle (partitionBy user), one
    sort, works at any right-side size. The right side pre-aggregates
    max(value) per (user, ts) because as-of semantics over duplicate
    timestamps are engine-dependent. Oracle: DuckDB's native ASOF LEFT
    JOIN — an independent implementation of the same semantics,
    value-compared row-for-row."""
    from spark_xml_spark.operators import asof_join

    e = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(e)
    base = e.withColumn("ts_sec", ts_sec)
    left = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_sec"
    )
    right = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_sec")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(left, right, ["user_id"], "ts_sec", ["pval"])
    return out.select(
        "event_id", "user_id", "ts_sec", "pval_asof", "ts_asof"
    ).orderBy("event_id")


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN (operators/joins.py range_join) — interval containment
    without a nested-loop: event values land in value bands via
    covered-bin equi-join + exact post-filter (the plan-hygiene pytest
    pins no BroadcastNestedLoop/CartesianProduct). Half-open [lo, hi)
    bands so boundary values land in exactly one band."""
    from spark_xml_spark.operators import range_join

    e = _events(spark, sf_dir)
    bands = spark.createDataFrame(
        [
            ("micro", 0.0, 10.0),
            ("small", 10.0, 50.0),
            ("medium", 50.0, 200.0),
            ("large", 200.0, 1000.0),
        ],
        "band string, lo double, hi double",
    )
    out = range_join(
        e.select("event_id", "value"),
        bands,
        "value",
        "lo",
        "hi",
        bin_width=25.0,
        right_closed=False,
    )
    return (
        out.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("band")
    )


def q_text_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.py): per-source
    distinct word-3-gram-shingle cardinality, estimated from the k=64
    smallest md5-prefix hashes. Unlike HLL (approx_count_distinct,
    whose register layout is engine-private), every intermediate of KMV
    is a portable hash value, so the DuckDB oracle reproduces the exact
    sketch AND the exact estimate — a verifiable cardinality estimator.
    n_distinct (exact, for error visibility) rides along.

    NOTE this query deliberately pays exact mode's corpus-cardinality
    distinct so the oracle can score the estimator's error — that cost
    is verification, not the operator's scale cost. The 100 TB default
    is estimate-only (`text_kmv_est`, no global distinct; SCALE.md
    'Sketches': 1.94 s vs 1.29 s at sf0.1, gap = the distinct)."""
    from spark_xml_spark.operators import kmv_distinct
    from spark_xml_spark.operators.dedup import _word_shingles

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    sh = d.select(
        "source", F.explode(_word_shingles(F.col("text"), 3)).alias("g")
    )
    out = kmv_distinct(sh, ["source"], "g", k=64)
    return out.select(
        "source", "n_distinct", "n_kept", "est_distinct"
    ).orderBy("source")


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-3 terms (operators/textstats.py
    tfidf_top_terms): corpus-wide doc frequencies and N, ln-smoothed
    idf, score rounded to 6 decimals BEFORE ranking on both engines
    (a last-ulp libm log difference cannot flip the k boundary), ties
    by UTF-8-byte term order. Result restricted to doc_id < 40 AFTER
    scoring — the idf statistics stay corpus-wide."""
    from spark_xml_spark.operators import tfidf_top_terms

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    out = tfidf_top_terms(d, "doc_id", "text", k=3)
    return (
        out.filter(F.col("doc_id") < 40)
        .orderBy(
            "doc_id", F.col("score").desc(),
            F.encode(F.col("term"), "UTF-8"),
        )
    )


_BM25_QUERY = "fast hash join window"


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed query (operators/textstats.py
    bm25_topk): Lucene-form non-negative idf, k1=1.2 / b=0.75 length
    normalization over corpus-average token length, score rounded to 6
    decimals before ranking, ties by doc_id. The oracle replays the
    identical formula (same operator order) in SQL."""
    from spark_xml_spark.operators import bm25_topk

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    return bm25_topk(d, _BM25_QUERY, "doc_id", "text", k=10)


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV SAMPLE decode end-to-end (operators/multimodal.py
    decode_wav_samples -> audio_sample_stats): planted PCM-16 clips
    whose samples follow a closed-form formula of doc_id — s[i] =
    (doc_id*7 + i*13) % 65536 - 32768 over n_frames x channels samples
    — with per-doc channel counts and sample rates. The oracle
    recomputes the integer stats straight from the formula (it never
    touches the RIFF bytes), so chunk-walk or sample-layout bugs break
    the match."""
    from spark_xml_spark.operators import audio_sample_stats

    def gen(it):
        import numpy as np
        import pandas as pd

        from spark_xml_spark.operators.multimodal import encode_wav

        for pdf in it:
            ids, payloads = [], []
            for did in pdf["id"]:
                did = int(did)
                ch = 1 + did % 3
                nf = 50 + did % 17
                vals = (did * 7 + np.arange(nf * ch) * 13) % 65536 - 32768
                payloads.append(
                    encode_wav(
                        vals.astype(np.int16).reshape(nf, ch),
                        8000 + did,
                    )
                )
                ids.append(did)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = spark.range(24).repartition(4).mapInPandas(
        gen, "doc_id long, payload binary"
    )
    return audio_sample_stats(d).orderBy("doc_id")


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join (streaming/joins.py
    stream_stream_interval_join): 'view' and 'purchase' events replayed
    as TWO independent file streams, joined on user_id where the
    purchase lands within [view_ts, view_ts + 3600 s]. Symmetric hash
    join buffers both sides keyed by user_id; the replay watermark is
    wider than the corpus span so no row is dropped and the full SQL
    join replays the result exactly (the stream_simhash oracle shape).
    delta_s is computed in microseconds then floored, matching the
    oracle's epoch_ns arithmetic bit-for-bit.

    The stateful stages run with shuffle.partitions=4 for this query
    (restored after): a symmetric hash join materializes TWO state
    stores per shuffle partition per microbatch, so at local replay
    scale 32 partitions is pure state-store file churn — the partition
    count bakes into the (per-call, throwaway) checkpoint, and at
    production scale the same knob is simply sized to the cluster
    instead (VERDICT r11 task 5)."""
    import tempfile

    from spark_xml_spark.streaming import stream_stream_interval_join

    work = tempfile.mkdtemp(prefix="xml_ssjoin_q_")
    out = os.path.join(work, "out")

    def _mk_build(etype):
        def _build(path):
            ev = _events(spark, sf_dir)
            _, ts_utc = _events_ts_cols(ev)
            (
                ev.filter(F.col("event_type") == etype)
                .select("event_id", "user_id", ts_utc.alias("ts"))
                .coalesce(4)
                .write.mode("overwrite")
                .parquet(path)
            )

        return _build

    schema = "event_id long, user_id long, ts timestamp"
    src_a = _stream_source(
        spark, sf_dir, "ssjoin-view-tsus", "events", _mk_build("view")
    )
    src_b = _stream_source(
        spark, sf_dir, "ssjoin-purchase-tsus", "events",
        _mk_build("purchase"),
    )
    joined = stream_stream_interval_join(
        spark.readStream.schema(schema).parquet(src_a),
        spark.readStream.schema(schema).parquet(src_b),
        key="user_id",
        lower_s=0,
        upper_s=3600,
        watermark="3650 days",  # finite replay: drop nothing
    )
    res = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        (
            (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts")))
            / F.lit(1000000)
        ).cast("bigint").alias("delta_s"),
    )
    with _stateful_parts(spark):
        q = (
            res.writeStream.foreachBatch(_fb_parquet_sink(out))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    return (
        _read_fb_sink(spark, out)
        .orderBy("user_id", "view_id", "purchase_id")
    )


def q_multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG + GIF + baseline-JPEG PIXEL decode end-to-end
    (operators/multimodal.py decode_png_pixels / decode_gif_pixels /
    decode_jpeg_pixels -> image_pixel_stats): planted images whose
    pixels follow a closed-form formula of doc_id — value[i] =
    (doc_id*7 + i*13) % 256. doc_id % 8 in 0..3 plants a PNG (channels
    cycling gray/RGB/gray+alpha/RGBA, ALL FIVE scanline filter types
    cycling per row); 4..5 plants a GIF whose formula values are
    PALETTE INDICES mapped through pal[j] = (j, 255-j, (j*7)%256); 6
    plants a grayscale JPEG and 7 an RGB 4:2:0 JPEG — baseline
    sequential or PROGRESSIVE (SOF2 successive-approximation, the
    doc_id//8 == 1 plants), both built so the lossy pipeline is exact
    end-to-end: each 8x8 block is uniform at v[b] = (doc_id*7 + b*13)
    % 256 (DC-only blocks with the flat-8 quant table recover v
    bit-exactly through any conforming IDCT; R=G=B makes chroma flat
    128 so 4:2:0 upsampling and the YCbCr->RGB transform are exact
    too). doc_id 24..31 plants 4-component CMYK JPEGs (r12 task 7) with
    all four channels equal per block — Adobe transform 0 (raw CMYK)
    and 2 (YCCK: equal channels give flat-128 chroma, so the forward +
    inverse transform round-trips v exactly) alternate in pairs. The
    oracle recomputes the stats straight from the formulas, so a
    decoder bug cannot cancel against the encoder (the oracle never
    touches the bytes; hand-coded bit-stream tests additionally pin the
    4-component entropy layout and the YCCK inverse independent of the
    encoder)."""
    from spark_xml_spark.operators import image_pixel_stats

    def gen(it):
        import numpy as np
        import pandas as pd

        from spark_xml_spark.operators.multimodal import (
            encode_gif,
            encode_jpeg,
            encode_png,
        )

        pal = np.stack(
            [np.arange(256), 255 - np.arange(256),
             (np.arange(256) * 7) % 256],
            axis=1,
        ).astype(np.uint8)
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["id"]:
                did = int(did)
                m = did % 8
                if did >= 24:  # CMYK JPEG plants (both Adobe transforms)
                    h = 8 * (1 + did % 2)
                    w = 8 * (1 + did % 3)
                    nb = (h // 8) * (w // 8)
                    v = (did * 7 + np.arange(nb) * 13) % 256
                    img = np.kron(
                        v.reshape(h // 8, w // 8), np.ones((8, 8))
                    ).astype(np.uint8)
                    payloads.append(
                        encode_jpeg(
                            np.stack([img] * 4, axis=2),
                            adobe_transform=0 if (did // 2) % 2 == 0 else 2,
                        )
                    )
                    ids.append(did)
                    continue
                if m >= 6:
                    # vary dims on did//8 (did%2 is CONSTANT within a
                    # %8 residue class — review r12); the 2x variants
                    # exercise multi-MCU-ROW decode (mcuy > 1); the
                    # did//8 == 1 plants encode PROGRESSIVE (SOF2
                    # multi-scan), exact through the same DC-only
                    # construction, so the gate covers both entropy
                    # paths
                    if m == 6:
                        h = 8 * (1 + (did // 8) % 2)
                        w = 8 * (1 + (did // 8) % 3)
                    else:
                        h = 16 * (1 + (did // 8) % 2)
                        w = 16 * (1 + (did // 8) % 3)
                    prog = (did // 8) % 3 == 1
                    nb = (h // 8) * (w // 8)
                    v = (did * 7 + np.arange(nb) * 13) % 256
                    img = np.kron(
                        v.reshape(h // 8, w // 8), np.ones((8, 8))
                    ).astype(np.uint8)
                    if m == 6:
                        payloads.append(encode_jpeg(img, progressive=prog))
                    else:
                        payloads.append(
                            encode_jpeg(
                                np.stack([img] * 3, axis=2),
                                subsampling="420",
                                progressive=prog,
                            )
                        )
                    ids.append(did)
                    continue
                h, w = 8 + did % 5, 9 + did % 7
                if m >= 4:
                    vals = (did * 7 + np.arange(h * w) * 13) % 256
                    payloads.append(
                        encode_gif(
                            vals.astype(np.uint8).reshape(h, w), pal
                        )
                    )
                else:
                    nch = (1, 3, 2, 4)[m]
                    vals = (did * 7 + np.arange(h * w * nch) * 13) % 256
                    payloads.append(
                        encode_png(
                            vals.astype(np.uint8).reshape(h, w, nch),
                            filters=(0, 1, 2, 3, 4),
                        )
                    )
                ids.append(did)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = spark.range(32).repartition(4).mapInPandas(
        gen, "doc_id long, payload binary"
    )
    return image_pixel_stats(d).orderBy("doc_id")


def q_multimodal_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio HEADER metadata over mixed MP3/WAV payloads
    (operators/multimodal.py _decode_mp3_header + audio_headers):
    planted constant-bitrate MP3s — doc_id % 3 == 0: MPEG-1 Layer III
    128 kbps 44.1 kHz stereo behind an ID3v2 tag of (doc_id % 7) * 16
    bytes (frame length 417); 1: MPEG-2 Layer III 64 kbps 22.05 kHz
    mono, untagged (frame length 208) — and PCM-16 WAVs (2: encode_wav,
    8 kHz + doc_id, mono), each with 3 + doc_id % 5 frames. All outputs
    are integers (duration an exact integer-arithmetic millisecond
    count), so the oracle recomputes every field from the planting
    formula — the decoder must skip the syncsafe ID3 size, decode the
    sync header's version/layer/bitrate/rate/mode bits, and count audio
    bytes to match."""
    from spark_xml_spark.operators import audio_headers

    def gen(it):
        import numpy as np
        import pandas as pd

        from spark_xml_spark.operators.multimodal import encode_wav

        v1 = bytes([0xFF, 0xFB, 0x90, 0x40])  # V1 L3 128k 44100 joint
        v2 = bytes([0xFF, 0xF3, 0x80, 0xC0])  # V2 L3 64k 22050 mono
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["id"]:
                did = int(did)
                nf = 3 + did % 5
                m = did % 3
                if m == 0:
                    tag = (
                        b"ID3" + bytes([4, 0, 0])
                        + bytes([0, 0, 0, (did % 7) * 16])
                        + bytes((did % 7) * 16)
                    )
                    payloads.append(tag + (v1 + bytes(417 - 4)) * nf)
                elif m == 1:
                    payloads.append((v2 + bytes(208 - 4)) * nf)
                else:
                    s = np.zeros((nf, 1), dtype=np.int16)
                    payloads.append(encode_wav(s, 8000 + did))
                ids.append(did)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = spark.range(12).repartition(4).mapInPandas(
        gen, "doc_id long, payload binary"
    )
    return audio_headers(d).orderBy("doc_id")


def q_text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text vectorizer (operators/textstats.py
    hash_embed): signed term-frequency vectors at dim=16 from
    engine-portable md5 bucket/sign hashes — the oracle rebuilds every
    vector cell-for-cell in SQL (unnest tokens -> md5 bucket/sign ->
    grid left-join), so the embedding VALUES are verified, not just
    shapes; tokenless documents must come back as zero vectors."""
    from spark_xml_spark.operators import hash_embed

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("doc_id") < 60
    )
    return hash_embed(d, "text", dim=16, salt="he1").orderBy("doc_id")


def q_text_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-k-per-group sampling (operators/textstats.py
    group_sample): 7 docs per source by smallest md5('gs2' || doc_id)
    rank — the oracle recomputes the md5 ranking with ROW_NUMBER in SQL,
    so the SAMPLED ROWS themselves match (ids and ranks), not just the
    per-group counts."""
    from spark_xml_spark.operators import group_sample

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    return (
        group_sample(d, "source", "doc_id", k=7, salt="gs2")
        .select("source", "doc_id", "sample_rank")
        .orderBy("source", "sample_rank")
    )


def q_text_hash_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hashed-BoW retrieval COMPOSITION: hash_embed vectors
    (the text_hash_embed construction, dim=16/salt='he1') fed straight
    into the exact batch k-NN join — documents 0/17/34 retrieve their
    4 nearest neighbours by cosine over the signed term-frequency
    vectors. Integer vectors make every dot product and norm exactly
    representable in float64, so the cosines are bit-identical between
    the JVM fold and DuckDB's list_dot_product and the ranking is fully
    deterministic (ties break on ascending doc id in both engines);
    the fold's zero-norm semantics (query norm forced to 1, zero-norm
    corpus rows NULL/last) are mirrored in the oracle's CASE/NULLIF."""
    from spark_xml_spark.operators import hash_embed, knn_join

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("doc_id") < 60
    )
    # no cast here: knn_join casts both sides to array<double> itself
    vecs = hash_embed(d, "text", dim=16, salt="he1")
    q = vecs.filter(F.col("doc_id").isin(0, 17, 34)).select(
        F.col("doc_id").alias("q_id"), "embedding"
    )
    out = knn_join(vecs, q, "embedding", "doc_id", q_id_col="q_id", k=4)
    return out.select(
        "q_id", "doc_id", F.round("cosine", 9).alias("cosine_r"), "rank"
    ).orderBy("q_id", "rank")


def q_text_kmv_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV estimate-only mode (operators/sketch.py kmv_distinct
    exact=False): the 100 TB path. Exact mode's global distinct() over
    every (group, hash) pair is a corpus-cardinality shuffle when items
    are near-unique; this mode dedups inside the per-partition Arrow
    k-min prefilter instead, so at most partitions x k rows per group
    ever shuffle — and the estimate is BIT-IDENTICAL to exact mode's
    (any global k-minimum is among its own partition's k smallest
    distinct). Oracle: the same portable md5-prefix sketch in DuckDB,
    est_distinct and n_kept only (no exact count — that is precisely
    the cost this mode refuses to pay)."""
    from spark_xml_spark.operators import kmv_distinct
    from spark_xml_spark.operators.dedup import _word_shingles

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    sh = d.select(
        "source", F.explode(_word_shingles(F.col("text"), 3)).alias("g")
    )
    out = kmv_distinct(sh, ["source"], "g", k=64, exact=False)
    return out.select("source", "n_kept", "est_distinct").orderBy("source")


def q_events_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/joins.py asof_join,
    direction='forward'): every click event attaches the user's NEXT
    purchase value at-or-after its timestamp — the attribution shape
    ('which purchase followed this click'). Same union-and-window
    construction as backward over a descending per-key order: ONE
    shuffle, one sort. Oracle: DuckDB's native ASOF LEFT JOIN with the
    inequality flipped (l.ts <= r.ts) — an independent implementation
    of the same semantics, value-compared row-for-row."""
    from spark_xml_spark.operators import asof_join

    e = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(e)
    base = e.withColumn("ts_sec", ts_sec)
    left = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_sec"
    )
    right = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_sec")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(
        left, right, ["user_id"], "ts_sec", ["pval"], direction="forward"
    )
    return out.select(
        "event_id", "user_id", "ts_sec", "pval_asof", "ts_asof"
    ).orderBy("event_id")


def q_text_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV INCREMENTAL REFRESH (operators/sketch.py kmv_sketch /
    kmv_merge / kmv_estimate): sketch two OVERLAPPING document slices
    independently, merge the k-min sets (union, dedup, re-take k — the
    idempotent algebra that makes KMV the incremental-corpus-stats
    sketch; merge_rollups by contrast needs disjoint slices), read the
    estimate off the merged sketch. The merged result is MATHEMATICALLY
    identical to sketching the whole corpus, so the DuckDB oracle
    computes the direct whole-corpus sketch — the equality IS the
    invariant under test."""
    from spark_xml_spark.operators import kmv_estimate, kmv_merge, kmv_sketch
    from spark_xml_spark.operators.dedup import _word_shingles

    d = _parquet(spark, sf_dir, "documents", fan_out=False)
    sh = d.select(
        "doc_id", "source",
        F.explode(_word_shingles(F.col("text"), 3)).alias("g"),
    )
    # overlapping slices: docs 0/1 mod 3 and docs 1/2 mod 3
    a = sh.filter(F.col("doc_id") % 3 != 2)
    b = sh.filter(F.col("doc_id") % 3 != 0)
    s_a = kmv_sketch(a, ["source"], "g", k=64)
    s_b = kmv_sketch(b, ["source"], "g", k=64)
    merged = kmv_merge([s_a, s_b], ["source"], k=64)
    out = kmv_estimate(merged, k=64)
    return out.select("source", "n_kept", "est_distinct").orderBy("source")


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING cardinality tracking with the mergeable KMV sketch
    (operators/sketch.py + streaming/foreach.py): documents replay as a
    file stream in several micro-batches (maxFilesPerTrigger=2); each
    batch sketches ITS slice (kmv_sketch) and writes the k-min set to an
    idempotent per-batch-id location (a crash-replayed batch overwrites
    itself — exactly-once by construction, and kmv_merge is idempotent
    anyway); the final state is the merge of all per-batch sketches. The
    merged estimate is bit-identical to sketching the whole corpus —
    Spark's no-distinct-aggregations-in-streaming restriction does not
    apply because the sketch is an ordinary aggregate. Oracle: DuckDB's
    direct whole-corpus sketch (text_kmv_merge's SQL verbatim)."""
    import tempfile

    from spark_xml_spark.operators import kmv_estimate, kmv_merge, kmv_sketch
    from spark_xml_spark.operators.dedup import _word_shingles

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False)
        d.select("doc_id", "source", "text").coalesce(6).write.mode(
            "overwrite"
        ).parquet(path)

    src = _stream_source(spark, sf_dir, "kmv-docs-id-src-text", "documents",
                         _build)
    work = tempfile.mkdtemp(prefix="xml_skmv_q_")
    state = os.path.join(work, "sketches")
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )

    def _sink(batch_df, batch_id):
        sh = batch_df.select(
            "source", F.explode(_word_shingles(F.col("text"), 3)).alias("g")
        )
        kmv_sketch(sh, ["source"], "g", k=64).write.mode("overwrite").parquet(
            os.path.join(state, f"b{batch_id}")
        )

    with _stateful_parts(spark):
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    sketches = spark.read.option("recursiveFileLookup", "true").parquet(state)
    merged = kmv_merge([sketches], ["source"], k=64)
    out = kmv_estimate(merged, k=64)
    return out.select("source", "n_kept", "est_distinct").orderBy("source")


_CMS_PROBES = ["hash", "join", "scan", "the", "zzz_missing"]


def q_text_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter sketch (operators/sketch.py
    count_min_sketch + cms_estimate): per-language token-frequency
    estimates for a fixed probe set from a 3x256 sketch over the
    documents corpus — the mergeable-sketch family's frequency member
    next to KMV (distinct counts) and the quantile sketch
    (distributions). Hashing is the md5-head recipe, so the oracle
    replays the full sparse cell matrix AND the min-over-rows estimate
    bit-exactly in SQL; the absent probe ('zzz_missing') exercises the
    sparse zero-cell contract. One codegen explode + one map-side-
    combinable (lang, r, b) sum + a bounded collect — no window."""
    from spark_xml_spark.operators import cms_estimate, count_min_sketch

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("text").isNotNull()
    )
    toks = d.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    sk = count_min_sketch(toks, ["lang"], "tok", depth=3, width=256,
                          salt="cm")
    est = cms_estimate(sk, _CMS_PROBES, salt="cm", depth_cap=3)
    return est.select("lang", "item", "est_count").orderBy("lang", "item")


def q_text_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS merge invariant through the oracle (the kmv_merge /
    qsketch_merge pattern): the corpus splits by doc_id parity, each
    half builds its own 3x256 sketch, merge_count_min_sketches sums the
    cells — and by linearity the merged matrix, and therefore every
    estimate, must EQUAL the from-scratch sketch of the union, which is
    exactly what the (shared) oracle computes. Both partials come from
    ONE tokenize scan: grouping by (lang, doc_id%2) splits the rows into
    disjoint partials (a NULL or negative doc_id only adds a _par NULL
    or -1 partial) and the merge sums every partial, so by linearity
    the result equals the union's sketch for any doc_id — at half the
    corpus scans (r17; the old two-filtered-branch shape read 1.63 s vs
    1.32 s at sf0.1)."""
    from spark_xml_spark.operators import (
        cms_estimate,
        count_min_sketch,
        merge_count_min_sketches,
    )

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("text").isNotNull()
    )
    toks = d.select(
        "lang",
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    parts = count_min_sketch(
        toks.withColumn("_par", F.col("doc_id") % 2),
        ["lang", "_par"], "tok", depth=3, width=256, salt="cm",
    ).drop("_par")
    merged = merge_count_min_sketches(parts, ["lang"])
    est = cms_estimate(merged, _CMS_PROBES, salt="cm", depth_cap=3)
    return est.select("lang", "item", "est_count").orderBy("lang", "item")


def q_text_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter ENUMERATION against the merged CMS
    (operators/sketch.py cms_heavy_hitters — Cormode & Muthukrishnan
    §4): the corpus splits by doc_id parity into two partial sketches,
    merge_count_min_sketches sums the cells, and the per-language
    distinct-token set probes the MERGED sketch for every token whose
    estimate clears ceil(phi*N) — N recovered exactly from the matrix
    itself (sum(cells)/depth; every occurrence increments depth cells,
    linear under merges). No false negatives over the candidate set
    (est >= true); false positives are within the sketch's +eps*N bar,
    and the oracle replays the identical cell matrix + threshold, so
    the SAME false positives appear on both engines — bit-exact. One
    (lang, tok) distinct agg + per-group sketch join + codegen
    estimate/filter; no window, no collect. Both partials come from ONE
    tokenize scan (r17, the text_cms_merge parity-group construction):
    grouping by (lang, doc_id%2) splits the rows into disjoint partials
    (NULL or negative doc_ids only add more of them), and the merge
    sums every partial into the union's sketch."""
    from spark_xml_spark.operators import (
        cms_heavy_hitters,
        count_min_sketch,
        merge_count_min_sketches,
    )

    d = _parquet(spark, sf_dir, "documents", fan_out=False).filter(
        F.col("text").isNotNull()
    )
    toks = d.select(
        "lang",
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    parts = count_min_sketch(
        toks.withColumn("_par", F.col("doc_id") % 2),
        ["lang", "_par"], "tok", depth=3, width=256, salt="cm",
    ).drop("_par")
    merged = merge_count_min_sketches(parts, ["lang"])
    hh = cms_heavy_hitters(
        merged, toks, ["lang"], "tok", phi=0.02, salt="cm", depth_cap=3
    )
    return hh.select(
        "lang", "item", "est_count", "total_weight"
    ).orderBy("lang", "item")


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (operators/rollup.py funnel_steps): per user,
    the longest prefix of view -> click -> purchase completable in
    order, with each step's earliest completion time. Earliest-first is
    optimal for the unbounded funnel, so the oracle replays the exact
    definition as a chain of min-aggregations; epoch-second timestamps
    keep every output integer-exact."""
    from spark_xml_spark.operators import funnel_steps

    e = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(e)
    base = e.withColumn("ts_sec", ts_sec).select(
        "user_id", "event_type", "ts_sec"
    )
    out = funnel_steps(
        base, "user_id", "ts_sec", ["view", "click", "purchase"]
    )
    # per-USER rows: the gate value-verifies every user's exact funnel
    # prefix and step timestamps, not a lossy histogram
    return out.select(
        "user_id", "max_step", "step1_ts", "step2_ts", "step3_ts"
    ).orderBy("user_id")


def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-conversion-window funnel (operators/rollup.py
    funnel_steps_windowed): per user, the deepest view -> click ->
    purchase prefix completable with every step within 86400 s of SOME
    view event — the real funnel-report semantics, where the unbounded
    query's earliest-first greedy is wrong (an early view's window can
    expire while a later view's chain completes). Every step-1 event is
    a candidate chain start; the winner is deepest-then-earliest. The
    oracle implements the identical per-chain-start search in SQL,
    value-checked per user."""
    from spark_xml_spark.operators import funnel_steps_windowed

    e = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(e)
    base = e.withColumn("ts_sec", ts_sec).select(
        "user_id", "event_type", "ts_sec"
    )
    out = funnel_steps_windowed(
        base, "user_id", "ts_sec", ["view", "click", "purchase"],
        window_seconds=86400,
    )
    return out.select(
        "user_id", "max_step", "step1_ts", "step2_ts", "step3_ts"
    ).orderBy("user_id")


def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy-hitter tracking with the mergeable count-min
    sketch (the stream_kmv / stream_qsketch pattern): documents replay
    in micro-batches, each batch builds its slice's 3x256 CMS
    (count_min_sketch) into an idempotent per-batch-id location, and
    the final state is merge_count_min_sketches over all per-batch
    partials. Micro-batch slices are disjoint (file-stream batches
    partition the file set) and cells sum by linearity, so the merged
    matrix — and therefore every probe estimate — is BIT-IDENTICAL to
    sketching the whole corpus, which is exactly what the shared
    text_cms oracle computes. Total streaming state: O(groups x depth
    x width) counters however long the stream runs."""
    import tempfile

    from spark_xml_spark.operators import (
        cms_estimate,
        count_min_sketch,
        merge_count_min_sketches,
    )

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False)
        d.select("doc_id", "lang", "text").coalesce(6).write.mode(
            "overwrite"
        ).parquet(path)

    src = _stream_source(spark, sf_dir, "cms-docs-id-lang-text",
                         "documents", _build)
    work = tempfile.mkdtemp(prefix="xml_scms_q_")
    state = os.path.join(work, "sketches")
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )

    def _sink(batch_df, batch_id):
        toks = batch_df.filter(F.col("text").isNotNull()).select(
            "lang",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("tok"),
        )
        count_min_sketch(
            toks, ["lang"], "tok", depth=3, width=256, salt="cm"
        ).write.mode("overwrite").parquet(os.path.join(state, f"b{batch_id}"))

    with _stateful_parts(spark):
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    partials = spark.read.option("recursiveFileLookup", "true").parquet(state)
    merged = merge_count_min_sketches(partials, ["lang"])
    est = cms_estimate(merged, _CMS_PROBES, salt="cm", depth_cap=3)
    return est.select("lang", "item", "est_count").orderBy("lang", "item")


def q_stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy-hitter enumeration (cms_heavy_hitters over
    per-micro-batch state): each batch persists BOTH its slice's 3x256
    CMS partial AND its distinct (lang, token) candidate set into
    idempotent per-batch-id locations; the final answer merges the
    sketch partials (cells sum by linearity) and probes the merged
    matrix with the UNION of the batch candidate sets. File-stream
    batches partition the corpus, so the candidate union IS the
    corpus's distinct token set and the merged matrix IS the
    whole-corpus sketch — the enumeration is therefore BIT-IDENTICAL
    to the batch text_cms_topk, which is exactly what the shared
    oracle computes. Streaming state: O(groups x depth x width)
    counters + the distinct candidate set (vocabulary-sized, the
    irreducible cost of enumerating a sketch that cannot enumerate
    itself)."""
    import tempfile

    from spark_xml_spark.operators import (
        cms_heavy_hitters,
        count_min_sketch,
        merge_count_min_sketches,
    )

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False)
        d.select("doc_id", "lang", "text").coalesce(6).write.mode(
            "overwrite"
        ).parquet(path)

    src = _stream_source(spark, sf_dir, "cms-docs-id-lang-text",
                         "documents", _build)
    work = tempfile.mkdtemp(prefix="xml_scmsk_q_")
    state = os.path.join(work, "sketches")
    cands = os.path.join(work, "cands")
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )

    def _sink(batch_df, batch_id):
        toks = batch_df.filter(F.col("text").isNotNull()).select(
            "lang",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("tok"),
        )
        count_min_sketch(
            toks, ["lang"], "tok", depth=3, width=256, salt="cm"
        ).write.mode("overwrite").parquet(
            os.path.join(state, f"b{batch_id}")
        )
        toks.distinct().write.mode("overwrite").parquet(
            os.path.join(cands, f"b{batch_id}")
        )

    with _stateful_parts(spark):
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    merged = merge_count_min_sketches(
        spark.read.option("recursiveFileLookup", "true").parquet(state),
        ["lang"],
    )
    cand = spark.read.option("recursiveFileLookup", "true").parquet(cands)
    hh = cms_heavy_hitters(
        merged, cand, ["lang"], "tok", phi=0.02, salt="cm", depth_cap=3
    )
    return hh.select(
        "lang", "item", "est_count", "total_weight"
    ).orderBy("lang", "item")


def q_stream_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING percentile tracking with the mergeable quantile sketch
    (the stream_kmv pattern): documents replay in micro-batches, each
    batch builds its slice's bottom-k-by-hash sample (quantile_sketch)
    into an idempotent per-batch-id location, and the final state is
    merge_quantile_sketches over all per-batch partials. Micro-batch
    slices are disjoint (file-stream batches partition the file set),
    so the merged sample — and therefore every quantile estimate — is
    BIT-IDENTICAL to sketching the whole corpus, which is exactly what
    the shared text_qsketch oracle computes."""
    import tempfile

    from spark_xml_spark.operators import (
        merge_quantile_sketches,
        quantile_estimate,
        quantile_sketch,
    )

    def _build(path):
        d = _parquet(spark, sf_dir, "documents", fan_out=False)
        d.select("doc_id", "source", "text").coalesce(6).write.mode(
            "overwrite"
        ).parquet(path)

    src = _stream_source(spark, sf_dir, "kmv-docs-id-src-text", "documents",
                         _build)
    work = tempfile.mkdtemp(prefix="xml_sqsk_q_")
    state = os.path.join(work, "sketches")
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )

    def _sink(batch_df, batch_id):
        base = batch_df.select(
            "source", "doc_id",
            F.length("text").cast("double").alias("n_chars"),
        )
        quantile_sketch(
            base, ["source"], "n_chars", "doc_id", k=64, salt="qs"
        ).write.mode("overwrite").parquet(
            os.path.join(state, f"b{batch_id}")
        )

    with _stateful_parts(spark):
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    partials = spark.read.option("recursiveFileLookup", "true").parquet(state)
    merged = merge_quantile_sketches(partials, ["source"], k=64)
    est = quantile_estimate(merged, [0.5, 0.9])
    return est.select(
        "source",
        F.size("qsample").cast("bigint").alias("n_sample"),
        "p50",
        "p90",
    ).orderBy("source")


def q_events_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW-SAFE as-of join (operators/joins.py asof_join_bucketed): the
    hot-key recipe as a first-class operator — both sides bucket by
    floor(ts/W) so the window partitions by key x bucket (no task ever
    holds one key's whole history); in-bucket misses repair from a
    per-bucket right rollup carried by a second asof over DISTINCT
    (key, bucket) pairs. Semantics are EXACTLY plain backward asof
    (equivalence pytest across widths/directions/tolerances), so the
    oracle is the same DuckDB native ASOF LEFT JOIN as events_asof."""
    from spark_xml_spark.operators import asof_join_bucketed

    e = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(e)
    base = e.withColumn("ts_sec", ts_sec)
    left = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_sec"
    )
    right = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_sec")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join_bucketed(
        left, right, ["user_id"], "ts_sec", ["pval"], bucket_width=86400.0
    )
    return out.select(
        "event_id", "user_id", "ts_sec", "pval_asof", "ts_asof"
    ).orderBy("event_id")


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup (operators/rollup.py) with the
    INCREMENTAL path exercised through the oracle: the events stream
    splits in two halves (event_id parity — a proxy for "history" and
    "new day"), each half rolls up independently into hourly buckets per
    event_type, and merge_rollups combines the partials. Because every
    aggregate is algebraic (count/sum-decimal/min/max), the merged
    result must equal a from-scratch rollup — which is exactly what the
    DuckDB oracle computes directly. Decimal sums keep the comparison
    exact; sum rendered as string per the decimal-hash convention."""
    from spark_xml_spark.operators import merge_rollups, time_rollup

    e = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(e)
    base = e.withColumn("ts_sec", ts_sec).select(
        "event_id", "event_type", "ts_sec", "value"
    )
    # both halves ("history" and "new day") roll up from ONE events
    # scan (r17, the text_cms_merge parity-group construction): keying
    # the rollup by (event_type, event_id%2) splits the rows into
    # disjoint partials (a NULL or negative event_id only adds a _par
    # NULL or -1 partial), and merge_rollups over the one partial frame
    # combines every parity row per (bucket, event_type) just as it
    # combines separate frames — the aggregates are algebraic
    parts = time_rollup(
        base.withColumn("_par", F.col("event_id") % 2),
        "ts_sec", ["event_type", "_par"], 3600, "value",
    ).drop("_par")
    merged = merge_rollups([parts], ["event_type"])
    return merged.select(
        "bucket_start",
        "event_type",
        "n_rows",
        F.col("sum_value").cast("string").alias("sum_value_s"),
        "min_value",
        "max_value",
    ).orderBy("bucket_start", "event_type")


def q_events_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-PASS hourly rollup — the yardstick shape (VERDICT r12
    task 3): events_rollup's recorded scale marginal compared the
    two-pass incremental DEMO (split + rollup twice + merge) against a
    one-pass oracle, an apples-to-oranges reading by construction. This
    query pins time_rollup itself — one scan, one map-side-combinable
    keyed shuffle — to the identical from-scratch oracle, so the
    recorded events x10 marginal prices the operator."""
    from spark_xml_spark.operators import time_rollup

    e = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(e)
    base = e.withColumn("ts_sec", ts_sec).select(
        "event_type", "ts_sec", "value"
    )
    rolled = time_rollup(base, "ts_sec", ["event_type"], 3600, "value")
    return rolled.select(
        "bucket_start",
        "event_type",
        "n_rows",
        F.col("sum_value").cast("string").alias("sum_value_s"),
        "min_value",
        "max_value",
    ).orderBy("bucket_start", "event_type")


def q_text_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.py quantile_sketch +
    quantile_estimate): per-source document-length p50/p90 estimated
    from a k=64 bottom-by-md5 deterministic sample — bounded O(k) state
    per group, the incremental counterpart of percentile_filter's exact
    percentiles. The oracle rebuilds the identical sample (same
    md5(salt||id) ranking) in SQL and applies the identical spelled-out
    R-7 interpolation, so every estimate is value-exact cross-engine."""
    from spark_xml_spark.operators import quantile_estimate, quantile_sketch

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select(
        "source", "doc_id", F.length("text").cast("double").alias("n_chars")
    )
    sk = quantile_sketch(d, ["source"], "n_chars", "doc_id", k=64, salt="qs")
    est = quantile_estimate(sk, [0.5, 0.9])
    return est.select(
        "source",
        F.size("qsample").cast("bigint").alias("n_sample"),
        "p50",
        "p90",
    ).orderBy("source")


def q_text_qsketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch MERGE invariant through the oracle (the kmv_merge /
    events_rollup pattern): the corpus splits by doc_id parity, each
    half builds its own k=64 sketch, merge_quantile_sketches combines
    the partials — and because the bottom-k of a union is the bottom-k
    of the union of per-slice bottom-ks, the merged estimates must
    EQUAL the from-scratch single-sketch estimates, which is exactly
    what the (shared) oracle computes."""
    from spark_xml_spark.operators import (
        merge_quantile_sketches,
        quantile_estimate,
        quantile_sketch,
    )

    d = _parquet(spark, sf_dir, "documents", fan_out=False).select(
        "source", "doc_id", F.length("text").cast("double").alias("n_chars")
    )
    # both partials from ONE corpus scan (r17, the text_cms_merge
    # parity-group construction): the per-(source, doc_id%2) bottom-k
    # samples cover disjoint slices (NULL or negative doc_ids only add
    # more), and the bottom-k of their union is the union's bottom-k
    parts = quantile_sketch(
        d.withColumn("_par", F.col("doc_id") % 2),
        ["source", "_par"], "n_chars", "doc_id", k=64, salt="qs",
    ).drop("_par")
    merged = merge_quantile_sketches(parts, ["source"], k=64)
    est = quantile_estimate(merged, [0.5, 0.9])
    return est.select(
        "source",
        F.size("qsample").cast("bigint").alias("n_sample"),
        "p50",
        "p90",
    ).orderBy("source")


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via window functions: a session breaks after a
    30-minute silence; per-user session stats."""
    ev = _events(spark, sf_dir)
    ts_sec, _ = _events_ts_cols(ev)
    e = ev.withColumn("ts_sec", ts_sec)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    sessioned = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = sessioned.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        F.max("n_events").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "xml_scan_filter": q_xml_scan_filter,
        "xml_pushdown": q_xml_pushdown,
        "xml_agg_q1": q_xml_agg_q1,
        "xml_join_agg": q_xml_join_agg,
        "xml_rollup": q_xml_rollup,
        "xml_window_rank": q_xml_window_rank,
        "xml_sort_limit": q_xml_sort_limit,
        "xml_distinct_except": q_xml_distinct_except,
        "xml_pivot": q_xml_pivot,
        "xml_exists_join": q_xml_exists_join,
        "xml_grouping_sets": q_xml_grouping_sets,
        "xml_scalar_subquery": q_xml_scalar_subquery,
        "xml_explode_nested": q_xml_explode_nested,
        "xml_flatten": q_xml_flatten,
        "xml_attributes": q_xml_attributes,
        "xml_valuetag": q_xml_valuetag,
        "xml_nulls": q_xml_nulls,
        "xml_wildcard": q_xml_wildcard,
        "xml_partitioned": q_xml_partitioned,
        "xml_split_scan": q_xml_split_scan,
        "xml_ddl_sql": q_xml_ddl_sql,
        "from_xml_parse": q_from_xml_parse,
        "from_xml_corrupt": q_from_xml_corrupt,
        "from_xml_string": q_from_xml_string,
        "to_xml_generate": q_to_xml_generate,
        "schema_infer": q_schema_infer,
        "xsd_schema": q_xsd_schema,
        "xsd_validate": q_xsd_validate,
        "stream_xml_ingest": q_stream_xml_ingest,
        "stream_backpressure": q_stream_backpressure,
        "stream_sessionize": q_stream_sessionize,
        "stream_enrich": q_stream_enrich,
        "stream_windowed": q_stream_windowed,
        "stream_xml_sink": q_stream_xml_sink,
        "stream_dedup": q_stream_dedup,
        "stream_simhash": q_stream_simhash,
        "ann_ivf_topk": q_ann_ivf_topk,
        "dedup_exact": q_dedup_exact,
        "dedup_clusters": q_dedup_clusters,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_near_keep": q_dedup_near_keep,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "text_quality": q_text_quality,
        "text_filter_pipeline": q_text_filter_pipeline,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_knn_join": q_ann_knn_join,
        "ann_ivf_knn": q_ann_ivf_knn,
        "stream_ann": q_stream_ann,
        "corpus_delta": q_corpus_delta,
        "data_shards": q_data_shards,
        "text_chunk": q_text_chunk,
        "text_pack": q_text_pack,
        "text_contamination": q_text_contamination,
        "dedup_substring": q_dedup_substring,
        "dedup_cross": q_dedup_cross,
        "corpus_stats": q_corpus_stats,
        "text_clean": q_text_clean,
        "text_dedup_lines": q_text_dedup_lines,
        "text_normalize": q_text_normalize,
        "data_quality": q_data_quality,
        "dedup_boilerplate": q_dedup_boilerplate,
        "text_outliers": q_text_outliers,
        "stream_quality": q_stream_quality,
        "stream_clean": q_stream_clean,
        "text_sample": q_text_sample,
        "text_tokens": q_text_tokens,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "text_repetition": q_text_repetition,
        "text_pii": q_text_pii,
        "text_urls": q_text_urls,
        "text_mix": q_text_mix,
        "data_shuffle": q_data_shuffle,
        "text_lm": q_text_lm,
        "data_split": q_data_split,
        "text_vocab": q_text_vocab,
        "text_lengths": q_text_lengths,
        "emb_quantize": q_emb_quantize,
        "emb_clusters": q_emb_clusters,
        "emb_dedup_keep": q_emb_dedup_keep,
        "corpus_pipeline": q_corpus_pipeline,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_features": q_multimodal_features,
        "stream_multimodal": q_stream_multimodal,
        "events_sessionize": q_events_sessionize,
        "events_asof": q_events_asof,
        "events_range_join": q_events_range_join,
        "events_rollup": q_events_rollup,
        "text_kmv": q_text_kmv,
        # append-only past this point: the driver's CORRECTNESS artifact
        # truncates at 50 entries, so the first 50 keys are pinned by
        # tests/test_entry_contract.py — never reorder
        "events_asof_fwd": q_events_asof_fwd,
        "events_asof_bucketed": q_events_asof_bucketed,
        "text_kmv_merge": q_text_kmv_merge,
        "stream_kmv": q_stream_kmv,
        "text_kmv_est": q_text_kmv_est,
        "multimodal_pixels": q_multimodal_pixels,
        "stream_join": q_stream_join,
        "multimodal_audio": q_multimodal_audio,
        "text_tfidf": q_text_tfidf,
        "text_bm25": q_text_bm25,
        "multimodal_mp3": q_multimodal_mp3,
        "text_hash_embed": q_text_hash_embed,
        "text_group_sample": q_text_group_sample,
        "text_hash_knn": q_text_hash_knn,
        "events_rollup_once": q_events_rollup_once,
        "text_qsketch": q_text_qsketch,
        "text_qsketch_merge": q_text_qsketch_merge,
        "stream_qsketch": q_stream_qsketch,
        "events_funnel": q_events_funnel,
        "text_cms": q_text_cms,
        "text_cms_merge": q_text_cms_merge,
        "events_funnel_windowed": q_events_funnel_windowed,
        "stream_cms": q_stream_cms,
        "text_cms_topk": q_text_cms_topk,
        "stream_cms_topk": q_stream_cms_topk,
    }


# DuckDB shingle-set CTE shared by the Jaccard oracles (mirrors
# operators.dedup._word_shingles: lowercase, \s+ split, word 3-grams,
# whole-text fallback under 3 words, distinct).
_SHINGLES_CTE = """
s AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(range(len(w) - 2),
                                    i -> array_to_string(w[i+1:i+3], ' '))
                ELSE [array_to_string(w, ' ')]
           END) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents)
)
"""

_JACCARD_PAIRS_SQL = (
    "WITH "
    + _SHINGLES_CTE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.sh, b.sh))
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= {thr}
ORDER BY id_a, id_b
"""
)

_LANG_SQL_LISTS = {
    "en": "'the','and','of','to','in','is','that','with','for','was'",
    "de": "'der','die','und','das','ist','nicht','mit','ein','von','zu'",
    "fr": "'le','la','les','et','de','un','une','est','dans','pour'",
    "es": "'el','la','los','las','y','de','que','es','en','por'",
}



def _clean_sql(col: str) -> str:
    """DuckDB mirror of operators.textstats.clean_text_col over ``col``:
    same regexes verbatim (RE2 ∩ java.util.regex subset), same order —
    script/style bodies, comments, tags, fixed entity table with &amp;
    LAST, whitespace collapse + trim."""
    return f"""trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(replace(
                    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                      {col},
                      '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
                      '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
                      '(?s)<!--.*?-->', ' ', 'g'),
                      '(?s)<[^>]*>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&apos;', ''''), '&#39;', ''''), '&nbsp;', ' '),
                    '&amp;', '&'),
                  '\\s+', ' ', 'g'))"""


def oracle_sql() -> dict[str, str]:
    lang_scores = ", ".join(
        f"len(list_filter(words, x -> x IN ({_LANG_SQL_LISTS[lang]}))) AS s_{lang}"
        for lang in sorted(_LANG_SQL_LISTS)
    )
    sql = {
        "xml_scan_filter": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_acctbal > 1000.0
            ORDER BY c_custkey
        """,
        "xml_pushdown": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
            ORDER BY o_orderkey
        """,
        "xml_agg_q1": f"""
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   {_DEC_SUM_SQL.format(c='l_extendedprice')} AS sum_base_price,
                   AVG(l_quantity) AS avg_qty,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "xml_join_agg": f"""
            SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
                   {_DEC_SUM_STR_SQL.format(c='c_acctbal')} AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY r_name
        """,
        "xml_rollup": f"""
            SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(l_quantity) AS sum_qty,
                   {_DEC_SUM_SQL.format(c='l_extendedprice')} AS sum_price
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        "xml_window_rank": """
            SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
                   s_acctbal, rnk
            FROM (SELECT s_suppkey, s_nationkey, s_acctbal,
                         CAST(rank() OVER (PARTITION BY s_nationkey
                              ORDER BY s_acctbal DESC, s_suppkey ASC) AS BIGINT) AS rnk
                  FROM supplier)
            WHERE rnk <= 2
            ORDER BY s_nationkey, rnk, s_suppkey
        """,
        "xml_sort_limit": """
            SELECT p_partkey, p_name, p_retailprice FROM part
            ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10
        """,
        "xml_distinct_except": """
            SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey
            FROM customer WHERE c_acctbal > 8000 AND c_acctbal <= 9500
            EXCEPT
            SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT)
            FROM customer WHERE c_acctbal > 9500
            ORDER BY c_mktsegment, c_nationkey
        """,
        "xml_pivot": """
            SELECT l_linestatus,
                   SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
                   SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
                   SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
            FROM lineitem GROUP BY l_linestatus
            ORDER BY l_linestatus
        """,
        "xml_exists_join": """
            SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                   CAST(SUM(CASE WHEN EXISTS (
                       SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT') THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_urgent,
                   CAST(SUM(CASE WHEN NOT EXISTS (
                       SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_no_orders
            FROM customer
            GROUP BY c_nationkey
            HAVING n_urgent > 0 OR n_no_orders > 0
            ORDER BY c_nationkey
        """,
        "xml_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
                   CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
                   SUM(l_quantity) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            ORDER BY g_rf, g_ls,
                     l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        "xml_scalar_subquery": """
            SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_above,
                   MIN(o_orderkey) AS min_key
            FROM orders
            WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "xml_explode_nested": f"""
            SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items,
                   SUM(l_quantity) AS sum_qty,
                   {_DEC_SUM_STR_SQL.format(c='l_extendedprice')} AS sum_price
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey % 50 = 0
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "xml_flatten": f"""
            SELECT o_orderstatus, CAST(COUNT(l_linenumber) AS BIGINT) AS n_items,
                   SUM(l_quantity) AS sum_qty,
                   {_DEC_SUM_STR_SQL.format(c='l_extendedprice')} AS sum_price
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey % 50 = 0
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "xml_attributes": f"""
            SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(o_orderkey) AS min_id,
                   {_DEC_SUM_STR_SQL.format(c='o_totalprice')} AS total
            FROM orders GROUP BY o_orderstatus
            ORDER BY status
        """,
        "xml_valuetag": f"""
            SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n,
                   {_DEC_SUM_SQL.format(c='o_totalprice')} AS total
            FROM orders GROUP BY o_orderpriority
            ORDER BY prio
        """,
        "xml_nulls": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) FILTER (WHERE c_custkey % 10 <> 0) AS BIGINT) AS n_present,
                   CAST(COUNT(*) FILTER (WHERE c_custkey % 10 = 0) AS BIGINT) AS n_null,
                   CAST(SUM(CASE WHEN c_custkey % 10 <> 0
                                 THEN CAST(c_acctbal AS DECIMAL(18,2)) END)
                        AS DECIMAL(38,2)) AS total_present
            FROM customer
        """,
        "xml_wildcard": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM((c_name IS NOT NULL)::INT + (c_nationkey IS NOT NULL)::INT
                          + (c_acctbal IS NOT NULL)::INT + (c_mktsegment IS NOT NULL)::INT)
                        AS BIGINT) AS n_wild_elems,
                   CAST(MIN((c_name IS NOT NULL)::INT + (c_nationkey IS NOT NULL)::INT
                          + (c_acctbal IS NOT NULL)::INT + (c_mktsegment IS NOT NULL)::INT)
                        AS BIGINT) AS min_wild
            FROM customer
        """,
        "xml_split_scan": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
                   CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM lineitem
        """,
        "xml_partitioned": """
            SELECT CAST(n_regionkey AS BIGINT) AS region,
                   CAST(COUNT(*) AS BIGINT) AS n_nations,
                   CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
            FROM nation WHERE n_regionkey >= 1
            GROUP BY 1 ORDER BY 1
        """,
        "xml_ddl_sql": """
            SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region
            ORDER BY r_regionkey
        """,
        "from_xml_parse": """
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_scaled,
                   MIN(event_id) AS min_id
            FROM events GROUP BY event_type
            ORDER BY event_type
        """,
        "from_xml_string": """
            SELECT 'BUILDING' AS seg, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
            FROM customer
            WHERE c_custkey BETWEEN 101 AND 1400
              AND c_mktsegment = 'BUILDING'
              AND c_nationkey IN (3, 9, 14)
        """,
        "from_xml_corrupt": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                   CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 0) AS BIGINT) AS n_corrupt,
                   CAST(COUNT(*) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT) AS n_parsed
            FROM documents
        """,
        "to_xml_generate": """
            SELECT event_id,
                   '<ROW><event_id>' || event_id || '</event_id><user_id>'
                     || user_id || '</user_id></ROW>' AS xml
            FROM events WHERE event_id < 1000
            ORDER BY event_id
        """,
        "schema_infer": """
            SELECT * FROM (VALUES
              ('n_name', 'string'), ('n_nationkey', 'bigint'),
              ('n_regionkey', 'bigint')) AS t(field, dtype)
            ORDER BY field
        """,
        "xsd_schema": """
            SELECT * FROM (VALUES
              ('p_partkey', 'bigint', false), ('p_name', 'string', false),
              ('p_size', 'int', true), ('p_retailprice', 'double', false)
            ) AS t(field, dtype, nullable)
            ORDER BY field
        """,
        "xsd_validate": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
                   CAST(SUM(p_partkey) AS BIGINT) AS sum_key
            FROM part
        """,
        "stream_xml_ingest": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
                   CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS n_regions
            FROM nation
        """,
                "text_dedup_lines": """
            -- mirror of dedup_lines_col: split on newline, keep a line iff
            -- it is empty or its FIRST occurrence index equals its own
            -- (DuckDB lambda indexes are 1-based; Spark's filter index is
            -- 0-based, hence i+1 there)
            WITH planted AS (
              SELECT doc_id,
                     'BOILER' || chr(10) || text || chr(10) || chr(10)
                       || 'BOILER' AS boilered
              FROM documents WHERE doc_id < 200
            ), s AS (
              SELECT doc_id, str_split(boilered, chr(10)) AS lines
              FROM planted
            )
            SELECT doc_id,
                   array_to_string(
                     list_filter(lines,
                       (x, i) -> x = '' OR list_position(lines, x) = i),
                     chr(10)) AS text_deduped,
                   CAST(COALESCE(len(lines) - len(list_filter(lines,
                       (x, i) -> x = '' OR list_position(lines, x) = i)), 0)
                     AS BIGINT) AS n_lines_removed
            FROM s ORDER BY doc_id
        """,
        "data_quality": """
            -- mirror of validate_corpus: every metric is an
            -- integer-count sum divided once (exact cross-engine);
            -- thresholds cast to DOUBLE (DuckDB literals are DECIMAL)
            WITH p AS (
              SELECT source,
                     CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS text_p,
                     CASE WHEN doc_id % 6 = 0 THEN 0 ELSE doc_id END AS rec_id,
                     lang, n_chars
              FROM documents
            ), m AS (
              SELECT source,
                     COUNT(*) AS n,
                     SUM(CASE WHEN text_p IS NOT NULL THEN 1 ELSE 0 END) AS nn_text,
                     COUNT(DISTINCT rec_id) AS d_rec,
                     COUNT(rec_id) AS nn_rec,
                     CAST(MIN(n_chars) AS DOUBLE) AS mn,
                     CAST(MAX(n_chars) AS DOUBLE) AS mx,
                     SUM(CASE WHEN lang IN ('en','de','fr','es')
                              THEN 1 ELSE 0 END) AS ins,
                     SUM(CASE WHEN regexp_matches(source, '^src[0-9]+$')
                              THEN 1 ELSE 0 END) AS mt,
                     SUM(CASE WHEN n_chars < 1000 THEN 1 ELSE 0 END) AS sd,
                     SUM(n_chars) AS s_nc, COUNT(n_chars) AS c_nc
              FROM p GROUP BY source
            )
            SELECT source, rule, col_name, threshold, metric, passed FROM (
              SELECT source, 'not_null(text_p)>=0.9' AS rule,
                     'text_p' AS col_name, CAST(0.9 AS DOUBLE) AS threshold,
                     CAST(nn_text AS DOUBLE)/n AS metric,
                     CAST(nn_text AS DOUBLE)/n >= 0.9 AS passed FROM m
              UNION ALL
              SELECT source, 'fraction(short_doc)>=0.99', 'short_doc',
                     CAST(0.99 AS DOUBLE), CAST(sd AS DOUBLE)/n,
                     CAST(sd AS DOUBLE)/n >= 0.99 FROM m
              UNION ALL
              SELECT source, 'count_min>=10.0', '*', CAST(10.0 AS DOUBLE),
                     CAST(n AS DOUBLE), n >= 10 FROM m
              UNION ALL
              SELECT source, 'unique(rec_id)', 'rec_id', CAST(1.0 AS DOUBLE),
                     CASE WHEN nn_rec = 0 THEN 1.0
                          ELSE CAST(d_rec AS DOUBLE)/nn_rec END,
                     (CASE WHEN nn_rec = 0 THEN 1.0
                           ELSE CAST(d_rec AS DOUBLE)/nn_rec END) >= 1.0 FROM m
              UNION ALL
              SELECT source, 'min(n_chars)>=1.0', 'n_chars',
                     CAST(1.0 AS DOUBLE), mn,
                     COALESCE(mn >= 1.0, false) FROM m
              UNION ALL
              SELECT source, 'max(n_chars)<=5000.0', 'n_chars',
                     CAST(5000.0 AS DOUBLE), mx,
                     COALESCE(mx <= 5000.0, false) FROM m
              UNION ALL
              SELECT source, 'in_set(lang)>=0.8', 'lang',
                     CAST(0.8 AS DOUBLE), CAST(ins AS DOUBLE)/n,
                     CAST(ins AS DOUBLE)/n >= 0.8 FROM m
              UNION ALL
              SELECT source, 'matches(source)>=1.0', 'source',
                     CAST(1.0 AS DOUBLE), CAST(mt AS DOUBLE)/n,
                     CAST(mt AS DOUBLE)/n >= 1.0 FROM m
              UNION ALL
              SELECT source, 'mean_min(n_chars)>=100.0', 'n_chars',
                     CAST(100.0 AS DOUBLE),
                     CAST(s_nc AS DOUBLE)/NULLIF(c_nc, 0),
                     COALESCE(CAST(s_nc AS DOUBLE)/NULLIF(c_nc, 0) >= 100.0,
                              false) FROM m
            )
            ORDER BY source, rule
        """,
        "stream_quality": """
            -- batch replay of the streaming complete-mode report: same
            -- rules as data_quality minus 'unique' (distinct aggregation
            -- is unsupported in streaming)
            WITH p AS (
              SELECT source,
                     CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS text_p,
                     lang, n_chars
              FROM documents
            ), m AS (
              SELECT source,
                     COUNT(*) AS n,
                     SUM(CASE WHEN text_p IS NOT NULL THEN 1 ELSE 0 END) AS nn_text,
                     CAST(MIN(n_chars) AS DOUBLE) AS mn,
                     CAST(MAX(n_chars) AS DOUBLE) AS mx,
                     SUM(CASE WHEN lang IN ('en','de','fr','es')
                              THEN 1 ELSE 0 END) AS ins,
                     SUM(CASE WHEN regexp_matches(source, '^src[0-9]+$')
                              THEN 1 ELSE 0 END) AS mt,
                     SUM(n_chars) AS s_nc, COUNT(n_chars) AS c_nc
              FROM p GROUP BY source
            )
            SELECT source, rule, col_name, threshold, metric, passed FROM (
              SELECT source, 'not_null(text_p)>=0.9' AS rule,
                     'text_p' AS col_name, CAST(0.9 AS DOUBLE) AS threshold,
                     CAST(nn_text AS DOUBLE)/n AS metric,
                     CAST(nn_text AS DOUBLE)/n >= 0.9 AS passed FROM m
              UNION ALL
              SELECT source, 'min(n_chars)>=1.0', 'n_chars',
                     CAST(1.0 AS DOUBLE), mn,
                     COALESCE(mn >= 1.0, false) FROM m
              UNION ALL
              SELECT source, 'max(n_chars)<=5000.0', 'n_chars',
                     CAST(5000.0 AS DOUBLE), mx,
                     COALESCE(mx <= 5000.0, false) FROM m
              UNION ALL
              SELECT source, 'in_set(lang)>=0.8', 'lang',
                     CAST(0.8 AS DOUBLE), CAST(ins AS DOUBLE)/n,
                     CAST(ins AS DOUBLE)/n >= 0.8 FROM m
              UNION ALL
              SELECT source, 'matches(source)>=1.0', 'source',
                     CAST(1.0 AS DOUBLE), CAST(mt AS DOUBLE)/n,
                     CAST(mt AS DOUBLE)/n >= 1.0 FROM m
              UNION ALL
              SELECT source, 'mean_min(n_chars)>=100.0', 'n_chars',
                     CAST(100.0 AS DOUBLE),
                     CAST(s_nc AS DOUBLE)/NULLIF(c_nc, 0),
                     COALESCE(CAST(s_nc AS DOUBLE)/NULLIF(c_nc, 0) >= 100.0,
                              false) FROM m
            )
            ORDER BY source, rule
        """,
        "text_outliers": """
            -- per-source winsorization band: quantile_cont interpolates
            -- exactly like Spark's percentile (pinned by corpus_stats)
            WITH s AS (
              SELECT source,
                     quantile_cont(n_chars, 0.1) AS lo,
                     quantile_cont(n_chars, 0.9) AS hi
              FROM documents GROUP BY source
            )
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d
            JOIN s ON d.source IS NOT DISTINCT FROM s.source
            WHERE d.n_chars >= s.lo AND d.n_chars <= s.hi
            ORDER BY d.doc_id
        """,
        "dedup_boilerplate": """
            -- mirror of remove_frequent_lines: ban non-blank lines in
            -- >= 5 DISTINCT docs, drop ALL their occurrences everywhere,
            -- order-preserving rebuild (list_filter keeps order)
            WITH planted AS (
              SELECT doc_id,
                     concat_ws(chr(10),
                       'COOKIE NOTICE: this site uses cookies',
                       CASE WHEN doc_id % 2 = 0
                            THEN 'SUBSCRIBE TO OUR NEWSLETTER'
                            ELSE 'PROMO-' || CAST(doc_id AS VARCHAR) END,
                       text, '',
                       '(c) example.com - all rights reserved') AS boilered
              FROM documents WHERE doc_id < 300
            ), lines AS (
              SELECT doc_id, unnest(str_split(boilered, chr(10))) AS line
              FROM planted
            ), banned AS (
              -- blank-line exemption mirrors the engine's explicit
              -- portable class: space/tab/CR/FF only
              SELECT line FROM lines
              WHERE regexp_matches(line, '[^ \\t\\r\\f]')
              GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 5
            ), b AS (
              SELECT COALESCE(list(line), []) AS bl FROM banned
            )
            SELECT doc_id,
                   CASE WHEN boilered IS NULL THEN NULL
                        ELSE array_to_string(
                          list_filter(str_split(boilered, chr(10)),
                                      x -> NOT list_contains(bl, x)),
                          chr(10)) END AS text_deboiled,
                   CAST(CASE WHEN boilered IS NULL THEN 0
                        ELSE len(str_split(boilered, chr(10)))
                             - len(list_filter(str_split(boilered, chr(10)),
                                   x -> NOT list_contains(bl, x)))
                        END AS BIGINT) AS n_lines_removed
            FROM planted, b
            ORDER BY doc_id
        """,
        "text_normalize": """
            -- cross-engine NFC: DuckDB nfc_normalize vs Python
            -- unicodedata.normalize('NFC', ...) — planted combining marks
            -- (U+0301, U+030A) must compose identically
            WITH planted AS (
              SELECT doc_id,
                     text || ' cafe' || chr(769) || ' A' || chr(778)
                       AS accented
              FROM documents WHERE doc_id < 200
            )
            SELECT doc_id,
                   nfc_normalize(accented) AS text_nfc,
                   CASE WHEN accented IS NULL THEN false
                        ELSE accented != nfc_normalize(accented)
                   END AS changed
            FROM planted ORDER BY doc_id
        """,
        "stream_simhash": r"""
            -- signature mirror of dedup_simhash (60-bit md5-prefix word
            -- hash), restricted to the streaming op's event-time window:
            -- ts = 1e6 + doc_id*60 s, so |ts_a - ts_b| <= 1800 s is
            -- |doc_id_a - doc_id_b| <= 30
            WITH words AS (
              SELECT doc_id, unnest(list_distinct(
                       regexp_split_to_array(lower(text), '\s+'))) AS w
              FROM documents
            ), hashed AS (
              SELECT doc_id,
                     list_reduce(
                       list_transform(range(15),
                         i -> CAST(strpos('0123456789abcdef',
                                          substring(md5(w), i + 1, 1)) - 1
                              AS BIGINT)),
                       (acc, x) -> acc * 16 + x) AS h
              FROM words
            ), bits AS (
              SELECT doc_id, i,
                     SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hashed, range(60) t(i)
              GROUP BY doc_id, i
            ), sig AS (
              SELECT doc_id,
                     SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i)
                              ELSE 0 END) AS simhash
              FROM bits GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              AND abs(a.doc_id - b.doc_id) * 60 <= 1800
            ORDER BY id_a, id_b
        """,
        "stream_backpressure": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
                   CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS n_regions
            FROM nation
        """,
        "stream_xml_sink": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
                   CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations,
                   {_DEC_SUM_STR_SQL.format(c='s_acctbal')} AS sum_bal
            FROM supplier
        """,
        "stream_dedup": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            ), kept AS (
              SELECT DISTINCT text FROM all_docs
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
                   CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct
            FROM kept
        """,
        "stream_enrich": f"""
            SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_events,
                   {_DEC_SUM_STR_SQL.format(c='e.value')} AS sum_value
            FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
            GROUP BY n.n_name
            ORDER BY n.n_name
        """,
        "stream_windowed": """
            -- hourly tumbling windows over event time; append mode only
            -- emits windows finalized by the 30-minute watermark
            WITH win AS (
              SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
                     event_type,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 6) AS sum_value
              FROM events
              GROUP BY ws, event_type
            )
            SELECT CAST(epoch(ws) AS BIGINT) AS win_start_s,
                   CAST(epoch(ws + INTERVAL 1 HOUR) AS BIGINT) AS win_end_s,
                   event_type, n_events, sum_value
            FROM win
            WHERE ws + INTERVAL 1 HOUR <=
                  (SELECT MAX(ts) FROM events) - INTERVAL 30 MINUTE
            ORDER BY win_start_s, event_type
        """,
        "stream_sessionize": """
            WITH flag AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN (epoch_ns(ts) // 1000000000)
                               - lag(epoch_ns(ts) // 1000000000) OVER w IS NULL
                               OR (epoch_ns(ts) // 1000000000)
                               - lag(epoch_ns(ts) // 1000000000) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id,
                     SUM(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flag
            ), per AS (
              SELECT user_id, session_id, COUNT(*) AS n_events
              FROM sess GROUP BY user_id, session_id
            ), closed AS (
              -- the stateful operator only emits sessions closed by a later
              -- event; each user's final session stays open
              SELECT * FROM per
              WHERE session_id < (SELECT MAX(session_id) FROM per p2
                                  WHERE p2.user_id = per.user_id)
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_closed,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_closed,
                   CAST(MAX(n_events) AS BIGINT) AS max_closed_len,
                   CAST(SUM(n_events) AS BIGINT) AS sum_closed_events
            FROM closed
        """,
        "dedup_exact": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            ), kept AS (
              SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY text
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
            FROM kept
        """,
        "dedup_clusters": (
            "WITH RECURSIVE "
            + _SHINGLES_CTE.strip()
            + """
            , p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                    >= 0.5
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p
            ), cc AS (
              SELECT src AS id, src AS comp FROM edges
              UNION
              SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src
            )
            SELECT id AS doc_id, MIN(comp) AS cluster_id
            FROM cc GROUP BY id ORDER BY doc_id
        """
        ),
        "dedup_jaccard": _JACCARD_PAIRS_SQL.format(thr=0.5),
        "dedup_minhash": _JACCARD_PAIRS_SQL.format(thr=0.8),
        "dedup_near_keep": (
            "WITH "
            + _SHINGLES_CTE
            + """
            , removed AS (
              SELECT DISTINCT b.doc_id AS doc_id
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                      / (len(a.sh) + len(b.sh)
                         - len(list_intersect(a.sh, b.sh))) >= 0.8
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM removed)
            """
        ),
        "dedup_simhash": """
            -- recompute the portable simhash (60-bit md5-prefix word hash)
            -- and compare exact all-pairs Hamming<=3: the Spark side's
            -- 4-band candidates are recall-complete at Hamming<=3
            WITH words AS (
              SELECT doc_id, unnest(list_distinct(
                       regexp_split_to_array(lower(text), '\\s+'))) AS w
              FROM documents
            ), hashed AS (
              SELECT doc_id,
                     list_reduce(
                       list_transform(range(15),
                         i -> CAST(strpos('0123456789abcdef',
                                          substring(md5(w), i + 1, 1)) - 1
                              AS BIGINT)),
                       (acc, x) -> acc * 16 + x) AS h
              FROM words
            ), bits AS (
              SELECT doc_id, i,
                     SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM hashed, range(60) t(i)
              GROUP BY doc_id, i
            ), sig AS (
              SELECT doc_id,
                     SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i)
                              ELSE 0 END) AS simhash
              FROM bits GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY id_a, id_b
        """,
        "dedup_embedding": """
            WITH pert AS (
              SELECT vec_id,
                     CAST(embedding AS DOUBLE[]) AS v,
                     CAST(list_transform(embedding,
                            x -> CAST(x + CAST(0.01 AS FLOAT) AS FLOAT))
                          AS DOUBLE[]) AS p
              FROM embeddings WHERE vec_id % 20 = 0
            )
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
            FROM pert
            WHERE list_dot_product(v, p)
                  / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(p, p)))
                  >= 0.99
            ORDER BY id_a, id_b
        """,
        "text_quality": """
            WITH m AS (
              SELECT source,
                     length(text) AS n_chars,
                     len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS n_punct,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                     len(list_filter(
                       list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> lower(x)),
                       x -> x IN ('the','and','of','to','in','is','that','with','for','was')))
                       AS n_stop
              FROM documents
            ), scored AS (
              SELECT source,
                     round(
                       0.4 * least((n_alpha / greatest(n_chars, 1)) / 0.7, 1.0)
                     + 0.3 * least((n_stop / greatest(n_words, 1)) / 0.3, 1.0)
                     + 0.3 * (1 - least(n_punct / greatest(n_chars, 1)
                                      + n_digit / greatest(n_chars, 1), 1.0)), 6)
                       AS quality_score
              FROM m
            )
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   round(AVG(quality_score), 6) AS avg_quality,
                   round(MIN(quality_score), 6) AS min_quality
            FROM scored GROUP BY source
            ORDER BY source
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                     list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
                       / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
              FROM embeddings, q
            )
            SELECT vec_id, round(cosine, 9) AS cosine_r FROM scored
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        # mirrors q_data_shards: shard accounting is a pure function of
        # the split membership because num_tasks routes each split to ONE
        # task and maxRecordsPerFile rolls greedily at 37
        "data_shards": """
            WITH s AS (
              SELECT CASE
                       WHEN CAST(('0x' || substr(md5('split8' ||
                              COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4))
                            AS BIGINT) % 100 < 10 THEN 'test'
                       WHEN CAST(('0x' || substr(md5('split8' ||
                              COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4))
                            AS BIGINT) % 100 < 20 THEN 'val'
                       ELSE 'train'
                     END AS split
              FROM documents
            ), agg AS (
              SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM s GROUP BY split
            )
            SELECT split, n_rows,
                   CAST(CEIL(n_rows / 37.0) AS BIGINT) AS n_shards,
                   LEAST(n_rows, 37) AS max_shard_rows
            FROM agg ORDER BY split
        """,
        # mirrors operators.dedup.corpus_delta over the same synthesized
        # previous snapshot; the oracle compares CONTENT directly (IS
        # DISTINCT FROM) where the engine compares sha2 hashes — equal up
        # to a 256-bit collision
        "corpus_delta": """
            WITH prev AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN text || ' v1'
                          ELSE text END AS text,
                     lang, source
              FROM documents WHERE doc_id % 13 != 0
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, text, lang, source
              FROM documents WHERE doc_id % 17 = 0
            ), delta AS (
              SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
                     CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'removed'
                          WHEN (o.text IS DISTINCT FROM n.text)
                            OR (o.lang IS DISTINCT FROM n.lang)
                            OR (o.source IS DISTINCT FROM n.source)
                               THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM prev o FULL OUTER JOIN documents n USING (doc_id)
            )
            SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
            FROM delta GROUP BY status ORDER BY status
        """,
        "ann_knn_join": """
            WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id % 97 = 0),
            scored AS (
              SELECT q.q_id, e.vec_id,
                     list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
              FROM embeddings e, q
            ), ranked AS (
              SELECT q_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
              FROM scored
            )
            SELECT q_id, vec_id, round(cosine, 9) AS cosine_r, rank
            FROM ranked WHERE rank <= 5 ORDER BY q_id, rank
        """,
        # brute-force replay per query over the planted corpus; within the
        # plant the IVF probe returns the exact top-10 (ann_ivf_topk's
        # argument, per planted query)
        "ann_ivf_knn": """
            WITH planted AS (
              SELECT 1000000 + i AS vec_id,
                     list_transform(e.embedding,
                       x -> CAST(x + CAST(i * 0.0001 AS FLOAT) AS FLOAT)) AS embedding
              FROM range(1, 31) t(i),
                   (SELECT embedding FROM embeddings WHERE vec_id = 0) e
            ), corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL SELECT vec_id, embedding FROM planted
            ), qs AS (
              SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM corpus WHERE vec_id IN (0, 1000001, 1000002, 1000003)
            ), scored AS (
              SELECT qs.q_id, c.vec_id,
                     list_dot_product(CAST(c.embedding AS DOUBLE[]), qs.qv)
                       / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(qs.qv, qs.qv))) AS cosine
              FROM corpus c, qs
            ), ranked AS (
              SELECT q_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
              FROM scored
            )
            SELECT q_id, vec_id, round(cosine, 9) AS cosine_r, rank
            FROM ranked WHERE rank <= 10 ORDER BY q_id, rank
        """,
        "ann_lsh_topk": _PLANTED_TOPK_SQL,
        "ann_ivf_topk": _PLANTED_TOPK_SQL,
        "text_filter_pipeline": f"""
            WITH m AS (
              SELECT doc_id,
                     list_transform(regexp_split_to_array(lower(text), '\\s+'),
                                    x -> regexp_replace(x, '[^a-z]', '', 'g'))
                       AS words,
                     length(text) AS n_chars,
                     len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS n_punct,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                     len(list_filter(
                       list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> lower(x)),
                       x -> x IN ('the','and','of','to','in','is','that','with','for','was')))
                       AS n_stop,
                     len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_tokens
              FROM documents
            ), scored AS (
              SELECT doc_id, n_tokens, {lang_scores},
                     greatest(s_de, s_en, s_es, s_fr) AS best,
                     round(
                       0.4 * least((n_alpha / greatest(n_chars, 1)) / 0.7, 1.0)
                     + 0.3 * least((n_stop / greatest(n_words, 1)) / 0.3, 1.0)
                     + 0.3 * (1 - least(n_punct / greatest(n_chars, 1)
                                      + n_digit / greatest(n_chars, 1), 1.0)), 6)
                       AS quality_score
              FROM m
            ), kept AS (
              SELECT * FROM scored
              -- lang_pred = 'en' iff en ties best and de (checked first in
              -- the alphabetical CASE chain) does not
              WHERE best > 0 AND s_en = best AND s_de <> best
                AND quality_score >= 0.5
                AND n_tokens BETWEEN 50 AND 100000
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids,
                   round(AVG(quality_score), 6) AS avg_quality
            FROM kept
        """,
        "text_pack": r"""
            WITH t AS (
              SELECT doc_id,
                     CAST(COALESCE(
                       len(regexp_split_to_array(trim(text), '\s+')), 0
                     ) AS BIGINT) AS n
              FROM documents
            ), c AS (
              SELECT doc_id, n,
                     COALESCE(SUM(n) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS off
              FROM t
            ), s AS (
              SELECT doc_id, n,
                     off // 512 AS seq_first,
                     CASE WHEN n > 0 THEN (off + n - 1) // 512
                          ELSE off // 512 END AS seq_last,
                     CASE WHEN n > 0
                          THEN (off + n - 1) // 512 - off // 512 + 1
                          ELSE 0 END AS n_seqs
              FROM c
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS total_tokens,
                   CAST(MAX(seq_last) + 1 AS BIGINT) AS n_sequences,
                   CAST(SUM(CASE WHEN n_seqs > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_straddlers,
                   CAST(SUM(seq_first * doc_id + n_seqs) AS BIGINT)
                     AS checksum
            FROM s
        """,
        "text_chunk": r"""
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
              FROM documents
            ), c AS (
              SELECT doc_id, CAST(len(words) AS INT) AS n_words,
                     GREATEST(CAST(CEIL((len(words) - 16) / 12.0) AS BIGINT), 0) + 1 AS k,
                     words
              FROM w
            ), e AS (
              SELECT doc_id, n_words, k, i,
                     array_to_string(words[(i*12+1):(i*12+16)], ' ') AS chunk
              FROM c, LATERAL (SELECT unnest(generate_series(0, k-1)) AS i) g
            )
            SELECT doc_id, n_words, CAST(k AS INT) AS n_chunks,
                   MIN(CASE WHEN i = 0 THEN chunk END) AS first_chunk,
                   MIN(CASE WHEN i = k-1 THEN chunk END) AS last_chunk
            FROM e GROUP BY doc_id, n_words, k
            ORDER BY doc_id
        """,
        "text_contamination": (
            "WITH "
            + _SHINGLES_CTE
            + """
            , b AS (
              SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 37 = 0
            ), e AS (
              SELECT doc_id, unnest(sh) AS g FROM s
            ), hits AS (
              SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
              FROM e JOIN b USING (g) GROUP BY e.doc_id
            ), tot AS (
              SELECT doc_id, CAST(len(sh) AS INT) AS n_shingles FROM s
            )
            SELECT t.doc_id, t.n_shingles,
                   COALESCE(h.n_hits, 0) AS n_contaminated,
                   round(COALESCE(h.n_hits, 0) * 1.0 / t.n_shingles, 6)
                     AS contamination_r
            FROM tot t LEFT JOIN hits h USING (doc_id)
            WHERE COALESCE(h.n_hits, 0) * 1.0 / t.n_shingles >= 0.8
            ORDER BY doc_id
        """
        ),
        # mirrors operators.textstats.clean_text_col: script/style bodies
        # first (their '<' would break bare tag-strip), then comments and
        # tags, the fixed entity table with &amp; LAST, whitespace collapse.
        # Same regexes verbatim (RE2 ∩ java.util.regex subset).
        "text_clean": f"""
            WITH dirty AS (
              SELECT doc_id,
                     '{_DIRTY_HTML_PREFIX}' || text ||
                     '{_DIRTY_HTML_SUFFIX}' AS d
              FROM documents WHERE doc_id < 200
            ), c AS (
              SELECT doc_id, d, {_clean_sql('d')} AS text_clean
              FROM dirty
            )
            SELECT doc_id, text_clean,
                   CAST(COALESCE(len(d), 0) - COALESCE(len(text_clean), 0)
                        AS BIGINT) AS n_chars_removed
            FROM c ORDER BY doc_id
        """,
        # the stream is a stateless projection of the same clean chain
        # over the dirtied corpus — totals replay in one batch SQL
        "stream_clean": f"""
            WITH dirty AS (
              SELECT doc_id,
                     '{_DIRTY_HTML_PREFIX}' || text ||
                     '{_DIRTY_HTML_SUFFIX}' AS d
              FROM documents
            ), c AS (
              SELECT doc_id, d, {_clean_sql('d')} AS text_clean
              FROM dirty
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(COALESCE(len(d), 0) - COALESCE(len(text_clean), 0))
                        AS BIGINT) AS total_removed,
                   CAST(SUM(len(text_clean)) AS BIGINT) AS total_clean_len
            FROM c
        """,
        # mirrors operators.textstats.corpus_profile: NULL text = 0 tokens,
        # quantile_cont == Spark's exact interpolated percentile (verified
        # identical on integer domains)
        "corpus_stats": f"""
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS total_tokens,
                   round(AVG(n), 6) AS mean_tokens,
                   round(quantile_cont(n, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(n, 0.9), 6) AS p90_tokens,
                   round(quantile_cont(n, 0.99), 6) AS p99_tokens,
                   CAST(MAX(n) AS BIGINT) AS max_tokens
            FROM (SELECT source,
                         CASE WHEN text IS NULL THEN 0
                              ELSE len(regexp_extract_all(text, '{TOKEN_REGEX}'))
                         END AS n
                  FROM documents)
            GROUP BY source
            ORDER BY source
        """,
        # exact cross-Jaccard replay between the parity halves (the LSH
        # join's verified output equals it at the b=32/r=2 recall bound)
        "dedup_cross": (
            "WITH "
            + _SHINGLES_CTE
            + """
            SELECT a.doc_id AS id_l, b.doc_id AS id_r,
                   round(len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 9)
                     AS jaccard_r
            FROM s a JOIN s b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
            WHERE len(list_intersect(a.sh, b.sh))
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
            ORDER BY id_l, id_r
        """
        ),
        # mirrors operators.dedup.substring_dup_spans: positional 7-gram
        # window starts (0-based), duplicated = gram text occurs at >= 2
        # positions corpus-wide; coverage via min(k, pos - prev_pos) over
        # sorted duplicated positions (fixed-length windows => monotone
        # interval ends). The engine shuffles xxhash64(gram); the oracle
        # joins on the gram STRING — equal up to 64-bit collisions.
        "dedup_substring": """
            WITH g AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w
              FROM documents
            ), gr AS (
              SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                     CASE WHEN len(w) >= 7
                          THEN list_transform(range(len(w) - 6),
                                 i -> {'p': i,
                                       'g': array_to_string(w[i+1:i+7], ' ')})
                          ELSE [] END AS grams
              FROM g
            ), e AS (
              SELECT doc_id, n_tokens, u.p AS pos, u.g AS gram
              FROM (SELECT doc_id, n_tokens, unnest(grams) AS u FROM gr)
            ), dupg AS (
              SELECT gram FROM e GROUP BY gram HAVING COUNT(*) >= 2
            ), adds AS (
              SELECT doc_id, n_tokens,
                     LEAST(7, pos - COALESCE(LAG(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos), pos - 7)) AS a
              FROM e JOIN dupg USING (gram)
            ), cov AS (
              SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
                     CAST(SUM(a) AS BIGINT) AS dup_tokens
              FROM adds GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, dup_tokens,
                   round(dup_tokens * 1.0 / n_tokens, 6) AS dup_fraction_r
            FROM cov WHERE dup_tokens * 1.0 / n_tokens >= 0.5
            ORDER BY doc_id
        """,
        "text_sample": """
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            WHERE CAST(('0x' || substr(md5('r7' || COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4))
                       AS BIGINT) % 100 < 30
            GROUP BY source
            ORDER BY source
        """,
        "text_tokens": f"""
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT)
                     AS total_tokens,
                   CAST(MAX(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT)
                     AS max_tokens
            FROM documents GROUP BY source
            ORDER BY source
        """,
        "text_langid": f"""
            WITH scored AS (
              SELECT {lang_scores},
                     greatest(s_de, s_en, s_es, s_fr) AS best
              FROM (SELECT list_transform(
                             regexp_split_to_array(lower(text), '\\s+'),
                             x -> regexp_replace(x, '[^a-z]', '', 'g')) AS words
                    FROM documents)
            )
            SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n FROM (
              SELECT CASE WHEN best <= 0 THEN 'und'
                          WHEN s_de = best THEN 'de'
                          WHEN s_en = best THEN 'en'
                          WHEN s_es = best THEN 'es'
                          WHEN s_fr = best THEN 'fr'
                          ELSE 'und' END AS lang_pred
              FROM scored)
            GROUP BY lang_pred
            ORDER BY lang_pred
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   list_aggregate(
                     list_transform(
                       CASE WHEN len(w) >= 8
                            THEN list_transform(range(len(w) - 7),
                                   i -> array_to_string(w[i+1:i+8], ' '))
                            ELSE [array_to_string(w, ' ')] END,
                       s -> md5(s)),
                     'min') AS fingerprint
            FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
                  FROM documents)
            WHERE doc_id < 100
            ORDER BY doc_id
        """,
        "text_repetition": """
            WITH g AS (
              SELECT source,
                     CASE WHEN len(w) >= 2
                          THEN list_transform(range(len(w) - 1),
                                 i -> array_to_string(w[i+1:i+2], ' '))
                          ELSE [array_to_string(w, ' ')] END AS grams
              FROM (SELECT source,
                           regexp_split_to_array(lower(trim(text)), '\\s+') AS w
                    FROM documents)
            ), m AS (
              SELECT source,
                     CAST(len(grams) AS BIGINT) AS total,
                     CAST(len(list_distinct(grams)) AS BIGINT) AS dist,
                     list_aggregate(
                       list_transform(list_distinct(grams),
                         d -> len(list_filter(grams, x -> x = d))),
                       'max') / CAST(len(grams) AS DOUBLE) AS top_frac
              FROM g
            )
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   SUM(total) AS total_grams,
                   SUM(dist) AS distinct_grams,
                   round(1.0 - SUM(dist) / CAST(SUM(total) AS DOUBLE), 6)
                     AS corpus_dup_frac,
                   round(AVG(top_frac), 6) AS avg_top_frac
            FROM m GROUP BY source ORDER BY source
        """,
        "text_pii": """
            WITH planted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com from 10.0.'
                            || CAST(doc_id % 256 AS VARCHAR) || '.'
                            || CAST(doc_id % 100 AS VARCHAR) || ' tel 555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE text END AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                     '\\b\\d{3}-\\d{4}\\b')) AS BIGINT) AS n_phones,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                         '[EMAIL]', 'g'),
                       '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g'),
                     '\\b\\d{3}-\\d{4}\\b', '[PHONE]', 'g') AS text_redacted
            FROM planted ORDER BY doc_id LIMIT 20
        """,
        "text_urls": """
            WITH planted AS (
              SELECT doc_id,
                     text || ' see https://Site' || CAST(doc_id % 7 AS VARCHAR)
                          || '.Example.org/p/' || CAST(doc_id AS VARCHAR)
                          || CASE WHEN doc_id % 2 = 0
                                  THEN ' http://cdn'
                                       || CAST(doc_id % 3 AS VARCHAR)
                                       || '.example.net/x'
                                  ELSE '' END AS text
              FROM documents
            )
            SELECT lower(d) AS domain, CAST(COUNT(*) AS BIGINT) AS n_urls
            FROM planted,
                 unnest(regexp_extract_all(text,
                        'https?://(?:[^/\\s@]*@)?([A-Za-z0-9.-]+)', 1)) AS t(d)
            GROUP BY lower(d) ORDER BY domain
        """,
        "text_mix": """
            WITH counts AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM documents GROUP BY source
            ), wts AS (
              SELECT source, n,
                     CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
                          THEN 3 ELSE 1 END AS wt
              FROM counts
            ), wtot AS (SELECT CAST(SUM(wt) AS BIGINT) AS W FROM wts),
            caps AS (
              SELECT source, n, wt, W,
                     CAST(floor(n * W / CAST(wt AS DOUBLE)) AS BIGINT) AS cap
              FROM wts, wtot
            ), tmax AS (SELECT MIN(cap) AS Tmax FROM caps),
            rates AS (
              SELECT source,
                     CAST(floor(10000 * CAST(floor(least(Tmax, 300) * wt
                                / CAST(W AS DOUBLE)) AS BIGINT)
                                / CAST(n AS DOUBLE)) AS BIGINT) AS rate
              FROM caps, tmax
            )
            SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_ids
            FROM documents d JOIN rates r ON d.source = r.source
            WHERE CAST(('0x' || substr(md5('mix8' ||
                    COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4))
                  AS BIGINT) % 10000 < r.rate
            GROUP BY d.source
            ORDER BY d.source
        """,
        "data_shuffle": """
            SELECT doc_id,
                   md5('shuf8' || COALESCE(CAST(doc_id AS VARCHAR), ''))
                     AS shuffle_key
            FROM documents
            ORDER BY shuffle_key, doc_id
            LIMIT 20
        """,
        "text_lm": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text),
                                               '{TOKEN_REGEX}')) AS tok
              FROM documents
            ), vocab AS (
              SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
            ), tot AS (
              SELECT SUM(n) AS total FROM vocab
            ), scores AS (
              SELECT t.doc_id, AVG(log10(v.n / tot.total)) AS s,
                     CAST(COUNT(*) AS BIGINT) AS n_tokens
              FROM toks t JOIN vocab v USING (tok), tot
              GROUP BY t.doc_id
            )
            SELECT doc_id, n_tokens, round(s, 6) AS lm_r
            FROM scores
            ORDER BY lm_r, doc_id
            LIMIT 20
        """,
        "data_split": """
            SELECT CASE
                     WHEN CAST(('0x' || substr(md5('split8' ||
                            COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4))
                          AS BIGINT) % 100 < 10 THEN 'test'
                     WHEN CAST(('0x' || substr(md5('split8' ||
                            COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4))
                          AS BIGINT) % 100 < 20 THEN 'val'
                     ELSE 'train'
                   END AS split,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_ids
            FROM documents
            GROUP BY split
            ORDER BY split
        """,
        "text_vocab": f"""
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT unnest(regexp_extract_all(lower(text),
                                                   '{TOKEN_REGEX}')) AS token
                  FROM documents)
            GROUP BY token
            ORDER BY n DESC, token
            LIMIT 25
        """,
        "text_lengths": f"""
            WITH t AS (
              SELECT COALESCE(len(regexp_extract_all(text,
                                                     '{TOKEN_REGEX}')), 0) AS n
              FROM documents
            )
            SELECT CASE WHEN n <= 16 THEN 'le16'
                        WHEN n <= 64 THEN 'le64'
                        WHEN n <= 256 THEN 'le256'
                        WHEN n <= 1024 THEN 'le1024'
                        WHEN n <= 4096 THEN 'le4096'
                        ELSE 'gt4096' END AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS sum_tokens,
                   CAST(MAX(n) AS BIGINT) AS max_tokens
            FROM t
            GROUP BY bucket
            ORDER BY bucket
        """,
        "emb_quantize": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
              FROM embeddings
            ), n AS (
              SELECT vec_id, ev,
                     sqrt(list_dot_product(ev, ev)) AS norm
              FROM v
            ), q AS (
              SELECT vec_id, norm,
                     CASE WHEN norm > 0 THEN
                       list_transform(ev, x ->
                         greatest(-127, least(127,
                           CAST(floor(x / norm * 127 + 0.5) AS INT))))
                     END AS qv
              FROM n
            )
            SELECT vec_id, round(norm, 6) AS norm_r,
                   CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
                   CAST(list_aggregate(qv, 'min') AS INT) AS q_min,
                   CAST(list_aggregate(qv, 'max') AS INT) AS q_max,
                   CAST(len(qv) AS INT) AS dim
            FROM q ORDER BY vec_id LIMIT 50
        """,
        "emb_dedup_keep": """
            -- SemDeDup keep-list replay: removed = the re-keyed copy of
            -- every planted pair (min-id keeper wins); kept = corpus
            -- minus removed, audited by count/sum/max
            WITH pert AS (
              SELECT vec_id,
                     CAST(embedding AS DOUBLE[]) AS v,
                     CAST(list_transform(embedding,
                            x -> CAST(x + CAST(0.01 AS FLOAT) AS FLOAT))
                          AS DOUBLE[]) AS p
              FROM embeddings WHERE vec_id % 20 = 0
            ), prs AS (
              SELECT vec_id + 1000000 AS id_b
              FROM pert
              WHERE list_dot_product(v, p)
                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(p, p)))
                    >= 0.99
            ), corpus AS (
              SELECT vec_id FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000 FROM embeddings WHERE vec_id % 20 = 0
            ), kept AS (
              SELECT vec_id FROM corpus
              WHERE vec_id NOT IN (SELECT id_b FROM prs)
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(vec_id) AS BIGINT) AS sum_kept_ids,
                   CAST(MAX(vec_id) AS BIGINT) AS max_kept_id
            FROM kept
        """,
        "emb_clusters": """
            WITH pert AS (
              SELECT vec_id,
                     CAST(embedding AS DOUBLE[]) AS v,
                     CAST(list_transform(embedding,
                            x -> CAST(x + CAST(0.01 AS FLOAT) AS FLOAT))
                          AS DOUBLE[]) AS p
              FROM embeddings WHERE vec_id % 20 = 0
            ), prs AS (
              SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
              FROM pert
              WHERE list_dot_product(v, p)
                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(p, p)))
                    >= 0.99
            )
            SELECT id_a AS vec_id, id_a AS cluster_id FROM prs
            UNION ALL
            SELECT id_b AS vec_id, id_a AS cluster_id FROM prs
            ORDER BY vec_id
        """,
        "corpus_pipeline": """
            WITH all_docs AS (
              SELECT doc_id, source, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, source, text
              FROM documents WHERE doc_id % 7 = 0
            ), keepers AS (
              SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY text
            ), deduped AS (
              SELECT a.doc_id, a.source, a.text
              FROM all_docs a JOIN keepers k ON a.doc_id = k.doc_id
            ), scored AS (
              SELECT doc_id, source, text,
                     round(
                       0.4 * least(((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                     ) / CAST(greatest(length(text), 1) AS DOUBLE)) / 0.7, 1.0)
                     + 0.3 * least((len(list_filter(
                           list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                          x -> lower(x)),
                           x -> x IN ('the','and','of','to','in','is','that','with','for','was')))
                         / CAST(greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS DOUBLE)) / 0.3, 1.0)
                     + 0.3 * (1 - least(
                           length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))
                             / CAST(greatest(length(text), 1) AS DOUBLE)
                         + length(regexp_replace(text, '[^0-9]', '', 'g'))
                             / CAST(greatest(length(text), 1) AS DOUBLE), 1.0)), 6)
                       AS quality_score
              FROM deduped
            ), kept AS (
              SELECT source,
                     len(regexp_split_to_array(trim(text), '\\s+')) AS n
              FROM scored WHERE quality_score >= 0.45
            ), chunked AS (
              SELECT source,
                     least(greatest(CAST(ceil((n - 16) / 12.0) AS BIGINT), 0) + 1,
                           CAST(floor((n - 1) / 12.0) AS BIGINT) + 1) AS k,
                     n
              FROM kept
            )
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(k) AS BIGINT) AS n_chunks,
                   CAST(SUM(list_aggregate(
                     list_transform(range(k), i -> least(16, n - i * 12)),
                     'sum')) AS BIGINT) AS chunk_words
            FROM chunked GROUP BY source ORDER BY source
        """,
        "multimodal_features": """
            WITH base AS (
              SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s
              FROM documents WHERE doc_id < 40
            ), chars AS (
              SELECT doc_id, ascii(s[i:i]) AS b
              FROM (SELECT doc_id, s, unnest(range(1, len(s)+1)) AS i
                    FROM base)
            ), magic AS (
              SELECT doc_id, m AS b
              FROM base, (SELECT unnest([137,80,78,71]) AS m)
            ), allb AS (
              SELECT doc_id, b FROM chars
              UNION ALL SELECT doc_id, b FROM magic
            ), hist AS (
              SELECT doc_id, b % 8 AS k, COUNT(*) AS c
              FROM allb GROUP BY doc_id, k
            ), top AS (
              SELECT doc_id, k,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY c DESC, k) AS rn
              FROM hist
            )
            SELECT b.doc_id, CAST(len(b.s) + 4 AS BIGINT) AS byte_len,
                   CAST(t.k AS BIGINT) AS top_bucket
            FROM base b JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
            ORDER BY b.doc_id
        """,
        "multimodal_meta": """
            SELECT source, 'image/png' AS kind, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(octet_length('\\x89PNG'::BLOB || encode(text))) AS BIGINT)
                     AS total_bytes,
                   CAST(COUNT(DISTINCT sha256(hex('\\x89PNG'::BLOB || encode(text))))
                        AS BIGINT) AS n_distinct
            FROM documents GROUP BY source
            ORDER BY source, kind
        """,
        "events_sessionize": """
            WITH flag AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN (epoch_ns(ts) // 1000000000)
                               - lag(epoch_ns(ts) // 1000000000) OVER w IS NULL
                               OR (epoch_ns(ts) // 1000000000)
                               - lag(epoch_ns(ts) // 1000000000) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id,
                     SUM(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flag
            ), per AS (
              SELECT user_id, session_id, COUNT(*) AS n_events
              FROM sess GROUP BY user_id, session_id
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(MAX(n_events) AS BIGINT) AS max_session_events
            FROM per
        """,
    }
    # the streaming variant produces the identical rows from the identical
    # planted payloads; one oracle serves both
    sql["events_asof"] = """
        -- DuckDB's NATIVE ASOF LEFT JOIN vs the engine's
        -- union-and-window construction: two independent
        -- implementations of the same semantics
        WITH ev AS (
          SELECT event_id, user_id, event_type, value,
                 epoch_ns(ts) // 1000000000 AS ts_sec
          FROM events
        ), l AS (
          SELECT event_id, user_id, ts_sec FROM ev
          WHERE event_type = 'click'
        ), r AS (
          SELECT user_id, ts_sec, MAX(value) AS pval FROM ev
          WHERE event_type = 'purchase' GROUP BY user_id, ts_sec
        )
        SELECT l.event_id, l.user_id, l.ts_sec,
               r.pval AS pval_asof, r.ts_sec AS ts_asof
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts_sec >= r.ts_sec
        ORDER BY l.event_id
    """
    sql["events_asof_fwd"] = """
        -- DuckDB's NATIVE ASOF LEFT JOIN, inequality flipped (forward:
        -- smallest right ts >= left ts) vs the engine's descending
        -- union-and-window construction
        WITH ev AS (
          SELECT event_id, user_id, event_type, value,
                 epoch_ns(ts) // 1000000000 AS ts_sec
          FROM events
        ), l AS (
          SELECT event_id, user_id, ts_sec FROM ev
          WHERE event_type = 'click'
        ), r AS (
          SELECT user_id, ts_sec, MAX(value) AS pval FROM ev
          WHERE event_type = 'purchase' GROUP BY user_id, ts_sec
        )
        SELECT l.event_id, l.user_id, l.ts_sec,
               r.pval AS pval_asof, r.ts_sec AS ts_asof
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts_sec <= r.ts_sec
        ORDER BY l.event_id
    """
    # the bucketed operator's contract IS plain-backward-asof equality,
    # so it shares events_asof's native-ASOF oracle verbatim
    sql["events_asof_bucketed"] = sql["events_asof"]
    # merged overlapping-slice sketches == the direct whole-corpus
    # sketch (KMV merge algebra) — the oracle computes the direct form
    sql["text_kmv_merge"] = (
        "WITH "
        + _SHINGLES_CTE
        + """
        , g AS (
          SELECT d.source, unnest(s.sh) AS g
          FROM s JOIN documents d USING (doc_id)
        ), h AS (
          SELECT DISTINCT source,
                 CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hv
          FROM g WHERE g IS NOT NULL
        ), r AS (
          SELECT source, hv,
                 row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
          FROM h
        ), kk AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 MAX(hv) AS kth
          FROM r WHERE rn <= 64 GROUP BY source
        )
        SELECT source, n_kept,
               CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                    ELSE CAST(63 AS DOUBLE)
                         / (CAST(kth AS DOUBLE) / POWER(2, 60))
               END AS est_distinct
        FROM kk ORDER BY source
    """
    )
    # the streaming variant merges per-micro-batch sketches of the same
    # corpus — the identical direct-sketch oracle applies
    sql["stream_kmv"] = sql["text_kmv_merge"]
    sql["events_range_join"] = """
        -- plain BETWEEN-style containment join; the engine's binned
        -- equi-join must produce identical membership
        WITH bands(band, lo, hi) AS (
          VALUES ('micro', CAST(0.0 AS DOUBLE), CAST(10.0 AS DOUBLE)),
                 ('small', CAST(10.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
                 ('medium', CAST(50.0 AS DOUBLE), CAST(200.0 AS DOUBLE)),
                 ('large', CAST(200.0 AS DOUBLE), CAST(1000.0 AS DOUBLE))
        )
        SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids
        FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        GROUP BY band ORDER BY band
    """
    sql["text_kmv"] = (
        "WITH "
        + _SHINGLES_CTE
        + """
        , g AS (
          SELECT d.source, unnest(s.sh) AS g
          FROM s JOIN documents d USING (doc_id)
        ), h AS (
          SELECT DISTINCT source,
                 CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hv
          FROM g WHERE g IS NOT NULL
        ), r AS (
          SELECT source, hv,
                 row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
          FROM h
        ), kk AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 MAX(hv) AS kth
          FROM r WHERE rn <= 64 GROUP BY source
        ), ex AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct
          FROM h GROUP BY source
        )
        SELECT ex.source, n_distinct, n_kept,
               CASE WHEN n_kept < 64 THEN CAST(n_distinct AS DOUBLE)
                    ELSE CAST(63 AS DOUBLE)
                         / (CAST(kth AS DOUBLE) / POWER(2, 60))
               END AS est_distinct
        FROM ex JOIN kk USING (source)
        ORDER BY source
    """
    )
    sql["text_kmv_est"] = (
        "WITH "
        + _SHINGLES_CTE
        + """
        , g AS (
          SELECT d.source, unnest(s.sh) AS g
          FROM s JOIN documents d USING (doc_id)
        ), h AS (
          SELECT DISTINCT source,
                 CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hv
          FROM g WHERE g IS NOT NULL
        ), r AS (
          SELECT source, hv,
                 row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
          FROM h
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
               CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE CAST(63 AS DOUBLE)
                         / (CAST(MAX(hv) AS DOUBLE) / POWER(2, 60))
               END AS est_distinct
        FROM r WHERE rn <= 64 GROUP BY source
        ORDER BY source
    """
    )
    sql["events_rollup"] = """
        -- from-scratch hourly rollup: the engine's merged-from-parts
        -- result must equal this exactly (algebraic aggregates)
        SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS bucket_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6))
                    AS VARCHAR) AS sum_value_s,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY bucket_start, event_type
        ORDER BY bucket_start, event_type
    """
    # the single-pass rollup computes exactly the from-scratch result
    # the merge demo must also reproduce — one oracle, two query shapes
    sql["events_rollup_once"] = sql["events_rollup"]
    sql["text_qsketch"] = """
        -- rebuild the deterministic bottom-64-by-md5 sample and apply
        -- the SAME spelled-out R-7 interpolation the engine computes
        -- (pos = (n-1)*q; v[lo] + (v[hi]-v[lo])*(pos-lo)) — identical
        -- float64 expression tree on both engines, so the estimates
        -- are bit-exact, unlike engine-internal quantile_cont
        -- factorizations that may drift an ulp
        WITH b AS (
          SELECT source, doc_id,
                 CAST(length(text) AS DOUBLE) AS v,
                 md5('qs' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents WHERE text IS NOT NULL
        ), r AS (
          SELECT source, v,
                 row_number() OVER (
                   PARTITION BY source ORDER BY h, doc_id) AS rn
          FROM b
        ), s AS (
          SELECT source, list(v ORDER BY v) AS vals
          FROM r WHERE rn <= 64 GROUP BY source
        ), q AS (
          SELECT source, vals, len(vals) AS n,
                 CAST(len(vals) - 1 AS DOUBLE) * 0.5 AS pos50,
                 CAST(len(vals) - 1 AS DOUBLE) * 0.9 AS pos90
          FROM s
        )
        SELECT source, CAST(n AS BIGINT) AS n_sample,
               vals[CAST(floor(pos50) AS INT) + 1]
                 + (vals[least(CAST(floor(pos50) AS INT) + 2, n)]
                    - vals[CAST(floor(pos50) AS INT) + 1])
                   * (pos50 - floor(pos50)) AS p50,
               vals[CAST(floor(pos90) AS INT) + 1]
                 + (vals[least(CAST(floor(pos90) AS INT) + 2, n)]
                    - vals[CAST(floor(pos90) AS INT) + 1])
                   * (pos90 - floor(pos90)) AS p90
        FROM q ORDER BY source
    """
    # merged partial sketches == the from-scratch sketch (bottom-k of a
    # union is the bottom-k of the union of bottom-ks) — one oracle,
    # shared by the batch merge demo AND the per-micro-batch stream
    sql["text_qsketch_merge"] = sql["text_qsketch"]
    sql["stream_qsketch"] = sql["text_qsketch"]
    sql["events_funnel"] = """
        -- earliest-completion funnel replayed as the chain of
        -- min-aggregations that DEFINES it: step i's earliest ts among
        -- its events at/after step i-1's earliest completion
        WITH e AS (
          -- NULL-ts events cannot order within a funnel: excluded on
          -- both engines (funnel_steps filters them up front)
          SELECT user_id, event_type,
                 epoch_ns(ts) // 1000000000 AS ts_sec
          FROM events WHERE ts IS NOT NULL
        ), a1 AS (
          SELECT user_id, MIN(ts_sec) AS s1
          FROM e WHERE event_type = 'view' GROUP BY user_id
        ), a2 AS (
          SELECT e.user_id, MIN(e.ts_sec) AS s2
          FROM e JOIN a1 ON e.user_id = a1.user_id AND e.ts_sec >= a1.s1
          WHERE e.event_type = 'click' GROUP BY e.user_id
        ), a3 AS (
          SELECT e.user_id, MIN(e.ts_sec) AS s3
          FROM e JOIN a2 ON e.user_id = a2.user_id AND e.ts_sec >= a2.s2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT a1.user_id AS user_id,
               CAST(1 + CASE WHEN a2.user_id IS NULL THEN 0 ELSE 1 END
                      + CASE WHEN a3.user_id IS NULL THEN 0 ELSE 1 END
                    AS BIGINT) AS max_step,
               CAST(a1.s1 AS BIGINT) AS step1_ts,
               CAST(a2.s2 AS BIGINT) AS step2_ts,
               CAST(a3.s3 AS BIGINT) AS step3_ts
        FROM a1
        LEFT JOIN a2 ON a1.user_id = a2.user_id
        LEFT JOIN a3 ON a1.user_id = a3.user_id
        ORDER BY user_id
    """
    sql["stream_multimodal"] = sql["multimodal_features"]
    # per-query independence makes micro-batched ANN exact: the streamed
    # probe's union of batch results equals the one-batch join
    sql["stream_ann"] = sql["ann_ivf_knn"]
    sql["stream_join"] = """
        -- full SQL replay of the stream-stream interval join: inner
        -- join, purchase within [view_ts, view_ts + 3600 s] per user.
        -- Compared in MICROSECONDS (epoch_ns // 1000) on both bounds
        -- and the delta: the Spark side carries timestamp_micros
        -- instants, so with legacy TIMESTAMP(NANOS) files a
        -- sub-microsecond component must not flip a boundary row in
        -- the oracle only
        WITH a AS (
          SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
          FROM events WHERE event_type = 'view'
        ), b AS (
          SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
          FROM events WHERE event_type = 'purchase'
        )
        SELECT a.user_id AS user_id, a.event_id AS view_id,
               b.event_id AS purchase_id,
               CAST((b.us - a.us) // 1000000 AS BIGINT) AS delta_s
        FROM a JOIN b ON a.user_id = b.user_id
         AND b.us >= a.us AND b.us <= a.us + 3600000000
        ORDER BY user_id, view_id, purchase_id
    """
    # the oracle's query-term set derives from the SAME constant and
    # tokenization as the Spark side — editing _BM25_QUERY cannot
    # silently desync the two
    import re as _re

    from spark_xml_spark.operators.textstats import TOKEN_REGEX as _TRX

    _bm25_terms = sorted(set(_re.findall(_TRX, _BM25_QUERY.lower())))
    _bm25_unnest = ",".join(f"'{t}'" for t in _bm25_terms)
    sql["text_bm25"] = f"""
        -- BM25 top-10 for the fixed query '{_BM25_QUERY}': Lucene idf
        -- ln((N - df + 0.5)/(df + 0.5) + 1), k1=1.2 b=0.75, per-doc
        -- token-length normalization vs the corpus average; identical
        -- operator order to the Spark expression, rounded to 6
        -- decimals before ranking, ties by doc_id
        WITH q AS (
          SELECT unnest([{_bm25_unnest}]) AS term
        ), toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                                                   '{TOKEN_REGEX}')) AS term
          FROM documents
        ), lens AS (
          SELECT doc_id,
                 COALESCE(len(regexp_extract_all(lower(text),
                                                 '{TOKEN_REGEX}')), 0)
                   AS len
          FROM documents
        ), stats AS (
          SELECT COUNT(*) AS n, AVG(len) AS avg_len FROM lens
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM toks JOIN q USING (term)
          GROUP BY doc_id, term
        ), dfq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), scored AS (
          SELECT tf.doc_id,
                 ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len
                                     / stats.avg_len)) AS s
          FROM tf
          JOIN dfq USING (term)
          JOIN lens ON tf.doc_id = lens.doc_id
          CROSS JOIN stats
        )
        SELECT doc_id, ROUND(SUM(s), 6) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 10
    """
    sql["text_tfidf"] = f"""
        -- TF-IDF top-3 per doc: corpus-wide df and N, ln-smoothed idf,
        -- score rounded to 6 decimals BEFORE ranking (cross-engine k
        -- boundary), UTF-8-byte term tiebreak (DuckDB's default string
        -- comparison is binary)
        WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                                                   '{TOKEN_REGEX}')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM toks GROUP BY doc_id, term
        ), dfq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT COUNT(DISTINCT doc_id) AS n FROM documents
        ), scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                 ROUND(tf.tf * ln((n.n + 1.0) / (dfq.df + 1)), 6) AS score
          FROM tf JOIN dfq USING (term) CROSS JOIN n
        ), ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term) AS rn
          FROM scored
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df, score
        FROM ranked WHERE rn <= 3 AND doc_id < 40
        ORDER BY doc_id, score DESC, term
    """
    sql["multimodal_audio"] = """
        -- sample stats recomputed from the planted PCM-16 clips'
        -- generative formula (s[i] = (doc_id*7 + i*13) % 65536 - 32768)
        WITH d AS (
          SELECT r.range AS did, 1 + r.range % 3 AS ch,
                 50 + r.range % 17 AS nf, 8000 + r.range AS sr
          FROM range(24) r
        ), s AS (
          SELECT did, ch, nf, sr, unnest(range(nf*ch)) AS i FROM d
        )
        SELECT did AS doc_id, CAST(sr AS INT) AS sample_rate,
               CAST(ch AS INT) AS channels, CAST(nf AS BIGINT) AS n_frames,
               CAST(SUM((did*7 + i*13) % 65536 - 32768) AS BIGINT) AS s_sum,
               CAST(MIN((did*7 + i*13) % 65536 - 32768) AS BIGINT) AS s_min,
               CAST(MAX((did*7 + i*13) % 65536 - 32768) AS BIGINT) AS s_max
        FROM s GROUP BY did, ch, nf, sr
        ORDER BY doc_id
    """
    sql["multimodal_pixels"] = """
        -- pixel stats recomputed from the planted images' generative
        -- formulas (v[i] = (doc_id*7 + i*13) % 256; GIF rows map v
        -- through pal[j] = (j, 255-j, (j*7)%256); JPEG rows (m 6/7)
        -- index v per UNIFORM 8x8 BLOCK, each contributing 64*ch equal
        -- samples — the DC-only/flat-8-quant construction is lossless,
        -- so the formula IS the decoded image): the Spark side must
        -- inflate+unfilter the PNG bytes / LZW-decode the GIF bytes /
        -- Huffman-decode+IDCT the JPEG bytes to the same integers,
        -- independent of the encoders
        WITH d AS (
          -- m = 8: the CMYK JPEG plants (did 24..31; all four channels
          -- equal v per block, exact through Adobe transform 0 AND 2)
          SELECT r.range AS did,
                 CASE WHEN r.range >= 24 THEN 8 ELSE r.range % 8 END AS m
          FROM range(32) r
        ), dims AS (
          SELECT did, m,
                 CASE WHEN m = 8 THEN 8*(1 + did % 2)
                      WHEN m = 6 THEN 8*(1 + (did//8) % 2)
                      WHEN m = 7 THEN 16*(1 + (did//8) % 2)
                      ELSE 8 + did % 5 END AS h,
                 CASE WHEN m = 8 THEN 8*(1 + did % 3)
                      WHEN m = 6 THEN 8*(1 + (did//8) % 3)
                      WHEN m = 7 THEN 16*(1 + (did//8) % 3)
                      ELSE 9 + did % 7 END AS w,
                 CASE WHEN m = 8 THEN 4
                      WHEN m = 6 THEN 1
                      WHEN m = 7 THEN 3
                      WHEN m >= 4 THEN 3
                      ELSE CASE m WHEN 0 THEN 1 WHEN 1 THEN 3
                                WHEN 2 THEN 2 ELSE 4 END
                 END AS ch
          FROM d
        ), idx AS (
          SELECT did, m, h, w, ch,
                 unnest(range(CASE WHEN m >= 6 THEN (h//8)*(w//8)
                              WHEN m >= 4 THEN h*w
                              ELSE h*w*ch END)) AS i
          FROM dims
        ), vals AS (
          SELECT did, m, w, h, ch,
                 CASE WHEN m >= 6 THEN 64*ch ELSE 1 END AS mult,
                 unnest(CASE WHEN m IN (4, 5) THEN
                          [(did*7 + i*13) % 256,
                           255 - (did*7 + i*13) % 256,
                           (((did*7 + i*13) % 256) * 7) % 256]
                        ELSE [(did*7 + i*13) % 256] END) AS pv
          FROM idx
        )
        SELECT did AS doc_id, CAST(w AS INT) AS width,
               CAST(h AS INT) AS height, CAST(ch AS INT) AS channels,
               CAST(SUM(pv * mult) AS BIGINT) AS px_sum,
               CAST(MIN(pv) AS INT) AS px_min,
               CAST(MAX(pv) AS INT) AS px_max
        FROM vals GROUP BY did, m, w, h, ch
        ORDER BY doc_id
    """
    sql["text_hash_knn"] = """
        -- hash_embed vectors rebuilt in SQL (the text_hash_embed CTEs,
        -- DOUBLE cells), then exact cosine top-4 per query doc; the
        -- fold's zero-norm semantics mirrored (query norm 0 -> 1,
        -- corpus norm 0 -> NULL cosine, NULLS LAST in the ranking)
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   x -> x <> '')) AS t
          FROM documents WHERE doc_id < 60
        ), w AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('bhe1' || t), 1, 4))
                      AS INTEGER) % 16 AS b,
                 SUM(1 - 2 * (CAST(('0x' || substr(md5('she1' || t), 1, 1))
                                   AS INTEGER) % 2)) AS wt
          FROM toks GROUP BY doc_id, b
        ), grid AS (
          SELECT d.doc_id, r.range AS i
          FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 60) d,
               range(16) r
        ), v AS (
          SELECT g.doc_id,
                 list(CAST(COALESCE(w.wt, 0) AS DOUBLE) ORDER BY g.i)
                   AS emb
          FROM grid g
          LEFT JOIN w ON w.doc_id = g.doc_id AND w.b = g.i
          GROUP BY g.doc_id
        ), q AS (
          SELECT doc_id AS q_id, emb AS qv FROM v
          WHERE doc_id IN (0, 17, 34)
        ), scored AS (
          SELECT q.q_id, v.doc_id,
                 list_dot_product(v.emb, q.qv)
                   / NULLIF(
                       sqrt(list_dot_product(v.emb, v.emb))
                       * (CASE WHEN list_dot_product(q.qv, q.qv) = 0
                               THEN 1.0
                               ELSE sqrt(list_dot_product(q.qv, q.qv))
                          END),
                       0.0) AS cosine
          FROM v, q
        ), ranked AS (
          SELECT q_id, doc_id, cosine,
                 CAST(row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY cosine DESC NULLS LAST, doc_id ASC
                 ) AS BIGINT) AS rank
          FROM scored
        )
        SELECT q_id, doc_id, round(cosine, 9) AS cosine_r, rank
        FROM ranked WHERE rank <= 4 ORDER BY q_id, rank
    """
    sql["text_group_sample"] = """
        -- the md5 ranking recomputed with ROW_NUMBER: same hash, same
        -- (hash, id) tie-break, same k cut — row-for-row equality
        WITH ranked AS (
          SELECT source, doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('gs2' || COALESCE(CAST(doc_id AS VARCHAR),
                                                  '')),
                            doc_id
                 ) AS sample_rank
          FROM documents
        )
        SELECT source, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
        FROM ranked WHERE sample_rank <= 7
        ORDER BY source, sample_rank
    """
    sql["text_hash_embed"] = """
        -- every embedding cell rebuilt from the same md5 bucket/sign
        -- construction: token t adds (1 - 2*(md5('she1'||t)[0] % 2))
        -- at bucket md5('bhe1'||t)[0:4] % 16; a doc x bucket grid
        -- left-joined against the summed weights yields the vector
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   x -> x <> '')) AS t
          FROM documents WHERE doc_id < 60
        ), w AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('bhe1' || t), 1, 4))
                      AS INTEGER) % 16 AS b,
                 SUM(1 - 2 * (CAST(('0x' || substr(md5('she1' || t), 1, 1))
                                   AS INTEGER) % 2)) AS wt
          FROM toks GROUP BY doc_id, b
        ), grid AS (
          SELECT d.doc_id, r.range AS i
          FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 60) d,
               range(16) r
        )
        SELECT g.doc_id,
               list(CAST(COALESCE(w.wt, 0) AS BIGINT) ORDER BY g.i)
                 AS embedding
        FROM grid g
        LEFT JOIN w ON w.doc_id = g.doc_id AND w.b = g.i
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """
    sql["multimodal_mp3"] = """
        -- audio header fields recomputed from the planting formula:
        -- m=0 V1L3 128kbps/44100/stereo (frame 417B, spf 1152), m=1
        -- V2L3 64kbps/22050/mono (frame 208B, spf 576), m=2 PCM-16 WAV
        -- mono at 8000+did Hz; every field integer; duration is the
        -- sample-based integer ms the frame walk yields
        WITH d AS (
          SELECT r.range AS did, r.range % 3 AS m,
                 3 + r.range % 5 AS nf
          FROM range(12) r
        )
        SELECT did AS doc_id,
               CASE WHEN m = 2 THEN 'wav' ELSE 'mp3' END AS format,
               CAST(CASE m WHEN 0 THEN 44100 WHEN 1 THEN 22050
                    ELSE 8000 + did END AS INT) AS sample_rate,
               CAST(CASE WHEN m = 0 THEN 2 ELSE 1 END AS INT) AS channels,
               CAST(CASE m WHEN 0 THEN 128 WHEN 1 THEN 64
                    ELSE NULL END AS INT) AS bitrate_kbps,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(CASE m
                    WHEN 0 THEN (nf * 1152 * 1000) // 44100
                    WHEN 1 THEN (nf * 576 * 1000) // 22050
                    ELSE (nf * 1000) // (8000 + did)
                    END AS BIGINT) AS duration_ms
        FROM d ORDER BY did
    """
    sql["text_cms"] = """
        -- full SQL replay of the count-min sketch: same md5-head cell
        -- hashing ('cms' || row || 'cm|' || token, first 8 hex chars mod
        -- 256), same sparse matrix (absent cell IS zero), same
        -- min-over-rows point estimate — bit-exact cross-engine, the
        -- property Spark's builtin murmur3 CMS cannot offer
        WITH tok AS (
          SELECT lang, t
          FROM (SELECT lang,
                       unnest(regexp_split_to_array(lower(text), '\\s+'))
                         AS t
                FROM documents WHERE text IS NOT NULL)
          WHERE t <> ''
        ), hrows AS (
          SELECT unnest([0, 1, 2]) AS r
        ), cells AS (
          SELECT lang, r,
                 CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR)
                                          || 'cm|' || t), 1, 8))
                      AS BIGINT) % 256 AS b,
                 COUNT(*) AS c
          FROM tok, hrows
          GROUP BY lang, r, b
        ), probes AS (
          SELECT unnest(['hash', 'join', 'scan', 'the', 'zzz_missing'])
            AS item
        ), pcell AS (
          SELECT item, r,
                 CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR)
                                          || 'cm|' || item), 1, 8))
                      AS BIGINT) % 256 AS b
          FROM probes, hrows
        ), langs AS (
          SELECT DISTINCT lang FROM tok
        )
        SELECT l.lang AS lang, p.item AS item,
               CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_count
        FROM langs l
        CROSS JOIN pcell p
        LEFT JOIN cells c
          ON c.lang IS NOT DISTINCT FROM l.lang
         AND c.r = p.r AND c.b = p.b
        GROUP BY l.lang, p.item
        ORDER BY lang, item
    """
    # merged disjoint partial sketches == the from-scratch sketch
    # (cells sum by linearity) — one oracle, THREE query shapes: the
    # batch merge demo and the per-micro-batch stream both reduce to it
    sql["text_cms_merge"] = sql["text_cms"]
    sql["stream_cms"] = sql["text_cms"]
    # streaming heavy hitters: candidate union == corpus distinct set and
    # merged cells == whole-corpus matrix, so the batch top-k oracle
    # applies verbatim (assigned after text_cms_topk is defined below)
    sql["text_cms_topk"] = """
        -- heavy-hitter replay: identical cell matrix (merged == from-
        -- scratch by linearity), per-DISTINCT-token min-over-rows
        -- estimate, threshold ceil(phi*N) with N the exact per-language
        -- token count (== sum(cells)/depth, which is how the Spark side
        -- recovers it from the matrix) — the SAME false positives
        -- survive on both engines, so the match is bit-exact
        WITH tok AS (
          SELECT lang, t
          FROM (SELECT lang,
                       unnest(regexp_split_to_array(lower(text), '\\s+'))
                         AS t
                FROM documents WHERE text IS NOT NULL)
          WHERE t <> ''
        ), hrows AS (
          SELECT unnest([0, 1, 2]) AS r
        ), cells AS (
          SELECT lang, r,
                 CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR)
                                          || 'cm|' || t), 1, 8))
                      AS BIGINT) % 256 AS b,
                 COUNT(*) AS c
          FROM tok, hrows
          GROUP BY lang, r, b
        ), totals AS (
          SELECT lang, COUNT(*) AS n FROM tok GROUP BY lang
        ), cand AS (
          SELECT DISTINCT lang, t AS item FROM tok
        ), pcell AS (
          SELECT lang, item, r,
                 CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR)
                                          || 'cm|' || item), 1, 8))
                      AS BIGINT) % 256 AS b
          FROM cand, hrows
        ), est AS (
          SELECT p.lang, p.item,
                 CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_count
          FROM pcell p
          LEFT JOIN cells c
            ON c.lang = p.lang AND c.r = p.r AND c.b = p.b
          GROUP BY p.lang, p.item
        )
        SELECT e.lang AS lang, e.item AS item, e.est_count AS est_count,
               CAST(t.n AS BIGINT) AS total_weight
        FROM est e JOIN totals t ON t.lang = e.lang
        -- EXACT ceil(0.02 * N) as integer ceil-division (phi = 1/50):
        -- the Spark side computes (p*N + q - 1) div q in decimal
        -- arithmetic, never a double multiply (IEEE rounding inflates
        -- a boundary bar by 1), and the replay must match bit-for-bit
        WHERE e.est_count >= (t.n + 49) // 50
        ORDER BY lang, item
    """
    sql["stream_cms_topk"] = sql["text_cms_topk"]
    sql["events_funnel_windowed"] = """
        -- per-chain-start search replayed literally: every distinct
        -- view event is a candidate start; within a start the greedy
        -- chain of min-aggregations is exact (fixed deadline s1+86400);
        -- winner per user = deepest chain, earliest start on ties
        WITH e AS (
          SELECT user_id, event_type,
                 epoch_ns(ts) // 1000000000 AS ts_sec
          FROM events WHERE ts IS NOT NULL
        ), starts AS (
          SELECT DISTINCT user_id, ts_sec AS s1
          FROM e WHERE event_type = 'view'
        ), c2 AS (
          SELECT s.user_id, s.s1, MIN(e.ts_sec) AS s2
          FROM starts s JOIN e ON e.user_id = s.user_id
           AND e.event_type = 'click'
           AND e.ts_sec >= s.s1 AND e.ts_sec <= s.s1 + 86400
          GROUP BY s.user_id, s.s1
        ), c3 AS (
          SELECT c.user_id, c.s1, MIN(e.ts_sec) AS s3
          FROM c2 c JOIN e ON e.user_id = c.user_id
           AND e.event_type = 'purchase'
           AND e.ts_sec >= c.s2 AND e.ts_sec <= c.s1 + 86400
          GROUP BY c.user_id, c.s1
        ), ch AS (
          SELECT s.user_id, s.s1, c2.s2, c3.s3,
                 1 + CASE WHEN c2.s2 IS NULL THEN 0 ELSE 1 END
                   + CASE WHEN c3.s3 IS NULL THEN 0 ELSE 1 END AS depth
          FROM starts s
          LEFT JOIN c2 ON s.user_id = c2.user_id AND s.s1 = c2.s1
          LEFT JOIN c3 ON s.user_id = c3.user_id AND s.s1 = c3.s1
        ), best AS (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY depth DESC, s1 ASC) AS rn
          FROM ch
        )
        SELECT user_id, CAST(depth AS BIGINT) AS max_step,
               CAST(s1 AS BIGINT) AS step1_ts,
               CAST(s2 AS BIGINT) AS step2_ts,
               CAST(s3 AS BIGINT) AS step3_ts
        FROM best WHERE rn = 1 ORDER BY user_id
    """
    return sql
