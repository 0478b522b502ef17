"""Physical-plan hygiene guards for flagship queries: the properties the
scale design depends on must survive refactors — broadcast dimension
joins stay broadcast, no row-at-a-time Python UDF appears in a hot path,
no cartesian products or wasted mid-plan global sorts creep in
(tools/audit_plans.py's checklist, enforced as tests on sf0.001)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    import __spark_entry__ as em

    df = em.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def push_conf(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_join_agg_broadcasts_dimensions(push_conf):
    plan = _plan(push_conf, "xml_join_agg")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle-join
    assert "CartesianProduct" not in plan


def _pair_build_plan(spark, which):
    """Executed plan of a near-dup PAIR BUILD operator — the dedup_*
    queries serve the materialize-once pair artifact (a parquet read in
    steady state), so hygiene guards must inspect the build pipeline
    itself, not the cached query."""
    from spark_xml_spark.operators import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    if which == "minhash":
        df = minhash_near_dup_pairs(
            d, "doc_id", "text", n=3, num_hashes=64, bands=32, threshold=0.8
        )
    else:
        df = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_row_python_udf_in_hot_paths(push_conf):
    # BatchEvalPython = row-at-a-time Python UDF; ArrowEvalPython /
    # mapInPandas are the only acceptable Python surfaces
    for name in ("xml_agg_q1", "text_filter_pipeline", "ann_cosine_topk"):
        assert "BatchEvalPython" not in _plan(push_conf, name), name
    for which in ("minhash", "jaccard"):
        assert "BatchEvalPython" not in _pair_build_plan(push_conf, which), which


def test_audit_checklist_on_flagships(push_conf):
    from tools.audit_plans import audit

    for name in ("xml_agg_q1", "xml_join_agg", "xml_window_rank",
                 "events_sessionize"):
        flags = audit(_plan(push_conf, name))
        assert flags == [], f"{name}: {flags}"
    flags = audit(_pair_build_plan(push_conf, "minhash"))
    assert flags == [], f"minhash build: {flags}"


def test_partial_aggregation_in_agg_q1(push_conf):
    # map-side combine must exist: partial_ aggregate below the exchange
    plan = _plan(push_conf, "xml_agg_q1")
    assert "partial_" in plan


def test_capped_collect_reuses_one_exchange(spark):
    """capped_collect's counts and gather branches must share ONE exchange
    (the banded lineage materializes once): count(id) keeps the id column
    in the counts branch so Catalyst prunes both branches identically and
    ReuseExchange fires. A regression to count(*) breaks canonical
    equality and silently doubles the bounded-buffer cap's cost."""
    from pyspark.sql import functions as F

    from spark_xml_spark.operators.dedup import capped_collect

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    banded = docs.select(
        (F.col("doc_id") % 3).alias("_band"),
        (F.col("doc_id") % 17).alias("_bh"),
        F.col("doc_id").alias("_id"),
    )
    out = capped_collect(banded, ["_band", "_bh"], "_id", "_ids", 50)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    # and under AQE (the bench configuration) the reuse survives as
    # exchange/stage reuse in the final adaptive plan
    out.collect()
    aqe_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in aqe_plan or "ReusedQueryStage" in aqe_plan


def test_simhash_single_banded_evaluation(spark):
    """The simhash PAIR BUILD must evaluate the banded lineage once: the
    counts and gather branches share one exchange (ReusedExchange). AQE
    off for a deterministic compiled plan — under AQE the same reuse
    materializes as stage reuse, asserted separately in
    test_capped_collect_reuses_one_exchange, whose rendering depends on
    runtime stage order and is flaky to string-match on a full plan.
    Asserted on the operator directly (not the dedup_simhash query,
    which now serves the materialize-once pair artifact — a plain
    parquet read in steady state)."""
    from spark_xml_spark.operators import simhash_near_dup_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3,
                                    portable=True)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in plan


def test_new_pipeline_queries_stay_codegen(push_conf):
    # round-8 operators are pure-codegen column work: no Python eval
    # node of any kind, no cartesian product may appear
    for name in ("text_repetition", "text_pii", "text_urls",
                 "emb_quantize", "corpus_pipeline", "dedup_substring"):
        plan = _plan(push_conf, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_corpus_pipeline_shuffle_budget(push_conf):
    # exact dedup (one min_by hash aggregate) + the final per-source
    # aggregate + sort + the small-input fanout repartitions (one per
    # union branch): the composed pipeline must not accrete extra
    # shuffles as stages are added — the old groupBy+semi-join dedup
    # shape cost 13 Exchanges; the single-pass min_by plan costs 5.
    # Bound rather than pin (AQE reuse can dedupe): <= 6.
    plan = _plan(push_conf, "corpus_pipeline")
    assert plan.count("Exchange") <= 6, plan.count("Exchange")
    # and the per-source aggregate must partial-aggregate map-side
    assert "partial_" in plan


def test_text_filter_pipeline_not_serialized_by_pushdown(push_conf):
    # the fanout barrier must keep the three signal mega-expressions OUT
    # of the scan stage: the filter must sit above the round-robin
    # repartition exchange, not be pushed into the FileScan's DataFilters
    plan = _plan(push_conf, "text_filter_pipeline")
    scan = plan[plan.index("FileScan"):]
    assert "lang" not in scan.split("ReadSchema")[0].split("DataFilters")[-1][:2000] or \
        "DataFilters: []" in scan[:2000]


def test_text_pack_single_exchange_no_global_window(push_conf):
    # the distributed prefix-sum must stay one range exchange + a
    # streaming Arrow carry pass: no second hash exchange (the
    # window-on-partition-id shape) and never a global-order window
    # (one task sorting the whole corpus).
    plan = _plan(push_conf, "text_pack")
    assert "Window" not in plan
    # the only corpus exchange is the range shuffle; the final scalar
    # agg's SinglePartition exchange and the small-input fan-out's
    # RoundRobin are the only others allowed — a hash exchange would
    # mean the carry pass regressed to a window/join shape
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" in plan
    assert "MapInPandas" in plan


def test_text_vocab_topk_never_global_sorts(push_conf):
    # top-k must be TakeOrderedAndProject (k rows to the driver), never a
    # full global Sort of the vocabulary; the token counting runs in the
    # r17 Arrow tokenizer (MapInArrow emitting per-batch per-term
    # partials — never a row-at-a-time BatchEvalPython), and the JVM
    # aggregate over those partials must still have a map-side partial
    # phase before its one shuffle
    plan = _plan(push_conf, "text_vocab")
    assert "TakeOrderedAndProject" in plan
    assert "MapInArrow" in plan  # vectorized tokenize+partial counts
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_two_phase_no_window_no_group_sort(push_conf):
    # kmv_distinct must be the mergeable two-phase shape: an Arrow
    # prereduce (MapInArrow — raw Arrow batches, no pandas dtype
    # round-trip that would corrupt >2^53 bigint or NaN group keys)
    # over the distinct hashes + a plain hash aggregate over the
    # bounded partials. A Window or any Sort over the hash frame means
    # the old corpus-scale row_number rank crept back (the only sort
    # allowed is the query's own final orderBy, which runs over #groups
    # rows and renders as the top-level Sort; assert on the operator
    # directly to exclude even that).
    from spark_xml_spark.operators import kmv_distinct

    d = push_conf.read.parquet(f"{SF}/documents.parquet")
    out = kmv_distinct(d, ["source"], "text", k=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Sort " not in plan and "Sort(" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan  # pandas round-trip is banned here
    assert "BatchEvalPython" not in plan


def test_asof_bucketed_exchange_budget(push_conf):
    # VERDICT r9 task 5: the skew recipe must not pay for its safety in
    # shuffles. Since the annotated pass-1 UNION (hashpartitioned on
    # key x bucket) is the persisted frame, the side filters, the
    # residual's distinct, the residual repair-join side AND the
    # side==0 rollup all reuse its clustering — budget: at most 8
    # unique Exchange nodes in the executed-plan print at sf0.001
    # (the print double-counts the cached subtree's exchanges across
    # AQE sections, so the true executed count is lower still), and
    # the right side must never shuffle for a separate rollup scan
    # (every remaining hash exchange is the user upstream dedup, the
    # pass-1 window, the bounded repair window, or the final orderBy).
    import re

    import __spark_entry__ as em

    df = em.queries()["events_asof_bucketed"](push_conf, SF)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    seen = {}
    for m in re.finditer(
        r"Exchange (hashpartitioning\([^)]*\)|\w+\([^)]*\))"
        r"[^\n]*?\[plan_id=(\d+)\]",
        plan,
    ):
        seen[m.group(2)] = m.group(1)
    assert len(seen) <= 8, sorted(seen.values())
    # distinct SHAPES (expr ids normalized): purchase dedup, pass-1
    # key x bucket window, bounded repair window, final orderBy range
    # partitioning, plus at most one broadcast for the repair join —
    # a 6th shape would mean a branch stopped reusing the cache
    shapes = {re.sub(r"#\d+L?", "", v) for v in seen.values()}
    assert len(shapes) <= 5, sorted(shapes)


def test_kmv_estimate_mode_no_global_distinct_shuffle(push_conf):
    # exact=False is the 100 TB path: NO exchange may sit below the
    # Arrow k-min prefilter (a distinct() there shuffles every
    # (group, hash) pair — corpus cardinality); the one exchange the
    # operator adds is the bounded phase-2 groupBy above it.
    plan = _plan(push_conf, "text_kmv_est")
    plan = plan.split("== Initial Plan ==")[0]
    assert "MapInArrow" in plan, plan
    assert "Window" not in plan
    below = plan[plan.index("MapInArrow"):]  # subtree under the prefilter
    assert "Exchange" not in below, below
    assert "partial_collect_list" in plan  # map-side combine in phase 2


def test_data_split_and_lengths_single_aggregate(push_conf):
    # pure-codegen bucket expressions: one hash aggregate on a handful of
    # keys, no Python surface, no join, no window
    for name in ("data_split", "text_lengths"):
        plan = _plan(push_conf, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "Join" not in plan, name
        assert "Window" not in plan, name
        assert "partial_count" in plan, name


def test_tfidf_tf_frame_persisted_single_evaluation(push_conf):
    # tfidf_top_terms' (id, term, tf) aggregate feeds TWO branches
    # (doc-freq agg + scoring join); without the scoped persist each
    # branch re-evaluates the corpus explode+shuffle (verified: 0
    # ReusedExchange). Pin: both consumers read the cache, the N total
    # enters as a broadcast (never a collect), no row-Python anywhere.
    plan = _plan(push_conf, "text_tfidf")
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_broadcast_query_and_persisted_lengths(push_conf):
    # bm25_topk: the query-term set must BROADCAST (tiny side), BOTH
    # shared frames must persist — the per-doc length frame (corpus
    # stats + scoring join) AND the tf frame (df-per-term aggregate +
    # scoring join), i.e. 4 cache reads — the result must come back via
    # TakeOrderedAndProject (k rows to the driver), no row-Python.
    plan = _plan(push_conf, "text_bm25")
    assert "BroadcastExchange" in plan
    assert plan.count("InMemoryTableScan") >= 4
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantile_sketch_single_exchange_no_python(push_conf):
    # quantile_sketch's rank window and its bounded collect_list group
    # by the SAME key, so Catalyst must reuse the window's hash
    # partitioning — exactly ONE exchange for build + collect (the O(k)
    # state claim in sketch.py depends on the collect seeing <= k rows
    # per group, which the rank filter guarantees BEFORE the agg);
    # everything stays JVM-side
    plan = _plan(push_conf, "text_qsketch")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_count_min_sketch_two_bounded_exchanges_no_python(push_conf):
    # count_min_sketch: the (group, item) pre-aggregate (r15, default
    # preaggregate=True — md5 per DISTINCT item, measured 1.8x on the
    # sf0.1 token corpus) and the (group, r, b) partial sum must BOTH
    # be map-side combinable (HashAggregate before each exchange), the
    # matrix assembly groups at most depth x width rows per group, and
    # the whole pipeline — hashing, estimate lookup — stays JVM-side
    # with no window and no driver collect
    plan = _plan(push_conf, "text_cms")
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:2000]
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exists_join_single_pass(push_conf):
    # xml_exists_join (r17): ONE left join against the per-custkey
    # orders summary answers both the EXISTS(urgent) and the
    # NOT-EXISTS(any order) counts — the customer dim is scanned and
    # shuffled once (the old semi+anti shape scanned it twice) and the
    # full-outer recombination join is gone. Exactly two XML scans
    # (customer + orders; read_xml prints each as its mapInArrow scan
    # function) and exactly one join may appear.
    plan = _plan(push_conf, "xml_exists_join")
    assert plan.count("MapInArrow xml_graft_scan") == 2, plan[:2000]
    assert "FullOuter" not in plan
    n_joins = sum(
        plan.count(j) for j in
        ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, plan[:2000]


def test_distinct_except_single_scan(push_conf):
    # xml_distinct_except (r17): the set difference is a conditional
    # aggregate over ONE customer scan — the old two-branch
    # mid.exceptAll(top) shape scanned the XML twice and paid two
    # distinct exchanges plus the exceptAll shuffle.
    plan = _plan(push_conf, "xml_distinct_except")
    assert plan.count("MapInArrow xml_graft_scan") == 1, plan[:2000]
    assert "Union" not in plan


def test_text_lm_vocab_built_once(push_conf):
    # unigram_logprob_score (r17): the vocab count frame persists via
    # the scoped-intermediate protocol and BOTH its consumers — the
    # log-prob table and the 1-row corpus total — must read the cache
    # (two InMemoryTableScans of the vocab relation, identified by its
    # _n count column; the total branch prunes _tok away, and other
    # suite fixtures may legitimately cache the source parquet, so a
    # bare InMemoryTableScan count is not stable). Without the persist
    # the total re-evaluates the whole tokenize+explode+shuffle lineage
    # (a third full corpus pass; the exchanges never canonicalize
    # equal, so ReuseExchange can't save it). The exploded token frame
    # itself must stay uncached (~10x corpus) — only the bounded vocab
    # may appear as a cache build.
    import re

    plan = _plan(push_conf, "text_lm")
    vocab_reads = re.findall(r"InMemoryTableScan \[[^\]]*_n#", plan)
    assert len(vocab_reads) == 2, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_parity_merge_demos_single_build_scan(push_conf):
    # The parity-split-then-merge demos (r17): both partial sketches /
    # rollups come from ONE corpus pass keyed by (group, doc parity) —
    # per-(group, parity) partials are bit-identical to the old
    # two-filtered-branch build, which scanned the source twice and
    # unioned. The merge operators still run (the demos' point); only
    # the build fan-in changed, so the plan must carry no Union and
    # exactly the expected number of source scans.
    for name, n_scans in (
        ("text_cms_merge", 1),
        ("text_qsketch_merge", 1),
        ("events_rollup", 1),
        ("text_cms_topk", 2),  # +1 probe side, by design
    ):
        plan = _plan(push_conf, name)
        assert plan.count("Scan parquet") == n_scans, (name, plan[:2000])
        assert "Union" not in plan, name
