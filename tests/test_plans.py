"""Plan-shape regression tests: shuffle counts, pushdown, UDF
boundaries — the 100x-scale guarantees, asserted mechanically."""

import re

import pyspark.sql.functions as F

from blackedge_ocr_spark import plans
from blackedge_ocr_spark.datagen import spansify_documents
from blackedge_ocr_spark.pipeline import extract_documents

SF = "/root/testdata/sf0.001"


def test_pipeline_is_single_shuffle(spark):
    """The extract-then-validate pipeline must shuffle exactly once —
    the explicit doc_id spread — never for the pipeline logic itself
    (ordering is in-array, assembly an in-array fold, validation
    per-row)."""
    out = extract_documents(
        spansify_documents(spark, SF), query_col="query"
    )
    assert plans.count_exchanges(out) == 1


def test_pipeline_python_boundaries_bounded(spark):
    """At most two Arrow boundaries (primary + secondary OCR); all
    other stages stay JVM-side."""
    out = extract_documents(
        spansify_documents(spark, SF), query_col="query"
    )
    assert plans.count_python_stages(out) <= 2
    # validation off folds the secondary OCR stage away entirely
    out2 = extract_documents(
        spansify_documents(spark, SF), query_col="query",
        enable_validation=False,
    )
    assert plans.count_python_stages(out2) == 1


def test_filter_pushdown_reaches_parquet_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    info = plans.scan_info(q)
    assert "doc_id" in info["pushed_filters"], info
    # column pruning: unused columns (lang, source, n_chars) not read
    assert "lang" not in info["read_schema"]


def test_problem_detector_fuses_into_one_projection(spark):
    """The 10 problem checks evaluate as ONE projection over one scan
    — not 10 passes, no shuffle. (Higher-order lambdas are codegen-
    fallback, so the guarantee is projection fusion, not WSCG.)"""
    from blackedge_ocr_spark.functions.problems import problems_array

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", problems_array(F.col("text")).alias("p"))
    assert plans.count_exchanges(q) == 0
    assert plans.count_projects(q) == 1


def test_ann_block_scoring_no_corpus_shuffle(spark):
    """Brute-force top-k scores corpus partitions in place with the
    Arrow block stage (the query matrix rides a broadcast VARIABLE,
    not a join side); the corpus shuffles only for the initial spread,
    and the final rank's input is the partition-pruned candidate set
    (parts x |Q| x ~k), never the full Q x N score matrix."""
    from blackedge_ocr_spark.analysis.ann import brute_force_topk

    q = brute_force_topk(spark, SF)
    plan = plans.formatted_plan(q)
    assert "MapInPandas" in plan, plan
    # initial REPARTITION spread + the rank window's hash exchange
    assert plans.count_exchanges(q) <= 2, plan


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed+sorted on doc_id must sort-merge join with
    ZERO exchanges (bucket-co-located), while the same join over plain
    parquet shuffles both sides — the write-once/join-many trade."""
    from blackedge_ocr_spark.datagen import spansify_documents
    from blackedge_ocr_spark.sinks import write_bucketed

    docs = spansify_documents(spark, SF)
    left = docs.select("doc_id", "query")
    right = docs.select("doc_id", F.size("spans").alias("n_spans"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(left, "bkt_left", 8)
        write_bucketed(right, "bkt_right", 8)
        j = spark.table("bkt_left").join(spark.table("bkt_right"), "doc_id")
        assert plans.count_exchanges(j) == 0, plans.formatted_plan(j)

        # control: identical join over unbucketed parquet shuffles
        plain = left.join(right.withColumnRenamed("n_spans", "m"), "doc_id")
        assert plans.count_exchanges(plain) >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_doc_chunks_zero_semantic_shuffle(spark):
    """Chunking is a pure projection + explode: the only exchange is
    the shared scan-spread repartition, never chunking logic."""
    from blackedge_ocr_spark.queries import q_doc_chunks

    assert plans.count_exchanges(q_doc_chunks(spark, SF)) <= 1


def test_span_packing_no_new_exchange_over_distributed_frame(spark):
    """The packing window must reuse the spansify frame's doc_id hash
    distribution (local sort only): total exchanges = the scan spread
    + the final (doc_id, seq_id) agg — nothing for the window."""
    from blackedge_ocr_spark.analysis.corpusops import span_packing

    out = span_packing(spansify_documents(spark, SF))
    assert plans.count_exchanges(out) <= 2


def test_corpus_shuffle_no_python_and_bounded_shuffles(spark):
    """Distributed rank = bucketed window + tiny offsets branch; only
    two O(n) exchanges (scan spread + (shard,bucket) window), the
    rest touch 65536-row aggregates."""
    from blackedge_ocr_spark.queries import q_corpus_shuffle

    out = q_corpus_shuffle(spark, SF)
    p = plans.formatted_plan(out)
    c = plans.plan_counts(p)
    assert c["python_stages"] == 0
    assert c["exchanges"] <= 5
    # the offsets side must broadcast, not shuffle-join
    assert "BroadcastHashJoin" in p


def test_lang_rebalance_corpus_never_shuffle_joined(spark):
    """The language histogram joins back by BROADCAST; the corpus
    side must not shuffle for the join."""
    from blackedge_ocr_spark.queries import q_lang_rebalance

    p = plans.formatted_plan(q_lang_rebalance(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_top_terms_plans_as_take_ordered(spark):
    """The global top-K must plan as TakeOrderedAndProject (per-
    partition heaps, O(K) merge) — not a global Sort + Limit."""
    from blackedge_ocr_spark.queries import q_top_terms

    p = plans.formatted_plan(q_top_terms(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_bpe_pairs_two_combinable_aggs_no_python(spark):
    """Pair counting must be two hash aggs (word, then pair) with a
    TakeOrderedAndProject top-K — no global sort, no Python stage,
    and pair generation over the DISTINCT-word table only."""
    from blackedge_ocr_spark.queries import q_bpe_pairs

    df = q_bpe_pairs(spark, SF)
    assert plans.count_python_stages(df) == 0
    p = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in p
    # word agg + pair agg (+ the starvation-gate spread at test SF)
    assert plans.count_exchanges(df) <= 3


def test_data_split_and_mixture_zero_corpus_shuffle(spark):
    """Split manifest and mixture weights: the corpus contributes one
    combinable agg each; the share/weight denominators are scalar
    windows over the tiny agg output, never a second corpus pass."""
    from blackedge_ocr_spark.queries import q_data_split, q_mixture_weights

    for df in (q_data_split(spark, SF), q_mixture_weights(spark, SF)):
        assert plans.count_python_stages(df) == 0
        # spread gate + one agg exchange + tiny single-partition
        # window exchange over <=|splits| / |sources| rows
        assert plans.count_exchanges(df) <= 4
        assert df.count() > 0


def test_doc_features_single_fused_projection(spark):
    """The feature table must stay ONE zero-shuffle projection over
    the pruned scan — no joins between the constituent operators, no
    Python stage, no exchange beyond the starvation-gate spread."""
    from blackedge_ocr_spark.queries import q_doc_features

    df = q_doc_features(spark, SF)
    assert plans.count_python_stages(df) == 0
    assert plans.count_exchanges(df) <= 1  # the spread gate only


def test_curation_funnel_hash_agg_no_joinback(spark):
    """The funnel's keeper flags ride the packed-long min inside the
    dedup HashAggregate itself: no join back on the content hash, no
    window, and no SortAggregate (min(struct) would force one — a
    per-partition sort of the full corpus). Exchanges: two starvation
    spreads + the groupBy(h) + the scalar funnel agg."""
    from blackedge_ocr_spark.queries import q_curation_funnel

    df = q_curation_funnel(spark, SF)
    p = plans.formatted_plan(df)
    assert plans.count_python_stages(df) == 0
    assert "SortAggregate" not in p and "Join" not in p
    assert plans.count_exchanges(df) <= 4


def test_boilerplate_strip_hot_set_broadcasts(spark):
    """The filtered boilerplate set (high-DF lines only) must come
    back as a BROADCAST join against the exploded lines — the corpus
    never shuffles on the line hash for the flagging step."""
    from blackedge_ocr_spark.queries import q_boilerplate_strip

    df = q_boilerplate_strip(spark, SF)
    p = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in p
    assert plans.count_python_stages(df) == 0


def test_gopher_rules_zero_shuffle_one_projection(spark):
    """All seven Gopher rules must evaluate as ONE fused projection
    over the scan — no exchange, no Python, no join: the cheapest
    possible first-pass corpus gate at 100 TB. Asserted on the raw
    scan (the query wrapper adds only the shared split-starvation
    spread)."""
    from blackedge_ocr_spark.analysis.textstats import gopher_rules

    df = gopher_rules(spark.read.parquet(f"{SF}/documents.parquet"))
    p = plans.formatted_plan(df)
    assert plans.count_exchanges(df) == 0
    assert plans.count_python_stages(df) == 0
    assert "Join" not in p
    assert plans.count_projects(df) == 1


def test_ccnet_threshold_table_broadcasts(spark):
    """The per-language tercile threshold table (|langs| rows) must
    come back as a BROADCAST join, and the rank window must run only
    on the keep/16 hash sample: at most one Sort beyond the windows'
    own (the lm_scores doc_id merge join) — never a full-corpus
    per-language sort for the thresholds."""
    import re

    from blackedge_ocr_spark.analysis.textstats import ccnet_buckets

    df = ccnet_buckets(spark.read.parquet(f"{SF}/documents.parquet"))
    p = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in p
    assert plans.count_python_stages(df) == 0
    sorts = len(re.findall(r"\(\d+\) Sort\b", p))
    windows = len(re.findall(r"\(\d+\) Window\b", p))
    assert windows >= 1 and sorts <= windows + 2, (sorts, windows)


def test_c4_filters_zero_shuffle_one_projection(spark):
    """The whole C4 line+page battery must evaluate as ONE fused
    projection over the scan — no exchange, no Python, no join: the
    same first-pass-gate discipline as gopher_rules."""
    from blackedge_ocr_spark.analysis.scrub import c4_filters

    df = c4_filters(spark.read.parquet(f"{SF}/documents.parquet"))
    p = plans.formatted_plan(df)
    assert plans.count_exchanges(df) == 0
    assert plans.count_python_stages(df) == 0
    assert "Join" not in p
    assert plans.count_projects(df) == 1


def test_c4_span_dedup_hash_aggs_no_window(spark):
    """The global span keeper must plan as hash aggregation on the
    packed (doc_id, pos) long — never a Window or SortAggregate over
    the span hash, which would sort every copy of a hot boilerplate
    span inside one task. Hash exchanges only: keeper min, deletion
    distinct, final per-doc agg."""
    import re

    from blackedge_ocr_spark.analysis.scrub import c4_span_dedup

    df = c4_span_dedup(spark.read.parquet(f"{SF}/documents.parquet"))
    p = plans.formatted_plan(df)
    assert plans.count_python_stages(df) == 0
    assert "Window" not in p
    assert "SortAggregate" not in p
    # collect_list's ObjectHashAggregate is hash-based; anything else
    # aggregating must be a plain HashAggregate
    assert re.search(r"\(\d+\) (ObjectHash|Hash)Aggregate", p)
    assert plans.count_exchanges(df) <= 3


def test_unicode_scrub_one_arrow_stage_zero_shuffle(spark):
    """The hygiene pass must be a fused JVM regex projection feeding
    EXACTLY ONE ArrowEvalPython (the NFC map — the only step Spark
    lacks a built-in for): zero exchange, no join."""
    from blackedge_ocr_spark.analysis.scrub import unicode_scrub

    df = unicode_scrub(spark.read.parquet(f"{SF}/documents.parquet"))
    p = plans.formatted_plan(df)
    assert plans.count_exchanges(df) == 0
    assert plans.count_python_stages(df) == 1
    assert "Join" not in p


def test_span_integrity_zero_shuffle_in_array(spark):
    """The span-contract audit must ride the scan: all checks and the
    repair are in-array expressions — zero exchange beyond what the
    input already has, zero Python, no join, no window."""
    from blackedge_ocr_spark.analysis.corpusops import span_integrity
    from blackedge_ocr_spark.datagen import spansify_frame

    base = spark.read.parquet(f"{SF}/documents.parquet")
    df = span_integrity(spansify_frame(base))
    p = plans.formatted_plan(df)
    assert plans.count_exchanges(df) == 0
    assert plans.count_python_stages(df) == 0
    assert "Join" not in p
    assert "Window" not in p


def test_gopher_repetition_zero_shuffle_in_array(spark):
    """The A1.2 repetition battery must ride the scan: unit stats,
    top-gram argmax and coverage folds are all in-array — zero
    exchange, zero Python, no join, no window."""
    from blackedge_ocr_spark.analysis.textstats import gopher_repetition

    base = spark.read.parquet(f"{SF}/documents.parquet")
    df = gopher_repetition(base)
    p = plans.formatted_plan(df)
    assert plans.count_exchanges(df) == 0
    assert plans.count_python_stages(df) == 0
    assert "Join" not in p
    assert "Window" not in p


def test_no_unpartitioned_windows_in_tiny_window_queries(spark):
    """Repo convention: no window runs with an empty partition spec —
    provably tiny domains (the |langs|, |splits| and |sources| totals)
    carry a constant non-foldable key instead, so the
    `WindowExec: No Partition Defined` WARN channel stays clean for
    catching genuinely unbounded global windows."""
    import __spark_entry__ as se

    qs = se.queries()
    for name in ("mixture_weights", "lang_rebalance", "data_split"):
        df = qs[name](spark, SF)
        bad = plans.unpartitioned_window_specs(df)
        assert bad == [], (name, bad)


def _checkpoint_batch(spark):
    """One ``run_with_checkpoint`` batch over the segmented HTML corpus:
    its bucket filter, then the flagship extraction."""
    from blackedge_ocr_spark.lineage import with_bucket
    from blackedge_ocr_spark.segmentation import (
        htmlify_documents,
        segment_documents,
    )

    seg = segment_documents(htmlify_documents(spark, SF))
    part = with_bucket(seg, 4).filter(F.col("part_id").isin([0, 1]))
    return extract_documents(part.drop("part_id"), query_col=None)


def test_bucket_filter_reaches_scan_below_segmentation(spark):
    """A checkpoint batch parses only its own buckets: the bucket
    predicate lands in the scan's DataFilters, under the segmentation
    ArrowEvalPython, instead of over the parse's output."""
    plan = plans.simple_plan(_checkpoint_batch(spark))
    lines = plan.splitlines()
    seg = next(i for i, ln in enumerate(lines)
               if "ArrowEvalPython [_segment(" in ln)
    scan = next(i for i, ln in enumerate(lines) if "FileScan parquet" in ln)
    assert seg < scan, plan
    data_filters = re.search(r"DataFilters: \[(.*?)\], Format", lines[scan])
    assert data_filters and "xxhash64(cast(doc_id" in data_filters.group(1), (
        lines[scan])
    assert "xxhash64" not in "\n".join(lines[:seg]), plan


def test_segmented_ocr_args_stay_attributes(spark):
    """The staged media arrays reach the OCR UDF as attributes: a
    segmentation UDF the optimizer could inline (a scalar pandas_udf)
    folds them in as ``array_sort(pythonUDF…)``, re-sorted per span."""
    plan = plans.formatted_plan(_checkpoint_batch(spark))
    assert "array_sort(pythonUDF" not in plan


def test_segmented_frame_one_task_per_core(spark):
    """A single-file corpus is widened to one task per core, not 4×:
    each Python task pays a fixed worker set-up."""
    from blackedge_ocr_spark.segmentation import (
        htmlify_documents,
        segment_documents,
    )

    par = spark.sparkContext.defaultParallelism
    assert spark.read.parquet(f"{SF}/documents.parquet").rdd.getNumPartitions() == 1
    seg = segment_documents(htmlify_documents(spark, SF))
    assert seg.rdd.getNumPartitions() == par
