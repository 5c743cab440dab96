package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Automated plan assertions — the scale contract, checked per build:
  * filters/projections reach the parquet scan, joins pick the intended
  * physical strategy, aggregations are map-side partial, and the hot
  * paths stay inside whole-stage codegen. These are the properties that
  * decide whether a plan survives a 100× scale-up, so they are checked
  * here on every test run rather than by reading `.explain` output.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(FormattedMode)
  }

  test("scans push filters and prune columns (F3/S1 — parquet pushdown)") {
    val p = plan("f3_equi_filter")
    assert(p.contains("PushedFilters: ["), "equi-filter did not reach the parquet scan")
    assert(!p.contains("PushedFilters: []"), "pushed-filter list is empty")
    val proj = plan("s1_scan_project")
    // the documents table carries text+media columns; a projecting scan
    // must not read them
    assert(proj.contains("ReadSchema"), "no parquet read schema recorded")
    assert(!proj.contains("o_comment"), "column pruning failed: unprojected column read")
  }

  test("semi-join lookup plans a hash semi-join, never a cartesian (J2)") {
    val p = plan("j2_semi_join_lookup")
    assert(p.contains("LeftSemi"), "expected a left-semi join")
    assert(!p.contains("CartesianProduct"), "cartesian product in an equi-join plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in an equi-join plan")
  }

  test("acyclic FK closure: semi-joins against pinned key sets (J1)") {
    val p = plan("j1_fk_closure")
    assert(p.contains("LeftSemi"))
    // r20: each closure level's distinct-key set is PINNED (lazy
    // localCheckpoint → ExistingRDD leaves). The former fully-lazy
    // single plan bet on ReuseExchange deduplicating the shared chain
    // prefix across the count fan-out's branches; measured on the
    // executed (post-AQE) plan that reuse never fired, and every
    // branch re-scanned the chain (15 scans, lineitem read 5×). With
    // pinned keys each table appears ONCE per consumer: the 5-table
    // count fan-out plans exactly 5 parquet scans (formatted explain
    // prints each scan node twice — tree + details).
    assert(p.contains("ExistingRDD"),
      "closure key sets are no longer pinned — the count fan-out will re-scan the chain")
    // count DISTINCT scan NODES via their formatted-explain operator ids
    // ("(n) Scan parquet") rather than raw substring hits — the details
    // section repeats each node, and that print quirk must not be the
    // contract (ADVICE r20)
    val scanNodes = raw"\((\d+)\) Scan parquet".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanNodes.size <= 5,
      s"count fan-out re-scans the closure chain: ${scanNodes.size} scan nodes")
    assert(!p.contains("CartesianProduct"))
  }

  test("aggregations are map-side partial and codegen'd (Q1/G1)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "no partial aggregation: map-side combine missing")
    assert(p.contains("partial_"), "no partial_ aggregate functions in the map stage")
    // AQE finalizes the physical plan only on execution; collect() runs
    // this exact queryExecution, after which codegen'd operators render
    // with a "*(n)" stage marker in the final plan
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), "AQE plan did not finalize")
    assert(finalPlan.contains("*("), "aggregation fell out of whole-stage codegen")
  }

  test("salted join stays an equi-join; brute-force ANN broadcasts the query side") {
    val p = plan("j5_salted_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "salted join degenerated to a non-equi strategy")
    val ann = plan("x_ann_bruteforce")
    assert(ann.contains("BroadcastNestedLoopJoin") || ann.contains("BroadcastExchange"),
      "brute-force ANN should broadcast the small query side")
  }

  test("date filter over a partitioned layout prunes partitions (F6)") {
    val df = SparkEntry.queries("f6_partition_pruned")(spark, sfDir)
    val p = df.queryExecution.explainString(FormattedMode)
    // the day filter must land in PartitionFilters (directory pruning),
    // not merely in the row-level data filters
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(p).isDefined,
      s"day filter did not reach PartitionFilters:\n$p")
    assert(df.collect().nonEmpty)
  }

  test("bucketed co-located join runs with zero shuffles (J6)") {
    // the j6 query writes both sides bucketed on the join key, then
    // joins AND aggregates on that key — the executed plan must carry
    // no shuffle exchange: the one shuffle was paid at write time
    // (a BroadcastExchange is allowed — at tiny SF Catalyst broadcasts
    // the dim side, which is also shuffle-free)
    val df = SparkEntry.queries("j6_bucketed_join")(spark, sfDir)
    assert(df.collect().nonEmpty)
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      s"bucketed join/agg still shuffles:\n$finalPlan")
    assert(finalPlan.contains("Bucketed: true"), "scan did not use the bucket layout")

    // with broadcast off (the 100 TB shape: both sides too big), the
    // same query must run bucket-to-bucket SMJ with NO Exchange at all
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val smj = SparkEntry.queries("j6_bucketed_join")(spark, sfDir)
      assert(smj.collect().nonEmpty)
      val p = smj.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed SMJ still exchanges:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("CRC64 streams per-group: shuffle on the group key, no collect_list buffer (G4)") {
    val p = plan("g4_crc64")
    assert(!p.contains("collect_list"),
      "CRC64 gathers whole statement streams into one aggregation buffer")
    assert(p.contains("hashpartitioning") && p.contains("MapPartitions"),
      "CRC64 fold is not a hash-repartitioned streaming mapPartitions")
  }

  test("dedup and near-dup joins shuffle on derived keys, no cross joins") {
    for (name <- Seq("x_minhash_lsh", "x_simhash", "x_embed_near_dup_lsh",
        "x_ngram_jaccard", "x_semantic_dedup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("semantic dedup pair join keys carry the shard salt — no cell-count parallelism ceiling") {
    // at scale both sides are too big to broadcast; the pair join must
    // then shuffle on (cell, shard-block) keys at full parallelism, not
    // on a k-cell repartition whose active-partition count is capped at
    // the centroid count
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("x_semantic_dedup")
      assert("hashpartitioning\\(cell#\\d+, bi#\\d+, bj#\\d+".r.findFirstIn(p).isDefined,
        s"pair join is not keyed by cell + shard block:\n$p")
      assert(!"REPARTITION_BY_COL".r.findFirstIn(p).isDefined,
        s"explicit repartition reappeared — that is the k-partition ceiling:\n$p")
      assert(!p.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("vocab top-k plans TakeOrderedAndProject, never a global sort") {
    for (name <- Seq("x_vocab_top_tokens", "x_bpe_merge_pairs")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name should top-k per partition and merge k rows on the driver")
      assert(!p.contains("rangepartitioning"),
        s"$name globally sorts the vocabulary before the limit")
    }
  }

  test("stratified sampling is a pure narrow filter — zero exchanges") {
    val p = plan("x_stratified_sample")
    assert(!p.contains("Exchange"),
      "hash-rate sampling must not shuffle: every executor decides from the row alone")
  }

  test("split assignment is a pure narrow expression — zero exchanges") {
    val p = plan("x_split_assign")
    assert(!p.contains("Exchange"),
      "holdout labels must be a per-row hash: a shuffle would mean split " +
        "assignment needs coordination, breaking O(shard) incremental labeling")
  }

  test("source cap: one group-key shuffle, global total broadcast — corpus never joined wide") {
    val p = plan("x_source_cap")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row total must broadcast back onto the corpus")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus must not wide-join against a single aggregate row")
    val windows = "Window".r.findAllIn(p).length
    assert(windows >= 1, "per-group rank missing")
  }

  test("mixture rebalancing broadcasts its tiny rate table, never sort-merges the corpus") {
    val p = plan("x_corpus_mixture")
    assert(p.contains("BroadcastHashJoin"), "per-stratum rates should broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled against a handful of rate rows")
  }

  test("epoch mixing broadcasts its rate table and explodes narrowly — no corpus shuffle") {
    val p = plan("x_epoch_mixture")
    assert(p.contains("BroadcastHashJoin"), "per-stratum repeat factors should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled against a handful of rate rows")
    assert(p.contains("Generate"), "epoch copies must come from a narrow explode")
  }

  test("context-window chunking is a pure narrow explode — zero exchanges") {
    val p = plan("x_chunk_documents")
    assert(!p.contains("Exchange"),
      "chunking must not shuffle: tokenize, offset grid, slice — all per-row")
  }

  test("budget select: cumsum over the bucket table only, corpus verdict broadcast-joined") {
    val p = plan("x_budget_select")
    assert(p.contains("BroadcastHashJoin"), "per-bucket rates should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus sort-merged against a ≤1001-row rate table")
    // the single-partition window is the BUCKET cumsum (bounded rows by
    // construction); the corpus itself must never range-partition — a
    // corpus-wide quality sort would appear as rangepartitioning
    assert(!p.contains("rangepartitioning"),
      "corpus globally sorted — the quality-cumsum anti-pattern")
  }

  test("line dedup: equi-joins on line keys, never a cartesian; ordered rebuild is in-group") {
    val p = plan("x_line_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "line dedup must join on the line key")
    assert(!p.contains("rangepartitioning"),
      "per-doc rebuild must sort within groups (array_sort), not globally")
  }

  test("pipeline capstone v4 composes only scale-safe shapes") {
    // scrub → gate → span decontamination → cluster dedup → temperature
    // mix → budget curation → chunking: all equi-joins and narrow ops.
    // SinglePartition IS permitted here — it is budget-select's cumsum
    // over the ≤1001-row bucket table (bounded by construction), not a
    // corpus funnel; the corpus itself must stay cartesian-free and
    // never range-partition (no global sort).
    val (df, cached) = graft.queries.OpsQueries.pipelineV4Parts(spark, sfDir)
    try {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct"), "capstone v4 plans a cartesian")
      assert(!p.contains("rangepartitioning"), "capstone v4 sorts globally")
    } finally cached.foreach(_.unpersist())
  }

  test("pipeline capstone v5 composes only scale-safe shapes") {
    // scrub → gate → span decontamination → quality-rep cluster dedup →
    // global rank → cut → chunking + rank join-back. The rank stage's
    // range shuffle is pinned inside globalRank's checkpoint, so the
    // final plan must stay cartesian-free with NO corpus-wide window
    // funnel: the only Window nodes permitted are the per-cluster
    // argmax (partitioned by cluster_id) — never an empty partitionBy.
    val (df, cached) = graft.queries.OpsQueries.pipelineV5Parts(spark, sfDir)
    try {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct"), "capstone v5 plans a cartesian")
      assert(!p.contains("SinglePartition"), "capstone v5 funnels the corpus through one partition")
    } finally cached.foreach(_.unpersist())
  }

  test("sequence packing is one shard shuffle + parallel windows, no global sort") {
    val p = plan("x_sequence_pack")
    // exactly one exchange (the shard hash partitioning); a global
    // cumulative sum would appear as a rangepartitioning / singlepartition
    // exchange that serializes the corpus through one task
    assert(p.contains("hashpartitioning"), "packing lost its shard shuffle")
    assert(!p.contains("rangepartitioning"), "packing sorts globally — single-partition bottleneck")
    assert(!p.contains("SinglePartition"), "packing funnels through one partition")
  }

  test("pipeline capstone v2 composes only scale-safe shapes") {
    // scrub → gate → decontaminate → cluster-dedup → sample → pack in
    // one plan: no cartesian anywhere, and the terminal packing stage
    // keeps its per-shard windows (no global sort / single partition).
    // Inspect the LAZY builder — the queries entry materializes the
    // result eagerly to bound the gated cache's lifecycle, so its plan
    // is just the checkpointed scan.
    val p = graft.queries.OpsQueries
      .pipelineCorpusV2(spark, sfDir, gatedReuse = "lazy")
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), "capstone v2 plans a cartesian")
    assert(!p.contains("rangepartitioning"), "capstone v2 sorts globally")
    assert(!p.contains("SinglePartition"), "capstone v2 funnels through one partition")
  }

  test("pipeline capstone v3 composes only scale-safe shapes") {
    // v2's prefix plus the semantic stage: the SemDeDup block join is an
    // equi-join on (cell, bi, bj) and the drop anti-join an equi-join on
    // doc_id, so the composed plan must stay cartesian-free and never
    // funnel through a global sort or single partition. Inspect the
    // parts builder (the queries entry returns a checkpointed scan) and
    // release its cached frames afterwards.
    val (df, cached) = graft.queries.OpsQueries
      .pipelineV3Parts(spark, sfDir, semanticExactUnion = false)
    try {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct"), "capstone v3 plans a cartesian")
      assert(!p.contains("rangepartitioning"), "capstone v3 sorts globally")
      assert(!p.contains("SinglePartition"), "capstone v3 funnels through one partition")
    } finally cached.foreach(_.unpersist())
  }

  test("incremental near-dup joins stay equi-joins touching the batch only") {
    val p = plan("x_incremental_near_dup_precision")
    assert(!p.contains("CartesianProduct"), "incremental near-dup plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "incremental near-dup plans a nested loop")
  }

  test("precision-union pins the gram arrays once and prefixes rarest-first") {
    // r14 adjudication: relying on AQE ReuseExchange here was
    // nondeterministic (5.96 vs 339.8 CPU-s on the same binary), so the
    // gram arrays are now localCheckpoint-pinned — the plan must read
    // the pinned blocks (ExistingRDD), never recompute the gram subplan
    val p = plan("x_minhash_lsh_precision")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ExistingRDD"),
      "gram arrays not pinned — consumers would recompute the gram subplan")
    // r16: the dfOrder prefix frame and the minhash signatures are ALSO
    // pinned (the r15 driver sweep caught a 455 CPU-s recompute mode
    // when only the gram arrays were) — so the hot-demote Window now
    // executes inside a checkpointed subplan and the final plan reads
    // its blocks. Assert the ordering machinery on the UNPINNED prefix
    // plan directly, and the pinning on the query's final plan.
    import org.apache.spark.sql.functions.col
    val grams = graft.ops.Dedup.docGramArrays(
      Tables.documents(spark, sfDir), "doc_id", col("text"), 3)
    val prefixPlan = graft.ops.Dedup
      .ppjoinCandidates(grams, 0.8, maxDocFreq = 0L, dfOrder = true)
      .queryExecution.executedPlan.toString
    assert(prefixPlan.contains("Window"),
      "df-order prefix ordering missing — lexical prefixes fan out on hot grams")
    val df = SparkEntry.queries("x_minhash_lsh_precision")(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), "AQE plan did not finalize")
  }

  test("global rank: range-partitioned, no window, no single-partition exchange") {
    // the textbook row_number() plan would show Window + Exchange
    // SinglePartition — the 100 TB serialization this op exists to avoid
    val p = plan("x_curriculum_rank")
    assert(!p.contains("Window"), "global rank fell back to a window")
    assert(!p.contains("SinglePartition"), "global rank serialized through one partition")
    // the range shuffle lives inside the pinned (localCheckpoint'ed)
    // subplan — the final plan reads its blocks (ExistingRDD) and joins
    // the ≤P-row offset table broadcast; rank correctness across
    // partitionings is OpsSpec's job
    assert(p.contains("ExistingRDD"), "pinned range assignment missing from the plan")
    assert(p.contains("BroadcastHashJoin"), "offset table join must broadcast")
  }

  test("as-of join: one key shuffle + carry-forward window, never a theta-join explosion") {
    val p = plan("j7_asof_join")
    assert(!p.contains("CartesianProduct"), "as-of planned a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "as-of planned a nested loop")
    assert(p.contains("Window"), "carry-forward window missing")
    assert(!p.contains("SinglePartition"), "as-of window serialized through one partition")
  }

  test("range join binned to an equi-join — no nested loop, no cartesian") {
    val p = plan("j8_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join fell back to a nested loop — binning regressed")
    assert(!p.contains("CartesianProduct"))
  }

  test("bm25 top-k: TakeOrdered final, broadcast stats, no cartesian") {
    val p = plan("x_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k planned as a global sort")
    assert(!p.contains("CartesianProduct"), "cartesian in the bm25 plan")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "corpus stats / dfreq not broadcast")
  }

  test("per-doc metric queries are pure narrow scans — zero exchanges") {
    // the whole point of the HOF formulations: a per-doc metric must
    // never shuffle (the corpus-join complements are separate queries)
    for (q <- Seq("x_quality_logit", "x_top_ngram_char_frac",
        "x_dup_line_metrics", "x_repetition_ratio", "x_quality_score",
        "x_gopher_filter", "x_lang_id", "x_token_count", "x_c4_filter")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles — narrow metric regressed")
    }
  }

  test("indexed bm25: query-term IN filter reaches the postings parquet scan") {
    // the inverted-index behavior, via layout + pushdown: steady-state
    // retrieval must read the query's postings rows, not the corpus
    val p = plan("x_bm25_topk_indexed")
    assert(p.contains("PushedFilters: [In(token"),
      "term filter not pushed into the postings scan")
    assert(p.contains("TakeOrderedAndProject"), "top-k planned as a global sort")
  }
}
