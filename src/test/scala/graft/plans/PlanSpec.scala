package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan-regression suite: pins the physical-plan invariants the scale
  * story depends on (broadcasts, pushdown, pruning, exchange counts,
  * top-k execution). A correctness-green query whose plan silently
  * degrades (broadcast → shuffle join, lost pushdown, extra exchange)
  * is a 100 TB regression the oracle can never catch — these specs
  * catch it at build time.
  *
  * AQE is disabled inside this suite so the STATIC planner output is
  * pinned — deterministic regardless of runtime stats; AQE can only
  * improve on it at runtime (it never adds exchanges).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df: DataFrame = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def shuffles(p: SparkPlan) =
    p.collect { case e: ShuffleExchangeExec => e }

  private def scans(p: SparkPlan) =
    p.collect { case f: FileSourceScanExec => f }

  /** A broadcast subtree is BOUNDED iff its row count provably does
    * not grow with the corpus: it is a literal table, a grouping-less
    * (scalar, one-row) aggregate, or an aggregate over scans filtered
    * by a pushed literal IN-list (≤ |list| groups). A broadcast of a
    * vocabulary- or doc-count-sized relation fails all three — the
    * 100 TB OOM pattern this sweep exists to forbid. */
  private def boundedBroadcast(b: SparkPlan): Boolean = {
    val hasLocal = b.collectFirst { case l: LocalTableScanExec => l }.isDefined
    val scalarAgg = b.collectFirst {
      case a: HashAggregateExec if a.groupingExpressions.isEmpty => a
      case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => a
    }.isDefined
    val fileScans = b.collect { case f: FileSourceScanExec => f }
    val inFilteredAgg = fileScans.nonEmpty &&
      fileScans.forall(_.metadata.get("PushedFilters").exists(_.contains("In("))) &&
      b.collectFirst { case a: HashAggregateExec => a }.isDefined
    hasLocal || scalarAgg || inFilteredAgg
  }

  private def assertBoundedBroadcasts(p: SparkPlan, name: String): Unit = {
    val bes = p.collect { case b: BroadcastExchangeExec => b }
    bes.foreach(b => assert(boundedBroadcast(b),
      s"$name broadcasts a relation whose size grows with the corpus:\n$b"))
  }

  test("q05: every join is broadcast; the only shuffle is the final agg") {
    val p = plan("q05_regional_revenue")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    val smj = p.collect { case j: SortMergeJoinExec => j }
    val shj = p.collect { case j: ShuffledHashJoinExec => j }
    assert(bhj.length === 5, s"expected 5 broadcast joins:\n$p")
    assert(smj.isEmpty && shj.isEmpty, s"no shuffle joins expected:\n$p")
    assert(shuffles(p).length === 1, s"only the groupBy(n_name) shuffle:\n$p")
  }

  test("q04: explicit broadcast(part) stays a broadcast join") {
    val p = plan("q04_broadcast_join")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length === 1,
      s"part must broadcast:\n$p")
    assert(shuffles(p).length === 1, s"only the agg shuffle:\n$p")
  }

  test("q02: filters pushed to the parquet scan; columns pruned") {
    val p = plan("q02_filter_project")
    val Seq(scan) = scans(p)
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_quantity"),
      s"range + quantity predicates must reach the scan, got: $pushed")
    // 4 projected columns + the filter column — nothing else off disk
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"))
  }

  test("q06: pushdown + pruning on the scalar-aggregate scan") {
    val p = plan("q06_forecast_revenue")
    val Seq(scan) = scans(p)
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount")
      && pushed.contains("l_quantity"),
      s"all three predicates must reach the scan, got: $pushed")
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"))
  }

  test("q12: global sort+limit executes as TakeOrderedAndProject, no full sort") {
    val p = plan("q12_topk_orders")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"expected TakeOrderedAndProject:\n$p")
    assert(p.collect { case s: SortExec => s }.isEmpty,
      s"no full SortExec for a limited sort:\n$p")
  }

  test("q01: two-phase hash aggregation (map-side partial, one shuffle)") {
    val p = plan("q01_pricing_summary")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.length === 2, s"partial + final HashAggregate:\n$p")
    assert(shuffles(p).length === 1, s"one shuffle on the group keys:\n$p")
  }

  test("q47: native as-of join — one exec, no union, bounded exchanges") {
    val p = plan("q47_asof_native")
    assert(p.collect { case a: AsOfJoinExec => a }.length === 1,
      s"expected the native AsOfJoinExec:\n$p")
    assert(p.collect { case u: UnionExec => u }.isEmpty,
      s"native path must not union:\n$p")
    // right side: one shuffle for the clicks pre-agg + one co-partitioning
    // shuffle per join side = 3 total; anything more is a regression
    assert(shuffles(p).length <= 3, s"at most 3 exchanges:\n$p")
  }

  test("q59: multikey+tolerance as-of joins on the full composite key") {
    val p = plan("q59_asof_multikey")
    val Seq(asof) = p.collect { case a: AsOfJoinExec => a }
    assert(asof.leftKeys.length === 2, "composite (user, day) key")
    assert(asof.tolerance === Some(600000000L))
    assert(p.collect { case u: UnionExec => u }.isEmpty)
    assert(shuffles(p).length <= 3, s"at most 3 exchanges:\n$p")
  }

  test("q39: LSH near-dup never degenerates to a cross join") {
    val p = plan("q39_cosine_neardup")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product:\n$p")
    assert(p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"no nested-loop join:\n$p")
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.exists(_.length >= 2),
      s"self-join must be an equi-join on (band, bucket):\n$p")
  }

  test("q40: bounded-heap top-k keeps map-side partial aggregation") {
    val p = plan("q40_cosine_topk_heap")
    val objAggs = p.collect { case a: ObjectHashAggregateExec => a }
    assert(objAggs.length === 2,
      s"partial + final ObjectHashAggregate for the typed UDAF:\n$p")
  }

  test("q54: refined-bucket near-dup stays an equi-join, no cross join") {
    val p = plan("q54_neardup_skewcap")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product:\n$p")
    assert(p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"no nested-loop join:\n$p")
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.exists(_.length >= 2),
      s"self-join must be an equi-join on (band, refined bucket):\n$p")
  }

  test("q60: IVF search joins are broadcast-only; no cartesian, no nested loop") {
    val p = plan("q60_ivf_topk")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, s"$p")
    // centroid arrays and probes attach via broadcast nested loop (the
    // one-row cross joins) or broadcast hash join — never a shuffled or
    // cartesian join of the candidate side
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"candidate side must never shuffle for a join:\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"probe join must be a broadcast hash join:\n$p")
  }

  test("q63: range join executes as a bucket equi-join, never a nested loop") {
    val p = plan("q63_range_join")
    assert(p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"no nested-loop join:\n$p")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, s"$p")
    val equi = p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(equi.length === 1, s"exactly one bucket equi-join:\n$p")
  }

  test("q61/q62: document scans prune to (doc_id, text) only") {
    for (name <- Seq("q61_winnow_fingerprints", "q62_bpe_token_stats")) {
      val Seq(scan) = scans(plan(name))
      assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
        s"$name reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
    }
  }

  test("q67/q70: per-row curation ops never shuffle; scans prune") {
    val p67 = plan("q67_split_shards")
    assert(shuffles(p67).isEmpty, s"split/shard is pure per-row arithmetic:\n$p67")
    val Seq(scan67) = scans(p67)
    assert(scan67.requiredSchema.fieldNames.toSet === Set("doc_id"),
      s"q67 needs only doc_id off disk: ${scan67.requiredSchema.fieldNames.toSeq}")

    val p70 = plan("q70_pii_redact")
    assert(shuffles(p70).isEmpty, s"redaction is pure per-row regex work:\n$p70")
    val Seq(scan70) = scans(p70)
    assert(scan70.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"q70 reads more than it projects: ${scan70.requiredSchema.fieldNames.toSeq}")
  }

  test("q68: contamination joins the benchmark set by broadcast, never shuffled") {
    val p = plan("q68_contamination")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length === 1,
      s"the gram join must broadcast the benchmark set:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"corpus grams must never shuffle for the join:\n$p")
    // benchmark-gram distinct + final per-doc agg — nothing else
    assert(shuffles(p).length <= 2, s"at most 2 exchanges:\n$p")
  }

  test("q69: hamming near-dup never cross-joins; expansion joins broadcast the value pairs") {
    val p = plan("q69_simhash_neardup")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product:\n$p")
    assert(p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"no nested-loop join:\n$p")
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.exists(_.length >= 2),
      s"banded self-join must be an equi-join on (band, band-bits):\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"doc expansion must broadcast the value-pair set:\n$p")
  }

  test("q73: chunk windows never shuffle; scan prunes to (doc_id, text)") {
    val p = plan("q73_chunk_windows")
    assert(shuffles(p).isEmpty, s"chunking is pure per-row work:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"q73 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q74: corpus mix broadcasts its aggregates; the corpus never shuffles for a join") {
    val p = plan("q74_corpus_mix")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"per-source counts and the one-row total must broadcast:\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"counts join must be a broadcast hash join:\n$p")
  }

  test("q72: stratified sample shuffles once — the stratum partition") {
    val p = plan("q72_stratified_sample")
    assert(shuffles(p).length === 1,
      s"both windows share the lang partitioning — one exchange:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "lang"),
      s"q72 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q75: fuzzy matching is a blocked equi-join in name space — no cartesian") {
    val p = plan("q75_fuzzy_names")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"edit distance must only run on block-mates:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("p_name"),
      s"only the name column comes off disk: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q76: sparse cosine joins postings on the gram key — no cartesian, no nested loop") {
    val p = plan("q76_sparse_cosine")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"candidates must come from the inverted index only:\n$p")
    // the inverted index is the durable TextIndex artifact: every scan
    // is the bucketed postings table (no documents re-tokenize), each
    // pruned to the columns it uses — the df subtree reads g alone
    assert(scans(p).nonEmpty && scans(p).forall(
      _.relation.bucketSpec.isDefined),
      s"q76 must read only the bucketed postings artifact:\n$p")
    assert(scans(p).exists(_.requiredSchema.fieldNames.toSet == Set("g")),
      s"df's subtree must prune the postings scan to g alone:\n$p")
    // the zero-exchange contract: the g-keyed df aggregate and the
    // tf⋈df idf join run on the bucket partitioning; the ONLY
    // shuffle is the (doc_a, doc_b) pair aggregate, and the pair
    // explode itself sits exchange-free on a g-keyed HashAggregate
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length <= 2,
      s"expected at most the pair aggregate + norms shuffles:\n$p")
  }

  test("q77: the bloom bitmap filters the probe BELOW the exact semi join") {
    val p = plan("q77_bloom_semi")
    // the bitmap attaches as a scalar-subquery filter, never a join —
    // a join-shaped attach is reorderable above the semi join
    assert(p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty &&
      p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"bitmap must attach as a filter, not a join:\n$p")
    val semis = p.collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
      case j: SortMergeJoinExec if j.joinType.sql == "LEFT SEMI" => j
      case j: ShuffledHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.length === 1, s"exactly one exact semi join:\n$p")
    // the probe (left) subtree must contain the bloom test, so the semi
    // join — and at scale its exchange — sees only prefiltered rows
    val probeHasBloom = semis.head.children.head.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("element_at")
      case _ => false
    }
    assert(probeHasBloom,
      s"bloom prefilter must sit on the semi join's probe side:\n$p")
  }

  test("q78: the LM table broadcasts; scoring adds no join shuffle") {
    val p = plan("q78_bigram_lm")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length === 1,
      s"the vocabulary-bounded LM must broadcast:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"corpus bigrams must never shuffle for the LM join:\n$p")
    // LM count agg + final per-doc agg
    assert(shuffles(p).length <= 2, s"at most 2 exchanges:\n$p")
  }

  test("q79: source cap shuffles once — the per-source window partition") {
    val p = plan("q79_source_cap")
    assert(shuffles(p).length === 1, s"one window exchange:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "source"),
      s"q79 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q81: vocabulary top-k executes as TakeOrderedAndProject after a partial agg") {
    val p = plan("q81_vocab_topk")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.length === 1,
      s"top-k must never be a global sort:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"token counting must partially aggregate map-side:\n$p")
    // the rank window runs over the k surviving rows, after the limit
    assert(shuffles(p).length <= 2, s"agg + (at most) the k-row window:\n$p")
  }

  test("q82: packing shuffles once — the per-shard window partition") {
    val p = plan("q82_greedy_pack")
    assert(shuffles(p).length === 1, s"one window exchange:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"q82 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q83: substring dedup stays keyed by the window hash — no cartesian") {
    val p = plan("q83_substring_dedup")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"window df join must be an equi-join on the hash:\n$p")
    assert(scans(p).nonEmpty && scans(p).forall(
      _.requiredSchema.fieldNames.toSet == Set("doc_id", "text")),
      s"q83 reads more than it projects:\n$p")
  }

  test("q80: z-order key is pure per-row arithmetic — zero shuffles") {
    val p = plan("q80_zorder")
    assert(shuffles(p).isEmpty, s"no exchange in a clustering-key projection:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("p_partkey", "p_size", "p_retailprice"),
      s"q80 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q99: hilbert key is pure per-row arithmetic — zero shuffles, pruned scan") {
    val p = plan("q99_hilbert")
    assert(shuffles(p).isEmpty, s"no exchange in a clustering-key projection:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("p_partkey", "p_size", "p_retailprice"),
      s"q99 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q87: incremental dedup joins only on (band, band_key) — no cartesian") {
    val p = plan("q87_incremental_dedup")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"new×corpus candidates must come from the band index only:\n$p")
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.exists(_.length >= 2),
      s"the candidate join must key on (band, band_key):\n$p")
  }

  test("q35: the vocabulary-sized idf table attaches by shuffle_hash, never broadcast") {
    val p = plan("q35_tfidf_topterms")
    // df grows with the corpus (Heaps' law): broadcasting it is a
    // guaranteed OOM at 100× — the only allowed broadcast is the
    // one-row corpus-size aggregate
    assert(p.collect { case j: ShuffledHashJoinExec => j }.length === 1,
      s"idf join must be a shuffled hash join:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no broadcast of the vocabulary-sized idf table:\n$p")
    val loops = p.collect { case n: BroadcastNestedLoopJoinExec => n }
    assert(loops.length <= 1, s"only the one-row corpus-size attach may loop:\n$p")
  }

  test("q85: the count-min sketch attaches by broadcast; counting partially aggregates") {
    val p = plan("q85_countmin_freq")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"the one-row sketch must broadcast, not cartesian:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"nothing in the sketch attach may shuffle a join:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"cell counting must combine map-side:\n$p")
  }

  test("q86: attribution is one equi-join keyed on the user — no cartesian, no nested loop") {
    val p = plan("q86_attribution")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"the time-range predicate must ride an equi-join, not a loop:\n$p")
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.nonEmpty && equiJoins.forall(_.nonEmpty),
      s"the join must key on user_id:\n$p")
  }

  test("q88: OLS sufficient statistics aggregate in one pass — partial agg, one exchange") {
    val p = plan("q88_linear_fit")
    assert(shuffles(p).length === 1, s"one data pass, one exchange:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"the statistics must combine map-side:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_returnflag", "l_quantity", "l_extendedprice"),
      s"q88 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q84: resize is pure per-row work — zero shuffles, pruned scan") {
    val p = plan("q84_resize")
    assert(shuffles(p).isEmpty, s"no exchange in a per-row resize:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"q84 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q89: semantic dedup pairs only within a cell — equi-join on centroid_id, no cartesian") {
    val p = plan("q89_semantic_dedup")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product:\n$p")
    // the only nested-loop joins allowed are the one-row broadcast
    // centroid-array attaches (operators/Ivf.assign), same as q60
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.nonEmpty && equiJoins.exists(_.nonEmpty),
      s"the pair join must key on centroid_id:\n$p")
  }

  test("q90: BM25 broadcasts only bounded relations; the term IN-list reaches the postings scan") {
    val p = plan("q90_bm25")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product:\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"the literal query table must broadcast into the postings:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"postings must never shuffle for a join:\n$p")
    // the one-row corpus-stats frame may attach as a broadcast loop;
    // anything bigger looping is a regression
    val loops = p.collect { case n: BroadcastNestedLoopJoinExec => n }
    assert(loops.length <= 1, s"only the one-row stats attach may loop:\n$p")
    // postings come from the durable bucketed TextIndex artifact — the
    // per-query re-tokenize is gone — and the query-term IN-list
    // pushes into the scan, so df aggregates over ≤5 terms
    val postScans = scans(p).filter(_.relation.bucketSpec.isDefined)
    assert(postScans.nonEmpty,
      s"postings must read the bucketed TextIndex artifact:\n$p")
    assert(postScans.forall(_.metadata("PushedFilters").contains("In(")),
      s"the term IN-list must push into every postings scan:\n$p")
    // the round-11 weak mark: NOTHING vocabulary- or doc-count-sized
    // may broadcast — df is term-filtered, dl rides denormalized
    assertBoundedBroadcasts(p, "q90")
  }

  test("q91: cohort retention scans only (user_id, ts); joins stay keyed") {
    val p = plan("q91_cohort_retention")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"cohort attach must be an equi-join on user_id:\n$p")
    assert(scans(p).nonEmpty && scans(p).forall(
      _.requiredSchema.fieldNames.toSet == Set("user_id", "ts")),
      s"q91 reads more than it projects:\n$p")
  }

  test("q92: every funnel stage joins on user_id; scan prunes to three columns") {
    val p = plan("q92_funnel")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"stage gating must ride user_id equi-joins:\n$p")
    // pruning may drop ts entirely on the count-only stage — every scan
    // must read AT MOST the three used columns
    assert(scans(p).nonEmpty && scans(p).forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("user_id", "event_type", "ts"))),
      s"q92 reads more than it projects:\n$p")
  }

  test("q93: gap-fill joins the spine by key+hour; scan prunes to three columns") {
    val p = plan("q93_gapfill")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"spine join must be an equi-join on (event_type, hour):\n$p")
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.exists(_.length >= 2),
      s"spine join keys on (event_type, hour_bucket):\n$p")
    // the spine branch prunes value away — every scan reads AT MOST
    // the three used columns
    assert(scans(p).nonEmpty && scans(p).forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("event_type", "ts", "value"))),
      s"q93 reads more than it projects:\n$p")
  }

  test("q94: every PageRank iteration is a keyed equi-join — no cartesian, no loop") {
    val p = plan("q94_pagerank")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"rank propagation must never loop or cross-join:\n$p")
    val equiJoins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equiJoins.nonEmpty && equiJoins.forall(_.nonEmpty),
      s"all joins key on a vertex id:\n$p")
    // the rank table is vertex-sized (grows with the corpus): a
    // broadcast would collect it to the driver every iteration — the
    // 100× OOM. Pin: NO broadcast of any vertex-derived side; all
    // three iterations run as shuffled hash joins.
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no vertex-derived side may broadcast:\n$p")
    assert(p.collect { case j: ShuffledHashJoinExec => j }.length >= 3,
      s"each iteration is a shuffled hash join of edges with ranks:\n$p")
    assertBucketedEdgeSide(p, minScans = 3)
    // the degree window consumes the bucket partitioning exchange-free
    val wins = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, s"expected the degree window:\n$p")
    wins.foreach { w =>
      assert(w.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"degree window must sit on the bucketed scan, no exchange:\n$w")
    }
  }

  /** The shared-layout contract (q94/q123/q157): every shuffled hash
    * join has a PURE edge side — a child that reads the bucketed
    * layout table with no nested join and NO shuffle exchange, i.e.
    * the edge corpus never moves; only the vertex side shuffles. */
  private def assertBucketedEdgeSide(p: SparkPlan, minScans: Int): Unit = {
    val bucketScans = scans(p).filter(_.relation.bucketSpec.isDefined)
    assert(bucketScans.length >= minScans,
      s"expected >= $minScans bucketed layout scans:\n$p")
    val shjs = p.collect { case j: ShuffledHashJoinExec => j }
    val withEdgeSide = shjs.filter(_.children.exists { c =>
      val hasBucket = c.exists {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case _ => false
      }
      val hasJoin = c.exists {
        case _: ShuffledHashJoinExec | _: SortMergeJoinExec
           | _: BroadcastHashJoinExec => true
        case _ => false
      }
      hasBucket && !hasJoin &&
        c.collect { case e: ShuffleExchangeExec => e }.isEmpty
    })
    assert(withEdgeSide.nonEmpty,
      s"at least one join must consume the bucketed scan exchange-free:\n$p")
  }

  test("q123: adjacency joins shuffle — no vertex-sized broadcast anywhere") {
    val p = plan("q123_triangle_census")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian product:\n$p")
    // the adjacency and degree-cap tables grow with the corpus:
    // broadcasting either is a driver-side collect that dies at 100×.
    // Pin: both closure joins (proj⋈adj on u, proj⋈adj on v) AND the
    // cap semi-join on the bucketed pair table are shuffled hash
    // joins; the only broadcast-side joins left are the one-row
    // census aggregates (BroadcastNestedLoopJoin of single-row
    // frames — bounded).
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no vertex-sized side may broadcast:\n$p")
    assert(p.collect { case j: ShuffledHashJoinExec => j }.length === 3,
      s"closure joins + the cap join must all shuffle-hash:\n$p")
    // the shared-layout contract: the pair scan is bucketed and the
    // cap join consumes it with NO shuffle exchange on either side
    // (both sides carry the bucket partitioning)
    val bucketScans = scans(p).filter(_.relation.bucketSpec.isDefined)
    assert(bucketScans.nonEmpty, s"expected the bucketed pair scan:\n$p")
    val capJoin = p.collect { case j: ShuffledHashJoinExec => j }
      .find(_.exists {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case _ => false
      })
    assert(capJoin.isDefined, s"bucketed scan must feed the cap join:\n$p")
    assert(capJoin.get.collect {
      case e: ShuffleExchangeExec => e
    }.isEmpty, s"no exchange may sit above the bucketed pair scan:\n$p")
  }

  test("q95: BPE pair counting joins nothing; top-k is TakeOrderedAndProject") {
    val p = plan("q95_bpe_merge")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case c: CartesianProductExec => c
      case n: BroadcastNestedLoopJoinExec => n
    }.isEmpty, s"vocab → pairs → counts is join-free:\n$p")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.length === 1,
      s"top-20 must never be a global sort:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"pair counting must combine map-side:\n$p")
  }

  test("q97: transition matrix — user window + matrix agg, join-free, pruned scan") {
    val p = plan("q97_event_transitions")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case c: CartesianProductExec => c
      case n: BroadcastNestedLoopJoinExec => n
    }.isEmpty, s"lag + two windows + one agg — no joins:\n$p")
    assert(shuffles(p).length <= 3,
      s"user window, matrix agg, matrix window — at most 3 exchanges:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("user_id", "ts", "event_id", "event_type"),
      s"q97 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q98: priority sample executes as TakeOrderedAndProject; scan prunes") {
    val p = plan("q98_priority_sample")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.length === 1,
      s"the k-smallest-priorities sample must never globally sort the corpus:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "source", "n_chars"),
      s"q98 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q100/q101/q102: cube partial-aggregates; unpivot and ranks shuffle once") {
    val p100 = plan("q100_cube")
    val aggs = p100.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"cube must combine map-side:\n$p100")
    val p101 = plan("q101_unpivot")
    assert(shuffles(p101).length === 1,
      s"melt runs over the aggregate — one corpus exchange:\n$p101")
    val p102 = plan("q102_rank_family")
    assert(shuffles(p102).length === 1,
      s"all four rank functions share one window exchange:\n$p102")
  }

  test("q103: classification is map-side — broadcast centroids, no shuffled join") {
    val p = plan("q103_centroid_classify")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the corpus must never shuffle for a join:\n$p")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, s"$p")
  }

  test("q105: islands share one user partitioning — windows + agg, join-free") {
    val p = plan("q105_scd2_islands")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case c: CartesianProductExec => c
      case n: BroadcastNestedLoopJoinExec => n
    }.isEmpty, s"lag + cumsum + agg — no joins:\n$p")
    assert(shuffles(p).length === 1,
      s"both windows and the island agg share the user_id exchange:\n$p")
  }

  test("q106: quality cut never sorts the corpus; threshold broadcasts back") {
    val p = plan("q106_quality_cut")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"the one-row threshold must broadcast:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the corpus never shuffles for a join:\n$p")
    // corpus-sized sorts are forbidden — the only SortExec allowed is
    // the cumulative window over the tiny histogram
    val sorts = p.collect { case s: SortExec => s }
    assert(sorts.forall(!_.global) || sorts.length <= 1,
      s"no global corpus sort:\n$p")
  }

  test("q107: covariance folds in the typed aggregator — partial buffers, no corpus explode") {
    // the fold itself is materialized behind a localCheckpoint in the
    // query, so pin its plan by building the same aggregate directly:
    // partial + final ObjectHashAggregate, one flat buffer per
    // partition, no Generate anywhere near the corpus
    val normed = graft.Tables.load(spark, sf, "embeddings")
      .select(graft.functions.VecMath.quantize(org.apache.spark.sql.functions.col("embedding")).as("qv"))
    val covUdaf = org.apache.spark.sql.functions.udaf(
      new graft.functions.CovMatrixAggregator(64), graft.functions.CovMatrix.inputEncoder)
    val aggPlan = normed.agg(covUdaf(org.apache.spark.sql.functions.col("qv")))
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val objAggs = aggPlan.collect { case a: ObjectHashAggregateExec => a }
    assert(objAggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"cross products must combine map-side in the typed buffer:\n$aggPlan")
    assert(aggPlan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
      s"the corpus must never explode:\n$aggPlan")
    // the downstream unflatten joins only broadcast — never shuffle
    val p = plan("q107_embedding_covariance")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the 2080-row index and 64-row dim sums must broadcast:\n$p")
  }

  test("q108: both sides pre-aggregate before the full outer join") {
    val p = plan("q108_full_outer")
    val outer = p.collect {
      case j: SortMergeJoinExec if j.joinType.sql == "FULL OUTER" => j
      case j: ShuffledHashJoinExec if j.joinType.sql == "FULL OUTER" => j
    }
    assert(outer.length === 1, s"exactly one full outer join:\n$p")
    // each join child subtree must contain its aggregate — the shrink
    // happens before the join, never after
    outer.head.children.foreach { side =>
      assert(side.exists { case _: HashAggregateExec => true; case _ => false },
        s"join inputs must be the aggregates:\n$p")
    }
  }

  test("q110: outlier test runs inside one projection — no corpus explode, no join shuffle") {
    val p = plan("q110_outlier_dims")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the 64-row stats array must broadcast:\n$p")
    // the corpus side must NOT explode 64× — the HOF aggregate runs
    // per row; the only Generate allowed is in the stats subtree
    val gens = p.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.length <= 1, s"only the stats build may posexplode:\n$p")
  }

  test("q111: NOT IN plans as a null-aware anti join, not a per-row subquery") {
    val p = plan("q111_not_in")
    val naaj = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.isNullAwareAntiJoin => j
    }
    assert(naaj.nonEmpty,
      s"single-column NOT IN must use the null-aware anti join:\n$p")
  }

  test("q115/q117: calibration stats broadcast back — no shuffled joins") {
    for (name <- Seq("q115_winsorize", "q117_mad_outliers")) {
      val p = plan(name)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
        p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
        s"$name: per-source stats must broadcast:\n$p")
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$name: expected broadcast stats attach:\n$p")
      scans(p).foreach(scan =>
        assert(scan.requiredSchema.fieldNames.toSet === Set("source", "n_chars"),
          s"$name scan must prune to (source, n_chars): ${scan.requiredSchema.fieldNames.toSeq}"))
    }
  }

  test("q116: token counting combines map-side; the per-source fold is vocabulary-sized") {
    val p = plan("q116_lexical_diversity")
    assert(shuffles(p).length === 2,
      s"(source, tok) count + source fold only:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"token counts must combine map-side:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("source", "text"),
      s"q116 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q118: change-log compaction limits before the exchange; one full outer merge") {
    val p = plan("q118_cdc_upsert")
    val outer = p.collect {
      case j: SortMergeJoinExec if j.joinType.sql == "FULL OUTER" => j
      case j: ShuffledHashJoinExec if j.joinType.sql == "FULL OUTER" => j
    }
    assert(outer.length === 1, s"exactly one full outer merge join:\n$p")
    // rn = 1 must push a WindowGroupLimit BELOW each side's exchange
    // (partial top-1 per key map-side — the log never shuffles whole)
    val limits = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.length === 4,
      s"both sides need partial+final WindowGroupLimit:\n$p")
    assert(shuffles(p).length === 2,
      s"one keyed exchange per side, reused by the merge join:\n$p")
  }

  test("q119: no global sort — rank window shuffles by source, knots combine partially") {
    val p = plan("q119_quantile_norm")
    // two exchanges: the per-source rank window (hash) and the knot
    // aggregate's partial→final combine (SinglePartition, but its input
    // is one percentile buffer per partition — never corpus rows)
    val (single, hash) = shuffles(p)
      .partition(_.outputPartitioning.toString.contains("SinglePartition"))
    assert(hash.length === 1 && single.length <= 1,
      s"rank window + at most the knot combine:\n$p")
    single.foreach(ex => assert(ex.child.exists {
      case a: ObjectHashAggregateExec =>
        a.aggregateExpressions.exists(_.mode.toString == "Partial")
      case _ => false
    }, s"the single-partition exchange must carry partial percentile buffers:\n$p"))
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the knot array must broadcast:\n$p")
  }

  test("q120: anchors broadcast; the only shuffle is the (query, role) ranking window") {
    val p = plan("q120_hard_negatives")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty &&
      p.collect { case j: CartesianProductExec => j }.isEmpty,
      s"anchor attach must broadcast:\n$p")
    assert(shuffles(p).length === 1, s"one ranking-window exchange:\n$p")
  }

  test("q121: local skylines run bucket-parallel; only survivors hit the global window") {
    val p = plan("q121_skyline")
    val ex = shuffles(p)
    assert(ex.length === 2, s"bucket window + survivor window:\n$p")
    val Seq(local, global) = ex.sortBy(_.outputPartitioning.toString.contains("SinglePartition"))
    assert(!local.outputPartitioning.toString.contains("SinglePartition"),
      s"phase 1 must hash-partition by bucket:\n$p")
    assert(global.outputPartitioning.toString.contains("SinglePartition"),
      s"phase 2 is the survivor-only single partition:\n$p")
    // the single-partition exchange's input subtree must contain the
    // phase-1 filter (i.e. it consumes survivors, not the corpus scan)
    assert(global.child.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("best_prev")
      case _ => false
    }, s"global window must consume phase-1 survivors:\n$p")
  }

  test("q126: motif top-15 executes as TakeOrderedAndProject over one user window") {
    val p = plan("q126_motif_mining")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"limit 15 must never global-sort:\n$p")
    assert(shuffles(p).length <= 2, s"user window + motif agg only:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("user_id", "event_type", "ts", "event_id"),
      s"q126 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q125: pair join is an equi join on tok in distinct space — no cartesian") {
    val p = plan("q125_source_overlap")
    assert(p.collect { case j: CartesianProductExec => j }.isEmpty &&
      p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"overlap must join on tok, never cross:\n$p")
    // the pair join keys on tok (broadcast at tiny SF, shuffled at
    // scale — both are the equi join) and the distinct vocabulary
    // shrink must sit BELOW it on both sides
    val tokJoins = p.collect {
      case j: BroadcastHashJoinExec if j.leftKeys.exists(_.toString.contains("tok")) => j
      case j: SortMergeJoinExec if j.leftKeys.exists(_.toString.contains("tok")) => j
      case j: ShuffledHashJoinExec if j.leftKeys.exists(_.toString.contains("tok")) => j
    }
    assert(tokJoins.nonEmpty, s"expected an equi join keyed on tok:\n$p")
    tokJoins.head.children.foreach(side =>
      assert(side.exists {
        case a: HashAggregateExec =>
          a.groupingExpressions.exists(_.toString.contains("tok"))
        case _ => false
      }, s"distinct must run before the pair join:\n$p"))
  }

  test("q307/q299 consume the published pair-graph artifact, not a re-derivation") {
    // round-14 regression guard: q299's derivation (tokenize explode +
    // df join + prefix-rank window + verify joins) lives in the
    // PairGraph BUILD; the registered queries read the published
    // parquet. A window or generate in either plan means someone
    // reverted to per-query re-derivation — the double-pay the
    // artifact exists to retire.
    Seq("q307_exact_dedup_groups", "q299_prefix_jaccard_join").foreach { n =>
      val p = plan(n)
      assert(p.collect { case w: WindowExec => w }.isEmpty,
        s"$n must read PairGraph's artifact (prefix-rank window found)")
      assert(p.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.isEmpty, s"$n must not re-tokenize (generate found)")
    }
  }

  /** Shrink test of the unpartitioned-window sweep: does a shrinking
    * node (aggregate or limit) sit on `p`'s streamed lineage?
    * ReusedExchangeExec is a leaf whose referenced exchange holds the
    * real subtree (exchange reuse would otherwise HIDE the shrinking
    * aggregate, as it does in q180) — recurse through it. Walk only
    * the NON-BROADCAST lineage: an aggregate/limit on a broadcast
    * branch (a one-row stats attach feeding the window via a join)
    * must NOT attest the frame as shrunk — the corpus branch could
    * still reach the window unaggregated, which is exactly the
    * scale-killer the sweep exists to catch. Broadcast subtrees are
    * pruned (return false) so only the streamed lineage can attest. */
  private def shrunk(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec => true
    case _: ObjectHashAggregateExec => true
    case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
    case _: TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    case _: org.apache.spark.sql.execution.LocalLimitExec => true
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      shrunk(r.child)
    case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
      false
    case n => n.children.exists(shrunk)
  }

  /** ONE static plan per registered query, shared by both global
    * sweeps: (name, has a CartesianProductExec, has an unpartitioned
    * WindowExec with no shrinking node beneath it). Only names and
    * booleans are kept — no plan outlives its row — so the checkpoint
    * blocks a plan references are never pinned by the sweep. */
  private lazy val registrySweep: Seq[(String, Boolean, Boolean)] =
    SparkEntry.allQueries.map { q =>
      val p = plan(q.name)
      (q.name,
        p.collect { case j: CartesianProductExec => j }.nonEmpty,
        p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !shrunk(w.child) => w
        }.nonEmpty)
    }

  test("global sweep: no unbounded cartesian product in ANY registered query plan") {
    // CartesianProductExec is the catastrophic plan shape (m×n rows
    // with no broadcast bound) — assert it appears in none of the
    // registered queries' static plans. Broadcast nested-loop joins
    // (one-row stats attaches, bounded by the broadcast side) are
    // allowed; true cartesians are not.
    val offenders = registrySweep.collect { case (n, true, _) => n }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("global sweep: no unpartitioned WindowExec over a corpus-derived frame") {
    // An unpartitioned window whose input is raw corpus rows is THE
    // classic scale-killer: one task sorts everything (q232's round-7
    // shape before its two-phase rewrite). An unpartitioned window is
    // acceptable ONLY when its input frame was already shrunk below
    // corpus size — an aggregate (value-/bucket-space table) or a
    // limit sits between the window and every scan ([[shrunk]]). Sweep
    // every registered query's static plan; any WindowExec with an
    // empty partitionSpec must have a shrinking node beneath it, or be
    // on the explicit whitelist with a justification.
    // Justified sites where the shrink is not visible as a plan node
    // beneath the window (each audited by hand):
    val whitelist: Map[String, String] = Map(
      // q121 phase 2 re-windows the UNION OF LOCAL SKYLINES — the
      // shrink is the phase-1 dominance FILTER (a random 2-D skyline
      // keeps O(log n) rows per bucket), which no plan-node class can
      // attest; the corpus window is the partitioned phase-1 one.
      "q121_skyline" -> "phase-2 input is phase-1 local-skyline survivors"
    )
    val offenders = registrySweep.collect {
      case (n, _, true) if !whitelist.contains(n) => n
    }
    assert(offenders.isEmpty,
      s"unpartitioned corpus-frame windows in: $offenders")
  }

  test("q259: zero Exchange above the bucketed edge scan; only the vertex side shuffles") {
    // The shared-edge-corpus layout demo: the pair list is written as
    // a bucketed table CLUSTERED BY customer key, so (1) the
    // per-customer degree aggregate and (2) the edge side of the
    // customer join both consume the bucketed scan with NO exchange —
    // the at-scale contract that the edge corpus shuffles once at
    // ingest, never per query. (Building the plan performs the
    // bucketed write — the layout investment is part of the query.)
    val p = plan("q259_bucketed_edge_corpus")
    val bucketScans = scans(p).filter(_.relation.bucketSpec.isDefined)
    assert(bucketScans.nonEmpty, s"expected a bucketed table scan:\n$p")
    // the bucket count the width rule gives the fixture's orders +
    // lineitem (LayoutCatalog.buckets)
    val b = graft.operators.LayoutCatalog.bucketsOf(sf, Seq("orders", "lineitem"))
    assert(bucketScans.forall(_.relation.bucketSpec.get.numBuckets == b))
    val joins = p.collect { case j: ShuffledHashJoinExec => j }
    assert(joins.nonEmpty, s"vertex attach must be a shuffled-hash join:\n$p")
    // the join child that contains the bucketed scan must carry no
    // Exchange anywhere beneath it — degree agg + join read the
    // bucket layout as-is
    val edgeSide = joins.head.children.find(_.exists {
      case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
      case _ => false
    })
    assert(edgeSide.isDefined, s"bucketed scan must feed the join:\n$p")
    assert(edgeSide.get.collect {
      case e: ShuffleExchangeExec => e
    }.isEmpty, s"no exchange may sit above the bucketed scan:\n${edgeSide.get}")
  }

  test("q260/q262: one corpus exchange each — detector and CUPED run in day/user space") {
    // q260: the corpus pays ONE shuffle (the daily groupBy); both
    // cumulative windows and the baseline window run over the
    // |days|-row table. q262: ONE shuffle (the per-user groupBy);
    // θ and the adjusted variance are algebra over a one-row stats
    // aggregate — no second corpus pass, no shuffled join.
    for ((name, maxEx) <- Seq("q260_page_cusum_alarm" -> 2,
        "q262_cuped" -> 2)) {
      val p = plan(name)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
        p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
        s"$name: nothing may shuffle-join:\n$p")
      assert(shuffles(p).length <= maxEx,
        s"$name: at most $maxEx exchanges (corpus pays one):\n$p")
    }
  }

  test("q264: the Shapley game is value-space — subset joins all broadcast") {
    // the corpus collapses to per-user bitmask counts; every join in
    // the 2^k subset machinery (containment, S∪{i}, factorial
    // lookups) must be a broadcast join, never a shuffled one
    val p = plan("q264_shapley_attribution")
    val shuffledJoins = p.collect {
      case j: SortMergeJoinExec => j
    } ++ p.collect {
      case j: ShuffledHashJoinExec => j
    }
    // the single allowed keyed shuffle join: events ⋈ first-purchase
    assert(shuffledJoins.length <= 1,
      s"only the corpus⋈fp join may shuffle:\n$p")
    assert(p.collect { case j: CartesianProductExec => j }.isEmpty,
      s"no cartesian in the subset machinery:\n$p")
  }

  test("q232: two-phase Lorenz — every unpartitioned window sits above an aggregate") {
    // round-7's weak component: the old plan ranked the whole customer
    // table in ONE task. The rewrite must keep every empty-partition
    // window over value-/bucket-/decile-space aggregates only, and the
    // per-bucket boundary resolution must be a PARTITIONED window.
    val p = plan("q232_lorenz_deciles")
    val wins = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, s"expected window operators:\n$p")
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    unpart.foreach { w =>
      assert(w.child.exists {
        case _: HashAggregateExec => true
        case _: ObjectHashAggregateExec => true
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          r.child.exists { case _: HashAggregateExec => true; case _ => false }
        case _ => false
      }, s"unpartitioned window over a non-aggregated frame:\n$p")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      s"boundary-straddler resolution must be a partitioned window:\n$p")
  }

  test("q127/q133: drift and collocation top-k run as TakeOrderedAndProject") {
    for (name <- Seq("q127_token_drift", "q133_collocations")) {
      val p = plan(name)
      assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"$name limit must never global-sort:\n$p")
    }
  }

  test("q129/q134/q139: single-pass map-side shapes — no shuffled joins") {
    for (name <- Seq("q129_rebalance_plan", "q134_benford_audit", "q139_whiten")) {
      val p = plan(name)
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
        p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
        s"$name: stats must broadcast, never shuffle-join:\n$p")
    }
    // q129 is fully map-side: one aggregate exchange only
    assert(shuffles(plan("q129_rebalance_plan")).length === 1,
      "q129 needs only its final aggregate exchange")
  }

  test("q147: rendezvous argmax is join-free, one aggregate exchange") {
    val p = plan("q147_rendezvous_plan")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case c: CartesianProductExec => c
      case n: BroadcastNestedLoopJoinExec => n
    }.isEmpty, s"the 20-way argmax is ONE map-side projection:\n$p")
    assert(shuffles(p).length === 1, s"only the movement-matrix aggregate:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "n_chars"),
      s"q147 reads more than it hashes: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q148: novelty joins only key on the gram; no cartesian") {
    val p = plan("q148_novelty_rate")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"no unkeyed join:\n$p")
    val equi = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(equi.nonEmpty && equi.forall(_.nonEmpty),
      s"first-seen attaches by a keyed gram join:\n$p")
  }

  test("q137: nested build is one groupBy; every metric is shuffle-free array math") {
    val p = plan("q137_nested_rollup")
    assert(shuffles(p).length === 1, s"only the collect_list groupBy:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_linenumber", "l_quantity"),
      s"q137 reads more than it nests: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q96: histogram quantiles — one corpus exchange, pruned scan, map-side combine") {
    val p = plan("q96_hist_quantile")
    // the corpus touches exactly one exchange (the histogram agg); the
    // cumulative window and per-flag total run over the tiny histogram
    // (second exchange); the 3-row quantile table attaches broadcast
    assert(shuffles(p).length <= 2, s"histogram agg + histogram window only:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"bucket counting must combine map-side:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_returnflag", "l_extendedprice"),
      s"q96 reads more than it projects: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q153: KMV sketch aggregates partially (≤ k rows per group shipped); join-free") {
    val p = plan("q153_kmv_distinct")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case c: CartesianProductExec => c
    }.isEmpty, s"sketch + exact share one aggregate — no join:\n$p")
    // the heap udaf must run as a two-phase object-hash aggregate so
    // map-side partials cap the shuffle at k rows per group
    val oha = p.collect { case a: ObjectHashAggregateExec => a }
    assert(oha.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"KMV heap must combine map-side:\n$p")
    assert(shuffles(p).length <= 2,
      s"distinct pairs + per-type rollup only:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("event_type", "user_id"),
      s"q153 reads more than it hashes: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q154: funnel is one corpus scan, one single-row aggregate, no shuffle of documents") {
    val p = plan("q154_filter_funnel")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
      case c: CartesianProductExec => c
    }.isEmpty, s"the funnel is join-free:\n$p")
    // the only exchange carries partial-aggregate rows (one per task),
    // never documents
    assert(shuffles(p).length === 1, s"single global-agg exchange:\n$p")
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"prefix counts must combine map-side:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("text"),
      s"q154 reads more than it filters: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q157: both LPA rounds join keyed and shuffled — no vertex-sized broadcast") {
    val p = plan("q157_label_propagation")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"label propagation must never loop or cross-join:\n$p")
    // the label table is vertex-sized, exactly like q94's ranks: it
    // must shuffle, never broadcast
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no vertex-derived side may broadcast:\n$p")
    assert(p.collect { case j: ShuffledHashJoinExec => j }.length >= 2,
      s"each round is a shuffled hash join of edges with labels:\n$p")
    assertBucketedEdgeSide(p, minScans = 2)
  }

  test("q159: positional joins stay sort-merge; only the vocabulary broadcasts") {
    val p = plan("q159_phrase_search")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"phrase search must never cross-join:\n$p")
    // the vocabulary prefilter is a broadcast LEFT SEMI (tiny, constant)
    assert(p.collect {
      case j: BroadcastHashJoinExec if j.joinType.toString == "LeftSemi" => j
    }.nonEmpty, s"postings must prefilter through a broadcast semi join:\n$p")
    // the two positional chain joins are (doc_id, pos)-keyed sort-merge:
    // their inputs are df(term)-sized — corpus-growing — so neither side
    // may broadcast (the q94 vertex-broadcast lesson)
    val smj = p.collect { case j: SortMergeJoinExec => j }
    assert(smj.count(_.leftKeys.length >= 2) >= 2,
      s"positional chain must be composite-keyed sort-merge joins:\n$p")
    assert(p.collect {
      case j: BroadcastHashJoinExec if j.leftKeys.exists(_.toString.contains("pos")) => j
    }.isEmpty, s"no corpus-derived postings side may broadcast:\n$p")
  }

  test("q160: sketches aggregate partially; the exact self-join keys on the hash") {
    val p = plan("q160_kmv_algebra")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, s"$p")
    // map-side partial sketch: ≤ k rows per group ship to the shuffle
    val oha = p.collect { case a: ObjectHashAggregateExec => a }
    assert(oha.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      s"KMV buffers must combine map-side:\n$p")
    // the only corpus-scale join is the equi self-join on the hash value
    val hJoins = p.collect {
      case j: BroadcastHashJoinExec if j.leftKeys.nonEmpty => j
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(hJoins.exists(_.leftKeys.exists(_.toString.contains("h"))),
      s"exact intersection must join keyed on h:\n$p")
    // the pair merge may nested-loop ONLY between aggregated sketch
    // sides (≤ #types rows each) — bounded by construction
    p.collect { case n: BroadcastNestedLoopJoinExec => n }.foreach { n =>
      n.children.foreach(side => assert(side.exists {
        case _: ObjectHashAggregateExec => true
        case _: HashAggregateExec => true
        case _ => false
      }, s"nested-loop sides must be aggregated sketch tables:\n$p"))
    }
  }

  test("q161: the neighborhood window is keyed — never a single global partition") {
    val p = plan("q161_sorted_neighborhood")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"expected a window:\n$p")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"sorted-neighborhood must partition by block, not sort globally:\n$p"))
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("p_name"),
      s"q161 reads more than the name: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q169: vocab-sized df broadcasts; the probe gram stream never shuffles") {
    val p = plan("q169_boilerplate")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian:\n$p")
    // the gram-keyed join must be a broadcast hash join on g — the df
    // side is vocabulary-sized (bounded by charset³), never the corpus
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.length === 1, s"df joins by broadcast:\n$p")
    // 4 exchanges, every one carrying aggregated rows: the df partial
    // agg (gram-keyed), the one-row doc count, the per-doc partials,
    // the per-source partials. The probe-side gram stream is in NONE
    // of them — it is consumed map-side below the (doc_id, source)
    // partial aggregate.
    assert(shuffles(p).length === 4, s"exactly 4 aggregated exchanges:\n$p")
    val parts = p.collect { case a: HashAggregateExec
      if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a }
    assert(parts.length >= 3, s"map-side combines everywhere:\n$p")
  }

  test("q155/q156: profile and FD audits stay keyed — no cartesian, partial aggregation") {
    for (name <- Seq("q155_column_profile", "q156_fd_audit")) {
      val p = plan(name)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
        p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
        s"$name: no unkeyed join:\n$p")
      val aggs = p.collect { case a: HashAggregateExec => a }
      assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
        s"$name: value/pair counting must combine map-side:\n$p")
    }
  }

  test("q186: trend fit aggregates map-side; the fact join is an equi join") {
    val p = plan("q186_segment_trend")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"orders⋈customer must be keyed:\n$p")
    val parts = p.collect { case a: HashAggregateExec
      if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a }
    assert(parts.nonEmpty, s"month cells must partial-aggregate:\n$p")
    // both aggregation levels + at most the join's own exchanges:
    // the fact table is scanned exactly once
    assert(scans(p).count(_.relation.location.rootPaths
      .exists(_.toString.contains("orders"))) === 1,
      s"orders scans once:\n$p")
  }

  test("q187: the dow baseline broadcasts into the join-back") {
    val p = plan("q187_seasonal_anomaly")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.length === 1,
      s"baseline (|types|×7 rows) must broadcast:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"nothing corpus-sized may shuffle-join:\n$p")
    val Seq(scan) = scans(p)
    assert(scan.requiredSchema.fieldNames.toSet === Set("ts", "event_type"),
      s"q187 reads more than it buckets: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("q188: declared-values pivot is ONE aggregation — no discovery job, no join") {
    val p = plan("q188_daily_type_matrix")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"pivot must not join:\n$p")
    // two exchanges: the (date, type) cell counts (corpus-reducing,
    // map-side combined) and the pivotfirst over the |dates|×|types|
    // cell table — the declared-values form adds NO discovery job
    assert(shuffles(p).length === 2, s"cell + pivot exchanges only:\n$p")
    val parts = p.collect { case a: HashAggregateExec
      if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a }
    assert(parts.nonEmpty, s"pivot counts must combine map-side:\n$p")
  }

  test("q189: ranking windows run over aggregated per-source rows, never the corpus") {
    val p = plan("q189_token_budget")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"expected the curriculum ranking window:\n$p")
    wins.foreach(w => assert(w.child.exists {
      case a: HashAggregateExec =>
        a.groupingExpressions.exists(_.toString.contains("source"))
      case _ => false
    }, s"window input must be the per-source aggregate:\n$p"))
  }

  test("q190: silence windows are doc-keyed — never a single global partition") {
    val p = plan("q190_audio_segments")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"expected the gaps-and-islands windows:\n$p")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"segmentation must partition by doc_id:\n$p"))
  }

  test("q191: candidates scan once; the only nested loop carries the 20-row query side") {
    val p = plan("q191_ndcg_eval")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian:\n$p")
    // the non-equi (vec_id <> query_id) join is a broadcast nested
    // loop BY DESIGN — bounded by the filtered query side (vec_id <
    // 20); assert every nested loop has a broadcast-filtered side
    p.collect { case n: BroadcastNestedLoopJoinExec => n }.foreach { n =>
      assert(n.toString.contains("BuildRight") || n.toString.contains("BuildLeft"),
        s"nested loop must build the broadcast query side:\n$p")
    }
    val ranks = p.collect { case w: WindowExec => w }
    assert(ranks.forall(_.partitionSpec.nonEmpty),
      s"rank window must partition by query_id:\n$p")
  }

  test("q192: split audit traverses buckets by aggregate — every join is keyed") {
    val p = plan("q192_leakage_safe_split")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian:\n$p")
    // the ONLY nested loops are the one-row leak-total attaches
    p.collect { case n: BroadcastNestedLoopJoinExec => n }.foreach { n =>
      assert(n.children.exists(_.exists {
        case a: HashAggregateExec => a.groupingExpressions.isEmpty
        case _ => false
      }), s"nested loop must carry a one-row aggregate:\n$p")
    }
    val parts = p.collect { case a: HashAggregateExec
      if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a }
    assert(parts.nonEmpty, s"bucket counting must combine map-side:\n$p")
  }

  test("q193: marginals re-aggregate from the joint and broadcast back") {
    val p = plan("q193_independence_tvd")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the 35-row joint must never shuffle-join:\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"marginals attach by broadcast:\n$p")
    // the corpus pass lives BELOW the materialize barrier (the plan
    // reads the checkpointed 35-row joint, no parquet scan on top)
    assert(scans(p).isEmpty,
      s"everything above the joint materialization is cell-sized:\n$p")
  }

  test("q195: like q193, cell-space only above the joint — no shuffled joins") {
    val p = plan("q195_chi_square")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the 35-cell grid must never shuffle-join:\n$p")
    assert(scans(p).isEmpty,
      s"everything above the joint materialization is cell-sized:\n$p")
  }

  test("q194/q196: one corpus pass, one aggregate exchange tree — no joins on the fact side") {
    // q194 is a single groupBy over customer; q196's only corpus work
    // is the per-user flag aggregate — per-arm stats and the 1-row
    // cross-arm readout must attach by broadcast
    val kp = plan("q194_k_anonymity")
    assert(shuffles(kp).length === 1, s"q194 is one groupBy:\n$kp")
    val ap = plan("q196_ab_lift")
    assert(ap.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      ap.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"q196 arm stats must broadcast, never shuffle-join:\n$ap")
    assert(scans(ap).length === 1, s"q196 reads events exactly once:\n$ap")
  }

  test("q197: user-keyed equi joins only — candidate and anti steps never go cartesian") {
    val p = plan("q197_cep_pattern")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"range residuals must ride user_id equi joins:\n$p")
    val joins = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(joins.length === 2 && joins.forall(_.nonEmpty),
      s"candidate join + error anti join, both keyed:\n$p")
  }

  test("q200: subspaces explode row-side, the codebook broadcasts, one agg shuffle") {
    val p = plan("q200_pq_codes")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"the 16-row codebook must broadcast:\n$p")
    assert(shuffles(p).length === 1,
      s"only the (vec, subspace) argmin aggregate shuffles:\n$p")
  }

  test("q219: every HITS step is a keyed shuffle join — vertex sides never broadcast") {
    val p = plan("q219_hits")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian:\n$p")
    // hub/authority tables are vertex-sized (q94's rank lesson): a
    // broadcast is a driver collect that dies at 100×. The three
    // reinforcement joins (a1→h1, h1→a2, a2→h2) must shuffle.
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no vertex-derived side may broadcast:\n$p")
    // per-step materialization truncates the lineage: the executed
    // plan shows only the FINAL reinforcement step — earlier steps ran
    // through the same builder, so one visible keyed shuffle join pins
    // the shape for all of them
    assert(p.collect { case j: ShuffledHashJoinExec => j }.nonEmpty,
      s"the reinforcement step is a shuffled hash join:\n$p")
    // the only nested-loop joins are the one-row L∞-max rescales
    p.collect { case n: BroadcastNestedLoopJoinExec => n }.foreach { n =>
      assert(n.children.exists(_.exists {
        case _: HashAggregateExec => true
        case _ => false
      }), s"nested-loop sides must be one-row max aggregates:\n$p")
    }
  }

  test("q228: relaxation rounds shuffle keyed on the vertex — no broadcast, no loop") {
    val p = plan("q228_shortest_paths")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"distance propagation must never loop or cross-join:\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"the distance table is vertex-sized — never broadcast:\n$p")
    // per-round materialization truncates the lineage (see q219): the
    // final round's keyed shuffle join pins the shape of every round
    assert(p.collect { case j: ShuffledHashJoinExec => j }.nonEmpty,
      s"the relaxation round is a shuffled hash join:\n$p")
    // round 10: the friction weights ride the WEIGHTED edge layout —
    // the relax join's edge side is the bucketed scan (w is a
    // projection over it), not a re-derived fact join
    assertBucketedEdgeSide(p, minScans = 1)
  }

  test("q286/q287: IVF-PQ reads the persisted index — no cartesian, bounded shuffles") {
    Seq("q286_ivfpq_rerank", "q287_pq_health").foreach { n =>
      val p = plan(n)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
        s"$n must not cartesian:\n$p")
      // the index build lives in the durable catalog: the query-side
      // plan is scans + broadcast joins + the candidate aggregate(s)
      // and per-query windows — a build leaking back in would show up
      // as a burst of extra exchanges
      val ex = p.collect { case e: ShuffleExchangeExec => e }
      assert(ex.length <= 4,
        s"$n expected the search-side shuffles only (${ex.length}):\n$p")
      assert(scans(p).nonEmpty,
        s"$n must read the persisted artifact tables:\n$p")
    }
  }

  test("q289: incremental ANN reads the merged persisted index — same search plan shape as q286") {
    val p = plan("q289_incremental_ann")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q289 must not cartesian:\n$p")
    // the frozen-training build (archive centroids, archive codebook,
    // delta coding, bucket merge) all live in the durable catalog —
    // the query-side plan is the identical ADC search tail as q286
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 4,
      s"q289 expected the search-side shuffles only (${ex.length}):\n$p")
    assert(scans(p).nonEmpty,
      s"q289 must read the persisted artifact tables:\n$p")
  }

  test("q288: incremental BM25 reads the LSM view; every broadcast is bounded") {
    val p = plan("q288_incremental_bm25")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q288 must not cartesian:\n$p")
    // the archive + segment builds are ingest work in the catalog;
    // the query-side postings view is the union of BUCKETED archive
    // and segment tables, the term IN-list pushes below the union
    // into both scans, and every joined side (query terms, term-
    // filtered df, corpus stats) is a bounded broadcast — the
    // postings never shuffle for a join
    val bucketScans = scans(p).filter(_.relation.bucketSpec.isDefined)
    assert(bucketScans.length >= 2,
      s"q288 must scan the bucketed archive AND segment postings:\n$p")
    assert(bucketScans.forall(_.metadata("PushedFilters").contains("In(")),
      s"the term IN-list must push into every postings scan:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"every q288 join side must broadcast:\n$p")
    assertBoundedBroadcasts(p, "q288")
  }

  test("q295: compacted-LSM BM25 reads the fold artifact AND the live tail; every broadcast is bounded") {
    val p = plan("q295_lsm_compacted_bm25")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q295 must not cartesian:\n$p")
    // past the fold rung of 4 the view is the COMPACTED
    // artifact ∪ the day-9 tail segment — exactly two bucketed scans
    // (a view that still unioned five raw segments, or re-read the
    // archive beside the fold, would show more); the term IN-list
    // pushes below the union into both, and q288's bounded-broadcast
    // discipline carries over unchanged
    val bucketScans = scans(p).filter(_.relation.bucketSpec.isDefined)
    // the view appears twice in the plan (term-filtered postings +
    // the df aggregate branch), so count DISTINCT locations, not scans
    val locs = bucketScans
      .flatMap(_.relation.location.rootPaths.map(_.toString)).distinct
    assert(locs.length === 2,
      s"q295 must scan the compacted artifact and the tail segment " +
        s"(got ${locs.length}: $locs):\n$p")
    assert(bucketScans.forall(_.metadata("PushedFilters").contains("In(")),
      s"the term IN-list must push into both postings scans:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"every q295 join side must broadcast:\n$p")
    assertBoundedBroadcasts(p, "q295")
  }

  test("q296: compacted-LSM ANN reads the fold codes AND the live tail; search shape matches q286") {
    val p = plan("q296_lsm_compacted_ann")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q296 must not cartesian:\n$p")
    // the codes view past the fold = compacted codes ∪ day-9 tail
    // segment: the embeddings source feeds queries/rerank, and at
    // least two separate parquet code locations must scan (the
    // compacted table and the tail — a view still reading six raw
    // locations would show more; one would mean the tail was folded
    // away, i.e. compaction over-reached)
    val codeScans = scans(p).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codeScans.length === 2,
      s"q296 must scan compacted codes + tail segment " +
        s"(got ${codeScans.length}):\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"the ADC side must never sort-merge:\n$p")
  }

  test("q298: tier report reads only the two tier artifacts; no raw-document scan") {
    val p = plan("q298_lsm_tier_report")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q298 must not cartesian:\n$p")
    // artifacts ONLY: every scan is a bucketed postings table — a
    // documents.parquet scan here would mean the report re-derived
    // corpus truth instead of auditing what the index actually serves
    val all = scans(p)
    assert(all.nonEmpty && all.forall(_.relation.bucketSpec.isDefined),
      s"q298 must read only bucketed artifact scans:\n$p")
    val locs = all
      .flatMap(_.relation.location.rootPaths.map(_.toString)).distinct
    assert(locs.length === 2,
      s"q298 must scan the compacted artifact and the tail segment " +
        s"(got ${locs.length}: $locs):\n$p")
  }

  test("q290: delta report joins two bucketed artifacts exchange-free; only the 15-row rank shuffles") {
    val p = plan("q290_index_delta_report")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      s"q290 must not cartesian:\n$p")
    // both df aggregates read bucketed postings tables and the g-keyed
    // join rides the shared bucket partitioning — the corpus-sized
    // side never shuffles; the top-15 is a TakeOrderedAndProject and
    // the only exchange feeds the 15-row rank window
    val bucketScans = scans(p).filter(_.relation.bucketSpec.isDefined)
    assert(bucketScans.length >= 2,
      s"q290 must scan both bucketed artifacts:\n$p")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"top-15 must never global-sort:\n$p")
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.length <= 1,
      s"only the 15-row rank window may exchange (${ex.length}):\n$p")
  }

  test("q284: weighted rank rounds keep the bucketed edge side; strength is a window, not a join") {
    val p = plan("q284_weighted_pagerank")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"rank propagation must never loop or cross-join:\n$p")
    // the rank table is vertex-sized — exactly q94's contract
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no vertex-derived side may broadcast:\n$p")
    assert(p.collect { case j: ShuffledHashJoinExec => j }.length >= 3,
      s"each round is a shuffled hash join of weighted edges with ranks:\n$p")
    assertBucketedEdgeSide(p, minScans = 3)
    // node strength (Σn) attaches as a SUM window over the bucket
    // partitioning — no strength join, no exchange under the window
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"expected the strength window:\n$p")
    wins.foreach { w =>
      assert(w.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"strength window must sit on the bucketed scan, no exchange:\n$w")
    }
  }

  test("q226: lot×demand is a partkey-keyed join — corpus sides never broadcast") {
    val p = plan("q226_fifo_allocation")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"the range residual must ride the partkey equi join:\n$p")
    // supplies and demands both grow with the corpus — no broadcast side
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no corpus-sized side may broadcast:\n$p")
    val keyed = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
    }
    assert(keyed.nonEmpty && keyed.forall(_.nonEmpty),
      s"all joins key on pk:\n$p")
    // FIFO cumsums partition by part — no global sort anywhere
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"cumulative quantities must window per part:\n$p")
  }

  test("q222: drawdown windows partition per user; top-20 is TakeOrdered") {
    val p = plan("q222_max_drawdown")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"running balance/peak must window per user, never globally:\n$p")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"the top-20 must execute as TakeOrderedAndProject, not a full sort:\n$p")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, s"$p")
  }

  test("q227: run counting is join-free; both lag windows partition by month") {
    val p = plan("q227_rle_estimate")
    assert(p.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"run counting never joins:\n$p")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"both candidate orders sort per (month, column), never globally:\n$p")
  }

  test("q220: the packing window partitions per month; single corpus scan") {
    val p = plan("q220_compaction_plan")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"next-fit cumsum must window per month:\n$p")
    assert(scans(p).length === 1, s"one pass over lineitem:\n$p")
  }

  test("q243: both phases prune to the single price column") {
    val p = plan("q243_exact_median")
    // the two-phase point: every lineitem scan reads exactly one column
    assert(scans(p).nonEmpty && scans(p).forall(
      _.requiredSchema.fieldNames.toSet === Set("l_extendedprice")),
      s"median phases must read only the price column:\n$p")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty, s"$p")
  }

  test("q248/q240: maintenance windows partition per key, never globally") {
    Seq("q248_retention_vacuum_plan", "q240_packed_offsets").foreach { q =>
      val p = plan(q)
      val wins = p.collect { case w: WindowExec => w }
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        s"$q must window per key:\n$p")
    }
  }

  test("q250: every IVM term is a keyed join — no corpus side broadcasts") {
    val p = plan("q250_incremental_join_view")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case n: BroadcastNestedLoopJoinExec => n }.isEmpty,
      s"no cartesian in the delta algebra:\n$p")
    // orders and lineitem splits all grow with the corpus: the five
    // view terms must join keyed, never broadcast
    assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"no corpus-derived side may broadcast:\n$p")
    val keyed = p.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
    }
    assert(keyed.length >= 5 && keyed.forall(_.nonEmpty),
      s"five view terms, all keyed on the order key:\n$p")
  }
}
