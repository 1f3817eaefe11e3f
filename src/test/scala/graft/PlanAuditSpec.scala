package graft

import graft.plans.TieRunSortExec
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{SortExec, SortPrefixUtils, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.DecimalType

/** Fleet-wide physical-plan audit in two parts, with NO hand-maintained
  * skip-list (the round-9 erosion complaint):
  *
  *   1. LAZY queries: no registry query may silently plan a cartesian
  *      product or nested-loop join — the two shapes that turn a 100 TB
  *      query into an outage. The exceptions are DELIBERATE and named in
  *      [[allowCross]].
  *   2. EAGER queries (those whose returned frame is a LocalRelation —
  *      they executed at build and collected their result to the driver):
  *      the lazy-plan audit is vacuous on them, so instead each one must
  *      DECLARE a driver-side row bound (a constant or a |groups|-shaped
  *      quantity) in [[eagerBounds]], and the spec asserts the collected
  *      count meets it. Eagerness is DETECTED, not listed: a new query
  *      that starts collecting without declaring its bound fails here.
  *
  * Streaming queries (s\d+_ namespace) are excluded as a NAMESPACE rule,
  * not a name list: the memory-sink harness is inherently eager and every
  * one of them is oracle-checked row-for-row by the driver, which bounds
  * the collected set exactly.
  */
class PlanAuditSpec extends SparkSpec {

  // sim1/sim5: exact brute-force baselines — a bounded probe set (fixed
  // budget, see Similarity's probe contract) cross-joined on purpose;
  // sim6/sim7: corpus vs a broadcast of K=8 FIXED centroids;
  // sim10: the 4-byte code index vs the bounded probe broadcast;
  // x11: the registered demonstration of the non-equi nested-loop tier;
  // t11: a ONE-ROW broadcast N frame attached via cross join.
  // sim20: JL projected brute-force over the bounded probe broadcast
  // dd16: corpus × the 288-row broadcast LITERAL plane table (the
  // signature build — bounded constant side, the t11 shape)
  // dd19: the same signature-build shape over the 720-row production
  // plane literal (fixture ∪ copies × broadcast planes)
  // dd20: dd19's signature build (720-row plane literal) — the recall
  // harness runs the production pipeline verbatim on the boundary fixture
  private val allowCross = Set("sim1_cosine_topk", "sim5_int8_topk",
    "sim20_random_projection",
    "sim6_kmeans_assign", "sim7_kmeans_update",
    "sim10_pq_topk", "x11_nested_loop_join", "t11_tfidf_keywords",
    "dd16_semantic_dedup", "dd19_banded_prod", "dd20_boundary_recall")

  private def streaming(n: String): Boolean = n.matches("s\\d+_.*")

  /** Driver-side row bounds for eager queries: name -> (why, bound).
    * |docs|-shaped bounds mark queries whose OUTPUT is a per-document
    * manifest (the harness materializes every output anyway); the
    * contract's value is that nothing collects MORE than its declared
    * shape — a probe-budget query collecting corpus-sized rows, or a
    * shard summary collecting per-doc rows, fails loudly. */
  private def eagerBounds(nDocs: Long, nSources: Long,
      nLangs: Long): Map[String, (String, Long)] = Map(
    // per-doc manifests: one output row per (surviving) document
    "dd8_dedup_clusters" -> ("≤ one cluster row per doc", nDocs),
    "p1_pipeline_manifest" -> ("≤ one manifest row per doc", nDocs),
    "dd11_decontaminate" -> ("flagged docs ⊆ corpus", nDocs),
    "dd13_decontaminate_bloom" -> ("flagged docs ⊆ corpus", nDocs),
    // shard/epoch summaries: every shard packs ≥ 1 doc; epochs are a
    // small constant multiplier
    "p5_token_shards" -> ("≤ one row per shard ≤ |docs|", nDocs),
    "p7_incremental_shards" -> ("≤ one row per shard ≤ |docs|", nDocs),
    "p8_curriculum_shards" -> ("≤ one row per shard ≤ |docs|", nDocs),
    "p10_corpus_build" -> ("≤ one row per shard ≤ |docs|", nDocs),
    "p11_landed_shards" -> ("≤ one row per landed shard ≤ |docs|", nDocs),
    "p9_epoch_shuffle" -> ("epochs × shards, epochs ≤ 4", 4 * nDocs),
    // constant-budget evaluation/config outputs
    "sim8_kmeans_iterate" -> ("K=8 centroids × 64 dims", 8L * 64),
    "t9_quality_deciles" -> ("NTILE(10) summary", 10L),
    "sim9_recall_at_k" -> ("6 arms × 10 probes", 6L * 10),
    "sim11_ivf_multiprobe" -> ("10 probes × k=3", 10L * 3),
    "sim13_ivf_pq" -> ("10 probes × k=3", 10L * 3),
    "sim14_recall_bar" -> ("10 probes", 10L),
    "sim23_mmr_topk" -> ("10 probes × k=4 diversified picks", 10L * 4),
    "t13_bpe_pairs" ->
      ("top BpeTopPairs pairs", operators.TextAnalysis.BpeTopPairs.toLong),
    "t19_bpe_train" ->
      ("one merge row per train round",
        operators.TextAnalysis.BpeTrainMerges.toLong),
    "t21_bpe_batch_train" ->
      ("B merge rows per batched round",
        operators.TextAnalysis.BpeBatchRounds.toLong *
          operators.TextAnalysis.BpeBatchSize),
    "t14_heavy_hitters" ->
      ("≤ MgCounters survivors", operators.TextAnalysis.MgCounters.toLong),
    // x36 returns the per-(source, lang) aggregate eagerly (the catalog
    // table is dropped in its finally, so the frame must not stay lazy).
    // Bounds below derive from the DATA (distinct source/lang counts),
    // not fixture constants — a regenerated corpus with more sources or
    // languages moves the bound instead of failing the audit spuriously.
    "x36_blockstore_sql" -> ("|sources| × |langs| groups", nSources * nLangs),
    // x30 collects its (|langs|+1)-row triage and releases the parse cache
    // (caught by the automatic eager detection; the old hand-list audited
    // its LocalRelation vacuously)
    "x30_corrupt_ingest" -> ("|langs|+1 triage rows", nLangs + 1),
    // x38 returns the Observation metrics report: one row by construction
    "x38_observed_metrics" -> ("one metrics row", 1L),
    // x39 collects its post-delete (source, lang) inventory before the
    // catalog table is dropped (the x36 lifecycle)
    "x39_blockstore_delete" -> ("|sources| × |langs| groups", nSources * nLangs),
    // x41 collects its two-snapshot per-lang comparison (x36 lifecycle)
    "x41_time_travel" -> ("2 snapshots × |langs|", 2 * nLangs),
    // x46 collects the post-merge per-lang inventory before DROP TABLE
    // (x36 lifecycle); the merge adds the 'xx' and 'new' classes
    "x46_merge_upsert" -> ("|langs| + 2 merged classes", nLangs + 2),
    // x47 collects the post-sync per-lang inventory (x36 lifecycle); the
    // three-clause merge adds the 'sy' and 'ins' classes
    "x47_merge_sync" -> ("|langs| + 2 sync classes", nLangs + 2))

  test("lazy plans: no undeclared cartesian/nested-loop join; " +
    "eager collects: declared row bound met") {
    val docs = Catalog.table(spark, sf, "documents")
    val nDocs = docs.count()
    val shape = docs.agg(
      org.apache.spark.sql.functions.countDistinct("source"),
      org.apache.spark.sql.functions.countDistinct("lang")).head()
    val bounds = eagerBounds(nDocs, shape.getLong(0), shape.getLong(1))
    val crossOffenders = Seq.newBuilder[String]
    val boundOffenders = Seq.newBuilder[String]
    val detectedEager = Set.newBuilder[String]
    SparkEntry.queries.keys.toSeq.sorted.filterNot(streaming).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      // eager = the RESULT was collected: every leaf is a LocalRelation.
      // (A lazy plan may legitimately contain one — p14's literal model
      // table — so a collectFirst would misclassify it.)
      val leaves = df.queryExecution.analyzed.collectLeaves()
      val eager = leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation])
      if (eager) detectedEager += name
      // An eager query is bound-checked REGARDLESS of allowCross
      // membership — allowCross only waives the cartesian/nested-loop
      // check on lazy plans (an eager query that is also listed there
      // must not silently escape both audits).
      if (eager) {
        bounds.get(name) match {
          case None =>
            boundOffenders += s"$name: eager collect with NO declared bound"
          case Some((why, bound)) =>
            val n = df.count()
            if (n > bound)
              boundOffenders += s"$name: collected $n rows > bound $bound ($why)"
        }
      } else if (!allowCross(name)) {
        val plan = df.queryExecution.sparkPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("NestedLoopJoin"))
          crossOffenders += (name + ": " + plan.linesIterator.filter(l =>
            l.contains("CartesianProduct") || l.contains("NestedLoopJoin"))
            .mkString("; "))
      }
    }
    val cross = crossOffenders.result()
    val bound = boundOffenders.result()
    assert(cross.isEmpty && bound.isEmpty,
      (cross ++ bound).mkString("\n"))
    // the published eager list (SparkEntry.eagerQueries — consumed by
    // Scale's corpus-broadcast audit to avoid executing eager builds at a
    // ×64 corpus) must match what detection actually finds: a query that
    // becomes eager or lazy without the list moving fails HERE, not in a
    // silently-mis-scoped audit
    assert(detectedEager.result() == SparkEntry.eagerQueries,
      s"SparkEntry.eagerQueries drifted from detection: " +
        s"detected-only=${detectedEager.result() -- SparkEntry.eagerQueries} " +
        s"listed-only=${SparkEntry.eagerQueries -- detectedEager.result()}")
  }

  /** The corpus-attach joins (candidate pairs ⋈ corpus feature frame, and
    * dd15's corpus ⋈ corpus histogram build) must plan as SHUFFLED HASH
    * JOINS — the r15 finding: unhinted, the strategy flips with the
    * persisted frame's materialization state (pre-materialization
    * underestimate → broadcast of the CORPUS; accurate post-cache stats →
    * SMJ whose candidate sorts spilled ~7 GB at blow-up ×32). The hints
    * make the plan deterministic; this pin makes losing them loud. */
  test("corpus-attach joins stay shuffled-hash (no corpus broadcast, no sorting SMJ)") {
    val expectShj = Map(
      // r19: +1 each — the shared CACHED prefix-rows frame's candidate/
      // probe join is pinned too (accurate post-cache stats would
      // broadcast the corpus-sized prefix side at test SFs)
      "dd6_ngram_jaccard" -> 3, // prefix join + bg_a / bg_b attaches
      "dd9_incremental_dedup" -> 3, // prefix probe + bg_i / bg_x attaches
      "dd15_edit_distance" -> 2, // hist build + the a-side text attach
      // (r15: the 3x-fanout side went slim — its text attaches
      // post-prefilter; the unexploded b-side keeps its text)
      "mm6_perceptual_neardup" -> 2, // signature attaches
      // r17 streaming-audit catch: the band-collision join joined the pins
      "mm7_phash_serve" -> 3, // band join + probe-batch + index-sig attaches
      "dd16_semantic_dedup" -> 2, // dd5-style embedding attaches
      // r17 construction-audit catch: keep rides the cached labels memo
      // (pre-materialization stats lie) and keep/toks are ∝ corpus
      "dd18_dedup_savings" -> 2, // keep + quality-token attaches
      // r17 construction-audit catch #2: the trained-vocab attach is
      // VOCABULARY-sized (grows with corpus) yet file stats broadcast it
      "t20_bpe_fertility" -> 1, // trained-vocab symbol-count attach
      // r18: the df (document-frequency) attach is the same class — tok-
      // keyed, vocabulary-sized, never broadcastable at 100 TB, yet
      // post-agg stats read it small enough to broadcast at toy scale
      "t11_tfidf_keywords" -> 1, // df vocab attach
      // r18: consumers of the shared CACHED quality frame (r15 flip
      // class — post-cache stats read the corpus-proportional frame
      // broadcast-small at test SFs)
      "dd17_canonical_keep" -> 1, // quality attach onto cluster labels
      "p14_model_score" -> 1, // quality-features lang attach
      "p16_data_card" -> 1) // quality attach (left outer, build = q)
    val bad = expectShj.toSeq.sortBy(_._1).flatMap { case (name, n) =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.toString
      val shj = plan.linesIterator.count(_.contains("ShuffledHashJoin"))
      if (shj < n) Some(s"$name: expected >= $n ShuffledHashJoin, found $shj")
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** Money sums run in fixed-width long slots (`Sql.moneySum`); a
    * `sum(dec(..))` creeping back into these queries brings a BigDecimal
    * buffer slot, and a per-row BigDecimal, with it. */
  test("money aggregates keep fixed-width buffers: no DecimalType slot in q1/q20/q3/q5") {
    val bad = Seq("q1_pricing_summary", "q20_salted_agg", "q3_top_revenue",
        "q5_local_supplier").flatMap { name =>
      val aggs = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
        .collect { case a: BaseAggregateExec => a }
      assert(aggs.nonEmpty, s"$name: no aggregate in the plan")
      aggs.flatMap(_.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes))
        .filter(_.dataType.isInstanceOf[DecimalType])
        .map(a => s"$name: buffer slot ${a.name} is ${a.dataType.simpleString}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** Explicit multi-key sorts with a prefix-sortable leading key radix-sort
    * that key under a tie-run pass (graft.plans.TieRunSort); sorts that a
    * join or window requires, and one-key or string-led sorts, stay
    * `SortExec`. q19/q1/q20/w1 are read from their AQE-final plans; the
    * window and join queries from the initial AQE plan, which is what the
    * rule rewrites. */
  test("TieRunSort: q19 radix-sorts its leading key; required, one-key and string sorts keep SortExec") {
    object Aqe extends AdaptiveSparkPlanHelper
    def finalPlan(name: String): SparkPlan = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan
    }
    def tieRuns(p: SparkPlan) = Aqe.collect(p) { case t: TieRunSortExec => t }

    val q19 = tieRuns(finalPlan("q19_terasort"))
    assert(q19.size == 1, s"q19: ${q19.size} TieRunSortExec")
    assert(q19.head.sortOrder.map(_.child.references.map(_.name).mkString) ==
      Seq("l_extendedprice", "l_orderkey", "l_linenumber"))
    val inner = Aqe.collect(q19.head.child) { case s: SortExec => s }
    assert(inner.size == 1 && inner.head.sortOrder.length == 1 && !inner.head.global,
      s"q19: under TieRunSortExec: ${q19.head.child.treeString}")

    for (name <- Seq("q1_pricing_summary", "q20_salted_agg", "w1_weighted_shuffle"))
      assert(tieRuns(finalPlan(name)).isEmpty, s"$name: TieRunSortExec planned")

    // a required multi-key sort with a prefix-sortable leading key, under
    // the window or join that requires it, and no TieRunSortExec anywhere
    def requiredSorts(p: SparkPlan): Seq[String] = Aqe.collect(p) {
      case w: WindowExec => w.children.map("window" -> _)
      case j: SortMergeJoinExec => j.children.map("join" -> _)
    }.flatten.collect { case (kind, s: SortExec) if s.sortOrder.length >= 2 &&
      SortPrefixUtils.canSortFullyWithPrefix(s.sortOrder.head) => kind }
    for ((name, kind) <- Seq("x13_range_frame" -> "window", "dd20_boundary_recall" -> "join")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      assert(requiredSorts(plan).contains(kind), s"$name: no multi-key $kind sort:\n$plan")
      assert(tieRuns(plan).isEmpty, s"$name: a required sort was rewritten:\n$plan")
    }
  }
}
