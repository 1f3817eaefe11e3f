package graft.operators

import graft.Catalog
import graft.Sql.asLong
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-management operators for a training-data pipeline (SURVEY.md §2D
  * LLM-pipeline row): deterministic train/val/test splitting, weighted
  * per-language corpus mixing, and per-source diversity capping.
  *
  * All three are built on the shared 60-bit md5-prefix hash
  * ([[graft.functions.Text.sharedHash]] ≡ `Text.sqlHash`), NOT on `rand()`:
  * a training-data split must be (a) reproducible run-to-run, (b) stable
  * under corpus growth — a document's split follows from its identity, not
  * from which execution sampled it — and (c) auditable by an independent
  * engine, which is exactly what the oracle compare exercises. This is the
  * standard "salted hash mod N" split used by large-scale dataset builders.
  *
  * Scale design: every operator here is a single map-side pass followed by
  * one aggregation on a LOW-CARDINALITY key (split name / lang / source) —
  * partial aggregation collapses each of the ~thousands of input partitions
  * to a handful of rows before the shuffle, so at 100 TB the shuffle moves
  * kilobytes. The one exception is the per-source cap's window sort, whose
  * skew caveat is documented on [[sourceCap]].
  */
/** Bounded-state top-K by (n_chars DESC, doc_id ASC): the per-group
  * aggregation buffer holds AT MOST [[PipelineOps.CapPerSource]]
  * (n_chars, doc_id) pairs — Spark's own driver-side top-k shape
  * (`BoundedPriorityQueue`; the reference carries the identical utility at
  * `/root/reference/src/main/scala/org/scache/util/BoundedPriorityQueue.scala:31`
  * for its reduce-side tracking), here as a distributed partial aggregate.
  * K is tiny, so reduce/merge re-sort the ≤2K-element buffer instead of
  * maintaining a heap — O(K log K) per row with K=10 is cheaper than heap
  * bookkeeping, and the buffer stays a flat encodable Seq.
  *
  * finish() folds the kept set straight to (n_kept, kept_chars): the doc
  * ids never leave the aggregation, so the output row per source is two
  * longs regardless of K. */
private[graft] object CapTopK
    extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long), Seq[(Long, Long)], (Long, Long)] {
  private def K = PipelineOps.CapPerSource
  // best first: longest doc wins, doc_id breaks ties deterministically
  private val best: Ordering[(Long, Long)] =
    Ordering.by { case (nChars, docId) => (-nChars, docId) }
  def zero: Seq[(Long, Long)] = Seq.empty
  def reduce(b: Seq[(Long, Long)], a: (Long, Long)): Seq[(Long, Long)] =
    if (b.size < K) (a +: b).sorted(best)
    else if (best.lt(a, b.last)) (a +: b.init).sorted(best)
    else b
  def merge(x: Seq[(Long, Long)], y: Seq[(Long, Long)]): Seq[(Long, Long)] =
    (x ++ y).sorted(best).take(K)
  // NullSentinel pairs (a NULL n_chars coalesced at the call site) count as
  // kept docs but contribute nothing to kept_chars — the same nulls-last /
  // null-ignored-by-sum behavior the window row_number formulation had
  def finish(b: Seq[(Long, Long)]): (Long, Long) =
    (b.size.toLong,
      b.collect { case (n, _) if n != PipelineOps.NullSentinel => n }.sum)
  def bufferEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
  def outputEncoder = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
}

object PipelineOps {

  /** Salted split hash in [0, 1000): md5-based, engine-portable. Shared
    * with dd11, which must reproduce p2's split assignment exactly. */
  private[operators] def splitHash(salt: String): Column =
    Text.sharedHash(concat(lit(s"$salt:"), col("doc_id").cast(StringType))) % 1000

  private[operators] def sqlSplitHash(salt: String): String =
    s"${Text.sqlHash(s"concat('$salt:', CAST(doc_id AS VARCHAR))")} % 1000"

  /** p2: deterministic 80/10/10 train/val/test split of `documents`, with
    * per-split document counts, total characters, and language coverage.
    * The assignment is pure per-row compute inside the scan stage; the
    * aggregation key has exactly 3 values. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = splitHash("split")
    val split = when(h < 800, "train").when(h < 900, "val").otherwise(lit("test"))
    Catalog.tableSpread(spark, dir, "documents")
      .withColumn("split", split)
      .groupBy(col("split"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"),
        asLong(countDistinct(col("lang"))).as("n_langs"))
      .orderBy("split")
  }

  /** Group-level split hash: p2's salted md5 per-mille hash keyed on the
    * GROUP (source) instead of the document. */
  private[operators] def groupSplitHash: Column =
    Text.sharedHash(concat(lit("gsplit:"), col("source"))) % 1000

  private[operators] def sqlGroupSplitHash: String =
    s"${Text.sqlHash("concat('gsplit:', source)")} % 1000"

  /** p12: GROUP-aware train/val/test split — the leakage-free variant of
    * p2. Web-corpus near-duplicates concentrate WITHIN a source (mirrors,
    * re-crawls, templated pages), so assigning documents independently
    * (p2) puts a source's near-identical pages on both sides of the
    * train/test boundary; p12 hashes the SOURCE, so a group lands in
    * exactly one split by construction — the standard "split by domain"
    * discipline for pretraining corpora (the reason GroupShuffleSplit
    * exists). Output is the per-split manifest (groups, docs, chars) plus
    * `n_moved`: how many docs p2's doc-level assignment would have placed
    * in a DIFFERENT split than their group — the leakage surface this
    * operator closes, quantified (~20% of every group at p2's 80/10/10
    * rates, since doc- and group-hashes are independent).
    *
    * SCALE SHAPE: identical to p2 — the assignment is pure per-row
    * compute inside the scan stage (no join against a group table: the
    * group key is ON the row, so its hash is too), and the aggregation
    * key has exactly 3 values. countDistinct(source) under it is the
    * safe distinct shape (|sources| is catalog-sized, not corpus-sized —
    * the t8 rule). */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val gh = groupSplitHash
    val gsplit = when(gh < 800, "train").when(gh < 900, "val").otherwise(lit("test"))
    val dh = splitHash("split")
    val dsplit = when(dh < 800, "train").when(dh < 900, "val").otherwise(lit("test"))
    Catalog.tableSpread(spark, dir, "documents")
      .withColumn("split", gsplit)
      .withColumn("doc_split", dsplit)
      .groupBy(col("split"))
      .agg(asLong(countDistinct(col("source"))).as("n_groups"),
        asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"),
        asLong(sum(when(col("doc_split") =!= col("split"), 1L).otherwise(0L)))
          .as("n_moved"))
      .orderBy("split")
  }

  /** p13 per-source token budget: small enough to CUT every source at the
    * test SFs (~25 docs x ~55 tokens per source at sf0.01), so the
    * boundary is exercised everywhere; production sets it per mixture
    * row. */
  private[graft] val SourceTokenBudget = 600L

  /** p13: token-BUDGET mixture sampling — the complement of p3 (keep
    * fraction) and dd10 (keep count): each source contributes documents,
    * in salted-hash order, until its TOKEN budget is exhausted — how a
    * production mixture spec is actually written ("50B tokens of web, 5B
    * of code"). A document is kept iff its source-local exclusive prefix
    * total is under budget (first doc always kept — a budget never
    * silences a source; the last kept doc may overshoot, the p5 boundary
    * convention). Hash order makes the kept set a deterministic UNIFORM
    * sample of the source (no bias toward early-crawled doc_ids); the
    * trade vs p5/p7's doc_id order is that a grown corpus can insert new
    * candidates AHEAD of the boundary and rotate survivors out — budget
    * sampling re-runs per mixture build, it is not incrementally
    * maintained (use p7's append-stable packing when that is the need).
    *
    * SCALE SHAPE: tokenize is map-side; the running total is one window
    * keyed on source (shuffle by source, sort by (hash, doc_id) within) —
    * partition size is bounded by the largest SOURCE, not the corpus, and
    * the window's frame is the running-sum special case (streaming, no
    * buffering). A corpus dominated by ONE source would range-partition
    * that source through [[RangeRank.withRunningTotal]] instead (the p5
    * two-pass); the manifest is |sources| rows. */
  def budgetMix(spark: SparkSession, dir: String): DataFrame = {
    val h = splitHash("budget")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Catalog.tableSpread(spark, dir, "documents")
      .select(col("source"), col("doc_id"), h.as("h"),
        size(Text.tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("prev_toks", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("keep", col("prev_toks") < SourceTokenBudget)
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_total"),
        asLong(sum(when(col("keep"), 1L).otherwise(0L))).as("n_kept"),
        asLong(sum(when(col("keep"), col("n_tok")).otherwise(0L))).as("kept_tokens"))
      .orderBy("source")
  }

  // p3 sampling rates per mille: downsample the dominant language hard,
  // mid-sample zh, keep the low-resource tail whole — the standard recipe
  // for rebalancing a web corpus before training
  private val MixRates: Seq[(String, Int)] = Seq("en" -> 300, "zh" -> 800)
  private val MixDefault = 1000

  /** p3: weighted per-language corpus mixing — each document is kept iff
    * its salted hash falls under its language's per-mille rate. Reports
    * total vs kept docs and kept characters per language, so the output IS
    * the mixing manifest. Deterministic: re-running (or growing the corpus)
    * never flips a surviving document's membership. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val rate = MixRates.foldRight(lit(MixDefault)) { case ((l, r), rest) =>
      when(col("lang") === l, lit(r)).otherwise(rest)
    }
    val keep = splitHash("mix") < rate
    Catalog.tableSpread(spark, dir, "documents")
      .withColumn("keep", keep)
      .groupBy(col("lang"))
      .agg(asLong(count(lit(1))).as("n_total"),
        asLong(sum(when(col("keep"), 1L).otherwise(0L))).as("n_kept"),
        asLong(sum(when(col("keep"), col("n_chars")).otherwise(0L))).as("kept_chars"))
      .orderBy("lang")
  }

  // p6 upsampling rates per mille: boost the low-resource tail ABOVE unity
  // (fr 2.5 epochs, de 1.5), keep everything else at one epoch — the
  // complement of p3's downsampling, together the full mixing recipe
  private val UpRates: Seq[(String, Int)] = Seq("fr" -> 2500, "de" -> 1500)
  private val UpDefault = 1000

  /** p6: epoch UPSAMPLING — each document is emitted `rate/1000` full
    * copies plus one more iff its salted hash falls under the fractional
    * remainder (so fr at 2500 per mille yields 2 copies always, 3 copies
    * for a deterministic half of fr docs). The emission is materialized —
    * `explode(sequence(...))` generates the copy rows — and the output is
    * the per-language manifest over the EMITTED corpus (docs, rows,
    * characters), i.e. what the dataloader will actually see per epoch.
    *
    * Scale: the copy expansion happens INSIDE the scan stage (a generator,
    * no shuffle — copies of a row never leave their partition) and the
    * manifest is a partial-aggregated group on `lang`. Deterministic like
    * p2/p3: a document's copy count follows from its identity, so growing
    * the corpus or re-running never changes a surviving doc's weight. */
  def epochUpsample(spark: SparkSession, dir: String): DataFrame = {
    val rate = UpRates.foldRight(lit(UpDefault)) { case ((l, r), rest) =>
      when(col("lang") === l, lit(r)).otherwise(rest)
    }
    val copies = (rate.cast(LongType) / 1000L).cast(LongType) +
      when(splitHash("epoch") < rate % 1000, 1L).otherwise(0L)
    Catalog.tableSpread(spark, dir, "documents")
      .withColumn("n_copies", copies)
      .filter(col("n_copies") > 0)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .groupBy(col("lang"))
      // n_docs via the copy_idx=1 marker (every emitted doc has exactly
      // one), NOT countDistinct(doc_id) — the same distinct expansion t8
      // eliminated would otherwise funnel a language's doc set through one
      // reducer
      .agg(asLong(count(when(col("copy_idx") === 1L, lit(1)))).as("n_docs"),
        asLong(count(lit(1))).as("n_rows"),
        asLong(sum(col("n_chars"))).as("sum_chars"))
      .orderBy("lang")
  }

  private[operators] val CapPerSource = 10

  /** NULL-length stand-in fed to [[CapTopK]]: a tuple encoder NPEs on a
    * genuine NULL, so a nullable n_chars is coalesced to this sentinel
    * before the aggregation. MinValue+1, not MinValue: the kept-first
    * ordering negates n_chars, and -Long.MinValue overflows back to
    * MinValue, which would sort a null doc FIRST instead of last. */
  private[operators] val NullSentinel = Long.MinValue + 1

  /** dd10: per-source diversity cap — keep at most [[CapPerSource]] docs
    * per source, preferring the longest (n_chars DESC, doc_id tiebreak),
    * and report kept/dropped counts per source. The anti-over-representation
    * step of a corpus build (one crawl domain must not dominate training).
    *
    * Scale: ONE hash aggregation on `source` whose per-group state is
    * bounded at K pairs — the [[CapTopK]] typed Aggregator below. The
    * previous window-row_number form put a pathologically hot source's
    * entire partition on one task (a window partition cannot be split by
    * AQE); with the bounded aggregator the hot source's rows are top-K'd
    * map-side in every input partition first, so the shuffle carries at
    * most K pairs per (source, partition) and no reducer ever materializes
    * a full source group. PipelineOpsSpec proves the aggregator equal to
    * the window formulation on a deliberately skewed fixture, and asserts
    * the plan is Window-free with partial aggregation present. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(CapTopK)
    Catalog.tableSpread(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_total"),
        topk(coalesce(col("n_chars"), lit(NullSentinel)), col("doc_id")).as("kept"))
      .select(col("source"),
        asLong(col("kept._1")).as("n_kept"),
        asLong(col("n_total") - col("kept._1")).as("n_dropped"),
        asLong(col("kept._2")).as("kept_chars"))
      .orderBy("source")
  }

  private[graft] val ShardTokenBudget = 2000L

  /** p5: token-budget shard packing — lay the corpus out in deterministic
    * doc_id order and cut it into contiguous training shards of
    * ~[[ShardTokenBudget]] whitespace tokens: a document's shard is
    * `floor(tokens_before_it / budget)` (so a shard may overrun by at most
    * one document — the standard sequential-fill layout a dataloader
    * expects). Output is the shard manifest: doc/token counts and the
    * [first_doc, last_doc] id range per shard.
    *
    * SCALE SHAPE: the cumulative token count is an EXCLUSIVE global prefix
    * sum via the two-pass range-partitioned [[RangeRank.withRunningTotal]]
    * — no unpartitioned running-sum window (the same single-task funnel t9
    * deciles eliminated; the driver sees only P per-partition subtotals).
    * The shard id is then pure map-side arithmetic and the manifest is a
    * low-cardinality hash aggregate. The pinned pass-1 sort is released
    * here, after the manifest is materialized (the t9 lifecycle). */
  private def perDocTokens(spark: SparkSession, dir: String): DataFrame =
    Catalog.tableSpread(spark, dir, "documents")
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast(LongType).as("n_tok"))

  /** Shard manifest from a prefix-summed frame; materialized eagerly so the
    * pinned pass-1 sort is released here (the t9 lifecycle). */
  private def shardManifest(spark: SparkSession, ranked: RangeRank.Ranked): DataFrame = {
    val agg = ranked.df
      .select(col("doc_id"), col("n_tok"),
        // integer DIV, not double `/`+floor: prev_toks at corpus scale can
        // exceed 2^53, where double division loses exactness
        expr(s"prev_toks DIV $ShardTokenBudget").as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_tok"))).as("sum_tokens"),
        asLong(min(col("doc_id"))).as("first_doc"),
        asLong(max(col("doc_id"))).as("last_doc"))
      .orderBy("shard_id")
    // release in a finally: a failed collect must not leave the pinned
    // pass-1 sort in the block manager for the rest of the session
    val rows = try agg.collect() finally ranked.release()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  def tokenShards(spark: SparkSession, dir: String): DataFrame =
    shardManifest(spark, RangeRank.withRunningTotal(
      perDocTokens(spark, dir), "n_tok", "prev_toks", col("doc_id")))

  private[graft] val IncrementalCut = 400L

  /** p7: INCREMENTAL shard maintenance — dd9's pattern applied to p5. A new
    * ingest batch (doc_id >= [[IncrementalCut]], standing in for "docs that
    * arrived since the last pack") continues the running total from the
    * packed corpus' stored fill level instead of re-ranking history: the
    * two-pass prefix scan runs over the BATCH ONLY, seeded with the prior
    * token total via [[RangeRank.withRunningTotal]]'s base offset. Output is
    * the manifest of shards the batch lands in — bit-identical to the
    * corresponding rows of a full p5 re-pack (spec), because packing in
    * doc_id order is append-stable.
    *
    * The fill level is ONE stored long in production (the packed corpus'
    * manifest total); the demo recomputes it with a sum aggregate for
    * self-containedness — partial-aggregated map-side, no sort, no
    * per-row shuffle, so per-ingest cost stays O(batch) + one scan-side
    * reduction, never a re-sort of the corpus. */
  def tokenShardsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = perDocTokens(spark, dir)
    val fillLevel = perDoc.filter(col("doc_id") < IncrementalCut)
      .agg(coalesce(sum(col("n_tok")), lit(0L))).collect()(0).getLong(0)
    shardManifest(spark, RangeRank.withRunningTotal(
      perDoc.filter(col("doc_id") >= IncrementalCut),
      "n_tok", "prev_toks", fillLevel, col("doc_id")))
  }

  /** p8: CURRICULUM shard packing — the ordering RangeRank's scaladoc
    * promised. Same token-budget fill as p5, but the corpus is laid out in
    * (t2 quality DESC, doc_id) order instead of doc_id order, so shard 0
    * holds the highest-quality documents and quality decays monotonically
    * across shard ids — the dataloader reads shards in id order and gets
    * the easy-to-clean-first curriculum schedule for free. The ONLY change
    * from p5 is the sort-column argument to
    * [[RangeRank.withRunningTotal]] (reused unchanged — the operator was
    * built to take an arbitrary total order); the manifest adds the
    * per-shard quality envelope [min_q, max_q] in place of the doc-id
    * range, which is what curriculum consumers threshold on.
    *
    * SCALE SHAPE: identical to p5 — two-pass range-partitioned prefix sum
    * (driver sees P longs), map-side shard arithmetic (integer DIV),
    * low-cardinality manifest aggregate, collect-and-release lifecycle.
    * Quality doubles are rounded to 6 decimals only in the OUTPUT (the
    * sim-family rule); the sort key is the unrounded double, identically
    * computed in both engines (the t9 precedent). */
  def curriculumShards(spark: SparkSession, dir: String): DataFrame =
    curriculumManifest(spark, RangeRank.withRunningTotal(
      TextAnalysis.qualityShared(spark, dir)
        .select(col("doc_id"), col("quality"),
          col("n_tokens").cast(LongType).as("n_tok")),
      "n_tok", "prev_toks", col("quality").desc, col("doc_id")))

  /** Shard manifest with the per-shard quality envelope, materialized
    * eagerly so the pinned pass-1 sort is released here — shared by p8 and
    * p10 (one place to change the manifest shape, two oracles mirror it).
    * `release = false` leaves the pin alive for its landed owner (p10's
    * [[buildRankedMemo]]). */
  private def curriculumManifest(spark: SparkSession, ranked: RangeRank.Ranked,
      release: Boolean = true): DataFrame = {
    val agg = ranked.df
      .select(col("n_tok"), col("quality"),
        expr(s"prev_toks DIV $ShardTokenBudget").as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_tok"))).as("sum_tokens"),
        round(max(col("quality")), 6).as("max_q"),
        round(min(col("quality")), 6).as("min_q"))
      .orderBy("shard_id")
    val rows = try agg.collect() finally { if (release) ranked.release() }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  private[graft] val ShuffleEpoch = 7
  private[graft] val ShuffleBucket = 100L

  /** p9: deterministic EPOCH SHUFFLE — the dataloader's other ordering
    * need (p5/p8 pack; this one permutes): each epoch the corpus is read
    * in a fresh pseudo-random order, but the order must be reproducible
    * across reruns and auditable by an independent engine — so the
    * permutation key is the salted md5 hash (`epoch<N>:doc_id`, the
    * p2/p3/p6 identity-hash discipline), NOT `rand()`. Changing the epoch
    * number yields a fresh independent permutation (spec), which is
    * exactly "reshuffle each epoch" without any state.
    *
    * Global position comes from [[RangeRank.withGlobalRank]] over
    * (hash, doc_id) — the two-pass distributed sort, no single-task
    * window. The registered output is the BUCKET MANIFEST (position DIV
    * [[ShuffleBucket]]): per-bucket doc counts, position ranges and
    * language spread — what a dataloader shards on — so the driver
    * collects ~N/bucket rows while the per-doc permutation itself stays
    * distributed (in production it is written straight to the shard
    * store, never collected). */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffleAt(spark, dir, ShuffleEpoch)

  private[graft] def epochShuffleAt(spark: SparkSession, dir: String, epoch: Int): DataFrame = {
    val key = Text.sharedHash(concat(lit(s"epoch$epoch:"), col("doc_id").cast(StringType)))
    val ranked = RangeRank.withGlobalRank(
      Catalog.tableSpread(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), key.as("sk")),
      "position", col("sk"), col("doc_id"))
    // the manifest must PIN the permutation, not just the bucket sizes
    // (those are permutation-invariant): boundary docs via min_by/max_by
    // on the unique position, plus an exact membership digest (sum of the
    // per-doc hashes mod a prime — 100 x 1e6 stays far under 2^63)
    val agg = ranked.df
      .select(col("lang"), col("doc_id"), col("position"),
        expr(s"position DIV $ShuffleBucket").as("bucket"),
        (col("sk") % 1000003L).as("skm"))
      .groupBy(col("bucket"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(min(col("position"))).as("min_pos"),
        asLong(max(col("position"))).as("max_pos"),
        asLong(min_by(col("doc_id"), col("position"))).as("first_doc"),
        asLong(max_by(col("doc_id"), col("position"))).as("last_doc"),
        asLong(sum(col("skm"))).as("sk_digest"),
        asLong(countDistinct(col("lang"))).as("n_langs"))
      .orderBy("bucket")
    val rows = try agg.collect() finally ranked.release()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  private[graft] val BuildQualityFloor = 0.40

  /** p10: the FULL corpus-build pipeline in one query — the round-7 ops
    * composed the way a production training-data build actually runs them
    * (p1 is the dedup-centric composition; this is the curation-centric
    * one):
    *
    *   1. SPLIT: train docs only (p2's salted-hash boundary);
    *   2. QUALITY GATE: t2 score ≥ [[BuildQualityFloor]] (the exact
    *      comparison is engine-safe: both engines compute bit-identical
    *      quality doubles);
    *   3. DECONTAMINATE: anti-join against dd11's flagged manifest —
    *      REUSING the registered query as a subplan, benchmark leakage
    *      removed before training, not after;
    *   4. EXACT DEDUP: keep the min doc_id per text digest (dd1's rule);
    *   5. CURRICULUM PACK: p8's quality-descending token-budget shards
    *      over the survivors, via the same [[RangeRank.withRunningTotal]].
    *
    * Output is the final shard manifest with per-shard quality envelope —
    * the artifact a dataloader consumes. Every stage keeps its audited
    * scale shape (hash splits map-side, dd11's broadcastable test side,
    * digest groupBy on 16-byte keys, two-pass prefix scan); composing
    * them adds joins on doc_id only. */
  def corpusBuild(spark: SparkSession, dir: String): DataFrame =
    curriculumManifest(spark, buildRankedMemo(spark, dir), release = false)

  // p10/p11 share ONE build per (session, dir) — the dd6/dd8 landing
  // discipline (r18): production runs the curation pipeline ONCE and both
  // the manifest (p10) and the landed shard layout (p11) are views of
  // that single build, so each query times ITS OWN stage (the Scale
  // "op's-own-stage" rule) instead of the second-alphabetically query
  // re-billing the whole pipeline. A bypassing landed artifact
  // (graft.Landed), live while its pinned sort is.
  private def buildRankedMemo(spark: SparkSession, dir: String): RangeRank.Ranked =
    graft.Landed[RangeRank.Ranked]("pipeline.buildRanked", (spark, dir),
      _.sortedFrame.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      _.release(), fresh = graft.Landed.capturing)(buildRanked(spark, dir))

  /** p10's survivors with their running token total — the frame p10
    * aggregates into the manifest and p11 physically LANDS as
    * shard-partitioned files. */
  private def buildRanked(spark: SparkSession, dir: String): RangeRank.Ranked = {
    val q = TextAnalysis.qualityShared(spark, dir)
      .select(col("doc_id"), col("quality"),
        col("n_tokens").cast(LongType).as("n_tok"))
    val docs = Catalog.tableSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text"), (splitHash("split") < 800).as("is_train"))
    // BOTH attaches are corpus-proportional on each side — the quality
    // frame is per-doc and the contamination set grows with the corpus
    // (matches ∝ corpus, however small at test SFs) — so neither side may
    // broadcast-pin by stats: the r17 eager audit caught the quality
    // attach planning as a doc_id-keyed broadcast at ×16 (the projected
    // three-column build side reads small from file stats). Shuffle-hash
    // pins, the dd18/t20 adjudication class.
    val gated = q.hint("shuffle_hash").join(docs, Seq("doc_id"))
      .filter(col("is_train") && col("quality") >= BuildQualityFloor)
    val contaminated = Dedup.decontaminate(spark, dir).select(col("doc_id"))
    val clean = gated.join(contaminated.hint("shuffle_hash"),
      Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("quality"), col("n_tok"))
    // dd1's keep-min-per-digest rule as a digest-PARTITIONED window (groups
    // are tiny — copies of one text), NOT a groupBy + self-semi-join: the
    // self-join form re-executes the whole unpersisted `clean` lineage
    // (quality scores + contamination anti-join) a second time
    val dedupW = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val survivors = clean
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("quality"), col("n_tok"))
    RangeRank.withRunningTotal(survivors,
      "n_tok", "prev_toks", col("quality").desc, col("doc_id"))
  }

  // One unique shard-store base per JVM (the Extended.roundtripBase
  // pattern: collision-free across processes, cleaned up on exit)
  private lazy val shardStoreBase: String =
    Catalog.tempDirWithCleanup("graft-shards").toString
  /** p11's landed layout — exposed so the spec reads THIS run's files. */
  private[graft] def shardStoreDir: String = s"$shardStoreBase/corpus"

  /** p11: LAND the packed corpus — the durable-write lifecycle step every
    * packing query (p5-p10) stops short of, and the Spark-native analogue
    * of the reference's put path (blocks durably landed for a later
    * reader — `deploy/Daemon.scala:45-64` `putBlock` →
    * `BlockManager.putBytes`). p10's per-doc sharded survivors are
    * WRITTEN as `shard_id`-partitioned parquet (the x19 layout mechanics:
    * one directory per shard, the layout a dataloader opens shard by
    * shard), then the registered result is aggregated FROM THE READ-BACK
    * of that layout — so the green oracle row (p10's own manifest oracle,
    * shared) proves write → read → manifest round-trips losslessly, with
    * the landed files as the query's actual input.
    *
    * SCALE SHAPE: the write is one distributed job (each task writes its
    * rows into per-shard subdirectories — no driver funnel, no
    * repartition beyond the pack's own range partitioning); the read-back
    * is a partition-discovering scan whose `shard_id` comes from the
    * directory tree, prunable per shard (spec asserts PartitionFilters).
    * The read-back declares its schema EXPLICITLY (partition values are
    * cast to the declared BIGINT, matching p10's manifest schema): with
    * inference, a zero-survivor corpus — nothing clears the quality floor
    * after decontamination — writes only _SUCCESS and the read-back would
    * throw 'Unable to infer schema' instead of the empty manifest the
    * oracle legitimately produces (the s10/s26 empty-output guard). */
  def landShards(spark: SparkSession, dir: String): DataFrame = {
    // rides the landed build (see buildRankedMemo): the land step times
    // the WRITE + READ-BACK, not a second run of the whole curation
    // pipeline; the landing owns the pin, so no release here
    val ranked = buildRankedMemo(spark, dir)
    val out = shardStoreDir
    ranked.df
      .select(col("doc_id"), col("quality"), col("n_tok"),
        expr(s"prev_toks DIV $ShardTokenBudget").as("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(out)
    val landedSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("quality", DoubleType),
      StructField("n_tok", LongType), StructField("shard_id", LongType)))
    spark.read.schema(landedSchema).parquet(out)
      .groupBy(col("shard_id"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_tok"))).as("sum_tokens"),
        round(max(col("quality")), 6).as("max_q"),
        round(min(col("quality")), 6).as("min_q"))
      .select(asLong(col("shard_id")).as("shard_id"), col("n_docs"),
        col("sum_tokens"), col("max_q"), col("min_q"))
      .orderBy("shard_id")
  }

  // ---- p14: broadcast model-scoring batch inference ---------------------

  /** Per-language linear-classifier coefficients: (lang, bias, w_len,
    * w_stop, w_punct, w_avg) — the "model artifact" a trained quality
    * classifier exports. A deterministic literal table here; a production
    * pipeline loads the same shape from its model registry. */
  private val ModelCoefs: Seq[(String, Double, Double, Double, Double, Double)] =
    Seq(
      ("en", 0.10, 0.50, 0.80, -0.60, 0.05),
      ("de", 0.05, 0.45, 0.70, -0.50, 0.06),
      ("es", 0.08, 0.40, 0.75, -0.55, 0.04),
      ("fr", 0.06, 0.42, 0.72, -0.52, 0.05),
      ("zh", 0.02, 0.60, 0.20, -0.40, 0.08))
  /** Fallback for languages absent from the artifact (left join + coalesce
    * keeps inference total — a new lang in the corpus must not drop rows). */
  private val DefaultCoefs = ("", 0.05, 0.40, 0.50, -0.50, 0.05)
  private val KeepCutoff = 0.6

  /** p14: batch MODEL INFERENCE over documents — the pipeline stage that
    * SCORES the corpus with a trained model instead of curating it. The
    * model is a per-language linear quality classifier: its coefficient
    * table is broadcast (a model artifact is always broadcast-small) and
    * the scorer is one vectorized map-side expression over t2's features —
    * so at 100 TB inference costs exactly one corpus pass, no shuffle
    * except the presentation sort, and swapping models is swapping the
    * broadcast side. A real logistic head would wrap the score in a
    * sigmoid; the decision is monotone in the raw margin, so the engine
    * keeps the margin (no `exp` anywhere — libm rounding differs across
    * engines) and thresholds it for the keep flag.
    *
    * Determinism: features are t2's bit-identical doubles; the margin is a
    * fixed left-associated sum of products over literal coefficients, so
    * both engines evaluate the identical IEEE expression tree and the raw
    * double is carried with no rounding step. */
  def modelScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // feats is the shared CACHED quality frame — its lang attach is
    // SHUFFLE_HASH-pinned (the r15 flip class: post-cache stats read the
    // corpus-proportional frame small enough to broadcast at test SFs)
    val feats = TextAnalysis.qualityShared(spark, dir)
    val langs = Catalog.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val model = ModelCoefs
      .toDF("m_lang", "m_b", "m_wlen", "m_wstop", "m_wpunct", "m_wavg")
    val d = DefaultCoefs
    val j = feats.hint("shuffle_hash").join(langs, Seq("doc_id"))
      .join(broadcast(model), col("lang") === col("m_lang"), "left_outer")
    val score =
      coalesce(col("m_b"), lit(d._2)) +
        coalesce(col("m_wlen"), lit(d._3)) *
          least(col("n_tokens").cast(DoubleType) / lit(100.0), lit(1.0)) +
        coalesce(col("m_wstop"), lit(d._4)) * col("stop_ratio") +
        coalesce(col("m_wpunct"), lit(d._5)) * col("punct_ratio") +
        coalesce(col("m_wavg"), lit(d._6)) * (col("avg_token_len") / lit(10.0))
    j.select(col("doc_id"), col("lang"), score.as("score"),
        when(score >= KeepCutoff, lit(1L)).otherwise(lit(0L)).as("keep_flag"))
      .orderBy("doc_id")
  }

  // ---- p15: snapshot drift monitoring -----------------------------------

  /** p15: corpus DRIFT MONITORING — the pipeline-health stage: per source,
    * the L1 distance between the language distribution of the current
    * corpus and the previous snapshot (the deterministic doc_id % 3 <> 0
    * subset, the same "previous snapshot" convention as x37). The L1 is
    * computed in EXACT integers via cross-multiplication —
    * `Σ_lang |ca·nb − cb·na|` over BIGINTs — with ONE final correctly-
    * rounded division to the [0,2] ratio, so both engines agree bit-for-
    * bit (a Σ of per-lang double shares would be partial-agg
    * order-dependent). The integer form is exact while na·nb < 2^63
    * (≈ 3·10^9 docs per side per source); past that a deployment drops to
    * double shares, where cell CHOICE no longer needs bit-exactness.
    *
    * SCALE SHAPE: ONE corpus pass — both snapshots' counts come from a
    * single groupBy(source, lang) with a conditional count (no second
    * scan, no join); everything downstream operates on |sources|×|langs|
    * rows. */
  def snapshotDrift(spark: SparkSession, dir: String): DataFrame =
    snapshotDriftFrom(Catalog.table(spark, dir, "documents"))

  /** p15 core over an injectable (source, lang, doc_id) frame — split out
    * so the empty-previous-snapshot edge (n_prev = 0 → NULL drift, not
    * NaN) is spec-testable without a fixture corpus shaped for it. */
  private[graft] def snapshotDriftFrom(docs: DataFrame): DataFrame = {
    val cells = docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("ca"),
        count(when(col("doc_id") % 3 =!= 0, lit(1))).as("cb"))
    val w = Window.partitionBy(col("source"))
    cells
      .withColumn("na", sum(col("ca")).over(w))
      .withColumn("nb", sum(col("cb")).over(w))
      .groupBy(col("source"))
      .agg(asLong(max(col("na"))).as("n_cur"),
        asLong(max(col("nb"))).as("n_prev"),
        asLong(sum(abs(col("ca") * col("nb") - col("cb") * col("na"))))
          .as("drift_num"))
      // empty-previous-snapshot guard: a source whose every doc_id ≡ 0
      // (mod 3) has n_prev = 0 and drift_num = 0, and 0.0/0.0 is NaN in
      // Spark vs engine-dependent in DuckDB — the drift is UNDEFINED
      // against an empty snapshot, so say so with NULL (both engines)
      .withColumn("drift_l1",
        when(col("n_prev") === 0L, lit(null).cast(DoubleType))
          .otherwise(col("drift_num").cast(DoubleType) /
            (col("n_cur") * col("n_prev")).cast(DoubleType)))
      .orderBy("source")
  }

  // ---- p16: data card ----------------------------------------------------

  private val CardQualityFloor = 0.5

  /** p16: the DATA CARD — the per-source dataset-documentation summary a
    * corpus release ships: document and character volume, language
    * coverage, the share clearing the quality floor, and the exact-dup
    * ratio. Composes the registry's own formulations (t2's quality score,
    * dd1's md5 identity) into one reporting query.
    *
    * SCALE SHAPE: the dup counter is deliberately NOT a
    * `countDistinct(md5) GROUP BY source` — that shuffles every digest to
    * its source's reducer (the t8 hot-key antipattern); instead distinct
    * (source, digest) pairs spread over the full key space first and the
    * per-source count aggregates 5 rows. Language distinctness keys on a
    * bounded vocabulary, so plain countDistinct is safe there. Everything
    * else partial-aggregates map-side. */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog.table(spark, dir, "documents")
    // q is the shared CACHED quality frame — SHUFFLE_HASH-pinned attach
    // (the r15 flip class; build side = q, legal for LEFT OUTER)
    val q = TextAnalysis.qualityShared(spark, dir)
      .select(col("doc_id"), col("quality"))
    val uniq = docs.select(col("source"), md5(col("text")).as("fp")).distinct()
      .groupBy(col("source")).agg(asLong(count(lit(1))).as("n_unique"))
    docs.join(q.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("sum_chars"),
        asLong(countDistinct(col("lang"))).as("n_langs"),
        asLong(count(when(col("quality") >= CardQualityFloor, lit(1))))
          .as("n_quality"))
      .join(uniq, Seq("source"))
      .withColumn("dup_ratio",
        (col("n_docs") - col("n_unique")).cast(DoubleType) /
          col("n_docs").cast(DoubleType))
      .select(col("source"), col("n_docs"), col("sum_chars"), col("n_langs"),
        col("n_quality"), col("n_unique"), col("dup_ratio"))
      .orderBy("source")
  }

  // ---- p17: snapshot diff between two landed versions --------------------

  /** p17: dataset DIFF between two landed VERSIONS of one store — the
    * release-to-release changelog dataset versioning exists for (what
    * did the new crawl add, what did the policy delete remove, what got
    * re-extracted?), computed through x41's time-travel reads so both
    * inputs are REAL snapshots of one store, not two ad-hoc frames.
    * Version 1 lands the original corpus; version 2 lands the revised
    * one (a deterministic edit: the 'de' slice removed, every 7th doc's
    * text re-cased, every 13th doc cloned under a new id). The diff is
    * one full-outer join on doc_id comparing content digests: added /
    * removed / modified / unchanged per id.
    *
    * SCALE SHAPE: the canonical diff shape — digests computed map-side
    * at the scans, ONE full-outer equi-join on the id, no payload
    * comparison (md5 equality stands in for byte equality); both sides
    * are dictionary/stat-prunable store scans. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.Landed.store("diff:", dir)
    val docs = Catalog.table(spark, dir, "documents")
    def land(df: DataFrame): Unit =
      df.write.format("graft.sources.BlockStoreSource")
        .option("store", store).mode("overwrite").save()
    land(docs)
    // clone ids start past the corpus's id range (max+1), never at a fixed
    // offset: a fixed constant collides with real ids at a large-enough SF,
    // producing duplicate join keys and misclassified diff rows. One-row
    // scalar, mirrored by the oracle's (SELECT max(doc_id)+1 ...) subquery.
    val cloneOffset =
      docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val revised = docs.filter(col("lang") =!= "de")
      .withColumn("text",
        when(col("doc_id") % 7 === 0, upper(col("text"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(cloneOffset)))
    land(revised)
    val vNow = graft.sources.BlockStore.currentVersion(store)
    def snap(v: Int): DataFrame = spark.read
      .format("graft.sources.BlockStoreSource")
      .option("store", store).option("versionAsOf", v.toString).load()
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val prev = snap(vNow - 1).select(col("doc_id"), col("fp").as("pfp"))
    val cur = snap(vNow).select(col("doc_id"), col("fp").as("cfp"))
    cur.join(prev, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("pfp").isNull, lit("added"))
          .when(col("cfp").isNull, lit("removed"))
          .when(col("cfp") =!= col("pfp"), lit("modified"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy("doc_id")
  }

  // ---- p19: stratified EXACT sampler -------------------------------------

  /** p19: STRATIFIED EXACT SAMPLER — exactly ⌈n_s/5⌉ documents per
    * source, deterministically. p2's Bernoulli-by-hash split gives each
    * stratum only an EXPECTED rate (per-stratum counts fluctuate ±√n);
    * a budgeted training-mix contract ("exactly 20% of every source")
    * needs the count exact, which takes a per-stratum RANK: order each
    * stratum by the salted md5 hash (doc_id tiebreak — the engine's
    * total-order discipline) and keep ranks through the ceiling quota.
    * Output is the per-doc sample manifest (stratum position included,
    * so downstream can sub-quota without re-ranking).
    *
    * SCALE SHAPE: one window per stratum — the shuffle key is `source`,
    * per-task work is a sort of one stratum (bounded by the largest
    * source; a web-scale stratum would swap the full sort for a sampled
    * hash-cutoff + exact trim of the boundary run, same result). The
    * quota compare is integer cross-multiplication (5·pos ≤ n_s+4 ⟺
    * pos ≤ ⌈n_s/5⌉) — no float rates cross engines. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = Text.sharedHash(
      concat(lit("sample:"), col("doc_id").cast(StringType)))
    val w = Window.partitionBy(col("source")).orderBy(h.asc, col("doc_id").asc)
    Catalog.tableSpread(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("pos", asLong(row_number().over(w)))
      .withColumn("ns", asLong(count(lit(1))
        .over(Window.partitionBy(col("source")))))
      .filter(col("pos") * 5 <= col("ns") + 4)
      .select(col("doc_id"), col("source"), col("pos"))
      .orderBy("source", "pos")
  }

  // ---- p18: temperature-sampled mixture weights --------------------------

  /** p18: TEMPERATURE-sampled source weights — the multilingual/multi-
    * source rebalancing rule (sample source s with probability ∝ n_s^(1/T),
    * T = 2 here, the standard mBERT/XLM-R recipe): big sources are
    * down-weighted toward the tail so low-resource slices survive the mix.
    * Weights are reported RELATIVE TO THE LARGEST SOURCE — a deliberate
    * determinism call: normalizing by Σ n_t^(1/T) would put a float SUM
    * whose accumulation order differs between engines on the boundary;
    * dividing by the exact-BIGINT max keeps every output a single IEEE
    * op chain on exact integers (sqrt and divide are correctly rounded in
    * both engines). `boost` = temp_weight / share_of_max = √(n_max/n_s),
    * the factor temperature sampling hands each source vs proportional.
    *
    * SCALE SHAPE: one partial-aggregated count per source; the max is a
    * scalar subquery over the |sources|-row aggregate (the q28
    * discipline); everything else is per-row arithmetic on a bounded
    * table. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    Catalog.table(spark, dir, "documents")
      .createOrReplaceTempView("p18_docs")
    spark.sql(
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |           FROM p18_docs GROUP BY source),
        |m AS (SELECT max(n) AS nm FROM c)
        |SELECT source, n AS n_docs,
        |  CAST(n AS DOUBLE) / (SELECT nm FROM m) AS share_of_max,
        |  sqrt(CAST(n AS DOUBLE) / (SELECT nm FROM m)) AS temp_weight,
        |  sqrt(CAST((SELECT nm FROM m) AS DOUBLE) / n) AS boost
        |FROM c ORDER BY source""".stripMargin)
  }

  // NOTE on numbering: there is no p4 and never was — the id was skipped
  // when the family was first laid out (r16 audit of the registry against
  // SURVEY's lists; renumbering now would churn every oracle/spec/bench
  // artifact for zero information). The family is p1-p3, p5-p19.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p18_temperature_mix" -> temperatureMix,
    "p19_stratified_sample" -> stratifiedSample,
    "p17_snapshot_diff" -> snapshotDiff,
    "p2_hash_split" -> hashSplit,
    "p3_corpus_mix" -> corpusMix,
    "p5_token_shards" -> tokenShards,
    "p6_epoch_upsample" -> epochUpsample,
    "p7_incremental_shards" -> tokenShardsIncremental,
    "p8_curriculum_shards" -> curriculumShards,
    "p9_epoch_shuffle" -> epochShuffle,
    "p10_corpus_build" -> corpusBuild,
    "p11_landed_shards" -> landShards,
    "p12_group_split" -> groupSplit,
    "p13_budget_mix" -> budgetMix,
    "p14_model_score" -> modelScore,
    "p15_snapshot_drift" -> snapshotDrift,
    "p16_data_card" -> dataCard,
    "dd10_source_cap" -> sourceCap)

  // lazy: embeds Dedup's dd11 oracle while Dedup's own init calls back
  // into this object's split helpers — a strict val here would deadlock
  // the two objects' initializers into a null read (the Sim11 lesson)
  private lazy val P10Oracle: String =
    s"""WITH base AS (SELECT * FROM (${TextAnalysis.QualityOracle}) qb),
       |flt AS (SELECT b.doc_id, b.n_tokens, b.quality, d.text
       |        FROM base b JOIN documents d USING (doc_id)
       |        WHERE ${sqlSplitHash("split")} < 800
       |          AND b.quality >= $BuildQualityFloor),
       |cont AS (SELECT doc_id FROM (${Dedup.oracles("dd11_decontaminate")}) cc),
       |clean AS (SELECT * FROM flt
       |          WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |keep AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
       |surv AS (SELECT c.doc_id, c.n_tokens, c.quality
       |         FROM clean c JOIN keep k USING (doc_id)),
       |cum AS (SELECT doc_id, n_tokens, quality,
       |          COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_toks
       |        FROM surv)
       |SELECT CAST(prev_toks // $ShardTokenBudget AS BIGINT) AS shard_id,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |       round(max(quality), 6) AS max_q,
       |       round(min(quality), 6) AS min_q
       |FROM cum GROUP BY shard_id ORDER BY shard_id""".stripMargin

  // lazy: the p10 entry embeds Dedup's dd11 oracle while Dedup's own init
  // calls back into this object's split helpers — a strict val here would
  // deadlock the two objects' initializers into a null read
  // p14: the model VALUES are generated from ModelCoefs so the two engines
  // can never drift; the score expression mirrors the Spark chain token
  // for token (left-associated sum of products → identical IEEE tree)
  private lazy val P14Oracle: String = {
    val values = ModelCoefs.map { case (l, b, wl, ws, wp, wa) =>
      s"('$l', $b, $wl, $ws, $wp, $wa)"
    }.mkString(",\n  ")
    val d = DefaultCoefs
    s"""WITH base AS (SELECT * FROM (${TextAnalysis.QualityOracle}) qb),
       |model (m_lang, m_b, m_wlen, m_wstop, m_wpunct, m_wavg) AS (VALUES
       |  $values),
       |j AS (SELECT b.doc_id, doc.lang, b.n_tokens, b.stop_ratio,
       |        b.punct_ratio, b.avg_token_len,
       |        m.m_b, m.m_wlen, m.m_wstop, m.m_wpunct, m.m_wavg
       |      FROM base b JOIN documents doc USING (doc_id)
       |      LEFT JOIN model m ON doc.lang = m.m_lang),
       |s AS (SELECT doc_id, lang,
       |        COALESCE(m_b, ${d._2})
       |          + COALESCE(m_wlen, ${d._3})
       |            * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |          + COALESCE(m_wstop, ${d._4}) * stop_ratio
       |          + COALESCE(m_wpunct, ${d._5}) * punct_ratio
       |          + COALESCE(m_wavg, ${d._6}) * (avg_token_len / 10.0) AS score
       |      FROM j)
       |SELECT doc_id, lang, score,
       |       CAST(CASE WHEN score >= $KeepCutoff THEN 1 ELSE 0 END AS BIGINT)
       |         AS keep_flag
       |FROM s ORDER BY doc_id""".stripMargin
  }

  lazy val oracles: Map[String, String] = Map(
    "p19_stratified_sample" ->
      s"""WITH r AS (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY ${Text.sqlHash("concat('sample:', CAST(doc_id AS VARCHAR))")},
         |      doc_id) AS pos,
         |  count(*) OVER (PARTITION BY source) AS ns
         |FROM documents)
         |SELECT doc_id, source, CAST(pos AS BIGINT) AS pos
         |FROM r WHERE pos * 5 <= ns + 4
         |ORDER BY source, pos""".stripMargin,
    "p18_temperature_mix" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY source),
        |m AS (SELECT max(n) AS nm FROM c)
        |SELECT source, n AS n_docs,
        |  CAST(n AS DOUBLE) / (SELECT nm FROM m) AS share_of_max,
        |  sqrt(CAST(n AS DOUBLE) / (SELECT nm FROM m)) AS temp_weight,
        |  sqrt(CAST((SELECT nm FROM m) AS DOUBLE) / n) AS boost
        |FROM c ORDER BY source""".stripMargin,
    "p17_snapshot_diff" ->
      """WITH prev AS (SELECT doc_id, md5(text) AS pfp FROM documents),
        |cur AS (SELECT doc_id,
        |          CASE WHEN doc_id % 7 = 0 THEN md5(upper(text))
        |               ELSE md5(text) END AS cfp
        |        FROM documents WHERE lang <> 'de'
        |        UNION ALL
        |        SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |          md5(text) FROM documents
        |        WHERE doc_id % 13 = 0)
        |SELECT COALESCE(c.doc_id, p.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN c.cfp <> p.pfp THEN 'modified'
        |       ELSE 'unchanged' END AS status
        |FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
        |ORDER BY doc_id""".stripMargin,
    "p14_model_score" -> P14Oracle,
    "p16_data_card" ->
      s"""WITH q AS (SELECT doc_id, quality
         |           FROM (${TextAnalysis.QualityOracle}) qb),
         |d AS (SELECT doc.source, doc.lang, doc.n_chars, q.quality
         |      FROM documents doc LEFT JOIN q USING (doc_id)),
         |u AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique
         |      FROM (SELECT DISTINCT source, md5(text) FROM documents)
         |      GROUP BY source),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |        CAST(sum(CASE WHEN quality >= $CardQualityFloor
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
         |      FROM d GROUP BY source)
         |SELECT a.source, n_docs, sum_chars, n_langs, n_quality, n_unique,
         |  CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    AS dup_ratio
         |FROM a JOIN u USING (source) ORDER BY source""".stripMargin,
    "p15_snapshot_drift" ->
      """WITH cells AS (SELECT source, lang,
        |         CAST(count(*) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |       FROM documents GROUP BY source, lang),
        |t AS (SELECT *, sum(ca) OVER (PARTITION BY source) AS na,
        |        sum(cb) OVER (PARTITION BY source) AS nb
        |      FROM cells)
        |SELECT source,
        |  CAST(max(na) AS BIGINT) AS n_cur,
        |  CAST(max(nb) AS BIGINT) AS n_prev,
        |  CAST(sum(abs(ca * nb - cb * na)) AS BIGINT) AS drift_num,
        |  CASE WHEN max(nb) = 0 THEN NULL
        |       ELSE CAST(sum(abs(ca * nb - cb * na)) AS DOUBLE)
        |         / CAST(max(na) * max(nb) AS DOUBLE) END AS drift_l1
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "p12_group_split" ->
      s"""WITH s AS (SELECT source, n_chars,
         |             CASE WHEN $sqlGroupSplitHash < 800 THEN 'train'
         |                  WHEN $sqlGroupSplitHash < 900 THEN 'val'
         |                  ELSE 'test' END AS split,
         |             CASE WHEN ${sqlSplitHash("split")} < 800 THEN 'train'
         |                  WHEN ${sqlSplitHash("split")} < 900 THEN 'val'
         |                  ELSE 'test' END AS doc_split
         |           FROM documents)
         |SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_groups,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(sum(CASE WHEN doc_split <> split THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "p13_budget_mix" ->
      s"""WITH d AS (SELECT source, doc_id, ${sqlSplitHash("budget")} AS h,
         |             CAST(len(${Text.sqlTokens("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |c AS (SELECT source, n_tok,
         |        COALESCE(SUM(n_tok) OVER (PARTITION BY source
         |          ORDER BY h, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_toks
         |      FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN prev_toks < $SourceTokenBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN prev_toks < $SourceTokenBudget THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "p2_hash_split" ->
      s"""WITH s AS (SELECT CASE WHEN ${sqlSplitHash("split")} < 800 THEN 'train'
         |                       WHEN ${sqlSplitHash("split")} < 900 THEN 'val'
         |                       ELSE 'test' END AS split, n_chars, lang
         |           FROM documents)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "p3_corpus_mix" ->
      s"""WITH s AS (SELECT lang, n_chars,
         |             ${sqlSplitHash("mix")} <
         |               (CASE ${MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")}
         |                ELSE $MixDefault END) AS keep
         |           FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "p6_epoch_upsample" -> {
      val rateSql = s"(CASE ${UpRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")} ELSE $UpDefault END)"
      val copiesSql = s"$rateSql // 1000 + CASE WHEN ${sqlSplitHash("epoch")} < $rateSql % 1000 THEN 1 ELSE 0 END"
      s"""WITH e AS (SELECT lang, doc_id, n_chars,
         |             unnest(generate_series(1, CAST($copiesSql AS BIGINT))) AS copy_idx
         |           FROM documents
         |           WHERE $copiesSql > 0)
         |SELECT lang,
         |  CAST(sum(CASE WHEN copy_idx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM e GROUP BY lang ORDER BY lang""".stripMargin
    },
    // the incremental pack is append-stable, so the oracle is the FULL
    // prefix sum restricted to the new batch's rows
    "p7_incremental_shards" ->
      s"""WITH d AS (SELECT doc_id,
         |             CAST(len(${Text.sqlTokens("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |c AS (SELECT doc_id, n_tok,
         |        COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_toks
         |      FROM d)
         |SELECT CAST(prev_toks // $ShardTokenBudget AS BIGINT) AS shard_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc,
         |       CAST(max(doc_id) AS BIGINT) AS last_doc
         |FROM c WHERE doc_id >= $IncrementalCut
         |GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "p5_token_shards" ->
      s"""WITH d AS (SELECT doc_id,
         |             CAST(len(${Text.sqlTokens("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |c AS (SELECT doc_id, n_tok,
         |        COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_toks
         |      FROM d)
         |SELECT CAST(prev_toks // $ShardTokenBudget AS BIGINT) AS shard_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc,
         |       CAST(max(doc_id) AS BIGINT) AS last_doc
         |FROM c GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    // p10: the same five stages as CTEs, each reusing its parent query's
    // oracle formulation (quality base = t2's, contamination = dd11's
    // full oracle as a subquery, digest rule = dd1's, pack = p8's window).
    // p11 shares this oracle VERBATIM: its result is the same manifest
    // aggregated from the landed shard files instead of the lineage, so
    // "read-back == manifest" is exactly the oracle equality.
    "p10_corpus_build" -> P10Oracle,
    "p11_landed_shards" -> P10Oracle,
    "p9_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |             ${Text.sqlHash(s"concat('epoch$ShuffleEpoch:', CAST(doc_id AS VARCHAR))")} AS sk
         |           FROM documents),
         |r AS (SELECT doc_id, lang, sk,
         |        ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS position
         |      FROM h)
         |SELECT CAST(position // $ShuffleBucket AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(min(position) AS BIGINT) AS min_pos,
         |       CAST(max(position) AS BIGINT) AS max_pos,
         |       CAST(arg_min(doc_id, position) AS BIGINT) AS first_doc,
         |       CAST(arg_max(doc_id, position) AS BIGINT) AS last_doc,
         |       CAST(sum(sk % 1000003) AS BIGINT) AS sk_digest,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,
    // same window formulation as p5's oracle, over the curriculum order
    "p8_curriculum_shards" ->
      s"""WITH base AS (${TextAnalysis.QualityOracle}),
         |c AS (SELECT doc_id, n_tokens, quality,
         |        COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_toks
         |      FROM base)
         |SELECT CAST(prev_toks // $ShardTokenBudget AS BIGINT) AS shard_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |       round(max(quality), 6) AS max_q,
         |       round(min(quality), 6) AS min_q
         |FROM c GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "dd10_source_cap" ->
      s"""WITH r AS (SELECT source, n_chars,
         |             ROW_NUMBER() OVER (PARTITION BY source
         |                                ORDER BY n_chars DESC, doc_id) <= $CapPerSource AS keep
         |           FROM documents)
         |SELECT source, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |       CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM r GROUP BY source ORDER BY source""".stripMargin)
}
