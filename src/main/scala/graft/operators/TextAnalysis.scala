package graft.operators

import graft.Catalog
import graft.Sql.asLong
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline slice (token counting, quality scoring, language-ID,
  * fingerprinting). Not present in the reference (SURVEY.md §2D last row);
  * designed per BASELINE.json's LLM-pipeline extension.
  *
  * All of these are per-row array computations inside the scan stage — zero
  * shuffles except the final presentation sort. At 100 TB they are pure
  * map-side passes that scale linearly with executor count.
  */
/** Mergeable MISRA-GRIES summary with [[TextAnalysis.MgCounters]] counters
  * (Agarwal et al.'s mergeable-summaries form): reduce is the classic
  * "increment / insert / decrement-all" update; merge sums the two maps
  * and subtracts the (k+1)-largest count from every entry (equivalent to a
  * run of decrements), keeping ≤ k survivors. The guarantee carried to the
  * caller is ONE-SIDED — any token with true frequency > N/k survives in
  * the final map; sketch counts are approximate and merge-order dependent,
  * which is why [[TextAnalysis.heavyHitters]] recounts candidates exactly
  * before emitting anything. */
private[graft] object MgAggregator
    extends org.apache.spark.sql.expressions.Aggregator[
      String, Map[String, Long], Map[String, Long]] {
  private def K = TextAnalysis.MgCounters
  def zero: Map[String, Long] = Map.empty
  def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
    b.get(tok) match {
      case Some(c) => b.updated(tok, c + 1)
      case None if b.size < K => b.updated(tok, 1L)
      case None => // decrement all, drop zeros (the k-way cancel step)
        b.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
    }
  def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
    val sum = y.foldLeft(x) { case (m, (t, c)) =>
      m.updated(t, m.getOrElse(t, 0L) + c)
    }
    if (sum.size <= K) sum
    else {
      // subtract the (k+1)-largest count from everyone; ≤ k survive
      val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(K)
      sum.flatMap { case (t, c) => if (c > cut) Some(t -> (c - cut)) else None }
    }
  }
  def finish(b: Map[String, Long]): Map[String, Long] = b
  def bufferEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  def outputEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
}

object TextAnalysis {

  /** documents with a materialized `_toks` array (see Text.withTokens). */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Text.withTokens(Catalog.table(spark, dir, "documents"))

  /** BPE-ish word/number/punct token pattern. Whitespace is the PINNED
    * explicit class ([[Text.WsChars]]), never `\s`: Java's `\s` matches
    * `\x0B` where DuckDB/RE2's does not, so a vertical tab in a document
    * would count as a punct token in exactly one engine (same for
    * [[PunctPattern]] below). Shared with the t1 oracle by interpolation. */
  private val BpePattern = s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9${Text.WsChars}]"

  /** Non-(alnum|pinned-whitespace) class for punct counting — shared by
    * qualityScores0 (Spark) and the t2/t9 oracle (the same-constant
    * discipline that keeps cross-engine regexes from drifting apart). */
  private val PunctPattern = s"[^A-Za-z0-9${Text.WsChars}]"

  // Per-language marker words for the n-gram/stopword lang-id heuristic.
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "una", "es"),
    "fr" -> Seq("le", "les", "des", "est", "un"))

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      asLong(size(col("_toks"))).as("n_ws_tokens"),
      asLong(size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))).as("n_bpe_tokens"),
      asLong(length(col("text"))).as("n_chars_obs"))
      .orderBy("doc_id")

  /** Per-doc quality scores WITHOUT the presentation sort — the shared input
    * of t2 (which adds the sort) and t9 (which must not inherit a global
    * orderBy into its lineage). */
  private[operators] def qualityScores0(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("_toks")
    val nTok = size(toks).cast(DoubleType)
    val stopCnt = Text.countIn(toks, Markers.flatMap(_._2))
    val punctCnt = size(regexp_extract_all(col("text"), lit(PunctPattern), lit(0)))
    val sumTokLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val stopRatio = stopCnt.cast(DoubleType) / nTok
    val punctRatio = punctCnt.cast(DoubleType) / length(col("text")).cast(DoubleType)
    // empty/whitespace-only docs are excluded rather than producing a
    // divide-by-zero: Spark's Divide yields NULL there but DuckDB yields
    // NaN — the one arithmetic op whose null semantics differ cross-engine
    docs(spark, dir)
      .filter(size(toks) > 0)
      .select(
      col("doc_id"),
      asLong(size(toks)).as("n_tokens"),
      stopRatio.as("stop_ratio"),
      punctRatio.as("punct_ratio"),
      (sumTokLen.cast(DoubleType) / nTok).as("avg_token_len"),
      (least(nTok / lit(100.0), lit(1.0)) * 0.3 + stopRatio * 0.4 +
        (lit(1.0) - punctRatio) * 0.3).as("quality"))
  }

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScores0(spark, dir).orderBy("doc_id")

  // Shared per-(session, dir) QUALITY-FEATURE frame (r18) — the dd8
  // cluster-labels discipline applied to t2's per-doc features: production
  // computes quality scores ONCE and lands them beside the corpus; every
  // downstream stage (deciles, keep policy, savings, curriculum, build,
  // inference, data card) joins the landed artifact instead of re-running
  // the corpus tokenize+feature pass per query (7 consumers paid it per
  // bench session). BILLING (r19, the r18-verdict correction): once Bench
  // lands this frame untimed, NO timed query bills the feature build — t2
  // included. t2's code path is a fresh lineage, but Spark's CacheManager
  // substitutes the persisted fragment into any structurally-identical
  // plan at execution, so t2 executes as cache-read + sort whenever the
  // land (or an earlier consumer) has pinned the frame: its driver-run
  // shuffle read fell 6.50 → 0.16 MB with t2's code unchanged. That is
  // the intended serving posture (features land once per deployment; t2
  // is the "read the landed scores" query), and the untimed Bench land is
  // the documented biller — do NOT cite t2's bench seconds as the feature
  // pass's cost. Under Verify (no land) the first consumer builds and the
  // oracle still checks the full computation from parquet. A bypassing
  // landed artifact (graft.Landed). The frame is CACHED and
  // corpus-derived, so every equi-join against it is SHUFFLE_HASH-pinned
  // at the consumer (the r15 flip class; PlanAuditSpec.expectShj rows).
  private[graft] def qualityShared(spark: SparkSession, dir: String): DataFrame =
    graft.Landed.frame("text.quality", spark, dir, bypass = true)(
      qualityScores0(spark, dir))

  private[graft] val TfidfTopK = 5

  /** t11: per-document KEYWORDS by tf-idf — the relevance/routing statistic
    * (retrieval scoring, near-duplicate triage, topic tagging) over the
    * corpus vocabulary: each document's top-[[TfidfTopK]] terms by
    * `tf x (N / df)`.
    *
    * The idf is LINEAR (unlogged), a deliberate determinism call: no `ln`
    * appears anywhere in this engine because libm natural log is not
    * correctly-rounded and the JVM and DuckDB can disagree in the last ulp
    * — while `tf x N` is an exact integer below 2^53 and one IEEE division
    * by `df` is correctly rounded, so the score is BIT-IDENTICAL across
    * engines with no rounding step at all (the output carries the raw
    * double). Linear idf is monotone in rarity, so the per-doc RANKING —
    * the thing this operator exists for — matches the logged variant
    * wherever df differs; ties break on the term text.
    *
    * SCALE SHAPE: tf is a two-stage aggregation keyed on (doc_id, term) —
    * the t8 discipline, no corpus-sized distinct under a hot key; df
    * partial-aggregates tf's output on term; N is a 1-row broadcast
    * derived from tf's OWN lineage (distinct surviving docs), so the
    * (doc_id, term) Exchange appears identically under all three
    * consumers and ReuseExchange runs the tokenize + shuffle ONCE — the
    * round-7 form ran `base.count()` as a separate job and paid a full
    * second tokenize pass (a third of t11's time at sf0.1; at 100 TB
    * tokenization dominates and it doubled the query). The scoring join
    * is vocab-keyed and the final rank a doc_id-PARTITIONED window
    * (bounded per-group work). */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).filter(size(col("_toks")) > 0)
    val tf = base.select(col("doc_id"), explode(col("_toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(asLong(count(lit(1))).as("tf"))
    val df = tf.groupBy(col("tok")).agg(asLong(count(lit(1))).as("df"))
    // 1-row broadcast attach (a constant-key equi-join folds back to a
    // cross join anyway — ConstantFolding erases foldable keys): the
    // BroadcastNestedLoopJoin this plans has a ONE-ROW build side, i.e. a
    // map-side constant attach, and is whitelisted by name in the fleet
    // NLJ audit with this rationale.
    // N = docs with ≥1 token, computed WITHOUT the tokenizer (r18): a doc
    // has a token iff its text has any char outside the pinned 5-char
    // whitespace class, so `rlike [^ws]` on the raw scan is EXACTLY
    // `size(tokens(text)) > 0` (split drops only empty strings; NULL text
    // fails both predicates) at the cost of a regex scan instead of a
    // third explode→aggregate corpus pass — before this, the N branch was
    // tf's whole lineage re-run with the count pruned away, which defeats
    // AQE stage reuse above the shared tokenize Exchange (guide §2.4).
    val nf = broadcast(
      Catalog.table(spark, dir, "documents")
        .filter(col("text").rlike(s"[^${Text.WsChars}]"))
        .groupBy().agg(count(lit(1)).as("n_docs_total")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    // SHUFFLE_HASH pin on the df side (r18, the t20/dd18 adjudication
    // class): df is VOCABULARY-sized — Heaps-sublinear but ~1e8 rows at
    // 100 TB, never broadcastable — while post-agg file stats read both
    // sides small, so unpinned AQE at sf0.1 planned BroadcastHashJoin
    // BuildLeft over tf, a CORPUS-proportional broadcast (the r15
    // small-stats instability class). SHJ builds the vocab side per
    // partition: |vocab|/partitions entries per task, bounded when
    // partitions scale with data.
    tf.join(df.hint("shuffle_hash"), Seq("tok"))
      .crossJoin(nf)
      .withColumn("score",
        (col("tf") * col("n_docs_total")).cast(DoubleType) / col("df").cast(DoubleType))
      .withColumn("rank", asLong(row_number().over(w)))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** t9: quality DECILE binning — the curriculum/threshold-filtering step
    * (e.g. "train only on the top decile", "sample decile-weighted").
    * Bins follow ntile(10) over the total order (quality DESC, doc_id) —
    * the doc_id tiebreak makes the assignment deterministic even for tied
    * scores — and the result is bit-identical to the NTILE oracle.
    *
    * SCALE SHAPE: exact global rank via the reusable two-pass
    * range-partitioned [[RangeRank]] operator (NO unpartitioned window —
    * see its scaladoc for the pass structure), then the ntile bin (first
    * N mod 10 bins take one extra row) map-side from the rank + total, and
    * a 10-group hash aggregate. The 10-row aggregate is materialized
    * eagerly so the pinned pass-1 sort is released HERE, not left for a
    * harness-level clearCache. */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val ranked = RangeRank.withGlobalRank(
      qualityShared(spark, dir)
        .select(col("doc_id"), col("quality"), col("n_tokens")),
      "rank0", col("quality").desc, col("doc_id"))
    val n = ranked.total
    val q = n / 10 // base bin size; first r bins hold one extra row
    val r = n % 10
    // long arithmetic on driver constants; double division is exact-enough
    // here (rank0 < 2^53) and floor() restores the integer bin
    val decile = when(col("rank0") < r * (q + 1),
        floor(col("rank0") / (q + 1)) + 1)
      .otherwise(floor((col("rank0") - r * (q + 1)) / q) + r + 1)
    val agg = ranked.df
      .select(asLong(decile).as("decile"), col("n_tokens"), col("quality"))
      .groupBy(col("decile"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_tokens"))).as("sum_tokens"),
        round(min(col("quality")), 6).as("min_q"),
        round(max(col("quality")), 6).as("max_q"))
      .orderBy("decile")
    val rows = agg.collect() // exactly 10 rows
    ranked.release()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
  }

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("_toks")
    val scores: Seq[(String, Column)] =
      Markers.map { case (lang, ws) => lang -> Text.countIn(toks, ws).cast(LongType) }
    val scoreCols = scores.map { case (l, c) => c.as(s"s_$l") }
    // argmax with fixed precedence order (en > de > es > fr), 'und' if all 0
    val pred = scores.foldRight(lit("und")) { case ((lang, _), els) =>
      val s = col(s"s_$lang")
      val others = scores.filter(_._1 != lang).map(o => col(s"s_${o._1}"))
      when(others.foldLeft(s > 0)((acc, o) => acc && s >= o), lang).otherwise(els)
    }
    docs(spark, dir)
      .select((col("doc_id") +: col("lang") +: scoreCols): _*)
      .withColumn("pred_lang", pred)
      .orderBy("doc_id")
  }

  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("_toks")
    docs(spark, dir).select(
      col("doc_id"),
      md5(col("text")).as("fp_full"),
      Text.contentFingerprint(toks).as("fp_content"),
      substring(md5(col("text")), 1, 8).as("fp8"))
      .orderBy("doc_id")
  }

  /** Polynomial rolling hash (Karp-Rabin shape) over the token stream — the
    * order-SENSITIVE document fingerprint complementing t4's bag-of-words
    * digest: reordering words changes the rolling hash but not fp_content.
    * Computed as an ordered left fold `acc = (acc*31 + h(tok)) mod p` — one
    * map-side pass, no shuffle; the prefix hash (first 8 tokens) is the
    * locality-sensitive "document head" key used for fast prefix-grouping. */
  private val RollP = 1000000007L // 2^30-ish prime: acc*31 + h stays < 2^36
  def rollingHash(spark: SparkSession, dir: String): DataFrame = {
    def roll(toks: Column): Column =
      aggregate(toks, lit(0L), (acc, t) =>
        (acc * 31L + pmod(Text.sharedHash(t), lit(RollP))) % RollP)
    docs(spark, dir).select(
      col("doc_id"),
      roll(col("_toks")).as("roll_hash"),
      roll(slice(col("_toks"), 1, 8)).as("prefix8_hash"),
      asLong(size(col("_toks"))).as("n_tokens"))
      .orderBy("doc_id")
  }

  // Characteristic character-bigrams per language for the n-gram profile
  // scorer (t6) — chosen for high frequency in one language and rarity in
  // the others, over lowercased text.
  private val CharNgrams: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "ng"),
    "de" -> Seq("ch", "ei", "un"),
    "es" -> Seq("os", "la", "ue"),
    "fr" -> Seq("es", "le", "ou"))

  /** Language ID via CHARACTER n-gram frequency profiles — the n-gram
    * heuristic proper, complementing t3's stopword scorer: counts of
    * characteristic char-bigrams per language over the raw lowercased text
    * (substring occurrence counting, `(len - len(remove(s, g))) / len(g)`,
    * identical in both engines), argmax with fixed precedence. Pure
    * map-side scalar work, zero shuffles before the presentation sort. */
  def ngramLangId(spark: SparkSession, dir: String): DataFrame = {
    val low = lower(col("text"))
    def occurrences(g: String): Column =
      (length(low) - length(replace(low, lit(g), lit("")))) / g.length
    val scores = CharNgrams.map { case (lang, gs) =>
      lang -> gs.map(occurrences).reduce(_ + _).cast(LongType)
    }
    val scoreCols = scores.map { case (l, c) => c.as(s"g_$l") }
    val pred = scores.foldRight(lit("und")) { case ((lang, _), els) =>
      val s = col(s"g_$lang")
      val others = scores.filter(_._1 != lang).map(o => col(s"g_${o._1}"))
      when(others.foldLeft(s > 0)((acc, o) => acc && s >= o), lang).otherwise(els)
    }
    Catalog.tableSpread(spark, dir, "documents")
      .select((col("doc_id") +: col("lang") +: scoreCols): _*)
      .withColumn("pred_lang", pred)
      .orderBy("doc_id")
  }

  // Class-only regexes (no engine-specific syntax) so Java and RE2 agree.
  private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val LongNumPat = "[0-9]{6,}"

  /** PII scan + redaction digest — the scrubbing pass every training-data
    * pipeline runs: per-doc counts of email-like and long-number-like
    * spans, plus the md5 of the REDACTED text (spans replaced with
    * placeholder tags). Map-side scalar work only.
    *
    * The corpus itself contains no '@' and no digits, which would make the
    * whole scan unverifiable (zero matches everywhere): the scanned text is
    * therefore the document EXTENDED with deterministically synthesized PII
    * spans — an email and a long id derived from doc_id, plus a second
    * email on every third doc — built identically in the oracle, so the
    * match counts vary and the redaction rewrite is exercised for real. */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    val idStr = col("doc_id").cast(org.apache.spark.sql.types.StringType)
    // coalesce, not bare text: Spark's concat NULL-PROPAGATES while
    // DuckDB's skips NULL arguments — a NULL-text row would zero this
    // whole scan in one engine and still synthesize PII in the other
    val synth = concat(coalesce(col("text"), lit("")),
      lit(" contact user"), idStr, lit("@example.org id 77"), idStr, lit("9999"),
      when(col("doc_id") % 3 === 0, lit(" second@mail.io")).otherwise(lit("")))
    val low = lower(synth)
    val redacted = regexp_replace(
      regexp_replace(low, EmailPat, "<email>"), LongNumPat, "<num>")
    Catalog.tableSpread(spark, dir, "documents").select(
      col("doc_id"),
      asLong(size(regexp_extract_all(low, lit(EmailPat), lit(0)))).as("n_emails"),
      asLong(size(regexp_extract_all(low, lit(LongNumPat), lit(0)))).as("n_long_nums"),
      md5(redacted).as("redacted_fp"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary statistics: global top-25 tokens by occurrence
    * count, with document frequency — the Zipf sanity-check every corpus
    * build runs.
    *
    * Scale shape — TWO-STAGE aggregation, not `countDistinct`: a direct
    * `groupBy(tok).agg(countDistinct(doc_id))` expands to a distinct
    * aggregate keyed on (tok, doc_id) whose FINAL phase re-keys on tok
    * alone, so on a Zipf corpus every (doc_id) of a hot token ("the")
    * lands on one reducer — a corpus-bounded, skew-concentrated shuffle.
    * Instead:
    *
    *   stage 1: `groupBy(tok, doc_id).count()` — map-side partials collapse
    *            within-doc repeats in the scan stage; the shuffle key
    *            (tok, doc_id) is uniform, so no reducer is hot;
    *   stage 2: `groupBy(tok).agg(sum, count)` — map-side partials collapse
    *            stage 1's output to one row per (token, partition), so the
    *            second shuffle is bounded by |vocab| x partitions, NOT by
    *            corpus size.
    *
    * The top-k stays a TakeOrderedAndProject (per-partition heads, no
    * global sort materialization); the 25-row rank window is constant-size. */
  def topTokens(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), explode(col("_toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"))
    val counts = perDoc
      .groupBy(col("tok"))
      .agg(asLong(sum(col("n_in_doc"))).as("n_occurrences"),
        asLong(count(lit(1))).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("tok"))
      .limit(25)
    counts.withColumn("rank", asLong(row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("tok")))))
      .select(col("rank"), col("tok"), col("n_occurrences"), col("n_docs"))
      .orderBy("rank")
  }

  private[graft] val BigramMinSupport = 30

  /** t10: boilerplate / template-text scoring via corpus bigram support —
    * the share of a document's word bigrams that occur at least
    * [[BigramMinSupport]] times corpus-wide. Near-1 ratios mark highly
    * templated text (navigation chrome, license banners, form letters);
    * low ratios mark novel prose — the statistic quality-filter pipelines
    * threshold on alongside t2's surface features. Documents under 2
    * tokens have no bigrams and are excluded (both engines).
    *
    * SCALE SHAPE: bigrams are hashed to the shared 60-bit digest at the
    * explode (hash-once — the shuffle key is 8 bytes, the bigram STRING
    * never leaves the map side). The support model is a two-stage count
    * on that key; the support filter (>= 30) shrinks it to the frequent
    * tail (Zipf), so AQE can convert the occurrence⋈model equi-join to a
    * broadcast at runtime. Per-doc totals are a final count/sum pair on
    * doc_id. The hashed occurrence frame is persisted because it feeds
    * BOTH the model build and the join probe — without the pin,
    * InferFiltersFromConstraints re-inlines the tokenize chain below the
    * Exchange on each arm (the dd3/dd6 pattern); the harness clearCache
    * releases it (output here is corpus-sized, so there is no t9-style
    * collect point to release it earlier). */
  def bigramSupport(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("_toks")
    val bigrams = transform(sequence(lit(1), size(toks) - 1), i =>
      concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
    val occ = docs(spark, dir)
      .filter(size(toks) >= 2)
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"), Text.sharedHash(col("bg")).as("bgh"))
      .persist()
    val model = occ.groupBy(col("bgh"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= BigramMinSupport)
      .select(col("bgh"), lit(true).as("attested"))
    occ.join(model, Seq("bgh"), "left")
      .groupBy(col("doc_id"))
      .agg(asLong(count(lit(1))).as("n_bigrams"),
        asLong(sum(when(col("attested"), 1L).otherwise(0L))).as("n_attested"))
      .withColumn("attested_ratio",
        col("n_attested").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
      .orderBy("doc_id")
  }

  // ---- t12: context-window chunking -------------------------------------

  private[graft] val ChunkWindow = 32
  private[graft] val ChunkStride = 24

  /** t12: sliding-window CONTEXT CHUNKING — the op that turns documents
    * into fixed-size training/retrieval sequences ([[ChunkWindow]] tokens,
    * stride [[ChunkStride]], so consecutive chunks overlap by
    * window−stride). Standard boundary semantics: chunk i covers tokens
    * [i·stride, i·stride+window); the last chunk may be short; every chunk
    * is non-empty (i ranges to ⌊(n−1)/stride⌋). Emits per chunk its token
    * count and an md5 fingerprint of the joined tokens — the (chunk → doc)
    * manifest an embedding/RAG indexer consumes.
    *
    * SCALE SHAPE: pure map-side — tokenize, one `transform` over the
    * chunk-index sequence, one explode; rows leaving the scan stage are
    * (doc_id, chunk_id, count, 32-byte fp), never chunk text. State is
    * bounded per document; no shuffle except the presentation sort. */
  /** The t12 chunk transform over ANY frame carrying (doc_id, _toks) —
    * stateless, so the streaming drain (s22) applies it unchanged to the
    * block-store micro-batch stream. */
  private[graft] def chunkTokens(df: DataFrame): DataFrame = {
    val toks = col("_toks")
    val n = size(toks)
    val chunks = transform(
      sequence(lit(0), floor((n - 1).cast(DoubleType) / ChunkStride).cast(IntegerType)),
      i => struct(i.as("cid"),
        slice(toks, i * ChunkStride + 1, lit(ChunkWindow)).as("c")))
    df.filter(size(toks) > 0)
      .select(col("doc_id"), explode(chunks).as("ch"))
      .select(col("doc_id"),
        asLong(col("ch.cid")).as("chunk_id"),
        asLong(size(col("ch.c"))).as("n_chunk_toks"),
        md5(concat_ws(" ", col("ch.c"))).as("chunk_fp"))
  }

  def contextChunks(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(docs(spark, dir)).orderBy("doc_id", "chunk_id")

  // ---- t13: BPE merge-pair counting -------------------------------------

  private[graft] val BpeTopPairs = 25

  /** t13: the first BPE MERGE decision — tokenizer-training support. Count
    * every adjacent character pair inside every word, weighted by the
    * word's corpus frequency, and rank the top [[BpeTopPairs]]: the pair a
    * BPE trainer would merge first (repeating this against the merged
    * vocabulary yields the full merge list; one registered round keeps the
    * oracle tractable while exercising the whole shape).
    *
    * SCALE SHAPE: the t8 two-stage discipline — token counts first (keyed
    * on the word, vocab-sized, partial-aggregated), then pairs derive from
    * the DISTINCT vocabulary (pair extraction runs once per distinct word,
    * not once per occurrence), keyed on the ≤ |alphabet|² pair space. The
    * corpus-sized explode happens exactly once, for the tf count. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val tf = docs(spark, dir)
      .select(explode(col("_toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val pairs = tf
      .filter(length(col("tok")) >= 2)
      .select(col("tf"), explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
    val pairAgg = pairs
      .groupBy(col("pair")).agg(asLong(sum(col("tf"))).as("n_pairs"))
    // Exact global rank via the two-pass RangeRank — not an unpartitioned
    // row_number window. The pair table is bounded (≤ |charset|²) TODAY,
    // but true BPE over multi-char merged symbols grows the pair space
    // with the vocabulary, and this was the one registered plan carrying
    // a single-partition WindowExec. The top rows are collected eagerly
    // (bound = BpeTopPairs, declared in PlanAuditSpec) so the pinned
    // pass-1 sort is released here, the t9 lifecycle.
    val ranked = RangeRank.withGlobalRank(pairAgg, "rank0",
      col("n_pairs").desc, col("pair"))
    val top = ranked.df
      .filter(col("rank0") < BpeTopPairs)
      .select((col("rank0") + 1).as("rank"), col("pair"), col("n_pairs"))
      .orderBy("rank")
    val rows = top.collect()
    ranked.release()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
  }

  // ---- t19: iterative BPE trainer -----------------------------------------

  private[graft] val BpeTrainMerges = 6

  /** t19: the iterative BPE TRAINER — the full merge LIST a tokenizer ships,
    * where t13 registers only the first decision. Standard word-frequency
    * compression: the corpus is scanned ONCE into a (distinct word, tf)
    * table; every merge round after that touches only the vocab — count
    * adjacent symbol pairs weighted by tf, take the global argmax (ties to
    * the lexicographically smallest pair), apply the merge, repeat.
    * [[BpeTrainMerges]] rounds are registered so the DuckDB oracle (the
    * identical loop unrolled into chained CTEs) stays tractable while the
    * whole train shape — compress, count, choose, apply, iterate — is
    * exercised for real.
    *
    * MERGE APPLICATION is the greedy left-to-right non-overlapping rule
    * every BPE implementation uses, expressed as a plain string `replace`
    * over a double-space symbol encoding ("  h  e  l  l  o  "): the search
    * pattern " a  b " consumes one flanking space from each side and the
    * replacement " ab " restores it, so DISJOINT adjacent occurrences all
    * merge in one pass (the survivor space still leads the next match)
    * while OVERLAPPING ones resolve leftmost-first — `replace`'s
    * leftmost-non-overlapping forward scan IS the BPE application rule,
    * and Spark (UTF8String.replace) and DuckDB share those semantics
    * (spec'd against a driver-side reference trainer over adversarial
    * repeat words in TextMultimodalSpec). Tokens are whitespace-split
    * ([[graft.functions.Text.tokens]]) so the space separator can never
    * collide with a symbol byte.
    *
    * SCALE SHAPE: the corpus-sized explode happens exactly once (the tf
    * count — one shuffle keyed on the word, partial-aggregated map-side);
    * each merge round is VOCAB-sized: one pair-count shuffle keyed on the
    * pair plus a top-1 TakeOrderedAndProject collect (bound = 1 row/round,
    * declared in PlanAuditSpec), and the merge application is a map-side
    * `replace` layered lazily over the one persisted vocab scan. At 100 TB
    * the vocab table is ~1e8 rows against a ~1e11-document corpus, so K
    * rounds cost K vocab-sized jobs and never re-read the corpus; a
    * production trainer batching thousands of merges would additionally
    * hold the pair heap driver-side between rounds — the distributed step
    * it repeats is exactly the round registered here. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir)
      .toDF("rank", "lhs", "rhs", "merged", "n_pairs")
  }

  /** The tf-compressed, double-space-encoded vocabulary — LAZY (never
    * persisted here): the train loop persists its own copy for the K
    * rounds, and t20 rebuilds the trained vocab from this frame plus the
    * memoized merge list with zero construction jobs. */
  private def encodedVocab(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(col("_toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .filter(length(col("tok")) >= 2)
      .select(col("tok"), concat(lit("  "),
        array_join(transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))), "  "), lit("  ")).as("s"),
        col("tf"))

  private def applyMerge(s: Column, a: String, b: String): Column =
    replace(s, lit(s" $a  $b "), lit(s" $a$b "))

  /** The train loop behind t19 (the merge list) and t20 (fertility of the
    * trained tokenizer), landed per dir (graft.Landed) so both queries
    * share one training run. The loop's rounds run against a persisted
    * vocab scan that is unpersisted (non-blocking) before returning; the
    * landed RESULT is a driver-side Seq that holds no Spark state. */
  private def trainedMerges(spark: SparkSession, dir: String)
      : Seq[(Long, String, String, String, Long)] =
    graft.Landed[Seq[(Long, String, String, String, Long)]]("text.bpeMerges",
      dir, _ => true, _ => ()) {
      val base = encodedVocab(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val merges = Seq.newBuilder[(Long, String, String, String, Long)]
      var vocab: DataFrame = base
      try {
        var r = 1
        var exhausted = false
        while (r <= BpeTrainMerges && !exhausted) {
          val top = vocab
            .select(col("tf"), split(trim(col("s")), "  ").as("y"))
            .filter(size(col("y")) >= 2) // sequence(1, n<1) would count DOWN
            .select(col("tf"), explode(transform(
              sequence(lit(1), size(col("y")) - 1),
              i => concat(element_at(col("y"), i), lit(" "),
                element_at(col("y"), i + 1)))).as("pair"))
            .groupBy(col("pair")).agg(asLong(sum(col("tf"))).as("n_pairs"))
            .orderBy(col("n_pairs").desc, col("pair"))
            .limit(1).collect()
          if (top.isEmpty) exhausted = true
          else {
            val pair = top(0).getString(0)
            val Array(a, b) = pair.split(" ", 2)
            merges += ((r.toLong, a, b, a + b, top(0).getLong(1)))
            // one more lazy map-side replace over the single persisted scan
            vocab = vocab.withColumn("s", applyMerge(col("s"), a, b))
            r += 1
          }
        }
      } finally base.unpersist(blocking = false)
      merges.result()
    }

  // ---- t21: BATCHED BPE training ----------------------------------------

  /** Registered batched schedule: [[BpeBatchRounds]] distributed rounds ×
    * [[BpeBatchSize]] merges per round = 64 merges in 8 corpus-free jobs
    * (r17 verdict ask 2 — t19 demonstrates the round; this demonstrates
    * the amortization that makes ~30k production merges feasible). */
  private[graft] val BpeBatchRounds = 8
  private[graft] val BpeBatchSize = 8

  /** The batched train loop at an arbitrary (rounds, batch) schedule —
    * exposed un-memoized for the spec's schedule-parameterized pins
    * (B = 1 must reproduce t19's sequential trainer exactly).
    *
    * BATCH SEMANTICS (the production trade, stated honestly): each round
    * counts pairs ONCE over the current vocab, takes the top B by
    * (count DESC, pair) — one vocab-sized shuffle + one TakeOrdered
    * collect of B rows — and applies all B merges map-side IN RANK ORDER.
    * Merges 2..B of a batch are therefore chosen under the PRE-round
    * counts: where sequential BPE would recount after each merge (and
    * might promote a pair created by merge 1), the batch spends one
    * distributed job per B merges. That ordering deviation is the whole
    * price of the B× job amortization; the application itself stays exact
    * (each replace is the canonical greedy rule, and a batch member whose
    * occurrences an earlier batch member consumed simply no-ops). At
    * 100 TB: ~30k merges = ~470 vocab-sized jobs at B = 64 instead of
    * 30k, with the corpus still scanned exactly once (t19's contract). */
  private[graft] def trainedBatchedMergesFor(spark: SparkSession,
      dir: String, rounds: Int, batch: Int)
      : Seq[(Long, Long, String, String, String, Long)] = {
    val base = encodedVocab(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[(Long, Long, String, String, String, Long)]
    var vocab: DataFrame = base
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val top = vocab
          .select(col("tf"), split(trim(col("s")), "  ").as("y"))
          .filter(size(col("y")) >= 2) // sequence(1, n<1) would count DOWN
          .select(col("tf"), explode(transform(
            sequence(lit(1), size(col("y")) - 1),
            i => concat(element_at(col("y"), i), lit(" "),
              element_at(col("y"), i + 1)))).as("pair"))
          .groupBy(col("pair")).agg(asLong(sum(col("tf"))).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("pair"))
          .limit(batch).collect()
        if (top.isEmpty) exhausted = true
        else {
          top.zipWithIndex.foreach { case (row, k) =>
            val pair = row.getString(0)
            val Array(a, b) = pair.split(" ", 2)
            merges += ((((r - 1).toLong * batch) + k + 1, r.toLong,
              a, b, a + b, row.getLong(1)))
            // batch member k+1 layers its map-side replace over member k's
            vocab = vocab.withColumn("s", applyMerge(col("s"), a, b))
          }
          r += 1
        }
      }
    } finally base.unpersist(blocking = false)
    merges.result()
  }

  /** The registered-schedule run, landed per dir like t19's. */
  private def trainedBatchedMerges(spark: SparkSession, dir: String)
      : Seq[(Long, Long, String, String, String, Long)] =
    graft.Landed[Seq[(Long, Long, String, String, String, Long)]](
      "text.bpeBatchMerges", dir, _ => true, _ => ())(
      trainedBatchedMergesFor(spark, dir, BpeBatchRounds, BpeBatchSize))

  /** t21: the batched trainer's merge list — rank (global merge index),
    * round (which distributed job chose it), the pair, and the PRE-round
    * count it was selected under. */
  def bpeTrainBatched(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedBatchedMerges(spark, dir)
      .toDF("rank", "round", "lhs", "rhs", "merged", "n_pairs")
  }

  /** t20: FERTILITY of the trained tokenizer — evaluate t19's merge list on
    * the corpus it was trained on, per source: words, characters, post-merge
    * symbols, fertility (symbols per word — the number a tokenizer team
    * tracks across corpora before shipping a vocab) and compression
    * (characters per symbol). This is the evaluation step that makes a
    * trained merge list a decision: a source whose fertility stays near its
    * word length is one the vocabulary doesn't cover.
    *
    * SCALE SHAPE: the corpus collapses to a (source, tok) count in its one
    * explode (vocab-sized per source, partial-aggregated); the symbol
    * counts come from the trained vocab frame (also tok-keyed, vocab-sized),
    * so the only join runs vocab-sized × vocab-sized on `tok`. The vocab
    * attach is PINNED shuffle-hash: a tok-keyed distinct is VOCABULARY-
    * sized, which grows with the corpus (~1e8 rows at 100 TB — unlike a
    * fixed dim), and the ×32 construction audit caught exactly this build
    * planning as a broadcast from file-size stats (the dd18 adjudication
    * class: corpus-derived build sides get SHJ pins, never broadcast).
    * Length-1 words train no merges and are filtered from the vocab, so the
    * join is LEFT and their symbol count coalesces to 1 (a single-char word
    * is always exactly one symbol). Fertility/compression are ratios of
    * exact BIGINTs — both engines IEEE-divide the same integers, so plain
    * DOUBLE division is deterministic (the t16 ttr rule). */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val trained = trainedMerges(spark, dir).foldLeft(encodedVocab(spark, dir)) {
      case (v, (_, a, b, _, _)) => v.withColumn("s", applyMerge(col("s"), a, b))
    }
    val syms = trained
      .select(col("tok"),
        asLong(size(split(trim(col("s")), "  "))).as("n_syms"))
    val occ = docs(spark, dir)
      .select(col("source"), explode(col("_toks")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    occ.join(syms.hint("shuffle_hash"), Seq("tok"), "left")
      .select(col("source"), col("c"),
        coalesce(col("n_syms"), lit(1L)).as("n_syms"),
        length(col("tok")).cast(org.apache.spark.sql.types.LongType)
          .as("len"))
      .groupBy(col("source")).agg(
        asLong(sum(col("c"))).as("n_words"),
        asLong(sum(col("c") * col("len"))).as("n_chars"),
        asLong(sum(col("c") * col("n_syms"))).as("n_symbols"),
        (sum(col("c") * col("n_syms")).cast(DoubleType) /
          sum(col("c")).cast(DoubleType)).as("fertility"),
        (sum(col("c") * col("len")).cast(DoubleType) /
          sum(col("c") * col("n_syms")).cast(DoubleType)).as("compression"))
      .orderBy("source")
  }

  // ---- t16: corpus diversity per source ----------------------------------

  /** t16: CORPUS DIVERSITY per source — the type-token ratio and word
    * trigram diversity (distinct/total), the standard duplication /
    * templated-content signals a data-curation pass reads before
    * weighting a source: near-zero trigram diversity marks a crawl
    * dominated by boilerplate, and TTR collapses on machine-generated
    * spam. Complements p15's cross-snapshot drift (this is WITHIN-source
    * repetitiveness at one snapshot).
    *
    * SCALE SHAPE: grams are hashed to the shared 60-bit digest at the
    * explode (hash-once, 8-byte shuffle keys — the t10 discipline), and
    * each distinct count is the TWO-STAGE shape: one groupBy on the
    * fine-grained (source, hash) key with map-side partials, then a
    * |sources|-key aggregate over the pre-aggregated table whose partials
    * are |sources| rows per partition — never a corpus-sized countDistinct
    * under the low-cardinality source key (the t8 lesson). */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("_toks")
    def twoStage(occ: DataFrame, total: String, dist: String): DataFrame =
      occ.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(asLong(sum(col("c"))).as(total),
          asLong(count(lit(1))).as(dist))
    val base = docs(spark, dir)
    val tokStats = twoStage(
      base.select(col("source"), explode(toks).as("tok"))
        .select(col("source"), Text.sharedHash(col("tok")).as("h")),
      "n_tokens", "distinct_tokens")
    val trigrams = transform(sequence(lit(1), size(toks) - 2), i =>
      concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
        element_at(toks, i + 2)))
    val triStats = twoStage(
      base.filter(size(toks) >= 3) // sequence(1, n<1) would count DOWN
        .select(col("source"), explode(trigrams).as("g"))
        .select(col("source"), Text.sharedHash(col("g")).as("h")),
      "n_trigrams", "distinct_trigrams")
    tokStats.join(triStats, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("distinct_tokens"),
        (col("distinct_tokens").cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("ttr"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("distinct_trigrams"), lit(0L)).as("distinct_trigrams"),
        (col("distinct_trigrams").cast(DoubleType) /
          col("n_trigrams").cast(DoubleType)).as("trigram_diversity"))
      .orderBy("source")
  }

  // ---- t17: per-document repetition signals ------------------------------

  private[graft] val RepTopTokFrac = 0.12
  private[graft] val RepAdjFrac = 0.10

  /** t17: per-document REPETITION signals — the Gopher-style repetitive-
    * content filters (Rae et al. 2021 §A1.1 "repetition" rules, adapted to
    * token streams): the most-frequent-token share, the adjacent-duplicate
    * share, and the most-frequent-bigram share, plus the composite
    * `repetitive` flag a curation pass drops documents on. Complements t16
    * (WITHIN-source diversity at corpus grain) with the per-document grain
    * an actual filter runs at.
    *
    * SCALE SHAPE (r19): everything is computed INSIDE the scan by one
    * codegen kernel per document ([[graft.expr.RepStatsKernel]] — max
    * token/bigram hash multiplicity via sort+run-scan, adjacent repeats
    * by direct string compare), so the query is a pure map + the final
    * ORDER BY's single exchange. The previous shape ran two
    * explode→hash→two-level-agg legs re-joined on doc_id (~5 exchanges,
    * 2 joins); its md5 work per token was identical, so removing the
    * fan-out and shuffles is pure win — the r18 exchange-SHARING rewrite
    * measured 2× slower precisely because it kept the explodes (reverted,
    * r18 log); this removes them. Embarrassingly parallel at 100 TB.
    * Exactness vs the hash-keyed oracle is the kernel's contract
    * (60-bit md5-prefix multiplicities; ExprEquivalenceSpec pins
    * bit-equality against the interpreted chain on the real corpus). */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExpressions.register(spark)
    val toks = col("_toks")
    val base0 = docs(spark, dir).filter(size(toks) >= 2)
    val nm1 = (col("n_tokens") - 1L).cast(DoubleType)
    base0
      .select(col("doc_id"), asLong(size(toks)).as("n_tokens"),
        call_function("rep_stats", toks).as("st"))
      .select(col("doc_id"), col("n_tokens"),
        (col("st.top_tok").cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("top_tok_frac"),
        (col("st.adj").cast(DoubleType) / nm1).as("adj_repeat_frac"),
        (col("st.top_bg").cast(DoubleType) / nm1).as("top_bigram_frac"))
      .withColumn("repetitive",
        col("top_tok_frac") > RepTopTokFrac ||
          col("adj_repeat_frac") > RepAdjFrac)
      .orderBy("doc_id")
  }

  // ---- t18: template-prefix boilerplate groups ---------------------------

  /** t18: TEMPLATE-PREFIX detection — documents opening with the same
    * 5-token prefix form a template group (shared headers / generated-page
    * scaffolding): the AFFIX-based boilerplate signal, complementary to
    * t10's attested-bigram scoring (content-interior) and dd15's edit
    * distance (whole-document). Groups of ≥ 2 with more than one distinct
    * body are the interesting ones — same opening, different payload, the
    * signature of templated generation (21 such groups at sf0.001).
    *
    * SCALE SHAPE: prefix digest computed map-side; the groupBy keys on
    * the 32-char digest (high cardinality — no hot key, so the per-group
    * countDistincts are safe); only digests shuffle, never text. */
  def templatePrefixes(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("_toks")
    docs(spark, dir).filter(size(toks) >= 5)
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(toks, 1, 5))).as("prefix_fp"),
        md5(col("text")).as("body_fp"))
      .groupBy(col("prefix_fp"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(countDistinct(col("body_fp"))).as("n_bodies"),
        asLong(countDistinct(col("source"))).as("n_sources"),
        asLong(min(col("doc_id"))).as("min_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("prefix_fp")
  }

  // ---- t15: language-ID confusion matrix --------------------------------

  /** t15: classifier EVALUATION — the confusion matrix of t6's n-gram
    * language-ID against the labeled lang, with each cell's share of its
    * true-label row (per-language recall on the diagonal). The evaluation
    * stage every pipeline classifier needs before its predictions gate
    * data; t6 ships the predictions, this ships the evidence. One
    * low-cardinality groupBy over t6's map-side scoring; the row-share
    * window runs over the ≤ |langs|² cell table. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = ngramLangId(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(asLong(count(lit(1))).as("n_docs"))
    val w = Window.partitionBy(col("lang"))
    cells
      .withColumn("n_lang", sum(col("n_docs")).over(w))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        (col("n_docs").cast(DoubleType) / col("n_lang").cast(DoubleType))
          .as("share"))
      .orderBy("lang", "pred_lang")
  }

  // ---- t14: two-pass exact heavy hitters (Misra-Gries + recount) --------

  private[graft] val MgCounters = 64

  /** t14: HEAVY HITTERS at scale — the 2-pass exact shape. Pass 1 runs a
    * mergeable MISRA-GRIES sketch ([[MgAggregator]], [[MgCounters]]
    * counters per partial) whose guarantee is one-sided: every token with
    * frequency > N/k survives to the candidate set (≤ k tokens on the
    * driver), though its sketch count is approximate and merge-order
    * dependent. Pass 2 recounts ONLY the candidates exactly (broadcast
    * isin + groupBy) and keeps those strictly above N/k. The final output
    * is therefore EXACT and deterministic — the sketch's order-dependence
    * is confined to which extra candidates get recounted and discarded —
    * which is what makes a DuckDB oracle possible for an approximate
    * algorithm (t8's exact top-k needs a full vocab shuffle; this needs
    * one bounded sketch pass + one bounded recount, the way heavy hitters
    * are actually found at 100 TB).
    *
    * SCALE SHAPE: pass 1 is a single typed aggregation to ONE k-entry map
    * (partials merge pairwise, k entries each — driver sees ≤ k tokens)
    * that also carries the exact total N in the same corpus pass (a plain
    * count aggregate planned alongside the sketch — a separate count()
    * would cost a third corpus-wide explode+scan); pass 2 filters the
    * corpus map-side on a ≤ k-element broadcast set and aggregates a
    * ≤ k-key groupBy. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = docs(spark, dir).select(explode(col("_toks")).as("tok"))
    val (mg, total) = toks.as[String]
      .select(MgAggregator.toColumn.name("mg"),
        count(lit(1)).as("total").as[Long]).head()
    val candidates = mg.keys.toSeq
    val survivors = toks.filter(col("tok").isin(candidates: _*))
      .groupBy(col("tok")).agg(asLong(count(lit(1))).as("n_occurrences"))
      // keep: count > N/k, in exact integers (count·k > N avoids division)
      .filter(col("n_occurrences") * MgCounters > total)
      .orderBy(col("n_occurrences").desc, col("tok"))
      .collect() // ≤ k rows by construction (groupBy key ⊆ candidates)
    // rank assigned driver-side over the bounded survivor set — not an
    // unpartitioned row_number window (the single-task funnel shape this
    // repo bans even when the input happens to be bounded)
    val schema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("tok", StringType, nullable = true),
      StructField("n_occurrences", LongType, nullable = true)))
    val ranked = survivors.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(i + 1L, r.getString(0), r.getLong(1))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(ranked.toIndexedSeq: _*), schema)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t12_context_chunks" -> contextChunks,
    "t13_bpe_pairs" -> bpePairs,
    "t19_bpe_train" -> bpeTrain,
    "t20_bpe_fertility" -> bpeFertility,
    "t21_bpe_batch_train" -> bpeTrainBatched,
    "t14_heavy_hitters" -> heavyHitters,
    "t15_lang_confusion" -> langConfusion,
    "t10_bigram_support" -> bigramSupport,
    "t11_tfidf_keywords" -> tfidfKeywords,
    "t16_ngram_diversity" -> ngramDiversity,
    "t17_repetition" -> repetitionSignals,
    "t18_template_prefixes" -> templatePrefixes,
    "t9_quality_deciles" -> qualityDeciles,
    "t8_top_tokens" -> topTokens,
    "t7_pii_scan" -> piiScan,
    "t6_ngram_langid" -> ngramLangId,
    "t1_token_count" -> tokenCount,
    "t2_quality_score" -> qualityScore,
    "t3_langid" -> langId,
    "t4_fingerprint" -> fingerprint,
    "t5_rolling_hash" -> rollingHash)

  private val Toks = Text.sqlTokens("text")
  private val AllMarkers = Markers.flatMap(_._2)

  private[operators] val QualityOracle: String = {
      val stop = Text.sqlCountIn("toks", AllMarkers)
      s"""WITH d AS (SELECT doc_id, text, $Toks AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST($stop AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
         |  CAST(len(regexp_extract_all(text, '$PunctPattern')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  CAST(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS avg_token_len,
         |  least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
         |    + (CAST($stop AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
         |    + (1.0 - CAST(len(regexp_extract_all(text, '$PunctPattern')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE)) * 0.3 AS quality
         |FROM d WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin
    }

  /** t19's oracle: the trainer loop unrolled into [[BpeTrainMerges]] chained
    * CTE stages, each mirroring one Spark round exactly — decode the
    * double-space encoding (`str_split(trim(s), '  ')`), count weighted
    * adjacent pairs, pick the argmax with the identical (n_pairs DESC, pair)
    * tie-break, and apply the merge through the same one-flanking-space
    * `replace` pattern, whose leftmost-non-overlapping scan DuckDB shares
    * with Spark. Lazy: references [[Toks]], declared later in object init
    * (the sim11/sim20 init-order trap). */
  private lazy val T19Stages: String = {
    val stages = (1 to BpeTrainMerges).map { r =>
      s"""y$r AS (SELECT str_split(trim(s), '  ') AS y, tf FROM v${r - 1}),
         |p$r AS (SELECT unnest(list_transform(generate_series(1, len(y) - 1),
         |          i -> y[i] || ' ' || y[i + 1])) AS pair, tf
         |        FROM y$r WHERE len(y) >= 2),
         |c$r AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS n_pairs
         |        FROM p$r GROUP BY pair),
         |m$r AS (SELECT split_part(pair, ' ', 1) AS lhs,
         |               split_part(pair, ' ', 2) AS rhs,
         |               replace(pair, ' ', '') AS merged, n_pairs
         |        FROM c$r ORDER BY n_pairs DESC, pair LIMIT 1),
         |v$r AS (SELECT v.tok,
         |               replace(v.s, ' ' || m.lhs || '  ' || m.rhs || ' ',
         |                       ' ' || m.merged || ' ') AS s, v.tf
         |        FROM v${r - 1} v, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT unnest($Toks) AS tok FROM documents),
       |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM e
       |       WHERE length(tok) >= 2 GROUP BY tok),
       |v0 AS (SELECT tok, '  ' || array_to_string(list_transform(
       |         generate_series(1, length(tok)), i -> substr(tok, i, 1)),
       |         '  ') || '  ' AS s, tf FROM tf),
       |$stages""".stripMargin
  }

  private lazy val T19Oracle: String = {
    val union = (1 to BpeTrainMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, lhs, rhs, merged, n_pairs FROM m$r")
      .mkString("\nUNION ALL ")
    s"""WITH $T19Stages
       |$union
       |ORDER BY rank""".stripMargin
  }

  /** t21's oracle: the batched loop unrolled — per round, the pair count
    * CTE is t19's, the argmax LIMIT 1 becomes a row_number'd LIMIT B with
    * the identical (n_pairs DESC, pair) order, the B winners pivot into
    * one row (max-CASE — an aggregate over the ≤ B-row batch), and the
    * application is B NESTED replaces in rank order (innermost = rank 1,
    * exactly the Spark side's withColumn layering). A short batch pivots
    * NULL columns; their patterns coalesce to chr(1) — a control byte the
    * double-space encoding can never contain — so the replace no-ops
    * instead of nulling the vocab. */
  private lazy val T21Stages: String = {
    val b = BpeBatchSize
    val stages = (1 to BpeBatchRounds).map { r =>
      val pivots = (1 to b).map(k =>
        s"max(CASE WHEN bseq = $k THEN lhs END) AS l$k,\n" +
          s"               max(CASE WHEN bseq = $k THEN rhs END) AS r$k,\n" +
          s"               max(CASE WHEN bseq = $k THEN merged END) AS g$k")
        .mkString(",\n               ")
      val applied = (1 to b).foldLeft("v.s") { (acc, k) =>
        s"replace($acc,\n                 " +
          s"coalesce(' ' || m.l$k || '  ' || m.r$k || ' ', chr(1)),\n                 " +
          s"coalesce(' ' || m.g$k || ' ', chr(1)))"
      }
      s"""by$r AS (SELECT str_split(trim(s), '  ') AS y, tf FROM bv${r - 1}),
         |bp$r AS (SELECT unnest(list_transform(generate_series(1, len(y) - 1),
         |          i -> y[i] || ' ' || y[i + 1])) AS pair, tf
         |        FROM by$r WHERE len(y) >= 2),
         |bc$r AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS n_pairs
         |        FROM bp$r GROUP BY pair),
         |bm$r AS (SELECT split_part(pair, ' ', 1) AS lhs,
         |               split_part(pair, ' ', 2) AS rhs,
         |               replace(pair, ' ', '') AS merged, n_pairs,
         |               row_number() OVER (ORDER BY n_pairs DESC, pair) AS bseq
         |        FROM bc$r ORDER BY n_pairs DESC, pair LIMIT $b),
         |bw$r AS (SELECT $pivots
         |        FROM bm$r),
         |bv$r AS (SELECT v.tok,
         |               $applied AS s, v.tf
         |        FROM bv${r - 1} v, bw$r m)""".stripMargin
    }.mkString(",\n")
    s"""be AS (SELECT unnest($Toks) AS tok FROM documents),
       |btf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM be
       |       WHERE length(tok) >= 2 GROUP BY tok),
       |bv0 AS (SELECT tok, '  ' || array_to_string(list_transform(
       |         generate_series(1, length(tok)), i -> substr(tok, i, 1)),
       |         '  ') || '  ' AS s, tf FROM btf),
       |$stages""".stripMargin
  }

  private lazy val T21Oracle: String = {
    val union = (1 to BpeBatchRounds).map(r =>
      s"SELECT CAST(${(r - 1) * BpeBatchSize} AS BIGINT) + bseq AS rank, " +
        s"CAST($r AS BIGINT) AS round, lhs, rhs, merged, n_pairs FROM bm$r")
      .mkString("\nUNION ALL ")
    s"""WITH $T21Stages
       |$union
       |ORDER BY rank""".stripMargin
  }

  /** t20's oracle: the shared train chain's final vocab (v$K) supplies the
    * per-word symbol count; the corpus supplies a (source, tok) count; the
    * fertility/compression ratios divide the identical exact BIGINTs both
    * engines computed (plain DOUBLE division — the t16 ttr rule). */
  private lazy val T20Oracle: String =
    s"""WITH $T19Stages,
       |occ AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       |        FROM (SELECT source, unnest($Toks) AS tok FROM documents)
       |        GROUP BY source, tok),
       |sy AS (SELECT tok,
       |         CAST(len(str_split(trim(s), '  ')) AS BIGINT) AS n_syms
       |       FROM v$BpeTrainMerges),
       |j AS (SELECT source, c, coalesce(sy.n_syms, 1) AS n_syms,
       |        CAST(length(occ.tok) AS BIGINT) AS len
       |      FROM occ LEFT JOIN sy ON occ.tok = sy.tok)
       |SELECT source,
       |  CAST(sum(c) AS BIGINT) AS n_words,
       |  CAST(sum(c * len) AS BIGINT) AS n_chars,
       |  CAST(sum(c * n_syms) AS BIGINT) AS n_symbols,
       |  CAST(CAST(sum(c * n_syms) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS fertility,
       |  CAST(CAST(sum(c * len) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(c * n_syms) AS BIGINT) AS DOUBLE) AS compression
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // t6's oracle, factored so t15's confusion matrix embeds the identical
  // scoring text (lazy: references CharNgrams during object init)
  private lazy val T6Oracle: String = {
    val scoreExprs = CharNgrams.map { case (l, gs) =>
      val sum = gs.map(g =>
        s"(length(lower(text)) - length(replace(lower(text), '$g', ''))) / ${g.length}")
        .mkString(" + ")
      s"CAST($sum AS BIGINT) AS g_$l"
    }.mkString(",\n  ")
    val pred = CharNgrams.foldRight("'und'") { case ((lang, _), els) =>
      val others = CharNgrams.filter(_._1 != lang).map(o => s"g_$lang >= g_${o._1}")
      s"CASE WHEN g_$lang > 0 AND ${others.mkString(" AND ")} THEN '$lang' ELSE $els END"
    }
    s"""WITH s AS (SELECT doc_id, lang,
       |  $scoreExprs
       |FROM documents)
       |SELECT doc_id, lang, g_en, g_de, g_es, g_fr, $pred AS pred_lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // t12: DuckDB list slicing is 1-based with INCLUSIVE end and clamps at
    // the list length — l[s : s+W-1] ≡ Spark's slice(l, s, W)
    "t12_context_chunks" ->
      s"""WITH d AS (SELECT doc_id, $Toks AS toks FROM documents),
         |c AS (SELECT doc_id,
         |        unnest(list_transform(
         |          generate_series(0, (len(toks) - 1) // $ChunkStride),
         |          i -> {'cid': i,
         |                'c': toks[i * $ChunkStride + 1 :
         |                          i * $ChunkStride + $ChunkWindow]})) AS ch
         |      FROM d WHERE len(toks) > 0)
         |SELECT doc_id,
         |  CAST(ch.cid AS BIGINT) AS chunk_id,
         |  CAST(len(ch.c) AS BIGINT) AS n_chunk_toks,
         |  md5(array_to_string(ch.c, ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // t14: the sketch is an internal superset generator; the OUTPUT is
    // exactly "tokens with frequency strictly above N/k" — plain SQL truth
    "t14_heavy_hitters" ->
      s"""WITH e AS (SELECT unnest($Toks) AS tok FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM e),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_occurrences
         |      FROM e GROUP BY tok),
         |k AS (SELECT tok, n_occurrences FROM c
         |      WHERE n_occurrences * $MgCounters > (SELECT total FROM n))
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, tok) AS BIGINT)
         |         AS rank,
         |       tok, n_occurrences
         |FROM k ORDER BY rank""".stripMargin,
    "t13_bpe_pairs" ->
      s"""WITH e AS (SELECT unnest($Toks) AS tok FROM documents),
         |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM e GROUP BY tok),
         |p AS (SELECT tf, unnest(list_transform(
         |         generate_series(1, length(tok) - 1),
         |         i -> substr(tok, i, 2))) AS pair
         |      FROM tf WHERE length(tok) >= 2),
         |s AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS n_pairs
         |      FROM p GROUP BY pair),
         |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_pairs DESC, pair) AS rank
         |      FROM s)
         |SELECT CAST(rank AS BIGINT) AS rank, pair, n_pairs
         |FROM r WHERE rank <= $BpeTopPairs ORDER BY rank""".stripMargin,
    "t19_bpe_train" -> T19Oracle,
    "t20_bpe_fertility" -> T20Oracle,
    "t21_bpe_batch_train" -> T21Oracle,
    "t10_bigram_support" ->
      s"""WITH d AS (SELECT doc_id, $Toks AS toks FROM documents),
         |b0 AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(toks)-1),
         |           i -> concat_ws(' ', toks[i], toks[i+1]))) AS bg
         |       FROM d WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, ${Text.sqlHash("bg")} AS bgh FROM b0),
         |m AS (SELECT bgh FROM b GROUP BY bgh HAVING count(*) >= $BigramMinSupport)
         |SELECT b.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN m.bgh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attested,
         |  CAST(sum(CASE WHEN m.bgh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS attested_ratio
         |FROM b LEFT JOIN m ON b.bgh = m.bgh
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,
    "t18_template_prefixes" ->
      s"""WITH d AS (SELECT doc_id, source, text, $Toks AS toks FROM documents),
         |p AS (SELECT doc_id, source,
         |        md5(array_to_string(toks[1:5], ' ')) AS prefix_fp,
         |        md5(text) AS body_fp
         |      FROM d WHERE len(toks) >= 5)
         |SELECT prefix_fp,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT body_fp) AS BIGINT) AS n_bodies,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(min(doc_id) AS BIGINT) AS min_doc
         |FROM p GROUP BY prefix_fp HAVING count(*) >= 2
         |ORDER BY prefix_fp""".stripMargin,
    "t17_repetition" ->
      s"""WITH d AS (SELECT doc_id, $Toks AS toks FROM documents),
         |dd AS (SELECT * FROM d WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
         |        CAST(len(list_filter(generate_series(1, len(toks) - 1),
         |          i -> toks[i] = toks[i + 1])) AS BIGINT) AS adj
         |      FROM dd),
         |tk AS (SELECT doc_id, ${Text.sqlHash("tok")} AS h
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM dd)),
         |tc AS (SELECT doc_id, h, count(*) AS c FROM tk GROUP BY 1, 2),
         |tt AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok FROM tc GROUP BY 1),
         |bg AS (SELECT doc_id, ${Text.sqlHash("bgs")} AS h
         |       FROM (SELECT doc_id,
         |               unnest(list_transform(generate_series(1, len(toks) - 1),
         |                 i -> concat_ws(' ', toks[i], toks[i + 1]))) AS bgs
         |             FROM dd)),
         |bc AS (SELECT doc_id, h, count(*) AS c FROM bg GROUP BY 1, 2),
         |bt AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg FROM bc GROUP BY 1)
         |SELECT b.doc_id, b.n AS n_tokens,
         |  CAST(tt.top_tok AS DOUBLE) / b.n AS top_tok_frac,
         |  CAST(b.adj AS DOUBLE) / (b.n - 1) AS adj_repeat_frac,
         |  CAST(bt.top_bg AS DOUBLE) / (b.n - 1) AS top_bigram_frac,
         |  (CAST(tt.top_tok AS DOUBLE) / b.n > $RepTopTokFrac
         |    OR CAST(b.adj AS DOUBLE) / (b.n - 1) > $RepAdjFrac) AS repetitive
         |FROM b JOIN tt USING (doc_id) JOIN bt USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "t16_ngram_diversity" ->
      s"""WITH d AS (SELECT source, $Toks AS toks FROM documents),
         |tk0 AS (SELECT source, unnest(toks) AS tok FROM d),
         |tk AS (SELECT source, ${Text.sqlHash("tok")} AS h FROM tk0),
         |ts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(count(DISTINCT h) AS BIGINT) AS distinct_tokens
         |       FROM tk GROUP BY source),
         |g0 AS (SELECT source,
         |         unnest(list_transform(generate_series(1, len(toks)-2),
         |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS g
         |       FROM d WHERE len(toks) >= 3),
         |g AS (SELECT source, ${Text.sqlHash("g")} AS h FROM g0),
         |gs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_trigrams,
         |         CAST(count(DISTINCT h) AS BIGINT) AS distinct_trigrams
         |       FROM g GROUP BY source)
         |SELECT ts.source AS source, n_tokens, distinct_tokens,
         |  CAST(distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
         |  COALESCE(n_trigrams, CAST(0 AS BIGINT)) AS n_trigrams,
         |  COALESCE(distinct_trigrams, CAST(0 AS BIGINT)) AS distinct_trigrams,
         |  CAST(distinct_trigrams AS DOUBLE) / CAST(n_trigrams AS DOUBLE) AS trigram_diversity
         |FROM ts LEFT JOIN gs ON ts.source = gs.source
         |ORDER BY source""".stripMargin,
    "t8_top_tokens" ->
      s"""WITH e AS (SELECT doc_id, unnest($Toks) AS tok FROM documents),
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |      FROM e GROUP BY tok
         |      ORDER BY n_occurrences DESC, tok LIMIT 25)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, tok) AS BIGINT) AS rank,
         |  tok, n_occurrences, n_docs
         |FROM c ORDER BY rank""".stripMargin,
    "t7_pii_scan" -> {
      val synth = """concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                    |    '@example.org id 77', CAST(doc_id AS VARCHAR), '9999',
                    |    CASE WHEN doc_id % 3 = 0 THEN ' second@mail.io' ELSE '' END)"""
        .stripMargin
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower($synth), '$EmailPat')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(lower($synth), '$LongNumPat')) AS BIGINT) AS n_long_nums,
         |  md5(regexp_replace(regexp_replace(lower($synth), '$EmailPat', '<email>', 'g'),
         |      '$LongNumPat', '<num>', 'g')) AS redacted_fp
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "t6_ngram_langid" -> T6Oracle,
    // t15: t6's scoring reused verbatim as a CTE; the matrix itself is a
    // tiny two-level aggregate over its output
    "t15_lang_confusion" ->
      s"""WITH p AS (SELECT lang, pred_lang FROM ($T6Oracle) t6),
         |cell AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |         FROM p GROUP BY lang, pred_lang),
         |t AS (SELECT *, sum(n_docs) OVER (PARTITION BY lang) AS n_lang
         |      FROM cell)
         |SELECT lang, pred_lang, n_docs,
         |  CAST(n_docs AS DOUBLE) / CAST(n_lang AS DOUBLE) AS share
         |FROM t ORDER BY lang, pred_lang""".stripMargin,
    "t1_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($Toks) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_obs
         |FROM documents ORDER BY doc_id""".stripMargin,
    // t11: N computed over docs with tokens; score carried as the RAW
    // double (exact integer numerator, one correctly-rounded division —
    // no round() step to tie-break differently across engines)
    "t11_tfidf_keywords" ->
      s"""WITH d AS (SELECT doc_id, unnest($Toks) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM d GROUP BY doc_id, tok),
         |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
         |       WHERE len($Toks) > 0),
         |s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         |        CAST(tf.tf * (SELECT n FROM nn) AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
         |      FROM tf JOIN df ON tf.tok = df.tok),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |                                   ORDER BY score DESC, tok) AS rank
         |      FROM s)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok, tf, df, score
         |FROM r WHERE rank <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin,
    "t2_quality_score" -> QualityOracle,
    "t9_quality_deciles" ->
      s"""WITH base AS ($QualityOracle),
         |d AS (SELECT *, NTILE(10) OVER (ORDER BY quality DESC, doc_id) AS decile
         |      FROM base)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |       round(min(quality), 6) AS min_q,
         |       round(max(quality), 6) AS max_q
         |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "t3_langid" -> {
      val scoreExprs = Markers.map { case (l, ws) =>
        s"CAST(${Text.sqlCountIn("toks", ws)} AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      val pred = Markers.foldRight("'und'") { case ((lang, _), els) =>
        val others = Markers.filter(_._1 != lang).map(o => s"s_$lang >= s_${o._1}")
        s"CASE WHEN s_$lang > 0 AND ${others.mkString(" AND ")} THEN '$lang' ELSE $els END"
      }
      s"""WITH d AS (SELECT doc_id, lang, $Toks AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  $scoreExprs
         |FROM d)
         |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, $pred AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "t4_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(text) AS fp_full,
         |  ${Text.sqlContentFingerprint(Toks)} AS fp_content,
         |  substr(md5(text), 1, 8) AS fp8
         |FROM documents ORDER BY doc_id""".stripMargin,
    // list_reduce has no init value: prepend 0 so the first step computes
    // (0*31 + h1) — and an empty token list still folds to 0, matching
    // Spark's aggregate(empty, 0L, _)
    "t5_rolling_hash" -> {
      def roll(toksExpr: String) =
        s"""list_reduce(list_concat([CAST(0 AS BIGINT)],
           |  list_transform($toksExpr, t -> ${Text.sqlHash("t")} % 1000000007)),
           |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin
      s"""WITH d AS (SELECT doc_id, $Toks AS toks FROM documents)
         |SELECT doc_id,
         |  ${roll("toks")} AS roll_hash,
         |  ${roll("toks[1:8]")} AS prefix8_hash,
         |  CAST(len(toks) AS BIGINT) AS n_tokens
         |FROM d ORDER BY doc_id""".stripMargin
    })
}
